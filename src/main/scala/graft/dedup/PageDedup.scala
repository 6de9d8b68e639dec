package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Web-page deduplication ahead of extraction — the standard first stage
  * of a Common-Crawl-scale pipeline (a large fraction of crawled pages
  * are exact or near duplicates; extracting from them double-counts
  * evidence and wastes the whole downstream pipeline).
  *
  * - exact: md5 fingerprint of whitespace-normalized lowercased text,
  *   keep the lexicographically smallest url per fingerprint.
  * - minhash: 6-component MinHash over 3-gram word shingles, 2 LSH
  *   bands; a page is dropped when any of its band buckets contains a
  *   smaller url ("keep first in bucket" — deterministic, no transitive
  *   clustering pass). Pages too short for one shingle fall back to the
  *   exact fingerprint.
  *
  * Both modes are one blocking pass (the SparkER shape): a single scan
  * of the pages assigns each page its keys, then [[dropNonMin]] keeps
  * the min url per key with one shuffle, one sort and one Window, and
  * builds lazily (no eager job).
  */
object PageDedup {

  def fingerprint(text: Column): Column =
    md5(lower(regexp_replace(text, "\\s+", " ")))

  /** Urls of `keyed` rows greater than min(url) over their key, distinct.
    * Only the narrow (url, key) rows shuffle — never the html payloads.
    * Rows whose key columns are all NULL (pages with NULL text) form no
    * group and are never dropped; a window partition would otherwise
    * put them all in one group.
    */
  private def dropNonMin(keyed: DataFrame, keys: Seq[String]): DataFrame =
    keyed.filter(keys.map(col(_).isNotNull).reduce(_ || _))
      .select(col("url"), min(col("url")).over(Window.partitionBy(keys.map(col): _*))
        .as("__keeper"))
      .filter(col("url") > col("__keeper"))
      .select(col("url"))
      .distinct()

  /** Urls to drop under exact dedup: one fingerprint key per page. */
  def exactDropped(pages: DataFrame): DataFrame =
    dropNonMin(pages.select(col("url"), fingerprint(col("text")).as("__fp")), Seq("__fp"))

  def exact(pages: DataFrame): DataFrame =
    pages.join(exactDropped(pages), Seq("url"), "left_anti")

  private val shingleN = 3

  /** Urls to drop under minhash near-dup. Signatures come from the native
    * Catalyst expression [[graft.functions.TextMinHash]], one compiled
    * zero-allocation loop over the text bytes per row (the equivalent
    * `transform`+`aggregate` higher-order-function form measured ~100x
    * slower). Keys, from one scan:
    * - a page with at least `shingleN` tokens gets 2 rows `(band, NULL)`:
    *   2 bands of 3 over a 6-component signature — per-band collision
    *   probability is jaccard^3, steep enough that merely-templated pages
    *   don't collide;
    * - a shorter page (signature NULL; the same pages as
    *   `size(split(text, ' ')) < shingleN`) can't be near-dup'd by
    *   shingles and gets 1 row `(NULL, fingerprint)` instead.
    *
    * Band and fingerprint keys stay exact and never meet: each row has
    * exactly one of the two set.
    */
  def minhashDropped(pages: DataFrame): DataFrame = {
    val sig = col("__sig")
    def band(b: Int): Column = xxhash64(element_at(sig, 3 * b + 1),
      element_at(sig, 3 * b + 2), element_at(sig, 3 * b + 3), lit(b)).as("__band")
    val noBand = lit(null).cast("long").as("__band")
    val noFp = lit(null).cast("string").as("__fp")
    val keys = when(sig.isNull, array(struct(noBand, fingerprint(col("text")).as("__fp"))))
      .otherwise(array(struct(band(0), noFp), struct(band(1), noFp)))
    val keyed = pages
      .select(col("url"), col("text"),
        graft.functions.MinHash.signatureFromText(col("text"), n = shingleN, k = 6).as("__sig"))
      .select(col("url"), inline(keys))
    dropNonMin(keyed, Seq("__band", "__fp"))
  }

  def minhash(pages: DataFrame): DataFrame =
    pages.join(minhashDropped(pages), Seq("url"), "left_anti")

  /** Dropped-url set for the given mode; empty for "none". The pipeline
    * applies this to EXTRACTED assertions (url-keyed small rows), never
    * to the page table itself — anti-joining the pages would shuffle
    * every html payload, which measured 6x the entire pipeline cost.
    */
  def droppedUrls(pages: DataFrame, mode: String): DataFrame = mode match {
    case "none" => pages.select(col("url")).limit(0)
    case "exact" => exactDropped(pages)
    case "minhash" => minhashDropped(pages)
    case other => throw new IllegalArgumentException(s"unknown dedup mode: $other")
  }

  /** Page-table form (convenience / tests). */
  def apply(pages: DataFrame, mode: String): DataFrame = mode match {
    case "none" => pages
    case _ => pages.join(droppedUrls(pages, mode), Seq("url"), "left_anti")
  }
}
