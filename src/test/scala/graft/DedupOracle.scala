package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.PageDedup

/** The keeper-join form of `PageDedup`'s drop sets that the keyed-window
  * form replaced, kept as the reference oracle of the differential tests:
  * per key, a `min(url)` aggregation joined back on the key; minhash mode
  * unions the band drops with an exact-mode pass over the sub-shingle
  * pages (`size(split(text, ' ')) < 3`). The eager `localCheckpoint`s
  * that pinned the band and fingerprint frames are left out: they changed
  * only how often the text was hashed, not the rows.
  */
object DedupOracle {

  def exactDropped(pages: DataFrame): DataFrame = {
    val fp = pages.select(col("url"), PageDedup.fingerprint(col("text")).as("__fp"))
    val keepers = fp.groupBy(col("__fp")).agg(min(col("url")).as("__keeper"))
    fp.join(keepers, "__fp")
      .filter(col("url") > col("__keeper"))
      .select(col("url"))
  }

  private def bands(pages: DataFrame): DataFrame = {
    val sig = graft.functions.MinHash.signatureFromText(col("text"), n = 3, k = 6)
    pages.select(col("url"), sig.as("sig"))
      .filter(col("sig").isNotNull)
      .select(col("url"), explode(array(
        xxhash64(element_at(col("sig"), 1), element_at(col("sig"), 2),
          element_at(col("sig"), 3), lit(0)),
        xxhash64(element_at(col("sig"), 4), element_at(col("sig"), 5),
          element_at(col("sig"), 6), lit(1)))).as("band"))
  }

  def minhashDropped(pages: DataFrame): DataFrame = {
    val b = bands(pages)
    val keepers = b.groupBy(col("band")).agg(min(col("url")).as("__keeper"))
    val near = b.join(keepers, "band")
      .filter(col("url") > col("__keeper"))
      .select(col("url"))
    val shortExact = exactDropped(pages.filter(size(split(col("text"), " ")) < 3))
    near.unionAll(shortExact).distinct()
  }

  def droppedUrls(pages: DataFrame, mode: String): DataFrame = mode match {
    case "exact" => exactDropped(pages).distinct()
    case "minhash" => minhashDropped(pages)
  }
}
