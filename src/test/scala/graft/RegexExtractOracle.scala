package graft

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.fixtures.Fixtures

/** The regex forms of the extract layer that `graft.extract`'s native
  * kernels replaced, kept as the reference oracle of the differential
  * tests: the `regexp_replace` chain for HTML -> text and the
  * `split` + `posexplode` + `regexp_extract` form of triple extraction.
  * Slow (the body regex is quadratic on html without a `<body>...</body>`
  * pair) — use on small inputs only.
  */
object RegexExtractOracle {

  private val bodyRe = "(?is).*<body[^>]*>(.*?)</body>.*"
  private val scriptRe = "(?is)<script[^>]*>.*?</script>"
  private val styleRe = "(?is)<style[^>]*>.*?</style>"
  private val tagRe = "(?s)<[^>]*>"
  private val wsRe = "\\s+"
  private val entities = Seq(
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", "\""), ("&#39;", "'"),
    ("&apos;", "'"), ("&amp;", "&")) // &amp; LAST so &amp;lt; -> &lt; stays literal

  /** Column form. `decode` throws on malformed UTF-8 (Spark 4). */
  def extractTextCol(html: Column): Column = {
    val s = decode(html, "UTF-8")
    val body = regexp_replace(s, bodyRe, "$1")
    val noScript = regexp_replace(regexp_replace(body, scriptRe, " "), styleRe, " ")
    val noTags = regexp_replace(noScript, tagRe, " ")
    val decoded = entities.foldLeft(noTags) { case (c, (from, to)) => regexp_replace(c, from, to) }
    trim(regexp_replace(decoded, wsRe, " "))
  }

  /** Scala form of the same chain: malformed UTF-8 decodes to U+FFFD, and
    * the trim strips 0x20 only, as Spark's `trim` does (`String.trim`
    * would strip every char <= 0x20).
    */
  def extractText(html: Array[Byte]): String = {
    val s = new String(html, StandardCharsets.UTF_8)
    val body = s.replaceAll(bodyRe, "$1")
    val noScript = body.replaceAll(scriptRe, " ").replaceAll(styleRe, " ")
    val noTags = noScript.replaceAll(tagRe, " ")
    val decoded = entities.foldLeft(noTags) { case (c, (from, to)) => c.replaceAll(from, to) }
    decoded.replaceAll(wsRe, " ").replaceAll("\\A +| +\\z", "")
  }

  private val verbs: Seq[(String, String)] =
    Fixtures.predicateSpecs.map(p => p.verb -> p.curie).sortBy(-_._1.length)

  private val sentenceRe = graft.extract.TripleExtract.sentenceRe

  private def verbToCurie(verb: Column): Column =
    verbs.foldLeft(lit(null: String)) { case (acc, (v, curie)) =>
      when(verb === v, lit(curie)).otherwise(acc)
    }

  /** pages -> assertions(url, sent_idx, subj_alias, predicate, obj_alias,
    * context), the posexplode + regexp_extract form.
    */
  def assertions(pages: DataFrame): DataFrame =
    pages
      .filter(col("lang") === "en")
      .withColumn("sents", split(regexp_replace(col("text"), "\\.$", ""), "\\. "))
      .select(col("url"), col("sents"),
        posexplode(col("sents")).as(Seq("sent_idx", "sentence")))
      // try_element_at: the replaced code used element_at, which under
      // ANSI mode (Spark 4's default) throws on a page whose LAST sentence
      // matches instead of yielding the "" its coalesce intended
      .withColumn("next_sentence",
        coalesce(try_element_at(col("sents"), col("sent_idx") + 2), lit("")))
      .withColumn("subj_alias", regexp_extract(col("sentence"), sentenceRe, 1))
      .withColumn("verb", regexp_extract(col("sentence"), sentenceRe, 2))
      .withColumn("obj_alias", regexp_extract(col("sentence"), sentenceRe, 3))
      .filter(col("subj_alias") =!= "")
      .withColumn("predicate", verbToCurie(col("verb")))
      .withColumn("context", split(col("next_sentence"), " "))
      .select("url", "sent_idx", "subj_alias", "predicate", "obj_alias", "context")
}
