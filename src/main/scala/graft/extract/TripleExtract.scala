package graft.extract

import java.util.regex.Pattern

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.fixtures.Fixtures

/** Batched pattern-based triple extraction (north_star "batched
  * pattern/OpenIE-style triple extraction").
  *
  * The closed predicate vocabulary mirrors the reference's "choose ONLY
  * from these predicates" LLM contract
  * (/root/reference/Edge_Assignor.ipynb cell 12 l.30-36): a sentence
  * yields a candidate assertion iff it matches
  * `<alias> <verb-phrase> <alias>` with a vocabulary verb phrase.
  *
  * One native generator per page ([[SentenceMatches]], consumed via
  * `inline`) splits the text into sentences and runs the sentence regex
  * only on sentences containing a literal `" <verb> "` — a match needs
  * one, so the pre-filter is exact (the closed-vocabulary literal filter
  * of "Exploiting Code Generation for Efficient LIKE Pattern Matching",
  * VLDB 2023). It emits matching sentences only, each with the text of
  * the sentence after it, so the plan stays narrow (no window, no
  * per-sentence copy of the sentence array) and the lang filter still
  * pushes into the scan.
  */
object TripleExtract {

  /** Verb alternation, longest-first so multiword verbs win. */
  private val verbs: Seq[(String, String)] =
    Fixtures.predicateSpecs.map(p => p.verb -> p.curie).sortBy(-_._1.length)

  /** The single definition of a matching sentence. */
  private[graft] val sentenceRe =
    s"^([A-Za-z0-9]+(?: [A-Za-z0-9]+)*?) (${verbs.map(_._1).mkString("|")}) ([A-Za-z0-9]+(?: [A-Za-z0-9]+)*)$$"

  private val sentencePattern = Pattern.compile(sentenceRe)
  private val sentenceSplit = Pattern.compile("\\. ")
  private val finalDot = Pattern.compile("\\.$")

  /** `" <verb> "`: every matching sentence contains one of these. */
  private val verbLiterals: Array[String] = verbs.map(v => s" ${v._1} ").toArray

  /** verb surface form -> predicate CURIE as a codegen'd when-chain. */
  private def verbToCurie(verb: Column): Column =
    verbs.foldLeft(lit(null: String)) { case (acc, (v, curie)) =>
      when(verb === v, lit(curie)).otherwise(acc)
    }

  /** pages -> assertions(url, sent_idx, subj_alias, predicate, obj_alias,
    * context). Context = tokens of the following sentence (the fixture
    * always emits a keyword filler sentence after each assertion).
    */
  def assertions(pages: DataFrame): DataFrame = {
    pages
      .filter(col("lang") === "en") // pushed into the scan
      .select(col("url"), inline(org.apache.spark.sql.GraftExpressionBridge.column(
        SentenceMatches(org.apache.spark.sql.GraftExpressionBridge.expression(col("text"))))))
      .withColumn("predicate", verbToCurie(col("verb")))
      .withColumn("context", split(col("next_sentence"), " "))
      .select("url", "sent_idx", "subj_alias", "predicate", "obj_alias", "context")
  }

  /** The matching sentences of one page, as [[SentenceMatches]] rows.
    * Sentences are exactly those of
    * `split(regexp_replace(text, "\\.$", ""), "\\. ")`; sent_idx counts
    * all of them, matching or not.
    */
  private[extract] def matchSentences(text: String): ArrayData = {
    val sents = sentenceSplit.split(dropFinalDot(text), -1)
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    var k = 0
    while (k < sents.length) {
      if (verbLiterals.exists(sents(k).contains)) {
        val m = sentencePattern.matcher(sents(k))
        if (m.find()) {
          val next = if (k + 1 < sents.length) sents(k + 1) else ""
          out += InternalRow(k, UTF8String.fromString(m.group(1)),
            UTF8String.fromString(m.group(2)), UTF8String.fromString(m.group(3)),
            UTF8String.fromString(next))
        }
      }
      k += 1
    }
    new GenericArrayData(out.toArray[Any])
  }

  /** `regexp_replace(t, "\\.$", "")`. Without MULTILINE, `$` matches at
    * the end or before a final line terminator (or "\r\n"), so a match
    * starts in the last 3 chars: search only there.
    */
  private def dropFinalDot(t: String): String = {
    val m = finalDot.matcher(t).region(math.max(0, t.length - 3), t.length)
    if (m.find()) t.substring(0, m.start) + t.substring(m.end) else t
  }
}

/** Native generator input for [[TripleExtract.assertions]]: page text ->
  * array<struct<sent_idx, subj_alias, verb, obj_alias, next_sentence>>
  * of its matching sentences, NULL for NULL text.
  */
case class SentenceMatches(child: Expression) extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("sent_idx", IntegerType, nullable = false),
    StructField("subj_alias", StringType, nullable = false),
    StructField("verb", StringType, nullable = false),
    StructField("obj_alias", StringType, nullable = false),
    StructField("next_sentence", StringType, nullable = false))), containsNull = false)
  override def prettyName: String = "sentence_matches"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"sentence_matches expects string, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    TripleExtract.matchSentences(input.asInstanceOf[UTF8String].toString)

  override protected def withNewChildInternal(newChild: Expression): SentenceMatches =
    copy(child = newChild)
}
