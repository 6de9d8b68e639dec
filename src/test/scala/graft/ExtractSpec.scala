package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.extract.{TextExtract, TripleExtract}
import graft.fixtures.Fixtures

class ExtractSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val cfg = Fixtures.tiny

  test("text extraction is byte-identical per url (Scala form)") {
    (0L until cfg.nPages).foreach { j =>
      val p = Fixtures.pageOf(cfg, j)
      assert(TextExtract.extractText(p.html) == p.text, s"page $j")
    }
  }

  test("text extraction Column form agrees with stored text on every row") {
    val pages = Fixtures.pages(spark, cfg)
    val bad = pages.toDF()
      .withColumn("extracted", TextExtract.extractTextCol(col("html")))
      .where(col("extracted") =!= col("text"))
      .count()
    assert(bad == 0L)
  }

  test("entity decoding: &amp; survives as & byte-identically") {
    val p = Fixtures.pageOf(cfg, 13L) // j%13==0 page embeds A&B
    assert(p.text.contains("A&B Labs"))
    assert(new String(p.html, "UTF-8").contains("A&amp;B Labs"))
    assert(TextExtract.extractText(p.html).contains("A&B Labs"))
  }

  test("triple extraction recovers exactly the generated assertions (en pages)") {
    import spark.implicits._
    val got = TripleExtract.assertions(Fixtures.pages(spark, cfg).toDF())
      .select("url", "sent_idx", "predicate").as[(String, Int, String)]
      .collect().toSet
    val want = Fixtures.truth(spark, cfg)
      .filter(col("lang") === "en")
      .select("url", "sent_idx")
      .as[(String, Int)].collect().toSet
    assert(got.map(t => (t._1, t._2)) == want)
    // predicates are from the closed vocabulary
    assert(got.map(_._3).subsetOf(Fixtures.predicateVocab.toSet))
  }

  test("non-en pages are filtered out") {
    val got = TripleExtract.assertions(Fixtures.pages(spark, cfg).toDF())
    val deUrls = (0L until cfg.nPages)
      .filter(j => Fixtures.langOf(j) == "de").map(Fixtures.urlOf)
    assert(deUrls.nonEmpty)
    assert(got.where(col("url").isin(deUrls: _*)).count() == 0)
  }

  test("assertion context carries the disambiguation keywords") {
    import spark.implicits._
    val rows = TripleExtract.assertions(Fixtures.pages(spark, cfg).toDF())
      .select($"context")
      .as[Array[String]].collect()
    assert(rows.nonEmpty)
    assert(rows.forall(ctx => ctx.exists(_.startsWith("kw"))))
  }

  // ---- differential tests: the native kernels against the regex chains
  // they replaced (RegexExtractOracle), exact equality

  private def htmlFrame(docs: Seq[Array[Byte]]): DataFrame = {
    import spark.implicits._
    docs.zipWithIndex.map { case (h, i) => (i, h) }.toDF("id", "html")
  }

  /** Both kernel forms against the regex chain (Column form) and its
    * Scala form, doc by doc.
    */
  private def assertHtmlAgrees(docs: Seq[String]): Unit = {
    import spark.implicits._
    val bytes = docs.map(_.getBytes(UTF_8))
    val bad = htmlFrame(bytes)
      .select(col("id"),
        TextExtract.extractTextCol(col("html")).as("kernel"),
        RegexExtractOracle.extractTextCol(col("html")).as("oracle"))
      .where(!(col("kernel") <=> col("oracle")))
      .as[(Int, String, String)].collect()
    assert(bad.isEmpty, bad.take(5).map { case (i, k, o) =>
      s"doc ${docs(i).take(200)}:\n kernel $k\n oracle $o" }.mkString("\n"))
    bytes.zip(docs).foreach { case (b, d) =>
      assert(TextExtract.extractText(b) == RegexExtractOracle.extractText(b), s"Scala form: $d")
    }
  }

  private val htmlEdgeCases = Seq(
    "",
    "<HTML><BODY class=x>Upper <Script>var a;</SCRIPT> case <STYLE>p{}</Style>x</Body></HTML>",
    "<html><bodyx data=1>in bodyx</body></html>",
    "<html><bodyx>only bodyx</bodyx> tags</html>",
    "<body>first</body> between <body id=2>second</body> after",
    "<body>one <body>two</body> three",
    "<body>x</body><body>y",
    "<body</body>",
    "</body><body>reversed",
    "<body>a <script>never closed and <b>bold</b></body>",
    "<body>a <script>one</script> b <SCRIPT>two</script> c</body>",
    "<body><style><script></style></script> tail</body>",
    "<body><script><style></script></style> tail</body>",
    "<body><script >x</script ><scriptx>y</script></body>",
    "<body>less < than with no close</body>",
    "<body>a <b>b</b> c < d</body>",
    "no body at all <p>x</p> < y",
    "<<>>",
    "<body>>>< body >x</body>",
    "<BODY\n class=\"a\"\n>multi\nline</BODY>",
    "<body>&amp;lt; &lt;b&gt; &#39;q&#39; &apos;a&apos; &quot;d&quot; &amp;amp; &am p; &lt</body>",
    "<body>a&l<i>t;b &amp</body>",
    "<body> \t\r\u000B\f lead\t\t\r\n mid \u000B\f\r trail \t</body>",
    "<body>non-BMP \uD83D\uDE00 \uD835\uDD18 and \u00e9 \u00fc \u4e2d\u6587 <b>\uD83D\uDE00</b></body>",
    "<body>\u0001 edge controls \u0001</body>",
    "\u0001<b> x </b>\u001f",
    "<body>\u00a0nbsp\u00a0 and \u2028 line sep \u0085</body>",
    "<body><\u017fcript>long s</\u017fcript> <scr\u0130pt>dotted I</scr\u0130pt></body>")

  test("HTML kernel == regex chain on every small fixture page") {
    val pages = Fixtures.pages(spark, Fixtures.small).toDF().select(col("url"), col("html"))
    val bad = pages.where(!(TextExtract.extractTextCol(col("html")) <=>
      RegexExtractOracle.extractTextCol(col("html")))).count()
    assert(bad == 0L)
  }

  test("HTML kernel == regex chain on edge cases and random fragment soups") {
    assertHtmlAgrees(htmlEdgeCases)
    val fragments = Seq("<", ">", "<body", "<BODY>", "</body>", "</Body>", "<script",
      "<SCRIPT>", "</script>", "<style>", "</style>", "<p>", "</p>", "&", "&amp;", "amp;",
      "&lt;", "lt;", "&#39;", "&gt;", " ", "  ", "\t", "\n", "\r\n", "\u000B", "\f", "x",
      "Entity1", "\u00e9", "\uD83D\uDE00", "\u0001", "\u00a0", "/", "=")
    val rnd = new scala.util.Random(7)
    assertHtmlAgrees(Seq.fill(3000)(
      Seq.fill(rnd.nextInt(40))(fragments(rnd.nextInt(fragments.size))).mkString))
  }

  test("HTML kernel decodes malformed UTF-8 to U+FFFD, as new String does") {
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    val malformed = Seq(
      b(0x41, 0xC3, 0x28, 0xFF, 0x42), // the classic: bad continuation, 0xFF
      b(0xC0, 0xAF), b(0xE0, 0x80, 0xAF), // overlong
      b(0xED, 0xA0, 0x80), // UTF-16 surrogate
      b(0xF4, 0x90, 0x80, 0x80), // above U+10FFFF
      b(0x80), b(0xF0, 0x9F, 0x98), // lone continuation, truncated 4-byte
      b(0xF0, 0x9F, 0x98, 0x80)) // well-formed U+1F600
    val rnd = new scala.util.Random(11)
    val ascii = "<>& b/\t".getBytes(UTF_8)
    val noise = Seq.fill(300)(Array.fill(rnd.nextInt(24))(
      if (rnd.nextBoolean()) ascii(rnd.nextInt(ascii.length)) else rnd.nextInt(256).toByte))
    val docs = (malformed ++ noise).flatMap(m => Seq(m,
      "<body>x ".getBytes(UTF_8) ++ m ++ " y</body>".getBytes(UTF_8)))
    docs.foreach { d =>
      assert(TextExtract.extractText(d) == RegexExtractOracle.extractText(d), d.mkString(","))
    }
    // the Column form's raw bytes: well-formed UTF-8 with U+FFFD, never
    // the malformed input bytes (reading it as a String would hide them)
    import spark.implicits._
    val viaColumn = htmlFrame(docs).select(TextExtract.extractTextCol(col("html")).cast("binary"))
      .as[Array[Byte]].collect().toSeq
    assert(viaColumn.map(_.toSeq) == docs.map(d => RegexExtractOracle.extractText(d).getBytes(UTF_8).toSeq))
    assert(TextExtract.extractText(malformed.head) == "A\uFFFD(\uFFFDB")
  }

  test("HTML kernel is linear on html without a <body>...</body> pair") {
    val unit = "<div class=c>Entity1 treats Entity2. &amp; <script x</div>\n"
    for (prefix <- Seq("<html>", "<html><body>")) {
      val small = (prefix + unit * 40).getBytes(UTF_8)
      assert(TextExtract.extractText(small) == RegexExtractOracle.extractText(small), prefix)
      val big = (prefix + unit * ((1 << 20) / unit.length)).getBytes(UTF_8)
      val t0 = System.nanoTime()
      val text = TextExtract.extractText(big)
      val secs = (System.nanoTime() - t0) / 1e9
      // the regex chain needs ~12 s on 63 KB of such html; linear is ~ms
      assert(secs < 5.0, f"$prefix: 1 MB took $secs%.1f s")
      assert(text.length > 400000 && text.startsWith("Entity1 treats Entity2. & "),
        s"$prefix: ${text.take(80)}")
    }
  }

  private def textFrame(texts: Seq[String]): DataFrame = {
    import spark.implicits._
    (texts.map(Option(_)) :+ None).zipWithIndex.map { case (t, i) => (s"u$i", t, "en") }
      .toDF("url", "text", "lang")
  }

  private def assertionRows(df: DataFrame) =
    df.collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3),
      r.getString(4), r.getSeq[String](5))).toSeq.sortBy(r => (r._1, r._2))

  private def assertSameAssertions(pages: DataFrame): Unit = {
    val got = assertionRows(TripleExtract.assertions(pages))
    val want = assertionRows(RegexExtractOracle.assertions(pages))
    assert(got == want, s"first difference: ${got.diff(want).take(3)} vs ${want.diff(got).take(3)}")
  }

  test("sentence generator == posexplode + regexp_extract on fixture texts") {
    assertSameAssertions(Fixtures.pages(spark, Fixtures.small).toDF())
  }

  test("sentence generator == posexplode + regexp_extract on edge cases and random texts") {
    assertSameAssertions(textFrame(Seq(
      "", ".", "..", ". ", "Entity1 treats Entity2.", "Entity1 treats Entity2..",
      "Entity1 treats Entity2. . Research on kw1 continues.",
      "Entity1 treats Entity2 causes Entity3. Next one here.",
      "Syn3 Prime interacts with Entity4. kw3 kw4.",
      "Entity1 interacts Entity2. interacts with Entity2. Entity1 interacts with. treats Entity2",
      "treats Entity1 treats Entity2. Entity1 treats",
      "Entity1 treats Entity2 ", "Entity1 treats Entity2. ",
      "Entity1 treats Entity2\u0085", "Entity1 treats Entity2.\u0085",
      "Entity1 treats Entity2.\n", "Entity1 treats Entity2.\r\n", "Entity1 treats Entity2\n.",
      "Entity1 treats Entity2\n. Entity3 causes Entity4.\u2028",
      "Entity1 treats Entity2. Entity3 part of Entity4. Entity5 located in Entity6. last",
      "Entit\u00e9 treats Entity2. \uD83D\uDE00 causes x. Entity1 causes \uD83D\uDE00",
      "Entity1  treats Entity2. Entity1 treats  Entity2",
      "A treats B.C treats D. E treats F")))
    val tokens = Seq("Entity1", "Syn3 Prime", "treats", "causes", "interacts", "with", "part",
      "of", "located", "in", "kw1", ".", ". ", "", "  ", "\n", "\u0085", "x", "\u00e9", "..")
    val rnd = new scala.util.Random(5)
    assertSameAssertions(textFrame(Seq.fill(3000)(
      Seq.fill(rnd.nextInt(25))(tokens(rnd.nextInt(tokens.size))).mkString(" "))))
  }
}
