package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SparkEntry
import graft.pipeline.KgPipeline

object Runner {

  private def metric(name: String, value: Double, unit: String): (String, String) =
    name -> Json.obj(Seq("value" -> Json.num(value), "unit" -> Json.str(unit)))

  private val layerUnits = Seq("wall_s" -> "s", "task_cpu_s" -> "s", "gc_s" -> "s",
    "busy_cores" -> "cores", "jobs" -> "count", "tasks" -> "count", "shuffle_mb" -> "MB",
    "spill_mb" -> "MB", "skew" -> "ratio").toMap

  /** One benchmark run; prints the config, detail and result lines. */
  def run(a: Args): Int = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = Main.session(a.work)
    val sc = spark.sparkContext
    val w: Workload = a.workload match {
      case "kg_build" => new KgWorkload(spark, a)
      case _ => new OperatorWorkload(spark, a)
    }
    val plans = new PlanLog(tag => w.planChecks.exists(_.tag == tag))
    sc.addSparkListener(plans)
    println(Json.obj(Seq("config" -> Json.obj(Main.sparkConf(a.work).map {
      case (k, v) => k -> Json.str(v)
    }))))

    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    w.setup()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val passes = ArrayBuffer[PassResult]()
    val (metrics, q) = if (!a.trace) {
      val t0 = System.nanoTime()
      // passes fill the window without overrunning it; at least one runs
      do passes += w.pass(None)
      while ((System.nanoTime() - t0) / 1e9 + passes.last.wallS <= a.seconds)
      val q = w.phase("check_outputs")(w.quality())
      (Seq(
        metric("setup_s", setupS, "s"),
        metric("pass_s", Stats.median(passes.map(_.wallS).toSeq), "s"),
        metric("process_cpu_s", Stats.median(passes.map(_.cpuS).toSeq), "s"),
        metric("peak_rss_mb", Main.peakRssMb(), "MB"),
        metric("precision", q.precision, "ratio"),
        metric("recall", q.recall, "ratio")), q)
    } else {
      // the same pass untraced, then traced: the difference is the
      // tracing overhead
      passes += w.pass(None)
      val tracer = new Tracer(sc, s"${a.workload}-${a.seed}")
      sc.addSparkListener(tracer)
      passes += w.pass(Some(tracer))
      val overhead = passes(1).wallS - passes(0).wallS
      val q = w.quality()
      val ratios = w.layerCalls(tracer)
      val layer = tracer.layerMetrics(Main.layers).map { case (k, v) =>
        metric(k, v, layerUnits(k.substring(k.indexOf('.') + 1)))
      }
      val extra = Seq("dedup.dropped_ratio", "extract.verified_ratio", "link.linked_ratio",
        "prune.kept_ratio").map(k => metric(k, ratios.getOrElse(k, 0.0), "ratio")) :+
        metric("trace.overhead_s", overhead, "s")
      val out = a.work.resolve(s"traces/${a.workload}-${a.seed}.jsonl")
      Files.createDirectories(out.getParent)
      Files.write(out, (tracer.jsonLines :+ Json.obj(Seq(
        "trace" -> Json.str(tracer.traceId),
        "untraced_pass_s" -> Json.num(passes(0).wallS),
        "traced_pass_s" -> Json.num(passes(1).wallS),
        "tracing_overhead_s" -> Json.num(overhead)))).mkString("", "\n", "\n")
        .getBytes(StandardCharsets.UTF_8))
      System.err.println(s"perfbench: spans written to $out")
      (layer ++ extra, q)
    }

    org.apache.spark.PerfbenchBridge.drainListenerBus(sc)
    val planFailures = PlanCheck.failures(plans, w.planChecks)
    planFailures.foreach(m => System.err.println(s"perfbench: $m"))
    val attempted = passes.map(_.ops).sum
    val failed = math.min(attempted, passes.map(_.failed).sum + q.failed)
    println(Json.obj(Seq(
      "workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
      "trace" -> a.trace.toString, "passes" -> passes.size.toString,
      "pass_times_s" -> passes.map(p => Json.num(p.wallS)).mkString("[", ", ", "]"),
      "error_rate" -> Json.num(failed.toDouble / attempted),
      "setup_phases_s" -> Json.obj(("jvm_and_session" -> Json.num(sessionS)) +: w.setupPhases.toSeq
        .map { case (k, v) => k -> Json.num(v) })) ++
      w.detail(passes.toSeq) ++ q.notes ++
      Seq("plan_checks_failed" -> planFailures.size.toString)))
    println(Json.obj(Seq(
      "correct" -> (failed == 0 && planFailures.isEmpty).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics))))
    spark.stop()
    0
  }
}

/** Pinned query digests and table row counts (data/digests.tsv). */
object Pin {
  def load(data: Path): Map[String, String] =
    Files.readAllLines(data.resolve("digests.tsv")).asScala
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\t"); k -> v }.toMap

  val tables: Seq[String] = Seq("customer", "documents", "embeddings", "events", "lineitem",
    "nation", "orders", "part", "region", "supplier")

  /** Digest every query result that Verify dumped under `verifyDir`
    * (outputs an oracle comparison has accepted) and the row count of
    * every sf0.01 table, into data/digests.tsv.
    */
  def run(work: Path, data: Path, verifyDir: Path): Unit = {
    val spark = Main.session(work)
    val lines = SparkEntry.queries.keys.toSeq.sorted.map { q =>
      val df = spark.read.parquet(verifyDir.resolve(q).toString)
      val r = df.agg(count(lit(1)), sum(Digest.rowHash(df).cast(DecimalType(38, 0)))).head()
      s"$q\t${r.getLong(0)}:${Option(r.get(1)).getOrElse(0)}"
    } ++ tables.map { t =>
      s"table:$t\t${spark.read.parquet(data.resolve(s"sf0.01/$t.parquet").toString).count()}"
    }
    Files.write(data.resolve("digests.tsv"),
      ("# name\trows:sum(xxhash64(row)), from oracle-checked outputs at sf0.01\n" +
        lines.mkString("", "\n", "\n")).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

/** The benchmark's own test: the timed actions are full evaluations.
  * Runs the two plan checks on the smallest inputs; exit code 0 = pass.
  */
object SelfTest {
  def run(work: Path, data: Path): Int = {
    val spark = Main.session(work)
    val checks = Seq(PlanCheck.reviewRanking, PlanCheck.q31Regex)
    val log = new PlanLog(tag => checks.exists(_.tag == tag))
    spark.sparkContext.addSparkListener(log)
    def tagged(tag: String)(body: => Unit): Unit = {
      spark.sparkContext.setJobDescription(tag)
      try body finally spark.sparkContext.setJobDescription(null)
    }
    val res = KgPipeline.runWith(spark,
      KgPipeline.fixtureInputs(spark, graft.fixtures.Fixtures.tiny), dedup = "minhash")
    tagged(PlanCheck.reviewRanking.tag)(Digest.writeNoop(res.review))
    tagged(PlanCheck.q31Regex.tag)(Digest.writeNoop(
      SparkEntry.queries("q31_regex_extract_props")(spark, data.resolve("sf0.01").toString)))
    org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
    val failures = PlanCheck.failures(log, checks)
    checks.foreach(c => println((if (failures.exists(_.endsWith(c.what))) "FAIL " else "ok   ") + c.what))
    spark.stop()
    if (failures.isEmpty) 0 else 1
  }
}
