package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Minimal JSON writing: every value passed in is already rendered. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

/** Command line of one benchmark run (see run.py, which builds the
  * program and passes the directories).
  */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    work: Path,
    data: Path)

object Main {

  val workloads: Seq[String] = Seq("kg_build", "operator_suite")

  /** The graft.* modules, in the order per-layer metrics are printed. */
  val layers: Seq[String] = Seq("dedup", "extract", "link", "canon", "prune", "core",
    "pipeline", "queries", "graph", "similarity", "multimodal", "streaming", "functions")

  /** One fixed session configuration for every workload. It is echoed on
    * stdout; no environment variable changes it. Shuffle partitions and
    * split size are the 4-core values Bench uses at its `bench` scale.
    */
  def sparkConf(work: Path): Seq[(String, String)] = Seq(
    "spark.master" -> "local[4]",
    "spark.app.name" -> "perfbench",
    "spark.sql.shuffle.partitions" -> "16",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.files.maxPartitionBytes" -> "16m",
    "spark.sql.join.preferSortMergeJoin" -> "false",
    "spark.sql.autoBroadcastJoinThreshold" -> "256m",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> work.resolve("spark-local").toString,
    "spark.hadoop.hadoop.tmp.dir" -> work.resolve("hadoop-tmp").toString)

  def usage(): Nothing = {
    System.err.println(
      "usage: perfbench.Main --workload <" + workloads.mkString("|") +
        "> --seed <n> --seconds <n> --trace <0|1> --work <dir> --data <dir>\n" +
        "       perfbench.Main --selftest --work <dir> --data <dir>\n" +
        "       perfbench.Main --pin <verify-out-dir> --work <dir> --data <dir>")
    sys.exit(2)
  }

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val flags = argv.toSet
    val work = kv.get("--work").map(Paths.get(_).toAbsolutePath).getOrElse(usage())
    val data = kv.get("--data").map(Paths.get(_).toAbsolutePath).getOrElse(usage())
    if (!Files.isDirectory(data.resolve("sf0.01"))) {
      System.err.println(s"perfbench: missing operator data under $data")
      sys.exit(2)
    }
    if (flags("--selftest")) { sys.exit(SelfTest.run(work, data)) }
    kv.get("--pin").foreach { dir => Pin.run(work, data, Paths.get(dir)); sys.exit(0) }
    val a = try Args(
      workload = kv.getOrElse("--workload", usage()),
      seed = kv.getOrElse("--seed", usage()).toLong,
      seconds = kv.getOrElse("--seconds", usage()).toInt,
      trace = kv.getOrElse("--trace", usage()) match {
        case "0" => false
        case "1" => true
        case _ => usage()
      },
      work = work, data = data)
    catch { case _: NumberFormatException => usage() }
    if (!workloads.contains(a.workload) || a.seconds < 1) usage()
    val code =
      try Runner.run(a)
      catch { case e: Throwable => e.printStackTrace(); 1 }
    sys.exit(code)
  }

  def session(work: Path): SparkSession = {
    Files.createDirectories(work)
    val b = SparkSession.builder()
    sparkConf(work).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Process CPU time (driver, executors, GC and JIT: local mode runs
    * them all in this JVM).
    */
  def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** VmHWM: the resident-set high-water mark of this JVM, in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
}

/** Order-independent digest of a result: row count plus the sum of a
  * 64-bit hash of every row. Doubles are rounded to 6 decimals, so the
  * digest names the same result as the oracle comparison, which allows
  * float tolerance.
  */
object Digest {

  private def needsNorm(t: DataType): Boolean = t match {
    case DoubleType | FloatType | _: MapType => true
    case ArrayType(et, _) => needsNorm(et)
    case st: StructType => st.fields.exists(f => needsNorm(f.dataType))
    case _ => false
  }

  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(et, _) if needsNorm(et) => transform(c, x => norm(x, et))
    case st: StructType if needsNorm(st) =>
      when(c.isNull, lit(null)).otherwise(
        struct(st.fields.toSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(kt, vt, _) =>
      val entries = StructType(Seq(StructField("key", kt), StructField("value", vt)))
      norm(array_sort(map_entries(c)), ArrayType(entries))
    case _ => c
  }

  def rowHash(df: DataFrame): Column =
    xxhash64(df.schema.fields.toSeq.map(f => norm(df.col(f.name), f.dataType)): _*)

  /** Write `df` to the noop sink, computing the digest in the same job. */
  def writeNoop(df: DataFrame): (Long, String) = {
    val ob = new Observation()
    df.observe(ob, count(lit(1)).as("n"),
      sum(rowHash(df).cast(DecimalType(38, 0))).as("h"))
      .write.format("noop").mode("overwrite").save()
    val m = ob.get
    val n = m("n").asInstanceOf[Long]
    (n, s"$n:${Option(m("h")).getOrElse(0)}")
  }
}
