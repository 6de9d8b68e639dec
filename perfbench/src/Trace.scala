package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One span: a call into a layer's public entry point, made by the
  * benchmark. `parent` is the enclosing span (0 = root); all spans of
  * one run share `trace`.
  */
final case class Span(id: Long, parent: Long, trace: String, name: String,
    layer: String, startNs: Long, var endNs: Long = 0L)

/** Task metrics summed per span. A span's Spark jobs carry its id as job
  * group, so attribution does not depend on when the listener bus
  * delivers the events.
  */
final class SpanTasks {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  /** stage id -> task run times (ms), for the per-stage skew ratio */
  val stageRunMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
}

/** Spans kept in memory plus the listener that feeds them. Only the
  * traced run installs it; untraced runs pay nothing.
  */
final class Tracer(sc: SparkContext, val traceId: String) extends SparkListener {
  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Span]()
  private val perSpan = mutable.Map[Long, SpanTasks]()
  private val stageToSpan = mutable.Map[Int, Long]()
  private val lock = new Object

  /** The group id format the listener parses back. */
  private def group(id: Long) = s"perfbench-span-$id"

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g: String = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null && g.startsWith("perfbench-span-")) {
      val id = g.stripPrefix("perfbench-span-").toLong
      lock.synchronized {
        perSpan.getOrElseUpdate(id, new SpanTasks).jobs += 1
        e.stageIds.foreach(s => stageToSpan(s) = id)
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) lock.synchronized {
      stageToSpan.get(e.stageId).foreach { id =>
        val t = perSpan.getOrElseUpdate(id, new SpanTasks)
        t.tasks += 1
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.diskBytesSpilled
        t.stageRunMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) += m.executorRunTime
      }
    }
  }

  /** Run `body` inside a span of `layer`; its Spark jobs are tagged with
    * the span's job group, restored to the parent's on exit.
    */
  def span[T](layer: String, name: String)(body: => T): T = {
    val parent = stack.headOption
    val s = Span(spans.size + 1L, parent.map(_.id).getOrElse(0L), traceId, name, layer,
      System.nanoTime())
    spans += s
    stack.push(s)
    sc.setJobGroup(group(s.id), name)
    try body
    finally {
      s.endNs = System.nanoTime()
      stack.pop()
      parent match {
        case Some(p) => sc.setJobGroup(group(p.id), p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** A span's wall time minus the part of it its child spans cover. */
  private def selfNs(s: Span): Long = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var (curS, curE) = (Long.MinValue, Long.MinValue)
    kids.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    (s.endNs - s.startNs) - covered
  }

  /** Per-layer metrics over every span, named `<layer>.<metric>`. */
  def layerMetrics(layers: Seq[String]): Seq[(String, Double)] = {
    org.apache.spark.PerfbenchBridge.drainListenerBus(sc)
    lock.synchronized {
      layers.flatMap { layer =>
        val ss = spans.filter(_.layer == layer)
        val wallS = ss.map(selfNs).sum / 1e9
        val ts = ss.flatMap(s => perSpan.get(s.id))
        def sum(f: SpanTasks => Long) = ts.map(f).sum.toDouble
        // skew of the layer's heaviest stage: its max task time over its
        // median task time
        val stages = ts.flatMap(_.stageRunMs.toSeq)
        val skew = if (stages.isEmpty) 0.0 else {
          val heaviest = stages.maxBy(_._2.sum)._2.sorted
          val med = heaviest(heaviest.size / 2)
          if (med <= 0) 0.0 else heaviest.last.toDouble / med
        }
        Seq(
          s"$layer.wall_s" -> wallS,
          s"$layer.task_cpu_s" -> sum(_.cpuNs) / 1e9,
          s"$layer.gc_s" -> sum(_.gcMs) / 1e3,
          s"$layer.busy_cores" -> (if (wallS > 0) sum(_.runMs) / 1e3 / wallS else 0.0),
          s"$layer.jobs" -> sum(_.jobs),
          s"$layer.tasks" -> sum(_.tasks),
          s"$layer.shuffle_mb" -> sum(_.shuffleWriteBytes) / 1e6,
          s"$layer.spill_mb" -> sum(_.spillBytes) / 1e6,
          s"$layer.skew" -> skew)
      }
    }
  }

  /** Spans as JSON lines, with self time and attributed task sums. */
  def jsonLines: Seq[String] = lock.synchronized {
    spans.toSeq.map { s =>
      val t = perSpan.getOrElse(s.id, new SpanTasks)
      Json.obj(Seq(
        "trace" -> Json.str(s.trace), "span" -> s.id.toString, "parent" -> s.parent.toString,
        "name" -> Json.str(s.name), "layer" -> Json.str(s.layer),
        "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString,
        "self_s" -> Json.num(selfNs(s) / 1e9), "jobs" -> t.jobs.toString,
        "tasks" -> t.tasks.toString, "task_cpu_s" -> Json.num(t.cpuNs / 1e9)))
    }
  }
}
