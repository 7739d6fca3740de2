package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-layer resource totals of one job group (`<workload>.<layer>`). */
final class LayerAgg {
  var taskCpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var jobs = 0L
  var taskRetries = 0L
  /** (start ms, end ms, call site) of every job the group ran. */
  val jobTimes = ArrayBuffer[(Long, Long, String)]()
}

/** A span: one timed call into a layer, recorded from outside the layer.
  * `parent` is the index of the enclosing span (-1 for a root).
  */
final case class Span(name: String, layer: String, parent: Int,
    startNs: Long, endNs: Long)

/** Traced-run instrumentation. Every [[span]] runs its body under the
  * Spark job group `<workload>.<layer>`; the listener attributes task CPU,
  * GC, shuffle and spill to that group. Spans stay in memory until the
  * run ends.
  */
final class Tracer(spark: SparkSession, workload: String) extends SparkListener {
  private val sc: SparkContext = spark.sparkContext
  private val groupOfStage = new ConcurrentHashMap[Int, String]()
  private val groupOfJob = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, String)]()
  val aggs = new ConcurrentHashMap[String, LayerAgg]()
  val spans = ArrayBuffer[Span]()
  private var open = List.empty[Int]

  def agg(layer: String): LayerAgg =
    aggs.computeIfAbsent(s"$workload.$layer", _ => new LayerAgg)

  /** Layer that owns jobs carrying no job group, e.g. jobs a server runs
    * on its own threads while a span waits for its response.
    */
  @volatile var ungrouped: String = null

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .orElse(Option(ungrouped).map(l => s"$workload.$l")).orNull
    if (g != null && g.startsWith(workload + ".")) {
      groupOfJob.put(e.jobId, g)
      e.stageIds.foreach(s => groupOfStage.put(s, g))
      // a stage is named after the call site of the action that ran it
      val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
      jobStart.put(e.jobId, (e.time, site))
      val a = aggs.computeIfAbsent(g, _ => new LayerAgg)
      a.synchronized(a.jobs += 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val g = groupOfJob.get(e.jobId)
    val st = jobStart.get(e.jobId)
    if (g != null && st != null) {
      val a = aggs.get(g)
      a.synchronized(a.jobTimes += ((st._1, e.time, st._2)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = groupOfStage.get(e.stageId)
    if (g != null) {
      val a = aggs.get(g)
      val m = e.taskMetrics
      a.synchronized {
        if (e.reason != org.apache.spark.Success || e.taskInfo.attemptNumber > 0)
          a.taskRetries += 1
        if (m != null) {
          a.taskCpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  /** Times `body` as one span of `layer`, under its job group. */
  def span[T](layer: String, name: String)(body: => T): T = {
    val parent = open.headOption.getOrElse(-1)
    val idx = spans.length
    spans += Span(name, layer, parent, 0L, 0L)
    open = idx :: open
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(s"$workload.$layer", s"$workload.$layer: $name",
      interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      if (prevGroup == null) sc.clearJobGroup()
      else sc.setJobGroup(prevGroup, prevGroup, interruptOnCancel = false)
      open = open.tail
      spans(idx) = Span(name, layer, parent, t0, t1)
    }
  }

  /** The listener's totals for `layer`, per traced operation (`n` ops). */
  def resources(layer: String, n: Double): Seq[(String, Double)] = {
    val a = agg(layer)
    Seq(s"$layer.task_cpu_s" -> a.taskCpuNs / 1e9 / n,
      s"$layer.gc_s" -> a.gcMs / 1e3 / n,
      s"$layer.shuffle_write_bytes" -> a.shuffleWriteBytes / n,
      s"$layer.shuffle_read_bytes" -> a.shuffleReadBytes / n,
      s"$layer.spill_bytes" -> a.spillBytes / n,
      s"$layer.jobs" -> a.jobs / n,
      s"$layer.task_retries" -> a.taskRetries / n)
  }

  /** Delivers all queued listener events (call before reading [[aggs]]). */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def install(): Unit = sc.addSparkListener(this)
  def uninstall(): Unit = { drain(); sc.removeSparkListener(this) }

  /** Self time of each layer over spans[from, until): a span's duration
    * minus the part its child spans cover.
    */
  def selfSeconds(from: Int, until: Int): Map[String, Double] = {
    val childNs = Array.fill(until - from)(0L)
    (from until until).foreach { i =>
      val p = spans(i).parent
      if (p >= from) childNs(p - from) += spans(i).endNs - spans(i).startNs
    }
    (from until until).groupBy(i => spans(i).layer).map { case (l, is) =>
      l -> is.map(i => (spans(i).endNs - spans(i).startNs - childNs(i - from)) / 1e9).sum
    }
  }

  /** Writes every span as one JSON line (name, layer, parent, start, end). */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val lines = spans.zipWithIndex.map { case (s, i) =>
      f"""{"id":$i,"name":"${s.name}","layer":"${s.layer}","parent":${s.parent},""" +
        f""""start_s":${(s.startNs - t0) / 1e9}%.6f,"end_s":${(s.endNs - t0) / 1e9}%.6f}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  /** Full-row sink that keeps nothing: every column of every row is
    * produced, so Catalyst cannot prune the work being timed.
    */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}
