package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** What one untraced or traced operation left behind, read outside the
  * timed region: output rows, bytes the sink wrote, and an
  * order-independent digest of the output.
  */
final case class OpOut(rows: Long, bytes: Long, digest: String)

/** A batch workload: one operation at a time, closed loop. */
trait BatchWorkload {
  def name: String
  /** Input rows one operation consumes (turns / loaded quads / documents). */
  def rowsIn: Long
  /** The timed operation, sink included. */
  def op(): Unit
  /** Reads back what the last operation wrote (never timed). */
  def observe(): OpOut
  /** The same operation split into layer calls, each inside a span.
    * Returns the workload's extra per-layer metrics.
    */
  def traced(tr: Tracer): Map[String, Double]
  /** Correctness checks that need the program itself (outside the timed
    * region); an empty result means every check passed.
    */
  def check(last: OpOut): Seq[String] = Nil
  /** Layers the traced operation runs that the timed operation takes from
    * a session memo; they are left out of the coverage of wall_s.
    */
  def memoized: Set[String] = Set.empty
  /** Fewest timed operations a run takes, however long they are. */
  def minOps: Int = 2
  /** Self-test hook: damage the last output so a correctness check must
    * fail. Runs after the timed region, before the checks.
    */
  def plantFault(): Unit
  /** Files an outside oracle reads after the run (name -> path). */
  def artifacts: Map[String, String] = Map.empty
}

/** Benchmark process: one workload, one seed, one mode.
  *
  * `--work DIR` holds the generated inputs (`DIR/in`) and receives every
  * output. The last stdout line is one JSON object with the raw
  * measurements; `run.py` turns it into the reported metrics.
  */
object Main {

  def session(cpus: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      // the load shape of graft.Bench.session: partitions = cores, AQE on
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Linear-interpolated percentile, q in [0, 1]. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def timed(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** Set by the self-test: every workload damages its own output. */
  def plantFault: Boolean = sys.props.contains("perfbench.plant")

  def uptime(): Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  /** Heap still live after full collections: what memos, checkpoints and
    * broadcasts hold on to once the timed region ends.
    */
  def heapRetainedMb(): Double = {
    // the ContextCleaner drops unreachable checkpoint blocks only after
    // a collection enqueues them, so collect, let it run, collect again
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f) && {
          val n = f.getFileName.toString
          !n.startsWith(".") && !n.startsWith("_")
        }).mapToLong(f => Files.size(f)).sum()
      finally s.close()
    }

  /** Order-independent digest of a text file's lines: line count plus the
    * wrapping sum of each line's 64-bit hash.
    */
  def linesDigest(lines: Iterator[String]): (Long, String) = {
    var n = 0L
    var h = 0L
    lines.foreach { l =>
      n += 1
      h += scala.util.hashing.MurmurHash3.stringHash(l, 0x5eed).toLong * 0x9E3779B97F4A7C15L +
        scala.util.hashing.MurmurHash3.stringHash(l, 0x7a11)
    }
    (n, f"$n:$h%016x")
  }

  private def parse(argv: Array[String]): Map[String, String] =
    argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v
      case other => throw new IllegalArgumentException(s"bad args: ${other.mkString(" ")}")
    }.toMap

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wl = a("workload")
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cpus = a("cpus").toInt
    val rowsIn = a("rows-in").toLong
    val work = Paths.get(a("work")).toAbsolutePath
    val in = work.resolve("in")
    val spark = session(cpus, work)
    System.err.println(f"[perfbench] session ready at ${uptime()}%.2fs")
    val json =
      try {
        val res = wl match {
          case "sparql_serve" => SparqlServe.run(spark, in, seconds, trace, cpus)
          case other =>
            val w: BatchWorkload = other match {
              case "kg_commit" => new KgCommit(spark, in, work, rowsIn)
              case "integrate_script" => new IntegrateScript(spark, in, work, rowsIn)
              case "dedup_pairs" => new DedupPairs(spark, in, work, rowsIn)
              case _ => throw new IllegalArgumentException(s"unknown workload $other")
            }
            runBatch(spark, w, seconds, trace)
        }
        Json.obj(res)
      } finally spark.stop()
    println(json)
  }

  /** Warm up until two consecutive operations agree within 15 % (or the
    * warm-up budget is spent, which a slow cold first operation may do on
    * its own), then run the timed closed loop. Every
    * operation's output is read back outside the timed region and must
    * match the first one's digest.
    */
  def runBatch(spark: SparkSession, w: BatchWorkload, seconds: Double,
      trace: Boolean): Seq[(String, Any)] = {
    System.err.println(f"[perfbench] workload ready at ${uptime()}%.2fs")
    val warm = ArrayBuffer[Double]()
    var first: OpOut = null
    val warmCap = math.max(seconds, 8.0)
    val warmStart = System.nanoTime()
    def steady = warm.length >= 2 && {
      val (x, y) = (warm(warm.length - 2), warm.last)
      math.abs(y - x) / x < 0.15
    }
    while (warm.isEmpty || (!steady && (System.nanoTime() - warmStart) / 1e9 < warmCap)) {
      warm += timed(w.op())
      if (first == null) first = w.observe()
    }
    val setupS = uptime()
    System.err.println(f"[perfbench] ${w.name} warm-up walls: " +
      warm.map(x => f"$x%.2f").mkString(", ") + f"; setup $setupS%.2fs")

    val walls = ArrayBuffer[Double]()
    val tracedWalls = ArrayBuffer[Double]()
    val extras = ArrayBuffer[Map[String, Double]]()
    val selfs = ArrayBuffer[Map[String, Double]]()
    val errors = ArrayBuffer[String]()
    var attempted = 0
    var failed = 0
    var last: OpOut = first
    val tracer = if (trace) new Tracer(spark, w.name) else null
    def record(out: OpOut, what: String): Unit = {
      attempted += 1
      if (out.digest != first.digest) {
        failed += 1
        errors += s"$what output digest ${out.digest} != first op's ${first.digest}"
      }
      last = out
    }
    var spent = 0.0
    // a traced iteration runs the operation twice (untraced, traced);
    // the first failure ends the timed region
    val minOps = if (trace) 1 else w.minOps
    while ((spent < seconds || walls.length < minOps) && failed == 0) {
      val t = try Some(timed(w.op())) catch {
        case e: Exception => errors += s"op failed: $e"; None
      }
      t match {
        case Some(x) => walls += x; spent += x; record(w.observe(), "op")
        case None => attempted += 1; failed += 1
      }
      if (trace && t.nonEmpty) {
        tracer.install()
        val from = tracer.spans.length
        var ex: Map[String, Double] = Map.empty
        val x = timed(tracer.span("op", "traced op") { ex = w.traced(tracer) })
        tracer.uninstall()
        tracedWalls += x
        spent += x
        extras += ex
        selfs += tracer.selfSeconds(from, tracer.spans.length)
        record(w.observe(), "traced op")
      }
    }
    require(walls.nonEmpty, s"no operation completed: ${errors.mkString("; ")}")
    System.err.println(f"[perfbench] timed region done at ${uptime()}%.2fs")
    val heap = heapRetainedMb()
    if (plantFault) w.plantFault()
    errors ++= w.check(last)
    System.err.println(f"[perfbench] checks done at ${uptime()}%.2fs")
    val wall = median(walls.toSeq)
    val base = Seq(
      "setup_jvm_s" -> setupS,
      "walls" -> walls.toSeq,
      "wall_s" -> wall,
      "rows_per_s" -> w.rowsIn / wall,
      "out_bytes_per_row" -> last.bytes.toDouble / math.max(1L, last.rows),
      "heap_retained_mb" -> heap,
      "attempted" -> attempted,
      "failed" -> failed,
      "errors" -> errors.toSeq,
      "artifacts" -> w.artifacts)
    if (!trace) base
    else base ++ Seq("layers" -> layerMetrics(tracer, selfs.toSeq, extras.toSeq,
      wall, median(tracedWalls.toSeq), w.memoized))
  }

  /** Per-layer metrics of a traced run: self time (median per traced
    * operation), the listener's resource totals per traced operation,
    * workload extras, coverage of wall_s and tracing overhead.
    */
  def layerMetrics(tr: Tracer, selfs: Seq[Map[String, Double]],
      extras: Seq[Map[String, Double]], wall: Double,
      tracedWall: Double, memoized: Set[String]): Map[String, Double] = {
    tr.writeSpans(Paths.get(sys.props.getOrElse("perfbench.spans", "spans.jsonl")))
    val n = selfs.length.toDouble
    val layers = selfs.flatMap(_.keys).distinct.filterNot(_ == "op")
    val out = scala.collection.mutable.LinkedHashMap[String, Double]()
    layers.foreach { l =>
      out(s"$l.busy_s") = median(selfs.map(_.getOrElse(l, 0.0)))
      out ++= tr.resources(l, n)
    }
    extras.flatMap(_.keys).distinct.foreach { k =>
      out(k) = median(extras.map(_.getOrElse(k, 0.0)))
    }
    val covered = layers.filterNot(memoized).map(l => out(s"$l.busy_s")).sum
    out("trace.gc_s") = layers.map(l => out(s"$l.gc_s")).sum
    out("trace.coverage") = covered / wall
    out("trace.overhead_s") = tracedWall - wall
    out("trace.traced_wall_s") = tracedWall
    out.toMap
  }
}

/** Minimal JSON writer for the result line. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => value(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}
