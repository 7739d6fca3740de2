package graft.perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.graphops.ConnectedComponents
import graft.linking.Gazetteer
import graft.materialize.Materializer
import graft.pipeline.Kg
import graft.rules.TranscriptRules
import graft.sources.Transcripts

/** kg_commit: the flagship, committed. One operation is
  * `Kg.canonicalTriplesOver(Transcripts(spark, in), spark, in)` → a fresh
  * `Materializer.write` → `Materializer.verifyCounts`.
  *
  * The dimension memos inside `Kg` (gazetteer and alias-CC map, keyed by
  * session and input directory) fill during the first operation and hit
  * afterwards by design: their cost shows in setup_s, not in wall_s. The
  * whole-result memo `Kg.canonicalTriplesShared` is never called.
  */
final class KgCommit(spark: SparkSession, in: Path, work: Path, val rowsIn: Long) extends BatchWorkload {
  val name = "kg_commit"
  private val dir = in.toString
  private val out = work.resolve("out").resolve("kg")
  private val tracedOut = work.resolve("out").resolve("kg_traced")
  private var lastOut = out

  def op(): Unit = {
    val triples = Kg.canonicalTriplesOver(Transcripts(spark, dir), spark, dir)
    Materializer.write(triples, out.toString)
    require(Materializer.verifyCounts(spark, out.toString),
      "Materializer.verifyCounts: _metrics totals disagree with the data")
    lastOut = out
  }

  def observe(): OpOut = {
    val t = spark.read.parquet(lastOut.resolve("triples").toString)
    val r = t.agg(count(lit(1)),
      sum(xxhash64(col("graph"), col("subj"), col("pred"), col("obj"))
        .cast("decimal(38,0)"))).head
    OpOut(r.getLong(0), Main.dirBytes(lastOut.resolve("triples")),
      s"${r.getLong(0)}:${r.getDecimal(1)}")
  }

  def plantFault(): Unit = {
    import spark.implicits._
    Seq(("<urn:planted>", "<urn:planted>", "<urn:planted>", "<urn:planted>"))
      .toDF("graph", "subj", "pred", "obj")
      .write.mode("append").parquet(lastOut.resolve("triples/bucket=0").toString)
  }

  /** Commits slow down in bursts on a shared box; the median of three
    * keeps one slow commit from moving the run's figure.
    */
  override def minOps: Int = 3

  /** `Kg` memoizes the alias-CC map per session and input directory. */
  override def memoized: Set[String] = Set("graphops")

  /** The repo's DuckDB oracle for this pipeline, for `checks.py`. */
  override def check(last: OpOut): Seq[String] = {
    Files.writeString(work.resolve("kg_oracle.sql"), Kg.canonicalTriplesOracle)
    Nil
  }

  override def artifacts: Map[String, String] = Map(
    "oracle_sql" -> work.resolve("kg_oracle.sql").toString,
    "triples" -> lastOut.resolve("triples").toString)

  private def aliasTriples(cc: DataFrame): DataFrame = cc.select(
    concat(lit("<"), col("node"), lit(">")).as("subj"),
    lit("<http://graft.io/p/canonical>").as("pred"),
    concat(lit("<"), col("component"), lit(">")).as("obj"),
    lit("<http://graft.io/g/entities>").as("graph"))

  def traced(tr: Tracer): Map[String, Double] = {
    def mat(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)
    val t = {
      tr.span("sources", "Transcripts")(Tracer.noop(Transcripts(spark, dir)))
      mat(Transcripts(spark, dir))
    }
    val base = {
      tr.span("rules", "TranscriptRules.triples")(Tracer.noop(TranscriptRules.triples(t)))
      mat(TranscriptRules.triples(t))
    }
    val cc = {
      tr.span("graphops", "ConnectedComponents")(
        Tracer.noop(ConnectedComponents(Gazetteer.aliasEdges(spark, dir))))
      mat(ConnectedComponents(Gazetteer.aliasEdges(spark, dir)))
    }
    val gz = mat(Gazetteer(spark, dir))
    val (lengths, nGaz) = Gazetteer.surfaceTokenLengthsAndCount(gz)
    val bc = Some(nGaz <= Gazetteer.broadcastCutoff(spark))
    def mentions = Gazetteer.mentionsRaw(t, gz, lengths, broadcastGaz = bc)
      .join(broadcast(cc), col("alias_iri") === col("node"))
      .select(
        concat(lit("<http://graft.io/conv/"), col("conv_id"), lit("/turn/"),
          col("turn_idx").cast("string"), lit(">")).as("subj"),
        lit("<http://graft.io/p/mentions>").as("pred"),
        concat(lit("<"), col("component"), lit(">")).as("obj"),
        concat(lit("<http://graft.io/g/"), col("conv_id"), lit(">")).as("graph"))
    val m = {
      tr.span("linking", "Gazetteer.mentionsRaw")(Tracer.noop(mentions))
      mat(mentions)
    }
    val spans = Gazetteer.ngramSpanHashes(t, lengths).count()
    val unioned = base.unionByName(m).unionByName(aliasTriples(cc))
    val triples = {
      tr.span("pipeline", "union + distinct")(Tracer.noop(unioned.distinct()))
      mat(unioned.distinct())
    }
    val before = unioned.count()
    val after = triples.count()
    val agg = tr.agg("materialize")
    tr.drain()
    val jobsBefore = agg.synchronized(agg.jobTimes.length)
    val spanIdx = tr.spans.length
    tr.span("materialize", "Materializer.write")(Materializer.write(triples, tracedOut.toString))
    val writeSpan = tr.spans(spanIdx)
    tr.drain()
    val jobs = agg.synchronized(agg.jobTimes.drop(jobsBefore).toList)
    val verifyS = Main.timed(tr.span("materialize", "Materializer.verifyCounts")(
      require(Materializer.verifyCounts(spark, tracedOut.toString),
        "Materializer.verifyCounts failed in the traced operation")))
    lastOut = tracedOut
    Map(
      "sources.rows_out" -> t.count().toDouble,
      "rules.rows_out" -> base.count().toDouble,
      "graphops.rows_out" -> cc.count().toDouble,
      "linking.rows_out" -> m.count().toDouble,
      "linking.match_ratio" -> m.count().toDouble / math.max(1L, spans),
      "pipeline.rows_out" -> after.toDouble,
      "pipeline.distinct_keep_ratio" -> after.toDouble / math.max(1L, before),
      "materialize.rows_out" -> after.toDouble,
      "materialize.bytes_written" -> Main.dirBytes(tracedOut.resolve("triples")).toDouble,
      "materialize.verify_s" -> verifyS
    ) ++ KgCommit.commitPhases(writeSpan, jobs)
  }
}

object KgCommit {
  /** Splits the `Materializer.write` span into its phases from the jobs it
    * ran: the staging write (up to the last job named after the first
    * Materializer call site, AQE stage jobs before it included), the
    * driver-side commit (the gap until the next job starts) and the
    * metrics table (the rest of the span).
    */
  def commitPhases(span: Span, jobs: List[(Long, Long, String)]): Map[String, Double] = {
    val sorted = jobs.sortBy(_._1)
    val site = sorted.map(_._3).find(_.contains("Materializer.scala"))
    val lastStaging = site.map(s => sorted.lastIndexWhere(_._3 == s)).getOrElse(-1)
    if (lastStaging < 0) return Map.empty
    // listener times are epoch ms, spans monotonic ns: align the clocks
    val offsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
    val startMs = span.startNs / 1e6
    val endMs = span.endNs / 1e6
    val stagingEnd = sorted(lastStaging)._2 - offsetMs
    val metricsStart = sorted.lift(lastStaging + 1).map(_._1 - offsetMs).getOrElse(endMs)
    Map(
      "materialize.stage_job_s" -> (stagingEnd - startMs) / 1e3,
      "materialize.driver_commit_s" -> math.max(0.0, metricsStart - stagingEnd) / 1e3,
      "materialize.metrics_job_s" -> (endMs - metricsStart) / 1e3)
  }
}
