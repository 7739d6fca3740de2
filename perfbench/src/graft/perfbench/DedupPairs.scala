package graft.perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** dedup_pairs: `Dedup.minhashPairs` over a seeded corpus with planted
  * exact and near duplicates; every pair row is written to parquet.
  */
final class DedupPairs(spark: SparkSession, in: Path, work: Path, val rowsIn: Long) extends BatchWorkload {
  val name = "dedup_pairs"
  private val docsPath = in.resolve("docs.parquet").toString
  private val out = work.resolve("out").resolve("pairs")
  private val tracedOut = work.resolve("out").resolve("pairs_traced")
  private var lastOut = out
  val N = 3
  val Threshold = 0.6
  val NumHashes = 32
  val RowsPerBand = 4

  private def docs: DataFrame = spark.read.parquet(docsPath)

  private def write(pairs: DataFrame, p: Path): Unit =
    pairs.write.mode("overwrite").parquet(p.toString)

  def op(): Unit = {
    write(Dedup.minhashPairs(docs, N, Threshold, NumHashes, RowsPerBand), out)
    lastOut = out
  }

  def observe(): OpOut = {
    val p = spark.read.parquet(lastOut.toString)
    val r = p.agg(count(lit(1)),
      sum(xxhash64(col("a"), col("b"), col("jaccard")).cast("decimal(38,0)"))).head
    OpOut(r.getLong(0), Main.dirBytes(lastOut), s"${r.getLong(0)}:${r.getDecimal(1)}")
  }

  def traced(tr: Tracer): Map[String, Double] = {
    tr.span("sources", "read corpus")(Tracer.noop(docs))
    val d = docs.localCheckpoint(eager = true)
    tr.span("dedup", "Dedup.minhashPairs + write")(
      write(Dedup.minhashPairs(d, N, Threshold, NumHashes, RowsPerBand), tracedOut))
    lastOut = tracedOut
    // per-stage breakdown after the operation's spans: each public stage
    // on its materialized input, output to the noop sink
    val stageS = scala.collection.mutable.LinkedHashMap[String, Double]()
    def stage(label: String)(f: => DataFrame): DataFrame = {
      stageS += s"dedup.${label}_s" -> Main.timed(Tracer.noop(f))
      f.localCheckpoint(eager = true)
    }
    val ex = stage("exact")(Dedup.exact(d))
    val reps = d.join(ex.filter(col("doc_id") === col("rep_id")).select("doc_id"), "doc_id")
    val sh = stage("shingles")(Dedup.hashedShingles(reps, N))
    val sig = stage("signatures")(Dedup.minhashSignatures(sh, NumHashes))
    val b = stage("buckets")(Dedup.lshBuckets(sig, NumHashes, RowsPerBand))
    val candidates = b.as("x").join(b.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct().count()
    val pairs = spark.read.parquet(tracedOut.toString)
    val repIds = ex.filter(col("doc_id") === col("rep_id")).select("doc_id")
    val repPairs = pairs
      .join(repIds.withColumnRenamed("doc_id", "a"), "a")
      .join(repIds.withColumnRenamed("doc_id", "b"), "b").count()
    Map(
      "sources.rows_out" -> d.count().toDouble,
      "dedup.rows_out" -> pairs.count().toDouble,
      "dedup.bytes_written" -> Main.dirBytes(tracedOut).toDouble,
      "dedup.candidate_pairs" -> candidates.toDouble,
      "dedup.verified_ratio" -> repPairs.toDouble / math.max(1L, candidates)) ++ stageS
  }

  def plantFault(): Unit = {
    import spark.implicits._
    Seq((-2L, -1L, 1.0)).toDF("a", "b", "jaccard")
      .write.mode("append").parquet(lastOut.toString)
  }

  /** The pair set must equal the exact n-gram Jaccard baseline's. */
  override def check(last: OpOut): Seq[String] = {
    val exact = Dedup.jaccardPairs(docs, N, Threshold)
    val got = spark.read.parquet(lastOut.toString)
    def rows(df: DataFrame) = df.select(col("a"), col("b"), col("jaccard"))
    val missing = rows(exact).exceptAll(rows(got)).count()
    val extra = rows(got).exceptAll(rows(exact)).count()
    if (missing == 0 && extra == 0) Nil
    else Seq(s"dedup pairs differ from Dedup.jaccardPairs: $missing missing, $extra extra")
  }
}
