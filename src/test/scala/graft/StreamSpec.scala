package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.StreamOps

/** Structured Streaming operators equal their batch twins on a bounded
  * stream (Trigger.AvailableNow over a staged file directory).
  */
class StreamSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  private def stageDir(copies: (String, String)*): String = {
    val dir = tmpDir("streamspec")
    copies.foreach { case (src, name) =>
      java.nio.file.Files.copy(java.nio.file.Paths.get(src), dir.resolve(name))
    }
    dir.toString
  }

  test("streaming N-Quads source parses like the batch reader") {
    val quads = graft.sources.SyntheticQuads(spark, TestSpark.sf0001).drop("idx")
    val dir = tmpDir("nqstream").toString
    graft.sources.RdfIO.writeNQuads(quads, dir + "/out")
    val q = StreamOps.readNQuadsStream(spark, dir + "/out")
      .writeStream.format("memory").queryName("nq_stream")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.sql("SELECT * FROM nq_stream")
    assert(streamed.count() === quads.count())
    assert(streamed.exceptAll(quads).count() === 0)
  }

  test("watermarked window aggregation equals the batch groupBy") {
    val t = graft.sources.Transcripts(spark, TestSpark.sf0001)
    val dir = tmpDir("wstream").toString
    t.write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    // complete mode: every window emitted with its full count, so the
    // bounded stream is exactly comparable to the batch groupBy (append
    // mode would drop cross-micro-batch late rows — correct streaming
    // semantics, but nondeterministic against a batch oracle)
    val q = StreamOps.roleCountsWindowed(stream)
      .writeStream.format("memory").queryName("role_windows")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.sql(
      "SELECT window.start AS ws, role, count AS n FROM role_windows")
    val batch = t.withColumn("ts", col("ts").cast("timestamp"))
      .groupBy(window(col("ts"), "1 day"), col("role"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("role"), col("n"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("flatMapGroupsWithState running counts converge to batch counts") {
    val t = graft.sources.Transcripts(spark, TestSpark.sf0001)
    val dir = tmpDir("tstream").toString
    t.write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = StreamOps.runningTurnCounts(spark, stream)
      .writeStream.format("memory").queryName("turn_counts")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // the LAST update per conversation is the final running count
    val finalCounts = spark.sql(
      "SELECT conv_id, max(n_turns) AS n FROM turn_counts GROUP BY conv_id")
    val batch = t.groupBy(col("conv_id").cast("string").as("conv_id"))
      .agg(count(lit(1)).as("n"))
    assert(finalCounts.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(finalCounts).count() === 0)
  }
}
