package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Extra benchmarks for the optimization rounds (guide §1.4): noop-sink
  * isolation of sub-stages, in-JVM repeats (this box's wall clock swings
  * ±50% across JVMs, so A/B across processes is meaningless), GC-time
  * deltas, and plan dumps for `plans/r10/`.
  *
  * NOT part of the driver contract — `graft.Bench` stays frozen; numbers
  * from here are cited in OPTIMIZATION_r10.md only.
  */
object BenchExtra {

  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
  }

  /** Time `f` (an action) `reps` times; print per-rep seconds + GC delta. */
  private def bench(label: String, reps: Int = 3)(f: => Unit): Double = {
    val times = (1 to reps).map { _ =>
      val g0 = gcMillis(); val t0 = System.nanoTime()
      f
      val dt = (System.nanoTime() - t0) / 1e9
      (dt, (gcMillis() - g0) / 1e3)
    }
    System.err.println(f"[extra] $label%-34s " +
      times.map { case (t, g) => f"$t%6.2fs(gc $g%4.1f)" }.mkString(" "))
    times.map(_._1).min
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val mode = args.headOption.getOrElse("explain")
    val spark = LocalSession(s"graft-benchextra-$cpus", cpus.toString)

    mode match {
      case "explain" => explainAll(spark, sfDir, args.lift(1).getOrElse("before"))
      case "hdt" => hdtDecompose(spark, sfDir)
      case "minhash" => minhashDecompose(spark, sfDir)
      case "one" =>
        // repeat a single declared query in-JVM: cold then steady
        val name = args(1)
        val q = SparkEntry.queries(name)
        bench(s"$name (x5)", reps = 5)(q(spark, sfDir).count())
      case other => sys.error(s"unknown mode $other")
    }
    spark.stop()
  }

  /** HDT encode vs decode split for rdf_hdt_scan. */
  private def hdtDecompose(spark: SparkSession, sfDir: String): Unit = {
    val trip = SparkEntry.queries("kg_triples")
    val path = "/tmp/graft-extra-hdt.hdt"
    new java.io.File(path).delete()
    bench("hdt triples input count", reps = 2)(trip(spark, sfDir).count())
    var rows: Array[(String, String, String)] = null
    bench("hdt distinct+collect (spark)", reps = 3) {
      import spark.implicits._
      rows = trip(spark, sfDir).selectExpr("subj", "pred", "obj")
        .distinct().as[(String, String, String)].collect()
    }
    bench("hdt local encode (driver)", reps = 3) {
      new java.io.File(path).delete()
      sources.HdtIO.writeHdtLocal(rows, path)
    }
    bench("hdt encode (driver)", reps = 3) {
      new java.io.File(path).delete()
      sources.HdtIO.writeHdt(trip(spark, sfDir), path)
    }
    bench("hdt load (driver parse)", reps = 3)(sources.HdtIO.load(path))
    bench("hdt decode count", reps = 3)(
      sources.HdtIO.readHdt(spark, path).count())
    bench("hdt auto-probe read count", reps = 3)(
      sources.RdfIO.readRdfAuto(spark, path).count())
  }

  /** Stage split of dedup_minhash as the bench runs it. */
  private def minhashDecompose(spark: SparkSession, sfDir: String): Unit = {
    import graft.dedup.Dedup
    val docs = ops.TrainingSuite.dupCorpus(spark, sfDir)
    bench("dupCorpus noop", reps = 3)(noop(docs))
    bench("exact() noop", reps = 3)(noop(Dedup.exact(docs)))
    bench("hashedShingles noop", reps = 3) {
      val ex = Dedup.exact(docs)
      val reps0 = docs.join(
        ex.filter(col("doc_id") === col("rep_id")).select("doc_id"), "doc_id")
      noop(Dedup.hashedShingles(reps0, 3))
    }
    bench("minhashPairs count", reps = 3)(
      Dedup.minhashPairs(docs, n = 3, threshold = 0.6).count())
  }

  /** Write .explain("formatted") for every [[SparkEntry.queries]] entry
    * (the headline ones included) to plans/r10/, so two checkouts' dumps
    * can be compared with `tools/explain_diff.sh`. An entry that fails to
    * build is reported and skipped.
    * `kg_canonical_triples`'s declared entry memoizes through a
    * localCheckpoint (its plan is just the checkpoint scan), so the
    * UNDERLYING pipeline plan is dumped as
    * `kg_canonical_underlying_<tag>.txt` too.
    */
  private def explainAll(spark: SparkSession, sfDir: String, tag: String): Unit = {
    val dir = java.nio.file.Paths.get("plans/r10")
    java.nio.file.Files.createDirectories(dir)
    def dump(name: String, df: => org.apache.spark.sql.DataFrame): Unit =
      try {
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(dir.resolve(s"${name}_$tag.txt"),
          txt.getBytes("UTF-8"))
        System.err.println(s"[extra] wrote plans/r10/${name}_$tag.txt")
      } catch { case e: Throwable =>
        System.err.println(s"[extra] $name explain failed: ${e.getMessage}")
      }
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, q) =>
      dump(name, q(spark, sfDir)) }
    dump("kg_canonical_underlying",
      pipeline.Kg.canonicalTriples(spark, sfDir))
  }
}
