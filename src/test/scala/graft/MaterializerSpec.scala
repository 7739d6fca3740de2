package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import graft.materialize.Materializer
import graft.pipeline.Kg
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._

class MaterializerSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import TestSpark.deleteTree

  private def tmp(): String = tmpDir("store").toString

  private def parquetFiles(dir: Path): Seq[Path] =
    Files.list(dir).iterator.asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq

  private def bucketDirs(out: String): Seq[Path] =
    Files.list(Paths.get(s"$out/triples")).iterator.asScala
      .filter(_.getFileName.toString.startsWith("bucket=")).toSeq

  /** `_metrics` equals the per-bucket counts of the committed store, and
    * every committed bucket is one parquet file.
    */
  private def assertCommitted(out: String): Unit = {
    val m = spark.read.parquet(s"$out/_metrics")
    val store = spark.read.parquet(s"$out/triples").groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_triples"),
        countDistinct(col("graph")).as("n_graphs"))
      .select(m.columns.map(col): _*)
    assert(m.exceptAll(store).isEmpty && store.exceptAll(m).isEmpty)
    val dirs = bucketDirs(out)
    assert(dirs.nonEmpty)
    dirs.foreach(d => assert(parquetFiles(d).size === 1, d))
  }

  /** Physical plans of the SQL executions `body` started. */
  private def plansDuring(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val marker = s"marker-${System.nanoTime}"
    val seen = new CountDownLatch(1)
    val plans = new ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.add(s.physicalPlanDescription)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).map(_.getProperty("spark.job.description"))
            .contains(marker)) seen.countDown()
    }
    sc.addSparkListener(l)
    try {
      body
      // the bus delivers events in order: once the marker job's start
      // arrives, every execution `body` started has been seen
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(seen.await(60, TimeUnit.SECONDS))
      plans.asScala.toSeq
    } finally sc.removeSparkListener(l)
  }

  /** A one-row input whose every column throws when evaluated. */
  private def poisoned(msg: String) = {
    val poison = raise_error(lit(msg)).cast("string")
    spark.range(1).select(poison.as("subj"), poison.as("pred"),
      poison.as("obj"), poison.as("graph"))
  }

  test("write dedups, buckets cover all graphs, metrics match data") {
    val out = tmp()
    val triples = Kg.canonicalTriples(spark, TestSpark.sf0001)
    // inject duplicates — materializer must collapse them
    Materializer.write(triples.unionAll(triples.limit(500)), out, nBuckets = 8)
    val back = spark.read.parquet(s"$out/triples")
    assert(back.count() === triples.distinct().count())
    assert(back.select("bucket").distinct().count() <= 8)
    assert(Materializer.verifyCounts(spark, out))
    assertCommitted(out)
    // deterministic under rewrite (retry-safety)
    val out2 = tmp()
    Materializer.write(triples, out2, nBuckets = 8)
    val back2 = spark.read.parquet(s"$out2/triples")
    assert(back.exceptAll(back2).count() === 0)
    assert(back2.exceptAll(back).count() === 0)
  }

  test("resume skips completed buckets") {
    val out = tmp()
    val triples = Kg.canonicalTriples(spark, TestSpark.sf0001).cache()
    Materializer.write(triples, out, nBuckets = 4)
    val full = spark.read.parquet(s"$out/triples").count()
    // simulate a partial failure: bucket 2 lost its marker and data
    Files.delete(Paths.get(s"$out/_bucket_2.done"))
    val lost = spark.read.parquet(s"$out/triples")
      .filter($"bucket" === 2).count()
    assert(lost > 0)
    // wipe bucket 2's directory
    deleteTree(Paths.get(s"$out/triples/bucket=2"))
    assert(spark.read.parquet(s"$out/triples").count() === full - lost)
    Materializer.write(triples, out, nBuckets = 4, resume = true)
    assert(spark.read.parquet(s"$out/triples").count() === full)
    assert(Materializer.verifyCounts(spark, out))
    // metrics cover every bucket, not only the recomputed one
    assertCommitted(out)
  }

  test("crash-resume: staged buckets are moved, never recomputed; no dups") {
    val triples = Kg.canonicalTriples(spark, TestSpark.sf0001).cache()
    val expectDir = tmp()
    Materializer.write(triples, expectDir, nBuckets = 4)
    val expected = spark.read.parquet(s"$expectDir/triples")

    // hand-build a mid-phase-2 crash state: staging complete (_SUCCESS),
    // bucket 0 moved+marked, bucket 1 moved but UNMARKED (crash between
    // its move and its marker), buckets 2,3 still staged
    val out = tmp()
    Files.writeString(Paths.get(s"$out/_manifest.json"), """{"nBuckets":4}""")
    Materializer.bucketed(triples, 4)
      .sortWithinPartitions(col("bucket"), col("subj"))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$out/_staging")
    Files.createDirectories(Paths.get(s"$out/triples"))
    Files.move(Paths.get(s"$out/_staging/bucket=0"), Paths.get(s"$out/triples/bucket=0"))
    Files.write(Paths.get(s"$out/_bucket_0.done"), Array.emptyByteArray)
    Files.move(Paths.get(s"$out/_staging/bucket=1"), Paths.get(s"$out/triples/bucket=1"))

    // resume with a POISONED input — evaluating any row throws, proving
    // phase 1 never recomputes once staging is complete
    Materializer.write(poisoned("phase 1 must not recompute"), out,
      nBuckets = 4, resume = true)

    val back = spark.read.parquet(s"$out/triples")
    assert(back.count() === expected.count())
    assert(back.exceptAll(expected).count() === 0)
    assert(expected.exceptAll(back).count() === 0)
    assert((0 until 4).forall(b => Files.exists(Paths.get(s"$out/_bucket_$b.done"))))
    assert(Materializer.verifyCounts(spark, out))
    assertCommitted(out)
  }

  test("a fresh or recomputing write and verifyCounts never scan the " +
    "committed store") {
    val out = tmp()
    val triples = Kg.canonicalTriples(spark, TestSpark.sf0001).cache()
    val store = s"$out/triples"
    val fresh = plansDuring {
      Materializer.write(triples, out, nBuckets = 4)
      assert(Materializer.verifyCounts(spark, out))
    }
    assert(fresh.nonEmpty && !fresh.exists(_.contains(store)), fresh)
    Files.delete(Paths.get(s"$out/_bucket_1.done"))
    val resumed = plansDuring {
      Materializer.write(triples, out, nBuckets = 4, resume = true)
      assert(Materializer.verifyCounts(spark, out))
    }
    assert(resumed.nonEmpty && !resumed.exists(_.contains(store)), resumed)
  }

  test("verifyCounts fails on an appended row or a lost bucket file, and " +
    "ignores a stray _temporary part") {
    val triples = Kg.canonicalTriples(spark, TestSpark.sf0001).cache()
    val out = tmp()
    Materializer.write(triples, out, nBuckets = 4)
    val bucket = bucketDirs(out).head
    val stray = Paths.get(s"$out/triples/_temporary/0")
    Files.createDirectories(stray)
    Files.copy(parquetFiles(bucket).head, stray.resolve("part-00000-stray.parquet"))
    assert(Materializer.verifyCounts(spark, out))
    Seq(("<urn:x>", "<urn:x>", "<urn:x>", "<urn:x>"))
      .toDF("graph", "subj", "pred", "obj")
      .write.mode("append").parquet(bucket.toString)
    assert(!Materializer.verifyCounts(spark, out))

    val out2 = tmp()
    Materializer.write(triples, out2, nBuckets = 4)
    assert(Materializer.verifyCounts(spark, out2))
    Files.delete(parquetFiles(bucketDirs(out2).head).head)
    assert(!Materializer.verifyCounts(spark, out2))
  }

  test("write leaves no persisted frame behind, also when staging throws") {
    val sc = spark.sparkContext
    val triples = Kg.canonicalTriples(spark, TestSpark.sf0001)
    val before = sc.getPersistentRDDs.size
    Materializer.write(triples, tmp(), nBuckets = 4)
    assert(sc.getPersistentRDDs.size === before)
    intercept[Exception] {
      Materializer.write(poisoned("staging fails"), tmp(), nBuckets = 4)
    }
    assert(sc.getPersistentRDDs.size === before)
  }

  test("resume with a different nBuckets fails loudly") {
    val out = tmp()
    val triples = Kg.canonicalTriples(spark, TestSpark.sf0001)
    Materializer.write(triples, out, nBuckets = 4)
    intercept[IllegalArgumentException] {
      Materializer.write(triples, out, nBuckets = 8, resume = true)
    }
  }

  test("readGraph prunes the scan to one bucket directory") {
    val out = tmp()
    val triples = Kg.canonicalTriples(spark, TestSpark.sf0001).cache()
    Materializer.write(triples, out, nBuckets = 8)
    val g = triples.select("graph").head.getString(0)
    val got = Materializer.readGraph(spark, out, g) // nBuckets from manifest
    val expected = triples.filter($"graph" === g)
    assert(got.count() === expected.count())
    assert(got.select(expected.columns.map(col): _*)
      .exceptAll(expected).count() === 0)
    // the bucket predicate constant-folds into a partition filter:
    // exactly ONE bucket=N directory survives pruning
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    val scannedBuckets = got.select(input_file_name()).distinct()
      .as[String].collect().map(_.replaceAll(".*bucket=([0-9]+).*", "$1")).toSet
    assert(scannedBuckets.size === 1, scannedBuckets)
  }

  test("verifyCounts starts no Spark job") {
    val out = tmp()
    Materializer.write(Kg.canonicalTriples(spark, TestSpark.sf0001), out,
      nBuckets = 4)
    val (ok, jobs) = TestSpark.jobsDuring(Materializer.verifyCounts(spark, out))
    assert(ok)
    assert(jobs.isEmpty, jobs)
  }

  test("a fresh write leaves no dot-tmp or .crc file in the store") {
    val out = tmp()
    val triples = Kg.canonicalTriples(spark, TestSpark.sf0001)
      .localCheckpoint(eager = true)
    Materializer.write(triples, out, nBuckets = 4)
    for (d <- Seq("triples", "_metrics")) {
      val s = Files.walk(Paths.get(s"$out/$d"))
      val names = try s.iterator.asScala.map(_.getFileName.toString).toList
        finally s.close()
      assert(names.nonEmpty)
      assert(!names.exists(n => n.startsWith(".") || n.endsWith(".crc")), names)
    }
    assert(!Files.exists(Paths.get(s"$out/_staging")))
    assertCommitted(out)
  }

  test("a restage drops stale staged parts of a killed run") {
    val out = tmp()
    val triples = Kg.canonicalTriples(spark, TestSpark.sf0001).cache()
    Materializer.write(triples, out, nBuckets = 4)
    // a run killed mid-staging: bucket 0 lost its marker and data, and
    // `_staging/` (no `_SUCCESS`) holds a stale part and an attempt's tmp
    val stale = parquetFiles(bucketDirs(out).maxBy(_.getFileName.toString)).head
    Files.delete(Paths.get(s"$out/_bucket_0.done"))
    deleteTree(Paths.get(s"$out/triples/bucket=0"))
    val staged = Files.createDirectories(Paths.get(s"$out/_staging/bucket=0"))
    Files.copy(stale, staged.resolve("part-00099.parquet"))
    Files.copy(stale, staged.resolve(".part-00000-7.tmp"))
    Materializer.write(triples, out, nBuckets = 4, resume = true)
    assert(spark.read.parquet(s"$out/triples").count() ===
      triples.distinct().count())
    assertCommitted(out)
    assert(Materializer.verifyCounts(spark, out))
  }

  test("triples/ and _metrics/ keep the schemas Spark's writer gave them") {
    val out = tmp()
    Materializer.write(Kg.canonicalTriples(spark, TestSpark.sf0001), out,
      nBuckets = 4)
    import org.apache.spark.sql.types._
    def nullable(cols: (String, DataType)*) =
      StructType(cols.map { case (n, t) => StructField(n, t, nullable = true) })
    assert(spark.read.parquet(s"$out/triples").schema === nullable(
      "subj" -> StringType, "pred" -> StringType, "obj" -> StringType,
      "graph" -> StringType, "bucket" -> IntegerType))
    assert(spark.read.parquet(s"$out/_metrics").schema === nullable(
      "bucket" -> IntegerType, "n_triples" -> LongType, "n_graphs" -> LongType))
    // the parquet schemas in the footers, repetition included
    def footer(dir: String): String = {
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      val conf = spark.sessionState.newHadoopConf()
      val f = Memo.leafFiles(conf, dir).head
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
      try r.getFooter.getFileMetaData.getSchema.toString.replaceAll("\\s+", " ")
      finally r.close()
    }
    assert(footer(s"$out/triples") === "message spark_schema { " +
      "optional binary subj (STRING); optional binary pred (STRING); " +
      "optional binary obj (STRING); optional binary graph (STRING); } ")
    assert(footer(s"$out/_metrics") === "message spark_schema { " +
      "optional int32 bucket; required int64 n_triples; " +
      "required int64 n_graphs; } ")
  }

  test("staged files hold the bytes of Spark's partitioned parquet write") {
    val triples = Kg.canonicalTriples(spark, TestSpark.sf0001)
      .localCheckpoint(eager = true)
    val out = tmp()
    Materializer.write(triples, out, nBuckets = 4)
    val viaSpark = tmp()
    Materializer.bucketed(triples, 4)
      .sortWithinPartitions(col("bucket"), col("subj"))
      .write.mode("overwrite").partitionBy("bucket").parquet(viaSpark)
    val dirs = bucketDirs(out)
    assert(dirs.size === 4)
    dirs.foreach { d =>
      val theirs = parquetFiles(Paths.get(s"$viaSpark/${d.getFileName}"))
      assert(theirs.size === 1, d)
      assert(java.util.Arrays.equals(Files.readAllBytes(parquetFiles(d).head),
        Files.readAllBytes(theirs.head)), d)
    }
  }

  test("nquads serialization shape") {
    val df = Seq(("<s>", "<p>", "\"o\"", "<g>"),
      ("<s>", "<p>", "\"o\"", "<urn:x-arq:DefaultGraph>"))
      .toDF("subj", "pred", "obj", "graph")
    // a named graph is the fourth term; the default graph writes none
    assert(graft.sources.RdfIO.nquadLines(df).as[String].collect().toSeq ===
      Seq("<s> <p> \"o\" <g> .", "<s> <p> \"o\" ."))
  }
}
