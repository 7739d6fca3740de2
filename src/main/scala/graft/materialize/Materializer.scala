package graft.materialize

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.{ColumnIOFactory, LocalOutputFile, OutputFile}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetWriteSupport}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Graph materializer: deduplicated triples written as named-graph-bucketed
  * parquet with per-partition lineage metrics and resumable checkpoints.
  *
  * Reference semantics: quad sink + atomic tmp-file move
  * (SparqlIntegrateCmdImpls.java:303-325,894-896) and DISTINCT triple
  * output (CmdRml2Exec.java:72). Spark-first re-expression:
  *
  *  - named-graph partitions: graph cardinality is unbounded (one per
  *    conversation), so the partition column is a stable HASH BUCKET of
  *    the graph IRI (`pmod(xxhash64(graph), nBuckets)`) — bounded
  *    directory fan-out at any scale, co-locates each graph in one bucket.
  *  - dedup: `distinct()` over (graph, subj, pred, obj) — one shuffle,
  *    partial aggregation map-side.
  *  - resumability (two phases, markers match job boundaries honestly):
  *    phase 1 stages every unmarked bucket with ONE Spark job into
  *    `_staging/` (`_SUCCESS` = staging complete; a restage first deletes
  *    `_staging`, so parts of a killed run never add rows); phase 2 moves
  *    each bucket directory into place with an ATOMIC rename and writes its
  *    `_bucket_N.done` marker immediately after — so a marker exists IFF
  *    that bucket's data is fully committed. A crash in phase 1 leaves
  *    the output untouched (resume recomputes only unmarked buckets); a
  *    crash in phase 2 resumes by moving the remaining staged buckets —
  *    no recomputation at all. A `_manifest.json` pins nBuckets so a
  *    resume with a different bucketing (which would scramble
  *    pmod(xxhash64) assignments) fails loudly. Every stage is a pure
  *    function of the input, so recomputed buckets are identical
  *    (determinism under retries — SURVEY.md §7.2.7). On object stores
  *    without atomic rename, swap phase 2 for a committer/Iceberg commit.
  *  - layout: `bucketed` ends in a hash REPARTITION on the bucket, which
  *    AQE may coalesce but never splits, so each bucket lies in exactly one
  *    staging task and every bucket directory holds exactly ONE file,
  *    `part-<task partition>.parquet`. (Before, a rebalance let AQE split
  *    a bucket above the advisory partition size into several files.)
  *    The staging job writes the files itself, subject-sorted, with
  *    Spark's own `ParquetWriteSupport` over `java.nio` (`LocalOutputFile`)
  *    under the conf keys and codec Spark's parquet writer uses, so the
  *    bytes are the ones Spark's partitioned write produced — without
  *    Hadoop's local file system, whose every create/mkdirs forks a
  *    `chmod` when libhadoop is not loaded, and without `.crc` files. Each
  *    file is written under a dot-prefixed name unique to the task attempt
  *    and moved atomically onto its final name.
  *  - lineage/metrics: a `_metrics` table with per-bucket triple counts +
  *    distinct graphs. Each staging task returns (bucket, n_triples,
  *    n_graphs) for every bucket it saw; the driver writes those ≤ nBuckets
  *    rows with the same writer, so a commit is one Spark job and never
  *    reads back the store it wrote. A recomputing resume counts the
  *    marked buckets it does not stage too, so the metrics come from the
  *    FULL frame — this relies on the deterministic recompute the resume
  *    protocol assumes. Only a resume that skips phase 1 reads the
  *    committed store for them.
  *  - verify: `verifyCounts` sums `_metrics` and the rows in the committed
  *    files' parquet footers on the driver — zero Spark jobs.
  */
object Materializer {

  def bucketed(triples: DataFrame, nBuckets: Int): DataFrame =
    triples.distinct()
      .withColumn("bucket", pmod(xxhash64(col("graph")), lit(nBuckets)).cast("int"))
      .repartition(col("bucket"))

  private def manifestJson(nBuckets: Int): String = s"""{"nBuckets":$nBuckets}"""

  private def deleteRec(p: java.nio.file.Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(q => Files.delete(q))

  /** Schema of `_metrics` (the nullability Spark's writer gave it). */
  private val metricsSchema = StructType(Seq(
    StructField("bucket", IntegerType, nullable = true),
    StructField("n_triples", LongType, nullable = false),
    StructField("n_graphs", LongType, nullable = false)))

  /** Write all buckets (optionally resuming), then the metrics table. */
  def write(triples: DataFrame, outDir: String, nBuckets: Int = 64,
      resume: Boolean = false): Unit = {
    val spark = triples.sparkSession
    val root = Paths.get(outDir).toAbsolutePath
    Files.createDirectories(root)
    val manifest = root.resolve("_manifest.json")
    if (resume) {
      require(Files.exists(manifest), s"resume: no manifest in $outDir")
      val m = Files.readString(manifest)
      require(m == manifestJson(nBuckets),
        s"resume config mismatch: found $m, got ${manifestJson(nBuckets)}")
    } else {
      deleteRec(root.resolve("triples"))
      deleteRec(root.resolve("_staging"))
      (0 until nBuckets).foreach(b =>
        Files.deleteIfExists(root.resolve(s"_bucket_$b.done")))
      Files.writeString(manifest, manifestJson(nBuckets))
    }
    val done = (0 until nBuckets)
      .filter(b => Files.exists(root.resolve(s"_bucket_$b.done"))).toSet
    val staging = root.resolve("_staging")

    // Phase 1 — stage every unmarked bucket (skipped entirely when a
    // previous run crashed after staging: the input is not recomputed).
    val staged =
      if (done.size < nBuckets && !Files.exists(staging.resolve("_SUCCESS"))) {
        deleteRec(staging)
        Files.createDirectories(staging)
        // subject-clustered layout inside each bucket: parquet min/max
        // stats on subj prune star-join scans (the reference's
        // sorted-ntriples binary-search idea — SansaQueryRewrite.java:4-7)
        val counts = stage(bucketed(triples, nBuckets)
          .sortWithinPartitions(col("bucket"), col("subj")), staging, done)
        Files.write(staging.resolve("_SUCCESS"), Array.emptyByteArray)
        Some(counts)
      } else None

    // Phase 2 — per-bucket atomic rename + marker.
    Files.createDirectories(root.resolve("triples"))
    (0 until nBuckets).filterNot(done).foreach { b =>
      val src = staging.resolve(s"bucket=$b")
      val dst = root.resolve(s"triples/bucket=$b")
      if (Files.exists(src)) {
        deleteRec(dst) // stale partial from a pre-staging crash
        Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE)
      }
      // else: empty bucket, or moved by a run that crashed before its
      // marker — dst (if present) is complete because moves are atomic
      Files.write(root.resolve(s"_bucket_$b.done"), Array.emptyByteArray)
    }
    deleteRec(staging)

    val metrics = staged.getOrElse(spark.read.parquet(s"$root/triples")
      .groupBy(col("bucket"))
      .agg(count(lit(1)), countDistinct(col("graph")))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq)
    val metricsDir = root.resolve("_metrics")
    deleteRec(metricsDir)
    Files.createDirectories(metricsDir)
    val sink = ParquetSink(spark, metricsSchema)
    sink.writeFile(metricsDir.resolve("part-00000.parquet"), "driver",
      metrics.sortBy(_._1).iterator.map { case (b, n, g) => InternalRow(b, n, g) })
    Files.write(metricsDir.resolve("_SUCCESS"), Array.emptyByteArray)
  }

  /** Phase 1's one Spark job: every task writes its rows of each unmarked
    * bucket to `staging/bucket=N/part-<partition>.parquet` and returns
    * (bucket, n_triples, n_graphs) for every bucket it saw, marked ones
    * included. `sorted` is clustered by bucket, one task per bucket.
    */
  private def stage(sorted: DataFrame, staging: Path, done: Set[Int])
      : Seq[(Int, Long, Long)] = {
    val schema = sorted.schema
    val bucketAt = schema.fieldIndex("bucket")
    val graphAt = schema.fieldIndex("graph")
    val sink = ParquetSink(sorted.sparkSession,
      StructType(schema.fields.filterNot(_.name == "bucket")))
    val dir = staging.toString
    val qe = sorted.queryExecution
    val perTask = SQLExecution.withNewExecutionId(qe, Some("Materializer.write")) {
      qe.sparkSession.sparkContext.runJob(qe.toRdd,
        (tc: TaskContext, rows: Iterator[InternalRow]) =>
          stageTask(tc, rows, schema, bucketAt, graphAt, sink, dir, done))
    }
    val counts = perTask.toSeq.flatten
    val split = counts.groupBy(_._1).collect { case (b, s) if s.size > 1 => b }
    require(split.isEmpty, s"buckets split across staging tasks: $split")
    counts
  }

  private def stageTask(tc: TaskContext, rows: Iterator[InternalRow],
      schema: StructType, bucketAt: Int, graphAt: Int, sink: ParquetSink,
      staging: String, done: Set[Int]): Array[(Int, Long, Long)] = {
    val dataColumns = schema.fields.indices.filter(_ != bucketAt)
      .map(i => BoundReference(i, schema(i).dataType, schema(i).nullable))
    val project = UnsafeProjection.create(dataColumns)
    val file = f"part-${tc.partitionId()}%05d.parquet"
    val attempt = tc.taskAttemptId().toString
    val seen = mutable.ArrayBuffer.empty[(Int, Long, Long)]
    val graphs = mutable.HashSet.empty[UTF8String]
    var bucket = 0
    var n = 0L
    var out: sink.Staged = null
    def close(): Unit = if (n > 0) {
      if (out != null) out.commit()
      out = null
      seen += ((bucket, n, graphs.size.toLong))
      graphs.clear()
      n = 0
    }
    try {
      rows.foreach { r =>
        val b = r.getInt(bucketAt)
        if (n > 0 && b != bucket) close()
        if (n == 0) {
          bucket = b
          if (!done(b)) {
            val d = Paths.get(staging, s"bucket=$b")
            Files.createDirectories(d)
            out = new sink.Staged(d.resolve(file), attempt)
          }
        }
        n += 1
        if (!r.isNullAt(graphAt)) {
          val g = r.getUTF8String(graphAt)
          if (!graphs.contains(g)) graphs += g.clone()
        }
        if (out != null) out.write(project(r))
      }
      close()
    } catch {
      case e: Throwable =>
        if (out != null) out.abort()
        throw e
    }
    seen.toArray
  }

  /** Spark's parquet file format for `schema` outside Spark's file writer:
    * the Hadoop conf keys `ParquetUtils.prepareWrite` sets (row schema,
    * legacy format, timestamp type, field ids, nanos, variant annotation)
    * and the session's compression codec. Serializable, for the tasks.
    */
  private final case class ParquetSink(keys: Map[String, String], codec: String) {

    /** A file written under a dot-prefixed name unique to `attempt` next
      * to `file`, moved atomically onto `file` by [[commit]].
      */
    final class Staged(file: Path, attempt: String) {
      private val tmp = file.resolveSibling(
        s".${file.getFileName.toString.stripSuffix(".parquet")}-$attempt.tmp")
      private val writer = new RowWriterBuilder(new LocalOutputFile(tmp))
        .withConf(conf)
        .withCompressionCodec(CompressionCodecName.fromConf(codec))
        .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
        .build()
      def write(row: InternalRow): Unit = writer.write(row)
      def commit(): Unit = {
        writer.close()
        Files.move(tmp, file, StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
      }
      def abort(): Unit =
        try writer.close() finally Files.deleteIfExists(tmp)
    }

    private def conf: Configuration = {
      val c = new Configuration(false)
      keys.foreach { case (k, v) => c.set(k, v) }
      c
    }

    def writeFile(file: Path, attempt: String, rows: Iterator[InternalRow]): Unit = {
      val out = new Staged(file, attempt)
      try rows.foreach(out.write) catch {
        case e: Throwable => out.abort(); throw e
      }
      out.commit()
    }
  }

  private object ParquetSink {
    def apply(spark: SparkSession, schema: StructType): ParquetSink = {
      val sql = spark.sessionState.conf
      val c = new Configuration(false)
      ParquetWriteSupport.setSchema(schema, c)
      c.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key,
        sql.writeLegacyParquetFormat.toString)
      c.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
        sql.parquetOutputTimestampType.toString)
      c.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key,
        sql.parquetFieldIdWriteEnabled.toString)
      c.set(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key,
        sql.legacyParquetNanosAsLong.toString)
      c.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
        sql.parquetAnnotateVariantLogicalType.toString)
      ParquetSink(c.iterator.asScala.map(e => e.getKey -> e.getValue).toMap,
        new ParquetOptions(Map.empty[String, String], sql).compressionCodecClassName)
    }
  }

  private final class RowWriterBuilder(file: OutputFile)
      extends ParquetWriter.Builder[InternalRow, RowWriterBuilder](file) {
    override protected def self(): RowWriterBuilder = this
    override protected def getWriteSupport(conf: Configuration)
        : WriteSupport[InternalRow] = new ParquetWriteSupport
  }

  /** Point lookup of ONE named graph in a materialized store: the bucket
    * predicate is built from the same pmod(xxhash64) expression over a
    * LITERAL, so Catalyst constant-folds it and the parquet scan prunes
    * to a single bucket directory (PartitionFilters — asserted in
    * MaterializerSpec). This is the store's index: graph → bucket,
    * then subject-sorted parquet min/max stats inside the bucket.
    * nBuckets comes from the store's OWN `_manifest.json` (a caller-
    * supplied count that disagreed would silently prune to the wrong
    * directory and return nothing).
    */
  def readGraph(spark: SparkSession, outDir: String, graphIri: String): DataFrame = {
    val manifest = Paths.get(s"$outDir/_manifest.json")
    require(Files.exists(manifest), s"no _manifest.json in $outDir")
    val m = Files.readString(manifest)
    val nBuckets = "\"nBuckets\":(\\d+)".r.findFirstMatchIn(m)
      .getOrElse(throw new IllegalArgumentException(s"bad manifest: $m"))
      .group(1).toInt
    spark.read.parquet(s"$outDir/triples")
      .filter(col("bucket") ===
        pmod(xxhash64(lit(graphIri)), lit(nBuckets)).cast("int") &&
        col("graph") === graphIri)
  }

  /** Lineage check: the metrics table's total (the rows the commit
    * computed) must equal the rows committed, counted from the parquet
    * footers of the files a scan of `triples/` reads. Both sums run on the
    * driver: no Spark job.
    */
  def verifyCounts(spark: SparkSession, outDir: String): Boolean = {
    val conf = spark.sessionState.newHadoopConf()
    val files = graft.Memo.leafFiles(conf, s"$outDir/_metrics")
    require(files.nonEmpty, s"no _metrics table in $outDir")
    val options = ParquetReadOptions.builder().build()
    val total = files.map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf), options)
      try {
        val schema = r.getFooter.getFileMetaData.getSchema
        val io = new ColumnIOFactory().getColumnIO(schema)
        Iterator.continually(r.readNextRowGroup()).takeWhile(_ != null).map { g =>
          val rows = io.getRecordReader(g, new GroupRecordConverter(schema))
          (0L until g.getRowCount).iterator.map(_ => rows.read().getLong("n_triples", 0)).sum
        }.sum
      } finally r.close()
    }.sum
    total == graft.Memo.parquetRowCount(spark, s"$outDir/triples")
  }
}
