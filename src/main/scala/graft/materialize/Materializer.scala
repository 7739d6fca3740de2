package graft.materialize

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import java.nio.file.{Files, Paths}

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
  *    `_staging/` (`_SUCCESS` = staging complete); phase 2 moves each
  *    bucket directory into place with an ATOMIC rename and writes its
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
  *  - layout: `bucketed` ends in a REBALANCE on the bucket, so AQE keeps
  *    each bucket in one task and the partitioned write leaves one file
  *    per bucket directory; only a bucket larger than the advisory
  *    partition size is split, so write parallelism is not capped at
  *    nBuckets.
  *  - lineage/metrics: a `_metrics` table with per-bucket triple counts +
  *    distinct graphs, written after data. A commit never reads back the
  *    store it just wrote: the metrics come from the bucketed frame phase 1
  *    staged (persisted until they are written, already clustered by
  *    bucket, so the groupBy adds no exchange). A recomputing resume takes
  *    them from the FULL frame, not the unmarked subset it stages — this
  *    relies on the deterministic recompute the resume protocol assumes.
  *    Only a resume that skips phase 1 reads the committed store for them.
  *    `verifyCounts` compares those totals with the rows in the committed
  *    files' parquet footers — computed against committed, no Spark job.
  */
object Materializer {

  def bucketed(triples: DataFrame, nBuckets: Int): DataFrame =
    triples.distinct()
      .withColumn("bucket", pmod(xxhash64(col("graph")), lit(nBuckets)).cast("int"))
      .hint("rebalance", col("bucket"))

  private def manifestJson(nBuckets: Int): String = s"""{"nBuckets":$nBuckets}"""

  private def deleteRec(p: java.nio.file.Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(q => Files.delete(q))

  /** Write all buckets (optionally resuming), then the metrics table. */
  def write(triples: DataFrame, outDir: String, nBuckets: Int = 64,
      resume: Boolean = false): Unit = {
    val spark = triples.sparkSession
    val root = Paths.get(outDir)
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
    val stagingComplete = Files.exists(staging.resolve("_SUCCESS"))

    // Phase 1 — stage every unmarked bucket (skipped entirely when a
    // previous run crashed after staging: the input is not recomputed).
    val staged =
      if (done.size < nBuckets && !stagingComplete)
        Some(bucketed(triples, nBuckets).persist(StorageLevel.MEMORY_AND_DISK))
      else None
    try {
      staged.foreach { data =>
        val todo =
          if (done.isEmpty) data
          else data.filter(!col("bucket").isin(done.toSeq: _*))
        // subject-clustered layout inside each bucket: parquet min/max
        // stats on subj prune star-join scans (the reference's
        // sorted-ntriples binary-search idea — SansaQueryRewrite.java:4-7)
        todo.sortWithinPartitions(col("bucket"), col("subj"))
          .write.mode(SaveMode.Overwrite)
          .partitionBy("bucket").parquet(staging.toString)
      }

      // Phase 2 — per-bucket atomic rename + marker.
      Files.createDirectories(root.resolve("triples"))
      (0 until nBuckets).filterNot(done).foreach { b =>
        val src = staging.resolve(s"bucket=$b")
        val dst = root.resolve(s"triples/bucket=$b")
        if (Files.exists(src)) {
          deleteRec(dst) // stale partial from a pre-staging crash
          Files.move(src, dst, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        }
        // else: empty bucket, or moved by a run that crashed before its
        // marker — dst (if present) is complete because moves are atomic
        Files.write(root.resolve(s"_bucket_$b.done"), Array.emptyByteArray)
      }
      deleteRec(staging)
      staged.getOrElse(spark.read.parquet(s"$outDir/triples"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_triples"),
          countDistinct(col("graph")).as("n_graphs"))
        .write.mode(SaveMode.Overwrite).parquet(s"$outDir/_metrics")
    } finally staged.foreach(_.unpersist())
  }

  /** Split output: one independent sink per rule group / provenance
    * cluster (the reference clusters statements by source file and opens
    * one sink per cluster — SparqlIntegrateCmdImpls.java:382-455). Each
    * group gets its own resumable bucketed write under `outDir/<name>/`,
    * so groups commit and resume independently.
    */
  def writeSplit(groups: Map[String, DataFrame], outDir: String,
      nBuckets: Int = 64, resume: Boolean = false): Unit =
    groups.foreach { case (name, df) =>
      require(name.matches("[A-Za-z0-9_.-]+"), s"unsafe split name: $name")
      write(df, s"$outDir/$name", nBuckets, resume)
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
    * footers of the files a scan of `triples/` reads — no Spark job there.
    */
  def verifyCounts(spark: SparkSession, outDir: String): Boolean = {
    val m = spark.read.parquet(s"$outDir/_metrics")
    val total = m.agg(sum("n_triples")).head.getLong(0)
    total == graft.Memo.parquetRowCount(spark, s"$outDir/triples")
  }

  /** Serialize a triple DF to N-Quads lines (quad sink equivalent). */
  def toNQuads(triples: DataFrame): DataFrame =
    triples.select(concat_ws(" ", col("subj"), col("pred"), col("obj"),
      col("graph"), lit(".")).as("line"))
}
