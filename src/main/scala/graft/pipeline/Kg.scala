package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Transcripts
import graft.rules.TranscriptRules
import graft.linking.Gazetteer
import graft.graphops.ConnectedComponents
import graft.Memo
import graft.Checkpoints.TruncateOps

/** The end-to-end KG-construction pipeline (north rule): triple extraction
  * → entity linking → CC canonicalization → deduplicated triples + stats.
  *
  * Shuffle budget: transcripts window (1 shuffle on conv_id), mention scan
  * (0 — broadcast), CC (log-n rounds over a tiny alias graph), canonical
  * join (0 — broadcast of the node→component map), final distinct
  * (1 shuffle on the triple hash). Entity skew never becomes a shuffle key:
  * hot entities ride broadcast joins end to end.
  */
object Kg {

  // Session memos of the DIMENSION-side artifacts (gazetteer + its
  // longest-surface bound, alias-graph CC map): metadata-scale,
  // corpus-independent, recomputed only when `nation` changes: the
  // production shape (a warm dimension cache). The corpus-scale work is
  // never memoized.
  private def nation(sfDir: String) = Seq(s"$sfDir/nation.parquet")
  private def gazFor(spark: SparkSession, sfDir: String): (DataFrame, Seq[Int], Long) =
    Memo(spark, s"kg.gazetteer:$sfDir", nation(sfDir)) {
      val g = Gazetteer(spark, sfDir).truncateLineage(false)
      // lengths + row count in ONE metadata job; the count feeds the
      // broadcast-cutoff decision so mentionsRaw skips its probe job
      val (lengths, n) = Gazetteer.surfaceTokenLengthsAndCount(g)
      (g, lengths, n)
    }

  def mentions(spark: SparkSession, sfDir: String): DataFrame = {
    val (g, lengths, n) = gazFor(spark, sfDir)
    Gazetteer.mentions(Transcripts(spark, sfDir), g, lengths,
      broadcastGaz = Some(n <= Gazetteer.broadcastCutoff(spark)))
  }

  def aliasCc(spark: SparkSession, sfDir: String): DataFrame =
    Memo(spark, s"kg.aliasCc:$sfDir", nation(sfDir)) {
      ConnectedComponents(Gazetteer.aliasEdges(spark, sfDir))
        .truncateLineage(false)
    }

  /** Deduplicated canonical triples: base extraction + mention triples with
    * canonical entity IRIs + the alias→canonical mapping as triples in a
    * dedicated entities graph.
    */
  def canonicalTriples(spark: SparkSession, sfDir: String): DataFrame =
    canonicalTriplesOver(Transcripts(spark, sfDir), spark, sfDir)

  /** The all-codegen broadcast-join form: measured to scale better than a
    * literal-array (generator rule) variant at corpus scale, because
    * higher-order functions (filter/transform lambdas) execute interpreted
    * while the broadcast join stays inside whole-stage codegen.
    */
  def canonicalTriplesOver(transcripts: DataFrame, spark: SparkSession,
      sfDir: String): DataFrame = {
    val t = transcripts
    val base = TranscriptRules.triples(t)
    val cc = aliasCc(spark, sfDir)
    // per-occurrence mentions: the final distinct() subsumes their dedup
    val (gz, lengths, nGaz) = gazFor(spark, sfDir)
    val m = Gazetteer.mentionsRaw(t, gz, lengths,
        broadcastGaz = Some(nGaz <= Gazetteer.broadcastCutoff(spark)))
      .join(broadcast(cc), col("alias_iri") === col("node"))
      .select(
        concat(lit("<http://graft.io/conv/"), col("conv_id"), lit("/turn/"),
          col("turn_idx").cast("string"), lit(">")).as("subj"),
        lit("<http://graft.io/p/mentions>").as("pred"),
        concat(lit("<"), col("component"), lit(">")).as("obj"),
        concat(lit("<http://graft.io/g/"), col("conv_id"), lit(">")).as("graph"))
    base.unionByName(m).unionByName(aliasTriples(cc)).distinct()
  }

  private def aliasTriples(cc: DataFrame): DataFrame = cc.select(
    concat(lit("<"), col("node"), lit(">")).as("subj"),
    lit("<http://graft.io/p/canonical>").as("pred"),
    concat(lit("<"), col("component"), lit(">")).as("obj"),
    lit("<http://graft.io/g/entities>").as("graph"))

  /** Session memo of the canonical triple table (localCheckpoint:
    * computed once, lineage truncated, blocks GC'd with the session).
    * Downstream consumers (stats, exports) share one computation instead
    * of re-running extraction+linking+CC per query — the production shape
    * is materialize-once, aggregate-many.
    */
  def canonicalTriplesShared(spark: SparkSession, sfDir: String): DataFrame =
    Memo(spark, s"kg.canonicalTriples:$sfDir",
        Seq("events", "documents", "nation").map(t => s"$sfDir/$t.parquet")) {
      canonicalTriples(spark, sfDir).truncateLineage(false)
    }

  /** Per-named-graph profile (VoID-style: reference qb1–qb5 queries). */
  def graphStats(spark: SparkSession, sfDir: String): DataFrame =
    canonicalTriplesShared(spark, sfDir).groupBy(col("graph"))
      .agg(count(lit(1)).as("n_triples"),
        countDistinct(col("subj")).as("n_subjects"),
        countDistinct(col("pred")).as("n_preds"))

  // ---------------------------------------------------------------- oracle

  private def ccMapCte: String =
    s"""nodes AS (SELECT src AS n FROM alias_edges UNION SELECT dst FROM alias_edges),
       |sym AS (SELECT src AS a, dst AS b FROM alias_edges UNION SELECT dst, src FROM alias_edges),
       |walk(node, lbl) AS (
       |  SELECT n, n FROM nodes
       |  UNION
       |  SELECT s.a, w.lbl FROM sym s JOIN walk w ON w.node = s.b
       |),
       |ccmap AS (SELECT node, min(lbl) AS component FROM walk GROUP BY node)""".stripMargin

  private def mentionsCte: String =
    """mentions AS (
      |  SELECT t.conv_id, t.turn_idx, g.surface, g.alias_iri
      |  FROM transcripts t JOIN gaz g
      |    ON position(' ' || trim(regexp_replace(g.surface, '[^A-Za-z0-9]+', ' ', 'g')) || ' '
      |         IN ' ' || regexp_replace(t.text, '[^A-Za-z0-9]+', ' ', 'g') || ' ') > 0
      |)""".stripMargin

  def mentionsOracle: String =
    s"""WITH ${Transcripts.oracleCte},
       |${Gazetteer.gazOracleCte},
       |$mentionsCte
       |SELECT conv_id, turn_idx, surface, alias_iri FROM mentions""".stripMargin

  def aliasCcOracle: String =
    ConnectedComponents.oracleSql(Gazetteer.edgesOracleCte)

  def canonicalTriplesOracle: String =
    s"""WITH RECURSIVE ${Transcripts.oracleCte},
       |${Gazetteer.gazOracleCte},
       |${Gazetteer.edgesOracleCte},
       |$ccMapCte,
       |$mentionsCte,
       |base AS (${TranscriptRules.oracleSelect})
       |SELECT DISTINCT * FROM (
       |  SELECT subj, pred, obj, graph FROM base
       |  UNION ALL
       |  SELECT '<http://graft.io/conv/' || m.conv_id || '/turn/' || CAST(m.turn_idx AS VARCHAR) || '>',
       |         '<http://graft.io/p/mentions>', '<' || c.component || '>',
       |         '<http://graft.io/g/' || m.conv_id || '>'
       |  FROM mentions m JOIN ccmap c ON c.node = m.alias_iri
       |  UNION ALL
       |  SELECT '<' || node || '>', '<http://graft.io/p/canonical>',
       |         '<' || component || '>', '<http://graft.io/g/entities>'
       |  FROM ccmap
       |)""".stripMargin

  def graphStatsOracle: String =
    s"""WITH RECURSIVE ${Transcripts.oracleCte},
       |${Gazetteer.gazOracleCte},
       |${Gazetteer.edgesOracleCte},
       |$ccMapCte,
       |$mentionsCte,
       |base AS (${TranscriptRules.oracleSelect}),
       |canon AS (
       |  SELECT DISTINCT * FROM (
       |    SELECT subj, pred, obj, graph FROM base
       |    UNION ALL
       |    SELECT '<http://graft.io/conv/' || m.conv_id || '/turn/' || CAST(m.turn_idx AS VARCHAR) || '>',
       |           '<http://graft.io/p/mentions>', '<' || c.component || '>',
       |           '<http://graft.io/g/' || m.conv_id || '>'
       |    FROM mentions m JOIN ccmap c ON c.node = m.alias_iri
       |    UNION ALL
       |    SELECT '<' || node || '>', '<http://graft.io/p/canonical>',
       |           '<' || component || '>', '<http://graft.io/g/entities>'
       |    FROM ccmap
       |  )
       |)
       |SELECT graph, count(*) AS n_triples,
       |       count(DISTINCT subj) AS n_subjects,
       |       count(DISTINCT pred) AS n_preds
       |FROM canon GROUP BY graph""".stripMargin
}
