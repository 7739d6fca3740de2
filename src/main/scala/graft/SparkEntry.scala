package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Transcripts
import graft.rules.TranscriptRules

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship: the full KG pipeline (extraction + linking + CC
    * canonicalization + dedup) over the transcript table at sf0.001.
    */
  def entry(spark: SparkSession): DataFrame =
    pipeline.Kg.canonicalTriples(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](
    "kg_transcripts" -> ((s, dir) =>
      Transcripts(s, dir)
        .select(col("conv_id"), col("turn_idx"), col("role"), col("text"),
          col("tool"), unix_micros(col("ts").cast("timestamp")).as("ts_us"))),
    "kg_triples" -> ((s, dir) =>
      TranscriptRules.triples(Transcripts(s, dir))),
    // the flagship rules ARE parsed CONSTRUCT text: this entry pins the
    // parse path under its own name
    "construct_parse" -> ((s, dir) =>
      TranscriptRules.triples(Transcripts(s, dir))),
    "kg_mentions" -> ((s, dir) => pipeline.Kg.mentions(s, dir)),
    // LSH internals are hash-seeded => rows-only at the driver; semantics
    // asserted vs an exact all-pairs baseline in KgSpec
    "kg_fuzzy_mentions" -> ((s, dir) =>
      linking.Gazetteer.fuzzyMentions(
        Transcripts(s, dir), linking.Gazetteer(s, dir), threshold = 0.5)),
    "kg_alias_cc" -> ((s, dir) => pipeline.Kg.aliasCc(s, dir)),
    // shared session memo: downstream consumers (graph_stats) aggregate
    // over the materialized table instead of re-running the pipeline
    "kg_canonical_triples" -> ((s, dir) => pipeline.Kg.canonicalTriplesShared(s, dir)),
    "kg_graph_stats" -> ((s, dir) => pipeline.Kg.graphStats(s, dir))
  ) ++ ops.RelationalSuite.queries ++ ops.TrainingSuite.queries ++
    ops.AlgebraSuite.queries ++ ops.RmlSuite.queries ++
    ops.SportalSuite.queries ++ ops.ServerSuite.queries

  /** DuckDB-equivalent SQL per query key (same column names!). */
  def oracleSql: Map[String, String] = Map(
    "kg_transcripts" ->
      s"""WITH ${Transcripts.oracleCte}
         |SELECT conv_id, turn_idx, role, text, tool, epoch_us(ts) AS ts_us
         |FROM transcripts""".stripMargin,
    "kg_triples" ->
      s"""WITH ${Transcripts.oracleCte}
         |${TranscriptRules.oracleSelect}""".stripMargin,
    "construct_parse" ->
      s"""WITH ${Transcripts.oracleCte}
         |${TranscriptRules.oracleSelect}""".stripMargin,
    "kg_mentions" -> pipeline.Kg.mentionsOracle,
    "kg_alias_cc" -> pipeline.Kg.aliasCcOracle,
    "kg_canonical_triples" -> pipeline.Kg.canonicalTriplesOracle,
    "kg_graph_stats" -> pipeline.Kg.graphStatsOracle
  ) ++ ops.RelationalSuite.oracles ++ ops.TrainingSuite.oracles ++
    ops.AlgebraSuite.oracles ++ ops.RmlSuite.oracles ++
    ops.SportalSuite.oracles ++ ops.ServerSuite.oracles
}
