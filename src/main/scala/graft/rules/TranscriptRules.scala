package graft.rules

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The built-in CONSTRUCT rule set over the transcript table — the engine's
  * flagship workload (equivalent of the reference's `ngs map --sparql` /
  * `integrate` CONSTRUCT sequences run per named graph, here per
  * conversation; NgsCmdImpls.java:191-216). The rules are SPARQL
  * CONSTRUCT text ([[constructText]]) compiled by [[ConstructParser]], the
  * reference's query-text front door (SparqlIntegrateCmdImpls.java:
  * 337-345).
  *
  * Stable turn ordering is provided by Window.partitionBy(conv_id)
  * .orderBy(turn_idx) — the `next`-turn rule depends on it (per-turn text
  * equality vs the reference requires that order to be deterministic, which
  * (conv_id, turn_idx) guarantees regardless of partitioning).
  */
object TranscriptRules {

  /** The rules: [[constructText]] over [[bindingStream]]. One window
    * shuffle on conv_id; the BINDs are columns and the templates one
    * explode, everything else per-row.
    */
  def triples(transcripts: DataFrame): DataFrame =
    ConstructParser.parseConstruct(constructText).run(bindingStream(transcripts))

  /** The rule set as SPARQL CONSTRUCT text. The WHERE has no triple
    * pattern, so it extends the incoming binding stream
    * ([[bindingStream]]), sbs-map style; tool/next triples are suppressed
    * by unbound-term semantics (no FILTER needed).
    */
  val constructText: String =
    """PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
      |PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
      |PREFIX g: <http://graft.io/>
      |PREFIX p: <http://graft.io/p/>
      |CONSTRUCT {
      |  GRAPH ?gr {
      |    ?turn rdf:type g:Turn .
      |    ?turn p:role ?role .
      |    ?turn p:text ?text .
      |    ?turn p:ts ?tsLit .
      |    ?turn p:conv ?conv .
      |    ?conv p:hasTurn ?turn .
      |    ?turn p:tool ?tool .
      |    ?turn p:next ?next .
      |  }
      |}
      |WHERE {
      |  BIND(IRI(CONCAT("http://graft.io/conv/", ?conv_id, "/turn/", STR(?turn_idx))) AS ?turn)
      |  BIND(IRI(CONCAT("http://graft.io/conv/", ?conv_id)) AS ?conv)
      |  BIND(IRI(CONCAT("http://graft.io/g/", ?conv_id)) AS ?gr)
      |  BIND(STRDT(STR(?ts_us), xsd:long) AS ?tsLit)
      |  BIND(IRI(CONCAT("http://graft.io/conv/", ?conv_id, "/turn/", STR(?next_idx))) AS ?next)
      |}""".stripMargin

  /** The binding stream [[constructText]] runs over: one row per turn,
    * epoch-micro timestamps, and the window-derived successor index (the
    * stable-turn-order shuffle).
    */
  def bindingStream(transcripts: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
    transcripts.select(col("conv_id"), col("turn_idx"), col("role"),
      col("text"), col("tool"),
      unix_micros(col("ts").cast("timestamp")).as("ts_us"),
      lead(col("turn_idx"), 1).over(w).as("next_idx"))
  }

  /** Oracle SQL (DuckDB) reproducing [[triples]] over the `transcripts`
    * CTE. NT escaping: our text has no backslash/quote/control chars by
    * construction, so the escape chain is identity there; kept for parity.
    */
  def oracleSelect: String =
    """SELECT t.subj, t.pred, t.obj, t.graph FROM (
      |  SELECT conv_id, turn_idx, role, text, tool, ts,
      |    '<http://graft.io/conv/' || conv_id || '/turn/' || CAST(turn_idx AS VARCHAR) || '>' AS turn_iri,
      |    '<http://graft.io/conv/' || conv_id || '>' AS conv_iri,
      |    '<http://graft.io/g/' || conv_id || '>' AS g,
      |    lead(turn_idx) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS next_idx
      |  FROM transcripts
      |) x, LATERAL (
      |  SELECT x.turn_iri AS subj, '<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>' AS pred, '<http://graft.io/Turn>' AS obj, x.g AS graph
      |  UNION ALL SELECT x.turn_iri, '<http://graft.io/p/role>', '"' || x.role || '"', x.g
      |  UNION ALL SELECT x.turn_iri, '<http://graft.io/p/text>', '"' || replace(replace(replace(replace(replace(x.text, chr(92), chr(92)||chr(92)), '"', chr(92)||'"'), chr(10), chr(92)||'n'), chr(13), chr(92)||'r'), chr(9), chr(92)||'t') || '"', x.g
      |  UNION ALL SELECT x.turn_iri, '<http://graft.io/p/ts>', '"' || CAST(epoch_us(x.ts) AS VARCHAR) || '"^^<http://www.w3.org/2001/XMLSchema#long>', x.g
      |  UNION ALL SELECT x.turn_iri, '<http://graft.io/p/conv>', x.conv_iri, x.g
      |  UNION ALL SELECT x.conv_iri, '<http://graft.io/p/hasTurn>', x.turn_iri, x.g
      |  UNION ALL SELECT x.turn_iri, '<http://graft.io/p/tool>', '"' || x.tool || '"', x.g WHERE x.tool IS NOT NULL
      |  UNION ALL SELECT x.turn_iri, '<http://graft.io/p/next>', '<http://graft.io/conv/' || x.conv_id || '/turn/' || CAST(x.next_idx AS VARCHAR) || '>', x.g WHERE x.next_idx IS NOT NULL
      |) t""".stripMargin
}
