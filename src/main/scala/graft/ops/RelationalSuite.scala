package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.SyntheticQuads

/** ngs/sbs/JSON operator queries + DuckDB oracles (SURVEY.md §2.2-2.8).
  * Each entry: same column names Spark-side and oracle-side.
  */
object RelationalSuite {

  private def quads(s: SparkSession, dir: String) = SyntheticQuads(s, dir)
  // fixture files are deterministic functions of (dir): written once
  // per session and input version instead of on every query construction
  // (three queries share the SRJ file — repeated driver-side
  // collect+write would land in bench time)
  private def srjFixture(s: SparkSession, dir: String): String =
    graft.Memo(s, "fixture.srj:" + dir, Seq(s"$dir/events.parquet")) {
      val p = graft.sources.ResultSetIO.fixturePath(dir)
      graft.sources.ResultSetIO.writeSrjFixture(s, dir, p)
      p
    }
  /** Verbatim reference fixture from the classpath (provenance:
    * src/main/resources/reference/README.md). Shared with
    * ReferenceTestsSpec — one loader, one tmp naming scheme.
    */
  private[graft] def refResource(name: String,
      dir: String = "reference"): String = {
    val in = getClass.getResourceAsStream(s"/$dir/$name")
    require(in != null, s"missing classpath resource /$dir/$name")
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  /** Reference fixture materialized to a tmp path (scans take paths);
    * fixture-scale by construction (the files are the reference's own
    * KB-sized test resources). The write is ATOMIC (temp + move) so a
    * concurrent reader in another JVM (test run beside a Verify run)
    * never sees a half-written file. Written once per JVM: the source is a
    * classpath resource, no session is involved.
    */
  private[graft] def refFixture(name: String): String =
    graft.Memo.jvm("fixture.ref:" + name, Nil) {
      val p = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_ref_" + name)
      val tmp = java.nio.file.Files.createTempFile(p.getParent, "graft_ref_", ".tmp")
      java.nio.file.Files.writeString(tmp, refResource(name))
      java.nio.file.Files.move(tmp, p,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      p.toString
    }

  private def events(s: SparkSession, dir: String) =
    s.read.parquet(s"$dir/events.parquet")
  private def documents(s: SparkSession, dir: String) =
    s.read.parquet(s"$dir/documents.parquet")
  private def customer(s: SparkSession, dir: String) =
    s.read.parquet(s"$dir/customer.parquet")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- ngs family (over the F3 synthetic graph corpus) ---------------
    "ngs_filter_even" -> ((s, dir) =>
      NgsOps.askFilter(quads(s, dir), col("pred") === SyntheticQuads.IdxPred
        && col("idx") % 2 === 0).drop("idx")),
    "ngs_hash" -> ((s, dir) => {
      val q = quads(s, dir)
      val hashed = q.select(col("graph"), col("subj"),
        lit(SyntheticQuads.HashPred).as("pred"),
        concat(lit("\""), sha2(regexp_replace(col("graph"), "^<|>$", ""), 256),
          lit("\"")).as("obj"))
      q.drop("idx").unionByName(hashed)
    }),
    "ngs_head" -> ((s, dir) =>
      NgsOps.headGraphs(quads(s, dir).drop("idx"), 10)),
    "ngs_tail" -> ((s, dir) =>
      NgsOps.tailGraphs(quads(s, dir).drop("idx"), 5)),
    "ngs_sort" -> ((s, dir) =>
      NgsOps.sortGraphs(quads(s, dir), max(col("idx")), descending = true)
        .select(col("graph"), col("key").cast("long").as("key"), col("rank"))),
    "ngs_sort_unique" -> ((s, dir) =>
      NgsOps.sortGraphsUnique(quads(s, dir), max(col("idx") % 100))
        .drop("idx")),
    "ngs_sort_merged" -> ((s, dir) =>
      NgsOps.sortGraphsMerged(quads(s, dir), max(col("idx") % 100))),
    "ngs_subjects" -> ((s, dir) =>
      NgsOps.subjects(SyntheticQuads.mixedSubjectTriples(s, dir))),
    "ngs_wc" -> ((s, dir) => NgsOps.wc(quads(s, dir))),
    // merge/join of two named-graph streams (unimplemented in the
    // reference CLI; relational forms shipped beyond it): two
    // overlapping row-subsets of the corpus
    "ngs_merge" -> ((s, dir) => {
      val q = quads(s, dir)
      NgsOps.mergeStreams(q.where(col("idx") % 2 === 0).drop("idx"),
        q.where(col("idx") % 3 === 0).drop("idx"))
    }),
    "ngs_join" -> ((s, dir) => {
      val q = quads(s, dir)
      NgsOps.joinStreams(q.where(col("idx") % 2 === 0).drop("idx"),
        q.where(col("idx") % 3 === 0).drop("idx"))
    }),
    "ngs_map_graph" -> ((s, dir) =>
      NgsOps.mapToGraph(NgsOps.headGraphs(quads(s, dir).drop("idx"), 3),
        "<urn:merged>")),
    "ngs_while" -> ((s, dir) =>
      NgsOps.whileGraphs(quads(s, dir), col("idx") % 100 =!= 7).drop("idx")),
    // the reference's OWN JUnit scenario (TestCliNgs.java:8-14): `ngs map
    // --sparql ngs-map.sparql` over ngs-nato-phonetic-alphabet.trig,
    // fixtures verbatim under /reference (ReferenceTestsSpec asserts the
    // full scenario; this is its oracled conformance row)
    "ngs_map_nato" -> ((s, _) =>
      NgsOps.mapSparql(
        graft.sources.RdfIO.readTrig(s, refFixture("ngs-nato-phonetic-alphabet.trig")),
        refResource("ngs-map.sparql"))),

    // --- sbs family (binding streams; front door = SPARQL-results JSON) --
    "sbs_srj_scan" -> ((s, dir) => {
      val p = srjFixture(s, dir)
      graft.sources.ResultSetIO.readSrj(s, p)
    }),
    "sbs_srj_lines" -> ((s, dir) => {
      // splittable line-oriented binding stream (one JSON object/line):
      // the cluster-scale SRJ path, same decoder, same oracle
      val p = graft.sources.ResultSetIO.fixturePath(dir) + ".jsonl"
      graft.sources.ResultSetIO.writeSrjLinesFixture(s, dir, p)
      graft.sources.ResultSetIO.readSrjLines(s, p)
    }),
    "sbs_srx_scan" -> ((s, dir) => {
      val p = graft.sources.ResultSetIO.fixturePath(dir) + ".srx"
      graft.sources.ResultSetIO.writeSrxFixture(s, dir, p)
      graft.sources.ResultSetIO.readSrx(s, p)
    }),
    "sbs_tsv_scan" -> ((s, dir) => {
      val p = graft.sources.ResultSetIO.fixturePath(dir) + ".tsv"
      graft.sources.ResultSetIO.writeTsvFixture(s, dir, p)
      graft.sources.ResultSetIO.readTsv(s, p)
    }),
    "sbs_filter" -> ((s, dir) => {
      // sbs filter applied to a real result-set scan (SbsCmdImpls.java:
      // 65-120 header sniff + :178-202 expression filter)
      val p = srjFixture(s, dir)
      SbsOps.filter(graft.sources.ResultSetIO.readSrjValues(s, p),
        Seq(col("etype") === "purchase", col("cents").cast("long") > 10000))
        .select(col("id").cast("long").as("id"),
          col("cents").cast("long").as("cents"), col("actor"))
    }),
    "sbs_srj_groupby" -> ((s, dir) => {
      val p = srjFixture(s, dir)
      SbsOps.mapGroupBy(graft.sources.ResultSetIO.readSrjValues(s, p),
        Seq(col("etype")),
        Seq(count(lit(1)).as("n"), sum(col("cents").cast("long")).as("sum_cents"),
          count(col("k")).as("n_bound_k")))
    }),
    "sbs_groupby" -> ((s, dir) =>
      SbsOps.mapGroupBy(events(s, dir), Seq(col("event_type")),
        Seq(count(lit(1)).as("n"), countDistinct(col("user_id")).as("nd_users"),
          round(sum(col("value")), 2).as("sum_value")))),
    // the reference's SELECT short form, driven from TEXT (SbsCmdImpls.
    // java:210-217, README-SBS.md) — same oracle as sbs_groupby
    "sbs_select_text" -> ((s, dir) => {
      val q =
        """SELECT ?event_type (COUNT(*) AS ?n) (COUNT(DISTINCT ?user_id) AS ?nd_users)
          |       (ROUND(SUM(?value), 2) AS ?sum_value)
          |WHERE {}
          |GROUP BY ?event_type ORDER BY DESC(?n)""".stripMargin
      graft.rules.ConstructParser.parseSelect(q).run(events(s, dir))
    }),
    // extended aggregate battery from text: AVG/MIN/MAX/SAMPLE/GROUP_CONCAT
    // (SURVEY §2.5; SAMPLE -> min and GROUP_CONCAT sorted for determinism)
    "sbs_agg_full" -> ((s, dir) => {
      val q =
        """SELECT ?event_type (ROUND(AVG(?value), 4) AS ?avg_v)
          |       (ROUND(MIN(?value), 2) AS ?min_v) (ROUND(MAX(?value), 2) AS ?max_v)
          |       (SAMPLE(?utag) AS ?first_user)
          |       (GROUP_CONCAT(DISTINCT ?utag; SEPARATOR="|") AS ?users)
          |WHERE { BIND(STR(?user_id) AS ?utag) }
          |GROUP BY ?event_type""".stripMargin
      graft.rules.ConstructParser.parseSelect(q).run(events(s, dir))
    }),
    // plain (non-aggregating) SELECT from text: BIND + FILTER + ORDER BY +
    // LIMIT/OFFSET over a binding stream
    "sbs_select_proj" -> ((s, dir) => {
      val q =
        """SELECT ?event_id ?loud
          |WHERE { BIND(CONCAT(?event_type, "!") AS ?loud)
          |        FILTER(?event_type = "purchase") }
          |ORDER BY ?event_id LIMIT 100 OFFSET 10""".stripMargin
      graft.rules.ConstructParser.parseSelect(q).run(events(s, dir))
    }),
    // the reference's sbs JUnit battery head query
    // (TestSparqlBindingStreamOperators.java:12-28): aggregate + constant
    // IRI projection over js-query-3.srj — terms in, SUM by numeric value
    "sbs_js_sum_const" -> ((s, _) =>
      graft.rules.ConstructParser
        .parseSelectTerms("SELECT (SUM(?X) AS ?sum) (<foo> AS ?Y) {}")
        .run(graft.sources.ResultSetIO.readSrj(s, refFixture("js-query-3.srj")))),
    "sbs_union_headers" -> ((s, dir) => {
      val e = events(s, dir)
      SbsOps.unionHeaders(Seq(
        e.filter(col("event_type") === "signup")
          .select(col("event_id"), col("user_id")),
        e.filter(col("event_type") === "error")
          .select(col("event_id"), round(col("value"), 2).as("value"))))
    }),

    // --- JSON / CSV function family (SURVEY.md §2.8) --------------------
    "json_path" -> ((s, dir) =>
      events(s, dir).select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))),
    // (formerly mislabeled json_unnest — it tokenizes text, so it lives in
    // the text family; the REAL json:unnest over JSON arrays is below)
    "text_tokens" -> ((s, dir) =>
      documents(s, dir)
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("idx"),
          col("col").as("item"))),
    // real json:unnest: JSON array (string, number, boolean, object) →
    // one row per element with auto-typed RDF literals
    // (docs/examples/README.md:166-204)
    "json_unnest" -> ((s, dir) => {
      val arr = concat(lit("[\""), col("event_type"), lit("\","),
        get_json_object(col("props"), "$.k"), lit(","),
        when(col("event_id") % 2 === 0, lit("true")).otherwise(lit("false")),
        lit(",{\"k\":"), get_json_object(col("props"), "$.k"), lit("}]"))
      graft.functions.JsonFns.unnest(
        events(s, dir).withColumn("__arr", arr),
        col("__arr"), Seq(col("event_id")))
    }),
    "json_convert" -> ((s, dir) =>
      customer(s, dir).select(col("c_custkey"),
        graft.functions.JsonFns.jsonConvert(col("c_custkey")).as("k_json"),
        graft.functions.JsonFns.jsonConvert(col("c_name")).as("name_json"),
        graft.functions.JsonFns.jsonConvert(col("c_custkey") % 2 === 0)
          .as("flag_json"))),
    "json_array" -> ((s, dir) =>
      customer(s, dir).select(col("c_custkey"),
        graft.functions.JsonFns.jsonArray(col("c_custkey"), col("c_name"),
          col("c_custkey") % 2 === 0).as("arr"))),
    // xml:unnest: explode XPath matches into rows
    // (docs/examples/README.md:456-500 streaming table fn; here the match
    // list is an xpath() array exploded by a Catalyst Generator)
    "xml_unnest" -> ((s, dir) =>
      customer(s, dir)
        .select(col("c_custkey"),
          concat(lit("<r><li>"), col("c_name"), lit("</li><li>"),
            col("c_mktsegment"), lit("</li><li>k"),
            col("c_custkey").cast("string"), lit("</li></r>")).as("xml"))
        .select(col("c_custkey"),
          posexplode(xpath(col("xml"), lit("/r/li/text()"))))
        .select(col("c_custkey"), col("pos").cast("int").as("idx"),
          col("col").as("item"))),
    "json_object" -> ((s, dir) =>
      customer(s, dir).select(col("c_custkey"),
        to_json(struct(col("c_name").as("name"),
          col("c_mktsegment").as("segment"))).as("j"))),
    "json_zip_arrays" -> ((s, dir) =>
      // docs/examples/json-zip-arrays.sparql: join two arrays on index
      documents(s, dir).filter(col("doc_id") < 50)
        .select(col("doc_id"),
          zip_with(split(col("text"), " "), split(col("text"), " "),
            (x, y) => struct(x.as("a"), y.as("b"))).as("z"))
        .select(col("doc_id"), posexplode(col("z")))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("idx"),
          col("col.a").as("a"), col("col.b").as("b")))
  )

  private val Q = SyntheticQuads.oracleCte
  val oracles: Map[String, String] = Map(
    "ngs_filter_even" ->
      s"""WITH $Q
         |SELECT graph, subj, pred, obj FROM quads
         |WHERE graph IN (SELECT graph FROM quads WHERE idx % 2 = 0)""".stripMargin,
    "ngs_hash" ->
      s"""WITH $Q
         |SELECT graph, subj, pred, obj FROM quads
         |UNION ALL
         |SELECT graph, subj, '<http://www.example.org/hash>',
         |       '"' || sha256(trim(graph, '<>')) || '"'
         |FROM quads""".stripMargin,
    "ngs_merge" ->
      s"""WITH $Q
         |SELECT DISTINCT graph, subj, pred, obj FROM quads
         |WHERE idx % 2 = 0 OR idx % 3 = 0""".stripMargin,
    "ngs_join" ->
      s"""WITH $Q,
         |a AS (SELECT * FROM quads WHERE idx % 2 = 0),
         |b AS (SELECT * FROM quads WHERE idx % 3 = 0)
         |SELECT DISTINCT graph, subj, pred, obj
         |FROM (SELECT * FROM a UNION ALL SELECT * FROM b)
         |WHERE graph IN (SELECT graph FROM a INTERSECT SELECT graph FROM b)""".stripMargin,
    "ngs_head" ->
      s"""WITH $Q
         |SELECT graph, subj, pred, obj FROM quads
         |WHERE graph IN (SELECT DISTINCT graph FROM quads ORDER BY graph LIMIT 10)""".stripMargin,
    "ngs_tail" ->
      s"""WITH $Q
         |SELECT graph, subj, pred, obj FROM quads
         |WHERE graph NOT IN (SELECT DISTINCT graph FROM quads ORDER BY graph LIMIT 5)""".stripMargin,
    "ngs_sort" ->
      s"""WITH $Q,
         |keyed AS (SELECT graph, max(idx) AS key FROM quads GROUP BY graph)
         |SELECT graph, key,
         |       CAST(row_number() OVER (ORDER BY key DESC, graph ASC) AS INT) AS rank
         |FROM keyed""".stripMargin,
    "ngs_sort_unique" ->
      s"""WITH $Q,
         |keyed AS (SELECT graph, max(idx % 100) AS key FROM quads GROUP BY graph),
         |keep AS (SELECT min(graph) AS graph FROM keyed GROUP BY key)
         |SELECT graph, subj, pred, obj FROM quads
         |WHERE graph IN (SELECT graph FROM keep)""".stripMargin,
    "ngs_sort_merged" ->
      s"""WITH $Q,
         |keyed AS (SELECT graph, max(idx % 100) AS key FROM quads GROUP BY graph),
         |tg AS (SELECT key, min(graph) AS tgt FROM keyed GROUP BY key)
         |SELECT t.tgt AS graph, q.subj, q.pred, q.obj
         |FROM quads q JOIN keyed k ON k.graph = q.graph
         |JOIN tg t ON t.key = k.key""".stripMargin,
    "ngs_subjects" ->
      s"""WITH ${SyntheticQuads.mixedSubjectOracleCte}
         |SELECT CASE WHEN subj LIKE '<%' THEN subj
         |            WHEN subj LIKE '_:%' THEN '<urn:bnode:' || substr(subj, 3) || '>'
         |            ELSE '<urn:literal:' || replace(trim(subj, '"'), ' ', '+') || '>' END AS graph,
         |       subj, pred, obj
         |FROM mixed""".stripMargin,
    "ngs_wc" ->
      s"""WITH $Q
         |SELECT count(DISTINCT graph) AS n_graphs, count(*) AS n_quads FROM quads""".stripMargin,
    "ngs_map_graph" ->
      s"""WITH $Q
         |SELECT '<urn:merged>' AS graph, subj, pred, obj FROM quads
         |WHERE graph IN (SELECT DISTINCT graph FROM quads ORDER BY graph LIMIT 3)""".stripMargin,
    "ngs_while" ->
      s"""WITH $Q,
         |ranked AS (
         |  SELECT graph, max(CASE WHEN idx % 100 <> 7 THEN 1 ELSE 0 END) AS ok,
         |         row_number() OVER (ORDER BY graph) AS rnk
         |  FROM quads GROUP BY graph
         |),
         |stop AS (SELECT coalesce(min(rnk), 9223372036854775807) AS s FROM ranked WHERE ok = 0)
         |SELECT q.graph, q.subj, q.pred, q.obj
         |FROM quads q JOIN ranked r ON r.graph = q.graph, stop
         |WHERE r.rnk < stop.s""".stripMargin,
    // the nato fixture is a fixed 9-graph file (reference test resource,
    // alfa..india); the per-record constant CONSTRUCT emits exactly one
    // <urn:charming> triple wrapped into each record's graph
    "ngs_map_nato" ->
      """SELECT '<http://example.org/' || g || '>' AS graph,
        |       '<urn:charming>' AS subj, '<urn:charming>' AS pred,
        |       '<urn:charming>' AS obj
        |FROM (VALUES ('alfa'),('bravo'),('charlie'),('delta'),('echo'),
        |             ('foxtrot'),('golf'),('hotel'),('india')) t(g)""".stripMargin,
    // js-query-3.srj holds ONE binding X="10"^^xsd:integer; SUM's value
    // domain is double (documented engine reduction). NOTE: this oracle
    // pins the ENGINE'S reduction, not SPARQL §18.5.1's xsd:integer sum
    // for integer input — if SUM ever regains a typed integer domain,
    // this CAST must change to CAST(10 AS BIGINT) in lockstep.
    "sbs_js_sum_const" ->
      """SELECT CAST(10 AS DOUBLE) AS sum, '<foo>' AS Y""".stripMargin,
    "sbs_srj_scan" ->
      """SELECT '"' || CAST(event_id AS VARCHAR) || '"^^<http://www.w3.org/2001/XMLSchema#integer>' AS id,
        |       '"' || event_type || '"' AS etype,
        |       '"' || CAST(CAST(round(value*100) AS BIGINT) AS VARCHAR) || '"^^<http://www.w3.org/2001/XMLSchema#integer>' AS cents,
        |       '<urn:user:' || CAST(user_id AS VARCHAR) || '>' AS actor,
        |       CASE WHEN event_id % 5 = 0 THEN NULL
        |            ELSE '"' || (props->>'$.k') || '"^^<http://www.w3.org/2001/XMLSchema#integer>' END AS k
        |FROM events WHERE event_id < 2000""".stripMargin,
    "sbs_srj_lines" -> // same logical content as the SRJ document scan
      """SELECT '"' || CAST(event_id AS VARCHAR) || '"^^<http://www.w3.org/2001/XMLSchema#integer>' AS id,
        |       '"' || event_type || '"' AS etype,
        |       '"' || CAST(CAST(round(value*100) AS BIGINT) AS VARCHAR) || '"^^<http://www.w3.org/2001/XMLSchema#integer>' AS cents,
        |       '<urn:user:' || CAST(user_id AS VARCHAR) || '>' AS actor,
        |       CASE WHEN event_id % 5 = 0 THEN NULL
        |            ELSE '"' || (props->>'$.k') || '"^^<http://www.w3.org/2001/XMLSchema#integer>' END AS k
        |FROM events WHERE event_id < 2000""".stripMargin,
    "sbs_srx_scan" -> // same logical content as the SRJ scan
      """SELECT '"' || CAST(event_id AS VARCHAR) || '"^^<http://www.w3.org/2001/XMLSchema#integer>' AS id,
        |       '"' || event_type || '"' AS etype,
        |       '"' || CAST(CAST(round(value*100) AS BIGINT) AS VARCHAR) || '"^^<http://www.w3.org/2001/XMLSchema#integer>' AS cents,
        |       '<urn:user:' || CAST(user_id AS VARCHAR) || '>' AS actor,
        |       CASE WHEN event_id % 5 = 0 THEN NULL
        |            ELSE '"' || (props->>'$.k') || '"^^<http://www.w3.org/2001/XMLSchema#integer>' END AS k
        |FROM events WHERE event_id < 2000""".stripMargin,
    "sbs_tsv_scan" -> // same logical content as the SRJ scan
      """SELECT '"' || CAST(event_id AS VARCHAR) || '"^^<http://www.w3.org/2001/XMLSchema#integer>' AS id,
        |       '"' || event_type || '"' AS etype,
        |       '"' || CAST(CAST(round(value*100) AS BIGINT) AS VARCHAR) || '"^^<http://www.w3.org/2001/XMLSchema#integer>' AS cents,
        |       '<urn:user:' || CAST(user_id AS VARCHAR) || '>' AS actor,
        |       CASE WHEN event_id % 5 = 0 THEN NULL
        |            ELSE '"' || (props->>'$.k') || '"^^<http://www.w3.org/2001/XMLSchema#integer>' END AS k
        |FROM events WHERE event_id < 2000""".stripMargin,
    "sbs_filter" ->
      """SELECT event_id AS id, CAST(round(value*100) AS BIGINT) AS cents,
        |       'urn:user:' || CAST(user_id AS VARCHAR) AS actor
        |FROM events
        |WHERE event_id < 2000 AND event_type = 'purchase'
        |  AND CAST(round(value*100) AS BIGINT) > 10000""".stripMargin,
    "sbs_srj_groupby" ->
      """SELECT event_type AS etype, count(*) AS n,
        |       CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       count(CASE WHEN event_id % 5 <> 0 THEN 1 END) AS n_bound_k
        |FROM events WHERE event_id < 2000 GROUP BY event_type""".stripMargin,
    "sbs_groupby" ->
      """SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS nd_users,
        |       round(sum(value), 2) AS sum_value
        |FROM events GROUP BY event_type""".stripMargin,
    "sbs_select_text" ->
      """SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS nd_users,
        |       round(sum(value), 2) AS sum_value
        |FROM events GROUP BY event_type""".stripMargin,
    "sbs_agg_full" ->
      """SELECT event_type,
        |       round(avg(value), 4) AS avg_v,
        |       round(min(value), 2) AS min_v,
        |       round(max(value), 2) AS max_v,
        |       min(CAST(user_id AS VARCHAR)) AS first_user,
        |       string_agg(DISTINCT CAST(user_id AS VARCHAR), '|'
        |                  ORDER BY CAST(user_id AS VARCHAR)) AS users
        |FROM events GROUP BY event_type""".stripMargin,
    "sbs_select_proj" ->
      """SELECT event_id, event_type || '!' AS loud
        |FROM events WHERE event_type = 'purchase'
        |ORDER BY event_id LIMIT 100 OFFSET 10""".stripMargin,
    "sbs_union_headers" ->
      """SELECT event_id, user_id, NULL AS value FROM events WHERE event_type = 'signup'
        |UNION ALL
        |SELECT event_id, NULL, round(value, 2) FROM events WHERE event_type = 'error'""".stripMargin,
    "json_path" ->
      """SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS k FROM events""".stripMargin,
    "text_tokens" ->
      """SELECT doc_id, generate_subscripts(l, 1) AS idx, unnest(l) AS item
        |FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)""".stripMargin,
    "json_unnest" ->
      """SELECT event_id, idx, item FROM (
        |  SELECT event_id, 0 AS idx, '"' || event_type || '"' AS item FROM events
        |  UNION ALL
        |  SELECT event_id, 1,
        |         '"' || CAST(CAST(props->>'$.k' AS DOUBLE) AS VARCHAR) ||
        |         '"^^<http://www.w3.org/2001/XMLSchema#double>' FROM events
        |  UNION ALL
        |  SELECT event_id, 2,
        |         '"' || CASE WHEN event_id % 2 = 0 THEN 'true' ELSE 'false' END ||
        |         '"^^<http://www.w3.org/2001/XMLSchema#boolean>' FROM events
        |  UNION ALL
        |  SELECT event_id, 3,
        |         '"{' || chr(92) || '"k' || chr(92) || '":' || (props->>'$.k') ||
        |         '}"^^<http://www.w3.org/2001/XMLSchema#json>' FROM events
        |)""".stripMargin,
    "json_convert" ->
      """SELECT c_custkey,
        |  '"' || CAST(c_custkey AS VARCHAR) || '"^^<http://www.w3.org/2001/XMLSchema#json>' AS k_json,
        |  '"' || chr(92) || '"' || c_name || chr(92) || '"' || '"^^<http://www.w3.org/2001/XMLSchema#json>' AS name_json,
        |  '"' || CASE WHEN c_custkey % 2 = 0 THEN 'true' ELSE 'false' END || '"^^<http://www.w3.org/2001/XMLSchema#json>' AS flag_json
        |FROM customer""".stripMargin,
    "json_array" ->
      """SELECT c_custkey,
        |  '[' || CAST(c_custkey AS VARCHAR) || ',"' || c_name || '",' ||
        |  CASE WHEN c_custkey % 2 = 0 THEN 'true' ELSE 'false' END || ']' AS arr
        |FROM customer""".stripMargin,
    "xml_unnest" ->
      """SELECT c_custkey, idx, item FROM (
        |  SELECT c_custkey, 0 AS idx, c_name AS item FROM customer
        |  UNION ALL SELECT c_custkey, 1, c_mktsegment FROM customer
        |  UNION ALL SELECT c_custkey, 2, 'k' || CAST(c_custkey AS VARCHAR) FROM customer
        |)""".stripMargin,
    "json_object" ->
      """SELECT c_custkey,
        |       CAST(to_json(struct_pack(name := c_name, segment := c_mktsegment)) AS VARCHAR) AS j
        |FROM customer""".stripMargin,
    "json_zip_arrays" ->
      """SELECT doc_id, generate_subscripts(l, 1) AS idx,
        |       unnest(l) AS a, unnest(l) AS b
        |FROM (SELECT doc_id, string_split(text, ' ') AS l
        |      FROM documents WHERE doc_id < 50)""".stripMargin
  )
}
