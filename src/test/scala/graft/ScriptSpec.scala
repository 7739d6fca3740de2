package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import graft.pipeline.{QuadDelta, QuadDeltaRDD, Script}

class ScriptSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("runSparql: LOAD INTO GRAPH, CLEAR GRAPH, SELECT statement, data ops") {
    val dir = tmpDir("script")
    val nq = dir.resolve("d.nq").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(nq),
      "<s1> <p> \"1\" .\n<s2> <p> \"2\" .\n")
    val script =
      s"""LOAD <file://$nq> INTO GRAPH <urn:in> ;
         |INSERT DATA { GRAPH <urn:tmp> { <x> <y> "z" . }
         |              <d1> <d2> "d3" . } ;
         |CLEAR GRAPH <urn:tmp> ;
         |DELETE DATA { <d1> <d2> "d3" . } ;
         |SELECT ?g (COUNT(*) AS ?n) WHERE { GRAPH ?g { ?s ?p ?o . } }
         |GROUP BY ?g ORDER BY ?g
         |""".stripMargin
    val run = Script.runSparql(spark, script)
    // dataset: the two loaded quads only (tmp cleared, default-graph data quad deleted)
    assert(run.dataset.count() === 2)
    assert(run.dataset.select("graph").distinct().as[String].collect().toSeq
      === Seq("<urn:in>"))
    // the SELECT statement saw the final state
    val sel = run.lastQuery.get.collect()
    assert(sel.map(r => (r.getString(0), r.getLong(1))).toSeq
      === Seq(("<urn:in>", 2L)))
    // DELETE WHERE limited to patterns; a BIND inside fails loudly
    intercept[IllegalArgumentException](graft.rules.ConstructParser.parseScript(
      "DELETE WHERE { BIND(\"x\" AS ?v) }"))
    // variables are rejected in DATA blocks
    intercept[IllegalArgumentException](graft.rules.ConstructParser.parseScript(
      "INSERT DATA { <a> <b> ?v . }"))
  }

  test("a script CONSTRUCT reads only the graphs its FROM clause names") {
    val ds = Seq(("<urn:g1>", "<urn:a>", "<urn:p>", "\"1\""),
      ("<urn:g2>", "<urn:b>", "<urn:p>", "\"2\""))
      .toDF("graph", "subj", "pred", "obj")
    val out = Script.runSparql(spark,
      "CONSTRUCT { ?s <urn:p> ?o } FROM <urn:g1> WHERE { ?s ?p ?o }",
      Some(ds)).lastQuery.get
    assert(out.select("subj", "pred", "obj").as[(String, String, String)]
      .collect().toSeq === Seq(("<urn:a>", "<urn:p>", "\"1\"")))
  }

  test("property-function vars parsed before a VALUES block or a " +
      "subquery bind the CONSTRUCT template") {
    for (after <- Seq("VALUES ?k { 1 }", "{ SELECT ?k WHERE { BIND(1 AS ?k) } }")) {
      val q = "CONSTRUCT { <urn:s> <urn:p> ?row } WHERE { " +
        "\"a\\n1\" csv:parse (?row \"excel -h\") " + after + " }"
      val out = Script.runSparql(spark, q).lastQuery.get
      assert(out.select("subj", "pred").as[(String, String)].collect().toSeq ===
        Seq(("<urn:s>", "<urn:p>")), after)
    }
  }

  test("a pattern-free subquery evaluates over the unit solution, not " +
      "one row per quad") {
    val sel = "SELECT ?y WHERE { { SELECT ?y WHERE { BIND(1 AS ?y) } } }"
    val three = Seq(("<urn:g>", "<urn:a>", "<urn:p>", "\"1\""),
      ("<urn:g>", "<urn:b>", "<urn:p>", "\"2\""),
      ("<urn:g>", "<urn:c>", "<urn:p>", "\"3\""))
      .toDF("graph", "subj", "pred", "obj")
    for (initial <- Seq(None, Some(three))) {
      val rows = Script.runSparql(spark, sel, initial).lastQuery.get.collect()
      assert(rows.map(_.get(0).toString.toDouble).toSeq === Seq(1.0),
        s"over ${initial.fold(0L)(_.count())} quads")
    }
    val ask = Script.runSparql(spark,
      "ASK { { SELECT ?y WHERE { BIND(1 AS ?y) } } }").lastQuery.get
    assert(ask.collect().map(_.getBoolean(0)).toSeq === Seq(true))
  }

  test("graph management verbs + WITH/USING update scoping") {
    val script =
      """PREFIX ex: <http://ex.org/>
        |INSERT DATA {
        |  ex:a ex:p "1" .
        |  GRAPH <urn:g1> { ex:b ex:p "2" . }
        |} ;
        |COPY DEFAULT TO <urn:w> ;
        |ADD GRAPH <urn:g1> TO <urn:w> ;
        |MOVE GRAPH <urn:g1> TO <urn:m> ;
        |WITH <urn:w> DELETE { ?s ex:p ?v } INSERT { ?s ex:q ?v }
        |WHERE { ?s ex:p ?v } ;
        |INSERT { GRAPH <urn:u> { ?s ex:r ?v } }
        |USING <urn:m> WHERE { ?s ex:p ?v }""".stripMargin
    val ds = Script.runSparql(spark, script).dataset
    val got = ds.collect().map(r => (r.getString(0), r.getString(1),
      r.getString(2), r.getString(3))).toSet
    val A = "<http://ex.org/a>"; val B = "<http://ex.org/b>"
    val P = "<http://ex.org/p>"; val Q = "<http://ex.org/q>"
    val R = "<http://ex.org/r>"
    assert(got === Set(
      ("<urn:x-arq:DefaultGraph>", A, P, "\"1\""), // untouched original
      ("<urn:w>", A, Q, "\"1\""),                  // copied + WITH-rewritten
      ("<urn:w>", B, Q, "\"2\""),                  // added + WITH-rewritten
      ("<urn:m>", B, P, "\"2\""),                  // moved (g1 emptied)
      ("<urn:u>", B, R, "\"2\"")))                 // USING-scoped insert
  }

  test("COPY replaces the destination; ADD accumulates into it") {
    val script =
      """PREFIX ex: <http://ex.org/>
        |INSERT DATA {
        |  GRAPH <urn:s> { ex:x ex:p "s" . }
        |  GRAPH <urn:d> { ex:y ex:p "old" . }
        |} ;
        |COPY <urn:s> TO <urn:d>""".stripMargin
    val ds = Script.runSparql(spark, script).dataset
      .filter($"graph" === "<urn:d>")
    assert(ds.select("obj").as[String].collect().toSeq === Seq("\"s\""))
    val script2 =
      """PREFIX ex: <http://ex.org/>
        |INSERT DATA {
        |  GRAPH <urn:s> { ex:x ex:p "s" . }
        |  GRAPH <urn:d> { ex:y ex:p "old" . }
        |} ;
        |ADD <urn:s> TO <urn:d>""".stripMargin
    val ds2 = Script.runSparql(spark, script2).dataset
      .filter($"graph" === "<urn:d>")
    assert(ds2.select("obj").as[String].collect().toSet ===
      Set("\"s\"", "\"old\""))
  }

  test("env substitution: substituted text parses, unknown name fails") {
    import graft.rules.ConstructParser
    assert(ConstructParser.envSubst("GRAPH <env:G> {", Map("G" -> "urn:g"))
      === "GRAPH <urn:g> {")
    intercept[IllegalArgumentException](
      ConstructParser.envSubst("<env:MISSING>", Map()))
  }

  test("test-zip-arrays.sparql shape: INSERT DATA xsd:json payload + " +
      "positional json:unnest zip, as one script") {
    // the reference script verbatim except its trailing comma (invalid
    // JSON; docs/examples/test-zip-arrays.sparql:235-257)
    val script =
      "INSERT DATA {\n" +
        "  eg:workload1 eg:workload \"\"\"{\n" +
        "    \"stopIds\": [ \"TRENTO_STATION_FTM\", \"TRENTO_NORD\"],\n" +
        "    \"stopNames\": [ \"Trento Staz.Ftm\", \"Trento Nord\" ]\n" +
        "  }\"\"\"^^xsd:json\n" +
        "}\n\n" +
        """SELECT ?s ?l
          |WHERE {
          |  ?x eg:workload ?o  .
          |  BIND(json:path(?o, "$.stopIds") AS ?stops)
          |  BIND(json:path(?o, "$.stopNames") AS ?stopNames)
          |
          |  ?stops json:unnest (?stop ?i) .
          |  ?stopNames json:unnest (?l ?i) .
          |
          |  BIND("http://qrowd-project.eu/resource/" AS ?ns)
          |  BIND(URI(CONCAT(?ns, 'stop-', ENCODE_FOR_URI(?stop))) AS ?s)
          |}""".stripMargin
    val got = graft.pipeline.Script.runSparql(spark, script).lastQuery.get
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === Set(
      ("<http://qrowd-project.eu/resource/stop-TRENTO_STATION_FTM>",
        "Trento Staz.Ftm"),
      ("<http://qrowd-project.eu/resource/stop-TRENTO_NORD>",
        "Trento Nord")))
  }

  test("INSERT DATA keeps a checkpointed dataset's partition count; " +
      "alternating INSERT/DELETE DATA leave the expected quads") {
    val D = "<urn:x-arq:DefaultGraph>"
    val base = (1 to 6).map(i => (D, s"<urn:b$i>", "<urn:p>", s"\"$i\""))
    val initial = base.toDF("graph", "subj", "pred", "obj")
      .repartition(3).localCheckpoint()
    // 20 statements: insert n_i, then delete n_i for even i only (odd i
    // delete a quad that is not there)
    val script = (0 until 10).flatMap { i =>
      val q = s"<urn:n$i> <urn:p> \"v$i\" ."
      val del = if (i % 2 == 0) q else "<urn:none> <urn:p> \"x\" ."
      Seq(s"INSERT DATA { $q }", s"DELETE DATA { $del }")
    }.mkString(" ;\n")
    val ds = Script.runSparql(spark, script, Some(initial)).dataset
    assert(ds.rdd.getNumPartitions === 3)
    val expected = base ++ (1 until 10 by 2).map(i =>
      (D, s"<urn:n$i>", "<urn:p>", s"\"v$i\""))
    assert(ds.as[(String, String, String, String)].collect().sorted.toSeq ===
      expected.sorted)
  }

  test("INSERT DATA into the empty (0-partition) dataset yields its rows") {
    val ds = Script.runSparql(spark,
      "INSERT DATA { <urn:a> <urn:p> \"1\" . <urn:b> <urn:p> \"2\" . }").dataset
    assert(ds.select("subj").as[String].collect().sorted.toSeq ===
      Seq("<urn:a>", "<urn:b>"))
  }

  private val D = "<urn:x-arq:DefaultGraph>"

  /** A checkpointed quad dataset over 3 partitions. */
  private def checkpointed(quads: Seq[(String, String, String, String)]) =
    quads.toDF("graph", "subj", "pred", "obj").repartition(3)
      .localCheckpoint()

  private def quads(ds: DataFrame) =
    ds.as[(String, String, String, String)].collect().sorted.toSeq

  private def rddOf(ds: DataFrame): RDD[_] = ds.queryExecution.logical match {
    case r: LogicalRDD => r.rdd
    case other => fail(s"not a checkpointed relation: ${other.nodeName}")
  }

  /** RDDs on the longest dependency path, ending at a checkpointed one. */
  private def lineageDepth(r: RDD[_]): Int =
    1 + (if (r.isCheckpointed) 0
         else r.dependencies.map(d => lineageDepth(d.rdd)).maxOption
           .getOrElse(0))

  test("a repeated INSERT DATA leaves one row, in the empty and in a " +
      "checkpointed dataset") {
    val ins = "INSERT DATA { <urn:a> <urn:p> \"1\" . <urn:a> <urn:p> \"1\" }"
    val fresh = Script.runSparql(spark, Seq.fill(3)(ins).mkString(" ;\n"))
    assert(quads(fresh.dataset) === Seq((D, "<urn:a>", "<urn:p>", "\"1\"")))
    val base = Seq((D, "<urn:b>", "<urn:p>", "\"2\""))
    val over = Script.runSparql(spark, Seq.fill(3)(ins).mkString(" ;\n"),
      Some(checkpointed(base)))
    assert(quads(over.dataset) ===
      (base :+ ((D, "<urn:a>", "<urn:p>", "\"1\""))).sorted)
  }

  test("INSERT DATA of a quad present twice in a checkpointed base leaves " +
      "one row") {
    val q = (D, "<urn:a>", "<urn:p>", "\"1\"")
    val other = (D, "<urn:b>", "<urn:p>", "\"2\"")
    val ds = Script.runSparql(spark, "INSERT DATA { <urn:a> <urn:p> \"1\" }",
      Some(checkpointed(Seq(q, q, other)))).dataset
    assert(quads(ds) === Seq(q, other))
  }

  test("INSERT then DELETE DATA removes the quad; DELETE DATA of an absent " +
      "quad changes nothing") {
    val base = Seq((D, "<urn:b>", "<urn:p>", "\"2\""),
      ("<urn:g>", "<urn:c>", "<urn:p>", "\"3\""))
    val q = "GRAPH <urn:g> { <urn:a> <urn:p> \"1\" }"
    val gone = Script.runSparql(spark,
      s"INSERT DATA { $q } ;\nDELETE DATA { $q }",
      Some(checkpointed(base))).dataset
    assert(quads(gone) === base.sorted)
    val same = Script.runSparql(spark,
      "DELETE DATA { <urn:none> <urn:p> \"x\" }", Some(checkpointed(base)))
      .dataset
    assert(quads(same) === base.sorted)
  }

  test("DELETE DATA drops only its quad, not a base row of the same byte " +
      "size") {
    val q = ("<urn:g>", "<urn:a>", "<urn:p>", "\"1\"")
    val sameSize = ("<urn:g>", "<urn:b>", "<urn:p>", "\"1\"")
    val longer = ("<urn:g>", "<urn:a-longer>", "<urn:p>", "\"1\"")
    val ds = Script.runSparql(spark,
      "DELETE DATA { GRAPH <urn:g> { <urn:a> <urn:p> \"1\" } }",
      Some(checkpointed(Seq(q, sameSize, longer)))).dataset
    assert(rddOf(ds).isInstanceOf[QuadDeltaRDD])
    assert(quads(ds) === Seq(sameSize, longer).sorted)
  }

  test("DATA statements over a checkpointed dataset start no Spark job") {
    val initial = checkpointed(Seq((D, "<urn:b>", "<urn:p>", "\"2\"")))
    val (run, jobs) = TestSpark.jobsDuring(Script.runSparql(spark,
      "INSERT DATA { <urn:a> <urn:p> \"1\" } ;\n" +
        "DELETE DATA { <urn:b> <urn:p> \"2\" } ;\n" +
        "INSERT DATA { <urn:c> <urn:p> \"3\" }", Some(initial)))
    assert(jobs.isEmpty, jobs)
    assert(rddOf(run.dataset).isInstanceOf[QuadDeltaRDD])
    assert(quads(run.dataset) === Seq((D, "<urn:a>", "<urn:p>", "\"1\""),
      (D, "<urn:c>", "<urn:p>", "\"3\"")))
  }

  test("updates past the delta bound compact: the expected set, lineage " +
      "depth <= 2") {
    val base = (1 to 6).map(i => (D, s"<urn:b$i>", "<urn:p>", s"\"$i\""))
    val initial = checkpointed(base)
    // a quad row is at least 72 bytes (null bits, 4 offset words, 4 padded
    // strings), and an inserted quad sits in `drop` and `add`
    val n = (QuadDelta.MaxBytes / 64).toInt
    val ins = (1 to n).map(i => (D, s"<urn:n$i>", "<urn:p>", s"\"v$i\""))
    val del = ins.indices.collect { case i if i % 3 == 0 => ins(i) } :+
      base.head
    def text(qs: Seq[(String, String, String, String)]) =
      qs.map(q => s"${q._2} ${q._3} ${q._4} .").mkString(" ")
    val script = ins.grouped(16).map(g => s"INSERT DATA { ${text(g)} }") ++
      del.grouped(16).map(g => s"DELETE DATA { ${text(g)} }")
    val ds = Script.runSparql(spark, script.mkString(" ;\n"), Some(initial))
      .dataset
    assert(quads(ds) === (base ++ ins).filterNot(del.toSet).sorted)
    val rdd = rddOf(ds)
    assert(lineageDepth(rdd) <= 2, rdd.toDebugString)
    rdd match {
      case d: QuadDeltaRDD =>
        assert(d.base ne rddOf(initial), "the delta never compacted")
      case _ => ()
    }
    assert(rdd ne rddOf(initial))
  }
}
