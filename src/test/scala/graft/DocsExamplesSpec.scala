package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.rules.ConstructParser

/** Reference docs/examples scripts run VERBATIM through the text front
  * door (VERDICT r4 task 6): csv.sparql (both statements), xml-unnest
  * .sparql, io.sparql, namespace-test.sparql's prefix carry-over idea,
  * plus loud rejects for the documented out-of-scope corners.
  */
class DocsExamplesSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark
  import org.apache.spark.sql.Row
  import org.apache.spark.sql.types.StructType

  private def unit = spark.createDataFrame(
    java.util.Collections.singletonList(Row()), StructType(Nil))

  private val XJ = "^^<http://www.w3.org/2001/XMLSchema#json>"

  test("csv.sparql statement 2 verbatim: inline CSV literal via csv:parse") {
    // docs/examples/csv.sparql:5-9, byte-for-byte
    val q =
      "SELECT * {\n" +
        "\"\"\"fn,ln\n" +
        "Mary,Major\n" +
        "John,Doe\"\"\" csv:parse (?rowJson \"excel -h\")\n" +
        "}"
    val got = ConstructParser.parseSelect(q).run(unit).collect()
      .map(_.getString(0)).toSet
    assert(got === Set(
      "\"{\\\"fn\\\":\\\"Mary\\\",\\\"ln\\\":\\\"Major\\\"}\"" + XJ,
      "\"{\\\"fn\\\":\\\"John\\\",\\\"ln\\\":\\\"Doe\\\"}\"" + XJ))
  }

  test("csv.sparql statement 1 verbatim: file IRI form, relative base") {
    val base = tmpDir("docs").toString
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(base, "example-data"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(base, "example-data", "people.csv"),
      "fn,ln\nMary,Major\nJohn,Doe\n") // = the reference's fixture content
    val old = sys.props.get("graft.sparql.base")
    sys.props("graft.sparql.base") = base
    try {
      val q = "SELECT * { <example-data/people.csv> csv:parse (?rowJson \"excel -h\") }"
      val got = ConstructParser.parseSelect(q).run(unit).collect()
        .map(_.getString(0)).toSet
      assert(got === Set(
        "\"{\\\"fn\\\":\\\"Mary\\\",\\\"ln\\\":\\\"Major\\\"}\"" + XJ,
        "\"{\\\"fn\\\":\\\"John\\\",\\\"ln\\\":\\\"Doe\\\"}\"" + XJ))
    } finally {
      old match {
        case Some(v) => sys.props("graft.sparql.base") = v
        case None => sys.props.remove("graft.sparql.base")
      }
    }
  }

  test("xml-unnest.sparql verbatim: xsd:xml literal subject") {
    val q =
      "SELECT * {\n" +
        "  \"\"\"<ul id=\"ul1\"><li>item</li></ul>\"\"\"^^xsd:xml xml:unnest (\"//li\" ?item)\n" +
        "}"
    val got = ConstructParser.parseSelect(q).run(unit).collect()
      .map(_.getString(0)).toSeq
    assert(got === Seq("\"item\"")) // match string-value as a literal term
  }

  test("xml:unnest over a VARIABLE subject explodes per solution") {
    import spark.implicits._
    val quads = Seq(
      ("<a>", "<http://ex.org/xml>",
        "\"<r><li>x1</li><li>x2</li></r>\"^^<http://www.w3.org/2001/XMLSchema#xml>"),
      ("<b>", "<http://ex.org/xml>", "\"<r><li>y</li></r>\""))
      .toDF("subj", "pred", "obj")
    val q =
      """PREFIX ex: <http://ex.org/>
        |SELECT ?s ?item WHERE {
        |  ?s ex:xml ?x .
        |  ?x xml:unnest ("//li" ?item)
        |}""".stripMargin
    val got = ConstructParser.parseSelect(q).run(quads).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === Set(("<a>", "\"x1\""), ("<a>", "\"x2\""),
      ("<b>", "\"y\"")))
  }

  test("io.sparql CONSTRUCT verbatim: BIND-only UNION branch = unit solution") {
    import spark.implicits._
    // docs/examples/io.sparql statement 1, byte-for-byte (eg: prelude)
    val q =
      """CONSTRUCT {
        |  ?s eg:value ?o
        |}
        |{
        |  {
        |    BIND(1 AS ?o)
        |  }
        |  UNION {
        |    [] eg:value ?y
        |    BIND(?y + 1 AS ?o)
        |  }
        |  BIND(IRI(CONCAT(STR(eg:), 's', STR(?o))) AS ?s)
        |}""".stripMargin
    val seed = Seq(
      ("<http://www.example.org/a>", "<http://www.example.org/value>",
        "\"5\"^^<http://www.w3.org/2001/XMLSchema#integer>"))
      .toDF("subj", "pred", "obj")
    val got = ConstructParser.parseConstruct(q).run(seed).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    // numeric tower is double-based (documented): ?o prints 1.0 / 6.0
    assert(got.map(t => (t._1, t._2)) === Set(
      ("<http://www.example.org/s1.0>", "<http://www.example.org/value>"),
      ("<http://www.example.org/s6.0>", "<http://www.example.org/value>")))
    assert(got.map(_._3).exists(_.contains("1")))
    // with an EMPTY input the pattern branch vanishes, the unit branch stays
    val empty = seed.where("1=0")
    val got2 = ConstructParser.parseConstruct(q).run(empty).collect()
    assert(got2.length === 1)
  }

  test("namespace carry-over shape: PREFIX from one statement reused " +
      "(namespace-test.sparql's check, via the script runner's prefix scope)") {
    // the pair lives in the reference's test resources; the semantic —
    // a later statement reusing an earlier PREFIX — is covered by the
    // script layer; here: the PRELUDE makes eg:/rdfs: available with no
    // declaration at all, which the second file (test-used-prefixes
    // .sparql) relies on
    import spark.implicits._
    val quads = Seq(("<s>", "<http://www.w3.org/2000/01/rdf-schema#label>",
      "\"Foobar\"")).toDF("subj", "pred", "obj")
    val got = ConstructParser.parseSelect(
      "SELECT ?o WHERE { ?s rdfs:label ?o }").run(quads).collect()
    assert(got.map(_.getString(0)).toSeq === Seq("\"Foobar\""))
  }

  test("json-by-index.sparql verbatim: constant subject + index literal") {
    val q = "SELECT * {\n  '[true, 1, \"hi\"]'^^xsd:json json:unnest (?item 2)\n}"
    val got = ConstructParser.parseSelect(q).run(unit).collect()
      .map(_.getString(0)).toSeq
    assert(got === Seq("hi")) // element at 0-based position 2
  }

  test("json-hello-world / json-path-inline / json-path1 / json-unnest / " +
      "json-unnest-by-index .sparql verbatim") {
    // docs/examples/json-hello-world.sparql
    val hw = ConstructParser.parseSelect(
      "SELECT * {\n  BIND('{\"hello\": \"world\"}'^^xsd:json AS ?s)\n}")
      .run(unit).collect()
    assert(hw.length === 1 && hw.head.getString(0).contains("hello"))
    // docs/examples/json-path-inline.sparql
    val inl = ConstructParser.parseSelect(
      "SELECT ?s {\n  BIND(json:path('{\"hello\": \"world\"}'^^xsd:json, \"$.hello\") AS ?s)\n}")
      .run(unit).collect()
    assert(inl.map(_.getString(0)).toSeq === Seq("world"))
    // docs/examples/json-path1.sparql (path over a BOUND json literal)
    val p1 = ConstructParser.parseSelect(
      "SELECT ?s {\n  BIND('{\"hello\": \"world\"}'^^xsd:json AS ?str)\n  BIND(json:path(?str, \"$.hello\") AS ?s)\n}")
      .run(unit).collect()
    assert(p1.map(_.getString(0)).toSeq === Seq("world"))
    // docs/examples/json-unnest.sparql: (?item ?index) two-var form over
    // a heterogeneous array
    val un = ConstructParser.parseSelect(
      "SELECT * {\n  '[true, 1, \"hi\", {}, []]'^^xsd:json json:unnest (?item ?index)\n}")
      .run(unit).collect()
    assert(un.length === 5)
    // docs/examples/json-unnest-by-index.sparql
    val byIdx = ConstructParser.parseSelect(
      "SELECT * {\n  '[true, 1, \"hi\", {}, []]'^^xsd:json json:unnest (?item 2)\n}")
      .run(unit).collect()
    assert(byIdx.map(_.getString(0)).toSeq === Seq("hi"))
  }

  test("macro-example.sh verbatim: macros.ttl loaded as data, eg:greet " +
      "expands from query text") {
    // docs/examples/macros.ttl byte-for-byte (minus comments)
    val n = graft.functions.Macros.loadTtl(
      """PREFIX udf: <https://w3id.org/aksw/norse#udf.>
        |PREFIX sh: <http://www.w3.org/ns/shacl#>
        |PREFIX eg: <http://www.example.org/>
        |
        |eg:prefixMapping
        |  sh:declare [ sh:prefix "afn" ; sh:namespace "http://jena.apache.org/ARQ/function#" ]
        |  .
        |
        |eg:greet udf:simpleDefinition ("CONCAT('Hello ', STR(?x), '!')" "x") .
        |""".stripMargin)
    assert(n === 1)
    // macro-example.sh's query, byte-for-byte
    val got = ConstructParser.parseSelect(
      """SELECT (eg:greet("John Doe") AS ?x) {}""").run(unit).collect()
    assert(got.length === 1 && got.head.getString(0) === "Hello John Doe!")
    // a pattern-bound TERM argument resolves through its lexical form
    import spark.implicits._
    val quads = Seq(("<p1>", "<http://www.example.org/name>", "\"Ada\""))
      .toDF("subj", "pred", "obj")
    val got2 = ConstructParser.parseSelect(
      "SELECT ?g { ?p eg:name ?n BIND(eg:greet(?n) AS ?g) }")
      .run(quads).collect()
    assert(got2.map(_.getString(0)).toSeq === Seq("Hello Ada!"))
    // wrong arity fails loudly
    val e = intercept[Exception](ConstructParser.parseSelect(
      """SELECT (eg:greet("a", "b") AS ?x) {}"""))
    assert(e.getMessage.contains("takes 1 argument"), s"got: ${e.getMessage}")
  }

  test("lambdas verbatim (docs/examples/README.md:430-440): fn.of/fn.call " +
      "in both namespaces, free-var capture, loud rejects") {
    val q =
      """PREFIX norse: <https://w3id.org/aksw/norse#>
        |SELECT ?resultA ?resultB {
        |  BIND('Dear' AS ?salutation)
        |  BIND(norse:sparql.fn.of(?honorific, ?name, CONCAT(?salutation, ' ', ?honorific, ' ', ?name)) AS ?greetingsFn)
        |  BIND(norse:sparql.fn.call(?greetingsFn, "Mrs.", "Miller") AS ?resultA)
        |  BIND(norse:sparql.fn.call(?greetingsFn, "Ms.", "Smith") AS ?resultB)
        |}""".stripMargin
    val got = ConstructParser.parseSelect(q).run(unit).collect()
    assert(got.length === 1)
    assert(got.head.getString(0) === "Dear Mrs. Miller")
    assert(got.head.getString(1) === "Dear Ms. Smith")
    // the newer norse:fn.* namespace works identically
    val q2 = q.replace("sparql.fn.", "fn.")
    val got2 = ConstructParser.parseSelect(q2).run(unit).collect()
    assert(got2.head.getString(0) === "Dear Mrs. Miller")
    // wrong arity
    val e1 = intercept[Exception](ConstructParser.parseSelect(
      """PREFIX norse: <https://w3id.org/aksw/norse#>
        |SELECT ?r { BIND(norse:fn.of(?x, STR(?x)) AS ?f)
        |  BIND(norse:fn.call(?f, "a", "b") AS ?r) }""".stripMargin))
    assert(e1.getMessage.contains("takes 1 argument"), s"got: ${e1.getMessage}")
    // data-borne lambdas reject loudly (plan-build expansion only)
    import spark.implicits._
    val quads = Seq(("<s>", "<http://www.example.org/fn>",
      "\"?x -> STR(?x)\"^^<https://w3id.org/aksw/norse#lambda>"))
      .toDF("subj", "pred", "obj")
    val e2 = intercept[Exception](ConstructParser.parseSelect(
      """PREFIX norse: <https://w3id.org/aksw/norse#>
        |SELECT ?r { ?s eg:fn ?f BIND(norse:fn.call(?f, "a") AS ?r) }""".stripMargin))
    assert(e2.getMessage.contains("plan-build"), s"got: ${e2.getMessage}")
    // a lambda is visible only in the query that binds it: not in the
    // next statement of a script, nor outside the subquery binding it
    val define = "BIND(norse:fn.of(?x, ?x + 1) AS ?f)"
    val e2s = intercept[Exception](graft.pipeline.Script.runSparql(spark,
      s"""PREFIX norse: <https://w3id.org/aksw/norse#>
        |SELECT ?r WHERE { $define BIND(norse:fn.call(?f, 1) AS ?r) } ;
        |SELECT ?r WHERE { BIND(norse:fn.call(?f, 41) AS ?r) }""".stripMargin))
    assert(e2s.getMessage.contains("plan-build"), s"got: ${e2s.getMessage}")
    val e2q = intercept[Exception](ConstructParser.parseSelect(
      s"""PREFIX norse: <https://w3id.org/aksw/norse#>
        |SELECT ?r WHERE { { SELECT ?y WHERE { $define BIND(1 AS ?y) } }
        |  BIND(norse:fn.call(?f, ?y) AS ?r) }""".stripMargin))
    assert(e2q.getMessage.contains("plan-build"), s"got: ${e2q.getMessage}")
    // other norse:map.* functions stay loud rejects
    val e3 = intercept[Exception](ConstructParser.parseSelect(
      """PREFIX norse: <https://w3id.org/aksw/norse#>
        |SELECT ?r { BIND(norse:map.put(1, 2, 3) AS ?r) }""".stripMargin))
    assert(e3.getMessage.contains("map.computeIfAbsent"), s"got: ${e3.getMessage}")
  }

  test("norse:map.computeIfAbsent: the docs example verbatim " +
      "(README.md:557-575) — one value per distinct key") {
    // lambda computes a seeded-RAND value; a and b must each map to ONE
    // value across their two occurrences (the docs' displayed behavior)
    val q =
      """PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        |PREFIX eg: <http://www.example.org/>
        |PREFIX norse: <https://w3id.org/aksw/norse#>
        |SELECT ?rdfTerm ?value {
        |  VALUES ?rdfTerm { eg:a eg:b eg:a eg:b }
        |  # Set up a lambda that computes a random value for any argument
        |  BIND(norse:fn.of(?x, xsd:int(RAND() * 100)) AS ?fn)
        |  # Add map entries for each so-far unseen value of ?rdfTerm
        |  BIND(norse:map.computeIfAbsent('myMapIdInTheExecCxt', ?rdfTerm, ?fn) AS ?value)
        |}""".stripMargin
    val rows = ConstructParser.parseSelect(q,
        ConstructParser.EvalCtx(seed = Some(7L)))
      .run(unit).collect()
      .map(r => (r.getString(0), r.get(1)))
    assert(rows.length === 4)
    val byKey = rows.groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
    assert(byKey.keySet === Set("<http://www.example.org/a>",
      "<http://www.example.org/b>"))
    // exactly one value per key, values non-null, and stable across the
    // duplicate VALUES occurrences
    assert(byKey.values.forall(vs => vs.length == 1 && vs.head != null))
    // replay determinism: same seed → same map
    val again = ConstructParser.parseSelect(q,
        ConstructParser.EvalCtx(seed = Some(7L)))
      .run(unit).collect().map(r => (r.getString(0), r.get(1))).toSet
    assert(again === rows.toSet)
    // misuse rejects loudly: nested in a larger expression
    val eN = intercept[Exception](ConstructParser.parseSelect(
      """PREFIX norse: <https://w3id.org/aksw/norse#>
        |SELECT ?r { VALUES ?k { 1 }
        |  BIND(norse:fn.of(?x, STR(?x)) AS ?fn)
        |  BIND(CONCAT(norse:map.computeIfAbsent('m', ?k, ?fn), "!") AS ?r) }"""
        .stripMargin))
    assert(eN.getMessage.contains("ENTIRE BIND"), s"got: ${eN.getMessage}")
    // the memo lives as long as its statement: a second statement's
    // lambda fills its own map
    def fill(v: String) = "SELECT ?v WHERE { VALUES ?k { 1 } BIND(norse:map." +
      s"""computeIfAbsent('m', ?k, norse:fn.of(?x, "$v")) AS ?v) }"""
    val second = graft.pipeline.Script.runSparql(spark,
      "PREFIX norse: <https://w3id.org/aksw/norse#>\n" + fill("A") + " ;\n" +
        fill("B")).lastQuery.get.collect().map(_.getString(0)).toSeq
    assert(second === Seq("B"))
  }

  test("canned rename.rq: FROM/TO env parameterization via sys:getenv " +
      "(BIND form — filter-equality cannot bind per SPARQL)") {
    import spark.implicits._
    val dg = "<urn:x-arq:DefaultGraph>"
    val ds = Seq(
      (dg, "<a>", "<p>", "<urn:from>"),
      (dg, "<urn:from>", "<q>", "\"v\""),
      (dg, "<b>", "<p>", "<other>"))
      .toDF("graph", "subj", "pred", "obj")
    val old = (sys.props.get("FROM"), sys.props.get("TO"))
    sys.props("FROM") = "urn:from"; sys.props("TO") = "urn:to"
    try {
      val out = graft.pipeline.Script.runSparql(spark,
        graft.ops.CannedQueries("rename.rq"), Some(ds)).dataset.collect()
        .map(r => (r.getString(1), r.getString(3))).toSet
      assert(out.contains(("<a>", "<urn:to>")) &&
        out.contains(("<urn:to>", "\"v\"")))
      assert(!out.exists(t => t._1 == "<urn:from>" || t._2 == "<urn:from>"))
      assert(out.contains(("<b>", "<other>"))) // untouched
    } finally {
      old._1.fold(sys.props.remove("FROM"): Unit)(sys.props("FROM") = _)
      old._2.fold(sys.props.remove("TO"): Unit)(sys.props("TO") = _)
    }
  }

  test("zip-arrays idiom: two unnests sharing ?i join positionally") {
    // docs/examples/test-zip-arrays.sparql's WHERE shape (its INSERT
    // DATA payload carries a trailing comma — invalid JSON — so the
    // equivalent well-formed literal binds via VALUES-free BIND here)
    val q =
      """SELECT ?stop ?l WHERE {
        |  BIND('{"stopIds":["A","B"],"stopNames":["Alpha","Beta"]}' AS ?o)
        |  BIND(json:path(?o, "$.stopIds") AS ?stops)
        |  BIND(json:path(?o, "$.stopNames") AS ?stopNames)
        |  ?stops json:unnest (?stop ?i) .
        |  ?stopNames json:unnest (?l ?i) .
        |}""".stripMargin
    val got = ConstructParser.parseSelect(q).run(unit).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === Set(("A", "Alpha"), ("B", "Beta")))
  }

  test("url-local-file.sparql verbatim: url:text binds the file body") {
    val base = tmpDir("url").toString
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(base, "example-data"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(base, "example-data", "data.csv"),
      "\"a\",\"b\"\n\"c\",\"d\"\n") // = the reference's data.csv
    val old = sys.props.get("graft.sparql.base")
    sys.props("graft.sparql.base") = base
    try {
      val got = ConstructParser.parseSelect(
        "SELECT * {\n  <example-data/data.csv> url:text ?str\n}")
        .run(unit).collect().map(_.getString(0)).toSeq
      assert(got === Seq("\"\\\"a\\\",\\\"b\\\"\\n\\\"c\\\",\\\"d\\\"\\n\""))
    } finally {
      old match {
        case Some(v) => sys.props("graft.sparql.base") = v
        case None => sys.props.remove("graft.sparql.base")
      }
    }
    // an UNBOUND variable subject rejects loudly (bind it first, e.g.
    // via fs:find — the bound form is covered in FsSpec)
    val e = intercept[Exception](ConstructParser.parseSelect(
      "SELECT * { ?f url:text ?str }").run(unit).collect())
    assert(e.getMessage.contains("must be bound"))
  }

  test("xml-attribute.sparql verbatim: xml:path over attributes and elements") {
    val q =
      """SELECT * {
        |  BIND('<ul id="ul1"><li>item</li></ul>'^^xsd:xml AS ?xml)
        |  BIND(xml:path(?xml, "//ul/@id") AS ?id)
        |  BIND(xml:path(?xml, "//li") AS ?item)
        |}""".stripMargin
    val got = ConstructParser.parseSelect(q).run(unit).collect()
    assert(got.length === 1)
    val r = got(0)
    // projection order: ?xml ?id ?item
    assert(r.getString(1) === "ul1")
    assert(r.getString(2) === "item")
  }

  test("language-tagged literal constants in patterns, expressions, DATA") {
    import spark.implicits._
    val quads = Seq(
      ("<a>", "<http://ex.org/label>", "\"Haus\"@de"),
      ("<b>", "<http://ex.org/label>", "\"house\"@en"))
      .toDF("subj", "pred", "obj")
    // pattern-position constant
    val got = ConstructParser.parseSelect(
      """PREFIX ex: <http://ex.org/>
        |SELECT ?s WHERE { ?s ex:label "Haus"@de }""".stripMargin)
      .run(quads).collect().map(_.getString(0)).toSeq
    assert(got === Seq("<a>"))
    // expression-position constant
    val e = ConstructParser.parseSelect(
      """SELECT ?l ?t WHERE { BIND('hi'@en AS ?l) BIND(LANG(?l) AS ?t) }""")
      .run(unit).collect()(0)
    assert(e.getString(0) === "\"hi\"@en" && e.getString(1) === "en")
    // DATA-block constant
    val ds = graft.pipeline.Script.runSparql(spark,
      """INSERT DATA { eg:s rdfs:label "Foobar"@en }""").dataset
    assert(ds.select("obj").collect().map(_.getString(0)).toSeq ===
      Seq("\"Foobar\"@en"))
  }

  test("hashbang.sparql verbatim: comment line + constant projection + {}") {
    val q = "#!/usr/bin/sparql-integrate\n\n\nSELECT 1 { }"
    val got = ConstructParser.parseSelect(q).run(unit).collect()
    assert(got.length === 1 && got(0).getDouble(0) === 1.0)
  }

  test("[] anonymous nodes never unify with user _:anonN labels") {
    import spark.implicits._
    val quads = Seq(
      ("<a>", "<http://ex.org/p>", "\"1\""),
      ("<b>", "<http://ex.org/q>", "\"2\"")) // DIFFERENT subjects
      .toDF("subj", "pred", "obj")
    val q =
      """PREFIX ex: <http://ex.org/>
        |SELECT ?x ?y WHERE { _:anon1 ex:p ?x . [] ex:q ?y }""".stripMargin
    val got = ConstructParser.parseSelect(q).run(quads).collect()
    // a shared label would force subject equality and return 0 rows
    assert(got.length === 1)
  }

  test("loud rejects: non-file IRIs, unsupported dialects, property lists") {
    def bad(q: String, frag: String): Unit = {
      val e = intercept[Exception](
        ConstructParser.parseSelect(q).run(unit).collect())
      assert(e.getMessage.contains(frag), s"got: ${e.getMessage}")
    }
    bad("SELECT * { <http://x.org/f.csv> csv:parse (?r \"excel -h\") }",
      "not a resolvable local file IRI")
    bad("SELECT * { \"a,b\" csv:parse (?r \"tsv\") }", "unsupported dialect")
    bad("SELECT * { \"a,b\" csv:parse (?r \"excel\") }", "-h")
    // `[ p o ]` property lists are SUPPORTED since the sportal battery
    // (SPARQL §19.6) — this shape must parse, not reject
    ConstructParser.parseSelect("SELECT ?q ?r { [ ?p ?o ] ?q ?r }")
  }

  test("macros-ollama.ttl: the reference's real macro file loads verbatim; " +
      "request-body macros run, network call sites reject loudly") {
    val in = getClass.getResourceAsStream("/macros/macros-ollama.ttl")
    val ttl = try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8) finally in.close()
    // 7 udf:simpleDefinition subjects: completeBody, completeFetchSpec,
    // complete, embedBody, embedFetchSpec, embed, json.cosSimilarity
    assert(graft.functions.Macros.loadTtl(ttl) === 7)
    // the NON-network part runs: completeBody builds the chat-request
    // JSON (norse:json.object / json.array, bare `false` literal)
    val body = ConstructParser.parseSelect(
      """PREFIX ollama: <https://w3id.org/aksw/norse#ollama.>
        |SELECT ?b { BIND(STR(ollama:completeBody("llama3.1", "what is 2+2?")) AS ?b) }"""
        .stripMargin).run(unit).collect().head.getString(0)
    val parsed = com.fasterxml.jackson.databind.json.JsonMapper.builder()
      .build().readTree(body)
    assert(parsed.get("model").asText === "llama3.1")
    assert(parsed.get("stream").isBoolean && !parsed.get("stream").asBoolean)
    assert(parsed.get("messages").size === 2)
    assert(parsed.get("messages").get(1).get("content").asText === "what is 2+2?")
    // the network-backed macros expand but reject AT the url:fetch site
    val e1 = intercept[Exception](ConstructParser.parseSelect(
      """PREFIX ollama: <https://w3id.org/aksw/norse#ollama.>
        |SELECT ?r { BIND(ollama:complete("http://localhost:11434", "m", "q") AS ?r) }"""
        .stripMargin))
    assert(e1.getMessage.contains("network fetch"), s"got: ${e1.getMessage}")
    // json.cosSimilarity needs embedded JS — scoped out loudly
    val e2 = intercept[Exception](ConstructParser.parseSelect(
      """PREFIX norse: <https://w3id.org/aksw/norse#>
        |SELECT ?r { BIND(norse:json.cosSimilarity("[1,0]", "[0,1]") AS ?r) }"""
        .stripMargin))
    assert(e2.getMessage.contains("JavaScript"), s"got: ${e2.getMessage}")
  }
}
