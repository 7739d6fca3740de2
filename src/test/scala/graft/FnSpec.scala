package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.rules.ConstructParser

/** SPARQL 1.1 §17 expression grammar from query text: operator precedence,
  * numeric vs lexicographic comparison, and the function library.
  */
class FnSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def rows(q: String, df: org.apache.spark.sql.DataFrame) =
    ConstructParser.parseSelect(q).run(df).collect()

  private lazy val data = {
    import spark.implicits._
    Seq((1L, "alpha#one", "x"), (20L, "Beta#two", "y"), (300L, "gamma", "z"))
      .toDF("k", "name", "tag")
  }

  test("arithmetic precedence and numeric comparison") {
    val got = rows(
      """SELECT ?k ?v WHERE {
        |  BIND(?k + 2 * 10 AS ?v)
        |  FILTER(?k < 250)
        |}""".stripMargin, data)
    assert(got.map(r => (r.getLong(0), r.getDouble(1))).toSet ===
      Set((1L, 21.0), (20L, 40.0)))
  }

  test("string comparison is lexicographic when nothing is numeric") {
    val got = rows(
      "SELECT ?name WHERE { FILTER(?name >= \"a\") }", data)
    // "Beta#two" < "a" lexicographically (uppercase B)
    assert(got.map(_.getString(0)).toSet === Set("alpha#one", "gamma"))
  }

  test("|| and grouped boolean expressions") {
    val got = rows(
      "SELECT ?k WHERE { FILTER(?k = 1 || (?k > 100 && ?name = \"gamma\")) }",
      data)
    assert(got.map(_.getLong(0)).toSet === Set(1L, 300L))
  }

  test("string functions: substr, before/after, replace, regex, case") {
    val got = rows(
      """SELECT ?name ?sub ?before ?after ?rep ?rx ?up WHERE {
        |  BIND(SUBSTR(?name, 1, 4) AS ?sub)
        |  BIND(STRBEFORE(?name, "#") AS ?before)
        |  BIND(STRAFTER(?name, "#") AS ?after)
        |  BIND(REPLACE(?name, "a", "A") AS ?rep)
        |  BIND(REGEX(?name, "^ALPHA", "i") AS ?rx)
        |  BIND(UCASE(?tag) AS ?up)
        |}""".stripMargin, data)
    val byName = got.map(r => r.getString(0) ->
      (r.getString(1), r.getString(2), r.getString(3), r.getString(4),
        r.getBoolean(5), r.getString(6))).toMap
    assert(byName("alpha#one") === (("alph", "alpha", "one", "AlphA#one", true, "X")))
    assert(byName("gamma") === (("gamm", "", "", "gAmmA", false, "Z")))
  }

  test("STRLEN/CEIL/FLOOR are numeric; division yields decimals") {
    val got = rows(
      """SELECT ?k ?len ?half ?c ?f WHERE {
        |  BIND(STRLEN(?name) AS ?len)
        |  BIND(?k / 2 AS ?half)
        |  BIND(CEIL(?k / 2) AS ?c)
        |  BIND(FLOOR(?k / 2) AS ?f)
        |  FILTER(STRLEN(?name) > 5)
        |}""".stripMargin, data)
    val m = got.map(r => r.getLong(0) ->
      (r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4))).toMap
    assert(m(1L) === ((9L, 0.5, 1L, 0L)))
    assert(m.size === 2) // gamma (len 5) filtered out
  }

  test("term functions: STRLANG/LANG/DATATYPE/isLiteral, IF/COALESCE") {
    val got = rows(
      """PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        |SELECT ?k ?lit ?lang ?dt ?islit ?choice WHERE {
        |  BIND(STRLANG(?tag, "fr") AS ?lit)
        |  BIND(LANG(?lit) AS ?lang)
        |  BIND(DATATYPE(STRDT(?tag, xsd:token)) AS ?dt)
        |  BIND(ISLITERAL(?lit) AS ?islit)
        |  BIND(IF(?k > 10, "big", "small") AS ?choice)
        |}""".stripMargin, data)
    val m = got.map(r => r.getLong(0) ->
      (r.getString(1), r.getString(2), r.getString(3), r.getBoolean(4),
        r.getString(5))).toMap
    assert(m(1L) === (("\"x\"@fr", "fr",
      "<http://www.w3.org/2001/XMLSchema#token>", true, "small")))
    assert(m(300L)._5 === "big")
  }

  test("json property/expression functions in SELECT pipelines") {
    import spark.implicits._
    val src = Seq("""[{"a":1,"b":"x"},{"a":2,"b":"y"}]""").toDF("doc")
    val q =
      """PREFIX json: <http://jsa.aksw.org/fn/json/>
        |SELECT ?a ?b WHERE {
        |  ?doc json:unnest ?el .
        |  BIND(json:path(?el, "$.a") AS ?a)
        |  BIND(json:path(?el, "$.b") AS ?b)
        |}""".stripMargin
    val got = ConstructParser.parseSelect(q).run(src).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === Set(("1", "x"), ("2", "y")))
  }

  test("json:unnest in BGP mode decodes literal-term escapes") {
    import spark.implicits._
    // the JSON rides as a pattern-bound literal TERM, escapes included
    val body = """[{\"a\":1},{\"a\":2}]"""
    val quads = Seq(("<s>", "<http://ex.org/doc>", "\"" + body + "\""))
      .toDF("subj", "pred", "obj")
    val q =
      """PREFIX ex: <http://ex.org/>
        |PREFIX json: <http://jsa.aksw.org/fn/json/>
        |SELECT ?a WHERE {
        |  ?s ex:doc ?doc .
        |  ?doc json:unnest ?el .
        |  BIND(json:path(?el, "$.a") AS ?a)
        |}""".stripMargin
    val got = ConstructParser.parseSelect(q).run(quads).collect()
      .map(_.getString(0)).toSet
    assert(got === Set("1", "2"))
    // non-variable arguments fail loudly
    intercept[Exception] {
      ConstructParser.parseSelect(
        "PREFIX json: <http://jsa.aksw.org/fn/json/>\n" +
          "SELECT ?x WHERE { ?d json:unnest \"nope\" . }")
    }
    // json:path directly on the pattern-bound TERM also decodes escapes
    val q2 =
      """PREFIX ex: <http://ex.org/>
        |PREFIX json: <http://jsa.aksw.org/fn/json/>
        |SELECT ?a WHERE {
        |  ?s ex:doc ?doc .
        |  BIND(json:path(?doc, "$[0].a") AS ?a)
        |}""".stripMargin
    assert(ConstructParser.parseSelect(q2).run(quads).collect()
      .map(_.getString(0)).toSeq === Seq("1"))
  }

  test("JSON values containing backslashes survive term decoding exactly " +
      "once (no double-unescape)") {
    import spark.implicits._
    // raw JSON {"re":"\\d+"} — as an N-Triples literal body the quotes
    // AND the backslash are escaped; a second unescape would turn \\d
    // into the invalid escape \d and null the whole extraction
    val body = """{\"re\":\"\\\\d+\"}"""
    val quads = Seq(("<s>", "<http://ex.org/doc>", "\"" + body + "\""))
      .toDF("subj", "pred", "obj")
    val q =
      """PREFIX ex: <http://ex.org/>
        |PREFIX json: <http://jsa.aksw.org/fn/json/>
        |SELECT ?re WHERE {
        |  ?s ex:doc ?doc .
        |  BIND(json:path(?doc, "$.re") AS ?re)
        |}""".stripMargin
    val got = ConstructParser.parseSelect(q).run(quads).collect()
    assert(got.length === 1 && got.head.getString(0) === "\\d+",
      s"got: ${got.map(_.getString(0)).mkString(",")}")
  }

  test("pipeline groups and UNION fork the stream, never self-join it") {
    import spark.implicits._
    val src = Seq("""[{"a":1},{"a":2}]""", """[{"a":3}]""").toDF("src")
    val q =
      """PREFIX json: <http://jsa.aksw.org/fn/json/>
        |SELECT ?v WHERE {
        |  BIND(json:parse(?src) AS ?j)
        |  { ?j json:unnest ?el . BIND(json:path(?el, "$.a") AS ?v) }
        |  UNION
        |  { BIND("doc" AS ?v) }
        |}""".stripMargin
    val got = ConstructParser.parseSelect(q).run(src).collect()
      .map(_.getString(0))
    // 3 exploded elements + one "doc" row per source document — no k x k
    assert(got.sorted.toSeq === Seq("1", "2", "3", "doc", "doc"))
    // property functions under OPTIONAL fail loudly, not misleadingly
    val bad =
      """PREFIX json: <http://jsa.aksw.org/fn/json/>
        |SELECT ?el WHERE {
        |  BIND(json:parse(?src) AS ?j)
        |  OPTIONAL { ?j json:unnest ?el . }
        |}""".stripMargin
    val e = intercept[Exception] {
      ConstructParser.parseSelect(bad).run(src).collect()
    }
    assert(e.getMessage.contains("OPTIONAL"))
  }

  test("BNODE() mints distinct nodes per row and per call site") {
    val got = rows(
      """SELECT ?k ?b1 ?b2 WHERE {
        |  BIND(BNODE() AS ?b1)
        |  BIND(BNODE() AS ?b2)
        |}""".stripMargin, data)
    val all = got.flatMap(r => Seq(r.getString(1), r.getString(2)))
    assert(all.forall(_.startsWith("_:fn")))
    assert(all.distinct.length === all.length, "all labels distinct")
    intercept[Exception] {
      ConstructParser.parseSelect("SELECT ?b WHERE { BIND(BNODE(\"x\") AS ?b) }")
    }
  }

  test("xsd constructor casts produce typed literal terms") {
    val got = rows(
      """PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        |SELECT ?k ?i ?b ?s WHERE {
        |  BIND(xsd:integer(?k) AS ?i)
        |  BIND(xsd:boolean("TRUE") AS ?b)
        |  BIND(xsd:string(?tag) AS ?s)
        |  FILTER(?k = 20)
        |}""".stripMargin, data)
    assert(got.length === 1)
    assert(got(0).getString(1) === "\"20\"^^<http://www.w3.org/2001/XMLSchema#integer>")
    assert(got(0).getString(2) === "\"true\"^^<http://www.w3.org/2001/XMLSchema#boolean>")
    assert(got(0).getString(3) === "\"y\"^^<http://www.w3.org/2001/XMLSchema#string>")
  }

  test("IN and NOT IN with term promotion") {
    val got = rows(
      "SELECT ?k WHERE { FILTER(?tag IN (\"x\", \"z\")) }", data)
    assert(got.map(_.getLong(0)).toSet === Set(1L, 300L))
    val got2 = rows(
      "SELECT ?k WHERE { FILTER(?k NOT IN (1, 300)) }", data)
    assert(got2.map(_.getLong(0)).toSet === Set(20L))
  }

  test("plans: fn battery is UDF-free, path joins are never nested-loop") {
    val battery = ConstructParser.parseSelect(
      """SELECT ?k ?a ?b WHERE {
        |  BIND(SHA256(?name) AS ?a)
        |  BIND(REPLACE(?name, "a", "b") AS ?b)
        |  FILTER(STRLEN(?name) > 2 && ?k < 1000)
        |}""".stripMargin).run(data)
    val p1 = battery.queryExecution.executedPlan.toString
    assert(!p1.contains("UDF"), p1)
    // a path sequence must compile to hash/broadcast joins, not BNLJ
    val seqQ = ConstructParser.parseSelect(
      "PREFIX ex: <http://ex.org/>\nSELECT ?s ?o WHERE { ?s ex:a/ex:b ?o . }")
    import spark.implicits._
    val triples = Seq(("<s>", "<http://ex.org/a>", "<m>"),
      ("<m>", "<http://ex.org/b>", "<o>")).toDF("subj", "pred", "obj")
    val p2 = seqQ.run(triples).queryExecution.executedPlan.toString
    assert(!p2.contains("BroadcastNestedLoopJoin") && !p2.contains("CartesianProduct"), p2)
  }

  test("malformed query text fails loudly, never silently misparses") {
    import spark.implicits._
    val tiny = Seq(("<s>", "<http://ex.org/p>", "<o>")).toDF("subj", "pred", "obj")
    val bad = Seq(
      // unclosed group
      "SELECT ?s WHERE { ?s <http://ex.org/p> ?o .",
      // stray path modifier
      "PREFIX ex: <http://ex.org/>\nSELECT ?s WHERE { ?s ex:p++ ?o . }",
      // VALUES arity mismatch
      "SELECT ?a WHERE { VALUES (?a ?b) { (<x>) } }",
      // undeclared prefix
      "SELECT ?s WHERE { ?s ex:p ?o . }",
      // HAVING without aggregation (fails at run)
      "SELECT ?s WHERE { ?s <http://ex.org/p> ?o . } HAVING (COUNT(*) > 1)",
      // DESCRIBE variable without WHERE
      "DESCRIBE ?x",
      // unknown function
      "SELECT ?s WHERE { BIND(FROBNICATE(?s) AS ?x) ?s <http://ex.org/p> ?o . }",
      // bad comparison chain
      "SELECT ?s WHERE { ?s <http://ex.org/p> ?o . FILTER(?s >< ?o) }")
    bad.foreach { q =>
      val r = intercept[Exception] {
        val parsed =
          if (q.startsWith("DESCRIBE")) ConstructParser.parseDescribe(q).run(tiny)
          else ConstructParser.parseSelect(q).run(tiny)
        parsed.collect()
      }
      assert(r != null, q)
    }
  }

  test("hash functions produce lowercase hex") {
    val got = rows(
      """SELECT ?m ?s WHERE { BIND(MD5(?tag) AS ?m) BIND(SHA256(?tag) AS ?s)
        |  FILTER(?tag = "x") }""".stripMargin, data)
    assert(got.length === 1)
    assert(got(0).getString(0) === "9dd4e461268c8034f5c8564e155c67a6")
    assert(got(0).getString(1) ===
      "2d711642b726b04401627ca9fbac32f5c8530fb1903cc4db02258717921a4881")
  }

  private lazy val dtData = {
    import spark.implicits._
    Seq("2024-03-05T10:20:30+05:30", "2024-03-05T10:20:30.5Z",
      "2024-12-31T23:59:59", "2024-07-01").toDF("dt")
  }

  test("date/time accessors: fields, fractional seconds, zone forms") {
    val got = rows(
      """PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        |SELECT ?dt ?y ?mo ?d ?h ?mi ?sec ?tz ?tzd WHERE {
        |  BIND(STRDT(?dt, xsd:dateTime) AS ?t)
        |  BIND(YEAR(?t) AS ?y) BIND(MONTH(?t) AS ?mo) BIND(DAY(?t) AS ?d)
        |  BIND(HOURS(?t) AS ?h) BIND(MINUTES(?t) AS ?mi)
        |  BIND(SECONDS(?t) AS ?sec) BIND(TZ(?t) AS ?tz)
        |  BIND(TIMEZONE(?t) AS ?tzd)
        |}""".stripMargin, dtData)
      .map(r => r.getString(0) -> r).toMap
    val a = got("2024-03-05T10:20:30+05:30")
    assert((a.getLong(1), a.getLong(2), a.getLong(3), a.getLong(4),
      a.getLong(5), a.getDouble(6)) === ((2024L, 3L, 5L, 10L, 20L, 30.0)))
    assert(a.getString(7) === "+05:30")
    assert(a.getString(8) ===
      "\"PT5H30M\"^^<http://www.w3.org/2001/XMLSchema#dayTimeDuration>")
    val b = got("2024-03-05T10:20:30.5Z")
    assert(b.getDouble(6) === 30.5)
    assert(b.getString(7) === "Z")
    assert(b.getString(8) ===
      "\"PT0S\"^^<http://www.w3.org/2001/XMLSchema#dayTimeDuration>")
    // no zone: TZ = "" and TIMEZONE is an error (NULL)
    val c = got("2024-12-31T23:59:59")
    assert(c.getString(7) === "" && c.isNullAt(8))
    // xsd:date shape: time fields are NULL, date fields present
    val d = got("2024-07-01")
    assert(d.getLong(1) === 2024L && d.getLong(2) === 7L && d.isNullAt(4))
  }

  test("sameTerm and isNumeric") {
    val got = rows(
      """PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        |SELECT ?k ?st ?stDiff ?numTerm ?numRaw ?numStr WHERE {
        |  BIND(STRDT(STR(?k), xsd:integer) AS ?ki)
        |  BIND(SAMETERM(?ki, ?ki) AS ?st)
        |  BIND(SAMETERM(?ki, STRDT(STR(?k), xsd:long)) AS ?stDiff)
        |  BIND(ISNUMERIC(?ki) AS ?numTerm)
        |  BIND(ISNUMERIC(?k + 1) AS ?numRaw)
        |  BIND(ISNUMERIC(?name) AS ?numStr)
        |  FILTER(?k = 1)
        |}""".stripMargin, data)
    assert(got.length === 1)
    val r = got(0)
    assert(r.getBoolean(1) === true)   // same lexical + datatype
    assert(r.getBoolean(2) === false)  // different datatype IRI
    assert(r.getBoolean(3) === true)   // numeric-typed literal term
    assert(r.getBoolean(4) === true)   // arithmetic result
    assert(r.getBoolean(5) === false)  // plain string
  }

  test("NOW/RAND/UUID/STRUUID need an injected clock/seed; seeded runs are deterministic") {
    import graft.rules.ConstructParser.EvalCtx
    intercept[Exception] {
      ConstructParser.parseSelect("SELECT ?n WHERE { BIND(STR(NOW()) AS ?n) }")
        .run(data)
    }
    intercept[Exception] {
      ConstructParser.parseSelect("SELECT ?r WHERE { BIND(RAND() AS ?r) }")
        .run(data)
    }
    val ctx = EvalCtx(now = Some("2026-02-03T04:05:06Z"), seed = Some(42L))
    def runQ(parts: Int) = ConstructParser.parseSelect(
      """SELECT ?k ?n ?r ?u ?su ?u2 WHERE {
        |  BIND(STR(NOW()) AS ?n)
        |  BIND(RAND() AS ?r)
        |  BIND(UUID() AS ?u)
        |  BIND(STRUUID() AS ?su)
        |  BIND(UUID() AS ?u2)
        |}""".stripMargin, ctx).run(data.repartition(parts)).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
          r.getString(3), r.getString(4), r.getString(5))).sortBy(_._1)
    val a = runQ(1); val b = runQ(3)
    // same seed → identical rows across runs AND across partition layouts
    // (values derive from row CONTENT, not monotonically_increasing_id)
    assert(a === b)
    assert(a.forall { case (_, n, r, u, su, u2) =>
      n == "2026-02-03T04:05:06Z" && r >= 0.0 && r < 1.0 &&
        u.startsWith("<urn:uuid:") &&
        // strict RFC 4122 v4: version nibble '4', variant in [89ab]
        su.matches("[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}") &&
        u.substring("<urn:uuid:".length).matches(
          "[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}>") &&
        u != u2 // independent per CALL SITE, not just per row
    })
    // distinct per row
    assert(a.map(_._4).distinct.length === a.length)
  }

  test("LANGMATCHES basic filtering: range matches subtags (RFC 4647)") {
    val got = rows(
      """SELECT ?k ?en ?enExact ?star ?de WHERE {
        |  BIND(STRLANG(?name, "en-US") AS ?l)
        |  BIND(LANGMATCHES(LANG(?l), "en") AS ?en)
        |  BIND(LANGMATCHES(LANG(?l), "en-US") AS ?enExact)
        |  BIND(LANGMATCHES(LANG(?l), "*") AS ?star)
        |  BIND(LANGMATCHES(LANG(?l), "de") AS ?de)
        |  FILTER(?k = 1)
        |}""".stripMargin, data)
    assert(got.length === 1)
    val r = got(0)
    assert(r.getBoolean(1) && r.getBoolean(2) && r.getBoolean(3) &&
      !r.getBoolean(4))
  }

  test("aggregate arithmetic keeps precedence: SUM(?k) * 2 + 1") {
    val got = rows(
      "SELECT (SUM(?k) * 2 + 1 AS ?v) WHERE { FILTER(?k > 0) }", data)
    assert(got.length === 1 &&
      got(0).getDouble(0) === 643.0) // (1+20+300)*2+1, numeric coercion
  }

  test("aggregates compose with any expression; = and IN compare numeric " +
      "terms by value; GROUP BY needs no aggregate") {
    val data = "PREFIX ex: <http://ex/> INSERT DATA { ex:a ex:v 1 . " +
      "ex:a ex:v 2 . ex:a ex:v 3 . ex:b ex:v 10 . ex:c ex:v 5 . ex:c ex:v 7 }"
    // ex: IRIs print as their local name, literal terms as their lexical
    def cell(v: Any): Any = v match {
      case t: String if t.startsWith("<http://ex/") =>
        t.stripPrefix("<http://ex/").stripSuffix(">")
      case t: String if t.startsWith("\"") => t.drop(1).takeWhile(_ != '"')
      case x => x
    }
    def grouped(proj: String, tail: String = "ORDER BY ?s") =
      s"SELECT ?s $proj WHERE { ?s ex:v ?o } GROUP BY ?s $tail"
    def filtered(cond: String) =
      s"SELECT ?s ?o WHERE { ?s ex:v ?o FILTER($cond) } ORDER BY ?s ?o"
    val cases = Seq[(String, Seq[Seq[Any]])](
      grouped("", "HAVING (COUNT(*) > 1 && COUNT(*) < 3) ORDER BY ?s") ->
        Seq(Seq("c")),
      grouped("", "HAVING (SUM(?o) > 2 * COUNT(*)) ORDER BY ?s") ->
        Seq(Seq("b"), Seq("c")),
      grouped("", "HAVING (1 < COUNT(*)) ORDER BY ?s") -> Seq(Seq("a"), Seq("c")),
      grouped("", "HAVING (MAX(?o) > 6) ORDER BY ?s") -> Seq(Seq("b"), Seq("c")),
      grouped("", "HAVING (MIN(?o) = 1) ORDER BY ?s") -> Seq(Seq("a")),
      grouped("(2 * COUNT(*) AS ?n)") ->
        Seq(Seq("a", 6.0), Seq("b", 2.0), Seq("c", 4.0)),
      grouped("(STR(COUNT(*)) AS ?n)") ->
        Seq(Seq("a", "3"), Seq("b", "1"), Seq("c", "2")),
      grouped("""(IF(COUNT(*) > 1, "many", "one") AS ?n)""") ->
        Seq(Seq("a", "many"), Seq("b", "one"), Seq("c", "many")),
      grouped("(ABS(SUM(?o)) AS ?n)") ->
        Seq(Seq("a", 6.0), Seq("b", 10.0), Seq("c", 12.0)),
      grouped("((SUM(?o)) AS ?n)") ->
        Seq(Seq("a", 6.0), Seq("b", 10.0), Seq("c", 12.0)),
      grouped("(MAX(?o) + 1 AS ?n)") ->
        Seq(Seq("a", 4.0), Seq("b", 11.0), Seq("c", 8.0)),
      // aggregate ± aggregate takes arithmetic's double coercion
      grouped("(COUNT(*) + COUNT(?o) AS ?n)") ->
        Seq(Seq("a", 6.0), Seq("b", 2.0), Seq("c", 4.0)),
      grouped("", "ORDER BY (0 - COUNT(*))") -> Seq(Seq("a"), Seq("c"), Seq("b")),
      filtered("ROUND(?o / 2) = 2") -> Seq(Seq("a", "3")),
      filtered("?o = 1") -> Seq(Seq("a", "1")),
      filtered("?o IN (1, 10)") -> Seq(Seq("a", "1"), Seq("b", "10")),
      filtered("?o != 1") -> Seq(Seq("a", "2"), Seq("a", "3"), Seq("b", "10"),
        Seq("c", "5"), Seq("c", "7")),
      grouped("") -> Seq(Seq("a"), Seq("b"), Seq("c")),
      // two numeric values compare by value, not by their lexical forms
      "SELECT ?n WHERE { BIND(2 AS ?n) FILTER(?n = 2.0) }" -> Seq(Seq("2")),
      "SELECT ?n WHERE { BIND(2 AS ?n) FILTER(?n != 2.0) }" -> Nil,
      "SELECT ?n WHERE { BIND(2 AS ?n) FILTER(?n IN (2.0)) }" -> Seq(Seq("2")))
    cases.foreach { case (q, want) =>
      val got = graft.pipeline.Script.runSparql(spark, data + " ;\n" + q)
        .lastQuery.get.collect().map(_.toSeq.map(cell)).toSeq
      assert(got === want, q)
    }
  }

  test("ROUND rounds halves toward positive infinity and keeps its type") {
    val out = graft.pipeline.Script.runSparql(spark,
      "SELECT (ROUND(-2.5) AS ?a) (ROUND(2.5) AS ?b) (ROUND(-2.6) AS ?c) " +
        "(ROUND(-2.4) AS ?d) WHERE { }").lastQuery.get
    assert(out.schema.map(_.dataType.typeName).distinct === Seq("double"))
    assert(out.collect().map(_.toSeq).toSeq === Seq(Seq(-2.0, 3.0, -3.0, -2.0)))
  }

  test("aggregates outside projections, HAVING and ORDER BY fail at parse") {
    val where = "{ ?s <http://ex/v> ?o "
    Seq(
      s"SELECT ?s WHERE $where FILTER(COUNT(*) > 1) }" -> "FILTER",
      s"SELECT ?n WHERE $where BIND(COUNT(*) AS ?n) }" -> "BIND",
      s"SELECT (SUM(COUNT(*)) AS ?n) WHERE $where }" -> "the argument of SUM",
      s"SELECT ?s WHERE $where } GROUP BY (COUNT(*))" -> "GROUP BY"
    ).foreach { case (q, where) =>
      val e = intercept[IllegalArgumentException](ConstructParser.parseSelect(q))
      assert(e.getMessage.contains(s"aggregate COUNT is not allowed in $where"),
        e.getMessage)
    }
  }
}
