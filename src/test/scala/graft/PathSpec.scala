package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.ops.PathOps
import graft.rules.ConstructParser

/** SPARQL 1.1 property paths: algebra (incl. cyclic closure termination)
  * and the query-text grammar (modifier vs variable `?`, sequence vs
  * prefixed-name `/`, negated sets, VALUES, ASK).
  */
class PathSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import PathOps._

  private val EX = "http://ex.org/"

  private def triples(rows: (String, String, String)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.map { case (s, p, o) =>
      ("<" + EX + s + ">", "<" + EX + p + ">", "<" + EX + o + ">")
    }.toDF("subj", "pred", "obj")
  }

  private def pairs(df: DataFrame): Set[(String, String)] =
    df.collect().map(r => (r.getString(0), r.getString(1))).toSet
  private def t(l: String) = "<" + EX + l + ">"

  // 1→2→3→4 chain plus a 3-cycle x→y→z→x
  private lazy val chain = triples(
    ("n1", "next", "n2"), ("n2", "next", "n3"), ("n3", "next", "n4"),
    ("x", "loop", "y"), ("y", "loop", "z"), ("z", "loop", "x"),
    ("n1", "label", "a"))

  test("sequence, inverse, alternative") {
    val seq = eval(chain, Sequence(Seq(Link(EX + "next"), Link(EX + "next"))))
    assert(pairs(seq) === Set((t("n1"), t("n3")), (t("n2"), t("n4"))))
    val inv = eval(chain, Inv(Link(EX + "next")))
    assert(pairs(inv).contains((t("n2"), t("n1"))))
    val alt = eval(chain, Alt(Seq(Link(EX + "next"), Link(EX + "label"))))
    assert(pairs(alt).size === 4)
  }

  test("oneOrMore on a chain is all ordered pairs; cycles terminate") {
    val plus = eval(chain, OneOrMore(Link(EX + "next")))
    assert(pairs(plus) === Set(
      (t("n1"), t("n2")), (t("n1"), t("n3")), (t("n1"), t("n4")),
      (t("n2"), t("n3")), (t("n2"), t("n4")), (t("n3"), t("n4"))))
    val cyc = eval(chain, OneOrMore(Link(EX + "loop")))
    // every cycle node reaches every cycle node (including itself)
    assert(pairs(cyc) ===
      (for (a <- Seq("x", "y", "z"); b <- Seq("x", "y", "z")) yield (t(a), t(b))).toSet)
  }

  test("zeroOrMore adds identity over ALL graph nodes") {
    val star = eval(chain, ZeroOrMore(Link(EX + "next")))
    val got = pairs(star)
    assert(got.contains((t("n1"), t("n4"))))
    // identity for every term of the graph, including non-chain nodes
    Seq("n1", "n4", "x", "a", "label").foreach { l =>
      if (l != "label") assert(got.contains((t(l), t(l))), s"identity for $l")
    }
    assert(!got.contains((t("n2"), t("n1"))))
  }

  test("zeroOrOne and negated property sets") {
    val opt = eval(chain, ZeroOrOne(Link(EX + "label")))
    assert(pairs(opt).contains((t("n1"), t("a"))))
    assert(pairs(opt).contains((t("n2"), t("n2"))))
    val neg = eval(chain, NegatedSet(Seq(EX + "next"), Nil))
    assert(pairs(neg) === Set((t("x"), t("y")), (t("y"), t("z")),
      (t("z"), t("x")), (t("n1"), t("a"))))
  }

  test("seeded closure from a constant endpoint equals the full closure") {
    val fromN2 = PathOps.pathPattern(chain, Left(t("n2")),
      OneOrMore(Link(EX + "next")), Right("o"))
    assert(fromN2.collect().map(_.getString(0)).toSet === Set(t("n3"), t("n4")))
    val toN3 = PathOps.pathPattern(chain, Right("s"),
      ZeroOrMore(Link(EX + "next")), Left(t("n3")))
    assert(toN3.collect().map(_.getString(0)).toSet ===
      Set(t("n1"), t("n2"), t("n3")))
  }

  test("path text: sequence and + from a SELECT query") {
    val q =
      s"""PREFIX ex: <$EX>
         |SELECT ?s ?o WHERE { ?s ex:next/ex:next ?o . }""".stripMargin
    val got = ConstructParser.parseSelect(q).run(chain)
    assert(pairs(got) === Set((t("n1"), t("n3")), (t("n2"), t("n4"))))
    val qp =
      s"""PREFIX ex: <$EX>
         |SELECT ?s ?o WHERE { ?s ex:next+ ?o . FILTER(?s = <${EX}n1>) }""".stripMargin
    val gotP = ConstructParser.parseSelect(qp).run(chain)
    assert(pairs(gotP) === Set((t("n1"), t("n2")), (t("n1"), t("n3")), (t("n1"), t("n4"))))
  }

  test("path text: `?` modifier does not swallow a following variable") {
    val q =
      s"""PREFIX ex: <$EX>
         |SELECT ?s ?o WHERE { ?s ex:label? ?o . }""".stripMargin
    val got = ConstructParser.parseSelect(q).run(chain)
    assert(pairs(got).contains((t("n1"), t("a"))))
    assert(pairs(got).contains((t("x"), t("x"))))
  }

  test("path text: inverse, alternation, negated set, parens") {
    val q =
      s"""PREFIX ex: <$EX>
         |SELECT ?s ?o WHERE { ?s ^(ex:next|ex:label) ?o . }""".stripMargin
    val got = ConstructParser.parseSelect(q).run(chain)
    assert(pairs(got).contains((t("n2"), t("n1"))))
    assert(pairs(got).contains((t("a"), t("n1"))))
    val qn =
      s"""PREFIX ex: <$EX>
         |SELECT ?s ?o WHERE { ?s !(ex:next|ex:loop) ?o . }""".stripMargin
    assert(pairs(ConstructParser.parseSelect(qn).run(chain)) ===
      Set((t("n1"), t("a"))))
  }

  test("path in CONSTRUCT joins with ordinary patterns") {
    val q =
      s"""PREFIX ex: <$EX>
         |CONSTRUCT { ?s ex:reaches ?o . }
         |WHERE { ?s ex:next+ ?o . ?s ex:label ?l . }""".stripMargin
    val out = ConstructParser.parseConstruct(q).run(chain)
    val got = out.collect()
      .map(r => (r.getString(out.columns.indexOf("subj")),
        r.getString(out.columns.indexOf("obj")))).toSet
    assert(got === Set((t("n1"), t("n2")), (t("n1"), t("n3")), (t("n1"), t("n4"))))
  }

  test("template blank nodes mint one fresh node per solution") {
    val q =
      s"""PREFIX ex: <$EX>
         |CONSTRUCT { ?s ex:meta _:m . _:m ex:target ?o . }
         |WHERE { ?s ex:next ?o . }""".stripMargin
    val out = ConstructParser.parseConstruct(q).run(chain)
    val si = out.columns.indexOf("subj"); val pi = out.columns.indexOf("pred")
    val oi = out.columns.indexOf("obj")
    val rows = out.collect().map(r =>
      (r.getString(si), r.getString(pi), r.getString(oi)))
    assert(rows.length === 6) // 3 solutions x 2 template triples
    val minted = rows.collect {
      case (_, p, o) if p == "<" + EX + "meta>" => o
    }
    assert(minted.distinct.length === 3, "one fresh bnode per solution")
    assert(minted.forall(_.startsWith("_:mr")))
    // the SAME node links both triples of one solution
    minted.foreach { m =>
      assert(rows.exists { case (s2, p2, _) =>
        s2 == m && p2 == "<" + EX + "target>"
      })
    }
    // WHERE-side bnodes act as scoped variables
    val q2 = s"""PREFIX ex: <$EX>
                |SELECT ?o WHERE { _:x ex:label ?o . }""".stripMargin
    assert(ConstructParser.parseSelect(q2).run(chain).collect()
      .map(_.getString(0)).toSeq === Seq(t("a")))
  }

  test("VALUES: single-var and multi-var forms join as inline data") {
    val q =
      s"""PREFIX ex: <$EX>
         |SELECT ?s ?o WHERE { ?s ex:next ?o . VALUES ?s { <${EX}n1> <${EX}n3> } }""".stripMargin
    assert(pairs(ConstructParser.parseSelect(q).run(chain)) ===
      Set((t("n1"), t("n2")), (t("n3"), t("n4"))))
    val q2 =
      s"""PREFIX ex: <$EX>
         |SELECT ?s ?o WHERE {
         |  ?s ex:next ?o .
         |  VALUES (?s ?o) { (<${EX}n1> <${EX}n2>) (<${EX}n9> <${EX}n9>) }
         |}""".stripMargin
    assert(pairs(ConstructParser.parseSelect(q2).run(chain)) ===
      Set((t("n1"), t("n2"))))
    // UNDEF = unbound cell (SPARQL §10.2): compatible with any binding
    val q3 =
      s"""PREFIX ex: <$EX>
         |SELECT ?s ?o WHERE {
         |  ?s ex:next ?o .
         |  VALUES (?s ?o) { (<${EX}n1> UNDEF) (UNDEF <${EX}n4>) }
         |}""".stripMargin
    assert(pairs(ConstructParser.parseSelect(q3).run(chain)) ===
      Set((t("n1"), t("n2")), (t("n3"), t("n4"))))
  }

  test("per-graph ASK: pattern joins stay inside one graph") {
    import spark.implicits._
    // g1 has role+tool on the SAME subject; g2 has them split across
    // subjects; g3 has role only — only g1 passes
    val quads = Seq(
      ("<g1>", "<s1>", "<" + EX + "role>", "\"a\""),
      ("<g1>", "<s1>", "<" + EX + "tool>", "\"t\""),
      ("<g2>", "<s2>", "<" + EX + "role>", "\"a\""),
      ("<g2>", "<s3>", "<" + EX + "tool>", "\"t\""),
      ("<g3>", "<s4>", "<" + EX + "role>", "\"a\""))
      .toDF("graph", "subj", "pred", "obj")
    val ask = s"""PREFIX ex: <$EX>
                 |ASK { ?s ex:role ?r . ?s ex:tool ?t . }""".stripMargin
    val kept = graft.ops.NgsOps.askFilterSparql(quads, ask)
    assert(kept.select("graph").distinct().collect().map(_.getString(0)).toSet
      === Set("<g1>"))
    assert(kept.count() === 2)
    val dropped = graft.ops.NgsOps.askFilterSparql(quads, ask, drop = true)
    assert(dropped.select("graph").distinct().collect().map(_.getString(0)).toSet
      === Set("<g2>", "<g3>"))
  }

  test("HAVING filters at the aggregate level") {
    val q =
      s"""PREFIX ex: <$EX>
         |SELECT ?s (COUNT(*) AS ?n) WHERE { ?s ex:next|ex:label ?o . }
         |GROUP BY ?s HAVING (COUNT(*) >= 2) ORDER BY ?s""".stripMargin
    val got = ConstructParser.parseSelect(q).run(chain).collect()
    // only n1 has two outgoing edges (next + label)
    assert(got.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq((t("n1"), 2L)))
    intercept[Exception] {
      ConstructParser.parseSelect(
        s"PREFIX ex: <$EX>\nSELECT ?s ?o WHERE { ?s ex:next ?o . } HAVING (COUNT(*) > 1)")
        .run(chain)
    }
  }

  test("subquery: only projected vars are visible, joins like a pattern") {
    val q =
      s"""PREFIX ex: <$EX>
         |SELECT ?s ?o ?n WHERE {
         |  ?s ex:next ?o .
         |  { SELECT ?s (COUNT(*) AS ?n) WHERE { ?s ex:next ?x . } GROUP BY ?s }
         |}""".stripMargin
    val df = ConstructParser.parseSelect(q).run(chain)
    val got = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got === Set((t("n1"), t("n2"), 1L), (t("n2"), t("n3"), 1L),
      (t("n3"), t("n4"), 1L)))
    // every projected var of the subquery is bound, so it keeps the
    // equi-join: no §8.3 compatibility (nested-loop/cartesian) join
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"subquery with all-bound projections left the equi-join:\n$plan")
    // inner-only variables must NOT leak: outside the subquery ?x is
    // simply UNBOUND (SPARQL §18.2.4.4 — projection of an out-of-scope
    // var is NULL for every solution, not an error)
    val leak = ConstructParser.parseSelect(
      s"""PREFIX ex: <$EX>
         |SELECT ?x WHERE {
         |  { SELECT ?s (COUNT(*) AS ?n) WHERE { ?s ex:next ?x . } GROUP BY ?s }
         |}""".stripMargin).run(chain).collect()
    assert(leak.nonEmpty && leak.forall(_.isNullAt(0)))
  }

  test("DESCRIBE: constant and variable resources, outgoing star") {
    val d1 = ConstructParser.parseDescribe(
      s"PREFIX ex: <$EX>\nDESCRIBE <${EX}n1>").run(chain).collect()
    assert(d1.length === 2) // n1 next n2 ; n1 label a
    val d2 = ConstructParser.parseDescribe(
      s"""PREFIX ex: <$EX>
         |DESCRIBE ?s WHERE { ?s ex:label ?o . }""".stripMargin)
      .run(chain).collect()
    assert(d2.length === 2) // n1's outgoing star
  }

  test("variable-graph path closure walks each graph independently") {
    import spark.implicits._
    // g1: a->b->c chain; g2: a->x — closure must NOT cross graphs even
    // though node <a> appears in both
    val quads = Seq(
      ("<g1>", "<a>", "<" + EX + "n>", "<b>"),
      ("<g1>", "<b>", "<" + EX + "n>", "<c>"),
      ("<g2>", "<a>", "<" + EX + "n>", "<x>"))
      .toDF("graph", "subj", "pred", "obj")
    val q =
      s"""PREFIX ex: <$EX>
         |SELECT ?g ?s ?o WHERE { GRAPH ?g { ?s ex:n+ ?o . } }""".stripMargin
    val got = ConstructParser.parseSelect(q).run(quads).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got === Set(
      ("<g1>", "<a>", "<b>"), ("<g1>", "<b>", "<c>"), ("<g1>", "<a>", "<c>"),
      ("<g2>", "<a>", "<x>")))
  }

  test("GRAPH scoping reaches subselects (SPARQL 13.3): patterns match " +
      "the active graph only, aggregates compute per graph") {
    import spark.implicits._
    val quads = Seq(
      ("<g1>", "<a>", "<" + EX + "p>", "\"1\""),
      ("<g1>", "<b>", "<" + EX + "p>", "\"2\""),
      ("<g2>", "<c>", "<" + EX + "p>", "\"3\""))
      .toDF("graph", "subj", "pred", "obj")
    val q =
      s"""PREFIX ex: <$EX>
         |SELECT ?g ?n WHERE { GRAPH ?g { SELECT (COUNT(*) AS ?n) WHERE {
         |  ?s ex:p ?o . } } }""".stripMargin
    val got = ConstructParser.parseSelect(q).run(quads).collect()
      .map(r => (r.getAs[String]("g"), r.getAs[Long]("n"))).toSet
    // one row per active graph, counting only that graph's triples —
    // NOT one global count of 3
    assert(got === Set("<g1>" -> 2L, "<g2>" -> 1L))
  }

  test("GRAPH ?g over a SELECT * subselect exposes the graph var through " +
      "star expansion (regression: Star must not mix with named items)") {
    import spark.implicits._
    val quads = Seq(
      ("<g1>", "<a>", "<" + EX + "p>", "\"1\""),
      ("<g1>", "<b>", "<" + EX + "p>", "\"2\""),
      ("<g2>", "<c>", "<" + EX + "p>", "\"3\""))
      .toDF("graph", "subj", "pred", "obj")
    val q =
      s"""PREFIX ex: <$EX>
         |SELECT ?g ?s WHERE { GRAPH ?g { { SELECT * WHERE {
         |  ?s ex:p ?o . } } } }""".stripMargin
    val got = ConstructParser.parseSelect(q).run(quads).collect()
      .map(r => (r.getAs[String]("g"), r.getAs[String]("s"))).toSet
    assert(got === Set(
      "<g1>" -> "<a>", "<g1>" -> "<b>", "<g2>" -> "<c>"))
    // outer SELECT * too: every subselect var plus the graph var surfaces
    val qStar =
      s"""PREFIX ex: <$EX>
         |SELECT * WHERE { GRAPH ?g { { SELECT * WHERE { ?s ex:p ?o . } } } }""".stripMargin
    val df = ConstructParser.parseSelect(qStar).run(quads)
    assert(Set("g", "s", "o").subsetOf(df.columns.toSet))
    assert(df.count() === 3)
  }

  test("MINUS vs NOT EXISTS with disjoint domains (SPARQL 8.3)") {
    // MINUS sharing no variable removes NOTHING; FILTER NOT EXISTS over
    // the same disjoint pattern removes EVERYTHING (plain satisfiability)
    val qMinus =
      s"""PREFIX ex: <$EX>
         |SELECT ?s WHERE { ?s ex:label ?o . MINUS { ?x ex:next ?y . } }""".stripMargin
    assert(ConstructParser.parseSelect(qMinus).run(chain).count() === 1)
    val qNotEx =
      s"""PREFIX ex: <$EX>
         |SELECT ?s WHERE { ?s ex:label ?o . FILTER NOT EXISTS { ?x ex:next ?y . } }""".stripMargin
    assert(ConstructParser.parseSelect(qNotEx).run(chain).count() === 0)
    val qExists =
      s"""PREFIX ex: <$EX>
         |SELECT ?s WHERE { ?s ex:label ?o . FILTER EXISTS { ?x ex:next ?y . } }""".stripMargin
    assert(ConstructParser.parseSelect(qExists).run(chain).count() === 1)
    val qExistsEmpty =
      s"""PREFIX ex: <$EX>
         |SELECT ?s WHERE { ?s ex:label ?o . FILTER EXISTS { ?x ex:missing ?y . } }""".stripMargin
    assert(ConstructParser.parseSelect(qExistsEmpty).run(chain).count() === 0)
  }

  test("var-var ordering compares numeric literals by VALUE") {
    import spark.implicits._
    val t = Seq(
      ("<a>", "<" + EX + "key>", "\"9\"^^<http://www.w3.org/2001/XMLSchema#integer>"),
      ("<b>", "<" + EX + "key>", "\"10\"^^<http://www.w3.org/2001/XMLSchema#integer>"),
      ("<a>", "<" + EX + "name>", "\"zeta\""),
      ("<b>", "<" + EX + "name>", "\"alpha\""))
      .toDF("subj", "pred", "obj")
    val q =
      s"""PREFIX ex: <$EX>
         |SELECT ?x ?y WHERE {
         |  ?x ex:key ?kx . ?y ex:key ?ky . FILTER(?kx < ?ky)
         |}""".stripMargin
    val got = ConstructParser.parseSelect(q).run(t).collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(got.toSeq === Seq(("<a>", "<b>"))) // 9 < 10 numerically
    // plain strings still compare lexicographically
    val q2 =
      s"""PREFIX ex: <$EX>
         |SELECT ?x WHERE { ?x ex:name ?n . FILTER(?n < "m") }""".stripMargin
    assert(ConstructParser.parseSelect(q2).run(t).collect()
      .map(_.getString(0)).toSeq === Seq("<b>")) // "alpha" < "m" only
  }

  test("DESCRIBE accepts a FROM clause; subqueries inherit the outer FROM") {
    import spark.implicits._
    val quads = Seq(
      ("<g1>", "<s1>", "<" + EX + "p>", "<o1>"),
      ("<g2>", "<s2>", "<" + EX + "p>", "<o2>"))
      .toDF("graph", "subj", "pred", "obj")
    val d = ConstructParser.parseDescribe(
      s"PREFIX ex: <$EX>\nDESCRIBE ?s FROM <g1> WHERE { ?s ex:p ?o . }")
      .run(quads).collect()
    assert(d.map(_.getString(quads.columns.indexOf("subj"))).toSet === Set("<s1>"))
    val sub = ConstructParser.parseSelect(
      s"""PREFIX ex: <$EX>
         |SELECT ?n FROM <g1> WHERE {
         |  { SELECT (COUNT(*) AS ?n) WHERE { ?s ex:p ?o . } }
         |}""".stripMargin).run(quads).collect()
    assert(sub.map(_.getLong(0)).toSeq === Seq(1L)) // counts only <g1>
  }

  test("FROM and FROM NAMED scope default vs named graph views") {
    import spark.implicits._
    val quads = Seq(
      ("<g1>", "<s1>", "<" + EX + "p>", "\"a\""),
      ("<g2>", "<s2>", "<" + EX + "p>", "\"b\""),
      ("<g3>", "<s3>", "<" + EX + "p>", "\"c\""))
      .toDF("graph", "subj", "pred", "obj")
    // FROM: un-GRAPHed patterns see only the listed graphs
    val f = ConstructParser.parseSelect(
      s"PREFIX ex: <$EX>\nSELECT ?s FROM <g1> FROM <g3> WHERE { ?s ex:p ?o . }")
    assert(f.run(quads).collect().map(_.getString(0)).toSet === Set("<s1>", "<s3>"))
    // with only FROM, GRAPH patterns match nothing
    val g0 = ConstructParser.parseSelect(
      s"PREFIX ex: <$EX>\nSELECT ?s FROM <g1> WHERE { GRAPH ?g { ?s ex:p ?o . } }")
    assert(g0.run(quads).count() === 0)
    // FROM NAMED: GRAPH patterns see only the listed graphs
    val gn = ConstructParser.parseSelect(
      s"PREFIX ex: <$EX>\nSELECT ?g ?s FROM NAMED <g2> WHERE { GRAPH ?g { ?s ex:p ?o . } }")
    assert(gn.run(quads).collect().map(r => (r.getString(0), r.getString(1))).toSet
      === Set(("<g2>", "<s2>")))
    // no clause: everything passes (engine default)
    val all = ConstructParser.parseSelect(
      s"PREFIX ex: <$EX>\nSELECT ?s WHERE { ?s ex:p ?o . }")
    assert(all.run(quads).count() === 3)
  }

  test("ASK text: true and false cases, one boolean row") {
    val yes = ConstructParser.parseAsk(
      s"PREFIX ex: <$EX>\nASK { ?s ex:next ?o . }").run(chain).collect()
    assert(yes.length === 1 && yes(0).getBoolean(0))
    val no = ConstructParser.parseAsk(
      s"PREFIX ex: <$EX>\nASK WHERE { ?s ex:missing ?o . }").run(chain).collect()
    assert(no.length === 1 && !no(0).getBoolean(0))
  }

  test("zeroOrOne with a constant endpoint yields the constant itself " +
      "even when absent from the data") {
    // <ghost> occurs in NO triple: `<ghost> next? ?o` must still yield
    // the zero-length solution (SPARQL §9.3 ZeroLengthPath on a term)
    val q = ConstructParser.parseSelect(
      s"PREFIX ex: <$EX>\nSELECT ?s ?o WHERE { <${EX}ghost> ex:next? ?o . BIND(<${EX}ghost> AS ?s) }")
    assert(pairs(q.run(chain)) === Set((t("ghost"), t("ghost"))))
    // bound endpoint present in the data: zero + one-step solutions
    val q2 = ConstructParser.parseSelect(
      s"PREFIX ex: <$EX>\nSELECT ?o WHERE { <${EX}n1> ex:next? ?o . }")
    assert(q2.run(chain).collect().map(_.getString(0)).toSet ===
      Set(t("n1"), t("n2")))
  }

  test("MINUS removes rows whose unbound shared var is compatible (§8.3)") {
    // n1→n2 (n2 labeled via next-hop pattern), n2→n3 (n3 unlabeled):
    // left rows carry ?l = NULL from a never-matching OPTIONAL; MINUS
    // shares {s, l} — SPARQL compatibility (unbound l matches anything,
    // s bound both sides) removes n1's row; SQL NULL-equality would not
    val data = triples(
      ("n1", "next", "n2"), ("n2", "next", "n3"), ("n2", "label", "b"))
    val q = ConstructParser.parseSelect(
      s"""PREFIX ex: <$EX>
         |SELECT ?s WHERE {
         |  ?s ex:next ?x .
         |  OPTIONAL { ?s ex:nothing ?l . }
         |  MINUS { ?s ex:next ?y . ?y ex:label ?l . }
         |}""".stripMargin)
    assert(q.run(data).collect().map(_.getString(0)).toSet === Set(t("n2")))
  }

  test("VALUES UNDEF leaves the var unbound into downstream joins and OPTIONAL") {
    // row (UNDEF): ?s unbound → compatible with every next-edge, merged
    // binding takes the pattern's value
    val q = ConstructParser.parseSelect(
      s"""PREFIX ex: <$EX>
         |SELECT ?s ?o WHERE {
         |  VALUES ?s { <${EX}n1> }
         |  ?s ex:next ?o .
         |}""".stripMargin)
    assert(pairs(q.run(chain)) === Set((t("n1"), t("n2"))))
    val q2 = ConstructParser.parseSelect(
      s"""PREFIX ex: <$EX>
         |SELECT ?s ?l WHERE {
         |  ?s ex:next ?o .
         |  VALUES (?s ?l) { (<${EX}n1> UNDEF) }
         |  OPTIONAL { ?s ex:label ?l . }
         |}""".stripMargin)
    // ?l stays unbound through VALUES, then OPTIONAL binds it
    assert(pairs(q2.run(chain)) === Set((t("n1"), t("a"))))
  }

  test("GROUP BY expression keys: named and hidden") {
    val q = ConstructParser.parseSelect(
      s"""PREFIX ex: <$EX>
         |SELECT ?k (COUNT(*) AS ?n) WHERE { ?s ex:next ?o . }
         |GROUP BY (STRLEN(STR(?s)) AS ?k)""".stripMargin)
    val got = q.run(chain).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // all chain subjects have IRIs of equal length http://ex.org/nX
    assert(got === Set(((EX + "n1").length.toLong, 3L)))
    // unnamed expression key groups but cannot be projected
    val q2 = ConstructParser.parseSelect(
      s"""PREFIX ex: <$EX>
         |SELECT (COUNT(*) AS ?n) WHERE { ?s ex:next ?o . }
         |GROUP BY (STRLEN(STR(?s)))""".stripMargin)
    assert(q2.run(chain).collect().map(_.getLong(0)).toSeq === Seq(3L))
  }

  test("OPTIONAL filter referencing an outer var joins conditionally (§6.1)") {
    // label exists only on n1; the filter references the OUTER ?o, so a
    // failing condition leaves ?l unbound instead of dropping the row
    def q(cond: String) = ConstructParser.parseSelect(
      s"""PREFIX ex: <$EX>
         |SELECT ?s ?o ?l WHERE {
         |  ?s ex:next ?o .
         |  OPTIONAL { ?s ex:label ?l . FILTER(?o != <${EX}$cond>) }
         |}""".stripMargin)
    def rows(cond: String) = q(cond).run(chain).collect()
      .map(r => (r.getString(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getString(2))).toSet
    // ?o != n3 : n1's label passes the condition → bound
    assert(rows("n3") === Set(
      (t("n1"), t("n2"), t("a")),
      (t("n2"), t("n3"), null), (t("n3"), t("n4"), null)))
    // ?o != n2 : condition fails for n1's row → row kept, ?l unbound
    assert(rows("n2") === Set(
      (t("n1"), t("n2"), null),
      (t("n2"), t("n3"), null), (t("n3"), t("n4"), null)))
  }

  test("BIND over a maybe-unbound var propagates nullability into MINUS") {
    // ?m = STR(?l) is NULL when the OPTIONAL missed; MINUS shares {s, m}
    // — §8.3 compatibility must remove n1's row (m unbound matches, s
    // agrees), which requires ?m to be TRACKED as maybe-null
    val data = triples(
      ("n1", "next", "n2"), ("n2", "next", "n3"), ("n2", "label", "b"))
    val q = ConstructParser.parseSelect(
      s"""PREFIX ex: <$EX>
         |SELECT ?s WHERE {
         |  ?s ex:next ?x .
         |  OPTIONAL { ?s ex:nothing ?l . }
         |  BIND(STR(?l) AS ?m)
         |  MINUS { ?s ex:next ?y . ?y ex:label ?lab . BIND(STR(?lab) AS ?m) }
         |}""".stripMargin)
    assert(q.run(data).collect().map(_.getString(0)).toSet === Set(t("n2")))
  }

  test("subquery-projected OPTIONAL-only vars merge compatibly (§8.3)") {
    // the subquery projects ?l, which its never-matching OPTIONAL leaves
    // unbound — joining against the outer ?l binding must MERGE (unbound
    // compatible with anything), not equi-drop the NULL rows. A projected
    // var the inner WHERE never binds at all is unbound the same way.
    for (inner <- Seq("?s ex:next ?o . OPTIONAL { ?s ex:nothing ?l . }",
        "?s ex:next ?o")) {
      val q = ConstructParser.parseSelect(
        s"""PREFIX ex: <$EX>
           |SELECT ?s ?l WHERE {
           |  ?s ex:label ?l .
           |  { SELECT ?s ?l WHERE { $inner } }
           |}""".stripMargin)
      assert(pairs(q.run(chain)) === Set((t("n1"), t("a"))), inner)
    }
  }

  test("ORDER BY a non-projected var sorts solutions before projection") {
    val q = ConstructParser.parseSelect(
      s"""PREFIX ex: <$EX>
         |SELECT ?s WHERE { ?s ex:next ?o . }
         |ORDER BY DESC(?o) LIMIT 1""".stripMargin)
    // ?o is not projected; the highest object is n4, whose subject is n3
    assert(q.run(chain).collect().map(_.getString(0)).toSeq === Seq(t("n3")))
    // ...and a key on a derived projection alias still resolves (late)
    val q2 = ConstructParser.parseSelect(
      s"""PREFIX ex: <$EX>
         |SELECT (STR(?s) AS ?str) WHERE { ?s ex:next ?o . }
         |ORDER BY DESC(?str) LIMIT 1""".stripMargin)
    assert(q2.run(chain).collect().map(_.getString(0)).toSeq ===
      Seq(EX + "n3"))
  }

  test("ORDER BY expressions: DESC(expr) and aggregate keys") {
    val q = ConstructParser.parseSelect(
      s"""PREFIX ex: <$EX>
         |SELECT ?s ?o WHERE { ?s ex:next ?o . }
         |ORDER BY DESC(STR(?o)) LIMIT 1""".stripMargin)
    assert(pairs(q.run(chain)) === Set((t("n3"), t("n4"))))
    val q2 = ConstructParser.parseSelect(
      s"""PREFIX ex: <$EX>
         |SELECT ?p (COUNT(*) AS ?n) WHERE { ?x ?p ?y . }
         |GROUP BY ?p ORDER BY DESC(COUNT(*)) ?p LIMIT 1""".stripMargin)
    val top = q2.run(chain).collect().map(r => (r.getString(0), r.getLong(1)))
    assert(top.toSeq === Seq((t("loop"), 3L))) // 3-way next tie broken by ?p
  }

  test("VALUES-bound cell flowing into OPTIONAL keeps LeftJoin semantics") {
    // row binds ?l = <b> BEFORE the OPTIONAL; n1's actual label is <a>,
    // so the optional pattern has no COMPATIBLE row — per LeftJoin the
    // row survives WITH ?l = <b> (an equi path would either drop it or
    // rebind ?l)
    val q = ConstructParser.parseSelect(
      s"""PREFIX ex: <$EX>
         |SELECT ?s ?l WHERE {
         |  ?s ex:next ?o .
         |  VALUES (?s ?l) { (<${EX}n1> <${EX}b>) (<${EX}n2> UNDEF) }
         |  OPTIONAL { ?s ex:label ?l . }
         |}""".stripMargin)
    val got = q.run(chain).collect()
      .map(r => (r.getString(0),
        if (r.isNullAt(1)) null else r.getString(1))).toSet
    // n1 keeps its VALUES binding <b>; n2 has no label → ?l unbound
    assert(got === Set((t("n1"), t("b")), (t("n2"), null)))
  }

  test("ORDER BY over numeric-typed literal terms sorts by value") {
    import spark.implicits._
    val xsd = "http://www.w3.org/2001/XMLSchema#integer"
    val data = Seq(
      ("<s1>", "<" + EX + "n>", "\"9\"^^<" + xsd + ">"),
      ("<s2>", "<" + EX + "n>", "\"10\"^^<" + xsd + ">"))
      .toDF("subj", "pred", "obj")
    val q = ConstructParser.parseSelect(
      s"""PREFIX ex: <$EX>
         |SELECT ?s ?v WHERE { ?s ex:n ?v . } ORDER BY ?v LIMIT 1""".stripMargin)
    // lexical ordering would put "10" first; value ordering puts 9 first
    assert(q.run(data).collect().map(_.getString(0)).toSeq === Seq("<s1>"))
  }

  test("seminaive closure equals doubling closure on chains and cycles") {
    import org.apache.spark.sql.functions.col
    val edges = chain.where(col("pred") === t("next"))
      .union(chain.where(col("pred") === t("loop")))
      .select(col("subj").as("s"), col("obj").as("o"))
    assert(pairs(PathOps.closureSeminaive(edges)) === pairs(PathOps.closure(edges)))
  }
}
