package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{RdfIO, TrigParser}

class TrigSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  private def parse(doc: String): Set[(String, String, String, String)] =
    TrigParser.parse(doc, "<dg>")
      .map(q => (q.graph, q.subj, q.pred, q.obj)).toSet

  test("prefixes, a-keyword, ; and , lists, typed shorthand") {
    val doc =
      """@prefix ex: <http://ex.org/> .
        |PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        |# a comment line
        |ex:s a ex:T ;
        |  ex:p "v1" , "v2"@en-GB ;
        |  ex:n 42 ;
        |  ex:d 3.25 ;
        |  ex:e 1.5e3 ;
        |  ex:b false ;
        |  ex:t "7"^^xsd:int .
        |""".stripMargin
    val got = parse(doc)
    val S = "<http://ex.org/s>"
    assert(got === Set(
      ("<dg>", S, "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>", "<http://ex.org/T>"),
      ("<dg>", S, "<http://ex.org/p>", "\"v1\""),
      ("<dg>", S, "<http://ex.org/p>", "\"v2\"@en-GB"),
      ("<dg>", S, "<http://ex.org/n>", "\"42\"^^<http://www.w3.org/2001/XMLSchema#integer>"),
      ("<dg>", S, "<http://ex.org/d>", "\"3.25\"^^<http://www.w3.org/2001/XMLSchema#decimal>"),
      ("<dg>", S, "<http://ex.org/e>", "\"1.5e3\"^^<http://www.w3.org/2001/XMLSchema#double>"),
      ("<dg>", S, "<http://ex.org/b>", "\"false\"^^<http://www.w3.org/2001/XMLSchema#boolean>"),
      ("<dg>", S, "<http://ex.org/t>", "\"7\"^^<http://www.w3.org/2001/XMLSchema#int>")))
  }

  test("verbatim labels in the fresh-label namespace are re-scoped") {
    val doc =
      """@prefix ex: <http://ex.org/> .
        |_:gen0 ex:p ex:a .
        |ex:s ex:q [ ex:r ex:t ] .
        |_:c1g0 ex:p ex:b .
        |_:genuine ex:p ex:c .
        |""".stripMargin
    val got = parse(doc)
    // the document's own _:gen0/_:c1g0 must NOT merge with the generated
    // anonymous node (also labeled gen0) — they are re-scoped to _:v…
    assert(got.contains(("<dg>", "_:vgen0", "<http://ex.org/p>", "<http://ex.org/a>")))
    assert(got.contains(("<dg>", "_:vc1g0", "<http://ex.org/p>", "<http://ex.org/b>")))
    assert(got.contains(("<dg>", "_:gen0", "<http://ex.org/r>", "<http://ex.org/t>")))
    // labels merely RESEMBLING the namespace stay verbatim
    assert(got.contains(("<dg>", "_:genuine", "<http://ex.org/p>", "<http://ex.org/c>")))
    // the escape is INJECTIVE: a verbatim _:vgen0 moves one level up, so
    // it can never collide with a re-scoped _:gen0
    val got2 = parse(
      "@prefix ex: <http://ex.org/> .\n_:vgen0 ex:p ex:d .\n_:gen0 ex:p ex:e .\n")
    assert(got2.contains(("<dg>", "_:vvgen0", "<http://ex.org/p>", "<http://ex.org/d>")))
    assert(got2.contains(("<dg>", "_:vgen0", "<http://ex.org/p>", "<http://ex.org/e>")))
  }

  test("graph blocks: named, GRAPH keyword, default-graph statements") {
    val doc =
      """@prefix ex: <http://ex.org/> .
        |ex:s ex:p ex:o .
        |ex:g1 { ex:a ex:p ex:b . ex:c ex:p ex:d }
        |GRAPH <http://ex.org/g2> { _:x ex:p "lit" }
        |""".stripMargin
    val got = parse(doc)
    assert(got.contains(("<dg>", "<http://ex.org/s>", "<http://ex.org/p>", "<http://ex.org/o>")))
    assert(got.contains(("<http://ex.org/g1>", "<http://ex.org/a>", "<http://ex.org/p>", "<http://ex.org/b>")))
    assert(got.contains(("<http://ex.org/g1>", "<http://ex.org/c>", "<http://ex.org/p>", "<http://ex.org/d>")))
    assert(got.contains(("<http://ex.org/g2>", "_:x", "<http://ex.org/p>", "\"lit\"")))
    assert(got.size === 4)
  }

  test("escapes and long strings canonicalize to N-Triples form") {
    val doc =
      "@prefix ex: <http://ex.org/> .\n" +
        "ex:s ex:p \"q\\\"q and \\\\ and \\u0041\" .\n" +
        "ex:s ex:q \"\"\"line1\nline2\ttab \"inner\" done\"\"\" .\n"
    val got = parse(doc)
    assert(got.contains(("<dg>", "<http://ex.org/s>", "<http://ex.org/p>",
      "\"q\\\"q and \\\\ and A\"")))
    assert(got.contains(("<dg>", "<http://ex.org/s>", "<http://ex.org/q>",
      "\"line1\\nline2\\ttab \\\"inner\\\" done\"")))
  }

  test("@base resolves relative IRIs per RFC 3986") {
    val doc =
      """@base <http://ex.org/data/doc.ttl> .
        |<item> <p> <other/item2> .
        |</abs> <p> <../up> .
        |<#frag> <p> <?q=1> .
        |<//host2/x> <p> <http://absolute.org/keep> .
        |""".stripMargin
    val got = parse(doc)
    assert(got.contains(("<dg>", "<http://ex.org/data/item>", "<http://ex.org/data/p>",
      "<http://ex.org/data/other/item2>")))
    assert(got.contains(("<dg>", "<http://ex.org/abs>", "<http://ex.org/data/p>",
      "<http://ex.org/up>")))
    assert(got.contains(("<dg>", "<http://ex.org/data/doc.ttl#frag>", "<http://ex.org/data/p>",
      "<http://ex.org/data/doc.ttl?q=1>")))
    assert(got.contains(("<dg>", "<http://host2/x>", "<http://ex.org/data/p>",
      "<http://absolute.org/keep>")))
  }

  test("@base: slash-terminated base, relative re-BASE, relative prefix IRI") {
    val doc =
      """@base <http://ex.org/a/b/> .
        |@prefix r: <rel/> .
        |<x> <p> r:y .
        |@base <c/> .
        |<z> <p> <./w> .
        |""".stripMargin
    val got = parse(doc)
    assert(got.contains(("<dg>", "<http://ex.org/a/b/x>", "<http://ex.org/a/b/p>",
      "<http://ex.org/a/b/rel/y>")))
    assert(got.contains(("<dg>", "<http://ex.org/a/b/c/z>", "<http://ex.org/a/b/c/p>",
      "<http://ex.org/a/b/c/w>")))
    // relative IRI with NO base in scope stays verbatim (legacy behavior)
    assert(parse("<s> <p> <o> .").contains(("<dg>", "<s>", "<p>", "<o>")))
  }

  test("'a'/'true'/'false' are case-sensitive; directives stay case-insensitive") {
    intercept[IllegalArgumentException](parse("<s> A <o> ."))
    intercept[IllegalArgumentException](parse("<s> <p> TRUE ."))
    intercept[IllegalArgumentException](parse("<s> <p> False ."))
    val ok = parse("prefix ex: <http://x/>\nex:s a ex:T .")
    assert(ok.contains(("<dg>", "<http://x/s>",
      "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>", "<http://x/T>")))
  }

  test("readRdfAuto: '{' inside a literal does not misroute N-Quads to TriG") {
    val dir = tmpDir("auto-brace")
    val nq = dir.resolve("json.nq").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(nq),
      "<s> <p> \"{\\\"k\\\":1}\"^^<http://www.w3.org/2001/XMLSchema#json> <g> .\n" +
      "<s2> <p> \"plain { brace\" <g> .\n")
    val got = RdfIO.readRdfAuto(spark, nq).collect()
    assert(got.length === 2) // TriG reader would have failed on 4-term lines
    assert(got.map(_.getString(1)).toSet === Set("<s>", "<s2>"))
  }

  test("malformed bnode/collection constructs fail loudly; undeclared prefix fails") {
    intercept[IllegalArgumentException](parse("<s> <p> [ <q> <o> .")) // unclosed [
    intercept[IllegalArgumentException](parse("<s> <p> (\"a\" ."))    // unclosed (
    intercept[IllegalArgumentException](parse("ex:s ex:p ex:o ."))
  }

  test("anonymous blank nodes: object, nested, subject-position, empty") {
    val doc =
      """@prefix ex: <http://ex.org/> .
        |ex:s ex:meta [ ex:rank 1 ; ex:sub [ ex:deep "d" ] ] .
        |[ ex:top "t" ] .
        |ex:s ex:empty [] .
        |ex:g1 { ex:a ex:m [ ex:inGraph true ] . }
        |""".stripMargin
    val got = parse(doc)
    val E = "http://ex.org/"
    // gen labels allocated in document order: gen0 = outer [..], gen1 =
    // nested [..], gen2 = subject-position [..], gen3 = empty []
    assert(got.contains(("<dg>", s"<${E}s>", s"<${E}meta>", "_:gen0")))
    assert(got.contains(("<dg>", "_:gen0", s"<${E}rank>",
      "\"1\"^^<http://www.w3.org/2001/XMLSchema#integer>")))
    assert(got.contains(("<dg>", "_:gen0", s"<${E}sub>", "_:gen1")))
    assert(got.contains(("<dg>", "_:gen1", s"<${E}deep>", "\"d\"")))
    assert(got.contains(("<dg>", "_:gen2", s"<${E}top>", "\"t\"")))
    assert(got.contains(("<dg>", s"<${E}s>", s"<${E}empty>", "_:gen3")))
    // […] inside a named graph block emits into that graph
    assert(got.contains((s"<${E}g1>", s"<${E}a>", s"<${E}m>", "_:gen4")))
    assert(got.contains((s"<${E}g1>", "_:gen4", s"<${E}inGraph>",
      "\"true\"^^<http://www.w3.org/2001/XMLSchema#boolean>")))
    assert(got.size === 8)
  }

  test("collections: rdf:first/rest chains, empty list is rdf:nil") {
    val R = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    val doc =
      """@prefix ex: <http://ex.org/> .
        |ex:s ex:tags ("a" ex:b 3) .
        |ex:s ex:none () .
        |""".stripMargin
    val got = parse(doc)
    assert(got.contains(("<dg>", "<http://ex.org/s>", "<http://ex.org/tags>", "_:gen0")))
    assert(got.contains(("<dg>", "_:gen0", s"<${R}first>", "\"a\"")))
    assert(got.contains(("<dg>", "_:gen0", s"<${R}rest>", "_:gen1")))
    assert(got.contains(("<dg>", "_:gen1", s"<${R}first>", "<http://ex.org/b>")))
    assert(got.contains(("<dg>", "_:gen1", s"<${R}rest>", "_:gen2")))
    assert(got.contains(("<dg>", "_:gen2", s"<${R}first>",
      "\"3\"^^<http://www.w3.org/2001/XMLSchema#integer>")))
    assert(got.contains(("<dg>", "_:gen2", s"<${R}rest>", s"<${R}nil>")))
    assert(got.contains(("<dg>", "<http://ex.org/s>", "<http://ex.org/none>", s"<${R}nil>")))
    assert(got.size === 8)
  }

  test("malformed documents fail loudly (no hangs, no silent drops)") {
    val bads = Seq(
      "<s> <p> \"unterminated .",
      "<s> <p> <unterminated",
      "<g> { <s> <p> <o> .", // unclosed graph block
      "@prefix ex <http://x/> .", // missing colon
      "<s> <p> \"\"\"unclosed long",
      "<s> <p> \"x\"^^<dangling", // unterminated datatype IRI
      "<s> <p>", // missing object entirely
      "GRAPH <g>") // missing block
    bads.foreach { doc =>
      intercept[IllegalArgumentException] {
        TrigParser.parse(doc, "<dg>").toList
      }
    }
  }

  test("TriG sink roundtrip property: random quads -> trig text -> parse == identity") {
    import org.scalacheck.Gen
    import spark.implicits._
    val alnum = Gen.alphaNumStr.map(_.take(8)).suchThat(_.nonEmpty)
    val iri = alnum.map(s => s"<urn:x:$s>")
    val bnode = alnum.map(s => s"_:b$s")
    val rawText = Gen.listOf(Gen.oneOf(
      Gen.alphaNumChar, Gen.oneOf('"', '\\', '\n', '\t', ' ', 'ü', '.')))
      .map(_.mkString.take(30))
    val literal = for {
      body <- rawText
      suffix <- Gen.oneOf("", "@en", "^^<urn:dt>")
    } yield "\"" + TrigParser.ntEscape(body) + "\"" + suffix
    val quad = for {
      g <- Gen.oneOf(iri, Gen.const("<urn:x-arq:DefaultGraph>"))
      s <- Gen.oneOf(iri, bnode)
      p <- iri
      o <- Gen.oneOf(iri, bnode, literal)
    } yield (g, s, p, o)
    val quadSets = Gen.listOfN(25, quad)
    (1 to 20).foreach { seedI =>
      val qs = quadSets(Gen.Parameters.default,
        org.scalacheck.rng.Seed(seedI.toLong)).get.distinct
      val df = qs.toDF("graph", "subj", "pred", "obj")
      val doc = sources.RdfIO.trigLines(df).as[String].collect().mkString("\n")
      val back = TrigParser.parse(doc, "<urn:x-arq:DefaultGraph>")
        .map(q => (q.graph, q.subj, q.pred, q.obj)).toSet
      assert(back === qs.toSet, s"seed=$seedI doc:\n${doc.take(500)}")
    }
  }

  test("readRdfAuto probes content: nquads routes to line reader, trig to doc reader") {
    val dir = tmpDir("auto")
    val trig = dir.resolve("a.trig").toString
    RdfIO.writeTrigFixture(spark, TestSpark.sf0001, trig)
    val viaAuto = RdfIO.readRdfAuto(spark, trig)
    val viaTrig = RdfIO.readTrig(spark, trig)
    assert(viaAuto.exceptAll(viaTrig).count() === 0)
    assert(viaAuto.count() === viaTrig.count())
    val nq = dir.resolve("b.nq").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(nq),
      "# comment first\n<s> <p> \"o\" <g> .\n")
    val got = RdfIO.readRdfAuto(spark, nq).collect()
    assert(got.length === 1 && got(0).getString(1) === "<s>")
  }

  test("readTrig over files (plain + gz) matches the fixture's oracle shape") {
    val dir = tmpDir("trig")
    val f = dir.resolve("fix.trig").toString
    RdfIO.writeTrigFixture(spark, TestSpark.sf0001, f)
    val df = RdfIO.readTrig(spark, f)
    val n = spark.read.parquet(s"${TestSpark.sf0001}/nation.parquet").count()
    assert(df.count() === 15 * n) // 15 quads per nation row (incl. [..] + (..))
    // gzip a copy: Hadoop codec path must yield identical quads
    val gz = dir.resolve("fix2.trig.gz")
    val out = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(gz))
    out.write(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)))
    out.close()
    val dfGz = RdfIO.readTrig(spark, gz.toString)
    assert(dfGz.count() === df.count())
    assert(dfGz.exceptAll(df).count() === 0)
  }
}
