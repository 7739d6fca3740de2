package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.rules.ConstructParser

/** fs:find / fs:probeRdf / SERVICE ?var / url:text-over-variable — the
  * reference's filesystem-querying scripts run VERBATIM
  * (docs/examples/fs-list-all-files.sparql, fs-list-rdf-files.sparql,
  * fs-query-rdf-files.sparql, test4.sparql, workloads.sparql,
  * test.sparql; semantics documented in docs/examples/README.md:585-650).
  */
class FsSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  import org.apache.spark.sql.Row
  import org.apache.spark.sql.types.StructType

  private def unit = spark.createDataFrame(
    java.util.Collections.singletonList(Row()), StructType(Nil))

  /** A base dir mirroring the reference's docs/examples tree:
    * example-data/{data.ttl,data.csv,people.csv} plus a nested dir (the
    * reference walk is recursive) and top-level {dcat.ttl, w1.json}.
    */
  private def withBase[A](f: String => A): A = {
    val base = tmpDir("fs").toString
    def w(rel: String, body: String): Unit = {
      val p = java.nio.file.Paths.get(base, rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, body)
    }
    w("example-data/data.ttl",
      "@prefix eg: <http://www.example.org/> .\neg:s eg:p eg:o .\n")
    w("example-data/data.csv", "\"a\",\"b\"\n\"c\",\"d\"\n")
    w("example-data/people.csv", "fn,ln\nMary,Major\nJohn,Doe\n")
    w("example-data/nested/more.nt",
      "<http://www.example.org/s2> <http://www.example.org/p> \"two\" .\n")
    w("dcat.ttl",
      "@prefix eg: <http://www.example.org/> .\neg:d1 eg:title \"Dataset one\" .\neg:d2 eg:title \"Dataset two\" .\n")
    w("w1.json", """{"kind":"workload","n":1}""")
    val old = sys.props.get("graft.sparql.base")
    sys.props("graft.sparql.base") = base
    try f(base)
    finally old match {
      case Some(v) => sys.props("graft.sparql.base") = v
      case None => sys.props.remove("graft.sparql.base")
    }
  }

  test("fs-list-all-files.sparql verbatim: recursive listing, absolute file IRIs") {
    withBase { base =>
      val q = "SELECT * {\n  <example-data> fs:find ?file\n}"
      val got = ConstructParser.parseSelect(q).run(unit).collect()
        .map(_.getString(0)).toSeq
      assert(got.size === 4) // recursive: nested/more.nt included
      assert(got.forall(t => t.startsWith("<file:///") && t.endsWith(">")))
      assert(got.exists(_.endsWith("/example-data/data.ttl>")))
      assert(got.exists(_.endsWith("/example-data/nested/more.nt>")))
    }
  }

  test("fs-list-rdf-files.sparql verbatim: fs:probeRdf keeps only RDF files") {
    withBase { base =>
      val q = "SELECT * {\n  <example-data> fs:find ?file\n  FILTER(fs:probeRdf(?file))\n}"
      val got = ConstructParser.parseSelect(q).run(unit).collect()
        .map(_.getString(0)).toSeq
      assert(got.size === 2)
      assert(got.exists(_.endsWith("data.ttl>")))
      assert(got.exists(_.endsWith("more.nt>")))
    }
  }

  test("fs-query-rdf-files.sparql verbatim: SERVICE over the probed files") {
    withBase { base =>
      val q =
        """SELECT * {
          |  <example-data> fs:find ?file
          |  FILTER(fs:probeRdf(?file))
          |  SERVICE ?file {
          |    ?s ?p ?o
          |  }
          |}""".stripMargin
      val got = ConstructParser.parseSelect(q).run(unit).collect()
        .map(r => (r.getString(1), r.getString(2), r.getString(3))).toSet
      assert(got === Set(
        ("<http://www.example.org/s>", "<http://www.example.org/p>",
          "<http://www.example.org/o>"),
        ("<http://www.example.org/s2>", "<http://www.example.org/p>",
          "\"two\"")))
    }
  }

  test("test4.sparql verbatim: <> base dir + REGEX filter + SERVICE ?file") {
    withBase { base =>
      val q =
        """SELECT * {
          |  <> fs:find ?file
          |  FILTER(REGEX(STR(?file), '\\.ttl$', 'i'))
          |  SERVICE ?file {
          |    ?s ?p ?o
          |  }
          |}""".stripMargin
      val got = ConstructParser.parseSelect(q).run(unit).collect()
      // two .ttl files: example-data/data.ttl (1 triple) + dcat.ttl (2)
      assert(got.length === 3)
      val bySrc = got.groupBy(_.getString(0).split("/").last.stripSuffix(">"))
      assert(bySrc("data.ttl").length === 1 && bySrc("dcat.ttl").length === 2)
    }
  }

  test("fs-test.sparql verbatim: <folder> base + probe + SERVICE") {
    withBase { base =>
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(base, "folder"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(base, "folder", "f.nt"),
        "<http://e/s> <http://e/p> <http://e/o> .\n")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(base, "folder", "junk.txt"), "not rdf {{{\n")
      val q =
        """SELECT * {
          |  <folder> fs:find ?file
          |  FILTER(fs:probeRdf(?file))
          |  SERVICE ?file {
          |    ?s ?p ?o
          |  }
          |}""".stripMargin
      val got = ConstructParser.parseSelect(q).run(unit).collect()
      assert(got.length === 1 && got.head.getString(1) === "<http://e/s>")
    }
  }

  test("workloads.sparql verbatim: fs:find + url:text + STRDT + afn:localname") {
    withBase { base =>
      val q =
        """PREFIX afn: <http://jena.apache.org/ARQ/function#>
          |CONSTRUCT {
          |  [] a eg:Workload ;
          |     rdfs:label ?label ;
          |eg:file ?file ;
          |     eg:payload ?json .
          |}
          |WHERE {
          |  FILTER(STRENDS(STR(?file), "json"))
          |<> fs:find ?file .
          |  ?file url:text ?str
          |
          |  BIND(STRDT(?str, xsd:json) AS ?json)
          |
          |  BIND(afn:localname(?file) AS ?label)
          |}""".stripMargin
      val quads = ConstructParser.parseConstruct(q).run(unit).collect()
        .map(r => (r.getString(1), r.getString(2))).toSet
      // one workload file ⇒ 4 triples from one bnode subject
      assert(quads.exists(_ == ("<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>",
        "<http://www.example.org/Workload>")))
      assert(quads.exists(t =>
        t._1 == "<http://www.w3.org/2000/01/rdf-schema#label>" &&
          t._2 == "\"w1.json\""))
      assert(quads.exists(t => t._1 == "<http://www.example.org/payload>" &&
        t._2.contains("workload") &&
        t._2.endsWith("^^<http://www.w3.org/2001/XMLSchema#json>")))
      assert(quads.exists(t => t._1 == "<http://www.example.org/file>" &&
        t._2.endsWith("/w1.json>")))
    }
  }

  test("test.sparql verbatim: FROM <dcat.ttl> loads the file as the default graph") {
    withBase { base =>
      import spark.implicits._
      // the session dataset holds UNRELATED quads — FROM must hide them
      val session = Seq(("<g>", "<s>", "<p>", "\"x\""))
        .toDF("graph", "subj", "pred", "obj")
      val q = "SELECT *\nFROM <dcat.ttl>\n{\n?s ?p ?o\n}"
      val got = ConstructParser.parseSelect(q).run(session).collect()
        .map(r => (r.getString(0), r.getString(2))).toSet
      assert(got === Set(
        ("<http://www.example.org/d1>", "\"Dataset one\""),
        ("<http://www.example.org/d2>", "\"Dataset two\"")))
    }
  }

  test("FROM NAMED <file> makes the file a named graph (IRI as written)") {
    withBase { base =>
      import spark.implicits._
      val session = Seq(("<g>", "<s>", "<p>", "\"x\""))
        .toDF("graph", "subj", "pred", "obj")
      val q =
        """SELECT ?g ?s FROM NAMED <dcat.ttl> {
          |  GRAPH ?g { ?s ?p ?o }
          |}""".stripMargin
      val got = ConstructParser.parseSelect(q).run(session).collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(got === Set(
        ("<dcat.ttl>", "<http://www.example.org/d1>"),
        ("<dcat.ttl>", "<http://www.example.org/d2>")))
    }
  }

  test("FROM mixes file entries with session graph names") {
    withBase { base =>
      import spark.implicits._
      val session = Seq(
        ("<http://g/1>", "<sA>", "<p>", "\"in\""),
        ("<http://g/2>", "<sB>", "<p>", "\"out\""))
        .toDF("graph", "subj", "pred", "obj")
      val q = "SELECT ?s FROM <dcat.ttl> FROM <http://g/1> { ?s ?p ?o }"
      val got = ConstructParser.parseSelect(q).run(session).collect()
        .map(_.getString(0)).toSet
      assert(got === Set("<http://www.example.org/d1>",
        "<http://www.example.org/d2>", "<sA>"))
    }
  }

  test("SERVICE SILENT ?file keeps the solution when a file is unreadable " +
      "OR exists but fails to parse (lazy parse errors are observed)") {
    withBase { base =>
      import spark.implicits._
      // an existing file with MALFORMED content: the scan is lazy, so
      // SILENT must force the parse eagerly to catch this case
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(base, "broken.ttl"),
        "@prefix eg: <http://e/> .\neg:s eg:p {{{ not rdf\n")
      val files = Seq(
        "<file://" + base + "/example-data/data.ttl>",
        "<file://" + base + "/broken.ttl>",
        "<file://" + base + "/does-not-exist.ttl>").toDF("file")
      // seed ?file through a pattern over the input frame
      val got = ConstructParser.parseSelect(
        """SELECT * {
          |  ?d <urn:file> ?file .
          |  SERVICE SILENT ?file { ?s ?p ?o }
          |}""".stripMargin)
        .run(files.select(org.apache.spark.sql.functions.lit("<d>").as("subj"),
          org.apache.spark.sql.functions.lit("<urn:file>").as("pred"),
          org.apache.spark.sql.functions.col("file").as("obj")))
        .collect()
      // readable file: 1 solution with ?s bound; broken + missing files:
      // unit solutions (?s unbound)
      assert(got.length === 3)
      val byNull = got.partition(_.isNullAt(2))
      assert(byNull._1.length === 2 && byNull._2.length === 1)
    }
  }

  test("non-SILENT SERVICE ?file on a malformed file fails (loudly, at " +
      "latest when collected)") {
    withBase { base =>
      import spark.implicits._
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(base, "broken.ttl"),
        "@prefix eg: <http://e/> .\neg:s eg:p {{{ not rdf\n")
      val files = Seq("<file://" + base + "/broken.ttl>").toDF("file")
      intercept[Exception](ConstructParser.parseSelect(
        """SELECT * {
          |  ?d <urn:file> ?file .
          |  SERVICE ?file { ?s ?p ?o }
          |}""".stripMargin)
        .run(files.select(org.apache.spark.sql.functions.lit("<d>").as("subj"),
          org.apache.spark.sql.functions.lit("<urn:file>").as("pred"),
          org.apache.spark.sql.functions.col("file").as("obj")))
        .collect())
    }
  }

  test("FROM with a typo'd RDF-file name fails loudly instead of silently " +
      "matching no session graph") {
    withBase { base =>
      import spark.implicits._
      val session = Seq(("<g>", "<s>", "<p>", "\"x\""))
        .toDF("graph", "subj", "pred", "obj")
      val e = intercept[Exception](ConstructParser.parseSelect(
        "SELECT * FROM <dcat2.ttl> { ?s ?p ?o }").run(session).collect())
      assert(e.getMessage.contains("no such file"), s"got: ${e.getMessage}")
      // bare names keep plain graph-name semantics (no file look)
      val ok = ConstructParser.parseSelect(
        "SELECT * FROM <g> { ?s ?p ?o }").run(session).collect()
      assert(ok.length === 1)
    }
  }

  test("filter gating is position-independent: FILTER written AFTER the " +
      "SERVICE still gates which files are dispatched") {
    withBase { base =>
      val q =
        """SELECT * {
          |  <example-data> fs:find ?file
          |  SERVICE ?file { ?s ?p ?o }
          |  FILTER(fs:probeRdf(?file))
          |}""".stripMargin
      val got = ConstructParser.parseSelect(q).run(unit).collect()
      // same result as the filter-before-SERVICE form: 2 triples from the
      // 2 RDF files; the CSVs must never have been opened as RDF
      assert(got.length === 2)
    }
  }

  test("file names with SPACES round-trip through fs:find → probe → SERVICE " +
      "(Path.toUri percent-encoding is decoded back)") {
    withBase { base =>
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(base, "spaced"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(base, "spaced", "my data.nt"),
        "<http://e/s> <http://e/p> \"v\" .\n")
      val q =
        """SELECT * {
          |  <spaced> fs:find ?file
          |  FILTER(fs:probeRdf(?file))
          |  SERVICE ?file { ?s ?p ?o }
          |}""".stripMargin
      val got = ConstructParser.parseSelect(q).run(unit).collect()
      assert(got.length === 1 && got.head.getString(0).contains("my%20data.nt"))
      assert(got.head.getString(3) === "\"v\"")
    }
  }

  test("OPTIONAL filter referencing a var bound only by a LATER sibling " +
      "pattern: unbound at LeftJoin time = error = false (SPARQL 6.1), " +
      "not an unresolved-column crash") {
    import spark.implicits._
    val quads = Seq(
      ("<a>", "<http://e/p>", "\"v\""),
      ("<a>", "<http://e/q>", "\"q1\""),
      ("<a>", "<http://e/r>", "\"w\""),
      ("<b>", "<http://e/p>", "\"u\""),
      ("<b>", "<http://e/q>", "\"q2\""),
      ("<b>", "<http://e/r>", "\"z\"")).toDF("subj", "pred", "obj")
    // ?y is bound only AFTER the OPTIONAL: the LeftJoin condition sees
    // it UNBOUND (algebra is built left to right), so no optional row
    // qualifies — both subjects keep ?v unbound
    val q =
      """PREFIX e: <http://e/>
        |SELECT ?s ?v WHERE {
        |  ?s e:q ?x
        |  OPTIONAL { ?s e:p ?v FILTER(STR(?y) = "w") }
        |  ?s e:r ?y
        |}""".stripMargin
    val got = ConstructParser.parseSelect(q).run(quads).collect()
      .map(r => (r.getString(0), Option(r.getString(1)))).toSet
    assert(got === Set(("<a>", None), ("<b>", None)))
    // an OUTER var bound BEFORE the OPTIONAL joins the condition
    // normally — and with correct term-ness wherever it is written
    val q2 =
      """PREFIX e: <http://e/>
        |SELECT ?s ?v WHERE {
        |  ?s e:r ?y
        |  OPTIONAL { ?s e:p ?v FILTER(STR(?y) = "w") }
        |}""".stripMargin
    val got2 = ConstructParser.parseSelect(q2).run(quads).collect()
      .map(r => (r.getString(0), Option(r.getString(1)))).toSet
    assert(got2 === Set(("<a>", Some("\"v\"")), ("<b>", None)))
  }

  test("loud rejects: unbound endpoint var, non-directory fs:find, variable fs:find subject") {
    withBase { base =>
      def bad(q: String, frag: String): Unit = {
        val e = intercept[Exception](
          ConstructParser.parseSelect(q).run(unit).collect())
        assert(e.getMessage.contains(frag), s"got: ${e.getMessage}")
      }
      bad("SELECT * { SERVICE ?x { ?s ?p ?o } }", "must be bound")
      bad("SELECT * { <no-such-dir> fs:find ?f }", "not a directory")
      bad("SELECT * { ?d fs:find ?f }", "constant directory IRI")
      // fs:probeRdf on a non-file value is FALSE, not an error
      val ok = ConstructParser.parseSelect(
        "SELECT * { <example-data> fs:find ?f FILTER(fs:probeRdf(IRI(\"http://x/\"))) }")
        .run(unit).collect()
      assert(ok.isEmpty)
    }
  }

  test("FROM over two files relabels blank nodes apart (RDF merge, not union)") {
    withBase { base =>
      def w(rel: String, body: String): Unit =
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(base, rel), body)
      // the SAME _:b0 label in two documents = two distinct nodes
      w("m1.nt", "_:b0 <http://ex.org/p> \"one\" .\n")
      w("m2.nt", "_:b0 <http://ex.org/p> \"two\" .\n")
      val session = unit.sparkSession.range(0).selectExpr(
        "'x' as graph", "'x' as subj", "'x' as pred", "'x' as obj")
      val rows = ConstructParser.parseSelect(
        "SELECT ?s ?o FROM <m1.nt> FROM <m2.nt> { ?s ?p ?o }")
        .run(session).collect()
      assert(rows.length === 2) // merged label would dedupe to... 2 rows
      // ...but critically the two subjects must DIFFER
      assert(rows.map(_.getString(0)).distinct.length === 2,
        s"blank nodes from different FROM files were identified: " +
          rows.map(_.getString(0)).mkString(", "))
      assert(rows.map(_.getString(1)).toSet === Set("\"one\"", "\"two\""))
    }
  }

  test("percentDecode: bare % in a file path fails loudly; %XX decodes") {
    assert(ConstructParser.percentDecode("/tmp/a%20b.nt") === "/tmp/a b.nt")
    val e = intercept[IllegalArgumentException](
      ConstructParser.percentDecode("/tmp/100%done.txt"))
    assert(e.getMessage.contains("%25"), s"got: ${e.getMessage}")
  }

  test("fn.of lambda body: a top-level comma inside an IRI does not split arg spans") {
    val got = ConstructParser.parseSelect(
      """PREFIX norse: <https://w3id.org/aksw/norse#>
        |SELECT ?r { BIND(norse:fn.of(?x, STR(<http://ex.org/f,g>)) AS ?f)
        |  BIND(norse:fn.call(?f, 1) AS ?r) }""".stripMargin)
      .run(unit).collect()
    assert(got.head.getString(0) === "http://ex.org/f,g")
    // and a comparison '<' in the body still parses as an operator
    val got2 = ConstructParser.parseSelect(
      """PREFIX norse: <https://w3id.org/aksw/norse#>
        |SELECT ?r { BIND(norse:fn.of(?x, IF(?x < 5, "lo", "hi")) AS ?f)
        |  BIND(norse:fn.call(?f, 3) AS ?r) }""".stripMargin)
      .run(unit).collect()
    assert(got2.head.getString(0) === "lo")
  }
}
