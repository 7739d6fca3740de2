package graft

import java.io.{ByteArrayOutputStream, PrintStream}

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.CannedQueries

/** The reference's canned classpath `.rq` tail: `cpcat` (the rpt
  * subcommand), and the files that run VERBATIM from the embedded
  * byte-identical copies — property-joins/test-transpose are oracled
  * driver entries; path-test (fs:get) runs here. bnode-test/env-test hit
  * network SPARQL endpoints (scoped out with the other egress forms);
  * rename/tree/gtree run via documented variants (CannedQueries scaladoc).
  */
class CannedRqSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def cli(args: String*): (Int, String, String) = {
    val o = new ByteArrayOutputStream(); val e = new ByteArrayOutputStream()
    val code = Integrate.run(args.toArray, spark,
      new PrintStream(o, true, "UTF-8"), new PrintStream(e, true, "UTF-8"))
    (code, o.toString("UTF-8"), e.toString("UTF-8"))
  }

  test("cpcat prints the embedded reference resource byte-identically") {
    for (name <- Seq("spo.rq", "gspo.rq", "count.rq", "tree.rq",
        "property-joins.rq")) {
      val (code, out, err) = cli("cpcat", name)
      assert(code === 0, err)
      assert(out === CannedQueries.resource(name), name)
    }
    assert(cli("cpcat", "spo.rq")._2.trim === "CONSTRUCT WHERE { ?s ?p ?o }")
    val (code, _, err) = cli("cpcat", "nope.rq")
    assert(code === 1)
    assert(err.contains("no such classpath resource"))
    assert(intercept[IllegalArgumentException] {
      cli("cpcat", "../secrets")
    }.getMessage.contains("unsafe"))
  }

  test("path-test.rq VERBATIM: fs:get normalizes strings and file: IRIs " +
      "of any slash arity to absolute file IRI terms") {
    val df = graft.rules.ConstructParser
      .parseSelect(CannedQueries.resource("path-test.rq"))
      .run(graft.rules.ConstructParser.unitFrame(spark))
    assert(df.columns.toSeq === Seq("w", "x", "y", "z"))
    val r = df.as[(String, String, String, String)].collect()
    assert(r.length === 1)
    val cwd = sys.props("user.dir")
    assert(r(0)._1 === s"<file://$cwd/tmp>") // relative resolves at cwd
    assert(r(0)._2 === "<file:///tmp>")
    assert(r(0)._3 === "<file:///tmp>")      // file:/tmp single-slash form
    assert(r(0)._4 === "<file:///tmp>")      // file:///tmp triple-slash
  }

  test("shacl-targetClass.rq VERBATIM: LATERAL decorrelates per class; " +
      "one shape per class, one sh:property per (class, property)") {
    import org.apache.spark.sql.functions._
    val seed = Seq(
      ("<urn:a1>", "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>", "<urn:C1>"),
      ("<urn:a1>", "<urn:p1>", "\"x\""),
      ("<urn:a1>", "<urn:p2>", "\"y\""),
      ("<urn:a2>", "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>", "<urn:C1>"),
      ("<urn:a2>", "<urn:p1>", "\"z\""),
      ("<urn:b1>", "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>", "<urn:C2>"),
      ("<urn:b1>", "<urn:p3>", "\"w\"")
    ).toDF("subj", "pred", "obj")
      .withColumn("graph", lit("<urn:x-arq:DefaultGraph>"))
    // .distinct() = the quad-SET view (the engine's CONSTRUCT runner
    // emits the template multiset — one instantiation per solution row,
    // like the reference's STREAMING quad sink; its Model sink dedups,
    // which is this)
    val out = graft.rules.ConstructParser
      .parseConstruct(CannedQueries.resource("shacl-targetClass.rq"))
      .run(seed).distinct().cache()
    val sh = "http://www.w3.org/ns/shacl#"
    // 2 classes -> 2 NodeShapes with label + targetClass
    val shapes = out.filter($"pred" === s"<${sh}targetClass>")
      .select("subj", "obj").as[(String, String)].collect().toMap
    assert(shapes.size === 2)
    assert(shapes("<http://www.example.org/shape/urn%3AC1>") === "<urn:C1>")
    assert(shapes("<http://www.example.org/shape/urn%3AC2>") === "<urn:C2>")
    assert(out.filter($"pred" ===
      "<http://www.w3.org/2000/01/rdf-schema#label>")
      .filter($"obj" === "\"Shape for urn:C1\"").count() === 1)
    // LATERAL: properties are PER CLASS — C1 gets rdf:type+p1+p2, C2
    // gets rdf:type+p3; each sh:property bnode carries one sh:path
    val pathsByShape = out.filter($"pred" === s"<${sh}property>")
      .select($"subj".as("shape"), $"obj".as("shp"))
      .join(out.filter($"pred" === s"<${sh}path>")
        .select($"subj".as("shp"), $"obj".as("path")), "shp")
    val c1 = pathsByShape
      .filter($"shape" === "<http://www.example.org/shape/urn%3AC1>")
      .select("path").as[String].collect().toSet
    assert(c1 === Set(
      "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>",
      "<urn:p1>", "<urn:p2>"))
    val c2 = pathsByShape
      .filter($"shape" === "<http://www.example.org/shape/urn%3AC2>")
      .select("path").as[String].collect().toSet
    assert(c2 === Set(
      "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>", "<urn:p3>"))
    out.unpersist()
  }

  test("env-test.rq VERBATIM with a LOCAL file endpoint: <env://S> " +
      "substitution + file-SERVICE + INSERT...WHERE insert one typed triple") {
    // S = a self-referential N-Triples file: the dataset triple's subject
    // IS the file IRI, and the SERVICE reads the same file's own dataset
    val dir = tmpDir("envtest")
    val f = dir.resolve("d.nt")
    val iri = "file://" + f
    java.nio.file.Files.writeString(f, s"<$iri> <urn:p> \"o\" .\n")
    val script = graft.rules.ConstructParser.envSubst(
      s"LOAD <env://S> ;\n" + CannedQueries.resource("env-test.rq"),
      Map("S" -> iri))
    val res = graft.pipeline.Script.runSparql(spark, script).dataset
    val inserted = res.filter(
      $"subj" === s"<$iri>" &&
      $"pred" === "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>" &&
      $"obj" === s"<$iri>")
    assert(inserted.count() === 1)
  }

  test("pattern-free OPTIONAL-BIND never overwrites a left binding " +
      "(§6.1 compat); incompatible rows drop the WHOLE optional solution") {
    import org.apache.spark.sql.functions._
    val quads = Seq(
      ("<urn:s1>", "<urn:p>", "\"x\""),
      ("<urn:s2>", "<urn:p>", "\"y\"")
    ).toDF("subj", "pred", "obj")
      .withColumn("graph", lit("<urn:x-arq:DefaultGraph>"))
    val q =
      """SELECT ?s ?v ?w WHERE {
        |  ?s <urn:p> ?v .
        |  OPTIONAL { BIND("x" AS ?v) BIND(1 AS ?w) }
        |}""".stripMargin
    val rows = graft.rules.ConstructParser.parseSelect(q).run(quads)
      .orderBy("s").as[(String, String, String)].collect().toSeq
    // s1: left v="x" compatible -> w bound; s2: left v="y" INCOMPATIBLE
    // with the optional's v="x" -> v stays "y", w unbound
    assert(rows === Seq(
      ("<urn:s1>", "\"x\"", "1"),
      ("<urn:s2>", "\"y\"", null)))
  }

  test("LATERAL rejects loudly when the correlation is only expressible " +
      "in a FILTER/BIND expression (no decorrelated form)") {
    val e = intercept[IllegalArgumentException] {
      graft.rules.ConstructParser.parseSelect(
        """SELECT ?s ?o2 WHERE {
          |  ?s <urn:p> ?o .
          |  LATERAL { SELECT ?o2 { ?s2 <urn:q> ?o2 FILTER(?o2 > ?o) } }
          |}""".stripMargin)
    }
    assert(e.getMessage.contains("LATERAL"), e.getMessage)
    assert(e.getMessage.contains("?o"), e.getMessage)
  }

  test("every reference .rq resource is embedded and accounted for") {
    val all = Seq("bnode-test.rq", "count.rq", "env-test.rq", "gspo.rq",
      "gtree.rq", "path-test.rq", "property-joins.rq", "rename.rq", "s.rq",
      "shacl-targetClass.rq", "spo.rq", "spogspo.rq", "test-transpose.rq",
      "tree.rq")
    all.foreach(n => assert(CannedQueries.resource(n).nonEmpty, n))
  }
}
