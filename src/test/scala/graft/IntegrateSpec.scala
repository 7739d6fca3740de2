package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.SparkListenerJobStart
import org.scalatest.funsuite.AnyFunSuite

/** The `graft.Integrate` CLI front door, end-to-end through its OWN
  * argument path (VERDICT r8 task 1): the reference's example.sparql and
  * namespace-test.sparql verbatim, plus the arg-classification / output
  * routing matrix (`rpt integrate` — SparqlIntegrateCmdImpls.java:163-345,
  * CmdSparqlIntegrateMain.java:30-240).
  */
class IntegrateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def res(name: String): String =
    getClass.getResource("/integrate/" + name).getPath

  /** Run the CLI path with captured stdout/stderr. */
  private def cli(args: String*): (Int, String, String) = {
    val o = new ByteArrayOutputStream(); val e = new ByteArrayOutputStream()
    val code = Integrate.run(args.toArray, spark,
      new PrintStream(o, true, "UTF-8"), new PrintStream(e, true, "UTF-8"))
    (code, o.toString("UTF-8"), e.toString("UTF-8"))
  }

  private def tmpDir(): java.nio.file.Path =
    Files.createTempDirectory("graft_integrate")

  private def withProp[A](key: String, value: String)(body: => A): A = {
    val old = sys.props.get(key)
    sys.props(key) = value
    try body finally old match {
      case Some(v) => sys.props(key) = v
      case None => sys.props.remove(key)
    }
  }

  test("namespace-test.sparql VERBATIM: bindings-only script emits SPARQL " +
      "TSV on stdout; the second statement reuses the first's PREFIX") {
    val (code, out, err) = cli(res("namespace-test.sparql"))
    assert(code === 0, err)
    val lines = out.trim.split("\n").toSeq
    assert(lines.head === "?s\t?o")
    assert(lines.tail === Seq("<http://foo.bar/baza>\t<http://foo.bar/bazc>"))
  }

  test("prefix carry-over ACROSS argument files + prelude prefixes " +
      "(namespace-test + test-used-prefixes pair)") {
    // test-used-prefixes.sparql uses eg:/rdfs: with no declaration (the
    // prelude supplies them); namespace-test's test: prefix must also
    // still be visible to a later inline statement
    val (code, out, err) = cli(
      res("namespace-test.sparql"),
      res("test-used-prefixes.sparql"),
      "SELECT ?label ?c WHERE { eg:s rdfs:label ?label . test:a test:b ?c }")
    assert(code === 0, err)
    val lines = out.trim.split("\n").toSeq
    // two SELECTs: namespace-test's own, then the inline probe
    assert(lines.contains("?label\t?c"))
    assert(lines.contains("\"Foobar\"\t<http://foo.bar/bazc>"))
  }

  test("example.sparql VERBATIM: the github URL remaps to a local fixture " +
      "via graft.fileAliases; CONSTRUCT quads land in -o file atomically") {
    val dir = tmpDir()
    val fixture = dir.resolve("trento-bike-sharing.json")
    Files.writeString(fixture,
      """[{"id":"295","name":"Stazione Uno","position":[11.12,46.04]},
        |{"id":"296","name":"Stazione Due","position":[11.13,46.05]}]"""
        .stripMargin)
    val url = "https://raw.githubusercontent.com/QROWD/" +
      "QROWD-RDF-Data-Integration/master/datasets/" +
      "1014-electric-bikesharing-stations/trento-bike-sharing.json"
    val outFile = dir.resolve("out.nq")
    withProp("graft.fileAliases", s"$url=$fixture") {
      val (code, _, err) = cli(res("example.sparql"),
        "-o", outFile.toString)
      assert(code === 0, err)
    }
    val quads = {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(outFile).asScala.toSeq
    }
    assert(quads.size === 10) // 2 stations x 5 template triples
    val g = "<http://www.example.org/myGraph>"
    assert(quads.forall(_.endsWith(s" $g ."))) // CONSTRUCT GRAPH wrap
    val s1 = "<http://qrowd-project.eu/resource/295>"
    assert(quads.exists(l => l.startsWith(s1) &&
      l.contains("<http://www.w3.org/2000/01/rdf-schema#label>") &&
      l.contains("\"Stazione Uno\"")))
    assert(quads.exists(
      _.contains("<http://qrowd-project.eu/ontology/BikeStation>")))
    // atomic write leaves no staging droppings behind
    val names = {
      import scala.jdk.CollectionConverters._
      Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSeq
    }
    assert(!names.exists(_.contains(".staging")))
    assert(!names.exists(_.contains(".tmp")))
  }

  test("RDF file arg becomes a LOAD workload; inline CONSTRUCT streams " +
      "N-Quads to stdout") {
    val dir = tmpDir()
    val nt = dir.resolve("data.nt")
    Files.writeString(nt,
      "<urn:a> <urn:p> \"x\" .\n<urn:b> <urn:p> \"y\" .\n")
    val (code, out, err) = cli(nt.toString,
      "CONSTRUCT { ?s <urn:q> ?o } WHERE { ?s <urn:p> ?o }")
    assert(code === 0, err)
    assert(out.trim.split("\n").toSet === Set(
      "<urn:a> <urn:q> \"x\" .",
      "<urn:b> <urn:q> \"y\" ."))
  }

  test("quads + SELECT mix: quads own stdout, the SELECT table goes to " +
      "stderr as TSV") {
    val dir = tmpDir()
    val nt = dir.resolve("d.nt")
    Files.writeString(nt, "<urn:a> <urn:p> \"1\" .\n")
    val (code, out, err) = cli(nt.toString,
      "SELECT ?s WHERE { ?s <urn:p> ?o }",
      "CONSTRUCT { ?s <urn:q> ?o } WHERE { ?s <urn:p> ?o }")
    assert(code === 0)
    assert(out.trim === "<urn:a> <urn:q> \"1\" .")
    assert(err.contains("?s\n") || err.contains("?s\r\n") ||
      err.startsWith("?s"))
    assert(err.contains("<urn:a>"))
  }

  test("--split writes one output file per source argument") {
    val dir = tmpDir()
    val a = dir.resolve("alpha.sparql")
    val b = dir.resolve("beta.sparql")
    Files.writeString(a,
      "INSERT DATA { <urn:a> <urn:p> <urn:o> }\n" +
        "CONSTRUCT { ?s <urn:q1> ?o } WHERE { ?s <urn:p> ?o }")
    Files.writeString(b,
      "CONSTRUCT { ?s <urn:q2> ?o } WHERE { ?s <urn:p> ?o }")
    val split = dir.resolve("out").toString
    val (code, _, err) = cli("--split", split, a.toString, b.toString)
    assert(code === 0, err)
    assert(Files.readAllLines(Paths.get(split, "alpha.nq")).get(0)
      === "<urn:a> <urn:q1> <urn:o> .")
    assert(Files.readAllLines(Paths.get(split, "beta.nq")).get(0)
      === "<urn:a> <urn:q2> <urn:o> .")
  }

  test("--io FILE: the file is both first input and output, replaced " +
      "atomically on success") {
    val dir = tmpDir()
    val f = dir.resolve("inout.nq")
    Files.writeString(f, "<urn:a> <urn:p> \"v\" <urn:g> .\n")
    val (code, _, err) = cli("--io", f.toString,
      "CONSTRUCT { ?s <urn:rewritten> ?o } WHERE { GRAPH <urn:g> { ?s <urn:p> ?o } }")
    assert(code === 0, err)
    assert(Files.readAllLines(f).get(0)
      === "<urn:a> <urn:rewritten> \"v\" .")
  }

  test("-o file.trig picks the TriG serialization from the extension") {
    val dir = tmpDir()
    val outFile = dir.resolve("o.trig")
    val (code, _, err) = cli(
      "INSERT DATA { GRAPH <urn:g> { <urn:s> <urn:p> <urn:o> } }",
      "CONSTRUCT { GRAPH ?g { ?s ?p ?o } } WHERE { GRAPH ?g { ?s ?p ?o } }",
      "-o", outFile.toString)
    assert(code === 0, err)
    val text = Files.readString(outFile)
    assert(text.contains("<urn:g> {"))
    assert(text.contains("  <urn:s> <urn:p> <urn:o> ."))
  }

  test("ASK routes as a result table; DESCRIBE routes as quads") {
    val dir = tmpDir()
    val nt = dir.resolve("d.nt")
    Files.writeString(nt, "<urn:a> <urn:p> \"1\" .\n")
    val (c1, out1, _) = cli(nt.toString, "ASK { ?s <urn:p> ?o }")
    assert(c1 === 0)
    assert(out1.trim.split("\n").toSeq === Seq("?ask", "true"))
    val (c2, out2, _) = cli(nt.toString, "DESCRIBE <urn:a>")
    assert(c2 === 0)
    assert(out2.trim === "<urn:a> <urn:p> \"1\" .")
  }

  test("<env:VAR> substitution: --env first, process env fallback, " +
      "missing name fails loudly") {
    val dir = tmpDir()
    val nt = dir.resolve("envdata.nt")
    Files.writeString(nt, "<urn:e> <urn:p> \"z\" .\n")
    val (code, out, err) = cli("--env", s"SRC=$nt",
      s"LOAD <env:SRC>",
      "CONSTRUCT { ?s <urn:seen> ?o } WHERE { ?s <urn:p> ?o }")
    assert(code === 0, err)
    assert(out.trim === "<urn:e> <urn:seen> \"z\" .")
    val ex = intercept[IllegalArgumentException] {
      cli("SELECT ?x WHERE { <env:NOPE_UNSET_VAR> <urn:p> ?x }")
    }
    assert(ex.getMessage.contains("NOPE_UNSET_VAR"))
  }

  test("a sorted SELECT spread over more partitions than " +
    "defaultParallelism prints the same TSV to stdout, stderr and -o, in " +
    "order, one job per wave of partitions") {
    val dp = spark.sparkContext.defaultParallelism
    val p = 3 * dp
    val dir = tmpDir()
    val nt = dir.resolve("d.nt")
    val ids = new scala.util.Random(7).shuffle((1 to 60).toList)
    // odd subjects have no <urn:v> value: their ?o is unbound
    Files.writeString(nt, ids.map(i =>
      if (i % 2 == 0) f"<urn:s$i%03d> <urn:v> \"v$i\" .\n"
      else f"<urn:s$i%03d> <urn:w> <urn:x> .\n").mkString)
    val select = "SELECT ?s ?o WHERE { { ?s <urn:v> ?o } UNION " +
      "{ ?s <urn:w> ?x } } ORDER BY DESC(?s)"
    val expected = "?s\t?o" +: (60 to 1 by -1).map(i =>
      if (i % 2 == 0) f"<urn:s$i%03d>\t\"v$i\"" else f"<urn:s$i%03d>\t")
    def lines(text: String): Seq[String] = text.split("\n", -1).toSeq.init
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    // keep the sorted result spread over p partitions
    spark.conf.set(keys(0), p.toString)
    spark.conf.set(keys(1), "false")
    try {
      val ((c1, out, e1), events) = TestSpark.eventsDuring(
        cli(nt.toString, select))
      assert(c1 === 0, e1)
      assert(lines(out) === expected)
      // the jobs that read the sort's exchange: the rest scan the input
      val reads = events.collect {
        case j: SparkListenerJobStart if j.stageInfos.size > 1 => j }
      assert(reads.nonEmpty && reads.length <= (p + dp - 1) / dp,
        reads.map(_.stageInfos.map(_.name)))
      val (c2, quads, err) = cli(nt.toString, select,
        "CONSTRUCT { ?s <urn:q> ?o } WHERE { ?s <urn:v> ?o }")
      assert(c2 === 0 && lines(quads).length === 30, err)
      assert(lines(err) === expected)
      val tsv = dir.resolve("out.tsv")
      val (c3, _, e3) = cli(nt.toString, select, "-o", tsv.toString)
      assert(c3 === 0, e3)
      assert(lines(Files.readString(tsv)) === expected)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("-h/--help prints usage to stdout and exits 0") {
    val (code, out, _) = cli("-h")
    assert(code === 0)
    assert(out.contains("usage: graft.Integrate"))
    assert(cli("--help", "ignored.nt")._1 === 0)
  }

  test("unknown option and unclassifiable file fail loudly") {
    val ex = intercept[IllegalArgumentException] { cli("--frobnicate") }
    assert(ex.getMessage.contains("unknown option"))
    val ex2 = intercept[IllegalArgumentException] { cli("missing-file.nt") }
    assert(ex2.getMessage.contains("no such file"))
    // --server is a real option since r9 (ServerSpec covers it); the
    // unclassifiable positional arg still fails loudly through it
    assert(intercept[IllegalArgumentException] {
      cli("--server", "x.sparql")
    }.getMessage.contains("no such file"))
  }

  test("HDT loop through the CLI: -o file.hdt encodes, a second " +
      "invocation LOADs the .hdt back") {
    val dir = tmpDir()
    val nt = dir.resolve("d.nt")
    Files.writeString(nt, "<urn:a> <urn:p> \"1\" .\n<urn:b> <urn:p> \"2\" .\n")
    val hdt = dir.resolve("o.hdt")
    // extension picks the format; no --of needed
    val (c1, _, e1) = cli(nt.toString,
      "CONSTRUCT { ?s ?p ?o } WHERE { ?s ?p ?o }", "-o", hdt.toString)
    assert(c1 === 0, e1)
    assert(Files.readAllBytes(hdt).take(4).toSeq ===
      "$HDT".getBytes("UTF-8").toSeq)
    val (c2, out2, e2) = cli(hdt.toString,
      "CONSTRUCT { ?s <urn:q> ?o } WHERE { ?s <urn:p> ?o }")
    assert(c2 === 0, e2)
    assert(out2.trim.split("\n").toSet === Set(
      "<urn:a> <urn:q> \"1\" .",
      "<urn:b> <urn:q> \"2\" ."))
    // binary to stdout rejects loudly
    assert(intercept[IllegalArgumentException] {
      cli(nt.toString, "--of", "hdt",
        "CONSTRUCT { ?s ?p ?o } WHERE { ?s ?p ?o }")
    }.getMessage.contains("-o"))
  }

  test("gzip output by extension: -o FILE.nq.gz holds the N-Quads " +
      "gzip-compressed") {
    val dir = tmpDir()
    val nt = dir.resolve("d.nt")
    Files.writeString(nt, "<urn:a> <urn:p> \"1\" .\n<urn:b> <urn:p> \"2\" .\n")
    val outFile = dir.resolve("o.nq.gz")
    val (code, _, err) = cli(nt.toString,
      "CONSTRUCT { ?s ?p ?o } WHERE { ?s ?p ?o }", "-o", outFile.toString)
    assert(code === 0, err)
    val in = new java.util.zip.GZIPInputStream(
      Files.newInputStream(outFile))
    val text = new String(in.readAllBytes(), "UTF-8")
    assert(text.trim.split("\n").toSet === Set(
      "<urn:a> <urn:p> \"1\" .",
      "<urn:b> <urn:p> \"2\" ."))
  }

  private def gunzip(p: java.nio.file.Path): String =
    new String(new java.util.zip.GZIPInputStream(Files.newInputStream(p))
      .readAllBytes(), "UTF-8")

  private def names(dir: java.nio.file.Path): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
    finally s.close()
  }

  test("gzip output by extension for a bindings-only script: -o " +
      "FILE.tsv.gz holds the TSV gzip-compressed") {
    val dir = tmpDir()
    val nt = dir.resolve("d.nt")
    Files.writeString(nt, "<urn:a> <urn:p> \"1\" .\n")
    val select = "SELECT ?s ?o WHERE { ?s <urn:p> ?o }"
    val (_, plain, _) = cli(nt.toString, select)
    val outFile = dir.resolve("t.tsv.gz")
    val (code, out, err) = cli(nt.toString, select, "-o", outFile.toString)
    assert(code === 0, err)
    assert(out === "")
    assert(gunzip(outFile) === "?s\t?o\n<urn:a>\t\"1\"\n")
    assert(gunzip(outFile) === plain)
  }

  test("-o FILE holds the bytes stdout gets, for a quad script and a " +
      "bindings-only script") {
    val dir = tmpDir()
    val nt = dir.resolve("d.nt")
    Files.writeString(nt, (1 to 40).map(i =>
      s"<urn:s$i> <urn:p> \"v$i\" <urn:g${i % 3}> .\n").mkString)
    Seq("CONSTRUCT { GRAPH ?g { ?s <urn:q> ?o } } WHERE { GRAPH ?g { ?s <urn:p> ?o } }",
      "SELECT ?s ?o WHERE { ?s <urn:p> ?o } ORDER BY ?o").foreach { q =>
      val (c1, stdout, e1) = cli(nt.toString, q)
      assert(c1 === 0, e1)
      assert(stdout.count(_ == '\n') >= 40, q)
      val f = dir.resolve("out")
      val (c2, _, e2) = cli(nt.toString, q, "-o", f.toString)
      assert(c2 === 0, e2)
      assert(Files.readString(f) === stdout, q)
    }
  }

  test("-o and --split leave only their output files: no .crc, _SUCCESS, " +
      "staging directory or tmp") {
    val dir = tmpDir()
    val a = dir.resolve("alpha.sparql")
    Files.writeString(a, "INSERT DATA { <urn:a> <urn:p> <urn:o> }\n" +
      "CONSTRUCT { ?s <urn:q> ?o } WHERE { ?s <urn:p> ?o }")
    val out = dir.resolve("o")
    Files.createDirectories(out)
    val (c1, _, e1) = cli(a.toString, "-o", out.resolve("main.nq").toString)
    assert(c1 === 0, e1)
    val (c2, _, e2) = cli("SELECT ?s WHERE { BIND(<urn:a> AS ?s) }",
      "-o", out.resolve("table.tsv").toString)
    assert(c2 === 0, e2)
    val split = dir.resolve("split")
    val (c3, _, e3) = cli("--split", split.toString, a.toString)
    assert(c3 === 0, e3)
    assert(names(out) === Seq("main.nq", "table.tsv"))
    assert(names(split) === Seq("alpha.nq"))
    assert(names(dir) === Seq("alpha.sparql", "o", "split"))
  }

  test("writeSingleFile over a frame that fails while it runs leaves the " +
      "target as it was and no tmp beside it") {
    import org.apache.spark.sql.functions._
    val dir = tmpDir()
    val target = dir.resolve("keep.nq")
    Files.writeString(target, "<urn:old> <urn:p> <urn:o> .\n")
    val before = Files.readAllBytes(target).toSeq
    val failing = spark.range(0, 100, 1, 4).select(
      when(col("id") === 77, raise_error(lit("planted failure")))
        .otherwise(concat(lit("<urn:s"), col("id").cast("string"),
          lit("> <urn:p> <urn:o> ."))).as("line"))
    val ex = intercept[Exception] {
      Integrate.writeSingleFile(failing, target, gzip = false)
    }
    assert(Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("planted failure")))
    assert(Files.readAllBytes(target).toSeq === before)
    assert(names(dir) === Seq("keep.nq"))
  }
}
