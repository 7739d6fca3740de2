package graft

import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.scheduler.SparkListenerJobStart
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.{eventsDuring, jobsDuring}
import graft.server.SparqlHttpServer

/** SPARQL 1.1 Protocol conformance of the `--server` endpoint
  * (SURVEY §2 row 9; the reference's serving sink,
  * SparqlIntegrateCmdImpls.java:801-863, flags
  * CmdSparqlIntegrateMain.java:57,134-141) — every test talks real HTTP
  * over loopback via `java.net.http.HttpClient`.
  */
class ServerSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  private val client = HttpClient.newHttpClient()

  private def fixture() = {
    import spark.implicits._
    Seq(
      ("<urn:g1>", "<urn:a>", "<urn:p>", "\"x\""),
      ("<urn:g1>", "<urn:a>", "<urn:q>", "\"hei\"@no"),
      ("<urn:g2>", "<urn:b>", "<urn:p>",
        "\"7\"^^<http://www.w3.org/2001/XMLSchema#integer>"),
      ("<urn:g2>", "_:n1", "<urn:p>", "\"line1\\nline2 \\\"q\\\"\""))
      .toDF("graph", "subj", "pred", "obj")
  }

  private def withServer[A](readOnly: Boolean = false,
      unsafe: Boolean = false, data: => DataFrame = fixture())(
      body: (String, SparqlHttpServer) => A): A = {
    val srv = SparqlHttpServer.start(spark, data, port = 0,
      readOnly = readOnly, unsafe = unsafe)
    try body(s"http://127.0.0.1:${srv.port}", srv) finally srv.stop()
  }

  private def enc(s: String) = URLEncoder.encode(s, "UTF-8")

  private def get(url: String, accept: String = "")
      : (Int, String, String) = {
    val b = HttpRequest.newBuilder(java.net.URI.create(url))
    val req = (if (accept.nonEmpty) b.header("Accept", accept) else b).build()
    val r = client.send(req, HttpResponse.BodyHandlers.ofString(UTF_8))
    (r.statusCode(), r.body(),
      Option(r.headers().firstValue("Content-Type").orElse("")).getOrElse(""))
  }

  private def post(url: String, ct: String, body: String)
      : (Int, String) = {
    val req = HttpRequest.newBuilder(java.net.URI.create(url))
      .header("Content-Type", ct)
      .POST(HttpRequest.BodyPublishers.ofString(body, UTF_8)).build()
    val r = client.send(req, HttpResponse.BodyHandlers.ofString(UTF_8))
    (r.statusCode(), r.body())
  }

  test("GET ?query= SELECT returns SRJ with typed terms, lang, datatype, " +
    "bnode, and escaped strings; reader round-trips it") {
    withServer() { (base, _) =>
      val (code, body, ct) = get(
        s"$base/sparql?query=${enc("SELECT ?s ?o WHERE { ?s <urn:p> ?o }")}")
      assert(code == 200 && ct.contains("sparql-results+json"))
      // wire shape: typed terms per the SRJ spec
      assert(body.contains(""""s":{"type":"uri","value":"urn:a"}"""))
      assert(body.contains(""""type":"bnode","value":"n1""""))
      assert(body.contains(
        """"datatype":"http://www.w3.org/2001/XMLSchema#integer""""))
      // JSON escaping of a lexical form with newline + quotes (to_json)
      assert(body.contains("line1\\nline2 \\\"q\\\""))
      // the engine's own SRJ reader parses the writer's output back to
      // the exact term strings the server serialized
      val tmp = tmpDir("srv").resolve("body.srj")
      java.nio.file.Files.writeString(tmp, body)
      val back = graft.sources.ResultSetIO.readSrj(spark, tmp.toString)
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(back == Set(
        ("\"x\"", "<urn:a>"),
        ("\"7\"^^<http://www.w3.org/2001/XMLSchema#integer>", "<urn:b>"),
        ("\"line1\\nline2 \\\"q\\\"\"", "_:n1")))
    }
  }

  test("lang-tagged literal carries xml:lang on the wire") {
    withServer() { (base, _) =>
      val (_, body, _) = get(
        s"$base/sparql?query=${enc("SELECT ?o WHERE { ?s <urn:q> ?o }")}")
      assert(body.contains(""""xml:lang":"no""""))
      assert(body.contains(""""value":"hei""""))
    }
  }

  test("ASK returns the boolean SRJ document (and SRX on demand)") {
    withServer() { (base, _) =>
      val (c1, b1, _) = get(
        s"$base/sparql?query=${enc("ASK { <urn:a> <urn:p> ?o }")}")
      assert(c1 == 200 && b1 == """{"head":{},"boolean":true}""")
      val (c2, b2, _) = get(
        s"$base/sparql?query=${enc("ASK { <urn:nosuch> <urn:p> ?o }")}")
      assert(c2 == 200 && b2 == """{"head":{},"boolean":false}""")
      val (_, b3, ct3) = get(
        s"$base/sparql?query=${enc("ASK { <urn:a> <urn:p> ?o }")}",
        accept = "application/sparql-results+xml")
      assert(ct3.contains("sparql-results+xml") &&
        b3.contains("<boolean>true</boolean>"))
    }
  }

  test("Accept negotiation: SRX and TSV for bindings") {
    withServer() { (base, _) =>
      val q = enc("SELECT ?s ?o WHERE { ?s <urn:p> ?o }")
      val (_, xml, ctX) = get(s"$base/sparql?query=$q",
        accept = "application/sparql-results+xml")
      assert(ctX.contains("sparql-results+xml"))
      assert(xml.contains("""<variable name="s"/>"""))
      assert(xml.contains("""<binding name="s"><uri>urn:a</uri></binding>"""))
      assert(xml.contains(
        """<literal datatype="http://www.w3.org/2001/XMLSchema#integer">7</literal>"""))
      val (_, tsv, ctT) = get(s"$base/sparql?query=$q",
        accept = "text/tab-separated-values")
      assert(ctT.contains("tab-separated-values"))
      val lines = tsv.trim.split("\n")
      assert(lines.head == "?s\t?o")
      // TSV carries the engine's canonical N-Triples term strings
      assert(lines.contains(
        "<urn:b>\t\"7\"^^<http://www.w3.org/2001/XMLSchema#integer>"))
    }
  }

  test("CONSTRUCT serves N-Quads by default and TriG on Accept; " +
    "default-graph output drops the graph term") {
    withServer() { (base, _) =>
      val q = enc("CONSTRUCT WHERE { ?s <urn:p> ?o }")
      val (c1, nq, ct1) = get(s"$base/sparql?query=$q")
      assert(c1 == 200 && ct1.contains("n-quads"))
      // CONSTRUCT emits into the default graph -> 3-term lines
      assert(nq.linesIterator.forall(l =>
        l.isEmpty || l.split(" ").length >= 4)) // s p o .
      assert(nq.contains("<urn:a> <urn:p> \"x\" ."))
      assert(!nq.contains("urn:x-arq:DefaultGraph"))
      val (_, trig, ct2) = get(s"$base/sparql?query=$q",
        accept = "application/trig")
      assert(ct2.contains("trig") && trig.contains("<urn:a> <urn:p> \"x\""))
    }
  }

  test("POST form update mutates the served dataset; raw " +
    "application/sparql-update body too; read-only rejects with 403") {
    withServer() { (base, srv) =>
      val (c1, _) = post(s"$base/sparql",
        "application/x-www-form-urlencoded",
        s"update=${enc("INSERT DATA { <urn:new> <urn:p> \"z\" }")}")
      assert(c1 == 204)
      val (_, b, _) = get(
        s"$base/sparql?query=${enc("ASK { <urn:new> <urn:p> \"z\" }")}")
      assert(b.contains("true"))
      val (c2, _) = post(s"$base/sparql", "application/sparql-update",
        "DELETE DATA { <urn:new> <urn:p> \"z\" }")
      assert(c2 == 204)
      val (_, b2, _) = get(
        s"$base/sparql?query=${enc("ASK { <urn:new> <urn:p> \"z\" }")}")
      assert(b2.contains("false"))
    }
    withServer(readOnly = true) { (base, _) =>
      val (code, body) = post(s"$base/sparql",
        "application/x-www-form-urlencoded",
        s"update=${enc("INSERT DATA { <urn:new> <urn:p> \"z\" }")}")
      assert(code == 403 && body.contains("read-only"))
    }
  }

  test("LOAD over the protocol requires --unsafe (file-access gate)") {
    withServer() { (base, _) =>
      val (code, body) = post(s"$base/sparql", "application/sparql-update",
        "LOAD <file:/etc/hostname>")
      assert(code == 403 && body.contains("--unsafe"))
    }
  }

  test("POST raw application/sparql-query body; parse errors answer 400") {
    withServer() { (base, _) =>
      val (c1, b1) = post(s"$base/sparql", "application/sparql-query",
        "SELECT ?s WHERE { ?s <urn:p> ?o }")
      assert(c1 == 200 && b1.contains("urn:a"))
      val (c2, b2) = post(s"$base/sparql", "application/sparql-query",
        "SELEKT bogus")
      assert(c2 == 400 && b2.contains("parse error"))
      val (c3, _, _) = get(s"$base/sparql")
      assert(c3 == 400)
    }
  }

  test("POST /graphql: JSON envelope and raw body both answer the " +
    "{\"data\":…} document") {
    withServer() { (base, _) =>
      val gq = "{ thing @pattern(of: \"?s <urn:p> ?o\", from: \"s\", " +
        "to: \"s\") { id @bind(of: \"?s\"), val @bind(of: \"?o\") } }"
      val (c1, b1) = post(s"$base/graphql", "application/json",
        s"""{"query":${SparqlHttpServer.jsonString(gq)}}""")
      assert(c1 == 200 && b1.startsWith("""{"data":{"""), b1)
      val (c2, b2) = post(s"$base/graphql", "application/graphql", gq)
      assert(c2 == 200 && b2 == b1)
      val (c3, b3) = post(s"$base/graphql", "application/json",
        """{"notquery": 1}""")
      assert(c3 == 400 && b3.contains("errors"))
    }
  }

  test("index at /, 404 elsewhere, 405 on bad method") {
    withServer() { (base, _) =>
      val (c1, b1, _) = get(s"$base/")
      assert(c1 == 200 && b1.contains("/sparql"))
      val (c2, _, _) = get(s"$base/nosuch")
      assert(c2 == 404)
      val (c3, _) = post(s"$base/sparql?x", "text/plain", "")
      assert(c3 == 400) // POST with no query/update param
    }
  }

  test("Integrate --server: workloads run first, the endpoint serves the " +
    "final state, lastServer exposes the ephemeral port") {
    val code = Integrate.run(
      Array("--server", "--port", "0",
        "INSERT DATA { <urn:i1> <urn:p> \"from-cli\" }"),
      spark, System.out, System.err, awaitServer = false)
    assert(code == 0)
    val srv = Integrate.lastServer.get
    try {
      val (c, b, _) = get(s"http://127.0.0.1:${srv.port}/sparql?query=" +
        enc("SELECT ?o WHERE { <urn:i1> <urn:p> ?o }"))
      assert(c == 200 && b.contains("from-cli"))
    } finally srv.stop()
  }

  test("unbound OPTIONAL var drops out of the SRJ binding object") {
    import spark.implicits._
    val ds = Seq(("<urn:g>", "<urn:a>", "<urn:p>", "\"x\""))
      .toDF("graph", "subj", "pred", "obj")
    val srv = SparqlHttpServer.start(spark, ds, port = 0)
    try {
      val (_, body, _) = get(s"http://127.0.0.1:${srv.port}/sparql?query=" +
        enc("SELECT ?s ?m WHERE { ?s <urn:p> ?o . " +
          "OPTIONAL { ?s <urn:missing> ?m } }"))
      assert(body.contains(""""s":{"type":"uri","value":"urn:a"}"""))
      assert(!body.contains("\"m\":"), body)
    } finally srv.stop()
  }

  test("a projection named after a decimal literal answers 200 as SRJ, " +
    "SRX and TSV") {
    withServer() { (base, _) =>
      val q = enc("SELECT 1.5 (\"x\" AS ?y) { }")
      val (c1, srj, _) = get(s"$base/sparql?query=$q")
      assert(c1 == 200 &&
        srj.contains(""""1.5":{"type":"literal","value":"1.5"}"""), srj)
      val (c2, srx, _) = get(s"$base/sparql?query=$q",
        accept = "application/sparql-results+xml")
      assert(c2 == 200 && srx.contains(
        """<binding name="1.5"><literal>1.5</literal></binding>"""), srx)
      val (c3, tsv, _) = get(s"$base/sparql?query=$q",
        accept = "text/tab-separated-values")
      assert(c3 == 200 && tsv == "?1.5\t?y\n1.5\tx\n", tsv)
    }
  }

  private def spread(df: DataFrame, parts: Int): DataFrame =
    df.repartition(parts).localCheckpoint()

  test("ORDER BY keeps its order across waves of partitions, as TSV and " +
    "as SRJ") {
    import spark.implicits._
    val dp = spark.sparkContext.defaultParallelism
    val ids = new scala.util.Random(7).shuffle((1 to 60).toList)
    val data = ids.map(i => ("<urn:g>", f"<urn:s$i%03d>", "<urn:v>", "\"x\""))
      .toDF("graph", "subj", "pred", "obj")
    val expected = (60 to 1 by -1).map(i => f"urn:s$i%03d")
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    // keep the sorted result spread over 3 x defaultParallelism partitions
    spark.conf.set(keys(0), (3 * dp).toString)
    spark.conf.set(keys(1), "false")
    try withServer(data = spread(data, 3 * dp)) { (base, _) =>
      val q = enc("SELECT ?s WHERE { ?s <urn:v> ?o } ORDER BY DESC(?s)")
      val (c1, tsv, _) = get(s"$base/sparql?query=$q",
        accept = "text/tab-separated-values")
      assert(c1 == 200)
      assert(tsv.trim.split("\n").toSeq ===
        ("?s" +: expected.map(s => s"<$s>")))
      val (c2, srj, _) = get(s"$base/sparql?query=$q")
      assert(c2 == 200)
      assert(""""value":"(urn:s\d+)"""".r.findAllMatchIn(srj)
        .map(_.group(1)).toSeq === expected)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("a point lookup runs one job per wave of defaultParallelism " +
    "partitions, named after the request; the name does not leak") {
    val dp = spark.sparkContext.defaultParallelism
    val p = 3 * dp
    withServer(data = spread(fixture(), p)) { (base, _) =>
      val q = "SELECT ?p ?o WHERE { <urn:a> ?p ?o }"
      // the server's first four requests run on four fresh pool threads
      (1 to 4).foreach { _ =>
        val ((code, body, _), descs) =
          jobsDuring(get(s"$base/sparql?query=${enc(q)}",
            accept = "text/tab-separated-values"))
        assert(code == 200 && body.trim.split("\n").length == 3, body)
        assert(descs.nonEmpty && descs.length <= (p + dp - 1) / dp, descs)
        assert(descs.forall(_ == s"sparql query: $q"), descs)
      }
      // GraphQL requests reuse those threads; their jobs carry no
      // leftover SPARQL description
      val gq = "{ thing @pattern(of: \"?s <urn:p> ?o\", from: \"s\", " +
        "to: \"s\") { id @bind(of: \"?s\") } }"
      val (_, descs) = jobsDuring((1 to 4).foreach { _ =>
        assert(post(s"$base/graphql", "application/graphql", gq)._1 == 200)
      })
      assert(descs.nonEmpty && !descs.exists(_.startsWith("sparql")), descs)
    }
  }

  test("an update sent as a query answers 400 and leaves the dataset " +
    "alone; a query sent as update= still runs") {
    withServer() { (base, _) =>
      val ins = "INSERT DATA { <urn:get> <urn:p> \"z\" }"
      val (c1, b1, _) = get(s"$base/sparql?query=${enc(ins)}")
      assert(c1 == 400 && b1.contains("POST"), b1)
      val (c2, _) = post(s"$base/sparql",
        "application/x-www-form-urlencoded", s"query=${enc(ins)}")
      assert(c2 == 400)
      val (c3, _) = post(s"$base/sparql", "application/sparql-query", ins)
      assert(c3 == 400)
      val (_, ask, _) = get(
        s"$base/sparql?query=${enc("ASK { <urn:get> <urn:p> \"z\" }")}")
      assert(ask == """{"head":{},"boolean":false}""")
      val (c4, b4) = post(s"$base/sparql",
        "application/x-www-form-urlencoded",
        s"update=${enc("SELECT ?s WHERE { ?s <urn:p> \"x\" }")}")
      assert(c4 == 200 && b4.contains("urn:a"), b4)
    }
  }

  test("an update request starts no Spark job; a query request opens no " +
    "SQL execution and its jobs carry the request's description") {
    withServer(data = spread(fixture(), 2)) { (base, _) =>
      val ins = "INSERT DATA { <urn:new> <urn:p> \"z\" }"
      val ((code, _), descs) = jobsDuring(post(s"$base/sparql",
        "application/sparql-update", ins))
      assert(code == 204 && descs.isEmpty, descs)
      val q = "SELECT ?p ?o WHERE { <urn:new> ?p ?o }"
      val ((c2, body, _), events) = eventsDuring(get(
        s"$base/sparql?query=${enc(q)}", accept = "text/tab-separated-values"))
      assert(c2 == 200 && body.contains("\"z\""), body)
      assert(!events.exists(_.isInstanceOf[SparkListenerSQLExecutionStart]),
        events)
      val jobs = events.collect { case j: SparkListenerJobStart =>
        j.properties.getProperty("spark.job.description") }
      assert(jobs.nonEmpty && jobs.forall(_ == s"sparql query: $q"), jobs)
    }
  }
}
