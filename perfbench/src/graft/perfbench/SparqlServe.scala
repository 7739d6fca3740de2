package graft.perfbench

import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Path
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import graft.Integrate
import graft.pipeline.Script
import graft.rules.{ConstructParser, Sportal}

/** One request of the mix. `update` requests are POSTed as SPARQL Update. */
final case class Req(cls: String, text: String, accept: String, update: Boolean)

/** One completed request: status, latency, body rows and bytes, digest. */
final case class Resp(status: Int, ms: Double, rows: Long, bytes: Long, digest: String)

/** sparql_serve: `Integrate.run([input.nq, --server, --port, 0])`, then a
  * closed loop of N clients (N = cores, no think time) replaying a fixed
  * request mix. One round is the whole mix; clients pull its requests
  * from a shared cursor, so a round ends when its slowest request does.
  */
object SparqlServe {
  val Ex = "http://ex.org/"
  val SportalIds = Seq("qb1", "qb2", "qb3", "qb4", "qb5")
  val MinRounds = 5
  val WarmRounds = 2

  /** The request mix of one round. `requests.txt` (written by the
    * generator from the seed) names the subjects of 7 point lookups, 2
    * graphs to CONSTRUCT and 4 organisations for org-star joins; the
    * sportal VoID battery and ~10 % content-neutral updates (INSERT DATA
    * then DELETE DATA of one quad in one request) complete it.
    */
  def mix(params: Seq[(String, String)]): IndexedSeq[Req] = {
    val tsv = "text/tab-separated-values"
    val nq = "application/n-quads"
    val asked = params.map { case (cls, iri) => cls match {
      case "point" => Req("point", s"SELECT ?p ?o WHERE { $iri ?p ?o }", tsv, update = false)
      case "graph" => Req("graph",
        s"CONSTRUCT { ?s ?p ?o } WHERE { GRAPH $iri { ?s ?p ?o } }", nq, update = false)
      case "join" => Req("join", s"SELECT ?p ?n WHERE { ?p <${Ex}worksFor> $iri ; " +
        "<http://xmlns.com/foaf/0.1/name> ?n }", tsv, update = false)
    } }
    val sportal = SportalIds.map(id => Req("sportal",
      Sportal.RawPrologue + Sportal.resource(s"raw/$id.rq"),
      nq, update = false))
    val updates = (1 to 2).map { i =>
      val q = s"""GRAPH <${Ex}g/bench> { <${Ex}bench/s$i> <${Ex}bench/p> "v$i" }"""
      Req("update", s"INSERT DATA { $q } ;\nDELETE DATA { $q }", "*/*", update = true)
    }
    (asked ++ sportal ++ updates).toIndexedSeq
  }

  def send(port: Int, r: Req): Resp = {
    val t0 = System.nanoTime()
    val c =
      if (r.update) {
        val c = URI.create(s"http://127.0.0.1:$port/sparql").toURL
          .openConnection().asInstanceOf[HttpURLConnection]
        c.setRequestMethod("POST")
        c.setDoOutput(true)
        c.setRequestProperty("Content-Type", "application/sparql-update")
        val os = c.getOutputStream
        try os.write(r.text.getBytes(UTF_8)) finally os.close()
        c
      } else {
        val c = URI.create(s"http://127.0.0.1:$port/sparql?query=" +
          URLEncoder.encode(r.text, UTF_8)).toURL
          .openConnection().asInstanceOf[HttpURLConnection]
        c.setRequestProperty("Accept", r.accept)
        c
      }
    c.setReadTimeout(120000)
    val status = c.getResponseCode
    val in = if (status >= 400) c.getErrorStream else c.getInputStream
    val body = if (in == null) Array.emptyByteArray
      else try in.readAllBytes() finally in.close()
    val ms = (System.nanoTime() - t0) / 1e6
    val text = new String(body, UTF_8)
    val lines = text.split("\n").iterator.filter(_.nonEmpty).toSeq
    // a TSV body's first line is its header, not a row
    val rows = if (r.accept.contains("tab-separated")) math.max(0, lines.length - 1)
      else lines.length.toLong
    Resp(status, ms, rows, body.length, Main.linesDigest(lines.iterator)._2)
  }

  /** Runs one round with `clients` threads; returns (wall s, responses in
    * mix order).
    */
  def round(port: Int, reqs: IndexedSeq[Req], order: IndexedSeq[Int],
      clients: Int): (Double, Array[Either[String, Resp]]) = {
    val out = new Array[Either[String, Resp]](reqs.length)
    val cursor = new AtomicInteger(0)
    val t0 = System.nanoTime()
    val threads = (1 to clients).map { _ =>
      val t = new Thread(() => {
        var i = cursor.getAndIncrement()
        while (i < order.length) {
          val k = order(i)
          out(k) = try Right(send(port, reqs(k))) catch {
            case e: Exception => Left(e.toString)
          }
          i = cursor.getAndIncrement()
        }
      })
      t.start(); t
    }
    threads.foreach(_.join())
    ((System.nanoTime() - t0) / 1e9, out)
  }

  def run(spark: SparkSession, in: Path, seconds: Double,
      trace: Boolean, clients: Int): Seq[(String, Any)] = {
    val seed = sys.props("perfbench.seed").toLong
    val tracer = if (trace) new Tracer(spark, "sparql_serve") else null
    val code = Integrate.run(Array(in.resolve("input.nq").toString, "--server",
      "--port", "0"), spark, System.out, System.err, awaitServer = false)
    require(code == 0, s"Integrate.run --server exited with $code")
    val srv = Integrate.lastServer.get
    try {
      val reqs = mix(java.nio.file.Files.readAllLines(in.resolve("requests.txt")).asScala
        .toSeq.filter(_.nonEmpty).map { l => val Array(c, iri) = l.split(" ", 2); (c, iri) })
      val rng = new scala.util.Random(seed ^ 0x5eedL)
      def order() = rng.shuffle(reqs.indices.toIndexedSeq)

      // the first warm-up pass is the single-client reference: the
      // expected status and body of every request
      val ref = reqs.map(r => send(srv.port, r))
      // then a fixed number of rounds: every update request grows the
      // served dataset's partition count, so runs stay comparable only
      // when each has run the same number of updates before timing
      val warm = (1 to WarmRounds).map(_ => round(srv.port, reqs, order(), clients)._1)
      if (Main.plantFault) {
        // self-test: change what one point lookup must return
        val subject = "<[^>]+>".r.findFirstIn(reqs.find(_.cls == "point").get.text).get
        val r = send(srv.port, Req("update", s"INSERT DATA { $subject <urn:planted> 1 }",
          "*/*", update = true))
        require(r.status / 100 == 2, s"planting the fault failed: HTTP ${r.status}")
      }
      val setupS = Main.uptime()
      System.err.println(f"[perfbench] sparql_serve warm-up rounds: " +
        warm.map(x => f"$x%.2f").mkString(", ") + f"; setup $setupS%.2fs")
      val errors = ArrayBuffer[String]()
      ref.zip(reqs).foreach { case (r, q) =>
        if (r.status / 100 != 2) errors += s"reference ${q.cls} request got HTTP ${r.status}"
      }
      ("setup_jvm_s" -> setupS) +: (
        if (trace) traced(spark, srv, in.resolve("input.nq").toString, reqs, ref, seconds, tracer, errors)
        else timed(srv.port, reqs, ref, seconds, clients, order, errors))
    } finally srv.stop()
  }

  private def timed(port: Int, reqs: IndexedSeq[Req], ref: IndexedSeq[Resp],
      seconds: Double, clients: Int, order: () => IndexedSeq[Int],
      errors: ArrayBuffer[String]): Seq[(String, Any)] = {
    val walls = ArrayBuffer[Double]()
    val lat = ArrayBuffer[(String, Double)]()
    var attempted, failed = 0
    var rows, bytes = 0L
    while (walls.sum < seconds || walls.length < MinRounds) {
      val (w, out) = round(port, reqs, order(), clients)
      walls += w
      out.zip(reqs).zipWithIndex.foreach { case ((o, q), k) =>
        attempted += 1
        o match {
          case Left(e) => failed += 1; errors += s"${q.cls} request failed: $e"
          case Right(r) =>
            lat += q.cls -> r.ms
            rows += r.rows; bytes += r.bytes
            if (r.status != ref(k).status || r.digest != ref(k).digest) {
              failed += 1
              errors += s"${q.cls} request: HTTP ${r.status} digest ${r.digest} " +
                s"!= reference HTTP ${ref(k).status} ${ref(k).digest}"
            }
        }
      }
    }
    val heap = Main.heapRetainedMb()
    val ms = lat.map(_._2).toSeq
    val wall = Main.median(walls.toSeq)
    val rowsPerRound = rows.toDouble / walls.length
    Seq(
      "walls" -> walls.toSeq,
      "wall_s" -> wall,
      "rows_per_s" -> rowsPerRound / wall,
      "out_bytes_per_row" -> bytes.toDouble / math.max(1L, rows),
      "latency_p50_ms" -> Main.percentile(ms, 0.5),
      "latency_p90_ms" -> Main.percentile(ms, 0.9),
      "requests" -> ms.length,
      "requests_per_s" -> ms.length / walls.sum,
      "class_p50_ms" -> lat.groupBy(_._1).map { case (c, xs) => c -> Main.median(xs.map(_._2).toSeq) },
      "heap_retained_mb" -> heap,
      "attempted" -> attempted,
      "failed" -> failed,
      "errors" -> errors.toSeq.take(20))
  }

  /** Traced run: single-client passes over one round's requests, untraced
    * and traced in turn. A traced pass times each HTTP request (server
    * layer), then replays the same statement in-process: parse and plan
    * (rules) and execution to the noop sink (pipeline). The server's own
    * share — serialization and streaming — is the difference.
    */
  private def traced(spark: SparkSession, srv: graft.server.SparqlHttpServer, input: String,
      reqs: IndexedSeq[Req], ref: IndexedSeq[Resp], seconds: Double, tr: Tracer,
      errors: ArrayBuffer[String]): Seq[(String, Any)] = {
    val passes = ArrayBuffer[Map[String, Double]]()
    val classMs = ArrayBuffer[(String, Double)]()
    var attempted, failed = 0
    var spent = 0.0
    while (spent < seconds || passes.length < 2) {
      val w0 = Main.timed(reqs.foreach(r => send(srv.port, r)))
      tr.install()
      // the server runs its jobs on its own threads, without a job group;
      // every job of this process is grouped while the pass runs
      tr.ungrouped = "server"
      // the server's source layer: the LOAD it ran at start-up
      val (load, loaded) = msOf(tr.span("sources", "RdfIO.readNQuads") {
        val d = graft.sources.RdfIO.readNQuads(spark, input)
        Tracer.noop(d)
        d
      })
      var parse, compile, exec = 0.0
      var rows, bytes, statements = 0L
      val ser = ArrayBuffer[Double]()
      val w1 = Main.timed(tr.span("op", "traced pass") {
        reqs.zipWithIndex.foreach { case (r, k) =>
          val resp = tr.span("server", s"HTTP ${r.cls}")(send(srv.port, r))
          attempted += 1
          if (resp.status != ref(k).status || resp.digest != ref(k).digest) {
            failed += 1; errors += s"traced ${r.cls} request differs from the reference"
          }
          rows += resp.rows; bytes += resp.bytes
          classMs += r.cls -> resp.ms
          val ds = srv.currentDataset
          val (p, stmts) = msOf(tr.span("rules", "ConstructParser.parseScript")(
            ConstructParser.parseScript(r.text)))
          val (c, outs) = msOf(tr.span("rules", "Script.applyStmt (plan)")(
            if (r.update) Nil else stmts.flatMap(st => Script.applyStmt(spark, ds, st)._2)))
          val (e, _) = msOf(tr.span("pipeline", "execute to noop")(
            if (r.update) stmts.foldLeft(ds)((d, st) => Script.applyStmt(spark, d, st)._1)
            else outs.foreach(o => Tracer.noop(o.df))))
          parse += p; compile += c; exec += e; statements += stmts.length
          ser += resp.ms - p - c - e
        }
      })
      tr.uninstall()
      tr.ungrouped = null
      spent += w0 + w1
      val serialize = ser.sum
      passes += Map(
        "sources.busy_s" -> load / 1e3,
        "sources.rows_out" -> loaded.count().toDouble,
        "rules.rows_out" -> statements.toDouble,
        "server.bytes_written" -> bytes.toDouble,
        "rules.busy_s" -> (parse + compile) / 1e3,
        "rules.parse_ms" -> parse / reqs.length,
        "rules.compile_ms" -> compile / reqs.length,
        "pipeline.busy_s" -> exec / 1e3,
        "server.busy_s" -> math.max(0.0, serialize) / 1e3,
        "server.serialize_ms" -> Main.median(ser.toSeq),
        "server.rows_out" -> rows.toDouble,
        "pipeline.rows_out" -> rows.toDouble,
        "trace.traced_wall_s" -> w1,
        "trace.untraced_wall_s" -> w0,
        "trace.overhead_s" -> (w1 - w0),
        "trace.coverage" -> (parse + compile + exec + math.max(0.0, serialize)) / 1e3 / w0)
    }
    val n = passes.length.toDouble
    val out = scala.collection.mutable.LinkedHashMap[String, Double]()
    passes.flatMap(_.keys).distinct.foreach(k => out(k) = Main.median(passes.map(_(k)).toSeq))
    Seq("sources", "rules", "pipeline", "server").foreach(l => out ++= tr.resources(l, n))
    out("trace.gc_s") = Seq("rules", "pipeline", "server").map(l => out(s"$l.gc_s")).sum
    classMs.groupBy(_._1).foreach { case (c, xs) =>
      out(s"server.p50_ms.$c") = Main.median(xs.map(_._2).toSeq)
    }
    tr.writeSpans(java.nio.file.Paths.get(sys.props.getOrElse("perfbench.spans", "spans.jsonl")))
    Seq("attempted" -> attempted, "failed" -> failed, "errors" -> errors.toSeq.take(20),
      "layers" -> out.toMap)
  }

  private def msOf[T](f: => T): (Double, T) = {
    val t0 = System.nanoTime(); val r = f; ((System.nanoTime() - t0) / 1e6, r)
  }
}
