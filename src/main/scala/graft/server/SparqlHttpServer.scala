package graft.server

import java.io.OutputStream
import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.Executors

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.QuotingUtils
import org.apache.spark.sql.functions._

import graft.functions.RdfTerms
import graft.pipeline.Script
import graft.rules.ConstructParser
import graft.sources.RdfIO

/** SPARQL 1.1 Protocol endpoint over the integrate dataset — the
  * reference's `--server` sink (SparqlIntegrateCmdImpls.java:801-863
  * stands up a /sparql servlet plus /graphql over the loaded dataset;
  * CLI surface CmdSparqlIntegrateMain.java:57,134-141: `--server`,
  * `--port` default 8642, `--read-only`, `--unsafe`).
  *
  * Built on the JDK's `com.sun.net.httpserver` (public API, zero new
  * dependencies) and bound to loopback — this sandbox has no egress and
  * a CLI-local endpoint is the reference's own primary use (browse the
  * just-integrated dataset).
  *
  * Protocol subset (SPARQL 1.1 Protocol §2):
  *  - `GET /sparql?query=…` (percent-encoded)
  *  - `POST /sparql` with `application/x-www-form-urlencoded`
  *    (`query=` or `update=`), `application/sparql-query`, or
  *    `application/sparql-update` bodies
  *  - content negotiation on `Accept`: bindings as SPARQL-results JSON
  *    (default) / XML / TSV; quads as N-Quads (default) / TriG
  *  - updates run through the same [[Script.fold]] the CLI runs
  *    and respond 204; they are accepted only by POST (`update=` or
  *    `application/sparql-update`), an update sent as a query answers
  *    400; `--read-only` rejects them with 403 (the
  *    reference wraps the connection query-only); `LOAD` from a server
  *    request additionally requires `--unsafe` (the reference gates
  *    file-reading features behind the same flag)
  *  - `POST /graphql` with a raw GraphQL body or `{"query":"…"}` JSON
  *    envelope → the existing compiler's `{"data":{…}}` document
  *
  * Spark-first scale shape: result SERIALIZATION is distributed — each
  * binding row becomes its SRJ/SRX/TSV fragment via codegen'd column
  * expressions (`to_json` handles all JSON escaping) on executors; the
  * driver streams fragments to the socket through [[DriverStream]]
  * (rows in partition order, never a full collect). On a cluster the
  * same frames would ship through any distributed sink unchanged; the
  * single-socket hop is inherent to serving one HTTP response, exactly as
  * in the reference.
  */
final class SparqlHttpServer private (
    spark: SparkSession,
    initial: DataFrame,
    readOnly: Boolean,
    unsafe: Boolean,
    http: HttpServer) {

  import SparqlHttpServer._

  @volatile private var dataset: DataFrame = initial
  private val updateLock = new Object

  /** The bound port (useful when started with port 0 = ephemeral). */
  def port: Int = http.getAddress.getPort

  /** Current dataset state (tests / the CLI's post-serve hooks). */
  def currentDataset: DataFrame = dataset

  def stop(): Unit = {
    http.stop(0)
    // the JDK server does not own its executor — shut it down or its
    // worker threads keep the JVM alive past spark.stop()
    http.getExecutor match {
      case e: java.util.concurrent.ExecutorService => e.shutdownNow()
      case _ => ()
    }
  }

  // ------------------------------------------------------------ routing

  private def handleSparql(ex: HttpExchange): Unit = {
    val (queryText, isUpdateIntent) = ex.getRequestMethod match {
      case "GET" =>
        val q = formParams(Option(ex.getRequestURI.getRawQuery).getOrElse(""))
        (q.get("query"), false)
      case "POST" =>
        val ct = Option(ex.getRequestHeaders.getFirst("Content-Type"))
          .getOrElse("").toLowerCase
        val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
        if (ct.contains("application/sparql-query")) (Some(body), false)
        else if (ct.contains("application/sparql-update")) (Some(body), true)
        else {
          val form = formParams(body)
          form.get("update") match {
            case u @ Some(_) => (u, true)
            case None => (form.get("query"), false)
          }
        }
      case other =>
        respond(ex, 405, "text/plain", s"method $other not allowed"); return
    }
    queryText match {
      case None =>
        respond(ex, 400, "text/plain",
          "missing 'query' (or 'update') parameter")
      case Some(text) =>
        val stmts =
          try ConstructParser.parseScript(text)
          catch { case e: Exception =>
            respond(ex, 400, "text/plain", s"parse error: ${e.getMessage}")
            return
          }
        val hasUpdate = stmts.exists(!isQueryStmt(_))
        // SPARQL 1.1 Protocol §2.2: updates travel only by POST, as
        // update= or application/sparql-update; a query sent as update=
        // is tolerated and runs as a query
        if (hasUpdate && !isUpdateIntent) {
          respond(ex, 400, "text/plain", "update statements must be " +
            "POSTed as update= or application/sparql-update")
          return
        }
        if (hasUpdate && readOnly) {
          respond(ex, 403, "text/plain",
            "server is read-only (--read-only); updates are disabled")
          return
        }
        if (hasUpdate && !unsafe &&
            stmts.exists(_.isInstanceOf[ConstructParser.LoadStmt])) {
          respond(ex, 403, "text/plain",
            "LOAD over the protocol requires --unsafe (file access)")
          return
        }
        // the HTTP threads are pooled: the description is cleared in
        // `finally` so it never tags the next request's jobs
        val sc = spark.sparkContext
        val kind = if (hasUpdate) "update" else "query"
        sc.setJobDescription(
          s"sparql $kind: ${text.trim.replaceAll("\\s+", " ").take(60)}")
        try {
          val accept = Option(ex.getRequestHeaders.getFirst("Accept"))
            .getOrElse("")
          if (hasUpdate) {
            // the lock covers ONLY statement application + the state
            // swap; the HTTP response streams AFTER release (frames are
            // immutable snapshots) — holding it across the result stream
            // plus socket writes would let one slow client starve every
            // other update (review-found)
            val last = updateLock.synchronized {
              val (ds, outs) = Script.fold(spark, dataset, stmts)
              dataset = ds
              outs.lastOption.map(_._2)
            }
            last match {
              case Some(out) => writeOutput(ex, out, accept)
              case None => respond(ex, 204, "text/plain", "")
            }
          } else {
            // pure query: evaluate against the current snapshot — no lock
            Script.fold(spark, dataset, stmts)._2.lastOption.map(_._2) match {
              case Some(out) => writeOutput(ex, out, accept)
              case None => respond(ex, 400, "text/plain",
                "request contained no query statement")
            }
          }
        } catch { case e: Exception =>
          respond(ex, 500, "text/plain",
            s"execution error: ${e.getMessage}")
        } finally sc.setJobDescription(null)
    }
  }

  private def writeOutput(ex: HttpExchange, out: Script.StmtOutput,
      accept: String): Unit = out match {
    case Script.TableOutput(df) if isAskFrame(df) =>
      // read through the same stream as every body: `head` would be one
      // more SQL action
      val b = DriverStream.lines(df.select(col("ask").cast("string")))
        .contains("true")
      if (accept.contains("sparql-results+xml"))
        respond(ex, 200, "application/sparql-results+xml",
          "<?xml version=\"1.0\"?>\n<sparql xmlns=\"http://www.w3.org/2005/sparql-results#\">" +
            s"<head></head><boolean>$b</boolean></sparql>")
      else
        respond(ex, 200, "application/sparql-results+json",
          s"""{"head":{},"boolean":$b}""")
    case Script.TableOutput(df) =>
      if (accept.contains("sparql-results+xml"))
        streamBody(ex, 200, "application/sparql-results+xml")(srxBody(df))
      else if (accept.contains("tab-separated-values"))
        streamBody(ex, 200, "text/tab-separated-values")(tsvBody(df))
      else
        streamBody(ex, 200, "application/sparql-results+json")(srjBody(df))
    case Script.QuadsOutput(df) =>
      val trig = accept.contains("trig")
      streamBody(ex, 200, if (trig) "application/trig"
        else "application/n-quads")(quadBody(RdfIO.quadLines(df, trig)))
  }

  private def handleGraphQl(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "POST") {
      respond(ex, 405, "text/plain", "POST a GraphQL query"); return
    }
    val ct = Option(ex.getRequestHeaders.getFirst("Content-Type"))
      .getOrElse("").toLowerCase
    val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
    val text =
      if (ct.contains("application/json")) jsonField(body, "query")
      else Some(body)
    text match {
      case None => respond(ex, 400, "application/json",
        """{"errors":[{"message":"body has no 'query' field"}]}""")
      case Some(q) =>
        try respond(ex, 200, "application/json",
          graft.graphql.GraphQl.document(dataset, q))
        catch { case e: Exception =>
          respond(ex, 400, "application/json",
            s"""{"errors":[{"message":${jsonString(e.getMessage)}}]}""")
        }
    }
  }

  private def handleIndex(ex: HttpExchange): Unit =
    // the "/" context is the JDK server's fallback for every unmatched
    // path — only the root itself is the index
    if (ex.getRequestURI.getPath != "/")
      respond(ex, 404, "text/plain",
        s"not found: ${ex.getRequestURI.getPath}")
    else respond(ex, 200, "text/plain",
      s"""graft SPARQL endpoint
         |  GET/POST /sparql   (SPARQL 1.1 Protocol)
         |  POST     /graphql
         |read-only: $readOnly
         |""".stripMargin)

  // --------------------------------------------------------- streaming

  private def streamBody(ex: HttpExchange, code: Int, mime: String)(
      body: BodyStream): Unit = {
    // Force the FIRST wave before committing to 200/chunked: a planning
    // error or a first-wave task failure answers a clean 500 instead of a
    // truncated-but-valid-looking 200. A failure in a LATER wave still
    // truncates mid-stream — inherent to chunked HTTP once headers are
    // out; the driver logs it either way.
    body.lines.hasNext
    ex.getResponseHeaders.set("Content-Type", s"$mime; charset=utf-8")
    ex.sendResponseHeaders(code, 0) // 0 = chunked
    val os = ex.getResponseBody
    try body.writeTo(os) finally { os.close(); ex.close() }
  }

  private def srjBody(df: DataFrame): BodyStream = {
    val vars = df.columns.toSeq
    BodyStream(
      "{\"head\":{\"vars\":[" + vars.map(jsonString).mkString(",") +
        "]},\"results\":{\"bindings\":[\n",
      DriverStream.lines(bindingJsonLines(df, vars)), ",\n", "\n]}}")
  }

  private def srxBody(df: DataFrame): BodyStream = {
    val vars = df.columns.toSeq
    BodyStream(
      "<?xml version=\"1.0\"?>\n<sparql xmlns=\"http://www.w3.org/2005/sparql-results#\">" +
        "<head>" + vars.map(v => s"""<variable name="$v"/>""").mkString +
        "</head><results>\n",
      DriverStream.lines(resultXmlLines(df, vars)).map(_ + "\n"), "",
      "</results></sparql>")
  }

  private def serve(path: String)(h: HttpExchange => Unit): Unit =
    http.createContext(path, (ex: HttpExchange) =>
      try h(ex)
      catch { case e: Exception =>
        try respond(ex, 500, "text/plain", s"internal error: ${e.getMessage}")
        catch { case _: Exception => () }
      })

  private def startRoutes(): Unit = {
    serve("/sparql")(handleSparql)
    serve("/graphql")(handleGraphQl)
    serve("/")(handleIndex)
    http.start()
  }
}

object SparqlHttpServer {

  val DefaultGraph = "<urn:x-arq:DefaultGraph>"
  val DefaultPort = 8642 // the reference CLI's default (--port)

  /** Start serving `initial` on loopback. `port` 0 = ephemeral (tests). */
  def start(spark: SparkSession, initial: DataFrame, port: Int = DefaultPort,
      readOnly: Boolean = false, unsafe: Boolean = false): SparqlHttpServer = {
    val http = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    // daemon workers: a leaked or un-stopped server must never block JVM exit
    http.setExecutor(Executors.newFixedThreadPool(4, r => {
      val t = new Thread(r, "graft-sparql-http")
      t.setDaemon(true)
      t
    }))
    val s = new SparqlHttpServer(spark, initial, readOnly, unsafe, http)
    s.startRoutes()
    s
  }

  private[server] def isQueryStmt(st: ConstructParser.ScriptStmt): Boolean =
    st match {
      case _: ConstructParser.QueryStmt |
           _: ConstructParser.SelectQueryStmt |
           _: ConstructParser.DescribeQueryStmt => true
      case _ => false
    }

  /** ASK results surface engine-wide as a 1-row frame with the single
    * boolean column `ask` (ConstructParser.askQuery) — the protocol
    * serializer maps that shape to the boolean result document.
    */
  private def isAskFrame(df: DataFrame): Boolean =
    df.columns.sameElements(Array("ask")) &&
      df.schema.head.dataType == org.apache.spark.sql.types.BooleanType

  // ------------------------------------------------------------ bodies

  /** A streamed result body: constant prefix/suffix around a line
    * iterator (lines carry their own terminators; `sep` goes BETWEEN
    * lines). The one body-writing loop: `/sparql` responses, and the
    * `integrate` CLI's stdout, stderr and files.
    */
  private[graft] final case class BodyStream(prefix: String,
      lines: Iterator[String], sep: String, suffix: String) {
    def writeTo(os: OutputStream): Unit = {
      os.write(prefix.getBytes(UTF_8))
      var first = true
      while (lines.hasNext) {
        if (!first) os.write(sep.getBytes(UTF_8))
        first = false
        os.write(lines.next().getBytes(UTF_8))
      }
      os.write(suffix.getBytes(UTF_8))
      os.flush()
    }
  }

  /** SPARQL 1.1 Query Results TSV: the `?var` header line, then one line
    * per row (unbound = empty field).
    */
  private[graft] def tsvBody(df: DataFrame): BodyStream =
    BodyStream(df.columns.map("?" + _).mkString("", "\t", "\n"),
      DriverStream.lines(tsvLines(df)).map(_ + "\n"), "", "")

  /** One line per value of a one-string-column frame (N-Quads/TriG). */
  private[graft] def quadBody(lines: DataFrame): BodyStream =
    BodyStream("", DriverStream.lines(lines).map(_ + "\n"), "", "")

  // ------------------------------------------------- term serialization

  /** One term-string column → the SRJ term struct. `to_json` omits null
    * fields, so lang/datatype only appear when present and an unbound
    * var (null struct) drops out of the binding object entirely.
    */
  private def srjTermStruct(t: Column): Column = {
    val isUri = t.startsWith("<")
    val isBn = t.startsWith("_:")
    val tpe = when(isUri, "uri").when(isBn, "bnode").otherwise("literal")
    val value = when(isBn, t.substr(lit(3), length(t)))
      .otherwise(RdfTerms.termLexical(t))
    val lang = when(t.startsWith("\""),
      nullif(regexp_extract(t, "@([A-Za-z0-9-]+)$", 1), lit("")))
    val dt = when(t.startsWith("\""),
      nullif(regexp_extract(t, "\\^\\^<([^>]*)>$", 1), lit("")))
    when(t.isNotNull, struct(tpe.as("type"), value.as("value"),
      lang.as("xml:lang"), dt.as("datatype")))
  }

  /** Distributed SRJ formatting: one JSON binding object per row. */
  private[server] def bindingJsonLines(df: DataFrame,
      vars: Seq[String]): DataFrame =
    df.select(to_json(
      struct(vars.map(v => srjTermStruct(term(v)).as(v)): _*),
      java.util.Collections.singletonMap("ignoreNullFields", "true"))
      .as("line"))

  /** Distributed TSV formatting: one tab-joined line per row, an unbound
    * cell empty.
    */
  private def tsvLines(df: DataFrame): DataFrame =
    df.select(concat_ws("\t",
      df.columns.map(v => coalesce(term(v), lit(""))): _*).as("line"))

  /** A result column as a string, referenced by its quoted name: a
    * projection may be named like `1.5`, which unquoted reads as a field
    * of a struct column `1`.
    */
  private def term(v: String): Column =
    col(QuotingUtils.quoteIdentifier(v)).cast("string")

  private def xmlEsc(c: Column): Column =
    Seq("&" -> "&amp;", "<" -> "&lt;", ">" -> "&gt;", "\"" -> "&quot;")
      .foldLeft(c) { case (a, (f, to)) => replace(a, lit(f), lit(to)) }

  /** Distributed SRX formatting: one `<result>…</result>` per row. */
  private[server] def resultXmlLines(df: DataFrame,
      vars: Seq[String]): DataFrame = {
    val cells = vars.map { v =>
      val t = term(v)
      val lex = xmlEsc(RdfTerms.termLexical(t))
      val lang = regexp_extract(t, "@([A-Za-z0-9-]+)$", 1)
      val dt = xmlEsc(regexp_extract(t, "\\^\\^<([^>]*)>$", 1))
      val inner = when(t.startsWith("<"),
          concat(lit("<uri>"), xmlEsc(RdfTerms.termLexical(t)), lit("</uri>")))
        .when(t.startsWith("_:"),
          concat(lit("<bnode>"), t.substr(lit(3), length(t)), lit("</bnode>")))
        .when(lang =!= "", concat(lit("<literal xml:lang=\""), lang,
          lit("\">"), lex, lit("</literal>")))
        .when(dt =!= "", concat(lit("<literal datatype=\""), dt,
          lit("\">"), lex, lit("</literal>")))
        .otherwise(concat(lit("<literal>"), lex, lit("</literal>")))
      when(t.isNotNull, concat(lit(s"""<binding name="$v">"""), inner,
        lit("</binding>")))
    }
    df.select(concat(lit("<result>"), concat_ws("", cells: _*),
      lit("</result>")).as("line"))
  }

  // ------------------------------------------------------ http helpers

  private def respond(ex: HttpExchange, code: Int, mime: String,
      body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", s"$mime; charset=utf-8")
    // 204 must not carry a body (sendResponseHeaders requires -1)
    ex.sendResponseHeaders(code, if (code == 204) -1 else bytes.length)
    if (code != 204) {
      val os = ex.getResponseBody
      try os.write(bytes) finally os.close()
    }
    ex.close()
  }

  private def formParams(s: String): Map[String, String] =
    s.split('&').iterator.filter(_.nonEmpty).map { kv =>
      val eq = kv.indexOf('=')
      if (eq < 0) (URLDecoder.decode(kv, UTF_8), "")
      else (URLDecoder.decode(kv.substring(0, eq), UTF_8),
        URLDecoder.decode(kv.substring(eq + 1), UTF_8))
    }.toMap

  def jsonString(s: String): String = {
    val b = new StringBuilder("\"")
    Option(s).getOrElse("").foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  /** Minimal top-level string-field extraction from a JSON object body
    * (the GraphQL-over-HTTP `{"query":"…"}` envelope) — handles string
    * escapes; not a general JSON parser by design.
    */
  private[server] def jsonField(body: String, field: String): Option[String] = {
    val key = "\"" + field + "\""
    var i = body.indexOf(key)
    while (i >= 0) {
      var j = i + key.length
      while (j < body.length && body.charAt(j).isWhitespace) j += 1
      if (j < body.length && body.charAt(j) == ':') {
        j += 1
        while (j < body.length && body.charAt(j).isWhitespace) j += 1
        if (j < body.length && body.charAt(j) == '"') {
          val sb = new StringBuilder
          var k = j + 1
          while (k < body.length && body.charAt(k) != '"') {
            if (body.charAt(k) == '\\' && k + 1 < body.length) {
              body.charAt(k + 1) match {
                case 'n' => sb.append('\n'); k += 2
                case 't' => sb.append('\t'); k += 2
                case 'r' => sb.append('\r'); k += 2
                case 'b' => sb.append('\b'); k += 2
                case 'f' => sb.append('\f'); k += 2
                case 'u' if k + 5 < body.length =>
                  sb.append(Integer.parseInt(
                    body.substring(k + 2, k + 6), 16).toChar)
                  k += 6
                case c => sb.append(c); k += 2 // \" \\ \/ decode to themselves
              }
            } else { sb.append(body.charAt(k)); k += 1 }
          }
          return Some(sb.toString)
        }
      }
      i = body.indexOf(key, i + 1)
    }
    None
  }
}
