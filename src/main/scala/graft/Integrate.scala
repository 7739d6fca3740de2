package graft

import java.io.{BufferedOutputStream, OutputStream, PrintStream}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.zip.GZIPOutputStream

import scala.util.Using

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipeline.Script
import graft.rules.ConstructParser
import graft.server.SparqlHttpServer
import graft.sources.RdfIO

/** The `integrate` CLI front door — the reference's primary UX
  * (`rpt integrate data.ttl script.sparql > out.nq`;
  * SparqlIntegrateCmdImpls.java:163-345, CLI surface
  * CmdSparqlIntegrateMain.java:30-240): positional arguments in order
  * become LOAD workloads (RDF files) and statements (`.sparql`/`.rq`
  * files and inline SPARQL strings), all executed over ONE shared
  * dataset; CONSTRUCT/DESCRIBE outputs stream to stdout or `-o FILE` as
  * N-Quads/TriG, SELECT/ASK result tables emit as SPARQL 1.1 Results TSV.
  *
  * Output-mode selection mirrors the reference
  * (SPARQLResultExProcessorBuilder): if the script has any quad-producing
  * statement the main sink carries quads and tables go to stderr;
  * a bindings-only script sends its TSV to the main sink instead.
  *
  * Spark-first scale notes:
  *  - serialization (N-Quads/TriG/TSV line crafting) is a distributed
  *    `select(concat_ws…)` — executors format, the driver only moves
  *    bytes. The projections and bodies are the ones `/sparql` serves
  *    ([[graft.sources.RdfIO.quadLines]],
  *    [[graft.server.SparqlHttpServer.BodyStream]]): every output —
  *    stdout, the stderr TSV, `-o FILE` and each `--split` file — streams
  *    through [[graft.server.DriverStream]] (one job per wave of
  *    partitions, never a full `collect`).
  *  - `-o FILE` is single-file CLI semantics, so every byte passes
  *    through this process anyway: it streams into a dot-tmp sibling (gzip
  *    when the name ends in `.gz`) that is ATOMICALLY moved into place
  *    ([[writeFile]]).
  *    Cluster-scale materialization (bucketed parquet, resumable) stays
  *    [[graft.materialize.Materializer]] — a single file IS the
  *    bottleneck at 100 TB, so that path is not offered here.
  *
  * `--server` stands up the SPARQL 1.1 Protocol endpoint over the final
  * dataset state ([[graft.server.SparqlHttpServer]]; the reference's
  * serving sink, SparqlIntegrateCmdImpls.java:801-863). Still scoped out
  * loudly (sandbox/scope ledger in SURVEY.md): non-`mem` engines,
  * network IRIs.
  */
object Integrate {

  final case class Config(
      outFile: Option[String] = None,
      ioFile: Option[String] = None,
      outFormat: Option[String] = None,
      outMkDirs: Boolean = false,
      env: Map[String, String] = Map.empty,
      macros: Seq[String] = Nil,
      split: Option[String] = None,
      unionDefaultGraph: Boolean = false,
      server: Boolean = false,
      serverPort: Int = SparqlHttpServer.DefaultPort,
      readOnly: Boolean = false,
      unsafe: Boolean = false,
      args: Seq[String] = Nil)

  def usage: String =
    """usage: graft.Integrate [options] [FILE|SPARQL]...
      |  positional args run IN ORDER over one dataset:
      |    RDF file (.nt .nq .ttl .trig .rdf .jsonld [.gz|.bz2]) -> LOAD
      |    .sparql/.rq file or inline SPARQL text -> statement(s)
      |  -o, --out-file FILE   write quad/TSV output atomically to FILE
      |      --io FILE         FILE is both first input and output
      |      --of, --out-format FMT   nq | trig (default from -o extension)
      |      --out-mkdirs      create parent directories of -o
      |      --env K=V         <env:K> substitution (repeatable; falls
      |                        back to the process environment)
      |      --macro FILE.ttl  load udf:simpleDefinition macros
      |      --split DIR       one output file per source argument
      |  -u                    union default graph (engine default; no-op)
      |      --server          serve the final dataset over HTTP
      |                        (SPARQL 1.1 Protocol at /sparql, /graphql)
      |      --port N          server port (default 8642; 0 = ephemeral)
      |      --read-only       disable SPARQL update on the server
      |      --unsafe          allow LOAD (file access) over the protocol
      |""".stripMargin

  def parseArgs(argv: Seq[String]): Config = {
    def kv(s: String): (String, String) = {
      val eq = s.indexOf('=')
      require(eq > 0, s"--env expects K=V, got '$s'")
      (s.substring(0, eq), s.substring(eq + 1))
    }
    @annotation.tailrec
    def loop(rest: List[String], c: Config): Config = rest match {
      case Nil => c
      case ("-h" | "--help") :: _ => throw new HelpRequested
      case ("-o" | "--out-file") :: v :: t => loop(t, c.copy(outFile = Some(v)))
      case "--io" :: v :: t => loop(t, c.copy(ioFile = Some(v)))
      case ("--of" | "--out-format") :: v :: t =>
        loop(t, c.copy(outFormat = Some(v)))
      case "--out-mkdirs" :: t => loop(t, c.copy(outMkDirs = true))
      case "--env" :: v :: t => loop(t, c.copy(env = c.env + kv(v)))
      case "--macro" :: v :: t => loop(t, c.copy(macros = c.macros :+ v))
      case "--split" :: v :: t => loop(t, c.copy(split = Some(v)))
      case "-u" :: t => loop(t, c.copy(unionDefaultGraph = true))
      case ("--db-engine" | "-e") :: v :: t =>
        require(v == "mem", s"--db-engine $v: only 'mem' is supported " +
          "(tdb2/difs are native-store engines; this engine's persistent " +
          "form is the bucketed parquet Materializer)")
        loop(t, c)
      case "--server" :: t => loop(t, c.copy(server = true))
      case "--port" :: v :: t => loop(t, c.copy(serverPort = v.toInt))
      case "--read-only" :: t => loop(t, c.copy(readOnly = true))
      case "--unsafe" :: t => loop(t, c.copy(unsafe = true))
      case a :: _ if a.startsWith("-") && a.length > 1 =>
        // every option is matched above; SPARQL text never starts with '-'
        throw new IllegalArgumentException(s"unknown option $a\n$usage")
      case a :: t => loop(t, c.copy(args = c.args :+ a))
    }
    val c0 = loop(argv.toList, Config())
    // --io FILE: the file is BOTH the first input and the output target,
    // overwritten only on success (CmdSparqlIntegrateMain OutputSpec)
    c0.ioFile match {
      case Some(f) =>
        require(c0.outFile.isEmpty, "--io and -o are mutually exclusive")
        c0.copy(args = f +: c0.args, outFile = Some(f))
      case None => c0
    }
  }

  /** Extensions of formats this engine actually parses: N-Triples/
    * N-Quads/Turtle/TriG (plus codecs) and HDT. `.rdf`/`.owl` (RDF/XML)
    * and `.jsonld` are NOT here — no parser exists for them, so classify
    * must reject them up front (see [[UnsupportedRdfExt]]) instead of
    * letting readRdfAuto fail with a confusing TriG syntax error deep in
    * execution.
    */
  private val RdfExt =
    "(?i).*\\.((nt|nq|ttl|trig)(\\.(gz|bz2))?|hdt)$"
  private val UnsupportedRdfExt =
    "(?i).*\\.((rdf|rdfxml|owl|jsonld|json-ld)(\\.(gz|bz2))?|hdt\\.(gz|bz2))$"
  private val SparqlExt = "(?i).*\\.(sparql|rq|ru)$"

  /** One positional argument resolved to its statement text. `name` is
    * the provenance label `--split` clusters on (the source's local name,
    * like the reference's Provenance.getSourceLocalName).
    */
  final case class Workload(name: String, text: String)

  /** `-h`/`--help` — routed as control flow so [[run]] can print usage to
    * the requested stream and exit 0 (the reference's picocli behavior).
    */
  private final class HelpRequested extends RuntimeException

  def classify(arg: String): Workload = {
    // Only consult the file-IRI resolver for args that could plausibly
    // BE a path: inline SPARQL always contains whitespace, and feeding it
    // through resolveFileIri would trip the query-strip pass on the '?'
    // of the first variable, printing a spurious "ignoring IRI parameter"
    // warning for the CLI's primary documented usage.
    val pathLike = arg.nonEmpty && !arg.exists(_.isWhitespace)
    val resolved =
      if (pathLike) scala.util.Try(
        ConstructParser.resolveFileIri(arg)).getOrElse(arg)
      else arg
    val pOpt =
      if (pathLike) scala.util.Try(Paths.get(resolved)).toOption else None
    def base = {
      val fn = pOpt.get.getFileName.toString
      // strip only the real extension: report.v1.sparql and
      // report.v2.sparql must stay DISTINCT --split provenance clusters
      val dot = fn.lastIndexOf('.')
      if (dot > 0) fn.substring(0, dot) else fn
    }
    if (pOpt.exists(Files.isRegularFile(_))) {
      if (arg.matches(SparqlExt)) Workload(base, Files.readString(pOpt.get))
      else if (arg.matches(UnsupportedRdfExt))
        throw new IllegalArgumentException(
          s"$arg: RDF/XML, JSON-LD and compressed HDT are not supported " +
            "by this engine (supported: N-Triples/N-Quads/Turtle/TriG " +
            "[.gz/.bz2], uncompressed HDT)")
      else if (arg.matches(RdfExt) || RdfIO.probeRdfLocal(resolved))
        Workload(base, s"LOAD <$arg>")
      else throw new IllegalArgumentException(
        s"$arg: exists but is neither a SPARQL script (.sparql/.rq) nor " +
          "parseable RDF")
    } else {
      // not a file: inline SPARQL — but a thing that LOOKS like a file
      // path should fail loudly, not parse-fail confusingly (ADVICE r9:
      // unsupported RDF extensions too — a missing `data.jsonld` must
      // say "no such file", not die in the SPARQL parser)
      require(!arg.matches(RdfExt) && !arg.matches(SparqlExt) &&
        !arg.matches(UnsupportedRdfExt),
        s"$arg: looks like a file argument but no such file exists")
      Workload("stdin", arg)
    }
  }

  /** `<env:NAME>` substitution: `--env` pairs first, then the process
    * environment (SparqlIntegrateCmdImpls.java:198-207's lookup chain);
    * names referenced but defined in neither fail loudly (envSubst).
    */
  def substEnv(text: String, cli: Map[String, String]): String =
    ConstructParser.envSubst(text, sys.env ++ cli)

  // ------------------------------------------------------------- sinks

  /** The quad lines `lines` as one file `out`, through [[writeFile]].
    * `mkdirs = false` preserves the reference's fail-without-flag
    * semantics for `-o` paths whose parent does not exist.
    */
  private[graft] def writeSingleFile(lines: DataFrame, out: Path,
      gzip: Boolean, mkdirs: Boolean = true): Unit =
    writeFile(out, gzip, mkdirs)(SparqlHttpServer.quadBody(lines).writeTo)

  /** Every output file's one writer: `write` fills a dot-tmp sibling
    * (gzip-compressed if `gzip`), which then replaces `out` in one atomic
    * move, as the reference writes `.name.tmp` and moves it
    * (SparqlIntegrateCmdImpls.java:292-312). On any failure the tmp is
    * deleted and an existing `out` is left as it was.
    */
  private def writeFile(out: Path, gzip: Boolean, mkdirs: Boolean)(
      write: OutputStream => Unit): Unit = {
    ensureParentDir(out, mkdirs)
    val tmp = out.resolveSibling("." + out.getFileName + ".tmp")
    try {
      Using.resource(new BufferedOutputStream(
        if (gzip) new GZIPOutputStream(Files.newOutputStream(tmp), Buf)
        else Files.newOutputStream(tmp), Buf))(write)
      Files.move(tmp, out, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    } finally Files.deleteIfExists(tmp)
  }

  private val Buf = 1 << 16

  /** Fail loudly when the output's parent directory is missing unless
    * directory creation was requested (`--out-mkdirs`).
    */
  private def ensureParentDir(out: Path, mkdirs: Boolean): Unit = {
    val parent = Option(out.getParent).getOrElse(Paths.get("."))
    if (!Files.isDirectory(parent)) {
      require(mkdirs,
        s"$out: parent directory $parent does not exist " +
          "(pass --out-mkdirs to create it)")
      Files.createDirectories(parent)
    }
  }

  /** Pick the quad output format: explicit `--of` wins, else the output
    * filename extension, else N-Quads (the reference defaults TRIG_BLOCKS
    * for quads; nq is this CLI's splittable default, documented).
    */
  private def pickFormat(cfg: Config): String =
    cfg.outFormat.map(_.toLowerCase) match {
      case Some("nq" | "nquads" | "n-quads") => "nq"
      case Some("trig") => "trig"
      case Some("hdt") => "hdt"
      case Some(other) => throw new IllegalArgumentException(
        s"--out-format $other: supported formats are nq, trig, hdt")
      case None =>
        if (cfg.outFile.exists(f =>
          f.matches("(?i).*\\.trig(\\.gz)?$"))) "trig"
        else if (cfg.outFile.exists(_.matches("(?i).*\\.hdt$"))) "hdt"
        else "nq"
    }

  // -------------------------------------------------------------- run

  /** The server started by the last `--server` run (ephemeral-port tests
    * need the bound port; the CLI itself blocks in [[run]]).
    */
  @volatile var lastServer: Option[SparqlHttpServer] = None

  /** The testable whole-CLI path: parse argv, classify + execute the
    * workloads, route outputs. Returns the exit code.
    */
  def run(argv: Array[String], spark: SparkSession,
      out: PrintStream, err: PrintStream,
      awaitServer: Boolean = true): Int = {
    // `cpcat NAME` — print a canned classpath resource, the reference's
    // `rpt cpcat` subcommand (CmdCatClasspathResource in CmdRptMain;
    // docs/integrate/canned-queries.md). The embedded .rq files are
    // byte-identical reference copies (resources/reference/canned).
    if (argv.headOption.contains("cpcat")) {
      require(argv.length == 2, "usage: cpcat RESOURCE (e.g. cpcat spo.rq)")
      val name = argv(1)
      require(name.matches("[A-Za-z0-9_.-]+"), s"unsafe resource name: $name")
      if (getClass.getResource(s"/reference/canned/$name") == null) {
        err.println(s"cpcat: no such classpath resource: $name")
        return 1
      }
      out.print(graft.ops.CannedQueries.resource(name))
      return 0
    }
    val cfg =
      try parseArgs(argv.toIndexedSeq)
      catch { case _: HelpRequested => out.print(usage); return 0 }
    if (cfg.args.isEmpty && !cfg.server) { err.print(usage); return 2 }
    if (cfg.unionDefaultGraph)
      err.println("[integrate] -u: note — plain patterns over a quad " +
        "dataset already match all graphs in this engine (union default " +
        "graph is the native mode)")
    cfg.macros.foreach(m => graft.functions.Macros.loadTtlFile(m))

    val workloads = cfg.args.map(classify)
    // `--server` with no positional args is legal: serve an empty dataset
    // (the parser would reject a zero-statement script)
    val parts =
      if (workloads.isEmpty) Seq.empty[(Int, ConstructParser.ScriptStmt)]
      else ConstructParser.parseScriptParts(
        workloads.map(w => substEnv(w.text, cfg.env)))

    // execute in order over one dataset; attribute query outputs to their
    // source argument (the --split provenance cluster)
    val (ds, stmtOutputs) =
      Script.fold(spark, Script.emptyQuads(spark), parts.map(_._2))
    val partOf = parts.map(_._1).toIndexedSeq
    val outputs = stmtOutputs.map { case (k, o) => (partOf(k), o) }

    val fmt = pickFormat(cfg)
    val trig = fmt == "trig"
    val ext = if (trig) "trig" else "nq"
    val quads = outputs.collect { case (p, Script.QuadsOutput(df)) => (p, df) }
    val tables = outputs.collect { case (p, Script.TableOutput(df)) => (p, df) }
    val bindingsMode = quads.isEmpty && tables.nonEmpty

    // stdout and stderr flush once per body, not once per line
    def stream(ps: PrintStream): OutputStream =
      new BufferedOutputStream(ps, Buf)
    val tsv: OutputStream => Unit = os =>
      tables.foreach { case (_, df) => SparqlHttpServer.tsvBody(df).writeTo(os) }
    cfg.split match {
      case Some(dir) =>
        // one output file per source argument, clustered by local name
        // (SparqlIntegrateCmdImpls.java:382-392 + 414-436)
        require(fmt != "hdt",
          "--split with --of hdt is not supported (one binary encode per " +
            "cluster; write nq/trig splits or a single -o file.hdt)")
        Files.createDirectories(Paths.get(dir))
        quads.groupBy { case (p, _) => workloads(p).name }.foreach {
          case (name, group) =>
            require(name.matches("[A-Za-z0-9_.-]+"),
              s"unsafe split name: $name")
            val union = group.map(_._2)
              .map(df => RdfIO.quadLines(df, trig)).reduce(_ unionByName _)
            writeSingleFile(union, Paths.get(dir).resolve(s"$name.$ext"),
              gzip = false)
        }
        tsv(stream(err))
      case None =>
        // the main output: -o FILE (atomically) or stdout
        val mainSink: (OutputStream => Unit) => Unit = write =>
          cfg.outFile match {
            case Some(f) =>
              writeFile(Paths.get(f), gzip = f.matches("(?i).*\\.gz$"),
                cfg.outMkDirs)(write)
            case None => write(stream(out))
          }
        if (quads.nonEmpty) {
          if (fmt == "hdt") {
            // binary single-file encode: triple view (graph names do not
            // exist in HDT's triple stream — the union of all graphs,
            // like the engine's -u union default-graph mode)
            val f = cfg.outFile.getOrElse(throw new IllegalArgumentException(
              "--of hdt requires -o FILE (binary output cannot stream " +
                "to stdout)"))
            ensureParentDir(Paths.get(f), cfg.outMkDirs)
            graft.sources.HdtIO.writeHdt(
              quads.map(_._2.selectExpr("subj", "pred", "obj"))
                .reduce(_ unionByName _), f)
          } else {
            val lines = quads.map { case (_, df) => RdfIO.quadLines(df, trig) }
              .reduce(_ unionByName _)
            mainSink(SparqlHttpServer.quadBody(lines).writeTo)
          }
        }
        // a bindings-only script's TSV IS the main output
        if (bindingsMode) mainSink(tsv) else tsv(stream(err))
    }
    if (cfg.server) {
      // serve the FINAL dataset state — the reference starts its server
      // over the same connection the workloads just mutated
      // (SparqlIntegrateCmdImpls.java:801-863)
      val srv = SparqlHttpServer.start(spark, ds,
        port = cfg.serverPort, readOnly = cfg.readOnly, unsafe = cfg.unsafe)
      lastServer = Some(srv)
      err.println("[integrate] SPARQL service running at " +
        s"http://localhost:${srv.port}/sparql")
      if (awaitServer)
        try new java.util.concurrent.CountDownLatch(1).await()
        catch { case _: InterruptedException => srv.stop() }
    }
    0
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      String.valueOf(Runtime.getRuntime.availableProcessors()))
    val spark = LocalSession("graft-integrate", cpus,
      sys.env.get("SPARK_GRAFT_MASTER"))
    val code =
      try run(args, spark, System.out, System.err)
      catch {
        case e: Exception =>
          System.err.println(s"[integrate] ${e.getMessage}")
          1
      }
    spark.stop()
    sys.exit(code)
  }
}
