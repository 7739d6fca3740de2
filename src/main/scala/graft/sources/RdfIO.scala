package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** N-Triples / N-Quads text source and sink (the reference's primary
  * interchange format — streaming parse in NgsCmdImpls.java:72-81, default
  * N-Quads output per README-SI.md).
  *
  * Reading: `spark.read.text` gives per-line parallelism over splits
  * (gz/bz2 via Hadoop codecs, like the reference's compression probing);
  * the per-partition parser is plain Scala inside `mapPartitions` — one
  * pass, no regex backtracking, literal-aware (spaces/escapes inside
  * quoted literals don't break term boundaries).
  */
object RdfIO {

  /** Split one N-Quads/N-Triples line into terms: IRIs `<…>`, bnodes
    * `_:…`, literals `"…"[^^<dt>|@lang]`. Returns null for comments /
    * blank / malformed lines (callers drop them — the reference's
    * `--no-validate` spirit).
    */
  private[graft] def parseLine(line: String): Array[String] = {
    // tabs are valid term separators (raw tabs cannot occur inside
    // literals — they must be escaped \t), and the grammar allows the
    // terminal '.' with no preceding whitespace: normalize both.
    var s = line.replace('\t', ' ').trim
    if (s.isEmpty || s.startsWith("#")) return null
    if (s.endsWith(".")) s = s.dropRight(1).trim + " ."
    val out = new scala.collection.mutable.ArrayBuffer[String](4)
    var i = 0
    val n = s.length
    while (i < n) {
      while (i < n && s.charAt(i) == ' ') i += 1
      if (i >= n) i = n
      else s.charAt(i) match {
        case '.' if i == n - 1 || s.substring(i + 1).forall(_ == ' ') =>
          i = n // terminal dot
        case '<' =>
          val j = s.indexOf('>', i)
          if (j < 0) return null
          out += s.substring(i, j + 1); i = j + 1
        case '"' =>
          // scan to the closing quote with real escape-state tracking:
          // `"a\\"` ends at the quote (the backslash is itself escaped)
          var j = i + 1
          var esc = false
          while (j < n && (esc || s.charAt(j) != '"')) {
            esc = !esc && s.charAt(j) == '\\'
            j += 1
          }
          if (j >= n) return null
          // datatype / langtag suffix
          var k = j + 1
          if (k + 1 < n && s.charAt(k) == '^' && s.charAt(k + 1) == '^') {
            val m = s.indexOf('>', k)
            if (m < 0) return null
            k = m + 1
          } else if (k < n && s.charAt(k) == '@') {
            while (k < n && s.charAt(k) != ' ') k += 1
          }
          out += s.substring(i, k); i = k
        case '_' =>
          var j = i
          while (j < n && s.charAt(j) != ' ') j += 1
          out += s.substring(i, j); i = j
        case _ => return null
      }
    }
    if (out.size == 3 || out.size == 4) {
      val a = out.toArray
      var k = 0
      while (k < a.length) { a(k) = canonUchar(a(k)); k += 1 }
      a
    } else null
  }

  /** Canonicalize `\\uXXXX` / `\\UXXXXXXXX` numeric escapes (N-Triples
    * UCHAR) into raw chars, keeping ECHAR escapes intact. The TriG
    * reader already canonicalizes this way, and termLexical/ntUnescape
    * decode only the five ECHARs — without this, `"caf\\u00e9"` from a
    * .nt file and `"café"` from a .ttl file would be UNEQUAL terms.
    * Decoded codepoints that canonical N-Triples must escape (quote,
    * backslash, LF, CR, tab) re-emit as their ECHAR forms so the term
    * stays structurally valid. Fast path: terms without `\\u` return
    * unchanged.
    */
  private[graft] def canonUchar(term: String): String = {
    if (term.indexOf('\\') < 0) return term
    if (!term.contains("\\u") && !term.contains("\\U")) return term
    val sb = new java.lang.StringBuilder(term.length)
    var i = 0
    val n = term.length
    while (i < n) {
      val c = term.charAt(i)
      if (c == '\\' && i + 1 < n) {
        val d = term.charAt(i + 1)
        val len = if (d == 'u') 4 else if (d == 'U') 8 else -1
        if (len > 0 && i + 2 + len <= n) {
          try {
            val cp = Integer.parseInt(term.substring(i + 2, i + 2 + len), 16)
            cp match {
              case 0x22 => sb.append("\\\"")
              case 0x5c => sb.append("\\\\")
              case 0x0a => sb.append("\\n")
              case 0x0d => sb.append("\\r")
              case 0x09 => sb.append("\\t")
              case _ => sb.appendCodePoint(cp)
            }
            i += 2 + len
          } catch {
            case _: NumberFormatException => sb.append(c).append(d); i += 2
          }
        } else { sb.append(c).append(d); i += 2 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Read N-Quads (or N-Triples; graph defaults to the constant default
    * graph IRI) into (graph, subj, pred, obj).
    */
  def readNQuads(spark: SparkSession, path: String,
      defaultGraph: String = "<urn:x-arq:DefaultGraph>"): DataFrame = {
    import spark.implicits._
    spark.read.textFile(path)
      .mapPartitions(_.flatMap { line =>
        val t = parseLine(line)
        if (t == null) None
        else Some((if (t.length == 4) t(3) else defaultGraph, t(0), t(1), t(2)))
      })
      .toDF("graph", "subj", "pred", "obj")
  }

  /** Auto-probing RDF scan (the reference sniffs content type +
    * compression before parsing — NgsCmdImpls.java:289-305): probes the
    * first 200 non-comment lines; the LINE reader is chosen only when
    * EVERY probed line parses as N-Quads/N-Triples and none carries a
    * TriG marker (directive or graph-block brace) — otherwise the TriG
    * document reader. An empty input yields an empty frame. Compression
    * never needs probing — both readers decompress via the Hadoop codec.
    * Residual ambiguity: a TriG document whose first 200 statements are
    * also valid N-Triples lines parses identically under either reader
    * up to that point; pass the reader explicitly when the format is
    * known.
    */
  def readRdfAuto(spark: SparkSession, path: String,
      defaultGraph: String = "<urn:x-arq:DefaultGraph>"): DataFrame =
    if (path.endsWith(".hdt") || isHdtMagic(path))
      HdtIO.readHdt(spark, path, defaultGraph)
    else if (probeSyntax(spark, path) == "nquads") readNQuads(spark, path, defaultGraph)
    else readTrig(spark, path, defaultGraph)

  /** Does the LOCAL file open with the `$HDT` control cookie? (binary —
    * must be sniffed before the text probe, which would mangle it)
    */
  private def isHdtMagic(path: String): Boolean = {
    val f = new java.io.File(path)
    if (!f.isFile || f.length < 4) return false
    val in = new java.io.FileInputStream(f)
    try {
      val buf = new Array[Byte](4)
      in.read(buf) == 4 && buf(0) == '$' && buf(1) == 'H' &&
        buf(2) == 'D' && buf(3) == 'T'
    } finally in.close()
  }

  /** The sniff behind [[readRdfAuto]]: "nquads" (line-parseable, no TriG
    * markers in the first 200 content lines) or "trig".
    */
  private[graft] def probeSyntax(spark: SparkSession, path: String): String = {
    val probe = spark.read.textFile(path)
      .filter(l => { val t = l.trim; t.nonEmpty && !t.startsWith("#") })
      .take(200)
    def trigMarker(l: String) = {
      val t = l.trim
      // '{' is only a graph-block marker when the line is NOT itself a
      // valid N-Quads line — a '{' inside a quoted literal body (e.g. the
      // xsd:json literals this engine emits) must not misroute the file
      (t.contains("{") && parseLine(l) == null) ||
        t.startsWith("@prefix") || t.startsWith("@base") ||
        t.toUpperCase.startsWith("PREFIX") || t.toUpperCase.startsWith("BASE")
    }
    val nquadsish = probe.nonEmpty &&
      probe.forall(l => parseLine(l) != null && !trigMarker(l))
    if (nquadsish || probe.isEmpty) "nquads" else "trig"
  }

  /** `ngs probe` (CmdNgsProbe.java:19-40): report the detected syntax and
    * compression of an RDF input as one row — the same sniff
    * [[readRdfAuto]] routes on, plus extension-based codec detection (the
    * Hadoop text reader decompresses by extension, so the probe sees
    * DECOMPRESSED lines either way).
    */
  def probe(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val compression =
      if (path.endsWith(".gz")) "gzip"
      else if (path.endsWith(".bz2")) "bzip2"
      else if (path.endsWith(".zst")) "zstd"
      else "none"
    Seq((probeSyntax(spark, path), compression)).toDF("syntax", "compression")
  }

  /** Spark-free probe behind `fs:probeRdf` (docs/examples/
    * README.md:608-618): does this LOCAL file's content parse as RDF?
    * Line-parseable N-Quads/N-Triples probe first; otherwise a full
    * TriG/Turtle parse attempt. Files over 8 MiB probe on their first
    * 1 MiB of COMPLETE lines as N-Quads only — a fs:find listing is
    * metadata-scale, but one stray huge non-line-oriented file must not
    * stall the filter (documented reduction: a >8 MiB pure-TriG file
    * probes false).
    */
  def probeRdfLocal(path: String): Boolean = {
    // group-end FILTER re-application evaluates the probe once per
    // RESULT row (triple-scale after a SERVICE join) — memoized per JVM
    // (the UDF runs without a session) so each file version is read once
    val f = new java.io.File(path).getAbsoluteFile
    f.isFile && graft.Memo.jvm("rdf.probe:" + f, Seq(f.getPath))(
      probeRdfUncached(f.getPath))
  }

  private def probeRdfUncached(path: String): Boolean = {
    val f = new java.io.File(path)
    if (!f.isFile) return false
    val full = f.length <= 8L * 1024 * 1024
    val content =
      if (full) new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      else {
        val in = new java.io.FileInputStream(f)
        try {
          val buf = new Array[Byte](1024 * 1024)
          val n0 = in.read(buf)
          val s = new String(buf, 0, math.max(n0, 0),
            java.nio.charset.StandardCharsets.UTF_8)
          s.substring(0, math.max(s.lastIndexOf('\n'), 0)) // complete lines
        } finally in.close()
      }
    val lines = content.linesIterator
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toSeq
    // an empty / comments-only document IS valid RDF (the empty graph) —
    // Jena's probe accepts it, and a SERVICE over it succeeds with zero
    // solutions. (Only when the FULL content was read: a truncated probe
    // of an oversized file with no newlines must not read as empty.)
    if (lines.isEmpty) full
    else if (lines.forall(parseLine(_) != null)) true
    else if (!full) {
      // oversized non-line-oriented file: bounded TriG attempt over the
      // truncated prefix. The cut can land mid-statement, so an error
      // AFTER at least one statement parsed is the truncation, not the
      // syntax — without this, a large valid Turtle file silently
      // vanishes from fs-list-rdf-files / SERVICE dispatch.
      var parsed = 0
      try {
        val it = TrigParser.parse(content, "<urn:x-arq:DefaultGraph>")
        while (it.hasNext && parsed < 1000) { it.next(); parsed += 1 }
        true
      } catch { case scala.util.control.NonFatal(_) => parsed > 0 }
    }
    else
      try {
        val it = TrigParser.parse(content, "<urn:x-arq:DefaultGraph>")
        while (it.hasNext) it.next() // force: parse errors surface lazily
        true
      } catch { case scala.util.control.NonFatal(_) => false }
  }

  /** Read TriG / Turtle documents into (graph, subj, pred, obj), terms in
    * canonical N-Quads lexical form (prefix expansion, multi-line
    * statements, `;`/`,` lists, graph blocks, typed/lang literals — see
    * [[TrigParser]]).
    *
    * TriG is not naively line-splittable (multi-line statements,
    * file-scoped prefixes), so here the unit of parallelism is the FILE
    * (`wholetext`): a directory of N documents parses as N parallel
    * tasks — the normal shape for interchange corpora. For ONE giant
    * document use [[TrigChunker.readTrigChunked]], which plans safe
    * statement-boundary splits and parses chunks in parallel (the
    * reference streams such a file single-threaded —
    * NgsCmdImpls.java:289-305). gz/bz2 decompress via Hadoop codecs.
    * Blank-node labels are kept verbatim; when unioning documents that
    * reuse labels, scope them yourself (e.g. suffix with a hash of
    * `input_file_name`).
    */
  def readTrig(spark: SparkSession, path: String,
      defaultGraph: String = "<urn:x-arq:DefaultGraph>"): DataFrame = {
    import spark.implicits._
    spark.read.option("wholetext", "true").textFile(path)
      .flatMap(doc => TrigParser.parse(doc, defaultGraph))
      .select(col("graph"), col("subj"), col("pred"), col("obj"))
  }

  /** Deterministic TriG fixture derived from the `nation` table: prefix
    * directives (both `@prefix` and SPARQL `PREFIX` forms), `a` keyword,
    * `;`/`,` lists, integer/boolean shorthand, lang tags, named-graph
    * blocks, blank nodes and comments — the oracle re-derives the expected
    * quads from the same table (AlgebraSuite.rdf_trig_scan).
    */
  def writeTrigFixture(spark: SparkSession, sfDir: String, path: String): Unit = {
    val rows = spark.read.parquet(s"$sfDir/nation.parquet")
      .select(col("n_nationkey").cast("long"), col("n_name"),
        col("n_regionkey").cast("long"))
      .orderBy("n_nationkey").collect()
    val sb = new StringBuilder
    sb.append("# deterministic TriG fixture (generated from nation.parquet)\n")
    sb.append("@prefix ex: <http://example.org/> .\n")
    sb.append("PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>\n\n")
    rows.foreach { r =>
      val k = r.getLong(0)
      val name = r.getString(1)
      val reg = r.getLong(2)
      // raw comment embeds a quote and a backslash to exercise escaping
      val comment = s"""about "$name" \\ end"""
        .replace("\\", "\\\\").replace("\"", "\\\"")
      sb.append(
        s"""ex:n$k a ex:Nation ;
           |    ex:name "$name" ;
           |    ex:key $k ;
           |    ex:active true ;
           |    ex:region ex:r$reg .
           |
           |ex:g$k {
           |  ex:n$k ex:comment "$comment" , "second note"@en .
           |  _:b$k ex:refersTo ex:n$k .
           |}
           |
           |# anon bnode + collection: rows written in key order, so the
           |# fresh _:genN labels are 3 per nation in row order (oracle
           |# re-derives them via row_number)
           |ex:n$k ex:meta [ ex:rank $k ; ex:tags ("a" "b") ] .
           |
           |""".stripMargin)
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }

  /** Serialize quads to TriG text: one named-graph block per graph (the
    * reference's native `ngs` output format), default-graph quads as
    * top-level triples. Terms are already canonical N-Quads lexical
    * strings, which are valid TriG tokens as-is. One output row per
    * graph — graphs parallelize across partitions; [[readTrig]] parses
    * the result back (round-trip property-tested).
    */
  def trigLines(quads: DataFrame,
      defaultGraph: String = "<urn:x-arq:DefaultGraph>"): DataFrame = {
    val stmt = concat_ws(" ", col("subj"), col("pred"), col("obj"))
    quads.groupBy(col("graph"))
      .agg(array_join(transform(collect_list(stmt),
        t => concat(lit("  "), t, lit(" ."))), "\n").as("body"))
      .select(when(col("graph") === defaultGraph, col("body"))
        .otherwise(concat(col("graph"), lit(" {\n"), col("body"), lit("\n}")))
        .as("value"))
  }

  /** Serialize (graph, subj, pred, obj) to N-Quads text lines.
    * Default-graph quads serialize as 3-term lines per the N-Quads
    * grammar — the internal `<urn:x-arq:DefaultGraph>` sentinel must
    * never leak into output a third-party store would read as a named
    * graph (concat_ws skips the nulled term).
    */
  def nquadLines(quads: DataFrame): DataFrame =
    quads.select(concat_ws(" ", col("subj"), col("pred"), col("obj"),
      when(col("graph") === "<urn:x-arq:DefaultGraph>", lit(null: String))
        .otherwise(col("graph")), lit(".")).as("value"))

  /** A query's output quads as N-Quads or TriG lines — what `integrate`
    * writes and `/sparql` serves. A frame without a `graph` column (a
    * triple template) is in the default graph.
    */
  def quadLines(quads: DataFrame, trig: Boolean): DataFrame = {
    val g = if (quads.columns.contains("graph")) col("graph")
      else lit("<urn:x-arq:DefaultGraph>").as("graph")
    val q = quads.select(g, col("subj"), col("pred"), col("obj"))
    if (trig) trigLines(q) else nquadLines(q)
  }

  /** Write N-Quads text (one part per partition, like any Spark sink);
    * `compression` = any Hadoop codec name (gzip/bzip2/…), like the
    * reference's codec-by-extension outputs.
    */
  def writeNQuads(quads: DataFrame, path: String,
      compression: Option[String] = None): Unit = {
    val w = nquadLines(quads).write.mode("overwrite")
    compression.fold(w)(c => w.option("compression", c)).text(path)
  }
}
