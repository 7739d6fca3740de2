package graft.rules

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.functions.RdfTerms
import graft.ops.{Bgp, PathOps}
import graft.Checkpoints.TruncateOps

/** SPARQL CONSTRUCT text → [[Rule]] compiler — the reference's front door
  * is "run this SPARQL statement text" (SparqlIntegrateCmdImpls.java:
  * 207,337-345); this makes the rule layer driveable by query text
  * instead of hand-built Scala.
  *
  * ONE WHERE compiler (`P.compileGroupN`) with two seeds, chosen by the
  * query text itself:
  *
  * 1. '''Input-seeded''' (`sbs map` semantics, SbsCmdImpls.java:
  *    204-228): a WHERE with no triple pattern, VALUES block or subquery
  *    extends the incoming frame — a binding stream (one var per column)
  *    or, in a dataset context, the unit solution. Each BIND becomes a
  *    column at its position and the FILTERs apply at group end (§17.2),
  *    as in any group.
  * 2. '''Quad-seeded''' (the reference's normal `integrate` queries,
  *    SparqlIntegrateCmdImpls.java:337-345; algebra at :673-677): a WHERE
  *    containing triple patterns matches them against the input
  *    triple/quad table via [[graft.ops.Bgp]] — conjunction = equi-join on
  *    shared variables, `OPTIONAL` = left outer, `MINUS`/`FILTER NOT
  *    EXISTS` = anti, `FILTER EXISTS` = semi, `{…} UNION {…}` = union,
  *    `GRAPH g {…}` = quad patterns. Pattern variables hold canonical
  *    N-Triples term strings; BIND/FILTER compose on top. Style note:
  *    BIND/FILTER referencing a pattern variable must appear after the
  *    patterns that bind it (standard SPARQL text order).
  *
  * Either way a bound variable reads as its own column, with the kind
  * (term, numeric, xsd:integer) its binder recorded.
  *
  * A template triple with any unbound (NULL) term is suppressed, per
  * SPARQL CONSTRUCT semantics (the compiled [[RuleCompiler]] already
  * enforces this per triple).
  *
  * Grammar subset:
  *   PREFIX decls;
  *   CONSTRUCT { tmpl… | GRAPH term { tmpl… } … }   (`;`/`,` lists ok)
  *   WHERE { pattern… BIND(expr AS ?v)… FILTER(expr)… OPTIONAL {…}
  *           {…} UNION {…}  MINUS {…}  FILTER [NOT] EXISTS {…}
  *           GRAPH term {…} }
  * Expressions: ?var, "string", integer, IRIs (<…> or pfx:local),
  *   IRI(e), CONCAT(e…), STR(e), STRDT(e, iri), BOUND(?v), !e, e = e,
  *   e != e, e && e.
  *
  * Everything compiles to Catalyst `Column`s / DataFrame joins at parse
  * time — the macro model (SparqlIntegrateCmdImpls.java:584-605): no
  * interpretation at runtime, plans stay in whole-stage codegen. The
  * pattern joins run in textual order: cost-based reordering is off and
  * no table statistics exist.
  */
object ConstructParser {

  /** A compiled expression: `term=true` means the Column already holds a
    * final N-Triples lexical term (`<iri>`, `"lit"^^…`); `term=false`
    * means a RAW value (plain string/number) that becomes a plain literal
    * if used in a template position. `num=true` marks numeric-valued
    * expressions (number literals, arithmetic, STRLEN…) so ordering
    * comparisons pick numeric rather than lexicographic semantics.
    * `int=true` marks an xsd:integer value (COUNT), which a CONSTRUCT
    * template serializes as a typed literal through a subquery boundary
    * (the sportal batteries project `(COUNT(…) AS ?x)` into templates).
    * Combinators build a fresh E, so they drop `int`.
    */
  private final case class E(c: Column, term: Boolean, num: Boolean = false,
      int: Boolean = false) {
    def kind: Kind = Kind(term, num, int)
  }

  /** What a bound variable holds: [[E]]'s flags without the expression
    * (a bound var reads as its own column).
    */
  private final case class Kind(term: Boolean, num: Boolean = false,
      int: Boolean = false)

  /** One parsed CONSTRUCT statement. `where` binds the input frame: the
    * quad table (columns subj/pred/obj[/graph]) when the WHERE has a
    * triple pattern, VALUES block or subquery, else the binding stream
    * it extends; `rules` holds the one rule whose templates read the
    * bound columns. `needsRowId` = the templates mint fresh blank nodes
    * (`_:label`), one per solution row (SPARQL §16.2.1): a hidden per-row
    * id column is added BEFORE template evaluation so every template
    * triple of one solution shares the same fresh node.
    */
  final case class ParsedConstruct(
      rules: Seq[Rule],
      where: DataFrame => DataFrame,
      needsRowId: Boolean = false,
      /** Does `run`'s input frame act as the QUAD DATASET?
        * False = the WHERE reads no quads (`P.readsQuads`: binding-
        * stream/pipeline mode, or only pattern-free subqueries), so a
        * DATASET context (Script/integrate) must seed with the unit
        * solution — SPARQL §18.2's Z = {μ0} for a pattern-less group —
        * not the quad table (one row per quad would multiply a BIND-only
        * template; an empty dataset would wrongly kill it).
        */
      usesQuads: Boolean = true) {
    def run(input: DataFrame): DataFrame = applyTo(where(input))

    /** Apply row-id prep + templates to an ALREADY-bound frame. */
    private[rules] def applyTo(bound: DataFrame): DataFrame = {
      val prepped =
        if (needsRowId)
          bound.withColumn(ConstructParser.RowIdCol,
            monotonically_increasing_id().cast("string"))
        else bound
      RuleCompiler.compile(prepped, rules)
    }
  }

  /** Hidden column carrying the per-solution id for fresh template bnodes. */
  private[rules] val RowIdCol = "#construct_rowid"

  /** The unit solution: one row, zero columns (SPARQL's Z = { mu0 }). */
  private[graft] def unitFrame(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      java.util.Collections.singletonList(org.apache.spark.sql.Row()),
      org.apache.spark.sql.types.StructType(Nil))

  /** Resolve a SERVICE endpoint IRI to a local filesystem path. Only
    * `file:` IRIs are accepted (file:/abs, file:///abs, file:relative);
    * network schemes fail loudly — federation is out of scope in a
    * zero-egress build, and silently treating an http: endpoint as a
    * path would corrupt results.
    */
  private[graft] def serviceFilePath(url: String): String = {
    require(url.startsWith("file:"),
      s"SERVICE endpoint <$url> is not supported: only local file: IRIs " +
        "are resolvable here (network federation is scoped out)")
    val rest = stripIriQuery(url.stripPrefix("file:"), url)
    val path =
      if (rest.startsWith("///")) rest.substring(2)
      else if (rest.startsWith("//")) throw new IllegalArgumentException(
        s"SERVICE <$url>: file IRIs with an authority (file://host/…) are " +
          "not supported — use file:///absolute/path")
      else rest
    percentDecode(path)
  }

  /** Percent-decode a file-IRI path (UTF-8). `Path.toUri` encodes spaces
    * and non-ASCII names, so fs:find output round-trips through here —
    * without it, `my data.nt` would probe as the nonexistent
    * `my%20data.nt` and silently vanish from listings.
    */
  private def isHex(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')

  private[graft] def percentDecode(p: String): String =
    if (p.indexOf('%') < 0) p
    else {
      val out = new java.io.ByteArrayOutputStream(p.length)
      var k = 0
      while (k < p.length) {
        val c = p.charAt(k)
        if (c == '%') {
          // '%' in an IRI is ONLY legal as a pct-encoded triplet
          // (RFC 3987 §2.2): a bare '%' means the IRI was built from an
          // unencoded path — fail loudly instead of NumberFormatException
          // (or worse, silently mangling `100%done.txt`)
          if (k + 2 >= p.length || !isHex(p.charAt(k + 1)) ||
              !isHex(p.charAt(k + 2)))
            throw new IllegalArgumentException(
              s"file IRI path <$p>: '%' at offset $k is not a pct-encoded " +
                "%XX triplet — encode a literal '%' as %25")
          out.write(Integer.parseInt(p.substring(k + 1, k + 3), 16)); k += 3
        } else {
          val n = Character.charCount(p.codePointAt(k)) // surrogate-safe
          val bs = p.substring(k, k + n)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          out.write(bs, 0, bs.length); k += n
        }
      }
      new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    }

  /** Expand a TEXT macro body (udf:simpleDefinition) into an expression:
    * a fresh sub-parser over the body with the file's sh:declare
    * prefixes registered and the params bound to the CALLER's argument
    * expressions. Purely plan-build-time.
    */
  private def compileMacroBody(tm: graft.functions.Macros.TextMacro,
      params: Map[String, E]): E = {
    val p = new P(tm.body)
    tm.prefixes.foreach { case (k, v) => p.setPrefix(k, v) }
    p.setMacroParams(params)
    p.exprOnly()
  }

  private[rules] def stripAngles(term: String): String =
    if (term.startsWith("<") && term.endsWith(">"))
      term.substring(1, term.length - 1)
    else term

  /** Distinct non-null values of an endpoint/file column, collected to
    * the driver SORTED. These columns hold FILE LISTINGS (fs:find
    * output) — metadata-scale by construction; the loud cap turns a
    * data-scale column accidentally used as an endpoint into an error
    * instead of a silent driver-side loop.
    */
  private[rules] val MaxEndpoints = 10000
  private[rules] def collectEndpoints(df: org.apache.spark.sql.DataFrame,
      v: String, what: String): Seq[String] = {
    val rows = df.select(org.apache.spark.sql.functions.col(v))
      .where(org.apache.spark.sql.functions.col(v).isNotNull)
      .distinct().limit(MaxEndpoints + 1).collect()
    require(rows.length <= MaxEndpoints,
      s"$what: more than $MaxEndpoints distinct endpoint files — this " +
        "operator dispatches per FILE and is meant for fs:find-scale " +
        "listings, not data-scale columns")
    rows.map(_.getString(0)).toSeq.sorted
  }

  /** JVM-global BNODE() call-site counter: labels stay distinct across
    * separately parsed queries operating on one dataset.
    */
  private[rules] val bnodeSiteCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The reference's JSON function namespace (jsa.aksw.org/fn). */
  private[rules] val JsonNs = "http://jsa.aksw.org/fn/json/"
  private[rules] val JsonUnnestIri = JsonNs + "unnest"
  private[rules] val CsvNs = "http://jsa.aksw.org/fn/csv/"
  private[rules] val XmlNs = "http://jsa.aksw.org/fn/xml/"
  private[rules] val UrlNs = "http://jsa.aksw.org/fn/url/"
  /** Filesystem property/filter functions (fs:find, fs:probeRdf —
    * docs/examples/README.md:585-650). The reference's fs: prefix comes
    * from an external dependency; the IRI follows the sibling
    * jsa.aksw.org/fn/<family>/ convention its json/csv/xml/url
    * namespaces use.
    */
  private[rules] val FsNs = "http://jsa.aksw.org/fn/fs/"
  /** Jena ARQ's function namespace (docs/examples/workloads.sparql:1
    * declares it explicitly; only afn:localname is implemented).
    */
  private[rules] val AfnNs = "http://jena.apache.org/ARQ/function#"
  /** XPath math functions (Jena's `math:` — bitmask.sparql:28 uses
    * math:pow undeclared, via ARQ's well-known prefixes).
    */
  private[rules] val MathNs = "http://www.w3.org/2005/xpath-functions/math#"
  /** Not Only Rdf Sparql Extensions — lambdas live here
    * (docs/sparql-extensions/function-extensions.md:13).
    */
  private[rules] val NorseNs = "https://w3id.org/aksw/norse#"
  /** ARQ system functions (`sys:getenv` — the canned rename.rq). */
  private[rules] val SysNs = "http://jena.apache.org/ARQ/system#"

  /** Decode a lambda literal `"?v1 ?v2 -> expr"^^norse:lambda` (or the
    * older `^^norse:sparql.fn`) into (params, body text).
    */
  private[rules] def parseLambdaLiteral(term: String): (Seq[String], String) = {
    require(term.startsWith("\"") &&
      (term.endsWith("\"^^<" + NorseNs + "lambda>") ||
        term.endsWith("\"^^<" + NorseNs + "sparql.fn>")),
      s"fn.call: not a lambda literal: $term")
    val decoded = graft.functions.Macros.litBody(term)
    val arrow = decoded.indexOf("-> ")
    require(arrow >= 0, s"malformed lambda literal: $term")
    val params = decoded.substring(0, arrow).trim.split("\\s+").toSeq
      .filter(_.nonEmpty).map(_.stripPrefix("?"))
    (params, decoded.substring(arrow + 3))
  }
  // literal, NOT XsdNs-derived: object init order (XsdNs binds later)
  private[rules] val XsdJson = "http://www.w3.org/2001/XMLSchema#json"

  /** Base directory for RELATIVE file IRIs in csv:parse / SERVICE etc.
    * (the reference resolves them against the script's directory).
    * Settable via `-Dgraft.sparql.base=…`; defaults to the process cwd.
    */
  private[graft] def fileBase: String =
    sys.props.getOrElse("graft.sparql.base", sys.props("user.dir"))

  private[graft] def resolveFileIri(iri: String): String =
    resolveFileIriAgainst(iri, fileBase)

  /** Path-prefix location mapper (the same idea as Jena's
    * LocationMapper): `-Dgraft.fileAliases=from1=to1,from2=to2` remaps
    * resolved file paths by longest-prefix match. Lets published query
    * texts carrying machine-specific absolute paths (the sportal
    * scripts' /home/raven/tmp/sorttest .nt files) run against local
    * copies without editing the query.
    */
  private[graft] def fileAliases: Seq[(String, String)] =
    sys.props.get("graft.fileAliases").toSeq.flatMap(_.split(',')).flatMap {
      pair =>
        val eq = pair.indexOf('=')
        if (eq <= 0) None else Some((pair.substring(0, eq), pair.substring(eq + 1)))
    }.sortBy(-_._1.length)

  /** Drop an IRI's QUERY component from a would-be file path. A raw '?'
    * opens the query component — never part of a path (a literal '?' in
    * a filename arrives percent-encoded as %3F). The reference's
    * binsearch scripts use `?binsearch=true`
    * (sportal/sportal-qe2.sparql:18, unsorted-tests/sorted-service
    * .sparql — the latter on a SCHEME-LESS absolute path): an
    * access-path hint (binary search over a subject-sorted .nt), not
    * semantics; note loudly and drop.
    */
  private def stripIriQuery(pathPart: String, iri: String): String = {
    val q = pathPart.indexOf('?')
    if (q < 0) pathPart
    else {
      System.err.println(s"[sparql] file SERVICE <$iri>: ignoring IRI " +
        s"parameter '${pathPart.substring(q + 1)}' (access-path hint; the " +
        "file is read in full)")
      pathPart.substring(0, q)
    }
  }

  private def applyAliases(path: String, aliases: Seq[(String, String)]): String =
    aliases.collectFirst {
      case (from, to) if path.startsWith(from) => to + path.substring(from.length)
    }.getOrElse(path)

  /** [[resolveFileIri]] with an EXPLICIT base directory — callers that
    * evaluate on executors (fs:probeRdf) capture the base AND alias map
    * at plan time instead of reading driver-side system properties
    * per row.
    */
  private[graft] def resolveFileIriAgainst(iri: String, base: String,
      aliases: Seq[(String, String)] = fileAliases): String = {
    // Jena-LocationMapper-style URL remap: an alias whose `from` prefix
    // covers a SCHEME'D IRI (https://example.org/x=/local/x) rewrites it
    // to a local path BEFORE the network-scheme reject — published query
    // texts carrying network URLs (example.sparql's github fetch) run
    // verbatim against local copies, same as the path-prefix remap for
    // machine-specific absolute paths
    val pre =
      if (iri.matches("^[a-zA-Z][a-zA-Z0-9+.-]*:.*") &&
        !iri.startsWith("file:")) applyAliases(iri, aliases)
      else iri
    val p =
      if (pre.startsWith("file:")) serviceFilePath(pre)
      else stripIriQuery(pre, pre)
    require(!p.matches("^[a-zA-Z][a-zA-Z0-9+.-]*:.*"),
      s"<$iri> is not a resolvable local file IRI (network schemes are " +
        "scoped out)")
    applyAliases(if (p.startsWith("/")) p else base + "/" + p, aliases)
  }

  /** `fs:probeRdf(?file)` (docs/examples/README.md:608-618): true iff
    * the argument is a local file whose content parses as RDF. Per-row
    * file I/O has no Catalyst expression — a Scala UDF is the honest
    * shape here, and the arguments are FILE LISTINGS (fs:find output),
    * metadata-scale by construction, so the non-codegen row cost never
    * multiplies against data volume. Non-file schemes and missing files
    * probe false (it is a filter predicate, not a reader).
    */
  private[rules] def probeRdfCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val base = fileBase // capture driver-side; executors never read sys.props
    val aliases = fileAliases
    val f = org.apache.spark.sql.functions.udf { (term: String) =>
      if (term == null) false
      else
        // a filter PREDICATE, not a reader: anything that keeps the file
        // from being read as RDF — non-file scheme, permissions, I/O —
        // probes false rather than aborting the query
        try graft.sources.RdfIO.probeRdfLocal(
          resolveFileIriAgainst(ConstructParser.stripAngles(term), base, aliases))
        catch { case scala.util.control.NonFatal(_) => false }
    }
    f(c)
  }
  private[rules] val XsdNs = "http://www.w3.org/2001/XMLSchema#"

  /** Execute a combined `DELETE {…} INSERT {…} WHERE {…}`: the shared
    * WHERE is compiled and evaluated ONCE (lazy localCheckpoint — both
    * template sets read the same materialized binding frame), returning
    * (deletions, insertions).
    */
  def runModify(del: ParsedConstruct, ins: ParsedConstruct,
      dataset: DataFrame): (DataFrame, DataFrame) = {
    // pattern-less WHERE = the unit solution (see ParsedConstruct
    // .usesQuads), not one binding per quad of the dataset
    val in = if (del.usesQuads) dataset else unitFrame(dataset.sparkSession)
    val bound = del.where(in).truncateLineage(false)
    (del.applyTo(bound), ins.applyTo(bound))
  }

  /** Plan-build-time evaluation context for the non-deterministic §17.4
    * builtins — the same injection model as `<env:VAR>`: NOW() needs an
    * explicit clock (an xsd:dateTime lexical) and RAND()/UUID()/STRUUID()
    * an explicit seed, so every query stays deterministic and replayable
    * (a resumed 100 TB job must re-emit identical terms). Unseeded use
    * fails loudly at parse time.
    */
  final case class EvalCtx(now: Option[String] = None, seed: Option[Long] = None)

  def parseConstruct(text: String): ParsedConstruct = new P(text).query()

  def parseConstruct(text: String, ctx: EvalCtx): ParsedConstruct =
    new P(text, ctx).query()

  /** One parsed SELECT statement: `run(input)` evaluates projection +
    * aggregation + modifiers over the binding stream (sbs mode) or the
    * BGP match against a quad table (BGP mode).
    */
  final case class ParsedSelect(run: DataFrame => DataFrame,
      /** See [[ParsedConstruct.usesQuads]] — false = the WHERE has no
        * triple patterns, so a dataset context seeds with the unit
        * solution instead of the quad table.
        */
      usesQuads: Boolean = true)

  /** SPARQL SELECT text — the reference's `sbs map -s 'SELECT … GROUP BY
    * …'` short form (SbsCmdImpls.java:210-217, README-SBS.md) and plain
    * SELECT queries. Supports: `?var` and `(expr AS ?var)` projections,
    * `*`, the same WHERE grammar as CONSTRUCT (both modes), GROUP BY
    * (with or without aggregates), HAVING (expr)…, ORDER BY
    * [ASC|DESC](expr), LIMIT, OFFSET. The aggregates COUNT(*)/COUNT
    * ([DISTINCT] e)/SUM/AVG/MIN/MAX([DISTINCT] e)/SAMPLE/GROUP_CONCAT
    * (e; SEPARATOR="s") are expression primaries, so they compose with
    * any expression in projections, HAVING and ORDER BY
    * (`IF(COUNT(*) > 1, …)`, `HAVING (SUM(?o) > 2 * COUNT(*))`); FILTER,
    * BIND, GROUP BY keys and aggregate arguments reject them at parse
    * time. Determinism notes: SAMPLE compiles to
    * min() and GROUP_CONCAT sorts its elements — SPARQL leaves both
    * unspecified; a deterministic choice makes results reproducible and
    * oracle-checkable.
    */
  def parseSelect(text: String): ParsedSelect = new P(text).selectQuery()

  def parseSelect(text: String, ctx: EvalCtx): ParsedSelect =
    new P(text, ctx).selectQuery()

  /** [[parseSelect]] with binding-stream input vars typed as RDF TERMS —
    * the reference's sbs model (`sbs map -s`, SbsCmdImpls.java:204-228):
    * a binding stream carries SPARQL result-set TERMS (the SRJ/SRX/TSV
    * scans produce exactly that shape), so `SUM(?X)` over
    * `"10"^^xsd:integer` aggregates the numeric VALUE per SPARQL §18.5.1
    * instead of cast-failing on the lexical string. Use [[parseSelect]]
    * when the input frame holds raw values (parquet tables).
    */
  def parseSelectTerms(text: String): ParsedSelect =
    new P(text, termInputVars = true).selectQuery()

  /** SPARQL ASK text — the reference's per-graph filter condition (`ngs
    * filter --sparql 'ASK {…}'`, NgsCmdImpls.java filter route) and plain
    * ASK queries. `run` yields ONE row with a boolean `ask` column,
    * computed distributedly (no driver-side collect).
    */
  def parseAsk(text: String): ParsedSelect = new P(text).askQuery()

  /** Per-graph ASK (the reference's `ngs filter --sparql 'ASK {…}'`
    * evaluates the ASK against EACH named graph's dataset,
    * NgsCmdImpls.java:88-104): every un-GRAPHed triple pattern is scoped
    * to one shared graph variable, so pattern joins stay within a single
    * graph. `run` returns the DISTINCT passing graph names (column
    * `graph`) — callers semi-join the quad stream against it
    * ([[graft.ops.NgsOps.askFilterSparql]]).
    */
  def parseGraphAsk(text: String): ParsedSelect = {
    val p = new P(text)
    p.newStatement(perRecordGraph = true)
    p.askQuery()
  }

  /** Per-graph CONSTRUCT (the reference's `ngs map --sparql 'CONSTRUCT
    * …'`, NgsCmdImpls.java:191-216): the query runs against EACH named
    * graph's one-graph dataset, so every un-GRAPHed pattern is scoped to
    * one shared graph variable — pattern joins stay inside a graph — and,
    * per README-NGS.md's Rules, CONSTRUCT'ed data in the default graph
    * "is wrapped in a graph with the same name as the input graph":
    * default-graph templates emit into the record's graph; explicit
    * `GRAPH <g>`/`GRAPH ?v` templates pass through as-is. One distributed
    * compile — no per-graph query loop. Known limitation: the GRAPH var
    * may be used in pattern positions and templates; referencing it
    * inside an inner BIND/FILTER *expression* when no pattern binds it
    * (`GRAPH ?v { ?s ?p ?o BIND(STR(?v) AS ?w) }`) is unsupported and
    * fails loudly at compile (UNRESOLVED_COLUMN), never silently.
    */
  def parseGraphConstruct(text: String): ParsedConstruct = {
    val p = new P(text)
    p.newStatement(perRecordGraph = true)
    p.query()
  }

  /** SPARQL DESCRIBE text (the 4th query form): `DESCRIBE <iri>… [WHERE
    * {…}]` / `DESCRIBE ?v… WHERE {…}`. Emits the Concise Bounded
    * Description of each resource — the subject-outgoing star, following
    * blank-node objects transitively (Jena's default describe handler,
    * which the reference delegates to). `run` input = the quad table;
    * described vars resolve through the WHERE pattern, constants stand
    * alone; the resource set is DISTINCT and semi-joins the quad stream,
    * with a driver fixpoint over bnode objects (depth-bounded).
    */
  def parseDescribe(text: String): ParsedSelect = new P(text).describeQuery()

  /** `<env:VAR>` IRI substitution (SparqlIntegrateCmdImpls.java:196-207;
    * NodeEnvsubst in SparqlStmtProcessor.java:48): every `<env:NAME>` IRI
    * in the statement text is replaced from the given map BEFORE parsing
    * — plan-build-time config injection, nothing at runtime. Unknown
    * names fail loudly (a silently-unsubstituted endpoint is worse).
    * Both the `<env:NAME>` and the `<env://NAME>` authority form are
    * accepted — the reference's sportal compact queries use the latter
    * (use-case-sportal-analysis/.../compact/qc5.rq `<env://D>`), and
    * NodeEnvsubst substitutes on the env: SCHEME, not one lexical shape.
    */
  def envSubst(text: String, env: Map[String, String]): String =
    "<env:(?://)?([A-Za-z0-9_]+)>".r.replaceAllIn(text, m =>
      java.util.regex.Matcher.quoteReplacement("<" + env.getOrElse(m.group(1),
        throw new IllegalArgumentException(
          s"env substitution: ${m.group(1)} is not defined")) + ">"))

  // ------------------------------------------------------- script grammar

  /** One statement of a `.sparql` script — the reference's `integrate`
    * file model: an ordered mix of queries and updates over one mutable
    * dataset (docs/integrate/index.md:17-60; LOAD→INSERT materialization
    * SparqlIntegrateCmdImpls.java:363-379). Executed by
    * [[graft.pipeline.Script.runSparql]].
    */
  sealed trait ScriptStmt
  final case class QueryStmt(q: ParsedConstruct) extends ScriptStmt
  final case class SelectQueryStmt(q: ParsedSelect) extends ScriptStmt
  /** DESCRIBE in a script: evaluates like a select form but its OUTPUT is
    * RDF (the CBD quad subset), so integrate routes it to the quad sink.
    */
  final case class DescribeQueryStmt(q: ParsedSelect) extends ScriptStmt
  /** Constant quads as (graph, subj, pred, obj) canonical term strings. */
  final case class InsertDataStmt(rows: Seq[(String, String, String, String)]) extends ScriptStmt
  final case class DeleteDataStmt(rows: Seq[(String, String, String, String)]) extends ScriptStmt
  final case class InsertWhereStmt(q: ParsedConstruct) extends ScriptStmt
  final case class DeleteWhereStmt(q: ParsedConstruct) extends ScriptStmt
  /** `DELETE {…} INSERT {…} WHERE {…}` — one WHERE binds both templates;
    * per SPARQL Update §3.1.3 the WHERE is evaluated against the
    * pre-update dataset, deletions and insertions applied after.
    */
  final case class ModifyStmt(del: ParsedConstruct, ins: ParsedConstruct) extends ScriptStmt
  final case class LoadStmt(path: String, graph: Option[String]) extends ScriptStmt
  final case class ClearGraphStmt(graph: String) extends ScriptStmt
  /** Graph-management verbs (SPARQL Update §3.2.5-3.2.7): `src`/`dst` are
    * graph terms (`<urn:x-arq:DefaultGraph>` = the default graph). ADD
    * inserts src's triples into dst; COPY replaces dst with src; MOVE is
    * COPY followed by dropping src.
    */
  final case class AddGraphStmt(src: String, dst: String) extends ScriptStmt
  final case class CopyGraphStmt(src: String, dst: String) extends ScriptStmt
  final case class MoveGraphStmt(src: String, dst: String) extends ScriptStmt

  /** Parse a whole `.sparql` script: CONSTRUCT/SELECT queries, INSERT
    * DATA / DELETE DATA, [WITH <g>] INSERT {…} / DELETE {…} [USING
    * [NAMED] <g>…] WHERE {…} / DELETE WHERE {…}, LOAD <file> [INTO GRAPH
    * <g>], CLEAR GRAPH <g>, ADD/COPY/MOVE [SILENT] src TO dst;
    * statements separated by optional `;`, PREFIX declarations carry over.
    */
  def parseScript(text: String): Seq[ScriptStmt] = new P(text).scriptStatements()

  /** Parse a MULTI-SOURCE script: `parts` are the texts of the arguments
    * in order (RDF file args already rewritten to `LOAD <…>` statements
    * by the caller). The parts are parsed as ONE statement sequence so
    * PREFIX/BASE declarations carry across files exactly as in the
    * reference's integrate command (its namespace-test/test-used-prefixes
    * pair relies on this); each statement is attributed back to the part
    * whose text it starts in — the provenance `--split` clusters on.
    */
  def parseScriptParts(parts: Seq[String]): Seq[(Int, ScriptStmt)] = {
    val sep = "\n"
    val offsets = parts.scanLeft(0)((off, t) => off + t.length + sep.length)
    val combined = parts.mkString(sep)
    new P(combined).scriptStatementsAt().map { case (at, stmt) =>
      // the part whose [start, end) span contains the statement start
      val part = offsets.lastIndexWhere(_ <= at, offsets.length - 2)
      (part, stmt)
    }
  }

  /** SPARQL dataset clause (§13.2): `FROM` graphs form the default
    * graph that un-GRAPHed patterns match; `FROM NAMED` graphs are the
    * only ones GRAPH patterns see. With no clause, both views pass the
    * whole quad table through (this engine's default: patterns span
    * the dataset).
    */
  private final case class DatasetClause(from: Seq[String], fromNamed: Seq[String]) {
    private val hasClause = from.nonEmpty || fromNamed.nonEmpty
    /** A FROM IRI names a LOCAL FILE (loaded as a document, the
      * reference's Jena dataset-description behavior —
      * docs/examples/test.sparql:2 `FROM <dcat.ttl>`) iff it is a
      * `file:` IRI or a relative IRI that resolves to an existing
      * regular file under the script base; every other IRI keeps the
      * session-graph-scoping semantics. The split is decided per entry
      * so the two styles mix.
      */
    // per-query memos: default()/named() run once per PATTERN in the
    // WHERE clause, and without these every call would re-check the
    // filesystem and re-build a file scan (readRdfAuto's probe runs an
    // eager take(200) Spark job each time)
    private val backedMemo =
      scala.collection.mutable.HashMap[String, Boolean]()
    private val loadMemo =
      scala.collection.mutable.HashMap[String, DataFrame]()
    private def isFileBacked(bracketed: String): Boolean =
      backedMemo.getOrElseUpdate(bracketed, isFileBacked0(bracketed))
    private def isFileBacked0(bracketed: String): Boolean = {
      val iri = ConstructParser.stripAngles(bracketed)
      if (iri.startsWith("file:")) true
      else if (iri.matches("^[a-zA-Z][a-zA-Z0-9+.-]*:.*")) false
      else {
        val exists = java.nio.file.Files.isRegularFile(
          java.nio.file.Paths.get(ConstructParser.resolveFileIri(iri)))
        // a relative IRI that NAMES an RDF file (by extension) but does
        // not resolve to one is almost certainly a typo'd path — fail
        // loudly instead of silently matching no session graph; bare
        // names (`FROM <g1>`) keep graph-name semantics
        require(exists || !iri.matches(
          "(?i).*\\.(ttl|nt|nq|trig|rdf|jsonld)(\\.(gz|bz2))?$"),
          s"FROM <$iri>: looks like a file reference but no such file " +
            s"exists under ${ConstructParser.fileBase}")
        exists
      }
    }
    private def scope(quads: DataFrame, graphs: Seq[String],
        fileGraph: String => Column): DataFrame =
      if (!hasClause) quads
      else {
        val (files, names) = graphs.partition(isFileBacked)
        val base =
          if (names.nonEmpty) {
            require(quads.columns.contains("graph"),
              "FROM/FROM NAMED need a quad table with a graph column")
            quads.where(col("graph").isin(names: _*))
          } else null
        // SPARQL datasets are built from graphs = triple SETS (RDF
        // merge): duplicate FROM entries and triples shared across
        // files collapse; the session part keeps its own multiplicity
        val loaded = files.distinct.map { f =>
          loadMemo.getOrElseUpdate(f, {
            // RDF merge (SPARQL §13.2 builds the dataset from graph
            // MERGES, not unions): blank nodes are document-scoped, so
            // `_:b0` in two FROM files must stay two nodes — relabel
            // apart with a per-file tag before the union (Jena
            // relabels per document the same way)
            val tag = "m" + java.lang.Integer.toHexString(
              scala.util.hashing.MurmurHash3.stringHash(f)) + "."
            def relabel(c: Column): Column =
              when(c.startsWith("_:"),
                concat(lit("_:" + tag), c.substr(lit(3), length(c))))
                .otherwise(c)
            val df = graft.sources.RdfIO.readRdfAuto(quads.sparkSession,
              ConstructParser.resolveFileIri(ConstructParser.stripAngles(f)))
            df.withColumn("subj", relabel(col("subj")))
              .withColumn("obj", relabel(col("obj")))
          }).withColumn("graph", fileGraph(f))
        }
        val loadedSet =
          if (loaded.isEmpty) None
          else Some(loaded.reduce(_.unionByName(_))
            .dropDuplicates(Seq("graph", "subj", "pred", "obj")))
        val parts = Option(base).toSeq ++ loadedSet.toSeq
        if (parts.isEmpty) {
          // graphs empty for this view: zero rows, but keep the quad
          // schema so patterns still compile
          if (quads.columns.contains("graph")) quads.where(lit(false))
          else quads.where(lit(false))
            .withColumn("graph", lit("<urn:x-arq:DefaultGraph>"))
        } else parts.reduce(_.unionByName(_))
      }
    // FROM files merge into the DEFAULT graph; FROM NAMED files become
    // a named graph whose name is the IRI as WRITTEN (deterministic
    // regardless of cwd — Jena resolves to an absolute IRI instead,
    // a documented divergence)
    def default(quads: DataFrame): DataFrame =
      scope(quads, from, _ => lit("<urn:x-arq:DefaultGraph>"))
    def named(quads: DataFrame): DataFrame =
      scope(quads, fromNamed, f => lit(f))
  }

  /** The variable scope of one query or subquery (SPARQL 1.1 §12: a
    * subquery sees only the variables it projects). Every query and
    * subquery parses under a fresh one; a subquery inherits only its
    * parent's dataset clause `ds`, and a lambda body compiles under its
    * call site's scope.
    */
  private final class Scope(var ds: DatasetClause = DatasetClause(Nil, Nil)) {
    // pattern mode: flips when the first triple pattern, VALUES block
    // or subquery is parsed; the WHERE then runs over the quad table,
    // otherwise over its input frame
    var sawPattern = false
    // every WHERE-bound variable (pattern, BIND, VALUES, subquery
    // projection, property function, GROUP BY AS) and the kind of value
    // it holds; the binder feeds it in both modes
    val vars = scala.collection.mutable.LinkedHashMap[String, Kind]()
    // statically traceable lambdas: BIND target var → the full lambda
    // literal term (see the BIND parse)
    val lambdaBinds = scala.collection.mutable.HashMap[String, String]()
    // group-nesting depth + the (slot, source-offset) of every plain
    // FILTER awaiting its §17.2 re-parse at the outermost group close
    var groupDepth = 0
    val pendingFilters =
      scala.collection.mutable.ArrayBuffer[(Array[Column], Int)]()
  }

  private[rules] final class P(s: String, ctx: EvalCtx = EvalCtx(),
      termInputVars: Boolean = false) {
    private var i = 0
    private val n = s.length
    // predefined prelude: the reference's integrate command lets scripts
    // omit PREFIX lines for a set of well-known namespaces (its docs
    // examples use eg:/csv:/xml:/json: undeclared — e.g. docs/examples/
    // io.sparql, csv.sparql); an explicit PREFIX overrides the prelude
    private val prefixes = scala.collection.mutable.HashMap[String, String](
      "rdf" -> "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
      "rdfs" -> "http://www.w3.org/2000/01/rdf-schema#",
      "owl" -> "http://www.w3.org/2002/07/owl#",
      "xsd" -> ConstructParser.XsdNs,
      "eg" -> "http://www.example.org/",
      "json" -> ConstructParser.JsonNs,
      "csv" -> ConstructParser.CsvNs,
      "xml" -> ConstructParser.XmlNs,
      "url" -> ConstructParser.UrlNs,
      "fs" -> ConstructParser.FsNs,
      "afn" -> ConstructParser.AfnNs,
      "math" -> ConstructParser.MathNs,
      "sys" -> ConstructParser.SysNs,
      "norse" -> "https://w3id.org/aksw/norse#")
    // BASE <iri> from the prologue; carries across a statement sequence
    // like PREFIX does (SPARQL §4.1.1)
    private var baseIri: Option[String] = None

    /** The state of one statement, shared by its subqueries.
      * `perRecordGraph`: the per-record query forms ([[parseGraphAsk]],
      * [[parseGraphConstruct]]) — each record's dataset holds exactly one
      * named graph, so un-GRAPHed patterns and explicit GRAPH operands
      * resolve against the record's graph (#g).
      */
    private final class Stmt(val perRecordGraph: Boolean = false) {
      // `WITH <g>` update scoping: un-GRAPHed template AND pattern triples
      // target/match this graph instead of the default (SPARQL Update
      // §3.1.3)
      var withCtx: Option[String] = None
      /** Execution-local maps (norse:map.*): mapId → memo frame with
        * columns (key, value). Statement-scoped: every value is a
        * deterministic function of its key (key-only row fingerprint), so
        * re-running the parsed statement reproduces identical maps — the
        * replayable-by-content design RAND()/UUID() already follow.
        */
      val mapMemos = scala.collection.mutable.HashMap[String, DataFrame]()
    }

    private var scope = new Scope()
    private var stmt = new Stmt()

    /** Start the next statement: fresh statement state and scope. */
    private[rules] def newStatement(perRecordGraph: Boolean = false): Unit = {
      stmt = new Stmt(perRecordGraph)
      scope = new Scope()
    }

    // fresh labels for `[]` anonymous pattern nodes
    private var anonCounter = 0
    /** Names of the aggregate primaries parsed so far, in the order they
      * closed: whether an expression aggregates is whether parsing it
      * grew this ([[aggregating]], [[noAggregate]]).
      */
    private val aggsParsed = scala.collection.mutable.ArrayBuffer[String]()
    /** Set by the expression compiler when it parses a
      * `norse:map.computeIfAbsent(mapId, ?key, fn)` call: (mapId text,
      * key var, compiled lambda body over the key column). Consumed by
      * the enclosing BIND, which rewrites to a [[MapComputeE]]; any other
      * consumer fails loudly.
      */
    private var pendingMapCompute: Option[(String, String, E, E)] = None
    // triples generated by `[ p o ; … ]` property lists while a
    // statement is being tokenized — drained by tripleLines into the
    // surrounding template/pattern block (SPARQL §19.6 / Turtle §2.7)
    private val bracketTriples =
      scala.collection.mutable.ArrayBuffer[(Tok, Tok, Tok)]()

    /** SPARQL LANGTAG (ASCII-only: [a-zA-Z]+('-'[a-zA-Z0-9]+)*) — the
      * downstream LANG/DATATYPE/termLexical regexes are ASCII, so a
      * laxer lexer here would store tags they cannot read back.
      */
    private def langTag(): String = {
      val st = i
      while (i < n && (s.charAt(i).isLetterOrDigit || s.charAt(i) == '-'))
        i += 1
      val tag = s.substring(st, i)
      if (!tag.matches("[A-Za-z]+(-[A-Za-z0-9]+)*"))
        fail(s"invalid language tag '@$tag'")
      tag
    }

    /** Register a property-function output var (csv:parse/xml:unnest/
      * url:text/json:unnest) with its term-ness.
      */
    private def registerPfVar(v: String, isTerm: Boolean,
        rebind: Boolean = true): Unit =
      // rebind = the PF OVERWRITES the var's value (its term-ness must
      // follow); zip-capable index vars join instead, keeping theirs
      if (rebind || !scope.vars.contains(v)) scope.vars(v) = Kind(isTerm)

    /** Lookahead: does the `{` at the cursor open a `{ SELECT … }` subquery? */
    private def subselectAhead: Boolean = {
      var j = i + 1
      while (j < n && s.charAt(j).isWhitespace) j += 1
      s.regionMatches(true, j, "SELECT", 0, 6) &&
        (j + 6 >= n || !Character.isLetterOrDigit(s.charAt(j + 6)))
    }

    def hasMore: Boolean = { skipWs(); i < n }

    private def prefixLoop(): Unit = {
      skipWs()
      var more = true
      while (more) {
        if (kw("PREFIX")) {
          skipWs()
          val pfx = until(':'); i += 1
          skipWs()
          prefixes(pfx) = iriRef()
          skipWs()
        } else if (kw("BASE")) {
          // SPARQL §4.1.1 BaseDecl: relative IRIs resolve against it
          // (the sportal raw battery's `<D>` with the reference's
          // env:// base — MainCliVoidGenerator.java:426 binds D to
          // `env://D`). Interleaved with PREFIX per the grammar.
          skipWs()
          baseIri = Some(iriRef())
          skipWs()
        } else more = false
      }
    }

    def query(expectEnd: Boolean = true): ParsedConstruct = {
      prefixLoop()
      if (!kw("CONSTRUCT")) fail("expected CONSTRUCT")
      skipWs()
      // `CONSTRUCT WHERE { bgp }` shorthand (SPARQL 1.1 §16.2.3): the
      // pattern doubles as the template (plain triple patterns only)
      val short = peek != '{'
      val templates = if (short) Seq.empty else templateBlock()
      val els = whereClause(expectEnd, "CONSTRUCT")
      val tpl = if (short) patternTemplates(els) else templates
      // per record (README-NGS.md's Rules): default-graph templates emit
      // into the record's graph; a shorthand's pattern templates already
      // carry the #g scope
      finishConstruct(if (!stmt.perRecordGraph) tpl else tpl.map {
        case (a, b, c, g) if g == defaultGraphTok => (a, b, c, VarT("#g"): Tok)
        case t => t
      }, els, scope.ds)
    }

    /** The dataset clause and WHERE group of a CONSTRUCT or ASK, through
      * the statement's end. A per-record statement has no dataset clause,
      * and its un-GRAPHed patterns match the record's graph (#g).
      */
    private def whereClause(expectEnd: Boolean, form: String): Seq[WhereEl] = {
      val perRecord = stmt.perRecordGraph
      if (perRecord) { skipWs(); scope.vars("#g") = Kind(term = true) }
      else scope.ds = datasetClause()
      if (!kw("WHERE")) { // keyword is optional before a bare group
        skipWs()
        if (peek != '{') fail("expected WHERE or a group pattern")
      }
      skipWs()
      val els = groupBlock(if (perRecord) Some(VarT("#g")) else None)
      statementEnd(expectEnd, form)
      require(!perRecord || scope.sawPattern,
        s"per-graph $form needs at least one triple pattern")
      els
    }

    /** An optional `;` separator, then (with `expectEnd`) the input end. */
    private def statementEnd(expectEnd: Boolean, form: String): Unit = {
      skipWs()
      if (peek == ';') i += 1
      skipWs()
      if (expectEnd && i < n) fail(s"trailing input after $form query")
    }

    /** Resolve templates + WHERE elements into a [[ParsedConstruct]]
      * (shared by CONSTRUCT queries and INSERT/DELETE … WHERE updates):
      * [[compileWhere]] binds the input, then the templates read the
      * bound columns.
      */
    private def finishConstruct(templates: Seq[T], els: Seq[WhereEl],
        ds: DatasetClause = NoDataset): ParsedConstruct = {
      val mintsBnodes = templates.exists { case (a, b, c, g) =>
        Seq(a, b, c, g).exists(_.isInstanceOf[BnodeT])
      }
      val rules = Seq(Rule("construct", lit(true),
        templates.map { case (st, pt, ot, gt) =>
          TripleTemplate(termOf(st), termOf(pt), termOf(ot), termOf(gt))
        }))
      ParsedConstruct(rules, compileWhere(els, ds).andThen(_._1),
        needsRowId = mintsBnodes, usesQuads = readsQuads(els))
    }

    /** The one WHERE compiler of CONSTRUCT, SELECT and ASK: a group with
      * a triple pattern, VALUES block or subquery matches against the
      * quad table; any other group is seeded with the input frame (a
      * binding stream, or the unit solution in a dataset context), its
      * BINDs becoming columns and its FILTERs applying at group end.
      * Yields the binding frame and its maybe-unbound vars
      * ([[compileGroupN]]).
      */
    private def compileWhere(els: Seq[WhereEl],
        ds: DatasetClause): DataFrame => (DataFrame, Set[String]) = {
      val seedWithInput = !scope.sawPattern
      compileGroupN(els, _, ds, seedWithInput)
    }

    // --------------------------------------------------------- script

    def scriptStatements(): Seq[ScriptStmt] = scriptStatementsAt().map(_._2)

    /** [[scriptStatements]] plus each statement's start offset in the
      * source text — provenance for the integrate CLI's `--split` mode
      * (the reference clusters statement outputs by source file,
      * SparqlIntegrateCmdImpls.java:382-392).
      */
    def scriptStatementsAt(): Seq[(Int, ScriptStmt)] = {
      val out = scala.collection.mutable.ArrayBuffer[ScriptStmt]()
      val starts = scala.collection.mutable.ArrayBuffer[Int]()

      // `USING [NAMED] <g>`… between an update template and WHERE — the
      // update-scoped dataset clause (SPARQL Update §3.1.3: USING is FROM
      // for updates and overrides WITH for pattern matching)
      def usingClause(): DatasetClause = {
        val from = scala.collection.mutable.ArrayBuffer[String]()
        val named = scala.collection.mutable.ArrayBuffer[String]()
        skipWs()
        while (kw("USING")) {
          skipWs()
          if (kw("NAMED")) { skipWs(); named += "<" + iriRef() + ">" }
          else from += "<" + iriRef() + ">"
          skipWs()
        }
        DatasetClause(from.toSeq, named.toSeq)
      }
      // WHERE graph context: USING (when present) overrides WITH
      def whereCtx(ds: DatasetClause): Option[Tok] =
        if (ds.from.nonEmpty || ds.fromNamed.nonEmpty) None
        else stmt.withCtx.map(IriT)

      def insertTail(): ScriptStmt = {
        skipWs()
        if (kw("DATA")) {
          require(stmt.withCtx.isEmpty, "WITH is not allowed before INSERT DATA")
          skipWs()
          InsertDataStmt(constQuads(templateBlock()))
        } else {
          val templates = templateBlock()
          val ds = usingClause()
          skipWs()
          if (!kw("WHERE")) fail("expected WHERE after INSERT template")
          skipWs()
          InsertWhereStmt(finishConstruct(templates, groupBlock(whereCtx(ds)), ds))
        }
      }

      def deleteTail(): ScriptStmt = {
        skipWs()
        if (kw("DATA")) {
          require(stmt.withCtx.isEmpty, "WITH is not allowed before DELETE DATA")
          skipWs()
          DeleteDataStmt(constQuads(templateBlock()))
        } else if (kw("WHERE")) {
          // DELETE WHERE { pattern }: template = pattern (SPARQL Update
          // §3.1.3.3); un-GRAPHed patterns delete from the default (or
          // WITH) graph
          skipWs()
          val els = groupBlock(stmt.withCtx.map(IriT))
          DeleteWhereStmt(finishConstruct(patternTemplates(els), els))
        } else {
          val templates = templateBlock()
          skipWs()
          if (kw("INSERT")) { // DELETE {…} INSERT {…} WHERE {…}
            skipWs()
            val insTemplates = templateBlock()
            val ds = usingClause()
            skipWs()
            if (!kw("WHERE")) fail("expected WHERE after INSERT template")
            skipWs()
            val els = groupBlock(whereCtx(ds))
            ModifyStmt(finishConstruct(templates, els, ds),
              finishConstruct(insTemplates, els, ds))
          } else {
            val ds = usingClause()
            if (!kw("WHERE")) fail("expected WHERE after DELETE template")
            skipWs()
            DeleteWhereStmt(finishConstruct(templates, groupBlock(whereCtx(ds)), ds))
          }
        }
      }

      def graphOrDefault(): String = {
        skipWs()
        if (kw("DEFAULT")) "<urn:x-arq:DefaultGraph>"
        else { kw("GRAPH"); skipWs(); "<" + iriRef() + ">" }
      }
      def graphMgmt(mk: (String, String) => ScriptStmt): ScriptStmt = {
        skipWs()
        kw("SILENT") // accepted: a missing source graph is already a no-op
        val src = graphOrDefault()
        skipWs()
        if (!kw("TO")) fail("expected TO")
        val dst = graphOrDefault()
        mk(src, dst)
      }

      while (hasMore) {
        newStatement()
        prefixLoop()
        skipWs()
        starts += i // each loop pass appends exactly one statement
        // query forms rewind so their parser re-reads the keyword
        if (kw("CONSTRUCT")) {
          i -= "CONSTRUCT".length
          out += QueryStmt(query(expectEnd = false))
        } else if (kw("SELECT")) {
          i -= "SELECT".length
          out += SelectQueryStmt(selectQuery(expectEnd = false))
        } else if (kw("ASK")) {
          i -= "ASK".length
          out += SelectQueryStmt(askQuery(expectEnd = false))
        } else if (kw("DESCRIBE")) {
          i -= "DESCRIBE".length
          out += DescribeQueryStmt(describeQuery(expectEnd = false))
        } else if (kw("INSERT")) {
          out += insertTail()
        } else if (kw("DELETE")) {
          out += deleteTail()
        } else if (kw("WITH")) {
          // WITH <g> DELETE/INSERT …: un-GRAPHed templates AND patterns
          // scope to <g> (USING, if present, overrides for patterns)
          skipWs()
          stmt.withCtx = Some(iriRef())
          skipWs()
          if (kw("INSERT")) out += insertTail()
          else if (kw("DELETE")) out += deleteTail()
          else fail("expected INSERT or DELETE after WITH <graph>")
        } else if (kw("ADD")) {
          out += graphMgmt(AddGraphStmt.apply)
        } else if (kw("COPY")) {
          out += graphMgmt(CopyGraphStmt.apply)
        } else if (kw("MOVE")) {
          out += graphMgmt(MoveGraphStmt.apply)
        } else if (kw("LOAD")) {
          skipWs()
          val iri = iriRef()
          skipWs()
          var g: Option[String] = None
          if (kw("INTO")) {
            skipWs()
            if (!kw("GRAPH")) fail("expected GRAPH after INTO")
            skipWs()
            g = Some("<" + iriRef() + ">")
          }
          val path = if (iri.startsWith("file://")) iri.substring("file://".length) else iri
          out += LoadStmt(path, g)
        } else if (kw("CLEAR")) {
          skipWs()
          if (!kw("GRAPH")) fail("expected GRAPH after CLEAR")
          skipWs()
          out += ClearGraphStmt("<" + iriRef() + ">")
        } else fail(
          "expected CONSTRUCT/SELECT/ASK/DESCRIBE/INSERT/DELETE/WITH/LOAD/" +
            "CLEAR/ADD/COPY/MOVE")
        skipWs()
        if (peek == ';') { i += 1; skipWs() }
      }
      require(out.nonEmpty, "empty script")
      starts.toSeq.zip(out.toSeq)
    }

    /** DATA-block templates must be constant quads. */
    private def constQuads(ts: Seq[T]): Seq[(String, String, String, String)] =
      ts.map { case (a, b, c, g) =>
        (constTerm(g), constTerm(a), constTerm(b), constTerm(c))
      }

    private def constTerm(t: Tok): String = t match {
      case VarT(v) => fail(s"variable ?$v is not allowed in a DATA block")
      // user labels kept verbatim; generated [] anon labels carry a '#'
      // marker — emit as '.' so the stored term stays N-Triples-valid
      case BnodeT(l) => "_:" + l.replace("#", ".")
      case other => specOf(other).swap.getOrElse(fail("constant term expected"))
    }

    /** DELETE WHERE: every group element must be a plain triple pattern;
      * the patterns double as the deletion templates.
      */
    private def patternTemplates(els: Seq[WhereEl]): Seq[T] = els.flatMap {
      case TpE(g, a, b, c) =>
        Seq((a, b, c, g.getOrElse(defaultGraphTok): Tok))
      case GroupE(inner) => patternTemplates(inner)
      case other => fail(s"DELETE WHERE allows only triple patterns, got $other")
    }

    // ----------------------------------------------------------------- ask

    def askQuery(expectEnd: Boolean = true): ParsedSelect = {
      prefixLoop()
      if (!kw("ASK")) fail("expected ASK")
      val els = whereClause(expectEnd, "ASK")
      val where = compileWhere(els, scope.ds)
      ParsedSelect(
        // per record: the DISTINCT names of the passing record graphs
        if (stmt.perRecordGraph)
          where(_)._1.select(col("#g").as("graph")).distinct()
        else where(_)._1.agg((count(lit(1)) > 0).as("ask")),
        usesQuads = readsQuads(els))
    }

    def describeQuery(expectEnd: Boolean = true): ParsedSelect = {
      prefixLoop()
      if (!kw("DESCRIBE")) fail("expected DESCRIBE")
      val vars = scala.collection.mutable.ArrayBuffer[String]()
      val consts = scala.collection.mutable.ArrayBuffer[String]()
      var more = true
      while (more) {
        skipWs()
        if (peek == '?') vars += varName()
        else if (peek == '<') consts += "<" + iriRef() + ">"
        else if (Character.isLetter(peek)) {
          val save = i
          if (kw("WHERE") || kw("FROM")) { i = save; more = false }
          else consts += "<" + prefixedIri() + ">"
        } else more = false
      }
      require(vars.nonEmpty || consts.nonEmpty, "empty DESCRIBE")
      val ds = datasetClause()
      scope.ds = ds
      val els =
        if (kw("WHERE")) { skipWs(); groupBlock(graphCtx = None) }
        else if (peek == '{') groupBlock(graphCtx = None)
        else Seq.empty
      require(vars.isEmpty || els.nonEmpty,
        "DESCRIBE with variables needs a WHERE pattern")
      statementEnd(expectEnd, "DESCRIBE")
      ParsedSelect { quads =>
        val spark = quads.sparkSession
        val constDf =
          if (consts.isEmpty) None
          else Some(spark.createDataFrame(
            spark.sparkContext.parallelize(consts.toSeq.map(Row(_)), 1),
            StructType(Seq(StructField("#resource", StringType)))))
        val varDf =
          if (vars.isEmpty) None
          else {
            val bound = compileGroupN(els, quads, ds)._1
            Some(vars.map(v => bound.select(col(v).as("#resource")))
              .reduce(_ union _))
          }
        val seeds = (constDf.toSeq ++ varDf.toSeq)
          .reduce(_ union _).distinct().truncateLineage(true)
        // Concise Bounded Description (Jena's default describe handler):
        // the outgoing star, following BLANK-NODE objects transitively —
        // driver fixpoint bounded by the bnode-chain depth (like the CC
        // loop); IRIs/literals do not recurse
        var all = seeds
        var frontier = seeds
        var rounds = 0
        var growing = true
        while (growing) {
          if (rounds >= 1000) throw new IllegalStateException(
            "DESCRIBE CBD did not converge in 1000 rounds (bnode chain too deep)")
          val star = quads.join(frontier,
            quads.col("subj") === frontier.col("#resource"), "left_semi")
          frontier = star.where(col("obj").startsWith("_:"))
            .select(col("obj").as("#resource")).distinct()
            .join(all, Seq("#resource"), "left_anti")
            .truncateLineage(true)
          growing = frontier.limit(1).count() > 0
          if (growing) all = all.union(frontier).truncateLineage(true)
          rounds += 1
        }
        quads.join(all,
          quads.col("subj") === all.col("#resource"), "left_semi")
      }
    }

    // -------------------------------------------------------------- select

    private sealed trait SelItem
    private case class PlainVar(v: String) extends SelItem
    /** `(e AS ?v)`; `agg` = `e` contains an aggregate. */
    private case class Derived(v: String, e: E, agg: Boolean) extends SelItem
    private case object Star extends SelItem

    /** `subGraphCtx`: the enclosing `GRAPH term` when this is a SubSelect
      * inside a graph pattern (SPARQL §13.3: GRAPH sets the active graph
      * for EVERYTHING inside, subqueries included) — threaded into the
      * WHERE patterns, and for a variable graph term the var is exposed
      * through the projection (GRAPH ?v binds ?v at the outer level) and
      * joins any GROUP BY so aggregates compute per active graph.
      */
    def selectQuery(expectEnd: Boolean = true): ParsedSelect = {
      val q = selectQueryCtx(expectEnd, None)
      ParsedSelect(q.run(_)._1, q.usesQuads)
    }

    /** One projected variable of a SELECT: does it hold a term, is it
      * xsd:integer-valued (a COUNT)?
      */
    private case class ProjVar(v: String, term: Boolean, int: Boolean)

    /** A compiled SELECT: its solutions plus the projected vars that may
      * be UNBOUND in them (a subquery's enclosing group picks §8.3
      * compatibility joins for those), its projection, and whether its
      * WHERE reads the quad table ([[readsQuads]]).
      */
    private case class SelectQ(run: DataFrame => (DataFrame, Set[String]),
        proj: Seq[ProjVar], usesQuads: Boolean)

    /** Parse a SELECT under the current scope (a subquery's is fresh,
      * [[subSelectEl]]).
      */
    private def selectQueryCtx(expectEnd: Boolean,
        subGraphCtx: Option[Tok],
        lateralExpose: Set[String] = Set.empty): SelectQ = {
      prefixLoop()
      if (!kw("SELECT")) fail("expected SELECT")
      skipWs()
      // DISTINCT dedups solutions; REDUCED merely PERMITS dedup (§18.2.5)
      // — a deterministic engine treats both as distinct()
      val distinctRows = kw("DISTINCT") || kw("REDUCED")
      def parseItems(): Seq[SelItem] = {
        val items = scala.collection.mutable.ArrayBuffer[SelItem]()
        var more = true
        while (more) {
          skipWs()
          if (peek == '*') { i += 1; items += Star }
          else if (peek == '?') items += PlainVar(varName())
          else if (peek == '(') {
            i += 1
            val (e, isAgg) = aggregating(expr())
            skipWs()
            if (!kw("AS")) fail("expected AS in (expr AS ?v)")
            skipWs()
            val v = varName()
            skipWs(); expect(')')
            if (pendingMapCompute.isDefined) fail(
              "map.computeIfAbsent is only supported as a BIND expression")
            items += Derived(v, e, isAgg)
          } else if (peek.isDigit || peek == '-') {
            // bare constant projection (`SELECT 1 { }`, the reference's
            // hashbang smoke script) — column named after the literal
            val lex = exprNumber()
            items += Derived(lex, E(lit(lex).cast("double"), term = false),
              agg = false)
          } else more = false
        }
        items.toSeq
      }
      skipWs()
      val projStart = i
      var items = parseItems()
      if (items.isEmpty) fail("empty SELECT projection")
      val own = datasetClause()
      val ds = if (own.from.isEmpty && own.fromNamed.isEmpty) scope.ds else own
      scope.ds = ds // nested subqueries inherit
      kw("WHERE") // optional keyword
      skipWs()
      val els = groupBlock(graphCtx = subGraphCtx)
      skipWs()
      // projection expressions were parsed BEFORE the WHERE, when no
      // variable's kind was known — re-parse the projection span now that
      // the var map is final, so SUM(?v)/MIN(?v) over TERM vars compile
      // with term-aware numeric/ordering semantics
      val save = i
      i = projStart
      items = parseItems()
      i = save
      // GROUP BY keys: `?v`, `(expr)`, or `(expr AS ?v)` (SPARQL §11.2 —
      // ARQ accepts expression keys; an AS-named key is projectable)
      val groupBys = scala.collection.mutable.ArrayBuffer[(String, Option[Column])]()
      if (kw("GROUP")) {
        skipWs()
        if (!kw("BY")) fail("expected BY after GROUP")
        skipWs()
        while (peek == '?' || peek == '(') {
          if (peek == '?') groupBys += ((varName(), None))
          else {
            i += 1
            val e = noAggregate("GROUP BY")(expr())
            skipWs()
            if (kw("AS")) {
              skipWs()
              val v = varName()
              skipWs(); expect(')')
              scope.vars(v) = e.kind
              groupBys += ((v, Some(e.c)))
            } else {
              expect(')')
              // unnamed expression key: hidden column, not projectable
              groupBys += (("#gb" + groupBys.size, Some(e.c)))
            }
          }
          skipWs()
        }
        if (groupBys.isEmpty) fail("empty GROUP BY")
      }
      // HAVING (expr)… — SPARQL 1.1 §11.3: filters at the aggregate
      // level; an aggregating condition rides as a hidden agg column
      val havings = scala.collection.mutable.ArrayBuffer[(Column, Boolean)]()
      skipWs()
      if (kw("HAVING")) {
        skipWs()
        while (peek == '(') {
          i += 1
          val (e, isAgg) = aggregating(expr())
          skipWs(); expect(')')
          havings += ((e.c, isAgg))
          skipWs()
        }
        if (havings.isEmpty) fail("empty HAVING")
      }
      // ORDER BY keys: `?v`, `[ASC|DESC](expr)`, `(expr)` — full §17
      // expressions (incl. aggregates like DESC(COUNT(*)), which ride as
      // hidden agg columns). Non-aggregate keys may reference
      // NON-PROJECTED vars (SPARQL sorts solutions before projection) —
      // except under DISTINCT, and except keys that ALSO reference a
      // derived projection alias (those evaluate post-projection);
      // impossible combinations are rejected loudly at run construction.
      val orders = scala.collection.mutable.ArrayBuffer[(Column, Boolean, Boolean)]()
      skipWs()
      if (kw("ORDER")) {
        skipWs()
        if (!kw("BY")) fail("expected BY after ORDER")
        var m2 = true
        while (m2) {
          skipWs()
          val desc = kw("DESC")
          val ascKw = !desc && kw("ASC")
          // a plain term-typed var sorts numeric-typed literals by VALUE
          // (before other terms, which sort lexically) — consistent with
          // MIN/MAX and SPARQL §15.1's numeric ordering
          def varKey(v: String): Column =
            if (scope.vars.get(v).exists(_.term)) termOrdKey(col(v))
            else col(v)
          def orderKey(): (Column, Boolean) = {
            val (e, isAgg) = aggregating(expr())
            (e.c, isAgg)
          }
          if (desc || ascKw) {
            skipWs(); expect('(')
            skipWs()
            val save = i
            val (c, isAgg) =
              if (peek == '?') {
                val v = varName()
                skipWs()
                if (peek == ')') (varKey(v), false)
                else { i = save; orderKey() } // DESC(?v + 1): full expression
              } else orderKey()
            skipWs(); expect(')')
            orders += ((c, !desc, isAgg))
          } else if (peek == '?') orders += ((varKey(varName()), true, false))
          else if (peek == '(') {
            i += 1
            val (c, isAgg) = orderKey()
            skipWs(); expect(')')
            orders += ((c, true, isAgg))
          } else m2 = false
        }
        if (orders.isEmpty) fail("empty ORDER BY")
      }
      var limitN: Option[Int] = None
      var offsetN: Option[Int] = None
      var m3 = true
      while (m3) {
        skipWs()
        if (kw("LIMIT")) { skipWs(); limitN = Some(number().toInt) }
        else if (kw("OFFSET")) { skipWs(); offsetN = Some(number().toInt) }
        else m3 = false
      }
      skipWs()
      if (peek == ';') i += 1
      skipWs()
      if (expectEnd && i < n) fail("trailing input after SELECT query")

      // the query groups: a GROUP BY, or an aggregate in the projection
      def grouped: Boolean = groupBys.nonEmpty ||
        items.exists { case Derived(_, _, true) => true; case _ => false }

      // inside GRAPH ?gv: ?gv is bound by the graph pattern at the OUTER
      // level (§18.2.1 in-scope rules), so expose it through the
      // projection, and make it a grouping key so aggregates compute per
      // active graph (a whole-stream aggregate inside GRAPH ?gv is one
      // row PER GRAPH, not one row total)
      // Expose an outer-scope var through this query's projection (+ any
      // GROUP BY, so aggregates compute per exposed key). Shared by the
      // GRAPH-?gv threading (§13.3) and the LATERAL decorrelation below —
      // one definition so the exposure rules cannot diverge.
      def exposeVar(v: String): Unit = {
        val hasStar = items.exists { case Star => true; case _ => false }
        if (hasStar) {
          // `SELECT *` expands from the var map below — make sure the var
          // is in it (it was bound in the OUTER scope, so the subselect's
          // own var map doesn't have it yet). Appending PlainVar instead
          // would make the projection an illegal Star/named mix.
          if (!scope.vars.contains(v)) scope.vars(v) = Kind(term = true)
        } else if (!items.exists {
          case PlainVar(x) => x == v
          case Derived(x, _, _) => x == v
          case _ => false
        }) items = items :+ PlainVar(v)
        if (grouped && !groupBys.exists(_._1 == v))
          groupBys += ((v, None))
      }
      subGraphCtx match {
        case Some(VarT(gv)) if scope.sawPattern => exposeVar(gv)
        case _ => ()
      }

      // LATERAL subselect (Jena's per-left-binding evaluation,
      // docs/query/lateral.md; the canned shacl-targetClass.rq): every
      // outer-bound var the inner WHERE pattern-mentions is exposed
      // through the projection — and any GROUP BY — so the DECORRELATED
      // equi-join on those vars reproduces the substitution semantics.
      // DISTINCT then dedups PER correlation key, the lateral contract.
      // Documented divergence: an outer row whose correlated group is
      // EMPTY drops (inner equi-join), where the reference's per-left
      // evaluation yields a zero/empty aggregate row — the reference's
      // own lateral uses (shacl-targetClass) correlate on keys drawn
      // from the same data, where the two agree.
      val lateralExposed =
        if (scope.sawPattern) lateralExpose.intersect(boundVars(els))
        else Set.empty[String]
      if (lateralExpose.nonEmpty) {
        // an outer var referenced ONLY in expression / EXISTS / MINUS
        // position has no decorrelated form — loud reject, never silent
        // join-not-lateral semantics
        val hard = lateralExpose.filter(v =>
          !lateralExposed.contains(v) && refsVarDeep(els, v))
        require(hard.isEmpty,
          s"LATERAL: outer ${hard.toSeq.sorted.map("?" + _).mkString(", ")} " +
            "referenced only inside a FILTER/BIND expression or an " +
            "EXISTS/MINUS group — decorrelation needs a pattern-bound " +
            "position; rewrite the correlation as a pattern or join")
      }
      if (lateralExposed.nonEmpty) {
        require(limitN.isEmpty && offsetN.isEmpty && orders.isEmpty,
          "LATERAL with LIMIT/OFFSET/ORDER BY is not supported: the " +
            "reference applies them PER left binding, which has no " +
            "decorrelated join form here")
        // ADVICE r9: the empty-group divergence documented above was
        // silent — surface it whenever it CAN manifest (an aggregate
        // under the correlation), so affected users see the contract
        if (grouped)
          System.err.println("[graft] LATERAL subselect with aggregates: " +
            "outer rows whose correlated group is EMPTY are dropped by " +
            "the decorrelated join; the reference's per-left evaluation " +
            "would emit a zero/empty-aggregate row for them")
        lateralExposed.toSeq.sorted.foreach(exposeVar)
      }

      val bgp = scope.sawPattern
      val where = compileWhere(els, ds)
      // `SELECT *` inside a subquery: expand to this query's WHERE-bound
      // vars (SPARQL §18.2.4.4 — in BGP mode that's exactly the var map,
      // in insertion order). An input-seeded WHERE also sees the input's
      // columns, which no static list holds, so '*' stays opaque there
      // and subSelectEl keeps rejecting it.
      val starVars: Seq[(String, Kind)] = if (bgp) scope.vars.toSeq else Nil
      val proj = items.toSeq.flatMap {
        case PlainVar(v) =>
          val k = scope.vars.get(v)
          Seq(ProjVar(v, k.forall(_.term), k.exists(_.int)))
        case Derived(v, e, _) => Seq(ProjVar(v, e.term, e.int))
        case Star =>
          if (bgp) starVars.map { case (v, k) => ProjVar(v, k.term, k.int) }
          else Seq(ProjVar("*", term = false, int = false))
      }
      val run = { (input: DataFrame) =>
        val (bindings, mn) = where(input)
        // projected vars that may be UNBOUND: a var the group may leave
        // unbound or never binds at all (projected as NULL below), and —
        // conservatively — a derived value over such a var (covers
        // renames and aggregates of nullables)
        val nulls = items.toSeq.flatMap {
          case PlainVar(v) if mn(v) || !bindings.columns.contains(v) => Seq(v)
          case Derived(v, e, _) if refNames(e.c).exists(mn) => Seq(v)
          case Star => starVars.map(_._1).filter(mn)
          case _ => Nil
        }.toSet
        val hasAgg = grouped
        require(havings.isEmpty || hasAgg,
          "HAVING requires GROUP BY or an aggregate projection")
        val projected =
          if (!hasAgg) {
            if (items.toSeq == Seq(Star)) bindings
            else {
              // ORDER BY keys evaluate against the FULL binding frame
              // (SPARQL sorts solutions BEFORE projection, so sorting by
              // a non-projected var is legal) and ride through as hidden
              // columns — except under DISTINCT, where a hidden key
              // would widen the dedup (there the keys must be projected)
              // a key referencing a DERIVED projection alias must wait
              // for the projection; everything else computes early
              val derivedNames =
                items.collect { case Derived(v, _, _) => v }.toSet
              val early = orders.toSeq.zipWithIndex.collect {
                case ((c, _, false), k)
                    if !distinctRows &&
                      refNames(c).intersect(derivedNames).isEmpty => k
              }.toSet
              // late (post-projection) keys can only see projected names
              // — reject the impossible combinations loudly rather than
              // surfacing an unresolved-column analysis error
              val projNames = items.toSeq.collect {
                case PlainVar(v) => v
                case Derived(v, _, _) => v
              }.toSet
              orders.toSeq.zipWithIndex.foreach { case ((c, _, isAgg), k) =>
                require(isAgg || early(k) || refNames(c).subsetOf(projNames),
                  "ORDER BY key references a non-projected var in a " +
                    "position that evaluates after projection (DISTINCT, " +
                    "or mixed with a derived alias): project the var or " +
                    "drop DISTINCT")
              }
              val preOrd = orders.toSeq.zipWithIndex.foldLeft(bindings) {
                case (df, ((c, _, _), k)) if early(k) =>
                  // a key over a var the group never binds sorts as NULL
                  // (same unbound-is-NULL rule as the projection below)
                  df.withColumn("#ord" + k,
                    if (refNames(c).forall(df.columns.contains)) c
                    else lit(null).cast("string"))
                case (df, _) => df
              }
              val ordCols = orders.indices.filter(early).map(k => col("#ord" + k))
              preOrd.select(items.toSeq.map {
                case PlainVar(v) =>
                  // a projected var the group never binds is UNBOUND per
                  // SPARQL (not an error) — e.g. the inner vars of a
                  // SILENT-degraded SERVICE group
                  if (preOrd.columns.contains(v)) col(v)
                  else lit(null).cast("string").as(v)
                case Derived(v, e, _) => e.c.as(v)
                case Star => throw new IllegalArgumentException(
                  "* cannot mix with named projections")
              } ++ ordCols: _*)
            }
          } else {
            val keyNames = groupBys.map(_._1).toSeq
            val plain = items.collect { case PlainVar(v) => v }
            val badPlain = plain.filterNot(keyNames.contains)
            require(badPlain.isEmpty,
              s"non-aggregated SELECT vars $badPlain must appear in GROUP BY")
            // HAVING + aggregate ORDER BY operands ride along as hidden
            // agg columns
            val hidden = havings.zipWithIndex.collect {
              case ((c, true), k) => c.as("#having" + k)
            }
            val hiddenOrd = orders.zipWithIndex.collect {
              case ((c, _, true), k) => c.as("#ord" + k)
            }
            val aggs = items.collect { case Derived(v, e, _) => e.c.as(v) }.toSeq ++
              hidden ++ hiddenOrd
            // derived (expression) keys materialize as columns first
            val keyed = groupBys.foldLeft(bindings) {
              case (df, (v, Some(c))) => df.withColumn(v, c)
              case (df, _) => df
            }
            // no aggregate at all: GROUP BY alone yields one row per key
            val g =
              if (aggs.isEmpty) keyed.select(keyNames.map(col): _*).distinct()
              else keyed.groupBy(keyNames.map(col): _*)
                .agg(aggs.head, aggs.tail: _*)
            val filtered = havings.zipWithIndex.foldLeft(g) {
              case (df, ((c, isAgg), k)) =>
                df.filter(if (isAgg) col("#having" + k) else c)
            }
            filtered.select(items.toSeq.map {
              case PlainVar(v) => col(v)
              // backtick-quote: a bare-constant projection can be named
              // after a DECIMAL literal ("1.5") and col() would read the
              // dot as struct-field access
              case Derived(v, _, _) => filtered("`" + v + "`")
              case Star => throw new IllegalArgumentException(
                "* cannot mix with aggregation")
            } ++ orders.zipWithIndex.collect {
              case ((_, _, true), k) => col("#ord" + k)
            }: _*)
          }
        require(orders.forall(o => !o._3 || hasAgg),
          "aggregate ORDER BY needs GROUP BY or an aggregate projection")
        // hidden aggregate sort keys ride inside `projected`, so DISTINCT
        // would dedup over them and keep projection-identical rows —
        // reject loudly rather than silently widen the result
        require(!(distinctRows && orders.exists(_._3)),
          "SELECT DISTINCT cannot combine with an aggregate ORDER BY key")
        val deduped = if (distinctRows) projected.distinct() else projected
        val ordered =
          if (orders.isEmpty) deduped
          else {
            // each key materializes as a hidden column (agg keys and
            // non-agg pre-projection keys already ride in the frame),
            // sorted on, then dropped — the drop is a narrow projection,
            // so ordering survives
            var df = deduped
            val sortCols = orders.toSeq.zipWithIndex.map {
              case ((c, asc, _), k) =>
                val name = "#ord" + k
                if (!df.columns.contains(name)) df = df.withColumn(name, c)
                if (asc) col(name).asc else col(name).desc
            }
            df.orderBy(sortCols: _*)
              .drop(orders.indices.map("#ord" + _).toSeq: _*)
          }
        val off = offsetN.map(ordered.offset).getOrElse(ordered)
        (limitN.map(off.limit).getOrElse(off), nulls)
      }
      SelectQ(run, proj, readsQuads(els))
    }

    /** Parse with `p`; did it consume an aggregate primary? */
    private def aggregating[A](p: => A): (A, Boolean) = {
      val k = aggsParsed.size
      val a = p
      (a, aggsParsed.size > k)
    }

    /** Parse with `p` where SPARQL allows no aggregate (§18.2.4.1: they
      * live in projections, HAVING and ORDER BY only).
      */
    private def noAggregate[A](where: String)(p: => A): A = {
      val k = aggsParsed.size
      val a = p
      if (aggsParsed.size > k)
        fail(s"aggregate ${aggsParsed(k)} is not allowed in $where")
      a
    }

    /** The argument of aggregate `fn`: aggregate-free itself. */
    private def aggArg(fn: String): E =
      noAggregate(s"the argument of $fn")(expr())

    /** Record one parsed aggregate primary. */
    private def aggregate(fn: String, e: E): E = { aggsParsed += fn; e }

    // ---------------------------------------------------------- templates

    /** Raw template terms collected before resolution (graph included). */
    private type T = (Tok, Tok, Tok, Tok)
    private sealed trait Tok
    private case class VarT(name: String) extends Tok
    private case class IriT(iri: String) extends Tok
    private case class StrT(v: String) extends Tok
    /** Typed literal constant in a pattern position ("…"^^dt). */
    private case class TypedStrT(v: String, dt: String) extends Tok
    /** Language-tagged literal constant ("…"@lang). */
    private case class LangStrT(v: String, lang: String) extends Tok
    /** Collection object — only valid as property-function arguments. */
    private case class ListT(items: Seq[Tok]) extends Tok
    private case class NumT(lex: String) extends Tok
    /** A property path in predicate position (WHERE patterns only). */
    private case class PathT(p: PathOps.PathExpr) extends Tok
    /** `_:label` — fresh bnode per solution in templates (SPARQL §16.2.1);
      * a plain scoped variable in WHERE patterns (§19.6).
      */
    private case class BnodeT(label: String) extends Tok

    /** Un-GRAPHed triples target the WITH graph when one is set. */
    private def defaultGraphTok: IriT =
      IriT(stmt.withCtx.getOrElse("urn:x-arq:DefaultGraph"))

    private def templateBlock(): Seq[T] = {
      expect('{')
      val out = scala.collection.mutable.ArrayBuffer[T]()
      val DefaultG = defaultGraphTok
      skipWs()
      while (peek != '}') {
        if (kw("GRAPH")) {
          skipWs()
          val g = tok()
          skipWs(); expect('{'); skipWs()
          while (peek != '}') {
            tripleLines().foreach { case (a, b, c) => out += ((a, b, c, g)) }
            skipWs()
          }
          expect('}')
        } else {
          tripleLines().foreach { case (a, b, c) => out += ((a, b, c, DefaultG)) }
        }
        skipWs()
      }
      expect('}')
      out.toSeq
    }

    /** `subj pred obj (',' obj)* (';' pred obj…)* '.'?` — one triples
      * statement with predicate/object lists, shared by templates and
      * WHERE patterns (Turtle/SPARQL TriplesBlock shape).
      */
    private def tripleLines(allowPaths: Boolean = false): Seq[(Tok, Tok, Tok)] = {
      val out = scala.collection.mutable.ArrayBuffer[(Tok, Tok, Tok)]()
      val subj = tok(); skipWs()
      var morePred = true
      while (morePred) {
        val p =
          if (allowPaths) pathOrPredTok()
          else if (kwCS("a")) IriT(RdfTerms.RdfType)
          else tok()
        skipWs()
        var moreObj = true
        while (moreObj) {
          val o = tok(); skipWs()
          out += ((subj, p, o))
          if (peek == ',') { i += 1; skipWs() } else moreObj = false
        }
        if (peek == ';') {
          i += 1; skipWs()
          if (peek == '.' || peek == '}') morePred = false // trailing ';'
        } else morePred = false
      }
      if (peek == '.') { i += 1; skipWs() }
      if (bracketTriples.nonEmpty) {
        // triples from `[ p o ; … ]` property lists tokenized within
        // this statement (subject-first order keeps output stable)
        val extra = bracketTriples.toSeq
        bracketTriples.clear()
        out ++= extra
      }
      out.toSeq
    }

    private def tok(): Tok = {
      skipWs()
      peek match {
        case '?' => VarT(varName())
        case '<' => IriT(iriRef())
        case '"' | '\'' =>
          val body = stringLit()
          if (peek == '^' && i + 1 < n && s.charAt(i + 1) == '^') {
            i += 2
            skipWs()
            val dt = if (peek == '<') iriRef() else prefixedIri()
            TypedStrT(body, dt)
          } else if (peek == '@') {
            i += 1
            LangStrT(body, langTag())
          } else StrT(body)
        case '(' =>
          i += 1
          val items = scala.collection.mutable.ArrayBuffer[Tok]()
          skipWs()
          while (peek != ')') { items += tok(); skipWs() }
          i += 1
          ListT(items.toSeq)
        case '[' =>
          // `[]` / `[ p o ; … ]` anonymous node (SPARQL §19.6): a fresh
          // statement-scoped node; a non-empty property list emits its
          // triples with the fresh node as subject into [[bracketTriples]]
          // (drained by the enclosing tripleLines) — the sportal
          // batteries' `v:classPartition [ v:class ?c ; … ]` templates
          i += 1; skipWs()
          anonCounter += 1
          // '#' is not a user bnode-label char — no _:anonN collision
          val node = BnodeT("anon#" + anonCounter)
          if (peek == ']') { i += 1; node }
          else {
            var morePred = true
            while (morePred) {
              val p = if (kwCS("a")) IriT(RdfTerms.RdfType) else tok()
              skipWs()
              var moreObj = true
              while (moreObj) {
                val o = tok(); skipWs()
                bracketTriples += ((node, p, o))
                if (peek == ',') { i += 1; skipWs() } else moreObj = false
              }
              if (peek == ';') {
                i += 1; skipWs()
                if (peek == ']') morePred = false // trailing ';'
              } else morePred = false
            }
            expect(']')
            node
          }
        case '_' if i + 1 < n && s.charAt(i + 1) == ':' =>
          i += 2
          val start = i
          while (i < n && (Character.isLetterOrDigit(s.charAt(i)) ||
            s.charAt(i) == '_' || s.charAt(i) == '-')) i += 1
          if (i == start) fail("empty blank node label")
          BnodeT(s.substring(start, i))
        case c if c.isDigit || c == '-' => NumT(number())
        case _ => IriT(prefixedIri())
      }
    }

    // ---------------------------------------------- property paths (§9)

    /** Predicate position of a WHERE pattern: `?var`, or a property path.
      * A path that is a single plain IRI collapses to [[IriT]], keeping
      * the ordinary triple-pattern plan (filtered scan, no path machinery).
      */
    private def pathOrPredTok(): Tok = {
      skipWs()
      if (peek == '?') VarT(varName())
      else pathAlt() match {
        case PathOps.Link(iri) => IriT(iri)
        case other => PathT(other)
      }
    }

    private def pathAlt(): PathOps.PathExpr = {
      val parts = scala.collection.mutable.ArrayBuffer(pathSeq())
      skipWs()
      while (peek == '|') { i += 1; skipWs(); parts += pathSeq(); skipWs() }
      if (parts.size == 1) parts.head else PathOps.Alt(parts.toSeq)
    }

    private def pathSeq(): PathOps.PathExpr = {
      val parts = scala.collection.mutable.ArrayBuffer(pathElt())
      skipWs()
      while (peek == '/') { i += 1; skipWs(); parts += pathElt(); skipWs() }
      if (parts.size == 1) parts.head else PathOps.Sequence(parts.toSeq)
    }

    private def pathElt(): PathOps.PathExpr = {
      skipWs()
      if (peek == '^') { i += 1; skipWs(); PathOps.Inv(pathElt()) }
      else {
        val prim = pathPrimary()
        // the `?` modifier binds tightly (a following `?var` must stay a
        // variable); `+`/`*` may be whitespace-separated (nothing else
        // can start with them after a predicate)
        if (peek == '?' && (i + 1 >= n ||
            !(Character.isLetterOrDigit(s.charAt(i + 1)) || s.charAt(i + 1) == '_'))) {
          i += 1; PathOps.ZeroOrOne(prim)
        } else {
          skipWs()
          if (peek == '+') { i += 1; PathOps.OneOrMore(prim) }
          else if (peek == '*') { i += 1; PathOps.ZeroOrMore(prim) }
          else prim
        }
      }
    }

    private def pathPrimary(): PathOps.PathExpr = {
      skipWs()
      if (peek == '(') { i += 1; val p = pathAlt(); skipWs(); expect(')'); p }
      else if (peek == '!') { i += 1; negatedPropertySet() }
      else if (kwCS("a")) PathOps.Link(RdfTerms.RdfType)
      else if (peek == '<') PathOps.Link(iriRef())
      else PathOps.Link(prefixedIri())
    }

    /** `!iri` or `!( iri | ^iri | … )` (SPARQL 1.1 §9.1 PathNegatedPropertySet). */
    private def negatedPropertySet(): PathOps.PathExpr = {
      val fwd = scala.collection.mutable.ArrayBuffer[String]()
      val inv = scala.collection.mutable.ArrayBuffer[String]()
      def one(): Unit = {
        skipWs()
        val isInv = peek == '^'
        if (isInv) { i += 1; skipWs() }
        val iri =
          if (kwCS("a")) RdfTerms.RdfType
          else if (peek == '<') iriRef()
          else prefixedIri()
        if (isInv) inv += iri else fwd += iri
      }
      skipWs()
      if (peek == '(') {
        i += 1; one(); skipWs()
        while (peek == '|') { i += 1; one(); skipWs() }
        expect(')')
      } else one()
      PathOps.NegatedSet(fwd.toSeq, inv.toSeq)
    }

    /** A variable as an expression: its column, with the kind its binder
      * recorded; a var nothing binds is an input column (terms under
      * [[parseSelectTerms]]) or, in pattern mode, unbound.
      */
    private def varE(v: String): E = scope.vars.get(v) match {
      case Some(k) => E(col(v), k.term, k.num, k.int)
      case None => E(col(v), term = termInputVars && !scope.sawPattern)
    }

    /** Template token → final term Column. */
    private def termOf(t: Tok): Column = t match {
      case IriT(iri) => lit("<" + iri + ">")
      case StrT(v) => lit("\"" + TrigEscape(v) + "\"")
      case TypedStrT(v, dt) => lit("\"" + TrigEscape(v) + "\"^^<" + dt + ">")
      case LangStrT(v, lang) => lit("\"" + TrigEscape(v) + "\"@" + lang)
      case NumT(lex) =>
        lit("\"" + lex + "\"^^<http://www.w3.org/2001/XMLSchema#integer>")
      case VarT(v) =>
        if (scope.sawPattern && !scope.vars.contains(v)) {
          // SPARQL §16.2: a template triple with an unbound variable
          // is suppressed — a var no pattern/BIND ever binds means the
          // triple NEVER emits. The reference's own sportal queries
          // ship this shape (qe2.rq templates ?c; its subselect only
          // projects ?x ?p), so run it spec-true but say so loudly.
          System.err.println(s"[sparql] template variable ?$v is bound " +
            "by nothing in WHERE — its template triples are suppressed " +
            "(SPARQL CONSTRUCT semantics)")
          lit(null).cast("string")
        } else varE(v) match {
          case e if e.int =>
            // a COUNT value: typed literal, as the SPARQL value
            // semantics (and Jena's serializer) demand
            concat(lit("\""), e.c.cast("string"),
              lit("\"^^<http://www.w3.org/2001/XMLSchema#integer>"))
          case e => termCol(e)
        }
      case PathT(_) => fail("property path in template position")
      case ListT(_) => fail(
        "collection objects are not supported in templates")
      case BnodeT(l) =>
        // fresh node per solution: label + hidden per-row id (partition id
        // is encoded in the id, so labels are globally unique). Generated
        // anon labels carry a '#' (column-safe, user-collision-free) —
        // emit it as '.' so the serialized label stays N-Triples-valid
        concat(lit("_:" + l.replace("#", ".") + "r"),
          col(ConstructParser.RowIdCol))
    }

    private def TrigEscape(v: String): String =
      v.flatMap {
        case '\\' => "\\\\"; case '"' => "\\\""
        case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
        case c => c.toString
      }

    // -------------------------------------------------------------- where

    private sealed trait WhereEl
    private case class TpE(g: Option[Tok], s: Tok, p: Tok, o: Tok) extends WhereEl
    private case class GroupE(els: Seq[WhereEl]) extends WhereEl
    private case class UnionE(groups: Seq[Seq[WhereEl]]) extends WhereEl
    /** `termSnap`: parse-time snapshot of each preceding var's term-ness
      * (the var map mutates across statements, so the pattern-free
      * OPTIONAL-BIND compile path cannot read it lazily at run time).
      */
    private case class OptionalE(els: Seq[WhereEl],
        termSnap: Map[String, Boolean] = Map.empty) extends WhereEl
    private case class MinusE(els: Seq[WhereEl]) extends WhereEl
    private case class ExistsE(els: Seq[WhereEl], negated: Boolean) extends WhereEl
    private case class BindE(v: String, e: E) extends WhereEl
    /** `BIND(norse:map.computeIfAbsent(mapId, ?keyVar, fn) AS ?v)` — the
      * lambda `body` is compiled over the key column; the group compiler
      * evaluates it once per DISTINCT key (into the statement's memo
      * `memos(mapId)`) and joins the memo back.
      */
    private case class MapComputeE(v: String, mapId: String,
        keyVar: String, body: E,
        memos: scala.collection.mutable.HashMap[String, DataFrame])
        extends WhereEl
    /** Plain FILTER. The condition lives in a MUTABLE one-slot array so
      * the OUTERMOST group close can re-parse it in place once every var
      * of the whole WHERE clause is registered (SPARQL §17.2: a filter
      * is group-scoped regardless of position — including filters inside
      * nested OPTIONAL/EXISTS/UNION groups referencing enclosing vars
      * bound by LATER patterns). Consumers read `.c` at compile time,
      * strictly after the parse completes.
      */
    private case class FilterE(slot: Array[Column]) extends WhereEl {
      def c: Column = slot(0)
    }
    /** Inline data: `rows` hold canonical term strings per var; `None` =
      * UNDEF (the var stays unbound in that row — SPARQL §10.2).
      */
    private case class ValuesE(vars: Seq[String], rows: Seq[Seq[Option[String]]]) extends WhereEl
    private case class ServiceE(url: String, els: Seq[WhereEl],
        silent: Boolean) extends WhereEl
    /** `SERVICE ?v { … }` — VARIABLE endpoint over file IRIs
      * (docs/examples/fs-query-rdf-files.sparql:4-8): the endpoint var
      * must be bound by an earlier pattern (typically fs:find); the
      * inner group evaluates once per DISTINCT endpoint file.
      */
    private case class ServiceVarE(v: String, els: Seq[WhereEl],
        silent: Boolean) extends WhereEl
    /** `<dir> fs:find ?file` — recursive file listing
      * (docs/examples/fs-list-all-files.sparql): one solution per
      * regular file under the directory, bound as an absolute file IRI.
      */
    private case class FsFindE(base: String, v: String) extends WhereEl
    /** `src csv:parse (?row "excel -h")` — Left = file IRI (streaming
      * scan), Right = inline CSV text.
      */
    private case class CsvParseE(src: Either[String, String], v: String,
        opts: String) extends WhereEl
    /** `src xml:unnest ("//xpath" ?item)` — Left = constant XML text,
      * Right = a bound subject var holding an xsd:xml term.
      */
    private case class XmlUnnestE(src: Either[String, String],
        xpath: String, v: String) extends WhereEl
    /** `<file> url:text ?str` — whole file content as one literal
      * binding (docs/examples/README.md:87-99; LOCAL files only, the
      * network forms stay scoped out). `src`: Left = constant file IRI,
      * Right = a bound subject VARIABLE holding file IRIs (the
      * workloads.sparql `?file url:text ?str` shape — one wholetext
      * read per distinct file).
      */
    private case class UrlTextE(src: Either[String, String], v: String)
        extends WhereEl
    /** `{ SELECT … }` — subquery (SPARQL 1.1 §12): only projected vars
      * are visible, so the compiled frame joins like any pattern. `q`
      * also reports which projected vars may be UNBOUND, so the enclosing
      * group picks compatibility joins for them.
      */
    private case class SubSelectE(q: SelectQ) extends WhereEl
    /** `?json json:unnest ?item` — property function (the reference's
      * magic-predicate extension mechanism, docs/sparql-extensions):
      * explodes a JSON-array value into one solution per element, the
      * element bound as RAW JSON text. Works in both WHERE modes.
      */
    /** subj: Left = constant JSON text, Right = (var, isTerm). pos:
      * Left = index VARIABLE (binds 0-based position; if already bound,
      * positional ZIP join — the test-zip-arrays idiom), Right = index
      * literal (keep only that element).
      */
    private case class PropFnE(subj: Either[String, (String, Boolean)],
        objVar: String, pos: Option[Either[String, Int]] = None) extends WhereEl

    /** The vars in a BINDING position of these elements — pattern vars,
      * BINDs, VALUES headers, and the binding-visible sub-groups
      * (GROUP/UNION/OPTIONAL/SERVICE); EXISTS/MINUS do not bind outward.
      */
    private def boundVars(els: Seq[WhereEl]): Set[String] =
      els.flatMap {
        case TpE(g, a, b, c) => (Seq(a, b, c) ++ g).collect { case VarT(x) => x }
        case GroupE(in) => boundVars(in)
        case UnionE(gs) => gs.flatMap(boundVars)
        case OptionalE(in, _) => boundVars(in)
        case ServiceE(_, in, _) => boundVars(in)
        case ServiceVarE(x, in, _) => boundVars(in) + x
        case BindE(x, _) => Seq(x)
        case MapComputeE(x, _, _, _, _) => Seq(x)
        case ValuesE(vars, _) => vars
        case SubSelectE(q) => q.proj.map(_.v)
        case FsFindE(_, x) => Seq(x)
        case CsvParseE(_, x, _) => Seq(x)
        case XmlUnnestE(src, _, x) => src.toSeq :+ x
        case UrlTextE(src, x) => src.toSeq :+ x
        case PropFnE(subj, objVar, pos) =>
          objVar +: (subj.toSeq.map(_._1) ++ pos.flatMap(_.swap.toOption))
        case _ => Nil
      }.toSet

    /** Does any EXPRESSION or non-outward-binding position inside `els`
      * reference `v`? The LATERAL decorrelation can only correlate on
      * PATTERN-bound positions ([[boundVars]]); a correlated reference
      * in a FILTER/BIND expression or inside EXISTS/MINUS has no
      * decorrelated form here and must reject loudly rather than run
      * with join-not-lateral semantics (review-found).
      */
    private def refsVarDeep(els: Seq[WhereEl], v: String): Boolean =
      els.exists {
        case f: FilterE => refNames(f.c).contains(v)
        case BindE(_, e) => refNames(e.c).contains(v)
        case MapComputeE(_, _, keyVar, body, _) =>
          keyVar == v || refNames(body.c).contains(v)
        case ExistsE(in, _) => boundVars(in)(v) || refsVarDeep(in, v)
        case MinusE(in) => boundVars(in)(v) || refsVarDeep(in, v)
        case GroupE(in) => refsVarDeep(in, v)
        case UnionE(gs) => gs.exists(refsVarDeep(_, v))
        case OptionalE(in, _) => refsVarDeep(in, v)
        case ServiceE(_, in, _) => refsVarDeep(in, v)
        case ServiceVarE(_, in, _) => refsVarDeep(in, v)
        case _ => false
      }

    /** `{ element… }` — group graph pattern. `graphCtx` is the enclosing
      * `GRAPH term` token, threaded into each contained triple pattern.
      */
    /** Is the keyword at the cursor `SELECT` (a brace-less SubSelect)? */
    private def selectAhead: Boolean =
      s.regionMatches(true, i, "SELECT", 0, 6) &&
        (i + 6 >= n || !Character.isLetterOrDigit(s.charAt(i + 6)))

    /** Parse a SubSelect at the cursor (after any enclosing '{' has been
      * consumed) under a fresh scope that inherits only the dataset
      * clause: its own WHERE close re-parses ITS pending filters, and
      * only its projected vars surface in the enclosing group.
      */
    private def subSelectEl(graphCtx: Option[Tok] = None,
        lateralExpose: Set[String] = Set.empty): WhereEl = {
      val outer = scope
      scope = new Scope(outer.ds)
      val q = try selectQueryCtx(expectEnd = false, subGraphCtx = graphCtx,
        lateralExpose = lateralExpose) finally scope = outer
      require(!q.proj.exists(_.v == "*"),
        "SELECT * subqueries are not supported: project explicit variables")
      scope.sawPattern = true
      q.proj.foreach(p => scope.vars(p.v) = Kind(p.term, int = p.int))
      SubSelectE(q)
    }

    private def groupBlock(graphCtx: Option[Tok]): Seq[WhereEl] = {
      expect('{')
      scope.groupDepth += 1
      val out = scala.collection.mutable.ArrayBuffer[WhereEl]()
      skipWs()
      while (peek != '}') {
        if (kw("BIND")) {
          skipWs(); expect('(')
          val e = noAggregate("BIND")(expr())
          skipWs()
          if (!kw("AS")) fail("expected AS in BIND")
          skipWs()
          val v = varName()
          skipWs(); expect(')')
          pendingMapCompute match {
            case Some((mapId, keyVar, body, placeholder)) =>
              pendingMapCompute = None
              if (!(e eq placeholder)) fail(
                "map.computeIfAbsent must be the ENTIRE BIND expression " +
                  "(wrap or post-process its result in a second BIND)")
              out += MapComputeE(v, mapId, keyVar, body, stmt.mapMemos)
            case None => out += BindE(v, e)
          }
          scope.vars(v) = e.kind
          // a BIND of a constant lambda literal is statically traceable
          // in BOTH modes — fn.call resolves the var through this map
          org.apache.spark.sql.graft.bridge.staticStringLiteral(e.c)
            .foreach { t =>
              if (t.endsWith("\"^^<" + ConstructParser.NorseNs + "lambda>") ||
                  t.endsWith("\"^^<" + ConstructParser.NorseNs + "sparql.fn>"))
                scope.lambdaBinds(v) = t
            }
        } else if (kw("FILTER")) {
          skipWs()
          if (kw("NOT")) {
            skipWs()
            if (!kw("EXISTS")) fail("expected EXISTS after FILTER NOT")
            skipWs()
            out += ExistsE(groupBlock(graphCtx), negated = true)
          } else if (kw("EXISTS")) {
            skipWs()
            out += ExistsE(groupBlock(graphCtx), negated = false)
          } else {
            expect('(')
            val slot = new Array[Column](1)
            scope.pendingFilters += ((slot, i))
            slot(0) = noAggregate("FILTER")(expr()).c
            if (pendingMapCompute.isDefined) fail(
              "map.computeIfAbsent is only supported as a BIND expression")
            skipWs(); expect(')')
            out += FilterE(slot)
          }
        } else if (kw("VALUES")) {
          // inline data (SPARQL 1.1 §10.2): `VALUES ?v { t… }` or
          // `VALUES (?v…) { (t…)… }`. UNDEF = unbound cell (NULL) — the
          // compiler joins null-safely (compatibility: agreement on
          // mutually BOUND vars only).
          skipWs()
          val vars = scala.collection.mutable.ArrayBuffer[String]()
          val rows = scala.collection.mutable.ArrayBuffer[Seq[Option[String]]]()
          def cell(): Option[String] = {
            skipWs()
            if (kw("UNDEF")) None
            else Some(specOf(tok()).swap
              .getOrElse(fail("VALUES data must be constant terms")))
          }
          if (peek == '(') {
            i += 1; skipWs()
            while (peek == '?') { vars += varName(); skipWs() }
            expect(')'); skipWs(); expect('{'); skipWs()
            while (peek == '(') {
              i += 1
              rows += Seq.fill(vars.size)(cell())
              skipWs(); expect(')'); skipWs()
            }
            expect('}')
          } else {
            vars += varName()
            skipWs(); expect('{'); skipWs()
            while (peek != '}') { rows += Seq(cell()); skipWs() }
            expect('}')
          }
          scope.sawPattern = true
          vars.foreach(v => scope.vars(v) = Kind(term = true))
          out += ValuesE(vars.toSeq, rows.toSeq)
        } else if (kw("OPTIONAL")) {
          skipWs()
          // snapshot BEFORE the group parses: a BIND inside the optional
          // re-registers its target var (term-ness of the EXPR), which
          // must not mask the LEFT binding's term-ness
          out += {
            val termSnap = scope.vars.view.mapValues(_.term).toMap
            OptionalE(groupBlock(graphCtx), termSnap)
          }
        } else if (kw("LATERAL")) {
          // Jena's LATERAL (docs/query/lateral.md): the group evaluates
          // per LEFT solution. Two supported shapes:
          //  - LATERAL { SELECT … }: the correlated outer vars
          //    (everything bound so far) decorrelate into the subselect's
          //    projection + join (shacl-targetClass.rq);
          //  - LATERAL { patterns/UNION/paths … } with no subquery inside
          //    (the leaflet-graphql demo's query-countries.rq): for
          //    pattern-only contents, per-left evaluation IS the
          //    correlated join on shared vars — compiled as a plain
          //    group. A nested subquery inside such a group would need
          //    its own decorrelation — loud reject, never silent
          //    join-not-lateral semantics.
          skipWs()
          val save = i
          expect('{')
          skipWs()
          if (selectAhead) {
            out += subSelectEl(graphCtx,
              lateralExpose = scope.vars.keySet.toSet)
            skipWs(); expect('}')
          } else {
            i = save
            val inner = groupBlock(graphCtx)
            def hasSubSelect(els: Seq[WhereEl]): Boolean = els.exists {
              case _: SubSelectE => true
              case GroupE(in) => hasSubSelect(in)
              case UnionE(gs) => gs.exists(hasSubSelect)
              case OptionalE(in, _) => hasSubSelect(in)
              case _ => false
            }
            if (hasSubSelect(inner)) fail(
              "LATERAL over a group CONTAINING a subquery is not " +
                "supported: lift the subquery to LATERAL { SELECT … } " +
                "so its correlation can decorrelate")
            out += GroupE(inner)
          }
        } else if (kw("MINUS")) {
          skipWs()
          out += MinusE(groupBlock(graphCtx))
        } else if (kw("GRAPH")) {
          skipWs()
          val g = tok()
          skipWs()
          if (stmt.perRecordGraph) {
            // per-record dataset (`ngs map/filter --sparql`,
            // NgsCmdImpls.java:88-104/191-216): each record's dataset
            // holds exactly ONE named graph, so an explicit GRAPH ?v
            // binds ?v to the record's graph (never a cross-record
            // join) and GRAPH <iri> matches only when the record IS
            // that graph — inner patterns stay scoped to the record.
            // When ?v is ALSO bound by the inner patterns themselves
            // (e.g. GRAPH ?v { ?v ?p ?o }) the record constraint is a
            // FILTER on the pattern-bound column — a BIND would
            // silently overwrite it; when ?v is bound only by GRAPH,
            // BIND it to the record graph and let the enclosing
            // compat join key on it if the var appears elsewhere
            // (VALUES, other patterns, a second GRAPH ?v group).
            g match { case VarT(v) => scope.vars(v) = Kind(term = true); case _ => () }
            val inner = groupBlock(Some(VarT("#g")))
            g match {
              case VarT(v) if boundVars(inner)(v) =>
                // ?v may be unbound in SOME solutions (a UNION branch /
                // OPTIONAL that never mentions it): SPARQL's GRAPH ?v
                // still binds those to the record graph, so coalesce
                // FIRST (BIND applies at its position), then the
                // group-end FILTER keeps only v == record graph
                out += GroupE(inner :+
                  BindE(v, E(coalesce(col(v), col("#g")), term = true)) :+
                  FilterE(Array(col(v) === col("#g"))))
              case VarT(v) =>
                out += GroupE(inner :+ BindE(v, E(col("#g"), term = true)))
              case IriT(iri) =>
                out += GroupE(inner :+
                  FilterE(Array(col("#g") === lit("<" + iri + ">"))))
              case other =>
                fail(s"GRAPH operand must be a variable or IRI, got $other")
            }
          } else {
            g match { case VarT(v) => scope.vars(v) = Kind(term = true); case _ => () }
            out += GroupE(groupBlock(Some(g)))
          }
        } else if (kw("SERVICE")) {
          // SERVICE against a LOCAL FILE dataset (reference
          // docs/examples/README.md:630-650; SURVEY §2.1 adjudicates the
          // local-file form as spark.read + §8.3 join). Network endpoints
          // (http:, vfs:, x-binsearch:) stay scoped out — loud reject at
          // compile. The inner group runs against the file's OWN dataset,
          // not the outer quad table, so no outer graph context applies.
          skipWs()
          val silent = kw("SILENT")
          if (silent) skipWs()
          val ep = tok() match {
            case IriT(iri) => Left(iri)
            case VarT(v) => Right(v) // per-distinct-value file dispatch
            case other => fail(s"SERVICE needs an IRI endpoint or a " +
              s"variable bound to file IRIs, got $other")
          }
          skipWs()
          out += (ep match {
            case Left(iri) => ServiceE(iri, groupBlock(None), silent)
            case Right(v) => ServiceVarE(v, groupBlock(None), silent)
          })
        } else if (peek == '{' && subselectAhead) {
          i += 1
          out += subSelectEl(graphCtx)
          skipWs(); expect('}')
        } else if (selectAhead) {
          // SubSelect filling the group DIRECTLY (SPARQL §18 grammar:
          // GroupGraphPattern ::= '{' (SubSelect | GGPSub) '}') — the
          // shape every sportal query uses: `CONSTRUCT {…} { SELECT … }`.
          // The group's own '}' terminates the loop.
          out += subSelectEl(graphCtx)
        } else if (peek == '{') {
          val first = groupBlock(graphCtx)
          skipWs()
          var gs = List(first)
          while (kw("UNION")) {
            skipWs()
            gs = gs :+ groupBlock(graphCtx)
            skipWs()
          }
          out += (if (gs.size == 1) GroupE(first) else UnionE(gs))
        } else {
          tripleLines(allowPaths = true).foreach {
            case (src, IriT(iri), ListT(args))
                if iri == ConstructParser.CsvNs + "parse" =>
              // csv:parse property function (docs/examples/
              // README.md:390-413): each CSV row becomes one solution
              // with ?row bound to an xsd:json object literal
              val (v, opts) = args match {
                case Seq(VarT(rv)) => (rv, "excel -h")
                case Seq(VarT(rv), StrT(o)) => (rv, o)
                case _ => fail(
                  "csv:parse takes (?rowVar \"optionsString\")")
              }
              val s0 = src match {
                case IriT(f) => Left(f)
                case StrT(t) => Right(t)
                case TypedStrT(t, _) => Right(t)
                case other => fail("csv:parse subject must be a CSV " +
                  s"string literal or a file IRI, got $other")
              }
              out += CsvParseE(s0, v, opts)
              registerPfVar(v, isTerm = true)
            case (src, IriT(iri), ListT(args))
                if iri == ConstructParser.XmlNs + "unnest" =>
              // xml:unnest property function (docs/examples/
              // README.md:456-500): one solution per XPath match; the
              // match's string-value binds as a plain literal (node
              // re-serialization is not expressible with the codegen
              // xpath primitive — documented reduction)
              val (xp, v) = args match {
                case Seq(StrT(x), VarT(xv)) => (x, xv)
                case _ => fail("xml:unnest takes (\"xpath\" ?var)")
              }
              val s0 = src match {
                case TypedStrT(x, _) => Left(x)
                case StrT(x) => Left(x)
                case VarT(sv) => Right(sv)
                case other => fail("xml:unnest subject must be an XML " +
                  s"literal or a bound variable, got $other")
              }
              out += XmlUnnestE(s0, xp, v)
              registerPfVar(v, isTerm = true)
            case (srcTok, IriT(iri), objTok)
                if iri == ConstructParser.FsNs + "find" =>
              // fs:find property function (docs/examples/
              // README.md:585-600): recursive listing of regular files
              // under the subject directory, bound as absolute file IRIs
              val v = objTok match {
                case VarT(x) => x
                case other => fail(s"fs:find needs a variable object, got $other")
              }
              val base = srcTok match {
                case IriT(b) => b
                case other => fail("fs:find subject must be a constant " +
                  s"directory IRI (relative to the script base), got $other")
              }
              out += FsFindE(base, v)
              registerPfVar(v, isTerm = true)
            case (srcTok, IriT(iri), objTok)
                if iri == ConstructParser.UrlNs + "text" =>
              val v = objTok match {
                case VarT(x) => x
                case other => fail(s"url:text needs a variable object, got $other")
              }
              val f: Either[String, String] = srcTok match {
                case IriT(fi) => Left(fi)
                case VarT(sv) => Right(sv) // one read per distinct file
                case other => fail(s"url:text needs a file IRI subject, got $other")
              }
              out += UrlTextE(f, v)
              registerPfVar(v, isTerm = true)
            case (subjTok, IriT(ConstructParser.JsonUnnestIri), objTok) =>
              // property function — does not flip BGP mode by itself
              val (ov, pos) = objTok match {
                case VarT(v) => (v, None)
                case ListT(Seq(VarT(v))) => (v, None)
                case ListT(Seq(VarT(v), VarT(iv))) => (v, Some(Left(iv)))
                case ListT(Seq(VarT(v), NumT(k))) => (v, Some(Right(k.toInt)))
                case other => fail("json:unnest takes ?item, " +
                  s"(?item ?index) or (?item <number>), got $other")
              }
              val subj = subjTok match {
                case VarT(sv) =>
                  Right((sv,
                    scope.vars.get(sv).fold(scope.sawPattern)(_.term)))
                case StrT(t) => Left(t)
                case TypedStrT(t, _) => Left(t)
                case other => fail(
                  s"json:unnest needs a variable or JSON-literal subject, got $other")
              }
              out += PropFnE(subj, ov, pos)
              registerPfVar(ov, isTerm = false)
              pos.foreach {
                case Left(iv) =>
                  registerPfVar(iv, isTerm = false, rebind = false)
                case _ => ()
              }
            case (_, _, ListT(_)) => fail(
              "collection objects are only supported as " +
                "property-function arguments (csv:parse, xml:unnest, " +
                "json:unnest)")
            case (a, b, c) =>
              // a real triple pattern flips the statement into BGP mode
              scope.sawPattern = true
              out += TpE(graphCtx, a, b, c)
              Seq(a, b, c).foreach {
                case VarT(v) => scope.vars(v) = Kind(term = true)
                case _ => ()
              }
          }
        }
        skipWs()
        if (peek == '.') { i += 1; skipWs() }
      }
      expect('}')
      scope.groupDepth -= 1
      // SPARQL §17.2: a FILTER applies to its group wherever it is
      // written — workloads.sparql puts `FILTER(STRENDS(STR(?file), …))`
      // BEFORE the fs:find that binds ?file, and a filter inside an
      // OPTIONAL may reference an enclosing var bound by a LATER
      // pattern. Expressions compile var term-ness from parser state as
      // of the parse position, so when the OUTERMOST group closes (every
      // var of the whole WHERE clause registered), re-parse each plain
      // filter into its mutable slot. Subselects scope their own pass
      // (each parses under its own scope).
      if (scope.groupDepth == 0 && scope.pendingFilters.nonEmpty) {
        val endPos = i
        scope.pendingFilters.foreach { case (slot, start) =>
          i = start
          slot(0) = expr().c
        }
        scope.pendingFilters.clear()
        i = endPos
      }
      out.toSeq
    }

    /** Does a query with this WHERE tree take the quad table as input?
      * Its triple patterns and VALUES blocks do — at any depth, SERVICE
      * groups included, as they put the query into pattern mode — and a
      * subquery does if its own WHERE does. Otherwise the query evaluates
      * over the unit solution ([[ParsedConstruct.usesQuads]]).
      */
    private def readsQuads(els: Seq[WhereEl]): Boolean = els.exists {
      case _: TpE | _: ValuesE => true
      case SubSelectE(q) => q.usesQuads
      case GroupE(in) => readsQuads(in)
      case UnionE(gs) => gs.exists(readsQuads)
      case OptionalE(in, _) => readsQuads(in)
      case MinusE(in) => readsQuads(in)
      case ExistsE(in, _) => readsQuads(in)
      case ServiceE(_, in, _) => readsQuads(in)
      case ServiceVarE(_, in, _) => readsQuads(in)
      case _ => false
    }

    /** Does the element tree contain a property-function pattern? */
    private def containsPropFn(els: Seq[WhereEl]): Boolean = els.exists {
      case _: PropFnE => true
      case _: CsvParseE => true
      case _: XmlUnnestE => true
      case _: UrlTextE => true
      case _: FsFindE => true
      case GroupE(in) => containsPropFn(in)
      case UnionE(gs) => gs.exists(containsPropFn)
      case OptionalE(in, _) => containsPropFn(in)
      case MinusE(in) => containsPropFn(in)
      case ExistsE(in, _) => containsPropFn(in)
      case _ => false
    }

    private val NoDataset = DatasetClause(Nil, Nil)

    /** `FROM <g>` / `FROM NAMED <g>` list between projection and WHERE. */
    private def datasetClause(): DatasetClause = {
      val from = scala.collection.mutable.ArrayBuffer[String]()
      val named = scala.collection.mutable.ArrayBuffer[String]()
      skipWs()
      while (kw("FROM")) {
        skipWs()
        if (kw("NAMED")) { skipWs(); named += "<" + iriRef() + ">" }
        else from += "<" + iriRef() + ">"
        skipWs()
      }
      DatasetClause(from.toSeq, named.toSeq)
    }

    /** Compile a group against the quad/triple table: patterns join on
      * shared vars in textual order, OPTIONAL = left outer,
      * MINUS / FILTER NOT EXISTS = anti, FILTER EXISTS = semi, UNION =
      * union-by-name with NULLs for disjoint vars, BIND = withColumn,
      * FILTER = post-group predicate (SPARQL §8: filters apply to the
      * whole group regardless of position).
      *
      * Also returns the set of vars that may be UNBOUND (NULL) in the
      * result — OPTIONAL-only vars, vars missing from a UNION branch,
      * UNDEF VALUES cells. This is the only place that decides it: joins,
      * OPTIONAL and MINUS pick between the scale-fast equi-joins and full
      * §8.3 compatibility semantics from it. A subquery reports its
      * projected maybe-unbound vars when it compiles (a projected var its
      * WHERE never binds counts), a BIND referencing a maybe-unbound var
      * propagates the flag, and a BIND whose expression can error to NULL
      * on ALL-BOUND inputs is tracked too ([[bindMaybeNull]]). The equi
      * path is kept for BINDs of total expressions (concat of bound vars,
      * arithmetic guarded with full otherwise, plain renames).
      */
    private def compileGroupN(els: Seq[WhereEl], quads: DataFrame,
        ds: DatasetClause = NoDataset,
        seedWithInput: Boolean = false): (DataFrame, Set[String]) = {
      // a group with no triple pattern extends the INPUT frame directly —
      // the sbs pipeline shape
      var acc: DataFrame = if (seedWithInput) quads else null
      // vars that may be NULL (unbound) in acc — every join below routes
      // through the §8.3 compatibility variants iff a SHARED var is in
      // this set, keeping the hash-joinable equi path for the all-bound
      // common case
      val maybeNull = scala.collection.mutable.HashSet[String]()
      // Align shared-var types before a join: a var bound RAW-numeric
      // (BIND arithmetic, an unnest index) joining a pattern side that
      // carries TERM STRINGS compares by numeric VALUE — the term side
      // coerces via numTermVal (non-numeric term → NULL → no match,
      // bitmask.sparql's `?o eg:hasBit ?val` lookup). Fires only on a
      // numeric↔string mismatch, where the raw join would crash in ANSI
      // mode — typed-vs-typed joins keep exact term identity.
      // Only the INCOMING side coerces: the accumulator's columns feed
      // later templates/filters, so mutating them would corrupt term
      // vars — a numeric acc var meeting a term-string frame is the one
      // direction with a sound value-join reduction.
      def alignShared(a: DataFrame, b: DataFrame): (DataFrame, DataFrame) = {
        import org.apache.spark.sql.types.{NumericType, StringType}
        val at = a.schema.fields.map(f => f.name -> f.dataType).toMap
        var b2 = b
        b.schema.fields.foreach { f =>
          at.get(f.name) match {
            case Some(t) if t.isInstanceOf[NumericType] &&
                f.dataType == StringType =>
              b2 = b2.withColumn(f.name, numTermVal(col(f.name)))
            case _ => ()
          }
        }
        (a, b2)
      }
      def joinIn(df: DataFrame, dfNulls: Set[String] = Set.empty): Unit = {
        if (acc == null) acc = df
        else {
          val (a2, df2) = alignShared(acc, df)
          val sharedV = acc.columns.intersect(df.columns)
          acc =
            if (sharedV.exists(v => maybeNull.contains(v) || dfNulls.contains(v)))
              Bgp.compatJoin(a2, df2)
            else Bgp.join(a2, df2)
        }
        maybeNull ++= dfNulls
      }
      val conds = scala.collection.mutable.ArrayBuffer[Column]()
      // File-dispatch gate: group filters whose vars are all bound in acc,
      // applied BEFORE collecting SERVICE ?v / url:text ?v endpoints.
      // Deterministic filters over already-bound vars commute with the
      // joins that follow, and fs-list-rdf-files.sparql depends on it:
      // `FILTER(fs:probeRdf(?file))` must gate WHICH files are opened as
      // RDF, not just which rows survive at group end. Gating draws on
      // ALL of the group's filters (§17.2 — placement is irrelevant), not
      // just those textually before the dispatching element.
      // non-prefilterable filters (RAND-family: xxhash64 over struct(*),
      // value depends on the column set) must evaluate exactly once, at
      // group end — never at the dispatch gate
      val allGroupConds = els.collect { case f: FilterE => f.c }
        .filter(org.apache.spark.sql.graft.bridge.safeToPrefilter)
      def filterGated(df: DataFrame): DataFrame =
        allGroupConds.filter(c => refNames(c).forall(df.columns.contains))
          .foldLeft(df)(_ filter _)
      els.foreach {
        case TpE(g, a, PathT(path), c) =>
          // a property-path pattern: solutions are (s, o) pairs. A
          // constant-graph context pre-filters the quad table (the walk
          // stays inside that graph); a VARIABLE graph context uses the
          // graph-scoped evaluator, which keys every closure join on the
          // graph so each named graph is walked independently.
          g match {
            case None =>
              joinIn(PathOps.pathPattern(ds.default(quads), specOf(a), path,
                specOf(c)))
            case Some(IriT(iri)) if quads.columns.contains("graph") =>
              joinIn(PathOps.pathPattern(
                ds.named(quads).where(col("graph") === ("<" + iri + ">")),
                specOf(a), path, specOf(c)))
            case Some(IriT(_)) =>
              joinIn(PathOps.pathPattern(quads, specOf(a), path, specOf(c)))
            case Some(VarT(v)) =>
              require(quads.columns.contains("graph"),
                "GRAPH-scoped path needs a quad table with a graph column")
              joinIn(PathOps.pathPatternG(ds.named(quads), Right(v),
                specOf(a), path, specOf(c)))
            case Some(other) => fail(
              s"property path inside GRAPH $other: constant or variable graphs only")
          }
        case TpE(g, a, b, c) =>
          joinIn(g match {
            case Some(gt) =>
              Bgp.quadPattern(ds.named(quads), specOf(gt), specOf(a), specOf(b),
                specOf(c))
            case None => Bgp.pattern(ds.default(quads), specOf(a), specOf(b),
              specOf(c))
          })
        case GroupE(inner) =>
          if (seedWithInput) { // pipeline: a group transforms the stream
            val (df, mn) = compileGroupN(inner, if (acc == null) quads else acc,
              ds, seedWithInput = true)
            acc = df; maybeNull ++= mn
          } else {
            val (df, mn) = compileGroupN(inner, quads, ds)
            joinIn(df, mn)
          }
        case UnionE(gs) =>
          val compiled =
            if (seedWithInput) { // pipeline: branches fork the CURRENT stream
              val base = if (acc == null) quads else acc
              gs.map(compileGroupN(_, base, ds, seedWithInput = true))
            } else gs.map(compileGroupN(_, quads, ds))
          // a var missing from any branch is NULL in that branch's rows
          val allCols = compiled.flatMap(_._1.columns).distinct
          val unionNulls = compiled.flatMap { case (df, mn) =>
            mn ++ allCols.diff(df.columns)
          }.toSet
          val u = compiled.map(_._1).reduce(Bgp.union)
          if (seedWithInput) { acc = u; maybeNull ++= unionNulls }
          else joinIn(u, unionNulls)
        case OptionalE(inner, termSnap)
            if inner.nonEmpty && inner.forall(el =>
              el.isInstanceOf[BindE] || el.isInstanceOf[FilterE]) &&
              inner.exists(_.isInstanceOf[BindE]) =>
          // pattern-free OPTIONAL (only BINDs + FILTERs — the canned
          // test-transpose.rq shape `OPTIONAL { BIND(?x AS ?v) }`):
          // evaluated per LEFT solution like the reference's ARQ
          // OpConditional (which substitutes the left bindings into the
          // right side), so each BIND extends the CURRENT frame with
          // error→NULL, and a failing group FILTER leaves the row alive
          // with the binds unbound (§6.1 left join). Compiling the group
          // independently instead would crash on the outer var — and
          // under strict bottom-up semantics would always bind NULL,
          // which is not what the reference produces.
          require(acc != null, "OPTIONAL with no preceding pattern")
          val binds = inner.collect { case b: BindE => b }
          val filters = inner.collect { case f: FilterE => f.c }
          var cur = acc
          val bound = scala.collection.mutable.Set(cur.columns: _*)
          val preBound = acc.columns.toSet
          // §6.1 compatibility for a var ALREADY bound on the left: the
          // left binding is never overwritten — the optional value fills
          // only where the left is unbound, and a bound-left row whose
          // value differs from the optional's makes the WHOLE optional
          // solution incompatible (its other binds drop for that row).
          // Expression values land in temp columns first so the compat
          // test sees the EXPR value, not the merged one.
          binds.foreach { b =>
            val missing = refNames(b.e.c).diff(bound.toSet)
            val cc0 = if (missing.isEmpty) b.e.c
              else org.apache.spark.sql.graft.bridge.nullifyRefs(b.e.c, missing)
            // merging into a TERM-typed left var: the expression VALUE
            // converts to its plain-literal term form (termOf's rule for
            // value vars) so compat compares like with like; numeric
            // values merge as plain literals here — acceptable for the
            // constant-BIND shapes this path exists for
            val cc =
              if (preBound.contains(b.v) && !b.e.term &&
                  termSnap.getOrElse(b.v, false))
                RdfTerms.strLit(cc0.cast("string"))
              else cc0
            if (preBound.contains(b.v)) {
              cur = cur.withColumn("#ob_" + b.v, cc)
                .withColumn("#obOrig_" + b.v, col(b.v))
                .withColumn(b.v, coalesce(col(b.v), col("#ob_" + b.v)))
            } else {
              cur = cur.withColumn(b.v, cc)
              maybeNull += b.v
            }
            bound += b.v
          }
          val compat = binds.filter(b => preBound.contains(b.v)).map { b =>
            col("#obOrig_" + b.v).isNull ||
              col("#obOrig_" + b.v) === col("#ob_" + b.v)
          }.reduceOption(_ && _)
          val filterOk = filters.reduceOption(_ && _).map { c0 =>
            val missing = refNames(c0).diff(bound.toSet)
            val c = if (missing.isEmpty) c0
              else org.apache.spark.sql.graft.bridge.nullifyRefs(c0, missing)
            coalesce(c.cast("boolean"), lit(false))
          }
          (compat ++ filterOk).reduceOption(_ && _).foreach { keepExpr =>
            // keep materializes ONCE against the pre-mask frame — masking
            // a bind and then re-evaluating the condition against the
            // masked column would be inconsistent for non-monotone
            // filters (review-found)
            cur = cur.withColumn("#optKeep", keepExpr)
            binds.foreach { b =>
              cur =
                if (preBound.contains(b.v)) cur.withColumn(b.v,
                  coalesce(col("#obOrig_" + b.v),
                    when(col("#optKeep"), col("#ob_" + b.v))))
                else cur.withColumn(b.v, when(col("#optKeep"), col(b.v)))
            }
            cur = cur.drop("#optKeep")
          }
          binds.filter(b => preBound.contains(b.v)).foreach { b =>
            cur = cur.drop("#ob_" + b.v, "#obOrig_" + b.v)
          }
          acc = cur
        case OptionalE(inner, _) =>
          require(acc != null, "OPTIONAL with no preceding pattern")
          require(!containsPropFn(inner),
            "property functions inside OPTIONAL are not supported")
          // top-level FILTERs whose references are all bound INSIDE the
          // group restrict the group; one referencing an OUTER var is
          // part of the left-join condition (SPARQL §6.1 LeftJoin F)
          val (filterEls, restEls) = inner.partition(_.isInstanceOf[FilterE])
          val (subBase, mn) = compileGroupN(restEls, quads, ds)
          val subCols = subBase.columns.toSet
          // a filter ALSO routes to the join condition when it touches a
          // var that can be NULL inside the group but is bound outside:
          // §6.1 evaluates F on the MERGED solution, where that var takes
          // the outer binding
          val outerBacked = mn.intersect(acc.columns.toSet)
          val (innerF, joinF0) = filterEls.map(_.asInstanceOf[FilterE].c)
            .partition { c =>
              val refs = refNames(c)
              refs.subsetOf(subCols) && refs.intersect(outerBacked).isEmpty
            }
          // §6.1 evaluates F over the MERGED solution — a ref bound
          // NEITHER inside the group nor in the outer accumulator so far
          // (e.g. bound only by a LATER sibling pattern) is UNBOUND at
          // LeftJoin time: type error ⇒ false. Substitute NULL so the
          // condition compiles and evaluates false instead of crashing
          // with an unresolved column.
          val inScope = subCols ++ acc.columns
          val joinF = joinF0.map { c =>
            val missing = refNames(c).diff(inScope)
            if (missing.isEmpty) c
            else org.apache.spark.sql.graft.bridge.nullifyRefs(c, missing)
          }
          val sub = innerF.foldLeft(subBase)(_ filter _)
          val sharedV = acc.columns.intersect(sub.columns)
          val useCompat = sharedV.exists(v =>
            maybeNull.contains(v) || mn.contains(v))
          maybeNull ++= mn
          maybeNull ++= sub.columns.diff(acc.columns) // OPTIONAL-only vars
          val (accA, subA) = alignShared(acc, sub)
          acc =
            if (joinF.nonEmpty) Bgp.optionalCond(accA, subA, joinF.toSeq, useCompat)
            else if (useCompat) Bgp.compatOptional(accA, subA)
            else Bgp.optional(accA, subA)
        case MinusE(inner) =>
          require(acc != null, "MINUS with no preceding pattern")
          require(!containsPropFn(inner),
            "property functions inside MINUS are not supported")
          val (sub, subMn) = compileGroupN(inner, quads, ds)
          val sharedV = acc.columns.intersect(sub.columns).toSet
          // full §8.3 compatibility (nested-loop) only when a shared var
          // can actually be unbound; else the shuffled anti equi-join
          acc =
            if (sharedV.exists(v => maybeNull.contains(v) || subMn.contains(v)))
              Bgp.minusCompat(acc, sub)
            else Bgp.minus(acc, sub)
        case ExistsE(inner, neg) =>
          require(acc != null, "FILTER EXISTS with no preceding pattern")
          require(!containsPropFn(inner),
            "property functions inside FILTER EXISTS are not supported")
          val (sub, subMn) = compileGroupN(inner, quads, ds)
          val sharedV = acc.columns.intersect(sub.columns)
          acc =
            if (sharedV.exists(v => maybeNull.contains(v) || subMn.contains(v)))
              Bgp.compatSemi(acc, sub, anti = neg)
            else if (neg) Bgp.notExists(acc, sub)
            else Bgp.exists(acc, sub)
        case BindE(v, e) =>
          // a group (or UNION branch) that starts with BIND extends the
          // UNIT solution (SPARQL 18.2: Join(Z, Extend(...)) with Z = the
          // one empty mapping) — the io.sparql docs example's first
          // branch is exactly this shape
          if (acc == null) acc = ConstructParser.unitFrame(quads.sparkSession)
          if (bindMaybeNull(e.c, maybeNull)) maybeNull += v
          acc = acc.withColumn(v, e.c)
        case MapComputeE(v, mapId, keyVar, body, mapMemos) =>
          // execution-local map: lambda evaluated once per DISTINCT key
          // (computeIfAbsent — keys already in this mapId's memo keep
          // their value, incl. from earlier calls with other lambdas),
          // memo hash-joined back. One distinct + one equi-join; the
          // memo is key-partitioned data, never driver state.
          require(acc != null && acc.columns.contains(keyVar),
            s"map.computeIfAbsent: ?$keyVar is not bound by an earlier " +
              "pattern/BIND/VALUES in this group")
          val keys = acc.select(col(keyVar))
            .where(col(keyVar).isNotNull).distinct()
          val fresh = mapMemos.get(mapId) match {
            case Some(memo) => keys.join(memo.select(col(keyVar)),
              Seq(keyVar), "left_anti")
            case None => keys
          }
          val newVals = fresh.withColumn("#map_value", body.c)
          val memo = mapMemos.get(mapId) match {
            case Some(m) => m.unionByName(newVals)
            case None => newVals
          }
          mapMemos(mapId) = memo
          // NULL keys get no entry (left join → ?v unbound), matching
          // the reference's map lookup of an unbound key
          acc = acc.join(memo, Seq(keyVar), "left")
            .withColumnRenamed("#map_value", v)
          if (maybeNull.contains(keyVar) || bindMaybeNull(body.c, maybeNull))
            maybeNull += v
        case f: FilterE => conds += f.c
        case ValuesE(vars, rows) =>
          // inline data joins AT ITS POSITION (§18.2.2.6) — UNDEF cells
          // are NULL and flow forward as maybe-unbound vars, so every
          // later join/OPTIONAL/MINUS picks the compatibility variant
          val spark = quads.sparkSession
          val schema = StructType(vars.map(v => StructField(v, StringType)))
          val inline = spark.createDataFrame(
            spark.sparkContext.parallelize(
              rows.map(r => Row(r.map(_.orNull): _*)), 1), schema)
          val undefVars = vars.zipWithIndex.collect {
            case (v, k) if rows.exists(_(k).isEmpty) => v
          }.toSet
          if (acc == null) { acc = inline; maybeNull ++= undefVars }
          else {
            val sharedV = acc.columns.intersect(inline.columns)
            acc = if (sharedV.exists(v =>
                maybeNull.contains(v) || undefVars.contains(v)))
              Bgp.compatJoin(acc, inline, broadcastRight = true)
            else Bgp.join(acc, inline) // tiny frame: AQE broadcasts it
            maybeNull ++= undefVars
          }
        case SubSelectE(q) =>
          // a pattern-free subquery evaluates over the unit solution, as
          // a pattern-free query does ([[ParsedConstruct.usesQuads]])
          val (df, mn) = q.run(if (q.usesQuads) quads
            else ConstructParser.unitFrame(quads.sparkSession))
          joinIn(df, mn)
        case ServiceE(url, inner, silent) =>
          // local-file SERVICE: read the endpoint's dataset (auto-probed
          // N-Quads/TriG), evaluate the inner group AGAINST THAT FILE,
          // then join the solution sequence into the outer group per
          // §8.3 (shared-var compat routing included via joinIn).
          // SILENT + unreadable endpoint = the unit solution (join
          // identity, SPARQL-fed §18.2.2.2), i.e. acc is left unchanged.
          val spark = quads.sparkSession
          // scheme gate first (SERVICE-specific message for network
          // schemes; a SCHEME-LESS relative IRI like <triples.ttl> —
          // unsorted-tests/service-test.sparql — skips it), then the
          // SAME relative-IRI resolution csv:parse/url:text use
          if (url.matches("^[A-Za-z][A-Za-z0-9+.-]*:.*"))
            ConstructParser.serviceFilePath(url)
          val path = ConstructParser.resolveFileIri(url)
          val sub =
            try {
              val df = graft.sources.RdfIO.readRdfAuto(spark, path)
              // SILENT must observe PARSE failures too, and the scan is
              // lazy (mapPartitions parsers throw at collect, outside
              // this try) — an eager localCheckpoint forces the parse
              // HERE and the materialized blocks feed the join, so the
              // file is still read once
              Some(if (silent)
                graft.Checkpoints.TruncateOps(df).truncateLineage(true)
              else df)
            } catch {
              case e: Exception if silent => None
              case e: Exception => throw new IllegalArgumentException(
                s"SERVICE <$url> failed to read (add SILENT to tolerate): " +
                  e.getMessage, e)
            }
          sub match {
            case Some(sdf) =>
              val (res, mn) = compileGroupN(inner, sdf, NoDataset)
              joinIn(res, mn)
            case None =>
              // SILENT failure = the unit solution; when the SERVICE is
              // the ONLY element of its group the group must still
              // produce { mu0 }, not an empty-group error
              if (acc == null)
                acc = ConstructParser.unitFrame(spark)
          }
        case CsvParseE(src, v, opts) =>
          // csv:parse: file form = a real distributed CSV scan (the
          // reference's streaming form — arbitrarily large files);
          // inline form = driver-side parse of the constant text. Rows
          // surface as xsd:json object literals keyed by the header.
          val spark = quads.sparkSession
          val parts = opts.trim.split("\\s+").toSeq
          require(parts.headOption.exists(Set("excel", "default").contains),
            s"csv:parse: unsupported dialect '${opts.trim}' — supported: " +
              "\"excel -h\" / \"default -h\"")
          require(parts.tail == Seq("-h"),
            "csv:parse: only the -h modifier (first row = headers) is " +
              s"supported, got '$opts'")
          val df = src match {
            case Left(fileIri) =>
              val path = ConstructParser.resolveFileIri(fileIri)
              val raw = spark.read.option("header", "true").csv(path)
              raw.select(RdfTerms.typedLit(
                to_json(struct(raw.columns.map(col): _*)),
                ConstructParser.XsdJson).as(v))
            case Right(text) =>
              val lines = text.split("\r?\n").toSeq.filter(_.nonEmpty)
              require(lines.nonEmpty, "csv:parse: empty inline CSV")
              // minimal excel-dialect split (no quoted-field support for
              // the INLINE form — use the file form for full CSV)
              def cells(l: String) = l.split(",", -1).toSeq
              val hdr = cells(lines.head)
              def jq(x: String) = "\"" + x.replace("\\", "\\\\")
                .replace("\"", "\\\"") + "\""
              val rows = lines.tail.map { l =>
                val json = hdr.zip(cells(l)).map { case (k, x) =>
                  jq(k) + ":" + jq(x) }.mkString("{", ",", "}")
                "\"" + graft.sources.TrigParser.ntEscape(json) + "\"^^<" +
                  ConstructParser.XsdJson + ">"
              }
              import spark.implicits._
              rows.toList.toDF(v)
          }
          joinIn(df)
        case XmlUnnestE(src, xp0, v) =>
          // the codegen xpath primitive yields node string-values only
          // for text()/@attr steps — element selections get /text()
          // appended so "//li" means the li's text content
          val xp = {
            val last = xp0.substring(xp0.lastIndexOf('/') + 1)
            if (last.startsWith("@") || last == "text()") xp0
            else xp0 + "/text()"
          }
          // xml:unnest: explode the XPath matches' string-values (the
          // codegen xpath primitive); constant XML = a one-row source,
          // variable subject = a lateral per-solution explode
          val spark = quads.sparkSession
          src match {
            case Left(constXml) =>
              import spark.implicits._
              val df = Seq(constXml).toDF("#xml")
                .withColumn("#arr", xpath(col("#xml"), lit(xp)))
                .select(explode_outer(col("#arr")).as("#item"))
                .where(col("#item").isNotNull)
                .select(RdfTerms.strLit(col("#item")).as(v))
              joinIn(df)
            case Right(sv) =>
              require(acc != null && acc.columns.contains(sv),
                s"xml:unnest subject ?$sv is not bound")
              // termLexical: same decode PropFnE uses — handles @lang
              // literals too (a hand-rolled regex here used to miss them)
              val body = RdfTerms.termLexical(col(sv))
              acc = acc
                .withColumn("#xmlarr", xpath(body, lit(xp)))
                .select(col("*"),
                  explode_outer(col("#xmlarr")).as("#xmlitem"))
                .where(col("#xmlitem").isNotNull)
                .withColumn(v, RdfTerms.strLit(col("#xmlitem")))
                .drop("#xmlarr", "#xmlitem")
          }
        case UrlTextE(Left(iri), v) =>
          // wholetext read: ONE row holding the entire file body as a
          // plain literal term (the reference streams bytes; a whole-file
          // string binding is its documented query-level behavior)
          val spark = quads.sparkSession
          val path = ConstructParser.resolveFileIri(iri)
          val df = spark.read.option("wholetext", "true").text(path)
            .select(RdfTerms.strLit(col("value")).as(v))
          joinIn(df)
        case UrlTextE(Right(sv), v) =>
          // variable subject (workloads.sparql:11 `?file url:text ?str`):
          // one wholetext read per DISTINCT subject file, joined back on
          // the subject var. The subjects are file LISTINGS (fs:find
          // output) — metadata-scale by construction; the loud cap keeps
          // a data-scale column from silently becoming a driver loop.
          require(acc != null && acc.columns.contains(sv),
            s"url:text subject ?$sv must be bound by an earlier pattern " +
              "(e.g. fs:find)")
          val spark = quads.sparkSession
          val terms = ConstructParser.collectEndpoints(filterGated(acc), sv,
            "url:text")
          if (terms.isEmpty) {
            // zero endpoints = every subject value is NULL; the non-empty
            // path's inner join drops NULL-subject rows, so this path
            // must too — same rows either way (the column stays for
            // downstream resolution)
            acc = acc.where(col(sv).isNotNull)
              .withColumn(v, lit(null).cast("string"))
            maybeNull += v // NULL column: later joins must stay compatible
          }
          else {
            val frames = terms.map { term =>
              val path = ConstructParser.resolveFileIri(
                ConstructParser.stripAngles(term))
              spark.read.option("wholetext", "true").text(path)
                .select(lit(term).as(sv), RdfTerms.strLit(col("value")).as(v))
            }
            joinIn(frames.reduce(_ unionByName _))
          }
        case FsFindE(base, v) =>
          // driver-side recursive walk (the reference walks the FS on one
          // box too — a directory listing is metadata-scale); absolute
          // file IRIs, sorted for a deterministic frame
          val spark = quads.sparkSession
          val dirPath = java.nio.file.Paths.get(
            ConstructParser.resolveFileIri(base)).normalize()
          require(java.nio.file.Files.isDirectory(dirPath),
            s"fs:find <$base>: $dirPath is not a directory")
          val walk = java.nio.file.Files.walk(dirPath)
          val files =
            try {
              import scala.jdk.CollectionConverters._
              walk.iterator().asScala
                .filter(java.nio.file.Files.isRegularFile(_))
                .map(p => "<" + p.toUri.toString + ">").toVector.sorted
            } finally walk.close()
          import spark.implicits._
          joinIn(files.toDF(v))
        case ServiceVarE(v, inner, silent) =>
          // variable endpoint (docs/examples/fs-query-rdf-files.sparql):
          // evaluate the inner group once per DISTINCT endpoint FILE,
          // tag each result frame with the endpoint, union, and join
          // back on the endpoint var + shared inner vars. A SILENT
          // endpoint that fails to read contributes the unit solution
          // (inner vars unbound), per SPARQL-fed §18.2.2.2.
          require(acc != null && acc.columns.contains(v),
            s"SERVICE ?$v: the endpoint variable must be bound by an " +
              "earlier pattern (e.g. fs:find)")
          val spark = quads.sparkSession
          val eps = ConstructParser.collectEndpoints(filterGated(acc), v,
            s"SERVICE ?$v")
          val innerVars = boundVars(inner)
          if (eps.isEmpty) {
            // zero endpoints = every endpoint value NULL; the non-empty
            // path's join drops NULL-endpoint rows, so drop them here
            // too, then materialize the inner-var columns so downstream
            // references resolve — registered maybe-unbound so later
            // joins stay compatible
            acc = acc.where(col(v).isNotNull)
            val missing = (innerVars -- acc.columns).toSeq.sorted
            missing.foreach { iv =>
              acc = acc.withColumn(iv, lit(null).cast("string")) }
            maybeNull ++= missing
          } else {
            var sawFailure = false
            val frames = eps.flatMap { term =>
              try {
                val path = ConstructParser.resolveFileIri(
                  ConstructParser.stripAngles(term))
                val sdf0 = graft.sources.RdfIO.readRdfAuto(spark, path)
                // SILENT must observe PARSE failures, which the lazy scan
                // would raise at collect outside this try — eagerly
                // materialize per endpoint (blocks feed the join, file
                // still read once; endpoints are fs:find-scale)
                val sdf = if (silent)
                  graft.Checkpoints.TruncateOps(sdf0).truncateLineage(true)
                else sdf0
                val (res, mn) = compileGroupN(inner, sdf, NoDataset)
                Some((res.withColumn(v, lit(term)), mn))
              } catch {
                case e: Exception if silent =>
                  sawFailure = true
                  Some((ConstructParser.unitFrame(spark)
                    .withColumn(v, lit(term)), Set.empty[String]))
                case e: Exception => throw new IllegalArgumentException(
                  s"SERVICE ?$v = $term failed to read (add SILENT to " +
                    s"tolerate): ${e.getMessage}", e)
              }
            }
            var union = frames.map(_._1)
              .reduce(_.unionByName(_, allowMissingColumns = true))
            // every endpoint SILENT-failed ⇒ only unit frames unioned:
            // the inner vars have no columns at all — materialize them
            // as NULL so projections/filters on them still resolve
            val missing = (innerVars -- union.columns).toSeq.sorted
            missing.foreach { iv =>
              union = union.withColumn(iv, lit(null).cast("string")) }
            val nulls = frames.flatMap(_._2).toSet ++ missing ++
              (if (sawFailure) innerVars else Set.empty)
            joinIn(union, nulls)
          }
        case PropFnE(subj, ov, pos) =>
          // a pattern-bound literal term sheds its N-Triples escapes via
          // raw()/termLexical (r6: the unescape lives THERE — a second
          // one here would corrupt backslashes inside JSON values)
          val js = subj match {
            case Right((sv, sTerm)) =>
              require(acc != null && acc.columns.contains(sv),
                s"json:unnest subject ?$sv is not bound")
              if (sTerm) raw(E(col(sv), sTerm))
              else col(sv)
            case Left(text) =>
              // constant JSON-literal subject (json-by-index.sparql):
              // a BIND-less source — seed the unit solution if first
              if (acc == null)
                acc = ConstructParser.unitFrame(quads.sparkSession)
              lit(text)
          }
          val zipWith = pos.collect {
            case Left(iv) if acc.columns.contains(iv) => iv
          }
          // compute the array in its own column, explode_outer + filter
          // (a direct explode of the computed expression triples its
          // evaluation through InferFiltersFromGenerate)
          var next = acc
            .withColumn("#jsonarr", from_json(js,
              org.apache.spark.sql.types.ArrayType(
                org.apache.spark.sql.types.VariantType)))
            .select(col("*"),
              posexplode_outer(col("#jsonarr")).as(Seq("#jsonpos", "#jsonel")))
            .where(col("#jsonel").isNotNull)
            .withColumn(ov, col("#jsonel").cast("string"))
          next = pos match {
            case None => next
            case Some(Right(k)) => next.where(col("#jsonpos") === k)
            case Some(Left(iv)) if zipWith.contains(iv) =>
              // SAME index var as an earlier unnest → positional ZIP
              // (the reference's zip-arrays idiom: equal ?i joins the
              // element streams pairwise)
              next.where(col("#jsonpos").cast("long") === col(iv).cast("long"))
            case Some(Left(iv)) =>
              next.withColumn(iv, col("#jsonpos").cast("long"))
          }
          acc = next.drop("#jsonarr", "#jsonpos", "#jsonel")
      }
      // SPARQL §18.2: the empty group pattern {} evaluates to the unit
      // solution { mu0 } (one row, nothing bound) — not an error
      if (acc == null) acc = ConstructParser.unitFrame(quads.sparkSession)
      (conds.foldLeft(acc)(_ filter _), maybeNull.toSet)
    }

    /** Column names a filter expression references (unresolved attrs). */
    private def refNames(c: Column): Set[String] =
      org.apache.spark.sql.graft.bridge.referencedNames(c)

    /** Is a BIND of `c` maybe-unbound? It is over a maybe-unbound var
      * (NULL propagates through expressions), and when the expression can
      * ERROR to NULL on all-bound inputs (date accessor on a malformed
      * literal, numeric coercion of a non-numeric term, try-casts —
      * detected statically from the compiled catalyst tree), so later
      * joins/MINUS on the var route through §8.3 compatibility.
      */
    private def bindMaybeNull(c: Column, maybeNull: String => Boolean): Boolean =
      refNames(c).exists(maybeNull) ||
        org.apache.spark.sql.graft.bridge.fallibleToNull(c)

    /** Pattern-position spec: variables project, constants filter (as
      * canonical term strings, matching the quad table's encoding).
      */
    private def specOf(t: Tok): Either[String, String] = t match {
      case VarT(v) => Right(v)
      case IriT(iri) => Left("<" + iri + ">")
      case StrT(v) => Left("\"" + TrigEscape(v) + "\"")
      case TypedStrT(v, dt) => Left("\"" + TrigEscape(v) + "\"^^<" + dt + ">")
      case LangStrT(v, lang) => Left("\"" + TrigEscape(v) + "\"@" + lang)
      case ListT(_) => fail(
        "collection objects are only supported as property-function " +
          "arguments (csv:parse, xml:unnest)")
      case NumT(lex) =>
        Left("\"" + lex + "\"^^<http://www.w3.org/2001/XMLSchema#integer>")
      case PathT(_) => fail("property path outside predicate position")
      // a bnode in a WHERE pattern is a variable scoped to the query
      // (SPARQL §19.6) — named so it cannot collide with real ?vars
      case BnodeT(l) => Right("#bnode_" + l)
    }

    // -------------------------------------------------------- expressions

    // precedence (SPARQL 1.1 §17): || < && < comparison < +- < */ < unary
    private def expr(): E = {
      var left = andExpr()
      skipWs()
      while (peek == '|' && i + 1 < n && s.charAt(i + 1) == '|') {
        i += 2
        val right = andExpr()
        left = E(left.c || right.c, term = false)
        skipWs()
      }
      left
    }

    private def andExpr(): E = {
      var left = cmp()
      skipWs()
      while (peek == '&' && i + 1 < n && s.charAt(i + 1) == '&') {
        i += 2
        val right = cmp()
        left = E(left.c && right.c, term = false)
        skipWs()
      }
      left
    }

    /** `=`/`!=` compare RDF terms ([[termEq]]). `<`/`<=`/`>`/`>=`
      * compare numerically when either side is numeric,
      * else lexicographically on raw values; `<` is an operator only when
      * followed by whitespace (otherwise it opens an IRI).
      */
    private def cmp(): E = {
      val left = addExpr()
      skipWs()
      // ordering: numeric when either side is statically numeric; for
      // term-term comparisons decide PER ROW — two numeric-typed literals
      // compare by value ("9"^^xsd:integer < "10"^^xsd:integer), anything
      // else lexicographically on the raw form
      def ord(r: E, op: (Column, Column) => Column): Column =
        if (left.num || r.num) op(numC(left), numC(r))
        else if (left.term && r.term) {
          val ln = numTermVal(left.c)
          val rn = numTermVal(r.c)
          when(ln.isNotNull && rn.isNotNull, op(ln, rn))
            .otherwise(op(raw(left), raw(r)))
        } else op(raw(left), raw(r))
      if (kwSym("!=")) E(!termEq(left, addExpr()), term = false)
      else if (kwSym("=")) E(termEq(left, addExpr()), term = false)
      else if (kwSym("<=")) {
        val r = addExpr(); E(ord(r, _ <= _), term = false)
      } else if (kwSym(">=")) {
        val r = addExpr(); E(ord(r, _ >= _), term = false)
      } else if (peek == '<' && i + 1 < n && s.charAt(i + 1).isWhitespace) {
        i += 1
        val r = addExpr(); E(ord(r, _ < _), term = false)
      } else if (kwSym(">")) {
        val r = addExpr(); E(ord(r, _ > _), term = false)
      } else if (kw("IN")) inList(left, neg = false)
      else if (kw("NOT")) {
        skipWs()
        if (!kw("IN")) fail("expected IN after NOT")
        inList(left, neg = true)
      } else left
    }

    /** `e [NOT] IN (v, …)` — [[termEq]] against each member. */
    private def inList(left: E, neg: Boolean): E = {
      val items = argList()
      require(items.nonEmpty, "IN needs at least one value")
      val cond = items.map(termEq(left, _)).reduce(_ || _)
      E(if (neg) !cond else cond, term = false)
    }

    /** RDF-term equality. When exactly one side is already a term, the
      * raw side is promoted to its plain-literal term form so
      * `?role != "system"` works against pattern-bound term columns —
      * except against a number, where a numeric-typed term compares by
      * VALUE (`?o = 1` holds for `"1"^^xsd:integer`; other terms keep the
      * term comparison, as [[cmp]]'s ordering does per row). Two numeric
      * raw values compare by value too (`2 = 2.0`), not by their lexical
      * strings.
      */
    private def termEq(l: E, r: E): Column =
      if (!l.term && !r.term && l.num && r.num) numC(l) === numC(r)
      else if (l.term == r.term) l.c === r.c
      else {
        val (t, x) = if (l.term) (l, r) else (r, l)
        val byTerm = termCol(l) === termCol(r)
        if (!x.num) byTerm
        else {
          val v = numTermVal(t.c)
          when(v.isNotNull, v === numC(x)).otherwise(byTerm)
        }
      }

    private def addExpr(): E = {
      var left = mulExpr()
      skipWs()
      var go = true
      while (go) {
        if (peek == '+') {
          i += 1; val r = mulExpr()
          left = E(numC(left) + numC(r), term = false, num = true); skipWs()
        } else if (peek == '-') {
          i += 1; val r = mulExpr()
          left = E(numC(left) - numC(r), term = false, num = true); skipWs()
        } else go = false
      }
      left
    }

    private def mulExpr(): E = {
      var left = unary()
      skipWs()
      var go = true
      while (go) {
        if (peek == '*') {
          i += 1; val r = unary()
          left = E(numC(left) * numC(r), term = false, num = true); skipWs()
        } else if (peek == '/') {
          i += 1; val r = unary()
          left = E(numC(left) / numC(r), term = false, num = true); skipWs()
        } else go = false
      }
      left
    }

    private def termCol(e: E): Column =
      if (e.term) e.c else RdfTerms.strLit(e.c.cast("string"))

    /** JSON text of an expression. `raw()`/termLexical already sheds the
      * N-Triples escapes of literal terms (r6), so this is now a plain
      * alias — kept for call-site intent (a second ntUnescape here would
      * corrupt JSON whose VALUES contain backslashes).
      */
    private def jsonRaw(e: E): Column = raw(e)

    /** Numeric value of an expression (term literals via their lexical form). */
    private def numC(e: E): Column =
      if (e.term) raw(e).cast("double") else e.c.cast("double")

    /** Numeric VALUE of a term string when it is a numeric-typed literal
      * (xsd numeric family), else NULL.
      */
    private def numTermVal(term: Column): Column =
      // nullif: regexp_extract yields "" on no match, and ANSI mode (the
      // Spark 4 default) makes ''::double an ERROR, not NULL
      nullif(regexp_extract(term,
        "^\"([^\"]*)\"\\^\\^<http://www\\.w3\\.org/2001/XMLSchema#" +
          "(?:integer|decimal|double|float|long|int|short|byte|" +
          "nonNegativeInteger|positiveInteger|unsignedInt|unsignedLong)>$", 1),
        lit("")).cast("double")

    /** MIN/MAX ordering key for a TERM column: numeric-typed literals by
      * value (sorting before everything else), all other terms by their
      * full lexical form — the deterministic reduction of SPARQL's `<`
      * (which errors on incomparable types).
      */
    private def termOrdKey(c: Column): Column = {
      val v = numTermVal(c)
      struct(when(v.isNotNull, lit(0)).otherwise(lit(1)).as("k"),
        coalesce(v, lit(0d)).as("v"), c.as("lex"))
    }

    /** xsd:dateTime / xsd:date lexical shape, groups 1-6 =
      * year/month/day/hours/minutes/seconds(.fraction).
      */
    private val DtLexRe =
      "^(-?\\d{4,})-(\\d{2})-(\\d{2})(?:T(\\d{2}):(\\d{2}):(\\d{2}(?:\\.\\d+)?))?"

    /** Integer field of a dateTime lexical (NULL when absent — e.g. HOURS
      * of an xsd:date). The `when` guard keeps ANSI cast from throwing on
      * regexp_extract's "" no-match result.
      */
    private def dtField(e: E, group: Int): Column = {
      val g = regexp_extract(raw(e), DtLexRe, group)
      when(g =!= "", g.cast("long"))
    }

    /** TIMEZONE(e) → xsd:dayTimeDuration term of the lexical zone offset
      * (Jena: "-05:00" → "-PT5H", "Z" → "PT0S"); NULL when the lexical
      * form carries no zone (SPARQL: an error → unbound).
      */
    private def timezoneDuration(e: E): Column = {
      val tz = regexp_extract(raw(e), "(Z|[+-]\\d{2}:\\d{2})$", 1)
      val h = when(tz.rlike("^[+-]"), substring(tz, 2, 2).cast("int"))
      val m = when(tz.rlike("^[+-]"), substring(tz, 5, 2).cast("int"))
      val body = when(h === 0 && m === 0, lit("PT0S"))
        .otherwise(concat(lit("PT"),
          when(h > 0, concat(h.cast("string"), lit("H"))).otherwise(""),
          when(m > 0, concat(m.cast("string"), lit("M"))).otherwise("")))
      val lex = when(tz === "Z", lit("PT0S"))
        .when(tz.startsWith("-"), concat(lit("-"), body))
        .when(tz.startsWith("+"), body)
      concat(lit("\""), lex,
        lit("\"^^<" + ConstructParser.XsdNs + "dayTimeDuration>"))
    }

    private def expectEmptyArgs(fn: String): Unit = {
      val a = argList()
      require(a.isEmpty, s"$fn() takes no arguments")
    }

    /** Parse-scoped call-site counter: two RAND()/UUID() calls in one
      * query must be independent per row, while the same query text must
      * reproduce identical values run-to-run (so NOT the JVM-global
      * BNODE counter).
      */
    private var ndSite = 0

    private def randSeed(fn: String): Long = {
      val base = ctx.seed.getOrElse(fail(
        s"$fn() needs an injected seed: pass EvalCtx(seed = Some(...)) " +
          "so plans stay deterministic and resumable"))
      ndSite += 1
      base + ndSite.toLong * 0x9E3779B97F4A7C15L
    }

    /** Stable per-row fingerprint: hash of the WHOLE row's content (star
      * expands at analysis), so RAND()/UUID()/STRUUID() replay identically
      * under re-runs, resumes, AQE coalescing, or different splits — which
      * monotonically_increasing_id did not guarantee. Documented
      * reduction: duplicate solution rows receive identical values (the
      * replayable-by-content design), and a query that also mints
      * template bnodes folds the per-row bnode id into the hash.
      */
    private def rowFp: Column = xxhash64(struct(col("*")))

    /** Deterministic RFC 4122 v4 UUID text per row: two seeded 64-bit
      * hashes over the row fingerprint, hex-formatted 8-4-4-4-12 with the
      * version nibble forced to '4' and the variant nibble to [89ab].
      */
    private def uuidHex(fn: String): Column = {
      val seed = randSeed(fn)
      def hex16(k: Long) = lpad(hex(pmod(
        xxhash64(lit(seed + k), rowFp),
        lit(Long.MaxValue))), 16, "0")
      val a = lower(hex16(0)); val b = lower(hex16(1))
      val variant = element_at(
        array(lit("8"), lit("9"), lit("a"), lit("b")),
        pmod(conv(substring(b, 1, 1), 16, 10).cast("int"), lit(4)) + lit(1))
      concat(substring(a, 1, 8), lit("-"), substring(a, 9, 4), lit("-4"),
        substring(a, 14, 3), lit("-"), variant,
        substring(b, 2, 3), lit("-"), substring(b, 5, 12))
    }

    private def unary(): E = {
      skipWs()
      if (peek == '!') { i += 1; val e = unary(); E(!e.c, term = false) }
      else primary()
    }

    private def primary(): E = {
      skipWs()
      peek match {
        case '?' =>
          val v = varName()
          // macro-body expansion: parameters substitute the CALLER's
          // argument expressions (term flags included)
          if (macroParams.contains(v)) macroParams(v)
          else varE(v)
        case '"' | '\'' =>
          val body = stringLit()
          // typed-literal constants in expression position — the docs'
          // `'…'^^xsd:xml` / `'…'^^xsd:json` payload idiom
          if (peek == '^' && i + 1 < n && s.charAt(i + 1) == '^') {
            i += 2; skipWs()
            val dt = if (peek == '<') iriRef() else prefixedIri()
            E(lit("\"" + TrigEscape(body) + "\"^^<" + dt + ">"), term = true)
          } else if (peek == '@') {
            i += 1
            E(lit("\"" + TrigEscape(body) + "\"@" + langTag()), term = true)
          } else E(lit(body), term = false)
        case '<' => E(lit("<" + iriRef() + ">"), term = true)
        case '(' => i += 1; val e = expr(); skipWs(); expect(')'); e
        case c if c.isDigit || c == '-' =>
          E(lit(exprNumber()).cast("string"), term = false, num = true)
        // ---- §18.5 aggregates. Arguments use the column's NATIVE type (no
        // string cast), so SUM/AVG over numeric binding columns keep their
        // numeric semantics; term-typed arguments aggregate by VALUE.
        case _ if kw("COUNT") =>
          skipWs(); expect('('); skipWs()
          val c =
            if (peek == '*') { i += 1; count(lit(1)) }
            else if (kw("DISTINCT")) countDistinct(aggArg("COUNT").c)
            else count(aggArg("COUNT").c)
          skipWs(); expect(')')
          aggregate("COUNT", E(c, term = false, num = true, int = true))
        case _ if kw("SUM") || kw("AVG") || kw("MIN") || kw("MAX") =>
          val f = s.substring(i - 3, i).toUpperCase
          skipWs(); expect('('); skipWs()
          val dist = kw("DISTINCT")
          val e = aggArg(f)
          skipWs(); expect(')')
          // a TERM-typed argument (pattern-bound var) aggregates its
          // numeric VALUE for SUM/AVG (SPARQL numeric aggregation — the
          // lexical string would cast-fail to NULL silently) and orders
          // numerics by value / others lexically for MIN/MAX, which
          // yield the term itself. DISTINCT is a no-op for MIN/MAX.
          val a = if (e.term) numTermVal(e.c) else e.c
          aggregate(f, f match {
            case "SUM" =>
              E(if (dist) sum_distinct(a) else sum(a), term = false, num = true)
            case "AVG" =>
              E(if (dist) sum_distinct(a) / countDistinct(a) else avg(a),
                term = false, num = true)
            case "MIN" =>
              if (e.term) E(min_by(e.c, termOrdKey(e.c)), term = true)
              else E(min(a), term = false, num = e.num)
            case "MAX" =>
              if (e.term) E(max_by(e.c, termOrdKey(e.c)), term = true)
              else E(max(a), term = false, num = e.num)
          })
        case _ if kw("SAMPLE") =>
          skipWs(); expect('(')
          val e = aggArg("SAMPLE")
          skipWs(); expect(')')
          // deterministic SAMPLE (SPARQL: any value)
          aggregate("SAMPLE", E(min(e.c), e.term, e.num))
        case _ if kw("GROUP_CONCAT") =>
          skipWs(); expect('('); skipWs()
          val dist = kw("DISTINCT")
          val e = aggArg("GROUP_CONCAT")
          skipWs()
          var sep = " " // SPARQL default separator
          if (peek == ';') {
            i += 1; skipWs()
            if (!kw("SEPARATOR")) fail("expected SEPARATOR")
            skipWs(); expect('='); skipWs()
            sep = stringLit()
          }
          skipWs(); expect(')')
          // DISTINCT applies to the solution TERMS (§18.5.1.7: Distinct
          // precedes the string conversion — "a" and "a"@en stay two
          // elements), then term args concatenate their STR lexical forms;
          // sorted for determinism (SPARQL leaves concat order unspecified)
          val a = e.c.cast("string")
          val lst = sort_array(if (dist) collect_set(a) else collect_list(a))
          val strs = if (e.term) transform(lst, rawTermCol(_)) else lst
          aggregate("GROUP_CONCAT", E(array_join(strs, sep), term = false))
        case _ if kw("ROUND") =>
          // ROUND(e [, digits]) rounds e's own column, so ROUND(SUM(?v), 2)
          // keeps SUM's type
          skipWs(); expect('(')
          val e = expr()
          skipWs()
          val digits =
            if (peek == ',') { i += 1; skipWs(); Some(number().toInt) } else None
          skipWs(); expect(')')
          val x = if (e.term) numC(e) else e.c
          val r = round(x, digits.getOrElse(0))
          // SPARQL's one-argument ROUND is fn:round: halves round toward
          // +INF, where Spark's HALF_UP rounds -2.5 to -3. The two-argument
          // form is this engine's extension and keeps HALF_UP, as its
          // DuckDB oracle rounds
          E(if (digits.nonEmpty) r
            else when(r - x.cast("double") === -0.5, r + 1).otherwise(r),
            term = false, num = true)
        case _ if kw("IRI") || kw("URI") =>
          val args = argList()
          require(args.size == 1, "IRI takes 1 argument")
          E(concat(lit("<"), raw(args.head), lit(">")), term = true)
        case _ if kw("CONCAT") =>
          val args = argList()
          E(concat(args.map(raw): _*), term = false)
        case _ if kw("STRDT") =>
          val args = argList() // (raw lexical, datatype iri term)
          require(args.size == 2, "STRDT takes 2 arguments")
          E(concat(lit("\""), RdfTerms.ntEscape(raw(args.head)),
            lit("\"^^"), args(1).c), term = true)
        case _ if kw("STR") =>
          val args = argList()
          require(args.size == 1, "STR takes 1 argument")
          E(raw(args.head), term = false)
        case _ if kw("BOUND") =>
          val args = argList()
          require(args.size == 1, "BOUND takes 1 argument")
          E(args.head.c.isNotNull, term = false)
        // ---- SPARQL 1.1 §17.4 function library (string/numeric/hash/term)
        case _ if kw("STRLEN") =>
          E(length(raw(arg1())).cast("long"), term = false, num = true)
        case _ if kw("UCASE") => E(upper(raw(arg1())), term = false)
        case _ if kw("LCASE") => E(lower(raw(arg1())), term = false)
        case _ if kw("SUBSTR") =>
          val a = argList()
          require(a.size == 2 || a.size == 3, "SUBSTR takes 2-3 arguments")
          val str = raw(a.head)
          val pos = numC(a(1)).cast("int")
          E(if (a.size == 2) str.substr(pos, length(str))
            else str.substr(pos, numC(a(2)).cast("int")), term = false)
        case _ if kw("STRSTARTS") =>
          val a = arg2(); E(raw(a._1).startsWith(raw(a._2)), term = false)
        case _ if kw("STRENDS") =>
          val a = arg2(); E(raw(a._1).endsWith(raw(a._2)), term = false)
        case _ if kw("CONTAINS") =>
          val a = arg2(); E(raw(a._1).contains(raw(a._2)), term = false)
        case _ if kw("STRBEFORE") =>
          val (s1, d) = arg2()
          val str = raw(s1); val del = raw(d)
          val pos = call_function("instr", str, del)
          E(when(pos > 0, str.substr(lit(1), pos - 1)).otherwise(""), term = false)
        case _ if kw("STRAFTER") =>
          val (s1, d) = arg2()
          val str = raw(s1); val del = raw(d)
          val pos = call_function("instr", str, del)
          E(when(pos > 0, str.substr(pos + length(del), length(str)))
            .otherwise(""), term = false)
        case _ if kw("REPLACE") =>
          val a = argList()
          require(a.size == 3 || a.size == 4, "REPLACE takes 3-4 arguments")
          val pat = if (a.size == 4)
            concat(lit("(?"), raw(a(3)), lit(")"), raw(a(1)))
          else raw(a(1))
          E(regexp_replace(raw(a.head), pat, raw(a(2))), term = false)
        case _ if kw("REGEX") =>
          val a = argList()
          require(a.size == 2 || a.size == 3, "REGEX takes 2-3 arguments")
          val pat = if (a.size == 3)
            concat(lit("(?"), raw(a(2)), lit(")"), raw(a(1)))
          else raw(a(1))
          E(regexp_like(raw(a.head), pat), term = false)
        case _ if kw("ABS") => E(abs(numC(arg1())), term = false, num = true)
        case _ if kw("CEIL") =>
          E(ceil(numC(arg1())).cast("long"), term = false, num = true)
        case _ if kw("FLOOR") =>
          E(floor(numC(arg1())).cast("long"), term = false, num = true)
        case _ if kw("MD5") => E(md5(raw(arg1())), term = false)
        case _ if kw("SHA1") => E(sha1(raw(arg1())), term = false)
        case _ if kw("SHA256") => E(sha2(raw(arg1()), 256), term = false)
        case _ if kw("SHA384") => E(sha2(raw(arg1()), 384), term = false)
        case _ if kw("SHA512") => E(sha2(raw(arg1()), 512), term = false)
        case _ if kw("COALESCE") =>
          val a = argList()
          require(a.nonEmpty, "COALESCE takes >=1 argument")
          val anyTerm = a.exists(_.term)
          E(coalesce(a.map(x => if (anyTerm) termCol(x) else x.c): _*), anyTerm)
        case _ if kw("IF") =>
          val a = argList()
          require(a.size == 3, "IF takes 3 arguments")
          val anyTerm = a(1).term || a(2).term
          def side(x: E) = if (anyTerm) termCol(x) else x.c
          E(when(a.head.c, side(a(1))).otherwise(side(a(2))), anyTerm)
        case _ if kw("LANGMATCHES") =>
          // RFC 4647 basic filtering: range "en" matches "en" AND "en-US"
          val (t1, r1) = arg2()
          val t = lower(raw(t1)); val r = lower(raw(r1))
          E(when(raw(r1) === "*", raw(t1) =!= "")
            .otherwise(t === r || t.startsWith(concat(r, lit("-")))),
            term = false)
        case _ if kw("LANG") =>
          E(regexp_extract(termCol(arg1()), "@([A-Za-z0-9-]+)$", 1), term = false)
        case _ if kw("DATATYPE") =>
          val t = termCol(arg1())
          val dt = regexp_extract(t, "\\^\\^<([^>]*)>$", 1)
          E(when(dt =!= "", concat(lit("<"), dt, lit(">")))
            .when(t.rlike("@[A-Za-z0-9-]+$"),
              lit("<http://www.w3.org/1999/02/22-rdf-syntax-ns#langString>"))
            .when(t.startsWith("\""),
              lit("<http://www.w3.org/2001/XMLSchema#string>")), term = true)
        case _ if kw("STRLANG") =>
          val (l, g) = arg2()
          E(concat(lit("\""), RdfTerms.ntEscape(raw(l)), lit("\"@"), raw(g)),
            term = true)
        case _ if kw("ENCODE_FOR_URI") =>
          // RFC 3986 percent-encoding of the ASCII range, non-ASCII kept
          // (IRI flavor; NOT url_encode's form encoding with '+' spaces)
          // — identical to the RML template encoder, so `rml to sparql`
          // output is exactly equivalent to the direct compiler
          E(RdfTerms.iriSafe(raw(arg1())), term = false)
        case _ if kw("ISIRI") || kw("ISURI") =>
          E(termCol(arg1()).startsWith("<"), term = false)
        case _ if kw("ISLITERAL") =>
          E(termCol(arg1()).startsWith("\""), term = false)
        case _ if kw("ISBLANK") =>
          E(termCol(arg1()).startsWith("_:"), term = false)
        // ---- §17.4.5 date/time accessors (over xsd:dateTime/xsd:date
        // lexical forms — field extraction from the LEXICAL value, per
        // spec; no timezone normalization)
        case _ if kw("YEAR") => E(dtField(arg1(), 1), term = false, num = true)
        case _ if kw("MONTH") => E(dtField(arg1(), 2), term = false, num = true)
        case _ if kw("DAY") => E(dtField(arg1(), 3), term = false, num = true)
        case _ if kw("HOURS") => E(dtField(arg1(), 4), term = false, num = true)
        case _ if kw("MINUTES") => E(dtField(arg1(), 5), term = false, num = true)
        case _ if kw("SECONDS") =>
          val g = regexp_extract(raw(arg1()), DtLexRe, 6)
          E(when(g =!= "", g.cast("double")), term = false, num = true)
        case _ if kw("TIMEZONE") => E(timezoneDuration(arg1()), term = true)
        case _ if kw("TZ") =>
          // TZ returns the lexical zone as a simple string ("" if none)
          E(regexp_extract(raw(arg1()), "(Z|[+-]\\d{2}:\\d{2})$", 1),
            term = false)
        case _ if kw("NOW") =>
          expectEmptyArgs("NOW")
          val now = ctx.now.getOrElse(fail(
            "NOW() needs an injected clock: pass EvalCtx(now = Some(...)) " +
              "so plans stay deterministic and resumable"))
          E(lit("\"" + now + "\"^^<" + ConstructParser.XsdNs + "dateTime>"),
            term = true)
        case _ if kw("SAMETERM") =>
          val (a, b) = arg2()
          E(termCol(a) === termCol(b), term = false)
        case _ if kw("ISNUMERIC") =>
          val a = arg1()
          E(if (!a.term) lit(a.num) else numTermVal(a.c).isNotNull,
            term = false)
        case _ if kw("RAND") =>
          expectEmptyArgs("RAND")
          // deterministic per-row double in [0,1) from the injected seed —
          // xxhash64 over the row CONTENT (NOT java Random, NOT a
          // partition-layout id: replayable per row across re-runs)
          E(pmod(xxhash64(lit(randSeed("RAND")), rowFp), lit(1L << 52))
            .cast("double") / lit((1L << 52).toDouble), term = false, num = true)
        case _ if kw("UUID") =>
          expectEmptyArgs("UUID")
          E(concat(lit("<urn:uuid:"), uuidHex("UUID"), lit(">")), term = true)
        case _ if kw("STRUUID") =>
          expectEmptyArgs("STRUUID")
          E(uuidHex("STRUUID"), term = false)
        case _ if kw("BNODE") =>
          // fresh bnode per solution row and call site (§17.4.2.9). The
          // one-argument form needs same-label-for-same-arg ACROSS call
          // sites, which has no safe distributed expression — rejected
          // loudly (use template bnodes or IRI(hash) instead).
          val a = argList()
          if (a.nonEmpty) fail(
            "BNODE(expr) is not supported: use a template blank node or IRI(hash)")
          val site = ConstructParser.bnodeSiteCounter.incrementAndGet()
          E(concat(lit("_:fn" + site + "r"),
            monotonically_increasing_id().cast("string")), term = true)
        case c if Character.isLetter(c) || c == '_' =>
          // bare boolean literals (SPARQL §19.8 BooleanLiteral) — the
          // ollama macro bodies use `"stream", false`
          def boolAhead(w: String): Boolean =
            s.regionMatches(true, i, w, 0, w.length) && {
              val j = i + w.length
              j >= n || !(Character.isLetterOrDigit(s.charAt(j)) ||
                ":_.-".indexOf(s.charAt(j)) >= 0)
            }
          if (boolAhead("true")) { i += 4; return E(lit(true), term = false) }
          if (boolAhead("false")) { i += 5; return E(lit(false), term = false) }
          val iri = prefixedIri()
          // call form: xsd constructor casts and the json:* expression
          // functions; otherwise the prefixed name is an IRI constant
          if (peek != '(') E(lit("<" + iri + ">"), term = true)
          else if (iri.startsWith(ConstructParser.XsdNs)) xsdCast(iri)
          else if (iri == ConstructParser.JsonNs + "path") {
            expect('(')
            val src = expr()
            skipWs(); expect(','); skipWs()
            val path = stringLit()
            skipWs(); expect(')')
            E(get_json_object(jsonRaw(src), path), term = false)
          } else if (iri == ConstructParser.JsonNs + "parse") {
            E(jsonRaw(arg1()), term = false) // JSON rides as raw text
          } else if (iri == NorseNs + "json.object") {
            // norse:json.object(k1, v1, …) — compact JSON object text
            // (macros-ollama.ttl builds request bodies with it)
            val args = argList()
            require(args.size % 2 == 0 && args.nonEmpty,
              s"json.object takes key/value pairs, got ${args.size} args")
            val frags = args.grouped(2).map { case Seq(k, v) =>
              concat(graft.functions.JsonFns.jsonEncode(raw(k)), lit(":"),
                jsonFragment(v))
            }.toSeq
            E(RdfTerms.typedLit(
              concat(lit("{"), concat_ws(",", frags: _*), lit("}")),
              ConstructParser.XsdJson), term = true)
          } else if (iri == NorseNs + "json.array") {
            val args = argList()
            E(RdfTerms.typedLit(
              concat(lit("["), concat_ws(",", args.map(jsonFragment): _*),
                lit("]")),
              ConstructParser.XsdJson), term = true)
          } else if (iri == NorseNs + "json.path") {
            // norse alias of json:path (macros-ollama.ttl response
            // extraction)
            expect('(')
            val src = expr()
            skipWs(); expect(','); skipWs()
            val path = stringLit()
            skipWs(); expect(')')
            E(get_json_object(jsonRaw(src), path), term = false)
          } else if (iri == ConstructParser.JsonNs + "binaryString") {
            // json:binaryString(n) → base-2 digits (bitmask.sparql:18)
            val e = arg1()
            E(bin((if (e.term) numTermVal(e.c) else e.c).cast("long")),
              term = false)
          } else if (iri == ConstructParser.JsonNs + "split") {
            // json:split(str, regex) → xsd:json array of the parts
            // (bitmask.sparql splits a digit string per character)
            expect('(')
            val str = expr()
            skipWs(); expect(','); skipWs()
            val re = stringLit()
            skipWs(); expect(')')
            E(RdfTerms.typedLit(to_json(split(raw(str), re)),
              ConstructParser.XsdJson), term = true)
          } else if (iri == ConstructParser.JsonNs + "reverse") {
            // json:reverse(arr) → the array reversed (element order only;
            // elements re-serialize compactly)
            val e = arg1()
            E(RdfTerms.typedLit(
              to_json(reverse(from_json(jsonRaw(e),
                org.apache.spark.sql.types.ArrayType(
                  org.apache.spark.sql.types.VariantType)))),
              ConstructParser.XsdJson), term = true)
          } else if (iri == ConstructParser.MathNs + "pow") {
            // math:pow(b, e) (XPath math; bitmask.sparql:28)
            expect('(')
            val b = expr()
            skipWs(); expect(','); skipWs()
            val x = expr()
            skipWs(); expect(')')
            def nv(e: E) = if (e.term) numTermVal(e.c) else e.c
            E(pow(nv(b), nv(x)), term = false, num = true)
          } else if (iri == ConstructParser.XmlNs + "path") {
            // xml:path scalar (docs/examples/README.md:456-500): the
            // XPath match's string-value ("//ul/@id" attribute form
            // included); node re-serialization is not expressible with
            // the codegen xpath primitives — documented reduction
            expect('(')
            val src = expr()
            skipWs(); expect(','); skipWs()
            val pathStr = stringLit()
            skipWs(); expect(')')
            E(xpath_string(jsonRaw(src), lit(pathStr)), term = false)
          } else if (iri == ConstructParser.FsNs + "probeRdf") {
            // FILTER(fs:probeRdf(?file)) — docs/examples/README.md:608;
            // see [[ConstructParser.probeRdfCol]] for the UDF rationale
            E(ConstructParser.probeRdfCol(arg1().c), term = false)
          } else if (iri == ConstructParser.FsNs + "get") {
            // fs:get(path-or-file-IRI) — the canned path-test.rq:
            // normalize a path string / file: IRI (any slash arity) to an
            // absolute `<file://…>` term; relative paths resolve against
            // the driver's working directory at plan build. Reduction vs
            // the reference (JenaX returns a typed path object): this
            // engine's filesystem currency IS the file IRI — fs:find
            // emits them and every consumer accepts them.
            val lex = raw(arg1())
            val p = regexp_replace(lex, "^file:(//)?", "")
            val abs = when(p.startsWith("/"), p)
              .otherwise(concat(lit(sys.props("user.dir") + "/"), p))
            E(concat(lit("<file://"), abs, lit(">")), term = true)
          } else if (iri == ConstructParser.SysNs + "getenv") {
            // sys:getenv('NAME') — the canned rename.rq parameterization;
            // a DRIVER-side plan-build constant (env first, system
            // property fallback for in-process callers), missing = loud
            skipWs(); expect('(')
            skipWs()
            val name = stringLit()
            skipWs(); expect(')')
            val v = sys.env.get(name).orElse(sys.props.get(name))
              .getOrElse(fail(s"sys:getenv('$name'): no such environment " +
                "variable or system property"))
            E(lit(v), term = false)
          } else if (iri == ConstructParser.AfnNs + "localname") {
            // afn:localname (workloads.sparql:14): the IRI's local part —
            // approximated as everything after the last '/', '#' or ':'
            // (Jena splits at the last non-NCName char; for the
            // machine-generated IRIs this engine handles the two agree)
            E(regexp_extract(raw(arg1()), "([^/#:]*)$", 1), term = false)
          } else if (iri == NorseNs + "fn.of" ||
              iri == NorseNs + "sparql.fn.of") {
            // lambda DEFINITION (docs/examples/README.md:417-440,
            // 522-550): all but the last argument are input vars, the
            // last is the body EXPRESSION kept as text — the value is a
            // lambda literal `"?v1 ?v2 -> expr"^^norse:lambda`, compiled
            // lazily at each fn.call site
            val spans = rawArgSpans()
            require(spans.size >= 1, "fn.of needs at least a body expression")
            val params = spans.dropRight(1).map { sp =>
              require(sp.matches("^\\?[A-Za-z_][A-Za-z0-9_]*$"),
                s"fn.of: input parameters must be plain variables, got '$sp'")
              sp.substring(1)
            }
            val dt = if (iri.contains("sparql.")) NorseNs + "sparql.fn"
              else NorseNs + "lambda"
            E(lit("\"" + TrigEscape(
              params.map("?" + _).mkString(" ") +
                (if (params.nonEmpty) " " else "") + "-> " + spans.last) +
              "\"^^<" + dt + ">"), term = true)
          } else if (iri == NorseNs + "fn.call" ||
              iri == NorseNs + "sparql.fn.call") {
            // lambda INVOCATION: the lambda literal must be STATICALLY
            // traceable (a constant or a BIND-bound var) — the body
            // compiles inline at plan-build time with params bound to
            // the call's argument expressions; free vars resolve like
            // vars written at the call position. Data-borne lambdas
            // (values flowing from patterns) reject loudly: per-row
            // expression interpretation does not distribute.
            val args = argList()
            require(args.nonEmpty, "fn.call needs a lambda argument")
            val lamLit = org.apache.spark.sql.graft.bridge
              .staticStringLiteral(args.head.c)
              .orElse(refNames(args.head.c).toSeq match {
                case Seq(v1) => scope.lambdaBinds.get(v1)
                case _ => None
              })
              .getOrElse(fail(
                "fn.call: the lambda must be a constant or a BIND-bound " +
                  "fn.of value in this query (data-borne lambdas are not " +
                  "supported — the body must compile at plan-build time)"))
            val (plist, body) = ConstructParser.parseLambdaLiteral(lamLit)
            if (plist.size != args.size - 1) fail(
              s"fn.call: lambda takes ${plist.size} argument(s), " +
                s"got ${args.size - 1}")
            lambdaBody(body, plist.zip(args.tail).toMap)
          } else if (iri == NorseNs + "map.computeIfAbsent") {
            // execution-local map (docs/examples/README.md:552-575):
            // computeIfAbsent(mapId, key, lambda) binds ONE value per
            // distinct key, computed by the lambda exactly once. The
            // reference implements it as driver-side mutable state over a
            // sequential binding stream; the distributed reduction is
            // set-at-a-time: evaluate the lambda over the DISTINCT keys
            // of the current solution frame and hash-join the memo back
            // (the lambda sees a key-only row, so even seeded RAND() is a
            // pure function of the key — exactly the once-per-key
            // semantics the docs example demonstrates). Supported as the
            // ENTIRE expression of a BIND; the group compiler rewrites it
            // (see MapComputeE) — per-row mutable state has no other
            // faithful distributed shape.
            val spans = rawArgSpans()
            require(spans.size == 3,
              s"map.computeIfAbsent takes (mapId, key, lambda), got " +
                s"${spans.size} argument(s)")
            val keyVar = spans(1).trim
            require(keyVar.startsWith("?"),
              s"map.computeIfAbsent: the key must be a variable, got " +
                s"'$keyVar'")
            val fnSpan = spans(2).trim
            val lamLit =
              if (fnSpan.startsWith("?")) scope.lambdaBinds.getOrElse(
                fnSpan.stripPrefix("?"),
                fail("map.computeIfAbsent: the lambda must be a " +
                  "BIND-bound fn.of value or an inline fn.of call"))
              else {
                org.apache.spark.sql.graft.bridge.staticStringLiteral(
                  lambdaBody(fnSpan, Map.empty).c).getOrElse(fail(
                  "map.computeIfAbsent: the lambda must compile to a " +
                    "constant at plan-build time"))
              }
            val (plist, body) = ConstructParser.parseLambdaLiteral(lamLit)
            require(plist.size == 1,
              s"map.computeIfAbsent: the lambda takes one key argument, " +
                s"got ${plist.size}")
            val kv = keyVar.stripPrefix("?")
            val bodyE = lambdaBody(body, Map(plist.head ->
              E(col(kv), term = scope.vars.get(kv).forall(_.term))))
            val placeholder = E(bodyE.c, bodyE.term, bodyE.num)
            pendingMapCompute = Some((spans(0).trim, kv, bodyE, placeholder))
            placeholder // BIND rewrites; any other consumer fails
          } else if (iri.startsWith(NorseNs + "map.")) {
            fail(s"<$iri>: execution-local maps are per-row mutable state " +
              "and do not distribute; only map.computeIfAbsent (as a full " +
              "BIND expression) has a faithful set-at-a-time reduction")
          } else if (iri == NorseNs + "json.js" ||
              iri == ConstructParser.JsonNs + "js") {
            fail(s"<$iri>: embedded JavaScript evaluation is scoped out " +
              "(no JS engine; express the computation in SPARQL or a " +
              "macro instead)")
          } else if (iri.startsWith(ConstructParser.UrlNs)) {
            fail(s"<$iri>: network fetch functions are scoped out " +
              "(zero-egress build; only the local-file `url:text` " +
              "property function is available)")
          } else graft.functions.Macros.textMacro(iri) match {
            // udf:simpleDefinition macros loaded from RDF
            // (docs/examples/macro-example.sh): parse the caller's args,
            // then expand the body inline with params bound to them —
            // plan-build-time expansion, no runtime indirection
            case Some(tm) =>
              val args = argList()
              if (args.size != tm.params.size) fail(
                s"macro <$iri> takes ${tm.params.size} argument(s), " +
                  s"got ${args.size}")
              ConstructParser.compileMacroBody(tm,
                tm.params.zip(args).toMap)
            case None => fail(s"unknown function <$iri>")
          }
        case _ => fail("unsupported expression")
      }
    }

    // ------------------------------------------------- macro expansion

    /** Compile a lambda body (or an inline fn.of) at its call site, with
      * `params` bound to the call's argument expressions. The body parses
      * under THIS scope ("any non-input variable mentioned in expr is
      * substituted with the current binding's value" —
      * docs/examples/README.md:526): free vars resolve exactly like vars
      * written at the call position. The seed and clock carry over (RAND
      * in lambdas).
      */
    private def lambdaBody(body: String, params: Map[String, E]): E = {
      val child = new P(body, ctx)
      child.prefixes ++= prefixes
      child.scope = scope
      child.macroParams = params
      child.exprOnly()
    }

    /** `norse:fn.of(?v1, …, expr)` — raw top-level-comma argument spans
      * (the LAST span is the lambda body, kept as TEXT for lazy
      * compilation at the call site).
      */
    private def rawArgSpans(): Seq[String] = {
      skipWs(); expect('(')
      val out = scala.collection.mutable.ArrayBuffer[String]()
      val sb = new StringBuilder
      var depth = 0
      var quote: Char = 0
      var done = false
      while (!done) {
        if (i >= n) fail("unterminated argument list")
        val c = s.charAt(i)
        if (quote != 0) {
          sb.append(c)
          if (c == '\\' && i + 1 < n) { i += 1; sb.append(s.charAt(i)) }
          else if (c == quote) quote = 0
          i += 1
        } else c match {
          case '"' | '\'' => quote = c; sb.append(c); i += 1
          case '<' =>
            // <…> IRI: a no-split region — an IRI with a top-level comma
            // (<http://ex.org/f,g>) must not split the argument spans.
            // Lookahead for the closing '>' (IRIs carry no whitespace/
            // parens/quotes): without one, this '<' is the comparison
            // operator (?x < 5) and scans as an ordinary char.
            // stop at every RFC 3987 IRI-excluded char — in particular a
            // second '<' (so `IF(?a<?b,<http://x>,1)` reads ?a<?b as a
            // comparison, not the start of a bogus IRI)
            var j = i + 1
            while (j < n && s.charAt(j) != '>' &&
              !s.charAt(j).isWhitespace &&
              "()'\"<{}|\\^`".indexOf(s.charAt(j)) < 0) j += 1
            if (j < n && s.charAt(j) == '>') {
              sb.append(s.substring(i, j + 1)); i = j + 1
            } else { sb.append(c); i += 1 }
          case '(' => depth += 1; sb.append(c); i += 1
          case ')' if depth == 0 => out += sb.toString.trim; done = true; i += 1
          case ')' => depth -= 1; sb.append(c); i += 1
          case ',' if depth == 0 => out += sb.toString.trim; sb.clear(); i += 1
          case other => sb.append(other); i += 1
        }
      }
      out.toSeq
    }

    /** Caller-argument substitutions active while parsing a macro BODY. */
    private var macroParams: Map[String, E] = Map.empty
    private[ConstructParser] def setMacroParams(m: Map[String, E]): Unit =
      macroParams = m
    private[rules] def setPrefix(p: String, ns: String): Unit =
      prefixes(p) = ns
    /** Parse this parser's whole input as ONE expression. */
    private[ConstructParser] def exprOnly(): E = {
      skipWs()
      val e = expr()
      skipWs()
      if (i < n) fail("trailing input after macro-body expression")
      e
    }

    /** XSD constructor cast: lexical canonicalization for the integer
      * family and boolean, pass-through lexical otherwise; always yields
      * a typed literal term.
      */
    private def xsdCast(iri: String): E = {
      val arg = arg1()
      val local = iri.substring(iri.lastIndexOf('#') + 1)
      val numeric = Set("integer", "long", "int", "short", "byte",
        "nonNegativeInteger", "positiveInteger", "unsignedInt", "unsignedLong")
      val lex: Column =
        if (numeric(local)) numC(arg).cast("long").cast("string")
        else if (local == "double" || local == "float") numC(arg).cast("string")
        else if (local == "boolean") lower(raw(arg))
        else raw(arg) // decimal/string/date/dateTime…: lexical as given
      E(concat(lit("\""), RdfTerms.ntEscape(lex), lit("\"^^<" + iri + ">")),
        term = true, num = numeric(local))
    }

    private def arg1(): E = {
      val a = argList(); require(a.size == 1, "expected 1 argument"); a.head
    }

    private def arg2(): (E, E) = {
      val a = argList(); require(a.size == 2, "expected 2 arguments")
      (a.head, a(1))
    }

    /** Expression-position numeric literal: integer, decimal, or double
      * (templates/VALUES keep integer-only [[number]] so their datatype
      * stays xsd:integer).
      */
    private def exprNumber(): String = {
      val start = i
      if (peek == '-') i += 1
      while (i < n && s.charAt(i).isDigit) i += 1
      if (peek == '.' && i + 1 < n && s.charAt(i + 1).isDigit) {
        i += 1
        while (i < n && s.charAt(i).isDigit) i += 1
      }
      if ((peek == 'e' || peek == 'E') && i + 1 < n &&
          (s.charAt(i + 1).isDigit || s.charAt(i + 1) == '-' || s.charAt(i + 1) == '+')) {
        i += 2
        while (i < n && s.charAt(i).isDigit) i += 1
      }
      s.substring(start, i)
    }

    /** Raw string value of an expression. For term-typed values (pattern
      * variables, IRI() results) this is SPARQL `STR()`: IRIs drop their
      * `<…>`, literals their quotes and `@lang`/`^^<dt>` suffix (escape
      * sequences inside the literal body stay escaped — acceptable for
      * the machine-generated terms this engine produces).
      */
    private def raw(e: E): Column =
      if (!e.term) e.c.cast("string") else rawTermCol(e.c)

    /** One JSON-text fragment for a norse:json.object/array element:
      * native values encode per their Spark type (numbers/booleans
      * bare), xsd:json-typed terms embed their raw JSON body (nested
      * json.object calls compose), other terms encode their lexical
      * form as JSON strings.
      */
    private def jsonFragment(e: E): Column =
      if (!e.term) graft.functions.JsonFns.jsonEncode(e.c)
      else when(e.c.endsWith("\"^^<" + ConstructParser.XsdJson + ">"),
          rawTermCol(e.c))
        .otherwise(graft.functions.JsonFns.jsonEncode(rawTermCol(e.c)))

    /** STR() of a term-valued column (usable inside array lambdas too). */
    private def rawTermCol(c0: Column): Column = RdfTerms.termLexical(c0)

    private def argList(): Seq[E] = {
      skipWs(); expect('(')
      val out = scala.collection.mutable.ArrayBuffer[E]()
      skipWs()
      if (peek != ')') {
        out += expr()
        skipWs()
        while (peek == ',') { i += 1; out += expr(); skipWs() }
      }
      expect(')')
      out.toSeq
    }

    // --------------------------------------------------------- lexer bits

    private def fail(msg: String): Nothing = {
      val ctx = s.substring(math.max(0, i - 25), math.min(n, i + 25))
      throw new IllegalArgumentException(
        s"CONSTRUCT parse error at offset $i: $msg near «$ctx»")
    }

    private def skipWs(): Unit = {
      while (i < n) {
        val c = s.charAt(i)
        if (c == '#') { while (i < n && s.charAt(i) != '\n') i += 1 }
        else if (c.isWhitespace) i += 1
        else return
      }
    }

    private def peek: Char = if (i < n) s.charAt(i) else ' '

    private def expect(c: Char): Unit =
      if (peek == c) i += 1 else fail(s"expected '$c'")

    private def kw(w: String): Boolean = kwImpl(w, ignoreCase = true)

    /** Case-sensitive keyword (`a` in predicate position, SPARQL §19.8). */
    private def kwCS(w: String): Boolean = kwImpl(w, ignoreCase = false)

    /** Symbolic token (no word-boundary check — `>1500` is fine). */
    private def kwSym(w: String): Boolean = {
      if (i + w.length > n || !s.regionMatches(false, i, w, 0, w.length)) false
      else { i += w.length; true }
    }

    private def kwImpl(w: String, ignoreCase: Boolean): Boolean = {
      if (i + w.length > n || !s.regionMatches(ignoreCase, i, w, 0, w.length)) return false
      val after = i + w.length
      val ok = after >= n || !(Character.isLetterOrDigit(s.charAt(after)) ||
        s.charAt(after) == '_' || s.charAt(after) == ':')
      if (ok) i += w.length
      ok
    }

    private def until(c: Char): String = {
      val start = i
      while (i < n && s.charAt(i) != c) i += 1
      s.substring(start, i)
    }

    private def varName(): String = {
      expect('?')
      val start = i
      while (i < n && (Character.isLetterOrDigit(s.charAt(i)) || s.charAt(i) == '_')) i += 1
      if (i == start) fail("empty variable name")
      s.substring(start, i)
    }

    private def iriRef(): String = {
      expect('<')
      val v = until('>')
      expect('>')
      // resolve relative IRIs against an explicit BASE (RFC 3986 via
      // java.net.URI; plain concat if the base is too exotic for URI).
      // Without a BASE the raw form is kept — base-less relative IRIs
      // are implementation-defined and some callers (file paths) want
      // them verbatim for resolveFileIri.
      if (v.matches("^[A-Za-z][A-Za-z0-9+.-]*:.*")) v
      else baseIri match {
        case Some(b) =>
          try new java.net.URI(b).resolve(v).toString
          catch { case scala.util.control.NonFatal(_) => b + v }
        case None => v
      }
    }

    private def prefixedIri(): String = {
      val start = i
      while (i < n && s.charAt(i) != ':' &&
        (Character.isLetterOrDigit(s.charAt(i)) || s.charAt(i) == '_')) i += 1
      if (peek != ':') fail("expected prefixed name")
      val pfx = s.substring(start, i)
      i += 1
      val lstart = i
      // '/' is NOT a local-name char (SPARQL PN_LOCAL) — it is the path
      // sequence operator, so `ex:a/ex:b` must split at the slash. '.'
      // IS allowed mid-name (norse:sparql.fn.of, udf:simpleDefinition)
      // but never FINAL — a trailing dot is the statement terminator
      while (i < n && (Character.isLetterOrDigit(s.charAt(i)) ||
        s.charAt(i) == '_' || s.charAt(i) == '-' ||
        (s.charAt(i) == '.' && i + 1 < n &&
          (Character.isLetterOrDigit(s.charAt(i + 1)) ||
            s.charAt(i + 1) == '_')))) i += 1
      val ns = prefixes.getOrElse(pfx, fail(s"undeclared prefix '$pfx:'"))
      ns + s.substring(lstart, i)
    }

    /** SPARQL string literal: short or long (triple-quoted), either
      * quote char. Long strings take embedded newlines/quotes verbatim
      * (the docs examples' inline CSV/XML payloads).
      */
    private def stringLit(): String = {
      skipWs()
      val q = peek
      if (q != '"' && q != '\'') fail("expected a string literal")
      if (i + 2 < n && s.charAt(i + 1) == q && s.charAt(i + 2) == q) {
        i += 3
        val b = new StringBuilder
        while (i + 2 < n && !(s.charAt(i) == q && s.charAt(i + 1) == q &&
            s.charAt(i + 2) == q)) {
          if (s.charAt(i) == '\\' && i + 1 < n) {
            i += 1
            s.charAt(i) match {
              case 'n' => b.append('\n'); case 't' => b.append('\t')
              case 'r' => b.append('\r'); case '"' => b.append('"')
              case '\'' => b.append('\''); case '\\' => b.append('\\')
              case o => fail(s"unsupported escape \\$o")
            }
            i += 1
          } else { b.append(s.charAt(i)); i += 1 }
        }
        if (i + 2 >= n) fail("unterminated long string")
        i += 3
        return b.toString
      }
      shortString(q)
    }

    private def shortString(q: Char): String = {
      expect(q)
      val b = new StringBuilder
      while (i < n && s.charAt(i) != q) {
        if (s.charAt(i) == '\\') {
          if (i + 1 >= n) fail("dangling escape")
          i += 1
          s.charAt(i) match {
            case 'n' => b.append('\n'); i += 1
            case 't' => b.append('\t'); i += 1
            case 'r' => b.append('\r'); i += 1
            case 'b' => b.append('\b'); i += 1
            case 'f' => b.append('\f'); i += 1
            case '"' => b.append('"'); i += 1
            case '\'' => b.append('\''); i += 1
            case '\\' => b.append('\\'); i += 1
            case 'u' =>
              if (i + 5 > n) fail("bad \\u escape")
              b.append(Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar)
              i += 5
            case o => fail(s"unsupported escape \\$o") // never drop silently
          }
        } else { b.append(s.charAt(i)); i += 1 }
      }
      expect(q)
      b.toString
    }

    private def number(): String = {
      val start = i
      if (peek == '-') i += 1
      while (i < n && s.charAt(i).isDigit) i += 1
      s.substring(start, i)
    }
  }
}
