package graft.graphql

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.rules.ConstructParser

/** GraphQL→SPARQL query compiler: the reference's `rpt integrate
  * --server` GraphQL endpoint re-expressed as a plan-build-time compiler
  * (docs/graphql/index.md:9-24 — "from each GraphQL query a corresponding
  * SPARQL query and result set post processor is created"; the serving
  * layer itself stays scoped out). Supported directives: `@prefix`,
  * `@pattern(of/from/to)`, `@bind(of/as)`, `@join(parent/this)`,
  * `@one`/`@many(self/cascade)`, and `@index(by/oneIf)` on child
  * fields (docs/graphql/reference/ pages). Mutations, subscriptions,
  * and root-level `@index` reject loudly.
  *
  * Spark-first shape: every `@pattern` field compiles through
  * [[ConstructParser.parseSelect]] onto the quad table; the parent-child
  * "LATERAL join" (docs/graphql/reference/join.md) is an equi-join of the
  * child's `from` vars against the parent's `to` vars, with each child
  * pre-aggregated per join key (`collect_list` → sorted JSON array), so
  * the whole document builds bottom-up with one keyed aggregation per
  * nesting level and no driver-side row loops. JSON is assembled as
  * string columns (object keys in declaration order, arrays sorted) —
  * deterministic and DuckDB-mirrorable.
  *
  * Documented reductions: `@bind` expressions other than a plain `?var`
  * see ancestor vars as raw lexical term strings (the binding-stream
  * expression mode); `@one` enforces its ≤1 cardinality with a runtime
  * `raise_error`; variable scopes are NOT auto-renamed across sibling
  * branches — reuse of a var name in unrelated branches is on the query
  * author (loud in practice: the join keys make collisions visible).
  */
object GraphQl {

  // ------------------------------------------------------------------ AST

  sealed trait Value
  final case class SVal(s: String) extends Value
  final case class BVal(b: Boolean) extends Value
  final case class LVal(vs: Seq[String]) extends Value
  final case class MVal(m: Seq[(String, String)]) extends Value

  final case class Directive(name: String, args: Map[String, Value])
  final case class Field(name: String, directives: Seq[Directive],
      children: Seq[Field])
  final case class Query(directives: Seq[Directive], roots: Seq[Field])

  // -------------------------------------------------------------- parsing

  /** Recursive-descent GraphQL subset parser: optional `query Name`
    * header with directives, then nested selection sets of fields with
    * directives. Commas are insignificant (GraphQL spec), `#` comments.
    */
  def parse(text: String): Query = new P(text).query()

  private final class P(s: String) {
    private var i = 0
    private val n = s.length
    private def fail(msg: String): Nothing =
      throw new IllegalArgumentException(
        s"GraphQL parse error at offset $i: $msg near " +
          s.substring(i, math.min(n, i + 25)))
    private def ws(): Unit = {
      var go = true
      while (go && i < n) {
        val c = s.charAt(i)
        if (c.isWhitespace || c == ',') i += 1
        else if (c == '#') { while (i < n && s.charAt(i) != '\n') i += 1 }
        else go = false
      }
    }
    private def peek: Char = if (i < n) s.charAt(i) else '\u0000'
    private def expect(c: Char): Unit =
      if (peek == c) i += 1 else fail(s"expected '$c'")
    private def nameAhead: Boolean = peek.isLetter || peek == '_'
    private def name(): String = {
      ws()
      if (!nameAhead) fail("expected a name")
      val st = i
      while (i < n && (s.charAt(i).isLetterOrDigit || s.charAt(i) == '_')) i += 1
      s.substring(st, i)
    }
    private def str(): String = {
      expect('"')
      val b = new StringBuilder
      while (i < n && s.charAt(i) != '"') {
        val c = s.charAt(i)
        if (c == '\\' && i + 1 < n) {
          i += 1
          s.charAt(i) match {
            case '"' => b.append('"'); case '\\' => b.append('\\')
            case 'n' => b.append('\n'); case 't' => b.append('\t')
            case o => b.append('\\').append(o)
          }
        } else b.append(c)
        i += 1
      }
      expect('"')
      b.toString
    }
    private def value(): Value = {
      ws()
      peek match {
        case '"' => SVal(str())
        case '[' =>
          i += 1; ws()
          val out = scala.collection.mutable.ArrayBuffer[String]()
          while (peek != ']') { out += str(); ws() }
          i += 1
          LVal(out.toSeq)
        case '{' =>
          i += 1; ws()
          val out = scala.collection.mutable.ArrayBuffer[(String, String)]()
          while (peek != '}') {
            val k = name(); ws(); expect(':'); ws()
            out += (k -> str()); ws()
          }
          i += 1
          MVal(out.toSeq)
        case c if c.isLetter =>
          name() match {
            case "true" => BVal(true)
            case "false" => BVal(false)
            case o => fail(s"unsupported bare value $o")
          }
        case _ => fail("expected a directive argument value")
      }
    }
    private def directives(): Seq[Directive] = {
      val out = scala.collection.mutable.ArrayBuffer[Directive]()
      ws()
      while (peek == '@') {
        i += 1
        val dn = name()
        val args = scala.collection.mutable.LinkedHashMap[String, Value]()
        ws()
        if (peek == '(') {
          i += 1; ws()
          while (peek != ')') {
            val k = name(); ws(); expect(':')
            args(k) = value(); ws()
          }
          i += 1
        }
        out += Directive(dn, args.toMap)
        ws()
      }
      out.toSeq
    }
    private def field(): Field = {
      val fn = name()
      ws()
      // GraphQL-language features the reference's directive dialect does
      // not document (docs/graphql/reference/ has no aliases, arguments,
      // fragments or operation variables) reject LOUDLY, never silently
      if (peek == ':')
        fail(s"field $fn: aliases are not supported — rename the field")
      if (peek == '(')
        fail(s"field $fn: field arguments are not supported — the " +
          "directive dialect (@pattern/@bind/...) carries all parameters")
      val ds = directives()
      ws()
      val kids = if (peek == '{') selectionSet() else Nil
      Field(fn, ds, kids)
    }
    private def selectionSet(): Seq[Field] = {
      ws(); expect('{'); ws()
      val out = scala.collection.mutable.ArrayBuffer[Field]()
      while (peek != '}') {
        if (peek == '.')
          fail("fragment spreads are not supported — inline the selection")
        if (!nameAhead) fail("expected a field name")
        out += field(); ws()
      }
      i += 1
      out.toSeq
    }
    def query(): Query = {
      ws()
      var dirs = Seq.empty[Directive]
      if (nameAhead) {
        val kw = name()
        if (kw == "mutation" || kw == "subscription")
          fail(s"$kw operations are not supported (queries only)")
        if (kw == "fragment")
          fail("fragment definitions are not supported — inline the selection")
        if (kw != "query") fail(s"expected 'query' or a selection set")
        ws()
        if (nameAhead) name() // operation name, ignored
        ws()
        if (peek == '(')
          fail("operation variables are not supported — interpolate " +
            "values into the query text")
        dirs = directives()
      }
      val roots = selectionSet()
      ws()
      if (i < n) fail("trailing input after the selection set")
      Query(dirs, roots)
    }
  }

  // ------------------------------------------------------------ compiling

  private def strArg(d: Directive, k: String): Option[String] =
    d.args.get(k).map {
      case SVal(v) => v
      case other => throw new IllegalArgumentException(
        s"@${d.name}($k:) expects a string, got $other")
    }
  private def varsArg(d: Directive, k: String): Seq[String] =
    d.args.get(k).toSeq.flatMap {
      case SVal(v) => Seq(v)
      case LVal(vs) => vs
      case other => throw new IllegalArgumentException(
        s"@${d.name}($k:) expects a string or array, got $other")
    }
  private def boolArg(d: Directive, k: String, dflt: Boolean): Boolean =
    d.args.get(k).map {
      case BVal(b) => b
      case other => throw new IllegalArgumentException(
        s"@${d.name}($k:) expects a boolean, got $other")
    }.getOrElse(dflt)

  private def prefixesOf(ds: Seq[Directive]): Seq[(String, String)] =
    ds.filter(_.name == "prefix").flatMap { d =>
      val single = strArg(d, "name").zip(strArg(d, "iri")).toSeq
      val mapped = d.args.get("map").toSeq.flatMap {
        case MVal(m) => m
        case other => throw new IllegalArgumentException(
          s"@prefix(map:) expects a map, got $other")
      }
      single ++ mapped
    }

  /** JSON string literal from a raw string column (escape backslash,
    * quote, and the common control chars — literal replaces, no regex).
    */
  private def jsonEsc(c: Column): Column = {
    val esc = Seq("\\" -> "\\\\", "\"" -> "\\\"", "\n" -> "\\n",
      "\r" -> "\\r", "\t" -> "\\t")
      .foldLeft(c) { case (acc, (f, t)) => replace(acc, lit(f), lit(t)) }
    concat(lit("\""), esc, lit("\""))
  }

  private def rawTerm(c: Column): Column =
    graft.functions.RdfTerms.termLexical(c)

  private final case class NodeCfg(
      field: Field,
      pattern: Option[String], from: Seq[String], to: Seq[String],
      bind: Option[String],
      joinParent: Seq[String], joinThis: Seq[String],
      one: Boolean, cascadeOne: Option[Boolean],
      indexBy: Option[String], indexOne: Boolean,
      prefixes: Seq[(String, String)])

  private def cfg(f: Field, inheritedOne: Option[Boolean],
      outerPrefixes: Seq[(String, String)]): NodeCfg = {
    f.directives.foreach { d =>
      d.name match {
        case "prefix" | "pattern" | "bind" | "join" | "one" | "many"
           | "index" => ()
        case other => throw new IllegalArgumentException(
          s"field ${f.name}: unknown directive @$other")
      }
    }
    val pat = f.directives.find(_.name == "pattern")
    val bind = f.directives.find(_.name == "bind")
    require(pat.isEmpty || bind.isEmpty,
      s"field ${f.name}: @pattern and @bind are mutually exclusive")
    require(pat.nonEmpty || bind.nonEmpty,
      s"field ${f.name}: needs @pattern or @bind")
    require(f.directives.forall(_.name != "index") || bind.isEmpty,
      s"field ${f.name}: @index needs a @pattern field (a @bind value " +
        "has no key stream to index)")
    val join = f.directives.find(_.name == "join")
    val to = pat.toSeq.flatMap(varsArg(_, "to"))
    val from0 = pat.toSeq.flatMap(varsArg(_, "from"))
    val from = if (from0.nonEmpty) from0 else to
    // cardinality: explicit @one/@many(self:true) > inherited cascade >
    // default (@many for patterns, @one for binds)
    val cardD = f.directives.find(d => d.name == "one" || d.name == "many")
    val explicit = cardD.collect {
      case d if boolArg(d, "self", dflt = true) => d.name == "one"
    }
    val one = explicit.orElse(inheritedOne).getOrElse(bind.nonEmpty)
    val cascade = cardD.collect {
      case d if boolArg(d, "cascade", dflt = false) => d.name == "one"
    }
    // @index(by: "?var"[, oneIf: "true"|"false"]): the field becomes a
    // JSON OBJECT keyed by the ?var value (docs/graphql/reference/
    // index-directive.md); the subset takes a plain var key and a
    // constant oneIf
    val idx = f.directives.find(_.name == "index")
    val indexBy = idx.map { d =>
      val by = strArg(d, "by").getOrElse(throw new IllegalArgumentException(
        s"field ${f.name}: @index needs by:"))
      require(by.trim.matches("^\\?[A-Za-z_][A-Za-z0-9_]*$"),
        s"field ${f.name}: @index(by:) supports a plain ?var key, got $by")
      by.trim.substring(1)
    }
    val indexOne = idx.exists(d => strArg(d, "oneIf") match {
      case None | Some("false") => false
      case Some("true") => true
      case Some(other) => throw new IllegalArgumentException(
        s"field ${f.name}: @index(oneIf:) supports \"true\"/\"false\" " +
          s"constants, got $other")
    })
    NodeCfg(f, pat.flatMap(strArg(_, "of")), from, to,
      bind.flatMap(strArg(_, "of")),
      join.toSeq.flatMap(varsArg(_, "parent")),
      join.toSeq.flatMap(varsArg(_, "this")),
      one, cascade, indexBy, indexOne,
      outerPrefixes ++ prefixesOf(f.directives))
  }

  private def prefixHeader(ps: Seq[(String, String)]): String =
    ps.map { case (p, iri) => s"PREFIX $p: <$iri>" }.mkString("", "\n", "\n")

  /** Evaluate a node's pattern and assemble its per-solution JSON value
    * ("#js"), with all pattern children joined in pre-aggregated.
    * Returns the solution frame (pattern vars + "#js").
    */
  private def solutions(c: NodeCfg, quads: DataFrame,
      inheritedCascade: Option[Boolean]): DataFrame = {
    val of = c.pattern.getOrElse(throw new IllegalArgumentException(
      s"field ${c.field.name}: nested selection needs @pattern"))
    val base0 = ConstructParser.parseSelect(
      prefixHeader(c.prefixes) + s"SELECT * WHERE { $of }").run(quads)
    (c.from ++ c.to).foreach(v => require(base0.columns.contains(v),
      s"field ${c.field.name}: var ?$v is not bound by the pattern ($of)"))
    require(c.to.nonEmpty,
      s"field ${c.field.name}: @pattern needs at least one target var")

    if (c.field.children.isEmpty) {
      // leaf: value = target term's lexical form (tuple → JSON array)
      val vals = c.to.map(v => jsonEsc(rawTerm(col(v))))
      val js = if (vals.size == 1) vals.head
        else concat(lit("["), concat_ws(",", vals: _*), lit("]"))
      base0.withColumn("#js", js)
    } else {
      // object node: join each pattern child pre-aggregated, compute
      // bind children inline, assemble the object in declaration order
      var frame = base0
      val parts = scala.collection.mutable.ArrayBuffer[Column]()
      c.field.children.zipWithIndex.foreach { case (child, k) =>
        val cc = cfg(child, c.cascadeOne.orElse(inheritedCascade), c.prefixes)
        val valueCol: Column = if (cc.bind.nonEmpty) {
          val of = cc.bind.get
          val vCol =
            if (of.trim.matches("^\\?[A-Za-z_][A-Za-z0-9_]*$")) {
              val v = of.trim.substring(1)
              require(frame.columns.contains(v),
                s"field ${child.name}: @bind(of: \"$of\") references an " +
                  "unbound var")
              rawTerm(col(v))
            } else {
              // general expression: binding-stream compile over the
              // CURRENT frame (ancestor vars as raw term strings)
              val bv = s"__gqlbind$k"
              frame = ConstructParser.parseSelect(
                prefixHeader(cc.prefixes) +
                  s"SELECT * WHERE { BIND($of AS ?$bv) }").run(frame)
              col(bv)
            }
          if (cc.one) coalesce(jsonEsc(vCol.cast("string")), lit("null"))
          else when(vCol.isNull, lit("[]"))
            .otherwise(concat(lit("["), jsonEsc(vCol.cast("string")), lit("]")))
        } else {
          val agg = aggregated(cc, quads, c.cascadeOne.orElse(inheritedCascade))
          // LATERAL-join rule: child `from`/@join(this) vars against this
          // node's `to`/@join(parent) vars (docs/graphql/reference/join.md)
          val parentKeys = if (cc.joinParent.nonEmpty) cc.joinParent else c.to
          val childKeys = if (cc.joinThis.nonEmpty) cc.joinThis
            else if (cc.joinParent.nonEmpty) cc.from.take(cc.joinParent.size)
            else cc.from
          require(parentKeys.size == childKeys.size && parentKeys.nonEmpty,
            s"field ${child.name}: join needs equally many parent/child " +
              s"vars (parent $parentKeys vs child $childKeys)")
          parentKeys.foreach(v => require(frame.columns.contains(v),
            s"field ${child.name}: join var ?$v is not bound at the parent"))
          val renamed = childKeys.zipWithIndex.foldLeft(
            agg.select((childKeys :+ "#js").distinct.map(col): _*)) {
            case (df, (v, j)) => df.withColumnRenamed(v, s"#jk$j")
          }.withColumnRenamed("#js", s"#cjs$k")
          val cond = parentKeys.zipWithIndex.map { case (v, j) =>
            col(v) === col(s"#jk$j") }.reduce(_ && _)
          frame = frame.join(renamed, cond, "left")
            .drop(childKeys.indices.map(j => s"#jk$j"): _*)
          coalesce(col(s"#cjs$k"), if (cc.one) lit("null") else lit("[]"))
        }
        parts += concat(lit((if (k == 0) "" else ",") +
          "\"" + child.name + "\":"), valueCol)
      }
      frame.withColumn("#js",
        concat(lit("{") +: parts.toSeq :+ lit("}"): _*))
    }
  }

  /** A node aggregated per join key: `[from vars…, #js]`, where #js is a
    * sorted JSON array (@many) or the single value with a loud runtime
    * cardinality guard (@one).
    */
  private def aggregated(c: NodeCfg, quads: DataFrame,
      inheritedCascade: Option[Boolean]): DataFrame = {
    // A leaf whose target var is unbound (OPTIONAL in the @pattern) has a
    // NULL #js; collect_list would silently drop it — for @many that loses
    // array elements, and an all-unbound @one group would collapse to an
    // empty array and element_at(arr, 1) throws under ANSI. Keep the
    // solution as an explicit JSON null instead.
    val sols = solutions(c, quads, inheritedCascade)
      .withColumn("#js", coalesce(col("#js"), lit("null")))
    val arr = array_sort(collect_list(col("#js")))
    c.indexBy match {
      case Some(bv) =>
        // @index: JSON object keyed by ?bv — two keyed aggregations
        // (per from+key, then per from), entries sorted by key
        require(sols.columns.contains(bv),
          s"field ${c.field.name}: @index(by: ?$bv) is not bound by the pattern")
        val inner =
          if (c.indexOne)
            when(size(arr) > 1, raise_error(concat(
              lit(s"field ${c.field.name} @index(oneIf) matched "),
              size(arr).cast("string"), lit(" values for one key"))))
              .otherwise(element_at(arr, 1))
          else concat(lit("["), array_join(arr, ","), lit("]"))
        val perKey = sols
          // a NULL key would silently vanish from collect_list — reject
          // loudly instead of losing rows (use a bound key var)
          .withColumn("#ik", when(col(bv).isNull, raise_error(lit(
            s"field ${c.field.name}: @index key ?$bv is unbound for some " +
              "solutions"))).otherwise(col(bv)))
          .groupBy((c.from :+ "#ik").distinct.map(col): _*)
          .agg(inner.as("#v"))
          .select(col("*"), concat(jsonEsc(rawTerm(col("#ik"))), lit(":"),
            col("#v")).as("#entry"))
        perKey.groupBy(c.from.map(col): _*)
          .agg(concat(lit("{"),
            array_join(array_sort(collect_list(col("#entry"))), ","),
            lit("}")).as("#js"))
      case None =>
        val js =
          if (c.one)
            when(size(arr) > 1, raise_error(concat(
              lit(s"field ${c.field.name} is @one but matched "),
              size(arr).cast("string"), lit(" values"))))
              .otherwise(element_at(arr, 1))
          else concat(lit("["), array_join(arr, ","), lit("]"))
        sols.groupBy(c.from.map(col): _*).agg(js.as("#js"))
    }
  }

  /** Compile a GraphQL query over a quad/triple table: one row per ROOT
    * solution — `(field, id, js)` with `id` = the root target's lexical
    * form and `js` the entity's JSON document. Multiple root fields
    * union. For the single-document response shape use [[document]].
    */
  def compile(quads: DataFrame, text: String): DataFrame = {
    val q = parse(text)
    val qPrefixes = prefixesOf(q.directives)
    require(q.roots.nonEmpty, "GraphQL query has no root fields")
    // every @pattern field evaluates its own SELECT over `quads` — a
    // query with P patterns would otherwise re-derive the quad table P
    // times (the r10 before-plan showed 5 copies of the scan→window→
    // extract subtree). Materialize the scan ONCE when more than one
    // pattern reads it: Spark's publish()-equivalent of the reference's
    // shared record stream (MainCliVoidGenerator fans one scan into all
    // subscribers). Lazy lineage cut — blocks die with the result.
    def patterns(f: Field): Int =
      f.directives.count(_.name == "pattern") + f.children.map(patterns).sum
    val nPat = q.roots.map(patterns).sum
    val src =
      if (nPat > 1) {
        import graft.Checkpoints.TruncateOps
        quads.truncateLineage(false)
      } else quads
    q.roots.map { root =>
      val rc = cfg(root, None, qPrefixes)
      require(rc.pattern.nonEmpty,
        s"root field ${root.name}: needs @pattern")
      require(rc.indexBy.isEmpty,
        s"root field ${root.name}: @index is only supported on child fields")
      val sols = solutions(rc, src, None)
      sols.select(lit(root.name).as("field"),
        rawTerm(col(rc.to.head)).as("id"), col("#js").as("js"))
    }.reduce(_ unionByName _)
  }

  /** Whole-response JSON (the `{"data":{…}}` envelope the reference's
    * endpoint returns): root arrays sorted like the per-row form.
    */
  def document(quads: DataFrame, text: String): String = {
    val rows = compile(quads, text)
      .select(col("field"), col("js")).collect()
    val byField = rows.groupBy(_.getString(0)).toSeq.sortBy(_._1)
    byField.map { case (f, rs) =>
      "\"" + f + "\":[" + rs.map(_.getString(1)).sorted.mkString(",") + "]"
    }.mkString("{\"data\":{", ",", "}}")
  }
}
