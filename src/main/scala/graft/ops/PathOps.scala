package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Checkpoints.TruncateOps

/** SPARQL 1.1 property paths (§9) over a triple DataFrame — the reference
  * evaluates these inside Jena ARQ (any `integrate` query may use
  * `ex:a/ex:b`, `ex:p+`, `^ex:p`, `!(…)` — SparqlIntegrateCmdImpls.java
  * routes the full SPARQL grammar). Spark-first re-expression:
  *
  *  - link / inverse / sequence / alternative / negated set are pure
  *    relational ops (filter, swap, equi-join, union), joined in textual
  *    order (no cost-based reordering: CBO is off, no statistics exist).
  *  - `+`/`*` closures are iterative DISTINCT self-joins with DOUBLING
  *    (R ← R ∪ R∘R), so a diameter-d graph needs ⌈log₂ d⌉ rounds, not d —
  *    the right shape for a 1000-executor cluster where every round is a
  *    full shuffle. `localCheckpoint` truncates lineage each round (same
  *    pattern as [[graft.cc.ConnectedComponents]]). Cycles terminate
  *    because the closed pair-set is bounded and strictly grows.
  *  - a closure with a CONSTANT endpoint runs seeded frontier BFS instead
  *    (visited/frontier sets, anti-join dedup) — work proportional to the
  *    reachable set, not the whole graph.
  *
  * Closure results are DISTINCT pairs per the spec's arbitrary-length-path
  * semantics (SPARQL 1.1 §9.3: no duplicates from `*`/`+`); the
  * non-closure operators keep bag semantics like any BGP join.
  */
object PathOps {

  sealed trait PathExpr
  /** `iri` — one edge step; `iri` is the BARE IRI (no angle brackets). */
  final case class Link(iri: String) extends PathExpr
  final case class Inv(p: PathExpr) extends PathExpr
  final case class Sequence(parts: Seq[PathExpr]) extends PathExpr
  final case class Alt(parts: Seq[PathExpr]) extends PathExpr
  final case class ZeroOrOne(p: PathExpr) extends PathExpr
  final case class ZeroOrMore(p: PathExpr) extends PathExpr
  final case class OneOrMore(p: PathExpr) extends PathExpr
  /** `!(iri… | ^iri…)` — any predicate not in `fwd` (forward) plus any
    * inverted edge whose predicate is not in `inv` (SPARQL 1.1 §9.1
    * splits a negated set into forward and reverse halves).
    */
  final case class NegatedSet(fwd: Seq[String], inv: Seq[String]) extends PathExpr

  private val MaxRounds = 40 // path lengths up to 2^40 — beyond any real graph

  private def term(iri: String) = "<" + iri + ">"

  /** Evaluate a path to its solution pairs: DataFrame(s, o). With
    * `perGraph` the path is evaluated WITHIN each named graph of a quad
    * table: DataFrame(g, s, o), every join keyed on the graph as well — a
    * `GRAPH ?g { ?s path ?o }` pattern walks each graph independently
    * (and at scale the graph key co-partitions every round of the
    * closure).
    */
  def eval(triples: DataFrame, p: PathExpr, perGraph: Boolean = false): DataFrame = {
    def edges(df: DataFrame, s: String, o: String) =
      df.select(keyed(perGraph, col("graph").as("g"),
        col(s).as("s"), col(o).as("o")): _*)
    p match {
      case Link(iri) => edges(triples.where(col("pred") === term(iri)), "subj", "obj")
      case Inv(q) =>
        eval(triples, q, perGraph).select(keyed(perGraph, col("g"),
          col("o").as("s"), col("s").as("o")): _*)
      case Sequence(parts) =>
        parts.map(eval(triples, _, perGraph)).reduceLeft(compose(_, _, perGraph))
      case Alt(parts) =>
        parts.map(eval(triples, _, perGraph)).reduceLeft(_ union _)
      case ZeroOrOne(q) =>
        eval(triples, q, perGraph).union(identityPairs(triples, perGraph)).distinct()
      case OneOrMore(q) => closure(eval(triples, q, perGraph), perGraph)
      case ZeroOrMore(q) =>
        closure(eval(triples, q, perGraph), perGraph)
          .union(identityPairs(triples, perGraph)).distinct()
      case NegatedSet(fwd, inv) =>
        val f = edges(triples.where(!col("pred").isin(fwd.map(term): _*)),
          "subj", "obj")
        if (inv.isEmpty) f
        else f.union(edges(triples.where(!col("pred").isin(inv.map(term): _*)),
          "obj", "subj"))
    }
  }

  /** `cols`, led by the graph key `g` when evaluating per graph. */
  private def keyed(perGraph: Boolean, g: => Column, cols: Column*): Seq[Column] =
    if (perGraph) g +: cols else cols

  /** One path step after another: `a.o = b.s` (in the same graph). */
  private def compose(a: DataFrame, b: DataFrame, perGraph: Boolean): DataFrame =
    a.as("l").join(b.as("r"),
      keyed(perGraph, col("l.g") === col("r.g"), col("l.o") === col("r.s"))
        .reduce(_ && _))
      .select(keyed(perGraph, col("l.g").as("g"),
        col("l.s").as("s"), col("r.o").as("o")): _*)

  /** Zero-length path: every node of the graph relates to itself
    * (SPARQL 1.1 §9.3 — nodes are all terms in subject or object
    * position, literals included).
    */
  private def identityPairs(triples: DataFrame, perGraph: Boolean): DataFrame =
    triples.select(keyed(perGraph, col("graph").as("g"), col("subj").as("s")): _*)
      .union(triples.select(keyed(perGraph, col("graph"), col("obj").as("s")): _*))
      .distinct()
      .select(keyed(perGraph, col("g"), col("s"), col("s").as("o")): _*)

  /** Transitive closure by doubling: pairs at length ≤ 2^k after k
    * rounds; fixpoint when the distinct pair count stops growing.
    */
  private[graft] def closure(edges: DataFrame,
      perGraph: Boolean = false): DataFrame = {
    var r = edges.select(keyed(perGraph, col("g"), col("s"), col("o")): _*)
      .distinct().truncateLineage(true)
    var size = r.count()
    var round = 0
    while (round < MaxRounds) {
      val next = r.union(compose(r, r, perGraph)).distinct().truncateLineage(true)
      val nsize = next.count()
      if (nsize == size) return r
      r = next
      size = nsize
      round += 1
    }
    throw new IllegalStateException(
      s"path closure did not converge in $MaxRounds doubling rounds")
  }

  /** Seminaive (delta-frontier) transitive closure: each round extends
    * only the NEW pairs by one edge (Δ ← (Δ ⋈ E) \ R), so total join work
    * is proportional to the result, not |R|² per round — but rounds =
    * graph diameter, not log₂(diameter). The right choice for bushy
    * low-diameter graphs; [[closure]] (doubling) wins on long chains,
    * where d sequential shuffle barriers dominate. Measured on both
    * shapes by `Bench path` — see BASELINE.md.
    */
  /** Materialize a frame to a cached RDD and rebuild it as a flat scan
    * with FRESH attribute ids — lineage truncation like `localCheckpoint`,
    * but safe for plans that reference the same source three times (the
    * seminaive delta ⋈ edges \ all shape trips Spark 4's checkpoint
    * attribute mapping and AQE metrics reset).
    */
  private def materialize(df: DataFrame): DataFrame =
    // RDD-level checkpoint TRUNCATES LINEAGE (plain persist would let
    // the per-round RDD chain grow until task serialization
    // stack-overflows at diameter-many rounds); reliable when
    // graft.checkpointDir is set
    graft.Checkpoints.truncateRdd(df)

  private[graft] def closureSeminaive(edges: DataFrame): DataFrame = {
    val e = materialize(edges.select("s", "o").distinct())
    var all = e
    var delta = e
    var round = 0
    while (round < (1 << 20)) {
      val next = materialize(
        delta.as("l").join(e.as("r"), col("l.o") === col("r.s"))
          .select(col("l.s").as("s"), col("r.o").as("o"))
          .distinct()
          .join(all, Seq("s", "o"), "left_anti"))
      if (next.limit(1).count() == 0) return all
      // re-materialized union: flat plan + fresh ids every round, so the
      // per-round planning cost stays O(1) at diameter-many rounds
      all = materialize(all.union(next))
      delta = next
      round += 1
    }
    throw new IllegalStateException("seminaive closure did not converge")
  }

  /** One-row (c, c) frame on the session of `like`. */
  private def constPair(like: DataFrame, c: String): DataFrame = {
    val spark = like.sparkSession
    import spark.implicits._
    Seq((c, c)).toDF("s", "o")
  }

  /** Seeded reachability (constant endpoint): frontier BFS with anti-join
    * dedup; `includeZero` adds the seed itself (for `*`).
    */
  private[ops] def reachableFrom(edges: DataFrame, seed: String,
      includeZero: Boolean): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    var visited = edges.where(col("s") === seed).select("o")
      .distinct().truncateLineage(true)
    var frontier = visited
    var round = 0
    while (frontier.limit(1).count() > 0 && round < (1 << 20)) {
      val next = frontier.as("f")
        .join(edges.as("e"), col("f.o") === col("e.s"))
        .select(col("e.o"))
        .distinct()
        .join(visited, Seq("o"), "left_anti")
        .truncateLineage(true)
      visited = visited.union(next).truncateLineage(true)
      frontier = next
      round += 1
    }
    val reached = visited.select(lit(seed).as("s"), col("o"))
    if (includeZero)
      reached.union(Seq(seed).toDF("s").select(col("s"), col("s").as("o")))
        .distinct()
    else reached
  }

  /** Graph-scoped path pattern: the graph position binds/filters like any
    * other (so `GRAPH ?g { <s> path ?o }` works with a variable graph).
    */
  def pathPatternG(quads: DataFrame, g: Either[String, String],
      s: Either[String, String], path: PathExpr,
      o: Either[String, String]): DataFrame =
    Bgp.bindPositions(eval(quads, path, perGraph = true),
      Seq("g" -> g, "s" -> s, "o" -> o))

  /** A whole path triple pattern: constants filter (or seed a BFS for
    * closures), variables project, repeated variables enforce equality —
    * mirroring [[Bgp.pattern]] so path patterns join into BGP groups like
    * any other pattern.
    */
  def pathPattern(triples: DataFrame, s: Either[String, String],
      path: PathExpr, o: Either[String, String]): DataFrame = {
    val pairs = (path, s, o) match {
      // seeded fast paths: closure from/to a constant endpoint
      case (OneOrMore(q), Left(c), _) =>
        reachableFrom(eval(triples, q), c, includeZero = false)
      case (ZeroOrMore(q), Left(c), _) =>
        reachableFrom(eval(triples, q), c, includeZero = true)
      case (OneOrMore(q), _, Left(c)) =>
        reachableFrom(
          eval(triples, q).select(col("o").as("s"), col("s").as("o")),
          c, includeZero = false)
          .select(col("o").as("s"), col("s").as("o"))
      case (ZeroOrMore(q), _, Left(c)) =>
        reachableFrom(
          eval(triples, q).select(col("o").as("s"), col("s").as("o")),
          c, includeZero = true)
          .select(col("o").as("s"), col("s").as("o"))
      // ZeroOrOne with a constant endpoint: the zero-length solution is
      // the constant itself, REGARDLESS of whether it occurs in the data
      // (SPARQL 1.1 §9.3 ZeroLengthPath on a bound term) — identityPairs
      // would miss a term absent from the graph
      case (ZeroOrOne(q), Left(c), _) =>
        eval(triples, q).where(col("s") === c)
          .union(constPair(triples, c)).distinct()
      case (ZeroOrOne(q), _, Left(c)) =>
        eval(triples, q).where(col("o") === c)
          .union(constPair(triples, c)).distinct()
      case _ => eval(triples, path)
    }
    Bgp.bindPositions(pairs, Seq("s" -> s, "o" -> o))
  }
}
