package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Checkpoints.TruncateOps

/** SPARQL basic-graph-pattern algebra over a triple/quad DataFrame —
  * the reference executes these inside Jena ARQ (BGP conjunction =
  * equi-join on shared variables, OPTIONAL = left outer, MINUS = anti,
  * EXISTS = semi, UNION = union; SparqlIntegrateCmdImpls.java:1036,
  * algebra at :673-677). Here each triple pattern is a filtered
  * projection of the triple table and the join structure is handed to
  * Catalyst, which picks each join's strategy (broadcast or shuffle) but
  * not the order: cost-based reordering is off and no table statistics
  * exist, so joins run in textual pattern order.
  */
object Bgp {

  /** One triple pattern: constants filter, variables project.
    * Each position is Left(constant term) or Right(varName).
    */
  def pattern(triples: DataFrame,
      s: Either[String, String],
      p: Either[String, String],
      o: Either[String, String]): DataFrame =
    bindPositions(triples, Seq("subj" -> s, "pred" -> p, "obj" -> o))

  /** Quad pattern — a triple pattern inside `GRAPH g { … }` (SPARQL 1.1
    * §13.3): the graph position filters/binds like any other, except a
    * graph VARIABLE ranges over NAMED graphs only — the default graph is
    * not named, so `GRAPH ?g` must not bind it (the canned spogspo.rq
    * depends on this: its two UNION branches partition default vs named).
    */
  def quadPattern(quads: DataFrame,
      g: Either[String, String],
      s: Either[String, String],
      p: Either[String, String],
      o: Either[String, String]): DataFrame = {
    val base = g match {
      case Right(_) =>
        quads.filter(col("graph") =!= "<urn:x-arq:DefaultGraph>")
      case Left(_) => quads
    }
    bindPositions(base,
      Seq("graph" -> g, "subj" -> s, "pred" -> p, "obj" -> o))
  }

  private[ops] def bindPositions(df: DataFrame,
      bind: Seq[(String, Either[String, String])]): DataFrame = {
    val filtered = bind.foldLeft(df) {
      case (df, (c, Left(const))) => df.filter(col(c) === const)
      case (df, _) => df
    }
    // a variable repeated within one pattern (e.g. ?x ?p ?x) is an
    // implicit equality constraint in SPARQL: filter on it and project
    // the variable ONCE (a duplicate column name would silently corrupt
    // downstream joins)
    val vars = bind.collect { case (c, Right(v)) => (c, v) }
    val eqFilters = vars.groupBy(_._2).values.filter(_.size > 1)
      .flatMap(g => g.tail.map(t => col(g.head._1) === col(t._1)))
    val constrained = eqFilters.foldLeft(filtered)(_ filter _)
    val projected = vars.groupBy(_._2).map(_._2.head)
      .toSeq.sortBy(t => vars.indexOf(t))
      .map { case (c, v) => col(c).as(v) }
    constrained.select(projected: _*)
  }

  private def shared(a: DataFrame, b: DataFrame): Seq[String] =
    a.columns.intersect(b.columns).toSeq

  /** Conjunction: natural equi-join on shared variables (disjoint
    * domains = cartesian product, per SPARQL join semantics).
    */
  def join(a: DataFrame, b: DataFrame): DataFrame = {
    val s = shared(a, b)
    if (s.isEmpty) a.crossJoin(b) else a.join(b, s, "inner")
  }

  /** OPTIONAL { … }: left outer on shared vars; with disjoint domains
    * every pairing is compatible, but left rows survive an empty right.
    */
  def optional(a: DataFrame, b: DataFrame): DataFrame = {
    val s = shared(a, b)
    if (s.isEmpty) a.join(b, lit(true), "left_outer")
    else a.join(b, s, "left_outer")
  }

  /** FILTER EXISTS { … }: left semi. Disjoint domains: keep all rows iff
    * the subpattern has ANY solution (1-row probe, broadcast).
    */
  def exists(a: DataFrame, b: DataFrame): DataFrame = {
    val s = shared(a, b)
    if (s.isEmpty) a.join(broadcast(b.limit(1)), lit(true), "left_semi")
    else a.join(b, s, "left_semi")
  }

  /** FILTER NOT EXISTS { … }: left anti. Disjoint domains: drop ALL rows
    * iff the subpattern has any solution.
    */
  def notExists(a: DataFrame, b: DataFrame): DataFrame = {
    val s = shared(a, b)
    if (s.isEmpty) a.join(broadcast(b.limit(1)), lit(true), "left_anti")
    else a.join(b, s, "left_anti")
  }

  /** MINUS { … }: left anti on shared vars — but per SPARQL 1.1 §8.3 a
    * MINUS whose domains share NO variable removes nothing (unlike
    * FILTER NOT EXISTS, which tests plain satisfiability).
    *
    * This fast equi-join path is correct when the shared variables are
    * bound on every row of BOTH sides (the normal BGP case). When either
    * side may carry unbound (NULL) shared vars — OPTIONAL, UNION with
    * disjoint branches, VALUES UNDEF — use [[minusCompat]]: SQL
    * NULL-equality would keep a left row that §8.3 compatibility (unbound
    * is compatible with anything) removes.
    */
  def minus(a: DataFrame, b: DataFrame): DataFrame = {
    val s = shared(a, b)
    if (s.isEmpty) a else a.join(b, s, "left_anti")
  }

  /** MINUS with full §8.3 compatibility semantics: remove a left row iff
    * some right row (1) agrees on every shared var where BOTH are bound
    * and (2) shares at least one mutually-bound var (non-empty domain
    * intersection). The OR-condition defeats hash-join key extraction, so
    * this is a nested-loop join — the BGP compiler routes here only when
    * a shared var can actually be unbound (tracked at plan build); the
    * all-bound common case keeps [[minus]]'s shuffled anti equi-join.
    */
  def minusCompat(a: DataFrame, b: DataFrame): DataFrame = {
    val s = shared(a, b)
    if (s.isEmpty) return a
    val bb = b.select(s.map(c => col(c).as("#m_" + c)): _*).distinct()
    val compatible = s.map(v =>
      col(v).isNull || col("#m_" + v).isNull || col(v) === col("#m_" + v))
      .reduce(_ && _)
    val domShared = s.map(v => col(v) === col("#m_" + v)).reduce(_ || _)
    a.join(bb, compatible && domShared, "left_anti")
  }

  // ---------------------------------------------- compatibility variants
  //
  // SPARQL §8.3 solution compatibility: two solutions join iff they agree
  // on every var BOUND IN BOTH; an unbound (NULL) var is compatible with
  // anything and takes the other side's binding in the merge. The plain
  // operators above assume all-bound shared vars (the normal BGP case,
  // hash-joinable); these variants implement full compatibility for
  // frames that may carry unbound vars (OPTIONAL-only vars, UNION
  // branches with disjoint headers, VALUES UNDEF). The OR in the join
  // condition defeats equi-key extraction — nested-loop — so the group
  // compiler routes here ONLY when a shared var is actually nullable.

  private def renamedRight(b: DataFrame, s: Seq[String]): DataFrame =
    b.select(b.columns.map(c =>
      col(c).as(if (s.contains(c)) "#c_" + c else c)): _*)

  private def compatCond(s: Seq[String]) = s.map(v =>
    col(v).isNull || col("#c_" + v).isNull || col(v) === col("#c_" + v))
    .reduce(_ && _)

  /** Merge shared vars (left binding wins when both bound — they agree
    * anyway) and keep the right side's new vars.
    */
  private def mergeSelect(merged: DataFrame, a: DataFrame,
      bb: DataFrame, s: Seq[String]): DataFrame = {
    val keep = a.columns.map(c =>
      if (s.contains(c)) coalesce(col(c), col("#c_" + c)).as(c) else col(c)) ++
      bb.columns.filterNot(_.startsWith("#c_")).map(col)
    merged.select(keep.toSeq: _*)
  }

  /** Inner compatibility join. `broadcastRight` for literal-sized frames
    * (VALUES inline data).
    */
  def compatJoin(a: DataFrame, b: DataFrame,
      broadcastRight: Boolean = false): DataFrame = {
    val s = shared(a, b)
    val bc = if (broadcastRight) broadcast(b) else b
    if (s.isEmpty) return a.crossJoin(bc)
    val bb = renamedRight(bc, s)
    mergeSelect(a.join(bb, compatCond(s), "inner"), a, bb, s)
  }

  /** OPTIONAL with compatibility semantics (left outer; unmatched left
    * rows keep their own bindings, right-only vars NULL).
    */
  def compatOptional(a: DataFrame, b: DataFrame): DataFrame = {
    val s = shared(a, b)
    if (s.isEmpty) return a.join(b, lit(true), "left_outer")
    val bb = renamedRight(b, s)
    mergeSelect(a.join(bb, compatCond(s), "left_outer"), a, bb, s)
  }

  /** OPTIONAL whose FILTER references LEFT-side vars — SPARQL §6.1
    * LeftJoin(A, B, F): the filter is part of the JOIN CONDITION, so a
    * left row keeps its bindings (B vars unbound) when no B row passes
    * both compatibility and F. Name resolution: F is evaluated on the
    * MERGED frame (all cols present, unambiguous); unmatched left rows
    * are recovered by a hidden row id (anti-join on matched ids). The id
    * frame is lazily checkpointed so both branches see identical ids.
    */
  def optionalCond(a: DataFrame, b: DataFrame, conds: Seq[Column],
      compat: Boolean = false): DataFrame = {
    val withId = a.withColumn("#lj_id", monotonically_increasing_id())
      .truncateLineage(false)
    val joined = if (compat) compatJoin(withId, b) else join(withId, b)
    val matched = conds.foldLeft(joined)(_ filter _)
    val unmatched = withId.join(
      matched.select("#lj_id").distinct(), Seq("#lj_id"), "left_anti")
    matched.unionByName(unmatched, allowMissingColumns = true).drop("#lj_id")
  }

  /** FILTER [NOT] EXISTS with compatibility semantics (semi/anti on the
    * compat condition — an unbound left var leaves the subpattern free,
    * per the substitution reading of §8.3.3).
    */
  def compatSemi(a: DataFrame, b: DataFrame, anti: Boolean): DataFrame = {
    val s = shared(a, b)
    if (s.isEmpty) // same disjoint-domain probe as exists/notExists
      return a.join(broadcast(b.limit(1)), lit(true),
        if (anti) "left_anti" else "left_semi")
    val bb = renamedRight(b.select(s.map(col): _*).distinct(), s)
    a.join(bb, compatCond(s), if (anti) "left_anti" else "left_semi")
  }

  /** UNION: union of solution headers, missing vars unbound. */
  def union(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b, allowMissingColumns = true)
}
