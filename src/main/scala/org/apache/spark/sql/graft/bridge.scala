package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD

/** Column ↔ catalyst Expression bridge. Spark 4 made the conversion
  * utilities `private[sql]` (Column is now the Connect-agnostic API), so
  * custom native Expressions need this one-file shim inside the
  * `org.apache.spark.sql` package to be exposed as `Column`s.
  */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A frame over `rel`'s columns whose rows come from `rdd` (same row
    * layout, same partition count): a new `LogicalRDD` with fresh output
    * attributes that carries `rel`'s statistics, so join and broadcast
    * choices stay as they were. `keepLayout` keeps `rel`'s partitioning,
    * ordering and constraints, which hold only when `rdd` yields a subset
    * of `rel`'s rows in their places.
    */
  def relationOver(spark: SparkSession, rel: LogicalRDD,
      rdd: RDD[InternalRow], keepLayout: Boolean): DataFrame = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val plan = LogicalRDD(rel.output, rdd,
      if (keepLayout) rel.outputPartitioning
      else UnknownPartitioning(rdd.getNumPartitions),
      if (keepLayout) rel.outputOrdering else Nil, rel.isStreaming)(
      session, Some(rel.computeStats()),
      if (keepLayout) Some(rel.constraints) else None)
    org.apache.spark.sql.classic.Dataset.ofRows(session, plan.newInstance())
  }

  /** Names a DSL-built Column references. `expression` returns a LAZY
    * ColumnNodeExpression wrapper (no catalyst children to walk), so this
    * converts eagerly through the classic ColumnNode converter first.
    */
  def referencedNames(c: Column): Set[String] =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)
      .collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.name
      }.toSet

  /** The column's value IF it is a static string literal (plan-build
    * inspection — used to trace lambda literals through BINDs).
    */
  def staticStringLiteral(c: Column): Option[String] =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(
          v: org.apache.spark.unsafe.types.UTF8String, _) =>
        Some(v.toString)
      case _ => None
    }

  /** Replace references to the given names with NULL literals — used to
    * compile SPARQL expressions whose vars are UNBOUND at evaluation
    * time (unbound ⇒ type error ⇒ false for filters, §17.2) without
    * tripping the analyzer's unresolved-column check.
    */
  def nullifyRefs(c: Column, names: Set[String]): Column = {
    val e = org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)
      .transform {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
            if names.contains(a.name) =>
          org.apache.spark.sql.catalyst.expressions.Literal(
            null, org.apache.spark.sql.types.StringType)
      }
    column(e)
  }

  /** Is it safe to ALSO apply this filter earlier than its group-end
    * position (classic predicate pushdown)? Requires a deterministic
    * tree with no star expansion — the engine's RAND/UUID/STRUUID
    * compile to xxhash64 over `struct(*)`, whose VALUE depends on the
    * column set present, so while catalyst calls them deterministic they
    * do not commute across joins that change the schema.
    */
  def safeToPrefilter(c: Column): Boolean = {
    val e = org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)
    e.deterministic && !e.exists {
      case _: org.apache.spark.sql.catalyst.analysis.UnresolvedStar => true
      case _ => false
    }
  }

  /** Static check: can this Column yield NULL even when every input
    * attribute is non-NULL? Walks the catalyst tree for the
    * NULL-introducing shapes this codebase's compiled SPARQL expressions
    * use to signal "evaluation error → unbound" (SPARQL §17.2):
    * `when` without `otherwise`, explicit NULL branches, `nullif`,
    * try-casts, and the JSON/variant extractors (malformed input → NULL).
    * Conservative by design — a guarded-but-total expression may be
    * flagged; the cost is only a compatibility-join routing downstream,
    * never a wrong answer.
    */
  def fallibleToNull(c: Column): Boolean = {
    import org.apache.spark.sql.catalyst.expressions._
    def nullLit(e: Expression): Boolean = e match {
      case Literal(null, _) => true
      case _ => false
    }
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)
      .exists {
        case CaseWhen(branches, elseV) =>
          elseV.isEmpty || branches.exists(b => nullLit(b._2)) ||
            elseV.exists(nullLit)
        case If(_, t, f) => nullLit(t) || nullLit(f)
        case _: NullIf => true
        case cast: Cast => cast.evalMode == EvalMode.TRY
        case _: TryEval => true
        case _: JsonToStructs => true
        case _: GetJsonObject => true
        case _: org.apache.spark.sql.catalyst.expressions.variant.VariantGet => true
        case e => nullLit(e)
      }
  }
}
