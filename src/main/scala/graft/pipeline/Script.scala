package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import graft.Checkpoints.TruncateOps

/** Ordered statement-sequence runner — the reference's `integrate` model:
  * a `.sparql` file is an ordered list of queries/updates sharing ONE
  * mutable dataset (docs/integrate/index.md:17-60; LOAD→INSERT
  * materialization SparqlIntegrateCmdImpls.java:363-379).
  *
  * Spark-first: the mutable dataset is a quad DataFrame that each update
  * statement replaces ([[applyStmt]]), so later statements observe the
  * state as of their position in the sequence. The `integrate` CLI and
  * the `--server` endpoint both run statements through [[fold]].
  */
object Script {

  /** Result of a whole-script run: the final dataset state and the last
    * query statement's output (if the script had one).
    */
  final case class SparqlRun(dataset: DataFrame, lastQuery: Option[DataFrame])

  /** Execute a full `.sparql` script TEXT — the reference's end-to-end
    * `integrate` entry (docs/integrate/index.md:17-60): LOAD / INSERT
    * DATA / DELETE DATA / INSERT…WHERE / DELETE…WHERE / CLEAR GRAPH
    * mutate one quad dataset in statement order; CONSTRUCT/SELECT
    * statements query the state as of their position.
    *
    * Spark-first: the dataset is a quad DataFrame. `INSERT DATA` and
    * `DELETE DATA` fold into a bounded delta over the last checkpoint
    * without running a job ([[QuadDelta]]); every other update
    * materializes eagerly (`localCheckpoint` — the reference applies
    * updates eagerly too, SparqlIntegrateCmdImpls.java:363-379; swap for
    * a reliable checkpoint / staged Iceberg table on a cluster so the
    * state survives executor loss), and so does a DATA statement whose
    * delta would pass its bound. DELETEs are anti-joins on the quad key,
    * never row-at-a-time.
    */
  def runSparql(spark: SparkSession, text: String,
      initial: Option[DataFrame] = None): SparqlRun = {
    val (ds, outs) = fold(spark, initial.getOrElse(emptyQuads(spark)),
      graft.rules.ConstructParser.parseScript(text))
    SparqlRun(ds, outs.lastOption.map(_._2.df))
  }

  /** Apply statements in order, each to the dataset the previous one left
    * ([[applyStmt]]): the final dataset, and each query statement's
    * output with that statement's index in `stmts`.
    */
  private[graft] def fold(spark: SparkSession, initial: DataFrame,
      stmts: Seq[graft.rules.ConstructParser.ScriptStmt])
      : (DataFrame, Seq[(Int, StmtOutput)]) =
    stmts.zipWithIndex.foldLeft((initial, Vector.empty[(Int, StmtOutput)])) {
      case ((ds, outs), (stmt, k)) =>
        val (next, o) = applyStmt(spark, ds, stmt)
        (next, outs ++ o.map(k -> _))
    }

  /** A query statement's output: quads (CONSTRUCT/DESCRIBE — route to the
    * RDF sink) vs a binding table (SELECT/ASK — route to the result-set
    * sink). The split mirrors the reference's output-mode selection
    * (SPARQLResultExProcessorBuilder: quad vs bindings mode).
    */
  sealed trait StmtOutput { def df: DataFrame }
  final case class QuadsOutput(df: DataFrame) extends StmtOutput
  final case class TableOutput(df: DataFrame) extends StmtOutput

  /** The empty quad dataset a script starts from. */
  private[graft] def emptyQuads(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(String, String, String, String)]
      .toDF("graph", "subj", "pred", "obj")
  }

  /** Execute ONE script statement against the current dataset state.
    * Returns the new state and, for query statements, the output frame —
    * the single execution step [[fold]] applies for [[runSparql]], the
    * integrate CLI and the server (SparqlIntegrateCmdImpls.java:865-884
    * streams each statement's result to the sink as it executes).
    */
  def applyStmt(spark: SparkSession, dsIn: DataFrame,
      stmt: graft.rules.ConstructParser.ScriptStmt)
      : (DataFrame, Option[StmtOutput]) = {
    import graft.rules.ConstructParser._
    import spark.implicits._
    val QuadCols = Seq("graph", "subj", "pred", "obj")
    def quadsDf(rows: Seq[(String, String, String, String)]): DataFrame =
      rows.toDF(QuadCols: _*)
    def anti(ds: DataFrame, del: DataFrame): DataFrame =
      ds.join(del.select(QuadCols.map(col): _*), QuadCols, "left_anti")
    def ckpt(df: DataFrame): DataFrame = df.truncateLineage(true)

    val ds = dsIn
    // DATA statements fold into a delta over the checkpointed dataset
    // without a job; an uncheckpointed or 0-partition dataset, or a delta
    // past its bound, takes the relational form and a checkpoint, which
    // starts a fresh delta. Either way a quad the statement names is
    // there at most once afterwards.
    def data(rows: Seq[QuadDelta.Quad], insert: Boolean): DataFrame =
      QuadDelta.fold(ds, rows, insert).getOrElse {
        val named = quadsDf(rows.distinct) // constant side: broadcast anti
        ckpt(if (insert) anti(ds, named).unionByName(named)
          else anti(ds, named))
      }
    // a query whose WHERE has no triple patterns evaluates over the UNIT
    // solution (SPARQL §18.2's Z = {μ0}; e.g. example.sparql's url:text +
    // json:unnest chain) — the quad table would wrongly multiply (or, if
    // empty, kill) a pattern-less BIND/property-function chain
    def seedC(q: graft.rules.ConstructParser.ParsedConstruct): DataFrame =
      if (q.usesQuads) ds else graft.rules.ConstructParser.unitFrame(spark)
    def seedS(q: graft.rules.ConstructParser.ParsedSelect): DataFrame =
      if (q.usesQuads) ds else graft.rules.ConstructParser.unitFrame(spark)
    stmt match {
      case LoadStmt(path, g) =>
        // resolve like every other file IRI in the engine: relative paths
        // against graft.sparql.base, graft.fileAliases prefix remap
        val loaded = graft.sources.RdfIO.readRdfAuto(spark,
          graft.rules.ConstructParser.resolveFileIri(path))
        (ckpt(ds.unionByName(
          g.fold(loaded)(gi => loaded.withColumn("graph", lit(gi))))), None)
      case InsertDataStmt(rows) => (data(rows, insert = true), None)
      case DeleteDataStmt(rows) => (data(rows, insert = false), None)
      case InsertWhereStmt(q) =>
        (ckpt(ds.unionByName(
          q.run(seedC(q)).select(QuadCols.map(col): _*))), None)
      case DeleteWhereStmt(q) =>
        (ckpt(anti(ds, q.run(seedC(q)))), None)
      case ModifyStmt(del, ins) =>
        // one WHERE binds both templates against the PRE-update dataset;
        // the group is evaluated once and shared (lazy localCheckpoint)
        val (dels, inss) = graft.rules.ConstructParser.runModify(del, ins, ds)
        (ckpt(anti(ds, dels).unionByName(inss.select(QuadCols.map(col): _*))),
          None)
      case ClearGraphStmt(g) =>
        (ckpt(ds.filter(col("graph") =!= g)), None)
      // graph management (SPARQL Update §3.2.5-3.2.7) as pure relational
      // rewrites over the quad frame: filter + relabel + union — no
      // row-at-a-time copying, the same shape at any scale
      case AddGraphStmt(src, dst) =>
        // RDF graphs are sets: the rebuilt destination dedupes, so a quad
        // already present in dst (or a repeated ADD) does not double up
        (if (src == dst) ds
         else ckpt(ds.where(col("graph") =!= dst).unionByName(
           ds.where(col("graph") === dst).unionByName(
             ds.where(col("graph") === src).withColumn("graph", lit(dst)))
             .distinct())), None)
      case CopyGraphStmt(src, dst) =>
        (if (src == dst) ds
         else ckpt(ds.where(col("graph") =!= dst).unionByName(
           ds.where(col("graph") === src).withColumn("graph", lit(dst)))),
          None)
      case MoveGraphStmt(src, dst) =>
        (if (src == dst) ds
         else ckpt(
           ds.where(col("graph") =!= dst && col("graph") =!= src).unionByName(
             ds.where(col("graph") === src).withColumn("graph", lit(dst)))),
          None)
      case QueryStmt(q) => (ds, Some(QuadsOutput(q.run(seedC(q)))))
      case DescribeQueryStmt(q) => (ds, Some(QuadsOutput(q.run(ds))))
      case SelectQueryStmt(q) => (ds, Some(TableOutput(q.run(seedS(q)))))
    }
  }
}
