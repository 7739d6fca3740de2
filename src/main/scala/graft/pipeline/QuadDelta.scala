package graft.pipeline

import scala.collection.immutable.HashSet

import org.apache.spark.{Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** A checkpointed quad RDD read through a pending delta: partition i
  * yields the base's rows that are not in `drop`, and partition 0 also
  * yields `add`. Membership is [[UnsafeRow]] byte equality in a hash set
  * (a quad's row bytes are a function of its four term strings), probed
  * only for rows whose size matches a dropped row's.
  */
final class QuadDeltaRDD private[pipeline] (
    val base: RDD[InternalRow],
    val drop: HashSet[UnsafeRow],
    val add: Array[UnsafeRow],
    types: Array[DataType])
  extends RDD[InternalRow](base) {

  override protected def getPartitions: Array[Partition] = base.partitions

  override protected def getPreferredLocations(p: Partition): Seq[String] =
    base.preferredLocations(p)

  /** Sorted distinct byte sizes of the rows in `drop`. Equal rows have
    * equal sizes, so a scanned row of any other size is kept without
    * hashing its bytes: hashing every scanned row was ~40 % of the
    * executor samples of a profiled sparql_serve run with 2 dropped quads,
    * while a size probe rules out ~99.8 % of that dataset's rows.
    */
  private val dropSizes: Array[Int] =
    drop.iterator.map(_.getSizeInBytes).toArray.distinct.sorted

  private def dropped(u: UnsafeRow): Boolean =
    java.util.Arrays.binarySearch(dropSizes, u.getSizeInBytes) >= 0 &&
      drop.contains(u)

  override def compute(p: Partition, ctx: TaskContext): Iterator[InternalRow] = {
    val rows = base.iterator(p, ctx)
    val kept = if (drop.isEmpty) rows else {
      lazy val unsafe = UnsafeProjection.create(types)
      rows.filter {
        case u: UnsafeRow => !dropped(u)
        case r => !dropped(unsafe(r))
      }
    }
    if (p.index == 0) kept ++ add.iterator else kept
  }
}

/** `INSERT DATA`/`DELETE DATA` as a delta over the checkpointed dataset
  * instead of a rewrite of it. The dataset's plan is one `LogicalRDD` over
  * a [[QuadDeltaRDD]]; the previous delta is read back from that plan, so
  * there is no registry and the lineage stays one delta over one
  * checkpoint. A statement folds into the delta on the driver:
  *  - `INSERT DATA q` adds q to `add` and to `drop`, so a quad already in
  *    the base (even twice) or inserted again reads once;
  *  - `DELETE DATA q` removes q from `add` and adds it to `drop`.
  */
object QuadDelta {

  /** Bound on a delta's row bytes (`drop` plus `add`); a statement that
    * would pass it is applied relationally and checkpointed instead,
    * which starts a fresh delta. The delta travels inside the task binary
    * of every stage that scans the dataset. Measured over the
    * sparql_serve seed-7 dataset (46 344 quads, 2 partitions): a point
    * lookup's task binary is 12.4 KB, a join's final stage 14.6 KB; an
    * inserted quad of ~50-char terms is a 224-byte row, counted here in
    * `drop` and in `add`, and adds ~300 bytes to the binary (Java
    * serialization writes the shared row once). 8 KiB (~18 such quads,
    * +5.2 KB measured) keeps the delta under half the smallest binary.
    */
  val MaxBytes: Long = 8L << 10

  type Quad = (String, String, String, String)

  private val QuadCols = Seq("graph", "subj", "pred", "obj")

  /** `ds` after the DATA statement, or None when `ds` is not a
    * checkpointed quad relation with at least one partition, or when the
    * delta would pass [[MaxBytes]]. Runs no Spark job.
    */
  def fold(ds: DataFrame, quads: Seq[Quad], insert: Boolean)
      : Option[DataFrame] = ds.queryExecution.logical match {
    case rel: LogicalRDD if rel.rdd.getNumPartitions > 0 &&
        (rel.rdd.isInstanceOf[QuadDeltaRDD] || rel.rdd.isCheckpointed) &&
        rel.output.map(_.name).sorted == QuadCols.sorted &&
        rel.output.forall(_.dataType == StringType) =>
      val (base, drop0, add0) = rel.rdd match {
        case d: QuadDeltaRDD => (d.base, d.drop, d.add)
        case r => (r, HashSet.empty[UnsafeRow], Array.empty[UnsafeRow])
      }
      val types = rel.output.map(_.dataType).toArray
      val unsafe = UnsafeProjection.create(types)
      val at = rel.output.map(a => QuadCols.indexOf(a.name))
      val named = quads.distinct.map { q =>
        unsafe(InternalRow.fromSeq(at.map(i =>
          UTF8String.fromString(q.productElement(i).asInstanceOf[String]))))
          .copy()
      }
      val drop = drop0 ++ named
      val add =
        if (insert) add0 ++ named.filterNot(HashSet.from(add0))
        else add0.filterNot(HashSet.from(named))
      val bytes = (drop.iterator ++ add.iterator)
        .map(_.getSizeInBytes.toLong).sum
      if (bytes > MaxBytes) None
      else Some(bridge.relationOver(ds.sparkSession, rel,
        new QuadDeltaRDD(base, drop, add, types), keepLayout = add.isEmpty))
    case _ => None
  }
}
