package graft.server

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame

/** Driver-side streaming of a distributed result into one driver stream:
  * the only way a result reaches the driver, for every output of the
  * `integrate` CLI (stdout, the stderr TSV, `-o FILE` and the `--split`
  * files) and the `/sparql` response bodies of [[SparqlHttpServer]].
  *
  * Spark's own local iterator runs one single-task job per partition, one
  * after another, so a lookup over P partitions pays P job launches and
  * scans serially on one core. [[lines]] instead runs ONE job over each
  * consecutive window ("wave") of partitions and yields the wave's rows in
  * partition order before launching the next, so ORDER BY output keeps its
  * order and a small P-partition result costs ⌈P / defaultParallelism⌉
  * jobs.
  *
  * What one wave may bring to the driver is capped by a byte budget (at
  * most a quarter of `spark.driver.maxResultSize`, which bounds the total
  * of ONE job's results): each of a wave's m tasks returns its partition
  * only if it weighs at most budget / m, and otherwise stops early and
  * returns just the weight it saw. Such an overflowing partition is then
  * fetched alone, in its own job, when the stream reaches it — the bound
  * the local iterator has for every partition. The next wave's width is
  * sized from the largest partition weight the previous wave measured
  * (an overflowing one by its full fetch), so a large result settles on
  * waves that fit instead of recomputing partitions. The driver holds at
  * most one wave plus one overflowing partition, never a whole-result
  * collect.
  */
object DriverStream {

  /** Upper bound on one wave's results. */
  private val WaveBytes = 64L << 20

  /** A one-string-column frame's non-null values, streamed wave by wave.
    * Reads `queryExecution.toRdd`, not `Dataset.rdd`: the latter opens a
    * SQL execution that covers planning only (the jobs run later, here,
    * outside it) and pays for its explain string, plan info and UI events
    * on every call.
    */
  def lines(df: DataFrame): Iterator[String] =
    lines(df.queryExecution.toRdd.map(r =>
      if (r.isNullAt(0)) null else r.getUTF8String(0).toString))
      .filter(_ != null)

  /** Streams `rdd` to the driver wave by wave (see the object doc). */
  private[graft] def lines(rdd: RDD[String]): Iterator[String] = {
    val maxResult = rdd.sparkContext.getConf
      .getSizeAsBytes("spark.driver.maxResultSize", "1g")
    lines(rdd, if (maxResult > 0) math.min(WaveBytes, maxResult / 4)
      else WaveBytes)
  }

  private[graft] def lines(rdd: RDD[String], budget: Long)
      : Iterator[String] = {
    val sc = rdd.sparkContext
    val n = rdd.getNumPartitions
    val full = math.max(1, sc.defaultParallelism)
    new Iterator[Iterator[String]] {
      private var lo = 0
      private var heaviest = 0L // largest partition weight of the last wave
      def hasNext: Boolean = lo < n
      def next(): Iterator[String] = {
        val width = math.max(1L,
          math.min(full.toLong, budget / math.max(1L, heaviest))).toInt
        val ids = lo until math.min(n, lo + width)
        lo = ids.end
        val cap = budget / ids.size
        val got = sc.runJob(rdd, (it: Iterator[String]) => upTo(it, cap), ids)
        heaviest = got.iterator.map(_._2).max
        got.iterator.zip(ids.iterator).flatMap {
          case ((null, _), p) =>
            val rows = sc.runJob(rdd, (it: Iterator[String]) => it.toArray,
              Seq(p)).head
            heaviest = math.max(heaviest, rows.iterator.map(weigh).sum)
            rows.iterator
          case ((rows, _), _) => rows.iterator
        }
      }
    }.flatten
  }

  /** Driver heap a line costs once fetched (2 bytes per char plus object
    * overhead); at least its serialized size for all but astral text.
    */
  private def weigh(s: String): Long =
    if (s == null) 8L else 40L + 2L * s.length

  /** The partition's lines and their weight, or `null` and the weight
    * seen so far once it exceeds `cap` (the rest is not computed).
    */
  private def upTo(it: Iterator[String], cap: Long): (Array[String], Long) = {
    val buf = ArrayBuffer.empty[String]
    var bytes = 0L
    while (bytes <= cap && it.hasNext) {
      val s = it.next()
      buf += s
      bytes += weigh(s)
    }
    (if (bytes > cap) null else buf.toArray, bytes)
  }
}
