package graft.procedures

import scala.collection.mutable
import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** `summary.statistics`' value statistics per column, read off one
  * count table `(c: string, v, cnt: long)` that holds each distinct
  * (column, value) once, in two passes:
  *
  *  1. [[digest]]: one job yields, per (partition, column), the count
  *     total, the row (distinct value) count and the local top-10 by
  *     (cnt desc, v desc). The collect is partitions × columns rows of
  *     at most 10 items each, whatever the table's size.
  *  2. [[quartiles]]: the driver prefix-sums those totals in partition
  *     order to find each quartile's crossing partition and the count
  *     before it; one job over only those partitions (≤ 3 per column)
  *     walks their sorted rows to the first value whose inclusive
  *     cumulative count exceeds nn·t.
  *
  * Quartiles need the table range-partitioned by (c, v) and sorted
  * within each partition, pinned so both jobs read the same rows
  * ([[pinSorted]]). Top-10 lists and row counts need only that each
  * (c, v) lies whole in one partition, which any groupBy output gives. */
object SummaryCounts {

  /** How `v` (ordinal 1) reads and orders, in Spark's own order: NaN
    * above every double, strings in UTF-8 byte order. `view` may alias
    * the row's buffer; `own` copies a value that outlives its row. */
  sealed abstract class ValueKind[V] extends Serializable {
    def view(r: InternalRow): V
    def own(v: V): V
    def compare(a: V, b: V): Int
  }
  object Doubles extends ValueKind[Double] {
    def view(r: InternalRow): Double = r.getDouble(1)
    def own(v: Double): Double = v
    def compare(a: Double, b: Double): Int =
      SQLOrderingUtil.compareDoubles(a, b)
  }
  object Strings extends ValueKind[UTF8String] {
    def view(r: InternalRow): UTF8String = r.getUTF8String(1)
    def own(v: UTF8String): UTF8String = v.clone()
    def compare(a: UTF8String, b: UTF8String): Int = a.binaryCompare(b)
  }

  /** One (partition, column)'s share of a count table; `top` is best
    * first. */
  final case class Digest[V](pid: Int, column: String, total: Long,
      rows: Long, top: Seq[(V, Long)])

  /** A numeric column's quartiles (NaN when the column has no value),
    * its top-10 items and its distinct-value count. */
  final case class NumericCounts(quartiles: Seq[Double],
      top: Seq[(Double, Long)], unique: Long)

  private val Thresholds: Seq[Double] = Seq(0.25, 0.5, 0.75)
  /** The reference keeps a column's 10 most frequent values. */
  private val K = 10

  /** `melted`'s `(c, v)` rows counted into `(c, v, cnt)`,
    * range-partitioned by (c, v) into `spark.sql.shuffle.partitions`
    * parts and sorted within each. Lazy; [[pinSorted]] pins it. */
  private[graft] def sortedCountPlan(melted: DataFrame): DataFrame = {
    val p = melted.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "200").toInt
    melted.groupBy(col("c"), col("v")).agg(count(lit(1)).as("cnt"))
      .repartitionByRange(math.max(p, 1), col("c"), col("v"))
      .sortWithinPartitions(col("c"), col("v"))
  }

  /** [[sortedCountPlan]], pinned with `DfOps.cut`: [[digest]] and
    * [[quartiles]] must see the same row → partition assignment. */
  def pinSorted(melted: DataFrame): DataFrame =
    graft.core.DfOps.cut(sortedCountPlan(melted))

  /** The reference's `MostFrequents` order: count first, the larger
    * value on ties. */
  private def beats[V](kind: ValueKind[V], v: V, cnt: Long,
      o: (V, Long)): Boolean =
    cnt > o._2 || (cnt == o._2 && kind.compare(v, o._1) > 0)

  /** Running total, row count and top-10 of one column's rows in one
    * partition. */
  private final class Acc[V](kind: ValueKind[V]) {
    var total = 0L
    var rows = 0L
    val top = mutable.ArrayBuffer.empty[(V, Long)]
    def add(r: InternalRow): Unit = {
      val cnt = r.getLong(2)
      total += cnt
      rows += 1
      if (top.size < K || cnt >= top.last._2) {
        val v = kind.view(r)
        var i = top.size
        while (i > 0 && beats(kind, v, cnt, top(i - 1))) i -= 1
        if (i < K) {
          top.insert(i, (kind.own(v), cnt))
          if (top.size > K) top.remove(K)
        }
      }
    }
  }

  /** Pass 1: one job, one [[Digest]] per (partition, column) present. */
  def digest[V](counts: DataFrame, kind: ValueKind[V]): Seq[Digest[V]] =
    counts.queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
      val accs = mutable.LinkedHashMap.empty[UTF8String, Acc[V]]
      it.foreach { r =>
        val c = r.getUTF8String(0)
        accs.getOrElse(c, {
          val a = new Acc(kind)
          accs(c.clone()) = a
          a
        }).add(r)
      }
      accs.iterator.map { case (c, a) =>
        Digest(pid, c.toString, a.total, a.rows, a.top.toSeq) }
    }.collect().toSeq

  /** Each column's top-10: a (c, v) lies whole in one partition, so the
    * union of the local lists holds the global top-10. */
  def topOf[V](digests: Seq[Digest[V]],
      kind: ValueKind[V]): Map[String, Seq[(V, Long)]] =
    digests.groupBy(_.column).map { case (c, ds) =>
      c -> ds.flatMap(_.top)
        .sortWith((a, b) => beats(kind, a._1, a._2, b)).take(K)
    }

  /** Where each quartile of each `nn` column first crosses nn·t: per
    * crossing partition, per column, the count before the partition
    * and the (threshold index, nn·t) pairs that cross there. */
  def crossings(digests: Seq[Digest[_]], nn: Map[String, Long])
      : Map[Int, Map[String, (Long, Seq[(Int, Double)])]] = {
    val found = for {
      (c, ds) <- digests.groupBy(_.column).toSeq
      n <- nn.get(c).toSeq
      parts = ds.sortBy(_.pid)
      cumIncl = parts.scanLeft(0L)(_ + _.total).tail
      (t, i) <- Thresholds.zipWithIndex
      j = cumIncl.indexWhere(_ > n * t)
      if j >= 0
    } yield (parts(j).pid, c, cumIncl(j) - parts(j).total, (i, n * t))
    found.groupBy(_._1).map { case (pid, xs) =>
      pid -> xs.groupBy(_._2).map { case (c, ys) =>
        c -> (ys.head._3, ys.map(_._4))
      }
    }
  }

  /** Pass 2, the reference's quartile rule
    * (summary_statistics_proc.cc:516): per `nn` column, the first value
    * (ascending) whose inclusive cumulative count exceeds nn·t. One job
    * over the crossing partitions of a [[pinSorted]] table; a column
    * without rows gets NaN. */
  def quartiles(sorted: DataFrame, digests: Seq[Digest[Double]],
      nn: Map[String, Long]): Map[String, Seq[Double]] = {
    val cross = crossings(digests, nn)
    val hits =
      if (cross.isEmpty) Array.empty[Seq[(String, Int, Double)]]
      else sorted.sparkSession.sparkContext.runJob(
        sorted.queryExecution.toRdd,
        (ctx: TaskContext, it: Iterator[InternalRow]) =>
          walk(cross(ctx.partitionId()), it),
        cross.keys.toSeq.sorted)
    val out = nn.keys.map(_ -> Array.fill(Thresholds.size)(Double.NaN)).toMap
    hits.foreach(_.foreach { case (c, i, v) => out(c)(i) = v })
    out.map { case (c, qs) => c -> qs.toSeq }
  }

  /** One column's walk through a crossing partition: its cumulative
    * count so far and its thresholds still to cross, lowest first. */
  private final class Walk(val column: String, var cum: Long,
      var pending: List[(Int, Double)])

  private def walk(want: Map[String, (Long, Seq[(Int, Double)])],
      it: Iterator[InternalRow]): Seq[(String, Int, Double)] = {
    val walks = want.map { case (c, (off, ts)) =>
      UTF8String.fromString(c) -> new Walk(c, off, ts.sortBy(_._2).toList)
    }
    val hits = mutable.ArrayBuffer.empty[(String, Int, Double)]
    var left = want.values.map(_._2.size).sum
    while (left > 0 && it.hasNext) {
      val r = it.next()
      walks.get(r.getUTF8String(0)).foreach { w =>
        w.cum += r.getLong(2)
        while (w.pending.nonEmpty && w.cum > w.pending.head._2) {
          hits += ((w.column, w.pending.head._1, r.getDouble(1)))
          w.pending = w.pending.tail
          left -= 1
        }
      }
    }
    hits.toSeq
  }

  /** Both passes over a [[pinSorted]] numeric table: two jobs. Every
    * `nn` column gets an entry. */
  def numeric(sorted: DataFrame,
      nn: Map[String, Long]): Map[String, NumericCounts] = {
    val ds = digest(sorted, Doubles)
    val qs = quartiles(sorted, ds, nn)
    val tops = topOf(ds, Doubles)
    val unique = ds.groupBy(_.column).map { case (c, d) => c -> d.map(_.rows).sum }
    nn.keys.map { c =>
      c -> NumericCounts(qs(c), tops.getOrElse(c, Nil),
        unique.getOrElse(c, 0L))
    }.toMap
  }
}
