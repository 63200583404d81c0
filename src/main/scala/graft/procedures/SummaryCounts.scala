package graft.procedures

import scala.collection.mutable
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** `summary.statistics`' value statistics per column, read off one
  * count table `(c: int, v, cnt: long)` that holds each distinct
  * (column, value) once: the plain hash `groupBy(c, v)`
  * ([[countTable]]), read exactly twice. `c` is the column's ordinal in
  * the [[Table]]'s `names`, so the groupBy key is fixed-width for a
  * numeric `v` and a task finds a row's column by indexing an array.
  *
  *  A. [[digest]]: one job yields, per column, the count total, the row
  *     (distinct value) count, the top-10 by (cnt desc, v desc) and, for
  *     a numeric column, a histogram of at most 4,096 buckets over the
  *     order-preserving keys ([[key]]) between the column's least and
  *     greatest value. Task results merge as they arrive, so the driver
  *     holds one digest per column, whatever the table's size.
  *  B. [[exactQuartiles]]: the driver prefix-sums each histogram to find each
  *     quartile's crossing bucket and the count below it; one job
  *     collects those buckets' rows (≤ 3 per column) and walks them in
  *     Spark's order to the first value whose inclusive cumulative
  *     count exceeds nn·t (summary_statistics_proc.cc:516). A crossing
  *     bucket of more than `cap` rows is not collected: the same job
  *     builds a finer histogram over its own key range, and the loop
  *     goes round again.
  *
  * Each (c, v) lies whole in one row, so no pass needs the table sorted
  * or pinned: a re-read may place rows differently, and re-runs only
  * the groupBy's final aggregate. */
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

  /** A numeric column's quartiles (NaN when the column has no value),
    * its top-10 items and its distinct-value count. */
  final case class NumericCounts(quartiles: Seq[Double],
      top: Seq[(Double, Long)], unique: Long)

  /** A numeric column as pass 1 saw it: its non-null count and its
    * least and greatest value. */
  final case class Extent(nn: Long, min: Double, max: Double)

  private val Thresholds: Seq[Double] = Seq(0.25, 0.5, 0.75)
  /** The reference keeps a column's 10 most frequent values. */
  private val K = 10
  /** A histogram has at most 2^12 = 4,096 buckets. */
  private val BucketBits = 12
  /** The most rows pass B collects from one crossing bucket. */
  val RowCap = 65536

  /** A count table's `(c, v, cnt)` rows and the column name of each
    * ordinal `c`. */
  final case class Table(rows: DataFrame, names: IndexedSeq[String]) {
    private[graft] def ordinal(column: String): Int = names.indexOf(column)
  }

  /** `df`'s `cols` melted into `(c, v)` rows, `c` the column's position
    * in `cols` and `v` its `value`, null values dropped, and counted
    * into `(c, v, cnt)` by a hash groupBy. Building its rows here starts
    * the groupBy's shuffle map stage on the calling thread under
    * adaptive execution (one job); each pass that reads them re-runs
    * only the final aggregate. */
  def countTable(df: DataFrame, cols: Seq[String],
      value: String => Column): Table = {
    val melted = df.select(explode(array(cols.zipWithIndex.map { case (c, i) =>
        struct(lit(i).as("c"), value(c).as("v")) }: _*)).as("cv"))
      .select(col("cv.c").as("c"), col("cv.v").as("v"))
      .filter(col("v").isNotNull)
    val counts = melted.groupBy(col("c"), col("v")).agg(count(lit(1)).as("cnt"))
    counts.queryExecution.toRdd
    Table(counts, cols.toIndexedSeq)
  }

  /** An order-preserving long key of Spark's double order: NaN above
    * +∞, −0.0 equal to 0.0 (the groupBy has folded them already). */
  private[graft] def key(d: Double): Long = {
    val b = java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)
    if (b < 0) b ^ Long.MaxValue else b
  }

  /** The key range [lo, hi] cut into at most 2^12 buckets of 2^shift
    * keys each. Keys outside the range land in the end buckets, so the
    * bucket of a key never decreases as the key grows. */
  private[graft] final case class Span(lo: Long, hi: Long) {
    val shift: Int = math.max(0,
      64 - java.lang.Long.numberOfLeadingZeros(hi - lo) - BucketBits)
    val size: Int = ((hi - lo) >>> shift).toInt + 1
    def bucket(k: Long): Int =
      if (k <= lo) 0 else if (k >= hi) size - 1
      else ((k - lo) >>> shift).toInt
    def contains(k: Long): Boolean = lo <= k && k <= hi
  }

  /** A histogram's occupied buckets as a task ships them: (bucket,
    * count sum, row count, least key, greatest key). */
  private type Buckets = Seq[(Int, Long, Long, Long, Long)]

  /** One column's histogram over a [[Span]]: per bucket the count sum,
    * the row count and the least and greatest key. A task ships only
    * its occupied buckets, which the driver adds in. */
  private[graft] final class Hist(val span: Span) {
    val cnt = new Array[Long](span.size)
    val rows = new Array[Long](span.size)
    val minK: Array[Long] = Array.fill(span.size)(Long.MaxValue)
    val maxK: Array[Long] = Array.fill(span.size)(Long.MinValue)
    private def put(b: Int, c: Long, n: Long, lo: Long, hi: Long): Unit = {
      cnt(b) += c
      rows(b) += n
      if (lo < minK(b)) minK(b) = lo
      if (hi > maxK(b)) maxK(b) = hi
    }
    def add(k: Long, c: Long): Unit = put(span.bucket(k), c, 1L, k, k)
    def occupied: Buckets =
      rows.indices.filter(rows(_) > 0)
        .map(b => (b, cnt(b), rows(b), minK(b), maxK(b)))
    def addAll(bs: Buckets): Unit =
      bs.foreach { case (b, c, n, lo, hi) => put(b, c, n, lo, hi) }
  }

  /** One column's share of a count table: count total, row count,
    * top-10 best first and, for a numeric column, its histogram. */
  final class Digest[V](val total: Long, val rows: Long,
      val top: Seq[(V, Long)], val hist: Hist)

  /** The reference's `MostFrequents` order: count first, the larger
    * value on ties. */
  private def beats[V](kind: ValueKind[V], v: V, cnt: Long,
      o: (V, Long)): Boolean =
    cnt > o._2 || (cnt == o._2 && kind.compare(v, o._1) > 0)

  private def best[V](kind: ValueKind[V], xs: Seq[(V, Long)]): Seq[(V, Long)] =
    xs.sortWith((a, b) => beats(kind, a._1, a._2, b)).take(K)

  /** Running total, row count, top-10 and histogram of one column's
    * rows in one partition; `hist` is null without a span. */
  private final class Acc[V](kind: ValueKind[V], span: Option[Span]) {
    var total = 0L
    var rows = 0L
    val top = mutable.ArrayBuffer.empty[(V, Long)]
    val hist: Hist = span.map(new Hist(_)).orNull
    def add(r: InternalRow): Unit = {
      val cnt = r.getLong(2)
      total += cnt
      rows += 1
      if (hist != null) hist.add(key(r.getDouble(1)), cnt)
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

  /** Rows grouped by their column ordinal (of `width`) within one
    * partition, one `make` per column seen. */
  private def byColumn[A <: AnyRef](it: Iterator[InternalRow], width: Int,
      make: Int => A)(add: (A, InternalRow) => Unit): Iterator[(Int, A)] = {
    val accs = new Array[AnyRef](width)
    it.foreach { r =>
      val c = r.getInt(0)
      if (accs(c) == null) accs(c) = make(c)
      add(accs(c).asInstanceOf[A], r)
    }
    accs.indices.iterator.filter(accs(_) != null)
      .map(c => (c, accs(c).asInstanceOf[A]))
  }

  /** Pass A: one job, one merged [[Digest]] per column present; a
    * column in `spans` also gets its histogram. */
  def digest[V](table: Table, kind: ValueKind[V],
      spans: Map[String, Span]): Map[String, Digest[V]] = {
    val byOrd = table.names.map(spans.get)
    val out = mutable.Map.empty[Int, Digest[V]]
    val rdd = table.rows.queryExecution.toRdd
    rdd.sparkContext.runJob(rdd,
      (_: TaskContext, it: Iterator[InternalRow]) =>
        byColumn(it, byOrd.size, c => new Acc(kind, byOrd(c)))(_.add(_)).map {
          case (c, a) => (c, a.total, a.rows, a.top.toSeq,
            Option(a.hist).map(_.occupied))
        }.toArray,
      (_: Int, part: Array[(Int, Long, Long, Seq[(V, Long)],
          Option[Buckets])]) =>
        part.foreach { case (c, total, rows, top, buckets) =>
          val d = out.getOrElse(c, new Digest[V](0L, 0L, Nil,
            byOrd(c).map(new Hist(_)).orNull))
          buckets.foreach(d.hist.addAll)
          out(c) = new Digest(d.total + total, d.rows + rows,
            best(kind, d.top ++ top), d.hist)
        })
    out.map { case (c, d) => table.names(c) -> d }.toMap
  }

  /** One quartile crossing: the column, the key range of the bucket it
    * crosses in, that bucket's row count, the count below it, and the
    * (threshold index, nn·t) pairs that cross there, lowest first. */
  private[graft] final case class Cross(column: String, range: Span,
      rows: Long, below: Long, ts: Seq[(Int, Double)])

  /** Where `ts` cross in `h`, a histogram of `column` with `below`
    * counted under its span: the first bucket whose inclusive
    * cumulative count exceeds each nn·t. */
  private def crossIn(column: String, h: Hist, below: Long,
      ts: Seq[(Int, Double)]): Seq[Cross] = {
    var cum = below
    var pending = ts.sortBy(_._2)
    h.cnt.indices.filter(h.rows(_) > 0).flatMap { b =>
      val next = cum + h.cnt(b)
      val hit = pending.takeWhile(_._2 < next)
      pending = pending.drop(hit.size)
      val x = Cross(column, Span(h.minK(b), h.maxK(b)), h.rows(b), cum, hit)
      cum = next
      if (hit.nonEmpty) Some(x) else None
    }
  }

  /** The first round's crossings, from pass A's histograms. */
  private[graft] def firstCrossings(digests: Map[String, Digest[Double]],
      nn: Map[String, Long]): Seq[Cross] =
    for {
      (c, n) <- nn.toSeq
      d <- digests.get(c).toSeq if d.hist != null
      x <- crossIn(c, d.hist, 0L,
        Thresholds.zipWithIndex.map { case (t, i) => (i, n * t) })
    } yield x

  /** One job over the count table: the `(v, cnt)` rows of each
    * `collect` crossing, and a finer histogram over each `narrow`
    * crossing's key range. */
  private[graft] def scan(table: Table, collect: Seq[Cross],
      narrow: Seq[Cross]): (Seq[Seq[(Double, Long)]], Seq[Hist]) = {
    // per column ordinal, the (crossing index, key range) pairs asked
    def asks(xs: Seq[Cross]) = {
      val byCol = xs.zipWithIndex.groupBy(x => table.ordinal(x._1.column))
      table.names.indices.map(c =>
        byCol.getOrElse(c, Nil).map { case (x, i) => (i, x.range) })
    }
    val (cAsk, nAsk) = (asks(collect), asks(narrow))
    val rows = collect.map(_ => mutable.ArrayBuffer.empty[(Double, Long)])
    val hists = narrow.map(x => new Hist(x.range))
    type Part = (Array[(Int, Double, Long)], Array[(Int, Buckets)])
    val rdd = table.rows.queryExecution.toRdd
    rdd.sparkContext.runJob(rdd,
      (_: TaskContext, it: Iterator[InternalRow]) => {
        val got = mutable.ArrayBuffer.empty[(Int, Double, Long)]
        val hs = byColumn(it, cAsk.size, c => (cAsk(c),
          nAsk(c).map { case (i, s) => (i, new Hist(s)) })) {
          case ((cs, hs), r) if cs.nonEmpty || hs.nonEmpty =>
            val (v, n) = (r.getDouble(1), r.getLong(2))
            val k = key(v)
            cs.foreach { case (i, s) => if (s.contains(k)) got += ((i, v, n)) }
            hs.foreach { case (_, h) => if (h.span.contains(k)) h.add(k, n) }
          case _ =>
        }.flatMap(_._2._2).map { case (i, h) => (i, h.occupied) }.toArray
        (got.toArray, hs): Part
      },
      (_: Int, part: Part) => {
        part._1.foreach { case (i, v, n) => rows(i) += ((v, n)) }
        part._2.foreach { case (i, bs) => hists(i).addAll(bs) }
      })
    (rows.map(_.toSeq), hists)
  }

  /** Pass B, the reference's quartile rule: per `nn` column, the first
    * value (ascending) whose inclusive cumulative count exceeds nn·t.
    * One job per round; a round narrows every crossing bucket of more
    * than `cap` rows, so the answer is exact on any data. A column
    * without rows gets NaN. */
  def exactQuartiles(table: Table, digests: Map[String, Digest[Double]],
      nn: Map[String, Long], cap: Int = RowCap): Map[String, Seq[Double]] = {
    val out = nn.keys.map(_ -> Array.fill(Thresholds.size)(Double.NaN)).toMap
    var open = firstCrossings(digests, nn)
    while (open.nonEmpty) {
      // one key is one value: a one-key bucket is never narrowed
      val (collect, narrow) =
        open.partition(x => x.rows <= cap || x.range.lo == x.range.hi)
      val (rows, hists) = scan(table, collect, narrow)
      collect.zip(rows).foreach { case (x, rs) =>
        var cum = x.below
        var pending = x.ts
        rs.sortWith((a, b) => Doubles.compare(a._1, b._1) < 0).foreach {
          case (v, n) =>
            cum += n
            while (pending.nonEmpty && cum > pending.head._2) {
              out(x.column)(pending.head._1) = v
              pending = pending.tail
            }
        }
      }
      open = narrow.zip(hists).flatMap { case (x, h) =>
        crossIn(x.column, h, x.below, x.ts) }
    }
    out.map { case (c, qs) => c -> qs.toSeq }
  }

  /** Both passes over a [[countTable]] of numeric columns: two jobs
    * unless a crossing bucket holds more than `cap` rows. Every
    * `extents` column gets an entry. */
  def numeric(table: Table, extents: Map[String, Extent],
      cap: Int = RowCap): Map[String, NumericCounts] = {
    val ds = digest(table, Doubles,
      extents.map { case (c, e) => c -> Span(key(e.min), key(e.max)) })
    val qs = exactQuartiles(table, ds, extents.map { case (c, e) => c -> e.nn }, cap)
    extents.keys.map { c =>
      val d = ds.get(c)
      c -> NumericCounts(qs(c), d.map(_.top).getOrElse(Nil),
        d.map(_.rows).getOrElse(0L))
    }.toMap
  }
}
