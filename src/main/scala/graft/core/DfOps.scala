package graft.core

import java.util.concurrent.{ExecutionException, ExecutorService, Executors}
import org.apache.spark.sql.{Column, DataFrame, SparkSession, classic}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._

/** Distributed frame utilities shared across the engine.
  *
  * The headline member is [[globalRowNumber]]: a global 1-based rank
  * over a total order WITHOUT a `Window.orderBy(...)` (which Spark
  * plans as an Exchange SinglePartition — every row through one
  * task). The pattern is the same partition-offset numbering used by
  * `rowNumber()` in `sql/Lowering.scala`: range-partitioned sort →
  * `monotonically_increasing_id` (which encodes partition << 33 |
  * intra-partition index) → a #partitions-sized collect of per-
  * partition counts → prefix-sum offsets applied map-side.
  */
object DfOps {

  /** The engine's ONE checkpoint policy. Every multi-job construction
    * in the engine (partition-offset numbering, prefix sums, closure
    * loops) must pin its frame so separate jobs see the same physical
    * rows; this helper decides HOW. Default is `localCheckpoint`
    * (executor block store — fastest, and fine single-JVM), but on a
    * real cluster a lost/preempted executor makes localCheckpoint
    * blocks unrecoverable MID-JOB. Setting the session conf
    * `graft.checkpointDir` to a shared filesystem (HDFS/S3) switches
    * every cut in the engine to RELIABLE `Dataset.checkpoint()` — the
    * right mode for the 100 TB target. It is the only switch: the Dedup
    * pair finders and `Dedup.minHashDedupTransitive`'s closure loop cut
    * through here too.
    */
  // the last root handed to setCheckpointDir (raw conf value, not the
  // qualified form Spark stores — comparing against getCheckpointDir
  // fails for unqualified confs like /tmp/ckpt, which Spark stores as
  // file:/tmp/ckpt/<uuid>, and every cut would then mint a new subdir)
  @volatile private var lastCheckpointRoot: String = null

  def cut(df: DataFrame): DataFrame =
    df.sparkSession.conf.getOption("graft.checkpointDir") match {
      case Some(dir) if dir.nonEmpty =>
        val sc = df.sparkSession.sparkContext
        // setCheckpointDir mints a fresh UUID subdir (an FS round-trip
        // and a new directory) on EVERY call — iterative callers
        // (closure loops, prefix sums) would leak one per cut. Set it
        // only when the configured root actually changed (or a fresh
        // context has no dir yet). Reliable checkpoint files persist
        // until context stop by default; set
        // spark.cleaner.referenceTracking.cleanCheckpoints=true to
        // have the ContextCleaner reap them as their frames are GC'd.
        if (lastCheckpointRoot != dir || sc.getCheckpointDir.isEmpty)
          synchronized {
            if (lastCheckpointRoot != dir || sc.getCheckpointDir.isEmpty) {
              sc.setCheckpointDir(dir)
              lastCheckpointRoot = dir
            }
          }
        statsSafe(df.checkpoint())
      case _ => statsSafe(df.localCheckpoint())
    }

  /** Checkpoints carry the origin plan's stats into the new leaf;
    * iterative callers (closure loops) compound those join-multiplied
    * estimates into a BigInteger-overflowing tower — clamp them at the
    * cut (see [[org.apache.spark.sql.GraftColumnBridge.clampCarriedStats]]). */
  def statsSafe(df: DataFrame): DataFrame =
    org.apache.spark.sql.GraftColumnBridge.clampCarriedStats(df)

  /** Adds `outCol` = global 1-based row number of `df` under the total
    * order given by `order`. Scale-safe: the sort is a range exchange
    * (parallel), the only collect is one long per partition, and the
    * numbering itself is a map-side expression. The frame is
    * checkpointed (policy: [[cut]]) so the count job and the output
    * job see the same physical rows.
    */
  def globalRowNumber(df: DataFrame, order: Seq[Column],
      outCol: String): DataFrame = {
    val ordered = if (order.isEmpty) df else df.orderBy(order: _*)
    val withMid = cut(ordered
      .withColumn("__gMid", monotonically_increasing_id()))
    val counts = withMid
      .groupBy(shiftrightunsigned(col("__gMid"), 33).as("__pid"))
      .agg(count(lit(1)).as("__n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offsets = counts.map { case (pid, n) =>
      val o = acc; acc += n; (pid, o)
    }
    val offExpr =
      if (offsets.isEmpty) lit(0L)
      else {
        // pids are DENSE partition indexes (mid >> 33), so an array
        // literal indexed by pid makes the per-row lookup O(1) — the
        // map form scanned up to #partitions entries per row. Gaps
        // (empty partitions) never appear on any row; 0 is fine.
        val byPid = new Array[Long](offsets.map(_._1).max.toInt + 1)
        offsets.foreach { case (p, o) => byPid(p.toInt) = o }
        element_at(array(byPid.map(lit(_)).toSeq: _*),
          (shiftrightunsigned(col("__gMid"), 33) + 1).cast("int"))
      }
    withMid.withColumn(outCol,
      (col("__gMid").bitwiseAND(lit((1L << 33) - 1)) + offExpr + lit(1L))
        .cast("long"))
      .drop("__gMid")
  }

  /** Exclusive grouped running sums that survive a SKEWED group: for
    * each row, the sum of every `sums` expression (and a count,
    * `countAlias`) over rows with the same `group` value and strictly
    * smaller `order` — the "statistics so far" shape of
    * statsTable.train — computed WITHOUT `Window.partitionBy(group)`,
    * whose hot value funnels into one task.
    *
    * Construction (the range-partitioned prefix sum of SURVEY §7.3):
    *
    *  1. range-partition by `order` — slice sizes are bounded by the
    *     partitioner regardless of the group distribution;
    *  2. local exclusive prefix within (partition, group) — a window
    *     whose partitions are capped by the range-slice size, never by
    *     a group's row count;
    *  3. per-(partition, group) totals (one aggregation row each),
    *     exclusive-prefix-summed over partitions within the group — a
    *     window whose partitions hold at most #partitions rows;
    *  4. null-safe join of the offsets back on (partition, group) and
    *     a map-side add.
    *
    * Costs two more exchanges than the naive window, so callers keep
    * the window for well-distributed groups and switch here when a
    * value's row count crosses their skew threshold. Sums should be
    * integer expressions (prefix-merging reorders float addition).
    * `order` must be unique per row for a deterministic exclusive
    * frame.
    */
  def groupedRunningSums(df: DataFrame, group: Column, order: Column,
      sums: Seq[(String, Column)], countAlias: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    val p = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    // checkpoint so the totals branch and the local-prefix branch see
    // the SAME physical partitioning (the globalRowNumber discipline)
    val ranged = cut(df
      .withColumn("__grs_g", group).withColumn("__grs_o", order)
      .repartitionByRange(p, col("__grs_o"))
      .withColumn("__grs_pid", spark_partition_id()))
    val wLocal = Window.partitionBy(col("__grs_pid"), col("__grs_g"))
      .orderBy(col("__grs_o"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val localCols = sums.map { case (a, e) =>
      coalesce(sum(e).over(wLocal), lit(0L)).as(s"__grs_l_$a")
    } :+ count(lit(1)).over(wLocal).as("__grs_l_cnt")
    val withLocal = ranged.select(col("*") +: localCols: _*)
    val totAggs = sums.map { case (a, e) => sum(e).as(s"__grs_t_$a") } :+
      count(lit(1)).as("__grs_t_cnt")
    val totals = ranged.groupBy(col("__grs_pid"), col("__grs_g"))
      .agg(totAggs.head, totAggs.tail: _*)
    val wOff = Window.partitionBy(col("__grs_g")).orderBy(col("__grs_pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // aliases may carry dots ('click.host') — backtick every reference
    val offsets = totals.select(
      Seq(col("__grs_pid").as("__grs_opid"), col("__grs_g").as("__grs_og")) ++
        sums.map { case (a, _) =>
          coalesce(sum(col(s"`__grs_t_$a`")).over(wOff), lit(0L))
            .as(s"__grs_o_$a")
        } :+
        coalesce(sum(col("__grs_t_cnt")).over(wOff), lit(0L))
          .as("__grs_o_cnt"): _*)
    val joined = withLocal.join(offsets,
      withLocal("__grs_pid") === offsets("__grs_opid") &&
        withLocal("__grs_g") <=> offsets("__grs_og"), "left")
    val outCols = sums.map { case (a, _) =>
      (col(s"`__grs_l_$a`") + coalesce(col(s"`__grs_o_$a`"), lit(0L))).as(a)
    } :+
      (col("__grs_l_cnt") + coalesce(col("__grs_o_cnt"), lit(0L)))
        .as(countAlias)
    val keep = df.columns.map(c => col(s"`$c`"))
    joined.select(keep ++ outCols: _*)
  }

  /** Pairwise merge of two (n, m, m2) central-moment states — T.F.
    * Chan, G.H. Golub, R.J. LeVeque, "Updating Formulae and a Pairwise
    * Algorithm for Computing Sample Variances" (Stanford STAN-CS-79-773,
    * 1979). n is the non-null count, m the mean, m2 the sum of squared
    * deviations from the mean; an empty side (n = 0, null m/m2) passes
    * the other side through unchanged. */
  private def chanMerge(a: Column, b: Column): Column = {
    val n = a("n") + b("n")
    val delta = b("m") - a("m")
    struct(
      n.as("n"),
      when(a("n") === 0, b("m")).when(b("n") === 0, a("m"))
        .otherwise(a("m") + delta * b("n") / n).as("m"),
      when(a("n") === 0, b("m2")).when(b("n") === 0, a("m2"))
        .otherwise(a("m2") + b("m2") + delta * delta *
          a("n").cast("double") * (b("n").cast("double") / n)).as("m2"))
  }

  private def emptyMoments: Column = struct(lit(0L).as("n"),
    lit(null).cast("double").as("m"), lit(null).cast("double").as("m2"))

  /** Exclusive grouped running count/sum/min/max/avg/std/last that
    * survive a SKEWED group — [[groupedRunningSums]] generalized to the
    * stat set distTable.train's prior columns need. Same construction
    * (range partition by `order`, local exclusive window within
    * (partition, group), per-(partition, group) totals
    * exclusive-combined over partitions, null-safe join back); each
    * spec is (alias, expr, kind) with kind ∈ sum | min | max | avg |
    * std | last, and `countAlias` optionally adds the running row
    * count. Exclusive-empty prefixes yield null for
    * sum/min/max/avg/last (callers coalesce to their defaults), null
    * for std below two values, and 0 for count — the same nullability
    * as the window formulation. min/max merge via least/greatest,
    * which are order-insensitive even for doubles; sum is bit-identical
    * to the window for integer-valued expressions and regrouped (not
    * reordered-within-partition) for fractional doubles — the
    * [[groupedRunningSums]] caveat. avg/std merge per-slice (count,
    * mean, M2) states with [[chanMerge]] — the numerically stable
    * pairwise update, but REGROUPED float accumulation: results agree
    * with the windowed formulation to rounding, NOT bit-exactly.
    * Callers that owe a bit-exact oracle keep the window for avg/std
    * and opt into these kinds explicitly (the engine procedures'
    * `skewSafeFloat` switch). `last` needs no such flag: prefix-last is
    * the value at the MAX ORDER KEY among preceding rows, and
    * max-by-order is order-insensitively mergeable by SELECTION — the
    * state is a `struct(order, value)` whose slice aggregate and
    * cross-slice combine are plain `max`/`greatest` (order keys are
    * unique, so the comparison never reaches the value), which is
    * bit-exact vs the windowed `last()` by construction. The per-slice
    * states ride the same two exchanges as the other kinds — no
    * value-partitioned window anywhere, so a 99%-hot group still
    * spreads across tasks. `order` must be unique per row. */
  def groupedRunningStats(df: DataFrame, group: Column, order: Column,
      specs: Seq[(String, Column, String)],
      countAlias: Option[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(specs.forall(s =>
      Set("sum", "min", "max", "avg", "std", "last")(s._3)),
      "kind must be sum|min|max|avg|std|last")
    require(specs.nonEmpty || countAlias.nonEmpty,
      "groupedRunningStats needs at least one spec or a countAlias")
    val spark = df.sparkSession
    val p = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val ranged = cut(df
      .withColumn("__grt_g", group).withColumn("__grt_o", order)
      .repartitionByRange(p, col("__grt_o"))
      .withColumn("__grt_pid", spark_partition_id()))
    val wLocal = Window.partitionBy(col("__grt_pid"), col("__grt_g"))
      .orderBy(col("__grt_o"))
      .rowsBetween(Window.unboundedPreceding, -1)
    def aggOf(kind: String, e: Column): Column = kind match {
      case "sum" => sum(e); case "min" => min(e); case "max" => max(e)
      // prefix-last state: (order, value) of the max-order row in the
      // slice — `order` is unique, so the struct max never compares the
      // value field and a null value rides along unchanged
      case "last" => max(struct(col("__grt_o").as("o"), e.as("v")))
    }
    def isMoment(kind: String) = kind == "avg" || kind == "std"
    // (n, m, m2) state for one slice: n/m from count/avg, m2 recovered
    // from var_samp (Spark's stable central-moment aggregate) — null
    // when the slice is empty, 0 for a single value (var_samp is null
    // below two values)
    def momentsOf(n: Column, m: Column, v: Column): Column =
      struct(n.as("n"), m.as("m"),
        when(n === 0, lit(null).cast("double"))
          .when(n === 1, lit(0.0))
          .otherwise(v * (n - 1).cast("double")).as("m2"))
    val localCols = specs.map { case (a, e, k) =>
      (if (isMoment(k))
        momentsOf(count(e).over(wLocal), avg(e).over(wLocal),
          var_samp(e).over(wLocal))
      else aggOf(k, e).over(wLocal)).as(s"__grt_l_$a")
    } ++ countAlias.map(_ => count(lit(1)).over(wLocal).as("__grt_l_cnt"))
    val withLocal = ranged.select(col("*") +: localCols: _*)
    val totAggs = specs.map { case (a, e, k) =>
      (if (isMoment(k)) momentsOf(count(e), avg(e), var_samp(e))
      else aggOf(k, e)).as(s"__grt_t_$a")
    } ++ countAlias.map(_ => count(lit(1)).as("__grt_t_cnt"))
    val totals = ranged.groupBy(col("__grt_pid"), col("__grt_g"))
      .agg(totAggs.head, totAggs.tail: _*)
    val wOff = Window.partitionBy(col("__grt_g")).orderBy(col("__grt_pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = totals.select(
      Seq(col("__grt_pid").as("__grt_opid"),
        col("__grt_g").as("__grt_og")) ++
        specs.map { case (a, _, k) =>
          (if (isMoment(k))
            // exclusive prefix Chan-merge over the preceding
            // partitions' states: the frame holds at most #partitions
            // rows per group, collected in pid order and folded with
            // the pairwise update — never a data-sized list
            aggregate(
              collect_list(col(s"`__grt_t_$a`")).over(wOff),
              emptyMoments, (acc, x) => chanMerge(acc, x))
          else if (k == "last")
            // the slice states are already (order, value) structs; the
            // cross-slice combine is their plain max (selection)
            max(col(s"`__grt_t_$a`")).over(wOff)
          else aggOf(k, col(s"`__grt_t_$a`")).over(wOff))
            .as(s"__grt_o_$a")
        } ++
        countAlias.map(_ =>
          coalesce(sum(col("__grt_t_cnt")).over(wOff), lit(0L))
            .as("__grt_o_cnt")): _*)
    val joined = withLocal.join(offsets,
      withLocal("__grt_pid") === offsets("__grt_opid") &&
        withLocal("__grt_g") <=> offsets("__grt_og"), "left")
    val outCols = specs.map { case (a, _, k) =>
      val l = col(s"`__grt_l_$a`"); val o = col(s"`__grt_o_$a`")
      (k match {
        // both-null → null; one-null → the other; else combine — the
        // exact nullability of the windowed exclusive frame
        case "sum" => coalesce(l + o, l, o)
        case "min" => least(l, o) // least/greatest skip nulls
        case "max" => greatest(l, o)
        case "last" =>
          // later of the two (order, value) states wins — greatest
          // compares the unique order key first; an empty prefix (both
          // null) yields a null struct, whose .v is null, matching the
          // windowed last()'s empty-frame null
          greatest(l, o).getField("v")
        case "avg" | "std" =>
          // merge the exclusive cross-partition state with this row's
          // local exclusive state; avg is the merged mean (null on an
          // empty prefix), std the merged sample deviation (null below
          // two values — the windowed stddev_samp nullability). m2 is
          // clamped at 0: the pairwise update can go epsilon-negative.
          val st = chanMerge(coalesce(o, emptyMoments), l)
          if (k == "avg") st("m")
          else when(st("n") >= 2,
            sqrt(greatest(st("m2"), lit(0.0)) / (st("n") - 1).cast("double")))
      }).as(a)
    } ++ countAlias.map(ca =>
      (col("__grt_l_cnt") + coalesce(col("__grt_o_cnt"), lit(0L))).as(ca))
    val keep = df.columns.map(c => col(s"`$c`"))
    joined.select(keep ++ outCols: _*)
  }

  /** Starts `body`, which runs Spark actions, on a pool thread that
    * carries the caller's local properties (job group, description,
    * scheduler pool) and active session, so its jobs are grouped,
    * cancelled and counted with the caller's own. A plain `Future` on a
    * shared pool would run on a thread that keeps whatever properties
    * it inherited when it was created. The returned join rethrows the
    * body's own exception. */
  def inBackground[T](spark: SparkSession)(body: => T): () => T = {
    val f = SQLExecution.withThreadLocalCaptured(
      spark.asInstanceOf[classic.SparkSession], backgroundPool)(body)
    () => try f.get() catch { case e: ExecutionException => throw e.getCause }
  }

  private lazy val backgroundPool: ExecutorService =
    Executors.newCachedThreadPool { (r: Runnable) =>
      val t = new Thread(r, "graft-background")
      t.setDaemon(true)
      t
    }
}
