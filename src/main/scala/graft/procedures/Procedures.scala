package graft.procedures

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch procedures (SURVEY §2.7): each reference procedure becomes a
  * DataFrame pipeline. The `transform` workhorse is trivially
  * `df.write`; the interesting ones are the statistical/reshaping
  * procedures, mapped to window functions and built-in aggregates so
  * Catalyst plans them (partial aggregation, pushdown) with no custom
  * execution code.
  */
object Procedures {

  /** `transform` (`/root/reference/builtin/sql_functions.cc:662-899`):
    * run a query, persist the result. The INSERT-INTO-SELECT of the
    * engine. Parquet out = the "tabular dataset" at rest. */
  def transform(result: DataFrame, outPath: String,
      mode: SaveMode = SaveMode.Overwrite,
      partitionBy: Seq[String] = Nil): Unit = {
    val w = result.write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(outPath)
  }

  /** `transform` into a BUCKETED table: pre-partitions the data by the
    * join/aggregation key so later equi-joins and groupBys between
    * co-bucketed tables run with NO shuffle at all — the core
    * at-100-TB layout decision for fact tables that join repeatedly on
    * the same key. Verified shuffle-free in ProceduresSpec. */
  def transformBucketed(result: DataFrame, tableName: String,
      bucketCols: Seq[String], buckets: Int,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    result.write.mode(mode)
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(tableName)

  /** beh / beh.binary behavioral layout
    * (`/root/reference/plugins/behavior/behavior_dataset.cc:1014`): the
    * reference's .beh files keep (subject × behaviour × time) sorted so
    * per-subject time-range reads are sequential I/O — that layout is
    * what made its behavioral queries fast. Spark-native equivalent:
    * bucket by the subject key (equi-joins and groupBys on subject are
    * then co-located — zero Exchange, proved in ProceduresSpec) and
    * sort every bucket file by (subject, time) so a subject×time range
    * predicate scans one bucket in time order, with parquet row-group
    * stats pruning the time range inside the file. */
  def transformBehavioral(result: DataFrame, tableName: String,
      subjectCol: String, timeCol: String, buckets: Int,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    result.write.mode(mode)
      .bucketBy(buckets, subjectCol)
      .sortBy(subjectCol, timeCol)
      .format("parquet")
      .saveAsTable(tableName)

  /** `split` (`builtin/datasetsplit_procedure.cc:302`): deterministic
    * train/test split. With `stratifyBy`, per-stratum hash split so
    * label distributions match across folds (the reference's
    * distribution-preserving mode). Hash-based (not randomSplit) so
    * the assignment is stable under repartitioning — at 100 TB you
    * cannot afford a nondeterministic split. */
  def split(df: DataFrame, keyCol: String, testFraction: Double = 0.2,
      seed: Int = 42): (DataFrame, DataFrame) = {
    val bucket = pmod(xxhash64(col(keyCol), lit(seed)), lit(1000000))
    val cut = (testFraction * 1000000).toLong
    (df.filter(bucket >= cut), df.filter(bucket < cut))
  }

  /** Stratified deterministic sample: per-stratum hash-based keep
    * fraction, so class balance survives sampling (the distribution-
    * preserving counterpart of `split`; fractions default to one
    * global value). Pure filter — pushes to the scan, no shuffle,
    * stable under repartitioning (unlike `df.stat.sampleBy`'s
    * rand()-based rows). */
  def stratifiedSample(df: DataFrame, strataCol: String, keyCol: String,
      fractions: Map[String, Double], defaultFraction: Double = 0.0,
      seed: Int = 42): DataFrame = {
    val bucket = pmod(xxhash64(col(keyCol), lit(seed)), lit(1000000))
    val cut = fractions.foldLeft(
      when(lit(false), 0L)) { case (acc, (stratum, frac)) =>
      acc.when(col(strataCol) === stratum, (frac * 1000000).toLong)
    }.otherwise((defaultFraction * 1000000).toLong)
    df.filter(bucket < cut)
  }

  /** md5-based split variant: identical assignment in any engine with
    * a standard md5 (granularity 1/16 via the first hex digit) — used
    * where the split must be reproduced outside Spark, e.g. by an
    * external labeling system or a SQL-only consumer. */
  def splitMd5(df: DataFrame, keyCol: String,
      testHexDigits: Seq[String] = Seq("0", "1", "2")): (DataFrame, DataFrame) = {
    val digit = substring(md5(col(keyCol).cast("string")), 1, 1)
    (df.filter(!digit.isin(testHexDigits: _*)),
      df.filter(digit.isin(testHexDigits: _*)))
  }

  /** Per-group quota sampling: keep at most `cap` rows per group,
    * chosen deterministically by md5 of the key (so the same quota is
    * reproducible in any engine, and re-runs are stable) — the
    * "at most N documents per domain" curation cap of a training-data
    * pipeline. Two-phase top-k so a mega-group never lands in one
    * task: phase 1 ranks within (group, input partition) — each window
    * partition is bounded by the input partition size — and cuts every
    * group to ≤ cap rows per partition; phase 2 ranks the ≤
    * cap×partitions survivors per group. A single window partitioned
    * by group alone would pull a billion-row domain into one task at
    * 100 TB; here no task ever sees more than max(partitionSize,
    * cap×partitions) rows of one group. */
  def quotaSample(df: DataFrame, groupCol: String, keyCol: String,
      cap: Int): DataFrame = {
    require(cap > 0, "cap must be positive")
    val ord = Seq(md5(col(keyCol).cast("string")), col(keyCol))
    val wLocal = Window.partitionBy(col(groupCol), col("__pid"))
      .orderBy(ord.map(_.asc): _*)
    val survivors = df.withColumn("__pid", spark_partition_id())
      .withColumn("__lrn", row_number().over(wLocal))
      .filter(col("__lrn") <= cap)
    // every member of the true per-group top-cap is within the top-cap
    // of its own partition, so phase 1 never discards a final pick
    val wFinal = Window.partitionBy(col(groupCol)).orderBy(ord.map(_.asc): _*)
    survivors.withColumn("__rn", row_number().over(wFinal))
      .filter(col("__rn") <= cap)
      .drop("__pid", "__lrn", "__rn")
  }

  /** Deterministic mixture sampling: per-source keep rates, applied as
    * a pure hash filter — how a training run hits a target data
    * mixture ("10% of web, all of books…") reproducibly. Rates
    * quantize to 1/256 via the first two md5 hex digits of the key, so
    * any engine with a standard md5 reproduces the exact row set (the
    * cross-engine contract `splitMd5` established, at 16× finer
    * granularity). A filter pushes to the scan: no shuffle, stable
    * under repartitioning, trivially composable with quotaSample. */
  def mixtureSample(df: DataFrame, sourceCol: String, keyCol: String,
      rates: Map[String, Double], defaultRate: Double = 1.0): DataFrame = {
    val hexVal = "instr('0123456789abcdef', substring(md5(cast(`" +
      keyCol + "` as string)), %d, 1)) - 1"
    val v = expr(hexVal.format(1)) * 16 + expr(hexVal.format(2))
    def cut(r: Double) = math.round(r * 256).toInt
    val threshold = rates.foldLeft(when(lit(false), 0)) {
      case (acc, (src, r)) => acc.when(col(sourceCol) === src, cut(r))
    }.otherwise(cut(defaultRate))
    df.filter(v < threshold)
  }

  /** Temperature-balanced mixture sampling — the multilingual/source
    * rebalance rule (sampling probability per source ∝ n_s^α,
    * α = 0.5 being the classic sqrt-temperature of multilingual LM
    * training): per-source keep rate
    * min(1, budget·N·w_s / (W·n_s)) with w_s = round(n_s^α · 1e6) as
    * a FIXED-POINT integer, W = Σ w_s — integer weights make the rate
    * arithmetic bit-reproducible across engines (the q89 contract),
    * and α = 0.5 stays exactly mirrorable because sqrt is
    * IEEE-correctly-rounded (other α go through pow, correct but not
    * guaranteed bit-identical cross-engine). Source counts are a
    * config-sized driver collect; the row filter is [[mixtureSample]]'s
    * md5 contract — a pure scan-pushed predicate, no shuffle. */
  def temperatureSample(df: DataFrame, sourceCol: String, keyCol: String,
      budgetFraction: Double, alpha: Double = 0.5): DataFrame = {
    // sources group on their STRING form (non-string columns cast, so
    // the rate lookup in mixtureSample matches what was counted);
    // null sources are excluded from the budget math and dropped by
    // the defaultRate = 0.0 below — a null "source" has no n_s.
    val counts = df.groupBy(col(sourceCol).cast("string").as("__src"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .flatMap(r => Option(r.getString(0)).map(_ -> r.getLong(1)))
      .sortBy(_._1)
    val bigN = counts.map(_._2).sum
    val w: Map[String, Long] = counts.map { case (s, n) =>
      s -> (if (alpha == 0.5) math.round(math.sqrt(n.toDouble) * 1e6)
        else math.round(math.pow(n.toDouble, alpha) * 1e6))
    }.toMap
    val bigW = counts.map(c => w(c._1)).sum
    val rates = counts.map { case (s, n) =>
      s -> math.min(1.0,
        ((budgetFraction * bigN) * w(s)) / (bigW.toDouble * n.toDouble))
    }.toMap
    mixtureSample(df.filter(col(sourceCol).isNotNull), sourceCol, keyCol,
      rates, defaultRate = 0.0)
  }

  /** Both packers read `ranged` from two plan subtrees (data branch +
    * offset table); correctness needs both subtrees to see ONE
    * physical range partitioning. With the default
    * `spark.sql.exchange.reuse=true` Catalyst collapses the two
    * identical exchanges, so the boundary sample is shared for free.
    * If a session disables reuse, the exchanges would sample range
    * boundaries independently and `__pid` could disagree between the
    * branches — so materialize the partitioning once (localCheckpoint)
    * instead of silently corrupting offsets. */
  private def pinRanged(ranged: DataFrame): DataFrame =
    if (ranged.sparkSession.conf
        .getOption("spark.sql.exchange.reuse").contains("false"))
      graft.core.DfOps.cut(ranged)
    else ranged

  /** `summary.statistics` (`builtin/summary_statistics_proc.cc:516`):
    * per-numeric-column min/max/mean/stddev/count/nulls/approx
    * quantiles, computed in ONE pass over the data (single aggregate,
    * no per-column jobs). */
  def summaryStatistics(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(
        count(col(c)).cast("double").as(s"${c}__count"),
        min(col(c)).cast("double").as(s"${c}__min"),
        max(col(c)).cast("double").as(s"${c}__max"),
        avg(col(c)).as(s"${c}__avg"),
        stddev_samp(col(c)).as(s"${c}__std"),
        percentile_approx(col(c), lit(0.5), lit(1000)).cast("double").as(s"${c}__p50"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*)
    // long format: one row per (column, stat)
    val stats = Seq("count", "min", "max", "avg", "std", "p50")
    val stack = cols.flatMap(c => stats.map(st => s"'$c', '$st', `${c}__${st}`"))
      .mkString(", ")
    row.select(expr(
      s"stack(${cols.size * stats.size}, $stack) as (column_name, stat, value)"))
  }

  /** Range-partition `df` on the sort keys and compute per-partition
    * row offsets, so GLOBAL order positions come from per-partition
    * windows plus a broadcast offset — never from the single-partition
    * global window (the canonical 100 TB killer: one task holds the
    * whole table). Range partitioning sends equal keys to one
    * partition, so rank ties never straddle a boundary. Returns
    * (ranged-with-__pid, tiny (__pid, __offset, __total) table). */
  private def withPartitionOffsets(df: DataFrame,
      orderBy: Seq[Column]): (DataFrame, DataFrame) = {
    val nPart = df.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "200").toInt
    val ranged = df.repartitionByRange(math.max(nPart, 1), orderBy: _*)
      .withColumn("__pid", spark_partition_id())
    // ≤ nPart rows: the single-partition windows below are over a
    // partition-count-sized table, not the data.
    // (a constant non-foldable partition key = the same bounded
    // single-partition window with a NON-empty spec, so WindowExec's
    // "no partition defined" warning — meant for data-sized windows —
    // stays quiet; a foldable lit(0) would be optimized away)
    val offsets = ranged.groupBy(col("__pid")).agg(count(lit(1)).as("__n"))
      .withColumn("__offset", coalesce(sum(col("__n")).over(
        Window.partitionBy(pmod(col("__pid"), lit(1))).orderBy(col("__pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__total",
        sum(col("__n")).over(
          Window.partitionBy(pmod(col("__pid"), lit(1)))))
      .select(col("__pid"), col("__offset"), col("__total"))
    (ranged, offsets)
  }

  /** `bucketize` (`plugins/feature_gen/bucketize_procedure.cc:255`):
    * percentile buckets by score order. The exact path reproduces
    * global `ntile(n)` from a range-partitioned row_number (local
    * window + broadcast offset — no single-partition window);
    * `approx = true` uses percentile_approx cut points instead (one
    * aggregate pass, no ordering shuffle at all). */
  def bucketize(df: DataFrame, scoreCol: String, tieCol: String, n: Int,
      approx: Boolean = false): DataFrame = {
    if (!approx) {
      val orderCols = Seq(col(scoreCol), col(tieCol))
      val (ranged, offsets) = withPartitionOffsets(df, orderCols)
      val wLocal = Window.partitionBy(col("__pid")).orderBy(orderCols: _*)
      // ntile closed form: size = total/n, the first (total % n)
      // buckets take one extra row.
      val r = col("__rownum")
      val size = (col("__total") / n).cast("long")
      val rem = col("__total") % n
      val bigSpan = (size + 1) * rem
      ranged.withColumn("__lrn", row_number().over(wLocal))
        .join(broadcast(offsets), Seq("__pid"))
        .withColumn("__rownum", col("__lrn") + col("__offset"))
        .withColumn("bucket",
          when(r <= bigSpan, ceil(r / (size + 1)))
            .otherwise(rem + ceil((r - bigSpan) / size))
            .cast("int"))
        .drop("__pid", "__lrn", "__rownum", "__offset", "__total")
    } else {
      val qs = (1 until n).map(_.toDouble / n)
      val cuts = df.stat.approxQuantile(scoreCol, qs.toArray, 0.001)
      // ascending when-chain: first matching (smallest) cut wins
      val first = when(col(scoreCol) <= cuts(0), 1)
      val chained = cuts.zipWithIndex.drop(1).foldLeft(first) {
        case (acc, (cut, i)) => acc.when(col(scoreCol) <= cut, i + 1)
      }
      df.withColumn("bucket", chained.otherwise(n))
    }
  }

  /** `bucketize` with NAMED percentile ranges — the reference's
    * primary config form (`bucketize_procedure.cc:192-240`,
    * MLDB-1043/1267): each row of the ALREADY-ORDERED input gets the
    * bucket whose [lower, upper) percentile range covers its position;
    * rows outside every range are dropped; the output is
    * (rowName, bucket [, ts]) with every bucket cell stamped by the
    * input's latest timestamp (the reference stamps with the order-by
    * clause's latest_timestamp — wide mode's analog is the max of the
    * input's ts column). The global index comes from zipWithIndex on
    * the sorted frame — order-preserving and distributed (no
    * single-partition window); bucket assignment is a map-side
    * when-chain over the (few) ranges. */
  def bucketizeNamed(ordered: DataFrame, rowNameCol: String,
      buckets: Seq[(String, Double, Double)]): DataFrame = {
    import org.apache.spark.sql.types._
    val spark = ordered.sparkSession
    val rnIdx = ordered.schema.fieldNames
      .indexWhere(_.equalsIgnoreCase(rowNameCol))
    require(rnIdx >= 0, s"bucketize input needs a '$rowNameCol' column")
    val tsIdx = ordered.schema.fieldNames.indexWhere(_.equalsIgnoreCase("ts"))
    val maxTs: Option[Any] =
      if (tsIdx < 0) None
      else Option(ordered.agg(max(col(ordered.columns(tsIdx)))).head().get(0))
    val total = ordered.count()
    val indexed = spark.createDataFrame(
      ordered.rdd.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row(String.valueOf(r.get(rnIdx)), i)
      },
      StructType(Seq(StructField("rowName", StringType),
        StructField("__idx", LongType))))
    // reference bounds: lower = floor(lo/100*n); upper = n when
    // hi == 100 exactly (so numerical issues can't drop the last row)
    val assign = buckets.foldLeft(lit(null).cast("string")) {
      case (acc, (n, lo, hi)) =>
        val lower = math.floor(lo / 100.0 * total).toLong
        val upper =
          if (hi == 100.0) total else math.floor(hi / 100.0 * total).toLong
        when(col("__idx") >= lower && col("__idx") < upper, lit(n))
          .otherwise(acc)
    }
    val out = indexed.withColumn("bucket", assign)
      .filter(col("bucket").isNotNull)
      .select(col("rowName"), col("bucket"))
    maxTs match {
      case Some(t) => out.withColumn("ts", lit(t))
      case None => out
    }
  }

  /** `ranking` (`builtin/ranking_procedure.cc:199`). With partition
    * keys this is a plain partitioned window; the GLOBAL case (empty
    * partitionBy) reconstructs exact rank()/percent_rank() from
    * range-partitioned local windows + broadcast offsets instead of a
    * one-task global window. */
  def ranking(df: DataFrame, orderBy: Seq[Column], partitionBy: Seq[Column] = Nil): DataFrame = {
    if (partitionBy.nonEmpty) {
      val w = Window.partitionBy(partitionBy: _*).orderBy(orderBy: _*)
      df.withColumn("rank", rank().over(w))
        .withColumn("percentile", percent_rank().over(w))
    } else {
      val (ranged, offsets) = withPartitionOffsets(df, orderBy)
      val wLocal = Window.partitionBy(col("__pid")).orderBy(orderBy: _*)
      // global rank = rows strictly before this key = earlier-partition
      // rows (offset) + local rank; ties stay intra-partition under
      // range partitioning so the reconstruction is exact.
      ranged.withColumn("__lrank", rank().over(wLocal))
        .join(broadcast(offsets), Seq("__pid"))
        .withColumn("rank", (col("__lrank") + col("__offset")).cast("int"))
        .withColumn("percentile", (col("rank") - lit(1)).cast("double") /
          greatest(col("__total") - lit(1), lit(1)).cast("double"))
        .drop("__pid", "__lrank", "__offset", "__total")
    }
  }

  /** Concat-then-chunk sequence packing — the standard LLM pretraining
    * batching step: documents are laid end-to-end in a deterministic
    * order (ascending `idCol`) and the token stream is cut into fixed
    * `budget`-token context windows. Emits one row per document with
    * its global token `start_offset`, the `first_pack` window it lands
    * in, and `n_packs` — how many windows it straddles (straddlers get
    * split at training time; their count is the packing-efficiency
    * metric). The global prefix sum is range-partitioned local window
    * sums plus a broadcast per-partition token-total offset table —
    * the same no-single-partition-window construction as
    * ranking/bucketize, so a 100-billion-document corpus packs without
    * any task ever holding more than one range partition. Empty
    * documents occupy max(n, 1) = 1 slot so every doc lands in exactly
    * one pack and offsets stay strictly increasing. */
  def sequencePack(df: DataFrame, idCol: String, nTokensCol: String,
      budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    val nPart = df.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "200").toInt
    val ranged = pinRanged(
      df.repartitionByRange(math.max(nPart, 1), col(idCol))
        .withColumn("__pid", spark_partition_id())
        .withColumn("__n", greatest(col(nTokensCol).cast("long"), lit(1L))))
    // ≤ nPart rows shuffle to build the offset table
    val offsets = ranged.groupBy(col("__pid"))
      .agg(sum(col("__n")).as("__psum"))
      .withColumn("__toff", coalesce(sum(col("__psum")).over(
        Window.partitionBy(pmod(col("__pid"), lit(1))).orderBy(col("__pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__pid"), col("__toff"))
    val wLocal = Window.partitionBy(col("__pid")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val b = lit(budget)
    ranged.withColumn("__lsum", coalesce(sum(col("__n")).over(wLocal), lit(0L)))
      .join(broadcast(offsets), Seq("__pid"))
      .withColumn("start_offset", col("__lsum") + col("__toff"))
      .withColumn("first_pack",
        floor(col("start_offset") / b).cast("long"))
      .withColumn("n_packs",
        (floor((col("start_offset") + col("__n") - 1) / b).cast("long") -
          col("first_pack") + 1L))
      .drop("__pid", "__n", "__lsum", "__toff")
  }

  /** Per-group sequence packing — the multi-corpus variant of
    * [[sequencePack]]: each `groupCol` value (a source, a language, a
    * curriculum stage) concatenates into its OWN token stream and
    * cuts into its own `budget`-token context windows, so sources
    * never share a pack. Same scale construction lifted one level:
    * range-partition on (group, id) so each group's rows are
    * contiguous across partitions, per-(group, partition) token
    * totals aggregate map-side into a ≤ groups×nPart-row offset
    * table, the cross-partition prefix runs as a window over THAT
    * tiny table (partitioned by group, ordered by partition id), and
    * the result broadcasts back. The in-partition prefix sum windows
    * over (partition, group) slices — never more rows than one range
    * partition holds. No data-sized single-partition exchange
    * anywhere, any number of groups, any skew between them. */
  def sequencePackGrouped(df: DataFrame, groupCol: String, idCol: String,
      nTokensCol: String, budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    val nPart = df.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "200").toInt
    val ranged = pinRanged(df
      .repartitionByRange(math.max(nPart, 1), col(groupCol), col(idCol))
      .withColumn("__pid", spark_partition_id())
      .withColumn("__n", greatest(col(nTokensCol).cast("long"), lit(1L))))
    val offsets = ranged.groupBy(col(groupCol), col("__pid"))
      .agg(sum(col("__n")).as("__psum"))
      .withColumn("__toff", coalesce(sum(col("__psum")).over(
        Window.partitionBy(col(groupCol)).orderBy(col("__pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(groupCol), col("__pid"), col("__toff"))
    val wLocal = Window.partitionBy(col("__pid"), col(groupCol))
      .orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val b = lit(budget)
    ranged.withColumn("__lsum", coalesce(sum(col("__n")).over(wLocal), lit(0L)))
      .join(broadcast(offsets), Seq(groupCol, "__pid"))
      .withColumn("start_offset", col("__lsum") + col("__toff"))
      .withColumn("first_pack",
        floor(col("start_offset") / b).cast("long"))
      .withColumn("n_packs",
        (floor((col("start_offset") + col("__n") - 1) / b).cast("long") -
          col("first_pack") + 1L))
      .drop("__pid", "__n", "__lsum", "__toff")
  }

  /** Token-budget shard export — the training-data delivery step: cut
    * a curated corpus into ~`tokensPerShard`-token shards a trainer
    * can stream, each document kept WHOLE (assigned to the shard its
    * cumulative start offset falls in — greedy fill, so a shard can
    * overshoot by at most one document). Reuses [[sequencePack]]'s
    * scale construction (range partition + broadcast offsets, no
    * data-sized single-partition stage); the write is Hive-partitioned
    * by `shard`, and because ids are range-partitioned, each task
    * holds a CONTIGUOUS run of shards — ~(partition tokens / budget)
    * files per task, no shuffle on write. Also writes
    * `<outDir>/manifest` (per-shard doc/token counts) and returns it. */
  def exportShards(docs: DataFrame, idCol: String, textCol: String,
      tokensPerShard: Long, outDir: String): DataFrame = {
    require(tokensPerShard > 0, "tokensPerShard must be positive")
    val counted = docs.withColumn("n_tokens",
      greatest(graft.functions.TextFunctions.tokenCount(col(textCol))
        .cast("long"), lit(1L)))
    val packed = sequencePack(counted, idCol, "n_tokens", tokensPerShard)
      .withColumnRenamed("first_pack", "shard")
      .drop("start_offset", "n_packs")
    packed.write.mode("overwrite").partitionBy("shard")
      .parquet(outDir + "/data")
    val manifest = packed.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .orderBy(col("shard"))
    manifest.write.mode("overwrite").parquet(outDir + "/manifest")
    manifest.sparkSession.read.parquet(outDir + "/manifest")
  }

  /** `melt` procedure — delegates to the Reshape operator. */
  def melt(df: DataFrame, idCols: Seq[String], valueCols: Seq[String]): DataFrame =
    graft.operators.Reshape.melt(df, idCols, valueCols)

  /** `serial` procedure (`builtin/basic_procedures.cc:196-272`): run
    * child steps in order, stop at the first failure; returns the
    * per-step results accumulated so far. */
  def serial[T](steps: Seq[(String, () => T)]): Seq[(String, T)] =
    steps.map { case (name, run) => name -> run() }

  /** `permuter` procedure (`builtin/basic_procedures.cc:64-180`):
    * cartesian product of the parameter grid, one child run per
    * combination — the hyperparameter-sweep driver. The grid is
    * driver-side (it is configuration, not data); each run is a full
    * distributed job. */
  def permutations(grid: Seq[(String, Seq[Any])]): Seq[Map[String, Any]] =
    grid.foldLeft(Seq(Map.empty[String, Any])) { case (acc, (k, vs)) =>
      for (m <- acc; v <- vs) yield m + (k -> v)
    }

  def permuter[T](grid: Seq[(String, Seq[Any])],
      run: Map[String, Any] => T): Seq[(Map[String, Any], T)] =
    permutations(grid).map(p => p -> run(p))

  /** One column's summary-statistics row, reference-shaped
    * (`builtin/summary_statistics_proc.cc:160-420`;
    * testing/summary_stats_proc_test.py): `stats` maps the reference's
    * `value.<stat>` cell names to values, `mostFrequent` the top-10
    * `value.most_frequent_items.<item>` cells. */
  final case class ColSummary(column: String, stats: Map[String, Any],
      mostFrequent: Seq[(String, Long)])

  /** `summary.statistics` with the reference's exact output shape.
    *
    * The reference runs 2 queries per column; here ALL columns share
    * three passes regardless of width: (1) one aggregate row with
    * every column's count/min/max/avg/stddev/distinct, (2) one melt →
    * `(c, v, cnt)` count table for the numeric columns' quartiles,
    * most-frequent items and distinct counts, (3) the same for the
    * categorical columns' most-frequent items.
    *
    * Pass 2's table is the plain hash `groupBy(c, v)`
    * ([[SummaryCounts.countTable]]), read twice
    * ([[SummaryCounts.numeric]]): one digest job — per column the count
    * total, row count, top-10 and a histogram of at most 4,096 buckets
    * between pass 1's min and max — and one job that collects the rows
    * of only the buckets where a quartile crosses. Pass 3 takes its
    * top-10 from the same digest over its grouped table. No window is
    * keyed by the column name, so no task ever holds a continuous
    * column's whole value set, and every driver collect is bounded by
    * the column count.
    *
    * The statically-numeric count table's shuffle map stage starts on
    * the calling thread while pass 1 runs on a thread that carries the
    * caller's local properties ([[graft.core.DfOps.inBackground]]), so
    * its jobs stay in the caller's job group.
    *
    * Numeric/categorical per the reference's probe: a column is
    * numeric when it has ≥1 non-null value and every non-null value
    * reads as a number (their numeric aggregate query would throw on a
    * non-numeric cell). Quartiles use the reference's rule: the first
    * value (ascending) whose cumulative count strictly exceeds
    * n*{0.25, 0.5, 0.75}. Most-frequent keeps the top 10 by (count,
    * value) pair order — count first, larger value on ties — exactly
    * like their `MostFrequents` heap. */
  def summaryStatisticsReference(df: DataFrame,
      cols: Seq[String]): Seq[ColSummary] = {
    import org.apache.spark.sql.types._
    def numExpr(c: String): Column = df.schema(c).dataType match {
      case BooleanType => col(s"`$c`").cast("int").cast("double")
      case _: NumericType => col(s"`$c`").cast("double")
      case _ => col(s"`$c`").cast("double") // strings: null when non-numeric
    }
    def strExpr(c: String): Column = col(s"`$c`").cast("string")
    // num_unique strategy per static type. The cheap path derives it
    // from the (c, v) count table pass 2 builds anyway — but ONLY
    // where value→double is injective: int-like types always, and
    // float/double with a pass-1 correction for the one pair the
    // groupBy normalizes away (-0.0 vs 0.0; NaNs already agree — all
    // bit patterns render "NaN" and group as one). LONG and DECIMAL
    // must NOT derive (values past 2^53 collapse under the double
    // cast) — they keep a pass-1 countDistinct on the NATIVE value
    // (bijective with the string rendering, cheaper than casting).
    // Everything else (strings…) keeps the string countDistinct.
    val fpCols: Set[String] = cols.filter(c =>
      df.schema(c).dataType match {
        case FloatType | DoubleType => true
        case _ => false
      }).toSet
    val deriveUnique: Set[String] = cols.filter(c =>
      df.schema(c).dataType match {
        case BooleanType | ByteType | ShortType | IntegerType => true
        case FloatType | DoubleType => true
        case _ => false
      }).toSet
    val nativeDistinct: Set[String] = cols.filter(c =>
      df.schema(c).dataType match {
        case LongType | _: DecimalType => true
        case _ => false
      }).toSet
    // Statically-typed numeric columns are numeric whenever they hold
    // a value (cast-to-double of a numeric/boolean is never null), so
    // their count-table pass does NOT need pass 1's verdict — only
    // string-typed columns need the nNum == nNotNull probe.
    val staticNumeric: Set[String] = cols.filter(c =>
      df.schema(c).dataType match {
        case BooleanType | _: NumericType => true
        case _ => false
      }).toSet
    def zeroText(n: Column): Column = when(n === 0.0, n.cast("string"))
    // pass 1: one aggregate row across every column (total row count
    // folded in — the separate df.count() pass this replaces was a
    // whole extra scan)
    val aggs = count(lit(1)).as("__total") +: cols.flatMap { c =>
      val n = numExpr(c)
      Seq(
        count(col(s"`$c`")).as(s"${c}__nNotNull"),
        count(n).as(s"${c}__nNum"),
        min(n).as(s"${c}__min"), max(n).as(s"${c}__max"),
        avg(n).as(s"${c}__avg"), stddev_samp(n).as(s"${c}__std")) ++
        (if (fpCols(c)) Seq(
          // non-ANSI division by zero is NULL, so the sign of 1/x
          // can't probe the zero's sign — the string rendering can:
          // "-0.0" or "0.0". Only zeros are rendered: subexpression
          // elimination hoists the shared cast onto every row
          max(when(zeroText(n) === "-0.0", 1L).otherwise(0L))
            .as(s"${c}__negZero"),
          max(when(zeroText(n) === "0.0", 1L).otherwise(0L))
            .as(s"${c}__posZero"))
        else Nil) ++
        (if (deriveUnique(c)) Nil
         else if (nativeDistinct(c))
           Seq(countDistinct(col(s"`$c`")).as(s"${c}__nUnique"))
         else Seq(countDistinct(strExpr(c)).as(s"${c}__nUnique")))
    }
    // Overlap the two big scans (guide §2.6 — concurrent independent
    // jobs back-fill each other's stragglers): pass 1 runs in the
    // background while the statically-numeric count table's shuffle
    // map stage runs.
    // The static table is correct regardless of pass 1's outcome — an
    // all-null static column just contributes zero rows.
    val rowF = graft.core.DfOps.inBackground(df.sparkSession) {
      df.agg(aggs.head, aggs.tail: _*).head()
    }
    val staticCounts: Option[SummaryCounts.Table] =
      if (cols.exists(staticNumeric))
        Some(SummaryCounts.countTable(df, cols.filter(staticNumeric), numExpr))
      else None
    val row = rowF()
    val total = row.getAs[Long]("__total")
    def g[T](c: String, st: String): T =
      row.getAs[T](s"${c}__$st")
    val numericCols = cols.filter { c =>
      val nn = g[Long](c, "nNotNull")
      nn > 0 && g[Long](c, "nNum") == nn
    }
    val catCols = cols.filterNot(numericCols.contains)
    // pass 2: numeric count table → quartiles, most frequent, and the
    // distinct counts of derive-eligible columns
    val numStats: Map[String, SummaryCounts.NumericCounts] =
      if (numericCols.isEmpty) Map.empty
      else {
        // the pre-built static table covers every numeric column unless
        // a STRING column turned out numeric-in-content — only then pay
        // a second (sequential) melt over the full numeric set
        val counts =
          if (numericCols.forall(staticNumeric) && staticCounts.nonEmpty)
            staticCounts.get
          else SummaryCounts.countTable(df, numericCols, numExpr)
        SummaryCounts.numeric(counts, numericCols.map(c =>
          c -> SummaryCounts.Extent(g[Long](c, "nNotNull"),
            g[java.lang.Double](c, "min"), g[java.lang.Double](c, "max"))).toMap)
      }
    // pass 3: categorical count table → most frequent; each (c, v)
    // lies whole in one of the groupBy's partitions, which is all the
    // digest's top-10 needs
    val catTops: Map[String, Seq[(String, Long)]] =
      if (catCols.isEmpty) Map.empty
      else {
        SummaryCounts.digest(SummaryCounts.countTable(df, catCols, strExpr),
          SummaryCounts.Strings, Map.empty)
          .map { case (c, d) => c -> d.top.map { case (v, n) => v.toString -> n } }
      }
    // derive-eligible types: the count table's row count (an all-null
    // column melts to zero rows → 0, matching countDistinct), plus one
    // for a float column holding BOTH zero signs (the groupBy
    // normalized them into one row; the string rendering — and the
    // previous behavior — counts two). Everything else reads its
    // pass-1 countDistinct.
    def uniqueOf(c: String): Long =
      if (deriveUnique(c)) {
        val negZeroPair = fpCols(c) && numericCols.contains(c) &&
          g[Long](c, "negZero") == 1L && g[Long](c, "posZero") == 1L
        numStats.get(c).map(_.unique).getOrElse(0L) +
          (if (negZeroPair) 1L else 0L)
      } else g[Long](c, "nUnique")
    cols.map { c =>
      if (numericCols.contains(c)) {
        val st = numStats(c)
        val qs = st.quartiles
        val nn = g[Long](c, "nNotNull")
        val std = Option(g[java.lang.Double](c, "std"))
          .map(_.doubleValue).getOrElse(Double.NaN)
        ColSummary(c, Map(
          "data_type" -> "number",
          "num_null" -> (total - nn),
          "num_unique" -> uniqueOf(c),
          "min" -> g[java.lang.Double](c, "min").doubleValue,
          "max" -> g[java.lang.Double](c, "max").doubleValue,
          "avg" -> g[java.lang.Double](c, "avg").doubleValue,
          "stddev" -> (if (nn <= 1) Double.NaN else std),
          "1st_quartile" -> qs(0), "median" -> qs(1),
          "3rd_quartile" -> qs(2)),
          st.top.map { case (v, n) => numItemName(v) -> n })
      } else {
        val nn = g[Long](c, "nNotNull")
        ColSummary(c, Map(
          "data_type" -> "categorical",
          "num_null" -> (total - nn),
          "num_unique" -> uniqueOf(c)),
          catTops.getOrElse(c, Seq.empty))
      }
    }
  }

  /** The reference renders numeric most-frequent item names through
    * `CellValue::toString` — integers without a decimal point
    * (summary_statistics_proc.cc:309's "1", not "1.00000"). */
  private def numItemName(d: Double): String =
    if (d.isWhole && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
}
