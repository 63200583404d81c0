package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Tables
import graft.procedures.Procedures
import graft.sources.Sources
import graft.streaming.Continuous

class ProceduresSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  test("dedup.semantic centroidsDataset collect is capped, fail-fast") {
    val e = new graft.api.GraftEngine(spark)
    val vecs = spark.range(20).selectExpr(
      "cast(id as string) as vec_id",
      "array(cast(id as double), 1.0d) as embedding")
    e.createDataset("capEmbs", vecs)
    e.createDataset("capCents", vecs) // 20 "centroids"
    spark.conf.set("spark.graft.planTimeKeyCap", "5")
    try {
      val ex = intercept[IllegalArgumentException](
        e.runProcedure("dedup.semantic", Map(
          "inputDataset" -> "capEmbs",
          "centroidsDataset" -> "capCents",
          "outputDataset" -> "capOut").get _))
      assert(ex.getMessage.contains("dedup.semantic centroidsDataset"),
        ex.getMessage)
    } finally spark.conf.unset("spark.graft.planTimeKeyCap")
    // a conventionally k-sized centroids table still works
    e.createDataset("capCents3", vecs.limit(3))
    e.runProcedure("dedup.semantic", Map(
      "inputDataset" -> "capEmbs",
      "centroidsDataset" -> "capCents3",
      "outputDataset" -> "capOut").get _)
    assert(e.dataset("capOut").count() > 0)
  }

  test("split is deterministic, disjoint, covering, ~fraction sized") {
    val orders = Tables.orders(spark, sf)
    val (train, test) = Procedures.split(orders, "o_orderkey", 0.2)
    val (n, tr, te) = (orders.count(), train.count(), test.count())
    assert(tr + te === n)
    assert(te > n * 0.15 && te < n * 0.25)
    val (tr2, te2) = Procedures.split(orders, "o_orderkey", 0.2) match {
      case (a, b) => (a.count(), b.count())
    }
    assert(tr2 === tr && te2 === te)
    assert(train.join(test, Seq("o_orderkey")).count() === 0)
  }

  test("quotaSample: per-group caps, deterministic, equals single-window form") {
    val docs = Tables.documents(spark, sf)
    val out = Procedures.quotaSample(docs, "source", "doc_id", cap = 3)
    // cap respected, groups preserved
    val per = out.groupBy("source").count().collect()
    assert(per.forall(_.getLong(1) <= 3))
    val smallGroups = docs.groupBy("source").count()
      .filter(col("count") <= 3).count()
    assert(per.count(_.getLong(1) == 3) === per.length - smallGroups)
    // two-phase result == naive single-window result (same md5 order)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    val naive = docs.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= 3).drop("__rn")
    assert(out.select("doc_id").except(naive.select("doc_id")).isEmpty &&
      naive.select("doc_id").except(out.select("doc_id")).isEmpty)
    // stable under repartitioning (partition-id phase must not leak)
    val out2 = Procedures.quotaSample(docs.repartition(7), "source", "doc_id", 3)
    assert(out2.select("doc_id").except(out.select("doc_id")).isEmpty)
  }

  test("mixtureSample: rates hit within granularity, deterministic, zero-rate drops all") {
    val docs = Tables.documents(spark, sf)
    val out = Procedures.mixtureSample(docs, "source", "doc_id",
      Map("src0" -> 0.5, "src1" -> 0.0), defaultRate = 1.0)
    assert(out.filter(col("source") === "src1").count() === 0)
    val keptDefault = out.filter(!col("source").isin("src0", "src1")).count()
    val allDefault = docs.filter(!col("source").isin("src0", "src1")).count()
    assert(keptDefault === allDefault) // rate 1.0 keeps everything
    val n0 = docs.filter(col("source") === "src0").count()
    val k0 = out.filter(col("source") === "src0").count()
    assert(k0 > 0 && k0 < n0) // half-ish rate strictly thins
    // determinism
    val again = Procedures.mixtureSample(docs, "source", "doc_id",
      Map("src0" -> 0.5, "src1" -> 0.0), defaultRate = 1.0)
    assert(again.select("doc_id").except(out.select("doc_id")).isEmpty &&
      out.select("doc_id").except(again.select("doc_id")).isEmpty)
  }

  test("sequencePack: exact prefix sums, pack spans, range-partitioned plan") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokenCount(col("text"))
          .cast("long").as("n_tokens"))
    val out = Procedures.sequencePack(docs, "doc_id", "n_tokens", 64L)
      .select("doc_id", "n_tokens", "start_offset", "first_pack", "n_packs")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    // driver-side reference: running offset in id order
    var off = 0L
    out.foreach { case (_, n, start, first, packs) =>
      assert(start === off)
      val span = math.max(n, 1L)
      assert(first === start / 64)
      assert(packs === (start + span - 1) / 64 - start / 64 + 1)
      off += span
    }
    assert(out.map(_._5).max >= 2, "some doc should straddle a pack boundary")
    // scale shape: the data shuffles by RANGE on the sort key; the only
    // unpartitioned window runs over the partition-count-sized offsets
    val plan = Procedures.sequencePack(docs, "doc_id", "n_tokens", 64L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning"))
  }

  test("sequencePackGrouped: independent per-group streams, range-partitioned plan") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"),
        graft.functions.TextFunctions.tokenCount(col("text"))
          .cast("long").as("n_tokens"))
    val out = Procedures
      .sequencePackGrouped(docs, "source", "doc_id", "n_tokens", 64L)
      .select("source", "doc_id", "n_tokens", "start_offset", "first_pack",
        "n_packs")
      .as[(String, Long, Long, Long, Long, Long)].collect()
    // driver-side reference: one running offset PER source in id order
    out.groupBy(_._1).foreach { case (_, rows) =>
      var off = 0L
      rows.sortBy(_._2).foreach { case (_, _, n, start, first, packs) =>
        assert(start === off)
        val span = math.max(n, 1L)
        assert(first === start / 64)
        assert(packs === (start + span - 1) / 64 - start / 64 + 1)
        off += span
      }
    }
    // every group restarts at offset zero — no cross-source leakage
    assert(out.groupBy(_._1).forall(_._2.map(_._4).min === 0L))
    // stable under input partitioning
    val re = Procedures
      .sequencePackGrouped(docs.repartition(7), "source", "doc_id",
        "n_tokens", 64L)
      .select("source", "doc_id", "start_offset")
      .as[(String, Long, Long)].collect().toSet
    assert(re === out.map(t => (t._1, t._2, t._4)).toSet)
    val plan = Procedures
      .sequencePackGrouped(docs, "source", "doc_id", "n_tokens", 64L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning"))
  }

  test("csv round-trip preserves rows and text exactly") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text", "lang")
    val path = Files.createTempDirectory("graft_csv").toString + "/out"
    Sources.exportCsv(docs, path)
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType)))
    val back = Sources.importText(spark, path,
      Sources.TextImportConfig(schema = Some(schema)))
    assert(back.count() === docs.count())
    assert(docs.join(back, Seq("doc_id", "text", "lang"), "left_anti").count() === 0)
  }

  test("importText honors limit/offset/autoGenerateHeaders") {
    val path = Files.createTempDirectory("graft_csv2").toString + "/out"
    Sources.exportCsv(Tables.region(spark, sf), path, headers = false)
    val cfg = Sources.TextImportConfig(headers = false,
      autoGenerateHeaders = true, limit = Some(3))
    val back = Sources.importText(spark, path, cfg)
    // generated headers number 0..n-1 (reference MLDB-1741 naming)
    assert(back.columns.toSeq === Seq("0", "1"))
    assert(back.count() === 3)
  }

  test("importText option parity: crafted fixtures per reference option") {
    val dir = Files.createTempDirectory("graft_csv3").toString
    // a messy file: junk banner above the header, comment lines, an
    // Excel-formula cell, and one malformed (too-wide) line
    Files.writeString(java.nio.file.Paths.get(s"$dir/messy.csv"),
      """junk banner line
        |# a second junk line
        |id,name,score
        |1,alice,10
        |# comment to skip
        |2,="bob",20
        |3,carol,30,EXTRA
        |4,dave,40
        |""".stripMargin)
    val cfg = Sources.TextImportConfig(
      preHeaderOffset = 2, skipLineRegex = Some("#.*"),
      processExcelFormulas = true, ignoreBadLines = true)
    val got = Sources.importText(spark, s"$dir/messy.csv", cfg)
      .collect().map(r => r.getInt(0) -> (r.getString(1), r.getInt(2))).toMap
    // the too-wide line 3 dropped by ignoreBadLines; formula unwrapped
    assert(got === Map(1 -> ("alice", 10), 2 -> ("bob", 20),
      4 -> ("dave", 40)))
    // headerNames: a header-less file with names supplied (the
    // reference's `headers` list)
    Files.writeString(java.nio.file.Paths.get(s"$dir/nohdr.csv"),
      "1,x\n2,y\n")
    val named = Sources.importText(spark, s"$dir/nohdr.csv",
      Sources.TextImportConfig(headers = false, headerNames = Seq("k", "v")))
    assert(named.columns.toSeq === Seq("k", "v"))
    // select/where/named/timestamp post-expressions
    val post = Sources.importText(spark, s"$dir/messy.csv", cfg.copy(
      select = "id, upper(name) AS name_uc",
      where = "score >= 20",
      named = Some("concat('row', id)"),
      timestamp = Some("timestamp'2024-01-01 00:00:00'")))
    // select list applies AFTER named/ts columns exist; rowName/ts
    // must be selectable but the select here projects them away
    assert(post.columns.toSeq === Seq("id", "name_uc"))
    assert(post.collect().map(_.getString(1)).sorted.toSeq ===
      Seq("BOB", "DAVE"))
    val withMeta = Sources.importText(spark, s"$dir/messy.csv", cfg.copy(
      named = Some("concat('row', id)"),
      timestamp = Some("timestamp'2024-01-01 00:00:00'")))
    assert(withMeta.filter(col("rowName") === "row4").count() === 1)
    assert(withMeta.select("ts").distinct().count() === 1)
    // encoding: latin1 bytes round-trip under the declared charset
    val latin = "id,name\n1,café\n".getBytes("ISO-8859-1")
    Files.write(java.nio.file.Paths.get(s"$dir/latin1.csv"), latin)
    val enc = Sources.importText(spark, s"$dir/latin1.csv",
      Sources.TextImportConfig(encoding = "ISO-8859-1"))
    assert(enc.head().getString(1) === "café")
    // allowMultiLines: a quoted field spanning lines parses as one row
    Files.writeString(java.nio.file.Paths.get(s"$dir/multi.csv"),
      "id,txt\n1,\"line one\nline two\"\n")
    val multi = Sources.importText(spark, s"$dir/multi.csv",
      Sources.TextImportConfig(allowMultiLines = true))
    assert(multi.count() === 1 &&
      multi.head().getString(1).contains("line two"))
  }

  test("importText: integers beyond int64 import as DECIMAL(20,0) exactly") {
    // SURVEY §1.2: the reference's CellValue keeps uint64 up to
    // 2^64-1; Spark's bigint stops at 2^63-1. Inference promotes the
    // overflow range to decimal(20,0), preserving every digit.
    val dir = Files.createTempDirectory("graft_u64").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/u64.csv"),
      "id,big\n1,18446744073709551615\n2,42\n")
    val got = Sources.importText(spark, s"$dir/u64.csv")
    assert(got.schema("big").dataType ===
      org.apache.spark.sql.types.DecimalType(20, 0))
    val v = got.filter(col("id") === 1).head().getDecimal(1)
    assert(v.toBigInteger.toString === "18446744073709551615")
  }

  test("summary statistics long format, one pass") {
    val out = Procedures.summaryStatistics(
      Tables.lineitem(spark, sf), Seq("l_quantity", "l_discount")).cache()
    assert(out.count() === 12) // 2 cols x 6 stats
    val avgQ = out.filter(col("column_name") === "l_quantity" && col("stat") === "avg")
      .head().getAs[Double]("value")
    assert(avgQ > 20 && avgQ < 30)
  }

  test("summary statistics num_unique is exact at the double-cast " +
      "edges: 2^53-adjacent longs stay distinct, both zero signs count") {
    val s2 = spark
    import s2.implicits._
    // 2^53 and 2^53+1 collapse to ONE double — a derived-from-the-
    // double-grouped-table count would undercount the long column;
    // -0.0 and 0.0 group as one double but render as two values
    val df = Seq(
      (9007199254740992L, 0.0),
      (9007199254740993L, -0.0),
      (9007199254740993L, 1.5)).toDF("l", "d")
    val sums = Procedures.summaryStatisticsReference(df, Seq("l", "d"))
    assert(sums.find(_.column == "l").get.stats("num_unique") === 2L)
    assert(sums.find(_.column == "d").get.stats("num_unique") === 3L)
    // and an int column still rides the cheap derived path correctly
    val di = Seq(1, 1, 2, 3).toDF("i")
    val si = Procedures.summaryStatisticsReference(di, Seq("i"))
    assert(si.head.stats("num_unique") === 3L)
  }

  test("summary statistics num_unique over -0.0, 0.0 and NaN equals a " +
      "string countDistinct") {
    val s2 = spark
    import s2.implicits._
    val df = Seq[java.lang.Double](-0.0, 0.0, Double.NaN, -0.0, 1.0,
      Double.NaN, 0.0, null, -1.0, Double.NaN).toDF("d")
    val want = df.agg(countDistinct(col("d").cast("string"))).head().getLong(0)
    assert(want === 5L) // -0.0, 0.0, NaN, 1.0, -1.0
    val got = Procedures.summaryStatisticsReference(df, Seq("d")).head
    assert(got.stats("num_unique") === want)
    // one zero sign alone counts once
    Seq(-0.0, 0.0).foreach { z =>
      val one = Seq[java.lang.Double](z, z, Double.NaN, 2.0).toDF("d")
      assert(Procedures.summaryStatisticsReference(one, Seq("d")).head
        .stats("num_unique") === 3L, s"zero $z")
    }
  }

  test("q126's count table groups on an int column ordinal") {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.types.{DoubleType, IntegerType}
    val df = Tables.lineitem(spark, sf).select("l_extendedprice", "l_quantity")
    val t = graft.procedures.SummaryCounts.countTable(df, df.columns.toSeq,
      c => col(c).cast("double"))
    assert(t.names === df.columns.toSeq)
    val plan = t.rows.queryExecution.optimizedPlan
    val keys = plan.collect { case a: Aggregate =>
      a.groupingExpressions.map(_.dataType) }
    assert(keys.nonEmpty && keys.forall(_ == Seq(IntegerType, DoubleType)), plan)
    assert(t.rows.select("c").distinct().collect().map(_.getInt(0)).sorted
      === Array(0, 1))
  }

  test("summary statistics jobs carry the calling thread's job group") {
    // pass 1 runs on another thread while the count table is pinned;
    // every job of each call must carry that call's group, not the
    // group of whichever call first started the helper thread
    val df = Tables.lineitem(spark, sf).select("l_extendedprice", "l_quantity")
    val sc = spark.sparkContext
    Seq("graft-spec-a", "graft-spec-b").foreach { group =>
      sc.setJobGroup(group, "summary statistics")
      try {
        val (_, groups) = JobLog.record(spark) {
          Procedures.summaryStatisticsReference(df, df.columns.toSeq)
        }
        assert(groups.nonEmpty)
        assert(groups.forall(_.contains(group)),
          s"$group: ${groups.mkString(", ")}")
      } finally sc.clearJobGroup()
    }
  }

  test("bucketize approx matches exact within one bucket at the edges") {
    val exact = Procedures.bucketize(Tables.orders(spark, sf),
      "o_totalprice", "o_orderkey", 10)
    val approx = Procedures.bucketize(Tables.orders(spark, sf),
      "o_totalprice", "o_orderkey", 10, approx = true)
    val joined = exact.select(col("o_orderkey"), col("bucket").as("b1"))
      .join(approx.select(col("o_orderkey"), col("bucket").as("b2")), Seq("o_orderkey"))
    val far = joined.filter(abs(col("b1") - col("b2")) > 1).count()
    assert(far === 0)
  }

  test("bucketed tables join without a shuffle") {
    val s2 = spark
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      Procedures.transformBucketed(Tables.lineitem(spark, sf)
        .select("l_orderkey", "l_quantity"), "b_lineitem", Seq("l_orderkey"), 8)
      Procedures.transformBucketed(Tables.orders(spark, sf)
        .select("o_orderkey", "o_totalprice"), "b_orders", Seq("o_orderkey"), 8)
      val joined = s2.table("b_lineitem")
        .join(s2.table("b_orders"),
          col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
      assert(joined.count() === Tables.lineitem(spark, sf).count())
    } finally {
      s2.conf.set("spark.sql.adaptive.enabled", "true")
      s2.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      s2.sql("DROP TABLE IF EXISTS b_lineitem")
      s2.sql("DROP TABLE IF EXISTS b_orders")
    }
  }

  test("behavioral layout: subject×time range query runs with zero Exchange") {
    val s2 = spark
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // events = (user_id, ts, ...) — the (subject × behaviour × time)
      // shape of the reference's beh files
      Procedures.transformBehavioral(Tables.events(spark, sf),
        "b_behavior", "user_id", "ts", 8)
      val t = s2.table("b_behavior")
      // per-subject time-range aggregation: bucketed-by-subject layout
      // means the groupBy needs NO shuffle
      val q = t.filter(col("ts") >= "2024-01-02" && col("ts") < "2024-01-05")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
      assert(q.count() > 0)
      // and a self-join on the subject key is likewise shuffle-free
      val j = t.select(col("user_id"), col("ts"))
        .join(t.select(col("user_id"), col("ts").as("ts2")), Seq("user_id"))
      val jplan = j.queryExecution.executedPlan.toString
      assert(!jplan.contains("Exchange"), s"unexpected shuffle:\n$jplan")
    } finally {
      s2.conf.set("spark.sql.adaptive.enabled", "true")
      s2.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      s2.sql("DROP TABLE IF EXISTS b_behavior")
    }
  }

  test("continuous dataset: stream-record then window read with pruning") {
    val base = Files.createTempDirectory("graft_stream").toString
    val events = Tables.events(spark, sf)
    // stage the batch as files, stream them in with AvailableNow
    events.write.parquet(s"$base/in")
    val streamIn = spark.readStream
      .schema(spark.read.parquet(s"$base/in").schema)
      .parquet(s"$base/in")
    val q = Continuous.record(streamIn, "ts", s"$base/store", s"$base/ckpt",
      availableNowForTest = true)
    q.awaitTermination(120000)
    val from = java.sql.Timestamp.valueOf("2024-01-02 00:00:00")
    val to = java.sql.Timestamp.valueOf("2024-01-05 00:00:00")
    val win = Continuous.window(spark, s"$base/store", "ts", from, to)
    val expected = events.filter(col("ts") >= lit(from) && col("ts") < lit(to)).count()
    assert(win.count() === expected)
    assert(expected > 0)
    // partition pruning visible in the plan
    val plan = win.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(p_date"))
  }

  test("continuous dataset: restart from checkpoint loses and duplicates nothing (MLDBFB-530)") {
    val base = Files.createTempDirectory("graft_stream_restart").toString
    val events = Tables.events(spark, sf).limit(2000).cache()
    val half = events.count() / 2
    val schema = events.schema
    // stage batch 1, record it, stop — then stage batch 2 and restart
    // the SAME stream (same checkpoint): the reference's continuous
    // dataset survives restart; Structured Streaming's checkpoint is
    // the analog, and the store must end up with every event exactly
    // once
    val b1 = events.limit(half.toInt)
    val b2 = events.exceptAll(b1)
    b1.write.parquet(s"$base/in/batch1")
    def runOnce(): Unit = {
      val streamIn = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$base/in/*")
      val q = Continuous.record(streamIn, "ts", s"$base/store", s"$base/ckpt",
        availableNowForTest = true)
      q.awaitTermination(120000)
    }
    runOnce()
    val afterFirst = spark.read.parquet(s"$base/store").count()
    assert(afterFirst === b1.count())
    b2.write.parquet(s"$base/in/batch2")
    runOnce()
    val store = spark.read.parquet(s"$base/store")
    assert(store.count() === events.count(), "restart lost or duplicated events")
    // exactly-once at the row level, not just counts
    assert(store.select(col("event_id")).exceptAll(
      events.select(col("event_id"))).count() === 0)
    assert(events.select(col("event_id")).exceptAll(
      store.select(col("event_id"))).count() === 0)
    events.unpersist()
  }

  test("temperatureSample: sqrt temperature flattens the mixture, rates capped and deterministic") {
    import spark.implicits._
    // skewed corpus: big source 400 rows, small source 25 rows
    val rows = (0 until 400).map(i => (i.toLong, "big")) ++
      (1000 until 1025).map(i => (i.toLong, "small"))
    val df = rows.toDF("doc_id", "source")
    val out = Procedures.temperatureSample(df, "source", "doc_id",
      budgetFraction = 0.3, alpha = 0.5)
    val kept = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // sqrt temperature: small source keeps a HIGHER fraction than big
    val fracBig = kept.getOrElse("big", 0L).toDouble / 400
    val fracSmall = kept.getOrElse("small", 0L).toDouble / 25
    assert(fracSmall > fracBig,
      s"sqrt temperature must favor the small source: $kept")
    // expected-rate math: rate_s = min(1, b*N*w_s/(W*n_s)) at 1/256
    val w = Map("big" -> math.round(math.sqrt(400.0) * 1e6),
      "small" -> math.round(math.sqrt(25.0) * 1e6))
    val bigW = w.values.sum
    def cut(s: String, n: Long) = math.round(math.min(1.0,
      ((0.3 * 425) * w(s)) / (bigW.toDouble * n.toDouble)) * 256).toInt
    // per-source kept counts match the exact md5 filter at those cuts
    val expected = df.filter(
      (expr("instr('0123456789abcdef', substring(md5(cast(doc_id as string)), 1, 1)) - 1") * 16 +
        expr("instr('0123456789abcdef', substring(md5(cast(doc_id as string)), 2, 1)) - 1")) <
        when(col("source") === "big", cut("big", 400))
          .otherwise(cut("small", 25)))
    assert(out.select("doc_id").except(expected.select("doc_id")).isEmpty &&
      expected.select("doc_id").except(out.select("doc_id")).isEmpty)
    // deterministic
    val again = Procedures.temperatureSample(df, "source", "doc_id", 0.3)
    assert(out.select("doc_id").except(again.select("doc_id")).isEmpty)
  }

  test("exportShards cuts token-budget shards, keeps docs whole, writes a matching manifest") {
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val dir = Files.createTempDirectory("graft_shards").toString
    val budget = 5000L
    val manifest = Procedures.exportShards(docs, "doc_id", "text", budget, dir)
    val back = spark.read.parquet(dir + "/data")
    // every doc present exactly once, none split
    assert(back.count() === docs.count())
    assert(back.select("doc_id").distinct().count() === docs.count())
    // shard ids are contiguous from 0
    val shards = back.select(col("shard").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted
    assert(shards.head === 0L && shards.last === shards.length - 1L)
    // greedy fill: every shard's token sum stays under budget + the
    // largest single doc (a doc never splits, so only the straddling
    // doc can overshoot); every shard but the last reaches the budget
    val maxDoc = back.agg(max("n_tokens")).head().getLong(0)
    val sums = back.groupBy("shard").agg(sum("n_tokens").as("t"))
      .collect().map(r => (r.get(0).toString.toLong, r.getLong(1))).toMap
    sums.foreach { case (sh, t) =>
      assert(t <= budget + maxDoc, s"shard $sh overshoots: $t")
      if (sh < shards.last) assert(t >= budget - maxDoc, s"shard $sh underfilled: $t")
    }
    // manifest mirrors the data exactly
    val fromData = back.groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
    assert(manifest.select("shard", "n_docs", "n_tokens")
      .except(fromData).isEmpty)
    assert(fromData.except(
      manifest.select("shard", "n_docs", "n_tokens")).isEmpty)
  }
}
