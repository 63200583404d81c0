package graftbench

import java.nio.file.{Files, Path}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Tables

/** The two closed-loop workloads: one client runs one op at a time over
  * a panel of ops, in seeded order.
  *
  * `sql-short` times a fixed panel of the timed `SparkEntry` queries
  * outside `batch-pipelines` ([[QueryLoop.ShortPanel]]); `batch-pipelines`
  * times three of its queries plus an ingest chain (CSV import → stream
  * record → compact → dialect read).
  */
object QueryLoop {

  /** Queries that took at least 1 s each with full execution at sf0.1
    * on a 4-core host, by name prefix: the batch-pipelines workload. q68
    * is among them but its as-of join does not finish within its
    * deadline, so it is kept out of the timed loop (a workload whose ops
    * fail cannot be compared run to run) and probed on its own in the
    * traced run instead. */
  val BatchQueries: Seq[String] = Seq("q43", "q127", "q104", "q126", "q70",
    "q71", "q114", "q46", "q89", "q56", "q55", "q112", "q100", "q82", "q103",
    "q47", "q58", "q50", "q105", "q90", "q72", "q99", "q53", "q22")
  /** The batch queries timed in every run. One pass over all 24 takes
    * about 100 s on 4 cores, more than a run's budget, and a window over
    * a different subset per seed spreads by about 20 % from the subset
    * alone; a fixed panel keeps runs comparable. q43 and q104 are the
    * slowest execution-bound queries (`count()` used to hide their
    * cost); q126 is build-bound (eager jobs before the plan exists).
    * `--record` still runs all 24. */
  val BatchPanel: Seq[String] = Seq("q43", "q104", "q126")
  val KnownOverDeadline: Seq[String] = Seq("q68")
  /** A cross-engine verification twin, excluded from timing as in
    * `graft.Bench`. */
  val VerificationTwins: Set[String] = Set("q83_simhash_md5")
  val ChainName = "ingest.chain"

  def prefix(name: String): String = name.takeWhile(_ != '_')

  /** The chain's read-back: integer aggregates only, so the result
    * does not depend on summation order. */
  def DialectReadOver(table: String): String =
    "SELECT event_type, count(*) AS n, min(event_id) AS first_id, " +
      s"max(event_id) AS last_id FROM $table GROUP BY event_type"

  def familyOf: Map[String, String] = {
    import graft.queries._
    Seq("Relational" -> RelationalQueries.all, "Function" -> FunctionQueries.all,
      "Pipeline" -> PipelineQueries.all, "Procedure" -> ProcedureQueries.all,
      "SqlDialect" -> SqlDialectQueries.all, "Eav" -> EavQueries.all)
      .flatMap { case (f, qs) => qs.map(_.name -> f) }.toMap
  }

  /** Every timed query: name → (family, program call). */
  def timedQueries: Map[String, (String, (SparkSession, String) => DataFrame)] = {
    val fam = familyOf
    (graft.SparkEntry.queries -- VerificationTwins).map { case (n, f) =>
      n -> (fam.getOrElse(n, "Pipeline"), f)
    } ++ graft.SparkEntry.benchOnlyQueries.map { case (n, f) =>
      n -> ("Pipeline", f)
    }
  }

  /** The sql-short queries a run times: 23 from every family, spanning
    * the cheaper four fifths of the workload (about 0.1 s to 0.8 s each
    * with full execution at sf0.1 on 4 cores; the dearer fifth would
    * double a run's length). A fixed list keeps runs comparable: a subset
    * drawn per seed spread the median by 20-30 % from its make-up alone,
    * and a pass over all 100 queries takes about 70 s. */
  val ShortPanel: Seq[String] = Seq("q04_distinct_on", "q11_join_cross_theta",
    "q115_fix_text", "q116_intradoc_line_dedup", "q120_sql_string_agg_ordered",
    "q123_video_rle_decode", "q125_compression_ratio", "q15_having",
    "q21_ranking", "q28_rowname", "q33_string_funcs", "q35_geo",
    "q37_likelihood_ratio", "q38_horizontal", "q39_sessionize",
    "q40_dedup_exact", "q41_token_stats", "q44_embedding_norm",
    "q59_regression", "q61_sql_join", "q66_eav_temporal",
    "q73_sql_column_expr", "q79_sql_orderby_inselect")
}

final class QueryLoop(spark: SparkSession, tracer: Tracer, cfg: Config) {
  import QueryLoop._

  private val sf = cfg.data
  private val batch = cfg.workload == "batch-pipelines"
  private val queries = timedQueries
  private val names: Seq[String] = {
    val isBatch = (n: String) => BatchQueries.contains(prefix(n))
    val excluded = (n: String) => KnownOverDeadline.contains(prefix(n))
    queries.keys.toSeq.filter(n => !excluded(n) && isBatch(n) == batch).sorted
  }
  /** The ops a run times: batch-pipelines' fixed panel and the chain,
    * or sql-short's fixed panel. */
  val panel: Seq[String] =
    if (batch) names.filter(n => BatchPanel.contains(prefix(n))) :+ ChainName
    else ShortPanel
  require(panel.forall(n => n == ChainName || names.contains(n)),
    s"panel queries missing from the workload: ${panel.filterNot(n => n == ChainName || names.contains(n))}")
  private val oracles: Map[String, () => Option[String]] =
    graft.SparkEntry.defs.map(d => d.name -> (() => d.oracle)).toMap
  private lazy val engine = new graft.api.GraftEngine(spark)
  private val StreamFiles = 2
  private var staged: Path = _
  private var chainRuns = 0
  /** The untimed first executions of sql-short's window. */
  val prerun = Seq.newBuilder[OpRecord]
  /** Time spent in `measure`'s `between` calls, which the window leaves
    * out. */
  var pausedMs = 0.0

  /** One repetition of the workload's set-up, what a user pays before
    * the first query: load every table (each load infers its schema
    * with a Spark job). */
  def setup(): Unit = Tables.names.foreach { t =>
    if (t == "events") Tables.events(spark, sf).schema
    else Tables.load(spark, sf, t).schema
  }

  /** batch-pipelines: stage the ingest chain's inputs — lineitem as
    * CSV, and the first `StreamDays` days of events as `StreamFiles`
    * stream files (one per micro-batch). The store partitions by day, so
    * the day count sets how many leaves compaction rewrites. The inputs
    * depend only on the build and the tables, so they are made once into
    * `cfg.stage` and later runs read them from there. */
  def stage(): Unit = if (batch) {
    import org.apache.spark.sql.functions.{col, lit, min}
    val dir = cfg.stage
    if (!Files.exists(dir.resolve("done"))) {
      // what an interrupted run may have left
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
      graft.sources.Sources.exportCsv(Tables.lineitem(spark, sf),
        dir.resolve("csv").toString)
      val ev = Tables.events(spark, sf)
      val first = ev.agg(min("ts")).head().getTimestamp(0).getTime
      ev.where(col("ts") < lit(new java.sql.Timestamp(first + StreamDays * 86400000L)))
        .repartition(StreamFiles).write.parquet(dir.resolve("stream_in").toString)
      Files.createFile(dir.resolve("done"))
    }
    staged = dir
  }
  private val StreamDays = 7

  /** Runs every query of the workload (all 24 batch queries, not only
    * the panel) in name order, `passes` times, with no window: the
    * reference run that records fingerprints. */
  def recordPasses(runner: Runner, passes: Int, originMs: Double): Seq[OpRecord] =
    (1 to passes).flatMap { pass =>
      (names ++ (if (batch) Seq(ChainName) else Nil)).flatMap { item =>
        if (item == ChainName) chain(runner, pass, originMs)
        else Seq(runQuery(runner, item, pass, originMs))
      }
    }

  /** Runs whole passes over the panel, each in seeded order, until
    * `--seconds` of ops have passed (at least one pass); returns every op
    * record. `between` runs `slots` times, spread evenly over the first
    * pass's timed ops and outside them, each after an op, so that none
    * runs before the JVM has done any of the workload's work. */
  def measure(runner: Runner, rng: Random, originMs: Double, slots: Int,
      between: () => Double): Seq[OpRecord] = {
    val ops = Seq.newBuilder[OpRecord]
    var pass = 0
    while (pass == 0 || (!runner.wedged &&
        tracer.nowMs - originMs - pausedMs < cfg.seconds * 1000)) {
      pass += 1
      // batch-pipelines: the chain first, so the JVM's first-use costs
      // land on the same ops in every run, then the queries
      val order = if (batch) ChainName +: rng.shuffle(panel.filter(_ != ChainName))
        else rng.shuffle(panel)
      // sql-short times each query's second execution in this JVM: a
      // first pass over the panel, on the smallest tables and untimed,
      // pays each query's one-off class loading and code generation and
      // warms the JIT, which otherwise swamp a short query (the first
      // queries of a fresh JVM ran 1.5-2x slower than later ones).
      if (!batch && pass == 1) order.foreach { item =>
        if (!runner.wedged) prerun += runQuery(runner, item, 1, originMs, cfg.smallData)
      }
      val after = if (pass == 1) (1 to slots).map(_ * order.size / slots - 1) else Nil
      order.zipWithIndex.foreach { case (item, i) =>
        if (!runner.wedged) {
          if (item == ChainName) ops ++= chain(runner, pass, originMs)
          else ops += runQuery(runner, item, pass, originMs)
        }
        after.filter(_ == i).foreach(_ => pausedMs += between())
      }
    }
    ops.result()
  }

  def runQuery(runner: Runner, name: String, pass: Int, originMs: Double,
      data: String = sf): OpRecord = {
    val (family, fn) = queries(name)
    runner.run(name, family, pass, originMs) { ph =>
      val fp = ph.query(fn(spark, data))
      // Some oracles inline values the query computed, so they are
      // read only after it ran (as graft.Verify does), outside timing.
      ph.oracleSql = oracles.get(name).flatMap(_())
      fp
    }
  }

  /** The ingest chain: four ops over one fresh store. */
  private def chain(runner: Runner, pass: Int, originMs: Double): Seq[OpRecord] = {
    chainRuns += 1
    val dir = cfg.work.resolve(s"chain$chainRuns")
    val store = dir.resolve("store").toString
    val csvSchema = Tables.lineitem(spark, sf).schema
    val recs = Seq.newBuilder[OpRecord]
    def step(name: String)(body: Phases => Fp): Option[Fp] = {
      val r = runner.run(name, "Ingest", pass, originMs)(body)
      recs += r
      if (r.status == "ok") r.fp else None
    }
    val ok = step("ingest.import_text") { ph =>
      val fp = ph.query(graft.sources.Sources.importText(spark,
        staged.resolve("csv").toString,
        graft.sources.Sources.TextImportConfig(schema = Some(csvSchema))))
      ph.extra("rows") = fp.rows
      fp
    }.flatMap { _ =>
      step("ingest.stream_record") { ph =>
        val q = ph("build") {
          val in = spark.readStream
            .schema(spark.read.parquet(staged.resolve("stream_in").toString).schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(staged.resolve("stream_in").toString)
          val q = graft.streaming.Continuous.record(in, "ts", store,
            dir.resolve("ckpt").toString, availableNowForTest = true)
          q.awaitTermination()
          q.exception.foreach(e => throw e)
          q
        }
        val progress = q.recentProgress.filter(_.numInputRows > 0).toSeq
        def dur(k: String) = progress.drop(1)
          .map(p => Option(p.durationMs.get(k)).map(_.toLong).getOrElse(0L)).sum
        ph.extra ++= Map("batches" -> progress.size,
          "events_after_first" -> progress.drop(1).map(_.numInputRows).sum,
          "trigger_ms_after_first" -> dur("triggerExecution"),
          "add_batch_ms" -> dur("addBatch"), "wal_commit_ms" -> dur("walCommit"),
          "planning_ms" -> dur("queryPlanning"),
          "files_written" -> dataFiles(Path.of(store)).size)
        ph.query(spark.read.parquet(store))
      }
    }.flatMap { recorded =>
      step("ingest.compact") { ph =>
        val before = dataFiles(Path.of(store))
        val rep = ph("build")(graft.procedures.Compact.compactStore(spark, store,
          retireStreamMetadata = true))
        ph.extra ++= Map("files_before" -> rep.filesBefore,
          "files_after" -> rep.filesAfter,
          "bytes_rewritten" -> rep.leaves.filter(_.compacted).map(_.bytes).sum,
          "data_files_before" -> before.size)
        val fp = ph.query(graft.procedures.Compact.readStore(spark, store))
        if (fp != recorded) throw new OutputMismatch(
          s"compaction changed the store: ${fp.rows} rows ${fp.hex}, " +
            s"recorded ${recorded.rows} rows ${recorded.hex}")
        fp
      }
    }.flatMap { _ =>
      step("ingest.dialect_read") { ph =>
        engine.createDataset("bench_store",
          graft.procedures.Compact.readStore(spark, store))
        ph.query(engine.query(DialectRead))
      }
    }
    recs.result()
  }

  private def dataFiles(root: Path): Seq[Path] = {
    val s = Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
      }.toSeq
    } finally s.close()
  }

  private val DialectRead: String = DialectReadOver("bench_store")

  /** Runs q68 once with its own deadline, so the traced run names it. */
  def probeKnownOverDeadline(spark: SparkSession, deadlineS: Double,
      originMs: Double): Seq[OpRecord] = {
    val r = new Runner(spark, tracer, deadlineS)
    try queries.keys.toSeq.filter(n => KnownOverDeadline.contains(prefix(n)))
      .sorted.map(n => runQuery(r, n, 0, originMs))
    finally r.close()
  }
}
