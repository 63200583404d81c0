package graftbench

import org.apache.spark.sql.SparkSession

import graft.core.Tables

/** In-process measurements the traced run adds after the measured
  * window, one call at a time, on the same inputs the workload used.
  * Each probe is an op record (name `probe.*`), so its Spark work is
  * charged to it like any op's. */
object Probes {
  val Reps = 3

  /** Dialect texts the lowering probe parses and lowers: the ingest
    * chain's read and the REST workload's two reads. */
  def dialectTexts(keys: Seq[Long]): Seq[String] =
    QueryLoop.DialectReadOver("bench_rows") +: RestMixed.lookupSql(keys.head) +:
      Seq(RestMixed.AggregateSql)

  def loadAndLower(spark: SparkSession, tracer: Tracer, cfg: Config,
      runner: Runner, origin: Double): Seq[OpRecord] = {
    val load = (1 to Reps).map { _ =>
      runner.run("probe.load", "Probe", 0, origin) { ph =>
        ph("build")(Tables.names.foreach(t => Tables.load(spark, cfg.data, t).schema))
        Fp(0, 0)
      }
    }
    val engine = new graft.api.GraftEngine(spark)
    engine.createDataset("customer", Tables.load(spark, cfg.data, "customer"))
    engine.createDataset("bench_rows", spark.range(1).selectExpr(
      "'r0' AS rowName", "0L AS k", "0.0 AS v", "'x' AS event_type",
      "0L AS event_id"))
    val texts = dialectTexts(Seq(1L))
    val lower = runner.run("probe.lower", "Probe", 0, origin) { ph =>
      val parseUs = Seq.newBuilder[Double]
      val lowerMs = Seq.newBuilder[Double]
      for (_ <- 1 to Reps; t <- texts) {
        val t0 = System.nanoTime()
        graft.sql.Parser.parse(t)
        val t1 = System.nanoTime()
        ph("build")(engine.query(t))
        val t2 = System.nanoTime()
        parseUs += (t1 - t0) / 1e3
        lowerMs += ((t2 - t1) - (t1 - t0)) / 1e6
      }
      ph.extra ++= Map("parse_us" -> parseUs.result(), "lower_ms" -> lowerMs.result())
      Fp(0, 0)
    }
    load :+ lower
  }

  def closedLoop(spark: SparkSession, tracer: Tracer, cfg: Config,
      loop: QueryLoop): Seq[(String, Any)] = {
    val origin = tracer.nowMs
    val runner = new Runner(spark, tracer, cfg.deadlineS)
    val probes = try loadAndLower(spark, tracer, cfg, runner, origin)
      finally runner.close()
    val known =
      if (cfg.workload == "batch-pipelines")
        loop.probeKnownOverDeadline(spark, KnownDeadlineS, origin)
      else Nil
    val (api, burst) =
      if (cfg.workload == "sql-short")
        new RestMixed(spark, tracer, cfg, Main.rngFor(cfg.seed, 3)).inProcessProbes()
      else (Nil, null)
    Seq("probes" -> Json.Raw((probes ++ known ++ api).map(_.json(tracer))
      .mkString("[", ",", "]")), "rest_step" -> burst)
  }

  val KnownDeadlineS = 10.0
}
