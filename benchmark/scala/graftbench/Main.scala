package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession

final case class Config(workload: String, seed: Long, seconds: Double,
    trace: Boolean, data: String, smallData: String, out: Path, work: Path,
    stage: Path, deadlineS: Double, record: Boolean)

/** The benchmark's JVM side: runs one workload and writes everything
  * it measured to `<out>/raw.json` (and, traced, `<out>/spans.jsonl`).
  * `run.py` turns that into metrics and checks the outputs.
  *
  * Usage: graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --small-data DIR --out DIR --stage DIR [--record 0|1]
  */
object Main {
  val Workloads = Seq("sql-short", "batch-pipelines", "rest-mixed")
  /** A closed loop sets up this many times per run: once before the
    * window, then spread over its first pass, so that a few seconds of
    * host noise do not move every repetition at once. `setup_s` is the
    * median. */
  val SetupReps = 5

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    require(Workloads.contains(workload), s"unknown workload '$workload'")
    val out = Paths.get(arg("out"))
    val cfg = Config(workload, arg("seed").toLong, arg("seconds").toDouble,
      arg("trace") == "1", arg("data"), arg("small-data"), out, out.resolve("work"),
      Paths.get(arg("stage")),
      deadlineS = if (workload == "batch-pipelines") 60 else 30,
      record = kv.get("record").contains("1"))
    Files.createDirectories(cfg.work)
    require(Files.isDirectory(Paths.get(cfg.data)), s"no table directory ${cfg.data}")
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", cfg.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", cfg.work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", cfg.work.resolve("hadoop").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(cfg.trace)
    tracer.attach(spark.sparkContext)
    val rng = rngFor(cfg.seed, 0)
    val fields = Seq.newBuilder[(String, Any)]
    try {
      cfg.workload match {
        case "rest-mixed" => fields ++= new RestMixed(spark, tracer, cfg, rng).run()
        case _ => fields ++= closedLoop(spark, tracer, cfg, rng)
      }
    } finally {
      val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).filter(_ >= 0).sum
      val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum
      fields ++= Seq("workload" -> cfg.workload, "seed" -> cfg.seed,
        "seconds" -> cfg.seconds, "trace" -> cfg.trace, "cores" -> cores,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory() / 1048576.0,
        "jvm_gc_ms" -> gc, "jvm_heap_used_peak_mb" -> heapPeak / 1048576.0,
        "peak_rss_mb" -> peakRssMb, "jobs_total" -> tracer.jobsSeen.get())
      if (cfg.trace) tracer.writeSpans(out.resolve("spans.jsonl"))
      spark.stop()
      Files.writeString(out.resolve("raw.json"), Json.obj(fields.result(): _*))
    }
  }

  /** A generator for one stream of a run's random choices. The seed is
    * scrambled first: java.util.Random's first draws from neighbouring
    * seeds are nearly equal, so seeds 1, 2, 3 would shuffle alike. */
  def rngFor(seed: Long, stream: Int): Random =
    new Random(new java.util.SplittableRandom(seed * 31 + stream).nextLong())

  /** VmHWM: the process's peak resident set. */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(-1.0)

  def timeMs[T](tracer: Tracer)(body: => T): (T, Double) = {
    val t0 = tracer.nowMs
    val r = body
    (r, tracer.nowMs - t0)
  }

  def closedLoop(spark: SparkSession, tracer: Tracer, cfg: Config,
      rng: Random): Seq[(String, Any)] = {
    val loop = new QueryLoop(spark, tracer, cfg)
    val runner = new Runner(spark, tracer, cfg.deadlineS)
    val setupMs = scala.collection.mutable.ArrayBuffer(timeMs(tracer)(loop.setup())._2)
    val stageMs = timeMs(tracer)(loop.stage())._2
    val origin = tracer.nowMs
    val ops = try {
      if (cfg.record) loop.recordPasses(runner, 2, origin)
      else loop.measure(runner, rng, origin, SetupReps - 1, () => {
        val ms = timeMs(tracer)(loop.setup())._2
        setupMs += ms
        ms
      })
    } finally runner.close()
    val windowMs = tracer.nowMs - origin - loop.pausedMs
    val probes = if (cfg.trace) Probes.closedLoop(spark, tracer, cfg, loop) else Nil
    Seq("setup_ms" -> setupMs.toSeq, "stage_ms" -> stageMs,
      "prerun_failed" -> loop.prerun.result().filter(_.status != "ok")
        .map(r => s"${r.name}: ${r.reason}"),
      "window_ms" -> windowMs,
      "ops" -> Json.Raw(ops.map(_.json(tracer)).mkString("[", ",", "]"))) ++ probes
  }
}
