package graftbench

import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentLinkedQueue, LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.api.{GraftEngine, RestServer}
import graft.core.Tables

object RestMixed {
  /** Point lookup on an sf0.1 table. */
  def lookupSql(key: Long): String =
    s"SELECT c_name, c_acctbal FROM customer WHERE c_custkey = $key"
  /** Aggregate over the dataset the workload writes. */
  val AggregateSql = "SELECT count(*) AS n FROM bench_rows"
  /** Offered rate of the fixed-rate phase, requests per second: about
    * half of what 4 connections sustain with this mix, where the write
    * and query requests (a Spark job each, 0.2-0.3 s) hold a connection
    * about 200 times longer than a scoring call. */
  val BaseRate = 60.0
  /** The rate ladder for `score_max_rps`, as multiples of BaseRate. */
  val Ladder = Seq(2.0, 4.0, 8.0)
  /** Set-up runs this many times per run (each trains the classifier);
    * `setup_s` is the median. */
  val SetupReps = 3
  /** Latency limit on the scoring tail. */
  val LimitMs = 100.0
  /** Share of the window given to the fixed-rate phase. */
  val FixedShare = 0.8
  /** How long requests still queued at the end of a step may take to be
    * sent; later ones fail. An overloaded ladder step is cut short so
    * the run ends on time. */
  val FixedDrainMs = 20000.0
  val LadderDrainMs = 1000.0
  val InFlightMs = 60000L
  /** Length of the open-loop step a traced closed-loop run adds for the
    * `rest.*` layer metrics. */
  val BurstSeconds = 4.0

  private val numRe = "-?[0-9][0-9.eE+-]*"
  def field(body: String, name: String): Option[String] =
    ("\"" + java.util.regex.Pattern.quote(name) + "\"\\s*:\\s*(\"[^\"]*\"|" + numRe + ")")
      .r.findFirstMatchIn(body).map(_.group(1).stripPrefix("\"").stripSuffix("\""))
}

/** The open-loop REST workload: requests arrive by a seeded Poisson
  * process at fixed rates, whether or not earlier ones have finished,
  * and at most `cores` connections send them. Latency is timed from
  * each request's due time. */
final class RestMixed(spark: SparkSession, tracer: Tracer, cfg: Config, rng: Random) {
  import RestMixed._

  private val conns = Runtime.getRuntime.availableProcessors()

  /** One request: where it goes and how to check its answer ("" = ok). */
  final case class Req(seq: Int, kind: String, sub: String, step: Int, due: Double,
      method: String, path: String, body: String, check: String => String)
  final case class Done(req: Req, enq: Double, send: Double, done: Double,
      code: Int, reason: String)

  // seeded inputs
  private val exprInputs = Array.fill(256) {
    def v = f"${1 + rng.nextDouble() * 99}%.6f".replace(',', '.')
    (v, v)
  }
  private val clsInputs = Array.fill(256) {
    (f"${rng.nextGaussian()}%.6f".replace(',', '.'),
      f"${rng.nextGaussian()}%.6f".replace(',', '.'))
  }
  private val writeSeq = new AtomicInteger()
  private val acked = new ConcurrentLinkedQueue[String]()
  private val ackedCount = new AtomicInteger()

  private var engine: GraftEngine = _
  private var server: RestServer = _
  private var port = 0
  private var customerNames: Map[Long, String] = Map.empty
  private var customerKeys: Array[Long] = Array.empty
  private var clsExpected: Map[(String, String), Double] = Map.empty

  private def trainingData(): Seq[Row] = {
    val r = Main.rngFor(cfg.seed, 1)
    (0 until 1000).map { _ =>
      val x = r.nextGaussian(); val y = r.nextGaussian()
      Row(x, y, if (x + 0.5 * y + 0.3 * r.nextGaussian() > 0) 1L else 0L)
    }
  }

  /** One repetition of set-up: a fresh engine with the sf0.1 customer
    * table, the written dataset, a sql.expression function and a
    * classifier trained on seeded data, served on a new port. */
  private def setup(rep: Int): Unit = {
    if (server != null) server.stop()
    engine = build(rep)
    server = new RestServer(engine)
    port = server.start()
  }

  private def build(rep: Int): GraftEngine = {
    val e = new GraftEngine(spark)
    e.createDataset("customer", Tables.load(spark, cfg.data, "customer"))
    e.recordRows("bench_rows",
      """[{"rowName": "seed", "k": 0, "v": 0.5, "event_type": "t0", "event_id": 0}]""")
    e.createSqlExpressionFunction("score_expr", "a + b AS s, a * b AS p")
    e.createDataset("cls_train", spark.createDataFrame(
      java.util.Arrays.asList(trainingData(): _*),
      StructType(Seq(StructField("x", DoubleType), StructField("y", DoubleType),
        StructField("label", LongType)))))
    e.runProcedure("classifier.train", Map(
      "trainingData" -> "select {x, y} as features, label from cls_train",
      "algorithm" -> "glz", "mode" -> "boolean",
      "modelFileUrl" -> s"file://${cfg.work.resolve(s"cls$rep.cls")}",
      "functionName" -> "score_cls").get _)
    e
  }

  /** What a closed-loop traced run reports for `graft.api` and `rest`:
    * the in-process probes, the HTTP round-trip probe, and a short
    * open-loop step at the base rate through a server on a fresh engine.
    * Returns the probes and the step in raw.json's step layout. */
  def inProcessProbes(): (Seq[OpRecord], Map[String, Any]) = {
    engine = build(0)
    server = new RestServer(engine)
    port = server.start()
    try {
      references()
      val probes = apiProbes()
      val origin = tracer.nowMs
      val (d, b) = step(1, BaseRate, BurstSeconds, rng, 0, FixedDrainMs)
      (probes, stepJson(1, "fixed", BaseRate, BurstSeconds, d, b, origin))
    } finally server.stop()
  }

  /** The client's own answers, computed off the REST path: customer
    * names by a plain parquet read, classifier scores by the batch
    * DataFrame path. */
  private def references(): Unit = {
    val c = spark.read.parquet(s"${cfg.data}/customer.parquet")
      .select("c_custkey", "c_name").collect()
    customerNames = c.map(r => r.getLong(0) -> r.getString(1)).toMap
    customerKeys = customerNames.keys.toArray.sorted
    val schema = StructType(Seq(StructField("features.x", DoubleType),
      StructField("features.y", DoubleType)))
    val in = spark.createDataFrame(java.util.Arrays.asList(clsInputs.toSeq
      .map { case (x, y) => Row(x.toDouble, y.toDouble) }: _*), schema)
    val scored = engine.applyFunction("score_cls", in).collect()
    clsExpected = clsInputs.zip(scored).map { case (k, r) =>
      k -> r.getAs[Any]("score").toString.toDouble }.toMap
  }

  private def enc(s: String) = URLEncoder.encode(s, UTF_8)

  private def close(a: Double, b: Double) =
    a == b || math.abs(a - b) <= 1e-12 * math.max(1.0, math.abs(b))

  /** The mix, per block of 400 requests: 196 scoring calls to each
    * function, 4 row writes, 3 point lookups, 1 aggregate. Each block is
    * shuffled, so the shares are exact in every window and only the
    * order is random. */
  private val Mix = Seq(("expr", 196), ("cls", 196), ("write", 4), ("lookup", 3),
    ("aggregate", 1)).flatMap { case (k, n) => Seq.fill(n)(k) }
  private val pending = scala.collection.mutable.Queue.empty[String]

  private def request(seq: Int, step: Int, due: Double, r: Random): Req = {
    if (pending.isEmpty) pending ++= r.shuffle(Mix)
    val kind = pending.dequeue()
    if (kind == "expr") {
      val (a, b) = exprInputs(r.nextInt(exprInputs.length))
      val s = a.toDouble + b.toDouble; val p = a.toDouble * b.toDouble
      Req(seq, "score", "expr", step, due, "GET", "/v1/functions/score_expr/application?input=" +
        enc(s"""{"a": $a, "b": $b}"""), "", body =>
        (field(body, "s"), field(body, "p")) match {
          case (Some(gs), Some(gp)) if gs.toDouble == s && gp.toDouble == p => ""
          case _ => s"score_expr($a, $b): expected s=$s p=$p, got ${body.take(120)}"
        })
    } else if (kind == "cls") {
      val (x, y) = clsInputs(r.nextInt(clsInputs.length))
      val want = clsExpected((x, y))
      Req(seq, "score", "cls", step, due, "GET", "/v1/functions/score_cls/application?input=" +
        enc(s"""{"features.x": $x, "features.y": $y}"""), "", body =>
        field(body, "score").map(_.toDouble) match {
          case Some(g) if close(g, want) => ""
          case _ => s"score_cls($x, $y): expected $want, got ${body.take(120)}"
        })
    } else if (kind == "write") {
      val n = writeSeq.incrementAndGet()
      val name = s"w$n"
      val k = r.nextInt(1000000)
      Req(seq, "write", "rows", step, due, "POST", "/v1/datasets/bench_rows/rows",
        s"""[{"rowName": "$name", "k": $k, "v": ${k / 7.0}, "event_type": "t${k % 5}", "event_id": $n}]""",
        body => if (field(body, "recorded").contains("1")) {
          acked.add(name); ackedCount.incrementAndGet(); ""
        } else s"write $name: ${body.take(120)}")
    } else if (kind == "lookup") {
      val key = customerKeys(r.nextInt(customerKeys.length))
      val want = customerNames(key)
      Req(seq, "query", "lookup", step, due, "GET", "/v1/query?q=" + enc(lookupSql(key)), "",
        body => if (field(body, "c_name").contains(want)) ""
          else s"lookup $key: expected $want, got ${body.take(120)}")
    } else {
      val floor = ackedCount.get() + 1 // + the seed row
      Req(seq, "query", "aggregate", step, due, "GET", "/v1/query?q=" + enc(AggregateSql), "",
        body => field(body, "n").map(_.toLong) match {
          case Some(n) if n >= floor => ""
          case _ => s"aggregate: expected at least $floor rows, got ${body.take(120)}"
        })
    }
  }

  private def send(q: Req): (Int, String) = send(q.method, q.path, q.body)

  private def send(method: String, path: String, payload: String): (Int, String) = {
    val c = URI.create(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    c.setConnectTimeout(30000); c.setReadTimeout(60000)
    c.setRequestMethod(method)
    if (method == "POST") {
      c.setDoOutput(true)
      c.setRequestProperty("Content-Type", "application/json")
      val os = c.getOutputStream; os.write(payload.getBytes(UTF_8)); os.close()
    }
    val code = c.getResponseCode
    val is = if (code >= 400) c.getErrorStream else c.getInputStream
    val body = if (is == null) "" else try new String(is.readAllBytes(), UTF_8) finally is.close()
    (code, body)
  }

  /** Sends a Poisson stream at `rate` for `seconds`; returns every
    * request's record and the backlog samples (ms, queued). */
  private def step(step: Int, rate: Double, seconds: Double, r: Random,
      seq0: Int, drainMs: Double): (Seq[Done], Seq[(Double, Int)]) = {
    val queue = new LinkedBlockingQueue[(Req, Double)]()
    val done = new ConcurrentLinkedQueue[Done]()
    val backlog = Seq.newBuilder[(Double, Int)]
    @volatile var generating = true
    @volatile var stopped = false
    val workers = (1 to conns).map { i =>
      val t = new Thread(() => {
        var go = true
        while (go && !stopped) {
          val item = queue.poll(20, TimeUnit.MILLISECONDS)
          if (item == null) go = generating || !queue.isEmpty
          else {
            val (q, enq) = item
            val s = tracer.nowMs
            val (code, reason) =
              try {
                val (code, body) = send(q)
                (code, if (code != 200) s"HTTP $code: ${body.take(160)}" else q.check(body))
              } catch { case e: Exception => (-1, s"${e.getClass.getSimpleName}: ${e.getMessage}") }
            val d = tracer.nowMs
            tracer.span(s"req:${q.seq}", "", 0, s"rest.${q.kind}.${q.sub}", q.due, d)
            done.add(Done(q, enq, s, d, code, reason))
          }
        }
      }, s"graftbench-conn-$i")
      t.setDaemon(true); t.start(); t
    }
    val t0 = tracer.nowMs
    var due = t0
    var seq = seq0
    var nextSample = t0
    while ({ due += -math.log(1 - r.nextDouble()) / rate * 1000; due < t0 + seconds * 1000 }) {
      var now = tracer.nowMs
      while (now < due) {
        if (now >= nextSample) { backlog += ((now, queue.size)); nextSample += 50 }
        LockSupport.parkNanos(math.min((due - now) * 1e6, 2e6).toLong)
        now = tracer.nowMs
      }
      seq += 1
      queue.add((request(seq, step, due, r), tracer.nowMs))
    }
    backlog += ((tracer.nowMs, queue.size))
    generating = false
    // requests still queued when the drain deadline passes are failures
    val drainBy = tracer.nowMs + drainMs
    workers.foreach(w => w.join(math.max(1L, (drainBy - tracer.nowMs).toLong)))
    // no new sends after the deadline; requests in flight still finish,
    // so every acknowledged write is known before the read-back
    stopped = true
    workers.foreach(_.join(InFlightMs))
    require(workers.forall(!_.isAlive),
      s"a request was still in flight ${InFlightMs / 1000} s after its step")
    val leftover = Iterator.continually(queue.poll()).takeWhile(_ != null).toSeq
    (done.asScala.toSeq ++ leftover.map { case (q, enq) =>
      Done(q, enq, -1, -1, -1, "not sent before the run ended") }, backlog.result())
  }

  def run(): Seq[(String, Any)] = {
    val setupMs = (1 to SetupReps).map(i => Main.timeMs(tracer)(setup(i))._2)
    references()
    val warm = Main.rngFor(cfg.seed, 2)
    val (warmDone, _) = step(0, BaseRate, 1.0, warm, 1000000, FixedDrainMs)
    val steps = Seq.newBuilder[(Int, String, Double, Double, Seq[Done], Seq[(Double, Int)])]
    val fixedS = cfg.seconds * FixedShare
    val ladderS = (cfg.seconds - fixedS) / Ladder.size
    val origin = tracer.nowMs
    var seq = 0
    // the ladder first: it also warms the scoring path's JIT, so the
    // fixed-rate phase that the latency metrics come from runs warm
    val schedule = Ladder.map(m => ("ladder", BaseRate * m, ladderS)) :+
      (("fixed", BaseRate, fixedS))
    schedule.zipWithIndex.foreach { case ((phase, rate, secs), i) =>
      val (d, b) = step(i + 1, rate, secs, rng, seq,
        if (phase == "fixed") FixedDrainMs else LadderDrainMs)
      seq += d.size
      steps += ((i + 1, phase, rate, secs, d, b))
    }
    val windowMs = tracer.nowMs - origin
    // every acknowledged write must read back
    val stored = engine.dataset("bench_rows").select("rowName").collect()
      .map(_.getString(0)).toSet
    val missing = acked.asScala.filterNot(stored).toSeq
    val probes = if (!cfg.trace) Nil else apiProbes() ++ {
      val runner = new Runner(spark, tracer, cfg.deadlineS)
      try Probes.loadAndLower(spark, tracer, cfg, runner, tracer.nowMs)
      finally runner.close()
    }
    server.stop()
    Seq("setup_ms" -> setupMs, "window_ms" -> windowMs, "limit_ms" -> LimitMs,
      "warmup_failed" -> warmDone.count(_.reason.nonEmpty),
      "steps" -> steps.result().map { case (i, phase, rate, secs, d, b) =>
        stepJson(i, phase, rate, secs, d, b, origin) }, "writes_acked" -> acked.size,
      "writes_missing" -> missing.take(20), "writes_missing_count" -> missing.size,
      "probes" -> Json.Raw(probes.map(_.json(tracer)).mkString("[", ",", "]")))
  }

  /** One step as raw.json holds it, times relative to `origin`. */
  private def stepJson(i: Int, phase: String, rate: Double, secs: Double,
      d: Seq[Done], b: Seq[(Double, Int)], origin: Double): Map[String, Any] =
    Map("step" -> i, "phase" -> phase, "rate" -> rate, "seconds" -> secs,
      "backlog" -> b.map { case (t, n) => Seq(t - origin, n) },
      "requests" -> d.sortBy(_.req.seq).map(x => Seq(x.req.kind, x.req.sub,
        x.req.due - origin, x.enq - origin,
        if (x.send < 0) -1.0 else x.send - origin,
        if (x.done < 0) -1.0 else x.done - origin, x.code, x.reason)))

  /** The scoring payloads the probes send: every seeded input of both
    * functions. */
  private def scoreInputs: Seq[(String, String)] =
    exprInputs.toSeq.map { case (a, b) => ("score_expr", s"""{"a": $a, "b": $b}""") } ++
      clsInputs.toSeq.map { case (x, y) => ("score_cls", s"""{"features.x": $x, "features.y": $y}""") }

  /** Traced run only: the scoring, record and query layers called in
    * process on the same generated inputs, one call at a time, and the
    * scoring calls again over HTTP (the server must be running). */
  private def apiProbes(): Seq[OpRecord] = {
    val runner = new Runner(spark, tracer, cfg.deadlineS)
    val origin = tracer.nowMs
    try {
      val inputs = scoreInputs
      val score = runner.run("probe.score", "Probe", 0, origin) { ph =>
        val parseUs = Seq.newBuilder[Double]
        val applyUs = Seq.newBuilder[Double]
        ph("build") {
          for ((f, in) <- inputs) {
            val t0 = System.nanoTime()
            graft.api.JsonRow.parseFlat(in)
            val t1 = System.nanoTime()
            engine.applyFunctionJsonRows(f, in)
            val t2 = System.nanoTime()
            parseUs += (t1 - t0) / 1e3
            applyUs += (t2 - t1) / 1e3
          }
        }
        ph.extra ++= Map("json_parse_us" -> parseUs.result(), "apply_us" -> applyUs.result(),
          "calls" -> inputs.size)
        Fp(0, 0)
      }
      val record = runner.run("probe.record", "Probe", 0, origin) { ph =>
        val ms = (1 to 20).map { i =>
          Main.timeMs(tracer)(ph("build")(engine.recordRows("probe_rows",
            s"""[{"rowName": "p$i", "k": $i, "v": ${i / 7.0}}]""")))._2
        }
        ph.extra ++= Map("record_ms" -> ms, "calls" -> ms.size)
        Fp(0, 0)
      }
      val query = runner.run("probe.query", "Probe", 0, origin) { ph =>
        val ms = (1 to 20).map { i =>
          val sql = if (i % 5 == 0) AggregateSql
            else lookupSql(customerKeys(i * 37 % customerKeys.length))
          Main.timeMs(tracer)(ph("build")(engine.query(sql).collect()))._2
        }
        ph.extra ++= Map("query_ms" -> ms, "calls" -> ms.size)
        Fp(0, 0)
      }
      val http = runner.run("probe.http", "Probe", 0, origin) { ph =>
        val rttUs = ph("build") {
          inputs.map { case (f, in) =>
            val t0 = System.nanoTime()
            val (code, body) = send("GET",
              s"/v1/functions/$f/application?input=" + enc(in), "")
            val us = (System.nanoTime() - t0) / 1e3
            if (code != 200) throw new RuntimeException(s"$f: HTTP $code: ${body.take(160)}")
            us
          }
        }
        ph.extra ++= Map("rtt_us" -> rttUs, "calls" -> rttUs.size)
        Fp(0, 0)
      }
      Seq(score, record, query, http)
    } finally runner.close()
  }
}
