package graftbench

import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit, TimeoutException}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What one op did: its phase times, its fingerprint and anything
  * op-specific the statistics need (`extra`). `status` is "ok",
  * "error", "timeout" or "mismatch"; only "ok" ops are latency
  * samples. */
final case class OpRecord(id: Long, name: String, family: String,
    pass: Int, status: String, reason: String, startMs: Double,
    latencyMs: Double, phaseMs: Map[String, Double], fp: Option[Fp],
    oracleSql: Option[String], catalystMs: Map[String, Double],
    extra: Map[String, Any]) {
  def json(tracer: Tracer): String = {
    val accs = phaseMs.keys.toSeq.sorted.map { p =>
      val a = tracer.accOf(id, p)
      p -> Map("jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks,
        "failed_tasks" -> a.failedTasks, "task_run_ms" -> a.runMs,
        "task_cpu_ms" -> a.cpuMs, "task_wait_ms" -> a.waitMs,
        "gc_ms" -> a.gcMs, "shuffle_read_bytes" -> a.shuffleRead,
        "shuffle_write_bytes" -> a.shuffleWrite, "spill_bytes" -> a.spill,
        "input_bytes" -> a.input)
    }.toMap
    Json.obj("id" -> id, "name" -> name, "family" -> family, "pass" -> pass,
      "status" -> status, "reason" -> reason, "start_ms" -> startMs,
      "latency_ms" -> latencyMs, "phase_ms" -> phaseMs,
      "rows" -> fp.map(_.rows), "hash" -> fp.map(_.hex),
      "oracle_sql" -> oracleSql, "catalyst_ms" -> catalystMs,
      "spark" -> (if (tracer.enabled) accs else Map.empty), "extra" -> extra)
  }
}

/** A failed check on an op's output, with a reason someone can read. */
final class OutputMismatch(msg: String) extends RuntimeException(msg)

/** Handed to an op body: times each phase, charges the Spark jobs a
  * phase launches to it (through local properties) and records its
  * span. */
final class Phases(spark: SparkSession, tracer: Tracer, val op: Long) {
  val ms = mutable.LinkedHashMap.empty[String, Double]
  val catalyst = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  val extra = mutable.LinkedHashMap.empty[String, Any]
  var oracleSql: Option[String] = None

  def apply[T](phase: String)(body: => T): T = {
    spark.sparkContext.setLocalProperty(tracer.PhaseKey, phase)
    val t0 = tracer.nowMs
    try body
    finally {
      val t1 = tracer.nowMs
      ms(phase) = ms.getOrElse(phase, 0.0) + (t1 - t0)
      tracer.span(s"op:$op/$phase", s"op:$op", op, phase, t0, t1)
      spark.sparkContext.setLocalProperty(tracer.PhaseKey, null)
    }
  }

  /** build → plan → exec over one DataFrame-returning program call. */
  def query(build: => DataFrame): Fp = {
    val df = apply("build")(build)
    extra("columns") = df.columns.toSeq
    apply("plan")(df.queryExecution.executedPlan)
    val fp = apply("exec")(Fingerprint.of(df))
    df.queryExecution.tracker.phases.foreach { case (k, v) =>
      catalyst(k) += v.durationMs.toDouble
    }
    fp
  }
}

/** Runs ops one at a time on a worker thread, each in its own Spark job
  * group, and cancels an op that runs past its deadline. */
final class Runner(spark: SparkSession, tracer: Tracer, deadlineS: Double) {
  private val sc = spark.sparkContext
  private val worker = Executors.newSingleThreadExecutor { r =>
    val t = new Thread(r, "graftbench-op"); t.setDaemon(true); t
  }
  private var nextId = 0L
  /** Set once an op could not be stopped; later ops are not run. */
  var wedged = false

  def run(name: String, family: String, pass: Int, originMs: Double)(
      body: Phases => Fp): OpRecord = {
    nextId += 1
    val id = nextId
    val ph = new Phases(spark, tracer, id)
    val group = s"graftbench-op-$id"
    val t0 = tracer.nowMs
    val fut = worker.submit(new Callable[Fp] {
      def call(): Fp = {
        sc.setJobGroup(group, name, interruptOnCancel = true)
        sc.setLocalProperty(tracer.OpKey, id.toString)
        try body(ph)
        finally {
          sc.clearJobGroup()
          sc.setLocalProperty(tracer.OpKey, null)
        }
      }
    })
    val (status, reason, fp) =
      try ("ok", "", Some(fut.get((deadlineS * 1000).toLong, TimeUnit.MILLISECONDS)))
      catch {
        case _: TimeoutException =>
          sc.cancelJobGroup(group)
          fut.cancel(true)
          // wait for the cancelled op to unwind before the next starts
          val stopped = try { fut.get(30, TimeUnit.SECONDS); true }
            catch {
              case _: TimeoutException => false
              case _: Throwable => true
            }
          if (!stopped) wedged = true
          ("timeout", f"over its $deadlineS%.0f s deadline; cancelled through its job group" +
            (if (stopped) "" else " but did not stop"), None)
        case e: ExecutionException => e.getCause match {
          case m: OutputMismatch => ("mismatch", m.getMessage, None)
          case c => ("error", s"${c.getClass.getName}: ${String.valueOf(c.getMessage)}"
            .linesIterator.take(3).mkString(" ").take(400), None)
        }
      }
    val t1 = tracer.nowMs
    tracer.span(s"op:$id", "", id, s"op $name", t0, t1)
    OpRecord(id, name, family, pass, status, reason, t0 - originMs, t1 - t0,
      ph.ms.toMap, fp, ph.oracleSql, ph.catalyst.toMap, ph.extra.toMap)
  }

  def close(): Unit = worker.shutdownNow()
}
