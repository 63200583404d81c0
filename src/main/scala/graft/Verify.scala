package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args
    // optional extra args = query-name prefixes to run (local iteration
    // only; the driver always passes exactly two args → full run)
    val wanted: String => Boolean =
      if (rest.isEmpty) _ => true else n => rest.exists(n.startsWith)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // One schema line per table: the driver regenerates testdata
    // between rounds and physical types have drifted before (events.ts
    // int64-nanos → timestamp[us] broke 12 queries in round 4). This
    // makes the next drift a one-glance diagnosis in the verify log.
    graft.core.Tables.names.foreach { t =>
      val s = try graft.core.Tables.load(spark, sfDir, t).schema
        .map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
      catch { case NonFatal(e) => s"UNREADABLE(${e.getMessage})" }
      System.err.println(s"[verify] schema $t = $s")
    }
    SparkEntry.queries.filter(kv => wanted(kv._1)).foreach { case (name, fn) =>
      // repartition(1), NOT coalesce(1): coalesce collapses the whole
      // upstream stage to a single task when no shuffle intervenes,
      // serializing scan+compute; repartition inserts a shuffle so the
      // query runs parallel and only the write is single-file.
      try fn(spark, sfDir).repartition(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
