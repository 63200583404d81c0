package graft.core

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Table access over the driver-generated parquet directories.
  *
  * MLDB datasets (reference: `/root/reference/core/dataset.h:397`) are
  * schema-less sparse matrices; our engine standardizes on typed,
  * columnar Parquet-backed DataFrames (the "wide" mode of SURVEY.md
  * §1.4) — the same decision the reference's own `tabular` dataset
  * makes (`/root/reference/plugins/tabular/tabular_dataset.cc:2681`).
  *
  * Opening a table reads metadata only, the way the reference opens a
  * dataset: `load` lists the path once and reads ONE Parquet footer on
  * the driver (the single file, or a directory's first data file by
  * name, as Spark's own non-merging inference picks it), converts it
  * with Spark's converter and returns a lazily-planned scan over that
  * schema. No Spark job runs here; Catalyst still pushes filters and
  * projections into the Parquet reader when a query executes. The
  * schema is read from the file on every call, never declared per
  * table nor cached: the testdata's physical types differ between
  * generations (see `events`).
  *
  * Fallback: plain `spark.read.parquet` (schema inference, one job)
  * when the path is missing or holds no data file (so the error stays
  * Spark's `AnalysisException`), when it holds sub-directories
  * (partition discovery) or `_metadata` summary files (which Spark's
  * inference prefers), and when `spark.sql.parquet.mergeSchema` is on.
  */
object Tables {

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session settings we need regardless of who built the session.
    * - ANSI off: MLDB arithmetic never errors (overflow wraps, bad cast
    *   → NULL — `/root/reference/sql/cell_value.h` semantics); we also
    *   use wrapping Long arithmetic for rolling hashes/minhash.
    * - UTC: oracle (DuckDB) parity for all timestamp functions.
    */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // events.ts is INT64 TIMESTAMP(NANOS) which Spark's vectorized
    // parquet reader rejects; read the raw long and convert ourselves
    // (see events()).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Let pass-through predicates keep reaching the scan past graft's
    // Opaque optimizer barrier (see plans.PushThroughOpaque).
    if (!spark.experimental.extraOptimizations
        .contains(graft.plans.PushThroughOpaque))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.PushThroughOpaque
    spark
  }

  def load(spark: SparkSession, dir: String, table: String): DataFrame = {
    tune(spark)
    val path = s"$dir/$table.parquet"
    footerSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }
  }

  /** The schema Spark's non-merging inference would pick, read from one
    * footer on the driver; None where `load` falls back to inference.
    * The converter is built from the session conf after `tune`, so
    * `nanosAsLong` and Spark's row-metadata key apply as they would
    * under inference. */
  private def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val state = spark.asInstanceOf[classic.SparkSession].sessionState
    if (state.conf.isParquetSchemaMergingEnabled) return None
    val hadoopConf = state.newHadoopConf()
    val root = new Path(path)
    val listed: Seq[FileStatus] =
      try root.getFileSystem(hadoopConf).listStatus(root).toSeq
      catch { case _: java.io.FileNotFoundException => Nil }
    def hidden(n: String) = n.startsWith("_") || n.startsWith(".")
    if (listed.exists(f => f.isDirectory ||
        Set("_metadata", "_common_metadata")(f.getPath.getName))) return None
    listed.filterNot(f => hidden(f.getPath.getName))
      .sortBy(_.getPath.getName).headOption.map { file =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, hadoopConf))
        try ParquetFileFormat.readSchemaFromFooter(
          new Footer(file.getPath, reader.getFooter),
          new ParquetToSparkSchemaConverter(state.conf))
        finally reader.close()
      }
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** events.ts has shipped in two physical layouts across testdata
    * generations: INT64 TIMESTAMP(NANOS) (read as a raw long via
    * nanosAsLong — see tune()) and native TIMESTAMP(MICROS) (read as
    * TIMESTAMP_NTZ). Normalize both to a microsecond TimestampType:
    * - long nanos → integral `div 1000` (double math would lose
    *   precision above 2^53 ns; floor matches DuckDB's epoch_us),
    * - NTZ → cast (identity on the micros value in the UTC session). */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    raw.schema("ts").dataType match {
      case LongType =>
        // `div` truncates toward zero; subtracting pmod first gives
        // true floor division, so (hypothetical) pre-epoch nanos would
        // still match DuckDB's epoch_us flooring bit-for-bit
        raw.withColumn("ts",
          timestamp_micros(expr("(ts - pmod(ts, 1000)) div 1000")))
      case TimestampType => raw
      case _ => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
