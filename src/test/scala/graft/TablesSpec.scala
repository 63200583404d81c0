package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Tables

/** `Tables.load` reads one Parquet footer on the driver instead of
  * running Spark's schema-inference job. The schema must be exactly the
  * one inference gives, it must come from the file on every call, and
  * the explicit fallback must keep Spark's errors and merging. */
class TablesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val testdata = s"${sys.props("user.home")}/testdata"

  private def assertSameSchema(dir: String, table: String): Unit = {
    val loaded = Tables.load(spark, dir, table).schema
    val inferred = spark.read.parquet(s"$dir/$table.parquet").schema
    assert(loaded == inferred, s"$dir/$table")
    assert(loaded.json == inferred.json, s"$dir/$table")
  }

  private def scratch(): String =
    Files.createTempDirectory("tables_spec").toString

  /** Jobs launched by `body`, tagged by job group. A sentinel job run
    * after `body` is the barrier: the listener bus delivers events in
    * order, so once the sentinel's start is seen, so are body's. */
  private def jobsLaunchedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(
          Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("tables-spec-body", "body under test")
      try body finally sc.clearJobGroup()
      sc.setJobGroup("tables-spec-sentinel", "listener barrier")
      try sc.parallelize(1 to 1, 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains("tables-spec-sentinel") &&
          System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains("tables-spec-sentinel"), "listener never saw the sentinel")
      groups.toArray.count(_ == "tables-spec-body")
    } finally sc.removeSparkListener(listener)
  }

  test("every table's schema equals Spark's inferred schema (sf0.001, sf0.01, sf0.1)") {
    Tables.tune(spark)
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"); t <- Tables.names)
      assertSameSchema(s"$testdata/$sf", t)
  }

  test("a Spark-written multi-part directory matches inference") {
    Tables.tune(spark)
    val dir = scratch()
    spark.range(0, 300, 1, 3).selectExpr(
      "id", "cast(id AS int) AS i", "cast(id AS decimal(12, 2)) AS d",
      "cast(id AS string) AS s", "timestamp_micros(id) AS ts",
      "array(id, id + 1) AS arr", "named_struct('x', id, 'y', 'v') AS st",
      "map('k', id) AS m")
      .write.parquet(s"$dir/multi.parquet")
    val parts = new java.io.File(s"$dir/multi.parquet").list()
      .count(n => n.startsWith("part-") && n.endsWith(".parquet"))
    assert(parts == 3)
    assertSameSchema(dir, "multi")
    assert(Tables.load(spark, dir, "multi").count() == 300)
  }

  test("events.ts is a TimestampType whatever its physical layout") {
    for (sf <- Seq("sf0.001", "sf0.01"))
      assert(Tables.events(spark, s"$testdata/$sf").schema("ts").dataType ==
        TimestampType)
  }

  test("a load launches no Spark job; inference does") {
    Tables.tune(spark)
    val dir = s"$testdata/sf0.01"
    assert(jobsLaunchedBy(Tables.names.foreach(t =>
      Tables.load(spark, dir, t).schema)) == 0)
    assert(jobsLaunchedBy(Tables.events(spark, dir).schema) == 0)
    // control: the listener does see the inference job load replaces
    assert(jobsLaunchedBy(spark.read.parquet(s"$dir/nation.parquet").schema) >= 1)
  }

  test("each load reads the footer again: nothing is cached across calls") {
    val dir = scratch()
    spark.range(3).selectExpr("id AS a")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").schema.fieldNames.toSeq == Seq("a"))
    spark.range(3).selectExpr("cast(id AS string) AS b", "id AS c")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val second = Tables.load(spark, dir, "t")
    assert(second.schema.fieldNames.toSeq == Seq("b", "c"))
    assert(second.collect().map(_.getString(0)).sorted.toSeq == Seq("0", "1", "2"))
  }

  test("fallback: a missing path or an empty directory throws AnalysisException") {
    val dir = scratch()
    intercept[AnalysisException](Tables.load(spark, dir, "missing"))
    new java.io.File(s"$dir/empty.parquet").mkdir()
    intercept[AnalysisException](Tables.load(spark, dir, "empty"))
  }

  test("fallback: mergeSchema on merges every part's schema, as inference does") {
    Tables.tune(spark)
    val dir = scratch()
    spark.range(2).selectExpr("id AS a")
      .write.parquet(s"$dir/m.parquet")
    spark.range(2).selectExpr("id AS a", "id * 2 AS b")
      .write.mode("append").parquet(s"$dir/m.parquet")
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      assert(Tables.load(spark, dir, "m").schema.fieldNames.toSet == Set("a", "b"))
      assertSameSchema(dir, "m")
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }
}
