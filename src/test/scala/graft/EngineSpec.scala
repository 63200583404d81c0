package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.api.GraftEngine
import graft.core.Tables
import graft.operators.TextAnalysis

class EngineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  test("engine: dataset registry + dialect query + transform procedure") {
    val e = new GraftEngine(spark)
    e.createDatasetFromParquet("nation", s"$sf/nation.parquet")
    e.createDatasetFromParquet("region", s"$sf/region.parquet")
    assert(e.listDatasets === Seq("nation", "region"))
    e.runProcedure("transform", Map(
      "inputQuery" -> """SELECT r_name, count(*) AS n
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin,
      "outputDataset" -> "per_region").get _)
    val out = e.dataset("per_region")
    assert(out.count() === 5)
    assert(e.dataset("per_region").count() === 5)
    // chained query over the transform output
    val top = e.query("SELECT r_name FROM per_region ORDER BY n DESC, r_name LIMIT 1")
    assert(top.count() === 1)
  }

  test("sql.expression macro function applies over input rows") {
    val e = new GraftEngine(spark)
    e.createSqlExpressionFunction("enrich",
      "c_custkey, c_acctbal * 2 AS doubled, upper(c_mktsegment) AS seg")
    val out = e.applyFunction("enrich", Tables.customer(spark, sf))
    assert(out.columns.toSeq === Seq("c_custkey", "doubled", "seg"))
    val r = out.orderBy(col("c_custkey")).head()
    val orig = Tables.customer(spark, sf).orderBy(col("c_custkey")).head()
    assert(r.getDouble(1) === orig.getAs[Double]("c_acctbal") * 2)
    assert(r.getString(2) === orig.getAs[String]("c_mktsegment").toUpperCase)
  }

  test("appliable-function syntax name({args})[output] expands macros in queries") {
    val e = new GraftEngine(spark)
    e.createDatasetFromParquet("customer", s"$sf/customer.parquet")
    e.createSqlExpressionFunction("score",
      "bal / 1000 AS kilo, upper(seg) AS segment")
    val rows = e.query(
      """SELECT c_custkey,
        |  score({bal: c_acctbal, seg: c_mktsegment})[kilo] AS kilo,
        |  score({bal: c_acctbal, seg: c_mktsegment})[segment] AS seg_up,
        |  score({bal: c_acctbal, seg: c_mktsegment}) AS both
        |FROM customer ORDER BY c_custkey LIMIT 3""".stripMargin).collect()
    val orig = graft.core.Tables.customer(spark, sf)
      .orderBy(col("c_custkey")).limit(3).collect()
    rows.zip(orig).foreach { case (r, o) =>
      assert(r.getAs[Double]("kilo") === o.getAs[Double]("c_acctbal") / 1000)
      assert(r.getAs[String]("seg_up") ===
        o.getAs[String]("c_mktsegment").toUpperCase)
      val both = r.getAs[org.apache.spark.sql.Row]("both")
      assert(both.getAs[Double]("kilo") === o.getAs[Double]("c_acctbal") / 1000)
    }
    // unknown function → clear error
    val err = intercept[IllegalArgumentException] {
      e.query("SELECT nope({x: 1})[y] AS v FROM customer").collect()
    }
    assert(err.getMessage.contains("unknown appliable function"))
  }

  test("native expressions callable from spark.sql interop") {
    val e = new GraftEngine(spark)
    val r = e.sparkSql(
      """SELECT graft_porter_stem('generalizations') AS s,
        |  graft_simhash64(array(1L, 3L, 3L)) AS h,
        |  size(graft_minhash_sig(array(7L, 9L), 16)) AS k""".stripMargin).head()
    assert(r.getString(0) === "gener")
    assert(r.getLong(1) === 3L) // majority bits of {1,3,3}
    assert(r.getInt(2) === 16)
  }

  test("count_distinct_approx lowers to the HLL sketch") {
    val e = new GraftEngine(spark)
    e.createDatasetFromParquet("orders_t", s"$sf/orders.parquet")
    val n = e.query(
      "SELECT count_distinct_approx(o_custkey) AS n FROM orders_t")
      .head().getLong(0)
    val exact = e.query(
      "SELECT count(DISTINCT o_custkey) AS n FROM orders_t").head().getLong(0)
    assert(math.abs(n - exact).toDouble / exact < 0.1, s"approx=$n exact=$exact")
  }

  test("stemmer produces canonical Porter stems") {
    import spark.implicits._
    val df = Seq("running", "parties", "classes", "jumped", "cats", "is")
      .toDF("t")
    val got = df.select(TextAnalysis.stem(col("t")).as("s"))
      .collect().map(_.getString(0)).toSeq
    assert(got === Seq("run", "parti", "class", "jump", "cat", "is"))
  }

  test("stopword filter and feature hashing") {
    import spark.implicits._
    val df = Seq("the cat and the hat").toDF("text")
    val toks = graft.functions.TextFunctions.tokens(col("text"))
    val filtered = df.select(TextAnalysis.filterStopwords(toks).as("f")).head()
      .getAs[scala.collection.Seq[String]]("f")
    assert(filtered.toSet === Set("cat", "hat"))
    val hashed = df.select(TextAnalysis.featureHash(toks, 16).as("h")).head()
      .getAs[Map[Int, Int]]("h")
    assert(hashed.values.sum === 5) // all 5 tokens land somewhere
    assert(hashed.keys.forall(b => b >= 0 && b < 16))
  }

  test("tfidf: rare terms outweigh common terms") {
    val docs = Tables.documents(spark, sf)
    val stats = TextAnalysis.termStats(docs, "doc_id", "text").cache()
    val byDf = stats.orderBy(col("df").desc).collect()
    val common = byDf.head
    val rare = byDf.last
    assert(common.getAs[Double]("idf") < rare.getAs[Double]("idf"))
    val applied = TextAnalysis.tfidfApply(docs.limit(20), "doc_id", "text", stats)
    assert(applied.count() > 0)
    assert(applied.filter(col("tfidf") < 0).count() === 0)
  }

  test("bagOfWords stats: trials bound successes") {
    val docs = Tables.documents(spark, sf)
    val st = TextAnalysis.bagOfWordsStats(docs, "doc_id", "text",
      col("lang") === "en")
    assert(st.filter(col("successes") > col("trials")).count() === 0)
    assert(st.count() > 0)
  }

  test("a $param sql.query over an unbounded inner result fails fast at " +
      "registration (plan-literal lookups stay broadcast-sized)") {
    val e = new GraftEngine(spark)
    // registration collects the inner result ONCE (capped at
    // JsHost.maxQueryRows) and the lookup answers per outer row
    e.createDatasetFromParquet("nation_pl", s"$sf/nation.parquet")
    e.createSqlQueryDialectFunction("nation_of",
      "select n_name from nation_pl where n_nationkey = $k")
    val out = e.query(
      """SELECT n_regionkey, nation_of({n_nationkey as k})[n_name] AS nm
        |FROM nation_pl WHERE n_nationkey = 3""".stripMargin).head()
    assert(out.getString(1) === "NATION_3") // synthetic testdata names
    // a query with no `expr = $param` conjunct is rejected up front
    val ex = intercept[IllegalArgumentException] {
      e.createSqlQueryDialectFunction("bad_pl", "select * from nation_pl")
    }
    assert(ex.getMessage.contains("$param"))
  }

  test("NAMED_COLUMNS registration rejects an oversized inner result " +
      "(same maxQueryRows cap as the $param lookup path)") {
    val e = new GraftEngine(spark)
    // (column, value) pairs one past the driver-side cap: the pivot
    // would otherwise collect the whole result into a plan literal
    val n = graft.api.JsHost.maxQueryRows + 1
    e.createDataset("big_nc",
      spark.range(n.toLong).selectExpr("concat('c', id) AS column",
        "id AS value"))
    val ex = intercept[IllegalArgumentException] {
      e.createSqlQueryRowFunction("big_pivot",
        "select column, value from big_nc", output = "NAMED_COLUMNS")
    }
    assert(ex.getMessage.contains("NAMED_COLUMNS result") &&
      ex.getMessage.contains("exceeds"))
  }

  test("an async run interrupted by cancelRun records cancelled and its finish") {
    val e = new GraftEngine(spark)
    val src = "(spark: org.apache.spark.sql.SparkSession, " +
      "args: Map[String, Any]) => { Thread.sleep(60000L); 1 }"
    // compiled up front, so the run reaches the sleep at once
    graft.api.Scripting.compile(src)
    val cfg = api.ProcJson.parse(
      s"""{"language": "scala", "source": ${graft.api.PyBridge.jstr(src)}}""")
    val id = e.startProcedureRunAsync("script.run", api.ProcJson.lookup(cfg),
      None)
    Thread.sleep(1000)
    assert(e.cancelRun(id) === "cancelled")
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (e.runStatus(id).finished.isEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)
    val run = e.runStatus(id)
    assert(run.finished.isDefined, "the interrupted run never recorded its finish")
    assert(run.state === "cancelled" && run.error.isEmpty)
  }
}
