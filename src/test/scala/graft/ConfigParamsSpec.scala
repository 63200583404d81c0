package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.api.{GraftEngine, JsHost, RestServer}
import graft.js.JsInterp

/** A typed `{type, params}` config reads the same on every path: a REST
  * body is parsed once as JSON, and each param comes from `params.k`
  * (else the top-level `k`) wherever it sits in the text. */
class ConfigParamsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val client = HttpClient.newHttpClient()

  private def send(port: Int, method: String, path: String,
      body: String): (Int, String) = {
    val r = client.send(HttpRequest
      .newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .method(method, HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def withServer[T](engine: GraftEngine)(body: Int => T): T = {
    val srv = new RestServer(engine)
    val port = srv.start()
    try body(port) finally srv.stop()
  }

  // the selected column's values (a query result leads with rowName)
  private def strings(e: GraftEngine, sql: String): Seq[String] =
    e.query(sql).collect().map(r => String.valueOf(r.get(r.length - 1)))
      .toSeq.sorted

  test("the entity type is the top-level type, not a nested one") {
    val e = new GraftEngine(spark)
    e.recordRows("src_a", """[{"rowName": "r1", "x": 1}]""")
    withServer(e) { port =>
      val (c, b) = send(port, "POST", "/v1/procedures",
        """{"params": {"inputData": "SELECT x FROM src_a",
          | "outputDataset": {"id": "out_a", "type": "sparse.mutable"}},
          | "type": "transform"}""".stripMargin)
      assert(c === 201, b)
      assert(strings(e, "SELECT x FROM out_a") === Seq("1"))
    }
  }

  test("JSON string escapes arrive decoded") {
    val e = new GraftEngine(spark)
    e.recordRows("src_b", """[{"rowName": "r1", "x": 1}]""")
    val bs = "\\"
    withServer(e) { port =>
      // \u00e9 in a query param is é
      val (c, b) = send(port, "POST", "/v1/procedures",
        s"""{"type": "transform", "params": {
           | "inputData": "SELECT 'caf${bs}u00e9' AS w FROM src_b",
           | "outputDataset": "out_b"}}""".stripMargin)
      assert(c === 201, b)
      assert(strings(e, "SELECT w FROM out_b") === Seq("caf\u00e9"))
      // an escaped backslash stays one backslash: C:\new, no newline
      val (c2, b2) = send(port, "POST", "/v1/procedures",
        s"""{"type": "import.text", "params": {
           | "dataFileUrl": "file:///nonexistent/C:$bs${bs}new.csv",
           | "outputDataset": "out_b2"}}""".stripMargin)
      assert(c2 === 400, b2)
      val err = JsInterp.toStr(JsInterp.jsonParse(b2) match {
        case o: JsInterp.JsObjV => o.fields("error")
        case other => other
      })
      assert(err.contains("/nonexistent/C:" + bs + "new.csv"), err)
      assert(!err.contains("\n"), err)
    }
  }

  test("split reads a numeric splits array") {
    val e = new GraftEngine(spark)
    e.recordRows("src_c", (1 to 20).map(i =>
      s"""{"rowName": "r$i", "label": ${i % 2}}""").mkString("[", ",", "]"))
    withServer(e) { port =>
      val (c, b) = send(port, "POST", "/v1/procedures",
        """{"type": "split", "params": {
          | "labels": "SELECT label FROM src_c",
          | "splits": [0.8, 0.2],
          | "outputDatasets": ["train_c", "test_c"]}}""".stripMargin)
      assert(c === 201, b)
      val train = e.dataset("train_c").count()
      val test = e.dataset("test_c").count()
      assert(train + test === 20 && train > test, s"$train / $test")
    }
  }

  test("a structured trainingData object is read from its own keys") {
    val e = new GraftEngine(spark)
    e.recordRows("pts", (1 to 20).map(i =>
      s"""{"rowName": "p$i", "x": ${if (i <= 10) i else 100 + i}, "y": 1}""")
      .mkString("[", ",", "]"))
    withServer(e) { port =>
      val (c, b) = send(port, "POST", "/v1/procedures",
        """{"type": "kmeans.train", "params": {
          | "trainingData": {"from": {"id": "pts"}, "select": "x, y"},
          | "numClusters": 2,
          | "centroidsDataset": {"id": "centroids_d"}}}""".stripMargin)
      assert(c === 201, b)
      assert(e.dataset("centroids_d").count() === 2)
    }
  }

  test("/rows records a flat row with a column named columns") {
    val e = new GraftEngine(spark)
    withServer(e) { port =>
      val (c, b) = send(port, "POST", "/v1/datasets/rows_e/rows",
        """[{"rowName": "r1", "columns": "c1", "x": 1}]""")
      assert(c === 200, b)
      assert(strings(e, "SELECT columns FROM rows_e") === Seq("c1"))
      // the columns form itself still records
      val (c2, b2) = send(port, "POST", "/v1/datasets/rows_e2/rows",
        """{"rowName": "r2", "columns": [["x", 5, 0]]}""")
      assert(c2 === 200, b2)
      assert(strings(e, "SELECT x FROM rows_e2") === Seq("5"))
    }
  }

  test("a body that is not JSON is one 400") {
    val e = new GraftEngine(spark)
    withServer(e) { port =>
      val (c, b) = send(port, "POST", "/v1/procedures", """{"type": "null",""")
      assert(c === 400, b)
      assert(b.contains("\"error\"") && b.contains("\"httpCode\": 400"), b)
      val (c2, b2) = send(port, "PUT", "/v1/datasets/bad_f",
        """{"type": "sparse.mutable" """)
      assert(c2 === 400, b2)
    }
  }

  test("a percentileBuckets entry that is not [lower, upper] is a 400") {
    val e = new GraftEngine(spark)
    e.recordRows("src_p", """[{"rowName": "r1", "x": 1}]""")
    withServer(e) { port =>
      val (c, b) = send(port, "PUT", "/v1/procedures/bucket_p",
        """{"type": "bucketize", "params": {
          | "inputData": "SELECT x FROM src_p ORDER BY x",
          | "outputDataset": "out_p",
          | "percentileBuckets": {"b1": [0, 50], "b2": "fifty"}}}""".stripMargin)
      assert(c === 400, b)
      assert(b.contains("bucket 'b2'"), b)
    }
  }

  test("a run of a procedure named transform keeps its run body's params") {
    val e = new GraftEngine(spark)
    e.recordRows("src_t", """[{"rowName": "r1", "x": 1}]""")
    withServer(e) { port =>
      val (c, b) = send(port, "PUT", "/v1/procedures/transform",
        """{"type": "transform", "params": {"inputData": "SELECT x FROM src_t",
          | "outputDataset": "t_stored"}}""".stripMargin)
      assert(c === 201, b)
      val (c2, b2) = send(port, "POST", "/v1/procedures/transform/runs",
        """{"params": {"outputDataset": "t_override"}}""")
      assert(c2 === 201, b2)
      assert(e.listDatasets.contains("t_override"), e.listDatasets)
      assert(!e.listDatasets.contains("t_stored"), e.listDatasets)
    }
  }

  test("quality.gopher registers the same output over REST, serial and JS") {
    val e = new GraftEngine(spark)
    e.recordRows("documents", Seq(
      "d1" -> "the cat sat on a mat while the dog slept near the door",
      "d2" -> "a quick brown fox jumps over a lazy dog in the old barn",
      "d3" -> "cats and dogs sleep all day long without any worries at all")
      .map { case (id, t) => s"""{"rowName": "$id", "doc_id": "$id", "text": "$t"}""" }
      .mkString("[", ",", "]"))
    val params =
      """{"inputDataset": {"id": "documents"}, "stopwords": ["the", "a"],
        | "outputDataset": "OUT"}""".stripMargin
    def cfg(out: String) =
      s"""{"type": "quality.gopher", "params": ${params.replace("OUT", out)}}"""
    def result(name: String): Seq[String] =
      e.dataset(name).select("doc_id", "n_stop", "pass").collect()
        .map(_.toSeq.mkString("|")).toSeq.sorted
    withServer(e) { port =>
      val (c, b) = send(port, "POST", "/v1/procedures", cfg("gopher_rest"))
      assert(c === 201, b)
      val (c2, b2) = send(port, "POST", "/v1/procedures",
        s"""{"type": "serial", "params": {"steps": [${cfg("gopher_serial")}]}}""")
      assert(c2 === 201, b2)
    }
    JsHost.run(spark, e.dataset,
      s"mldb.createProcedure(${cfg("gopher_js")}).run();", Map.empty, e)
    e.runProcedure("quality.gopher", Map("inputDataset" -> "documents",
      "stopwords" -> "the,a", "outputDataset" -> "gopher_api").get _)
    val expected = result("gopher_api")
    assert(expected.exists(!_.contains("|0|")), expected)
    assert(result("gopher_rest") === expected)
    assert(result("gopher_serial") === expected)
    assert(result("gopher_js") === expected)
  }
}
