package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Nineteenth batch of replays of the reference's OWN regression
  * tests — classifier-entity edge behavior: null labels (MLDB-429),
  * UTF-8 labels (MLDB-2143), missing-feature splits (MLDB-785), and
  * the /details model-introspection route (MLDB-174/961 read their
  * trained feature lists from it). */
class ReferenceParitySpec19 extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val e = new api.GraftEngine(spark)
  private def q(sql: String) = {
    val df = e.query(sql)
    if (df.schema.headOption.exists(f =>
        f.name.equalsIgnoreCase("rowName") &&
          f.metadata.contains("graft.implicitRowName")))
      df.drop("rowName")
    else df
  }
  private val client = HttpClient.newHttpClient()

  // --- MLDB-429-classifier-empty-label.js -----------------------------------------

  test("MLDB-429: a NULL label row does not break training") {
    e.recordRows("ds429",
      """[{"rowName":"ex00","x":0,"y":0,"label":0},
        |{"rowName":"ex10","x":1,"y":0,"label":1},
        |{"rowName":"ex01","x":0,"y":1,"label":1},
        |{"rowName":"ex111","x":1,"y":1,"label":1},
        |{"rowName":"ex110","x":1,"y":1,"label":0},
        |{"rowName":"ex112","x":1,"y":1,"label":null}]""".stripMargin)
    // trains despite ex112's null label (the reference's whole point)
    e.runProcedure("classifier.train", Map(
      "trainingData" -> "select {x,y} as features, label from ds429",
      "algorithm" -> "glz", "mode" -> "boolean",
      "modelFileUrl" -> "file://tmp/MLDB-429.cls",
      "functionName" -> "cls429").get _)
    val n = q("select cls429({{x,y} as features})[score] as s from ds429")
      .count()
    assert(n === 6)
  }

  // --- MLDB-2143-classifier-utf8.py ------------------------------------------------

  test("MLDB-2143: UTF-8 labels train, apply, and report statistics") {
    e.runProcedure("import.text", Map(
      "dataFileUrl" -> ReferenceFixture("dataset/iris.data"),
      "headers" -> "sl,sw,pl,pw,class",
      "outputDataset" -> "iris2143").get _)
    e.runProcedure("transform", Map(
      "inputData" -> ("select * excluding(class), class + '_éç' as label " +
        "from iris2143"),
      "outputDataset" -> "iris_utf8").get _)
    e.runProcedure("classifier.train", Map(
      "trainingData" -> ("select {* excluding(label)} as features, " +
        "label from iris_utf8"),
      "algorithm" -> "dt", "mode" -> "categorical",
      "modelFileUrl" -> "file://tmp/MLDB-2143.cls",
      "functionName" -> "cls2143").get _)
    val out = e.runProcedure("classifier.test", Map(
      "mode" -> "categorical",
      "testingData" -> ("""select cls2143({{* excluding(label)} as """ +
        """features}) as score, label from iris_utf8""")).get _)
    assert(out.contains("Iris-setosa_éç"), out)
    // and the scores row carries the UTF-8 field names
    val s = q("""select cls2143({{* excluding(label)} as features})[scores]
                 as s from iris_utf8 limit 1""")
    assert(s.select("s.*").columns.toSeq.exists(_.endsWith("_éç")),
      s.select("s.*").columns.toSeq)
  }

  // --- MLDB-785-decision-tree-missing.js --------------------------------------------

  test("MLDB-785: a dt separates on a feature that is present vs missing") {
    // y exists exactly on the label-1 rows; x carries no signal
    val rows = (0 until 5).map(i =>
      s"""{"rowName":"exf$i","label":0,"x":${2 * i + 1}}""") ++
      (0 until 5).map(i =>
        s"""{"rowName":"ext$i","label":1,"x":${2 * i + 2},"y":1}""")
    e.recordRows("ds785", rows.mkString("[", ",", "]"))
    e.runProcedure("classifier.train", Map(
      "trainingData" -> "select {x,y} as features, label from ds785",
      "algorithm" -> "dt", "mode" -> "boolean",
      "modelFileUrl" -> "file://tmp/MLDB-785.cls",
      "functionName" -> "cls785").get _)
    val acc = q("""select cls785({{x,y} as features})[score] as s,
                   label from ds785""")
      .select(avg(when((col("s") > 0.5) === (col("label") === 1), 1.0)
        .otherwise(0.0))).head().getDouble(0)
    assert(acc === 1.0, s"dt missing-feature accuracy $acc")
  }

  // --- MLDB-174/961: /v1/functions/<name>/details ------------------------------------

  test("details route exposes the trained feature list and model family") {
    e.recordRows("ds19d",
      """[{"rowName":"a","x":0,"y":0,"label":0},
        |{"rowName":"b","x":1,"y":1,"label":1},
        |{"rowName":"c","x":0.2,"y":0.1,"label":0},
        |{"rowName":"d","x":0.9,"y":0.8,"label":1}]""".stripMargin)
    e.runProcedure("classifier.train", Map(
      "trainingData" -> "select {x,y} as features, label from ds19d",
      "algorithm" -> "glz", "mode" -> "boolean",
      "modelFileUrl" -> "file://tmp/MLDB-19d.cls",
      "functionName" -> "cls19d").get _)
    val srv = new api.RestServer(e)
    val port = srv.start()
    try {
      val r = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port/v1/functions/cls19d/details"))
        .GET.build(), HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() === 200, r.body())
      // the MLDB-174 usedFeatures read: model.params.features[*].feature
      val feats = "\"feature\": \"([^\"]+)\"".r
        .findAllMatchIn(r.body()).map(_.group(1)).toSeq
      assert(feats.sorted === Seq("x", "y"), r.body())
      assert(r.body().contains("\"type\": \"GLZ\""), r.body())
      // a classifier function is also REST-creatable from the model
      // (MLDB-173's functionConfig shape)
      val put = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port/v1/functions/cls19d2"))
        .PUT(HttpRequest.BodyPublishers.ofString(
          """{"type": "classifier",
            |"params": {"modelFileUrl": "file://tmp/MLDB-19d.cls"}}"""
            .stripMargin))
        .build(), HttpResponse.BodyHandlers.ofString())
      assert(put.statusCode() < 400, put.body())
      assert(q("select cls19d2({{x,y} as features})[score] as s from ds19d")
        .count() === 4)
    } finally srv.stop()
  }
}
