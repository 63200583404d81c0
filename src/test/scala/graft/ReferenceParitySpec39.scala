package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Thirty-ninth batch of replays of the reference's OWN regression
  * tests:
  *   - MLDB-529-duplicate-pin.js (a string-valued feature trains, and
  *     the classifier applies with the feature given as a string OR a
  *     number — the duplicate feature-pin regression),
  *   - MLDB-2097_exif.py essence (parse_exif over a REAL camera JPEG
  *     answers a metadata row). */
class ReferenceParitySpec39 extends AnyFunSuite {

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

  test("MLDB-529: string features apply as strings OR numbers") {
    e.recordRows("test529",
      """[{"rowName":"ex00","x":0,"score":"0","label":0},
        |{"rowName":"ex10","x":1,"score":"0","label":1},
        |{"rowName":"ex01","x":0,"score":"1","label":1},
        |{"rowName":"ex111","x":1,"score":"1","label":1},
        |{"rowName":"ex110","x":1,"score":"1","label":0}]""".stripMargin)
    e.runProcedure("classifier.train", Map(
      "trainingData" -> "select {x, score} as features, label from test529",
      "algorithm" -> "glz", "mode" -> "boolean",
      "modelFileUrl" -> "file://tmp/MLDB-529.cls",
      "functionName" -> "cls529").get _)
    val srv = new api.RestServer(e)
    val port = srv.start()
    try {
      def app(input: String): Int = {
        val enc = java.net.URLEncoder.encode(input, "UTF-8")
        client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port/v1/functions/cls529/" +
            s"application?input=$enc")).GET.build(),
          HttpResponse.BodyHandlers.ofString()).statusCode()
      }
      // score as a string and as a number both answer 200
      assert(app("""{"features": {"x": 1, "score": "1"}}""") === 200)
      assert(app("""{"features": {"x": 1, "score": 1}}""") === 200)
    } finally srv.stop()
    // and the two spellings score IDENTICALLY (the one-hot reads the
    // value's string form either way)
    val s1 = q("select cls529({features: {x: 1, score: '1'}})[score] as s")
      .head().getDouble(0)
    val s2 = q("select cls529({features: {x: 1, score: 1}})[score] as s")
      .head().getDouble(0)
    assert(math.abs(s1 - s2) < 1e-12, s"$s1 vs $s2")
  }

  test("MLDB-2097: parse_exif over a real camera JPEG answers metadata") {
    val jpg = "file://" + ReferenceFixture("logo-new.jpg")
    val r = q(s"select parse_exif(fetcher('$jpg')[content]) as meta")
      .head()
    val meta = r.getStruct(0)
    assert(meta.schema.fieldNames.nonEmpty, meta.toString)
    // the row answers without error and carries the exif field set
    assert(meta.schema.fieldNames.exists(
      f => f.toLowerCase.contains("orientation") ||
        f.toLowerCase.contains("make") ||
        f.toLowerCase.contains("model")), meta.schema.fieldNames.toSeq)
  }
}
