package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Thirtieth batch of replays of the reference's OWN regression
  * tests — utility-function behavioral edges:
  *   - MLDB-2166_mime_type.py (libmagic-style descriptions, not-blob
  *     bind error, fetcher file errors),
  *   - MLDB-2100_fetcher_timeout_test.py (a hanging server reads
  *     "Timeout was reached" as DATA, never aborting the query),
  *   - MLDB-1666-spherical-geometry.js (geo_distance matrix over a
  *     self-join with composed [l]-[r] row names),
  *   - MLDB-2025-st_contains.py (point-in-polygon with try()). */
class ReferenceParitySpec30 extends AnyFunSuite {

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

  // --- MLDB-2166 --------------------------------------------------------------------

  test("MLDB-2166: mime_type renders libmagic descriptions; blob-only") {
    val jpg = "file://" + ReferenceFixture("logo-new.jpg")
    val r = q(s"""select regex_search(
        mime_type(fetcher('$jpg')[content]), 'JPEG image data') as mime""")
      .head()
    assert(r.getBoolean(0) === true, r.toString)
    // the whole fetcher ROW is not a blob — the reference's bind error
    val ex = intercept[IllegalArgumentException](
      q(s"select mime_type(fetcher('$jpg')) as mime").collect())
    assert(ex.getMessage.contains(
      "Mime type extraction requires that an atomic value"),
      ex.getMessage)
    // a nonexistent path travels as the error cell, reading libcurl's
    // message text
    val err = q("select fetcher('non_existant')[error] as e").head()
    assert(err.getString(0).contains("No such file"), err.toString)
  }

  // --- MLDB-2100 --------------------------------------------------------------------

  test("MLDB-2100: a hanging server reads 'Timeout was reached' as data") {
    val server = new java.net.ServerSocket(0, 1,
      java.net.InetAddress.getByName("127.0.0.1"))
    val port = server.getLocalPort
    val acceptor = new Thread(() => {
      try { val s = server.accept(); Thread.sleep(30000); s.close() }
      catch { case _: Throwable => () }
    })
    acceptor.setDaemon(true)
    acceptor.start()
    try {
      val r = q(s"select fetcher('http://127.0.0.1:$port/toto', 500)[error] as e")
        .head()
      assert(r.getString(0).contains("Timeout was reached"), r.toString)
    } finally server.close()
  }

  // --- MLDB-1666 --------------------------------------------------------------------

  test("MLDB-1666: geo_distance matrix over a self-join") {
    e.recordRows("airports1666",
      """[{"rowName":"lhr","lat":51.477500,"lon":-0.461388},
        |{"rowName":"syd","lat":-33.946110,"lon":151.177222},
        |{"rowName":"lax","lat":33.942495,"lon":-118.408067},
        |{"rowName":"sfo","lat":37.619105,"lon":-122.375236},
        |{"rowName":"oak","lat":37.721306,"lon":-122.220721}]"""
        .stripMargin)
    val rows = q("""select rowName() as rn,
        round(geo_distance(x.lat, x.lon, y.lat, y.lon) / 1000) as dst
      from airports1666 as x join airports1666 as y
      where x.rowName() < y.rowName()
      order by dst desc, rowName()""").collect()
      .map(r => r.getString(0) -> r.getAs[Number](1).doubleValue)
    val expected = Seq(
      "[lhr]-[syd]" -> 17020.0, "[lax]-[syd]" -> 12061.0,
      "[oak]-[syd]" -> 11967.0, "[sfo]-[syd]" -> 11950.0,
      "[lax]-[lhr]" -> 8759.0, "[lhr]-[sfo]" -> 8615.0,
      "[lhr]-[oak]" -> 8599.0, "[lax]-[oak]" -> 543.0,
      "[lax]-[sfo]" -> 543.0, "[oak]-[sfo]" -> 18.0)
    assert(rows.map(_._1).toSeq === expected.map(_._1), rows.mkString(", "))
    rows.zip(expected).foreach { case ((rn, got), (_, want)) =>
      // tolerate ±0.1% of ellipsoid-model drift on the long hauls
      assert(math.abs(got - want) <= math.max(2.0, want * 0.001),
        s"$rn: $got vs $want")
    }
  }

  // --- MLDB-2025 (essence) ----------------------------------------------------------

  test("MLDB-2025: ST_Contains_Point with try() over per-row polygons") {
    // a unit square [0,10]² as [lat, lon] vertices, and a triangle
    e.recordRows("quartiers2025",
      """[{"rowName":"sq","name":"square"},
        |{"rowName":"tri","name":"triangle"}]""".stripMargin)
    val rows = q("""select name,
        st_contains_point(CASE WHEN name = 'square'
            THEN [[0,0],[0,10],[10,10],[10,0]]
            ELSE [[0,0],[10,0],[5,10]] END, 5, 5) as inside,
        st_contains_point(CASE WHEN name = 'square'
            THEN [[0,0],[0,10],[10,10],[10,0]]
            ELSE [[0,0],[10,0],[5,10]] END, 15, 5) as outside
      from quartiers2025 order by rowName()""").collect()
    rows.foreach { r =>
      assert(r.getBoolean(1) === true, r.toString)
      assert(r.getBoolean(2) === false, r.toString)
    }
    // a malformed polygon under try() reads the fallback, not a crash
    val t = q("""select try(
        st_contains_point([[0]], 1, 1), false) as c""").head()
    assert(!t.isNullAt(0))
  }
}
