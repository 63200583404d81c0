package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Thirteenth batch of replays of the reference's OWN regression
  * tests — the builtin-function test tier (rowNumber/totalRows/sign/
  * hash/stddev/try), no-FROM WHERE/LIMIT shapes, and import.text
  * offset/limit. Each test cites the `/root/reference/testing/` file
  * it reproduces and pins that file's expected values (divergences
  * called out inline). */
class ReferenceParitySpec13 extends AnyFunSuite {

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
  private def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")

  private def withServer[T](engine: api.GraftEngine)(
      body: (String => (Int, String)) => T): T = {
    val srv = new api.RestServer(engine)
    val port = srv.start()
    def get(path: String): (Int, String) = {
      val r = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port$path")).GET.build(),
        HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body())
    }
    try body(get) finally srv.stop()
  }

  /** `ds` of row_number/total_rows_builtin_fct_test: rows 0..3 with
    * col = i. */
  private lazy val seqData: Unit =
    e.recordRows("dsSeq",
      """[{"rowName":"0","col":0},{"rowName":"1","col":1},
        |{"rowName":"2","col":2},{"rowName":"3","col":3}]""".stripMargin)

  // --- row_number_builtin_fct_test.py ---------------------------------------

  test("rowNumber: numbers the ordered stream 1..N, before OFFSET/LIMIT") {
    seqData
    val asc = e.query("SELECT rowNumber() AS num FROM dsSeq ORDER BY rowName()")
      .select("rowName", "num").collect().map(r => r.getString(0) -> r.getLong(1))
    assert(asc.toSeq === Seq("0" -> 1L, "1" -> 2L, "2" -> 3L, "3" -> 4L))
    val desc = e.query("SELECT rowNumber() AS num FROM dsSeq ORDER BY rowName() DESC")
      .select("rowName", "num").collect().map(r => r.getString(0) -> r.getLong(1))
    assert(desc.toSeq === Seq("3" -> 1L, "2" -> 2L, "1" -> 3L, "0" -> 4L))
    // no ORDER BY: still 1..N
    assert(q("SELECT rowNumber() AS n FROM dsSeq").select("n")
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L, 4L))
    // operators over it
    assert(q("SELECT rowNumber() - 1 AS n FROM dsSeq").select("n")
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(0L, 1L, 2L, 3L))
    // WHERE renumbers from 1
    assert(q("SELECT rowNumber() AS n FROM dsSeq WHERE rowName() < '2'")
      .select("n").collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
    // numbering precedes OFFSET/LIMIT
    assert(q("SELECT rowNumber() AS n FROM dsSeq ORDER BY rowName() LIMIT 2")
      .select("n").collect().map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(q(
      "SELECT rowNumber() AS n FROM dsSeq ORDER BY rowName() LIMIT 2 OFFSET 2")
      .select("n").collect().map(_.getLong(0)).toSeq === Seq(3L, 4L))
  }

  test("rowNumber: only available in SELECT expressions") {
    seqData
    val msg = "function rowNumber is only available in SELECT expressions."
    for (bad <- Seq(
        "SELECT * FROM dsSeq WHERE rowNumber() < 2",
        "SELECT * FROM dsSeq ORDER BY rowNumber()",
        "SELECT 'coco' FROM dsSeq GROUP BY rowNumber()",
        "SELECT rowName() NAMED rowNumber() FROM dsSeq",
        // an alias bound to a rowNumber() item is the same smuggle
        "SELECT rowNumber() AS n FROM dsSeq ORDER BY n")) {
      val ex = intercept[IllegalArgumentException](q(bad).collect())
      assert(ex.getMessage.contains(msg), bad)
    }
  }

  // --- total_rows_builtin_fct_test.py ---------------------------------------

  test("totalRows: post-WHERE count on every row, unaffected by LIMIT") {
    seqData
    assert(q("SELECT totalRows() AS t FROM dsSeq").select("t")
      .collect().map(_.getLong(0)).toSeq === Seq(4L, 4L, 4L, 4L))
    assert(q("SELECT totalRows() - 1 AS t FROM dsSeq").select("t")
      .collect().map(_.getLong(0)).toSeq === Seq(3L, 3L, 3L, 3L))
    assert(q("SELECT totalRows() AS t FROM dsSeq WHERE rowName() >= '2'")
      .select("t").collect().map(_.getLong(0)).toSeq === Seq(2L, 2L))
    assert(q(
      "SELECT totalRows() AS t FROM dsSeq ORDER BY rowName() LIMIT 2 OFFSET 2")
      .select("t").collect().map(_.getLong(0)).toSeq === Seq(4L, 4L))
    val msg = "function totalRows is only available in SELECT expressions."
    for (bad <- Seq(
        "SELECT * FROM dsSeq WHERE totalRows() < 2",
        "SELECT * FROM dsSeq ORDER BY totalRows()",
        "SELECT 'coco' FROM dsSeq GROUP BY totalRows()",
        "SELECT rowName() NAMED totalRows() FROM dsSeq",
        "SELECT totalRows() AS t FROM dsSeq ORDER BY t")) {
      val ex = intercept[IllegalArgumentException](q(bad).collect())
      assert(ex.getMessage.contains(msg), bad)
    }
  }

  // --- sign_function_test.py -------------------------------------------------

  test("sign: ±1/0 on numbers, NaN on non-numbers, NULL passthrough") {
    assert(q("SELECT sign(-123) AS s").select("s").head().getDouble(0) === -1.0)
    assert(q("SELECT sign(123) AS s").select("s").head().getDouble(0) === 1.0)
    assert(q("SELECT sign(0) AS s").select("s").head().getDouble(0) === 0.0)
    assert(q("SELECT sign(-123.123) AS s").select("s").head().getDouble(0) === -1.0)
    assert(q("SELECT sign(123.123) AS s").select("s").head().getDouble(0) === 1.0)
    assert(q("SELECT sign(0.0) AS s").select("s").head().getDouble(0) === 0.0)
    assert(q("SELECT sign(nan) AS s").select("s").head().getDouble(0).isNaN)
    assert(q("SELECT sign('octosanchez') AS s").select("s")
      .head().getDouble(0).isNaN)
    assert(q("SELECT sign(NULL) AS s").select("s").head().isNullAt(0))
  }

  // --- builtin_hash_fct_test.py ----------------------------------------------

  test("hash: NULL-propagating and timestamp-independent") {
    // (hash VALUES diverge — xxhash64 here vs the reference's
    // highwayhash, documented since r2; the SEMANTICS are the pin)
    assert(q("SELECT hash(NULL) AS h").select("h").head().isNullAt(0))
    assert(q("SELECT hash('abc') AS h").select("h").head().getLong(0) !== 0L)
    assert(q("SELECT hash(1) AS h").select("h").head().getLong(0) !==
      q("SELECT hash('1') AS h").select("h").head().getLong(0))
    // row-valued input hashes
    assert(!q("SELECT hash({a: 12, b: 'coco'}) AS h").select("h")
      .head().isNullAt(0))
    // same value recorded at different timestamps → same hash
    e.recordRows("dsHash", """[{"rowName":"row1","a":1,"b":1}]""")
    assert(q("SELECT hash(a) = hash(b) AS eq FROM dsHash").select("eq")
      .head().getBoolean(0))
  }

  // --- stddev_builtin_fct_test.py --------------------------------------------

  test("stddev/variance: sample variants; no-qualifying-values reads NaN") {
    val rows = (0 until 100).flatMap(i => Seq(
      s"""{"rowName":"a$i-1","a":1}""", s"""{"rowName":"a$i-2","a":2}""",
      s"""{"rowName":"a$i-3","a":3}""", s"""{"rowName":"a$i-4","a":10}""",
      s"""{"rowName":"a$i-5","a":10}"""))
    e.recordRows("dsVar", rows.mkString("[", ",", "]"))
    val expVar = 15.791583166332668
    val v = q("SELECT variance(a) AS v FROM dsVar").select("v").head().getDouble(0)
    assert(math.abs(v - expVar) < 1e-9)
    val vv = q("SELECT vertical_variance(a) AS v FROM dsVar").select("v")
      .head().getDouble(0)
    assert(math.abs(vv - expVar) < 1e-9)
    val sd = q("SELECT stddev(a) AS v FROM dsVar").select("v").head().getDouble(0)
    assert(math.abs(sd - math.sqrt(expVar)) < 1e-9)
    // a column with NO qualifying values reads NaN, not SQL NULL
    e.recordRows("dsVar1", """[{"rowName":"1","a":1}]""")
    assert(q("SELECT stddev(b) AS v FROM dsVar1").select("v")
      .head().getDouble(0).isNaN)
    assert(q("SELECT variance(b) AS v FROM dsVar1").select("v")
      .head().getDouble(0).isNaN)
    // the test's pre-generated 20-number sequence
    val seq = Seq(208427.44720839578, 457112.4117661105, 382059.51760122814,
      665800.0456080714, 467338.1109353526, 213330.03276811822,
      511618.87320035807, 479816.93290939386, 299103.40031107765,
      473251.9045436747, 76189.30209577834, 886893.3898863205,
      943297.756950757, 613434.874169999, 114575.37447960586,
      683344.908275345, 719435.7021704618, 112303.13453557184,
      646095.3802013887, 394881.5084234503)
    e.recordRows("dsVarSeq", seq.zipWithIndex.map { case (x, i) =>
      s"""{"rowName":"$i","col":$x}""" }.mkString("[", ",", "]"))
    val sd2 = q("SELECT stddev(col) AS v FROM dsVarSeq").select("v")
      .head().getDouble(0)
    assert(math.abs(sd2 - 249587.74043152996) < 1e-6)
  }

  // --- try_except_builtin_fct.py ---------------------------------------------

  test("try over parse_json: value on success, fallback on error") {
    assert(q("""SELECT parse_json('{"a" : 5}') AS p""").select("p")
      .head().getStruct(0).getLong(0) === 5L)
    assert(q("""SELECT try(parse_json('{"a" : 5}'), 'err') AS p""").select("p")
      .head().getStruct(0).getLong(0) === 5L)
    assert(q("SELECT try(parse_json('coco'), 'err') AS p").select("p")
      .head().getString(0) === "err")
    // 1-arg try of a failing constant: the reference returns the error
    // MESSAGE; the plan-time analog surfaces the parse failure text
    // when available, else NULL (documented divergence)
    val bare = q("SELECT try(parse_json('coco')) AS p").select("p").head()
    assert(bare.isNullAt(0) || bare.getString(0).nonEmpty)
  }

  // --- where-without-dataset.py ----------------------------------------------

  test("no-FROM WHERE false / LIMIT 0 / LIMIT 1 over REST table format") {
    withServer(new api.GraftEngine(spark)) { get =>
      assert(get(s"/v1/query?q=${enc("SELECT 1 WHERE false")}&format=table")._2
        === """[["_rowName"]]""")
      assert(get(s"/v1/query?q=${enc("SELECT 1 LIMIT 0")}&format=table")._2
        === """[["_rowName"]]""")
      assert(get(s"/v1/query?q=${enc("SELECT 1 LIMIT 1")}&format=table")._2
        === """[["_rowName","1"],["result",1]]""")
    }
  }

  // --- column_name_test.py -----------------------------------------------------

  test("column_name_test: un-aliased items are named by their surface text") {
    withServer(e) { get =>
      // res[0][1] of the reference test = the first value-column header
      // in table format (after _rowName)
      def hdr(select: String): String = {
        val (c, b) = get(s"/v1/query?q=${enc(s"SELECT $select")}&format=table")
        assert(c === 200, s"$select -> $b")
        val inner = b.stripPrefix("[[").takeWhile(_ != ']')
        val cols = inner.split("\",\"").map(_.stripPrefix("\"")
          .stripSuffix("\"").replace("\\\"", "\""))
        cols.find(_ != "_rowName").getOrElse("")
      }
      assert(hdr("1") === "1")
      assert(hdr("'patate'") === "'patate'")
      assert(hdr("1 + 10") === "1 + 10")
      assert(hdr("a:1 + 10") === "a")
      assert(hdr("1 + 1.1") === "\"1 + 1.1\"")
      assert(hdr("a:1 + 1.1") === "a")
      assert(hdr("a + b FROM (SELECT a:1, b:2)") === "a + b")
      assert(hdr("x:1") === "x")
      assert(hdr("1 AS x") === "x")
      assert(hdr("x.y:1 + 1") === "x.y")
      assert(hdr("1 + 1 AS x.y") === "x.y")
      assert(hdr("1 as a.b") === "a.b")
      assert(hdr("{x:1}") === "{x:1}.x")
      assert(hdr("{x:1} AS *") === "x")
      assert(hdr("{x:1} AS x") === "x.x")
      assert(hdr("{x:1} + {x:1}") === "{x:1} + {x:1}.x")
      assert(hdr("col.x FROM (SELECT col.x:1)") === "col.x")
      assert(hdr("* FROM (SELECT col.x:1)") === "col.x")
      assert(hdr("col.* FROM (SELECT col.x:1)") === "col.x")
      assert(hdr("c* FROM (SELECT col.x:1)") === "col.x")
      assert(hdr("* AS * FROM (SELECT col.x:1)") === "col.x")
      assert(hdr("{*} FROM (SELECT col.x:1)") === "{*}.col.x")
      assert(hdr("{*} AS * FROM (SELECT col.x:1)") === "col.x")
      assert(hdr("{b:1} + 1") === "{b:1} + 1.b")
      assert(hdr("{b:1} + 1 AS *") === "b")
      assert(hdr("a:{b:1} + 1") === "a.b")
      assert(hdr("{x.y:1 + 1}") === "\"{x.y:1 + 1}\".x.y")
      assert(hdr("{x.y:1 + 1} AS *") === "x.y")
      assert(hdr("{{x.y:1 + 1} AS *} AS *") === "x.y")
      assert(hdr("{x:{y:1} + 1}") === "{x:{y:1} + 1}.x.y")
      assert(hdr("{x:{y:1} + 1} AS *") === "x.y")
      // MLDB-1836 nested-row arithmetic names and values
      assert(hdr("{x.y:1} + 1") === "\"{x.y:1} + 1\".x.y")
      assert(hdr("{x:{y:1}} - 1") === "{x:{y:1}} - 1.x.y")
      assert(hdr("a:{x.y:1} * 1") === "a.x.y")
      assert(hdr("a:{x:{y:1}} / 1") === "a.x.y")
      assert(hdr("a:{w.x.y:1} + 1") === "a.w.x.y")
      assert(hdr("a:{w:{x:{y:1}}} + 1") === "a.w.x.y")
    }
  }

  test("column_name_test: row arithmetic applies per field") {
    val r1 = q("SELECT {b:1} + 1 AS v").select("v").head().getStruct(0)
    assert(r1.getLong(0) === 2L)
    val r2 = q("SELECT {x:{y:1}} - 1 AS v").select("v").head()
      .getStruct(0).getStruct(0)
    assert(r2.getLong(0) === 0L)
    val r3 = q("SELECT {a:1, b:10} + {a:2} AS v").select("v").head().getStruct(0)
    assert(r3.getLong(0) === 3L) // matching field adds
    assert(r3.isNullAt(1))       // absent on one side reads NULL
  }

  // --- union_dataset_test.py ---------------------------------------------------

  test("union dataset: index-prefixed row names, row-derived table columns") {
    val eng = new api.GraftEngine(spark)
    eng.recordRows("u_ds1", """[{"rowName":"row1","colA":"A"}]""")
    eng.recordRows("u_ds2", """[{"rowName":"row1","colB":"B"}]""")
    eng.recordRows("u_ds3",
      """[{"rowName":"row1","colA":"AA","colB":"BB"},
        |{"rowName":"row2","colA":"A","colC":"C"}]""".stripMargin)
    eng.createDatasetTyped("union_ds", "union",
      Map("datasets" -> "u_ds1,u_ds2").get _)
    withServer(eng) { get =>
      assert(get(s"/v1/query?q=${enc(
        "SELECT colA, colB FROM union_ds ORDER BY rowName()")}&format=table")._2
        === """[["_rowName","colA","colB"],["0.row1","A",null],""" +
          """["1.row1",null,"B"]]""")
      // table columns come from the ROWS: LIMIT 1 sees only colA
      assert(get(s"/v1/query?q=${enc(
        "SELECT * FROM union_ds ORDER BY rowName() LIMIT 1")}&format=table")._2
        === """[["_rowName","colA"],["0.row1","A"]]""")
      assert(get(s"/v1/query?q=${enc(
        "SELECT * FROM union_ds ORDER BY rowName() OFFSET 1")}&format=table")._2
        === """[["_rowName","colB"],["1.row1","B"]]""")
    }
    eng.createDatasetTyped("union_ds2", "union",
      Map("datasets" -> "u_ds3,u_ds3").get _)
    withServer(eng) { get =>
      assert(get(s"/v1/query?q=${enc(
        "SELECT colA, colB, colC FROM union_ds2 ORDER BY rowName()")}&format=table")._2
        === """[["_rowName","colA","colB","colC"],""" +
          """["0.row1","AA","BB",null],["0.row2","A",null,"C"],""" +
          """["1.row1","AA","BB",null],["1.row2","A",null,"C"]]""")
    }
  }

  // --- MLDB-1717_query_select_in_body.py ----------------------------------

  test("MLDB-1717: q accepted as query string, GET body, or redirect POST") {
    val eng = new api.GraftEngine(spark)
    eng.recordRows("ds1717", """[{"rowName":"row1","a":1}]""")
    val srv = new api.RestServer(eng)
    val port = srv.start()
    try {
      def send(method: String, path: String, body: String): (Int, String) = {
        val b = HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port$path"))
        val r = client.send((method match {
          case "GET" if body.isEmpty => b.GET
          case "GET" => b.method("GET", HttpRequest.BodyPublishers.ofString(body))
          case "POST" => b.POST(HttpRequest.BodyPublishers.ofString(body))
        }).build(), HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), r.body())
      }
      val expected = """[["_rowName","a"],["row1",1]]"""
      assert(send("GET",
        s"/v1/query?q=${enc("SELECT * FROM ds1717")}&format=table", "")._2
        === expected)
      assert(send("GET", "/v1/query",
        """{"q": "SELECT * FROM ds1717", "format": "table"}""")._2 === expected)
      assert(send("POST", "/v1/redirect/get",
        """{"target": "/v1/query", "body": {"q": "SELECT * FROM ds1717", "format": "table"}}""")._2
        === expected)
    } finally srv.stop()
  }

  // --- null_column_test.py -----------------------------------------------------

  test("null_column_test: dataset status rowCount + IS (NOT) NULL filters") {
    val eng = new api.GraftEngine(spark)
    val srv = new api.RestServer(eng)
    val port = srv.start()
    try {
      def send(method: String, path: String, body: String): (Int, String) = {
        val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        val r = client.send((method match {
          case "GET" => b.GET
          case "POST" => b.POST(HttpRequest.BodyPublishers.ofString(body))
        }).build(), HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), r.body())
      }
      assert(send("POST", "/v1/datasets",
        """{"type": "sparse.mutable", "id": "null_column_test"}""")._1 === 201)
      assert(send("POST", "/v1/datasets/null_column_test/rows",
        """{"rowName": "r1", "columns": [["col1", 1, 0]]}""")._1 === 200)
      assert(send("POST", "/v1/datasets/null_column_test/rows",
        """{"rowName": "r2", "columns": [["col1", 1, 0], ["col2", 2, 0]]}""")._1
        === 200)
      assert(send("POST", "/v1/datasets/null_column_test/commit", "{}")._1 === 200)
      // GET <dataset> without ?limit = the reference's status object
      val (sc, sb) = send("GET", "/v1/datasets/null_column_test", "")
      assert(sc === 200 && sb.contains("\"rowCount\": 2"), sb)
      // IS NOT NULL keeps only r2; the aos row carries its name
      val (_, b1) = send("GET", "/v1/query?q=" + enc(
        "SELECT col2 FROM null_column_test WHERE col2 IS NOT NULL"), "")
      assert(b1 === """[{"_rowName":"r2","col2":2}]""", b1)
      val (_, b2) = send("GET", "/v1/query?q=" + enc(
        "SELECT col2 FROM null_column_test WHERE col2 IS NULL"), "")
      assert(b2 === """[{"_rowName":"r1","col2":null}]""", b2)
    } finally srv.stop()
  }

  // --- MLDB-749-count-with-offset-limit.js (first battery) --------------------

  test("MLDB-749: import.text offset/limit against the titanic fixture") {
    def imp(name: String, extra: Map[String, String]): Long = {
      e.runProcedure("import.text", (Map(
        "dataFileUrl" -> ReferenceFixture("fixtures/titanic_train.csv"),
        "outputDataset" -> name) ++ extra).get _)
      e.dataset(name).count()
    }
    val total = imp("t749_all", Map("limit" -> "-1")) // -1 = unlimited
    assert(total === 891L)
    assert(imp("t749_10", Map("limit" -> "10")) === 10L)
    assert(imp("t749_big", Map("limit" -> (total + 2000).toString)) === total)
    assert(imp("t749_off", Map("offset" -> "10")) === total - 10)
  }
}
