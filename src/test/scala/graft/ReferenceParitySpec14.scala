package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Fourteenth batch of replays of the reference's OWN regression
  * tests — COLUMN EXPR path functions over parse_json's numbered
  * array paths (MLDB-1779) and the four equivalent dynamic-AS-*
  * sql.query forms of MLDB-1843. Each test cites the
  * `/root/reference/testing/` file it reproduces and pins that file's
  * expected values. */
class ReferenceParitySpec14 extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val e = new api.GraftEngine(spark)
  private val client = HttpClient.newHttpClient()
  private def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")

  @volatile private var curPort: Int = 0
  private def withServer[T](engine: api.GraftEngine)(
      body: ((String => (Int, String)),
        ((String, String) => (Int, String))) => T): T = {
    val srv = new api.RestServer(engine)
    val port = srv.start()
    curPort = port
    def get(path: String): (Int, String) = {
      val r = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port$path")).GET.build(),
        HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body())
    }
    def put(path: String, b: String): (Int, String) = {
      val r = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port$path"))
        .PUT(HttpRequest.BodyPublishers.ofString(b)).build(),
        HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body())
    }
    try body(get, put) finally srv.stop()
  }

  // --- MLDB-1779_column_expr.py ----------------------------------------------

  test("MLDB-1779: columnPathElement over parse_json's numbered paths") {
    val sub = """select parse_json('{"age": 5, "friends": """ +
      """[{"name": "tommy"}, {"name": "sally"}]}') as *"""
    withServer(new api.GraftEngine(spark)) { (get, _) =>
      val expected = """[["_rowName","friends.0.name"],["result","tommy"]]"""
      assert(get(s"/v1/query?q=${enc(
        s"select COLUMN EXPR (WHERE columnPathElement(1) = '0') FROM ($sub)")}" +
        "&format=table")._2 === expected)
      assert(get(s"/v1/query?q=${enc(
        s"select COLUMN EXPR (WHERE columnPathElement(-2) = '0') FROM ($sub)")}" +
        "&format=table")._2 === expected)
    }
  }

  test("MLDB-1779: COLUMN EXPR () equals SELECT * (dotted names)") {
    // (a's rowName is the implicit metadata-marked carry; b's comes
    // from the star — same name, same value)
    val a = e.query("SELECT column expr () from (select x.a:1, y.b:2)")
    val b = e.query("SELECT * from (select x.a:1, y.b:2)")
    assert(a.columns.toSeq.sorted === b.columns.toSeq.sorted)
    assert(a.select(a.columns.sorted.map(c => a.col(s"`$c`")): _*)
      .head().toSeq ===
      b.select(b.columns.sorted.map(c => b.col(s"`$c`")): _*).head().toSeq)
  }

  test("MLDB-1779: NULL output name from columnPathElement raises") {
    e.recordRows("cex1779", """[{"rowName":"r1","pwet":3}]""")
    val ex = intercept[IllegalArgumentException](e.query(
      "select COLUMN EXPR (AS columnPathElement(1)) from cex1779").collect())
    assert(ex.getMessage.contains("Cannot have a NULL column name"))
  }

  // --- MLDB-1678-rowname-optimizations.js --------------------------------------

  test("MLDB-1678: a NAMED name with a dot Path-prints quoted") {
    def rows(where: String): Long = e.query(
      s"select * from (select 1 as x named 'msnbc.com') where $where").count()
    // the stored name is the printed element \"msnbc.com\" — a bare
    // 'msnbc.com' comparison misses, the quoted form hits
    assert(rows("rowName() + '' = 'msnbc.com'") === 0)
    assert(rows("rowName() = 'msnbc.com'") === 0)
    assert(rows("rowName() = '\"msnbc.com\"'") === 1)
    assert(rows("rowName() = '\"msnbc.com'") === 0) // unbalanced: no match
    assert(rows("rowName() = ''") === 0)
    assert(rows("rowName() in ('\"msnbc.com\"')") === 1)
    assert(rows("rowName() in ('\"msnbc.com\"', 'msnbc.com', '\"')") === 1)
    assert(rows("rowName() in ('msnbc.com', '\"')") === 0)
    assert(rows("true and rowName() != 'msnbc.com'") === 1)
    assert(rows("rowName() != '\"msnbc.com\"' + ''") === 0)
    assert(rows("true and rowName() != '\"msnbc.com\"'") === 0)
  }

  // --- mldb_merged_dataset_test.py ---------------------------------------------

  test("merged dataset creation validates its members (400s)") {
    val eng = new api.GraftEngine(spark)
    withServer(eng) { (_, put) =>
      // non-existent constituents
      val (c1, b1) = put("/v1/datasets/merged_bad",
        """{"type": "merged", "params": {"datasets": [{"id": "whatever_1"}, {"id": "whatever_2"}]}}""")
      assert(c1 === 400, b1)
      // empty list
      val (c2, b2) = put("/v1/datasets/merged_empty",
        """{"type": "merged", "params": {"datasets": []}}""")
      assert(c2 === 400, b2)
    }
  }

  // --- MLDB-973-csv-linenumber.js ------------------------------------------------

  test("MLDB-973: import.text names rows by line number, unique 2..N+1") {
    val eng = new api.GraftEngine(spark)
    // line-number row naming is opt-in here (the reference's DEFAULT —
    // a typed import shouldn't always pay the line pass; documented)
    eng.runProcedure("import.text", Map(
      "dataFileUrl" -> ReferenceFixture("fixtures/titanic_train.csv"),
      "named" -> "lineNumber()",
      "outputDataset" -> "csv973").get _)
    val nums = eng.query("select cast (rowName() as number) as n from csv973")
      .select("n").collect().map(_.getDouble(0).toLong)
    assert(nums.length === 891)
    assert(nums.toSet === (2L to 892L).toSet) // header is line 1
  }

  // --- MLDB-1359_procedure_latest_run.py -----------------------------------------

  test("MLDB-1359: latestrun tracks named, auto and creation runs") {
    val eng = new api.GraftEngine(spark)
    eng.recordRows("ds1359", """[{"rowName":"row1","colA":1}]""")
    withServer(eng) { (get, put) =>
      def post(path: String, b: String): (Int, String) = {
        val r = client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${curPort}$path"))
          .POST(HttpRequest.BodyPublishers.ofString(b)).build(),
          HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), r.body())
      }
      assert(put("/v1/procedures/testProc",
        """{"type": "transform", "params": {
          |"inputData": "SELECT *, coco AS sanchez FROM ds1359",
          |"outputDataset": {"id": "dsOut1359"},
          |"runOnCreation": true}}""".stripMargin)._1 === 201)
      val (c1, b1) = get("/v1/procedures/testProc/latestrun")
      assert(c1 === 200 && b1.contains("runStarted"), b1)
      def started(b: String): String =
        "\"runStarted\": \"([^\"]+)\"".r.findFirstMatchIn(b).get.group(1)
      val t1 = started(b1)
      Thread.sleep(15)
      assert(put("/v1/procedures/testProc/runs/999", "{}")._1 === 201)
      val b2 = get("/v1/procedures/testProc/latestrun")._2
      assert(started(b2) > t1, s"$b2 vs $t1")
      Thread.sleep(15)
      assert(post("/v1/procedures/testProc/runs", "{}")._1 === 201)
      val b3 = get("/v1/procedures/testProc/latestrun")._2
      assert(started(b3) > started(b2))
      Thread.sleep(15)
      assert(put("/v1/procedures/testProc/runs/000", "{}")._1 === 201)
      val b4 = get("/v1/procedures/testProc/latestrun")._2
      assert(started(b4) > started(b3))
      assert(b4.contains("\"id\": \"000\""), b4)
      // no runs -> 404; unknown proc -> 404
      assert(put("/v1/procedures/testProcNoLatest",
        """{"type": "transform", "params": {
          |"inputData": "SELECT *, coco AS sanchez FROM ds1359",
          |"outputDataset": {"id": "dsOutNL"},
          |"runOnCreation": false}}""".stripMargin)._1 === 201)
      assert(get("/v1/procedures/testProcNoLatest/latestrun")._1 === 404)
      assert(get("/v1/procedures/unexisting/latestrun")._1 === 404)
    }
  }

  // --- MLDB-894_runs_can_override_conf.py ----------------------------------------

  test("MLDB-894: a run body's params override the stored config") {
    val eng = new api.GraftEngine(spark)
    eng.recordRows("ds894", """[{"rowName":"r1","x":1}]""")
    withServer(eng) { (get, put) =>
      assert(put("/v1/procedures/proc894",
        """{"type": "transform", "params": {
          |"inputData": "SELECT x FROM ds894",
          |"outputDataset": "out894a",
          |"runOnCreation": false}}""".stripMargin)._1 === 201)
      assert(put("/v1/procedures/proc894/runs/1", "{}")._1 === 201)
      assert(eng.dataset("out894a").count() === 1)
      // run 2 overrides the output dataset
      assert(put("/v1/procedures/proc894/runs/2",
        """{"params": {"outputDataset": "out894b"}}""")._1 === 201)
      assert(eng.dataset("out894b").count() === 1)
    }
  }

  // --- MLDB-2112_500_on_broken_proc_test.py ----------------------------------

  test("MLDB-2112: a broken config 400s the PUT but still registers") {
    val eng = new api.GraftEngine(spark)
    withServer(eng) { (get, put) =>
      val (c1, _) = put("/v1/procedures/proc2112",
        """{"type": "transform", "params": {
          |"inputData": "SELECT x:BUG:1",
          |"outputDataset": "perruche"}}""".stripMargin)
      assert(c1 === 400)
      // the entity exists (GETtable) but has no runs
      assert(get("/v1/procedures/proc2112")._1 === 200)
      assert(get("/v1/procedures/proc2112/runs")._1 === 404)
    }
  }

  // --- MLDB-460-disallow-empty-name.py + MLDB-301 ------------------------------

  test("MLDB-460/301: empty names are rejected; empty commits are fine") {
    val eng = new api.GraftEngine(spark)
    // quoted "" (a two-quote-char name) is non-empty and legal
    eng.recordRows("ds460", """[{"rowName":"row_name","\"\"":4}]""")
    val e1 = intercept[IllegalArgumentException](
      eng.recordRows("ds460", """[{"rowName":"row_name","":4}]"""))
    assert(e1.getMessage.contains("empty column names are not allowed"))
    val e2 = intercept[IllegalArgumentException](
      eng.recordRows("ds460", """[{"rowName":"","column_name":5}]"""))
    assert(e2.getMessage.contains("empty row names are not allowed"))
    // MLDB-301: committing an empty mutable dataset works
    eng.createDatasetTyped("empty301", "sparse.mutable", _ => None)
    withServer(eng) { (_, _) => () }
  }

  // --- MLDB-1810-new-executor-rowpath.js -----------------------------------------

  test("MLDB-1810: an array-valued NAMED is a structured path") {
    val r = e.query(
      "select * named ['hello', 'world'] from row_dataset({x:1})")
    val rn = r.select("rowName").head().getString(0)
    assert(rn === "hello.world")
    // and it decomposes back into two elements
    val parts = e.query(
      "select rowpathelement(0) as a, rowpathelement(1) as b " +
        "from (select * named ['hello', 'world'] from row_dataset({x:1}))")
      .select("a", "b").head()
    assert(parts.getString(0) === "hello" && parts.getString(1) === "world")
  }

  // --- MLDB-312_cant_overwrite_dataset.py + MLDB-748 ----------------------------

  test("MLDB-312/748: POST-create of an existing dataset 400s; PUT overwrites") {
    val eng = new api.GraftEngine(spark)
    val srv = new api.RestServer(eng)
    val port = srv.start()
    try {
      def send(method: String, path: String, body: String): (Int, String) = {
        val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        val r = client.send((method match {
          case "POST" => b.POST(HttpRequest.BodyPublishers.ofString(body))
          case "PUT" => b.PUT(HttpRequest.BodyPublishers.ofString(body))
        }).build(), HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), r.body())
      }
      val cfg = """{"type": "sparse.mutable", "id": "dontCreateTwice"}"""
      assert(send("POST", "/v1/datasets", cfg)._1 === 201)
      val (c2, b2) = send("POST", "/v1/datasets", cfg)
      assert(c2 === 400 &&
        b2.contains("dataset entry 'dontCreateTwice' already exists"), b2)
      // PUT has overwrite semantics (MLDB-748)
      assert(send("PUT", "/v1/datasets/dontCreateTwice",
        """{"type": "sparse.mutable"}""")._1 === 201)
    } finally srv.stop()
  }

  // --- MLDB-285-kmeans-function.js -----------------------------------------------

  test("MLDB-285: kmeans.train -> centroids dataset -> kmeans function") {
    val eng = new api.GraftEngine(spark)
    val rng = new scala.util.Random(285)
    val rows = (0 until 200).map(i =>
      s"""{"rowName":"row0_$i","x":${-1 + rng.nextGaussian() * 0.2},""" +
      s""""y":${-1 + rng.nextGaussian() * 0.2}}""") ++ (0 until 200).map(i =>
      s"""{"rowName":"row1_$i","x":${1 + rng.nextGaussian() * 0.2},""" +
      s""""y":${1 + rng.nextGaussian() * 0.2}}""")
    eng.recordRows("gaussian", rows.mkString("[", ",", "]"))
    eng.runProcedure("kmeans.train", Map(
      "numClusters" -> "2",
      "trainingData" -> "select x, y from gaussian",
      "modelFileUrl" -> "file://tmp/MLDB-285.kms",
      "centroidsDataset" -> "kmeans_centroids").get _)
    // two centroids along the diagonal
    val ctr = eng.dataset("kmeans_centroids")
      .select("rowName", "`c.0`", "`c.1`").collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(ctr.size === 2)
    ctr.values.foreach { case (cx, cy) =>
      assert(math.abs(cx - cy) < 0.1, s"not on the diagonal: ($cx, $cy)") }
    // the kmeans FUNCTION entity assigns nearest centroids
    eng.createKmeansFunction("kmeans285", "file://tmp/MLDB-285.kms")
    def clusterOf(x: Double, y: Double): Long = eng.query(
      s"SELECT kmeans285({embedding: {x: $x, y: $y}})[cluster] AS c")
      .select("c").head().getLong(0)
    assert(clusterOf(1, 1) !== clusterOf(-1, -1))
    // whole-column application: each gaussian keeps one cluster
    def clustersOf(prefix: String): Set[Long] = eng.query(
      "select kmeans285({{*} as embedding})[cluster] as cluster " +
        s"from gaussian where regex_match(rowName(), '$prefix') limit 10")
      .select("cluster").collect().map(_.getLong(0)).toSet
    assert(clustersOf("row0_.*").size === 1)
    assert(clustersOf("row1_.*").size === 1)
    assert(clustersOf("row0_.*") !== clustersOf("row1_.*"))
    // centroids map to themselves: rowName equals the assigned cluster
    val self = eng.query("select rowName() as rn, " +
      "kmeans285({embedding: {x: \"c.0\", y: \"c.1\"}})[cluster] as cluster " +
      "from kmeans_centroids").select("rn", "cluster").collect()
    self.foreach(r => assert(r.getString(0) === r.getLong(1).toString))
  }

  test("kmeans function with a single centroid (k=1) is constant cluster 0") {
    val eng = new api.GraftEngine(spark)
    eng.recordRows("gauss1",
      """[{"rowName":"a","x":0.1,"y":0.2},{"rowName":"b","x":-0.1,"y":0.0},
        |{"rowName":"c","x":0.0,"y":-0.2}]""".stripMargin)
    eng.runProcedure("kmeans.train", Map(
      "numClusters" -> "1",
      "trainingData" -> "select x, y from gauss1",
      "modelFileUrl" -> "file://tmp/kmeans-k1.kms").get _)
    eng.createKmeansFunction("kmeansK1", "file://tmp/kmeans-k1.kms")
    val out = eng.query(
      "select kmeansK1({{*} as embedding})[cluster] as c from gauss1")
      .select("c").collect().map(_.getLong(0)).toSet
    assert(out === Set(0L))
  }

  // --- MLDB-390-sql-expression-function.js + MLDB-2163 -------------------------

  test("MLDB-390/2163: application envelope — plain atoms, paired rows") {
    val eng = new api.GraftEngine(spark)
    eng.recordRows("ds390",
      """[{"rowName":"ex1","x":0,"y":0},{"rowName":"ex2","x":1,"y":1},
        |{"rowName":"ex3","x":2,"y":2},{"rowName":"ex4","x":3,"y":3}]"""
        .stripMargin)
    val srv = new api.RestServer(eng)
    val port = srv.start()
    try {
      def get(path: String): (Int, String) = {
        val r = client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port$path")).GET.build(),
          HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), r.body())
      }
      def post(path: String, b: String): (Int, String) = {
        val r = client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port$path"))
          .POST(HttpRequest.BodyPublishers.ofString(b)).build(),
          HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), r.body())
      }
      eng.createSqlExpressionFunction("expr390", "x + y AS z")
      // scalar output: {"output": {"z": 3}} (MLDB-390 output.z = 3)
      val (c1, b1) = get("/v1/functions/expr390/application?input=" +
        enc("""{"x": 1, "y": 2}"""))
      assert(c1 === 200 && b1 === """{"output": {"z":3}}""", b1)
      // row_dataset($row) NAMED_COLUMNS output: the row renders as the
      // reference's [[col, [val, "NaD"]], ...] pair list (MLDB-2163)
      eng.createSqlQueryDialectFunction("query2163",
        "select * from row_dataset($row)", "NAMED_COLUMNS")
      val expected = """{"output": {"output":[["x",[1,"NaD"]],""" +
        """["y",[2,"NaD"]],["z",["three","NaD"]]]}}"""
      val (c2, b2) = get("/v1/functions/query2163/application?input=" +
        enc("""{"row": {"x": 1, "y": 2, "z": "three"}}"""))
      assert(c2 === 200 && b2 === expected, b2)
      // same through POST /v1/redirect/get (MLDB-2163 test_as_POST_body)
      val (c3, b3) = post("/v1/redirect/get",
        """{"target": "/v1/functions/query2163/application", """ +
          """"body": {"input": {"row": {"x": 1, "y": 2, "z": "three"}}}}""")
      assert(c3 === 200 && b3 === expected, b3)
    } finally srv.stop()
  }

  // --- MLDB-1843-select-disappearing-values.js ---------------------------------

  test("MLDB-1843: four sql.query dynamic-AS-* forms agree") {
    val eng = new api.GraftEngine(spark)
    val q1 = "SELECT tokenize('a,b,c') AS *"
    withServer(eng) { (get, put) =>
      assert(put("/v1/functions/f1",
        s"""{"type": "sql.query", "params": {"query": "$q1"}}""")._1 === 200)
      assert(put("/v1/functions/f2",
        s"""{"type": "sql.query", "params": {"query": "SELECT * FROM ($q1)"}}""")
        ._1 === 200)
      assert(put("/v1/functions/f3",
        """{"type": "sql.query", "params": {"query": "SELECT tok.* as * FROM (SELECT tokenize('a,b,c') AS tok)"}}""")
        ._1 === 200)
      assert(put("/v1/functions/f4",
        s"""{"type": "sql.query", "params": {"query": "SELECT COLUMN EXPR (AS columnName()) FROM ($q1)"}}""")
        ._1 === 200)
      val rs = Seq("f1", "f2", "f3", "f4").map { f =>
        get(s"/v1/query?q=${enc(s"SELECT $f() AS *")}&format=table")._2
      }
      assert(rs.forall(_ === rs.head), rs.mkString(" | "))
      assert(rs.head ===
        """[["_rowName","a","b","c"],["result",1,1,1]]""", rs.head)
    }
  }
}
