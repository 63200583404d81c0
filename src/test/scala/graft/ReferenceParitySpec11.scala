package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Eleventh batch of replays of the reference's OWN regression tests:
  * procedure config validation (FROM-less inputs, no-column matches),
  * the run-on-creation response contract, the atom format's
  * diagnostics, joins on rowHash()/nested prefixes, tokenize edge
  * columns, and dataset-creation REST shapes. Each test cites the
  * `/root/reference/testing/` file it reproduces and pins that file's
  * expected values (divergences called out inline). */
class ReferenceParitySpec11 extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val e = new api.GraftEngine(spark)
  private def q(sql: String) = e.query(sql)
  private val client = HttpClient.newHttpClient()

  private def withServer[T](engine: api.GraftEngine)(
      body: ((String => (Int, String)), ((String, String) => (Int, String)),
        ((String, String) => (Int, String))) => T): T = {
    val srv = new api.RestServer(engine)
    val port = srv.start()
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
    def post(path: String, b: String): (Int, String) = {
      val r = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofString(b)).build(),
        HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body())
    }
    try body(get, put, post) finally srv.stop()
  }

  private def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")

  // --- MLDB-1258_nofrom_segfault.py ----------------------------------------

  test("MLDB-1258: FROM-less procedure inputs are 400 at PUT (tests 1-10)") {
    val engine = new api.GraftEngine(spark)
    engine.recordRows("ds1258", """[{"rowName":"a","label":1}]""")
    withServer(engine) { (_, put, post) =>
      def config(tpe: String, key: String): String =
        s"""{"type": "$tpe", "params": {
           |"$key": "select {* EXCLUDING(quality)} as features, 1 as label",
           |"runOnCreation": true}}""".stripMargin
      def tryPut(tpe: String, key: String): (Int, String) =
        put("/v1/procedures/trainer1258", config(tpe, key))
      for ((tpe, key) <- Seq(
          "classifier.train" -> "trainingData",
          "kmeans.train" -> "trainingData",
          "svm.train" -> "trainingData",
          "tsne.train" -> "trainingData",
          "bucketize" -> "inputData",
          "export.csv" -> "exportData",
          "ranking" -> "inputData",
          "statsTable.train" -> "trainingData")) {
        val (c, b) = tryPut(tpe, key)
        assert(c === 400, s"$tpe: $b")
        assert(b.contains("must contain a FROM clause"), s"$tpe: $b")
        // an anonymous POST validates the same config the same way
        val (pc, pb) = post("/v1/procedures", config(tpe, key))
        assert(pc === 400, s"POST $tpe: $pb")
        assert(pb.contains("must contain a FROM clause"), s"POST $tpe: $pb")
      }
    }
  }

  // --- MLDB-119-select_no_columns.js ---------------------------------------

  test("MLDB-119: kmeans over a prefix matching no columns → 'matched no columns'") {
    val engine = new api.GraftEngine(spark)
    engine.recordRows("ds119",
      """[{"rowName":"row1","col1":1,"col2":2}]""")
    withServer(engine) { (_, put, post) =>
      assert(put("/v1/procedures/kmeans119",
        """{"type": "kmeans.train", "params": {
          |"trainingData": "select bonus* from ds119"}}""".stripMargin)._1
        === 201)
      val (c, b) = post("/v1/procedures/kmeans119/runs", "{}")
      assert(c === 400 && b.contains("matched no columns"), b)
    }
  }

  // --- MLDB-2107-scalar-format.py ------------------------------------------

  test("MLDB-2107: atom format returns the scalar; errors match the reference") {
    val engine = new api.GraftEngine(spark)
    engine.recordRows("ds2107",
      """[{"rowName":"row0","x":"A"},{"rowName":"row1","x":"B"}]""")
    withServer(engine) { (get, _, _) =>
      def atom(sql: String): (Int, String) =
        get(s"/v1/query?q=${enc(sql)}&format=atom")
      assert(atom("select x from (select 17 as x)")._2 === "17")
      assert(atom("select x from (select 2.3 as x)")._2 === "2.3")
      assert(atom("select x from (select 'blah' as x)")._2 === "\"blah\"")
      assert(atom("select x from (select false as x)")._2 === "false")
      val (c1, b1) = atom("select x,y from (select false as x, 1 as y)")
      assert(c1 === 400 &&
        b1.contains("Query with atom format returned multiple columns"), b1)
      val (c2, b2) = atom("select x from ds2107")
      assert(c2 === 400 &&
        b2.contains("Query with atom format returning multiple rows"), b2)
      val (c3, b3) = atom("select x from ds2107 where x = 'patate'")
      assert(c3 === 400 &&
        b3.contains("Query with atom format returned no rows."), b3)
      // limit 1 succeeds (our insertion order keeps row0 first; the
      // reference's hash order yields 'B' — value divergence
      // documented, the contract is that exactly one row wins)
      assert(atom("select x from ds2107 limit 1")._1 === 200)
    }
  }

  // --- MLDB-951-run-on-creation.py -----------------------------------------

  test("MLDB-951: runOnCreation=false → no status; true → status.firstRun") {
    val engine = new api.GraftEngine(spark)
    engine.recordRows("ds951",
      (0 until 9).map(i => s"""{"rowName":"$i","x":$i}""")
        .mkString("[", ",", "]"))
    withServer(engine) { (get, put, post) =>
      val (c1, b1) = put("/v1/procedures/transform951",
        """{"type": "transform", "params": {
          |"inputData": "select x + 1 as x from ds951",
          |"outputDataset": {"id": "ds951out", "type": "sparse.mutable"},
          |"runOnCreation": false}}""".stripMargin)
      assert(c1 === 201 && !b1.contains("\"status\""), b1)
      // named run executes the stored config
      assert(post("/v1/procedures/transform951/runs", "{}")._1 === 201)
      assert(engine.query("select x from ds951out").count() === 9)
      // with a first run: status.firstRun appears
      val (c2, b2) = put("/v1/procedures/transform951b",
        """{"type": "transform", "params": {
          |"inputData": {"select": "x + 1 as x", "from": {"id": "ds951"}},
          |"outputDataset": {"id": "ds951out2", "type": "sparse.mutable"},
          |"runOnCreation": true}}""".stripMargin)
      assert(c2 === 201 && b2.contains("\"firstRun\""), b2)
      val xs = engine.query("select x from ds951out2").select("x")
        .collect().map(_.get(0).toString.toDouble.toInt).sorted
      assert(xs.toSeq === (1 to 9))
    }
  }

  // --- MLDBFB-636-join-rowhash.py ------------------------------------------

  test("MLDBFB-636: join on x.rowHash() = y.rowHash() self-matches rows") {
    val engine = new api.GraftEngine(spark)
    engine.recordRows("ds636",
      """[{"rowName":"row1","x":"1"},{"rowName":"row3","x":"3"},
         |{"rowName":"row2","x":"2"}]""".stripMargin)
    // (hash VALUES diverge from the reference's highwayhash —
    // documented; the join semantics and row naming are the pin)
    val rows = engine.query(
      "SELECT x.rowName() AS rn FROM ds636 as x JOIN ds636 as y " +
        "ON x.rowHash() = y.rowHash() ORDER BY x.rowName()")
      .collect().map(_.getString(0)).toSeq
    assert(rows === Seq("row1", "row2", "row3"))
  }

  // --- MLDBFB-634-join-nested-column.py ------------------------------------

  test("MLDBFB-634: qualified nested prefix star survives a self-join") {
    val engine = new api.GraftEngine(spark)
    engine.recordRows("ds634",
      """[{"rowName":"row1","a.b":1,"a.c":2},
         |{"rowName":"row2","a.b":3,"a.c":4}]""".stripMargin)
    val df = engine.query(
      "SELECT x.a.* FROM ds634 AS x JOIN ds634 AS y " +
        "ON x.rowName() = y.rowName() ORDER BY x.rowName()")
    val cols = df.columns.filterNot(_.equalsIgnoreCase("rowName")).sorted
    assert(cols.toSeq === Seq("x.a.b", "x.a.c"), cols.mkString(","))
    val vals = df.select(df.col("`x.a.b`"), df.col("`x.a.c`"))
      .collect().map(r => (r.get(0).toString.toDouble.toInt,
        r.get(1).toString.toDouble.toInt)).toSeq
    assert(vals === Seq((1, 2), (3, 4)))
  }

  // --- MLDB-1721_pathelements_quoted.py ------------------------------------

  test("MLDB-1721: tokenize splitChars with quoted quote keeps odd columns") {
    val engine = new api.GraftEngine(spark)
    engine.recordRows("sample1721",
      """[{"rowName":"a","text":"hola \nreturn"},
         |{"rowName":"b","text":"hola \\return"}]""".stripMargin)
    engine.runProcedure("transform", Map(
      "inputData" -> ("SELECT tokenize(lower(text), " +
        "{splitChars: ' -''\"?!;:/[]*,.'}) as * FROM sample1721"),
      "outputDataset" -> "bag1721").get _)
    val df = engine.query("select * from bag1721 order by rowName() DESC")
    val cols = df.columns.filterNot(_.equalsIgnoreCase("rowName")).toSet
    // the reference's pinned columns: backslash-return, hola, and the
    // newline-containing token
    assert(cols === Set("\\return", "hola", "\nreturn"), cols.toString)
    val rows = df.collect()
    assert(rows.length === 2)
  }

  // --- MLDB-461_horizontal_ops_test.py (mldbfb_558 subtests) ---------------

  test("MLDBFB-558: horizontal_min/max over strings and timestamps") {
    assert(q("SELECT horizontal_min({'a', 'b'}) AS v").head().get(0) === "a")
    assert(q("SELECT horizontal_max({'a', 'b'}) AS v").head().get(0) === "b")
    val lo = q("SELECT horizontal_min({TIMESTAMP '2015-01-01T00:00:00Z', " +
      "TIMESTAMP '2016-01-01T00:00:00Z'}) AS v").head().get(0).toString
    assert(lo.startsWith("2015-01-01"), lo)
    val hi = q("SELECT horizontal_max({TIMESTAMP '2015-01-01T00:00:00Z', " +
      "TIMESTAMP '2016-01-01T00:00:00Z'}) AS v").head().get(0).toString
    assert(hi.startsWith("2016-01-01"), hi)
  }

  // --- MLDB-1364_dataset_cant_be_overwritten.py ----------------------------

  test("MLDB-1364: failed merged create doesn't block later creation") {
    val engine = new api.GraftEngine(spark)
    engine.recordRows("sample1364",
      """[{"rowName":"a","x":1},{"rowName":"b","x":2,"y":25},
         |{"rowName":"c","y":3}]""".stripMargin)
    withServer(engine) { (_, put, post) =>
      // referencing a nonexistent dataset fails the PUT…
      val (c1, _) = put("/v1/datasets/training_data_1364",
        """{"type": "merged",
          |"datasets": "sample1364,not_yet_created_1364"}""".stripMargin)
      assert(c1 >= 400, c1.toString)
      // …but the name 'not_yet_created' is NOT poisoned: a procedure
      // can still create it (the reference bug was a stuck
      // half-constructed entry)
      assert(put("/v1/procedures/train_svd_1364",
        """{"type": "svd.train", "params": {
          |"trainingData": "select * from sample1364",
          |"rowOutputDataset": "not_yet_created_1364",
          |"numSingularValues": 1, "runOnCreation": true}}""".stripMargin)._1
        === 201)
      assert(engine.query("select * from not_yet_created_1364").count() === 3)
    }
  }

  // --- MLDB-983-create-dataset-ids.js --------------------------------------

  test("MLDB-983: POST /v1/datasets without id auto-generates an auto_ id") {
    val engine = new api.GraftEngine(spark)
    withServer(engine) { (_, _, post) =>
      val (c, b) = post("/v1/datasets", """{"type": "sparse.mutable"}""")
      assert(c === 201, b)
      val id = """"id"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(b)
        .map(_.group(1)).getOrElse(fail(s"no id in $b"))
      assert(id.startsWith("auto_"), id)
      assert(engine.listDatasets.contains(id))
    }
  }

  // --- MLDB-297-can-use-datetime.py ----------------------------------------

  test("MLDB-297: timestamps recorded as ISO strings are queryable") {
    val engine = new api.GraftEngine(spark)
    engine.recordRows("ds297",
      """[{"rowName":"r1","when":"2015-01-01T12:00:00Z","x":1}]""")
    val n = engine.query(
      "select x from ds297 where CAST (\"when\" AS timestamp) > " +
        "TIMESTAMP '2014-01-01T00:00:00Z'").count()
    assert(n === 1)
  }
}
