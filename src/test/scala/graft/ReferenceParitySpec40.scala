package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Fortieth batch: the five procedure types that were engine-complete
  * but not reachable through `/v1/procedures` (r10 verdict "What's
  * missing #1") — `ranking`, `summary.statistics`, `serial`,
  * `permuter.run`, `import.word2vec` — each replayed against the
  * reference's OWN test for that procedure:
  *
  *   - testing/ranking_test.py
  *   - testing/summary_stats_proc_test.py
  *   - testing/serial_procedure_test.py (+ MLDB-621 self-containment)
  *   - testing/MLDB-991_permuter_procedure.py
  *   - testing/MLDB-1019-word2vec.js
  */
class ReferenceParitySpec40 extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

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

  // --- testing/ranking_test.py ----------------------------------------------

  test("ranking_test.py: ranking procedure ranks by ORDER BY over REST") {
    val e = new api.GraftEngine(spark)
    // 123 rows row{i}: score=i, index=i*2, prob=i*3, every cell at
    // ts=1s (the reference gives score ts 1, index 2, prob 3; wide
    // mode keeps one row ts — pinned to the score ts so the
    // latest_timestamp assertion reads the reference's value)
    val rows = (0 until 123).map(i => Row(s"row$i", i.toLong, i * 2L,
      i * 3L, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1))))
    val schema = StructType(Seq(
      StructField("rowName", StringType), StructField("score", LongType),
      StructField("index", LongType), StructField("prob", LongType),
      StructField("ts", TimestampType)))
    e.createDataset("ds", spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, schema))
    withServer(e) { (get, _, post) =>
      val (c, b) = post("/v1/procedures",
        """{"type": "ranking", "params": {
          |"inputData": "SELECT * FROM ds ORDER BY score",
          |"outputDataset": "out",
          |"rankingType": "index",
          |"runOnCreation": true}}""".stripMargin)
      assert(c === 201, b)
      // MLDB-1267: the rank cells carry the order-by column's ts
      val (c2, b2) = get("/v1/query?q=" +
        enc("SELECT latest_timestamp({*}) FROM out") + "&format=table")
      assert(c2 === 200, b2)
      assert(b2.contains("1970-01-01T00:00:01Z"), b2)
      // merged ds+out, ordered by rank: rank i ↔ score i, 0-based
      val merged = e.query(
        "select d.score as score, o.rank as rank from ds as d " +
          "join out as o on d.rowName = o.rowName order by rank")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(merged.length === 123)
      assert(merged(0) === ((0L, 0L)))
      assert(merged(1) === ((1L, 1L)))
      assert(merged(122) === ((122L, 122L)))
      // only 'index' is an accepted rankingType (reference enum)
      val (c3, b3) = post("/v1/procedures",
        """{"type": "ranking", "params": {
          |"inputData": "SELECT * FROM ds ORDER BY score",
          |"outputDataset": "out2", "rankingType": "percentile",
          |"runOnCreation": true}}""".stripMargin)
      assert(c3 === 400, b3)
    }
  }

  // --- testing/summary_stats_proc_test.py ------------------------------------

  test("summary_stats_proc_test.py test_it: per-column stats rows") {
    val e = new api.GraftEngine(spark)
    e.recordRows("ds",
      """[{"rowName":"row1","colA":1,"colB":2,"colTxt":"pataté"},
        |{"rowName":"row2","colA":10,"colC":20,"colTxt":"banane"},
        |{"rowName":"row3","colA":1}]""".stripMargin)
    withServer(e) { (_, _, post) =>
      val (c, b) = post("/v1/procedures",
        """{"type": "summary.statistics", "params": {
          |"runOnCreation": true,
          |"inputData": "SELECT * FROM ds",
          |"outputDataset": {"id": "output", "type": "sparse.mutable"}}}"""
          .stripMargin)
      assert(c === 201, b)
    }
    val out = e.dataset("output").collect()
      .map(r => r.getString(0) -> r).toMap
    def stat(row: Row, c: String): Any = {
      val i = row.schema.fieldNames.indexOf(c)
      assert(i >= 0, s"no column $c in ${row.schema.fieldNames.mkString(",")}")
      row.get(i)
    }
    val colA = out("colA")
    assert(stat(colA, "value.data_type") === "number")
    assert(stat(colA, "value.num_null") === 0L)
    assert(stat(colA, "value.num_unique") === 2L)
    assert(stat(colA, "value.max") === 10.0)
    assert(stat(colA, "value.avg") === 4.0)
    assert(stat(colA, "value.min") === 1.0)
    assert(stat(colA, "value.1st_quartile") === 1.0)
    assert(stat(colA, "value.median") === 1.0)
    assert(stat(colA, "value.3rd_quartile") === 10.0)
    assert(stat(colA, "value.most_frequent_items.1") === 2L)
    assert(stat(colA, "value.most_frequent_items.10") === 1L)
    assert(math.abs(stat(colA, "value.stddev").asInstanceOf[Double] -
      5.196152422706632) < 1e-12)
    val colB = out("colB")
    assert(stat(colB, "value.data_type") === "number")
    assert(stat(colB, "value.num_null") === 2L)
    assert(stat(colB, "value.num_unique") === 1L)
    assert(stat(colB, "value.max") === 2.0)
    assert(stat(colB, "value.median") === 2.0)
    assert(stat(colB, "value.most_frequent_items.2") === 1L)
    assert(stat(colB, "value.stddev").asInstanceOf[Double].isNaN)
    val colC = out("colC")
    assert(stat(colC, "value.max") === 20.0)
    assert(stat(colC, "value.most_frequent_items.20") === 1L)
    val colTxt = out("colTxt")
    assert(stat(colTxt, "value.data_type") === "categorical")
    assert(stat(colTxt, "value.num_null") === 1L)
    assert(stat(colTxt, "value.num_unique") === 2L)
    assert(stat(colTxt, "value.most_frequent_items.banane") === 1L)
    assert(stat(colTxt, "value.most_frequent_items.pataté") === 1L)
    // numeric stats stay null on the categorical row
    assert(stat(colTxt, "value.max") === null)
  }

  test("summary_stats_proc_test.py: dotted names, unknown column, invalid selects, most-frequent top-10") {
    val e = new api.GraftEngine(spark)
    e.recordRows("dotted_col_ds", """[{"rowName":"row1","col.a":1}]""")
    e.runProcedure("summary.statistics", Map(
      "inputData" -> "SELECT * FROM dotted_col_ds",
      "outputDataset" -> "output_dotted").get _)
    val dotted = e.dataset("output_dotted").collect()
    assert(dotted.length === 1)
    // dotted column names render path-quoted, like the reference
    assert(dotted(0).getString(0) === "\"col.a\"")
    // unknown column → all-null → categorical with zero uniques
    e.recordRows("ds2", """[{"rowName":"r1","colA":1},
      |{"rowName":"r2","colA":2},{"rowName":"r3","colA":3}]""".stripMargin)
    e.runProcedure("summary.statistics", Map(
      "inputData" -> "SELECT unexisting FROM ds2",
      "outputDataset" -> "output_unknown").get _)
    val unk = e.dataset("output_unknown").head()
    assert(unk.getString(0) === "unexisting")
    assert(unk.getAs[String]("value.data_type") === "categorical")
    assert(unk.getAs[Long]("value.num_null") === 3L)
    assert(unk.getAs[Long]("value.num_unique") === 0L)
    // invalid select expressions 400 with the reference's message
    Seq("SELECT colA + 1 FROM ds2", "SELECT {a:1, b:2} FROM ds2",
      "SELECT max(colA) FROM ds2").foreach { sel =>
      val ex = intercept[IllegalArgumentException](
        e.runProcedure("summary.statistics", Map(
          "inputData" -> sel, "outputDataset" -> "err").get _))
      assert(ex.getMessage.contains(
        "is not a supported SELECT value expression for summary.statistics"),
        s"$sel → ${ex.getMessage}")
    }
    // test_most_frequent: 13 values, counts 5,4,3,2,1×9 → top 10 by
    // (count, value) keeps a,b,c,d and the LARGEST six singles h..m
    val vals = Seq("a" -> 5, "b" -> 4, "c" -> 3, "d" -> 2) ++
      "efghijklm".map(_.toString -> 1)
    val rows = vals.flatMap { case (v, n) => Seq.fill(n)(v) }
      .zipWithIndex.map { case (v, i) => s"""{"rowName":"$i","col":"$v"}""" }
    e.recordRows("most_freq_source", rows.mkString("[", ",", "]"))
    e.runProcedure("summary.statistics", Map(
      "inputData" -> "SELECT col FROM most_freq_source",
      "outputDataset" -> "most_freq_output").get _)
    val mf = e.dataset("most_freq_output").head()
    val freqCols = mf.schema.fieldNames
      .filter(_.startsWith("value.most_frequent_items."))
      .map(_.stripPrefix("value.most_frequent_items.")).sorted.toSeq
    assert(freqCols === Seq("a", "b", "c", "d", "h", "i", "j", "k", "l", "m"))
    assert(mf.getAs[Long]("value.most_frequent_items.a") === 5L)
    assert(mf.getAs[Long]("value.num_unique") === 13L)
    assert(mf.getAs[Long]("value.num_null") === 0L)
  }

  // --- testing/serial_procedure_test.py + MLDB-621 ---------------------------

  test("serial_procedure_test.py: steps run in order; MLDB-621 self-containment is a 400") {
    val e = new api.GraftEngine(spark)
    e.recordRows("src", """[{"rowName":"a","x":1},{"rowName":"b","x":2}]""")
    withServer(e) { (_, put, post) =>
      // MLDB-621: a serial step whose id names the procedure being
      // created must be rejected at PUT (no deadlock, no run)
      val (c1, b1) = put("/v1/procedures/q",
        """{"type": "serial", "params": {"steps": [{"id": "q", "type": "null"}]}}""")
      assert(c1 === 400, b1)
      assert(b1.contains("contains itself"), b1)
      // a two-step serial: transform then transform, both datasets land
      val (c2, b2) = post("/v1/procedures",
        """{"type": "serial", "params": {"runOnCreation": true,
          |"steps": [
          |  {"type": "transform", "params": {
          |    "inputData": "select x * 2 as y from src",
          |    "outputDataset": "step1_out"}},
          |  {"type": "transform", "params": {
          |    "inputData": "select y + 1 as z from step1_out",
          |    "outputDataset": "step2_out"}}
          |]}}""".stripMargin)
      assert(c2 === 201, b2)
      assert(b2.contains("\"steps\""), b2)
    }
    assert(e.dataset("step1_out").select("y").collect()
      .map(_.getLong(0)).sorted === Array(2L, 4L))
    assert(e.dataset("step2_out").select("z").collect()
      .map(_.getLong(0)).sorted === Array(3L, 5L))
    // a null step runs fine inside serial (the reference's smoke step)
    val rez = e.runProcedure("serial", api.ProcJson.lookup(api.ProcJson.parse(
      """{"type":"serial","params":{"steps":[
        |{"type":"null"},{"type":"null"}]}}""".stripMargin)), None)
    assert("\"status\": \"done\"".r.findAllIn(rez).size === 2, rez)
  }

  // --- testing/MLDB-991_permuter_procedure.py --------------------------------

  test("MLDB-991: permuter.run sweeps the grid over classifier.experiment") {
    val e = new api.GraftEngine(spark)
    // toy separable dataset (reference: 5000 gaussian rows; scaled to
    // 400 — the assertions are structural + auc > 0.9)
    val rnd = new scala.util.Random(42)
    val rows = (0 until 400).map { i =>
      val label = rnd.nextDouble() < 0.3
      val f1 = (if (label) 5.0 else 15.0) + rnd.nextGaussian() * 3.0
      val f2 = (if (label) -5.0 else 10.0) + rnd.nextGaussian() * 3.0
      s"""{"rowName":"u$i","feat1":$f1,"feat2":$f2,"label":$label}"""
    }
    e.recordRows("toy", rows.mkString("[", ",", "]"))
    withServer(e) { (_, put, post) =>
      val conf =
        """{"type": "permuter.run", "params": {
          |"procedure": {"type": "classifier.experiment", "params": {
          |  "experimentName": "my_test-exp_$permutation",
          |  "inputData": "select {* EXCLUDING(label)} as features, label from toy",
          |  "testingDataOverride": "select {* EXCLUDING(label)} as features, label from toy",
          |  "datasetFolds": [
          |    {"trainingWhere": "rowHash() % 5 != 3", "testingWhere": "rowHash() % 5 = 3"},
          |    {"trainingWhere": "rowHash() % 5 != 2", "testingWhere": "rowHash() % 5 = 2"}],
          |  "modelFileUrlPattern": "file://tmp/MLDB-991-bouya-$runid.cls",
          |  "algorithm": "glz", "mode": "boolean",
          |  "outputAccuracyDataset": false}},
          |"permutations": {
          |  "equalizationFactor": [0, 1, 0.5, 0.9],
          |  "algorithm": ["glz", "bagging"]}}}""".stripMargin
      val (c, _) = put("/v1/procedures/rocket_science", conf)
      assert(c === 201)
      val (c2, b2) = post("/v1/procedures/rocket_science/runs", "{}")
      assert(c2 === 201, b2.take(400))
      // all 2 × 4 permutations ran, each with 2 folds and auc > 0.9
      assert("\"configuration\"".r.findAllIn(b2).size === 8, b2.take(400))
      assert("\"fold\": 0".r.findAllIn(b2).size === 8)
      assert("\"fold\": 1".r.findAllIn(b2).size === 8)
      val means = "\"auc\": \\{\"max\": [0-9.eE+-]+, \"mean\": ([0-9.eE+-]+)"
        .r.findAllMatchIn(b2).map(_.group(1).toDouble).toSeq
      assert(means.size === 8, b2.take(400))
      means.foreach(m => assert(m > 0.9, s"aggregated auc mean $m"))
      // $permutation expanded into the experiment names
      assert(b2.contains("my_test-exp_permutation_1"), b2.take(600))
      assert(b2.contains("my_test-exp_permutation_8"))
    }
  }

  // --- testing/MLDB-1019-word2vec.js ------------------------------------------

  test("MLDB-1019: import.word2vec → embedding.neighbors over REST") {
    import graft.sources.Word2Vec
    val e = new api.GraftEngine(spark)
    // a small word2vec binary standing in for GoogleNews: country/city
    // words placed so France's neighborhood is the reference's list
    val words = Seq(
      "France" -> Array(0.0f, 0.0f), "Paris" -> Array(0.1f, 0.0f),
      "Belgium" -> Array(0.2f, 0.1f), "French" -> Array(0.0f, 0.2f),
      "Germany" -> Array(0.3f, 0.2f), "Italy" -> Array(0.2f, 0.3f),
      "Spain" -> Array(0.3f, 0.35f), "Europe" -> Array(0.1f, 0.3f),
      "Morocco" -> Array(0.4f, 0.3f), "Switzerland" -> Array(0.35f, 0.4f),
      "zebra" -> Array(9.0f, 9.0f), "null" -> Array(5.0f, 5.0f),
      "0" -> Array(5.1f, 5.0f))
    val df = spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(
        words.map { case (w, v) => Row(w, v.toSeq) }).asJava,
      StructType(Seq(StructField("word", StringType),
        StructField("embedding", ArrayType(FloatType, false)))))
    val tmp = java.nio.file.Files.createTempFile("w2v", ".bin")
    Word2Vec.write(df, tmp.toString)
    withServer(e) { (get, put, _) =>
      val (c, b) = put("/v1/procedures/w2v",
        s"""{"type": "import.word2vec", "params": {
          |"dataFileUrl": "file://${tmp.toString}",
          |"outputDataset": {"type": "embedding", "id": "w2v"},
          |"limit": 100000}}""".stripMargin)
      assert(c === 201, b)
      val (cr, br) = put("/v1/procedures/w2v/runs/1", "{}")
      assert(cr === 201, br)
      val (cf, bf) = put("/v1/functions/nn",
        """{"type": "embedding.neighbors", "params": {
          |"dataset": {"id": "w2v", "type": "embedding"}}}""".stripMargin)
      assert(cf === 200 || cf === 201, bf)
      val (cq, bq) = get("/v1/query?q=" + enc(
        "select nn({numNeighbors: 10, coords: 'France'})[distances] as *") +
        "&format=table")
      assert(cq === 200, bq)
      // the ten nearest words = the reference's expected header set
      val expected = Seq("Belgium", "Europe", "France", "French",
        "Germany", "Italy", "Morocco", "Paris", "Spain", "Switzerland")
      expected.foreach(w => assert(bq.contains("\"" + w + "\""), bq))
      assert(!bq.contains("zebra"), bq)
      // MLDB-1020: both 'null' and '0' records survive as rowNames
      val both = e.query(
        "select rowName() as rn from w2v where rowName() = '0' " +
          "or rowName() = 'null'").collect().map(_.getString(0)).sorted
      assert(both === Array("0", "null"))
      // MLDB-2144: the `named` parameter renames rows
      val (c2, b2) = put("/v1/procedures/w2v_2",
        s"""{"type": "import.word2vec", "params": {
          |"dataFileUrl": "file://${tmp.toString}",
          |"named": "'banane_' + word",
          |"outputDataset": {"type": "embedding", "id": "w2v_2"},
          |"limit": 10, "runOnCreation": true}}""".stripMargin)
      assert(c2 === 201, b2)
      val names = e.query("select rowName() as rn from w2v_2")
        .collect().map(_.getString(0))
      assert(names.length === 10)
      assert(names.forall(_.startsWith("banane_")), names.mkString(","))
      assert(names.contains("banane_France"))
    }
    java.nio.file.Files.deleteIfExists(tmp)
  }
}
