package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Forty-first batch: the five reference test families the r10
  * verdict named as skipped:
  *
  *   - testing/MLDB-1273-classifier-row_input.py (sql.expression row
  *     features through classifier.train/apply, six equivalent forms)
  *   - testing/MLDB-1562-join-with-in.js (_remove_table_name /
  *     _analyze_join debug builtins, exact print() strings)
  *   - testing/MLDB-136-value-dataset.js (JS plugin script:
  *     createDataset + openStream + recordRow + commit + query)
  *   - testing/MLDB-1213-blob-support.js (base64 blob round-trip;
  *     -blob-datatype.js is header-only in the reference — no asserts
  *     to replay)
  *   - testing/MLDB-1979-structure-embedding.py (tf_EncodePng over a
  *     structure embedding via COLUMN EXPR STRUCTURED; pixel
  *     round-trip parity — byte-stream differs from TF's libpng,
  *     documented divergence)
  */
class ReferenceParitySpec41 extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val e = new api.GraftEngine(spark)
  private def q(sql: String) = e.query(sql)

  // --- MLDB-1273-classifier-row_input.py -------------------------------------

  test("MLDB-1273: row-input features reach the classifier identically in six forms") {
    e.runProcedure("import.text", Map(
      "dataFileUrl" -> ReferenceFixture("dataset/iris.data"),
      "headers" -> "a,b,c,d,class",
      "outputDataset" -> "iris1273").get _)
    e.createSqlExpressionFunction("feats", "{a,b,c,d} as row")
    e.runProcedure("transform", Map(
      "inputData" -> ("select feats({*}) as *, " +
        "class='Iris-setosa' as label from iris1273"),
      "outputDataset" -> "train_set").get _)
    e.runProcedure("classifier.train", Map(
      "trainingData" ->
        "select {* EXCLUDING(label)} as features, label from train_set",
      "modelFileUrl" -> "file://tmp/MLDB-1273.cls",
      "configuration" ->
        """{"dt": {"type": "decision_tree", "max_depth": 8,
          |"update_alg": "prob"}}""".stripMargin,
      "algorithm" -> "dt",
      "functionName" -> "cls",
      "mode" -> "boolean").get _)
    def rows(sql: String): Seq[Seq[Any]] =
      q(sql).collect().toSeq.map(_.toSeq)
    val withFlattening = rows(
      """select cls({features: {
        |a as row.a, b as row.b, c as row.c, d as row.d
        |}}) as * from iris1273 limit 10""".stripMargin)
    assert(withFlattening.nonEmpty)
    val withoutFlattening = rows(
      "select cls({features: {feats({*}) as *}}) as * from iris1273 limit 10")
    assert(withFlattening === withoutFlattening)
    val withAliasing = rows(
      "select cls({features: {{a,b,c,d} as row}}) as * from iris1273 limit 10")
    assert(withFlattening === withAliasing, "results do not match")
    val withStarAliasing = rows(
      "select cls({features: {* as row.*}}) as * from iris1273 limit 10")
    assert(withFlattening === withStarAliasing, "results do not match")
    val withoutAliasing = rows(
      "select cls({features: feats({*})}) as * from iris1273 limit 10")
    assert(withFlattening === withoutAliasing, "results do not match")
    // MLDB-1314: function composition without naming the argument row
    e.createSqlExpressionFunction("feats2", "feats({*}) as features")
    val withoutName = rows(
      "select cls(feats2({*})) as * from iris1273 limit 10")
    assert(withFlattening === withoutName, "results do not match")
    // the model actually separates setosa: scoring a setosa row high
    val score = q("select cls({features: feats({*})})[score] as s " +
      "from iris1273 where class = 'Iris-setosa' limit 1")
      .head().getDouble(0)
    val scoreOther = q("select cls({features: feats({*})})[score] as s " +
      "from iris1273 where class = 'Iris-virginica' limit 1")
      .head().getDouble(0)
    assert(score > scoreOther)
  }

  // --- MLDB-1562-join-with-in.js ----------------------------------------------

  test("MLDB-1562: join analysis prints the reference's exact expression strings") {
    val expectedIn = "in(\"function(\"table1\",\"rowName\")," +
      "keys,select(columns(\"table2\",\"table2\",[])))"
    val r1 = q("SELECT _remove_table_name(" +
      "'table1.rowName() IN (KEYS OF { table2.* })', 'table1') " +
      "AS x NAMED 'res'").select("x").head().getString(0)
    assert(r1 === expectedIn)
    val r2 = q("SELECT _remove_table_name(" +
      "'table1.rowName() IN (KEYS OF { table2.* })', 'table2') " +
      "AS x NAMED 'res'").select("x").head().getString(0)
    assert(r2 === expectedIn)
    // join type and conditions: no equality → cross join with the IN
    // clause as the cross condition and constant-true side wheres
    val a = q("SELECT _analyze_join('table1', 'table2', " +
      "'table1.rowName() IN (KEYS OF ({table2.*}))', 'true') AS *").head()
    def f(name: String): String = name.split("\\.").foldLeft(
      (a: Any)) { case (row, seg) =>
      val r = row.asInstanceOf[org.apache.spark.sql.Row]
      r.get(r.schema.fieldNames.indexOf(seg))
    }.asInstanceOf[String]
    assert(f("style") === "CROSS_JOIN")
    assert(f("left.where") === "constant([1,\"NaD\"])")
    assert(f("right.where") === "constant([1,\"NaD\"])")
    assert(f("crossWhere") === expectedIn)
    // an equality ON clause is detected as EQUIJOIN
    val eq = q("SELECT _analyze_join('t1', 't2', " +
      "'t1.x = t2.y', 'true') AS *").head()
    assert(eq.getString(eq.schema.fieldNames.indexOf("style")) === "EQUIJOIN")
  }

  // --- MLDB-136-value-dataset.js ----------------------------------------------

  test("MLDB-136: JS script imports a reddit-shaped CSV via openStream/recordRow") {
    // reddit.csv.gz is not in the repo: generate the same shape (user,
    // sub1, sub2, …) at 60 rows — the script is the reference's,
    // with the path and numLines adapted
    val tmp = java.nio.file.Files.createTempFile("reddit", ".csv")
    val subs = Seq("funny", "pics", "gaming", "askreddit", "aww",
      "music", "movies", "science")
    val rnd = new scala.util.Random(7)
    val lines = (0 until 60).map { i =>
      val mine = rnd.shuffle(subs).take(2 + rnd.nextInt(4))
      (s"user$i" +: mine).mkString(",")
    }
    java.nio.file.Files.write(tmp,
      scala.jdk.CollectionConverters.SeqHasAsJava(lines).asJava)
    val script =
      s"""
        |function createDataset()
        |{
        |    var start = new Date(0);
        |    var dataset_config = {
        |        type:    'sparse.mutable',
        |        id:      'reddit_dataset'
        |    };
        |    var dataset = mldb.createDataset(dataset_config)
        |    plugin.log("Reddit data loader created dataset")
        |    var dataset_address = 'file://${tmp.toString}';
        |    var now = new Date(0);
        |    var stream = mldb.openStream(dataset_address);
        |    var numLines = 20000;
        |    var lineNum = 0;
        |    while (!stream.eof() && lineNum < numLines) {
        |        ++lineNum;
        |        var line = stream.readLine();
        |        var fields = line.split(',');
        |        var tuples = [];
        |        for (var i = 1;  i < fields.length;  ++i) {
        |            tuples.push([fields[i], 1, now]);
        |        }
        |        dataset.recordRow(fields[0], tuples);
        |    }
        |    plugin.log("Committing dataset")
        |    dataset.commit()
        |    return dataset;
        |}
        |var dataset = createDataset();
        |plugin.log(mldb.get("/v1/query",
        |    {q:'select * from reddit_dataset limit 10'}));
        |"success"
        |""".stripMargin
    val res = e.runProcedure("script.run", Map(
      "language" -> "javascript", "source" -> script).get _)
    assert(res.contains("success"), res)
    val df = e.dataset("reddit_dataset")
    assert(df.count() === 60)
    // the dynamic subreddit columns landed as sparse cells
    assert(subs.forall(s => df.columns.contains(s)),
      df.columns.mkString(","))
    val funnyUsers = q(
      "select count(*) as n from reddit_dataset where funny = 1")
      .select("n").head().getLong(0)
    assert(funnyUsers > 0)
    java.nio.file.Files.deleteIfExists(tmp)
  }

  // --- MLDB-1213-blob-support.js ----------------------------------------------

  test("MLDB-1213: base64 blob support") {
    assert(q("SELECT base64_encode('hello123') AS x").head().getString(0)
      === "aGVsbG8xMjM=")
    assert(q("SELECT CAST (base64_decode(base64_encode('hello')) AS string) " +
      "AS x").head().getString(0) === "hello")
  }

  // --- MLDB-1979-structure-embedding.py ----------------------------------------

  test("MLDB-1979: tf_EncodePng over a structure embedding round-trips pixels") {
    val png = q("SELECT tf_EncodePng({image: [[[1,2,3],[2,3,4]]," +
      "[[3,4,5],[4,5,6]]]}) as b").head() match {
      case r if !r.isNullAt(0) => r.getAs[Array[Byte]](0)
      case _ => fail("null png")
    }
    // PNG signature + IHDR 2×2, bit depth 8, color type 2 (truecolor)
    // — the same header bytes the reference's expected blob pins
    assert(png.take(8).map(_ & 0xFF).toSeq ===
      Seq(137, 80, 78, 71, 13, 10, 26, 10))
    val ihdr = png.slice(8, 8 + 25)
    assert(new String(ihdr.slice(4, 8), "ASCII") === "IHDR")
    def be32(b: Array[Byte], i: Int): Int =
      ((b(i) & 0xFF) << 24) | ((b(i + 1) & 0xFF) << 16) |
        ((b(i + 2) & 0xFF) << 8) | (b(i + 3) & 0xFF)
    assert(be32(ihdr, 8) === 2)  // width
    assert(be32(ihdr, 12) === 2) // height
    assert((ihdr(16) & 0xFF) === 8) // bit depth
    assert((ihdr(17) & 0xFF) === 2) // color type: truecolor
    // decoded pixels == the input embedding (TF byte-stream parity is
    // out of scope — different zlib heuristics — but the IMAGE is the
    // reference's)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(png))
    def px(x: Int, y: Int): Seq[Int] = {
      val p = img.getRGB(x, y)
      Seq((p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF)
    }
    assert(px(0, 0) === Seq(1, 2, 3))
    assert(px(1, 0) === Seq(2, 3, 4))
    assert(px(0, 1) === Seq(3, 4, 5))
    assert(px(1, 1) === Seq(4, 5, 6))
  }
}
