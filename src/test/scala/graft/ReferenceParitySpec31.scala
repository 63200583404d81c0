package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Thirty-first batch of replays of the reference's OWN regression
  * tests — previously-untouched corners:
  *   - MLDB-300_function_scope.py (python script nested defs),
  *   - MLDB-723-jseval-exceptions.js (compile / throw / arity errors),
  *   - MLDB-815-sparse-mutable-record-strings.js (mixed-type rows
  *     round-trip, ORDER BY rowName() DESC),
  *   - MLDB-620-nonexistant-dataset-messages.js (classifier.test
  *     empty-config message),
  *   - MLDB-1395-error-message-file-doesnt-exist.js (import.text open
  *     error),
  *   - MLDB-1319-new-executor-function-binding.js (sql.query JOIN
  *     functions, $param in the ON clause),
  *   - MLDB-481-vp-tree-high-dimensional-cube.js (kNN on a
  *     high-dimensional cube — the pathological VP-tree case),
  *   - MLDB-426_tsne_crash.py (svd → embedding → tsne chain),
  *   - MLDB-592-bs-training-failure.py (titanic: dt + boosted_stumps
  *     end-to-end incl. classifier.test outputDataset),
  *   - MLDB-1128-transform-utf8.js (git import → regex transform →
  *     grouped counts with NAMED). */
class ReferenceParitySpec31 extends AnyFunSuite {

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

  // --- MLDB-300 ---------------------------------------------------------------------

  test("MLDB-300: python functions defined in a script call each other") {
    val out = graft.api.PyBridge.run(spark,
      _ => fail("no tables needed"),
      """def test1():
        |    return "test1"
        |
        |def test2():
        |    return test1()
        |
        |print('["' + test2() + '"]')""".stripMargin)
    assert(out.returnJson.exists(_.contains("test1")) ||
      out.stdout.contains("test1"), out.toString)
  }

  // --- MLDB-723 ---------------------------------------------------------------------

  test("MLDB-723: jseval compile / throw / arity errors") {
    e.recordRows("jt723", """[{"rowName":"r1","x":1}]""")
    val ex1 = intercept[Exception](
      q("SELECT jseval('syntax error', 'x') from jt723").collect())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex1).exists(_.contains("Exception compiling")), ex1.toString)
    val ex2 = intercept[Exception](
      q("SELECT jseval('throw 3', '') from jt723").collect())
    assert(msgs(ex2).exists(m =>
      m.contains("jseval script threw exception") && m.contains("3")),
      ex2.toString)
    val ex3 = intercept[IllegalArgumentException](
      q("select jseval('return 3;') FROM jt723"))
    assert(ex3.getMessage.contains("jseval expected at least 2 arguments"),
      ex3.getMessage)
  }

  // --- MLDB-815 ---------------------------------------------------------------------

  test("MLDB-815: mixed-type rows round-trip; ORDER BY rowName() DESC") {
    e.recordRows("ds815",
      """[{"rowName":"ex1","x":0,"y":0,"label":"cat"},
        |{"rowName":"ex2","x":1,"y":1,"label":"dog"},
        |{"rowName":"ex3","x":1,"y":2,"label":"cat"}]""".stripMargin)
    val rows = q("SELECT * FROM ds815 ORDER BY rowName() DESC").collect()
    assert(rows.map(_.getAs[String]("rowName")).toSeq ===
      Seq("ex3", "ex2", "ex1"))
    assert(rows(0).getAs[String]("label") === "cat")
    assert(rows(0).getAs[Long]("x") === 1L)
    assert(rows(0).getAs[Long]("y") === 2L)
    assert(rows(1).getAs[String]("label") === "dog")
  }

  // --- MLDB-620 ---------------------------------------------------------------------

  test("MLDB-620: classifier.test with an empty config reads the exact message") {
    val ex = intercept[IllegalArgumentException](
      e.runProcedure("classifier.test", Map.empty[String, String].get _))
    assert(ex.getMessage.contains(
      "classifier.test expects a scalar named 'score' and a scalar " +
        "named 'label'"), ex.getMessage)
  }

  // --- MLDB-1395 --------------------------------------------------------------------

  test("MLDB-1395: importing a nonexistent file reads the open error") {
    val ex = intercept[IllegalArgumentException](
      e.runProcedure("import.text", Map(
        "dataFileUrl" -> "file:///thisfiledoesnotexist",
        "outputDataset" -> "broken_fail").get _))
    assert(ex.getMessage.startsWith("Opening file /thisfiledoesnotexist:"),
      ex.getMessage)
    assert(ex.getMessage.contains("No such file or directory"),
      ex.getMessage)
  }

  // --- MLDB-1319 --------------------------------------------------------------------

  test("MLDB-1319: sql.query functions over JOINs, $param in the ON clause") {
    e.recordRows("test1_1319",
      """[{"rowName":"1","x":1,"y":2},{"rowName":"2","x":2,"z":4},
        |{"rowName":"3","z":3}]""".stripMargin)
    e.recordRows("test2_1319",
      """[{"rowName":"1","x":1,"z":2},{"rowName":"2","x":2,"z":2},
        |{"rowName":"3","z":3}]""".stripMargin)
    e.createSqlQueryRowFunction("poil1319",
      """select * from test1_1319 join test2_1319
        on test1_1319.rowName() = test2_1319.rowName()
        order by rowName()""", "FIRST_ROW")
    val o = q("select poil1319()[output] as o").head().getStruct(0)
    def f(n: String): Long =
      o.getAs[Number](o.fieldIndex(n)).longValue
    assert(f("test1_1319.x") === 1L, o.toString)
    assert(f("test1_1319.y") === 2L, o.toString)
    assert(f("test2_1319.x") === 1L, o.toString)
    assert(f("test2_1319.z") === 2L, o.toString)
    // a CAST in the ON clause binds too
    e.createSqlQueryRowFunction("poil2_1319",
      """select * from test1_1319 join test2_1319
        on cast(test1_1319.rowName() as integer) =
           cast(test2_1319.rowName() as integer)
        order by rowName()""", "FIRST_ROW")
    val o2 = q("select poil2_1319()[output] as o").head().getStruct(0)
    assert(o2.getAs[Number](
      o2.fieldIndex("test1_1319.x")).longValue === 1L, o2.toString)
  }

  // --- MLDB-481 ---------------------------------------------------------------------

  test("MLDB-481: kNN over a high-dimensional cube finds the corner twice") {
    val numDims = 60
    val rows = (0 until numDims).flatMap { i =>
      val cells = (0 until numDims)
        .map(j => s""""d$j":${if (i == j) 1 else 0}""").mkString(",")
      Seq(s"""{"rowName":"row$i",$cells}""",
        s"""{"rowName":"row${i}_a",$cells}""")
    }.mkString("[", ",", "]")
    e.recordRows("cube481", rows)
    e.createEmbeddingNeighborsFunction("nn481", "cube481")
    val coords = (0 until numDims).map(j =>
      s""""d$j": ${if (j == 0) 1 else 0}""").mkString(", ")
    val dists = q(s"""select nn481({coords: {$coords},
        numNeighbors: 5})[distances] as d""").head()
      .getMap[String, Double](0)
    assert(dists.size === 5, dists.toString)
    // the two copies of the corner sit at distance 0
    assert(dists("row0") === 0.0, dists.toString)
    assert(dists("row0_a") === 0.0, dists.toString)
    // everything else is sqrt(2) away
    (dists - "row0" - "row0_a").values.foreach(v =>
      assert(math.abs(v - math.sqrt(2)) < 1e-9, dists.toString))
  }

  // --- MLDB-426 ---------------------------------------------------------------------

  test("MLDB-426: svd → embedding dataset → tsne chain runs") {
    val rng = new scala.util.Random(426)
    val rows = (0 until 200).map { r =>
      val cells = (0 until 20)
        .map(c => s""""c$c":${rng.nextDouble()}""").mkString(",")
      s"""{"rowName":"r$r",$cells}"""
    }.mkString("[", ",", "]")
    e.recordRows("x426", rows)
    e.runProcedure("svd.train", Map(
      "trainingData" -> "select * from x426",
      "columnOutputDataset" -> "svd426",
      "rowOutputDataset" -> "svd_embed426").get _)
    val r = e.runProcedure("tsne.train", Map(
      "trainingData" -> "select * from svd_embed426",
      "rowOutputDataset" -> "tsne_output426").get _)
    assert(r.contains("tsne_output426"), r)
    assert(e.dataset("tsne_output426").count() === 200)
  }

  // --- MLDB-592 ---------------------------------------------------------------------

  test("MLDB-592: titanic dt + boosted_stumps end-to-end with accuracy output") {
    e.runProcedure("import.text", Map(
      "dataFileUrl" ->
        ReferenceFixture("fixtures/titanic_train.csv"),
      "named" -> "lineNumber()",
      "select" -> "* EXCLUDING(PassengerId)",
      "outputDataset" -> "toy592").get _)
    for ((algo, name) <- Seq("dt" -> "dtAlgo592", "boosted_stumps" -> "bsAlgo592")) {
      e.runProcedure("classifier.train", Map(
        "trainingData" -> ("select {* EXCLUDING (label)} as features, " +
          "label = 1 as label from toy592"),
        "algorithm" -> algo, "mode" -> "boolean",
        "modelFileUrl" -> s"file://tmp/mldb-592-$name.cls",
        "functionName" -> name).get _)
      val rez = e.runProcedure("classifier.test", Map(
        "mode" -> "boolean",
        "testingData" -> (s"select label = 1 as label, " +
          s"$name({{* EXCLUDING (label)} as features})[score] as score " +
          "from toy592"),
        "outputDataset" -> s"results592_$name").get _)
      val auc = "\"auc\": ([0-9.]+)".r.findFirstMatchIn(rez)
        .map(_.group(1).toDouble).getOrElse(fail(rez))
      assert(auc > 0.75, s"$algo auc $auc")
      // the accuracy dataset reads back ordered by index
      val out = e.query(
        s"select * from results592_$name order by index limit 5").collect()
      assert(out.length === 5)
      val scores = out.map(_.getAs[Double]("score")).toSeq
      assert(scores === scores.sortBy(-_), s"index must rank by score desc")
    }
  }

  // --- MLDB-1128 --------------------------------------------------------------------

  test("MLDB-1128: git import → regex transform → grouped counts with NAMED") {
    e.runProcedure("import.git", Map(
      "repository" -> "file:///root/repo",
      "outputDataset" -> "git1128").get _)
    e.runProcedure("transform", Map(
      "inputData" -> ("select regex_replace(authorEmail, '.*@', '') " +
        "as company, * from git1128 where parentCount = 1"),
      "outputDataset" -> "gitderived1128").get _)
    assert(e.dataset("gitderived1128").columns.contains("company"))
    e.runProcedure("transform", Map(
      "inputData" -> ("select count(*) as count from gitderived1128 " +
        "group by company"),
      "outputDataset" -> "companycounts1128").get _)
    val counts = e.dataset("companycounts1128").collect()
    assert(counts.nonEmpty)
    assert(counts.map(_.getAs[Long]("count")).sum ===
      e.dataset("gitderived1128").count())
  }
}
