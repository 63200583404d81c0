package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Eighteenth batch of replays of the reference's OWN regression
  * tests — the classifier ENTITY surface: the dialect-appliable
  * `classifier` function (MLDB-647), classifier.train/test as REST
  * procedures with the reference's config-validation messages
  * (MLDB-804, MLDB-2188), and the accuracy procedure across modes
  * (MLDB-256's boolean / categorical / regression). Each test cites
  * the `/root/reference/testing/` file it reproduces. */
class ReferenceParitySpec18 extends AnyFunSuite {

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

  private lazy val iris647: Unit = {
    e.runProcedure("import.text", Map(
      "dataFileUrl" -> ReferenceFixture("dataset/iris.data"),
      "headers" -> "sepal length,sepal width,petal length,petal width,class",
      "named" -> "lineNumber()",
      "outputDataset" -> "iris_dataset").get _)
    ()
  }

  // --- MLDB-647_multiclass_apply_function_pins.py ------------------------------

  test("MLDB-647: categorical classifier function applies in the dialect") {
    iris647
    e.runProcedure("classifier.train", Map(
      "trainingData" -> ("select {* EXCLUDING(class)} as features, " +
        "class as label from iris_dataset"),
      "algorithm" -> "dt",
      "mode" -> "categorical",
      "modelFileUrl" -> "file://tmp/MLDB-647.cls",
      "functionName" -> "iris_cls_blk").get _)
    // whole-row application over the dataset (the file's first query)
    val full = q("""select iris_cls_blk({{* EXCLUDING(class)} as features})
                    as out from iris_dataset""")
    assert(full.count() === 150)
    // scores are a probability row over the three classes
    val row = full.select("out.scores.*").head()
    val ps = (0 until 3).map(row.getDouble)
    assert(ps.forall(p => p >= 0 && p <= 1.0001), ps)
    assert(math.abs(ps.sum - 1.0) < 1e-6, ps)
    // the [scores."Iris-setosa"] output-path form (quoted element)
    val setosa = q("""select
        iris_cls_blk({{* EXCLUDING(class)} as features})[scores."Iris-setosa"]
        as setosa, class from iris_dataset""")
    assert(setosa.count() === 150)
    // trained on the full set: setosa rows score setosa ≈ 1
    val bySetosa = setosa.groupBy(col("class"))
      .agg(avg(col("setosa")).as("m")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(bySetosa("Iris-setosa") > 0.9, bySetosa)
    assert(bySetosa("Iris-virginica") < 0.1, bySetosa)
  }

  test("MLDB-647/1433: boolean classifier function scores P(true)") {
    iris647
    e.runProcedure("classifier.train", Map(
      "trainingData" -> ("select {* EXCLUDING(class)} as features, " +
        "class = 'Iris-setosa' as label from iris_dataset"),
      "algorithm" -> "dt",
      "mode" -> "boolean",
      "modelFileUrl" -> "file://tmp/MLDB-647b.cls",
      "functionName" -> "setosa_cls").get _)
    val scored = q("""select
        setosa_cls({{* EXCLUDING(class)} as features})[score] as score,
        class = 'Iris-setosa' as label from iris_dataset""")
    val m = scored.groupBy(col("label")).agg(avg(col("score")).as("m"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(m(true) > 0.9 && m(false) < 0.1, m)
    // classifier.test over the function's scores (the 1433 shape)
    val out = e.runProcedure("classifier.test", Map(
      "testingData" -> ("""select setosa_cls({{* EXCLUDING(class)} """ +
        """as features})[score] as score, class = 'Iris-setosa' as label """ +
        "from iris_dataset")).get _)
    val auc = "\"auc\": ([0-9.]+)".r.findFirstMatchIn(out).get.group(1).toDouble
    assert(auc > 0.99, out)
  }

  test("MLDB-647: glz categorical function applies (softmax scores)") {
    iris647
    e.runProcedure("classifier.train", Map(
      "trainingData" -> ("select {* EXCLUDING(class)} as features, " +
        "class as label from iris_dataset"),
      "algorithm" -> "glz",
      "mode" -> "categorical",
      "modelFileUrl" -> "file://tmp/MLDB-647c.cls",
      "functionName" -> "iris_glz").get _)
    val acc = q("""select
        iris_glz({{* EXCLUDING(class)} as features})[scores] as s, class
        from iris_dataset""")
      .select(col("class"),
        when(col("s.`Iris-setosa`") >= col("s.`Iris-versicolor`") &&
          col("s.`Iris-setosa`") >= col("s.`Iris-virginica`"), "Iris-setosa")
          .when(col("s.`Iris-versicolor`") >= col("s.`Iris-virginica`"),
            "Iris-versicolor")
          .otherwise("Iris-virginica").as("pred"))
      .select(avg(when(col("class") === col("pred"), 1.0).otherwise(0.0)))
      .head().getDouble(0)
    assert(acc > 0.9, s"glz accuracy $acc")
  }

  // --- MLDB-804-null-accuracy.js ------------------------------------------------

  test("MLDB-804: an empty classifier.test config 400s with the reference message") {
    val ex = intercept[IllegalArgumentException](
      e.validateProcedure("classifier.test", _ => None, None))
    assert(ex.getMessage.contains("classifier.test expects a scalar " +
      "named 'score' and a scalar named 'label'"), ex.getMessage)
  }

  // --- MLDB-2188-label_feature_validation.py -------------------------------------

  test("MLDB-2188: a column cannot be both label and feature") {
    iris647
    val ex = intercept[IllegalArgumentException](
      e.runProcedure("classifier.train", Map(
        "trainingData" -> ("select {class} as features, class as label " +
          "from iris_dataset"),
        "mode" -> "categorical",
        "modelFileUrl" -> "file://tmp/MLDB-2188.cls").get _))
    assert(ex.getMessage.contains(
      "Dataset column 'class' cannot be used in both label and feature"),
      ex.getMessage)
  }

  // --- MLDB-256_accuracy_accepts_all_cls_modes.py ---------------------------------

  test("MLDB-256: classifier.test accepts regression mode (r2)") {
    // the MLDB-174 r2 fixture through the procedure surface
    e.recordRows("r2_256",
      """[{"rowName":"a","score":2.5,"target":3},
        |{"rowName":"b","score":0,"target":-0.5},
        |{"rowName":"c","score":2,"target":2},
        |{"rowName":"d","score":8,"target":7}]""".stripMargin)
    val out = e.runProcedure("classifier.test", Map(
      "mode" -> "regression",
      "testingData" -> "select score, target as label from r2_256").get _)
    val r2 = "\"r2\": (-?[0-9.]+)".r.findFirstMatchIn(out).get.group(1).toDouble
    assert(math.abs(r2 - 0.948) < 0.005, out)
  }

  // --- MLDB-2180-dataset-split.py -------------------------------------------------

  test("MLDB-2180: split represents every label in every output (spread)") {
    // ds1: 4 rows, label x on rows 0-1, y on rows 2-3
    e.recordRows("ds2180a",
      """[{"rowName":"0","x":1},{"rowName":"1","x":1},
        |{"rowName":"2","y":1},{"rowName":"3","y":1}]""".stripMargin)
    e.runProcedure("split", Map(
      "labels" -> "SELECT * FROM ds2180a",
      "reproducible" -> "true",
      "splits" -> "0.8,0.2",
      "outputDatasets" -> "ds_train2180,ds_test2180").get _)
    def labelsOf(ds: String): Set[String] =
      q(s"select * from $ds").collect().flatMap { r =>
        Seq("x", "y").filter(c =>
          r.schema.fieldNames.contains(c) && !r.isNullAt(r.fieldIndex(c)))
      }.toSet
    // the reference pins 2/2 rows with BOTH labels represented in
    // BOTH outputs despite the 0.8/0.2 request
    assert(e.dataset("ds_train2180").count() === 2)
    assert(e.dataset("ds_test2180").count() === 2)
    assert(labelsOf("ds_train2180") === Set("x", "y"))
    assert(labelsOf("ds_test2180") === Set("x", "y"))
  }

  test("MLDB-2180: split keeps proportions and outputs never intersect") {
    // ds2: 16 x rows, 4 y rows → 16/4 at 0.8/0.2
    val rows = (0 until 20).map { i =>
      val l = if (i < 16) "x" else "y"
      s"""{"rowName":"$i","$l":1}"""
    }
    e.recordRows("ds2180b", rows.mkString("[", ",", "]"))
    e.runProcedure("split", Map(
      "labels" -> "SELECT * FROM ds2180b",
      "reproducible" -> "true",
      "splits" -> "0.8,0.2",
      "outputDatasets" -> "ds_train2180b,ds_test2180b").get _)
    assert(e.dataset("ds_train2180b").count() === 16)
    assert(e.dataset("ds_test2180b").count() === 4)
    val trainRows = q("select rowName() as rn from ds_train2180b")
      .collect().map(_.getString(0)).toSet
    val testRows = q("select rowName() as rn from ds_test2180b")
      .collect().map(_.getString(0)).toSet
    assert(trainRows.intersect(testRows) === Set.empty)
    assert(trainRows.size + testRows.size === 20)
    // validation: split count must match output count
    val ex = intercept[IllegalArgumentException](
      e.runProcedure("split", Map(
        "labels" -> "SELECT * FROM ds2180b",
        "splits" -> "0.8,0.1,0.1",
        "outputDatasets" -> "o1,o2").get _))
    assert(ex.getMessage.contains(
      "Number of splits requested is different"), ex.getMessage)
  }

  test("MLDB-256: classifier.test accepts categorical mode (labelStatistics)") {
    iris647
    e.runProcedure("classifier.train", Map(
      "trainingData" -> ("select {* EXCLUDING(class)} as features, " +
        "class as label from iris_dataset"),
      "algorithm" -> "dt", "mode" -> "categorical",
      "modelFileUrl" -> "file://tmp/MLDB-256.cls",
      "functionName" -> "cls256").get _)
    val out = e.runProcedure("classifier.test", Map(
      "mode" -> "categorical",
      "testingData" -> ("""select cls256({{* EXCLUDING(class)} as """ +
        """features}) as score, class as label from iris_dataset""")).get _)
    assert(out.contains("labelStatistics"), out)
    assert(out.contains("Iris-setosa") && out.contains("Iris-virginica"), out)
    // setosa separates perfectly on the training set
    val setosaRecall = ("\"Iris-setosa\": \\{[^}]*\"recall\": ([0-9.]+)").r
      .findFirstMatchIn(out).get.group(1).toDouble
    assert(setosaRecall === 1.0, out)
  }
}
