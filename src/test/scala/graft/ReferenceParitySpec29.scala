package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Twenty-ninth batch of replays of the reference's OWN regression
  * tests — encoding / import / export tails:
  *   - MLDB-861-character-encoding.py (utf8 and latin1 imports agree,
  *     against the reference's own fixture files),
  *   - MLDB-2170-csv-excel-formulas.js (processExcelFormulas unwraps
  *     `="…"` cells only),
  *   - MLDB-2126-export-structured.py (row-valued exports flatten to
  *     dotted leaf headers),
  *   - MLDB-1873_encoding_unknown_column.py (UTF-8 token columns flow
  *     through transform → classifier.experiment),
  *   - MLDB-2161-utf8-in-script-apply.py (UTF-8 argument names through
  *     a function application). */
class ReferenceParitySpec29 extends AnyFunSuite {

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

  // --- MLDB-861 ---------------------------------------------------------------------

  test("MLDB-861: utf8 and latin1 imports read the same content") {
    val utf8 = ReferenceFixture("utf8.csv")
    val latin1 = ReferenceFixture("latin1.csv")
    e.runProcedure("import.text", Map(
      "dataFileUrl" -> utf8,
      "encoding" -> "utf8",
      "outputDataset" -> "utf8_861").get _)
    e.runProcedure("import.text", Map(
      "dataFileUrl" -> latin1,
      "encoding" -> "latin1",
      "outputDataset" -> "latin1_861").get _)
    for (ds <- Seq("utf8_861", "latin1_861")) {
      val df = e.dataset(ds)
      assert(df.columns.contains("Nâme"), s"$ds: ${df.columns.toSeq}")
      val r = df.head()
      assert(r.getAs[Long]("Age") === 12L, s"$ds: $r")
      assert(r.getAs[String]("Nâme") === "Niçolâß", s"$ds: $r")
    }
  }

  // --- MLDB-2170 --------------------------------------------------------------------

  test("MLDB-2170: processExcelFormulas unwraps =\"…\" cells only") {
    e.runProcedure("import.text", Map(
      "dataFileUrl" ->
        ReferenceFixture("fixtures/MLDB-2170-csv-excel-formulas.csv"),
      "encoding" -> "latin1",
      "ignoreBadLines" -> "false",
      "ignoreExtraColumns" -> "true",
      "processExcelFormulas" -> "true",
      "named" -> "lineNumber()",
      "outputDataset" -> "mldb2170").get _)
    val rows = e.dataset("mldb2170").orderBy("rowName").collect()
      .map(r => (r.getAs[String]("rowName"),
        String.valueOf(r.getAs[Any]("a")), String.valueOf(r.getAs[Any]("b"))))
    assert(rows.toSeq === Seq(
      ("2", "1", "2"),
      ("3", "3", "4"),
      ("4", "5", "6"),
      ("5", "=7", "=8"),
      ("6", "9", "10")), rows.mkString(", "))
  }

  // --- MLDB-2126 --------------------------------------------------------------------

  test("MLDB-2126: exporting a row-valued column flattens to dotted headers") {
    e.recordRows("patate2126",
      """[{"rowName":"0","x.a":1,"x.b":2}]""")
    val dir = java.nio.file.Files.createTempDirectory("mldb2126").toString
    e.runProcedure("export.csv", Map(
      "exportData" -> "select x as x from patate2126",
      "dataFileUrl" -> s"file://$dir/out").get _)
    val part = new java.io.File(s"$dir/out").listFiles()
      .filter(_.getName.endsWith(".csv")).head
    val lines = scala.io.Source.fromFile(part).getLines().toSeq
    assert(lines === Seq("x.a,x.b", "1,2"), lines)
  }

  // --- MLDB-1873 (essence) ----------------------------------------------------------

  test("MLDB-1873: UTF-8 token columns flow through transform → experiment") {
    val spamWords = Seq("gagnez", "crédit", "géant", "argent")
    val hamWords = Seq("réunion", "café", "départ", "été")
    val rng = new scala.util.Random(1873)
    val rows = (0 until 120).map { i =>
      val spam = i % 2 == 0
      val pool = if (spam) spamWords else hamWords
      val msg = (0 until 4).map(_ =>
        pool(rng.nextInt(pool.size))).mkString(" ")
      s"""{"rowName":"m$i","msg":"$msg élan: $i!",""" +
        s""""label":"${if (spam) "spam" else "ham"}"}"""
    }.mkString("[", ",", "]")
    e.recordRows("enron1873", rows)
    e.createSqlExpressionFunction("bow1873",
      """tokenize(msg, {splitChars: ' :.-!?''"()[],', quoteChar: ''})
        as bow""")
    e.runProcedure("transform", Map(
      "inputData" -> ("select bow1873({msg})[bow] as *, " +
        "label = 'spam' as message_is_spam from enron1873"),
      "outputDataset" -> "enron_features1873").get _)
    // the bag columns carry the accents
    assert(e.dataset("enron_features1873").columns.exists(_ == "crédit"))
    val rez = e.runProcedure("classifier.experiment", Map(
      "experimentName" -> "enron_experiment1873",
      "inputData" -> ("select {* excluding(message_is_spam)} as features, " +
        "message_is_spam as label from enron_features1873"),
      "modelFileUrlPattern" -> "file://tmp/MLDB-1873_$runid.cls",
      "algorithm" -> "dt",
      "outputAccuracyDataset" -> "false").get _)
    val auc = "\"auc\": ([0-9.]+)".r.findFirstMatchIn(rez)
      .map(_.group(1).toDouble).getOrElse(fail(rez))
    assert(auc > 0.9, s"auc $auc")
  }

  // --- MLDB-2161 (essence) ----------------------------------------------------------

  test("MLDB-2161: UTF-8 argument names survive function application") {
    e.createSqlExpressionFunction("echo2161", "args as out")
    val r = q("""select echo2161(
        {{"Politique Provinciale": 2, "Élections": 1,
          "Thèmes et sous-thàmes": 0} as args})[out] as o""").head()
    val o = r.getStruct(0)
    assert(o.schema.fieldNames.toSet ===
      Set("Politique Provinciale", "Élections", "Thèmes et sous-thàmes"))
    assert(o.getAs[Number](o.fieldIndex("Élections")).longValue === 1L)
    assert(o.getAs[Number](
      o.fieldIndex("Thèmes et sous-thàmes")).longValue === 0L)
  }
}
