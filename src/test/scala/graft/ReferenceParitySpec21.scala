package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Twenty-first batch of replays of the reference's OWN regression
  * tests — the import.json battery (MLDB-1266), over the reference's
  * own `testing/dataset/json_dataset*.json` fixtures. */
class ReferenceParitySpec21 extends AnyFunSuite {

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
  // each test resolves its fixture at the top of its body, outside any
  // intercept, so a missing file cancels the test instead of failing it
  private val jsonDataset = "dataset/json_dataset.json"
  private val jsonDatasetInvalid = "dataset/json_dataset_invalid.json"

  test("MLDB-1266: import.json names rows by line number, encodes arrays") {
    val fixture = ReferenceFixture(jsonDataset)
    e.runProcedure("import.json", Map(
      "dataFileUrl" -> fixture,
      "arrays" -> "encode",
      "outputDataset" -> "my_json_dataset").get _)
    val rows = q("select * from my_json_dataset")
      .collect().map(r => r.getAs[String]("rowName") -> r).toMap
    assert(rows.keySet === Set("1", "2", "3", "4", "5", "6"))
    // the reference's do_asserts cells
    assert(rows("1").getAs[Long]("colA") === 1L)
    assert(rows("1").getAs[String]("colB") === "pwet pwet")
    assert(rows("2").getAs[String]("colB") === "pwet pwet 2")
    // colC.a is long on row 3 but an OBJECT on row 6 — the typed
    // column unifies to text (the reference holds per-cell types;
    // documented divergence). Values match as text.
    val colC3 = rows("3").getAs[org.apache.spark.sql.Row]("colC")
    assert(String.valueOf(colC3.getAs[Any]("a")) === "1")
    assert(String.valueOf(colC3.getAs[Any]("b")) === "2")
    // object array elements: numbered columns holding the JSON text
    assert(rows("4").getAs[String]("colD.0") === """{"a":1}""")
    assert(rows("4").getAs[String]("colD.1") === """{"b":2}""")
    // scalar array elements: set-member columns. colD.1 is shared
    // with numbered index 1 (row 4 holds {"b":2} there), so the ONE
    // typed column reads as text — the reference's per-cell types
    // hold 1 numerically; documented divergence
    assert(String.valueOf(rows("5").getAs[Any]("colD.1")) === "1")
    assert(String.valueOf(rows("5").getAs[Any]("colD.abc")) === "1")
    assert(rows("4").isNullAt(rows("4").fieldIndex("colD.abc")))
  }

  test("MLDB-1266: invalid lines error unless ignoreBadLines") {
    val badFixture = ReferenceFixture(jsonDatasetInvalid)
    intercept[IllegalArgumentException](
      e.runProcedure("import.json", Map(
        "dataFileUrl" -> badFixture,
        "outputDataset" -> "bad_json").get _))
    e.runProcedure("import.json", Map(
      "dataFileUrl" -> badFixture,
      "ignoreBadLines" -> "true",
      "outputDataset" -> "bad_json_ok").get _)
    val rows = q("select * from bad_json_ok")
      .collect().map(r => r.getAs[String]("rowName") -> r).toMap
    // bad line 2 drops; line numbers stay the SOURCE lines
    assert(rows("1").getAs[Long]("colA") === 1L)
    assert(rows("3").getAs[String]("colB") === "pwet pwet 2")
    assert(!rows.contains("2"))
  }

  test("MLDB-1266: where / select / named post-expressions") {
    val fixture = ReferenceFixture(jsonDataset)
    e.runProcedure("import.json", Map(
      "dataFileUrl" -> fixture, "where" -> "colA IN (1, 2)",
      "outputDataset" -> "jw").get _)
    assert(q("select rowName() as rn, colA from jw order by rn")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq("1" -> 1L, "2" -> 2L))
    e.runProcedure("import.json", Map(
      "dataFileUrl" -> fixture, "select" -> "colA AS wololo",
      "outputDataset" -> "js1").get _)
    val js1 = e.dataset("js1")
    assert(js1.columns.toSet === Set("rowName", "wololo"))
    e.runProcedure("import.json", Map(
      "dataFileUrl" -> fixture, "select" -> "* EXCLUDING (colA)",
      "outputDataset" -> "js2").get _)
    assert(!e.dataset("js2").columns.contains("colA"))
    // named by a column; named by lineNumber() - 1
    e.runProcedure("import.json", Map(
      "dataFileUrl" -> fixture, "named" -> "colB",
      "where" -> "colB IS NOT NULL",
      "outputDataset" -> "jn").get _)
    assert(q("select rowName() as rn from jn order by rn")
      .collect().map(_.getString(0)).toSeq ===
      Seq("pwet pwet", "pwet pwet 2", "pwet pwet 3"))
    e.runProcedure("import.json", Map(
      "dataFileUrl" -> fixture, "named" -> "lineNumber() - 1",
      "outputDataset" -> "jln").get _)
    assert(q("select rowName() as rn from jln order by implicit_cast(rn)")
      .collect().map(_.getString(0)).toSeq ===
      Seq("0", "1", "2", "3", "4", "5"))
    // a row-valued name is the reference's conversion error
    val ex = intercept[IllegalArgumentException](
      e.runProcedure("import.json", Map(
        "dataFileUrl" -> fixture, "named" -> "colC",
        "where" -> "colC IS NOT NULL",
        "outputDataset" -> "jbad").get _))
    assert(ex.getMessage.contains("Cannot convert value of type"),
      ex.getMessage)
    // an empty dataFileUrl is rejected with the reference's message
    val ex2 = intercept[IllegalArgumentException](
      e.runProcedure("import.json", Map(
        "dataFileUrl" -> "", "outputDataset" -> "jempty").get _))
    assert(ex2.getMessage.contains(
      "dataFileUrl is a required property and must not be empty"),
      ex2.getMessage)
  }

  test("MLDB-1266: arrays 'parse' expands numbered (sub-)columns") {
    val fixture = ReferenceFixture(jsonDataset)
    e.runProcedure("import.json", Map(
      "dataFileUrl" -> fixture, "arrays" -> "parse",
      "outputDataset" -> "jp").get _)
    val cols = e.dataset("jp").columns.toSet
    // array-of-object rows expand to colD.<i>.<field>
    assert(cols.exists(_.startsWith("colD.0")), cols)
    val r4 = q("select * from jp").collect()
      .map(r => r.getAs[String]("rowName") -> r).toMap
    assert(r4("4").getAs[Long]("colD.0.a") === 1L)
    assert(r4("4").getAs[Long]("colD.1.b") === 2L)
  }

  test("MLDB-1266: parse_json(lineText, {arrays: 'encode'}) matches the import") {
    val fixture = ReferenceFixture(jsonDataset)
    // whole-line import then per-row parse — the reference's
    // equivalence check for the builtin
    e.runProcedure("import.text", Map(
      "dataFileUrl" -> fixture, "delimiter" -> "", "quoteChar" -> "",
      "headers" -> "lineText",
      "outputDataset" -> "imported_json").get _)
    val parsed = q("""select parse_json(lineText, {arrays: 'encode'}) as *
                      from imported_json""")
    assert(parsed.count() === 6)
    assert(parsed.columns.exists(_.startsWith("colA")), parsed.columns.toSeq)
  }
}
