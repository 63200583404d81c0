package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Seventh batch of replays of the reference's OWN regression tests.
  * Each test cites the `/root/reference/testing/` file it reproduces
  * and asserts that file's expected values verbatim. */
class ReferenceParitySpec7 extends AnyFunSuite {

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

  // --- MLDB-989-complex-order-by.py ----------------------------------------
  // Four rows with index 0..3; each test orders by a CASE over index
  // and pins the reference's expected index sequence.

  private lazy val data989: Unit = {
    e.recordRows("test_data",
      """[{"rowName":"row0","index":0},{"rowName":"row1","index":1},
         |{"rowName":"row2","index":2},{"rowName":"row3","index":3}]"""
        .stripMargin)
  }

  private def orderBy989(orderBy: String): Seq[Long] = {
    data989
    q(s"select index from test_data order by $orderBy")
      .collect().toSeq.map(_.getLong(0))
  }

  test("MLDB-989: row-type ORDER BY, sorted columns") {
    assert(orderBy989(
      "case when index % 4 = 1 then {a:1, b:2} when index % 4 = 2 then " +
        "{a:0, b:3} when index % 4 = 3 then {a:0, c:4} else null end")
      === Seq(0L, 2L, 3L, 1L))
  }

  test("MLDB-989: row-type ORDER BY, unsorted columns") {
    // rows compare as their SORTED (column, value) entry list, so
    // declaration order {b:3, a:0} must not matter
    assert(orderBy989(
      "case when index % 4 = 1 then {a:1, b:2} when index % 4 = 2 then " +
        "{b:3, a:0} when index % 4 = 3 then {c:4, a:0} else null end")
      === Seq(0L, 2L, 3L, 1L))
  }

  test("MLDB-989: mixed-type ORDER BY total order (null < atom < row < embedding)") {
    assert(orderBy989(
      "case when index % 4 = 1 then 3 when index % 4 = 2 then null " +
        "when index % 4 = 3 then {a:1, b:2} else [0,3] end")
      === Seq(2L, 1L, 3L, 0L))
  }

  test("MLDB-989: embedding-type ORDER BY is element-wise") {
    assert(orderBy989(
      "case when index % 4 = 1 then [3.3, 34.0] when index % 4 = 2 then " +
        "[64.2, 34.0] when index % 4 = 3 then [64.1999, 34.0] " +
        "else [3.3, 3.0] end")
      === Seq(0L, 1L, 3L, 2L))
  }

  test("MLDB-989: ORDER BY tokenize bag sorts by sorted entry list") {
    e.recordRows("str_test_data",
      """[{"rowName":"row1","terms":"c++,python,c++,java,c++"},
         |{"rowName":"row2","terms":"scala,scala,java,java,scala,java,scala,c++"},
         |{"rowName":"row3","terms":"python,ada,ada"}]""".stripMargin)
    val names = q(
      "select rowName() as rn from str_test_data order by tokenize(terms)")
      .collect().toSeq.map(_.getString(0))
    assert(names === Seq("row3", "row2", "row1"))
  }

  // --- MLDB-1315-row-table-expressions.js ----------------------------------

  test("MLDB-1315: sql.query over row_dataset($input) applies per call") {
    e.createSqlQueryDialectFunction("poil",
      "SELECT upper(column) AS column, value FROM row_dataset($input) " +
        "WHERE CAST (value AS NUMBER) IS NULL",
      output = "NAMED_COLUMNS")
    val r = q("SELECT poil({input: {x: 1, y: 2, z: 'three'}})[output] as *")
    // only the non-numeric cell survives the CAST filter, uppercased
    assert(r.columns.toSeq === Seq("Z"))
    assert(r.head().getString(0) === "three")
  }

  test("MLDB-1315: row_dataset($input) binds the outer row per call") {
    e.recordRows("rp1315",
      """[{"rowName":"r1","a":"hello","b":7},
         |{"rowName":"r2","a":"55","b":9}]""".stripMargin)
    e.createSqlQueryDialectFunction("strcells",
      "SELECT upper(column) AS column, value FROM row_dataset($input) " +
        "WHERE CAST (value AS NUMBER) IS NULL",
      output = "NAMED_COLUMNS")
    // per-row apply: r1's `a` is non-numeric (kept), r2's casts (null)
    val rows = q("SELECT strcells({input: {a: a}})[output] as * " +
      "from rp1315 order by rowName()").collect().toSeq
    assert(rows.map(r => Option(r.get(0))) === Seq(Some("hello"), None))
  }

  test("MLDB-1374: SELECT * FROM row_dataset(row literal)") {
    val rows = q("SELECT * FROM row_dataset({x:1, y:2, z:'three'}) " +
      "ORDER BY rowName()").collect().toSeq
    assert(rows.map(_.getString(1)) === Seq("x", "y", "z"))
    assert(rows.map(_.getString(2)) === Seq("1", "2", "three"))
  }

  // --- MLDB-238-sorting-missing-values.js ----------------------------------

  // --- MLDB-1802-select-orderby.py -----------------------------------------

  test("MLDB-1802: ORDER BY a qualified column is stable across select lists") {
    e.recordRows("ds1802",
      """[{"rowName":"row_c","x":1,"y":3},
         |{"rowName":"row_b","x":2,"y":2},
         |{"rowName":"row_a","x":3,"y":1}]""".stripMargin)
    // (the reference file orders by dataset1.x, x.rowHash() — the
    // x alias does not exist; rowHash() is the tiebreak intent)
    val r1 = q("SELECT 1 AS one FROM ds1802 AS dataset1 " +
      "ORDER BY dataset1.x, rowHash()").collect().toSeq
    assert(r1.map(_.get(0).toString) === Seq("1", "1", "1"))
    val r2 = q("SELECT dataset1.y AS y FROM ds1802 AS dataset1 " +
      "ORDER BY dataset1.x, rowHash()").collect().toSeq
    assert(r2.map(_.getLong(0)) === Seq(3L, 2L, 1L))
  }

  // --- MLDB-1616-row-dataset-segfault.js -----------------------------------

  test("MLDB-1616: join with atom_dataset/row_dataset literals — " +
      "qualified columns, composed rowName") {
    val r = q("select * from (select 1 as v) as x " +
      "join atom_dataset({x:1}) as y")
    val row = r.head()
    val get = (c: String) => row.get(r.columns.indexOf(c))
    assert(String.valueOf(get("x.v")).toDouble === 1.0)
    assert(String.valueOf(get("y.column")) === "x")
    // atom_dataset over an all-numeric literal carries double cells
    // (typed common-cast); the value itself is 1
    assert(String.valueOf(get("y.value")).toDouble === 1.0)
    assert(String.valueOf(get("rowName")) === "[result]-[0]")
    // three-way join keeps every side's cells (the reference's
    // segfault shape; row names compose FLAT here — [a]-[b]-[c] —
    // where the reference brackets nested joins, a pinned divergence)
    val r2 = q("select * from (select 1 as v) as x " +
      "join atom_dataset({x:1}) as y join row_dataset({z:2}) as z")
    val row2 = r2.head()
    val get2 = (c: String) => row2.get(r2.columns.indexOf(c))
    assert(String.valueOf(get2("x.v")).toDouble === 1.0)
    assert(String.valueOf(get2("y.column")) === "x")
    assert(String.valueOf(get2("z.column")) === "z")
    assert(String.valueOf(get2("z.value")).toDouble === 2.0)
  }

  // --- MLDB-1911_horizontal_agg_no_from.py ---------------------------------

  test("MLDB-1911: horizontal aggregates over literal rows, with and without FROM") {
    e.recordRows("ds1911", """[{"rowName":"row1","A":1}]""")
    assert(q("SELECT horizontal_sum({1 AS a, 2 AS b}) AS v FROM ds1911")
      .head().get(0).toString.toDouble === 3.0)
    assert(q("SELECT horizontal_count({1 AS a, 2 AS b}) AS v FROM ds1911")
      .head().get(0).toString.toDouble === 2.0)
    assert(q("SELECT horizontal_min({1 AS a, 2 AS b}) AS v FROM ds1911")
      .head().get(0).toString.toDouble === 1.0)
    // the reference marks the no-FROM form expectedFailure (its bug);
    // the single-row no-FROM SELECT handles it here
    assert(q("SELECT horizontal_sum({1 AS a, 2 AS b}) AS v")
      .head().get(0).toString.toDouble === 3.0)
  }

  // --- MLDB-1239-utf8-literal.py -------------------------------------------

  test("MLDB-1239: UTF-8 literals and column names round-trip") {
    e.recordRows("ds1239",
      """[{"rowName":"r1","ê":1,"b":2},{"rowName":"r2","a":3,"b":4},
         |{"rowName":"rñ3","a":5,"b":6}]""".stripMargin)
    val r = q("SELECT 'françois' AS s, b FROM ds1239 ORDER BY b")
      .collect().toSeq
    assert(r.map(_.getString(0)).distinct === Seq("françois"))
    val withAccent = q("SELECT \"ê\" AS e FROM ds1239 WHERE \"ê\" IS NOT NULL")
    assert(withAccent.head().getLong(0) === 1L)
    val rn = q("SELECT rowName() AS rn FROM ds1239 WHERE a = 5").head()
    assert(rn.getString(0) === "rñ3")
  }

  // --- MLDB-1586_colname_multivalue.py -------------------------------------

  test("MLDB-1586: duplicate cell records superpose — reads see the latest") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val t0 = new java.sql.Timestamp(0L)
    val t2 = new java.sql.Timestamp(2000L)
    val cells = Seq(
      ("r1", "a", 1.0, t0), ("r1", "a", 2.0, t2), ("r1", "b", 2.0, t0),
      ("r2", "a", 3.0, t0), ("r2", "b", 4.0, t0))
    val eav = cells.toDF("rowName", "column", "num", "ts")
      .select(col("rowName"), col("column"),
        struct(col("num"), lit(null).cast("string").as("str"),
          lit(null).cast("timestamp").as("tsv"),
          lit(null).cast("boolean").as("flag")).as("value"), col("ts"))
    val a = core.Eav.latest(eav).filter(col("column") === "a")
      .orderBy("rowName").collect().toSeq
      .map(r => (r.getString(0), r.getStruct(2).getDouble(0)))
    assert(a === Seq(("r1", 2.0), ("r2", 3.0)))
  }

  // --- MLDB-1921_merge_ds_strings.py ---------------------------------------

  test("MLDB-1921: merge aligns same-named rows across datasets") {
    e.recordRows("ds1921a", """[{"rowName":"row1","A":1}]""")
    e.recordRows("ds1921b", """[{"rowName":"row1","B":2}]""")
    val r = q("SELECT A, B FROM merge(ds1921a, ds1921b) ORDER BY rowName()")
    val row = r.head()
    assert((row.getLong(0), row.getLong(1)) === ((1L, 2L)))
  }

  // --- MLDB-1794-join-subselect.py -----------------------------------------

  test("MLDB-1794: join against a GROUP BY subselect with theta condition") {
    e.recordRows("ds1794",
      """[{"rowName":"row1","x":"toy story","y":"1"},
         |{"rowName":"row2","x":"terminator","y":"2"}]""".stripMargin)
    val r = q("select a.x from ds1794 as a INNER JOIN " +
      "(SELECT x from ds1794 GROUP BY x) as b " +
      "ON a.x = b.x AND a.y != b.x ORDER BY a.x")
    assert(r.collect().toSeq.map(_.getString(0))
      === Seq("terminator", "toy story"))
  }

  // --- MLDB-1705-function-application-path.py ------------------------------

  test("MLDB-1705: sql.expression with qualified arg paths over a join") {
    e.recordRows("data1705a", """[{"rowName":"a","x":1}]""")
    e.recordRows("data1705b", """[{"rowName":"a","y":2}]""")
    e.createSqlExpressionFunction("func1705",
      "horizontal_string_agg({data1.x, data2.y}, '-') AS agg")
    val r = q("select func1705({*})[agg] as v " +
      "from data1705a as data1 join data1705b as data2 " +
      "on data1.rowName() = data2.rowName()")
    assert(r.head().getString(0) === "1-2")
  }

  // --- import.text parity battery ------------------------------------------
  // Replays of the reference's import-side regression tests
  // (`testing/import_text_test.py` and friends), exercising the
  // Sources.importText header/encoding/line-level edges that the
  // SQL-side batches never reach.

  import java.nio.file.Files
  private def tmpCsv(lines: String*): String = {
    val f = Files.createTempFile("graft_import7", ".csv")
    Files.writeString(f, lines.mkString)
    f.toString
  }
  private val S = sources.Sources

  test("import_text_test.py test_base: header row + lineNumber row names") {
    val p = tmpCsv("a,b,c\n", "d,e,f\n")
    val df = S.importText(spark, p,
      S.TextImportConfig(named = Some("lineNumber()")))
    val r = df.select("rowName", "a", "b", "c").head()
    // the header is line 1; the single data row is named "2"
    assert(r.getString(0) === "2")
    assert(Seq(r.getString(1), r.getString(2), r.getString(3))
      === Seq("d", "e", "f"))
  }

  test("import_text_test.py test_gen_headers: generated headers are 0..n-1 (MLDB-1741)") {
    val p = tmpCsv("a,b,c\n", "d,e,f\n")
    val df = S.importText(spark, p,
      S.TextImportConfig(headers = false, autoGenerateHeaders = true))
    assert(df.columns.toSeq === Seq("0", "1", "2"))
    assert(df.count() === 2)
  }

  test("import_text_test.py test_conflicting_header_config: the reference's exact message") {
    val p = tmpCsv("a,b,c\n")
    val ex = intercept[IllegalArgumentException] {
      S.importText(spark, p, S.TextImportConfig(
        autoGenerateHeaders = true, headerNames = Seq("colA", "colB", "colC")))
    }
    assert(ex.getMessage.contains(
      "autoGenerateHeaders cannot be true if headers is defined."))
  }

  test("import_text_test.py test_basea_irregular: too many columns fails the import") {
    val p = tmpCsv("a,b,c\n", "d,e\n", "f,g,h,i\n")
    val df = S.importText(spark, p, S.TextImportConfig())
    assertThrows[Exception] { df.collect() }
  }

  test("import_text_test.py MLDB-1797: filename with whitespaces") {
    // the reference's fixture, restated under its own name: the header
    // and row asserted below
    val p = Files.createTempDirectory("graft_1797")
      .resolve("filename with whitespaces.csv")
    Files.writeString(p, "a,b\n1,2\n")
    val df = S.importText(spark, p.toString)
    assert(df.columns.toSeq === Seq("a", "b"))
    val r = df.head()
    assert((r.getInt(0), r.getInt(1)) === ((1, 2)))
  }

  test("MLDB-1121: csv import produces no duplicate rows") {
    val df = S.importText(spark,
      ReferenceFixture("MLDB-1121_test_set.csv"),
      S.TextImportConfig(headers = false,
        headerNames = Seq("error_msg", "count")))
    assert(df.count() === 9)
    assert(df.select("error_msg").distinct().count() === 9)
  }

  test("MLDB-1155: a missing last value imports as null, not an error") {
    val p = tmpCsv("a,b\n", "1.0,\n", "1.0,1.0\n", "1.0,\"hello\"\n")
    val df = S.importText(spark, p,
      S.TextImportConfig(named = Some("lineNumber()")))
    assert(df.count() === 3)
    val rows = df.orderBy(org.apache.spark.sql.functions
      .col("rowName").cast("int")).collect()
    assert(rows(0).getString(df.columns.indexOf("b")) === null)
    assert(rows(2).getString(df.columns.indexOf("b")) === "hello")
  }

  test("MLDB-1155: DOS line endings import identically") {
    val p = tmpCsv("a,b\r\n", "1.0,\r\n", "1.0,1.0\r\n", "1.0,\"hello\"\r\n")
    val df = S.importText(spark, p)
    assert(df.count() === 3)
    assert(df.collect().map(r =>
      Option(r.getString(df.columns.indexOf("b")))).toSet
      === Set(None, Some("1.0"), Some("hello")))
  }

  test("MLDB-2168: skipLineRegex composes with a custom quoteChar") {
    // the reference replays MLDB-1312-quotechar.csv with quoteChar '#'
    // and skips the '#b#' line; survivors are (a,b) and ("a,b",c)
    val df = S.importText(spark,
      ReferenceFixture("MLDB-1312-quotechar.csv"),
      S.TextImportConfig(quoteChar = "#", encoding = "latin1",
        skipLineRegex = Some(".*#b#.*")))
    val rows = df.collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(rows === Set(("a", "b"), ("a,b", "c")))
  }

  test("MLDB-1502: an empty delimiter imports whole lines as one column") {
    val p = tmpCsv("603,politics,trees,pics\n", "604,funny,AskReddit\n")
    val df = S.importText(spark, p,
      S.TextImportConfig(delimiter = "", quoteChar = "",
        headers = false, headerNames = Seq("customLine")))
    assert(df.columns.toSeq === Seq("customLine"))
    assert(df.collect().map(_.getString(0)).toSet
      === Set("603,politics,trees,pics", "604,funny,AskReddit"))
  }

  test("MLDB-1891: a row-valued import select is rejected with the reference's message") {
    val p = tmpCsv("a,b\n", "patate,2\n")
    val ex = intercept[IllegalArgumentException] {
      S.importText(spark, p, S.TextImportConfig(
        select = "CASE a WHEN 'patate' THEN named_struct('z', 0) ELSE named_struct('z', 1) END AS c"))
    }
    assert(ex.getMessage.contains(
      "Import select expression cannot have row-valued columns"))
    // the scalar CASE variant imports fine (test_case_import)
    val ok = S.importText(spark, p, S.TextImportConfig(
      select = "CASE a WHEN 'patate' THEN 0 ELSE 1 END AS c"))
    assert(ok.head().getInt(0) === 0)
  }

  test("MLDB-238: ORDER BY columns with missing values (null first)") {
    e.recordRows("ds238",
      """[{"rowName":"row1","Weight":1,"col2":2},
         |{"rowName":"row2","Weight":2,"col3":2},
         |{"rowName":"row3","Weight2":3,"col3":2}]""".stripMargin)
    val names = q("select rowName() as rn from ds238 order by Weight, col3")
      .collect().toSeq.map(_.getString(0))
    assert(names === Seq("row3", "row1", "row2"))
  }
}
