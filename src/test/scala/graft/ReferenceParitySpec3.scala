package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Third batch of replays of the reference's OWN regression tests
  * (see ReferenceParitySpec/-2). Each test cites the
  * `/root/reference/testing/` file it reproduces and asserts that
  * file's expected values verbatim. */
class ReferenceParitySpec3 extends AnyFunSuite {

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
  private def one(sql: String): Row = q(sql).head()

  // --- MLDB-2074-empty-join.py ---------------------------------------------

  private lazy val ds2074: Unit = {
    e.recordRows("a2074",
      """[{"rowName":"row1","one":1,"two":1},{"rowName":"row2","one":1,"two":2},
        |{"rowName":"row3","one":2,"two":1},{"rowName":"row4","one":2,"two":2}]"""
        .stripMargin.replace("\n", ""))
    e.createDataset("empty2074", spark.emptyDataFrame)
  }

  private def rows2074(sql: String): Seq[(String, Any, Any)] = {
    ds2074
    q(sql).collect().toSeq.map(r => (r.getString(0), r.get(1), r.get(2)))
  }

  private val allPadded = Seq(
    ("[row1]-[]", 1L, 1L), ("[row2]-[]", 1L, 2L),
    ("[row3]-[]", 2L, 1L), ("[row4]-[]", 2L, 2L))
  private val allPaddedRev = Seq(
    ("[]-[row1]", 1L, 1L), ("[]-[row2]", 1L, 2L),
    ("[]-[row3]", 2L, 1L), ("[]-[row4]", 2L, 2L))

  test("MLDB-2074: left/full joins against an empty dataset pad every row") {
    for (cond <- Seq("a2074.one = empty2074.one",
        "a2074.one = empty2074.one AND a2074.two = empty2074.one",
        "a2074.one <= empty2074.one AND a2074.two <= empty2074.one")) {
      assert(rows2074(s"""SELECT rowName() AS rn, a2074.one, a2074.two
        |FROM a2074 LEFT JOIN empty2074 ON $cond ORDER BY rn""".stripMargin)
        === allPadded, s"LEFT ON $cond")
      assert(rows2074(s"""SELECT rowName() AS rn, a2074.one, a2074.two
        |FROM a2074 FULL JOIN empty2074 ON $cond ORDER BY rn""".stripMargin)
        === allPadded, s"FULL ON $cond")
    }
  }

  test("MLDB-2074: the empty side of right/left joins yields no rows") {
    ds2074
    for (cond <- Seq("a2074.one = empty2074.one",
        "a2074.one = empty2074.one AND a2074.two = empty2074.one",
        "a2074.one <= empty2074.one AND a2074.two <= empty2074.one")) {
      assert(q(s"""SELECT rowName() AS rn FROM a2074
        |RIGHT JOIN empty2074 ON $cond""".stripMargin).count() === 0,
        s"RIGHT ON $cond")
      assert(q(s"""SELECT rowName() AS rn FROM empty2074
        |LEFT JOIN a2074 ON $cond""".stripMargin).count() === 0,
        s"reversed LEFT ON $cond")
    }
  }

  test("MLDB-2074: reversed right/full joins keep the populated side") {
    for (cond <- Seq("a2074.one = empty2074.one AND a2074.two = empty2074.one",
        "a2074.one <= empty2074.one AND a2074.two <= empty2074.one")) {
      assert(rows2074(s"""SELECT rowName() AS rn, a2074.one, a2074.two
        |FROM empty2074 RIGHT JOIN a2074 ON $cond ORDER BY rn""".stripMargin)
        === allPaddedRev, s"reversed RIGHT ON $cond")
      assert(rows2074(s"""SELECT rowName() AS rn, a2074.one, a2074.two
        |FROM empty2074 FULL JOIN a2074 ON $cond ORDER BY rn""".stripMargin)
        === allPaddedRev, s"reversed FULL ON $cond")
    }
  }

  // --- MLDB-1328-join_empty_dataset_test.py --------------------------------

  test("MLDB-1328: GROUP BY an unknown column over an empty dataset is empty") {
    e.createDataset("empty1328", spark.emptyDataFrame)
    assert(q("SELECT uid, count(1) AS size FROM empty1328 GROUP BY uid")
      .count() === 0)
  }

  // --- MLDB-1710-left-right-rowname.py -------------------------------------

  private lazy val ds1710: Unit = {
    e.recordRows("t1710a", """[{"rowName":"x","a":1}]""")
    e.recordRows("t1710b", """[{"rowName":"y","a":1}]""")
    e.recordRows("t1710c", """[{"rowName":"z","a":1}]""")
  }

  test("MLDB-1710: leftRowName/rightRowName in a plain join") {
    ds1710
    val r = one("""SELECT leftRowName() AS l, rightRowName() AS r,
      |rowName() AS rn FROM t1710a JOIN t1710b ON t1710a.a = t1710b.a"""
      .stripMargin)
    assert(r === Row("x", "y", "[x]-[y]"))
  }

  test("MLDB-1710: nested join composes the left side") {
    ds1710
    val r = one("""SELECT leftRowName() AS l, rightRowName() AS r,
      |rowName() AS rn FROM t1710a JOIN t1710b ON t1710a.a = t1710b.a
      |JOIN t1710c ON t1710b.a = t1710c.a""".stripMargin)
    assert(r === Row("[x]-[y]", "z", "[x]-[y]-[z]"))
  }

  test("MLDB-1710: the padded outer side reads as empty string") {
    ds1710
    val r = one("""SELECT leftRowName() AS l, rightRowName() AS r
      |FROM t1710a LEFT JOIN t1710b ON t1710a.a = t1710b.a + 1"""
      .stripMargin)
    assert(r === Row("x", ""))
  }

  test("MLDB-1710: leftRowName/rightRowName raise outside a join") {
    ds1710
    val ex = intercept[IllegalArgumentException](
      q("SELECT leftRowName() AS l FROM t1710a").collect())
    assert(ex.getMessage.contains(
      "Function 'leftRowName' is not available outside of a join"))
    val ex2 = intercept[IllegalArgumentException](
      q("SELECT rightRowName() AS r FROM t1710a").collect())
    assert(ex2.getMessage.contains(
      "Function 'rightRowName' is not available outside of a join"))
  }

  // --- MLDB-1899-duplicated-rows-in-equijoins.py ---------------------------

  test("MLDB-1899: left-join row multiplicities with mixed equi/theta conditions") {
    val rows = (0 until 100).map(i =>
      s"""{"rowName":"$i","c":${i % 10},"const":2}""").mkString(",")
    e.recordRows("left1899", s"[$rows]")
    val rrows = (0 until 100).map(i =>
      s"""{"rowName":"$i","c":${i % 10},"d":${i % 2}}""").mkString(",")
    e.recordRows("right1899", s"[$rrows]")
    def cnt(cond: String): Long =
      one(s"SELECT count(*) AS n FROM left1899 LEFT JOIN right1899 ON $cond")
        .getLong(0)
    // each left row matches 10 right rows on c
    assert(cnt("left1899.c = right1899.c") === 1000L)
    // right condition always false → every left row padded once
    assert(cnt("left1899.c = right1899.c AND 2 < right1899.d") === 100L)
    // right condition true for odd rows → 50 padded + 50×10 matched
    assert(cnt("left1899.c = right1899.c AND right1899.d = 1") === 550L)
    // cross conditions
    assert(cnt("left1899.c = right1899.c AND left1899.const > right1899.d") === 1000L)
    assert(cnt("left1899.c = right1899.c AND left1899.const < right1899.d") === 100L)
    assert(cnt("left1899.c = right1899.c AND left1899.const > right1899.d " +
      "AND right1899.d = 1") === 550L)
  }

  // --- MLDB-1345-having.py (shape replayed on recorded data) ---------------

  test("MLDB-1345: HAVING mixes aggregate and group-key conditions") {
    e.recordRows("ds1345",
      """[{"rowName":"1","sex":"m","cls":1,"age":70},
        |{"rowName":"2","sex":"m","cls":1,"age":30},
        |{"rowName":"3","sex":"m","cls":2,"age":20},
        |{"rowName":"4","sex":"f","cls":1,"age":60},
        |{"rowName":"5","sex":"f","cls":2,"age":10},
        |{"rowName":"6","sex":"f","cls":2,"age":15}]"""
        .stripMargin.replace("\n", ""))
    // having on a bare aggregate
    val r1 = q("""SELECT count(*) AS x FROM ds1345 GROUP BY sex, cls
      |HAVING count(*) > 1""".stripMargin).collect().map(_.getLong(0)).toSeq
    assert(r1.forall(_ > 1) && r1.size === 2)
    // having mixing max(), count() and a group key in AND/OR logic
    val r2 = q("""SELECT max(age) AS ma, count(*) AS n, sex FROM ds1345
      |GROUP BY sex, cls
      |HAVING max(age) < 64 AND (count(*) > 1 OR sex = 'm')
      |ORDER BY ma""".stripMargin).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // groups: (m,1) max 70 filtered; (m,2) passes via sex='m';
    // (f,1) count=1 and sex≠'m' filtered; (f,2) count=2 passes
    assert(r2 === Seq((15L, 2L, "f"), (20L, 1L, "m")))
  }

  // --- MLDB-1554-string-agg.js ---------------------------------------------

  private lazy val ds1554: Unit =
    e.recordRows("t1554",
      """[{"rowName":"0","who":"mustard","what":"moved","how":"kitchen"},
        |{"rowName":"1","who":"plum","what":"moved","how":"kitchen"},
        |{"rowName":"2","who":"mustard","what":"stabbed","how":"plum"},
        |{"rowName":"3","who":"mustard","what":"killed","how":"plum"},
        |{"rowName":"4","who":"plum","what":"died","how":"stabbed"}]"""
        .stripMargin.replace("\n", ""))

  test("MLDB-1554: string_agg with an explicit order key") {
    ds1554
    val rows = q("""SELECT string_agg(what, ', ', rowName()) AS whats,
      |string_agg(how, '', rowName()) AS hows, who AS w
      |FROM t1554 GROUP BY who ORDER BY who""".stripMargin)
      .collect().toSeq.map(r => (r.getString(2), r.getString(0), r.getString(1)))
    assert(rows === Seq(
      ("mustard", "moved, stabbed, killed", "kitchenplumplum"),
      ("plum", "moved, died", "kitchenstabbed")))
  }

  test("MLDB-1554: horizontal_string_agg joins the row's columns in name order") {
    ds1554
    val rows = q("""SELECT horizontal_string_agg({who, what, how}, ', ') AS aggs
      |FROM t1554 ORDER BY rowName()""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(rows === Seq(
      "kitchen, moved, mustard", "kitchen, moved, plum",
      "plum, stabbed, mustard", "plum, killed, mustard",
      "stabbed, died, plum"))
  }

  // --- MLDB-1732-columnCount_in_where.py -----------------------------------

  test("MLDB-1732: wildcard without FROM raises; WHERE columnCount() filters empty rows") {
    val ex = intercept[IllegalArgumentException](q("SELECT *"))
    assert(ex.getMessage.contains("Wildcard usage requires a FROM statement"))
    val ex2 = intercept[IllegalArgumentException](
      q("SELECT * WHERE columnCount() > 0"))
    assert(ex2.getMessage.contains("Wildcard usage requires a FROM statement"))
    e.recordRows("ds1732",
      """[{"rowName":"a","x":1},{"rowName":"b"}]""")
    val rows = q("SELECT rowName() AS rn, x FROM ds1732 WHERE columnCount() > 0")
      .collect().toSeq.map(r => (r.getString(0), r.getLong(1)))
    assert(rows === Seq(("a", 1L)))
  }

  // --- MLDB-1430-aggregate-bug.py ------------------------------------------

  test("MLDB-1430: reading a column with no FROM clause raises") {
    val ex = intercept[IllegalArgumentException](q("SELECT a").collect())
    assert(ex.getMessage.contains("""Cannot read column "a" with no FROM clause."""))
    val ex2 = intercept[IllegalArgumentException](q("SELECT 1 NAMED a").collect())
    assert(ex2.getMessage.contains("""Cannot read column "a" with no FROM clause."""))
  }

  test("MLDB-1430: repeated and mixed aggregates in one projection") {
    e.recordRows("ds1430",
      """[{"rowName":"1","age":20},{"rowName":"2","age":40},{"rowName":"3"}]""")
    val r = one("""SELECT count(*) as x, sum(age) / count(age) as y,
      |count(*) as z FROM ds1430""".stripMargin)
    assert(r === Row(3L, 30.0, 3L))
  }

  // --- MLDB-1507-groupby.py ------------------------------------------------

  test("MLDB-1507: aggregate permutations agree with and without GROUP BY") {
    e.recordRows("ds1507",
      """[{"rowName":"1","age":20,"sex":"m","cls":1},
        |{"rowName":"2","age":40,"sex":"f","cls":1},
        |{"rowName":"3","sex":"m","cls":2}]""".stripMargin.replace("\n", ""))
    // GROUP BY a constant groups everything into one bucket
    assert(one("SELECT count(*) AS n FROM ds1507 GROUP BY 1").getLong(0) === 3L)
    // count over a row argument counts per column
    val r = one("SELECT count({age, sex}) AS c FROM ds1507").getStruct(0)
    assert(r.getAs[Long]("age") === 2L && r.getAs[Long]("sex") === 3L)
    // max({*}) auto-applies per column
    val m = q("SELECT max({*}) AS * FROM ds1507")
    val row = m.head()
    assert(row.getLong(m.columns.indexOf("age")) === 40L)
    assert(row.getString(m.columns.indexOf("sex")) === "m")
    assert(row.getLong(m.columns.indexOf("cls")) === 2L)
    // wildcard + GROUP BY raises (test_groupby_select_star)
    val ex = intercept[IllegalArgumentException](
      q("SELECT * FROM ds1507 GROUP BY cls"))
    assert(ex.getMessage.contains("Wildcard cannot be used with GROUP BY"))
  }

  // --- MLDB-1639-join-where.py ---------------------------------------------

  test("MLDB-1639: ON-less joins filtered by WHERE, atom_dataset as a side") {
    // atom_dataset rows are named by sorted column order:
    // terminator → '0', toy story → '1'
    val r1 = q("""select rowName() AS rn, test1.x from (select 'toy story' as x) as test1
      |join atom_dataset({"toy story": 1, "terminator": 5}) as test2
      |where regex_search(test1.x, test2.column)""".stripMargin)
      .collect().toSeq.map(r => (r.getString(0), r.getString(1)))
    assert(r1 === Seq(("[result]-[1]", "toy story")))
    val r2 = q("""select rowName() AS rn, test1.x, test2.column, test2.value
      |from (select 'toy story' as x) as test1
      |right join atom_dataset({"toy story": 1, "terminator": 5}) as test2
      |where CAST (test1.x AS PATH) = test2.column""".stripMargin)
      .collect().toSeq.map(r => (r.getString(0), r.getString(1), r.getString(2), r.getDouble(3)))
    assert(r2 === Seq(("[result]-[1]", "toy story", "toy story", 1.0)))
    val r3 = q("""select rowName() AS rn, test2.column, test2.value, test1.x
      |from atom_dataset({"toy story": 1, "terminator": 5}) as test2
      |left join (select 'everythingisawesome' as x) as test1
      |on CAST (test2.column AS STRING) = 'toy story'
      |order by rn""".stripMargin)
      .collect().toSeq.map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.get(3)))
    assert(r3 === Seq(
      ("[0]-[]", "terminator", 5.0, null),
      ("[1]-[result]", "toy story", 1.0, "everythingisawesome")))
  }

  // --- MLDB-2169-skip-extra-columns.js / MLDB-1649 trailing comma ----------

  test("MLDB-2169: ignoreExtraColumns truncates wide rows to the header") {
    val df = sources.Sources.importText(spark,
      ReferenceFixture("fixtures/MLDB-2169-skip-extra-columns.csv"),
      sources.Sources.TextImportConfig(encoding = "latin1",
        ignoreExtraColumns = true))
    assert(df.columns.toSeq === Seq("a", "b"))
    val rows = df.collect().toSeq.map(r => (r.getInt(0), r.getInt(1)))
    assert(rows === Seq((1, 2), (3, 4), (5, 6), (5, 6), (5, 6), (5, 6), (9, 10)))
  }

  test("MLDB-1649: a trailing header comma drops the empty last column") {
    val df = sources.Sources.importText(spark,
      ReferenceFixture("dataset/MLDB-1649.csv"))
    assert(df.columns.toSeq === Seq("a", "b", "c"))
    assert(df.collect().toSeq.map(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
      === Seq((1, 2, 3)))
  }

  test("MLDB-1649 guard: a last column GENUINELY named _cN keeps its data") {
    // The drop must key off the raw header line's trailing delimiter,
    // not off Spark's _cN auto-name — a file whose final column is
    // literally called "_c2" is real data, not a trailing comma.
    val f = java.nio.file.Files.createTempFile("graft_c2", ".csv")
    java.nio.file.Files.write(f,
      "a,b,_c2\n1,2,3\n".getBytes("UTF-8"))
    try {
      val df = sources.Sources.importText(spark, f.toString)
      assert(df.columns.toSeq === Seq("a", "b", "_c2"))
      assert(df.collect().toSeq.map(r =>
        (r.getInt(0), r.getInt(1), r.getInt(2))) === Seq((1, 2, 3)))
    } finally java.nio.file.Files.delete(f)
  }

  // --- MLDB-1140-csv_reading_compression_test.py ---------------------------

  test("MLDB-1140: lz4 and zip CSVs import identically to the plain file") {
    import org.apache.spark.sql.types._
    val cfg = sources.Sources.TextImportConfig(
      headers = false,
      headerNames = Seq("uid", "timestamp", "score"),
      delimiter = "\t", offset = 1, named = Some("uid"),
      schema = Some(StructType(Seq(StructField("uid", StringType),
        StructField("timestamp", StringType), StructField("score", DoubleType)))))
    val files = Seq("lz4", "zip").map(ext =>
      ReferenceFixture(s"MLDB-1140-small_score.csv.$ext"))
    val results = for (file <- files) yield {
      val df = sources.Sources.importText(spark, file, cfg)
      assert(df.columns.toSeq === Seq("uid", "timestamp", "score", "rowName"))
      df.orderBy("uid").collect().toSeq.map(_.toString)
    }
    assert(results(0) === results(1) && results(0).nonEmpty)
  }

  // --- MLDBFB-1235-temporal-aggregators.py ---------------------------------

  test("MLDB-1235: superposed cells — aggregates see the latest value, temporal_earliest the first") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val before = java.sql.Timestamp.valueOf("2016-01-01 12:23:34")
    val sometime = java.sql.Timestamp.valueOf("2016-01-02 12:23:34")
    val after = java.sql.Timestamp.valueOf("2016-01-03 12:23:34")
    // the reference's setUpClass: x/y superpositions at three times
    val cells = (1 to 2).flatMap { i =>
      Seq(("row_" + i, "x", -i.toDouble, before), ("row_" + i, "y", i.toDouble, before),
        ("row_" + i, "x", 0.0, sometime), ("row_" + i, "y", 0.0, sometime),
        ("row_" + i, "x", (i + 1).toDouble, after), ("row_" + i, "y", (-i - 1).toDouble, after))
    }
    val eav = cells.toDF("rowName", "column", "num", "ts")
      .select(col("rowName"), col("column"),
        struct(col("num"), lit(null).cast("string").as("str"),
          lit(null).cast("timestamp").as("tsv"),
          lit(null).cast("boolean").as("flag")).as("value"), col("ts"))
    // min(x) reads each row's LATEST x: row_1 → 2, row_2 → 3 → min 2
    val latest = core.Eav.latest(eav)
    val minX = latest.filter(col("column") === "x")
      .agg(min(col("value.num"))).head().getDouble(0)
    assert(minX === 2.0)
    // temporal_earliest(x): row_1 → -1@before, row_2 → -2@before
    val earliest = core.Eav.earliest(eav)
    val ex = earliest.filter(col("column") === "x")
      .orderBy("rowName").collect().toSeq
      .map(r => (r.getString(0), r.getStruct(2).getDouble(0), r.getTimestamp(3)))
    assert(ex === Seq(("row_1", -1.0, before), ("row_2", -2.0, before)))
    // temporal_earliest({*}) as *: every column at its earliest
    val all = earliest.orderBy("rowName", "column").collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getStruct(2).getDouble(0)))
    assert(all === Seq(("row_1", "x", -1.0), ("row_1", "y", 1.0),
      ("row_2", "x", -2.0), ("row_2", "y", 2.0)))
    // and the timeline itself: three distinct timestamps per cell
    val tl = core.Eav.distinctTimestamps(eav)
      .filter(col("rowName") === "row_1" && col("column") === "x")
      .head().getSeq[java.sql.Timestamp](2)
    assert(tl === Seq(before, sometime, after))
  }

  // --- error-message parity: MLDB-1834 / MLDB-1792 / MLDBFB-345 ------------

  test("MLDB-1834: {*} with no FROM raises the reference's error") {
    val ex = intercept[IllegalArgumentException](q("SELECT {*} AS x"))
    assert(ex.getMessage.contains("Cannot use wildcards with no FROM clause"))
  }

  test("MLDB-1792: aggregate arity errors use the reference's message") {
    e.recordRows("ds1792", """[{"rowName":"row1","colA":1}]""")
    val ex = intercept[IllegalArgumentException](
      q("SELECT avg(colA, 2) AS v FROM ds1792").collect())
    assert(ex.getMessage.contains("function avg expected 1 argument, got 2"))
  }

  test("MLDBFB-345: NAMED over a null name raises; works when filtered") {
    e.recordRows("ds345",
      """[{"rowName":"row1","behA":"a"},{"rowName":"row2","behB":"b"}]""")
    // works: only rows with a non-null name survive the WHERE
    assert(q("SELECT behA NAMED behA FROM ds345 WHERE behA IS NOT NULL")
      .collect().length === 1)
    // raises at runtime on the null name
    val ex = intercept[Throwable] {
      q("SELECT behA NAMED behA FROM ds345").collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else String.valueOf(t.getMessage) +: messages(t.getCause)
    assert(messages(ex).exists(_.contains("Can't create a row with a null name")))
  }

  // --- MLDB-1172_column_expr_fail.py ---------------------------------------

  test("MLDB-1172: COLUMN EXPR ordered by rowCount()") {
    e.recordRows("ds1172",
      """[{"rowName":"rowA","feat1":1,"feat2":1,"feat3":1},
        |{"rowName":"rowB","feat1":1,"feat2":1},
        |{"rowName":"rowC","feat1":1}]""".stripMargin.replace("\n", ""))
    val top2 = q("SELECT COLUMN EXPR (ORDER BY rowCount() DESC LIMIT 2) FROM ds1172")
    assert(top2.columns.toSet === Set("feat1", "feat2"))
    val filtered = q("""SELECT COLUMN EXPR (
      |WHERE regex_match(columnName(), 'feat[0-9]')
      |ORDER BY rowCount() DESC LIMIT 2) FROM ds1172""".stripMargin)
    assert(filtered.columns.toSet === Set("feat1", "feat2"))
    // ascending keeps the rarest columns
    val rare = q("SELECT COLUMN EXPR (ORDER BY rowCount() ASC LIMIT 1) FROM ds1172")
    assert(rare.columns.toSet === Set("feat3"))
  }

  test("COLUMN EXPR rowCount() over a join counts each frame's own columns") {
    // The stats pass used to count every in-scope name against
    // frames.head only — right-side columns threw AnalysisException.
    e.recordRows("ds1172L",
      """[{"rowName":"r1","k":1,"lval":1},{"rowName":"r2","k":2,"lval":1},
        |{"rowName":"r3","k":3}]""".stripMargin.replace("\n", ""))
    e.recordRows("ds1172R",
      """[{"rowName":"r1","k":1,"rval":1},{"rowName":"r2","k":2}]"""
        .stripMargin.replace("\n", ""))
    val out = q("""SELECT COLUMN EXPR (
      |WHERE columnName() != 'k' ORDER BY rowCount() DESC LIMIT 1)
      |FROM ds1172L AS l JOIN ds1172R AS r ON l.k = r.k""".stripMargin)
    // lval has 2 non-null rows on its frame, rval 1 → lval wins
    assert(out.columns.toSet === Set("lval"))
  }

  // --- MLDBFB-401 / MLDB-1212 robustness -----------------------------------

  test("MLDBFB-401: WHERE on an unknown column reads NULL, never errors") {
    e.createDataset("ds401", spark.emptyDataFrame)
    assert(q("SELECT rowName() AS rn FROM ds401 WHERE someCol IS NOT NULL")
      .count() === 0)
    e.recordRows("ds401b", """[{"rowName":"r1","x":1}]""")
    assert(q("""SELECT rowName() AS rn FROM ds401b WHERE "someCol" IS NOT NULL""")
      .count() === 0)
    assert(q("SELECT rowName() AS rn FROM ds401b WHERE someCol IS NULL")
      .count() === 1)
  }

  test("MLDB-1212: long quoted CSV fields import intact") {
    val tmp = java.nio.file.Files.createTempFile("graft_1212", ".csv")
    val w = new java.io.PrintWriter(tmp.toFile, "UTF-8")
    w.println("a,b")
    for (n <- Seq(50, 100, 1000, 10000))
      w.println("1,\"" + Seq.fill(n)("word ").mkString(" ") + "\"")
    w.close()
    val df = sources.Sources.importText(spark, tmp.toString)
    assert(df.count() === 4)
    val maxLen = df.agg(org.apache.spark.sql.functions
      .max(org.apache.spark.sql.functions.length(
        org.apache.spark.sql.functions.col("b")))).head().getInt(0)
    assert(maxLen > 50000)
  }

  // --- MLDB-1661-function-name-conflict.py ---------------------------------

  test("MLDB-1661: registering a function with a builtin's name raises") {
    val ex = intercept[IllegalArgumentException](
      e.createSqlExpressionFunction("temporal_earliest", "1 AS x"))
    assert(ex.getMessage.contains("MLDB already has a built-in function named"))
    val ex2 = intercept[IllegalArgumentException](
      e.createScriptFunction("tokenize", "1", Nil))
    assert(ex2.getMessage.contains("MLDB already has a built-in function named"))
  }

  // --- MLDB-1320-sql-query-whole-table.js / MLDB-1841 pipeline -------------

  test("MLDB-1320: sql.query NAMED_COLUMNS pivots into one wide row") {
    e.recordRows("t1320",
      """[{"rowName":"all systems","value":"GO"},{"rowName":"hello","value":"world"}]""")
    e.createSqlQueryRowFunction("poil",
      "SELECT value, rowName() AS \"column\" FROM t1320 ORDER BY rowName()",
      output = "NAMED_COLUMNS")
    val df = q("SELECT poil()[output] as *")
    assert(df.columns.toSet === Set("all systems", "hello"))
    val r = df.head()
    assert(r.getString(df.columns.indexOf("all systems")) === "GO")
    assert(r.getString(df.columns.indexOf("hello")) === "world")
  }

  test("MLDB-1841: a DISTINCT ON sql.query function applies as a row") {
    e.recordRows("t1841p",
      """[{"rowName":"row1","x":1,"y":1},{"rowName":"row2","x":2,"y":2},
        |{"rowName":"row3","x":1,"y":3}]""".stripMargin.replace("\n", ""))
    e.createSqlQueryRowFunction("mydistinct",
      "SELECT DISTINCT ON (x) x, y FROM t1841p ORDER BY x, y")
    val r = q("SELECT mydistinct() as *").head()
    assert(r === Row(1L, 1L))
  }

  // --- MLDB-410-set-output-rowname.js --------------------------------------

  test("MLDB-410: string + concatenates; NAMED rowName() + suffix renames rows") {
    e.recordRows("ds410",
      """[{"rowName":"ex1","x":0,"y":0,"label":"cat"},
        |{"rowName":"ex2","x":1,"y":1,"label":"dog"},
        |{"rowName":"ex3","x":1,"y":2,"label":"cat"}]"""
        .stripMargin.replace("\n", ""))
    val rows = q("""SELECT x, y, label NAMED rowName() + '_transformed'
      |FROM ds410 ORDER BY rowName() DESC""".stripMargin)
      .collect().toSeq.map(r => r.getString(0))
    assert(rows === Seq("ex3_transformed", "ex2_transformed", "ex1_transformed"))
    // one-sided string + stringifies the other side (binaryPlus)
    assert(one("SELECT 1 + 'a' AS v").getString(0) === "1a")
    assert(one("SELECT 'a' + 2 AS v").getString(0) === "a2")
  }

  test("MLDB-410 family: timestamp plus integer counts days") {
    val r = one("SELECT TIMESTAMP '2015-01-01T00:00:00Z' + 3 AS fwd, " +
      "TIMESTAMP '2015-01-10T00:00:00Z' - 9 AS back")
    assert(r.getAs[java.sql.Timestamp]("fwd")
      === java.sql.Timestamp.valueOf("2015-01-04 00:00:00"))
    assert(r.getAs[java.sql.Timestamp]("back")
      === java.sql.Timestamp.valueOf("2015-01-01 00:00:00"))
  }

  // --- MLDB-1601-unclosed-string-error-message.js --------------------------

  test("MLDB-1601: parse errors locate the problem as line:column") {
    val q1 = "SELECT 'this is an unclosed string \n" +
      "        with lots of lines \n" +
      "        but no closing quote"
    val ex = intercept[IllegalArgumentException](graft.sql.Parser.parse(q1))
    assert(ex.getMessage.contains("1:8"), ex.getMessage)
    val q2 = "SELECT \"this is an unclosed identifier \n" +
      "        with lots of lines \n" +
      "        but no closing quote"
    val ex2 = intercept[IllegalArgumentException](graft.sql.Parser.parse(q2))
    assert(ex2.getMessage.contains("1:8"), ex2.getMessage)
    // a mid-statement syntax error reports its own location
    val ex3 = intercept[IllegalArgumentException](
      graft.sql.Parser.parse("SELECT a FROM t\nWHERE (a + )"))
    assert("\\d+:\\d+".r.findFirstIn(ex3.getMessage).isDefined, ex3.getMessage)
  }

  // --- MLDB-1033 family: INTERVAL cell type --------------------------------

  test("MLDB-1033: CAST AS interval and timestamp arithmetic") {
    // numeric seconds → day-time interval
    val r = one("SELECT CAST(90 AS interval) AS iv, " +
      "TIMESTAMP '2015-02-02T00:00:00Z' + CAST(3600 AS interval) AS later")
    assert(r.get(0) === java.time.Duration.ofSeconds(90))
    assert(r.getAs[java.sql.Timestamp]("later")
      === java.sql.Timestamp.valueOf("2015-02-02 01:00:00"))
  }

  // --- MLDB-1703_null_char_import.py ---------------------------------------

  test("MLDB-1703: control bytes replace with the configured character") {
    val df = sources.Sources.importText(spark,
      ReferenceFixture("dataset/MDLB-1703_data.csv"),
      sources.Sources.TextImportConfig(
        named = Some("rowName"), select = "* EXCLUDING(rowName)",
        replaceInvalidCharactersWith = Some(" ")))
    val name = df.select(org.apache.spark.sql.functions.col("name"))
      .head().getString(0)
    assert(!name.exists(c => c < ' ' && c != '\t'), s"control bytes survive: $name")
    assert(name.contains("Mobi Hola b") && name.contains("Bouya Hoho"))
  }

  // --- MLDB-162-min-max-function.py ----------------------------------------

  test("MLDB-162: arithmetic over and between aggregates") {
    val rows = (0 until 10).map(i =>
      s"""{"rowName":"row_$i","x":$i,"y":${i % 2}}""").mkString(",")
    e.recordRows("ds162", s"[$rows]")
    assert(one("SELECT 1 + sum(x + 1) AS sum_x FROM ds162").getLong(0) === 56L)
    assert(one("SELECT sum(x) + max(x) AS sum_max_x FROM ds162").getLong(0) === 54L)
    val r = one("SELECT sum(x) as sum_x, max(x) as max_x FROM ds162")
    assert(r === Row(45L, 9L))
    val r2 = one("SELECT 3 + min(x) as col1, sum(y) / 2 as col2 FROM ds162")
    assert(r2.getLong(0) === 3L && r2.getDouble(1) === 2.5)
    val r3 = one("SELECT max(x) + max(x) as col1, max(x) - max(x) as col2 FROM ds162")
    assert(r3 === Row(18L, 0L))
  }
}
