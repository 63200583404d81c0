package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Eighth batch of replays of the reference's OWN regression tests.
  * Each test cites the `/root/reference/testing/` file it reproduces
  * and asserts that file's expected values verbatim. */
class ReferenceParitySpec8 extends AnyFunSuite {

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

  // --- MLDB-619_newlines_in_sql.py -----------------------------------------

  test("MLDB-619: newlines inside query text parse") {
    e.recordRows("x619", """[{"rowName":"rowname","colname":0}]""")
    assert(q("select * from x619").count() === 1)
    assert(q("select *\nfrom x619").count() === 1)
  }

  // --- MLDB-797-nested_sql_expressions.py ----------------------------------

  test("MLDB-797: void sql.expression (*) nests through another") {
    e.recordRows("ds797",
      """[{"rowName":"row_0","x":1,"y":2},
         |{"rowName":"row_1","x":1,"y":3},
         |{"rowName":"row_2","y":4}]""".stripMargin)
    e.createSqlExpressionFunction("patate797", "*")
    e.createSqlExpressionFunction("poil797", "patate797({*})")
    val r = q("SELECT poil797({*}) AS p from ds797")
    assert(r.count() === 3)
    // the void expression passes the whole input row through
    val fields = r.schema("p").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSet
    assert(fields === Set("x", "y"))
  }

  // --- MLDB-1933-subselect-flatten.py --------------------------------------

  test("MLDB-1933: COLUMN EXPR STRUCTURED (SELECT const) replaces values") {
    val r = q("SELECT COLUMN EXPR STRUCTURED (SELECT 1) " +
      "FROM (SELECT [2,3] as x, [4,5] as y)")
    assert(r.columns.toSeq === Seq("x", "y"))
    assert(r.head().toSeq === Seq(1, 1))
  }

  test("MLDB-1933: COLUMN EXPR STRUCTURED (SELECT norm(value(), 2))") {
    val r = q("SELECT COLUMN EXPR STRUCTURED (SELECT norm(value(), 2)) " +
      "FROM (SELECT [2,3] as x, [4,5] as y)")
    assert(r.head().getDouble(0) === 3.605551275463989)
    assert(r.head().getDouble(1) === 6.4031242374328485)
  }

  // --- MLDB-1840_empty_str_paths.py ----------------------------------------

  test("MLDB-1840: 1-arg parse_json AS * infers the schema at plan time") {
    // (the reference also yields an empty-named column for the "" key;
    // Spark's JSON inference drops empty keys — pinned divergence)
    val r = q("""SELECT parse_json('{"": 5, "pwet":10}') AS *""")
    assert(r.columns.toSeq === Seq("pwet"))
    assert(r.head().getLong(0) === 10L)
    // named column through a subselect
    val r2 = q("""SELECT pwet FROM (
      SELECT parse_json('{"": 5, "pwet":10}') AS *)""")
    assert(r2.head().getLong(0) === 10L)
  }

  // --- MLDB-915-pivot-transform.py -----------------------------------------

  test("MLDB-915: pivot AS * with composed group row names") {
    e.recordRows("ex915",
      """[{"rowName":"r1","person":"nick","thing":"appl","has":1},
         |{"rowName":"r2","person":"nick","thing":"goog","has":2},
         |{"rowName":"r3","person":"francois","thing":"appl","has":3},
         |{"rowName":"r4","person":"francois","thing":"tsla","has":4}]"""
        .stripMargin)
    val r = q("select rowName() as rowName, pivot(thing, has) as * " +
      "from ex915 group by person")
    assert(r.columns.filterNot(_ == "rowName").toSeq
      === Seq("appl", "goog", "tsla"))
    val rows = r.collect().map(x =>
      x.getString(r.columns.indexOf("rowName")) ->
        r.columns.filterNot(_ == "rowName").map(c =>
          Option(x.get(r.columns.indexOf(c))).map(_.toString)).toSeq).toMap
    // group rows are named by their quoted key, Path-printed with
    // doubled quotes (the reference pins "[""nick""]" — MLDB-363)
    val nick = "\"[\"\"nick\"\"]\""
    val francois = "\"[\"\"francois\"\"]\""
    assert(rows.keySet === Set(nick, francois))
    assert(rows(nick) === Seq(Some("1"), Some("2"), None))
    assert(rows(francois) === Seq(Some("3"), None, Some("4")))
  }

  // --- MLDB-801-from-table-expression.js -----------------------------------

  test("MLDB-801: join condition with IS NOT NULL prunes null sides") {
    e.recordRows("t801a",
      """[{"rowName":"ex1","x":1,"y":2},{"rowName":"ex2","x":2,"z":4},
         |{"rowName":"ex3","z":3}]""".stripMargin)
    e.recordRows("t801b",
      """[{"rowName":"ex4","x":1,"z":2},{"rowName":"ex5","x":2,"z":2},
         |{"rowName":"ex6","z":3}]""".stripMargin)
    val r = q("select rowName() AS rn from t801a as a join t801b as b " +
      "on a.x = b.x and a.y is not null")
    assert(r.collect().toSeq.map(_.getString(0)) === Seq("[ex1]-[ex4]"))
  }

  // --- MLDB-995-sub-query-sparse.js ----------------------------------------

  test("MLDB-995: a sub-query star select is the identity") {
    e.recordRows("t995",
      (0 until 50).map(i =>
        s"""{"rowName":"r$i","a":$i,"b":"s$i"}""").mkString("[", ",", "]"))
    val direct = q("select * from t995 order by rowName() limit 10")
      .collect().toSeq.map(_.toSeq)
    val nested = q("select * from (select * from t995) " +
      "order by rowName() limit 10").collect().toSeq.map(_.toSeq)
    assert(direct === nested)
  }

  // --- MLDB-1026-slow-not-in.js --------------------------------------------

  test("MLDB-1026: rowName() NOT IN (subselect) plans as an anti join") {
    e.recordRows("t1026a",
      (0 until 500).map(i => s"""{"rowName":"r$i","v":$i}""")
        .mkString("[", ",", "]"))
    e.recordRows("t1026b",
      (0 until 550).map(i => s"""{"rowName":"r$i","v":$i}""")
        .mkString("[", ",", "]"))
    val r = q("select count(*) as n from t1026b " +
      "where rowName() not in (select rowName() from t1026a)")
    assert(r.head().getLong(0) === 50L)
    val plan = r.queryExecution.executedPlan.toString
    // the reference's fix made this sub-second; the distributed analog
    // is a hash anti join, never a cartesian product
    assert(plan.contains("Anti"), plan.take(400))
    assert(!plan.contains("CartesianProduct"))
  }

  // --- MLDB-618_rowcol_named_0.py ------------------------------------------

  test("MLDB-618: numeric row and column names record and read back") {
    val rows = (0 until 20).map(i =>
      s"""{"rowName":"$i","0":${i * 2},"1":${i * 3}}""")
      .mkString("[", ",", "]")
    e.recordRows("t618", rows)
    assert(q("select * from t618").count() === 20)
    assert(q("""select "0" as a from t618 where rowName() = '3'""")
      .head().getLong(0) === 6L)
  }

  // --- MLDB-605-timestamp-query.js -----------------------------------------

  test("MLDB-605: per-cell latest_timestamp comparisons (EAV)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val t1 = java.sql.Timestamp.valueOf("2015-01-01 00:00:00")
    val t2 = java.sql.Timestamp.valueOf("2015-01-02 00:00:00")
    val cells = Seq(
      ("row1_imp_then_click", "imp", t1), ("row1_imp_then_click", "click", t2),
      ("row2_click_then_imp", "click", t1), ("row2_click_then_imp", "imp", t2),
      ("row3_click_and_imp", "click", t1), ("row3_click_and_imp", "imp", t1))
    val eav = cells.toDF("rowName", "column", "ts")
      .select(col("rowName"), col("column"),
        struct(lit(0.0).as("num"), lit(null).cast("string").as("str"),
          lit(null).cast("timestamp").as("tsv"),
          lit(null).cast("boolean").as("flag")).as("value"), col("ts"))
    // latest_timestamp(col) = max cell ts; pivot per row and compare
    val byRow = eav.groupBy("rowName")
      .agg(max(when(col("column") === "imp", col("ts"))).as("imp_ts"),
        max(when(col("column") === "click", col("ts"))).as("click_ts"))
    def names(cond: org.apache.spark.sql.Column): Seq[String] =
      byRow.filter(cond).select("rowName").collect().toSeq.map(_.getString(0))
    assert(names(col("imp_ts") < col("click_ts"))
      === Seq("row1_imp_then_click"))
    assert(names(col("click_ts") < col("imp_ts"))
      === Seq("row2_click_then_imp"))
    assert(names(col("click_ts") === col("imp_ts"))
      === Seq("row3_click_and_imp"))
  }

  // --- MLDB-1092_conf_interval.py ------------------------------------------

  test("MLDB-1092: binomial confidence bounds pin the reference values") {
    val r = q("SELECT binomial_ub_80(200, 35) as ub, " +
      "binomial_lb_80(200, 35) as lb").head()
    assert(math.abs(r.getDouble(0) - 0.2120410) < 0.001)
    assert(math.abs(r.getDouble(1) - 0.143) < 0.001)
    e.recordRows("toy1092",
      """[{"rowName":"u1","trials":200,"succ":35},
         |{"rowName":"u2","trials":500,"succ":35}]""".stripMargin)
    val rows = q("SELECT binomial_ub_80(trials, succ) as ub, " +
      "binomial_lb_80(trials, succ) as lb from toy1092 " +
      "order by rowName() ASC").collect()
    assert(math.abs(rows(0).getDouble(0) - 0.212) < 0.001)
    assert(math.abs(rows(0).getDouble(1) - 0.143) < 0.001)
    assert(math.abs(rows(1).getDouble(1) - 0.0567) < 0.001)
  }

  // --- MLDB-1126_stemming.py -----------------------------------------------

  test("MLDB-1126: stemmer merges same-stem columns; stemmerdoc keeps case") {
    val r = q("SELECT stemmer({words: {tokenize('I like having lots', " +
      "{splitChars:' '}) as *}}) as *")
    // the typed engine keeps the output row as a struct column
    // (the reference flattens to dotted words.* — MLDB-668/832 pin)
    val wordsIdx = r.columns.indexOf("words")
    val s = r.head().getStruct(wordsIdx)
    val vals = s.schema.fieldNames.zip(s.toSeq).toMap
    assert(vals("lot").toString.toDouble === 1.0)
    assert(vals("have").toString.toDouble === 1.0)
    assert(vals("I").toString.toDouble === 1.0)
    // MLDB-1147: stemmerdoc stems a whole document, preserving 'I'
    assert(q("SELECT stemmerdoc({document: 'I like having lots'})" +
      "[document] AS s").head().getString(0) === "I like have lot")
  }

  // --- MLDB-1322-sum_stem_token.py -----------------------------------------

  test("MLDB-1322: the tokenize → stem → sum staircase") {
    e.recordRows("veggies",
      """[{"rowName":"row_0","txt":"potato,carrots","label":0},
         |{"rowName":"row_1","txt":"potato,potatoes,potato","label":0},
         |{"rowName":"row_2","txt":"carrot,carrots","label":1}]"""
        .stripMargin)
    // step 1: tokenize AS *
    val t1 = q("SELECT tokenize(txt) as *, label FROM veggies " +
      "ORDER BY rowName()")
    assert(t1.columns.toSet ===
      Set("carrot", "carrots", "potato", "potatoes", "label"))
    // step 2: stem merges potato+potatoes per row
    val t2 = q("SELECT stem({words: {tokenize(txt) as *}})[words] as *, " +
      "label FROM veggies ORDER BY rowName()")
    assert(t2.columns.toSeq === Seq("carrot", "potato", "label"))
    assert(t2.collect().map(_.toSeq).toSeq === Seq(
      Seq(1.0, 1.0, 0L), Seq(null, 3.0, 0L), Seq(2.0, null, 1L)))
    // step 3: sum over the whole corpus
    val t3 = q("SELECT sum(stem({words: {tokenize(txt) as *}})[words]) " +
      "as * FROM veggies")
    assert(t3.columns.toSeq === Seq("carrot", "potato"))
    assert(t3.head().toSeq === Seq(3.0, 4.0))
    // step 4: grouped by label
    val t4 = q("SELECT sum(stem({words: {tokenize(txt) as *}})[words]) " +
      "as * FROM veggies GROUP BY label ORDER BY label")
    assert(t4.collect().map(_.toSeq).toSeq
      === Seq(Seq(1.0, 4.0), Seq(2.0, null)))
    // step 6 shape: a direct bag argument (no literal wrapper)
    val t6 = q("SELECT sum(stem({words: tokenize(txt)})[words]) as * " +
      "FROM veggies")
    assert(t6.head().toSeq === Seq(3.0, 4.0))
  }

  // --- MLDB-1030_apply_stopwords.py ----------------------------------------

  test("MLDB-1030: filter_stopwords drops stopword-named bag columns") {
    e.recordRows("toy1030",
      """[{"rowName":"elem1","title":"patate where when poire when"},
         |{"rowName":"elem2","title":"allo where what he a allo"}]"""
        .stripMargin)
    e.runProcedure("transform", Map(
      "inputQuery" -> ("select tokenize(title, {splitChars:' ', " +
        "quoteChar:'', minTokenLength: 2}) as * from toy1030"),
      "outputDataset" -> "bow1030").get _)
    val r = q("select filter_stopwords({words: {*}})[words] as w " +
      "from bow1030 order by rowName() ASC")
    val rows = r.collect()
    def liveFields(row: org.apache.spark.sql.Row): Set[String] = {
      val s = row.getStruct(0)
      s.schema.fieldNames.zipWithIndex.collect {
        case (f, i) if !s.isNullAt(i) => f
      }.toSet
    }
    assert(liveFields(rows(0)) === Set("patate", "poire"))
    assert(liveFields(rows(1)) === Set("allo"))
  }

  // --- MLDB-1808_precision_loss_issue.py -----------------------------------

  test("MLDB-1808: doubles keep full precision through storage and aggregates") {
    val n1 = 71218.50311678024
    val n2 = 255650.6226198759
    e.recordRows("ds1808",
      s"""[{"rowName":"1","a":$n1},{"rowName":"2","a":$n2}]""")
    assert(q("SELECT a FROM ds1808 WHERE rowName() = '1'")
      .head().getDouble(0) === n1)
    assert(q(s"SELECT $n2 AS v").head().getDouble(0) === n2)
    assert(q("SELECT sum(a) AS s FROM ds1808").head().getDouble(0)
      === n1 + n2)
    assert(q("SELECT avg(a) AS s FROM ds1808").head().getDouble(0)
      === (n1 + n2) / 2)
  }

  // --- MLDB-871-json-non-ascii-keys.js -------------------------------------

  test("MLDB-871: non-ASCII literals survive the no-FROM select") {
    val r = q("select 'ç' AS c")
    assert(r.head().getString(0) === "ç")
    val rn = q("select rowName() AS rn, 'ç' AS c").head()
    assert(rn.getString(0) === "result")
  }

  // --- MLDB-788_rowname_date_in_transform.py -------------------------------

  test("MLDB-788: rowName() selected into a transform re-reads cleanly") {
    e.recordRows("ds788", """[{"rowName":"row_0","x":0}]""")
    e.runProcedure("transform", Map(
      "inputQuery" -> "SELECT x, 1 as y, rowName() as rowname FROM ds788",
      "outputDataset" -> "ds788out").get _)
    val r = q("select x, y, rowname from ds788out").head()
    assert(r.getLong(0) === 0L)
    assert(r.get(1).toString === "1")
    assert(r.getString(2) === "row_0")
  }

  // --- MLDB-895-fuzz-cases.py ----------------------------------------------

  test("MLDB-895: fuzzer-derived precedence and tokenizer pins") {
    // % binds tighter than IN: 1 % 2 IN (4) ≡ (1%2) IN (4) = false,
    // and `2IN` lexes as the number 2 then the keyword IN
    assert(q("select 1 % 2IN (4) as v").head().getBoolean(0) === false)
    // `--` starts a comment: select 01--… ≡ select 1
    assert(q("select 01--1%0e83^ 2 + (9)").head().get(0).toString === "1")
    // boolean members of an IN list coerce to 1/0 cells:
    // 2 IN (-12, true, true, false, 11) = 2 IN (-12,1,1,0,11) = false
    assert(q("select 2IN (-1%1-11,1IN (21%1,11),1%1%1IN (31%1,11)," +
      "1%1<1%1,11) as v").head().getBoolean(0) === false)
    // `{~9as*}` is an error there and here
    assertThrows[Exception] { q("select {~9as*}").collect() }
    // CAST of the mod-by-zero NaN to timestamp: the reference fails
    // the query; IEEE semantics here carry it as NULL (error-as-data
    // posture — documented divergence, same family as try(1/0) = Inf)
    assert(q("select CAST (61971-71%0 AS timestamp) as v")
      .head().isNullAt(0))
  }

  // --- MLDB-2186-empty-array.py --------------------------------------------

  test("MLDB-2186: sum over a prefixed bag survives empty bags") {
    e.recordRows("d2186",
      """[{"rowName":"row2","text":"one,two"},
         |{"rowName":"row4","text":""}]""".stripMargin)
    // the reference crashed on the empty tokenize bag; the prefixed
    // star expands the bag's keys (plan-time pass) and the empty row
    // contributes nulls
    val r = q("SELECT sum({labels.* AS *}) AS * FROM (SELECT " +
      "tokenize(text, {splitChars:',',quoteChar:''}) AS labels FROM d2186)")
    assert(r.columns.toSeq === Seq("one", "two"))
    assert(r.head().toSeq.map(_.toString.toDouble) === Seq(1.0, 1.0))
  }

  // --- MLDB-327-sum-aggregate.js -------------------------------------------

  test("MLDB-327: sum and vertical_sum group identically with composed names") {
    e.recordRows("t327",
      """[{"rowName":"ex1","x":0,"y":0,"label":"cat"},
         |{"rowName":"ex2","x":1,"y":1,"label":"dog"},
         |{"rowName":"ex3","x":1,"y":2,"label":"cat"}]""".stripMargin)
    val rows = q("select rowName() as rn, label, sum(x) as sx, " +
      "vertical_sum(y) as sy from t327 group by label order by label")
      .collect().toSeq.map(_.toSeq)
    // Path-printed group names with doubled quotes (MLDB-363 pin)
    assert(rows === Seq(
      Seq("\"[\"\"cat\"\"]\"", "cat", 1L, 2L),
      Seq("\"[\"\"dog\"\"]\"", "dog", 1L, 1L)))
  }

  // --- MLDB-1935-const-binding.py / MLDB-1984-constant-functions.js --------

  test("MLDB-1935/1984: static constancy introspection") {
    e.recordRows("ds1935", """[{"rowName":"row1","a":1}]""")
    def isconst(expr: String): Boolean =
      q(s"SELECT __isconst($expr) as isconst FROM ds1935")
        .head().getBoolean(0)
    assert(isconst("a") === false)
    assert(isconst("1") === true)
    assert(isconst("a < 1") === false)
    assert(isconst("1 < 2") === true)
    assert(isconst("a + 1") === false)
    assert(isconst("1 + 2") === true)
    assert(isconst("-a") === false)
    assert(isconst("-1") === true)
    // MLDB-1984: the structured form — the reference's JSON carries
    // isConstant as 1/0 (MLDB-1317's pinned table)
    assert(q("SELECT static_expression_info(pi())[\"info\"][isConstant] " +
      "as isRow").head().getInt(0) === 1)
  }

  // --- MLDB-1950-crash-in-merge.py -----------------------------------------

  test("MLDB-1950: merge of subselects with duplicate row names survives") {
    // the reference SKIPS this (open crash); the typed merge aligns
    // the duplicate 'name' rows instead
    e.recordRows("d1950",
      """[{"rowName":"rowname0","col":1},{"rowName":"rowname1","col":1}]""")
    val r = q("SELECT * from merge(" +
      "(SELECT * NAMED 'name' FROM d1950), " +
      "(SELECT * NAMED 'name' FROM d1950))")
    assert(r.count() >= 1) // no crash; rows align on the shared name
  }

  // --- MLDB-2043_tabular_big_int.py ----------------------------------------

  test("MLDB-2043: 64-bit integers round-trip through record and query") {
    e.recordRows("d2043",
      """[{"rowName":"first row","first column":9936626511},
         |{"rowName":"second row","first column":0}]""".stripMargin)
    val rows = q("select \"first column\" as c from d2043 " +
      "order by rowName() ASC").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(9936626511L, 0L))
  }

  // --- MLDB-2064_transform_proc_row_expr.py --------------------------------

  test("MLDB-2064: transform over row_dataset with a quoted space name") {
    val query2064 = "SELECT * FROM row_dataset({\"My Value\": 1})"
    val good = q(query2064).collect().map(_.toSeq).toSeq
    e.runProcedure("transform", Map("inputQuery" -> query2064,
      "outputDataset" -> "keywords2064").get _)
    val back = q("select * from keywords2064").collect().map(_.toSeq).toSeq
    assert(back === good)
    assert(good.head.contains("My Value"))
  }

  // --- MLDB-2119_segfault_transform_no_input.py ----------------------------

  test("MLDB-2119: a transform without inputData raises the reference's message") {
    val ex = intercept[IllegalArgumentException] {
      e.runProcedure("transform", _ => None)
    }
    assert(ex.getMessage.contains("You need to define inputData"))
  }

  // --- MLDB-775_hashbucket_feat_gen.py -------------------------------------

  test("MLDB-775: feature_hasher buckets by columns or columnsAndValues") {
    e.recordRows("toy775",
      (0 until 5).map(i =>
        s"""{"rowName":"example-$i","fwin":$i,"fwine":${i * 2},""" +
          s""""fwinette":${Seq(0, 1, 16, 81, 256)(i)}}""")
        .mkString("[", ",", "]"))
    // 2^numBits buckets named hashColumn0..3
    val r = q("select feature_hasher({columns: {*}, numBits: 2, " +
      "mode: 'columns'})[hash] as * from toy775 order by rowName()")
    assert(r.columns.toSeq ===
      (0 until 4).map(i => s"hashColumn$i"))
    // column→bucket assignment is static, so each row's bucket sums
    // equal the row's total cell sum
    val sums = r.collect().map(_.toSeq.map(_.toString.toDouble).sum)
    assert(sums.toSeq === Seq(0.0, 4.0, 22.0, 90.0, 268.0))
    // columnsAndValues buckets differ from columns mode for some row
    val both = q("select feature_hasher({columns: {*}, numBits: 2, " +
      "mode: 'columns'})[hash] as a, feature_hasher({columns: {*}, " +
      "numBits: 2, mode: 'columnsAndValues'})[hash] as b from toy775")
      .collect()
    assert(both.exists(row =>
      row.getStruct(0).toSeq != row.getStruct(1).toSeq))
  }

  // --- MLDB-865-javascript-unicode.js --------------------------------------

  test("MLDB-865: unicode dataset ids register, query and drop") {
    e.recordRows("hellô", """[{"rowName":"r","x":1}]""")
    assert(q("select * from \"hellô\"").count() === 1)
    assert(e.listDatasets.contains("hellô"))
    e.dropDataset("hellô")
    assert(!e.listDatasets.contains("hellô"))
  }

  // --- MLDB-505-in-expression.py -------------------------------------------

  test("MLDB-505: IN / NOT IN lists and subselects count exactly") {
    e.recordRows("ds505",
      (0 until 5).map(i => s"""{"rowName":"row_$i","x":$i,"y":${i * 2}}""")
        .mkString("[", ",", "]"))
    assert(q("SELECT * FROM ds505 WHERE y IN (4,8)").count() === 2)
    assert(q("SELECT * FROM ds505 WHERE y NOT IN (4,8)").count() === 3)
    assert(q("SELECT x FROM ds505 WHERE x IN (SELECT y from ds505)")
      .count() === 3)
    assert(q("SELECT x FROM ds505 WHERE x NOT IN (SELECT y from ds505)")
      .count() === 2)
  }

  // --- MLDB-974-slow-subquery.js -------------------------------------------

  test("MLDB-974: aggregates over a grouped subselect on cast rowName") {
    e.recordRows("ds974",
      (0 until 60).map(i =>
        s"""{"rowName":"${i % 20}","v":$i}""").mkString("[", ",", "]"))
    val r = q("select min(cnt) as mn, max(cnt) as mx from " +
      "(select count(*) as cnt from ds974 " +
      "group by cast (rowName() as number)) limit 10").head()
    assert((r.getLong(0), r.getLong(1)) === ((3L, 3L)))
  }

  // --- MLDB-1119_pooling_function.py ---------------------------------------

  test("MLDB-1119: pooling aggregates word embeddings of a bag of words") {
    e.recordRows("wordEmbedding",
      """[{"rowName":"allo","x":0.2,"y":0},{"rowName":"mon","x":0.8,"y":0.95},
         |{"rowName":"beau","x":0.4,"y":0.01},{"rowName":"coco","x":0,"y":0.5}]"""
        .stripMargin)
    e.recordRows("bag_o_words",
      """[{"rowName":"doc1","allo":1,"coco":1},
         |{"rowName":"doc2","allo":1,"mon":1,"beau":1},
         |{"rowName":"doc3","patate":1},{"rowName":"doc4","j'ai":1}]"""
        .stripMargin)
    val rows = q("select pooling({words: {*}, embeddingDataset: " +
      "'wordEmbedding', aggregators: ['avg','max']})[embedding] " +
      "as word2vec from bag_o_words order by rowName()")
      .collect().map(_.getSeq[Double](0))
    // [avg x, avg y, max x, max y] — the reference's assert_val pins
    assert(math.abs(rows(0)(2) - 0.2) < 0.0001)  // doc1 max x
    assert(math.abs(rows(1)(1) - 0.32) < 0.0001) // doc2 avg y
    // unmatched words pool to ZEROS, not null (MLDB-1733)
    assert(rows(2) === Seq(0.0, 0.0, 0.0, 0.0))
    assert(rows(3) === Seq(0.0, 0.0, 0.0, 0.0))
  }

  // --- MLDB-1104-input-data-spec.py / MLDB-788 structured inputData --------

  test("MLDB-1104: transform accepts the structured inputData form") {
    e.recordRows("ds1104",
      (0 until 10).map(i => s"""{"rowName":"r$i","x":$i}""")
        .mkString("[", ",", "]"))
    val out = e.runProcedure("transform", Map(
      "select" -> "x, x * 2 as y",
      "from" -> "ds1104",
      "where" -> "x >= 4",
      "orderBy" -> "x",
      "limit" -> "3",
      "outputDataset" -> "ds1104out").get _)
    assert(out.contains("\"rowCount\": 3"))
    val rows = q("select x, y from ds1104out order by x").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq
      === Seq((4L, 8L), (5L, 10L), (6L, 12L)))
  }

  // --- MLDB-909-simple-WHEN-expression.py ----------------------------------

  test("MLDB-909: WHEN value_timestamp() BETWEEN two timestamps") {
    import spark.implicits._
    val rows = (0 until 10).map { i =>
      val ts =
        if (i == 9) java.sql.Timestamp.valueOf("2030-01-01 00:00:00")
        else java.sql.Timestamp.valueOf("2015-06-01 00:00:00")
      (i.toString, i.toString, ts)
    }
    e.createDataset("ds909", rows.toDF("rowName", "x", "ts"))
    // the 2030 row falls outside the window and drops
    val r = q("SELECT x FROM ds909 WHEN value_timestamp() BETWEEN " +
      "CAST('2015-01-01' AS timestamp) AND CAST('2016-01-01' AS timestamp)")
    assert(r.count() === 9)
    // every surviving row keeps its x = rowName invariant
    val all = q("SELECT rowName() AS rn, x FROM ds909 WHEN " +
      "value_timestamp() BETWEEN CAST('2015-01-01' AS timestamp) AND " +
      "CAST('2040-01-01' AS timestamp)").collect()
    assert(all.length === 10)
    all.foreach(row => assert(row.getString(0) === row.getString(1)))
  }
}
