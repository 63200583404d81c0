package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{TextFunctions => T}
import graft.plans.Tokenize
import graft.plans.Tokenize.{Punctuation, Whitespace}

/** `tokens` is one native pass ([[graft.plans.Tokenize]]). It must equal
  * the `lower` → regex `split` → lambda `filter` formulation it replaced
  * (`tokensReference`) on every input, under both ICU case-mapping
  * settings, through codegen and interpreted eval; and no tokenizing
  * query's plan may hold that formulation again. */
class TokenizeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = s"${sys.props("user.home")}/testdata/sf0.01"
  private val IcuConf = "spark.sql.icu.caseMappings.enabled"

  /** Every edge the fast path must cut exactly as the regex does, and
    * every non-ASCII case it must hand to Spark's own `lower`. */
  private val texts: Seq[String] = Seq(
    null, "", " ", "\t\n", ",;:!?.()[]{}\"'", " , ; ",
    "  Hello, World!  ", ",lead and trail.", "one", "UPPER lower MiXeD",
    "a\u000Bb\fc\r\nd\re", "tab\tsep\nnew line", "x\u00A0y NBSP\u00A0Z",
    "(paren) [bracket] {brace} \"dq\" 'sq' a:b;c!d?e.f,g",
    "Café ÉTÉ naïve", "İstanbul İI", "ΟΔΟΣ ΣΟΦΟΣ.", "\u212Aelvin \u212A",
    "ÀB,CD", "日本語 テキスト、句読点。", "emoji 😀 TEST", "STRAẞE straße",
    "\u0001ctl\u0000NUL", "digits 123 4.5 A1B2")

  private def frame(rows: Seq[String], parts: Int): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.zipWithIndex.map { case (t, i) => Row(i, t) }, parts),
      StructType(Seq(StructField("id", IntegerType), StructField("t", StringType))))

  private def withIcu[A](on: Boolean)(body: => A): A = {
    val saved = spark.conf.getOption(IcuConf)
    spark.conf.set(IcuConf, on.toString)
    try body
    finally saved.fold(spark.conf.unset(IcuConf))(spark.conf.set(IcuConf, _))
  }

  private def rows(df: DataFrame): Map[Int, Option[Seq[String]]] =
    df.collect().map(r => r.getInt(0) ->
      (if (r.isNullAt(1)) None else Some(r.getSeq[String](1)))).toMap

  test("tokens equals tokensReference on every edge, both delimiter sets, ICU on and off") {
    // one partition: ASCII and non-ASCII rows share a task
    val df = frame(texts, 1)
    for (icu <- Seq(true, false); d <- Seq(Punctuation, Whitespace)) withIcu(icu) {
      val got = rows(df.select(col("id"), T.tokens(col("t"), d)))
      val want = rows(df.select(col("id"), T.tokensReference(col("t"), d)))
      texts.indices.foreach { i =>
        assert(got(i) === want(i), s"icu=$icu $d: ${texts(i)}")
      }
    }
  }

  test("non-string and collated input tokenize as lower would") {
    val df = frame(texts, 2)
    def same(c: org.apache.spark.sql.Column, what: String): Unit = {
      val got = df.select(T.tokens(c)).collect().map(_.toSeq)
      val want = df.select(T.tokensReference(c)).collect().map(_.toSeq)
      assert(got.toSeq === want.toSeq, what)
    }
    same(col("id") * 1000 + 0.5, "a double")
    // the one collation the reference's regex split accepts
    same(collate(col("t"), "UTF8_LCASE"), "UTF8_LCASE")
  }

  test("interpreted eval agrees with codegen and the reference") {
    for (icu <- Seq(true, false); d <- Seq(Punctuation, Whitespace)) withIcu(icu) {
      val want = rows(frame(texts, 3).select(col("id"), T.tokensReference(col("t"), d)))
      texts.zipWithIndex.foreach { case (t, i) =>
        val out = Tokenize(Literal.create(t, StringType), d).eval()
        val got = Option(out).map(_.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          .toArray[UTF8String](StringType).map(_.toString).toSeq)
        assert(got === want(i), s"icu=$icu $d: $t")
      }
    }
  }

  test("pinned answers: non-ASCII case mapping, NBSP, the \\s set, empty results") {
    def one(t: String, d: Tokenize.Delimiters = Punctuation): Seq[String] =
      spark.range(1).select(T.tokens(lit(t), d)).head().getSeq[String](0)
    assert(one("Café ÉTÉ") === Seq("café", "été"))
    assert(one("\u212Aelvin") === Seq("kelvin"))
    assert(one("x\u00A0Y z") === Seq("x\u00A0y", "z"))
    assert(one("a\u000Bb\fc\r\nd", Whitespace) === Seq("a", "b", "c", "d"))
    assert(one("a,b c", Whitespace) === Seq("a,b", "c"))
    assert(one(" ,;. ") === Nil)
    assert(one("") === Nil)
    val t = spark.range(1).select(T.tokens(lit(null).cast("string"))).head()
    assert(t.isNullAt(0))
  }

  test("the output type is array<string> without nulls, as WindowCounts needs") {
    val dt = frame(texts, 1).select(T.tokens(col("t"))).schema.head.dataType
    assert(dt === ArrayType(StringType, containsNull = false))
    assert(dt === frame(texts, 1).select(T.tokensReference(col("t"))).schema.head.dataType)
  }

  /** Nodes of `plan` that evaluate a [[Tokenize]]. */
  private def tokenizing(plan: SparkPlan): Seq[SparkPlan] =
    plan.collect { case p if p.expressions.exists(_.exists(_.isInstanceOf[Tokenize])) => p }

  private def executed(df: DataFrame): SparkPlan = {
    val saved = spark.conf.getOption("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try df.queryExecution.executedPlan
    finally saved.fold(spark.conf.unset("spark.sql.adaptive.enabled"))(
      spark.conf.set("spark.sql.adaptive.enabled", _))
  }

  /** The old tokenizer's traces in a plan's text: its `lower`, a split
    * of lowered text, or its lambda filter over a split. */
  private def oldTokenizer(plan: SparkPlan): Seq[String] = {
    val text = plan.toString.toLowerCase
    Seq("lower(", "split(lower(", "filter(split(").filter(text.contains)
  }

  test("q41, q43 and q104 hold no lower/split/lambda tokenizer; q41 and q43 tokenize in codegen") {
    val queries = SparkEntry.queries.toMap
    Seq("q41_token_stats", "q43_ngram_jaccard", "q104_gopher_repetition").foreach { q =>
      val plan = executed(queries(q)(spark, sf))
      assert(oldTokenizer(plan).isEmpty, s"$q:\n$plan")
      assert(tokenizing(plan).nonEmpty, s"$q has no native tokenizer:\n$plan")
    }
    // q104's Project also holds its line and paragraph lambdas, which
    // keep that one operator out of whole-stage codegen
    Seq("q41_token_stats", "q43_ngram_jaccard").foreach { q =>
      val plan = executed(queries(q)(spark, sf))
      val text = plan.toString.toLowerCase
      assert(!text.contains("lambdafunction") && !text.contains("split("), s"$q:\n$plan")
      val inCodegen = plan.collect { case w: WholeStageCodegenExec => tokenizing(w.child) }.flatten
      assert(tokenizing(plan).forall(n => inCodegen.exists(_ eq n)),
        s"$q tokenizes outside whole-stage codegen:\n$plan")
    }
    // control: the guard sees the old formulation
    val old = executed(graft.core.Tables.documents(spark, sf)
      .select(T.tokensReference(col("text"))))
    assert(oldTokenizer(old).nonEmpty && tokenizing(old).isEmpty)
  }
}
