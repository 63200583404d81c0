package graft

import java.nio.file.Files
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, GraftColumnBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{ArrayAggregate, LambdaFunction, MapEntries, Slice, StringSplit}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Tables
import graft.functions.{TextFunctions => T}
import graft.operators.TextAnalysis
import graft.plans.{NGrams, TokenCounts, WindowCounts}

/** Word n-grams come from the native `NGrams` kernel. It must equal the
  * interpreted per-position lambda it replaced on every input shape,
  * every producer routed through it must keep its old output, and no
  * producer's optimized plan may build grams inside a lambda again.
  * The repetition counts come from the native `WindowCounts` kernel,
  * which must equal counting `NGrams` output with `TokenCounts` and
  * folding the entries; the Gopher battery must keep its output and
  * build no grams or folds at all. */
class NGramsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = s"${sys.props("user.home")}/testdata/sf0.001"
  private def docs = Tables.documents(spark, sf)

  /** Token arrays covering each edge: null and empty arrays, short and
    * exact-width arrays, repeated grams, null tokens, empty tokens and
    * multi-byte UTF-8. Round-tripped through Parquet so the kernel
    * reads scan-produced arrays, not locally built rows. */
  private lazy val arrays: DataFrame = {
    import spark.implicits._
    val rows: Seq[(Int, Option[Seq[String]])] = Seq(
      1 -> None,
      2 -> Some(Nil),
      3 -> Some(Seq("solo")),
      4 -> Some(Seq("a", "b", "c")),
      5 -> Some((1 to 10).map(i => s"w$i")),
      6 -> Some(Seq.fill(12)(Seq("to", "be", "or")).flatten),
      7 -> Some(Seq("x", null, "y", null, null, "z", "x", null)),
      8 -> Some(Seq(null, null, null)),
      9 -> Some(Seq("", "a", "", "b")),
      10 -> Some(Seq("naïve", "café", "日本語", "😀x", "Ωmega", "naïve", "café",
        "日本語", "straße", "ǅ", "👍🏽", "é")))
    val dir = Files.createTempDirectory("ngrams_spec").resolve("arrays").toString
    rows.toDF("id", "t").write.parquet(dir)
    spark.read.parquet(dir).cache()
  }

  // The producers' formulations from before NGrams, as differential
  // oracles: one interpreted lambda per position.
  private def lambdaGrams(toks: Column, n: Int, sep: String): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - lit(n - 1)),
        i => concat_ws(sep, slice(toks, i, lit(n)))))
      .otherwise(array().cast("array<string>"))

  private def oldShingles(text: Column, n: Int): Column = {
    val toks = T.tokens(text)
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - lit(n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array(concat_ws(" ", toks)))
  }

  private def oldTokenBagNgrams(text: Column, nMin: Int, nMax: Int,
      minTokenLength: Int): Column = {
    val toks = filter(T.tokens(text), t => length(t) >= minTokenLength)
    TokenCounts.column((nMin to nMax).map(lambdaGrams(toks, _, " ")).reduce(concat(_, _)))
  }

  private def oldTokenizeRef(text: Column, nMin: Int, nMax: Int,
      offset: Int = 0, limit: Int = -1): Column = {
    val toks = T.tokensRef(text, " ", "", 1)
    val windowed =
      if (offset > 0 || limit >= 0)
        slice(toks, lit(offset + 1), if (limit >= 0) lit(limit) else size(toks))
      else toks
    TokenCounts.column((nMin to nMax).map[Column] { n =>
      if (n == 1) windowed else lambdaGrams(windowed, n, "_")
    }.reduce((x, y) => concat(x, y)))
  }

  /** `WindowCounts`'s formulation before the kernel, as the
    * differential twin: per width, the joined grams counted in a
    * `TokenCounts` map, whose entries interpreted folds sum. A gram's
    * chars are its length less the n−1 joiners. */
  private def windowCountsTwin(units: Column, widths: Seq[Int]): Column = {
    def stats(n: Int): Column = {
      val grams = T.ngrams(units, n, " ")
      val ents = map_entries(TokenCounts.column(grams))
      def count(e: Column) = e.getField("value").cast("long")
      def chars(e: Column) = length(e.getField("key")) - lit(n - 1)
      def fold(name: String)(f: (Column, Column) => Column) =
        coalesce(aggregate(ents, lit(0L), f), lit(0L)).as(name)
      struct(
        coalesce(size(grams).cast("long"), lit(0L)).as("windows"),
        coalesce(size(ents).cast("long"), lit(0L)).as("distinct"),
        fold("chars")((a, e) => a + count(e) * chars(e)),
        fold("distinct_chars")((a, e) => a + chars(e)),
        fold("top_chars")((a, e) => greatest(a, count(e) * chars(e))),
        fold("dup_chars")((a, e) =>
          a + when(count(e) >= 2, count(e) * chars(e)).otherwise(lit(0L))))
    }
    when(units.isNotNull, array(widths.map(stats): _*))
  }

  /** `arrays`' rows without null elements, typed as unable to hold
    * one (Parquet reads every array as `containsNull = true`). */
  private def nullFree(df: DataFrame): DataFrame =
    df.filter(col("t").isNull || !exists(col("t"), _.isNull))
      .withColumn("t", transform(col("t"), x => coalesce(x, lit(""))))

  /** `df` with every WindowCounts node in its plan replaced by the twin
    * formulation it stands for. */
  private def withTwinCounts(df: DataFrame): DataFrame = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    GraftColumnBridge.ofRows(spark, GraftColumnBridge.logicalPlan(df).transformAllExpressions {
      case WindowCounts(units, widths) =>
        session.expression(windowCountsTwin(GraftColumnBridge.column(units), widths))
    })
  }

  private def lambdasBuildingGrams(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case lf: LambdaFunction if lf.function.exists {
            case _: Slice | _: StringSplit => true
            case _ => false
          } => lf.sql
    }))

  test("NGrams equals the interpreted twin for n = 1..10 and both separators") {
    for (sep <- Seq(" ", "_"); n <- 1 to 10) {
      val cmp = arrays.select(col("id"),
        T.ngrams(col("t"), n, sep).as("fast"),
        T.ngramsReference(col("t"), n, sep).as("ref"))
      val bad = cmp.filter(!(col("fast") <=> col("ref"))).collect()
      assert(bad.isEmpty, s"n=$n sep='$sep': ${bad.mkString("; ")}")
    }
  }

  test("NGrams edge cases: null, empty, short, exact, repeats, null tokens") {
    def grams(id: Int, n: Int, sep: String = " "): Option[Seq[String]] =
      Option(arrays.filter(col("id") === id)
        .select(T.ngrams(col("t"), n, sep)).head().getSeq[String](0))
    assert(grams(1, 2) === None)
    assert(grams(2, 1) === Some(Nil))
    assert(grams(3, 2) === Some(Nil))
    assert(grams(3, 1) === Some(Seq("solo")))
    assert(grams(4, 3, "_") === Some(Seq("a_b_c")))
    assert(grams(5, 10).map(_.size) === Some(1))
    val rep = grams(6, 3).get
    assert(rep.size === 34 && rep.distinct.size === 3)
    assert(grams(7, 2).get.take(4) === Seq("x", "y", "y", ""))
    assert(grams(8, 2) === Some(Seq("", "")))
    assert(grams(9, 2, "_") === Some(Seq("_a", "a_", "_b")))
  }

  test("multi-byte grams keep gopher's character count: length - (n-1) = Σ token chars") {
    val row = arrays.filter(col("id") === 10)
    for (n <- 1 to 10) {
      val charSums = row.select(
        transform(T.ngrams(col("t"), n, " "), g => length(g) - lit(n - 1)).as("fast"),
        transform(sequence(lit(1), size(col("t")) - lit(n - 1)), i =>
          aggregate(slice(col("t"), i, lit(n)), lit(0), (a, w) => a + length(w)))
          .as("chars"))
        .head()
      assert(charSums.getSeq[Int](0) === charSums.getSeq[Int](1), s"n=$n")
    }
  }

  test("shingles match the lambda formulation on documents") {
    val text = col("text")
    for (n <- 1 to 5) {
      val bad = docs.select(
        T.shingles(text, n).as("fast"), oldShingles(text, n).as("ref"))
        .filter(!(col("fast") <=> col("ref"))).count()
      assert(bad === 0, s"n=$n")
    }
    // the short-doc rule: fewer than n tokens is one whole-doc shingle
    val short = spark.range(1).select(
      T.shingles(lit("one two"), 3).as("s"),
      T.shingles(lit(null).cast("string"), 3).as("nul")).head()
    assert(short.getSeq[String](0) === Seq("one two"))
    assert(short.getSeq[String](1) === Seq(""))
  }

  test("tokenBagNgrams and tokenizeRef match the lambda formulation on documents") {
    val text = col("text")
    def same(fast: Column, ref: Column): Long =
      docs.select(map_entries(fast).as("f"), map_entries(ref).as("r"))
        .filter(!(col("f") <=> col("r"))).count()
    for ((lo, hi) <- Seq((1, 1), (1, 3), (2, 4), (5, 10))) {
      for (minLen <- Seq(1, 4))
        assert(same(T.tokenBagNgrams(text, lo, hi, minTokenLength = minLen),
          oldTokenBagNgrams(text, lo, hi, minLen)) === 0,
          s"tokenBagNgrams $lo..$hi min $minLen")
      assert(same(T.tokenizeRef(text, " ", ngramRange = (lo, hi)),
        oldTokenizeRef(text, lo, hi)) === 0, s"tokenizeRef $lo..$hi")
      assert(same(T.tokenizeRef(text, " ", ngramRange = (lo, hi), offset = 3, limit = 7),
        oldTokenizeRef(text, lo, hi, offset = 3, limit = 7)) === 0,
        s"tokenizeRef $lo..$hi windowed")
    }
    // null text: unigrams keep null, higher grams an empty bag, as before
    val nul = spark.range(1).select(
      T.tokenizeRef(lit(null).cast("string"), " ", ngramRange = (1, 2)).as("a"),
      T.tokenizeRef(lit(null).cast("string"), " ", ngramRange = (2, 3)).as("b"),
      T.tokenBagNgrams(lit(null).cast("string"), 1, 2).as("c")).head()
    assert(nul.isNullAt(0))
    assert(nul.getMap[String, Int](1).isEmpty && nul.getMap[String, Int](2).isEmpty)
  }

  test("WindowCounts equals the NGrams/TokenCounts twin for n = 1..10") {
    import spark.implicits._
    // the spec's null-free arrays, plus small-alphabet arrays whose
    // windows repeat at every width
    val rnd = new scala.util.Random(7)
    val generated = (1 to 200).map { i =>
      val alphabet = Seq("a", "bb", "é", "日本", "")
        .take(1 + rnd.nextInt(5))
      (100 + i, (1 to rnd.nextInt(40)).map(_ => alphabet(rnd.nextInt(alphabet.size))))
    }.toDF("id", "t")
    val units = nullFree(arrays).unionByName(nullFree(generated))
    assert(units.schema("t").dataType === ArrayType(StringType, containsNull = false))
    for (widths <- (1 to 10).map(Seq(_)) ++ Seq(1 to 10, Seq(4, 1, 4))) {
      val bad = units.select(col("id"),
        WindowCounts.column(col("t"), widths).as("fast"),
        windowCountsTwin(col("t"), widths).as("twin"))
        .filter(!(col("fast") <=> col("twin"))).collect()
      assert(bad.isEmpty, s"widths ${widths.mkString(",")}: ${bad.mkString("; ")}")
    }
    // the null array stays null; a width above the unit count is zeros
    val edge = units.filter(col("id").isin(1, 3))
      .select(col("id"), WindowCounts.column(col("t"), Seq(2)).as("c"))
      .collect().map(r => r.getInt(0) -> r).toMap
    assert(edge(1).isNullAt(1))
    assert(edge(3).getSeq[Row](1).head.toSeq === Seq.fill(6)(0L))
  }

  test("WindowCounts equals the twin on documents' words") {
    val words = docs.select(T.tokens(col("text"), graft.plans.Tokenize.Whitespace).as("w"))
    val bad = words.filter(!(WindowCounts.column(col("w"), 1 to 10) <=>
      windowCountsTwin(col("w"), 1 to 10))).count()
    assert(bad === 0)
  }

  test("WindowCounts rejects units that may hold null, and widths below 1") {
    val e = intercept[AnalysisException] {
      arrays.select(WindowCounts.column(col("t"), Seq(1)))
    }
    assert(e.getMessage.contains("containsNull = true"), e.getMessage)
    intercept[IllegalArgumentException](WindowCounts.column(col("t"), Nil))
    intercept[IllegalArgumentException](WindowCounts.column(col("t"), Seq(2, 0)))
  }

  test("gopherRepetition matches its NGrams/TokenCounts formulation on documents") {
    val fast = TextAnalysis.gopherRepetition(docs, "doc_id", "text")
    val twin = withTwinCounts(fast)
    assert(twin.queryExecution.optimizedPlan.exists(_.expressions.exists(_.exists {
      case _: ArrayAggregate => true
      case _ => false
    })), "the rewrite put the folds back")
    assert(fast.schema === twin.schema)
    assert(fast.count() === docs.count())
    assert(fast.exceptAll(twin).count() === 0 && twin.exceptAll(fast).count() === 0)
  }

  test("gopherRepetition's plan builds no grams, maps or folds") {
    val battery = TextAnalysis.gopherRepetition(docs, "doc_id", "text")
    val offenders = battery.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case e @ (_: ArrayAggregate | _: MapEntries | _: NGrams | _: TokenCounts) => e.prettyName
    }))
    assert(offenders.isEmpty, offenders.distinct.mkString("in the battery's plan: ", ", ", ""))
    val kernels = battery.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case w: WindowCounts => w
    }))
    assert(kernels.size === 3, kernels.mkString("\n"))
  }

  test("no word-n-gram producer builds grams inside a lambda (no Slice/StringSplit)") {
    val text = col("text")
    val producers = Seq(
      "shingles" -> docs.select(T.shingles(text, 3)),
      "tokenBagNgrams" -> docs.select(T.tokenBagNgrams(text, 1, 3)),
      "tokenizeRef(ngram > 1)" -> docs.select(T.tokenizeRef(text, " ", ngramRange = (1, 3))),
      "repetitionRatio" -> docs.select(T.repetitionRatio(text, 2)),
      "gopherRepetition" -> TextAnalysis.gopherRepetition(docs, "doc_id", "text"))
    val offenders = producers.flatMap { case (name, df) =>
      lambdasBuildingGrams(df).map(lf => s"$name: $lf")
    }
    assert(offenders.isEmpty, offenders.mkString("grams built in a lambda:\n", "\n", ""))
    // control: the guard does see the interpreted formulation
    assert(lambdasBuildingGrams(docs.select(oldShingles(text, 3))).nonEmpty)
  }
}
