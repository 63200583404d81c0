package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.{MathFunctions => M, TextFunctions => T, VectorFunctions => V}

/** Property-based invariants over randomly generated inputs — the
  * layer the reference's test pyramid lacks entirely (SURVEY §5 "no
  * property-based testing"). Each property round-trips through a real
  * Spark job, so it also fuzzes the expression implementations
  * (native Catalyst hash/vector expressions included).
  */
class PropertySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** deterministic mini-forAll: n samples from fixed seeds, so
    * failures are reproducible run to run. */
  private def forSamples[A](g: Gen[A], n: Int = 10)(f: A => Unit): Unit =
    (0 until n).foreach(i =>
      f(g.pureApply(Gen.Parameters.default, Seed(i.toLong))))

  private def forSamples2[A, B](ga: Gen[A], gb: Gen[B], n: Int = 10)(
      f: (A, B) => Unit): Unit =
    (0 until n).foreach { i =>
      f(ga.pureApply(Gen.Parameters.default, Seed(i.toLong)),
        gb.pureApply(Gen.Parameters.default, Seed(1000L + i)))
    }

  private val textGen: Gen[String] = Gen.listOfN(30,
    Gen.oneOf("spark", "data", "row", "the", "fast", "merge", "x", "a b", ""))
    .map(_.mkString(" "))

  test("text hygiene invariants: redaction removes PII shapes, normalizeUrl idempotent, repetition in [0,1]") {
    val piiGen: Gen[String] = for {
      words <- Gen.listOfN(5, Gen.oneOf("call", "mail", "visit", "ref", "x"))
      user <- Gen.alphaLowerStr.map(_.take(8)).suchThat(_.nonEmpty)
      n1 <- Gen.choose(0, 255); n2 <- Gen.choose(0, 255)
    } yield s"${words.mkString(" ")} $user@test.org at 10.0.$n1.$n2 or 555 321 ${1000 + n1} end"
    forSamples(piiGen, 15) { (s: String) =>
      import spark.implicits._
      val red = Seq(s).toDF("t").select(T.redactPii(col("t"))).head().getString(0)
      assert(!red.contains("@test.org") && !red.contains("10.0."),
        s"unredacted PII in: $red")
      assert(red.contains("<EMAIL>") && red.contains("<IP>") &&
        red.contains("<NUMBER>"))
    }
    val urlGen: Gen[String] = for {
      host <- Gen.oneOf("Example.COM", "a.b.ORG", "x.io")
      path <- Gen.oneOf("", "/Path/To", "/q")
      qs <- Gen.oneOf("", "?a=1", "?utm_source=z&a=1", "?a=1&fbclid=zz&b=2")
      frag <- Gen.oneOf("", "#sec")
    } yield s"https://$host$path$qs$frag"
    forSamples(urlGen, 20) { (u: String) =>
      import spark.implicits._
      val once = Seq(u).toDF("t").select(T.normalizeUrl(col("t"))).head().getString(0)
      val twice = Seq(once).toDF("t").select(T.normalizeUrl(col("t"))).head().getString(0)
      assert(once === twice, s"not idempotent: $u -> $once -> $twice")
      assert(!once.contains("utm_") && !once.contains("fbclid") &&
        !once.contains("#"))
    }
    forSamples(textGen, 15) { (s: String) =>
      import spark.implicits._
      val rr = Seq(s).toDF("t")
        .select(T.repetitionRatio(col("t"), 2)).head().getDouble(0)
      assert(rr >= 0.0 && rr <= 1.0)
    }
  }

  test("jaccard is symmetric, bounded, and 1 on self") {
    forSamples2(textGen, textGen) { (a: String, b: String) =>
      import spark.implicits._
      val df = Seq((a, b)).toDF("a", "b")
      val r = df.select(
        T.jaccardTokens(col("a"), col("b")).as("ab"),
        T.jaccardTokens(col("b"), col("a")).as("ba"),
        T.jaccardTokens(col("a"), col("a")).as("aa")).head()
      assert(r.getDouble(0) >= 0.0 && r.getDouble(0) <= 1.0)
      assert(r.getDouble(0) === r.getDouble(1))
      assert(r.getDouble(2) === 1.0)
    }
  }

  test("simhash of identical text is identical; hamming bounded by 64") {
    forSamples2(textGen, textGen) { (a: String, b: String) =>
      import spark.implicits._
      val df = Seq((a, b)).toDF("a", "b")
      val r = df.select(
        T.hamming64(T.simHash64(col("a")), T.simHash64(col("a"))).as("self"),
        T.hamming64(T.simHash64(col("a")), T.simHash64(col("b"))).as("cross")).head()
      assert(r.getInt(0) === 0)
      assert(r.getInt(1) >= 0 && r.getInt(1) <= 64)
    }
  }

  test("minhash estimated jaccard tracks true jaccard within 3/sqrt(k)") {
    forSamples2(textGen, textGen) { (a: String, b: String) =>
      if (a.trim.nonEmpty && b.trim.nonEmpty) {
        import spark.implicits._
        val k = 64
        val df = Seq((a, b)).toDF("a", "b")
        val r = df.select(
          T.jaccardShingles(col("a"), col("b"), 2).as("true_j"),
          (aggregate(zip_with(
            T.minHashSignature(col("a"), k, 2),
            T.minHashSignature(col("b"), k, 2),
            (x, y) => when(x === y, 1.0).otherwise(0.0)),
            lit(0.0), (acc, x) => acc + x) / k).as("est_j")).head()
        assert(math.abs(r.getDouble(0) - r.getDouble(1)) <= 3.0 / math.sqrt(k) + 0.05)
      }
    }
  }

  test("Wilson bounds bracket p and stay in [0,1]") {
    forSamples2(Gen.choose(1L, 100000L), Gen.choose(0.0, 1.0), 20) { (t: Long, frac: Double) =>
      val s = math.min(t, math.round(t * frac))
      import spark.implicits._
      val r = Seq((t, s)).toDF("t", "s").select(
        M.binomialLb80(col("t"), col("s")).as("lb"),
        M.binomialUb80(col("t"), col("s")).as("ub"),
        (col("s") / col("t")).as("p")).head()
      val (lb, ub, p) = (r.getDouble(0), r.getDouble(1), r.getDouble(2))
      assert(lb <= p + 1e-12 && p <= ub + 1e-12)
      assert(lb >= -1e-12 && ub <= 1 + 1e-12)
    }
  }

  test("vector norms: triangle inequality and scaling") {
    val vecGen = Gen.listOfN(8, Gen.choose(-100.0, 100.0))
    forSamples2(vecGen, vecGen) { (a: List[Double], b: List[Double]) =>
      import spark.implicits._
      val df = Seq((a, b)).toDF("a", "b")
      val r = df.select(
        V.norm(V.vectorSum(col("a"), col("b"))).as("nab"),
        (V.norm(col("a")) + V.norm(col("b"))).as("sum"),
        V.norm(V.scale(col("a"), lit(3.0))).as("scaled"),
        V.norm(col("a")).as("na")).head()
      assert(r.getDouble(0) <= r.getDouble(1) + 1e-9)
      assert(math.abs(r.getDouble(2) - 3.0 * r.getDouble(3)) < 1e-9)
    }
  }

  test("byte parsers never throw on arbitrary/mutated bytes") {
    import spark.implicits._
    import graft.operators.Multimodal
    // valid EXIF prefix to mutate: header parsing must survive every
    // single-byte corruption (truncation, bad offsets, wild counts)
    def jpegExif(orient: Int): Array[Byte] = {
      val t = java.nio.ByteBuffer.allocate(44)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      t.put('I'.toByte).put('I'.toByte).putShort(42).putInt(8)
      t.putShort(2)
      t.putShort(0x0112.toShort).putShort(3).putInt(1)
        .putShort(orient.toShort).putShort(0)
      t.putShort(0x010f.toShort).putShort(2).putInt(6).putInt(38)
      t.putInt(0).put("graft".getBytes).put(0.toByte)
      val tiff = t.array()
      val out = java.nio.ByteBuffer.allocate(4 + 2 + 6 + tiff.length + 2)
      out.put(0xff.toByte).put(0xd8.toByte)
      out.put(0xff.toByte).put(0xe1.toByte).putShort((2 + 6 + tiff.length).toShort)
      out.put("Exif".getBytes).put(0.toByte).put(0.toByte).put(tiff)
      out.put(0xff.toByte).put(0xd9.toByte)
      out.array()
    }
    val base = jpegExif(3)
    val rnd = new scala.util.Random(42)
    val mutated = (0 until 200).map { i =>
      val b = base.clone()
      b(i % b.length) = rnd.nextInt(256).toByte
      (i.toLong, b)
    }
    val random = (0 until 100).map { i =>
      val b = new Array[Byte](rnd.nextInt(64))
      rnd.nextBytes(b)
      (1000L + i, b)
    }
    val truncated = (0 until base.length).map(n =>
      (2000L + n, java.util.Arrays.copyOf(base, n)))
    val df = (mutated ++ random ++ truncated).toDF("id", "content")
    // must evaluate every row without throwing; values may be null
    val n = df.select(Multimodal.exifMeta(col("content")).as("x"),
      Multimodal.imageMeta(col("content")).as("m")).count()
    assert(n === mutated.size + random.size + truncated.size)
  }

  test("TokenCounts equals interpreted bag on random token soup") {
    import spark.implicits._
    val soup: Gen[String] = Gen.listOfN(60,
      Gen.oneOf("a", "b", "ab", "x y", "", "7", "a.b", "A", "ünï")).map(_.mkString(" "))
    forSamples(soup, 15) { (s: String) =>
      val r = Seq(s).toDF("t").select(
        array_sort(map_entries(T.tokenBag(col("t")))).as("n"),
        array_sort(map_entries(T.tokenBagReference(col("t")))).as("i"))
        .head()
      assert(r.getSeq[Any](0) === r.getSeq[Any](1), s"input: '$s'")
    }
  }

  test("parser handles arbitrary integer-arithmetic expressions like BigInt") {
    val litGen = Gen.choose(-1000L, 1000L)
    forSamples2(litGen, Gen.zip(litGen, litGen)) { case (x, (y, z)) =>
      if (z != 0) {
        import spark.implicits._
        val got = graft.sql.GraftSql.queryTables(spark, _ => Seq(1).toDF("one"),
          s"SELECT ($x + $y) * 2 - ($x % $z) AS v").head().getLong(0)
        assert(got === (x + y) * 2 - (x % z))
      }
    }
  }

  test("groupedRunningSums equals the window formulation on arbitrary " +
      "group distributions") {
    import org.apache.spark.sql.expressions.Window
    // group-key pools from near-constant (hot) through uniform to
    // all-distinct, with nulls mixed in — the prefix-sum construction
    // must agree with the window on EVERY distribution, not just the
    // skewed one it exists for
    val poolGen: Gen[Int] = Gen.oneOf(1, 3, 40, 2000)
    forSamples(poolGen, 4) { pool =>
      val rnd = new scala.util.Random(pool * 7 + 13)
      val rows = (0 until 2000).map { i =>
        val k = if (rnd.nextInt(10) == 0) null
          else "g" + rnd.nextInt(pool)
        (i.toLong, k, rnd.nextInt(5).toLong, f"o$i%05d")
      }
      val s2 = spark
      import s2.implicits._
      val df = rows.toDF("id", "k", "v", "ord").repartition(7)
      val got = core.DfOps.groupedRunningSums(df, col("k"), col("ord"),
        Seq("s" -> col("v")), "cnt")
        .select("id", "s", "cnt").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val w = Window.partitionBy(col("k")).orderBy(col("ord"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val want = df.select(col("id"),
        coalesce(sum(col("v")).over(w), lit(0L)).as("s"),
        count(lit(1)).over(w).as("cnt")).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got === want, s"pool=$pool")
    }
  }

  test("groupedRunningStats (sum/min/max/count) equals the window " +
      "formulation on arbitrary group distributions with null values") {
    import org.apache.spark.sql.expressions.Window
    val poolGen: Gen[Int] = Gen.oneOf(1, 3, 40, 2000)
    forSamples(poolGen, 4) { pool =>
      val rnd = new scala.util.Random(pool * 11 + 5)
      // null GROUPS and null VALUES both appear: min/max must stay
      // null through an all-null prefix, sum must skip nulls — the
      // same nullability as the window frame
      val rows = (0 until 2000).map { i =>
        val k = if (rnd.nextInt(10) == 0) null
          else "g" + rnd.nextInt(pool)
        val v: java.lang.Double =
          if (rnd.nextInt(7) == 0) null
          else rnd.nextInt(9).toDouble
        (i.toLong, k, v, f"o$i%05d")
      }
      val s2 = spark
      import s2.implicits._
      val df = rows.toDF("id", "k", "v", "ord").repartition(7)
      val got = core.DfOps.groupedRunningStats(df, col("k"), col("ord"),
        Seq(("s", col("v"), "sum"), ("mn", col("v"), "min"),
          ("mx", col("v"), "max")), Some("cnt"))
        .select("id", "s", "mn", "mx", "cnt").collect()
        .map(r => r.getLong(0) -> (
          Option(r.get(1)), Option(r.get(2)), Option(r.get(3)),
          r.getLong(4))).toMap
      val w = Window.partitionBy(col("k")).orderBy(col("ord"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val want = df.select(col("id"),
        sum(col("v")).over(w).as("s"), min(col("v")).over(w).as("mn"),
        max(col("v")).over(w).as("mx"), count(lit(1)).over(w).as("cnt"))
        .collect()
        .map(r => r.getLong(0) -> (
          Option(r.get(1)), Option(r.get(2)), Option(r.get(3)),
          r.getLong(4))).toMap
      assert(got === want, s"pool=$pool")
    }
  }

  test("groupedRunningStats avg/std (Chan prefix merge) match the window " +
      "formulation to rounding on arbitrary distributions with nulls") {
    import org.apache.spark.sql.expressions.Window
    // pool=1 is the 100%-hot key; large offsets (values ~1e3 with ~1e2
    // spread) stress the cancellation the pairwise update exists for
    val poolGen: Gen[Int] = Gen.oneOf(1, 3, 40, 2000)
    forSamples(poolGen, 4) { pool =>
      val rnd = new scala.util.Random(pool * 19 + 29)
      val rows = (0 until 2000).map { i =>
        val k = if (rnd.nextInt(10) == 0) null else "g" + rnd.nextInt(pool)
        val v: java.lang.Double =
          if (rnd.nextInt(7) == 0) null
          else 1000.0 + rnd.nextDouble() * 100
        (i.toLong, k, v, f"o$i%05d")
      }
      val s2 = spark
      import s2.implicits._
      val df = rows.toDF("id", "k", "v", "ord").repartition(7)
      val got = core.DfOps.groupedRunningStats(df, col("k"), col("ord"),
        Seq(("a", col("v"), "avg"), ("sd", col("v"), "std")), None)
        .select("id", "a", "sd").collect()
        .map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
      val w = Window.partitionBy(col("k")).orderBy(col("ord"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val want = df.select(col("id"), avg(col("v")).over(w).as("a"),
        stddev_samp(col("v")).over(w).as("sd")).collect()
        .map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
      assert(got.keySet === want.keySet)
      def close(x: Option[Any], y: Option[Any], what: String, id: Long): Unit =
        (x, y) match {
          case (None, None) => ()
          case (Some(a: Double), Some(b: Double)) =>
            assert(math.abs(a - b) <= 1e-8 * math.max(1.0, math.abs(b)),
              s"pool=$pool id=$id $what: chan=$a window=$b")
          case other =>
            fail(s"pool=$pool id=$id $what null-pattern diverged: $other")
        }
      want.foreach { case (id, (a, sd)) =>
        close(got(id)._1, a, "avg", id)
        close(got(id)._2, sd, "std", id)
      }
    }
  }

  test("StatsTable counts/distStats skewSafe path equals the windowed " +
      "path on arbitrary key distributions with nulls") {
    import graft.operators.StatsTable
    val poolGen: Gen[Int] = Gen.oneOf(1, 5, 500)
    forSamples(poolGen, 3) { pool =>
      val rnd = new scala.util.Random(pool * 17 + 3)
      val rows = (0 until 1200).map { i =>
        val k = if (rnd.nextInt(12) == 0) null else "k" + rnd.nextInt(pool)
        val v: java.lang.Double =
          if (rnd.nextInt(9) == 0) null else rnd.nextInt(7).toDouble
        val outcome = rnd.nextInt(2) == 0
        (i.toLong, k, v, outcome, f"r$i%05d")
      }
      val s2 = spark
      import s2.implicits._
      val df = rows.toDF("id", "k", "v", "oc", "ord").repartition(6)
      def bits(d: Any): Any = d match {
        case x: Double => java.lang.Double.doubleToLongBits(x)
        case other => other
      }
      def snap(out: org.apache.spark.sql.DataFrame, cs: Seq[String]) =
        out.select((Seq("id") ++ cs).map(c => col(s"`$c`")): _*)
          .collect().map(r => r.getLong(0) ->
            cs.indices.map(i => bits(r.get(i + 1))).toVector).toMap
      val cCols = Seq("st_trials", "st_successes")
      val a1 = snap(StatsTable.counts(df, "k", col("oc"), "ord"), cCols)
      val b1 = snap(StatsTable.counts(df, "k", col("oc"), "ord",
        skewSafe = true), cCols)
      assert(a1 === b1, s"counts diverged, pool=$pool")
      val dCols = Seq("dt_count", "dt_sum", "dt_avg", "dt_std",
        "dt_min", "dt_max")
      val a2 = snap(StatsTable.distStats(df, "k", col("v"), "ord"), dCols)
      val b2 = snap(StatsTable.distStats(df, "k", col("v"), "ord",
        skewSafe = true), dCols)
      assert(a2 === b2, s"distStats diverged, pool=$pool")
      // skewSafeFloat: count/sum/min/max stay bit-exact (integer-valued
      // data), avg/std ride the Chan merge and agree to rounding
      val exactCols = Seq("dt_count", "dt_sum", "dt_min", "dt_max")
      val cFrame = StatsTable.distStats(df, "k", col("v"), "ord",
        skewSafe = true, skewSafeFloat = true)
      assert(snap(cFrame, exactCols) ===
        snap(StatsTable.distStats(df, "k", col("v"), "ord"), exactCols),
        s"skewSafeFloat exact stats diverged, pool=$pool")
      val cf = cFrame.select("id", "dt_avg", "dt_std").collect()
        .map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
      val wf = StatsTable.distStats(df, "k", col("v"), "ord")
        .select("id", "dt_avg", "dt_std").collect()
        .map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
      wf.foreach { case (id, (a, sd)) =>
        Seq((cf(id)._1, a, "avg"), (cf(id)._2, sd, "std")).foreach {
          case (None, None, _) => ()
          case (Some(x: Double), Some(y: Double), what) =>
            assert(math.abs(x - y) <= 1e-8 * math.max(1.0, math.abs(y)),
              s"pool=$pool id=$id $what: chan=$x window=$y")
          case other => fail(s"pool=$pool id=$id null-pattern: $other")
        }
      }
    }
  }

  test("summary count-table pass equals brute force: quartiles, top-10 " +
      "and num_unique, with NaN, ±0.0, ±Infinity, nulls, ties and " +
      "narrowing rounds") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
    import org.apache.spark.sql.types._
    import graft.procedures.{Procedures, SummaryCounts}
    // five columns, values from a small pool (ties on both count and
    // value), counts 1–50, with NaN, both zero signs and both
    // infinities in the pool, plus a single-value column (min = max)
    def countTable(seed: Int): Seq[(String, Double, Long)] = {
      val rnd = new scala.util.Random(seed)
      val pool = Seq(Double.NaN, -0.0, 0.0, Double.PositiveInfinity,
        Double.NegativeInfinity) ++ (1 to 40).map(_.toDouble)
      val rows = (0 until 300).map { _ =>
        ("c" + rnd.nextInt(5), pool(rnd.nextInt(pool.size)),
          (1 + rnd.nextInt(50)).toLong)
      } :+ (("one", 7.0, (1 + rnd.nextInt(50)).toLong))
      // one row per (c, v), as a groupBy leaves it (-0.0 → 0.0)
      rows.map { case (c, v, n) => (c, if (v == 0.0) 0.0 else v, n) }
        .groupBy(r => (r._1, java.lang.Double.doubleToLongBits(r._2)))
        .values.map(_.head).toSeq
    }
    val spark0 = spark
    def brute(vs: Seq[(Double, Long)]): (Seq[Double], Seq[(Double, Long)]) = {
      val asc = vs.sortWith((a, b) => compareDoubles(a._1, b._1) < 0)
      val nn = asc.map(_._2).sum
      val cum = asc.map(_._2).scanLeft(0L)(_ + _).tail
      val qs = Seq(0.25, 0.5, 0.75).map(t => asc(cum.indexWhere(_ > nn * t))._1)
      val top = vs.sortWith((a, b) => a._2 > b._2 ||
        (a._2 == b._2 && compareDoubles(a._1, b._1) > 0)).take(10)
      (qs, top)
    }
    def bits(xs: Seq[Double]) = xs.map(java.lang.Double.doubleToLongBits)
    val schema = StructType(Seq(StructField("c", IntegerType),
      StructField("v", DoubleType), StructField("cnt", LongType)))
    // a cap this small makes every crossing bucket of 3+ rows narrow
    val smallCap = 2
    var crossingAtFirstRow = 0
    var narrowed = 0
    forSamples(Gen.choose(0, 1 << 20), 6) { seed =>
      val table = countTable(seed)
      val byCol = table.groupBy(_._1)
      // 1. the passes themselves, over the table shuffled into four
      //    partitions, at the default cap and at the small one
      val rnd = new scala.util.Random(seed)
      val names = byCol.keys.toIndexedSeq.sorted
      val df = SummaryCounts.Table(spark.createDataFrame(spark.sparkContext.parallelize(
        rnd.shuffle(table).map { case (c, v, n) => Row(names.indexOf(c), v, n) }, 4),
        schema), names)
      val extents = byCol.map { case (c, rs) =>
        val asc = rs.map(_._2).sortWith(compareDoubles(_, _) < 0)
        c -> SummaryCounts.Extent(rs.map(_._3).sum, asc.head, asc.last)
      }
      val nn = extents.map { case (c, e) => c -> e.nn }
      val ds = SummaryCounts.digest(df, SummaryCounts.Doubles,
        extents.map { case (c, e) => c -> SummaryCounts.Span(
          SummaryCounts.key(e.min), SummaryCounts.key(e.max)) })
      val cross = SummaryCounts.firstCrossings(ds, nn)
      crossingAtFirstRow += cross.count { x =>
        x.rows > 1 && x.ts.exists { case (i, _) =>
          val (qs, _) = brute(byCol(x.column).map(r => (r._2, r._3)))
          SummaryCounts.key(qs(i)) == x.range.lo }
      }
      if (cross.exists(_.rows > smallCap)) narrowed += 1
      Seq(SummaryCounts.RowCap, smallCap).foreach { cap =>
        val got = SummaryCounts.numeric(df, extents, cap)
        byCol.foreach { case (c, rs) =>
          val (qs, top) = brute(rs.map(r => (r._2, r._3)))
          val at = s"seed=$seed cap=$cap $c"
          assert(bits(got(c).quartiles) === bits(qs), s"$at quartiles")
          assert(got(c).top.map(_._2) === top.map(_._2), s"$at top")
          assert(bits(got(c).top.map(_._1)) === bits(top.map(_._1)),
            s"$at top items")
          assert(got(c).unique === rs.size.toLong, s"$at unique")
        }
      }
      // 2. end to end: the same counts as raw column values, padded with
      //    nulls, zeros half -0.0 — pass 1 and the count table agree
      val cols = byCol.keys.toSeq.sorted
      val raw = cols.map { c =>
        rnd.shuffle(byCol(c).flatMap { case (_, v, n) =>
          (0L until n).map(i => if (v == 0.0 && i % 2 == 1) -0.0 else v) })
      }
      val height = raw.map(_.size).max
      val wide = spark0.createDataFrame(
        spark0.sparkContext.parallelize((0 until height).map(i =>
          Row(raw.map(vs => if (i < vs.size) vs(i) else null): _*)), 3),
        StructType(cols.map(StructField(_, DoubleType))))
      val sums = Procedures.summaryStatisticsReference(wide, cols)
      cols.zip(raw).foreach { case (c, vs) =>
        val (qs, top) = brute(byCol(c).map(r => (r._2, r._3)))
        val s = sums.find(_.column == c).get
        assert(s.stats("num_null") === (height - vs.size).toLong, c)
        assert(bits(Seq("1st_quartile", "median", "3rd_quartile")
          .map(s.stats(_).asInstanceOf[Double])) === bits(qs), s"seed=$seed $c")
        assert(s.mostFrequent === top.map { case (v, n) =>
          (if (v.isWhole && math.abs(v) < 1e15) v.toLong.toString
           else v.toString) -> n }, s"seed=$seed $c")
        val zeros = vs.filter(_ == 0.0).map(1 / _ > 0).distinct.size
        assert(s.stats("num_unique") ===
          byCol(c).size.toLong + math.max(zeros - 1, 0), s"seed=$seed $c")
      }
    }
    assert(crossingAtFirstRow > 0 && narrowed > 0,
      s"crossings not exercised: $crossingAtFirstRow, $narrowed")
  }
}
