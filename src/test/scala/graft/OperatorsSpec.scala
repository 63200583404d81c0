package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Tables
import graft.operators.{Dedup, Reshape, Similarity, StatsTable}

class OperatorsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"
  private def docs = Tables.documents(spark, sf)
  private def doubled = {
    val d = docs
    d.unionByName(d.select((col("doc_id") + 1000000).as("doc_id"), col("text"),
      col("lang"), col("source"), col("n_chars")))
  }

  test("exact dedup keeps one row per text, smallest id") {
    val out = Dedup.exact(doubled, "text", "doc_id")
    assert(out.count() === docs.count())
    assert(out.filter(col("doc_id") >= 1000000).count() === 0)
  }

  test("bloomDedupAgainst equals the exact anti-join, prefilter bounded") {
    val corpus = docs
    // incoming: 1/3 exact dups of the corpus, 2/3 novel
    val incoming = corpus.select((col("doc_id") + 1000000).as("doc_id"),
      when(col("doc_id") % 3 === 0, col("text"))
        .otherwise(concat(col("text"), lit(" novel"))).as("text"))
    val kept = Dedup.bloomDedupAgainst(incoming, corpus, "text", fpp = 0.01)
    val exact = incoming.join(corpus.select(col("text")).distinct(),
      Seq("text"), "left_anti")
    assert(kept.select("doc_id").except(exact.select("doc_id")).isEmpty &&
      exact.select("doc_id").except(kept.select("doc_id")).isEmpty)
    // every planted exact duplicate was dropped, and something survived
    assert(kept.filter((col("doc_id") - 1000000) % 3 === 0).count() === 0)
    assert(kept.count() > 0 && kept.count() < incoming.count())
  }

  test("bm25Search: exact term match ranks highest, scores positive and ordered") {
    val s2 = spark
    import s2.implicits._
    val corpus = Seq(
      (1L, "spark shuffle join broadcast"),
      (2L, "spark spark spark catalyst"),
      (3L, "zebra quantum marmalade xylophone"),
      (4L, "broadcast join hint join")).toDF("doc_id", "text")
    val hits = graft.operators.TextAnalysis.bm25Search(
      corpus, "doc_id", "text", Seq("join", "broadcast"), topK = 10)
      .collect()
    // only docs containing a query term score
    assert(hits.map(_.getLong(0)).toSet === Set(1L, 4L))
    // doc 4 has join twice + broadcast once → outranks doc 1
    assert(hits.head.getLong(0) === 4L)
    // ordered descending
    val scores = hits.map(_.getDouble(1))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
  }

  test("minhash pairs find every exact duplicate with jaccard 1.0") {
    val pairs = Dedup.minHashPairs(doubled, "text", "doc_id",
      bands = 8, rowsPerBand = 4, threshold = 0.99)
    val exactDups = pairs.filter(col("id_b") === col("id_a") + 1000000)
    // identical docs agree on every band -> all 500 must be found
    assert(exactDups.count() === docs.count())
    assert(pairs.filter(col("jaccard") > 1.0 || col("jaccard") < 0.99).count() === 0)
  }

  test("minhash dedup removes the shifted copies") {
    val out = Dedup.minHashDedup(doubled, "text", "doc_id", threshold = 0.99)
    assert(out.count() === docs.count())
    assert(out.filter(col("doc_id") >= 1000000).count() === 0)
  }

  test("simhash pairs: exact duplicates at hamming 0") {
    val pairs = Dedup.simHashPairs(doubled, "text", "doc_id", maxHamming = 0)
    assert(pairs.filter(col("id_b") === col("id_a") + 1000000).count() === docs.count())
  }

  test("brute-force topK: k neighbors per query, descending cosine") {
    val emb = Tables.embeddings(spark, sf)
    val out = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 3),
      "embedding", "vec_id", k = 4).cache()
    assert(out.count() === 12)
    assert(out.filter(col("query_id") === col("neighbor_id")).count() === 0)
    // rank 1 has the max cosine within each query group
    val viol = out.alias("x").join(out.alias("y"),
      col("x.query_id") === col("y.query_id") &&
        (col("x.rank") < col("y.rank")) && (col("x.cosine") < col("y.cosine")))
      .count()
    assert(viol === 0)
  }

  test("melt/widen round-trip") {
    val base = Tables.part(spark, sf)
      .select("p_partkey", "p_retailprice", "p_size").limit(50)
    val long = Reshape.melt(base, Seq("p_partkey"),
      Seq("p_retailprice", "p_size"), castTo = "double")
    assert(long.count() === 100)
    val wide = Reshape.widen(long, Seq("p_partkey"), "column", "value",
      Seq("p_retailprice", "p_size"))
    val diff = wide.alias("w").join(base.alias("b"), Seq("p_partkey"))
      .filter(col("w.p_retailprice") =!= col("b.p_retailprice") ||
        col("w.p_size") =!= col("b.p_size").cast("double")).count()
    assert(diff === 0)
  }

  test("merge: right side wins on common columns, outer rows kept") {
    import spark.implicits._
    val a = Seq((1, "a1", 10.0), (2, "a2", 20.0)).toDF("k", "name", "v")
    val b = Seq((2, 99.0), (3, 42.0)).toDF("k", "v")
    val m = Reshape.merge(a, b, "k").orderBy("k").collect()
    assert(m.length === 3)
    assert(m(1).getAs[Double]("v") === 99.0) // b overrides k=2
    assert(m(0).getAs[Double]("v") === 10.0) // a-only row survives
    assert(m(2).getAs[Double]("v") === 42.0) // b-only row survives
    assert(m(2).getAs[String]("name") === null)
  }

  test("statsTable counts: first occurrence has zero trials") {
    val out = StatsTable.counts(Tables.events(spark, sf), "event_type",
      col("value") > 100, "event_id")
    val firsts = out.groupBy(col("event_type"))
      .agg(min(col("event_id")).as("event_id"))
      .join(out, Seq("event_type", "event_id"))
    assert(firsts.filter(col("st_trials") =!= 0).count() === 0)
    // trials = rank within type - 1
    val bad = out.withColumn("rk",
      rank().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("event_id"))))
      .filter(col("st_trials") =!= col("rk") - 1).count()
    assert(bad === 0)
  }

  test("modulo sample is a strict deterministic subset") {
    val li = Tables.lineitem(spark, sf)
    val s1 = Reshape.moduloSample(li, "l_orderkey", 97, 5)
    val c1 = s1.count()
    assert(c1 > 0 && c1 < li.count())
    assert(s1.count() === c1) // deterministic across evaluations
  }

  test("degenerate corpus: 10k identical docs stay bounded under bucket caps") {
    import spark.implicits._
    // every doc identical -> every LSH bucket is one giant hot bucket;
    // the maxBucket guards must drop them (bounded pair count, no
    // quadratic blowup) rather than emit ~50M pairs.
    val same = (0 until 10000).map(i => (i.toLong, "the same boilerplate text repeated"))
      .toDF("doc_id", "text")
    assert(Dedup.simHashPairs(same, "text", "doc_id", maxBucket = 100).count() === 0)
    assert(Dedup.minHashPairs(same, "text", "doc_id", maxBucket = 100).count() === 0)
    val emb = (0 until 10000).map(i => (i.toLong, Array.fill(8)(1.0f)))
      .toDF("vec_id", "v")
    assert(Dedup.embeddingPairs(emb, "v", "vec_id", maxBucket = 100).count() === 0)
  }

  test("LSH bucket guards plan as aggregate + broadcast filter, never a bucket-key window") {
    // the guard must count buckets via groupBy (map-side partial agg)
    // and broadcast the over-cap keys back — a Window.partitionBy over
    // the bucket key would shuffle every exploded row of a hot bucket
    // into one straggler task at scale
    // audit the LAZY pair-plan stages the pin helper runs — the
    // finders themselves cut the pair set, which hides the LSH stages
    // from the final plan
    val plans = Seq(
      Dedup.minHashPairPlan(
        Dedup.minHashSignatures(doubled, "text", "doc_id", 3, 32), 8, 4, 0.7, 1000),
      Dedup.hammingPairPlan(doubled.select(col("doc_id").as("id"),
        graft.functions.TextFunctions.simHash64(col("text")).as("sim")), 3, 1000),
      Dedup.embeddingPairPlan(Tables.embeddings(spark, sf)
        .select(col("vec_id").as("id"), col("embedding").as("v"))
        .withColumn("bucket",
          graft.functions.VectorFunctions.lshBucket(col("v"), 8)), 0.95, 10000))
      .map(_.queryExecution.executedPlan.toString)
    plans.foreach { p =>
      assert(!p.contains("Window"), s"window in an LSH plan:\n${p.take(3000)}")
      assert(p.contains("BroadcastHashJoin"), "hot-key filter should broadcast")
    }
  }

  test("transitive dedup collapses a similarity chain to one keeper") {
    import spark.implicits._
    // A~B and B~C near-dups, A vs C below threshold: single-link keeps
    // C (no direct A~C pair), transitive closure must drop B AND C.
    val base = (0 until 40).map(i => s"tok$i").mkString(" ")
    val a = base
    val b = (4 until 44).map(i => s"tok$i").mkString(" ")   // J(a,b) high
    val c = (8 until 48).map(i => s"tok$i").mkString(" ")   // J(b,c) high, J(a,c) lower
    val chain = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val thr = 0.75
    val pairs = Dedup.minHashPairs(chain, "text", "doc_id",
      bands = 16, rowsPerBand = 2, threshold = thr)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 3L)) &&
      !pairs.contains((1L, 3L)), s"chain premise broken: $pairs")
    val kept = Dedup.minHashDedupTransitive(chain, "text", "doc_id",
      bands = 16, rowsPerBand = 2, threshold = thr)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L))
  }

  test("star contraction: bit-equal to pointer jumping on ordered " +
      "graphs; union-find-exact in O(log n) on the scrambled cycle " +
      "where jump stalls") {
    import spark.implicits._
    def labelsOf(res: (org.apache.spark.sql.DataFrame, Int)) =
      (res._1.collect().map(r => (r.getLong(0), r.getLong(1))).toSet, res._2)
    // chain 0-1-2-…-N: the long-diameter worst case
    val n = 500L
    val chain = spark.range(n - 1)
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    // star: hub 0 to 1..N
    val star = spark.range(1, n)
      .select(lit(0L).as("id_a"), col("id").as("id_b"))
    // mixed: two chains, a star, a triangle, singleton edges — several
    // components of different shapes
    val mixed = (
      (0L until 99L).map(i => (i, i + 1)) ++              // chain A
      (1000L until 1040L).map(i => (i, i + 1)) ++         // chain B
      (2001L until 2050L).map(i => (2000L, i)) ++         // star
      Seq((3000L, 3001L), (3001L, 3002L), (3002L, 3000L), // triangle
        (4000L, 4001L), (5000L, 5001L))                   // pairs
      ).toDF("id_a", "id_b")
    for ((g, tag) <- Seq((chain, "chain"), (star, "star"),
        (mixed, "mixed"))) {
      val (jump, rJump) = labelsOf(Dedup.connectedComponents(g, maxIter = 50))
      val (starL, rStar) =
        labelsOf(Dedup.connectedComponentsStar(g, maxIter = 50))
      assert(starL === jump, s"$tag labels diverged")
      // both formulations path-double on ORDERED ids, so star lands
      // within one round of jump on the chain (measured 10 vs 9 at
      // n=500 — the +1 is the fixpoint-confirmation round its
      // set-equality test needs)
      if (tag == "chain")
        assert(rStar <= rJump + 1,
          s"star contraction took MORE rounds on the chain: $rStar > $rJump+1")
    }
    // VALUE-SCRAMBLED cycle (multiplicative cosets mod 997: three
    // 332-node cycles whose ids are shuffled relative to adjacency) —
    // the layout where pointer jumping degrades to one hop per round.
    // Star must close it fast and match a local union-find oracle;
    // jump at the same budget is still wrong — the measured caveat
    // that made star the default.
    val rand = spark.range(2000)
      .select((col("id") * 2654435761L % 997L).as("id_a"),
        (col("id") * 40503L % 997L).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
    val truth = {
      val parent = Array.tabulate(997)(identity)
      def find(x: Int): Int = {
        var r = x; while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }; r
      }
      val es = rand.collect().map(r => (r.getLong(0).toInt, r.getLong(1).toInt))
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      es.flatMap(e => Seq(e._1, e._2)).distinct
        .map(n => (n.toLong, find(n).toLong)).toSet
    }
    val (starR, rStarR) = labelsOf(Dedup.connectedComponentsStar(rand, maxIter = 50))
    assert(starR === truth, "star diverged from union-find on the scrambled cycle")
    assert(rStarR <= 12, s"star needed $rStarR rounds on the scrambled cycle")
    val (jumpR, rJumpR) = labelsOf(Dedup.connectedComponents(rand, maxIter = 50))
    assert(rJumpR == 50 && jumpR != truth,
      "pointer jumping now converges on the scrambled cycle — " +
        "revisit the default-algorithm choice and this pin")
  }

  test("transitive dedup with RELIABLE checkpointing matches localCheckpoint " +
      "exactly (cluster fault-tolerance mode)") {
    import spark.implicits._
    // localCheckpoint blocks die with a lost executor; the session
    // conf graft.checkpointDir switches every lineage cut (DfOps.cut)
    // to reliable Dataset.checkpoint(). Same corpus, both modes,
    // identical survivor set — and the checkpoint dir actually
    // receives RDD checkpoint data.
    val docs = graft.core.Tables.documents(spark, sf).limit(400)
      .select(col("doc_id"), col("text"))
    val base = Dedup.minHashDedupTransitive(docs, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    spark.conf.set("graft.checkpointDir", dir)
    try {
      val reliable = Dedup.minHashDedupTransitive(docs, "text", "doc_id")
        .select("doc_id").as[Long].collect().toSet
      assert(reliable === base && base.nonEmpty)
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(wrote > 0, "reliable mode must write checkpoint files")
    } finally {
      spark.conf.unset("graft.checkpointDir")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("a pair finder whose pair stage throws still releases its pin") {
    import spark.implicits._
    // map-typed ids pass the signature stage (select, pin, count) but
    // cannot be ordered, so the pair stage's id_a < id_b fails
    val items = Seq((1L, 7L), (2L, 7L)).toDF("k", "fp")
      .select(map(lit("k"), col("k")).as("id"), col("fp"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[org.apache.spark.sql.AnalysisException](
      Dedup.hammingPairs(items, "fp", "id"))
    assert(spark.sparkContext.getPersistentRDDs.keySet === before,
      "the failed call left its signature pin persisted")
  }

  test("global ranking matches the single-window formulation exactly") {
    import graft.procedures.Procedures
    val orders = Tables.orders(spark, sf)
    val viaProc = Procedures.ranking(orders,
      Seq(col("o_totalprice").desc, col("o_orderkey")))
      .select(col("o_orderkey"), col("rank"), col("percentile"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val viaWindow = orders
      .withColumn("rank", rank().over(w))
      .withColumn("percentile", percent_rank().over(w))
      .select(col("o_orderkey"), col("rank"), col("percentile"))
    assert(viaProc.exceptAll(viaWindow).isEmpty && viaWindow.exceptAll(viaProc).isEmpty)
  }

  test("exact bucketize matches global ntile exactly") {
    import graft.procedures.Procedures
    val orders = Tables.orders(spark, sf)
    for (n <- Seq(7, 10)) { // 7 does not divide the row count: remainder path
      val viaProc = Procedures.bucketize(orders, "o_totalprice", "o_orderkey", n)
        .select(col("o_orderkey"), col("bucket"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      val viaWindow = orders.withColumn("bucket", ntile(n).over(w))
        .select(col("o_orderkey"), col("bucket"))
      assert(viaProc.exceptAll(viaWindow).isEmpty && viaWindow.exceptAll(viaProc).isEmpty)
    }
  }

  test("incremental dedup drops only new docs that match the existing corpus") {
    val existing = docs
    val incoming = docs.filter(col("doc_id") < 100) // 100 known dups
      .select((col("doc_id") + 5000000).as("doc_id"), col("text"),
        col("lang"), col("source"), col("n_chars"))
      .unionByName(docs.filter(col("doc_id") >= 100 && col("doc_id") < 150)
        .select((col("doc_id") + 6000000).as("doc_id"),
          reverse(col("text")).as("text"), // disjoint shingle set
          col("lang"), col("source"), col("n_chars")))
    val kept = Dedup.minHashDedupAgainst(incoming, existing, "text", "doc_id",
      threshold = 0.9)
    // the 100 verbatim copies are dropped; the 50 novel docs survive
    assert(kept.filter(col("doc_id") >= 5000000 && col("doc_id") < 6000000)
      .count() === 0)
    assert(kept.filter(col("doc_id") >= 6000000).count() === 50)
  }

  test("incremental dedup prefilter shrinks the exact-verify join") {
    // near-dup incoming docs (sliding token windows of shared text)
    // produce band collisions whose estimated jaccard is below the
    // threshold margin — the prefilter must drop them before the
    // heavy shingle-array join
    import spark.implicits._
    val base = (0 until 60).map(i => s"tok$i").mkString(" ")
    val existing = Seq((1L, base)).toDF("doc_id", "text")
    val incoming = (1 to 30).map(sh =>
      (100L + sh, (sh until sh + 60).map(i => s"tok$i").mkString(" ")))
      .toDF("doc_id", "text")
    // the shared MinHash stages of dedupAgainstIndex: 16 bands × 2
    // rows, 3-token shingles, hot-bucket cap 1000
    val nb = Dedup.minHashSignatures(incoming, "text", "doc_id", 3, 32)
    val ob = Dedup.minHashSignatures(existing, "text", "doc_id", 3, 32)
    val cand = Dedup.bandCandidates(Dedup.bandKeys(nb, 16, 2, 1000),
      Dedup.bandKeys(ob, 16, 2, 1000))
    val pre = Dedup.signaturePrefilter(cand, nb, ob, 32, threshold = 0.95)
    val (nc, np) = (cand.count(), pre.count())
    info(s"band candidates=$nc, after signature prefilter=$np")
    assert(nc > 0, "fixture produced no band collisions")
    assert(np < nc, s"prefilter removed nothing ($np of $nc)")
  }

  test("stratified sample preserves strata at the requested fractions") {
    import graft.procedures.Procedures
    val orders = Tables.orders(spark, sf)
    val out = Procedures.stratifiedSample(orders, "o_orderstatus",
      "o_orderkey", Map("F" -> 0.5, "O" -> 0.1))
    val in = orders.groupBy("o_orderstatus").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = out.groupBy("o_orderstatus").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(kept("F").toDouble / in("F") - 0.5) < 0.1)
    assert(math.abs(kept("O").toDouble / in("O") - 0.1) < 0.05)
    assert(!kept.contains("P")) // default fraction 0 drops other strata
    // deterministic: same call, same rows
    assert(Procedures.stratifiedSample(orders, "o_orderstatus", "o_orderkey",
      Map("F" -> 0.5, "O" -> 0.1)).count() === out.count())
  }

  test("contamination: planted benchmark overlap detected, fresh docs clean") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val bench = Seq("the quick brown fox jumps over the lazy dog tonight")
      .toDF("text")
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"), // verbatim
      (2L, "completely unrelated words about spark catalyst plans here"),
      (3L, "prefix words then the quick brown fox jumps over something else"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.contamination(corpus, "doc_id", "text", bench, "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(1L) === 1.0)
    assert(out(2L) === 0.0)
    assert(out(3L) > 0.2 && out(3L) < 1.0)
  }

  test("repetition ratio, PII redaction, URL normalization") {
    import spark.implicits._
    import graft.functions.{TextFunctions => T}
    val r = Seq(("spam spam spam spam spam",
      "mail a.b@x.io from 192.168.1.4 call 555 123 9876 ok",
      "HTTPS://Example.COM/Path?a=1&utm_source=x&b=2#frag"))
      .toDF("rep", "pii", "url")
      .select(T.repetitionRatio(col("rep"), 2).as("rr"),
        T.redactPii(col("pii")).as("red"),
        T.normalizeUrl(col("url")).as("nu"))
      .head()
    assert(r.getDouble(0) === 0.75) // 4 bigrams, 1 distinct
    assert(r.getString(1) === "mail <EMAIL> from <IP> call <NUMBER> ok")
    assert(r.getString(2) === "https://example.com/Path?a=1&b=2")
  }

  test("spanDedup: drops on a planted 8-token span, keeps a 7-token overlap") {
    import spark.implicits._
    val span8 = "alpha beta gamma delta epsilon zeta eta theta"
    val frame = Seq(
      (1L, s"intro words here $span8 closing remark"),
      // different doc, same 8-token run embedded → dropped
      (2L, s"totally other opening $span8 and different tail tokens"),
      // shares only the first 7 tokens of the span → kept
      (3L, "unrelated lead alpha beta gamma delta epsilon zeta eta trailing bits"),
      (4L, "no overlap with anything else at all in this document body")
    ).toDF("doc_id", "text")
    val kept = Dedup.spanDedup(frame, "text", "doc_id", spanTokens = 8)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 3L, 4L))
    // doubled real docs: every shifted copy shares all spans → dropped
    val out = Dedup.spanDedup(doubled, "text", "doc_id", spanTokens = 8)
    assert(out.filter(col("doc_id") >= 1000000).count() === 0)
    // adding exact copies at larger ids must not change which originals
    // survive (the corpus has organic span-sharing near-dups of its own)
    assert(out.count() === Dedup.spanDedup(docs, "text", "doc_id", 8).count())
  }

  test("chunkDocuments: windows, overlap, tail containment, casing kept") {
    import spark.implicits._
    val ten = "A b c d e f g h i J"
    val frame = Seq((1L, ten), (2L, "one two"), (3L, "  "))
      .toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis
      .chunkDocuments(frame, "doc_id", "text", chunkTokens = 4, overlap = 2)
      .orderBy("doc_id", "chunk_id")
      .select("doc_id", "chunk_id", "chunk_text", "n_tokens")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
    // doc 1: starts 1,3,5,7,9 → last start (9) has 2 tokens = overlap → dropped
    assert(out.filter(_._1 == 1L).map(_._3).toSeq ===
      Seq("A b c d", "c d e f", "e f g h", "g h i J"))
    assert(out.filter(_._1 == 1L).forall(_._4 == 4L))
    // doc 2: single short chunk survives; doc 3: empty → nothing
    assert(out.filter(_._1 == 2L) === Array((2L, 0, "one two", 2L)))
    assert(!out.exists(_._1 == 3L))
    // chunks tile the doc: every token of the original appears
    val rebuilt = out.filter(_._1 == 1L).flatMap(_._3.split(" ")).distinct
    assert(ten.split(" ").forall(rebuilt.contains))
  }

  test("winnowing: fingerprints are a small subset of grams with the span guarantee") {
    import spark.implicits._
    import graft.functions.{TextFunctions => T}
    val sel = docs
      .select(T.tokenHashes(col("text")).as("th"))
      .select(T.positionalGramHashes(col("th"), 3).as("gr"))
      .select(col("gr"), T.winnowSelect(col("gr"), 4).as("fp"))
      .select(size(col("gr")).as("n_grams"), size(col("fp")).as("n_fp"),
        size(array_except(col("fp"), col("gr"))).as("leaked"))
      .agg(sum(col("n_grams")).as("g"), sum(col("n_fp")).as("f"),
        max(col("leaked")).as("l")).head()
    // every fingerprint is one of the doc's gram hashes
    assert(sel.getInt(2) === 0)
    // winnowing keeps roughly 2/(w+1) of grams — assert a real reduction
    assert(sel.getLong(1) < sel.getLong(0) / 2)
    // the guarantee: two docs sharing a w+k-1 = 6-token run share a
    // fingerprint, so winnowDedup drops the larger-id doc
    val run6 = "alpha beta gamma delta epsilon zeta"
    val frame = Seq(
      (1L, s"first document body mentions $run6 and then diverges fully"),
      (2L, s"second text totally different until $run6 shows up again"),
      (3L, "third document shares nothing with anyone at all here")
    ).toDF("doc_id", "text")
    val kept = Dedup.winnowDedup(frame, "text", "doc_id", k = 3, w = 4)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 3L))
    // doubled corpus: every exact copy is dropped
    val out = Dedup.winnowDedup(doubled, "text", "doc_id")
    assert(out.filter(col("doc_id") >= 1000000).count() === 0)
  }

  test("native winnow/token-hash expressions equal their Column twins") {
    import graft.functions.{TextFunctions => T}
    // xxhash64 token hashes
    val th = docs.select(
      T.tokenHashes(col("text")).as("ref"),
      graft.plans.TokenHashes64.column(T.tokens(col("text"))).as("nat"))
    assert(th.filter(col("ref") =!= col("nat")).count() === 0)
    // full winnow chain (wrapping arithmetic)
    val wn = docs.select(col("text"))
      .withColumn("th", T.tokenHashes(col("text")))
      .withColumn("gr", T.positionalGramHashes(col("th"), 3))
      .withColumn("ref", T.winnowSelect(col("gr"), 4))
      .withColumn("nat", graft.plans.WinnowPrints.column(
        graft.plans.TokenHashes64.column(T.tokens(col("text"))), 3, 4))
    assert(wn.filter(col("ref") =!= col("nat")).count() === 0)
    // md5-prefix 32-bit hash vs the per-digit Column chain
    def hex2long(h: org.apache.spark.sql.Column) = (1 to 8).map { k =>
      (instr(lit("0123456789abcdef"), substring(h, k, 1)) - 1) *
        lit(math.pow(16, 8 - k).toLong)
    }.reduce(_ + _).cast("long")
    val md = docs
      .select(transform(T.tokens(col("text")),
        t => substring(md5(t.cast("binary")), 1, 8)).as("tm"),
        graft.plans.TokenHashesMd5x32.column(T.tokens(col("text"))).as("nat"))
      .select(transform(col("tm"), h => hex2long(h)).as("ref"), col("nat"))
    assert(md.filter(col("ref") =!= col("nat")).count() === 0)
    // mod-2^31 gram variant: sorted-distinct window minima agree with
    // the staged Column formulation used by the pre-native q93
    val M = 2147483648L
    def comb(win: org.apache.spark.sql.Column) =
      aggregate(win, lit(0L),
        (a, x) => (a * lit(1000003L) % lit(M) + x) % lit(M))
    val wm = docs
      .select(graft.plans.TokenHashesMd5x32.column(T.tokens(col("text"))).as("th"))
      .withColumn("gr",
        when(size(col("th")) >= 3,
          transform(sequence(lit(1), size(col("th")) - 2),
            i => comb(slice(col("th"), i, lit(3)))))
          .otherwise(array(comb(col("th")))))
      .withColumn("ref", array_sort(array_distinct(
        when(size(col("gr")) >= 4,
          transform(sequence(lit(1), size(col("gr")) - 3),
            j => array_min(slice(col("gr"), j, lit(4)))))
          .otherwise(array(array_min(col("gr")))))))
      .withColumn("nat", graft.plans.WinnowPrints.column(col("th"), 3, 4, M))
    assert(wm.filter(col("ref") =!= col("nat")).count() === 0)
  }

  test("lineDedup: keeper keeps, others lose, boilerplate dies everywhere") {
    import spark.implicits._
    val frame = Seq(
      (1L, "promo\nunique one\nshared quote"),
      (2L, "promo\nunique two\nshared quote"),
      (3L, "promo\n\nunique three"),
      (4L, "promo")
    ).toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis
      .lineDedup(frame, "doc_id", "text", dropThreshold = 4)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    // promo occurs 4 times = threshold → removed everywhere, even doc 1
    assert(out(1L) === ("unique one\nshared quote", 2L))
    // doc 2 loses the shared quote to doc 1, keeps its own line
    assert(out(2L) === ("unique two", 1L))
    // blank lines survive untouched
    assert(out(3L) === ("\nunique three", 2L))
    // a doc made entirely of boilerplate stays, with empty text
    assert(out(4L) === ("", 0L))
  }

  test("lmPerplexity: exact stupid-backoff scores on a counted fixture") {
    import spark.implicits._
    val train = Seq("a b", "a b", "a c").toDF("text")
    // unigrams: a=3 b=2 c=1, N=6; bigrams: (a,b)=2 (a,c)=1
    val score = Seq((1L, "a b"), (2L, "b a"), (3L, "a z"))
      .toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis
      .lmPerplexity(score, "doc_id", "text", train, "text")
      .select("doc_id", "n_bigrams", "perplexity")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(1L)._1 === 1L)
    assert(math.abs(out(1L)._2 - 1.5) < 1e-4)       // exp(-ln(2/3))
    assert(math.abs(out(2L)._2 - 5.0) < 1e-4)       // backoff: 0.4*3/6
    assert(math.abs(out(3L)._2 - 30.0) < 1e-3)      // OOV: 0.4*0.5/6
  }

  test("lmScoreTables: 1-ulp log perturbation leaves the fixed-point " +
      "contract unchanged") {
    // The r3 q89 red row: round(ln·1e6) computed independently in two
    // engines flips when libm results differ by 1 ulp near a .5
    // boundary. The contract now ships ONE driver-computed table to
    // both engines, so the only remaining exposure would be the table
    // itself being ulp-fragile — prove it is not: nudging every log
    // result up or down a full ulp reproduces the identical BIGINTs,
    // hence the identical hashed output in both engines.
    val train = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val base = graft.operators.TextAnalysis.lmScoreTables(train, "text")
    val up = graft.operators.TextAnalysis.lmScoreTables(train, "text",
      logFn = x => Math.nextUp(math.log(x)))
    val down = graft.operators.TextAnalysis.lmScoreTables(train, "text",
      logFn = x => Math.nextDown(math.log(x)))
    assert(base.seen.nonEmpty && base.backoff.nonEmpty)
    assert(up === base)
    assert(down === base)
    // and scoring against the table is pure integer math: the same
    // table must give the same per-doc sums wherever it is evaluated
    val docs = train.limit(50)
    val a = graft.operators.TextAnalysis
      .lmPerplexityWith(docs, "doc_id", "text", train, "text", base)
      .select("doc_id", "logprob_fp").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = graft.operators.TextAnalysis
      .lmPerplexityWith(docs, "doc_id", "text", train, "text", up)
      .select("doc_id", "logprob_fp").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a === b)
  }

  test("lmPerplexityDistributedFromCounts: bit-equal to the collected " +
      "score-table path on seen, backoff and OOV bigrams") {
    // r15: the scoring path computes the fixed-point scores
    // distributively (Spark log = StrictMath.log + round(x·1e6) =
    // fpMicro's BigDecimal HALF_UP) instead of collecting the ≤4M-row
    // (c2,c1) table to the driver. This pins the replacement bit-exact
    // against the table path over a real corpus slice (sf0.001 docs:
    // even-id train → odd docs exercise backoff and OOV heavily).
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val train = docs.filter(col("doc_id") % 2 === 0)
    val (uc, bc) = graft.operators.TextAnalysis.lmCountTables(train, "text")
    val tables = graft.operators.TextAnalysis.lmScoreTablesFromCounts(uc, bc)
    val viaTable = graft.operators.TextAnalysis
      .lmPerplexityWithCounts(docs, "doc_id", "text", uc, bc, tables)
      .select("doc_id", "n_bigrams", "logprob_fp").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val distributed = graft.operators.TextAnalysis
      .lmPerplexityDistributedFromCounts(docs, "doc_id", "text", uc, bc)
      .select("doc_id", "n_bigrams", "logprob_fp").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(distributed.nonEmpty)
    assert(distributed === viaTable,
      "distributed fixed-point scores must be bit-equal to the table path")
  }

  test("lmScoreTables: pathological count distributions fail fast on " +
      "both collects (pair table AND backoff table)") {
    import spark.implicits._
    // Doc i repeats its own bigram i times → the (c2,c1) table gets
    // ~2 fresh rows per doc ((i,i) and (i-1,i)), far over a cap of 3.
    val train = (1 to 10)
      .map(i => Seq.fill(i)(s"a$i b$i").mkString(" ")).toDF("text")
    val e1 = intercept[IllegalArgumentException] {
      graft.operators.TextAnalysis.lmScoreTables(train, "text",
        maxPairs = 3)
    }
    assert(e1.getMessage.contains("pathological"))
    // A corpus whose PAIR table fits but whose distinct unigram counts
    // exceed the cap exercises the backoff-side require specifically:
    // one repeated bigram (tiny pair table), many distinct counts.
    val skew = ((1 to 40).flatMap(i => Seq.fill(i)(s"t$i")) :+ "x y")
      .toDF("text")
    val e2 = intercept[IllegalArgumentException] {
      graft.operators.TextAnalysis.lmScoreTables(skew, "text",
        maxPairs = 5)
    }
    assert(e2.getMessage.contains("distinct unigram counts"))
  }

  test("gopherQuality: each rule trips on its crafted offender only") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val good = "the quick brown fox jumps over that lazy dog because " +
      "we have seen it move with great speed and of course style"
    val frame = Seq(
      (1L, good),
      (2L, "- one item\n- two item\n- three item\n- four item\n- five item"),
      (3L, "this line trails off...\nand this one too...\nmore dots...\nhere..."),
      (4L, "## ## ## ## ## the of and ## that have ## with ## be to ##"),
      (5L, "11 22 33 44 55 66 77 88 99 101 111 121 131 141 151 161")
    ).toDF("doc_id", "text")
    val m = TextAnalysis.gopherQuality(frame, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(m(1L).getAs[Boolean]("pass"))
    assert(!m(2L).getAs[Boolean]("pass") &&
      m(2L).getAs[Double]("bullet_frac") > 0.9)
    assert(!m(3L).getAs[Boolean]("pass") &&
      m(3L).getAs[Double]("ellipsis_frac") > 0.3)
    assert(!m(4L).getAs[Boolean]("pass") &&
      m(4L).getAs[Double]("symbol_ratio") > 0.1)
    assert(!m(5L).getAs[Boolean]("pass") &&
      m(5L).getAs[Double]("alpha_frac") < 0.8)
    // empty doc: ratios NULL, pass false, never a crash
    val empty = TextAnalysis.gopherQuality(
      Seq((9L, "")).toDF("doc_id", "text"), "doc_id", "text").head()
    assert(!empty.getAs[Boolean]("pass"))
    assert(empty.isNullAt(empty.fieldIndex("mean_word_len")))
  }

  test("battery verdicts are optimizer barriers: filter(pass) reads the boolean") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // non-scan input (aggregate + join below the battery) — the shape
    // where predicate pushdown used to re-inline the 13-metric pass
    // conjunction through every projection layer (~20x per-row cost)
    val a = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight")).toDF("doc_id", "text")
    val joined = a.groupBy("doc_id")
      .agg(org.apache.spark.sql.functions.first("text").as("text"))
      .join(a.select("doc_id"), Seq("doc_id"))
    for (battery <- Seq(
        TextAnalysis.gopherRepetition(joined, "doc_id", "text"),
        TextAnalysis.gopherQuality(joined, "doc_id", "text"))) {
      val plan = battery.filter(col("pass")).select("doc_id")
        .queryExecution.executedPlan.toString
      assert(plan.contains("graft_opaque"),
        "verdict must be fenced by plans.Opaque")
      // the blowup signature: the battery's expressions duplicated into
      // the filter condition. One fenced battery keeps ≤ 15 counting
      // kernel sites (gopherRepetition: 3 WindowCounts); a re-inlined
      // one repeats them per metric.
      val tc = "graft_token_counts|graft_window_counts".r.findAllIn(plan).size
      assert(tc <= 15, s"battery re-inlined into the filter: $tc sites")
    }
  }

  test("Opaque contract: group/join/sort on a verdict column still work") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // The barrier marks the verdict nondeterministic, but a
    // materialized verdict is an ATTRIBUTE by the time an Aggregate,
    // Join or Sort sees it — these must keep working (CollapseProject
    // cannot legally merge the nondeterministic Project into them).
    val passing = (0 until 40).map(i => s"${('a' + i / 10).toChar}${i % 10}")
      .mkString(" ")
    val docs = Seq((1L, passing),
      (2L, "spam spam spam spam spam spam spam spam")).toDF("doc_id", "text")
    val battery = TextAnalysis.gopherRepetition(docs, "doc_id", "text")
    val grouped = battery.groupBy(col("pass")).count()
      .collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    assert(grouped === Map(true -> 1L, false -> 1L))
    val sorted = battery.orderBy(col("pass"), col("doc_id"))
      .select("doc_id").as[Long].collect()
    assert(sorted === Array(2L, 1L))
    val joined = battery.select(col("doc_id"), col("pass"))
      .join(battery.select(col("doc_id").as("id2"), col("pass")), Seq("pass"))
    assert(joined.count() === 2L)
  }

  test("Opaque contract: pass-through predicates still reach the scan") {
    import graft.operators.TextAnalysis
    // The nondeterministic marker blocks Spark's own pushdown through
    // the battery Project; plans.PushThroughOpaque (installed by
    // Tables.tune) transposes conjuncts that touch only pass-through
    // columns, so partition-pruning/scan filters written AFTER a
    // battery still land in PushedFilters.
    val docs = core.Tables.documents(spark, "/root/testdata/sf0.001")
    val plan = TextAnalysis.gopherQuality(docs, "doc_id", "text")
      .filter(col("doc_id") > 100).select("doc_id", "pass")
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_opaque"), "barrier must survive")
    assert(plan.contains("GreaterThan(doc_id,100)"),
      s"doc_id predicate must reach PushedFilters; plan:\n$plan")
    // and the verdict conjunct itself must NOT transpose below the
    // battery (that would re-inline the 13-metric expression)
    val vPlan = TextAnalysis.gopherQuality(docs, "doc_id", "text")
      .filter(col("pass") && col("doc_id") > 100).select("doc_id")
      .queryExecution.executedPlan.toString
    assert(vPlan.contains("GreaterThan(doc_id,100)"),
      "sibling conjunct must still push with the verdict filtered above")
  }

  test("c4Clean: line rules drop lines, page flags drop pages") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val frame = Seq(
      (1L, "this line has five good words.\nshort line.\n" +
        "no terminal punctuation here at all\n" +
        "this other line also has five words!\n" +
        "third full sentence line keeps pages alive?"),
      (2L, "the javascript line has six words.\n" +
        "clean line with five words here.\n" +
        "another clean line with words here.\n" +
        "third clean line with many words."),
      (3L, "lorem ipsum dolor sit amet consectetur.\n" +
        "clean line with five words here.\n" +
        "more clean line with words here.\nthird clean line right here now."),
      (4L, "object with brace {\nclean line with five words here.\n" +
        "more clean line with words here.\nthird clean line right here now."),
      (5L, "only one good sentence line here.\n" +
        "second good sentence line right here."),
      (9L, "")
    ).toDF("doc_id", "text")
    val m = TextAnalysis.c4Clean(frame, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    // doc1: short line and unterminated line dropped, 3 survive
    assert(m(1L).getAs[Boolean]("keep") && m(1L).getAs[Long]("n_kept") === 3L)
    assert(m(1L).getAs[String]("text") ===
      "this line has five good words.\nthis other line also has five words!\n" +
        "third full sentence line keeps pages alive?")
    assert(m(1L).getAs[Long]("n_sentences") === 3L)
    // doc2: the javascript LINE dies, the page survives
    assert(m(2L).getAs[Boolean]("keep") && m(2L).getAs[Long]("n_kept") === 3L)
    assert(!m(2L).getAs[String]("text").contains("javascript"))
    // doc3/doc4: lorem ipsum and brace kill the whole page
    assert(!m(3L).getAs[Boolean]("keep"))
    assert(!m(4L).getAs[Boolean]("keep"))
    // doc5: only 2 sentences
    assert(!m(5L).getAs[Boolean]("keep") && m(5L).getAs[Long]("n_kept") === 2L)
    // empty doc: zero lines, keep false, never a crash
    assert(!m(9L).getAs[Boolean]("keep") && m(9L).getAs[Long]("n_lines") === 0L)
    assert(m(9L).getAs[String]("text") === "")
  }

  test("gopherRepetition: each repetition rule trips on its crafted offender") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // 25 distinct 2-char filler tokens (50 chars) after a repeated
    // 5-gram of 1-char words (10 chars): total 60 word chars, so
    // dup_5gram = 2*5/60 = 0.1667 > 0.15 trips while the sub-gram
    // top fracs stay under their thresholds (top4 = 2*4/60 = 0.1333)
    val filler = (0 until 25).map(i => s"${('a' + i / 5).toChar}${i % 5}")
    val doc4 = "p q r s t p q r s t " + filler.mkString(" ")
    // doc1: 40 distinct 2-char tokens — with top-gram now counting
    // once-occurring grams (the paper's definition), a passing doc
    // needs its longest single n-gram to be a small char fraction
    val doc1 = (0 until 40).map(i => s"${('a' + i / 10).toChar}${i % 10}")
      .mkString(" ")
    val frame = Seq(
      (1L, doc1),
      (2L, "same line\nsame line\nsame line\nother"),
      (3L, "ab cd ab cd ab cd xx yy"),
      (4L, doc4),
      (5L, "para one text\n\npara one text\n\nother para")
    ).toDF("doc_id", "text")
    val m = TextAnalysis.gopherRepetition(frame, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(m(1L).getAs[Boolean]("pass"))
    // all 2-grams occur once; the top one still counts: 4 chars / 80
    assert(m(1L).getAs[Double]("top_2gram_frac") === 0.05 &&
      m(1L).getAs[Double]("dup_line_frac") === 0.0)
    // doc2: "same line"x3 + "other": (4-2)/4 lines dup; chars
    // (3-1)*9 / (3*9+5)
    assert(!m(2L).getAs[Boolean]("pass"))
    assert(m(2L).getAs[Double]("dup_line_frac") === 0.5)
    assert(m(2L).getAs[Double]("dup_line_char_frac") === 0.5625)
    // doc3: "ab cd"x3 of 16 word chars → 3*4/16
    assert(!m(3L).getAs[Boolean]("pass"))
    assert(m(3L).getAs[Double]("top_2gram_frac") === 0.75)
    assert(m(3L).getAs[Double]("dup_5gram_frac") === 0.0)
    // doc4: only the 5-gram rule trips
    assert(!m(4L).getAs[Boolean]("pass"))
    assert(m(4L).getAs[Double]("dup_5gram_frac") === 0.1667)
    assert(m(4L).getAs[Double]("top_4gram_frac") <= 0.16)
    assert(m(4L).getAs[Double]("top_3gram_frac") <= 0.18)
    // doc5: "para one text"x2 + one other → (3-2)/3 paras dup;
    // chars (2-1)*13 / (2*13+10)
    assert(!m(5L).getAs[Boolean]("pass"))
    assert(m(5L).getAs[Double]("dup_para_frac") === 0.3333)
    assert(m(5L).getAs[Double]("dup_para_char_frac") === 0.3611)
    // empty doc: all metrics 0, no repetition → pass, never a crash
    val empty = TextAnalysis.gopherRepetition(
      Seq((9L, "")).toDF("doc_id", "text"), "doc_id", "text").head()
    assert(empty.getAs[Boolean]("pass"))
    assert(empty.getAs[Double]("dup_10gram_frac") === 0.0)
  }

  test("unigramDivergence: non-negative, zero for identical slices, large for disjoint") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // two slices with the SAME token distribution → KL == 0 exactly
    val same = Seq(("a", "x y z x"), ("b", "x y z x")).toDF("source", "text")
    val klSame = TextAnalysis.unigramDivergence(same, "text", "source")
      .select("kl_fp").as[Long].collect()
    assert(klSame.forall(_ === 0L))
    // a disjoint-vocabulary slice diverges hard; everything stays >= 0
    val skew = Seq(("a", "x y z x y z"), ("b", "q r s q r s"))
      .toDF("source", "text")
    val klSkew = TextAnalysis.unigramDivergence(skew, "text", "source")
      .select("kl_fp").as[Long].collect()
    assert(klSkew.forall(_ > 0L))
    val real = TextAnalysis.unigramDivergence(
      Tables.documents(spark, sf), "text", "source")
      .select("kl_fp").as[Long].collect()
    assert(real.nonEmpty && real.forall(_ >= 0L))
  }

  test("int8 quantization: codes in range, reconstruction within span/510") {
    val emb = Tables.embeddings(spark, sf)
    val (mins, maxs) = Similarity.embeddingRanges(emb, "embedding")
    assert(mins.length === maxs.length && mins.zip(maxs).forall { case (a, b) => a <= b })
    val maxSpan = mins.zip(maxs).map { case (a, b) => b - a }.max
    val out = emb.select(
      Similarity.quantizeInt8(col("embedding"), mins, maxs).as("c"),
      col("embedding"))
      .select(
        size(filter(col("c"), c => c < 0 || c > 255)).as("oob"),
        array_max(zip_with(transform(col("embedding"), x => x.cast("double")),
          Similarity.dequantizeInt8(col("c"), mins, maxs),
          (a, b) => abs(a - b))).as("err"))
      .agg(sum(col("oob")).as("oob"), max(col("err")).as("err")).head()
    assert(out.getLong(0) === 0L)
    assert(out.getDouble(1) <= maxSpan / 510.0 + 1e-12)
  }

  test("quantizedTopK: high recall vs exact, identical exact cosines on shared pairs") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val qs = emb.filter(col("vec_id") < 6)
    val exact = Similarity.bruteForceTopK(emb, qs, "embedding", "vec_id", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val quant = Similarity.quantizedTopK(emb, qs, "embedding", "vec_id", 5,
      rerankFactor = 4)
    val qPairs = quant.select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    assert(qPairs.size === exact.size)
    // int8 + 4x rerank pool on 64-dim data: near-total recall
    val recall = (exact & qPairs).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall")
    // the rerank is EXACT: shared pairs carry the brute-force cosine
    val bf = Similarity.bruteForceTopK(emb, qs, "embedding", "vec_id", 5)
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
      .as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    quant.select(col("query_id"), col("neighbor_id"), col("cosine"))
      .as[(Long, Long, Double)].collect()
      .filter(t => bf.contains((t._1, t._2)))
      .foreach(t => assert(t._3 === bf((t._1, t._2))))
  }

  test("ivf assignment: every row assigned to its nearest centroid, no window shuffle of corpus x centroids") {
    val emb = Tables.embeddings(spark, sf)
    val cents = emb.filter(col("vec_id") < 4)
    val out = Similarity.ivfTopK(emb, cents, emb.filter(col("vec_id") < 2),
      "embedding", "vec_id", k = 3)
    assert(out.groupBy("query_id").count().filter(col("count") > 3).count() === 0)
    assert(out.count() > 0)
  }

  test("semanticDedup: twin drops by the more-central-loses rule; no Window in the plan") {
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // plant twins: same direction, slightly perturbed first coordinate
    val twins = emb.select((col("vec_id") + 1000L).as("vec_id"),
      concat(array(element_at(col("v"), 1) * 0.5 + 0.01),
        slice(col("v"), lit(2), size(col("v")) - 1)).as("v"))
    val cents = graft.plans.LshBucket.signMatrix(8, 64)
    val all = emb.unionByName(twins)
    val out = Dedup.semanticDedup(all, "v", "vec_id", cents, minCosine = 0.9)
    val n = emb.count()
    // exactly one of each same-cluster twin pair dropped; nothing else
    // (original corpus pairs are near-orthogonal)
    assert(out.count() < 2 * n && out.count() >= n)
    // survivors of a dropped pair: the one with LOWER centroid cosine
    val surv = out.select("id").as[Long](spark.implicits.newLongEncoder)
      .collect().toSet
    (0L until n).foreach { i =>
      assert(surv.contains(i) || surv.contains(i + 1000L))
    }
    // plan audit: no Window anywhere (assignment is map-side literals)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "semanticDedup must not use Window")
  }

  test("semanticDedup quantized prefilter is exact: equals the unquantized formulation") {
    import graft.functions.{VectorFunctions => V}
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val twins = emb.select((col("vec_id") + 1000L).as("vec_id"),
      concat(array(element_at(col("v"), 1) * 0.5 + 0.01),
        slice(col("v"), lit(2), size(col("v")) - 1)).as("v"))
    val cents = graft.plans.LshBucket.signMatrix(8, 64)
    val all = emb.unionByName(twins)
    val out = Dedup.semanticDedup(all, "v", "vec_id", cents, minCosine = 0.9)
      .select("id").as[Long](spark.implicits.newLongEncoder).collect().toSet
    // unquantized reference: same assignment, plain exact-dot pairs
    val dots = array(cents.toIndexedSeq.map(c =>
      V.dot(col("v"), typedLit(c.toSeq))): _*)
    val assigned = all.select(col("vec_id").as("id"), col("v"))
      .withColumn("__dots", dots)
      .withColumn("__vnorm", sqrt(V.dot(col("v"), col("v"))))
      .withColumn("cluster",
        (array_position(col("__dots"), array_max(col("__dots"))) - 1).cast("int"))
      .withColumn("csim", array_max(col("__dots")) / (col("__vnorm") * 8.0))
      .withColumn("vn", org.apache.spark.sql.functions.transform(
        col("v"), x => x / col("__vnorm")))
      .select(col("id"), col("vn"), col("cluster"), col("csim"))
    val aa = assigned.select(col("cluster"), col("id").as("id_a"),
      col("vn").as("vn_a"), col("csim").as("csim_a"))
    val bb = assigned.select(col("cluster"), col("id").as("id_b"),
      col("vn").as("vn_b"), col("csim").as("csim_b"))
    val losers = aa.join(bb, Seq("cluster")).filter(col("id_a") < col("id_b"))
      .filter(V.dot(col("vn_a"), col("vn_b")) >= 0.9)
      .select(when(col("csim_a") > col("csim_b") ||
          (col("csim_a") === col("csim_b") && col("id_a") > col("id_b")),
        col("id_a")).otherwise(col("id_b")).as("id"))
      .distinct()
    val ref = assigned.join(losers, Seq("id"), "left_anti")
      .select("id").as[Long](spark.implicits.newLongEncoder).collect().toSet
    assert(out === ref)
  }

  test("semanticDedupAuto trains kmeans centroids in place") {
    val emb = Tables.embeddings(spark, sf)
    val out = Dedup.semanticDedupAuto(emb, "embedding", "vec_id",
      k = 4, minCosine = 0.99)
    // near-orthogonal corpus, high threshold: nothing drops
    assert(out.count() === emb.count())
    assert(out.select("cluster").distinct().count() <= 4)
  }

  test("dsirSelect: target-like docs get higher importance weight and dominate the selection") {
    val s2 = spark
    import s2.implicits._
    // target vocabulary {alpha beta gamma}; off-target {delta epsilon zeta}
    val raw = (0 until 200).map { i =>
      if (i % 2 == 0) (i.toLong, "alpha beta gamma alpha beta")
      else (i.toLong, "delta epsilon zeta delta epsilon")
    }.toDF("doc_id", "text")
    val target = Seq((9000L, "alpha beta gamma"), (9001L, "beta gamma alpha"))
      .toDF("doc_id", "text")
    val scores = graft.operators.TextAnalysis.dsirScores(
      raw, target, "doc_id", "text", nBuckets = 64)
    val byParity = scores.withColumn("p", col("id") % 2)
      .groupBy("p").agg(avg(col("logw_fp")).as("w"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(byParity(0L) > byParity(1L),
      s"target-like docs must score higher: $byParity")
    val sel = graft.operators.TextAnalysis.dsirSelect(
      raw, target, "doc_id", "text", k = 50, nBuckets = 64)
    // selection is deterministic and dominated by target-like docs
    assert(sel.filter(col("id") % 2 === 0).count() >= 45)
    val again = graft.operators.TextAnalysis.dsirSelect(
      raw, target, "doc_id", "text", k = 50, nBuckets = 64)
    assert(sel.select("id").except(again.select("id")).isEmpty)
  }

  test("intraDocLineDedup keeps first occurrences in document order") {
    import spark.implicits._
    val df = Seq(
      (1L, "a\nb\na\nc\nb\na"),        // dups scattered
      (2L, "x\n\ny\n\n\nx"),           // repeated empty lines collapse too
      (3L, "only"),                          // no newline at all
      (4L, "same\nsame\nsame")            // all identical
    ).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis
      .intraDocLineDedup(df, "doc_id", "text")
      .orderBy("doc_id").select("text").as[String].collect()
    assert(got === Array("a\nb\nc", "x\n\ny", "only", "same"))
    // schema unchanged, no extra columns leak out
    assert(graft.operators.TextAnalysis.intraDocLineDedup(df, "doc_id", "text")
      .columns.toSeq === Seq("doc_id", "text"))
    // zero-shuffle: the plan has no Exchange
    val plan = graft.operators.TextAnalysis.intraDocLineDedup(df, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
  }

  test("compressionRatio: repetition compresses below prose, deterministic, tri-logic") {
    import spark.implicits._
    val prose = "The quick brown fox jumps over the lazy dog while " +
      "seventeen jackdaws quiz a sphinx about vexing waltzes and " +
      "amazingly few discotheques provide jukeboxes for the patrons."
    val boiler = "click here to subscribe\n" * 40
    val df = Seq((1L, prose), (2L, boiler), (3L, ""), (4L, null))
      .toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis
      .compressionRatio(df, "text")
      .select("doc_id", "compression_ratio", "pass")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) Double.NaN else r.getDouble(1), r.getBoolean(2)))
      .toMap
    // natural prose sits in the keep band; 40 identical lines compress
    // far below it and fail the min-ratio gate
    assert(got(1L)._1 > 0.25 && got(1L)._1 < 0.95 && got(1L)._2,
      got(1L).toString)
    assert(got(2L)._1 < 0.15 && !got(2L)._2, got(2L).toString)
    assert(got(2L)._1 < got(1L)._1)
    // empty and null text → null ratio, pass false (never a crash)
    assert(got(3L)._1.isNaN && !got(3L)._2)
    assert(got(4L)._1.isNaN && !got(4L)._2)
    // determinism: two independent evaluations agree bit-exactly
    val again = graft.operators.TextAnalysis.compressionRatio(df, "text")
      .select("compression_ratio").collect()
      .map(r => if (r.isNullAt(0)) Double.NaN else r.getDouble(0))
    val first = graft.operators.TextAnalysis.compressionRatio(df, "text")
      .select("compression_ratio").collect()
      .map(r => if (r.isNullAt(0)) Double.NaN else r.getDouble(0))
    assert(again.zip(first).forall { case (a, b) =>
      (a.isNaN && b.isNaN) || a == b })
    // registered for plain SQL too
    graft.plans.GraftSqlFunctions.registerAll(spark)
    val sql = spark.sql(
      "SELECT graft_deflate_ratio('aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa') AS r")
      .head().getDouble(0)
    assert(sql > 0.0 && sql < 0.5)
    // per-row column math only — no shuffle in the plan
    val plan2 = graft.operators.TextAnalysis.compressionRatio(df, "text")
      .queryExecution.executedPlan.toString
    assert(!plan2.contains("Exchange"), s"unexpected shuffle:\n$plan2")
  }
}
