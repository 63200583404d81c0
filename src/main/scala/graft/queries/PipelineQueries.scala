package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.{HtmlFunctions => H, TextFunctions => T, VectorFunctions => V}
import graft.operators.{Dedup, Similarity, TextAnalysis}
import graft.plans.Tokenize
import graft.procedures.Procedures

/** Training-data pipeline operators: dedup (exact / MinHash-LSH /
  * SimHash / n-gram Jaccard / embedding-cosine), similarity search
  * (brute-force + LSH ANN), and text analysis (token counting,
  * language-ID, quality scoring, fingerprinting).
  *
  * Oracle coverage: everything expressible in portable SQL gets a
  * DuckDB oracle (token stats, exact dedup, n-gram jaccard via list
  * ops, vector norms via list lambdas). The approximate LSH ops are
  * oracled against the EXACT answer where recall is deterministic at
  * gate scale (q46: all qualifying pairs sit far above the banding
  * knee; q50: only identical vectors qualify and those always share a
  * bucket) — certifying exact recall is the correctness claim an
  * approximate dedup must defend. Purely hash-defined outputs with no
  * similarity ground truth (simhash hamming histogram q47,
  * bucket-restricted ANN q49 on clusterless random data) stay
  * rows-only with determinism/invariant specs in ScalaTest.
  */
object PipelineQueries {

  /** The htmlToText regex/entity chain as DuckDB SQL over `expr` —
    * the SAME operations in the SAME order as HtmlFunctions.htmlToText
    * (patterns live in the Java∩RE2 subset on purpose; DuckDB needs
    * the explicit 'g' flag where Spark replaces globally by default). */
  private def htmlChainSql(expr: String): String =
    "trim(regexp_replace(" +
      "replace(replace(replace(replace(replace(replace(" +
      "regexp_replace(regexp_replace(regexp_replace(regexp_replace(" +
      expr +
      ", '(?is)<script[^>]*>.*?</script>', ' ', 'g')" +
      ", '(?is)<style[^>]*>.*?</style>', ' ', 'g')" +
      ", '(?s)<!--.*?-->', ' ', 'g')" +
      ", '(?s)<[^>]+>', ' ', 'g')" +
      ", '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>')" +
      ", '&quot;', '\"'), '&#39;', ''''), '&amp;', '&')" +
      ", '\\s+', ' ', 'g'))"

  /** q89's fixed-point score table DERIVATION, stashed by the impl as
    * a thunk over its materialized count tables and forced only when
    * the oracle SQL is dumped (Verify runs every impl before it dumps
    * oracle_sql.json, so the stash is always populated on the driver
    * path; the fallback below only guards a Verify run where q89
    * itself crashed — in which case its oracle row is moot). The
    * BENCH path never forces it: since r15 the Spark scoring computes
    * the fixed-point scores distributively
    * ([[TextAnalysis.lmPerplexityDistributedFromCounts]] —
    * StrictMath.log on both sides, bit-equal by spec), so the ≤4M-row
    * driver collect is an oracle-mirroring cost only. */
  @volatile private var q89TableThunk: Option[() => TextAnalysis.LmScoreTables] = None

  /** DuckDB mirror of q89: re-derive the unigram/bigram counts
    * (integer-exact in any engine), then join the SAME literal
    * (count-pair → fixed-point log-score) tables the Spark plan
    * computes distributively (StrictMath.log both sides) — zero
    * engine-libm transcendentals in the hashed contract. */
  private def q89OracleSql: String = {
    val t = q89TableThunk.map(_.apply()).getOrElse(
      TextAnalysis.LmScoreTables(Seq((1L, 1L, 0L)), Seq((1L, 0L)), 0L, 1L))
    val seenVals =
      t.seen.map { case (c2, c1, fp) => s"($c2,$c1,$fp)" }.mkString(",")
    val backVals =
      t.backoff.map { case (c, fp) => s"($c,$fp)" }.mkString(",")
    s"""WITH d AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'),
      |    x -> len(x) > 0) AS toks
      |  FROM documents),
      |tr AS (SELECT toks FROM d WHERE doc_id % 2 = 0),
      |uni AS (SELECT unnest(toks) AS w FROM tr),
      |uc AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
      |tbg AS (
      |  SELECT toks[pos] AS w1, toks[pos + 1] AS w2 FROM (
      |    SELECT unnest(generate_series(1, len(toks) - 1)) AS pos, toks
      |    FROM tr WHERE len(toks) >= 2)),
      |bc AS (SELECT w1, w2, count(*) AS c2 FROM tbg GROUP BY w1, w2),
      |fps AS (SELECT CAST(c2 AS BIGINT) AS c2, CAST(c1 AS BIGINT) AS c1,
      |          CAST(fp AS BIGINT) AS fp
      |        FROM (VALUES $seenVals) v(c2, c1, fp)),
      |fpb AS (SELECT CAST(cu AS BIGINT) AS cu, CAST(fp AS BIGINT) AS fp
      |        FROM (VALUES $backVals) v(cu, fp)),
      |dbg AS (
      |  SELECT doc_id, toks[pos] AS w1, toks[pos + 1] AS w2 FROM (
      |    SELECT doc_id, unnest(generate_series(1, len(toks) - 1)) AS pos, toks
      |    FROM d WHERE len(toks) >= 2)),
      |sc AS (
      |  SELECT doc_id,
      |    CASE WHEN bc.c2 IS NOT NULL THEN fps.fp
      |         ELSE coalesce(fpb.fp, ${t.oovFp}) END AS fp
      |  FROM dbg
      |  LEFT JOIN bc USING (w1, w2)
      |  LEFT JOIN uc u1 ON u1.w = dbg.w1
      |  LEFT JOIN uc u2 ON u2.w = dbg.w2
      |  LEFT JOIN fps ON fps.c2 = bc.c2 AND fps.c1 = u1.c
      |  LEFT JOIN fpb ON fpb.cu = u2.c)
      |SELECT doc_id, count(*) AS n_bigrams,
      |  CAST(sum(fp) AS BIGINT) AS logprob_fp,
      |  CAST(sum(fp) AS DOUBLE) / count(*) / 1000000.0 AS avg_logprob
      |FROM sc GROUP BY doc_id""".stripMargin
  }

  /** documents ∪ shifted copy — guarantees exact+near duplicates so
    * dedup queries have non-trivial answers at every SF. */
  private def doubledDocs(s: org.apache.spark.sql.SparkSession, d: String) = {
    val docs = Tables.documents(s, d)
    docs.unionByName(docs.select(
      (col("doc_id") + 1000000).as("doc_id"), col("text"), col("lang"),
      col("source"), col("n_chars")))
  }

  /** Similarity CHAINS for the transitive-dedup oracle (q114): per base
    * doc, three variants — Z (text + 2m junk tokens, smallest id),
    * X (bare text, +1M), Y (text + m junk, +2M) with m ≈ ntok/3.
    * Adjacent Jaccards land near 0.75 (X~Y) and 0.8 (Y~Z); the
    * end-to-end X~Z pair lands near 0.6, below a 0.7 threshold — so X
    * reaches the min-id keeper Z only through the Y hop, and transitive
    * closure differs from single-link (which would keep X: its only
    * neighbor Y has a larger id). Junk tokens are 'zq1'..'zqm' built
    * from the SAME token count both engines compute. */
  private def chainedDocs(s: org.apache.spark.sql.SparkSession, d: String) = {
    val docs = Tables.documents(s, d).filter(col("doc_id") < 250)
      .select(col("doc_id"), col("text"), col("source"))
    val m = greatest(lit(2), floor(size(T.tokens(col("text"))) / lit(3)).cast("int"))
    def junk(count: org.apache.spark.sql.Column) = array_join(
      transform(sequence(lit(1), count),
        i => concat(lit("zq"), i.cast("string"))), " ")
    val z = docs.select(col("doc_id"),
      concat(col("text"), lit(" "), junk(m * 2)).as("text"), col("source"))
    val x = docs.select((col("doc_id") + 1000000L).as("doc_id"),
      col("text"), col("source"))
    val y = docs.select((col("doc_id") + 2000000L).as("doc_id"),
      concat(col("text"), lit(" "), junk(m)).as("text"), col("source"))
    z.unionByName(x).unionByName(y)
  }

  val all: Seq[QueryDef] = Seq(

    // --- exact dedup (hash-groupBy, keep smallest id) ---
    QueryDef("q40_dedup_exact",
      """SELECT doc_id, n_chars FROM (
        |  SELECT doc_id, n_chars,
        |    row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |  FROM (SELECT doc_id, text, n_chars FROM documents
        |        UNION ALL
        |        SELECT doc_id + 1000000, text, n_chars FROM documents) u) t
        |WHERE rn = 1""".stripMargin) { (s, d) =>
      Dedup.exact(doubledDocs(s, d), "text", "doc_id")
        .select(col("doc_id"), col("n_chars"))
    },

    // --- token counting (whitespace tokenizer) ---
    QueryDef("q41_token_stats",
      """SELECT doc_id,
        |  CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
        |       x -> len(x) > 0)) AS BIGINT) AS n_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars_computed,
        |  CAST(len(list_distinct(list_filter(
        |       regexp_split_to_array(lower(text), '\s+'),
        |       x -> len(x) > 0))) AS BIGINT) AS n_unique
        |FROM documents""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        T.tokenCount(col("text")).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars_computed"),
        size(array_distinct(T.tokens(col("text"), Tokenize.Whitespace))).cast("long").as("n_unique"))
    },

    // --- corpus-level token frequencies (the tokenize → bag pipeline) ---
    QueryDef("q42_token_freq",
      """SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
        |FROM (SELECT doc_id, unnest(list_filter(
        |        regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0)) AS token
        |      FROM documents) t
        |GROUP BY token""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          explode(T.tokens(col("text"), Tokenize.Whitespace)).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
    },

    // --- n-gram Jaccard near-dup scoring between adjacent doc pairs ---
    QueryDef("q43_ngram_jaccard",
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
        |FROM
        | (SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ')
        |    for i in range(1, len(toks) - 1)]) AS sh
        |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
        |        x -> len(x) > 0) AS toks FROM documents)) a
        |JOIN
        | (SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ')
        |    for i in range(1, len(toks) - 1)]) AS sh
        |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
        |        x -> len(x) > 0) AS toks FROM documents)) b
        |ON b.doc_id = a.doc_id + 1 AND a.doc_id % 10 = 0""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"),
          array_distinct(T.shingles(col("text"), 3)).as("sh"))
      val a = docs.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
        .filter(col("id_a") % 10 === 0)
      val b = docs.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
      a.join(b, col("id_b") === col("id_a") + 1)
        .select(col("id_a"), col("id_b"),
          round(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
            size(array_union(col("sh_a"), col("sh_b"))), 6).as("jaccard"))
    },

    // --- embedding vector math (norm / normalize / dot) ---
    QueryDef("q44_embedding_norm",
      """SELECT vec_id,
        |  round(sqrt(list_sum(list_transform(embedding,
        |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2,
        |  round(list_sum(list_transform(embedding,
        |        x -> abs(CAST(x AS DOUBLE)))), 6) AS l1,
        |  CAST(len(embedding) AS BIGINT) AS dim
        |FROM embeddings""".stripMargin) { (s, d) =>
      Tables.embeddings(s, d).select(col("vec_id"),
        round(V.norm(col("embedding"), 2.0), 6).as("l2"),
        round(V.norm(col("embedding"), 1.0), 6).as("l1"),
        size(col("embedding")).cast("long").as("dim"))
    },

    // --- quality scoring + language ID: deterministic Column math, so
    // DuckDB can replicate the exact same expressions (langId's argmax
    // with max-lexicographic tie-break becomes a descending-order CASE;
    // the quality mix mirrors term-for-term). fingerprint (xxhash64
    // rolling hash) has no DuckDB equivalent — covered in FunctionsSpec
    // instead. ---
    QueryDef("q45_text_quality",
      """WITH t AS (
        |  SELECT doc_id, lang, text,
        |    list_distinct(list_filter(regexp_split_to_array(lower(text),
        |      '[\s,;:!?.()\[\]{}"'']+'), x -> len(x) > 0)) AS toks,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> len(x) > 0) AS wtoks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, lang,
        |    len(list_intersect(toks, ['der','die','das','und','ein','ist','zu','den','von','mit'])) AS s_de,
        |    len(list_intersect(toks, ['the','a','of','and','to','in','is','that','it','for'])) AS s_en,
        |    len(list_intersect(toks, ['el','la','de','y','un','una','es','que','los','en'])) AS s_es,
        |    len(list_intersect(toks, ['le','la','de','et','un','une','est','que','les','des'])) AS s_fr,
        |    len(list_intersect(toks, ['il','la','di','e','un','una','che','per','con','non'])) AS s_it,
        |    len(list_intersect(toks, ['the','a','of','and','to','in','is','that','it','for'])) AS stop,
        |    CAST(len(wtoks) AS DOUBLE) AS ntok,
        |    CAST(length(text) AS DOUBLE) AS nchar,
        |    CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) AS punct,
        |    CAST(coalesce(list_sum(list_transform(wtoks,
        |      w -> CAST(ceil(len(w) / 6.0) AS BIGINT))), 0) AS BIGINT) AS bpe_tokens
        |  FROM t)
        |SELECT doc_id, lang,
        |  CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_it) = 0 THEN 'und'
        |       WHEN s_it = greatest(s_de, s_en, s_es, s_fr, s_it) THEN 'it'
        |       WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_it) THEN 'fr'
        |       WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_it) THEN 'es'
        |       WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_it) THEN 'en'
        |       ELSE 'de' END AS lang_guess,
        |  round(least(ntok / 100.0, 1.0) * 0.3 +
        |    (1.0 - least(punct / greatest(nchar, 1.0) * 10, 1.0)) * 0.2 +
        |    least(stop / 3.0, 1.0) * 0.3 +
        |    (CASE WHEN ntok > 0 AND nchar / ntok BETWEEN 3.0 AND 12.0
        |          THEN 1.0 ELSE 0.5 END) * 0.2, 6) AS quality,
        |  bpe_tokens
        |FROM s""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(col("doc_id"), col("lang"),
        T.langId(col("text")).as("lang_guess"),
        T.qualityScore(col("text")).as("quality"),
        T.approxBpeTokenCount(col("text")).as("bpe_tokens"))
    },

    // --- MinHash-LSH near-dup dedup, now oracle-checked: DuckDB
    // computes the EXACT single-link dedup (every doc dropped iff a
    // smaller-id doc has true 3-gram Jaccard >= 0.8). LSH is
    // approximate in general, but on this corpus every qualifying pair
    // sits at j >= 0.9 where the 8x4 banding's miss probability is
    // ~2e-4 per pair — and the hashes are deterministic, so the result
    // is fixed: verified locally that the LSH output EQUALS the exact
    // answer at the gate SF (476/476 ids + sources at sf0.01). The
    // oracle certifies observed-exact recall, which is precisely the
    // claim an approximate dedup must defend. Spark hashes shingles to
    // longs first; Jaccard over the hash sets equals string-shingle
    // Jaccard up to ~2^-64 collision odds. ---
    QueryDef("q46_dedup_minhash",
      """WITH u AS (
        |  SELECT doc_id, text, source FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text, source FROM documents),
        |t AS (
        |  SELECT doc_id, source, list_filter(regexp_split_to_array(lower(text),
        |    '[\s,;:!?.()\[\]{}"'']+'), x -> len(x) > 0) AS toks
        |  FROM u),
        |sh AS (
        |  SELECT doc_id, source, list_distinct(CASE WHEN len(toks) >= 3
        |    THEN [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]
        |    ELSE [array_to_string(toks, ' ')] END) AS s
        |  FROM t),
        |pairs AS (
        |  SELECT b.doc_id AS id_b
        |  FROM sh a, sh b
        |  WHERE a.doc_id < b.doc_id
        |    AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.s, b.s))) >= 0.8)
        |SELECT doc_id, source FROM sh
        |WHERE doc_id NOT IN (SELECT id_b FROM pairs)""".stripMargin) { (s, d) =>
      Dedup.minHashDedup(doubledDocs(s, d), "text", "doc_id",
        bands = 8, rowsPerBand = 4, shingleN = 3, threshold = 0.8)
        .select(col("doc_id"), col("source"))
    },

    // --- SimHash cross-engine twin, hash-matched: q47's native
    // simHash64 rests on xxhash64 token hashes DuckDB cannot compute,
    // so this twin runs the SAME pipeline (per-token hash → per-bit
    // votes → sign fingerprint → pairwise hamming histogram) on a
    // hash both engines share: a 32-bit integer from the first 8 hex
    // digits of md5(token). Every stage is mirrored term-for-term, so
    // the full hamming histogram over all pairs must agree exactly —
    // this is the oracle for the simhash MECHANICS. The fast native
    // fingerprint (formerly q47, the suite's one rows-only entry) now
    // lives in `benchOnly` + OperatorsSpec: benchmarked and
    // spec-tested, no longer a no_oracle correctness row. ---
    QueryDef("q83_simhash_md5", {
      val digitSqlDuck = (1 to 8).map { k =>
        s"(strpos('0123456789abcdef', substr(md5(t), $k, 1)) - 1) * ${math.pow(16, 8 - k).toLong}"
      }.mkString(" + ")
      val votesDuck = (0 until 32).map { b =>
        s"sum(CASE WHEN (h // ${1L << b}) % 2 = 1 THEN 1 ELSE -1 END) AS v$b"
      }.mkString(", ")
      val simDuck = (0 until 32).map { b =>
        s"(CASE WHEN v$b > 0 THEN ${1L << b} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    regexp_split_to_array(lower(text), '\\s+'), x -> len(x) > 0)) AS t
        |  FROM documents WHERE doc_id < 2000),
        |hashed AS (
        |  SELECT doc_id, CAST($digitSqlDuck AS BIGINT) AS h FROM toks),
        |votes AS (
        |  SELECT doc_id, $votesDuck FROM hashed GROUP BY doc_id),
        |sims AS (
        |  SELECT doc_id, CAST($simDuck AS BIGINT) AS sim FROM votes)
        |SELECT CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) AS hamming,
        |  count(*) AS n_pairs
        |FROM sims a, sims b WHERE a.doc_id < b.doc_id
        |GROUP BY 1""".stripMargin
    }) { (s, d) =>
      // 32-bit token hash from md5 hex digits — mirrors digitSqlDuck
      val h = (1 to 8).map { k =>
        (instr(lit("0123456789abcdef"),
          substring(md5(col("t").cast("binary")), k, 1)) - 1) *
          lit(math.pow(16, 8 - k).toLong)
      }.reduce(_ + _)
      val votes = (0 until 32).map { b =>
        sum(when(pmod(floor(col("h") / lit(1L << b)), lit(2)) === 1, 1)
          .otherwise(-1)).as(s"v$b")
      }
      val sim = (0 until 32).map { b =>
        when(col(s"v$b") > 0, lit(1L << b)).otherwise(0L)
      }.reduce(_ + _)
      val sims = Tables.documents(s, d).filter(col("doc_id") < 2000)
        .select(col("doc_id"), explode(T.tokens(col("text"), Tokenize.Whitespace)).as("t"))
        .withColumn("h", h.cast("long"))
        .groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
        .select(col("doc_id"), sim.cast("long").as("sim"))
      val a = sims.select(col("doc_id").as("id_a"), col("sim").as("sim_a"))
      val b = sims.select(col("doc_id").as("id_b"), col("sim").as("sim_b"))
      a.join(b, col("id_a") < col("id_b"))
        .select(bit_count(col("sim_a").bitwiseXOR(col("sim_b")))
          .cast("long").as("hamming"))
        .groupBy(col("hamming")).agg(count(lit(1)).as("n_pairs"))
    },

    // --- exact brute-force cosine top-k ANN, now oracle-checked:
    // DuckDB's list_cosine_similarity + the same (cosine DESC,
    // neighbor_id) tie-break reproduces the exact neighbor set, ranks
    // and rounded cosines (both engines do double arithmetic; random
    // embeddings leave ~1e-3 gaps between neighbors, far above ULP
    // noise). ---
    QueryDef("q48_ann_bruteforce",
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |s AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_cosine_similarity(q.v, c.v) AS cos_raw
        |  FROM e q, e c
        |  WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id),
        |r AS (
        |  SELECT query_id, neighbor_id,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos_raw DESC, neighbor_id) AS INTEGER) AS rank,
        |    round(cos_raw, 4) AS cosine
        |  FROM s)
        |SELECT query_id, neighbor_id, rank, cosine FROM r
        |WHERE rank <= 5""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 8),
        "embedding", "vec_id", k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("cosine"), 4).as("cosine"))
    },

    // --- LSH-bucketed approximate ANN, now oracle-checked: the ±1
    // hyperplane matrix behind lshBucket is deterministic
    // (xxhash64-seeded), so the oracle SQL inlines the exact planes as
    // list literals and DuckDB recomputes the same bucket ids
    // (list_dot_product runs the identical left-to-right double sum —
    // bit-for-bit sign agreement), the same same-bucket candidate
    // sets, and the same top-5. This checks the APPROXIMATE answer
    // exactly — bucketing included — not just a recall bound. ---
    QueryDef("q49_ann_lsh", {
      val planes = graft.plans.LshBucket.signMatrix(4, 64)
      def lit(row: Array[Double]) =
        row.map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ",", "]")
      val bucketExpr = (0 until 4).map { b =>
        s"(CASE WHEN list_dot_product(v, ${lit(planes(b))}) >= 0 THEN ${1 << b} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |b AS (
        |  SELECT vec_id, v, $bucketExpr AS bucket FROM e),
        |s AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_cosine_similarity(q.v, c.v) AS cos_raw
        |  FROM b q JOIN b c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
        |  WHERE q.vec_id < 8),
        |r AS (
        |  SELECT query_id, neighbor_id,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos_raw DESC, neighbor_id) AS INTEGER) AS rank,
        |    round(cos_raw, 4) AS cosine
        |  FROM s)
        |SELECT query_id, neighbor_id, rank, cosine FROM r
        |WHERE rank <= 5""".stripMargin
    }) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 8),
        "embedding", "vec_id", k = 5, nBits = 4)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("cosine"), 4).as("cosine"))
    },

    // --- embedding-cosine near-dup pairs over LSH buckets, now
    // oracle-checked: DuckDB brute-forces every pair at cosine >=
    // 0.999. At that threshold only the planted exact duplicates
    // qualify (max organic cosine on this data is ~0.51), and exact
    // duplicates ALWAYS share a hyperplane bucket (identical sign
    // pattern) — so LSH recall is structurally 1.0 here, not just
    // observed. Cosine rounded to 6 on both sides (double arithmetic
    // on identical vectors may give 1.0 +- 1 ulp per engine). ---
    QueryDef("q50_embedding_dedup",
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.v, b.v), 6) AS cosine
        |FROM e a, e b
        |WHERE a.vec_id < b.vec_id
        |  AND list_cosine_similarity(a.v, b.v) >= 0.999""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val doubled = emb.unionByName(emb.select(
        (col("vec_id") + 1000000).as("vec_id"), col("embedding"), col("label")))
      Dedup.embeddingPairs(doubled, "embedding", "vec_id",
        minCosine = 0.999, nBits = 6)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
    },

    // --- benchmark contamination, now oracle-checked: DuckDB computes
    // the same shingle-overlap fraction over STRING 3-gram shingles
    // (the Spark side hashes shingles to longs first — identical
    // fraction up to ~2^-64 collision odds). The benchmark slice
    // itself must come back fully contaminated. ---
    QueryDef("q76_contamination",
      """WITH t AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
        |    '[\s,;:!?.()\[\]{}"'']+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
        |    THEN [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]
        |    ELSE [array_to_string(toks, ' ')] END) AS s
        |  FROM t),
        |bench AS (
        |  SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id < 50),
        |bl AS (SELECT list(g) AS l FROM bench),
        |scored AS (
        |  SELECT doc_id AS id,
        |    round(CAST(len(list_intersect(s, bl.l))
        |      AS DOUBLE) / len(s), 6) AS contamination
        |  FROM sh, bl)
        |SELECT id, contamination FROM scored
        |WHERE contamination >= 0.99""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val bench = docs.filter(col("doc_id") < 50)
      graft.operators.TextAnalysis
        .contamination(docs, "doc_id", "text", bench, "text")
        .filter(col("contamination") >= 0.99)
    },

    // --- image-header + EXIF metadata from synthesized real bytes:
    // PNG IHDR dims, plus a JPEG APP1 Exif segment whose TIFF IFD
    // carries orientation + make — every row must parse back its own
    // planted values or the filter drops it. Now oracle-checked: the
    // planted values are pure functions of the row id (width = id+640,
    // height = 480, orientation = id%8+1), so DuckDB recomputes the
    // expected output directly — any byte-parser regression drops rows
    // or changes values and the hash breaks. ---
    QueryDef("q77_image_meta",
      """SELECT doc_id AS id, doc_id + 640 AS width,
        |  CAST(480 AS BIGINT) AS height,
        |  doc_id % 8 + 1 AS orientation
        |FROM documents WHERE doc_id BETWEEN 1 AND 100""".stripMargin) { (s, d) =>
      val s2 = s
      import s2.implicits._
      def png(w: Int, h: Int): Array[Byte] = {
        val b = java.nio.ByteBuffer.allocate(24)
        b.put(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
        b.putInt(13).put("IHDR".getBytes).putInt(w).putInt(h)
        b.array()
      }
      def jpegExif(orient: Int): Array[Byte] = {
        // TIFF LE: header(8) + IFD count(2) + 2 entries(24) + next(4) + "graft\0"
        val t = java.nio.ByteBuffer.allocate(44)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        t.put('I'.toByte).put('I'.toByte).putShort(42).putInt(8)
        t.putShort(2)
        t.putShort(0x0112.toShort).putShort(3).putInt(1)
          .putShort(orient.toShort).putShort(0)
        t.putShort(0x010f.toShort).putShort(2).putInt(6).putInt(38)
        t.putInt(0)
        t.put("graft".getBytes).put(0.toByte)
        val tiff = t.array()
        val out = java.nio.ByteBuffer.allocate(4 + 2 + 6 + tiff.length + 2)
        out.put(0xff.toByte).put(0xd8.toByte)
        out.put(0xff.toByte).put(0xe1.toByte).putShort((2 + 6 + tiff.length).toShort)
        out.put("Exif".getBytes).put(0.toByte).put(0.toByte)
        out.put(tiff)
        out.put(0xff.toByte).put(0xd9.toByte)
        out.array()
      }
      val imgs = (1 to 100)
        .map(i => (i.toLong, png(640 + i, 480), jpegExif((i % 8) + 1)))
        .toDF("id", "content", "jpeg")
      imgs.select(col("id"),
        graft.operators.Multimodal.imageMeta(col("content")).as("m"),
        graft.operators.Multimodal.exifMeta(col("jpeg")).as("x"))
        .filter(col("m.format") === "png" && col("m.width") === col("id") + 640 &&
          col("x.orientation") === pmod(col("id"), lit(8)) + 1 &&
          col("x.make") === "graft")
        .select(col("id"), col("m.width").cast("long").as("width"),
          col("m.height").cast("long").as("height"),
          col("x.orientation").cast("long").as("orientation"))
    },

    // --- real pixel decode (image.readpixels capability),
    // oracle-checked: solid-color PNGs are synthesized with planted
    // (width, color) as pure functions of the row id, decoded through
    // the real ImageIO path on executors, and the per-channel means of
    // a solid lossless image must equal the planted color EXACTLY —
    // DuckDB recomputes everything from id arithmetic. ---
    QueryDef("q84_image_decode",
      """SELECT doc_id AS id,
        |  CAST(16 + doc_id % 16 AS BIGINT) AS width,
        |  CAST(12 AS BIGINT) AS height,
        |  CAST((doc_id * 7) % 256 AS DOUBLE) AS mean_r,
        |  CAST((doc_id * 13) % 256 AS DOUBLE) AS mean_g,
        |  CAST((doc_id * 29) % 256 AS DOUBLE) AS mean_b
        |FROM documents WHERE doc_id BETWEEN 1 AND 50""".stripMargin) { (s, d) =>
      val s2 = s
      import s2.implicits._
      def solidPng(w: Int, h: Int, rgb: Int): Array[Byte] = {
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = img.createGraphics()
        g.setColor(new java.awt.Color(rgb))
        g.fillRect(0, 0, w, h)
        g.dispose()
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        bos.toByteArray
      }
      val imgs = (1 to 50).map { i =>
        val rgb = (((i * 7) % 256) << 16) | (((i * 13) % 256) << 8) | ((i * 29) % 256)
        (i.toLong, solidPng(16 + i % 16, 12, rgb))
      }.toDF("id", "content")
      graft.operators.Multimodal.decodeImages(imgs)
        .select(col("id"),
          col("image.width").cast("long").as("width"),
          col("image.height").cast("long").as("height"),
          col("image.mean_r").as("mean_r"),
          col("image.mean_g").as("mean_g"),
          col("image.mean_b").as("mean_b"))
    },

    // --- MS-RLE8 inter-frame video decode, oracle-checked: per-row
    // 3-frame delta AVIs are synthesized with planted run lengths as
    // pure functions of doc_id, decoded through the real rleApply
    // surface path on executors, and the per-frame channel means must
    // equal the planted pixel counts EXACTLY (255/32 is dyadic, so the
    // doubles are exact) — DuckDB recomputes everything from id
    // arithmetic. Frames 1 and 2 are DELTA frames: frame 2's blue mass
    // was painted in frame 1 and never re-encoded, so only true
    // inter-frame inheritance produces the oracle's values. ---
    QueryDef("q123_video_rle_decode",
      """WITH p AS (SELECT doc_id, 1 + doc_id % 7 AS a, 1 + doc_id % 3 AS b
        |  FROM documents WHERE doc_id BETWEEN 1 AND 40)
        |SELECT doc_id, 0 AS frame_idx, CAST(255 AS DOUBLE) AS mean_r,
        |  CAST(0 AS DOUBLE) AS mean_g, CAST(0 AS DOUBLE) AS mean_b FROM p
        |UNION ALL
        |SELECT doc_id, 1, (32 - a) * 255.0 / 32, CAST(0 AS DOUBLE),
        |  a * 255.0 / 32 FROM p
        |UNION ALL
        |SELECT doc_id, 2, (32 - a - b) * 255.0 / 32, b * 255.0 / 32,
        |  a * 255.0 / 32 FROM p""".stripMargin) { (s, d) =>
      val s2 = s
      import s2.implicits._
      import java.nio.{ByteBuffer, ByteOrder}
      def le32(v: Int): Array[Byte] = ByteBuffer.allocate(4)
        .order(ByteOrder.LITTLE_ENDIAN).putInt(v).array()
      def chunk(id: String, body: Array[Byte]): Array[Byte] = {
        val pad = if (body.length % 2 == 1) Array[Byte](0)
          else Array.emptyByteArray
        id.getBytes("ASCII") ++ le32(body.length) ++ body ++ pad
      }
      def list(tpe: String, body: Array[Byte]): Array[Byte] =
        "LIST".getBytes("ASCII") ++ le32(body.length + 4) ++
          tpe.getBytes("ASCII") ++ body
      val (w, h) = (8, 4) // 32 px — dyadic denominator keeps means exact
      // palette: 0=red 1=green 2=blue 3=white (RGBQUADs are b,g,r,0)
      val palette = Array[Byte](0, 0, -1, 0, 0, -1, 0, 0,
        -1, 0, 0, 0, -1, -1, -1, 0)
      def rleAvi(a: Int, b: Int): Array[Byte] = {
        // key frame: every row a full run of red, then end-of-bitmap
        val f0 = Array.tabulate(h)(_ =>
          Array[Byte](w.toByte, 0, 0, 0)).flatten ++ Array[Byte](0, 1)
        // delta: paint a blue pixels on the bottom row, rest inherits
        val f1 = Array[Byte](a.toByte, 2, 0, 0, 0, 1)
        // delta: jump UP one row, paint b green — frame 1's blues survive
        val f2 = Array[Byte](0, 2, 0, 1, b.toByte, 1, 0, 0, 0, 1)
        val avih = le32(100000) ++ le32(0) ++ le32(0) ++ le32(0) ++
          le32(3) ++ le32(0) ++ le32(1) ++ le32(0) ++
          le32(w) ++ le32(h) ++ Array.fill(16)(0.toByte)
        val strh = "vids".getBytes("ASCII") ++ "mrle".getBytes("ASCII") ++
          le32(0) ++ le32(0) ++ le32(0) ++ le32(1) ++ le32(10) ++
          le32(0) ++ le32(3) ++ le32(0) ++ le32(0) ++ le32(0) ++
          Array.fill(8)(0.toByte)
        val strf = le32(40) ++ le32(w) ++ le32(h) ++
          Array[Byte](1, 0, 8, 0) ++ le32(1) ++ le32(0) ++
          le32(0) ++ le32(0) ++ le32(4) ++ le32(0) ++ palette
        val hdrl = list("hdrl", chunk("avih", avih) ++
          list("strl", chunk("strh", strh) ++ chunk("strf", strf)))
        val movi = list("movi", chunk("00dc", f0) ++ chunk("00dc", f1) ++
          chunk("00dc", f2))
        val body = "AVI ".getBytes("ASCII") ++ hdrl ++ movi
        "RIFF".getBytes("ASCII") ++ le32(body.length) ++ body
      }
      val vids = (1 to 40).map { i =>
        (i.toLong, rleAvi(1 + i % 7, 1 + i % 3))
      }.toDF("doc_id", "content")
      graft.operators.Multimodal.videoSampleFrames(vids, 3)
        .select(col("doc_id"), explode(col("frames")).as("f"))
        .select(col("doc_id"), col("f.frame_idx").as("frame_idx"),
          col("f.mean_r").as("mean_r"), col("f.mean_g").as("mean_g"),
          col("f.mean_b").as("mean_b"))
    },

    // --- character-entropy quality signal, hash-matched cross-engine:
    // per-doc Shannon entropy over characters, H = log2(n) −
    // Σ c·log2(c)/n — the low-information gate pipelines run beside
    // the repetition checks. Both engines count characters and take
    // log2 of INTEGERS only, AND fold the Σ c·log2(c) terms in
    // ch-sorted order via an explicit sequential list fold — a plain
    // sum's partition-merge order is nondeterministic, so a document
    // whose entropy lands within ~1 ulp of a 0.5e-6 rounding boundary
    // could otherwise flip the 6th decimal intermittently. The
    // collect_list is per-document and charset-bounded (≤ a few
    // hundred distinct chars) — scale-safe at any corpus size. ---
    QueryDef("q124_char_entropy",
      """WITH d AS (SELECT doc_id, text FROM documents
        |  WHERE doc_id < 300 AND length(text) > 0),
        |c AS (SELECT doc_id, unnest(regexp_extract_all(text, '(?s).')) AS ch
        |  FROM d),
        |k AS (SELECT doc_id, ch, count(*) AS cnt FROM c GROUP BY 1, 2),
        |s AS (SELECT doc_id, CAST(sum(cnt) AS DOUBLE) AS n,
        |  list_sum(list_transform(
        |    list_sort(list(struct_pack(ch := ch, cnt := cnt))),
        |    x -> x.cnt * log2(CAST(x.cnt AS DOUBLE)))) AS ssum
        |  FROM k GROUP BY doc_id)
        |SELECT doc_id, round(log2(n) - ssum / n, 6) AS entropy FROM s""".stripMargin) { (s, d) =>
      val counts = Tables.documents(s, d)
        .filter(col("doc_id") < 300 && length(col("text")) > 0)
        .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
        // Java split keeps a trailing "" element; DuckDB's per-char
        // regex does not — drop it on this side
        .filter(col("ch") =!= "")
        .groupBy("doc_id", "ch").agg(count(lit(1)).as("cnt"))
      counts.groupBy("doc_id").agg(
        round(log2(sum("cnt"))
          - aggregate(
              array_sort(collect_list(struct(col("ch"), col("cnt")))),
              lit(0.0),
              (acc, x) => acc +
                x.getField("cnt") * log2(x.getField("cnt")))
            / sum("cnt"), 6)
          .as("entropy"))
    },

    // --- HTML extraction (the html.parse capability), hash-matched
    // cross-engine: both engines wrap each document in the same
    // synthetic page (title with an entity, style/script bodies, two
    // anchors, a comment) and must extract identical title, visible
    // text, and href list. ---
    QueryDef("q80_html_extract",
      s"""WITH h AS (
        |  SELECT doc_id,
        |    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
        |    ' &amp; co</title><style>p { color: red }</style></head><body><p>' ||
        |    text || '</p><a href="https://ex.org/' || CAST(doc_id AS VARCHAR) ||
        |    '">x</a><a href=''/rel''>y</a><script>var a = 1 < 2;</script>' ||
        |    '<!-- note --></body></html>' AS html
        |  FROM documents WHERE doc_id < 200),
        |x AS (
        |  SELECT doc_id, html,
        |    regexp_extract(html, '(?is)<title[^>]*>(.*?)</title>', 1) AS title_raw
        |  FROM h)
        |SELECT doc_id,
        |  ${htmlChainSql("title_raw")} AS title,
        |  ${htmlChainSql("html")} AS text_extract,
        |  array_to_string(regexp_extract_all(html,
        |    '(?is)href\\s*=\\s*["'']([^"''>]+)["'']', 1), ',') AS links
        |FROM x""".stripMargin) { (s, d) =>
      val html = concat(
        lit("<html><head><title>Doc "), col("doc_id"),
        lit(" &amp; co</title><style>p { color: red }</style></head><body><p>"),
        col("text"),
        lit("</p><a href=\"https://ex.org/"), col("doc_id"),
        lit("\">x</a><a href='/rel'>y</a><script>var a = 1 < 2;</script>"),
        lit("<!-- note --></body></html>"))
      Tables.documents(s, d).filter(col("doc_id") < 200)
        .select(col("doc_id"),
          H.htmlTitle(html).as("title"),
          H.htmlToText(html).as("text_extract"),
          array_join(H.htmlLinks(html), ",").as("links"))
    },

    // --- PII redaction, hash-matched cross-engine: both engines build
    // the same synthetic PII string and must scrub it identically (the
    // patterns stay in the Java∩RE2 regex subset on purpose). ---
    QueryDef("q75_redact",
      """SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
        |  'contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.org or 10.0.'
        |    || CAST(doc_id % 200 AS VARCHAR) || '.7 tel 555 123 4567 now',
        |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |  '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
        |  '\b[0-9][0-9 ()+.-]{8,}[0-9]\b', '<NUMBER>', 'g') AS redacted
        |FROM documents WHERE doc_id < 100""".stripMargin) { (s, d) =>
      Tables.documents(s, d).filter(col("doc_id") < 100)
        .select(col("doc_id"), T.redactPii(concat(
          lit("contact user"), col("doc_id").cast("string"),
          lit("@mail.example.org or 10.0."),
          (col("doc_id") % 200).cast("string"),
          lit(".7 tel 555 123 4567 now"))).as("redacted"))
    },

    // --- BM25 ranked keyword search, oracle-checked: DuckDB mirrors
    // the whole scoring chain term-for-term (same operand order, so
    // the IEEE doubles agree; rounded to 6 before the ordering, ties
    // broken by doc_id in both engines). ---
    QueryDef("q85_bm25", {
      val terms = Seq("dup", "vector", "merge")
      def tf(t: String) =
        s"CAST(len(list_filter(t, x -> x = '$t')) AS DOUBLE)"
      val termSql = terms.zipWithIndex.map { case (t, i) =>
        s"ln(1 + (n - df$i + 0.5) / (df$i + 0.5)) * (${tf(t)} * (CAST(1.2 AS DOUBLE) + 1)) / " +
          s"(${tf(t)} + 1.2 * (0.25 + 0.75 * dl / avgdl))"
      }.mkString(" + ")
      val dfSql = terms.zipWithIndex.map { case (t, i) =>
        s"CAST(sum(CASE WHEN list_contains(t, '$t') THEN 1 ELSE 0 END) AS DOUBLE) AS df$i"
      }.mkString(", ")
      s"""WITH base AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |sized AS (SELECT doc_id, t, CAST(len(t) AS DOUBLE) AS dl FROM base),
        |stats AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl, $dfSql
        |  FROM sized)
        |SELECT doc_id, bm25 FROM (
        |  SELECT doc_id, round($termSql, 6) AS bm25
        |  FROM sized CROSS JOIN stats) s
        |WHERE bm25 > 0 ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin
    }) { (s, d) =>
      graft.operators.TextAnalysis.bm25Search(Tables.documents(s, d),
        "doc_id", "text", Seq("dup", "vector", "merge"), topK = 20)
    },

    // --- Bloom-prefiltered dedup against a kept corpus: the output is
    // EXACTLY the anti-join (bloom filters have no false negatives and
    // candidates are verified), so the oracle is plain NOT EXISTS.
    // Incoming batch = every third doc an exact duplicate of the
    // corpus, the rest novel. ---
    QueryDef("q87_bloom_dedup",
      """SELECT i.doc_id FROM (
        |  SELECT doc_id + 1000000 AS doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN text ELSE text || ' v2' END AS text
        |  FROM documents) i
        |WHERE NOT EXISTS (SELECT 1 FROM documents c WHERE c.text = i.text)""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val incoming = docs.select((col("doc_id") + 1000000).as("doc_id"),
        when(col("doc_id") % 3 === 0, col("text"))
          .otherwise(concat(col("text"), lit(" v2"))).as("text"))
      graft.operators.Dedup.bloomDedupAgainst(incoming, docs, "text")
        .select(col("doc_id"))
    },

    // --- bigram Stupid-Backoff LM perplexity (CCNet-style quality
    // gate), oracle-checked exactly: the LM trains on the even-id half
    // of the corpus and scores every doc, so odd docs exercise the
    // backoff and OOV paths. The per-bigram fixed-point log-scores are
    // computed ONCE driver-side (keyed by the integer count pair that
    // determines them) and inlined as literal VALUES tables in BOTH
    // engines — DuckDB re-derives the counts (integer-exact) and joins
    // the shared table, so no engine evaluates ln inside the hashed
    // contract and the r3 libm-ulp rounding flip cannot recur. The
    // oracle is a thunk: Verify dumps oracle_sql.json after the impl
    // has run and stashed the table. Hashed columns are integer-exact
    // (n_bigrams, logprob_fp) plus avg_logprob = the same two integers
    // divided in the same operand order (IEEE division is correctly
    // rounded, hence bit-identical); exp-derived perplexity stays OUT
    // of the contract. ---
    QueryDef("q89_lm_perplexity", q89OracleSql) { (s, d) =>
      val docs = Tables.documents(s, d)
      val train = docs.filter(col("doc_id") % 2 === 0)
      // derive the (vocab-sized, materialized) count tables ONCE and
      // feed both the score-table reduction and the scoring joins —
      // the split-call shape re-tokenized the train corpus per consumer
      val (uc, bc) = graft.operators.TextAnalysis.lmCountTables(train, "text")
      // oracle-only: forced when Verify dumps oracle_sql.json (the
      // count tables are materialized, so the force is two
      // vocab-bounded reductions, not corpus passes)
      q89TableThunk = Some(() =>
        graft.operators.TextAnalysis.lmScoreTablesFromCounts(uc, bc))
      graft.operators.TextAnalysis
        .lmPerplexityDistributedFromCounts(docs, "doc_id", "text", uc, bc)
        .select(col("doc_id"), col("n_bigrams"), col("logprob_fp"),
          col("avg_logprob"))
    },

    // --- exact substring-span dedup (Lee et al. 2022): drop docs
    // sharing any 8-token run with a smaller-id doc. The Spark side
    // works on rolling xxhash64 span hashes (identical result up to
    // ~2^-64 collisions); DuckDB mirrors with string spans and the
    // same short-doc whole-text fallback. No pairwise join on either
    // side of the operator — keeper-per-span min + one join back. ---
    QueryDef("q90_span_dedup",
      """WITH u AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents),
        |t AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
        |    '[\s,;:!?.()\[\]{}"'']+'), x -> len(x) > 0) AS toks
        |  FROM u),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) >= 8
        |    THEN [array_to_string(toks[i:i+7], ' ') for i in range(1, len(toks) - 6)]
        |    ELSE [array_to_string(toks, ' ')] END)) AS g
        |  FROM t),
        |m AS (SELECT g, min(doc_id) AS keep FROM sh GROUP BY g),
        |dropped AS (
        |  SELECT DISTINCT s.doc_id FROM sh s JOIN m USING (g)
        |  WHERE m.keep < s.doc_id)
        |SELECT doc_id FROM u
        |WHERE doc_id NOT IN (SELECT doc_id FROM dropped)""".stripMargin) { (s, d) =>
      Dedup.spanDedup(doubledDocs(s, d), "text", "doc_id", spanTokens = 8)
        .select(col("doc_id"))
    },

    // --- document chunking into token-budget windows (40 tokens,
    // overlap 8): pure integer/string row math, so DuckDB mirrors the
    // exact chunk ids, texts and lengths. Tail chunks fully contained
    // in the previous chunk's overlap are dropped on both sides. ---
    QueryDef("q91_chunking",
      """WITH t AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'),
        |    x -> len(x) > 0) AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, unnest(generate_series(1, greatest(len(toks), 1), 32)) AS s,
        |    toks
        |  FROM t WHERE len(toks) > 0),
        |sl AS (
        |  SELECT doc_id, CAST((s - 1) // 32 AS BIGINT) AS chunk_id,
        |    toks[s:s+39] AS ck
        |  FROM c)
        |SELECT doc_id, chunk_id, array_to_string(ck, ' ') AS chunk_text,
        |  CAST(len(ck) AS BIGINT) AS n_tokens
        |FROM sl WHERE chunk_id = 0 OR len(ck) > 8""".stripMargin) { (s, d) =>
      graft.operators.TextAnalysis.chunkDocuments(
        Tables.documents(s, d), "doc_id", "text",
        chunkTokens = 40, overlap = 8)
        .withColumn("chunk_id", col("chunk_id").cast("long"))
    },

    // --- corpus-level line dedup (C4/RefinedWeb boilerplate removal),
    // oracle-checked: both engines synthesize the same 4-line page
    // (global promo line, a quote shared by each 7-doc group, the doc
    // body, a footer shared by each id%5 class). With dropThreshold 50
    // the promo (n=500) and footers (n=100) vanish everywhere, quotes
    // survive only in their group's smallest doc, bodies stay. ---
    QueryDef("q92_line_dedup",
      """WITH p AS (
        |  SELECT doc_id,
        |    'PROMO click here to subscribe' || chr(10) ||
        |    'shared quote block number ' ||
        |      CAST(CAST(floor(doc_id / 7.0) AS BIGINT) AS VARCHAR) || chr(10) ||
        |    text || chr(10) ||
        |    'footer ' || CAST(doc_id % 5 AS VARCHAR) AS t
        |  FROM documents),
        |l AS (
        |  SELECT doc_id, unnest(generate_series(1, len(ln))) AS pos, ln
        |  FROM (SELECT doc_id, string_split(t, chr(10)) AS ln FROM p)),
        |l2 AS (SELECT doc_id, pos, ln[pos] AS line FROM l),
        |s AS (
        |  SELECT trim(line) AS k, min(doc_id) AS keep, count(*) AS n
        |  FROM l2 WHERE len(trim(line)) > 0 GROUP BY 1),
        |kept AS (
        |  SELECT l2.doc_id, l2.pos, l2.line
        |  FROM l2 LEFT JOIN s ON s.k = trim(l2.line)
        |  WHERE len(trim(l2.line)) = 0 OR (s.keep = l2.doc_id AND s.n < 50)),
        |agg AS (
        |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text,
        |    CAST(count(*) AS BIGINT) AS n_lines
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.text, '') AS text,
        |  coalesce(a.n_lines, 0) AS n_lines
        |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin) { (s, d) =>
      val pages = Tables.documents(s, d).select(col("doc_id"), concat(
        lit("PROMO click here to subscribe\n"),
        lit("shared quote block number "),
        floor(col("doc_id") / lit(7.0)).cast("long").cast("string"),
        lit("\n"), col("text"),
        lit("\nfooter "), (col("doc_id") % 5).cast("string")).as("text"))
      graft.operators.TextAnalysis.lineDedup(pages, "doc_id", "text",
        dropThreshold = 50L)
    },

    // --- winnowing-fingerprint substring dedup (Schleimer et al.
    // 2003), hash-matched via the md5 cross-engine twin (q83 pattern):
    // the fast path hashes tokens with xxhash64, which DuckDB cannot
    // compute, so this twin runs the SAME pipeline — token hash →
    // positional k=3 gram combine (mod-2^31 polynomial, fold from 0) →
    // w=4 window minima → distinct fingerprints → keeper dedup — on a
    // 32-bit md5-prefix token hash both engines share. Every stage is
    // mirrored term-for-term over the doubled corpus. ---
    QueryDef("q93_winnow_dedup", {
      val w8 = (1 to 8).map(k =>
        s"(strpos('0123456789abcdef', substr(md5(s), $k, 1)) - 1) * ${math.pow(16, 8 - k).toLong}")
        .mkString(" + ")
      val fold = "(a, x) -> ((a * 1000003) % 2147483648 + x) % 2147483648"
      s"""WITH u AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents),
        |t AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
        |    '[\\s,;:!?.()\\[\\]{}"'']+'), x -> len(x) > 0) AS toks
        |  FROM u),
        |h AS (
        |  SELECT doc_id, list_transform(toks, s -> CAST($w8 AS BIGINT)) AS th
        |  FROM t),
        |g AS (
        |  SELECT doc_id, CASE WHEN len(th) >= 3
        |    THEN [list_reduce(list_prepend(CAST(0 AS BIGINT), th[i:i+2]), $fold)
        |          for i in range(1, len(th) - 1)]
        |    ELSE [list_reduce(list_prepend(CAST(0 AS BIGINT), th), $fold)]
        |    END AS gr
        |  FROM h),
        |f AS (
        |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(gr) >= 4
        |    THEN [list_min(gr[j:j+3]) for j in range(1, len(gr) - 2)]
        |    ELSE [list_min(gr)] END)) AS fp
        |  FROM g),
        |m AS (SELECT fp, min(doc_id) AS keep FROM f GROUP BY fp),
        |dropped AS (
        |  SELECT DISTINCT f.doc_id FROM f JOIN m USING (fp)
        |  WHERE m.keep < f.doc_id)
        |SELECT doc_id FROM u
        |WHERE doc_id NOT IN (SELECT doc_id FROM dropped)""".stripMargin
    }) { (s, d) =>
      // native one-pass winnow over the 32-bit md5-prefix token hash
      // (mod 2^31 gram arithmetic — the contract DuckDB mirrors above)
      val docs = doubledDocs(s, d)
      val keyed = docs.select(col("doc_id").as("__id"),
        explode(graft.plans.WinnowPrints.column(
          graft.plans.TokenHashesMd5x32.column(T.tokens(col("text"))),
          k = 3, w = 4, mod = 2147483648L)).as("__g"))
      Dedup.keeperDedup(docs, keyed, "doc_id").select(col("doc_id"))
    },

    // --- int8 embedding quantization, oracle-checked exactly: both
    // engines derive the per-dimension ranges from the data, quantize
    // with the identical operand order, dequantize, and report the
    // per-vector max reconstruction error in 1e-9 fixed point (an
    // integer max — order-free) plus an out-of-range-code count that
    // must be zero. Any drift in the quantizer breaks the hash. ---
    QueryDef("q94_embedding_quantize",
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |l AS (
        |  SELECT vec_id, unnest(generate_series(1, len(v))) AS pos, v FROM e),
        |x AS (SELECT vec_id, pos, v[pos] AS x FROM l),
        |r AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM x GROUP BY pos),
        |c AS (
        |  SELECT vec_id, pos, x, mn, mx,
        |    CASE WHEN mx = mn THEN 0
        |      ELSE CAST(round((x - mn) / (mx - mn) * 255, 0) AS BIGINT)
        |    END AS code
        |  FROM x JOIN r USING (pos)),
        |q AS (
        |  SELECT vec_id, x, code, mn + code / 255.0 * (mx - mn) AS xq
        |  FROM c)
        |SELECT vec_id,
        |  max(CAST(round(abs(x - xq) * 1000000000.0, 0) AS BIGINT)) AS max_err_fp,
        |  CAST(sum(CASE WHEN code < 0 OR code > 255 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS oob
        |FROM q GROUP BY vec_id""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val (mins, maxs) = Similarity.embeddingRanges(emb, "embedding")
      val codes = Similarity.quantizeInt8(col("embedding"), mins, maxs)
      val deq = Similarity.dequantizeInt8(col("__codes"), mins, maxs)
      emb.select(col("vec_id"), col("embedding"), codes.as("__codes"))
        .select(col("vec_id"), col("__codes"),
          zip_with(transform(col("embedding"), x => x.cast("double")), deq,
            (a, b) => round(abs(a - b) * lit(1000000000.0), 0).cast("long"))
            .as("__errs"))
        .select(col("vec_id"),
          array_max(col("__errs")).as("max_err_fp"),
          size(filter(col("__codes"), c => c < 0 || c > 255))
            .cast("long").as("oob"))
    },

    // --- concat-then-chunk sequence packing: both engines compute the
    // identical global token prefix sum (Spark via range-partition +
    // broadcast offsets — never a single-partition window; DuckDB via
    // a plain window over the toy corpus) and derive each document's
    // pack placement with the same integer math. ---
    QueryDef("q95_sequence_pack",
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
        |         x -> len(x) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    COALESCE(CAST(sum(greatest(n_tokens, 1)) OVER (
        |      ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) AS start_offset
        |  FROM d)
        |SELECT doc_id, n_tokens, start_offset,
        |  CAST(floor(start_offset / 2048.0) AS BIGINT) AS first_pack,
        |  CAST(floor((start_offset + greatest(n_tokens, 1) - 1) / 2048.0)
        |    AS BIGINT)
        |    - CAST(floor(start_offset / 2048.0) AS BIGINT) + 1 AS n_packs
        |FROM c""".stripMargin) { (s, d) =>
      val counted = Tables.documents(s, d).select(col("doc_id"),
        T.tokenCount(col("text")).cast("long").as("n_tokens"))
      Procedures.sequencePack(counted, "doc_id", "n_tokens", 2048L)
        .select(col("doc_id"), col("n_tokens"), col("start_offset"),
          col("first_pack"), col("n_packs"))
    },

    // --- Gopher quality-rule battery (Rae et al. 2021 §A1.1): every
    // metric is deterministic per-row math both engines mirror
    // term-for-term (same splits, same trim, same rounding). ---
    QueryDef("q96_gopher_quality",
      """WITH s AS (
        |  SELECT doc_id, text AS tx,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> len(x) > 0) AS w,
        |    list_filter(list_transform(str_split(text, chr(10)),
        |      l -> trim(l)), l -> len(l) > 0) AS ln,
        |    list_distinct(list_filter(regexp_split_to_array(lower(text),
        |      '[\s,;:!?.()\[\]{}"'']+'), x -> len(x) > 0)) AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(w) AS BIGINT) AS n_words,
        |  round(CAST(list_sum(list_transform(w, x -> len(x))) AS DOUBLE)
        |    / nullif(len(w), 0), 4) AS mean_word_len,
        |  round(((length(tx) - length(replace(tx, '#', ''))) / 1.0
        |    + (length(tx) - length(replace(tx, '...', ''))) / 3.0
        |    + (length(tx) - length(replace(tx, '…', ''))) / 1.0)
        |    / nullif(len(w), 0), 4) AS symbol_ratio,
        |  round(CAST(len(list_filter(ln,
        |      l -> substr(l, 1, 1) IN ('-', '*', '•'))) AS DOUBLE)
        |    / nullif(len(ln), 0), 4) AS bullet_frac,
        |  round(CAST(len(list_filter(ln,
        |      l -> ends_with(l, '...') OR ends_with(l, '…'))) AS DOUBLE)
        |    / nullif(len(ln), 0), 4) AS ellipsis_frac,
        |  round(CAST(len(list_filter(w,
        |      x -> regexp_matches(x, '\p{L}'))) AS DOUBLE)
        |    / nullif(len(w), 0), 4) AS alpha_frac,
        |  CAST(len(list_filter(t, x -> list_contains(
        |    ['the','be','to','of','and','that','have','with'], x)))
        |    AS BIGINT) AS n_stop,
        |  COALESCE(len(w) BETWEEN 10 AND 100000
        |    AND round(CAST(list_sum(list_transform(w, x -> len(x)))
        |      AS DOUBLE) / nullif(len(w), 0), 4) BETWEEN 3.0 AND 10.0
        |    AND round(((length(tx) - length(replace(tx, '#', ''))) / 1.0
        |      + (length(tx) - length(replace(tx, '...', ''))) / 3.0
        |      + (length(tx) - length(replace(tx, '…', ''))) / 1.0)
        |      / nullif(len(w), 0), 4) <= 0.1
        |    AND round(CAST(len(list_filter(ln,
        |        l -> substr(l, 1, 1) IN ('-', '*', '•'))) AS DOUBLE)
        |      / nullif(len(ln), 0), 4) <= 0.9
        |    AND round(CAST(len(list_filter(ln,
        |        l -> ends_with(l, '...') OR ends_with(l, '…'))) AS DOUBLE)
        |      / nullif(len(ln), 0), 4) <= 0.3
        |    AND round(CAST(len(list_filter(w,
        |        x -> regexp_matches(x, '\p{L}'))) AS DOUBLE)
        |      / nullif(len(w), 0), 4) >= 0.8
        |    AND len(list_filter(t, x -> list_contains(
        |      ['the','be','to','of','and','that','have','with'], x))) >= 2,
        |    false) AS pass
        |FROM s""".stripMargin) { (s, d) =>
      TextAnalysis.gopherQuality(Tables.documents(s, d), "doc_id", "text")
    },

    // --- quantized-scan + exact-rerank ANN, oracle-checked END TO
    // END: DuckDB re-derives the per-dimension ranges, re-quantizes
    // with the identical operand order (q94 proved the codes match),
    // scans with the same approximate cosine, cuts the same
    // 20-candidate pool, and re-ranks with the exact cosine — so the
    // approximate index path itself is hash-matched, not just a
    // recall bound. ---
    QueryDef("q97_ann_quantized",
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |l AS (
        |  SELECT vec_id, unnest(generate_series(1, len(v))) AS pos, v FROM e),
        |x AS (SELECT vec_id, pos, v[pos] AS x FROM l),
        |r AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM x GROUP BY pos),
        |cq AS (
        |  SELECT vec_id, list(mn + code / 255.0 * (mx - mn) ORDER BY pos) AS vq
        |  FROM (
        |    SELECT vec_id, pos, mn, mx,
        |      CASE WHEN mx = mn THEN 0
        |        ELSE CAST(round((x - mn) / (mx - mn) * 255, 0) AS BIGINT)
        |      END AS code
        |    FROM x JOIN r USING (pos))
        |  GROUP BY vec_id),
        |a AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_cosine_similarity(q.v, c.vq) AS ac
        |  FROM e q JOIN cq c ON c.vec_id <> q.vec_id
        |  WHERE q.vec_id < 8),
        |cand AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id, row_number() OVER (
        |      PARTITION BY query_id ORDER BY ac DESC, neighbor_id) AS rr
        |    FROM a) t
        |  WHERE rr <= 20),
        |ex AS (
        |  SELECT cand.query_id, cand.neighbor_id,
        |    list_cosine_similarity(q.v, c.v) AS cos_raw
        |  FROM cand
        |  JOIN e q ON q.vec_id = cand.query_id
        |  JOIN e c ON c.vec_id = cand.neighbor_id)
        |SELECT query_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos_raw DESC, neighbor_id) AS INTEGER) AS rank,
        |  round(cos_raw, 4) AS cosine
        |FROM ex
        |QUALIFY rank <= 5""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.quantizedTopK(emb, emb.filter(col("vec_id") < 8),
        "embedding", "vec_id", k = 5, rerankFactor = 4)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("cosine"), 4).as("cosine"))
    },

    // --- BPE tokenization (exact Sennrich merges trained on the
    // corpus word-frequency table, applied by the native expression).
    // Metric-bound oracle (the q55/q56 pattern): DuckDB recomputes
    // n_words / chars_in_words from the identical tokenizer and emits
    // the EXPECTED constants for the structural invariants the Spark
    // side actually measures — subwords partition each word's
    // characters exactly, every word ends in exactly one </w>-marked
    // subword, and the subword count is within [n_words,
    // chars_in_words + n_words]. Any encoder defect on any document
    // breaks the hash. ---
    QueryDef("q98_bpe_tokenize",
      """SELECT doc_id,
        |  CAST(len(list_filter(regexp_split_to_array(lower(text),
        |    '[\s,;:!?.()\[\]{}"'']+'), x -> len(x) > 0)) AS BIGINT) AS n_words,
        |  CAST(coalesce(list_sum(list_transform(
        |    list_filter(regexp_split_to_array(lower(text),
        |      '[\s,;:!?.()\[\]{}"'']+'), x -> len(x) > 0),
        |    x -> len(x))), 0) AS BIGINT) AS chars_in_words,
        |  true AS partition_exact,
        |  true AS markers_exact,
        |  true AS bpe_bounded
        |FROM documents""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val model = graft.ml.Bpe.train(docs, "text",
        numMerges = 200, maxVocab = 20000)
      docs.select(col("doc_id"), T.tokens(col("text")).as("__w"))
        .select(col("doc_id"), col("__w"),
          graft.ml.Bpe.encodeColumn(col("__w"), model).as("__bpe"))
        .select(col("doc_id"),
          size(col("__w")).cast("long").as("n_words"),
          aggregate(col("__w"), lit(0L), (a, w) => a + length(w))
            .as("chars_in_words"),
          (aggregate(col("__bpe"), lit(0L), (a, t) => a + length(t)) -
            lit(graft.ml.Bpe.EndOfWord.length.toLong) * size(col("__w")) ===
            aggregate(col("__w"), lit(0L), (a, w) => a + length(w)))
            .as("partition_exact"),
          (size(filter(col("__bpe"),
            t => t.endsWith(graft.ml.Bpe.EndOfWord))) === size(col("__w")))
            .as("markers_exact"),
          (size(col("__bpe")) >= size(col("__w")) &&
            size(col("__bpe")) <= size(col("__w")) +
              aggregate(col("__w"), lit(0L), (a, w) => a + length(w)))
            .as("bpe_bounded"))
    },

    // --- per-slice unigram KL divergence vs the corpus blend (the
    // data-mixture diagnostic). Every term derives from exact integer
    // counts and lands in 1e-9 fixed point before the sum (the q89
    // contract), so DuckDB reproduces the aggregate bit for bit. ---
    QueryDef("q99_kl_divergence",
      """WITH tk AS (
        |  SELECT source AS slice,
        |    unnest(list_filter(regexp_split_to_array(lower(text),
        |      '[\s,;:!?.()\[\]{}"'']+'), x -> len(x) > 0)) AS t
        |  FROM documents),
        |bs AS (SELECT slice, t, CAST(count(*) AS BIGINT) AS c_st
        |       FROM tk GROUP BY slice, t),
        |bt AS (SELECT t, CAST(count(*) AS BIGINT) AS c_t FROM tk GROUP BY t),
        |ns AS (SELECT slice, CAST(count(*) AS BIGINT) AS n_s
        |       FROM tk GROUP BY slice),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM tk),
        |terms AS (
        |  SELECT bs.slice, n_s,
        |    CAST(round((CAST(c_st AS DOUBLE) / n_s) *
        |      ln((CAST(c_st AS DOUBLE) * n_all) /
        |         (CAST(c_t AS DOUBLE) * n_s)) * 1000000000.0, 0)
        |      AS BIGINT) AS fp
        |  FROM bs JOIN bt USING (t) JOIN ns USING (slice) CROSS JOIN tot)
        |SELECT slice,
        |  CAST(count(*) AS BIGINT) AS n_distinct_tokens,
        |  max(n_s) AS n_tokens,
        |  CAST(sum(fp) AS BIGINT) AS kl_fp,
        |  round(CAST(sum(fp) AS DOUBLE) / 1000000000.0, 6) AS kl
        |FROM terms GROUP BY slice""".stripMargin) { (s, d) =>
      TextAnalysis.unigramDivergence(Tables.documents(s, d), "text", "source")
    },

    // --- per-group quota sampling (≤ cap docs per source,
    // deterministic md5 order) — the cross-engine md5 contract makes
    // the exact kept set reproducible in DuckDB. ---
    QueryDef("q86_quota_sample",
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source, row_number() OVER (
        |    PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents) t WHERE rn <= 7""".stripMargin) { (s, d) =>
      graft.procedures.Procedures.quotaSample(
        Tables.documents(s, d), "source", "doc_id", cap = 7)
        .select(col("doc_id"), col("source"))
    },

    // --- deterministic mixture sampling (per-source keep rates via
    // the first two md5 hex digits — 1/256 granularity, reproducible
    // in any engine with a standard md5). ---
    QueryDef("q88_mixture_sample",
      """SELECT doc_id, source FROM documents
        |WHERE (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
        |    + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)
        |  < CASE source WHEN 'src0' THEN 64 WHEN 'src1' THEN 128
        |    WHEN 'src2' THEN 0 ELSE 32 END""".stripMargin) { (s, d) =>
      graft.procedures.Procedures.mixtureSample(
        Tables.documents(s, d), "source", "doc_id",
        Map("src0" -> 0.25, "src1" -> 0.5, "src2" -> 0.0),
        defaultRate = 0.125)
        .select(col("doc_id"), col("source"))
    },

    // --- SemDeDup semantic dedup (Abbas et al. 2023), hash-matched:
    // centroids are the deterministic ±1 sign matrix (q49's idiom), so
    // DuckDB recomputes the same cluster assignment (list_position of
    // the max dot — first-index tie-break both sides), the same
    // within-cluster cosines, and the same more-central-row-loses
    // keeper rule. Near-dups are planted by unioning a perturbed copy
    // of the corpus (first coordinate halved + 0.01 — identical IEEE
    // arithmetic in both engines); the original corpus is near-
    // orthogonal (max pair cosine 0.475 ≪ 0.9), so exactly the
    // same-cluster twins drop. ---
    QueryDef("q100_semantic_dedup", {
      val cents = graft.plans.LshBucket.signMatrix(64, 64)
      def clit(row: Array[Double]) =
        row.map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ",", "]")
      val dotsSql = (0 until 64).map(c =>
        s"list_dot_product(v, ${clit(cents(c))})").mkString("[", ", ", "]")
      s"""WITH e0 AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v0
        |  FROM embeddings),
        |u AS (
        |  SELECT vec_id, v0 AS v FROM e0
        |  UNION ALL
        |  SELECT vec_id + 1000000,
        |    list_concat([v0[1] * 0.5 + 0.01], v0[2:]) AS v FROM e0),
        |dt AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS vnorm,
        |       $dotsSql AS dots FROM u),
        |a AS (
        |  SELECT vec_id, v,
        |    CAST(list_position(dots, list_max(dots)) - 1 AS INTEGER) AS cluster,
        |    CASE WHEN vnorm = 0 THEN 0.0
        |         ELSE list_max(dots) / (vnorm * 8.0)
        |    END AS csim,
        |    CASE WHEN vnorm = 0 THEN v
        |         ELSE list_transform(v, x -> x / vnorm)
        |    END AS vn
        |  FROM dt),
        |p AS (
        |  SELECT a1.vec_id AS id_a, a2.vec_id AS id_b,
        |    a1.csim AS csim_a, a2.csim AS csim_b,
        |    list_dot_product(a1.vn, a2.vn) AS cos
        |  FROM a a1 JOIN a a2
        |    ON a1.cluster = a2.cluster AND a1.vec_id < a2.vec_id),
        |l AS (
        |  SELECT DISTINCT CASE WHEN csim_a > csim_b
        |      OR (csim_a = csim_b AND id_a > id_b)
        |    THEN id_a ELSE id_b END AS vec_id
        |  FROM p WHERE cos >= 0.9)
        |SELECT vec_id, cluster, round(csim, 6) AS csim FROM a
        |WHERE vec_id NOT IN (SELECT vec_id FROM l)""".stripMargin
    }) { (s, d) =>
      val cents = graft.plans.LshBucket.signMatrix(64, 64)
      val e0 = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val pert = e0.select((col("vec_id") + 1000000L).as("vec_id"),
        concat(array(element_at(col("v"), 1) * 0.5 + 0.01),
          slice(col("v"), lit(2), size(col("v")) - 1)).as("v"))
      Dedup.semanticDedup(e0.unionByName(pert), "v", "vec_id", cents,
        minCosine = 0.9)
        .select(col("id").as("vec_id"), col("cluster"),
          round(col("csim"), 6).as("csim"))
    },

    // --- DSIR importance resampling (Xie et al. 2023), hash-matched:
    // target = the English slice, raw = the whole corpus. Buckets,
    // per-bucket fixed-point log-ratios, per-doc BIGINT sums, and the
    // deterministic md5 Gumbel draw are all reproduced term-for-term
    // in DuckDB; the selected top-100 set (with its scores) must agree
    // exactly. ---
    QueryDef("q101_dsir", {
      val digitT = (1 to 8).map { k =>
        s"(strpos('0123456789abcdef', substr(md5(t), $k, 1)) - 1) * ${math.pow(16, 8 - k).toLong}"
      }.mkString(" + ")
      val digitG = (1 to 8).map { k =>
        s"(strpos('0123456789abcdef', substr(md5(CAST(d.doc_id AS VARCHAR) || '-42'), $k, 1)) - 1) * ${math.pow(16, 8 - k).toLong}"
      }.mkString(" + ")
      s"""WITH d AS (
        |  SELECT doc_id, lang, list_filter(regexp_split_to_array(lower(text),
        |    '\\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |tok AS (SELECT doc_id, lang, unnest(toks) AS t FROM d),
        |tb AS (SELECT doc_id, lang, CAST(($digitT) % 256 AS BIGINT) AS b FROM tok),
        |tcnt AS (SELECT b, count(*) AS c FROM tb WHERE lang = 'en' GROUP BY b),
        |rcnt AS (SELECT b, count(*) AS c FROM tb GROUP BY b),
        |tn AS (SELECT CAST(coalesce(sum(c), 0) AS DOUBLE) AS n FROM tcnt),
        |rn AS (SELECT CAST(coalesce(sum(c), 0) AS DOUBLE) AS n FROM rcnt),
        |w AS (
        |  SELECT gs.b,
        |    CAST(round((ln((coalesce(tcnt.c, 0) + 0.5) / (tn.n + 0.5 * 256)) -
        |      ln((coalesce(rcnt.c, 0) + 0.5) / (rn.n + 0.5 * 256))) * 1000000.0,
        |      0) AS BIGINT) AS fp
        |  FROM (SELECT unnest(generate_series(0, 255)) AS b) gs
        |  LEFT JOIN tcnt ON tcnt.b = gs.b
        |  LEFT JOIN rcnt ON rcnt.b = gs.b
        |  CROSS JOIN tn CROSS JOIN rn),
        |ds AS (
        |  SELECT tb.doc_id, CAST(sum(w.fp) AS BIGINT) AS logw_fp
        |  FROM tb JOIN w ON w.b = tb.b GROUP BY tb.doc_id),
        |sc AS (
        |  SELECT d.doc_id, coalesce(ds.logw_fp, 0) AS logw_fp,
        |    CAST(round(-ln(-ln((($digitG) + 0.5) / 4294967296.0)) * 1000000.0,
        |      0) AS BIGINT) AS gumbel_fp
        |  FROM d LEFT JOIN ds ON ds.doc_id = d.doc_id)
        |SELECT doc_id, logw_fp, gumbel_fp, logw_fp + gumbel_fp AS sel_fp
        |FROM sc ORDER BY sel_fp DESC, doc_id LIMIT 100""".stripMargin
    }) { (s, d) =>
      val docs = Tables.documents(s, d)
      // md5-prefix buckets via ONE native digest pass per doc — same
      // values as DuckDB's per-digit md5 fold above
      val mdBuckets: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        toks => transform(graft.plans.TokenHashesMd5x32.column(toks),
          h => pmod(h, lit(256L)).cast("int"))
      // target = a predicate over the same corpus → the one-pass
      // filtered variant (one md5 digest pass + one count job instead
      // of three passes + two jobs; identical arithmetic)
      TextAnalysis.dsirSelectFiltered(docs, col("lang") === "en",
        "doc_id", "text", k = 100, nBuckets = 256, seed = 42,
        bucketsOf = Some(mdBuckets))
        .select(col("id").as("doc_id"), col("logw_fp"), col("gumbel_fp"),
          col("sel_fp"))
    },

    // --- sqrt-temperature mixture sampling, hash-matched: DuckDB
    // recomputes the per-source counts, the 1e6 fixed-point sqrt
    // weights, the capped keep rates (every double op mirrored in the
    // same order — sqrt is IEEE-exact) and the md5 1/256 row filter.
    // The kept row SET must agree exactly. ---
    QueryDef("q102_temperature_sample", {
      def hx(k: Int) =
        s"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), $k, 1)) - 1)"
      s"""WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n
        |           FROM documents GROUP BY source),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM c),
        |sq AS (SELECT source, n,
        |         CAST(round(sqrt(CAST(n AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS w
        |       FROM c),
        |ws AS (SELECT CAST(sum(w) AS BIGINT) AS ww FROM sq),
        |r AS (SELECT source,
        |        CAST(round(least(1.0, ((0.25 * nn) * w) /
        |          (CAST(ww AS DOUBLE) * CAST(n AS DOUBLE))) * 256.0, 0)
        |          AS BIGINT) AS cut
        |      FROM sq CROSS JOIN tot CROSS JOIN ws)
        |SELECT d.doc_id, d.source FROM documents d JOIN r USING (source)
        |WHERE ${hx(1)} * 16 + ${hx(2)} < cut""".stripMargin
    }) { (s, d) =>
      Procedures.temperatureSample(Tables.documents(s, d), "source",
        "doc_id", budgetFraction = 0.25, alpha = 0.5)
        .select(col("doc_id"), col("source"))
    },

    // --- END-TO-END pipeline composition, hash-matched: Gopher
    // quality gate → exact dedup (min-id keeper) → sqrt-temperature
    // rebalance → per-source doc/token stats. Every stage is an
    // already-oracled operator (q96, q40, q102, q41); this query
    // proves they COMPOSE — the chained DuckDB mirror must reproduce
    // the final per-source counts exactly. ---
    QueryDef("q103_pipeline_e2e", {
      def hx(k: Int) =
        s"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), $k, 1)) - 1)"
      s"""WITH s AS (
        |  SELECT doc_id, text AS tx,
        |    list_filter(regexp_split_to_array(lower(text), '\\s+'),
        |      x -> len(x) > 0) AS w,
        |    list_filter(list_transform(str_split(text, chr(10)),
        |      l -> trim(l)), l -> len(l) > 0) AS ln,
        |    list_distinct(list_filter(regexp_split_to_array(lower(text),
        |      '[\\s,;:!?.()\\[\\]{}"'']+'), x -> len(x) > 0)) AS t
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, COALESCE(len(w) BETWEEN 10 AND 100000
        |    AND round(CAST(list_sum(list_transform(w, x -> len(x)))
        |      AS DOUBLE) / nullif(len(w), 0), 4) BETWEEN 3.0 AND 10.0
        |    AND round(((length(tx) - length(replace(tx, '#', ''))) / 1.0
        |      + (length(tx) - length(replace(tx, '...', ''))) / 3.0
        |      + (length(tx) - length(replace(tx, '…', ''))) / 1.0)
        |      / nullif(len(w), 0), 4) <= 0.1
        |    AND round(CAST(len(list_filter(ln,
        |        l -> substr(l, 1, 1) IN ('-', '*', '•'))) AS DOUBLE)
        |      / nullif(len(ln), 0), 4) <= 0.9
        |    AND round(CAST(len(list_filter(ln,
        |        l -> ends_with(l, '...') OR ends_with(l, '…'))) AS DOUBLE)
        |      / nullif(len(ln), 0), 4) <= 0.3
        |    AND round(CAST(len(list_filter(w,
        |        x -> regexp_matches(x, '\\p{L}'))) AS DOUBLE)
        |      / nullif(len(w), 0), 4) >= 0.8
        |    AND len(list_filter(t, x -> list_contains(
        |      ['the','a','table','value'], x))) >= 3,
        |    false) AS pass
        |  FROM s),
        |kept AS (
        |  SELECT d.doc_id, d.text, d.source FROM documents d
        |  JOIN g USING (doc_id) WHERE g.pass),
        |ded AS (
        |  SELECT doc_id, text, source FROM (
        |    SELECT doc_id, text, source,
        |      row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |    FROM kept) z WHERE rn = 1),
        |c AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM ded GROUP BY source),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM c),
        |sq AS (SELECT source, n,
        |         CAST(round(sqrt(CAST(n AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS w
        |       FROM c),
        |ws AS (SELECT CAST(sum(w) AS BIGINT) AS ww FROM sq),
        |r AS (SELECT source,
        |        CAST(round(least(1.0, ((0.5 * nn) * w) /
        |          (CAST(ww AS DOUBLE) * CAST(n AS DOUBLE))) * 256.0, 0)
        |          AS BIGINT) AS cut
        |      FROM sq CROSS JOIN tot CROSS JOIN ws),
        |sel AS (
        |  SELECT ded.doc_id, ded.text, ded.source FROM ded
        |  JOIN r USING (source)
        |  WHERE ${hx(1)} * 16 + ${hx(2)} < cut)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(list_filter(regexp_split_to_array(text, '\\s+'),
        |    x -> len(x) > 0))) AS BIGINT) AS n_tokens
        |FROM sel GROUP BY source""".stripMargin
    }) { (s, d) =>
      val docs = Tables.documents(s, d)
      // corpus-fitting stopword list (the synthetic vocab has no
      // English function words beyond "the"/"a") so the gate
      // discriminates: 368 pass / 132 fail at sf0.01
      val passed = TextAnalysis.gopherQuality(docs, "doc_id", "text",
          stopwords = Seq("the", "a", "table", "value"), minStop = 3)
        .filter(col("pass")).select("doc_id")
      val kept = docs.join(passed, Seq("doc_id"))
        .select(col("doc_id"), col("text"), col("source"))
      // temperatureSample runs TWO passes over its input (per-source
      // count collect, then the rate filter) — pin the deduped frame so
      // the gate+join+dedup subtree executes once, not per pass (the
      // checkpoint a real pipeline writes between curation stages)
      val ded = graft.core.DfOps.cut(Dedup.exact(kept, "text", "doc_id"))
      val sel = Procedures.temperatureSample(ded, "source", "doc_id",
        budgetFraction = 0.5, alpha = 0.5)
      sel.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(T.tokenCount(col("text")).cast("long")).as("n_tokens"))
    },

    // --- Gopher repetition battery (Rae et al. 2021 §A1.1, the
    // dup-line / top-n-gram / dup-n-gram half): every metric is
    // deterministic per-row integer math over word grams, mirrored
    // term-for-term — same splits, same char accounting (gram chars
    // exclude joiners), same rounding, same thresholds. ---
    QueryDef("q104_gopher_repetition", {
      val topNs = Seq(2, 3, 4)
      val dupNs = Seq(5, 6, 7, 8, 9, 10)
      def gramCtes(n: Int) =
        s"""g$n AS (
          |  SELECT doc_id, g, count(*) AS c, len(g) - ${n - 1} AS gl
          |  FROM (
          |    SELECT doc_id, array_to_string(w[i:i+${n - 1}], ' ') AS g
          |    FROM (SELECT doc_id, w,
          |            unnest(range(1, len(w) - $n + 2)) AS i
          |          FROM base))
          |  GROUP BY doc_id, g),
          |s$n AS (
          |  SELECT doc_id,
          |    max(c * gl) AS topch,
          |    sum(CASE WHEN c >= 2 THEN c * gl ELSE 0 END) AS dupch
          |  FROM g$n GROUP BY doc_id)""".stripMargin
      def unitCtes(src: String, pre: String) =
        s"""${pre}u AS (
          |  SELECT doc_id, l, count(*) AS c, len(l) AS ll
          |  FROM (SELECT doc_id, unnest($src) AS l FROM base)
          |  GROUP BY doc_id, l),
          |${pre}s AS (
          |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS na,
          |    count(*) AS nd, sum((c - 1) * ll) AS dupch,
          |    sum(c * ll) AS allch
          |  FROM ${pre}u GROUP BY doc_id)""".stripMargin
      def unitFracs(pre: String, out: String) =
        s"""  COALESCE(round(CAST(${pre}s.na - ${pre}s.nd AS DOUBLE)
          |    / nullif(${pre}s.na, 0), 4), 0.0) AS dup_${out}_frac,
          |  COALESCE(round(CAST(${pre}s.dupch AS DOUBLE)
          |    / nullif(${pre}s.allch, 0), 4), 0.0) AS dup_${out}_char_frac""".stripMargin
      val topFracs = topNs.map(n =>
        s"""  COALESCE(round(CAST(s$n.topch AS DOUBLE)
          |    / nullif(tc.total, 0), 4), 0.0) AS top_${n}gram_frac""".stripMargin)
      val dupFracs = dupNs.map(n =>
        s"""  least(1.0, COALESCE(round(CAST(s$n.dupch AS DOUBLE)
          |    / nullif(tc.total, 0), 4), 0.0)) AS dup_${n}gram_frac""".stripMargin)
      val joins = (topNs ++ dupNs)
        .map(n => s"LEFT JOIN s$n USING (doc_id)").mkString(" ")
      s"""WITH base AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\\s+'),
        |      x -> len(x) > 0) AS w,
        |    list_filter(list_transform(str_split(text, chr(10)),
        |      l -> trim(l)), l -> len(l) > 0) AS ln,
        |    list_filter(list_transform(regexp_split_to_array(text,
        |      '\\n\\s*\\n'), l -> trim(l)), l -> len(l) > 0) AS pg
        |  FROM documents),
        |tc AS (
        |  SELECT doc_id, COALESCE(CAST(list_sum(list_transform(w,
        |    x -> len(x))) AS BIGINT), 0) AS total FROM base),
        |${unitCtes("ln", "l")},
        |${unitCtes("pg", "p")},
        |${(topNs ++ dupNs).map(gramCtes).mkString(",\n")},
        |m AS (
        |  SELECT base.doc_id,
        |${unitFracs("l", "line")},
        |${unitFracs("p", "para")},
        |${(topFracs ++ dupFracs).mkString(",\n")}
        |  FROM base
        |  LEFT JOIN tc USING (doc_id)
        |  LEFT JOIN ls USING (doc_id) LEFT JOIN ps USING (doc_id)
        |  $joins)
        |SELECT m.*, COALESCE(
        |  dup_line_frac <= 0.30 AND dup_para_frac <= 0.30
        |  AND dup_line_char_frac <= 0.20 AND dup_para_char_frac <= 0.20
        |  AND top_2gram_frac <= 0.20 AND top_3gram_frac <= 0.18
        |  AND top_4gram_frac <= 0.16 AND dup_5gram_frac <= 0.15
        |  AND dup_6gram_frac <= 0.14 AND dup_7gram_frac <= 0.13
        |  AND dup_8gram_frac <= 0.12 AND dup_9gram_frac <= 0.11
        |  AND dup_10gram_frac <= 0.10, false) AS pass
        |FROM m""".stripMargin
    }) { (s, d) =>
      TextAnalysis.gopherRepetition(Tables.documents(s, d), "doc_id", "text")
    },

    // --- CAPSTONE curation pipeline, hash-matched end to end: exact
    // dedup over a twin-doubled corpus → boilerplate line dedup
    // (planted PROMO banner ≥50 occurrences dropped everywhere,
    // per-7-block quote line kept by min-doc keeper only) → Gopher
    // quality gate AND repetition gate on the CLEANED text →
    // contamination scrub against the raw doc<50 benchmark → final
    // per-source doc/token stats. Six stages, every one an
    // already-oracled operator (q40, q92, q96/q103, q104, q76, q41);
    // one chained DuckDB mirror must reproduce the final counts. ---
    QueryDef("q105_curation_capstone", {
      val stop = "['the','a','table','value']"
      def gramCtes(n: Int) =
        s"""rg$n AS (
          |  SELECT doc_id, g, count(*) AS c, len(g) - ${n - 1} AS gl
          |  FROM (
          |    SELECT doc_id, array_to_string(w[i:i+${n - 1}], ' ') AS g
          |    FROM (SELECT doc_id, w,
          |            unnest(range(1, len(w) - $n + 2)) AS i
          |          FROM qb))
          |  GROUP BY doc_id, g),
          |rs$n AS (
          |  SELECT doc_id,
          |    max(c * gl) AS topch,
          |    sum(CASE WHEN c >= 2 THEN c * gl ELSE 0 END) AS dupch
          |  FROM rg$n GROUP BY doc_id)""".stripMargin
      def unitCtes(src: String, pre: String) =
        s"""${pre}u2 AS (
          |  SELECT doc_id, l, count(*) AS c, len(l) AS ll
          |  FROM (SELECT doc_id, unnest($src) AS l FROM qb)
          |  GROUP BY doc_id, l),
          |${pre}s2 AS (
          |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS na,
          |    count(*) AS nd, sum((c - 1) * ll) AS dupch,
          |    sum(c * ll) AS allch
          |  FROM ${pre}u2 GROUP BY doc_id)""".stripMargin
      def unitFracs(pre: String, out: String) =
        s"""  COALESCE(round(CAST(${pre}s2.na - ${pre}s2.nd AS DOUBLE)
          |    / nullif(${pre}s2.na, 0), 4), 0.0) AS dup_${out}_frac,
          |  COALESCE(round(CAST(${pre}s2.dupch AS DOUBLE)
          |    / nullif(${pre}s2.allch, 0), 4), 0.0) AS dup_${out}_char_frac""".stripMargin
      val topFracs = Seq(2, 3, 4).map(n =>
        s"""  COALESCE(round(CAST(rs$n.topch AS DOUBLE)
          |    / nullif(rtc.total, 0), 4), 0.0) AS top_${n}gram_frac""".stripMargin)
      val dupFracs = Seq(5, 6, 7, 8, 9, 10).map(n =>
        s"""  least(1.0, COALESCE(round(CAST(rs$n.dupch AS DOUBLE)
          |    / nullif(rtc.total, 0), 4), 0.0)) AS dup_${n}gram_frac""".stripMargin)
      val gramJoins = (2 to 10)
        .map(n => s"LEFT JOIN rs$n USING (doc_id)").mkString(" ")
      s"""WITH u AS (
        |  SELECT doc_id, source, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, source, text FROM documents),
        |d1 AS (
        |  SELECT doc_id, source, text FROM (
        |    SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |    FROM u) z
        |  WHERE rn = 1),
        |p AS (
        |  SELECT doc_id, source,
        |    'PROMO click here to subscribe' || chr(10) ||
        |    'shared quote block ' ||
        |      CAST(CAST(floor(doc_id / 7.0) AS BIGINT) AS VARCHAR) || chr(10) ||
        |    text AS t
        |  FROM d1),
        |l AS (
        |  SELECT doc_id, unnest(generate_series(1, len(ln))) AS pos, ln
        |  FROM (SELECT doc_id, string_split(t, chr(10)) AS ln FROM p)),
        |l2 AS (SELECT doc_id, pos, ln[pos] AS line FROM l),
        |ls AS (
        |  SELECT trim(line) AS k, min(doc_id) AS keep, count(*) AS n
        |  FROM l2 WHERE len(trim(line)) > 0 GROUP BY 1),
        |keptl AS (
        |  SELECT l2.doc_id, l2.pos, l2.line
        |  FROM l2 LEFT JOIN ls ON ls.k = trim(l2.line)
        |  WHERE len(trim(l2.line)) = 0 OR (ls.keep = l2.doc_id AND ls.n < 50)),
        |cl AS (
        |  SELECT p.doc_id, p.source, coalesce(a.text, '') AS text
        |  FROM p LEFT JOIN (
        |    SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
        |    FROM keptl GROUP BY doc_id) a USING (doc_id)),
        |qb AS (
        |  SELECT doc_id, text AS tx,
        |    list_filter(regexp_split_to_array(lower(text), '\\s+'),
        |      x -> len(x) > 0) AS w,
        |    list_filter(list_transform(str_split(text, chr(10)),
        |      l -> trim(l)), l -> len(l) > 0) AS lns,
        |    list_filter(list_transform(regexp_split_to_array(text,
        |      '\\n\\s*\\n'), l -> trim(l)), l -> len(l) > 0) AS pgs,
        |    list_distinct(list_filter(regexp_split_to_array(lower(text),
        |      '[\\s,;:!?.()\\[\\]{}"'']+'), x -> len(x) > 0)) AS t
        |  FROM cl),
        |qg AS (
        |  SELECT doc_id, COALESCE(len(w) BETWEEN 10 AND 100000
        |    AND round(CAST(list_sum(list_transform(w, x -> len(x)))
        |      AS DOUBLE) / nullif(len(w), 0), 4) BETWEEN 3.0 AND 10.0
        |    AND round(((length(tx) - length(replace(tx, '#', ''))) / 1.0
        |      + (length(tx) - length(replace(tx, '...', ''))) / 3.0
        |      + (length(tx) - length(replace(tx, '…', ''))) / 1.0)
        |      / nullif(len(w), 0), 4) <= 0.1
        |    AND round(CAST(len(list_filter(lns,
        |        l -> substr(l, 1, 1) IN ('-', '*', '•'))) AS DOUBLE)
        |      / nullif(len(lns), 0), 4) <= 0.9
        |    AND round(CAST(len(list_filter(lns,
        |        l -> ends_with(l, '...') OR ends_with(l, '…'))) AS DOUBLE)
        |      / nullif(len(lns), 0), 4) <= 0.3
        |    AND round(CAST(len(list_filter(w,
        |        x -> regexp_matches(x, '\\p{L}'))) AS DOUBLE)
        |      / nullif(len(w), 0), 4) >= 0.8
        |    AND len(list_filter(t, x -> list_contains($stop, x))) >= 3,
        |    false) AS pass
        |  FROM qb),
        |rtc AS (
        |  SELECT doc_id, COALESCE(CAST(list_sum(list_transform(w,
        |    x -> len(x))) AS BIGINT), 0) AS total FROM qb),
        |${unitCtes("lns", "rl")},
        |${unitCtes("pgs", "rp")},
        |${(2 to 10).map(gramCtes).mkString(",\n")},
        |rm AS (
        |  SELECT qb.doc_id,
        |${unitFracs("rl", "line")},
        |${unitFracs("rp", "para")},
        |${(topFracs ++ dupFracs).mkString(",\n")}
        |  FROM qb
        |  LEFT JOIN rtc USING (doc_id)
        |  LEFT JOIN rls2 USING (doc_id) LEFT JOIN rps2 USING (doc_id)
        |  $gramJoins),
        |rpass AS (
        |  SELECT doc_id, COALESCE(
        |    dup_line_frac <= 0.30 AND dup_para_frac <= 0.30
        |    AND dup_line_char_frac <= 0.20 AND dup_para_char_frac <= 0.20
        |    AND top_2gram_frac <= 0.20 AND top_3gram_frac <= 0.18
        |    AND top_4gram_frac <= 0.16 AND dup_5gram_frac <= 0.15
        |    AND dup_6gram_frac <= 0.14 AND dup_7gram_frac <= 0.13
        |    AND dup_8gram_frac <= 0.12 AND dup_9gram_frac <= 0.11
        |    AND dup_10gram_frac <= 0.10, false) AS pass
        |  FROM rm),
        |gt AS (
        |  SELECT cl.doc_id, cl.source, cl.text FROM cl
        |  JOIN qg USING (doc_id) JOIN rpass USING (doc_id)
        |  WHERE qg.pass AND rpass.pass),
        |ct AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
        |    THEN [array_to_string(toks[i:i+2], ' ')
        |          for i in range(1, len(toks) - 1)]
        |    ELSE [array_to_string(toks, ' ')] END) AS s
        |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(
        |          lower(text), '[\\s,;:!?.()\\[\\]{}"'']+'),
        |          x -> len(x) > 0) AS toks FROM gt)),
        |bsh AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
        |    THEN [array_to_string(toks[i:i+2], ' ')
        |          for i in range(1, len(toks) - 1)]
        |    ELSE [array_to_string(toks, ' ')] END) AS s
        |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(
        |          lower(text), '[\\s,;:!?.()\\[\\]{}"'']+'),
        |          x -> len(x) > 0) AS toks
        |        FROM documents WHERE doc_id < 50)),
        |bl AS (SELECT list(g) AS lg FROM (
        |  SELECT DISTINCT unnest(s) AS g FROM bsh)),
        |scored AS (
        |  SELECT ct.doc_id, round(CAST(len(list_intersect(s, bl.lg))
        |    AS DOUBLE) / len(s), 6) AS c
        |  FROM ct, bl),
        |fin AS (
        |  SELECT gt.source, gt.text FROM gt
        |  JOIN scored USING (doc_id) WHERE scored.c < 0.8)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(list_filter(regexp_split_to_array(text, '\\s+'),
        |    x -> len(x) > 0))) AS BIGINT) AS n_tokens
        |FROM fin GROUP BY source""".stripMargin
    }) { (s, d) =>
      q105Impl(s, d)
    },

    // --- C4 cleaning rules (Raffel et al. 2020 §2.2): both engines
    // construct the SAME synthetic page from each doc (8-word lines;
    // period on 2 of 3 lines keyed by doc_id+i; a "javascript" marker
    // on line 1 of doc_id%11 docs; a brace line on %13; a lorem line
    // on %17) and then apply the rule set term-for-term — so the
    // line-keep regex, word minimum, sentence counting, and page-drop
    // flags are all cross-engine hash-matched. ---
    QueryDef("q106_c4_clean",
      """WITH b AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
        |    '\s+'), x -> len(x) > 0) AS w
        |  FROM documents),
        |pg AS (
        |  SELECT doc_id,
        |    array_to_string([
        |      array_to_string(w[(i-1)*8+1 : i*8], ' ')
        |      || CASE WHEN doc_id % 11 = 0 AND i = 1
        |           THEN ' javascript' ELSE '' END
        |      || CASE WHEN (doc_id + i) % 3 = 2 THEN '' ELSE '.' END
        |      for i in range(1,
        |        greatest(CAST(ceil(len(w) / 8.0) AS BIGINT), 1) + 1)],
        |      chr(10))
        |    || CASE WHEN doc_id % 13 = 0
        |         THEN chr(10) || 'var x = function() {' ELSE '' END
        |    || CASE WHEN doc_id % 17 = 0
        |         THEN chr(10) || 'lorem ipsum dolor sit amet.' ELSE '' END
        |      AS t
        |  FROM b),
        |c AS (
        |  SELECT doc_id, t,
        |    list_filter(list_transform(str_split(t, chr(10)),
        |      l -> trim(l)), l -> len(l) > 0) AS lns
        |  FROM pg),
        |k AS (
        |  SELECT doc_id, t, lns,
        |    list_filter(lns, l -> regexp_matches(l, '[.!?"]$')
        |      AND len(list_filter(regexp_split_to_array(l, '\s+'),
        |            x -> len(x) > 0)) >= 5
        |      AND NOT contains(lower(l), 'javascript')) AS kept
        |  FROM c),
        |sc AS (
        |  SELECT doc_id, t, lns, kept,
        |    CAST(COALESCE(list_sum(list_transform(kept, l ->
        |      (len(l) - len(replace(l, '.', '')))
        |      + (len(l) - len(replace(l, '!', '')))
        |      + (len(l) - len(replace(l, '?', ''))))), 0) AS BIGINT) AS sc2
        |  FROM k)
        |SELECT doc_id,
        |  COALESCE(array_to_string(kept, chr(10)), '') AS text,
        |  CAST(len(lns) AS BIGINT) AS n_lines,
        |  CAST(len(kept) AS BIGINT) AS n_kept,
        |  sc2 AS n_sentences,
        |  COALESCE(NOT contains(lower(t), 'lorem ipsum')
        |    AND NOT contains(t, '{') AND sc2 >= 3 AND len(kept) > 0,
        |    false) AS keep
        |FROM sc""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val nL = greatest(ceil(size(col("__w")) / lit(8.0)).cast("int"), lit(1))
      val pageLines = transform(sequence(lit(1), nL), i =>
        concat(
          concat_ws(" ", slice(col("__w"), (i - lit(1)) * lit(8) + lit(1),
            lit(8))),
          when(col("doc_id") % 11 === 0 && i === 1, lit(" javascript"))
            .otherwise(lit("")),
          when((col("doc_id") + i) % 3 === 2, lit("")).otherwise(lit("."))))
      val page = concat(concat_ws("\n", pageLines),
        when(col("doc_id") % 13 === 0, lit("\nvar x = function() {"))
          .otherwise(lit("")),
        when(col("doc_id") % 17 === 0, lit("\nlorem ipsum dolor sit amet."))
          .otherwise(lit("")))
      TextAnalysis.c4Clean(
        docs.select(col("doc_id"), T.tokens(col("text"), Tokenize.Whitespace).as("__w"))
          .select(col("doc_id"), page.as("text")),
        "doc_id", "text")
    },

    // --- per-source sequence packing: each source concatenates into
    // its OWN context-window stream (the multi-corpus training
    // layout). DuckDB mirrors with a per-source cumulative window;
    // the Spark side must reproduce every offset with its
    // range-partition + per-group broadcast-offset construction. ---
    QueryDef("q107_sequence_pack_grouped",
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
        |         x -> len(x) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |    COALESCE(CAST(sum(greatest(n_tokens, 1)) OVER (
        |      PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) AS start_offset
        |  FROM d)
        |SELECT doc_id, source, n_tokens, start_offset,
        |  CAST(floor(start_offset / 512.0) AS BIGINT) AS first_pack,
        |  CAST(floor((start_offset + greatest(n_tokens, 1) - 1) / 512.0)
        |    AS BIGINT)
        |    - CAST(floor(start_offset / 512.0) AS BIGINT) + 1 AS n_packs
        |FROM c""".stripMargin) { (s, d) =>
      val counted = Tables.documents(s, d).select(col("doc_id"),
        col("source"), T.tokenCount(col("text")).cast("long").as("n_tokens"))
      Procedures.sequencePackGrouped(counted, "source", "doc_id",
        "n_tokens", 512L)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("start_offset"), col("first_pack"), col("n_packs"))
    },

    // --- MinHash dedup with TRANSITIVE closure, oracle-checked: the
    // corpus is built as explicit A~B~C chains (Z = text + 2m junk
    // tokens gets the SMALLEST id, X = bare text, Y = text + m junk;
    // with m ≈ ntok/3 the adjacent Jaccards sit near 0.75/0.8 and the
    // end-to-end pair near 0.6 < threshold) so transitive closure
    // genuinely differs from single-link: X's only neighbor Y has a
    // LARGER id, so single-link would keep X; reaching the keeper Z
    // requires the Y hop. DuckDB recomputes the exact pair graph and
    // closes it with a recursive CTE (min-reachable-label). 16×2
    // banding puts the recall knee far below the pair band (miss prob
    // ≤ 2e-6 at j = 0.75), and every hash is deterministic, so
    // LSH output == exact closure at gate SF (verified locally). ---
    QueryDef("q114_dedup_transitive",
      """WITH RECURSIVE b AS (
        |  SELECT doc_id, source,
        |    list_filter(regexp_split_to_array(lower(text),
        |      '[\s,;:!?.()\[\]{}"'']+'), x -> len(x) > 0) AS toks
        |  FROM documents WHERE doc_id < 250),
        |p AS (
        |  SELECT doc_id, source, toks,
        |    greatest(2, len(toks) // 3) AS m
        |  FROM b),
        |v AS (
        |  SELECT doc_id AS id, source,
        |    list_concat(toks, list_transform(range(1, 2 * m + 1),
        |      i -> 'zq' || CAST(i AS VARCHAR))) AS tk
        |  FROM p
        |  UNION ALL
        |  SELECT doc_id + 1000000, source, toks FROM p
        |  UNION ALL
        |  SELECT doc_id + 2000000, source,
        |    list_concat(toks, list_transform(range(1, m + 1),
        |      i -> 'zq' || CAST(i AS VARCHAR)))
        |  FROM p),
        |sh AS (
        |  SELECT id, source, list_distinct(CASE WHEN len(tk) >= 3
        |    THEN [array_to_string(tk[i:i+2], ' ') for i in range(1, len(tk) - 1)]
        |    ELSE [array_to_string(tk, ' ')] END) AS s
        |  FROM v),
        |e0 AS (
        |  SELECT a.id AS id_a, c.id AS id_b
        |  FROM sh a, sh c
        |  WHERE a.id < c.id
        |    AND CAST(len(list_intersect(a.s, c.s)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.s, c.s))) >= 0.7),
        |edges AS (
        |  SELECT id_a, id_b FROM e0
        |  UNION ALL SELECT id_b, id_a FROM e0),
        |cc AS (
        |  SELECT id_a AS id, id_b AS peer FROM edges
        |  UNION
        |  SELECT cc.id, e.id_b FROM cc JOIN edges e ON cc.peer = e.id_a)
        |SELECT id AS doc_id, source FROM sh
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM cc WHERE cc.id = sh.id AND cc.peer < sh.id)""".stripMargin) { (s, d) =>
      Dedup.minHashDedupTransitive(chainedDocs(s, d), "text", "doc_id",
        bands = 16, rowsPerBand = 2, shingleN = 3, threshold = 0.7)
        .select(col("doc_id"), col("source"))
    },

    // --- fix_text normalization chain, oracle-checked: a dirty suffix
    // (decomposed é = e + U+0301, curly quotes, em dash, NBSP, a BEL
    // control char, CRLF, space-hugged blank lines) is planted from
    // chr() codepoints IN BOTH ENGINES, then the identical 8-step
    // chain runs on each side (DuckDB nfc_normalize ≡ JDK Normalizer
    // NFC for these ancient codepoints; every other step is the same
    // regex/translate term-for-term). The hashed value is the cleaned
    // string itself — any divergence in any step fails the row. ---
    QueryDef("q115_fix_text",
      """WITH dirty AS (
        |  SELECT doc_id,
        |    text || chr(13) || chr(10) || 'cafe' || chr(101) || chr(769) ||
        |    ' ' || chr(8220) || 'quo' || chr(8221) || chr(8216) || 'tes' ||
        |    chr(8217) || chr(7) || ' a' || chr(8212) || 'b' || chr(160) ||
        |    'c ' || chr(10) || '  ' || chr(10) || chr(10) || chr(9) ||
        |    ' tail  end ' AS t
        |  FROM documents),
        |steps AS (
        |  SELECT doc_id,
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(
        |            regexp_replace(
        |              translate(nfc_normalize(t),
        |                chr(8216) || chr(8217) || chr(8220) || chr(8221) ||
        |                chr(8211) || chr(8212) || chr(160),
        |                '''''""--' || ' '),
        |              '\r\n|\r', chr(10), 'g'),
        |            '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
        |          '[ \t]+', ' ', 'g'),
        |        ' ?\n ?', chr(10), 'g'),
        |      '\n{3,}', chr(10) || chr(10), 'g') AS cleaned
        |  FROM dirty)
        |SELECT doc_id, trim(cleaned) AS clean_text FROM steps""".stripMargin) { (s, d) =>
      // NB: Spark's chr() is ASCII-mod-256, so the non-ASCII suffix
      // must come in as a string literal (the oracle uses DuckDB's
      // full-codepoint chr() for the same bytes)
      val dirty = concat(col("text"),
        lit("\r\ncafeé “quo”‘tes’" +
          7.toChar + " a—b c \n  \n\n\t tail  end "))
      Tables.documents(s, d).select(col("doc_id"),
        T.fixText(dirty).as("clean_text"))
    },

    // --- within-document repeated-line removal (RefinedWeb-style),
    // oracle-checked: duplicates are planted (the doc's own first
    // line replayed + a twice-repeated literal line), the op keeps
    // each line's FIRST occurrence in order. DuckDB mirrors with a
    // list comprehension over line positions (list_position = index
    // of first occurrence). Pure per-row array math on the Spark
    // side — zero shuffle. ---
    QueryDef("q116_intradoc_line_dedup",
      """WITH planted AS (
        |  SELECT doc_id,
        |    text || chr(10) ||
        |    string_split(text, chr(10))[1] || chr(10) ||
        |    'repeat me' || chr(10) || 'repeat me' AS t
        |  FROM documents),
        |lines AS (
        |  SELECT doc_id, string_split(t, chr(10)) AS ls FROM planted)
        |SELECT doc_id, array_to_string(
        |  [ls[i] for i in range(1, len(ls) + 1)
        |    if list_position(ls, ls[i]) = i], chr(10)) AS clean_text
        |FROM lines""".stripMargin) { (s, d) =>
      val planted = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"), lit("\n"),
          element_at(split(col("text"), "\n"), 1), lit("\n"),
          lit("repeat me\nrepeat me")).as("text"))
      TextAnalysis.intraDocLineDedup(planted, "doc_id", "text")
        .select(col("doc_id"), col("text").as("clean_text"))
    },

    // --- URL normalization for web-corpus dedup, oracle-checked by
    // INDEPENDENT CONSTRUCTION: both engines build the same messy URL
    // (uppercased host, tracking params utm_*/fbclid/gclid threaded
    // through the query string, fragment), Spark runs the
    // normalizeUrl regex chain, DuckDB writes down what the normal
    // form MUST be. Unlike a term-for-term regex mirror (impossible
    // here — the tracker strip uses a lookbehind RE2 lacks), this
    // oracles the SEMANTICS, not the implementation. ---
    QueryDef("q117_url_normalize",
      """SELECT doc_id,
        |  'https://www.' || source || '.example.com/Path/' ||
        |    CAST(doc_id AS VARCHAR) || '?id=' || CAST(doc_id AS VARCHAR)
        |    AS url
        |FROM documents""".stripMargin) { (s, d) =>
      val messy = concat(
        lit("HTTPS://WWW."), upper(col("source")),
        lit(".Example.COM/Path/"), col("doc_id").cast("string"),
        lit("?utm_source=news&fbclid=abc123&id="),
        col("doc_id").cast("string"),
        lit("&gclid=zz#sec-"), col("doc_id").cast("string"))
      Tables.documents(s, d).select(col("doc_id"),
        T.normalizeUrl(messy).as("url"))
    })

  /** Bench-tier queries: operators whose FAST path rests on a hash no
    * other engine reproduces (native xxhash64 simhash), so their
    * correctness oracle is a mechanics twin (q83) + ScalaTest, but
    * their throughput is still a number the bench should track
    * round-over-round. Not part of SparkEntry.queries — the driver's
    * correctness gate sees only fully-oracled entries. */
  val benchOnly: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q47_simhash_pairs" -> ((s: SparkSession, d: String) =>
      Dedup.simHashPairs(doubledDocs(s, d), "text", "doc_id", maxHamming = 3)
        .groupBy(col("hamming")).agg(count(lit(1)).as("n_pairs"))),
    // compression-ratio gate over the full corpus: the ratio comes
    // from a native Deflater expression with no DuckDB analog, so its
    // value semantics are pinned in OperatorsSpec (determinism,
    // repetition monotonicity, tri-logic) and the bench times the
    // scan-speed claim
    "q125_compression_ratio" -> ((s: SparkSession, d: String) =>
      TextAnalysis.compressionRatio(
          Tables.documents(s, d).select(col("doc_id"), col("text")), "text")
        .agg(count(when(col("pass"), 1)).as("n_pass"),
          round(avg(col("compression_ratio")), 4).as("avg_ratio"))))

  // the capstone body is hoisted out only to keep the QueryDef list
  // readable; see the q105 oracle SQL above for the stage-by-stage map
  private def q105Impl(s: SparkSession, d: String): DataFrame = {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("text"))
      // 1. exact dedup over a twin-doubled corpus (min-id keeper)
      val doubled = docs.unionByName(docs.select(
        (col("doc_id") + 1000000L).as("doc_id"), col("source"), col("text")))
      val ded = Dedup.exact(doubled, "text", "doc_id")
      // 2. plant boilerplate: a corpus-wide banner (dropped everywhere,
      // n ≥ 50) and a per-7-block quote line (kept by block keeper)
      val pages = ded.select(col("doc_id"), col("source"), concat(
        lit("PROMO click here to subscribe\n"),
        lit("shared quote block "),
        floor(col("doc_id") / lit(7.0)).cast("long").cast("string"),
        lit("\n"), col("text")).as("text"))
      val cleaned = TextAnalysis.lineDedup(pages, "doc_id", "text",
        dropThreshold = 50L)
        .join(pages.select(col("doc_id"), col("source")), Seq("doc_id"))
      // 3+4. both Gopher gates on the CLEANED text — chained linearly
      // (each gate filters and carries text/source forward) so the
      // lineDedup subtree evaluates once per consumer instead of once
      // per gate-join branch
      val qualGated = TextAnalysis.gopherQuality(cleaned, "doc_id", "text",
          keep = Seq("text", "source"),
          stopwords = Seq("the", "a", "table", "value"), minStop = 3)
        .filter(col("pass")).select("doc_id", "text", "source")
      val gated = TextAnalysis.gopherRepetition(qualGated, "doc_id", "text",
          keep = Seq("text", "source"))
        .filter(col("pass")).select("doc_id", "text", "source")
        // two consumers below (scrub scoring + final stats join):
        // persist so the dedup+gate subtree runs once. MEMORY_AND_DISK
        // and never a shuffle — at scale this is the checkpoint a real
        // pipeline writes between curation and consumption anyway.
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // 5. decontaminate against the raw doc<50 benchmark
      val bench = Tables.documents(s, d).filter(col("doc_id") < 50)
      val keepIds = TextAnalysis
        .contamination(gated, "doc_id", "text", bench, "text")
        .filter(col("contamination") < 0.8)
        .select(col("id").as("doc_id"))
      // 6. per-source stats of the surviving corpus
      gated.join(keepIds, Seq("doc_id"))
        .groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          sum(T.tokenCount(col("text")).cast("long")).as("n_tokens"))
  }
}
