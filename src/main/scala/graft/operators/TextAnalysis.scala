package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => T}
import graft.plans.Tokenize

/** Corpus-level text operators (SURVEY §2.7/§2.8 NLP surface):
  * tfidf as plain DataFrame aggregation, bag-of-words stats tables,
  * stemming, stopword filtering, n-gram extraction, feature hashing.
  *
  * All are explode → aggregate pipelines: one shuffle on the token,
  * map-side partial aggregation, no driver state — the tokenize →
  * transpose → SVD shape of the reference's benchmark pipelines
  * (`/root/reference/testing/reddit_benchmark.py:27-110`) expressed
  * as Catalyst plans.
  */
object TextAnalysis {

  /** English stopword list (same scale as the reference's
    * `filter_stopwords` backing list, `plugins/nlp/nlp.cc:108`). */
  val stopwordsEn: Seq[String] = Seq(
    "the", "a", "an", "of", "and", "or", "to", "in", "is", "are", "was",
    "be", "been", "that", "this", "it", "for", "on", "with", "as", "at",
    "by", "from", "not", "but", "they", "he", "she", "we", "you", "i",
    "what", "which", "who", "whom", "where", "when", "why", "how",
    "while", "will", "would", "can", "could", "should", "shall", "may",
    "might", "must", "do", "does", "did", "have", "has", "had", "am",
    "were", "being", "its", "his", "her", "their", "our", "your", "my",
    "me", "him", "them", "us", "if", "then", "else", "so", "than",
    "too", "very", "just", "about", "into", "over", "under", "again",
    "there", "here", "all", "any", "both", "each", "no", "nor", "only",
    "own", "same", "such", "up", "down", "out", "off")

  /** `filter_stopwords` over a token array column. */
  def filterStopwords(tokens: Column,
      stopwords: Seq[String] = stopwordsEn): Column =
    array_except(tokens, array(stopwords.map(lit): _*))

  /** Full Porter stemmer (the reference wraps Snowball,
    * `plugins/nlp/nlp.cc:213-284`, whose English variant is Porter's
    * algorithm) — native expression, one eval per token. */
  def stem(token: Column): Column =
    graft.plans.PorterStem.column(lower(token))

  /** stemmer over a whole token array (`stemmerdoc`). */
  def stemAll(tokens: Column): Column = transform(tokens, t => stem(t))

  /** `tokensplit` function (`plugins/textual/tokensplit.cc:287`): the
    * reference configures it with a dataset of special tokens
    * (emoticons, hashtags…) and re-tokenizes text so each configured
    * token stands alone. Longest tokens match first (same greedy rule
    * as the reference's aho-corasick pass); the token list is
    * configuration-sized, compiled into one regex alternation —
    * codegen'd, no UDF. */
  def tokensplit(text: Column, specialTokens: Seq[String]): Column = {
    require(specialTokens.nonEmpty, "tokensplit needs at least one token")
    val pattern = specialTokens.sortBy(-_.length)
      .map(java.util.regex.Pattern.quote).mkString("|")
    trim(regexp_replace(regexp_replace(text, s"($pattern)", " $1 "),
      "\\s+", " "))
  }

  /** `feature_hasher` (`plugins/feature_gen/feature_generators.cc:155`):
    * hash tokens into a fixed-width sparse count vector, represented
    * as map<int,int> (bucket → count). Collision-tolerant by design.
    * Counting runs through the one-pass native TokenCounts (O(tokens)
    * per row — the per-distinct filter scan it replaces was
    * O(tokens × distinct buckets)). */
  def featureHash(tokens: Column, numBuckets: Int): Column = {
    val buckets = transform(tokens,
      t => pmod(xxhash64(t), lit(numBuckets)).cast("string"))
    transform_keys(graft.plans.TokenCounts.column(buckets),
      (k, _) => k.cast("int"))
  }

  /** Token or n-gram document/term frequencies for a corpus —
    * the train side of tfidf (`plugins/nlp/tfidf.cc:472`). */
  def termStats(docs: DataFrame, idCol: String, textCol: String,
      ngram: Int = 1): DataFrame = {
    val toks = if (ngram == 1) T.tokens(col(textCol))
               else T.shingles(col(textCol), ngram)
    val exploded = docs.select(col(idCol).as("doc_id"),
      explode(toks).as("term"))
    val nDocs = docs.count()
    exploded.groupBy(col("term"))
      .agg(count(lit(1)).as("tf"),
        countDistinct(col("doc_id")).as("df"))
      .withColumn("idf", log(lit(nDocs + 1.0) / (col("df") + 1.0)))
  }

  /** Apply tfidf: per (doc, term) weight using a broadcast term table. */
  def tfidfApply(docs: DataFrame, idCol: String, textCol: String,
      termTable: DataFrame): DataFrame = {
    val exploded = docs.select(col(idCol).as("doc_id"),
      explode(T.tokens(col(textCol))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("n"))
    exploded.join(broadcast(termTable.select(col("term"), col("idf"))), Seq("term"))
      .select(col("doc_id"), col("term"), (col("n") * col("idf")).as("tfidf"))
  }

  /** Benchmark-contamination check (LLM-pipeline extension): per
    * document, the fraction of its distinct shingles that appear
    * anywhere in a benchmark corpus — the standard n-gram-overlap
    * decontamination test before training. Scale shape: the benchmark
    * shingle set is distinct (benchmarks are small → broadcast; at
    * worst one shuffle on the 8-byte shingle hash), the corpus
    * explodes to (id, hash) and aggregates back map-side partial. */
  def contamination(docs: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String,
      shingleN: Int = 3): DataFrame = {
    val benchSh = benchmark
      .select(explode(T.shingleHashes(col(benchTextCol), shingleN)).as("__sh"))
      .distinct().withColumn("__hit", lit(1))
    docs.select(col(idCol).as("id"),
      explode(T.shingleHashes(col(textCol), shingleN)).as("__sh"))
      .join(broadcast(benchSh), Seq("__sh"), "left")
      .groupBy(col("id"))
      .agg(round(sum(when(col("__hit").isNotNull, 1.0).otherwise(0.0)) /
        count(lit(1)), 6).as("contamination"))
  }

  /** BM25 ranked keyword search over a corpus (Robertson/Spärck Jones;
    * the standard probabilistic relevance weighting — public
    * formulation, Okapi BM25). Scale shape: the query is tiny and the
    * corpus never explodes — document frequencies for the query terms,
    * N, and avgdl all come from ONE global aggregate (map-side
    * partial), broadcast back as a single row; per-document term
    * frequencies are array math inside the row (codegen, O(queryTerms ×
    * tokens)); the only ordering work is a TakeOrdered top-k. No
    * shuffle ever carries document data.
    *
    * score(d) = Σ_t ln(1 + (N - df_t + 0.5)/(df_t + 0.5)) ·
    *            tf · (k1+1) / (tf + k1·(1 - b + b·dl/avgdl))
    */
  def bm25Search(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
      topK: Int = 20): DataFrame = {
    require(queryTerms.nonEmpty, "bm25Search needs at least one term")
    val base = docs.select(col(idCol).as("doc_id"),
      T.tokens(col(textCol), Tokenize.Whitespace).as("__toks"))
      .withColumn("__dl", size(col("__toks")).cast("double"))
    val dfAggs = queryTerms.zipWithIndex.map { case (t, i) =>
      sum(when(array_contains(col("__toks"), t), 1L).otherwise(0L))
        .cast("double").as(s"__df_$i")
    }
    val stats = base.agg(count(lit(1)).cast("double").as("__n"),
      (avg(col("__dl")).as("__avgdl") +: dfAggs): _*)
    val score = queryTerms.zipWithIndex.map { case (t, i) =>
      val tf = size(filter(col("__toks"), x => x === t)).cast("double")
      val dfT = col(s"__df_$i")
      val idf = log(lit(1.0) + (col("__n") - dfT + 0.5) / (dfT + 0.5))
      idf * (tf * lit(k1 + 1)) /
        (tf + lit(k1) * (lit(1 - b) + lit(b) * col("__dl") / col("__avgdl")))
    }.reduce(_ + _)
    base.crossJoin(broadcast(stats))
      .withColumn("bm25", round(score, 6))
      .filter(col("bm25") > 0)
      .select(col("doc_id"), col("bm25"))
      .orderBy(col("bm25").desc, col("doc_id").asc)
      .limit(topK)
  }

  /** The cross-engine score-table contract behind [[lmPerplexity]]:
    * every per-bigram fixed-point log-score, keyed by the INTEGER
    * count pair that determines it. `seen` maps each distinct
    * (bigram count, head-word count) pair to round(ln(c2/c1)·1e6);
    * `backoff` maps each distinct unigram count to
    * round(ln(α·c/N)·1e6); `oovFp` is the out-of-vocabulary score
    * round(ln(α·0.5/N)·1e6). The transcendental is evaluated exactly
    * ONCE (driver-side) and the resulting BIGINTs ride in BOTH the
    * Spark plan and the DuckDB oracle as literals — no engine ever
    * recomputes a log, so 1-ulp libm differences cannot flip a
    * rounding boundary (the q101/DSIR pattern). */
  final case class LmScoreTables(
      seen: Seq[(Long, Long, Long)],   // (c2, c1, fp)
      backoff: Seq[(Long, Long)],      // (c1w2, fp)
      oovFp: Long,
      nTokens: Long)

  private def bigramArr(toks: Column): Column =
    transform(sequence(lit(1), size(toks) - 1),
      i => struct(element_at(toks, i).as("w1"),
        element_at(toks, i + 1).as("w2")))

  /** round-half-away-from-zero to BIGINT micro-units — the same
    * convention as Spark's `round(x, 0)` and DuckDB's `round`. */
  private def fpMicro(x: Double): Long =
    BigDecimal(x * 1e6)
      .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toLong

  /** Derive the [[LmScoreTables]] for a training corpus. The collect
    * is DISTINCT COUNT PAIRS, not grams: counts are Zipf-distributed,
    * so the number of distinct (c2, c1) pairs grows ~sub-linearly in
    * corpus size (empirically thousands at millions of bigrams; a
    * trillion-bigram corpus yields a few million pairs ≈ tens of MB —
    * still broadcast-sized). A hard cap fails fast rather than
    * silently collecting an unexpectedly pathological table.
    *
    * `logFn` exists for the determinism spec: perturbing ln by 1 ulp
    * must leave every fixed-point entry unchanged. */
  def lmScoreTables(train: DataFrame, trainTextCol: String,
      alpha: Double = 0.4, logFn: Double => Double = StrictMath.log,
      maxPairs: Int = 4000000): LmScoreTables = {
    val (uc, bc) = lmCountTables(train, trainTextCol)
    lmScoreTablesFromCounts(uc, bc, alpha, logFn, maxPairs)
  }

  /** The two LM count tables, MATERIALIZED (DfOps.cut): unigram
    * (w, c) and bigram (w1, w2, c2). Both are vocabulary-sized —
    * sublinear in the corpus — and every downstream consumer
    * ([[lmScoreTablesFromCounts]]'s three driver-bounded reductions and
    * [[lmPerplexityWithCounts]]'s score joins) reads the SAME
    * materialized rows instead of re-tokenizing and re-exploding the
    * training corpus per consumer (the pre-r14 shape paid ~6 full
    * corpus passes per lmPerplexity call; now exactly two — one
    * unigram, one bigram). */
  def lmCountTables(train: DataFrame,
      trainTextCol: String): (DataFrame, DataFrame) = {
    val trainToks =
      train.select(T.tokens(col(trainTextCol), Tokenize.Whitespace).as("__toks"))
    val uc = graft.core.DfOps.cut(
      trainToks.select(explode(col("__toks")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c")))
    val bc = graft.core.DfOps.cut(
      trainToks.filter(size(col("__toks")) >= 2)
        .select(explode(bigramArr(col("__toks"))).as("p"))
        .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
        .agg(count(lit(1)).as("c2")))
    (uc, bc)
  }

  /** [[lmScoreTables]] over pre-materialized [[lmCountTables]] output.
    *
    * `logFn` defaults to `StrictMath.log` (fdlibm — bit-identical on
    * every platform BY SPEC, and the function Spark's own `log`
    * expression evaluates), so the literal tables this derives agree
    * bit-for-bit with [[lmPerplexityDistributedFromCounts]]'s
    * executor-side scores on any JVM — the r15 change that let the
    * scoring path drop this driver collect entirely (the collect now
    * runs only when an oracle mirror needs the literal VALUES tables). */
  def lmScoreTablesFromCounts(uc: DataFrame, bc: DataFrame,
      alpha: Double = 0.4, logFn: Double => Double = StrictMath.log,
      maxPairs: Int = 4000000): LmScoreTables = {
    val n = Option(uc.agg(sum(col("c"))).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    require(n > 0, "lmScoreTables: training corpus has no tokens — " +
      "every backoff score would be log(x/0)")
    val pairRows = bc
      .join(uc.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))
      .select(col("c2"), col("c1")).distinct()
      .limit(maxPairs + 1).collect()
    require(pairRows.length <= maxPairs,
      s"lmScoreTables: > $maxPairs distinct (c2,c1) pairs — corpus count " +
        "distribution is pathological; raise maxPairs explicitly")
    val seen = pairRows.toSeq.map { r =>
      val (c2, c1) = (r.getLong(0), r.getLong(1))
      (c2, c1, fpMicro(logFn(c2.toDouble / c1.toDouble)))
    }.sortBy(t => (t._1, t._2))
    val backoffRows = uc.select(col("c")).distinct()
      .limit(maxPairs + 1).collect()
    require(backoffRows.length <= maxPairs,
      s"lmScoreTables: > $maxPairs distinct unigram counts — corpus count " +
        "distribution is pathological; raise maxPairs explicitly")
    val backoff = backoffRows.toSeq
      .map(_.getLong(0)).sorted
      .map(c => c -> fpMicro(logFn(alpha * c / n)))
    LmScoreTables(seen, backoff, fpMicro(logFn(alpha * 0.5 / n)), n)
  }

  /** Bigram language-model perplexity scoring with Stupid Backoff
    * smoothing (Brants et al. 2007, "Large Language Models in Machine
    * Translation" — the web-scale LM formulation designed for exactly
    * this setting: counts only, no normalization pass). The standard
    * CCNet-style quality gate: score each document's token stream
    * under an n-gram LM trained on a reference corpus and filter on
    * perplexity.
    *
    * score(w2 | w1) = c(w1 w2) / c(w1)           if the bigram was seen
    *               = alpha * c(w2) / N            backed off to unigram
    *                 (unseen unigrams get pseudo-count 0.5)
    *
    * Scale shape: the two count tables are plain groupBy aggregates
    * (map-side partial; only (gram, n) rows shuffle). Scoring explodes
    * each document to its bigrams and joins the count tables ON THE
    * GRAM KEY — counts are never broadcast and never collected, so a
    * 100 TB corpus with a billion-row bigram table is three co-located
    * shuffle joins, not a driver bottleneck. Hot grams ("of the") are
    * one row on the build side of each join — no row explosion. The
    * only broadcast is the distinct-count-pair score table
    * ([[lmScoreTables]] — sub-linear, megabytes at web scale).
    *
    * Determinism across engines: per-bigram log-scores come from the
    * shared fixed-point table (BIGINT micro-units), so the per-doc sum
    * is integer-exact and order-free, and no engine evaluates a
    * transcendental inside the hashed contract; `avg_logprob` divides
    * the same two integers in the same order in both engines.
    * (`perplexity` = exp(−avg) is derived CONVENIENCE output — exp is
    * engine-libm-dependent, so oracle contracts should hash the
    * integer-exact columns, not this one.) */
  def lmPerplexity(docs: DataFrame, idCol: String, textCol: String,
      train: DataFrame, trainTextCol: String,
      alpha: Double = 0.4): DataFrame =
    lmPerplexityWith(docs, idCol, textCol, train, trainTextCol,
      lmScoreTables(train, trainTextCol, alpha))

  /** [[lmPerplexity]] against a pre-built [[LmScoreTables]] — the
    * entry point when the caller also needs the table (e.g. to mirror
    * it into an oracle plan, or to score many batches under one LM). */
  def lmPerplexityWith(docs: DataFrame, idCol: String, textCol: String,
      train: DataFrame, trainTextCol: String,
      tables: LmScoreTables): DataFrame = {
    val (uc, bc) = lmCountTables(train, trainTextCol)
    lmPerplexityWithCounts(docs, idCol, textCol, uc, bc, tables)
  }

  /** [[lmPerplexityWith]] over pre-materialized [[lmCountTables]]
    * output — the entry point when the caller already derived the
    * count tables (as [[lmScoreTablesFromCounts]] needs them too). */
  def lmPerplexityWithCounts(docs: DataFrame, idCol: String,
      textCol: String, uc: DataFrame, bc: DataFrame,
      tables: LmScoreTables): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val seenDf = broadcast(
      tables.seen.toDF("__sc2", "__sc1", "__fp_seen"))
    val backDf = broadcast(tables.backoff.toDF("__bc", "__fp_back"))
    val docBg = docs
      .select(col(idCol).as("doc_id"), T.tokens(col(textCol), Tokenize.Whitespace).as("__toks"))
      .filter(size(col("__toks")) >= 2)
      .select(col("doc_id"), explode(bigramArr(col("__toks"))).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    // Attach the fixed-point scores to the COUNT tables first (both
    // vocabulary-sized), then join the exploded doc bigrams — by far
    // the biggest frame — against exactly two score tables. The
    // previous shape joined docBg four times (bc, uc×2, then the
    // broadcast score tables), i.e. one extra full shuffle of every
    // document bigram just to carry c1(w1) to the seen lookup.
    // Equivalence: `seen` maps EVERY distinct (c2, c1) pair (derived
    // from the same bc⋈uc), so fp_seen is non-null iff the bigram was
    // seen, and coalesce(fp_seen, fp_back, oov) reproduces the
    // when(c2 seen)/backoff/OOV cascade bit-for-bit.
    val seenScored = bc
      .join(uc.select(col("w").as("w1"), col("c").as("__c1")), Seq("w1"))
      .join(seenDf, col("c2") === col("__sc2") &&
        col("__c1") === col("__sc1"), "left")
      .select(col("w1"), col("w2"), col("__fp_seen"))
    val backScored = uc
      .join(backDf, col("c") === col("__bc"), "left")
      .select(col("w").as("w2"), col("__fp_back"))
    val scored = docBg
      .join(seenScored, Seq("w1", "w2"), "left")
      .join(backScored, Seq("w2"), "left")
      .withColumn("__fp",
        coalesce(col("__fp_seen"), col("__fp_back"), lit(tables.oovFp)))
    scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("__fp")).as("logprob_fp"))
      .withColumn("avg_logprob",
        col("logprob_fp").cast("double") / col("n_bigrams") / 1e6)
      .withColumn("perplexity", round(exp(-col("avg_logprob")), 4))
  }

  /** [[lmPerplexityWithCounts]] WITHOUT the driver-side score-table
    * collect: the per-bigram fixed-point scores are computed
    * DISTRIBUTIVELY on the (vocabulary-sized, materialized) count
    * tables as codegen'd expressions, so no data-dependent set ever
    * reaches the driver — the only scalar pulled is N = Σ unigram
    * counts (one row, any corpus size).
    *
    * Bit-equality with the table path: Spark's `log` expression
    * evaluates `StrictMath.log` (fdlibm — identical on every platform
    * by spec) and `round(x·1e6, 0)` on a double is
    * `BigDecimal(x·1e6).setScale(0, HALF_UP)` — operand-for-operand the
    * same arithmetic as [[fpMicro]]∘[[lmScoreTablesFromCounts]] with
    * its StrictMath default, over the same count longs. The divisions
    * and the ·1e6 multiply are single IEEE ops (correctly rounded,
    * engine-independent). OperatorsSpec pins the distributed scores
    * bit-equal to the collected-table scores on a mixed
    * seen/backoff/OOV fixture; the q89 oracle keeps hashing exact.
    *
    * `fp_seen` is non-null exactly when the table path's left join
    * found the pair: here it is computed inline on bc⋈uc (an inner
    * join on w1 — every bigram's head word is in the unigram table by
    * construction), so the coalesce cascade is unchanged. */
  def lmPerplexityDistributedFromCounts(docs: DataFrame, idCol: String,
      textCol: String, uc: DataFrame, bc: DataFrame,
      alpha: Double = 0.4): DataFrame = {
    val n = Option(uc.agg(sum(col("c"))).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    require(n > 0, "lmPerplexity: training corpus has no tokens — " +
      "every backoff score would be log(x/0)")
    def fpOf(x: Column): Column = round(x * lit(1e6), 0).cast("long")
    val docBg = docs
      .select(col(idCol).as("doc_id"), T.tokens(col(textCol), Tokenize.Whitespace).as("__toks"))
      .filter(size(col("__toks")) >= 2)
      .select(col("doc_id"), explode(bigramArr(col("__toks"))).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val seenScored = bc
      .join(uc.select(col("w").as("w1"), col("c").as("__c1")), Seq("w1"))
      .select(col("w1"), col("w2"),
        fpOf(log(col("c2").cast("double") / col("__c1").cast("double")))
          .as("__fp_seen"))
    val backScored = uc.select(col("w").as("w2"),
      fpOf(log(lit(alpha) * col("c").cast("double") / lit(n.toDouble)))
        .as("__fp_back"))
    val oovFp = fpMicro(StrictMath.log(alpha * 0.5 / n))
    val scored = docBg
      .join(seenScored, Seq("w1", "w2"), "left")
      .join(backScored, Seq("w2"), "left")
      .withColumn("__fp",
        coalesce(col("__fp_seen"), col("__fp_back"), lit(oovFp)))
    scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("__fp")).as("logprob_fp"))
      .withColumn("avg_logprob",
        col("logprob_fp").cast("double") / col("n_bigrams") / 1e6)
      .withColumn("perplexity", round(exp(-col("avg_logprob")), 4))
  }

  /** Split documents into fixed token-budget chunks with overlap —
    * the standard pre-tokenization step that turns raw documents into
    * context-window-sized training sequences. Whitespace tokens keep
    * their original casing (chunking must not alter content). Chunks
    * start every `chunkTokens - overlap` tokens; the final chunk may
    * be shorter; empty documents emit nothing.
    *
    * Scale shape: pure per-row array math + one posexplode — no
    * shuffle, no state; output rows inherit the input partitioning, so
    * chunking composes with any downstream operator at any corpus
    * size. */
  def chunkDocuments(docs: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, overlap: Int = 0): DataFrame = {
    require(chunkTokens > 0 && overlap >= 0 && overlap < chunkTokens,
      "need chunkTokens > 0 and 0 <= overlap < chunkTokens")
    val step = chunkTokens - overlap
    val toks = filter(split(col(textCol), "\\s+"), t => length(t) > 0)
    val chunks = transform(
      sequence(lit(1), greatest(size(col("__toks")), lit(1)), lit(step)),
      s => slice(col("__toks"), s, lit(chunkTokens)))
    docs.select(col(idCol).as("doc_id"), toks.as("__toks"))
      .filter(size(col("__toks")) > 0)
      .select(col("doc_id"), posexplode(chunks).as(Seq("chunk_id", "__c")))
      // a trailing start inside the overlap of the previous chunk adds
      // no new tokens; drop fully-contained tail chunks (start > 1)
      .filter(col("chunk_id") === 0 ||
        size(col("__c")) > overlap)
      .select(col("doc_id"), col("chunk_id"),
        concat_ws(" ", col("__c")).as("chunk_text"),
        size(col("__c")).cast("long").as("n_tokens"))
  }

  /** Corpus-level line deduplication (the C4/RefinedWeb cleaning
    * step): a non-blank line duplicated across documents survives only
    * in the smallest-id document holding it, and a line occurring
    * `dropThreshold`-or-more times (navigation chrome, cookie
    * banners) is removed everywhere. Blank lines always stay. Returns
    * (doc_id, text, n_lines) with each document's surviving lines
    * rejoined in order; documents whose every line was boilerplate
    * come back with empty text, never disappear.
    *
    * Scale shape: explode to (doc, pos, line) → `groupBy(lineHash)`
    * keeper/count aggregate (partial map-side; only (hash, minId, n)
    * rows shuffle — a line shared by 100M docs is one row) → join back
    * on the hash → re-assemble per doc by sorting the doc-sized
    * (pos, line) list. No windows, no pairwise work, no driver state. */
  def lineDedup(docs: DataFrame, idCol: String, textCol: String,
      dropThreshold: Long = Long.MaxValue): DataFrame = {
    val lines = docs.select(col(idCol).as("doc_id"),
      posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .withColumn("__k",
        when(length(trim(col("line"))) > 0, xxhash64(trim(col("line")))))
    val stats = lines.filter(col("__k").isNotNull)
      .groupBy(col("__k"))
      .agg(min(col("doc_id")).as("__keep"), count(lit(1)).as("__n"))
    val kept = lines.join(stats, Seq("__k"), "left")
      .filter(col("__k").isNull ||
        (col("__keep") === col("doc_id") && col("__n") < dropThreshold))
    docs.select(col(idCol).as("doc_id"))
      .join(kept.groupBy(col("doc_id"))
          // reassemble INSIDE the aggregate: downstream plans then see
          // `text` as a finished attribute. Reassembling in a Project
          // on top invites CollapseProject to inline the whole
          // sort+join-lines chain into EVERY downstream expression
          // that touches text — a composed quality battery re-derived
          // it 13× per row (q105 went 97s → 9s at sf0.1 on this fix).
          .agg(concat_ws("\n", transform(
              array_sort(collect_list(struct(col("pos"), col("line")))),
              p => p("line"))).as("__txt"),
            count(lit(1)).as("__nl")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("__txt"), lit("")).as("text"),
        coalesce(col("__nl"), lit(0L)).cast("long").as("n_lines"))
  }

  /** Gopher-style quality-rule battery (Rae et al. 2021, "Scaling
    * Language Models: Methods, Analysis & Insights from Training
    * Gopher", §A1.1) — the rule set most open pretraining pipelines
    * (RefinedWeb, Dolma, FineWeb) apply verbatim. Per document:
    * word count, mean word length, symbol-to-word ratio (#, ..., …),
    * fraction of lines starting with a bullet / ending with an
    * ellipsis, fraction of words containing a letter, count of
    * distinct required stopwords present — plus the conjunction
    * `pass`. Pure per-row Column math (one split each for words,
    * lines, and punctuation-stripped tokens, materialized once; lambda
    * bodies touch only their lambda variable), so it runs at scan
    * speed with no shuffle and composes with any sampling/dedup
    * downstream. Ratios are NULL (not pass) for empty docs. */
  def gopherQuality(docs: DataFrame, idCol: String, textCol: String,
      minWords: Long = 10, maxWords: Long = 100000,
      keep: Seq[String] = Nil,
      stopwords: Seq[String] = Seq("the", "be", "to", "of", "and", "that",
        "have", "with"),
      minStop: Long = 2): DataFrame = {
    val requiredStop = stopwords
    def occurrences(s: Column, lit0: String) =
      (length(s) - length(replace(s, lit(lit0), lit("")))) / lit0.length
    val kept = keep.map(col)
    val staged = docs.select(Seq(col(idCol).as("doc_id"), col(textCol).as("__tx"),
      T.tokens(col(textCol), Tokenize.Whitespace).as("__w"),
      filter(transform(split(col(textCol), "\n"), l => trim(l)),
        l => length(l) > 0).as("__ln"),
      array_distinct(T.tokens(col(textCol))).as("__t")) ++ kept: _*)
    val metrics = Seq(
      size(col("__w")).cast("long").as("n_words"),
      round(aggregate(col("__w"), lit(0L), (a, w) => a + length(w))
        .cast("double") / nullif(size(col("__w")), lit(0)), 4)
        .as("mean_word_len"),
      round((occurrences(col("__tx"), "#") + occurrences(col("__tx"), "...") +
        occurrences(col("__tx"), "…")).cast("double") /
        nullif(size(col("__w")), lit(0)), 4).as("symbol_ratio"),
      round(size(filter(col("__ln"),
        l => substring(l, 1, 1).isin("-", "*", "•"))).cast("double") /
        nullif(size(col("__ln")), lit(0)), 4).as("bullet_frac"),
      round(size(filter(col("__ln"),
        l => l.endsWith("...") || l.endsWith("…"))).cast("double") /
        nullif(size(col("__ln")), lit(0)), 4).as("ellipsis_frac"),
      round(size(filter(col("__w"), w => w.rlike("\\p{L}"))).cast("double") /
        nullif(size(col("__w")), lit(0)), 4).as("alpha_frac"),
      size(array_intersect(col("__t"),
        array(requiredStop.map(lit): _*))).cast("long").as("n_stop"))
    staged.select(Seq(col("doc_id")) ++ kept ++ metrics: _*)
      .withColumn("pass",
        col("n_words").between(minWords, maxWords) &&
        col("mean_word_len").between(3.0, 10.0) &&
        col("symbol_ratio") <= 0.1 &&
        col("bullet_frac") <= 0.9 &&
        col("ellipsis_frac") <= 0.3 &&
        col("alpha_frac") >= 0.8 &&
        col("n_stop") >= lit(minStop))
      // Opaque = optimizer barrier: .filter(col("pass")) must read the
      // computed boolean, not re-inline the whole battery (see
      // graft.plans.Opaque)
      .withColumn("pass",
        graft.plans.Opaque.column(coalesce(col("pass"), lit(false))))
  }

  /** C4 cleaning rules (Raffel et al. 2020 §2.2 — the most widely
    * replicated pretraining cleanup): keep only lines that end in
    * terminal punctuation, have ≥ `minWordsPerLine` words, and do not
    * mention "javascript"; drop the whole page when the raw text
    * contains "lorem ipsum" or a curly brace, or when the cleaned
    * text has fewer than `minSentences` sentences ('.'/'!'/'?'
    * occurrences in kept lines) or no kept lines at all.
    *
    * Returns one row per input doc — cleaned `text`, `n_lines`,
    * `n_kept`, `n_sentences`, and the `keep` verdict — so the caller
    * chooses between filtering (C4 proper) and auditing. Pure per-row
    * Column math: no shuffle, no window, composes with any scan. */
  /** zlib compression-ratio quality signal (deflated bytes / raw
    * UTF-8 bytes — the boilerplate gate corpus-curation pipelines run
    * beside the Gopher repetition checks): adds `compression_ratio`
    * and a `pass` verdict for minRatio ≤ ratio ≤ maxRatio. Templated
    * or machine-generated text compresses far below natural prose;
    * the ratio is computed by a native expression
    * ([[graft.plans.DeflateRatio]]) in one tight eval per row — scan
    * speed, no shuffle, null ratio (→ pass false) on empty text. */
  def compressionRatio(docs: DataFrame, textCol: String,
      minRatio: Double = 0.25, maxRatio: Double = 0.95,
      level: Int = 6): DataFrame = {
    val ratio = graft.plans.DeflateRatio.column(col(textCol), level)
    docs.withColumn("compression_ratio", ratio)
      .withColumn("pass",
        coalesce(col("compression_ratio").between(minRatio, maxRatio),
          lit(false)))
  }

  def c4Clean(docs: DataFrame, idCol: String, textCol: String,
      minWordsPerLine: Int = 5, minSentences: Int = 3,
      keep: Seq[String] = Nil): DataFrame = {
    val kept = keep.map(col)
    def occurrences(s: Column, what: String) =
      length(s) - length(replace(s, lit(what), lit("")))
    val lns = filter(transform(split(col(textCol), "\n"), l => trim(l)),
      l => length(l) > 0)
    val keptLines = filter(lns, l =>
      l.rlike("[.!?\"]$") &&
        size(filter(split(l, "\\s+"), x => length(x) > 0)) >=
          minWordsPerLine &&
        !lower(l).contains("javascript"))
    docs.select(Seq(col(idCol).as("doc_id"), col(textCol).as("__tx"),
      lns.as("__ln"), keptLines.as("__kept")) ++ kept: _*)
      .withColumn("__sc", aggregate(col("__kept"), lit(0L), (a, l) =>
        a + occurrences(l, ".") + occurrences(l, "!") +
          occurrences(l, "?")))
      .select(Seq(col("doc_id")) ++ kept ++ Seq(
        concat_ws("\n", col("__kept")).as("text"),
        size(col("__ln")).cast("long").as("n_lines"),
        size(col("__kept")).cast("long").as("n_kept"),
        col("__sc").as("n_sentences"),
        graft.plans.Opaque.column(
          coalesce(!lower(col("__tx")).contains("lorem ipsum") &&
            !col("__tx").contains("{") &&
            col("__sc") >= minSentences && size(col("__kept")) > 0,
            lit(false))).as("keep")): _*)
  }

  /** Gopher repetition battery (Rae et al. 2021 §A1.1, the half of
    * the quality filter [[gopherQuality]] doesn't cover): duplicate
    * line/paragraph fraction and char fraction, top-n-gram char
    * fraction (n=2..4), duplicated-n-gram char fraction (n=5..10).
    * Thresholds are the paper's; `pass` = survives all of them.
    *
    * Definitions (each mirrored term-for-term by a DuckDB oracle, so
    * they are part of the cross-engine contract):
    *   - words = lowercased whitespace tokens; `total_chars` = Σ word
    *     lengths; an n-gram's char length excludes the n−1 joiners.
    *   - dup_line_frac = (line occurrences − distinct lines) / lines;
    *     char fraction counts every occurrence AFTER the first.
    *   - top_ngram_frac = max over all grams of
    *     count × gramChars / total_chars (the max-product form needs
    *     no tie-break, unlike "chars of THE most frequent gram").
    *   - dup_ngram_frac = Σ over grams seen ≥2 times of
    *     count × gramChars / total_chars, capped at 1 (overlaps are
    *     not position-deduped — the standard reimplementation).
    *
    * Scale shape: pure per-row math — three native
    * [[graft.plans.WindowCounts]] evals per row (words at widths 1..10,
    * lines and paragraphs at width 1), zero gram strings, zero
    * interpreted folds, zero shuffles, zero windows; composes with any
    * scan. */
  def gopherRepetition(docs: DataFrame, idCol: String, textCol: String,
      keep: Seq[String] = Nil): DataFrame = {
    val topNs = Seq(2, 3, 4)
    val dupNs = Seq(5, 6, 7, 8, 9, 10)
    val topMax = Map(2 -> 0.20, 3 -> 0.18, 4 -> 0.16)
    val dupMax = Map(5 -> 0.15, 6 -> 0.14, 7 -> 0.13, 8 -> 0.12,
      9 -> 0.11, 10 -> 0.10)
    val kept = keep.map(col)
    def nonEmptyTrimmed(parts: Column) =
      filter(transform(parts, l => trim(l)), l => length(l) > 0)
    def counts(units: Column, widths: Seq[Int]) =
      graft.plans.WindowCounts.column(units, widths)
    // one staged column per kernel call: every metric below reads
    // fields of these, so each kernel runs once per row
    val staged = docs.select(Seq(col(idCol).as("doc_id"),
      counts(T.tokens(col(textCol), Tokenize.Whitespace), 1 to 10).as("__w"),
      counts(nonEmptyTrimmed(split(col(textCol), "\n")), Seq(1))(0).as("__ln"),
      counts(nonEmptyTrimmed(split(col(textCol), "\\n\\s*\\n")), Seq(1))(0)
        .as("__pg")) ++ kept: _*)
    def frac(num: Column, den: Column): Column =
      coalesce(round(num.cast("double") / nullif(den, lit(0L)), 4), lit(0.0))
    // duplicate-unit (line / paragraph) fraction + char fraction; the
    // duplicate chars count every occurrence AFTER the first
    def unitMetrics(units: Column, prefix: String): Seq[Column] = Seq(
      frac(units("windows") - units("distinct"), units("windows"))
        .as(s"dup_${prefix}_frac"),
      frac(units("chars") - units("distinct_chars"), units("chars"))
        .as(s"dup_${prefix}_char_frac"))
    def words(n: Int): Column = col("__w")(n - 1)
    val totalChars = words(1)("chars")
    // top-gram frac counts the MOST FREQUENT n-gram even when it
    // occurs once (Rae 2021's definition, as reimplemented by e.g.
    // DataTrove's find_top_duplicate) — short documents with one long
    // unique 4-gram are MEANT to trip the 0.16 threshold. Ties resolve
    // by max count·chars (deterministic, unlike insertion-order picks).
    val topCols = topNs.map(n =>
      frac(words(n)("top_chars"), totalChars).as(s"top_${n}gram_frac"))
    val dupCols = dupNs.map(n =>
      least(lit(1.0), frac(words(n)("dup_chars"), totalChars))
        .as(s"dup_${n}gram_frac"))
    val metrics = unitMetrics(col("__ln"), "line") ++
      unitMetrics(col("__pg"), "para") ++ topCols ++ dupCols
    val withM = staged.select(Seq(col("doc_id")) ++ kept ++ metrics: _*)
    val pass = Seq[Column](
      col("dup_line_frac") <= 0.30, col("dup_para_frac") <= 0.30,
      col("dup_line_char_frac") <= 0.20,
      col("dup_para_char_frac") <= 0.20) ++
      topNs.map(n => col(s"top_${n}gram_frac") <= topMax(n)) ++
      dupNs.map(n => col(s"dup_${n}gram_frac") <= dupMax(n))
    withM.withColumn("pass",
      graft.plans.Opaque.column(coalesce(pass.reduce(_ && _), lit(false))))
  }

  /** Per-slice unigram KL divergence against the whole corpus — the
    * distribution-shift diagnostic behind data-mixture tuning ("how
    * far is this source's token distribution from the blend?").
    * KL(P_slice || Q_corpus) = Σ_t P(t|s) · ln(P(t|s) / Q(t)), with
    * every term computed from exact integer counts and rounded to
    * 1e-9 fixed point before the sum — the q89 contract that makes
    * the aggregate integer-exact and reduction-order-free, so a
    * second engine reproduces it bit for bit.
    *
    * Scale shape: two explode → groupBy count aggregates (map-side
    * partials; only (slice, token, n) rows shuffle), one token-keyed
    * join co-partitioned on the token, slice totals and the corpus
    * total broadcast. No windows, no driver state. */
  def unigramDivergence(docs: DataFrame, textCol: String,
      sliceCol: String): DataFrame = {
    val toks = docs.select(col(sliceCol).as("slice"),
      explode(T.tokens(col(textCol))).as("t"))
    val bySlice = toks.groupBy(col("slice"), col("t"))
      .agg(count(lit(1)).as("c_st"))
    val byTok = toks.groupBy(col("t")).agg(count(lit(1)).as("c_t"))
    val nSlice = toks.groupBy(col("slice")).agg(count(lit(1)).as("n_s"))
    val total = toks.agg(count(lit(1)).as("n_all"))
    val term = (col("c_st").cast("double") / col("n_s")) *
      log((col("c_st").cast("double") * col("n_all")) /
        (col("c_t").cast("double") * col("n_s")))
    bySlice
      .join(byTok, Seq("t"))
      .join(broadcast(nSlice), Seq("slice"))
      .crossJoin(broadcast(total))
      .withColumn("__fp", round(term * 1e9, 0).cast("long"))
      .groupBy(col("slice"))
      .agg(count(lit(1)).as("n_distinct_tokens"),
        max(col("n_s")).as("n_tokens"),
        sum(col("__fp")).as("kl_fp"))
      .withColumn("kl", round(col("kl_fp").cast("double") / 1e9, 6))
  }

  /** `statsTable.bagOfWords.train`
    * (`plugins/feature_gen/stats_table_procedure.cc:992-1007`): per
    * token, co-occurrence counts with a boolean outcome across docs. */
  def bagOfWordsStats(docs: DataFrame, idCol: String, textCol: String,
      outcome: Column): DataFrame =
    docs.select(col(idCol).as("doc_id"), outcome.cast("long").as("__y"),
      explode(array_distinct(T.tokens(col(textCol)))).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("trials"), sum(col("__y")).as("successes"))

  /** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    * arXiv:2302.03169): score every raw document by how much more
    * likely its hashed-n-gram bag is under the TARGET corpus's
    * unigram distribution than under the raw corpus's own, then
    * resample with Gumbel-top-k. The standard way to skim a
    * target-domain-like subset (e.g. "wiki-like") out of a web-scale
    * crawl.
    *
    * Mechanics, 100 TB shape:
    *  1. Hash every token into `nBuckets` buckets (`bucketOf`; default
    *     xxhash64 — pass an md5 formulation for cross-engine tests).
    *  2. One groupBy(bucket).count pass per corpus — partial-aggregated
    *     map-side, ≤ nBuckets rows shuffle; the two count vectors are
    *     config-sized driver arrays (the word2vec-vocab pattern).
    *  3. Per-bucket importance weight ln(p_target(b)/p_raw(b)) with
    *     +0.5 additive smoothing, FIXED-POINT scaled to BIGINT
    *     micro-units (the q89 construction: per-doc sums become
    *     integer-exact and reduction-order-free).
    *  4. Per-doc log-weight = Σ fp(bucket(token)) — pure map-side array
    *     math against the broadcast-literal weight table, zero joins.
    *  5. Gumbel noise g = -ln(-ln(u)) with u drawn deterministically
    *     from md5(id·seed) — resampling without replacement reduces to
    *     a global top-k on (logw + g), which TakeOrdered handles
    *     without a single-partition sort.
    *
    * Returns (id, logw_fp, gumbel_fp, sel_fp) for every raw doc;
    * [[dsirSelect]] takes the top k. */
  def dsirScores(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, nBuckets: Int = 256, seed: Int = 42,
      bucketsOf: Option[Column => Column] = None): DataFrame = {
    require(nBuckets > 0 && nBuckets <= 65536,
      "nBuckets must be in (0, 65536] — the weight table rides in the plan")
    // token array → bucket array, ONE native hash eval per doc (a
    // per-token Column hash would pay an interpreted dispatch per
    // token — the q93 lesson). Default: xxhash64; pass e.g.
    // pmod over TokenHashesMd5x32 for the cross-engine md5 contract.
    val buckets: Column => Column = bucketsOf.getOrElse(toks =>
      transform(graft.plans.TokenHashes64.column(toks),
        h => pmod(h, lit(nBuckets.toLong)).cast("int")))
    def counts(df: DataFrame): Array[Long] = {
      val out = Array.fill(nBuckets)(0L)
      // bucketsOf must yield array<int> (the default does)
      df.select(buckets(T.tokens(col(textCol), Tokenize.Whitespace)).as("__bs"))
        .select(explode(col("__bs")).as("__b"))
        .groupBy(col("__b")).agg(count(lit(1)).as("__c"))
        .collect().foreach(r => out(r.getInt(0)) = r.getLong(1))
      out
    }
    // The raw side's per-doc bucket arrays feed TWO consumers (the
    // raw count aggregate and the scoring pass) — materialize them
    // once so the tokenize+hash pass (md5-per-token on the q101
    // contract) runs once, not per consumer. ~4 bytes/token at rest,
    // far cheaper than a second digest pass over the corpus.
    val rawB = graft.core.DfOps.cut(raw.select(col(idCol).as("id"),
      buckets(T.tokens(col(textCol), Tokenize.Whitespace)).as("__b")))
    val rc = {
      val out = Array.fill(nBuckets)(0L)
      rawB.select(explode(col("__b")).as("__bk"))
        .groupBy(col("__bk")).agg(count(lit(1)).as("__c"))
        .collect().foreach(r => out(r.getInt(0)) = r.getLong(1))
      out
    }
    val tc = counts(target)
    dsirScoreFrame(rawB, tc, rc, nBuckets, seed)
  }

  /** [[dsirScores]] when the target IS a predicate over the raw corpus
    * (the common "target = the English slice" shape): ONE
    * tokenize+hash pass computes every doc's buckets plus its target
    * flag, ONE aggregation job yields both count vectors, and scoring
    * reads the same materialized bucket frame — versus three full
    * digest passes and two count jobs on the two-dataset path. Values
    * are identical: the per-bucket counts, fixed-point weights and
    * Gumbel draws are the same arithmetic in the same order. */
  def dsirScoresFiltered(raw: DataFrame, targetPred: Column,
      idCol: String, textCol: String, nBuckets: Int = 256, seed: Int = 42,
      bucketsOf: Option[Column => Column] = None): DataFrame = {
    require(nBuckets > 0 && nBuckets <= 65536,
      "nBuckets must be in (0, 65536] — the weight table rides in the plan")
    val buckets: Column => Column = bucketsOf.getOrElse(toks =>
      transform(graft.plans.TokenHashes64.column(toks),
        h => pmod(h, lit(nBuckets.toLong)).cast("int")))
    val rawB = graft.core.DfOps.cut(raw.select(col(idCol).as("id"),
      coalesce(targetPred, lit(false)).as("__t"),
      buckets(T.tokens(col(textCol), Tokenize.Whitespace)).as("__b")))
    val tc = Array.fill(nBuckets)(0L)
    val rc = Array.fill(nBuckets)(0L)
    rawB.select(col("__t"), explode(col("__b")).as("__bk"))
      .groupBy(col("__bk"))
      .agg(count(lit(1)).as("__cr"),
        sum(when(col("__t"), 1L).otherwise(0L)).as("__ct"))
      .collect().foreach { r =>
        rc(r.getInt(0)) = r.getLong(1); tc(r.getInt(0)) = r.getLong(2)
      }
    dsirScoreFrame(rawB.drop("__t"), tc, rc, nBuckets, seed)
  }

  /** Shared scoring tail of the DSIR variants: fixed-point per-bucket
    * log-ratio weights from the two count vectors, applied map-side to
    * the materialized (id, __b) frame, plus the deterministic md5
    * Gumbel draw. KEEP the weight formula textually in sync with the
    * q101 oracle SQL. */
  private def dsirScoreFrame(rawB: DataFrame, tc: Array[Long],
      rc: Array[Long], nBuckets: Int, seed: Int): DataFrame = {
    val (tN, rN) = (tc.sum.toDouble, rc.sum.toDouble)
    val fp: Seq[Long] = (0 until nBuckets).map { b =>
      math.round((math.log((tc(b) + 0.5) / (tN + 0.5 * nBuckets)) -
        math.log((rc(b) + 0.5) / (rN + 0.5 * nBuckets))) * 1e6)
    }
    val u = (hexVal(md5(concat(col("id").cast("string"),
      lit(s"-$seed")).cast("binary"))) + lit(0.5)) / lit(4294967296.0)
    rawB
      .withColumn("logw_fp", aggregate(col("__b"), lit(0L),
        (acc, b) => acc + element_at(typedLit(fp), b + 1)))
      .withColumn("gumbel_fp",
        round(-log(-log(u)) * 1e6, 0).cast("long"))
      .select(col("id"), col("logw_fp"), col("gumbel_fp"),
        (col("logw_fp") + col("gumbel_fp")).as("sel_fp"))
  }

  /** Gumbel-top-k selection over [[dsirScores]] — equivalent to
    * sampling k docs without replacement with probability ∝ the
    * importance weight. orderBy+limit lowers to TakeOrdered: per-
    * partition top-k then a driver merge of k·nPart rows — no global
    * sort, no single-partition window. */
  def dsirSelect(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, k: Int, nBuckets: Int = 256, seed: Int = 42,
      bucketsOf: Option[Column => Column] = None): DataFrame =
    dsirScores(raw, target, idCol, textCol, nBuckets, seed, bucketsOf)
      .orderBy(col("sel_fp").desc, col("id")).limit(k)

  /** [[dsirSelect]] over [[dsirScoresFiltered]] — same Gumbel-top-k. */
  def dsirSelectFiltered(raw: DataFrame, targetPred: Column,
      idCol: String, textCol: String, k: Int, nBuckets: Int = 256,
      seed: Int = 42,
      bucketsOf: Option[Column => Column] = None): DataFrame =
    dsirScoresFiltered(raw, targetPred, idCol, textCol, nBuckets, seed,
      bucketsOf)
      .orderBy(col("sel_fp").desc, col("id")).limit(k)

  /** First 8 hex digits of an md5 hex string as a number in [0, 2^32)
    * — the q83 cross-engine digit idiom, shared by the Gumbel draw. */
  private def hexVal(md5Hex: Column): Column =
    (1 to 8).map { k =>
      (instr(lit("0123456789abcdef"), substring(md5Hex, k, 1)) - 1) *
        lit(math.pow(16, 8 - k).toLong)
    }.reduce(_ + _).cast("double")

  /** WITHIN-document repeated-line removal (RefinedWeb-style intra-doc
    * repetition cleanup): keep the FIRST occurrence of every line,
    * preserve document order, rejoin with \n. Complements [[lineDedup]]
    * (which dedups lines ACROSS the corpus and needs a shuffle): this
    * one is pure per-row array math — `array_position` gives the index
    * of a line's first occurrence, the index-aware `filter` keeps only
    * positions that ARE that first occurrence. Zero shuffle, codegen'd
    * built-ins only, so it scales with the scan. */
  def intraDocLineDedup(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    // land the split in its own projection so the filter lambda
    // captures a plain attribute, not the split expression (HOFs
    // re-evaluate captured subexpressions per element — see the
    // evaluation-model note in TextFunctions.tokenHashes)
    val lines = docs.withColumn("__lines", split(col(textCol), "\n"))
    val kept = filter(col("__lines"),
      (x, i) => array_position(col("__lines"), x) === (i + lit(1)).cast("long"))
    lines.withColumn(textCol, array_join(kept, "\n")).drop("__lines")
  }
}
