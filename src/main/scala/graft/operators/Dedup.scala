package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.DfOps
import graft.functions.{TextFunctions => T, VectorFunctions => V}

/** Deduplication operators for large text corpora.
  *
  * The reference has only exact row identity (rowName) — dedup is an
  * LLM-pipeline extension of this engine. All variants follow the same
  * scale shape: per-row signature (map-side, codegen) → shuffle on the
  * signature/bucket key → per-bucket verification. No driver-side
  * state, no collect; candidate generation is O(rows·bands) and the
  * only quadratic work is within LSH buckets (bounded below).
  *
  * Every bucketed pair finder — [[minHashPairs]], [[hammingPairs]]
  * and [[simHashPairs]], [[embeddingPairs]], [[semanticDedup]] and
  * [[dedupAgainstIndex]] — is one shape, run by one private helper:
  * signature → pin → bucket join → verify → cut → release. The
  * signature frame feeds several consumers (the hot-bucket count, both
  * join sides, the verify joins), so it is persisted MEMORY_AND_DISK
  * and counted once; the pair plan is built over that pin, its result
  * is materialized with [[graft.core.DfOps.cut]], and the pin is
  * unpersisted before the call returns, also when the pair stage
  * throws. Nothing cached survives the call.
  *
  * Every pair finder is therefore EAGER: the call itself runs Spark
  * jobs (the pin's count, then the cut), even if the returned frame is
  * never consumed, and that frame's lineage is cut (a
  * `localCheckpoint`, not recoverable on executor loss unless the
  * session conf `graft.checkpointDir` is set). Two entry points pay one
  * job more than the shape alone: [[semanticDedup]] counts its cluster
  * assignment before the pair stage reads it, and
  * [[minHashDedupAgainst]] pins the band table of the existing corpus
  * (it is [[buildIndex]] → [[dedupAgainstIndex]] → `release()`).
  * Plan-only inspection uses the lazy `private[graft]` pair-plan
  * functions the helper runs (`minHashPairPlan`, `hammingPairPlan`,
  * `embeddingPairPlan`).
  */
object Dedup {

  /** Exact dedup on a normalized content hash. Keeps the row with the
    * smallest `idCol` per duplicate group, via `min_by` aggregation
    * rather than a window: min_by is partial-aggregatable, so each map
    * task pre-collapses its duplicates and the shuffle carries at most
    * one row per (hash, partition) — the window formulation shuffles
    * EVERY row then sorts. Hot keys (mass-duplicated boilerplate)
    * collapse map-side for the same reason. */
  def exact(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val allCols = struct(docs.columns.toSeq.map(col): _*)
    docs.groupBy(T.normalizedHash(col(textCol)).as("__h"))
      .agg(min_by(allCols, col(idCol)).as("__row"))
      .select(docs.columns.toSeq.map(c => col(s"__row.$c").as(c)): _*)
  }

  /** Degenerate-bucket guard shared by every LSH variant: drop rows
    * whose bucket key holds more than `cap` rows. Counts via
    * `groupBy(keys).count` — partial-aggregatable, so each map task
    * pre-counts and only tiny (key, n) rows cross the shuffle — then
    * broadcast-anti-joins the over-cap keys back as a filter. The
    * window formulation (`count over partitionBy(keys)`) this replaces
    * shuffled EVERY exploded row of a hot bucket into one task just to
    * count it: the quadratic pairing was prevented but a 100M-row hot
    * bucket still made one straggler task at scale. Hot keys number at
    * most totalRows/cap and in practice a handful (empty docs, shared
    * boilerplate), so the broadcast side stays tiny. */
  private def dropHotGroups(df: DataFrame, keyCols: Seq[String],
      cap: Int): DataFrame = {
    val hot = df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__n")).filter(col("__n") > cap)
      .select(keyCols.map(col): _*)
    df.join(broadcast(hot), keyCols, "left_anti")
  }

  /** The one pair-finder shape (see [[Dedup]]): pin `signatures`, build
    * `pairPlan` over the pin, cut its result, release the pin. The
    * count materializes the pin NOW: the consumers of one action can
    * run concurrently, and each would recompute an unfilled cache. */
  private def pinned(signatures: DataFrame)(
      pairPlan: DataFrame => DataFrame): DataFrame = {
    val pin = signatures.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      pin.count()
      DfOps.cut(pairPlan(pin))
    } finally pin.unpersist(false)
  }

  /** Exact substring-span dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): drop every document
    * that shares at least one run of `spanTokens` consecutive tokens
    * with a smaller-id document. Catches boilerplate and quotation
    * overlap that whole-document similarity (MinHash) misses, because
    * a long shared span in otherwise-different documents barely moves
    * Jaccard.
    *
    * Scale shape — deliberately NOT a pairwise join: each doc explodes
    * to its rolling span hashes, `groupBy(span).min(id)` finds the
    * keeper per span (partial-aggregatable — map tasks pre-collapse,
    * only (span, minId) rows shuffle), and one join back marks every
    * doc holding a span whose keeper is smaller. Work is linear in
    * total spans; a boilerplate span shared by 100M docs is ONE row on
    * the build side, where the pairwise formulation would square. Docs
    * shorter than `spanTokens` fall back to a whole-doc span (exact
    * short-dup semantics, mirroring shingle behavior). */
  def spanDedup(docs: DataFrame, textCol: String, idCol: String,
      spanTokens: Int = 8): DataFrame =
    keeperDedup(docs, docs.select(col(idCol).as("__id"),
      explode(T.shingleHashes(col(textCol), spanTokens)).as("__g")), idCol)

  /** Shared keeper rule behind spanDedup/winnowDedup: given exploded
    * (__id, __g) key rows, drop every doc holding a key whose smallest
    * holder is a different doc. `groupBy(key).min(id)` partial-aggs
    * map-side; the join back shuffles on the key; `distinct` dropped
    * ids then one anti-join — linear in keys, never pairwise. */
  def keeperDedup(docs: DataFrame, keyed: DataFrame,
      idCol: String): DataFrame = {
    val keeper = keyed.groupBy(col("__g")).agg(min(col("__id")).as("__keep"))
    val dropped = keyed.join(keeper, Seq("__g"))
      .filter(col("__keep") < col("__id"))
      .select(col("__id").as(idCol)).distinct()
    docs.join(dropped, Seq(idCol), "left_anti")
  }

  /** Substring dedup via winnowing fingerprints (Schleimer, Wilkerson
    * & Aiken 2003, "Winnowing: Local Algorithms for Document
    * Fingerprinting" — the MOSS algorithm): hash every k-token gram,
    * keep only the MINIMUM hash of each w-gram sliding window, and
    * apply the same keeper rule as [[spanDedup]] to the selected
    * fingerprints. The winnowing guarantee: any shared token run of at
    * least w+k-1 tokens shares at least one selected fingerprint — so
    * this catches the same long-span overlaps as spanDedup while
    * indexing ~2/(w+1) of the grams, the difference between shuffling
    * 100 TB of span hashes and a few TB of fingerprints. */
  def winnowDedup(docs: DataFrame, textCol: String, idCol: String,
      k: Int = 3, w: Int = 4): DataFrame =
    // One native eval per doc (hash → grams → window minima → distinct)
    // — the staged Column chain it replaces paid an interpreted lambda
    // dispatch per token and a slice allocation per window position,
    // and was the bench's slowest pipeline stage. The Column twins
    // (tokenHashes/positionalGramHashes/winnowSelect) remain as the
    // differential-test oracle.
    keeperDedup(docs, docs
      .select(col(idCol).as("__id"),
        explode(graft.plans.WinnowPrints.column(
          graft.plans.TokenHashes64.column(T.tokens(col(textCol))), k, w))
          .as("__g")),
      idCol)

  /** Candidate near-duplicate pairs via MinHash-LSH banding.
    *
    * rows → minhash signature (k = bands·rowsPerBand) → explode band
    * keys → self-join on (band, key) → distinct (idA < idB) pairs,
    * verified with true n-gram Jaccard ≥ threshold.
    *
    * Scale: the exploded table is rows×bands; the self-join shuffles
    * on the band key. `maxBucket` drops degenerate buckets (e.g. empty
    * docs all hashing together) before the quadratic within-bucket
    * pairing — the standard guard that keeps worst-case work
    * O(bucketCap²·buckets). Eager, like every pair finder: see
    * [[Dedup]]. */
  def minHashPairs(docs: DataFrame, textCol: String, idCol: String,
      bands: Int = 8, rowsPerBand: Int = 4, shingleN: Int = 3,
      threshold: Double = 0.7, maxBucket: Int = 1000): DataFrame =
    pinned(minHashSignatures(docs, textCol, idCol, shingleN, bands * rowsPerBand))(
      minHashPairPlan(_, bands, rowsPerBand, threshold, maxBucket))

  /** The lazy pair stage of [[minHashPairs]] over a signature frame:
    * band candidates, deduplicated across bands BEFORE the expensive
    * verification (a pair colliding in all 8 bands would otherwise be
    * verified 8 times), then the prefilter and exact Jaccard. */
  private[graft] def minHashPairPlan(sigs: DataFrame, bands: Int,
      rowsPerBand: Int, threshold: Double, maxBucket: Int): DataFrame = {
    val keys = bandKeys(sigs, bands, rowsPerBand, maxBucket)
    verifyJaccard(bandCandidates(keys, keys).filter(col("id_a") < col("id_b")),
      sigs, sigs, bands * rowsPerBand, threshold)
  }

  /** MinHash signature stage (map-side, one pass per doc): (id, sh, sig)
    * — the distinct HASHED shingles (longs, not strings: Jaccard over
    * the hash sets is equivalent up to ~2^-64 collisions at ~6× less
    * memory) and the native k-component minhash signature. */
  private[graft] def minHashSignatures(docs: DataFrame, textCol: String,
      idCol: String, shingleN: Int, k: Int): DataFrame =
    docs.select(col(idCol).as("id"),
      T.shingleHashes(col(textCol), shingleN).as("sh"))
      .withColumn("sig", T.minHashFromHashes(col("sh"), k))

  /** Band-key stage: the (id, band, key) rows of a signature frame,
    * hot buckets dropped by [[dropHotGroups]]. */
  private[graft] def bandKeys(sigs: DataFrame, bands: Int, rowsPerBand: Int,
      maxBucket: Int): DataFrame =
    dropHotGroups(sigs
      .select(col("id"), explode(T.minHashBands(col("sig"), bands, rowsPerBand)).as("b"))
      .select(col("id"), col("b.band").as("band"), col("b.key").as("key")),
      Seq("band", "key"), maxBucket)

  /** Distinct (id_a, id_b) pairs whose rows share a band key; `id_a`
    * comes from `keysA`, `id_b` from `keysB`. */
  private[graft] def bandCandidates(keysA: DataFrame,
      keysB: DataFrame): DataFrame =
    keysA.select(col("band"), col("key"), col("id").as("id_a"))
      .join(keysB.select(col("band"), col("key"), col("id").as("id_b")),
        Seq("band", "key"))
      .select(col("id_a"), col("id_b")).distinct()

  /** Cheap prefilter on the minhash-ESTIMATED Jaccard (fraction of
    * agreeing signature components, std error ~1/√k): signatures are k
    * longs vs the full hashed shingle arrays, so this join moves far
    * less data and discards hopeless band collisions before the exact
    * set arithmetic. Margin 3/√k keeps recall ≈ 1. */
  private[graft] def signaturePrefilter(cand: DataFrame, sigsA: DataFrame,
      sigsB: DataFrame, k: Int, threshold: Double): DataFrame = {
    val margin = 3.0 / math.sqrt(k.toDouble)
    cand
      .join(sigsA.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigsB.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .withColumn("est",
        aggregate(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1.0).otherwise(0.0)),
          lit(0.0), (acc, x) => acc + x) / k)
      .filter(col("est") >= threshold - margin)
      .select(col("id_a"), col("id_b"))
  }

  /** Verify stage: [[signaturePrefilter]], then exact shingle-Jaccard
    * verification of the survivors → (id_a, id_b, jaccard). */
  private def verifyJaccard(cand: DataFrame, sigsA: DataFrame,
      sigsB: DataFrame, k: Int, threshold: Double): DataFrame =
    signaturePrefilter(cand, sigsA, sigsB, k, threshold)
      .join(sigsA.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sigsB.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        T.jaccardArrays(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** MinHash-LSH dedup: drop every doc that has a verified near-dup
    * with a smaller id (single-link to the smallest id — one LSH pass,
    * not full transitive closure; documented divergence from exact
    * clustering). */
  def minHashDedup(docs: DataFrame, textCol: String, idCol: String,
      bands: Int = 8, rowsPerBand: Int = 4, shingleN: Int = 3,
      threshold: Double = 0.7, maxBucket: Int = 1000): DataFrame = {
    val dups = minHashPairs(docs, textCol, idCol, bands, rowsPerBand,
      shingleN, threshold, maxBucket)
      .select(col("id_b").as("__dup_id")).distinct()
    docs.join(dups, docs(idCol) === col("__dup_id"), "left_anti")
  }

  /** Incremental cross-corpus dedup: drop NEW docs that near-duplicate
    * anything in the EXISTING corpus — the daily-ingest-vs-kept-corpus
    * shape. Same banded LSH as `minHashPairs` but the candidate join is
    * new×existing (never existing×existing: the kept corpus is already
    * deduped and only pays one signature pass), and only the new side
    * is filtered. One-shot use of [[buildIndex]] →
    * [[dedupAgainstIndex]] → `release()`; build the index yourself when
    * many batches hit the same corpus. */
  def minHashDedupAgainst(newDocs: DataFrame, existing: DataFrame,
      textCol: String, idCol: String,
      bands: Int = 8, rowsPerBand: Int = 4, shingleN: Int = 3,
      threshold: Double = 0.7, maxBucket: Int = 1000): DataFrame = {
    val index = buildIndex(existing, textCol, idCol, bands, rowsPerBand,
      shingleN, maxBucket)
    // dedupAgainstIndex is eager (its dup set is cut), so the result
    // never reads the index caches released here
    try dedupAgainstIndex(newDocs, index, textCol, idCol, threshold)
    finally index.release()
  }

  /** A reusable LSH index over a kept corpus: signatures + banded
    * bucket table, both persisted. Build once, dedup many, `release()`
    * when done — the corpus is shingled once however many batches
    * (daily ingest, streaming) it gates. At 100 TB the band table is
    * the thing to keep hot: it is the only corpus-derived input to each
    * batch's candidate join. */
  final case class MinHashIndex private[operators] (
      base: DataFrame, bandTable: DataFrame,
      bands: Int, rowsPerBand: Int, shingleN: Int, maxBucket: Int) {
    def release(): Unit = {
      base.unpersist(false)
      bandTable.unpersist(false)
    }
  }

  def buildIndex(existing: DataFrame, textCol: String, idCol: String,
      bands: Int = 8, rowsPerBand: Int = 4, shingleN: Int = 3,
      maxBucket: Int = 1000): MinHashIndex = {
    val base = minHashSignatures(existing, textCol, idCol, shingleN,
      bands * rowsPerBand).persist(StorageLevel.MEMORY_AND_DISK)
    base.count()
    val bandTable = bandKeys(base, bands, rowsPerBand, maxBucket)
      .persist(StorageLevel.MEMORY_AND_DISK)
    bandTable.count()
    MinHashIndex(base, bandTable, bands, rowsPerBand, shingleN, maxBucket)
  }

  /** Drop from `newDocs` everything that near-duplicates the indexed
    * corpus. Same stages as [[minHashPairs]]: band-collision
    * candidates (new × indexed) → signature-estimate prefilter (margin
    * 3/√k) → exact shingle-Jaccard verify → anti join of the dup ids.
    * Eager, like every pair finder: see [[Dedup]]. */
  def dedupAgainstIndex(newDocs: DataFrame, index: MinHashIndex,
      textCol: String, idCol: String,
      threshold: Double = 0.7): DataFrame = {
    val k = index.bands * index.rowsPerBand
    val dupNew = pinned(minHashSignatures(newDocs, textCol, idCol,
        index.shingleN, k)) { sigs =>
      val keys = bandKeys(sigs, index.bands, index.rowsPerBand, index.maxBucket)
      verifyJaccard(bandCandidates(keys, index.bandTable), sigs, index.base,
        k, threshold)
        .select(col("id_a").as("__dup_id")).distinct()
    }
    // no broadcast hint: the dup set is batch-sized in the worst case
    // (a fully-duplicated batch); AQE picks broadcast when it is small
    newDocs.join(dupNew, newDocs(idCol) === col("__dup_id"), "left_anti")
  }

  /** MinHash-LSH dedup with TRANSITIVE closure: a chain A~B~C (A and C
    * not directly similar) collapses to one keeper, unlike the
    * single-link `minHashDedup`. Connected components of the
    * verified-pairs graph by [[connectedComponentsStar]] (Kiveris et
    * al. large-star/small-star: O(log n) rounds regardless of how ids
    * are laid out along the graph, where [[connectedComponents]]'
    * pointer jumping degrades to O(diameter) on value-scrambled ids) —
    * the graph is orders of magnitude smaller than the corpus (only
    * near-dup rows appear). A [[graft.core.DfOps.cut]] bounds the
    * growing lineage each round, so the session conf
    * `graft.checkpointDir` (HDFS/S3/any shared FS) switches the closure
    * loop to RELIABLE checkpoints that survive executor loss — the
    * right mode for the 100 TB target. */
  def minHashDedupTransitive(docs: DataFrame, textCol: String, idCol: String,
      bands: Int = 8, rowsPerBand: Int = 4, shingleN: Int = 3,
      threshold: Double = 0.7, maxIter: Int = 20,
      maxBucket: Int = 1000): DataFrame = {
    val pairs = minHashPairs(docs, textCol, idCol, bands, rowsPerBand,
      shingleN, threshold, maxBucket).select(col("id_a"), col("id_b"))
    // minHashPairs emits distinct verified (id_a < id_b) pairs, so
    // star contraction can skip its canonicalize-distinct shuffle
    val (labels, _) = connectedComponentsStar(pairs, maxIter,
      pairsCanonical = true)
    val dupIds = labels.filter(col("label") =!= col("id"))
      .select(col("id").as("__dup_id"))
    docs.join(dupIds, docs(idCol) === col("__dup_id"), "left_anti")
  }

  /** Connected components over an (id_a, id_b) edge list: min-label
    * propagation PLUS pointer jumping (label ← label(label), the
    * classic path-doubling trick). Each round is two shuffles on the
    * node id over the (small) near-dup graph, and the label set is
    * closed under both steps (labels are always existing node ids,
    * monotonically non-increasing), so pointer jumps always resolve.
    *
    * CONVERGENCE CAVEAT (found round 14): path doubling collapses the
    * LABEL TREES, and those only get deep when node ids decrease along
    * graph paths — an ORDERED chain (ids 0-1-2-…) closes in ~10
    * rounds (ScaleSpec pins this), but when ids are VALUE-SCRAMBLED
    * relative to adjacency (a multiplicative 332-cycle mod 997 —
    * OperatorsSpec's random graph; or real corpora whose near-dup
    * chains carry hash-assigned ids) every label tree stays shallow,
    * the min still travels ONE HOP per round, and convergence
    * degrades to O(component diameter): measured NOT converged after
    * 50 rounds where [[connectedComponentsStar]] closes in 8. Star
    * contraction is therefore what minHashDedupTransitive runs; this
    * formulation remains as the reference the star specs compare
    * against, and for ordered-id graphs where its 2 shuffles/round are
    * cheaper. Returns (labels(id, label), rounds). */
  def connectedComponents(pairs: DataFrame,
      maxIter: Int = 20): (DataFrame, Int) = {
    val edges = DfOps.cut(pairs
      .union(pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .distinct())
    var labels = DfOps.cut(edges.select(col("id_a").as("id")).distinct()
      .withColumn("label", col("id")))
    var converged = edges.isEmpty
    var i = 0
    while (!converged && i < maxIter) {
      // one-hop neighbor minimum
      val viaNbr = edges
        .join(labels.select(col("id").as("id_b"), col("label").as("nbr_label")),
          Seq("id_b"))
        .groupBy(col("id_a").as("id")).agg(min(col("nbr_label")).as("nbr_label"))
      val l1 = labels.join(viaNbr, Seq("id"), "left")
        .select(col("id"), col("label").as("__old"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"))
      // pointer jump: label ← label(label); labels only ever shrink,
      // so the parent's label is ≤ ours and the join always lands.
      // The change flag rides the same select, so convergence detection
      // is a limit-1 scan of the frame the checkpoint just materialized
      // — no extra join-against-old-labels job per round.
      val parents = l1.select(col("id").as("label"), col("label").as("__plabel"))
      val updated = DfOps.cut(l1.join(parents, Seq("label"), "left")
        .select(col("id"),
          coalesce(col("__plabel"), col("label")).as("label"),
          (coalesce(col("__plabel"), col("label")) =!= col("__old")).as("__chg")))
      converged = updated.filter(col("__chg")).isEmpty
      labels = updated.select(col("id"), col("label"))
      i += 1
    }
    (labels, i)
  }

  /** Connected components via ALTERNATING STAR CONTRACTION — the
    * large-star/small-star algorithm of Kiveris, Lattanzi, Mirrokni,
    * Rastogi, Vassilvitskii, "Connected Components in MapReduce and
    * Beyond" (SoCC'14). Each round:
    *
    *  - LARGE-STAR: every node u connects each strictly-LARGER
    *    neighbor to m(u) = min(Γ(u) ∪ {u}) — long tails collapse
    *    toward small ids in parallel;
    *  - SMALL-STAR: every node u connects itself and each
    *    smaller-or-equal neighbor to the minimum among them — local
    *    stars re-root onto their true minimum.
    *
    * Both operations preserve connectivity and only ever lower the ids
    * a node touches, so the fixpoint is a forest of stars rooted at
    * each component's MINIMUM id — exactly [[connectedComponents]]'
    * labels, bit-for-bit (OperatorsSpec proves equality on chain /
    * star / mixed graphs, and against a union-find oracle on the
    * scrambled cycle where jump does not converge). Convergence is
    * O(log n) rounds REGARDLESS of id layout — the property that makes
    * minHashDedupTransitive run it:
    * on an ordered 500-link chain it matches pointer jumping (10 vs 9
    * rounds; ours already path-doubles), and on a value-scrambled
    * 332-cycle it closes in 8 rounds where pointer jumping is still
    * wrong after 50 (labels only travel one hop per round there — see
    * [[connectedComponents]]'s caveat). The trade is ~4 shuffles/round
    * vs jump's 2, against never carrying a separate label frame
    * (state lives IN the shrinking edge set). Returns (labels(id,
    * label), rounds). */
  def connectedComponentsStar(pairs: DataFrame, maxIter: Int = 50,
      pairsCanonical: Boolean = false): (DataFrame, Int) = {
    // canonical (larger u, smaller v) edges, self-loops dropped.
    // `pairsCanonical` skips the distinct shuffle when the caller
    // guarantees unique (id_a < id_b) pairs — true for minHashPairs
    // output (its candidate set is distinct before verification).
    val e0raw = pairs
      .select(greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .filter(col("u") =!= col("v"))
    val e0 = if (pairsCanonical) e0raw else e0raw.distinct()
    var edges = DfOps.cut(e0)
    var i = 0
    var done = edges.isEmpty
    while (!done && i < maxIter) {
      // LARGE-STAR over the symmetric view: for each node a,
      // m = min(neighbors ∪ {a}); every neighbor b > a re-attaches to m
      val sym = edges.select(col("u").as("a"), col("v").as("b"))
        .union(edges.select(col("v").as("a"), col("u").as("b")))
      val mins = sym.groupBy(col("a"))
        .agg(min(col("b")).as("mn"))
        .select(col("a"), least(col("a"), col("mn")).as("m"))
      val large = sym.join(mins, Seq("a"))
        .filter(col("b") > col("a"))
        .select(col("b").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct()
      // SMALL-STAR: large's edges are already (larger u, smaller v);
      // per node u, attach u and every smaller neighbor to their min
      val smins = large.groupBy(col("u")).agg(min(col("v")).as("m"))
      val withMin = large.join(smins, Seq("u"))
      val rewired = withMin.filter(col("v") =!= col("m"))
          .select(col("v").as("u"), col("m").as("v"))
        .union(withMin.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v")).distinct()
      val next = DfOps.cut(rewired)
      // fixpoint test: `next` IS a star forest — every child u has
      // exactly one parent edge and no parent v is itself a child.
      // Equivalent to the set-equality check it replaces (both star
      // ops map a star forest to itself — large-star re-emits each
      // (child, root) unchanged because the root is every child's
      // minimum neighbor, and small-star re-roots each star onto the
      // root it already has; and the algorithm's only fixpoints are
      // star forests, Kiveris et al. SoCC'14 §3), but ONE aggregation
      // job over the shrinking edge set instead of count() + a
      // two-sided except() shuffle per round.
      val ends = next.select(col("u").as("n"), lit(1L).as("cu"),
          lit(0L).as("cv"))
        .union(next.select(col("v").as("n"), lit(0L).as("cu"),
          lit(1L).as("cv")))
        .groupBy(col("n"))
        .agg(sum(col("cu")).as("nu"), sum(col("cv")).as("nv"))
      done = ends.filter(col("nu") > 1 ||
        (col("nu") > 0 && col("nv") > 0)).isEmpty
      edges = next
      i += 1
    }
    // converged: every non-root has exactly one (u, root) edge (a
    // maxIter cutoff can leave several — min keeps labels well-defined
    // and monotone); roots label themselves
    val nonRoots = edges.groupBy(col("u").as("id"))
      .agg(min(col("v")).as("label"))
    val roots = edges.select(col("v").as("id")).distinct()
      .join(nonRoots.select(col("id")), Seq("id"), "left_anti")
      .withColumn("label", col("id"))
    (nonRoots.union(roots), i)
  }

  /** SimHash near-dup pairs: 64-bit fingerprints, candidates =
    * identical fingerprint (hamming 0) or matching on any of 4
    * 16-bit chunks then hamming ≤ maxHamming (standard simhash
    * chunk-index trick: any pair within hamming 3 of 64 bits must
    * agree on at least one of 4 chunks). Eager, like every pair
    * finder: see [[Dedup]]. */
  def simHashPairs(docs: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame =
    hammingPairs(docs.select(col(idCol).as("id"),
      T.simHash64(col(textCol)).as("sim")), "sim", "id",
      maxHamming, maxBucket)

  /** Near-dup pairs among 64-bit fingerprints by hamming distance —
    * the candidate trick shared by text simhash and image dHash: any
    * pair within hamming `maxHamming` ≤ 3 of 64 bits must agree on at
    * least one of 4 16-bit chunks, so candidates = chunk-equality
    * join, verified with the exact popcount. The pin holds the
    * fingerprints (simhash/dHash: tokenize + per-token hash + 64
    * accumulators per row), read by the hot-chunk count and both join
    * sides. Eager, like every pair finder: see [[Dedup]]. */
  def hammingPairs(items: DataFrame, fingerprintCol: String, idCol: String,
      maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame =
    pinned(items.select(col(idCol).as("id"),
      col(fingerprintCol).as("sim")).filter(col("sim").isNotNull))(
      hammingPairPlan(_, maxHamming, maxBucket))

  /** The lazy pair stage of [[hammingPairs]] over an (id, sim) frame. */
  private[graft] def hammingPairPlan(fingerprints: DataFrame,
      maxHamming: Int, maxBucket: Int): DataFrame = {
    val chunked0 = fingerprints.withColumn("chunk", explode(array(
      (0 until 4).map(i => struct(lit(i).as("i"),
        shiftrightunsigned(col("sim"), i * 16).bitwiseAND(lit(0xFFFFL)).as("v"))): _*)))
    // Degenerate-bucket guard (same as minHashPairs): a hot chunk value
    // — empty docs, shared boilerplate — would otherwise make the
    // within-bucket pairing quadratic in one task.
    val chunked = dropHotGroups(chunked0, Seq("chunk"), maxBucket)
    val a = chunked.select(col("chunk"), col("id").as("id_a"), col("sim").as("sim_a"))
    val b = chunked.select(col("chunk"), col("id").as("id_b"), col("sim").as("sim_b"))
    a.join(b, Seq("chunk")).filter(col("id_a") < col("id_b"))
      .withColumn("hamming", T.hamming64(col("sim_a"), col("sim_b")))
      .filter(col("hamming") <= maxHamming)
      .groupBy(col("id_a"), col("id_b")).agg(min(col("hamming")).as("hamming"))
  }

  /** Exact dedup of an incoming batch AGAINST a kept corpus with a
    * Bloom-filter prefilter: the classic two-phase shape for "drop
    * anything we already have" at corpus scale.
    *
    * Phase 1 (no shuffle of the incoming side): a Bloom filter over the
    * corpus's normalized-text hashes is built with one distributed
    * aggregate (partial sketches merge map-side; only the ~MB sketch
    * reaches the driver) and applied as a broadcast literal in a
    * map-side filter. Bloom filters have NO false negatives, so every
    * row the filter rejects is definitely novel and is kept without
    * ever joining. Phase 2: only the "maybe present" rows — true
    * duplicates plus an `fpp` fraction of the novel rows — pay the
    * anti-join against the corpus. At 100 TB with a mostly-novel feed
    * this turns a full-corpus shuffle join into a map-side scan plus a
    * join on a few percent of the batch. (For corpora beyond ~1B
    * distinct hashes, shard the sketch by hash prefix — the same
    * construction per shard.)
    *
    * Matching is on the whitespace-normalized token stream (same
    * normalization as `exact`), via xxhash64 — collisions at ~2^-64
    * are the engine-wide accepted tolerance. Output is exactly the
    * anti-join's: incoming rows whose normalized text is absent from
    * the corpus. */
  def bloomDedupAgainst(incoming: DataFrame, corpus: DataFrame,
      textCol: String, fpp: Double = 0.01,
      expectedItems: Long = -1L): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.types.BinaryType
    def normHash(c: org.apache.spark.sql.Column) =
      xxhash64(concat_ws(" ", T.tokens(c)))
    val n = if (expectedItems > 0) expectedItems else corpus.count()
    val bloom = corpus.select(normHash(col(textCol)).as("__h"))
      .stat.bloomFilter("__h", math.max(n, 1L), fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    val mightContain = GraftColumnBridge.column(BloomFilterMightContain(
      Literal(bos.toByteArray, BinaryType),
      GraftColumnBridge.expression(normHash(col(textCol)))))
    val flagged = incoming.withColumn("__maybe", mightContain)
    val definitelyNew = flagged.filter(!col("__maybe"))
    val candidates = flagged.filter(col("__maybe"))
    val corpusHashes = corpus
      .select(normHash(col(textCol)).as("__ch")).distinct()
    val confirmedNew = candidates.join(corpusHashes,
      normHash(candidates(textCol)) === col("__ch"), "left_anti")
    definitelyNew.unionByName(confirmedNew).drop("__maybe")
  }

  /** Embedding-cosine near-dup pairs: LSH-bucket on random-hyperplane
    * sign bits, verify cosine within bucket. The pin holds the
    * bucketed vectors, so the corpus scan and the per-row LSH mat-vec
    * run once for the hot-bucket count and both join sides. Eager,
    * like every pair finder: see [[Dedup]]. */
  def embeddingPairs(emb: DataFrame, vecCol: String, idCol: String,
      minCosine: Double = 0.95, nBits: Int = 8,
      maxBucket: Int = 10000): DataFrame =
    pinned(emb.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("bucket", V.lshBucket(col("v"), nBits)))(
      embeddingPairPlan(_, minCosine, maxBucket))

  /** The lazy pair stage of [[embeddingPairs]] over an (id, v, bucket)
    * frame. */
  private[graft] def embeddingPairPlan(bucketed: DataFrame,
      minCosine: Double, maxBucket: Int): DataFrame = {
    // Hot-bucket guard: near-identical embeddings (zero vectors, padding
    // artifacts) all land in one hyperplane bucket → quadratic verify.
    val withB = dropHotGroups(bucketed, Seq("bucket"), maxBucket)
    val a = withB.select(col("bucket"), col("id").as("id_a"), col("v").as("v_a"))
    val b = withB.select(col("bucket"), col("id").as("id_b"), col("v").as("v_b"))
    a.join(b, Seq("bucket")).filter(col("id_a") < col("id_b"))
      .withColumn("cosine", V.cosine(col("v_a"), col("v_b")))
      .filter(col("cosine") >= minCosine)
      .select(col("id_a"), col("id_b"), col("cosine")).distinct()
  }

  /** Shared assignment stage of the semantic-dedup family: every row
    * gets (id, v, vn unit-normalized, cluster, csim) from ONE native
    * matrix-vector eval against the plan-literal centroids — pure
    * map-side math, zero shuffle. Argmax ties resolve to the first
    * (lowest) centroid, matching the DuckDB list_position mirror.
    * Normalizing HERE (once per row) keeps the quadratic pair stages
    * downstream to a bare dot product per pair. */
  private def assignClusters(emb: DataFrame, vecCol: String, idCol: String,
      centroids: Array[Array[Double]]): DataFrame = {
    // Fail fast on mis-dimensioned config: MatVecDots/VecDotQ8
    // truncate to the shorter operand, which would silently void the
    // q8Margin "no true pair ever dropped" prefilter bound. Centroids
    // must agree with each other and (checked against one row on the
    // batch path; streams have no row to peek) with the embeddings.
    require(centroids.nonEmpty && centroids.forall(
      _.length == centroids.head.length),
      "assignClusters: centroids must be non-empty and share one dimension")
    val dim = centroids.head.length
    val base = emb.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    if (!emb.isStreaming)
      base.select(size(col("v")).as("n")).head(1).foreach { r =>
        require(r.getInt(0) == dim,
          s"assignClusters: embedding length ${r.getInt(0)} != centroid " +
            s"dimension $dim — the quantized prefilter bound assumes equal dims")
      }
    val dots = graft.plans.VectorExprs.matVecDots(
      centroids.toIndexedSeq.map(_.toIndexedSeq), col("v"))
    val cNorms = centroids.map(c => math.sqrt(c.map(x => x * x).sum)).toSeq
    base.withColumn("__dots", dots)
      .withColumn("__vnorm", sqrt(V.dot(col("v"), col("v"))))
      .withColumn("cluster",
        (array_position(col("__dots"), array_max(col("__dots"))) - 1)
          .cast("int"))
      .withColumn("csim", when(col("__vnorm") === 0.0, lit(0.0)).otherwise(
        array_max(col("__dots")) /
          (col("__vnorm") * element_at(typedLit(cNorms), col("cluster") + 1))))
      .withColumn("vn", when(col("__vnorm") === 0.0, col("v"))
        .otherwise(transform(col("v"), x => x / col("__vnorm"))))
      .select(col("id"), col("v"), col("vn"), col("cluster"), col("csim"))
  }

  /** Prefilter margin: |dotQ8 − dot| ≤ 2√d/255 + d/255² for unit
    * vectors (see plans.VecDotQ8). */
  private def q8Margin(dim: Int): Double =
    2.0 * math.sqrt(dim.toDouble) / 255.0 + dim.toDouble / (255.0 * 255.0)

  /** SemDeDup-style semantic dedup (Abbas et al. 2023,
    * arXiv:2303.09540): assign every embedding to its nearest centroid
    * by dot product, verify cosine only WITHIN each cluster, and from
    * every near-duplicate pair drop the row MORE similar to its
    * centroid (the paper keeps the low-centroid-similarity example as
    * the more informative one; ties drop the larger id).
    *
    * Scale shape: the centroid table rides in the plan as literals
    * (k·dim doubles), so assignment is pure map-side codegen'd math —
    * ZERO shuffle; the only shuffle is the per-cluster self-join,
    * quadratic within a cluster and bounded by `maxCluster` via
    * [[dropHotGroups]]. At 100 TB the centroid count is the knob:
    * k ~ n/maxCluster keeps every cluster join-sized while the
    * centroid literal stays a few hundred KB. Differs from
    * [[embeddingPairs]] (hyperplane LSH buckets) in that clusters are
    * data-adaptive — pass k-means centroids for the paper's behavior,
    * or any fixed matrix for a deterministic coarse partition.
    *
    * The pin holds the assignment, read by the hot-cluster count, both
    * self-join sides and the two exact-rescore joins; the final
    * anti-join's map-side re-evaluation is the only repeat. Eager, like
    * every pair finder: see [[Dedup]].
    *
    * Returns survivors as (id, cluster, csim). */
  def semanticDedup(emb: DataFrame, vecCol: String, idCol: String,
      centroids: Array[Array[Double]], minCosine: Double = 0.95,
      maxCluster: Int = 10000): DataFrame = {
    // Quantized prefilter over the quadratic stage: the self-join scans
    // 64-BYTE int8 codes (8× less payload than array<double>) and keeps
    // only pairs whose integer-exact approximate dot clears
    // minCosine − ε, where ε bounds the quantization error for unit
    // vectors — so NO true pair is ever dropped and the exact re-score
    // makes the result bit-identical to the unquantized formulation
    // (differential-tested in OperatorsSpec).
    val eps = q8Margin(centroids.headOption.map(_.length).getOrElse(0))
    val q = graft.plans.VectorExprs.quantizeUnit8(col("vn"))
    val assigned = assignClusters(emb, vecCol, idCol, centroids)
    val losers = pinned(assigned) { pin =>
      val guarded = dropHotGroups(pin, Seq("cluster"), maxCluster)
      val a = guarded.select(col("cluster"), col("id").as("id_a"),
        q.as("q_a"), col("csim").as("csim_a"))
      val b = guarded.select(col("cluster"), col("id").as("id_b"),
        q.as("q_b"), col("csim").as("csim_b"))
      val candidates = a.join(b, Seq("cluster"))
        .filter(col("id_a") < col("id_b"))
        .filter(graft.plans.VectorExprs.dotQ8(col("q_a"), col("q_b")) >=
          minCosine - eps)
        .select(col("id_a"), col("id_b"), col("csim_a"), col("csim_b"))
      // Exact re-score: only the (rare) candidate pairs touch the full
      // vectors again — the quantizedTopK rerank shape.
      candidates
        .join(pin.select(col("id").as("id_a"), col("vn").as("vn_a")),
          Seq("id_a"))
        .join(pin.select(col("id").as("id_b"), col("vn").as("vn_b")),
          Seq("id_b"))
        .filter(V.dot(col("vn_a"), col("vn_b")) >= minCosine)
        .select(when(col("csim_a") > col("csim_b") ||
            (col("csim_a") === col("csim_b") && col("id_a") > col("id_b")),
          col("id_a")).otherwise(col("id_b")).as("id"))
        .distinct()
    }
    assigned.join(losers, Seq("id"), "left_anti")
      .select(col("id"), col("cluster"), col("csim"))
  }

  /** [[semanticDedup]] with centroids trained in place by MLlib
    * k-means (the SemDeDup paper's setup). The fitted centers are
    * extracted to plain arrays, so the dedup pass itself still runs
    * with literal centroids and a zero-shuffle assignment. */
  def semanticDedupAuto(emb: DataFrame, vecCol: String, idCol: String,
      k: Int, minCosine: Double = 0.95, maxCluster: Int = 10000,
      seed: Long = 42L, maxIter: Int = 20): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val feats = emb.select(
      array_to_vector(col(vecCol).cast("array<double>")).as("features"))
    val model = new KMeans().setK(k).setSeed(seed).setMaxIter(maxIter)
      .fit(feats)
    semanticDedup(emb, vecCol, idCol,
      model.clusterCenters.map(_.toArray), minCosine, maxCluster)
  }

  /** Reusable semantic-dedup corpus index (the [[MinHashIndex]]
    * pattern): the corpus's cluster assignment + int8 codes + unit
    * vectors, persisted once so MANY incoming batches dedup against
    * one assignment pass. `release()` when done. */
  final case class SemanticIndex private[operators] (
      assigned: DataFrame, centroids: Array[Array[Double]],
      maxCluster: Int) {
    def release(): Unit = assigned.unpersist(false)
  }

  def buildSemanticIndex(corpus: DataFrame, vecCol: String, idCol: String,
      centroids: Array[Array[Double]],
      maxCluster: Int = 10000): SemanticIndex = {
    val a = assignClusters(corpus, vecCol, idCol, centroids)
      .withColumn("q", graft.plans.VectorExprs.quantizeUnit8(col("vn")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    a.count() // materialize now: one assignment pass gates every batch
    SemanticIndex(a, centroids, maxCluster)
  }

  /** Drop from `newEmb` every row whose exact cosine to ANY corpus row
    * in the same cluster clears `minCosine` — the incremental sibling
    * of [[semanticDedup]]. Corpus rows always survive, and new rows
    * are NOT checked against each other (same contract as
    * [[dedupAgainstIndex]]; batch self-dedup composes via
    * [[semanticDedup]] on the batch first). Same scale shape as the
    * batch operator: one cluster-keyed join over int8 codes with the
    * provable-margin prefilter, exact verify only for candidates. */
  def semanticDedupAgainstIndex(newEmb: DataFrame, index: SemanticIndex,
      vecCol: String, idCol: String,
      minCosine: Double = 0.95): DataFrame = {
    val eps = q8Margin(index.centroids.headOption.map(_.length).getOrElse(0))
    val na = assignClusters(newEmb, vecCol, idCol, index.centroids)
      .withColumn("q", graft.plans.VectorExprs.quantizeUnit8(col("vn")))
    val corpusSide = dropHotGroups(
      index.assigned.select(col("cluster"), col("id").as("id_c"), col("q").as("q_c")),
      Seq("cluster"), index.maxCluster)
    val candidates = na.select(col("cluster"), col("id"), col("q"))
      .join(corpusSide, Seq("cluster"))
      .filter(graft.plans.VectorExprs.dotQ8(col("q"), col("q_c")) >=
        minCosine - eps)
      .select(col("id"), col("id_c"))
    val dropped = candidates
      .join(na.select(col("id"), col("vn")), Seq("id"))
      .join(index.assigned.select(col("id").as("id_c"), col("vn").as("vn_c")),
        Seq("id_c"))
      .filter(V.dot(col("vn"), col("vn_c")) >= minCosine)
      .select(col("id").as(idCol)).distinct()
    newEmb.join(dropped, Seq(idCol), "left_anti")
  }

  /** One-shot incremental semantic dedup without a persisted index —
    * builds the corpus assignment inline. Prefer
    * [[buildSemanticIndex]] + [[semanticDedupAgainstIndex]] when many
    * batches hit the same corpus. */
  def semanticDedupAgainst(newEmb: DataFrame, corpus: DataFrame,
      vecCol: String, idCol: String, centroids: Array[Array[Double]],
      minCosine: Double = 0.95, maxCluster: Int = 10000): DataFrame = {
    val a = assignClusters(corpus, vecCol, idCol, centroids)
      .withColumn("q", graft.plans.VectorExprs.quantizeUnit8(col("vn")))
    semanticDedupAgainstIndex(newEmb,
      SemanticIndex(a, centroids, maxCluster), vecCol, idCol, minCosine)
  }
}
