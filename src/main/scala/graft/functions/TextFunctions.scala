package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.plans.Tokenize
import graft.plans.Tokenize.Delimiters

/** Text / tokenize / NLP-ish scalar functions.
  *
  * Reference surface: `tokenize`, `token_extract`, `split_part`
  * (`/root/reference/sql/builtin_functions.cc:1915-1991`),
  * `jaccard_index` (`:1337`), `levenshtein_distance` (`:2640`), plus the
  * LLM-pipeline text-analysis set (language-ID, quality scoring, token
  * counting, fingerprinting) this engine adds as first-class operators.
  *
  * Everything here is pure `Column` composition over Spark built-ins
  * (codegen'd, no UDFs), so all of it runs inside whole-stage codegen
  * and scales embarrassingly — per-row work, no shuffle, no driver
  * round-trips.
  */
object TextFunctions {

  /** Lowercased word tokens with empty tokens dropped, cut on `delims`:
    * whitespace and punctuation by default, or `Whitespace` alone. One
    * native pass per row ([[graft.plans.Tokenize]]); the result equals
    * [[tokensReference]] on every input. */
  def tokens(text: Column, delims: Delimiters = Tokenize.Punctuation): Column =
    Tokenize.column(text, delims)

  /** The formulation [[tokens]] replaced, `lower` → regex `split` →
    * lambda `filter`: the differential-test twin. */
  def tokensReference(text: Column, delims: Delimiters = Tokenize.Punctuation): Column =
    filter(split(lower(text), delims.regex), t => length(t) > 0)

  /** Bag-of-words: token -> count map. Reference `tokenize` returns a
    * row of token→count (`builtin_functions.cc:1915`); we return
    * `map<string,int>` which plays the same role in a typed engine.
    * One pass per doc via the native TokenCounts expression — O(tokens),
    * no distinct-token² cliff on pathological documents. Whole-corpus
    * counting should still use the exploded operator form (see
    * operators.TextAnalysis). */
  def tokenBag(text: Column): Column =
    graft.plans.TokenCounts.column(tokens(text))

  /** Interpreted twin of tokenBag (the pre-native O(n·distinct)
    * formulation) — differential-test oracle for TokenCounts. */
  def tokenBagReference(text: Column): Column = {
    val toks = tokens(text)
    map_from_entries(
      transform(array_distinct(toks),
        t => struct(t.as("token"),
          size(filter(toks, x => x === t)).as("count"))))
  }

  /** Whitespace token count (cheap, codegen'd). */
  def tokenCount(text: Column): Column =
    size(tokens(text, Tokenize.Whitespace))

  /** Positional word n-grams: every `n`-token window of `toks` joined
    * with `sep`, in document order. Empty below `n` tokens, null for a
    * null array, null tokens skipped (as `concat_ws` skips them). One
    * native loop per row ([[graft.plans.NGrams]]). */
  def ngrams(toks: Column, n: Int, sep: String): Column =
    graft.plans.NGrams.column(toks, n, sep)

  /** Interpreted twin of [[ngrams]] (the pre-native per-position
    * lambda) — differential-test oracle. Slow: every position copies
    * its window, and the lambda re-evaluates `toks` once per position
    * unless `toks` is a plain attribute. */
  def ngramsReference(toks: Column, n: Int, sep: String): Column =
    when(toks.isNotNull,
      when(size(toks) >= n,
        transform(sequence(lit(1), size(toks) - lit(n - 1)),
          i => concat_ws(sep, slice(toks, i, lit(n)))))
        .otherwise(emptyStrings))

  private def emptyStrings: Column = array().cast("array<string>")

  /** Full `tokenize` option surface (reference config:
    * splitChars, ngramRange, minTokenLength —
    * `sql/builtin_functions.cc:1915`): bag of n-grams (nMin..nMax)
    * over tokens of at least `minTokenLength` chars, as a
    * token→count map. */
  def tokenBagNgrams(text: Column, nMin: Int, nMax: Int,
      minTokenLength: Int = 1,
      delims: Delimiters = Tokenize.Punctuation): Column = {
    val toks = filter(tokens(text, delims), t => length(t) >= minTokenLength)
    graft.plans.TokenCounts.column((nMin to nMax)
      .map(n => coalesce(ngrams(toks, n, " "), emptyStrings))
      .reduce(concat(_, _)))
  }

  /** BPE-ish subword count approximation: words + punctuation runs +
    * long-word penalty (a word of n chars ≈ ceil(n/6) subword tokens).
    * Deterministic heuristic, not a trained tokenizer. */
  def approxBpeTokenCount(text: Column): Column = {
    val words = tokens(text, Tokenize.Whitespace)
    val sub = transform(words, w => ceil(length(w) / lit(6.0)).cast("long"))
    coalesce(aggregate(sub, lit(0L), (a, x) => a + x), lit(0L))
  }

  /** Word n-gram shingles as strings ("a b c" for n=3). Short docs
    * (< n tokens) yield one shingle of the whole doc. */
  def shingles(text: Column, n: Int): Column = {
    val toks = tokens(text)
    when(size(toks) >= n, ngrams(toks, n, " "))
      .otherwise(array(concat_ws(" ", toks)))
  }

  /** Jaccard similarity of the distinct-token sets of two texts.
    * Reference: `jaccard_index` `sql/builtin_functions.cc:1337`. */
  def jaccardTokens(a: Column, b: Column): Column = {
    val (sa, sb) = (array_distinct(tokens(a)), array_distinct(tokens(b)))
    val inter = size(array_intersect(sa, sb)).cast("double")
    val uni = size(array_union(sa, sb)).cast("double")
    when(uni === 0, lit(1.0)).otherwise(inter / uni)
  }

  /** Jaccard over word-n-gram shingle sets (near-dup detection). */
  def jaccardShingles(a: Column, b: Column, n: Int): Column = {
    val (sa, sb) = (array_distinct(shingles(a, n)), array_distinct(shingles(b, n)))
    val inter = size(array_intersect(sa, sb)).cast("double")
    val uni = size(array_union(sa, sb)).cast("double")
    when(uni === 0, lit(1.0)).otherwise(inter / uni)
  }

  // --- Fingerprinting -----------------------------------------------------

  /** Order-sensitive polynomial rolling hash over tokens
    * (Rabin–Karp style, wrapping Long arithmetic — requires ANSI off,
    * which core.Tables.tune sets). Same token sequence ⇒ same
    * fingerprint; whitespace/punctuation-insensitive. */
  def fingerprint(text: Column): Column =
    aggregate(tokens(text), lit(0L),
      (acc, t) => acc * lit(1000003L) + xxhash64(t))

  /** Content hash for exact dedup after normalization. */
  def normalizedHash(text: Column): Column =
    md5(concat_ws(" ", tokens(text)))

  // --- MinHash ------------------------------------------------------------

  /** MinHash signature (length k) over word-`n`-gram shingles.
    * h_i(S) = min over shingles s of (a_i * xxhash64(s) + b_i), with
    * per-row-independent odd multipliers derived from i. Hot loop runs
    * in the native MinHashSig expression (plans.HashExpressions). */
  def minHashSignature(text: Column, k: Int, shingleN: Int): Column =
    minHashFromShingles(array_distinct(shingles(text, shingleN)), k)

  /** Signature from a precomputed (distinct) shingle array. */
  def minHashFromShingles(sh: Column, k: Int): Column =
    graft.plans.MinHashSig.column(transform(sh, s => xxhash64(s)), k)

  /** Distinct shingles pre-hashed to longs (sorted). Set operations
    * (Jaccard) over the hashes are equivalent to the string sets up to
    * ~2^-64 collision odds, at ~6× less memory (no Java string
    * overhead) and primitive-array intersect speed — the representation
    * the dedup pipeline shuffles and persists. Hot loop is the native
    * ShingleHashes expression (one token hash each, polynomial window
    * combine — no per-shingle string materialization). */
  def shingleHashes(text: Column, n: Int): Column =
    graft.plans.ShingleHashes.column(tokens(text), n)

  /** Interpreted twin of the native shingleHashes — differential-test
    * oracle (same token hashes, same polynomial combine, sorted
    * distinct). */
  def shingleHashesReference(text: Column, n: Int): Column = {
    val th = transform(tokens(text), t => xxhash64(t))
    val P = 1000003L
    def combine(win: Column) = aggregate(win, lit(0L), (acc, h) => acc * P + h)
    val combined = when(size(th) >= n,
      transform(sequence(lit(1), size(th) - lit(n - 1)),
        i => combine(slice(th, i, lit(n)))))
      .otherwise(array(combine(th)))
    array_sort(array_distinct(combined))
  }

  /** Signature from pre-hashed shingles. */
  def minHashFromHashes(shh: Column, k: Int): Column =
    graft.plans.MinHashSig.column(shh, k)

  /** Per-token xxhash64 array — the materialization point for the
    * winnowing pipeline. IMPORTANT evaluation-model note for this and
    * the two stages below: Spark higher-order functions re-evaluate
    * every captured NON-lambda subexpression once per array element
    * (they are CodegenFallback, interpreted, no CSE). Composing these
    * stages as one nested expression therefore turns O(n·k) winnowing
    * into O(n²·k·cost(hash)) per document. Always land each stage in
    * its own projection (`.select(... .as("col"))`) so lambdas capture
    * a plain attribute (a row-field read), never an expression tree —
    * CollapseProject keeps multi-referenced non-cheap aliases apart,
    * so the stages stay materialized. */
  def tokenHashes(text: Column): Column =
    transform(tokens(text), t => xxhash64(t))

  /** POSITIONAL k-gram hashes (one per gram, in document order —
    * unlike [[shingleHashes]], which sorts and dedups for set
    * arithmetic). Polynomial combine over the [[tokenHashes]] array,
    * wrapping Long arithmetic (ANSI off). Short docs yield one
    * whole-doc gram. The winnowing input. `th` MUST be a materialized
    * attribute column (see [[tokenHashes]] note). */
  def positionalGramHashes(th: Column, k: Int): Column = {
    val P = 1000003L
    def combine(win: Column) = aggregate(win, lit(0L), (a, h) => a * P + h)
    when(size(th) >= k,
      transform(sequence(lit(1), size(th) - lit(k - 1)),
        i => combine(slice(th, i, lit(k)))))
      .otherwise(array(combine(th)))
  }

  /** Winnowing fingerprint selection (Schleimer et al. 2003): the
    * minimum of every w-wide sliding window over the positional gram
    * hashes, distinct + sorted. Guarantees every shared gram run of
    * length ≥ w shares a selected fingerprint while keeping ~2/(w+1)
    * of the grams. Pure per-row array math, no shuffle. `grams` MUST
    * be a materialized attribute column (see [[tokenHashes]] note). */
  def winnowSelect(grams: Column, w: Int): Column =
    when(size(grams) >= w,
      array_sort(array_distinct(transform(
        sequence(lit(1), size(grams) - lit(w - 1)),
        j => array_min(slice(grams, j, lit(w)))))))
      .otherwise(array(array_min(grams)))

  /** Interpreted reference formulation of minHashSignature — kept as a
    * differential-test oracle for the native expression. */
  def minHashSignatureReference(text: Column, k: Int, shingleN: Int): Column = {
    val hashes = transform(array_distinct(shingles(text, shingleN)), s => xxhash64(s))
    transform(sequence(lit(0), lit(k - 1)), i => {
      val a = xxhash64(concat(lit("mh-a-"), i.cast("string"))).bitwiseOR(lit(1L))
      val b = xxhash64(concat(lit("mh-b-"), i.cast("string")))
      array_min(transform(hashes, h => a * h + b))
    })
  }

  /** Jaccard similarity of two precomputed distinct-element arrays. */
  def jaccardArrays(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni === 0, lit(1.0)).otherwise(inter / uni)
  }

  /** LSH band keys for a minhash signature: split into `bands` bands of
    * rows and hash each band. Docs sharing any band key are near-dup
    * candidates (standard MinHash-LSH banding). */
  def minHashBands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      struct(b.as("band"),
        xxhash64(concat_ws("_",
          transform(slice(sig, b * lit(rowsPerBand) + lit(1), lit(rowsPerBand)),
            x => x.cast("string")))).as("key")))

  // --- SimHash ------------------------------------------------------------

  /** 64-bit SimHash over token hashes: bit b of the result is set iff
    * more token-hashes have bit b set than unset (majority vote per
    * bit). Hot loop runs in the native SimHash64 expression. */
  def simHash64(text: Column): Column =
    graft.plans.SimHash64.column(graft.plans.TokenHashes64.column(tokens(text)))

  /** Interpreted reference formulation of simHash64 — differential-test
    * oracle for the native expression. */
  def simHash64Reference(text: Column): Column = {
    val hashes = transform(tokens(text), t => xxhash64(t))
    val bits = sequence(lit(0), lit(63))
    val counts = aggregate(hashes, array_repeat(lit(0L), 64),
      (acc, h) => zip_with(acc, bits,
        (c, b) => c + call_function("shiftrightunsigned", h, b).bitwiseAND(lit(1L))))
    val n = size(hashes).cast("long")
    aggregate(
      zip_with(counts, bits, (c, b) => struct(c.as("c"), b.as("b"))),
      lit(0L),
      (acc, cb) => acc + when(cb.getField("c") * 2 > n,
        call_function("shiftleft", lit(1L), cb.getField("b"))).otherwise(lit(0L)))
  }

  /** Hamming distance between two 64-bit simhashes. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b)).cast("int")

  // --- Language ID / quality ----------------------------------------------

  private val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "fr" -> Seq("le", "la", "de", "et", "un", "une", "est", "que", "les", "des"),
    "es" -> Seq("el", "la", "de", "y", "un", "una", "es", "que", "los", "en"),
    "de" -> Seq("der", "die", "das", "und", "ein", "ist", "zu", "den", "von", "mit"),
    "it" -> Seq("il", "la", "di", "e", "un", "una", "che", "per", "con", "non"))

  /** N-gram/stopword-overlap language guess. Deterministic argmax with
    * lexicographic tie-break; returns "und" when nothing matches. */
  def langId(text: Column): Column = {
    val toks = array_distinct(tokens(text))
    val scored = stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(
        size(array_intersect(toks, array(words.map(lit): _*))).as("score"),
        lit(lang).as("lang"))
    }
    val best = array_max(array(scored: _*))
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Heuristic quality score in [0,1]: mixes length, punctuation
    * density, stopword ratio, mean word length — the standard
    * pretraining-corpus filters (C4/Gopher-style rules). */
  def qualityScore(text: Column): Column = {
    val toks = tokens(text, Tokenize.Whitespace)
    val nTok = size(toks).cast("double")
    val nChar = length(text).cast("double")
    val punct = (nChar - length(regexp_replace(text, "[.,;:!?]", ""))).cast("double")
    val stop = size(array_intersect(array_distinct(tokens(text)),
      array(stopwords("en").map(lit): _*))).cast("double")
    val meanWord = when(nTok > 0, nChar / nTok).otherwise(lit(0.0))
    val lenScore = least(nTok / lit(100.0), lit(1.0))
    val punctScore = lit(1.0) - least(punct / greatest(nChar, lit(1.0)) * 10, lit(1.0))
    val stopScore = least(stop / lit(3.0), lit(1.0))
    val wordScore = when(meanWord.between(3.0, 12.0), lit(1.0)).otherwise(lit(0.5))
    round(lenScore * 0.3 + punctScore * 0.2 + stopScore * 0.3 + wordScore * 0.2, 6)
  }

  /** PII redaction for training corpora: emails, IPv4s, long digit
    * runs (phone/card numbers) → placeholder tokens. Patterns stay in
    * the regex subset Java and RE2 share, so an external SQL engine
    * can reproduce the scrub bit-for-bit (oracle-checked in q75). */
  def redactPii(text: Column): Column = {
    val email = regexp_replace(text,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val ip = regexp_replace(email,
      "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b", "<IP>")
    regexp_replace(ip, "\\b[0-9][0-9 ()+.-]{8,}[0-9]\\b", "<NUMBER>")
  }

  /** Repeated-n-gram ratio (Gopher-style repetition signal): 1 −
    * distinct/total n-grams. 0 = no repetition; →1 for highly
    * repetitive boilerplate. Docs shorter than n score 0. */
  def repetitionRatio(text: Column, n: Int = 2): Column = {
    val grams = shingles(text, n)
    val total = size(grams).cast("double")
    when(total <= 1, lit(0.0))
      .otherwise(round(lit(1.0) - size(array_distinct(grams)) / total, 6))
  }

  /** URL normalization for web-corpus dedup: lowercase scheme+host,
    * strip the fragment and tracking parameters (utm_*, fbclid,
    * gclid), drop a trailing "?" or lone "&"s left behind. */
  def normalizeUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val noTrack = regexp_replace(noFrag,
      "(?:(?<=[?&]))(?:utm_[A-Za-z]+|fbclid|gclid)=[^&#]*&?", "")
    val tidy = regexp_replace(regexp_replace(noTrack, "[?&]$", ""), "&&+", "&")
    // lowercase scheme://host, keep path/query case
    concat(
      lower(regexp_extract(tidy, "^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1)),
      regexp_replace(tidy, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", ""))
  }

  // --- Reference-exact `tokenize` (sql/tokenize.cc) -----------------------
  // Unlike the pipeline tokenizers above (which lowercase and split on
  // a broad punctuation class — the right default for dedup/quality
  // work), the reference's SQL `tokenize` is CASE-PRESERVING, splits
  // on "," by default, and supports quoteChar / offset / limit /
  // value / minTokenLength / ngramRange (ngrams joined with "_",
  // tokenize.cc:118). The dialect's tokenize/token_extract route here.

  /** Reference token stream: split on any of `splitChars` (single
    * characters, not a regex), keep case, honor `quoteChar`-delimited
    * tokens that may contain split chars, drop tokens shorter than
    * `minTokenLength`. */
  def tokensRef(text: Column, splitChars: String = ",",
      quoteChar: String = "", minTokenLength: Int = 1): Column = {
    val cls = splitChars.flatMap(c =>
      if (c.isLetterOrDigit) c.toString else s"\\$c")
    val raw0 =
      if (quoteChar.isEmpty) split(text, s"[$cls]+")
      else {
        val q = quoteChar.head
        val qe = if (q.isLetterOrDigit) q.toString else s"\\$q"
        // quoted token (may contain split chars) | plain token
        val pat = s"$qe[^$qe]*$qe|[^$cls$qe]+"
        val matches = regexp_extract_all(text, lit(pat), lit(0))
        transform(matches, t =>
          when(length(t) >= 2 &&
              t.startsWith(quoteChar) && t.endsWith(quoteChar),
            t.substr(lit(2), length(t) - 2)).otherwise(t))
      }
    filter(raw0, t => length(t) >= math.max(minTokenLength, 1))
  }

  /** Reference `tokenize` with the full option surface
    * (`sql/tokenize.cc:23-70`): bag of tokens/ngrams → count map;
    * `offset`/`limit` window the token stream (after the
    * minTokenLength filter, before ngrams — tokenize.cc:303-317);
    * `value` replaces counts with a constant. */
  def tokenizeRef(text: Column, splitChars: String = ",",
      quoteChar: String = "", minTokenLength: Int = 1,
      ngramRange: (Int, Int) = (1, 1), offset: Int = 0, limit: Int = -1,
      value: Option[Column] = None): Column = {
    val (nMin, nMax) = ngramRange
    require(nMin >= 1 && nMax >= nMin, "ngramRange values must be " +
      "bigger than 0 and the second value needs to be equal or bigger " +
      "than the first")
    val toks = tokensRef(text, splitChars, quoteChar, minTokenLength)
    val windowed =
      if (offset > 0 || limit >= 0)
        slice(toks, lit(offset + 1),
          if (limit >= 0) lit(limit) else size(toks))
      else toks
    val bag = graft.plans.TokenCounts.column((nMin to nMax).map[Column] { n =>
      if (n == 1) windowed
      else coalesce(ngrams(windowed, n, "_"), emptyStrings)
    }.reduce((x, y) => concat(x, y)))
    value match {
      case Some(v) => transform_values(bag, (_, _) => v)
      case None => bag
    }
  }

  /** Reference `token_extract` (`builtin_functions.cc:1956`,
    * tokenize.cc:328-377): nth token 0-based after `offset`; negative
    * nth counts from the END of the offset/limit window. */
  def tokenExtractRef(text: Column, nth: Column,
      splitChars: String = ",", quoteChar: String = "",
      minTokenLength: Int = 1, offset: Int = 0, limit: Int = -1): Column = {
    val toks = tokensRef(text, splitChars, quoteChar, minTokenLength)
    // positive nth deliberately ignores `limit`: the reference's
    // aggregate_positive (sql/tokenize.cc:335-351) returns the first
    // NON-EMPTY token past offset+nth even when that index exceeds
    // limit — limit only bounds the onward search across empty tokens,
    // which tokensRef already filters out
    val positive = element_at(toks, (nth + lit(offset) + 1).cast("int"))
    val windowed = slice(toks, lit(offset + 1),
      if (limit >= 0) lit(limit) else size(toks))
    val negative = element_at(windowed, nth.cast("int"))
    when(nth >= 0, positive).otherwise(negative)
  }

  /** Unicode NFC canonical composition (native expression, codegen'd,
    * ASCII fast path). Web corpora mix composed and decomposed accent
    * forms; every hash-based dedup upstream of this call treats them
    * as distinct documents. */
  def nfcNormalize(text: Column): Column =
    graft.plans.NfcNormalize.column(text)

  /** ftfy-lite text repair for web corpora — the fixed cleanup chain a
    * curation pipeline runs before any hashing/dedup stage:
    *
    *  1. Unicode NFC (composed accents; see [[nfcNormalize]])
    *  2. typographic chars → ASCII (curly quotes, en/em dash, NBSP)
    *  3. CRLF / lone CR → LF
    *  4. strip C0 control chars except \t\n (and DEL)
    *  5. collapse runs of spaces/tabs to one space
    *  6. drop spaces hugging a newline
    *  7. clamp blank-line runs to one blank line
    *  8. trim
    *
    * Order matters (5 before 6 lets a single-space pattern catch every
    * newline-adjacent run) and each step is a codegen'd built-in, so
    * the whole chain fuses into one whole-stage-codegen projection —
    * per-row work, no shuffle, scale-free. */
  def fixText(text: Column): Column = {
    val nfc = nfcNormalize(text)
    val ascii = translate(nfc,
      "‘’“”–— ", "''\"\"-- ")
    val lf = regexp_replace(ascii, "\r\n|\r", "\n")
    val ctl = regexp_replace(lf,
      "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", "")
    val sp = regexp_replace(ctl, "[ \t]+", " ")
    val hug = regexp_replace(sp, " ?\n ?", "\n")
    trim(regexp_replace(hug, "\n{3,}", "\n\n"))
  }
}
