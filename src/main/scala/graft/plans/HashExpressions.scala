package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, MapType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hot hashing loops.
  *
  * The pure-Column formulations in functions.TextFunctions are built
  * from higher-order functions (transform/aggregate), which Spark
  * interprets per element — O(shingles × k) lambda dispatches per row.
  * These expressions run the same math as a tight JVM loop (one eval
  * per row), 1–2 orders of magnitude faster, and produce BIT-IDENTICAL
  * results (they reuse Spark's XXH64 with the same seed 42 that
  * `xxhash64()` uses), so the Column versions double as test oracles.
  *
  * CodegenFallback is fine here: the expression itself is the work;
  * there is nothing for whole-stage codegen to fuse inside it.
  */

/** MinHash signature: array<long> shingle-hashes → array<long> of k
  * minima of (a_i * h + b_i) with the multiplier/offset scheme of
  * TextFunctions.minHashSignature. */
case class MinHashSig(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_sig"

  private lazy val as: Array[Long] = Array.tabulate(k)(i =>
    MinHashSig.seedHash("mh-a-" + i) | 1L)
  private lazy val bs: Array[Long] = Array.tabulate(k)(i =>
    MinHashSig.seedHash("mh-b-" + i))

  override def nullSafeEval(input: Any): Any = {
    val hashes = input.asInstanceOf[ArrayData]
    val n = hashes.numElements()
    val out = Array.fill[Long](k)(Long.MaxValue)
    var j = 0
    while (j < n) {
      val h = hashes.getLong(j)
      var i = 0
      while (i < k) {
        val v = as(i) * h + bs(i)
        if (v < out(i)) out(i) = v
        i += 1
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)
}

object MinHashSig {
  /** Same value as Spark SQL `xxhash64(<s>)` (seed 42 over UTF-8 bytes). */
  private[plans] def seedHash(s: String): Long = {
    val u = UTF8String.fromString(s)
    XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
  }
  def column(hashes: Column, k: Int): Column =
    GraftColumnBridge.column(MinHashSig(GraftColumnBridge.expression(hashes), k))
}

/** Distinct hashes of word n-gram shingles, computed directly from the
  * token array: each token is XXH64-hashed ONCE, consecutive n token
  * hashes combine with a polynomial mix — no per-shingle string
  * allocation (the Column formulation materializes every shingle as a
  * UTF8 string only to hash it). Output is sorted distinct, so it is
  * set-equal to the interpreted twin in TextFunctions. Short docs
  * (< n tokens) yield one shingle over all tokens. */
case class ShingleHashes(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_hashes"

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val m = toks.numElements()
    val th = new Array[Long](m)
    var i = 0
    while (i < m) {
      val u = toks.getUTF8String(i)
      th(i) = XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
      i += 1
    }
    val P = 1000003L
    val out =
      if (m >= n) {
        val arr = new Array[Long](m - n + 1)
        var s = 0
        while (s <= m - n) {
          var h = 0L
          var j = s
          while (j < s + n) { h = h * P + th(j); j += 1 }
          arr(s) = h
          s += 1
        }
        arr
      } else {
        var h = 0L
        var j = 0
        while (j < m) { h = h * P + th(j); j += 1 }
        Array(h)
      }
    java.util.Arrays.sort(out)
    var w = 0
    var r = 0
    while (r < out.length) {
      if (r == 0 || out(r) != out(r - 1)) { out(w) = out(r); w += 1 }
      r += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, w))
  }

  override protected def withNewChildInternal(c: Expression): ShingleHashes = copy(child = c)
}

object ShingleHashes {
  def column(tokens: Column, n: Int): Column =
    GraftColumnBridge.column(ShingleHashes(GraftColumnBridge.expression(tokens), n))
}

/** Porter stemmer as a native expression: string → string, one tight
  * eval per row around `functions.PorterStemmer.stem`. Verified
  * against the published algorithm's sample vocabulary in
  * FunctionsSpec. */
case class PorterStem(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def prettyName: String = "graft_porter_stem"

  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(
      graft.functions.PorterStemmer.stem(input.asInstanceOf[UTF8String].toString))

  override protected def withNewChildInternal(c: Expression): PorterStem = copy(child = c)
}

object PorterStem {
  def column(s: Column): Column =
    GraftColumnBridge.column(PorterStem(GraftColumnBridge.expression(s)))
}

/** Snowball stemmer for a configured language as a native expression
  * (the stemmerdoc per-word hot path for french/german/spanish —
  * `functions.SnowballStemmer`, differential-tested against the
  * reference's vendored libstemmer). The language is validated at
  * construction, mirroring the reference's creation-time check
  * (`plugins/nlp/nlp.cc:277`). */
case class SnowballStem(child: Expression, language: String)
    extends UnaryExpression with CodegenFallback {
  graft.functions.SnowballStemmer.validate(language)

  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def prettyName: String = "graft_snowball_stem"

  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(graft.functions.SnowballStemmer.stem(
      language, input.asInstanceOf[UTF8String].toString))

  override protected def withNewChildInternal(c: Expression): SnowballStem =
    copy(child = c)
}

object SnowballStem {
  def column(s: Column, language: String): Column =
    GraftColumnBridge.column(
      SnowballStem(GraftColumnBridge.expression(s), language))
}

/** Token counting in ONE pass: array<string> → map<string,int> via a
  * JVM hash map, O(tokens) per row. The Column formulation it replaces
  * (`filter(toks, _ === t)` per distinct token) was O(tokens×distinct)
  * — fine for ordinary documents but a task-stalling cliff on a
  * pathological 100k-distinct-token doc. First-seen key order keeps
  * output deterministic. */
case class TokenCounts(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType =
    MapType(StringType, IntegerType, valueContainsNull = false)
  override def prettyName: String = "graft_token_counts"

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val n = toks.numElements()
    val m = new java.util.LinkedHashMap[UTF8String, Array[Int]]()
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) {
        // clone: the UTF8String may point into a reused input buffer
        val t = toks.getUTF8String(i).clone()
        val c = m.get(t)
        if (c == null) m.put(t, Array(1)) else c(0) += 1
      }
      i += 1
    }
    val keys = new Array[Any](m.size)
    val vals = new Array[Any](m.size)
    val it = m.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      keys(j) = e.getKey
      vals(j) = e.getValue()(0)
      j += 1
    }
    new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(vals))
  }

  override protected def withNewChildInternal(c: Expression): TokenCounts = copy(child = c)
}

object TokenCounts {
  def column(tokens: Column): Column =
    GraftColumnBridge.column(TokenCounts(GraftColumnBridge.expression(tokens)))
}

/** Positional word n-grams in ONE pass: array<string> → the `n`-token
  * windows joined with `sep`, in document order. Same output as the
  * interpreted `transform(sequence(..), i => concat_ws(sep,
  * slice(toks, i, n)))` (TextFunctions.ngramsReference): an empty
  * array below `n` tokens, null for null input, null tokens skipped
  * as concat_ws skips them. The lambda form re-evaluates any captured
  * non-attribute expression once per position; this is one loop per
  * row. Codegen is one static call, as in [[NfcNormalize]], so the
  * operator stays inside whole-stage codegen. */
case class NGrams(child: Expression, n: Int, sep: String)
    extends UnaryExpression {
  require(n >= 1, s"n-gram width must be at least 1, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_ngrams"

  private lazy val sepUtf8: UTF8String = UTF8String.fromString(sep)

  override def nullSafeEval(input: Any): Any =
    NGrams.grams(input.asInstanceOf[ArrayData], n, sepUtf8)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val s = ctx.addReferenceObj("sep", sepUtf8)
    defineCodeGen(ctx, ev, c => s"graft.plans.NGrams.grams($c, $n, $s)")
  }

  override protected def withNewChildInternal(c: Expression): NGrams = copy(child = c)
}

object NGrams {
  def column(tokens: Column, n: Int, sep: String): Column =
    GraftColumnBridge.column(NGrams(GraftColumnBridge.expression(tokens), n, sep))

  /** The `n`-token windows of `toks` joined with `sepUtf8`. */
  def grams(toks: ArrayData, n: Int, sepUtf8: UTF8String): ArrayData = {
    val m = toks.numElements()
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val words = new Array[UTF8String](m)
    var i = 0
    while (i < m) {
      if (!toks.isNullAt(i)) words(i) = toks.getUTF8String(i)
      i += 1
    }
    // concatWs is ConcatWs's own join: it copies the bytes and skips nulls
    val out = new Array[Any](m - n + 1)
    var s = 0
    while (s < out.length) {
      out(s) = UTF8String.concatWs(sepUtf8, java.util.Arrays.copyOfRange(words, s, s + n): _*)
      s += 1
    }
    new GenericArrayData(out)
  }
}

/** Repetition counts over n-unit windows in ONE eval per row: an
  * array<string> of units and window widths → one struct of counts per
  * width, in the order given. A window is n consecutive units; each
  * unit is interned once to a dense id, and the window at position s
  * is keyed by (id of the (n−1)-window at s, id of unit s+n−1), so no
  * window string is ever built. A window's chars are the sum of its
  * units' `numChars`. Per width:
  *   - `windows`, `distinct`: window count and distinct-window count;
  *   - `chars`, `distinct_chars`: summed chars over all windows, and
  *     over each distinct window once;
  *   - `top_chars`: the max of count × chars over distinct windows;
  *   - `dup_chars`: the sum of count × chars over windows seen ≥ 2
  *     times.
  * A width above the unit count gives all zeros; a null array, null.
  *
  * Word units from a `\s+` split hold no ' ', so two word windows are
  * equal exactly when their ' '-joined gram strings are, and a
  * window's chars are the joined length minus the n−1 joiners: the
  * numbers that counting [[NGrams]] output with [[TokenCounts]] gives
  * (NGramsSpec keeps that formulation as the differential twin). A
  * null unit has neither an id nor chars, so an input type that admits
  * one (`containsNull = true`) fails analysis. */
case class WindowCounts(child: Expression, widths: Seq[Int])
    extends UnaryExpression with CodegenFallback {
  require(widths.nonEmpty && widths.forall(_ >= 1),
    s"window widths must be at least 1, got ${widths.mkString("[", ", ", "]")}")

  override def dataType: DataType =
    ArrayType(WindowCounts.statsType, containsNull = false)
  override def prettyName: String = "graft_window_counts"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, false) => TypeCheckResult.TypeCheckSuccess
    case ArrayType(StringType, true) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs units that cannot be null, got array<string> with containsNull = true")
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs array<string>, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val units = input.asInstanceOf[ArrayData]
    val m = units.numElements()
    // prefix(s) = chars of units 0 until s, so the window (s, n) has
    // prefix(s + n) - prefix(s) chars
    val prefix = new Array[Long](m + 1)
    val unitIds = new Array[Int](m)
    val intern = new java.util.HashMap[UTF8String, Integer](m * 4 / 3 + 1)
    var i = 0
    while (i < m) {
      // the key points into the input row, which outlives this eval
      val u = units.getUTF8String(i)
      prefix(i + 1) = prefix(i) + u.numChars
      val id = intern.get(u)
      if (id == null) { unitIds(i) = intern.size; intern.put(u, unitIds(i)) }
      else unitIds(i) = id
      i += 1
    }
    val maxWidth = widths.max
    val byWidth = new Array[InternalRow](maxWidth + 1)
    val ids = unitIds.clone()
    val counts = new Array[Int](m)
    val firstAt = new Array[Int](m)
    val pairs = new WindowCounts.PairIds(m)
    var distinct = intern.size
    var n = 1
    while (n <= maxWidth) {
      val w = math.max(m - n + 1, 0)
      if (n > 1) {
        // every (n−1)-window distinct ⇒ every n-window distinct, as
        // each n-window extends a distinct (n−1)-window
        if (distinct == w + 1) distinct = w
        else {
          pairs.clear()
          var s = 0
          while (s < w) {
            ids(s) = pairs.idOf((ids(s).toLong << 32) | unitIds(s + n - 1))
            s += 1
          }
          distinct = pairs.size
        }
      }
      var chars, distinctChars, top, dup = 0L
      if (distinct == w) {
        var s = 0
        while (s < w) {
          val c = prefix(s + n) - prefix(s)
          chars += c
          if (c > top) top = c
          s += 1
        }
        distinctChars = chars
      } else {
        java.util.Arrays.fill(counts, 0, distinct, 0)
        var s = 0
        while (s < w) {
          val id = ids(s)
          if (counts(id) == 0) firstAt(id) = s
          counts(id) += 1
          chars += prefix(s + n) - prefix(s)
          s += 1
        }
        var id = 0
        while (id < distinct) {
          val c = prefix(firstAt(id) + n) - prefix(firstAt(id))
          val all = counts(id) * c
          distinctChars += c
          if (all > top) top = all
          if (counts(id) >= 2) dup += all
          id += 1
        }
      }
      byWidth(n) = new GenericInternalRow(Array[Any](
        w.toLong, distinct.toLong, chars, distinctChars, top, dup))
      n += 1
    }
    new GenericArrayData(widths.map(byWidth(_)).toArray[Any])
  }

  override protected def withNewChildInternal(c: Expression): WindowCounts =
    copy(child = c)
}

object WindowCounts {
  /** One width's counts; every field is a non-null long. */
  val statsType: StructType = StructType(
    Seq("windows", "distinct", "chars", "distinct_chars", "top_chars", "dup_chars")
      .map(StructField(_, LongType, nullable = false)))

  def column(units: Column, widths: Seq[Int]): Column =
    GraftColumnBridge.column(WindowCounts(GraftColumnBridge.expression(units), widths))

  /** Dense ids for (window id, unit id) pairs packed into a long: an
    * open-addressing table with linear probing, sized for `maxPairs`
    * keys at load ≤ 1/2 and cleared between widths. */
  private final class PairIds(maxPairs: Int) {
    private val bits = math.max(4, 33 - Integer.numberOfLeadingZeros(math.max(maxPairs, 1)))
    private val mask = (1 << bits) - 1
    private val keys = new Array[Long](1 << bits)
    private val vals = new Array[Int](1 << bits)
    var size = 0

    def clear(): Unit = { java.util.Arrays.fill(vals, -1); size = 0 }

    def idOf(key: Long): Int = {
      var slot = ((key * 0x9E3779B97F4A7C15L) >>> (64 - bits)).toInt
      while (vals(slot) >= 0 && keys(slot) != key) slot = (slot + 1) & mask
      if (vals(slot) < 0) { keys(slot) = key; vals(slot) = size; size += 1 }
      vals(slot)
    }
  }
}

/** 64-bit SimHash: array<long> token-hashes → long via per-bit
  * majority vote — same output as TextFunctions.simHash64's Column
  * formulation. */
case class SimHash64(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"

  override def nullSafeEval(input: Any): Any = {
    val hashes = input.asInstanceOf[ArrayData]
    val n = hashes.numElements()
    val counts = new Array[Int](64)
    var j = 0
    while (j < n) {
      val h = hashes.getLong(j)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1
        b += 1
      }
      j += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) * 2 > n) out |= (1L << b)
      b += 1
    }
    java.lang.Long.valueOf(out)
  }

  override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)
}

object SimHash64 {
  def column(hashes: Column): Column =
    GraftColumnBridge.column(SimHash64(GraftColumnBridge.expression(hashes)))
}

/** Per-token XXH64 (seed 42, same as `xxhash64()`): array<string> →
  * array<long> in one eval — the native twin of
  * `transform(tokens, t => xxhash64(t))`, which pays an interpreted
  * lambda dispatch per token. */
case class TokenHashes64(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_token_hashes64"

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val n = toks.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      val u = toks.getUTF8String(i)
      out(i) = XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): TokenHashes64 =
    copy(child = c)
}

object TokenHashes64 {
  def column(tokens: Column): Column =
    GraftColumnBridge.column(TokenHashes64(GraftColumnBridge.expression(tokens)))
}

/** Per-token 32-bit md5-prefix hash: the value of the first 8 hex
  * digits of md5(token-utf8) — the cross-engine hash contract the md5
  * twin queries share with DuckDB (`strpos('0123…f', substr(md5(t),
  * k, 1))` folded over k = 1…8). One digest per token, no per-digit
  * Column ops. */
case class TokenHashesMd5x32(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_token_hashes_md5x32"

  override def nullSafeEval(input: Any): Any = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val toks = input.asInstanceOf[ArrayData]
    val n = toks.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      md.reset()
      val dig = md.digest(toks.getUTF8String(i).getBytes)
      // first 8 hex digits = first 4 bytes, big-endian unsigned
      out(i) = ((dig(0) & 0xffL) << 24) | ((dig(1) & 0xffL) << 16) |
        ((dig(2) & 0xffL) << 8) | (dig(3) & 0xffL)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): TokenHashesMd5x32 =
    copy(child = c)
}

object TokenHashesMd5x32 {
  def column(tokens: Column): Column =
    GraftColumnBridge.column(TokenHashesMd5x32(GraftColumnBridge.expression(tokens)))
}

/** Whole winnowing fingerprint selection in ONE eval (Schleimer et
  * al. 2003): token hashes → positional k-gram polynomial hashes
  * (P = 1000003; wrapping Long arithmetic when `mod` = 0, else each
  * step `(a·P mod m + h) mod m` — the 2³¹ variant the md5 twin shares
  * with DuckDB) → minimum of every w-wide window → sorted distinct.
  * Matches TextFunctions.positionalGramHashes ∘ winnowSelect exactly
  * (including the short-doc whole-array fallbacks), without the
  * per-window slice allocations and per-element lambda dispatch that
  * made the staged Column chain the bench's slowest pipeline. */
case class WinnowPrints(child: Expression, k: Int, w: Int, mod: Long)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_winnow_prints"

  override def nullSafeEval(input: Any): Any = {
    val th = input.asInstanceOf[ArrayData]
    val m = th.numElements()
    val P = 1000003L
    def comb(from: Int, until: Int): Long = {
      var h = 0L
      var j = from
      if (mod > 0L) {
        while (j < until) { h = (h * P % mod + th.getLong(j)) % mod; j += 1 }
      } else {
        while (j < until) { h = h * P + th.getLong(j); j += 1 }
      }
      h
    }
    val grams: Array[Long] =
      if (m >= k) Array.tabulate(m - k + 1)(s => comb(s, s + k))
      else Array(comb(0, m))
    val minima: Array[Long] =
      if (grams.length >= w) Array.tabulate(grams.length - w + 1) { j =>
        var mn = grams(j)
        var i = j + 1
        while (i < j + w) { if (grams(i) < mn) mn = grams(i); i += 1 }
        mn
      } else Array(grams.min)
    java.util.Arrays.sort(minima)
    var wr = 0
    var r = 0
    while (r < minima.length) {
      if (r == 0 || minima(r) != minima(r - 1)) { minima(wr) = minima(r); wr += 1 }
      r += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(minima, wr))
  }

  override protected def withNewChildInternal(c: Expression): WinnowPrints =
    copy(child = c)
}

object WinnowPrints {
  def column(tokenHashes: Column, k: Int, w: Int, mod: Long = 0L): Column =
    GraftColumnBridge.column(WinnowPrints(
      GraftColumnBridge.expression(tokenHashes), k, w, mod))
}

/** zlib compression-ratio quality signal: deflated length / raw UTF-8
  * length. The classic corpus-curation heuristic — templated or
  * repetitive documents compress far below natural prose, so a
  * low-ratio gate removes boilerplate that per-gram repetition checks
  * miss. Deterministic per (input, level): java.util.zip.Deflater is
  * the JDK's bundled zlib with a fixed strategy, and the RATIO is
  * additionally insensitive to buffer chunking. Empty/blank text
  * yields null (no information to measure), keeping gate expressions
  * tri-logic like the other quality signals. */
case class DeflateRatio(child: Expression, level: Int)
    extends UnaryExpression with CodegenFallback {
  require(level >= 1 && level <= 9, s"deflate level must be 1..9, got $level")

  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_deflate_ratio"

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    if (bytes.isEmpty) null
    else {
      val d = DeflateRatio.deflaterFor(level)
      d.reset()
      d.setInput(bytes)
      d.finish()
      val buf = new Array[Byte](8192)
      var total = 0L
      while (!d.finished()) total += d.deflate(buf)
      total.toDouble / bytes.length
    }
  }

  override protected def withNewChildInternal(c: Expression): DeflateRatio =
    copy(child = c)
}

object DeflateRatio {
  // One native Deflater per (executor thread, level), reset() between
  // rows: a new/end per evaluation allocates and frees a native zlib
  // stream per ROW, which dominates the cost of deflating short
  // documents on the 100 TB-scan path this gate targets. The pool is
  // STATIC (not per expression instance) so its native footprint is
  // bounded by threads × 9 levels for the life of the executor, no
  // matter how many queries deserialize fresh expression trees —
  // per-instance ThreadLocals would strand un-end()'d native streams
  // until GC collected each dead query's expressions.
  private val pool =
    ThreadLocal.withInitial[Array[java.util.zip.Deflater]](() =>
      new Array[java.util.zip.Deflater](10))

  private[plans] def deflaterFor(level: Int): java.util.zip.Deflater = {
    val slot = pool.get()
    if (slot(level) == null)
      slot(level) = new java.util.zip.Deflater(level, false)
    slot(level)
  }

  def column(text: Column, level: Int = 6): Column =
    GraftColumnBridge.column(DeflateRatio(
      GraftColumnBridge.expression(text), level))
}
