package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.types._
import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String

/** Static helpers referenced from generated code (codegen emits plain
  * Java, so these must be reachable by their JVM names). */
object ExprHelpers {
  /** Compiled once per JVM, not per row — String.matches would
    * recompile this Pattern on every invocation. */
  private val NumericPattern = java.util.regex.Pattern
    .compile("[+-]?(\\d+(\\.\\d*)?|\\.\\d+)([eE][+-]?\\d+)?")

  /** [[PdfText]]: shown-text runs joined with newlines; null when the
    * bytes are not a parseable PDF in the codec's profile. */
  def pdfText(content: Array[Byte]): UTF8String =
    graft.operators.PdfCodec.extractText(content) match {
      case Some(runs) => UTF8String.fromString(runs.mkString("\n"))
      case None => null
    }

  /** [[MediaDims]]: (format, width, height) from the real container
    * header parsers; null for unrecognized bytes. */
  def mediaDims(content: Array[Byte]): org.apache.spark.sql.catalyst.InternalRow =
    graft.operators.Multimodal.ImageCodec.sniff(content)
      .map(m => (m.format, m.width, m.height))
      .orElse(graft.operators.Y4mCodec.sniffDims(content)
        .map { case (w, h) => ("video/y4m", w, h) }) match {
      case Some((f, w, h)) =>
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](UTF8String.fromString(f), w, h))
      case None => null
    }

  /** The RE2 \s class [ \t\n\f\r] — NOT Java's \s (which adds \x0B)
    * and NOT Character.isWhitespace: the DuckDB oracle strips with
    * RE2's \s, so the native form, the composed Clean.parseMessyNumber
    * (explicit class, same members) and the oracle are pinned to the
    * SAME set. Unicode spaces (NBSP, EM space) and vertical tab
    * survive the strip in ALL THREE so each rejects them via the
    * numeric guard. */
  private def isAsciiSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\f' || c == '\r'

  /** O11 semantics (reference main.py:229-239 + sentinel rule
    * main.py:224-225), single pass over the string:
    * trim → sentinel→null → strip [$€£¥,\s%] → (x)→-x → double, with
    * a strict-numeric guard so garbage yields NULL, not an ANSI error. */
  def parseMessyNumber(s: UTF8String): java.lang.Double = {
    if (s == null) return null
    // SQL trim semantics (Spark trim / DuckDB trim): strip ' ' ONLY.
    // Java's String.trim strips every char <= U+0020 — a leading or
    // trailing control char (\x01, \x0B, ...) would vanish here but
    // survive in the composed form and the oracle, flipping NULL to a
    // parsed number. The interior strip below handles \t\n\f\r like
    // both other forms.
    val raw = s.toString
    var lo = 0
    var hi = raw.length
    while (lo < hi && raw.charAt(lo) == ' ') lo += 1
    while (hi > lo && raw.charAt(hi - 1) == ' ') hi -= 1
    val t = raw.substring(lo, hi)
    if (t.isEmpty || t == "N/A" || t == "---") return null
    val sb = new java.lang.StringBuilder(t.length)
    var i = 0
    while (i < t.length) {
      val c = t.charAt(i)
      val strip = c == '$' || c == '€' || c == '£' || c == '¥' ||
        c == ',' || c == '%' || isAsciiSpace(c)
      if (!strip) sb.append(c)
      i += 1
    }
    var u = sb.toString
    var neg = false
    if (u.length >= 2 && u.charAt(0) == '(' && u.charAt(u.length - 1) == ')') {
      neg = true
      u = u.substring(1, u.length - 1)
    }
    if (!NumericPattern.matcher(u).matches()) return null
    val v = java.lang.Double.parseDouble(u)
    java.lang.Double.valueOf(if (neg) -v else v)
  }

  /** Murmur3's 64-bit finalizer (fmix64): a bijective avalanche mix.
    * Applied to every emitted gram hash so the published values have
    * full-entropy low bits (a raw polynomial-mod-2^64 state has weak
    * low bits — the low k bits depend only on the low bits of the
    * inputs — which would bias anything that buckets by `h % m`). */
  private def fmix64(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^= x >>> 33
    x
  }

  /** First-occurrence-order dedup of a primitive long array via open
    * addressing (linear probe, power-of-two capacity): the row-local
    * replacement for a downstream `array_distinct(...)` pass — one
    * scan, no boxing, no per-element allocations. The inputs are
    * fmix64-finalized hashes, so their low bits are already
    * full-entropy probe starts. Zero is tracked out-of-band (the probe
    * table uses 0 as its empty sentinel). Returns the input array
    * unchanged when every element is distinct (the common case for
    * natural-text grams — no copy). */
  /** Does any element of `arr` occur in the SORTED `set`? Binary
    * search per element — see [[graft.plans.SortedLongsContainAny]]. */
  def containsAnySorted(arr: ArrayData, set: Array[Long]): Boolean = {
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (java.util.Arrays.binarySearch(set, arr.getLong(i)) >= 0) return true
      i += 1
    }
    false
  }

  /** Build a Bloom filter over 64-bit keys: power-of-two bit count
    * (≥ bitsPerKey·n, so the probe masks instead of mod), positions by
    * Kirsch–Mitzenmacher double hashing — h1 = fmix64(x),
    * h2 = fmix64(x ^ φ64) | 1 (odd ⇒ h1 + i·h2 walks all residues of
    * the power-of-two table), position_i = (h1 + i·h2) & (m-1). Both
    * derived hashes are full 64-bit avalanches of the key, so the two
    * streams are independent enough for the standard
    * (1 - e^{-kn/m})^k false-positive bound to hold in practice.
    * Deterministic: same keys (any order) ⇒ same bits. */
  def bloomBuild(keys: Array[Long], bitsPerKey: Int, numHashes: Int): Array[Long] = {
    require(bitsPerKey >= 1 && bitsPerKey <= 64,
      s"bloomBuild: bitsPerKey must be in [1, 64], got $bitsPerKey")
    require(numHashes >= 1 && numHashes <= 16,
      s"bloomBuild: numHashes must be in [1, 16], got $numHashes")
    val want = math.max(64L, keys.length.toLong * bitsPerKey)
    require(want <= (1L << 36),
      s"bloomBuild: ${keys.length} keys x $bitsPerKey bits exceeds the 8 GiB bound")
    var m = 64L
    while (m < want) m <<= 1
    val bits = new Array[Long]((m >>> 6).toInt)
    val mask = m - 1L
    var i = 0
    while (i < keys.length) {
      val x = keys(i)
      val h1 = fmix64(x)
      val h2 = fmix64(x ^ 0x9E3779B97F4A7C15L) | 1L
      var j = 0
      var h = h1
      while (j < numHashes) {
        // Positions stay Long until the word index: a .toInt on the
        // position itself would silently wrap above 2^32 bits and
        // cram every bit into the first 512 MiB of a larger table.
        val pos = h & mask
        bits((pos >>> 6).toInt) |= (1L << (pos & 63L).toInt)
        h += h2
        j += 1
      }
      i += 1
    }
    bits
  }

  /** Might `x` be in the Bloom filter built by [[bloomBuild]]? No
    * false negatives; false positives at the configured rate. `bits`
    * MUST have power-of-two length (bloomBuild guarantees it) and
    * `numHashes` MUST equal the build-time value — a probe with MORE
    * hashes than were set manufactures false negatives (the
    * [[graft.plans.Bloom]] carrier keeps them paired). */
  def bloomHit(x: Long, bits: Array[Long], numHashes: Int): Boolean = {
    val mask = (bits.length.toLong << 6) - 1L
    val h1 = fmix64(x)
    val h2 = fmix64(x ^ 0x9E3779B97F4A7C15L) | 1L
    var j = 0
    var h = h1
    while (j < numHashes) {
      val pos = h & mask
      if ((bits((pos >>> 6).toInt) & (1L << (pos & 63L).toInt)) == 0L) return false
      h += h2
      j += 1
    }
    true
  }

  /** Does any element of `arr` hit the Bloom filter? — see
    * [[graft.plans.BloomLongsContainAny]]. */
  def bloomContainsAny(arr: ArrayData, bits: Array[Long], numHashes: Int): Boolean = {
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (bloomHit(arr.getLong(i), bits, numHashes)) return true
      i += 1
    }
    false
  }

  def distinctLongs(in: Array[Long]): Array[Long] = {
    val n = in.length
    if (n <= 1) return in
    // Guard before sizing: past 2^29 elements `n * 2` would overflow
    // Int and leave cap=2, turning the probe loop into a hang. A
    // single row holding >512M grams is out of contract anyway (4 GiB
    // in one cell) — fail loudly instead of spinning.
    require(n <= (1 << 29),
      s"distinctLongs: $n elements exceeds the 2^29 row-local bound")
    var cap = 2
    while (cap < n * 2) cap <<= 1
    val mask = cap - 1
    val table = new Array[Long](cap)
    val out = new Array[Long](n)
    var m = 0
    var seenZero = false
    var i = 0
    while (i < n) {
      val v = in(i)
      if (v == 0L) {
        if (!seenZero) { seenZero = true; out(m) = 0L; m += 1 }
      } else {
        var idx = (v & mask).toInt
        while (table(idx) != 0L && table(idx) != v) idx = (idx + 1) & mask
        if (table(idx) == 0L) { table(idx) = v; out(m) = v; m += 1 }
      }
      i += 1
    }
    if (m == n) in else java.util.Arrays.copyOf(out, m)
  }

  /** All n-char-gram hashes of a string in ONE pass: a polynomial
    * rolling hash over code points (base = FNV-64 prime, arithmetic
    * mod 2^64 via Long overflow), each emitted value passed through
    * [[fmix64]]. Equality of grams ⇒ equality of hashes; distinct
    * grams collide with P ≈ #grams²/2^64 ON RANDOM INPUT — the same
    * trade the xxhash64(substr(...)) pipeline already documents, but
    * WITHOUT materializing one substring per position: O(len) total
    * instead of O(len·n) bytes copied + hashed.
    *
    * Adversarial caveat (unlike xxhash64): the underlying polynomial
    * has STRUCTURED collisions — mod-2^64 polynomial equalities are
    * solvable, so an adversary (or a pathologically repetitive corpus
    * aligned with the base) can construct colliding grams on purpose.
    * The bijective finalizer fixes the weak-low-bit bias but cannot
    * remove pre-image structure (a bijection preserves collision
    * sets). Colliding grams merge in the Jaccard count, INFLATING
    * similarity — i.e. adversarial failure mode is false-positive
    * near-dup pairs, never missed ones. For hostile corpora use the
    * xxhash64(substr) path (DedupSpec pins the two pair-for-pair
    * equal on benign input).
    *
    * Code points (not UTF-16 units) so gram boundaries match substr
    * semantics beyond the BMP. Shorter-than-n strings yield an empty
    * array. */
  def charGramHashes(s: UTF8String, n: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    // UnsafeArrayData.fromPrimitiveArray keeps the longs unboxed;
    // GenericArrayData(long[]) would box every element (ClassTag.Any)
    // — billions of Long allocations at corpus scale.
    if (s == null) return null
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(charGramLongs(s, n))
  }

  /** [[charGramHashes]] with row-local dedup fused in: equals
    * `array_distinct(char_gram_hashes(s, n))` (array_distinct also
    * keeps first-occurrence order) without the second generic-array
    * pass. Feeds the exact-Jaccard pipeline, whose per-doc gram SETS
    * are the unit of work. */
  def charGramHashesDistinct(s: UTF8String, n: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    if (s == null) return null
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(distinctLongs(charGramLongs(s, n)))
  }

  private def charGramLongs(s: UTF8String, n: Int): Array[Long] = {
    val cps = s.toString.codePoints().toArray
    val len = cps.length
    if (len < n) return Array.empty[Long]
    val B = 1099511628211L
    var pow = 1L
    var j = 0
    while (j < n - 1) { pow *= B; j += 1 }
    val out = new Array[Long](len - n + 1)
    // The RAW polynomial state rolls (the subtract-outgoing-term update
    // needs it); only the PUBLISHED values are finalized.
    var h = 0L
    var i = 0
    while (i < n) { h = h * B + cps(i); i += 1 }
    out(0) = fmix64(h)
    i = n
    while (i < len) {
      h = (h - cps(i - n) * pow) * B + cps(i)
      out(i - n + 1) = fmix64(h)
      i += 1
    }
    out
  }

  /** All w-WORD-gram hashes of a string in ONE pass — the map-only
    * replacement for the window-shuffle shingle generator
    * (graft.operators.Dedup.shingleRows builds each shingle with
    * lead() over a doc-partitioned window: a full shuffle+sort of the
    * tokenized corpus BEFORE any dedup work starts — the dominant
    * fixed cost of the whole near-dup family at scale).
    *
    * Tokenization matches Spark's split(text, " ") exactly: split on
    * EVERY single space, empty tokens kept (including trailing), so a
    * w-gram here equals concat_ws(" ", tok_i..tok_{i+w-1}) there.
    * Each token is hashed (char polynomial, fmix64-finalized so the
    * gram-level algebra can't interact with the token-level algebra),
    * then a rolling polynomial over the token hashes yields one
    * 64-bit value per gram position, fmix64-finalized on publish.
    * Same adversarial caveat as [[charGramHashes]].
    *
    * Fewer-than-w tokens → empty array; null → null. */
  def wordGramHashes(s: UTF8String, w: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    if (s == null) return null
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(wordGramLongs(s, w))
  }

  /** [[wordGramHashes]] with row-local dedup fused in (see
    * [[charGramHashesDistinct]]). */
  def wordGramHashesDistinct(s: UTF8String, w: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    if (s == null) return null
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(distinctLongs(wordGramLongs(s, w)))
  }

  private def wordGramLongs(s: UTF8String, w: Int): Array[Long] = {
    val str = s.toString
    val len = str.length
    var nTok = 1
    var i = 0
    while (i < len) { if (str.charAt(i) == ' ') nTok += 1; i += 1 }
    if (nTok < w) return Array.empty[Long]
    val B = 1099511628211L
    // Per-token state seeds NON-ZERO: with a zero seed the empty
    // token, an all-NUL token, and tokens differing only by leading
    // NULs would all reach the same state (0·B + 0 = 0), making
    // DISTINCT grams compare equal deterministically — unlike the
    // documented probabilistic n²/2^64 trade. A non-zero seed makes
    // the state length-sensitive (seed·B^len + Σ c·B^i), so those
    // families separate.
    val Seed = 0x9E3779B97F4A7C15L
    val th = new Array[Long](nTok)
    var t = 0
    var h = Seed
    i = 0
    while (i < len) {
      val c = str.charAt(i)
      if (c == ' ') { th(t) = fmix64(h); t += 1; h = Seed }
      else h = h * B + c
      i += 1
    }
    th(t) = fmix64(h)
    var pow = 1L
    var j = 0
    while (j < w - 1) { pow *= B; j += 1 }
    val out = new Array[Long](nTok - w + 1)
    var g = 0L
    j = 0
    while (j < w) { g = g * B + th(j); j += 1 }
    out(0) = fmix64(g)
    j = w
    while (j < nTok) {
      g = (g - th(j - w) * pow) * B + th(j)
      out(j - w + 1) = fmix64(g)
      j += 1
    }
    out
  }

  /** MinHash domain prime (2^31 - 1) and the reproducible coefficient
    * streams — the single source of truth for the signature algebra
    * (graft.operators.Dedup delegates here, so the aggregate form and
    * the fused expression can never drift apart). Coefficients come
    * from a fixed-seed LCG, interleaved a,b per hash index, and are
    * cached per k (they are computed per ROW otherwise). */
  val MinHashP: Long = 2147483647L
  private val minHashCoefCache =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]()
  def minHashCoefArrays(k: Int): (Array[Long], Array[Long]) =
    minHashCoefCache.computeIfAbsent(k, _ => {
      var state = 42L
      def next(): Long = {
        state = state * 6364136223846793005L + 1442695040888963407L
        (state >>> 33) % (MinHashP - 1) + 1
      }
      val as = new Array[Long](k)
      val bs = new Array[Long](k)
      var i = 0
      while (i < k) { as(i) = next(); bs(i) = next(); i += 1 }
      (as, bs)
    })

  /** Fused text → MinHash-k signature in ONE pass: tokenize, roll the
    * word-gram hash, fold each gram straight into the k running minima.
    * This is the map-only replacement for the explode + groupBy(doc_id)
    * + k·min() aggregation — that aggregation is a full corpus-wide
    * shuffle of the gram stream, this is a scan-side expression (which
    * is also what makes dedup-on-ingest streaming-trivial: a signature
    * needs no aggregation state). Signature VALUES are identical to
    * the aggregate form (pinned in DedupSpec): gram hash folded by
    * pmod into [0, P), then min over (h·a_i + b_i) mod P per i.
    * h < P and a_i < P keep h·a_i + b_i < 2^62 — no overflow.
    * Fewer than w tokens → NULL (the aggregate form emits no row for
    * such docs); null in → null out. */
  def minHashSigs(s: UTF8String, w: Int, k: Int): ArrayData = {
    if (s == null) return null
    sigsFromGramLongs(wordGramLongs(s, w), k)
  }

  /** [[minHashSigs]] over CHARACTER n-grams — same k-minima fold,
    * [[charGramLongs]] as the gram stream (duplicates are harmless:
    * min is idempotent, so the non-distinct one-pass generator is the
    * right input). Shorter than n chars → NULL, mirroring the word
    * form's no-grams contract. */
  def charMinHashSigs(s: UTF8String, n: Int, k: Int): ArrayData = {
    if (s == null) return null
    sigsFromGramLongs(charGramLongs(s, n), k)
  }

  /** Shared k-minima fold of both signature forms: gram hash folded by
    * pmod into [0, P), then min over (h·a_i + b_i) mod P per i.
    * h < P and a_i < P keep h·a_i + b_i < 2^62 — no overflow. */
  private def sigsFromGramLongs(grams: Array[Long], k: Int): ArrayData = {
    if (grams.length == 0) return null
    val (as, bs) = minHashCoefArrays(k)
    val out = new Array[Long](k)
    java.util.Arrays.fill(out, Long.MaxValue)
    var gi = 0
    while (gi < grams.length) {
      val m = grams(gi) % MinHashP
      val h = if (m < 0) m + MinHashP else m
      var i = 0
      while (i < k) {
        val v = (h * as(i) + bs(i)) % MinHashP
        if (v < out(i)) out(i) = v
        i += 1
      }
      gi += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  /** Fused text → SimHash bands in ONE pass: tokenize on the space
    * BYTE (0x20 never occurs inside a UTF-8 multibyte sequence, so
    * byte-level splitting is exactly split(text, " ")), hash each
    * token with the SAME XXH64(seed 42) Spark's xxhash64 uses — over
    * the token's byte range in place, no substring materialization —
    * and accumulate the 64 ±1 bit votes. Output = the two 32-bit
    * bands ([low, high]) the multiprobe join consumes, bit kk of band
    * j set iff vote s_{32j+kk} > 0 — bit-identical to the explode +
    * groupBy + 64·sum() aggregate form (pinned in DedupSpec), minus
    * its corpus-wide exchange. Empty tokens (leading/trailing/double
    * spaces) vote like the exploded form: they are tokens there too.
    * Null → null; "" is ONE empty token (split semantics). */
  def simHashBands(s: UTF8String): ArrayData = {
    if (s == null) return null
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    val votes = new Array[Int](64)
    var tokStart = 0
    var i = 0
    while (i <= n) {
      val atEnd = i == n
      if (atEnd || s.getByte(i) == 0x20.toByte) {
        val h = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashUnsafeBytes(base, off + tokStart, i - tokStart, 42L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
        tokStart = i + 1
      }
      i += 1
    }
    val out = new Array[Long](2)
    var j = 0
    while (j < 2) {
      var band = 0L
      var kk = 0
      while (kk < 32) {
        if (votes(j * 32 + kk) > 0) band |= (1L << kk)
        kk += 1
      }
      out(j) = band
      j += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  /** All w-word-gram STRINGS of a string in one pass. Because the
    * tokenization is split-on-single-space (empty tokens kept), the
    * joined gram `concat_ws(" ", tok_i..tok_{i+w-1})` is EXACTLY the
    * substring of the input from token i's start to token i+w-1's end
    * — so each gram is one substring copy, no per-gram expression-tree
    * interpretation (the transform(sequence(...), concat_ws) HOF form
    * this replaces evaluates an interpreted lambda per gram: measured
    * ~10× slower on the corpus). Equality pinned in ExpressionSpec.
    * Fewer-than-w tokens → empty array; null → null. */
  def wordGrams(s: UTF8String, w: Int): ArrayData = {
    if (s == null) return null
    val str = s.toString
    val len = str.length
    var nTok = 1
    var i = 0
    while (i < len) { if (str.charAt(i) == ' ') nTok += 1; i += 1 }
    if (nTok < w)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[AnyRef])
    val starts = new Array[Int](nTok)
    val ends = new Array[Int](nTok)
    var t = 0
    starts(0) = 0
    i = 0
    while (i < len) {
      if (str.charAt(i) == ' ') { ends(t) = i; t += 1; starts(t) = i + 1 }
      i += 1
    }
    ends(t) = len
    val out = new Array[AnyRef](nTok - w + 1)
    var j = 0
    while (j <= nTok - w) {
      out(j) = UTF8String.fromString(str.substring(starts(j), ends(j + w - 1)))
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Distributed BPE tokenizer APPLY (the corpus-scale counterpart of
    * [[graft.operators.Bpe.encode]], the driver reference whose
    * per-word semantics this replicates exactly): whitespace-split
    * the (pre-lowercased) text — split on the RE2/Java `\s` class
    * [ \t\n\f\r], empty tokens dropped, matching
    * `Bpe.wordWeights`'s `split(lower(text), "\\s+")` — then encode
    * each word by applying the trained merges in RANK ORDER, each
    * merge one left-to-right non-overlapping pass with the
    * prev-reset pairing discipline, and concatenate the per-word
    * token streams. Map-only: tokenizing 100 TB is one scan — no
    * shuffle, no state, merges ride once per task as a referenced
    * object. `flat` is the merge list flattened [l0,r0,l1,r1,…].
    * Null → null; no words → empty array. */
  def bpeEncodeTokens(s: UTF8String, flat: Array[String]): ArrayData = {
    if (s == null) return null
    val str = s.toString
    val n = str.length
    def isWs(c: Char): Boolean =
      c == ' ' || c == '\t' || c == '\n' || c == '\u000B' ||
        c == '\f' || c == '\r'
    val out = scala.collection.mutable.ArrayBuffer.empty[AnyRef]
    var i = 0
    while (i < n) {
      while (i < n && isWs(str.charAt(i))) i += 1
      val start = i
      while (i < n && !isWs(str.charAt(i))) i += 1
      if (i > start) {
        var syms: Array[String] = {
          val a = new Array[String](i - start)
          var k = 0
          while (k < a.length) {
            a(k) = String.valueOf(str.charAt(start + k)); k += 1
          }
          a
        }
        var m = 0
        while (m < flat.length && syms.length > 1) {
          val l = flat(m); val r = flat(m + 1)
          val buf = new scala.collection.mutable.ArrayBuffer[String](
            syms.length)
          var prev: String = null
          var j = 0
          while (j < syms.length) {
            val x = syms(j)
            if (prev == null) prev = x
            else if (prev == l && x == r) { buf += (l + r); prev = null }
            else { buf += prev; prev = x }
            j += 1
          }
          if (prev != null) buf += prev
          syms = buf.toArray
          m += 2
        }
        var k = 0
        while (k < syms.length) {
          out += UTF8String.fromString(syms(k)); k += 1
        }
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  /** Dot product over two float arrays, accumulated in double,
    * left-to-right (same fold order as the HOF form and the DuckDB
    * oracle). Null arrays, length mismatches AND null ELEMENTS yield
    * null — the aggregate(zip_with(...)) form this expression is a
    * drop-in for propagates a null element to a null sum, and the
    * native form must not silently read the zeroed slot instead. */
  def dotFloat(a: ArrayData, b: ArrayData): java.lang.Double = {
    if (a == null || b == null || a.numElements() != b.numElements()) return null
    var acc = 0.0
    var i = 0
    val n = a.numElements()
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  /** [[DotLongWeights]]: exact integer dot of an ARRAY<BIGINT> row
    * vector against a TRAINED weight vector (a referenced object, not
    * a literal array) — drop-in for
    * `aggregate(zip_with(x, wLit, a*b), 0L, acc+v)`, the logistic
    * trainer/scorer hot path. Null array, length mismatch (zip_with
    * null-pads the shorter side, poisoning the sum) and null ELEMENTS
    * all yield null exactly like the HOF chain; arithmetic is
    * overflow-checked (Math.*Exact) so out-of-range inputs fail
    * loudly like the HOF form under ANSI instead of wrapping. */
  def dotLongWeights(x: ArrayData, w: Array[Long]): java.lang.Long = {
    if (x == null || x.numElements() != w.length) return null
    var acc = 0L
    var i = 0
    while (i < w.length) {
      if (x.isNullAt(i)) return null
      acc = Math.addExact(acc, Math.multiplyExact(x.getLong(i), w(i)))
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }

  /** [[NearestCellId]]: exact-integer argmin over the centroid matrix
    * with (dist, cid) tie-break — one tight loop instead of the
    * k-lambda `array_min(transform(struct(sqDist...)))` chain, whose
    * per-element interpreted lambdas cost k×d invocations PER ROW (and
    * re-evaluate the child quantize subtree per centroid). Arithmetic
    * is OVERFLOW-CHECKED Java long (Math.*Exact — JIT intrinsics, the
    * never-taken overflow branch is free): in-range inputs are
    * bit-identical to the HOF form (pinned in TrainedIvfSpec/
    * ExpressionSpec), and overflow throws exactly like the HOF chain
    * under Spark's default ANSI mode — never a silently wrapped
    * argmin. Null elements / dimension mismatches fail loudly too —
    * in the HOF form they null out the distance and corrupt the
    * argmin silently, which is strictly worse for an index build. */
  def nearestCellId(qv: ArrayData, cents: Array[Array[Long]]): Int = {
    var best = 0L
    var bestCid = -1
    var c = 0
    while (c < cents.length) {
      val acc = cellSqDist(qv, cents(c))
      if (bestCid < 0 || acc < best) { best = acc; bestCid = c }
      c += 1
    }
    bestCid
  }

  /** [[NearestCellIds]]: the `probes` nearest cell ids, nearest first,
    * under the same exact (dist, cid) total order as [[nearestCellId]]
    * — the native form of `slice(array_sort(cellDists), 1, probes)`.
    * Selection over the k-sized distance table (probes ≤ k always in
    * practice; k is the 64-ish coarse cell count, not the corpus). */
  def nearestCellIds(qv: ArrayData, cents: Array[Array[Long]],
                     probes: Int): ArrayData = {
    val k = cents.length
    val dists = new Array[Long](k)
    var c = 0
    while (c < k) { dists(c) = cellSqDist(qv, cents(c)); c += 1 }
    val p = if (probes < k) probes else k
    val out = new Array[Int](p)
    val taken = new Array[Boolean](k)
    var r = 0
    while (r < p) {
      var best = 0L
      var bestCid = -1
      c = 0
      while (c < k) {
        if (!taken(c) && (bestCid < 0 || dists(c) < best)) {
          best = dists(c); bestCid = c
        }
        c += 1
      }
      taken(bestCid) = true
      out(r) = bestCid
      r += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  /** [[PqEncode]]: per-subspace exact-integer argmin codeword ids —
    * the native form of the m×k nested-transform encode, which at
    * m=8, k=16, d=64 costs ~1k interpreted lambda element invocations
    * per row (the measured 100×-slower-than-scan encode pass). */
  def pqEncode(qv: ArrayData, cbs: Array[Array[Array[Long]]]): ArrayData = {
    val m = cbs.length
    val dsub = cbs(0)(0).length
    if (qv.numElements() != m * dsub)
      throw new IllegalArgumentException(
        s"pq_encode: vector dim ${qv.numElements()} != m*dsub = ${m * dsub}")
    val codes = new Array[Int](m)
    var s = 0
    while (s < m) {
      val cb = cbs(s)
      val base = s * dsub
      var best = 0L
      var bestId = -1
      var j = 0
      while (j < cb.length) {
        val cw = cb(j)
        var acc = 0L
        var i = 0
        while (i < dsub) {
          if (qv.isNullAt(base + i))
            throw new IllegalArgumentException(
              s"pq_encode: NULL element at dim ${base + i} — quantize " +
                "non-null vectors only")
          val diff = Math.subtractExact(qv.getLong(base + i), cw(i))
          acc = Math.addExact(acc, Math.multiplyExact(diff, diff))
          i += 1
        }
        if (bestId < 0 || acc < best) { best = acc; bestId = j }
        j += 1
      }
      codes(s) = bestId
      s += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(codes)
  }

  /** [[IvfPqResidualEncode]]: the fused coarse-assign → residual →
    * PQ-encode pass of the Jégou et al. IVF-ADC design (codes encode
    * x − c(cell), not x — the codebooks only have to cover the
    * within-cell spread, which is what buys residual PQ its recall).
    * One loop, no residual array materialized: the subspace distances
    * read (qv[i] − cv[i] − cw[i])² directly. Returns
    * struct(cell: int, codes: array<int>); same exact-integer (dist,
    * id) argmin contract as [[nearestCellId]] + [[pqEncode]], pinned
    * against that composed form in PqSpec. */
  def ivfPqResidualEncode(qv: ArrayData, cents: Array[Array[Long]],
                          cbs: Array[Array[Array[Long]]]
                         ): org.apache.spark.sql.catalyst.InternalRow = {
    val cell = nearestCellId(qv, cents)
    val cv = cents(cell)
    val m = cbs.length
    val dsub = cbs(0)(0).length
    if (qv.numElements() != m * dsub)
      throw new IllegalArgumentException(
        s"ivfpq_residual_encode: vector dim ${qv.numElements()} != " +
          s"m*dsub = ${m * dsub}")
    val codes = new Array[Int](m)
    var s = 0
    while (s < m) {
      val cb = cbs(s)
      val base = s * dsub
      var best = 0L
      var bestId = -1
      var j = 0
      while (j < cb.length) {
        val cw = cb(j)
        var acc = 0L
        var i = 0
        while (i < dsub) {
          val diff = Math.subtractExact(
            Math.subtractExact(qv.getLong(base + i), cv(base + i)), cw(i))
          acc = Math.addExact(acc, Math.multiplyExact(diff, diff))
          i += 1
        }
        if (bestId < 0 || acc < best) { best = acc; bestId = j }
        j += 1
      }
      codes(s) = bestId
      s += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](cell,
        org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
          .fromPrimitiveArray(codes)))
  }

  /** [[LshBandSigns]]: the random-hyperplane LSH signature of one
    * embedding — numBands band values, each bandBits sign bits of
    * Rademacher (±1) projections — in ONE per-row loop. The composed
    * form pays a d-row posexplode, a 64-conditional-sum groupBy
    * shuffle AND a join back per corpus pass (the "expensive step"
    * Dedup.writeLshIndex documents); this is map-only. Bit-identical
    * to that form: hyperplane b's coefficient for dimension pos is
    * bit b of xxhash64(pos) (same seed-42 XXH64), contributions sum
    * in pos order as doubles (the aggregate's partial-sum order for
    * rows exploded from one input row), null elements are skipped
    * (sum-over-null semantics), and the sign test is `> 0`. */
  def lshBandValues(v: ArrayData, bandBits: Int, numBands: Int): ArrayData = {
    val nBits = bandBits * numBands
    val sums = new Array[Double](nBits)
    val d = v.numElements()
    var i = 0
    while (i < d) {
      if (!v.isNullAt(i)) {
        val x = v.getFloat(i).toDouble
        val h = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashLong(i.toLong, 42L)
        var b = 0
        while (b < nBits) {
          sums(b) += (if (((h >>> b) & 1L) == 1L) x else -x)
          b += 1
        }
      }
      i += 1
    }
    val bands = new Array[Long](numBands)
    var j = 0
    while (j < numBands) {
      var acc = 0L
      var kk = 0
      while (kk < bandBits) {
        if (sums(j * bandBits + kk) > 0) acc |= (1L << kk)
        kk += 1
      }
      bands(j) = acc
      j += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(bands)
  }

  /** [[AdcDistance]]: m lookups + adds — the ADC scan's per-candidate
    * hot path. Mirrors the `aggregate(zip_with(codes, lut,
    * element_at))` form's null semantics: any length mismatch or
    * out-of-range code yields NULL (non-ANSI element_at), never a
    * wrong sum. */
  def adcDist(codes: ArrayData, lut: ArrayData): java.lang.Long = {
    val m = codes.numElements()
    if (lut.numElements() != m) return null
    var acc = 0L
    var s = 0
    while (s < m) {
      if (codes.isNullAt(s) || lut.isNullAt(s)) return null
      val row = lut.getArray(s)
      val c = codes.getInt(s)
      if (c < 0 || c >= row.numElements() || row.isNullAt(c)) return null
      acc = Math.addExact(acc, row.getLong(c))
      s += 1
    }
    java.lang.Long.valueOf(acc)
  }

  private def cellSqDist(qv: ArrayData, cv: Array[Long]): Long = {
    val d = qv.numElements()
    if (cv.length != d)
      throw new IllegalArgumentException(
        s"nearest_cell: vector dim $d != centroid dim ${cv.length}")
    var acc = 0L
    var i = 0
    while (i < d) {
      if (qv.isNullAt(i))
        throw new IllegalArgumentException(
          s"nearest_cell: NULL element at dim $i — quantize non-null " +
            "vectors only")
      val diff = Math.subtractExact(qv.getLong(i), cv(i))
      acc = Math.addExact(acc, Math.multiplyExact(diff, diff))
      i += 1
    }
    acc
  }
}

/** Native Catalyst form of the O11 messy-number cast (SURVEY.md §7.5's
  * optional optimization): one compiled pass instead of the composed
  * trim/regexp_replace ×2/concat/rlike/cast chain — fewer string
  * allocations per row and a single regex only on the cleaned tail.
  * Verified equivalent to [[graft.functions.Clean.parseMessyNumber]]
  * in ExpressionSpec. */
case class ParseMessyNumber(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"parse_messy_number expects STRING, got ${child.dataType.sql}")

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else {
      val r = ExprHelpers.parseMessyNumber(v.asInstanceOf[UTF8String])
      if (r == null) null else r.doubleValue()
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
        java.lang.Double ${ev.value}_r = graft.plans.ExprHelpers.parseMessyNumber($c);
        if (${ev.value}_r == null) { ${ev.isNull} = true; }
        else { ${ev.value} = ${ev.value}_r.doubleValue(); }
      """
    })

  override protected def withNewChildInternal(newChild: Expression): ParseMessyNumber =
    copy(child = newChild)
}

/** SQL surface for the pure-JVM PDF text layer: `pdf_text(binary)`
  * extracts the shown text of a PDF in [[graft.operators.PdfCodec]]'s
  * profile (runs joined with newlines), NULL for anything
  * unparseable — the scan-side building block for `SELECT
  * pdf_text(content) FROM uploads`-style corpus queries, map-only at
  * any scale. */
case class PdfText(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"pdf_text expects BINARY, got ${child.dataType.sql}")

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else ExprHelpers.pdfText(v.asInstanceOf[Array[Byte]])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
        ${ev.value} = graft.plans.ExprHelpers.pdfText($c);
        if (${ev.value} == null) { ${ev.isNull} = true; }
      """)

  override protected def withNewChildInternal(newChild: Expression): PdfText =
    copy(child = newChild)
}

/** SQL surface for the container-header codec:
  * `media_dims(binary)` → STRUCT(format, width, height) via the real
  * PNG/JPEG/GIF/BMP header parsers plus the Y4M stream header, NULL
  * for unrecognized bytes — typed media metadata straight off a scan
  * of raw payloads. */
case class MediaDims(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false)))
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"media_dims expects BINARY, got ${child.dataType.sql}")

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else ExprHelpers.mediaDims(v.asInstanceOf[Array[Byte]])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
        ${ev.value} = graft.plans.ExprHelpers.mediaDims($c);
        if (${ev.value} == null) { ${ev.isNull} = true; }
      """)

  override protected def withNewChildInternal(newChild: Expression): MediaDims =
    copy(child = newChild)
}

/** Native float-array dot product for the similarity operators: the
  * higher-order `aggregate(zip_with(...))` form is interpreted per
  * element; this compiles to one tight loop per row. */
case class DotProductFloat(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true // containsNull-agnostic
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_product_float expects ARRAY<FLOAT> args, got " +
        s"${left.dataType.sql}, ${right.dataType.sql}")
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val l = left.eval(input)
    val r = right.eval(input)
    if (l == null || r == null) null
    else {
      val d = ExprHelpers.dotFloat(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
      if (d == null) null else d.doubleValue()
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      s"""
        java.lang.Double ${ev.value}_r = graft.plans.ExprHelpers.dotFloat($l, $r);
        if (${ev.value}_r == null) { ${ev.isNull} = true; }
        else { ${ev.value} = ${ev.value}_r.doubleValue(); }
      """
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): DotProductFloat =
    copy(left = newLeft, right = newRight)
}

/** Native char-gram hasher for the exact near-dup pipeline: one array
  * of gram hashes per document row, exploded downstream — replaces the
  * explode(positions) → substr → xxhash64 chain (one string allocation
  * + full rehash PER GRAM) with a single rolling pass per document.
  * `distinct = true` fuses the row-local dedup in (equals a following
  * array_distinct, without the second generic-array pass — the shape
  * the exact-Jaccard pipeline wants, since its unit of work is the
  * per-doc gram SET). Verified pair-for-pair equivalent to the substr
  * pipeline in ExpressionSpec/DedupSpec. */
case class CharGramHashes(child: Expression, n: Int,
                          distinct: Boolean = false) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  // null out only for null in — keep non-nullable inputs non-nullable
  // so downstream plans skip the null checks.
  override def nullable: Boolean = child.nullable
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && n >= 1) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"char_gram_hashes expects (STRING, n >= 1), got ${child.dataType.sql}, n=$n")

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else if (distinct) ExprHelpers.charGramHashesDistinct(v.asInstanceOf[UTF8String], n)
    else ExprHelpers.charGramHashes(v.asInstanceOf[UTF8String], n)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = if (distinct) "charGramHashesDistinct" else "charGramHashes"
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.ExprHelpers.$m($c, $n);")
  }

  override protected def withNewChildInternal(newChild: Expression): CharGramHashes =
    copy(child = newChild)
}

/** Native word-gram hasher: the shuffle-free shingle generator for the
  * near-dup/dedup/decontamination family. One array of gram hashes per
  * document, computed scan-side — where Dedup.shingleRows pays a full
  * window shuffle+sort of the token stream before the first candidate
  * join, this is a map-only expression feeding explode. Verified
  * structurally equivalent (per-doc gram counts, distinct counts) to
  * the window path in ExpressionSpec/DedupSpec. */
case class WordGramHashes(child: Expression, w: Int,
                          distinct: Boolean = false) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && w >= 1) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"word_gram_hashes expects (STRING, w >= 1), got ${child.dataType.sql}, w=$w")

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else if (distinct) ExprHelpers.wordGramHashesDistinct(v.asInstanceOf[UTF8String], w)
    else ExprHelpers.wordGramHashes(v.asInstanceOf[UTF8String], w)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = if (distinct) "wordGramHashesDistinct" else "wordGramHashes"
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.ExprHelpers.$m($c, $w);")
  }

  override protected def withNewChildInternal(newChild: Expression): WordGramHashes =
    copy(child = newChild)
}

/** Fused MinHash signature expression (see [[ExprHelpers.minHashSigs]]):
  * text → array of k signature minima, scan-side, no aggregation.
  * NULLABLE regardless of the child: a doc shorter than w tokens has
  * no grams and therefore no signature (mirroring the aggregate form,
  * which emits no row) — consumers filter nulls. */
case class MinHashSigs(child: Expression, w: Int, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && w >= 1 && k >= 1)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"minhash_sigs expects (STRING, w >= 1, k >= 1), got ${child.dataType.sql}, w=$w, k=$k")

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else ExprHelpers.minHashSigs(v.asInstanceOf[UTF8String], w, k)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value}_r =
        graft.plans.ExprHelpers.minHashSigs($c, $w, $k);
      if (${ev.value}_r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ${ev.value}_r; }
    """)

  override protected def withNewChildInternal(newChild: Expression): MinHashSigs =
    copy(child = newChild)
}

/** [[MinHashSigs]] over character n-grams (see
  * [[ExprHelpers.charMinHashSigs]]) — the signer behind the char-gram
  * dedup family's banded scale path. Same nullability contract: text
  * shorter than n chars has no grams, hence NULL signature. */
case class CharMinHashSigs(child: Expression, n: Int, k: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && n >= 1 && k >= 1)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"char_minhash_sigs expects (STRING, n >= 1, k >= 1), got ${child.dataType.sql}, n=$n, k=$k")

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else ExprHelpers.charMinHashSigs(v.asInstanceOf[UTF8String], n, k)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value}_r =
        graft.plans.ExprHelpers.charMinHashSigs($c, $n, $k);
      if (${ev.value}_r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ${ev.value}_r; }
    """)

  override protected def withNewChildInternal(newChild: Expression): CharMinHashSigs =
    copy(child = newChild)
}

/** Fused SimHash band expression (see [[ExprHelpers.simHashBands]]):
  * text → [band0, band1] (2×32-bit), scan-side, no aggregation. */
case class SimHashBands(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"simhash_bands expects STRING, got ${child.dataType.sql}")

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else ExprHelpers.simHashBands(v.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.ExprHelpers.simHashBands($c);")

  override protected def withNewChildInternal(newChild: Expression): SimHashBands =
    copy(child = newChild)
}

/** Native word-gram STRING generator (see [[ExprHelpers.wordGrams]]):
  * the codegen replacement for interpreted transform/concat_ws gram
  * lambdas wherever the gram TEXT is needed downstream (PMI,
  * collocation mining); the hash forms stay the right tool when only
  * gram equality matters. */
case class WordGrams(child: Expression, w: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && w >= 1) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"word_grams expects (STRING, w >= 1), got ${child.dataType.sql}, w=$w")

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else ExprHelpers.wordGrams(v.asInstanceOf[UTF8String], w)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.ExprHelpers.wordGrams($c, $w);")

  override protected def withNewChildInternal(newChild: Expression): WordGrams =
    copy(child = newChild)
}

/** Corpus-scale BPE tokenizer application (see
  * [[ExprHelpers.bpeEncodeTokens]]): (pre-lowercased) text → the full
  * token stream under a trained merge list — the PRODUCTION step
  * after [[graft.operators.Bpe.train]], where the whole corpus
  * tokenizes in one map-only scan. The flattened merge pairs ride
  * once as a referenced object in interpreted and generated code
  * alike (the [[SortedLongsContainAny]] discipline) — never
  * serialized per row, never a literal in the generated source (so
  * one janino compile serves every merge list). */
case class BpeEncodeTokens(child: Expression, flatMerges: Array[String])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && flatMerges.length % 2 == 0)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bpe_encode expects (STRING, flattened merge pairs), got " +
        s"${child.dataType.sql}, ${flatMerges.length} flat entries")

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else ExprHelpers.bpeEncodeTokens(v.asInstanceOf[UTF8String], flatMerges)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeMerges", flatMerges, "java.lang.String[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.ExprHelpers.bpeEncodeTokens($c, $ref);")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeEncodeTokens =
    copy(child = newChild)
}

/** `array<long> ∩ sorted-literal-set ≠ ∅`, by per-element binary
  * search: the probe shape of the STREAMING decontamination flag
  * (Decontaminate.contaminationFlag). arrays_overlap against a big
  * literal set would rebuild a hash set of the smaller side and
  * iterate the LARGER side per row — O(|eval|) per document; this
  * expression is O(g · log |eval|) per row with zero per-row
  * allocation (the sorted set rides once as a referenced object in
  * both interpreted and generated code). */
case class SortedLongsContainAny(child: Expression, sorted: Array[Long])
  extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = child.nullable
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"sorted_longs_contain_any expects ARRAY<BIGINT>, got ${other.sql}")
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else ExprHelpers.containsAnySorted(v.asInstanceOf[ArrayData], sorted)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sortedSet", sorted, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.ExprHelpers.containsAnySorted($c, $ref);")
  }

  override protected def withNewChildInternal(newChild: Expression): SortedLongsContainAny =
    copy(child = newChild)
}

/** A built Bloom filter: the bit table TOGETHER with the hash count
  * it was built with. The pairing is load-bearing — probing with more
  * hashes than were set manufactures false negatives, the one error
  * the filter promises never to make — so the probe API takes this
  * carrier, not a bare array. */
final case class Bloom(bits: Array[Long], numHashes: Int) {
  require(bits.nonEmpty && (bits.length & (bits.length - 1)) == 0,
    "Bloom: bits length must be a power of two (use ExprHelpers.bloomBuild)")
  require(numHashes >= 1 && numHashes <= 16,
    s"Bloom: numHashes must be in [1, 16], got $numHashes")
}

/** `array<long>` ∩ Bloom filter ≠ ∅ — the CONSTANT-MEMORY sibling of
  * [[SortedLongsContainAny]] for reference sets too large to ship
  * verbatim: the sorted-set probe broadcasts 64 bits per key, this one
  * ~12 (configurable), a 5–6x smaller task-side footprint with the
  * one-sided error a Bloom filter buys it — NO false negatives, false
  * positives at the (1 - e^{-k/bpk})^k rate. That error mode is
  * exactly what a two-phase decontamination gate wants: the bloom pass
  * can only OVER-flag, and the exact refine pass (which now touches
  * only the flagged sliver of the corpus) removes the overshoot, so
  * the composition is exact while the corpus-wide scan probes nothing
  * bigger than the filter. Probe math in [[ExprHelpers.bloomHit]];
  * the bits ride once as a referenced object in interpreted and
  * generated code alike, same as the sorted set. */
case class BloomLongsContainAny(child: Expression, bloom: Bloom)
  extends UnaryExpression {
  private def bits: Array[Long] = bloom.bits
  private def numHashes: Int = bloom.numHashes

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = child.nullable
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bloom_longs_contain_any expects ARRAY<BIGINT>, got ${other.sql}")
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else ExprHelpers.bloomContainsAny(v.asInstanceOf[ArrayData], bits, numHashes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomBits", bits, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.ExprHelpers.bloomContainsAny($c, $ref, $numHashes);")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomLongsContainAny =
    copy(child = newChild)
}

/** Misra–Gries heavy-hitters SKETCH over a string key — the aggregate
  * Spark lacks natively (DuckDB ships approx_top_k): at most `k`
  * (key, count) counters per partial aggregate, merged with the
  * offset-subtraction rule of Agarwal et al. ("Mergeable Summaries",
  * PODS 2012), emitting the surviving candidate keys as a sorted
  * array.
  *
  * Guarantee, holding REGARDLESS of partitioning or merge order: every
  * key whose true frequency exceeds n/(k+1) survives to the output.
  * Which LOW-frequency keys also survive IS merge-order dependent, so
  * this operator is the pass-1 candidate generator of the two-pass
  * exact heavy-hitters pattern (q_heavy_hitters): pass 2 exact-counts
  * the ≤ k candidates and applies the real threshold, making the final
  * answer exact and engine-independent while the corpus-wide
  * aggregation state stays O(k) — no full-cardinality shuffle ever
  * happens.
  *
  * Buffer: plain HashMap, serialized length-prefixed. Update is
  * amortized O(1) (each O(k) decrement-all pass is paid for by k prior
  * O(1) inserts). Input UTF8Strings are cloned before first insertion
  * — eval-time instances may alias reused row buffers. */
case class MisraGriesKeys(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate
    .TypedImperativeAggregate[java.util.HashMap[UTF8String, java.lang.Long]] {

  require(k >= 1 && k <= 100000,
    s"misra_gries_keys: k must be in [1, 100000], got $k")

  override def children: Seq[Expression] = Seq(child)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"misra_gries_keys requires a STRING key, got ${child.dataType.sql}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "misra_gries_keys"

  override def createAggregationBuffer(): java.util.HashMap[UTF8String, java.lang.Long] =
    new java.util.HashMap[UTF8String, java.lang.Long]()

  override def update(
      buf: java.util.HashMap[UTF8String, java.lang.Long],
      input: org.apache.spark.sql.catalyst.InternalRow): java.util.HashMap[UTF8String, java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) {
      val key = v.asInstanceOf[UTF8String]
      val cur = buf.get(key)
      if (cur != null) {
        // HashMap.put on a present key keeps the existing (owned) key
        // object — the possibly-aliased `key` is never stored.
        buf.put(key, java.lang.Long.valueOf(cur.longValue() + 1L))
      } else if (buf.size < k) {
        buf.put(key.clone(), java.lang.Long.valueOf(1L))
      } else {
        // Classic MG absorb: new key not inserted, every counter -1,
        // zeros dropped.
        val it = buf.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          if (e.getValue.longValue() == 1L) it.remove()
          else e.setValue(java.lang.Long.valueOf(e.getValue.longValue() - 1L))
        }
      }
    }
    buf
  }

  override def merge(
      b1: java.util.HashMap[UTF8String, java.lang.Long],
      b2: java.util.HashMap[UTF8String, java.lang.Long]): java.util.HashMap[UTF8String, java.lang.Long] = {
    val it = b2.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val cur = b1.get(e.getKey)
      // Keys from a deserialized buffer are owned — no clone needed.
      if (cur != null)
        b1.put(e.getKey, java.lang.Long.valueOf(cur.longValue() + e.getValue.longValue()))
      else b1.put(e.getKey, e.getValue)
    }
    if (b1.size > k) {
      // Mergeable-summaries reduction: subtract the (k+1)-th largest
      // count from every counter, drop the non-positive — at most k
      // survive and the n/(k+1) recall guarantee is preserved.
      val counts = new Array[Long](b1.size)
      var i = 0
      val vit = b1.values().iterator()
      while (vit.hasNext) { counts(i) = vit.next().longValue(); i += 1 }
      java.util.Arrays.sort(counts)
      val sub = counts(b1.size - (k + 1))
      val eit = b1.entrySet().iterator()
      while (eit.hasNext) {
        val e = eit.next()
        if (e.getValue.longValue() <= sub) eit.remove()
        else e.setValue(java.lang.Long.valueOf(e.getValue.longValue() - sub))
      }
    }
    b1
  }

  override def eval(buf: java.util.HashMap[UTF8String, java.lang.Long]): Any = {
    val arr = new Array[AnyRef](buf.size)
    var i = 0
    val it = buf.keySet().iterator()
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    // Sorted for a deterministic array order per buffer state.
    java.util.Arrays.sort(arr,
      (a: AnyRef, b: AnyRef) =>
        a.asInstanceOf[UTF8String].compareTo(b.asInstanceOf[UTF8String]))
    new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
  }

  override def serialize(buf: java.util.HashMap[UTF8String, java.lang.Long]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(buf.size)
    val it = buf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val kb = e.getKey.getBytes
      out.writeInt(kb.length)
      out.write(kb)
      out.writeLong(e.getValue.longValue())
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): java.util.HashMap[UTF8String, java.lang.Long] = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new java.util.HashMap[UTF8String, java.lang.Long](n * 2)
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val kb = new Array[Byte](len)
      in.readFully(kb)
      buf.put(UTF8String.fromBytes(kb), java.lang.Long.valueOf(in.readLong()))
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGriesKeys =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGriesKeys =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MisraGriesKeys =
    copy(child = newChildren.head)
}

/** Bounded top-k buffer for [[TopKByScore]]: a binary min-heap over
  * primitive parallel arrays, WORST kept entry at the root, ordered by
  * (score asc, id desc) so "better" = (higher score, then smaller id).
  * O(log k) insert once full, O(k) memory regardless of group size —
  * no boxing, no per-row allocation. */
final class TopKHeap(val k: Int) {
  var size: Int = 0
  val scores: Array[Double] = new Array[Double](k)
  val ids: Array[Long] = new Array[Long](k)

  /** Total order: is (s1, i1) strictly worse than (s2, i2)? */
  private def worse(s1: Double, i1: Long, s2: Double, i2: Long): Boolean =
    s1 < s2 || (s1 == s2 && i1 > i2)

  def offer(s: Double, id: Long): Unit = {
    if (size < k) {
      scores(size) = s; ids(size) = id; size += 1
      var i = size - 1
      while (i > 0 && worse(scores(i), ids(i), scores((i - 1) >> 1), ids((i - 1) >> 1))) {
        swap(i, (i - 1) >> 1); i = (i - 1) >> 1
      }
    } else if (worse(scores(0), ids(0), s, id)) {
      scores(0) = s; ids(0) = id
      var i = 0
      var done = false
      while (!done) {
        val l = 2 * i + 1; val r = 2 * i + 2
        var w = i
        if (l < size && worse(scores(l), ids(l), scores(w), ids(w))) w = l
        if (r < size && worse(scores(r), ids(r), scores(w), ids(w))) w = r
        if (w == i) done = true else { swap(i, w); i = w }
      }
    }
  }

  private def swap(a: Int, b: Int): Unit = {
    val ts = scores(a); scores(a) = scores(b); scores(b) = ts
    val ti = ids(a); ids(a) = ids(b); ids(b) = ti
  }
}

/** Fixed-size Bloom filter over the child STRING key — the per-file
  * membership summary behind [[graft.sources.SnapshotTable]]'s
  * point-lookup file skipping (the public Delta bloom-index idea:
  * min/max stats cannot prune an equality probe on a high-cardinality
  * UNSORTED key, a per-file Bloom filter can). `mBits` bits (multiple
  * of 64), `kProbes` probes by double hashing:
  * `h_i = (h1 + i*h2) mod m` with `h1 = xxh64(key, SEED1)`,
  * `h2 = xxh64(key, SEED2) | 1` — the driver-side probe
  * (`SnapshotTable.bloomMightContain`) recomputes the identical
  * positions with the same XXH64, so build/probe parity holds by
  * construction, not by cross-engine luck.
  *
  * Buffer: `long[m/64]` (fixed, group-count-bounded memory); update is
  * O(k) bit-sets; merge is bitwise OR — commutative and associative,
  * so the result is partitioning- and merge-order-INDEPENDENT (the
  * property that makes the manifest entry deterministic). Eval packs
  * big-endian into BinaryType. NULL keys are skipped (a NULL never
  * matches an equality probe). */
case class BloomFilterBits(
    child: Expression,
    mBits: Int,
    kProbes: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate
    .TypedImperativeAggregate[Array[Long]] {

  require(mBits >= 64 && mBits % 64 == 0 && mBits <= (1 << 26),
    s"bloom_filter_bits: mBits must be a multiple of 64 in [64, 2^26], got $mBits")
  require(kProbes >= 1 && kProbes <= 16,
    s"bloom_filter_bits: kProbes must be in [1, 16], got $kProbes")

  override def children: Seq[Expression] = Seq(child)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bloom_filter_bits requires a STRING key, got ${child.dataType.sql}")
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "bloom_filter_bits"

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](mBits / 64)

  override def update(buf: Array[Long],
      input: org.apache.spark.sql.catalyst.InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val key = v.asInstanceOf[UTF8String]
      val h1 = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUTF8String(key, BloomFilterBits.Seed1)
      val h2 = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUTF8String(key, BloomFilterBits.Seed2) | 1L
      var i = 0
      while (i < kProbes) {
        val p = java.lang.Long.remainderUnsigned(h1 + i * h2, mBits).toInt
        buf(p >>> 6) |= 1L << (p & 63)
        i += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b1.length) { b1(i) |= b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = {
    val bytes = new Array[Byte](buf.length * 8)
    val bb = java.nio.ByteBuffer.wrap(bytes)
    var i = 0
    while (i < buf.length) { bb.putLong(buf(i)); i += 1 }
    bytes
  }

  override def serialize(buf: Array[Long]): Array[Byte] =
    eval(buf).asInstanceOf[Array[Byte]]

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val buf = new Array[Long](bytes.length / 8)
    val bb = java.nio.ByteBuffer.wrap(bytes)
    var i = 0
    while (i < buf.length) { buf(i) = bb.getLong(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomFilterBits =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomFilterBits =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BloomFilterBits =
    copy(child = newChildren.head)
}

object BloomFilterBits {
  /** Build/probe hash seeds — part of the on-disk contract: a bitset
    * committed to a manifest is only probeable with these. */
  val Seed1: Long = 0x9747b28cL
  val Seed2: Long = 0x243f6a88L

  /** Driver-side membership probe of an [[eval]]-packed bitset; MUST
    * mirror [[update]]'s position arithmetic exactly. */
  def mightContain(bits: Array[Byte], key: String, kProbes: Int): Boolean = {
    val mBits = bits.length * 8
    val u = UTF8String.fromString(key)
    val h1 = org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUTF8String(u, Seed1)
    val h2 = org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUTF8String(u, Seed2) | 1L
    var i = 0
    while (i < kProbes) {
      val p = java.lang.Long.remainderUnsigned(h1 + i * h2, mBits).toInt
      // Bit (p & 63) from the LSB of word (p >>> 6), packed big-endian:
      // the LSB lives in the word's LAST byte.
      val byteIdx = ((p >>> 6) << 3) + (7 - ((p & 63) >>> 3))
      if ((bits(byteIdx) & (1 << (p & 7))) == 0) return false
      i += 1
    }
    true
  }
}

/** Per-group top-k WITHOUT a window sort: the aggregate form of
  * `row_number() OVER (PARTITION BY g ORDER BY score DESC, id) <= k`.
  * The window form shuffles and SORTS every row of every group; this
  * TypedImperativeAggregate keeps an O(k) bounded heap per group and
  * map-side-combines, so the exchange carries at most groups x k
  * entries no matter how large the groups are — at corpus scale the
  * difference between shuffling 100 TB and shuffling kilobytes. The
  * result is EXACT and partitioning-independent: the keep-set under
  * the total order (score DESC, id ASC) is unique, and merge order
  * cannot change it (heap-of-heaps of a total order). Emits
  * `array<struct<id, score>>` best-first; NULL scores/ids and NaN
  * scores are skipped (NaN has no place in a total order — a NaN at
  * the root would block every future eviction). */
case class TopKByScore(
    score: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate
    .TypedImperativeAggregate[TopKHeap] {

  require(k >= 1 && k <= 1000000,
    s"top_k_by: k must be in [1, 1000000], got $k")

  override def children: Seq[Expression] = Seq(score, id)
  override def checkInputDataTypes(): TypeCheckResult =
    if (score.dataType == DoubleType && id.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"top_k_by requires (DOUBLE score, BIGINT id), got " +
        s"(${score.dataType.sql}, ${id.dataType.sql})")
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("score", DoubleType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "top_k_by"

  override def createAggregationBuffer(): TopKHeap = new TopKHeap(k)

  override def update(buf: TopKHeap, input: org.apache.spark.sql.catalyst.InternalRow): TopKHeap = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null) {
      val sv = s.asInstanceOf[Double]
      if (!java.lang.Double.isNaN(sv)) buf.offer(sv, i.asInstanceOf[Long])
    }
    buf
  }

  override def merge(b1: TopKHeap, b2: TopKHeap): TopKHeap = {
    var i = 0
    while (i < b2.size) { b1.offer(b2.scores(i), b2.ids(i)); i += 1 }
    b1
  }

  override def eval(buf: TopKHeap): Any = {
    val n = buf.size
    // Sort best-first: (score DESC, id ASC) — the inverse of the
    // heap's worse() order.
    val idx = Array.range(0, n).map(java.lang.Integer.valueOf).sortWith { (a, b) =>
      val (sa, ia) = (buf.scores(a), buf.ids(a))
      val (sb, ib) = (buf.scores(b), buf.ids(b))
      sa > sb || (sa == sb && ia < ib)
    }
    val rows = new Array[AnyRef](n)
    var i = 0
    while (i < n) {
      val j = idx(i)
      rows(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](buf.ids(j), buf.scores(j)))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
  }

  override def serialize(buf: TopKHeap): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(4 + 16 * buf.size)
    out.putInt(buf.size)
    var i = 0
    while (i < buf.size) { out.putDouble(buf.scores(i)); out.putLong(buf.ids(i)); i += 1 }
    out.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKHeap = {
    val in = java.nio.ByteBuffer.wrap(bytes)
    val n = in.getInt()
    val buf = new TopKHeap(k)
    var i = 0
    while (i < n) { val s = in.getDouble(); val id = in.getLong(); buf.offer(s, id); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByScore =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByScore =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKByScore =
    copy(score = newChildren.head, id = newChildren(1))
}

/** Exact integer dot product against a trained weight vector — see
  * [[ExprHelpers.dotLongWeights]]. The weights ride as a REFERENCED
  * object: the generated code is identical across training
  * iterations (codegen compiles once per run), and the plan carries
  * one expression node instead of a zip_with/aggregate lambda chain
  * whose per-iteration analysis cost dominated the logistic
  * trainer's driver time. */
case class DotLongWeights(child: Expression, w: Array[Long])
  extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) if w.nonEmpty => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"dot_long_weights expects ARRAY<BIGINT> + non-empty weights, got ${other.sql}")
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else ExprHelpers.dotLongWeights(v.asInstanceOf[ArrayData], w)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("weights", w, "long[]")
    nullSafeCodeGen(ctx, ev, c => s"""
      java.lang.Long ${ev.value}_r = graft.plans.ExprHelpers.dotLongWeights($c, $ref);
      if (${ev.value}_r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ${ev.value}_r.longValue(); }
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): DotLongWeights =
    copy(child = newChild)
}

/** Native nearest-centroid assignment over a TRAINED centroid matrix
  * (carried as a referenced object, one copy per task, not a per-row
  * literal walk): the IVF index build / append / streaming-ingest hot
  * path. Bit-identical to the `array_min(transform(...))` HOF form and
  * to [[graft.operators.Kmeans.assign]] on in-range inputs — same
  * exact integer squared distances, same (dist, cid) tie-break —
  * pinned in TrainedIvfSpec + ExpressionSpec; on Long overflow it
  * FAILS LOUDLY (Math.*Exact) exactly as the HOF chain does under
  * Spark's default ANSI mode, never a silently wrapped argmin. The HOF form at k=64,
  * d=64 paid ~4k interpreted lambda element invocations per row AND
  * re-evaluated the child quantize subtree once per centroid; this is
  * one child eval + one fused loop (measured ~20× on the 1M-vector
  * build; BASELINE.md, "Scaling probe"). */
case class NearestCellId(child: Expression, cents: Array[Array[Long]])
  extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = child.nullable
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) if cents.nonEmpty => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nearest_cell_id expects ARRAY<BIGINT> + non-empty centroids, got ${other.sql}")
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else ExprHelpers.nearestCellId(v.asInstanceOf[ArrayData], cents)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", cents, "long[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.ExprHelpers.nearestCellId($c, $ref);")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCellId =
    copy(child = newChild)
}

/** The `probes` nearest cell ids, nearest first — the multi-probe read
  * side of a trained IVF index, native form of
  * `transform(slice(array_sort(cellDists), 1, probes), _.cid)`. Same
  * exact (dist, cid) total order as [[NearestCellId]]; output length
  * min(probes, k) exactly like the HOF slice. */
case class NearestCellIds(child: Expression, cents: Array[Array[Long]],
                          probes: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) if cents.nonEmpty && probes >= 1 =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nearest_cell_ids expects ARRAY<BIGINT> + non-empty centroids + " +
        s"probes >= 1, got ${other.sql}, probes=$probes")
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else ExprHelpers.nearestCellIds(v.asInstanceOf[ArrayData], cents, probes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", cents, "long[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.ExprHelpers.nearestCellIds($c, $ref, $probes);")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCellIds =
    copy(child = newChild)
}

/** Native PQ encode: m per-subspace argmin codeword ids in one fused
  * pass — the corpus-sized map of the PQ/IVF×PQ index builds. Same
  * exact-integer (dist, id) argmin as the m×k nested-transform HOF
  * form (pinned in PqSpec/ExpressionSpec), without its ~m×k×dsub
  * interpreted lambda invocations per row. */
case class PqEncode(child: Expression, cbs: Array[Array[Array[Long]]])
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _)
        if cbs.nonEmpty && cbs.forall(_.nonEmpty) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pq_encode expects ARRAY<BIGINT> + non-empty codebooks, got ${other.sql}")
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else ExprHelpers.pqEncode(v.asInstanceOf[ArrayData], cbs)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("codebooks", cbs, "long[][][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.ExprHelpers.pqEncode($c, $ref);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

/** Fused coarse-assign → residual → PQ-encode (see
  * [[ExprHelpers.ivfPqResidualEncode]]): struct(cell, codes) in one
  * pass — the corpus-sized map of the residual IVF×PQ index build.
  * Both quantizer matrices ride as referenced objects. */
case class IvfPqResidualEncode(child: Expression,
                               cents: Array[Array[Long]],
                               cbs: Array[Array[Array[Long]]])
  extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("cell", IntegerType, nullable = false),
    StructField("codes", ArrayType(IntegerType, containsNull = false),
      nullable = false)))
  override def nullable: Boolean = child.nullable
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _)
        if cents.nonEmpty && cbs.nonEmpty && cbs.forall(_.nonEmpty) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"ivfpq_residual_encode expects ARRAY<BIGINT> + non-empty " +
        s"centroids/codebooks, got ${other.sql}")
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else ExprHelpers.ivfPqResidualEncode(v.asInstanceOf[ArrayData], cents, cbs)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("centroids", cents, "long[][]")
    val cbsRef = ctx.addReferenceObj("codebooks", cbs, "long[][][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.ExprHelpers.ivfPqResidualEncode($c, $centsRef, $cbsRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): IvfPqResidualEncode =
    copy(child = newChild)
}

/** Map-only random-hyperplane LSH signing (see
  * [[ExprHelpers.lshBandValues]]): array of numBands band values per
  * embedding row — the corpus-pass kernel of the cosine near-dup
  * index family. */
case class LshBandSigns(child: Expression, bandBits: Int, numBands: Int)
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _)
        if bandBits >= 1 && bandBits <= 32 && numBands >= 1 &&
          bandBits * numBands <= 64 =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"lsh_band_signs expects ARRAY<FLOAT> with 1 <= bandBits <= 32, " +
        s"bandBits*numBands <= 64, got ${other.sql}, " +
        s"bandBits=$bandBits, numBands=$numBands")
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else ExprHelpers.lshBandValues(v.asInstanceOf[ArrayData], bandBits, numBands)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.ExprHelpers.lshBandValues($c, $bandBits, $numBands);")

  override protected def withNewChildInternal(newChild: Expression): LshBandSigns =
    copy(child = newChild)
}

/** Native ADC distance: candidate codes × query LUT in m lookups —
  * the per-candidate hot path of every PQ probe (the scan the 32×
  * compression exists to make cheap must not then burn its win on
  * interpreted lambdas). NULL on any length mismatch / out-of-range
  * code, mirroring the `aggregate(zip_with(element_at))` form. */
case class AdcDistance(left: Expression, right: Expression)
  extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(IntegerType, _), ArrayType(ArrayType(LongType, _), _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"adc_distance expects (ARRAY<INT>, ARRAY<ARRAY<BIGINT>>), got ${l.sql}, ${r.sql}")
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val l = left.eval(input)
    val r = right.eval(input)
    if (l == null || r == null) null
    else ExprHelpers.adcDist(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      s"""
        java.lang.Long ${ev.value}_r = graft.plans.ExprHelpers.adcDist($l, $r);
        if (${ev.value}_r == null) { ${ev.isNull} = true; }
        else { ${ev.value} = ${ev.value}_r.longValue(); }
      """
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): AdcDistance =
    copy(left = newLeft, right = newRight)
}

/** The deletion vectors of a scan's files: each file's deleted in-file
  * row positions (`_metadata.row_index`) as a bitmap, keyed by the
  * file's decoded URI path. A scan reports `_metadata.file_path` as a
  * URL-encoded string; [[pathKey]] turns either form into the key.
  * The string form names only sizes, so a plan string never lists
  * positions. */
final case class DeletionVectors(byPath: Map[String, org.roaringbitmap.RoaringBitmap]) {
  /** The bitmap of the file a scan reports as `filePath`, or null. */
  def of(filePath: UTF8String): org.roaringbitmap.RoaringBitmap =
    byPath.getOrElse(DeletionVectors.pathKey(filePath.toString), null)

  override def toString: String =
    s"${byPath.size} files, ${byPath.valuesIterator.map(_.getLongCardinality).sum} rows"
}

object DeletionVectors {
  def pathKey(urlOrPath: String): String =
    org.apache.spark.paths.SparkPath.fromUrlString(urlOrPath).toPath.toUri.getPath

  /** True when `position` is in `bitmap` (null: no vector). Bitmaps
    * hold unsigned 32-bit positions; a larger one is never deleted. */
  def contains(bitmap: org.roaringbitmap.RoaringBitmap, position: Long): Boolean =
    bitmap != null && (position >>> 32) == 0 && bitmap.contains(position.toInt)
}

/** True when the row at `rowIndex` of file `filePath` is deleted by
  * `vectors` — the scan-side deletion-vector mask (`NOT` of it) and the
  * change feed's newly-deleted rows. The vectors ride the plan, read by
  * the driver beforehand, so a masked scan runs no job of its own.
  * Generated code looks a file's bitmap up once per run of rows from
  * that file, then tests each position; interpreted evaluation looks it
  * up per row. */
case class InDeletionVector(left: Expression, right: Expression,
                            vectors: DeletionVectors) extends BinaryExpression {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "in_deletion_vector"
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (StringType, LongType) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"in_deletion_vector expects (STRING, BIGINT), got ${l.sql}, ${r.sql}")
  }

  override protected def nullSafeEval(path: Any, index: Any): Any =
    DeletionVectors.contains(vectors.of(path.asInstanceOf[UTF8String]),
      index.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val vs = ctx.addReferenceObj("dvs", vectors, classOf[DeletionVectors].getName)
    val path = ctx.addMutableState("org.apache.spark.unsafe.types.UTF8String", "dvPath")
    val bitmap = ctx.addMutableState("org.roaringbitmap.RoaringBitmap", "dvBitmap")
    nullSafeCodeGen(ctx, ev, (p, i) =>
      s"""
        if (!$p.equals($path)) { $path = $p.clone(); $bitmap = $vs.of($p); }
        ${ev.value} = graft.plans.DeletionVectors.contains($bitmap, $i);
      """)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): InDeletionVector =
    copy(left = newLeft, right = newRight)
}

/** Column-level and SQL-level entry points for the native expressions. */
object GraftFunctions {

  def parseMessyNumber(c: Column): Column =
    GraftSqlBridge.column(ParseMessyNumber(GraftSqlBridge.expression(c)))

  /** True when a scanned row (`_metadata.file_path`,
    * `_metadata.row_index`) is deleted by `vectors`. */
  def inDeletionVector(filePath: Column, rowIndex: Column,
                       vectors: DeletionVectors): Column =
    GraftSqlBridge.column(InDeletionVector(GraftSqlBridge.expression(filePath),
      GraftSqlBridge.expression(rowIndex), vectors))

  def dotProductFloat(a: Column, b: Column): Column =
    GraftSqlBridge.column(DotProductFloat(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** Exact integer dot against trained weights (see
    * [[DotLongWeights]]). */
  def dotLongWeights(x: Column, w: Array[Long]): Column =
    GraftSqlBridge.column(DotLongWeights(GraftSqlBridge.expression(x), w))

  def charGramHashes(c: Column, n: Int): Column =
    GraftSqlBridge.column(CharGramHashes(GraftSqlBridge.expression(c), n))

  def wordGramHashes(c: Column, w: Int): Column =
    GraftSqlBridge.column(WordGramHashes(GraftSqlBridge.expression(c), w))

  /** Fused-dedup forms: `array_distinct(char_gram_hashes(...))` in one
    * row-local pass. */
  def charGramHashesDistinct(c: Column, n: Int): Column =
    GraftSqlBridge.column(CharGramHashes(GraftSqlBridge.expression(c), n,
      distinct = true))

  def wordGramHashesDistinct(c: Column, w: Int): Column =
    GraftSqlBridge.column(WordGramHashes(GraftSqlBridge.expression(c), w,
      distinct = true))

  def wordGrams(c: Column, w: Int): Column =
    GraftSqlBridge.column(WordGrams(GraftSqlBridge.expression(c), w))

  /** Distributed tokenizer APPLY: (pre-lowercased) text → BPE token
    * stream under `merges` (see [[BpeEncodeTokens]]). */
  def bpeEncodeTokens(c: Column, merges: Seq[(String, String)]): Column =
    GraftSqlBridge.column(BpeEncodeTokens(GraftSqlBridge.expression(c),
      merges.flatMap(p => Seq(p._1, p._2)).toArray))

  /** Fused map-only MinHash signature (see [[MinHashSigs]]). */
  def minHashSigs(c: Column, w: Int, k: Int): Column =
    GraftSqlBridge.column(MinHashSigs(GraftSqlBridge.expression(c), w, k))

  /** Fused map-only char-gram MinHash signature (see
    * [[CharMinHashSigs]]). */
  def charMinHashSigs(c: Column, n: Int, k: Int): Column =
    GraftSqlBridge.column(CharMinHashSigs(GraftSqlBridge.expression(c), n, k))

  /** Fused map-only SimHash bands (see [[SimHashBands]]). */
  def simHashBands(c: Column): Column =
    GraftSqlBridge.column(SimHashBands(GraftSqlBridge.expression(c)))

  /** `array<long>` ∩ sorted set ≠ ∅ (see [[SortedLongsContainAny]]);
    * `sorted` MUST be ascending-sorted. */
  def sortedLongsContainAny(c: Column, sorted: Array[Long]): Column =
    GraftSqlBridge.column(
      SortedLongsContainAny(GraftSqlBridge.expression(c), sorted))

  /** Aggregate: Misra–Gries heavy-hitter candidate keys (see
    * [[MisraGriesKeys]]). */
  def misraGriesKeys(c: Column, k: Int): Column =
    GraftSqlBridge.column(
      MisraGriesKeys(GraftSqlBridge.expression(c), k).toAggregateExpression())

  /** Aggregate: fixed-size Bloom bitset over a STRING key (see
    * [[BloomFilterBits]]). */
  def bloomFilterBits(c: Column, mBits: Int, kProbes: Int): Column =
    GraftSqlBridge.column(
      BloomFilterBits(GraftSqlBridge.expression(c), mBits, kProbes)
        .toAggregateExpression())

  /** `array<long>` ∩ Bloom filter ≠ ∅ (see [[BloomLongsContainAny]]);
    * the [[Bloom]] MUST come from [[ExprHelpers.bloomBuild]] (via the
    * building wrapper, e.g. Decontaminate.bloomBits). */
  def bloomLongsContainAny(c: Column, bloom: Bloom): Column =
    GraftSqlBridge.column(
      BloomLongsContainAny(GraftSqlBridge.expression(c), bloom))

  /** Native nearest-centroid assignment (see [[NearestCellId]]). */
  def nearestCellId(qv: Column, cents: Array[Array[Long]]): Column =
    GraftSqlBridge.column(NearestCellId(GraftSqlBridge.expression(qv), cents))

  /** Native multi-probe cell ranking (see [[NearestCellIds]]). */
  def nearestCellIds(qv: Column, cents: Array[Array[Long]],
                     probes: Int): Column =
    GraftSqlBridge.column(
      NearestCellIds(GraftSqlBridge.expression(qv), cents, probes))

  /** Native PQ encode (see [[PqEncode]]). */
  def pqEncode(qv: Column, cbs: Array[Array[Array[Long]]]): Column =
    GraftSqlBridge.column(PqEncode(GraftSqlBridge.expression(qv), cbs))

  /** Fused residual IVF×PQ encode (see [[IvfPqResidualEncode]]). */
  def ivfPqResidualEncode(qv: Column, cents: Array[Array[Long]],
                          cbs: Array[Array[Array[Long]]]): Column =
    GraftSqlBridge.column(
      IvfPqResidualEncode(GraftSqlBridge.expression(qv), cents, cbs))

  /** Map-only LSH band signing (see [[LshBandSigns]]). */
  def lshBandSigns(v: Column, bandBits: Int, numBands: Int): Column =
    GraftSqlBridge.column(
      LshBandSigns(GraftSqlBridge.expression(v), bandBits, numBands))

  /** Native ADC distance (see [[AdcDistance]]). */
  def adcDistance(codes: Column, lut: Column): Column =
    GraftSqlBridge.column(AdcDistance(
      GraftSqlBridge.expression(codes), GraftSqlBridge.expression(lut)))

  /** Aggregate: exact per-group top-k as a bounded heap (see
    * [[TopKByScore]]). */
  def topKByScore(score: Column, id: Column, k: Int): Column =
    GraftSqlBridge.column(
      TopKByScore(GraftSqlBridge.expression(score),
        GraftSqlBridge.expression(id), k).toAggregateExpression())

  /** SQL `char_gram_hashes(s, n)` takes n as a literal: the gram width
    * is part of the operator (it fixes the output arity per row), not a
    * per-row value — reject non-foldable n at resolution time. */
  private def literalInt(e: Expression, fn: String): Int = {
    require(e.foldable, s"$fn: n must be a literal integer")
    e.eval() match {
      case i: java.lang.Integer => i.intValue()
      case l: java.lang.Long if l.longValue() == l.toInt => l.toInt
      case other => throw new IllegalArgumentException(
        s"$fn: n must be a literal integer, got $other")
    }
  }

  /** Optional trailing `distinct` flag of the SQL gram hashers — a
    * literal for the same reason as n: it selects the operator shape,
    * not a per-row value. */
  private def literalBool(e: Expression, fn: String): Boolean = {
    require(e.foldable, s"$fn: distinct must be a literal boolean")
    e.eval() match {
      case b: java.lang.Boolean => b.booleanValue()
      case other => throw new IllegalArgumentException(
        s"$fn: distinct must be a literal boolean, got $other")
    }
  }

  private[plans] val registrations: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "parse_messy_number" -> { es => ParseMessyNumber(es.head) },
    "pdf_text" -> { es => PdfText(es.head) },
    "media_dims" -> { es => MediaDims(es.head) },
    "dot_product_float" -> { es => DotProductFloat(es.head, es(1)) },
    "char_gram_hashes" -> { es =>
      CharGramHashes(es.head, literalInt(es(1), "char_gram_hashes"),
        es.length > 2 && literalBool(es(2), "char_gram_hashes")) },
    "word_gram_hashes" -> { es =>
      WordGramHashes(es.head, literalInt(es(1), "word_gram_hashes"),
        es.length > 2 && literalBool(es(2), "word_gram_hashes")) },
    "word_grams" -> { es =>
      WordGrams(es.head, literalInt(es(1), "word_grams")) },
    "minhash_sigs" -> { es =>
      MinHashSigs(es.head, literalInt(es(1), "minhash_sigs"),
        literalInt(es(2), "minhash_sigs")) },
    "char_minhash_sigs" -> { es =>
      CharMinHashSigs(es.head, literalInt(es(1), "char_minhash_sigs"),
        literalInt(es(2), "char_minhash_sigs")) },
    "simhash_bands" -> { es => SimHashBands(es.head) },
    "misra_gries_keys" -> { es =>
      MisraGriesKeys(es.head, literalInt(es(1), "misra_gries_keys")) },
    "top_k_by" -> { es =>
      TopKByScore(es.head, es(1), literalInt(es(2), "top_k_by")) },
    "bloom_filter_bits" -> { es =>
      BloomFilterBits(es.head, literalInt(es(1), "bloom_filter_bits"),
        literalInt(es(2), "bloom_filter_bits")) },
    "lsh_band_signs" -> { es =>
      LshBandSigns(es.head, literalInt(es(1), "lsh_band_signs"),
        literalInt(es(2), "lsh_band_signs")) })

  /** Register the SQL functions into an existing session (the
    * runtime-registration path; config-time wiring is
    * [[GraftExtensions]]). */
  def register(spark: SparkSession): Unit =
    registrations.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry.registerFunction(
        FunctionIdentifier(name),
        new ExpressionInfo("graft.plans", name),
        builder)
    }
}

/** Config-time wiring: `.config("spark.sql.extensions",
  * "graft.plans.GraftExtensions")` injects into every session built
  * on that context the native functions, the snapshot-table SQL
  * surface and `FROM graft.`path`` reads. Spark's own parser reads
  * DELETE/UPDATE/MERGE/INSERT/TRUNCATE/ALTER TABLE/CREATE TABLE/SHOW
  * TBLPROPERTIES, and [[graft.sources.GraftRelationResolution]]
  * rewrites them into graft commands when they target a graft table;
  * [[graft.sources.GraftSqlParser]] pre-parses only the verbs Spark
  * lacks (OPTIMIZE/VACUUM/RESTORE/DESCRIBE HISTORY|DETAIL/SHOW
  * CONSTRAINTS/SHALLOW CLONE) and delegates everything else verbatim. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.registrations.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.plans", name), builder))
    }
    ext.injectParser((session, delegate) =>
      new graft.sources.GraftSqlParser(session, delegate))
    // Graft-targeted DML/DDL becomes graft commands, and `FROM
    // graft.`/path`` in plain SQL resolves to the manifest-pruned
    // snapshot relation (incl. VERSION/TIMESTAMP AS OF). Injected into
    // the HINT-resolution batch, which runs BEFORE the resolution
    // batch: Spark's builtin ResolveSQLOnFile claims `graft.`path``
    // (graft is a registered datasource name) and fails "unsupported
    // for direct query" before an ordinary resolution rule would run.
    ext.injectHintResolutionRule(session =>
      new graft.sources.GraftRelationResolution(session))
  }
}
