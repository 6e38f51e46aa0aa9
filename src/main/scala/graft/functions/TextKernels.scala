package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** JVM kernels behind the native text-fingerprint expressions
  * ([[MinHashSig]], [[WinnowFingerprints]]). Static methods so the
  * generated whole-stage code calls straight into them — the same
  * structure as Spark's own `StaticInvoke`-backed expressions.
  *
  * The kernels read UTF8String BYTES in place (`getByte`, no
  * `toString`): versus the UDF formulation this removes the UTF-8 →
  * java.lang.String decode/copy per row, the Scala-UDF closure
  * dispatch, and the reflective Array[Long] → Catalyst re-encoding on
  * output. Hash values are byte-based FNV-1a, which coincides with the
  * UDF's UTF-16-char FNV-1a on ASCII text (each ASCII char is one byte
  * with the same value — asserted by the parity spec); non-ASCII text
  * hashes differently but with identical collision/minhash semantics.
  *
  * Tokenization replicates `String.split(' ')` exactly: split at every
  * single space, keep interior empty tokens, drop trailing empty
  * tokens, and an empty input yields one empty token.
  */
object TextKernels {

  // ---- minhash permutation family (shared with the UDF reference
  // implementations in TextExpressionsSpec so the two cannot drift) ----

  final val NumHashes = 32

  /** splitmix64 — deterministic pseudo-random mixing (public-domain
    * constants).
    */
  def splitmix64(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Odd 30-bit multipliers + 32-bit offsets: sig_j = min over shingles
    * of a_j*(h & 0xffffffff) + b_j; products stay ≤ 2^62.
    */
  final val HashA: Array[Long] = Array.tabulate(NumHashes)(j => splitmix64(2L * j) & 0x3fffffffL | 1L)
  final val HashB: Array[Long] = Array.tabulate(NumHashes)(j => splitmix64(2L * j + 1) & 0xffffffffL)

  /** FNV-1a 64 over a byte range of a UTF8String (unsigned byte widening
    * — equals the char-based FNV on ASCII).
    */
  private def fnv1a(u: UTF8String, from: Int, until: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = from
    while (i < until) { h ^= (u.getByte(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    h
  }

  /** FNV-1a hashes of the `split(' ')` tokens of `u` (empty input → one
    * empty token; trailing empty tokens dropped). Returns the hash array
    * and its logical length packed as (hashes, n).
    */
  private def tokenHashes(u: UTF8String): (Array[Long], Int) = {
    val nb = u.numBytes
    if (nb == 0) return (Array(fnv1a(u, 0, 0)), 1) // "" → [""]
    var cap = 16
    var hs = new Array[Long](cap)
    var n = 0 // tokens emitted
    var lastNonEmpty = -1 // index of last non-empty token
    var start = 0
    var i = 0
    while (i <= nb) {
      if (i == nb || u.getByte(i) == ' '.toByte) {
        if (n == cap) { cap *= 2; hs = java.util.Arrays.copyOf(hs, cap) }
        hs(n) = fnv1a(u, start, i)
        if (i > start) lastNonEmpty = n
        n += 1
        start = i + 1
      }
      i += 1
    }
    (hs, lastNonEmpty + 1) // drop trailing empties (java split semantics)
  }

  /** 32-component minhash signature over 3-word shingles; fewer than 3
    * words falls back to a whole-text shingle. Mirrors the UDF reference
    * (`TextExpressionsSpec.minhashSigUdf`) component for component.
    */
  def minhashSig(u0: UTF8String): ArrayData = {
    val u = if (u0 == null) UTF8String.EMPTY_UTF8 else u0
    val sigs = Array.fill(NumHashes)(Long.MaxValue)
    @inline def addShingle(h0: Long): Unit = {
      val h = h0 & 0xffffffffL
      var j = 0
      while (j < NumHashes) {
        val v = HashA(j) * h + HashB(j)
        if (v < sigs(j)) sigs(j) = v
        j += 1
      }
    }
    val (wh, n) = tokenHashes(u)
    if (n < 3) {
      addShingle(splitmix64(fnv1a(u, 0, u.numBytes)))
    } else {
      val seen = new java.util.HashSet[java.lang.Long]()
      var i = 0
      while (i + 2 < n) {
        val sh = splitmix64(wh(i) ^ splitmix64(wh(i + 1) ^ splitmix64(wh(i + 2))))
        if (seen.add(sh)) addShingle(sh)
        i += 1
      }
    }
    new GenericArrayData(sigs)
  }

  /** `split(' ')` token BOUNDARIES (byte offsets) with the same edge
    * semantics as [[tokenHashes]]. Returns (starts, ends, count).
    */
  private def tokenOffsets(u: UTF8String): (Array[Int], Array[Int], Int) = {
    val nb = u.numBytes
    if (nb == 0) return (Array(0), Array(0), 1) // "" → [""]
    var cap = 16
    var starts = new Array[Int](cap)
    var ends = new Array[Int](cap)
    var n = 0
    var lastNonEmpty = -1
    var start = 0
    var i = 0
    while (i <= nb) {
      if (i == nb || u.getByte(i) == ' '.toByte) {
        if (n == cap) {
          cap *= 2
          starts = java.util.Arrays.copyOf(starts, cap)
          ends = java.util.Arrays.copyOf(ends, cap)
        }
        starts(n) = start; ends(n) = i
        if (i > start) lastNonEmpty = n
        n += 1
        start = i + 1
      }
      i += 1
    }
    (starts, ends, lastNonEmpty + 1)
  }

  /** Word n-grams as byte-range slices: gram i = tokens
    * [i·stride, i·stride+n). Because `split(' ')` tokens are separated
    * by EXACTLY one space byte, the slice from the first token's start
    * to the last token's end is byte-identical to joining the tokens
    * with single spaces — so each gram is one array copy, no decode, no
    * StringBuilder. stride = 1 gives sliding n-grams
    * (bigrams/contamination grams); stride = n gives non-overlapping
    * chunks (C4-style chunk dedup). Null text → empty array, fewer than
    * n tokens → empty array (matching the UDF references).
    */
  def wordNGrams(u: UTF8String, n: Int, stride: Int): ArrayData = {
    if (u == null) return new GenericArrayData(Array.empty[Any])
    val (starts, ends, nTok) = tokenOffsets(u)
    if (nTok < n) return new GenericArrayData(Array.empty[Any])
    val count = (nTok - n) / stride + 1
    val bytes = u.getBytes
    val out = new Array[Any](count)
    var i = 0
    while (i < count) {
      val s = starts(i * stride)
      val e = ends(i * stride + n - 1)
      out(i) = UTF8String.fromBytes(bytes, s, e - s)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Distinct 3-word shingles of `split(text, ' ')` — the LSH verify
    * set. Unlike [[tokenOffsets]], Spark's `split` keeps EVERY empty
    * token, trailing ones included, so tokens are exactly the
    * space-separated byte runs (spaces + 1 of them). A shingle is three
    * consecutive tokens joined by U+0001, cut from one rewritten copy of
    * the text, no decode (see [[shingles]]). Fewer than 3 tokens → the
    * whole text as the single element. Distinct in
    * first-occurrence order (`array_distinct`). Linear in the text
    * length; the `transform` formulation re-split the text per shingle.
    */
  def shingleSet(u: UTF8String): ArrayData = {
    val all = shingles(u)
    val seen = new java.util.HashSet[UTF8String](all.length * 2)
    val out = new java.util.ArrayList[Any](all.length)
    var i = 0
    while (i < all.length) { if (seen.add(all(i))) out.add(all(i)); i += 1 }
    new GenericArrayData(out.toArray)
  }

  /** Exact Jaccard of the [[shingleSet]]s of two texts:
    * |A∩B| / (|A| + |B| − |A∩B|) over the distinct shingles, the value of
    * `size(array_intersect(A, B)) / size(array_union(A, B))`. Both sets
    * are non-empty (a text always has at least one shingle), so the
    * denominator is ≥ 1. One tokenizer pass per text; the shingles are
    * views into one copy of each text.
    */
  def shingleJaccard(a: UTF8String, b: UTF8String): Double = {
    val as = shingles(a)
    val setA = new java.util.HashSet[UTF8String](as.length * 2)
    var i = 0
    while (i < as.length) { setA.add(as(i)); i += 1 }
    val bs = shingles(b)
    val setB = new java.util.HashSet[UTF8String](bs.length * 2)
    var inter = 0
    i = 0
    while (i < bs.length) {
      if (setB.add(bs(i)) && setA.contains(bs(i))) inter += 1
      i += 1
    }
    inter.toDouble / (setA.size + setB.size - inter)
  }

  /** Every 3-word shingle of `split(text, ' ')` in order, duplicates
    * kept — the tokenizer behind [[shingleSet]] and [[shingleJaccard]].
    * The text is copied once with every space replaced by U+0001, so a
    * shingle is the byte slice from its first token's start to its third
    * token's end of that copy, wrapped without a further copy. Fewer
    * than 3 tokens → the text itself.
    */
  private def shingles(u: UTF8String): Array[UTF8String] = {
    val nb = u.numBytes
    var spaces = 0
    var i = 0
    while (i < nb) { if (u.getByte(i) == ' '.toByte) spaces += 1; i += 1 }
    if (spaces < 2) return Array(UTF8String.fromBytes(u.getBytes))
    // getBytes may return the input's own buffer: copy before rewriting
    val bytes = new Array[Byte](nb)
    u.writeToMemory(bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET)
    // starts(t) = first byte of token t; starts(nTok) = nb + 1 so that
    // token t always ends at starts(t + 1) - 1
    val nTok = spaces + 1
    val starts = new Array[Int](nTok + 1)
    var t = 1
    i = 0
    while (i < nb) {
      if (bytes(i) == ' '.toByte) { bytes(i) = 1; starts(t) = i + 1; t += 1 }
      i += 1
    }
    starts(nTok) = nb + 1
    val out = new Array[UTF8String](nTok - 2)
    t = 0
    while (t + 2 < nTok) {
      out(t) = UTF8String.fromBytes(bytes, starts(t), starts(t + 3) - 1 - starts(t))
      t += 1
    }
    out
  }

  /** 64-bit SimHash: sign of per-bit ±1 votes over splitmix-mixed FNV
    * word hashes. Mirrors the UDF reference
    * (`TextExpressionsSpec.simhashUdf`): a NULL document casts no votes
    * (sig 0), an empty document votes once for its single empty token.
    */
  def simhash(u: UTF8String): Long = {
    if (u == null) return 0L
    val (wh, n) = tokenHashes(u)
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = splitmix64(wh(i))
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  private final val CdcMask = 15L // boundary hits ≈ 1/16 of tokens → 16-word mean chunks

  /** Content-defined chunking: a token ENDS a chunk when the low 4 bits
    * of `splitmix64(fnv1a(token))` are zero (geometric chunk sizes, mean
    * 16 words); the remainder after the last boundary is the final
    * chunk. Because the boundary decision is per-token (stateless),
    * inserting or deleting a word perturbs only the chunk containing
    * the edit — every later chunk re-aligns bit-identically, which is
    * the property that makes CDC dedup shift-robust where fixed-size
    * frames/lines are not. Production CDC adds min/max chunk cutoffs to
    * bound size variance; this kernel omits them so the boundary rule
    * stays a pure per-token predicate (exactly SQL-replicable — the
    * DuckDB oracle is a window prefix-sum, no sequential fold).
    *
    * Chunks are emitted as byte slices (single-space join property, same
    * as [[wordNGrams]]): no decode, no StringBuilder. Null ≡ `""` → one
    * empty chunk (the oracle coalesces NULL text to ''); all-spaces →
    * empty array (java split semantics via [[tokenOffsets]]).
    */
  def cdcChunks(u0: UTF8String): ArrayData = {
    val u = if (u0 == null) UTF8String.EMPTY_UTF8 else u0
    val (starts, ends, n) = tokenOffsets(u)
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val bytes = u.getBytes
    val out = new java.util.ArrayList[Any]()
    var cs = 0 // first token of the current chunk
    var i = 0
    while (i < n) {
      if ((splitmix64(fnv1a(u, starts(i), ends(i))) & CdcMask) == 0L || i == n - 1) {
        out.add(UTF8String.fromBytes(bytes, starts(cs), ends(i) - starts(cs)))
        cs = i + 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  private final val WinnowK = 5 // k-gram length (words)
  private final val WinnowW = 4 // window size

  /** Winnowing fingerprints (the MOSS scheme): rolling k-gram hashes,
    * minimum per w-window, first-occurrence-ordered dedup. Mirrors the
    * UDF reference (`TextExpressionsSpec.winnowUdf`).
    */
  def winnow(u0: UTF8String): ArrayData = {
    val u = if (u0 == null) UTF8String.EMPTY_UTF8 else u0
    val (wh, n) = tokenHashes(u)
    if (n < WinnowK)
      return new GenericArrayData(Array(splitmix64(fnv1a(u, 0, u.numBytes))))
    val grams = new Array[Long](n - WinnowK + 1)
    var i = 0
    while (i < grams.length) {
      var h = 0L
      var j = 0
      while (j < WinnowK) { h = splitmix64(h ^ wh(i + j)); j += 1 }
      grams(i) = h
      i += 1
    }
    val out = new java.util.LinkedHashSet[java.lang.Long]()
    var w = 0
    val nWin = math.max(1, grams.length - WinnowW + 1)
    while (w < nWin) {
      var m = grams(w)
      var j = 1
      while (j < WinnowW && w + j < grams.length) {
        if (grams(w + j) < m) m = grams(w + j)
        j += 1
      }
      out.add(m)
      w += 1
    }
    val res = new Array[Long](out.size)
    val it = out.iterator()
    var k = 0
    while (it.hasNext) { res(k) = it.next(); k += 1 }
    new GenericArrayData(res)
  }

  /** Per-document character entropy in ONE pass over the decoded string
    * — the kernel behind `graft_charstats`, replacing the
    * explode(split(text,"")) → groupBy(doc_id, c) formulation that
    * fanned every document into one row PER CHARACTER (3 billion
    * shuffle rows at sf100) with a per-row histogram.
    *
    * Bit-parity contract with the explode form (TextExpressionsSpec):
    *  - Spark's `split(text, "")` cuts into single Unicode CODE POINTS
    *    (surrogate pairs stay atomic — UNLIKE raw java String.split,
    *    which cuts inside pairs; verified empirically on the 😀a𐍈
    *    probe row), plus one trailing empty element which the query's
    *    `c =!= ""` filter drops. So the unit of counting here is the
    *    code point: n = codePointCount.
    *  - the per-distinct-unit term reproduces the Catalyst tree
    *    `round(-p * log(p) * 1000000 + 1e-9, 0)` EXACTLY, including the
    *    double association ((-p) * Math.log(p)) * 1000000.0 + 1.0E-9 and
    *    Spark Round's BigDecimal HALF_UP on DoubleType; the sum of the
    *    per-unit longs is order-free, so histogram order is irrelevant.
    *  - empty text → `[""]`, filtered → the doc emits NO row: the kernel
    *    returns null and the query filters it.
    */
  def charStats(u: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val s = u.toString
    val len = s.length
    if (len == 0) return null
    val ascii = new Array[Long](128)
    var other: java.util.HashMap[java.lang.Integer, Array[Long]] = null
    var n = 0L
    var i = 0
    while (i < len) {
      val cp = s.codePointAt(i)
      if (cp < 128) ascii(cp) += 1
      else {
        if (other == null) other = new java.util.HashMap
        val cell = other.get(cp)
        if (cell == null) other.put(cp, Array(1L)) else cell(0) += 1
      }
      n += 1
      i += Character.charCount(cp)
    }
    val dn = n.toDouble
    def term(cnt: Long): Long = {
      val p = cnt.toDouble / dn
      val t = ((-p) * math.log(p)) * 1000000.0 + 1.0e-9
      java.math.BigDecimal.valueOf(t)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    }
    var sum = 0L
    var b = 0
    while (b < 128) { if (ascii(b) > 0) sum += term(ascii(b)); b += 1 }
    if (other != null) {
      val it = other.values().iterator()
      while (it.hasNext) sum += term(it.next()(0))
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n, sum))
  }
}
