package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** Primitive-loop MinHash kernel shared by the native Catalyst expression
  * (org.apache.spark.sql.graft.MinHashSignatureExpr — both interpreted
  * eval and generated code call into here) and by anything else needing
  * signatures outside a query plan.
  *
  * Semantics are IDENTICAL to the higher-order-function formulation in
  * Dedup.minHashSignature: same seeded (a,b) parameter family, same
  * (a·h + b) mod (2⁶¹−1) permutation with 64-bit wraparound multiply,
  * same null-for-empty contract. This is the same operator, compiled:
  * one tight loop over unboxed longs instead of k interpreted array
  * traversals with per-element boxing.
  */
object MinHash {
  val P: Long = 2305843009213693951L // 2^61 − 1, Mersenne prime

  /** xxhash64 of a single long, seed 42 (the builtin's default) — the
    * scalar hash shared by the engine's sketches.
    */
  def hashLong(v: Long): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(v, 42L)

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Long), (Array[Long], Array[Long])]()

  /** Seeded permutation parameters; MUST draw in the same order as the
    * HOF formulation (a then b per permutation) for value parity.
    */
  def params(k: Int, seed: Long): (Array[Long], Array[Long]) =
    cache.computeIfAbsent((k, seed), { case (kk, s) =>
      val rng = new scala.util.Random(s)
      val as = new Array[Long](kk)
      val bs = new Array[Long](kk)
      var i = 0
      while (i < kk) {
        as(i) = math.abs(rng.nextLong()) % (P - 1) + 1
        bs(i) = math.abs(rng.nextLong()) % P
        i += 1
      }
      (as, bs)
    })

  /** LSH band hashes of a signature: band b (of `bands`, r = k/bands
    * rows each) hashes its slice sig[b·r .. b·r+r) via XXH64 over the
    * raw longs with the band index as seed (so equal slices in
    * different bands bucket separately). Buckets are equal iff the band
    * slices are equal (modulo 64-bit collisions) — the same contract as
    * hashing a string rendering of the slice, without building strings.
    */
  def bandHashes(sig: ArrayData, bands: Int): ArrayData = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val k = sig.numElements()
    val r = k / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = b.toLong // seed by band index
      var j = b * r
      while (j < (b + 1) * r) {
        h = XXH64.hashLong(sig.getLong(j), h)
        j += 1
      }
      out(b) = h
      b += 1
    }
    new GenericArrayData(out)
  }

  /** b-bit minhash with b = 1 (Li & König, WWW 2010): the LOWEST bit of
    * each of the k signature components, packed little-endian into
    * k/64 longs — a 64× compaction of the signature (128 perms: 1 KB →
    * 16 bytes). Bit i of word i/64 = sig[i] & 1. Each bit matches
    * across two documents with probability C + (1−C)·J, C = 1/2, so
    * Ĵ = 2·(matching fraction) − 1 estimates Jaccard from two packed
    * sketches alone — no shingle sets needed on either side.
    */
  def oneBit(sig: ArrayData): ArrayData = {
    val k = sig.numElements()
    val out = new Array[Long]((k + 63) / 64)
    var i = 0
    while (i < k) {
      out(i >> 6) |= (sig.getLong(i) & 1L) << (i & 63)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** ONE-PERMUTATION minhash signature (Li, Owen & Zhang, NIPS 2012)
    * with rotation densification (Shrivastava & Li, ICML 2014): each
    * shingle hash is rehashed once (seed-keyed XXH64) and dropped into
    * bin floorMod(g, k); the signature component for a bin is the MIN
    * rehash that landed there, and an EMPTY bin borrows the next
    * non-empty bin to its circular right, re-keyed by the borrow
    * distance so distinct-distance borrows never collide by accident.
    *
    * Cost: O(n + k) hashes per document vs [[signature]]'s O(n·k)
    * multiply-mod loop — the asymptotic fix for the signature stage
    * being the map-side hot loop of every minhash operator (128× less
    * per-shingle arithmetic at k = 128; measured 2.9× on the combined
    * shingle+signature map stage at 500 k docs — shingle hashing, which
    * both kernels share, bounds the rest, and the gap widens with
    * document length). Bin-collision probability between
    * two documents is the Jaccard J per mutually non-empty bin, and
    * densification keeps the estimator unbiased across empty bins, so
    * banding and verification compose unchanged. NOT value-compatible
    * with [[signature]] — a store built with one kernel cannot be
    * probed with the other (same contract note as the seed).
    */
  def signatureOneperm(hashes: ArrayData, k: Int, seed: Long): ArrayData = {
    val n = hashes.numElements()
    if (n == 0) return null
    val out = new Array[Long](k)
    val filled = new Array[Boolean](k)
    var j = 0
    while (j < n) {
      val g = hashLongSeeded(hashes.getLong(j), seed)
      val bin = java.lang.Math.floorMod(g, k.toLong).toInt
      if (!filled(bin) || g < out(bin)) { out(bin) = g; filled(bin) = true }
      j += 1
    }
    var i = 0
    while (i < k) {
      if (!filled(i)) {
        var d = 1L
        var src = (i + 1) % k
        while (!filled(src)) { src = (src + 1) % k; d += 1 }
        out(i) = hashLongSeeded(out(src), d)
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  private def hashLongSeeded(v: Long, seed: Long): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(v, seed)

  /** `x` mod P in [0, P), for any signed `x`: the value of
    * `floorMod(x, P)`, without a division or a branch. The Mersenne
    * prime folds the high bits onto the low ones (2^61 ≡ 1 mod P), and a
    * negative `x` is its unsigned value minus 2^64 ≡ 8. The sum then
    * lies in [-8, P + 7], which one conditional −P and one conditional
    * +P bring into range.
    */
  def modP(x: Long): Long = {
    var r = (x & P) + (x >>> 61) - (8L & (x >> 63))
    r -= P & ~((r - P) >> 63)
    r + (P & (r >> 63))
  }

  /** k-minimum signature of the shingle-hash array; null for empty input
    * (a doc with fewer than w tokens has no shingles, hence no signature).
    */
  def signature(hashes: ArrayData, k: Int, seed: Long): ArrayData = {
    val n = hashes.numElements()
    if (n == 0) return null
    val (as, bs) = params(k, seed)
    val out = new Array[Long](k)
    var i = 0
    while (i < k) {
      val a = as(i)
      val b = bs(i)
      var m = Long.MaxValue
      var j = 0
      while (j < n) {
        val v = modP(a * hashes.getLong(j) + b)
        if (v < m) m = v
        j += 1
      }
      out(i) = m
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Column-level façade so operator code stays in the graft namespace. */
object MinHashSignatureExpr {
  def apply(shingles: Column, k: Int, seed: Long): Column =
    org.apache.spark.sql.graft.NativeExprs.minhashSignature(shingles, k, seed)
}

/** Column-level façade for the native band-hash expression. */
object BandHashesExpr {
  def apply(sig: Column, bands: Int): Column =
    org.apache.spark.sql.graft.NativeExprs.bandHashes(sig, bands)
}

/** Column-level façade for the native 1-bit minhash sketch. */
object OneBitMinHashExpr {
  def apply(sig: Column): Column =
    org.apache.spark.sql.graft.NativeExprs.oneBitMinHash(sig)
}

/** Column-level façade for the one-permutation signature kernel. */
object OnePermSignatureExpr {
  def apply(shingles: Column, k: Int, seed: Long): Column =
    org.apache.spark.sql.graft.NativeExprs.onepermSignature(shingles, k, seed)
}

/** Primitive kernel for text → distinct w-shingle xxhash64 array, shared
  * by org.apache.spark.sql.graft.ShingleHashesExpr.
  *
  * Value-identical to the HOF formulation in Dedup.shingleHashesHof:
  * - lowercase via UTF8String.toLowerCase (what functions.lower compiles to)
  * - trim + `\s+` split via UTF8String.trim/split (what trim/split compile to)
  * - per-shingle hash = xxhash64 of the space-joined token bytes, seed 42
  *   (Spark's xxhash64 default), via the same XXH64 used by the builtin
  * - distinct preserving first occurrence (array_distinct semantics)
  */
object ShingleHash {
  import org.apache.spark.unsafe.Platform
  import org.apache.spark.unsafe.types.UTF8String
  import org.apache.spark.sql.catalyst.expressions.XXH64

  private val SplitPattern = UTF8String.fromString(graft.operators.TextAnalysis.WhitespaceSplit)
  private val Empty = new GenericArrayData(Array.empty[Long])

  def shingleHashes(text: UTF8String, w: Int): ArrayData = {
    val trimmed = text.toLowerCase.trim()
    if (trimmed.numBytes() == 0) return Empty
    val toks = trimmed.split(SplitPattern, -1)
    val n = toks.length
    if (n < w) return Empty
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i + w <= n) {
      var len = w - 1 // separators
      var j = i
      while (j < i + w) { len += toks(j).numBytes(); j += 1 }
      val bytes = new Array[Byte](len)
      var pos = 0
      j = i
      while (j < i + w) {
        val t = toks(j)
        t.writeToMemory(bytes, Platform.BYTE_ARRAY_OFFSET + pos)
        pos += t.numBytes()
        if (j < i + w - 1) { bytes(pos) = ' '; pos += 1 }
        j += 1
      }
      seen.add(XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET, len, 42L))
      i += 1
    }
    val out = new Array[Long](seen.size())
    val it = seen.iterator()
    var p = 0
    while (it.hasNext) { out(p) = it.next(); p += 1 }
    new GenericArrayData(out)
  }
}

/** Column-level façade for the native shingle-hash expression. */
object ShingleHashesExpr {
  def apply(text: Column, w: Int): Column =
    org.apache.spark.sql.graft.NativeExprs.shingleHashes(text, w)
}

/** Primitive kernel for the 64-bit SimHash fingerprint, shared by
  * org.apache.spark.sql.graft.SimHashExpr.
  *
  * Value-identical to the HOF formulation in Dedup.simHashHof:
  * - same tokenizer as ShingleHash (lower → trim → `\s+` split)
  * - per-token xxhash64 (seed 42) via the builtin's XXH64
  * - bit j of the fingerprint is set iff 2·(tokens with hash bit j set)
  *   ≥ token count, and the count is nonzero (majority vote, ties → set)
  */
object SimHash {
  import org.apache.spark.unsafe.types.UTF8String
  import org.apache.spark.sql.catalyst.expressions.XXH64

  private val SplitPattern = UTF8String.fromString(graft.operators.TextAnalysis.WhitespaceSplit)

  def fingerprint(text: UTF8String): Long = {
    val trimmed = text.toLowerCase.trim()
    if (trimmed.numBytes() == 0) return 0L
    val toks = trimmed.split(SplitPattern, -1)
    val n = toks.length
    val counts = new Array[Int](64)
    var i = 0
    while (i < n) {
      val t = toks(i)
      val h = XXH64.hashUnsafeBytes(t.getBaseObject, t.getBaseOffset, t.numBytes(), 42L)
      var j = 0
      while (j < 64) {
        counts(j) += ((h >>> j) & 1L).toInt
        j += 1
      }
      i += 1
    }
    var fp = 0L
    var j = 0
    while (j < 64) {
      if (counts(j) * 2 >= n) fp |= (1L << j)
      j += 1
    }
    fp
  }
}

/** Column-level façade for the native SimHash expression. */
object SimHashExpr {
  def apply(text: Column): Column =
    org.apache.spark.sql.graft.NativeExprs.simHash(text)
}

/** Primitive kernel for the md5-keyed SimHash fingerprint, shared by
  * org.apache.spark.sql.graft.SimHashMd5Expr.
  *
  * Same majority-vote structure as [[SimHash]], but the per-token hash is
  * the first 64 bits of md5 instead of xxhash64 — md5 is reproducible in
  * ANY engine (DuckDB, Trino, Postgres all ship it), so the fingerprint
  * carries a cross-engine oracle, which the xxhash64 variant cannot
  * (xxhash64's seed/finalization is Spark-internal). The price is a
  * cryptographic hash per token (~3× the cycles of XXH64) — callers who
  * never leave Spark should prefer [[SimHash]].
  *
  * Output is the fingerprint as TWO 32-bit halves `[fp_hi, fp_lo]`
  * (non-negative longs): `fp_hi` votes over bits of the first 4 md5
  * bytes (hex chars 1-8, big-endian), `fp_lo` over the next 4 (hex chars
  * 9-16). Keeping each half under 2³² sidesteps signed-overflow dialect
  * differences in `1 << 63` that a single 64-bit value would hit.
  * Value-identical to the HOF formulation in Dedup.simHashMd5Hof, whose
  * per-token hash is `conv(substring(md5(tok), 1|9, 8), 16, 10)`.
  */
object SimHashMd5 {
  import org.apache.spark.unsafe.types.UTF8String

  private val SplitPattern = UTF8String.fromString(graft.operators.TextAnalysis.WhitespaceSplit)
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def fingerprint(text: UTF8String): ArrayData = {
    val trimmed = text.toLowerCase.trim()
    if (trimmed.numBytes() == 0) return new GenericArrayData(Array(0L, 0L))
    val toks = trimmed.split(SplitPattern, -1)
    val n = toks.length
    val counts = new Array[Int](64) // 0..31 = hi bits, 32..63 = lo bits
    val digest = md.get()
    var i = 0
    while (i < n) {
      digest.reset()
      val d = digest.digest(toks(i).getBytes)
      val hi = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      val lo = ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
      var j = 0
      while (j < 32) {
        counts(j) += ((hi >>> j) & 1L).toInt
        counts(32 + j) += ((lo >>> j) & 1L).toInt
        j += 1
      }
      i += 1
    }
    var fpHi = 0L
    var fpLo = 0L
    var j = 0
    while (j < 32) {
      if (counts(j) * 2 >= n) fpHi |= (1L << j)
      if (counts(32 + j) * 2 >= n) fpLo |= (1L << j)
      j += 1
    }
    new GenericArrayData(Array(fpHi, fpLo))
  }
}

/** Column-level façade for the native md5 SimHash expression. */
object SimHashMd5Expr {
  def apply(text: Column): Column =
    org.apache.spark.sql.graft.NativeExprs.simHashMd5(text)
}
