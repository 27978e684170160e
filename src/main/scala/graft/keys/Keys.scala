package graft.keys

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.schema.KeyConfig

/** Match-key and signature construction, all inside the scan stage with
  * zero shuffles. Content hashes, match keys, normalization, Hamming bands
  * and Jaccard counts are `Column` expressions; the text signatures
  * (`shingleLshUdf`, `shingleHashUdf`, `simhashMd5Udf`) are JVM UDFs,
  * one per signature: Spark evaluates higher-order functions
  * (transform/aggregate) interpreted, without whole-stage codegen, which
  * measured ~0.8 ms/doc for a 64-lane MinHash expression against ~µs/doc
  * for the JIT-compiled loop.
  */
object Keys {
  val PartialHashBytes: Int = 2 * 1024 * 1024 // reference prefix, hash_manager.py:217

  /** Content hash — reference `compute_hash` / `compute_partial_hash`
    * (reference `hash_manager.py:193-233`):
    * sha256 of the whole payload (`fullHash`) or of the first 2 MiB
    * (default). `substring` on binary is codegen'd; pushdown-safe. */
  def contentHash(bytes: Column, fullHash: Boolean): Column =
    if (fullHash) sha2(bytes, 256)
    else sha2(substring(bytes, 1, PartialHashBytes), 256)

  /** The match key — reference `get_file_key` (utils.py:220-231) built
    * `'{hash}[_{name}][_{mtime}]'` as a string; we use a struct to avoid the
    * separator-collision bug class entirely. Components beyond the hash are
    * config-gated exactly like `--ignore_diff`. */
  def matchKey(cfg: KeyConfig, bytes: Column, caption: Column, mtime: Column): Column =
    matchKeyFromHash(cfg, contentHash(bytes, cfg.fullHash), caption, mtime)

  /** Match key from an ALREADY-COMPUTED content hash — the cache-first
    * path (reference X7 adaptive strategy, duplicates_finder.py:164-167):
    * a checkpointed re-run joins hashes from the hash_cache table instead
    * of re-reading every byte. */
  def matchKeyFromHash(cfg: KeyConfig, hash: Column, caption: Column, mtime: Column): Column = {
    val parts = Seq(hash.as("h")) ++
      (if (!cfg.ignoreCaption) Seq(caption.as("c")) else Nil) ++
      (if (!cfg.ignoreMtime) Seq(mtime.cast("string").as("m")) else Nil)
    struct(parts: _*)
  }

  /** Caption normalization: lower-case, collapse whitespace. */
  def normCaption(caption: Column): Column =
    trim(regexp_replace(lower(caption), "\\s+", " "))

  /** Word tokens of the normalized caption. */
  def tokens(caption: Column): Column =
    filter(split(normCaption(caption), " "), t => length(t) > 0)

  /** Distinct word k-shingles: array of space-joined k-grams. Captions with
    * fewer than k tokens yield an empty array (no LSH candidates — same
    * no-key behavior as an unreadable file in the reference). */
  def shingles(caption: Column, k: Int): Column = {
    val toks = tokens(caption)
    val n = size(toks)
    array_distinct(
      when(n >= k,
        transform(sequence(lit(0), n - k),
          i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
        .otherwise(array().cast("array<string>")))
  }

  // FNV-1a(+avalanche) double hash of one word k-gram, streamed
  // char-by-char over the window incl. single-space separators — the hash
  // of the space-joined k-gram string, without ever building it.
  @inline private def kgramHash(toks: Array[String], start: Int, k: Int): (Long, Long) = {
    var h1 = 0xcbf29ce484222325L
    var h2 = 0x84222325cbf29ce4L
    var j = 0
    while (j < k) {
      val t = toks(start + j)
      var i = 0
      val n = t.length
      while (i < n) {
        val c = t.charAt(i)
        h1 = (h1 ^ (c & 0xff)) * 0x100000001b3L
        h1 = (h1 ^ (c >>> 8)) * 0x100000001b3L
        h2 = (h2 ^ (c >>> 8)) * 0x100000001b3L
        h2 = (h2 ^ (c & 0xff)) * 0x100000001b3L
        i += 1
      }
      if (j < k - 1) { // the ' ' joiner of the k-gram string
        h1 = (h1 ^ ' ') * 0x100000001b3L
        h1 = (h1 ^ 0) * 0x100000001b3L
        h2 = (h2 ^ 0) * 0x100000001b3L
        h2 = (h2 ^ ' ') * 0x100000001b3L
      }
      j += 1
    }
    h1 ^= h1 >>> 33; h1 *= 0xff51afd7ed558ccdL; h1 ^= h1 >>> 33
    h2 ^= h2 >>> 29; h2 *= 0xc4ceb9fe1a85ec53L; h2 ^= h2 >>> 32
    (h1, h2)
  }

  /** The DISTINCT word k-grams of a normalized text, by `kgramHash`'s h1:
    * calls `each(h1, h2)` once per distinct k-gram and returns their h1s,
    * both in first-seen order. Texts with < k tokens have none. */
  @inline private def distinctKgrams(nc: String, k: Int)(each: (Long, Long) => Unit): Array[Long] = {
    val toks = if (nc == null || nc.isEmpty) Array.empty[String] else nc.split(' ').filter(_.nonEmpty)
    val m = toks.length - k + 1
    if (m <= 0) Array.empty[Long]
    else {
      val seen = new java.util.HashSet[java.lang.Long](m * 2)
      val shh = new scala.collection.mutable.ArrayBuilder.ofLong
      var i = 0
      while (i < m) {
        val (h1, h2) = kgramHash(toks, i, k)
        if (seen.add(h1)) { shh += h1; each(h1, h2) }
        i += 1
      }
      shh.result()
    }
  }

  /** Fused normalized-text → (distinct shingle hashes, LSH band hashes) in
    * ONE JVM pass — the hot-path replacement for `shingles` (an interpreted
    * higher-order-function expression measured at ~1.3 ms/doc, the single
    * largest LSH cost). Returns a struct of
    *   `_shh`  array<long>: h1 of each DISTINCT word k-gram, ascending
    *           (the verify stage merge-intersects these — set-identical to
    *           distinct k-gram strings modulo 64-bit collisions),
    *   `bands` array<long>: LSH band hashes. MinHash lane i minimizes
    *           h1 XOR rotl(h2, i) over the distinct k-grams (Kirsch–
    *           Mitzenmacher double hashing: two string hashes per k-gram,
    *           not one per lane), and band b FNV-hashes lanes
    *           [b·rowsPerBand, (b+1)·rowsPerBand). Signatures are
    *           engine-internal, never a cross-engine contract, so the hash
    *           family is free.
    * Texts with < k tokens return empty arrays (no signature — same
    * no-key semantics as before). */
  def shingleLshUdf(k: Int, bands: Int, rowsPerBand: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf { (nc: String) =>
      val lanes = bands * rowsPerBand
      val sig = Array.fill(lanes)(Long.MaxValue)
      val shh = distinctKgrams(nc, k) { (h1, h2) =>
        var lane = 0
        while (lane < lanes) {
          val v = h1 ^ java.lang.Long.rotateLeft(h2, lane)
          if (v < sig(lane)) sig(lane) = v
          lane += 1
        }
      }
      if (shh.isEmpty) (shh, Array.empty[Long])
      else {
        val out = new Array[Long](bands)
        var b = 0
        while (b < bands) {
          var h = 0xcbf29ce484222325L ^ b.toLong
          var r = 0
          while (r < rowsPerBand) {
            val v = sig(b * rowsPerBand + r)
            var q = 0
            while (q < 8) { h = (h ^ ((v >>> (q * 8)) & 0xff)) * 0x100000001b3L; q += 1 }
            r += 1
          }
          out(b) = h
          b += 1
        }
        java.util.Arrays.sort(shh)
        (shh, out)
      }
    }

  /** Distinct word-k-gram hashes of a normalized text, in first-seen order
    * — exactly `shingleLshUdf`'s `_shh` before its sort — the JVM-native
    * replacement for `shingles` where only a blocking/set identity is
    * needed (containment block keys): joins and document-frequency counts
    * work identically on the 8-byte hash, and the substring verify never
    * needs the k-gram strings. */
  def shingleHashUdf(k: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf { (nc: String) => distinctKgrams(nc, k)((_, _) => ()) }

  /** 64-bit SimHash over the token MULTISET with **md5 token hashes**
    * (first 8 digest bytes, big-endian): md5 exists in every SQL engine, so
    * this signature is oracle-reproducible bit-for-bit (DuckDB:
    * `('0x' || substr(md5(tok), 1, 16))::UBIGINT` + the same sign-counter
    * aggregation). Used by the simhash-radius pair operator whose contract
    * is pairs within an exact Hamming distance. */
  val simhashMd5Udf: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf { (tokens: Seq[String]) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val counters = new Array[Int](64)
      tokens.foreach { t =>
        val d = md.digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        var h = 0L
        var i = 0
        while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counters(b) += 1 else counters(b) -= 1
          b += 1
        }
      }
      var out = 0L
      var b = 0
      while (b < 64) { if (counters(b) > 0) out |= (1L << b); b += 1 }
      out
    }

  /** Hamming band keys for a 64-bit hash: split into `bands` equal bit
    * slices. Pigeonhole: two hashes within Hamming distance r < bands agree
    * on at least one band — blocking is recall-lossless for r ≤ bands−1. */
  def hammingBands(hash64: Column, bands: Int): Column = {
    val width = 64 / bands
    array((0 until bands).map { b =>
      shiftright(hash64, b * width).bitwiseAND(lit(chunkMask(width)))
    }: _*)
  }

  /** The low `width` bits, the mask of one Hamming band chunk. Not
    * `(1L << width) - 1`: Java shifts wrap, so that is 0 at width 64. */
  private[graft] def chunkMask(width: Int): Long = -1L >>> (64 - width)

  /** All XOR masks of a `width`-bit value with popcount ≤ subRadius —
    * the probe-expansion set of multi-index Hamming search (Norouzi et al.,
    * "Fast Search in Hamming Space with Multi-Index Hashing", CVPR'12):
    * a pair within total distance r has, by pigeonhole, some chunk with
    * ≤ ⌊r/m⌋ errors, so probing every ≤⌊r/m⌋-flip neighborhood of each
    * chunk is recall-lossless while chunks stay wide (64/m bits) enough to
    * be selective at 10¹² rows. Driver-side enumeration of Σ_{i ≤
    * subRadius} C(width, i) masks: 1, 17, 137 or 697 at width 16, but
    * 43,745 at width 64 and subRadius 3 — `NearDupConfig` caps bands ×
    * masks at 4,096 probe rows per hash. */
  def flipMasks(width: Int, subRadius: Int): Seq[Long] = {
    require(subRadius >= 0 && subRadius <= 3, s"flip enumeration for subRadius $subRadius is impractical")
    val bits = 0 until width
    val zero = Seq(0L)
    val one = if (subRadius >= 1) bits.map(b => 1L << b) else Nil
    val two = if (subRadius >= 2)
      (for (a <- bits; b <- bits if a < b) yield (1L << a) | (1L << b)) else Nil
    val three = if (subRadius >= 3)
      (for (a <- bits; b <- bits if a < b; c <- bits if b < c)
        yield (1L << a) | (1L << b) | (1L << c)) else Nil
    zero ++ one ++ two ++ three
  }

  /** Exact Jaccard similarity of two distinct-shingle arrays, as a
    * (numerator, denominator) integer pair — integer-exact comparisons
    * (`inter * 100 >= thresholdPct * union`) avoid float-boundary flakiness. */
  def jaccardInterUnion(a: Column, b: Column): (Column, Column) = {
    val inter = size(array_intersect(a, b))
    val union = size(a) + size(b) - inter
    (inter, union)
  }
}
