package graft.keys

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.schema.{KeyConfig, NearDupConfig}

/** Match-key and signature construction. Everything here is a pure
  * `Column` expression tree — whole-stage-codegen'd, no UDFs — so the 100 TB
  * plan keeps hashing/shingling inside the scan stage with zero shuffles.
  */
object Keys {
  val PartialHashBytes: Int = 2 * 1024 * 1024 // reference prefix, hash_manager.py:217

  /** Content hash — reference `compute_hash` / `compute_partial_hash`
    * (/root/reference/duplicate_files_in_folders/hash_manager.py:193-233):
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

  private val Seed2 = 0x9e3779b97f4a7c15L // golden-ratio odd constant

  /** Per-shingle base hashes: each shingle string is hashed exactly TWICE
    * (h1, h2); all `lanes` MinHash functions derive from them by cheap
    * long arithmetic (Kirsch–Mitzenmacher double hashing, here XOR-rotate
    * so ANSI mode can't overflow) — string hashing is the dominant MinHash
    * cost and this makes it O(shingles), not O(shingles × lanes).
    *
    * IMPORTANT: materialize this column behind an optimizer barrier
    * (persist) before projecting lanes — Catalyst's project collapsing
    * inlines the alias into each of its 64 references otherwise, re-hashing
    * every string per lane. */
  def shingleHashes(shingleArr: Column): Column =
    transform(shingleArr, s =>
      struct(xxhash64(s).as("h1"), xxhash64(lit(Seed2), s).as("h2")))

  /** Lane `i`'s hash of one (h1, h2) pair: h1 XOR rotl(h2, i). Bitwise only
    * — overflow-free under ANSI; 64 distinct mixers for i in [0, 64). */
  private def laneMix(h: Column, lane: Int): Column = {
    val r = lane % 64
    val rot = if (r == 0) h.getField("h2")
      else shiftleft(h.getField("h2"), r)
        .bitwiseOR(shiftrightunsigned(h.getField("h2"), 64 - r))
    h.getField("h1").bitwiseXOR(rot)
  }

  /** MinHash signature from pre-hashed shingles: lane i minimizes
    * laneMix(h, i) over the shingle set — one projection, no shuffle,
    * partial-agg-free (array_min over transform). Returns array<long>. */
  def minhashSignature(hashedArr: Column, lanes: Int): Column =
    array((0 until lanes).map { lane =>
      array_min(transform(hashedArr, h => laneMix(h, lane)))
    }: _*)

  /** LSH band hashes from a signature: band j hashes lanes
    * [j*r, (j+1)*r). Returns array<long> of length `bands`; null-signature
    * (empty shingles) propagates null band hashes. */
  def bandHashes(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      xxhash64(lit(b) +: (0 until rowsPerBand).map(r =>
        element_at(sig, b * rowsPerBand + r + 1)): _*)
    }: _*)

  /** Fused pre-hashed-shingles→MinHash→LSH band hashes in ONE expression
    * tree where every lane minimum is referenced exactly once by its band.
    *
    * Why not `bandHashes(minhashSignature(...))` over separate columns:
    * Catalyst's project collapsing inlines a `withColumn` alias into each of
    * its references, so 16 bands × 4 `element_at`s on the signature column
    * would duplicate the 64-lane MinHash subtree 64× (≈4096 lambda
    * expressions) — optimizer and codegen blow up. The fused form is
    * linear: bands × rowsPerBand lane expressions total. `hashedArr` is a
    * `shingleHashes` column, materialized behind a persist. */
  def lshBandHashes(hashedArr: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      xxhash64(lit(b) +: (0 until rowsPerBand).map { r =>
        array_min(transform(hashedArr, h => laneMix(h, b * rowsPerBand + r)))
      }: _*)
    }: _*)

  /** JVM-native MinHash→LSH band hashes — the hot-path implementation used
    * by the candidate pipeline. The expression form above is kept for
    * documentation/tests, but Spark evaluates higher-order functions
    * (transform/aggregate) interpreted — no whole-stage codegen — which
    * measured ~0.8 ms/doc at 64 lanes; this plain-JVM loop JITs to ~µs/doc.
    * Same construction (double hashing + XOR-rotate lane mix), FNV-1a 64
    * string hashing; signatures are engine-internal, never a cross-engine
    * contract, so hash-family choice is free. */
  def minhashBandUdf(bands: Int, rowsPerBand: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf { (shingles: Seq[String]) =>
      val lanes = bands * rowsPerBand
      val sig = Array.fill(lanes)(Long.MaxValue)
      shingles.foreach { s =>
        var h1 = 0xcbf29ce484222325L
        var h2 = 0x84222325cbf29ce4L
        var i = 0
        val n = s.length
        while (i < n) {
          val c = s.charAt(i)
          h1 = (h1 ^ (c & 0xff)) * 0x100000001b3L
          h1 = (h1 ^ (c >>> 8)) * 0x100000001b3L
          h2 = (h2 ^ (c >>> 8)) * 0x100000001b3L
          h2 = (h2 ^ (c & 0xff)) * 0x100000001b3L
          i += 1
        }
        // final avalanche (xxhash-style) so per-lane rotations decorrelate
        h1 ^= h1 >>> 33; h1 *= 0xff51afd7ed558ccdL; h1 ^= h1 >>> 33
        h2 ^= h2 >>> 29; h2 *= 0xc4ceb9fe1a85ec53L; h2 ^= h2 >>> 32
        var lane = 0
        while (lane < lanes) {
          val v = h1 ^ java.lang.Long.rotateLeft(h2, lane)
          if (v < sig(lane)) sig(lane) = v
          lane += 1
        }
      }
      val out = new Array[Long](bands)
      var b = 0
      while (b < bands) {
        var h = 0xcbf29ce484222325L ^ b.toLong
        var r = 0
        while (r < rowsPerBand) {
          val v = sig(b * rowsPerBand + r)
          var k = 0
          while (k < 8) { h = (h ^ ((v >>> (k * 8)) & 0xff)) * 0x100000001b3L; k += 1 }
          r += 1
        }
        out(b) = h
        b += 1
      }
      out
    }

  // Shared FNV-1a(+avalanche) double hash of one word k-gram, streamed
  // char-by-char over the window incl. single-space separators — byte-for-
  // byte the hash minhashBandUdf computes over the materialized k-gram
  // string, without ever building it.
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

  @inline private def splitTokens(nc: String): Array[String] =
    if (nc == null || nc.isEmpty) Array.empty
    else nc.split(' ').filter(_.nonEmpty)

  /** Fused normalized-text → (distinct shingle hashes, LSH band hashes) in
    * ONE JVM pass — the hot-path replacement for `shingles` (an interpreted
    * higher-order-function expression measured at ~1.3 ms/doc, the single
    * largest LSH cost) feeding `minhashBandUdf`. Returns a struct of
    *   `_shh`  array<long>: h1 of each DISTINCT word k-gram, ascending
    *           (the verify stage merge-intersects these — set-identical to
    *           distinct k-gram strings modulo 64-bit collisions),
    *   `bands` array<long>: LSH band hashes from the (h1, h2) double-hash
    *           MinHash, same construction as `minhashBandUdf`.
    * Texts with < k tokens return empty arrays (no signature — same
    * no-key semantics as before). */
  def shingleLshUdf(k: Int, bands: Int, rowsPerBand: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf { (nc: String) =>
      val toks = splitTokens(nc)
      val m = toks.length - k + 1
      val lanes = bands * rowsPerBand
      if (m <= 0) (Array.empty[Long], Array.empty[Long])
      else {
        val sig = Array.fill(lanes)(Long.MaxValue)
        val seen = new java.util.HashSet[java.lang.Long](m * 2)
        val shh = new scala.collection.mutable.ArrayBuilder.ofLong
        var i = 0
        while (i < m) {
          val (h1, h2) = kgramHash(toks, i, k)
          if (seen.add(h1)) {
            shh += h1
            var lane = 0
            while (lane < lanes) {
              val v = h1 ^ java.lang.Long.rotateLeft(h2, lane)
              if (v < sig(lane)) sig(lane) = v
              lane += 1
            }
          }
          i += 1
        }
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
        val sorted = shh.result()
        java.util.Arrays.sort(sorted)
        (sorted, out)
      }
    }

  /** Distinct word-k-gram hashes of a normalized text (h1 of `kgramHash`) —
    * the JVM-native replacement for `shingles` where only a blocking/set
    * identity is needed (containment block keys): joins and document-
    * frequency counts work identically on the 8-byte hash, and the
    * substring verify never needs the k-gram strings. */
  def shingleHashUdf(k: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf { (nc: String) =>
      val toks = splitTokens(nc)
      val m = toks.length - k + 1
      if (m <= 0) Array.empty[Long]
      else {
        val seen = new java.util.HashSet[java.lang.Long](m * 2)
        val shh = new scala.collection.mutable.ArrayBuilder.ofLong
        var i = 0
        while (i < m) {
          val h1 = kgramHash(toks, i, k)._1
          if (seen.add(h1)) shh += h1
          i += 1
        }
        shh.result()
      }
    }

  /** JVM-native SimHash over a token array — hot-path twin of `simhash`
    * below (HOF expressions evaluate interpreted; see minhashBandUdf).
    * Hash family differs from the expression form (FNV-1a + avalanche vs
    * xxhash64) — signatures are engine-internal; blocking recall is what
    * matters and is verified downstream by exact Jaccard. */
  val simhashUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf { (tokens: Seq[String]) =>
      val counters = new Array[Int](64)
      tokens.foreach { t =>
        var h = 0xcbf29ce484222325L
        var i = 0
        while (i < t.length) {
          val c = t.charAt(i)
          h = (h ^ (c & 0xff)) * 0x100000001b3L
          h = (h ^ (c >>> 8)) * 0x100000001b3L
          i += 1
        }
        h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
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

  /** 64-bit SimHash over the token MULTISET with **md5 token hashes**
    * (first 8 digest bytes, big-endian): md5 exists in every SQL engine, so
    * this signature — unlike the engine-internal FNV variant above — is
    * oracle-reproducible bit-for-bit (DuckDB: `('0x' || substr(md5(tok),
    * 1, 16))::UBIGINT` + the same sign-counter aggregation). Used by the
    * simhash-radius pair operator whose contract is pairs within an exact
    * Hamming distance. */
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

  /** SimHash (64-bit) over the token multiset: bit b of the result is the
    * sign of Σ_tokens (bit b of xxhash64(token) ? +1 : −1). Pure
    * higher-order-function expression: aggregate over the token array with a
    * 64-counter accumulator — no explode, no shuffle. */
  def simhash(caption: Column): Column = {
    val toks = tokens(caption)
    // variable-distance shifts need the SQL function (the Scala helper only
    // accepts a literal Int distance)
    def shr(v: Column, n: Column) = call_function("shiftright", v, n.cast("int"))
    def shl(v: Column, n: Column) = call_function("shiftleft", v, n.cast("int"))
    val counters = aggregate(
      toks,
      array_repeat(lit(0), 64),
      (acc, t) => {
        val h = xxhash64(t)
        zip_with(acc, sequence(lit(0), lit(63)),
          (a, b) => a + when(shr(h, b).bitwiseAND(1) === 1, 1).otherwise(-1))
      })
    aggregate(
      zip_with(counters, sequence(lit(0), lit(63)),
        (c, b) => when(c > 0, shl(lit(1L), b)).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** Hamming band keys for a 64-bit hash: split into `bands` equal bit
    * slices. Pigeonhole: two hashes within Hamming distance r < bands agree
    * on at least one band — blocking is recall-lossless for r ≤ bands−1. */
  def hammingBands(hash64: Column, bands: Int): Column = {
    val width = 64 / bands
    val mask = (1L << width) - 1
    array((0 until bands).map { b =>
      shiftright(hash64, b * width).bitwiseAND(lit(mask))
    }: _*)
  }

  /** Exact Hamming distance between two 64-bit hashes (codegen builtin). */
  def hammingDist(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** All XOR masks of a `width`-bit value with popcount ≤ subRadius —
    * the probe-expansion set of multi-index Hamming search (Norouzi et al.,
    * "Fast Search in Hamming Space with Multi-Index Hashing", CVPR'12):
    * a pair within total distance r has, by pigeonhole, some chunk with
    * ≤ ⌊r/m⌋ errors, so probing every ≤⌊r/m⌋-flip neighborhood of each
    * chunk is recall-lossless while chunks stay wide (64/m bits) enough to
    * be selective at 10¹² rows. Driver-side enumeration; small for
    * subRadius ≤ 3 (width 16: 1, 17, 137, or 697 masks). */
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
