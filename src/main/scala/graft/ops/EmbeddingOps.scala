package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.CacheScope

/** Similarity search over an embedding column (array<float>).
  *
  * Quantized integer dot products (round(x*1000) per dimension) make
  * similarity comparisons integer-exact — oracle-reproducible in any SQL
  * engine, no float-boundary flakiness — while preserving ranking to 3
  * decimals. The brute-force path is the small-scale baseline; the
  * hyperplane-LSH path is the 100 TB path (bucketed candidate join).
  */
object EmbeddingOps {

  /** array<float> → array<long>, q[i] = round(v[i] * 1000). */
  def quantize(vec: Column): Column =
    transform(vec, x => round(x.cast("double") * 1000).cast("long"))

  def dotQ(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** Fused JVM dot product over quantized vectors — value-identical to
    * `dotQ` (plain long multiply-add, no float rounding) but one tight loop
    * instead of an interpreted `zip_with` + `aggregate` HOF pair that
    * allocates an intermediate array per evaluated row (the measured cost
    * that motivated Keys.shingleLshUdf). `Array[Long]` parameters, NOT
    * `Seq[Long]`: the Seq form deserializes each array element through a
    * boxed java.lang.Long (measured round 6: the label-blocked pair scans
    * spent ~4 s at sf0.1 in one join job, dominated by 10⁸ boxings); the
    * primitive-array form goes through `ArrayData.toLongArray` — one
    * unboxed copy per side. Hot pair-scoring paths use this; `dotQ` remains
    * the Column form the oracle SQL mirrors. */
  private val dotQJvm = udf { (a: Array[Long], b: Array[Long]) =>
    val n = math.min(a.length, b.length)
    var acc = 0L; var i = 0
    while (i < n) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** Single-aggregate top-1: max `dot_q`, ties to the smallest `nn_id` —
    * `min_by` over the ordering struct (−dot, nn_id) with map-side partial
    * combine. Replaces dropDuplicates + window row_number (two full
    * shuffles + a sort of the pair set) with ONE hash aggregate; duplicate
    * candidate pairs (one per shared LSH table) carry identical dot values,
    * so folding them through the aggregate is semantics-free. */
  private def top1(pairs: DataFrame): DataFrame =
    pairs
      .groupBy("vec_id")
      .agg(min_by(struct(col("nn_id"), col("dot_q")),
                  struct((-col("dot_q")).as("_nd"), col("nn_id"))).as("_top"))
      .select(col("vec_id"), col("_top.nn_id").as("nn_id"),
              col("_top.dot_q").as("dot_q"))

  /** Brute-force top-1 neighbor per vector, blocked by an exact partition
    * column (label): never a global cartesian — within-block join + window
    * argmax. Output (vec_id, nn_id, dot_q). Ties broken by smaller nn_id.
    *
    * Shape note (round 6): a SELF-join of the one frame `q` — both physical
    * children are the identical Exchange(label) subtree, so AQE's stage
    * reuse materializes the quantize scan ONCE and the second side reads
    * the reused shuffle; no persist, no seal job (the old persist + sealed
    * output cost two extra jobs per run for a single-consumer query
    * surface). SHUFFLE_HASH keeps both sides shuffle exchanges (a broadcast
    * on one side would defeat the reuse and recompute the scan). */
  def top1WithinLabel(emb: DataFrame, idCol: String, vecCol: String,
                      labelCol: String): DataFrame = {
    val q = emb.select(col(idCol).as("vec_id"), col(labelCol).as("label"),
                       quantize(col(vecCol)).as("q"))
    val pairs = q.as("a")
      .join(q.as("b").hint("SHUFFLE_HASH"),
            col("a.label") === col("b.label") &&
              col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("nn_id"),
              dotQJvm(col("a.q"), col("b.q")).as("dot_q"))
    top1(pairs)
  }

  /** Embedding-cosine near-duplicate pairs: within-label blocked join,
    * keep pairs with quantized dot ≥ `tauQ`. Inputs are L2-normalized so
    * the integer dot IS cosine × 10⁶ (to quantization error) — integer-
    * exact, oracle-reproducible. Output (id1, id2, dot_q), id1 < id2.
    * The label block bounds the join (same role as LSH buckets); at scale
    * the label is replaced by `hyperplaneBucket`. */
  def cosinePairs(emb: DataFrame, idCol: String, vecCol: String,
                  labelCol: String, tauQ: Long): DataFrame = {
    // self-join of one frame → both sides share one reused Exchange(label)
    // (see top1WithinLabel's shape note)
    val q = emb.select(col(idCol).as("id"), col(labelCol).as("label"),
                       quantize(col(vecCol)).as("q"))
    q.as("a")
      .join(q.as("b").hint("SHUFFLE_HASH"),
            col("a.label") === col("b.label") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
              dotQJvm(col("a.q"), col("b.q")).as("dot_q"))
      .where(col("dot_q") >= tauQ)
  }

  /** ±1 component i of random hyperplane (t, j) — derived from **md5** so
    * the planes (and therefore every LSH bucket) are reproducible in ANY
    * SQL engine, making the full ANN output oracle-checkable: sign = +1
    * iff the first byte of md5("p{t}_{j}_{i}") is even. DuckDB computes the
    * identical value as
    * `CAST('0x' || substr(md5('p'||t||'_'||j||'_'||i), 1, 2) AS UBIGINT) % 2`.
    * No stored model — every executor (and the oracle) recomputes the same
    * planes. */
  private[graft] def planeSign(t: Int, j: Int, i: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"p${t}_${j}_${i}".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    if ((d(0) & 1) == 0) 1 else -1
  }

  /** Random-hyperplane (SimHash) sign-buckets for ALL tables in one JVM
    * pass over the QUANTIZED vector: bit j of table t's bucket =
    * [Σ_i q_i · planeSign(t,j,i) > 0]. Integer dot products make the bucket
    * decision exact in every engine (float association order can flip a
    * sign at the boundary); one fused loop replaces nTables × nBits
    * interpreted higher-order-function aggregates (the measured cost of the
    * expression form — see Keys.minhashBandUdf for the precedent). */
  def hyperplaneBucketsUdf(dim: Int, nBits: Int, nTables: Int)
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val signs: Array[Array[Array[Int]]] =
      Array.tabulate(nTables, nBits, dim)(planeSign)
    org.apache.spark.sql.functions.udf { (q: Seq[Long]) =>
      val qa = q.toArray
      val n = math.min(dim, qa.length)
      val out = new Array[Long](nTables)
      var t = 0
      while (t < nTables) {
        var bucket = 0L
        var j = 0
        while (j < nBits) {
          val s = signs(t)(j)
          var dot = 0L
          var i = 0
          while (i < n) { dot += qa(i) * s(i); i += 1 }
          if (dot > 0) bucket |= (1L << j)
          j += 1
        }
        out(t) = bucket
        t += 1
      }
      out
    }
  }

  /** ANN top-1 via multi-table hyperplane LSH: `nTables` independent
    * sign-LSH tables (standard recall amplification — one table of b bits
    * finds a cos-θ neighbor with prob (1−θ/π)^b; L tables lift that to
    * 1−(1−p^b)^L); candidates are the union of same-(table,bucket) pairs,
    * verified & ranked by exact quantized dot. Scale path: one explode to
    * nTables rows per vector, shuffle keyed on (table, bucket) only — never
    * a cross join.
    *
    * Hot-bucket guard (`cap`, same role as the salting in Candidates.bucketPairs):
    * a bucket of size s > cap would cost s² comparisons in one task. For
    * top-1 the bound is per-PROBE candidates, not pair completeness, so the
    * INDEX side of an oversized bucket is down-sampled to ≈cap members by a
    * deterministic hash filter (pmod(xxhash64(id), ceil(s/cap)) = 0 — no
    * sort, no single-task window), and the PROBE side is salted into
    * ceil(s/cap) splits with the ≤cap index rows replicated to every split:
    * each task does O(cap·s/splits) work and every probe still sees ≈cap
    * candidates per table. Buckets ≤ cap are untouched (exact behavior).
    * Within a hot bucket the exact argmax may be sampled away, but a hot
    * sign-bucket is by construction a mass of mutually-close vectors and
    * the union over nTables independent samples keeps the returned
    * neighbor's similarity near-optimal (asserted in OpsSpec).
    * Output (vec_id, nn_id, dot_q) — approximate top-1 per vector. */
  def annTop1(emb: DataFrame, idCol: String, vecCol: String,
              dim: Int, nBits: Int = 8, nTables: Int = 8,
              cap: Int = 256): DataFrame =
    if (cap == Int.MaxValue) annTop1Uncapped(emb, idCol, vecCol, dim, nBits, nTables)
    else annTop1Capped(emb, idCol, vecCol, dim, nBits, nTables, cap)

  /** `cap = Int.MaxValue` fast path: with the hot-bucket guard disabled,
    * `oversized` is empty BY CONSTRUCTION, so the bucket-size aggregation,
    * its broadcast join, and the salt explode/filter machinery the capped
    * path pays are dead plan weight (two extra jobs per run). The candidate
    * join collapses to a pure SELF-join of the exploded bucket frame — both
    * physical children are the identical Exchange(table_id, bucket)
    * subtree, so AQE stage reuse materializes the quantize+bucket UDF scan
    * ONCE; no persist, no seal job (single-consumer query surface).
    * SHUFFLE_HASH keeps both sides shuffle exchanges so the reuse holds. */
  private def annTop1Uncapped(emb: DataFrame, idCol: String, vecCol: String,
                              dim: Int, nBits: Int, nTables: Int): DataFrame = {
    val bucketsUdf = hyperplaneBucketsUdf(dim, nBits, nTables)
    val q = emb.select(col(idCol).as("vec_id"), quantize(col(vecCol)).as("q"))
      .select(col("vec_id"), col("q"),
              posexplode(bucketsUdf(col("q"))).as(Seq("table_id", "bucket")))
    // score on the way into ONE hash aggregate — same rationale as the
    // capped path's `pairs`
    val pairs = q.as("a")
      .join(q.as("b").hint("SHUFFLE_HASH"),
            col("a.table_id") === col("b.table_id") &&
              col("a.bucket") === col("b.bucket") &&
              col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("nn_id"),
              dotQJvm(col("a.q"), col("b.q")).as("dot_q"))
    top1(pairs)
  }

  private def annTop1Capped(emb: DataFrame, idCol: String, vecCol: String,
                            dim: Int, nBits: Int, nTables: Int,
                            cap: Int): DataFrame = CacheScope.seal { scope =>
    val bucketsUdf = hyperplaneBucketsUdf(dim, nBits, nTables)
    val q = scope.persist(
      emb.select(col(idCol).as("vec_id"), quantize(col(vecCol)).as("q"))
        .select(col("vec_id"), col("q"),
                posexplode(bucketsUdf(col("q"))).as(Seq("table_id", "bucket"))))
    val bucketKey = Seq("table_id", "bucket")
    val oversized = q.groupBy(bucketKey.map(col): _*)
      .agg(count(lit(1)).as("_bsz"))
      .where(col("_bsz") > cap)
      .withColumn("_nsplit", ceil(col("_bsz").cast("double") / cap).cast("int"))
      .select((bucketKey.map(col) :+ col("_nsplit")): _*)
    val withSplit = q.join(broadcast(oversized), bucketKey, "left")
      .withColumn("_g", coalesce(col("_nsplit"), lit(1)))
    val index = withSplit
      .where(col("_g") === 1 || pmod(xxhash64(col("vec_id")), col("_g")) === 0)
      .withColumn("_salt", explode(sequence(lit(0), col("_g") - 1)))
      .select(col("table_id"), col("bucket"), col("_salt"),
              col("vec_id").as("nn_id"), col("q").as("q2"))
    val probe = withSplit
      .withColumn("_salt",
        pmod(xxhash64(col("table_id"), col("bucket"), col("vec_id")), col("_g"))
          .cast("int"))
      .select(col("table_id"), col("bucket"), col("_salt"), col("vec_id"), col("q"))
    // score on the way into ONE hash aggregate: a pair seen from k shared
    // tables re-scores k times map-side (cheap fused loop) but never costs
    // a dedup shuffle; the aggregate's partial combine collapses them.
    val pairs = probe
      .join(index, bucketKey :+ "_salt")
      .where(col("vec_id") =!= col("nn_id"))
      .select(col("vec_id"), col("nn_id"), dotQJvm(col("q"), col("q2")).as("dot_q"))
    top1(pairs)
  }
}
