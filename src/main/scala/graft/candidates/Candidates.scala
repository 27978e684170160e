package graft.candidates

import org.apache.spark.sql.{Column, DataFrame, Encoders, KeyValueGroupedDataset, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.cluster.ConnectedComponents
import graft.keys.Keys
import graft.schema.NearDupConfig
import graft.util.CacheScope

/** Candidate-pair generation. Output contract for every source: DataFrame
  * `(id1, id2, kind)` with `id1 < id2` — the union feeds
  * connected-components clustering. Exact, pHash-Hamming and containment
  * edges are distinct; caption-LSH emits a connectivity-form forest (see
  * `captionLshEdges`): the same components as its verified pairs, not the
  * pairs themselves, and an edge may repeat across partitions.
  *
  * One body per technique: the lazy bodies here are also the `DocOps`
  * pair listings' (`bucketPairs` — grouped and verified inside each LSH
  * bucket — for MinHash-LSH, `multiIndexHammingPairsIn` — grouped and
  * verified inside each band bucket — for SimHash, `containmentPairsIn`
  * for containment); each public call only picks the output form and the
  * sealing mode. The listings collapse no identical texts: both listing
  * forms emit each pair once, in the lowest band that finds it —
  * identical texts at band 0 — so no listing runs a `distinct` or a
  * member expansion. A flagship source seals ONE frame, its edges; its
  * bucket statistics are observed inside that frame's job
  * (`BucketStats`), never aggregated by a job of their own.
  *
  * At 100 TB the invariant is: NEVER a cartesian product; every candidate
  * source is blocked on a key (exact key, LSH band hash, Hamming band,
  * shingle block) — an equi-join, or for the LSH and Hamming buckets one
  * exchange on the bucket key and an in-memory verify per bucket — and AQE
  * handles residual skew. Hot buckets are additionally capped with an
  * explicit, logged truncation (reference analogue: the Bloom pre-filter
  * bounded candidate work, duplicates_finder.py:70-104).
  */
object Candidates {

  /** A source's bucket statistics (salted_buckets, salt_groups: the
    * buckets over the cap and the groups or index rows they held),
    * observed inside the job that runs the source's plan. `observe` tags a
    * frame on the plan's main path — a node AQE prunes once it finds it
    * empty (e.g. an anti-join's build side) records nothing. So after the
    * plan ran, an absent row means only that the observed frame was empty:
    * (0, 0). Each instance has its own name, so one plan may compose any
    * number of sources. */
  private[graft] final class BucketStats {
    private val name = s"graft_bucket_stats_${BucketStats.next.incrementAndGet()}"

    def observe(df: DataFrame, over: Column, groups: Column): DataFrame =
      df.observe(name,
        coalesce(sum(when(over, 1L).otherwise(0L)), lit(0L)).as("salted_buckets"),
        coalesce(sum(when(over, groups.cast("long")).otherwise(0L)), lit(0L)).as("salt_groups"))

    /** The one-row (salted_buckets, salt_groups) frame `ran`'s execution
      * observed; `ran` is the frame whose action ran the observed plan. */
    def metrics(ran: DataFrame): DataFrame = {
      val (b, g) = ran.queryExecution.observedMetrics.get(name)
        .fold((0L, 0L))(r => (r.getLong(0), r.getLong(1)))
      import ran.sparkSession.implicits._
      Seq((b, g)).toDF("salted_buckets", "salt_groups")
    }
  }
  private object BucketStats { val next = new java.util.concurrent.atomic.AtomicLong }

  /** Build one source inside a fresh scope, seal its output, release the
    * scope: (sealed output, the bucket statistics its seal job observed). */
  private[graft] def sealObserved(body: CacheScope => (DataFrame, BucketStats))
      : (DataFrame, DataFrame) = {
    val scope = new CacheScope
    try {
      val (out, stats) = body(scope)
      (graft.util.Seal(out), stats.metrics(out))
    } finally scope.close()
  }

  /** Pairs sharing an exact blocking key, bucket-capped.
    *
    * Instead of joining bucket×bucket (quadratic in bucket size), emit for
    * each bucket only the star `representative—member` edges: connectivity
    * is what clustering needs, and a star is the minimal edge set — turns
    * the reference's grouped-lists-by-key shape (duplicates_finder.py:161-
    * 175) into O(bucket) edges rather than O(bucket²). For *verified*
    * near-dup sources each pair must pass its verify predicate — see
    * `bucketPairs`.
    *
    * PRECONDITION: `idCol` is unique in `keyed`. Each row then emits at
    * most one edge, (its bucket's minimum, itself), so the edges are
    * distinct with no `distinct` exchange.
    */
  def starWithinBuckets(keyed: DataFrame, idCol: String, keyCols: Seq[String],
                        kind: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
    keyed
      .withColumn("_rep", min(idCol).over(w))
      .where(col(idCol) =!= col("_rep"))
      .select(col("_rep").as("id1"), col(idCol).as("id2"), lit(kind).as("kind"))
  }

  /** Verified near-dup pairs among LSH-banded rows, compared inside their
    * bucket — the reference's group-then-compare shape
    * (duplicates_finder.py:161-175), never a pair self-join. `shingled` has
    * `idCol`, `_shh` (sorted distinct shingle hashes) and `_bands` (LSH
    * band hashes); rows sharing a (band, band hash) bucket are candidates,
    * kept when their integer-exact Jaccard passes (`inter·100 ≥
    * union·thresholdPct`). Lazy. Returns (pairs(id1, id2) with id1 < id2,
    * the salted buckets' statistics, observed on the bucket-size aggregate
    * when the pairs' plan runs).
    *
    * Explode once into (id, _shh, band); one aggregate gives each bucket's
    * size and minimum id, and a plain join drops singleton buckets (no
    * hint: the frame grows with the corpus, and AQE broadcasts it when
    * small). A bucket of s > `cap` rows is salted into g = ceil(s/cap)
    * groups by pmod(xxhash64(band, band_hash, id), g) — bucket-dependent,
    * so a pair split in one bucket is not split alike in the others. Then
    * ONE exchange on the group key, a sort within partitions by (key, id),
    * and a pass that holds one group at a time in memory (a salt group, or
    * a listing tile of two).
    *
    * Two forms, differing only inside the group:
    *   - connectivity (`pairComplete = false`): a union-find per salt group
    *     verifies a pair only when its ends are not yet connected and emits
    *     the union edges; each other salt group of a salted bucket also
    *     gets the bucket minimum as a stitch-only row, verified against that
    *     group's minimum. The candidates are the within-group pairs plus
    *     that stitch (a star, diameter 2), so the components are those of
    *     verifying them all, at about s verifies for a hot clique of s rows,
    *     not s²/2. An edge may repeat across buckets.
    *   - listing (`pairComplete = true`): triangular tiles — a row of salt
    *     i joins tile (min(i,t), max(i,t)) for every t < g, on the tile's
    *     left side when i ≤ t and its right side when i ≥ t — so each pair
    *     of a bucket meets in exactly one tile; every left × right pair is
    *     verified. A pair is emitted only in the lowest band where the two
    *     rows' band arrays agree, so the listing is distinct with no
    *     `distinct` exchange. */
  private[graft] def bucketPairs(shingled: DataFrame, idCol: String, cap: Int,
                                 thresholdPct: Int, pairComplete: Boolean)
      : (DataFrame, BucketStats) = {
    val (groups, stats) = bucketGroups(shingled, idCol, cap, pairComplete)
    val t = shingled.schema(idCol).dataType
    val schema = StructType(Seq("id1", "id2").map(StructField(_, t, nullable = false)))
    (groups.flatMapSortedGroups(col("_id"))((_, rows) =>
      verifyGroup(rows.toIndexedSeq, thresholdPct, pairComplete))(Encoders.row(schema)), stats)
  }

  /** (`bucketPairs`' groups — keyed (band_id, band_hash, _gi, _gj), rows
    * (key, `_l`, `_r`, `_id`, `_shh`, and `_bands` in the listing form) —
    * statistics). Visible to specs, which bound the groups' sizes. */
  private[graft] def bucketGroups(shingled: DataFrame, idCol: String, cap: Int, pairComplete: Boolean)
      : (KeyValueGroupedDataset[Row, Row], BucketStats) = {
    val bucket = Seq("band_id", "band_hash")
    val exploded = shingled.select(col(idCol).as("_id"), col("_shh"), col("_bands"),
      posexplode(col("_bands")).as(bucket))
    // the salted buckets are counted as the sizes stream into the join
    val stats = new BucketStats
    val sizes = stats.observe(exploded.groupBy(bucket.map(col): _*)
      .agg(count(lit(1)).as("_bsz"), min("_id").as("_bmin"))
      .where(col("_bsz") > 1)
      .withColumn("_g", ceil(col("_bsz").cast("double") / cap).cast("int")),
      col("_bsz") > cap, col("_g"))
    val salted = exploded.join(sizes, bucket)
      .withColumn("_salt",
        pmod(xxhash64(col("band_id"), col("band_hash"), col("_id")), col("_g")).cast("int"))
    val all = sequence(lit(0), col("_g") - 1)
    val (s, t) = (col("_salt"), col("_t"))
    val tiles = // connectivity: `_r` false marks the bucket minimum's stitch-only copies
      if (pairComplete) salted.withColumn("_t", explode(all))
        .select(col("*"), least(s, t).as("_gi"), greatest(s, t).as("_gj"),
                (s <= t).as("_l"), (s >= t).as("_r"))
      else salted.withColumn("_t", explode(when(col("_id") === col("_bmin"), all)
                                             .otherwise(array(s))))
        .select(col("*"), t.as("_gi"), t.as("_gj"), lit(true).as("_l"), (t === s).as("_r"))
    val key = Seq("band_id", "band_hash", "_gi", "_gj").map(col)
    val rows = tiles.select(key ++ Seq("_l", "_r", "_id", "_shh").map(col) ++
                            (if (pairComplete) Seq(col("_bands")) else Nil): _*)
    val groups = rows.groupBy(key: _*)
      .as(Encoders.row(rows.select(key: _*).schema), Encoders.row(rows.schema))
    (groups, stats)
  }

  /** `bucketPairs`' verified pairs of one held group (rows in id order,
    * so a pair of positions a < b is the pair (id1, id2)). */
  private def verifyGroup(g: IndexedSeq[Row], pct: Int, pairComplete: Boolean): Seq[Row] = {
    val n = g.length
    val sh = g.map(_.getSeq[Long](7).toArray)
    def similar(a: Int, b: Int): Boolean = { // merge count over sorted sets
      val (x, y) = (sh(a), sh(b))
      var i = 0; var j = 0; var inter = 0
      while (i < x.length && j < y.length)
        if (x(i) < y(j)) i += 1
        else if (x(i) > y(j)) j += 1
        else { inter += 1; i += 1; j += 1 }
      inter * 100L >= (x.length + y.length - inter) * pct.toLong
    }
    val out = Seq.newBuilder[Row]
    def emit(a: Int, b: Int): Unit =
      out += Row(g(math.min(a, b)).get(6), g(math.max(a, b)).get(6))
    if (pairComplete) {
      val bands = g.map(_.getSeq[Long](8).toArray)
      def lowestShared(a: Int, b: Int) = bands(a).indices.find(k => bands(a)(k) == bands(b)(k))
      val diagonal = g.head.getInt(2) == g.head.getInt(3)
      for (a <- 0 until n if g(a).getBoolean(4);
           b <- (if (diagonal) a + 1 else 0) until n if g(b).getBoolean(5)
           if lowestShared(a, b).contains(g.head.getInt(0)) && similar(a, b)) emit(a, b)
    } else {
      val parent = Array.range(0, n)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
        r
      }
      val (members, stitch) = (0 until n).partition(g(_).getBoolean(5))
      // a stitch row is the bucket minimum: it pairs with the group minimum only
      for (s <- stitch; m <- members.headOption if similar(s, m)) emit(s, m)
      for (a <- members; b <- members if a < b) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb && similar(a, b)) { parent(rb) = ra; emit(a, b) }
      }
    }
    out.result()
  }

  /** Exact-duplicate edges: rows sharing the match key (already a struct
    * column named `keyCol`). Star edges — exact groups can be huge (the
    * skew block) and stars keep them linear. `idCol` must be the row
    * identity (`starWithinBuckets`' precondition), which makes the edges
    * distinct. */
  def exactEdges(df: DataFrame, idCol: String, keyCol: String): DataFrame =
    starWithinBuckets(df.select(col(idCol), col(keyCol)), idCol, Seq(keyCol), "exact")

  /** Shared MinHash+LSH near-dup machinery: collapse identical normalized
    * captions to one representative (skew guard — the 1000-copy block costs
    * one signature, not 10⁶ bucket pairs), shingle and band each rep in one
    * JVM pass (`Keys.shingleLshUdf`), then group and verify inside each LSH
    * bucket (`bucketPairs`).
    *
    * Returns (repPairs, members, stats):
    *   repPairs (id1, id2)        verified near-dup pairs among
    *                              representatives: all of them, once each,
    *                              when `pairComplete`; else a subset with the
    *                              same components
    *   members  (id, rep, _sig)   every input row → its identical-caption
    *                              rep; `_sig`: the caption yields ≥1 shingle
    *                              (`hasShingles` — identical captions agree,
    *                              and a group's within-pairs qualify at
    *                              Jaccard 1 exactly when it holds)
    * Both consumers are connectivity forms: they join the rep pairs with a
    * rep—member star per group. The pair listing (`DocOps.minhashLshPairs`)
    * collapses nothing and calls `bucketPairs` itself.
    *
    * `stats` are `bucketPairs`' salted buckets, observed when repPairs'
    * plan runs.
    *
    * Lazy (intermediates persist into `scope`). Consumers: `captionLshEdges`
    * (flagship, sealed mode) and `DocOps.minhashLshEdges` (query surface,
    * deferred mode). */
  private[graft] def captionLshPartsIn(df: DataFrame, idCol: String, captionCol: String,
                                       cfg: NearDupConfig,
                                       pairComplete: Boolean = false)(scope: CacheScope)
      : (DataFrame, DataFrame, BucketStats) = {
    val norm = df.select(col(idCol), Keys.normCaption(col(captionCol)).as("_nc"))
    val repW = Window.partitionBy(col("_nc"))
    // ONE fused JVM pass per rep computes the sorted distinct shingle hashes
    // AND the LSH band hashes (Keys.shingleLshUdf): shingling via the
    // interpreted higher-order-function expression was measured at
    // ~1.3 ms/doc — the single largest LSH cost — and shipping hashed
    // shingles (~8 B each) instead of k-gram strings cuts the bucket
    // payload ~4×. Exact Jaccard over the hashed sets equals string-set
    // Jaccard unless two distinct shingles of one compared pair collide in
    // 64 bits (~1e-19 per pair).
    // ONE cached frame for the rep-collapse chain: (id, _rep, _sb, _sig),
    // `_sb` computed for reps only, `_sig` for every row. `members` and
    // `shingled` are projections of it, so the operator's one barrier
    // builds one cache.
    // EAGER: read by the members, the bucket aggregate, the bucket rows and
    // the seal; its cached size also lets the planner broadcast the
    // bucket-size frame. The empty-shingle filter (which also drops the
    // members' null `_sb`) applies to the PERSISTED frame: inside the
    // persisted plan the optimizer pushes it below the projection and
    // copies the UDF into it (two calls a row).
    val sbUdf = Keys.shingleLshUdf(cfg.shingleK, cfg.lshBands, cfg.lshRowsPerBand)
    val parts = scope.persistEager(norm.withColumn("_rep", min(idCol).over(repW))
      .select(col(idCol), col("_rep"),
              when(col(idCol) === col("_rep"), sbUdf(col("_nc"))).as("_sb"),
              hasShingles(col("_nc"), cfg.shingleK).as("_sig")))
    val members = parts.select(col(idCol).as("id"), col("_rep").as("rep"), col("_sig"))
    val shingled = parts.where(size(col("_sb._1")) > 0)
      .select(col(idCol), col("_sb._1").as("_shh"), col("_sb._2").as("_bands"))
    val (repPairs, stats) = bucketPairs(shingled, idCol, cfg.maxBucketSize,
      math.round(cfg.jaccardThreshold * 100).toInt, pairComplete)
    (repPairs, members, stats)
  }

  /** A normalized text `nc` yields ≥1 word k-shingle: it has ≥ k tokens.
    * The same split as `Keys.shingleLshUdf`, so this holds exactly when the
    * UDF's shingle array is non-empty (asserted by KeysSpec); null for a
    * null text, which a filter drops as false. */
  private[graft] def hasShingles(nc: Column, k: Int): Column =
    size(Keys.tokens(nc)) >= k

  /** Caption-LSH candidate edges for the cluster pipeline, in
    * connectivity form: the verified rep pairs ∪ a rep—member star per
    * identical-caption group, contracted per partition by
    * `ConnectedComponents.localStars` into a forest whose edges point each
    * id at the minimum of its partition-local component (id1 = that
    * minimum < id2). The components are those of the verified pairs, but a
    * hot near-dup cluster of s captions leaves as at most s − 1 edges per
    * partition instead of its Θ(s²) verified pairs. Every edge has kind
    * `caption_lsh`. Returns (edges(id1,id2,kind), metrics): ONE sealed
    * frame, the edges; the salted buckets are observed inside its job. */
  def captionLshEdges(df: DataFrame, idCol: String, captionCol: String,
                      cfg: NearDupConfig): (DataFrame, DataFrame) =
    sealObserved { scope =>
      val (repPairs, members, stats) =
        captionLshPartsIn(df, idCol, captionCol, cfg)(scope)
      val sameCaption = members.where(col("id") =!= col("rep"))
        .select(col("rep").as("id1"), col("id").as("id2"))
      val forest = ConnectedComponents.localStars(repPairs.unionByName(sameCaption))
        .select(col("dst").as("id1"), col("src").as("id2"), lit("caption_lsh").as("kind"))
      (forest, stats)
    }

  /** Generic multi-index Hamming pair search over a 64-bit hash column
    * (Norouzi et al., CVPR'12), verified inside each band bucket. Each hash
    * splits into `bands` wide chunks and explodes ONCE into one row per
    * (band, ≤`subRadius`-flip mask), keyed `band_id ∥ (chunk xor mask)`:
    * the mask-0 row is the hash's INDEX row in its own bucket, and every
    * row PROBES the bucket its key names. Then ONE exchange on the key and
    * a pass per bucket that holds the bucket's index rows and streams its
    * probe rows (`probeBucket`): a pair is kept when the ids differ and
    * `bit_count(xor) ≤ radius`, exactly. Pigeonhole: recall 1 for radius ≤
    * bands×(subRadius+1)−1 (enforced). A connectivity caller should
    * collapse identical hashes first (the degenerate mass; a star per
    * group connects it); the listing form emits their pairs itself, each
    * once, at distance 0. Input `df(idCol, hashCol)`; output
    * (pairs(id1, id2, hamming_d) with id1 < id2, distinct; the hot
    * buckets' statistics, observed when the pairs' plan runs). Lazy; it
    * persists nothing.
    *
    * A qualifying pair meets in every band whose chunks differ by at most
    * `subRadius` bits — as two index rows, or twice as a probe, once from
    * each side. The cap picks how the pairs are made distinct:
    *   - `dfCap = Int.MaxValue` (every bucket kept, the listing form): by
    *     construction — a bucket keeps a pair only when its band
    *     (`_k >>> width`) is the LOWEST band whose chunks differ by at most
    *     `subRadius` bits (`probeBucket` holds both full hashes), and a
    *     probe match only from the probe whose chunk in that band is the
    *     smaller (the two probes of a pair differ there; two index rows
    *     share it). With one band the chunk is the whole hash and `_k`
    *     carries no band bits (Java shifts wrap: `_k >>> 64 == _k`), so
    *     the band decodes as 0;
    *   - a finite cap: a `distinct` exchange after the pass — a dropped hot
    *     bucket could be a pair's lowest band, so the rule above would lose
    *     the pair.
    *
    * `dfCap` guards the quadratic: a bucket costs its index rows times its
    * probe rows, and a band value shared by more than `dfCap` hashes is a
    * degenerate hash region that carries no discriminative signal
    * (measured on the 1M-image corpus: the 0.6% of band buckets above 256
    * members held HALF of Σ df² — ~10⁹ join rows). Such a bucket emits no
    * pairs — its index side is dropped, the PPJoin stop-shingle
    * convention — but one marker row carrying its index-row count; the
    * statistics are observed from the markers, which are then filtered
    * out. Every hash still probes all its other buckets, and both
    * orientations of a pair are probed, so a qualifying pair is lost only
    * if EVERY band bucket within flip distance of either side is hot.
    * Recall against planted re-encode near-dups is asserted ≥ 0.99 by
    * RecallSpec. `dfCap = Int.MaxValue` disables the cap (the
    * exact-contract SimHash listing). */
  private[graft] def multiIndexHammingPairsIn(
      df: DataFrame, idCol: String, hashCol: String,
      bands: Int, subRadius: Int, radius: Int,
      dfCap: Int): (DataFrame, BucketStats) = {
    require(bands * (subRadius + 1) - 1 >= radius,
      s"multi-index guarantee ${bands * (subRadius + 1) - 1} below radius $radius")
    val listing = dfCap == Int.MaxValue
    val width = 64 / bands
    // position 0 is mask 0 (Keys.flipMasks): the index row
    val flips = array(Keys.flipMasks(width, subRadius).map(m => col("_v").bitwiseXOR(lit(m))): _*)
    val rows = df.select(col(idCol).as("_id"), col(hashCol).as("_h"),
        posexplode(Keys.hammingBands(col(hashCol), bands)).as(Seq("_band", "_v")))
      .select(col("_id"), col("_h"), col("_band"), posexplode(flips).as(Seq("_m", "_pv")))
      // single packed key (band_id ∥ chunk value): one long hash and compare
      .select(shiftleft(col("_band").cast("long"), width).bitwiseOR(col("_pv")).as("_k"),
              (col("_m") === 0).as("_ix"), col("_id"), col("_h"))
    val t = df.schema(idCol).dataType
    val found = StructType(Seq(StructField("_a", t), StructField("_b", t),
      StructField("hamming_d", IntegerType, nullable = false),
      StructField("_hot", LongType, nullable = false)))
    // band b's chunk of a hash, as Keys.hammingBands cuts it
    val mask = Keys.chunkMask(width)
    def chunk(h: Long, b: Int): Long = (h >>> (b * width)) & mask
    // index rows sort first in their bucket, so the pass holds them before
    // the first probe row arrives
    val verified = rows.groupBy(col("_k"))
      .as(Encoders.row(rows.select("_k").schema), Encoders.row(rows.schema))
      .flatMapSortedGroups(col("_ix").desc) { (k, it) =>
        val band = if (bands == 1) 0 else (k.getLong(0) >>> width).toInt
        def lowest(x: Long) =
          (0 until bands).indexWhere(b => java.lang.Long.bitCount(chunk(x, b)) <= subRadius)
        probeBucket(it, radius, dfCap,
          if (listing) (h, ix) => lowest(h ^ ix) == band && chunk(h, band) <= chunk(ix, band)
          else (_, _) => true)
      }(Encoders.row(found))
    val stats = new BucketStats
    // least/greatest, NOT an ordered filter: a qualifying pair must survive
    // if EITHER side's band bucket is cold (when the smaller id sits in hot
    // buckets for every qualifying band, the larger id's probe into the
    // smaller id's cold bucket is the pair's only surviving orientation);
    // without the listing rule, distinct dedups the pairs found in several
    // buckets or orientations
    val pairs = stats.observe(verified, col("_hot") > 0, col("_hot"))
      .where(col("_hot") === 0)
      .select(least(col("_a"), col("_b")).as("id1"), greatest(col("_a"), col("_b")).as("id2"),
              col("hamming_d"))
    (if (listing) pairs else pairs.distinct(), stats)
  }

  /** `multiIndexHammingPairsIn`'s pass over one band bucket, rows (_k, _ix,
    * _id, _h) with the index rows first. Emits (a, b, d, 0) for every probe
    * row a within `radius` of an index row b with another id whose hashes
    * (a's, b's) pass `keep` — each index × index pair once — or, for a
    * bucket of more than `dfCap` index rows, only the marker (null, null,
    * 0, index rows). Holds at most min(index rows, dfCap) rows. */
  private def probeBucket(rows: Iterator[Row], radius: Int, dfCap: Int,
                          keep: (Long, Long) => Boolean): Iterator[Row] = {
    val it = rows.buffered
    val ids = scala.collection.mutable.ArrayBuffer.empty[Any]
    var hs = new Array[Long](16)
    var index = 0L
    while (it.hasNext && it.head.getBoolean(1)) {
      val r = it.next()
      index += 1
      if (index <= dfCap) {
        if (ids.length == hs.length) hs = java.util.Arrays.copyOf(hs, hs.length * 2)
        hs(ids.length) = r.getLong(3)
        ids += r.get(2)
      }
    }
    // the unread probe rows of a hot bucket are skipped by the grouping
    if (index > dfCap) Iterator.single(Row(null, null, 0, index))
    else {
      def near(id: Any, h: Long, upTo: Int): Iterator[Row] =
        Iterator.range(0, upTo).flatMap { j =>
          val d = java.lang.Long.bitCount(h ^ hs(j))
          if (d <= radius && ids(j) != id && keep(h, hs(j))) Some(Row(id, ids(j), d, 0L))
          else None
        }
      Iterator.range(0, ids.length).flatMap(i => near(ids(i), hs(i), i)) ++
        it.flatMap(r => near(r.get(2), r.getLong(3), ids.length))
    }
  }

  /** pHash Hamming candidate edges: identical-phash collapse up front (the
    * degenerate mass — 60% of re-encode pairs in the fixture become stars),
    * then `multiIndexHammingPairsIn` over the representatives. Defaults
    * (4 × 16-bit chunks, 1-flip probes) guarantee blocking recall for the
    * full exact-verify radius 7 — see NearDupConfig for the selectivity
    * story. Returns (edges, metrics): ONE sealed frame, the edges; the hot
    * band buckets are observed inside its job. */
  def phashHammingEdges(df: DataFrame, idCol: String, phashCol: String,
                        cfg: NearDupConfig): (DataFrame, DataFrame) =
    sealObserved { _ =>
      // collapse identical phash first (same reasoning as captions). No
      // persist: both branches read the one window exchange (AQE reuses
      // it); a lazy persist here cost two cache-building jobs per call
      val repW = Window.partitionBy(col(phashCol))
      val withRep = df.select(col(idCol), col(phashCol))
        .withColumn("_rep", min(idCol).over(repW))
      val samePhash = withRep.where(col(idCol) =!= col("_rep"))
        .select(col("_rep").as("id1"), col(idCol).as("id2"), lit("phash_exact").as("kind"))
      val reps = withRep.where(col(idCol) === col("_rep"))
        .select(col(idCol), col(phashCol))
      val (pairs, stats) = multiIndexHammingPairsIn(reps, idCol, phashCol,
          cfg.hammingBands, cfg.hammingSubRadius, cfg.hammingRadius, cfg.hammingDfCap)
      (pairs.select(col("id1"), col("id2"), lit("phash_hamming").as("kind"))
         .unionByName(samePhash), stats)
    }

  /** Contained-caption candidate edges: `containmentPairsIn`'s listing,
    * oriented `id1 < id2`, kind `containment`. Returns (id1, id2, kind). */
  def containmentEdges(df: DataFrame, idCol: String, captionCol: String,
                       cfg: NearDupConfig): DataFrame =
    CacheScope.seal(containmentEdgesIn(df, idCol, captionCol, cfg)(_))

  /** Lazy body of `containmentEdges` (intermediates persist into `scope`).
    * No distinct after orienting: the listing's strict length test lets a
    * pair appear in one orientation only. */
  private[graft] def containmentEdgesIn(df: DataFrame, idCol: String, captionCol: String,
                                        cfg: NearDupConfig)(scope: CacheScope): DataFrame =
    containmentPairsIn(df, idCol, captionCol, cfg.shingleK)(scope)
      .select(least(col("short_id"), col("long_id")).as("id1"),
              greatest(col("short_id"), col("long_id")).as("id2"),
              lit("containment").as("kind"))

  /** Contained-text pairs, the one containment body behind the flagship
    * source (`containmentEdges`) and the pair listing
    * (`DocOps.containmentPairs`): the shorter normalized text is a
    * substring of the longer one AT WORD BOUNDARIES (both sides
    * space-padded). Blocking: a containment pair must share every shingle
    * of the short side, so any ONE shingle of the short side is a
    * recall-lossless block key (for texts with ≥ k tokens) — and picking
    * the short side's **globally least frequent** shingle (classic prefix
    * filtering, à la PPJoin) minimizes bucket sizes: a naive "first
    * shingle" key degenerates when many texts share a prefix (exactly the
    * skew-block shape). Verified with an exact `instr` check — never a
    * cartesian product. Lazy (intermediates persist into `scope`); output
    * (short_id, long_id), distinct. */
  private[graft] def containmentPairsIn(df: DataFrame, idCol: String, textCol: String,
                                        k: Int)(scope: CacheScope): DataFrame = {
    // no defensive distinct: idCol is the row identity, so (id, text) rows
    // are unique already — a distinct here is a full no-op shuffle.
    // Shingles are JVM-hashed longs (Keys.shingleHashUdf): block-key joins
    // and df counts are identity-equivalent on the 8-byte hash, and the
    // substring verify below uses the strings, never the shingles.
    // EAGER: this frame feeds several downstream exchanges, and AQE
    // materializes independent exchange subtrees concurrently — a lazy
    // persist would be recomputed by each racing stage (see persistEager).
    // The empty-shingle filter applies to the persisted frame: inside it,
    // the optimizer would copy the UDF into the pushed-down filter.
    val norm = scope.persistEager(df
        .select(col(idCol), Keys.normCaption(col(textCol)).as("_nc"))
        .withColumn("_sh", Keys.shingleHashUdf(k)(col("_nc"))))
      .where(size(col("_sh")) > 0)
    // ship (id, text-LENGTH, block) — never the text itself: the exploded
    // frame is ~shingles×docs rows and feeds the argmin and block joins;
    // carrying the string payload there was measured at 3.6 GB shuffled for
    // 1M captions vs ~0.7 GB for the 30 B/row slim form (ScaleDiag r3)
    val exploded = norm.select(col(idCol), length(col("_nc")).as("_len"),
                               explode(col("_sh")).as("block"))
    // Per-doc argmin by (document frequency, shingle) — deterministic,
    // skew-safe block choice. Only blocks with df ≥ 2 can change the
    // ordering (absent ⇒ df = 1, the minimum count() can produce), so the
    // frequency table is filtered to repeated blocks BEFORE the join: it
    // shrinks from |vocabulary| to |blocks shared by ≥2 docs| — on a
    // near-dup-sparse corpus a tiny frame AQE turns into a broadcast, so
    // the ~(shingles×docs) exploded frame is never shuffled by block for
    // the df lookup (the old inner join against the full frequency table
    // was the single largest shuffle in the flagship). min_by, NOT a
    // row_number window: the hash aggregate map-side-combines each
    // partition down to one row per doc before the (tiny) shuffle.
    val freq = exploded.groupBy("block").agg(count(lit(1)).as("_df"))
      .where(col("_df") > 1)
    val short = exploded.join(freq, Seq("block"), "left")
      .groupBy(col(idCol))
      .agg(min_by(struct(col("block"), col("_len")),
                  struct(coalesce(col("_df"), lit(1L)), col("block"))).as("_pick"))
      .select(col(idCol).as("short_id"), col("_pick._len").as("_slen"),
              col("_pick.block").as("block"))
    // the long side IS the exploded frame (same rows, renamed) — a
    // separate re-explode of `norm` here was a third full pass at 1M docs
    val long = exploded.select(col(idCol).as("long_id"), col("_len").as("_llen"),
                               col("block"))
    // No distinct anywhere below: `idCol` is the row identity, each short
    // doc picks ONE block, and `_sh` is distinct, so (short_id, block) and
    // (long_id, block) are unique and `short ⋈ long` emits each (short,
    // long) pair at most once; the two text rejoins match one `norm` row
    // per id, so they keep it that way (asserted by OpsSpec). The text
    // STRINGS rejoin for candidate pairs only; no join hints: AQE
    // broadcasts the cached `norm` side at the benchmark sizes, where
    // SHUFFLE_HASH hints forced two shuffles.
    short.join(long, "block")
      .where(col("short_id") =!= col("long_id") && col("_llen") > col("_slen"))
      .select("short_id", "long_id")
      .join(norm.select(col(idCol).as("short_id"), col("_nc").as("s_nc")), "short_id")
      .join(norm.select(col(idCol).as("long_id"), col("_nc").as("l_nc")), "long_id")
      // word-boundary containment — both sides space-padded, the DuckDB
      // oracle's contract: an unpadded instr admits mid-token matches
      // ("he cat" ⊂ "the cats"), merging clusters the documented contract
      // excludes (regression: CandidatesSpec's mid-token case)
      .where(instr(concat(lit(" "), col("l_nc"), lit(" ")),
                   concat(lit(" "), col("s_nc"), lit(" "))) > 0)
      .select("short_id", "long_id")
  }
}
