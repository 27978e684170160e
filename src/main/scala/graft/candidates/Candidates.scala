package graft.candidates

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

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
  * One body per technique: the lazy `*In` bodies here are also the
  * `DocOps` pair listings' (`captionLshPartsIn` + `expandRepPairs` for
  * MinHash-LSH, `multiIndexHammingPairsIn` + `expandRepPairs` for SimHash,
  * `containmentPairsIn` for containment); each public call only picks the
  * output form and the sealing mode.
  *
  * At 100 TB the invariant is: NEVER a cartesian product; every candidate
  * source is an equi-join on a blocking key (exact key, LSH band hash,
  * Hamming band, shingle block), so Spark shuffles each side once on that
  * key and AQE handles residual skew. Hot buckets are additionally capped
  * with an explicit, logged truncation (reference analogue: the Bloom
  * pre-filter bounded candidate work, duplicates_finder.py:70-104).
  */
object Candidates {

  /** Pairs sharing an exact blocking key, bucket-capped.
    *
    * Instead of joining bucket×bucket (quadratic in bucket size), emit for
    * each bucket only the star `representative—member` edges: connectivity
    * is what clustering needs, and a star is the minimal edge set — turns
    * the reference's grouped-lists-by-key shape (duplicates_finder.py:161-
    * 175) into O(bucket) edges rather than O(bucket²). For *verified*
    * near-dup sources we keep true pairs (each pair must pass its verify
    * predicate) — see `pairsWithinBuckets`.
    */
  def starWithinBuckets(keyed: DataFrame, idCol: String, keyCols: Seq[String],
                        kind: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
    keyed
      .withColumn("_rep", min(idCol).over(w))
      .where(col(idCol) =!= col("_rep"))
      .select(col("_rep").as("id1"), col(idCol).as("id2"), lit(kind).as("kind"))
      .distinct()
  }

  /** All intra-bucket pairs (id1<id2), with **salting** of oversized
    * buckets — the north_rule's explicit skew guard. `keyed` must have
    * `idCol` + `keyCols`. Returns (pairs, metrics).
    *
    * Mechanics: bucket sizes come from a `groupBy().count()` (partial
    * aggregation — skew-safe by construction); buckets ≤ `cap` produce the
    * exact full pair set; a bucket of size s > cap is split into
    * g = `ceil(s/cap)` salt sub-buckets by `xxhash64(keyCols, id) mod g`.
    * The salt is BUCKET-dependent, never id-only: an id-only salt splits a
    * pair identically in every bucket it shares, silently dropping it from
    * pair listings; hashing (keyCols, id) makes the split independent per
    * bucket (miss prob ≈ Π(1−1/g_k) over k shared buckets).
    *
    * Two modes:
    *   - connectivity (default, `pairComplete = false`): pairs within each
    *     salt group + a chain over per-salt minimum ids stitching the
    *     groups — O(s·cap) pairs per bucket, one connected component, the
    *     right shape for the CLUSTERING pipeline where stars/subsets
    *     suffice.
    *   - pair-complete (`pairComplete = true`): triangular tiling — each
    *     pair of salt groups (i ≤ j) becomes one join tile, so the FULL
    *     clique is produced while no task ever holds more than ~2·cap rows.
    *     Total work is O(s²) — inherent to listing a quadratic output —
    *     but memory-bounded and evenly spread. Pair-listing operators use
    *     this mode; output size, not skew, is then the only cost.
    *
    * The bucket-size frame is tiny (one row per oversized bucket) so the
    * size join broadcasts. */
  def pairsWithinBuckets(keyed: DataFrame, idCol: String, keyCols: Seq[String],
                         cap: Int, kind: String,
                         pairComplete: Boolean = false,
                         assumeDistinct: Boolean = false): (DataFrame, DataFrame) = {
    val Seq(pairs, metrics) = CacheScope.sealMany { scope =>
      val (p, m) = pairsWithinBucketsIn(keyed, idCol, keyCols, cap, kind,
        pairComplete, assumeDistinct)(scope)
      Seq(p, m)
    }
    (pairs, metrics)
  }

  /** Lazy body of `pairsWithinBuckets`: intermediates persist into `scope`;
    * the caller seals its own outputs and closes the scope. */
  private[graft] def pairsWithinBucketsIn(
      keyed: DataFrame, idCol: String, keyCols: Seq[String],
      cap: Int, kind: String,
      pairComplete: Boolean = false,
      assumeDistinct: Boolean = false)(scope: CacheScope): (DataFrame, DataFrame) = {
    val ks = keyCols.map(col)
    // persisted: read once for bucket sizes (inside the broadcast build,
    // which must finish within spark.sql.broadcastTimeout) and once for the
    // salted self-join — without it the exploded frame computes twice and
    // the broadcast races its timeout against the full upstream plan.
    // `assumeDistinct` skips the defensive dedup — a full extra shuffle of
    // the exploded frame — when the caller's (keyCols, id) rows are unique
    // by construction (e.g. posexplode of a per-row band array).
    val base = keyed.select((keyCols :+ idCol).map(col): _*)
    val rows = scope.persistEager(if (assumeDistinct) base else base.distinct())
    val sizes = rows.groupBy(ks: _*).agg(count(lit(1)).as("_bsz"))
    val oversized = sizes.where(col("_bsz") > cap)
      .withColumn("_nsalt", ceil(col("_bsz").cast("double") / cap).cast("int"))
      .select((ks :+ col("_nsalt")): _*)
    val salted = rows
      .join(broadcast(oversized), keyCols, "left")
      .withColumn("_g", coalesce(col("_nsalt"), lit(1)))
      .withColumn("_salt",
        pmod(xxhash64((keyCols :+ idCol).map(col): _*), col("_g")).cast("int"))
    val intra =
      if (pairComplete) {
        // triangular tiles: left row (salt i) replicates to tiles (i, i..g-1),
        // right row (salt j) to tiles (0..j, j); tile (i,j) joins group i
        // against group j — every unordered pair lands in exactly one tile.
        // (Round-6 note: a one-exchange union+collect_list+explode variant
        // was tried and reverted — the two tile exchanges below are
        // INDEPENDENT, so AQE materializes them concurrently and the join
        // form adds no sequential barrier, while collect_list forces
        // ObjectHashAggregate, whose sort-based fallback past 128 groups
        // per partition re-sorts the whole exchange output.)
        val tileKeys = keyCols :+ "_i" :+ "_j"
        val left = salted
          .withColumn("_i", col("_salt"))
          .withColumn("_j", explode(sequence(col("_salt"), col("_g") - 1)))
          .select((tileKeys.map(col) :+ col(idCol).as("id1")): _*)
        val right = salted
          .withColumn("_i", explode(sequence(lit(0), col("_salt"))))
          .withColumn("_j", col("_salt"))
          .select((tileKeys.map(col) :+ col(idCol).as("id2")): _*)
        // no `<` filter here: in a cross tile (i,j) the group-i member may
        // carry the larger id and the mirrored tile (j,i) does not exist —
        // normalize with least/greatest instead (distinct dedups diagonals)
        left.join(right, tileKeys)
          .where(col("id1") =!= col("id2"))
          .select(least(col("id1"), col("id2")).as("id1"),
                  greatest(col("id1"), col("id2")).as("id2"))
      } else {
        val saltKeys = keyCols :+ "_salt"
        val a = salted.select((saltKeys.map(col) :+ col(idCol).as("id1")): _*)
        val b = salted.select((saltKeys.map(col) :+ col(idCol).as("id2")): _*)
        val within = a.join(b, saltKeys)
          .where(col("id1") < col("id2"))
          .select(col("id1"), col("id2"))
        // stitch: STAR the per-salt minimum ids of each oversized bucket
        // onto the bucket minimum (≤ nsalt rows per bucket — the window is
        // trivially small). A star, not a chain: a chain of g salt groups
        // adds graph diameter g, costing the downstream connected-
        // components loop extra O(log g) iterations — each a full
        // shuffle-round barrier; a star keeps the bucket's diameter at 2.
        val reps = salted.where(col("_nsalt").isNotNull)
          .groupBy((saltKeys).map(col): _*).agg(min(idCol).as("_rep"))
        val wB = Window.partitionBy(ks: _*)
        val stitch = reps
          .withColumn("_bmin", min(col("_rep")).over(wB))
          .where(col("_rep") =!= col("_bmin"))
          .select(col("_bmin").as("id1"), col("_rep").as("id2"))
        within.unionByName(stitch)
      }
    val pairs = intra
      .select(col("id1"), col("id2"), lit(kind).as("kind"))
      .distinct()
    val metrics = oversized
      .agg(coalesce(count(lit(1)), lit(0L)).as("salted_buckets"),
           coalesce(sum(col("_nsalt").cast("long")), lit(0L)).as("salt_groups"))
    (pairs, metrics)
  }

  /** Exact-duplicate edges: rows sharing the match key (already a struct
    * column named `keyCol`). Star edges — exact groups can be huge (the
    * skew block) and stars keep them linear. */
  def exactEdges(df: DataFrame, idCol: String, keyCol: String): DataFrame =
    starWithinBuckets(df.select(col(idCol), col(keyCol)), idCol, Seq(keyCol), "exact")

  /** Shared MinHash+LSH near-dup machinery: collapse identical normalized
    * captions to one representative (skew guard — the 1000-copy block costs
    * one signature, not 10⁶ bucket pairs), band-explode via the JVM-native
    * UDF (see Keys.minhashBandUdf), salted bucket pairs, exact-Jaccard
    * verify.
    *
    * Returns (repPairs, members, shingledReps, metrics):
    *   repPairs     (id1, id2)  verified near-dup pairs among representatives
    *   members      (id, rep)   every input row → its identical-caption rep
    *   shingledReps (rep)       reps whose caption yields ≥1 shingle (groups
    *                            whose within-pairs qualify at Jaccard 1)
    * The engine edge source contracts pairs and groups into a forest
    * (`captionLshEdges`); pair-listing queries expand to member level
    * (`expandRepPairs`).
    *
    * Lazy — see `pairsWithinBucketsIn`. Consumers: `captionLshEdges`
    * (flagship, sealed concurrent mode) and DocOps.minhashLshPairs/
    * minhashLshEdges (query surfaces, deferred mode). */
  private[graft] def captionLshPartsIn(df: DataFrame, idCol: String, captionCol: String,
                                       cfg: NearDupConfig,
                                       pairComplete: Boolean = false)(scope: CacheScope)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val norm = df.select(col(idCol), Keys.normCaption(col(captionCol)).as("_nc"))
    val repW = Window.partitionBy(col("_nc"))
    // LAZY persist: the one eager barrier of this operator is
    // pairsWithinBucketsIn's `rows` count, whose linear compute chain
    // (rows ← exploded ← shingled ← withRep) populates this cache and
    // shingled's in the same job — an eager count here was a redundant
    // barrier (part of the round-3 eager-seal regression). By seal time the
    // cache is built, so the concurrent seal jobs only read it.
    val withRep = scope.persist(norm.withColumn("_rep", min(idCol).over(repW)))
    val members = withRep.select(col(idCol).as("id"), col("_rep").as("rep"))
    // ONE fused JVM pass per rep computes the distinct shingle hashes AND
    // the LSH band hashes (Keys.shingleLshUdf): shingling via the
    // interpreted higher-order-function expression was measured at
    // ~1.3 ms/doc — the single largest LSH cost — and shipping hashed
    // shingles (~8 B each) instead of k-gram strings cuts the verify-join
    // payload ~4×. Exact Jaccard over the hashed sets equals string-set
    // Jaccard unless two distinct shingles of one compared pair collide in
    // 64 bits (~1e-19 per pair).
    val sbUdf = Keys.shingleLshUdf(cfg.shingleK, cfg.lshBands, cfg.lshRowsPerBand)
    // lazy for the same reason as withRep (built by the `rows` count chain)
    val shingled = scope.persist(withRep.where(col(idCol) === col("_rep"))
      .select(col(idCol), sbUdf(col("_nc")).as("_sb"))
      .where(size(col("_sb._1")) > 0)
      .select(col(idCol), col("_sb._1").as("_shh"), col("_sb._2").as("_bands")))
    val exploded = shingled
      .select(col(idCol),
              posexplode(col("_bands")).as(Seq("band_id", "band_hash")))
    val (cand, metrics) = pairsWithinBucketsIn(
      exploded, idCol, Seq("band_id", "band_hash"), cfg.maxBucketSize,
      "caption_lsh", pairComplete, assumeDistinct = true)(scope)
    // verify: join hashed shingle sets back, exact Jaccard (integer-exact).
    // SHUFFLE_HASH: sort-merge would SORT the array-payload shingle frame
    // twice; hash-building it per partition is cheap and unsorted.
    val verified = cand
      .join(shingled.select(col(idCol).as("id1"), col("_shh").as("_sh1"))
                    .hint("SHUFFLE_HASH"), "id1")
      .join(shingled.select(col(idCol).as("id2"), col("_shh").as("_sh2"))
                    .hint("SHUFFLE_HASH"), "id2")
    val (inter, union) = Keys.jaccardInterUnion(col("_sh1"), col("_sh2"))
    val thresholdPct = math.round(cfg.jaccardThreshold * 100).toInt
    val repPairs = verified
      .where(inter * 100 >= union * thresholdPct)
      .select(col("id1"), col("id2"))
    (repPairs, members, shingled.select(col(idCol).as("rep")), metrics)
  }

  /** Caption-LSH candidate edges for the cluster pipeline, in
    * connectivity form: the verified rep pairs ∪ a rep—member star per
    * identical-caption group, contracted per partition by
    * `ConnectedComponents.localStars` into a forest whose edges point each
    * id at the minimum of its partition-local component (id1 = that
    * minimum < id2). The components are those of the verified pairs, but a
    * hot near-dup cluster of s captions leaves as at most s − 1 edges per
    * partition instead of its Θ(s²) verified pairs. Every edge has kind
    * `caption_lsh`. Returns (edges(id1,id2,kind), metrics). */
  def captionLshEdges(df: DataFrame, idCol: String, captionCol: String,
                      cfg: NearDupConfig): (DataFrame, DataFrame) = {
    // seal exactly the TWO frames the flagship consumes (edges, metrics) —
    // sealing the four parts individually and then the union again cost
    // four extra checkpoint jobs per run for intermediates nothing reads
    val Seq(edges, metrics) = CacheScope.sealMany { scope =>
      val (repPairs, members, _, mx) =
        captionLshPartsIn(df, idCol, captionCol, cfg)(scope)
      val sameCaption = members.where(col("id") =!= col("rep"))
        .select(col("rep").as("id1"), col("id").as("id2"))
      val forest = ConnectedComponents.localStars(repPairs.unionByName(sameCaption))
        .select(col("dst").as("id1"), col("src").as("id2"), lit("caption_lsh").as("kind"))
      Seq(forest, mx)
    }
    (edges, metrics)
  }

  /** Expand rep-level verified pairs back to member level — the exact pair
    * LISTING the identical-key collapse stands for: every cross pair of two
    * connected groups, plus every within-group pair of groups in
    * `cliqueReps` (identical content ⇒ similarity 1 ⇒ qualifies, provided
    * the content produced a signature at all — callers pass the shingled
    * or signed reps). Columns of `repPairs` beyond (id1, id2) ride along
    * on the cross pairs (identical content ⇒ a member pair inherits its
    * rep pair's values); `cliqueCols` gives the same columns' values for
    * the clique rows (e.g. SimHash's `lit(0).as("hamming_d")`). Output
    * (id1, id2, extras…) with id1 < id2, Θ(listing size), inherent to
    * pair listing; the cluster pipeline never calls this (stars suffice
    * there).
    *
    * PRECONDITION: `repPairs` is distinct (both callers' verify stages end
    * in a distinct candidate set joined 1:1 per side — asserted by
    * OpsSpec). The output is then distinct WITHOUT a final exchange:
    * member→rep is functional, so a cross pair {m1,m2} determines its rep
    * pair uniquely (no duplicate across rep pairs) and appears once per rep
    * pair; cliques are ordered within-group pairs (unique); and cross
    * (different reps) is disjoint from cliques (same rep). A trailing
    * `.distinct()` would be a full extra shuffle of the listing — the
    * operator's LARGEST frame. */
  def expandRepPairs(repPairs: DataFrame, members: DataFrame,
                     cliqueReps: DataFrame, cliqueCols: Seq[Column] = Nil): DataFrame = {
    val extras = repPairs.columns.filterNot(Set("id1", "id2")).map(col).toSeq
    val cross = repPairs
      .join(members.select(col("rep").as("id1"), col("id").as("_m1")), "id1")
      .join(members.select(col("rep").as("id2"), col("id").as("_m2")), "id2")
      .select((least(col("_m1"), col("_m2")).as("id1") +:
               greatest(col("_m1"), col("_m2")).as("id2") +: extras): _*)
    val grouped = members.join(cliqueReps, Seq("rep"), "left_semi")
    val cliques = grouped.select(col("rep"), col("id").as("_a"))
      .join(grouped.select(col("rep"), col("id").as("_b")), "rep")
      .where(col("_a") < col("_b"))
      .select((col("_a").as("id1") +: col("_b").as("id2") +: cliqueCols): _*)
    cross.unionByName(cliques)
  }

  /** Generic multi-index Hamming pair search over a 64-bit hash column
    * (Norouzi et al., CVPR'12): split into `bands` wide chunks, explode the
    * probe side with every ≤`subRadius`-flip neighbor of each chunk,
    * equi-join the index side's exact chunk values, verify
    * `bit_count(xor) ≤ radius` exactly. Pigeonhole: recall 1 for
    * radius ≤ bands×(subRadius+1)−1 (enforced). Callers should collapse
    * identical hashes first (the degenerate mass); residual hot chunk
    * values are AQE skew-join territory. Input `df(idCol, hashCol)`;
    * output (id1, id2, hamming_d) with id1 < id2, distinct. */
  def multiIndexHammingPairs(df: DataFrame, idCol: String, hashCol: String,
                             bands: Int, subRadius: Int, radius: Int,
                             dfCap: Int = 256): DataFrame =
    CacheScope.seal(multiIndexHammingPairsIn(df, idCol, hashCol, bands,
      subRadius, radius, dfCap)(_)._1)

  /** Lazy body of `multiIndexHammingPairs` — see `pairsWithinBucketsIn`.
    *
    * `dfCap` guards the quadratic: the probe join's cost is
    * Σ over probe rows of the hit bucket's density, and a band value shared
    * by more than `dfCap` hashes is a degenerate hash region that carries no
    * discriminative signal (measured on the 1M-image corpus: the 0.6% of
    * band buckets above 256 members held HALF of Σ df² — ~10⁹ join rows).
    * Hot buckets are dropped from the INDEX side only (the PPJoin
    * stop-shingle convention; the drop is counted and surfaced by
    * `phashHammingEdges` metrics): every hash still probes all its keys,
    * both orientations of a pair are probed, so a qualifying pair is lost
    * only if EVERY band bucket within flip distance of either side is hot.
    * Recall against planted re-encode near-dups is asserted ≥ 0.99 by
    * RecallSpec. */
  private[graft] def multiIndexHammingPairsIn(
      df: DataFrame, idCol: String, hashCol: String,
      bands: Int, subRadius: Int, radius: Int,
      dfCap: Int)(scope: CacheScope): (DataFrame, DataFrame) = {
    require(bands * (subRadius + 1) - 1 >= radius,
      s"multi-index guarantee ${bands * (subRadius + 1) - 1} below radius $radius")
    val width = 64 / bands
    // single packed join key (band_id ∥ band_val): one long compare/hash in
    // the hot join instead of a two-column composite
    val key = (shiftleft(col("band_id").cast("long"), width).bitwiseOR(col("band_val"))).as("_k")
    val indexed = scope.persistEager(df.select(col(idCol), col(hashCol),
        posexplode(Keys.hammingBands(col(hashCol), bands))
          .as(Seq("band_id", "band_val")))
      .select(col(idCol), col(hashCol), col("band_id"), col("band_val"), key))
    // dfCap = Int.MaxValue ⇒ the cap is DISABLED (the exact-contract
    // callers, e.g. SimHash): `hot` is empty by construction, so the
    // bucket-frequency aggregate and the anti-join it fed are dead plan
    // weight — two extra jobs per run at the driver's scale. Skip them and
    // report a literal zero-truncation metrics row.
    val capped = dfCap != Int.MaxValue
    val hot = indexed.groupBy("_k").agg(count(lit(1)).as("_df"))
      .where(col("_df") > dfCap)
    val cold = if (capped) indexed.join(hot, Seq("_k"), "left_anti") else indexed
    val masks = Keys.flipMasks(width, subRadius)
    val probe = indexed.select(col(idCol).as("_pid"), col(hashCol).as("_ph"),
        col("band_id"),
        explode(array(masks.map(m => col("band_val").bitwiseXOR(lit(m))): _*))
          .as("band_val"))
      .select(col("_pid"), col("_ph"),
              (shiftleft(col("band_id").cast("long"), width).bitwiseOR(col("band_val"))).as("_k"))
    val pairs = probe
      // shuffled hash join: both sides are tens of millions of slim rows and
      // the output is filtered to a trickle — the SMJ sort of the probe side
      // was pure overhead
      .join(cold.select(col(idCol).as("_iid"), col(hashCol).as("_ih"), col("_k"))
                .hint("SHUFFLE_HASH"),
            Seq("_k"))
      // least/greatest, NOT a `_pid < _iid` filter: a qualifying pair must
      // survive if EITHER side's band bucket is cold (the dfCap drops hot
      // buckets from the index side only, so when the smaller id sits in
      // hot buckets for every qualifying band, the larger id's probe into
      // the smaller id's cold bucket is the pair's only surviving
      // orientation — an ordered filter lost it). distinct dedups the
      // double-found pairs.
      .where(col("_pid") =!= col("_iid") &&
             Keys.hammingDist(col("_ph"), col("_ih")) <= radius)
      .select(least(col("_pid"), col("_iid")).as("id1"),
              greatest(col("_pid"), col("_iid")).as("id2"),
              Keys.hammingDist(col("_ph"), col("_ih")).as("hamming_d"))
      .distinct()
    // the logged truncation for the no-silent-caps rule (reads cached
    // `indexed`; coalesce covers the no-hot-buckets empty aggregate)
    val metrics =
      if (capped)
        hot.agg(coalesce(count(lit(1)), lit(0L)).as("salted_buckets"),
                coalesce(sum(col("_df")), lit(0L)).as("salt_groups"))
      else {
        import df.sparkSession.implicits._
        Seq((0L, 0L)).toDF("salted_buckets", "salt_groups")
      }
    (pairs, metrics)
  }

  /** pHash Hamming candidate edges: identical-phash collapse up front (the
    * degenerate mass — 60% of re-encode pairs in the fixture become stars),
    * then `multiIndexHammingPairs` over the representatives. Defaults
    * (4 × 16-bit chunks, 1-flip probes) guarantee blocking recall for the
    * full exact-verify radius 7 — see NearDupConfig for the selectivity
    * story. Returns (edges, metrics). */
  def phashHammingEdges(df: DataFrame, idCol: String, phashCol: String,
                        cfg: NearDupConfig): (DataFrame, DataFrame) = {
    val Seq(edges, metrics) = CacheScope.sealMany { scope =>
      // collapse identical phash first (same reasoning as captions); LAZY
      // persist — the collapse window previously ran TWICE (once for the
      // exact-star edges, once under the Hamming index) because the two
      // consumers lived in separate plans; here the index side's eager
      // `indexed` count builds this cache and the sealed union reads it
      val repW = Window.partitionBy(col(phashCol))
      val withRep = scope.persist(df.select(col(idCol), col(phashCol))
        .withColumn("_rep", min(idCol).over(repW)))
      val samePhash = withRep.where(col(idCol) =!= col("_rep"))
        .select(col("_rep").as("id1"), col(idCol).as("id2"), lit("phash_exact").as("kind"))
      val reps = withRep.where(col(idCol) === col("_rep"))
        .select(col(idCol), col(phashCol))
      // metrics: hot band buckets dropped by the df cap + the index rows they
      // held (no-silent-caps rule)
      val (pairs, m) = multiIndexHammingPairsIn(reps, idCol, phashCol,
          cfg.hammingBands, cfg.hammingSubRadius, cfg.hammingRadius,
          cfg.hammingDfCap)(scope)
      val e = pairs.select(col("id1"), col("id2"), lit("phash_hamming").as("kind"))
        .unionByName(samePhash)
      Seq(e, m)
    }
    (edges, metrics)
  }

  /** Contained-caption candidate edges: `containmentPairsIn`'s listing,
    * oriented `id1 < id2`, kind `containment`. Returns (id1, id2, kind). */
  def containmentEdges(df: DataFrame, idCol: String, captionCol: String,
                       cfg: NearDupConfig): DataFrame =
    CacheScope.seal(containmentEdgesIn(df, idCol, captionCol, cfg)(_))

  /** Lazy body of `containmentEdges` — see `pairsWithinBucketsIn`. No
    * distinct after orienting: the listing's strict length test lets a
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
    val norm = scope.persistEager(df
      .select(col(idCol), Keys.normCaption(col(textCol)).as("_nc"))
      .withColumn("_sh", Keys.shingleHashUdf(k)(col("_nc")))
      .where(size(col("_sh")) > 0))
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
    // (short_id, block) is unique (one chosen block/doc) and (long_id,
    // block) is unique (array_distinct shingles), so the join emits each
    // candidate pair at most once — no pre-verify dedup needed. The text
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
      .distinct()
  }
}
