package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.candidates.Candidates
import graft.keys.Keys
import graft.schema.NearDupConfig
import graft.util.CacheScope

/** Text-analysis + dedup operators over a documents table
  * (doc_id, text, ...) — the training-data-pipeline ops (exact dedup,
  * n-gram Jaccard, MinHash+LSH, containment, token/quality/lang-id/
  * fingerprint) expressed as declarative plans. All join-shaped ops are
  * blocked equi-joins (shared shingle / LSH bucket), never cartesian.
  */
object DocOps {

  /** Exact n-gram-Jaccard pairs ≥ thresholdPct/100 via PREFIX FILTERING
    * (Chaudhuri et al. ICDE'06; Bayardo et al. WWW'07; Xiao et al. PPJoin):
    * under a global shingle order, two sets with Jaccard ≥ t must share a
    * shingle within their first (n − ⌈t·n⌉ + 1) shingles, so only prefix
    * shingles are blocking keys. Ordering by (global document frequency
    * asc, shingle) puts the RAREST shingles in the prefixes — the join cost
    * is Σ over prefix-shingles of df², NOT Σ over all shingles: a stop-
    * phrase shared by every document never blocks (the naive shared-shingle
    * join was O(Σ df²) over the whole vocabulary — quadratic on any
    * vocabulary-correlated corpus). Nothing is dropped: blocking is
    * recall-lossless by the prefix-filter theorem and candidates are
    * verified with exact integer Jaccard over the full shingle sets.
    * Output: (doc1, doc2, n_inter, n_union). */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   k: Int, thresholdPct: Int): DataFrame =
    CacheScope.deferred(jaccardPairsIn(docs, idCol, textCol, k, thresholdPct)(_))

  /** Lazy body of `jaccardPairs` (intermediates persist into `scope`). */
  private[graft] def jaccardPairsIn(docs: DataFrame, idCol: String, textCol: String,
                                    k: Int, thresholdPct: Int)(scope: CacheScope): DataFrame = {
    // distinct shingles as 8-byte JVM hashes (see Candidates.containmentPairsIn
    // — set identity is preserved modulo 64-bit collisions ~1e-19/pair); the
    // empty-set filter applies to the persisted frame, so the UDF runs once
    // a row (inside it, the optimizer copies the UDF into the filter)
    val withSh = scope.persistEager(docs
        .select(col(idCol).as("doc_id"),
                Keys.shingleHashUdf(k)(Keys.normCaption(col(textCol))).as("_sh")))
      .where(size(col("_sh")) > 0)
    val exploded = withSh.select(col("doc_id"), size(col("_sh")).as("nt"),
                                 explode(col("_sh")).as("s"))
    // df lookup joins only the REPEATED shingles (absent ⇒ df = 1 — the
    // minimum count() can produce, so the (df, s) ordering is unchanged,
    // provably): the frequency frame shrinks from |vocabulary| to |shingles
    // shared by ≥2 docs|, which AQE broadcasts on a near-dup-sparse corpus
    // — the exploded frame is then never shuffled by shingle for the
    // lookup. Same trick as Candidates.containmentPairsIn, ported
    // round 6 (the inner join against the full frequency table was this
    // operator's largest exchange).
    val freq = exploded.groupBy("s").agg(count(lit(1)).as("_df"))
      .where(col("_df") > 1)
    val wDoc = Window.partitionBy("doc_id")
      .orderBy(coalesce(col("_df"), lit(1L)), col("s"))
    // integer ceil: ⌈nt·t⌉ = (nt·pct + 99) DIV 100. persistEager, not a
    // lazy persist or bare plan: the self-join below consumes prefix twice,
    // and a round-6 experiment dropping the persist (betting on AQE stage
    // reuse over canonically-equal exchanges) re-computed the window chain
    // per side and regressed the query ~1 s at sf0.1 — the barrier job is
    // cheaper than the double compute, and the cached frame lets AQE
    // broadcast one side of the self-join (no exchange at all).
    // explicit repartition WITH a pinned count where the window's exchange
    // would otherwise sit: AQE's coalescing is bytes-based, and under the
    // Tuning confs the ~tens-of-MB exploded frame coalesces to ~1-2
    // partitions — but the row_number sort over it, and every downstream
    // stage inheriting the cache's partitioning (the Σ df² candidate join +
    // exact-Jaccard verify), are compute-heavy far beyond their bytes
    // (measured round 6: single-threaded window+verify, +1 s at sf0.1).
    // The window reuses the pinned partitioning, so no exchange is added;
    // defaultParallelism scales with the cluster.
    val nPar = docs.sparkSession.sparkContext.defaultParallelism
    val prefix = scope.persistEager(exploded.join(freq, Seq("s"), "left")
      .repartition(nPar, col("doc_id"))
      .withColumn("_rk", row_number().over(wDoc))
      .where(col("_rk") <= col("nt") - expr(s"(nt * $thresholdPct + 99) DIV 100") + 1)
      .select("doc_id", "s"))
    val cand = prefix.select(col("doc_id").as("doc1"), col("s"))
      .join(prefix.select(col("doc_id").as("doc2"), col("s")), "s")
      .where(col("doc1") < col("doc2"))
      .select("doc1", "doc2").distinct()
    val verified = cand
      .join(withSh.select(col("doc_id").as("doc1"), col("_sh").as("_sh1")), "doc1")
      .join(withSh.select(col("doc_id").as("doc2"), col("_sh").as("_sh2")), "doc2")
    val (inter, union) = Keys.jaccardInterUnion(col("_sh1"), col("_sh2"))
    verified
      .select(col("doc1"), col("doc2"),
              inter.cast("long").as("n_inter"), union.cast("long").as("n_union"))
      .where(col("n_inter") * 100 >= col("n_union") * thresholdPct)
  }

  /** MinHash+LSH near-dup pairs, verified with exact Jaccard — the
    * at-scale path: candidate generation is O(rows × bands) plus one
    * grouped pass that verifies each LSH bucket in memory
    * (`Candidates.bucketPairs`, listing form: every pair once, in the
    * lowest band its two texts share), instead of the shared-shingle join
    * of `jaccardPairs`. Every document with ≥ k tokens is shingled and
    * listed as it is — no identical-text collapse: n copies of a text are
    * n rows of every band bucket, their band arrays agree from band 0, so
    * each of their n(n−1)/2 pairs is emitted once there, at Jaccard 1; a
    * hot copy group is held at most `maxBucketSize` rows per salted tile.
    * Output (doc1, doc2) — equal to `jaccardPairs` ids whenever LSH recall
    * is 1 (a pair at Jaccard J shares no band with probability
    * (1 − J⁴)¹⁶: ~7e-6 at J = 0.85). */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      cfg: NearDupConfig): DataFrame = CacheScope.deferred { scope =>
    // EAGER: the bucket-size aggregate and the bucket rows both read it.
    // The empty-shingle filter applies to the persisted frame: inside it,
    // the optimizer would copy the UDF into the pushed-down filter
    val sbUdf = Keys.shingleLshUdf(cfg.shingleK, cfg.lshBands, cfg.lshRowsPerBand)
    val shingled = scope.persistEager(docs
        .select(col(idCol).as("doc_id"), sbUdf(Keys.normCaption(col(textCol))).as("_sb")))
      .where(size(col("_sb._1")) > 0)
      .select(col("doc_id"), col("_sb._1").as("_shh"), col("_sb._2").as("_bands"))
    val (pairs, _) = Candidates.bucketPairs(shingled, "doc_id", cfg.maxBucketSize,
      math.round(cfg.jaccardThreshold * 100).toInt, pairComplete = true)
    pairs.select(col("id1").as("doc1"), col("id2").as("doc2"))
  }

  /** MinHash+LSH near-dup EDGES in connectivity form — for clustering
    * consumers (connected components), which need the same COMPONENTS as
    * `minhashLshPairs`, not the full pair listing: verified pairs among
    * identical-text representatives plus one rep—member star per
    * identical-text group with ≥1 shingle. The listing's within-group and
    * cross pairs add no connectivity, so clustering over these edges yields
    * identical cluster assignments at Θ(groups) instead of Θ(listing)
    * edges — the shape the flagship uses at 100 TB. Candidate generation
    * stays pair-complete, so every rep pair the listing verifies is
    * verified here too. Output (doc1, doc2). */
  def minhashLshEdges(docs: DataFrame, idCol: String, textCol: String,
                      cfg: NearDupConfig): DataFrame = CacheScope.deferred { scope =>
    val (repPairs, members, _) =
      Candidates.captionLshPartsIn(docs, idCol, textCol, cfg,
        pairComplete = true)(scope)
    val stars = members.where(col("_sig") && col("id") =!= col("rep"))
      .select(col("rep").as("doc1"), col("id").as("doc2"))
    repPairs.select(col("id1").as("doc1"), col("id2").as("doc2"))
      .unionByName(stars)
  }

  /** Contained-text pairs: the shorter normalized text is a substring of
    * the longer at word boundaries. The body is the flagship containment
    * source's (`Candidates.containmentPairsIn`: least-frequent-shingle
    * blocking, exact padded `instr` verify). Output (short_id, long_id). */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       k: Int): DataFrame =
    CacheScope.deferred(Candidates.containmentPairsIn(docs, idCol, textCol, k)(_))

  /** SimHash near-dup pairs — the classic web-dedup contract (Manku et
    * al., WWW'07): all pairs whose 64-bit SimHash signatures sit within
    * Hamming distance `cfg.simhashRadius`. Signatures hash tokens with md5
    * (`Keys.simhashMd5Udf`) so any SQL oracle recomputes them bit-for-bit.
    * Blocking is multi-index Hamming (4 × 16-bit chunks + 1-flip probes —
    * recall GUARANTEED to the full radius by pigeonhole, never
    * probabilistic); verification is exact `bit_count`. A wide,
    * Jaccard-complete radius is deliberately NOT the contract: on
    * vocabulary-correlated corpora ~36% of random pairs sit within
    * distance 15, so any blocking complete at 15 is inherently quadratic
    * (see NearDupConfig). Every document with ≥1 token is signed and
    * listed as it is — no identical-text collapse: the listing form of
    * `Candidates.multiIndexHammingPairsIn` emits each pair of identical
    * signatures once, at distance 0, as two index rows of one band bucket,
    * so n copies of a text cost n index rows per band and their n(n−1)/2
    * pairs are output rows. One lazy plan, one exchange; nothing persists.
    * Output (doc1, doc2, hamming_d), doc1 < doc2. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   cfg: NearDupConfig): DataFrame = {
    // the empty-token filter reads the tokens, never the UDF's output: a
    // filter on the signature would be pushed below the projection with a
    // copy of the UDF (two calls a row). `Keys.tokens` normalizes the text.
    val signed = docs.select(col(idCol).as("doc_id"), Keys.tokens(col(textCol)).as("_t"))
      .where(size(col("_t")) > 0)
      .select(col("doc_id"), Keys.simhashMd5Udf(col("_t")).as("_sim"))
    // dfCap disabled: this operator's contract is EXACT (every pair within
    // the radius, SQL-oracle-checked bit-for-bit), unlike the phash
    // candidate source where hot degenerate buckets are droppable; with
    // every bucket kept, each pair is emitted once, with no distinct
    // exchange
    val (pairs, _) = Candidates.multiIndexHammingPairsIn(signed, "doc_id", "_sim",
      cfg.simhashBands, cfg.simhashSubRadius, cfg.simhashRadius, dfCap = Int.MaxValue)
    pairs.select(col("id1").as("doc1"), col("id2").as("doc2"), col("hamming_d"))
  }

  /** BPE-ish subtoken regex: alnum runs or single non-alnum-non-space marks
    * — same semantics under Java regex (Spark) and RE2 (DuckDB). */
  val SubtokenRegex = "[A-Za-z0-9]+|[^A-Za-z0-9\\s]"

  /** Token stats: n_tokens, n_distinct_tokens (whitespace tokenization,
    * normalized) + n_subtokens (BPE-ish regex count). */
  def tokenStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = Keys.tokens(col(textCol))
    docs.select(col(idCol).as("doc_id"),
                size(toks).cast("long").as("n_tokens"),
                size(array_distinct(toks)).cast("long").as("n_distinct_tokens"),
                size(regexp_extract_all(col(textCol), lit(SubtokenRegex), lit(0)))
                  .cast("long").as("n_subtokens"))
  }

  val Stopwords: Seq[String] = Seq("the", "a", "and", "of", "to", "in", "or")

  /** Quality metrics, integer-exact (scaled percents via integer division —
    * float-free so any SQL oracle computes bit-identical values):
    * stopword_pct, distinct_pct, avg_token_len_x100. */
  def qualityScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = Keys.tokens(col(textCol))
    docs.select(col(idCol).as("doc_id"), toks.as("_t"))
      .select(
        col("doc_id"),
        size(col("_t")).cast("long").as("n_tokens"),
        expr(s"size(filter(_t, x -> x IN (${Stopwords.map("'" + _ + "'").mkString(",")})))")
          .as("_nstop"),
        size(array_distinct(col("_t"))).as("_ndist"),
        aggregate(col("_t"), lit(0L), (acc, x) => acc + length(x)).as("_chars"))
      .select(
        col("doc_id"), col("n_tokens"),
        expr("_nstop * 100 DIV n_tokens").as("stopword_pct"),
        expr("_ndist * 100 DIV n_tokens").as("distinct_pct"),
        expr("_chars * 100 DIV n_tokens").as("avg_token_len_x100"))
  }

  /** n-gram-heuristic language ID: deterministic stopword-marker rule
    * (the synthetic corpus has no real language signal; the operator shape —
    * marker scan over normalized tokens — is what scales). */
  def langId(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = Keys.normCaption(col(textCol))
    docs.select(col(idCol).as("doc_id"),
      when(t.contains("the ") || t.contains(" the"), lit("en"))
        .when(t.contains("le ") || t.contains("la "), lit("fr"))
        .otherwise(lit("und")).as("lang_guess"))
  }

  /** Document fingerprint: minimum md5 over the shingle set (one-lane
    * MinHash — a winnowing-style content fingerprint stable under
    * reordering of duplicate shingles). */
  def fingerprint(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      array_min(transform(Keys.shingles(col(textCol), k), s => md5(s)))
        .as("fingerprint"))
}
