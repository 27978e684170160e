package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.cluster.ConnectedComponents
import graft.gen.Corpus
import graft.ops.{DocOps, EmbeddingOps, ImageOps}
import graft.schema.{DedupConfig, NearDupConfig}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` exposes each implemented operator over the driver's parquet
  * tables at `sfDir`; `oracleSql` is the DuckDB-dialect equivalent the
  * driver cross-checks against. Column names are aligned between both sides
  * (the driver compare sorts columns by name and hashes values); float
  * aggregates go through exact decimal/integer arithmetic so both engines
  * produce bit-identical values. Queries with no SQL-expressible oracle
  * (LSH internals over xxhash64, image ops) are either verified against the
  * brute-force oracle query (recall 1 at the table's planted similarities)
  * or exposed rows-only.
  */
object SparkEntry {

  /** Flagship: full dedup pipeline (exact ∪ caption-LSH ∪ pHash-Hamming ∪
    * containment → connected components → canonical election) on the
    * deterministic synthetic image+caption corpus. Driver smoke-checks
    * rows > 0. */
  def entry(spark: SparkSession): DataFrame = {
    graft.util.Tuning.queryTuned(spark)
    Dedup.run(Corpus.generate(spark, nClusters = 250, skewCopies = 50).toDF(),
              DedupConfig())
  }

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  private val docLsh = NearDupConfig(jaccardThreshold = 0.8)

  /** Every declared query applies the engine's query-surface runtime confs
    * before building its plan (graft.util.Tuning — AQE tiny-shuffle
    * coalescing; env-overridable). Wrapped here so the frozen drivers
    * (Bench/Verify) pick them up without touching their session builders. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    queries0.view.mapValues { f =>
      (s: SparkSession, dir: String) =>
        { graft.util.Tuning.queryTuned(s); f(s, dir) }
    }.toMap

  private def queries0: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- relational core (reference operator inventory, SURVEY.md §2) ----

    // A1/A4: hash aggregate by key + summary counts (duplicates_finder.py:15-28)
    "q1_agg" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"),
             sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
             count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))),

    // P1: size-range + category filter, pushed to the scan (duplicates_finder.py:54-67)
    "q_filter_pushdown" -> ((s, dir) =>
      t(s, dir, "part")
        .where(col("p_size").between(10, 30) &&
               col("p_type").isin("ECONOMY", "PROMO") &&
               !col("p_brand").isin("Brand#11", "Brand#12"))
        .select("p_partkey", "p_name", "p_size", "p_type")
        .orderBy("p_partkey")),

    // J2: the duplicate equi-join, inner (duplicates_finder.py:161-170)
    "q_join_agg" -> ((s, dir) =>
      t(s, dir, "orders").join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
             sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
        .orderBy(col("c_mktsegment"))),

    // J2-semi: scan rows having a ref match ("duplicates exist")
    "q_semi_join" -> ((s, dir) =>
      t(s, dir, "customer").join(t(s, dir, "orders"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey").orderBy("c_custkey")),

    // J2-anti: rows left in scan dir (utils_io.py:116) — orders with no
    // lineitem rows (a non-empty anti set at every sf, unlike
    // customer-vs-orders which matches fully at sf0.01)
    "q_anti_join" -> ((s, dir) =>
      t(s, dir, "orders").join(t(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"), "left_anti")
        .select("o_orderkey").orderBy("o_orderkey")),

    // J1: Bloom-filter pre-join (duplicates_finder.py:70-104) — run
    // SYMMETRICALLY like the reference (duplicates_finder.py:151-152): a
    // Bloom over each side prunes the other before the exact join; the
    // confirmed output equals the exact semi-join (FPs eliminated), which is
    // what the oracle checks.
    "q_bloom_prejoin" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val cust = t(s, dir, "customer")
      val bfOrders = orders.stat.bloomFilter("o_custkey", 10000L, 0.05)
      val bfCust = cust.stat.bloomFilter("c_custkey", 10000L, 0.05)
      val bfoB = s.sparkContext.broadcast(bfOrders)
      val bfcB = s.sparkContext.broadcast(bfCust)
      val inOrders = udf((k: Long) => bfoB.value.mightContain(k))
      val inCust = udf((k: Long) => bfcB.value.mightContain(k))
      cust.where(inOrders(col("c_custkey")))
        .join(orders.where(inCust(col("o_custkey"))),
              col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey").orderBy("c_custkey")
    }),

    // W1/W2: window-ranked canonical election per blocked group
    // (duplicates_finder.py:172-175,194)
    "canonical_election" -> ((s, dir) => {
      val grp = Window.partitionBy(col("lang"), col("source"))
      val w = grp.orderBy(col("doc_id"))
      t(s, dir, "documents")
        .withColumn("rn", row_number().over(w))
        .withColumn("grp_n", count(lit(1)).over(grp))
        .where(col("grp_n") > 1 && col("rn") === 1)
        .select(col("doc_id"), col("lang"), col("source"), col("grp_n").as("dup_count"))
        .orderBy(col("doc_id"))
    }),

    // J3: positional zip-join — scan rank k pairs with ref rank k inside each
    // block (duplicates_finder.py:209-212)
    "q_zip_join" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("role", when(pmod(col("n_chars"), lit(2)) === 0, "ref").otherwise("scan"))
      val w = Window.partitionBy(col("lang"), col("source"), col("role"))
        .orderBy(col("doc_id"))
      val ranked = docs.withColumn("rn", row_number().over(w))
      ranked.where(col("role") === "scan")
        .select(col("lang"), col("source"), col("rn"), col("doc_id").as("scan_id"))
        .join(ranked.where(col("role") === "ref")
          .select(col("lang"), col("source"), col("rn"), col("doc_id").as("ref_id")),
          Seq("lang", "source", "rn"))
        .select("scan_id", "ref_id").orderBy("scan_id")
    }),

    // T2: upsert/latest-wins per key (hash cache merge, hash_manager.py:117-135)
    "q_latest_event" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
      t(s, dir, "events").withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select("user_id", "event_id", "event_type").orderBy("user_id")
    }),

    // T4: TTL expiry filter (clean_expired_cache, hash_manager.py:180-191)
    "q_ttl_filter" -> ((s, dir) =>
      t(s, dir, "events")
        .where(col("ts") >= lit("2024-01-25 00:00:00").cast("timestamp"))
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .orderBy("event_type")),

    // S3-shape: per-day per-type report aggregation
    "q_daily_report" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(date_trunc("DAY", col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"),
             sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
        .orderBy("day", "event_type")),

    // ---- exact dedup over documents (reference core semantics) ----

    // Partial-hash exact dedup (reference P4 semantics — sha256 over a fixed
    // content prefix, hash_manager.py:216-233): dup groups over the
    // 40-char text prefix — non-empty at sf0.01 (23 groups), unlike
    // full-text dup groups (0 rows there).
    "exact_dup_groups" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy(sha2(substring(col("text"), 1, 40), 256).as("text_hash"))
        .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("canonical_id"))
        .where(col("n_dups") > 1)
        .orderBy(col("text_hash"))),

    // ---- training-data dedup / analysis ops ----

    // n-gram Jaccard near-dup pairs (brute-force via shared-shingle blocking)
    "q_jaccard_pairs" -> ((s, dir) =>
      DocOps.jaccardPairs(t(s, dir, "documents"), "doc_id", "text", 3, 80)
        .orderBy("doc1", "doc2")),

    // MinHash+LSH near-dup pairs, Jaccard-verified — at the planted
    // similarities (≥0.9) LSH recall is 1-4e-8, so output = q_jaccard_pairs ids
    "q_minhash_lsh_pairs" -> ((s, dir) =>
      DocOps.minhashLshPairs(t(s, dir, "documents"), "doc_id", "text", docLsh)
        .orderBy("doc1", "doc2")),

    // SimHash near-dup pairs: all pairs within Hamming distance 7 of the
    // md5-token 64-bit SimHash (Manku-style web-dedup contract). The
    // signature is md5-based so DuckDB recomputes it EXACTLY — the oracle
    // checks the pair set and distances bit-for-bit. Blocking: multi-index
    // Hamming, 4 × 16-bit chunks + 1-flip probes (recall guaranteed to the
    // full radius 7 by pigeonhole).
    "q_simhash_pairs" -> ((s, dir) =>
      DocOps.simhashPairs(t(s, dir, "documents"), "doc_id", "text", docLsh)
        .orderBy("doc1", "doc2")),

    // duplicate clusters: connected components over verified near-dup edges.
    // Edges come from the at-scale MinHash+LSH path (recall 1 at the table's
    // planted similarities); the brute-force shared-shingle join remains the
    // oracle-side definition only.
    "q_dup_clusters" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // connectivity-form edges (rep pairs + member stars): identical
      // components to the full pair listing, Θ(groups) fewer edges
      val edges = DocOps.minhashLshEdges(docs, "doc_id", "text", docLsh)
      // mapping-only CC: the left join + coalesce below already maps absent
      // nodes (roots, singletons) to themselves, so the full node-universe
      // variant's union-distinct, count barrier and final join are pure
      // overhead here (same reasoning as the flagship)
      val cc = ConnectedComponents.runMapping(edges)
      docs.select(col("doc_id"))
        .join(cc.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
                coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
        .orderBy("doc_id")
    }),

    // containment pass (short text ⊂ long text), least-frequent-shingle
    // blocked (prefix filtering à la PPJoin)
    "q_containment_pairs" -> ((s, dir) =>
      DocOps.containmentPairs(t(s, dir, "documents"), "doc_id", "text", 3)
        .orderBy("short_id", "long_id")),

    "q_token_stats" -> ((s, dir) =>
      DocOps.tokenStats(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    "q_quality_score" -> ((s, dir) =>
      DocOps.qualityScore(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    "q_lang_id" -> ((s, dir) =>
      DocOps.langId(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    "q_fingerprint" -> ((s, dir) =>
      DocOps.fingerprint(t(s, dir, "documents"), "doc_id", "text", 3)
        .orderBy("doc_id")),

    // ---- similarity search over embeddings ----

    // brute-force top-1 neighbor (quantized integer dot), label-blocked
    "q_embed_top1" -> ((s, dir) =>
      EmbeddingOps.top1WithinLabel(t(s, dir, "embeddings"), "vec_id", "embedding", "label")
        .orderBy("vec_id")),

    // embedding-cosine near-dup pairs (vectors are L2-normalized: quantized
    // integer dot = cosine × 10⁶), label-blocked, integer-exact
    "q_embed_neardup_pairs" -> ((s, dir) =>
      EmbeddingOps.cosinePairs(t(s, dir, "embeddings"), "vec_id", "embedding",
                               "label", tauQ = 350000L)
        .orderBy("id1", "id2")),

    // ANN top-1 via random-hyperplane LSH buckets — the 100 TB similarity-
    // search path (shuffle bounded by bucket id). The planes are md5-derived
    // and the bucket dots integer-quantized, so the WHOLE approximate
    // algorithm is deterministic and SQL-replayable: the DuckDB oracle
    // recomputes planes → buckets → candidates → exact ranking bit-for-bit.
    // The hot-bucket cap is disabled for this query (its sampling guard is
    // an engine-scale knob, covered by OpsSpec's capped-bucket test); at the
    // driver's scales no bucket approaches the default cap anyway.
    "q_ann_top1" -> ((s, dir) =>
      EmbeddingOps.annTop1(t(s, dir, "embeddings"), "vec_id", "embedding",
                           dim = 64, nBits = 8, nTables = 8, cap = Int.MaxValue)
        .orderBy("vec_id")),

    // ---- multimodal (binary image columns) ----

    // one-pass decode/feature-extract over the deterministic synthetic
    // image corpus (driver tables carry no binary payloads): per image the
    // decoded w/h, decodability, byte size and recomputed DCT pHash. No SQL
    // oracle (javax.imageio decode) → rows-only check; pixel-level
    // invariants are asserted in ImageOpsSpec.
    "q_image_features" -> ((s, dir) => {
      val corpus = Corpus.cached(s, nClusters = 80, skewCopies = 20)
      ImageOps.imageFeatures(corpus, "image_id", "bytes")
        .orderBy("image_id")
    }),

    // flagship end-to-end dedup (exact ∪ caption-LSH ∪ pHash-Hamming ∪
    // containment → CC → canonical election) on the synthetic corpus —
    // the north-metric pipeline as a benchable query; rows-only check
    // (cluster semantics are oracle-checked via q_dup_clusters, the
    // planted-truth recall specs, AND the fully-oracled q_doc_pipeline twin
    // below).
    "q_dedup_pipeline" -> ((s, dir) => {
      val corpus = Corpus.cached(s, nClusters = 150, skewCopies = 40)
      Dedup.run(corpus, DedupConfig()).orderBy("image_id")
    }),

    // composed-pipeline TWIN over the driver's documents table, fully
    // oracle-checked end-to-end: exact-prefix ∪ verified-Jaccard (LSH path)
    // ∪ containment edges → connected components → window-ranked canonical
    // election → actions table. Every edge source is individually
    // oracle-checked above; this checks their COMPOSITION (union → CC →
    // resolve) against a recursive-SQL + window-SQL oracle.
    "q_doc_pipeline" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id").as("image_id"),
                when(pmod(col("n_chars"), lit(2)) === 0, "ref")
                  .otherwise("scan").as("role"),
                col("text"))
      // doc_id is the documents table's row identity, so the (rep, doc)
      // star edges are distinct (starWithinBuckets' precondition)
      val exact = graft.candidates.Candidates.starWithinBuckets(
          docs.withColumn("k40", substring(col("text"), 1, 40)),
          "image_id", Seq("k40"), "exact")
        .select("id1", "id2")
      val jacc = DocOps.minhashLshEdges(docs, "image_id", "text", docLsh)
        .select(col("doc1").as("id1"), col("doc2").as("id2"))
      val contain = DocOps.containmentPairs(docs, "image_id", "text", 3)
        .select(col("short_id").as("id1"), col("long_id").as("id2"))
      // mapping-only CC (roots/singletons coalesce to themselves below)
      val cc = ConnectedComponents.runMapping(
        exact.unionByName(jacc).unionByName(contain))
      val members = docs
        .join(cc.withColumnRenamed("id", "image_id"), Seq("image_id"), "left")
        .select(col("image_id"), col("role"),
                coalesce(col("cluster_id"), col("image_id")).as("cluster_id"))
      graft.resolve.Resolver.resolve(members)
        .select(col("image_id").as("doc_id"), col("role"), col("cluster_id"),
                col("disposition"), col("target"))
        .orderBy("doc_id")
    }),

    // S3: CSV duplicate report — cluster keys renumbered 1..N (dense_rank
    // over distinct cluster ids, broadcast back), per-row formatted
    // modified_time (duplicates_finder.py:226-246)
    "q_csv_report" -> ((s, dir) => {
      val grp = Window.partitionBy("user_id", "event_type")
      val dups = t(s, dir, "events")
        .withColumn("_n", count(lit(1)).over(grp))
        .where(col("_n") > 1)
        .select(concat(col("user_id").cast("string"), lit("/"), col("event_type"))
                  .as("cluster_id"),
                col("event_id").cast("string").as("path"),
                length(col("props")).cast("long").as("size"),
                col("ts").as("mtime"))
      graft.resolve.Report.clusterReport(dups).orderBy("key", "path")
    }),

    // P2 key-composition matrix — the reference pins key composition under
    // all four --ignore_diff combos (tests/test_duplicates_finder.py:21-51);
    // this exercises Keys.matchKey per config and reports per-config group
    // stats (events: props ≅ content bytes, event_type ≅ filename, ts ≅
    // mtime)
    "q_key_matrix" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(
        col("props").cast("binary").as("bytes"),
        col("event_type").as("caption"),
        col("ts").as("mtime"))
      def arm(name: String, kc: graft.schema.KeyConfig) =
        ev.select(graft.keys.Keys.matchKey(kc, col("bytes"), col("caption"), col("mtime")).as("k"))
          .groupBy("k").agg(count(lit(1)).as("n"))
          .agg(count(lit(1)).as("n_keys"),
               sum(when(col("n") > 1, 1L).otherwise(0L)).as("n_dup_keys"),
               coalesce(sum(when(col("n") > 1, col("n"))), lit(0L)).as("n_dup_rows"))
          .withColumn("key_config", lit(name))
          .select("key_config", "n_keys", "n_dup_keys", "n_dup_rows")
      import graft.schema.KeyConfig
      arm("hash", KeyConfig(ignoreCaption = true, ignoreMtime = true))
        .unionByName(arm("hash_caption", KeyConfig(ignoreCaption = false, ignoreMtime = true)))
        .unionByName(arm("hash_mtime", KeyConfig(ignoreCaption = true, ignoreMtime = false)))
        .unionByName(arm("hash_caption_mtime", KeyConfig(ignoreCaption = false, ignoreMtime = false)))
        .orderBy("key_config")
    })
  )

  def oracleSql: Map[String, String] = {
    // shared DuckDB CTE: normalized distinct 3-shingles per document
    val shingleCte =
      """WITH docs AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |         unnest(list_transform(range(0, greatest(len(toks)-2, 0)),
        |                i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3]))) AS s
        |  FROM docs),
        |n AS (SELECT doc_id, count(*) AS nt FROM sh GROUP BY 1),
        |jp AS (
        |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_inter
        |  FROM sh a JOIN sh b USING (s) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |jpairs AS (
        |  SELECT doc1, doc2, n_inter, na.nt + nb.nt - n_inter AS n_union
        |  FROM jp JOIN n na ON na.doc_id = doc1 JOIN n nb ON nb.doc_id = doc2
        |  WHERE n_inter * 100 >= (na.nt + nb.nt - n_inter) * 80)
        |""".stripMargin
    Map(
      "q1_agg" ->
        """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
          |  count(*) AS n_rows
          |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      "q_filter_pushdown" ->
        """SELECT p_partkey, p_name, p_size, p_type FROM part
          |WHERE p_size BETWEEN 10 AND 30 AND p_type IN ('ECONOMY','PROMO')
          |  AND p_brand NOT IN ('Brand#11','Brand#12')
          |ORDER BY p_partkey""".stripMargin,
      "q_join_agg" ->
        """SELECT c_mktsegment, count(*) AS n_orders,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |GROUP BY 1 ORDER BY 1""".stripMargin,
      "q_semi_join" ->
        "SELECT c_custkey FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders) ORDER BY 1",
      "q_anti_join" ->
        "SELECT o_orderkey FROM orders WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem) ORDER BY 1",
      "q_bloom_prejoin" ->
        "SELECT c_custkey FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders) ORDER BY 1",
      "canonical_election" ->
        """SELECT doc_id, lang, source, dup_count FROM (
          |  SELECT doc_id, lang, source,
          |         row_number() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn,
          |         count(*) OVER (PARTITION BY lang, source) AS dup_count
          |  FROM documents) WHERE dup_count > 1 AND rn = 1 ORDER BY doc_id""".stripMargin,
      "q_zip_join" ->
        """WITH ranked AS (
          |  SELECT doc_id, lang, source,
          |         CASE WHEN n_chars % 2 = 0 THEN 'ref' ELSE 'scan' END AS role,
          |         row_number() OVER (
          |           PARTITION BY lang, source, CASE WHEN n_chars % 2 = 0 THEN 'ref' ELSE 'scan' END
          |           ORDER BY doc_id) AS rn
          |  FROM documents)
          |SELECT s.doc_id AS scan_id, r.doc_id AS ref_id
          |FROM ranked s JOIN ranked r
          |  ON s.lang = r.lang AND s.source = r.source AND s.rn = r.rn
          | AND s.role = 'scan' AND r.role = 'ref'
          |ORDER BY scan_id""".stripMargin,
      "q_latest_event" ->
        """SELECT user_id, event_id, event_type FROM (
          |  SELECT user_id, event_id, event_type,
          |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          |  FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin,
      "q_ttl_filter" ->
        """SELECT event_type, count(*) AS n FROM events
          |WHERE ts >= TIMESTAMP '2024-01-25 00:00:00' GROUP BY 1 ORDER BY 1""".stripMargin,
      "q_daily_report" ->
        """SELECT date_trunc('day', ts) AS day, event_type, count(*) AS n,
          |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
          |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      "exact_dup_groups" ->
        """SELECT sha256(substr(text, 1, 40)) AS text_hash, count(*) AS n_dups, min(doc_id) AS canonical_id
          |FROM documents GROUP BY 1 HAVING count(*) > 1 ORDER BY 1""".stripMargin,
      "q_jaccard_pairs" ->
        (shingleCte + "SELECT doc1, doc2, n_inter, n_union FROM jpairs ORDER BY doc1, doc2"),
      "q_minhash_lsh_pairs" ->
        (shingleCte + "SELECT doc1, doc2 FROM jpairs ORDER BY doc1, doc2"),
      // exact cross-engine SimHash: md5 token hashes (first 16 hex chars as
      // uint64), sign-counter aggregation per bit, signature kept as two
      // 32-bit halves (DuckDB BIGINT << 63 overflows), distance = sum of
      // per-half bit_count(xor)
      "q_simhash_pairs" ->
        """WITH docs AS (
          |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
          |  FROM documents),
          |tok AS (
          |  SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 16)) AS UBIGINT) AS h
          |  FROM (SELECT doc_id, unnest(toks) AS tok FROM docs) WHERE tok <> ''),
          |bits AS (
          |  SELECT doc_id, b.b AS b,
          |         sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS c
          |  FROM tok, (SELECT unnest(range(0, 64)) AS b) AS b
          |  GROUP BY 1, 2),
          |sim AS (
          |  SELECT doc_id,
          |    bit_or(CASE WHEN c > 0 AND b >= 32 THEN CAST(1 AS BIGINT) << CAST(b - 32 AS INT) ELSE 0 END) AS hi,
          |    bit_or(CASE WHEN c > 0 AND b < 32 THEN CAST(1 AS BIGINT) << CAST(b AS INT) ELSE 0 END) AS lo
          |  FROM bits GROUP BY 1)
          |SELECT a.doc_id AS doc1, b.doc_id AS doc2,
          |       CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS INT) AS hamming_d
          |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
          |WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 7
          |ORDER BY doc1, doc2""".stripMargin,
      "q_dup_clusters" ->
        (shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
          """, edges AS (
            |  SELECT doc1 AS a, doc2 AS b FROM jpairs
            |  UNION SELECT doc2, doc1 FROM jpairs),
            |reach AS (
            |  SELECT a, b FROM edges
            |  UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
            |  WHERE r.a <> e.b),
            |clusters AS (
            |  SELECT a AS doc_id, least(a, min(b)) AS cid FROM reach GROUP BY a)
            |SELECT d.doc_id, coalesce(c.cid, d.doc_id) AS cluster_id
            |FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
            |ORDER BY d.doc_id""".stripMargin),
      "q_containment_pairs" ->
        """WITH norm AS (
          |  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nc
          |  FROM documents)
          |SELECT a.doc_id AS short_id, b.doc_id AS long_id
          |FROM norm a JOIN norm b
          |  ON a.doc_id <> b.doc_id AND len(b.nc) > len(a.nc)
          | AND position(' ' || a.nc || ' ' IN ' ' || b.nc || ' ') > 0
          | AND len(string_split(a.nc, ' ')) >= 3
          |ORDER BY short_id, long_id""".stripMargin,
      "q_token_stats" ->
        """SELECT doc_id,
          |  len(string_split(trim(regexp_replace(lower(text),'\s+',' ','g')), ' ')) AS n_tokens,
          |  len(list_distinct(string_split(trim(regexp_replace(lower(text),'\s+',' ','g')), ' '))) AS n_distinct_tokens,
          |  len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS n_subtokens
          |FROM documents ORDER BY doc_id""".stripMargin,
      "q_quality_score" ->
        """WITH tt AS (
          |  SELECT doc_id, string_split(trim(regexp_replace(lower(text),'\s+',' ','g')), ' ') AS t
          |  FROM documents)
          |SELECT doc_id, len(t) AS n_tokens,
          |  CAST(len(list_filter(t, x -> x IN ('the','a','and','of','to','in','or'))) * 100 // len(t) AS BIGINT) AS stopword_pct,
          |  CAST(len(list_distinct(t)) * 100 // len(t) AS BIGINT) AS distinct_pct,
          |  CAST(list_sum(list_transform(t, x -> len(x))) * 100 // len(t) AS BIGINT) AS avg_token_len_x100
          |FROM tt ORDER BY doc_id""".stripMargin,
      "q_lang_id" ->
        """SELECT doc_id,
          |  CASE WHEN nc LIKE '%the %' OR nc LIKE '% the%' THEN 'en'
          |       WHEN nc LIKE '%le %' OR nc LIKE '%la %' THEN 'fr'
          |       ELSE 'und' END AS lang_guess
          |FROM (SELECT doc_id, trim(regexp_replace(lower(text),'\s+',' ','g')) AS nc FROM documents)
          |ORDER BY doc_id""".stripMargin,
      "q_fingerprint" ->
        """WITH docs AS (
          |  SELECT doc_id, string_split(trim(regexp_replace(lower(text),'\s+',' ','g')), ' ') AS toks
          |  FROM documents)
          |SELECT doc_id,
          |  list_min(list_transform(
          |    list_distinct(list_transform(range(0, greatest(len(toks)-2, 0)),
          |      i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3]))),
          |    s -> md5(s))) AS fingerprint
          |FROM docs ORDER BY doc_id""".stripMargin,
      // NOTE: x must be widened to DOUBLE before the *1000 — DuckDB otherwise
      // multiplies in FLOAT, where e.g. float32 0.3195 × 1000 lands exactly
      // on 319.5 and rounds to 320 while Spark's double math gives
      // 319.4999… → 319 (observed at sf0.1, vec 1879 dim 17).
      "q_csv_report" ->
        """WITH dups AS (
          |  SELECT CAST(user_id AS VARCHAR) || '/' || event_type AS cluster_id,
          |         CAST(event_id AS VARCHAR) AS path,
          |         CAST(length(props) AS BIGINT) AS size, ts
          |  FROM (SELECT *, count(*) OVER (PARTITION BY user_id, event_type) AS n FROM events)
          |  WHERE n > 1)
          |SELECT dense_rank() OVER (ORDER BY cluster_id) AS key, path, size,
          |       strftime(ts, '%Y-%m-%d %H:%M:%S') AS modified_time
          |FROM dups ORDER BY key, path""".stripMargin,
      "q_key_matrix" ->
        """WITH g_h AS (SELECT count(*) AS n FROM events GROUP BY sha256(props)),
          |g_hc AS (SELECT count(*) AS n FROM events GROUP BY sha256(props), event_type),
          |g_hm AS (SELECT count(*) AS n FROM events GROUP BY sha256(props), ts),
          |g_hcm AS (SELECT count(*) AS n FROM events GROUP BY sha256(props), event_type, ts)
          |SELECT * FROM (
          |  SELECT 'hash' AS key_config, count(*) AS n_keys,
          |         CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_keys,
          |         CAST(coalesce(sum(CASE WHEN n > 1 THEN n END), 0) AS BIGINT) AS n_dup_rows
          |  FROM g_h
          |  UNION ALL
          |  SELECT 'hash_caption', count(*),
          |         CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT),
          |         CAST(coalesce(sum(CASE WHEN n > 1 THEN n END), 0) AS BIGINT)
          |  FROM g_hc
          |  UNION ALL
          |  SELECT 'hash_mtime', count(*),
          |         CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT),
          |         CAST(coalesce(sum(CASE WHEN n > 1 THEN n END), 0) AS BIGINT)
          |  FROM g_hm
          |  UNION ALL
          |  SELECT 'hash_caption_mtime', count(*),
          |         CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT),
          |         CAST(coalesce(sum(CASE WHEN n > 1 THEN n END), 0) AS BIGINT)
          |  FROM g_hcm)
          |ORDER BY key_config""".stripMargin,
      "q_embed_top1" ->
        """WITH q AS (
          |  SELECT vec_id, label,
          |         unnest(list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))) AS v,
          |         unnest(range(1, len(embedding) + 1)) AS i
          |  FROM embeddings),
          |dots AS (
          |  SELECT a.vec_id AS vec_id, b.vec_id AS nn_id, CAST(sum(a.v * b.v) AS BIGINT) AS dot_q
          |  FROM q a JOIN q b ON a.i = b.i AND a.label = b.label AND a.vec_id <> b.vec_id
          |  GROUP BY 1, 2)
          |SELECT vec_id, nn_id, dot_q FROM (
          |  SELECT vec_id, nn_id, dot_q,
          |         row_number() OVER (PARTITION BY vec_id ORDER BY dot_q DESC, nn_id ASC) AS rn
          |  FROM dots) WHERE rn = 1 ORDER BY vec_id""".stripMargin,
      // full ANN replay: md5-derived ±1 hyperplanes → integer sign dots →
      // per-table buckets → same-(table,bucket) candidates → exact quantized
      // dot ranking. Every step is integer/md5 arithmetic, so DuckDB
      // reproduces the approximate algorithm's output bit-for-bit.
      "q_ann_top1" ->
        """WITH q AS (
          |  SELECT vec_id,
          |         unnest(list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))) AS v,
          |         unnest(range(0, len(embedding))) AS i
          |  FROM embeddings),
          |planes AS (
          |  SELECT t.t, j.j, i.i,
          |         CASE WHEN CAST('0x' || substr(md5('p' || CAST(t.t AS VARCHAR) || '_' || CAST(j.j AS VARCHAR) || '_' || CAST(i.i AS VARCHAR)), 1, 2) AS UBIGINT) % 2 = 0
          |              THEN 1 ELSE -1 END AS s
          |  FROM (SELECT unnest(range(0, 8)) AS t) t,
          |       (SELECT unnest(range(0, 8)) AS j) j,
          |       (SELECT unnest(range(0, 64)) AS i) i),
          |dots AS (
          |  SELECT q.vec_id, p.t, p.j, sum(q.v * p.s) AS d
          |  FROM q JOIN planes p ON q.i = p.i GROUP BY 1, 2, 3),
          |buckets AS (
          |  SELECT vec_id, t,
          |         sum(CASE WHEN d > 0 THEN CAST(1 AS BIGINT) << CAST(j AS INT) ELSE 0 END) AS bucket
          |  FROM dots GROUP BY 1, 2),
          |cands AS (
          |  SELECT DISTINCT a.vec_id, b.vec_id AS nn_id
          |  FROM buckets a JOIN buckets b
          |    ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id <> b.vec_id),
          |qq AS (
          |  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
          |  FROM embeddings),
          |scored AS (
          |  SELECT c.vec_id, c.nn_id,
          |         CAST(list_sum(list_transform(range(1, len(a.qv) + 1), k -> a.qv[k] * b.qv[k])) AS BIGINT) AS dot_q
          |  FROM cands c JOIN qq a ON a.vec_id = c.vec_id JOIN qq b ON b.vec_id = c.nn_id)
          |SELECT vec_id, nn_id, dot_q FROM (
          |  SELECT vec_id, nn_id, dot_q,
          |         row_number() OVER (PARTITION BY vec_id ORDER BY dot_q DESC, nn_id ASC) AS rn
          |  FROM scored) WHERE rn = 1 ORDER BY vec_id""".stripMargin,
      // composed pipeline: exact-prefix + verified-Jaccard + containment
      // edges → recursive-SQL connected components → window-SQL canonical
      // election. Mirrors q_doc_pipeline stage for stage.
      "q_doc_pipeline" ->
        (shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
          """, norm AS (
            |  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nc
            |  FROM documents),
            |ex_edges AS (
            |  SELECT a.doc_id AS d1, b.doc_id AS d2
            |  FROM documents a JOIN documents b
            |    ON substr(a.text, 1, 40) = substr(b.text, 1, 40) AND a.doc_id < b.doc_id),
            |cn_edges AS (
            |  SELECT a.doc_id AS d1, b.doc_id AS d2
            |  FROM norm a JOIN norm b
            |    ON a.doc_id <> b.doc_id AND len(b.nc) > len(a.nc)
            |   AND position(' ' || a.nc || ' ' IN ' ' || b.nc || ' ') > 0
            |   AND len(string_split(a.nc, ' ')) >= 3),
            |edges0 AS (
            |  SELECT doc1 AS d1, doc2 AS d2 FROM jpairs
            |  UNION SELECT d1, d2 FROM ex_edges
            |  UNION SELECT d1, d2 FROM cn_edges),
            |edges AS (SELECT d1 AS a, d2 AS b FROM edges0 UNION SELECT d2, d1 FROM edges0),
            |reach AS (
            |  SELECT a, b FROM edges
            |  UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE r.a <> e.b),
            |clusters AS (SELECT a AS doc_id, least(a, min(b)) AS cid FROM reach GROUP BY a),
            |members AS (
            |  SELECT d.doc_id,
            |         CASE WHEN d.n_chars % 2 = 0 THEN 'ref' ELSE 'scan' END AS role,
            |         coalesce(c.cid, d.doc_id) AS cid
            |  FROM documents d LEFT JOIN clusters c USING (doc_id)),
            |ranked AS (
            |  SELECT doc_id, role, cid,
            |         row_number() OVER (PARTITION BY cid ORDER BY role, doc_id) AS pos,
            |         sum(CASE WHEN role = 'ref' THEN 1 ELSE 0 END) OVER (PARTITION BY cid) AS n_ref,
            |         min(CASE WHEN role = 'ref' THEN doc_id END) OVER (PARTITION BY cid) AS ref1
            |  FROM members)
            |SELECT doc_id, role, cid AS cluster_id,
            |       CASE WHEN role = 'ref' THEN 'keep'
            |            WHEN n_ref = 0 THEN 'none'
            |            WHEN pos - n_ref = 1 THEN 'move'
            |            ELSE 'scan_dup' END AS disposition,
            |       CASE WHEN role = 'scan' AND n_ref > 0 AND pos - n_ref = 1
            |            THEN CAST(ref1 AS VARCHAR) END AS target
            |FROM ranked ORDER BY doc_id""".stripMargin),
      "q_embed_neardup_pairs" ->
        """WITH q AS (
          |  SELECT vec_id, label,
          |         unnest(list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))) AS v,
          |         unnest(range(1, len(embedding) + 1)) AS i
          |  FROM embeddings)
          |SELECT a.vec_id AS id1, b.vec_id AS id2, CAST(sum(a.v * b.v) AS BIGINT) AS dot_q
          |FROM q a JOIN q b ON a.i = b.i AND a.label = b.label AND a.vec_id < b.vec_id
          |GROUP BY 1, 2 HAVING sum(a.v * b.v) >= 350000
          |ORDER BY id1, id2""".stripMargin
    )
  }
}
