package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

import graft.gen.Corpus
import graft.schema.DedupConfig
import graft.state.TableIO

/** Resumable checkpointed pipeline: stage snapshots commit under the state
  * root, a rerun reuses them (no recompute), and results equal the
  * non-checkpointed run's. */
class CheckpointedRunSpec extends SparkSpec {

  test("runCheckpointed == run, commits stage snapshots + metrics, resumes") {
    val root = Files.createTempDirectory("graft_ckpt").toString
    val corpus = Corpus.generate(spark, nClusters = 40, skewCopies = 10).toDF().cache()
    val cfg = DedupConfig()

    val direct = Dedup.run(corpus, cfg)
      .select("image_id", "cluster_id", "disposition")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val ckpt = Dedup.runCheckpointed(corpus, cfg, root)
      .select("image_id", "cluster_id", "disposition")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(ckpt == direct, "checkpointed run must produce identical actions")

    // all stage snapshots committed
    assert(TableIO.lastSnapshot(s"$root/edges").exists(_.stage == "edges"))
    assert(TableIO.lastSnapshot(s"$root/clusters").exists(_.stage == "clusters"))
    assert(TableIO.lastSnapshot(s"$root/actions").exists(_.stage == "actions"))
    assert(TableIO.lastSnapshot(s"$root/metrics_run").isDefined)
    val metrics = TableIO.read(spark, s"$root/metrics_run").get
    assert(metrics.where(col("key") === "keep").count() == 1)

    // resume: second run must reuse the committed snapshots (same ids)
    val edgeSnapBefore = TableIO.lastSnapshot(s"$root/edges").get.id
    val again = Dedup.runCheckpointed(corpus, cfg, root)
      .select("image_id", "cluster_id", "disposition")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(again == direct)
    assert(TableIO.lastSnapshot(s"$root/edges").get.id == edgeSnapBefore,
      "resume must not recommit the edges stage")
    corpus.unpersist()
  }

  test("hash cache makes the second run hash only misses (X7 cache-first)") {
    val cacheRoot = Files.createTempDirectory("graft_hcache").toString + "/hash_cache"
    val corpus = Corpus.generate(spark, nClusters = 30, skewCopies = 5).toDF().cache()
    val cfg = DedupConfig()

    // first run: cold cache — every row hashed
    val rootA = Files.createTempDirectory("graft_ckpt_a").toString
    val a = Dedup.runCheckpointed(corpus, cfg, rootA, Some(cacheRoot))
      .select("image_id", "cluster_id", "disposition")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val mA = TableIO.read(spark, s"$rootA/metrics_hash").get
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(mA("hashed_rows") == corpus.count(), "cold cache hashes everything")
    assert(mA("cache_hits") == 0)

    // second run, fresh pipeline state but SAME cache: zero rows re-hashed
    val rootB = Files.createTempDirectory("graft_ckpt_b").toString
    val b = Dedup.runCheckpointed(corpus, cfg, rootB, Some(cacheRoot))
      .select("image_id", "cluster_id", "disposition")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val mB = TableIO.read(spark, s"$rootB/metrics_hash").get
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(mB("hashed_rows") == 0, "warm cache must hash nothing")
    assert(mB("cache_hits") == corpus.count())
    assert(b == a, "cache-first hashing must not change results")
    corpus.unpersist()
  }

  test("TTL-expired cache entry is re-hashed — and its row never dropped") {
    // regression for the silent-row-drop bug: lookup served expired entries
    // as hits while merge pruned them, so the row vanished from the working
    // hash table and from every downstream edge/cluster/action
    val cacheRoot = Files.createTempDirectory("graft_hcache_ttl").toString + "/hash_cache"
    val corpus = Corpus.generate(spark, nClusters = 20, skewCopies = 0).toDF().cache()
    val n = corpus.count()
    val cfg = DedupConfig()
    val rootA = Files.createTempDirectory("graft_ckpt_ttl_a").toString
    Dedup.runCheckpointed(corpus, cfg, rootA, Some(cacheRoot)).count()
    // age ONE committed entry past the 28-day TTL (cache is namespaced by
    // hash kind; the default config hashes the 2 MiB prefix → "partial")
    val kindRoot = s"$cacheRoot/partial"
    import graft.state.HashCache
    val cache = HashCache.readAll(spark, kindRoot).get
    val victim = cache.select("image_id").orderBy("image_id").first().getString(0)
    // the cache is hash-partitioned; age the row inside its partition table
    val vPart = cache.limit(1)
      .select(HashCache.partOf(lit(victim))).first().getInt(0)
    val partTable = HashCache.partRoot(kindRoot, vPart)
    val aged = TableIO.read(spark, partTable).get.withColumn("updated_at",
      when(col("image_id") === victim,
           col("updated_at") - expr("INTERVAL 60 DAYS"))
        .otherwise(col("updated_at")))
    TableIO.commit(aged, partTable, "hash_cache")
    val rootB = Files.createTempDirectory("graft_ckpt_ttl_b").toString
    val actions = Dedup.runCheckpointed(corpus, cfg, rootB, Some(cacheRoot))
    assert(actions.count() == n,
      "a row whose cache entry expired must be re-hashed, never dropped")
    assert(actions.where(col("image_id") === victim).count() == 1)
    val mB = TableIO.read(spark, s"$rootB/metrics_hash").get
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(mB("hashed_rows") == 1, "exactly the expired entry is re-hashed")
    assert(mB("cache_hits") == n - 1)
    corpus.unpersist()
  }

  test("partial and full hash kinds never share cache entries") {
    val cacheRoot = Files.createTempDirectory("graft_hcache_kind").toString + "/hash_cache"
    val corpus = Corpus.generate(spark, nClusters = 10, skewCopies = 0).toDF().cache()
    val n = corpus.count()
    val rootA = Files.createTempDirectory("graft_ckpt_kind_a").toString
    Dedup.runCheckpointed(corpus, DedupConfig(), rootA, Some(cacheRoot)).count()
    // switching to --full_hash must NOT reuse the partial-prefix hashes
    val rootB = Files.createTempDirectory("graft_ckpt_kind_b").toString
    val full = DedupConfig(key = graft.schema.KeyConfig(fullHash = true))
    Dedup.runCheckpointed(corpus, full, rootB, Some(cacheRoot)).count()
    val mB = TableIO.read(spark, s"$rootB/metrics_hash").get
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(mB("hashed_rows") == n, "full-hash run re-hashes everything")
    assert(mB("cache_hits") == 0, "no cross-kind cache hits")
    corpus.unpersist()
  }

  test("a stage that throws releases the run's persisted frames") {
    val corpus = Corpus.generate(spark, nClusters = 12).toDF().cache()
    corpus.count()
    val sc = spark.sparkContext
    // checkpointed blocks are reclaimed by the ContextCleaner after GC
    def persisted(base: Int): Int = {
      var tries = 0
      while (sc.getPersistentRDDs.size > base && tries < 40) {
        System.gc(); Thread.sleep(50); tries += 1
      }
      sc.getPersistentRDDs.size
    }
    val before = persisted(0)
    val root = Files.createTempDirectory("graft_ckpt_fault").toString
    // every row is a cache miss, so the edges stage merges — and fails there
    graft.state.HashCache.mergeStep = step =>
      if (step == "staged") throw new IllegalStateException("injected fault")
    try {
      val e = intercept[IllegalStateException](
        Dedup.runCheckpointed(corpus, DedupConfig(), root).count())
      assert(e.getMessage == "injected fault")
    } finally graft.state.HashCache.mergeStep = _ => ()
    assert(persisted(before) == before, "the failed run left persisted frames behind")
    corpus.unpersist()
  }
}
