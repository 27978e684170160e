package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.candidates.Candidates
import graft.gen.Corpus
import graft.ops.DocOps
import graft.schema.{DedupConfig, NearDupConfig}
import graft.util.{CacheScope, Seal}

/** The job budget of each flagship candidate source, each `DocOps` pair
  * listing and a whole `Dedup.run` / `Dedup.runCheckpointed` call: on a
  * small fixture with a salted caption bucket, every call submits a pinned
  * number of Spark jobs, and the same number on a second call (a lazily
  * persisted frame read by two branches of one seal races two cache builds,
  * which shows as an extra job on some calls only). A job costs 60-100 ms
  * of fixed overhead on a 4-core box, so an extra barrier — e.g. an eager
  * persist that materializes with `count()` — is a regression. */
class JobBudgetSpec extends SparkSpec {

  private lazy val features = {
    val cfg = DedupConfig()
    val corpus = Corpus.generate(spark, nClusters = 30, skewCopies = 40).toDF()
    Dedup.featurize(Dedup.filterRows(corpus, cfg.filter), cfg)
  }
  private val near = NearDupConfig(maxBucketSize = 16)

  test("each flagship candidate source submits a fixed number of jobs, every call") {
    val sources: Seq[(String, () => Unit)] = Seq(
      "exact" -> (() => Seal(Candidates.exactEdges(features, "iid", "key")): Unit),
      "caption_lsh" -> (() => Candidates.captionLshEdges(features, "iid", "caption", near): Unit),
      "phash_hamming" -> (() => Candidates.phashHammingEdges(features, "iid", "phash", near): Unit),
      "containment" -> (() => Candidates.containmentEdges(features, "iid", "caption", near): Unit))
    assertBudget(sources,
      Seq("exact" -> 2, "caption_lsh" -> 5, "phash_hamming" -> 4, "containment" -> 8))
  }

  test("each DocOps pair listing submits a fixed number of jobs, every call") {
    val docLsh = NearDupConfig(jaccardThreshold = 0.8)
    // a consumer's call: one action over the deferred listing, then the flush
    def listing(q: => DataFrame): () => Unit =
      () => { q.collect(); CacheScope.flushDeferred() }
    val listings: Seq[(String, () => Unit)] = Seq(
      "simhashPairs" -> listing(DocOps.simhashPairs(features, "iid", "caption", docLsh)),
      "minhashLshPairs" -> listing(DocOps.minhashLshPairs(features, "iid", "caption", docLsh)),
      "containmentPairs" -> listing(DocOps.containmentPairs(features, "iid", "caption", 3)),
      "jaccardPairs" -> listing(DocOps.jaccardPairs(features, "iid", "caption", 3, 80)))
    assertBudget(listings, Seq("simhashPairs" -> 7, "minhashLshPairs" -> 8,
                               "containmentPairs" -> 8, "jaccardPairs" -> 9))
  }

  test("a whole Dedup.run call submits a fixed number of jobs, every call") {
    // the candidate sources' threads carry the caller's job group, so the
    // count covers every job of the call
    val corpus = Corpus.generate(spark, nClusters = 30, skewCopies = 40).toDF()
    assertBudget(Seq("Dedup.run" -> (() => Dedup.run(corpus).collect(): Unit)),
      Seq("Dedup.run" -> 30))
  }

  test("a whole Dedup.runCheckpointed call submits a fixed number of jobs, every call") {
    // a committed state root resumes, so every call gets a fresh one. Two
    // cache states: cold, and a fresh copy of a cache built from the first
    // 27 of the 30 clusters (the last 3 and the skew block miss) — the call
    // merges its misses into the cache it is given. perfbench's traced
    // mirror re-composes this call, so a changed job sequence shows here
    // before its traced run drifts
    val dir = Files.createTempDirectory("graft_budget_ckpt")
    Corpus.generate(spark, nClusters = 30, skewCopies = 40).toDF().write.parquet(s"$dir/input")
    val all = spark.read.parquet(s"$dir/input")
    val input = all.drop("truth_cluster")
    val cfg = DedupConfig()
    def fresh(name: String) = Files.createTempDirectory(dir, name).toString
    val prefixCache = s"$dir/prefix_cache"
    Dedup.runCheckpointed(all.where(col("truth_cluster") < 27).drop("truth_cluster"), cfg,
      fresh("prefix_state"), Some(prefixCache))
    assertBudget(Seq(
      "cold cache" -> (() => Dedup.runCheckpointed(input, cfg, fresh("state")): Unit),
      "prefix cache" -> { () =>
        val cache = fresh("cache")
        SparkSpec.copyDir(prefixCache, cache)
        Dedup.runCheckpointed(input, cfg, fresh("state"), Some(cache)): Unit
      }),
      Seq("cold cache" -> 47, "prefix cache" -> 50))
  }

  /** Each call's jobs, counted on two calls, equal its budget both times. */
  private def assertBudget(calls: Seq[(String, () => Unit)], budget: Seq[(String, Int)]): Unit = {
    features.count() // the fixture's own jobs stay outside the counts
    val jobs = calls.map { case (name, call) =>
      name -> Seq.fill(2)(JobKit.jobsIn(spark)(call()))
    }
    assert(jobs == budget.map { case (name, n) => name -> Seq(n, n) })
  }
}
