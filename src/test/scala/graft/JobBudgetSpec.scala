package graft

import graft.candidates.Candidates
import graft.gen.Corpus
import graft.schema.{DedupConfig, NearDupConfig}
import graft.util.Seal

/** The job budget of each flagship candidate source: on a small fixture
  * with a salted caption bucket, every source submits a pinned number of
  * Spark jobs, and the same number on a second call (a lazily persisted
  * frame read by two branches of one seal races two cache builds, which
  * shows as an extra job on some calls only). A job costs 60-100 ms of
  * fixed overhead on a 4-core box, so an extra barrier is a regression. */
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
    features.count() // the fixture's own jobs stay outside the counts
    val jobs = sources.map { case (name, call) =>
      name -> Seq.fill(2)(JobKit.jobsIn(spark)(call()))
    }
    val budget = Seq("exact" -> 3, "caption_lsh" -> 8, "phash_hamming" -> 4, "containment" -> 10)
    assert(jobs == budget.map { case (name, n) => name -> Seq(n, n) })
  }
}
