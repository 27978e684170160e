package graft

import org.apache.spark.sql.functions._

import graft.gen.Corpus
import graft.schema._

/** End-to-end pipeline checks on the planted synthetic corpus: the hidden
  * `truth_cluster` column is the oracle for which rows must cluster
  * together; the pipeline never reads it. */
class DedupPipelineSpec extends SparkSpec {
  import spark.implicits._

  lazy val corpus = Corpus.generate(spark, nClusters = 60, skewCopies = 25).cache()

  test("corpus is deterministic and well-formed") {
    val a = Corpus.clusterRows(42L, 7L)
    val b = Corpus.clusterRows(42L, 7L)
    assert(a.map(_.image_id) == b.map(_.image_id))
    assert(a.map(_.phash) == b.map(_.phash))
    assert(a.zip(b).forall { case (x, y) => x.bytes.sameElements(y.bytes) })
    val n = corpus.count()
    assert(n == 60 * 2 + 25, s"expected 145 rows, got $n")
    assert(corpus.select("image_id").distinct().count() == n)
  }

  test("exact duplicates cluster together (type-4 clusters)") {
    // default key follows the reference (ignore_diff={mdate}: hash+caption):
    // identical bytes AND identical caption ⇒ same cluster
    val membersDefault = Dedup.clusterMembers(corpus.toDF(), DedupConfig(
      enableCaptionLsh = false, enablePhashHamming = false, enableContainment = false))
    val defaultGroups = membersDefault
      .withColumn("h", sha2(col("bytes"), 256))
      .groupBy("h", "caption")
      .agg(countDistinct("cluster_id").as("nc"), count(lit(1)).as("n"))
    assert(defaultGroups.where(col("n") > 1 && col("nc") =!= 1).count() == 0,
      "rows with identical bytes+caption must share a cluster")
    // hash-only key (≅ --ignore_diff filename,mdate): identical bytes alone
    // ⇒ same cluster, captions notwithstanding (type 5 "renamed file")
    val membersHashOnly = Dedup.clusterMembers(corpus.toDF(), DedupConfig(
      key = KeyConfig(ignoreCaption = true),
      enableCaptionLsh = false, enablePhashHamming = false, enableContainment = false))
    val hashGroups = membersHashOnly
      .withColumn("h", sha2(col("bytes"), 256))
      .groupBy("h").agg(countDistinct("cluster_id").as("nc"), count(lit(1)).as("n"))
    assert(hashGroups.where(col("n") > 1 && col("nc") =!= 1).count() == 0,
      "rows with identical bytes must share a cluster under a hash-only key")
    // under the default pipeline (image axis on), renamed identical files
    // still cluster — via identical-phash collapse, like the reference's
    // users get via --ignore_diff
    val membersFull = Dedup.clusterMembers(corpus.toDF(), DedupConfig(
      enableCaptionLsh = false, enableContainment = false))
    val fullGroups = membersFull
      .withColumn("h", sha2(col("bytes"), 256))
      .groupBy("h").agg(countDistinct("cluster_id").as("nc"), count(lit(1)).as("n"))
    assert(fullGroups.where(col("n") > 1 && col("nc") =!= 1).count() == 0,
      "identical bytes must share a cluster once the image axis is enabled")
  }

  test("full pipeline groups every planted cluster (recall) without merging across (precision proxy)") {
    val members = Dedup.clusterMembers(corpus.toDF(), DedupConfig()).cache()
    // recall: every planted multi-row truth cluster ends up in ONE engine cluster
    val perTruth = members.groupBy("truth_cluster")
      .agg(countDistinct("cluster_id").as("nc"), count(lit(1)).as("n"))
    val broken = perTruth.where(col("n") > 1 && col("nc") =!= 1)
    assert(broken.count() == 0,
      s"planted clusters split: ${broken.collect().mkString(",")}")
    // precision proxy: an engine cluster never spans >1 planted truth cluster
    // (negatives are random enough that cross-cluster merges mean a bug)
    val perEngine = members.groupBy("cluster_id")
      .agg(countDistinct("truth_cluster").as("nt"))
    val merged = perEngine.where(col("nt") > 1)
    assert(merged.count() == 0,
      s"engine merged unrelated planted clusters: ${merged.collect().take(5).mkString(",")}")
  }

  test("surrogate-id flagship equals the string-path composition") {
    // Dedup.run shuffles 8-byte surrogate ids through candidates/CC and
    // restores cluster naming with a groupBy+join; clusterMembers runs the
    // same pipeline over string image ids. The two paths must produce the
    // IDENTICAL actions table — clusters, naming (min image_id), election,
    // dispositions, targets.
    val viaRun = Dedup.run(corpus.toDF(), DedupConfig())
    val viaStrings = graft.resolve.Resolver.resolve(
      Dedup.clusterMembers(corpus.toDF(), DedupConfig())
        .select("image_id", "role", "cluster_id"),
      DedupConfig().resolve)
    assert(viaRun.exceptAll(viaStrings).count() == 0 &&
           viaStrings.exceptAll(viaRun).count() == 0,
      "surrogate-id and string-id pipelines diverged")
  }

  test("resolution: ref rows always keep; matched scan elects one mover") {
    val actions = Dedup.run(corpus.toDF(), DedupConfig()).cache()
    assert(actions.where(col("role") === "ref" && col("disposition") =!= "keep").count() == 0)
    val scanDisp = actions.where(col("role") === "scan")
      .groupBy("cluster_id", "disposition").count()
    // any cluster with a move has exactly one mover
    assert(scanDisp.where(col("disposition") === "move" && col("count") > 1).count() == 0)
    // every action row accounted for: same count as filtered input
    assert(actions.count() == corpus.count())
  }

  test("the engine leaves the caller's job description as it found it") {
    val sc = spark.sparkContext
    sc.setJobDescription("caller: nightly dedup")
    try {
      Dedup.run(corpus.toDF(), DedupConfig()).count()
      assert(sc.getLocalProperty("spark.job.description") == "caller: nightly dedup")
    } finally sc.setJobDescription(null)
  }
}
