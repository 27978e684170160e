package graft

import org.apache.spark.sql.functions._

import graft.gen.Corpus
import graft.keys.Keys

/** Distribution sanity of the JVM-native MinHash → LSH band UDF: band
  * hashes of unrelated docs must NOT collide (a broken hash would put the
  * whole corpus in one LSH bucket and blow the candidate join up
  * quadratically). */
class UdfSanitySpec extends SparkSpec {
  import spark.implicits._

  private val bandUdf = Keys.shingleLshUdf(3, 16, 4)
  private def bands(text: org.apache.spark.sql.Column) = bandUdf(Keys.normCaption(text))("_2")

  test("shingleLshUdf: unrelated captions rarely share any band hash") {
    val caps = Corpus.generate(spark, nClusters = 100).toDF()
      .where(pmod(col("truth_cluster"), lit(10)) < 4) // singleton negatives
    val exploded = caps.select(col("image_id"),
      posexplode(bands(col("caption"))).as(Seq("band_id", "band_hash"))).cache()
    val n = exploded.select("image_id").distinct().count()
    val maxBucket = exploded.groupBy("band_id", "band_hash").count()
      .agg(max("count")).first().getLong(0)
    assert(n > 30)
    assert(maxBucket <= 2, s"unrelated captions collided: max bucket $maxBucket of $n docs")
    exploded.unpersist()
  }

  test("shingleLshUdf: near-identical captions share most bands; a doc's bands differ") {
    val a = Seq.tabulate(40)(i => s"tok$i").mkString(" ")
    val b = Seq.tabulate(40)(i => if (i == 20) "XXX" else s"tok$i").mkString(" ")
    val df = Seq(("a", a), ("b", b), ("c", "completely different words entirely another caption list")).toDF("id", "t")
    val m = df.select(col("id"), bands(col("t")).as("bands")).collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    // 1 swap in 40 tokens → shingle-Jaccard ≈ 0.854 → per-band share prob
    // s⁴ ≈ 0.53, E[shared] ≈ 8.5, σ ≈ 2 — assert well inside the tail;
    // candidate recall only needs ≥ 1 shared band (p ≈ 1 − 5e-6)
    val sharedAB = m("a").zip(m("b")).count { case (x, y) => x == y }
    val sharedAC = m("a").zip(m("c")).count { case (x, y) => x == y }
    assert(sharedAB >= 3, s"near-dup captions should share several bands, got $sharedAB/16")
    assert(sharedAC == 0, s"unrelated captions should share no band, got $sharedAC")
    assert(m("a").distinct.size > 8, "band hashes within a doc must differ")
  }
}
