package graft

import org.apache.spark.sql.functions._

import graft.candidates.Candidates
import graft.schema.NearDupConfig
import graft.util.CacheScope

/** Candidate generation: exact pair semantics for small buckets, salting
  * behavior (connectivity + bounded pair count + metrics) for hot buckets. */
class CandidatesSpec extends SparkSpec {
  import spark.implicits._

  test("small buckets produce the exact full pair set") {
    val keyed = Seq(("a", 1L), ("b", 1L), ("c", 1L), ("x", 2L), ("y", 2L), ("z", 3L))
      .toDF("id", "k")
    val (pairs, metrics) = Candidates.pairsWithinBuckets(keyed, "id", Seq("k"), cap = 16, "t")
    val got = pairs.select("id1", "id2").as[(String, String)].collect().toSet
    assert(got == Set(("a", "b"), ("a", "c"), ("b", "c"), ("x", "y")))
    val m = metrics.first()
    assert(m.getLong(0) == 0 && m.getLong(1) == 0, "no salting below the cap")
  }

  test("hot bucket is salted: connected, bounded, reported — nothing dropped") {
    val n = 200
    val cap = 16
    val keyed = (0 until n).map(i => (f"id_$i%04d", 1L)).toDF("id", "k")
    val (pairs, metrics) = Candidates.pairsWithinBuckets(keyed, "id", Seq("k"), cap, "t")
    val p = pairs.cache()
    val nPairs = p.count()
    // far below the full clique, at most ~n*cap intra + stitch edges
    assert(nPairs < n.toLong * cap, s"salted pair count $nPairs not bounded")
    assert(nPairs >= n - 1, "must keep at least a spanning structure")
    // connectivity: all n ids still form ONE component
    val cc = CcTestKit.run(p.select("id1", "id2"))
    assert(cc.select("cluster_id").distinct().count() == 1)
    assert(cc.count() == n)
    val m = metrics.first()
    assert(m.getLong(0) == 1, "one salted bucket reported")
    assert(m.getLong(1) >= (n / cap).toLong, "salt group count reported")
    p.unpersist()
  }

  test("every id appears in some pair (salting loses no rows)") {
    val n = 100
    val keyed = (0 until n).map(i => (f"id_$i%04d", 1L)).toDF("id", "k")
    val (pairs, _) = Candidates.pairsWithinBuckets(keyed, "id", Seq("k"), cap = 8, "t")
    val seen = pairs.select(col("id1").as("id")).union(pairs.select(col("id2")))
      .distinct().count()
    assert(seen == n, s"only $seen of $n ids present in salted pairs")
  }

  test("pair-complete mode: oversized bucket yields the EXACT full clique") {
    // regression for the id-only-salt pair loss: a >cap bucket with pairs
    // split across salt groups must still list every pair
    val n = 120
    val cap = 16
    val keyed = (0 until n).map(i => (f"id_$i%04d", 1L)).toDF("id", "k")
    val (pairs, metrics) = Candidates.pairsWithinBuckets(
      keyed, "id", Seq("k"), cap, "t", pairComplete = true)
    assert(pairs.count() == n.toLong * (n - 1) / 2, "full clique required")
    assert(metrics.first().getLong(0) == 1, "bucket reported as salted")
  }

  test("pair-complete mode matches plain mode on small buckets") {
    val keyed = Seq(("a", 1L), ("b", 1L), ("c", 1L), ("x", 2L), ("y", 2L))
      .toDF("id", "k")
    val (pairs, _) = Candidates.pairsWithinBuckets(
      keyed, "id", Seq("k"), cap = 16, "t", pairComplete = true)
    val got = pairs.select("id1", "id2").as[(String, String)].collect().toSet
    assert(got == Set(("a", "b"), ("a", "c"), ("b", "c"), ("x", "y")))
  }

  test("multi-index Hamming: exact recall to the guaranteed radius") {
    val base = 0x0f0f0f0f0f0f0f0fL
    // distances 0..7 from base (flip i lowest bits of the i-th nibble area)
    val rows = (0 to 7).map { d =>
      val h = (0 until d).foldLeft(base)((v, i) => v ^ (1L << (i * 8)))
      (s"id_$d", h)
    } :+ (("far", ~base)) // distance 64-ish: never a candidate pair with base
    val df = rows.toDF("id", "h")
    val pairs = Candidates.multiIndexHammingPairs(df, "id", "h",
      bands = 4, subRadius = 1, radius = 7)
      .select("id1", "id2").as[(String, String)].collect().toSet
    // every (id_0, id_d) pair has distance d ≤ 7 → must be present
    (1 to 7).foreach { d =>
      assert(pairs.contains(("id_0", s"id_$d")), s"missing pair at distance $d")
    }
    assert(!pairs.exists(p => p._1 == "far" || p._2 == "far"))
  }

  test("multi-index Hamming: pair survives when only the LARGER id's probe " +
       "finds it (hot buckets around the larger id, cold around the smaller)") {
    // regression for the `_pid < _iid` orientation loss: dfCap drops hot
    // band buckets from the INDEX side only, so when the larger id (zBig)
    // sits in hot buckets for every band, the pair's ONLY surviving path is
    // zBig-as-probe hitting aSmall's cold bucket — which the ordered filter
    // (probe id < index id) rejected. least/greatest must keep it.
    val bHash = 0x7777777777777777L
    // 7 flips: 2 in chunk0, 2 in chunk1, 2 in chunk2, 1 in chunk3 —
    // pigeonhole guarantees zBig's 1-flip probe of chunk3 reaches aSmall
    val aHash = bHash ^ (0x3L | (0x3L << 16) | (0x3L << 32) | (1L << 48))
    val rows = Seq(("a_small", aHash), ("z_big", bHash)) ++
      (1 to 6).map(i => (s"f_$i", bHash)) // fillers make every zBig bucket hot
    val pairs = Candidates.multiIndexHammingPairs(rows.toDF("id", "h"), "id", "h",
      bands = 4, subRadius = 1, radius = 7, dfCap = 4)
      .select("id1", "id2", "hamming_d")
      .as[(String, String, Int)].collect().toSet
    assert(pairs.contains(("a_small", "z_big", 7)),
      s"orientation-dependent pair lost: $pairs")
  }

  test("containment edges: short ⊂ long found via first-shingle block") {
    val df = Seq(
      ("a", "one two three four five"),
      ("b", "zero one two three four five six"), // contains a
      ("c", "totally different caption words here")
    ).toDF("image_id", "caption")
    val edges = Candidates.containmentEdges(df, "image_id", "caption",
      graft.schema.NearDupConfig())
    val got = edges.select("id1", "id2").as[(String, String)].collect().toSet
    assert(got == Set(("a", "b")))
  }

  test("containment verify is word-boundary: mid-token substrings rejected") {
    // "he cat sat" IS a raw substring of "the cat sat here" ("t|he cat sat|
    // here") but NOT at a word boundary — round 3's unpadded instr admitted
    // it in the engine path while DocOps/the oracle rejected it. Both code
    // paths must agree on the padded contract.
    val df = Seq(
      ("a", "he cat sat"),
      ("b", "the cat sat here"),          // mid-token superstring of a — NOT a pair
      ("c", "oh he cat sat down"),        // word-boundary superstring of a — a pair
      ("d", "unrelated words entirely here")
    ).toDF("image_id", "caption")
    val cfg = graft.schema.NearDupConfig()
    val engine = Candidates.containmentEdges(df, "image_id", "caption", cfg)
      .select("id1", "id2").as[(String, String)].collect().toSet
    assert(engine == Set(("a", "c")), s"engine path got $engine")
    val query = graft.ops.DocOps.containmentPairs(df, "image_id", "caption", cfg.shingleK)
      .select("short_id", "long_id").as[(String, String)].collect().toSet
    assert(query == Set(("a", "c")), s"query path got $query")
  }

  test("caption-LSH edges: a hot near-dup bucket leaves as a per-partition forest") {
    // n near-identical captions (J = 18/20 on 3-shingles) in one LSH bucket
    // above the cap, plus identical-caption copies of some of them
    val n = 80
    val base = (1 to 20).map(i => s"w$i").mkString(" ")
    val df = ((0 until n).map(i => (i.toLong, s"$base v$i")) ++
              (0 until 10).map(i => (1000L + i, s"$base v$i"))).toDF("id", "caption")
    val cfg = NearDupConfig(maxBucketSize = 16)
    val (edges, metrics) = Candidates.captionLshEdges(df, "id", "caption", cfg)
    assert(metrics.first().getLong(0) > 0, "the bucket is above the cap (salted)")
    val parts = edges.rdd.getNumPartitions
    val nEdges = edges.count()
    assert(nEdges <= parts.toLong * (n + 10 - 1),
      s"$nEdges edges over $parts partitions: not a per-partition forest")
    assert(edges.where(col("id1") >= col("id2")).isEmpty)
    assert(edges.select("kind").distinct().as[String].collect().toSeq == Seq("caption_lsh"))
    // the same components as the verified rep pairs ∪ member stars
    val Seq(repPairs, stars) = CacheScope.sealMany { scope =>
      val (rp, members, _, _) = Candidates.captionLshPartsIn(df, "id", "caption", cfg)(scope)
      Seq(rp, members.where(col("id") =!= col("rep"))
        .select(col("rep").as("id1"), col("id").as("id2")))
    }
    def clusters(e: org.apache.spark.sql.DataFrame) =
      CcTestKit.run(e).as[(Long, Long)].collect().toMap
    val expected = clusters(repPairs.unionByName(stars))
    assert(expected.values.toSet.size == 1 && expected.size == n + 10)
    assert(clusters(edges.select("id1", "id2")) == expected)
  }

  test("star edges for exact groups are linear in group size") {
    val keyed = (0 until 50).map(i => (f"id_$i%03d", "k1")).toDF("image_id", "key")
    val edges = Candidates.exactEdges(keyed, "image_id", "key")
    assert(edges.count() == 49, "star = n-1 edges, not n(n-1)/2")
    val cc = CcTestKit.run(edges.select("id1", "id2"))
    assert(cc.select("cluster_id").distinct().count() == 1)
  }
}
