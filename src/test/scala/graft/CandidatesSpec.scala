package graft

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._

import graft.candidates.Candidates
import graft.schema.NearDupConfig
import graft.util.CacheScope

/** Candidate generation: exact verified pairs for small buckets, salting
  * behavior (connectivity + bounded pair count + bounded groups + metrics)
  * for hot buckets. */
class CandidatesSpec extends SparkSpec {
  import spark.implicits._

  // `bucketPairs` input rows: (id, sorted shingle hashes, LSH band hashes)
  private def banded(rows: Seq[(String, Seq[Long], Seq[Long])]) =
    rows.toDF("id", "_shh", "_bands")
  // one band: every row with key k shares bucket (0, k); identical shingles
  private def oneBand(keys: Seq[(String, Long)]) =
    banded(keys.map { case (id, k) => (id, Seq(1L, 2L, 3L), Seq(k)) })
  private def bucketPairs(df: org.apache.spark.sql.DataFrame, cap: Int,
                          pairComplete: Boolean) =
    Candidates.sealObserved(_ => Candidates.bucketPairs(df, "id", cap, 80, pairComplete))
  // bucket 1 holds a path a ~ b ~ c whose ends fail the Jaccard test
  // (J(a,b) = J(b,c) = 9/11, J(a,c) = 8/12); bucket 2 an identical pair
  private def smallBuckets = banded(Seq(
    ("a", (1L to 10L).toList, Seq(1L)), ("b", (2L to 11L).toList, Seq(1L)),
    ("c", (3L to 12L).toList, Seq(1L)),
    ("x", Seq(7L, 8L), Seq(2L)), ("y", Seq(7L, 8L), Seq(2L)), ("z", Seq(7L, 8L), Seq(3L))))

  test("small buckets produce the exact full pair set") {
    val (pairs, metrics) = bucketPairs(smallBuckets, cap = 16, pairComplete = false)
    val got = pairs.as[(String, String)].collect().toSeq
    assert(got.sorted == Seq(("a", "b"), ("b", "c"), ("x", "y")))
    val m = metrics.first()
    assert(m.getLong(0) == 0 && m.getLong(1) == 0, "no salting below the cap")
  }

  test("hot bucket is salted: connected, bounded, reported — nothing dropped") {
    val n = 200
    val cap = 16
    val (pairs, metrics) = bucketPairs(oneBand((0 until n).map(i => (f"id_$i%04d", 1L))),
      cap, pairComplete = false)
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
    val (pairs, _) = bucketPairs(oneBand((0 until n).map(i => (f"id_$i%04d", 1L))),
      cap = 8, pairComplete = false)
    val seen = pairs.select(col("id1").as("id")).union(pairs.select(col("id2")))
      .distinct().count()
    assert(seen == n, s"only $seen of $n ids present in salted pairs")
  }

  test("pair-complete mode: oversized bucket yields the EXACT full clique") {
    // regression for the id-only-salt pair loss: a >cap bucket with pairs
    // split across salt groups must still list every pair
    val n = 120
    val cap = 16
    val (pairs, metrics) = bucketPairs(oneBand((0 until n).map(i => (f"id_$i%04d", 1L))),
      cap, pairComplete = true)
    assert(pairs.count() == n.toLong * (n - 1) / 2, "full clique required")
    assert(pairs.distinct().count() == n.toLong * (n - 1) / 2, "each pair once")
    assert(metrics.first().getLong(0) == 1, "bucket reported as salted")
  }

  test("pair-complete mode matches plain mode on small buckets") {
    val (pairs, _) = bucketPairs(smallBuckets, cap = 16, pairComplete = true)
    val got = pairs.as[(String, String)].collect().toSeq
    assert(got.sorted == Seq(("a", "b"), ("b", "c"), ("x", "y")))
  }

  test("pair-complete mode lists a pair once however many bands it shares") {
    // three bands: a pair shares none, one, two or all three buckets, and
    // every bucket (13-20 rows) is salted at cap 8
    val bands = (0 until 40).map(i => Seq((i % 3).toLong, (i % 4).toLong, (i % 2).toLong))
    val rows = bands.zipWithIndex.map { case (b, i) => (f"id_$i%02d", Seq(1L, 2L, 3L), b) }
    val (pairs, m) = bucketPairs(banded(rows), cap = 8, pairComplete = true)
    val got = pairs.as[(String, String)].collect().toSeq
    val duplicates = got.size - got.distinct.size
    assert(duplicates == 0, "duplicate pairs in the listing")
    val expected = for (i <- 0 until 40; j <- i + 1 until 40
                        if bands(i).zip(bands(j)).exists { case (x, y) => x == y })
      yield (f"id_$i%02d", f"id_$j%02d")
    assert(got.toSet == expected.toSet)
    assert(m.first().getLong(0) == 9, "every bucket is above the cap")
  }

  // 300 near-identical captions (3-shingle Jaccard 18/20) in one hot bucket
  private def plantedBucket = {
    val base = (1 to 20).map(i => s"w$i").mkString(" ")
    val udf = graft.keys.Keys.shingleLshUdf(3, 16, 4)
    (0 until 300).map(i => (i.toLong, s"$base v$i")).toDF("id", "caption")
      .select(col("id"), udf(graft.keys.Keys.normCaption(col("caption"))).as("_sb"))
      .select(col("id"), col("_sb._1").as("_shh"), col("_sb._2").as("_bands"))
  }

  test("bucket verify holds at most two salt groups in memory at once") {
    val cap = 16
    val shingled = plantedBucket.cache()
    def heldGroupRows(pairComplete: Boolean) =
      Candidates.bucketGroups(shingled, "id", cap, pairComplete)._1
        .flatMapSortedGroups(col("_id"))((_, rows) => Iterator(rows.size))(Encoders.scalaInt)
        .collect().toSeq
    val salt = heldGroupRows(pairComplete = false)
    val tile = heldGroupRows(pairComplete = true)
    // salting bounds a group's size on average only: a hard `<= cap` is false
    assert(salt.nonEmpty && salt.max <= 2 * cap, s"largest salt group ${salt.max}")
    assert(tile.nonEmpty && tile.max <= 4 * cap, s"largest tile ${tile.max}")
    // the connectivity form keeps the listing form's components
    def clusters(pairComplete: Boolean) = {
      val (pairs, _) = bucketPairs(shingled, cap, pairComplete)
      CcTestKit.run(pairs).as[(Long, Long)].collect().toMap
    }
    val listing = clusters(pairComplete = true)
    assert(listing.size == 300 && listing.values.toSet == Set(0L))
    assert(clusters(pairComplete = false) == listing)
    shingled.unpersist()
  }

  private def hammingPairsAndMetrics(df: org.apache.spark.sql.DataFrame, dfCap: Int) =
    Candidates.sealObserved(_ => Candidates.multiIndexHammingPairsIn(df, "id", "h",
      bands = 4, subRadius = 1, radius = 7, dfCap))
  private def hammingPairs(df: org.apache.spark.sql.DataFrame, dfCap: Int) =
    hammingPairsAndMetrics(df, dfCap)._1

  test("multi-index Hamming: exact recall to the guaranteed radius") {
    val base = 0x0f0f0f0f0f0f0f0fL
    // distances 0..7 from base (flip i lowest bits of the i-th nibble area)
    val rows = (0 to 7).map { d =>
      val h = (0 until d).foldLeft(base)((v, i) => v ^ (1L << (i * 8)))
      (s"id_$d", h)
    } :+ (("far", ~base)) // distance 64-ish: never a candidate pair with base
    val df = rows.toDF("id", "h")
    val pairs = hammingPairs(df, dfCap = 256)
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
    val pairs = hammingPairs(rows.toDF("id", "h"), dfCap = 4)
      .select("id1", "id2", "hamming_d")
      .as[(String, String, Int)].collect().toSet
    assert(pairs.contains(("a_small", "z_big", 7)),
      s"orientation-dependent pair lost: $pairs")
  }

  // `families` random hashes and `variants` copies of each at 0..9 flipped
  // bits (the 0-flip copies are identical), ids 0..
  private def hammingFixture(seed: Long, families: Int, variants: Int): Seq[(Long, Long)] = {
    val rng = new scala.util.Random(seed)
    (0 until families).flatMap { _ =>
      val base = rng.nextLong()
      base +: (0 until variants).map { v =>
        rng.shuffle((0 until 64).toList).take(v % 10).foldLeft(base)((h, b) => h ^ (1L << b))
      }
    }.zipWithIndex.map { case (h, i) => (i.toLong, h) }
  }

  // the listing form (dfCap = Int.MaxValue) against brute force: every pair
  // within the radius, none twice
  private def assertHammingListing(hashes: Seq[(Long, Long)], bands: Int,
                                   subRadius: Int, radius: Int, minPairs: Int): Unit = {
    val brute = for ((a, ha) <- hashes; (b, hb) <- hashes if a < b;
                     d = java.lang.Long.bitCount(ha ^ hb) if d <= radius) yield (a, b, d)
    val (pairs, _) = Candidates.sealObserved(_ => Candidates.multiIndexHammingPairsIn(
      hashes.toDF("id", "h"), "id", "h", bands, subRadius, radius, dfCap = Int.MaxValue))
    val got = pairs.as[(Long, Long, Int)].collect().toSeq
    assert(brute.size >= minPairs && brute.exists(_._3 == 0), "the fixture holds many pairs, copies too")
    assert(got.size == got.distinct.size, s"${got.size - got.distinct.size} duplicate pairs")
    assert(got.toSet == brute.toSet)
  }

  test("multi-index Hamming listing form: every pair within the radius, once") {
    // 780 hashes, 4 × 16-bit bands with 1-flip probes
    assertHammingListing(hammingFixture(11L, 60, 12), bands = 4, subRadius = 1,
      radius = 7, minPairs = 1000)
  }

  test("multi-index Hamming listing form with ONE band: every pair once") {
    // one 64-bit band (legal: 64 % 1 == 0, guarantee 1 ≥ radius 1): the
    // chunk is the whole hash, so copies meet index × index in their own
    // bucket and a pair 1 bit apart meets as two probes, one of which the
    // listing rule keeps — only if the packed key's band decodes as 0
    // (`_k >>> 64 == _k`). 1-flip probes: a 64-bit chunk has 65 masks at
    // subRadius 1 but 43,745 at 3, which ran a 4 GB test heap out of memory
    assertHammingListing(hammingFixture(13L, 20, 12), bands = 1, subRadius = 1,
      radius = 1, minPairs = 40)
  }

  private def saltRow(metrics: org.apache.spark.sql.DataFrame) =
    metrics.as[(Long, Long)].collect().toSeq

  test("observed bucket statistics: caption-LSH at cap 16 equals the bucket sizes") {
    // 300 near-identical captions share most LSH buckets; 5 unrelated ones don't
    val base = (1 to 20).map(i => s"w$i").mkString(" ")
    val df = ((0 until 300).map(i => (i.toLong, s"$base v$i")) ++
              (0 until 5).map(i => (1000L + i, s"other words $i here now"))).toDF("id", "caption")
    val udf = graft.keys.Keys.shingleLshUdf(3, 16, 4)
    val bands = df.select(udf(graft.keys.Keys.normCaption(col("caption")))("_2"))
      .as[Seq[Long]].collect().toSeq
    val sizes = bands.flatMap(_.zipWithIndex).groupBy(identity).values.map(_.size)
    val hot = sizes.filter(_ > 16).toSeq
    assert(hot.nonEmpty, "the fixture must salt")
    val (_, metrics) = Candidates.captionLshEdges(df, "id", "caption",
      NearDupConfig(maxBucketSize = 16))
    assert(saltRow(metrics) == Seq((hot.size.toLong, hot.map(s => (s + 15) / 16).sum.toLong)))
    // no shared bucket at all: the observed frame is empty, and reads (0, 0)
    val (_, none) = Candidates.captionLshEdges(df.where(col("id") >= 1000), "id", "caption",
      NearDupConfig(maxBucketSize = 16))
    assert(saltRow(none) == Seq((0L, 0L)))
  }

  test("observed bucket statistics: pHash hot band buckets at dfCap 4") {
    // multi-index body, z_big's fixture: every band bucket of the shared
    // hash holds 7 index rows > 4, a_small's hold one
    val bHash = 0x7777777777777777L
    val aHash = bHash ^ (0x3L | (0x3L << 16) | (0x3L << 32) | (1L << 48))
    val rows = (Seq(("a_small", aHash), ("z_big", bHash)) ++
      (1 to 6).map(i => (s"f_$i", bHash))).toDF("id", "h")
    assert(saltRow(hammingPairsAndMetrics(rows, dfCap = 4)._2) == Seq((4L, 28L)))
    // the flagship source: five distinct hashes that differ in chunk 3 only
    // share three band buckets of 5 index rows each
    val near = (1 to 5).map(i => (i.toLong, bHash ^ (i.toLong << 48))).toDF("id", "phash")
    val cfg = NearDupConfig(hammingDfCap = 4)
    val (edges, metrics) = Candidates.phashHammingEdges(near, "id", "phash", cfg)
    assert(saltRow(metrics) == Seq((3L, 15L)))
    assert(edges.count() > 0, "the chunk-3 probes still pair them")
    // hashes far apart share no bucket: (0, 0)
    val far = Seq((1L, 0L), (2L, -1L), (3L, 0x00ff00ff00ff00ffL)).toDF("id", "phash")
    val (farEdges, farMetrics) = Candidates.phashHammingEdges(far, "id", "phash", cfg)
    assert(farEdges.isEmpty && saltRow(farMetrics) == Seq((0L, 0L)))
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
      ("d", "unrelated words entirely here"),
      ("z", "unrelated words entirely")   // contained in d, with the LARGER id
    ).toDF("image_id", "caption")
    val cfg = graft.schema.NearDupConfig()
    // edge form orients id1 < id2; the listing keeps (short, long)
    val engine = Candidates.containmentEdges(df, "image_id", "caption", cfg)
      .select("id1", "id2").as[(String, String)].collect().toSet
    assert(engine == Set(("a", "c"), ("d", "z")), s"engine path got $engine")
    val query = graft.ops.DocOps.containmentPairs(df, "image_id", "caption", cfg.shingleK)
      .select("short_id", "long_id").as[(String, String)].collect().toSet
    assert(query == Set(("a", "c"), ("z", "d")), s"query path got $query")
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
      val (rp, members, _) = Candidates.captionLshPartsIn(df, "id", "caption", cfg)(scope)
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
