package graft

import org.apache.spark.sql.functions._

import graft.ops.{DocOps, EmbeddingOps}
import graft.schema.NearDupConfig

/** Cross-validation of the three near-dup paths over the driver's real
  * documents table (sf0.001) — brute-force shared-shingle Jaccard is the
  * in-test oracle; MinHash+LSH and SimHash must reproduce its pair set at
  * the corpus' planted similarities. Plus embedding similarity ops with a
  * planted-vector ANN recall check. */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"
  private def haveTestdata = new java.io.File(s"$sfDir/documents.parquet").exists()
  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet").cache()
  private val cfg = NearDupConfig(jaccardThreshold = 0.8)

  test("MinHash+LSH pairs == brute-force Jaccard pairs on real documents") {
    assume(haveTestdata)
    val oracle = DocOps.jaccardPairs(docs, "doc_id", "text", 3, 80)
      .select("doc1", "doc2").as[(Long, Long)].collect().toSet
    val lsh = DocOps.minhashLshPairs(docs, "doc_id", "text", cfg)
      .as[(Long, Long)].collect().toSet
    assert(oracle.nonEmpty, "fixture should contain near-dup documents")
    assert(lsh == oracle, s"missing=${(oracle -- lsh).take(5)} extra=${(lsh -- oracle).take(5)}")
  }

  test("connectivity-form LSH edges yield the SAME components as the pair listing") {
    assume(haveTestdata)
    import graft.cluster.ConnectedComponents
    def clusters(edges: org.apache.spark.sql.DataFrame): Map[Long, Long] = {
      val cc = ConnectedComponents.runMapping(edges)
      docs.select(col("doc_id"))
        .join(cc.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")))
        .as[(Long, Long)].collect().toMap
    }
    val viaListing = clusters(DocOps.minhashLshPairs(docs, "doc_id", "text", cfg)
      .select(col("doc1"), col("doc2")))
    val viaStars = clusters(DocOps.minhashLshEdges(docs, "doc_id", "text", cfg))
    assert(viaStars == viaListing)
  }

  test("SimHash pairs == brute-force Hamming-radius pairs on real documents") {
    assume(haveTestdata)
    // in-test oracle: collect the same md5-token signatures, list ALL pairs
    // within the radius by brute force
    import graft.keys.Keys
    val sigs = docs
      .select(col("doc_id"), graft.keys.Keys.tokens(col("text")).as("_t"))
      .where(size(col("_t")) > 0)
      .select(col("doc_id"), Keys.simhashMd5Udf(col("_t")).as("s"))
      .as[(Long, Long)].collect()
    val oracle = (for {
      i <- sigs.indices; j <- (i + 1) until sigs.length
      d = java.lang.Long.bitCount(sigs(i)._2 ^ sigs(j)._2)
      if d <= cfg.simhashRadius
    } yield {
      val (a, b) = (sigs(i)._1, sigs(j)._1)
      (math.min(a, b), math.max(a, b), d)
    }).toSet
    val sim = DocOps.simhashPairs(docs, "doc_id", "text", cfg)
      .as[(Long, Long, Int)].collect().toSet
    assert(oracle.nonEmpty, "fixture should contain simhash near-dups")
    assert(sim == oracle, s"missing=${(oracle -- sim).take(5)} extra=${(sim -- oracle).take(5)}")
  }

  test("SimHash listing == brute-force Hamming-radius pairs on a synthetic corpus") {
    // groups of 2-5 identical captions (spelled with other case and
    // spacing: one normalized text), variants 1-10 tokens off each base
    // (some inside the radius, some beyond), one whitespace-only document
    import graft.keys.Keys
    val rng = new scala.util.Random(1301L)
    def caption() = Seq.fill(30)(s"w${rng.nextInt(300)}")
    val texts = (0 until 12).flatMap { g =>
      val base = caption()
      val copies = Seq.tabulate(2 + g % 4)(c =>
        if (c % 2 == 0) base.mkString(" ") else base.mkString("  ", "\t", " ").toUpperCase)
      val variants = Seq(1, 2, 4, 10).map { n =>
        base.zipWithIndex.map { case (t, i) => if (i < n) s"x${rng.nextInt(300)}" else t }
          .mkString(" ")
      }
      copies ++ variants
    } :+ " \t "
    val docs = rng.shuffle(texts).zipWithIndex.map { case (t, i) => (i.toLong * 7, t) }
      .toDF("doc_id", "text")
    val sigs = docs
      .select(col("doc_id"), Keys.tokens(col("text")).as("_t"))
      .where(size(col("_t")) > 0)
      .select(col("doc_id"), Keys.simhashMd5Udf(col("_t")).as("s"))
      .as[(Long, Long)].collect()
    assert(sigs.length == texts.length - 1, "only the whitespace-only document is unsigned")
    val all = for {
      i <- sigs.indices; j <- (i + 1) until sigs.length
    } yield {
      val (a, b) = (sigs(i)._1, sigs(j)._1)
      (math.min(a, b), math.max(a, b), java.lang.Long.bitCount(sigs(i)._2 ^ sigs(j)._2))
    }
    val oracle = all.filter(_._3 <= cfg.simhashRadius).toSet
    assert(oracle.count(_._3 == 0) >= 12 && oracle.exists(_._3 > 0),
      "the fixture must yield identical and near pairs within the radius")
    assert(all.exists(p => p._3 > cfg.simhashRadius && p._3 <= 2 * cfg.simhashRadius),
      "the fixture must yield near pairs beyond the radius")
    val sim = DocOps.simhashPairs(docs, "doc_id", "text", cfg).as[(Long, Long, Int)].collect().toSeq
    assert(sim.distinct.size == sim.size, "duplicate rows")
    assert(sim.toSet == oracle,
      s"missing=${(oracle -- sim).take(5)} extra=${(sim.toSet -- oracle).take(5)}")
  }

  test("MinHash-LSH listing == brute-force banded Jaccard pairs on a synthetic corpus") {
    // groups of 2-5 identical captions (spelled with other case and
    // spacing: one normalized text) and one group of 9 above the cap of 4,
    // so the listing's salted tiles run; variants with the last 1-4 of 29
    // tokens replaced (3-shingle Jaccard 26/28, 25/29, 24/30 = the 0.8
    // threshold, 23/31); texts under k tokens, copied; one whitespace-only
    // document
    import graft.keys.Keys
    val small = NearDupConfig(jaccardThreshold = 0.8, maxBucketSize = 4)
    val rng = new scala.util.Random(1401L)
    def caption() = Seq.fill(29)(s"w${rng.nextInt(300)}")
    def spellings(text: Seq[String], n: Int) = Seq.tabulate(n)(c =>
      if (c % 2 == 0) text.mkString(" ") else text.mkString("  ", "\t", " ").toUpperCase)
    val groups = (0 until 12).flatMap { g =>
      val base = caption()
      val variants = Seq(1, 2, 3, 4).map(n =>
        (base.dropRight(n) ++ Seq.fill(n)(s"x${rng.nextInt(300)}")).mkString(" "))
      spellings(base, 2 + g % 4) ++ variants
    }
    val texts = groups ++ spellings(caption(), 9) ++ spellings(Seq("a", "b"), 3) ++
      Seq("solo", "a b c", " \t ")
    val docs = rng.shuffle(texts).zipWithIndex.map { case (t, i) => (i.toLong * 7, t) }
      .toDF("doc_id", "text")
    val sb = Keys.shingleLshUdf(small.shingleK, small.lshBands, small.lshRowsPerBand)
    val sigs = docs.select(col("doc_id"), sb(Keys.normCaption(col("text"))).as("s"))
      .select(col("doc_id"), col("s._1"), col("s._2"))
      .as[(Long, Seq[Long], Seq[Long])].collect()
    val pct = math.round(small.jaccardThreshold * 100)
    val candidates = for {
      i <- sigs.indices; j <- (i + 1) until sigs.length
      (a, b) = (sigs(i), sigs(j))
      if a._3.zip(b._3).exists { case (x, y) => x == y }
    } yield {
      val inter = a._2.intersect(b._2).size
      ((math.min(a._1, b._1), math.max(a._1, b._1)), inter, a._2.size + b._2.size - inter)
    }
    val oracle = candidates.collect { case (p, i, u) if i * 100 >= u * pct => p }.toSet
    assert(candidates.exists { case (_, i, u) => i * 100 == u * pct } &&
           candidates.exists { case (_, i, u) => i * 100 < u * pct },
      "the fixture must yield candidates at and below the threshold")
    val biggest = sigs.flatMap(_._3.zipWithIndex).groupBy(identity).values.map(_.length).max
    assert(biggest > small.maxBucketSize, "a band bucket is above the cap (salted)")
    assert(oracle.size > 96, "the 96 identical pairs and near pairs")
    val lsh = DocOps.minhashLshPairs(docs, "doc_id", "text", small)
      .as[(Long, Long)].collect().toSeq
    assert(lsh.distinct.size == lsh.size, "duplicate rows")
    assert(lsh.toSet == oracle,
      s"missing=${(oracle -- lsh).take(5)} extra=${(lsh.toSet -- oracle).take(5)}")
  }

  test("the MinHash-LSH listing is distinct") {
    // no listing and no edge source runs a distinct: the MinHash-LSH and
    // SimHash listings emit each pair in its lowest shared band only, and
    // the containment listing and the edges are distinct by construction
    import graft.candidates.Candidates
    import graft.keys.Keys
    import graft.util.Seal
    def assertDistinct(tag: String, pairs: org.apache.spark.sql.DataFrame): Unit = {
      val n = pairs.count()
      assert(n > 0, s"$tag: the fixture must yield pairs")
      assert(pairs.distinct().count() == n, s"$tag: duplicate rows")
    }
    // MinHash-LSH, over one planted bucket above the cap
    val base = (1 to 20).map(i => s"w$i").mkString(" ")
    val planted = (0 until 80).map(i => (i.toLong, s"$base v$i")).toDF("id", "caption")
    val capped = NearDupConfig(maxBucketSize = 16)
    val sb = Keys.shingleLshUdf(capped.shingleK, capped.lshBands, capped.lshRowsPerBand)
    val biggest = planted
      .select(posexplode(sb(Keys.normCaption(col("caption")))("_2")))
      .groupBy("pos", "col").count().agg(max("count")).first().getLong(0)
    assert(biggest > capped.maxBucketSize, "a band bucket is above the cap (salted)")
    assertDistinct("minhashLshPairs", DocOps.minhashLshPairs(planted, "id", "caption", capped))
    // containment: each short text shares ≥ 2 shingles with each of several
    // longer texts that contain it, and the longer texts contain each other
    val nested = Seq((1L, "a b c d"), (2L, "a b c d e"), (3L, "z a b c d e"),
      (4L, "a b c d e f"), (5L, "y a b c d e f"), (6L, "b c d e f g")).toDF("id", "text")
    val contained = graft.ops.DocOps.containmentPairs(nested, "id", "text", 3)
    assert(contained.count() >= 8, "the fixture must yield many pairs per short text")
    assertDistinct("containmentPairs", contained)
    assertDistinct("containmentEdges",
      Candidates.containmentEdges(nested, "id", "text", NearDupConfig()).select("id1", "id2"))
    // exact edges: ten rows on each of three keys
    val keyed = (0 until 30).map(i => (i.toLong, s"k${i % 3}")).toDF("id", "key")
    val exact = Candidates.exactEdges(keyed, "id", "key").select("id1", "id2")
    assert(exact.count() == 27, "a star per key")
    assertDistinct("exactEdges", exact)
    // multi-index Hamming with the cap disabled — the listing form the
    // SimHash listing is (no distinct) — over real SimHash signatures
    assume(haveTestdata)
    val sigs = docs
      .select(col("doc_id"), Keys.tokens(Keys.normCaption(col("text"))).as("_t"))
      .where(size(col("_t")) > 0)
      .select(col("doc_id"), Keys.simhashMd5Udf(col("_t")).as("_sim"))
    val hamming = Seal(Candidates.multiIndexHammingPairsIn(sigs,
      "doc_id", "_sim", cfg.simhashBands, cfg.simhashSubRadius,
      cfg.simhashRadius, dfCap = Int.MaxValue)._1)
    assertDistinct("multiIndexHammingPairsIn", hamming)
    // and the SimHash listing built on it
    assertDistinct("simhashPairs",
      DocOps.simhashPairs(docs, "doc_id", "text", cfg).select("doc1", "doc2"))
  }

  test("token stats: subtoken regex counts match a hand example") {
    val df = Seq((1L, "Hello, world! It's 42%")).toDF("doc_id", "text")
    val r = DocOps.tokenStats(df, "doc_id", "text").first()
    // tokens: [hello,, world!, it's, 42%] = 4
    assert(r.getLong(1) == 4)
    // subtokens: Hello , world ! It ' s 42 % = 9
    assert(r.getLong(3) == 9)
  }

  test("cosinePairs: integer-exact threshold, symmetric-free (id1<id2)") {
    assume(haveTestdata)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val pairs = EmbeddingOps.cosinePairs(emb, "vec_id", "embedding", "label", 350000L).cache()
    assert(pairs.where(col("id1") >= col("id2")).count() == 0)
    assert(pairs.where(col("dot_q") < 350000L).count() == 0)
    assert(pairs.count() > 0, "threshold chosen to be non-empty on the fixture")
    pairs.unpersist()
  }

  test("ANN multi-table LSH finds planted near-neighbors (recall ≥ 0.95)") {
    // planted data: 60 random unit vectors + a tiny-perturbation partner each
    // (cos ≈ 0.999) — ANN must find the partner as top-1 for ≥ 95% of rows
    val dim = 64
    val rng = new scala.util.Random(99L)
    def unit(v: Array[Double]) = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(x => (x / n).toFloat)
    }
    val rows = (0 until 60).flatMap { i =>
      val base = Array.fill(dim)(rng.nextGaussian())
      val eps = base.map(x => x + rng.nextGaussian() * 0.02)
      Seq((i.toLong * 2, unit(base).toSeq), (i.toLong * 2 + 1, unit(eps).toSeq))
    }
    val emb = rows.toDF("vec_id", "embedding")
    val ann = EmbeddingOps.annTop1(emb, "vec_id", "embedding", dim, nBits = 8, nTables = 8)
    val got = ann.select("vec_id", "nn_id").as[(Long, Long)].collect().toMap
    val hits = rows.map(_._1).count(id => got.get(id).contains(id ^ 1L))
    val recall = hits.toDouble / rows.size
    assert(recall >= 0.95, s"ANN planted-partner recall $recall < 0.95")
  }

  test("ANN hot bucket is capped+salted: bounded work, near-optimal neighbor") {
    // 200 near-identical unit vectors — every LSH table maps (almost) all of
    // them to ONE bucket, far above cap=8 → the salted/sampled path runs.
    // Every probe must still get a top-1, and since the whole bucket is
    // mutually near-identical, any sampled candidate is near-optimal.
    val dim = 64
    val rng = new scala.util.Random(7L)
    def unit(v: Array[Double]) = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(x => (x / n).toFloat)
    }
    val base = Array.fill(dim)(rng.nextGaussian())
    val rows = (0 until 200).map { i =>
      (i.toLong, unit(base.map(x => x + rng.nextGaussian() * 0.02)).toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val ann = EmbeddingOps.annTop1(emb, "vec_id", "embedding", dim,
      nBits = 8, nTables = 8, cap = 8).cache()
    assert(ann.count() == 200, "every probe keeps a top-1 under salting")
    // cos of two perturbed copies ≈ 0.998; sampled top-1 stays near-optimal
    assert(ann.where(col("dot_q") < 950000L).count() == 0)
    ann.unpersist()
  }

  test("fingerprint is stable under duplicate-shingle reordering") {
    val df = Seq((1L, "a b c a b c"), (2L, "a b c")).toDF("doc_id", "text")
    val fp = DocOps.fingerprint(df, "doc_id", "text", 3).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // doc1's extra repeated shingles don't add distinct 3-grams beyond doc2's
    // ("a b c","b c a","c a b" vs "a b c") — but min-md5 over supersets can
    // differ; just pin determinism + non-null here
    assert(fp(1L) != null && fp(2L) != null)
    val fp2 = DocOps.fingerprint(df, "doc_id", "text", 3).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fp == fp2)
  }
}
