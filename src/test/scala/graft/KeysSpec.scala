package graft

import org.apache.spark.sql.functions._

import graft.keys.Keys
import graft.schema.KeyConfig

/** Unit checks for key/signature construction — the engine analogue of the
  * reference's pinned-key tests (tests/test_duplicates_finder.py:11-51):
  * exact digests, config-gated key components, shingle/banding algebra. */
class KeysSpec extends SparkSpec {
  import spark.implicits._

  private def one(colExpr: org.apache.spark.sql.Column) =
    Seq(1).toDF("x").select(colExpr.as("v")).first()

  test("contentHash: full vs partial (first 2 MiB) — pinned sha256") {
    val payload = "hello world".getBytes("UTF-8")
    val df = Seq(Tuple1(payload)).toDF("bytes")
    val full = df.select(Keys.contentHash(col("bytes"), fullHash = true)).first().getString(0)
    // sha256("hello world") — public known digest
    assert(full == "b94d27b9934d3e08a52e52d7da7dabfac484efe37a5380ee9088f7ace2efcde9")
    // payload < 2 MiB: partial == full
    val part = df.select(Keys.contentHash(col("bytes"), fullHash = false)).first().getString(0)
    assert(part == full)
    // > 2 MiB payload: partial hashes only the prefix
    val big = Array.fill[Byte](Keys.PartialHashBytes + 10)(7)
    val big2 = big.clone(); big2(Keys.PartialHashBytes + 5) = 9 // differ past prefix
    val dfb = Seq((big, big2)).toDF("a", "b")
    val r = dfb.select(
      Keys.contentHash(col("a"), fullHash = false).as("pa"),
      Keys.contentHash(col("b"), fullHash = false).as("pb"),
      Keys.contentHash(col("a"), fullHash = true).as("fa"),
      Keys.contentHash(col("b"), fullHash = true).as("fb")).first()
    assert(r.getString(0) == r.getString(1), "partial hash ignores bytes past 2 MiB")
    assert(r.getString(2) != r.getString(3), "full hash sees the difference")
  }

  test("matchKey composition follows the ignore flags (utils.py:220-231 semantics)") {
    val df = Seq(("b".getBytes("UTF-8"), "cap", java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("bytes", "caption", "mtime")
    def key(cfg: KeyConfig) =
      df.select(Keys.matchKey(cfg, col("bytes"), col("caption"), col("mtime")).as("k"))
        .select(to_json(col("k"))).first().getString(0)
    val hashOnly = key(KeyConfig(ignoreCaption = true, ignoreMtime = true))
    val withCap = key(KeyConfig(ignoreCaption = false, ignoreMtime = true))
    val withBoth = key(KeyConfig(ignoreCaption = false, ignoreMtime = false))
    assert(!hashOnly.contains("cap") && withCap.contains("cap"))
    assert(!withCap.contains("2024") && withBoth.contains("2024"))
  }

  test("shingles: k-grams, distinct, order, short-caption empty") {
    val got = one(Keys.shingles(lit("a b c d"), 3)).getSeq[String](0)
    assert(got == Seq("a b c", "b c d"))
    assert(one(Keys.shingles(lit("a b"), 3)).getSeq[String](0).isEmpty)
    // normalization: case + whitespace collapse
    assert(one(Keys.shingles(lit("  A  b   C "), 3)).getSeq[String](0) == Seq("a b c"))
    // distinct: repeated shingle appears once
    assert(one(Keys.shingles(lit("x x x x"), 3)).getSeq[String](0) == Seq("x x x"))
  }

  test("lshBandHashes == bandHashes(minhashSignature) — fused and unfused agree") {
    val df = Seq("the quick brown fox jumps over the lazy dog today").toDF("c")
      .select(Keys.shingleHashes(Keys.shingles(col("c"), 3)).as("hh"))
      .persist()
    val a = df.select(Keys.lshBandHashes(col("hh"), 4, 4).as("v")).first().getSeq[Long](0)
    val b = df.select(Keys.bandHashes(Keys.minhashSignature(col("hh"), 16), 4, 4).as("v"))
      .first().getSeq[Long](0)
    assert(a == b)
    // lane mixing really varies by lane: 16 distinct signature values
    val sig = df.select(Keys.minhashSignature(col("hh"), 16).as("v")).first().getSeq[Long](0)
    assert(sig.distinct.size > 8, s"lanes should differ: $sig")
    df.unpersist()
  }

  test("hammingBands: pigeonhole guarantee and reconstruction") {
    val x = 0x123456789abcdef0L
    // flipping r < bands bits leaves ≥ 1 band untouched
    val y = x ^ (1L << 3) ^ (1L << 40) ^ (1L << 63) // 3 flips
    val bx = one(Keys.hammingBands(lit(x), 8)).getSeq[Long](0)
    val by = one(Keys.hammingBands(lit(y), 8)).getSeq[Long](0)
    assert(bx.zip(by).count { case (a, b) => a == b } >= 8 - 3)
    assert(one(Keys.hammingDist(lit(x), lit(y))).getInt(0) == 3)
    // bands reassemble to the original value
    val rebuilt = bx.zipWithIndex.map { case (v, i) => v << (i * 8) }.reduce(_ | _)
    assert(rebuilt == x)
  }

  test("simhash: identical texts collide, near texts are close, far texts far") {
    val df = Seq(
      ("a", "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16 w17 w18 w19 w20"),
      ("b", "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16 w17 w18 w19 w20"),
      ("c", "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16 w17 w18 w19 zz"),
      ("d", "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10 q11 q12 q13 q14 q15 q16 q17 q18 q19 q20")
    ).toDF("id", "t").select(col("id"), Keys.simhash(col("t")).as("s"))
    val m = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def hd(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(m("a") == m("b"))
    assert(hd(m("a"), m("c")) < hd(m("a"), m("d")),
      s"near pair ${hd(m("a"), m("c"))} should beat far pair ${hd(m("a"), m("d"))}")
    assert(hd(m("a"), m("c")) <= 12)
  }

  test("jaccardInterUnion exact counts") {
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
    val (i, u) = Keys.jaccardInterUnion(col("x"), col("y"))
    val r = df.select(i.as("i"), u.as("u")).first()
    assert(r.getInt(0) == 2 && r.getInt(1) == 4)
  }

  test("hasShingles (the rep-collapse `_sig` flag) holds exactly when shingleLshUdf shingles") {
    // separators the normalization collapses (spaces, tabs, newlines,
    // vertical tab) and characters it keeps inside a token (NBSP, control
    // characters), around 0..k+1 tokens
    val seps = Seq(" ", "  ", "\t", " \t\n ", "\u000b", "\u00a0", "\u0001", "\u001c")
    val texts: Seq[String] = Seq(null, "", " ", "   ", "\t", "\t \n\r ", "\u00a0", "\u0001",
      "\u0001 \u0002 \u0003", " a b c ", "A  B\r\nC") ++
      (for (n <- 0 to 5; sep <- seps; pad <- Seq("", " ", "\t"))
        yield pad + (1 to n).map(i => s"w$i").mkString(sep) + pad)
    for (k <- 1 to 4) {
      val udf = Keys.shingleLshUdf(k, 16, 4)
      val got = texts.toDF("t").select(col("t"), Keys.normCaption(col("t")).as("_nc"))
        .select(col("t"), coalesce(graft.candidates.Candidates.hasShingles(col("_nc"), k),
                                   lit(false)),
                size(udf(col("_nc"))("_1")) > 0)
        .as[(String, Boolean, Boolean)].collect()
      val wrong = got.filter { case (_, sig, shingled) => sig != shingled }
      assert(wrong.isEmpty, s"k $k: flag and UDF disagree on ${wrong.map(_._1).toSeq}")
      assert(got.exists(_._2) && got.exists(!_._2), s"k $k: both outcomes are covered")
    }
  }

  test("shingleLshUdf: band matches follow the LSH S-curve, 16·J⁴ at J 0.85 and 0.6") {
    // per pair: a shared run of random tokens and a private tail on each
    // side, so the 3-shingle Jaccard is exact: shared / (shared + 2·tail)
    val rng = new scala.util.Random(20261019L)
    def word() = rng.alphanumeric.filter(_.isLetter).take(8).mkString.toLowerCase
    def pairs(run: Int, tail: Int, n: Int) = (0 until n).map { _ =>
      val shared = Seq.fill(run)(word())
      ((shared ++ Seq.fill(tail)(word())).mkString(" "),
       (shared ++ Seq.fill(tail)(word())).mkString(" "))
    }
    val udf = Keys.shingleLshUdf(3, 16, 4)
    for ((run, tail, jaccard) <- Seq((36, 3, 0.85), (20, 6, 0.6))) {
      val n = 75
      val got = pairs(run, tail, n).toDF("a", "b")
        .select(udf(col("a")).as("x"), udf(col("b")).as("y"))
        .select(col("x._1"), col("x._2"), col("y._2"))
        .as[(Seq[Long], Seq[Long], Seq[Long])].collect()
      // the verify stage merge-intersects `_shh`: distinct and ascending
      got.foreach { case (shh, _, _) =>
        assert(shh == shh.distinct.sorted && shh.size == run + tail - 2) }
      val shared = got.map { case (_, a, b) => a.zip(b).count { case (x, y) => x == y } }
      val p = math.pow(jaccard, 4)
      val mean = shared.sum.toDouble / n
      val sigma = math.sqrt(16 * p * (1 - p) / n)
      assert(math.abs(mean - 16 * p) <= 3 * sigma,
        f"J $jaccard: mean shared bands $mean%.2f, expected ${16 * p}%.2f ± ${3 * sigma}%.2f")
    }
  }
}
