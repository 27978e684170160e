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

  test("hammingBands: pigeonhole guarantee and reconstruction") {
    val x = 0x123456789abcdef0L
    // flipping r < bands bits leaves ≥ 1 band untouched
    val y = x ^ (1L << 3) ^ (1L << 40) ^ (1L << 63) // 3 flips
    val bx = one(Keys.hammingBands(lit(x), 8)).getSeq[Long](0)
    val by = one(Keys.hammingBands(lit(y), 8)).getSeq[Long](0)
    assert(java.lang.Long.bitCount(x ^ y) == 3)
    assert(bx.zip(by).count { case (a, b) => a == b } >= 8 - 3)
    // bands reassemble to the original value, for every legal band count
    // (one band: the 64-bit chunk is the whole hash)
    for (bands <- Seq(1, 2, 4, 8, 16, 32, 64)) {
      val width = 64 / bands
      val bs = one(Keys.hammingBands(lit(x), bands)).getSeq[Long](0)
      assert(bs.size == bands)
      val rebuilt = bs.zipWithIndex.map { case (v, i) => v << (i * width) }.reduce(_ | _)
      assert(rebuilt == x, s"bands $bands: ${bs.map(_.toHexString)}")
    }
  }

  test("simhash: identical texts collide, near texts are close, far texts far") {
    // the engine's one SimHash, over the tokens DocOps.simhashPairs feeds it
    val df = Seq(
      ("a", "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16 w17 w18 w19 w20"),
      ("b", "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16 w17 w18 w19 w20"),
      ("c", "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16 w17 w18 w19 zz"),
      ("d", "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10 q11 q12 q13 q14 q15 q16 q17 q18 q19 q20")
    ).toDF("id", "t").select(col("id"), Keys.simhashMd5Udf(Keys.tokens(col("t"))).as("s"))
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

  // separators the normalization collapses (spaces, tabs, newlines,
  // vertical tab) and characters it keeps inside a token (NBSP, control
  // characters), around 0..k+1 tokens
  private lazy val edgeTexts = {
    val seps = Seq(" ", "  ", "\t", " \t\n ", "\u000b", "\u00a0", "\u0001", "\u001c")
    val texts: Seq[String] = Seq(null, "", " ", "   ", "\t", "\t \n\r ", "\u00a0", "\u0001",
      "\u0001 \u0002 \u0003", " a b c ", "A  B\r\nC") ++
      (for (n <- 0 to 5; sep <- seps; pad <- Seq("", " ", "\t"))
        yield pad + (1 to n).map(i => s"w$i").mkString(sep) + pad)
    texts.toDF("t").select(col("t"), Keys.normCaption(col("t")).as("_nc"))
  }

  test("hasShingles (the rep-collapse `_sig` flag) holds exactly when shingleLshUdf shingles") {
    for (k <- 1 to 4) {
      val udf = Keys.shingleLshUdf(k, 16, 4)
      val got = edgeTexts
        .select(col("t"), coalesce(graft.candidates.Candidates.hasShingles(col("_nc"), k),
                                   lit(false)),
                size(udf(col("_nc"))("_1")) > 0)
        .as[(String, Boolean, Boolean)].collect()
      val wrong = got.filter { case (_, sig, shingled) => sig != shingled }
      assert(wrong.isEmpty, s"k $k: flag and UDF disagree on ${wrong.map(_._1).toSeq}")
      assert(got.exists(_._2) && got.exists(!_._2), s"k $k: both outcomes are covered")
    }
  }

  test("shingleHashUdf, sorted, is shingleLshUdf's `_shh`") {
    for (k <- 1 to 4) {
      val got = edgeTexts
        .select(col("t"), Keys.shingleHashUdf(k)(col("_nc")),
                Keys.shingleLshUdf(k, 16, 4)(col("_nc"))("_1"))
        .as[(String, Seq[Long], Seq[Long])].collect()
      val wrong = got.filter { case (_, sh, shh) => sh.sorted != shh }
      assert(wrong.isEmpty, s"k $k: the two UDFs disagree on ${wrong.map(_._1).toSeq}")
      assert(got.exists(_._2.size > 1), s"k $k: some text has several k-grams")
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

  test("shingleLshUdf: lanes miss like independent lanes, (1 − J⁴)¹⁶, at J 35/41") {
    // 200,000 pairs of 40 distinct tokens, one inner token substituted:
    // 38 3-shingles a side, 35 shared, J = 35/41. With independent lanes a
    // pair matches 16·J⁴ ≈ 8.50 bands on average and shares none with
    // probability (1 − J⁴)¹⁶ ≈ 5.5e-6 — 1.09 of 200,000 pairs; correlated
    // lanes would miss far more often
    val n = 200000L
    val udf = Keys.shingleLshUdf(3, 16, 4)
    def token(prefix: String, seed: String) = s"concat('$prefix', cast(xxhash64($seed) AS STRING))"
    val got = spark.range(n)
      .select(expr(s"transform(sequence(0, 39), i -> ${token("w", "id, i, 1441")})").as("a"),
              expr("2 + id % 36").as("p"), col("id"))
      .select(col("a"), expr(s"transform(a, (t, i) -> if(i = p, ${token("x", "id")}, t))").as("b"))
      .select(udf(array_join(col("a"), " ")).as("x"), udf(array_join(col("b"), " ")).as("y"))
      .select(size(array_intersect(col("x._1"), col("y._1"))).as("inter"),
              aggregate(zip_with(col("x._2"), col("y._2"), (u, v) => when(u === v, 1).otherwise(0)),
                        lit(0), _ + _).as("bands"))
      .agg(min("inter"), max("inter"), avg("bands"), sum(when(col("bands") === 0, 1).otherwise(0)))
      .first()
    assert(got.getInt(0) == 35 && got.getInt(1) == 35,
      s"shared shingles ${got.getInt(0)}-${got.getInt(1)}")
    val p = math.pow(35.0 / 41, 4)
    val (mean, misses) = (got.getDouble(2), got.getLong(3))
    assert(math.abs(mean - 16 * p) <= 0.02 * 16 * p,
      f"mean shared bands $mean%.3f, expected ${16 * p}%.3f ± 2%%")
    val expected = n * math.pow(1 - p, 16)
    assert(misses <= 4 * expected, f"$misses pairs share no band, expected $expected%.2f")
  }
}
