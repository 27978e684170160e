package graft

import org.apache.spark.sql.DataFrame

import graft.cluster.ConnectedComponents

/** CC correctness vs an in-memory union-find oracle, plus convergence. */
class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def oracle[T: Ordering](edges: Seq[(T, T)]): Map[T, T] = {
    val parent = scala.collection.mutable.Map[T, T]()
    def find(x: T): T = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    val ord = implicitly[Ordering[T]]
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ord.max(ra, rb)) = ord.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    // canonical root = min member id
    val byRoot = nodes.groupBy(find)
    byRoot.flatMap { case (_, members) =>
      val m = members.min; members.map(_ -> m)
    }.toMap
  }

  private def collectMap[T](df: DataFrame): Map[T, T] =
    df.collect().map(r => r.get(0).asInstanceOf[T] -> r.get(1).asInstanceOf[T]).toMap

  private def ccOf(edges: Seq[(Long, Long)]): (Map[Long, Long], Int) = {
    val (out, rounds) = CcTestKit.runWithRounds(edges.toDF("src", "dst"))
    (collectMap[Long](out), rounds)
  }

  /** `edges` shuffled (seeded) into `parts` input partitions. */
  private def spread[A](edges: Seq[A], parts: Int): Seq[A] =
    new scala.util.Random(parts * 31L + edges.size).shuffle(edges)

  test("chain graph collapses to one component") {
    val edges = (1L until 32L).map(i => (i, i + 1))
    val (got, iters) = ccOf(edges)
    assert(got.values.toSet == Set(1L))
    assert(got.size == 32)
    assert(iters <= 10, s"chain of 32 should converge in O(log n) rounds, took $iters")
  }

  test("disjoint cliques stay separate") {
    val k1 = for (a <- 1L to 5L; b <- (a + 1) to 5L) yield (a, b)
    val k2 = for (a <- 10L to 14L; b <- (a + 1) to 14L) yield (a, b)
    val (got, _) = ccOf(k1 ++ k2)
    assert(got.filter(_._1 < 10L).values.toSet == Set(1L))
    assert(got.filter(_._1 >= 10L).values.toSet == Set(10L))
  }

  test("self loops and duplicate/reversed edges are harmless") {
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 1L), (2L, 3L), (3L, 2L), (7L, 7L))
    val (got, _) = ccOf(edges)
    assert(got(1L) == 1L && got(2L) == 1L && got(3L) == 1L)
    assert(got.get(7L).forall(_ == 7L)) // isolated or absent (caller coalesces)
  }

  test("runMapping equals run minus self-mappings (pipeline contract)") {
    val rng = new scala.util.Random(1717L)
    val n = 50
    val es = Seq.fill(90)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
    val expected = oracle(es.filter(e => e._1 != e._2))
    val mapping = collectMap[Long](ConnectedComponents.runMapping(es.toDF("src", "dst")))
    // the mapping holds exactly the non-root rows of the full clustering…
    assert(mapping == expected.filter { case (id, c) => id != c })
    // …so left-join + coalesce(id) over any node set reconstructs it
    assert(expected.forall { case (id, c) => mapping.getOrElse(id, id) == c })
  }

  test("random graphs match union-find oracle (seeded property test)") {
    val rng = new scala.util.Random(4242L)
    for (_ <- 1 to 4) { // each case is a full distributed CC run
      val n = 2 + rng.nextInt(60)
      val m = 1 + rng.nextInt(120)
      val es = Seq.fill(m)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
      val expected = oracle(es.filter(e => e._1 != e._2))
      val (got, _) = ccOf(es)
      val gotReal = got.filter { case (k, _) => expected.contains(k) }
      assert(gotReal == expected, s"mismatch on edges=$es")
    }
  }

  test("edges spread over 8 partitions run star rounds and match the oracle") {
    // after partition-local contraction, an input whose components each
    // sit in one partition is already a star forest; these do not
    val parts = 8
    def check[T: Ordering](name: String, es: Seq[(T, T)], df: DataFrame): Int = {
      val (out, rounds) = CcTestKit.runWithRounds(df)
      assert(df.rdd.getNumPartitions == parts)
      val expected = oracle(es)
      val (real, others) = collectMap[T](out).partition(r => expected.contains(r._1))
      assert(real == expected, s"$name: mismatch")
      // endpoints of null-id rows only: isolated
      assert(others.forall { case (id, c) => id == c }, s"$name: $others")
      rounds
    }
    val n = 200L
    val asc = (1L until n).map(i => (i, i + 1))
    val ascRounds = check("ascending path", asc,
      spark.sparkContext.parallelize(spread(asc, parts), parts).toDF("src", "dst"))
    assert(ascRounds > 0, "a path cut across partitions needs star rounds")
    assert(ascRounds <= 16, s"O(log n) rounds for a $n-node path, took $ascRounds")
    val desc = asc.map(_.swap)
    assert(check("descending path", desc,
      spark.sparkContext.parallelize(spread(desc, parts), parts).toDF("src", "dst")) > 0)

    val rng = new scala.util.Random(3000L)
    val random = Seq.fill(3000)((rng.nextInt(2000).toLong, rng.nextInt(2000).toLong))
      .filter(e => e._1 != e._2)
    check("random graph", random,
      spark.sparkContext.parallelize(spread(random, parts), parts).toDF("src", "dst"))

    // String ids, permuted along the path so string order is not path order
    def label(i: Long): String = f"s${(i * 7919) % n}%04d"
    val strings = asc.map { case (a, b) => (label(a), label(b)) }
    check("string path", strings,
      spark.sparkContext.parallelize(spread(strings, parts), parts).toDF("src", "dst"))

    // rows with a null id carry no edge
    val withNulls: Seq[(Option[Long], Option[Long])] = random.take(600).zipWithIndex.map {
      case ((a, b), i) =>
        if (i % 7 == 0) (None, Some(b)) else if (i % 11 == 0) (Some(a), None)
        else if (i % 13 == 0) (None, None) else (Some(a), Some(b))
    }
    val nonNull = withNulls.collect { case (Some(a), Some(b)) => (a, b) }
    check("null ids", nonNull,
      spark.sparkContext.parallelize(spread(withNulls, parts), parts).toDF("src", "dst"))
  }

  test("a single-partition input converges in zero rounds") {
    val n = 200L
    val asc = (1L until n).map(i => (i, i + 1))
    val df = spark.sparkContext.parallelize(spread(asc, 8), 1).toDF("src", "dst")
    val (out, rounds) = CcTestKit.runWithRounds(df)
    assert(rounds == 0, s"one partition contracts to stars, took $rounds rounds")
    assert(collectMap[Long](out) == oracle(asc))
  }
}
