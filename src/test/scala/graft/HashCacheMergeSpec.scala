package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.gen.Corpus
import graft.schema.DedupConfig
import graft.state.{HashCache, TableIO}

/** The hash cache's one-write merge and one-scan reads: an interrupted
  * merge leaves a readable cache and a re-run that matches an uninterrupted
  * one; the state layer's job count does not grow with the partitions it
  * touches; snapshots without a schema record (older layout) still read
  * and merge. */
class HashCacheMergeSpec extends SparkSpec {
  import spark.implicits._
  import SparkSpec.copyDir

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def stagingDirs(root: String): Seq[Path] = {
    val s = Files.list(Paths.get(root))
    try s.iterator().asScala.filter(_.getFileName.toString.startsWith("_staging-")).toList
    finally s.close()
  }

  private def horizon(root: String): String =
    new String(Files.readAllBytes(Paths.get(root, "_horizon")), "UTF-8")

  /** (image_id, hash_value) rows `readAll` serves, in id order. */
  private def cacheRows(root: String): Seq[(String, String)] =
    HashCache.readAll(spark, root).get.select("image_id", "hash_value")
      .as[(String, String)].collect().toSeq.sortBy(_._1)

  private def partitionOf(ids: Seq[String]): Map[String, Int] =
    ids.toDF("image_id").select(col("image_id"), HashCache.partOf(col("image_id")))
      .as[(String, Int)].collect().toMap

  private def frame(rows: Seq[(String, String)], at: java.sql.Timestamp) =
    rows.map { case (id, h) => (id, h, at) }.toDF("image_id", "hash_value", "updated_at")

  /** Runs `body` with merges failing at the first step `at` accepts. */
  private def failingAt(at: String => Boolean)(body: => Unit): Unit = {
    HashCache.mergeStep = step =>
      if (at(step)) throw new IllegalStateException(s"injected fault at $step")
    try {
      val e = intercept[IllegalStateException](body)
      assert(e.getMessage.startsWith("injected fault"))
    } finally HashCache.mergeStep = _ => ()
  }

  /** Fails at the second partition adoption: some partitions adopted, not all. */
  private def secondAdoption: String => Boolean = {
    val adopted = new AtomicInteger
    step => step.startsWith("adopted:") && adopted.incrementAndGet() == 2
  }

  private def jobsIn(body: => Unit): Int = JobKit.jobsIn(spark)(body)

  // 96 ids over all 16 partitions
  private val ids = (0 until 96).map(i => f"img_$i%03d")

  test("an interrupted merge loses no row, doubles none, keeps the horizon; the next merge cleans up") {
    val root = tmpDir("graft_merge_fault") + "/cache"
    val now = System.currentTimeMillis()
    val t0 = new java.sql.Timestamp(now - 3600L * 1000)
    val t1 = new java.sql.Timestamp(now)
    val old = ids.take(64).map(id => id -> s"a_$id")
    HashCache.merge(spark, root, frame(old, t0))
    val horizon0 = horizon(root)
    val fresh = ids.drop(32).map(id => id -> s"b_$id") // 32 updates, 32 new ids
    val before = old.toMap
    val after = before ++ fresh
    val part = partitionOf(ids)
    def byPart(m: Map[String, String]) = m.toSeq.groupBy(r => part(r._1)).map {
      case (p, rs) => p -> rs.toMap }

    // 1. after the staging write: nothing adopted, staging left behind
    failingAt(_ == "staged") { HashCache.merge(spark, root, frame(fresh, t1)) }
    assert(cacheRows(root) == old.sortBy(_._1), "a staged, unadopted merge is invisible")
    assert(horizon(root) == horizon0, "the horizon moves only after every adoption")
    val leftover = stagingDirs(root)
    assert(leftover.size == 1, "the failed merge leaves its staging directory")

    // 2. after the second adoption: two partitions new, every other one old
    failingAt(secondAdoption) { HashCache.merge(spark, root, frame(fresh, t1)) }
    val got = cacheRows(root)
    assert(got.map(_._1).distinct.size == got.size, "no image_id is served twice")
    assert(before.keySet.subsetOf(got.map(_._1).toSet), "no pre-existing row is lost")
    // every partition is wholly old or wholly new; the two adopted ones are new
    val gotByPart = byPart(got.toMap)
    val newP = byPart(after).keys.filter(p =>
      gotByPart.getOrElse(p, Map.empty) != byPart(before).getOrElse(p, Map.empty))
    assert(newP.size == 2, s"exactly the adopted partitions are new: $newP")
    newP.foreach(p => assert(gotByPart(p) == byPart(after)(p)))
    assert(horizon(root) == horizon0)
    assert(leftover.forall(Files.exists(_)), "a failed merge removes no staging directory")

    // 3. the next successful merge completes the upsert and removes every leftover
    HashCache.merge(spark, root, frame(fresh, t1))
    assert(cacheRows(root) == after.toSeq.sortBy(_._1))
    assert(stagingDirs(root).isEmpty, "leftover staging directories are removed")
    assert(horizon(root) == t1.getTime.toString)
  }

  test("a re-run after an interrupted merge gives the uninterrupted run's actions") {
    val corpus = Corpus.generate(spark, nClusters = 24, skewCopies = 0).toDF().cache()
    val input = corpus.drop("truth_cluster")
    val cfg = DedupConfig()
    def actions(stateRoot: String, cacheRoot: String) =
      Dedup.runCheckpointed(input, cfg, stateRoot, Some(cacheRoot))
        .select("image_id", "cluster_id", "disposition").as[(String, String, String)]
        .collect().toSet
    // the cache of an earlier run over the first 16 clusters
    val base = tmpDir("graft_fault_base") + "/cache"
    Dedup.runCheckpointed(corpus.where(col("truth_cluster") < 16).drop("truth_cluster"),
      cfg, tmpDir("graft_fault_prefix"), Some(base)).count()
    def cacheCopy(): String = { val c = tmpDir("graft_fault_cache") + "/cache"; copyDir(base, c); c }
    val uninterrupted = actions(tmpDir("graft_fault_ref"), cacheCopy())
    for ((name, at) <- Seq[(String, String => Boolean)](
           "after the staging write" -> (_ == "staged"),
           "after some adoptions" -> secondAdoption)) {
      val (stateRoot, cache) = (tmpDir("graft_fault_run"), cacheCopy())
      failingAt(at) { actions(stateRoot, cache) }
      assert(actions(stateRoot, cache) == uninterrupted,
        s"re-run after a merge interrupted $name must match the uninterrupted run")
      val ids = cacheRows(s"$cache/partial").map(_._1)
      assert(ids.distinct.size == ids.size, s"$name: no image_id is cached twice")
      assert(stagingDirs(s"$cache/partial").isEmpty)
    }
    corpus.unpersist()
  }

  test("job counts: reads submit no job, lookup and merge do not grow with the partitions") {
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    val part = partitionOf(ids)
    assert(part.values.toSet.size == HashCache.NumParts, "the ids cover every partition")
    val onePart = ids.filter(part(_) == part(ids.head))

    // TableIO.read with a recorded schema: no job before an action
    val table = tmpDir("graft_jobs_table")
    val snap = TableIO.commit(Seq((1, "a")).toDF("k", "v"), table, "t")
    assert(jobsIn(TableIO.read(spark, table).get: Unit) == 0)
    Files.delete(Paths.get(table, "data", s"snap-${snap.id}", "_schema.json"))
    assert(jobsIn(TableIO.read(spark, table).get: Unit) >= 1,
      "without the record, the read infers the schema in a job (the spec sees jobs)")

    // lookup hits: a cache with every partition written vs one
    val all = tmpDir("graft_jobs_all") + "/cache"
    HashCache.merge(spark, all, frame(ids.map(id => id -> s"h_$id"), now))
    val one = tmpDir("graft_jobs_one") + "/cache"
    HashCache.merge(spark, one, frame(onePart.map(id => id -> s"h_$id"), now))
    val probe = ids.toDF("image_id")
    def hitJobs(root: String) = jobsIn {
      val (hits, _) = HashCache.lookup(spark, root, probe)
      assert(hits.count() > 0)
    }
    val (lookupAll, lookupOne) = (hitJobs(all), hitJobs(one))
    assert(lookupAll == lookupOne,
      s"lookup over 16 partitions ($lookupAll jobs) vs one ($lookupOne jobs)")

    // merge touching all 16 partitions vs one, into caches with all 16 written
    val (c16, c1) = (tmpDir("graft_jobs_m16") + "/cache", tmpDir("graft_jobs_m1") + "/cache")
    copyDir(all, c16); copyDir(all, c1)
    val later = new java.sql.Timestamp(now.getTime + 1000)
    val merge16 = jobsIn(HashCache.merge(spark, c16, frame(ids.map(id => id -> s"n_$id"), later)))
    val merge1 = jobsIn(HashCache.merge(spark, c1, frame(onePart.map(id => id -> s"n_$id"), later)))
    assert(merge16 == merge1, s"merge touching 16 partitions ($merge16 jobs) vs one ($merge1 jobs)")
    assert(cacheRows(c16).forall(_._2.startsWith("n_")))
    assert(merge16 < HashCache.NumParts)
    // the touched-partition scan, the window's exchange, the write
    assert(merge16 == 3, s"merge ran $merge16 jobs")
    // and so with `fresh` persisted and counted first, as its callers do
    val fresh = frame(ids.map(id => id -> s"p_$id"), new java.sql.Timestamp(now.getTime + 2000))
      .persist()
    fresh.count()
    assert(jobsIn(HashCache.merge(spark, c16, fresh)) == 3)
    assert(cacheRows(c16).forall(_._2.startsWith("p_")))
    fresh.unpersist()
  }

  test("a cache whose snapshots lack the schema record looks up and merges; merged partitions gain it") {
    val root = tmpDir("graft_legacy") + "/cache"
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    HashCache.merge(spark, root, frame(ids.map(id => id -> s"h_$id"), now))
    def record(p: Int): Path = {
      val pr = HashCache.partRoot(root, p)
      Paths.get(pr, "data", s"snap-${TableIO.lastSnapshot(pr).get.id}", "_schema.json")
    }
    // the layout before schema records: drop the record of every even partition
    val legacy = (0 until HashCache.NumParts).filter(_ % 2 == 0)
    legacy.foreach(p => Files.delete(record(p)))

    assert(HashCache.readAll(spark, root).get.columns.toSeq ==
      Seq("image_id", "hash_value", "updated_at"), "mixed snapshots read as the cache's columns")
    val probe = (ids.take(48) ++ Seq("img_new_1", "img_new_2")).toDF("image_id")
    val (hits, misses) = HashCache.lookup(spark, root, probe)
    assert(hits.as[(String, String)].collect().toMap == ids.take(48).map(id => id -> s"h_$id").toMap)
    assert(misses.as[String].collect().toSet == Set("img_new_1", "img_new_2"))

    val part = partitionOf(ids)
    val fresh = ids.filter(id => part(id) % 4 == 0).map(id => id -> s"n_$id") // partitions 0, 4, 8, 12
    HashCache.merge(spark, root, frame(fresh, new java.sql.Timestamp(now.getTime + 1000)))
    assert(cacheRows(root) == (ids.map(id => id -> s"h_$id").toMap ++ fresh).toSeq.sortBy(_._1))
    val touched = fresh.map(r => part(r._1)).toSet
    assert(touched == Set(0, 4, 8, 12))
    touched.foreach(p => assert(Files.exists(record(p)), s"merged partition $p carries a record"))
    legacy.filterNot(touched).foreach(p =>
      assert(!Files.exists(record(p)), s"untouched partition $p is not rewritten"))
  }
}
