package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

import graft.state.{HashCache, TableIO}

/** Snapshot table facade + persistent hash cache — resumable checkpointed
  * restarts and the reference HashManager's TTL/upsert semantics
  * (hash_manager.py:58-158). */
class StateSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("graft_state").toString

  test("TableIO: commit → read round-trip, snapshot ids advance, parent chain") {
    val root = tmpDir()
    assert(TableIO.lastSnapshot(root).isEmpty)
    val s0 = TableIO.commit(Seq((1, "a"), (2, "b")).toDF("k", "v"), root, "stage_a")
    assert(s0.id == 0 && s0.parent == -1 && s0.rows == 2)
    val s1 = TableIO.commit(Seq((3, "c")).toDF("k", "v"), root, "stage_b")
    assert(s1.id == 1 && s1.parent == 0)
    val back = TableIO.read(spark, root).get
    assert(back.as[(Int, String)].collect().toSet == Set((3, "c")), "reader sees latest snapshot only")
    assert(TableIO.lastSnapshot(root).get.stage == "stage_b")
  }

  test("stageCheckpoint: recompute skipped on resume (checkpointed restart)") {
    val root = tmpDir()
    var computes = 0
    def job = { computes += 1; Seq((1, 10)).toDF("k", "v") }
    val first = TableIO.stageCheckpoint(spark, root, "edges")(job)
    assert(computes == 1 && first.count() == 1)
    // resume: same stage name ⇒ cached snapshot, zero recompute
    val second = TableIO.stageCheckpoint(spark, root, "edges")(job)
    assert(computes == 1, "resume must not recompute a committed stage")
    assert(second.count() == 1)
    // a different stage recomputes and commits a new snapshot
    TableIO.stageCheckpoint(spark, root, "clusters") { computes += 1; Seq((2, 20)).toDF("k", "v") }
    assert(computes == 2)
    assert(TableIO.lastSnapshot(root).get.stage == "clusters")
  }

  test("HashCache: upsert newest-wins + TTL expiry on merge") {
    val root = tmpDir()
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val tOld = java.sql.Timestamp.valueOf("2023-11-01 00:00:00") // > 28 days before t1
    val t1 = java.sql.Timestamp.valueOf("2024-01-10 00:00:00")
    HashCache.merge(spark, root,
      Seq(("img1", "h1", t0), ("img2", "h2", t0), ("img3", "hOld", tOld))
        .toDF("image_id", "hash_value", "updated_at"))
    HashCache.merge(spark, root,
      Seq(("img1", "h1b", t1)).toDF("image_id", "hash_value", "updated_at"))
    val after = HashCache.readAll(spark, root).get
    val m = after.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m("img1") == "h1b", "newest hash wins the upsert")
    assert(m.get("img2").contains("h2"), "fresh rows survive")
    assert(!m.contains("img3"), "rows older than the 28-day TTL are dropped")
  }

  test("HashCache.lookup: hits from cache, misses to compute (X7 anti-join)") {
    val root = tmpDir()
    val t0 = new java.sql.Timestamp(System.currentTimeMillis()) // within TTL
    HashCache.merge(spark, root,
      Seq(("img1", "h1", t0)).toDF("image_id", "hash_value", "updated_at"))
    val ids = Seq("img1", "imgNew").toDF("image_id")
    val (hits, misses) = HashCache.lookup(spark, root, ids)
    assert(hits.select("image_id").as[String].collect().toSeq == Seq("img1"))
    assert(misses.select("image_id").as[String].collect().toSeq == Seq("imgNew"))
  }

  test("HashCache.lookup: TTL-expired entries are MISSES, not hits") {
    // the reference re-hashes expired entries at read time
    // (hash_manager.py:149-157); serving them as hits while merge later
    // prunes them would drop the row from the merged table entirely
    val root = tmpDir()
    val now = System.currentTimeMillis()
    val fresh = new java.sql.Timestamp(now)
    val expired = new java.sql.Timestamp(now - 60L * 24 * 3600 * 1000) // 60d old
    HashCache.merge(spark, root,
      Seq(("imgFresh", "hF", fresh)).toDF("image_id", "hash_value", "updated_at"))
    // plant the expired row directly into its hash partition (merge itself
    // would prune it)
    val oldRow = Seq(("imgOld", "hO", expired)).toDF("image_id", "hash_value", "updated_at")
    val oldPart = oldRow.select(HashCache.partOf(col("image_id"))).first().getInt(0)
    val partTable = HashCache.partRoot(root, oldPart)
    val withOld = TableIO.read(spark, partTable)
      .map(_.unionByName(oldRow)).getOrElse(oldRow)
    TableIO.commit(withOld, partTable, "hash_cache")
    val ids = Seq("imgFresh", "imgOld").toDF("image_id")
    val (hits, misses) = HashCache.lookup(spark, root, ids)
    assert(hits.select("image_id").as[String].collect().toSeq == Seq("imgFresh"))
    assert(misses.select("image_id").as[String].collect().toSeq == Seq("imgOld"),
      "an entry older than the TTL must be re-hashed, not served stale")
  }

  test("HashCache.merge is incremental: untouched partitions' files are byte-identical") {
    val root = tmpDir()
    val t0 = new java.sql.Timestamp(System.currentTimeMillis())
    // find two ids landing in DIFFERENT hash partitions
    val probe = (0 until 64).map(i => s"img_$i").toDF("image_id")
      .select(col("image_id"), HashCache.partOf(col("image_id")).as("p"))
      .collect().map(r => r.getString(0) -> r.getInt(1))
    val (idA, pA) = probe.head
    val (idB, pB) = probe.find(_._2 != pA).get
    HashCache.merge(spark, root,
      Seq((idA, "hA", t0)).toDF("image_id", "hash_value", "updated_at"))
    def fileDigests(p: Int): Map[String, String] = {
      val dir = java.nio.file.Paths.get(HashCache.partRoot(root, p))
      val md = java.security.MessageDigest.getInstance("MD5")
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(dir)
      try s.filter(java.nio.file.Files.isRegularFile(_)).iterator().asScala.map { f =>
        dir.relativize(f).toString ->
          md.digest(java.nio.file.Files.readAllBytes(f)).map("%02x".format(_)).mkString
      }.toMap
      finally s.close()
    }
    val before = fileDigests(pA)
    // second merge touches only idB's partition
    HashCache.merge(spark, root,
      Seq((idB, "hB", t0)).toDF("image_id", "hash_value", "updated_at"))
    assert(fileDigests(pA) == before,
      s"partition p=$pA held no fresh ids and must not be rewritten")
    val after2 = HashCache.readAll(spark, root).get
    assert(after2.collect().map(r => r.getString(0) -> r.getString(1)).toMap ==
      Map(idA -> "hA", idB -> "hB"), "both merges visible in readAll")
    assert(pA != pB)
  }

  test("HashCache.merge: empty fresh frame is a no-op (no NPE, no horizon move)") {
    // regression: freshMax was read off an empty aggregate (null) and fed
    // into writeHorizon / Timestamp.after → NPE; a never-written cache then
    // blew up on readAll(...).get
    val root = tmpDir()
    val empty = Seq.empty[(String, String, java.sql.Timestamp)]
      .toDF("image_id", "hash_value", "updated_at")
    HashCache.merge(spark, root, empty) // never-written cache
    assert(HashCache.readAll(spark, root).isEmpty, "no partitions committed")
    val t0 = new java.sql.Timestamp(System.currentTimeMillis())
    HashCache.merge(spark, root,
      Seq(("img1", "h1", t0)).toDF("image_id", "hash_value", "updated_at"))
    HashCache.merge(spark, root, empty) // written cache: still a no-op
    val m = HashCache.readAll(spark, root).get
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m == Map("img1" -> "h1"))
  }

  test("HashCache.merge: a null updated_at row is dropped; an all-null frame fails on the driver") {
    val root = tmpDir()
    val t0 = new java.sql.Timestamp(System.currentTimeMillis())
    HashCache.merge(spark, root,
      Seq(("img1", "h1", t0), ("img2", "h2", null))
        .toDF("image_id", "hash_value", "updated_at"))
    val m = HashCache.readAll(spark, root).get
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m == Map("img1" -> "h1"), "the TTL filter drops the null-timestamp row")
    // no timestamp at all: the merge has no horizon to move to
    intercept[IllegalArgumentException](HashCache.merge(spark, root,
      Seq(("img3", "h3", null: java.sql.Timestamp))
        .toDF("image_id", "hash_value", "updated_at")))
    assert(HashCache.readAll(spark, root).get.count() == 1, "the failed merge committed nothing")
  }
}
