package graft.state

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Iceberg-shaped table facade (SURVEY.md §7.6).
  *
  * No Iceberg runtime jar is resolvable in this offline sandbox, so this
  * layer provides the subset of table semantics the north_rule actually
  * exercises — atomic-ish snapshot commits, resumable restart from the last
  * committed snapshot, per-partition lineage + metrics — over plain Parquet
  * plus a JSON snapshot manifest. All engine code goes through this facade;
  * swapping in `iceberg-spark-runtime` is a one-line format change.
  *
  * Layout:  {root}/data/snap-{id}/part-*.parquet
  *          {root}/data/snap-{id}/_schema.json   (schema record)
  *          {root}/_manifest.json   (atomic rename commit)
  *
  * The schema record is the snapshot's Spark schema, written at commit
  * before the manifest moves. Reads pass it to `spark.read.schema`, so
  * opening a snapshot submits no job — inferring it from a parquet footer
  * is a Spark job of its own (~60-100 ms each on a 4-core box). Spark's file
  * listing skips names starting with `_`, so the record is never read as
  * data. A snapshot without one (written before records existed) still
  * reads through inference. */
object TableIO {

  final case class Snapshot(id: Long, parent: Long, rows: Long, stage: String)

  private def manifestPath(root: String) = Paths.get(root, "_manifest.json")

  private def snapDir(root: String, id: Long) = s"$root/data/snap-$id"

  private def schemaPath(root: String, id: Long) = Paths.get(snapDir(root, id), "_schema.json")

  def lastSnapshot(root: String): Option[Snapshot] = {
    val p = manifestPath(root)
    if (!Files.exists(p)) None
    else {
      val s = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      def field(k: String): Option[String] =
        ("\"" + k + "\"\\s*:\\s*([^,}\\s\"]+|\"[^\"]*\")").r
          .findFirstMatchIn(s).map(_.group(1).stripPrefix("\"").stripSuffix("\""))
      for {
        id <- field("id"); parent <- field("parent"); rows <- field("rows")
        stage <- field("stage")
      } yield Snapshot(id.toLong, parent.toLong, rows.toLong, stage)
    }
  }

  /** The schema recorded with snapshot `id` of `root`; None for a snapshot
    * committed before schema records existed. */
  private def recordedSchema(root: String, id: Long): Option[StructType] = {
    val p = schemaPath(root, id)
    if (!Files.exists(p)) None
    else Some(DataType.fromJson(
      new String(Files.readAllBytes(p), StandardCharsets.UTF_8)).asInstanceOf[StructType])
  }

  /** Commit `df` as the next snapshot of table `root`. Writes data to a new
    * snapshot directory, then atomically renames a manifest temp file over
    * the live manifest — readers either see the old snapshot or the new one.
    * Returns the committed snapshot. */
  def commit(df: DataFrame, root: String, stage: String): Snapshot = {
    val parent = lastSnapshot(root).map(_.id).getOrElse(-1L)
    val id = parent + 1
    // row count observed DURING the write (one job) — the old re-read of the
    // just-written parquet was a full second pass per stage commit, at a
    // 100 TB edges snapshot a second scan of the whole table
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("rows"))
      .write.mode(SaveMode.Overwrite).parquet(snapDir(root, id))
    publish(root, Snapshot(id, parent, obs.get("rows").asInstanceOf[Long], stage), df.schema)
  }

  /** Commit an already-written directory of parquet files as the next
    * snapshot of `root`: rename `dir` into place (an absent `dir` is an
    * empty snapshot), then record `schema` and move the manifest, as
    * `commit` does. Lets one partitioned write feed several tables. */
  private[state] def adopt(dir: Path, root: String, stage: String, rows: Long,
                           schema: StructType): Snapshot = {
    val parent = lastSnapshot(root).map(_.id).getOrElse(-1L)
    val id = parent + 1
    val target = Paths.get(snapDir(root, id))
    // a directory here was never published (the manifest names `parent`):
    // the leftover of an interrupted adopt
    deleteRecursively(target)
    Files.createDirectories(target.getParent)
    if (Files.exists(dir)) Files.move(dir, target, StandardCopyOption.ATOMIC_MOVE)
    else Files.createDirectories(target)
    publish(root, Snapshot(id, parent, rows, stage), schema)
  }

  /** Record the schema of the written snapshot `snap`, then make it the
    * live one. */
  private def publish(root: String, snap: Snapshot, schema: StructType): Snapshot = {
    // recorded as a read returns it (file sources read every column as
    // nullable), so snapshots of one table share one record and one scan
    val asRead = StructType(schema.map(_.copy(nullable = true)))
    Files.write(schemaPath(root, snap.id), asRead.json.getBytes(StandardCharsets.UTF_8))
    val json =
      s"""{"id":${snap.id},"parent":${snap.parent},"rows":${snap.rows},"stage":"${snap.stage}"}"""
    val tmp = Paths.get(root, s"_manifest.json.tmp-${snap.id}")
    Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, manifestPath(root), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    snap
  }

  private[state] def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  /** Read the last committed snapshot of `root`, if any. */
  def read(spark: SparkSession, root: String): Option[DataFrame] =
    readLatest(spark, Seq(root))

  /** The last committed snapshots of several tables as one frame: one scan
    * per distinct recorded schema (one in all when the tables share it),
    * unioned by name; None when no table has a snapshot. */
  private[state] def readLatest(spark: SparkSession, roots: Seq[String]): Option[DataFrame] =
    roots.flatMap(r => lastSnapshot(r).map(s => (snapDir(r, s.id), recordedSchema(r, s.id))))
      .groupBy(_._2).toSeq
      .map { case (schema, snaps) =>
        schema.fold(spark.read)(spark.read.schema).parquet(snaps.map(_._1): _*) }
      .reduceOption(_ unionByName _)

  /** Resume-or-compute: if table `root`'s last snapshot was committed by
    * `stage`, reuse it (resumable checkpointed restart); otherwise compute,
    * commit, and return the re-read committed data. This is the engine's
    * per-stage checkpoint boundary — also truncates lineage between pipeline
    * stages, which the iterative stages need. */
  def stageCheckpoint(spark: SparkSession, root: String, stage: String)
                     (compute: => DataFrame): DataFrame = {
    if (!lastSnapshot(root).exists(_.stage == stage)) commit(compute, root, stage)
    read(spark, root).get
  }
}

/** Persistent content-hash cache — the reference HashManager's pickle table
  * (/root/reference/duplicate_files_in_folders/hash_manager.py:49-158):
  * columns (image_id, hash_value, updated_at), TTL-expired rows dropped on
  * save, upsert-by-id on merge. Engine form: MERGE-style union-dedup over
  * the TableIO facade; the anti-join lets a run hash only cache misses
  * (reference X7 adaptive strategy, duplicates_finder.py:164-167).
  *
  * Layout: the cache is HASH-PARTITIONED into `NumParts` independent
  * TableIO tables ({root}/p=k, k = xxhash64(image_id) mod NumParts), each
  * {root}/p=k/data/snap-{id}/part-*.parquet with its schema record and manifest.
  * A merge rewrites ONLY the partitions that contain fresh ids — the old
  * single-table MERGE rewrote the whole cache on every run, O(cache) work
  * for an O(misses) change; at a 100 TB corpus the cache is billions of
  * rows and an incremental run may touch a sliver of them. (A real Iceberg
  * MERGE INTO does the same thing with finer file-level granularity.)
  * Same id always lands in the same partition, so newest-wins dedup stays
  * a per-partition operation.
  *
  * Reads open every partition's latest snapshot in one scan, and a merge
  * is one partitioned write plus a rename per touched partition, so the
  * state layer's job count does not grow with `NumParts`.
  *
  * TTL bookkeeping: the newest `updated_at` ever merged is recorded in
  * {root}/_horizon (atomic rename, like the manifests). Physical pruning
  * happens only when a partition is rewritten; `readAll` applies the
  * horizon filter logically, so an expired row in an untouched partition
  * is never SERVED even though its file still holds it. */
object HashCache {
  val TtlDays = 28 // MAX_CACHE_TIME, hash_manager.py:16
  val NumParts = 16

  private[graft] def partOf(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(xxhash64(c), lit(NumParts)).cast("int")

  private[graft] def partRoot(root: String, p: Int) = s"$root/p=$p"

  private def partRoots(root: String, parts: Seq[Int]) = parts.map(partRoot(root, _))

  private def horizonPath(root: String) = Paths.get(root, "_horizon")

  private val StagingPrefix = "_staging-"

  /** Called with "staged" after a merge's write and "adopted:k" after it
    * adopts partition k — the points at which an interrupted merge must
    * leave the cache readable. A no-op; specs replace it to fail there. */
  @volatile private[graft] var mergeStep: String => Unit = _ => ()

  private def readHorizon(root: String): Option[java.sql.Timestamp] = {
    val p = horizonPath(root)
    if (!Files.exists(p)) None
    else Some(new java.sql.Timestamp(
      new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim.toLong))
  }

  private def writeHorizon(root: String, ts: java.sql.Timestamp): Unit = {
    Files.createDirectories(Paths.get(root))
    // unique temp name: two merges into one root never share a temp file
    val tmp = Paths.get(root, s"_horizon.tmp-${UUID.randomUUID()}")
    Files.write(tmp, ts.getTime.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, horizonPath(root), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Every live (non-expired vs the recorded horizon) cache row, across all
    * partitions; None when the cache has never been written. */
  def readAll(spark: SparkSession, root: String): Option[DataFrame] =
    TableIO.readLatest(spark, partRoots(root, 0 until NumParts)).map { all =>
      readHorizon(root) match {
        case Some(h) => all.where(
          col("updated_at") >= lit(h).cast("timestamp") - expr(s"INTERVAL $TtlDays DAYS"))
        case None => all
      }
    }

  /** Upsert `fresh` (image_id, hash_value, updated_at) into the cache at
    * `root`: newest row per image_id wins; expired rows (older than the TTL
    * relative to the newest updated_at ever merged) are dropped. Only
    * partitions containing fresh ids are rewritten: their current snapshots
    * and the fresh rows go through ONE window + write, partitioned by
    * cache partition into a staging directory under `root`; each output
    * directory is then renamed into its partition as the next snapshot,
    * and the horizon moves last. An interruption leaves every partition at
    * its old or its new snapshot — an id lives in one partition, so no row
    * is lost or doubled — and the next successful merge removes the
    * leftover staging directory, which no read ever opens. Merges into one
    * root are not meant to overlap: each takes its parent's id + 1 and
    * removes every staging directory it finds.
    * Returns Unit: the engine derives its working hash table from
    * hits ∪ fresh directly (see Dedup.runCheckpointed). An empty `fresh` is
    * a no-op.
    *
    * `fresh` is read twice — by the scan for the touched partitions and by
    * the write — and is not persisted here: callers persist and count it
    * first (Dedup.runCheckpointed does), so both reads see the same rows,
    * `current_timestamp()` values included, and neither recomputes them.
    * Three jobs: the scan, the window's exchange, the write. */
  def merge(spark: SparkSession, root: String, fresh: DataFrame): Unit = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val freshP = fresh.withColumn("_p", partOf(col("image_id")))
    // touched partitions and the newest fresh timestamp in ONE job: a fold
    // per task over (partition, updated_at in microseconds, exact), its one
    // row per task collected — (partition bit set, max micros); NumParts
    // ≤ 64, so one long holds the bit set, and it is 0 for a task with no
    // row. A null updated_at touches its partition but no maximum (max()
    // semantics; the TTL filter drops the row); Long.MinValue, below every
    // valid timestamp, stands for "no timestamp seen"
    val folds = freshP.select(col("_p"), unix_micros(col("updated_at")))
      .as[(Int, java.lang.Long)]
      .mapPartitions { rows =>
        var (bits, newest) = (0L, Long.MinValue)
        rows.foreach { case (p, us) =>
          bits |= 1L << p
          if (us != null) newest = math.max(newest, us)
        }
        Iterator((bits, newest))
      }.collect().filter(_._1 != 0L)
    if (folds.isEmpty) return // nothing fresh: no horizon move, no commits
    val bits = folds.map(_._1).reduce(_ | _)
    val touched = (0 until NumParts).filter(p => (bits >>> p & 1L) == 1L)
    val newest = folds.map(_._2).max
    require(newest != Long.MinValue, "fresh rows must carry updated_at")
    val freshMax = DateTimeUtils.toJavaTimestamp(newest)
    val horizon = readHorizon(root) match {
      case Some(h) if h.after(freshMax) => h
      case _ => freshMax
    }
    val unioned = TableIO.readLatest(spark, partRoots(root, touched)) match {
      case Some(existing) =>
        existing.withColumn("_p", partOf(col("image_id"))).unionByName(freshP)
      case None => freshP
    }
    val w = Window.partitionBy("image_id")
      .orderBy(col("updated_at").desc, col("hash_value"))
    val live = unioned
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1).drop("_rn")
      .where(col("updated_at") >=
        lit(horizon).cast("timestamp") - expr(s"INTERVAL $TtlDays DAYS"))
    val staging = Paths.get(root, StagingPrefix + UUID.randomUUID())
    val obs = Observation()
    val perPart = touched.map(p => count(when(col("_p") === p, 1)).as(s"p$p"))
    live.observe(obs, perPart.head, perPart.tail: _*)
      .write.partitionBy("_p").parquet(staging.toString)
    val counts = obs.get
    mergeStep("staged")
    val schema = live.drop("_p").schema
    touched.foreach { p =>
      TableIO.adopt(staging.resolve(s"_p=$p"), partRoot(root, p), "hash_cache",
        counts(s"p$p").asInstanceOf[Long], schema)
      mergeStep(s"adopted:$p")
    }
    writeHorizon(root, horizon)
    // this merge's staging directory and any an interrupted merge left
    val s = Files.list(Paths.get(root))
    try s.filter(_.getFileName.toString.startsWith(StagingPrefix))
      .forEach(d => TableIO.deleteRecursively(d))
    finally s.close()
  }


  /** Hashes for `ids` (image_id) resolved cache-first: (cached hits,
    * miss ids). Caller computes misses and `merge`s them back.
    *
    * TTL is enforced HERE, not only at merge time: an entry older than the
    * TTL (relative to now — the clock the caller's fresh rows will carry)
    * counts as a miss and is re-hashed, exactly like the reference re-hashes
    * expired entries at read time (hash_manager.py:149-157). Serving an
    * expired row as a hit while `merge` later deletes it would silently drop
    * the row from the merged hash table — and from every downstream
    * edge/cluster/action. */
  def lookup(spark: SparkSession, root: String, ids: DataFrame): (DataFrame, DataFrame) = {
    readAll(spark, root) match {
      case None => (ids.limit(0).withColumn("hash_value", lit("")), ids)
      case Some(c) =>
        val live = c.where(
          col("updated_at") >= current_timestamp() - expr(s"INTERVAL $TtlDays DAYS"))
        val hits = ids.join(live.select("image_id", "hash_value"), Seq("image_id"), "inner")
        val misses = ids.join(live.select("image_id"), Seq("image_id"), "left_anti")
        (hits, misses)
    }
  }
}
