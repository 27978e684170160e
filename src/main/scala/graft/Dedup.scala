package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.candidates.Candidates
import graft.cluster.ConnectedComponents
import graft.keys.Keys
import graft.resolve.Resolver
import graft.schema.{DedupConfig, FilterConfig}

/** The engine's main job — reference `find_duplicates_files_v3` +
  * `process_duplicates` (/root/reference/duplicate_files_in_folders/
  * duplicates_finder.py:129-214) re-expressed as one declarative plan:
  *
  *   filter → match key → candidate edges (exact ∪ caption-LSH ∪
  *   pHash-Hamming ∪ containment) → connected components → cluster members
  *   → window-ranked canonical election → actions table
  *
  * All stages are DataFrame transformations; the only materialization points
  * are the CC iterations. Input must carry the §1.2 schema columns
  * (image_id, bytes, fmt, caption, phash, role, mtime).
  */
object Dedup {

  /** Reference `filter_files_by_args` (duplicates_finder.py:54-67): size
    * range + extension whitelist/blacklist. Pure predicate → Catalyst pushes
    * it into the Parquet scan. */
  def filterRows(df: DataFrame, f: FilterConfig): DataFrame = {
    // the size predicate only exists when the range actually constrains:
    // length(bytes) is not pushable into the parquet scan, so a trivially-
    // true range would force every consumer's scan to read the (dominant)
    // byte column just to discard the predicate. Null-byte rows are NOT
    // guarded here (an isNotNull in the shared filter forces every
    // consumer scan — including runCheckpointed's id-only cache-lookup
    // scan — to read the dominant bytes column on any nullable schema);
    // they are dropped at the sites that consume bytes instead, which read
    // the column anyway: see `dropNullBytes` / `featurize`.
    val conds =
      (if (f.minSize > 0L || f.maxSize < Long.MaxValue)
         Seq(length(col("bytes")).between(f.minSize, f.maxSize))
       else Nil) ++
      f.whitelistExt.map(wl => col("fmt").isin(wl.toSeq: _*)) ++
      f.blacklistExt.map(bl => !col("fmt").isin(bl.toSeq: _*))
    conds.reduceOption(_ && _).map(df.where).getOrElse(df)
  }

  /** Null-byte rows never survive into the key groupBy (their null hash
    * fields would compare equal and cluster together) nor into the engine's
    * members/actions output. Applied only where `bytes` is read anyway —
    * on a non-nullable schema Catalyst folds it away entirely. */
  private def dropNullBytes(df: DataFrame): DataFrame =
    if (df.schema.exists(f => f.name == "bytes" && f.nullable))
      df.where(col("bytes").isNotNull)
    else df

  // Candidate sources run as CONCURRENT jobs on the shared session: a small
  // daemon pool submits them; Spark's scheduler interleaves their stages.
  private lazy val sourceEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(4, (r: Runnable) => {
        val t = new Thread(r, "graft-candidate-source"); t.setDaemon(true); t
      }))

  /** One-pass featurization — the ONLY stage that touches `bytes`.
    *
    * Every candidate source previously planned its own scan of the input,
    * and because the size filter predicates on `length(bytes)`, each of
    * those scans decoded the full image-bytes column: ScaleDiag measured
    * the four concurrent sources reading 9.6 GB of input against a 2.6 GB
    * corpus, and in the JIT-hot regime the job is DRAM-bandwidth-bound
    * (task core-seconds inflate 1.9× from 4→16 cores while total CPU work
    * stays flat), so redundant byte traffic costs scaling efficiency
    * directly. This pass reads bytes once, computes the match key (content
    * hash ∥ optional caption/mtime parts), and checkpoints a slim
    * (image_id, key, caption[, phash], role) frame — ~2-5% of the input
    * width — that every downstream source and the flagship members-join
    * consume. At 100 TB this is the difference between one pass over the
    * images and four.
    *
    * `hashCol`: precomputed content-hash column (cache-first path); when
    * absent the hash comes from `bytes` inline. The checkpoint blocks are
    * reclaimed by the ContextCleaner once unreferenced (same lifecycle as
    * every sealed operator output — CacheScope). */
  private[graft] def featurize(filtered: DataFrame, cfg: DedupConfig,
                               hashCol: Option[String] = None): DataFrame = {
    // null-byte guard lives HERE (the scan reads bytes regardless), never
    // in the shared filter — see filterRows. The hashCol branch needs no
    // guard: its input is already inner-joined with the hash table, which
    // only ever holds rows that were hashed from non-null bytes.
    val (src, key) = hashCol match {
      case Some(h) =>
        (filtered,
         Keys.matchKeyFromHash(cfg.key, col(h), col("caption"), col("mtime")))
      case None =>
        (dropNullBytes(filtered),
         Keys.matchKey(cfg.key, col("bytes"), col("caption"), col("mtime")))
    }
    // `iid`: a unique 8-byte surrogate id, frozen by the checkpoint. Every
    // heavy shuffle downstream — band/block/bucket explosions, edge frames,
    // the CC iterations — carries ids in EVERY row, and on this corpus a
    // string image_id costs ~3× the bytes (and a string hash/compare per
    // join probe) of a long. The streaming-bandwidth ceiling is the
    // measured binding constraint at high core counts (HW_CEILING.json:
    // copy scales at 0.80 for 4→16 cores while random-access scales at
    // 1.00), so shuffled bytes convert directly into scaling efficiency.
    // iid values are run-local (partition-indexed); everything user-facing
    // is remapped back to image_id before it leaves the engine.
    //
    // Optional columns are carried only when a consumer can need them:
    // `caption` when the key or any caption-based source uses it, `role`
    // when the input has one (candidateEdges never needs it — requiring it
    // unconditionally broke round 2's public contract; Dedup.run's resolve
    // stage still fails fast with a clear missing-column error if absent).
    val needCaption = !cfg.key.ignoreCaption ||
      cfg.enableCaptionLsh || cfg.enableContainment
    val hasRole = filtered.columns.contains("role")
    val cols = Seq(monotonically_increasing_id().as("iid"),
      col("image_id"), key.as("key")) ++
      (if (needCaption) Seq(col("caption")) else Nil) ++
      (if (hasRole) Seq(col("role")) else Nil) ++
      (if (cfg.enablePhashHamming) Seq(col("phash")) else Nil)
    graft.util.Seal(src.select(cols: _*))
  }

  /** Candidate edges from every enabled source, unioned, over image ids
    * (id1 < id2). Connectivity form: clustering needs only the components,
    * so exact groups arrive as stars and caption-LSH as a per-partition
    * forest (`Candidates.captionLshEdges`) — these edges have the
    * components of every verified near-dup pair, but are not the pair
    * listing itself (the `DocOps` pair operators are).
    * `hashCol`: name of a precomputed content-hash column (cache-first
    * path); when absent the hash is computed inline from `bytes`.
    * Returns (edges(id1,id2), metrics rows).
    *
    * The sources are independent Spark jobs over the shared featurized
    * frame (each operator seals its output eagerly — CacheScope), so
    * they are submitted CONCURRENTLY and the union consumes each as it
    * lands. Serially, total wall-clock is the SUM of every source's
    * barriers and fixed per-stage costs — the dominant term of the
    * measured flat scaling residue (BASELINE.md round 2); concurrently it
    * is their MAX, and the scheduler backfills idle cores of one source's
    * barrier with another source's tasks. */
  /** @param dedup apply a final global `distinct` across sources. The
    *   public contract keeps it true; the clustering pipeline passes false —
    *   ConnectedComponents contracts duplicates away in its first pass, so
    *   a union-level distinct there is a full shuffle of the edge set for
    *   nothing. */
  def candidateEdges(df: DataFrame, cfg: DedupConfig,
                     hashCol: Option[String] = None,
                     dedup: Boolean = true): (DataFrame, DataFrame) = {
    val features = featurize(df, cfg, hashCol)
    val (e, m) = candidateEdgesFromFeatures(features, cfg, dedup = false)
    // public contract: edges over image ids, id1 < id2 — remap the run-local
    // surrogate ids back (two slim long-keyed joins) and re-orient, since
    // iid order is not image_id order
    val ids = features.select(col("iid"), col("image_id"))
    val named = e
      .join(ids.select(col("iid").as("id1"), col("image_id").as("_n1")), "id1")
      .join(ids.select(col("iid").as("id2"), col("image_id").as("_n2")), "id2")
      .select(least(col("_n1"), col("_n2")).as("id1"),
              greatest(col("_n1"), col("_n2")).as("id2"))
    (if (dedup) named.distinct() else named, m)
  }

  /** Candidate edges over an already-featurized slim frame (see
    * `featurize`): (edges(id1,id2) over SURROGATE iids, metrics). */
  private[graft] def candidateEdgesFromFeatures(
      features: DataFrame, cfg: DedupConfig,
      dedup: Boolean = true): (DataFrame, DataFrame) = {
    val spark = features.sparkSession
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext = sourceEc
    val keyed = features
    def srcMetrics(name: String, m: DataFrame): DataFrame =
      m.select(lit(name).as("source"), col("salted_buckets"), col("salt_groups"))
    // each source tags its jobs (thread-local; SQLExecution propagates it
    // into AQE stage-materialization jobs) so listeners/UIs can attribute
    // every stage to its candidate source
    def tagged[A](name: String)(body: => A): A =
      graft.util.JobDescription.tagged(spark.sparkContext, s"graft:source:$name")(body)
    val tasks: Seq[Future[(DataFrame, Option[DataFrame])]] = Seq(
      Future { tagged("exact") {
        (graft.util.Seal(Candidates.exactEdges(keyed, "iid", "key")), None)
      }}) ++
      (if (cfg.enableCaptionLsh) Seq(Future { tagged("caption_lsh") {
        // captionLshEdges output is already sealed by its own CacheScope
        val (e, m) = Candidates.captionLshEdges(features, "iid", "caption", cfg.near)
        (e, Some(srcMetrics("caption_lsh", m)))
      }}) else Nil) ++
      (if (cfg.enablePhashHamming) Seq(Future { tagged("phash_hamming") {
        // phashHammingEdges output is already sealed by its own CacheScope
        val (e, m) = Candidates.phashHammingEdges(features, "iid", "phash", cfg.near)
        (e, Some(srcMetrics("phash_hamming", m)))
      }}) else Nil) ++
      (if (cfg.enableContainment) Seq(Future { tagged("containment") {
        // containmentEdges is already sealed (eager) by its CacheScope
        (Candidates.containmentEdges(features, "iid", "caption", cfg.near), None)
      }}) else Nil)
    val results = Await.result(Future.sequence(tasks), Duration.Inf)
    val edges = results.map(_._1).reduce(_ unionByName _)
    val metrics = results.flatMap(_._2).foldLeft(
      Seq.empty[(String, Long, Long)].toDF("source", "salted_buckets", "salt_groups"))(
      _ unionByName _)
    val out = edges.select("id1", "id2")
    (if (dedup) out.distinct() else out, metrics)
  }

  /** Full clustering: every (filtered) row tagged with its duplicate
    * cluster id (= min image_id of the connected component; singletons map
    * to themselves). */
  def clusterMembers(df: DataFrame, cfg: DedupConfig): DataFrame = {
    val filtered = filterRows(df, cfg.filter)
    val (edges, _) = candidateEdges(filtered, cfg, dedup = false)
    // mapping-only CC: roots/singletons are absent and coalesce to
    // themselves below — skips the node-universe union-distinct, its count
    // barrier, and the final universe join (flat per-run jobs at scale)
    val cc = ConnectedComponents.runMapping(edges)
    // dropNullBytes: this contract carries every input column (bytes is in
    // the output scan anyway), and null-byte rows are excluded from the
    // engine everywhere — featurize already kept them out of `edges`
    dropNullBytes(filtered)
      .join(cc.withColumnRenamed("id", "image_id"), Seq("image_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("image_id")))
  }

  /** End-to-end: actions table (image_id, role, cluster_id, disposition,
    * target). The reference's dry-run semantics (file_manager.py:121-127):
    * this table is always a *plan*; applying it is a separate commit step.
    *
    * Unlike `clusterMembers` (whose contract carries every input column,
    * bytes included), the actions table needs only (image_id, role,
    * cluster_id) — so the members side here joins the slim featurized
    * frame, and the whole job scans the image bytes exactly once. */
  def run(df: DataFrame, cfg: DedupConfig = DedupConfig()): DataFrame = {
    val filtered = filterRows(df, cfg.filter)
    val features = featurize(filtered, cfg)
    val (edges, _) = candidateEdgesFromFeatures(features, cfg, dedup = false)
    val cc = ConnectedComponents.runMapping(edges)
    // surrogate-id components → the public cluster naming (min image_id of
    // the component, singletons to themselves): one groupBy + join over the
    // slim members frame restores the exact string semantics while the
    // whole candidate/CC machinery above shuffled 8-byte ids
    val m = features.select(col("iid"), col("image_id"), col("role"))
      .join(cc.withColumnRenamed("id", "iid"), Seq("iid"), "left")
      .withColumn("_cid", coalesce(col("cluster_id"), col("iid")))
    val names = m.groupBy("_cid").agg(min("image_id").as("_cname"))
    val members = m.join(names, "_cid")
      .select(col("image_id"), col("role"), col("_cname").as("cluster_id"))
    Resolver.resolve(members, cfg.resolve)
  }

  /** Dup-pair view of the clustering (for recall metrics): all intra-cluster
    * pairs of a members frame — only for small evaluation corpora. */
  def clusterPairs(members: DataFrame): DataFrame = {
    val a = members.select(col("cluster_id"), col("image_id").as("id1"))
    val b = members.select(col("cluster_id"), col("image_id").as("id2"))
    a.join(b, "cluster_id").where(col("id1") < col("id2")).select("id1", "id2")
  }

  /** Checkpointed end-to-end run — the north_rule's "resumable from
    * checkpoint with per-partition lineage + metrics": every stage boundary
    * commits a snapshot under `stateRoot` (TableIO §7.6 facade — swap for
    * Iceberg where a runtime jar exists); a restarted run resumes from the
    * last committed stage instead of recomputing (reference analogue: the
    * persistent hash cache made rehashing incremental, hash_manager.py:
    * 112-158). A `metrics` table row per stage records row counts +
    * candidate-source stats for lineage. */
  def runCheckpointed(df: DataFrame, cfg: DedupConfig, stateRoot: String,
                      cacheRoot: Option[String] = None): DataFrame = {
    val spark = df.sparkSession
    import graft.state.{HashCache, TableIO}
    // cache namespaced by hash kind: a partial-prefix hash and a full-content
    // hash of the same image are DIFFERENT match keys — one shared table
    // would silently serve one as the other across runs with different
    // cfg.key.fullHash (reference keeps separate cache files per kind,
    // hash_manager.py:45-46).
    val hashKind = if (cfg.key.fullHash) "full" else "partial"
    val hashCacheRoot = s"${cacheRoot.getOrElse(s"$stateRoot/hash_cache")}/$hashKind"
    val filtered = filterRows(df, cfg.filter)
    var scratch = List.empty[DataFrame] // persisted frames released post-commit
    // released in a finally: a stage that throws must not leak them into
    // the caller's session
    val edges = try TableIO.stageCheckpoint(spark, s"$stateRoot/edges", "edges") {
      // Cache-first hashing (reference X7 adaptive strategy +
      // hash_manager.py:112-158): re-runs hash ONLY cache misses — at
      // 100 TB this is the difference between re-reading every byte and a
      // cheap id-keyed join against last run's hash table.
      val ids = filtered.select("image_id")
      val (hits0, missIds) = HashCache.lookup(spark, hashCacheRoot, ids)
      val hits = hits0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // persisted BEFORE the count: `fresh` is read twice (metrics count +
      // cache merge) and feeds the downstream key join — without the persist
      // every consumer re-reads and re-sha2s the missed bytes, doubling the
      // dominant IO of a cold run. dropNullBytes here (this scan reads
      // bytes anyway): null-byte rows are lookup misses that must never be
      // hashed into the cache — see filterRows.
      val fresh = dropNullBytes(filtered.join(missIds, Seq("image_id"), "left_semi"))
        .select(col("image_id"),
                Keys.contentHash(col("bytes"), cfg.key.fullHash).as("hash_value"),
                current_timestamp().as("updated_at"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      scratch = hits :: fresh :: scratch
      val nMisses = fresh.count()
      val nHits = hits.count()
      if (nMisses > 0) HashCache.merge(spark, hashCacheRoot, fresh)
      // the run's working hash table is hits ∪ fresh DIRECTLY — never a
      // re-read of the merged cache: the merge's TTL pass prunes rows
      // relative to the fresh timestamps, and deriving the working set from
      // the post-prune table would drop any row whose only entry aged out
      // in this very merge (the companion guard to the TTL-aware lookup).
      val allHashes = hits.select("image_id", "hash_value")
        .unionByName(fresh.select("image_id", "hash_value"))
      import spark.implicits._
      TableIO.commit(
        Seq(("cache_hits", nHits), ("hashed_rows", nMisses))
          .toDF("metric", "value"),
        s"$stateRoot/metrics_hash", "hash_metrics")
      val hashed = filtered.join(allHashes, Seq("image_id"))
      // slim per-run row set (image_id, role): the working universe after
      // the null-byte drop. The actions stage joins THIS snapshot instead
      // of re-scanning the (100 TB) input table — resume never touches the
      // raw corpus again, and no stage after this one reads `bytes` at all.
      TableIO.commit(hashed.select("image_id", "role"),
        s"$stateRoot/rows", "rows")
      val (e, m) = candidateEdges(hashed, cfg, hashCol = Some("hash_value"))
      TableIO.commit(m, s"$stateRoot/metrics_candidates", "candidate_metrics")
      e
    } finally scratch.foreach(_.unpersist())
    // the clusters stage table holds the NON-ROOT mapping only (roots and
    // singletons coalesce to themselves at read time below) — smaller
    // snapshot, and skips CC's node-universe jobs
    val cc = TableIO.stageCheckpoint(spark, s"$stateRoot/clusters", "clusters") {
      ConnectedComponents.runMapping(edges)
    }
    val actions = TableIO.stageCheckpoint(spark, s"$stateRoot/actions", "actions") {
      // the rows snapshot committed by the edges stage (fallback to the
      // filtered input for state roots written before the snapshot existed)
      val rows = TableIO.read(spark, s"$stateRoot/rows")
        .getOrElse(dropNullBytes(filtered).select("image_id", "role"))
      val members = rows
        .join(cc.withColumnRenamed("id", "image_id"), Seq("image_id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("image_id")))
        .select("image_id", "role", "cluster_id")
      Resolver.resolve(members, cfg.resolve)
    }
    val runMetrics = actions.groupBy("disposition").count()
      .select(lit("disposition").as("metric"), col("disposition").as("key"),
              col("count").as("value"))
    TableIO.commit(runMetrics, s"$stateRoot/metrics_run", "run_metrics")
    actions
  }
}
