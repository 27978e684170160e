package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.{Dedup, SparkEntry}
import graft.candidates.Candidates
import graft.cluster.ConnectedComponents
import graft.gen.Corpus
import graft.keys.Keys
import graft.ops.DocOps
import graft.resolve.Resolver
import graft.schema.{DedupConfig, NearDupConfig}
import graft.state.{HashCache, TableIO}
import graft.util.{CacheScope, Seal}

/** One benchmark workload. `prepare` writes the seed's input under `dir`
  * (set-up); `timed` is the one pipeline call a run measures and writes its
  * output under `out`; `before` / `after` are per-run bookkeeping outside
  * the timed window; `traced` re-composes the same pipeline from the
  * layers' public calls, with a span around each. */
abstract class Workload(val seed: Long) {
  def inputRows: Long
  def prepare(spark: SparkSession, dir: String): Unit
  def before(spark: SparkSession, dir: String, out: String): Unit = ()
  def timed(spark: SparkSession, dir: String, out: String): Unit
  /** Warm-up calls, and the fewest measured calls an invocation makes
    * (README, Noise: the JIT's curve and the host's slow spells). */
  def warmups: Int = 2
  def calls: Int = 3
  /** Warm-up call `i` on the workload's own input. */
  def warm(spark: SparkSession, dir: String, out: String, i: Int): Unit =
    timed(spark, dir, out)
  def after(spark: SparkSession, dir: String, out: String): Map[String, Any] = Map.empty
  def traced(spark: SparkSession, dir: String, out: String, tr: Tracer): Unit
  /** Check artifacts computed once, outside set-up and timing. */
  def finish(spark: SparkSession, dir: String): Map[String, Any] = Map.empty

  protected def write(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)
}

object Workload {
  def apply(name: String, seed: Long): Workload =
    name match {
      case "images_incremental" => new Incremental(seed, clusters = 400, skew = 300)
      case "docs" => new Docs(seed, clusters = 400)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }

  val cfg: DedupConfig = DedupConfig()

  /** The flagship's candidate sources, one span each (the engine runs them
    * as concurrent jobs; here they run one after another so every job and
    * task belongs to exactly one layer). Returns the unioned iid edges and
    * the sources' metrics rows, as `Dedup.candidateEdgesFromFeatures`
    * builds them. */
  def candidates(tr: Tracer, features: DataFrame): (DataFrame, DataFrame) = {
    import features.sparkSession.implicits._
    val exact = tr.span("cand.exact") {
      Seal(Candidates.exactEdges(features, "iid", "key"))
    }
    val (lsh, lshM) = tr.span("cand.caption_lsh") {
      Candidates.captionLshEdges(features, "iid", "caption", cfg.near)
    }
    val (ph, phM) = tr.span("cand.phash_hamming") {
      Candidates.phashHammingEdges(features, "iid", "phash", cfg.near)
    }
    val cont = tr.span("cand.containment") {
      Candidates.containmentEdges(features, "iid", "caption", cfg.near)
    }
    tr.aside {
      val rows = features.count().toDouble
      tr.note("featurize.rows_out", rows)
      for ((name, e) <- Seq("exact" -> exact, "caption_lsh" -> lsh,
                            "phash_hamming" -> ph, "containment" -> cont)) {
        val n = e.count().toDouble
        tr.note(s"cand.$name.rows_out", n)
        tr.note(s"cand.$name.edges_per_row", n / math.max(1.0, rows))
      }
      for ((name, m) <- Seq("caption_lsh" -> lshM, "phash_hamming" -> phM)) {
        val r = m.agg(coalesce(sum("salted_buckets"), lit(0L)),
                      coalesce(sum("salt_groups"), lit(0L))).first()
        tr.note(s"cand.$name.salted_buckets", r.getLong(0).toDouble)
        tr.note(s"cand.$name.salt_groups", r.getLong(1).toDouble)
      }
    }
    val metrics = Seq("caption_lsh" -> lshM, "phash_hamming" -> phM)
      .map { case (name, m) =>
        m.select(lit(name).as("source"), col("salted_buckets"), col("salt_groups")) }
      .foldLeft(Seq.empty[(String, Long, Long)]
        .toDF("source", "salted_buckets", "salt_groups"))(_ unionByName _)
    (Seq(exact, lsh, ph, cont).map(_.select("id1", "id2")).reduce(_ unionByName _), metrics)
  }
}

/** `Dedup.runCheckpointed` into a fresh state root, against a hash cache
  * pre-built from the first 90% of the corpus's planted clusters. The
  * corpus carries a skew block (one image, `skew` near-identical captions),
  * so the run salts a hot caption-LSH bucket and gives connected components
  * a high-degree star; the skew rows are all cache misses. */
final class Incremental(seed: Long, clusters: Int, skew: Int) extends Workload(seed) {
  import Workload.cfg
  private val prefix = clusters / 10 * 9
  private var rows = 0L
  private var missBytes = 0L
  def inputRows: Long = rows

  def prepare(spark: SparkSession, dir: String): Unit = {
    write(Corpus.generate(spark, clusters, skew, seed).toDF(), s"$dir/input")
    val all = spark.read.parquet(s"$dir/input")
    rows = all.count()
    missBytes = all.where(col("truth_cluster") >= prefix)
      .agg(sum(length(col("bytes")))).first().getLong(0)
  }

  private def hashKind = if (cfg.key.fullHash) "full" else "partial"

  private def input(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/input").drop("truth_cluster")

  override def before(spark: SparkSession, dir: String, out: String): Unit =
    if (new java.io.File(s"$dir/cache").exists) Box.copyDir(s"$dir/cache", s"$out/cache")

  def timed(spark: SparkSession, dir: String, out: String): Unit =
    Dedup.runCheckpointed(input(spark, dir), cfg, s"$out/state", Some(s"$out/cache")): Unit

  override def after(spark: SparkSession, dir: String, out: String): Map[String, Any] = {
    val written = Box.dirBytes(s"$out/state") + Box.dirBytes(s"$out/cache") -
      Box.dirBytes(s"$dir/cache")
    val hashStats = TableIO.read(spark, s"$out/state/metrics_hash").get.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Map("state_write_bytes" -> written, "miss_bytes" -> missBytes,
        "cache_hits" -> hashStats.getOrElse("cache_hits", -1L),
        "hashed_rows" -> hashStats.getOrElse("hashed_rows", -1L))
  }

  /** The first warm-up call builds the hash cache: it is the earlier run,
    * `Dedup.runCheckpointed` over the first `prefix` planted clusters
    * (pure in seed and cluster, so they ARE the smaller corpus of that run)
    * with an empty cache. The second is `Dedup.run` on the full input: it
    * warms the salted hot-bucket path the prefix lacks, and its actions are
    * the reference the measured runs are checked against. Later ones are
    * the measured call itself. */
  override def warmups: Int = 3
  override def calls: Int = 2
  override def warm(spark: SparkSession, dir: String, out: String, i: Int): Unit =
    i match {
      case 0 =>
        val earlier = spark.read.parquet(s"$dir/input")
          .where(col("truth_cluster") < prefix).drop("truth_cluster")
        Dedup.runCheckpointed(earlier, cfg, s"$out/state", Some(s"$dir/cache")): Unit
      case 1 => write(Dedup.run(input(spark, dir), cfg), s"$dir/reference_actions")
      case _ => timed(spark, dir, out)
    }

  override def finish(spark: SparkSession, dir: String): Map[String, Any] =
    Map("expected_cache_hits" ->
          spark.read.parquet(s"$dir/input").where(col("truth_cluster") < prefix).count(),
        "expected_hashed_rows" ->
          spark.read.parquet(s"$dir/input").where(col("truth_cluster") >= prefix).count())

  /** Mirror of `Dedup.runCheckpointed` on a fresh state root. It makes the
    * same jobs as the engine, plus one result job for each `extraSeal`;
    * `perfbench/run.py` fails a traced run whose job count says otherwise. */
  def traced(spark: SparkSession, dir: String, out: String, tr: Tracer): Unit = {
    val stateRoot = s"$out/state"
    val cacheRoot = s"$out/cache/$hashKind"
    import spark.implicits._
    tr.span("pipeline") {
      val filtered = Dedup.filterRows(input(spark, dir), cfg.filter)
      val (hits, missIds, nHits) = tr.span("state.hash_lookup") {
        val (h0, m) = HashCache.lookup(spark, cacheRoot, filtered.select("image_id"))
        val h = h0.persist(StorageLevel.MEMORY_AND_DISK)
        (h, m, h.count())
      }
      val (fresh, nMisses) = tr.span("featurize") {
        val missed = filtered.join(missIds, Seq("image_id"), "left_semi")
        // the engine's dropNullBytes (private to Dedup)
        val nonNull =
          if (missed.schema.exists(f => f.name == "bytes" && f.nullable))
            missed.where(col("bytes").isNotNull)
          else missed
        val f = nonNull
          .select(col("image_id"),
                  Keys.contentHash(col("bytes"), cfg.key.fullHash).as("hash_value"),
                  current_timestamp().as("updated_at"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        (f, f.count())
      }
      if (nMisses > 0)
        tr.span("state.hash_merge") { HashCache.merge(spark, cacheRoot, fresh) }
      val allHashes = hits.select("image_id", "hash_value")
        .unionByName(fresh.select("image_id", "hash_value"))
      val hashed = filtered.join(allHashes, Seq("image_id"))
      tr.span("state.commit") {
        TableIO.commit(Seq(("cache_hits", nHits), ("hashed_rows", nMisses))
          .toDF("metric", "value"), s"$stateRoot/metrics_hash", "hash_metrics")
        TableIO.commit(hashed.select("image_id", "role"), s"$stateRoot/rows", "rows")
      }
      val features = tr.span("featurize") { Dedup.featurize(hashed, cfg, Some("hash_value")) }
      val (iidEdges, candMetrics) = Workload.candidates(tr, features)
      // mirror of candidateEdges' remap from run-local iids to image ids
      val named = tr.span("naming") {
        val ids = features.select(col("iid"), col("image_id"))
        tr.extraSeal(iidEdges
          .join(ids.select(col("iid").as("id1"), col("image_id").as("_n1")), "id1")
          .join(ids.select(col("iid").as("id2"), col("image_id").as("_n2")), "id2")
          .select(least(col("_n1"), col("_n2")).as("id1"),
                  greatest(col("_n1"), col("_n2")).as("id2"))
          .distinct())
      }
      val edges = tr.span("state.commit") {
        TableIO.commit(candMetrics, s"$stateRoot/metrics_candidates", "candidate_metrics")
        TableIO.stageCheckpoint(spark, s"$stateRoot/edges", "edges")(named)
      }
      hits.unpersist(); fresh.unpersist()
      val cc = tr.span("cc") { ConnectedComponents.runMapping(edges) }
      val ccT = tr.span("state.commit") {
        TableIO.stageCheckpoint(spark, s"$stateRoot/clusters", "clusters")(cc)
      }
      val actions = tr.span("resolve") {
        val members = TableIO.read(spark, s"$stateRoot/rows").get
          .join(ccT.withColumnRenamed("id", "image_id"), Seq("image_id"), "left")
          .withColumn("cluster_id", coalesce(col("cluster_id"), col("image_id")))
          .select("image_id", "role", "cluster_id")
        tr.extraSeal(Resolver.resolve(members, cfg.resolve))
      }
      tr.span("state.commit") {
        val a = TableIO.stageCheckpoint(spark, s"$stateRoot/actions", "actions")(actions)
        TableIO.commit(a.groupBy("disposition").count()
          .select(lit("disposition").as("metric"), col("disposition").as("key"),
                  col("count").as("value")), s"$stateRoot/metrics_run", "run_metrics")
      }
      tr.aside {
        tr.note("state.hash_lookup.rows_out", nHits.toDouble)
        tr.note("state.hash_lookup.hit_ratio", nHits.toDouble / math.max(1L, rows))
        tr.note("state.hash_merge.rows_out", nMisses.toDouble)
        tr.note("naming.rows_out", named.count().toDouble)
        tr.note("cc.rows_out", cc.count().toDouble)
        tr.note("resolve.rows_out", actions.count().toDouble)
      }
    }
  }
}

/** The four pair-listing near-dup query surfaces (`ops.DocOps`) over a
  * documents table made of the planted corpus's captions (exact, paraphrase
  * and containment relations). */
final class Docs(seed: Long, clusters: Int) extends Workload(seed) {
  private var rows = 0L
  def inputRows: Long = rows

  val queries: Seq[String] = Seq("q_simhash_pairs",
    "q_minhash_lsh_pairs", "q_containment_pairs", "q_jaccard_pairs")

  // the query surface's near-dup configuration (SparkEntry.docLsh)
  private val docLsh = NearDupConfig(jaccardThreshold = 0.8)

  def prepare(spark: SparkSession, dir: String): Unit = {
    // image_id is img_<cluster:8>_<variant:2>
    val g = substring(col("image_id"), 5, 8).cast("long")
    val v = substring(col("image_id"), 14, 2).cast("long")
    val docs = Corpus.generate(spark, clusters, 0, seed).toDF()
      .select((g * 100 + v).as("doc_id"), col("caption").as("text"),
              element_at(array(lit("en"), lit("es"), lit("zh"), lit("de")),
                         (pmod(g, lit(4)) + 1).cast("int")).as("lang"),
              concat(lit("src"), pmod(g * 7 + v, lit(5)).cast("string")).as("source"),
              length(col("caption")).cast("long").as("n_chars"))
    val tmp = s"$dir/docs_tmp"
    write(docs.coalesce(1), tmp)
    val part = new java.io.File(tmp).listFiles().find(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    val target = new java.io.File(s"$dir/docs/documents.parquet")
    target.getParentFile.mkdirs()
    target.delete()
    java.nio.file.Files.move(part.toPath, target.toPath)
    Box.deleteDir(tmp)
    rows = spark.read.parquet(target.getPath).count()
  }

  def timed(spark: SparkSession, dir: String, out: String): Unit =
    queries.foreach { q =>
      write(SparkEntry.queries(q)(spark, s"$dir/docs"), s"$out/$q")
      CacheScope.flushDeferred()
    }

  override def finish(spark: SparkSession, dir: String): Map[String, Any] =
    Map("oracle_sql" -> queries.map(q => q -> SparkEntry.oracleSql(q)).toMap)

  def traced(spark: SparkSession, dir: String, out: String, tr: Tracer): Unit = {
    graft.util.Tuning.queryTuned(spark)
    // like each query surface, each call reads the table itself (reading
    // a parquet schema is a job of its own)
    def pairs(layer: String, q: String)(query: DataFrame => DataFrame): Unit = {
      tr.span(layer) {
        write(query(spark.read.parquet(s"$dir/docs/documents.parquet")), s"$out/$q")
        CacheScope.flushDeferred()
      }
      tr.aside { tr.note(s"$layer.rows_out", spark.read.parquet(s"$out/$q").count().toDouble) }
    }
    // mirror of the four query surfaces, in the order `timed` runs them
    tr.span("pipeline") {
      pairs("ops.simhash", "q_simhash_pairs") {
        DocOps.simhashPairs(_, "doc_id", "text", docLsh).orderBy("doc1", "doc2") }
      pairs("ops.minhash_lsh", "q_minhash_lsh_pairs") {
        DocOps.minhashLshPairs(_, "doc_id", "text", docLsh).orderBy("doc1", "doc2") }
      pairs("ops.containment", "q_containment_pairs") {
        DocOps.containmentPairs(_, "doc_id", "text", 3).orderBy("short_id", "long_id") }
      pairs("ops.jaccard", "q_jaccard_pairs") {
        DocOps.jaccardPairs(_, "doc_id", "text", 3, 80).orderBy("doc1", "doc2") }
    }
  }
}
