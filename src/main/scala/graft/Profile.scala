package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.candidates.Candidates
import graft.cluster.ConnectedComponents
import graft.gen.Corpus
import graft.keys.Keys
import graft.schema.DedupConfig

/** Stage-by-stage wall-clock profile of the flagship pipeline (dev tool).
  *
  * Session config mirrors ScalingBench exactly (AQE on, tmpfs shuffle
  * dirs, 64 MiB broadcast threshold, shuffle partitions = cores) and the
  * process pins its CPU affinity to PROFILE_CPUS, so per-stage times at
  * two core counts attribute the scaling gap measured there.
  * PROFILE_INPUT points at a parquet corpus (e.g. the one ScalingBench
  * leaves on tmpfs) — otherwise PROFILE_CLUSTERS/PROFILE_SKEW generate
  * one. Independent candidate stages clear the session cache afterward
  * so no stage times another stage's persisted intermediates.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("PROFILE_CLUSTERS", "150").toInt
    val skew = sys.env.getOrElse("PROFILE_SKEW", "40").toInt
    val cores = sys.env.getOrElse("PROFILE_CPUS", "8").toInt
    val shmRoot = sys.env.getOrElse("SCALE_LOCAL_DIR", "/dev/shm/spark-graft")
    ScalingBench.pinCpus(cores)
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.local.dir", s"$shmRoot/shuffle")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .config("spark.sql.broadcastTimeout", "3600")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[profile] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }
    val cfg = DedupConfig()
    val corpus = time("input materialize") {
      val c = sys.env.get("PROFILE_INPUT") match {
        case Some(path) => spark.read.parquet(path)
        case None => Corpus.generate(spark, n, skew).toDF()
      }
      val p = c.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      p.count(); p
    }
    val keyed = corpus.withColumn("key",
      Keys.matchKey(cfg.key, col("bytes"), col("caption"), col("mtime")))
    def stage(label: String)(f: => Long): Unit = {
      time(label)(f)
      // drop the stage's internal persists, keep the corpus
      spark.catalog.clearCache()
      corpus.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      corpus.count()
    }
    stage("exact edges")(Candidates.exactEdges(keyed, "image_id", "key").count())
    stage("caption LSH edges")(
      Candidates.captionLshEdges(corpus, "image_id", "caption", cfg.near)._1.count())
    stage("phash hamming edges")(
      Candidates.phashHammingEdges(corpus, "image_id", "phash", cfg.near)._1.count())
    stage("containment edges")(
      Candidates.containmentEdges(corpus, "image_id", "caption", cfg.near).count())
    val edges = time("all edges union distinct") {
      val (e, _) = Dedup.candidateEdges(corpus, cfg)
      e.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).count()
      e
    }
    val cc = time("connected components") {
      val out = ConnectedComponents.runMapping(edges)
      println(s"[profile]   cc non-root nodes=${out.count()}")
      out
    }
    val members = time("members join+persist") {
      val filtered = Dedup.filterRows(corpus, cfg.filter)
      val m = filtered
        .join(cc.withColumnRenamed("id", "image_id"), Seq("image_id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("image_id")))
        .select("image_id", "role", "cluster_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      m.count(); m
    }
    time("resolve only")(graft.resolve.Resolver.resolve(members, cfg.resolve).count())
    spark.catalog.clearCache()
    corpus.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK); corpus.count()
    (1 to 3).foreach { i =>
      time(s"end-to-end fresh $i")(Dedup.run(corpus, cfg).count())
      spark.catalog.clearCache()
      corpus.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK); corpus.count()
    }
    spark.stop()
  }
}
