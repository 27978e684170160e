package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.cluster.ConnectedComponents
import graft.gen.Corpus
import graft.schema.DedupConfig

/** Dev-only micro-profiler for the round-3 bench regressions. */
object RegProfile {
  def time[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val r = body
    println(f"[prof] $name%-36s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val corpus = Corpus.cached(spark, 150, 40)
    println(s"[prof] corpus rows=${corpus.count()}")
    val (edges, _) = Dedup.candidateEdges(
      Dedup.filterRows(corpus, DedupConfig().filter), DedupConfig(), dedup = false)
    val e = edges.localCheckpoint(true)
    println(s"[prof] edges=${e.count()}")
    val cc = time("CC runMapping") {
      val m = ConnectedComponents.runMapping(e)
      m.count()
      m
    }
    println(s"[prof] non-root nodes=${cc.count()} multi-node clusters=${cc.select("cluster_id").distinct().count()}")
    // degree distribution of the edge set
    val deg = e.select(col("id1").as("id")).union(e.select(col("id2").as("id")))
      .groupBy("id").count()
    deg.agg(max("count"), avg("count")).show()
    spark.stop()
  }
}
