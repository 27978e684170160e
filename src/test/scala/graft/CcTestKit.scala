package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.cluster.ConnectedComponents

/** Full connected-components output for specs, over the engine's one entry
  * point `ConnectedComponents.runMapping`: every non-null edge endpoint
  * mapped to its component's minimum id (roots and isolated endpoints to
  * themselves), with the node universe built the way the pipeline does it
  * (left join + `coalesce`). */
object CcTestKit {

  def run(edges: DataFrame): DataFrame = runWithRounds(edges)._1

  /** `run` plus the large-star/small-star rounds CC needed. */
  def runWithRounds(edges: DataFrame): (DataFrame, Int) = {
    val (mapping, rounds) = ConnectedComponents.mappingAndRounds(edges)
    val Seq(a, b) = edges.columns.take(2).toSeq
    val t = edges.schema(a).dataType
    val nodes = edges.select(col(a).as("id"))
      .union(edges.select(col(b).cast(t).as("id")))
      .where(col("id").isNotNull).distinct()
    val full = nodes.join(mapping, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster_id"), col("id")).as("cluster_id"))
    (full, rounds)
  }
}
