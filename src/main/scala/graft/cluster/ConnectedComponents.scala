package graft.cluster

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** Iterative DataFrame connected components — partition-local union-find
  * contraction, then the alternating large-star / small-star algorithm
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC'14) as the global backstop. No GraphX/RDDs.
  *
  *   - Contraction (`localStars`): every partition of the caller's edges is
  *     rewritten in memory into stars on its partition-local component
  *     minima. Dedup graphs are many tiny components, so the contracted
  *     graph is usually already a star forest (reducing locally before the
  *     global exchange — Hyper Dimension Shuffle, VLDB 2019).
  *   - Star-forest test (`starTest`): one `groupBy(src)` over both edge
  *     orientations keeps each node's minimum and maximum neighbour; the
  *     frame is sealed, and an observed metric of that same job counts the
  *     nodes that are neither a root (every neighbour larger) nor a leaf
  *     (one neighbour, smaller). Zero such nodes means every component is a
  *     star on its minimum id, and the leaf rows ARE the mapping.
  *   - Otherwise `roundsPerJob` rounds (three exchanges each: the two star
  *     windows and the round's `distinct`) run in one lazily-sealed batch
  *     that the next test's job materializes — one test job per batch,
  *     O(log n) rounds.
  *
  * The neighbourhood minimum uses a window `min`, never `collect_list`, so
  * a degenerate high-degree node (the skew block's star root) never
  * materializes its adjacency list in one task.
  */
object ConnectedComponents {

  /** Edge count below which `roundsPerJob` auto-resolves to 1 (un-chained
    * rounds). Chaining two rounds per job QUADRUPLES the per-batch logical
    * plan, and per-batch cost is super-linear in plan size on the driver
    * (AQE re-optimizes the whole plan at every exchange materialization).
    * Measured on a 250-edge graph, warm: rpj=1 2.3 s vs rpj=2 4.5 s vs
    * rpj=4 50-145 s — below the threshold the batch is driver-planning-
    * bound and chaining is counterproductive. Above it task execution
    * dominates and chaining halves the materialization barriers (the flat
    * cost that caps scaling efficiency at high core counts — the 4M-image
    * ScalingBench regime, ~2-4M edges, keeps rpj=2). The count is the
    * edge count of the graph the rounds run on (the contracted one). */
  val AutoChainEdges = 1L << 20

  /** Nodes a task's union-find holds before it emits its stars and starts
    * over: bounds the per-task map whatever the partition size. */
  private val FlushNodes = 1 << 16

  /** Cluster mapping for NON-ROOT edge nodes only: (id, cluster_id) for
    * every node that is not its component's minimum. Roots and isolated
    * nodes are ABSENT — callers join with a left join +
    * `coalesce(cluster_id, id)`, which maps them to themselves.
    *
    * @param edges frame whose first two columns (one id type, any
    *   `Comparable` — Long and String in the engine) name an undirected
    *   edge; nulls, self-loops and duplicates are fine.
    * @param roundsPerJob large-star/small-star rounds chained per
    *   materialized batch. Every materialization is a cluster barrier; 0
    *   (default) = adaptive: 1 below `AutoChainEdges` contracted edges,
    *   else 2.
    * @throws IllegalStateException if the rounds have not converged after
    *   `maxIter` rounds (the mapping would be wrong). */
  def runMapping(edges: DataFrame, maxIter: Int = 50,
                 roundsPerJob: Int = 0): DataFrame =
    mappingAndRounds(edges, maxIter, roundsPerJob)._1

  /** `runMapping` plus the number of large-star/small-star rounds it ran
    * (0 when the contracted input was already a star forest). */
  private[graft] def mappingAndRounds(edges: DataFrame, maxIter: Int = 50,
                                      roundsPerJob: Int = 0): (DataFrame, Int) =
    // tag every CC job for stage attribution (listeners, UIs)
    graft.util.JobDescription.tagged(edges.sparkSession.sparkContext, "graft:cc") {
      // lazy seal: the first test's job reads the caller's edges ONCE and
      // builds this frame's blocks as it goes, so a round (if any) reads
      // the contracted graph, never the caller's plan again
      var e = graft.util.Seal(localStars(edges), eager = false)
      val (t0, v0, nEdges) = starTest(e)
      var t = t0
      var violations = v0
      val rpj = if (roundsPerJob > 0) roundsPerJob
                else if (nEdges < AutoChainEdges) 1 else 2
      var rounds = 0
      while (violations > 0) {
        if (rounds >= maxIter)
          throw new IllegalStateException(
            s"connected components did not converge in $maxIter rounds")
        var cur = e
        var r = 0
        while (r < rpj && rounds + r < maxIter) { cur = round(cur); r += 1 }
        // lazy seal: truncates the plan (a persist alone leaves the tree
        // growing exponentially across batches); the test's job builds it
        e = graft.util.Seal(cur, eager = false)
        val (t2, v2, _) = starTest(e)
        t = t2; violations = v2; rounds += r
      }
      (t.where(col("mn") < col("src"))
        .select(col("src").as("id"), col("mn").as("cluster_id")), rounds)
    }

  /** Partition-local union-find contraction: rewrites an edge frame (first
    * two columns, one `Comparable` id type) into stars `(src, dst)`, each
    * node pointing at the minimum of its component among the edges its
    * task has read since the last flush (so src > dst). The components
    * are the input's by construction: every star edge joins two nodes of
    * one input component, and the endpoints of every input edge end in one
    * star. Nulls and self-loops are dropped. An edge may repeat across
    * partitions; nothing downstream needs it unique. Lazy. */
  private[graft] def localStars(edges: DataFrame): DataFrame = {
    val Seq(a, b) = edges.columns.take(2).toSeq
    val t = edges.schema(a).dataType
    val schema = StructType(Seq(StructField("src", t, nullable = false),
                                StructField("dst", t, nullable = false)))
    edges.select(col(a), col(b).cast(t))
      .mapPartitions(rows => new LocalStars(rows))(Encoders.row(schema))
  }

  private final class LocalStars(rows: Iterator[Row]) extends Iterator[Row] {
    private val parent = new java.util.HashMap[Any, Any]()
    private var out: Iterator[Row] = Iterator.empty

    private def find(x: Any): Any = {
      var r = x
      var p = parent.get(r)
      while (p != null && p != r) { r = p; p = parent.get(r) }
      var c = x // path compression
      while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }

    private def union(x: Any, y: Any): Unit = {
      parent.putIfAbsent(x, x); parent.putIfAbsent(y, y)
      val (rx, ry) = (find(x), find(y))
      if (rx != ry) {
        // the smaller root wins, so every root is its set's minimum
        if (rx.asInstanceOf[Comparable[Any]].compareTo(ry) < 0) parent.put(ry, rx)
        else parent.put(rx, ry)
      }
    }

    /** Reads edges until the map holds `FlushNodes` nodes or the input
      * ends, then turns the map into its stars and clears it. */
    private def fill(): Unit = {
      while (parent.size < FlushNodes && rows.hasNext) {
        val r = rows.next()
        if (!r.isNullAt(0) && !r.isNullAt(1) && r.get(0) != r.get(1))
          union(r.get(0), r.get(1))
      }
      val stars = Array.newBuilder[Row]
      parent.keySet.forEach { n =>
        val root = find(n)
        if (root != n) stars += Row(n, root)
      }
      parent.clear()
      out = stars.result().iterator
    }

    def hasNext: Boolean = {
      while (!out.hasNext && rows.hasNext) fill()
      out.hasNext
    }

    def next(): Row = {
      if (!hasNext) throw new NoSuchElementException
      out.next()
    }
  }

  /** Both orientations of a (src, dst) edge frame in one scan. */
  private def bothWays(e: DataFrame): DataFrame =
    e.select(inline(array(
      struct(col("src"), col("dst")),
      struct(col("dst").as("src"), col("src").as("dst")))))

  /** The star-forest test over edge frame `e` (src > dst): the sealed
    * per-node frame (src, mn, mx, deg) plus, observed in the job that
    * seals it, the count of nodes that are neither a root nor a leaf and
    * `e`'s edge count. Without the observed row (e.g. Spark internals
    * changed) both counts come from one extra action over the sealed
    * frame — never from a wait, never assumed. */
  private def starTest(e: DataFrame): (DataFrame, Long, Long) = {
    val notStar = !(col("mn") > col("src") ||
                    (col("mn") === col("mx") && col("mn") < col("src")))
    val stats: Seq[Column] = Seq(
      coalesce(sum(when(notStar, 1L).otherwise(0L)), lit(0L)).as("violations"),
      coalesce(sum(col("deg")), lit(0L)).as("arcs"))
    // one observation per plan: `e` is sealed, so no earlier test's
    // observation is part of this plan
    val name = "graft_cc_star_test"
    val observed = bothWays(e).groupBy("src")
      .agg(min("dst").as("mn"), max("dst").as("mx"), count(lit(1)).as("deg"))
      .observe(name, stats.head, stats.tail: _*)
    val sealedTest = graft.util.Seal(observed)
    val row = observed.queryExecution.observedMetrics.getOrElse(name,
      sealedTest.agg(stats.head, stats.tail: _*).first())
    // every edge is counted once from each endpoint
    (sealedTest, row.getLong(0), row.getLong(1) / 2)
  }

  /** ONE alternating large-star + small-star round (lazy plan) over an
    * edge frame with src > dst; returns the same form, distinct.
    *   large star: for every node u, attach all neighbours v > u to the
    *     minimum of (u ∪ neighbours) — both edge directions participate;
    *   small star: edges then satisfy src > dst; for each u attach u and
    *     all its smaller neighbours to the minimum neighbour.
    * No distinct between the stars: duplicates in the large-star output do
    * not change the small-star window minimum, and the final distinct
    * dedups the round's output. */
  private def round(cur: DataFrame): DataFrame = {
    val w = Window.partitionBy("src")
    val large = bothWays(cur)
      .withColumn("m", least(min("dst").over(w), col("src")))
      .where(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst")) // src > dst
    val withMin = large.withColumn("m", min("dst").over(w))
    withMin
      .select(col("src"), col("m").as("dst"))
      .union(withMin.where(col("dst") =!= col("m"))
        .select(col("dst").as("src"), col("m").as("dst")))
      .where(col("src") =!= col("dst"))
      .distinct()
  }
}
