package graft.resolve

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.CacheScope

/** CSV duplicate report — reference `create_csv_file`
  * (/root/reference/duplicate_files_in_folders/duplicates_finder.py:226-246):
  * one row per duplicate file with columns (key, path, size, modified_time),
  * cluster keys renumbered 1..N (the reference numbers in insertion order;
  * the engine numbers in deterministic cluster-id order so the report is
  * reproducible under any partitioning), timestamps formatted as datetimes
  * (`datetime.fromtimestamp`, duplicates_finder.py:245).
  */
object Report {

  /** @param dupRows one row per duplicate file:
    *                (cluster_id, path, size, mtime — timestamp)
    * @return (key, path, size, modified_time) with dense 1..N keys.
    *
    * Scale note: renumbering is a global rank over the DISTINCT cluster
    * ids, computed WITHOUT a single-partition window: `orderBy` range-
    * partitions the ids, each partition ranks locally (window partitioned
    * by spark_partition_id — parallel), and a tiny per-partition row-count
    * frame (one row per partition) broadcasts the cumulative offsets.
    * Global key = partition offset + local rank; no task ever holds more
    * than one partition of cluster ids. */
  def clusterReport(dupRows: DataFrame): DataFrame = CacheScope.deferred { scope =>
    // persisted: _pid must come from ONE materialized range-sort — the
    // offsets branch and the rank branch re-deriving it independently could
    // sample different range boundaries and disagree on partition ids. The
    // deferred scope releases it once the caller's action has consumed the
    // report.
    val sorted = scope.persist(dupRows.select("cluster_id").distinct()
      .orderBy("cluster_id")
      .withColumn("_pid", spark_partition_id()))
    val offsets = sorted.groupBy("_pid").agg(count(lit(1)).as("_n"))
      .withColumn("_offset",
        coalesce(sum("_n").over(
          Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select("_pid", "_offset")
    val wLocal = Window.partitionBy("_pid").orderBy("cluster_id")
    val renumber = sorted
      .join(broadcast(offsets), "_pid")
      .withColumn("key", (col("_offset") + row_number().over(wLocal)).cast("int"))
      .select("cluster_id", "key")
    // NO broadcast hint here: `renumber` is one row per distinct cluster —
    // at 10⁸-10⁹ clusters a forced broadcast (which ignores
    // autoBroadcastJoinThreshold) OOMs the driver. AQE broadcasts it when
    // it is actually small; otherwise this is a plain shuffle equi-join.
    // (The `offsets` broadcast above is one row per range PARTITION —
    // genuinely tiny at any scale — and keeps its hint.)
    dupRows.join(renumber, "cluster_id")
      .select(col("key"), col("path"), col("size"),
              date_format(col("mtime"), "yyyy-MM-dd HH:mm:ss").as("modified_time"))
  }

  /** Write the report as headered CSV (the reference's sink shape). */
  def writeCsv(report: DataFrame, path: String): Unit =
    report.write.option("header", "true").mode("overwrite").csv(path)
}
