package graft

import org.apache.spark.sql.functions._

import graft.resolve.Report
import graft.schema.FilterConfig

/** S3 CSV report shape + P6 size-string parsing (reference `parse_size`
  * table, tests/test_functions.py:145-190). */
class ReportAndConfigSpec extends SparkSpec {
  import spark.implicits._

  test("parseSize: unit table, case-insensitivity, rejections") {
    assert(FilterConfig.parseSize("10") == 10L)
    assert(FilterConfig.parseSize("10B") == 10L)
    assert(FilterConfig.parseSize("1KB") == 1024L)
    assert(FilterConfig.parseSize("10MB") == 10L * 1024 * 1024)
    assert(FilterConfig.parseSize("2gb") == 2L * 1024 * 1024 * 1024)
    assert(FilterConfig.parseSize(" 3 Tb ") == 3L * 1024 * 1024 * 1024 * 1024)
    intercept[IllegalArgumentException](FilterConfig.parseSize("-5MB"))
    intercept[IllegalArgumentException](FilterConfig.parseSize("MB"))
    intercept[IllegalArgumentException](FilterConfig.parseSize("10XB"))
    intercept[IllegalArgumentException](FilterConfig.parseSize(""))
  }

  test("NearDupConfig rejects multi-index settings past 4,096 probe rows per hash") {
    import graft.schema.NearDupConfig
    assert(Seq((4, 1), (1, 1), (4, 3)).map { case (b, s) => NearDupConfig.probeRowsPerHash(b, s) } ==
      Seq(68L, 65L, 2788L))
    NearDupConfig()
    NearDupConfig(hammingBands = 1, hammingRadius = 1, simhashBands = 1, simhashRadius = 1)
    NearDupConfig(hammingSubRadius = 3, simhashSubRadius = 3)
    // each radius is the pigeonhole guarantee at subRadius 3, so only the
    // probe-row bound rejects
    for ((bands, rows) <- Seq(1 -> 43745L, 2 -> 10978L)) {
      val radius = bands * 4 - 1
      Seq(
        intercept[IllegalArgumentException](
          NearDupConfig(hammingBands = bands, hammingSubRadius = 3, hammingRadius = radius)),
        intercept[IllegalArgumentException](
          NearDupConfig(simhashBands = bands, simhashSubRadius = 3, simhashRadius = radius))
      ).foreach(e => assert(e.getMessage.contains(s"$rows probe rows"), e.getMessage))
    }
  }

  test("clusterReport: dense 1..N keys in cluster order, formatted mtimes") {
    val rows = Seq(
      ("c_b", "p3", 30L, "2024-01-02 03:04:05.123"),
      ("c_a", "p1", 10L, "2024-01-01 00:00:00.0"),
      ("c_a", "p2", 20L, "2024-01-01 12:00:00.0")
    ).toDF("cluster_id", "path", "size", "m")
      .select(col("cluster_id"), col("path"), col("size"),
              col("m").cast("timestamp").as("mtime"))
    val rep = Report.clusterReport(rows).orderBy("key", "path")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getString(3)))
    assert(rep.toSeq == Seq(
      (1, "p1", 10L, "2024-01-01 00:00:00"),
      (1, "p2", 20L, "2024-01-01 12:00:00"),
      (2, "p3", 30L, "2024-01-02 03:04:05")))
    // keys are dense 1..N (renumbered, not raw cluster ids)
    assert(rep.map(_._1).distinct.toSeq == Seq(1, 2))
  }

  test("writeCsv round-trips with header") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csv").toString + "/out"
    val rows = Seq(("c1", "p1", 5L, "2024-01-01 00:00:00.0"))
      .toDF("cluster_id", "path", "size", "m")
      .select(col("cluster_id"), col("path"), col("size"),
              col("m").cast("timestamp").as("mtime"))
    Report.writeCsv(Report.clusterReport(rows), dir)
    val back = spark.read.option("header", "true").csv(dir).collect()
    assert(back.length == 1 && back(0).getString(1) == "p1")
  }
}
