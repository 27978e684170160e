package graft

import graft.util.{CacheScope, Seal}

/** Lifecycle of the persist scopes:
  *   - an eager persist builds its cache in one job, whose tasks see the
  *     session's SQL confs, and later actions read that cache;
  *   - deferred scopes auto-release when the consumer's action completes,
  *     even if the consumer never calls flushDeferred (misuse-proofing);
  *   - reliable seal mode warns once when checkpoint files would leak. */
class CacheScopeSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private def haveTestdata = new java.io.File(s"$sfDir/documents.parquet").exists()

  private def cacheManagerEmpty: Boolean = {
    val shared = spark.getClass.getMethod("sharedState").invoke(spark)
    val cm = shared.getClass.getMethod("cacheManager").invoke(shared)
    cm.getClass.getMethod("isEmpty").invoke(cm).asInstanceOf[Boolean]
  }

  private def eventually(timeoutMs: Long)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(50)
    cond
  }

  test("persistEager builds the cache in one job; a following action only reads it") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.functions.{col, udf}
    import org.apache.spark.sql.internal.SQLConf
    val built = spark.sparkContext.longAccumulator("persistEager-rows")
    val seen = spark.sparkContext.collectionAccumulator[String]("persistEager-conf")
    val probe = "spark.graft.test.barrierConf"
    val tally = udf { (x: Long) =>
      built.add(1); seen.add(SQLConf.get.getConfString(probe, "unset")); x
    }
    val df = spark.range(0, 1000, 1, 4).select(tally(col("id")).as("x")) // no exchange
    val scope = new CacheScope
    spark.conf.set(probe, "set")
    try {
      var p: DataFrame = null
      assert(JobKit.jobsIn(spark) { p = scope.persistEager(df) } == 1)
      assert(built.value == 1000)
      // the build's tasks read the session's SQL confs, as an action's do
      assert(seen.value.asScala.toSet == Set("set"))
      val relation = p.queryExecution.withCachedData.collectFirst { case r: InMemoryRelation => r }
      assert(relation.exists(_.cacheBuilder.isCachedColumnBuffersLoaded))
      // the result job alone: no cache-building job, and no row recomputed
      assert(JobKit.jobsIn(spark)(assert(p.collect().length == 1000)) == 1)
      assert(built.value == 1000)
    } finally { scope.close(); spark.conf.unset(probe) }
  }

  test("deferred scope releases WITHOUT a manual flush (auto-release listener)") {
    assume(haveTestdata)
    spark.catalog.clearCache()
    CacheScope.flushDeferred() // drain anything a prior suite parked
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val cfg = graft.schema.NearDupConfig(jaccardThreshold = 0.8)
    // a third-party consumer: one action, no flushDeferred call
    val n = graft.ops.DocOps.minhashLshPairs(docs, "doc_id", "text", cfg).count()
    assert(n >= 0)
    // the QueryExecutionListener fires asynchronously on the listener bus
    assert(eventually(10000)(cacheManagerEmpty),
      "deferred persists must drain once the consuming action completes")
  }

  test("deferred scope survives an unrelated intermediate action (composition)") {
    assume(haveTestdata)
    spark.catalog.clearCache()
    CacheScope.flushDeferred()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val cfg = graft.schema.NearDupConfig(jaccardThreshold = 0.8)
    val edges = graft.ops.DocOps.minhashLshEdges(docs, "doc_id", "text", cfg)
    // an unrelated action (another operator's barrier shape) must NOT
    // release the parked scope of the not-yet-consumed edges plan
    docs.limit(5).count()
    Thread.sleep(1500) // give the async listener time to (wrongly) fire
    assert(!cacheManagerEmpty,
      "an execution that did not consume the deferred output must not release it")
    // now the real consumer runs — auto-release drains
    edges.count()
    assert(eventually(10000)(cacheManagerEmpty))
  }

  test("reliable seal mode warns once on the checkpoint-file leak, silenced by ack") {
    // the check is exercised via the package-private hook, NOT a real
    // reliable seal: sc.setCheckpointDir is first-set-wins per context, and
    // claiming it here would break SealSpec's file assertions in the shared
    // session (SealSpec covers the warning firing inside a real seal)
    try {
      Seal.resetLeakWarningsForTest()
      Seal.warnCheckForTest(spark)
      Seal.warnCheckForTest(spark) // once per context, not per call
      assert(Seal.leakWarnings == 1,
        s"expected exactly one leak warning, got ${Seal.leakWarnings}")
      // deployment acknowledges managing checkpoint files → no warning
      spark.conf.set(Seal.FilesManagedKey, "true")
      Seal.resetLeakWarningsForTest()
      Seal.warnCheckForTest(spark)
      assert(Seal.leakWarnings == 0, "warning must not fire when acked")
    } finally {
      spark.conf.unset(Seal.FilesManagedKey)
      Seal.resetLeakWarningsForTest()
    }
  }
}
