package graft

import graft.util.{CacheScope, Seal}

/** Round-6 lifecycle hardening of the persist scopes:
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
