package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Operator-scoped persist management.
  *
  * Every multi-consumer intermediate inside an operator (shingle frames,
  * salted bucket rows, ranked windows) must be persisted — but a persist
  * with no matching unpersist accumulates in the session's cache manager,
  * and a long-lived session composing many operators slowly squeezes
  * executor storage out from under the shuffles that need it. Two
  * lifecycles make the leak structurally impossible:
  *
  *   - CONCURRENT mode (`seal`/`sealMany`): the operator's OUTPUT is
  *     materialized eagerly (`Seal` — localCheckpoint by default, a
  *     reliable checkpoint when spark.graft.checkpoint.dir is set), which
  *     truncates its lineage off the scoped frames; the scope then releases
  *     every registered persist synchronously (try/finally). This is the
  *     mode for the flagship pipeline, where independent candidate sources
  *     run as concurrent jobs over shared frames.
  *   - DEFERRED mode (`deferred`): the operator returns its LAZY plan —
  *     no checkpoint job (the flat seal cost measured round 4 as 0.6-0.77
  *     idle at 32 cores on the pair-listing queries) — and the scope parks
  *     in a pending list until the downstream consumer's action completes.
  *     Release is BELT AND SUSPENDERS: consumers that know the contract
  *     call `flushDeferred()` after their action (Bench/Verify do), and a
  *     QueryExecutionListener auto-releases any pending scope whose output
  *     plan a finished execution consumed — a third-party caller that
  *     never heard of `flushDeferred` cannot leak persists past its own
  *     action (round-5 "What's wrong" #1). Multi-exchange intermediates
  *     keep their eager `persistEager` barrier even here — AQE races
  *     sub-stages of a single action into unbuilt caches just like
  *     concurrent seal jobs (see persistEager).
  *
  * Checkpointed outputs live as plain RDD blocks outside the SQL cache
  * manager and are reclaimed by the ContextCleaner once unreferenced, so
  * after any concurrent-mode operator returns — and after any consumer's
  * deferred-scope release — the session's cache manager is empty (asserted
  * by PlanShapeSpec).
  */
final class CacheScope {
  private val frames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
  private val lazyFrames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** Persist `df` (MEMORY_AND_DISK) for the life of this scope. */
  def persist(df: DataFrame): DataFrame = {
    frames += df
    lazyFrames += df
    df.persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Persist `df`, MATERIALIZING it before returning. A lazy persist is
    * not enough when the frame feeds two or more downstream EXCHANGES: AQE
    * materializes every ready shuffle-map stage CONCURRENTLY — across the
    * seal jobs of a concurrent-mode scope AND across the sub-stages of one
    * single consumer action — and jobs racing into a not-yet-built cache
    * each recompute the full subtree (measured twice: the containment
    * source's scan+shingle pass ran 2-3× per query, ~500 CPU core-s each
    * at 1M captions, with its persist never hit; and an experiment making
    * this lazy in deferred mode doubled q_doc_pipeline/q_dup_clusters at
    * sf0.1 — one action is NOT one traversal). The count() barrier costs
    * one extra job; in the flagship it runs inside the operator's own
    * future, overlapped with the other candidate sources. */
  def persistEager(df: DataFrame): DataFrame = {
    val p = persist(df)
    lazyFrames.remove(lazyFrames.length - 1)
    p.count()
    p
  }

  /** Lazily-persisted frames whose cache has NOT been built yet — i.e. no
    * eager barrier's lineage covered them. Uses the InMemoryRelation's
    * cache-builder state (reflective: `cacheBuilder` /
    * `isCachedColumnBuffersLoaded` are private[sql], which is public in
    * bytecode). A frame with no cache entry at all also reports unbuilt. */
  private[util] def unbuiltLazyPersists(): Seq[DataFrame] =
    lazyFrames.toSeq.filterNot { df =>
      try {
        df.queryExecution.withCachedData.collectFirst {
          case r if r.getClass.getSimpleName == "InMemoryRelation" =>
            val cb = r.getClass.getMethod("cacheBuilder").invoke(r)
            cb.getClass.getMethod("isCachedColumnBuffersLoaded")
              .invoke(cb).asInstanceOf[Boolean]
        }.getOrElse(false)
      } catch { case _: Throwable => true }
    }

  // synchronized: a deferred scope can be closed concurrently by the
  // consumer's manual flushDeferred() and the async auto-release listener
  def close(): Unit = synchronized {
    frames.foreach(_.unpersist(blocking = false))
    frames.clear()
    lazyFrames.clear()
  }
}

object CacheScope extends org.apache.spark.internal.Logging {
  /** Build one output inside a fresh scope, seal it, release the scope. */
  def seal(body: CacheScope => DataFrame): DataFrame =
    sealMany(s => Seq(body(s))).head

  // seal jobs of ONE sealMany call run concurrently (they are independent
  // reads of already-materialized scoped caches); a small shared daemon pool
  // bounds the extra scheduler pressure.
  private lazy val sealEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(4, (r: Runnable) => {
        val t = new Thread(r, "graft-seal"); t.setDaemon(true); t
      }))

  /** Conf key for the concurrent-seal barrier check: "warn" (default) logs
    * when a lazily-persisted frame is still unbuilt as concurrent seals
    * submit; "throw" fails fast (specs/CI); "off" skips the check. */
  val CheckSealBarriersKey = "spark.graft.checkSealBarriers"

  /** Count of barrier violations detected (monotonic; for specs/metrics). */
  private val barrierViolations = new java.util.concurrent.atomic.AtomicLong
  def sealBarrierViolations: Long = barrierViolations.get()

  /** Build several outputs inside ONE fresh scope (they may share scoped
    * intermediates), seal each eagerly, release the scope.
    *
    * The seals are submitted CONCURRENTLY. Safety invariant: the scope must
    * contain at least one EAGER barrier (`persistEager`) whose lineage
    * covers every lazy `persist` in it — the barrier's count() builds all
    * covered caches in one job, so by seal time the concurrent checkpoint
    * jobs only READ built caches. (Lazy persists whose materialization
    * relied on "some downstream job will traverse them first" are exactly
    * the race `persistEager` exists to prevent.) Sequential seals paid the
    * sum of their barriers — the round-3 eager-seal regression on the
    * pair-listing queries; concurrent seals pay roughly the max.
    *
    * The invariant is CHECKED at runtime (round-5 ask #2): before the
    * concurrent seals submit, any lazily-persisted frame whose cache is
    * still unbuilt is reported per `spark.graft.checkSealBarriers`
    * ("warn" default / "throw" / "off"). */
  def sealMany(body: CacheScope => Seq[DataFrame]): Seq[DataFrame] = {
    val scope = new CacheScope
    try {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: scala.concurrent.ExecutionContext = sealEc
      val outs = body(scope)
      if (outs.sizeIs <= 1) outs.map(Seal(_))
      else {
        checkBarriers(scope, outs.head.sparkSession)
        Await.result(
          Future.sequence(outs.map(df => Future(Seal(df)))),
          Duration.Inf)
      }
    } finally scope.close()
  }

  private def checkBarriers(scope: CacheScope, spark: SparkSession): Unit = {
    val mode = spark.conf.getOption(CheckSealBarriersKey).getOrElse("warn")
    if (mode == "off") return
    val unbuilt = scope.unbuiltLazyPersists()
    if (unbuilt.nonEmpty) {
      barrierViolations.addAndGet(unbuilt.size)
      val msg = s"sealMany: ${unbuilt.size} lazily-persisted frame(s) are " +
        "unbuilt as concurrent seals submit — no persistEager barrier's " +
        "lineage covers them, so racing seal jobs will recompute their " +
        "subtrees (see CacheScope.persistEager). First schema: " +
        unbuilt.head.schema.simpleString.take(200)
      if (mode == "throw") throw new AssertionError(msg) else logWarning(msg)
    }
  }

  // -------- deferred scopes --------

  private final case class Pending(scope: CacheScope,
                                   outputs: Seq[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan])
  // scopes whose persists outlive the operator call — released by the
  // consumer via flushDeferred() after its action, or by the execution-end
  // listener below. ConcurrentLinkedQueue: deferred operators may be
  // composed from multiple threads.
  private val pending = new java.util.concurrent.ConcurrentLinkedQueue[Pending]
  // sessions that already carry the auto-release listener
  private val listenerInstalled =
    java.util.concurrent.ConcurrentHashMap.newKeySet[SparkSession]()

  /** Build output(s) inside a fresh DEFERRED scope and return them LAZILY:
    * no checkpoint job. The scoped persists stay registered so the
    * consumer's single action still reuses every shared intermediate, and
    * are released by EITHER of two paths (both idempotent):
    *   - the consumer calls `flushDeferred()` after its action (Bench and
    *     Verify do this after every query; a composed query may hold
    *     several deferred scopes at once, e.g. q_doc_pipeline's three
    *     candidate sources), or
    *   - the auto-release listener: a QueryExecutionListener installed on
    *     the session releases any pending scope whose output plan the
    *     finished execution contains — so a caller that runs its one
    *     action and never flushes cannot leak persists (the persists die
    *     with the action that consumed them). An execution that does NOT
    *     contain a scope's output (e.g. another operator's persistEager
    *     barrier while a composed query is still being BUILT) leaves the
    *     scope pending — composition stays safe.
    * `persistEager` barriers still run eagerly — see its doc for why one
    * consumer action is not one traversal under AQE.
    *
    * This is the single-consumer fast path: a query surface skips the
    * output materialization the flagship needs (its sources race
    * concurrently over shared frames, so their OUTPUTS must be sealed
    * before the scope releases; a deferred output is consumed after the
    * scope would have closed, hence the parked release instead). */
  def deferred[A](body: CacheScope => A): A = {
    val scope = new CacheScope
    val out =
      try body(scope)
      catch { case t: Throwable => scope.close(); throw t }
    val outFrames = collectFrames(out)
    outFrames.headOption.foreach(df => installListener(df.sparkSession))
    pending.add(Pending(scope, outFrames.map(_.queryExecution.analyzed)))
    out
  }

  private def collectFrames(out: Any): Seq[DataFrame] = out match {
    case d: DataFrame => Seq(d)
    case p: Product =>
      p.productIterator.collect { case d: DataFrame => d }.toSeq
    case s: Seq[_] => s.collect { case d: DataFrame => d }
    case _ => Nil
  }

  private def installListener(spark: SparkSession): Unit =
    if (listenerInstalled.add(spark)) {
      spark.listenerManager.register(
        new org.apache.spark.sql.util.QueryExecutionListener {
          override def onSuccess(funcName: String,
                                 qe: org.apache.spark.sql.execution.QueryExecution,
                                 durationNs: Long): Unit = release(qe)
          override def onFailure(funcName: String,
                                 qe: org.apache.spark.sql.execution.QueryExecution,
                                 exception: Exception): Unit = release(qe)
        })
    }

  /** Release every pending scope whose output plan `qe` consumed. */
  private def release(qe: org.apache.spark.sql.execution.QueryExecution): Unit = {
    val it = pending.iterator()
    while (it.hasNext) {
      val p = it.next()
      val consumed =
        try p.outputs.exists(o => qe.analyzed.exists(n => n.sameResult(o)))
        catch { case _: Throwable => false }
      // close BEFORE remove: while the scope is still queued, a concurrent
      // flushDeferred() finds it and waits on its monitor for this close,
      // so it never returns with the scope's persists still registered
      if (consumed) { p.scope.close(); it.remove() }
    }
  }

  /** Release every pending deferred scope's persists. Call after the
    * action that consumed the deferred operator output(s). Idempotent
    * (the auto-release listener may already have drained some or all). */
  def flushDeferred(): Unit = {
    var s = pending.poll()
    while (s != null) { s.scope.close(); s = pending.poll() }
  }
}
