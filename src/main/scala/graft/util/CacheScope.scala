package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
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
  *   - SEALED mode (`seal`/`sealMany`): the operator's OUTPUT is
  *     materialized eagerly (`Seal` — localCheckpoint by default, a
  *     reliable checkpoint when spark.graft.checkpoint.dir is set), which
  *     truncates its lineage off the scoped frames; the scope then releases
  *     every registered persist synchronously (try/finally). This is the
  *     mode for the flagship pipeline, whose candidate sources run
  *     concurrently, each in its own scope, and each seals ONE frame: its
  *     edges, with the bucket statistics observed inside that seal's job.
  *     `sealMany` seals several outputs of one scope one after another.
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
  *     keep their eager `persistEager` barrier even here (a job that only
  *     builds the cache) — AQE races sub-stages of a single action into
  *     unbuilt caches (see persistEager).
  *
  * Checkpointed outputs live as plain RDD blocks outside the SQL cache
  * manager and are reclaimed by the ContextCleaner once unreferenced, so
  * after any sealed-mode operator returns — and after any consumer's
  * deferred-scope release — the session's cache manager is empty (asserted
  * by PlanShapeSpec).
  */
final class CacheScope {
  private val frames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** Persist `df` (MEMORY_AND_DISK) for the life of this scope. */
  def persist(df: DataFrame): DataFrame = {
    frames += df
    df.persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** The frames persisted into this scope, in order (for plan specs). */
  private[graft] def persisted: Seq[DataFrame] = frames.toSeq

  /** Persist `df`, MATERIALIZING it before returning. A lazy persist is
    * not enough when the frame feeds two or more downstream EXCHANGES: AQE
    * materializes every ready shuffle-map stage of one action
    * CONCURRENTLY, and jobs racing into a not-yet-built cache each
    * recompute the full subtree (measured twice: the containment
    * source's scan+shingle pass ran 2-3× per query, ~500 CPU core-s each
    * at 1M captions, with its persist never hit; and an experiment making
    * this lazy in deferred mode doubled q_doc_pipeline/q_dup_clusters at
    * sf0.1 — one action is NOT one traversal).
    *
    * The barrier builds the cache and nothing else: one job over the
    * column buffers of the relation the session's cache manager holds for
    * this frame (plus the map stages of any exchange inside the persisted
    * plan), after which AQE finds the cache materialized and later actions
    * read it. A `count()` here cost two more jobs under AQE (the partial
    * count's map stage and its result); `Dataset.foreachPartition` one
    * more (AQE adds a result job when the persisted plan has an exchange).
    * The job runs outside any SQL execution (no SQL UI entry, no
    * QueryExecutionListener call), but with the session's SQL confs
    * propagated to its tasks, as an action's tasks get them. In the
    * flagship the barrier runs inside the operator's own future,
    * overlapped with the other candidate sources. */
  def persistEager(df: DataFrame): DataFrame = {
    val p = persist(df)
    val session = p.queryExecution.sparkSession
    val cached = session.sharedState.cacheManager
      .lookupCachedData(session, p.queryExecution.normalized)
      .getOrElse(throw new IllegalStateException(
        "persistEager: the cache manager holds no entry for the frame just persisted"))
    SQLExecution.withSQLConfPropagated(session) {
      cached.cachedRepresentation.cacheBuilder.cachedColumnBuffers.count()
    }
    p
  }

  // synchronized: a deferred scope can be closed concurrently by the
  // consumer's manual flushDeferred() and the async auto-release listener
  def close(): Unit = synchronized {
    frames.foreach(_.unpersist(blocking = false))
    frames.clear()
  }
}

object CacheScope {
  /** Build one output inside a fresh scope, seal it, release the scope. */
  def seal(body: CacheScope => DataFrame): DataFrame =
    sealMany(s => Seq(body(s))).head

  /** Build several outputs inside ONE fresh scope (they may share scoped
    * intermediates), seal each eagerly in turn, release the scope. */
  def sealMany(body: CacheScope => Seq[DataFrame]): Seq[DataFrame] = {
    val scope = new CacheScope
    try body(scope).map(Seal(_))
    finally scope.close()
  }

  // -------- deferred scopes --------

  private final case class Pending(scope: CacheScope,
                                   outputs: Seq[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan])
  // scopes whose persists outlive the operator call — released by the
  // consumer via flushDeferred() after its action, or by the execution-end
  // listener below. ConcurrentLinkedQueue: deferred operators may be
  // composed from multiple threads.
  private val pending = new java.util.concurrent.ConcurrentLinkedQueue[Pending]
  // sessions that already carry the auto-release listener; weak keys (and
  // identity, which SparkSession's equality is), so a stopped or dropped
  // session is not held here for the life of the JVM
  private val listenerInstalled = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(new java.util.WeakHashMap[SparkSession, java.lang.Boolean]))

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
    * output materialization the flagship needs (its sources run
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

  /** Release every pending scope whose output plan `qe` consumed. Runs for
    * every execution of every session carrying the listener, so it returns
    * at once when no scope is pending. */
  private def release(qe: org.apache.spark.sql.execution.QueryExecution): Unit = {
    if (pending.isEmpty) return
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
