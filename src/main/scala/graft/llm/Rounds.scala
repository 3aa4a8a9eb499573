package graft.llm

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Round plumbing shared by every iterative operator (connected
  * components, k-means, graph search, PageRank/TrustRank, label
  * propagation, BPE, unigram and hashed logistic training). An operator
  * opens one scope with [[Rounds.apply]] and declares, per frame, which
  * of two kinds it is; the scope owns how each kind is materialized and
  * how long it lives. Outside a scope, a frame an operator or query
  * computes once is an eager `localCheckpoint()`, whose blocks the
  * ContextCleaner releases once the frame is unreachable; no other
  * source persists a Dataset except where `PlanAuditSpec` allows it
  * with a reason.
  *
  *  - **Static frames** ([[persist]]) are read by every round and never
  *    re-enter their own lineage. They are PERSISTED, not checkpointed:
  *    under AQE a checkpointed Dataset reports UnknownPartitioning
  *    (AdaptiveSparkPlanExec exposes no output partitioning), while an
  *    InMemoryRelation keeps the cached plan's HashPartitioning, so a
  *    static repartitioned on its join key once is joined shuffle-free
  *    by every round, which then moves only the round state. Under the
  *    session's cached-plan AQE that holds only for a repartition with
  *    an explicit width: a width-less one lets AQE coalesce the cached
  *    plan, which then reports no partitioning either. Statics are
  *    released when the scope exits, newest first, so a frame derived
  *    from another static is released before its parent: unpersisting a
  *    parent first re-plans and re-caches every dependent entry.
  *  - **Round state** ([[checkpoint]]) re-enters the next round's plan,
  *    so it is checkpointed, not persisted: the lineage is truncated to
  *    a LogicalRDD, so (a) an expensive source (an LSH pair set) is
  *    computed exactly once, (b) per-round plans stay constant-size
  *    instead of growing with the round count (a round that reads the
  *    previous one twice doubles its plan tree every round), and (c)
  *    there is no cache-invalidation cascade when a superseded round is
  *    dropped (Dataset.unpersist recompiles and lazily recomputes
  *    dependent cache entries). Local checkpoint blocks are released by
  *    the ContextCleaner once the frame is unreachable. The default is
  *    an eager local checkpoint; a lazy one (`eager = false`) suits a
  *    round whose convergence action is also the job that fills it.
  *  - **`reliable = true`** replaces both kinds with a durable
  *    `checkpoint()` into `spark.sparkContext.getCheckpointDir`, which
  *    MUST be set (to cluster-durable storage) before the call: local
  *    checkpoint blocks die with their executor, and losing one
  *    mid-iteration loses the truncated lineage. The frame is persisted
  *    around the write, since `checkpoint()` writes in a second job that
  *    would otherwise recompute the lineage. Old rounds' files stay under
  *    the checkpoint dir for the application's lifetime unless
  *    `spark.cleaner.referenceTracking.cleanCheckpoints` is set.
  *
  * Each round's jobs run under the job description `<op>:round=<i>` (and
  * other phases under `<op>:<phase>`), and the caller's description is
  * restored after each. */
private[llm] final class Rounds private (op: String, sc: SparkContext,
    reliable: Boolean) {

  private var statics = List.empty[DataFrame] // newest first

  /** A static frame: persisted until the scope exits (durable under
    * `reliable`). */
  def persist(df: DataFrame): DataFrame =
    if (reliable) durable(df)
    else {
      statics = df :: statics
      df.persist()
    }

  /** Round state: a local checkpoint (lazy when `eager = false`), durable
    * under `reliable`. */
  def checkpoint(df: DataFrame, eager: Boolean = true): DataFrame =
    if (reliable) durable(df)
    else df.localCheckpoint(eager)

  /** Run `body` under the job description `<op>:round=<i>`. */
  def round[T](i: Int)(body: => T): T = phase(s"round=$i")(body)

  /** Run `body` under the job description `<op>:<name>`. */
  def phase[T](name: String)(body: => T): T = {
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"$op:$name")
    try body finally sc.setJobDescription(prev)
  }

  private def durable(df: DataFrame): DataFrame = {
    df.persist()
    val out = df.checkpoint() // eager: caches, then writes from cache
    df.unpersist(blocking = false)
    out
  }

  private def release(): Unit =
    statics.foreach(_.unpersist(blocking = false))
}

private[llm] object Rounds {

  /** Run an iterative operator's `body` in one [[Rounds]] scope; its
    * statics are released when `body` returns or throws. What `body`
    * returns must not read a static lazily: end the loop on round state. */
  def apply[T](op: String, spark: SparkSession,
               reliable: Boolean = false)(body: Rounds => T): T = {
    val r = new Rounds(op, spark.sparkContext, reliable)
    try body(r) finally r.release()
  }
}
