package graft

import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable

import org.apache.spark.graft.MemoryBridge.dropCheckpoint
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** The one lifecycle for data an operator pins: persisted frames and
  * lazy `localCheckpoint`s. (Memory-sink result views need no scope:
  * `EntryHelpers.memorySinkRun` drops the view before it returns.)
  *
  * Operators pin intermediates (the deduped ratings, the shingle +
  * signature base, a Pregel walk's edge list) so a multi-branch plan or
  * a driver loop materializes the expensive subtree once. The caller's
  * action, however, runs AFTER the operator function returns — a
  * try/finally around the persist would unpersist before anything
  * evaluated, and a plain persist would hold its blocks for the
  * session's lifetime. [[pinned]] owns the release instead:
  *
  * {{{
  * CacheScope.pinned { p =>
  *   val e = p(edges.repartition(col("src")))   // persist, held by the scope
  *   var r = ...; r = p.checkpoint(r)            // lazy localCheckpoint, held
  *   p.release(x)                                // optional early release
  *   r.join(e, ...)                              // the returned frame
  * }
  * }}}
  *
  * Every release rule comes from the returned frame's analyzed plan:
  *  - If the body throws, every pin and checkpoint is released at once.
  *  - A pin the returned frame does not read is released at return. A
  *    frame "reads" a pin when its plan contains a subtree with the
  *    pin's result (`sameResult`), directly or through a checkpoint of
  *    the scope that has not materialized yet (that checkpoint still
  *    has to run the pin's plan).
  *  - A pin the returned frame reads is released when the first query
  *    execution whose analyzed plan contains the returned frame
  *    completes (success or failure). Actions inside the body never
  *    count: the trigger is armed at return and watches the returned
  *    frame, not the pin, so a driver loop's per-round collects cannot
  *    spend it.
  *  - Checkpoints: once the returned frame has been consumed, every
  *    checkpoint it does not read directly is released, but only if
  *    each checkpoint it does read is materialized. A materialized
  *    checkpoint has cut its lineage, so the earlier ones are dead
  *    blocks; the ones read directly back the returned frame and stay,
  *    so a second action on it still succeeds. If the consuming action
  *    failed before they materialized, they still read through their
  *    predecessors and everything stays.
  *
  * Contract notes:
  *  - Dataset-API actions (collect/write/count/…) fire the trigger. A
  *    raw `queryExecution.toRdd` action has no SQL execution id, so no
  *    SQLExecutionEnd event reaches the listener bus; [[fullEval]]
  *    closes that path by running the toRdd action under a named
  *    execution id — harnesses that need full-plan evaluation (Bench)
  *    use it.
  *  - Re-running the SAME returned frame after release recomputes
  *    without the released caches — correctness never depends on a
  *    persist.
  *  - If the result is never evaluated, lazy persists and checkpoints
  *    never materialize storage; only the idle trigger remains.
  *  - Release on consumption is asynchronous (listener bus), typically
  *    milliseconds after the action completes.
  */
object CacheScope {

  /** The pins and checkpoints one [[pinned]] body holds. */
  final class Pins private[CacheScope] () {
    private final class Checkpoint(val rdd: RDD[_], val source: LogicalPlan)

    private val pins = mutable.ArrayBuffer.empty[DataFrame]
    private val checkpoints = mutable.ArrayBuffer.empty[Checkpoint]

    /** `df.persist()` (MEMORY_AND_DISK), held by this scope. */
    def apply(df: DataFrame): DataFrame = {
      val persisted = df.persist()
      pins += persisted
      persisted
    }

    /** `df.localCheckpoint(false)`, held by this scope: the lazy form
      * truncates the lineage without running a job here.
      */
    def checkpoint(df: DataFrame): DataFrame = {
      val ck = df.localCheckpoint(false)
      val source = df.queryExecution.analyzed
      checkpoints ++= rddsOf(ck.queryExecution.analyzed).map(new Checkpoint(_, source))
      ck
    }

    /** Release `df` — a pin or checkpoint of this scope — now, for
      * round-scoped data the rest of the body no longer reads.
      */
    def release(df: DataFrame): Unit = {
      val pin = pins.indexWhere(_ eq df)
      if (pin >= 0) unpersist(pins.remove(pin))
      else {
        val rdds = rddsOf(df.queryExecution.analyzed).toSet
        val gone = checkpoints.filter(c => rdds(c.rdd))
        require(gone.nonEmpty, "release: not a pin or checkpoint of this scope")
        gone.foreach(c => dropCheckpoint(c.rdd))
        checkpoints --= gone
      }
    }

    private def unpersist(pin: DataFrame): Unit = pin.unpersist(blocking = false)

    private def rddsOf(plan: LogicalPlan): Seq[RDD[_]] =
      plan.collect { case r: LogicalRDD => r.rdd }

    private def checkpointsIn(plan: LogicalPlan): Seq[Checkpoint] = {
      val rdds = rddsOf(plan).toSet
      checkpoints.toSeq.filter(c => rdds(c.rdd))
    }

    /** `plan`, plus the source plan of every not-yet-materialized
      * checkpoint it reaches: everything running `plan` will still run.
      */
    private def runPlans(plan: LogicalPlan): Seq[LogicalPlan] = {
      val pending = mutable.LinkedHashSet.empty[Checkpoint]
      def visit(p: LogicalPlan): Unit = checkpointsIn(p).foreach { c =>
        if (!c.rdd.isCheckpointed && pending.add(c)) visit(c.source)
      }
      visit(plan)
      plan +: pending.toSeq.map(_.source)
    }

    private[CacheScope] def releaseAll(): Unit = {
      pins.foreach(unpersist)
      checkpoints.foreach(c => dropCheckpoint(c.rdd))
    }

    /** Apply the return and consumption rules to the returned `out`. */
    private[CacheScope] def settle(out: DataFrame): Unit = {
      val plan = out.queryExecution.analyzed
      val runs = runPlans(plan)
      val (read, unread) = pins.toList.partition(pin =>
        runs.exists(_.exists(_.sameResult(pin.queryExecution.analyzed))))
      unread.foreach(unpersist)
      val cks = checkpoints.toList
      val direct = checkpointsIn(plan)
      if (read.nonEmpty || cks.nonEmpty) onConsumed(out) {
        read.foreach(unpersist)
        if (direct.forall(_.rdd.isCheckpointed))
          cks.filterNot(direct.contains).foreach(c => dropCheckpoint(c.rdd))
      }
    }
  }

  /** Run `body` with a fresh [[Pins]] and release what it pinned by the
    * rules in this object's header. Returns `body`'s frame.
    */
  def pinned(body: Pins => DataFrame): DataFrame = {
    val p = new Pins
    var settled = false
    try {
      val out = body(p)
      p.settle(out)
      settled = true
      out
    } finally if (!settled) p.releaseAll()
  }

  /** Persist `df` until the first query execution that reads it
    * completes, then unpersist — [[pinned]]'s one-pin case.
    */
  def autoRelease(df: DataFrame): DataFrame = pinned(p => p(df))

  /** Run `body` once, when the FIRST query execution whose analyzed
    * plan contains `df`'s subtree completes (success or failure), then
    * unregister: the consumption trigger behind [[pinned]].
    */
  private def onConsumed(df: DataFrame)(body: => Unit): Unit = {
    val spark = df.sparkSession
    val target = df.queryExecution.analyzed
    val fired = new AtomicBoolean(false)
    val listener: QueryExecutionListener = new QueryExecutionListener {
      private def maybeFire(qe: QueryExecution): Unit = {
        // a listener must never throw into the bus — treat any plan-
        // inspection failure as "not consumed"
        val consumed =
          try qe.analyzed.exists(_.sameResult(target))
          catch { case _: Throwable => false }
        if (consumed && fired.compareAndSet(false, true)) {
          try body
          finally spark.listenerManager.unregister(this)
        }
      }
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = maybeFire(qe)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = maybeFire(qe)
    }
    spark.listenerManager.register(listener)
  }

  /** FULL evaluation of a frame — every output column materialized into
    * the executed plan's UnsafeRow stream (`toRdd.count()`; a plain
    * `df.count()` lets Catalyst prune all computed columns) — run under
    * a named SQL execution id so the action is visible to
    * QueryExecutionListeners and [[pinned]] scopes release exactly as
    * they do for Dataset-API actions. Returns the row count.
    */
  def fullEval(df: DataFrame): Long = {
    val qe = df.queryExecution
    org.apache.spark.sql.graft.ColumnBridge.withNamedExecution(qe, "graft.fullEval")(
      qe.toRdd.count())
  }
}
