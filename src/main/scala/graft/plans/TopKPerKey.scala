package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}

/** Top-k rows per key under an explicit ordering — the whole-operator
  * custom-plan surface (SURVEY.md §5 option (c)): a logical node, a
  * planner [[Strategy]], and a physical operator, demonstrating the
  * full `LogicalPlan → SparkStrategy → SparkPlan` extension stack next
  * to the expression-level kernels.
  *
  * Why not `row_number() OVER (PARTITION BY key ORDER BY …) <= k`?
  * Spark 4.1 plans that window form with a partial `WindowGroupLimit`
  * before the exchange, so it too shuffles at most k rows per (key,
  * partition); its costs are a local SORT of every input row ahead of
  * that partial limit, and a rank window on both sides of the
  * exchange. This operator needs no input sort — it keeps a bounded
  * k-row heap per key:
  *
  *   partial TopKPerKeyExec        ← per input partition, map-side
  *   → Exchange hash(keys)         ← shuffles ≤ k rows per (key, partition)
  *   → Sort (keys, order)          ← SPILLABLE external sort of the
  *                                   already-pruned exchange output
  *   → final TopKPerKeyExec        ← streams first k rows per key, O(1)
  *
  * — the same partial/final contract as an aggregate (the map-side
  * combine the reference's MR engine hand-rolls), with no full-input
  * sort anywhere: the one Sort runs AFTER the partial prune, over at
  * most k rows per (key, upstream partition).
  *
  * STATE BOUND (spill-safe on both sides):
  *  - The partial heap map budgets its retained bytes through the
  *    task's [[org.apache.spark.memory.TaskMemoryManager]], exactly
  *    like Spark's own stateful operators: every net-new key and
  *    retained row RESERVES its estimated footprint via a
  *    [[TopKHeapConsumer]]; when the pool denies an acquisition (real
  *    executor memory pressure, competing consumers included) the
  *    operator FLUSHES — emits every current heap row downstream,
  *    releases the reservation, and starts over. A flush only weakens
  *    the map-side prune (more rows cross the exchange), never
  *    correctness: the final pass re-prunes. Million-group inputs
  *    therefore degrade gracefully toward the plain sort shape instead
  *    of OOMing, and a memory-starved executor flushes earlier —
  *    adaptively — rather than at a fixed row count.
  *  - `spark.graft.topKPerKey.maxLocalBytes` (default unlimited)
  *    additionally caps the reservation — the deterministic override
  *    specs use to force the flush path on a test session whose pool
  *    would otherwise never deny, and an operator-level guard rail for
  *    shared-executor deployments.
  *  - The consumer cannot spill asynchronously (rows can only be
  *    emitted inline, from the task's own iterator), so its `spill()`
  *    reports 0 to OTHER consumers' pressure; this operator reacts to
  *    pressure at its own next acquisition instead.
  *  - The final side holds no map at all: it requires its (pruned)
  *    input sorted by (keys, order) — Spark plans a spillable external
  *    sort — and keeps one counter per current key group.
  *
  * Results are deterministic iff `order` is a TOTAL order (callers
  * append a unique tiebreak column, as with every ranking operator in
  * this library).
  */
case class TopKPerKey(keys: Seq[Expression], order: Seq[SortOrder], k: Int,
    maxLocalBytes: Long, child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"k must be positive, got $k")
  require(maxLocalBytes > 0, s"maxLocalBytes must be positive, got $maxLocalBytes")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKey =
    copy(child = newChild)
}

/** Plans [[TopKPerKey]] as partial → (exchange + sort via required
  * distribution/ordering) → final.
  */
object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(keys, order, k, maxLocalBytes, child) =>
      val partialExec =
        TopKPerKeyExec(keys, order, k, maxLocalBytes, planLater(child), partial = true)
      TopKPerKeyExec(keys, order, k, maxLocalBytes, partialExec, partial = false) :: Nil
    case _ => Nil
  }
}

/** Task-memory accounting for the partial heap map. Reservations go
  * through the real executor pool (so competing operators see and
  * squeeze this one), with an optional hard byte cap on top.
  * `spill()` returns 0: heap rows can only leave through the task's own
  * iterator (see the operator scaladoc), so other consumers' pressure
  * is answered at this operator's next `reserve` instead.
  */
class TopKHeapConsumer(tmm: org.apache.spark.memory.TaskMemoryManager,
    byteCap: Long)
    extends org.apache.spark.memory.MemoryConsumer(
      tmm, org.apache.spark.memory.MemoryMode.ON_HEAP) {

  override def spill(size: Long, trigger: org.apache.spark.memory.MemoryConsumer): Long = 0L

  /** Try to reserve `bytes` more; false = flush now. Partial grants are
    * returned immediately so accounting stays exact.
    */
  def reserve(bytes: Long): Boolean =
    if (getUsed + bytes > byteCap) false
    else {
      val granted = acquireMemory(bytes)
      if (granted < bytes) { freeMemory(granted); false } else true
    }

  def releaseAll(): Unit = freeMemory(getUsed)
}

case class TopKPerKeyExec(keys: Seq[Expression], order: Seq[SortOrder], k: Int,
    maxLocalBytes: Long, child: SparkPlan, partial: Boolean) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(keys) :: Nil

  /** The final pass streams over key groups: it needs rows clustered
    * AND sorted — EnsureRequirements plans a spillable external sort
    * over the exchange's (partial-pruned) output.
    */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    if (partial) Seq(Nil) else Seq(finalOrdering)

  override def outputPartitioning: Partitioning = child.outputPartitioning

  /** The final output stays in its input sort order — downstream
    * consumers (ranking windows over the pruned rows) can reuse it.
    */
  override def outputOrdering: Seq[SortOrder] =
    if (partial) Nil else finalOrdering

  private def finalOrdering: Seq[SortOrder] =
    keys.map(kx => SortOrder(kx, Ascending)) ++ order

  override protected def doExecute(): RDD[InternalRow] = {
    val keyExprs = keys
    val sortOrder = order
    val limit = k
    val byteCap = maxLocalBytes
    val childOutput = child.output
    if (partial) {
      child.execute().mapPartitions({ rows =>
        val keyProj = UnsafeProjection.create(keyExprs, childOutput)
        // total order over rows; heap keeps the k FIRST rows under it by
        // evicting the current worst (heap head = largest = worst)
        val rowOrd = org.apache.spark.sql.catalyst.expressions.RowOrdering
          .create(sortOrder, childOutput)
        // real task-pool accounting (null only outside a task, e.g.
        // driver-local unit probes — then only byteCap governs)
        val tc = org.apache.spark.TaskContext.get()
        val consumer =
          if (tc == null) null
          else new TopKHeapConsumer(
            org.apache.spark.graft.MemoryBridge.taskMemoryManager(tc), byteCap)
        if (tc != null) tc.addTaskCompletionListener[Unit](_ => consumer.releaseAll())
        var untracked = 0L // byteCap fallback accounting when consumer == null
        def tryReserve(bytes: Long): Boolean =
          if (consumer != null) consumer.reserve(bytes)
          else if (untracked + bytes > byteCap) false
          else { untracked += bytes; true }
        def releaseAll(): Unit =
          if (consumer != null) consumer.releaseAll() else untracked = 0L
        // per-entry estimates: UnsafeRow payload + object/queue-node
        // overhead; keys also pay their HashMap entry. Evictions swap a
        // row for a same-schema row — size-neutral, nothing re-reserved.
        def rowCost(r: UnsafeRow): Long = r.getSizeInBytes + 64L
        def keyCost(kr: UnsafeRow): Long = kr.getSizeInBytes + 96L
        val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[UnsafeRow]]()
        var retained = 0L
        // snapshot-and-clear: emit every retained row, reset the map and
        // release its reservation — the memory-pressure escape hatch AND
        // the end-of-partition emission
        def drain(): Iterator[InternalRow] = {
          val buf = new scala.collection.mutable.ArrayBuffer[InternalRow](
            math.min(retained, Int.MaxValue.toLong).toInt)
          heaps.values.forEach { h =>
            val it = h.iterator()
            while (it.hasNext) buf += it.next()
          }
          heaps.clear()
          retained = 0L
          releaseAll()
          buf.iterator
        }
        rows.flatMap { row =>
          val key = keyProj(row)
          var heap = heaps.get(key)
          var cost = 0L
          if (heap == null) cost += keyCost(key)
          val unsafe = row.asInstanceOf[UnsafeRow]
          val grows = heap == null || heap.size < limit
          if (grows) cost += rowCost(unsafe)
          // deny → flush + retry; a second denial (pathologically tiny
          // pool) proceeds untracked — the heap then holds this one
          // entry and the next denial flushes it straight through
          val flushed =
            if (cost > 0 && !tryReserve(cost)) {
              val out = drain()
              tryReserve(cost)
              out
            } else Iterator.empty
          heap = heaps.get(key)
          if (heap == null) {
            heap = new java.util.PriorityQueue[UnsafeRow](
              limit + 1, rowOrd.reverse.asInstanceOf[java.util.Comparator[UnsafeRow]])
            heaps.put(key.copy(), heap)
          }
          if (heap.size < limit) {
            heap.add(unsafe.copy())
            retained += 1
          } else if (rowOrd.compare(row, heap.peek()) < 0) {
            heap.poll()
            heap.add(unsafe.copy())
          }
          flushed
        } ++ drain()
      }, preservesPartitioning = true)
    } else {
      // input is clustered by keys and sorted by (keys, order): the
      // exact top-k per key is the FIRST k rows of each key group —
      // one projection + one counter of state, nothing retained
      child.execute().mapPartitions({ rows =>
        val keyProj = UnsafeProjection.create(keyExprs, childOutput)
        var curKey: UnsafeRow = null
        var seen = 0
        rows.filter { row =>
          val key = keyProj(row)
          if (curKey == null || key != curKey) {
            curKey = key.copy()
            seen = 0
          }
          seen += 1
          seen <= limit
        }
      }, preservesPartitioning = true)
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

/** DataFrame-level entry point. Self-registers the strategy on the
  * DataFrame's session (idempotent) so the operator works on any
  * session, extensions-built or not.
  */
object TopKOps {
  def topKPerKey(df: DataFrame, keyCols: Seq[String], orderBy: Seq[Column],
      k: Int): DataFrame = {
    // reject at the API boundary: ClusteredDistribution(Nil) would fail
    // deep inside planning with an unrelated-looking error. Global
    // top-k (no keys) is orderBy(...).limit(k) — already optimal as
    // TakeOrderedAndProject.
    require(keyCols.nonEmpty,
      "topKPerKey needs at least one key column; for global top-k use orderBy(...).limit(k)")
    val spark = df.sparkSession
    ensureStrategy(spark)
    // partial-side heap budget: the task memory pool governs by
    // default; this conf adds a deterministic hard cap on top
    // (scaladoc above)
    val budget = spark.conf
      .get("spark.graft.topKPerKey.maxLocalBytes", Long.MaxValue.toString).toLong
    import org.apache.spark.sql.graft.ColumnBridge
    // Let the ANALYZER convert/resolve the sort Columns (Spark 4
    // Columns are lazy ColumnNode wrappers, not catalyst expressions):
    // analyze a throwaway sortWithinPartitions and harvest its orders.
    val sortNode = ColumnBridge.analyzedPlan(df.sortWithinPartitions(orderBy: _*))
      .collectFirst { case s: org.apache.spark.sql.catalyst.plans.logical.Sort => s }
      .getOrElse(throw new IllegalStateException("analyzer produced no Sort node"))
    val child = sortNode.child
    // resolve keys with the session's resolver (case-insensitive by
    // default, like every other Spark API) and refuse ambiguity instead
    // of silently binding the first duplicate name
    val resolver = spark.sessionState.conf.resolver
    val keyExprs: Seq[Expression] = keyCols.map { n =>
      child.output.filter(a => resolver(a.name, n)) match {
        case Seq(one) => one
        case Seq() => throw new IllegalArgumentException(
          s"no column $n in ${child.output.map(_.name).mkString(", ")}")
        case many => throw new IllegalArgumentException(
          s"ambiguous column $n: matches ${many.mkString(", ")}")
      }
    }
    ColumnBridge.ofRows(spark, TopKPerKey(keyExprs, sortNode.order, k, budget, child))
  }

  def ensureStrategy(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(TopKPerKeyStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKPerKeyStrategy
}
