package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftbridge.Bridge

/** Bounded top-k per key as a NATIVE Catalyst operator — the custom
  * LogicalPlan + Strategy + SparkPlan path (extension mechanism (c) of the
  * build mandate) for `row_number() OVER (PARTITION BY key ORDER BY …)
  * <= k`. Spark 3.5+ DOES bound this idiom itself — `InferWindowGroupLimit`
  * plans partial+final `WindowGroupLimitExec` around the exchange (verified
  * in this engine's own q_knn_multi plan) — but each WindowGroupLimit
  * requires a SortExec of its input: the full candidate relation is sorted
  * once per side even though only k rows per key survive.
  * [[TopKPerKeyExec]] keeps a k-bounded heap per key inside each task
  * instead: O(n log k) comparisons, NO sort of the input, and memory
  * bounded even against adversarial KEY cardinality (see flush contract
  * below) — the properties the sort-based form can't give at 100 TB.
  *
  * Distribution contract: `requiredChildDistribution =
  * ClusteredDistribution(keys)` — EnsureRequirements inserts the same
  * hash-partition Exchange the window would need, but no SortExec follows
  * it.
  *
  * Output contract — SUPERSET, not exact: the operator guarantees every
  * true per-key top-k row of the partition is emitted, and under normal
  * memory emits exactly those; when buffered heap bytes exceed
  * `spark.graft.topk.flushBytes` (default 64 MiB per task) it drains all
  * heaps to the output and starts fresh, so a high-cardinality key stream
  * degrades to bounded-memory multi-chunk pruning instead of an executor
  * OOM (a per-chunk top-k is a superset of the partition top-k restricted
  * to that chunk). Consumers therefore re-rank: every call site runs the
  * ranking window + `rn <= k` filter over the survivors, and the
  * [[Rewrite]] path keeps the original Filter+Window above the node, so
  * exactness is restored by construction in both paths.
  *
  * Determinism: callers must include a unique tiebreak column in the
  * ordering (the same rule every oracle query already follows). Rows TIED
  * on a non-unique ordering may differ between the heap and sort forms —
  * which is also why [[Rewrite]] only fires on deterministic orderings and
  * why the tiebreak rule is part of the public contract.
  *
  * Capability context: generalizes the reference's single-query top-k
  * (vector_search_tool.py:33-79) to the batch/multi-query form as a
  * first-class physical operator; oracle-gated via `q_knn_multi_native`
  * against the identical SQL the window formulation answers.
  */
object TopKPerKey {

  /** Logical marker node: output = child output, top-k rows per key. */
  final case class Node(keyExprs: Seq[Expression], sortOrder: Seq[SortOrder],
                        k: Int, child: LogicalPlan) extends UnaryNode {
    override def output: Seq[Attribute] = child.output
    override protected def withNewChildInternal(newChild: LogicalPlan): Node =
      copy(child = newChild)
  }

  /** Planner rule mapping the marker node onto its physical operator. */
  object Strategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case Node(keys, order, k, child) =>
        TopKPerKeyExec(keys, order, k, planLater(child)) :: Nil
      case _ => Nil
    }
  }

  /** Optimizer rewrite (mechanism: `Rule[LogicalPlan]` via
    * `experimental.extraOptimizations`): any
    * `Filter(row_number <= k, Window(row_number() OVER (PARTITION BY …
    * ORDER BY …)))` — the idiom every per-group top-k query in this
    * engine writes — gets a [[Node]] inserted UNDER the window, so the
    * heavy relation is heap-pruned before WindowExec ranks the ≤ k-per-key
    * survivors (plus any flush-superset rows, which the retained filter
    * re-prunes). The filter and window stay in place: the recomputed
    * row_number over the surviving rows is identical to the original AS
    * LONG AS the ordering is deterministic and survivors are ranked the
    * same way, so the rule is guarded on deterministic partition/order
    * expressions — a nondeterministic order expression (e.g. rand()) would
    * re-evaluate differently above the node and the prune could keep the
    * wrong rows. Tie caveat (docstring contract, not checked statically):
    * with a non-unique ordering the heap may keep different boundary-tied
    * rows than WindowExec would — every query in this engine orders with a
    * unique tiebreak, which makes ties impossible.
    *
    * Relation to stock Spark: `InferWindowGroupLimit` (3.5+) runs in the
    * optimizer batch IMMEDIATELY BEFORE user-provided rules, so by the
    * time this rewrite sees the plan the idiom has already become
    * `Filter → Window → WindowGroupLimit → child`. The rule therefore
    * REPLACES the WindowGroupLimit with [[Node]] (same partition/order/
    * limit contract, heap instead of Sort + rank-scan on both sides of
    * the exchange) — inserting the node UNDER the group-limit, as the
    * first round-4 version did, would leave the full-input local sorts in
    * the plan and stack a redundant second prune (caught by the round-4
    * high-effort review, empirically confirmed against Spark 4.1.2's
    * batch order). Session default: ON in this engine's own harness entry
    * points — [[graft.Harness.session]] is the one place that reads the
    * `SPARK_GRAFT_REWRITE=0` off-switch (see SCALE.md for the measured
    * decision record).
    */
  object Rewrite extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Window, WindowGroupLimit}

    private def limitOf(cond: Expression, rn: ExprId): Option[Int] = cond match {
      case LessThanOrEqual(a: AttributeReference, IntegerLiteral(k)) if a.exprId == rn => Some(k)
      case LessThan(a: AttributeReference, IntegerLiteral(k)) if a.exprId == rn => Some(k - 1)
      case EqualTo(a: AttributeReference, IntegerLiteral(1)) if a.exprId == rn => Some(1)
      case _ => None
    }

    override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
      case f @ Filter(cond,
          w @ Window(Seq(alias @ Alias(WindowExpression(RowNumber(), _), _)),
            partSpec, orderSpec, child, _))
          if partSpec.nonEmpty && orderSpec.nonEmpty &&
            partSpec.forall(_.deterministic) && orderSpec.forall(_.deterministic) &&
            limitOf(cond, alias.exprId).exists(_ > 0) =>
        val k = limitOf(cond, alias.exprId).get
        child match {
          // already rewritten (idempotence must look THROUGH an
          // interposed WindowGroupLimit, not only at the direct child —
          // a perKey call site under the rewrite is
          // Window → WindowGroupLimit → Node after batch 36)
          case _: Node => f
          case wgl: WindowGroupLimit if wgl.child.isInstanceOf[Node] => f
          // the inferred group-limit for THIS window: substitute the heap
          // for it, taking over its prune
          // `wgl.limit >= k` makes the equivalence assumption explicit:
          // today InferWindowGroupLimit derives its limit from the same
          // rn<=k predicate so they always agree, but a future rule
          // producing a SMALLER group limit under the same specs would be
          // the tighter prune — substituting Node(k) for it would emit
          // top-k where the plan promised top-limit. Fall through to the
          // insert-under case instead (ADVICE round 4).
          case wgl: WindowGroupLimit
              if wgl.partitionSpec == partSpec && wgl.orderSpec == orderSpec &&
                wgl.limit >= k =>
            f.copy(child = w.copy(child = Node(partSpec, orderSpec, k, wgl.child)))
          case other =>
            f.copy(child = w.copy(child = Node(partSpec, orderSpec, k, other)))
        }
    }
  }

  /** Turn the window-top-k auto-rewrite on for a session (registers the
    * planner strategy too — the rewrite plans [[Node]]s). */
  def enableRewrite(spark: org.apache.spark.sql.SparkSession): Unit = {
    Bridge.addStrategy(spark, Strategy)
    Bridge.addOptimization(spark, Rewrite)
  }

  def disableRewrite(spark: org.apache.spark.sql.SparkSession): Unit =
    Bridge.removeOptimization(spark, Rewrite)

  /** Public entry: top-k rows per key by the given ordering.
    * `orderCols`: (column name, ascending?) — include a unique tiebreak.
    * Registers [[Strategy]] on the session (idempotent) and wraps the
    * analyzed child plan, resolving key/order names against its output.
    */
  def perKey(df: DataFrame, keyCols: Seq[String],
             orderCols: Seq[(String, Boolean)], k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(keyCols.nonEmpty,
      "keyCols must be non-empty (ClusteredDistribution(Nil) fails deep in " +
        "planning; for a GLOBAL top-k use orderBy + limit, which plans " +
        "TakeOrderedAndProject)")
    Bridge.addStrategy(df.sparkSession, Strategy)
    val child = df.queryExecution.analyzed
    // resolve with the session's resolver, not bare string equality —
    // spark.sql.caseSensitive=false (the default) must behave here as it
    // does in every other DataFrame API (round-4 review)
    val resolver = df.sparkSession.sessionState.analyzer.resolver
    def attr(n: String): Attribute = child.output.find(a => resolver(a.name, n)).getOrElse(
      throw new IllegalArgumentException(
        s"column $n not in ${child.output.map(_.name).mkString(", ")}"))
    val keys = keyCols.map(attr(_): Expression)
    val order = orderCols.map { case (n, asc) =>
      SortOrder(attr(n), if (asc) Ascending else Descending)
    }
    Bridge.ofRows(df.sparkSession, Node(keys, order, k, child))
  }
}

/** Physical bounded-heap top-k per key; see [[TopKPerKey]]. */
final case class TopKPerKeyExec(keyExprs: Seq[Expression], sortOrder: Seq[SortOrder],
                                k: Int, child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keyExprs) :: Nil
  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)

  protected override def doExecute(): RDD[InternalRow] = {
    val schema = child.output
    val kLocal = k
    val keys = keyExprs
    val order = sortOrder
    // memory bound for the per-task heap map (see the flush contract in the
    // companion scaladoc): buffered row+key bytes past this threshold drain
    // every heap to the output and restart — the operator's state stays
    // O(flushBytes) no matter how many distinct keys a partition holds,
    // where the unbounded map would OOM on a high-cardinality key column.
    val flushBytes = conf.getConfString("spark.graft.topk.flushBytes",
      (64L * 1024 * 1024).toString).toLong
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(keys, schema)
      // "smaller" per this ordering = earlier in the requested sort =
      // better; the heap dequeues its ordering-MAX, i.e. the worst kept row
      val ord = RowOrdering.create(order, schema)
      val heaps = scala.collection.mutable.LinkedHashMap
        .empty[UnsafeRow, scala.collection.mutable.PriorityQueue[InternalRow]]
      var bufferedBytes = 0L
      // conservative JVM-overhead charge per distinct key: map entry
      // (~40 B) + PriorityQueue instance (~48 B) + initial backing array
      // (~80 B) — see the None-arm comment below
      val perKeyOverhead = 168L
      def sizeOf(row: InternalRow): Long = row match {
        case u: UnsafeRow => u.getSizeInBytes.toLong
        case _ => 64L // conservative placeholder for non-Unsafe rows
      }
      def insert(row: InternalRow): Unit = {
        val key = keyProj(row)
        heaps.get(key) match {
          case Some(heap) =>
            if (heap.size < kLocal) {
              val c = row.copy(); heap.enqueue(c); bufferedBytes += sizeOf(c)
            } else if (ord.compare(row, heap.head) < 0) {
              val out = heap.dequeue(); bufferedBytes -= sizeOf(out)
              val c = row.copy(); heap.enqueue(c); bufferedBytes += sizeOf(c)
            }
          case None =>
            val heap = scala.collection.mutable.PriorityQueue.empty[InternalRow](ord)
            val c = row.copy(); heap.enqueue(c)
            val kc = key.copy()
            heaps.put(kc, heap)
            // + perKeyOverhead: the LinkedHashMap entry, PriorityQueue
            // object, and its backing array are real heap bytes the row
            // payload doesn't count — without it, adversarial
            // high-key-cardinality input with tiny rows overshoots the
            // flushBytes promise several-fold (ADVICE round 4).
            bufferedBytes += sizeOf(c) + kc.getSizeInBytes + perKeyOverhead
        }
      }
      def drain(): Iterator[InternalRow] = {
        val queues = heaps.values.toList
        heaps.clear()
        bufferedBytes = 0L
        queues.iterator.flatMap(_.iterator)
      }
      new scala.collection.AbstractIterator[InternalRow] {
        private var cur: Iterator[InternalRow] = Iterator.empty
        override def hasNext: Boolean = {
          while (!cur.hasNext && (iter.hasNext || heaps.nonEmpty)) {
            if (!iter.hasNext) cur = drain() // input exhausted: final drain
            else {
              insert(iter.next())
              if (bufferedBytes > flushBytes) cur = drain()
            }
          }
          cur.hasNext
        }
        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException("empty iterator")
          cur.next()
        }
      }
    }, preservesPartitioning = true)
  }
}
