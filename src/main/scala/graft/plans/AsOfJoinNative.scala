package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute,
  EqualTo, Expression, GenericInternalRow, JoinedRow, SortOrder, Unevaluable,
  UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, Join,
  LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution,
  Distribution, Partitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}

/** Native AS-OF join — the brief's preference (c): a whole-operator
  * extension as LogicalPlan + Rule + Strategy + SparkPlan, registered
  * through public `SparkSessionExtensions` hooks, for the one temporal
  * operator Spark has no physical node for.
  *
  * Why a physical operator when [[graft.ops.Temporal.asOfJoin]] already
  * composes the semantics: the composition pays a UNION of both inputs
  * through one window pass — every right row is materialized into the
  * left row-shape, and the window carries a full right-row struct per
  * row of the union. The native exec instead co-partitions both sides
  * on the key (EnsureRequirements inserts the exchanges), sorts each
  * side once by (key, ts) — the same work a sort-merge join does — and
  * streams a PER-PARTITION MERGE holding exactly ONE candidate right
  * row at a time: no union, no row-shape blowup, no window state. At
  * 100 TB that is the difference between shuffling |L|+|R| widened rows
  * and shuffling each side in its own shape.
  *
  * Surface: users write the declarative marker
  * `left.join(right, key === key && graft_asof(lts, rts, tie))`
  * (q197 writes it with `call_function`); the injected optimizer
  * rule rewrites the Join into [[AsOfJoinPlan]], and the injected
  * strategy plans [[AsOfJoinExec]]. The marker is deliberately
  * UNEVALUABLE: if the rewrite does not fire (rule excluded), the query
  * fails loudly at planning rather than silently computing a different
  * join.
  *
  * Semantics (matches the composition, pinned in AsOfNativeSpec): for
  * each left row, the right row with the greatest `rightTs <= leftTs`
  * for the same key; ties on `rightTs` break to the greatest
  * `rightTie`; unmatched left rows keep NULL right columns
  * (left-outer). Keys and timestamps are BIGINT (epoch micros — the
  * engine's instant encoding); NULL keys or timestamps never match.
  * (key, ts, tie) must uniquely identify right rows: on full duplicates
  * the merge exec and the broadcast exec may each keep a different one.
  */
case class AsOfMarker(leftTs: Expression, rightTs: Expression,
    rightTie: Expression) extends Expression with Unevaluable {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(leftTs, rightTs, rightTie)
  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(_.dataType == LongType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_asof expects BIGINT (ts_left, ts_right, tie_right), got " +
        children.map(_.dataType.simpleString).mkString(", "))
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): AsOfMarker =
    copy(leftTs = newChildren(0), rightTs = newChildren(1),
      rightTie = newChildren(2))
}

/** Logical AS-OF join node (left-outer as-of; see [[AsOfMarker]]). */
case class AsOfJoinPlan(left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, rightKey: Expression,
    leftTs: Expression, rightTs: Expression,
    rightTie: Expression) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Rewrites `Join(Inner, key = key AND graft_asof(...))` into
  * [[AsOfJoinPlan]]. Strict: exactly the equality + the marker — any
  * extra conjunct leaves the join untouched (and the unevaluable marker
  * then fails planning loudly; pre-filter inputs instead).
  *
  * Injected as a RESOLUTION rule, not an optimizer rule: the as-of is
  * left-outer (right side nullable) while the marker Join is inner
  * (right side non-null), so the swap must happen BEFORE any parent
  * operator resolves against the join's output nullability — an
  * optimizer-time rewrite left parents reading the right columns as
  * non-null and codegen silently turned NULL into 0. */
object AsOfRewrite extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(l, r, Inner, Some(cond), _) if j.resolved =>
      splitAnd(cond) match {
        case Seq(a, b) =>
          val (eqOpt, mkOpt) = (a, b) match {
            case (e: EqualTo, m: AsOfMarker) => (Some(e), Some(m))
            case (m: AsOfMarker, e: EqualTo) => (Some(e), Some(m))
            case _ => (None, None)
          }
          (eqOpt, mkOpt) match {
            case (Some(eq), Some(mk)) =>
              // orient the equality to (left side, right side)
              val keys =
                if (eq.left.references.subsetOf(l.outputSet) &&
                  eq.right.references.subsetOf(r.outputSet))
                  Some((eq.left, eq.right))
                else if (eq.right.references.subsetOf(l.outputSet) &&
                  eq.left.references.subsetOf(r.outputSet))
                  Some((eq.right, eq.left))
                else None
              val sidesOk =
                mk.leftTs.references.subsetOf(l.outputSet) &&
                  mk.rightTs.references.subsetOf(r.outputSet) &&
                  mk.rightTie.references.subsetOf(r.outputSet)
              keys match {
                case Some((lk, rk)) if sidesOk =>
                  AsOfJoinPlan(l, r, lk, rk, mk.leftTs, mk.rightTs, mk.rightTie)
                case _ => j
              }
            case _ => j
          }
        case _ => j
      }
  }

  private def splitAnd(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(a, b) =>
      splitAnd(a) ++ splitAnd(b)
    case other => Seq(other)
  }
}

/** Plans [[AsOfJoinPlan]] — with the same COST-BASED physical choice
  * Spark's JoinSelection makes, PLUS a row-aware term the byte rule
  * misses: a right side whose stats fit under
  * `spark.sql.autoBroadcastJoinThreshold` AND whose row count fits
  * under `spark.graft.asof.broadcastRowLimit` plans as
  * [[AsOfBroadcastExec]] (left side never shuffles at all — the
  * dimension-versions case), anything larger as the co-partitioned
  * [[AsOfJoinExec]] merge; threshold ≤ 0 disables broadcast, exactly
  * like the built-in joins.
  *
  * Why rows, not just bytes: the broadcast exec's real cost is the
  * PER-TASK index build — every task sorts all |R| rows into its
  * per-key version lists, so total work is |R| log |R| × tasks,
  * where BroadcastHashJoin's per-task hash build is nearer O(|R|).
  * The round-11 as-of probe (bench/README.md, "Round-11 operators at
  * sf0.1 → sf1"): at a ~10k-row right side broadcast wins (0.182 s
  * vs 0.216 s merge);
  * at ~100k rows — still comfortably inside 10 MB — it LOSES
  * (0.748 s vs 0.488 s), because 32 tasks each re-sorted 100k rows.
  * The default row limit (32768) sits between the probe's two
  * shapes. Row count comes from `stats.rowCount` when the node
  * carries it (Range, CBO-analyzed tables, AQE re-plans); otherwise
  * it is estimated as sizeInBytes / row width from the schema's
  * default sizes — same bytes the byte rule already trusts. */
case class AsOfJoinStrategy(spark: SparkSession)
    extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lts, rts, tie) =>
      val thr = spark.sessionState.conf.autoBroadcastJoinThreshold
      val rowLimit = spark.sessionState.conf
        .getConfString("spark.graft.asof.broadcastRowLimit", "32768").toLong
      val stats = r.stats
      val rows = stats.rowCount.map(_.toLong).getOrElse {
        // same per-row width the size-only stats visitor scales by
        // (EstimationUtils.getSizePerRow: 8-byte row overhead + field
        // default sizes) — the estimate inherits that visitor's slop,
        // which is fine for a guardrail threshold
        val width = 8L + r.output.map(_.dataType.defaultSize.toLong).sum
        (stats.sizeInBytes / width).toLong
      }
      if (thr > 0 && stats.sizeInBytes <= thr && rows <= rowLimit)
        AsOfBroadcastExec(lk, rk, lts, rts, tie,
          planLater(l), planLater(r)) :: Nil
      else
        AsOfJoinExec(lk, rk, lts, rts, tie,
          planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Physical as-of merge join. Requires both children clustered on the
  * key with the SAME partition count (EnsureRequirements inserts the
  * exchanges) and sorted by (key, ts[, tie]); then each partition pair
  * streams a single-pass merge holding one candidate right row. */
case class AsOfJoinExec(leftKey: Expression, rightKey: Expression,
    leftTs: Expression, rightTs: Expression, rightTie: Expression,
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] = {
    val n = Some(conf.numShufflePartitions)
    Seq(ClusteredDistribution(Seq(leftKey), requiredNumPartitions = n),
      ClusteredDistribution(Seq(rightKey), requiredNumPartitions = n))
  }

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending),
      SortOrder(rightTie, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  protected override def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lk = leftKey
    val lt = leftTs
    val rk = rightKey
    val rt = rightTs
    val numRight = rOut.size
    val outAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      // (key, ts) extractors bound to each side's row shape
      val lProj = UnsafeProjection.create(Seq(lk, lt), lOut)
      val rProj = UnsafeProjection.create(Seq(rk, rt), rOut)
      val nullRight = new GenericInternalRow(numRight)
      val joined = new JoinedRow
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)

      new Iterator[InternalRow] {
        // the right cursor: one buffered upcoming row + one candidate
        private var nextRight: InternalRow = _
        private var nextRightKey = 0L
        private var nextRightTs = 0L
        private var haveNext = false
        private var candidate: InternalRow = _
        private var candidateKey = 0L
        advanceRightCursor()

        private def advanceRightCursor(): Unit = {
          haveNext = false
          while (!haveNext && rIter.hasNext) {
            val row = rIter.next()
            val kv = rProj(row)
            // NULL key/ts rows can never match — skip them here
            if (!kv.isNullAt(0) && !kv.isNullAt(1)) {
              nextRightKey = kv.getLong(0)
              nextRightTs = kv.getLong(1)
              nextRight = row.copy() // iterators reuse row buffers
              haveNext = true
            }
          }
        }

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val lRow = lIter.next()
          val kv = lProj(lRow)
          if (kv.isNullAt(0) || kv.isNullAt(1)) {
            resultProj(joined(lRow, nullRight))
          } else {
            val key = kv.getLong(0)
            val ts = kv.getLong(1)
            // consume right rows with (rkey < key) or
            // (rkey == key && rts <= ts); the LAST kept becomes the
            // candidate (sorted by tie, so the greatest tie wins)
            while (haveNext && (nextRightKey < key ||
              (nextRightKey == key && nextRightTs <= ts))) {
              if (nextRightKey == key) {
                candidate = nextRight
                candidateKey = key
              }
              advanceRightCursor()
            }
            if (candidate != null && candidateKey == key)
              resultProj(joined(lRow, candidate))
            else resultProj(joined(lRow, nullRight))
          }
        }
      }
    }
  }

  protected override def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Broadcast as-of: the right side ships whole to every task (the
  * BroadcastHashJoin shape — right here for dimension-version tables),
  * so the LEFT SIDE NEVER SHUFFLES OR SORTS: the operator preserves
  * the left child's partitioning and ordering, and each partition
  * answers its rows by binary search over the broadcast side's per-key
  * sorted versions. The per-task index build is |R| log |R| — the same
  * trade BroadcastHashJoin makes building its HashedRelation. */
case class AsOfBroadcastExec(leftKey: Expression, rightKey: Expression,
    leftTs: Expression, rightTs: Expression, rightTie: Expression,
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    Seq(org.apache.spark.sql.catalyst.plans.physical.UnspecifiedDistribution,
      org.apache.spark.sql.catalyst.plans.physical.BroadcastDistribution(
        org.apache.spark.sql.catalyst.plans.physical.IdentityBroadcastMode))

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  protected override def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lk = leftKey
    val lt = leftTs
    val rk = rightKey
    val rt = rightTs
    val tie = rightTie
    val numRight = rOut.size
    val outAttrs = output
    val broadcastRows = right.executeBroadcast[Array[InternalRow]]()
    left.execute().mapPartitions { lIter =>
      val rProj = UnsafeProjection.create(Seq(rk, rt, tie), rOut)
      // per-key version lists sorted by (ts, tie) — ONE build per task
      val index = new java.util.HashMap[Long, Array[(Long, Long, InternalRow)]]()
      locally {
        val tmp = new java.util.HashMap[Long,
          scala.collection.mutable.ArrayBuffer[(Long, Long, InternalRow)]]()
        broadcastRows.value.foreach { row =>
          val kv = rProj(row)
          if (!kv.isNullAt(0) && !kv.isNullAt(1)) {
            val buf = tmp.computeIfAbsent(kv.getLong(0),
              _ => scala.collection.mutable.ArrayBuffer.empty)
            buf += ((kv.getLong(1),
              if (kv.isNullAt(2)) Long.MinValue else kv.getLong(2), row))
          }
        }
        tmp.forEach { (k, buf) =>
          index.put(k, buf.sortBy(t => (t._1, t._2)).toArray)
        }
      }
      val lProj = UnsafeProjection.create(Seq(lk, lt), lOut)
      val nullRight = new GenericInternalRow(numRight)
      val joined = new JoinedRow
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      lIter.map { lRow =>
        val kv = lProj(lRow)
        val matched: InternalRow =
          if (kv.isNullAt(0) || kv.isNullAt(1)) nullRight
          else {
            val versions = index.get(kv.getLong(0))
            if (versions == null) nullRight
            else {
              // greatest index with ts <= lts (versions sorted asc)
              val lts = kv.getLong(1)
              var lo = 0
              var hi = versions.length - 1
              var ans = -1
              while (lo <= hi) {
                val mid = (lo + hi) >>> 1
                if (versions(mid)._1 <= lts) { ans = mid; lo = mid + 1 }
                else hi = mid - 1
              }
              if (ans < 0) nullRight else versions(ans)._3
            }
          }
        resultProj(joined(lRow, matched))
      }
    }
  }

  protected override def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfBroadcastExec =
    copy(left = newLeft, right = newRight)
}
