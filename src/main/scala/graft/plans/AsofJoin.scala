package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Ascending, Attribute, BindReferences, Expression, GenericInternalRow, IsNotNull, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** AS-OF JOIN as a first-class operator — the whole-operator extension
  * seam (SURVEY §4's option (c): custom LogicalPlan + SparkStrategy +
  * physical exec, injected via SparkSessionExtensions), demonstrated on
  * the one relational operator Spark's DataFrame algebra genuinely lacks.
  *
  * Semantics: for every left row (k, t), attach the latest right row with
  * the same key and rightTime ≤ t; unmatched left rows null-extend (LEFT
  * as-of). q6 expresses this via the union+range-window trick — correct
  * and one-shuffle, but it materializes the unioned stream through one
  * window operator and carries every right column through the window
  * frame. This operator is the direct physical form: both sides hash-
  * partition on the key and sort by (key, time) — exactly the exchange
  * the window plan pays — then ONE streaming merge pass per partition
  * holds at most a single buffered right row. No union, no window
  * buffer, right columns never enter a frame; memory per partition is
  * O(1) beyond the sort.
  *
  * Determinism contract: ties in rightTime keep the last row in (key,
  * time) sort order, so callers that need row-identity determinism must
  * either emit only the time (as q6b does) or give rightTime a total
  * order. The planner seam: [[AsofJoinStrategy]] pattern-matches the
  * logical node and emits [[AsofJoinExec]]; everything else (exchange
  * planning, sort insertion, AQE reuse) is stock Spark reacting to the
  * exec's declared requiredChildDistribution/Ordering — the point of
  * doing this at the Catalyst seam instead of zipPartitions by hand.
  *
  * The ONLY internal API touched is `classic.Dataset.ofRows` (public in
  * bytecode, `private[sql]` in source), reached via one documented
  * reflective call to wrap the logical node back into a DataFrame. */
case class AsofJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Attribute,
    rightKey: Attribute,
    leftTime: Attribute,
    rightTime: Attribute) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      l: LogicalPlan, r: LogicalPlan): AsofJoinPlan = copy(left = l, right = r)
}

object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoinPlan(l, r, lk, rk, lt, rt) =>
      AsofJoinExec(lk, rk, lt, rt, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

case class AsofJoinExec(
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression,
    left: SparkPlan,
    right: SparkPlan) extends SparkPlan with BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  // both sides cluster on the key; EnsureRequirements co-partitions them
  // (the SortMergeJoin contract) and inserts the (key, time) sorts below
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)))
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  protected override def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val (lk, rk, lt, rt) = (leftKey, rightKey, leftTime, rightTime)
    val keyOrd = TypeUtils.getInterpretedOrdering(leftKey.dataType)
    val timeOrd = TypeUtils.getInterpretedOrdering(leftTime.dataType)
    val outAttrs = output
    left.execute().zipPartitions(right.execute()) { (li, ri) =>
      val bLk = BindReferences.bindReference(lk, lOut)
      val bLt = BindReferences.bindReference(lt, lOut)
      val bRk = BindReferences.bindReference(rk, rOut)
      val bRt = BindReferences.bindReference(rt, rOut)
      val proj = UnsafeProjection.create(outAttrs, outAttrs)
      val joiner = new JoinedRow
      val nullRight = new GenericInternalRow(rOut.size)
      var rNext: InternalRow = if (ri.hasNext) ri.next() else null
      var held: InternalRow = null
      var heldKey: Any = null
      li.map { lrow =>
        val k = bLk.eval(lrow)
        val t = bLt.eval(lrow)
        // skip right keys strictly before this left key
        while (rNext != null && keyOrd.compare(bRk.eval(rNext), k) < 0)
          rNext = if (ri.hasNext) ri.next() else null
        // absorb right rows for THIS key with time <= t (last one wins).
        // heldKey is evaluated on the COPIED row: for buffer-backed types
        // (UTF8String, Decimal) a value evaluated on the iterator's reused
        // row would alias memory that the next advance re-points, and the
        // stale-key guard below would compare garbage
        while (rNext != null && keyOrd.compare(bRk.eval(rNext), k) == 0 &&
            timeOrd.compare(bRt.eval(rNext), t) <= 0) {
          held = rNext.copy()
          heldKey = bRk.eval(held)
          rNext = if (ri.hasNext) ri.next() else null
        }
        val matched = held != null && heldKey != null && keyOrd.compare(heldKey, k) == 0
        proj(joiner(lrow, if (matched) held else nullRight))
      }
    }
  }

  override protected def withNewChildrenInternal(
      l: SparkPlan, r: SparkPlan): AsofJoinExec = copy(left = l, right = r)
}

object AsofJoin {
  /** Wrap two analyzed frames into the as-of logical node. Column names
    * must be disambiguated by the caller (rename the right side).
    *
    * Null contract (ENFORCED at analysis time, r8): the merge loop's
    * interpreted orderings define no null ordering, so rows with an
    * SQL-null key or time are EXCLUDED from both sides — asof() inserts
    * IsNotNull filters under the node whenever an attribute is nullable
    * (a filter rather than a rejection because Spark keeps attributes
    * nullable even below an explicit IsNotNull filter, so rejecting
    * nullable types would ban every nullable-typed column outright).
    * Note this drops null-key LEFT rows too — a null as-of key has no
    * meaningful match, and silently null-extending it would hide data
    * quality problems the caller should see.
    *
    * The node plans only on a session carrying
    * [[graft.functions.GraftExtensions]] (its [[AsofJoinStrategy]]). */
  def asof(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String): DataFrame = {
    val lp = left.queryExecution.analyzed
    val rp = right.queryExecution.analyzed
    def attr(p: LogicalPlan, name: String): Attribute =
      p.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"asof: no column '$name' in [${p.output.map(_.name).mkString(", ")}]"))
    val (lk, rk) = (attr(lp, leftKey), attr(rp, rightKey))
    val (lt, rt) = (attr(lp, leftTime), attr(rp, rightTime))
    // same-type keys/times are load-bearing twice over: the interpreted
    // orderings are built from the LEFT types, and hash partitioning of
    // equal values only co-locates when the types (hence hashes) match
    require(lk.dataType == rk.dataType,
      s"asof: key types differ (${lk.dataType} vs ${rk.dataType})")
    require(lt.dataType == rt.dataType,
      s"asof: time types differ (${lt.dataType} vs ${rt.dataType})")
    // enforce the non-null contract in the PLAN: nullable key/time
    // attributes get an IsNotNull filter beneath the node, so a null can
    // never reach the merge loop's interpreted comparisons at runtime
    def guarded(p: LogicalPlan, k: Attribute, t: Attribute): LogicalPlan = {
      val conds = Seq(k, t).filter(_.nullable).map(IsNotNull)
      if (conds.isEmpty) p else Filter(conds.reduce(And), p)
    }
    val node = AsofJoinPlan(
      guarded(lp, lk, lt), guarded(rp, rk, rt), lk, rk, lt, rt)
    ofRows(left.sparkSession, node)
  }

  // classic.Dataset.ofRows is private[sql] in source but public in
  // bytecode; this is the single internal touch point, kept in one place
  private def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame = {
    val m = Class.forName("org.apache.spark.sql.classic.Dataset")
      .getMethod("ofRows",
        Class.forName("org.apache.spark.sql.classic.SparkSession"),
        classOf[LogicalPlan])
    m.invoke(null, spark, plan).asInstanceOf[DataFrame]
  }
}
