package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.catalyst.plans.{ExistenceJoin, JoinType, LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.physical.{RoundRobinPartitioning, SinglePartition,
  UnknownPartitioning, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{Exchange, REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec,
  CartesianProductExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.types.{ByteType, DecimalType, IntegerType, LongType, ShortType}

/** The one place that decides when an under-split scan is fanned out
  * across the cores: a physical rule that puts the exchange
  * `Dataset.repartition(defaultParallelism)` plans (`RoundRobinPartitioning`,
  * origin `REPARTITION_BY_NUM`, which AQE never coalesces) directly above
  * a leaf and that leaf's own filters and work-free projections (where
  * the optimizer puts a hand-placed repartition's pushed-down filters;
  * q58's count-min filter measured 0.86 → 1.13 s with the exchange below
  * it, r20). The model is the exchange
  * placement of the Synapse Spark optimizer (VLDB'21), injected through
  * the extension points of Spark SQL (SIGMOD'15) as a post-planner
  * strategy rule ([[graft.functions.GraftExtensions]]): it sees the
  * planner's broadcast decisions and the aggregate functions before
  * `EnsureRequirements` runs, and AQE applies it again on every re-plan
  * (an exchange already placed is a query stage by then, so it is never
  * placed twice). With AQE off, or on a plan AQE does not wrap (no
  * exchange and no required distribution), the rule does not run.
  *
  * The exchange is placed only when all three clauses hold:
  *
  *  - (a) Under-split leaf. The leaf offers fewer partitions than
  *    `defaultParallelism`. A file scan offers its planned splits, at
  *    most one per file: the tables here are one parquet row group per
  *    file, and a split holding no row-group start reads nothing (sf0.1
  *    lineitem plans 3 splits on 4 cores, all its rows in one). A
  *    checkpointed artifact offers its RDD's partitions. A leaf whose
  *    output is hash- or range-partitioned (a bucketed scan) keeps it.
  *  - (b) Order-insensitive above. INVARIANT: every aggregate and window
  *    function between the leaf and the root computes the same value for
  *    any order and grouping of its input rows — COUNT, MIN/MAX, and
  *    SUM/AVG over integral or decimal input — and every expression on
  *    that path is deterministic, and no unordered limit or sample sits on
  *    it. So the rows cannot depend on the degree of parallelism. A float
  *    SUM/AVG refuses the rule: re-associating double addition moves the
  *    last ulps, and the driver's result hash sees them (the r12 fs02
  *    incident: a 9e-7 difference on a 5.6e8 sum went red). So do
  *    `first`/`last`/`collect_*`, every other aggregate, and ranking
  *    and offset window functions (`row_number`, `lag`), whose ties
  *    resolve by arrival order.
  *  - (c) Per-row work the plan shows. The narrow pipeline from the leaf
  *    up to the next exchange (or the next operator that requires a
  *    distribution of it) carries work that repays the exchange:
  *    - two or more broadcast hash-join probes into fact-sized build
  *      sides: each build at least half the stream's size by the
  *      planner's estimate, so that the join can multiply rows. hv02's
  *      probes of orders and of the 591k-row derived partsupp (a 30×
  *      fan-out, 15.5M joined rows at sf0.1) went 4.38 → 2.47 s when
  *      spread (r20). One such probe does not repay: hv01 went
  *      0.65 → 1.11 s (r18), h17 0.66 → 1.03 s (r20). Nor do probes into
  *      dimensions, one hash lookup per row each: h08's seven went
  *      0.90 → 1.62 s, h09's four 0.92 → 1.40 s, hv51's five
  *      0.64 → 1.45 s (r20). A semi or anti join never multiplies rows:
  *      h21's lineitem-sized exists/not-exists probes measured
  *      1.13 → 1.25 s spread at one pair, even at another (r20);
  *    - a nested-loop join — d07's n² cosine scan, 4.29 → 1.29 s;
  *    - a regex or higher-order function — t04's regexp_replace and
  *      shingling, 0.69 → 0.49 s;
  *    - a typed map — m02's decode `mapPartitions`, 0.45 → 0.39 s;
  *    - a `Generate` over the row's own data — t05's word explode,
  *      0.52 → 0.48 s. A generator over a constant array only replicates
  *      rows: m03's frame explode went 0.19 → 0.26 s spread (r20);
  *    - a UDF or graft-native function — d04's SimHash loop,
  *      0.31 → 0.30 s.
  *    (r20 figures: sf0.1, 4 cores, `graft.Bench` min of 5, rule off →
  *    on, hand-placed spreads off.) The same run measured t13
  *    (0.28 → 0.45 s) and t17 (0.35 → 0.65 s) slower: over 5,000 short
  *    documents an explode does not repay a stage. Both were spread by
  *    hand before this rule, which keeps their plans; a split count sized
  *    from the input is left to ROADMAP direction 2.
  *
  * No conf: the split count is the session's `defaultParallelism`, and
  * on a cluster whose scans already offer that many splits clause (a)
  * makes the rule a no-op.
  */
final case class SpreadScans(spark: SparkSession) extends Rule[SparkPlan] {

  def apply(plan: SparkPlan): SparkPlan = {
    val p = spark.sparkContext.defaultParallelism
    val targets = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
    def walk(n: SparkPlan, up: List[(SparkPlan, Int)]): Unit =
      if (n.children.isEmpty) placement(n, up, p).foreach(targets.add)
      else n.children.zipWithIndex.foreach { case (c, i) => walk(c, (n, i) :: up) }
    walk(plan, Nil)
    if (targets.isEmpty) plan
    else plan.transformUp {
      case n if targets.contains(n) =>
        ShuffleExchangeExec(RoundRobinPartitioning(p), n, REPARTITION_BY_NUM)
    }
  }

  /** The node to put the exchange above, when the leaf `leaf` (whose
    * ancestors, nearest first, are `up`, each with the index of the
    * child the path came through) passes all three clauses. */
  private def placement(leaf: SparkPlan, up: List[(SparkPlan, Int)], p: Int): Option[SparkPlan] = {
    // the leaf's own filter/project: the exchange goes above them, as
    // the optimizer pushes a filter below a hand-placed repartition,
    // but below a projection that carries work, which must run after it
    val chain = up.takeWhile {
      case (_: FilterExec, _) => true
      case (pr: ProjectExec, _) => !work(pr)
      case _ => false
    }
    val base = chain.lastOption.map(_._1).getOrElse(leaf)
    val pipeline = up.drop(chain.size).takeWhile { case (n, i) =>
      !n.isInstanceOf[Exchange] && !n.isInstanceOf[CartesianProductExec] &&
        n.requiredChildDistribution(i) == UnspecifiedDistribution
    }
    lazy val stream = estimatedBytes(leaf)
    val factProbes = pipeline.count {
      case (j: BroadcastHashJoinExec, _) if multiplies(j.joinType) =>
        val build = if (j.buildSide == BuildLeft) j.left else j.right
        estimatedBytes(build).exists(b => stream.exists(b * 2 >= _))
      case _ => false
    }
    val repays = factProbes >= 2 || pipeline.exists { case (n, _) =>
      n.isInstanceOf[BroadcastNestedLoopJoinExec] || typedMap(n) || work(n) || (n match {
        // a generator over a constant array only replicates rows
        case g: GenerateExec => !g.generator.children.forall(_.foldable)
        case _ => false
      })
    }
    // clause (a) last: it reads the scan's file listing
    if (repays && ((leaf, 0) :: up).forall { case (n, _) => orderInsensitive(n) } &&
        underSplit(leaf, p)) Some(base)
    else None
  }

  /** A semi or anti join (or an existence join) emits at most one row
    * per probe row. */
  private def multiplies(t: JoinType): Boolean = t match {
    case LeftSemi | LeftAnti | _: ExistenceJoin => false
    case _ => true
  }

  /** The planner's size estimate of the relation `n` was planned from. */
  private def estimatedBytes(n: SparkPlan): Option[BigInt] = n.logicalLink.map(_.stats.sizeInBytes)

  /** Clause (a). */
  private def underSplit(leaf: SparkPlan, p: Int): Boolean = leaf match {
    case s: FileSourceScanExec =>
      keepsNoPartitioning(s) && !s.bucketedScan &&
        !s.partitionFilters.exists(_.exists(_.isInstanceOf[DynamicPruningExpression])) &&
        math.min(plannedSplits(s), s.relation.location.inputFiles.length) < p
    case r: RDDScanExec => keepsNoPartitioning(r) && r.inputRDD.getNumPartitions < p
    case _ => false
  }

  /** The splits `FileSourceScanExec` packs the relation's files into
    * (`FilePartition.maxSplitBytes`), from the listing alone: the scan's
    * own `inputRDD` would evaluate pushed filters, which may hold scalar
    * subqueries that have not run yet at planning. */
  private def plannedSplits(s: FileSourceScanExec): Long = {
    val conf = s.conf
    val files = s.relation.location.inputFiles.length.toLong
    val bytes = s.relation.location.sizeInBytes + files * conf.filesOpenCostInBytes
    val minSplits = conf.filesMinPartitionNum.getOrElse(spark.sparkContext.defaultParallelism)
    val maxSplit = math.min(conf.filesMaxPartitionBytes,
      math.max(conf.filesOpenCostInBytes, bytes / minSplits))
    (bytes + maxSplit - 1) / maxSplit
  }

  private def keepsNoPartitioning(n: SparkPlan): Boolean = n.outputPartitioning match {
    case _: UnknownPartitioning | SinglePartition => true
    case _ => false
  }

  /** Clause (b), for one node on the path from the leaf to the root. */
  private def orderInsensitive(n: SparkPlan): Boolean = n match {
    case _: GlobalLimitExec | _: LocalLimitExec | _: CollectLimitExec | _: CollectTailExec |
         _: SampleExec | _: WindowGroupLimitExec => false
    case a: BaseAggregateExec =>
      a.aggregateExpressions.forall(e => insensitive(e.aggregateFunction)) && deterministic(n)
    case w: WindowExec =>
      w.windowExpression.forall(_.collect { case we: WindowExpression => we }.forall {
        _.windowFunction match {
          case ae: AggregateExpression => insensitive(ae.aggregateFunction)
          case _ => false
        }
      }) && deterministic(n)
    case _ => deterministic(n)
  }

  private def deterministic(n: SparkPlan): Boolean = n.expressions.forall(_.deterministic)

  private def insensitive(f: AggregateFunction): Boolean = f match {
    case _: Count | _: Min | _: Max => true
    case s: Sum => exactInput(s.child)
    case a: Average => exactInput(a.child)
    case _ => false
  }

  private def exactInput(e: Expression): Boolean = e.dataType match {
    case ByteType | ShortType | IntegerType | LongType | _: DecimalType => true
    case _ => false
  }

  /** Clause (c)'s expression work: a UDF, a graft-native function, a
    * regex or a higher-order function in one of the node's expressions. */
  private def work(n: SparkPlan): Boolean = n.expressions.exists(_.exists {
    case _: ScalaUDF | _: HigherOrderFunction => true
    case _: RLike | _: RegExpReplace | _: RegExpExtractBase | _: StringSplit => true
    case e => e.getClass.getName.startsWith("graft.")
  })

  private def typedMap(n: SparkPlan): Boolean = n match {
    case _: MapElementsExec | _: MapPartitionsExec | _: AppendColumnsExec |
         _: AppendColumnsWithObjectExec => true
    case _ => false
  }
}
