package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.aggregate.{Average, Sum}
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ReusedExchangeExec,
  ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.types.{DoubleType, FloatType}
import graft.operators.{SsbCorpus, TpchCorpus, VariantCorpus}

/** Placement and invariant of [[graft.plans.SpreadScans]]: where the one
  * spread rule puts its round-robin exchange, and where it must not. */
class SpreadScansSpec extends SparkSpec {

  private def text(path: String): String = {
    val in = getClass.getResourceAsStream(path)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }
  private lazy val hv02 = text("/graft/tpch/hv02.sql")

  /** Every physical node, through AQE stages and subqueries. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case r: ReusedExchangeExec => r +: nodes(r.child)
    case n => n +: n.children.flatMap(nodes)
  }) ++ p.subqueries.flatMap(nodes)

  /** The exchanges the rule (or a `Tables.spread` call) plans. */
  private def spreads(df: DataFrame): Seq[ShuffleExchangeExec] =
    nodes(df.queryExecution.executedPlan).collect {
      case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM &&
        e.outputPartitioning.isInstanceOf[RoundRobinPartitioning] => e
    }

  /** The tables the exchange's input scans, when that input is a lone
    * scan under its own filter/project (and codegen wrappers). */
  private def scannedTable(e: ShuffleExchangeExec): Option[String] = {
    val below = nodes(e.child)
    val scans = below.collect { case s: FileSourceScanExec => s }
    val narrow = below.forall(n => n.children.size <= 1 && !n.isInstanceOf[BroadcastHashJoinExec])
    if (scans.size == 1 && narrow)
      Some(scans.head.relation.location.rootPaths.head.getName.stripSuffix(".parquet"))
    else None
  }

  private def executed(df: DataFrame): DataFrame = { df.collect(); df }

  test("hv02's final plan spreads lineitem below its two broadcast probes") {
    val df = executed(Engine.executeQuery(spark.newSession(), sfDir, hv02))
    val ex = spreads(df)
    assert(ex.map(scannedTable) == Seq(Some("lineitem")), df.queryExecution.executedPlan)
    assert(nodes(df.queryExecution.executedPlan).count(_.isInstanceOf[BroadcastHashJoinExec]) == 2)
  }

  test("hv01's final plan, one probe, is not spread") {
    val df = executed(Engine.executeQuery(spark.newSession(), sfDir, text("/graft/tpch/hv01.sql")))
    assert(spreads(df).isEmpty, df.queryExecution.executedPlan)
  }

  test("an hv02 variant summing a double is not spread") {
    val variant = hv02.replaceFirst("(?i)count\\(\\*\\)", "sum(l_extendedprice)")
    assert(variant != hv02, "the variant must differ from hv02 for this test to bite")
    val df = executed(Engine.executeQuery(spark.newSession(), sfDir, variant))
    assert(spreads(df).isEmpty, df.queryExecution.executedPlan)
  }

  test("no shipped corpus text with a float SUM/AVG is spread") {
    val s = spark.newSession()
    val floatSums = (TpchCorpus.queries ++ SsbCorpus.queries ++ VariantCorpus.queries)
      .toSeq.sortBy(_._1).flatMap { case (name, q) =>
        val df = q(s, sfDir)
        val plan = df.queryExecution.optimizedPlan
        val floatSum = (plan +: plan.subqueriesAll).exists(_.exists(_.expressions.exists(_.exists {
          case a: Sum => Seq(DoubleType, FloatType).contains(a.child.dataType)
          case a: Average => Seq(DoubleType, FloatType).contains(a.child.dataType)
          case _ => false
        })))
        if (floatSum) Some(name -> spreads(df).size) else None
      }
    // most corpus texts sum through decimal casts; six sum doubles
    assert(floatSums.size >= 6, s"float-summing texts found: ${floatSums.map(_._1)}")
    assert(floatSums.forall(_._2 == 0), floatSums.filter(_._2 > 0))
  }

  /** The operator frames whose hand-placed spread call was deleted, each
    * with the table whose scan the rule now spreads where the call did —
    * or none, for q43, whose site the rule refuses. */
  private val operatorRows: Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame,
      Seq[String])] = Seq(
    ("d07_embed_neardup", SparkEntry.queries("d07_embed_neardup"), Seq("embeddings")),
    ("d11 sem_dups scan", operators.Dedup.semDupScan _, Seq("embeddings")),
    ("d11b sampled scan", operators.Dedup.sampledSemDups _, Seq("embeddings")),
    ("m02_decode_features", SparkEntry.queries("m02_decode_features"), Seq("documents")),
    ("t04_fingerprint", SparkEntry.queries("t04_fingerprint"), Seq("documents")),
    ("t05_boilerplate", SparkEntry.queries("t05_boilerplate"), Seq("documents")),
    ("t13_mixture", SparkEntry.queries("t13_mixture"), Seq("documents")),
    ("t17_bpe_pairs", SparkEntry.queries("t17_bpe_pairs"), Seq("documents")),
    ("q43_salted_join", SparkEntry.queries("q43_salted_join"), Nil))

  test("operator frames keep their spread where the hand-placed call put it") {
    val s = spark.newSession()
    operatorRows.foreach { case (label, frame, tables) =>
      val df = frame(s, sfDir)
      assert(spreads(df).map(scannedTable) == tables.map(Some(_)),
        s"$label: ${df.queryExecution.executedPlan}")
    }
  }
}
