package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpectsInputTypes, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}
import org.apache.spark.sql.SparkSessionExtensions

/** Native Catalyst expression: cosine similarity of two `array<float>`
  * embedding columns, with whole-stage codegen.
  *
  * The composable alternative (`aggregate(zip_with(a, b, ...), ...)`)
  * allocates an intermediate product array per row and walks three lambda
  * closures; this expression is one fused loop over the two unsafe array
  * buffers — the hot path of every similarity scan, so it earns custom-
  * Expression treatment per the preference order (compose > Expression >
  * custom plan > mapPartitions). The reference has no vector ops at all
  * (its scalar surface is arithmetic + LIKE/SUBSTR, SURVEY.md §2.3); this
  * is pipeline-engine green-field work.
  *
  * Accumulation is double-precision in index order, bit-compatible with the
  * `x::DOUBLE * y::DOUBLE` SQL formulation the DuckDB oracle uses.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(FloatType), ArrayType(FloatType))

  override def dataType: DataType = DoubleType

  /** Nullable beyond the children: a LENGTH MISMATCH yields NULL — a
    * truncated/corrupt embedding must not produce a confident score
    * over the common prefix, and the composed `zip_with`/`aggregate`
    * formulation (whose numerics this expression is checked against)
    * yields NULL there too (zip_with pads with nulls). */
  override def nullable: Boolean = true

  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        val xi = x.getFloat(i).toDouble
        val yi = y.getFloat(i).toDouble
        dot += xi * yi; nx += xi * xi; ny += yi * yi
      }
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0
    else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |      double $xi = (double) $a.getFloat($i);
         |      double $yi = (double) $b.getFloat($i);
         |      $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |    }
         |  }
         |  ${ev.value} = ($nx == 0.0 || $ny == 0.0) ? 0.0
         |    : $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  /** DataFrame-API handle: `cosineSim($"a", $"b")`. */
  def column(a: Column, b: Column): Column =
    GraftBridge.column(
      CosineSimilarity(GraftBridge.expression(a), GraftBridge.expression(b)))
}

/** Session extension registering the engine's native functions for SQL use:
  * `spark.sql.extensions=graft.functions.GraftExtensions` or
  * `builder.withExtensions(new GraftExtensions)` — after which
  * `SELECT cosine_sim(a.embedding, b.embedding) ...` parses anywhere SQL is
  * accepted, mirroring how the reference exposes Gandiva-compiled scalars to
  * its SQL surface — plus the engine's two planner rules: the automatic
  * predicate-transfer optimizer rule (`graft.plans.AutoSemiReduction`)
  * and the physical rule that spreads under-split scans across the cores
  * (`graft.plans.SpreadScans`). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => graft.plans.AutoSemiReduction)
    ext.injectQueryPostPlannerStrategyRule(graft.plans.SpreadScans(_))
    ext.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          s"cosine_sim expects (array<float>, array<float>), got ${children.size} args")
        CosineSimilarity(children(0), children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          s"word_shingles expects (word array, k int literal), got ${children.size} args")
        val k = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => sys.error(s"word_shingles: k must be an int literal, got $other")
        }
        WordShingles(children(0), k)
      }))
    Seq(32, 64).foreach { bits =>
      ext.injectFunction((
        new FunctionIdentifier(s"simhash$bits"),
        new ExpressionInfo(classOf[SimHash].getName, s"simhash$bits"),
        (children: Seq[Expression]) => {
          require(children.size == 1,
            s"simhash$bits expects exactly 1 argument (token array), got ${children.size}")
          SimHash(children.head, bits)
        }))
    }
    ext.injectFunction((
      new FunctionIdentifier("cms_estimate"),
      new ExpressionInfo(classOf[CmsEstimate].getName, "cms_estimate"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          s"cms_estimate expects (sketch, key), got ${children.size} args")
        CmsEstimate(children(0), children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("minhash_lcg"),
      new ExpressionInfo(classOf[MinHashLcg].getName, "minhash_lcg"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          s"minhash_lcg expects (shingles array, numHashes int literal), got ${children.size} args")
        val k = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => sys.error(s"minhash_lcg: numHashes must be an int literal, got $other")
        }
        MinHashLcg(children(0), k)
      }))
    ext.injectFunction((
      new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_sig"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          s"minhash_sig expects (shingles array, numHashes int literal), got ${children.size} args")
        val k = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => sys.error(s"minhash_sig: numHashes must be an int literal, got $other")
        }
        MinHashSignature(children(0), k)
      }))
    ext.injectFunction((
      new FunctionIdentifier("rolling_window_hash"),
      new ExpressionInfo(classOf[RollingWindowHash].getName, "rolling_window_hash"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          s"rolling_window_hash expects (token array, k int literal), got ${children.size} args")
        val k = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => sys.error(s"rolling_window_hash: k must be an int literal, got $other")
        }
        RollingWindowHash(children(0), k)
      }))
  }
}
