package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression for great-circle distance (haversine, km) —
  * the reference's hottest scalar kernel (marEx track.py:5406–5411, used in
  * every centroid-partitioning decision).
  *
  * Why a custom `Expression` instead of composing `sin/cos/asin` Columns:
  * the composed form is ~12 Catalyst nodes re-evaluating `radians()` twice
  * per operand; this single node evaluates one static Java method, stays
  * inside whole-stage codegen (`doGenCode` emits a plain call), and is
  * registered for SQL via [[GraftExtensions]] — demonstrating the
  * SparkSessionExtensions path end-to-end (SURVEY.md §7.2, preference (b)).
  */
object HaversineKernel {
  final val EarthRadiusKm = 6371.0

  def compute(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    val phi1 = math.toRadians(lat1)
    val phi2 = math.toRadians(lat2)
    val dPhi = math.toRadians(lat2 - lat1)
    val dLam = math.toRadians(lon2 - lon1)
    val s1 = math.sin(dPhi / 2)
    val s2 = math.sin(dLam / 2)
    val h = s1 * s1 + math.cos(phi1) * math.cos(phi2) * s2 * s2
    2.0 * EarthRadiusKm * math.asin(math.min(1.0, math.sqrt(h)))
  }
}

case class HaversineKm(first: Expression, second: Expression,
    third: Expression, fourth: Expression)
  extends QuaternaryExpression with Serializable {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean =
    first.nullable || second.nullable || third.nullable || fourth.nullable

  override protected def nullSafeEval(lat1: Any, lon1: Any, lat2: Any, lon2: Any): Any =
    HaversineKernel.compute(lat1.asInstanceOf[Double], lon1.asInstanceOf[Double],
      lat2.asInstanceOf[Double], lon2.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d) =>
      s"graft.plans.HaversineKernel.compute($a, $b, $c, $d)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): HaversineKm =
    copy(first = newFirst, second = newSecond, third = newThird, fourth = newFourth)

  override def prettyName: String = "haversine_km"
}

object HaversineKm {
  private def toDouble(c: Column): Expression = {
    val e = GraftColumnBridge.expr(c)
    if (e.dataType == DoubleType) e else Cast(e, DoubleType)
  }

  /** Column-API entry point (inputs cast to double). */
  def haversineKm(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column =
    GraftColumnBridge.column(
      HaversineKm(toDouble(lat1), toDouble(lon1), toDouble(lat2), toDouble(lon2)))
}

/** Session extensions: registers `haversine_km` (scalar) and
  * `hist_quantile` (aggregate, single-pass histogram sketch) as SQL
  * functions. Usage: `SparkSession.builder().withExtensions(new
  * GraftExtensions)` or `spark.sql.extensions=graft.plans.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("haversine_km"),
      new ExpressionInfo(classOf[HaversineKm].getName, "haversine_km"),
      GraftExtensions.haversineBuilder))
    e.injectFunction((
      FunctionIdentifier("hist_quantile"),
      new ExpressionInfo(classOf[HistogramQuantileAgg].getName, "hist_quantile"),
      GraftExtensions.histQuantileBuilder))
    e.injectFunction((
      FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      GraftExtensions.dotProductBuilder))
  }
}

object GraftExtensions {
  /** Builders shared by `injectFunction` and temp-function registration. */
  val haversineBuilder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 4, "haversine_km(lat1, lon1, lat2, lon2)")
    def d(e: Expression) = if (e.dataType == DoubleType) e else Cast(e, DoubleType)
    HaversineKm(d(exprs(0)), d(exprs(1)), d(exprs(2)), d(exprs(3)))
  }

  val dotProductBuilder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2, "dot_product(array<float|double>, array<float|double>)")
    DotProduct(exprs(0), exprs(1))
  }

  /** `hist_quantile(value, q, lo, width, nBins)` — the sketch parameters
    * must be literals (they shape the aggregation buffer, so they cannot
    * vary per row). SQL numeric literals arrive as Decimal/Int; normalize. */
  val histQuantileBuilder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 5, "hist_quantile(value, q, lo, width, nBins)")
    def litNum(e: Expression, name: String): Double = {
      require(e.foldable, s"hist_quantile: $name must be a literal")
      e.eval() match {
        case d: Double => d
        case f: Float => f.toDouble
        case i: Int => i.toDouble
        case l: Long => l.toDouble
        case dec: org.apache.spark.sql.types.Decimal => dec.toDouble
        case other =>
          throw new IllegalArgumentException(s"hist_quantile: $name must be numeric, got $other")
      }
    }
    HistogramQuantileAgg.ofValues(GraftColumnBridge.column(exprs.head), litNum(exprs(1), "q"),
      litNum(exprs(2), "lo"), litNum(exprs(3), "width"), litNum(exprs(4), "nBins").toInt)
  }
}
