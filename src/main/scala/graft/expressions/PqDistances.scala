package graft.expressions

import org.apache.spark.sql.{Column, GraftSql}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** PQ subspace distances as ONE generated loop — the encode side
  * (nearest-centroid codes and their distances) and the query side
  * (the ADC lookup table [[AdcLookup]] consumes) of product
  * quantization. Each replaced a per-row battery of m*k expressions
  * (`least(struct(dist, i))` on encode, `array(subDists(...))` for the
  * table), each wrapping [[DotProduct]] kernels; the battery cost far
  * more in expression-tree size, codegen compile time and per-row
  * dispatch than a single flat primitive loop.
  *
  * Inputs: the RAW vector (array<double>, length m*sub), the FLAT
  * codebook (array<double>, subspace-major: entry (j*k + i)*sub + l is
  * lane l of centroid i of subspace j), and the FLAT per-centroid
  * squared norms (array<double>, entry j*k + i — folded left-to-right
  * on the driver exactly like the battery it replaces). Per subspace j
  * it computes `d(j,i) = (x.x - 2*x.c_i) + cc_i` over the (optionally
  * floor(x*2^20)-quantized) subvector — each dot a left-to-right lane
  * fold, the same IEEE op sequence as [[graft.functions.Vectors.dot]].
  * Every distance double is therefore bit-identical to the expression
  * battery, so codes, LUTs, and the DuckDB oracles replay unchanged.
  *
  * `out` picks what the row returns, fixed when code is generated:
  *  - [[PqDistances.Codes]]: the m argmin centroid indices (array<int>),
  *    ties to the LOWER index and NaN ordered largest — the
  *    `least(struct(d, i))` semantics;
  *  - [[PqDistances.Best]]: the m minimum distances (array<double>), for
  *    quantization-error reporting;
  *  - [[PqDistances.Table]]: all m*k distances (array<double>, entry
  *    j*k + i), the ADC lookup table.
  * Null input -> null (the table battery produced an array of null
  * entries; every consumer reaches the LUT only behind a non-null cell
  * join or feeds AdcLookup, which is null-safe either way); shape
  * mismatches fail loudly.
  */
case class PqDistances(vec: Expression, books: Expression, cc: Expression,
                       m: Int, quantize: Boolean, out: PqDistances.Out)
    extends TernaryExpression with Serializable {
  import PqDistances.{Best, Codes, Table}

  override def first: Expression = vec
  override def second: Expression = books
  override def third: Expression = cc

  override def checkInputDataTypes(): TypeCheckResult =
    (vec.dataType, books.dataType, cc.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _),
            ArrayType(DoubleType, _)) if m >= 1 =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) =>
        TypeCheckResult.TypeCheckFailure(
          s"pq_distances needs (array<double> vec, array<double> books, " +
            s"array<double> cc) and m >= 1, got $a / $b / $c (m=$m)")
    }

  override def dataType: DataType =
    if (out == Codes) ArrayType(IntegerType, containsNull = false)
    else ArrayType(DoubleType, containsNull = false)

  override def nullSafeEval(v: Any, b: Any, c: Any): Any = {
    val vec = v.asInstanceOf[ArrayData]
    val books = b.asInstanceOf[ArrayData]
    val cc = c.asInstanceOf[ArrayData]
    val mk = cc.numElements()
    if (mk % m != 0 || mk == 0 || books.numElements() % mk != 0)
      throw new IllegalArgumentException(
        s"pq_distances shape: ${books.numElements()} book entries / $mk " +
          s"norms vs m=$m")
    val k = mk / m
    val sub = books.numElements() / mk
    if (vec.numElements() != m * sub)
      throw new IllegalArgumentException(
        s"pq_distances shape: ${vec.numElements()}-lane vector vs m=$m " +
          s"sub=$sub")
    val xs = new Array[Double](sub)
    val outI = if (out == Codes) new Array[Int](m) else null
    val outD = out match {
      case Codes => null
      case Best => new Array[Double](m)
      case Table => new Array[Double](mk)
    }
    var j = 0
    while (j < m) {
      var xx = 0.0
      var l = 0
      while (l < sub) {
        var x = vec.getDouble(j * sub + l)
        if (quantize) x = math.floor(x * 1048576.0)
        xs(l) = x
        xx += x * x
        l += 1
      }
      var best = 0
      var bestD = Double.NaN
      var i = 0
      while (i < k) {
        val cb = (j * k + i) * sub
        var dot = 0.0
        l = 0
        while (l < sub) { dot += xs(l) * books.getDouble(cb + l); l += 1 }
        val d = (xx - 2.0 * dot) + cc.getDouble(j * k + i)
        if (out == Table) outD(j * k + i) = d
        // least(struct(d, i)) semantics: strict improvement only (ties
        // keep the lower index), NaN ordered LARGEST (replaced by any
        // non-NaN)
        else if (if (bestD.isNaN) !d.isNaN else d < bestD) {
          bestD = d; best = i
        }
        i += 1
      }
      out match {
        case Codes => outI(j) = best
        case Best => outD(j) = bestD
        case Table =>
      }
      j += 1
    }
    new GenericArrayData(if (out == Codes) outI else outD)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, b, c) => {
      val buf = ctx.addMutableState("double[]", "pqXs",
        n => s"$n = new double[0];", forceInline = false)
      val mk = ctx.freshName("mk")
      val k = ctx.freshName("k")
      val sub = ctx.freshName("sub")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val l = ctx.freshName("l")
      val xx = ctx.freshName("xx")
      val x = ctx.freshName("x")
      val dot = ctx.freshName("dot")
      val d = ctx.freshName("d")
      val best = ctx.freshName("best")
      val bestD = ctx.freshName("bestD")
      val cb = ctx.freshName("cb")
      val o = ctx.freshName("out")
      val quantLine =
        if (quantize) s"$x = java.lang.Math.floor($x * 1048576.0);" else ""
      // the output mode only selects which lines are generated
      val (outTpe, outLen) = out match {
        case Codes => ("int", s"$m")
        case Best => ("double", s"$m")
        case Table => ("double", mk)
      }
      val argminInit =
        if (out == Table) "" else s"int $best = 0; double $bestD = Double.NaN;"
      val consume =
        if (out == Table) s"$o[$j * $k + $i] = $d;"
        else
          s"""if (Double.isNaN($bestD) ? !Double.isNaN($d) : $d < $bestD) {
             |      $bestD = $d; $best = $i;
             |    }""".stripMargin
      val store = out match {
        case Codes => s"$o[$j] = $best;"
        case Best => s"$o[$j] = $bestD;"
        case Table => ""
      }
      s"""
         |int $mk = $c.numElements();
         |if ($mk == 0 || $mk % $m != 0 || $b.numElements() % $mk != 0) {
         |  throw new IllegalArgumentException(
         |    "pq_distances shape: " + $b.numElements() + " book entries / " +
         |    $mk + " norms vs m=" + $m);
         |}
         |int $k = $mk / $m;
         |int $sub = $b.numElements() / $mk;
         |if ($v.numElements() != $m * $sub) {
         |  throw new IllegalArgumentException(
         |    "pq_distances shape: " + $v.numElements() +
         |    "-lane vector vs m=" + $m + " sub=" + $sub);
         |}
         |if ($buf.length < $sub) $buf = new double[$sub];
         |$outTpe[] $o = new $outTpe[$outLen];
         |for (int $j = 0; $j < $m; $j++) {
         |  double $xx = 0.0;
         |  for (int $l = 0; $l < $sub; $l++) {
         |    double $x = $v.getDouble($j * $sub + $l);
         |    $quantLine
         |    $buf[$l] = $x;
         |    $xx += $x * $x;
         |  }
         |  $argminInit
         |  for (int $i = 0; $i < $k; $i++) {
         |    int $cb = ($j * $k + $i) * $sub;
         |    double $dot = 0.0;
         |    for (int $l = 0; $l < $sub; $l++) {
         |      $dot += $buf[$l] * $b.getDouble($cb + $l);
         |    }
         |    double $d = ($xx - 2.0 * $dot) + $c.getDouble($j * $k + $i);
         |    $consume
         |  }
         |  $store
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($o);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): PqDistances =
    copy(vec = newFirst, books = newSecond, cc = newThird)
}

object PqDistances {
  /** What a [[PqDistances]] row returns. */
  sealed trait Out
  /** Per-subspace argmin centroid index (array<int>, m entries). */
  case object Codes extends Out
  /** Per-subspace min distance (array<double>, m entries). */
  case object Best extends Out
  /** Every subspace distance, subspace-major (array<double>, m*k). */
  case object Table extends Out

  def apply(vec: Column, books: Column, cc: Column, m: Int,
            quantize: Boolean, out: Out): Column =
    GraftSql.column(PqDistances(GraftSql.expression(vec),
      GraftSql.expression(books), GraftSql.expression(cc), m, quantize, out))
}
