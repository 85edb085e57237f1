package graft.expressions

import org.apache.spark.sql.{Column, GraftSql}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Codegen'd sketch expressions for the dedup hot paths. The HOF
  * formulations (64 interpreted `array_min(transform(...))` passes per
  * row for MinHash, a 64-lane interpreted fold per token for SimHash)
  * dominate profile time; these generate tight Java loops instead.
  * Semantics identical to the HOF versions (asserted in TextDedupSpec).
  */

/** The shared MinHash universal-hash coefficient family: ONE derivation
  * used by [[MinHash]] and Dedup.coeffs — these must stay bit-identical
  * or the differential tests and the LSH == exact Jaccard equivalence
  * silently break. */
object MinHashCoeffs {
  val P: Long = 2147483647L // 2^31 - 1
  def apply(k: Int, seed: Long): (Array[Long], Array[Long]) = {
    val rng = new java.util.Random(seed)
    val a = new Array[Long](k)
    val b = new Array[Long](k)
    var i = 0
    while (i < k) {
      a(i) = math.abs(rng.nextLong()) % (P - 1) + 1
      b(i) = math.abs(rng.nextLong()) % P
      i += 1
    }
    (a, b)
  }
}

/** MinHash over base hashes x (already reduced mod p): the k-lane
  * signature sig[j] = min over x of (a_j * x + b_j) mod p, j < k, with
  * the (a, b) family of [[MinHashCoeffs]] for `seed`.
  *
  * `out` picks what the row returns, fixed when code is generated:
  *  - [[MinHash.Signature]]: the k signature lanes (`minhash_signature`);
  *  - [[MinHash.Bands]](n): each consecutive k/n lanes mixed into one
  *    bucket hash (h = 31·h + lane, from 1125899906842597), so LSH
  *    banding is a SINGLE expression evaluation per row
  *    (`minhash_bands`). The slice-the-signature formulation
  *    re-evaluates the whole signature once per band after projection
  *    collapse. */
case class MinHash(child: Expression, k: Int, seed: Long, out: MinHash.Out)
    extends UnaryExpression with Serializable {
  import MinHash.{Bands, Signature}

  private val P = MinHashCoeffs.P
  private val (nOut, rowsPerBand) = out match {
    case Signature => (k, 1)
    case Bands(n) =>
      require(k % n == 0, "k must be divisible by bands")
      (n, k / n)
  }

  @transient private lazy val (as, bs) = MinHashCoeffs(k, seed)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      val fn = if (out == Signature) "minhash_signature" else "minhash_bands"
      TypeCheckResult.TypeCheckFailure(s"$fn needs array<bigint>, got $other")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val xs = input.asInstanceOf[ArrayData]
    val n = xs.numElements()
    val sig = Array.fill(k)(P)
    var i = 0
    while (i < n) {
      val x = xs.getLong(i)
      var j = 0
      while (j < k) {
        val v = (as(j) * x + bs(j)) % P
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    if (out == Signature) new GenericArrayData(sig)
    else {
      val buckets = new Array[Long](nOut)
      var b = 0
      while (b < nOut) {
        var h = 1125899906842597L
        var r = 0
        while (r < rowsPerBand) {
          h = 31L * h + sig(b * rowsPerBand + r)
          r += 1
        }
        buckets(b) = h
        b += 1
      }
      new GenericArrayData(buckets)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("minhashA", as, "long[]")
    val bRef = ctx.addReferenceObj("minhashB", bs, "long[]")
    nullSafeCodeGen(ctx, ev, xs => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val sig = ctx.freshName("sig")
      val x = ctx.freshName("x")
      val v = ctx.freshName("v")
      val o = ctx.freshName("out")
      val b = ctx.freshName("b")
      val r = ctx.freshName("r")
      val h = ctx.freshName("h")
      // the output mode only selects which lines are generated
      val result = if (out == Signature) sig else o
      val mix = if (out == Signature) "" else
        s"""long[] $o = new long[$nOut];
           |for (int $b = 0; $b < $nOut; $b++) {
           |  long $h = 1125899906842597L;
           |  for (int $r = 0; $r < $rowsPerBand; $r++) {
           |    $h = 31L * $h + $sig[$b * $rowsPerBand + $r];
           |  }
           |  $o[$b] = $h;
           |}""".stripMargin
      s"""
         |int $n = $xs.numElements();
         |long[] $sig = new long[$k];
         |java.util.Arrays.fill($sig, ${P}L);
         |for (int $i = 0; $i < $n; $i++) {
         |  long $x = $xs.getLong($i);
         |  for (int $j = 0; $j < $k; $j++) {
         |    long $v = ($aRef[$j] * $x + $bRef[$j]) % ${P}L;
         |    if ($v < $sig[$j]) $sig[$j] = $v;
         |  }
         |}
         |$mix
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($result);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MinHash =
    copy(child = newChild)
}

object MinHash {
  /** What a [[MinHash]] row returns. */
  sealed trait Out
  /** The k signature lanes. */
  case object Signature extends Out
  /** `n` LSH band buckets, k/n lanes each. */
  final case class Bands(n: Int) extends Out

  def signature(baseHashes: Column, k: Int, seed: Long): Column =
    GraftSql.column(MinHash(GraftSql.expression(baseHashes), k, seed, Signature))

  def bands(baseHashes: Column, k: Int, bands: Int, seed: Long): Column =
    GraftSql.column(MinHash(GraftSql.expression(baseHashes), k, seed, Bands(bands)))
}

/** 64-bit SimHash from an array of 64-bit token hashes: per output bit
  * j, sum +1/-1 over tokens by bit j of the token hash; output bit j is
  * set iff the sum is positive. */
case class SimHash64(child: Expression)
    extends UnaryExpression with Serializable {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash64 needs array<bigint>, got $other")
  }

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any = {
    val xs = input.asInstanceOf[ArrayData]
    val n = xs.numElements()
    val counts = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = xs.getLong(i)
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
        j += 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) {
      if (counts(j) > 0) out |= (1L << j)
      j += 1
    }
    java.lang.Long.valueOf(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, xs => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val counts = ctx.freshName("counts")
      val h = ctx.freshName("h")
      val out = ctx.freshName("out")
      s"""
         |int $n = $xs.numElements();
         |int[] $counts = new int[64];
         |for (int $i = 0; $i < $n; $i++) {
         |  long $h = $xs.getLong($i);
         |  for (int $j = 0; $j < 64; $j++) {
         |    if ((($h >>> $j) & 1L) == 1L) $counts[$j]++; else $counts[$j]--;
         |  }
         |}
         |long $out = 0L;
         |for (int $j = 0; $j < 64; $j++) {
         |  if ($counts[$j] > 0) $out |= (1L << $j);
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {
  def apply(tokenHashes: Column): Column =
    GraftSql.column(SimHash64(GraftSql.expression(tokenHashes)))
}
