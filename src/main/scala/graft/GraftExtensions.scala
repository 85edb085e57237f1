package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.expressions.{DotProduct, MinHash, SimHash64, TextStats}

/** SparkSessionExtensions hook registering graft's custom Catalyst
  * expressions as SQL functions, so the engine's hot-path primitives are
  * reachable from pure SQL as well as the Column API:
  *
  * {{{
  * val spark = SparkSession.builder()
  *   .withExtensions(new GraftExtensions)  // or
  *   .config("spark.sql.extensions", "graft.GraftExtensions")
  *   .getOrCreate()
  * spark.sql("SELECT dot_product(a, b), simhash64(hashes) FROM t")
  * }}}
  *
  * Injection (rather than session-local registration) means every
  * session on a cluster sees the functions, including thrift/connect
  * clients. No custom logical rules or strategies are injected — SURVEY
  * §4: Catalyst's built-in planning is sufficient for every operator in
  * the inventory.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intArg(e: Expression, name: String): Int = {
    require(e.foldable, s"argument '$name' must be a literal")
    e.eval().asInstanceOf[Number].intValue()
  }

  private def longArg(e: Expression, name: String): Long = {
    require(e.foldable, s"argument '$name' must be a literal")
    e.eval().asInstanceOf[Number].longValue()
  }

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "scala_udf")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("dot_product"),
      info("dot_product", "dot_product(a, b) - dot product of two array<double>"),
      (args: Seq[Expression]) => DotProduct(args(0), args(1))))
    ext.injectFunction((
      FunctionIdentifier("simhash64"),
      info("simhash64", "simhash64(hashes) - 64-bit simhash of array<bigint> token hashes"),
      (args: Seq[Expression]) => SimHash64(args.head)))
    ext.injectFunction((
      FunctionIdentifier("minhash_signature"),
      info("minhash_signature",
        "minhash_signature(hashes, k, seed) - k-lane minhash signature"),
      (args: Seq[Expression]) => MinHash(args(0),
        intArg(args(1), "k"), longArg(args(2), "seed"), MinHash.Signature)))
    ext.injectFunction((
      FunctionIdentifier("minhash_bands"),
      info("minhash_bands",
        "minhash_bands(hashes, k, bands, seed) - LSH band buckets"),
      (args: Seq[Expression]) => MinHash(args(0),
        intArg(args(1), "k"), longArg(args(3), "seed"),
        MinHash.Bands(intArg(args(2), "bands")))))
    ext.injectFunction((
      FunctionIdentifier("text_stats"),
      info("text_stats",
        "text_stats(s) - single-pass text profile struct (token/stopword/punct/marker counters)"),
      (args: Seq[Expression]) => TextStats(args.head)))
  }
}
