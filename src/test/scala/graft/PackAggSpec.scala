package graft

import org.apache.spark.sql.{DataFrame, Row, functions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

import graft.expressions.{CappedPack, PackBuf}
import graft.operators.{Grouper, Pack, PackBuffer, PackWithLimit}

/** The native capped pack against the reference's golden values
  * (beam_transforms_test.py:26-69) and against the `udaf` packer it
  * replaced (`graft.operators.PackWithLimit`, test scope): the same
  * update and merge rules, the same byte format round trip between
  * steps, the same packed groups and schema through `packGroups`. */
class PackAggSpec extends SparkSpec {
  import spark.implicits._

  private def b(s: String) = s.getBytes("UTF-8")
  private def strs(p: PackBuf) =
    p.items.take(p.len).map(new String(_, "UTF-8")).toSeq
  private def agg(limit: Long) =
    CappedPack(BoundReference(0, BinaryType, nullable = true), limit)
  private def update(m: CappedPack, p: PackBuf, e: Array[Byte]) =
    m.update(p, InternalRow(e))
  private def buf(m: CappedPack, items: String*) =
    items.foldLeft(m.createAggregationBuffer())((p, s) => update(m, p, b(s)))
  private def roundTrip(m: CappedPack, p: PackBuf) =
    m.deserialize(m.serialize(p))

  test("add_input under limit (beam_transforms_test.py:28-34)") {
    val m = agg(12)
    val out = update(m, buf(m, "one", "two"), b("three"))
    strs(out) shouldBe Seq("one", "two", "three")
    out.total shouldBe 11L
  }

  test("add_input over limit drops, keeps accumulator (…:36-41)") {
    val m = agg(8)
    val out = update(m, buf(m, "one", "two"), b("four"))
    strs(out) shouldBe Seq("one", "two")
    out.total shouldBe 6L
  }

  test("merge under limit concatenates (…:43-49)") {
    val m = agg(20)
    val out = m.merge(buf(m, "one", "two"), buf(m, "three", "four"))
    strs(out) shouldBe Seq("one", "two", "three", "four")
    out.total shouldBe 15L
  }

  test("merge over limit stops at first non-fitting element (…:51-58)") {
    // the right buffer is built under an unbinding limit, as the
    // reference test hands merge a ready accumulator
    val out = agg(12).merge(buf(agg(20), "one", "two"),
      buf(agg(20), "three", "four"))
    strs(out) shouldBe Seq("one", "two", "three")
    out.total shouldBe 11L
  }

  test("three-accumulator fold matches reference merge (…:60-69)") {
    val m = agg(20)
    val out = m.merge(m.merge(buf(m, "one", "two"), buf(m, "three", "four")),
      buf(m, "five", "six"))
    strs(out) shouldBe Seq("one", "two", "three", "four", "five")
    out.total shouldBe 19L
    // the round trip keeps every payload, in order, and the total
    val back = roundTrip(m, out)
    strs(back) shouldBe strs(out)
    back.total shouldBe 19L
  }

  // ------------------------------------------ properties (PackPropertySpec)

  private val rng = new scala.util.Random(20261019L)

  private def randomItems(): Seq[Array[Byte]] =
    Seq.fill(rng.nextInt(30))(Array.fill(rng.nextInt(40))(rng.nextInt().toByte))

  /** Fold with a serialize -> deserialize round trip after every step. */
  private def fold(m: CappedPack, items: Seq[Array[Byte]]): PackBuf =
    items.foldLeft(roundTrip(m, m.createAggregationBuffer())) { (p, e) =>
      roundTrip(m, update(m, p, e))
    }
  private def seqs(p: PackBuf) = p.items.take(p.len).map(_.toSeq).toSeq

  test("property: total never reaches the limit and matches the kept items") {
    (1 to 300).foreach { _ =>
      val limit = rng.nextInt(200) + 1L
      val p = fold(agg(limit), randomItems())
      p.total should be < limit
      p.total shouldBe p.items.take(p.len).map(_.length.toLong).sum
    }
  }

  test("property: merge stays under the limit and preserves the left prefix") {
    (1 to 300).foreach { _ =>
      val l = randomItems()
      val r = randomItems()
      val limit = rng.nextInt(200) + 1L
      val m = agg(limit)
      val lb = fold(m, l)
      val left = seqs(lb)
      val merged = roundTrip(m, m.merge(lb, roundTrip(m, fold(m, r))))
      merged.total should be < limit
      seqs(merged).take(left.size) shouldBe left
    }
  }

  test("property: unbinding limit keeps everything, in order, across any split") {
    (1 to 300).foreach { _ =>
      val items = randomItems()
      val m = agg(items.map(_.length.toLong).sum + 1)
      seqs(fold(m, items)) shouldBe items.map(_.toSeq)
      val (a, c) = items.splitAt(if (items.isEmpty) 0 else rng.nextInt(items.size + 1))
      seqs(roundTrip(m, m.merge(fold(m, a), fold(m, c)))) shouldBe items.map(_.toSeq)
    }
  }

  test("update and merge equal the legacy Aggregator on random folds") {
    (1 to 300).foreach { _ =>
      val l = randomItems()
      val r = randomItems()
      val limit = rng.nextInt(300) + 1L
      val m = agg(limit)
      val legacy = new PackWithLimit(limit)
      def lfold(xs: Seq[Array[Byte]]) = xs.foldLeft(legacy.zero)(legacy.reduce)
      val want = legacy.merge(lfold(l), lfold(r))
      val got = m.merge(fold(m, l), fold(m, r))
      seqs(got) shouldBe want.items.map(_.toSeq)
      got.total shouldBe want.total
    }
  }

  // ------------------------------------------------- engine, differential

  /** `Pack.packGroups` with the legacy `udaf` packer in place of
    * `packWithLimit`. */
  private def legacyPackGroups(df: DataFrame, grouper: Grouper,
                               payload: org.apache.spark.sql.Column,
                               limit: Long): DataFrame = {
    val u = udaf(new PackWithLimit(limit))
    grouper.keyed(df)
      .select(col(grouper.name), payload.cast("binary").as("__payload"))
      .groupBy(col(grouper.name))
      .agg(u(col("__payload")).as("__packed"))
      .select(
        col(grouper.name),
        col("__packed.items").as("examples"),
        functions.size(col("__packed.items")).cast("long").as("num_examples"),
        col("__packed.total").as("num_bytes"))
  }

  private def groups(df: DataFrame): Seq[(String, Seq[Seq[Byte]], Long, Long)] =
    df.collect().map { r: Row =>
      (r.getString(0), r.getSeq[Array[Byte]](1).map(_.toSeq),
        r.getLong(2), r.getLong(3))
    }.sortBy(_._1).toSeq

  /** Native and legacy `packGroups` give the same schema and the same
    * items per group, in order. */
  private def sameAsLegacy(df: DataFrame, limit: Long): Seq[(String, Seq[Seq[Byte]], Long, Long)] = {
    val g = Grouper.byColumn("k")
    val native = Pack.packGroups(df, g, col("v"), limit)
    val legacy = legacyPackGroups(df, g, col("v"), limit)
    native.schema shouldBe legacy.schema
    native.schema.treeString shouldBe legacy.schema.treeString
    val got = groups(native)
    got shouldBe groups(legacy)
    got
  }

  private def corpus(rows: Int, keys: Int, seed: Long) = {
    val r = new scala.util.Random(seed)
    (0 until rows).map { i =>
      val k = if (r.nextInt(4) == 0) r.nextInt(keys) else i % keys
      (s"g$k", Array.fill(r.nextInt(24))(r.nextInt().toByte))
    }.toDF("k", "v")
  }

  test("packGroups equals the legacy udaf packer under binding and unbinding caps") {
    val df = corpus(2000, 40, 7).coalesce(1) // one task: a fixed arrival order
    val unbound = sameAsLegacy(df, Pack.BytesLimit)
    unbound.map(_._3).sum shouldBe 2000L
    val bound = sameAsLegacy(df, 200)
    bound.foreach(g => g._4 should be < 200L)
    bound.map(_._3).sum should be < 2000L
    bound should have size 40
  }

  test("packGroups equals the legacy packer through the sort-based fallback") {
    // more groups per task than spark.sql.objectHashAggregate.
    // sortBased.fallbackThreshold (128): the partial aggregate
    // serializes its buffers into the sort and merges them back
    val df = corpus(12000, 1500, 11).coalesce(1)
    val bound = sameAsLegacy(df, 40)
    bound should have size 1500
    bound.foreach(g => g._4 should be < 40L)
    bound.map(_._3).sum should be < 12000L
    val unbound = sameAsLegacy(df, Pack.BytesLimit)
    unbound.map(_._3).sum shouldBe 12000L
    // across tasks the final merge order is the shuffle's, so compare
    // the unbinding pack as sets
    val spread = corpus(12000, 1500, 11).repartition(3)
    val g = Grouper.byColumn("k")
    def asSets(d: DataFrame) = groups(d).map(t => (t._1, t._2.map(_.mkString(",")).sorted, t._3, t._4))
    asSets(Pack.packGroups(spread, g, col("v"))) shouldBe
      asSets(legacyPackGroups(spread, g, col("v"), Pack.BytesLimit))
  }

  test("a null payload throws NullPointerException") {
    intercept[NullPointerException] {
      update(agg(10), agg(10).createAggregationBuffer(), null)
    }
    val df = Seq(("a", b("x")), ("a", null)).toDF("k", "v").coalesce(1)
    val e = intercept[Exception] {
      Pack.packGroups(df, Grouper.byColumn("k"), col("v")).collect()
    }
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[NullPointerException]) shouldBe true
  }

  test("a buffer too large for one array fails to serialize, with the sizes") {
    val m = agg(Long.MaxValue)
    val p = buf(m, "x")
    p.total = Int.MaxValue.toLong // the claimed total, not an allocation
    val e = intercept[IllegalStateException](m.serialize(p))
    e.getMessage should include("more than one array holds")
  }

  test("the aggregate reports the legacy packer's struct type") {
    val df = Seq(("a", b("x"))).toDF("k", "v")
    val native = df.groupBy("k").agg(Pack.packWithLimit()(col("v")).as("p"))
    val u = udaf(new PackWithLimit(Pack.BytesLimit))
    val legacy = df.groupBy("k").agg(u(col("v")).as("p"))
    native.schema shouldBe legacy.schema
    native.schema("p").dataType shouldBe
      org.apache.spark.sql.Encoders.product[PackBuffer].schema
  }
}
