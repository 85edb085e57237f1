package graft

import java.security.MessageDigest

import org.apache.spark.sql.Row

import graft.operators.Jpeg

/** The JPEG Spark operators (blob encode, gray and color decode, the
  * decoded-pixel lane codec) as the catalog queries run them, checked
  * per row against a driver fold: the same md5-derived coefficient
  * blobs, encoded with [[Jpeg.encode]] and decoded with [[Jpeg.decode]]
  * on the driver. The codec itself is pinned by JpegSpec; this spec
  * pins the per-partition plumbing around it (blob layout per scan,
  * channel routing, stats and lane folds, row identity). */
class JpegOperatorSpec extends SparkSpec {

  private lazy val docIds: Seq[Long] =
    Tables(spark, sf0001, "documents").select("doc_id").collect()
      .map(_.getLong(0)).toSeq

  /** The coefficient blob the query builds for `docId`: md5 of
    * `<prefix><b>x<k>:<doc_id>` for every block b and quarter k. */
  private def blocks(prefix: String, nBlocks: Int, docId: Long): IndexedSeq[Array[Int]] = {
    val blob = (for (b <- 0 until nBlocks; k <- 0 until 4) yield
      MessageDigest.getInstance("MD5")
        .digest(s"$prefix${b}x$k:$docId".getBytes("UTF-8"))).flatten.toArray
    IndexedSeq.tabulate(nBlocks)(b => Jpeg.coefFromBytes(blob, b * 64))
  }

  private def rows(query: String): Map[Long, Row] = {
    val got = SparkEntry.queries(query)(spark, sf0001).collect()
      .map(r => r.getAs[Long]("media_id") -> r).toMap
    got.keySet shouldBe docIds.toSet
    got
  }

  private def px(pixels: Array[Byte]): Array[Int] = pixels.map(_ & 0xff)

  /** Gray stats rows against the driver fold over decoded rasters. */
  private def checkGray(query: String, prefix: String, nBlocks: Int,
                        w: Int, h: Int, restartInterval: Int): Unit = {
    val got = rows(query)
    docIds.foreach { id =>
      val img = Jpeg.decode(Jpeg.encode(w, h, Seq((1, 0)),
        blocks(prefix, nBlocks, id), restartInterval = restartInterval))
      img.channels shouldBe 1
      val v = px(img.pixels)
      val r = got(id)
      (r.getAs[String]("format"), r.getAs[Int]("width"),
        r.getAs[Int]("height"), r.getAs[Int]("maxval")) shouldBe
        (("jpeg", img.width, img.height, 255))
      (r.getAs[Long]("n_pixels"), r.getAs[Long]("pixel_sum"),
        r.getAs[Int]("pixel_min"), r.getAs[Int]("pixel_max")) shouldBe
        ((v.length.toLong, v.map(_.toLong).sum, v.min, v.max))
    }
  }

  /** Per-channel sums rows against the driver fold over decoded RGB. */
  private def checkRgb(query: String, prefix: String, nBlocks: Int,
                       w: Int, h: Int, sampling: Seq[(Int, Int)]): Unit = {
    val got = rows(query)
    docIds.foreach { id =>
      val img = Jpeg.decode(Jpeg.encode(w, h, Seq((1, 0), (2, 1), (3, 1)),
        blocks(prefix, nBlocks, id), sampling = sampling))
      img.channels shouldBe 3
      val v = px(img.pixels)
      def sum(c: Int) = v.indices.filter(_ % 3 == c).map(v(_).toLong).sum
      val r = got(id)
      (r.getAs[Int]("width"), r.getAs[Int]("height"),
        r.getAs[Long]("n_pixels")) shouldBe
        ((img.width, img.height, (v.length / 3).toLong))
      (r.getAs[Long]("r_sum"), r.getAs[Long]("g_sum"),
        r.getAs[Long]("b_sum")) shouldBe ((sum(0), sum(1), sum(2)))
    }
  }

  test("gray 16x16 without a restart interval: blob encode + gray decode") {
    checkGray("multimodal_decode_jpeg", "jg", 4, 16, 16, restartInterval = 0)
  }

  test("gray 24x16 with restart interval 2: blob encode + gray decode") {
    checkGray("multimodal_decode_jpeg_rst", "jr", 6, 24, 16, restartInterval = 2)
  }

  test("4:4:4 color 16x8: blob encode + RGB decode") {
    checkRgb("multimodal_decode_jpeg_rgb", "jc", 6, 16, 8, sampling = Nil)
  }

  test("4:2:0 color 16x16: blob encode + RGB decode") {
    checkRgb("multimodal_decode_jpeg_420", "j4", 6, 16, 16,
      sampling = Seq((2, 2), (1, 1), (1, 1)))
  }

  test("gray 16x16 lane sums through the decoded-pixel lane codec") {
    val got = rows("multimodal_jpeg_features")
    docIds.foreach { id =>
      val v = px(Jpeg.decode(
        Jpeg.encode(16, 16, Seq((1, 0)), blocks("jg", 4, id))).pixels)
      val lanes = (0 until 8).map(j =>
        v.indices.filter(_ % 8 == j).map(v(_).toLong).sum)
      val digest = MessageDigest.getInstance("MD5")
        .digest(lanes.mkString(",").getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString
      got(id).getAs[String]("lane_digest") shouldBe digest
      got(id).getAs[String]("kind") shouldBe "image"
    }
  }
}
