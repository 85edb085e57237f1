package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The SQL surface: graft's codegen expressions registered through
  * SparkSessionExtensions and called from plain spark.sql. Uses its own
  * session (extensions apply at session build). */
class ExtensionsSpec extends AnyFunSuite with Matchers {

  test("custom expressions callable from SQL via GraftExtensions") {
    // getOrCreate reuses any existing default session (ignoring new
    // extensions) — clear the defaults so a fresh session with the
    // extensions is built on the shared SparkContext, restore after
    val previous = SparkSession.getDefaultSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val spark = GraftSession.local(2)
    try {
      val dot = spark.sql(
        "SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
        .head().getDouble(0)
      dot shouldBe 11.0
      // hashes 1 and 3: bit0 set in both (+2 -> set); bit1 split (0 -> unset)
      val sh = spark.sql(
        "SELECT simhash64(array(1L, 3L)) AS h").head().getLong(0)
      sh shouldBe 1L
      val sig = spark.sql(
        "SELECT size(minhash_signature(array(42L), 8, 7L)) AS n")
        .head().getInt(0)
      sig shouldBe 8
      val bands = spark.sql(
        "SELECT size(minhash_bands(array(42L), 8, 4, 7L)) AS n")
        .head().getInt(0)
      bands shouldBe 4
      val ts = spark.sql(
        "SELECT p.* FROM (SELECT text_stats('the cat und der hund') AS p)")
        .head()
      ts.getAs[Long]("n_tokens") shouldBe 5L
      ts.getAs[Long]("n_stops") shouldBe 1L  // 'the'
      ts.getAs[Long]("m_de") shouldBe 2L     // 'und', 'der'
    } finally {
      // do not stop(): the JVM-wide SparkContext is shared with the
      // other suites; restore the previous default session
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      previous.foreach(SparkSession.setDefaultSession)
    }
  }
}
