package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val rows = Seq(
    (1L, "a", 0.1 + 0.2, Seq(1, 2)),
    (2L, "b", -0.0, Seq.empty[Int]),
    (3L, null, 1e300, Seq(3)),
    (4L, "d", 2.5, null))

  private def digest(rs: Seq[(Long, String, Double, Seq[Int])], parts: Int) = {
    import spark.implicits._
    Digest.of(rs.toDF("id", "s", "x", "xs").repartition(parts))
  }

  test("the digest ignores row order and partitioning") {
    val d = digest(rows, 1)
    assert(d.rows == 4)
    assert(digest(rows.reverse, 3) == d)
  }

  test("the digest ignores column order") {
    import spark.implicits._
    val df = rows.toDF("id", "s", "x", "xs")
    assert(Digest.of(df.select("xs", "x", "s", "id")) == Digest.of(df))
  }

  test("the digest changes when one cell changes") {
    val d = digest(rows, 2)
    assert(digest(rows.updated(0, (1L, "a", 0.31, Seq(1, 2))), 2) != d)
    assert(digest(rows.updated(1, (2L, "B", -0.0, Seq.empty[Int])), 2) != d)
    assert(digest(rows.updated(2, (3L, "", 1e300, Seq(3))), 2) != d)
    assert(digest(rows.updated(3, (4L, "d", 2.5, Seq.empty[Int])), 2) != d)
    assert(digest(rows.updated(0, (1L, "a", 0.1 + 0.2, Seq(2, 1))), 2) != d)
    assert(digest(rows.updated(1, (5L, "b", -0.0, Seq.empty[Int])), 2) != d)
  }

  test("doubles compare at 9 significant digits, and -0.0 equals 0.0") {
    val d = digest(rows, 2)
    assert(digest(rows.updated(0, (1L, "a", 0.3, Seq(1, 2))), 2) == d)
    assert(digest(rows.updated(1, (2L, "b", 0.0, Seq.empty[Int])), 2) == d)
    assert(Digest.canonical(123456789.0) != Digest.canonical(123456788.0))
  }

  test("a duplicated row is not cancelled out") {
    val d = digest(rows, 2)
    val twice = digest(rows :+ rows.head, 2)
    assert(twice.rows == 5 && twice.hash != d.hash)
  }
}
