package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `wk_q13_order_count_dist` counts orders per customer BEFORE its left
  * join (eager aggregation). These tests pin it row for row against the
  * textbook join-then-count form ([[Q13Reference]]) at two fixtures, each
  * also in a variant where every seventh customer has no orders — the
  * shipped fixtures below sf0.1 have no zero-order customer, and the
  * `c_count = 0` bucket is the one a wrong rewrite loses.
  */
class EagerAggregationSpec extends SparkSpec {

  private val fixtures = Seq(sf,
    java.nio.file.Paths.get(sf).resolveSibling("sf0.01").toString)

  private def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.schema === b.schema)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      s"rows differ:\n${a.collect().mkString("\n")}\nvs\n${b.collect().mkString("\n")}")
  }

  /** A fixture holding `dir`'s customers and only the orders of customers
    * whose key is not a multiple of 7.
    */
  private def withOrderlessCustomers(dir: String): String = {
    val out = java.nio.file.Files.createTempDirectory("graft-q13-").toString
    Tables.customer(spark, dir).write.parquet(s"$out/customer.parquet")
    Tables.orders(spark, dir).where(col("o_custkey") % 7 =!= 0)
      .write.parquet(s"$out/orders.parquet")
    out
  }

  private def rm(p: java.nio.file.Path): Unit = {
    if (java.nio.file.Files.isDirectory(p)) {
      val s = java.nio.file.Files.list(p)
      try s.iterator().forEachRemaining(rm) finally s.close()
    }
    java.nio.file.Files.deleteIfExists(p)
  }

  private val q13 = SparkEntry.queries("wk_q13_order_count_dist")

  fixtures.foreach { fixture =>
    val name = java.nio.file.Paths.get(fixture).getFileName
    test(s"wk_q13: eager aggregation equals the textbook join-then-count at $name") {
      assertSameRows(q13(spark, fixture), Q13Reference(spark, fixture))
      val variant = withOrderlessCustomers(fixture)
      try {
        val got = q13(spark, variant)
        assertSameRows(got, Q13Reference(spark, variant))
        val orderless = Tables.customer(spark, variant)
          .where(col("c_custkey") % 7 === 0).count()
        assert(orderless > 0)
        assert(got.where(col("c_count") === 0).select("custdist")
          .collect().map(_.getLong(0)).toSeq === Seq(orderless))
      } finally rm(java.nio.file.Paths.get(variant))
    }
  }
}
