package graft

import org.apache.spark.sql.functions._
import graft.queries.Td

class TypedSpec extends SparkTestBase {

  test("approx cardinality within tolerance of exact (HLL)") {
    val docs = Td.t(spark, sf0001, "documents")
    val exact = docs.select(countDistinct(md5(col("text")))).collect()(0).getLong(0)
    val approx = docs.select(approx_count_distinct(md5(col("text")), 0.02))
      .collect()(0).getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.05, s"approx=$approx exact=$exact")
  }
}
