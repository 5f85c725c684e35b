package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The q2 answer (revenue per nation over lineitem ⋈ orders ⋈ customer ⋈
  * nation) as a plain declarative DataFrame over the flat fixture files:
  * the reference both q2 kernel gates are compared against. Exact DECIMAL
  * sum, then round(CAST(… AS DOUBLE), 4), as the oracle SQL computes it.
  * `joinHint` is the Spark join strategy hint put on each join's build
  * side ("merge" for sort-merge, "shuffle_hash" for shuffled hash). */
object Q2Reference {
  def rows(s: SparkSession, dir: String,
           joinHint: String): Set[(String, Double, Long)] = {
    def t(name: String): DataFrame = s.read.parquet(s"$dir/$name.parquet")
    def build(name: String): DataFrame = t(name).hint(joinHint)
    val dec = DecimalType(18, 2)
    val revenue = col("l_extendedprice").cast(dec) *
      (lit(1).cast(dec) - col("l_discount").cast(dec))
    t("lineitem")
      .join(build("orders"), col("l_orderkey") === col("o_orderkey"))
      .join(build("customer"), col("o_custkey") === col("c_custkey"))
      .join(build("nation"), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(revenue.cast(DecimalType(38, 4))).cast("double"), 4),
        count(lit(1)))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
  }
}
