package graft.ops

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** The 100 TB co-location story (SURVEY.md §7.2.7): pre-bucketing both join
  * sides on the join key removes the per-query shuffle entirely — the join
  * compiles to bucket-aligned SortMergeJoin with NO Exchange. This is the
  * layout the graph upsert's full-outer merge and any repeated fact-fact
  * join should use at scale.
  */
class BucketedJoinSpec extends SparkSpec {

  test("bucketed tables join without any shuffle exchange") {
    withTempDir("graft-warehouse") { wh =>
      val o = Tables.orders(spark, sf001).select("o_orderkey", "o_custkey", "o_totalprice")
      val c = Tables.customer(spark, sf001).select("c_custkey", "c_name")
      o.write.mode("overwrite").bucketBy(8, "o_custkey").sortBy("o_custkey")
        .option("path", s"$wh/orders_b").saveAsTable("orders_b")
      c.write.mode("overwrite").bucketBy(8, "c_custkey").sortBy("c_custkey")
        .option("path", s"$wh/customer_b").saveAsTable("customer_b")
      try {
        // force SMJ so the test exercises the bucketed path, not broadcast
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val joined = spark.table("orders_b")
          .join(spark.table("customer_b"), col("o_custkey") === col("c_custkey"))
        val plan = joined.queryExecution.executedPlan.toString
        assert(plan.contains("SortMergeJoin"), plan)
        assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
        assert(joined.count() == Tables.orders(spark, sf001).count())
      } finally {
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS customer_b")
      }
    }
  }
}
