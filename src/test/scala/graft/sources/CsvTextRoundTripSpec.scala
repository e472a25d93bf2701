package graft.sources

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Closes the §2.3 scans/sinks row for csv/text: fixture data survives a
  * schema-pinned CSV round trip (quoting, headers, explicit schema — no
  * inference job at scale) and a text-file round trip, byte-exact. */
class CsvTextRoundTripSpec extends SparkSpec {

  test("csv round trip with explicit schema is lossless on fixture rows") {
    withTempDir("graft-csv") { dir =>
      val src = Tables.customer(spark, sf001)
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      src.write.mode("overwrite").option("header", "true").csv(dir)
      // explicit schema: inference would cost an extra full scan at 100 TB
      val back = spark.read.schema(src.schema).option("header", "true").csv(dir)
      assert(back.count() == src.count())
      assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
    }
  }

  test("orc round trip is lossless including array columns (columnar alternative to parquet)") {
    withTempDir("graft-orc") { dir =>
      val src = Tables.embeddings(spark, sf001).select("vec_id", "embedding", "label")
      src.write.mode("overwrite").orc(dir)
      val back = spark.read.orc(dir)
      assert(back.count() == src.count())
      assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
      // ORC predicate pushdown reaches the scan like parquet's does
      val plan = back.filter(col("vec_id") === 7L).queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters: [IsNotNull(vec_id), EqualTo(vec_id,7)]"), plan)
    }
  }

  test("text round trip preserves lines and order metadata via row index") {
    withTempDir("graft-text") { dir =>
      val lines = Tables.part(spark, sf001).select(col("p_name")).limit(100)
      lines.write.mode("overwrite").text(dir)
      val back = spark.read.text(dir)
      assert(back.count() == 100)
      assert(back.select(col("value")).exceptAll(lines.toDF("value")).isEmpty)
    }
  }
}
