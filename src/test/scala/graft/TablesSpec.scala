package graft


import org.apache.spark.sql.functions._

/** Fixture-loader robustness: the events.ts type dispatch (both parquet
  * vintages the generator has shipped) and the schema-audit guard. */
class TablesSpec extends SparkSpec {

  test("events loads the current TIMESTAMP(MICROS) fixture as TimestampType") {
    val ev = Tables.events(spark, sf001)
    assert(ev.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    assert(ev.count() > 0)
  }

  test("events loads a legacy INT64-nanos fixture via the div-1000 path") {
    withTempDir("graft-nanos") { dir =>
      // Write ts as raw nanos LONG; under the legacy conf a true
      // TIMESTAMP(NANOS) file also scans as LongType, so this exercises the
      // same dispatch arm the old generator's files hit.
      Tables.events(spark, sf001)
        .withColumn("ts", (unix_micros(col("ts")) * 1000).cast("long"))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
      val ev = Tables.events(spark, dir)
      assert(ev.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
      val orig = Tables.events(spark, sf001).agg(max(unix_micros(col("ts")))).head().getLong(0)
      val round = ev.agg(max(unix_micros(col("ts")))).head().getLong(0)
      assert(round == orig)
    }
  }

  test("events fails fast with one clear message on a contract-breaking type") {
    withTempDir("graft-badts") { dir =>
      Tables.events(spark, sf001)
        .withColumn("ts", col("ts").cast("string"))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
      val e = intercept[IllegalStateException](Tables.events(spark, dir))
      assert(e.getMessage.contains("events.ts"))
      assert(e.getMessage.contains(dir))
    }
  }

  test("validate is clean on the driver fixtures") {
    assert(Tables.validate(spark, sf001).isEmpty)
  }

  test("validate names the table and column on a perturbed fixture") {
    withTempDir("graft-perturb") { dir =>
      Tables.names.foreach { t =>
        val df = Tables.table(spark, sf001, t)
        val out = if (t == "documents") df.withColumn("lang", col("doc_id")) else df
        out.coalesce(1).write.mode("overwrite").parquet(s"$dir/$t.parquet")
      }
      val report = Tables.validate(spark, dir)
      assert(report == Seq("documents.lang: expected string, found int"))
    }
  }
}
