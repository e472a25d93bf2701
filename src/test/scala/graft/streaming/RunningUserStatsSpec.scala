package graft.streaming

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

class RunningUserStatsSpec extends SparkSpec {

  private def eventsIn = {
    import org.apache.spark.sql.types.LongType
    Tables.events(spark, sf001)
      .select(col("user_id"), col("event_id"),
        floor(col("value") * 100).cast(LongType).as("cents"))
      .as[RunningUserStats.EventIn](Encoders.product[RunningUserStats.EventIn])
  }

  test("transformWithState running stats over a stream match the batch aggregate") {
    // transformWithState requires the RocksDB state store provider
    val key = "spark.sql.streaming.stateStore.providerClass"
    // getAll, not getOption: getOption returns the registered default, and
    // restoring that would leave the default SET on the shared session
    val prev = spark.conf.getAll.get(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      withTempDir("graft-tws") { dir =>
        eventsIn.write.mode("overwrite").parquet(dir)
        val src = spark.readStream.schema(eventsIn.schema).parquet(dir)
          .as[RunningUserStats.EventIn](Encoders.product[RunningUserStats.EventIn])
        val q = RunningUserStats.runningStats(src)
          .writeStream.outputMode("append").format("memory").queryName("tws")
          .trigger(Trigger.AvailableNow()).start()
        assert(q.awaitTermination(120000), "stream did not terminate within 120s")

        // one emission per key per micro-batch: the FINAL emission per user
        // (max n_events) must equal the batch groupBy totals exactly
        val last = spark.table("tws")
          .groupBy("user_id")
          .agg(max(struct(col("n_events"), col("sum_cents"), col("max_cents"))).as("s"))
          .select(col("user_id"), col("s.n_events"), col("s.sum_cents"), col("s.max_cents"))
        val batch = eventsIn.toDF()
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"), sum("cents").as("sum_cents"),
            max("cents").as("max_cents"))
        assert(last.count() == batch.count() && batch.count() > 0)
        assert(last.except(batch).isEmpty && batch.except(last).isEmpty)
      }
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("the same processor runs in batch mode with transient state") {
    val out = RunningUserStats.runningStats(eventsIn).toDF()
    val batch = eventsIn.toDF()
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), sum("cents").as("sum_cents"),
        max("cents").as("max_cents"))
    assert(out.count() == batch.count())
    assert(out.except(batch).isEmpty && batch.except(out).isEmpty)
  }
}
