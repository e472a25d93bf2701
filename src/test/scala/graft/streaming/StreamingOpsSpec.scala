package graft.streaming

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

class StreamingOpsSpec extends SparkSpec {

  /** Run `op` over the sf0.001 events as a real file-source stream into a
    * memory sink (complete mode), return the final table. */
  private def streamed(name: String, op: DataFrame => DataFrame): DataFrame = {
    withTempDir(s"graft-stream-$name") { dir =>
      val batchEvents = Tables.events(spark, sf001)
      batchEvents.write.mode("overwrite").parquet(dir)
      val src = spark.readStream.schema(batchEvents.schema).parquet(dir)
      val q = op(src).writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), s"stream $name did not terminate within 120s")
      spark.table(name)
    }
  }

  test("streaming sessionize matches the batch session_window result") {
    val batch = StreamingOps.sessionize(Tables.events(spark, sf001))
    val stream = streamed("sess", df => StreamingOps.sessionize(df))
    assert(stream.count() == batch.count())
    assert(stream.except(batch).isEmpty && batch.except(stream).isEmpty)
  }

  test("streaming tumbling counts match the batch window() result") {
    val batch = StreamingOps.tumblingCounts(Tables.events(spark, sf001))
    val stream = streamed("tumb", df => StreamingOps.tumblingCounts(df))
    assert(stream.except(batch).isEmpty && batch.except(stream).isEmpty)
  }

  test("stream-stream interval join matches the batch join (state-bounded by watermark + interval)") {
    val batchEvents = Tables.events(spark, sf001)
    val batch = StreamingOps.intervalJoin(batchEvents, batchEvents)
    // two INDEPENDENT file streams over the same data — a genuine
    // stream-stream join, not a self-reference the planner could collapse
    withTempDir("graft-stream-ij") { dir =>
      batchEvents.write.mode("overwrite").parquet(dir)
      def src = spark.readStream.schema(batchEvents.schema).parquet(dir)
      val q = StreamingOps.intervalJoin(src, src)
        .writeStream.outputMode("append").format("memory").queryName("ij")
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "stream did not terminate within 120s")
      val stream = spark.table("ij")
      assert(stream.count() == batch.count() && batch.count() > 0)
      assert(stream.except(batch).isEmpty && batch.except(stream).isEmpty)
    }
  }

  test("dedupWithinWatermark drops duplicate keys on a stream") {
    withTempDir("graft-stream-dedup") { dir =>
      val batchEvents = Tables.events(spark, sf001)
      // duplicate every event, then dedup by event_id on the stream
      batchEvents.union(batchEvents).write.mode("overwrite").parquet(dir)
      val src = spark.readStream.schema(batchEvents.schema).parquet(dir)
      val q = StreamingOps.dedupWithinWatermark(src, Seq("event_id"))
        .writeStream.outputMode("append").format("memory").queryName("dedup")
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "dedup stream did not terminate within 120s")
      assert(spark.table("dedup").count() == batchEvents.count())
    }
  }
}
