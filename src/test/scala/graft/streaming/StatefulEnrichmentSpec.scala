package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.Encoders

class StatefulEnrichmentSpec extends SparkSpec {
  import spark.implicits._
  import StatefulEnrichment._

  test("flatMapGroupsWithState keeps per-user counters across micro-batches") {
    withTempDir("graft-stateful") { dir =>
      // two micro-batch files: user 1 appears in both → counter must carry over
      Seq(EventIn(1L, 100L), EventIn(1L, 101L), EventIn(2L, 200L)).toDS()
        .write.parquet(s"$dir/b0")
      Seq(EventIn(1L, 102L), EventIn(3L, 300L)).toDS()
        .write.parquet(s"$dir/b1")
      val src = spark.readStream
        .schema(Encoders.product[EventIn].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$dir/*")
        .as[EventIn]
      val q = annotate(src).writeStream
        .outputMode("append").format("memory").queryName("stateful")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      val out = spark.table("stateful").as[EventOut].collect()
      // micro-batch file pickup order is unspecified — assert the state
      // invariants instead: per-user seq numbers are a contiguous 1..n run
      // (state carried across batches), and exactly the seq-1 event per user
      // is flagged first_seen.
      val byUser = out.groupBy(_.user_id)
      assert(byUser(1L).map(_.seq_in_user).sorted.toSeq == Seq(1L, 2L, 3L))
      assert(byUser(2L).map(_.seq_in_user).toSeq == Seq(1L))
      assert(byUser(3L).map(_.seq_in_user).toSeq == Seq(1L))
      out.foreach(e => assert(e.first_seen == (e.seq_in_user == 1L)))
    }
  }
}
