package graft.ops

import graft.SparkSpec
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

class BatchedSinkSpec extends SparkSpec {
  import spark.implicits._

  // Collector shared via a static field (tests run in one JVM; executors are
  // in-process threads under local mode, so this observes every send).
  test("every row is delivered exactly once — no off-by-one (fixes main.py:319-324)") {
    BatchedSinkSpec.sent.clear()
    val rows = (1 to 2500).map(_.toString).toDS().repartition(3)
    BatchedSink.write[String](rows, batchSize = 1000,
      (id, batch) => BatchedSinkSpec.sent.add(id.toString -> batch))
    val delivered = BatchedSinkSpec.sent.asScala.flatMap(_._2).toSeq
    assert(delivered.size == 2500)
    assert(delivered.toSet == (1 to 2500).map(_.toString).toSet)
  }

  test("batches respect batchSize") {
    BatchedSinkSpec.sent.clear()
    val rows = (1 to 250).map(_.toString).toDS().coalesce(1)
    BatchedSink.write[String](rows, batchSize = 100,
      (id, batch) => BatchedSinkSpec.sent.add(id.toString -> batch))
    val sizes = BatchedSinkSpec.sent.asScala.map(_._2.size).toSeq.sorted
    assert(sizes == Seq(50, 100, 100))
  }

  test("committed batch ids are skipped on resume (main.py:318 offset semantics)") {
    BatchedSinkSpec.sent.clear()
    val rows = (1 to 300).map(_.toString).toDS().coalesce(1).sortWithinPartitions("value")
    BatchedSink.write[String](rows, 100, (id, b) => BatchedSinkSpec.sent.add(id.toString -> b))
    val firstRun = BatchedSinkSpec.sent.asScala.map(_._1).toSet
    assert(firstRun.size == 3)

    BatchedSinkSpec.sent.clear()
    val resumeFrom = firstRun.take(2)
    BatchedSink.write[String](rows, 100, (id, b) => BatchedSinkSpec.sent.add(id.toString -> b), resumeFrom)
    val secondRun = BatchedSinkSpec.sent.asScala.map(_._1).toSet
    assert(secondRun == firstRun -- resumeFrom)
  }

  test("writeResumable: crash mid-run, then resume from the on-disk ledger") {
    BatchedSinkSpec.sent.clear()
    withTempDir("graft-ledger") { dir =>
      val rows = (1 to 300).map(_.toString).toDS().coalesce(1).sortWithinPartitions("value")

      // First run commits batch 0, then dies on batch 1 — its marker is on
      // disk, batches 1 and 2 are not.
      intercept[Exception] {
        BatchedSink.writeResumable[String](rows, 100, (id, b) => {
          if (id.index == 1L) throw new RuntimeException("sink down")
          BatchedSinkSpec.sent.add(id.toString -> b)
        }, dir)
      }
      assert(BatchLedger.load(spark, dir) == Set("0:0"))

      // Resume with a healthy sink: only the uncommitted batches re-send.
      BatchedSinkSpec.sent.clear()
      BatchedSink.writeResumable[String](rows, 100,
        (id, b) => BatchedSinkSpec.sent.add(id.toString -> b), dir)
      assert(BatchedSinkSpec.sent.asScala.map(_._1).toSet == Set("0:1", "0:2"))
      assert(BatchLedger.load(spark, dir) == Set("0:0", "0:1", "0:2"))

      // A third run is a no-op: everything is committed.
      BatchedSinkSpec.sent.clear()
      BatchedSink.writeResumable[String](rows, 100,
        (id, b) => BatchedSinkSpec.sent.add(id.toString -> b), dir)
      assert(BatchedSinkSpec.sent.isEmpty)
    }
  }

  test("BatchLedger.compact folds markers into one file, resume still exact") {
    BatchedSinkSpec.sent.clear()
    withTempDir("graft-ledger-c") { dir =>
      val rows = (1 to 250).map(_.toString).toDS().coalesce(1).sortWithinPartitions("value")
      BatchedSink.writeResumable[String](rows, 100,
        (id, b) => BatchedSinkSpec.sent.add(id.toString -> b), dir)
      val before = BatchLedger.load(spark, dir)
      assert(before.size == 3)

      BatchLedger.compact(spark, dir)
      val files = new java.io.File(dir).listFiles().map(_.getName).toSet
      assert(files.contains("_compacted") && !files.exists(_.endsWith(".done")))
      assert(BatchLedger.load(spark, dir) == before)

      BatchedSinkSpec.sent.clear()
      BatchedSink.writeResumable[String](rows, 100,
        (id, b) => BatchedSinkSpec.sent.add(id.toString -> b), dir)
      assert(BatchedSinkSpec.sent.isEmpty)
    }
  }

  test("a crash between compact's delete and rename loses no commit records") {
    BatchedSinkSpec.sent.clear()
    withTempDir("graft-ledger-t") { dir =>
      val rows = (1 to 250).map(_.toString).toDS().coalesce(1).sortWithinPartitions("value")
      BatchedSink.writeResumable[String](rows, 100,
        (id, b) => BatchedSinkSpec.sent.add(id.toString -> b), dir)
      val before = BatchLedger.load(spark, dir)

      // simulate the crash window: tmp written (superset), _compacted deleted
      BatchLedger.compact(spark, dir)
      val d = new java.io.File(dir)
      java.nio.file.Files.copy(
        new java.io.File(d, "_compacted").toPath, new java.io.File(d, "_compacted.tmp").toPath)
      assert(new java.io.File(d, "_compacted").delete())

      assert(BatchLedger.load(spark, dir) == before) // tmp fallback covers it
      BatchedSinkSpec.sent.clear()
      BatchedSink.writeResumable[String](rows, 100,
        (id, b) => BatchedSinkSpec.sent.add(id.toString -> b), dir)
      assert(BatchedSinkSpec.sent.isEmpty) // nothing re-sent
    }
  }
}

object BatchedSinkSpec {
  val sent = new ConcurrentLinkedQueue[(String, Seq[String])]()
}
