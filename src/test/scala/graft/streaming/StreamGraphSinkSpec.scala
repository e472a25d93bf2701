package graft.streaming

import graft.SparkSpec
import java.nio.file.Files

class StreamGraphSinkSpec extends SparkSpec {
  import spark.implicits._

  private def edge(src: String, dst: String) = ("N", src, "N", dst, "R")

  test("streamed edges merge with MERGE dedup semantics across micro-batches") {
    withTempDir("graft-sgs") { base =>
      // batch files arrive over time; duplicates within and across batches
      Seq(edge("a", "b"), edge("a", "b"), edge("b", "c"))
        .toDF("src_label", "src", "dst_label", "dst", "rel")
        .write.parquet(s"$base/in/f0")
      Seq(edge("a", "b"), edge("c", "d"))
        .toDF("src_label", "src", "dst_label", "dst", "rel")
        .write.parquet(s"$base/in/f1")
      val schema = spark.read.parquet(s"$base/in/f0").schema
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$base/in/*")
      val q = StreamGraphSink.start(src, s"$base/table", s"$base/ckpt")
      q.awaitTermination(120000)
      val table = spark.read.parquet(s"$base/table")
      assert(table.count() == 3) // a→b, b→c, c→d — all duplicates collapsed
      // re-merging the same data is a no-op (idempotent replay)
      StreamGraphSink.mergeBatch(spark,
        Seq(edge("a", "b")).toDF("src_label", "src", "dst_label", "dst", "rel"), s"$base/table")
      assert(spark.read.parquet(s"$base/table").count() == 3)
    }
  }

  test("table is bucket-partitioned and the per-batch anti-join prunes partitions") {
    withTempDir("graft-sgs-prune") { base =>
      // explicit file: URI — all probes must go through Hadoop FileSystem
      val tableDir = s"file:$base/table"
      val edges = (1 to 200).map(i => edge(s"s$i", s"d$i"))
        .toDF("src_label", "src", "dst_label", "dst", "rel")
      StreamGraphSink.mergeBatch(spark, edges, tableDir, nBuckets = 8)

      // hive layout: one bkt=N directory per hash bucket
      val dirs = new java.io.File(s"$base/table").listFiles().filter(_.isDirectory)
        .map(_.getName).toSet
      assert(dirs.nonEmpty && dirs.forall(_.startsWith("bkt=")))

      // a one-edge merge is a no-op on content…
      StreamGraphSink.mergeBatch(spark,
        Seq(edge("s1", "d1")).toDF("src_label", "src", "dst_label", "dst", "rel"),
        tableDir, nBuckets = 8)
      assert(spark.read.parquet(tableDir).count() == 200)

      // …and the pruned scan it performs reads only the hit partition:
      // PartitionFilters carries the isin, PartitionCount < total buckets.
      val pruned = spark.read.parquet(tableDir).filter($"bkt".isin(3))
      val scan = pruned.queryExecution.executedPlan.toString
      assert(scan.contains("PartitionFilters") && scan.contains("bkt"))
      // files actually opened (post-pruning), vs the relation's full file list
      val readFiles = pruned.select(org.apache.spark.sql.functions.input_file_name())
        .distinct().collect().map(_.getString(0)).toSet
      assert(readFiles.nonEmpty && readFiles.size < spark.read.parquet(tableDir).inputFiles.length)
      assert(readFiles.forall(_.contains("bkt=3")))
    }
  }

  test("stored bucket count wins over a mismatched parameter; empty batches are no-ops") {
    withTempDir("graft-sgs-layout") { base =>
      val tableDir = s"$base/table"
      val empty = Seq.empty[(String, String, String, String, String)]
        .toDF("src_label", "src", "dst_label", "dst", "rel")

      // empty FIRST batch must not create a schemaless dir that wedges reads
      StreamGraphSink.mergeBatch(spark, empty, tableDir, nBuckets = 8)
      StreamGraphSink.mergeBatch(spark,
        Seq(edge("a", "b")).toDF("src_label", "src", "dst_label", "dst", "rel"),
        tableDir, nBuckets = 8)
      assert(spark.read.parquet(tableDir).count() == 1)

      // replaying the same edge with a DIFFERENT nBuckets must still dedup:
      // the layout marker pins the bucket count the table was written with
      StreamGraphSink.mergeBatch(spark,
        Seq(edge("a", "b")).toDF("src_label", "src", "dst_label", "dst", "rel"),
        tableDir, nBuckets = 128)
      assert(spark.read.parquet(tableDir).count() == 1)

      // empty later batch: also a no-op
      StreamGraphSink.mergeBatch(spark, empty, tableDir, nBuckets = 8)
      assert(spark.read.parquet(tableDir).count() == 1)
    }
  }

  test("corrupt empty marker: rewritten when no data, refused when data exists") {
    withTempDir("graft-sgs-marker") { base =>
      val tableDir = s"$base/table"
      Files.createDirectories(java.nio.file.Paths.get(tableDir))
      // crash artifact: empty marker, no data yet → merge recovers by rewriting
      // (the .crc sibling is dropped: an external corrupter wouldn't update it)
      def corruptMarker(content: String): Unit = {
        Files.writeString(java.nio.file.Paths.get(s"$tableDir/_graft_buckets"), content)
        Files.deleteIfExists(java.nio.file.Paths.get(s"$tableDir/._graft_buckets.crc"))
      }
      corruptMarker("")
      StreamGraphSink.mergeBatch(spark,
        Seq(edge("a", "b")).toDF("src_label", "src", "dst_label", "dst", "rel"),
        tableDir, nBuckets = 8)
      assert(spark.read.parquet(tableDir).count() == 1)
      assert(Files.readString(
        java.nio.file.Paths.get(s"$tableDir/_graft_buckets")).trim == "8")
      // marker corrupted AFTER data exists → bucket count unrecoverable, loud stop
      corruptMarker("not-a-number")
      val e = intercept[IllegalStateException] {
        StreamGraphSink.mergeBatch(spark,
          Seq(edge("c", "d")).toDF("src_label", "src", "dst_label", "dst", "rel"),
          tableDir, nBuckets = 8)
      }
      assert(e.getMessage.contains("unreadable"))
    }
  }

  test("compact reaches a steady state on checksummed filesystems (crc files not counted)") {
    withTempDir("graft-sgs-crcsteady") { base =>
      val tableDir = s"$base/table"
      StreamGraphSink.mergeBatch(spark,
        (0 until 20).map(i => edge(s"s$i", s"d$i"))
          .toDF("src_label", "src", "dst_label", "dst", "rel"),
        tableDir, nBuckets = 2)
      StreamGraphSink.compact(spark, tableDir)
      def newest = new java.io.File(tableDir).listFiles().filter(_.isDirectory)
        .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet")).map(_.lastModified).max
      val stamp = newest
      Thread.sleep(5)
      // second run must be a NO-OP: local FS writes .crc siblings next to every
      // parquet file; counting them would re-rewrite single-file buckets forever
      StreamGraphSink.compact(spark, tableDir)
      assert(newest == stamp, "compact rewrote an already-compacted bucket")
    }
  }

  test("compact folds per-batch files into one per bucket, content unchanged") {
    withTempDir("graft-sgs-compact") { base =>
      val tableDir = s"$base/table"
      // three merges into few buckets → multiple files per bucket
      (0 until 3).foreach { b =>
        val edges = (0 until 40).map(i => edge(s"s$b-$i", s"d$i"))
          .toDF("src_label", "src", "dst_label", "dst", "rel")
        StreamGraphSink.mergeBatch(spark, edges, tableDir, nBuckets = 4)
      }
      val before = StreamGraphSink.readEdges(spark, tableDir).collect().map(_.toSeq).toSet
      val filesBefore = spark.read.parquet(tableDir).inputFiles.length
      assert(filesBefore > 4)

      StreamGraphSink.compact(spark, tableDir)
      val filesAfter = spark.read.parquet(tableDir).inputFiles.length
      assert(filesAfter <= 4, s"expected ≤1 file per bucket, got $filesAfter")
      val after = StreamGraphSink.readEdges(spark, tableDir).collect().map(_.toSeq).toSet
      assert(after == before)

      // merges keep working against the compacted layout (dedup intact)
      StreamGraphSink.mergeBatch(spark,
        Seq(edge("s0-0", "d0")).toDF("src_label", "src", "dst_label", "dst", "rel"),
        tableDir, nBuckets = 4)
      assert(StreamGraphSink.readEdges(spark, tableDir).count() == before.size)
    }
  }
}
