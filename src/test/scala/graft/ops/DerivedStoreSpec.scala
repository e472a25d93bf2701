package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DerivedStoreSpec extends SparkSpec {
  import spark.implicits._

  private def freshName(tag: String) = s"dstest_${tag}_${System.nanoTime()}"

  private def writeInput(rows: Seq[(Long, String)], path: String): Unit =
    rows.toDF("id", "v").write.mode("overwrite").parquet(path)

  test("second read hits the store: build closure runs once, data round-trips") {
    withTempDir("graft-dstore-in") { dir =>
      val in = s"$dir/in"
      writeInput(Seq((1L, "a"), (2L, "b"), (3L, "c")), in)
      val name = freshName("roundtrip")
      var builds = 0
      def get() = DerivedStore.getOrBuild(spark, name, Seq(in), Seq("id"), buckets = 2) {
        builds += 1
        spark.read.parquet(in).withColumn("twice", col("id") * 2)
      }
      val first = get().orderBy("id").collect()
      val second = get().orderBy("id").collect()
      assert(builds == 1, s"store missed: built $builds times")
      assert(first.toSeq == second.toSeq)
      assert(second.map(_.getAs[Long]("twice")).toSeq == Seq(2L, 4L, 6L))
    }
  }

  test("a changed input file invalidates the fingerprint and rebuilds") {
    withTempDir("graft-dstore-in") { dir =>
      val in = s"$dir/in"
      writeInput(Seq((1L, "a")), in)
      val name = freshName("invalidate")
      var builds = 0
      def get() = DerivedStore.getOrBuild(spark, name, Seq(in), Seq("id")) {
        builds += 1
        spark.read.parquet(in)
      }
      assert(get().count() == 1 && builds == 1)
      Thread.sleep(5) // ensure a distinct mtime
      writeInput(Seq((1L, "a"), (2L, "b")), in)
      assert(get().count() == 2, "stale store served after input change")
      assert(builds == 2)
    }
  }

  test("a part file rewritten IN PLACE (same filename set) still invalidates") {
    // A directory's own status is len=0 and its mtime does not move when an
    // existing child is modified in place — the fingerprint must fold the
    // per-file (name, len, mtime) of the directory's contents.
    withTempDir("graft-dstore-in") { dir =>
      val inA = s"$dir/in_a"
      val inB = s"$dir/in_b"
      writeInput(Seq((1L, "a")), inA)
      Seq((2L, "bb"), (3L, "ccc")).toDF("id", "v")
        .coalesce(1).write.mode("overwrite").parquet(inB)
      val name = freshName("inplace")
      var builds = 0
      def get() = DerivedStore.getOrBuild(spark, name, Seq(inA), Seq("id")) {
        builds += 1
        spark.read.parquet(inA)
      }
      assert(get().count() == 1 && builds == 1)
      // splice B's part file bytes over A's part file, keeping A's filenames
      val partA = new java.io.File(inA).listFiles().filter(_.getName.endsWith(".parquet")).head
      val partB = new java.io.File(inB).listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(partB.toPath, partA.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // drop Hadoop's .crc sidecars: they'd fail checksum on the spliced bytes
      new java.io.File(inA).listFiles().filter(_.getName.endsWith(".crc")).foreach(_.delete())
      assert(get().count() == 2, "stale store served after in-place part rewrite")
      assert(builds == 2)
    }
  }

  test("a part file rewritten in place inside a PARTITION subdirectory still invalidates") {
    // partitioned layouts nest part files under key=value subdirectories;
    // only a RECURSIVE fingerprint walk sees an in-place rewrite down there
    withTempDir("graft-dstore-in") { dir =>
      val in = s"$dir/in"
      Seq((1L, "a", 0), (2L, "b", 1)).toDF("id", "v", "k")
        .write.mode("overwrite").partitionBy("k").parquet(in)
      val name = freshName("nested")
      var builds = 0
      def get() = DerivedStore.getOrBuild(spark, name, Seq(in), Seq("id")) {
        builds += 1
        spark.read.parquet(in)
      }
      assert(get().count() == 2 && builds == 1)
      val d0 = new java.io.File(in, "k=0")
      val d1 = new java.io.File(in, "k=1")
      val p0 = d0.listFiles().filter(_.getName.endsWith(".parquet")).head
      val p1 = d1.listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(p1.toPath, p0.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      Seq(d0, d1).foreach(d =>
        d.listFiles().filter(_.getName.endsWith(".crc")).foreach(_.delete()))
      get()
      assert(builds == 2, "stale store served after a nested in-place rewrite")
    }
  }

  test("unreadable inputs skip persistence but still return the build") {
    val name = freshName("nofp")
    var builds = 0
    def get() = DerivedStore.getOrBuild(
      spark, name, Seq("/tmp/does_not_exist_anywhere.parquet"), Seq("id")) {
      builds += 1
      Seq((1L, "x")).toDF("id", "v")
    }
    assert(get().count() == 1)
    assert(get().count() == 1)
    assert(builds == 2, "an unkeyed result must never be served from disk")
  }

  test("unsafe store names are rejected before touching the filesystem") {
    intercept[IllegalArgumentException] {
      DerivedStore.getOrBuild(spark, "bad-name; drop", Seq("/tmp/x"), Seq("id")) {
        Seq((1L, "x")).toDF("id", "v")
      }
    }
  }
}
