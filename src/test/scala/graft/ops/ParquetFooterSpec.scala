package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ParquetFooterSpec extends SparkSpec {

  test("footer facts match the engine's own view of a file it wrote") {
    withTempDir("graft-footer") { root =>
      val dir = s"$root/t"
      spark.range(0, 5000)
        .select(col("id"), (col("id") * 3).as("v"),
          concat(lit("s"), col("id") % 7).as("s"))
        .coalesce(1)
        .write.mode("overwrite").parquet(dir)
      val row = ParquetFooter.describe(spark, Seq(("t", dir))).head()
      assert(row.getAs[Int]("n_files") === 1)
      assert(row.getAs[Long]("num_rows") === 5000L)
      assert(row.getAs[Int]("n_leaf_columns") === 3)
      assert(row.getAs[Long]("n_groups") >= 1L)
      assert(row.getAs[Boolean]("groups_rows_ok"))
      assert(row.getAs[Boolean]("chunks_ok"))
      assert(row.getAs[Boolean]("ver_ok"))
    }
  }

  test("multiple row groups: forced small block size still covers all rows") {
    withTempDir("graft-footer") { root =>
      val dir = s"$root/t"
      spark.range(0, 200000)
        .select(col("id"), concat(lit("padpadpadpad"), col("id")).as("pad"))
        .coalesce(1)
        .write.mode("overwrite")
        .option("parquet.block.size", 64 * 1024) // ~64 KiB groups
        .parquet(dir)
      val row = ParquetFooter.describe(spark, Seq(("t", dir))).head()
      assert(row.getAs[Long]("num_rows") === 200000L)
      assert(row.getAs[Long]("n_groups") > 1L, "expected several row groups")
      assert(row.getAs[Boolean]("groups_rows_ok"))
      assert(row.getAs[Boolean]("chunks_ok"))
      // chunk count = groups × leaves, the invariant the gate pins
      assert(row.getAs[Long]("n_chunks") === row.getAs[Long]("n_groups") * 2)
    }
  }

  test("multi-part directory aggregates across part files") {
    withTempDir("graft-footer") { root =>
      val dir = s"$root/t"
      spark.range(0, 9000).repartition(3)
        .write.mode("overwrite").parquet(dir)
      val row = ParquetFooter.describe(spark, Seq(("t", dir))).head()
      assert(row.getAs[Int]("n_files") === 3)
      assert(row.getAs[Long]("num_rows") === 9000L)
      assert(row.getAs[Int]("n_leaf_columns") === 1)
      assert(row.getAs[Boolean]("groups_rows_ok"))
    }
  }

  test("nested schema counts leaves, not groups (list<float> = 1 leaf)") {
    withTempDir("graft-footer") { root =>
      val dir = s"$root/t"
      spark.range(0, 100)
        .select(col("id"), array(lit(1.0f), lit(2.0f)).as("emb"))
        .coalesce(1)
        .write.mode("overwrite").parquet(dir)
      val row = ParquetFooter.describe(spark, Seq(("t", dir))).head()
      // id + the list's element leaf — the wrapping group/list nodes
      // declare children and must not count
      assert(row.getAs[Int]("n_leaf_columns") === 2)
      assert(row.getAs[Boolean]("chunks_ok"))
    }
  }

  test("corrupt magic and truncated footers degrade to zero parsed files") {
    withTempDir("graft-footer") { root =>
      val dir = s"$root/t"
      spark.range(0, 10).coalesce(1).write.mode("overwrite").parquet(dir)
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
        .filter(s => s.getPath.getName.endsWith(".parquet")).head.getPath
      val bytes = {
        val in = fs.open(part)
        try {
          val len = fs.getFileStatus(part).getLen.toInt
          val b = new Array[Byte](len)
          in.readFully(0, b); b
        } finally in.close()
      }
      // flip the tail magic
      val bad = bytes.clone()
      bad(bad.length - 1) = 'X'.toByte
      val out = fs.create(part, true)
      try out.write(bad) finally out.close()
      val row = ParquetFooter.describe(spark, Seq(("t", dir))).head()
      assert(row.getAs[Int]("n_files") === 0)
      assert(!row.getAs[Boolean]("groups_rows_ok")) // no parseable footer
    }
  }

  test("page index: per-page facts match the engine's own view of a sorted store") {
    withTempDir("graft-footer") { root =>
      val dir = s"$root/t"
      spark.range(0, 2400)
        .select(col("id").as("k"), (col("id") * 7 % 100).as("v"))
        .coalesce(1).sortWithinPartitions("k")
        .write.mode("overwrite")
        .option("parquet.page.row.count.limit", "100")
        .option("parquet.block.size", "16384")
        .parquet(dir)
      val pi = ParquetFooter.int64PageIndex(spark, dir, "k").collect()
      assert(pi.nonEmpty && pi.forall(_.getAs[Boolean]("ok")), pi.mkString("\n"))
      // pages partition the file's rows: global starts strictly increase,
      // page rows sum to 2400, and the 100-row page limit held
      assert(pi.map(_.getAs[Long]("page_rows")).sum === 2400L)
      assert(pi.forall(_.getAs[Long]("page_rows") <= 100L))
      val starts = pi.map(r =>
        r.getAs[Long]("grp_row_start") + r.getAs[Long]("first_row")).sorted
      assert(starts.head === 0L && starts.distinct.length === starts.length)
      // k == global row index (sorted contiguous range), so every page's
      // index bounds are exactly [start, start + rows - 1]
      pi.foreach { r =>
        val start = r.getAs[Long]("grp_row_start") + r.getAs[Long]("first_row")
        assert(r.getAs[Long]("min_v") === start)
        assert(r.getAs[Long]("max_v") === start + r.getAs[Long]("page_rows") - 1)
        assert(r.getAs[Int]("boundary_order") === 1) // ASCENDING
        assert(!r.getAs[Boolean]("null_page"))
      }
      // ≥ 2 row groups at this block size — the within-group skip matters
      assert(pi.map(_.getAs[Int]("grp")).distinct.length >= 2)
    }
  }

  test("page index: a column with no index structures degrades to ok=false rows") {
    withTempDir("graft-footer") { root =>
      val dir = s"$root/t"
      spark.range(0, 100).select(col("id").as("k"))
        .coalesce(1).write.mode("overwrite")
        // parquet-mr drops the page indexes when told not to write them
        .option("parquet.column.index.truncate.length", "64")
        .parquet(dir)
      // ask for a column that does not exist: locations absent → bad rows
      val pi = ParquetFooter.int64PageIndex(spark, dir, "nope").collect()
      assert(pi.nonEmpty && pi.forall(!_.getAs[Boolean]("ok")))
    }
  }
}
