package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Standalone, version-pinned repro of the Spark 4.1.2 vectorized-reader
  * DELTA_BYTE_ARRAY defect (found by x200's differential gate; full
  * narrative in tools/spark_v2_delta_byte_array_bug.md): a string column
  * written by SPARK'S OWN v2 parquet writer (DELTA_BYTE_ARRAY pages) is
  * mis-decoded by Spark's vectorized parquet reader — corrupted strings
  * and wrong lengths — while the row-based parquet-mr path, DuckDB, and
  * the repo's hand decoder (ops/ParquetPages) agree byte-for-byte.
  *
  * The pin runs BOTH readers over the same file and compares value facts:
  *   - on Spark 4.1.2 the disagreement must REPRODUCE (if this starts
  *     failing on 4.1.2, the repro fixture rotted — investigate);
  *   - on any LATER Spark the readers must AGREE — at which point x200's
  *     and x204's oracles can tighten from arithmetic prediction to
  *     reader equality and this pin retires. A failure here after an
  *     upgrade means the bug is STILL present and the arithmetic oracles
  *     must stay.
  */
class SparkV2ReaderBugSpec extends SparkSpec {
  import spark.implicits._

  test("vectorized DELTA_BYTE_ARRAY self-read: disagreement pinned to Spark 4.1.2") {
    withTempDir("graft-v2bug") { root =>
      val dir = s"$root/t"
      // the reproducing shape (probed): UNCOMPRESSED v2 pages across
      // multiple row groups — the page's level/value byte slicing is what
      // the vectorized reader mis-handles (the same file with snappy, or a
      // single row group, reads back clean). Shared prefixes make
      // DELTA_BYTE_ARRAY's prefix compression do real work.
      (1 to 5000).map { i =>
        (i.toLong, if (i % 9 == 0) None
        else Some(s"prefix-${i % 37}-value-${(i * 13) % 101}"))
      }.toDF("k", "s").coalesce(1).write
        .option("parquet.writer.version", "v2")
        .option("parquet.enable.dictionary", "false")
        .option("compression", "none")
        .option("parquet.block.size", "65536")
        .option("parquet.page.size", "4096")
        .parquet(dir)
      val key = "spark.sql.parquet.enableVectorizedReader"
      val prev = spark.conf.get(key)
      def facts(vectorized: Boolean): Seq[Any] = {
        spark.conf.set(key, vectorized.toString)
        try {
          val r = spark.read.parquet(dir)
            .agg(count(col("s")), sum(length(col("s"))), min(col("s")),
              max(col("s")), sum(crc32(col("s").cast("binary")))).first()
          r.toSeq
        } finally spark.conf.set(key, prev)
      }
      val vec = facts(vectorized = true)
      val row = facts(vectorized = false)
      // ground truth: the row-based path agrees with the hand decoder
      val hand = ParquetPages.byteArrayColumn(spark, dir, "s")
        .agg(sum(col("num_values") - col("n_nulls")), sum("sum_len"),
          min("min_v"), max("max_v")).first()
      assert(row.take(4) == hand.toSeq,
        s"row-based reader and hand decoder disagree: $row vs $hand")
      if (spark.version == "4.1.2") {
        assert(vec != row,
          "the 4.1.2 vectorized DELTA_BYTE_ARRAY defect no longer " +
            "reproduces — repro fixture rotted? investigate before " +
            "touching the x200/x204 oracles")
      } else {
        assert(vec == row,
          s"Spark ${spark.version}: the vectorized reader STILL " +
            "mis-decodes its own v2 writer's DELTA_BYTE_ARRAY pages — " +
            "keep the arithmetic oracles in x200/x204")
      }
    }
  }
}
