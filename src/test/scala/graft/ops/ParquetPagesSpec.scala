package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** ParquetPages vs Spark's own reader, over files Spark itself wrote in
  * every in-scope shape: PLAIN and dictionary encodings, uncompressed and
  * snappy codecs, optional (with real nulls) and required columns,
  * multi-row-group files; out-of-scope shapes must route, never throw. */
class ParquetPagesSpec extends SparkSpec {
  import spark.implicits._

  private def facts(dir: String, col0: String): (Long, Long, Long, Long, Long) = {
    val df = spark.read.parquet(dir)
    val r = df.agg(count(lit(1)), sum(col(col0)),
      sum(when(col(col0).isNull, 1L).otherwise(0L)),
      min(col(col0)), max(col(col0))).first()
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
  }

  private def decoded(dir: String, col0: String) = {
    val rows = ParquetPages.int64Column(spark, dir, col0)
      .collect().map(r => (r.getAs[Long]("n_pages"),
        r.getAs[Long]("n_dict_pages"), r.getAs[Long]("num_values"),
        r.getAs[Long]("n_nulls"), r.getAs[Long]("sum_v"),
        r.getAs[Long]("min_v"), r.getAs[Long]("max_v"),
        r.getAs[Boolean]("ok")))
    assert(rows.nonEmpty)
    rows
  }

  private def check(dir: String, col0: String, wantDict: Boolean): Unit = {
    val (n, s, nulls, mn, mx) = facts(dir, col0)
    val rows = decoded(dir, col0)
    assert(rows.forall(_._8), s"a chunk failed to decode: ${rows.mkString(",")}")
    assert(rows.map(_._3).sum == n)
    assert(rows.map(_._4).sum == nulls)
    assert(rows.map(_._5).sum == s)
    assert(rows.map(_._6).min == mn)
    assert(rows.map(_._7).max == mx)
    if (wantDict) assert(rows.exists(_._2 > 0L), "expected a dictionary page")
    else assert(rows.forall(_._2 == 0L), "expected no dictionary page")
  }

  private def sample = (1 to 5000).map { i =>
    (i.toLong, if (i % 7 == 0) None else Some((i * 31L) % 97L))
  }.toDF("k", "v")

  test("dictionary-encoded snappy pages match Spark's reader") {
    withTempDir("graft-pqpages") { root =>
      val dir = s"$root/t"
      sample.coalesce(1).write.option("compression", "snappy").parquet(dir)
      check(dir, "v", wantDict = true)
    }
  }

  test("PLAIN uncompressed pages (dictionary disabled), multi-group") {
    withTempDir("graft-pqpages") { root =>
      val dir = s"$root/t"
      sample.coalesce(1).write
        .option("compression", "none")
        .option("parquet.enable.dictionary", "false")
        .option("parquet.block.size", "65536")
        .option("parquet.page.size", "4096")
        .parquet(dir)
      check(dir, "v", wantDict = false)
      // the small block size must actually have produced several pages
      assert(decoded(dir, "v").map(_._1).sum > 2L)
    }
  }

  test("REQUIRED column (no definition levels on the wire)") {
    withTempDir("graft-pqpages") { root =>
      val dir = s"$root/t"
      val schema = StructType(Seq(StructField("k", LongType, nullable = false)))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize((1 to 2000).map(i => Row(i * 3L)), 1),
        schema)
      df.write.option("compression", "none").parquet(dir)
      // all-unique values: parquet-mr's first-flush heuristic abandons the
      // dictionary (it would be as large as the data), so PLAIN is expected
      check(dir, "k", wantDict = false)
      assert(decoded(dir, "k").map(_._4).sum == 0L)
    }
  }

  test("all-null chunk keeps min/max identity sentinels and full null count") {
    withTempDir("graft-pqpages") { root =>
      val dir = s"$root/t"
      (1 to 100).map(i => (i.toLong, Option.empty[Long])).toDF("k", "v")
        .coalesce(1).write.option("compression", "none").parquet(dir)
      val rows = decoded(dir, "v")
      assert(rows.forall(_._8))
      assert(rows.map(_._4).sum == 100L)
      assert(rows.map(_._5).sum == 0L)
      // a value-less chunk must NOT report 0 (a value it never held): the
      // Long.MaxValue/MinValue identities keep cross-chunk min(min_v)/
      // max(max_v) aggregation exact when mixed with value-bearing chunks
      assert(rows.forall(_._6 == Long.MaxValue))
      assert(rows.forall(_._7 == Long.MinValue))
    }
  }

  test("out-of-scope codec routes to ok = false, never throws") {
    withTempDir("graft-pqpages") { root =>
      val dir = s"$root/t"
      sample.coalesce(1).write.option("compression", "gzip").parquet(dir)
      val rows = decoded(dir, "v")
      assert(rows.forall(!_._8))
    }
  }

  test("missing column yields no rows") {
    withTempDir("graft-pqpages") { root =>
      val dir = s"$root/t"
      sample.coalesce(1).write.parquet(dir)
      assert(ParquetPages.int64Column(spark, dir, "nope").count() == 0L)
    }
  }

  private def decodedBytes(dir: String, col0: String) = {
    val rows = ParquetPages.byteArrayColumn(spark, dir, col0)
      .collect().map(r => (r.getAs[Long]("n_pages"),
        r.getAs[Long]("n_dict_pages"), r.getAs[Long]("n_v2_pages"),
        r.getAs[Long]("num_values"), r.getAs[Long]("n_nulls"),
        r.getAs[Long]("sum_len"), r.getAs[String]("min_v"),
        r.getAs[String]("max_v"), r.getAs[Boolean]("ok")))
    assert(rows.nonEmpty)
    rows
  }

  private def checkBytes(dir: String, col0: String): Unit = {
    // Differential-gate find (this spec's reason to exist): Spark 4.1.2's
    // VECTORIZED reader mis-decodes DELTA_BYTE_ARRAY v2 pages written by
    // its own v2 writer (corrupted strings, wrong lengths), while the
    // row-based parquet-mr path, DuckDB, AND this hand decoder agree
    // byte-for-byte. Gate string facts against the row-based reader.
    val key = "spark.sql.parquet.enableVectorizedReader"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    val r = try {
      val df = spark.read.parquet(dir)
      df.agg(count(col(col0)), sum(length(col(col0))),
        sum(when(col(col0).isNull, 1L).otherwise(0L)),
        min(col(col0)), max(col(col0))).first()
    } finally spark.conf.set(key, prev)
    val rows = decodedBytes(dir, col0)
    assert(rows.forall(_._9), s"a chunk failed: ${rows.mkString(",")}")
    assert(rows.map(_._4).sum - rows.map(_._5).sum == r.getLong(0))
    assert(rows.map(_._5).sum == r.getLong(2))
    assert(rows.map(_._6).sum == r.getLong(1))
    assert(rows.flatMap(o => Option(o._7)).min == r.getString(3))
    assert(rows.flatMap(o => Option(o._8)).max == r.getString(4))
  }

  private def strSample = (1 to 5000).map { i =>
    // shared prefixes exercise DELTA_BYTE_ARRAY's prefix compression
    (i.toLong, if (i % 9 == 0) None
    else Some(s"prefix-${i % 37}-value-${(i * 13) % 101}"))
  }.toDF("k", "s")

  test("BYTE_ARRAY v1: dictionary and PLAIN chunks match Spark's reader") {
    withTempDir("graft-pqpages") { root =>
      val dir = s"$root/t"
      strSample.coalesce(1).write.option("compression", "snappy").parquet(dir)
      checkBytes(dir, "s")
      assert(decodedBytes(dir, "s").exists(_._2 > 0L), "expected dict page")
    }
    withTempDir("graft-pqpages") { root =>
      val dir2 = s"$root/t"
      strSample.coalesce(1).write
        .option("compression", "none")
        .option("parquet.enable.dictionary", "false")
        .option("parquet.page.size", "4096").parquet(dir2)
      checkBytes(dir2, "s")
    }
  }

  test("v2 pages: DELTA_BINARY_PACKED longs and DELTA_BYTE_ARRAY strings") {
    withTempDir("graft-pqpages") { root =>
      val dir = s"$root/t"
      sample.join(strSample, "k").coalesce(1).write
        .option("parquet.writer.version", "v2")
        .option("parquet.enable.dictionary", "false")
        .option("compression", "snappy")
        .option("parquet.page.size", "4096").parquet(dir)
      check(dir, "v", wantDict = false)
      checkBytes(dir, "s")
      assert(decoded(dir, "v").forall(r => r._1 > 0L), "no pages?")
      // the v2 writer must actually have produced v2 pages
      val v2long = ParquetPages.int64Column(spark, dir, "v")
        .agg(sum("n_v2_pages")).first().getLong(0)
      val v2str = ParquetPages.byteArrayColumn(spark, dir, "s")
        .agg(sum("n_v2_pages")).first().getLong(0)
      assert(v2long > 0L && v2str > 0L,
        s"expected v2 pages, got long=$v2long str=$v2str")
    }
  }

  test("v2 pages with dictionary: RLE_DICTIONARY under DataPageHeaderV2") {
    withTempDir("graft-pqpages") { root =>
      val dir = s"$root/t"
      sample.join(strSample, "k").coalesce(1).write
        .option("parquet.writer.version", "v2")
        .option("compression", "none")
        .option("parquet.page.size", "4096").parquet(dir)
      check(dir, "v", wantDict = true)
      checkBytes(dir, "s")
    }
  }

  test("deltaBinaryPacked cross-validates against parquet-mr's writer") {
    import org.apache.parquet.bytes.HeapByteBufferAllocator
    import org.apache.parquet.column.values.delta.DeltaBinaryPackingValuesWriterForLong
    val rnd = new scala.util.Random(3)
    val vectors: Seq[Array[Long]] = Seq(
      Array(42L),
      Array(1L, 2L, 3L),
      Array.tabulate(130)(i => i.toLong * 7 - 300), // crosses one block
      Array.tabulate(1000)(_ => rnd.nextLong() % 1000000),
      Array.tabulate(517)(i => if (i % 2 == 0) Long.MaxValue / 2 else Long.MinValue / 2),
      Array.fill(256)(99L) // constant -> zero-width miniblocks
    )
    for (vec <- vectors) {
      val w = new DeltaBinaryPackingValuesWriterForLong(
        1 << 16, 1 << 20, HeapByteBufferAllocator.getInstance())
      vec.foreach(w.writeLong)
      val bytes = w.getBytes.toByteArray
      val got = ParquetPages.deltaBinaryPacked(bytes, 0, bytes.length, vec.length)
      assert(got.isDefined, s"decode failed for n=${vec.length}")
      assert(got.get._1.toSeq == vec.toSeq, s"values differ for n=${vec.length}")
    }
    // truncation at every offset must return None, never throw
    val w = new DeltaBinaryPackingValuesWriterForLong(
      1 << 16, 1 << 20, HeapByteBufferAllocator.getInstance())
    (1 to 300).foreach(i => w.writeLong(i.toLong * 31 % 97))
    val full = w.getBytes.toByteArray
    for (cut <- 0 until full.length) {
      val r = ParquetPages.deltaBinaryPacked(full, 0, cut, 300)
      assert(r.isEmpty, s"cut=$cut should fail")
    }
  }

  // INT32 / DOUBLE / DECIMAL-as-FLBA / array<bigint> fixture — every value
  // derived from k so all three writer variants serialize identical data
  private def typedSample = {
    val df = (1 to 5000).map { i =>
      val k = i.toLong
      (k,
        if (k % 11 == 0) None else Some((((k * 17) % 50) - 25).toInt),
        if (k % 13 == 0) None else Some((k % 40).toDouble / 8.0),
        if (k % 23 == 0) None else Some(BigDecimal((k % 30) * 13)),
        if (k % 19 == 0) None
        else if (k % 17 == 0) Some(Seq.empty[Long])
        else Some((1L to (1 + k % 4)).map(x => (k * x) % 50)))
    }.toDF("k", "i", "f", "dec", "arr")
    df.withColumn("dec", col("dec").cast("decimal(20,2)"))
  }

  private def checkTyped(dir: String, wantDict: Boolean, wantV2: Boolean): Unit = {
    val df = spark.read.parquet(dir)
    def okDictV2(rows: Array[org.apache.spark.sql.Row]): Unit = {
      assert(rows.forall(_.getAs[Boolean]("ok")), rows.mkString(","))
      assert(rows.exists(_.getAs[Long]("n_dict_pages") > 0L) == wantDict,
        s"dict expectation $wantDict failed")
      assert(rows.exists(_.getAs[Long]("n_v2_pages") > 0L) == wantV2,
        s"v2 expectation $wantV2 failed")
    }
    // INT32
    val ri = ParquetPages.int32Column(spark, dir, "i").collect()
    okDictV2(ri)
    val fi = df.agg(count(lit(1)), sum(when(col("i").isNull, 1L).otherwise(0L)),
      sum(col("i").cast("long")), min("i"), max("i")).first()
    assert(ri.map(_.getAs[Long]("num_values")).sum == fi.getLong(0))
    assert(ri.map(_.getAs[Long]("n_nulls")).sum == fi.getLong(1))
    assert(ri.map(_.getAs[Long]("sum_v")).sum == fi.getLong(2))
    assert(ri.map(_.getAs[Long]("min_v")).min == fi.getInt(3).toLong)
    assert(ri.map(_.getAs[Long]("max_v")).max == fi.getInt(4).toLong)
    // DOUBLE (all values multiples of 1/8 — sums are exact)
    val rf = ParquetPages.doubleColumn(spark, dir, "f").collect()
    okDictV2(rf.map(r => r)) // same columns
    val ff = df.agg(sum(when(col("f").isNull, 1L).otherwise(0L)),
      sum("f"), min("f"), max("f")).first()
    assert(rf.map(_.getAs[Long]("n_nulls")).sum == ff.getLong(0))
    assert(rf.map(_.getAs[Double]("sum_v")).sum == ff.getDouble(1))
    assert(rf.map(_.getAs[Double]("min_v")).min == ff.getDouble(2))
    assert(rf.map(_.getAs[Double]("max_v")).max == ff.getDouble(3))
    // DECIMAL(20,2) as FLBA: 9-byte big-endian unscaled ints. parquet-mr's
    // v1 writer has NO dictionary path for FIXED_LEN_BYTE_ARRAY (always
    // PLAIN); v2 uses DELTA_BYTE_ARRAY — so dict is never expected here.
    val rd = ParquetPages.flbaColumn(spark, dir, "dec").collect()
    assert(rd.forall(_.getAs[Boolean]("ok")), rd.mkString(","))
    assert(!rd.exists(_.getAs[Long]("n_dict_pages") > 0L))
    assert(rd.exists(_.getAs[Long]("n_v2_pages") > 0L) == wantV2)
    assert(rd.forall(_.getAs[Int]("type_len") == 9))
    val fd = df.agg(sum(when(col("dec").isNull, 1L).otherwise(0L)),
      sum("dec"), min("dec"), max("dec")).first()
    assert(rd.map(_.getAs[Long]("n_nulls")).sum == fd.getLong(0))
    assert(rd.map(_.getAs[Long]("sum_unscaled")).sum ==
      fd.getDecimal(1).movePointRight(2).longValueExact())
    assert(rd.map(_.getAs[Long]("min_unscaled")).min ==
      fd.getDecimal(2).movePointRight(2).longValueExact())
    assert(rd.map(_.getAs[Long]("max_unscaled")).max ==
      fd.getDecimal(3).movePointRight(2).longValueExact())
    // array<bigint> leaf: real repetition levels
    val ra = ParquetPages.listInt64Column(spark, dir, "arr").collect()
    okDictV2(ra)
    val fa = df.agg(count(lit(1)),
      sum(when(col("arr").isNull, 1L).otherwise(0L)),
      sum(when(size(col("arr")) === 0, 1L).otherwise(0L)),
      sum(when(col("arr").isNull, 0L).otherwise(size(col("arr")).cast("long"))),
      max(coalesce(size(col("arr")), lit(0)))).first()
    val fe = df.select(explode(col("arr")).as("e"))
      .agg(sum("e"), min("e"), max("e")).first()
    assert(ra.map(_.getAs[Long]("n_rows")).sum == fa.getLong(0))
    assert(ra.map(_.getAs[Long]("n_null_rows")).sum == fa.getLong(1))
    assert(ra.map(_.getAs[Long]("n_empty")).sum == fa.getLong(2))
    assert(ra.map(_.getAs[Long]("n_entries")).sum == fa.getLong(3))
    assert(ra.map(_.getAs[Long]("max_row_len")).max == fa.getInt(4).toLong)
    assert(ra.map(_.getAs[Long]("sum_v")).sum == fe.getLong(0))
    assert(ra.map(_.getAs[Long]("min_v")).min == fe.getLong(1))
    assert(ra.map(_.getAs[Long]("max_v")).max == fe.getLong(2))
  }

  test("typed columns v1 (dictionary, snappy) match Spark's reader") {
    withTempDir("graft-pqpages") { root =>
      val dir = s"$root/t"
      typedSample.coalesce(1).write
        .option("compression", "snappy")
        .option("parquet.block.size", "65536")
        .option("parquet.page.size", "4096").parquet(dir)
      checkTyped(dir, wantDict = true, wantV2 = false)
    }
  }

  test("typed columns v1 PLAIN (no dictionary) match Spark's reader") {
    withTempDir("graft-pqpages") { root =>
      val dir = s"$root/t"
      typedSample.coalesce(1).write
        .option("compression", "none")
        .option("parquet.enable.dictionary", "false")
        .option("parquet.block.size", "65536")
        .option("parquet.page.size", "4096").parquet(dir)
      checkTyped(dir, wantDict = false, wantV2 = false)
    }
  }

  test("typed columns v2 (delta int32, DELTA_BYTE_ARRAY flba, nested delta) match") {
    withTempDir("graft-pqpages") { root =>
      val dir = s"$root/t"
      typedSample.coalesce(1).write
        .option("parquet.writer.version", "v2")
        .option("parquet.enable.dictionary", "false")
        .option("compression", "snappy")
        .option("parquet.block.size", "65536")
        .option("parquet.page.size", "4096").parquet(dir)
      checkTyped(dir, wantDict = false, wantV2 = true)
      // the encodings the v2 writer must actually have emitted
      for (c <- Seq("i", "dec", "arr")) {
        val n2 = (c match {
          case "i" => ParquetPages.int32Column(spark, dir, c)
          case "dec" => ParquetPages.flbaColumn(spark, dir, c)
          case _ => ParquetPages.listInt64Column(spark, dir, c)
        }).agg(sum("n_v2_pages")).first().getLong(0)
        assert(n2 > 0L, s"expected v2 pages for $c")
      }
    }
  }

  test("deeper nesting yields no int64-leaf rows (or routed rows), never throws") {
    withTempDir("graft-pqpages") { root =>
      val dir = s"$root/t"
      Seq((1L, Seq(Seq(1L, 2L)), Seq(3L)))
        .toDF("k", "deep", "arr").coalesce(1).write.parquet(dir)
      // the shallow list still decodes; deep.list.element is a GROUP, not
      // an INT64 leaf, so the footer walk matches nothing (no rows) — and
      // anything that did match would route to ok = false
      val shallow = ParquetPages.listInt64Column(spark, dir, "arr").collect()
      assert(shallow.nonEmpty && shallow.forall(_.getAs[Boolean]("ok")))
      val deep = ParquetPages.listInt64Column(spark, dir, "deep").collect()
      assert(deep.forall(!_.getAs[Boolean]("ok")))
    }
  }

  test("rleHybrid decodes runs, bit-packed groups, and mixed streams") {
    // RLE run: header = count<<1, then ceil(w/8) value bytes.
    val run = Array[Byte]((5 << 1).toByte, 1)
    assert(ParquetPages.rleHybrid(run, 0, run.length, 1, 5).get.toSeq ==
      Seq(1, 1, 1, 1, 1))
    // Bit-packed, w=1: header = groups<<1|1; one byte = 8 values LSB-first.
    val bp = Array[Byte](((1 << 1) | 1).toByte, 0x35.toByte) // 10101100 rev
    assert(ParquetPages.rleHybrid(bp, 0, bp.length, 1, 8).get.toSeq ==
      Seq(1, 0, 1, 0, 1, 1, 0, 0))
    // w=0: nothing on the wire, all zeros.
    assert(ParquetPages.rleHybrid(Array.emptyByteArray, 0, 0, 0, 4).get.toSeq
      == Seq(0, 0, 0, 0))
    // truncation: run claims more value bytes than remain
    assert(ParquetPages.rleHybrid(Array[Byte]((5 << 1).toByte), 0, 1, 8, 5)
      .isEmpty)
  }
}
