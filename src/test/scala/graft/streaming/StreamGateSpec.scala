package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class StreamGateSpec extends SparkSpec {
  import spark.implicits._

  test("append replay emits every input row exactly once across micro-batches") {
    val in = (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v")
    val out = StreamGate.replay(spark, in, "sgspec_append", files = 5, mode = "append")(identity)
    assert(out.count() == 100)
    assert(out.select("id").as[Long].collect().sorted.toSeq == (1L to 100L))
  }

  test("complete-mode aggregation over N batches equals the batch aggregate") {
    val in = (1L to 1000L).map(i => (i % 7, i)).toDF("k", "x")
    val out = StreamGate.replay(spark, in, "sgspec_agg", files = 4) {
      _.groupBy("k").agg(sum("x").as("s"), count(lit(1)).as("n"))
    }
    val batch = in.groupBy("k").agg(sum("x").as("s"), count(lit(1)).as("n"))
    assert(out.orderBy("k").collect().toSeq == batch.orderBy("k").collect().toSeq)
  }

  test("stateful dedup admits each key once regardless of batch placement") {
    // every id appears 3 times; replay across 6 files scatters the copies
    val in = (1L to 50L).flatMap(i => Seq.fill(3)(i)).toDF("id")
    val out = StreamGate.replay(spark, in, "sgspec_dedup", files = 6, mode = "append") {
      _.dropDuplicates("id")
    }
    assert(out.count() == 50)
  }

  test("replay leaves no residue: no temp views, staging directory deleted") {
    StreamGate.replay(spark, Seq(1L).toDF("id"), "sgspec_clean", files = 1, mode = "append")(identity)
    assert(spark.catalog.listTables().collect()
      .forall(t => !t.name.startsWith("graft_stream_sink_sgspec_clean")))
    // the result lives in block-manager blocks, so the per-run staging
    // root (input batches) is gone
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    assert(!tmp.listFiles().exists(_.getName.startsWith("graft_stream_sgspec_clean_")))
  }

  test("a replay whose every batch emits nothing is an empty frame with the plan's columns") {
    val in = (1L to 20L).map(i => (i, s"v$i")).toDF("id", "v")
    val plans = Seq[(String, DataFrame => DataFrame)](
      "append" -> (_.filter(lit(false)).select(col("id"), length(col("v")).as("n"))),
      "complete" -> (_.filter(lit(false)).groupBy("id").agg(count(lit(1)).as("n"))))
    for ((mode, plan) <- plans) {
      val out = StreamGate.replay(spark, in, s"sgspec_empty_$mode", files = 3, mode = mode)(plan)
      assert(out.columns.toSeq == Seq("id", "n"))
      assert(out.count() == 0)
    }
  }

  test("complete mode releases every superseded emission") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val in = (1L to 400L).map(i => (i % 5, i)).toDF("k", "x")
    val out = StreamGate.replay(spark, in, "sgspec_release", files = 4) {
      _.groupBy("k").agg(sum("x").as("s"))
    }
    val gained = spark.sparkContext.getPersistentRDDs.keySet -- before
    // one pinned emission survives: the last, which backs the result
    assert(gained.size == 1 && gained == graft.ops.CheckpointBlocks.rddIds(out).toSet)
    assert(out.count() == 5)
  }

  test("a paced replay stops between triggers with every batch's emission") {
    // availableNow = false runs the paced trigger that the gates with
    // processing-time state use, stopped explicitly once every staged row
    // was consumed
    val in = (1L to 60L).map(i => (i % 25, (i % 3).toInt)).toDF("id", "stage_b")
    val out = StreamGate.replayStaged(spark, in, "sgspec_paced", "stage_b", 3,
      availableNow = false)(_.dropDuplicates("id"))
    assert(out.select("id").as[Long].collect().sorted.toSeq == (0L until 25L))
  }

  test("unsafe names are rejected") {
    intercept[IllegalArgumentException] {
      StreamGate.replay(spark, Seq(1L).toDF("id"), "../evil", files = 1)(identity)
    }
  }

  test("restart recovers dedup state: keys seen before the kill stay suppressed") {
    // keys 1..20 arrive in batches 0-1 (pre-restart); batches 2-3 carry ONLY
    // duplicates of those keys. With recovered state the post-restart
    // emissions are empty; a fresh-state run 2 would re-emit all 20 keys
    // with b in {2, 3}.
    val in = (1 to 20).map(k => (k.toLong, (k % 2), (k % 2).toLong))
      .toDF("id", "stage_b", "b")
      .union((1 to 20).map(k => (k.toLong, 2 + (k % 2), (2 + (k % 2)).toLong))
        .toDF("id", "stage_b", "b"))
    val out = StreamGate.replayStagedRestart(spark, in, "sgspec_restart", "stage_b", 4, 2) {
      _.dropDuplicates("id").select(col("id"), col("b"))
    }
    val got = out.as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == (1 to 20).map(k => (k.toLong, (k % 2).toLong)))
  }

  test("restart recovers source offsets: pre-restart rows are not re-delivered") {
    // pass-through (stateless) replay: every row must arrive exactly once
    // even though the query is killed and restarted mid-stream — duplicated
    // delivery of batches 0-1 would double these counts.
    val in = (1L to 80L).map(i => (i, (i % 4).toInt)).toDF("id", "stage_b")
    val out = StreamGate.replayStagedRestart(spark, in, "sgspec_offsets", "stage_b", 4, 2)(identity)
    assert(out.count() == 80)
    assert(out.select("id").as[Long].collect().sorted.toSeq == (1L to 80L))
  }

  test("a replay never writes the caller's session conf") {
    val widthKey = "spark.sql.shuffle.partitions"
    val fmKey = "spark.sql.streaming.checkpointFileManagerClass"
    val isoKey = "spark.sql.artifact.isolation.enabled"
    val pkg = "org.apache.spark.sql.execution.streaming.checkpointing."
    val width = spark.conf.get(widthKey)
    // getAll holds only what is set (getOption would return defaults)
    type Confs = (String, Option[String], Option[String])
    def confs(s: org.apache.spark.sql.SparkSession): Confs = {
      val set = s.conf.getAll
      (s.conf.get(widthKey), set.get(fmKey), set.get(isoKey))
    }
    var stream, caller: Confs = null
    def replayOnce(): Unit =
      StreamGate.replay(spark, Seq(1L, 2L).toDF("id"), "sgspec_conf", files = 2, mode = "append") {
        df => stream = confs(df.sparkSession); caller = confs(spark); df
      }.collect()
    spark.conf.set(widthKey, "3")
    try {
      replayOnce()
      assert(stream == ((StreamGate.gatePartitions, Some(pkg + "FileSystemBasedCheckpointFileManager"), Some("false"))))
      assert(caller == (("3", None, None)))
      assert(confs(spark) == (("3", None, None)))
      // an explicitly set manager stays on the caller; the stream still
      // gets the FileSystem-based one
      spark.conf.set(fmKey, pkg + "FileContextBasedCheckpointFileManager")
      replayOnce()
      assert(stream._2.contains(pkg + "FileSystemBasedCheckpointFileManager"))
      assert(caller == (("3", Some(pkg + "FileContextBasedCheckpointFileManager"), None)))
      assert(confs(spark) == caller)
    } finally {
      spark.conf.set(widthKey, width)
      spark.conf.unset(fmKey)
    }
  }

  test("a replay's state-store conf reaches its stream and not the caller") {
    val key = StreamGate.RocksDb._1
    val before = spark.conf.getAll.get(key)
    assert(!before.contains(StreamGate.RocksDb._2))
    var rocks = false
    val in = (1L to 40L).map(i => (i % 6, (i % 2).toInt)).toDF("k", "stage_b")
    val out = StreamGate.replayStaged(spark, in, "sgspec_rocksdb", "stage_b", 2, "complete",
      progress = p => rocks ||= StreamGate.usesRocksDb(p),
      conf = Map(StreamGate.RocksDb))(_.groupBy("k").count())
    assert(rocks)
    assert(out.count() == 6)
    assert(spark.conf.getAll.get(key) == before)
  }

  test("checkpoint files keep their .crc sidecars: offsets, commits and state deltas") {
    // transform runs again before run 2 starts, so its second call sees
    // run 1's finished checkpoint under the per-run root
    val prefix = s"graft_stream_sgspec_crc_${ProcessHandle.current().pid()}_"
    var calls = 0
    var checked = Seq.empty[String]
    val in = (1L to 40L).map(i => (i % 10, (i % 4).toInt)).toDF("id", "stage_b")
    val out = StreamGate.replayStagedRestart(spark, in, "sgspec_crc", "stage_b", 4, 2) { df =>
      calls += 1
      if (calls == 2) {
        val roots = new java.io.File(System.getProperty("java.io.tmpdir")).listFiles()
          .filter(_.getName.startsWith(prefix))
        assert(roots.length == 1, roots.map(_.getName).mkString(", "))
        val ckpt = new java.io.File(roots.head, "ckpt")
        def files(d: java.io.File): Seq[java.io.File] =
          Option(d.listFiles()).toSeq.flatten.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
        val deltas = files(new java.io.File(ckpt, "state")).filter(_.getName.endsWith(".delta"))
        assert(deltas.nonEmpty, "no state delta files after run 1")
        checked = (Seq(new java.io.File(ckpt, "offsets/0"), new java.io.File(ckpt, "commits/0")) ++
          deltas).map { f =>
          assert(f.isFile, s"missing checkpoint file $f")
          assert(new java.io.File(f.getParentFile, s".${f.getName}.crc").isFile, s"no .crc for $f")
          f.getName
        }
      }
      df.dropDuplicates("id")
    }
    assert(calls == 2 && checked.size >= 3)
    assert(out.count() == 10)
  }
}
