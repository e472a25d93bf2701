package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.ops.{CheckpointBlocks, Concurrently}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.StructType

/** Replays a batch frame through Structured Streaming in REAL micro-batches
  * and hands back the final result as a plain DataFrame — the bridge that
  * lets streaming execution be oracle-gated like every other catalog query.
  *
  * The input is written out as N parquet files and consumed by a file
  * source with `maxFilesPerTrigger = 1`, so the query genuinely runs N
  * stateful micro-batches (state carried, merged, and re-emitted across
  * batches — not one degenerate batch), under `Trigger.AvailableNow` so it
  * terminates when the backlog drains. The sink is `foreachBatch` pinning
  * each micro-batch's emission with an eager `localCheckpoint`: one job per
  * batch that stores the rows as block-manager partitions on the executors,
  * so gate output NEVER collects on the driver (the production posture: at
  * 100× a per-event-output gate emits 10M+ rows). The result is one scan
  * over the union of the pinned emissions and the staging directory is
  * deleted, so callers get an ordinary frame with no residue.
  *
  * This object is the one place that configures a gate stream's session:
  * each replay reads its stream from its own clone of the caller's
  * session, which carries the gate confs (see `gateConf`) and the
  * caller's state-store settings (`conf`, e.g. [[RocksDb]]). The caller's
  * session conf is never written, and the result frame is built on it.
  *
  * This is exactly the claim a streaming engine must defend: INCREMENTAL
  * execution converges to the batch answer. The catalog gates (x143/x144)
  * run the same aggregation through this harness and through DuckDB's
  * batch SQL and hash-compare the results.
  */
object StreamGate {

  private val runSeq = new AtomicLong(0)

  /** Every replay runs its stream on its OWN clone of the caller's session,
    * made once per `replay` / `replayStaged` / `replayStagedRestart` call,
    * and sets these confs (plus the caller's state-store `conf`) on the
    * clone only. The caller's conf is never written, so a batch query
    * running next to a gate (Verify runs 4 at once) plans exactly as it
    * would without it, and concurrent gates cannot see each other's
    * settings. The result is still built on the caller's session.
    *
    * Width: a stateful streaming query fixes its state-store partition
    * count from `spark.sql.shuffle.partitions` at START (it is recorded in
    * the offset log and kept for the query's life) — so a replay that
    * inherits the batch width pays that many state-store commits PER
    * OPERATOR PER MICRO-BATCH, almost all of them for empty partitions at
    * gate corpus size (measured: the stream-stream joins, 4
    * stores/partition, fall 23 s → 7 s going 32 → 8 partitions). State
    * width is a throughput knob — sized to key cardinality and write rate
    * at scale, not inherited from the batch side — and round 12 measured
    * it on the two heaviest gates (x213 provider-matrix join, x152 inner
    * join) at 8 vs 4 vs 2: 4 won (state-store commit count halves vs 8
    * with no straggler effect at gate corpus size; 2 gave no further
    * gain).
    *
    * Checkpoint manager: Spark's FileSystem-based one. The default
    * FileContext-based one costs ~33 ms per small local file, almost all
    * in `FileContext.rename(OVERWRITE)` on LocalFs: without libhadoop,
    * RawLocalFileSystem forks `chmod` per permission it sets. The
    * FileSystem-based one writes it in ~7 ms and keeps the `.crc`
    * sidecars that catch a corrupted checkpoint file on read. A batch
    * writes three such files on the driver in series (source log, offset
    * WAL, commit log) plus a state delta or RocksDB zip per state
    * partition; over the four perfbench gates (4-CPU host) a pass's state
    * commit fell 5.18 s → 1.90 s, commit 1.10 → 0.27 s, offset 0.69 →
    * 0.28 s, with the same jobs, stages and tasks. Gate checkpoints live
    * under `java.io.tmpdir`, whose local rename(2) is atomic.
    *
    * Artifact isolation: off. A running stream executes on its own clone
    * of the session it was started from, and an isolated clone gets its
    * own executor classloader; Spark's codegen cache is keyed by (context
    * classloader, source), so each gate run recompiled every task-side
    * class it had already compiled (measured over the four perfbench
    * gates: 174 compiles of 62 distinct sources per run, 100 of the
    * repeats on task threads). A session reads the flag once, when its
    * artifact manager is first used, and the stream's clone inherits it
    * from the gate clone. Gate streams add no artifacts. */
  private[streaming] val gatePartitions = "4"

  private val gateConf = Seq(
    "spark.sql.shuffle.partitions" -> gatePartitions,
    "spark.sql.streaming.checkpointFileManagerClass" ->
      "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager",
    "spark.sql.artifact.isolation.enabled" -> "false")

  /** The `conf` entry that runs a replay's state on RocksDB (the provider
    * transformWithState requires, and the one whose state spills to disk
    * instead of executor heap). */
  val RocksDb: (String, String) = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Whether a batch's state ran on RocksDB, read from its state operators'
    * own custom metrics: the in-band check that a gate ran on the provider
    * it claims, not a silent fallback to the heap provider. */
  def usesRocksDb(p: StreamingQueryProgress): Boolean =
    p.stateOperators.exists(_.customMetrics.keySet.asScala.exists(_.toLowerCase.contains("rocksdb")))

  /** The run core of every entry point: checks `name`, gives `body` a
    * per-run root directory (pid + seq: two JVMs or parallel bench runs
    * replaying the same gate must not overwrite each other's staged input)
    * and a clone of `spark` carrying the gate confs and `conf`, and
    * deletes the root afterwards. */
  private def withRun[T](spark: SparkSession, name: String, conf: Map[String, String])(
      body: (String, SparkSession) => T): T = {
    require(name.matches("[A-Za-z0-9_]+"), s"unsafe stream-gate name: $name")
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_stream_${name}_" +
      s"${ProcessHandle.current().pid()}_${runSeq.incrementAndGet()}"
    val gate = GraftSqlBridge.cloneSession(spark)
    (gateConf ++ conf).foreach { case (k, v) => gate.conf.set(k, v) }
    try body(root, gate)
    finally {
      val p = new Path(root)
      try p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      catch { case _: Exception => () }
    }
  }

  /** A file stream over `path` on the gate session: one file per trigger,
    * oldest first. */
  private def open(gate: SparkSession, path: String, schema: StructType): DataFrame =
    gate.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .option("latestFirst", "false")
      .parquet(path)

  /** The gate sink: every micro-batch's emission is pinned with an eager
    * `localCheckpoint` (one job, MEMORY_AND_DISK blocks on the executors)
    * and appended to `emitted`, so the stream's output stays DISTRIBUTED
    * end to end. The memory-format sink (and a collect()-into-a-queue
    * foreachBatch) buffers the whole output table on the driver, which for
    * per-event-output gates is 10M+ rows at 100× — a scale-killer in a
    * src/main path. Complete mode releases the superseded emission (each
    * emission is the full result; the last one wins); append and update
    * keep every batch's delta, so the buffer holds exactly the memory
    * sink's table. A batch whose pin is interrupted by a stop throws
    * before the append, so the buffer never holds a partial emission. */
  private def runDistributed(
      transformed: DataFrame,
      emitted: ArrayBuffer[DataFrame],
      mode: String,
      checkpoint: Option[String],
      progress: StreamingQueryProgress => Unit,
      expectedInput: Option[Long] = None): Unit = {
    val writer = transformed.writeStream
      .foreachBatch { (df: Dataset[Row], _: Long) =>
        val pinned = df.localCheckpoint(eager = true)
        emitted.synchronized {
          if (mode == "complete") {
            emitted.foreach(CheckpointBlocks.release)
            emitted.clear()
          }
          emitted += pinned
        }
        ()
      }
      .outputMode(mode)
    // TimeMode.ProcessingTime plans (state TTL, processing-time timers)
    // never terminate under AvailableNow — the engine schedules no-data
    // batches for potential time-driven work forever (observed: a 4-file
    // replay running hundreds of batches). Those gates (expectedInput
    // defined) run a paced trigger instead and are stopped EXPLICITLY
    // once the progress stream shows every staged source row consumed
    // plus at least one trailing no-data batch. No-data batches invoke
    // no handleInputRows, so emissions are identical either way.
    // 100 ms pacing (round 12; was 500 ms): the interval is pure
    // inter-batch idle, not computation — the 1 ms TTLs / +1 ms timer
    // expiries these gates exercise need only that the NEXT batch start
    // > 1 ms after the previous one's writes, which 100 ms clears by two
    // orders of magnitude, so every emission is identical; a 4-batch
    // replay just stops idling 400 ms per trigger (~2 s/replay, two
    // replays in x205).
    if (expectedInput.isEmpty) writer.trigger(Trigger.AvailableNow())
    else writer.trigger(Trigger.ProcessingTime("100 milliseconds"))
    checkpoint.foreach(writer.option("checkpointLocation", _))
    val q = writer.start()
    try {
      expectedInput match {
        case None => q.awaitTermination()
        case Some(expected) =>
          val deadline = System.nanoTime() + 300L * 1000 * 1000 * 1000
          // recentProgress is a BOUNDED ring buffer (default 100 entries):
          // a replay whose data batches scroll out of the buffer before the
          // target is observed must not spuriously hit the 300 s timeout —
          // consumed rows accumulate INCREMENTALLY across polls (only
          // batchIds beyond the highest already counted are added), never
          // re-summed from the bounded snapshot. Re-reported batchIds
          // (no-data triggers repeat the id) are counted once.
          var seen = 0L
          var maxBatch = -1L
          var done = false
          while (!done && q.isActive && System.nanoTime() < deadline) {
            Thread.sleep(50)
            val ps = q.recentProgress
            ps.filter(_.batchId > maxBatch).sortBy(_.batchId).foreach { p =>
              seen += p.numInputRows
              maxBatch = p.batchId
            }
            done = seen >= expected && ps.lastOption.exists(_.numInputRows == 0L)
          }
          if (!done && q.isActive)
            sys.error(s"stream gate did not consume $expected staged rows " +
              "within the 300 s bound")
      }
      q.recentProgress.foreach(progress)
    } finally if (q.isActive) {
      // A paced query is stopped between triggers, so the stop lands on a
      // batch boundary: a stop mid-batch interrupts its jobs and logs
      // broadcast and state-store errors. Bounded, so a trigger that never
      // ends is still stopped.
      val idleBy = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (q.status.isTriggerActive && System.nanoTime() < idleBy) Thread.sleep(5)
      q.stop()
    }
  }

  /** Stage each micro-batch of `input` as exactly one parquet file
    * `destDir/batch-%04d.parquet` with mtimes pinned 2 s apart (oldest-first
    * file-source ordering). The N per-batch writes are INDEPENDENT Spark
    * jobs (disjoint filters, disjoint output paths), so they run through
    * [[Concurrently]]: wall-clock is the slowest single write, not the sum,
    * and a failed write cancels the others and waits for them before
    * `withRun` deletes the run root. Emissions are byte-identical because file
    * contents, names and mtimes are unchanged. */
  private def stageBatches(
      input: DataFrame,
      batchCol: String,
      nBatches: Int,
      fs: org.apache.hadoop.fs.FileSystem,
      stageRoot: String,
      destDir: String,
      base: Long,
      name: String): Unit = {
    fs.mkdirs(new Path(destDir))
    Concurrently.all(input.sparkSession)((0 until nBatches).map { i => () =>
      val stage = s"$stageRoot/_stage_$i"
      input.filter(org.apache.spark.sql.functions.col(batchCol) === i)
        .drop(batchCol).coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val part = fs.listStatus(new Path(stage))
        .map(_.getPath).find(_.getName.startsWith("part-"))
        .getOrElse(sys.error(s"stream gate $name: no part file for batch $i"))
      val dst = new Path(f"$destDir/batch-$i%04d.parquet")
      if (!fs.rename(part, dst)) sys.error(s"stream gate $name: rename failed")
      fs.delete(new Path(stage), true)
      fs.setTimes(dst, base + i * 2000L, -1)
    })
  }

  /** The replay's result: one scan over the union of the pinned
    * emissions, coalesced (no shuffle) to the default parallelism. A union
    * of the emission frames would plan one stage per batch; a union of
    * their RDDs is one leaf. The schema is the plan's widened to nullable,
    * the schema gate results have always declared, so downstream plans do
    * not change with the sink. A replay whose batches emitted nothing is
    * an empty frame, not an error. */
  private def readBack(
      spark: SparkSession, emitted: ArrayBuffer[DataFrame], schema: StructType): DataFrame = {
    val rows = spark.sparkContext.union(emitted.synchronized(emitted.toSeq)
      .flatMap(_.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }))
    val width = spark.sparkContext.defaultParallelism
    GraftSqlBridge.rowsToFrame(spark,
      if (rows.getNumPartitions > width) rows.coalesce(width) else rows, schema)
  }

  /** Replays `input` with EXPLICIT micro-batch assignment: `batchCol` (an
    * integral column with values 0..nBatches-1) decides which micro-batch
    * carries each row, and batches are guaranteed to be processed IN batch
    * order. Each batch is written as exactly one parquet file whose
    * modification time is pinned 2 s apart, so the file source's
    * oldest-first ordering replays them deterministically — the property a
    * WATERMARK gate needs, since the watermark's advance (and therefore
    * which late rows are admitted or dropped) is a function of which rows
    * each batch carried.
    *
    * `batchCol` is dropped before the stream sees the rows. `conf` holds
    * the stream's extra state-store settings (e.g. [[RocksDb]]), set on
    * the replay's own session next to the gate confs. */
  def replayStaged(
      spark: SparkSession,
      input: DataFrame,
      name: String,
      batchCol: String,
      nBatches: Int,
      mode: String = "append",
      progress: StreamingQueryProgress => Unit = _ => (),
      availableNow: Boolean = true,
      conf: Map[String, String] = Map.empty)(
      transform: DataFrame => DataFrame): DataFrame =
    withRun(spark, name, conf) { (dir, gate) =>
      val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val base = System.currentTimeMillis() - (nBatches + 1) * 2000L
      stageBatches(input, batchCol, nBatches, fs, dir, dir, base, name)
      val transformed = transform(open(gate, s"$dir/batch-*.parquet", input.drop(batchCol).schema))
      // The explicit-stop target = rows the source will consume = rows
      // actually staged. Summing the staged files' parquet footer counts
      // (driver-only metadata reads) replaces the former Spark job that
      // re-filtered and re-counted the input frame — same number by
      // construction (stageBatches wrote exactly the batchCol<nBatches
      // rows), no recompute of the input lineage.
      val expected =
        if (availableNow) None
        else Some(
          fs.listStatus(new Path(dir))
            .filter(_.getPath.getName.startsWith("batch-"))
            .map { st =>
              val in = org.apache.parquet.hadoop.util.HadoopInputFile
                .fromStatus(st, spark.sparkContext.hadoopConfiguration)
              val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
              try r.getRecordCount finally r.close()
            }.sum)
      val emitted = ArrayBuffer.empty[DataFrame]
      runDistributed(transformed, emitted, mode, None, progress, expected)
      readBack(spark, emitted, transformed.schema)
    }

  /** Replays `input` like [[replayStaged]] but KILLS the query after
    * `restartAfter` micro-batches and starts a brand-new query from the
    * same checkpoint — the exactly-once restart contract a production
    * pipeline lives on. The sink is `foreachBatch` with an explicit
    * `checkpointLocation` (the memory sink refuses append-mode recovery;
    * foreachBatch + checkpoint is the real production sink path), so run 2
    * recovers BOTH the source offsets (staged files 0..restartAfter-1 must
    * not be reprocessed — a fresh start would re-emit their rows) and the
    * operator state (keys seen before the restart must still suppress /
    * merge after it). Both runs use the replay's one session and pin their
    * emissions into one buffer, and the result is the union of both runs'
    * emissions.
    *
    * Failure modes are all hash-visible downstream: lost offsets duplicate
    * every pre-restart emission; lost state re-emits or under-aggregates
    * post-restart rows; a sink that reprocessed batch N-1 after a crash
    * between commit points would duplicate one batch (foreachBatch is
    * at-least-once per batch — here each staged batch is delivered once
    * because run 1 terminates cleanly via AvailableNow before the kill). */
  def replayStagedRestart(
      spark: SparkSession,
      input: DataFrame,
      name: String,
      batchCol: String,
      nBatches: Int,
      restartAfter: Int)(
      transform: DataFrame => DataFrame): DataFrame = {
    require(restartAfter > 0 && restartAfter < nBatches,
      s"restartAfter must split the replay: $restartAfter of $nBatches")
    withRun(spark, name, Map.empty) { (root, gate) =>
      val dir = s"$root/in"
      val hold = s"$root/hold"
      val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val base = System.currentTimeMillis() - (nBatches + 1) * 2000L
      fs.mkdirs(new Path(dir))
      // Stage every batch as one pinned-mtime file in a holding area;
      // files are revealed to the watched dir in two waves around the kill.
      stageBatches(input, batchCol, nBatches, fs, root, hold, base, name)
      def reveal(from: Int, until: Int): Unit =
        for (i <- from until until) {
          val n = f"batch-$i%04d.parquet"
          if (!fs.rename(new Path(s"$hold/$n"), new Path(s"$dir/$n")))
            sys.error(s"stream gate $name: reveal failed for $n")
        }
      val schema = input.drop(batchCol).schema
      val emitted = ArrayBuffer.empty[DataFrame]
      @volatile var outSchema: StructType = null
      def run(): Unit = {
        val transformed = transform(open(gate, s"$dir/batch-*.parquet", schema))
        outSchema = transformed.schema
        // both runs APPEND to one buffer: the union of the two runs'
        // emissions, distributed (no driver-side row buffering)
        runDistributed(transformed, emitted, "append", Some(s"$root/ckpt"), _ => ())
      }
      reveal(0, restartAfter)
      run() // run 1: first wave, then the query dies (clean AvailableNow drain)
      reveal(restartAfter, nBatches)
      run() // run 2: NEW query, same checkpoint — offsets + state recovered
      readBack(spark, emitted, outSchema)
    }
  }

  /** @param mode  output mode — "complete" for aggregations (all groups
    *              re-emitted on the final batch), "append" for row streams.
    * @param files number of micro-batches to replay (input repartitioned
    *              into this many files). */
  def replay(
      spark: SparkSession,
      input: DataFrame,
      name: String,
      files: Int = 8,
      mode: String = "complete")(transform: DataFrame => DataFrame): DataFrame =
    withRun(spark, name, Map.empty) { (root, gate) =>
      val dir = s"$root/in"
      input.repartition(files).write.mode("overwrite").parquet(dir)
      // the staged files carry exactly input's schema (we just wrote them):
      // reuse it instead of re-inferring from footers — replayStaged already
      // does this, and the file source treats provided nullability loosely
      val transformed = transform(open(gate, dir, input.schema))
      val emitted = ArrayBuffer.empty[DataFrame]
      runDistributed(transformed, emitted, mode, None, _ => ())
      readBack(spark, emitted, transformed.schema)
    }
}
