package graft

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode}
import com.fasterxml.jackson.databind.cfg.JsonNodeFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** Benchmark main: runs every catalog query on SPARK_GRAFT_SF_DIR and prints
  * one JSON line. Queries are forced through the noop sink (full
  * materialization of every output row/column — `.count()` would let Catalyst
  * prune work that a real consumer pays for).
  *
  * A failed query is recorded as -1 and EXCLUDED from the total, with a
  * nonzero `failed` count in the JSON — a broken query must never make the
  * benchmark look faster (its near-zero elapsed time used to feed the min).
  *
  * Attributability (LOCAL MODE ONLY — in local[] the whole engine is one
  * JVM; on a real cluster executor-side stack traces land in executor logs,
  * not here): everything written to the driver's System.err (query failures,
  * executor-pool stack traces, uncaught handler output) is ALSO teed to a
  * log file named in the JSON line (`log`), so a stray stack fragment in a
  * harness tail can be traced to its query instead of staying anonymous.
  *
  * Cross-engine honesty: a query that consumed a frame published by an
  * earlier query via [[graft.queries.SharedCache]] excludes that frame's
  * build cost from its own wall-clock — not like-for-like against an oracle
  * engine that recomputes the frame per query. Such queries are re-run COLD
  * (cache cleared before every timed run) after the catalog and reported
  * under `cold_rerun`, keyed by query name; the headline `value` stays the
  * warm catalog total (that IS the library-workflow cost), the cold number
  * is what a per-query cross-engine comparison must use. A failed cold
  * re-run counts toward `failed` and the nonzero exit code like any other
  * broken query.
  *
  * Storage hygiene: after each query the session's persistent RDD blocks
  * (eager localCheckpoints, GraphX internal caches) are swept, keeping only
  * frames still live in [[graft.queries.SharedCache]]; after the catalog a
  * final clear+sweep runs and `leaked_rdds` reports what is STILL persisted
  * — the long-lived-session leak check, asserted at 0 by the spec suite.
  *
  * Timing honesty: `queries`/`cold_rerun` carry the min-of-2 headline, and
  * `runs`/`cold_runs` carry BOTH raw run times per query — min-of-2 alone
  * cannot distinguish a genuine regression from a one-sided container
  * spike, so the raw pair makes a snapshot self-diagnosing (a [3.8, 0.4]
  * pair is a spike; a [3.8, 3.7] pair is real).
  *
  * Output robustness: the full JSON is also written to the file named by
  * `json` (SPARK_GRAFT_BENCH_JSON, default /tmp/graft_bench.json), and the
  * printed line orders
  * per-query detail FIRST and the summary fields LAST — a harness that
  * keeps only the tail of the output loses oldest-first, so the totals and
  * annotations survive truncation.
  */
object Bench {

  /** Fresh-JVM (forked) mode — the DEFAULT for a no-args full-catalog run
    * (`SPARK_GRAFT_FORK=<chunk size>` overrides the chunk size; `=0` forces
    * inline): the catalog is split into fixed-size chunks and each chunk
    * runs in its OWN child JVM (same classpath, module opens, and heap as
    * this one), sequentially. This is the automated form of the SCALE.md standalone
    * cross-check: a long-lived bench JVM accumulates JIT deopt, GC
    * pressure, and code-cache churn that can inflate individual rows at
    * 100× (q07 measured 114 s in-window vs 3.0 s fresh-JVM in round 9);
    * forked mode bounds that window to one chunk, so per-query numbers
    * read ~their fresh-JVM cost without manual re-runs. Child JSONs are
    * merged into the same one-line schema with `"mode":"forked"`; the
    * headline `value` is the sum of child totals (each child excludes its
    * own warmup/startup from timed regions, as always). */
  private def forkedMain(chunkSize: Int): Unit = {
    val chunks = SparkEntry.catalog.map(_.name).grouped(chunkSize).toSeq
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val jvmFlags = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
    val tmp = java.nio.file.Files.createTempDirectory("graft_bench_fork")
    val lines = chunks.zipWithIndex.map { case (chunk, i) =>
      val childJson = s"$tmp/chunk_$i.json"
      val cmd = Seq(javaBin) ++ jvmFlags ++
        Seq("-cp", System.getProperty("java.class.path"), "graft.Bench") ++ chunk
      val pb = new ProcessBuilder(cmd: _*)
      pb.environment().remove("SPARK_GRAFT_FORK") // child runs inline mode
      // children are restricted runs (args = their chunk), which skip the
      // engine warm-up by default — forked children must run it
      pb.environment().put("SPARK_GRAFT_ENGINE_WARMUP", "1")
      pb.environment().put("SPARK_GRAFT_BENCH_JSON", childJson)
      pb.environment().put("SPARK_GRAFT_BENCH_LOG", s"$tmp/chunk_$i.log")
      // a child's stdout is only its JSON line, already in `childJson`:
      // dropping it keeps this run's stdout to the one merged line
      pb.redirectOutput(ProcessBuilder.Redirect.DISCARD)
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      val exit = pb.start().waitFor()
      val line =
        try new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(childJson)), "UTF-8").trim
        catch { case _: Exception => "" }
      if (line.isEmpty)
        System.err.println(s"[bench] fork chunk $i (exit $exit): no JSON; " +
          s"queries ${chunk.mkString(",")} recorded as failed")
      chunk -> Option(line).filter(_.nonEmpty)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val jsonPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_JSON", "/tmp/graft_bench.json")
    val out = mergeChunks(lines)
      .put("mode", "forked").put("chunks", chunks.size).put("chunk_size", chunkSize)
      .put("json", jsonPath).put("sf", sfDir)
    // the chunk files are read and merged; their logs duplicate the
    // children's inherited stderr
    org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
    emit(out, jsonPath)
    if (out.get("failed").asInt > 0) sys.exit(1)
  }

  // timings stay exact decimals, so a child's "0.40" merges back as "0.40"
  private val mapper = JsonMapper.builder()
    .enable(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS)
    .disable(JsonNodeFeature.STRIP_TRAILING_BIGDECIMAL_ZEROES)
    .build()

  private val perQueryKeys = Seq("runs", "cold_runs", "queries", "cold_rerun", "store_build")

  /** Merges the forked children's JSON lines into the one bench line: the
    * per-query objects are unioned in chunk order, and `value`, `failed` and
    * `leaked_rdds` are summed. A chunk whose child left no JSON (`None`, or
    * a line that does not parse) counts all of its queries as failed. */
  private[graft] def mergeChunks(chunks: Seq[(Seq[String], Option[String])]): ObjectNode = {
    val out = mapper.createObjectNode()
    val bodies = perQueryKeys.map(k => k -> out.putObject(k)).toMap
    var total = 0.0
    var failed = 0
    var leaked = 0
    chunks.foreach { case (names, line) =>
      line.flatMap(l => scala.util.Try(mapper.readTree(l)).toOption).filter(_.isObject) match {
        case None => failed += names.size
        case Some(j) =>
          perQueryKeys.foreach { k =>
            j.path(k) match {
              case o: ObjectNode => bodies(k).setAll[JsonNode](o)
              case _ =>
            }
          }
          total += j.path("value").asDouble
          failed += j.path("failed").asInt
          leaked += j.path("leaked_rdds").asInt
      }
    }
    out.put("metric", "total").put("value", secs(total)).put("unit", "sec")
      .put("failed", failed).put("leaked_rdds", leaked)
  }

  // 2 decimals: per-query noise is ±0.1 s anyway, and the one JSON line
  // must fit a bounded harness tail even as the catalog grows
  private def secs(t: Double): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(t).setScale(2, java.math.RoundingMode.HALF_UP)

  /** Writes the line to `jsonPath` and prints it. */
  private def emit(line: ObjectNode, jsonPath: String): Unit = {
    val text = mapper.writeValueAsString(line)
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(jsonPath), text + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] json write: ${e.getMessage}") }
    println(text)
  }

  def main(args: Array[String]): Unit = {
    // The no-args FULL-CATALOG run (the driver's headline path) defaults to
    // forked mode: round 10 measured the single-JVM 278-query window
    // inflating late-catalog rows 8–70× (x162 75.9 s vs 1.07 s fresh-JVM,
    // TorrentBroadcast store failures in the bench's own stderr) — the
    // catalog is too large for one JVM window to measure honestly.
    // SPARK_GRAFT_FORK=<n> overrides the chunk size; SPARK_GRAFT_FORK=0
    // forces the inline single-JVM path. Runs restricted by args (local
    // iteration) stay inline — they ARE the child path.
    val fork = sys.env.get("SPARK_GRAFT_FORK") match {
      case Some(v) => v.toIntOption match {
        case Some(n) if n > 0 => Some(n)
        case Some(_) => None // explicit 0 (or negative): inline
        case None =>
          // set-but-unparseable ("true", a typo) is an ERROR, not a silent
          // fall-through to the forked default: the caller asked for a
          // specific mode and didn't get it
          System.err.println(
            s"[bench] SPARK_GRAFT_FORK='$v' is not an integer " +
              "(expected a chunk size, or 0 for inline)")
          sys.exit(2)
      }
      case None => Some(24) // the SCALE.md 100×-pass chunk size
    }
    if (fork.isDefined && args.isEmpty) { forkedMain(fork.get); return }
    val logPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_LOG", "/tmp/graft_bench_stderr.log")
    val jsonPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_JSON", "/tmp/graft_bench.json")
    // buffered: the tee forwards every write() to BOTH sinks, and the
    // console side is already line-buffered — an unbuffered file sink would
    // pay one syscall per byte under the autoflush PrintStream
    val logFile = new java.io.BufferedOutputStream(new java.io.FileOutputStream(logPath), 1 << 16)
    val logStream = new java.io.PrintStream(logFile, false, "UTF-8")
    val realErr = System.err
    System.setErr(new java.io.PrintStream(new java.io.OutputStream {
      override def write(b: Int): Unit = { realErr.write(b); logStream.write(b) }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        realErr.write(b, off, len); logStream.write(b, off, len)
      }
      override def flush(): Unit = { realErr.flush(); logStream.flush() }
    }, true))
    // abnormal termination (OOM kill signal, spark.stop() throwing) must not
    // strand the tail of the very stack trace this file exists to attribute
    // in the 64 KB buffer — the orderly close at the end is still the
    // normal-path flush
    sys.addShutdownHook { try logStream.flush() catch { case _: Throwable => } }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    // ERROR, not WARN: the per-query block sweep legitimately unpersists
    // localCheckpoint'd RDDs and Spark WARNs about the truncated lineage on
    // every one — dozens of noise lines that crowd real failures (and the
    // JSON line itself) out of a bounded harness tail
    spark.sparkContext.setLogLevel("ERROR")
    // Footer-only schema audit first: a contract-breaking fixture surfaces
    // as one line per mismatch, not a failure per consuming query (the
    // round-6 events.ts failure mode).
    try Tables.validate(spark, sfDir)
      .foreach(m => System.err.println(s"[bench] fixture schema mismatch: $m"))
    catch { case e: Throwable => System.err.println(s"[bench] fixture audit: ${e.getMessage}") }
    // Warm-up: touch every table once so parquet footer reads, FileIndex
    // listing, and first-touch JVM class loading happen outside the timed
    // region (a steady-state workload has all of these cached).
    Tables.names.foreach { t =>
      try Tables(spark, sfDir, t).count()
      catch { case e: Throwable => System.err.println(s"[bench] warmup $t: ${e.getMessage}") }
    }
    // ENGINE warm-up (untimed; fork children + no-args full runs): each
    // fresh child JVM pays ~0.26 s/query of C2-JIT on Spark's own hot
    // loops (round-11 measured forked 387.9 s vs inline-warm 313.6 s on
    // one tree — JIT tax, not plan cost). Driving the operator classes
    // the catalog's hot paths share — hash agg, shuffle exchange, sort,
    // broadcast + shuffled joins, window, parquet scan, noop write —
    // through a few generic passes triggers that compilation BEFORE the
    // timed region, the way a steady-state service has it. Deliberately
    // NOT catalog queries: pre-running a query would also warm its plan
    // and shared frames, flattering its own timed runs.
    val engineWarm = sys.env.contains("SPARK_GRAFT_ENGINE_WARMUP") || args.isEmpty
    if (engineWarm) {
      val w0 = System.nanoTime()
      try {
        import org.apache.spark.sql.functions._
        val l = Tables(spark, sfDir, "lineitem")
        val o = Tables(spark, sfDir, "orders")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("o_custkey").orderBy(col("p"))
        for (_ <- 1 to 2) {
          l.groupBy("l_returnflag", "l_linestatus")
            .agg(sum("l_quantity"), avg("l_extendedprice"), count(lit(1)))
            .write.format("noop").mode("overwrite").save()
          l.join(broadcast(o.select("o_orderkey", "o_custkey").limit(2000)),
              col("l_orderkey") === col("o_orderkey"))
            .groupBy("o_custkey").agg(count(lit(1)))
            .write.format("noop").mode("overwrite").save()
          o.join(l, col("l_orderkey") === col("o_orderkey"))
            .select(col("o_custkey"), col("l_extendedprice").as("p"))
            .withColumn("rk", row_number().over(w))
            .filter(col("rk") <= 3)
            .write.format("noop").mode("overwrite").save()
        }
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] engine warmup: ${e.getMessage}")
      }
      // STREAMING warm-up (untimed, same rationale): a child JVM's first
      // gate pays file-source, micro-batch planner, state-store, and
      // RocksDB native-library first-touch (~2-3 s, measured as the
      // forked-vs-inline residual on x205/x207 in SCALE.md round 12).
      // One 2-batch aggregation replayed through the gates' own harness
      // on RocksDB loads all of it (file source, pinning sink, checkpoint
      // manager, state store) without touching a catalog query's plan or
      // shared frames; the sweep below releases its pinned emission.
      try {
        import org.apache.spark.sql.functions._
        graft.streaming.StreamGate.replayStaged(spark,
          spark.range(0, 64).select(col("id"), (col("id") % 8).as("k"),
            (col("id") % 2).cast("int").as("b")),
          "bench_warmup", "b", 2, "complete",
          conf = Map(graft.streaming.StreamGate.RocksDb))(_.groupBy("k").count())
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] stream warmup: ${e.getMessage}")
      }
      graft.ops.CheckpointBlocks.sweep(spark, graft.queries.SharedCache.liveRddIds)
      System.err.println(
        f"[bench] engine warmup ${(System.nanoTime() - w0) / 1e9}%.1f s (untimed)")
    }
    def runOnce(q: graft.queries.QueryDef): Option[Double] = {
      val t0 = System.nanoTime()
      try {
        q.build(spark, sfDir).write.format("noop").mode("overwrite").save()
        Some((System.nanoTime() - t0) / 1e9)
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] ${q.name}: ${e.getMessage}")
          e.printStackTrace() // full trace to the teed log for attribution
          None
      }
    }
    def timeQuery(q: graft.queries.QueryDef): Seq[Double] = {
      // min of two runs per query: the first run of a plan pays whole-stage
      // codegen JIT (~0.3-0.5 s) that a steady-state workload never sees.
      // BOTH raw runs are kept for the JSON: a one-sided multi-second spike
      // in a noisy container window looks like a regression under min-of-2
      // alone; a reader seeing [3.8, 0.4] knows it was a spike, not code.
      val times = (1 to 2).flatMap(_ => runOnce(q))
      // release this query's checkpoint blocks / GraphX caches; shared
      // frames (x18's published pair set, consumed later by x25) survive
      graft.ops.CheckpointBlocks.sweep(spark, graft.queries.SharedCache.liveRddIds)
      times
    }
    // args (local-iteration only): restrict to these query names. The
    // driver always runs with no args = the full catalog.
    val only = args.toSet
    val served = scala.collection.mutable.ArrayBuffer.empty[String]
    val results = SparkEntry.catalog
      .filter(q => only.isEmpty || only.contains(q.name))
      .map { q =>

      val hits0 = graft.queries.SharedCache.hits
      val t = timeQuery(q)
      if (graft.queries.SharedCache.hits > hits0) served += q.name
      q.name -> t
    }
    // cache-served queries re-run cold: clear the shared frames before EACH
    // run (the first cold run repopulates the cache via getOrCompute — a
    // min-of-2 without the per-run clear would time one cold and one warm
    // run and report the warm one), so every timed run pays its own full
    // pipeline, the way the per-query oracle does
    val cold = served.toSeq.map { name =>
      val q = SparkEntry.catalog.find(_.name == name)
      val times = (1 to 2).flatMap { _ =>
        graft.queries.SharedCache.clear()
        graft.ops.CheckpointBlocks.sweep(spark)
        q.flatMap(runOnce)
      }
      name -> times
    }
    graft.queries.SharedCache.clear()
    graft.ops.CheckpointBlocks.sweep(spark)
    val leaked = spark.sparkContext.getPersistentRDDs.size
    // a broken cold path must fail the run like any other broken query:
    // SCALE.md tells cross-engine readers to use cold_rerun, so a silent -1
    // there would hide exactly the number the comparison depends on. failed
    // counts DISTINCT broken queries — one query broken both warm and cold
    // is one failure, not two
    val failed = (results.filter(_._2.isEmpty).map(_._1) ++
      cold.filter(_._2.isEmpty).map(_._1)).distinct.size
    val total = results.map(_._2).flatMap(_.minOption).sum
    // raw per-run times (order preserved): lets a reader separate a genuine
    // regression (both runs slow) from a container spike (one-sided outlier)
    // without a re-run; a failed run is simply absent from its array
    def putRuns(o: ObjectNode, rs: Seq[(String, Seq[Double])]): Unit =
      rs.foreach { case (k, v) => val a = o.putArray(k); v.foreach(t => a.add(secs(t))) }
    def putMins(o: ObjectNode, rs: Seq[(String, Seq[Double])]): Unit =
      rs.foreach { case (k, v) => v.minOption.fold(o.put(k, -1))(t => o.put(k, secs(t))) }
    // per-query detail first (raw runs, then mins), summary last: a
    // tail-truncated capture keeps the END of the line, so
    // totals/annotations must sit there
    val out = mapper.createObjectNode()
    putRuns(out.putObject("runs"), results)
    putRuns(out.putObject("cold_runs"), cold)
    putMins(out.putObject("queries"), results)
    putMins(out.putObject("cold_rerun"), cold)
    // store-build attribution: wall seconds each DerivedStore spent
    // BUILDING this JVM (absent = served from disk). A first-build is a
    // once-per-fixture cost that lands inside whichever query touched the
    // store first — readers comparing per-query ratios cross-engine
    // subtract it (or read the min-of-2, whose second run reads the store).
    val stores = out.putObject("store_build")
    graft.ops.DerivedStore.buildSeconds.toSeq.sortBy(_._1)
      .foreach { case (k, v) => stores.put(k, secs(v)) }
    out.put("metric", "total").put("value", secs(total)).put("unit", "sec")
      .put("failed", failed).put("leaked_rdds", leaked)
      .put("log", logPath).put("json", jsonPath).put("sf", sfDir)
    emit(out, jsonPath)
    // spark.stop() can throw on a wedged executor pool; the tee must be
    // detached and its sink closed on that path too, or the closed-over
    // stream stays attached to System.err for the rest of the JVM
    try spark.stop()
    finally {
      System.setErr(realErr) // detach the tee before closing its sink
      logStream.close()
    }
    if (failed > 0) sys.exit(1)
  }
}
