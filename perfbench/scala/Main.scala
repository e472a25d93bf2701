package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.engine.ReferencePipeline
import graft.ops.{BatchedSink, CheckpointBlocks, DerivedStore, GraphTable, SheetMapping}
import graft.queries.SharedCache
import graft.sources.{JsonlSource, XlsxSource}

/** The benchmark's JVM side: set up one local session, run one workload's
  * operations in a closed loop (one client, one operation at a time), and
  * write raw timings, output locations and layer counters to a JSON file.
  * `run.py` generates the inputs, checks the outputs and prints the metrics.
  *
  * Timed region: a cold pass (every operation's first run in this JVM),
  * then `warm-passes` warm passes. A traced run follows each warm pass with
  * a traced one and ends with one more untraced pass, so it also yields its
  * own tracing overhead. The cold pass and the last pass also write their
  * outputs for run.py's checks, with the clock stopped. */
object Main {

  /** `ops`: the catalog queries to run, or the workbook sheets to map (ETL). */
  final case class Opts(
      workload: String, trace: Boolean, warmPasses: Int, cpus: Int,
      input: String, work: String, out: String, ops: Seq[String], spans: String)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("trace") == "1", m("warm-passes").toInt, m("cpus").toInt,
      m("input"), m("work"), m("out"),
      m.getOrElse("ops", "").split(",").toSeq.filter(_.nonEmpty), m("spans"))
  }

  def cpuNanos: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** One timed operation; `parts` splits its time by the layer call made. */
  final case class Op(name: String, seconds: Double, parts: Map[String, Double],
      error: Option[String])

  final case class Pass(traced: Boolean, cold: Boolean, ops: Seq[Op], cpuSeconds: Double,
      compiles: Long) {
    def seconds: Double = ops.map(_.seconds).sum
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val result = new java.util.LinkedHashMap[String, AnyRef]()
    val builder = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.locality.wait", "0ms")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      // run isolation: DerivedStore tables, shuffle and block files land in
      // this run's own directories, which run.py deletes afterwards
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.local.dir", s"${o.work}/local")
    if (o.trace)
      builder.config("spark.sql.streaming.streamingQueryListeners", classOf[StreamEvents].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    try {
      val w = o.workload match {
        case "etl_graph" => new EtlWorkload(spark, o)
        case _           => new QueryWorkload(spark, o)
      }
      val sessionReady = System.currentTimeMillis()
      val setupLayers = w.setUp()
      val ready = System.currentTimeMillis()
      System.err.println(s"[perfbench] JVM start to session ${sessionReady - jvmStart} ms, " +
        s"then set-up ${ready - sessionReady} ms: $setupLayers")
      val passes = mutable.ArrayBuffer[Pass]()
      val traced = mutable.ArrayBuffer[(Pass, Map[String, Double])]()
      var coldCodegen = Codegen.Reading(0, 0)
      // number of the last pass, which writes outputs for the check like the cold one
      val last = if (o.trace) 2 * o.warmPasses + 2 else o.warmPasses + 1
      def pass(cold: Boolean, trace: Boolean): Unit = {
        val check = cold || passes.size + 1 == last
        val cg0 = Codegen.read()
        val t = tracer.filter(_ => trace)
        t.foreach(_.attach())
        Trace.on = t.isDefined
        val snap0 = t.map(_.c.snapshot)
        val c0 = cpuNanos
        val ops = w.pass(cold, check, t)
        val cpu = (cpuNanos - c0 - w.checkCpuNs) / 1e9
        w.checkCpuNs = 0L
        Trace.on = false
        val cg1 = Codegen.read()
        val checkCg = w.checkCodegen
        w.checkCodegen = Codegen.Reading(0, 0)
        val compiles = cg1.count - cg0.count - checkCg.count
        if (cold) coldCodegen = Codegen.Reading(compiles, cg1.ms - cg0.ms - checkCg.ms)
        val p = Pass(t.isDefined, cold, ops, cpu, compiles)
        t.foreach { tr =>
          tr.detach()
          val s1 = tr.c.snapshot
          traced += p -> s1.map { case (k, v) =>
            k -> (if (k.startsWith("state_")) v else v - snap0.get(k))
          }
        }
        passes += p
        w.afterPass(t)
      }
      pass(cold = true, trace = false)
      for (_ <- 1 to o.warmPasses) {
        pass(cold = false, trace = false)
        if (o.trace) pass(cold = false, trace = true)
      }
      // untraced passes on both sides of the traced ones, so that warming
      // over the run does not bias the overhead
      if (o.trace) pass(cold = false, trace = false)
      System.gc(); System.gc()
      val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
      w.finish()

      result.put("setup", J.obj(
        "jvm_start_ms" -> jvmStart.toDouble, "ready_ms" -> ready.toDouble))
      result.put("passes", J.arr(passes.map { p =>
        J.obj("traced" -> p.traced, "cold" -> p.cold, "cpu_s" -> p.cpuSeconds,
          "ops" -> J.arr(p.ops.map { op =>
            J.obj("name" -> op.name, "s" -> op.seconds, "error" -> op.error.orNull)
          }))
      }))
      result.put("heap_retained_mb", Double.box(heap))
      result.put("outputs", J.obj(w.outputs.map { case (k, v) => k -> J.arr(v) }.toSeq: _*))
      result.put("checks", J.obj(w.checks.toSeq: _*))
      if (o.trace) {
        val layers = Layers(o.cpus, passes.toSeq, traced.toSeq, coldCodegen,
          setupLayers ++ w.layerMetrics(traced.size))
        result.put("layers", J.obj(layers.toSeq: _*))
        J.writeSpans(o.spans, Trace.all)
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        result.put("fatal", String.valueOf(e))
    } finally {
      J.write(o.out, result)
      spark.stop()
    }
  }
}

/** Per-layer metrics of a traced run. Flows are per warm pass (the mean of
  * the traced warm passes); cold-side costs cover the cold pass. */
object Layers {
  def apply(cpus: Int, passes: Seq[Main.Pass], traced: Seq[(Main.Pass, Map[String, Double])],
      coldCodegen: Codegen.Reading, workload: Map[String, Double]): Map[String, Double] = {
    val n = traced.size.max(1).toDouble
    def mean(f: ((Main.Pass, Map[String, Double])) => Double): Double = traced.map(f).sum / n
    def c(k: String) = mean(_._2(k))
    val wall = mean(_._1.seconds)
    val warmU = passes.filter(p => !p.cold && !p.traced).map(_.seconds)
    val warmT = passes.filter(_.traced).map(_.seconds)
    val busy = c("batch_ms") / 1e3
    val part = (k: String) => mean(_._1.ops.flatMap(_.parts.get(k)).sum)
    Map(
      "queries.build_s" -> part("build_s"),
      "queries.exec_s" -> part("exec_s"),
      "spark.codegen_compiles" -> coldCodegen.count.toDouble,
      "spark.codegen_ms" -> coldCodegen.ms,
      "spark.warm_compiles" -> mean(_._1.compiles.toDouble),
      "spark.plan_s" -> c("plan_ms") / 1e3,
      "spark.jobs" -> c("jobs"),
      "spark.stages" -> c("stages"),
      "spark.tasks" -> c("tasks"),
      "spark.task_s" -> c("task_ms") / 1e3,
      "spark.task_cpu_s" -> c("task_cpu_ns") / 1e9,
      "spark.gc_s" -> c("gc_ms") / 1e3,
      "spark.shuffle_read_mb" -> c("shuffle_read") / 1e6,
      "spark.shuffle_write_mb" -> c("shuffle_write") / 1e6,
      "spark.spill_mb" -> c("spill") / 1e6,
      "spark.idle_slot_s" -> (cpus * wall - c("task_ms") / 1e3),
      "streaming.batches" -> c("batches"),
      "streaming.data_batch_ratio" ->
        (if (c("batches") > 0) c("data_batches") / c("batches") else 0.0),
      "streaming.busy_s" -> busy,
      // the gate operations' time outside their micro-batches
      "streaming.idle_s" -> (workload.getOrElse("streaming.ops_s", 0.0) - busy).max(0.0),
      "streaming.add_batch_s" -> c("add_batch_ms") / 1e3,
      "streaming.commit_s" -> c("commit_ms") / 1e3,
      "streaming.plan_s" -> c("plan_batch_ms") / 1e3,
      "streaming.offset_s" -> c("offset_ms") / 1e3,
      "streaming.state_commit_s" -> c("state_commit_ms") / 1e3,
      "streaming.state_rows" -> c("state_rows"),
      "streaming.state_mb" -> c("state_bytes") / 1e6,
      "trace.overhead" -> (if (warmU.nonEmpty && warmT.nonEmpty)
        (warmT.sum / warmT.size) / (warmU.sum / warmU.size) - 1 else 0.0)
    ) ++ workload - "streaming.ops_s"
  }
}

/** A workload: its set-up, one pass of its operations, and its checks. */
trait Workload {
  /** Audits and loads the inputs; returns the times of the set-up steps
    * that belong to a layer. */
  def setUp(): Map[String, Double]
  /** `check`: also write each operation's output for run.py, unclocked. */
  def pass(cold: Boolean, check: Boolean, tracer: Option[Tracer]): Seq[Main.Op]
  /** Checks and extra layer timings, run after a pass's measurements. */
  def afterPass(tracer: Option[Tracer]): Unit = ()
  /** Codegen and CPU spent inside a pass on checks, which the pass must not count. */
  var checkCodegen = Codegen.Reading(0, 0)
  var checkCpuNs = 0L
  def finish(): Unit = ()
  /** Operation -> directories holding the parquet outputs run.py fingerprints. */
  def outputs: Map[String, Seq[String]] = Map.empty
  /** Values run.py compares with what the generator knows. */
  def checks: Map[String, AnyRef] = Map.empty
  /** Layer metrics only this workload measures, per traced warm pass. */
  def layerMetrics(tracedPasses: Int): Map[String, Double]

  protected def failure(what: String, e: Throwable): Option[String] = {
    val msg = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
    System.err.println(s"[perfbench] $what failed: $msg")
    Some(msg)
  }
}

/** Sums of per-pass layer values, reported as means over traced passes. */
final class Tally {
  private val m = new ConcurrentHashMap[String, Double]()
  def add(k: String, v: Double): Unit = m.merge(k, v, _ + _)
  def means(n: Int): Map[String, Double] = m.asScala.map { case (k, v) => k -> v / n.max(1) }.toMap
}

/** Catalog queries and streaming gates: an operation is one catalog query
  * built and fully materialized through the noop sink, as `graft.Bench`
  * times it. On a checked pass its output is then written as parquet for
  * the fingerprint check, with the clock stopped. */
final class QueryWorkload(spark: SparkSession, o: Main.Opts) extends Workload {
  private val dir = o.input
  private val defs = o.ops.map(n => SparkEntry.catalog.find(_.name == n)
    .getOrElse(sys.error(s"unknown catalog query $n")))
  // the cold pass keeps catalog order, so each first run follows the same
  // predecessors whatever the seed; warm passes run in the seeded order
  private val coldDefs = defs.sortBy(SparkEntry.catalog.indexOf)
  private val outDirs = mutable.LinkedHashMap[String, Seq[String]]()
  private val tally = new Tally
  private var storeBuild0 = 0.0

  def setUp(): Map[String, Double] = {
    val t0 = System.nanoTime()
    val bad = Tables.validate(spark, dir)
    require(bad.isEmpty, s"fixture audit: ${bad.mkString("; ")}")
    val t1 = System.nanoTime()
    Tables.names.foreach(t => Tables(spark, dir, t).count())
    val t2 = System.nanoTime()
    storeBuild0 = DerivedStore.buildSeconds.values.sum
    Map("Tables.validate_s" -> (t1 - t0) / 1e9, "Tables.load_s" -> (t2 - t1) / 1e9)
  }

  def pass(cold: Boolean, check: Boolean, t: Option[Tracer]): Seq[Main.Op] =
    (if (cold) coldDefs else defs).map(run(_, cold, check, t))

  private def run(q: graft.queries.QueryDef, cold: Boolean, check: Boolean,
      t: Option[Tracer]): Main.Op = {
    val hits0 = SharedCache.hits
    t.foreach(_.drain())
    val jobs0 = t.map(_.c.jobs.get).getOrElse(0L)
    val batches0 = t.map(_.c.batches.get).getOrElse(0L)
    var df: DataFrame = null
    var err: Option[String] = None
    val t0 = System.nanoTime()
    var t1 = t0
    Trace.span(s"op:${q.name}") { id =>
      try {
        df = Trace.span("queries.build", id)(_ => q.build(spark, dir))
        t1 = System.nanoTime()
        t.foreach { tr => tr.drain(); tally.add("queries.build_jobs", (tr.c.jobs.get - jobs0).toDouble) }
        Trace.span("queries.exec", id)(_ => df.write.format("noop").mode("overwrite").save())
      } catch { case e: Throwable => err = failure(q.name, e) }
    }
    val t2 = System.nanoTime()
    if (check && err.isEmpty) {
      // the output check's copy, written before the sweep frees its blocks
      val cg0 = Codegen.read()
      val c0 = Main.cpuNanos
      val out = s"${o.work}/out/${q.name}/${if (cold) "cold" else "warm"}"
      try {
        df.coalesce(1).write.mode("overwrite").parquet(out)
        outDirs(q.name) = outDirs.getOrElse(q.name, Nil) :+ out
      } catch { case e: Throwable => failure(s"${q.name} output", e) }
      val cg1 = Codegen.read()
      checkCodegen = Codegen.Reading(checkCodegen.count + cg1.count - cg0.count,
        checkCodegen.ms + cg1.ms - cg0.ms)
      checkCpuNs += Main.cpuNanos - c0
    }
    // blocks the operation left persisted beyond the shared frames: the
    // per-operation sweep (as graft.Bench does it) is what frees them
    val live = SharedCache.liveRddIds
    val left = spark.sparkContext.getPersistentRDDs.keys.count(!live.contains(_))
    val s0 = System.nanoTime()
    CheckpointBlocks.sweep(spark, live)
    t.foreach { tr =>
      tally.add("ops.leaked_rdds", left.toDouble)
      tally.add("ops.sweep_s", (System.nanoTime() - s0) / 1e9)
      tally.add("queries.cache_hits", if (SharedCache.hits > hits0) 1.0 else 0.0)
      tr.drain()
      if (tr.c.batches.get > batches0) tally.add("streaming.ops_s", (t2 - t0) / 1e9)
    }
    Main.Op(q.name, (t2 - t0) / 1e9,
      Map("build_s" -> (t1 - t0) / 1e9, "exec_s" -> (t2 - t1) / 1e9), err)
  }

  override def outputs: Map[String, Seq[String]] = outDirs.toMap

  def layerMetrics(tracedPasses: Int): Map[String, Double] = {
    val m = tally.means(tracedPasses)
    Map(
      "queries.build_jobs" -> m.getOrElse("queries.build_jobs", 0.0),
      "queries.cache_hit_ratio" -> m.getOrElse("queries.cache_hits", 0.0) / defs.size.max(1),
      "ops.sweep_s" -> m.getOrElse("ops.sweep_s", 0.0),
      "streaming.ops_s" -> m.getOrElse("streaming.ops_s", 0.0),
      "ops.leaked_rdds" -> m.getOrElse("ops.leaked_rdds", 0.0),
      "ops.store_build_s" -> (DerivedStore.buildSeconds.values.sum - storeBuild0))
  }
}

/** The reference DAG: each pass builds the graph into a fresh checkpoint
  * directory, loads it through the batched, ledgered sink in batches of
  * 1000 (the reference default), then runs the build and the load again
  * on the same directories (the resume pass). */
final class EtlWorkload(spark: SparkSession, o: Main.Opts) extends Workload {
  private val dir = o.input
  private val server = new Loopback(s"$dir/service.tsv", o.cpus)
  private val inputs = {
    val endpoint = server.endpoint
    ReferencePipeline.Inputs(
      conceptsPath = s"$dir/concepts.json",
      hierarchyPath = s"$dir/hierarchy.json",
      workbookPath = s"$dir/relationships.xlsx",
      sheets = SheetMapping.referenceConfig.filter { case (i, _) => o.ops.contains(i.toString) },
      idMappingPath = s"$dir/id_mapping.json",
      enrichmentClient = () => new CountingClient(endpoint))
  }
  private val stageNames = Seq("concept_nodes", "hierarchy_edges", "sheet_nodes",
    "sheet_edges", "graph_nodes", "graph_edges", "entity_ids", "enriched")
  private var passNo = 0
  private val checked = mutable.LinkedHashMap[String, AnyRef]()
  private val tally = new Tally

  def setUp(): Map[String, Double] = Map.empty

  private var done: EtlWorkload.Done = _

  def pass(cold: Boolean, check: Boolean, t: Option[Tracer]): Seq[Main.Op] = {
    passNo += 1
    val ckpt = s"${o.work}/ckpt/$passNo"
    val ledger = s"${o.work}/ledger/$passNo"
    server.reset(); CountingClient.reset(); Sink.reset()
    t.foreach(_.drain())
    val sqlSeen = t.map(_.c.sqlDone.size).getOrElse(0)
    var err: Option[String] = None
    def guard[T](what: String)(body: => T): Option[T] =
      try Some(body) catch { case e: Throwable => err = failure(s"etl $what", e); None }
    def load(m: Map[String, DataFrame]) = ReferencePipeline.load(
      GraphTable(m("graph_nodes"), m("graph_edges")), 1000, Sink.send, ledger)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val outs = Trace.span("op:build") { _ =>
      guard("build")(ReferencePipeline.build(spark, inputs, ckpt).run()) }
    val t1 = System.nanoTime()
    Trace.span("op:load") { _ => outs.foreach(m => guard("load")(load(m))) }
    val t2 = System.nanoTime()
    val fetched = (CountingClient.calls.sum, CountingClient.nanos.sum / 1e9,
      CountingClient.instances.sum)
    val served = (server.requests.get, server.notFound.get, server.unavailable.get)
    val sink = (Sink.batches.sum, Sink.rows.sum, Sink.hash.sum)
    val sendS = Sink.nanos.sum / 1e9
    val markers = ledgerMarkers(ledger)
    val stamps = successStamps(ckpt)
    val t3 = System.nanoTime()
    val again = Trace.span("op:resume") { _ =>
      guard("resume")(load(ReferencePipeline.build(spark, inputs, ckpt).run())) }
    val t4 = System.nanoTime()
    if (t.isDefined) Seq(
      "ops.enrich_calls" -> fetched._1.toDouble, "ops.enrich_s" -> fetched._2,
      "ops.enrich_partitions" -> fetched._3.toDouble,
      "ops.http_retries" -> served._3.toDouble,
      "ops.sink_batches" -> sink._1.toDouble, "ops.sink_rows" -> sink._2.toDouble,
      "ops.sink_s" -> sendS, "ops.ledger_markers" -> markers.toDouble,
      "engine.load_s" -> (t2 - t1) / 1e9, "engine.resume_s" -> (t4 - t3) / 1e9
    ).foreach { case (k, v) => tally.add(k, v) }
    done = EtlWorkload.Done(ckpt, startMs, sqlSeen, outs, again, served, sink, markers, stamps)
    Seq(
      Main.Op("graph", (t2 - t0) / 1e9, Map.empty, err),
      Main.Op("resume", (t4 - t3) / 1e9, Map.empty, err))
  }

  override def afterPass(t: Option[Tracer]): Unit = {
    val d = done
    t.foreach { tr =>
      tally.add("engine.ckpt_mb", dirBytes(d.ckpt) / 1e6)
      tally.add("engine.write_amp", dirBytes(d.ckpt) / inputBytes)
      stageTimes(tr.c.sqlDone.asScala.toSeq.drop(d.sqlSeen), d.ckpt, d.startMs)
        .foreach { case (k, v) => tally.add(s"engine.${k}_s", v) }
      sourceTimes().foreach { case (k, v) => tally.add(k, v) }
    }
    // counters on every pass, output counts on the first
    val resent = Sink.batches.sum - d.sink._1
    // the row-hash comparison costs two Spark jobs, so only the first pass pays it
    checked(s"pass$passNo.exactly_once") = Boolean.box(Sink.duplicates.sum == 0 &&
      d.outs.exists(m => d.sink._2 == rows(m) && (passNo > 1 || d.sink._3 == rowHash(m))))
    checked(s"pass$passNo.ledger_markers_match") = Boolean.box(d.markers == d.sink._1)
    checked(s"pass$passNo.resume_resent_zero") =
      Boolean.box(d.again.contains((0L, 0L)) && resent == 0)
    checked(s"pass$passNo.resume_rebuilt_nothing") =
      Boolean.box(successStamps(d.ckpt) == d.stamps)
    if (passNo == 1) d.outs.foreach(countChecks(_, d.served))
  }

  private def rows(m: Map[String, DataFrame]): Long =
    m("graph_nodes").count() + m("graph_edges").count()

  private def rowHash(m: Map[String, DataFrame]): Long =
    Seq("graph_nodes", "graph_edges").map(k =>
      m(k).rdd.map(_.hashCode.toLong).fold(0L)(_ + _)).sum

  private def countChecks(m: Map[String, DataFrame], served: (Long, Long, Long)): Unit = {
    // one aggregation per output keeps the check to a handful of jobs
    def agg(df: DataFrame, cs: org.apache.spark.sql.Column*): Seq[Long] =
      df.agg(cs.head, cs.tail: _*).first().toSeq.map(_.asInstanceOf[Number].longValue)
    def countIf(c: org.apache.spark.sql.Column) = sum(when(c, 1L).otherwise(0L))
    val parentOf = col("rel") === "PARENT_OF"
    val Seq(edges, hier, hierDistinct) = agg(m("graph_edges"), count(lit(1)), countIf(parentOf),
      count_distinct(when(parentOf, struct(col("src"), col("dst")))))
    val Seq(enriched, typed) = agg(m("enriched"), count(lit(1)), countIf(size(col("property_types")) > 0))
    val Seq(hits) = agg(m("entity_ids"), countIf(element_at(col("props"), "entity_id").isNotNull))
    val conceptIds = m("concept_nodes").select(element_at(col("props"), "id").as("k"))
    val misses = JsonlSource.idMapping(spark, inputs.idMappingPath)
      .select(col("concept_id").cast("string").as("k"))
      .join(conceptIds, Seq("k"), "left_anti").count()
    Seq(
      "concept_nodes" -> m("concept_nodes").count(),
      "nodes" -> m("graph_nodes").count(),
      "hierarchy_edges" -> hier, "dup_hierarchy_edges" -> (hier - hierDistinct),
      "sheet_edges" -> (edges - hier), "edges" -> edges,
      "entity_hits" -> hits, "entity_misses" -> misses,
      "enriched" -> enriched, "enriched_typed" -> typed,
      "service_requests" -> served._1, "service_404" -> served._2, "service_503" -> served._3
    ).foreach { case (k, v) => checked(k) = Long.box(v) }
  }

  /** A stage's time runs from the previous stage's checkpoint write ending
    * (or the pass starting) to the end of the SQL execution that writes
    * `<ckpt>/<stage>`, so it covers the stage's driver-side work too. */
  private def stageTimes(done: Seq[(Long, Long, String)], ckpt: String,
      startMs: Long): Seq[(String, Double)] = {
    var prev = startMs
    stageNames.flatMap { st =>
      done.filter(_._3.contains(s"$ckpt/$st,")).map(_._2).maxOption.map { end =>
        Trace.add(s"engine.$st", 0L, prev.toDouble, end.toDouble)
        val d = (end - prev) / 1e3
        prev = end
        st -> d
      }
    }
  }

  /** The sources layer on the same inputs. Both sheet stages parse every
    * configured sheet, so a build parses the workbook twice. */
  private def sourceTimes(): Seq[(String, Double)] = {
    val maxCols = inputs.sheets.values
      .flatMap(m => Seq(m.node1.valueCol, m.node1.idCol, m.node2.valueCol, m.node2.idCol))
      .max + 1
    val t0 = System.nanoTime()
    for (_ <- 1 to 2; idx <- inputs.sheets.keys)
      XlsxSource.readSheet(spark, inputs.workbookPath, idx, maxCols).count()
    val t1 = System.nanoTime()
    JsonlSource.concepts(spark, inputs.conceptsPath).count()
    JsonlSource.hierarchy(spark, inputs.hierarchyPath).count()
    JsonlSource.idMapping(spark, inputs.idMappingPath).count()
    val t2 = System.nanoTime()
    Seq("sources.xlsx_s" -> (t1 - t0) / 1e9, "sources.jsonl_s" -> (t2 - t1) / 1e9)
  }

  private lazy val inputBytes: Double =
    Seq("concepts.json", "hierarchy.json", "relationships.xlsx", "id_mapping.json")
      .map(f => new File(dir, f).length).sum.toDouble

  private def dirBytes(d: String): Double = {
    val walk = Files.walk(new File(d).toPath)
    try walk.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size(_)).sum.toDouble
    finally walk.close()
  }

  private def ledgerMarkers(d: String): Long = Seq("nodes", "edges").map { k =>
    Option(new File(s"$d/$k").listFiles).map(_.count(_.getName.endsWith(".done"))).getOrElse(0)
  }.sum.toLong

  private def successStamps(d: String): Seq[Long] =
    stageNames.map(st => new File(s"$d/$st/_SUCCESS").lastModified)

  override def finish(): Unit = server.stop()

  override def checks: Map[String, AnyRef] = checked.toMap

  def layerMetrics(tracedPasses: Int): Map[String, Double] = tally.means(tracedPasses)
}

object EtlWorkload {
  /** What a pass leaves for its checks. */
  final case class Done(ckpt: String, startMs: Long, sqlSeen: Int,
      outs: Option[Map[String, DataFrame]], again: Option[(Long, Long)],
      served: (Long, Long, Long), sink: (Long, Long, Long), markers: Long, stamps: Seq[Long])
}

/** The sink `ReferencePipeline.load` sends to: counts batches and rows and
  * sums row hashes, so each row can be checked to arrive exactly once. */
object Sink {
  val batches, rows, hash, duplicates, nanos = new LongAdder
  private val seen = ConcurrentHashMap.newKeySet[String]()

  def reset(): Unit = {
    batches.reset(); rows.reset(); hash.reset(); duplicates.reset(); nanos.reset(); seen.clear()
  }

  val send: (BatchedSink.BatchId, Seq[Row]) => Unit = (id, batch) =>
    Trace.span("ops.send") { _ =>
      val t0 = System.nanoTime()
      // node rows have 3 fields and edge rows 5; the two loads reuse batch ids
      val kind = batch.headOption.map(_.length).getOrElse(0)
      if (!seen.add(s"$kind/$id")) duplicates.increment()
      batches.increment()
      rows.add(batch.size)
      batch.foreach(r => hash.add(r.hashCode.toLong))
      nanos.add(System.nanoTime() - t0)
    }
}

/** JSON output through the jackson-databind that ships with Spark. */
object J {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def obj(kv: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  def arr(xs: Iterable[Any]): java.util.List[Any] = xs.toSeq.asJava

  def write(path: String, v: AnyRef): Unit =
    mapper.writeValue(new File(path), v)

  def writeSpans(path: String, spans: Seq[Span]): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(mapper.writeValueAsString(obj("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
    } finally w.close()
  }
}
