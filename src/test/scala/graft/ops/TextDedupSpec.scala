package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  // three exact copies (1,2,3), a two-doc cluster (10,11 — one token
  // changed out of many), and two singletons with disjoint vocabulary
  private val base = "the quick brown fox jumps over the lazy dog " * 5
  private def docs = Seq(
    (1L, base), (2L, base), (3L, base),
    (10L, base + "alpha beta gamma delta"),
    (11L, base + "alpha beta gamma epsilon"),
    (20L, "completely different words live here today friends hello world again ok"),
    (30L, "unrelated vocabulary cluster zero overlap whatsoever nine eight seven six"))
    .toDF("doc_id", "text")

  test("dedupMapping canonicalizes near-dup clusters to the min id") {
    val m = TextDedup.dedupMapping(docs, minMatch = 6)
      .as[(Long, Long)].collect().toMap
    assert(m(1L) == 1L && m(2L) == 1L && m(3L) == 1L)
    assert(m(20L) == 20L && m(30L) == 30L)
    // 10/11 cluster: identical shingle prefix dominates the signatures;
    // whatever the LSH says, both must agree and be ≤ their own ids
    assert(m(10L) == m(11L) || (m(10L) == 10L && m(11L) == 11L))
  }

  test("crossLshCandidatePairs = full pair set restricted to cross pairs (incremental shape)") {
    val newb = docs.filter(col("doc_id").isin(2L, 11L, 20L))
    val idx = docs.filter(!col("doc_id").isin(2L, 11L, 20L))
    val cross = TextDedup.crossLshCandidatePairs(newb, idx)
      .as[(Long, Long, Long)].collect().toSet
    // the symmetric full-corpus pair set, restricted to (new, index) pairs
    val full = TextDedup.lshCandidatePairs(docs)
      .as[(Long, Long, Long)].collect()
      .flatMap { case (a, b, n) => Seq((a, b, n), (b, a, n)) }
      .filter { case (a, b, _) =>
        Set(2L, 11L, 20L).contains(a) && !Set(2L, 11L, 20L).contains(b) }
      .toSet
    assert(cross == full, s"cross=$cross full=$full")
    // the exact clone MUST collide with its index twins on every seed
    assert(cross.exists { case (a, b, n) => a == 2L && (b == 1L || b == 3L) && n == 8L })
    // and no new×new or index×index pair can appear by construction
    assert(cross.forall { case (a, b, _) =>
      Set(2L, 11L, 20L).contains(a) && !Set(2L, 11L, 20L).contains(b) })
  }

  test("dedupSurvivors keeps one doc per cluster, exact copies collapse") {
    val kept = TextDedup.dedupSurvivors(docs, minMatch = 6)
      .select("doc_id").as[Long].collect().toSet
    assert(kept.contains(1L) && !kept.contains(2L) && !kept.contains(3L))
    assert(kept.contains(20L) && kept.contains(30L))
  }

  test("simhashFingerprint: identical texts collide, disjoint texts differ, bits bound respected") {
    val fp = TextDedup.simhashFingerprint(docs, bits = 32)
      .as[(Long, Long)].collect().toMap
    assert(fp(1L) == fp(2L) && fp(2L) == fp(3L)) // exact copies
    assert(fp(20L) != fp(1L) || fp(30L) != fp(1L)) // disjoint vocab separates
    assert(fp.values.forall(v => v >= 0 && v < (1L << 32)))
    // deterministic across runs
    val again = TextDedup.simhashFingerprint(docs, bits = 32).as[(Long, Long)].collect().toMap
    assert(fp == again)
  }

  test("reliable checkpoint mode matches the default path (cluster fault-tolerance flag)") {
    withCheckpointDir { dir =>
      val a = TextDedup.dedupMapping(docs, minMatch = 6)
        .as[(Long, Long)].collect().toMap
      val b = TextDedup.dedupMapping(docs, minMatch = 6, reliable = true)
        .as[(Long, Long)].collect().toMap
      assert(a == b)
      // reliable mode actually wrote recoverable checkpoint files
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0)
    }
  }

  test("dedupMappingFromPairs over a prebuilt pair set matches the end-to-end path") {
    val pairs = TextDedup.lshPairs(docs, minMatch = 6)
    val viaPairs = TextDedup.dedupMappingFromPairs(docs, pairs)
      .as[(Long, Long)].collect().toMap
    val endToEnd = TextDedup.dedupMapping(docs, minMatch = 6)
      .as[(Long, Long)].collect().toMap
    assert(viaPairs == endToEnd)
    // the pair frame is caller-owned: still readable after the mapping ran
    assert(pairs.count() >= 3) // the three exact copies alone give 3 pairs
    CheckpointBlocks.release(pairs)
  }

  test("reliable=true works on the pairs-in path too (cluster-mode dedup workflow)") {
    withCheckpointDir { dir =>
      val pairs = TextDedup.lshPairs(docs, minMatch = 6, reliable = true)
      val m = TextDedup.dedupMappingFromPairs(docs, pairs, reliable = true)
        .as[(Long, Long)].collect().toMap
      assert(m(2L) == 1L && m(3L) == 1L && m(20L) == 20L)
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0, "reliable mode must write recoverable checkpoint files")
    }
  }

  test("label propagation runs ONE heavy job + one narrow scan per pass (job-count invariant)") {
    // The round-3 convergence fix's whole point: the changed-row test is a
    // narrow scan over the just-materialized blocks, NOT a second shuffling
    // job. A refactor that reintroduces the old full old-vs-new join would
    // show up here as a second multi-stage job inside a pass.
    // AQE splits one ACTION into several jobs (one per shuffle-materialize
    // step), so the invariant is counted in SQL EXECUTIONS (actions), not
    // raw jobs: group jobs by spark.sql.execution.id.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val execOrder = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val execStages = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val id = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).getOrElse("none")
        if (!execStages.containsKey(id)) execOrder.add(id)
        execStages.merge(id, js.stageInfos.size, (a, b) => a + b)
      }
    }
    val pairs = TextDedup.lshPairs(docs, minMatch = 6) // outside the window
    spark.sparkContext.addSparkListener(listener)
    try {
      TextDedup.dedupMappingFromPairs(docs, pairs)
      // listener bus is async — drain it deterministically (every job
      // already STARTED: actions are synchronous) instead of polling the
      // event count against a wall-clock deadline
      org.apache.spark.GraftTestBridge.waitListenerBusEmpty(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    CheckpointBlocks.release(pairs)
    val counts = execOrder.toArray(Array.empty[String]).toSeq
      .map(id => execStages.get(id).toInt)
    info(s"per-action total stage counts: $counts")
    // action 0: init-labels materialization (narrow); then per pass exactly
    // THREE actions — (stepped materialize, compressed materialize, narrow
    // convergence scan; round 12 split the former single materialize so the
    // compression self-join reads stepped blocks instead of recomputing the
    // neighbor join twice). The convergence scan must stay narrow (its
    // count() is a partial+final pair over already-materialized blocks: ≤3
    // stages, no index-sized shuffle), strictly lighter than the pass's
    // heaviest materialize — the round-3 fix this pin guards.
    assert(counts.size >= 4, s"expected init + ≥1 pass, saw $counts")
    assert(counts.size % 3 == 1, s"actions must come as init + 3/pass, saw $counts")
    counts.drop(1).grouped(3).foreach { case Seq(stepped, compressed, scan) =>
      val heavy = math.max(stepped, compressed)
      assert(heavy > scan, s"pass must be (materialize, materialize, narrow scan); saw $counts")
      // the ABSOLUTE stage count is sensitive to how the running Spark/AQE
      // version splits an action into jobs — strict-mode only (the relative
      // heavy>scan invariant above is what guards the round-3 fix)
      if (sys.env.get("GRAFT_PERF_ASSERTS").contains("1"))
        assert(scan <= 3, s"convergence scan must stay narrow; saw $counts")
    }
  }

  test("transitive chains collapse to one component (a~b, b~c, a!~c still one cluster)") {
    // exact-copy chain via overlapping pairs: all share the same text so
    // every pair is a candidate; min-propagation must reach the global min
    val chain = (1L to 6L).map(i => (i, base)).toDF("doc_id", "text")
    val m = TextDedup.dedupMapping(chain, minMatch = 6).as[(Long, Long)].collect().toMap
    assert(m.values.toSet == Set(1L))
  }
}
