package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Extends BucketedJoinSpec's zero-exchange proof to the actual graph
  * upsert: a graph persisted through BucketedGraphStore upserts a bucketed
  * batch with NO Exchange anywhere in the plan, and upserts an unbucketed
  * batch with an Exchange only on the batch side (the persisted — at scale,
  * 100 TB — side never shuffles). */
class BucketedGraphStoreSpec extends SparkSpec {
  import spark.implicits._

  private def nodes(n: Int) =
    (1 to n).map(i => (s"L${i % 3}", s"k$i", Map("p" -> s"v$i")))
      .toDF("label", "key", "props")

  private def edges(n: Int) =
    (1 to n).map(i => (s"L${i % 3}", s"k$i", s"L${(i + 1) % 3}", s"k${i + 1}", "R"))
      .toDF("src_label", "src", "dst_label", "dst", "rel")

  test("bucketed graph upsert: persisted side never shuffles") {
    withTempDir("graft-bgs") { wh =>
      BucketedGraphStore.save(GraphTable(nodes(500), edges(500)), "g", wh, buckets = 8)
      // the incoming batch, also bucket-persisted (e.g. yesterday's delta)
      nodes(50).write.bucketBy(8, "label", "key").sortBy("label", "key")
        .option("path", s"$wh/batch_b").saveAsTable("batch_b")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val g = BucketedGraphStore.load(spark, "g")

        // both sides bucketed → full-outer merge with zero Exchange
        val merged = g.upsertNodes(spark.table("batch_b"))
        val plan = merged.nodes.queryExecution.executedPlan.toString
        assert(plan.contains("SortMergeJoin"), plan)
        assert(!plan.contains("Exchange"), s"bucketed upsert must not shuffle:\n$plan")
        assert(merged.nodes.count() == 500) // keys overlap; existing wins

        // unbucketed incoming → exactly one Exchange, on the batch side only
        val adhoc = g.upsertNodes(nodes(50))
        val plan2 = adhoc.nodes.queryExecution.executedPlan.toString
        val exchanges = "Exchange hashpartitioning".r.findAllIn(plan2).length
        assert(exchanges == 1, s"expected one Exchange (incoming side only):\n$plan2")

        // edge table bucketed on (src_label, src): the referential-integrity
        // anti-join consumes the edge buckets without re-shuffling them
        // edges bucketed on (src_label, src) and the nodes projection's
        // aliases preserve its (label, key) bucketing → anti-join is fully
        // exchange-free too
        val orphans = g.orphanEdges
        val plan3 = orphans.queryExecution.executedPlan.toString
        assert(orphans.count() == 0) // every src k1..k500 exists as a node
        assert(!plan3.contains("Exchange"), s"orphanEdges must stay bucket-local:\n$plan3")
      } finally {
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        BucketedGraphStore.drop(spark, "g")
        spark.sql("DROP TABLE IF EXISTS batch_b")
      }
    }
  }

  test("load fails loudly when the catalog name is registered at another path") {
    withTempDir("graft-bgs-loc1") { wh1 =>
      withTempDir("graft-bgs-loc2") { wh2 =>
        BucketedGraphStore.save(GraphTable(nodes(20), edges(20)), "g3", wh1, buckets = 4)
        BucketedGraphStore.drop(spark, "g3")
        try {
          // session has g3_* registered for wh1…
          BucketedGraphStore.load(spark, "g3", wh1)
          // …so loading the SAME prefix for a different root must not silently
          // serve wh1's data
          val e = intercept[IllegalStateException](BucketedGraphStore.load(spark, "g3", wh2))
          assert(e.getMessage.contains("registered at"))
          // and the matching path keeps working
          assert(BucketedGraphStore.load(spark, "g3", wh1).nodes.count() == 20)
        } finally BucketedGraphStore.drop(spark, "g3")
      }
    }
  }

  test("pipeline terminal over a re-registered store: persisted side never " +
    "shuffles in the upsert, and the ledgered load resumes to zero") {
    withTempDir("graft-bgs-term") { wh =>
      withTempDir("graft-bgs-ledger") { ledger =>
        BucketedGraphStore.save(GraphTable(nodes(300), edges(300)), "g4", wh, buckets = 8)
        // fresh-session simulation: catalog gone, only the sidecar remains
        BucketedGraphStore.drop(spark, "g4")
        try {
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          val g = BucketedGraphStore.load(spark, "g4", wh)
          // nightly-delta shape: small unbucketed batch into the persisted graph
          val delta = (290 to 320).map(i => (s"L${i % 3}", s"k$i", Map("p" -> s"new$i")))
            .toDF("label", "key", "props")
          val merged = g.upsertNodes(delta)
          val plan = merged.nodes.queryExecution.executedPlan.toString
          // exactly ONE exchange — the delta side; the (at scale, 100 TB)
          // persisted side reads its sidecar-re-registered buckets in place
          assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
            s"persisted side must not shuffle through the sidecar path:\n$plan")

          // terminal ledgered load of the merged graph
          val sent = new java.util.concurrent.ConcurrentLinkedQueue[String]()
          val (nb1, _) = graft.engine.ReferencePipeline.load(
            GraphTable(merged.nodes, g.edges), batchSize = 64,
            (id, rows) => { sent.add(s"$id:${rows.size}"); () },
            ledger, partitions = 4)
          assert(nb1 > 0)
          val delivered = sent.size()
          // all 320 distinct keys arrive exactly once across batches
          assert(merged.nodes.count() == 320)
          // a re-run resumes from the ledger: nothing is re-sent
          sent.clear()
          graft.engine.ReferencePipeline.load(
            GraphTable(merged.nodes, g.edges), batchSize = 64,
            (id, rows) => { sent.add(s"$id:${rows.size}"); () },
            ledger, partitions = 4)
          assert(sent.isEmpty, s"resume must skip all $delivered committed batches")
        } finally {
          spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
          BucketedGraphStore.drop(spark, "g4")
        }
      }
    }
  }

  test("load re-registers the bucket spec after the catalog entry is gone") {
    withTempDir("graft-bgs-reload") { wh =>
      BucketedGraphStore.save(GraphTable(nodes(200), edges(200)), "g2", wh, buckets = 8)
      // simulate a fresh session: the in-memory catalog entry disappears
      BucketedGraphStore.drop(spark, "g2")
      assert(!spark.catalog.tableExists("g2_nodes"))
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val g = BucketedGraphStore.load(spark, "g2", wh)
        assert(g.nodes.count() == 200 && g.edges.count() == 200)
        // the re-registered DDL table still carries the bucket spec: the
        // self-upsert merge plans with zero exchanges
        val plan = g.upsertNodes(spark.table("g2_nodes"))
          .nodes.queryExecution.executedPlan.toString
        assert(plan.contains("SortMergeJoin") && !plan.contains("Exchange"), plan)
      } finally {
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        BucketedGraphStore.drop(spark, "g2")
      }
    }
  }
}
