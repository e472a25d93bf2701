package graft.engine

import graft.model.Schemas
import graft.ops._
import graft.sources.{JsonlSource, XlsxSource}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's entire DAG (SURVEY.md §3 EP1/EP2/EP3 — the hand-toggled
  * driver block at /root/reference/main.py:400-409) as ONE resumable
  * pipeline: a user of the reference switches by pointing this at their
  * inputs.
  *
  * Stages (each parquet-checkpointed; re-runs resume at the first
  * incomplete stage):
  *   concept_nodes   JSONL concepts → name-keyed Concept nodes (R3)
  *   hierarchy_edges JSONL hierarchy → PARENT_OF edges, dupes kept (R4)
  *   sheet_nodes/
  *   sheet_edges     workbook sheets × SheetMapping → (label,id)-keyed
  *                   nodes + deduped edges (R5)
  *   graph_nodes     MERGE-upsert of all node sources (existing-wins)
  *   graph_edges     hierarchy (CREATE) + sheet (MERGE) edges
  *   entity_ids      id-mapping join → entity_id property set (R7);
  *                   misses surface via GraphTable.missedUpdates
  *   enriched        property-type enrichment via the injected client (R8)
  *
  * Note: the reference keys Concept nodes by sanitized NAME but matches
  * hierarchy endpoints by ID (main.py:62 vs main.py:91) — that asymmetry is
  * preserved: hierarchy edges are id-keyed, so integrity checks against
  * Concept nodes go through the node's `id` property, not its key.
  */
object ReferencePipeline {

  final case class Inputs(
      conceptsPath: String,
      hierarchyPath: String,
      workbookPath: String,
      sheets: Map[Int, SheetMapping],
      idMappingPath: String,
      enrichmentClient: () => Enrichment.PropertyTypeClient)

  def build(spark: SparkSession, in: Inputs, checkpointDir: String): Pipeline = {
    val maxCols = in.sheets.values
      .flatMap(m => Seq(m.node1.valueCol, m.node1.idCol, m.node2.valueCol, m.node2.idCol))
      .max + 1

    new Pipeline(spark, checkpointDir)
      .addStage("concept_nodes") { _ =>
        val concepts = GraphTable.withRowIndex(JsonlSource.concepts(spark, in.conceptsPath))
        CypherCompiler.conceptNodes(concepts, "row_idx")
      }
      .addStage("hierarchy_edges") { _ =>
        JsonlSource.hierarchy(spark, in.hierarchyPath).select(
          lit("Concept").as("src_label"),
          col("parent_id").cast("string").as("src"),
          lit("Concept").as("dst_label"),
          col("child_id").cast("string").as("dst"),
          lit("PARENT_OF").as("rel"))
      }
      .addStage("sheet_nodes") { _ =>
        // a node shared by several sheets appears once, with the props of
        // the first sheet in workbook order: the reference runs the sheets'
        // MERGE … ON CREATE SET scripts in order, so the first writer wins
        val perSheet = in.sheets.toSeq.sortBy(_._1).map { case (idx, m) =>
          CypherCompiler.sheetGraph(XlsxSource.readSheet(spark, in.workbookPath, idx, maxCols), m)._1
            .withColumn("sheet_idx", lit(idx))
        }
        GraphTable.firstWriterWins(perSheet.reduce(_ unionByName _), Seq("label", "key"), "sheet_idx")
          .drop("sheet_idx")
      }
      .addStage("sheet_edges") { _ =>
        in.sheets.map { case (idx, m) =>
          CypherCompiler.sheetGraph(XlsxSource.readSheet(spark, in.workbookPath, idx, maxCols), m)._2
        }.reduce(_ unionByName _)
      }
      .addStage("graph_nodes") { outs =>
        GraphTable.empty(spark)
          .upsertNodes(outs("concept_nodes"))
          .upsertNodes(outs("sheet_nodes"))
          .nodes
      }
      .addStage("graph_edges") { outs =>
        GraphTable(spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Schemas.node),
            spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Schemas.edge))
          .addEdges(outs("hierarchy_edges"), dedup = false) // CREATE semantics
          .addEdges(outs("sheet_edges"), dedup = true)      // MERGE semantics
          .edges
      }
      .addStage("entity_ids") { outs =>
        // Concept nodes are name-keyed; the id lives in props — the update
        // matches on the id property like the reference's MATCH n.id=k
        // (main.py:352), so it joins on element_at(props, 'id') rather than
        // the node key (GraphTable.setProperty's key-equality contract).
        val updates = JsonlSource.idMapping(spark, in.idMappingPath).select(
          lit("Concept").as("label"),
          col("concept_id").cast("string").as("id_key"),
          col("entity_id").cast("string").as("upd_value"))
        outs("graph_nodes")
          .withColumn("id_key", element_at(col("props"), "id"))
          .join(updates, Seq("label", "id_key"), "left")
          .select(
            col("label"),
            col("key"),
            when(col("upd_value").isNotNull,
              map_concat(
                map_filter(coalesce(col("props"), map()), (k, _) => k =!= "entity_id"),
                map(lit("entity_id"), col("upd_value"))))
              .otherwise(col("props"))
              .as("props"))
      }
      .addStage("enriched") { _ =>
        Enrichment.enrich(JsonlSource.concepts(spark, in.conceptsPath), in.enrichmentClient).toDF()
      }
  }

  /** Terminal load: push the built graph to an external sink in resumable
    * batches — the reference's `run_cypher_file` bolt-transaction loop
    * (/root/reference/main.py:304-330) with its resume offset replaced by
    * the on-disk [[BatchLedger]]. Rows are HASH-partitioned to a FIXED
    * partition count and sorted on their keys, so batch ids are
    * deterministic across re-runs — the contract ledger resume depends on.
    * (Range partitioning would not be: RangePartitioner's sample seed
    * varies with RDD lineage, so a resumed run could draw different range
    * bounds and silently skip rows under previously-committed batch ids.)
    * A crashed load re-sends only uncommitted batches. Returns
    * (nodeBatches, edgeBatches) attempted this run.
    */
  def load(
      g: GraphTable,
      batchSize: Int,
      send: (BatchedSink.BatchId, Seq[org.apache.spark.sql.Row]) => Unit,
      ledgerDir: String,
      partitions: Int = 64): (Long, Long) = {
    // Both sorts are TOTAL over their rows, not just over the join keys: a
    // GraphTable upholds (label, key) uniqueness, but `load` must not
    // silently depend on that — two node rows sharing (label, key) with
    // different props would otherwise be free to swap order across runs,
    // shifting batch contents so a resumed run skips a row version under an
    // already-committed batch id. map columns are not directly orderable, so
    // props ties break on the sorted entry array (same map ⇒ same array).
    // The edge sort already covers every edge column.
    val nodes = g.nodes
      .repartition(partitions, col("label"), col("key"))
      .sortWithinPartitions(col("label"), col("key"),
        sort_array(map_entries(coalesce(col("props"), map()))))
    val edges = g.edges
      .repartition(partitions, col("src_label"), col("src"), col("dst_label"), col("dst"), col("rel"))
      .sortWithinPartitions("src_label", "src", "dst_label", "dst", "rel")
    (BatchedSink.writeResumable(nodes, batchSize, send, s"$ledgerDir/nodes"),
      BatchedSink.writeResumable(edges, batchSize, send, s"$ledgerDir/edges"))
  }
}
