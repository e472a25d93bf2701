package graft.engine

import graft.SparkSpec
import graft.ops.{Enrichment, SheetMapping}
import org.apache.spark.sql.functions._
import java.io.{File, FileOutputStream}
import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}
import scala.jdk.CollectionConverters._

object ReferencePipelineSpec {
  object Client extends Enrichment.PropertyTypeClient {
    def fetch(id: Long): Seq[String] =
      if (id % 2 == 0) Seq("Disease:x", "Disease:y", "Demo:z") else Seq.empty
  }
  val sent = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
}

class ReferencePipelineSpec extends SparkSpec {

  private def writeFixtures(dir: String): ReferencePipeline.Inputs = {
    Files.writeString(java.nio.file.Paths.get(s"$dir/concepts.json"),
      """{"id": 1, "name": "Lung (Neoplasm)", "semantic_type": "Neoplasm", "cui": "C1"}
        |{"id": 2, "name": "Thing"}
        |{"id": 3, "name": "Lung Neoplasm"}""".stripMargin) // sanitizes to same key as id 1
    Files.writeString(java.nio.file.Paths.get(s"$dir/hierarchy.json"),
      """{"child_id": 2, "parent_id": 1}
        |{"child_id": 2, "parent_id": 1}""".stripMargin) // duplicate CREATE edges kept
    Files.writeString(java.nio.file.Paths.get(s"$dir/id_mapping.json"), """{"1": 900, "99": 901}""")
    val xlsx = new File(dir, "rel.xlsx")
    val zip = new ZipOutputStream(new FileOutputStream(xlsx))
    def put(n: String, c: String) = { zip.putNextEntry(new ZipEntry(n)); zip.write(c.getBytes); zip.closeEntry() }
    put("xl/sharedStrings.xml",
      "<sst><si><t>h</t></si><si><t>Atezolizumab</t></si><si><t>Bladder</t></si><si><t>Lung</t></si></sst>")
    put("xl/worksheets/sheet1.xml",
      """<worksheet><sheetData>""" +
        """<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>0</v></c><c r="C1" t="s"><v>0</v></c><c r="D1" t="s"><v>0</v></c></row>""" +
        """<row r="2"><c r="A2" t="s"><v>1</v></c><c r="B2"><v>10</v></c><c r="C2" t="s"><v>2</v></c><c r="D2"><v>20</v></c></row>""" +
        """<row r="3"><c r="A3" t="s"><v>1</v></c><c r="B3"><v>10</v></c><c r="C3" t="s"><v>3</v></c><c r="D3"><v>21</v></c></row>""" +
        """</sheetData></worksheet>""")
    zip.close()
    ReferencePipeline.Inputs(
      conceptsPath = s"$dir/concepts.json",
      hierarchyPath = s"$dir/hierarchy.json",
      workbookPath = xlsx.getAbsolutePath,
      sheets = Map(0 -> SheetMapping.referenceConfig(5)), // MedicationAPI -TREATS-> NeoplasmType
      idMappingPath = s"$dir/id_mapping.json",
      enrichmentClient = () => ReferencePipelineSpec.Client)
  }

  test("the full reference DAG runs end-to-end and resumes for free") {
    withTempDir("graft-refpipe") { dir =>
      val in = writeFixtures(dir)
      val outs = ReferencePipeline.build(spark, in, s"$dir/ckpt").run()

      // concepts: 3 rows, name-dedup collapses id 1 and 3 (first wins)
      assert(outs("concept_nodes").count() == 2)
      // graph nodes: 2 concepts + 1 MedicationAPI + 2 NeoplasmType
      assert(outs("graph_nodes").count() == 5)
      // edges: 2 duplicate PARENT_OF (CREATE keeps) + 2 distinct TREATS
      assert(outs("graph_edges").count() == 4)
      assert(outs("graph_edges").filter(col("rel") === "PARENT_OF").count() == 2)
      // entity id landed on the concept whose props.id = 1
      val withEntity = outs("entity_ids")
        .filter(element_at(col("props"), "entity_id") === "900")
      assert(withEntity.count() == 1)
      assert(withEntity.select("props").first.getMap[String, String](0).get("id").contains("1"))
      // enrichment: ids 1,2,3 → even id gets prefixes, odd ids empty
      val enr = outs("enriched").collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      assert(enr(2L) == Seq("Disease", "Demo") && enr(1L).isEmpty)

      // resume: a second run rebuilds nothing (all stages checkpointed)
      val again = ReferencePipeline.build(spark, in, s"$dir/ckpt").run()
      assert(again("graph_nodes").count() == 5)

      // terminal load: batched, ledgered, resumable — second load is a no-op
      val g = graft.ops.GraphTable(outs("graph_nodes"), outs("graph_edges"))
      ReferencePipelineSpec.sent.clear()
      val (nb, eb) = ReferencePipeline.load(g, batchSize = 2,
        (id, batch) => ReferencePipelineSpec.sent.add(id.toString -> batch.size), s"$dir/ledger")
      assert(nb + eb > 0)
      val delivered = ReferencePipelineSpec.sent.asScala.map(_._2).sum
      assert(delivered == 5 + 4) // every node and edge delivered exactly once
      ReferencePipelineSpec.sent.clear()
      val (nb2, eb2) = ReferencePipeline.load(g, batchSize = 2,
        (id, batch) => ReferencePipelineSpec.sent.add(id.toString -> batch.size), s"$dir/ledger")
      assert(nb2 == 0 && eb2 == 0 && ReferencePipelineSpec.sent.isEmpty)
    }
  }

  test("a node shared by two sheets appears once, with the first sheet's props") {
    withTempDir("graft-refpipe-shared") { dir =>
      val xlsx = new File(dir, "shared.xlsx")
      val zip = new ZipOutputStream(new FileOutputStream(xlsx))
      def put(n: String, c: String) = { zip.putNextEntry(new ZipEntry(n)); zip.write(c.getBytes); zip.closeEntry() }
      // (name, id) cells in columns A/B and C/D; names index sharedStrings
      def sheet(r: Seq[(Int, Int, Int, Int)]) =
        "<worksheet><sheetData>" +
          """<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>0</v></c><c r="C1" t="s"><v>0</v></c><c r="D1" t="s"><v>0</v></c></row>""" +
          r.zipWithIndex.map { case ((n1, id1, n2, id2), i) =>
            val k = i + 2
            s"""<row r="$k"><c r="A$k" t="s"><v>$n1</v></c><c r="B$k"><v>$id1</v></c>""" +
              s"""<c r="C$k" t="s"><v>$n2</v></c><c r="D$k"><v>$id2</v></c></row>"""
          }.mkString + "</sheetData></worksheet>"
      put("xl/sharedStrings.xml",
        "<sst><si><t>h</t></si><si><t>Atezolizumab</t></si><si><t>Bladder</t></si><si><t>Atezo</t></si><si><t>EGFR</t></si></sst>")
      put("xl/worksheets/sheet6.xml", sheet(Seq((1, 10, 2, 20)))) // sheet 5: MedicationAPI -TREATS-> NeoplasmType
      put("xl/worksheets/sheet7.xml", sheet(Seq((3, 10, 4, 30)))) // sheet 6: MedicationAPI -HAS_TARGET-> Gene
      zip.close()
      // the later sheet comes first in the map: workbook order, not map order, decides
      val in = writeFixtures(dir).copy(workbookPath = xlsx.getAbsolutePath,
        sheets = Map(6 -> SheetMapping.referenceConfig(6), 5 -> SheetMapping.referenceConfig(5)))
      val outs = ReferencePipeline.build(spark, in, s"$dir/ckpt").run()

      val nodes = outs("graph_nodes")
      // 2 concepts + MedicationAPI 10 (once) + NeoplasmType 20 + Gene 30
      assert(nodes.count() == 5)
      assert(nodes.select("label", "key").distinct().count() == 5)
      val med = nodes.filter(col("label") === "MedicationAPI").collect()
      assert(med.length == 1)
      assert(med.head.getAs[String]("key") == "10")
      assert(med.head.getMap[String, String](med.head.fieldIndex("props")).get("name").contains("Atezolizumab"))
      // the edges of both sheets still land on the one shared node
      assert(outs("graph_edges").filter(col("src") === "10").count() == 2)
    }
  }
}
