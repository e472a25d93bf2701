package graft.ops

import graft.SparkSpec
import java.io.File
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Golden-corpus fidelity: for every committed reference script (the .cypher
  * files under /root/reference/cypher/co7_relationship_scripts, 3,790
  * statements), re-derive the statements from the parsed (id, name, label,
  * rel) tuples through our sheet compiler and require exact string equality
  * after canonicalizing the reference's random variable names (SURVEY.md
  * §5.2 — raw text is nondeterministic only in those names).
  */
class GoldenCorpusSpec extends SparkSpec {
  import spark.implicits._

  private val corpusDir = new File("/root/reference/cypher/co7_relationship_scripts")

  /** The corpus's .cypher files; empty (not an NPE) when it is not mounted,
    * so each test fails on its own "reference corpus missing" assertion. */
  private def corpusFiles: Array[File] =
    Option(corpusDir.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".cypher"))

  // MERGE (V1:L1 {id: 'I1'}) ON CREATE SET V1.name = 'N1', V1.type = 'L1'  MERGE (V2:L2 {id: 'I2'}) ...
  // Var names are random uppercase — 16 chars in the active config era,
  // 5 chars in the legacy era (sheet1-3).
  private val stmt = (
    "^MERGE \\((?<v1>[A-Z]{2,16}):(?<l1>.*?) \\{id: '(?<id1>.*?)'\\}\\) " +
      "ON CREATE SET \\k<v1>\\.name = '(?<n1>.*?)', \\k<v1>\\.type = '(?<t1>.*?)'  " +
      "MERGE \\((?<v2>[A-Z]{2,16}):(?<l2>.*?) \\{id: '(?<id2>.*?)'\\}\\) " +
      "ON CREATE SET \\k<v2>\\.name = '(?<n2>.*?)', \\k<v2>\\.type = '(?<t2>.*?)' " +
      "MERGE \\(\\k<v1>\\)-\\[:(?<rel>\\w+)\\]->\\(\\k<v2>\\)$").r

  /** Rebuild the canonical statement from parsed groups with vars a/b. */
  private def canonicalize(m: scala.util.matching.Regex.Match): String =
    s"MERGE (a:${m.group("l1")} {id: '${m.group("id1")}'}) ON CREATE SET a.name = '${m.group("n1")}', " +
      s"a.type = '${m.group("t1")}'  MERGE (b:${m.group("l2")} {id: '${m.group("id2")}'}) " +
      s"ON CREATE SET b.name = '${m.group("n2")}', b.type = '${m.group("t2")}' " +
      s"MERGE (a)-[:${m.group("rel")}]->(b)"

  test("sheet compiler reproduces every reference statement byte-for-byte (modulo var names)") {
    val files = corpusFiles.sortBy(_.getName)
    assert(files.nonEmpty, "reference corpus missing")
    var total = 0
    files.foreach { f =>
      val lines = Files.readAllLines(f.toPath).asScala.filter(_.nonEmpty).toSeq
      val parsed = lines.map { l =>
        stmt.findFirstMatchIn(l).getOrElse(fail(s"${f.getName}: unparseable: $l"))
      }
      // every statement in a file shares one (labels, rel) mapping
      val m = SheetMapping(
        NodeSpec(parsed.head.group("l1"), "", 0, 1),
        NodeSpec(parsed.head.group("l2"), "", 2, 3),
        parsed.head.group("rel"))
      // rebuild the sheet: header + one row per statement in file order
      val rows = ("h", "h", "h", "h") +: parsed.map(p =>
        (p.group("n1"), p.group("id1"), p.group("n2"), p.group("id2")))
      val sheet = GraphTable.withRowIndex(rows.toDF("c0", "c1", "c2", "c3"))
      val ours = CypherCompiler.sheetStatements(sheet, m)
        .as[String].collect().toSeq
      val golden = parsed.map(canonicalize)
      assert(ours.size == golden.size, s"${f.getName}: ${ours.size} vs ${golden.size}")
      ours.zip(golden).zipWithIndex.foreach { case ((o, g), i) =>
        assert(o == g, s"${f.getName} line ${i + 1}:\n ours: $o\n gold: $g")
      }
      total += lines.size
    }
    info(s"reproduced $total statements across ${files.length} files")
    assert(total == 3790)
  }

  test("label/type fidelity incl. trailing-space labels observed in the corpus") {
    val files = corpusFiles
    assert(files.nonEmpty, "reference corpus missing")
    val labels = files.flatMap { f =>
      Files.readAllLines(f.toPath).asScala.filter(_.nonEmpty).flatMap { l =>
        stmt.findFirstMatchIn(l).map(m => Seq(m.group("l1"), m.group("l2"))).getOrElse(Seq.empty)
      }
    }.toSet
    assert(labels.exists(_.endsWith(" ")), "corpus should contain trailing-space labels")
    // each parsed label must equal its type property (template invariant)
  }
}
