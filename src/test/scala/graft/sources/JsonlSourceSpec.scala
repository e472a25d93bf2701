package graft.sources

import graft.SparkSpec
import java.nio.file.Files

class JsonlSourceSpec extends SparkSpec {

  private def tmp(dir: String, content: String): String = {
    val f = java.nio.file.Paths.get(dir, "in.json")
    Files.writeString(f, content)
    f.toString
  }

  test("concepts: schema-pinned JSONL with optional fields (FIXTURES.md A1)") {
    withTempDir("graft-jsonl") { dir =>
      val p = tmp(dir,
        """{"id": 191083, "name": "Malignant Lung Neoplasm", "semantic_type": "Neoplasm", "cui": "C0242379", "search_type": "exact", "description": null, "property_concept": null}
          |{"id": 181724, "name": "Benign Thing"}""".stripMargin)
      val df = JsonlSource.concepts(spark, p)
      assert(df.count() == 2)
      val r = df.orderBy("id").collect()
      assert(r(0).getAs[String]("name") == "Benign Thing" && r(0).getAs[String]("cui") == null)
      assert(r(1).getAs[String]("cui") == "C0242379")
    }
  }

  test("hierarchy rows (FIXTURES.md A2)") {
    withTempDir("graft-jsonl") { dir =>
      val p = tmp(dir, """{"child_id": 181724, "parent_id": 191083}""")
      val r = JsonlSource.hierarchy(spark, p).collect()(0)
      assert(r.getLong(0) == 181724L && r.getLong(1) == 191083L)
    }
  }

  test("idMapping: whole-file JSON object becomes a joinable two-column table (main.py:335-336)") {
    withTempDir("graft-jsonl") { dir =>
      val p = tmp(dir, """{"191083": 900001, "181724": 900002}""")
      val out = JsonlSource.idMapping(spark, p).orderBy("concept_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(out == Seq((181724L, 900002L), (191083L, 900001L)))
    }
  }
}
