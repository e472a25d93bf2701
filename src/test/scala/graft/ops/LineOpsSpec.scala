package graft.ops

import graft.SparkSpec

class LineOpsSpec extends SparkSpec {
  import spark.implicits._

  test("convertToJson appends a comma per line (R1, main.py:33-42)") {
    withTempDir("graft-r1") { in =>
      val out = s"$in/out"
      Seq("""{"id": 1}""", """{"id": 2}""").toDF("value").coalesce(1).write.text(s"$in/in")
      LineOps.convertToJson(spark, s"$in/in", out)
      val got = spark.read.text(out).as[String].collect().toSet
      assert(got == Set("""{"id": 1},""", """{"id": 2},"""))
    }
  }

  test("statementsForMissedIds is a contains-predicate semi join (R9, main.py:390-397)") {
    val statements = Seq(
      "MATCH (n:Concept) WHERE n.id=191083 SET n.entity_id=1",
      "MATCH (n:Concept) WHERE n.id=555 SET n.entity_id=2").toDF("value")
    val missed = Seq(191083L).toDF("id")
    val got = LineOps.statementsForMissedIds(statements, missed).as[String].collect().toSeq
    assert(got == Seq("MATCH (n:Concept) WHERE n.id=191083 SET n.entity_id=1"))
  }
}
