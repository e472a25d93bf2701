package graft

import org.scalatest.funsuite.AnyFunSuite

/** The forked bench's merge of its children's JSON lines (no Spark). */
class BenchSpec extends AnyFunSuite {

  private val chunkA =
    """{"runs":{"q01":[0.50,0.40]},"cold_runs":{"q02":[1.10,1.00]},""" +
      """"queries":{"q01":0.40},"cold_rerun":{"q02":1.00},"store_build":{"s1":2.25},""" +
      """"metric":"total","value":0.40,"unit":"sec","failed":0,"leaked_rdds":1,"log":"/tmp/a.log"}"""
  private val chunkB =
    """{"runs":{"q03":[0.30,0.20],"q04":[]},"cold_runs":{},"queries":{"q03":0.20,"q04":-1},""" +
      """"cold_rerun":{},"store_build":{"s2":0.75},"metric":"total","value":0.20,"unit":"sec",""" +
      """"failed":1,"leaked_rdds":2}"""

  test("two child lines merge into the union of the per-query objects, with sums") {
    val m = Bench.mergeChunks(Seq(Seq("q01", "q02") -> Some(chunkA), Seq("q03", "q04") -> Some(chunkB)))
    assert(m.toString ==
      """{"runs":{"q01":[0.50,0.40],"q03":[0.30,0.20],"q04":[]},"cold_runs":{"q02":[1.10,1.00]},""" +
        """"queries":{"q01":0.40,"q03":0.20,"q04":-1},"cold_rerun":{"q02":1.00},""" +
        """"store_build":{"s1":2.25,"s2":0.75},"metric":"total","value":0.60,"unit":"sec",""" +
        """"failed":1,"leaked_rdds":3}""")
  }

  test("a chunk with no JSON counts all of its queries as failed") {
    val m = Bench.mergeChunks(Seq(Seq("q01", "q02") -> Some(chunkA),
      Seq("q03", "q04", "q05") -> None, Seq("q06") -> Some("[bench] killed")))
    assert(m.get("failed").asInt == 3 + 1)
    assert(m.get("value").decimalValue == new java.math.BigDecimal("0.40"))
    assert(m.get("queries").size == 1 && m.get("runs").has("q01"))
  }
}
