package graft.ops

import graft.SparkSpec

class GraphAlgosSpec extends SparkSpec {
  import spark.implicits._

  // two components: {r, a, b, c} tree (r->a->b, r->c) and {x, y} pair
  private def graph = GraphTable(
    Seq(("N", "r", Map.empty[String, String]), ("N", "a", Map.empty[String, String]),
      ("N", "b", Map.empty[String, String]), ("N", "c", Map.empty[String, String]),
      ("N", "x", Map.empty[String, String]), ("N", "y", Map.empty[String, String]))
      .toDF("label", "key", "props"),
    Seq(("N", "r", "N", "a", "PARENT_OF"), ("N", "a", "N", "b", "PARENT_OF"),
      ("N", "r", "N", "c", "PARENT_OF"), ("N", "x", "N", "y", "PARENT_OF"))
      .toDF("src_label", "src", "dst_label", "dst", "rel"))

  test("connectedComponents splits the two components") {
    val cc = GraphAlgos.connectedComponents(graph)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(Set("r", "a", "b", "c").map(cc) == Set(cc("r")))
    assert(Set("x", "y").map(cc) == Set(cc("x")))
    assert(cc("r") != cc("x"))
  }

  test("depthFromRoots assigns Pregel min-distance below the root set") {
    val d = GraphAlgos.depthFromRoots(graph)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(d == Map("r" -> 0L, "a" -> 1L, "b" -> 2L, "c" -> 1L, "x" -> 0L, "y" -> 1L))
  }

  test("connectedComponents over a long-keyed pair table: component IS the min id") {
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("id")
    val pairs = Seq((2L, 1L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val cc = GraphAlgos.connectedComponents(nodes, pairs)
      .as[(Long, Long)].collect().toMap
    // GraphX's representative is the smallest vertex id in the component,
    // and ids here ARE the real entity ids — so no canonicalization join
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 7L))
  }

  test("reliable=true (recoverable checkpoint) matches the default path") {
    withCheckpointDir { dir =>
      val a = GraphAlgos.connectedComponents(graph)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val b = GraphAlgos.connectedComponents(graph, reliable = true)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      // component ids come from zipWithUniqueId and may legitimately differ
      // between builds; the PARTITION must be identical
      def parts(m: Map[(String, String), Long]) =
        m.groupBy(_._2).values.map(_.keySet).toSet
      assert(parts(a) == parts(b))
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0, "reliable mode must write recoverable checkpoint files")
    }
  }

  test("agrees with TransitiveClosure on the reference-shaped hierarchy") {
    val edges = Seq((10L, 1L), (11L, 1L), (12L, 10L)).toDF("child_id", "parent_id")
    val closure = TransitiveClosure.closure(edges)
    // parent graph: root=1 at depth 0; depth via closure = max hops to root
    assert(closure.filter("child_id = 12 AND ancestor_id = 1").select("depth")
      .as[Long].collect().head == 2L)
  }
}
