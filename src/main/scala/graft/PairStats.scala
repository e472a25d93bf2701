package graft

import org.apache.spark.sql.functions._

/** Per-decade LSH pair-count instrument (SCALE.md's x18 watch item): runs
  * [[graft.ops.TextDedup.lshPairStats]] over the SAME clone corpus the
  * x18 dedup family builds (documents ∪ id-shifted clone — mirror of
  * PipelineQueries.docCorpus) and prints one JSON line. Run it at
  * sf0.1 / 10× / 100× and compare: candidate growth tracking corpus
  * growth means the banding holds; superlinear joined_rows means bucket
  * saturation (the x06 failure mode) and the banding needs retuning.
  *
  *   sbt "runMain graft.PairStats <fixture dir>"
  */
object PairStats {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("WARN")
    val doc = Tables.documents(spark, dir)
    val corpus = doc.unionByName(doc.select(
      (col("doc_id") + 10000).as("doc_id"),
      col("text"), col("lang"), col("source"), col("n_chars")))
    val t0 = System.nanoTime()
    val r = graft.ops.TextDedup.lshPairStats(corpus).head()
    val secs = (System.nanoTime() - t0) / 1e9
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val line = mapper.createObjectNode().put("sf_dir", dir)
    Seq("n_docs", "n_buckets", "max_bucket", "joined_rows", "n_candidates", "n_verified")
      .zipWithIndex.foreach { case (k, i) => line.put(k, r.getLong(i)) }
    line.put("secs", java.math.BigDecimal.valueOf(secs).setScale(1, java.math.RoundingMode.HALF_UP))
    println(mapper.writeValueAsString(line))
    spark.stop()
  }
}
