package graft

/** Ad-hoc plan dump for catalog queries (not a test; used during
  * development to audit physical plans before pinning them).
  *
  * `PlanProbe q07_agg x203_incremental_spans` prints each query's FORMATTED
  * physical plan; with SPARK_GRAFT_PLAN_DIR set, each plan is ALSO written
  * to `$SPARK_GRAFT_PLAN_DIR/<name>_$SPARK_GRAFT_PLAN_SUFFIX.txt` (suffix
  * default "before") — the round-12 optimization evidence files under
  * plans/r12/. Data dir comes from SPARK_GRAFT_SF_DIR (default sf0.1); the
  * session is [[GraftSession]]'s, so plans are captured at the same width
  * and config the bench runs.
  */
object PlanProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    val outDir = sys.env.get("SPARK_GRAFT_PLAN_DIR")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    args.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      println(s"=== $name ===")
      println(formatted.take(4000))
      outDir.foreach { d =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(d, s"${name}_$suffix.txt"),
          formatted.getBytes("UTF-8"))
      }
      graft.queries.SharedCache.clear()
      graft.ops.CheckpointBlocks.sweep(spark)
    }
    spark.stop()
  }
}
