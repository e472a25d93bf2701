package graft
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args 3+ (optional, local-iteration only): restrict to these query
    // names. The driver always calls with exactly (sfDir, outDir).
    val Array(sfDir, outDir) = args.take(2)
    val only: Set[String] = args.drop(2).toSet
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("WARN")
    // Footer-only schema audit BEFORE any query runs: a regenerated fixture
    // that breaks the FIXTURES.md contract surfaces as one line per
    // mismatch here instead of a deep AnalysisException per consumer (the
    // round-6 events.ts failure mode).
    Tables.validate(spark, sfDir)
      .foreach(m => System.err.println(s"[verify] fixture schema mismatch: $m"))
    new java.io.File(outDir).mkdirs()
    // 4 queries in flight: Spark schedules concurrent jobs from separate
    // threads fine in local mode, and most of a small query's wall time is
    // driver-side planning that parallelizes perfectly. Results are
    // per-query directories, so concurrency cannot mix outputs.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
    val runs = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .map { case (name, fn) =>
      scala.concurrent.Future {
        try { fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name"); None }
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name)
        }
      }
    }
    val failed = scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(runs), scala.concurrent.duration.Duration.Inf)
      .flatten.sorted
    pool.shutdown()
    new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValue(new java.io.File(s"$outDir/oracle_sql.json"), SparkEntry.oracleSql.asJava)
    spark.stop()
    // every output and oracle_sql.json are written first; then fail loudly
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} failed: ${failed.mkString(" ")}")
      sys.exit(1)
    }
  }
}
