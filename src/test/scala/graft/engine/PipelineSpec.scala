package graft.engine

import graft.SparkSpec
import java.util.concurrent.atomic.AtomicInteger

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  test("stages run in order, outputs flow, completed stages resume for free") {
    withTempDir("graft-pipeline") { dir =>
      val builds = new AtomicInteger(0)

      def makePipeline() = new Pipeline(spark, dir)
        .addStage("raw") { _ =>
          builds.incrementAndGet()
          Seq((1, "a"), (2, "b"), (2, "b")).toDF("id", "v")
        }
        .addStage("dedup") { outs =>
          builds.incrementAndGet()
          outs("raw").dropDuplicates("id", "v")
        }

      val out1 = makePipeline().run()
      assert(out1("dedup").count() == 2)
      assert(builds.get() == 2)

      // second run: both checkpoints exist → no stage rebuilds (main.py:400-409
      // resume-by-hand, automated)
      val out2 = makePipeline().run()
      assert(builds.get() == 2)
      assert(out2("dedup").count() == 2)
    }
  }
}
