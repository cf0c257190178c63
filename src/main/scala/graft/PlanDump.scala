package graft

import java.nio.file.{Files, Paths}

/** Plan-capture aid for the optimization rounds: dumps
  * `explain("formatted")` for the named queries (or all of them) to
  * `<outDir>/<query>_<tag>.txt` — the before/after evidence the
  * optimization judge checks plan claims against.
  *
  *   runMain graft.PlanDump <sfDir> <outDir> <tag> [q1,q2,...] [exec]
  *
  * The dump is the ANALYZED plan as the session would execute it
  * (AQE initial plan — `isFinalPlan=false` — since nothing runs);
  * Exchange counts, join strategies, PushedFilters and ReadSchema are
  * all visible at this stage, which is what the plan-shape claims in
  * OPTIMIZATION_r16.md reference.
  *
  * With a 5th arg `exec` (r17) the query is RUN through the noop sink
  * first and the dump is the FINAL adaptive plan
  * (`isFinalPlan=true`) — the only form in which runtime
  * exchange-REUSE (`ReusedExchange`/`TableCacheQueryStage`) and AQE
  * join rewrites are visible, which the ivm10 reuse verification
  * needs.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, tag) = (args(0), args(1), args(2))
    val exec = args.length > 4 && args(4) == "exec"
    val spark = graft.core.GraftSession.local()
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.selected(args.lift(3)).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        if (exec) df.write.format("noop").mode("overwrite").save()
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), plan)
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
