package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Default-gate case for the `@Slow` TrainPipelineSpec: one run of the
  * curation funnel on the text-only sf0.001 corpus, so a change to any
  * stage of `TrainPipeline` is exercised without
  * `SPARK_GRAFT_TEST_FULL`. The full suite stays as it is. */
class TrainPipelineFastSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.GraftSession.local("4", "train-fast")

  private def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString

  test("one funnel run: attrition is monotone and the drop ledger matches the funnel") {
    val ledgerDir = tmp("train-fast-ledger")
    val r = TrainPipeline.run(spark, "/root/testdata/sf0.001",
      tmp("train-fast-out"), shards = 4, seed = 17,
      ledgerOut = Some(ledgerDir))
    val funnel = Seq(
      "quality_gate" -> (r.rowsIn, r.afterQuality),
      "exact_dup" -> (r.afterQuality, r.afterExact),
      "image_near_dup" -> (r.afterExact, r.afterImageDedup),
      "near_dup" -> (r.afterImageDedup, r.afterNearDup),
      "contaminated" -> (r.afterNearDup, r.afterDecontam),
      "lm_gate" -> (r.afterDecontam, r.afterLmGate),
      "pt_gate" -> (r.afterLmGate, r.afterPtGate))
    funnel.foreach { case (stage, (in, out)) =>
      assert(in >= out, s"$stage grew the corpus: $r")
    }
    assert(r.afterPtGate > 0, r.toString)

    val ledger = spark.read.parquet(ledgerDir)
    val dropped = r.rowsIn - r.afterPtGate
    assert(ledger.count() == dropped)
    assert(ledger.select(col("doc_id")).distinct().count() == dropped)
    val byStage = ledger.groupBy(col("stage")).count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap.withDefaultValue(0L)
    assert(byStage.keySet.subsetOf(funnel.map(_._1).toSet), byStage.toString)
    funnel.foreach { case (stage, (in, out)) =>
      assert(byStage(stage) == in - out, s"$stage: $byStage vs $r")
    }
  }
}
