package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Exact.dec

/** Streaming IVM: the maintained aggregate equals the full recompute
  * over surviving rows after every micro-batch, fully-deleted groups
  * disappear, redelivery is idempotent, and malformed ops fail loudly. */
class StreamingIvmSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.GraftSession.local("4", "stream-ivm")
  import spark.implicits._

  // (group, op, value): batch 0 seeds, batch 1 re-prices a's 10.0 row
  // (D+I pair) and inserts into c, batch 2 deletes ALL of b
  private val batches = Seq(
    Seq(("a", "I", 10.0), ("a", "I", 20.0), ("b", "I", 5.0), ("b", "I", 7.0)),
    Seq(("a", "D", 10.0), ("a", "I", 12.5), ("c", "I", 100.0)),
    Seq(("b", "D", 5.0), ("b", "D", 7.0)))

  /** Surviving rows after applying batches 0..n as a plain multiset. */
  private def surviving(n: Int): Seq[(String, Double)] = {
    val rows = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    batches.take(n + 1).flatten.foreach {
      case (g, "I", v) => rows += ((g, v))
      case (g, "D", v) =>
        val i = rows.indexOf((g, v)); require(i >= 0); rows.remove(i)
    }
    rows.toSeq
  }

  private def recompute(n: Int): Seq[(String, Long, java.math.BigDecimal)] =
    collect(surviving(n).toDF("g", "v").groupBy("g")
      .agg(count(lit(1)).as("n"), sum(dec(col("v"))).as("s")))

  private def collect(df: DataFrame): Seq[(String, Long, java.math.BigDecimal)] =
    df.collect().map(r => (r.getString(0), r.getLong(1), r.getDecimal(2)))
      .sortBy(_._1).toSeq

  test("maintained ≡ full recompute after every batch; fully-deleted groups disappear") {
    val aggDir = java.nio.file.Files.createTempDirectory("ivm").toString + "/agg"
    val got = scala.collection.mutable.Map[Long, Seq[(String, Long, java.math.BigDecimal)]]()
    val input = MemoryStream[(String, String, Double)](spark)
    val q = StreamingIvm.applyStream(
        input.toDF().toDF("g", "op", "v"), Seq("g"), "op", "v",
        aggDir, (id, _) => got(id) = collect(StreamingIvm.readAgg(spark, aggDir)))
      .start()
    try batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    (0 to 2).foreach(i => assert(got(i) == recompute(i), s"batch $i"))
    // b deleted both its rows in batch 2 — the group is gone, not zero
    assert(!got(2).exists(_._1 == "b"))
    assert(got(2).map(_._1) == Seq("a", "c"))
  }

  test("redelivered batch folds to identical state (same prior snapshot, same bytes)") {
    import spark.implicits._
    val aggDir = java.nio.file.Files.createTempDirectory("ivm-redeliver").toString + "/agg"
    StreamingIvm.applyBatch(batches(0).toDF("g", "op", "v"), 0L, Seq("g"), "op", "v", aggDir)
    StreamingIvm.applyBatch(batches(1).toDF("g", "op", "v"), 1L, Seq("g"), "op", "v", aggDir)
    val before = collect(StreamingIvm.readAgg(spark, aggDir))
    // crash-replay of batch 1: recomputes from snapshot 0, overwrites
    StreamingIvm.applyBatch(batches(1).toDF("g", "op", "v"), 1L, Seq("g"), "op", "v", aggDir)
    assert(collect(StreamingIvm.readAgg(spark, aggDir)) == before)
    assert(before == recompute(1))
  }

  test("maintained aggregate survives stop + restart from checkpoint (AvailableNow file source)") {
    import org.apache.spark.sql.streaming.Trigger
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val src = tmp("ivm-src"); val ck = tmp("ivm-ck")
    val aggDir = tmp("ivm-durable") + "/agg"
    def writeDelta(rows: Seq[(String, String, Double)]): Unit =
      rows.toDF("g", "op", "v").coalesce(1).write.mode("append").parquet(src)
    def run(): Unit = {
      val in = spark.readStream
        .schema("g STRING, op STRING, v DOUBLE").parquet(src)
      val q = StreamingIvm.applyStream(in, Seq("g"), "op", "v", aggDir)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ck)
        .start()
      q.awaitTermination()
    }
    writeDelta(batches(0)); run()
    assert(collect(StreamingIvm.readAgg(spark, aggDir)) == recompute(0))
    // restart: only the new deltas replay against the recovered snapshot
    writeDelta(batches(1)); writeDelta(batches(2)); run()
    assert(collect(StreamingIvm.readAgg(spark, aggDir)) == recompute(2))
    // restart with nothing new: view unchanged
    run()
    assert(collect(StreamingIvm.readAgg(spark, aggDir)) == recompute(2))
  }

  test("an op outside {I, D} — or NULL — fails the batch loudly") {
    import spark.implicits._
    val aggDir = java.nio.file.Files.createTempDirectory("ivm-badop").toString + "/agg"
    val bad = Seq(("a", "U", 1.0)).toDF("g", "op", "v")
    val e = intercept[IllegalArgumentException](
      StreamingIvm.applyBatch(bad, 0L, Seq("g"), "op", "v", aggDir))
    assert(e.getMessage.contains("outside {I, D}"))
    val nul = Seq(("a", Option.empty[String], 1.0)).toDF("g", "op", "v")
    intercept[IllegalArgumentException](
      StreamingIvm.applyBatch(nul, 0L, Seq("g"), "op", "v", aggDir))
    assert(!StreamingIvm.hasCommitted(spark, aggDir), "failed batch must not commit")
  }

  /** Every message down an exception's cause chain, joined. */
  private def messageChain(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString(" <- ")

  private def refusedOverDelete(rows: Seq[(String, String, Double)], id: Long,
      aggDir: String): Unit = {
    val e = intercept[Exception](StreamingIvm.applyBatch(
      rows.toDF("g", "op", "v"), id, Seq("g"), "op", "v", aggDir))
    assert(messageChain(e).contains("never absorbed"), messageChain(e))
  }

  test("a delete of a group never inserted fails the batch and commits nothing") {
    val aggDir = java.nio.file.Files.createTempDirectory("ivm-overdel").toString + "/agg"
    // as the very first batch: nothing may commit at all
    refusedOverDelete(Seq(("z", "D", 5.0)), 0L, aggDir)
    assert(!StreamingIvm.hasCommitted(spark, aggDir), "failed batch must not commit")
    StreamingIvm.applyBatch(batches(0).toDF("g", "op", "v"), 0L, Seq("g"), "op", "v", aggDir)
    // after a commit: the refused batch leaves the previous view unchanged
    refusedOverDelete(Seq(("a", "I", 1.0), ("z", "D", 5.0)), 1L, aggDir)
    assert(collect(StreamingIvm.readAgg(spark, aggDir)) == recompute(0))
    // ...and a following valid batch still folds to the recompute
    StreamingIvm.applyBatch(batches(1).toDF("g", "op", "v"), 2L, Seq("g"), "op", "v", aggDir)
    assert(collect(StreamingIvm.readAgg(spark, aggDir)) == recompute(1))
  }

  test("a delete that zeroes a group's count but leaves a remainder sum fails the batch") {
    val aggDir = java.nio.file.Files.createTempDirectory("ivm-remainder").toString + "/agg"
    StreamingIvm.applyBatch(batches(0).toDF("g", "op", "v"), 0L, Seq("g"), "op", "v", aggDir)
    // b holds two rows (5.0, 7.0): deleting two images of 5.0 zeroes
    // n while s keeps 2.0 — a delete image the view never absorbed
    refusedOverDelete(Seq(("b", "D", 5.0), ("b", "D", 5.0)), 1L, aggDir)
    assert(collect(StreamingIvm.readAgg(spark, aggDir)) == recompute(0))
    StreamingIvm.applyBatch(batches(1).toDF("g", "op", "v"), 1L, Seq("g"), "op", "v", aggDir)
    assert(collect(StreamingIvm.readAgg(spark, aggDir)) == recompute(1))
  }

  test("readAgg before any commit fails loudly; empty batch skips without a snapshot") {
    import spark.implicits._
    val aggDir = java.nio.file.Files.createTempDirectory("ivm-empty").toString + "/agg"
    intercept[IllegalArgumentException](StreamingIvm.readAgg(spark, aggDir))
    val n = StreamingIvm.applyBatch(
      Seq.empty[(String, String, Double)].toDF("g", "op", "v"),
      0L, Seq("g"), "op", "v", aggDir)
    assert(n == -1L && !StreamingIvm.hasCommitted(spark, aggDir))
  }
}
