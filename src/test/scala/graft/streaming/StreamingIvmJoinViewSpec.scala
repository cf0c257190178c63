package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Exact.dec
import StreamingIvmComposeN.BaseSpec

/** Streaming JOIN-view IVM — the 2-base [[StreamingIvmComposeN]]
  * chain: the maintained per-group (n, s) over `R ⋈ S` equals the full
  * join recompute over surviving rows after every micro-batch —
  * R-only, S-only, and mixed batches (the cross term) — redelivery is
  * idempotent, restart recovers from the committed families, and
  * per-side CDC violations fail loudly before anything commits. */
@org.scalatest.tags.Slow
class StreamingIvmJoinViewSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.GraftSession.local("4", "stream-ivm4")
  import spark.implicits._

  // tagged change rows: (side, op, rk, sk, ck, rv, g) — R rows carry
  // (rk, ck, rv), S rows (sk, ck, g)
  private type Chg =
    (String, String, Option[Long], Option[Long], Long, Option[Double], Option[String])
  private def r(op: String, rk: Long, ck: Long, rv: Double): Chg =
    ("R", op, Some(rk), None, ck, Some(rv), None)
  private def s(op: String, sk: Long, ck: Long, g: String): Chg =
    ("S", op, None, Some(sk), ck, None, Some(g))

  private val bases = Seq(
    BaseSpec("R", Seq("rk", "ck", "rv"), "rk"),
    BaseSpec("S", Seq("sk", "ck", "g"), "sk"))
  private val stages = Seq(Seq("ck"))

  private val batches: Seq[Seq[Chg]] = Seq(
    // seed both sides
    Seq(r("I", 1L, 1L, 10.0), r("I", 2L, 1L, 20.0), r("I", 3L, 2L, 5.0),
      s("I", 1L, 1L, "a"), s("I", 2L, 2L, "b")),
    // R-only: delete a fact, insert another under the other key
    Seq(r("D", 2L, 1L, 20.0), r("I", 4L, 2L, 9.0)),
    // S-only: re-point dim s2 from b to a (D+I, same key)
    Seq(s("D", 2L, 2L, "b"), s("I", 2L, 2L, "a")),
    // both sides, overlapping key: reprice r1 AND move s1 — the
    // ΔR⋈ΔS cross term is load-bearing here
    Seq(r("D", 1L, 1L, 10.0), r("I", 1L, 1L, 11.0),
      s("D", 1L, 1L, "a"), s("I", 1L, 1L, "c")))

  private def surviving(n: Int): (Seq[(Long, Long, Double)], Seq[(Long, Long, String)]) = {
    val rr = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
    val ss = scala.collection.mutable.ArrayBuffer[(Long, Long, String)]()
    batches.take(n + 1).flatten.foreach {
      case ("R", "I", Some(rk), _, ck, Some(rv), _) => rr += ((rk, ck, rv))
      case ("R", "D", Some(rk), _, ck, Some(rv), _) =>
        val i = rr.indexOf((rk, ck, rv)); require(i >= 0); rr.remove(i)
      case ("S", "I", _, Some(sk), ck, _, Some(g)) => ss += ((sk, ck, g))
      case ("S", "D", _, Some(sk), ck, _, Some(g)) =>
        val i = ss.indexOf((sk, ck, g)); require(i >= 0); ss.remove(i)
      case other => fail(s"bad change $other")
    }
    (rr.toSeq, ss.toSeq)
  }

  private def recompute(n: Int): Seq[(String, Long, Double)] = {
    val (rr, ss) = surviving(n)
    collect(rr.toDF("rk", "ck", "rv").join(ss.toDF("sk", "ck", "g"), Seq("ck"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("rv"))).cast("decimal(28,4)").as("s")))
  }

  private def collect(df: DataFrame): Seq[(String, Long, Double)] =
    df.select(col("g"), col("n"), col("s").cast("double"))
      .collect().map(x => (x.getString(0), x.getLong(1), x.getDouble(2)))
      .sortBy(_._1).toSeq

  private def chgDf(b: Seq[Chg]): DataFrame =
    b.toDF("side", "op", "rk", "sk", "ck", "rv", "g")

  private def apply(b: Seq[Chg], id: Long, dir: String): Long =
    StreamingIvmComposeN.applyBatch(chgDf(b), id, "side", "op", bases,
      stages, Seq("g"), "rv", dir)

  private def view(dir: String): Seq[(String, Long, Double)] =
    collect(StreamingIvmComposeN.readView(spark, dir, bases))

  test("maintained ≡ full join recompute after every batch — R-only, S-only, and cross-term batches") {
    val dir = java.nio.file.Files.createTempDirectory("ivm4").toString
    val got = scala.collection.mutable.Map[Long, Seq[(String, Long, Double)]]()
    val input = MemoryStream[Chg](spark)
    val q = StreamingIvmComposeN.applyStream(
        input.toDF().toDF("side", "op", "rk", "sk", "ck", "rv", "g"),
        "side", "op", bases, stages, Seq("g"), "rv", dir,
        (id, _) => got(id) = view(dir))
      .start()
    try batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    (0 to 3).foreach(i => assert(got(i) == recompute(i), s"batch $i"))
    // the cross-term batch landed group c with the repriced fact
    assert(got(3).exists(t => t._1 == "c" && t._3 == 11.0))
    // both rows stores track survivors
    val (rr, ss) = surviving(3)
    assert(StreamingIvmComposeN.readBase(spark, dir, bases, "R").count() == rr.size)
    assert(StreamingIvmComposeN.readBase(spark, dir, bases, "S").count() == ss.size)
  }

  test("redelivered batch folds to identical state") {
    val dir = java.nio.file.Files.createTempDirectory("ivm4-redeliver").toString
    apply(batches(0), 0L, dir)
    apply(batches(3), 1L, dir) // skip ahead is fine: ids are ordered labels
    val before = view(dir)
    apply(batches(3), 1L, dir)
    assert(view(dir) == before)
  }

  test("maintained store survives stop + restart from checkpoint (AvailableNow file source)") {
    import org.apache.spark.sql.streaming.Trigger
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val src = tmp("ivm4-src"); val ck = tmp("ivm4-ck"); val dir = tmp("ivm4-durable")
    def writeDelta(rows: Seq[Chg]): Unit =
      chgDf(rows).coalesce(1).write.mode("append").parquet(src)
    def run(): Unit = {
      val in = spark.readStream.schema(
        "side STRING, op STRING, rk BIGINT, sk BIGINT, ck BIGINT, rv DOUBLE, g STRING")
        .parquet(src)
      val q = StreamingIvmComposeN.applyStream(in, "side", "op", bases,
          stages, Seq("g"), "rv", dir)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ck)
        .start()
      q.awaitTermination()
    }
    writeDelta(batches(0)); run()
    assert(view(dir) == recompute(0))
    writeDelta(batches(1)); writeDelta(batches(2)); writeDelta(batches(3)); run()
    assert(view(dir) == recompute(3))
    run()
    assert(view(dir) == recompute(3))
  }

  test("malformed deltas fail loudly BEFORE anything commits — per side") {
    val dir = java.nio.file.Files.createTempDirectory("ivm4-bad").toString
    val e0 = intercept[IllegalArgumentException](apply(
      Seq(("X", "I", Some(1L), None, 1L, Some(1.0), None)), 0L, dir))
    assert(e0.getMessage.contains("side"))
    assert(!StreamingIvmComposeN.hasCommitted(spark, dir, bases))
    apply(batches(0), 0L, dir)
    val e1 = intercept[IllegalArgumentException](apply(
      Seq(r("D", 99L, 1L, 10.0)), 1L, dir))
    assert(e1.getMessage.contains("(R side)"))
    val e2 = intercept[IllegalArgumentException](apply(
      Seq(s("I", 1L, 3L, "z")), 1L, dir)) // live dim key
    assert(e2.getMessage.contains("(S side)"))
    assert(view(dir) == recompute(0))
  }
}
