package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Exact.dec
import StreamingIvmComposeN.BaseSpec

/** Streaming COMPOSED IVM over the warehouse chain — the 3-base
  * [[StreamingIvmComposeN]] instance `(L ⋈ O) ⋈ C` with many-to-one
  * stages (the fact→dim snowflake shape): the maintained per-group
  * (n, s) equals the full three-way recompute over surviving rows
  * after every micro-batch — L-only, O-only, C-only and mixed batches
  * including BOTH stage cross terms (a reprice whose order dies in the
  * same batch; an upstream delta landing on a dim row moved in the
  * same batch) — the maintained intermediate multiset tracks the
  * recomputed L⋈O, redelivery is idempotent, restart recovers from the
  * committed families, and CDC violations fail loudly before anything
  * commits. */
@org.scalatest.tags.Slow
class StreamingIvmWarehouseViewSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.GraftSession.local("4", "stream-ivm7")
  import spark.implicits._

  // tagged change rows: (side, op, lk, ok, ck, price, g) — L rows carry
  // (lk, ok, price), O rows (ok, ck), C rows (ck, g)
  private type Chg = (String, String, Option[Long], Option[Long],
    Option[Long], Option[Double], Option[String])
  private def l(op: String, lk: Long, ok: Long, price: Double): Chg =
    ("L", op, Some(lk), Some(ok), None, Some(price), None)
  private def o(op: String, ok: Long, ck: Long): Chg =
    ("O", op, None, Some(ok), Some(ck), None, None)
  private def c(op: String, ck: Long, g: String): Chg =
    ("C", op, None, None, Some(ck), None, Some(g))

  private val bases = Seq(
    BaseSpec("L", Seq("lk", "ok", "price"), "lk"),
    BaseSpec("O", Seq("ok", "ck"), "ok"),
    BaseSpec("C", Seq("ck", "g"), "ck"))
  private val stages = Seq(Seq("ok"), Seq("ck"))

  private val batches: Seq[Seq[Chg]] = Seq(
    // 0: seed all three bases
    Seq(l("I", 1L, 10L, 10.0), l("I", 2L, 10L, 7.0), l("I", 3L, 20L, 3.0),
      o("I", 10L, 100L), o("I", 20L, 200L),
      c("I", 100L, "a"), c("I", 200L, "b")),
    // 1: L-only — delete a line, insert another under the other order
    Seq(l("D", 2L, 10L, 7.0), l("I", 4L, 20L, 2.0)),
    // 2: O-only — re-point order 20 from customer 200 to 100 (D+I)
    Seq(o("D", 20L, 200L), o("I", 20L, 100L)),
    // 3: C-only — move customer 100 from group a to c (D+I)
    Seq(c("D", 100L, "a"), c("I", 100L, "c")),
    // 4: all three sides at once, both cross terms load-bearing:
    //    reprice l3 AND move its customer (stage-2 ΔR⋈ΔS), reprice l1
    //    AND delete its order (stage-1 ΔL⋈ΔO — l1's two legs plus the
    //    order delete cancel down to one net delete)
    Seq(l("D", 1L, 10L, 10.0), l("I", 1L, 10L, 11.0), o("D", 10L, 100L),
      l("D", 3L, 20L, 3.0), l("I", 3L, 20L, 3.5),
      c("D", 100L, "c"), c("I", 100L, "d")))

  private def surviving(n: Int): (Seq[(Long, Long, Double)],
      Seq[(Long, Long)], Seq[(Long, String)]) = {
    val ll = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
    val oo = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val cc = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    batches.take(n + 1).flatten.foreach {
      case ("L", "I", Some(lk), Some(ok), _, Some(p), _) => ll += ((lk, ok, p))
      case ("L", "D", Some(lk), Some(ok), _, Some(p), _) =>
        val i = ll.indexOf((lk, ok, p)); require(i >= 0); ll.remove(i)
      case ("O", "I", _, Some(ok), Some(ck), _, _) => oo += ((ok, ck))
      case ("O", "D", _, Some(ok), Some(ck), _, _) =>
        val i = oo.indexOf((ok, ck)); require(i >= 0); oo.remove(i)
      case ("C", "I", _, _, Some(ck), _, Some(g)) => cc += ((ck, g))
      case ("C", "D", _, _, Some(ck), _, Some(g)) =>
        val i = cc.indexOf((ck, g)); require(i >= 0); cc.remove(i)
      case other => fail(s"bad change $other")
    }
    (ll.toSeq, oo.toSeq, cc.toSeq)
  }

  private def recompute(n: Int): Seq[(String, Long, Double)] = {
    val (ll, oo, cc) = surviving(n)
    collect(ll.toDF("lk", "ok", "price")
      .join(oo.toDF("ok", "ck"), Seq("ok"))
      .join(cc.toDF("ck", "g"), Seq("ck"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("price"))).cast("decimal(28,4)").as("s")))
  }

  private def collect(df: DataFrame): Seq[(String, Long, Double)] =
    df.select(col("g"), col("n"), col("s").cast("double"))
      .collect().map(x => (x.getString(0), x.getLong(1), x.getDouble(2)))
      .sortBy(_._1).toSeq

  private def chgDf(b: Seq[Chg]): DataFrame =
    b.toDF("side", "op", "lk", "ok", "ck", "price", "g")

  private def apply(b: Seq[Chg], id: Long, dir: String): Long =
    StreamingIvmComposeN.applyBatch(chgDf(b), id, "side", "op", bases,
      stages, Seq("g"), "price", dir)

  private def view(dir: String): Seq[(String, Long, Double)] =
    collect(StreamingIvmComposeN.readView(spark, dir, bases))

  test("maintained ≡ full three-way recompute after every batch — per-side and cross-term batches") {
    val dir = java.nio.file.Files.createTempDirectory("ivm7").toString
    val got = scala.collection.mutable.Map[Long, Seq[(String, Long, Double)]]()
    val input = MemoryStream[Chg](spark)
    val q = StreamingIvmComposeN.applyStream(
        input.toDF().toDF("side", "op", "lk", "ok", "ck", "price", "g"),
        "side", "op", bases, stages, Seq("g"), "price", dir,
        (id, _) => got(id) = view(dir))
      .start()
    try batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    (0 to 4).foreach(i => assert(got(i) == recompute(i), s"batch $i"))
    // the final state: customer 100 (group d) holds l3 repriced + l4;
    // group c emptied out and disappeared
    assert(got(4) == Seq(("d", 2L, 5.5)))
    // the maintained intermediate tracks the recomputed L⋈O, projected
    // to what stage 2 consumes, with counted multiplicity
    val (ll, oo, _) = surviving(4)
    val wantLo = ll.toDF("lk", "ok", "price").join(oo.toDF("ok", "ck"), Seq("ok"))
      .groupBy(col("ck"), col("price")).agg(count(lit(1)).as("__mult"))
      .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    val gotLo = StreamingIvmComposeN.readInter(spark, dir, bases, 1)
      .select(col("ck"), col("price"), col("__mult"))
      .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    assert(gotLo.nonEmpty && gotLo == wantLo)
  }

  test("redelivered batch folds to identical state") {
    val dir = java.nio.file.Files.createTempDirectory("ivm7-redeliver").toString
    batches.take(4).zipWithIndex.foreach { case (b, i) => apply(b, i.toLong, dir) }
    apply(batches(4), 4L, dir)
    val before = view(dir)
    apply(batches(4), 4L, dir) // the crash-replay: same id, same rows
    assert(view(dir) == before)
    assert(before == recompute(4))
  }

  test("maintained store survives stop + restart from checkpoint (AvailableNow file source)") {
    import org.apache.spark.sql.streaming.Trigger
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val src = tmp("ivm7-src"); val ck = tmp("ivm7-ck"); val dir = tmp("ivm7-durable")
    def writeDelta(rows: Seq[Chg]): Unit =
      chgDf(rows).coalesce(1).write.mode("append").parquet(src)
    def run(): Unit = {
      // one delta file per micro-batch: coalescing two files would fuse
      // their CDC ops on one key into an invalid single batch (the
      // per-batch discipline allows at most one D+I pair per key)
      val in = spark.readStream.schema(
        "side STRING, op STRING, lk BIGINT, ok BIGINT, ck BIGINT, price DOUBLE, g STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
      val q = StreamingIvmComposeN.applyStream(in, "side", "op", bases,
          stages, Seq("g"), "price", dir)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ck)
        .start()
      q.awaitTermination()
    }
    writeDelta(batches(0)); run()
    assert(view(dir) == recompute(0))
    writeDelta(batches(1)); writeDelta(batches(2)); run()
    assert(view(dir) == recompute(2))
    writeDelta(batches(3)); writeDelta(batches(4)); run()
    assert(view(dir) == recompute(4))
    run()
    assert(view(dir) == recompute(4))
  }

  test("malformed deltas fail loudly BEFORE anything commits — per side") {
    val dir = java.nio.file.Files.createTempDirectory("ivm7-bad").toString
    val e0 = intercept[IllegalArgumentException](apply(
      Seq(("X", "I", Some(1L), Some(1L), None, Some(1.0), None)), 0L, dir))
    assert(e0.getMessage.contains("side"))
    assert(!StreamingIvmComposeN.hasCommitted(spark, dir, bases))
    apply(batches(0), 0L, dir)
    val e1 = intercept[IllegalArgumentException](apply(
      Seq(l("D", 99L, 10L, 10.0)), 1L, dir))
    assert(e1.getMessage.contains("(L side)"))
    val e2 = intercept[IllegalArgumentException](apply(
      Seq(o("I", 10L, 300L)), 1L, dir)) // live order key
    assert(e2.getMessage.contains("(O side)"))
    val e3 = intercept[IllegalArgumentException](apply(
      Seq(c("D", 100L, "zzz")), 1L, dir)) // delete image disagrees
    assert(e3.getMessage.contains("(C side)"))
    assert(view(dir) == recompute(0))
  }
}
