package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Exact.dec
import StreamingIvmComposeN.BaseSpec

/** N-way composed IVM with general multiplicities: the maintained
  * view over A ⋈ B ⋈ C equals the full chain recompute after every
  * micro-batch even when a stage is MANY-TO-MANY, the intermediate
  * multiset store equals the recomputed prefix join's projected
  * multiset, redelivery is idempotent, a 4-way chain restarts from
  * checkpoint, and CDC violations fail loudly before anything commits.
  * The 2- and 3-base many-to-one instances are pinned by
  * StreamingIvmJoinViewSpec and StreamingIvmWarehouseViewSpec. */
@org.scalatest.tags.Slow
class StreamingIvmComposeNSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.GraftSession.local("4", "stream-ivmN")
  import spark.implicits._

  // ---- 3-way chain with a many-to-many stage 0 ----------------------
  // A(ak, k1, v) ⋈ B(bk, k1, k2) on k1 — several A rows meet several B
  // rows per k1 — then ⋈ C(ck, k2, g) on k2; view = γ(g; n, Σv)
  private val bases = Seq(
    BaseSpec("A", Seq("ak", "k1", "v"), "ak"),
    BaseSpec("B", Seq("bk", "k1", "k2"), "bk"),
    BaseSpec("C", Seq("ck", "k2", "g"), "ck"))
  private val stages = Seq(Seq("k1"), Seq("k2"))

  private type Chg = (String, String, Option[Long], Option[Long],
    Option[Long], Option[Long], Option[Long], Option[Double], Option[String])
  private def a(op: String, ak: Long, k1: Long, v: Double): Chg =
    ("A", op, Some(ak), None, None, Some(k1), None, Some(v), None)
  private def b(op: String, bk: Long, k1: Long, k2: Long): Chg =
    ("B", op, None, Some(bk), None, Some(k1), Some(k2), None, None)
  private def c(op: String, ck: Long, k2: Long, g: String): Chg =
    ("C", op, None, None, Some(ck), None, Some(k2), None, Some(g))

  private val batches: Seq[Seq[Chg]] = Seq(
    // 0: seed — k1=1 carries TWO A rows and TWO B rows (many-to-many)
    Seq(a("I", 1, 1, 10.0), a("I", 2, 1, 7.0), a("I", 3, 2, 3.0),
      b("I", 1, 1, 100), b("I", 2, 1, 200), b("I", 3, 2, 100),
      c("I", 1, 100, "x"), c("I", 2, 200, "y")),
    // 1: A-only — delete one fan-out row, insert another
    Seq(a("D", 2, 1, 7.0), a("I", 4, 2, 2.0)),
    // 2: B-only — re-point b2 from k2=200 to 300 (D+I; 300 has no C yet)
    Seq(b("D", 2, 1, 200), b("I", 4, 1, 300)),
    // 3: C-only — move c1 from group x to z (D+I)
    Seq(c("D", 1, 100, "x"), c("I", 1, 100, "z")),
    // 4: all three sides, cross terms load-bearing: reprice a1, delete
    //    b1 (they meet on k1=1 in the SAME batch), give k2=300 a C row,
    //    and add a5 DUPLICATING a3's payload through a distinct pair —
    //    the intermediate ends with (k2=100, v=3.0) at multiplicity 2
    Seq(a("D", 1, 1, 10.0), a("I", 1, 1, 11.0), b("D", 1, 1, 100),
      c("I", 3, 300, "w"), a("I", 5, 2, 3.0)))

  private def surviving(n: Int): (Seq[(Long, Long, Double)],
      Seq[(Long, Long, Long)], Seq[(Long, Long, String)]) = {
    val aa = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
    val bb = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    val cc = scala.collection.mutable.ArrayBuffer[(Long, Long, String)]()
    batches.take(n + 1).flatten.foreach {
      case ("A", "I", Some(ak), _, _, Some(k1), _, Some(v), _) =>
        aa += ((ak, k1, v))
      case ("A", "D", Some(ak), _, _, Some(k1), _, Some(v), _) =>
        val i = aa.indexOf((ak, k1, v)); require(i >= 0); aa.remove(i)
      case ("B", "I", _, Some(bk), _, Some(k1), Some(k2), _, _) =>
        bb += ((bk, k1, k2))
      case ("B", "D", _, Some(bk), _, Some(k1), Some(k2), _, _) =>
        val i = bb.indexOf((bk, k1, k2)); require(i >= 0); bb.remove(i)
      case ("C", "I", _, _, Some(ck), _, Some(k2), _, Some(g)) =>
        cc += ((ck, k2, g))
      case ("C", "D", _, _, Some(ck), _, Some(k2), _, Some(g)) =>
        val i = cc.indexOf((ck, k2, g)); require(i >= 0); cc.remove(i)
      case other => fail(s"bad change $other")
    }
    (aa.toSeq, bb.toSeq, cc.toSeq)
  }

  private def joined(n: Int): DataFrame = {
    val (aa, bb, cc) = surviving(n)
    aa.toDF("ak", "k1", "v")
      .join(bb.toDF("bk", "k1", "k2"), Seq("k1"))
      .join(cc.toDF("ck", "k2", "g"), Seq("k2"))
  }

  private def recompute(n: Int): Seq[(String, Long, Double)] =
    collect(joined(n).groupBy(col("g"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("v"))).cast("decimal(28,4)").as("s")))

  private def collect(df: DataFrame): Seq[(String, Long, Double)] =
    df.select(col("g"), col("n"), col("s").cast("double"))
      .collect().map(x => (x.getString(0), x.getLong(1), x.getDouble(2)))
      .sortBy(_._1).toSeq

  private def chgDf(rows: Seq[Chg]): DataFrame =
    rows.toDF("side", "op", "ak", "bk", "ck", "k1", "k2", "v", "g")

  private def apply(rows: Seq[Chg], id: Long, dir: String): Long =
    StreamingIvmComposeN.applyBatch(chgDf(rows), id, "side", "op",
      bases, stages, Seq("g"), "v", dir)

  test("many-to-many chain: maintained ≡ recompute after every batch; multiset intermediate tracks the projected prefix join") {
    val dir = java.nio.file.Files.createTempDirectory("ivmN").toString
    val got = scala.collection.mutable.Map[Long, Seq[(String, Long, Double)]]()
    val input = MemoryStream[Chg](spark)
    val q = StreamingIvmComposeN.applyStream(
        input.toDF().toDF("side", "op", "ak", "bk", "ck", "k1", "k2", "v", "g"),
        "side", "op", bases, stages, Seq("g"), "v", dir,
        (id, _) => got(id) =
          collect(StreamingIvmComposeN.readView(spark, dir, bases)))
      .start()
    try batches.foreach { rows => input.addData(rows: _*); q.processAllAvailable() }
    finally q.stop()
    (0 to 4).foreach(i => assert(got(i) == recompute(i), s"batch $i"))
    // the intermediate multiset equals the recomputed A⋈B projected to
    // (k2, v) with counted multiplicity — the many-to-many evidence:
    // distinct (ak, bk) pairs sharing a payload carry __mult > 1
    val (aa, bb, _) = surviving(4)
    val wantI = aa.toDF("ak", "k1", "v")
      .join(bb.toDF("bk", "k1", "k2"), Seq("k1"))
      .groupBy(col("k2"), col("v")).agg(count(lit(1)).as("__mult"))
      .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    val gotI = StreamingIvmComposeN.readInter(spark, dir, bases, 1)
      .select(col("k2"), col("v"), col("__mult"))
      .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    assert(gotI == wantI)
    // and the chain genuinely exercised a many-to-many stage: the
    // FINAL intermediate still carries a row with multiplicity > 1
    // (k1=2: a3 and a4 both meet b3) — the shape a pk-keyed
    // intermediate could not hold
    assert(gotI.exists(_.last.asInstanceOf[Long] > 1L), gotI.toString)
  }

  test("redelivered batch folds to identical state") {
    val dir = java.nio.file.Files.createTempDirectory("ivmN-redeliver").toString
    batches.zipWithIndex.foreach { case (rows, i) => apply(rows, i.toLong, dir) }
    val before = collect(StreamingIvmComposeN.readView(spark, dir, bases))
    apply(batches(4), 4L, dir) // crash-replay: same id, same rows
    assert(collect(StreamingIvmComposeN.readView(spark, dir, bases)) == before)
    assert(before == recompute(4))
  }

  test("CDC violations fail loudly before anything commits") {
    val dir = java.nio.file.Files.createTempDirectory("ivmN-bad").toString
    val e0 = intercept[IllegalArgumentException](apply(
      Seq(("Z", "I", Some(1L), None, None, Some(1L), None, Some(1.0), None)),
      0L, dir))
    assert(e0.getMessage.contains("side"))
    assert(!StreamingIvmComposeN.hasCommitted(spark, dir, bases))
    apply(batches(0), 0L, dir)
    val e1 = intercept[IllegalArgumentException](apply(
      Seq(a("D", 99, 1, 1.0)), 1L, dir)) // unknown delete image
    assert(e1.getMessage.contains("(A side)"))
    val e2 = intercept[IllegalArgumentException](apply(
      Seq(b("I", 1, 9, 9)), 1L, dir)) // live pk, different payload/bucket
    assert(e2.getMessage.contains("(B side)"))
    assert(collect(StreamingIvmComposeN.readView(spark, dir, bases))
      == recompute(0))
  }

  // ---- composed TOP-K face (round 16): a NON-invertible aggregate
  // at the top of the weighted chain — maintained top-2 `ak` per
  // group g by derivation count over the same many-to-many 3-way
  // chain, streamed with checkpoint restart, plus redelivery --------
  private def topkCollect(df: DataFrame): Seq[(String, Long, Long, Int)] =
    df.select(col("g"), col("ak"), col("cnt"), col("rnk"))
      .collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getInt(3)))
      .sortBy(t => (t._1, t._4)).toSeq

  private def topkRecompute(n: Int): Seq[(String, Long, Long, Int)] = {
    val counts = joined(n).groupBy(col("g"), col("ak"))
      .agg(count(lit(1)).as("cnt"))
    topkCollect(graft.operators.IvmTopK.viewOf(counts, Seq("g"), "ak", 2))
  }

  test("composed TOP-K view streams ≡ recompute across checkpoint restart; counts store invertible; redelivery idempotent") {
    import org.apache.spark.sql.streaming.Trigger
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val src = tmp("ivmN-tk-src"); val ck = tmp("ivmN-tk-ck")
    val dir = tmp("ivmN-tk")
    def writeDelta(rows: Seq[Chg]): Unit =
      chgDf(rows).coalesce(1).write.mode("append").parquet(src)
    def run(): Unit = {
      val in = spark.readStream.schema(
        "side STRING, op STRING, ak BIGINT, bk BIGINT, ck BIGINT, " +
          "k1 BIGINT, k2 BIGINT, v DOUBLE, g STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
      val q = StreamingIvmComposeN.applyStreamTopK(in, "side", "op",
          bases, stages, Seq("g"), "ak", 2, None, dir)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ck)
        .start()
      q.awaitTermination()
    }
    writeDelta(batches(0)); run()
    assert(topkCollect(StreamingIvmComposeN.readTopKView(spark, dir, bases))
      == topkRecompute(0))
    batches.drop(1).foreach(writeDelta); run() // restart from checkpoint
    assert(topkCollect(StreamingIvmComposeN.readTopKView(spark, dir, bases))
      == topkRecompute(4))
    // the counts store is the invertibly-folded truth: it equals the
    // recomputed per-(g, ak) derivation counts exactly
    val wantCounts = joined(4).groupBy(col("g"), col("ak"))
      .agg(count(lit(1)).as("cnt"))
      .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    val gotCounts = StreamingIvmComposeN.readCountsStore(spark, dir, bases)
      .select(col("g"), col("ak"), col("cnt"))
      .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    assert(gotCounts == wantCounts)
    // crash-replay the last micro-batch id statically: identical state
    StreamingIvmComposeN.applyBatchTopK(chgDf(batches(4)), 4L, "side",
      "op", bases, stages, Seq("g"), "ak", 2, None, dir)
    assert(topkCollect(StreamingIvmComposeN.readTopKView(spark, dir, bases))
      == topkRecompute(4))
  }

  // ---- composed MIN/MAX + DISTINCT faces (round 16) -----------------

  test("composed MIN/MAX face: maintained ≡ recompute after every batch; broken extrema re-agg from the maintained final multiset; redelivery idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("ivmN-mm").toString
    def view(): Seq[Seq[Any]] =
      StreamingIvmComposeN.readMinMaxView(spark, dir, bases)
        .select(col("g"), col("n"), col("s").cast("double").as("s"),
          col("mn"), col("mx"))
        .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    def want(n: Int): Seq[Seq[Any]] =
      joined(n).groupBy(col("g"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("v"))).cast("decimal(28,4)").cast("double").as("s"),
          min(col("v")).as("mn"), max(col("v")).as("mx"))
        .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    batches.zipWithIndex.foreach { case (rows, i) =>
      StreamingIvmComposeN.applyBatchMinMax(chgDf(rows), i.toLong, "side",
        "op", bases, stages, Seq("g"), "v", dir)
      assert(view() == want(i), s"batch $i")
    }
    // crash-replay the last id: identical state
    StreamingIvmComposeN.applyBatchMinMax(chgDf(batches(4)), 4L, "side",
      "op", bases, stages, Seq("g"), "v", dir)
    assert(view() == want(4))
  }

  test("composed DISTINCT face: maintained ≡ COUNT(DISTINCT) recompute after every batch; weighted dict is its own truth; redelivery idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("ivmN-dc").toString
    def view(): Seq[(String, Long)] =
      StreamingIvmComposeN.readDistinctView(spark, dir, bases)
        .select(col("g"), col("n_distinct"))
        .collect().map(x => (x.getString(0), x.getLong(1)))
        .sortBy(_._1).toSeq
    def want(n: Int): Seq[(String, Long)] =
      joined(n).groupBy(col("g"))
        .agg(countDistinct(col("v")).as("n_distinct"))
        .collect().map(x => (x.getString(0), x.getLong(1)))
        .sortBy(_._1).toSeq
    batches.zipWithIndex.foreach { case (rows, i) =>
      StreamingIvmComposeN.applyBatchDistinct(chgDf(rows), i.toLong, "side",
        "op", bases, stages, Seq("g"), "v", dir)
      assert(view() == want(i), s"batch $i")
    }
    StreamingIvmComposeN.applyBatchDistinct(chgDf(batches(4)), 4L, "side",
      "op", bases, stages, Seq("g"), "v", dir)
    assert(view() == want(4))
    // the weighted dict equals the recomputed per-(g, v) derivation
    // multiset — the invertibility evidence (no rows store consulted)
    val wantDict = joined(4).groupBy(col("g"), col("v"))
      .agg(count(lit(1)).as("__mult"))
      .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    val snaps = BucketStore.committedAll(spark, dir,
      Seq("wdict", "agg"))
    val gotDict = BucketStore.readAllNonEmpty(spark, dir, "wdict",
        snaps.last)
      .select(col("g"), col("v"), col("__mult"))
      .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    assert(gotDict == wantDict)
  }

  // ---- composed QUANTILE face (round 16): weighted bucket counts +
  // value-bucketed final multiset; rank completes through cumulative
  // weights — exact PERCENTILE_CONT over the chain ------------------
  private val (qLo, qHi, qBuckets) = (0.0, 16.0, 8)
  private val qPs = Seq(0.25, 0.5, 0.9)

  /** The explicit PERCENTILE_CONT formula (qt2 shape) over the
    * recomputed joined derivations — the independent truth. */
  private def quantRecompute(n: Int): Seq[(String, Double, Double)] = {
    import org.apache.spark.sql.expressions.Window
    val rows = joined(n).select(col("g"), col("v"))
    val w = Window.partitionBy(col("g")).orderBy(col("v"))
    rows.withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n",
        count(lit(1)).over(Window.partitionBy(col("g"))).cast("long"))
      .withColumn("p", explode(array(qPs.map(lit): _*)))
      .withColumn("idx", (col("n") - 1).cast("double") * col("p"))
      .withColumn("lo", floor(col("idx")) + 1)
      .withColumn("hi", least(col("lo") + 1, col("n")))
      .filter(col("rn") === col("lo") || col("rn") === col("hi"))
      .groupBy(col("g"), col("p"))
      .agg(max(when(col("rn") === col("lo"), col("v"))).as("vlo"),
        max(when(col("rn") === col("hi"), col("v"))).as("vhi"),
        max(col("idx") - floor(col("idx")).cast("double")).as("frac"))
      .select(col("g"), col("p"),
        (col("vlo") + col("frac") * (col("vhi") - col("vlo"))).as("value"))
      .collect().map(x => (x.getString(0), x.getDouble(1), x.getDouble(2)))
      .sortBy(t => (t._1, t._2)).toSeq
  }

  test("composed QUANTILE face: maintained PERCENTILE_CONT ≡ explicit-formula recompute after every batch (bit-for-bit); redelivery idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("ivmN-q").toString
    def view(): Seq[(String, Double, Double)] =
      StreamingIvmComposeN.readPercentilesView(spark, dir, bases,
          Seq("g"), "v", qPs, qLo, qHi, qBuckets)
        .collect().map(x => (x.getString(0), x.getDouble(1), x.getDouble(2)))
        .sortBy(t => (t._1, t._2)).toSeq
    batches.zipWithIndex.foreach { case (rows, i) =>
      StreamingIvmComposeN.applyBatchQuantile(chgDf(rows), i.toLong, "side",
        "op", bases, stages, Seq("g"), "v", dir, qLo, qHi, qBuckets)
      assert(view() == quantRecompute(i), s"batch $i")
    }
    // the value-bucketed final multiset equals the recomputed (g, v)
    // derivation multiset — including multiplicities > 1
    val wantFinal = joined(4).groupBy(col("g"), col("v"))
      .agg(count(lit(1)).as("__mult"))
      .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    val snaps = BucketStore.committedAll(spark, dir, Seq("counts", "final"))
    val gotFinal = BucketStore.readAllNonEmpty(spark, dir, "final",
        snaps.last)
      .select(col("g"), col("v"), col("__mult"))
      .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    assert(gotFinal == wantFinal)
    // crash-replay the last id: identical answers
    StreamingIvmComposeN.applyBatchQuantile(chgDf(batches(4)), 4L, "side",
      "op", bases, stages, Seq("g"), "v", dir, qLo, qHi, qBuckets)
    assert(view() == quantRecompute(4))
  }

  // ---- 4-way chain (the verdict's #3) with checkpoint restart -------
  private type C4 = (String, String, Option[Long], Option[Long],
    Option[Long], Option[Long], Option[Double], Option[String])
  private def l4(op: String, lk: Long, ok: Long, p: Double): C4 =
    ("L", op, Some(lk), Some(ok), None, None, Some(p), None)
  private def o4(op: String, ok: Long, ck: Long): C4 =
    ("O", op, None, Some(ok), Some(ck), None, None, None)
  private def cu4(op: String, ck: Long, nk: Long): C4 =
    ("CU", op, None, None, Some(ck), Some(nk), None, None)
  private def n4(op: String, nk: Long, r: String): C4 =
    ("N", op, None, None, None, Some(nk), None, Some(r))
  private def df4(rows: Seq[C4]): DataFrame =
    rows.toDF("side", "op", "lk", "ok", "ck", "nk", "price", "region")

  test("4-way chain streams ≡ recompute across checkpoint restart (AvailableNow file source)") {
    import org.apache.spark.sql.streaming.Trigger
    val bases4 = Seq(
      BaseSpec("L", Seq("lk", "ok", "price"), "lk"),
      BaseSpec("O", Seq("ok", "ck"), "ok"),
      BaseSpec("CU", Seq("ck", "nk"), "ck"),
      BaseSpec("N", Seq("nk", "region"), "nk"))
    val stages4 = Seq(Seq("ok"), Seq("ck"), Seq("nk"))
    val b4: Seq[Seq[C4]] = Seq(
      Seq(l4("I", 1, 10, 5.0), l4("I", 2, 10, 3.0), l4("I", 3, 20, 2.0),
        o4("I", 10, 100), o4("I", 20, 200),
        cu4("I", 100, 7), cu4("I", 200, 8),
        n4("I", 7, "east"), n4("I", 8, "west")),
      Seq(l4("D", 2, 10, 3.0), cu4("D", 200, 8), cu4("I", 200, 7)),
      Seq(n4("D", 7, "east"), n4("I", 7, "north"), l4("I", 4, 20, 1.5)))
    def recompute4(n: Int): Seq[(String, Long, Double)] = {
      val all = b4.take(n + 1).flatten
      def live[T](side: String, mk: C4 => T): Seq[T] = {
        val buf = scala.collection.mutable.ArrayBuffer[C4]()
        all.filter(_._1 == side).foreach { r =>
          if (r._2 == "I") buf += r
          else { val i = buf.indexOf(r.copy(_2 = "I"))
            require(i >= 0); buf.remove(i) }
        }
        buf.map(mk).toSeq
      }
      val ll = live("L", r => (r._3.get, r._4.get, r._7.get))
        .toDF("lk", "ok", "price")
      val oo = live("O", r => (r._4.get, r._5.get)).toDF("ok", "ck")
      val cc = live("CU", r => (r._5.get, r._6.get)).toDF("ck", "nk")
      val nn = live("N", r => (r._6.get, r._8.get)).toDF("nk", "region")
      ll.join(oo, Seq("ok")).join(cc, Seq("ck")).join(nn, Seq("nk"))
        .groupBy(col("region"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("price"))).cast("decimal(28,4)").as("s"))
        .select(col("region").as("g"), col("n"), col("s"))
        .select(col("g"), col("n"), col("s").cast("double"))
        .collect().map(x => (x.getString(0), x.getLong(1), x.getDouble(2)))
        .sortBy(_._1).toSeq
    }
    def view4(dir: String): Seq[(String, Long, Double)] =
      StreamingIvmComposeN.readView(spark, dir, bases4)
        .select(col("region").as("g"), col("n"), col("s").cast("double"))
        .collect().map(x => (x.getString(0), x.getLong(1), x.getDouble(2)))
        .sortBy(_._1).toSeq
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val src = tmp("ivmN4-src"); val ck = tmp("ivmN4-ck"); val dir = tmp("ivmN4")
    def writeDelta(rows: Seq[C4]): Unit =
      df4(rows).coalesce(1).write.mode("append").parquet(src)
    def run(): Unit = {
      val in = spark.readStream.schema(
        "side STRING, op STRING, lk BIGINT, ok BIGINT, ck BIGINT, " +
          "nk BIGINT, price DOUBLE, region STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
      val q = StreamingIvmComposeN.applyStream(in, "side", "op", bases4,
          stages4, Seq("region"), "price", dir)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ck)
        .start()
      q.awaitTermination()
    }
    writeDelta(b4(0)); run()
    assert(view4(dir) == recompute4(0))
    writeDelta(b4(1)); writeDelta(b4(2)); run() // restart from checkpoint
    assert(view4(dir) == recompute4(2))
    run() // nothing new — state unchanged
    assert(view4(dir) == recompute4(2))
  }
}
