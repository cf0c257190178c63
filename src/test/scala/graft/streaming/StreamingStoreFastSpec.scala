package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import StreamingIvmComposeN.BaseSpec

/** Default-gate cases for the `@Slow` StreamingIvmTopKSpec,
  * BucketStoreUpsertSpec, BucketStoreHardeningSpec and
  * StreamingIvmComposeNSpec: one small case each, so a change to the
  * top-k fold, the upsert store or the composed chain's commit protocol
  * is exercised without `SPARK_GRAFT_TEST_FULL`. The full suites stay
  * as they are. */
class StreamingStoreFastSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.GraftSession.local("4", "store-fast")
  import spark.implicits._

  private def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString

  private def ls(p: String): Seq[String] = {
    val f = new java.io.File(p)
    if (!f.exists) Nil else f.listFiles().map(_.getName).toSeq.sorted
  }

  private val K = 2

  // (group, op, key): batch 1 takes both of a's key-1 occurrences, so
  // key 3 — untouched by the delta, outside the old top-2 — must rise
  // in; batch 2 empties group b and opens c
  private val batches = Seq(
    Seq(("a", "I", 1L), ("a", "I", 1L), ("a", "I", 1L), ("a", "I", 2L),
      ("a", "I", 2L), ("a", "I", 3L), ("b", "I", 7L), ("b", "I", 8L)),
    Seq(("a", "D", 1L), ("a", "D", 1L), ("a", "D", 1L), ("a", "I", 4L)),
    Seq(("b", "D", 7L), ("b", "D", 8L), ("c", "I", 9L)))

  private def recompute(n: Int): Seq[(String, Long, Long, Int)] = {
    val rows = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    batches.take(n + 1).flatten.foreach {
      case (g, "I", k) => rows += ((g, k))
      case (g, _, k) => rows.remove(rows.indexOf((g, k)))
    }
    val w = Window.partitionBy(col("g")).orderBy(col("cnt").desc, col("ck"))
    topk(rows.toSeq.toDF("g", "ck")
      .groupBy(col("g"), col("ck")).agg(count(lit(1)).as("cnt"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= K))
  }

  private def topk(df: DataFrame): Seq[(String, Long, Long, Int)] =
    df.select(col("g"), col("ck"), col("cnt"), col("rnk")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4)).toSeq

  private def fold(rows: Seq[(String, String, Long)], id: Long, dir: String): Long =
    StreamingIvmTopK.applyBatch(rows.toDF("g", "op", "ck"), id,
      Seq("g"), "op", "ck", K, dir, storeBuckets = 4)

  test("top-k fold ≡ recompute over 3 batches — deletes honored, an outsider rises in") {
    val dir = tmp("fast-topk")
    batches.indices.foreach { i =>
      fold(batches(i), i.toLong, dir)
      assert(topk(StreamingIvmTopK.readTopK(spark, dir)) == recompute(i), s"batch $i")
    }
    assert(recompute(1).contains(("a", 3L, 1L, 2)))
    assert(!recompute(2).exists(_._1 == "b") && recompute(2).exists(_._1 == "c"))
  }

  test("upsert rewrites only the touched buckets and links the untouched ones") {
    val dir = tmp("fast-upsert")
    val sb = 8
    def rows(kv: (Long, Long)*) = kv.toDF("k", "v")
      .withColumn("__g_bucket", BucketStore.bucketize(Seq("k"), sb))
    def bucketOf(k: Long) = rows(k -> 0L).select("__g_bucket").as[Int].head()
    val b0 = (1L to 12L).map(k => k -> k * 10)
    val b0Buckets = b0.map(kv => bucketOf(kv._1)).distinct
    val store = BucketStore.View(dir, Seq("f"))
    store.fold(spark, 0L)(BucketStore.upsert(spark, dir, "f", 0L, _, rows(b0: _*), b0Buckets))
    // batch 1 rewrites key 1's bucket only
    val hot = bucketOf(1L)
    val b1 = b0.filter(kv => bucketOf(kv._1) == hot)
      .map { case (k, v) => if (k == 1L) k -> 11L else k -> v }
    val written = store.fold(spark, 1L)(
      BucketStore.upsert(spark, dir, "f", 1L, _, rows(b1: _*), Seq(hot)))
    assert(written == b1.size.toLong)
    assert(ls(s"$dir/f/batch=1/data").filter(_.startsWith("__g_bucket=")) ==
      Seq(s"__g_bucket=$hot"))
    val m = BucketStore.readManifest(spark, dir, "f", Some(1L))
    assert(m == b0Buckets.map(b => b -> (if (b == hot) 1L else 0L)).toMap)
    val after = BucketStore.readAllNonEmpty(spark, dir, "f", 1L)
      .select("k", "v").as[(Long, Long)].collect().toSet
    assert(after == b0.map { case (k, v) => if (k == 1L) k -> 11L else k -> v }.toSet)
  }

  test("a failed batch leaves no marker and the next fold GCs its debris") {
    val dir = tmp("fast-failed")
    fold(batches(0), 0L, dir)
    // an over-delete is refused inside the fold's write plan
    val e = intercept[Exception](fold(Seq(("b", "D", 7L), ("b", "D", 7L)), 1L, dir))
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString(" <- ")
    assert(chain.contains("never absorbed"), chain)
    Seq("counts", "topk").foreach(f =>
      assert(!ls(s"$dir/$f/batch=1").contains("_SUCCESS"), s"$f: ${ls(s"$dir/$f/batch=1")}"))
    assert(BucketStore.committedAll(spark, dir, Seq("counts", "topk")) == Seq(0L))
    assert(topk(StreamingIvmTopK.readTopK(spark, dir)) == recompute(0))
    // the next valid batch folds from batch 0 and GCs the debris
    fold(batches(1), 2L, dir)
    assert(topk(StreamingIvmTopK.readTopK(spark, dir)) == recompute(1))
    Seq("counts", "topk").foreach(f =>
      assert(!ls(s"$dir/$f").contains("batch=1"), s"$f: ${ls(s"$dir/$f")}"))
  }

  // a 3-base chain A(ak, k1, v) ⋈ B(bk, k1, k2) ⋈ C(ck, k2, g), tagged
  // change rows (side, op, ak, bk, ck, k1, k2, v, g)
  private val chain = Seq(
    BaseSpec("A", Seq("ak", "k1", "v"), "ak"),
    BaseSpec("B", Seq("bk", "k1", "k2"), "bk"),
    BaseSpec("C", Seq("ck", "k2", "g"), "ck"))
  private val chainStages = Seq(Seq("k1"), Seq("k2"))
  private type Chg = (String, String, Option[Long], Option[Long],
    Option[Long], Option[Long], Option[Long], Option[Double], Option[String])
  private def a(op: String, ak: Long, k1: Long, v: Double): Chg =
    ("A", op, Some(ak), None, None, Some(k1), None, Some(v), None)
  private def b(op: String, bk: Long, k1: Long, k2: Long): Chg =
    ("B", op, None, Some(bk), None, Some(k1), Some(k2), None, None)
  private def c(op: String, ck: Long, k2: Long, g: String): Chg =
    ("C", op, None, None, Some(ck), None, Some(k2), None, Some(g))
  private def chainDf(rows: Seq[Chg]): DataFrame =
    rows.toDF("side", "op", "ak", "bk", "ck", "k1", "k2", "v", "g")
  // group x joins a1, a2 (through b1) and a3; group y joins a1, a2
  // (through b2)
  private val chainSeed = Seq(a("I", 1, 1, 10.0), a("I", 2, 1, 7.0),
    a("I", 3, 2, 3.0), b("I", 1, 1, 100), b("I", 2, 1, 200),
    b("I", 3, 2, 100), c("I", 1, 100, "x"), c("I", 2, 200, "y"))

  test("a composed chain's hasCommitted and compact cover the families of the face it maintains") {
    // top-k face (counts, topk): committed after one fold, and a
    // compaction rewrites both view families and reads back identically
    val topkDir = tmp("fast-chain-topk")
    StreamingIvmComposeN.applyBatchTopK(chainDf(chainSeed), 0L, "side", "op",
      chain, chainStages, Seq("g"), "ak", 2, None, topkDir, storeBuckets = 4)
    assert(StreamingIvmComposeN.hasCommitted(spark, topkDir, chain))
    def topkView(): Seq[String] =
      StreamingIvmComposeN.readTopKView(spark, topkDir, chain)
        .collect().map(_.toString).sorted.toSeq
    val before = topkView()
    StreamingIvmComposeN.compact(spark, topkDir, chain, 1L)
    Seq("counts", "topk").foreach(f => assert(
      BucketStore.readManifest(spark, topkDir, f, Some(1L)).values.toSet == Set(1L), f))
    assert(topkView() == before)

    // min/max face (final, agg): the compacted id commits for both, and
    // the next fold — deleting the max of x and of y — continues from it
    val mmDir = tmp("fast-chain-minmax")
    def minMax(rows: Seq[Chg], id: Long): Long =
      StreamingIvmComposeN.applyBatchMinMax(chainDf(rows), id, "side", "op",
        chain, chainStages, Seq("g"), "v", mmDir, storeBuckets = 4)
    def mmView(): Seq[(String, Long, Double, Double, Double)] =
      StreamingIvmComposeN.readMinMaxView(spark, mmDir, chain)
        .select(col("g"), col("n"), col("s").cast("double"), col("mn"), col("mx"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4))).sortBy(_._1).toSeq
    minMax(chainSeed, 0L)
    assert(mmView() == Seq(("x", 3L, 20.0, 3.0, 10.0), ("y", 2L, 17.0, 7.0, 10.0)))
    StreamingIvmComposeN.compact(spark, mmDir, chain, 1L)
    assert(BucketStore.committedAll(spark, mmDir, Seq("final", "agg")) == Seq(0L, 1L))
    minMax(Seq(a("D", 1, 1, 10.0)), 2L)
    assert(mmView() == Seq(("x", 2L, 10.0, 3.0, 7.0), ("y", 1L, 7.0, 7.0, 7.0)))
    // the fold read the compacted batch: its GC kept (1, 2) only
    assert(BucketStore.committedAll(spark, mmDir, Seq("final", "agg")) == Seq(1L, 2L))
  }
}
