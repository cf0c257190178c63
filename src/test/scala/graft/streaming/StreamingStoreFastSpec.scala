package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Default-gate cases for the `@Slow` StreamingIvmTopKSpec,
  * BucketStoreUpsertSpec, BucketStoreHardeningSpec and
  * StreamingIvmQuantileSpec: one small case each, so a change to the
  * top-k fold, the upsert store or the CDC key discipline is exercised
  * without `SPARK_GRAFT_TEST_FULL`. The full suites stay as they
  * are. */
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

  // (key, group, op, value) into a quantile view over [0, 100) in 16
  // value buckets
  private val qBatches = Seq(
    Seq((1L, "a", "I", 10.0), (2L, "a", "I", 40.0), (3L, "a", "I", 70.0),
      (4L, "b", "I", 5.0), (5L, "b", "I", 95.0)),
    Seq((2L, "a", "D", 40.0), (6L, "a", "I", 41.5), (7L, "a", "I", 12.5)))
  private val qPs = Seq(0.25, 0.5, 0.9)

  private def quantileFold(rows: Seq[(Long, String, String, Double)], id: Long,
      dir: String): Long =
    StreamingIvmQuantile.applyBatch(rows.toDF("k", "g", "op", "v"), id,
      "k", Seq("g"), "op", "v", dir, 0.0, 100.0, 16)

  private def percentiles(dir: String): Seq[(String, Double, Double)] =
    StreamingIvmQuantile.readPercentiles(spark, dir, Seq("g"), "v", qPs,
        0.0, 100.0, 16)
      .select(col("g"), col("p"), col("value")).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2)).toSeq

  /** Sort-based PERCENTILE_CONT over the rows surviving batches 0..n. */
  private def percentileCont(n: Int): Seq[(String, Double, Double)] = {
    val live = scala.collection.mutable.Map[Long, (String, Double)]()
    qBatches.take(n + 1).flatten.foreach {
      case (k, g, "I", v) => live(k) = (g, v)
      case (k, _, _, _) => live -= k
    }
    live.values.groupBy(_._1).toSeq.flatMap { case (g, rows) =>
      val vs = rows.map(_._2).toSeq.sorted
      qPs.map { p =>
        val idx = (vs.size - 1).toDouble * p
        val lo = math.floor(idx).toInt
        val hi = math.min(lo + 1, vs.size - 1)
        (g, p, vs(lo) + (idx - math.floor(idx)) * (vs(hi) - vs(lo)))
      }
    }.sortBy(t => (t._1, t._2))
  }

  test("quantile fold ≡ PERCENTILE_CONT; each CDC key refusal fails before anything commits") {
    val dir = tmp("fast-quantile")
    qBatches.indices.foreach { i =>
      quantileFold(qBatches(i), i.toLong, dir)
      assert(percentiles(dir) == percentileCont(i), s"batch $i")
    }
    Seq(
      Seq((99L, "a", "D", 10.0)) -> "deletes rows the store never held",
      Seq((1L, "b", "I", 50.0)) -> "inserts a key the store still holds",
      Seq((60L, "a", "I", 1.0), (60L, "a", "I", 2.0)) -> "inserts the same key twice"
    ).foreach { case (bad, refusal) =>
      val e = intercept[IllegalArgumentException](quantileFold(bad, 2L, dir))
      assert(e.getMessage.contains(refusal), e.getMessage)
      assert(BucketStore.committedAll(spark, dir, Seq("rows", "counts")) == Seq(0L, 1L),
        refusal)
    }
    assert(percentiles(dir) == percentileCont(1))
  }
}
