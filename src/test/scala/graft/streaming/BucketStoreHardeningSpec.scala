package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-16 hardening of the manifest-linked upsert store:
  *
  *  - a REDELIVERED batch's first write drops the stale `_SUCCESS`
  *    marker before rewriting anything, so a crash mid-rewrite reads
  *    as uncommitted and recovery falls back to the previous committed
  *    id (the r15 layout rewrote under a live marker);
  *  - GC retains every committed id at or above the fold's own — an
  *    out-of-band compaction committed above the stream's current id
  *    survives the next fold's keep-two window;
  *  - IN-FOLD AUTO-COMPACTION: when a write would leave more than
  *    `maxLinks` distinct pointed batch directories, the fold absorbs
  *    the untouched live buckets into its own batch dir — the link
  *    fan-out (and with it a full read's scan-union width) stays
  *    bounded across arbitrarily many folds, with identical reads;
  *  - a family whose every row has been legitimately deleted reads as
  *    an EMPTY frame (schema spoken by the first write's stub), not a
  *    refusal — only never-written families raise.
  */
@org.scalatest.tags.Slow
class BucketStoreHardeningSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.GraftSession.local("4", "bucket-hardening")
  import spark.implicits._

  private def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString

  private def rowsDf(rows: Seq[(Long, Long)], storeBuckets: Int) =
    rows.toDF("k", "v").withColumn("__g_bucket",
      BucketStore.bucketize(Seq("k"), storeBuckets))

  /** Upsert `rows` into the single-family store "f" as one committed
    * fold `id`; `beforeCommit` runs after the write, before the marker. */
  private def fold(dir: String, id: Long, rows: Seq[(Long, Long)], sb: Int,
      maxLinks: Int = BucketStore.DefaultMaxLinks)(
      beforeCommit: => Unit = ()): Seq[Int] =
    BucketStore.View(dir, Seq("f")).fold(spark, id) { prev =>
      val touched = BucketStore.bucketsOf(rows.toDF("k", "v"), Seq("k"), sb)
      BucketStore.upsert(spark, dir, "f", id, prev, rowsDf(rows, sb),
        touched, maxLinks)
      beforeCommit
      touched
    }

  private def ls(p: String): Seq[String] = {
    val f = new java.io.File(p)
    if (!f.exists) Nil else f.listFiles().map(_.getName).toSeq.sorted
  }

  test("redelivered batch's first write drops the stale marker; recovery falls back until re-commit") {
    val dir = tmp("bs-redeliver")
    val sb = 16
    val b0 = Seq((1L, 10L), (2L, 20L))
    fold(dir, 0L, b0, sb)()
    val b1 = Seq((1L, 11L))
    fold(dir, 1L, b1, sb)()
    assert(BucketStore.committedIn(spark, dir, "f") == Set(0L, 1L))
    // crash AFTER commit, foreachBatch redelivers id 1: its first
    // write must de-commit the id before rewriting — a crash between
    // the write and the re-commit reads batch 0 as latest committed
    fold(dir, 1L, b1, sb) {
      assert(BucketStore.committedIn(spark, dir, "f") == Set(0L),
        "stale marker must be gone until the redelivered batch re-commits")
      val atPrev = BucketStore.readAllNonEmpty(spark, dir, "f", 0L)
        .select("k", "v").as[(Long, Long)].collect().toSet
      assert(atPrev == b0.toSet)
    }
    // the redelivery completes: identical state, marker restored
    assert(BucketStore.committedIn(spark, dir, "f") == Set(0L, 1L))
    val after = BucketStore.readAllNonEmpty(spark, dir, "f", 1L)
      .select("k", "v").as[(Long, Long)].collect().toSet
    assert(after == Set((1L, 11L), (2L, 20L)))
  }

  test("gc keeps committed ids above keepIds.max (out-of-band compaction survives a lower fold's keep-two window)") {
    val dir = tmp("bs-gc-high")
    val sb = 16
    fold(dir, 0L, Seq((1L, 10L)), sb)()
    fold(dir, 1L, Seq((2L, 20L)), sb)()
    BucketStore.compactAll(spark, dir, Seq("f"), 5L)
    assert(ls(s"$dir/f").contains("batch=5"))
    // a fold at a LOWER id (the stream's checkpoint counter) GCs with
    // its own keep-two window (1, 2) — the committed compaction at 5
    // must survive it
    fold(dir, 2L, Seq((3L, 30L)), sb)()
    assert(ls(s"$dir/f").contains("batch=5"),
      "gc deleted a committed id above keepIds.max")
    val at5 = BucketStore.readAllNonEmpty(spark, dir, "f", 5L)
      .select("k", "v").as[(Long, Long)].collect().toSet
    assert(at5 == Set((1L, 10L), (2L, 20L)))
    // ...and compacting BELOW an existing committed id refuses loudly
    val e = intercept[IllegalArgumentException](
      BucketStore.compactAll(spark, dir, Seq("f"), 3L))
    assert(e.getMessage.contains("below an already-committed"))
  }

  test("in-fold auto-compaction bounds the manifest link fan-out across 40 folds; reads identical throughout") {
    val dir = tmp("bs-autocompact")
    val sb = 64
    val maxLinks = 8
    // model the store per BUCKET: an upsert's rows are the POST-state
    // of the touched buckets, so a hash-collision fold REPLACES that
    // bucket's prior content
    val byBucket = scala.collection.mutable.Map[Int, Set[(Long, Long)]]()
    var maxFan = 0
    var maxDirs = 0
    (0 until 40).foreach { i =>
      // each fold touches one (hash-assigned) bucket — without
      // absorption the fan-out (and a full read's scan-union width)
      // would grow with the fold count
      val rows = Seq((i.toLong, i.toLong))
      val id = i.toLong
      val touched = fold(dir, id, rows, sb, maxLinks)()
      byBucket(touched.head) = rows.toSet
      val expected = byBucket.values.flatten.toSet
      val fan = BucketStore.readManifest(spark, dir, "f", Some(id))
        .values.toSet.size
      maxFan = math.max(maxFan, fan)
      maxDirs = math.max(maxDirs,
        ls(s"$dir/f").count(_.startsWith("batch=")))
      val got = BucketStore.readAllNonEmpty(spark, dir, "f", id)
        .select("k", "v").as[(Long, Long)].collect().toSet
      assert(got == expected, s"fold $i")
    }
    assert(maxFan <= maxLinks, s"fan-out reached $maxFan > $maxLinks")
    assert(maxFan >= 2, "absorption fired so early the bound was never exercised")
    // GC keeps only what the last two manifests reach — bounded dirs
    assert(maxDirs <= 2 * maxLinks + 2, s"live batch dirs reached $maxDirs")
  }

  test("a committed family whose every row was deleted reads as an empty frame; never-written still raises") {
    val dir = tmp("ivm-all-deleted") + "/agg"
    import org.apache.spark.sql.DataFrame
    def fold(id: Long, rows: Seq[(String, String, Double)]): Long =
      StreamingIvm.applyBatch(rows.toDF("g", "op", "v"), id,
        Seq("g"), "op", "v", dir)
    fold(0L, Seq(("a", "I", 1.0), ("a", "I", 2.0)))
    fold(1L, Seq(("a", "D", 1.0), ("a", "D", 2.0)))
    val agg: DataFrame = StreamingIvm.readAgg(spark, dir)
    assert(agg.count() == 0L)
    assert(Seq("g", "n", "s").forall(agg.columns.contains), agg.columns.toSeq)
    // a later insert folds normally against the empty state
    fold(2L, Seq(("b", "I", 5.0)))
    val back = StreamingIvm.readAgg(spark, dir)
      .select(col("g"), col("n")).as[(String, Long)].collect().toSeq
    assert(back == Seq(("b", 1L)))
    // never-written: still a loud refusal
    intercept[IllegalArgumentException](
      StreamingIvm.readAgg(spark, tmp("ivm-never") + "/agg"))
  }
}
