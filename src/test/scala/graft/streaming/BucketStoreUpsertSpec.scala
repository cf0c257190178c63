package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The round-15 write-side contract: a micro-batch writes ONLY the
  * buckets its delta touched (plus a bucket→batch manifest per
  * family), so bytes written per batch are delta-proportional. Pinned
  * at the FILESYSTEM level on the two families of a
  * [[StreamingIvmTopK]] view (`counts` and `topk`): a one-group batch
  * writes that group's bucket in each family and nothing else,
  * untouched buckets stay linked to the batch directory that last
  * wrote them, and GC never deletes a directory a live manifest still
  * references. */
@org.scalatest.tags.Slow
class BucketStoreUpsertSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.GraftSession.local("4", "bucket-upsert")
  import spark.implicits._

  private val K = 2
  private val SB = 8
  private val families = Seq("counts", "topk")
  private val groups = (0 until 8).map(i => s"g$i")

  private type Occ = (String, String, Long) // (group, op, key)

  // every group holds keys 1 (×3), 2 (×2) and 3 (×1)
  private val seedRows: Seq[Occ] = groups.flatMap(g =>
    Seq(1L, 1L, 1L, 2L, 2L, 3L).map(k => (g, "I", k)))

  private def fold(rows: Seq[Occ], id: Long, dir: String): Long =
    StreamingIvmTopK.applyBatch(rows.toDF("g", "op", "k"), id,
      Seq("g"), "op", "k", K, dir, storeBuckets = SB)

  private def view(dir: String): Seq[(String, Long, Long, Int)] =
    StreamingIvmTopK.readTopK(spark, dir)
      .select(col("g"), col("k"), col("cnt"), col("rnk")).as[(String, Long, Long, Int)]
      .collect().sortBy(t => (t._1, t._4)).toSeq

  /** The top-K recompute over every occurrence delivered so far. */
  private def recompute(batches: Seq[Occ]*): Seq[(String, Long, Long, Int)] = {
    val counts = scala.collection.mutable.Map[(String, Long), Long]().withDefaultValue(0L)
    batches.flatten.foreach { case (g, op, k) =>
      counts((g, k)) += (if (op == "I") 1L else -1L)
    }
    counts.filter(_._2 > 0).toSeq.groupBy(_._1._1).toSeq.flatMap { case (g, kc) =>
      kc.map { case ((_, k), c) => (k, c) }.sortBy { case (k, c) => (-c, k) }
        .take(K).zipWithIndex.map { case ((k, c), i) => (g, k, c, i + 1) }
    }.sortBy(t => (t._1, t._4))
  }

  private def bucketOf(g: String): Int =
    Seq(g).toDF("g").select(BucketStore.bucketize(Seq("g"), SB)).as[Int].head()

  private lazy val seeded: Seq[Int] = groups.map(bucketOf).distinct.sorted

  private def ls(p: String): Seq[String] = {
    val f = new java.io.File(p)
    if (!f.exists) Nil else f.listFiles().map(_.getName).toSeq.sorted
  }

  private def dataBuckets(dir: String, family: String, id: Long): Seq[String] =
    ls(s"$dir/$family/batch=$id/data").filter(_.startsWith("__g_bucket="))

  private def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString

  test("a one-group batch writes only its bucket in each family — every other bucket is a manifest link") {
    val dir = tmp("upsert-onegroup")
    fold(seedRows, 0L, dir)
    val hot = bucketOf("g0")
    assert(seeded.size >= 2, seeded.toString)
    val b1 = Seq(("g0", "D", 1L), ("g0", "I", 4L))
    fold(b1, 1L, dir)
    families.foreach { fam =>
      assert(dataBuckets(dir, fam, 1L) == Seq(s"__g_bucket=$hot"), fam)
      // every untouched bucket still points at batch 0
      val m = BucketStore.readManifest(spark, dir, fam, Some(1L))
      assert(m == seeded.map(b => b -> (if (b == hot) 1L else 0L)).toMap, s"$fam: $m")
    }
    assert(view(dir) == recompute(seedRows, b1))
  }

  test("untouched buckets survive GC while a live manifest references them; unreferenced batch dirs are deleted") {
    val dir = tmp("upsert-gc")
    fold(seedRows, 0L, dir)
    val hot = bucketOf("g0")
    // three batches on g0 only: every other bucket stays linked to batch 0
    val bs = Seq(
      Seq(("g0", "I", 3L), ("g0", "I", 3L)),
      Seq(("g0", "D", 2L)),
      Seq(("g0", "I", 5L)))
    bs.zipWithIndex.foreach { case (b, i) => fold(b, i + 1L, dir) }
    families.foreach { fam =>
      // batch 0's data directory is still referenced (its other
      // buckets were never rewritten) — GC must have kept it
      assert(ls(s"$dir/$fam/batch=0").contains("data"), fam)
      val m3 = BucketStore.readManifest(spark, dir, fam, Some(3L))
      assert(m3 == seeded.map(b => b -> (if (b == hot) 3L else 0L)).toMap, s"$fam: $m3")
      // batch 1's hot bucket was rewritten by 2 and 3, and GC keeps
      // only the last two committed manifests' references
      assert(!ls(s"$dir/$fam").contains("batch=1"), s"$fam: ${ls(s"$dir/$fam")}")
    }
    assert(view(dir) == recompute(seedRows +: bs: _*))
  }

  test("compaction collapses the link fan-out; reads identical; folds continue; redelivery idempotent (r15)") {
    val dir = tmp("upsert-compact")
    fold(seedRows, 0L, dir)
    val hot = bucketOf("g0")
    val cold = groups.find(g => bucketOf(g) != hot).get
    val b1 = Seq(("g0", "I", 3L))
    val b2 = Seq((cold, "D", 1L))
    fold(b1, 1L, dir)
    fold(b2, 2L, dir)
    // each family's manifest now points into at least two batch dirs
    families.foreach { fam =>
      val spread = BucketStore.readManifest(spark, dir, fam, Some(2L)).values.toSet
      assert(Set(1L, 2L).subsetOf(spread), s"$fam: $spread")
    }
    val before = view(dir)
    StreamingIvmTopK.compact(spark, dir, 3L)
    // every family's manifest now points at the compacted dir only
    families.foreach { fam =>
      val m = BucketStore.readManifest(spark, dir, fam, Some(3L))
      assert(m.keySet == seeded.toSet && m.values.toSet == Set(3L), s"$fam: $m")
    }
    assert(view(dir) == before)
    // crash-replay of the compaction: same id, identical state
    StreamingIvmTopK.compact(spark, dir, 3L)
    assert(view(dir) == before)
    // a later fold runs against the compacted state, and ITS GC drops
    // the pre-compaction dirs nothing references anymore
    val b4 = Seq(("g0", "I", 6L))
    fold(b4, 4L, dir)
    families.foreach(fam =>
      assert(!ls(s"$dir/$fam").contains("batch=0"), s"$fam: ${ls(s"$dir/$fam")}"))
    assert(view(dir) == recompute(seedRows, b1, b2, b4))
  }

  test("a failed batch leaves no marker and the next fold GCs its debris") {
    val dir = tmp("upsert-fail")
    fold(seedRows, 0L, dir)
    // an over-delete: g0 holds key 3 once
    val e = intercept[Exception](fold(Seq(("g0", "D", 3L), ("g0", "D", 3L)), 1L, dir))
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString(" <- ")
    assert(chain.contains("never absorbed"), chain)
    // nothing committed at id 1; the view still reads batch 0
    assert(BucketStore.committedAll(spark, dir, families) == Seq(0L))
    assert(view(dir) == recompute(seedRows))
    // a successful batch then folds normally at the same id
    val b1 = Seq(("g0", "I", 4L))
    fold(b1, 1L, dir)
    assert(BucketStore.committedAll(spark, dir, families) == Seq(0L, 1L))
    assert(view(dir) == recompute(seedRows, b1))
  }
}
