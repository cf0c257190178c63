package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import StreamingIvmComposeN.BaseSpec

/** The round-15 write-side contract: a micro-batch writes ONLY the
  * buckets its delta touched (plus a bucket→batch manifest per
  * family), so bytes written per batch are delta-proportional — the
  * r14 full five-family rewrite is gone. Pinned at the FILESYSTEM
  * level on the stores of the 3-base [[StreamingIvmComposeN]] chain
  * `(L ⋈ O) ⋈ C`: an L-only batch leaves no data directory at all in
  * the untouched families (manifest + marker only), untouched buckets
  * stay linked to the batch directory that last wrote them, and GC
  * never deletes a directory a live manifest still references (the
  * view parity across StreamingIvmWarehouseViewSpec's batches already
  * proves the linked reads are correct). */
@org.scalatest.tags.Slow
class BucketStoreUpsertSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.GraftSession.local("4", "bucket-upsert")
  import spark.implicits._

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
  private val families = Seq("rows_L", "rows_O", "inter_1", "rows_C", "agg")

  private def apply(rows: Seq[Chg], id: Long, dir: String): Long =
    StreamingIvmComposeN.applyBatch(
      rows.toDF("side", "op", "lk", "ok", "ck", "price", "g"), id,
      "side", "op", bases, Seq(Seq("ok"), Seq("ck")), Seq("g"), "price", dir)

  private def readView(dir: String): DataFrame =
    StreamingIvmComposeN.readView(spark, dir, bases)

  private def seed(dir: String): Unit = apply(
    Seq(l("I", 1, 10, 10.0), l("I", 2, 10, 7.0), l("I", 3, 20, 3.0),
      o("I", 10, 100), o("I", 20, 200),
      c("I", 100, "a"), c("I", 200, "b")), 0L, dir)

  private def ls(p: String): Seq[String] = {
    val f = new java.io.File(p)
    if (!f.exists) Nil else f.listFiles().map(_.getName).toSeq.sorted
  }

  test("an L-only batch writes NO data for untouched families — manifest + marker only") {
    val dir = java.nio.file.Files.createTempDirectory("upsert-lonly").toString
    seed(dir)
    apply(Seq(l("D", 2, 10, 7.0), l("I", 4, 20, 2.0)), 1L, dir)
    // untouched families: rows_O and rows_C carry no delta — their
    // batch=1 directory is a manifest (+ keys manifest) and the marker
    Seq("rows_O", "rows_C").foreach { fam =>
      val entries = ls(s"$dir/$fam/batch=1")
      assert(entries.contains("manifest") && entries.contains("_SUCCESS"),
        s"$fam: $entries")
      assert(!entries.contains("data") && !entries.contains("keys"),
        s"$fam wrote data for an L-only batch: $entries")
    }
    // ...and their manifests still point every bucket at batch 0
    val m = BucketStore.readManifest(spark, dir, "rows_C", Some(1L))
    assert(m.nonEmpty && m.values.forall(_ == 0L), m.toString)
    // touched families DID write, but only their touched buckets: the
    // 2-row L delta lands in at most 2 join-key buckets (vs 3 seeded
    // L rows across 2 orders)
    val lData = ls(s"$dir/rows_L/batch=1/data").filter(_.startsWith("__g_bucket="))
    assert(lData.nonEmpty && lData.size <= 2, lData.toString)
    // the view still answers from the linked state: l1 under order 10
    // (group a), l3 + the new l4 under order 20 (group b)
    val view = readView(dir)
      .select("g", "n").as[(String, Long)].collect().sortBy(_._1)
    assert(view.toSeq == Seq(("a", 1L), ("b", 2L)), view.toSeq.toString)
  }

  test("untouched buckets survive GC while a live manifest references them; unreferenced batch dirs are deleted") {
    val dir = java.nio.file.Files.createTempDirectory("upsert-gc").toString
    seed(dir)
    // three C-only batches: rows_L/rows_O data stays linked to batch 0
    apply(Seq(c("D", 100, "a"), c("I", 100, "x")), 1L, dir)
    apply(Seq(c("D", 100, "x"), c("I", 100, "y")), 2L, dir)
    apply(Seq(c("D", 100, "y"), c("I", 100, "z")), 3L, dir)
    // batch 0's rows_L data directory is still referenced (its buckets
    // were never rewritten) — GC must have kept it
    assert(ls(s"$dir/rows_L/batch=0").contains("data"))
    val m3 = BucketStore.readManifest(spark, dir, "rows_L", Some(3L))
    assert(m3.values.toSet == Set(0L), m3.toString)
    // intermediate C-only batch dirs that nothing references anymore
    // (batch 1's rows_C buckets were rewritten by 2 and 3, and GC keeps
    // only the last two committed manifests' references) are gone
    assert(ls(s"$dir/rows_C").forall(n => n != "batch=1"),
      ls(s"$dir/rows_C").toString)
    // the view answers through the linked stores
    val view = readView(dir)
      .select("g", "n").as[(String, Long)].collect().sortBy(_._1).toSeq
    assert(view == Seq(("b", 1L), ("z", 2L)), view.toString)
  }

  test("compaction collapses the link fan-out; reads identical; folds continue; redelivery idempotent (r15)") {
    val dir = java.nio.file.Files.createTempDirectory("upsert-compact").toString
    seed(dir)
    apply(Seq(c("D", 100, "a"), c("I", 100, "x")), 1L, dir)
    apply(Seq(l("D", 2, 10, 7.0)), 2L, dir)
    // rows_L's manifest now points into at least two batch dirs
    val spread = BucketStore.readManifest(spark, dir, "rows_L", Some(2L))
      .values.toSet
    assert(spread.size >= 2, spread.toString)
    val before = readView(dir)
      .select("g", "n").as[(String, Long)].collect().sortBy(_._1).toSeq
    StreamingIvmComposeN.compact(spark, dir, bases, 3L)
    // every family's manifest now points at the compacted dir only
    families.foreach { fam =>
      val m = BucketStore.readManifest(spark, dir, fam, Some(3L))
      assert(m.nonEmpty && m.values.toSet == Set(3L), s"$fam: $m")
    }
    assert(readView(dir)
      .select("g", "n").as[(String, Long)].collect().sortBy(_._1).toSeq
      == before)
    // crash-replay of the compaction: same id, identical state
    StreamingIvmComposeN.compact(spark, dir, bases, 3L)
    assert(readView(dir)
      .select("g", "n").as[(String, Long)].collect().sortBy(_._1).toSeq
      == before)
    // a later fold runs against the compacted state, and ITS GC drops
    // the pre-compaction dirs nothing references anymore
    apply(Seq(l("I", 4, 20, 2.0)), 4L, dir)
    assert(ls(s"$dir/rows_L").forall(n => n != "batch=0"),
      ls(s"$dir/rows_L").toString)
    val after = readView(dir)
      .select("g", "n").as[(String, Long)].collect().sortBy(_._1).toSeq
    assert(after == Seq(("b", 2L), ("x", 1L)), after.toString)
  }

  test("a failed batch leaves no marker and the next fold GCs its debris") {
    val dir = java.nio.file.Files.createTempDirectory("upsert-fail").toString
    seed(dir)
    intercept[IllegalArgumentException](
      apply(Seq(l("D", 99, 10, 1.0)), 1L, dir)) // unknown delete image
    // nothing committed at id 1; the view still reads batch 0
    assert(BucketStore.committedAll(spark, dir, families) == Seq(0L))
    // a successful batch then folds normally and cleans up
    apply(Seq(l("I", 4, 20, 2.0)), 1L, dir)
    val view = readView(dir)
      .select("g", "n").as[(String, Long)].collect().sortBy(_._1).toSeq
    assert(view == Seq(("a", 2L), ("b", 2L)), view.toString)
  }
}
