package graft.operators

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Exact.dec

/** The batch-proportional read laws, audited by corruption instead of
  * timed: every data file of the standing state is overwritten with a
  * few non-parquet bytes, so any read of it throws, and an increment
  * that still succeeds provably never read that state. Each law is
  * paired with an increment that must read the state and so must fail
  * over the same corrupted files — the audit's power.
  *
  * The stub is not zero bytes on purpose: Spark plans no split for a
  * zero-length file, so a scan listed after the truncation skips it
  * silently, and a zero-byte audit would only catch reads planned
  * before it.
  *
  *  - `IvmFold.foldMinMax`: a merge-only delta (no delete touches a
  *    stored extremum) leaves the broadcast of affected groups empty,
  *    and AQE propagates the empty relation through the re-agg leg's
  *    semi-join, so `rowsAfter` is never scanned. An extremum-breaking
  *    delta re-aggregates from `rowsAfter` and must read it.
  *  - `ShuffleShard.appendShards`: the manifest screens and places the
  *    batch; prior payload parquet is never read. Rebuilding the
  *    manifest reads the payload and must fail.
  */
class IncrementalReadAuditSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.GraftSession.local("4", "incremental-read-audit")

  private def dataFiles(dir: String): Seq[Path] = {
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(java.nio.file.Paths.get(dir))
    try walk.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
    finally walk.close()
  }

  private def corrupt(files: Seq[Path]): Unit = {
    assert(files.nonEmpty, "no parquet files to corrupt")
    files.foreach(Files.write(_, "graft".getBytes))
  }

  /** `body` fails, and for the audited reason: it read a corrupted file. */
  private def readsCorruptFile(body: => Any): Unit = {
    val e = intercept[Exception](body)
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage))
    assert(messages.exists(_.contains("is not a Parquet file")), e)
  }

  private def agg(rows: DataFrame): DataFrame =
    rows.groupBy(col("g")).agg(count(lit(1)).as("n"), sum(dec(col("v"))).as("s"),
      min(col("v")).as("mn"), max(col("v")).as("mx"))

  private def sorted(view: DataFrame): Seq[String] =
    view.select(col("g"), col("n"), col("s").cast("double"), col("mn"), col("mx"))
      .collect().map(_.mkString("|")).toSeq.sorted

  test("IvmFold: a merge-only fold never reads rowsAfter; an extremum-breaking one must") {
    val groups = 8L
    val n = 96L
    val root = Files.createTempDirectory("ivm-read-audit").toString
    // rows: id ∈ [0, n), g = id % groups, v = id — group g's extremes
    // are ids g and n - groups + g
    def byId(lo: Long, hi: Long) = spark.range(lo, hi).toDF("id")
      .select(col("id"), (col("id") % groups).as("g"), col("id").cast("double").as("v"))
    byId(0L, n).write.parquet(s"$root/rows")
    agg(spark.read.parquet(s"$root/rows")).write.parquet(s"$root/agg")
    val stored = spark.read.parquet(s"$root/agg")
    val rows = spark.read.parquet(s"$root/rows")
    def survivors(lo: Long, hi: Long) =
      rows.filter(col("id") < lo || col("id") >= hi).select(col("g"), col("v"))
    // deltas never read the store: they are built from ids alone
    def op(lo: Long, hi: Long, o: String) =
      byId(lo, hi).select(col("g"), lit(o).as("op"), col("v"))

    // merge-only: delete mid-range ids (never an extremum) and insert
    // values above every stored max (least/greatest extends exactly)
    val mergeDelta = op(40L, 48L, "D").unionByName(op(n, n + groups, "I"))
    val mergeAfter = survivors(40L, 48L)
      .unionByName(byId(n, n + groups).select(col("g"), col("v")))
    val mergeWant = sorted(agg(mergeAfter))
    // extremum-breaking: delete the max row of groups 0 and 1
    val breakDelta = op(n - groups, n - groups + 2, "D")
    val breakAfter = survivors(n - groups, n - groups + 2)
    def fold(delta: DataFrame, after: DataFrame) =
      IvmFold.foldMinMax(Some(stored), delta, after, Seq("g"), "op", "v")
    // control: over the intact store both folds equal the recompute
    assert(sorted(fold(mergeDelta, mergeAfter)) == mergeWant)
    assert(sorted(fold(breakDelta, breakAfter)) == sorted(agg(breakAfter)))

    corrupt(dataFiles(s"$root/rows"))
    assert(sorted(fold(mergeDelta, mergeAfter)) == mergeWant,
      "the merge-only fold changed once the rows store was unreadable")
    readsCorruptFile(fold(breakDelta, breakAfter).collect())
  }

  test("appendShards: appending onto an export whose prior payload is unreadable still succeeds") {
    import spark.implicits._
    val dir = Files.createTempDirectory("shards-read-audit").toString + "/out"
    val a = (1L to 40L).map(i => (i, s"p$i")).toDF("id", "text")
    val b = (41L to 60L).map(i => (i, s"p$i")).toDF("id", "text")
    assert(ShuffleShard.appendShards(a, "id", 4, seed = 5, dir) == 40L)
    corrupt(dataFiles(dir).filter(_.toString.contains("shard=")))
    assert(ShuffleShard.appendShards(b, "id", 4, seed = 5, dir) == 20L)
    // power: the payload-reading repair path fails on the same files
    readsCorruptFile(ShardManifest.rebuild(spark, dir, "id"))
  }
}
