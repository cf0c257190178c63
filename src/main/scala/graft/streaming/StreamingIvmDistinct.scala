package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.operators.IvmDistinct

/** Streaming IVM for COUNT(DISTINCT value) — the `ivm3` fold under a
  * CDC stream: the maintained per-group distinct count absorbs each
  * micro-batch through [[IvmDistinct.fold]]'s pair-granular
  * discipline — the value DICTIONARY and the rows store are each
  * scanned once per batch through broadcast semi-joins on the delta's
  * own pairs, and the counts view folds invertibly (new − removed).
  *
  * Storage is THREE [[BucketStore]] families under `<dir>` — `rows`
  * (surviving rows, bucketed by the group hash), `dict` (surviving
  * distinct pairs, bucketed by the PAIR hash) and `agg` (the counts
  * view, bucketed by the group hash). Round 15: all three write
  * through the store's manifest-linked PARTITIONED UPSERT — the fold
  * already split affected from untouched buckets for its reads; the
  * write now follows the same split, so bytes written per batch are
  * ∝ |delta|, never ∝ |store| (the documented "test-scale
  * simplification" full rewrite is gone). Commit = all three family
  * markers, recompute-from-latest-committed on redelivery — the
  * family's exactly-once discipline without a WAL, unchanged.
  *
  * Both store reads the fold makes stay pruned by batch-bounded driver
  * lists (the audited-collect discipline): the rows store to the
  * DELETE rows' group buckets (read back from the bytes just written,
  * through the new batch's own manifest — an insert-only batch reads
  * ZERO rows files), and the dict to the delta's own pair buckets
  * ([[IvmDistinct.fold]]'s pruned-store contract).
  *
  * Contract (StreamingIvmDistinctSpec): after batch N commits,
  * [[readCounts]] equals `SELECT g…, COUNT(DISTINCT v)` over every
  * surviving delivered row (null values ignored per SQL);
  * fully-deleted groups disappear; the CDC key discipline (delete
  * images must match, live-key inserts refused — exactly, via the
  * store's pk index — op ∈ {I, D}) fails the batch loudly BEFORE
  * anything commits.
  */
object StreamingIvmDistinct {

  private def view(dir: String) = BucketStore.View(dir, Seq("rows", "dict", "agg"))

  /** Fold ONE static change batch (keyCol, groupCols…, opCol,
    * valueCol) into the maintained store as micro-batch `batchId`;
    * returns the group count of the touched slice after the fold (-1
    * for an empty batch). */
  def applyBatch(
      batch: DataFrame, batchId: Long, keyCol: String,
      groupCols: Seq[String], opCol: String, valueCol: String,
      dir: String,
      storeBuckets: Int = StreamingIvmMinMax.StoreBuckets): Long = {
    val spark = batch.sparkSession
    Seq("__g_bucket", "__k_bucket", "__op").foreach(c =>
      require(!batch.columns.contains(c),
        s"change batch already contains reserved column '$c'"))
    // the counts view upserts by group bucket: fold only the slice the
    // delta's groups live in; untouched groups stay linked
    val touchedAgg = BucketStore.guardBatch(batch,
        Seq(opCol -> Seq("I", "D")), groupCols, storeBuckets)(
        s"change batch $batchId has rows with op outside {I, D} (or NULL) " +
          s"in '$opCol' — refusing to fold a malformed delta into the view") match {
      case Some(bs) => bs
      case None => return -1L
    }

    view(dir).fold(spark, batchId) { prevId =>
      val dataCols = batch.columns.filterNot(_ == opCol).toSeq
      val delta = batch.select(dataCols.map(col) :+ col(opCol).as("__op"): _*)

      // CDC validation (delete images, pk collisions via the key index,
      // duplicate inserts) — eagerly, before any write
      val prepared = BucketStore.prepareCdcUpsert(delta, dataCols,
        Seq(keyCol), groupCols, dir, "rows", batchId, prevId, storeBuckets,
        "rows")
      BucketStore.writePrepared(spark, dir, batchId, prevId, prepared)

      // the surviving-pair check reads the rows just WRITTEN (the new
      // batch's own manifest), pruned to the delete rows' group buckets
      val delBuckets = BucketStore.bucketsOf(
        batch.filter(col(opCol) === "D"), groupCols, storeBuckets)
      val rowsTemplate = batch.filter(lit(false))
        .select(dataCols.map(col): _*)
      val rowsForFold = BucketStore.readBuckets(spark, dir, "rows",
          Some(batchId), delBuckets, rowsTemplate)
        .select(dataCols.map(col): _*)

      // dict pruning: membership only matters for the delta's own pairs,
      // so the fold reads ONLY their hash-bucket partitions — and the
      // write now replaces ONLY those partitions
      val pairCols = groupCols :+ valueCol
      val deltaBuckets = BucketStore.bucketsOf(batch, pairCols, storeBuckets)
      val dictTemplate = batch.filter(lit(false))
        .select(pairCols.map(col): _*)
      val dictSlice = BucketStore.readBuckets(spark, dir, "dict", prevId,
          deltaBuckets, dictTemplate)
        .select(pairCols.map(col): _*)

      val aggTemplate = batch.filter(lit(false))
        .select(groupCols.map(col) :+ lit(0L).as("n_distinct"): _*)
      val prevAggSlice = BucketStore.readBuckets(spark, dir, "agg", prevId,
          touchedAgg, aggTemplate)
        .select((groupCols :+ "n_distinct").map(col): _*)

      val (counts, dictAffected) = IvmDistinct.fold(
        Some((prevAggSlice, dictSlice)),
        batch.select((groupCols.map(col) :+ col(opCol)) :+ col(valueCol): _*),
        rowsForFold.select((groupCols.map(col) :+ col(valueCol)): _*),
        groupCols, opCol, valueCol)

      // dict first (counts derive from it), then the view; commit is the
      // triple's intersection either way
      BucketStore.upsert(spark, dir, "dict", batchId, prevId,
        dictAffected.withColumn("__g_bucket",
          BucketStore.bucketize(pairCols, storeBuckets)),
        deltaBuckets)
      // observed on the write — delta-proportional
      BucketStore.upsert(spark, dir, "agg", batchId, prevId,
        counts.withColumn("__g_bucket",
          BucketStore.bucketize(groupCols, storeBuckets)),
        touchedAgg)
    }
  }

  /** Wire the per-batch fold onto a STREAMING change frame; `onBatch`
    * observes (batchId, groupCount). Call `.start()`. */
  def applyStream(
      changes: DataFrame, keyCol: String, groupCols: Seq[String],
      opCol: String, valueCol: String, dir: String,
      onBatch: (Long, Long) => Unit = (_, _) => ()): DataStreamWriter[Row] =
    BucketStore.View.stream(changes, onBatch)(
      applyBatch(_, _, keyCol, groupCols, opCol, valueCol, dir))

  def hasCommitted(spark: SparkSession, dir: String): Boolean =
    view(dir).hasCommitted(spark)

  /** Collapse the manifests' link fan-out by rewriting every live
    * bucket of every family into one batch directory — see
    * [[BucketStore.compactAll]]; run between folds at a fresh id. */
  def compact(spark: SparkSession, dir: String, batchId: Long): Unit =
    view(dir).compact(spark, batchId)

  /** The maintained view as of the latest committed batch:
    * (groupCols…, n_distinct). */
  def readCounts(spark: SparkSession, dir: String): DataFrame =
    view(dir).read(spark, "agg", "distinct-count view")

  /** The value dictionary as of the latest committed batch (the
    * bucket key stays internal). */
  def readDict(spark: SparkSession, dir: String): DataFrame =
    view(dir).read(spark, "dict", "dictionary")
}
