package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.operators.IvmTopK

/** Streaming IVM for per-group TOP-K by count — the `ivm6` fold under
  * a CDC stream: each micro-batch of (groupCols…, op, key) occurrence
  * rows folds through [[IvmTopK.fold]], so "who are the top K keys per
  * group right now" is maintained continuously with deletes honored
  * exactly — the piece [[StreamingHeavyHitters]]'s monotone
  * state-store counts deliberately do not cover (its contract is
  * insert-only corpora; this one is full CDC).
  *
  * Storage is TWO [[BucketStore]] families under `<dir>` — `counts`
  * and `topk`, both bucketed by the group hash. Round 15: both write
  * through the store's manifest-linked PARTITIONED UPSERT — the fold
  * already computes the post-state of exactly the batch's group
  * buckets ([[IvmTopK.fold]]'s pruned-store contract); the write now
  * rewrites only those buckets and links the rest, so bytes written
  * per batch are ∝ |delta| + |broken groups' slices|, never ∝ |store|.
  * Commit = both family markers, recompute-from-latest-committed on
  * redelivery — the family's exactly-once discipline without a WAL,
  * unchanged. No rows store exists at all: counts fold invertibly, so
  * the counts snapshot IS the finest truth the view needs —
  * over-deletes are refused by the fold's own count guard, not by a
  * delete-image check.
  *
  * Contract (StreamingIvmTopKSpec): after batch N commits, [[readTopK]]
  * equals the full top-K recompute over every surviving delivered
  * occurrence, bit-for-bit, across checkpoint stop/restart; malformed
  * deltas (bad op, over-deletes) fail the batch loudly BEFORE anything
  * commits.
  */
object StreamingIvmTopK {

  private def view(dir: String) = BucketStore.View(dir, Seq("counts", "topk"))

  /** Fold ONE static change batch (groupCols…, opCol, keyCol
    * [, weightCol]) into the maintained store as micro-batch
    * `batchId`; returns the view's row count over the touched slice
    * after the fold (-1 for an empty batch). `weightCol` switches the
    * maintained measure to the per-key positive-long weight SUM —
    * [[IvmTopK]]'s weighted face (top customers by revenue); delete
    * rows must carry the weight they remove.
    *
    * Per batch the fold runs one guard job over the delta
    * ([[BucketStore.guardBatch]]: emptiness, the op refusal and the
    * delta's group buckets) and then the two upsert writes. The
    * over-delete refusal lives in [[IvmTopK.fold]]'s plan, so it fails
    * the first write before anything commits, and the returned count
    * is observed on the view's own write rather than read back. */
  def applyBatch(
      batch: DataFrame, batchId: Long,
      groupCols: Seq[String], opCol: String, keyCol: String, k: Int,
      dir: String,
      storeBuckets: Int = BucketStore.StoreBuckets,
      weightCol: Option[String] = None): Long = {
    val spark = batch.sparkSession
    Seq("__g_bucket", "__k_bucket").foreach(c =>
      require(!batch.columns.contains(c),
        s"change batch already contains reserved column '$c'"))
    // batch-bounded driver list (≤ storeBuckets ints) naming the only
    // store partitions this fold may touch — the fold's reads AND the
    // upsert's writes share it
    val deltaBuckets = BucketStore.guardBatch(batch,
        Seq(opCol -> Seq("I", "D")), groupCols, storeBuckets)(
        s"change batch $batchId has rows with op outside {I, D} (or NULL) " +
          s"in '$opCol' — refusing to fold a malformed delta into the view") match {
      case Some(bs) => bs
      case None => return -1L
    }

    view(dir).fold(spark, batchId) { prevId =>
      val countsTemplate = batch.filter(lit(false))
        .select(groupCols.map(col) :+ col(keyCol) :+ lit(0L).as("cnt"): _*)
      val topkTemplate = batch.filter(lit(false))
        .select(groupCols.map(col) :+ col(keyCol) :+ lit(0L).as("cnt") :+
          lit(0).as("rnk"): _*)
      val prevState = prevId.map { _ =>
        (BucketStore.readBuckets(spark, dir, "topk", prevId, deltaBuckets,
            topkTemplate).drop("__g_bucket"),
          BucketStore.readBuckets(spark, dir, "counts", prevId, deltaBuckets,
            countsTemplate).drop("__g_bucket"))
      }

      val (topkAff, countsAff) = IvmTopK.fold(prevState,
        batch.select(((groupCols.map(col) :+ col(opCol)) :+ col(keyCol)) ++
          weightCol.map(col): _*),
        groupCols, opCol, keyCol, k, weightCol)

      // counts first (the view derives from them), then the view; commit
      // is the pair's intersection either way
      val bucketize = BucketStore.bucketize(groupCols, storeBuckets)
      BucketStore.upsert(spark, dir, "counts", batchId, prevId,
        countsAff.withColumn("__g_bucket", bucketize), deltaBuckets)
      // the view rows of the touched buckets — delta-proportional
      BucketStore.upsert(spark, dir, "topk", batchId, prevId,
        topkAff.withColumn("__g_bucket", bucketize), deltaBuckets)
    }
  }

  /** Wire the per-batch fold onto a STREAMING change frame; `onBatch`
    * observes (batchId, viewRowCount). Call `.start()`. */
  def applyStream(
      changes: DataFrame, groupCols: Seq[String], opCol: String,
      keyCol: String, k: Int, dir: String,
      onBatch: (Long, Long) => Unit = (_, _) => (),
      weightCol: Option[String] = None): DataStreamWriter[Row] =
    BucketStore.View.stream(changes, onBatch)(
      applyBatch(_, _, groupCols, opCol, keyCol, k, dir, weightCol = weightCol))

  def hasCommitted(spark: SparkSession, dir: String): Boolean =
    view(dir).hasCommitted(spark)

  /** Collapse the manifests' link fan-out by rewriting every live
    * bucket of every family into one batch directory — see
    * [[BucketStore.compactAll]]; run between folds at a fresh id. */
  def compact(spark: SparkSession, dir: String, batchId: Long): Unit =
    view(dir).compact(spark, batchId)

  /** The maintained view as of the latest committed batch:
    * (groupCols…, keyCol, cnt, rnk), the bucket key kept internal. */
  def readTopK(spark: SparkSession, dir: String): DataFrame =
    view(dir).read(spark, "topk", "top-k view")

  /** The maintained counts store as of the latest committed batch. */
  def readCounts(spark: SparkSession, dir: String): DataFrame =
    view(dir).read(spark, "counts", "counts store")
}
