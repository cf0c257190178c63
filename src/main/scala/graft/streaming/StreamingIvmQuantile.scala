package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.operators.IvmQuantile

/** Streaming QUANTILE-view IVM — the `ivm5` fold under a CDC stream:
  * exact PERCENTILE_CONT maintained continuously by folding each
  * micro-batch into the per-(group, value-bucket) COUNTS — a purely
  * INVERTIBLE merge ([[IvmQuantile.foldCounts]]), so unlike the
  * min/max and distinct faces the fold NEVER reads any store, no
  * matter what the delta deletes.
  *
  * Storage is TWO [[BucketStore]] families under `<dir>`: `rows`
  * (surviving rows, bucketed by the VALUE bucket — the read path's
  * pruning key; null values land bucket -1) and `counts` (bucketed by
  * the group hash). Round 15: both write through the store's
  * manifest-linked PARTITIONED UPSERT — a batch writes only the value
  * buckets / group buckets its delta touched plus a pointer manifest
  * per family, so bytes written per batch are ∝ |delta|, never
  * ∝ |store|. Commit = both family markers,
  * recompute-from-latest-committed on redelivery — the usual
  * exactly-once discipline, unchanged.
  *
  * [[readPercentiles]] answers any `ps` from the latest snapshot: the
  * counts name each rank's candidate bucket(s), their `__qb` ids are
  * collected (≤ buckets ints) and the rows read prunes to exactly
  * those value buckets' files (manifest-resolved) — ≈ n/`buckets` rows
  * per requested rank touched, the rest of the store never opened.
  * Domain params (lo, hi, buckets) are the view's identity — pass the
  * creation-time values to every call (a mismatch re-buckets history
  * and the counts invariant breaks loudly at the next fold's
  * negative-count guard).
  *
  * Contract (StreamingIvmQuantileSpec): after batch N commits,
  * readPercentiles ≡ the sort-based PERCENTILE_CONT recompute over
  * every surviving delivered row, bit-for-bit, across checkpoint
  * stop/restart; malformed deltas fail the batch loudly BEFORE
  * anything commits.
  */
object StreamingIvmQuantile {

  private def view(dir: String) = BucketStore.View(dir, Seq("rows", "counts"))

  /** Fold ONE static change batch (keyCol, groupCols…, opCol,
    * valueCol) into the maintained store as micro-batch `batchId`;
    * returns the count-row total of the touched slice after the fold
    * (-1 empty batch). */
  def applyBatch(
      batch: DataFrame, batchId: Long, keyCol: String,
      groupCols: Seq[String], opCol: String, valueCol: String,
      dir: String, lo: Double, hi: Double, buckets: Int,
      storeBuckets: Int = BucketStore.StoreBuckets): Long = {
    val spark = batch.sparkSession
    Seq("__qb", "__g_bucket", "__k_bucket", "__op").foreach(c =>
      require(!batch.columns.contains(c),
        s"change batch already contains reserved column '$c'"))
    // the counts view upserts by group bucket: the invertible fold
    // needs only the delta's groups' slice; untouched groups link
    val touchedCounts = BucketStore.guardBatch(batch,
        Seq(opCol -> Seq("I", "D")), groupCols, storeBuckets)(
        s"change batch $batchId has rows with op outside {I, D} (or NULL) " +
          s"in '$opCol' — refusing to fold a malformed delta into the view") match {
      case Some(bs) => bs
      case None => return -1L
    }

    view(dir).fold(spark, batchId) { prevId =>
      val dataCols = batch.columns.filterNot(_ == opCol).toSeq
      val delta = batch.select(dataCols.map(col) :+ col(opCol).as("__op"): _*)

      // rows keyed by the VALUE bucket — the read path's pruning key;
      // null values land bucket -1 (SQL percentile ignores them, but the
      // store keeps the full row set). A pure function of the row's own
      // columns, so delete images determine their bucket and the slice
      // validation stays exact.
      val qb = when(col(valueCol).isNull, lit(-1L))
        .otherwise(IvmQuantile.bucketIdOf(col(valueCol), lo, hi, buckets))
      val prepared = BucketStore.prepareCdcUpsert(delta, dataCols,
        Seq(keyCol), qb, dir, "rows", batchId, prevId, storeBuckets, "rows")
      BucketStore.writePrepared(spark, dir, batchId, prevId, prepared)

      val countsTemplate = batch.filter(lit(false))
        .select(groupCols.map(col) :+ lit(0L).as("__qb") :+
          lit(0L).as("cnt"): _*)
      val prevCountsSlice = BucketStore.readBuckets(spark, dir, "counts",
          prevId, touchedCounts, countsTemplate)
        .select((groupCols :+ "__qb" :+ "cnt").map(col): _*)
      val counts = IvmQuantile.foldCounts(Some(prevCountsSlice),
        batch.select((groupCols.map(col) :+ col(opCol)) :+ col(valueCol): _*),
        groupCols, opCol, valueCol, lo, hi, buckets)
      // observed on the write — delta-proportional
      BucketStore.upsert(spark, dir, "counts", batchId, prevId,
        counts.withColumn("__g_bucket",
          BucketStore.bucketize(groupCols, storeBuckets)),
        touchedCounts)
    }
  }

  /** Wire the per-batch fold onto a STREAMING change frame; `onBatch`
    * observes (batchId, countRows). Call `.start()`. */
  def applyStream(
      changes: DataFrame, keyCol: String, groupCols: Seq[String],
      opCol: String, valueCol: String, dir: String,
      lo: Double, hi: Double, buckets: Int,
      onBatch: (Long, Long) => Unit = (_, _) => ()): DataStreamWriter[Row] =
    BucketStore.View.stream(changes, onBatch)(
      applyBatch(_, _, keyCol, groupCols, opCol, valueCol, dir, lo, hi, buckets))

  def hasCommitted(spark: SparkSession, dir: String): Boolean =
    view(dir).hasCommitted(spark)

  /** Collapse the manifests' link fan-out by rewriting every live
    * bucket of every family into one batch directory — see
    * [[BucketStore.compactAll]]; run between folds at a fresh id. */
  def compact(spark: SparkSession, dir: String, batchId: Long): Unit =
    view(dir).compact(spark, batchId)

  /** Exact PERCENTILE_CONT at `ps` per group, as of the latest
    * committed batch — rows read PRUNED to the candidate value
    * buckets' files through the manifest. */
  def readPercentiles(
      spark: SparkSession, dir: String,
      groupCols: Seq[String], valueCol: String, ps: Seq[Double],
      lo: Double, hi: Double, buckets: Int): DataFrame = {
    val latest = view(dir).latest(spark, "quantile view")
    val counts = BucketStore.readAllNonEmpty(spark, dir, "counts", latest)
      .drop("__g_bucket")
    val candQb = IvmQuantile.candidates(counts, groupCols, ps)
      .select(col("__qb")).distinct()
      .collect().map(_.getLong(0).toInt).toSeq // ≤ buckets ids — bounded
    // every candidate bucket holds at least one counted value by
    // construction, so the manifest must resolve it to real files —
    // a miss means the caller's (lo, hi, buckets) disagree with the
    // creation-time values and re-bucketed the candidates; refuse with
    // the domain-param mismatch NAMED instead of letting the
    // template-schema fallback fail on an unrelated missing column
    // (r16, the ADVICE diagnosability item)
    val rowsManifest = BucketStore.readManifest(spark, dir, "rows",
      Some(latest))
    val unresolved = candQb.filterNot(rowsManifest.contains)
    require(unresolved.isEmpty,
      s"candidate value buckets ${unresolved.sorted.mkString(",")} resolve " +
        "to no stored rows — (lo, hi, buckets) must be the view's " +
        "creation-time values (a mismatch re-buckets history)")
    val rows = BucketStore.readBuckets(spark, dir, "rows", Some(latest),
        candQb, counts)
      .select((groupCols :+ valueCol).map(col): _*)
    IvmQuantile.percentileCont(counts, rows, groupCols, valueCol, ps,
      lo, hi, buckets)
  }
}
