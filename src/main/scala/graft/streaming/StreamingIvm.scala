package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.core.Exact.dec

/** Streaming incremental view maintenance — the `ivm1` delta fold under
  * a CDC stream: a maintained per-group (count, exact-decimal sum)
  * aggregate absorbs each micro-batch of I/D changes as
  * `stored ⊕ delta`, never re-aggregating the base data. Updates
  * travel as delete+insert pairs (the ivm1/applyCdc convention).
  *
  * Storage is ONE [[BucketStore]] family per view
  * (`<aggDir>/snap/batch=<id>/`, bucketed by the group hash), the
  * shared exactly-once discipline: a batch always recomputes from the
  * latest COMMITTED snapshot with id < its own (`_SUCCESS` = commit),
  * so a redelivered batch reads the same input and overwrites its own
  * snapshot with identical bytes — idempotent at any crash point, no
  * WAL. Older snapshots are GC'd; steady state holds the directories
  * the last two manifests reference. Round 15: the snapshot writes
  * through the store's manifest-linked PARTITIONED UPSERT — only the
  * delta's groups' buckets merge and rewrite; at 100 TB the
  * group-count-sized view is itself big, and the old complete rewrite
  * per batch was its write-side scale wall.
  *
  * Contract (StreamingIvmSpec): after batch N commits, [[readAgg]]
  * equals the full recompute over every surviving row delivered so far,
  * groups whose rows are all deleted disappear, and an op that is
  * neither I nor D (or NULL) fails the batch loudly — the applyCdc
  * discipline; a silent default would corrupt the view forever since
  * nothing downstream ever recomputes it.
  */
object StreamingIvm {

  private def view(aggDir: String) = BucketStore.View(aggDir, Seq("snap"))

  /** Fold ONE static change batch into the maintained aggregate as
    * micro-batch `batchId`; returns the surviving group count of the
    * TOUCHED slice after the fold (delta-sized to compute).
    *
    * Per batch the fold runs one guard job over the delta
    * ([[BucketStore.guardBatch]]: emptiness, the op refusal and the
    * touched buckets) and then the upsert's write. The over-delete
    * refusal is IN the written plan — a `raise_error` on `n` — so it
    * fails the write before the commit and a malformed delta commits
    * nothing; the returned count is observed on that same write, with
    * no job of its own. */
  def applyBatch(
      batch: DataFrame, batchId: Long, groupCols: Seq[String],
      opCol: String, valueCol: String, aggDir: String,
      storeBuckets: Int = BucketStore.StoreBuckets): Long = {
    val spark = batch.sparkSession
    // fail loudly on an op outside {I, D} — including NULL, which
    // filters silently out of BOTH legs of any when() split. Only the
    // delta's groups' buckets are read and merged — untouched groups
    // stay linked through the manifest, unread and unwritten
    val touched = BucketStore.guardBatch(batch, Seq(opCol -> Seq("I", "D")),
        groupCols, storeBuckets)(
        s"change batch $batchId has rows with op outside {I, D} (or NULL) " +
          s"in '$opCol' — refusing to fold a malformed delta into the view") match {
      case Some(bs) => bs
      case None => return -1L // no state change; snapshot ids may skip
    }
    val g = groupCols.map(col)
    val delta = batch.select(
        (g :+ when(col(opCol) === "I", 1L).otherwise(-1L).as("__w")) :+
          (when(col(opCol) === "I", dec(col(valueCol)))
            .otherwise(-dec(col(valueCol)))).as("__p"): _*)
      .groupBy(g: _*)
      .agg(sum(col("__w")).as("__dn"), sum(col("__p")).as("__ds"))
    view(aggDir).fold(spark, batchId) { prevId =>
      val merged = prevId match {
        case None =>
          // coalesce here too: a first-batch group whose valueCol rows are
          // all NULL sums to s = NULL, which slips past the corruption
          // check below (n === 0 && s =!= 0 evaluates to NULL) and makes
          // the maintained state depend on batch boundaries — later
          // merges would coalesce it to 0, the first snapshot would not
          delta.select((g :+ coalesce(col("__dn"), lit(0L)).as("n")) :+
            coalesce(col("__ds"), lit(0)).as("s"): _*)
        case Some(_) =>
          val aggTemplate = batch.filter(lit(false))
            .select(g :+ lit(0L).as("n") :+ lit(0).cast("decimal(28,4)").as("s"): _*)
          val stored = BucketStore.readBuckets(spark, aggDir, "snap", prevId,
              touched, aggTemplate)
            .select((groupCols :+ "n" :+ "s").map(col): _*)
          stored.join(delta, groupCols, "full_outer")
            .select((g :+
              (coalesce(col("n"), lit(0L)) + coalesce(col("__dn"), lit(0L))).as("n")) :+
              (coalesce(col("s"), lit(0)) + coalesce(col("__ds"), lit(0))).as("s"): _*)
      }
      // a delete for rows that were never inserted drives a group's count
      // negative (or zeroes the count while leaving a remainder sum) —
      // fail the batch loudly before it commits; silently dropping the
      // group would corrupt the view forever (nothing downstream ever
      // recomputes it), the same discipline as the op check above. The
      // raise sits in a CASE branch of `n` itself, so no filter above it
      // can be simplified past the check (the IvmTopK.fold shape)
      val survivors = merged
        .withColumn("n", when(col("n") < 0 || (col("n") === 0 && col("s") =!= 0),
          raise_error(lit(s"change batch $batchId deletes rows the view never " +
            "absorbed (negative count or zero count with a remainder sum) — " +
            "refusing to fold an inconsistent delta into the view")))
          .otherwise(col("n")))
        .filter(col("n") > 0)
      BucketStore.upsert(spark, aggDir, "snap", batchId, prevId,
        survivors.withColumn("__g_bucket",
          BucketStore.bucketize(groupCols, storeBuckets)),
        touched)
    }
  }

  /** Wire the per-batch fold onto a STREAMING change frame; `onBatch`
    * observes (batchId, groupCount). Call `.start()`. */
  def applyStream(
      changes: DataFrame, groupCols: Seq[String], opCol: String,
      valueCol: String, aggDir: String,
      onBatch: (Long, Long) => Unit = (_, _) => ()): DataStreamWriter[Row] =
    BucketStore.View.stream(changes, onBatch)(
      applyBatch(_, _, groupCols, opCol, valueCol, aggDir))

  def hasCommitted(spark: SparkSession, aggDir: String): Boolean =
    view(aggDir).hasCommitted(spark)

  /** Collapse the manifest's link fan-out by rewriting every live
    * bucket into one batch directory — see
    * [[BucketStore.compactAll]]; run between folds at a fresh id. */
  def compact(spark: SparkSession, aggDir: String, batchId: Long): Unit =
    view(aggDir).compact(spark, batchId)

  /** The maintained aggregate as of the latest committed batch:
    * (groupCols…, n, s) with s the exact decimal sum. */
  def readAgg(spark: SparkSession, aggDir: String): DataFrame =
    view(aggDir).read(spark, "snap", "aggregate")
}
