package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.operators.IvmJoin

/** Streaming COMPOSED IVM — the `ivm7` pipeline under a CDC stream
  * that changes ANY of the three bases of `(L ⋈ O) ⋈ C → aggregate`
  * (the canonical warehouse materialized view: a multi-way join
  * feeding a per-group (n, s) rollup — the reference maintains its
  * audit rollups by re-running exactly this query shape;
  * validation_dag.py:178-216 in the reference is counts over
  * dvt_results joined to table sets).
  *
  * The maintenance is COMPOSITION, not a bespoke tri-linear operator:
  * stage 1 emits Δ(L⋈O) through [[IvmJoin.deltaJoin]]'s bilinear
  * expansion; that signed stream is compressed to net multiplicities
  * and (a) applied to the maintained INTERMEDIATE rows store `rows_lo`
  * (the materialized L⋈O — higher-order IVM's classic trick: each
  * additional join consumes the upstream delta as its ΔR, with the
  * maintained intermediate as its R), and (b) re-enters stage 2 as ΔR
  * against `rows_lo` and C, whose output folds into the view through
  * [[IvmJoin.foldAggSigned]].
  *
  * Contract: the stage-1 join must be MANY-TO-ONE (each L row matches
  * at most one O row — the fact→dim snowflake shape), so the
  * intermediate inherits L's primary key and stage-1 deltas net to
  * |multiplicity| ≤ 1 per intermediate row; a violation raises inside
  * the compress step, before anything is written. A many-to-many base
  * pair (no PK on the intermediate) deploys through
  * [[StreamingIvmComposeN]]'s multiset intermediates instead. Input
  * stream: one tagged change frame — `sideCol` ∈ {L, O, C}, `opCol` ∈
  * {I, D}, each side carrying its own payload columns (others null);
  * batches may mix sides freely — the per-stage cross terms make that
  * exact.
  *
  * Storage is FIVE [[BucketStore]] families under `<dir>`:
  * `rows_l`/`rows_o` (bucketed by the stage-1 join key), `rows_lo`/
  * `rows_c` (by the stage-2 key) and `agg` (by the group key). Round
  * 15: every family writes through the store's manifest-linked
  * PARTITIONED UPSERT — a batch writes only the buckets its delta
  * touched (plus a ≤`storeBuckets`-line manifest per family), so bytes
  * written per batch are ∝ |delta|, never ∝ |store| — the r14
  * "test-scale simplification" (full five-family rewrite per commit)
  * is gone; IvmScale measures the write-side proportionality across
  * 10× store growth. Commit = all five family markers,
  * recompute-from-latest-committed on redelivery — the family's
  * exactly-once discipline, unchanged.
  *
  * Per-batch compute is delta-proportional: every deltaJoin leg
  * broadcasts a (compressed) delta; each stored side is consulted only
  * against the OTHER side's delta keys, so its read touches only those
  * buckets' files (manifest-resolved — an L-only batch reads zero
  * rows_c data beyond its own downstream keys, a C-only batch reads
  * zero rows_l/rows_o data at all).
  *
  * Contract (StreamingIvmComposeSpec): after batch N commits,
  * [[readView]] equals the full `(L⋈O)⋈C` aggregate recompute over
  * surviving delivered rows — L-only, O-only, C-only and mixed
  * batches, both stage cross terms included — `rows_lo` equals the
  * recomputed join, restart recovers from the snapshot families, and
  * per-side CDC violations fail loudly before anything commits
  * (every side validates before any side writes; markers write last).
  */
object StreamingIvmCompose {

  private val Families = Seq("rows_l", "rows_o", "rows_lo", "rows_c", "agg")

  private def committed(spark: SparkSession, dir: String): Seq[Long] =
    BucketStore.committedAll(spark, dir, Families)

  /** Fold ONE static tagged change batch into the maintained stores as
    * micro-batch `batchId`. `lCols`/`oCols`/`cCols` name each side's
    * payload columns (stage keys included); `keyColL`/`keyColO`/
    * `keyColC` are the per-side primary keys for the CDC discipline.
    * `joinKeys1` joins L⋈O, `joinKeys2` joins the intermediate to C;
    * `groupCols` (from C) and `valueCol` (from L) shape the view.
    * Returns the view's group count after the fold (-1 for an empty
    * batch). */
  def applyBatch(
      batch: DataFrame, batchId: Long,
      sideCol: String, opCol: String,
      lCols: Seq[String], oCols: Seq[String], cCols: Seq[String],
      keyColL: String, keyColO: String, keyColC: String,
      joinKeys1: Seq[String], joinKeys2: Seq[String],
      groupCols: Seq[String], valueCol: String,
      dir: String,
      storeBuckets: Int = StreamingIvmMinMax.StoreBuckets,
      fullCount: Boolean = false): Long = {
    val spark = batch.sparkSession
    Seq("__g_bucket", "__k_bucket", "__op", "__w", "__net").foreach(c =>
      require(!batch.columns.contains(c),
        s"change batch already contains reserved column '$c'"))
    if (BucketStore.guardBatch(batch,
        Seq(opCol -> Seq("I", "D"), sideCol -> Seq("L", "O", "C")))(
        s"change batch $batchId has rows with op outside {I, D} or side " +
          s"outside {L, O, C} — refusing to fold a malformed delta into the view")
        .isEmpty) return -1L

    // the intermediate join's rows: L's pk (so deletes pair exactly)
    // plus everything stage 2 consumes
    val loCols = (Seq(keyColL) ++ joinKeys2 ++ Seq(valueCol)).distinct
    val prevId = committed(spark, dir).filter(_ < batchId).lastOption
    def template(cols: Seq[String]): DataFrame =
      batch.filter(lit(false)).select(cols.map(col): _*)
    // PRE-delta store reads, pruned to the probing delta's buckets
    // (batch-bounded driver lists) — the fold uses the pre-delta states
    // per the bilinear formula, and the manifest resolves each bucket
    // to the batch directory that last wrote it
    def prevBucketed(family: String, cols: Seq[String], bs: Seq[Int]): DataFrame =
      BucketStore.readBuckets(spark, dir, family, prevId, bs, template(cols))
        .select(cols.map(col): _*)
    def bucketsOf(d: DataFrame, keys: Seq[String]): Seq[Int] =
      BucketStore.bucketsOf(d, keys, storeBuckets)

    val dL = batch.filter(col(sideCol) === "L")
      .select(lCols.map(col) :+ col(opCol).as("__op"): _*)
    val dO = batch.filter(col(sideCol) === "O")
      .select(oCols.map(col) :+ col(opCol).as("__op"): _*)
    val dC = batch.filter(col(sideCol) === "C")
      .select(cCols.map(col) :+ col(opCol).as("__op"): _*)

    // validate EVERY side before anything writes — refusals leave the
    // store exactly as the last committed batch left it
    val pL = BucketStore.prepareCdcUpsert(dL, lCols, Seq(keyColL),
      joinKeys1, dir, "rows_l", batchId, prevId, storeBuckets, "L")
    val pO = BucketStore.prepareCdcUpsert(dO, oCols, Seq(keyColO),
      joinKeys1, dir, "rows_o", batchId, prevId, storeBuckets, "O")
    val pC = BucketStore.prepareCdcUpsert(dC, cCols, Seq(keyColC),
      joinKeys2, dir, "rows_c", batchId, prevId, storeBuckets, "C")

    // ---- stage 1: Δ(L⋈O), bilinear, both store legs delta-pruned ----
    val d1 = IvmJoin.deltaJoin(dL, dO,
      prevBucketed("rows_l", lCols, bucketsOf(dO, joinKeys1)),
      prevBucketed("rows_o", oCols, bucketsOf(dL, joinKeys1)),
      joinKeys1, "__op", loCols)
    // compress raw bilinear rows (a reprice whose order dies in the
    // same batch emits 5 rows netting one D) to net multiplicities —
    // |net| > 1 would mean the L⋈O join is not many-to-one and the
    // intermediate store has no primary key: refuse loudly (the
    // many-to-many shape deploys through StreamingIvmComposeN). The
    // compressed delta is consulted several times below (store apply,
    // stage-2 legs, bucket lists) — pin it, batch-sized.
    val dlo = d1
      .withColumn("__w", when(col("__op") === "I", 1L).otherwise(-1L))
      .groupBy(loCols.map(col): _*)
      .agg(sum(col("__w")).as("__net"))
      .filter(col("__net") =!= 0)
      .withColumn("__op",
        when(abs(col("__net")) > 1,
          raise_error(concat(
            lit("stage-1 delta nets |multiplicity| > 1 for one " +
              "intermediate row — the L⋈O join is not many-to-one (net "),
            col("__net").cast("string"), lit(")"))))
          .when(col("__net") === 1, lit("I")).otherwise(lit("D")))
      .drop("__net")
      .cache()
    try {
      val pLO = BucketStore.prepareCdcUpsert(dlo, loCols, Seq(keyColL),
        joinKeys2, dir, "rows_lo", batchId, prevId, storeBuckets, "LO")

      // ---- stage 2: Δ((L⋈O)⋈C) — upstream delta AS this join's ΔR ----
      val d2 = IvmJoin.deltaJoin(dlo, dC,
        prevBucketed("rows_lo", loCols, bucketsOf(dC, joinKeys2)),
        prevBucketed("rows_c", cCols, bucketsOf(dlo, joinKeys2)),
        joinKeys2, "__op", groupCols :+ valueCol)
      // the view upserts by group bucket: only the delta's groups'
      // buckets re-aggregate and rewrite
      val aggTemplate = batch.filter(lit(false))
        .select(groupCols.map(col) :+ lit(0L).as("n") :+
          lit(0).cast("decimal(28,4)").as("s"): _*)
      val touchedAgg = bucketsOf(d2.select(groupCols.map(col): _*), groupCols)
      val prevAggSlice = BucketStore.readBuckets(spark, dir, "agg", prevId,
          touchedAgg, aggTemplate)
        .select((groupCols :+ "n" :+ "s").map(col): _*)
      val agg1 = IvmJoin.foldAggSigned(Some(prevAggSlice), d2, groupCols,
        valueCol, "__op")

      // writes: touched buckets + manifests only, then the five commit
      // markers, then GC of unreferenced batch directories
      Seq(pL, pO, pLO, pC).foreach(p =>
        BucketStore.writePrepared(spark, dir, batchId, prevId, p))
      val nTouched = BucketStore.upsert(spark, dir, "agg", batchId, prevId,
        agg1.withColumn("__g_bucket",
          BucketStore.bucketize(groupCols, storeBuckets)),
        touchedAgg)
      Families.foreach(f => BucketStore.commit(spark, dir, f, batchId))
      val keep = prevId.toSeq :+ batchId
      Families.foreach(f => BucketStore.gc(spark, dir, f, keep))
      if (fullCount)
        BucketStore.readAll(spark, dir, "agg", Some(batchId), aggTemplate)
          .count()
      else nTouched // observed on the write — delta-proportional
    } finally dlo.unpersist()
  }

  /** Wire the per-batch fold onto a STREAMING tagged change frame;
    * `onBatch` observes (batchId, groupCount). Call `.start()`. */
  def applyStream(
      changes: DataFrame, sideCol: String, opCol: String,
      lCols: Seq[String], oCols: Seq[String], cCols: Seq[String],
      keyColL: String, keyColO: String, keyColC: String,
      joinKeys1: Seq[String], joinKeys2: Seq[String],
      groupCols: Seq[String], valueCol: String,
      dir: String,
      onBatch: (Long, Long) => Unit = (_, _) => ()): DataStreamWriter[Row] = {
    require(changes.isStreaming, "applyStream expects a streaming DataFrame " +
      "(use applyBatch for static deltas)")
    changes.writeStream.foreachBatch { (b: Dataset[Row], id: Long) =>
      onBatch(id, applyBatch(b.toDF(), id, sideCol, opCol,
        lCols, oCols, cCols, keyColL, keyColO, keyColC,
        joinKeys1, joinKeys2, groupCols, valueCol, dir))
    }
  }

  def hasCommitted(spark: SparkSession, dir: String): Boolean =
    committed(spark, dir).nonEmpty

  /** Collapse the manifests' link fan-out by rewriting every live
    * bucket of every family into one batch directory — see
    * [[BucketStore.compactAll]]; run between folds at a fresh id. */
  def compact(spark: SparkSession, dir: String, batchId: Long): Unit =
    BucketStore.compactAll(spark, dir, Families, batchId)

  /** The maintained view as of the latest committed batch:
    * (groupCols…, n, s). */
  def readView(spark: SparkSession, dir: String): DataFrame = {
    val snaps = committed(spark, dir)
    require(snaps.nonEmpty, s"no committed composed view under $dir")
    BucketStore.readAllNonEmpty(spark, dir, "agg", snaps.last)
      .drop("__g_bucket")
  }

  /** Surviving rows of one family ("rows_l" / "rows_o" / "rows_lo" /
    * "rows_c"), bucket column dropped. */
  def readRows(spark: SparkSession, dir: String, family: String): DataFrame = {
    val snaps = committed(spark, dir)
    require(snaps.nonEmpty, s"no committed rows store under $dir")
    BucketStore.readAllNonEmpty(spark, dir, family, snaps.last)
      .drop("__g_bucket")
  }
}
