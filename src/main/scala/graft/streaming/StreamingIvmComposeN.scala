package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.operators.{IvmJoin, IvmTopK}

/** Streaming N-WAY composed IVM with GENERAL multiplicities (round 15
  * — the verdict's #2 and #3): a maintained aggregate over the
  * left-deep join chain
  *
  *   I₁ = B₀ ⋈ B₁, I₂ = I₁ ⋈ B₂, …, view = γ(groupCols; n, Σ value)
  *
  * under a CDC stream that changes ANY base, for ANY number of bases
  * (≥ 2) and with any join multiplicity: a 2-base instance is the
  * `R ⋈ S` join view (`ivm4`'s shape, no intermediate), a 3-base one
  * the `(L ⋈ O) ⋈ C` warehouse view (`ivm7`'s), and many-to-many
  * stages fold exactly.
  *
  * Two design points carry the generality:
  *
  *  - **Multiset intermediates.** A many-to-many stage gives the
  *    intermediate no primary key, so pk-keyed rows stores cannot hold
  *    it. Each intermediate is maintained as (row-payload,
  *    multiplicity) instead: stage deltas are net-WEIGHTED streams
  *    (any nonzero integer, not just ±1), folded additively into the
  *    stored multiplicity ([[BucketStore.prepareMultisetUpsert]] —
  *    delete = decrement, rows drop at zero, negative raises loudly).
  *    The bilinear expansion holds verbatim for multisets with
  *    multiplicity products ([[IvmJoin.deltaJoinWeighted]]), and the
  *    view folds Σw / Σw·value ([[IvmJoin.foldAggWeighted]]).
  *  - **Derived families.** The chain is a `Seq[BaseSpec]` +
  *    per-stage join keys; stores and their bucket keys derive from
  *    it: base b is bucketed by the keys of the stage that PROBES it,
  *    intermediate Iₛ by the keys of the stage that consumes it, the
  *    view by its group columns. A 4-way chain is just a 4-element
  *    spec.
  *
  * Storage and scale shape are [[BucketStore]]'s throughout: every
  * family manifest-linked partitioned-upsert (bytes written per batch
  * ∝ delta), every store leg of every stage read pruned to the probing
  * delta's buckets, every deltaJoin leg broadcasting a compressed
  * delta. Each face's families (bases, intermediates, then its own)
  * commit together through one [[BucketStore.View]].
  *
  * Contract (StreamingIvmComposeNSpec): after batch N commits,
  * [[readView]] equals the full chain recompute over surviving
  * delivered rows — per-base and mixed batches, many-to-many stages
  * included — each intermediate's (payload, multiplicity) store equals
  * the recomputed prefix join's multiset, restart recovers from the
  * committed families, and per-base CDC violations fail loudly before
  * anything commits. */
object StreamingIvmComposeN {

  /** One base relation: `name` is both the `sideCol` tag and the store
    * family suffix; `cols` the payload columns (join keys included);
    * `keyCol` the primary key for the per-base CDC discipline. */
  case class BaseSpec(name: String, cols: Seq[String], keyCol: String)

  private def baseFamily(b: BaseSpec) = s"rows_${b.name}"
  private def interFamily(s: Int) = s"inter_$s"

  // each face's own families, kept above the chain's bases and
  // intermediates
  private val SumFace = Seq("agg")
  private val TopKFace = Seq("counts", "topk")
  private val MinMaxFace = Seq("final", "agg")
  private val QuantileFace = Seq("counts", "final")
  private val DistinctFace = Seq("wdict", "agg")

  /** One face's commit protocol over the chain: every base, every
    * intermediate, then the face's own families. */
  private def view(dir: String, bases: Seq[BaseSpec],
      face: Seq[String]): BucketStore.View =
    BucketStore.View(dir, bases.map(baseFamily) ++
      (1 to bases.size - 2).map(interFamily) ++ face)

  /** The view of whichever face the chain under `dir` maintains (one
    * directory holds one face), for the face-agnostic entry points:
    * the first face with a committed batch — the two-family faces
    * before the plain aggregate whose `agg` two of them share. */
  private def committedView(spark: SparkSession, dir: String,
      bases: Seq[BaseSpec]): BucketStore.View =
    Seq(TopKFace, MinMaxFace, QuantileFace, DistinctFace, SumFace)
      .map(view(dir, bases, _)).find(_.hasCommitted(spark))
      .getOrElse(view(dir, bases, SumFace))

  /** The payload columns intermediate I_{s+1} (stage `s`'s output)
    * must carry: everything later stages join on plus what the view
    * consumes (`finalCols`) — restricted to columns the prefix join
    * has. */
  private def interCols(bases: Seq[BaseSpec], stageKeys: Seq[Seq[String]],
      finalCols: Seq[String], s: Int): Seq[String] = {
    val avail = bases.take(s + 2).flatMap(_.cols).distinct
    val needed = (stageKeys.drop(s + 1).flatten ++ finalCols).distinct
    needed.filter(avail.contains)
  }

  /** One family's touched-slice upsert: the post-state rows of the
    * touched buckets (`__g_bucket` included) and the bucket list. */
  private case class Write(family: String, rows: DataFrame, touched: Seq[Int])

  /** What the chain front-end hands each face: the validated per-base
    * CDC writes, the intermediate-store writes, and the chain's final
    * NET-WEIGHTED delta — (`finalCols`…, __w), compressed (no zero
    * weights) — exactly the [[IvmJoin.deltaJoinWeighted]] contract
    * every weighted fold consumes. */
  private case class ChainDelta(
      prepared: Seq[BucketStore.Prepared],
      interWrites: Seq[Write],
      delta: DataFrame)

  /** Validate the chain spec and the tagged batch — the refusals that
    * need no store read. False for an empty batch. */
  private def guardChain(
      batch: DataFrame, batchId: Long, sideCol: String, opCol: String,
      bases: Seq[BaseSpec], stageKeys: Seq[Seq[String]],
      finalCols: Seq[String]): Boolean = {
    val m = bases.size
    require(m >= 2, s"composed chain needs at least 2 bases, got $m")
    require(stageKeys.size == m - 1,
      s"chain of $m bases needs ${m - 1} stage key sets, got ${stageKeys.size}")
    require(bases.map(_.name).distinct.size == m, "base names must be unique")
    stageKeys.zipWithIndex.foreach { case (ks, s) =>
      val leftAvail = bases.take(s + 1).flatMap(_.cols).distinct
      ks.foreach { k =>
        require(leftAvail.contains(k) && bases(s + 1).cols.contains(k),
          s"stage $s join key '$k' must appear on both sides of the stage")
      }
      // non-key column collisions would make the stage's using-join
      // output ambiguous — refuse up front with the stage named
      val leftCols = if (s == 0) bases.head.cols
        else interCols(bases, stageKeys, finalCols, s - 1)
      val overlap = leftCols.intersect(bases(s + 1).cols).diff(ks)
      require(overlap.isEmpty,
        s"stage $s sides share non-join columns ${overlap.mkString(", ")} — " +
          "rename them; only the stage's join keys may repeat")
    }
    val finalAvail = bases.flatMap(_.cols).distinct
    finalCols.foreach(c => require(finalAvail.contains(c),
      s"view column '$c' is not produced by any base"))
    Seq("__g_bucket", "__k_bucket", "__op", "__w", "__mult", "__dm")
      .foreach(c => require(!batch.columns.contains(c),
        s"change batch already contains reserved column '$c'"))
    val names = bases.map(_.name)
    BucketStore.guardBatch(batch,
        Seq(opCol -> Seq("I", "D"), sideCol -> names))(
        s"change batch $batchId has rows with op outside {I, D} or side " +
          s"outside ${names.mkString("{", ", ", "}")} — refusing to fold a " +
          "malformed delta into the view")
      .nonEmpty
  }

  /** The shared chain FRONT-END of every composed face, against the
    * state committed at `prevId`: prepares (but does not write) the
    * per-base CDC upserts — every base validates before anything
    * writes — and runs the weighted stage loop against the maintained
    * bases/intermediates. `pin` caches intermediates until the fold
    * ends, after its writes, since the prepared frames close over
    * pinned deltas. */
  private def chainDelta(
      batch: DataFrame, batchId: Long,
      sideCol: String, opCol: String,
      bases: Seq[BaseSpec], stageKeys: Seq[Seq[String]],
      finalCols: Seq[String], prevId: Option[Long],
      dir: String, storeBuckets: Int,
      pin: DataFrame => DataFrame): ChainDelta = {
    val spark = batch.sparkSession
    val m = bases.size
    def bucketsOf(d: DataFrame, keys: Seq[String]): Seq[Int] =
      BucketStore.bucketsOf(d, keys, storeBuckets)
    def template(cols: Seq[String]): DataFrame =
      batch.filter(lit(false)).select(cols.map(col): _*)

    // per-base CDC deltas + their compressed weighted forms; base b is
    // probed by stage (b-1) for b ≥ 1 and by stage 0 for b = 0, so it
    // buckets by that stage's keys
    def probeKeys(b: Int): Seq[String] = stageKeys(math.max(0, b - 1))
    val deltas = bases.map { b =>
      batch.filter(col(sideCol) === b.name)
        .select(b.cols.map(col) :+ col(opCol).as("__op"): _*)
    }
    // validate EVERY base before anything writes
    val prepared = bases.zip(deltas).zipWithIndex.map { case ((b, d), i) =>
      BucketStore.prepareCdcUpsert(d, b.cols, Seq(b.keyCol), probeKeys(i),
        dir, baseFamily(b), batchId, prevId, storeBuckets, b.name)
    }
    def weighted(d: DataFrame, cols: Seq[String]): DataFrame =
      d.withColumn("__w",
          when(col("__op") === "I", 1L).otherwise(-1L)).drop("__op")
        .groupBy(cols.map(col): _*)
        .agg(sum(col("__w")).as("__w")).filter(col("__w") =!= 0)

    val interWrites = scala.collection.mutable.ArrayBuffer[Write]()
    // the running upstream delta (net-weighted) and its columns
    var deltaCur = pin(weighted(deltas.head, bases.head.cols))
    var curCols = bases.head.cols
    for (s <- 0 until m - 1) {
      val right = bases(s + 1)
      val ks = stageKeys(s)
      val outCols =
        if (s == m - 2) finalCols
        else interCols(bases, stageKeys, finalCols, s)
      val dRight = pin(weighted(deltas(s + 1), right.cols))
      // PRE-delta store legs, each pruned to the OTHER side's delta
      // buckets (batch-bounded driver lists through the manifests)
      val leftPre =
        if (s == 0)
          BucketStore.readBuckets(spark, dir, baseFamily(bases.head),
              prevId, bucketsOf(dRight, ks), template(bases.head.cols))
            .select(bases.head.cols.map(col): _*)
            .withColumn("__mult", lit(1L))
        else
          BucketStore.readBuckets(spark, dir, interFamily(s), prevId,
              bucketsOf(dRight, ks),
              deltaCur.filter(lit(false))
                .select(curCols.map(col) :+ lit(0L).as("__mult"): _*))
            .select(curCols.map(col) :+ col("__mult"): _*)
      val rightPre = BucketStore.readBuckets(spark, dir,
          baseFamily(right), prevId, bucketsOf(deltaCur, ks),
          template(right.cols))
        .select(right.cols.map(col): _*)
        .withColumn("__mult", lit(1L))
      val dj = IvmJoin.deltaJoinWeighted(deltaCur, dRight, leftPre,
        rightPre, ks, "__w", "__mult", outCols)
      val net = pin(dj.groupBy(outCols.map(col): _*)
        .agg(sum(col("__w")).as("__w")).filter(col("__w") =!= 0))
      if (s < m - 2) {
        val (rows, touched) = BucketStore.prepareMultisetUpsert(net,
          outCols, "__w", stageKeys(s + 1), dir, interFamily(s + 1),
          prevId, storeBuckets)
        interWrites += Write(interFamily(s + 1), rows, touched)
      }
      deltaCur = net
      curCols = outCols
    }
    ChainDelta(prepared, interWrites.toSeq, deltaCur)
  }

  /** One fold of a composed face as micro-batch `batchId` (-1 for an
    * empty batch): the chain front-end against the latest committed
    * state, then `faceWrites` turns the chain's net-weighted delta into
    * the face's own writes, in write order. The bases and
    * intermediates write first; returns the rows the LAST face write
    * observed — the view's touched slice, delta-proportional. The
    * `pin` handed to the face caches a frame until the fold ends. */
  private def foldChain(
      batch: DataFrame, batchId: Long, sideCol: String, opCol: String,
      bases: Seq[BaseSpec], stageKeys: Seq[Seq[String]],
      finalCols: Seq[String], face: Seq[String],
      dir: String, storeBuckets: Int)(
      faceWrites: (Option[Long], DataFrame, DataFrame => DataFrame) => Seq[Write]
  ): Long = {
    val spark = batch.sparkSession
    val pinned = scala.collection.mutable.ArrayBuffer[DataFrame]()
    def pin(d: DataFrame): DataFrame = { val c = d.cache(); pinned += c; c }
    try {
      if (!guardChain(batch, batchId, sideCol, opCol, bases, stageKeys,
          finalCols)) return -1L
      view(dir, bases, face).fold(spark, batchId) { prevId =>
        val chain = chainDelta(batch, batchId, sideCol, opCol, bases,
          stageKeys, finalCols, prevId, dir, storeBuckets, pin)
        val writes = chain.interWrites ++ faceWrites(prevId, chain.delta, pin)
        chain.prepared.foreach(p =>
          BucketStore.writePrepared(spark, dir, batchId, prevId, p))
        writes.map(w => BucketStore.upsert(spark, dir, w.family, batchId,
          prevId, w.rows, w.touched)).last
      }
    } finally pinned.foreach(_.unpersist())
  }

  /** The distinct store buckets of `delta`'s groups (≤ `storeBuckets`
    * ints — the audited-collect discipline). */
  private def groupBuckets(delta: DataFrame, groupCols: Seq[String],
      storeBuckets: Int): Seq[Int] =
    BucketStore.bucketsOf(delta.select(groupCols.map(col): _*), groupCols,
      storeBuckets)

  private def bucketed(rows: DataFrame, keys: Seq[String],
      storeBuckets: Int): DataFrame =
    rows.withColumn("__g_bucket", BucketStore.bucketize(keys, storeBuckets))

  /** Fold ONE static tagged change batch (`sideCol` ∈ base names,
    * `opCol` ∈ {I, D}) into the maintained stores as micro-batch
    * `batchId`; returns the view's group count over the touched slice
    * (-1 for an empty batch). */
  def applyBatch(
      batch: DataFrame, batchId: Long,
      sideCol: String, opCol: String,
      bases: Seq[BaseSpec], stageKeys: Seq[Seq[String]],
      groupCols: Seq[String], valueCol: String,
      dir: String,
      storeBuckets: Int = StreamingIvmMinMax.StoreBuckets): Long =
    foldChain(batch, batchId, sideCol, opCol, bases, stageKeys,
        (groupCols :+ valueCol).distinct, SumFace, dir, storeBuckets) {
      (prevId, delta, _) =>
        // the view upserts by group bucket
        val aggTemplate = batch.filter(lit(false))
          .select(groupCols.map(col) :+ lit(0L).as("n") :+
            lit(0).cast("decimal(28,4)").as("s"): _*)
        val touched = groupBuckets(delta, groupCols, storeBuckets)
        val prevAggSlice = BucketStore.readBuckets(batch.sparkSession, dir,
            "agg", prevId, touched, aggTemplate)
          .select((groupCols :+ "n" :+ "s").map(col): _*)
        val agg1 = IvmJoin.foldAggWeighted(Some(prevAggSlice), delta,
          groupCols, valueCol, "__w")
        Seq(Write("agg", bucketed(agg1, groupCols, storeBuckets), touched))
    }

  /** Fold ONE static tagged change batch into a maintained TOP-K view
    * over the composed chain (round 16 — a NON-INVERTIBLE aggregate at
    * the top of the weighted algebra): per `groupCols` group, the top
    * `k` values of `keyCol` by maintained measure — Σ of joined-row
    * multiplicities (each derivation counts its weight), or with
    * `valueCol` (positive LONG — the fixed-point money discipline)
    * Σ multiplicity · value: "top nations per priority by maintained
    * revenue over a 3-way many-to-many chain". The chain front-end is
    * the one every face shares; the view tail is
    * [[IvmTopK.foldWeighted]] — the chain's net-weighted delta IS the
    * per-key net delta the top-k monotonicity proof needs, so the
    * counts store folds invertibly and only net-decreased groups
    * re-rank their store slice. Stores are `counts` + `topk` families
    * bucketed by group hash (the [[StreamingIvmTopK]] layout), both
    * pruned to the delta's group buckets per fold (the fold's
    * group-level pruned-store contract). Returns the view's row count
    * over the touched slice (-1 for an empty batch). */
  def applyBatchTopK(
      batch: DataFrame, batchId: Long,
      sideCol: String, opCol: String,
      bases: Seq[BaseSpec], stageKeys: Seq[Seq[String]],
      groupCols: Seq[String], keyCol: String, k: Int,
      valueCol: Option[String],
      dir: String,
      storeBuckets: Int = StreamingIvmMinMax.StoreBuckets): Long =
    foldChain(batch, batchId, sideCol, opCol, bases, stageKeys,
        ((groupCols :+ keyCol) ++ valueCol).distinct, TopKFace, dir,
        storeBuckets) { (prevId, delta, _) =>
      val spark = batch.sparkSession
      val countsTemplate = batch.filter(lit(false))
        .select(groupCols.map(col) :+ col(keyCol) :+ lit(0L).as("cnt"): _*)
      val topkTemplate = batch.filter(lit(false))
        .select(groupCols.map(col) :+ col(keyCol) :+ lit(0L).as("cnt") :+
          lit(0).as("rnk"): _*)
      val touched = groupBuckets(delta, groupCols, storeBuckets)
      val prevState = prevId.map { _ =>
        (BucketStore.readBuckets(spark, dir, "topk", prevId, touched,
            topkTemplate).drop("__g_bucket"),
          BucketStore.readBuckets(spark, dir, "counts", prevId, touched,
            countsTemplate).drop("__g_bucket"))
      }
      val (topkAff, countsAff) = IvmTopK.foldWeighted(prevState, delta,
        groupCols, "__w", keyCol, k, valueCol)
      Seq(Write("counts", bucketed(countsAff, groupCols, storeBuckets), touched),
        Write("topk", bucketed(topkAff, groupCols, storeBuckets), touched))
    }

  /** Fold ONE static tagged change batch into a maintained MIN/MAX
    * aggregate over the composed chain (round 16): per `groupCols`
    * group, (n, s, mn, mx) of `valueCol` over the joined multiset —
    * n and s weight-scaled (each derivation counts its multiplicity),
    * mn/mx the extremes of the surviving values. The extremum is
    * non-invertible, and over a chain there is no base to re-read —
    * so the fold maintains the FINAL joined multiset itself as a
    * `final` BucketStore family (group-hash bucketed, multiset upsert)
    * and [[graft.operators.IvmFold.foldMinMaxWeighted]] re-aggregates
    * a broken group from exactly that family's just-computed touched
    * slice: delta-proportional writes, group-slice-bounded re-ag
    * reads, nothing store-sized. Returns the view's group count over
    * the touched slice (-1 for an empty batch). */
  def applyBatchMinMax(
      batch: DataFrame, batchId: Long,
      sideCol: String, opCol: String,
      bases: Seq[BaseSpec], stageKeys: Seq[Seq[String]],
      groupCols: Seq[String], valueCol: String,
      dir: String,
      storeBuckets: Int = StreamingIvmMinMax.StoreBuckets): Long = {
    val finalCols = (groupCols :+ valueCol).distinct
    foldChain(batch, batchId, sideCol, opCol, bases, stageKeys, finalCols,
        MinMaxFace, dir, storeBuckets) { (prevId, delta, pin) =>
      // the maintained final multiset: post-state of the delta's group
      // buckets — the re-agg truth for broken groups
      val (finalRows0, touched) = BucketStore.prepareMultisetUpsert(
        delta, finalCols, "__w", groupCols, dir, "final", prevId,
        storeBuckets)
      val finalRows = pin(finalRows0)
      val aggTemplate = batch.filter(lit(false))
        .select(groupCols.map(col) :+ lit(0L).as("n") :+
          lit(0).cast("decimal(28,4)").as("s") :+
          col(valueCol).as("mn") :+ col(valueCol).as("mx"): _*)
      val prevAggSlice = BucketStore.readBuckets(batch.sparkSession, dir,
          "agg", prevId, touched, aggTemplate)
        .select((groupCols :+ "n" :+ "s" :+ "mn" :+ "mx").map(col): _*)
      val agg1 = graft.operators.IvmFold.foldMinMaxWeighted(
        Some(prevAggSlice), delta, finalRows, groupCols, "__w", valueCol)
      Seq(Write("final", finalRows, touched),
        Write("agg", bucketed(agg1, groupCols, storeBuckets), touched))
    }
  }

  /** Fold ONE static tagged change batch into a maintained EXACT-
    * QUANTILE view over the composed chain (round 16 — the fifth and
    * last family member closed over chains): per-(group, value-bucket)
    * WEIGHTED counts ([[graft.operators.IvmQuantile.foldCountsWeighted]]
    * — purely invertible, the quantile family never had a re-agg path)
    * plus the final joined multiset bucketed by VALUE bucket (`final`
    * family via [[BucketStore.prepareMultisetUpsertExpr]]), so
    * [[readPercentilesView]] prunes its row reads to the candidate
    * buckets' files exactly like [[StreamingIvmQuantile]] — but the
    * "rows" are (distinct value, derivation multiplicity) pairs and
    * the rank completes through cumulative weights. The (lo, hi,
    * buckets) domain is declared at view creation and must be passed
    * identically to every fold and read. Returns the live (group,
    * value-bucket) count over the touched slice (-1 for an empty
    * batch). */
  def applyBatchQuantile(
      batch: DataFrame, batchId: Long,
      sideCol: String, opCol: String,
      bases: Seq[BaseSpec], stageKeys: Seq[Seq[String]],
      groupCols: Seq[String], valueCol: String,
      dir: String, lo: Double, hi: Double, buckets: Int,
      storeBuckets: Int = StreamingIvmMinMax.StoreBuckets): Long = {
    import graft.operators.IvmQuantile
    val finalCols = (groupCols :+ valueCol).distinct
    foldChain(batch, batchId, sideCol, opCol, bases, stageKeys, finalCols,
        QuantileFace, dir, storeBuckets) { (prevId, delta, _) =>
      val countsTemplate = batch.filter(lit(false))
        .select(groupCols.map(col) :+ lit(0L).as("__qb") :+
          lit(0L).as("cnt"): _*)
      val touchedCounts = groupBuckets(delta, groupCols, storeBuckets)
      val prevCounts = BucketStore.readBuckets(batch.sparkSession, dir,
          "counts", prevId, touchedCounts, countsTemplate)
        .select((groupCols :+ "__qb" :+ "cnt").map(col): _*)
      val counts1 = IvmQuantile.foldCountsWeighted(Some(prevCounts),
        delta, groupCols, "__w", valueCol, lo, hi, buckets)
      // the final multiset, VALUE-bucketed: the candidate reads' prune
      // key (a delta row determines its own value bucket)
      val (finalRows, touchedFinal) = BucketStore.prepareMultisetUpsertExpr(
        delta.filter(col(valueCol).isNotNull), finalCols, "__w",
        IvmQuantile.bucketIdOf(col(valueCol), lo, hi, buckets),
        dir, "final", prevId)
      Seq(Write("final", finalRows, touchedFinal),
        Write("counts", bucketed(counts1, groupCols, storeBuckets),
          touchedCounts))
    }
  }

  /** Fold ONE static tagged change batch into a maintained
    * COUNT(DISTINCT `valueCol`) view over the composed chain (round
    * 16): the weighted dictionary (`wdict` family — (groupCols…,
    * valueCol, __mult), PAIR-hash bucketed) holds each surviving
    * pair's derivation multiplicity, which makes the whole fold
    * invertible ([[graft.operators.IvmDistinct.foldWeighted]] — no
    * rows store consulted, multiplicity is the survival arbiter); the
    * counts view (`agg` family, group-hash bucketed) folds ±1 per
    * pair entering/leaving. Dict reads prune to the delta's PAIR
    * buckets, counts reads to the delta's group buckets. Returns the
    * view's group count over the touched slice (-1 for an empty
    * batch). */
  def applyBatchDistinct(
      batch: DataFrame, batchId: Long,
      sideCol: String, opCol: String,
      bases: Seq[BaseSpec], stageKeys: Seq[Seq[String]],
      groupCols: Seq[String], valueCol: String,
      dir: String,
      storeBuckets: Int = StreamingIvmMinMax.StoreBuckets): Long = {
    val pairCols = groupCols :+ valueCol
    foldChain(batch, batchId, sideCol, opCol, bases, stageKeys,
        pairCols.distinct, DistinctFace, dir, storeBuckets) {
      (prevId, delta, _) =>
        val spark = batch.sparkSession
        val wdictTemplate = batch.filter(lit(false))
          .select(pairCols.map(col) :+ lit(0L).as("__mult"): _*)
        val countsTemplate = batch.filter(lit(false))
          .select(groupCols.map(col) :+ lit(0L).as("n_distinct"): _*)
        val touchedDict =
          BucketStore.bucketsOf(delta, pairCols, storeBuckets)
        val touchedAgg = groupBuckets(delta, groupCols, storeBuckets)
        val prevWdict = BucketStore.readBuckets(spark, dir, "wdict", prevId,
            touchedDict, wdictTemplate)
          .select(pairCols.map(col) :+ col("__mult"): _*)
        val prevCounts = BucketStore.readBuckets(spark, dir, "agg", prevId,
            touchedAgg, countsTemplate)
          .select((groupCols :+ "n_distinct").map(col): _*)
        val (counts1, dict1) = graft.operators.IvmDistinct.foldWeighted(
          Some((prevCounts, prevWdict)), delta, groupCols, "__w", valueCol)
        Seq(Write("wdict", bucketed(dict1, pairCols, storeBuckets), touchedDict),
          Write("agg", bucketed(counts1, groupCols, storeBuckets), touchedAgg))
    }
  }

  // ---- streaming wiring: one per face, each the static fold per
  // micro-batch; `onBatch` observes (batchId, the fold's count) -------

  def applyStream(
      changes: DataFrame, sideCol: String, opCol: String,
      bases: Seq[BaseSpec], stageKeys: Seq[Seq[String]],
      groupCols: Seq[String], valueCol: String,
      dir: String,
      onBatch: (Long, Long) => Unit = (_, _) => ()): DataStreamWriter[Row] =
    BucketStore.View.stream(changes, onBatch)(applyBatch(_, _, sideCol,
      opCol, bases, stageKeys, groupCols, valueCol, dir))

  def applyStreamTopK(
      changes: DataFrame, sideCol: String, opCol: String,
      bases: Seq[BaseSpec], stageKeys: Seq[Seq[String]],
      groupCols: Seq[String], keyCol: String, k: Int,
      valueCol: Option[String], dir: String,
      onBatch: (Long, Long) => Unit = (_, _) => ()): DataStreamWriter[Row] =
    BucketStore.View.stream(changes, onBatch, "TopK")(applyBatchTopK(_, _,
      sideCol, opCol, bases, stageKeys, groupCols, keyCol, k, valueCol, dir))

  def applyStreamMinMax(
      changes: DataFrame, sideCol: String, opCol: String,
      bases: Seq[BaseSpec], stageKeys: Seq[Seq[String]],
      groupCols: Seq[String], valueCol: String, dir: String,
      onBatch: (Long, Long) => Unit = (_, _) => ()): DataStreamWriter[Row] =
    BucketStore.View.stream(changes, onBatch, "MinMax")(applyBatchMinMax(_,
      _, sideCol, opCol, bases, stageKeys, groupCols, valueCol, dir))

  def applyStreamQuantile(
      changes: DataFrame, sideCol: String, opCol: String,
      bases: Seq[BaseSpec], stageKeys: Seq[Seq[String]],
      groupCols: Seq[String], valueCol: String,
      dir: String, lo: Double, hi: Double, buckets: Int,
      onBatch: (Long, Long) => Unit = (_, _) => ()): DataStreamWriter[Row] =
    BucketStore.View.stream(changes, onBatch, "Quantile")(
      applyBatchQuantile(_, _, sideCol, opCol, bases, stageKeys, groupCols,
        valueCol, dir, lo, hi, buckets))

  def applyStreamDistinct(
      changes: DataFrame, sideCol: String, opCol: String,
      bases: Seq[BaseSpec], stageKeys: Seq[Seq[String]],
      groupCols: Seq[String], valueCol: String, dir: String,
      onBatch: (Long, Long) => Unit = (_, _) => ()): DataStreamWriter[Row] =
    BucketStore.View.stream(changes, onBatch, "Distinct")(
      applyBatchDistinct(_, _, sideCol, opCol, bases, stageKeys, groupCols,
        valueCol, dir))

  // ---- reads and maintenance -----------------------------------------

  /** The maintained view as of the latest committed batch:
    * (groupCols…, n, s). */
  def readView(spark: SparkSession, dir: String,
      bases: Seq[BaseSpec]): DataFrame =
    view(dir, bases, SumFace).read(spark, "agg", "composed view")

  /** The maintained composed TOP-K view as of the latest committed
    * batch: (groupCols…, keyCol, cnt, rnk). */
  def readTopKView(spark: SparkSession, dir: String,
      bases: Seq[BaseSpec]): DataFrame =
    view(dir, bases, TopKFace).read(spark, "topk", "composed top-k view")

  /** The maintained composed counts store as of the latest committed
    * batch: (groupCols…, keyCol, cnt). */
  def readCountsStore(spark: SparkSession, dir: String,
      bases: Seq[BaseSpec]): DataFrame =
    view(dir, bases, TopKFace).read(spark, "counts", "composed counts store")

  /** The maintained composed MIN/MAX view as of the latest committed
    * batch: (groupCols…, n, s, mn, mx). */
  def readMinMaxView(spark: SparkSession, dir: String,
      bases: Seq[BaseSpec]): DataFrame =
    view(dir, bases, MinMaxFace).read(spark, "agg", "composed min/max view")

  /** The maintained composed DISTINCT-count view as of the latest
    * committed batch: (groupCols…, n_distinct). */
  def readDistinctView(spark: SparkSession, dir: String,
      bases: Seq[BaseSpec]): DataFrame =
    view(dir, bases, DistinctFace).read(spark, "agg", "composed distinct view")

  /** Exact PERCENTILE_CONT at `ps` per group over the maintained
    * composed view, as of the latest committed batch — multiset rows
    * read PRUNED to the candidate value buckets' files. (lo, hi,
    * buckets) must be the view's creation-time values. */
  def readPercentilesView(
      spark: SparkSession, dir: String, bases: Seq[BaseSpec],
      groupCols: Seq[String], valueCol: String, ps: Seq[Double],
      lo: Double, hi: Double, buckets: Int): DataFrame = {
    import graft.operators.IvmQuantile
    val latest = view(dir, bases, QuantileFace)
      .latest(spark, "composed quantile view")
    val counts = BucketStore.readAllNonEmpty(spark, dir, "counts", latest)
      .drop("__g_bucket")
    val candQb = IvmQuantile.candidates(counts, groupCols, ps)
      .select(col("__qb")).distinct()
      .collect().map(_.getLong(0).toInt).toSeq // ≤ buckets ids — bounded
    val finalManifest = BucketStore.readManifest(spark, dir, "final",
      Some(latest))
    val unresolved = candQb.filterNot(finalManifest.contains)
    require(unresolved.isEmpty,
      s"candidate value buckets ${unresolved.sorted.mkString(",")} resolve " +
        "to no stored rows — (lo, hi, buckets) must be the view's " +
        "creation-time values (a mismatch re-buckets history)")
    val template = counts.filter(lit(false))
      .select(groupCols.map(col) :+ col("cnt").cast("double").as(valueCol) :+
        lit(0L).as("__mult"): _*)
    val rows = BucketStore.readBuckets(spark, dir, "final", Some(latest),
        candQb, template)
      .select((groupCols :+ valueCol).map(col) :+ col("__mult"): _*)
    IvmQuantile.percentileContWeighted(counts, rows, groupCols, valueCol,
      "__mult", ps, lo, hi, buckets)
  }

  /** Whether the chain under `dir` has committed a batch, whichever
    * face it maintains. */
  def hasCommitted(spark: SparkSession, dir: String,
      bases: Seq[BaseSpec]): Boolean =
    committedView(spark, dir, bases).hasCommitted(spark)

  /** Collapse the manifests' link fan-out by rewriting every live
    * bucket of every family of the face `dir` maintains into one batch
    * directory — see [[BucketStore.compactAll]]; run between folds at a
    * fresh id. */
  def compact(spark: SparkSession, dir: String, bases: Seq[BaseSpec],
      batchId: Long): Unit =
    committedView(spark, dir, bases).compact(spark, batchId)

  /** Surviving rows of one base's store, bucket column dropped. */
  def readBase(spark: SparkSession, dir: String, bases: Seq[BaseSpec],
      name: String): DataFrame =
    committedView(spark, dir, bases).read(spark, s"rows_$name", "store")

  /** Intermediate Iₛ's maintained multiset — (payload…, __mult). */
  def readInter(spark: SparkSession, dir: String, bases: Seq[BaseSpec],
      s: Int): DataFrame =
    committedView(spark, dir, bases).read(spark, interFamily(s), "store")
}
