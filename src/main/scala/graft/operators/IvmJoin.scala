package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Exact.dec

/** Incremental view maintenance for JOIN views (round 13 — the fourth
  * member of the IVM family): a maintained aggregate OVER an equi-join
  * `R ⋈ S` absorbs CDC deltas on EITHER side (or both) without
  * re-running the join. The algebra is the bilinear expansion — with
  * signed multiplicities (I = +1, D = −1),
  *
  *   (R + ΔR) ⋈ (S + ΔS) = R⋈S + ΔR⋈S + R⋈ΔS + ΔR⋈ΔS
  *
  * holds EXACTLY for multiset joins, deletes included, so the view's
  * change is three delta-anchored joins: each one keyed on the join
  * key with the DELTA side broadcast — the stored sides are scanned
  * once each and never shuffled, and the cross term is delta × delta.
  * COUNT and exact-decimal SUM are linear in multiplicity, so the
  * maintained (n, s) folds as stored ⊕ Δagg, exactly ivm1's
  * aggregate-frame merge (AVG = s/n rides free; MIN/MAX over a join
  * needs ivm2's re-agg discipline on the joined rows instead —
  * non-linear aggregates have no bilinear shortcut).
  *
  * Contract: `rBefore`/`sBefore` are the PRE-delta states (the
  * formula's R and S); delta rows carry full payload (delete images),
  * `opCol` ∈ {I, D} — loud otherwise, enforced inside the sign
  * expression where no sibling predicate can simplify it away (see
  * IvmDistinct's optimizer-hazard note). Values outside decimal(18,4)
  * raise rather than fold silently (the IvmFold discipline); NULL
  * values contribute 0 to the sum and are counted, matching a
  * SUM/COUNT(*) view over the join.
  *
  * Scale shape at 100 TB: per batch three joins whose build sides are
  * delta-sized broadcasts; R and S are each read once (partition-keyed
  * stores prune those reads to the delta's join-key buckets — a
  * [[graft.streaming.BucketStore]] bucketed by the join key, its
  * natural bucket key); the merge joins two aggregate frames.
  * Nothing anywhere is |R ⋈ S|-sized.
  */
object IvmJoin {

  /** Signed multiplicity with the op-domain raise INSIDE the value
    * expression (filter-conjunct raises are optimizer-unsafe). */
  private def signOf(op: Column, opCol: String): Column =
    when(op === "I", lit(1L))
      .when(op === "D", lit(-1L))
      .otherwise(raise_error(
        lit(s"delta op outside {I, D} (or NULL) in '$opCol' — " +
          "refusing to fold a malformed delta into the view")))

  private def decChecked(c: Column, valueCol: String): Column =
    when(c.isNotNull && dec(c).isNull,
      raise_error(concat(lit(s"value in '$valueCol' outside " +
        "decimal(18,4) ("), c.cast("string"),
        lit(") — the exact sum would silently drift"))))
      .otherwise(coalesce(dec(c), lit(0)))

  /** The bilinear delta of `R ⋈ S` as a FIRST-CLASS CDC stream (round
    * 14 — the composition face): joined rows carrying `outCols` plus
    * `opCol` ∈ {I, D}, exactly the multiset change
    * `(R+ΔR)⋈(S+ΔS) − R⋈S`. Because the output speaks the SAME delta
    * contract the whole IVM family consumes, a join view composes:
    * feed the result into [[foldAggSigned]] (maintained join→aggregate,
    * the warehouse materialized view), into [[IvmTopK.fold]] (maintained
    * join→top-k), or into ANOTHER `deltaJoin` as one of its delta sides
    * (multi-way joins — each additional relation consumes the upstream
    * delta as its ΔR, with the maintained intermediate join as its R).
    *
    * Sign bookkeeping: each emitted row's multiplicity is the product
    * of its source signs — a (D, D) cross pair emits I, because
    * deleting r and s subtracts their joined pair once through EACH
    * linear term and the cross term adds it back. The raw stream may
    * therefore carry cancelling rows for one tuple (e.g. a reprice
    * whose order is deleted in the same batch emits 5 rows netting one
    * D); downstream aggregates fold signs linearly so cancellation is
    * free, and store maintainers compress to net multiplicities first
    * ([[deltaJoinWeighted]] keeps them as weights).
    *
    * Scale shape: identical to [[foldSumView]]'s legs — each term
    * broadcasts its delta side, the stored sides stream through one
    * scan apiece (pruned to the delta's join-key buckets in the
    * streaming deployment), the cross term is delta × delta. Output
    * size ≤ |ΔR|·maxfan(S) + |ΔS|·maxfan(R) + |ΔR⋈ΔS| — delta-
    * proportional for bounded fan-out. */
  def deltaJoin(
      deltaR: DataFrame,
      deltaS: DataFrame,
      rBefore: DataFrame,
      sBefore: DataFrame,
      joinKeys: Seq[String],
      opCol: String,
      outCols: Seq[String]): DataFrame = {
    def signed(d: DataFrame, w: String): DataFrame =
      d.withColumn(w, signOf(col(opCol), opCol)).drop(opCol)
    val dR = signed(deltaR, "__wr")
    val dS = signed(deltaS, "__ws")
    // the three bilinear terms — the DELTA side broadcasts in each, so
    // the stored sides stream through one scan apiece and the cross
    // term never touches a store at all
    val out = outCols.map(col)
    val t1 = broadcast(dR).join(sBefore, joinKeys)
      .select(out :+ col("__wr").as("__w"): _*)
    val t2 = rBefore.join(broadcast(dS), joinKeys)
      .select(out :+ col("__ws").as("__w"): _*)
    val t3 = broadcast(dR).join(broadcast(dS), joinKeys)
      .select(out :+ (col("__wr") * col("__ws")).as("__w"): _*)
    t1.unionByName(t2).unionByName(t3)
      .withColumn(opCol, when(col("__w") === 1, "I").otherwise("D"))
      .drop("__w")
  }

  /** The bilinear delta of a MULTISET join (round 15 — the
    * general-multiplicity composition face): [[deltaJoin]] generalized
    * from ±1 CDC rows and set stores to integer-weighted deltas and
    * multiplicity-carrying stores. `deltaR`/`deltaS` carry `wCol`
    * (signed net multiplicities — any nonzero integer, not just ±1);
    * `rBefore`/`sBefore` carry `multCol` (the PRE-delta multiplicity
    * of each distinct row — pass `lit(1)` frames for plain set
    * stores). Output: `outCols` + `wCol`, where each term's weight is
    * the PRODUCT of its inputs' weights — exactly the multiset
    * identity `(R+ΔR)⋈(S+ΔS) − R⋈S` with multiplicities
    * `m_{r⋈s} = m_r · m_s`. This is what lets a composed chain keep a
    * many-to-many intermediate: the intermediate store holds
    * (row-payload, multiplicity) instead of pk-keyed rows, and its
    * delta is a net-weighted stream that chains into further
    * weighted joins or [[foldAggWeighted]].
    *
    * Scale shape: identical to [[deltaJoin]] — each term broadcasts
    * its delta side, the stored sides stream through one (pruned) scan
    * apiece, the cross term is delta × delta. */
  def deltaJoinWeighted(
      deltaR: DataFrame,
      deltaS: DataFrame,
      rBefore: DataFrame,
      sBefore: DataFrame,
      joinKeys: Seq[String],
      wCol: String,
      multCol: String,
      outCols: Seq[String]): DataFrame = {
    val out = outCols.map(col)
    def wChecked(c: Column, name: String): Column =
      when(c.isNull || c === 0,
        raise_error(lit(s"zero/NULL multiplicity in '$name' — a weighted " +
          "delta must carry nonzero net weights (compress first)")))
        .otherwise(c)
    val dR = deltaR.withColumn("__dwr", wChecked(col(wCol), wCol)).drop(wCol)
    val dS = deltaS.withColumn("__dws", wChecked(col(wCol), wCol)).drop(wCol)
    val rB = rBefore.withColumn("__mr", col(multCol)).drop(multCol)
    val sB = sBefore.withColumn("__ms", col(multCol)).drop(multCol)
    val t1 = broadcast(dR).join(sB, joinKeys)
      .select(out :+ (col("__dwr") * col("__ms")).as(wCol): _*)
    val t2 = rB.join(broadcast(dS), joinKeys)
      .select(out :+ (col("__mr") * col("__dws")).as(wCol): _*)
    val t3 = broadcast(dR).join(broadcast(dS), joinKeys)
      .select(out :+ (col("__dwr") * col("__dws")).as(wCol): _*)
    t1.unionByName(t2).unionByName(t3)
  }

  /** Fold an integer-WEIGHTED delta stream (`wCol` — net signed
    * multiplicities, [[deltaJoinWeighted]]'s output) into the
    * maintained per-group (n, s) view: n absorbs Σw, s absorbs
    * Σ w·value. [[foldAggSigned]] is the ±1 instance. Same loud
    * refusals: zero/NULL weights, negative count,
    * zero-with-remainder. */
  def foldAggWeighted(
      stored: Option[DataFrame],
      delta: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      wCol: String): DataFrame = {
    val g = groupCols.map(col)
    val w = when(col(wCol).isNull || col(wCol) === 0,
      raise_error(lit(s"zero/NULL multiplicity in '$wCol' — refusing to " +
        "fold a malformed weighted delta into the view")))
      .otherwise(col(wCol))
    val deltaAgg = delta
      .groupBy(g: _*)
      .agg(sum(w).as("__dn"),
        sum(w * decChecked(col(valueCol), valueCol)).as("__ds"))

    val storedDf = stored.getOrElse(
      deltaAgg.filter(lit(false))
        .select(g :+ lit(0L).as("n") :+
          lit(0).cast("decimal(28,4)").as("s"): _*))

    storedDf.join(deltaAgg, groupCols, "full_outer")
      .select(g :+
        (coalesce(col("n"), lit(0L)) + coalesce(col("__dn"), lit(0L))).as("n") :+
        (coalesce(col("s"), lit(0)) + coalesce(col("__ds"), lit(0))).as("s"): _*)
      .withColumn("n",
        when(col("n") < 0 ||
          (col("n") === 0 && coalesce(col("s") =!= 0, lit(false))),
          raise_error(lit("delta deletes join pairs the view never " +
            "absorbed (negative count or zero count with a remainder sum)")))
          .otherwise(col("n")))
      .withColumn("s", col("s").cast("decimal(28,4)"))
      .filter(col("n") > 0)
  }

  /** Fold a SIGNED CDC stream (`opCol` ∈ {I, D} — [[deltaJoin]]'s
    * output, or any single-relation delta) into the maintained
    * per-group (n, s) view: the ivm1 invertible merge, factored out so
    * composed views reuse it verbatim. `stored = None` is the empty
    * view. Groups at zero disappear; a delta that deletes rows the
    * view never absorbed fails loudly (negative count /
    * zero-with-remainder). */
  def foldAggSigned(
      stored: Option[DataFrame],
      delta: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      opCol: String): DataFrame = {
    val g = groupCols.map(col)
    val deltaAgg = delta
      .withColumn("__w", signOf(col(opCol), opCol))
      .groupBy(g: _*)
      .agg(sum(col("__w")).as("__dn"),
        sum(col("__w") * decChecked(col(valueCol), valueCol)).as("__ds"))

    val storedDf = stored.getOrElse(
      deltaAgg.filter(lit(false))
        .select(g :+ lit(0L).as("n") :+
          lit(0).cast("decimal(28,4)").as("s"): _*))

    storedDf.join(deltaAgg, groupCols, "full_outer")
      .select(g :+
        (coalesce(col("n"), lit(0L)) + coalesce(col("__dn"), lit(0L))).as("n") :+
        (coalesce(col("s"), lit(0)) + coalesce(col("__ds"), lit(0))).as("s"): _*)
      .withColumn("n",
        when(col("n") < 0 ||
          (col("n") === 0 && coalesce(col("s") =!= 0, lit(false))),
          raise_error(lit("delta deletes join pairs the view never " +
            "absorbed (negative count or zero count with a remainder sum)")))
          .otherwise(col("n")))
      .withColumn("s", col("s").cast("decimal(28,4)"))
      .filter(col("n") > 0)
  }

  /** Fold CDC deltas on both sides of `R ⋈ S` (equi-join on
    * `joinKeys`, shared column names) into the maintained per-group
    * (n, s) view, where `groupCols` and `valueCol` are columns of the
    * JOINED row (either side). Pass an empty-delta frame (not null)
    * for a side with no changes. `stored = None` is the empty view.
    * Returns the view after the fold; groups at zero disappear, a
    * delta that deletes pairs the view never absorbed fails loudly
    * (negative count / zero-with-remainder — only reachable on the
    * merge path, which is total here).
    *
    * Since round 14 this IS the composition [[deltaJoin]] →
    * [[foldAggSigned]] — the same plan the hand-fused original built
    * (the op column round-trips through one codegen'd CASE each way;
    * IvmJoinSpec's shapes pin the equality). */
  def foldSumView(
      stored: Option[DataFrame],
      deltaR: DataFrame,
      deltaS: DataFrame,
      rBefore: DataFrame,
      sBefore: DataFrame,
      joinKeys: Seq[String],
      groupCols: Seq[String],
      valueCol: String,
      opCol: String): DataFrame =
    foldAggSigned(
      stored,
      deltaJoin(deltaR, deltaS, rBefore, sBefore, joinKeys, opCol,
        groupCols :+ valueCol),
      groupCols, valueCol, opCol)
}
