package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental view maintenance for EXACT quantiles (round 13 — the
  * fifth member of the IVM family): maintaining PERCENTILE_CONT under
  * CDC looks non-invertible (deleting a value shifts every rank after
  * it), but the ScalableQuantile decomposition makes the MAINTAINED
  * part purely invertible: keep per-(group, value-bucket) COUNTS —
  * counts add and subtract exactly (the ivm1 algebra) — and defer the
  * order statistics to READ time, where the cumulative bucket counts
  * name the one or two CANDIDATE buckets containing each requested
  * rank and only those buckets' rows are consulted (a bucket-keyed
  * rows store prunes that read to files — StreamingIvmQuantile).
  *
  * So: the per-batch fold is a delta-sized aggregate merged into an
  * aggregate-sized counts frame — NO rows read, NO re-aggregation path
  * at all, regardless of what the delta deletes — and the read costs
  * one pass over ≤ |groups| × `buckets` count rows plus the candidate
  * buckets' rows (≈ n/`buckets` rows per requested rank).
  *
  * Bucketing is DOMAIN-FIXED — `[lo, hi]` declared at view creation —
  * so bucket ids are stable across batches (ScalableQuantile's per-run
  * min/max would re-bucket history on every fold). A value outside the
  * domain, NaN, or a malformed op fails loudly inside the plan (raises
  * ride value expressions, never filter conjuncts — the
  * BooleanSimplification hazard); NULL values are excluded per SQL
  * percentile convention.
  *
  * Answers are exact PERCENTILE_CONT, bit-identical to the sort-based
  * window form: the candidate-bucket rank completes the same total
  * order (equi-width bucketing is order-consistent and tie values
  * share a bucket), and the interpolation is the shared explicit
  * `vlo + frac·(vhi − vlo)` formula of the qt2/qt3 oracle keys.
  */
object IvmQuantile {

  /** Order-consistent, domain-stable bucket id; loud on NaN and
    * out-of-domain values (the view's domain is a declared contract —
    * silently clamping would fold foreign mass into the edge buckets). */
  def bucketIdOf(v: Column, lo: Double, hi: Double, buckets: Int): Column = {
    require(lo < hi, s"empty value domain [$lo, $hi]")
    require(buckets >= 2, s"need at least 2 buckets, got $buckets")
    when(isnan(v) || v < lo || v > hi,
      raise_error(concat(
        lit(s"value outside the view's declared domain [$lo, $hi]: "),
        v.cast("string"),
        lit(" — re-create the view with a wider domain"))))
      .otherwise(least(
        floor((v / 2.0 - lo / 2.0) / (hi / 2.0 - lo / 2.0) * buckets)
          .cast("long"),
        lit(buckets - 1L)))
  }

  /** Fold a change `delta` (`opCol` ∈ {I, D}, loud otherwise) into the
    * maintained per-(group, bucket) counts. `stored = None` is the
    * empty view. Purely invertible — deletes subtract what inserts
    * added; buckets at zero disappear; a delta that deletes counts the
    * view never absorbed fails loudly. NULL values are ignored. */
  def foldCounts(
      stored: Option[DataFrame],
      delta: DataFrame,
      groupCols: Seq[String],
      opCol: String,
      valueCol: String,
      lo: Double, hi: Double, buckets: Int): DataFrame = {
    val g = groupCols.map(col)
    val keys = groupCols :+ "__qb"
    Seq("__qb", "cnt", "__dc").foreach(c =>
      require(!delta.columns.contains(c),
        s"delta already contains reserved column '$c'"))
    val w = when(col(opCol) === "I", lit(1L))
      .when(col(opCol) === "D", lit(-1L))
      .otherwise(raise_error(
        lit(s"delta op outside {I, D} (or NULL) in '$opCol' — " +
          "refusing to fold a malformed delta into the view")))
    val deltaAgg = delta
      .filter(w.isNotNull && col(valueCol).isNotNull)
      .withColumn("__qb", bucketIdOf(col(valueCol), lo, hi, buckets))
      .groupBy(keys.map(col): _*)
      .agg(sum(w).as("__dc"))
    val storedDf = stored.getOrElse(
      deltaAgg.filter(lit(false))
        .select(g :+ col("__qb") :+ lit(0L).as("cnt"): _*))
    storedDf.join(deltaAgg, keys, "full_outer")
      .select(g :+ col("__qb") :+
        (coalesce(col("cnt"), lit(0L)) + coalesce(col("__dc"), lit(0L)))
          .as("cnt"): _*)
      .withColumn("cnt",
        when(col("cnt") < 0,
          raise_error(lit("delta deletes values the view never absorbed " +
            "(a bucket count went negative)")))
          .otherwise(col("cnt")))
      .filter(col("cnt") > 0)
  }

  /** The counts view of a base table — the initial state. */
  def countsOf(
      df: DataFrame, groupCols: Seq[String], valueCol: String,
      lo: Double, hi: Double, buckets: Int): DataFrame =
    df.filter(col(valueCol).isNotNull)
      .withColumn("__qb", bucketIdOf(col(valueCol), lo, hi, buckets))
      .groupBy((groupCols :+ "__qb").map(col): _*)
      .agg(count(lit(1)).as("cnt"))

  /** [[foldCounts]] for a NET-WEIGHTED delta stream — the composed-
    * chain contract (round 16): delta rows carry `wCol` (signed
    * NONZERO net multiplicities, the
    * [[IvmJoin.deltaJoinWeighted]] output shape); each bucket's count
    * absorbs Σ w. Same pure invertibility — the quantile family's fold
    * never had a re-aggregation path, so generalizing to weights is
    * the ivm1 merge with a different unit. Zero/NULL weights and
    * negative merged counts refuse loudly in-plan. */
  def foldCountsWeighted(
      stored: Option[DataFrame],
      netDelta: DataFrame,
      groupCols: Seq[String],
      wCol: String,
      valueCol: String,
      lo: Double, hi: Double, buckets: Int): DataFrame = {
    val g = groupCols.map(col)
    val keys = groupCols :+ "__qb"
    Seq("__qb", "cnt", "__dc").foreach(c =>
      require(!netDelta.columns.contains(c),
        s"delta already contains reserved column '$c'"))
    val w = when(col(wCol).isNull || col(wCol) === 0,
      raise_error(lit(s"zero/NULL multiplicity in '$wCol' — refusing " +
        "to fold a malformed weighted delta into the view")))
      .otherwise(col(wCol))
    val deltaAgg = netDelta
      .filter(col(valueCol).isNotNull)
      .withColumn("__qb", bucketIdOf(col(valueCol), lo, hi, buckets))
      .groupBy(keys.map(col): _*)
      .agg(sum(w).as("__dc")).filter(col("__dc") =!= 0)
    val storedDf = stored.getOrElse(
      deltaAgg.filter(lit(false))
        .select(g :+ col("__qb") :+ lit(0L).as("cnt"): _*))
    storedDf.join(deltaAgg, keys, "full_outer")
      .select(g :+ col("__qb") :+
        (coalesce(col("cnt"), lit(0L)) + coalesce(col("__dc"), lit(0L)))
          .as("cnt"): _*)
      .withColumn("cnt",
        when(col("cnt") < 0,
          raise_error(lit("delta deletes values the view never absorbed " +
            "(a bucket count went negative)")))
          .otherwise(col("cnt")))
      .filter(col("cnt") > 0)
  }

  /** Exact PERCENTILE_CONT at `ps` per group, from the maintained
    * counts plus the surviving rows (groupCols…, valueCol) — the rows
    * are consulted ONLY inside the candidate buckets the counts name
    * (join on (group, bucket) against a broadcast candidate list;
    * `candidateBuckets` exposes the bucket ids so a bucket-partitioned
    * store can prune files before calling). Output: (groupCols…, p,
    * value), the qt2 interpolation bit-for-bit. */
  def percentileCont(
      counts: DataFrame,
      rowsAfter: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      ps: Seq[Double],
      lo: Double, hi: Double, buckets: Int,
      maxCandidates: Long = ScalableRank.MaxBroadcastCells): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      s"percentiles must lie in [0, 1], got $ps")
    // the candidate frame broadcasts: ≤ 2·|ps| rows per group, so the
    // bound only trips on views with millions of groups — where a
    // per-group quantile is group-local work the window form already
    // handles. Enforced like ScalableRank's stats guard: a
    // plan-embedded count over the (aggregate-sized) frame, loud, on a
    // column no sibling predicate overlaps.
    val cand = candidates(counts, groupCols, ps)
      .withColumn("__qcand_n", count(lit(1)).over(Window.partitionBy()))
      .filter(when(col("__qcand_n") > maxCandidates,
        raise_error(concat(
          lit("candidate frame holds "), col("__qcand_n"),
          lit(s" rows - over the $maxCandidates-row broadcast bound; " +
            "a view with that many groups should quantile through the " +
            "keyed window form, not a maintained bucket view"))))
        .otherwise(lit(true)))
      .drop("__qcand_n")
    val localW = Window
      .partitionBy((groupCols :+ "__qb" :+ "p").map(col): _*)
      .orderBy(col(valueCol))
    rowsAfter
      .filter(col(valueCol).isNotNull)
      .withColumn("__qb", bucketIdOf(col(valueCol), lo, hi, buckets))
      .join(broadcast(cand), groupCols :+ "__qb")
      .withColumn("__rn",
        col("__cum") + row_number().over(localW).cast("long"))
      .filter(col("__rn") === col("__lo") || col("__rn") === col("__hi"))
      .groupBy((groupCols :+ "p").map(col): _*)
      .agg(
        max(when(col("__rn") === col("__lo"), col(valueCol))).as("__vlo"),
        max(when(col("__rn") === col("__hi"), col(valueCol))).as("__vhi"),
        max(col("__idx") - floor(col("__idx")).cast("double")).as("__frac"))
      .select((groupCols :+ "p").map(col) :+
        (col("__vlo").cast("double") +
          col("__frac") * (col("__vhi") - col("__vlo")).cast("double"))
          .as("value"): _*)
  }

  /** [[percentileCont]] over a MULTISET rows store (round 16 — the
    * composed-chain read face): `multisetAfter` holds one row per
    * surviving DISTINCT (group, value) pair with its derivation
    * multiplicity in `multCol` (a composed chain's final-join
    * multiset, as the ivm12 key builds it), and `counts` the
    * weighted bucket counts ([[foldCountsWeighted]]). A row spans
    * multiplicity-many consecutive ranks, so the candidate-bucket rank
    * completes through a cumulative-weight window instead of
    * row_number: row r covers ranks (cum-before + 1)..(cum-incl), and
    * the order statistic at rank k is the unique row whose span
    * contains k. Same candidate pruning, same broadcast guard, same
    * interpolation — bit-identical to expanding every multiplicity
    * into occurrence rows and running [[percentileCont]]. */
  def percentileContWeighted(
      counts: DataFrame,
      multisetAfter: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      multCol: String,
      ps: Seq[Double],
      lo: Double, hi: Double, buckets: Int,
      maxCandidates: Long = ScalableRank.MaxBroadcastCells): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      s"percentiles must lie in [0, 1], got $ps")
    val cand = candidates(counts, groupCols, ps)
      .withColumn("__qcand_n", count(lit(1)).over(Window.partitionBy()))
      .filter(when(col("__qcand_n") > maxCandidates,
        raise_error(concat(
          lit("candidate frame holds "), col("__qcand_n"),
          lit(s" rows - over the $maxCandidates-row broadcast bound; " +
            "a view with that many groups should quantile through the " +
            "keyed window form, not a maintained bucket view"))))
        .otherwise(lit(true)))
      .drop("__qcand_n")
    val localW = Window
      .partitionBy((groupCols :+ "__qb" :+ "p").map(col): _*)
      .orderBy(col(valueCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    multisetAfter
      .filter(col(valueCol).isNotNull)
      .withColumn("__qb", bucketIdOf(col(valueCol), lo, hi, buckets))
      .join(broadcast(cand), groupCols :+ "__qb")
      .withColumn("__rhi", col("__cum") + sum(col(multCol)).over(localW))
      .withColumn("__rlo", col("__rhi") - col(multCol) + 1)
      .filter((col("__rlo") <= col("__lo") && col("__lo") <= col("__rhi")) ||
        (col("__rlo") <= col("__hi") && col("__hi") <= col("__rhi")))
      .groupBy((groupCols :+ "p").map(col): _*)
      .agg(
        max(when(col("__rlo") <= col("__lo") && col("__lo") <= col("__rhi"),
          col(valueCol))).as("__vlo"),
        max(when(col("__rlo") <= col("__hi") && col("__hi") <= col("__rhi"),
          col(valueCol))).as("__vhi"),
        max(col("__idx") - floor(col("__idx")).cast("double")).as("__frac"))
      .select((groupCols :+ "p").map(col) :+
        (col("__vlo").cast("double") +
          col("__frac") * (col("__vhi") - col("__vlo")).cast("double"))
          .as("value"): _*)
  }

  /** The candidate-bucket frame for `ps`: one row per (group, bucket,
    * p) whose bucket contains that percentile's lo or hi order
    * statistic, carrying (__cum, __idx, __lo, __hi). ≤ 2·|ps| rows per
    * group — broadcastable by construction. A bucket-partitioned rows
    * store collects `__qb` off this frame to prune files. */
  def candidates(
      counts: DataFrame, groupCols: Seq[String], ps: Seq[Double]): DataFrame = {
    val g = groupCols.map(col)
    val cumW = Window.partitionBy(g: _*).orderBy(col("__qb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val nW = Window.partitionBy(g: _*)
    counts
      .withColumn("__cum", coalesce(sum(col("cnt")).over(cumW), lit(0L)))
      .withColumn("__n", sum(col("cnt")).over(nW))
      .withColumn("p", explode(array(ps.map(lit): _*)))
      .withColumn("__idx", (col("__n") - 1).cast("double") * col("p"))
      .withColumn("__lo", floor(col("__idx")).cast("long") + 1)
      .withColumn("__hi", least(col("__lo") + 1, col("__n")))
      .filter(
        (col("__cum") < col("__lo") &&
          col("__lo") <= col("__cum") + col("cnt")) ||
        (col("__cum") < col("__hi") &&
          col("__hi") <= col("__cum") + col("cnt")))
      .select((groupCols :+ "__qb").map(col) :+ col("p") :+
        col("__cum") :+ col("__idx") :+ col("__lo") :+ col("__hi"): _*)
  }
}
