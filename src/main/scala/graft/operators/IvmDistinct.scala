package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental view maintenance for COUNT(DISTINCT value) — the third
  * member of the IVM family (round 13): count/sum fold invertibly
  * (ivm1), min/max re-aggregate broken groups (ivm2), and distinct
  * counts sit between the two — non-invertible (deleting one
  * occurrence of a value says nothing about whether the value is gone)
  * but FINER than whole-group re-aggregation: the unit of truth is the
  * (group, value) PAIR, so only the delta's own pairs ever consult the
  * base data, never a whole group.
  *
  * Maintained state is two frames:
  *  - `counts` — (groupCols…, n_distinct): the view itself;
  *  - `dict`   — (groupCols…, valueCol): the view's value dictionary,
  *    one row per surviving distinct pair. |dict| = Σ n_distinct.
  *
  * Fold discipline (all delta-proportional):
  *  - insert pairs not in the dict are NEW (+1 to their group);
  *    membership is checked by scanning the dict ONCE through a
  *    broadcast semi-join on the delta's pairs — the dict is never
  *    shuffled, never re-aggregated;
  *  - delete pairs leave the dict only when NO post-delta row still
  *    carries them — checked by scanning `rowsAfter` ONCE through a
  *    broadcast semi-join on the delete pairs (the ivm2 discipline,
  *    pair-granular); a delete of a pair the dict never held fails
  *    loudly inside the plan;
  *  - the counts view then folds INVERTIBLY: n_distinct ⊕ (new −
  *    removed) per group — an aggregate-frame full-outer merge,
  *    exactly ivm1's shape. Groups at zero disappear.
  *
  * Null values follow SQL COUNT(DISTINCT): ignored entirely.
  *
  * Scale shape at 100 TB: per batch, one broadcast-pruned scan of the
  * dict, one broadcast-pruned scan of the rows store (partition-keyed
  * stores prune further — see [[graft.streaming.BucketStore]]'s
  * group-hash buckets), and
  * delta-sized everything else. The insert-only fast path never reads
  * `rowsAfter` at all (no delete pairs → an empty broadcast list — AQE
  * propagates the empty relation through the semi-join). For
  * approximate distinct counts over insert-only streams, the sketch
  * path ([[graft.functions.HllSketchAgg.foldBuffers]]) maintains a
  * fixed 256-byte buffer per group instead of a dictionary.
  */
object IvmDistinct {

  /** The maintained view recomputed from a dictionary — used to seed
    * `fold` and by specs as the invariant check:
    * counts ≡ viewOf(dict) at every step. */
  def viewOf(dict: DataFrame, groupCols: Seq[String]): DataFrame =
    dict.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_distinct"))

  /** The dictionary of a base table (distinct non-null pairs) — the
    * initial state of a maintained view. */
  def dictOf(df: DataFrame, groupCols: Seq[String], valueCol: String): DataFrame =
    df.filter(col(valueCol).isNotNull)
      .select((groupCols :+ valueCol).map(col): _*).distinct()

  /** Fold a change `delta` (`opCol` ∈ {I, D}, loud otherwise) into the
    * maintained (counts, dict) state. `rowsAfter` holds the POST-delta
    * surviving rows (groupCols…, valueCol) — consulted only for the
    * delta's own delete pairs via a broadcast semi-join. `stored =
    * None` is the empty view (first fold). Returns the state after the
    * fold; both frames are lazy plans over the inputs.
    *
    * Pruned-store contract: the dict consult only ever needs rows that
    * could match a delta pair, so `stored._2` may be PRE-PRUNED to any
    * superset of the delta's pairs (e.g. their hash-bucket partitions
    * in a [[graft.streaming.BucketStore]]). The returned counts are exact
    * either way; the returned dict then covers only the pruned slice,
    * and the caller re-attaches the untouched remainder (a partitioned
    * upsert does this by construction). Same for `rowsAfter`: any
    * superset of the delete pairs' rows is sufficient. */
  def fold(
      stored: Option[(DataFrame, DataFrame)],
      delta: DataFrame,
      rowsAfter: DataFrame,
      groupCols: Seq[String],
      opCol: String,
      valueCol: String): (DataFrame, DataFrame) = {
    val pairCols = groupCols :+ valueCol
    val g = groupCols.map(col)

    // op domain is enforced INSIDE the op value expression, not as a
    // standalone guard filter: a separate `filter(when(bad, raise))`
    // would later merge with the op = 'I' / op = 'D' split filters,
    // and BooleanSimplification rewrites one conjunct ASSUMING its
    // siblings hold (sound for the conjunction's value, unsound for a
    // side-effecting raise_error — every 'D' row would raise on the
    // insert leg). Here the raise lives in the CASE's own else branch:
    // reachable exactly when op is outside {I, D} (or NULL), on either
    // leg, and nothing can simplify it against a sibling predicate.
    val opx = when(col(opCol) === "I", lit("I"))
      .when(col(opCol) === "D", lit("D"))
      .otherwise(raise_error(
        lit(s"delta op outside {I, D} (or NULL) in '$opCol' — " +
          "refusing to fold a malformed delta into the view")))
    // opx.isNotNull is vacuous for valid rows (always 'I' or 'D') but
    // forces the op check onto EVERY delta row — including null-valued
    // ones the next conjunct drops (COUNT(DISTINCT) ignores nulls)
    val base = delta.filter(opx.isNotNull && col(valueCol).isNotNull)
    val insPairs = base.filter(opx === "I")
      .select(pairCols.map(col): _*).distinct()
    val delPairs = base.filter(opx === "D")
      .select(pairCols.map(col): _*).distinct()

    val (counts0, dict0) = stored.getOrElse {
      val emptyDict = delta.filter(lit(false)).select(pairCols.map(col): _*)
      (viewOf(emptyDict, groupCols), emptyDict)
    }

    // ONE broadcast-pruned scan of the rows store: which delete pairs
    // still have a surviving row? (distinct collapses to ≤|delPairs|)
    val survivingDel = rowsAfter
      .filter(col(valueCol).isNotNull)
      .select(pairCols.map(col): _*)
      .join(broadcast(delPairs), pairCols, "left_semi")
      .distinct()
    val removedAll = delPairs.join(survivingDel, pairCols, "left_anti")

    // ONE broadcast-pruned scan of the dict: which delta pairs does
    // the view already hold? (both legs need it: inserts to dedupe,
    // removals to validate)
    val deltaPairs = insPairs.unionByName(delPairs).distinct()
    val dictHits = dict0.join(broadcast(deltaPairs), pairCols, "left_semi")

    // new = inserted, not already held, and not erased again within
    // this same batch (insert+delete of a fresh pair nets to nothing —
    // rowsAfter is the arbiter via removedAll)
    val newPairs = insPairs
      .join(dictHits, pairCols, "left_anti")
      .join(removedAll, pairCols, "left_anti")
    val removedKnown = removedAll.join(dictHits, pairCols, "left_semi")
    // a fully-removed pair that neither the dict held NOR this batch
    // inserted is a contract violation (the delta deletes rows the
    // view never absorbed) — raise inside the plan, off the counts
    // merge below. (Removed AND inserted in the same batch is legal:
    // a fresh pair netting to nothing.)
    val phantom = removedAll
      .join(dictHits, pairCols, "left_anti")
      .join(insPairs, pairCols, "left_anti")

    val pairDelta = newPairs
      .select(g :+ lit(1L).as("__w") :+ lit(0L).as("__ph"): _*)
      .unionByName(removedKnown
        .select(g :+ lit(-1L).as("__w") :+ lit(0L).as("__ph"): _*))
      .unionByName(phantom
        .select(g :+ lit(0L).as("__w") :+ lit(1L).as("__ph"): _*))
      .groupBy(g: _*)
      .agg(sum(col("__w")).as("__dn"), sum(col("__ph")).as("__phn"))

    // the view folds invertibly — ivm1's aggregate-frame merge
    val counts = counts0.join(pairDelta, groupCols, "full_outer")
      .select(g :+
        when(coalesce(col("__phn"), lit(0L)) > 0,
          raise_error(lit("delta deletes a (group, value) pair the " +
            "view never held — refusing to fold")))
          .otherwise(
            coalesce(col("n_distinct"), lit(0L)) +
              coalesce(col("__dn"), lit(0L)))
          .as("n_distinct"): _*)
      .withColumn("n_distinct",
        when(col("n_distinct") < 0,
          raise_error(lit("distinct count went negative — the dict and " +
            "counts views have diverged (corrupt state)")))
          .otherwise(col("n_distinct")))
      .filter(col("n_distinct") > 0)

    val dict = dict0.join(broadcast(removedKnown), pairCols, "left_anti")
      .unionByName(newPairs)
    (counts, dict)
  }

  /** [[fold]] for a NET-WEIGHTED delta stream — the composed-chain
    * contract (round 16): delta rows carry `wCol` (signed NONZERO net
    * multiplicities, the [[IvmJoin.deltaJoinWeighted]] output shape)
    * and the dictionary carries the pair's MULTIPLICITY (`mCol` — how
    * many joined derivations produce the (group, value) pair), which
    * makes the whole fold INVERTIBLE: unlike the ±1 face, a weighted
    * dict never consults a rows store at all — the multiplicity IS
    * the survival arbiter (a pair leaves the view exactly when its
    * multiplicity reaches zero), so there is no `rowsAfter` argument.
    * State is (counts (groupCols…, n_distinct), wdict (groupCols…,
    * valueCol, mCol)); NULL values are ignored (SQL COUNT(DISTINCT)).
    * Refusals: zero/NULL input weights, a fold driving a pair's
    * multiplicity negative (deletes derivations the view never
    * absorbed), all inside the plan.
    *
    * Pruned-store contract (pair-level, the [[fold]] discipline):
    * `stored._2` may be pre-pruned to any superset of the delta's
    * pairs, `stored._1` to any superset of the delta's groups; the
    * returned frames then cover only the pruned slices and the caller
    * re-attaches the untouched remainder (a partitioned upsert does
    * this by construction). */
  def foldWeighted(
      stored: Option[(DataFrame, DataFrame)],
      netDelta: DataFrame,
      groupCols: Seq[String],
      wCol: String,
      valueCol: String,
      mCol: String = "__mult"): (DataFrame, DataFrame) = {
    val pairCols = groupCols :+ valueCol
    val g = groupCols.map(col)
    val w = when(col(wCol).isNull || col(wCol) === 0,
      raise_error(lit(s"zero/NULL multiplicity in '$wCol' — refusing " +
        "to fold a malformed weighted delta into the view")))
      .otherwise(col(wCol))
    // compress to one row per pair (the merge's full-outer join needs
    // it); pairs netting to zero change nothing and drop here
    val dAgg = netDelta.filter(col(valueCol).isNotNull)
      .groupBy(pairCols.map(col): _*)
      .agg(sum(w).as("__dm")).filter(col("__dm") =!= 0)

    val (counts0, wdict0) = stored.getOrElse {
      val emptyDict = netDelta.filter(lit(false))
        .select(pairCols.map(col) :+ lit(0L).as(mCol): _*)
      (viewOf(emptyDict, groupCols), emptyDict)
    }

    val merged = wdict0.join(dAgg, pairCols, "full_outer")
      .select(pairCols.map(col) :+ col(mCol).as("__m0") :+
        when(coalesce(col(mCol), lit(0L)) + coalesce(col("__dm"), lit(0L)) < 0,
          raise_error(lit("weighted fold drives a pair's multiplicity " +
            "negative — the delta deletes derivations the view never " +
            "absorbed")))
          .otherwise(coalesce(col(mCol), lit(0L)) +
            coalesce(col("__dm"), lit(0L)))
          .as("__m1") :+ col("__dm"): _*)
    val dict1 = merged.filter(col("__m1") > 0)
      .select(pairCols.map(col) :+ col("__m1").as(mCol): _*)

    // per-group distinct-count change: +1 for a pair entering (no
    // stored multiplicity), −1 for a pair leaving (multiplicity to
    // zero) — then ivm1's invertible aggregate-frame merge
    val pairDelta = merged.filter(col("__dm").isNotNull)
      .select(g :+
        (when(col("__m0").isNull, 1L)
          .when(col("__m1") === 0, -1L)
          .otherwise(0L)).as("__chg"): _*)
      .groupBy(g: _*)
      .agg(sum(col("__chg")).as("__dn"))
      .filter(col("__dn") =!= 0)

    val counts1 = counts0.join(pairDelta, groupCols, "full_outer")
      .select(g :+
        (coalesce(col("n_distinct"), lit(0L)) +
          coalesce(col("__dn"), lit(0L))).as("n_distinct"): _*)
      .withColumn("n_distinct",
        when(col("n_distinct") < 0,
          raise_error(lit("distinct count went negative — the wdict and " +
            "counts views have diverged (corrupt state)")))
          .otherwise(col("n_distinct")))
      .filter(col("n_distinct") > 0)

    (counts1, dict1)
  }
}
