package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.graft.ExprBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** A collected coarse-quantizer centroid table, sorted ascending by id,
  * plus the nearest-centroid argmax the IVF/kmeans assignment stage
  * runs per corpus row (round 17, the r16 verdict's kmeans item).
  *
  * Replaces the `crossJoin(broadcast(cents)) → groupBy(id, v, n)
  * .agg(max(struct(cos, -cent_id)))` assignment shape: the argmax over
  * a row's C candidate cosines needs no exchange at all — the
  * centroids are already a driver-side table (they are counted/
  * materialized per Lloyd round anyway), so the whole assignment
  * becomes ONE codegen'd projection and the per-round corpus-sized
  * shuffle of (id, vector, norm) rows disappears. At 100 TB the
  * centroid table is the √n-row quantizer (~30k rows × dim doubles ≈
  * tens of MB) — the same order as a broadcast hash relation, held
  * once per executor via the plan's reference array rather than once
  * per task.
  *
  * Value-identical to the join/aggregate shape, field by field:
  *   - cosine = VectorDot(v, cv_j) / (n * cn_j) — same left-to-right
  *     fold, same null semantics (length mismatch or null element →
  *     null cosine);
  *   - ordering = Spark's struct(cos, -cent_id) max: null cosine sorts
  *     below every value, NaN above (SQLOrderingUtil.compareDoubles),
  *     ties break to the LOWEST centroid id;
  *   - a null input vector/norm is handled at the call site
  *     (coalesce to the lowest centroid id — what max(struct(null,
  *     -cent_id)) produced);
  *   - a zero divisor (n * cn_j == 0, e.g. a zero-norm row, or a norm
  *     product that underflows) under a non-null dot product raises
  *     Spark's ANSI `DIVIDE_BY_ZERO`, as the ANSI `Divide` of the old
  *     shape did. A row whose cosines would all be NaN is a broken
  *     embedding, never silently assigned. The error is raised whatever
  *     `spark.sql.ansi.enabled` says.
  * One documented divergence: the old groupBy(id, v, n) collapsed
  * EXACTLY-duplicate (id, v, n) rows into one assignment row; the
  * map-side form preserves input multiplicity. Every caller feeds
  * unique ids (the oracle mirrors themselves assume it — their
  * row_number() PARTITION BY id picks one row per id).
  */
final class CentroidSet private (
    val ids: Array[Long],
    private val cvs: Array[Array[Double]], // null entry = cosine always null
    private val cns: Array[Double],
    private val cnNull: Array[Boolean]) extends Serializable {

  def size: Int = ids.length
  def isEmpty: Boolean = ids.length == 0
  def minId: Long = ids(0)
  /** Static vector width, from the first well-formed centroid — the
    * fixed-dim contract every embedding caller already obeys. */
  def dim: Option[Int] = cvs.collectFirst { case cv if cv != null => cv.length }

  /** Nearest centroid id of (v, n) — see the class doc for the exact
    * ordering and zero-divisor contract. Assumes non-empty; `v`/`n`
    * non-null (the null face is the call-site coalesce). */
  def assign(v: ArrayData, n: Double): Long = {
    var bestIdx = 0
    var bestNull = true
    var bestCos = 0.0
    var j = 0
    while (j < ids.length) {
      var cosNull = false
      var cos = 0.0
      val cv = cvs(j)
      if (cv == null || cnNull(j)) cosNull = true
      else {
        val len = v.numElements()
        if (len != cv.length) cosNull = true
        else {
          var s = 0.0
          var i = 0
          while (i < len && !cosNull) {
            if (v.isNullAt(i)) cosNull = true
            else { s += v.getDouble(i) * cv(i); i += 1 }
          }
          if (!cosNull) {
            val d = n * cns(j)
            if (d == 0.0) throw ExprBridge.divideByZero()
            cos = s / d
          }
        }
      }
      if (j == 0) { bestNull = cosNull; bestCos = cos }
      else if (!cosNull && (bestNull ||
          SQLOrderingUtil.compareDoubles(cos, bestCos) > 0)) {
        bestIdx = j; bestNull = false; bestCos = cos
      }
      j += 1
    }
    ids(bestIdx)
  }
}

object CentroidSet {
  /** Build from (id, vector, norm) triples; sorts ascending by id (the
    * tie-break order). A null vector / null element / null norm marks
    * that centroid's cosine permanently null — exactly what the
    * VectorDot-based cosine produced for it. */
  def apply(rows: Seq[(Long, Option[Array[Double]], Option[Double])]): CentroidSet = {
    val sorted = rows.sortBy(_._1).toArray
    new CentroidSet(
      sorted.map(_._1),
      sorted.map(_._2.orNull),
      sorted.map(_._3.getOrElse(0.0)),
      sorted.map(_._3.isEmpty))
  }
}

/** `nearest_centroid(v, n)` — the codegen'd argmax over a [[CentroidSet]].
  * Null-intolerant like the dot product it wraps: a null vector or norm
  * yields null, which callers coalesce to the set's lowest id (the
  * join/aggregate shape's output for that row). */
case class NearestCentroid(left: Expression, right: Expression,
    cents: CentroidSet) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _), DoubleType) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"nearest_centroid requires (array<double>, double), got " +
        s"${l.simpleString} and ${r.simpleString}")
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any =
    cents.assign(a.asInstanceOf[ArrayData], b.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, n) => {
      val ref = ctx.addReferenceObj("cents", cents, "graft.plans.CentroidSet")
      s"${ev.value} = $ref.assign($v, $n);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCentroid =
    copy(left = newLeft, right = newRight)
}

object NearestCentroid {
  /** Column API: nearest-centroid id of (vector, norm). */
  def apply(v: Column, n: Column, cents: CentroidSet): Column =
    ExprBridge.column(NearestCentroid(
      ExprBridge.expression(v.cast("array<double>")),
      ExprBridge.expression(n.cast("double")), cents))
}
