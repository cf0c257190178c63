package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The r17 map-side nearest-centroid assignment
  * ([[graft.plans.CentroidSet]]/[[graft.plans.NearestCentroid]]) must
  * be VALUE-IDENTICAL to the join/aggregate shape it replaced:
  * `crossJoin(broadcast(cents)).groupBy(id, v, n)
  *   .agg(max(struct(cos, -cent_id)))`.
  * These tests drive both shapes over adversarial inputs — ties,
  * null elements, length mismatches — and require identical
  * assignments row for row. Zero-norm rows (all-NaN cosines) must make
  * BOTH shapes raise the ANSI `DIVIDE_BY_ZERO` error.
  */
class NearestCentroidSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.GraftSession.local("4", "nearest-centroid-test")

  /** The PRE-r17 assignment shape, kept here as the executable
    * specification the map-side form is checked against. */
  private def assignOld(c: DataFrame, cents: DataFrame): DataFrame =
    c.crossJoin(broadcast(cents))
      .withColumn("cent_cos",
        Similarity.dot(col("v"), col("cent_v")) / (col("n") * col("cent_n")))
      .groupBy(col("id"), col("v"), col("n"))
      .agg(max(struct(col("cent_cos"), (-col("cent_id")).as("neg_cent"))).as("best"))
      .select(col("id"), (-col("best.neg_cent")).as("list_id"))

  private def prep(df: DataFrame): DataFrame =
    df.select(col("id"), col("v").cast("array<double>").as("v"))
      .withColumn("n", sqrt(Similarity.dot(col("v"), col("v"))))

  private def centroids(c: DataFrame, centIds: Seq[Long]): DataFrame =
    c.filter(col("id").isin(centIds: _*))
      .select(col("id").as("cent_id"), col("v").as("cent_v"), col("n").as("cent_n"))

  private def collected(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def oldShape(corpus: DataFrame, centIds: Seq[Long]): Map[Long, Long] = {
    val c = prep(corpus)
    collected(assignOld(c, centroids(c, centIds)))
  }

  /** The map-side form over a set built directly from the centroid rows
    * (the public ivfAssign cannot take arbitrary centroid ids). */
  private def newShape(corpus: DataFrame, centIds: Seq[Long]): Map[Long, Long] = {
    val c = prep(corpus)
    val rows = centroids(c, centIds).select(col("cent_id").cast("long"),
      col("cent_v"), col("cent_n")).collect()
    val set = graft.plans.CentroidSet(rows.toSeq.map { r =>
      val cv = if (r.isNullAt(1)) None else {
        val s = r.getSeq[Any](1)
        if (s.contains(null)) None else Some(s.map(_.asInstanceOf[Double]).toArray)
      }
      (r.getLong(0), cv, if (r.isNullAt(2)) None else Some(r.getDouble(2)))
    })
    collected(c.select(col("id"),
      coalesce(graft.plans.NearestCentroid(col("v"), col("n"), set), lit(set.minId))))
  }

  private def check(corpus: DataFrame, centIds: Seq[Long]): Unit = {
    val (old, neu) = (oldShape(corpus, centIds), newShape(corpus, centIds))
    assert(old.keySet == neu.keySet, s"row sets differ: $old vs $neu")
    old.keySet.foreach { id =>
      assert(old(id) == neu(id), s"id $id: old=${old(id)} new=${neu(id)}")
    }
  }

  private def raisesDivideByZero(body: => Any): Boolean = {
    val e = intercept[Exception](body)
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("DIVIDE_BY_ZERO"))
  }

  test("plain corpus: identical assignments, including exact cosine ties") {
    import spark.implicits._
    val corpus = Seq(
      (0L, Array(1.0, 0.0, 0.0)),   // centroid
      (1L, Array(0.0, 1.0, 0.0)),   // centroid
      (2L, Array(1.0, 1.0, 0.0)),   // exact tie between 0 and 1 → lowest id
      (3L, Array(0.2, 0.9, 0.0)),
      (4L, Array(-1.0, -1.0, 0.0)), // tie on the negative side
      (5L, Array(0.9, 0.2, 0.1))
    ).toDF("id", "v")
    check(corpus, Seq(0L, 1L))
  }

  test("zero-norm rows (all-NaN cosines) raise DIVIDE_BY_ZERO in both shapes") {
    import spark.implicits._
    val cents = Seq((0L, Array(1.0, 0.0)), (7L, Array(0.0, 1.0)))
    Seq(
      (2L, Array(0.0, 0.0)),        // zero norm → NaN cosine everywhere
      (3L, Array(1e-300, 0.0)),     // denormal-ish: its norm underflows to 0
      (4L, Array(-0.0, 0.0))        // negative zero vector
    ).foreach { row =>
      val corpus = (cents :+ row).toDF("id", "v")
      assert(raisesDivideByZero(oldShape(corpus, Seq(0L, 7L))), s"old shape, id ${row._1}")
      assert(raisesDivideByZero(newShape(corpus, Seq(0L, 7L))), s"new shape, id ${row._1}")
    }
    // zero-norm-adjacent values with a nonzero divisor still agree
    check((cents :+ ((5L, Array(1e-150, 0.0))) :+ ((6L, Array(1e-160, 1e-160))))
      .toDF("id", "v"), Seq(0L, 7L))
  }

  test("null elements and length mismatches (null cosines) agree") {
    import spark.implicits._
    val corpus = Seq(
      (0L, Seq[java.lang.Double](1.0, 0.0)),
      (5L, Seq[java.lang.Double](0.0, 1.0)),
      (2L, Seq[java.lang.Double](1.0, null)),     // null element → null cosine
      (3L, Seq[java.lang.Double](1.0, 0.0, 0.0)), // length mismatch → null cosine
      (4L, Seq[java.lang.Double](0.5, 0.5))
    ).toDF("id", "v")
    check(corpus, Seq(0L, 5L))
  }

  test("kmeansCentroids: value-identical centroids vs the posexplode recompute at every round") {
    import spark.implicits._
    val corpus = (0 until 60).map { i =>
      val v = Array.tabulate(6)(d => math.sin(i * 1.7 + d) + (if (i % 9 == 0) 0.0 else 0.3 * d))
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val got = Similarity.kmeansCentroids(corpus, "vec_id", "embedding", 13, 2, 2)
    // executable specification: the pre-r17 recompute of the same rounds
    def prepAll(df: DataFrame) =
      df.select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("n", sqrt(Similarity.dot(col("v"), col("v"))))
    def assignFull(c: DataFrame, cents: DataFrame) =
      c.crossJoin(broadcast(cents))
        .withColumn("cent_cos",
          Similarity.dot(col("v"), col("cent_v")) / (col("n") * col("cent_n")))
        .groupBy(col("id"), col("v"), col("n"))
        .agg(max(struct(col("cent_cos"), (-col("cent_id")).as("neg_cent"))).as("best"))
        .select(col("id"), col("v"), col("n"), (-col("best.neg_cent")).as("list_id"))
    val c = prepAll(corpus)
    var cents = c.filter(col("id") % 13 === 2)
      .select(col("id").as("cent_id"), col("v").as("cent_v"), col("n").as("cent_n"))
      .filter(col("cent_n") > 0)
    (1 to 2).foreach { _ =>
      cents = assignFull(c, cents)
        .select(col("list_id"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("list_id"), col("pos"))
        .agg((sum(graft.core.Exact.dec(col("x"), 38, 18)).cast("double") /
          count(col("x"))).as("m"))
        .groupBy(col("list_id"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("cent_v"))
        .select(col("list_id").as("cent_id"), col("cent_v"),
          sqrt(Similarity.dot(col("cent_v"), col("cent_v"))).as("cent_n"))
        .filter(col("cent_n") > 0)
    }
    val want = cents.orderBy("cent_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toList, r.getDouble(2)))
    val have = got.orderBy("cent_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toList, r.getDouble(2)))
    got.unpersist()
    assert(have.length == want.length && have.length > 1)
    // bit-identical doubles, not approximate: the oracle hash-matches
    have.zip(want).foreach { case (h, w) => assert(h == w, s"$h != $w") }
  }
}
