package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Seeded-random model checking for the round-13 IVM members: random
  * multi-batch CDC sequences (deletes sampled from the live state, so
  * every delta is contract-valid) folded through the operators must
  * track a plain-Scala model of the surviving multiset — distinct
  * counts, exact quantiles, and join-view sums — at every step. This
  * is the coverage the hand-picked shapes can't give: arbitrary
  * interleavings of duplicate inserts, partial deletes, group
  * emptyings, and re-insertions. */
@org.scalatest.tags.Slow
class IvmFamilyPropertySpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.GraftSession.local("4", "ivm-props")
  import spark.implicits._

  private val Groups = Seq("a", "b", "c")

  test("IvmDistinct tracks the model across random CDC sequences (seeded)") {
    val rnd = new scala.util.Random(130301)
    for (scenario <- 1 to 5) {
      val state = scala.collection.mutable.ArrayBuffer[(String, Long)]()
      var st: Option[(DataFrame, DataFrame)] = None
      for (step <- 1 to 3) {
        val nDel = rnd.nextInt(math.min(4, state.size + 1))
        val dels = rnd.shuffle(state.toList).take(nDel)
        dels.foreach(d => state.remove(state.indexOf(d)))
        val ins = Seq.fill(1 + rnd.nextInt(4))(
          (Groups(rnd.nextInt(3)), rnd.nextInt(8).toLong))
        ins.foreach(state += _)
        val delta = (dels.map(t => (t._1, "D", t._2)) ++
          ins.map(t => (t._1, "I", t._2))).toDF("g", "op", "v")
        val after = state.toSeq.toDF("g", "v")
        val (c, d) = IvmDistinct.fold(st, delta, after, Seq("g"), "op", "v")
        val cc = c.localCheckpoint(true); val dd = d.localCheckpoint(true)
        st = Some((cc, dd))
        val want = state.groupBy(_._1).view
          .mapValues(_.map(_._2).distinct.size.toLong).toMap
        val got = cc.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(got == want, s"scenario $scenario step $step: $got vs $want")
        val wantDict = state.map(t => (t._1, t._2)).distinct.sorted
        val gotDict = dd.collect().map(r => (r.getString(0), r.getLong(1)))
          .sorted.toSeq
        assert(gotDict == wantDict, s"scenario $scenario step $step dict")
      }
    }
  }

  test("IvmQuantile tracks the sort-form model across random CDC sequences (seeded)") {
    val rnd = new scala.util.Random(130302)
    val Lo = 0.0; val Hi = 100.0; val B = 8
    val Ps = Seq(0.0, 0.33, 0.5, 0.75, 1.0)
    def modelPercentiles(state: Seq[(String, Double)]): Map[(String, Double), Double] =
      state.groupBy(_._1).flatMap { case (g, rows) =>
        val vs = rows.map(_._2).sorted
        val n = vs.size
        Ps.map { p =>
          val idx = (n - 1).toDouble * p
          val lo = math.floor(idx).toLong + 1
          val hi = math.min(lo + 1, n.toLong)
          val frac = idx - math.floor(idx)
          val v = vs((lo - 1).toInt) + frac * (vs((hi - 1).toInt) - vs((lo - 1).toInt))
          (g, p) -> v
        }
      }
    for (scenario <- 1 to 5) {
      val state = scala.collection.mutable.ArrayBuffer[(String, Double)]()
      var counts: Option[DataFrame] = None
      for (step <- 1 to 3) {
        val nDel = rnd.nextInt(math.min(4, state.size + 1))
        val dels = rnd.shuffle(state.toList).take(nDel)
        dels.foreach(d => state.remove(state.indexOf(d)))
        val ins = Seq.fill(1 + rnd.nextInt(4))(
          (Groups(rnd.nextInt(3)), rnd.nextInt(41) * 2.5))
        ins.foreach(state += _)
        val delta = (dels.map(t => (t._1, "D", t._2)) ++
          ins.map(t => (t._1, "I", t._2))).toDF("g", "op", "v")
        val c = IvmQuantile.foldCounts(counts, delta, Seq("g"), "op", "v",
          Lo, Hi, B).localCheckpoint(true)
        counts = Some(c)
        val got = IvmQuantile.percentileCont(c, state.toSeq.toDF("g", "v"),
            Seq("g"), "v", Ps, Lo, Hi, B)
          .collect()
          .map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
        val want = modelPercentiles(state.toSeq)
        assert(got == want, s"scenario $scenario step $step: $got vs $want")
      }
    }
  }

  test("IvmJoin tracks the join-view model across random two-sided CDC sequences (seeded)") {
    val rnd = new scala.util.Random(130303)
    def modelView(r: Seq[(Long, Double)], s: Seq[(Long, String)]): Map[String, (Long, Double)] =
      (for { (rk, rv) <- r; (sk, g) <- s if rk == sk } yield (g, rv))
        .groupBy(_._1).view.mapValues { rows =>
          (rows.size.toLong,
            rows.map(t => BigDecimal(t._2)).sum.toDouble)
        }.toMap
    for (scenario <- 1 to 5) {
      val rState = scala.collection.mutable.ArrayBuffer[(Long, Double)]()
      val sState = scala.collection.mutable.ArrayBuffer[(Long, String)]()
      var view: Option[DataFrame] = None
      for (step <- 1 to 3) {
        val rBefore = rState.toSeq; val sBefore = sState.toSeq
        val rDels = rnd.shuffle(rState.toList).take(rnd.nextInt(math.min(3, rState.size + 1)))
        rDels.foreach(d => rState.remove(rState.indexOf(d)))
        val rIns = Seq.fill(1 + rnd.nextInt(3))(
          (rnd.nextInt(4).toLong, (rnd.nextInt(400) + 1) / 4.0))
        rIns.foreach(rState += _)
        val sDels = rnd.shuffle(sState.toList).take(rnd.nextInt(math.min(2, sState.size + 1)))
        sDels.foreach(d => sState.remove(sState.indexOf(d)))
        val sIns = Seq.fill(rnd.nextInt(3))(
          (rnd.nextInt(4).toLong, Groups(rnd.nextInt(3))))
        sIns.foreach(sState += _)
        val dR = (rDels.map(t => (t._1, t._2, "D")) ++
          rIns.map(t => (t._1, t._2, "I"))).toDF("k", "rv", "op")
        val dS = (sDels.map(t => (t._1, t._2, "D")) ++
          sIns.map(t => (t._1, t._2, "I"))).toDF("k", "g", "op")
        val folded = IvmJoin.foldSumView(view, dR, dS,
            rBefore.toDF("k", "rv"), sBefore.toDF("k", "g"),
            Seq("k"), Seq("g"), "rv", "op")
          .localCheckpoint(true)
        view = Some(folded)
        val got = folded.collect()
          .map(r => r.getString(0) ->
            (r.getLong(1), r.getDecimal(2).doubleValue())).toMap
        val want = modelView(rState.toSeq, sState.toSeq)
        assert(got == want, s"scenario $scenario step $step: $got vs $want")
      }
    }
  }

  test("IvmTopK tracks the model across random CDC sequences (seeded)") {
    val rnd = new scala.util.Random(130304)
    val K = 2
    def modelTopK(state: Seq[(String, Long)]): Set[(String, Int, Long, Long)] =
      state.groupBy(_._1).flatMap { case (g, rows) =>
        rows.groupBy(_._2).view.mapValues(_.size.toLong).toSeq
          .sortBy { case (k, c) => (-c, k) }
          .take(K).zipWithIndex
          .map { case ((k, c), i) => (g, i + 1, k, c) }
      }.toSet
    for (scenario <- 1 to 5) {
      val state = scala.collection.mutable.ArrayBuffer[(String, Long)]()
      var st: Option[(DataFrame, DataFrame)] = None
      for (step <- 1 to 3) {
        val nDel = rnd.nextInt(math.min(4, state.size + 1))
        val dels = rnd.shuffle(state.toList).take(nDel)
        dels.foreach(d => state.remove(state.indexOf(d)))
        val ins = Seq.fill(1 + rnd.nextInt(4))(
          (Groups(rnd.nextInt(3)), rnd.nextInt(5).toLong))
        ins.foreach(state += _)
        val delta = (dels.map(t => (t._1, "D", t._2)) ++
          ins.map(t => (t._1, "I", t._2))).toDF("g", "op", "ck")
        val (t, c) = IvmTopK.fold(st, delta, Seq("g"), "op", "ck", K)
        val tt = t.localCheckpoint(true); val cc = c.localCheckpoint(true)
        st = Some((tt, cc))
        val wantCounts = state.groupBy(identity).view
          .mapValues(_.size.toLong).toSeq
          .map { case ((g, k), c2) => (g, k, c2) }.toSet
        val gotCounts = cc.collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        assert(gotCounts == wantCounts,
          s"scenario $scenario step $step counts: $gotCounts vs $wantCounts")
        val got = tt.collect()
          .map(r => (r.getString(0), r.getInt(3), r.getLong(1), r.getLong(2)))
          .toSet
        val want = modelTopK(state.toSeq)
        assert(got == want, s"scenario $scenario step $step: $got vs $want")
      }
    }
  }

  test("IvmTopK weighted face tracks the model across random CDC sequences (seeded)") {
    val rnd = new scala.util.Random(130305)
    val K = 2
    def modelTopK(state: Seq[(String, Long, Long)]): Set[(String, Int, Long, Long)] =
      state.groupBy(_._1).flatMap { case (g, rows) =>
        rows.groupBy(_._2).view.mapValues(_.map(_._3).sum).toSeq
          .sortBy { case (k, s) => (-s, k) }
          .take(K).zipWithIndex
          .map { case ((k, s), i) => (g, i + 1, k, s) }
      }.toSet
    for (scenario <- 1 to 5) {
      val state = scala.collection.mutable.ArrayBuffer[(String, Long, Long)]()
      var st: Option[(DataFrame, DataFrame)] = None
      for (step <- 1 to 3) {
        val nDel = rnd.nextInt(math.min(4, state.size + 1))
        val dels = rnd.shuffle(state.toList).take(nDel)
        dels.foreach(d => state.remove(state.indexOf(d)))
        val ins = Seq.fill(1 + rnd.nextInt(4))(
          (Groups(rnd.nextInt(3)), rnd.nextInt(5).toLong,
            1L + rnd.nextInt(5)))
        ins.foreach(state += _)
        val delta = (dels.map(t => (t._1, "D", t._2, t._3)) ++
          ins.map(t => (t._1, "I", t._2, t._3))).toDF("g", "op", "ck", "w")
        val (t, c) = IvmTopK.fold(st, delta, Seq("g"), "op", "ck", K,
          Some("w"))
        val tt = t.localCheckpoint(true); val cc = c.localCheckpoint(true)
        st = Some((tt, cc))
        val wantCounts = state.groupBy(r => (r._1, r._2)).view
          .mapValues(_.map(_._3).sum).toSeq
          .map { case ((g, k), s) => (g, k, s) }.toSet
        val gotCounts = cc.collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        assert(gotCounts == wantCounts,
          s"scenario $scenario step $step counts: $gotCounts vs $wantCounts")
        val got = tt.collect()
          .map(r => (r.getString(0), r.getInt(3), r.getLong(1), r.getLong(2)))
          .toSet
        val want = modelTopK(state.toSeq)
        assert(got == want, s"scenario $scenario step $step: $got vs $want")
      }
    }
  }

  test("composed pipeline (deltaJoin → compress → deltaJoin → foldAggSigned) tracks the three-way model (seeded)") {
    // the ivm7 kernel algebra (the signed, many-to-one form of the
    // weighted multiset chain ivm8 checks) under arbitrary CDC
    // interleavings on ALL THREE bases at once — reprices landing on
    // dying orders (stage-1 cross-term cancellations), upstream deltas
    // landing on moved dims (stage-2 cross term), groups emptying and
    // reappearing. Two invariants per step: the COMPRESSED stage-1
    // delta equals the model's signed multiset diff of L⋈O, and the
    // maintained view equals the three-way recompute.
    val rnd = new scala.util.Random(130314)
    // rows: L = (lk, ok, price), O = (ok, ck), C = (ck, g) — plain
    // tuple types (a method-local type alias has no TypeTag, so the
    // implicit toDF enrichment would not resolve)
    def joinLO(l: Seq[(Long, Long, Double)],
        o: Seq[(Long, Long)]): Seq[(Long, Long, Double)] =
      for { (lk, ok, p) <- l; (ok2, ck) <- o if ok == ok2 } yield (lk, ck, p)
    def modelView(l: Seq[(Long, Long, Double)], o: Seq[(Long, Long)],
        c: Seq[(Long, String)]): Map[String, (Long, Double)] =
      (for { (_, ck, p) <- joinLO(l, o); (ck2, g) <- c if ck == ck2 }
        yield (g, p))
        .groupBy(_._1).view.mapValues(rows =>
          (rows.size.toLong, rows.map(t => BigDecimal(t._2)).sum.toDouble))
        .toMap
    for (scenario <- 1 to 5) {
      val lState = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
      val oState = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      val cState = scala.collection.mutable.ArrayBuffer[(Long, String)]()
      var view: Option[DataFrame] = None
      for (step <- 1 to 3) {
        val lBefore = lState.toSeq; val oBefore = oState.toSeq
        val cBefore = cState.toSeq
        // deletes sampled from live state; inserts pick keys free AFTER
        // the deletes, so a key deleted and re-inserted in one batch (a
        // reprice / re-point) is a reachable, regularly-hit case
        val lDels = rnd.shuffle(lState.toList)
          .take(rnd.nextInt(math.min(3, lState.size + 1)))
        lDels.foreach(d => lState.remove(lState.indexOf(d)))
        val lIns = rnd.shuffle(
            (0L to 9L).filterNot(k => lState.exists(_._1 == k)).toList)
          .take(1 + rnd.nextInt(3))
          .map(lk => (lk, rnd.nextInt(4).toLong, (rnd.nextInt(400) + 1) / 4.0))
        lIns.foreach(lState += _)
        val oDels = rnd.shuffle(oState.toList)
          .take(rnd.nextInt(math.min(2, oState.size + 1)))
        oDels.foreach(d => oState.remove(oState.indexOf(d)))
        val oIns = rnd.shuffle(
            (0L to 3L).filterNot(k => oState.exists(_._1 == k)).toList)
          .take(rnd.nextInt(3))
          .map(ok => (ok, rnd.nextInt(3).toLong))
        oIns.foreach(oState += _)
        val cDels = rnd.shuffle(cState.toList)
          .take(rnd.nextInt(math.min(2, cState.size + 1)))
        cDels.foreach(d => cState.remove(cState.indexOf(d)))
        val cIns = rnd.shuffle(
            (0L to 2L).filterNot(k => cState.exists(_._1 == k)).toList)
          .take(rnd.nextInt(3))
          .map(ck => (ck, Groups(rnd.nextInt(3))))
        cIns.foreach(cState += _)

        val dL = (lDels.map(t => (t._1, t._2, t._3, "D")) ++
          lIns.map(t => (t._1, t._2, t._3, "I")))
          .toDF("lk", "ok", "price", "op")
        val dO = (oDels.map(t => (t._1, t._2, "D")) ++
          oIns.map(t => (t._1, t._2, "I"))).toDF("ok", "ck", "op")
        val dC = (cDels.map(t => (t._1, t._2, "D")) ++
          cIns.map(t => (t._1, t._2, "I"))).toDF("ck", "g", "op")

        // stage 1 + net-compress to signed rows (many-to-one: |net| ≤ 1)
        val d1 = IvmJoin.deltaJoin(dL, dO,
          lBefore.toDF("lk", "ok", "price"), oBefore.toDF("ok", "ck"),
          Seq("ok"), "op", Seq("lk", "ck", "price"))
        val dlo = d1
          .withColumn("__w", when(col("op") === "I", 1L).otherwise(-1L))
          .groupBy(col("lk"), col("ck"), col("price"))
          .agg(sum(col("__w")).as("__net"))
          .filter(col("__net") =!= 0)
          .withColumn("op", when(col("__net") === 1, "I").otherwise("D"))
          .drop("__net")
          .localCheckpoint(true)
        // invariant 1: compressed stage-1 delta ≡ the model's signed
        // multiset diff of L⋈O (lk unique ⇒ every net is ±1)
        val loB = joinLO(lBefore, oBefore)
        val loA = joinLO(lState.toSeq, oState.toSeq)
        val wantDlo = ((loA.toSet -- loB.toSet).map(t => t -> 1L) ++
          (loB.toSet -- loA.toSet).map(t => t -> -1L)).toMap
        val gotDlo = dlo.collect().map(r =>
          ((r.getLong(0), r.getLong(1), r.getDouble(2)),
            if (r.getString(3) == "I") 1L else -1L)).toMap
        assert(gotDlo == wantDlo,
          s"scenario $scenario step $step dlo: $gotDlo vs $wantDlo")

        // stage 2 + fold — upstream delta as this join's ΔR, the
        // PRE-step intermediate as its R
        val d2 = IvmJoin.deltaJoin(dlo, dC,
          loB.toDF("lk", "ck", "price"), cBefore.toDF("ck", "g"),
          Seq("ck"), "op", Seq("g", "price"))
        val folded = IvmJoin.foldAggSigned(view, d2, Seq("g"), "price", "op")
          .localCheckpoint(true)
        view = Some(folded)
        val got = folded.collect()
          .map(r => r.getString(0) ->
            (r.getLong(1), r.getDecimal(2).doubleValue())).toMap
        val want = modelView(lState.toSeq, oState.toSeq, cState.toSeq)
        assert(got == want, s"scenario $scenario step $step: $got vs $want")
      }
    }
  }
}
