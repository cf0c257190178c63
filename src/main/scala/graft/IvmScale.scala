package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{IvmDistinct, IvmJoin}

/** Measured proof of [[graft.operators.IvmFold]]'s incremental-cost
  * claims, in the AppendScale discipline: fold a FIXED 10k-row delta
  * into a maintained (count, sum, min, max) view while the standing
  * ROWS store grows 10×, in the two regimes the operator separates:
  *
  *  - **merge-only** — no delete touches a stored extremum: the fold
  *    must be delta-sized. The re-agg leg's semi-join build side (the
  *    affected-group list) is empty at runtime, and AQE's
  *    empty-relation propagation is expected to erase the rows-store
  *    scan entirely — this probe is the measured check that it does
  *    (a ~10× ratio here would mean the leg silently re-scans the
  *    store every batch and the operator needs an explicit gate).
  *  - **extremum-breaking** — the delta deletes the max row of a fixed
  *    100 groups: the re-agg leg reads the rows store through the
  *    broadcast semi-join. With the store as flat parquet the scan is
  *    store-sized — the honest price of non-invertibility; a keyed
  *    production store prunes it to the affected partitions.
  *
  * Protocol: standing state at N and 10N rows (1000 groups, values =
  * ids, so each group's extremes are knowable without a scan); stored
  * aggregate and rows store both read back from parquet so the timed
  * window folds — never rebuilds — the view. Median of
  * `SPARK_GRAFT_SCALE_ITERS` (default 3). Appends a section to
  * SCALING.md.
  */
object IvmScale {

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val m = if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    math.rint(m * 1000) / 1000
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/graft_ivm_scale")
    val iters = math.max(1, sys.env.getOrElse("SPARK_GRAFT_SCALE_ITERS", "3").toInt)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // section filter (round 14): SPARK_GRAFT_IVM_SECTIONS=r14smb appends
    // only the named section(s) instead of re-measuring and re-appending
    // every table (the r13→r14 duplicate-section hygiene issue)
    val wanted = sys.env.get("SPARK_GRAFT_IVM_SECTIONS")
      .map(_.split(",").map(_.trim).toSet)
    def on(k: String): Boolean = wanted.forall(_.contains(k))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val groups = 1000L
    val batchN = 10000L
    val breakGroups = 100L

    // rows: id ∈ [0, n), g = id % groups, v = id — group g's max row is
    // the largest id ≡ g (mod groups), i.e. n - groups + g for n % groups = 0
    def build(n: Long): (DataFrame, DataFrame) = {
      val rowsDir = s"$out/rows_$n"
      val aggDir = s"$out/agg_$n"
      val rows = spark.range(0L, n).toDF("id")
        .withColumn("g", col("id") % groups)
        .withColumn("v", col("id").cast("double"))
      rows.write.mode("overwrite").parquet(rowsDir)
      import graft.core.Exact.dec
      spark.read.parquet(rowsDir).groupBy(col("g"))
        .agg(count(lit(1)).as("n"), sum(dec(col("v"))).as("s"),
          min(col("v")).as("mn"), max(col("v")).as("mx"))
        .write.mode("overwrite").parquet(aggDir)
      (spark.read.parquet(rowsDir), spark.read.parquet(aggDir))
    }

    def timeFold(stored: DataFrame, delta: DataFrame,
        rowsAfter: DataFrame): Double = {
      val samples = (1 to iters).map { _ =>
        val t0 = System.nanoTime()
        graft.operators.IvmFold
          .foldMinMax(Some(stored), delta, rowsAfter, Seq("g"), "op", "v")
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      median(samples)
    }

    // merge-only: delete 5k mid-range rows (never a group extremum:
    // ids in [n/2, n/2+5k) while extremes sit at ids < groups and
    // ids ≥ n - groups) and insert 5k fresh rows above every stored
    // max (inserts extend extremes exactly through least/greatest —
    // still the merge path)
    def mergeDelta(n: Long, rows: DataFrame): (DataFrame, DataFrame) = {
      val delLo = n / 2
      val dels = spark.range(delLo, delLo + batchN / 2).toDF("id")
        .select((col("id") % groups).as("g"), lit("D").as("op"),
          col("id").cast("double").as("v"))
      val ins = spark.range(n, n + batchN / 2).toDF("id")
        .select((col("id") % groups).as("g"), lit("I").as("op"),
          col("id").cast("double").as("v"))
      val after = rows
        .filter(col("id") < delLo || col("id") >= delLo + batchN / 2)
        .select(col("g"), col("v"))
        .unionByName(ins.select(col("g"), col("v")))
      (dels.unionByName(ins), after)
    }

    // extremum-breaking: delete the max row of the first `breakGroups`
    // groups (ids n - groups + g), plus mid-range filler so the batch
    // stays 10k rows like the merge-only one
    def breakDelta(n: Long, rows: DataFrame): (DataFrame, DataFrame) = {
      val maxDels = spark.range(0L, breakGroups).toDF("gg")
        .select(col("gg").as("g"), lit("D").as("op"),
          (col("gg") + (n - groups)).cast("double").as("v"))
      val delLo = n / 2
      val filler = spark.range(delLo, delLo + batchN - breakGroups).toDF("id")
        .select((col("id") % groups).as("g"), lit("D").as("op"),
          col("id").cast("double").as("v"))
      val dels = maxDels.unionByName(filler)
      val after = rows
        .filter(col("id") < delLo || col("id") >= delLo + (batchN - breakGroups))
        .filter(col("id") < (n - groups) || (col("id") % groups) >= breakGroups)
        .select(col("g"), col("v"))
      (dels, after)
    }

    def point(n: Long): (Double, Double) = {
      val (rows, stored) = build(n)
      val (md, ma) = mergeDelta(n, rows)
      val (bd, ba) = breakDelta(n, rows)
      // warm codegen on the merge shape before either timed sample
      graft.operators.IvmFold
        .foldMinMax(Some(stored), md, ma, Seq("g"), "op", "v")
        .write.format("noop").mode("overwrite").save()
      (timeFold(stored, md, ma), timeFold(stored, bd, ba))
    }

    val baseN = 1000000L
    def r1(x: Double) = math.rint(x * 100) / 100
    val sections = scala.collection.mutable.ArrayBuffer[String]()

    if (on("r12")) {
      point(100000L) // JIT/codegen warm-up point, untimed
      val (m1, b1) = point(baseN)
      val (m10, b10) = point(baseN * 10)
      sections +=
        f"""
           |## Batch-proportional increments — IvmFold (round-14 re-run of the round-12 table)
           |
           |Same discipline as the round-10 table: a FIXED ${batchN}-row
           |delta (merge-only: half deletes half inserts; breaking: all
           |deletes, $breakGroups of them a group's stored max) folded into
           |a maintained min/max view whose rows store grows 10×
           |($baseN → ${baseN * 10} rows, $groups groups; stored aggregate
           |and rows store read from parquet; median of $iters,
           |local[$cpus]).
           |
           || fold regime | small (s) | 10× (s) | ratio |
           ||---|---|---|---|
           || merge-only (no extremum touched) | $m1%.2f | $m10%.2f | ${r1(m10 / m1)}× |
           || extremum-breaking ($breakGroups groups' max deleted) | $b1%.2f | $b10%.2f | ${r1(b10 / b1)}× |
           |
           |The merge-only row is the claim that matters per batch: the
           |affected-group list is empty at runtime, AQE's empty-relation
           |propagation erases the semi-join's rows-store scan, and the
           |fold costs aggregate ⊕ delta regardless of store size. The
           |breaking row pays one store-sized scan through the broadcast
           |semi-join — the price of non-invertibility (min/max have no
           |subtraction), bounded to the batches that actually delete an
           |extremum; a keyed production store (partitioned by group)
           |prunes that scan to the affected partitions.
           |
           |Reproduce: `sbt "runMain graft.IvmScale /tmp/graft_ivm_scale"`.
           |""".stripMargin
    }

    // ---- round 13: KEYED stores — the pruning the round-12 table
    // promised ("a keyed production store prunes that scan to the
    // affected partitions"), measured. Store layouts mirror the
    // streaming faces: rows partitioned by group-hash bucket, dict by
    // pair-hash bucket; the fold's store reads are isin-pruned by the
    // delta's own buckets (batch-bounded driver lists).
    val kB = 1024
    val bucketG = pmod(xxhash64(col("g")), lit(kB.toLong)).cast("int")

    def buildKeyed(n: Long): Unit = {
      val rows = spark.range(0L, n).toDF("id")
        .withColumn("g", col("id") % groups)
        .withColumn("v", col("id").cast("double"))
      rows.withColumn("__g_bucket", bucketG).repartition(col("__g_bucket"))
        .write.mode("overwrite").partitionBy("__g_bucket")
        .parquet(s"$out/krows_$n")
      import graft.core.Exact.dec
      spark.read.parquet(s"$out/krows_$n").groupBy(col("g"))
        .agg(count(lit(1)).as("n"), sum(dec(col("v"))).as("s"),
          min(col("v")).as("mn"), max(col("v")).as("mx"))
        .write.mode("overwrite").parquet(s"$out/kagg_$n")
    }

    // the realistic extremum-breaking micro-batch: ONLY the 100
    // group-max deletes (no filler — a batch whose every row breaks an
    // extremum is the operator's worst case per row)
    def breakOnlyDelta(n: Long) = spark.range(0L, breakGroups).toDF("gg")
      .select(col("gg").as("g"), lit("D").as("op"),
        (col("gg") + (n - groups)).cast("double").as("v"))

    def keyedBreakFold(n: Long, pruned: Boolean): Double = {
      val stored = spark.read.parquet(s"$out/kagg_$n")
      val dels = breakOnlyDelta(n)
      val store = spark.read.parquet(s"$out/krows_$n")
      val after0 =
        if (!pruned) store
        else {
          val delBuckets = dels
            .select(pmod(xxhash64(col("g")), lit(kB.toLong)).cast("int").as("b"))
            .distinct().collect().map(_.getInt(0)).toSeq
          store.filter(col("__g_bucket").isin(delBuckets: _*))
        }
      // post-delta rows: the deleted ids are exactly n - groups + g for
      // g < breakGroups
      val after = after0
        .filter(col("id") < (n - groups) ||
          (col("id") % groups) >= breakGroups)
        .select(col("g"), col("v"))
      timeFold(stored, dels, after)
    }

    // distinct view: one row per (g, v) pair (v = id — every pair
    // unique), dict partitioned by pair hash, counts snapshot beside it
    def buildDistinct(n: Long): Unit = {
      val pairs = spark.range(0L, n).toDF("id")
        .withColumn("g", col("id") % groups)
        .withColumn("v", col("id"))
      pairs.select(col("g"), col("v"))
        .withColumn("__p_bucket",
          pmod(xxhash64(col("g"), col("v")), lit(kB.toLong)).cast("int"))
        .repartition(col("__p_bucket"))
        .write.mode("overwrite").partitionBy("__p_bucket")
        .parquet(s"$out/kdict_$n")
      pairs.withColumn("__g_bucket", bucketG).repartition(col("__g_bucket"))
        .write.mode("overwrite").partitionBy("__g_bucket")
        .parquet(s"$out/kprows_$n")
      spark.read.parquet(s"$out/kdict_$n").groupBy(col("g"))
        .agg(count(lit(1)).as("n_distinct"))
        .write.mode("overwrite").parquet(s"$out/kcounts_$n")
    }

    def distinctDelta(n: Long, half: Long) = {
      val dels = spark.range(n / 2, n / 2 + half).toDF("id")
        .select((col("id") % groups).as("g"), lit("D").as("op"),
          col("id").as("v"))
      val ins = spark.range(n, n + half).toDF("id")
        .select((col("id") % groups).as("g"), lit("I").as("op"),
          col("id").as("v"))
      dels.unionByName(ins)
    }

    def distinctFold(n: Long, half: Long): Double = {
      val counts0 = spark.read.parquet(s"$out/kcounts_$n")
      val d = distinctDelta(n, half)
      val pairBuckets = d
        .select(pmod(xxhash64(col("g"), col("v")), lit(kB.toLong))
          .cast("int").as("b")).distinct().collect().map(_.getInt(0)).toSeq
      val dict0 = spark.read.parquet(s"$out/kdict_$n")
        .filter(col("__p_bucket").isin(pairBuckets: _*))
        .select(col("g"), col("v"))
      val delBuckets = spark.range(n / 2, n / 2 + half).toDF("id")
        .select(pmod(xxhash64(col("id") % groups), lit(kB.toLong))
          .cast("int").as("b")).distinct().collect().map(_.getInt(0)).toSeq
      val after = spark.read.parquet(s"$out/kprows_$n")
        .filter(col("__g_bucket").isin(delBuckets: _*))
        .filter(col("v") < n / 2 || col("v") >= n / 2 + half)
        .select(col("g"), col("v"))
      val samples = (1 to iters).map { _ =>
        val t0 = System.nanoTime()
        IvmDistinct.fold(Some((counts0, dict0)), d, after,
            Seq("g"), "op", "v")._1
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      median(samples)
    }

    def measureR13Keyed(): (Double, Double, Double, Double) = {
      buildKeyed(baseN); buildKeyed(baseN * 10)
      keyedBreakFold(baseN, pruned = true) // warm, untimed
      (keyedBreakFold(baseN, pruned = false),
        keyedBreakFold(baseN * 10, pruned = false),
        keyedBreakFold(baseN, pruned = true),
        keyedBreakFold(baseN * 10, pruned = true))
    }

    def measureR13Distinct(): (Double, Double, Double, Double) = {
      buildDistinct(baseN); buildDistinct(baseN * 10)
      distinctFold(baseN, 50L) // warm, untimed
      (distinctFold(baseN, 50L), distinctFold(baseN * 10, 50L),
        distinctFold(baseN, 5000L), distinctFold(baseN * 10, 5000L))
    }

    // join view: R = facts (ck = id % dims, rv), S = dims (ck, g);
    // both stores keyed by join-key hash bucket; the fold's stored-side
    // reads prune to the OPPOSITE delta's key buckets
    val jDims = 10000L
    def buildJoin(n: Long): Unit = {
      val bucketCk = pmod(xxhash64(col("ck")), lit(kB.toLong)).cast("int")
      val r = spark.range(0L, n)
        .select((col("id") % jDims).as("ck"), col("id").cast("double").as("rv"))
      r.withColumn("__b", bucketCk).repartition(col("__b"))
        .write.mode("overwrite").partitionBy("__b").parquet(s"$out/jr_$n")
      val sDim = spark.range(0L, jDims)
        .select(col("id").as("ck"), (col("id") % 100).cast("string").as("g"))
      sDim.withColumn("__b", bucketCk).repartition(col("__b"))
        .write.mode("overwrite").partitionBy("__b").parquet(s"$out/js_$n")
      import graft.core.Exact.dec
      spark.read.parquet(s"$out/jr_$n").join(
          spark.read.parquet(s"$out/js_$n").select(col("ck"), col("g")),
          Seq("ck"))
        .groupBy(col("g"))
        .agg(count(lit(1)).as("n"), sum(dec(col("rv"))).as("s"))
        .write.mode("overwrite").parquet(s"$out/jagg_$n")
    }

    def joinFold(n: Long): Double = {
      val bucketCk = pmod(xxhash64(col("ck")), lit(kB.toLong)).cast("int")
      // mixed 60-row delta: 25 facts repriced (D+I) + 5 dims re-pointed
      val rTouched = spark.range(n / 2, n / 2 + 25).toDF("id")
        .select((col("id") % jDims).as("ck"), col("id").cast("double").as("rv"))
      val dR = rTouched.select(col("ck"), col("rv"), lit("D").as("op"))
        .unionByName(rTouched.select(col("ck"),
          (col("rv") + 0.5).as("rv"), lit("I").as("op")))
      val sTouched = spark.range(0L, 5L)
        .select(col("id").as("ck"), (col("id") % 100).cast("string").as("g"))
      val dS = sTouched.select(col("ck"), col("g"), lit("D").as("op"))
        .unionByName(sTouched.select(col("ck"),
          lit("moved").as("g"), lit("I").as("op")))
      def bucketsOf(d: DataFrame): Seq[Int] = d.select(bucketCk.as("b"))
        .distinct().collect().map(_.getInt(0)).toSeq
      val rB = bucketsOf(dS)
      val sB = bucketsOf(dR)
      val rPruned = spark.read.parquet(s"$out/jr_$n")
        .filter(col("__b").isin(rB: _*)).select(col("ck"), col("rv"))
      val sPruned = spark.read.parquet(s"$out/js_$n")
        .filter(col("__b").isin(sB: _*)).select(col("ck"), col("g"))
      val stored = spark.read.parquet(s"$out/jagg_$n")
      val samples = (1 to iters).map { _ =>
        val t0 = System.nanoTime()
        IvmJoin.foldSumView(Some(stored), dR, dS, rPruned, sPruned,
            Seq("ck"), Seq("g"), "rv", "op")
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      median(samples)
    }

    if (on("r13")) {
      val (kbFlat1, kbFlat10, kb1, kb10) = measureR13Keyed()
      val (ds1, ds10, db1, db10) = measureR13Distinct()
      buildJoin(baseN); buildJoin(baseN * 10)
      joinFold(baseN) // warm, untimed
      val jf1 = joinFold(baseN)
      val jf10 = joinFold(baseN * 10)
      sections +=
        f"""
           |## Keyed stores prune the non-invertible legs — IvmFold + IvmDistinct (round-14 re-run of the round-13 table)
           |
           |The round-12 table's caveat ("a keyed production store prunes
           |that scan to the affected partitions") shipped and measured.
           |Store layouts mirror the streaming faces: rows partitioned by
           |group-hash bucket, dict by pair-hash bucket ($kB buckets); the
           |fold's store reads are isin-pruned on the partition column by
           |the delta's own buckets (batch-bounded driver lists — the
           |audited-collect discipline), so pruning is guaranteed file
           |skipping, not an optimizer favor.
           |
           |**foldMinMax, extremum-breaking batch** ($breakGroups group-max
           |deletes, the per-row worst case) against a store growing 10×:
           |
           || rows store | small (s) | 10× (s) | ratio |
           ||---|---|---|---|
           || flat (full scan through the semi-join) | $kbFlat1%.2f | $kbFlat10%.2f | ${r1(kbFlat10 / kbFlat1)}× |
           || bucket-partitioned + pruned | $kb1%.2f | $kb10%.2f | ${r1(kb10 / kb1)}× |
           |
           |**IvmDistinct fold** (dict + rows stores both keyed) against a
           |dict growing 10× ($baseN → ${baseN * 10} pairs):
           |
           || delta | small (s) | 10× (s) | ratio |
           ||---|---|---|---|
           || 100 rows (50 new-pair inserts + 50 last-row deletes) | $ds1%.2f | $ds10%.2f | ${r1(ds10 / ds1)}× |
           || 10k rows (5k + 5k) | $db1%.2f | $db10%.2f | ${r1(db10 / db1)}× |
           |
           |**IvmJoin fold** (R facts + S dims, both stores keyed by the
           |JOIN key; each stored side read only against the OPPOSITE
           |delta's key buckets) — a mixed 60-row delta (25 facts
           |repriced, 5 dims re-pointed — all three bilinear legs live)
           |against an R store growing 10×:
           |
           || delta | small (s) | 10× (s) | ratio |
           ||---|---|---|---|
           || 60 rows, both sides + cross term | $jf1%.2f | $jf10%.2f | ${r1(jf10 / jf1)}× |
           |
           |The 100-row delta is the streaming regime: its pair buckets
           |are ≪ $kB, so both store reads prune to a few percent of the
           |files and the fold is delta-sized regardless of store growth.
           |The 10k-row delta names the honest boundary: ~10k distinct
           |pairs touch essentially every one of the $kB buckets, pruning
           |degenerates, and the fold pays a store-sized scan — at which
           |point the batch is large enough that the per-row cost is still
           |bounded (scan bytes / 10k rows), and a deployment expecting
           |such batches sizes `storeBuckets` up, or accepts the scan the
           |way any bulk backfill does.
           |
           |Reproduce: same command (the harness appends the selected
           |sections; SPARK_GRAFT_IVM_SECTIONS filters).
           |""".stripMargin
    }

    // ---- round 14: the COMPOSED fold — (L⋈O)⋈C → aggregate, the
    // ivm7 pipeline (deltaJoin → net-compress →
    // deltaJoin → foldAggSigned), all four rows stores keyed and
    // pruned by the probing delta's buckets. The timed window is the
    // full per-batch maintenance compute for a FIXED mixed delta while
    // every store grows 10×.
    val cOrdersPer = 10L // lines per order
    val cDims = 10000L   // customers
    def buildCompose(n: Long): Unit = {
      val bucketOk = pmod(xxhash64(col("ok")), lit(kB.toLong)).cast("int")
      val bucketCk = pmod(xxhash64(col("ck")), lit(kB.toLong)).cast("int")
      val nOrders = n / cOrdersPer
      val lRows = spark.range(0L, n).select(col("id").as("lk"),
        (col("id") % nOrders).as("ok"), col("id").cast("double").as("price"))
      lRows.withColumn("__b", bucketOk).repartition(col("__b"))
        .write.mode("overwrite").partitionBy("__b").parquet(s"$out/cl_$n")
      val oRows = spark.range(0L, nOrders).select(col("id").as("ok"),
        (col("id") % cDims).as("ck"))
      oRows.withColumn("__b", bucketOk).repartition(col("__b"))
        .write.mode("overwrite").partitionBy("__b").parquet(s"$out/co_$n")
      val cRows = spark.range(0L, cDims).select(col("id").as("ck"),
        (col("id") % 100).cast("string").as("g"))
      cRows.withColumn("__b", bucketCk).repartition(col("__b"))
        .write.mode("overwrite").partitionBy("__b").parquet(s"$out/cc_$n")
      // the maintained intermediate join, keyed by the STAGE-2 key
      val lo = spark.read.parquet(s"$out/cl_$n")
        .join(spark.read.parquet(s"$out/co_$n").select(col("ok"), col("ck")),
          Seq("ok"))
        .select(col("lk"), col("ck"), col("price"))
      lo.withColumn("__b", bucketCk).repartition(col("__b"))
        .write.mode("overwrite").partitionBy("__b").parquet(s"$out/clo_$n")
      import graft.core.Exact.dec
      spark.read.parquet(s"$out/clo_$n")
        .join(spark.read.parquet(s"$out/cc_$n").select(col("ck"), col("g")),
          Seq("ck"))
        .groupBy(col("g"))
        .agg(count(lit(1)).as("n"), sum(dec(col("price"))).as("s"))
        .write.mode("overwrite").parquet(s"$out/cagg_$n")
    }

    def composedFold(n: Long): Double = {
      val bucketOk = pmod(xxhash64(col("ok")), lit(kB.toLong)).cast("int")
      val bucketCk = pmod(xxhash64(col("ck")), lit(kB.toLong)).cast("int")
      val nOrders = n / cOrdersPer
      // mixed delta: 25 lines repriced (D+I on L), 2 orders deleted
      // outright (D on O — their surviving lines leave the view), 5
      // customers moved (D+I on C): both stage cross terms live
      val lTouched = spark.range(n / 2, n / 2 + 25)
        .select(col("id").as("lk"), (col("id") % nOrders).as("ok"),
          col("id").cast("double").as("price"))
      val dL = lTouched.select(col("lk"), col("ok"), col("price"),
          lit("D").as("op"))
        .unionByName(lTouched.select(col("lk"), col("ok"),
          (col("price") + 0.5).as("price"), lit("I").as("op")))
      val oTouched = spark.range(0L, 2L).select(col("id").as("ok"),
        (col("id") % cDims).as("ck"))
      val dO = oTouched.select(col("ok"), col("ck"), lit("D").as("op"))
      val cTouched = spark.range(0L, 5L).select(col("id").as("ck"),
        (col("id") % 100).cast("string").as("g"))
      val dC = cTouched.select(col("ck"), col("g"), lit("D").as("op"))
        .unionByName(cTouched.select(col("ck"), lit("moved").as("g"),
          lit("I").as("op")))
      def buckets(d: DataFrame, b: org.apache.spark.sql.Column): Seq[Int] =
        d.select(b.as("b")).distinct().collect().map(_.getInt(0)).toSeq
      val lPruned = spark.read.parquet(s"$out/cl_$n")
        .filter(col("__b").isin(buckets(dO, bucketOk): _*))
        .select(col("lk"), col("ok"), col("price"))
      val oPruned = spark.read.parquet(s"$out/co_$n")
        .filter(col("__b").isin(buckets(dL, bucketOk): _*))
        .select(col("ok"), col("ck"))
      val stored = spark.read.parquet(s"$out/cagg_$n")
      val cStore = spark.read.parquet(s"$out/cc_$n")
      val loStore = spark.read.parquet(s"$out/clo_$n")
      val loCols = Seq("lk", "ck", "price")
      val samples = (1 to iters).map { _ =>
        val t0 = System.nanoTime()
        val d1 = IvmJoin.deltaJoin(dL, dO, lPruned, oPruned,
          Seq("ok"), "op", loCols)
        val dlo = d1
          .withColumn("__w", when(col("op") === "I", 1L).otherwise(-1L))
          .groupBy(loCols.map(col): _*).agg(sum(col("__w")).as("__net"))
          .filter(col("__net") =!= 0)
          .withColumn("op", when(col("__net") === 1, "I").otherwise("D"))
          .drop("__net").cache()
        try {
          val loPruned = loStore
            .filter(col("__b").isin(buckets(dC, bucketCk): _*))
            .select(loCols.map(col): _*)
          val cPruned = cStore
            .filter(col("__b").isin(buckets(dlo, bucketCk): _*))
            .select(col("ck"), col("g"))
          val d2 = IvmJoin.deltaJoin(dlo, dC, loPruned, cPruned,
            Seq("ck"), "op", Seq("g", "price"))
          IvmJoin.foldAggSigned(Some(stored), d2, Seq("g"), "price", "op")
            .write.format("noop").mode("overwrite").save()
        } finally dlo.unpersist()
        (System.nanoTime() - t0) / 1e9
      }
      median(samples)
    }

    if (on("r14")) {
      buildCompose(baseN); buildCompose(baseN * 10)
      composedFold(baseN) // warm, untimed
      val cf1 = composedFold(baseN)
      val cf10 = composedFold(baseN * 10)
      sections +=
        f"""
           |## Composed fold stays batch-proportional — ivm7 pipeline (round 14)
           |
           |The full per-batch maintenance compute of the COMPOSED view
           |`(L⋈O)⋈C → per-group (n, s)` — deltaJoin → net-compress →
           |deltaJoin → foldAggSigned, the ivm7
           |pipeline — for a FIXED mixed delta (25 lines repriced, 2
           |orders deleted outright, 5 customers moved: both stage cross
           |terms live) while every store grows 10× (L $baseN → ${baseN * 10}
           |rows; O, the intermediate L⋈O, C, and the view alongside).
           |All four rows stores bucket-keyed ($kB buckets) and isin-pruned
           |by the probing delta's buckets, per the streaming layout:
           |
           || delta | small (s) | 10× (s) | ratio |
           ||---|---|---|---|
           || mixed 3-base batch, both cross terms | $cf1%.2f | $cf10%.2f | ${r1(cf10 / cf1)}× |
           |
           |Two joins deep, the fold's cost is still the delta's: each
           |deltaJoin broadcasts only (compressed) delta frames, each
           |stored side is read through its pruned buckets, and the final
           |merge joins two aggregate frames. The maintained INTERMEDIATE
           |store is what makes stage 2 delta-proportional — without it,
           |the second join's linear term would recompute L⋈O per batch.
           |
           |Reproduce: same command (the harness appends the selected
           |sections; SPARK_GRAFT_IVM_SECTIONS filters).
           |""".stripMargin
    }

    // ---- round 14b: CO-LOCATED store merges — the bucketed-table
    // (bucketBy/saveAsTable) layout IvmStoreCoLocationSpec plan-pins,
    // measured. The invertible merges (IvmTopK counts, foldAggSigned)
    // full-outer-join the WHOLE store to the delta aggregate each
    // batch; a flat store re-hashes (shuffle write + read) all of it,
    // a store bucketed by the merge keys streams straight from its
    // sorted bucket files into the merge — the exchange is paid once,
    // at write, like any bucketed warehouse table.
    if (on("r14smb")) {
      def buildSmb(n: Long): Unit = {
        val pairs = spark.range(0L, n)
          .select((col("id") % 1000L).as("g"), col("id").as("ck"),
            (lit(1L) + col("id") % 7).as("cnt"))
        pairs.write.mode("overwrite").parquet(s"$out/smb_flat_$n")
        pairs.write.mode("overwrite").bucketBy(cpus, "g", "ck")
          .sortBy("g", "ck").saveAsTable(s"smb_counts_$n")
      }
      def smbDelta(n: Long) = {
        val ins = spark.range(0L, 500L)
          .select((col("id") % 1000L).as("g"), (col("id") + n).as("ck"),
            lit("I").as("op"))
        val dels = spark.range(0L, 500L)
          .select((col("id") % 1000L).as("g"), col("id").as("ck"),
            lit("D").as("op"))
        ins.unionByName(dels)
      }
      def smbFold(n: Long, bucketed: Boolean): Double = {
        val store =
          if (bucketed) spark.table(s"smb_counts_$n")
          else spark.read.parquet(s"$out/smb_flat_$n")
        val topk0 = spark.read.parquet(s"$out/smb_topk_$n")
        val d = smbDelta(n)
        val samples = (1 to iters).map { _ =>
          val t0 = System.nanoTime()
          graft.operators.IvmTopK.fold(Some((topk0, store)), d,
              Seq("g"), "op", "ck", 3)._2
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        median(samples)
      }
      def buildTopk(n: Long): Unit =
        graft.operators.IvmTopK.viewOf(
            spark.read.parquet(s"$out/smb_flat_$n"), Seq("g"), "ck", 3)
          .write.mode("overwrite").parquet(s"$out/smb_topk_$n")
      buildSmb(baseN); buildSmb(baseN * 10)
      buildTopk(baseN); buildTopk(baseN * 10)
      smbFold(baseN, bucketed = true) // warm, untimed
      val sf1 = smbFold(baseN, bucketed = false)
      val sf10 = smbFold(baseN * 10, bucketed = false)
      val sb1 = smbFold(baseN, bucketed = true)
      val sb10 = smbFold(baseN * 10, bucketed = true)
      sections +=
        f"""
           |## Co-located store merges — bucketed IVM stores (round 14)
           |
           |The one per-batch shuffle the invertible folds still paid was
           |the STORE side of the aggregate-frame merge (IvmTopK counts /
           |foldAggSigned full-outer) — re-hashing the whole store per
           |batch. Persisted as a BUCKETED TABLE on the merge keys
           |(bucketBy($cpus) + sortBy, the IvmStoreCoLocationSpec layout,
           |zero Exchange on the store leg plan-pinned there), the merge
           |streams the store from its sorted bucket files; only the
           |delta aggregate exchanges. Fixed 1000-row delta, counts store
           |growing 10× ($baseN → ${baseN * 10} pairs), median of $iters:
           |
           || counts store | small (s) | 10× (s) | ratio |
           ||---|---|---|---|
           || flat parquet (store re-hashed per batch) | $sf1%.2f | $sf10%.2f | ${r1(sf10 / sf1)}× |
           || bucketed + sorted (exchange-free store leg) | $sb1%.2f | $sb10%.2f | ${r1(sb10 / sb1)}× |
           |
           |Honest accounting: bucketing removes the store-sized SHUFFLE
           |(write+read of every store byte through the exchange), not
           |the store-sized SCAN — the merge still reads the store once,
           |so both rows grow with the store; the bucketed row grows by
           |scan bytes alone. The snapshot/partition pruning of the
           |streaming faces composes on top (prune first, then the
           |pruned slice merges exchange-free).
           |
           |Reproduce: `SPARK_GRAFT_IVM_SECTIONS=r14smb sbt "runMain
           |graft.IvmScale /tmp/graft_ivm_scale"`.
           |""".stripMargin
    }

    // ---- the 3-base composed chain L(lk, ok, price) ⋈ O(ok, ck) ⋈
    // C(ck, g) → γ(g; n, Σ price) on its deployment path
    // (StreamingIvmComposeN.applyBatch end to end), shared by the
    // write-law sections r15w, r16w and r16a: a store seeded with n L
    // rows, a fixed mixed delta, and the bytes one batch writes
    import graft.streaming.StreamingIvmComposeN
    val chain3 = Seq(
      StreamingIvmComposeN.BaseSpec("L", Seq("lk", "ok", "price"), "lk"),
      StreamingIvmComposeN.BaseSpec("O", Seq("ok", "ck"), "ok"),
      StreamingIvmComposeN.BaseSpec("C", Seq("ck", "g"), "ck"))
    def fold3(d: DataFrame, id: Long, dir: String, buckets: Int): Long =
      StreamingIvmComposeN.applyBatch(d, id, "side", "op", chain3,
        Seq(Seq("ok"), Seq("ck")), Seq("g"), "price", dir,
        storeBuckets = buckets)
    val nOrdersOf = (n: Long) => n / cOrdersPer
    def seedDir(tag: String, n: Long, buckets: Int): String = {
      val dir = s"$out/${tag}_${n}_$buckets"
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val nOrders = nOrdersOf(n)
      val lSeed = spark.range(0L, n).select(lit("L").as("side"),
        lit("I").as("op"), col("id").as("lk"),
        (col("id") % nOrders).as("ok"), lit(null).cast("long").as("ck"),
        col("id").cast("double").as("price"),
        lit(null).cast("string").as("g"))
      val oSeed = spark.range(0L, nOrders).select(lit("O").as("side"),
        lit("I").as("op"), lit(null).cast("long").as("lk"),
        col("id").as("ok"), (col("id") % cDims).as("ck"),
        lit(null).cast("double").as("price"),
        lit(null).cast("string").as("g"))
      val cSeed = spark.range(0L, cDims).select(lit("C").as("side"),
        lit("I").as("op"), lit(null).cast("long").as("lk"),
        lit(null).cast("long").as("ok"), col("id").as("ck"),
        lit(null).cast("double").as("price"),
        (col("id") % 100).cast("string").as("g"))
      fold3(lSeed.unionByName(oSeed).unionByName(cSeed), 0L, dir, buckets)
      dir
    }
    def mixedDelta(n: Long): DataFrame = {
      val nOrders = nOrdersOf(n)
      // 25 lines repriced (D+I), 2 orders deleted outright, 5
      // customers moved — the composedFold delta, tagged
      val lt = spark.range(n / 2, n / 2 + 25)
        .select(col("id").as("lk"), (col("id") % nOrders).as("ok"),
          col("id").cast("double").as("price"))
      val dL = lt.select(lit("L").as("side"), lit("D").as("op"),
          col("lk"), col("ok"), lit(null).cast("long").as("ck"),
          col("price"), lit(null).cast("string").as("g"))
        .unionByName(lt.select(lit("L").as("side"), lit("I").as("op"),
          col("lk"), col("ok"), lit(null).cast("long").as("ck"),
          (col("price") + 0.5).as("price"),
          lit(null).cast("string").as("g")))
      val dO = spark.range(0L, 2L).select(lit("O").as("side"),
        lit("D").as("op"), lit(null).cast("long").as("lk"),
        col("id").as("ok"), (col("id") % cDims).as("ck"),
        lit(null).cast("double").as("price"),
        lit(null).cast("string").as("g"))
      val ct = spark.range(10L, 15L).select(col("id").as("ck"),
        (col("id") % 100).cast("string").as("g"))
      val dC = ct.select(lit("C").as("side"), lit("D").as("op"),
          lit(null).cast("long").as("lk"), lit(null).cast("long").as("ok"),
          col("ck"), lit(null).cast("double").as("price"), col("g"))
        .unionByName(ct.select(lit("C").as("side"), lit("I").as("op"),
          lit(null).cast("long").as("lk"), lit(null).cast("long").as("ok"),
          col("ck"), lit(null).cast("double").as("price"),
          lit("moved").as("g")))
      dL.unionByName(dO).unionByName(dC)
    }
    def bytesOfBatch(dir: String, id: Long): Long = {
      def du(f: java.io.File): Long =
        if (!f.exists) 0L
        else if (f.isFile) f.length
        else f.listFiles().map(du).sum
      Seq("rows_L", "rows_O", "inter_1", "rows_C", "agg")
        .map(fam => du(new java.io.File(s"$dir/$fam/batch=$id"))).sum
    }
    def foldW(n: Long, dir: String, buckets: Int): (Double, Long) = {
      val d = mixedDelta(n)
      // redelivery of the same id per iteration: reads the same
      // committed base state, overwrites identical bytes — stable
      // timing AND a stable byte count
      val samples = (1 to iters).map { _ =>
        val t0 = System.nanoTime()
        fold3(d, 1L, dir, buckets)
        (System.nanoTime() - t0) / 1e9
      }
      (median(samples), bytesOfBatch(dir, 1L))
    }

    // ---- round 15: WRITE-side proportionality — the manifest-linked
    // partitioned upsert (BucketStore) replacing the full snapshot
    // rewrite per batch of the 3-way composed view. Measured on the
    // REAL deployment path (applyBatch end to end): bytes written by a
    // fixed mixed delta batch must stay flat while every store grows
    // 10×.
    if (on("r15w")) {
      // two bucket configurations, because the upsert's write grain IS
      // the bucket: with the bucket COUNT fixed across the growth the
      // touched buckets themselves grow store-proportionally (an honest
      // anti-claim), while the deployment discipline — size
      // storeBuckets so a bucket stays a bounded scan, i.e. hold the
      // bucket SIZE fixed — makes the delta batch's write flat
      val fixedB = 256
      val scaledB = 2560 // 10× buckets for the 10× store: same rows/bucket
      val dirF1 = seedDir("w15", baseN, fixedB)
      val dirF10 = seedDir("w15", baseN * 10, fixedB)
      val dirS10 = seedDir("w15", baseN * 10, scaledB)
      val seed1 = bytesOfBatch(dirF1, 0L)
      val seed10 = bytesOfBatch(dirF10, 0L)
      foldW(baseN, dirF1, fixedB) // warm, untimed (redelivered below)
      val (wt1, wb1) = foldW(baseN, dirF1, fixedB)
      val (wtF10, wbF10) = foldW(baseN * 10, dirF10, fixedB)
      val (wtS10, wbS10) = foldW(baseN * 10, dirS10, scaledB)
      def mb(b: Long) = b / 1e6
      sections +=
        f"""
           |## Batch-proportional snapshot WRITES — manifest-linked upsert (round 15)
           |
           |Round 14's one structural 100-TB liability: per-batch COMPUTE
           |was delta-proportional and reads bucket-pruned, but every
           |3-way composed-view commit rewrote all five snapshot families
           |in full — store-sized bytes per batch, unconditionally. The
           |BucketStore layout writes ONLY the buckets a batch touched
           |and links every untouched bucket from the previous manifest
           |(≤ storeBuckets pointer lines per family), keeping the
           |all-families-marker commit and the recompute-from-latest-
           |committed redelivery contract. The write grain is the
           |BUCKET, so the honest contract is: bytes per batch ∝
           |(touched buckets × bucket size) — delta-proportional exactly
           |when the deployment holds the bucket SIZE bounded by sizing
           |`storeBuckets` to the store (the layout's documented sizing
           |rule). Measured END TO END on the 3-base
           |StreamingIvmComposeN.applyBatch chain
           |(CDC validation, both deltaJoin stages, fold, write, commit,
           |GC) with the composedFold mixed delta while every store
           |grows 10× ($baseN → ${baseN * 10} L rows; seed snapshots
           |${mb(seed1)}%.1f → ${mb(seed10)}%.1f MB at $fixedB buckets):
           |
           || configuration | delta-batch bytes written | vs full rewrite | delta-batch sec |
           ||---|---|---|---|
           || small store, $fixedB buckets | ${mb(wb1)}%.2f MB | ${r1(100.0 * wb1 / seed1)}%% of store | $wt1%.2f |
           || 10× store, $fixedB buckets (bucket size grew 10×) | ${mb(wbF10)}%.2f MB | ${r1(100.0 * wbF10 / seed10)}%% of store | $wtF10%.2f |
           || 10× store, $scaledB buckets (bucket size held fixed) | ${mb(wbS10)}%.2f MB | ${r1(100.0 * wbS10 / seed10)}%% of store | $wtS10%.2f |
           |
           |With the bucket size held fixed (the sizing rule), the 10×
           |store's delta batch writes ${r1(wbS10.toDouble / wb1)}× the small store's
           |bytes — flat, while the old layout's write cost grew 10×
           |with the store. The fixed-bucket-count row is the anti-claim
           |that motivates the rule: the same delta rewrites
           |${r1(wbF10.toDouble / wb1)}× the bytes because each touched bucket is
           |itself 10× larger. An untouched family writes a manifest and
           |a marker only (BucketStoreUpsertSpec pins that at the
           |filesystem level, plus GC safety for linked directories).
           |Wall time is test-scale overhead dominated (dozens of small
           |eager jobs per batch); the pruned reads resolve wanted
           |buckets as EXPLICIT manifest paths, so driver listing is
           |touched-bucket-bounded too — the first cut filtered over a
           |full directory listing and the 2560-bucket store paid 3.5×
           |wall for it (76 s), which is what this path now avoids.
           |
           |Reproduce: `SPARK_GRAFT_IVM_SECTIONS=r15w sbt "runMain
           |graft.IvmScale /tmp/graft_ivm_scale"` — it measures the
           |3-base StreamingIvmComposeN chain; the round-15/16
           |captures measured the fixed 3-way composed object that chain
           |replaced (five families either way; the intermediate is
           |now a (ck, price) multiset, not a pk-keyed rows store).
           |""".stripMargin
    }

    // ---- round 15b: the N-WAY MULTISET fold at scale — the
    // StreamingIvmComposeN deployment path (general multiplicities,
    // many-to-many stage, multiset intermediate) folding a fixed mixed
    // delta while every store grows 10×. Bucket size held fixed per
    // the BucketStore sizing rule (storeBuckets ∝ store).
    if (on("r15n")) {
      import graft.streaming.StreamingIvmComposeN
      import graft.streaming.StreamingIvmComposeN.BaseSpec
      val basesN = Seq(
        BaseSpec("A", Seq("ak", "k1", "v"), "ak"),
        BaseSpec("B", Seq("bk", "k1", "k2"), "bk"),
        BaseSpec("C", Seq("ckey", "k2", "g"), "ckey"))
      val stagesN = Seq(Seq("k1"), Seq("k2"))
      val nC = 5000L
      def seedN(n: Long, buckets: Int): String = {
        val dir = s"$out/n15_${n}_$buckets"
        val fs = new org.apache.hadoop.fs.Path(dir)
          .getFileSystem(spark.sessionState.newHadoopConf())
        fs.delete(new org.apache.hadoop.fs.Path(dir), true)
        val nK1 = n / 20 // 20 A rows and 2 B rows per k1: fan-out 40
        def nulls(cols: (String, String)*) =
          cols.map { case (c, t) => lit(null).cast(t).as(c) }
        val aSeed = spark.range(0L, n).select(
          (Seq(lit("A").as("side"), lit("I").as("op"), col("id").as("ak"),
            (col("id") % nK1).as("k1"),
            (col("id") % 50).cast("double").as("v")) ++
            nulls("bk" -> "long", "k2" -> "long", "ckey" -> "long",
              "g" -> "string")): _*)
        val bSeed = spark.range(0L, n / 10).select(
          (Seq(lit("B").as("side"), lit("I").as("op")) ++
            nulls("ak" -> "long") ++
            Seq((col("id") % nK1).as("k1")) ++
            nulls("v" -> "double") ++
            Seq(col("id").as("bk"), (col("id") % nC).as("k2")) ++
            nulls("ckey" -> "long", "g" -> "string")): _*)
        val cSeed = spark.range(0L, nC).select(
          (Seq(lit("C").as("side"), lit("I").as("op")) ++
            nulls("ak" -> "long", "k1" -> "long", "v" -> "double",
              "bk" -> "long") ++
            Seq(col("id").as("k2"), col("id").as("ckey"),
              (col("id") % 100).cast("string").as("g"))): _*)
        val cols = Seq("side", "op", "ak", "k1", "v", "bk", "k2", "ckey", "g")
        val seed = aSeed.select(cols.map(col): _*)
          .unionByName(bSeed.select(cols.map(col): _*))
          .unionByName(cSeed.select(cols.map(col): _*))
        StreamingIvmComposeN.applyBatch(seed, 0L, "side", "op", basesN,
          stagesN, Seq("g"), "v", dir, storeBuckets = buckets)
        dir
      }
      def deltaN(n: Long): DataFrame = {
        val nK1 = n / 20
        def nulls(cols: (String, String)*) =
          cols.map { case (c, t) => lit(null).cast(t).as(c) }
        val at = spark.range(n / 2, n / 2 + 25).select(col("id").as("ak"),
          (col("id") % nK1).as("k1"), (col("id") % 50).cast("double").as("v"))
        val dA = at.select(
            (Seq(lit("A").as("side"), lit("D").as("op"), col("ak"),
              col("k1"), col("v")) ++
              nulls("bk" -> "long", "k2" -> "long", "ckey" -> "long",
                "g" -> "string")): _*)
          .unionByName(at.select(
            (Seq(lit("A").as("side"), lit("I").as("op"), col("ak"),
              col("k1"), (col("v") + 0.5).as("v")) ++
              nulls("bk" -> "long", "k2" -> "long", "ckey" -> "long",
                "g" -> "string")): _*))
        val bt = spark.range(0L, 2L).select(col("id").as("bk"),
          (col("id") % nK1).as("k1"), (col("id") % nC).as("k2"))
        val dB = bt.select(
          (Seq(lit("B").as("side"), lit("D").as("op")) ++
            nulls("ak" -> "long") ++ Seq(col("k1")) ++
            nulls("v" -> "double") ++ Seq(col("bk"), col("k2")) ++
            nulls("ckey" -> "long", "g" -> "string")): _*)
        val ct = spark.range(10L, 13L).select(col("id").as("ckey"),
          col("id").as("k2"), (col("id") % 100).cast("string").as("g"))
        val dC = ct.select(
            (Seq(lit("C").as("side"), lit("D").as("op")) ++
              nulls("ak" -> "long", "k1" -> "long", "v" -> "double",
                "bk" -> "long") ++
              Seq(col("k2"), col("ckey"), col("g"))): _*)
          .unionByName(ct.select(
            (Seq(lit("C").as("side"), lit("I").as("op")) ++
              nulls("ak" -> "long", "k1" -> "long", "v" -> "double",
                "bk" -> "long") ++
              Seq(col("k2"), col("ckey"), lit("moved").as("g"))): _*))
        val cols = Seq("side", "op", "ak", "k1", "v", "bk", "k2", "ckey", "g")
        dA.select(cols.map(col): _*)
          .unionByName(dB.select(cols.map(col): _*))
          .unionByName(dC.select(cols.map(col): _*))
      }
      def bytesOfBatchN(dir: String, id: Long): Long = {
        def du(f: java.io.File): Long =
          if (!f.exists) 0L
          else if (f.isFile) f.length
          else f.listFiles().map(du).sum
        Seq("rows_A", "rows_B", "rows_C", "inter_1", "agg")
          .map(fam => du(new java.io.File(s"$dir/$fam/batch=$id"))).sum
      }
      def foldN(n: Long, dir: String, buckets: Int): (Double, Long) = {
        val d = deltaN(n)
        val samples = (1 to iters).map { _ =>
          val t0 = System.nanoTime()
          StreamingIvmComposeN.applyBatch(d, 1L, "side", "op", basesN,
            stagesN, Seq("g"), "v", dir, storeBuckets = buckets)
          (System.nanoTime() - t0) / 1e9
        }
        (median(samples), bytesOfBatchN(dir, 1L))
      }
      val nb1 = 256
      val nb10 = 2560
      val nd1 = seedN(baseN, nb1)
      val nd10 = seedN(baseN * 10, nb10)
      val nSeed1 = bytesOfBatchN(nd1, 0L)
      val nSeed10 = bytesOfBatchN(nd10, 0L)
      foldN(baseN, nd1, nb1) // warm, untimed (redelivered below)
      val (nt1, nbyte1) = foldN(baseN, nd1, nb1)
      val (nt10, nbyte10) = foldN(baseN * 10, nd10, nb10)
      def mbN(b: Long) = b / 1e6
      sections +=
        f"""
           |## N-way multiset fold stays batch-proportional — StreamingIvmComposeN (round 15)
           |
           |The GENERAL-multiplicity composition (round 15: many-to-many
           |stages, (payload, multiplicity) multiset intermediate, weighted
           |bilinear deltas) measured END TO END on its deployment path
           |(applyBatch: CDC validation, both weighted deltaJoin stages,
           |multiset upsert of the intermediate, weighted agg fold, write,
           |commit, GC). Chain: A(${baseN} rows, 20 per join key) ⋈ B
           |(2 per key — fan-out 40, MANY-TO-MANY) ⋈ C($nC dims), view
           |γ(g; n, Σv); the intermediate multiset carries ~8× average
           |multiplicity. Fixed mixed delta (25 A reprices, 2 B deletes,
           |3 C moves), every store grown 10×, bucket size held fixed per
           |the BucketStore sizing rule ($nb1 → $nb10 buckets), median of
           |$iters:
           |
           || store (A rows) | seed snapshot bytes | delta-batch bytes written | delta-batch sec |
           ||---|---|---|---|
           || $baseN | ${mbN(nSeed1)}%.1f MB | ${mbN(nbyte1)}%.2f MB | $nt1%.2f |
           || ${baseN * 10} | ${mbN(nSeed10)}%.1f MB | ${mbN(nbyte10)}%.2f MB | $nt10%.2f |
           || ratio | ${r1(nSeed10.toDouble / nSeed1)}× | ${r1(nbyte10.toDouble / nbyte1)}× | ${r1(nt10 / nt1)}× |
           |
           |Same law as the r15w three-way point: per-batch bytes and
           |wall stay ~flat while every store (and the old full-rewrite
           |cost) grows 10× — the multiset generalization does not
           |reintroduce store-sized work anywhere: stage deltas are
           |net-compressed (weights, not row copies), the intermediate
           |upserts only its touched buckets, and the many-to-many
           |fan-out rides the weights.
           |
           |Reproduce: `SPARK_GRAFT_IVM_SECTIONS=r15n sbt "runMain
           |graft.IvmScale /tmp/graft_ivm_scale"`.
           |""".stripMargin
    }

    // ---- round 16: the write law's ×100 decade, the per-batch wall
    // attribution, and the serving-read fan-out/compaction latency ----
    if (on("r16w") || on("r16a")) {
      import graft.streaming.StoreTimers

      if (on("r16w")) {
        // the ×100 decade (verdict #3): same generator, same mixed
        // delta, store 100× the small point, storeBuckets ∝ store per
        // the sizing rule (256 → 25600 — bucket size held fixed)
        val bigN = baseN * 100
        val bigB = 25600
        val dir1 = seedDir("w16", baseN, 256)
        val dirBig = seedDir("w16", bigN, bigB)
        val seed1 = bytesOfBatch(dir1, 0L)
        val seedBig = bytesOfBatch(dirBig, 0L)
        foldW(baseN, dir1, 256) // warm, untimed (redelivered below)
        val (t1, b1) = foldW(baseN, dir1, 256)
        val (tBig, bBig) = foldW(bigN, dirBig, bigB)
        def mb(b: Long) = b / 1e6
        sections +=
          f"""
             |## The write law's ×100 decade — manifest-linked upsert (round 16)
             |
             |The r15w table measured delta-batch bytes flat (1.21×)
             |across 10× store growth with the bucket size held fixed;
             |the ivm7/e2e precedent says exponents drift on the SECOND
             |decade, so here is the same end-to-end measurement
             |(3-base StreamingIvmComposeN.applyBatch: CDC validation, both
             |deltaJoin stages, fold, write, commit, GC; identical mixed
             |delta) with every store grown 100× and `storeBuckets`
             |scaled with the store per the sizing rule (256 → $bigB —
             |bucket size held fixed). Seed snapshots ${mb(seed1)}%.1f →
             |${mb(seedBig)}%.1f MB; median of $iters:
             |
             || configuration | delta-batch bytes | vs full rewrite | delta-batch sec |
             ||---|---|---|---|
             || small store, 256 buckets | ${mb(b1)}%.2f MB | ${r1(100.0 * b1 / seed1)}%% of store | $t1%.2f |
             || 100× store, $bigB buckets | ${mb(bBig)}%.2f MB | ${r1(100.0 * bBig / seedBig)}%% of store | $tBig%.2f |
             |
             |Bytes ratio across the two decades: ${r1(bBig.toDouble / b1)}× for 100×
             |the store. The committed round-16 capture attributes this
             |per family (du over the batch directories): the growth is
             |(a) the ≤storeBuckets-line pointer manifests — linear in
             |bucket COUNT, five orders of magnitude below the store —
             |plus (b) the intermediate family's touched slices, which
             |grow with the affected keys' JOIN FAN because the
             |generator holds cDims fixed while facts scale (a CDC
             |delete of a fat key rewrites that key's surviving slice
             |on any bucketed layout — fan-proportional delta work).
             |Nothing grows with unrelated store bytes; wall tracks the
             |per-fold job count, not data.
             |
             |Reproduce: `SPARK_GRAFT_IVM_SECTIONS=r16w sbt "runMain
             |graft.IvmScale /tmp/graft_ivm_scale"` — it measures the
             |3-base StreamingIvmComposeN chain; the round-15/16
             |captures measured the fixed 3-way composed object that chain
             |replaced (five families either way; the intermediate is
           |now a (ck, price) multiset, not a pk-keyed rows store).
             |""".stripMargin
      }

      if (on("r16a")) {
        // wall ATTRIBUTION (verdict #5): where does a fold's driver
        // wall go? Timed categories accumulate inside BucketStore
        // (validate = the per-side fused CDC probe, manifest = pointer
        // files + markers + listings, buckets = touched-bucket
        // collects, write = parquet jobs incl. the fold compute they
        // materialize); measured on the r15w configurations, same
        // binary, iters-averaged.
        def attributed(n: Long, buckets: Int): (Double, Map[String, Double]) = {
          val dir = seedDir("w16", n, buckets)
          foldW(n, dir, buckets) // warm
          StoreTimers.reset(); StoreTimers.enabled = true
          val (t, _) = try foldW(n, dir, buckets)
            finally StoreTimers.enabled = false
          (t, StoreTimers.seconds.view.mapValues(_ / iters).toMap
            .withDefaultValue(0.0))
        }
        val (tS, catS) = attributed(baseN, 256)
        val (tB, catB) = attributed(baseN * 10, 2560)
        def row(t: Double, c: Map[String, Double]): String = {
          val other = t - Seq("validate", "manifest", "buckets", "write")
            .map(c).sum
          f"${c("validate")}%.2f | ${c("buckets")}%.2f | ${c("manifest")}%.2f | ${c("write")}%.2f | $other%.2f | $t%.2f"
        }
        // fused-vs-three-probe microbench: the SAME per-side refusal
        // checks as three separate Spark actions (the r15 shape: two
        // limit(1).count() probes + one dup-groupBy probe) vs one
        // unioned action (the r16 shape), on the 10× store's L side
        val dirM = seedDir("w16", baseN * 10, 2560)
        val nOrders = nOrdersOf(baseN * 10)
        val lt = spark.range(baseN * 10 / 2, baseN * 10 / 2 + 25)
          .select(col("id").as("lk"), (col("id") % nOrders).as("ok"),
            col("id").cast("double").as("price"))
        val dels = lt
        val ins = lt.select(col("lk"), col("ok"),
          (col("price") + 0.5).as("price"))
        val touched = graft.streaming.BucketStore.bucketsOf(
          dels.unionByName(ins), Seq("ok"), 2560)
        val prevSlice = graft.streaming.BucketStore.readBuckets(spark, dirM,
            "rows_L", Some(0L), touched, dels)
          .select(col("lk"), col("ok"), col("price"))
        def three(): Double = {
          val t0 = System.nanoTime()
          dels.join(prevSlice, Seq("lk", "ok", "price"), "left_anti")
            .limit(1).count()
          ins.join(prevSlice.join(dels.select(col("lk")), Seq("lk"),
            "left_anti"), Seq("lk"), "left_semi").limit(1).count()
          ins.groupBy(col("lk")).agg(count(lit(1)).as("__c"))
            .filter(col("__c") > 1).limit(1).count()
          (System.nanoTime() - t0) / 1e9
        }
        def one(): Double = {
          val t0 = System.nanoTime()
          dels.join(prevSlice, Seq("lk", "ok", "price"), "left_anti")
            .select(lit("a").as("__viol"))
            .unionByName(ins.join(prevSlice.join(dels.select(col("lk")),
              Seq("lk"), "left_anti"), Seq("lk"), "left_semi")
              .select(lit("b").as("__viol")))
            .unionByName(ins.groupBy(col("lk")).agg(count(lit(1)).as("__c"))
              .filter(col("__c") > 1).select(lit("c").as("__viol")))
            .distinct().collect()
          (System.nanoTime() - t0) / 1e9
        }
        three(); one() // warm
        val t3 = median((1 to iters).map(_ => three()))
        val tO = median((1 to iters).map(_ => one()))
        sections +=
          f"""
             |## Per-batch wall attribution — where an upsert fold's time goes (round 16)
             |
             |The r15w 2560-bucket row paid +54%% wall over 256 buckets
             |at test scale; the verdict asked WHERE. BucketStore now
             |carries an off-by-default timer (StoreTimers) around its
             |four driver-observed cost centers; one fold of the same
             |mixed delta, iters-averaged, seconds:
             |
             || configuration | validate | buckets | manifest | write (incl. fold compute) | other (plan/driver) | total |
             ||---|---|---|---|---|---|---|
             || small store, 256 buckets | ${row(tS, catS)} |
             || 10× store, 2560 buckets | ${row(tB, catB)} |
             |
             |The write jobs dominate both rows and carry the whole
             |bucket-count penalty: at 2560 buckets the same delta
             |touches ~10× the partition DIRECTORIES (one per touched
             |bucket per family), so the fixed per-file cost (task
             |launch, footer, commit rename, list-after-write) scales
             |with touched buckets at constant data. That is the
             |documented trade of the sizing rule — bounded bucket
             |size costs file-grain overhead at test scale and is the
             |reason compaction exists; at production delta sizes the
             |per-bucket payload amortizes it.
             |
             |CDC validation is no longer a contender: the r15 path ran
             |THREE eager probes per side (two limit(1) counts + a
             |dup-count probe); r16 fuses them into ONE action whose
             |subplans share the pruned slice reads. Microbench of
             |exactly those probe shapes on the 10× store's L side,
             |median of $iters: three actions $t3%.2f s → one fused
             |action $tO%.2f s (${r1(t3 / tO)}× — job-submission fixed cost, saved
             |4× per batch: once per side plus the tag/op domain scan).
             |
             |Reproduce: `SPARK_GRAFT_IVM_SECTIONS=r16a sbt "runMain
             |graft.IvmScale /tmp/graft_ivm_scale"` — it measures the
             |3-base StreamingIvmComposeN chain; the round-15/16
             |captures measured the fixed 3-way composed object that chain
             |replaced (five families either way; the intermediate is
           |now a (ck, price) multiset, not a pk-keyed rows store).
             |""".stripMargin
      }
    }

    if (on("r16r")) {
      // serving-read latency vs manifest fan-out (verdict #6): a
      // long-lived store's full read unions one pruned scan per
      // manifest link. Measure readAllNonEmpty latency (the readView
      // backend of every face) on a store grown through 48 single-
      // bucket folds three ways: fan-out left unbounded, the same
      // store after one compactAll, and auto-compaction (maxLinks=8)
      // active throughout.
      import graft.streaming.BucketStore
      val nRows = 200000L
      val sb = 256
      val folds = 48
      def grow(dir: String, maxLinks: Int): Unit = {
        val fs = new org.apache.hadoop.fs.Path(dir)
          .getFileSystem(spark.sessionState.newHadoopConf())
        fs.delete(new org.apache.hadoop.fs.Path(dir), true)
        val store = BucketStore.View(dir, Seq("f"))
        val seed = spark.range(0L, nRows).toDF("k")
          .withColumn("v", col("k") * 2)
          .withColumn("__g_bucket", BucketStore.bucketize(Seq("k"), sb))
        store.fold(spark, 0L)(BucketStore.upsert(spark, dir, "f", 0L, _,
          seed, (0 until sb).toSeq, maxLinks = maxLinks))
        (1 to folds).foreach { i =>
          // ONE delta row per fold → one touched bucket per fold: the
          // worst-case fan-out growth (hot-bucket folds would collapse
          // earlier links and mask the effect being measured)
          val rows = spark.range(i.toLong, i + 1L).toDF("k")
            .withColumn("v", col("k") * 3)
            .withColumn("__g_bucket", BucketStore.bucketize(Seq("k"), sb))
          val touched = BucketStore.bucketsOf(rows, Seq("k"), sb)
          store.fold(spark, i.toLong)(BucketStore.upsert(spark, dir, "f",
            i.toLong, _, rows, touched, maxLinks = maxLinks))
        }
      }
      def readLatency(dir: String, id: Long): Double = {
        val samples = (1 to iters).map { _ =>
          val t0 = System.nanoTime()
          BucketStore.readAllNonEmpty(spark, dir, "f", id)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        median(samples)
      }
      def fanOut(dir: String, id: Long): Int =
        BucketStore.readManifest(spark, dir, "f", Some(id))
          .values.toSet.size
      val dirU = s"$out/r16r_unbounded"
      grow(dirU, maxLinks = 1000000)
      val fanPre = fanOut(dirU, folds.toLong)
      val latPre = readLatency(dirU, folds.toLong)
      BucketStore.compactAll(spark, dirU, Seq("f"), folds + 1L)
      val fanPost = fanOut(dirU, folds + 1L)
      val latPost = readLatency(dirU, folds + 1L)
      val dirA = s"$out/r16r_auto"
      grow(dirA, maxLinks = 8)
      val fanAuto = fanOut(dirA, folds.toLong)
      val latAuto = readLatency(dirA, folds.toLong)
      sections +=
        f"""
           |## Serving-read latency vs manifest fan-out (round 16)
           |
           |A full read (readView/readAgg/readCounts on every face)
           |unions one pruned scan per distinct pointed batch directory.
           |${nRows}-row store, $folds single-bucket folds, full-scan
           |latency (noop sink) median of $iters:
           |
           || store state | manifest fan-out (links) | full-read sec |
           ||---|---|---|
           || unbounded links after $folds folds | $fanPre | $latPre%.2f |
           || same store after compactAll | $fanPost | $latPost%.2f |
           || auto-compaction maxLinks=8 throughout | $fanAuto | $latAuto%.2f |
           |
           |Compaction restores single-directory read cost (${r1(latPre / latPost)}×
           |faster than the $fanPre-link pre-compaction read), and the
           |r16 in-fold auto-compaction holds the fan-out at ≤ 8 links
           |across arbitrarily many folds, so serving reads never see
           |the unbounded state at all — the pre-compaction row exists
           |only when the bound is explicitly disabled. The residual
           |gap between the auto row and the compacted row is ≤ 8
           |scan-unions vs 1 — bounded, not store-growing.
           |
           |Reproduce: `SPARK_GRAFT_IVM_SECTIONS=r16r sbt "runMain
           |graft.IvmScale /tmp/graft_ivm_scale"`.
           |""".stripMargin
    }

    val p = Paths.get("SCALING.md")
    Files.writeString(p, Files.readString(p) + sections.mkString)
    sections.foreach(println)
    spark.stop()
  }
}
