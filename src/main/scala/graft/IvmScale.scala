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
