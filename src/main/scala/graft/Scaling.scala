package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scale-point measurement for the dedup/ANN family (round 8).
  *
  * The 100-TB story for d2/d4/d6/n3 is design-argued (bucketed
  * candidates, no all-pairs) and spec-proven at sf0.1; this main adds a
  * MEASURED point: it deterministically blows sf0.1's `documents` /
  * `embeddings` up by `SPARK_GRAFT_SCALE_FACTOR` (default 10×), times
  * the four queries at both scales, and prints the observed growth
  * exponents (`log(t_big/t_base) / log(factor)`) as one markdown
  * section on stdout — it never writes SCALING.md; the author pastes in
  * the sections worth keeping. Near-linear exponents validate the
  * bucketed shapes; superlinear ones name the next optimization target.
  *
  *   [SPARK_GRAFT_SCALE_FACTOR=10] [SPARK_GRAFT_SCALE_QUERIES=q,…]
  *   runMain graft.Scaling <baseSfDir> <outDir>
  *
  * Timing uses Bench's helpers (noop sink, codegen warm-up at the
  * sf0.001 sibling, median of `SPARK_GRAFT_BENCH_ITERS`) in two
  * protocols: bind-once rows build the frame before each window opens
  * and time its drain alone (d6's eager cluster-map build is thus
  * excluded); `(incl. build)` rows — driver-round operators such as BPE
  * training, PCA moments and PageRank, whose distributed work runs at
  * DAG-build time — open the window before the builder runs.
  *
  * Blow-up construction (all deterministic, no RNG):
  *  - `documents` replica k ≥ 1: `doc_id += k·stride`; every WORD gets
  *    a `_k` suffix. Replicas are disjoint in shingle space, so the
  *    corpus behaves like `factor` independent sf0.1 corpora —
  *    duplicate DENSITY per unit volume is preserved, which is the
  *    property a fair scaling measurement needs (naive row copies
  *    would instead add ~factor² cross-replica near-dup pairs and
  *    measure the data change, not the plan).
  *  - `embeddings` replica k ≥ 1: `vec_id += k·stride`; the vector is
  *    rotated by k positions (norm-preserving, distinct from the
  *    original). Query vectors (`vec_id < 10`) stay replica-0-only, so
  *    the probe fan-out measures corpus growth with a fixed query set.
  *
  * n3 is measured in BOTH parameterizations because its scaling is a
  * knob, not a fact: the shipped `n3_ann_ivf` pins `centroidMod = 23`,
  * so centroid count C grows ∝ n and the broadcast assignment stage
  * does n·C ∝ n² cosines — the oracle-stable choice, not the scale
  * choice. The operator's own guidance ("pick centroidMod ≈ √n",
  * `Similarity.ivfAssign`) scales the mod by √factor instead, keeping
  * C ≈ √n and assignment ∝ n^1.5. The table reports both exponents so
  * the quadratic one is attributable to the pinned parameter, not the
  * operator shape.
  */
object Scaling {

  /** Seconds of one noop-sink run; a failure aborts the measurement. */
  private def timed(spark: SparkSession)(df: => DataFrame): Double =
    Bench.timedNoop(spark)(df) match {
      case (sec, None) => sec
      case (_, Some(e)) => throw e
    }

  /** Which blown-up tables each measurable query reads — selective
    * generation keeps a restricted run (e.g. the 100× d4/d9 point)
    * from paying for tables it never scans. */
  private val TableNeeds: Map[String, Set[String]] = Map(
    "d2_minhash_lsh" -> Set("documents"),
    "d4_ngram_jaccard" -> Set("documents"),
    "d6_dedup_clusters" -> Set("documents"),
    "d9_substring_spans" -> Set("documents"),
    "d10_winnowing_pairs" -> Set("documents"),
    "sd1_segment_dedup" -> Set("documents"),
    "he1_hashed_embedding" -> Set("documents"),
    "n3_ann_ivf" -> Set("embeddings"),
    "bpe1_merges" -> Set("documents"),
    "bpe3_compression" -> Set("documents"),
    "pc1_pca_power" -> Set("embeddings"),
    "em1_centroid_dist" -> Set("embeddings"),
    "pr1_purchase_rank" -> Set("orders", "lineitem"),
    // round-10 family: u2 rides the key-offset orders replicas (change
    // lists per key preserved, key count ∝ factor — exactly what the
    // single-exchange window must absorb); m4/m5 ride the suffixed
    // documents corpus (distinct payloads per replica → distinct stub
    // hashes, same near-dup density per unit volume); h2 scales the
    // hierarchy's LEAVES (customers/suppliers offset per replica,
    // nations/regions shared) at fixed height — corpus growth never
    // deepens an org chart
    "u2_scd2_history" -> Set("orders"),
    "m4_image_neardup" -> Set("documents"),
    "m5_image_dedup_clusters" -> Set("documents"),
    "h2_hierarchy_flatten" -> Set("customer", "supplier", "nation"),
    // round-10 family: u5/u6/j10 ride the key-offset orders replicas
    // (change sets, snapshots, and interval populations all ∝ factor
    // with per-key structure preserved); h4 rides the hierarchy
    // leaf-replica forest (path count ∝ leaves at fixed height); g1's
    // BFS tree deepens only logarithmically as customers grow; cms1's
    // sketch is constant-size while corpus rows and (suffixed)
    // vocabulary grow ∝ factor
    "u5_cdc_apply" -> Set("orders"),
    "u6_snapshot_diff" -> Set("orders"),
    "j10_interval_join" -> Set("orders"),
    "h4_hierarchy_paths" -> Set("customer", "supplier", "nation"),
    "g1_bfs_distance" -> Set("customer", "supplier", "nation"),
    "cms1_sketch_counts" -> Set("documents"),
    // round-11 family: fn1/co1 ride user-offset events replicas — each
    // replica is a disjoint user population with its per-user event
    // stream preserved exactly, so funnel cascade joins and cohort
    // cells see factor× the users at identical per-user structure
    "fn1_funnel" -> Set("events"),
    "co1_cohort_retention" -> Set("events"),
    "fn3_conversion_time" -> Set("events"),
    // qt2 vs qt3 is a CONTRAST pair: same exact answer, sort-shape vs
    // bucket-locate shape — measure both to attribute the difference
    "qt2_percentile_cont" -> Set("documents"),
    "qt3_scalable_quantiles" -> Set("documents"),
    // round-11 governance family: orders/lineitem key-offset replicas
    // preserve per-customer and per-order structure exactly (w7's
    // 30-day frames, a14's per-flag quantity histogram, hg2/pp1/ts1's
    // month and price distributions repeat per replica); gi1/an1 ride
    // the user-offset events replicas (per-user day streams and the
    // per-type value distribution identical per replica). del1/rr1 need
    // customers ALIGNED with the orders replicas — `customer_aligned`
    // replicates customer.parquet with the shared custkey stride so the
    // per-replica customer↔order relation (and the %97 erasure share)
    // is preserved; run those in their own out dir (the marker/table
    // name collides with the hierarchy family's customer blow-up)
    "del1_forget_audit" -> Set("orders", "lineitem", "customer_aligned"),
    "rr1_ratio_to_report" -> Set("orders", "customer_aligned", "nation_copy"),
    "w7_rolling_range" -> Set("orders"),
    "hg2_quantile_bins" -> Set("orders"),
    "ts1_date_spine" -> Set("orders"),
    "pp1_period_over_period" -> Set("orders"),
    "a13_corr_matrix" -> Set("lineitem"),
    "a14_mode" -> Set("lineitem"),
    "gi1_islands" -> Set("events"),
    "an1_outliers" -> Set("events"),
    "w8_count_distinct_window" -> Set("lineitem"),
    "ivm1_incremental_agg" -> Set("orders"),
    "at1_attribution" -> Set("events"),
    "ab1_ab_test" -> Set("events"),
    // round-12 family: rfm1/w6/hg1/sk3/ivm2 ride the key-offset orders
    // replicas (customers, status-group sizes, histogram counts, and
    // CDC-touched sets all ∝ factor with per-key structure preserved);
    // fn2 rides the user-offset events replicas (per-user streams
    // preserved → the same transition matrix at factor× the counts);
    // v13 audits the replicated orders/lineitem keys (the %100/%97
    // fault injections hit different offsets per replica — fault
    // DENSITY is preserved, membership is not, which an audit count
    // never notices); v12 profiles the replicated lineitem columns
    // (identical per-replica distributions → identical quantiles at
    // factor× the rank work); j11 pairs the orders replicas with the
    // ALIGNED customer replicas so the %53 null fraction holds on both
    // sides — note its null×null leg is output-QUADRATIC in factor by
    // the semantics themselves, not the plan
    "rfm1_segments" -> Set("orders"),
    "w6_ntile_bands" -> Set("orders"),
    "fn2_transitions" -> Set("events"),
    "hg1_histogram" -> Set("orders"),
    "sk3_skew_profile" -> Set("orders"),
    "v13_uniqueness" -> Set("orders", "lineitem"),
    "v12_distribution" -> Set("lineitem"),
    "j11_null_safe_join" -> Set("orders", "customer_aligned"),
    "ivm2_minmax_view" -> Set("orders"),
    "ivm3_distinct_view" -> Set("orders"),
    // ivm4 joins the orders replicas with the ALIGNED customer
    // replicas (the j11 pairing) so every fact keeps a matching dim
    "ivm4_join_view" -> Set("orders", "customer_aligned"),
    "ivm5_quantile_view" -> Set("orders"),
    "ivm6_topk_view" -> Set("orders"),
    "ivm6w_weighted_topk" -> Set("orders"),
    // ivm7 chains lineitem⋈orders⋈customer: lineitem/orders key-offset
    // replicas + the ALIGNED customers (the ivm4/j11 pairing, one join
    // deeper) — every fact keeps a matching dim and the CDC conditions
    // (%101 lines, %97 orders, %89 customers) keep their density per
    // replica while membership shifts with the offset keys
    "ivm7_composed_view" -> Set("orders", "lineitem", "customer_aligned"))

  private def generate(spark: SparkSession, base: String, out: String,
      factor: Int, tables: Set[String]): Unit = {
    Files.createDirectories(Paths.get(out))
    if (tables("documents")) {
      val docs = spark.read.parquet(s"$base/documents.parquet")
      val dStride = docs.agg(max(col("doc_id"))).head.getLong(0) + 1
      (0 until factor).map { k =>
        if (k == 0) docs
        else docs.select(
          (col("doc_id") + lit(k * dStride)).as("doc_id"),
          array_join(
            transform(split(col("text"), " "), w => concat(w, lit(s"_$k"))),
            " ").as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_ unionByName _)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
    }
    if (tables("embeddings")) {
      val emb = spark.read.parquet(s"$base/embeddings.parquet")
      val eStride = emb.agg(max(col("vec_id"))).head.getLong(0) + 1
      val dim = emb.select(size(col("embedding"))).head.getInt(0)
      // replica k rotates by k positions — distinct AND norm-preserving
      // only while k < dim; past that the construction would repeat
      require(factor <= dim,
        s"embeddings blow-up supports factor <= dim ($dim), got $factor — " +
          "restrict SPARK_GRAFT_SCALE_QUERIES to document-table queries")
      (0 until factor).map { k =>
        if (k == 0) emb
        else emb.select(
          (col("vec_id") + lit(k * eStride)).as("vec_id"),
          concat(slice(col("embedding"), k + 1, dim - k),
            slice(col("embedding"), 1, k)).as("embedding"),
          col("label"))
      }.reduce(_ unionByName _)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    }
    // event stream (fn1/co1): user-offset replicas — disjoint user
    // populations, per-user event sequences and timestamps preserved
    // exactly (funnel completion structure and cohort weeks identical
    // per replica; read through Tables for the TIMESTAMP(NANOS) path)
    if (tables("events")) {
      val ev = graft.core.Tables(spark, base, "events")
      def maxOf(c: String): Long = ev.agg(max(col(c))).head.getLong(0) + 1
      val uStride = maxOf("user_id")
      val idStride = maxOf("event_id")
      (0 until factor).map { k =>
        ev.select(
          (col("event_id") + lit(k * idStride)).as("event_id"),
          col("ts"),
          (col("user_id") + lit(k * uStride)).as("user_id"),
          col("event_type"), col("value"), col("props"))
      }.reduce(_ unionByName _)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/events.parquet")
    }
    // purchase graph (pr1): key-offset replicas — each replica is a
    // disjoint customer→supplier subgraph, so nodes AND edges grow ∝
    // factor while per-replica degree structure is preserved exactly
    if (tables("orders") || tables("lineitem") || tables("customer_aligned")) {
      def bump(df: DataFrame, k: Int, strides: Map[String, Long]): DataFrame =
        strides.foldLeft(df) { case (d, (c, s)) =>
          d.withColumn(c, (col(c) + lit(k * s)).cast(d.schema(c).dataType))
        }
      val orders = spark.read.parquet(s"$base/orders.parquet")
      val lineitem = spark.read.parquet(s"$base/lineitem.parquet")
      val customer = spark.read.parquet(s"$base/customer.parquet")
      def maxOf(df: DataFrame, c: String): Long =
        df.agg(max(col(c).cast("long"))).head.getLong(0) + 1
      val oStride = maxOf(orders, "o_orderkey")
      // the custkey stride covers BOTH key spaces so the aligned
      // customer replicas (del1/rr1) share it without overlap
      val cStride = math.max(maxOf(orders, "o_custkey"),
        maxOf(customer, "c_custkey"))
      val sStride = maxOf(lineitem, "l_suppkey")
      (0 until factor).map(k =>
        bump(orders, k, Map("o_orderkey" -> oStride, "o_custkey" -> cStride)))
        .reduce(_ unionByName _).repartition(32)
        .write.mode("overwrite").parquet(s"$out/orders.parquet")
      (0 until factor).map(k =>
        bump(lineitem, k, Map("l_orderkey" -> oStride, "l_suppkey" -> sStride)))
        .reduce(_ unionByName _).repartition(32)
        .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
      // del1/rr1: customers key-offset with the SAME stride as the
      // orders replicas, so each replica keeps its customer↔order
      // relation (and the %97 erasure share) exactly
      if (tables("customer_aligned"))
        (0 until factor).map(k => bump(customer, k, Map("c_custkey" -> cStride)))
          .reduce(_ unionByName _).repartition(32)
          .write.mode("overwrite").parquet(s"$out/customer.parquet")
    }
    // rr1: the nation dimension is SHARED across replicas (nations stay
    // 25 while customers grow — the real shape of a fixed dimension)
    if (tables("nation_copy"))
      spark.read.parquet(s"$base/nation.parquet")
        .write.mode("overwrite").parquet(s"$out/nation.parquet")
  }

  /** Hierarchy blow-up: leaf replicas (customers/suppliers key-offset)
    * under the SHARED nation→region forest — closure rows grow ∝
    * factor while depth stays the org-chart constant, the shape a
    * corpus-scale hierarchy actually has. */
  private def generateHierarchy(
      spark: SparkSession, base: String, out: String, factor: Int): Unit = {
    val cust = spark.read.parquet(s"$base/customer.parquet")
    val supp = spark.read.parquet(s"$base/supplier.parquet")
    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c).cast("long"))).head.getLong(0) + 1
    val cStride = maxOf(cust, "c_custkey")
    val sStride = maxOf(supp, "s_suppkey")
    def bump(df: DataFrame, c: String, stride: Long, k: Int): DataFrame =
      df.withColumn(c, (col(c) + lit(k * stride)).cast(df.schema(c).dataType))
    (0 until factor).map(k => bump(cust, "c_custkey", cStride, k))
      .reduce(_ unionByName _).repartition(32)
      .write.mode("overwrite").parquet(s"$out/customer.parquet")
    (0 until factor).map(k => bump(supp, "s_suppkey", sStride, k))
      .reduce(_ unionByName _).repartition(32)
      .write.mode("overwrite").parquet(s"$out/supplier.parquet")
    spark.read.parquet(s"$base/nation.parquet")
      .write.mode("overwrite").parquet(s"$out/nation.parquet")
  }

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
    // restrict to a comma-separated query subset (budget-bounded deep
    // points, e.g. the 100× d4/d9 decade check)
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_SCALE_QUERIES")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val iters = Bench.envIters
    val cpus = graft.core.GraftSession.envCpus
    val spark = graft.core.GraftSession.local()
    Bench.calibrationSec()
    val cal = Bench.calibrationSec()

    val allFixed = Seq("d2_minhash_lsh", "d4_ngram_jaccard", "d6_dedup_clusters",
      "d9_substring_spans", "d10_winnowing_pairs", "n3_ann_ivf",
      "sd1_segment_dedup", "he1_hashed_embedding",
      "u2_scd2_history", "m4_image_neardup", "m5_image_dedup_clusters",
      "u5_cdc_apply", "u6_snapshot_diff", "j10_interval_join",
      "fn1_funnel", "co1_cohort_retention", "fn3_conversion_time",
      "qt2_percentile_cont", "qt3_scalable_quantiles",
      "del1_forget_audit", "rr1_ratio_to_report", "w7_rolling_range",
      "hg2_quantile_bins", "ts1_date_spine", "pp1_period_over_period",
      "a13_corr_matrix", "a14_mode", "gi1_islands", "an1_outliers",
      "w8_count_distinct_window", "ivm1_incremental_agg",
      "at1_attribution", "ab1_ab_test",
      "rfm1_segments", "w6_ntile_bands", "fn2_transitions",
      "hg1_histogram", "sk3_skew_profile", "v13_uniqueness",
      "v12_distribution", "j11_null_safe_join", "ivm2_minmax_view",
      "ivm3_distinct_view", "ivm4_join_view", "ivm5_quantile_view",
      "ivm6_topk_view", "ivm6w_weighted_topk", "ivm7_composed_view")
    val allEager = Seq("bpe1_merges", "pc1_pca_power", "pr1_purchase_rank",
      "bpe3_compression", "em1_centroid_dist", "h2_hierarchy_flatten",
      "h4_hierarchy_paths", "g1_bfs_distance", "cms1_sketch_counts")
    // a typo'd name must fail LOUDLY — silently measuring a subset of
    // the requested subset would report a deep point that never ran
    only.foreach { s =>
      val unknown = s -- (allFixed ++ allEager).toSet
      require(unknown.isEmpty,
        s"unknown SPARK_GRAFT_SCALE_QUERIES: ${unknown.mkString(", ")} " +
          s"(known: ${(allFixed ++ allEager).mkString(", ")})")
    }
    val fixed = only.fold(allFixed)(s => allFixed.filter(s))
    val eager = only.fold(allEager)(s => allEager.filter(s))
    require(fixed.nonEmpty || eager.nonEmpty,
      s"SPARK_GRAFT_SCALE_QUERIES matched nothing measurable " +
        s"(known: ${(allFixed ++ allEager).mkString(", ")})")
    // n3's √C companion rides along only when n3 itself is selected
    val withSqrtC = fixed.contains("n3_ann_ivf")
    // v12's forced-shape companions: same exact answer (ValidatorsSpec
    // proves the shapes bit-identical) with the shape pinned, so the
    // crossover stays measurable now that the shipped key picks its
    // shape itself (DistributionValidator.autoBucketLocate) — the main
    // v12 row measures the AUTO behavior, these measure each leg
    val withV12Shapes = fixed.contains("v12_distribution")
    def v12Shape(forced: Boolean): String => DataFrame = dir => {
      val src = graft.core.Tables(spark, dir, "lineitem")
      graft.validate.DistributionValidator.validate(
          src, src.filter(col("l_quantity") <= 45.0),
          Seq("l_quantity", "l_extendedprice", "l_discount"),
          ps = Seq(0.1, 0.25, 0.5, 0.75, 0.9), pctThreshold = 2.0,
          bucketLocate = Some(forced))
        .orderBy(col("column_name"), col("p"))
    }
    val tables = (fixed ++ eager).flatMap(TableNeeds).toSet

    // PER-TABLE markers record which base@factor built each table:
    // re-running with a different SPARK_GRAFT_SCALE_FACTOR must
    // regenerate (a stale table would divide old growth by the new
    // factor's log and silently understate the exponent), while
    // alternating SUBSET runs at the same factor must NOT re-blow-up
    // tables that are already valid on disk
    def markerOf(t: String) = Paths.get(out, s"_scale_$t")
    // pseudo-tables (alignment/copy variants) write under the REAL
    // table's file name — the on-disk existence check must look there,
    // or a repeat run re-blows-up the whole orders/lineitem family
    // every time (the exact waste the markers exist to prevent)
    def fileOf(t: String) = Paths.get(out, t match {
      case "customer_aligned" => "customer.parquet"
      case "nation_copy" => "nation.parquet"
      case other => s"$other.parquet"
    })
    val need = tables.filter(t =>
      !Files.exists(markerOf(t)) ||
        Files.readString(markerOf(t)).trim != s"$base@$factor" ||
        !Files.exists(fileOf(t)))
    if (need.nonEmpty) {
      val hier = Set("customer", "supplier", "nation")
      // customer_aligned (del1/rr1/j11) and the hierarchy family (h2+)
      // both materialize customer.parquet in this out dir under
      // DIFFERENT stride formulas — aligned uses max(o_custkey,
      // c_custkey)+1, hierarchy uses c_custkey+1. They coincide only
      // under FK integrity (every o_custkey has a customer row), and
      // generateHierarchy writes LAST, so a silent divergence would
      // mismeasure the aligned keys. Enforce the coincidence in code
      // instead of in a comment: fail loudly, naming the fix.
      if (tables("customer_aligned") && (tables & hier).nonEmpty) {
        def mx(f: String, c: String): Long = spark.read.parquet(s"$base/$f")
          .agg(max(col(c).cast("long"))).head.getLong(0) + 1
        val alignedStride = math.max(mx("orders.parquet", "o_custkey"),
          mx("customer.parquet", "c_custkey"))
        val hierStride = mx("customer.parquet", "c_custkey")
        require(alignedStride == hierStride,
          s"customer_aligned stride ($alignedStride) != hierarchy customer " +
            s"stride ($hierStride): the base violates FK integrity (an " +
            "o_custkey beyond max c_custkey), and both families write " +
            "customer.parquet in this out dir — run them in separate out " +
            "dirs (SPARK_GRAFT_SCALE_QUERIES subsets) instead")
      }
      generate(spark, base, out, factor,
        need -- Set("customer", "supplier", "nation"))
      if ((need & hier).nonEmpty) generateHierarchy(spark, base, out, factor)
      // joint-table branches write their whole family together
      val written = need ++
        (if (need("orders") || need("lineitem") || need("customer_aligned"))
          Set("orders", "lineitem") else Set.empty) ++
        (if ((need & hier).nonEmpty) hier else Set.empty)
      written.foreach(t => Files.writeString(markerOf(t), s"$base@$factor"))
    }

    // √factor-scaled IVF quantizer: centroidMod grows so C stays ≈ √n
    def sqrtMod(m: Int, f: Int): Int =
      math.max(1, math.round(m * math.sqrt(f.toDouble)).toInt)
    val ivfSqrt: (String, Int) => DataFrame = (dir, mod) => {
      val e = graft.core.Tables(spark, dir, "embeddings")
      graft.operators.Similarity.ivfTopK(
        e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, centroidMod = mod, centroidRem = 7, nProbe = 4)
    }

    // d9/d10 ride the same replica-disjoint corpus: window hashes and
    // winnowing fingerprints never collide across replicas (every word
    // carries the replica suffix), so their duplicate structure per
    // unit volume is preserved exactly like the shingle family's.
    val warmDir = Bench.warmDirOf(base)
    (fixed ++ eager).foreach(q =>
      Bench.timedNoop(spark)(SparkEntry.queries(q)(spark, warmDir)))
    // bind-once: each frame is built before its window opens, so only
    // the drain is timed (a by-name rebuild per sample would re-register
    // the dedup builders' cache entries)
    def bindOnce(fn: => DataFrame): Double =
      Bench.millis(Bench.median((1 to iters).map { _ => val df = fn; timed(spark)(df) }))
    // incl. build: the window opens before the builder runs
    def inclBuild(fn: => DataFrame): Double =
      Bench.millis(Bench.median((1 to iters).map(_ => timed(spark)(fn))))

    val rows = (fixed.map { q =>
      (q, bindOnce(SparkEntry.queries(q)(spark, base)),
        bindOnce(SparkEntry.queries(q)(spark, out)))
    } ++ (if (withSqrtC) Seq(("n3_ann_ivf_sqrtC",
        bindOnce(ivfSqrt(base, 23)), bindOnce(ivfSqrt(out, sqrtMod(23, factor)))))
      else Nil) ++ (if (withV12Shapes) Seq(
      ("v12_bucket_locate", bindOnce(v12Shape(true)(base)), bindOnce(v12Shape(true)(out))),
      ("v12_window_sort", bindOnce(v12Shape(false)(base)), bindOnce(v12Shape(false)(out))))
    else Nil)) ++ eager.map { q =>
      (s"$q (incl. build)", inclBuild(SparkEntry.queries(q)(spark, base)),
        inclBuild(SparkEntry.queries(q)(spark, out)))
    }

    val lines = rows.map { case (q, a, b) =>
      val exp = math.log(b / a) / math.log(factor.toDouble)
      f"| `$q` | $a%.2f | $b%.2f | ${b / a}%.1fx | $exp%.2f |"
    }
    val subset = only.map(_.toSeq.sorted.mkString(","))
    val env = s"SPARK_GRAFT_SCALE_FACTOR=$factor " +
      subset.fold("")(q => s"SPARK_GRAFT_SCALE_QUERIES=$q ")
    val reproduce = s"""Reproduce: `${env}sbt "runMain graft.Scaling $base $out"`."""
    // ASCII only: sbt echoes a main's stdout in the platform charset,
    // which turns × or — into '?' under a POSIX locale
    println(
      s"""
         |## ${factor}x scale point - ${subset.getOrElse("every query")}
         |
         |Deterministic ${factor}x blow-up of `$base` (see the `graft.Scaling`
         |scaladoc), timed with Bench's helpers: noop sink, codegen warm-up
         |at sf0.001, median of $iters, local[$cpus], CPU calibration probe
         |${Bench.millis(cal)}s (idle ~0.19s, degraded bound ${Bench.CalibrationBoundSec}s).
         |exponent = log(t_big / t_base) / log($factor): 1.00 = linear,
         |2.00 = quadratic. `(incl. build)` rows time the DAG build too.
         |
         || query | base (s) | x$factor (s) | ratio | exponent |
         ||---|---|---|---|---|
         |${lines.mkString("\n|")}
         |
         |$reproduce
         |""".stripMargin)
    spark.stop()
  }
}
