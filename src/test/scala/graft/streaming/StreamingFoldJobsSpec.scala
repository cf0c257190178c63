package graft.streaming

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._

/** The per-batch Spark job budget of the two streaming folds the
  * `ivm_cdc` benchmark runs, counted with a SparkListener: after a
  * first batch, a narrow [[StreamingIvm.applyBatch]] runs one guard job
  * plus its upsert write, a [[StreamingIvmTopK.applyBatch]] one guard
  * job plus its two writes, and no store read — from a fold or from
  * `readAgg`/`readTopK` — starts a schema-inference job. Pinned at AQE
  * on with the default broadcast threshold; the counts exclude the read
  * of the delta (the deltas here are local rows). Also pins the schema
  * path: a store read through the manifests' schema headers equals the
  * same store read through the inference fallback. */
class StreamingFoldJobsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.GraftSession.local("4", "fold-jobs")
  import spark.implicits._

  /** The call site (stage details) of every job `f` starts. One
    * listener queue delivers in order: once a sentinel job is seen,
    * every job `f` started has been seen too. */
  private def jobsOf[T](f: => T): (T, Seq[String]) = {
    val sites = new ConcurrentLinkedQueue[String]()
    val sentinel = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == "sentinel"))
          sentinel.countDown()
        else sites.add(e.stageInfos.headOption.map(_.details).getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val r = f
      sc.setJobDescription("sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(sentinel.await(60, TimeUnit.SECONDS))
      (r, sites.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  private def withPlanConf[T](f: => T): T = {
    val keys = Seq("spark.sql.adaptive.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "10485760")
    val was = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally was.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val InferenceSite = "BucketStore$.readVia"

  private def aggBatch(rows: (String, String, Double)*): DataFrame =
    rows.toDF("g", "op", "v")
  private def topkBatch(rows: (String, String, Long)*): DataFrame =
    rows.toDF("g", "op", "ck")

  private def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString

  test("a narrow StreamingIvm fold runs 5 jobs, a top-k fold 14, and no store read infers a schema") {
    withPlanConf {
      val aggDir = tmp("fold-jobs-agg") + "/agg"
      val topkDir = tmp("fold-jobs-topk")
      StreamingIvm.applyBatch(aggBatch(("a", "I", 1.0), ("b", "I", 2.0),
        ("c", "I", 3.0)), 0L, Seq("g"), "op", "v", aggDir, 4)
      StreamingIvmTopK.applyBatch(topkBatch(("a", "I", 1L), ("a", "I", 2L),
        ("b", "I", 3L)), 0L, Seq("g"), "op", "ck", 2, topkDir, 4)

      val (nAgg, aggSites) = jobsOf(StreamingIvm.applyBatch(
        aggBatch(("a", "D", 1.0), ("a", "I", 4.0), ("d", "I", 5.0)),
        1L, Seq("g"), "op", "v", aggDir, 4))
      val (nTopk, topkSites) = jobsOf(StreamingIvmTopK.applyBatch(
        topkBatch(("a", "D", 1L), ("a", "I", 3L), ("c", "I", 4L)),
        1L, Seq("g"), "op", "ck", 2, topkDir, 4))
      assert(aggSites.size == 5, aggSites.mkString("\n---\n"))
      assert(topkSites.size == 14, topkSites.mkString("\n---\n"))
      (aggSites ++ topkSites).foreach(s => assert(!s.contains(InferenceSite), s))
      // the returned counts are the touched slices (every group in the
      // delta's buckets), observed on the write
      def touchedSlice(view: DataFrame, groups: String*): Long = {
        val bucket = BucketStore.bucketize(Seq("g"), 4)
        val touched = groups.toDF("g").select(bucket).as[Int].collect().toSeq
        view.filter(bucket.isin(touched: _*)).count()
      }
      assert(nAgg == touchedSlice(StreamingIvm.readAgg(spark, aggDir), "a", "d"))
      assert(nTopk == touchedSlice(StreamingIvmTopK.readTopK(spark, topkDir), "a", "c"))

      // building a view read starts no job; collecting it infers nothing
      val (views, buildSites) = jobsOf(
        (StreamingIvm.readAgg(spark, aggDir), StreamingIvmTopK.readTopK(spark, topkDir)))
      assert(buildSites.isEmpty, buildSites.mkString("\n---\n"))
      val (_, readSites) = jobsOf { views._1.collect(); views._2.collect() }
      readSites.foreach(s => assert(!s.contains(InferenceSite), s))
    }
  }

  test("a store read through the schema headers equals the inference fallback's read") {
    val aggDir = tmp("fold-schema-agg") + "/agg"
    val topkDir = tmp("fold-schema-topk")
    val batches = Seq(
      Seq(("a", "I", 1.5), ("b", "I", 2.0), ("c", "I", 3.25), ("d", "I", 4.0)),
      Seq(("a", "D", 1.5), ("e", "I", 7.0)),
      Seq(("b", "D", 2.0), ("c", "I", 1.0)))
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamingIvm.applyBatch(aggBatch(b: _*), i.toLong, Seq("g"), "op", "v", aggDir, 4)
      StreamingIvmTopK.applyBatch(topkBatch(b.map { case (g, op, v) =>
        (g, op, v.toLong) }: _*), i.toLong, Seq("g"), "op", "ck", 2, topkDir, 4)
    }
    // the aggregate keeps its links across batches; the top-k families
    // are compacted into one batch directory (compaction's own headers)
    StreamingIvmTopK.compact(spark, topkDir, batches.size.toLong)
    def read(): Seq[DataFrame] = Seq(StreamingIvm.readAgg(spark, aggDir),
      StreamingIvmTopK.readTopK(spark, topkDir), StreamingIvmTopK.readCounts(spark, topkDir))
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq

    val (withHeader, headerSites) = jobsOf(read())
    assert(headerSites.isEmpty, headerSites.mkString("\n---\n"))
    val expected = withHeader.map(df => (df.schema, rows(df)))

    // strip every manifest's schema header: the store a writer without
    // the header would have left, read through the inference fallback
    val manifests = Seq(aggDir, topkDir).flatMap(d =>
      java.nio.file.Files.walk(java.nio.file.Paths.get(d)).iterator().asScala
        .filter(p => Set("manifest", "keys_manifest")(p.getFileName.toString)).toSeq)
    assert(manifests.nonEmpty)
    manifests.foreach { p =>
      val lines = java.nio.file.Files.readAllLines(p).asScala.filter(_.nonEmpty)
      // a manifest pointing into its own batch carries that slice's schema
      val self = p.getParent.getFileName.toString.stripPrefix("batch=")
      if (lines.exists(_.split(" ").last == self))
        assert(lines.head.startsWith("#schema "), p.toString)
      java.nio.file.Files.write(p, lines.filterNot(_.startsWith("#")).asJava)
      // the local file system's checksum sidecar would refuse the edit
      java.nio.file.Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))
    }
    val (inferred, inferSites) = jobsOf(read())
    assert(inferSites.exists(_.contains(InferenceSite)), inferSites.mkString("\n---\n"))
    assert(inferred.map(df => (df.schema, rows(df))) == expected)
  }
}
