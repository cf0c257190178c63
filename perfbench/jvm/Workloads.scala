package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.AuditSink
import graft.pipeline.{Controller, GraftApp}
import graft.streaming.{BucketStore, StoreTimers, StreamingIvm, StreamingIvmTopK}

import Json._

/** Small file helpers over java.nio. */
object Fs {
  def write(path: String, body: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), body)
  }
  def walk(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }
  }
  def bytes(dir: String): Long = walk(dir).map(Files.size).sum
  def delete(dir: String): Unit =
    walk(dir).foreach(Files.delete) // files only; empty directories are harmless
}

/** GraftApp migration: a Teradata DDL drop (translate → create), then a
  * data drop (load 8 staged tables → 24 DVT validations → report). Every
  * pass migrates into fresh target databases. */
final class Migrate(in: String, work: String, cpus: Int) extends Workload {
  val Tables: Seq[(String, String, String)] = graft.pipeline.E2ePipeline.TableKeys
  private val results = ArrayBuffer[String]()

  def setup(spark: SparkSession, rep: Int): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS mig_src LOCATION '$work/warehouse/mig_src.db'")
    Tables.foreach { case (t, _, _) =>
      spark.sql(s"DROP TABLE IF EXISTS mig_src.$t")
      spark.sql(s"CREATE TABLE mig_src.$t USING parquet LOCATION '$in/src/$t'")
      spark.table(s"mig_src.$t").count()
    }
  }

  private def ddlScripts(dir: String): Unit = {
    Fs.write(s"$dir/audit_run.sql",
      """CREATE SET TABLE e2e_ddl.audit_run ,FALLBACK ,
        |     CHECKSUM = DEFAULT
        |     (
        |      RUN_ID INTEGER NOT NULL,
        |      PHASE VARCHAR(32) CHARACTER SET LATIN NOT CASESPECIFIC,
        |      STARTED TIMESTAMP(6))
        |PRIMARY INDEX ( RUN_ID );""".stripMargin)
    Fs.write(s"$dir/audit_err.sql",
      """CREATE SET TABLE e2e_ddl.audit_err ,FALLBACK ,
        |     (
        |      RUN_ID INTEGER NOT NULL,
        |      MSG VARCHAR(256) CHARACTER SET LATIN)
        |PRIMARY INDEX ( RUN_ID );""".stripMargin)
  }

  private def sheet(path: String, tgtDb: String): Unit = {
    val head =
      "Translation / Migration Type,Validation Type,Source and Target,,,,Common Flag to all Validations,Common Flag to Row and Column Validation,,Schema Validation Flags,,Column Validation Flags,,,,,,,,,Row Validation Flags,,,,\n" +
      ",,source-table,target-table,source-query-file,target-query-file,filter-status,primary-keys,filters,exclusion-columns,allow-list,count,sum,min,max,avg,grouped-columns,wildcard-include-string-len,cast-to-bigint,threshold,hash,concat,comparison-fields,use-random-row,random-row-batch-size\n"
    val rows = Tables.flatMap { case (t, sumCol, pk) => Seq(
      s"data,schema,mig_src.$t,$tgtDb.$t,,,,,,,,,,,,,,,,,,,,,",
      s"data,column,mig_src.$t,$tgtDb.$t,,,,,,,,$sumCol,$sumCol,,,,,,,,,,,,",
      s"data,row,mig_src.$t,$tgtDb.$t,,,,$pk,,,,,,,,,,,,,*,,,,")
    }
    Fs.write(path, head + rows.mkString("\n") + "\n")
  }

  def pass(ctx: Main.Ctx): Unit = {
    val spark = ctx.spark
    val i = ctx.pass
    val root = s"$work/pass$i"
    val (tgt, ddlTgt, logs) = (s"mig_tgt_$i", s"mig_ddl_tgt_$i", s"mig_logs_$i")
    // authoring the drops and creating the target database is outside
    // both drop spans; the trace shows it as the pass's self time
    ddlScripts(s"$root/ddl_scripts")
    sheet(s"$root/validation_params.csv", tgt)
    spark.sql(s"CREATE DATABASE $tgt LOCATION '$root/warehouse/$tgt.db'")
    val audit = new AuditSink(spark, logs)
    val app = new GraftApp(spark, audit, s"$root/ck")
    val drops = s"$root/drops"
    Files.createDirectories(Paths.get(s"$drops/data"))
    Fs.write(s"$drops/ddl/mig-ddl.json",
      s"""{"type": "ddl", "source": "teradata", "unique_id": "mig-ddl",
         | "batchDistribution": $cpus,
         | "migrationTask": {"translationConfigDetails": {
         |   "gcsSourcePath": "$root/ddl_scripts",
         |   "nameMappingList": {"name_map": [
         |     {"source": {"type": "SCHEMA", "schema": "e2e_ddl"},
         |      "target": {"schema": "$ddlTgt"}}]}}}}""".stripMargin)
    val ddl = ctx.op("ddl_drop", "pipeline")(app.runOnce(drops)).flatMap(_._2)
    Fs.write(s"$drops/data/mig-data.json",
      s"""{"type": "data", "source": "hive", "unique_id": "mig-data",
         | "dvt_check": "Y", "batchDistribution": $cpus,
         | "transfer_config": {"dataSourceId": "HIVE", "displayName": "mig",
         |  "params": {"database_type": "Hive", "hive_db_name": "mig_src",
         |   "hive_gcs_staging_path": "$in/stage", "bq_dataset_id": "$tgt"}},
         | "validation_config": {
         |   "validation_type": "all",
         |   "validation_params_file_path": "$root/validation_params.csv"}}""".stripMargin)
    val data = ctx.op("data_drop", "pipeline")(app.runOnce(drops)).flatMap(_._2)
    pending = (ddl ++ data, audit)
  }
  private var pending: (Seq[Controller.RunResult], AuditSink) = _

  override def afterPass(spark: SparkSession, i: Int): Unit = {
    val (phases, audit) = pending
    val report = audit.read("dmt_report_table").collect()
      .map(r => (r.getAs[String]("unique_id"), r.getAs[String]("phase")))
    val attempts = audit.read("dmt_schema_results").collect()
      .map(_.getAs[Int]("attempts").toLong).sum
    results += obj(
      "pass" -> num(i.toLong),
      "phases" -> arr(phases.map(p => obj("phase" -> str(p.phase),
        "status" -> str(p.status),
        "total" -> str(p.details.getOrElse("total", "")),
        "failed" -> str(p.details.getOrElse("failed", ""))))),
      "report" -> arr(report.toSeq.map { case (u, p) => str(s"$u/$p") }),
      "schema_attempts" -> num(attempts),
      "load_rows" -> num(audit.read("dmt_load_results").collect()
        .map(_.getAs[Long]("rows_loaded")).sum))
    Seq(s"mig_tgt_$i", s"mig_ddl_tgt_$i", s"mig_logs_$i")
      .foreach(db => spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE"))
    Fs.delete(s"$work/pass$i")
  }

  def finish(spark: SparkSession): String = obj("passes" -> arr(results))
}

/** A CDC stream folded into two maintained views: the StreamingIvm
  * per-group (count, sum) aggregate on every batch, and the
  * StreamingIvmTopK per-group top-3 items on the batches listed in
  * `topk_batches`. Both views are read after every `read_every`-th batch.
  * The stream continues across the warm-up and the passes; a pass is one
  * wide-batch period. */
final class IvmCdc(in: String, work: String) extends Workload {
  private val meta = flatJson(Files.readString(Paths.get(s"$in/cdc/meta.json")))
  private val period = meta("period").toInt
  private val readEvery = meta("read_every").toInt
  private val nBatches = meta("batches").toInt
  private val topkBatches = meta("topk_batches").split(",").map(_.trim.toInt).toSet
  /** Store buckets each aggregate batch touches, as the generator computed
    * them (batch b at index b - 1), so no probe job runs in a pass. */
  private val touchedBuckets = meta("touched_buckets").split(",").map(_.trim.toInt)
  private val buckets = meta("store_buckets").toInt
  private val Group = Seq("grp")
  private val K = 3
  private var aggDir, topkDir = ""
  private var next = 1
  private val batchFacts = ArrayBuffer[String]()

  override def exhausted: Boolean = next + period - 1 > nBatches

  /** Half a pass, untimed: the first narrow folds of a stream still
    * compile and load code the set-up's bulk folds did not touch. */
  override def warmUp(ctx: Main.Ctx): Unit = (1 to period / 2).foreach(_ => fold(ctx))

  /** Tiny reader for the generator's flat {"k": value} meta file. */
  private def flatJson(s: String): Map[String, String] =
    "\"([^\"]+)\"\\s*:\\s*(\"[^\"]*\"|[^,}]+)".r.findAllMatchIn(s)
      .map(m => m.group(1) -> m.group(2).trim.stripPrefix("\"").stripSuffix("\"")).toMap

  private def batch(spark: SparkSession, kind: String, b: Int): DataFrame =
    spark.read.parquet(f"$in/cdc/$kind%s_$b%05d.parquet")

  def setup(spark: SparkSession, rep: Int): Unit = {
    aggDir = s"$work/store$rep/agg"
    topkDir = s"$work/store$rep/topk"
    val base = spark.read.parquet(s"$in/cdc/base.parquet")
    StreamingIvm.applyBatch(base, 0, Group, "op", "val", aggDir, buckets)
    StreamingIvmTopK.applyBatch(base, 0, Group, "op", "item", K, topkDir, buckets)
    if (rep > 1) Fs.delete(s"$work/store${rep - 1}")
  }

  def pass(ctx: Main.Ctx): Unit = (1 to period).foreach(_ => fold(ctx))

  /** Fold the next batch (and read both views after every `readEvery`-th). */
  private def fold(ctx: Main.Ctx): Unit = {
    val spark = ctx.spark
    val traced = ctx.trace.enabled
    val b = next
    val delta = batch(spark, "agg", b)
    if (traced) { StoreTimers.reset(); StoreTimers.enabled = true }
    ctx.op("fold", "streaming") {
      ctx.trace.span(spark, "streaming.fold", "streaming")(
        StreamingIvm.applyBatch(delta, b, Group, "op", "val", aggDir, buckets))
      if (topkBatches(b))
        ctx.trace.span(spark, "streaming.topk_fold", "streaming")(
          StreamingIvmTopK.applyBatch(batch(spark, "topk", b), b, Group, "op",
            "item", K, topkDir, buckets))
    }
    if (traced) {
      StoreTimers.enabled = false
      batchFacts += factsOf(spark, ctx.pass, b, StoreTimers.seconds)
    }
    if (b % readEvery == 0) ctx.op("read", "streaming") {
      StreamingIvm.readAgg(spark, aggDir).collect()
      StreamingIvmTopK.readTopK(spark, topkDir).collect()
    }
    next += 1
  }

  /** Store facts of batch `b`, observed after its commit. Reads only
    * files: no Spark job, so the trace counts none of this as streaming. */
  private def factsOf(spark: SparkSession, pass: Int, b: Int,
      timers: Map[String, Double]): String = {
    val dirs = Seq(s"$aggDir/snap") ++
      (if (topkBatches(b)) Seq(s"$topkDir/counts", s"$topkDir/topk") else Nil)
    val written = dirs.flatMap(d => Fs.walk(s"$d/batch=$b"))
    val deltaBytes = Files.size(Paths.get(f"$in/cdc/agg_$b%05d.parquet")) +
      (if (topkBatches(b)) Files.size(Paths.get(f"$in/cdc/topk_$b%05d.parquet")) else 0L)
    val touched = touchedBuckets(b - 1)
    val manifest = BucketStore.readManifest(spark, aggDir, "snap", Some(b.toLong))
    obj("pass" -> num(pass.toLong), "batch" -> num(b.toLong),
      "topk" -> topkBatches(b).toString,
      "touched_buckets" -> num(touched.toLong),
      "files_written" -> num(written.size.toLong),
      "bytes_written" -> num(written.map(Files.size).sum),
      "delta_bytes" -> num(deltaBytes),
      "compaction" -> (manifest.count(_._2 == b) > touched).toString,
      "manifest_links" -> num(manifest.values.toSet.size.toLong),
      "store" -> obj(timers.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }: _*))
  }

  def finish(spark: SparkSession): String = {
    StreamingIvm.readAgg(spark, aggDir).coalesce(1)
      .write.mode("overwrite").parquet(s"$work/check/agg")
    StreamingIvmTopK.readTopK(spark, topkDir).coalesce(1)
      .write.mode("overwrite").parquet(s"$work/check/topk")
    obj("batches_folded" -> num((next - 1).toLong),
      "store_mb" -> num(Fs.bytes(new java.io.File(aggDir).getParent) / 1048576.0),
      "batches" -> arr(batchFacts))
  }
}

/** Oracle-checked SparkEntry queries, each built and run once per pass.
  * Each execution writes its result as parquet, which the checks read
  * after the run. */
final class QueryMix(in: String, work: String) extends Workload {
  private val keys = Files.readString(Paths.get(s"$in/queries/keys.txt"))
    .split("\\s+").filter(_.nonEmpty).toSeq
  private lazy val entries = graft.SparkEntry.queries

  def setup(spark: SparkSession, rep: Int): Unit =
    graft.core.Tables.names.foreach(t => graft.core.Tables(spark, s"$in/sf", t).schema)

  def pass(ctx: Main.Ctx): Unit = keys.foreach { k =>
    val spark = ctx.spark
    ctx.op(k, "queries") {
      val df = ctx.trace.span(spark, s"build $k", "queries")(entries(k)(spark, s"$in/sf"))
      ctx.trace.span(spark, s"exec $k", "queries") {
        df.write.mode("overwrite").parquet(s"$work/check/$k")
        ctx.trace.flush(spark) // count this execution's exchanges inside its span
      }
    }
    spark.catalog.clearCache()
  }

  def finish(spark: SparkSession): String = {
    val oracle = graft.SparkEntry.oracleSql
    obj("oracle" -> obj(keys.map(k => k -> str(oracle.getOrElse(k, ""))): _*))
  }
}
