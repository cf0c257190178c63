package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.AuditSink
import graft.load.{IncrementalLoader, TableLoader}
import graft.schema.DdlRunner
import graft.translate.StatementSplitter
import graft.validate.ColumnValidator.AggSpec

/** End-to-end pipeline semantics: DDL run with retry machine, bulk
  * loads, incremental loads with audit dedup, controller routing,
  * config-drop streaming. */
class PipelineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.GraftSession.local("4", "pipeline-test")
  lazy val audit = new AuditSink(spark, "dmt_logs_test")

  def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("DdlRunner: already-exists is DONE, missing db retries then fails, bad SQL fails") {
    spark.sql("CREATE DATABASE IF NOT EXISTS ddlrun")
    spark.sql("CREATE TABLE IF NOT EXISTS ddlrun.t1 (x INT) USING parquet")
    val results = DdlRunner.run(spark, Seq(
      "dup" -> "CREATE TABLE ddlrun.t1 (x INT) USING parquet", // exists -> DONE
      "new" -> "CREATE TABLE IF NOT EXISTS ddlrun.t2 (y INT) USING parquet",
      "nodb" -> "CREATE TABLE missing_db_xyz.t3 (z INT) USING parquet", // retries -> FAILED
      "bad" -> "CREATE TABLE ddlrun.t4 (w BOGUSTYPE)"), parallelism = 2)
    val byName = results.map(r => r.name -> r.state).toMap
    assert(byName("dup") == DdlRunner.Done)
    assert(byName("new") == DdlRunner.Done)
    assert(byName("nodb") == DdlRunner.Failed)
    assert(byName("bad") == DdlRunner.Failed)
    assert(results.find(_.name == "nodb").get.attempts >= 2) // actually retried
    assert(spark.catalog.tableExists("ddlrun.t2"))
  }

  test("TableLoader: parquet overwrite load with sort-within-partitions + size cap") {
    val src = "/root/testdata/sf0.001/nation.parquet"
    spark.sql("CREATE DATABASE IF NOT EXISTS lod")
    val ok = TableLoader.load(spark, TableLoader.LoadSpec(
      "lod.nation", src, clusterBy = Seq("n_name")))
    assert(ok.status == "PASS" && ok.rowsLoaded == 25)
    val capped = TableLoader.load(spark, TableLoader.LoadSpec(
      "lod.nation_capped", src, sizeCapBytes = 10))
    assert(capped.status == "SKIPPED")
    assert(!spark.catalog.tableExists("lod.nation_capped"))
    val missing = TableLoader.load(spark, TableLoader.LoadSpec(
      "lod.nope", "/no/such/path"))
    assert(missing.status == "FAIL")
  }

  test("TableLoader: csv with explicit schema ddl and delimiter") {
    val dir = tmp("csvsrc")
    Files.writeString(java.nio.file.Paths.get(s"$dir/data.csv"),
      "k|v\n1|a\n2|b\n")
    val out = TableLoader.load(spark, TableLoader.LoadSpec(
      "lod.csv_t", s"$dir/data.csv", format = "csv",
      schemaDdl = Some("k INT, v STRING"), csvDelimiter = "|"))
    assert(out.status == "PASS" && out.rowsLoaded == 2)
    assert(spark.table("lod.csv_t").schema.map(_.name) == Seq("k", "v"))
  }

  test("IncrementalLoader: appends only new files, dedups on rerun") {
    import spark.implicits._
    spark.sql("CREATE DATABASE IF NOT EXISTS lod")
    val srcDir = tmp("incsrc")
    val inc = new IncrementalLoader(spark, audit)
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, v STRING")

    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$srcDir/f1")
    inc.runOnce(s"$srcDir/f1", schema, "lod.inc_t", tmp("ck1"))
    assert(spark.table("lod.inc_t").count() == 2)

    // second batch: new file arrives at the top level, fresh checkpoint
    // (simulates checkpoint loss) — f1's rows must be anti-joined away
    val staging = tmp("incstage")
    Seq((3L, "c")).toDF("id", "v")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(staging)
    val part = Files.list(java.nio.file.Paths.get(staging)).toArray
      .map(_.toString).filter(_.endsWith(".parquet")).head
    Files.copy(java.nio.file.Paths.get(part),
      java.nio.file.Paths.get(s"$srcDir/f1/arrived.parquet"))
    inc.runOnce(s"$srcDir/f1", schema, "lod.inc_t", tmp("ck2"))
    val rows = spark.table("lod.inc_t").as[(Long, String)].collect().toSet
    assert(rows == Set((1L, "a"), (2L, "b"), (3L, "c")), s"got $rows")
  }

  test("IncrementalLoader: over-cap file batch fails loudly before collecting") {
    import spark.implicits._
    spark.sql("CREATE DATABASE IF NOT EXISTS lod")
    val srcDir = tmp("inccap")
    // two files in one batch against a cap of 1 — the driver-side audit
    // collect must refuse with the shard-or-raise message, not OOM
    val inc = new IncrementalLoader(spark, audit, "inc_cap_audit", maxFilesPerBatch = 1)
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, v STRING")
    Seq((1L, "a")).toDF("id", "v").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$srcDir/d/p1")
    Seq((2L, "b")).toDF("id", "v").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$srcDir/d/p2")
    val e = intercept[Exception](
      inc.runOnce(s"$srcDir/d/*", schema, "lod.inc_cap_t", tmp("ckcap")))
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(m =>
      m.contains("driver-side audit cap") && m.contains("shard the drop directory")),
      msgs(e).mkString(" | "))
  }

  test("Controller ddl route: translate -> create -> validate -> report") {
    val ddl =
      """CREATE SET TABLE wh.items ,FALLBACK ,
        |     CHECKSUM = DEFAULT
        |     (
        |      ID INTEGER NOT NULL,
        |      NAME VARCHAR(40) CHARACTER SET LATIN NOT CASESPECIFIC,
        |      PRICE DECIMAL(15,2))
        |PRIMARY INDEX ( ID );""".stripMargin
    val cfg = Controller.GraftConfig(
      kind = "ddl", source = "teradata", uniqueId = "run1",
      ddlFiles = Seq(("items.sql", ddl)))
    val results = Controller.run(spark, cfg, audit)
    assert(results.map(_.phase).contains("translation"))
    assert(results.forall(_.status == "Success"), results.toString)
    assert(spark.catalog.tableExists("wh.items"))
    val types = spark.table("wh.items").schema.map(f => f.name -> f.dataType.simpleString).toMap
    assert(types("ID") == "int" && types("PRICE") == "decimal(15,2)")
    assert(audit.read("dmt_report_table").filter(col("unique_id") === "run1").count() >= 2)
    // clean run: dag report row exists with an EMPTY Error array
    val dag = audit.read("dmt_dag_report").filter(col("unique_id") === "run1").collect()
    assert(dag.length == 1 && dag.head.getAs[String]("dag_status") == "Success"
      && dag.head.getSeq[Any](dag.head.fieldIndex("Error")).isEmpty)
  }

  test("Controller ddl route: failed script lands in the nested Error array") {
    val cfg = Controller.GraftConfig(
      kind = "ddl", source = "teradata", uniqueId = "run1-fail",
      ddlFiles = Seq(
        ("good.sql", "CREATE TABLE whf.ok_t (ID INTEGER, NAME VARCHAR(10));"),
        // a type no dialect maps -> translation error record
        ("bad.sql", "CREATE TABLE whf.bad_t (ID INTEGER, J FROBNICATE(4));")))
    val results = Controller.run(spark, cfg, audit)
    assert(results.exists(_.status != "Success"))
    // the run-level report row carries the failing task's name + message
    // nested as ARRAY<STRUCT<task_name, error_message, log_link>>
    val dag = audit.read("dmt_dag_report")
      .filter(col("unique_id") === "run1-fail")
      .selectExpr("explode(Error) AS e").select("e.*").collect()
    assert(dag.nonEmpty, "expected nested error records")
    assert(dag.exists(r => r.getAs[String]("task_name").contains("bad.sql")),
      dag.mkString("\n"))
    assert(dag.forall(r => r.getAs[String]("log_link").startsWith("dmt_logs.")))
  }

  test("Controller data route: load + column validation vs source parquet") {
    spark.sql("CREATE DATABASE IF NOT EXISTS whd")
    // source-of-truth table registered from raw parquet
    spark.read.parquet("/root/testdata/sf0.001/region.parquet")
      .write.mode(SaveMode.Overwrite).saveAsTable("whd.region_src")
    val cfg = Controller.GraftConfig(
      kind = "data", source = "hive", uniqueId = "run2",
      loads = Seq(TableLoader.LoadSpec("whd.region_tgt",
        "/root/testdata/sf0.001/region.parquet")),
      validations = Seq(Controller.ValidationSpec(
        kind = "column", sourceTable = "whd.region_src",
        targetTable = "whd.region_tgt",
        aggSpecs = Seq(AggSpec("count", "r_regionkey"), AggSpec("sum", "r_regionkey")))))
    val results = Controller.run(spark, cfg, audit)
    assert(results.forall(_.status == "Success"), results.toString)
  }

  test("Controller data route loads avro sources end-to-end (K1)") {
    import org.apache.avro.SchemaBuilder
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericDatumWriter, GenericRecord, GenericRecordBuilder}
    spark.sql("CREATE DATABASE IF NOT EXISTS wha")
    // source of truth from parquet; the avro twin is derived from it
    val region = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
    region.write.mode(SaveMode.Overwrite).saveAsTable("wha.region_src")
    val s = SchemaBuilder.record("region").fields()
      .requiredLong("r_regionkey").requiredString("r_name").endRecord()
    val dir = Files.createTempDirectory("avro-e2e")
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](s))
    w.create(s, dir.resolve("region.avro").toFile)
    region.select("r_regionkey", "r_name").collect().foreach { r =>
      w.append(new GenericRecordBuilder(s)
        .set("r_regionkey", r.getAs[Number](0).longValue)
        .set("r_name", r.getString(1)).build())
    }
    w.close()
    val cfg = Controller.GraftConfig(
      kind = "data", source = "hive", uniqueId = "run-avro",
      loads = Seq(TableLoader.LoadSpec("wha.region_tgt",
        dir.toString + "/*.avro", format = "avro")),
      validations = Seq(Controller.ValidationSpec(
        kind = "column", sourceTable = "wha.region_src",
        targetTable = "wha.region_tgt",
        aggSpecs = Seq(AggSpec("count", "r_regionkey"), AggSpec("sum", "r_regionkey")))))
    val results = Controller.run(spark, cfg, audit)
    assert(results.forall(_.status == "Success"), results.toString)
    assert(spark.table("wha.region_tgt").count() == region.count())
  }

  test("Controller: bad validation spec is isolated, others still run and report") {
    spark.sql("CREATE DATABASE IF NOT EXISTS whv")
    spark.read.parquet("/root/testdata/sf0.001/region.parquet")
      .write.mode(SaveMode.Overwrite).saveAsTable("whv.region_src")
    spark.read.parquet("/root/testdata/sf0.001/region.parquet")
      .write.mode(SaveMode.Overwrite).saveAsTable("whv.region_tgt")
    val cfg = Controller.GraftConfig(
      kind = "data", source = "hive", uniqueId = "run-visolate",
      validations = Seq(
        // missing source table: must become a Failed result, not a throw
        Controller.ValidationSpec(kind = "column",
          sourceTable = "whv.does_not_exist", targetTable = "whv.region_tgt",
          aggSpecs = Seq(AggSpec("count", "r_regionkey"))),
        Controller.ValidationSpec(kind = "column",
          sourceTable = "whv.region_src", targetTable = "whv.region_tgt",
          aggSpecs = Seq(AggSpec("count", "r_regionkey")))))
    val results = Controller.run(spark, cfg, audit) // must not throw
    assert(results.exists(r => r.phase.startsWith("dvt_column") && r.status == "Failed"),
      results.toString)
    assert(results.exists(r => r.phase == "dvt_column:whv.region_tgt" && r.status == "Success"),
      results.toString)
    // the failed spec lands in the dag report's nested Error array
    val dag = audit.read("dmt_dag_report")
      .filter(col("unique_id") === "run-visolate")
      .selectExpr("explode(Error) AS e").select("e.*").collect()
    assert(dag.exists(r => r.getAs[String]("error_message").toLowerCase.contains("does_not_exist")
      || r.getAs[String]("task_name").contains("dvt_column")), dag.mkString("\n"))
    // and still produces per-phase report rows for BOTH validations
    assert(audit.read("dmt_report_table")
      .filter(col("unique_id") === "run-visolate")
      .filter(col("phase").startsWith("data/dvt_column")).count() == 2)
  }

  test("Controller: column validation with no agg flags fails actionably, counted 1/1") {
    spark.sql("CREATE DATABASE IF NOT EXISTS whe")
    spark.read.parquet("/root/testdata/sf0.001/region.parquet")
      .write.mode(SaveMode.Overwrite).saveAsTable("whe.region_src")
    spark.read.parquet("/root/testdata/sf0.001/region.parquet")
      .write.mode(SaveMode.Overwrite).saveAsTable("whe.region_tgt")
    val cfg = Controller.GraftConfig(
      kind = "data", source = "hive", uniqueId = "run-noagg",
      validations = Seq(Controller.ValidationSpec(kind = "column",
        sourceTable = "whe.region_src", targetTable = "whe.region_tgt",
        aggSpecs = Nil))) // sheet row with no count/sum/min/max/avg cells
    val results = Controller.run(spark, cfg, audit) // isolated, not thrown
    val failed = results.find(_.phase == "dvt_column:whe.region_tgt")
    assert(failed.exists(_.status == "Failed"), results.toString)
    // the error names the table and the sheet columns, not "head of empty list"
    val err = failed.get.details("error")
    assert(err.contains("whe.region_src") && err.contains("11-15"), err)
    // a validation that could not execute counts as 1 attempted / 1 failed
    assert(failed.get.details("total") == "1" && failed.get.details("failed") == "1",
      failed.toString)
    val agg = audit.read("dmt_dvt_aggregated_results")
      .filter(col("unique_id") === "run-noagg").collect()
    assert(agg.length == 1 &&
      agg.head.getAs[Long]("total") == 1L && agg.head.getAs[Long]("failed") == 1L,
      agg.mkString("\n"))
  }

  /** Tables for the concurrent-validation cases: nation with one seeded
    * name mismatch, nation with an extra column, region twice. */
  private lazy val whpTables: Unit = {
    spark.sql("CREATE DATABASE IF NOT EXISTS whp")
    val nation = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    val region = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
    nation.write.mode(SaveMode.Overwrite).saveAsTable("whp.nation_src")
    nation.withColumn("n_name", when(col("n_nationkey") === 3, lit("perturbed"))
        .otherwise(col("n_name")))
      .write.mode(SaveMode.Overwrite).saveAsTable("whp.nation_tgt")
    nation.withColumn("n_extra", lit(1))
      .write.mode(SaveMode.Overwrite).saveAsTable("whp.nation_wide")
    region.write.mode(SaveMode.Overwrite).saveAsTable("whp.region_src")
    region.write.mode(SaveMode.Overwrite).saveAsTable("whp.region_tgt")
  }

  /** (phase, total, succeeded, failed, status) of a run's aggregated DVT
    * rows, in the order they were written: one append writes its rows
    * in partition order into files named by partition index. */
  private def dvtRows(uniqueId: String): Seq[(String, Long, Long, Long, String)] =
    audit.read("dmt_dvt_aggregated_results")
      .filter(col("unique_id") === uniqueId)
      .orderBy(input_file_name(), monotonically_increasing_id())
      .collect().toSeq.map(r => (r.getAs[String]("phase"), r.getAs[Long]("total"),
        r.getAs[Long]("succeeded"), r.getAs[Long]("failed"), r.getAs[String]("status")))

  test("Controller: concurrent validations match a serial run, in config order") {
    whpTables
    val specs = Seq(
      Controller.ValidationSpec(kind = "column", sourceTable = "whp.nation_src",
        targetTable = "whp.nation_tgt",
        aggSpecs = Seq(AggSpec("count", "n_nationkey"), AggSpec("sum", "n_regionkey"))),
      Controller.ValidationSpec(kind = "row", sourceTable = "whp.nation_src",
        targetTable = "whp.nation_tgt", primaryKeys = Seq("n_nationkey"),
        compareCols = Seq("n_name", "n_regionkey")),
      Controller.ValidationSpec(kind = "schema", sourceTable = "whp.region_src",
        targetTable = "whp.region_tgt"),
      Controller.ValidationSpec(kind = "column", sourceTable = "whp.no_such_table",
        targetTable = "whp.region_tgt", aggSpecs = Seq(AggSpec("count", "r_regionkey"))),
      Controller.ValidationSpec(kind = "schema", sourceTable = "whp.nation_src",
        targetTable = "whp.nation_wide"),
      Controller.ValidationSpec(kind = "row", sourceTable = "whp.region_src",
        targetTable = "whp.region_tgt", primaryKeys = Seq("r_regionkey")),
      Controller.ValidationSpec(kind = "column", sourceTable = "whp.nation_src",
        targetTable = "whp.nation_wide", groupBy = Seq("n_regionkey"),
        aggSpecs = Seq(AggSpec("count", "n_nationkey"))))
    def run(n: Int) = Controller.runValidations(spark, Controller.GraftConfig(
      kind = "data", source = "hive", uniqueId = s"run-vconc-$n",
      validations = specs, batchDistribution = n), audit).map(_.copy(uniqueId = ""))
    val serial = run(1)
    val concurrent = run(4)
    assert(concurrent == serial)
    val phases = specs.map(v => s"dvt_${v.kind}:${v.targetTable}")
    assert(serial.map(_.phase) == phases)
    assert(serial.map(_.status) == Seq("Success", "Partial", "Success", "Failed",
      "Partial", "Success", "Success"), serial.mkString("\n"))
    assert(serial(1).details("total") == "25" && serial(1).details("passed") == "24")
    assert(serial(4).details("total") == "4" && serial(4).details("passed") == "3")
    val rows = dvtRows("run-vconc-4")
    assert(rows == dvtRows("run-vconc-1"))
    assert(rows.map(_._1) == phases)
    // the broken spec is exactly one attempted, one failed
    assert(rows.filter(_._5 == "Failed") == Seq(
      ("dvt_column:whp.region_tgt", 1L, 0L, 1L, "Failed")), rows.mkString("\n"))
  }

  test("Controller: a schema validation starts no Spark job") {
    whpTables
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val sentinel = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == "sentinel"))
          sentinel.countDown()
        else sites.add(e.stageInfos.headOption.map(_.details).getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val results = try {
      val r = Controller.runValidations(spark, Controller.GraftConfig(
        kind = "data", source = "hive", uniqueId = "run-vschema",
        validations = Seq(Controller.ValidationSpec(kind = "schema",
          sourceTable = "whp.nation_src", targetTable = "whp.nation_wide"))), audit)
      // one listener queue delivers in order: once the sentinel job is
      // seen, every job the validation started has been seen too
      sc.setJobDescription("sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(sentinel.await(60, java.util.concurrent.TimeUnit.SECONDS))
      r
    } finally sc.removeSparkListener(listener)
    assert(results.map(r => (r.status, r.details("total"), r.details("passed"))) ==
      Seq(("Partial", "4", "3")))
    import scala.jdk.CollectionConverters._
    // the audit append is the only Spark work
    assert(sites.asScala.nonEmpty && sites.asScala.forall(_.contains("graft.core.AuditSink")),
      sites.asScala.mkString("\n---\n"))
  }

  test("Controller report rows carry real per-phase pass/fail counts") {
    val cfg = Controller.GraftConfig(
      kind = "ddl", source = "teradata", uniqueId = "run-counts",
      ddlFiles = Seq(
        ("good.sql", "CREATE TABLE whc.ok_t (ID INTEGER, NAME VARCHAR(10));"),
        ("bad.sql", "CREATE TABLE whc.bad_t (ID INTEGER, J FROBNICATE(4));")))
    Controller.run(spark, cfg, audit)
    val rows = audit.read("dmt_report_table")
      .filter(col("unique_id") === "run-counts").collect()
      .map(r => r.getAs[String]("phase") ->
        ((r.getAs[Long]("total"), r.getAs[Long]("succeeded"), r.getAs[Long]("failed"))))
      .toMap
    // translation: 1 of 2 files translated; succeeded/failed must be
    // REAL counts, not the hardcoded zeros of rounds <= 4
    assert(rows("ddl/translation") == ((2L, 1L, 1L)), rows.toString)
    // schema: the one translated script runs clean
    assert(rows("ddl/schema") == ((1L, 1L, 0L)), rows.toString)
  }

  test("Controller data route: incremental stage drains arrivals with audit dedup") {
    import spark.implicits._
    spark.sql("CREATE DATABASE IF NOT EXISTS lodinc")
    val srcDir = tmp("incdrop")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$srcDir/files")
    val cfg = Controller.GraftConfig(
      kind = "data", source = "hive", uniqueId = "run-inc",
      incrementals = Seq(Controller.IncrementalSpec(
        s"$srcDir/files", "id BIGINT, v STRING", "lodinc.t", tmp("ckinc"))))
    val results = Controller.run(spark, cfg, audit)
    assert(results.exists(r => r.phase == "incremental" && r.status == "Success"),
      results.toString)
    assert(spark.table("lodinc.t").count() == 2)
    // rerun with a fresh checkpoint: audit dedup keeps it idempotent
    val again = cfg.copy(incrementals = Seq(Controller.IncrementalSpec(
      s"$srcDir/files", "id BIGINT, v STRING", "lodinc.t", tmp("ckinc2"))))
    Controller.run(spark, again, audit)
    assert(spark.table("lodinc.t").count() == 2)
  }

  test("TableLoader: range-partitioned write clusters files by key range") {
    spark.sql("CREATE DATABASE IF NOT EXISTS lodrange")
    // tiny test input: stop AQE collapsing the range shuffle to 1 file
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val out = try TableLoader.load(spark, TableLoader.LoadSpec(
      "lodrange.orders_r", "/root/testdata/sf0.001/orders.parquet",
      rangePartitionBy = Seq("o_orderkey")))
    finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    assert(out.status == "PASS")
    // each file's key range must be disjoint from the others
    import spark.implicits._
    val ranges = spark.table("lodrange.orders_r")
      .select(col("o_orderkey"), input_file_name().as("f"))
      .groupBy("f").agg(min("o_orderkey").as("lo"), max("o_orderkey").as("hi"))
      .as[(String, Long, Long)].collect().sortBy(_._2)
    assert(ranges.length > 1)
    ranges.sliding(2).foreach {
      case Array(a, b) => assert(a._3 <= b._2, s"overlap: $a vs $b")
      case _ =>
    }
  }

  test("Controller sql route: dry-run classifies good, unparseable, and unresolvable") {
    // the dry-run is analyzer-backed: a parseable statement against a
    // missing table (or column) must fail, not just syntax errors
    val cfg = Controller.GraftConfig(
      kind = "sql", source = "teradata", uniqueId = "run3",
      sqlFiles = Seq(
        ("ok.sql", "SEL 1 AS one;"),
        ("bad.sql", "SELECT FROM WHERE;;; GROUP;"),
        ("missing.sql", "SELECT * FROM no_such_db.no_such_table;")))
    val results = Controller.run(spark, cfg, audit)
    assert(results.head.status == "Partial")
    assert(results.head.details("passed") == "1")
  }

  test("ConfigStream: drains valid drops once, rejects bad folders/extensions") {
    val drop = tmp("drops")
    Files.createDirectories(java.nio.file.Paths.get(s"$drop/ddl"))
    Files.createDirectories(java.nio.file.Paths.get(s"$drop/bogus"))
    Files.writeString(java.nio.file.Paths.get(s"$drop/ddl/a.json"), """{"type":"ddl"}""")
    Files.writeString(java.nio.file.Paths.get(s"$drop/ddl/b.txt"), "not json")
    Files.writeString(java.nio.file.Paths.get(s"$drop/bogus/c.json"), """{"type":"x"}""")
    var seen = List.empty[String]
    ConfigStream.runOnce(spark, drop, tmp("ckc"), (p, c) => seen ::= c)
    assert(seen == List("""{"type":"ddl"}"""))
    assert(ConfigStream.validDrop("bucket/config/data/x.json"))
    assert(!ConfigStream.validDrop("bucket/config/other/x.json"))
    assert(!ConfigStream.validDrop("bucket/config/ddl/x.yaml"))
  }
}
