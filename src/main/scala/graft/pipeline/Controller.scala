package graft.pipeline

import java.sql.Timestamp

import scala.concurrent.Await
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Audit, AuditSink, Bounded}
import graft.load.TableLoader
import graft.schema.DdlRunner
import graft.translate.{NameMapping, StatementSplitter, TranslationEngine}
import graft.validate.{ColumnValidator, SchemaValidator}

/** The run controller: config → route → stage graph → audit + report
  * (SURVEY §3; reference `controller_dag.py:87-241` + the per-phase
  * DAGs). The reference's six process boundaries (Cloud Run → Airflow →
  * Dataproc → translation service → BQ jobs → DVT pods) collapse into
  * one driver program whose stages exchange DataFrames; bounded
  * parallelism inside stages replaces mapped-task concurrency.
  */
object Controller {

  final case class ValidationSpec(
      kind: String, // column | row | schema | custom
      sourceTable: String, // for custom: the source query FILE name
      targetTable: String,
      groupBy: Seq[String] = Nil,
      aggSpecs: Seq[ColumnValidator.AggSpec] = Nil,
      primaryKeys: Seq[String] = Nil,
      compareCols: Seq[String] = Nil,
      pctThreshold: Double = 0.0,
      sourceSql: String = "",
      targetSql: String = "")

  /** File-arrival incremental load stage (§3.3 hive_inc path). */
  final case class IncrementalSpec(
      sourceDir: String,
      schemaDdl: String,
      targetTable: String,
      checkpointDir: String,
      format: String = "parquet")

  final case class GraftConfig(
      kind: String, // ddl | sql | dml | data
      source: String, // teradata | hive | redshift | oracle
      uniqueId: String,
      mode: StatementSplitter.Mode = StatementSplitter.Sql,
      ddlFiles: Seq[(String, String)] = Nil,
      sqlFiles: Seq[(String, String)] = Nil,
      nameMapping: NameMapping = NameMapping.empty,
      loads: Seq[TableLoader.LoadSpec] = Nil,
      incrementals: Seq[IncrementalSpec] = Nil,
      validations: Seq[ValidationSpec] = Nil,
      batchDistribution: Int = 10)

  final case class RunResult(
      uniqueId: String,
      phase: String,
      status: String, // Success | Partial | Failed
      details: Map[String, String],
      errors: Seq[Audit.TaskError] = Nil)

  private def now() = new Timestamp(System.currentTimeMillis())

  /** Route by config type (P11 pattern match; `controller_dag.py:182-241`). */
  def run(spark: SparkSession, cfg: GraftConfig, audit: AuditSink): Seq[RunResult] =
    cfg.kind match {
      case "ddl"         => runDdl(spark, cfg, audit)
      case "sql" | "dml" => runSqlValidation(spark, cfg, audit)
      case "data"        => runData(spark, cfg, audit)
      case other =>
        throw new IllegalArgumentException(s"unknown config type: $other")
    }

  /** DDL path: translate → create databases → run DDL (retry machine) →
    * audit + report (§3.1). */
  def runDdl(spark: SparkSession, cfg: GraftConfig, audit: AuditSink): Seq[RunResult] = {
    // 1. translate
    val tr = TranslationEngine.translateDdl(cfg.ddlFiles, cfg.mode, cfg.nameMapping)
    audit.appendRows("dmt_translation_results", tr.errors.map(e =>
      Audit.TranslationResult(cfg.uniqueId, e.fileName, e.statementIndex,
        e.category, e.message, now())))
    val translationReport = RunResult(cfg.uniqueId, "translation",
      Audit.classify(cfg.ddlFiles.size, tr.translated.size),
      Map("total" -> cfg.ddlFiles.size.toString,
        "passed" -> tr.translated.size.toString,
        "failed" -> tr.failedFiles.size.toString),
      errors = tr.errors.map(e => Audit.TaskError(
        s"translation:${e.fileName}#${e.statementIndex}", e.message,
        "dmt_logs.dmt_translation_results")))
    if (tr.translated.isEmpty && cfg.ddlFiles.nonEmpty)
      return report(audit, cfg, "ddl", // reference aborts when ALL files fail (P4)
        Seq(translationReport))

    // 2. databases referenced by translated statements
    val dbs = tr.translated.flatMap(_.statements)
      .flatMap(s => "(?i)CREATE TABLE (?:IF NOT EXISTS )?([\\w$]+)\\.".r
        .findFirstMatchIn(s).map(_.group(1)))
    DdlRunner.ensureDatabases(spark, dbs)

    // 3. execute with the retry fixpoint machine
    val scripts = tr.translated.flatMap(f =>
      f.statements.zipWithIndex.map { case (s, i) => (s"${f.fileName}#$i", s) })
    val results = DdlRunner.run(spark, scripts, cfg.batchDistribution)
    audit.appendRows("dmt_schema_results", results.map(r =>
      Audit.SchemaResult(cfg.uniqueId, r.name,
        r.state.toString.toUpperCase, r.attempts, r.error.getOrElse(""), now())))
    val ok = results.count(_.state == DdlRunner.Done)
    val schemaReport = RunResult(cfg.uniqueId, "schema",
      Audit.classify(results.size, ok),
      Map("scripts" -> results.size.toString,
        "total" -> results.size.toString,
        "passed" -> ok.toString,
        "failed" -> (results.size - ok).toString),
      errors = results.filter(_.state != DdlRunner.Done).map(r =>
        Audit.TaskError(s"schema:${r.name}", r.error.getOrElse(""),
          "dmt_logs.dmt_schema_results")))

    // 4. validations gated on created tables (table_filter semantics)
    val created = results.filter(_.state == DdlRunner.Done).map(_.name)
    val vreports = runValidations(spark,
      cfg.copy(validations = cfg.validations
        .filter(v => v.kind == "custom" || spark.catalog.tableExists(v.targetTable))), audit)
    report(audit, cfg, "ddl",
      Seq(translationReport, schemaReport) ++ vreports)
  }

  /** SQL/DML path: translate → Spark parser+analyzer dry-run per
    * statement against the session catalog
    * (`dml_validation_dag.py:74-241` without a live warehouse). */
  def runSqlValidation(spark: SparkSession, cfg: GraftConfig, audit: AuditSink): Seq[RunResult] = {
    val outcomes = cfg.sqlFiles.flatMap { case (name, content) =>
      StatementSplitter.split(content, cfg.mode).zipWithIndex.map { case (stmt, i) =>
        val translated = TranslationEngine.translateSql(stmt)
        (name, i, TranslationEngine.dryRun(spark, translated))
      }
    }
    audit.appendRows("dmt_dml_validation_results", outcomes.map { case (f, i, err) =>
      Audit.TranslationResult(cfg.uniqueId, f, i,
        if (err.isEmpty) "dry_run_pass" else "dry_run_fail",
        err.getOrElse(""), now())
    })
    val ok = outcomes.count(_._3.isEmpty)
    // custom-query validations follow the dry-run (the reference's SQL
    // validation DAG runs DVT custom-query after translation)
    val vreports = runValidations(spark,
      cfg.copy(validations = cfg.validations.filter(_.kind == "custom")), audit)
    report(audit, cfg, cfg.kind, RunResult(cfg.uniqueId,
      "dry_run", Audit.classify(outcomes.size, ok),
      Map("statements" -> outcomes.size.toString,
        "total" -> outcomes.size.toString,
        "passed" -> ok.toString,
        "failed" -> (outcomes.size - ok).toString),
      errors = outcomes.collect { case (f, i, Some(err)) =>
        Audit.TaskError(s"dry_run:$f#$i", err, "dmt_logs.dmt_dml_validation_results")
      }) +: vreports)
  }

  /** Data path: bounded-parallel loads → incremental drains → audit →
    * validations (§3.2/3.3). */
  def runData(spark: SparkSession, cfg: GraftConfig, audit: AuditSink): Seq[RunResult] = {
    val outcomes = TableLoader.loadAll(spark, cfg.loads, cfg.batchDistribution)
    audit.appendRows("dmt_load_results", outcomes.map(o =>
      Audit.LoadResult(cfg.uniqueId, o.table, o.status, o.rowsLoaded, o.message, now())))
    val ok = outcomes.count(_.status == "PASS")
    val loadReport = RunResult(cfg.uniqueId, "load",
      Audit.classify(outcomes.size, ok),
      Map("tables" -> outcomes.size.toString,
        "total" -> outcomes.size.toString,
        "passed" -> ok.toString,
        "failed" -> (outcomes.size - ok).toString),
      errors = outcomes.filter(_.status != "PASS").map(o =>
        Audit.TaskError(s"load:${o.table}", o.message, "dmt_logs.dmt_load_results")))
    val incReports = if (cfg.incrementals.isEmpty) Nil else {
      val inc = new graft.load.IncrementalLoader(spark, audit)
      val results = cfg.incrementals.map { i =>
        try {
          inc.runOnce(i.sourceDir,
            org.apache.spark.sql.types.StructType.fromDDL(i.schemaDdl),
            i.targetTable, i.checkpointDir, i.format)
          (i.targetTable, true, "")
        } catch { case e: Throwable =>
          (i.targetTable, false, Option(e.getMessage).getOrElse("")) }
      }
      audit.appendRows("dmt_load_results", results.map { case (t, pass, msg) =>
        Audit.LoadResult(cfg.uniqueId, t, if (pass) "PASS" else "FAIL",
          if (pass && spark.catalog.tableExists(t)) spark.table(t).count() else 0L,
          msg, now())
      })
      Seq(RunResult(cfg.uniqueId, "incremental",
        Audit.classify(results.size, results.count(_._2)),
        Map("streams" -> results.size.toString,
          "total" -> results.size.toString,
          "passed" -> results.count(_._2).toString,
          "failed" -> results.count(!_._2).toString),
        errors = results.collect { case (t, false, msg) =>
          Audit.TaskError(s"incremental:$t", msg, "dmt_logs.dmt_load_results") }))
    }
    val vreports = runValidations(spark, cfg, audit)
    report(audit, cfg, "data", (loadReport +: incReports) ++ vreports)
  }

  /** Validation-params sheet rows → DVT specs (the reference's
    * validation DAG builds its DVT command line from exactly these
    * positional flags): count/sum/min/max/avg cells become AggSpecs
    * (comma-lists fan out), grouped-columns → groupBy, threshold → pct,
    * primary-keys + comparison-fields/hash/concat → row compare ('*' =
    * all non-key columns, resolved at run time). */
  def validationSpecs(
      entries: Seq[graft.sources.ValidationParams.Entry]): Seq[ValidationSpec] =
    entries.filter(e => e.validationType.toLowerCase.startsWith("custom query") ||
        Set("column", "row", "schema")(e.validationType.toLowerCase))
      .map { e =>
        def list(k: String): Seq[String] =
          e.flags.get(k).toSeq.flatMap(_.split(",").map(_.trim)).filter(_.nonEmpty)
        e.validationType.toLowerCase match {
          case t if t.startsWith("custom query") =>
            // source/target tables carry the query FILE names; the app
            // layer resolves them to SQL text next to the params sheet
            ValidationSpec("custom", e.sourceTable, e.targetTable,
              pctThreshold = e.flags.get("threshold").map(_.toDouble).getOrElse(0.0))
          case "column" =>
            val aggs = Seq("count", "sum", "min", "max", "avg").flatMap(fn =>
              list(fn).filter(_ != "*").map(c => ColumnValidator.AggSpec(fn, c)))
            ValidationSpec("column", e.sourceTable, e.targetTable,
              groupBy = list("grouped-columns"),
              aggSpecs = aggs,
              pctThreshold = e.flags.get("threshold").map(_.toDouble).getOrElse(0.0))
          case "row" =>
            ValidationSpec("row", e.sourceTable, e.targetTable,
              primaryKeys = list("primary-keys"),
              compareCols = (list("comparison-fields") ++ list("hash") ++ list("concat"))
                .filter(_ != "*").distinct)
          case _ =>
            ValidationSpec("schema", e.sourceTable, e.targetTable)
        }
      }

  /** DVT stage: run each validation, audit per-row results, aggregate
    * pass/fail counts (A1 semantics). Validations run at most
    * `batchDistribution` at a time, like loads and DDL rounds (the
    * reference maps DVT tasks over its pods); results and audit rows
    * keep config order, and the audit write follows on this thread.
    *
    * Each validation is fault-isolated: a broken spec (missing source
    * table, malformed SQL, unresolvable column) becomes a Failed
    * RunResult carrying the error, and every other validation still
    * runs — the reference's reporting operator likewise reports failed
    * DVT tasks instead of aborting the run
    * (`reporting_operator.py:104-127`). */
  def runValidations(spark: SparkSession, cfg: GraftConfig, audit: AuditSink): Seq[RunResult] = {
    if (cfg.validations.isEmpty) return Nil
    val results = Await.result(Bounded.map(cfg.validations, cfg.batchDistribution) { v =>
      val phase = s"dvt_${v.kind}:${v.targetTable}"
      val passCounts = (result: DataFrame) => {
        val c = result.agg(count(lit(1)), count(when(col("validation_status") === "pass" ||
          col("validation_status") === "match", 1))).head()
        (c.getLong(0), c.getLong(1))
      }
      scala.util.Try {
        lazy val src = spark.table(v.sourceTable)
        lazy val tgt = spark.table(v.targetTable)
        v.kind match {
          case "custom" => passCounts(graft.validate.CustomQueryValidator.validate(
            spark, v.sourceSql, v.targetSql, v.pctThreshold))
          case "column" =>
            require(v.aggSpecs.nonEmpty,
              s"no aggregations for ${v.sourceTable} — check sheet columns " +
                "11-15 (count/sum/min/max/avg)")
            passCounts(ColumnValidator.validate(src, tgt, v.aggSpecs, v.groupBy, v.pctThreshold))
          case "row" =>
            // hash='*' sheets leave compareCols empty: all non-key columns
            val cmp = if (v.compareCols.nonEmpty) v.compareCols
              else src.columns.toSeq.filterNot(v.primaryKeys.contains)
            passCounts(graft.validate.RowValidator.validate(src, tgt, v.primaryKeys, cmp))
          case "schema" => // schemas are driver-side metadata: no Spark job
            val checks = SchemaValidator.compare(src.schema, tgt.schema)
            (checks.size.toLong, checks.count(_.validation_status == "pass").toLong)
          case other => throw new IllegalArgumentException(s"unknown validation: $other")
        }
      } match {
        case scala.util.Success((total, passed)) =>
          RunResult(cfg.uniqueId, phase, Audit.classify(total, passed),
            Map("total" -> total.toString, "passed" -> passed.toString,
              "failed" -> (total - passed).toString),
            errors = if (passed == total) Nil else Seq(Audit.TaskError(phase,
              s"${total - passed} of $total comparisons failed",
              "dmt_logs.dmt_dvt_aggregated_results")))
        case scala.util.Failure(e) =>
          // a validation whose spec THREW (vs. ran and compared) counts as
          // one attempted, one failed — consumers summing the failed column
          // see the broken validation instead of a zero-count Failed row
          val err = Option(e.getMessage).getOrElse(e.getClass.getName)
          RunResult(cfg.uniqueId, phase, "Failed",
            Map("total" -> "1", "passed" -> "0", "failed" -> "1", "error" -> err),
            errors = Seq(Audit.TaskError(phase, err, "dmt_logs.dmt_dvt_aggregated_results")))
      }
    }, Duration.Inf)
    audit.appendRows("dmt_dvt_aggregated_results", results.map { r =>
      def n(k: String) = r.details(k).toLong
      Audit.ReportRow(cfg.uniqueId, r.phase, n("total"), n("passed"), n("failed"), r.status, now())
    })
    results
  }

  /** Final run report rows (ReportingOperator semantics): flat per-phase
    * counting rows, plus ONE run-level row with the failed tasks nested
    * as an Error array — the reference's report shape
    * (`dmt_report_table.json`; `reporting_operator.py:104-164`). */
  private def report(audit: AuditSink, cfg: GraftConfig, kind: String,
      phases: Seq[RunResult]): Seq[RunResult] = {
    audit.appendRows("dmt_report_table", phases.map { p =>
      def n(k: String) = p.details.get(k).flatMap(s => scala.util.Try(s.toLong).toOption)
      val total = n("total").getOrElse(0L)
      // every phase populates total/passed/failed; derive the missing
      // leg from the other two rather than reporting a silent zero
      val passed = n("passed").orElse(n("failed").map(total - _)).getOrElse(0L)
      val failed = n("failed").getOrElse(total - passed)
      Audit.ReportRow(cfg.uniqueId, s"$kind/${p.phase}",
        total, passed, failed, p.status, now())
    })
    audit.appendRows("dmt_dag_report", Seq(Audit.DagReportRow(
      cfg.uniqueId, cfg.source, s"graft_$kind", now(),
      Audit.classify(phases.size, phases.count(_.status == "Success")),
      phases.flatMap(_.errors))))
    phases
  }
}
