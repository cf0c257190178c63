package graft.load

import scala.concurrent.Await
import scala.concurrent.duration.Duration

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.core.Bounded

/** Multi-format bulk table loads (SURVEY §2.2 K1; reference
  * `hive_bq_load_utils.py:176-247,308-417`).
  *
  * Reproduces the reference's load matrix Spark-first:
  *  - formats CSV (delimiter, header, explicit `col:type` schema via
  *    `StructType.fromDDL`), PARQUET, ORC, JSON, and AVRO — the last
  *    via [[graft.sources.AvroRead]], a native container reader built
  *    on avro-core with sync-marker byte-range splits (this build has
  *    no spark-avro connector). Loads decode full records by design
  *    (the table is materialized whole, reference parity); analytical
  *    scans that want Catalyst-automatic column pruning should read
  *    through the DSv2 face instead:
  *    `spark.read.format("graft-avro").load(path)`
  *    ([[graft.sources.AvroTableProvider]]);
  *  - partition preservation: source hive-partition discovery is free
  *    on read; `partitionBy` on write;
  *  - clustering → `sortWithinPartitions` (BQ clustering has no exact
  *    Spark twin; sorted-within-partition parquet gets the same
  *    row-group pruning effect);
  *  - truncate-vs-append (`SaveMode.Overwrite` / `Append`);
  *  - the 16 TB size cap: tables above the cap are SKIPPED and audited
  *    as failures, probed via Hadoop `getContentSummary` before any
  *    read (reference `hive_bq_load_utils.py:154-173`);
  *  - bounded parallelism across tables (`batchDistribution`, default
  *    10): loads are independent Spark jobs sharing the scheduler, so a
  *    thread pool per batch matches the reference's mapped-task cap.
  */
object TableLoader {

  val DefaultSizeCap: Long = 16L * 1024 * 1024 * 1024 * 1024 // 16 TB

  final case class LoadSpec(
      table: String,
      sourcePath: String,
      format: String = "parquet",
      mode: SaveMode = SaveMode.Overwrite,
      partitionBy: Seq[String] = Nil,
      clusterBy: Seq[String] = Nil,
      /** (numBuckets, columns): hash-bucketed write. Joins/aggregations
        * on the bucket columns between tables bucketed the same way
        * need NO shuffle — the co-located-join answer at scale. */
      bucketBy: Option[(Int, Seq[String])] = None,
      /** Global range clustering before write: rows land in files by
        * key range, so range predicates prune whole files via min/max
        * stats (the closest Spark twin of BQ clustering's global
        * ordering; combine with clusterBy for within-file order). */
      rangePartitionBy: Seq[String] = Nil,
      schemaDdl: Option[String] = None,
      csvDelimiter: String = ",",
      csvHeader: Boolean = true,
      sizeCapBytes: Long = DefaultSizeCap)

  final case class LoadOutcome(
      table: String, status: String, rowsLoaded: Long, message: String)

  def sourceSizeBytes(spark: SparkSession, path: String): Long = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  def read(spark: SparkSession, spec: LoadSpec): DataFrame =
    spec.format.toLowerCase match {
      case "parquet" => spark.read.parquet(spec.sourcePath)
      case "orc"     => spark.read.orc(spec.sourcePath)
      case "json"    => spark.read.json(spec.sourcePath)
      case "csv" | "text" =>
        val r = spark.read
          .option("sep", spec.csvDelimiter)
          .option("header", spec.csvHeader.toString)
        spec.schemaDdl match {
          case Some(ddl) => r.schema(StructType.fromDDL(ddl)).csv(spec.sourcePath)
          case None      => r.option("inferSchema", "true").csv(spec.sourcePath)
        }
      case "avro" => graft.sources.AvroRead.read(spark, spec.sourcePath)
      case other =>
        // reference rejects formats outside its matrix as OTHER
        throw new IllegalArgumentException(s"unsupported source format: $other")
    }

  def load(spark: SparkSession, spec: LoadSpec): LoadOutcome = {
    try {
      val size = sourceSizeBytes(spark, spec.sourcePath)
      if (size > spec.sizeCapBytes)
        return LoadOutcome(spec.table, "SKIPPED", 0L,
          s"source size $size exceeds cap ${spec.sizeCapBytes}")
      val df0 = read(spark, spec)
      val ranged = if (spec.rangePartitionBy.nonEmpty)
        df0.repartitionByRange(spec.rangePartitionBy.map(org.apache.spark.sql.functions.col): _*)
      else df0
      val df = if (spec.clusterBy.nonEmpty)
        ranged.sortWithinPartitions(spec.clusterBy.map(org.apache.spark.sql.functions.col): _*)
      else ranged
      val writer = df.write.mode(spec.mode)
      val withPartitioning =
        if (spec.partitionBy.nonEmpty) writer.partitionBy(spec.partitionBy: _*) else writer
      val withBuckets = spec.bucketBy match {
        case Some((n, cols)) =>
          val b = withPartitioning.bucketBy(n, cols.head, cols.tail: _*)
          if (spec.clusterBy.nonEmpty) b.sortBy(spec.clusterBy.head, spec.clusterBy.tail: _*)
          else b
        case None => withPartitioning
      }
      if (spec.mode == SaveMode.Append && spark.catalog.tableExists(spec.table))
        df.write.mode(SaveMode.Append).insertInto(spec.table)
      else withBuckets.saveAsTable(spec.table)
      val rows = spark.table(spec.table).count()
      LoadOutcome(spec.table, "PASS", rows, "")
    } catch {
      case e: Throwable =>
        LoadOutcome(spec.table, "FAIL", 0L,
          Option(e.getMessage).getOrElse(e.getClass.getName))
    }
  }

  /** Load a batch of tables with bounded parallelism (batchDistribution). */
  def loadAll(
      spark: SparkSession,
      specs: Seq[LoadSpec],
      parallelism: Int = 10): Seq[LoadOutcome] =
    Await.result(Bounded.map(specs, parallelism)(load(spark, _)), Duration.Inf)
}
