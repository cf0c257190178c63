package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Local-mode defaults tuned for the test harness (local[32], 32 shuffle
  * partitions, AQE on, UTC). On a real cluster the same builder settings
  * apply except master/shuffle-partitions, which come from spark-submit.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` (default 32), parsed rather than passed through:
    * a non-numeric value (e.g. "*", valid for a Spark master but not
    * here) would become an invalid shuffle-partition count and an
    * invalid number in the bench JSON — fail loudly at startup instead. */
  def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(32)(s =>
    s.toIntOption.filter(_ > 0).getOrElse(
      sys.error(s"SPARK_GRAFT_CPUS must be a positive integer, got '$s'")))

  def local(
      cpus: String = envCpus.toString,
      appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // fresh warehouse per JVM: the in-memory catalog starts empty, so
      // a reused on-disk warehouse would collide on managed-table paths
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
