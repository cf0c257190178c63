package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload in this JVM:
  *
  *   perfbench.Main <workload> <inputDir> <workDir> <seconds> <trace 0|1>
  *
  * Sets the workload up [[SetupReps]] times (each on a fresh session),
  * runs its untimed warm-up once, then runs passes closed-loop until
  * `seconds` of passes have elapsed,
  * then writes `<workDir>/result.json`. With trace 1 the passes follow
  * [[TracedPattern]], so the tracing overhead is measured in the same
  * run. Correctness checks read the outputs afterwards, outside every
  * timed window.
  */
object Main {
  val SetupReps = 3
  /** Traced runs: pass 0 traced (the pass the per-layer metrics describe,
    * comparable to an untraced run's first pass), then untraced and traced,
    * so the tracing overhead compares a warm pass with a warm one. */
  val TracedPattern = Seq(true, false, true)

  final case class Op(pass: Int, name: String, seconds: Double)
  final case class Pass(index: Int, traced: Boolean, wall: Double, cpu: Double)

  /** Records the workload's operations of one pass. */
  final class Ctx(val trace: Trace, val spark: SparkSession, val pass: Int) {
    val ops = ArrayBuffer[Op]()
    def op[T](name: String, layer: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try trace.span(spark, name, layer)(body)
      finally ops += Op(pass, name, (System.nanoTime() - t0) / 1e9)
    }
  }

  def cpuSeconds: Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  def session(cpus: Int, workDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.hadoop.hadoop.tmp.dir", s"$workDir/tmp")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val Array(name, inputDir, workDir, secondsArg, traceArg) = args
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val cpus = Runtime.getRuntime.availableProcessors()
    val workload: Workload = name match {
      case "migrate" => new Migrate(inputDir, workDir, cpus)
      case "ivm_cdc" => new IvmCdc(inputDir, workDir)
      case "query_mix" => new QueryMix(inputDir, workDir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val trace = new Trace(traced)

    // ---- set-up, several times; the last session stays for the passes
    val setups = ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (rep <- 1 to SetupReps) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cpus, workDir)
      workload.setup(spark, rep)
      setups += (System.nanoTime() - t0) / 1e9
    }

    val w0 = System.nanoTime()
    workload.warmUp(new Ctx(Trace.Off, spark, -1))
    val warmUp = (System.nanoTime() - w0) / 1e9

    // ---- timed passes, closed loop, one client
    trace.startSampler()
    val ops = ArrayBuffer[Op]()
    val passes = ArrayBuffer[Pass]()
    def elapsed = passes.map(_.wall).sum
    def more =
      if (traced) passes.size < TracedPattern.size
      else passes.isEmpty || elapsed < seconds
    while (more && !workload.exhausted) {
      val tracedPass = traced && TracedPattern(passes.size)
      val t = if (tracedPass) trace else Trace.Off
      val c = new Ctx(t, spark, passes.size)
      if (tracedPass) { trace.newTrace(); trace.attach(spark) }
      val cpu0 = cpuSeconds
      val t0 = System.nanoTime()
      t.span(spark, s"pass ${passes.size}", "bench")(workload.pass(c))
      val wall = (System.nanoTime() - t0) / 1e9
      passes += Pass(passes.size, tracedPass, wall, cpuSeconds - cpu0)
      if (tracedPass) trace.detach(spark)
      ops ++= c.ops
      workload.afterPass(spark, passes.size - 1)
    }
    trace.stopSampler()

    // live heap retained after the passes: the least heap in use after a
    // full collection, over a few collections that give Spark's cleaner
    // time to drop what the passes left unreferenced
    val heapMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

    val facts = workload.finish(spark)
    spark.stop()

    import Json._
    val out = obj(
      "workload" -> str(name),
      "cpus" -> num(cpus.toLong),
      "spark_version" -> str(org.apache.spark.SPARK_VERSION),
      "jvm" -> str(System.getProperty("java.vm.name") + " " +
        System.getProperty("java.runtime.version")),
      "setup_s" -> arr(setups.map(num)),
      "warmup_s" -> num(warmUp),
      "heap_mb" -> num(heapMb),
      "passes" -> arr(passes.map(p => obj("index" -> num(p.index.toLong),
        "traced" -> p.traced.toString, "wall_s" -> num(p.wall),
        "cpu_s" -> num(p.cpu)))),
      "ops" -> arr(ops.map(o => obj("pass" -> num(o.pass.toLong),
        "name" -> str(o.name), "s" -> num(o.seconds)))),
      "facts" -> facts,
      "trace" -> (if (traced) trace.json else "null"))
    Files.writeString(Paths.get(s"$workDir/result.json"), out)
  }
}

/** One workload: set up, run one pass, observe state between passes, and
  * write what the checks need. */
trait Workload {
  def setup(spark: SparkSession, rep: Int): Unit
  /** Untimed, once after the set-ups: what a warm workload runs before its
    * timed passes. */
  def warmUp(ctx: Main.Ctx): Unit = ()
  def pass(ctx: Main.Ctx): Unit
  /** True when the inputs hold no further pass. */
  def exhausted: Boolean = false
  /** Untimed, after each pass (bookkeeping, cleanup). */
  def afterPass(spark: SparkSession, pass: Int): Unit = ()
  /** Untimed, after all passes: write outputs for the checks; returns a
    * JSON object of facts for the result file. */
  def finish(spark: SparkSession): String
}
