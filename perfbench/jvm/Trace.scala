package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory trace of one benchmark run: spans around the benchmark's
  * calls into graft, every Spark job as a child span (with executor CPU,
  * shuffle, spill and task-time skew), a stack sampler that attributes
  * wall time to graft modules, and per-execution exchange
  * counts. Nothing is written until [[json]] is called at the end of the
  * run. When disabled, [[span]] only runs its body.
  */
final class Trace(val enabled: Boolean) {
  private val t0Nanos = System.nanoTime()
  private val t0Millis = System.currentTimeMillis().toDouble
  /** Epoch milliseconds with sub-millisecond resolution, aligned with the
    * epoch-millisecond times Spark stamps on listener events. */
  def nowMs: Double = t0Millis + (System.nanoTime() - t0Nanos) / 1e6

  final case class Span(id: Long, parent: Long, trace: Long, name: String,
      layer: String, start: Double, var end: Double = -1)

  private val ids = new AtomicLong(0)
  private val spans = ArrayBuffer[Span]()
  @volatile private var current: Option[Span] = None
  private var traceId = 0L
  val SpanProperty = "perfbench.span"

  /** Start a new trace (one pass); spans opened until the next call share its id. */
  def newTrace(): Unit = traceId += 1

  /** Record `body` as a span named `name` in `layer`, child of the
    * innermost open span. Jobs it launches carry the span id. */
  def span[T](spark: SparkSession, name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = current
      val s = Span(ids.incrementAndGet(), parent.map(_.id).getOrElse(0L),
        traceId, name, layer, nowMs)
      spans.synchronized(spans += s)
      current = Some(s)
      val sc = spark.sparkContext
      sc.setLocalProperty(SpanProperty, s.id.toString)
      try body
      finally {
        s.end = nowMs
        current = parent
        sc.setLocalProperty(SpanProperty, parent.map(_.id.toString).orNull)
      }
    }

  // ---- stack sampler ------------------------------------------------------

  /** (epoch ms, layer) samples of what the JVM's threads work on. */
  private val samples = ArrayBuffer[(Double, String)]()
  @volatile private var sampling = false
  private var samplerThread: Thread = _

  /** The graft module a stack is working in: its innermost `graft.<module>`
    * frame. Controller.runValidations builds no DataFrame itself but runs
    * each validator's action, so its frames count as the validate layer;
    * the rest of graft.pipeline is orchestration. */
  def layerOf(stack: Array[StackTraceElement]): Option[String] =
    layerOfFrames(stack.iterator.map(f => (f.getClassName, f.getMethodName)))

  private def layerOfFrames(frames: Iterator[(String, String)]): Option[String] =
    frames.collectFirst { case (cls, m) if cls.startsWith("graft.") =>
      if (cls.startsWith("graft.pipeline.Controller") && m.contains("runValidations"))
        "validate"
      else cls.split('.') match {
        case Array(_, module, _, _*) => module
        case _ => "graft"
      }
    }

  /** The layer of a Spark call site's long form (one stack frame a line,
    * innermost first, as `app//graft.load.Loader.run(Loader.scala:42)`):
    * that of its innermost graft frame. */
  def layerOfCallSite(longForm: String): Option[String] =
    layerOfFrames(longForm.linesIterator.map { line =>
      val qualified = line.takeWhile(_ != '(').split('/').last
      val dot = qualified.lastIndexOf('.')
      (qualified.take(math.max(dot, 0)), qualified.drop(dot + 1))
    })

  private def graftFrames(st: Array[StackTraceElement]): Int =
    st.count(_.getClassName.startsWith("graft."))

  /** Threads with graft frames on their stack at the last full dump: a
    * tick reads only their stacks (a full dump stops every thread, and the
    * JVM runs a hundred of them). */
  private var candidates: Seq[Thread] = Nil

  /** The layer the JVM works in right now: that of the thread with the
    * most graft frames on its stack, which is the one graft's calls went
    * deepest on (GraftApp, for one, handles its drops on a stream thread
    * while the calling thread waits). A stack with no graft frame falls
    * back to the innermost open span's layer. */
  private def sampleLayer(span: Span, fullDump: Boolean): String = {
    val stacks =
      if (fullDump || candidates.isEmpty) {
        val all = Thread.getAllStackTraces.asScala.filter(e => graftFrames(e._2) > 0)
        candidates = all.keys.toSeq
        all.values.toSeq
      } else candidates.filter(_.isAlive).map(_.getStackTrace)
    val deepest = (Array.empty[StackTraceElement] +: stacks).maxBy(graftFrames)
    (if (graftFrames(deepest) > 0) layerOf(deepest) else None).getOrElse(span.layer)
  }

  /** Sample every `periodMs`, with a full thread dump every `dumpEvery`
    * ticks to find threads graft newly runs on. */
  def startSampler(periodMs: Long = 10, dumpEvery: Int = 10): Unit = if (enabled) {
    sampling = true
    samplerThread = new Thread(() => {
      var tick = 0
      while (sampling) {
        // only inside traced passes: a span is open
        current.foreach { s =>
          val layer = sampleLayer(s, tick % dumpEvery == 0)
          samples.synchronized(samples += nowMs -> layer)
          tick += 1
        }
        Thread.sleep(periodMs)
      }
    }, "perfbench-sampler")
    samplerThread.setDaemon(true)
    samplerThread.start()
  }

  def stopSampler(): Unit = if (samplerThread != null) {
    sampling = false
    samplerThread.join()
  }

  // ---- Spark job listener -----------------------------------------------

  private val StreamQueryProperty = "sql.streaming.queryId"

  /** A Spark job; `layer` is that of its call site, "" when that tells
    * nothing: no graft frame on it (a job launched from a Spark-owned
    * thread) or a streaming query's pinned call site. */
  final class Job(val id: Int, val span: Long, val layer: String, val start: Double) {
    var end: Double = -1
    var cpuNs, shuffleRead, shuffleWrite, spillMem, spillDisk = 0L
    var tasks = 0
    var skew = 1.0
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  private val taskTimes = new ConcurrentHashMap[Int, ArrayBuffer[Long]]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
        .map(_.toLong).getOrElse(0L)
      // a streaming query pins every job's call site to where the stream
      // started (GraftApp's drops run in one), so those fall back too
      val streamJob = Option(e.properties).exists(_.getProperty(StreamQueryProperty) != null)
      val layer = if (streamJob) None
        else e.stageInfos.headOption.flatMap(si => layerOfCallSite(si.details))
      val j = new Job(e.jobId, span, layer.getOrElse(""), e.time.toDouble)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(stageJob.put(_, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskInfo != null) {
        val b = taskTimes.computeIfAbsent(e.stageId, _ => ArrayBuffer[Long]())
        b.synchronized(b += e.taskInfo.duration)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      Option(stageJob.get(si.stageId)).foreach { j =>
        val m = si.taskMetrics
        j.synchronized {
          if (m != null) {
            j.cpuNs += m.executorCpuTime
            j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            j.spillMem += m.memoryBytesSpilled
            j.spillDisk += m.diskBytesSpilled
          }
          j.tasks += si.numTasks
          val ts = Option(taskTimes.remove(si.stageId)).map(_.sorted).getOrElse(ArrayBuffer())
          if (ts.size >= 2) {
            val med = math.max(ts(ts.size / 2), 1L)
            j.skew = math.max(j.skew, ts.last.toDouble / med)
          }
        }
      }
    }
  }

  // ---- exchanges per execution -------------------------------------------

  private object Plans extends AdaptiveSparkPlanHelper
  /** (span id, exchange count) for every query execution that finished. */
  private val executions = ArrayBuffer[(Long, Int)]()
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val n = Plans.collectWithSubqueries(qe.executedPlan) {
        case e: ShuffleExchangeLike => e
        case e: BroadcastExchangeLike => e
      }.size
      executions.synchronized(executions += current.map(_.id).getOrElse(0L) -> n)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def attach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Wait until the listeners have seen every event posted so far. */
  def flush(spark: SparkSession): Unit = if (enabled) {
    val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  def detach(spark: SparkSession): Unit = if (enabled) {
    flush(spark) // every finished job gets its stage metrics
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  // ---- output ---------------------------------------------------------------

  def json: String = {
    import Json._
    val ss = spans.synchronized(spans.toList).map(s => obj(
      "id" -> num(s.id), "parent" -> num(s.parent), "trace" -> num(s.trace),
      "name" -> str(s.name), "layer" -> str(s.layer),
      "start" -> num(s.start), "end" -> num(s.end)))
    val js = jobs.values.asScala.toList.sortBy(_.id).map(j => obj(
      "id" -> num(j.id), "span" -> num(j.span), "layer" -> str(j.layer),
      "start" -> num(j.start),
      "end" -> num(j.end), "cpu_s" -> num(j.cpuNs / 1e9),
      "shuffle_mb" -> num((j.shuffleRead + j.shuffleWrite) / 1048576.0),
      "spill_mb" -> num((j.spillMem + j.spillDisk) / 1048576.0),
      "tasks" -> num(j.tasks), "skew" -> num(j.skew)))
    val sm = samples.synchronized(samples.toList)
      .map { case (t, l) => arr(Seq(num(t), str(l))) }
    val ex = executions.synchronized(executions.toList)
      .map { case (s, n) => arr(Seq(num(s), num(n))) }
    obj("spans" -> arr(ss), "jobs" -> arr(js), "samples" -> arr(sm),
      "executions" -> arr(ex))
  }
}

object Trace {
  val Off = new Trace(false)
}

/** Minimal JSON writer for the run's result file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def num(l: Long): String = l.toString
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
