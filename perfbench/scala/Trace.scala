package perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Minimal JSON writer: the harness only emits, the Python side parses. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    if (s != null) s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Iterable[String]): String = vs.mkString("[", ",", "]")
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
}

/** Spans recorded from the benchmark's own code around each public call
  * it makes into graft. `bucket` names the layer metric that Spark jobs
  * run under this span fall into when their call site names no graft
  * module (the benchmark's own writes, say); empty means "no default".
  * Disabled (the timed passes) a span is just the call.
  */
object Spans {
  final case class Span(id: Int, parent: Int, name: String, bucket: String,
      t0: Long, t1: Long)
  @volatile var enabled = false
  private val ids = new AtomicInteger(0)
  private val open = new ThreadLocal[List[Int]] { override def initialValue = Nil }
  val done = ArrayBuffer.empty[Span]

  def apply[T](name: String, bucket: String = "")(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parent = open.get.headOption.getOrElse(0)
      open.set(id :: open.get)
      val t0 = System.currentTimeMillis()
      try f
      finally {
        val t1 = System.currentTimeMillis()
        open.set(open.get.tail)
        done.synchronized { done += Span(id, parent, name, bucket, t0, t1) }
      }
    }

  def json: String = done.synchronized(Json.arr(done.map(s => Json.obj(
    "id" -> s.id.toString, "parent" -> s.parent.toString,
    "name" -> Json.str(s.name), "bucket" -> Json.str(s.bucket),
    "t0" -> s.t0.toString, "t1" -> s.t1.toString))))
}

/** Records scheduler, SQL-execution and streaming events for the traced
  * pass. Everything is raw: the Python side attributes jobs to layers
  * and does the arithmetic. */
final class Recorder extends SparkListener {
  private final class StageAgg {
    var tasks, failed = 0
    var runMs, gcMs = 0L
    var cpuNs = 0L
    var inBytes, shRead, shWrite, spill = 0L
    val durations = ArrayBuffer.empty[Long]
  }
  private val jobs = ArrayBuffer.empty[String]
  private val stages = ArrayBuffer.empty[String]
  private val aggs = mutable.Map.empty[(Int, Int), StageAgg]
  private val execs = ArrayBuffer.empty[String]
  private val scanAccums = mutable.Set.empty[Long]
  private val driverAccums = ArrayBuffer.empty[(Long, Long)] // accum id, value
  private val blockDisk = mutable.Map.empty[String, Long]
  private var diskNow, diskPeak = 0L
  private val progress = ArrayBuffer.empty[String]
  @volatile private var openJobs, openExecs = 0
  @volatile var lastEvent = System.currentTimeMillis()

  def quiet(ms: Long): Boolean = synchronized(openJobs == 0 && openExecs == 0) &&
    System.currentTimeMillis() - lastEvent > ms

  private def touch(): Unit = lastEvent = System.currentTimeMillis()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    touch(); openJobs += 1
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).getOrElse("")
    val result = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
    jobs += Json.obj("job" -> e.jobId.toString, "t" -> e.time.toString,
      "exec" -> Json.str(prop("spark.sql.execution.id")),
      "stages" -> Json.arr(e.stageInfos.map(_.stageId.toString)),
      "name" -> Json.str(result.map(_.name).getOrElse("")),
      "site" -> Json.str(result.map(_.details).getOrElse("")))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    touch(); openJobs -= 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    touch()
    val a = aggs.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAgg)
    a.tasks += 1
    if (e.reason != Success) a.failed += 1
    a.durations += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.inBytes += m.inputMetrics.bytesRead
      a.shRead += m.shuffleReadMetrics.totalBytesRead
      a.shWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    touch()
    val si = e.stageInfo
    val a = aggs.remove((si.stageId, si.attemptNumber())).getOrElse(new StageAgg)
    val sorted = a.durations.sorted
    val median = if (sorted.isEmpty) 0L else sorted(sorted.length / 2)
    stages += Json.obj("stage" -> si.stageId.toString,
      "attempt" -> si.attemptNumber().toString, "name" -> Json.str(si.name),
      "t0" -> si.submissionTime.getOrElse(0L).toString,
      "t1" -> si.completionTime.getOrElse(0L).toString,
      "tasks" -> a.tasks.toString, "failed_tasks" -> a.failed.toString,
      "run_ms" -> a.runMs.toString, "cpu_ns" -> a.cpuNs.toString,
      "gc_ms" -> a.gcMs.toString, "input_bytes" -> a.inBytes.toString,
      "shuffle_read" -> a.shRead.toString, "shuffle_write" -> a.shWrite.toString,
      "spill" -> a.spill.toString,
      "task_max_ms" -> sorted.lastOption.getOrElse(0L).toString,
      "task_median_ms" -> median.toString)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val id = info.blockId.name
      val disk = if (info.storageLevel.isValid) info.diskSize else 0L
      diskNow += disk - blockDisk.getOrElse(id, 0L)
      if (disk > 0) blockDisk(id) = disk else blockDisk.remove(id)
      diskPeak = math.max(diskPeak, diskNow)
    }
  }

  /** "size of files read" metric ids of every JSON/text file scan node. */
  private def scanIds(p: SparkPlanInfo): Unit = {
    if (p.nodeName.startsWith("Scan json") || p.nodeName.startsWith("Scan text"))
      p.metrics.filter(_.name == "size of files read")
        .foreach(m => scanAccums += m.accumulatorId)
    p.children.foreach(scanIds)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        touch(); openExecs += 1
        scanIds(s.sparkPlanInfo)
        execs += Json.obj("exec" -> s.executionId.toString,
          "root" -> s.rootExecutionId.map(_.toString).getOrElse("null"),
          "t" -> s.time.toString, "site" -> Json.str(s.details))
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        scanIds(u.sparkPlanInfo)
      case d: SparkListenerDriverAccumUpdates =>
        d.accumUpdates.foreach { case (id, v) => driverAccums += ((id, v)) }
      case _: SparkListenerSQLExecutionEnd =>
        touch(); openExecs -= 1
      case _ => ()
    }
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Recorder.this.synchronized {
        touch()
        val d = e.progress.durationMs
        def ms(k: String) = Option(d.get(k)).map(_.toString).getOrElse("0")
        progress += Json.obj("add_batch_ms" -> ms("addBatch"),
          "trigger_ms" -> ms("triggerExecution"))
      }
  }

  def json: String = synchronized {
    val scanBytes = driverAccums.collect { case (id, v) if scanAccums(id) => v }.sum
    Json.obj("jobs" -> Json.arr(jobs), "stages" -> Json.arr(stages),
      "execs" -> Json.arr(execs), "stream_progress" -> Json.arr(progress),
      "sql_scan_bytes" -> scanBytes.toString,
      "cache_disk_peak_bytes" -> diskPeak.toString)
  }
}
