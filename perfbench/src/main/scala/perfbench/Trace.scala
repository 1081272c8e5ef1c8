package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import scala.collection.mutable

/** One recorded span. Times are epoch microseconds; `parent` is the index
  * of the enclosing span in the recorder, or -1. */
final case class TraceSpan(name: String, start: Long, end: Long, parent: Int, runId: String)

/** In-memory span recorder, written out once when the run ends. */
final class Recorder(val runId: String) {
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  val spans = mutable.ArrayBuffer.empty[TraceSpan]
  private var open = List.empty[Int]

  def nowUs: Long = anchorMs * 1000 + (System.nanoTime() - anchorNs) / 1000

  /** Record `f` as a span named `name`, nested under the open span. */
  def span[T](name: String)(f: => T): T = {
    val idx = spans.length
    spans += TraceSpan(name, nowUs, -1, open.headOption.getOrElse(-1), runId)
    open = idx :: open
    try f
    finally {
      open = open.tail
      spans(idx) = spans(idx).copy(end = nowUs)
    }
  }

  def seconds(idx: Int): Double = (spans(idx).end - spans(idx).start) / 1e6

  /** Add already-timed spans (jobs seen by the listener) under `parent`. */
  def addAll(children: Seq[(String, Long, Long)], parent: Int): Unit =
    children.foreach { case (n, s, e) => spans += TraceSpan(n, s, e, parent, runId) }

  def write(path: java.nio.file.Path): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val lines = spans.zipWithIndex.map { case (s, i) =>
      s"""{"id":$i,"name":${q(s.name)},"start_us":${s.start},"end_us":${s.end},""" +
        s""""parent":${s.parent},"run_id":${q(s.runId)}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Maps a job's call site (a stage's long-form stack) to the layer of the
  * program that submitted it, from the innermost `graft.` frame and the
  * Spark API frame just above it. */
object Layers {
  private val Frame = """([\w$.]+)\.([\w$]+)\((\w+\.scala):\d+\)""".r

  /** (class, method, file) of each frame, lambdas named after their method. */
  def frames(callSite: String): Seq[(String, String, String)] =
    callSite.linesIterator.flatMap { l =>
      Frame.findFirstMatchIn(l.trim).map { m =>
        val method = m.group(2) match {
          case s if s.startsWith("$anonfun$") => s.stripPrefix("$anonfun$").takeWhile(_ != '$')
          case s                             => s
        }
        (m.group(1), method, m.group(3))
      }
    }.toSeq

  def hasGraftFrame(callSite: String): Boolean =
    frames(callSite).exists(_._1.startsWith("graft."))

  def classify(callSite: String): String = {
    val fs = frames(callSite)
    val i = fs.indexWhere(_._1.startsWith("graft."))
    if (i < 0) return if (fs.exists(_._1.startsWith("perfbench."))) "bench" else "other"
    val api = if (i > 0) fs(i - 1)._2 else ""
    val inTakedownJob = fs.drop(i).exists(f => f._3 == "TakedownJob.scala" && f._2 == "runJob")
    (fs(i)._3, fs(i)._2) match {
      case ("TableIO.scala", "writePartitioned")  => "io.write"
      case ("TableIO.scala", "appendLineage")     => "io.lineage_append"
      case ("TableIO.scala", "pendingPartitions") => "io.pending"
      case ("TableIO.scala", _)                   => "io.discovery"
      case ("ExtractJob.scala", "runJob") if api == "collect" => "pipeline.stats"
      case ("ExtractJob.scala", _)                => "io.discovery"
      // a takedown's pending partitions are the ones still serving a listed
      // id; its counts are the audit row's stats; its checkpoint of the kept
      // rows is the first half of the copy-on-write rewrite
      case ("TakedownJob.scala", "readWithOverlay") => if (inTakedownJob) "io.pending" else "io.overlay_read"
      case ("TakedownJob.scala", _) if api == "collect" => "io.pending"
      case ("TakedownJob.scala", _) if api == "parquet" => "io.discovery"
      case ("TakedownJob.scala", _) if api == "count" => "pipeline.stats"
      case ("TakedownJob.scala", _)               => "io.write"
      case _                                      => "other"
    }
  }
}

/** A finished job: its layer and its interval in epoch microseconds. */
final case class Job(id: Int, layer: String, start: Long, end: Long, stages: Seq[Int])

final case class Task(stage: Int, runMs: Long, cpuNs: Long, gcMs: Long, delayMs: Long,
    shuffleRead: Long, shuffleWrite: Long, inBytes: Long, outBytes: Long,
    spill: Long, peakMem: Long, failed: Boolean)

/** Benchmark-side listener: every job with its layer and interval, every
  * task's metrics. Events are read only after [[fence]] returns. */
final class LayerListener extends SparkListener {
  private val FenceGroup = "perfbench-fence"
  private val sites = mutable.Map.empty[Long, String]
  private val starts = mutable.Map.empty[Int, (String, Long, Seq[Int])]
  private val done = mutable.ArrayBuffer.empty[Job]
  private val taskRecs = mutable.ArrayBuffer.empty[Task]
  @volatile private var fenced = 0

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { sites(s.executionId) = s.details }
    case _                                 => ()
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    val props = Option(js.properties)
    if (props.exists(p => p.getProperty("spark.jobGroup.id") == FenceGroup)) {
      starts(js.jobId) = (FenceGroup, js.time, Nil)
    } else {
      val own = js.stageInfos.map(_.details).find(Layers.hasGraftFrame)
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => sites.get(id.toLong))
      val site = own.orElse(exec.filter(Layers.hasGraftFrame))
        .orElse(exec).getOrElse(js.stageInfos.headOption.map(_.details).getOrElse(""))
      starts(js.jobId) = (Layers.classify(site), js.time, js.stageInfos.map(_.stageId))
    }
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
    starts.remove(je.jobId).foreach { case (layer, t0, stages) =>
      if (layer == FenceGroup) fenced += 1
      else done += Job(je.jobId, layer, t0 * 1000, je.time * 1000, stages)
    }
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    val info = te.taskInfo
    val rec =
      if (m == null) Task(te.stageId, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, failed = true)
      else {
        val duration = info.finishTime - info.launchTime
        val fetch = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0
        val delay = math.max(0L, duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - fetch)
        Task(te.stageId, m.executorRunTime, m.executorCpuTime, m.jvmGCTime, delay,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory, !info.successful)
      }
    synchronized { taskRecs += rec }
  }

  /** Runs a marker job and waits until its end event arrives: the listener
    * queue is ordered, so every earlier event has been seen by then. */
  def fence(sc: SparkContext): Unit = {
    val want = fenced + 1
    sc.setJobGroup(FenceGroup, FenceGroup)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (fenced < want && System.nanoTime() < deadline) Thread.sleep(5)
    require(fenced >= want, "listener events did not drain within 30 s")
  }

  /** Jobs that started inside `[fromUs, toUs]`. */
  def jobs(fromUs: Long, toUs: Long): Seq[Job] = synchronized {
    done.filter(j => j.start >= fromUs - 1000 && j.start <= toUs).sortBy(_.start).toSeq
  }

  def tasks(js: Seq[Job]): Seq[Task] = synchronized {
    val stages = js.flatMap(_.stages).toSet
    taskRecs.filter(t => stages.contains(t.stage)).toSeq
  }
}
