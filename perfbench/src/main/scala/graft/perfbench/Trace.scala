package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Spans and Spark counters for the traced run.
  *
  * The benchmark opens a span around every call it makes into a layer;
  * a [[SparkListener]] adds job and stage spans and task counters, linked
  * to the operation that caused them by the job group the operation ran
  * under. Everything stays in memory until [[write]] at the end of the run.
  * A disabled trace records nothing and registers no listener. */
final class Trace(val enabled: Boolean) {
  final class Span(val id: Int, val parent: Int, val layer: String,
      val name: String, val group: String, val startUs: Long) {
    var endUs: Long = -1L
  }

  /** Task counters summed per job group. */
  final class Counters {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var taskNs = 0L
    var shuffleWriteBytes = 0L
    var shuffleReadBytes = 0L
    var spillBytes = 0L
    def asMap: Map[String, Any] = Map(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "task_s" -> taskNs / 1e9,
      "shuffle_write_mb" -> shuffleWriteBytes / 1e6,
      "shuffle_read_mb" -> shuffleReadBytes / 1e6,
      "spill_mb" -> spillBytes / 1e6)
  }

  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  private def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000L

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  private val groupSpan = mutable.Map.empty[String, Int]
  private val counters = mutable.Map.empty[String, Counters]
  private val jobGroup = mutable.Map.empty[Int, String]
  private val jobSpan = mutable.Map.empty[Int, Span]
  private val stageJob = mutable.Map.empty[Int, Int]
  private var nextId = 1
  @volatile private var events = 0L

  private def newSpan(parent: Int, layer: String, name: String, group: String,
      startUs: Long): Span = synchronized {
    val s = new Span(nextId, parent, layer, name, group, startUs)
    nextId += 1
    spans += s
    s
  }

  /** Opens a span under the innermost open one; `group` links the Spark
    * jobs the span's work submits. Returns null when tracing is off. */
  def begin(layer: String, name: String, group: String = ""): Span =
    if (!enabled) null
    else synchronized {
      val parent = if (open.isEmpty) 0 else open.top.id
      val s = newSpan(parent, layer, name, group, nowUs)
      if (group.nonEmpty) groupSpan(group) = s.id
      open.push(s)
      s
    }

  def end(s: Span): Unit = if (s != null) synchronized {
    s.endUs = nowUs
    if (open.nonEmpty && (open.top eq s)) open.pop()
  }

  def span[A](layer: String, name: String)(body: => A): A = {
    val s = begin(layer, name)
    try body finally end(s)
  }

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      events += 1
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      jobGroup(e.jobId) = g
      e.stageIds.foreach(stageJob(_) = e.jobId)
      val c = counters.getOrElseUpdate(g, new Counters)
      c.jobs += 1
      jobSpan(e.jobId) = newSpan(groupSpan.getOrElse(g, 0), "spark.job",
        s"job ${e.jobId}", g, e.time * 1000L)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      events += 1
      jobSpan.get(e.jobId).foreach(_.endUs = e.time * 1000L)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        events += 1
        val info = e.stageInfo
        val job = stageJob.getOrElse(info.stageId, -1)
        val g = jobGroup.getOrElse(job, "")
        val c = counters.getOrElseUpdate(g, new Counters)
        c.stages += 1
        val parent = jobSpan.get(job).map(_.id).getOrElse(0)
        val s = newSpan(parent, "spark.stage", s"stage ${info.stageId}", g,
          info.submissionTime.getOrElse(0L) * 1000L)
        s.endUs = info.completionTime.getOrElse(0L) * 1000L
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      events += 1
      val m = e.taskMetrics
      if (m != null) {
        val g = jobGroup.getOrElse(stageJob.getOrElse(e.stageId, -1), "")
        val c = counters.getOrElseUpdate(g, new Counters)
        c.tasks += 1
        c.taskNs += m.executorRunTime * 1000000L
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.spillBytes += m.diskBytesSpilled
      }
    }
  }

  /** Waits until the asynchronous listener bus has gone quiet, so the
    * counters cover every job already run. */
  def settle(): Unit = if (enabled) {
    var last = -1L
    var quiet = 0
    val deadline = System.nanoTime() + 5000000000L
    while (quiet < 3 && System.nanoTime() < deadline) {
      if (events == last) quiet += 1 else { quiet = 0; last = events }
      Thread.sleep(50)
    }
  }

  def countersFor(group: String): Map[String, Any] = synchronized {
    counters.get(group).map(_.asMap).getOrElse(Map.empty)
  }

  /** Self time per layer: each closed span's duration minus the part of
    * it that its child spans cover. */
  def selfSeconds: Map[String, Double] = synchronized {
    val done = spans.filter(s => s.endUs >= s.startUs && s.startUs > 0)
    val kids = done.groupBy(_.parent)
    done.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = kids.getOrElse(s.id, Nil)
          .map(k => (math.max(k.startUs, s.startUs), math.min(k.endUs, s.endUs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var total = 0L
        var curA = -1L
        var curB = -1L
        covered.foreach { case (a, b) =>
          if (a > curB) { total += curB - curA; curA = a; curB = b }
          else curB = math.max(curB, b)
        }
        total += curB - curA
        (s.endUs - s.startUs - total) / 1e6
      }.sum
    }
  }

  /** Writes every span as one JSON line. */
  def write(path: String): Unit = synchronized {
    val lines = spans.map { s =>
      Main.json.writeValueAsString(Map("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
        "name" -> s.name, "group" -> s.group, "start_us" -> s.startUs,
        "end_us" -> s.endUs))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
