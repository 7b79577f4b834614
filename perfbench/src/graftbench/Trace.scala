package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One span around a call into the engine. `req` groups the spans (and the
  * Spark jobs) of one request; `parent` is the id of the span enclosing it
  * on the same thread, 0 at the top. Times are epoch nanoseconds (wall clock, comparable with the
  * listener's job times). */
final case class Span(id: Long, parent: Long, req: Long, name: String,
                      startNs: Long, endNs: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory and written out when the run ends. Disabled, it
  * only runs the body: the untraced run pays nothing. Enabled, each span
  * also tags the calling thread's Spark jobs with the request's job group,
  * so the listener attributes every job to the request that launched it
  * even with concurrent clients. */
final class Tracer(val on: Boolean, sc: SparkContext) {
  private val ids = new AtomicLong
  val spans = new ConcurrentLinkedQueue[Span]

  private val t0Wall = System.currentTimeMillis() * 1000000L
  private val t0Mono = System.nanoTime()
  private def wallNs: Long = t0Wall + (System.nanoTime() - t0Mono)

  def newReq(): Long = ids.incrementAndGet()

  private val current = ThreadLocal.withInitial[java.lang.Long](() => 0L)

  def span[A](name: String, req: Long = 0L)(f: => A): A =
    if (!on) f
    else {
      val id = ids.incrementAndGet()
      val parent: Long = current.get
      current.set(id)
      val group = if (req != 0L) s"r$req" else null
      if (group != null) sc.setJobGroup(group, name, interruptOnCancel = false)
      val s = wallNs
      try f
      finally {
        spans.add(Span(id, parent, req, name, s, wallNs))
        if (group != null) sc.clearJobGroup()
        current.set(parent)
      }
    }

  def named(name: String): Seq[Span] = spans.asScala.filter(_.name == name).toSeq

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.asScala.toSeq.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"req":${s.req},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Per-job Spark counts: wall time, task count and the task metrics the
  * per-layer table reports. */
final class JobRec(val id: Int, val group: String, val startNs: Long) {
  @volatile var endNs: Long = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var output = 0L
  def wallS: Double = if (endNs == 0L) 0.0 else (endNs - startNs) / 1e9
}

/** Benchmark-registered listener: one [[JobRec]] per job, task metrics
  * summed into the job that owns the stage. */
final class JobListener extends SparkListener {
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]
  private val events = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobs.put(e.jobId, new JobRec(e.jobId, g, e.time * 1000000L))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    events.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.endNs = e.time * 1000000L)
    events.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    val m = e.taskMetrics
    if (m == null) return
    Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { r =>
      r.synchronized {
        r.tasks += 1
        r.runMs += m.executorRunTime
        r.cpuNs += m.executorCpuTime
        r.gcMs += m.jvmGCTime
        r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        r.output += m.outputMetrics.bytesWritten
      }
    }
  }

  def all: Seq[JobRec] = jobs.values.asScala.toSeq

  /** Waits until every started job has ended and no event arrived for
    * 200 ms (the listener bus is asynchronous), at most `maxMs`. */
  def quiesce(maxMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    var last = -1L
    while (System.currentTimeMillis() < deadline &&
      (all.exists(_.endNs == 0L) || events.get() != last)) {
      last = events.get()
      Thread.sleep(200)
    }
  }

  def byGroup: Map[String, Seq[JobRec]] =
    all.filter(_.group != null).groupBy(_.group)

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.id).map { j =>
      s"""{"job":${j.id},"group":${Option(j.group).map("\"" + _ + "\"").getOrElse("null")},""" +
        s""""start_ns":${j.startNs},"end_ns":${j.endNs},"tasks":${j.tasks},"run_ms":${j.runMs},""" +
        s""""cpu_ns":${j.cpuNs},"gc_ms":${j.gcMs},"shuffle_write":${j.shuffleWrite},""" +
        s""""shuffle_read":${j.shuffleRead},"spill":${j.spill},"output":${j.output}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }

  /** Jobs without a group that started inside [startNs, endNs]. */
  def within(startNs: Long, endNs: Long): Seq[JobRec] =
    all.filter(j => j.group == null && j.startNs >= startNs - 1000000L && j.startNs <= endNs)
}
