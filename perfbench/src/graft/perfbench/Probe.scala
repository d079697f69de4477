package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark-side counters for one span kind (build, plan, execute, merge,
  * read, tables), summed over every span of that kind. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskWallMs = 0L
  var runMs = 0L
  var deserMs = 0L
  var resultMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var bytesRead = 0L
  var rowsRead = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var fetchWaitMs = 0L
  var spill = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskWallMs += o.taskWallMs; runMs += o.runMs; deserMs += o.deserMs
    resultMs += o.resultMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    bytesRead += o.bytesRead; rowsRead += o.rowsRead
    shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; fetchWaitMs += o.fetchWaitMs
    spill += o.spill
  }
}

/** Listens to Spark's scheduler events and charges each job, stage and
  * task to the span that launched it. A span is marked by the
  * [[Probe.SpanKey]] local property on the calling thread; Spark copies
  * local properties onto the job, and SQL execution carries them into
  * the threads that run broadcast and subquery jobs, so asynchronous
  * events land on the right span. Events from unmarked jobs are charged
  * to "untagged".
  */
final class Probe extends SparkListener {
  private val byTag = mutable.Map.empty[String, Counters]
  private val stageTag = mutable.Map.empty[Int, String]

  private def tagOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(Probe.SpanKey)))
      .getOrElse("untagged")

  private def counters(tag: String): Counters =
    byTag.getOrElseUpdate(tag, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = tagOf(e.properties)
    counters(tag).jobs += 1
    e.stageInfos.foreach(s => stageTag(s.stageId) = tag)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val tag = Option(e.properties).map(tagOf)
        .getOrElse(stageTag.getOrElse(e.stageInfo.stageId, "untagged"))
      stageTag(e.stageInfo.stageId) = tag
      counters(tag).stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(stageTag.getOrElse(e.stageId, "untagged"))
    c.tasks += 1
    c.taskWallMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.deserMs += m.executorDeserializeTime
      c.resultMs += m.resultSerializationTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.bytesRead += m.inputMetrics.bytesRead
      c.rowsRead += m.inputMetrics.recordsRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Counters of every tag whose span kind (the part after the last '/')
    * is `kind`, summed. Call after [[Probe.drain]]. */
  def kind(kind: String): Counters = synchronized {
    val out = new Counters
    byTag.foreach { case (t, c) =>
      if (t.substring(t.lastIndexOf('/') + 1) == kind) out.add(c) }
    out
  }

  /** Counters of one exact tag. Call after [[Probe.drain]]. */
  def tag(t: String): Counters = synchronized {
    val out = new Counters
    byTag.get(t).foreach(out.add)
    out
  }
}

object Probe {
  val SpanKey = "perfbench.span"

  def drain(sc: SparkContext): Unit =
    org.apache.spark.perfbench.ListenerBusDrain(sc)
}

/** One timed call: `op` is the parent op's id ("17:q12_pricing_summary"),
  * `kind` the layer it exercises. */
final case class Span(op: String, kind: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  def tag: String = s"$op/$kind"
}

/** Times calls as spans and, when tracing, marks the Spark jobs they
  * launch with the span's tag. Spans stay in memory until [[spans]] is
  * written out at the end of the run. */
final class Tracer(sc: SparkContext) {
  private val buf = mutable.ArrayBuffer.empty[Span]
  var enabled = false

  def span[T](op: String, kind: String)(body: => T): T = {
    val tag = s"$op/$kind"
    if (enabled) sc.setLocalProperty(Probe.SpanKey, tag)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      if (enabled) {
        sc.setLocalProperty(Probe.SpanKey, null)
        buf += Span(op, kind, t0, t1)
      }
    }
  }

  def spans: Seq[Span] = buf.toSeq
}

/** CPU that other tenants of the host used while a block ran, in cores:
  * user and nice time of every other process plus steal time, from
  * `/proc/stat` and `/proc/self/stat` (both in clock ticks). Kernel time
  * is left out because most of it is this JVM's own file I/O (writeback,
  * interrupts), which [[graft.tools.Timing.withForeignCores]] counts as
  * foreign. -1 when `/proc` is unreadable. */
object OtherLoad {
  private val TicksPerS = 100.0

  private def ticks(): (Long, Long) = {
    def read(f: String) = {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().next() finally src.close()
    }
    val cpu = read("/proc/stat").trim.split("\\s+").drop(1).map(_.toLong)
    // fields after the command name: state is field 3, utime field 14
    val self = read("/proc/self/stat")
    val utime = self.substring(self.lastIndexOf(')') + 2).split(" ")(11).toLong
    (cpu(0) + cpu(1) + cpu(7), utime)
  }

  def during[T](body: => T): (T, Double) = {
    val before = scala.util.Try(ticks()).toOption
    val t0 = System.nanoTime()
    val r = body
    val wall = (System.nanoTime() - t0) / 1e9
    val cores = (before, scala.util.Try(ticks()).toOption) match {
      case (Some((b0, o0)), Some((b1, o1))) if wall > 0 =>
        math.max(0.0, ((b1 - b0) - (o1 - o0)) / TicksPerS / wall)
      case _ => -1.0
    }
    (r, cores)
  }
}
