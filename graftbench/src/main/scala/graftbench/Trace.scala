package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer: name, start, end and the span that caused
  * it (parent 0 is the run itself). */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Times every call the benchmark makes into the program. Untraced, it
  * only returns the elapsed time. Traced, it also keeps a span per call in
  * memory and tags the Spark jobs the call starts with the span's name, so
  * [[SparkCounters]] can attribute them. The benchmark's own spans are the
  * only instrumentation: nothing inside the library is touched. */
final class Recorder(val traced: Boolean, sc: SparkContext) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = List(0)

  /** Runs `body` and returns its result with the elapsed nanoseconds. */
  def timed[T](name: String)(body: => T): (T, Long) = {
    if (!traced) {
      val t0 = System.nanoTime()
      val r = body
      return (r, System.nanoTime() - t0)
    }
    val id = spans.length + 1
    val parent = stack.head
    val outerTag = sc.getLocalProperty(SparkCounters.TagKey)
    stack = id :: stack
    sc.setLocalProperty(SparkCounters.TagKey, name)
    val t0 = System.nanoTime()
    try {
      val r = body
      (r, System.nanoTime() - t0)
    } finally {
      val t1 = System.nanoTime()
      sc.setLocalProperty(SparkCounters.TagKey, outerTag)
      stack = stack.tail
      spans += Span(id, parent, name, t0, t1)
    }
  }

  def time[T](name: String)(body: => T): T = timed(name)(body)._1

  def all: Seq[Span] = spans.toSeq
  def durationsMs(name: String): Seq[Double] = spans.iterator.filter(_.name == name).map(_.ms).toSeq
}

/** Spark work attributed to one span name: counts, shuffle volume, and
  * the time of stages by role. A stage that reads shuffle output is a
  * merge stage; every other stage is a scan stage. */
final class SparkAgg {
  var jobs, stages, tasks, shuffleRecords, shuffleBytes = 0L
  var scanStageMs, mergeStageMs, executorCpuNs, schedulerDelayMs = 0L
}

/** Listener the benchmark registers on the session. It always counts job
  * starts (the serve loop must start none); when traced it also
  * aggregates stage and task metrics per span name. Events arrive on
  * Spark's listener thread, so every read goes through [[drain]] first. */
final class SparkCounters(sc: SparkContext, traced: Boolean) extends SparkListener {
  import SparkCounters._

  private val jobSubmitMs = mutable.ArrayBuffer.empty[Long]
  private val stageTag = mutable.HashMap.empty[Int, String]
  private val aggs = mutable.HashMap.empty[String, SparkAgg]
  private val drainJobs = mutable.HashSet.empty[Int]
  private var drainsSeen = 0
  private var drainsAsked = 0

  private def tagOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(TagKey))).getOrElse(Untagged)
  private def agg(tag: String): SparkAgg = aggs.getOrElseUpdate(tag, new SparkAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = tagOf(e.properties)
    if (tag == DrainTag) drainJobs += e.jobId else jobSubmitMs += e.time
    if (traced) {
      agg(tag).jobs += 1
      e.stageIds.foreach(stageTag(_) = tag)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (drainJobs.remove(e.jobId)) { drainsSeen += 1; notifyAll() }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (traced) synchronized {
    val info = e.stageInfo
    val a = agg(stageTag.getOrElse(info.stageId, Untagged))
    val m = info.taskMetrics
    val ms = (for (s <- info.submissionTime; c <- info.completionTime) yield c - s).getOrElse(0L)
    a.stages += 1
    a.tasks += info.numTasks
    if (m != null) {
      if (m.shuffleReadMetrics.recordsRead > 0) a.mergeStageMs += ms else a.scanStageMs += ms
      a.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.executorCpuNs += m.executorCpuTime
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (traced) synchronized {
    val m = e.taskMetrics
    if (m != null && e.taskInfo != null) {
      val delay = e.taskInfo.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - (if (e.taskInfo.gettingResult) e.taskInfo.finishTime - e.taskInfo.gettingResultTime else 0L)
      agg(stageTag.getOrElse(e.stageId, Untagged)).schedulerDelayMs += math.max(0L, delay)
    }
  }

  /** Runs one tiny tagged job and waits until its end event arrives. The
    * listener bus delivers events in order, so every event of an earlier
    * job has been seen by then. */
  def drain(): Unit = {
    val outer = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, DrainTag)
    synchronized(drainsAsked += 1)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(TagKey, outer)
    val deadline = System.currentTimeMillis() + 30000
    synchronized {
      while (drainsSeen < drainsAsked && System.currentTimeMillis() < deadline) wait(50)
    }
  }

  /** Jobs submitted in [fromMs, toMs], from any thread. Call after [[drain]]. */
  def jobsBetween(fromMs: Long, toMs: Long): Int =
    synchronized(jobSubmitMs.count(t => t >= fromMs && t <= toMs))

  /** Sum of the aggregates of every tag that satisfies `p`. Call after [[drain]]. */
  def sum(p: String => Boolean): SparkAgg = synchronized {
    val s = new SparkAgg
    aggs.foreach { case (tag, a) =>
      if (p(tag)) {
        s.jobs += a.jobs; s.stages += a.stages; s.tasks += a.tasks
        s.shuffleRecords += a.shuffleRecords; s.shuffleBytes += a.shuffleBytes
        s.scanStageMs += a.scanStageMs; s.mergeStageMs += a.mergeStageMs
        s.executorCpuNs += a.executorCpuNs; s.schedulerDelayMs += a.schedulerDelayMs
      }
    }
    s
  }
}

object SparkCounters {
  val TagKey = "graftbench.span"
  private val Untagged = "untagged"
  private val DrainTag = "graftbench.drain"

  def install(sc: SparkContext, traced: Boolean): SparkCounters = {
    val c = new SparkCounters(sc, traced)
    sc.addSparkListener(c)
    c
  }
}

object Jvm {
  /** Heap in use after a full collection, in MiB: the least of three
    * readings 100 ms apart, since Spark releases some state asynchronously
    * (a single reading varied 66-95 MiB across runs). */
  def heapAfterGcMb(): Double =
    (1 to 3).map { _ =>
      Thread.sleep(100)
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min

  /** Total collector time so far, in ms. */
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
}
