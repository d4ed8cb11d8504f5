package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One SparkSession shared across all suites (sbt forks one test JVM). */
object TestSession {
  lazy val spark: SparkSession = graft.core.GraftSession.local(4, "graft-test")
  val Sf0001 = "/root/testdata/sf0.001"
  val Sf001 = "/root/testdata/sf0.01"

  /** Jobs started and shuffle records written by the shared session. */
  final case class Counts(jobs: Long, shuffleRecords: Long) {
    def -(o: Counts): Counts = Counts(jobs - o.jobs, shuffleRecords - o.shuffleRecords)
  }

  /** A `SparkListener` summing jobs and shuffle records between two marks:
    * `val m = JobCounter.mark(); …; JobCounter.since(m)`. Listener events
    * arrive on Spark's listener thread after the work they describe, so
    * every read first runs a tagged marker job, which is not counted, and
    * waits until its end event has arrived: every earlier event has been
    * delivered by then. */
  object JobCounter {
    private val MarkerKey = "graft.test.jobCounterMarker"

    private object listener extends SparkListener {
      private var counts = Counts(0, 0)
      private val markers = scala.collection.mutable.Set.empty[Int]
      private var markersSeen = 0L

      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        if (Option(e.properties).exists(_.getProperty(MarkerKey) != null)) markers += e.jobId
        else counts = counts.copy(jobs = counts.jobs + 1)
      }

      override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
        if (markers.remove(e.jobId)) { markersSeen += 1; notifyAll() }
      }

      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
        Option(e.taskMetrics).foreach { m =>
          counts = counts.copy(shuffleRecords =
            counts.shuffleRecords + m.shuffleWriteMetrics.recordsWritten)
        }
      }

      def read(asked: Long): Counts = synchronized {
        val deadline = System.currentTimeMillis() + 30000
        while (markersSeen < asked && System.currentTimeMillis() < deadline) wait(50)
        require(markersSeen >= asked, "listener events did not arrive within 30 s")
        counts
      }
    }

    private var asked = 0L
    private lazy val installed: Unit = spark.sparkContext.addSparkListener(listener)

    private def drained(): Counts = synchronized {
      installed
      val sc = spark.sparkContext
      sc.setLocalProperty(MarkerKey, "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(MarkerKey, null)
      asked += 1
      listener.read(asked)
    }

    def mark(): Counts = drained()

    def since(m: Counts): Counts = drained() - m
  }
}
