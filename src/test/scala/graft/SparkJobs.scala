package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

object SparkJobs {
  /** The job group (null when none) of every Spark job started while
    * `body` runs, on any thread. */
  def groupsDuring(sc: SparkContext)(body: => Unit): Seq[String] = {
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    @volatile var sentinel = -1
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == sentinel) flushed.countDown()
    }
    sc.addSparkListener(listener)
    try {
      body
      // listener events arrive in order: once a job started after the
      // body has ended, every job of the body has been seen
      val probe = sc.parallelize(Seq(1), 1).countAsync()
      sentinel = probe.jobIds.head
      probe.get()
      assert(flushed.await(30, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    scala.jdk.CollectionConverters.CollectionHasAsScala(groups).asScala.toSeq.map(_.orNull)
  }

  /** Spark jobs the calling thread starts inside `body`. */
  def startedBy(sc: SparkContext)(body: => Unit): Int = {
    val group = s"jobs-probe-${System.nanoTime()}"
    groupsDuring(sc) {
      sc.setJobGroup(group, "job count probe")
      try body finally sc.clearJobGroup()
    }.count(_ == group)
  }
}
