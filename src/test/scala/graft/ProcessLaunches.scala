package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import jdk.jfr.consumer.RecordingStream

object ProcessLaunches {
  /** Committed after `body`: once the stream has delivered it, every
    * event committed before it (on any thread) has been delivered. */
  @jdk.jfr.Name("graft.ProcessLaunchesFlush")
  final class Flush extends jdk.jfr.Event

  /** The command line of every process this JVM started while `body`
    * ran, on any thread, as JFR's `jdk.ProcessStart` records them. */
  def during(body: => Unit): Seq[String] = {
    val commands = new ConcurrentLinkedQueue[String]()
    val flushed = new CountDownLatch(1)
    val stream = new RecordingStream()
    try {
      stream.enable("jdk.ProcessStart")
      stream.enable(classOf[Flush])
      stream.onEvent("jdk.ProcessStart", e => commands.add(e.getString("command")))
      stream.onEvent("graft.ProcessLaunchesFlush", _ => flushed.countDown())
      stream.startAsync()
      body
      new Flush().commit()
      assert(flushed.await(30, TimeUnit.SECONDS), "JFR stream did not flush")
    } finally stream.close()
    scala.jdk.CollectionConverters.CollectionHasAsScala(commands).asScala.toSeq
  }
}
