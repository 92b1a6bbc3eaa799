package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._

/** Execution counters of the jobs launched under one tag. */
final class Stats {
  var jobs, stages, tasks, taskFailures = 0L
  var cpuNs, runMs, gcMs = 0L
  var inputBytes, shuffleWriteBytes, shuffleReadBytes, spillBytes = 0L

  def add(o: Stats): Stats = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskFailures += o.taskFailures
    cpuNs += o.cpuNs; runMs += o.runMs; gcMs += o.gcMs
    inputBytes += o.inputBytes; shuffleWriteBytes += o.shuffleWriteBytes
    shuffleReadBytes += o.shuffleReadBytes; spillBytes += o.spillBytes
    this
  }
}

object Counters {
  /** Local property that names the benchmark step a job belongs to. */
  val TagKey = "perfbench.tag"
}

/** The benchmark's own SparkListener. Jobs are attributed to the tag
  * the benchmark thread set as a local property when it launched them;
  * stages and tasks inherit their job's tag. */
final class Counters extends SparkListener {
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val byTag = mutable.HashMap[String, Stats]()

  private def stats(tag: String): Stats = byTag.getOrElseUpdate(tag, new Stats)
  private def tagOf(stageId: Int): String =
    Option(stageTag.get(stageId)).getOrElse("untagged")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Counters.TagKey)))
      .getOrElse("untagged")
    e.stageIds.foreach(stageTag.put(_, tag))
    synchronized { stats(tag).jobs += 1 }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val m = info.taskMetrics
    synchronized {
      val s = stats(tagOf(info.stageId))
      s.stages += 1
      s.tasks += info.numTasks
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.inputBytes += m.inputMetrics.bytesRead
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleReadBytes += m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead
        s.spillBytes += m.diskBytesSpilled
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = e.reason match {
    case Success => ()
    case _ => synchronized { stats(tagOf(e.stageId)).taskFailures += 1 }
  }

  /** Counters gathered since the last call, by tag; resets them. */
  def take(): Map[String, Stats] = synchronized {
    val r = byTag.toMap
    byTag.clear()
    r
  }
}

/** Spans kept in memory and written out when the run ends. */
final class Spans {
  final case class Span(id: Int, parent: Int, name: String,
                        startNs: Long, endNs: Long)
  private val done = mutable.ArrayBuffer[Span]()
  private var nextId = 0
  /** Spans are kept only while recording; timing happens either way. */
  var recording = false

  /** Runs `body` as a span named `name` under `parent` (-1 for none);
    * the body gets the new span's id. Returns the result and seconds. */
  def apply[T](name: String, parent: Int)(body: Int => T): (T, Double) = {
    val id = nextId
    nextId += 1
    val t0 = System.nanoTime()
    val r = body(id)
    val t1 = System.nanoTime()
    if (recording) done += Span(id, parent, name, t0, t1)
    (r, (t1 - t0) / 1e9)
  }
  def jsonLines: Seq[String] = done.sortBy(_.startNs).map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.toSeq
}

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
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
}
