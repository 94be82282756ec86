package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.graftbench.SparkAccess
import org.apache.spark.scheduler._

/** Spark counters per span. The harness names the span around each call
  * into the program with the `graftbench.span` local property; every job
  * that call submits (broadcasts included) inherits it, and each task is
  * charged to the span of the job that first submitted its stage.
  */
final class Trace extends SparkListener {
  import Trace._

  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val totals = new ConcurrentHashMap[String, Array[Long]]()

  private def add(span: String, i: Int, v: Long): Unit = {
    val a = totals.computeIfAbsent(span, _ => new Array[Long](Fields.size))
    a.synchronized { a(i) += v }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).map(_.getProperty(Key)).orNull
    if (span != null) {
      add(span, Jobs, 1)
      e.stageInfos.foreach(s => stageSpan.putIfAbsent(s.stageId, span))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = stageSpan.get(e.stageId)
    val m = e.taskMetrics
    if (span != null && m != null) {
      add(span, Tasks, 1)
      add(span, ShuffleWriteBytes, m.shuffleWriteMetrics.bytesWritten)
      add(span, ExecRunMs, m.executorRunTime)
      add(span, SpillBytes, m.diskBytesSpilled)
    }
  }

  /** Cumulative counters per span, after every posted event is handled. */
  def snapshot(sc: SparkContext): Map[String, Vector[Long]] = {
    SparkAccess.drainListeners(sc)
    totals.asScala.map { case (k, a) => k -> a.synchronized(a.toVector) }.toMap
  }
}

object Trace {
  val Key = "graftbench.span"
  val Fields = Vector("jobs", "tasks", "shuffle_write_bytes", "exec_run_ms", "spill_bytes")
  val Jobs = 0
  val Tasks = 1
  val ShuffleWriteBytes = 2
  val ExecRunMs = 3
  val SpillBytes = 4

  /** Counters accrued between two snapshots, per span. */
  def delta(after: Map[String, Vector[Long]], before: Map[String, Vector[Long]])
      : Map[String, Vector[Long]] =
    after.map { case (k, v) =>
      val b = before.getOrElse(k, Vector.fill(Fields.size)(0L))
      k -> v.zip(b).map { case (x, y) => x - y }
    }
}
