package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** One timed interval. `parent` is -1 for a root; every span of one
  * pipeline iteration carries that iteration's number.
  */
final case class Span(id: Int, parent: Int, iter: Int, name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Spans kept in memory and written out when the run ends. Job spans come
  * from [[LayerListener]] in epoch milliseconds and are mapped onto this
  * clock through one (nanoTime, epoch) pair taken at start.
  */
final class Tracer {
  private val baseNs = System.nanoTime()
  private val baseEpochMs = System.currentTimeMillis()
  val spans = mutable.ArrayBuffer.empty[Span]

  def add(parent: Int, iter: Int, name: String, startNs: Long, endNs: Long): Int = {
    val id = spans.size
    spans += Span(id, parent, iter, name, startNs, endNs)
    id
  }

  def epochToNs(ms: Long): Long = baseNs + (ms - baseEpochMs) * 1000000L

  def relUs(ns: Long): Long = (ns - baseNs) / 1000L
}

/** What the Spark jobs of one (iteration, layer) did. */
final class LayerCounts {
  var jobs, stages, tasks = 0L
  var taskMs, bytesRead, shuffleWriteBytes, spillBytes = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Int, Long, Long)] // (jobId, startMs, endMs)
}

/** Assigns every job, stage and task to the layer named by the local
  * properties the harness set on the calling thread before it called into
  * the engine. Jobs started from threads that inherit those properties
  * (broadcast and subquery threads) land on the same layer.
  */
final class LayerListener extends SparkListener {
  private val counts = mutable.Map.empty[(Int, String), LayerCounts]
  private val stageKey = mutable.Map.empty[Int, (Int, String)]
  private val jobKey = mutable.Map.empty[Int, (Int, String, Long)]

  private def at(k: (Int, String)) = counts.getOrElseUpdate(k, new LayerCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val layer = props.flatMap(p => Option(p.getProperty(PipelineBench.LayerKey))).getOrElse("untagged")
    val iter = props.flatMap(p => Option(p.getProperty(PipelineBench.IterKey))).map(_.toInt).getOrElse(-1)
    val k = (iter, layer)
    at(k).jobs += 1
    jobKey(e.jobId) = (iter, layer, e.time)
    e.stageIds.foreach(s => stageKey(s) = k)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobKey.remove(e.jobId).foreach { case (iter, layer, start) =>
      at((iter, layer)).jobIntervals += ((e.jobId, start, e.time))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageKey.get(e.stageInfo.stageId).foreach(at(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageKey.get(e.stageId).foreach { k =>
      val c = at(k)
      c.tasks += 1
      c.taskMs += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        c.bytesRead += m.inputMetrics.bytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Counts of one iteration, by layer; forgets them. */
  def take(iter: Int): Map[String, LayerCounts] = synchronized {
    val mine = counts.keys.filter(_._1 == iter).toSeq
    val out = mine.map(k => k._2 -> counts(k)).toMap
    mine.foreach(counts.remove)
    out
  }
}

/** Sums Catalyst phase times over every query that ran. */
final class CatalystListener extends QueryExecutionListener {
  private val phaseMs = mutable.Map.empty[String, Long].withDefaultValue(0L)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    qe.tracker.phases.foreach { case (phase, s) => phaseMs(phase) += s.durationMs }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Phase -> seconds since the last call. */
  def take(): Map[String, Double] = synchronized {
    val out = phaseMs.map { case (k, v) => k -> v / 1000.0 }.toMap
    phaseMs.clear()
    out
  }
}
