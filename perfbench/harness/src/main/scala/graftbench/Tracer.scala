package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spans around public calls, with scheduler counts attributed to the span
  * that submitted each job. A span's id travels to the scheduler as a
  * SparkContext local property (inherited by SQL's broadcast and subquery
  * threads); a job without it falls to the innermost open span. Spans and
  * counts stay in memory and are written once, at the end of the process.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer._

  private val sc = spark.sparkContext
  val spans = ArrayBuffer.empty[Span]
  @volatile private var stack: List[Int] = Nil
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val epochNs = System.nanoTime()

  def attach(): Unit = sc.addSparkListener(this)

  def detach(): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(this)
  }

  def span[T](name: String)(body: => T): T = {
    val id = spans.synchronized {
      spans += Span(spans.size, name, stack.headOption.getOrElse(-1),
        System.nanoTime(), 0L, new Counts)
      spans.size - 1
    }
    val prev = sc.getLocalProperty(Key)
    stack = id :: stack
    sc.setLocalProperty(Key, id.toString)
    try body
    finally {
      // drain first: the span closes once its jobs' events are counted
      org.apache.spark.PerfbenchBus.drain(sc)
      spans(id).endNs = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(Key, prev)
    }
  }

  private def counts(id: Int): Option[Counts] =
    if (id >= 0 && id < spans.size) Some(spans(id).counts) else None

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val id = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
      .map(_.toInt).getOrElse(stack.headOption.getOrElse(-1))
    e.stageIds.foreach(s => stageSpan.put(s, id))
    counts(id).foreach(_.jobs += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).flatMap(counts(_))
      .foreach(_.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) Option(stageSpan.get(e.stageId)).flatMap(counts(_))
      .foreach { c =>
        c.tasks += 1
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRows += m.inputMetrics.recordsRead
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.taskMs += m.executorRunTime
      }
  }

  def spansJson: String = spans.map { s =>
    val c = s.counts
    Json.obj("id" -> s.id.toString, "name" -> Json.str(s.name),
      "parent" -> s.parent.toString,
      "start_s" -> ((s.startNs - epochNs) / 1e9).toString,
      "end_s" -> ((s.endNs - epochNs) / 1e9).toString,
      "jobs" -> c.jobs.toString, "stages" -> c.stages.toString,
      "tasks" -> c.tasks.toString, "input_bytes" -> c.inputBytes.toString,
      "input_rows" -> c.inputRows.toString,
      "shuffle_read_bytes" -> c.shuffleRead.toString,
      "shuffle_write_bytes" -> c.shuffleWrite.toString,
      "spill_bytes" -> c.spill.toString, "task_s" -> (c.taskMs / 1e3).toString)
  }.mkString("[", ",\n", "]")
}

object Tracer {
  val Key = "perfbench.span"

  final class Counts {
    @volatile var jobs, stages, tasks, inputBytes, inputRows, shuffleRead,
      shuffleWrite, spill, taskMs = 0L
  }
  final case class Span(id: Int, name: String, parent: Int, startNs: Long,
                        var endNs: Long, counts: Counts)
}
