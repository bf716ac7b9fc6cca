package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId
import scala.collection.mutable

/** Work Spark did on behalf of one span: jobs, tasks and bytes, summed
  * over every task of every stage of every job submitted while the span
  * was the innermost open span on the submitting thread (or a thread it
  * spawned — Spark's local properties are inherited). */
final class SparkWork {
  var jobs, tasks, inputBytes, inputRecords, shuffleWriteBytes, spillBytes,
      cacheBlockWrites, executorCpuNs, taskWaitNs = 0L

  def add(o: SparkWork): Unit = {
    jobs += o.jobs; tasks += o.tasks; inputBytes += o.inputBytes
    inputRecords += o.inputRecords; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; cacheBlockWrites += o.cacheBlockWrites
    executorCpuNs += o.executorCpuNs; taskWaitNs += o.taskWaitNs
  }
}

final case class Span(id: Int, name: String, parent: Int, query: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Spans around calls into the program, kept in memory and written out at
  * the end. A disabled tracer runs the body and records nothing, so the
  * untraced run pays no tracing cost. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  import Tracer.SpanKey

  private val done = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 1
  private val work = new ConcurrentHashMap[Int, SparkWork]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, Long]()

  private def workFor(span: Int): SparkWork =
    work.computeIfAbsent(span, _ => new SparkWork)

  if (enabled) sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .foreach { s =>
          val span = s.toInt
          e.stageIds.foreach(stageSpan.putIfAbsent(_, span))
          val w = workFor(span)
          w.synchronized(w.jobs += 1)
        }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      e.stageInfo.submissionTime.foreach(
        stageSubmitMs.put(e.stageInfo.stageId, _))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val span = stageSpan.get(e.stageId)
      if (span != 0 && e.taskMetrics != null) {
        val m = e.taskMetrics
        val w = workFor(span)
        w.synchronized {
          w.tasks += 1
          w.inputBytes += m.inputMetrics.bytesRead
          w.inputRecords += m.inputMetrics.recordsRead
          w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          w.executorCpuNs += m.executorCpuTime
          w.cacheBlockWrites += m.updatedBlockStatuses.count {
            case (id, st) => id.isInstanceOf[RDDBlockId] && st.storageLevel.isValid
          }
          val submitted = stageSubmitMs.get(e.stageId)
          if (submitted != 0L)
            w.taskWaitNs += math.max(0L, e.taskInfo.launchTime - submitted) * 1000000L
        }
      }
    }
  })

  def span[T](name: String, query: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = open.headOption.getOrElse(0)
      open = id :: open
      sc.setLocalProperty(SpanKey, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, name, parent, query, t0, System.nanoTime())
        open = open.tail
        sc.setLocalProperty(SpanKey, open.headOption.map(_.toString).orNull)
      }
    }

  def spans: Seq[Span] = done.toSeq

  /** Wait until the listener has seen every event posted so far; call
    * before reading [[workOf]] or [[total]]. */
  def drain(): Unit =
    if (enabled) org.apache.spark.perfbench.ListenerDrain(sc)

  /** Spark work attributed to `span` itself (not its children). */
  def workOf(s: Span): SparkWork =
    Option(work.get(s.id)).getOrElse(new SparkWork)

  /** Wall time of `s` not covered by its child spans. */
  def selfNs(s: Span): Long =
    s.durNs - done.iterator.filter(_.parent == s.id).map(_.durNs).sum

  /** Self time and Spark work summed over every span called `name`. */
  def total(name: String): (Double, SparkWork, Int) = {
    val w = new SparkWork
    var ns = 0L
    var n = 0
    done.foreach { s =>
      if (s.name == name) { ns += selfNs(s); w.add(workOf(s)); n += 1 }
    }
    (ns / 1e9, w, n)
  }

  /** Spans as JSON lines, with each span's attributed Spark work. */
  def jsonLines: Iterator[String] = done.iterator.map { s =>
    val w = workOf(s)
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
      s""""query":"${Tracer.esc(s.query)}","start_ns":${s.startNs},""" +
      s""""end_ns":${s.endNs},"self_ns":${selfNs(s)},"jobs":${w.jobs},""" +
      s""""tasks":${w.tasks},"input_bytes":${w.inputBytes},""" +
      s""""shuffle_write_bytes":${w.shuffleWriteBytes},""" +
      s""""cache_block_writes":${w.cacheBlockWrites}}"""
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  def esc(s: String): String = s.replace("\\", "\\\\").replace("\"", "\\\"")
}
