package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory spans: name, start, end and the enclosing span. While a span
  * is open its id is the thread's `perfbench.span` local property, so the
  * Spark jobs it submits are attributed to it by [[Recorder]].
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  final case class Span(id: Int, name: String, parent: Int,
                        startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
  val spans = ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 0

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.setLocalProperty(Tracer.Key, id.toString)
      val (ms0, ns0) = (System.currentTimeMillis(), System.nanoTime())
      try body
      finally {
        val (ns1, ms1) = (System.nanoTime(), System.currentTimeMillis())
        spans += Span(id, name, parent, ns0, ns1, ms0, ms1)
        stack = stack.tail
        sc.setLocalProperty(Tracer.Key, stack.headOption.map(_.toString).orNull)
      }
    }

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq
  def selfSeconds(s: Span): Double = s.seconds - children(s.id).map(_.seconds).sum

  /** Spans below `root`, any depth. */
  def descendants(root: Int): Seq[Span] = {
    val kids = children(root)
    kids ++ kids.flatMap(k => descendants(k.id))
  }
}

object Tracer { val Key = "perfbench.span" }

/** Spark listener that keeps one record per finished task, tagged with the
  * span whose job ran it. */
final class Recorder extends SparkListener {
  final case class TaskRec(span: Int, launchMs: Long, finishMs: Long,
                           runMs: Long, gcMs: Long, schedMs: Long,
                           inBytes: Long, inRecords: Long, shuffleWrite: Long,
                           outBytes: Long)
  final case class JobRec(span: Int, stages: Int)

  private val stageSpan = scala.collection.concurrent.TrieMap[Int, Int]()
  val tasks = ArrayBuffer[TaskRec]()
  val jobs = ArrayBuffer[JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
      .map(_.toInt).getOrElse(-1)
    e.stageIds.foreach(s => stageSpan(s) = span)
    jobs += JobRec(span, e.stageIds.size)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    val m = e.taskMetrics
    if (m != null) {
      val sched = math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime)
      tasks += TaskRec(stageSpan.getOrElse(e.stageId, -1), i.launchTime, i.finishTime,
        m.executorRunTime, m.jvmGCTime, sched,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.shuffleWriteMetrics.bytesWritten, m.outputMetrics.bytesWritten)
    }
  }

  def snapshot(sc: SparkContext): (Seq[TaskRec], Seq[JobRec]) = {
    org.apache.spark.BenchBus.drain(sc)
    synchronized((tasks.toSeq, jobs.toSeq))
  }
}
