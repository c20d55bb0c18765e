package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One timed interval around a call into a layer. `op` is the id of the
  * benchmark op the span belongs to; `parent` is the enclosing span's id,
  * -1 at the top. Times are nanoseconds since the trace's origin. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startNs: Long, endNs: Long)

/** Bus marker bracketing one op, so block updates (which carry no
  * timestamp) are attributed in bus order. */
final case class OpMarker(op: Int, begin: Boolean) extends SparkListenerEvent

/** Spans kept in memory plus the scheduler's counts from a listener,
  * written out once at the end of the run. Spans are kept either way (the
  * op spans give the end-to-end latencies); with `enabled` false no
  * listener is registered and no markers are posted. */
final class Trace(val enabled: Boolean) {
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis()
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var currentOp = -1
  private var sc: SparkContext = _
  private var listener: Listener = _

  def nowNs: Long = System.nanoTime() - originNs

  def attach(context: SparkContext): Unit = if (enabled) {
    sc = context
    listener = new Listener(originMs)
    sc.addSparkListener(listener)
  }

  def detach(): Unit = if (listener != null) {
    org.apache.spark.GraftBenchBus.drain(sc)
    sc.removeSparkListener(listener)
  }

  /** An op span: the unit the end-to-end latency is taken from. */
  def op[T](id: Int, name: String)(body: => T): (T, Span) = {
    currentOp = id
    if (sc != null) org.apache.spark.GraftBenchBus.post(sc, OpMarker(id, begin = true))
    val out = span(name)(body)
    if (sc != null) org.apache.spark.GraftBenchBus.post(sc, OpMarker(id, begin = false))
    currentOp = -1
    (out, spans.last)
  }

  /** A span around one call into a layer; jobs it submits are tagged
    * with its id through a local property. */
  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val start = nowNs
    stack = id :: stack
    if (sc != null) sc.setLocalProperty("graftbench.span", id.toString)
    try body
    finally {
      val end = nowNs
      stack = stack.tail
      if (sc != null)
        sc.setLocalProperty("graftbench.span", stack.headOption.map(_.toString).orNull)
      spans += Span(id, name, parent, currentOp, start, end)
    }
  }

  def toJson: String = {
    val sb = new StringBuilder
    sb ++= "{\"spans\":["
    sb ++= spans.sortBy(_.id).map(s =>
      s"""[${s.id},${Json.str(s.name)},${s.parent},${s.op},${s.startNs},${s.endNs}]""")
      .mkString(",")
    sb ++= "]"
    if (listener != null) sb ++= "," ++= listener.toJson
    sb ++= "}"
    sb.toString
  }
}

/** Scheduler counts at the Spark boundary: jobs with the span that
  * submitted them and their start, per-stage task totals, and
  * persisted-block bytes per op from block-update events. */
final class Listener(originMs: Long) extends SparkListener {
  private case class Job(id: Int, span: Int, startMs: Long, stages: Seq[Int])
  private case class Stage(id: Int, var tasks: Int = 0, var runMs: Long = 0L,
      var shuffleBytes: Long = 0L)

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.LinkedHashMap.empty[Int, Stage]
  private val blocks = mutable.HashMap.empty[String, Long]
  private var blockBytes = 0L
  private var op = -1
  private val peak = mutable.LinkedHashMap.empty[Int, Long]
  private val residual = mutable.LinkedHashMap.empty[Int, Long]

  private def stage(id: Int) = stages.getOrElseUpdate(id, Stage(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty("graftbench.span")))
      .map(_.toInt).getOrElse(-1)
    jobs(e.jobId) = Job(e.jobId, span, e.time, e.stageIds)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    s.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockManagerId.executorId + "/" + info.blockId.name
      val bytes = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      blockBytes += bytes - blocks.getOrElse(key, 0L)
      if (bytes == 0L) blocks.remove(key) else blocks(key) = bytes
      if (op >= 0) peak(op) = math.max(peak.getOrElse(op, 0L), blockBytes)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case OpMarker(id, true) => synchronized { op = id; peak(id) = blockBytes }
    case OpMarker(id, false) => synchronized { residual(id) = blockBytes; op = -1 }
    case _ =>
  }

  def toJson: String = synchronized {
    val js = jobs.values.map(j =>
      s"[${j.id},${j.span},${(j.startMs - originMs) * 1000000L},[${j.stages.mkString(",")}]]")
    val ss = stages.values.map(s => s"[${s.id},${s.tasks},${s.runMs},${s.shuffleBytes}]")
    val bs = peak.keys.map(k => s"[$k,${peak(k)},${residual.getOrElse(k, -1L)}]")
    "\"jobs\":[" + js.mkString(",") + "],\"stages\":[" + ss.mkString(",") +
      "],\"blocks\":[" + bs.mkString(",") + "]"
  }
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
}
