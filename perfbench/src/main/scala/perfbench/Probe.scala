package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Spark-side counts of one span (a phase of one operation). */
final class Counts {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, shuffleRead, shuffleWrite, spill, recordsRead = 0L
  def +=(o: Counts): this.type = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; shuffleRead += o.shuffleRead
    shuffleWrite += o.shuffleWrite; spill += o.spill; recordsRead += o.recordsRead
    this
  }
}

/** Attributes every job, stage and task to the span named by the
  * `perfbench.span` local property at job submission. Local
  * properties are copied into each job when it is submitted (and
  * inherited by threads the operation starts, e.g. stream
  * executions), so attribution stays exact although listener events
  * arrive asynchronously. With `detailed` off it only counts input
  * records, which the end-to-end `rows_per_s` needs. */
final class Probe extends SparkListener {
  @volatile var detailed = false
  private val stageSpan = mutable.HashMap.empty[Int, String]
  private val counts = mutable.HashMap.empty[String, Counts]
  private var records = 0L

  private def of(span: String): Counts = counts.getOrElseUpdate(span, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Probe.SpanKey)))
      .getOrElse(Probe.Unattributed)
    e.stageInfos.foreach(s => stageSpan(s.stageId) = span)
    if (detailed) of(span).jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val span = stageSpan.remove(e.stageInfo.stageId).getOrElse(Probe.Unattributed)
    if (detailed) of(span).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      records += m.inputMetrics.recordsRead
      if (detailed) {
        val c = of(stageSpan.getOrElse(e.stageId, Probe.Unattributed))
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.diskBytesSpilled
        c.recordsRead += m.inputMetrics.recordsRead
      }
    }
  }

  /** Removes and returns the counts of `span` (empty if none). */
  def take(span: String): Counts = synchronized(counts.remove(span).getOrElse(new Counts))

  /** Input records read since the last call. */
  def takeRecords(): Long = synchronized { val r = records; records = 0L; r }
}

object Probe {
  val SpanKey = "perfbench.span"
  val Unattributed = "unattributed"
}

/** One timed interval; kept in memory, written out when the run ends. */
final case class Span(id: Int, parent: Int, opId: Int, name: String, startNs: Long, endNs: Long) {
  def json: String =
    s"""{"id":$id,"parent":$parent,"op_id":$opId,"name":${Json.str(name)},""" +
      s""""start_ns":$startNs,"end_ns":$endNs}"""
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}
