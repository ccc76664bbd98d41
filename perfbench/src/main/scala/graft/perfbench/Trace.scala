package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work attributed to one span. */
final class Counters {
  var jobs, stages, tasks = 0L
  var cpuNs, runMs, schedMs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill, inputBytes, inputRecords = 0L
  /** Task run intervals, epoch ms. */
  val busy = mutable.ArrayBuffer.empty[(Long, Long)]
}

final case class Span(id: Int, name: String, layer: String, parent: Int, op: Int,
                      startNs: Long, startMs: Long) {
  var endNs = 0L
  var endMs = 0L
  val c = new Counters
  /** Named facts recorded by the benchmark (files planned, bytes, ...). */
  val facts = mutable.LinkedHashMap.empty[String, Double]
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory for the traced run. Every layer call the benchmark
  * makes opens a child span of its op; Spark jobs are attributed to the
  * span through the job group set around the call, or (for jobs started on
  * other threads, e.g. a streaming micro-batch) to the innermost open span.
  * With tracing off, `span` only runs its body and nothing is recorded. */
class Tracer(sc: SparkContext, val on: Boolean) extends SparkListener {
  val spans = mutable.ArrayBuffer.empty[Span]
  /** Ids stay unique across [[clear]], so a stale job group never matches. */
  private val byId = mutable.HashMap.empty[Int, Span]
  private var nextId = 0
  private val open = mutable.Stack.empty[Span]
  private var lastRoot: Option[Span] = None
  private val stageSpan = mutable.HashMap.empty[Int, Span]
  private val GroupPrefix = "perfbench-span-"

  if (on) sc.addSparkListener(this)

  def span[T](name: String, layer: String, op: Int)(body: => T): T =
    if (!on) body
    else {
      val s = synchronized {
        val sp = Span(nextId, name, layer, open.headOption.fold(-1)(_.id), op,
          System.nanoTime(), System.currentTimeMillis())
        nextId += 1
        spans += sp
        byId(sp.id) = sp
        if (open.isEmpty) lastRoot = Some(sp)
        open.push(sp)
        sp
      }
      sc.setJobGroup(GroupPrefix + s.id, name)
      try body
      finally {
        org.apache.spark.PerfbenchBus.drain(sc)
        synchronized {
          s.endNs = System.nanoTime()
          s.endMs = System.currentTimeMillis()
          open.pop()
          open.headOption match {
            case Some(p) => sc.setJobGroup(GroupPrefix + p.id, p.name)
            case None => sc.clearJobGroup()
          }
        }
      }
    }

  /** Record a fact on the innermost open span, or on the last op's span
    * when called after its clock stopped. */
  def fact(key: String, v: Double): Unit =
    if (on) synchronized {
      open.headOption.orElse(lastRoot).foreach(s => s.facts(key) = s.facts.getOrElse(key, 0.0) + v)
    }

  def stop(): Unit = if (on) sc.removeSparkListener(this)

  def clear(): Unit = synchronized { spans.clear(); byId.clear(); lastRoot = None }

  private def spanOf(props: java.util.Properties): Option[Span] = {
    val g = Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.filter(_.startsWith(GroupPrefix)).flatMap(x => byId.get(x.stripPrefix(GroupPrefix).toInt))
      .orElse(open.headOption)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    spanOf(e.properties).foreach { s =>
      s.c.jobs += 1
      e.stageIds.foreach(id => stageSpan(id) = s)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).orElse(spanOf(e.properties)).foreach(_.c.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).orElse(open.headOption).foreach { s =>
      val c = s.c
      c.tasks += 1
      val info = e.taskInfo
      c.busy += ((info.launchTime, info.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.runMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRecords += m.inputMetrics.recordsRead
        val duration = info.finishTime - info.launchTime
        c.schedMs += math.max(0L, duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - (if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L))
      }
    }
  }
}

object Tracer {
  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter { case (a, b) => b > a }
      .sortBy(_._1).foreach { case (a, b) =>
        if (a > curE) {
          if (curE > curS) total += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
    if (curE > curS) total += curE - curS
    total
  }
}
