package graft.perfbench

import scala.collection.mutable

import org.apache.spark.{ListenerBusAccess, SparkContext}
import org.apache.spark.scheduler._

/** In-memory span tracer plus a SparkListener that attributes Spark work
  * to spans.
  *
  * A span is (id, name, parent, trace id, start, end). While a span is
  * open, its id is the driver thread's `perfbench.span` local property,
  * so every job submitted inside it carries the id; the listener charges
  * the job's stages and tasks to that span. Counters are exclusive per
  * span; [[Trace.report]] rolls them up to inclusive values along the
  * parent links. When tracing is off, [[Trace.span]] only runs its body.
  */
object Trace {
  final case class Span(id: Int, name: String, parent: Int, traceId: Long,
                        start: Long, var end: Long = -1L)

  /** Exclusive Spark counters of one span. */
  final class Counters {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var execRunMs = 0L; var execCpuNs = 0L; var gcMs = 0L
    var inputBytes = 0L; var outputBytes = 0L
    var shuffleWriteBytes = 0L; var spillBytes = 0L
    var rddBlocks = 0L; var rddBlockBytes = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
    def add(o: Counters): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks
      execRunMs += o.execRunMs; execCpuNs += o.execCpuNs; gcMs += o.gcMs
      inputBytes += o.inputBytes; outputBytes += o.outputBytes
      shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
      rddBlocks += o.rddBlocks; rddBlockBytes += o.rddBlockBytes
      jobIntervals ++= o.jobIntervals
    }
  }

  val Property = "perfbench.span"
  private var sc: SparkContext = _
  private var listener: SpanListener = _
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var traceSeq = 0L

  def enabled: Boolean = listener != null

  def enable(context: SparkContext): Unit = {
    sc = context
    listener = new SpanListener
    sc.addSparkListener(listener)
  }

  /** Start a new trace id: each top-level unit of work gets its own. */
  def newTrace(): Unit = traceSeq += 1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption
      val s = Span(spans.size, name, parent.map(_.id).getOrElse(-1),
        traceSeq, System.nanoTime())
      spans += s
      stack.push(s)
      sc.setLocalProperty(Property, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        stack.pop()
        sc.setLocalProperty(Property, parent.map(_.id.toString).orNull)
      }
    }

  /** Per-span inclusive counters, keyed by span id, after the listener
    * bus has delivered every pending event.
    */
  def report(): (Seq[Span], Map[Int, Counters]) = {
    ListenerBusAccess.drain(sc)
    val excl = listener.snapshot()
    val incl = spans.map(s => s.id -> new Counters).toMap
    spans.foreach { s =>
      excl.get(s.id).foreach { c =>
        var p = s.id
        while (p >= 0) { incl(p).add(c); p = spans(p).parent }
      }
    }
    (spans.toSeq, incl)
  }

  /** Wall time of `s` not covered by any job charged to it. */
  def driverNanos(s: Span, c: Counters): Long = {
    val ivs = c.jobIntervals.map { case (a, b) =>
      (math.max(a, s.start), math.min(b, s.end)) }.filter(i => i._2 > i._1)
      .sortBy(_._1)
    var covered = 0L; var curS = 0L; var curE = -1L
    ivs.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    (s.end - s.start) - covered
  }

  private final class SpanListener extends SparkListener {
    private val bySpan = mutable.HashMap.empty[Int, Counters]
    private val jobSpan = mutable.HashMap.empty[Int, Int]
    private val jobStart = mutable.HashMap.empty[Int, Long]
    private val stageSpan = mutable.HashMap.empty[Int, Int]
    private val rddSpan = mutable.HashMap.empty[Int, Int]
    // job events carry wall-clock millis; spans use nanoTime — offset once
    private val clockOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

    private def counters(span: Int) = bySpan.getOrElseUpdate(span, new Counters)

    def snapshot(): Map[Int, Counters] = synchronized(bySpan.toMap)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(Property)))
      // an RDD belongs to the first job whose stages include it (-1 when
      // that job ran outside every span): that job computes and stores
      // it; later jobs only read it back
      val owner = id.map(_.toInt).getOrElse(-1)
      e.stageInfos.foreach(_.rddInfos.foreach(r => rddSpan.getOrElseUpdate(r.id, owner)))
      id.foreach { s =>
        val span = s.toInt
        jobSpan(e.jobId) = span
        jobStart(e.jobId) = e.time * 1000000L + clockOffsetNs
        counters(span).jobs += 1
        e.stageIds.foreach(stageSpan(_) = span)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobSpan.remove(e.jobId).foreach { span =>
        val t0 = jobStart.remove(e.jobId).getOrElse(0L)
        counters(span).jobIntervals += ((t0, e.time * 1000000L + clockOffsetNs))
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageSpan.get(e.stageInfo.stageId).foreach(counters(_).stages += 1)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageSpan.get(e.stageId).foreach { span =>
        val c = counters(span)
        c.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          c.execRunMs += m.executorRunTime
          c.execCpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.inputBytes += m.inputMetrics.bytesRead
          c.outputBytes += m.outputMetrics.bytesWritten
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

    /** RDD blocks stored (seams, persists, checkpoints): charged to the
      * span of the job that computed the RDD, whenever the event arrives.
      */
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
      val info = e.blockUpdatedInfo
      if (info.storageLevel.isValid) info.blockId.asRDDId.flatMap(b => rddSpan.get(b.rddId))
        .filter(_ >= 0)
        .foreach { span =>
          val c = counters(span)
          c.rddBlocks += 1
          c.rddBlockBytes += info.memSize + info.diskSize
        }
    }
  }
}
