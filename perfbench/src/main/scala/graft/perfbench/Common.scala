package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** Minimal JSON writer for the run result (maps keep insertion order). */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def read(path: String): JsonNode = new ObjectMapper().readTree(new java.io.File(path))
}

object Stats {
  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9
}

/** Everything one run reports: operation accounting, end-to-end and
  * per-layer metrics, workload-specific detail, input properties and
  * output checks. Serialized for `run.py`, which prints the final line.
  */
final class Result {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  val endToEnd = mutable.LinkedHashMap.empty[String, Map[String, Any]]
  val detail = mutable.LinkedHashMap.empty[String, Any]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val checks = mutable.LinkedHashMap.empty[String, Boolean]
  var spans: Seq[Map[String, Any]] = Nil

  /** One counted operation: an exception is a failed operation, printed
    * on stderr, and yields None — never a timing.
    */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val out = body
      System.err.println(f"[perfbench] $what%s ${Stats.secs(t0, System.nanoTime())}%.3f s")
      Some(out)
    } catch {
      case NonFatal(e) =>
        failed += 1
        val msg = s"$what: ${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"
          .linesIterator.take(3).mkString(" | ")
        errors += msg
        System.err.println(s"[perfbench] FAILED $msg")
        None
    }
  }

  /** An output check: a false or throwing check is a failed operation. */
  def check(name: String)(body: => Boolean): Unit = {
    val ok = op(s"check $name")(body).getOrElse(false)
    checks(name) = ok
    if (!ok) {
      if (!errors.exists(_.startsWith(s"check $name"))) {
        failed += 1
        errors += s"check $name: outputs differ"
      }
      System.err.println(s"[perfbench] CHECK FAILED $name")
    }
  }

  def metric(name: String, value: Double, unit: String, samples: Int): Unit =
    endToEnd(name) = Map("value" -> value, "unit" -> unit, "samples" -> samples)

  def write(path: String): Unit =
    Files.writeString(Paths.get(path), Json(mutable.LinkedHashMap[String, Any](
      "attempted" -> attempted, "failed" -> failed, "errors" -> errors,
      "end_to_end" -> endToEnd, "detail" -> detail, "checks" -> checks,
      "layers" -> layers, "spans" -> spans)))
}

object Session {
  def apply(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Heap retained after full collections, in MiB. Three rounds with a
    * pause between them, so references the ContextCleaner drops after one
    * collection (shuffles, broadcasts) are gone by the last; the figure is
    * each heap pool's usage right after that last collection.
    */
  def heapAfterGcMb(): Double = {
    import scala.jdk.CollectionConverters._
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    System.gc()
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / (1024.0 * 1024.0)
  }

  /** Bytes under a local directory (0 when absent). */
  def du(path: String): Long = {
    val f = new java.io.File(path)
    if (!f.exists) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(c => du(c.getPath)).sum).getOrElse(0L)
  }
}

/** Turns the tracer's spans into the per-layer metrics. `loop` is the
  * span around the whole timed window; each layer span's numbers are
  * aggregated over every span of that name inside the loop.
  */
object Layers {
  val SpanNames = Seq("kafkalog.append", "sink.merge", "curation.batch",
    "plans.build", "plans.optimize", "exec")
  val Families = Seq("plans", "dedup", "text", "similarity", "cdc", "other")

  def fill(res: Result, extra: Map[String, Double]): Unit = {
    val (spans, incl) = Trace.report()
    val cores = Runtime.getRuntime.availableProcessors
    val loops = spans.filter(_.name == "loop")
    def wall(s: Trace.Span) = (s.end - s.start) / 1e9
    val loopWall = loops.map(wall).sum
    val loopC = new Trace.Counters
    loops.foreach(s => loopC.add(incl(s.id)))
    val loopDriver = loops.map(s => Trace.driverNanos(s, incl(s.id)) / 1e9).sum
    val loopCpu = loopC.execCpuNs / 1e9
    def put(k: String, v: Double) = res.layers(k) = v
    put("loop.wall_s", loopWall)
    put("loop.driver_s", loopDriver)
    put("loop.jobs", loopC.jobs.toDouble)
    put("loop.stages", loopC.stages.toDouble)
    put("loop.tasks", loopC.tasks.toDouble)
    put("loop.exec_run_s", loopC.execRunMs / 1e3)
    put("loop.exec_cpu_s", loopCpu)
    put("loop.gc_s", loopC.gcMs / 1e3)
    put("loop.input_bytes", loopC.inputBytes.toDouble)
    put("loop.output_bytes", loopC.outputBytes.toDouble)
    put("loop.shuffle_write_bytes", loopC.shuffleWriteBytes.toDouble)
    put("loop.spill_bytes", loopC.spillBytes.toDouble)
    put("loop.busy_frac", if (loopWall > 0) loopC.execRunMs / 1e3 / (loopWall * cores) else 0.0)

    def inLoop(s: Trace.Span) = loops.exists(l => l.traceId == s.traceId &&
      s.start >= l.start && s.end <= l.end)
    def group(name: String): (Double, Double, Trace.Counters) = {
      val ss = spans.filter(s => s.name == name && inLoop(s))
      val c = new Trace.Counters
      ss.foreach(s => c.add(incl(s.id)))
      (ss.map(wall).sum, ss.map(s => Trace.driverNanos(s, incl(s.id)) / 1e9).sum, c)
    }
    def share(a: Double, b: Double) = if (b > 0) a / b else 0.0
    SpanNames.foreach { n =>
      val (w, d, c) = group(n)
      put(s"$n.wall_share", share(w, loopWall))
      put(s"$n.driver_share", share(d, w))
      put(s"$n.jobs", c.jobs.toDouble)
      put(s"$n.stages", c.stages.toDouble)
      put(s"$n.tasks", c.tasks.toDouble)
      put(s"$n.cpu_share", share(c.execCpuNs / 1e9, loopCpu))
      put(s"$n.gc_share", share(c.gcMs / 1e3, loopC.gcMs / 1e3))
      put(s"$n.input_bytes", c.inputBytes.toDouble)
      put(s"$n.output_bytes", c.outputBytes.toDouble)
      put(s"$n.shuffle_write_bytes", c.shuffleWriteBytes.toDouble)
      put(s"$n.spill_bytes", c.spillBytes.toDouble)
      put(s"$n.busy_frac", share(c.execRunMs / 1e3, w * cores))
    }
    Families.foreach { f =>
      val (w, _, c) = group(s"family.$f")
      put(s"family.$f.wall_share", share(w, loopWall))
      put(s"family.$f.jobs", c.jobs.toDouble)
      put(s"family.$f.cpu_share", share(c.execCpuNs / 1e9, loopCpu))
      put(s"family.$f.shuffle_write_bytes", c.shuffleWriteBytes.toDouble)
      put(s"family.$f.spill_bytes", c.spillBytes.toDouble)
    }
    put("seams.blocks", loopC.rddBlocks.toDouble)
    put("seams.bytes", loopC.rddBlockBytes.toDouble)
    Seq("queue.wait_share", "functions.extjson_bytes", "sink.write_amp",
      "curation.accept_ratio", "curation.index_read_amp", "curation.index_entries")
      .foreach(k => put(k, extra.getOrElse(k, 0.0)))

    // the raw trace: every span with its inclusive counters
    res.spans = spans.map { s =>
      val c = incl(s.id)
      Map[String, Any]("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "trace" -> s.traceId, "start_ns" -> s.start, "end_ns" -> s.end,
        "wall_s" -> wall(s), "driver_s" -> Trace.driverNanos(s, c) / 1e9,
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "exec_run_s" -> c.execRunMs / 1e3, "exec_cpu_s" -> c.execCpuNs / 1e9,
        "gc_s" -> c.gcMs / 1e3, "input_bytes" -> c.inputBytes,
        "output_bytes" -> c.outputBytes,
        "shuffle_write_bytes" -> c.shuffleWriteBytes,
        "spill_bytes" -> c.spillBytes, "rdd_blocks" -> c.rddBlocks,
        "rdd_block_bytes" -> c.rddBlockBytes)
    }
  }
}
