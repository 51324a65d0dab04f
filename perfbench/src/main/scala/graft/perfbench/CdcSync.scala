package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Cdc
import graft.plans.PipelineSinks
import graft.streaming.{ChangeStreamJob, KafkaLog, MessageConsumer}

/** route81's round trip as one daemon: op log → `ChangeStreamJob.produce`
  * (Extended-JSON envelopes) → `KafkaLog.appendTo` → consumer resumes from
  * its saved offsets, decodes with `MessageConsumer.classify`, folds to
  * the last op per key and `PipelineSinks.mergeIntoParquet`s the result
  * into the target. Deletes land as tombstone rows (`deleted = true`), so
  * the live target is `target WHERE NOT deleted`.
  *
  * Set-up bootstraps the target from the history part of the op log;
  * one resumed tick on a spare bootstrapped target follows, untimed.
  * The timed window has two phases:
  *  - catch-up: the daemon restarts behind a backlog and drains it in
  *    ticks of at most `tick_max` ops (closed loop);
  *  - live: ops are created on a fixed schedule at `rate` ops/s whatever
  *    the daemon's speed (open loop) and applied by a processing-time
  *    trigger every `interval_s`, for `live_ticks` ticks; each op's lag runs
  *    from its scheduled creation to the commit of the merge that applied
  *    it. Every tick applies a fixed op range, so job counts depend only on
  *    the seed.
  */
object CdcSync {
  private final class Daemon(spark: SparkSession, ops: DataFrame, dir: String,
                             partitions: Int, trace: Boolean) {
    val log = s"$dir/log"
    val target = s"$dir/target"
    private var offsets = Map.empty[(String, Int), Long]
    var messageBytes = 0L
    var targetBytes = 0L

    private def slice(lo: Long, hi: Long) =
      ops.filter(col("event_id") >= lo && col("event_id") < hi)

    /** Produce ops [lo, hi) to the log, then consume and merge. */
    def tick(lo: Long, hi: Long): Unit = {
      val before = if (trace) Session.du(log) else 0L
      Trace.span("kafkalog.append") {
        KafkaLog.appendTo(spark, log, ChangeStreamJob.produce(slice(lo, hi)),
          partitions, "seq")
      }
      if (trace) messageBytes += Session.du(log) - before
      Trace.span("sink.merge")(consume())
      if (trace) targetBytes += Session.du(target)
    }

    private def consume(): Unit = {
      import spark.implicits._
      val saved = offsets.toSeq.map { case ((t, p), o) => (t, p, o) }
        .toDF("topic", "partition", "__from")
      val fresh = spark.read.schema(KafkaLog.recordSchema).parquet(log)
        .join(broadcast(saved), Seq("topic", "partition"), "left")
        .filter(col("offset") >= coalesce(col("__from"), lit(0L)))
        .drop("__from")
      val next = fresh.groupBy("topic", "partition")
        .agg(max(col("offset")) + 1).collect()
        .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2))
      val upTo = next.toSeq.map { case ((t, p), o) => (t, p, o) }
        .toDF("topic", "partition", "__to")
      val folded = MessageConsumer.classify(
          fresh.join(broadcast(upTo), Seq("topic", "partition"))
            .filter(col("offset") < col("__to")))
        .groupBy(col("target_id"))
        .agg(max_by(struct(col("action"), col("__root").as("root")),
          col("offset")).as("last"))
        .select(col("target_id").cast("long").as("user_id"),
          col("last.root.value.$numberDouble").cast("double").as("value"),
          col("last.root.props").as("props"),
          (col("last.action") === "delete").as("deleted"))
      PipelineSinks.mergeIntoParquet(spark, folded, target, "user_id")
      offsets = offsets ++ next
    }
  }

  def run(spark: SparkSession, inDir: String, work: String, res: Result): Map[String, Double] = {
    val p = Json.read(s"$inDir/params.json")
    val (history, backlog) = (p.get("history").asLong, p.get("backlog").asLong)
    val tickMax = p.get("tick_max").asLong
    val rate = p.get("rate").asDouble
    val interval = p.get("interval_s").asDouble
    val liveTickCount = p.get("live_ticks").asInt
    val partitions = p.get("partitions").asInt
    val setups = p.get("setups").asInt
    val trace = Trace.enabled
    val ops = spark.read.parquet(s"$inDir/oplog.parquet")

    // set-up: bootstrap the target from history, in a fresh dir each time
    val ready = mutable.ArrayBuffer.empty[Daemon]
    val setupTimes = (1 to setups).flatMap { i =>
      val d = new Daemon(spark, ops, s"$work/cdc$i", partitions, trace)
      val t0 = System.nanoTime()
      res.op(s"setup $i")(d.tick(0, history)).map { _ =>
        ready += d
        Stats.secs(t0, System.nanoTime())
      }
    }
    if (ready.isEmpty) return Map.empty
    val daemon = ready.last
    // warm-up: one resumed tick (saved offsets, non-empty target) on a
    // spare bootstrapped daemon, so the timed catch-up does not pay for
    // the first compilation of that path
    ready.init.headOption.foreach { spare =>
      res.op("warm-up tick")(spare.tick(history, history + tickMax))
    }
    daemon.messageBytes = 0L
    daemon.targetBytes = 0L

    val t0 = System.nanoTime()
    var applied = history
    val catchupTicks = mutable.ArrayBuffer.empty[Double]
    val lags = mutable.ArrayBuffer.empty[Double]
    val waits = mutable.ArrayBuffer.empty[Double]
    var liveTicks = 0
    var lateness = 0.0
    Trace.newTrace()
    Trace.span("loop") {
      // catch-up: drain the backlog in bounded ticks
      val end = history + backlog
      var ok = true
      while (applied < end && ok) {
        val hi = math.min(applied + tickMax, end)
        val s0 = System.nanoTime()
        ok = res.op(s"catch-up tick $applied")(daemon.tick(applied, hi)).isDefined
        if (ok) { catchupTicks += Stats.secs(s0, System.nanoTime()); applied = hi }
      }
      val catchupS = Stats.secs(t0, System.nanoTime())
      res.detail("catchup_s") = catchupS
      res.detail("catchup_events_per_s") = (applied - history) / catchupS
      // live: ops are created on a fixed schedule at `rate`; a
      // processing-time trigger fires every `interval` and applies the ops
      // created during the previous interval (at once if it is late).
      val liveStart = System.nanoTime()
      def sched(j: Long) = liveStart + (j * 1e9 / rate).toLong
      val perTick = (rate * interval).toLong
      while (ok && liveTicks < liveTickCount) {
        val lo = liveTicks * perTick
        val hi = lo + perTick
        val fire = sched(hi)
        while (System.nanoTime() < fire)
          Thread.sleep(math.max(1L, (fire - System.nanoTime()) / 1000000L))
        val start = System.nanoTime()
        lateness = math.max(lateness, Stats.secs(fire, start))
        ok = res.op(s"live tick $liveTicks")(
          daemon.tick(history + backlog + lo, history + backlog + hi)).isDefined
        if (ok) {
          val commit = System.nanoTime()
          (lo until hi).foreach { j =>
            waits += Stats.secs(sched(j), start)
            lags += Stats.secs(sched(j), commit)
          }
          applied = history + backlog + hi
          liveTicks += 1
        }
      }
    }
    val heap = Session.heapAfterGcMb()

    if (catchupTicks.nonEmpty && lags.nonEmpty) {
      res.metric("setup_s", Stats.median(setupTimes), "s", setupTimes.size)
      // the drain rate over the whole catch-up phase: host speed drifts
      // over tens of seconds, and a whole-phase rate follows it smoothly
      // where the median tick would jump between fast and slow stretches
      res.metric("throughput_per_s", res.detail("catchup_events_per_s").asInstanceOf[Double],
        "1/s", catchupTicks.size)
      // every op of one tick commits at the same instant: the lag
      // distribution has one independent sample per live tick
      res.metric("latency_p50_s", Stats.median(lags.toSeq), "s", liveTicks)
      res.metric("latency_tail_s", Stats.quantile(lags.toSeq, 0.99), "s", liveTicks)
      res.metric("heap_after_gc_mb", heap, "MB", 1)
      res.detail("sync_lag_p50_s") = Stats.median(lags.toSeq)
      res.detail("sync_lag_p99_s") = Stats.quantile(lags.toSeq, 0.99)
      res.detail("catchup_ticks") = catchupTicks.size
      res.detail("catchup_tick_p50_s") = Stats.median(catchupTicks.toSeq)
      res.detail("live_events") = lags.size
      res.detail("live_ticks") = liveTicks
      res.detail("live_rate_per_s") = rate
      res.detail("queue_wait_p50_s") = Stats.median(waits.toSeq)
      res.detail("trigger_late_max_s") = lateness
    }
    res.detail("applied_ops") = applied

    // output check, outside the timed window: the target equals the
    // latest state of every op applied
    res.check("cdc_target_equals_latest_state") {
      val got = spark.read.parquet(daemon.target).filter(!col("deleted"))
        .select("user_id", "value", "props")
      val want = Cdc.latestState(ops.filter(col("event_id") < applied))
        .select("user_id", "value", "props")
      // both sides hold at most one row per key: compare them as
      // multisets on the driver
      def bag(df: DataFrame) = df.collect().toSeq.groupMapReduce(identity)(_ => 1)(_ + _)
      bag(got) == bag(want)
    }
    if (!trace) Map.empty
    else {
      // Extended-JSON bytes the timed window encoded
      val encoded = ChangeStreamJob.produce(ops.filter(col("event_id") >= history &&
          col("event_id") < applied))
        .agg(sum(octet_length(col("value")))).head().getLong(0)
      Map("functions.extjson_bytes" -> encoded.toDouble,
        "sink.write_amp" ->
          (if (daemon.messageBytes > 0) daemon.targetBytes.toDouble / daemon.messageBytes
           else 0.0),
        "queue.wait_share" ->
          (if (lags.nonEmpty) waits.sum / lags.sum else 0.0))
    }
  }
}
