package graftbench

import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.{col, when}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

import graft.sources.{CdcFormats, LogSource}
import graft.streaming.CdcStream

/** `cdc-stream`: a seeded Debezium change log, written to a
  * 4-partition graft-log during set-up, drained by the kfk04 pipeline
  * (decode → offset*4+kindRank version → CdcStream.normalize →
  * upsertSink). A fixed maxRecordsPerTrigger makes batch boundaries a
  * function of offsets alone. The streaming commit path, the state
  * store and the sink's writes dominate; executor work is light.
  *
  * The log is loaded in full before the query starts: appending while
  * the query runs lets one append straddle two micro-batches (README).
  * Each pass of timed work drains the whole log on fresh state and
  * checkpoint directories; its first batches are warm-up.
  */
object CdcWorkload extends Workload {
  val Partitions = 4
  val Keys = 20000
  val SegmentRecords = 2500
  val BatchEvents = 5000
  val WarmupBatches = 4

  /** Timed micro-batches for a run of `seconds`: a batch takes ~0.8 s. */
  def timedBatches(seconds: Int): Int = math.max(10, seconds * 5 / 4)

  val physical: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType)))

  private var events: Vector[Change] = Vector.empty
  private var log = ""
  private var lastState = ""

  def setUp(c: Ctx): Unit = {
    events = ChangeLog.generate(c.seed, Keys,
      (WarmupBatches + timedBatches(c.seconds)) * BatchEvents)
    log = c.dir("log")
    val start = Clock.ms()
    write(log, events)
    c.tracer.counts.put("sources.append_ms", Clock.ms() - start)
  }

  /** Append the events as segments of a `Partitions`-way log, a key's
    * events in one partition in event order.
    */
  def write(log: String, events: Seq[Change]): Unit =
    events.groupBy(e => (e.key % Partitions).toInt).foreach { case (p, evs) =>
      evs.grouped(SegmentRecords).foreach(seg => LogSource.append(log, p, seg.map(_.json)))
    }

  def timed(c: Ctx): Outcome = {
    lastState = c.freshDir("state")
    val batches = drain(c, log, lastState, BatchEvents)
    val timed = batches.filter(_.batchId >= WarmupBatches)
    c.attempted += timed.size
    timed.foreach { p =>
      val start = Instant.parse(p.timestamp).toEpochMilli.toDouble
      val end = start + p.durationMs.get("triggerExecution").toDouble
      c.timedOp(start, end, "batch", ok = true)
      c.tracer.addOp("batch", start, end, Phases.flatMap { case (key, layer) =>
        Option(p.durationMs.get(key)).map(ms => (layer, key, ms.toDouble)) })
    }
    if (c.tracer.on) traceCounts(c, timed)
    val wallS = (c.ops.last.endMs - c.ops.head.startMs) / 1000
    Outcome(wallS, timed.map(_.numInputRows).sum,
      Map("events" -> events.size, "keys" -> Keys, "partitions" -> Partitions,
        "batch_events" -> BatchEvents, "warmup_batches" -> WarmupBatches,
        "timed_batches" -> timed.size))
  }

  /** Micro-batch phases in the order the engine runs them, and the
    * layer each belongs to.
    */
  private val Phases = Seq("latestOffset" -> "sources", "walCommit" -> "streaming",
    "getBatch" -> "sources", "queryPlanning" -> "streaming",
    "addBatch" -> "streaming", "commitOffsets" -> "streaming")

  /** Run the kfk04 pipeline over `log` until it is drained; return the
    * progress of every batch that read input, in order.
    */
  def drain(c: Ctx, log: String, state: String, batchEvents: Int): Seq[StreamingQueryProgress] = {
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    c.spark.streams.addListener(listener)
    val total = events.size.toLong
    c.op("drain", timed = false) {
      val src = c.spark.readStream.format("graft-log").option("path", log)
        .option("maxRecordsPerTrigger", batchEvents.toString).load()
      val parsed = CdcFormats.debeziumJson(src.select(col("offset"), col("value")),
        col("value"), physical).drop("value")
      // A `u` explodes to a (-U, +U) pair at one offset: the kind rank
      // breaks the tie so the version totally orders a key's events.
      val kindRank = when(col("__rowkind") === "+I", 0)
        .when(col("__rowkind") === "-U", 1)
        .when(col("__rowkind") === "+U", 2).otherwise(3)
      val norm = CdcStream.normalize(
        parsed.withColumn("__version", col("offset") * 4 + kindRank),
        Seq("o_orderkey"), "__version")
      val q = CdcStream.upsertSink(norm, state, c.freshDir("checkpoint")).start()
      try q.processAllAvailable() finally q.stop()
      // Progress reaches listeners on the bus after the batch ends.
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (progress.asScala.map(_.numInputRows).sum < total && System.nanoTime() < deadline)
        Thread.sleep(20)
    }
    c.spark.streams.removeListener(listener)
    progress.asScala.toSeq.filter(_.numInputRows > 0).sortBy(_.batchId)
  }

  private val OffsetEntry = "\"(\\d+)\":(\\d+)".r
  private def offsets(json: String): Map[Int, Long] =
    OffsetEntry.findAllMatchIn(Option(json).getOrElse(""))
      .map(m => m.group(1).toInt -> m.group(2).toLong).toMap

  private def traceCounts(c: Ctx, batches: Seq[StreamingQueryProgress]): Unit = {
    def sum(key: String) = batches.map(p => Option(p.durationMs.get(key)).map(_.toDouble)
      .getOrElse(0.0)).sum
    val t = c.tracer
    t.add("sources.latest_offset_ms", sum("latestOffset"))
    t.add("sources.get_batch_ms", sum("getBatch"))
    t.add("sources.rows_per_batch", batches.map(_.numInputRows).sum.toDouble / batches.size)
    t.add("sources.backlog_records", batches.map { p =>
      val latest = offsets(p.sources.head.latestOffset)
      val end = offsets(p.sources.head.endOffset)
      latest.map { case (k, v) => v - end.getOrElse(k, 0L) }.sum
    }.sum.toDouble / batches.size)
    t.add("streaming.add_batch_ms", sum("addBatch"))
    t.add("streaming.query_planning_ms", sum("queryPlanning"))
    t.add("streaming.wal_commit_ms", sum("walCommit"))
    t.add("streaming.commit_offsets_ms", sum("commitOffsets"))
    val st = batches.flatMap(_.stateOperators.headOption)
    t.add("state.rows_total", st.last.numRowsTotal.toDouble)
    t.add("state.rows_updated", st.map(_.numRowsUpdated).sum.toDouble)
    t.add("state.memory_bytes", st.last.memoryUsedBytes.toDouble)
    t.add("state.commit_ms", st.map(_.commitTimeMs).sum.toDouble)
    val (bytes, files) = Main.treeSize(lastState)
    t.add("sink.delta_bytes", bytes.toDouble)
    t.add("sink.delta_files", files.toDouble)
  }

  def check(c: Ctx): Unit = c.check("readState = keep-latest fold") {
    val start = Clock.ms()
    val got = CdcStream.readState(c.spark, lastState, Seq("o_orderkey"), "__version")
      .select("o_orderkey", "o_orderstatus", "o_totalprice").collect()
      .map(r => r.getLong(0) -> Order(r.getLong(0), r.getString(1), r.getDouble(2))).toMap
    c.tracer.add("sink.read_state_ms", Clock.ms() - start)
    val want = ChangeLog.fold(events)
    if (got == want) None
    else Some(s"${got.size} keys read, ${want.size} expected; " +
      s"${(want.toSet diff got.toSet).size} expected entries missing or different")
  }
}
