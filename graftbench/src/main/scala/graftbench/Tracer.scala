package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval at a layer boundary. Spans of one operation share
  * `op`; `parent` is the span that caused it (0 for an operation).
  */
final case class Span(id: Long, op: Long, parent: Long, layer: String,
                      name: String, start: Double, end: Double)

/** Records spans and per-layer counts from outside the engine, through
  * Spark's public listeners and the JVM's MXBeans. Off until `enable`:
  * end-to-end numbers come from untraced work, and a traced run
  * repeats that work with tracing on.
  */
class Tracer(spark: SparkSession) {
  import Tracer._

  @volatile private var active = false
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]
  private val curOp = ThreadLocal.withInitial[java.lang.Long](() => 0L)
  private val curSpan = ThreadLocal.withInitial[java.lang.Long](() => 0L)
  private val jobs = new ConcurrentHashMap[Int, Job]
  private val stageSubmit = new ConcurrentHashMap[Int, Double]
  private val tasks = new ConcurrentLinkedQueue[Task]
  private val queries = new ConcurrentLinkedQueue[Qe]
  /** Counts a workload reports itself (append time, store sizes...). */
  val counts = new ConcurrentHashMap[String, Double]

  def on: Boolean = active

  def enable(): Unit = if (!active) {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    active = true
  }

  /** Start an operation on this thread; returns its id (0 when off). */
  def beginOp(): Long =
    if (!active) 0L
    else {
      val id = ids.incrementAndGet()
      curOp.set(id); curSpan.set(id)
      id
    }

  def endOp(id: Long, name: String, start: Double, end: Double): Unit =
    if (id != 0L) {
      spans.add(Span(id, id, 0L, "operation", name, start, end))
      curOp.set(0L); curSpan.set(0L)
    }

  /** A span around `body`, a child of this thread's innermost span. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!active || curOp.get == 0L) body
    else {
      val parent = curSpan.get
      val id = ids.incrementAndGet()
      curSpan.set(id)
      val start = Clock.ms()
      try body
      finally {
        spans.add(Span(id, curOp.get, parent, layer, name, start, Clock.ms()))
        curSpan.set(parent)
      }
    }

  /** An operation known only after the fact (a micro-batch from its
    * progress report), with child spans laid end to end in order.
    */
  def addOp(name: String, start: Double, end: Double,
            children: Seq[(String, String, Double)]): Unit =
    if (active) {
      val id = ids.incrementAndGet()
      spans.add(Span(id, id, 0L, "operation", name, start, end))
      children.foldLeft(start) { case (t, (layer, child, ms)) =>
        spans.add(Span(ids.incrementAndGet(), id, id, layer, child, t, t + ms))
        t + ms
      }
    }

  /** Record the planning phases a frame's construction already ran
    * (analysis happens when a DataFrame is built, before any action).
    */
  def analyzed(qe: QueryExecution): Unit =
    if (active) queries.add(Qe(Qe.phases(qe), 0, 0, 0L, 0L))

  def add(key: String, v: Double): Unit = if (active) counts.merge(key, v, _ + _)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val label = props.flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      val drain = props.exists(_.getProperty("spark.jobGroup.id") == DrainGroup)
      jobs.put(e.jobId, Job(e.jobId, e.time.toDouble, Double.NaN,
        e.stageInfos.map(_.stageId), label, drain))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(j => jobs.put(e.jobId, j.copy(end = e.time.toDouble)))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSubmit.put(e.stageInfo.stageId,
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()).toDouble)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(Task(e.stageId, e.taskInfo.launchTime.toDouble,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.recordsRead, m.peakExecutionMemory))
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      queries.add(Qe.of(qe))
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Spans and per-layer metrics of the traced work; raw spans go to
    * the run record and self time per layer is computed from them.
    */
  def report(): Map[String, Any] = {
    if (!active) return Map.empty
    awaitListenerBus(spark)
    val recorded = spans.asScala.toSeq
    val ops = recorded.filter(_.layer == "operation")
    def opAt(t: Double): Option[Span] = ops.find(o => o.start <= t && t <= o.end)
    val js = jobs.values.asScala.toSeq.filter(j => !j.drain && opAt(j.start).isDefined)
      .sortBy(_.id)
    val stageIds = js.flatMap(_.stages).toSet
    val ts = tasks.asScala.toSeq.filter(t => stageIds(t.stage))
    val qs = queries.asScala.toSeq.filter(q => opAt(q.start).isDefined)

    // Plan phases, curation labels and jobs become child spans of the
    // innermost recorded span that covers their start.
    val derived = mutable.ArrayBuffer.empty[Span]
    def parentOf(op: Span, t: Double): Long = (recorded ++ derived)
      .filter(s => s.op == op.id && s.start <= t && t <= s.end && s.layer != "scheduler")
      .sortBy(s => s.end - s.start).headOption.map(_.id).getOrElse(op.id)
    for (q <- qs; (phase, (s, e)) <- q.phases; op <- opAt(s))
      derived += Span(ids.incrementAndGet(), op.id, parentOf(op, s), "plans", phase, s, e)
    for (((op, label), group) <- js.filter(_.label.startsWith("ic:"))
           .groupBy(j => (opAt(j.start).get, j.label)))
      derived += Span(ids.incrementAndGet(), op.id, op.id, "curation", label,
        group.map(_.start).min, group.map(j => endOf(j)).max)
    for (j <- js; op <- opAt(j.start))
      derived += Span(ids.incrementAndGet(), op.id, parentOf(op, j.start), "scheduler",
        s"job ${j.id}", j.start, endOf(j))
    val all = recorded ++ derived

    val opCount = math.max(ops.size, 1).toDouble
    val gap = ops.map { o =>
      val busy = js.filter(j => opAt(j.start).contains(o))
        .map(j => (math.max(j.start, o.start), math.min(endOf(j), o.end)))
      (o.end - o.start) - unionLength(busy)
    }.sum
    def phase(name: String) = qs.flatMap(_.phases.get(name)).map { case (s, e) => e - s }.sum
    def layerMs(layer: String, name: String) =
      recorded.filter(s => s.layer == layer && s.name == name).map(s => s.end - s.start).sum
    // "ic: append <store>" labels the store writes; one group for all.
    val labelMs = js.groupBy(j => if (j.label.startsWith("ic: append")) "ic: append" else j.label)
      .map { case (l, g) => l -> g.map(j => endOf(j) - j.start).sum }
    val rowsOut = qs.map(_.rowsOut).sum
    val m = mutable.LinkedHashMap[String, (Double, String)](
      "catalog.build_ms" -> (layerMs("catalog", "build"), "ms"),
      "catalog.build_jobs" -> (js.count(j => recorded.exists(s =>
        s.layer == "catalog" && s.start <= j.start && j.start <= s.end)).toDouble, "count"),
      "plans.analysis_ms" -> (phase("analysis"), "ms"),
      "plans.optimization_ms" -> (phase("optimization"), "ms"),
      "plans.planning_ms" -> (phase("planning"), "ms"),
      "scheduler.jobs" -> (js.size.toDouble, "count"),
      "scheduler.stages" -> (stageIds.size.toDouble, "count"),
      "scheduler.tasks" -> (ts.size.toDouble, "count"),
      "scheduler.job_ms" -> (js.map(j => endOf(j) - j.start).sum, "ms"),
      "scheduler.driver_gap_ms" -> (gap, "ms"),
      "scheduler.task_launch_wait_ms" -> (ts.map(t =>
        math.max(0.0, t.launch - stageSubmit.getOrDefault(t.stage, t.launch))).sum, "ms"),
      "executor.run_ms" -> (ts.map(_.runMs).sum.toDouble, "ms"),
      "executor.cpu_ms" -> (ts.map(_.cpuNs).sum / 1e6, "ms"),
      "executor.gc_ms" -> (ts.map(_.gcMs).sum.toDouble, "ms"),
      "executor.shuffle_read_bytes" -> (ts.map(_.shuffleRead).sum.toDouble, "bytes"),
      "executor.shuffle_write_bytes" -> (ts.map(_.shuffleWrite).sum.toDouble, "bytes"),
      "executor.spill_bytes" -> (ts.map(_.spill).sum.toDouble, "bytes"),
      "executor.input_records" -> (ts.map(_.inputRecords).sum.toDouble, "count"),
      "executor.peak_exec_memory_bytes" ->
        (ts.map(_.peakMemory).foldLeft(0L)(math.max).toDouble, "bytes"),
      "operators.exchanges" -> (qs.map(_.exchanges).sum.toDouble, "count"),
      "operators.broadcasts" -> (qs.map(_.broadcasts).sum.toDouble, "count"),
      "operators.rows_in_per_row_out" ->
        (qs.map(_.rowsIn).sum.toDouble / math.max(rowsOut, 1L), "ratio"))
    WorkloadCounts.foreach { case (k, u) =>
      m(k) = (counts.getOrDefault(k, 0.0), u)
    }
    val curation = js.exists(_.label.startsWith("ic:"))
    m("curation.jobs_per_epoch") = (if (curation) js.size / opCount else 0.0, "count")
    m("curation.tasks_per_epoch") = (if (curation) ts.size / opCount else 0.0, "count")
    CurationLabels.foreach { l =>
      m(s"curation.job_ms.${l.stripPrefix("ic: ").replace('-', '_')}") =
        (labelMs.getOrElse(l, 0.0), "ms")
    }
    m("curation.job_ms.other") = (labelMs.filter { case (l, _) =>
      l.startsWith("ic:") && !CurationLabels.contains(l) }.values.sum, "ms")
    jvm().foreach { case (k, v) => m(k) = v }
    Map("metrics" -> m.map { case (k, (v, u)) => k -> Seq(v, u) },
      "spans" -> all.sortBy(_.id))
  }
}

object Tracer {
  val off: Tracer = new Tracer(null) {
    override def enable(): Unit = ()
  }

  val DrainGroup = "graftbench-drain"

  /** Job labels IncrementalCuration sets on its epoch phases. */
  val CurationLabels: Seq[String] = Seq("ic: docs", "ic: dup-election",
    "ic: retraction-detect", "ic: retraction-gate", "ic: verdict",
    "ic: kept-stats", "ic: shingle-idx", "ic: bands", "ic: new-pairs",
    "ic: components", "ic: retraction-touch", "ic: fresh-guard", "ic: append")

  /** Counts the workloads record themselves; 0 where a workload does
    * not exercise the layer.
    */
  val WorkloadCounts: Seq[(String, String)] = Seq(
    "sources.append_ms" -> "ms", "sources.latest_offset_ms" -> "ms",
    "sources.get_batch_ms" -> "ms", "sources.rows_per_batch" -> "count",
    "sources.backlog_records" -> "count",
    "streaming.add_batch_ms" -> "ms", "streaming.query_planning_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms", "streaming.commit_offsets_ms" -> "ms",
    "state.rows_total" -> "count", "state.rows_updated" -> "count",
    "state.memory_bytes" -> "bytes", "state.commit_ms" -> "ms",
    "sink.delta_bytes" -> "bytes", "sink.delta_files" -> "count",
    "sink.read_state_ms" -> "ms",
    "curation.store_bytes" -> "bytes", "curation.store_files" -> "count",
    "curation.stored_bytes_per_input_byte" -> "ratio")

  final case class Job(id: Int, start: Double, end: Double, stages: Seq[Int],
                       label: String, drain: Boolean)
  private def endOf(j: Job): Double = if (j.end.isNaN) j.start else j.end

  final case class Task(stage: Int, launch: Double, runMs: Long, cpuNs: Long,
                        gcMs: Long, shuffleRead: Long, shuffleWrite: Long,
                        spill: Long, inputRecords: Long, peakMemory: Long)

  /** One executed query: planning phases and its final (AQE) plan's
    * exchanges, broadcasts and row counts.
    */
  final case class Qe(phases: Map[String, (Double, Double)], exchanges: Int,
                      broadcasts: Int, rowsIn: Long, rowsOut: Long) {
    def start: Double = phases.values.map(_._1).minOption.getOrElse(Double.NaN)
  }

  object Qe {
    def of(qe: QueryExecution): Qe = {
      val ns = nodes(qe.executedPlan)
      def rows(p: SparkPlan) = p.metrics.get("numOutputRows").map(_.value)
      val leaves = ns.filter(n => n.children.isEmpty && !n.isInstanceOf[ReusedExchangeExec])
      Qe(phases(qe),
        ns.count(_.isInstanceOf[ShuffleExchangeLike]),
        ns.count(_.isInstanceOf[BroadcastExchangeLike]),
        leaves.flatMap(rows).sum,
        ns.iterator.flatMap(rows).nextOption().getOrElse(0L))
    }

    def phases(qe: QueryExecution): Map[String, (Double, Double)] =
      qe.tracker.phases.collect {
        case (n, p) if n != "parsing" => n -> (p.startTimeMs.toDouble, p.endTimeMs.toDouble)
      }

    /** Nodes of the plan as it ran: adaptive plans by their final plan,
      * query stages by the plan they materialized.
      */
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case c: CommandResultExec => nodes(c.commandPhysicalPlan)
      case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
    }
  }

  def unionLength(intervals: Seq[(Double, Double)]): Double =
    intervals.filter { case (s, e) => e > s }.sortBy(_._1)
      .foldLeft((0.0, Double.NegativeInfinity)) { case ((total, reach), (s, e)) =>
        if (e <= reach) (total, reach)
        else (total + e - math.max(s, reach), e)
      }._1

  /** Heap left after the last collection, GC and JIT time over the
    * JVM's life, and code cache in use.
    */
  def jvm(): Seq[(String, (Double, String))] = {
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    val heapAfterGc = pools.filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    val codeCache = pools.filter(_.getName.startsWith("CodeHeap")).map(_.getUsage.getUsed).sum
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    Seq("jvm.heap_after_gc_mb" -> (heapAfterGc / 1048576.0, "MB"),
      "jvm.gc_ms" -> (gcMs.toDouble, "ms"),
      "jvm.jit_ms" -> (ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble, "ms"),
      "jvm.code_cache_mb" -> (codeCache / 1048576.0, "MB"))
  }

  /** Block until every listener event posted before this call has been
    * delivered: run a marker job and wait for its end event, which the
    * listener bus delivers after all earlier events.
    */
  def awaitListenerBus(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val done = new CountDownLatch(1)
    @volatile var marker = -1
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == DrainGroup)
          marker = e.jobId
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == marker) done.countDown()
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(DrainGroup, "graftbench: listener drain")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.clearJobGroup()
      done.await(30, TimeUnit.SECONDS)
    } finally sc.removeSparkListener(l)
  }
}
