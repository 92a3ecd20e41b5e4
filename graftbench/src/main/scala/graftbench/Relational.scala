package graftbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.util.Random

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame

/** `relational`: a fixed mix of catalog queries, each materialized in
  * full through the `noop` sink, in a seed-shuffled order every pass.
  * Planning, eager barriers and operator work dominate; it only reads.
  * An odd number of queries puts the median latency on one query's
  * samples rather than between two queries of different cost.
  *
  * Set-up runs the mix once (JIT and codegen warm-up) and writes every
  * result for the DuckDB oracle; the timed passes run it again with the
  * noop sink. Both read sf0.01: a pass over sf0.1 takes twice as long
  * and does not fit the benchmark's time budget (README).
  */
object Relational extends Workload {
  val queries: Seq[String] = Seq(
    "ds25_return_ratio_rank", "w10_sql_hop_tvf", "m04_match_recognize",
    "j06_range_join_auto", "wt01_window_topn")
  val Scale = "sf0.01"

  /** Timed passes for a run of `seconds`: a pass takes 4 to 5 s. */
  def passes(seconds: Int): Int = math.max(1, seconds / 5)

  private var rnd: Random = _

  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def setUp(c: Ctx): Unit = {
    rnd = new Random(c.seed)
    val all = graft.SparkEntry.queries
    val out = c.dir("oracle")
    rnd.shuffle(queries).foreach { q =>
      c.op(q, timed = false) {
        all(q)(c.spark, c.sf(Scale)).coalesce(1).write
          .mode("overwrite").parquet(s"$out/$q")
      }
      c.releaseCached()
    }
    val sql = graft.SparkEntry.oracleSql
    Files.writeString(Paths.get(out, "oracle_sql.json"),
      Json.write(queries.map(q => q -> sql(q)).toMap))
    c.oracleData = c.sf(Scale)
  }

  def timed(c: Ctx): Outcome = {
    val all = graft.SparkEntry.queries
    val dir = c.sf(Scale)
    val n = passes(c.seconds)
    val rows = RowCounter.during(c) {
      (1 to n).foreach(_ => rnd.shuffle(queries).foreach { q =>
        c.op(q, timed = true) {
          val df = c.tracer.span("catalog", "build")(all(q)(c.spark, dir))
          c.tracer.analyzed(df.queryExecution)
          c.tracer.span("action", "action")(materialize(df))
        }
        c.releaseCached()
      })
    }
    val wallS = (c.ops.last.endMs - c.ops.head.startMs) / 1000
    Outcome(wallS, rows, Map("queries" -> queries.size, "timed_passes" -> n,
      "scale" -> Scale))
  }

  /** Results were dumped in set-up; run.py hands them to tools/check.py. */
  def check(c: Ctx): Unit = ()
}

/** Counts the input records the tasks of `body` read. */
object RowCounter {
  def during(c: Ctx)(body: => Unit): Long = {
    val rows = new AtomicLong
    val l = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          rows.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    c.spark.sparkContext.addSparkListener(l)
    try body finally {
      Tracer.awaitListenerBus(c.spark)
      c.spark.sparkContext.removeSparkListener(l)
    }
    rows.get
  }
}
