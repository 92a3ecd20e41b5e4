package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Wall clock in epoch milliseconds with nanoTime resolution, so driver
  * timestamps line up with the epoch-ms times Spark's listener events
  * carry.
  */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def ms(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One timed operation: a query, a micro-batch or an epoch. */
final case class Op(name: String, startMs: Double, endMs: Double, ok: Boolean) {
  def ms: Double = endMs - startMs
}

/** What one pass of a workload's timed work hands back. */
final case class Outcome(
    wallS: Double, // time to finish the fixed amount of timed work
    items: Long, // work items it consumed (rows read, events, documents)
    notes: Map[String, Any] = Map.empty)

/** A workload: set-up (inputs, warm-up, oracle dumps), a fixed amount
  * of timed work that can run more than once on fresh directories, and
  * the output checks.
  */
trait Workload {
  def setUp(c: Ctx): Unit
  def timed(c: Ctx): Outcome
  def check(c: Ctx): Unit
}

/** Per-run state shared by the workloads: the session, the inputs'
  * seed, the run's private directory and the operation ledger.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
                val runDir: String, val testdata: String,
                val tracer: Tracer) {
  /** Timed operations of the current pass of timed work. */
  val ops = ArrayBuffer.empty[Op]
  var attempted = 0
  var failed = 0
  /** Wall-clock time of the first timed operation's start. */
  var firstTimedMs: Double = Double.NaN
  val checks = ArrayBuffer.empty[(String, Boolean, String)]
  /** Scale-factor directory of the results dumped for the DuckDB oracle. */
  var oracleData: String = ""
  private var dirs = 0

  def sf(scale: String): String = s"$testdata/$scale"

  def dir(name: String): String = {
    val p = Paths.get(runDir, name)
    Files.createDirectories(p)
    p.toString
  }

  /** A directory no earlier pass has used. */
  def freshDir(name: String): String = { dirs += 1; dir(s"$name-$dirs") }

  def timedOp(start: Double, end: Double, name: String, ok: Boolean): Unit = {
    if (firstTimedMs.isNaN) firstTimedMs = start
    ops += Op(name, start, end, ok)
  }

  /** Run one operation; a thrown error counts it failed. Timed ones
    * enter the latency ledger and open a traced operation.
    */
  def op[T](name: String, timed: Boolean)(body: => T): Option[T] = {
    attempted += 1
    val id = if (timed) tracer.beginOp() else 0L
    val start = Clock.ms()
    val res = try Some(body) catch {
      case e: Throwable =>
        failed += 1
        System.err.println(s"[graftbench] $name failed: $e")
        e.printStackTrace()
        None
    }
    val end = Clock.ms()
    if (timed) {
      timedOp(start, end, name, res.isDefined)
      tracer.endOp(id, name, start, end)
    }
    res
  }

  /** A correctness check; a mismatch counts as a failed operation. */
  def check(name: String)(body: => Option[String]): Unit = {
    attempted += 1
    val problem = try body catch { case e: Throwable => Some(e.toString) }
    problem.foreach { p =>
      failed += 1
      System.err.println(s"[graftbench] check $name failed: $p")
    }
    checks += ((name, problem.isEmpty, problem.getOrElse("")))
  }

  /** Drop the blocks of cached/checkpointed frames a query pinned, so
    * an operation never pays for its predecessor's working set.
    */
  def releaseCached(): Unit =
    spark.sparkContext.getPersistentRDDs.valuesIterator
      .foreach(_.unpersist(blocking = true))
}

/** Benchmark JVM: builds one session, runs one workload from a seed and
  * writes the run record (raw operation times, counts, checks and, when
  * traced, per-layer metrics and spans) as JSON; `run.py` reduces it.
  *
  * Args: --workload W --seed N --seconds S --trace 0|1 --run-dir D
  *       --testdata DIR --threads T --out FILE
  *
  * A traced run does the timed work twice: untraced, then traced; the
  * difference in wall time is the tracing overhead.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val threads = opt("threads").toInt
    val runDir = opt("run-dir")
    val spark = graft.GraftSession.builder(s"local[$threads]", threads)
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val sessionS = (Clock.ms() - jvmStartMs) / 1000
    val trace = opt("trace") == "1"
    val c = new Ctx(spark, opt("seed").toLong, opt("seconds").toInt,
      runDir, opt("testdata"), if (trace) new Tracer(spark) else Tracer.off)
    if (opt("workload") == "training") {
      Training.run(c)
      spark.stop()
      return
    }
    val w: Workload = opt("workload") match {
      case "relational" => Relational
      case "cdc-stream" => CdcWorkload
      case "curation-epochs" => CurationWorkload
      case other => sys.error(s"unknown workload $other")
    }
    w.setUp(c)
    val out = w.timed(c)
    val ops = c.ops.toList
    val traced = if (!trace) Map.empty[String, Any] else {
      c.ops.clear()
      c.tracer.enable()
      val t = w.timed(c)
      Map("wall_s" -> t.wallS, "untraced_wall_s" -> out.wallS)
    }
    w.check(c)
    val record = collection.immutable.ListMap[String, Any](
      "workload" -> opt("workload"),
      "seed" -> c.seed,
      "threads" -> threads,
      "setup_s" -> (c.firstTimedMs - jvmStartMs) / 1000.0,
      "wall_s" -> out.wallS,
      "items" -> out.items,
      "attempted" -> c.attempted,
      "failed" -> c.failed,
      "ops" -> ops.map(o => Seq(o.name, o.ms, o.ok)),
      "checks" -> c.checks.map { case (n, ok, why) => Seq(n, ok, why) },
      "oracle_data" -> c.oracleData,
      "notes" -> (out.notes + ("session_s" -> sessionS)),
      "trace" -> (c.tracer.report() ++ traced))
    Files.writeString(Paths.get(opt("out")), Json.write(record))
    spark.stop()
  }

  /** Bytes and files under a directory tree. */
  def treeSize(path: String): (Long, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val files = walk(new File(path))
    (files.map(_.length).sum, files.size.toLong)
  }
}
