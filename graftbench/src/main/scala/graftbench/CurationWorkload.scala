package graftbench

import java.nio.file.{Files, Paths}

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, length, sum}

import graft.streaming.IncrementalCuration

/** `curation-epochs`: the seed shuffles every document of the sf0.01
  * corpus into equal epochs, and each epoch goes through
  * IncrementalCuration.processEpoch on a fresh store; the first epoch
  * is warm-up and untimed. Dozens of small jobs per epoch, each reading
  * and writing the stores: the driver and scheduler dominate.
  */
object CurationWorkload extends Workload {
  val Scale = "sf0.01"
  val Oracle = "td56_incremental_curation"

  /** Timed epochs for a run of `seconds`: a warm epoch takes 5 to 8 s. */
  def timedEpochs(seconds: Int): Int = math.max(2, seconds / 5)

  private var docs: DataFrame = _
  private var batches: Seq[Seq[Long]] = Nil
  private var lastStore = ""

  def process(c: Ctx, base: String, e: Int, timed: Boolean): Unit = {
    c.op("epoch", timed) {
      IncrementalCuration.processEpoch(e.toLong,
        docs.where(col("doc_id").isin(batches(e): _*)), base, "doc_id", "text", "lang")
    }
    c.releaseCached()
  }

  def setUp(c: Ctx): Unit = {
    docs = graft.Tables.load(c.spark, c.sf(Scale), "documents")
      .select(col("doc_id"), col("text"), col("lang"))
    val ids = docs.select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
    val n = timedEpochs(c.seconds) + 1
    batches = new Random(c.seed).shuffle(ids).grouped((ids.size + n - 1) / n).toSeq
  }

  def timed(c: Ctx): Outcome = {
    lastStore = c.freshDir("store")
    batches.indices.foreach(e => process(c, lastStore, e, timed = e > 0))
    if (c.tracer.on) {
      val (bytes, files) = Main.treeSize(lastStore)
      val input = docs.agg(sum(length(col("text")))).head.getLong(0)
      c.tracer.add("curation.store_bytes", bytes.toDouble)
      c.tracer.add("curation.store_files", files.toDouble)
      c.tracer.add("curation.stored_bytes_per_input_byte", bytes.toDouble / input)
    }
    val wallS = (c.ops.last.endMs - c.ops.head.startMs) / 1000
    Outcome(wallS, batches.tail.map(_.size).sum.toLong,
      Map("documents" -> batches.map(_.size).sum, "epochs" -> batches.size,
        "timed_epochs" -> (batches.size - 1), "docs_per_epoch" -> batches.head.size))
  }

  /** The manifest, in the layout tools/check.py compares, against the
    * oracle the engine's own td56 query is held to (td46's batch SQL).
    */
  def check(c: Ctx): Unit = {
    val out = c.dir("oracle")
    c.oracleData = c.sf(Scale)
    c.op("manifest", timed = false) {
      IncrementalCuration.manifest(c.spark, lastStore).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/$Oracle")
    }
    Files.writeString(Paths.get(out, "oracle_sql.json"),
      Json.write(Map(Oracle -> graft.SparkEntry.oracleSql(Oracle))))
  }
}
