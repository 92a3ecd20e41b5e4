package graftbench

import org.apache.spark.sql.functions.col

import graft.streaming.IncrementalCuration

/** A short run over every workload's code path on tiny inputs. The
  * build runs it once to record the JVM's class-data archive, which
  * every benchmark run then maps instead of loading and verifying
  * Spark's classes one by one.
  */
object Training {
  def run(c: Ctx): Unit = {
    val tiny = c.sf("sf0.001")
    val all = graft.SparkEntry.queries
    Relational.queries.foreach(q => c.op(q, timed = false) {
      Relational.materialize(all(q)(c.spark, tiny))
    })
    CdcWorkload.setUp(c)
    CdcWorkload.drain(c, c.dir("log"), c.dir("state"), CdcWorkload.BatchEvents * 4)
    val docs = graft.Tables.load(c.spark, tiny, "documents")
      .select(col("doc_id"), col("text"), col("lang")).limit(40)
    c.op("epoch", timed = false) {
      IncrementalCuration.processEpoch(0L, docs, c.dir("store"), "doc_id", "text", "lang")
      IncrementalCuration.manifest(c.spark, c.dir("store")).collect()
    }
    if (c.failed > 0) sys.error(s"${c.failed} training operations failed")
  }
}
