package perfbench

import scala.collection.mutable

import graft.Tables
import graft.operators.{Dedup, Packing, Sampling}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** The corpus dedup pipeline: exact dedup -> MinHash-LSH pairs ->
  * connected components -> benchmark decontamination -> mixture resample
  * -> sequence packing, over the documents corpus. Every pass builds fresh
  * frames from the parquet input, so nothing an earlier pass latched is
  * served. Each stage boundary is materialized once (the benchmark's own
  * checkpoints, released at the end of the pass) and its rows collected.
  */
class CorpusPipeline(spark: SparkSession, data: String) extends Workload {
  import CorpusPipeline._

  private val nDocs: Long = {
    val src = scala.io.Source.fromFile(s"$data/n_docs.txt")
    try src.mkString.trim.toLong finally src.close()
  }
  private var last: Map[String, Seq[Row]] = Map.empty

  def setup(): Unit = pass(Spans.Off)

  def op(i: Int, tr: Spans): Option[OpResult] = {
    last = tr.span("op", storage = true)(pass(tr))
    Some(OpResult(nDocs))
  }

  private def pass(tr: Spans): Map[String, Seq[Row]] = {
    val held = mutable.ArrayBuffer[DataFrame]()
    def cut(df: DataFrame): DataFrame = {
      val c = df.localCheckpoint()
      held += c
      c
    }
    try {
      val docs = Tables.documents(spark, data)
        .select(col("doc_id"), col("lang"), col("text"))
      val bench = Tables.table(spark, data, "benchmark")
      val (keep, deduped) = tr.span("operators.exact_dedup") {
        val keep = cut(Dedup.exactDedup(docs, col("doc_id"), col("text")))
        (keep, cut(docs.join(keep.select(col("keep_id").as("doc_id")),
          Seq("doc_id"), "left_semi")))
      }
      val pairs = tr.span("operators.lsh_pairs") {
        cut(Dedup.minhashLshPairs(deduped, col("doc_id"), col("text"),
          shingleSize = 3, numHashes = 8, bands = 4, threshold = 0.5)
          .select(col("i"), col("j")))
      }
      val components = tr.span("operators.components")(cut(Dedup.connectedComponents(pairs)))
      // one document per near-duplicate component: its smallest id
      val neared = deduped.join(
        components.filter(col("node") =!= col("component")).select(col("node").as("doc_id")),
        Seq("doc_id"), "left_anti")
      val flags = tr.span("operators.decontam") {
        cut(Dedup.decontaminationFlags(neared, bench, col("doc_id"), col("text"), n = 8)
          .filter(col("contaminated")).select(col("doc_id")))
      }
      val packed = tr.span("operators.mix_pack") {
        val clean = neared.join(flags, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("lang"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
        val (mixed, _) = Sampling.mixToProportions(clean, col("doc_id"), col("lang"), Targets)
        val out = Packing.packSequences(mixed, col("doc_id"), col("n_tokens"),
          shards = Shards, capacity = Capacity)
        tr.span("spark.exec")(out.collect())
      }
      Map("keep" -> keep.collect().toSeq, "pairs" -> pairs.collect().toSeq,
        "components" -> components.collect().toSeq, "contaminated" -> flags.collect().toSeq,
        "packed" -> packed.toSeq)
    } finally held.foreach(release)
  }

  def finish(): Map[String, Any] =
    Map("n_docs" -> nDocs, "targets" -> Targets, "shards" -> Shards,
      "capacity" -> Capacity) ++ last.map { case (k, rows) => k -> rows.map(_.toSeq) }
}

object CorpusPipeline {
  val Targets = Map("en" -> 0.5, "es" -> 0.3, "de" -> 0.2)
  val Shards = 16
  val Capacity = 2048L

  /** Drop the blocks of one of the pass's own checkpoints. */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = true)
      case _ => ()
    }
}
