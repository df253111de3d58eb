package perfbench

import java.io.File

import graft.Tables
import graft.api.IdentifierDim
import graft.reports.{CounterReport, GoldTables, SessionGold}
import graft.sources.Ingest
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The daily COUNTER batch: every run starts from the same base state
  * (the first 60 days of the log landed in bronze), then lands one day's
  * arrivals per cycle, late events for earlier days included. A cycle:
  * bronze write, incremental session table (build + read, published as a
  * parquet table), COUNTER/SUSHI reports over all history, and the
  * incremental per-node gold table.
  */
class CounterBatch(spark: SparkSession, data: String, work: String) extends Workload {
  import CounterBatch._

  private val bronze = s"$work/bronze"
  private val sessionsLocal = s"$work/sessions_local"
  private val sessionsState = s"$work/sessions_state"
  private val sessions = s"$work/sessions"
  private val reports = s"$work/reports"
  private val gold = s"$work/gold"
  private val goldState = s"$work/gold_state"

  private var nodeDim: DataFrame = _
  private var nextDay = BaseDays
  private var lastDay = BaseDays - 1
  private val marked = new File(s"$work.mark")
  private var markedDays = (nextDay, lastDay)

  /** Land the base state, then one daily cycle: the untimed pass over
    * every cycle step as the timed cycles run it, against prior state. */
  def setup(): Unit = {
    // identifier registry -> node/country attribution dimension
    nodeDim = IdentifierDim.nodeDim(spark, data)
    cycle(s"$data/base", "base", Spans.Off)
    cycle(landing(nextDay), nextDay.toString, Spans.Off)
    lastDay = nextDay
    nextDay += 1
  }

  def op(i: Int, tr: Spans): Option[OpResult] =
    if (nextDay >= Days) None
    else {
      val day = nextDay
      nextDay += 1
      val r = tr.span("op", storage = true)(cycle(landing(day), day.toString, tr))
      lastDay = day
      Some(r)
    }

  /** All state is the files under `work` and the day counters. */
  override def mark(): Unit = {
    FileUtils.deleteDirectory(marked)
    FileUtils.copyDirectory(new File(work), marked)
    markedDays = (nextDay, lastDay)
  }

  override def rewind(): Unit = {
    FileUtils.deleteDirectory(new File(work))
    FileUtils.copyDirectory(marked, new File(work))
    nextDay = markedDays._1
    lastDay = markedDays._2
  }

  private def landing(day: Int) = s"$data/landing/d$day"

  private def cycle(src: String, batch: String, tr: Spans): OpResult = {
    val start = System.currentTimeMillis()
    val out = s"$bronze/batch=$batch"
    tr.span("sources.write_bronze")(Ingest.writeBronze(Tables.events(spark, src), out))
    val events = Ingest.readBronze(spark, bronze).select(EventCols.map(col): _*)

    val (rebuilt, _, _) = tr.span("reports.session_gold") {
      val counts = SessionGold.build(spark, events, GapSeconds, sessionsLocal, sessionsState)
      SessionGold.read(spark, sessionsLocal, GapSeconds)
        .write.mode("overwrite").parquet(sessions)
      counts
    }
    tr.span("reports.counter") {
      val flat = CounterReport.flatMetrics(events, nodeDim, GapSeconds, RequestTypes)
      CounterReport.writeReports(CounterReport.sushiReports(flat, Created), reports)
    }
    val (goldRebuilt, _, _) = tr.span("reports.gold") {
      val withNode = events.join(
        broadcast(nodeDim.select(col("user_id"), col("node_id"))), Seq("user_id"))
      GoldTables.incrementalBuild(spark, withNode, "node_id", gold, goldState)
    }

    val landedFiles = files(new File(src)).filter(_.getName.endsWith(".parquet"))
    val bronzeFiles = files(new File(out)).filter(_.getName.startsWith("part-"))
    val written = files(new File(work)).filter(_.lastModified >= start)
    val daysChanged = Option(new File(out).list()).getOrElse(Array.empty[String])
      .count(_.startsWith("event_date="))
    OpResult(landedRows(src), Map(
      "bronze_bytes" -> bronzeFiles.map(_.length).sum.toDouble,
      "bronze_files" -> bronzeFiles.size.toDouble,
      "landed_bytes" -> landedFiles.map(_.length).sum.toDouble,
      "written_bytes" -> written.map(_.length).sum.toDouble,
      "days_changed" -> daysChanged.toDouble,
      "days_rebuilt" -> rebuilt.toDouble,
      "gold_rebuilt" -> goldRebuilt.toDouble))
  }

  /** Landed rows, from the generator's manifest (no Spark job). */
  private val rowsByDay: Map[String, Long] = {
    val src = scala.io.Source.fromFile(s"$data/landing_rows.txt")
    try src.getLines().map(_.split(",")).map(a => a(0) -> a(1).toLong).toMap
    finally src.close()
  }
  private def landedRows(src: String): Long = rowsByDay(new File(src).getName)

  def finish(): Map[String, Any] = Map(
    "last_day" -> lastDay, "sessions" -> sessions,
    "reports" -> reports, "gold" -> gold, "created" -> Created)
}

object CounterBatch {
  val Days = 90
  val BaseDays = 60
  val GapSeconds = 3600L
  val RequestTypes = Seq("purchase", "click")
  val Created = "2024-04-01"
  val EventCols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")

  def files(dir: File): Seq[File] =
    Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil).flatMap { f =>
      if (f.isDirectory) files(f) else Seq(f)
    }
}
