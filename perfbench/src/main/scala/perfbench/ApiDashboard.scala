package perfbench

import java.time.LocalDate

import scala.collection.mutable
import scala.util.Random

import graft.api.{IdentifierDim, MetricsApi}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dashboard traffic: two closed-loop clients send a seeded mix of
  * `/metrics` and `/metrics/filters` requests over the events log. Each
  * request is parsed, interpreted into a plan, planned and collected —
  * the whole path a dashboard waits for.
  *
  * Mix: dataset-family landing pages by day or month, user lists over a
  * time range, repository profiles by month and country, portal filters
  * with a query string, catalog summaries and the filters catalog, in
  * equal shares (no real traffic mix is available). Half of the plain time
  * series go through `columnarResponse`. Identifiers are drawn Zipf(1)
  * over the log's popularity order, so popular datasets recur (the
  * exponent is an assumption).
  */
class ApiDashboard(spark: SparkSession, data: String, seed: Long) extends Workload {
  import ApiDashboard._

  override def clients: Int = 2

  /** Identifiers, most requested first (written by the generator). */
  private val ids: Array[Long] = scala.io.Source
    .fromFile(s"$data/ids.txt").getLines().map(_.trim.toLong).toArray

  private val kept = mutable.ArrayBuffer[Map[String, Any]]()
  private val byKind = mutable.Map[String, mutable.ArrayBuffer[Double]]()

  def setup(): Unit = {
    // the materialized dimensions every request reads
    IdentifierDim.familyDim(spark, data)
    IdentifierDim.nodeDim(spark, data)
    IdentifierDim.portalDim(spark, data)
    // one untimed pass over each request shape (plain and columnar series)
    val r = new Random(mix(seed, -1))
    for (kind <- Kinds.indices)
      serve(request(kind, columnar = kind == 0, r), Spans.Off)
  }

  def op(i: Int, tr: Spans): Option[OpResult] = {
    val req = request(i)
    val t0 = System.nanoTime()
    val (columns, rows) = tr.span("op", storage = true)(serve(req, tr))
    val ms = (System.nanoTime() - t0) / 1e6
    byKind.synchronized { byKind.getOrElseUpdate(req.kind, mutable.ArrayBuffer()) += ms }
    // the stream's first requests (every kind, twice) are checked against
    // the oracle; a traced window replays them, and the first reply is kept
    if (i < Checked)
      kept.synchronized {
        if (!kept.exists(_("index") == i))
          kept += Map("index" -> i, "kind" -> req.kind, "request" -> req.json,
            "columnar" -> req.columnar, "columns" -> columns, "rows" -> rows)
      }
    Some(OpResult(1))
  }

  private def serve(req: Request, tr: Spans): (Seq[String], Seq[Seq[Any]]) = {
    val df: DataFrame = req.json match {
      case None =>
        tr.span("api.interpret")(MetricsApi.filtersCatalog(spark, data))
      case Some(json) =>
        val parsed = tr.span("api.parse")(MetricsApi.parse(json))
        val long = tr.span("api.interpret")(MetricsApi.interpret(spark, data, parsed))
        if (req.columnar) MetricsApi.columnarResponse(long, parsed.metrics) else long
    }
    tr.span("spark.plan")(df.queryExecution.executedPlan)
    val rows = tr.span("spark.exec")(df.collect())
    (df.columns.toSeq, rows.toSeq.map(_.toSeq.map(plain)))
  }

  /** Arrays come back as Scala sequences; keep them JSON-friendly. */
  private def plain(v: Any): Any = v match {
    case s: scala.collection.Seq[_] => s.map(plain)
    case other => other
  }

  def finish(): Map[String, Any] = Map(
    "requests" -> kept.synchronized(kept.toList),
    "latency_ms_by_kind" -> byKind.synchronized(byKind.toMap))

  /** Request `i` of the seeded stream. Kinds take turns, so any six
    * consecutive requests serve every kind once; the seed draws everything
    * else (identifiers, ranges, units, shape). */
  def request(i: Int): Request = {
    val r = new Random(mix(seed, i))
    request(i % Kinds.length, r.nextBoolean(), r)
  }

  private def request(kind: Int, columnar: Boolean, r: Random): Request = {
    def zipfId(): Long =
      ids(math.min(math.exp(r.nextDouble() * math.log(ids.length)).toInt, ids.length) - 1)
    def idList(n: Int): String =
      Seq.fill(n)(zipfId()).distinct.map(v => s""""$v"""").mkString(", ")
    val unit = if (r.nextBoolean()) "day" else "month"
    val (from, to) = span(unit, r)
    def range(filterType: String, fmt: LocalDate => String) =
      s"""{"filterType": "$filterType", "values": ["${fmt(from)}", "${fmt(to)}"], "interpretAs": "range"}"""
    val name = Kinds(kind)
    name match {
      case "dataset" =>
        Request(name, Some(s"""{"metrics": ["views", "downloads"], "filterBy": [
          |{"filterType": "dataset", "values": [${idList(1 + r.nextInt(3))}], "interpretAs": "list"},
          |${range("time", iso)}], "groupBy": ["$unit"]}""".stripMargin), columnar)
      case "user" =>
        Request(name, Some(s"""{"metrics": ["views", "downloads", "clicks"], "filterBy": [
          |{"filterType": "user", "values": [${idList(5 + r.nextInt(36))}], "interpretAs": "list"},
          |${range(unit, iso)}], "groupBy": ["$unit"]}""".stripMargin), columnar)
      case "repository" =>
        val node = graft.reports.CounterReport.NodeNames(r.nextInt(5))
        Request(name, Some(s"""{"metrics": ["views", "downloads"], "filterBy": [
          |{"filterType": "repository", "values": ["$node"], "interpretAs": "list"},
          |${range("month", us)}], "groupBy": ["months", "country"]}""".stripMargin), false)
      case "portal" =>
        val q = Queries(r.nextInt(Queries.length)).replace("\\", "\\\\").replace("\"", "\\\"")
        Request(name, Some(s"""{"metrics": ["views", "downloads", "clicks"], "filterBy": [
          |{"filterType": "portal", "values": ["portal-${r.nextInt(7)}"], "interpretAs": "list"},
          |{"filterType": "query", "values": ["$q"], "interpretAs": "query"}],
          |"groupBy": ["month"]}""".stripMargin), false)
      case "catalog" =>
        Request(name, Some(s"""{"metrics": ["views", "downloads"], "filterBy": [
          |{"filterType": "catalog", "values": [${idList(3 + r.nextInt(6))}], "interpretAs": "list"}],
          |"groupBy": []}""".stripMargin), false)
      case "filters" => Request(name, None, false)
    }
  }

  /** A time range inside the log's 90 days: 2-4 weeks by day, 1-3 months
    * by month. */
  private def span(unit: String, r: Random): (LocalDate, LocalDate) = {
    val len = if (unit == "day") 14 + r.nextInt(15) else 30 + r.nextInt(60)
    val start = r.nextInt(90 - len)
    (Day0.plusDays(start), Day0.plusDays(start + len - 1))
  }
}

object ApiDashboard {
  final case class Request(kind: String, json: Option[String], columnar: Boolean)

  val Kinds: Seq[String] = Seq("dataset", "user", "repository", "portal",
    "catalog", "filters")

  /** Portal collection queries, in the stored shapes the reference uses. */
  val Queries: Seq[String] = Seq(
    "event_type:view OR event_type:click",
    "-event_type:err* AND (event_type:view OR event_type:\"purchase\")",
    "event_type:view OR event_type:click AND props:{\"k\":\\ 1*")

  /** SplitMix64 finalizer over (seed, i): java.util.Random's first draws
    * from consecutive seeds are strongly correlated. */
  def mix(seed: Long, i: Int): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + i
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Requests checked against the oracle: the stream's first two turns. */
  val Checked: Int = 2 * Kinds.length

  private val Day0 = LocalDate.of(2024, 1, 1)
  private def iso(d: LocalDate): String = d.toString
  private def us(d: LocalDate): String =
    f"${d.getMonthValue}%02d/${d.getDayOfMonth}%02d/${d.getYear}"
}
