package perfbench

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One workload of the benchmark. An operation is what its user waits
  * for: a dashboard request, a daily report cycle, a corpus pipeline pass.
  */
trait Workload {
  /** Closed-loop client threads issuing operations. */
  def clients: Int = 1

  /** Resolve tables, materialize what operations share, and run one
    * untimed pass over each operation shape. */
  def setup(): Unit

  /** Run operation `i` (numbered across clients, from 0 in each timed
    * window). None when the workload has no work left. */
  def op(i: Int, tr: Spans): Option[OpResult]

  /** Remember the current state, so that [[rewind]] can return to it. */
  def mark(): Unit = ()

  /** Return to the state of the last [[mark]]. */
  def rewind(): Unit = ()

  /** After timing: what the checks need, as JSON-ready values. */
  def finish(): Map[String, Any]
}

/** `items`: units of input the operation processed (requests, landed
  * events, documents). `counts`: workload counters summed over a window. */
final case class OpResult(items: Long, counts: Map[String, Double] = Map.empty)

final case class Window(latMs: Seq[Double], items: Long, attempted: Int,
                        failed: Int, wallS: Double, counts: Map[String, Double],
                        errors: Seq[String])

/** Runs one workload: several set-ups (each on a fresh session), an
  * untraced timed window, optionally a traced timed window that replays
  * the untraced one's operations from the same state, then writes
  * `result.json` (and `trace.jsonl` when traced) to the output dir.
  *
  * Args: --workload NAME --data DIR --out DIR --seconds S --trace 0|1
  *       --seed N --cores N
  */
object Main {

  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 2

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def workload(name: String, spark: SparkSession, data: String, work: String,
               seed: Long): Workload = name match {
    case "api_dashboard" => new ApiDashboard(spark, data, seed)
    case "counter_batch" => new CounterBatch(spark, data, work)
    case "corpus_pipeline" => new CorpusPipeline(spark, data)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val data = opt("data")
    val out = opt("out")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val seed = opt("seed").toLong
    val cores = opt("cores").toInt
    new java.io.File(out).mkdirs()

    // set up several times, each on a fresh session; the last one serves
    // the timed windows
    val setupS = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    var w: Workload = null
    for (r <- 1 to Setups) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cores, out)
      w = workload(name, spark, data, s"$out/setup$r", seed)
      w.setup()
      setupS += (System.nanoTime() - t0) / 1e9
    }

    if (traced) w.mark()
    val plain = run(w, Spans.Off, seconds)
    val held = Tracer.storedBytes(spark.sparkContext)
    val heldRdds = spark.sparkContext.getPersistentRDDs.size

    val tracedOut = if (!traced) None else {
      // the same operations as the untraced window, so the latency gap is
      // the tracing overhead
      w.rewind()
      val tr = new Tracer(spark.sparkContext)
      val win = run(w, tr, seconds)
      tr.drain()
      tr.write(s"$out/trace.jsonl")
      tr.close()
      Some(Map("window" -> windowJson(win),
        "layers" -> Layers.of(tr, win, cores)))
    }

    val checks = w.finish()
    Json.writeFile(s"$out/result.json", Map(
      "workload" -> name, "cores" -> cores, "setup_s" -> setupS,
      "plain" -> windowJson(plain), "traced" -> tracedOut,
      "storage_held_bytes" -> held, "storage_held_rdds" -> heldRdds,
      "checks" -> checks))
    spark.stop()
  }

  private def windowJson(w: Window): Map[String, Any] = Map(
    "lat_ms" -> w.latMs, "items" -> w.items, "attempted" -> w.attempted,
    "failed" -> w.failed, "wall_s" -> w.wallS, "counts" -> w.counts,
    "errors" -> w.errors)

  /** Closed loop: each client issues its next operation when the previous
    * one returns, until `seconds` have passed (an operation in flight at
    * the deadline completes and counts). */
  def run(w: Workload, tr: Spans, seconds: Double): Window = {
    val next = new AtomicInteger(0)
    // collect set-up garbage (a stopped session among it) now, not inside
    // the first timed operation
    System.gc()
    val lat = mutable.ArrayBuffer[Double]()
    val counts = mutable.Map[String, Double]().withDefaultValue(0.0)
    val errors = mutable.ArrayBuffer[String]()
    var items = 0L
    var attempted = 0
    var failed = 0
    var lastEnd = 0L
    val done = new AtomicBoolean(false)
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val threads = (0 until w.clients).map { c =>
      new Thread(() => {
        while (!done.get && System.nanoTime() < deadline) {
          val i = next.getAndIncrement()
          val s = System.nanoTime()
          val res = try Right(w.op(i, tr)) catch { case e: Throwable => Left(e) }
          val e = System.nanoTime()
          lat.synchronized {
            res match {
              case Right(None) => done.set(true)
              case Right(Some(r)) =>
                attempted += 1
                lat += (e - s) / 1e6
                items += r.items
                r.counts.foreach { case (k, v) => counts(k) += v }
                lastEnd = math.max(lastEnd, e)
              case Left(err) =>
                attempted += 1
                failed += 1
                lastEnd = math.max(lastEnd, e)
                if (errors.size < 5) errors += s"op $i: $err"
            }
          }
        }
      }, s"client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    Window(lat.toList, items, attempted, failed,
      math.max(lastEnd - t0, 1L) / 1e9, counts.toMap, errors.toList)
  }
}
