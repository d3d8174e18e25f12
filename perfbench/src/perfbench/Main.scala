package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One named metric value as printed in the result line. */
final case class Metric(name: String, value: Double, unit: String)

/** One operation of a timed pass: `key` identifies the same operation
  * across passes, `ok` is false when it threw or its output was wrong. */
final case class OpResult(key: String, seconds: Double, ok: Boolean)

/** A closed-loop workload with one client: [[setup]] runs before timing
  * starts; [[pass]] runs one timed round of operations. */
trait Workload {
  /** Seconds one pass takes on a 4-core host: a run of S seconds makes
    * S / passSeconds passes, rounded, and at least one. */
  def passSeconds: Double
  def setup(): Unit
  /** How often [[setup]] runs; each run must leave the same state, and
    * setup_s reports the median. */
  def setupRepeats: Int = 1
  def pass(index: Int): Seq[OpResult]
  /** Checks after the timed section; returns the number of failures. */
  def finish(): Int = 0
  /** Drop what the last operation left cached, before the heap is read. */
  def quiesce(): Unit = ()
  /** Failures found during setup (digests, pinned answers). */
  def setupFailures: Int = 0
  /** Per-layer metrics of a traced run. */
  def layerMetrics(rec: Recorder, passWalls: Seq[Double]): Seq[Metric]
}

/** Runs one workload and writes its result as one JSON object.
  *
  * Arguments: --workload NAME --seed N --seconds S --trace 0|1
  * --data DIR --work DIR --out FILE --cpus N --pins FILE [--calibrate FILE]
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val cpus = args("cpus")
    val work = args("work")

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // keep Spark's job and query bookkeeping small, so that the retained
      // heap is the engine's own state and not the history of the run
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Recorder(spark.sparkContext, traced)
    spark.sparkContext.addSparkListener(rec)

    val pins = Pins.load(args("pins"))
    val w: Workload = workload match {
      case "queries" =>
        new QueryWorkload(spark, rec, args("data"), seed, pins, args.get("calibrate"))
      case "voice_train" => new VoiceWorkload(spark, rec, seed, pins)
      case "store_ingest" =>
        new StoreWorkload(spark, rec, args("data"), s"$work/stores", seed, pins,
          args.get("calibrate"))
      case other => sys.error(s"unknown workload $other")
    }

    // setup_s: JVM start to a ready workload, plus the median of its set-ups
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val startS = (System.currentTimeMillis() - jvmStart) / 1e3
    val setups = Seq.fill(w.setupRepeats) {
      val t = System.nanoTime()
      w.setup()
      (System.nanoTime() - t) / 1e9
    }
    val setupS = startS + median(setups)
    System.err.println(f"[perfbench] start-up $startS%.1f s, set-up " +
      setups.map(x => f"$x%.1f").mkString("", ", ", " s"))
    // a fixed number of passes, so that every run of a workload does the
    // same work however fast it goes
    val passes = math.max(1, math.round(seconds / w.passSeconds).toInt)
    val ops = ArrayBuffer.empty[OpResult]
    val passWalls = ArrayBuffer.empty[Double]
    rec.timing = true
    for (p <- 0 until passes) {
      val passOps = w.pass(p)
      ops ++= passOps
      passWalls += passOps.map(_.seconds).sum
      w.quiesce()
    }
    rec.timing = false
    val heapMb = retainedHeapMb()
    val failed = ops.count(!_.ok) + w.setupFailures + w.finish()
    val attempted = ops.size

    val metrics =
      if (traced) w.layerMetrics(rec, passWalls.toSeq) :+
        Metric("unattributed.jobs", rec.unattributedJobs, "count")
      else {
        // each operation's median latency over the passes; failed
        // operations have none
        val lat = ops.filter(_.ok).groupBy(_.key).values
          .map(o => median(o.map(_.seconds).toSeq)).toSeq
        val (tailPct, tail) = tailOf(lat)
        System.err.println(f"[perfbench] op_tail_s is p$tailPct%d over ${lat.size}%d operations")
        Seq(
          Metric("setup_s", setupS, "s"),
          Metric("wall_s", median(passWalls.toSeq), "s"),
          Metric("op_gmean_s", geomean(lat), "s"),
          Metric("op_tail_s", tail, "s"),
          Metric("ok_ratio", 1.0 - failed.toDouble / (attempted + w.setupFailures), "ratio"),
          Metric("heap_peak_mb", heapMb, "MB"))
      }
    spark.stop()

    val json = Json.result(failed == 0, attempted, failed, metrics)
    Files.write(Paths.get(args("out")), (json + "\n").getBytes(StandardCharsets.UTF_8))
  }

  /** Geometric mean: a few operations that take much longer than the
    * rest do not outweigh the others, and unlike a median over a few
    * operations it does not jump from one operation's latency to the
    * next when two of them swap ranks. */
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest whole percentile with at least ten samples above it
    * (nearest rank); with fewer than twenty samples that percentile
    * would sit at or below the median, so the maximum is reported. */
  def tailOf(xs: Seq[Double]): (Int, Double) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) (100, Double.NaN)
    else if (n < 20) (100, s.last)
    else {
      val pct = (100 * (n - 10)) / n
      val rank = math.ceil(pct / 100.0 * n).toInt
      (pct, s(math.max(rank, 1) - 1))
    }
  }

  /** JVM heap in use after full collections, in MB. Spark's cleaner
    * releases broadcasts and shuffles only after a collection has
    * cleared their references, so collections repeat, 0.3 s
    * apart, at least three times and until the last two readings agree
    * within 1% (at most eight). */
  def retainedHeapMb(): Double = {
    def used = { collect(); Thread.sleep(200); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6 }
    val readings = scala.collection.mutable.ArrayBuffer(used, used, used)
    def settled = math.abs(readings.last - readings.init.last) <= 0.01 * readings.last
    while (!settled && readings.size < 8) readings += used
    readings.last
  }

  /** A full collection, then a moment for Spark's cleaner to release
    * what it freed, so that an operation starts from a settled heap. */
  def collect(): Unit = {
    System.gc()
    Thread.sleep(100)
  }
}

/** The few JSON shapes the benchmark writes. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def result(correct: Boolean, attempted: Int, failed: Int, ms: Seq[Metric]): String = {
    val body = ms.map(m => s"${str(m.name)}: {${str("value")}: ${num(m.value)}, ${str("unit")}: ${str(m.unit)}}")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${body.mkString(", ")}}}"""
  }
}
