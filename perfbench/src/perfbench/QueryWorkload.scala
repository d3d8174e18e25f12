package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

import graft.{Bench, SparkEntry}

/** queries: a fixed sample of the `Bench.headline` entries, from each
  * of the four query modules (rel, text, sim, sources). Each operation
  * builds the entry's DataFrame and materializes it through the `noop`
  * sink, exactly as `Bench.runOne` does, after clearing the same memos
  * and the SQL cache. The seed permutes the order of the entries in
  * every pass.
  *
  * Every headline entry must come from one of the four modules; an
  * entry from any other module fails the run.
  */
final class QueryWorkload(spark: SparkSession, rec: Recorder, dataDir: String,
    seed: Long, pins: Pins, calibrate: Option[String]) extends Workload {
  import QueryWorkload._

  private val (entries, misplaced) = {
    val byModule = Bench.headline.map(n => n -> moduleOf(n)).toMap
    (Timed.map(n => n -> byModule.getOrElse(n, "none")),
      byModule.filter { case (_, m) => !Layers.QueryLayers.contains(m) }.keys ++
        Timed.filterNot(byModule.contains))
  }
  private val warmJobs = mutable.Map.empty[String, Int]
  private var failures = misplaced.size

  misplaced.foreach { n =>
    System.err.println(s"[perfbench] entry $n is not a headline entry of rel, text, sim or sources")
  }

  private def order(p: Int): Seq[(String, String)] =
    new Random(seed * 7919L + p).shuffle(entries)

  private def reset(): Unit = {
    graft.text.DedupClusters.clearMemo()
    graft.text.Curation.clearMemo()
    spark.catalog.clearCache()
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def passSeconds: Double = 6.0

  override def setupFailures: Int = failures

  override def quiesce(): Unit = {
    reset()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Load the tables (a first read runs a schema job), then run two
    * untimed passes: the first checks every entry's result digest and
    * builds the serving entries' standing stores and media fixtures, the
    * second warms the JIT and gives each entry the job count its timed
    * runs must reach. */
  def setup(): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
      .foreach(t => graft.Tables.t(spark, dataDir, t))
    val digests = mutable.ArrayBuffer.empty[String]
    order(-1).foreach { case (name, _) =>
      reset()
      try {
        val obs = new Observation(s"digest_$name")
        val ((rows, hash), seconds, jobs) = rec.op(s"check/$name") {
          val df = SparkEntry.queries(name)(spark, dataDir)
          val d = digestOf(df)
          noop(df.observe(obs, d.head, d.tail: _*))
          val m = obs.get
          def long(k: String) = Option(m(k)).map(_.toString.toLong).getOrElse(0L)
          (long("n"), s"${long("lo")}:${long("hi")}")
        }
        System.err.println(f"[perfbench] checked $name%-28s $seconds%7.3f s $jobs%3d jobs, $rows%d rows")
        digests += s"q\t$name\t$rows\t$hash"
        if (!matches(name, rows, hash)) failures += 1
      } catch { case e: Throwable => fail(name, e) }
    }
    calibrate.foreach(p => Files.write(Paths.get(p),
      digests.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)))
    order(-2).foreach { case (name, _) =>
      reset()
      try warmJobs(name) = rec.op(s"warm/$name")(noop(SparkEntry.queries(name)(spark, dataDir)))._3
      catch { case e: Throwable => fail(name, e) }
    }
  }

  private def log(name: String, e: Throwable): Unit =
    System.err.println(s"[perfbench] $name failed: ${e.getClass.getName}: ${e.getMessage}")

  /** A setup failure; a timed one is counted through its [[OpResult]]. */
  private def fail(name: String, e: Throwable): Unit = { failures += 1; log(name, e) }

  private def matches(name: String, rows: Long, hash: String): Boolean =
    pins.queries.get(name) match {
      case None if calibrate.isDefined => true
      case None =>
        System.err.println(s"[perfbench] $name has no pinned digest"); false
      case Some((pr, ph, _)) =>
        val ok = pr == rows && ph.forall(_ == hash)
        if (!ok) System.err.println(
          s"[perfbench] $name digest $rows/$hash, pinned $pr/${ph.getOrElse("-")}")
        ok
    }

  def pass(index: Int): Seq[OpResult] = order(index).map { case (name, layer) =>
    reset()
    Main.collect()
    try {
      val (_, seconds, jobs) = rec.op(s"$index/$name") {
        val df = rec.span(s"$layer.build")(SparkEntry.queries(name)(spark, dataDir))
        rec.span(s"$layer.exec")(noop(df))
      }
      System.err.println(f"[perfbench] $name%-28s $seconds%7.3f s $jobs%3d jobs, pass $index")
      val memoHit = warmJobs.get(name).exists(jobs < _)
      if (memoHit) System.err.println(
        s"[perfbench] $name ran $jobs jobs, ${warmJobs(name)} in warm-up: a memo answered")
      OpResult(name, seconds, warmJobs.contains(name) && !memoHit)
    } catch { case e: Throwable => log(name, e); OpResult(name, 0.0, ok = false) }
  }

  def layerMetrics(rec: Recorder, passWalls: Seq[Double]): Seq[Metric] =
    Layers.metrics(rec, passWalls, Map.empty)
}

object QueryWorkload {
  /** The entries a run times, sized to the run budget: a join and a
    * store read from rel; the near-duplicate self-join (text),
    * IVF-PQ ANN (sim) and the perceptual media judge (sources). */
  val Timed: Seq[String] = Seq("q05_nation_revenue", "nq_join_view",
    "q25_neardup_jaccard", "nq_ivfpq_knn", "nq_media_judge")

  /** The module that defines an entry: the package of the object whose
    * `queries` map holds the function (for example graft.rel.AggStore). */
  def moduleOf(name: String): String =
    SparkEntry.queries(name).getClass.getName.split('.') match {
      case Array("graft", pkg, _*) => pkg
      case parts => parts.mkString(".")
    }

  /** Row count plus an order-independent hash: the sums of the low and
    * high 32 bits of each row's xxhash64. */
  def digestOf(df: DataFrame): Seq[Column] = {
    val cols = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => to_json(df.col(s"`${f.name}`"))
        case _ => df.col(s"`${f.name}`")
      }
    }
    val h = xxhash64(cols: _*)
    Seq(count(lit(1)).as("n"),
      sum(h.bitwiseAND(lit(0xFFFFFFFFL))).as("lo"),
      sum(shiftrightunsigned(h, 32)).as("hi"))
  }
}
