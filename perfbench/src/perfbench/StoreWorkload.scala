package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.rel.{AggStore, CardinalityStore, Cms, JoinView, KmvStore, QuantileStore}

/** store_ingest: lineitem and events arrive in batches (the seed salts
  * the hash that assigns rows to batches) and go through six batch-
  * partitioned stores. Every ingest is followed by a read of the same
  * store, and every [[CompactEvery]] batches each store compacts and
  * is read again. Each pass writes into a fresh directory.
  *
  * Checks: a read must not change across a compaction (in the warm-up
  * too), and each store's final answer must equal its answer over all
  * rows ingested as one batch, which is pinned. The answer is the read
  * itself, except that the KLL store is compared on its exact row
  * counts only (its retained items depend on merge order) and the HLL
  * store on its merged registers (a union of several sketches estimates
  * from the same registers by another formula than a single sketch
  * does).
  */
final class StoreWorkload(spark: SparkSession, rec: Recorder, dataDir: String,
    storeRoot: String, seed: Long, pins: Pins, calibrate: Option[String])
    extends Workload {
  import StoreWorkload._

  private val lineitem = Tables.lineitem(spark, dataDir)
  private val part = Tables.part(spark, dataDir)
  private val events = Tables.events(spark, dataDir)
    .withColumn("h", xxhash64(col("user_id"), lit(42L)))
  private val probes = spark.range(0, 200).toDF("user_id")
  private val byType = Seq("event_type")
  private val byFlag = Seq("l_returnflag", "l_linestatus")

  /** The arriving batches, cut in setup and held in memory, so that an
    * ingest reads its batch and not the whole table. */
  private lazy val batches: Map[(String, Int), DataFrame] =
    (for ((df, key) <- Seq(lineitem -> "l_orderkey", events -> "event_id");
          b <- 0 until NBatches) yield {
      val slice = df.filter(pmod(xxhash64(col(key), lit(seed)), lit(NBatches)) === b).cache()
      slice.count()
      (key, b) -> slice
    }).toMap

  /** Batch `b` of lineitem (by order key) or events (by event id). */
  private def batch(b: Int)(df: DataFrame): DataFrame =
    batches((if (df.columns.contains("l_orderkey")) "l_orderkey" else "event_id", b))

  private def rows(df: DataFrame): Seq[String] = df.collect().toSeq.map(canon).sorted

  /** A row as text, with array elements in sorted order. */
  private def canon(r: Row): String = r.toSeq.map {
    case xs: scala.collection.Seq[_] => xs.map(String.valueOf).sorted.mkString("[", ",", "]")
    case v => String.valueOf(v)
  }.mkString("|")

  private final case class Store(name: String,
      ingest: (String, Long, DataFrame => DataFrame) => Unit, read: String => Seq[String],
      compact: (String, Int) => Unit, checked: String => String = identity,
      state: Option[String => Seq[String]] = None) {
    /** The answer compared with the pinned one-batch answer. */
    def answer(path: String, lastRead: Seq[String]): Seq[String] =
      state.fold(lastRead.map(checked))(_(path))
  }

  private val registers = udf((bytes: Array[Byte]) =>
    org.apache.datasketches.hll.GraftHllAccess.registerPairs(bytes))

  /** Digest of the per-type HLL registers of the union of a store's sketches. */
  private def hllRegisters(path: String): Seq[String] = {
    val regs = spark.read.parquet(path)
      .groupBy("event_type").agg(hll_union_agg(col("sketch"), lit(false)).as("u"))
      .select(col("event_type"), explode(registers(col("u"))).as("p"))
      .collect().map(r => s"${r.getString(0)}:${r.getStruct(1).get(0)}:${r.getStruct(1).get(1)}")
      .sorted
    Seq(s"${regs.length} registers, digest ${scala.util.hashing.MurmurHash3.orderedHash(regs)}")
  }

  private val stores = Seq(
    Store("agg",
      (p, b, sel) => AggStore.applyBatch(sel(lineitem), byFlag,
        "l_extendedprice", p, b),
      p => rows(AggStore.aggFromStore(spark, p, byFlag)),
      (p, t) => AggStore.compactThrough(spark, p, byFlag, t)),
    Store("join_view",
      (p, b, sel) => JoinView.applyFactBatch(sel(lineitem), part,
        "l_partkey", "p_partkey", "p_brand", "l_extendedprice", p, b),
      p => rows(JoinView.viewAtGrain(spark, p, "p_brand")),
      (p, t) => JoinView.compactThrough(spark, p, "p_partkey", "p_brand", t)),
    Store("hll",
      (p, b, sel) => CardinalityStore.applyBatch(sel(events), byType,
        "user_id", p, b),
      p => rows(CardinalityStore.estimateFromStore(spark, p, byType)),
      (p, t) => CardinalityStore.compactThrough(spark, p, byType, t),
      state = Some(hllRegisters)),
    Store("kmv",
      (p, b, sel) => KmvStore.applyBatch(sel(events), byType, "h", p, b, 64),
      p => rows(KmvStore.sketchesFromStore(spark, p, byType, 64)),
      (p, t) => KmvStore.compactThrough(spark, p, byType, 64, t)),
    Store("kll",
      (p, b, sel) => QuantileStore.applyBatch(sel(events), byType,
        "value", p, b, 256),
      p => rows(QuantileStore.quantilesOf(
        QuantileStore.sketchesFromStore(spark, p, byType, 256), byType,
        Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)))
        .select("event_type", "n_rows", "p50", "p90", "p99")),
      (p, t) => QuantileStore.compactThrough(spark, p, byType, 256, t),
      checked = r => r.split('|').take(2).mkString("|")),
    Store("cms",
      (p, b, sel) => Cms.applyBatch(sel(events), "user_id", p, b),
      p => rows(Cms.estimateFromStore(spark, p, probes, "user_id")),
      (p, t) => Cms.compactThrough(spark, p, t)))

  private var expected = Map.empty[String, Seq[String]]
  private var wrongReads = 0
  private val written = mutable.Map.empty[String, (Long, Long)]
  private var storeBytes = 0L
  private val latencies = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

  def passSeconds: Double = 12.0

  /** Load the pinned one-batch answers, cut the batches and warm the JVM
    * with one untimed batch and compaction through every store; with
    * `calibrate`, compute the answers by ingesting every row as batch 0
    * and write them as pins. */
  def setup(): Unit = calibrate match {
    case None =>
      expected = pins.stores
      batches
      passOver(-1, batchCount = 1, compactEvery = 1)
      latencies.clear()
      written.clear()
      storeBytes = 0L
    case Some(out) =>
      val root = new File(s"$storeRoot/monolithic")
      delete(root)
      expected = stores.map { st =>
        val p = s"$root/${st.name}"
        st.ingest(p, 0L, identity)
        st.name -> st.answer(p, st.read(p))
      }.toMap
      delete(root)
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        stores.flatMap(st => expected(st.name).map(l => s"s\t${st.name}\t$l\n"))
          .mkString.getBytes("UTF-8"))
  }

  private var lastPass: Option[(String, collection.Map[String, Seq[String]])] = None

  def pass(index: Int): Seq[OpResult] = passOver(index, NBatches, CompactEvery)

  private def passOver(index: Int, batchCount: Int, compactEvery: Int): Seq[OpResult] = {
    delete(new File(storeRoot))
    val root = new File(s"$storeRoot/pass-$index")
    val out = mutable.ArrayBuffer.empty[OpResult]
    val last = mutable.Map.empty[String, Seq[String]]

    def run(kind: String, st: Store, b: Int)(body: String => Unit): Unit = {
      val p = s"$root/${st.name}"
      val before = if (rec.traced) files(new File(p)) else Map.empty[String, (Long, Long)]
      val ok = try {
        val (_, seconds, _) = rec.op(s"$index/${st.name}/$kind/$b")(
          rec.span(s"rel.store.$kind")(body(p)))
        latencies.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += seconds
        out += OpResult(s"${st.name}/$kind/$b", seconds, ok = true)
        true
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] ${st.name} $kind $b failed: $e")
        out += OpResult(s"${st.name}/$kind/$b", 0.0, ok = false)
        false
      }
      if (ok && rec.traced) {
        val after = files(new File(p))
        val changed = after.filter { case (f, v) => !before.get(f).contains(v) }
        val (n, bytes) = written.getOrElse(s"rel.store.$kind", (0L, 0L))
        written(s"rel.store.$kind") = (n + changed.size, bytes + changed.values.map(_._1).sum)
      }
    }

    def wrong(st: Store, what: String): Unit = {
      System.err.println(s"[perfbench] ${st.name}: $what")
      wrongReads += 1
    }

    for (b <- 0 until batchCount; st <- stores) {
      run("ingest", st, b)(p => st.ingest(p, b.toLong, batch(b)))
      run("read", st, b)(p => last(st.name) = st.read(p))
      if ((b + 1) % compactEvery == 0) {
        val before = last.get(st.name).map(_.map(st.checked))
        run("compact", st, b)(p => st.compact(p, b))
        run("read", st, b)(p => last(st.name) = st.read(p))
        if (last.get(st.name).map(_.map(st.checked)) != before)
          wrong(st, s"read changed across compaction through batch $b")
      }
    }
    storeBytes += files(root).values.map(_._1).sum
    lastPass = Some((root.getPath, last))
    out.toSeq
  }

  /** Compare the last pass's final answers with the pinned ones. */
  override def finish(): Int = {
    for ((root, last) <- lastPass.toSeq; st <- stores) {
      val got = last.get(st.name).map(r => st.answer(s"$root/${st.name}", r))
      if (!got.contains(expected.getOrElse(st.name, Nil))) {
        System.err.println(s"[perfbench] ${st.name}: final answer $got differs " +
          s"from the one-batch answer ${expected.get(st.name)}")
        wrongReads += 1
      }
    }
    delete(new File(storeRoot))
    wrongReads
  }

  def layerMetrics(rec: Recorder, passWalls: Seq[Double]): Seq[Metric] = {
    val passes = passWalls.size.toDouble
    val kb = storeBytes / 1e3 / passes
    val writtenKb = written.values.map(_._2).sum / 1e3 / passes
    def p50(kind: String) = Main.median(latencies.getOrElse(kind, Nil).toSeq)
    Layers.metrics(rec, passWalls, Map(
      "rel.store.ingest.p50_s" -> p50("ingest"),
      "rel.store.read.p50_s" -> p50("read"),
      "rel.store.compact.p50_s" -> p50("compact"),
      "rel.store.kb" -> kb,
      "rel.store.write_amp" -> (if (kb > 0) writtenKb / kb else 0.0)),
      written.toMap)
  }
}

object StoreWorkload {
  val NBatches = 2
  val CompactEvery = 2

  /** Every regular file under `dir`: path -> (bytes, modification time). */
  def files(dir: File): Map[String, (Long, Long)] =
    if (!dir.exists()) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(dir.toPath)
      try s.iterator().asScala.map(_.toFile).filter(_.isFile)
        .map(f => f.getPath -> (f.length(), f.lastModified())).toMap
      finally s.close()
    }

  def delete(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }
}
