package graft.perfbench

import org.apache.spark.ml.feature.PCA
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.audio.MelSpectrogram
import graft.gen.VoiceDataGen
import graft.ml.{MiSelector, VoicePipeline}

/** voice_train: the paper's pipeline at the reference's 11-phrase
  * scale. An untraced pass is `VoicePipeline.trainAndEvaluate` plus
  * `classificationReport`, with the predictions, the confusion matrix
  * and the report materialized, in a fresh `spark.newSession()` (the
  * pipeline memoizes its time series per session). Setup warms the
  * JVM by computing the time series of [[WarmPhrases]] phrases at the
  * pipeline's default seed in a fresh session, the same work in every
  * run.
  *
  * A traced pass first runs the stages before the fit from their
  * public pieces, each cached and materialized inside its own span
  * (gen.synth to ml.mi_select), then the program's own time series
  * (ml.prefix), fit and evaluation (ml.mlp_fit) and materialization
  * (ml.evaluate). The per-stage split must produce the program's time
  * series, and the pass must reproduce the untraced accuracy and frame
  * count exactly.
  *
  * The run's seed picks one of the pinned generator seeds, so every
  * accuracy is checked against a known value.
  */
final class VoiceWorkload(spark: SparkSession, rec: Recorder, seed: Long,
    pins: Pins) extends Workload {
  import VoiceWorkload._

  private val genSeed = {
    val seeds = pins.voice.keys.toSeq.sorted
    require(seeds.nonEmpty, "the pins file holds no voice seeds")
    seeds(Math.floorMod(seed, seeds.size.toLong).toInt)
  }
  private var extras = Map.empty[String, Double]

  def passSeconds: Double = 24.0

  /** The first warm-up is cold and its length varies from run to run
    * by a third; the median of three is steady. */
  override def setupRepeats: Int = 3

  def setup(): Unit = {
    val s = spark.newSession()
    try VoicePipeline.timeSeries(s, WarmPhrases, VoicePipeline.Seed).count()
    finally s.catalog.clearCache()
  }

  private def check(acc: Double, frames: Long): Boolean = {
    val (pa, pf) = pins.voice(genSeed)
    // pinned to 6 decimals; accuracies of one test split differ by ≥ 1/rows
    val ok = acc >= 0.80 && math.abs(pa - acc) <= 5e-7 && pf == frames
    System.err.println(f"[perfbench] voice seed $genSeed: accuracy $acc%.6f, $frames frames" +
      (if (ok) "" else s", pinned $pa, $pf: WRONG"))
    ok
  }

  def pass(index: Int): Seq[OpResult] = {
    val s = spark.newSession()
    try {
      val ((acc, frames, split), seconds, _) = rec.op(s"voice/$index") {
        if (rec.traced) tracedPass(s) else { val (a, f) = untracedPass(s); (a, f, None) }
      }
      val inStep = split.forall { case (copy, ts) =>
        rec.op(s"check/voice/$index")(sameFrames(copy, ts))._1
      }
      Seq(OpResult("voice", seconds, check(acc, frames) && inStep))
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] voice pass failed: $e")
        Seq(OpResult("voice", 0.0, ok = false))
    } finally s.catalog.clearCache()
  }

  private def materialize(r: VoicePipeline.Result): Unit = {
    r.predictions.write.format("noop").mode("overwrite").save()
    r.confusion.collect()
    VoicePipeline.classificationReport(r.predictions).collect()
  }

  private def untracedPass(s: SparkSession): (Double, Long) = {
    val r = VoicePipeline.trainAndEvaluate(s, VoicePipeline.NPhrases, genSeed)
    materialize(r)
    (r.accuracy, VoicePipeline.timeSeries(s, VoicePipeline.NPhrases, genSeed).count())
  }

  private def cached(df: DataFrame): DataFrame = { val c = df.cache(); c.count(); c }

  /** The stages of `VoicePipeline.timeSeries` from their public pieces,
    * one span each; returns the time series and the seconds of audio. */
  private def stageSplit(s: SparkSession): (DataFrame, Double) = {
    import s.implicits._
    val (clips, segments, audioS) = rec.span("gen.synth") {
      val c = cached(VoiceDataGen.generate(s, VoicePipeline.NPhrases, genSeed))
      val seg = c.select(col("speaker"), col("start_sec"), col("end_sec"))
        .as[(String, Double, Double)].collect().toSeq
      (c, seg.toDF("seg_speaker", "start_sec", "end_sec"), seg.map(_._3).max)
    }
    val mel = rec.span("audio.mel")(cached(new MelSpectrogram().transform(clips.drop("speaker"))))
    val db = rec.span("audio.to_db")(cached(MelSpectrogram.toDb(mel)))
    val pcaFrames = rec.span("ml.pca") {
      val withVec = db.withColumn("mel_vec", array_to_vector(col("mel_db")))
      val pca = new PCA().setK(4).setInputCol("mel_vec").setOutputCol("pca")
      cached(pca.fit(withVec).transform(withVec)
        .withColumn("c", vector_to_array(col("pca")))
        .select(col("frame_time").as("Time"),
          col("c").getItem(0).as("c0"), col("c").getItem(1).as("c1"),
          col("c").getItem(2).as("c2"), col("c").getItem(3).as("c3")))
    }
    val labeled = rec.span("ml.label_join")(cached(
      pcaFrames.join(broadcast(segments),
          col("Time") >= col("start_sec") && col("Time") < col("end_sec"))
        .select(col("Time"), col("c0"), col("c1"), col("c2"), col("c3"),
          col("seg_speaker").as("speaker"))))
    val ts = rec.span("ml.mi_select") {
      val model = new MiSelector().setFeatureCols(Array("c0", "c1", "c2", "c3"))
        .setLabelCol("speaker").setOutputCol("X").fit(labeled)
      cached(model.transform(labeled).select("Time", "X", "speaker"))
    }
    // the program's own plans may match these, so that it would read
    // them from the cache instead of computing them
    Seq(clips, mel, db, pcaFrames, labeled).foreach(_.unpersist(blocking = true))
    (ts, audioS)
  }

  /** The stage split, then the program's own time series, fit and
    * evaluation. */
  private def tracedPass(s: SparkSession): (Double, Long, Option[(DataFrame, DataFrame)]) = {
    val n = VoicePipeline.NPhrases
    val (split, audioS) = stageSplit(s)
    val (ts, frames) = rec.span("ml.prefix") {
      val ts = VoicePipeline.timeSeries(s, n, genSeed)
      (ts, ts.count())
    }
    val r = rec.span("ml.mlp_fit")(VoicePipeline.trainAndEvaluate(s, n, genSeed))
    rec.span("ml.evaluate")(materialize(r))
    val fit = rec.stats(_.name == "ml.mlp_fit")
    extras = Map(
      "gen.audio_s" -> audioS,
      "audio.frames" -> frames.toDouble,
      "audio.mel.busy_cores" -> rec.stats(_.name == "audio.mel").busyCores,
      "ml.mlp_fit.loss_evals" -> rec.jobsNamed(_.name == "ml.mlp_fit", LossEval).toDouble,
      "ml.mlp_fit.busy_cores" -> fit.busyCores,
      "ml.accuracy" -> r.accuracy)
    (r.accuracy, frames, Some((split, ts)))
  }

  /** Whether the stage split produced the program's time series: the
    * same frame times, each with the same speaker and the same X up to
    * floating-point summation order. */
  private def sameFrames(split: DataFrame, ts: DataFrame): Boolean = {
    val a = split.select(col("Time"), col("X").as("xa"), col("speaker").as("sa"))
    val b = ts.select(col("Time"), col("X").as("xb"), col("speaker").as("sb"))
    val bad = not(coalesce(col("sa") === col("sb") &&
      abs(col("xa") - col("xb")) <= lit(1e-9) * greatest(lit(1.0), abs(col("xa"))), lit(false)))
    val r = a.join(b, Seq("Time"), "full_outer")
      .agg(count(lit(1)), sum(when(bad, 1).otherwise(0))).head()
    val (rows, wrong) = (r.getLong(0), Option(r.get(1)).fold(0L)(_.toString.toLong))
    val ok = wrong == 0 && rows == ts.count() && rows == split.count()
    if (!ok) System.err.println(
      s"[perfbench] voice stage split differs from VoicePipeline.timeSeries: " +
        s"$wrong of $rows frames")
    ok
  }

  def layerMetrics(rec: Recorder, passWalls: Seq[Double]): Seq[Metric] = {
    val audioS = extras.getOrElse("gen.audio_s", 0.0)
    Layers.metrics(rec, passWalls,
      extras + ("gen.audio_rt_factor" -> audioS / Main.median(passWalls)))
  }
}

object VoiceWorkload {
  /** Phrases of the warm-up in setup. */
  val WarmPhrases = 2

  /** Call site of the jobs in which the MLP fit evaluates its loss and
    * gradient (MLlib's L-BFGS cost function), once or more per
    * optimizer iteration. */
  val LossEval: String => Boolean = _.startsWith("treeAggregate at LBFGS.scala")
}
