package graft.perfbench

/** The per-layer metric set of a traced run. Every workload prints all
  * of it, so a layer a workload leaves idle reads 0. Values are per
  * timed pass: totals over the run divided by its number of passes.
  */
object Layers {
  val QueryLayers = Seq("rel", "text", "sim", "sources")
  val VoiceSpans = Seq("gen.synth", "audio.mel", "audio.to_db", "ml.pca",
    "ml.label_join", "ml.mi_select", "ml.prefix", "ml.mlp_fit", "ml.evaluate")
  val StoreSpans = Seq("rel.store.ingest", "rel.store.read", "rel.store.compact")

  /** Workload-specific values that are not span totals. */
  val Extras: Seq[(String, String)] = Seq(
    "gen.audio_s" -> "s", "gen.audio_rt_factor" -> "audio-s/s",
    "audio.frames" -> "count", "audio.mel.busy_cores" -> "cores",
    "ml.mlp_fit.loss_evals" -> "count", "ml.mlp_fit.busy_cores" -> "cores",
    "ml.accuracy" -> "ratio",
    "rel.store.ingest.p50_s" -> "s", "rel.store.read.p50_s" -> "s",
    "rel.store.compact.p50_s" -> "s", "rel.store.kb" -> "KB",
    "rel.store.write_amp" -> "ratio")

  def metrics(rec: Recorder, passWalls: Seq[Double],
      extras: Map[String, Double],
      written: Map[String, (Long, Long)] = Map.empty): Seq[Metric] = {
    val n = passWalls.size.toDouble
    def per(v: Double) = v / n
    val spans = rec.spans
    val query = QueryLayers.flatMap { l =>
      val b = rec.stats(_.name == s"$l.build")
      val x = rec.stats(_.name == s"$l.exec")
      val all = rec.stats(s => s.name == s"$l.build" || s.name == s"$l.exec")
      Seq(
        Metric(s"$l.calls", per(x.calls), "count"),
        Metric(s"$l.build_s", per(b.wallS), "s"),
        Metric(s"$l.exec_s", per(x.wallS), "s"),
        Metric(s"$l.jobs", per(all.jobs), "count"),
        Metric(s"$l.tasks", per(all.tasks), "count"),
        Metric(s"$l.task_s", per(all.taskS), "s"),
        Metric(s"$l.idle_s", per(all.idleS), "s"),
        Metric(s"$l.shuffle_mb", per(all.shuffleMb), "MB"),
        Metric(s"$l.spill_mb", per(all.spillMb), "MB"),
        Metric(s"$l.failed_tasks", per(all.failedTasks), "count"))
    }
    val voice = VoiceSpans.flatMap { v =>
      val s = rec.stats(_.name == v)
      Seq(
        Metric(s"$v.wall_s", per(s.wallS), "s"),
        Metric(s"$v.jobs", per(s.jobs), "count"),
        Metric(s"$v.tasks", per(s.tasks), "count"),
        Metric(s"$v.task_s", per(s.taskS), "s"),
        Metric(s"$v.idle_s", per(s.idleS), "s"))
    }
    val store = StoreSpans.flatMap { v =>
      val s = rec.stats(_.name == v)
      val (files, bytes) = written.getOrElse(v, (0L, 0L))
      Seq(
        Metric(s"$v.calls", per(s.calls), "count"),
        Metric(s"$v.wall_s", per(s.wallS), "s"),
        Metric(s"$v.jobs", per(s.jobs), "count"),
        Metric(s"$v.task_s", per(s.taskS), "s"),
        Metric(s"$v.idle_s", per(s.idleS), "s"),
        Metric(s"$v.files_written", per(files), "count"),
        Metric(s"$v.kb_written", per(bytes / 1e3), "KB"))
    }
    val extra = Extras.map { case (k, u) => Metric(k, extras.getOrElse(k, 0.0), u) }
    val spanWall = spans.map(_.wallS).sum
    query ++ voice ++ store ++ extra ++ Seq(
      Metric("trace.wall_s", Main.median(passWalls), "s"),
      Metric("unattributed_s", per(passWalls.sum - spanWall), "s"))
  }
}
