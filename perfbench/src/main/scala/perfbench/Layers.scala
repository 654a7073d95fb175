package perfbench

/** Minimal JSON writer for the result line and the trace artifact. */
object Json {
  def apply(v: Any): String = v match {
    case null                 => "null"
    case s: String            => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case d: Double            => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean           => b.toString
    case n: Int               => n.toString
    case n: Long              => n.toString
    case m: Map[_, _]         => m.toSeq.map { case (k, x) => apply(k.toString) + ": " + apply(x) }.mkString("{", ", ", "}")
    case kv: Seq[_] if kv.forall(_.isInstanceOf[(_, _)]) && kv.nonEmpty =>
      kv.map { case (k, x) => apply(k.toString) + ": " + apply(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_]      => xs.map(apply).mkString("[", ", ", "]")
    case other                => apply(other.toString)
  }

  def result(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, Double, String)]): String =
    apply(Seq("correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (n, v, u) => n -> Seq("value" -> v, "unit" -> u) }))
}

/** Per-layer metrics of a traced run, per timed round unless marked. */
object Layers {
  def metrics(t: Tracer, rounds: Seq[Span], cores: Int, sessionStart: Double, warmup: Double,
      rddsMax: Int, cachedMax: Double): Seq[(String, Double, String)] = {
    val n = rounds.size.toDouble
    val wall = rounds.map(r => r.end - r.start).sum / 1e9
    val spans = t.all.filter(s => rounds.exists(r => s.start >= r.start && s.start < r.end))
    def total(name: String): Double = spans.filter(_.name == name).map(s => s.end - s.start).sum / 1e9
    val lt = t.listenerTotals(rounds).withDefaultValue(0.0)
    val runner = total("runner.run")
    val gates = total("op.gate")
    def per(k: String): (String, Double, String) = (k, lt(k) / n, unit(k))
    Seq(
      ("session.start_s", sessionStart, "s"),
      ("session.warmup_s", warmup, "s"),
      ("udf.datamart_s", total("udf.datamart") / n, "s"),
      ("udf.materialize_s", total("udf.materialize") / n, "s"),
      ("runner.run_s", runner / n, "s"),
      ("runner.model_build_s", total("runner.model_build") / n, "s"),
      ("runner.write_s", total("runner.write") / n, "s"),
      ("runner.slot_idle_frac", if (runner > 0) 1 - total("op.model") / (cores * runner) else 0.0, "frac"),
      ("query.build_s", total("query.build") / n, "s"),
      ("query.force_s", total("query.force") / n, "s")) ++
    Seq("stream.queries", "stream.batches", "stream.trigger_s", "stream.add_batch_s", "stream.wal_commit_s",
      "stream.commit_offsets_s", "stream.plan_s", "stream.state_commit_s").map(per) ++
    Seq(("stream.lifecycle_s", if (gates > 0) (gates - lt("stream.trigger_s")) / n else 0.0, "s")) ++
    Seq("engine.analysis_s", "engine.optimize_s", "engine.physical_plan_s", "engine.jobs", "engine.tasks",
      "engine.failed_tasks", "engine.job_s", "engine.driver_gap_s", "engine.task_overhead_s",
      "engine.task_run_s", "engine.task_cpu_s", "engine.gc_s").map(per) ++
    Seq(("engine.core_util", lt("engine.task_run_s") / (cores * wall), "frac")) ++
    Seq("engine.input_mb", "engine.output_mb", "engine.shuffle_write_mb", "engine.shuffle_read_mb",
      "engine.shuffle_fetch_wait_s", "engine.spill_mb", "engine.aqe_replans").map(per) ++
    Seq(("engine.persisted_rdds_max", rddsMax.toDouble, "count"), ("engine.cached_mb_max", cachedMax, "MB"))
  }

  def unit(name: String): String =
    if (name.endsWith("_s")) "s" else if (name.endsWith("_mb")) "MB" else if (name.endsWith("_frac")) "frac"
    else "count"

  /** The traced run's artifact: metrics, self time per layer (which adds up
    * to the rounds' wall time) and every span, relative to the first round.
    */
  def writeArtifact(path: String, workload: String, seed: Long, seconds: Double, t: Tracer, rounds: Seq[Span],
      endToEnd: Seq[(String, Double, String)], layers: Seq[(String, Double, String)], self: Map[String, Double],
      calls: Int, tailPercentile: Double, attempted: Int, failed: Int): Unit = {
    val origin = rounds.map(_.start).min
    val wall = rounds.map(r => r.end - r.start).sum / 1e9
    val spans = (t.all ++ t.engineJobs(rounds).map(_._2)).sortBy(_.start).map { s =>
      Seq(s.name, s.id, s.parent, s.lane, math.round((s.start - origin) / 1e3) / 1e3,
        math.round((s.end - origin) / 1e3) / 1e3)
    }
    val doc = Seq(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "cores" -> Main.Cores,
      "rounds" -> rounds.size, "calls" -> calls, "call_tail_percentile" -> tailPercentile,
      "attempted" -> attempted, "failed" -> failed,
      "failed_frac" -> failed.toDouble / math.max(1, attempted),
      "end_to_end_traced" -> endToEnd.map { case (k, v, u) => k -> Seq("value" -> v, "unit" -> u) },
      "per_layer" -> layers.map { case (k, v, u) => k -> Seq("value" -> v, "unit" -> u) },
      "self_time_s" -> Seq(
        "rounds_wall_s" -> wall,
        "sum_of_layers_s" -> self.values.sum,
        "per_round_wall_s" -> wall / rounds.size,
        "by_layer" -> self.toSeq.sortBy(-_._2).map { case (k, v) => k -> v },
        "by_layer_per_round" -> self.toSeq.sortBy(-_._2).map { case (k, v) => k -> v / rounds.size }),
      "span_fields" -> Seq("name", "id", "parent", "lane", "start_ms", "end_ms"),
      "spans" -> spans)
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(p, Json(doc) + "\n")
  }
}
