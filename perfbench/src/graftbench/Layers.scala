package graftbench

/** Per-layer metrics of a traced run, from its spans and counters: each is
  * the median over the run's rounds of a per-round value. The tracing
  * overhead needs untraced runs and is added by `perfbench/run.py`. */
object Layers {

  def compute(ctx: Ctx, workload: String): Map[String, Double] = {
    val tr = ctx.tracer
    val rounds = ctx.tracedRounds.toSeq
    def perRound(f: Seq[Span] => Double): Double =
      if (rounds.isEmpty) 0.0 else Common.median(rounds.map(r => f(tr.spans.filter(_.request == r))))
    def secs(pred: String => Boolean)(ss: Seq[Span]): Double =
      ss.filter(s => pred(s.name)).map(_.seconds).sum
    def named(name: String) = perRound(secs(_ == name))
    def stat(pred: String => Boolean, f: TaskStats => Double): Double =
      perRound(ss => ss.filter(s => pred(s.name)).map(s => f(s.stats)).sum)
    def counter(name: String): Double =
      if (rounds.isEmpty) 0.0 else Common.median(rounds.map(r => ctx.counters.getOrElse((r, name), 0.0)))
    def med(sample: String): Double =
      ctx.samples.get(sample).map(s => Common.median(s.toSeq)).getOrElse(0.0)
    val mb = 1e6
    val m = Map.newBuilder[String, Double]

    Main.Pipelines.foreach(p => m += s"pipelines.$p.busy_s" -> named(s"pipelines.$p"))
    m += "pipelines.shuffle_mb" -> stat(_.startsWith("pipelines."), _.shuffleWriteBytes / mb)
    m += "pipelines.rows_out" -> counter("pipelines.rows_out")
    m += "validate.crosscheck_s" -> named("validate.crosscheck")
    m += "validate.mismatched_months" -> counter("validate.mismatched_months")
    m += "validate.monitor_s" -> named("validate.monitor")
    m += "store.overwrite_s" -> named("store.overwrite")
    m += "store.upsert_s" -> named("store.upsert")
    m += "store.registry_s" -> named("store.registry")
    m += "store.written_mb" -> stat(_ => true, _.outputBytes / mb)
    m += "store.files_written" -> counter("store.files_written")
    m += "store.write_amp" -> counter("store.write_amp")
    m += "store.read_s" -> named("store.read")
    m += "store.read_mb" -> stat(n => n == "store.read" || n.startsWith("features."), _.inputBytes / mb)
    m += "features.trainset_s" -> named("request.trainset")
    m += "features.serving_s" -> named("request.serving")
    m += "features.shuffle_mb" -> stat(_.startsWith("features."), _.shuffleWriteBytes / mb)
    val labels = counter("features.labels")
    m += "features.rows_scanned_per_label" ->
      (if (labels == 0) 0.0 else stat(_ == "features.trainset", _.inputRecords.toDouble) / labels)
    m += "features.trainset_tail_s" ->
      ctx.samples.get("trainset_s").map(s => Common.tail(s.toSeq)).getOrElse(0.0)
    Curation.Entries.foreach { e =>
      m += s"curation.$e.busy_s" -> named(s"curation.$e")
      m += s"curation.$e.shuffle_mb" -> stat(_ == s"curation.$e", _.shuffleWriteBytes / mb)
      m += s"curation.$e.exchanges" -> counter(s"curation.$e.exchanges")
    }
    m += "spark.tasks" -> stat(_ => true, _.tasks.toDouble)
    m += "spark.cpu_s" -> stat(_ => true, _.cpuNs / 1e9)
    m += "spark.gc_s" -> stat(_ => true, _.gcMs / 1e3)
    m += "spark.spill_mb" -> stat(_ => true, _.spillBytes / mb)
    m += "spark.task_skew" -> perRound(ss => (1.0 +: ss.map(_.stats.skew)).max)
    m += "spark.plan_s" -> perRound(ss => ss.filter(s => tr.children(s).isEmpty).map(tr.planSeconds).sum)

    m += "refresh_s" -> med("refresh_s")
    m += "incremental_s" -> med("incremental_s")
    m += "store_mb" -> med("store_mb")
    m += "trainset_p50_s" -> med("trainset_s")
    m += "serving_p50_s" -> med("serving_s")
    m += "curation_s" -> med("curation_s")
    m += "pinned_mb" -> ctx.pinnedBytes / mb
    m += "error_rate" -> ctx.failed.toDouble / math.max(1L, ctx.attempted)
    m.result()
  }

  /** For each pipeline (refresh) and each catalog entry (curation) of the
    * last traced round: where its time went, and the largest share. */
  def dominant(ctx: Ctx, workload: String): String = {
    val tr = ctx.tracer
    val last = ctx.tracedRounds.lastOption.getOrElse(-1)
    val spans = tr.spans.filter(_.request == last)
    def row(name: String, parts: Seq[(String, Double)]): (String, String) = {
      val top = if (parts.isEmpty) "none" else parts.maxBy(_._2)._1
      name -> Json.obj(parts.map { case (k, v) => k -> Json.num(v) } :+ ("dominant" -> Json.str(top)))
    }
    val rows = workload match {
      case "feature_refresh" =>
        // per table, over the cold refresh and the rerun: the layer of each
        // child span of the table's span
        Main.Pipelines.map { p =>
          val parts = spans.filter(_.name == s"table.$p").flatMap(tr.children)
            .groupBy(_.name.takeWhile(_ != '.')).map { case (k, ss) => k -> ss.map(_.seconds).sum }
          row(p, parts.toSeq.sortBy(_._1))
        }
      case "curation" =>
        // per entry, the span's wall time split into driver-only time (no
        // task of the entry running: planning, code generation, scheduling)
        // and task-active time, the latter shared out by the tasks' CPU, GC
        // and remaining (I/O and shuffle wait) time
        spans.filter(_.name.startsWith("curation.")).map { s =>
          val st = s.stats
          val active = math.min(st.activeSeconds, s.seconds)
          val run = math.max(st.runMs / 1e3, 1e-9)
          val cpu = math.min(st.cpuNs / 1e9, run)
          val gc = math.min(st.gcMs / 1e3, run - cpu)
          row(s.name.stripPrefix("curation."), Seq(
            "driver_s" -> (s.seconds - active), "task_cpu_s" -> active * cpu / run,
            "task_gc_s" -> active * gc / run, "task_wait_s" -> active * (run - cpu - gc) / run))
        }
      case _ =>
        Seq("request.trainset", "request.serving").map { n =>
          val parts = spans.filter(_.name == n).flatMap(tr.children)
            .groupBy(_.name.takeWhile(_ != '.')).map { case (k, ss) => k -> ss.map(_.seconds).sum }
          row(n, parts.toSeq.sortBy(_._1))
        }
    }
    Json.obj(rows)
  }
}
