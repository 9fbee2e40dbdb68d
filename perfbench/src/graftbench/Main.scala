package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark harness entry point. Runs one workload with one seed in one
  * local-mode process and writes its result files; `perfbench/run.py`
  * builds, launches and reports.
  *
  * {{{
  * Main --workload <feature_refresh|curation> --seed <n>
  *      --seconds <s> --trace <0|1> --work <dir> --out <prefix> --data <dir>
  * Main --record-fixtures <samples> --work <dir> --out <file> --data <dir>
  * }}}
  */
object Main {

  /** Sizes, chosen so 22 runs of each workload fit in under an hour on a
    * four-core machine; see perfbench/README.md. */
  object Size {
    val Customers = 500
    val LabelsPerRequest = 100
    val CurationPermille = 30
    val SetupReps = 3
  }

  val Pipelines = Seq("transactions", "credit_risk", "payment_behavior", "holding_products", "demographic")

  /** Per-layer metrics in output order, with units. */
  val PerLayer: Seq[(String, String)] =
    Pipelines.map(p => s"pipelines.$p.busy_s" -> "s") ++ Seq(
      "pipelines.shuffle_mb" -> "MB", "pipelines.rows_out" -> "count",
      "validate.crosscheck_s" -> "s", "validate.mismatched_months" -> "count",
      "validate.monitor_s" -> "s",
      "store.overwrite_s" -> "s", "store.upsert_s" -> "s", "store.registry_s" -> "s",
      "store.written_mb" -> "MB", "store.files_written" -> "count", "store.write_amp" -> "ratio",
      "store.read_s" -> "s", "store.read_mb" -> "MB",
      "features.trainset_s" -> "s", "features.serving_s" -> "s", "features.shuffle_mb" -> "MB",
      "features.rows_scanned_per_label" -> "ratio", "features.trainset_tail_s" -> "s") ++
      Curation.Entries.flatMap(e => Seq(s"curation.$e.busy_s" -> "s",
        s"curation.$e.shuffle_mb" -> "MB", s"curation.$e.exchanges" -> "count")) ++ Seq(
      "spark.tasks" -> "count", "spark.cpu_s" -> "s", "spark.gc_s" -> "s",
      "spark.spill_mb" -> "MB", "spark.task_skew" -> "ratio", "spark.plan_s" -> "s",
      "refresh_s" -> "s", "incremental_s" -> "s", "store_mb" -> "MB",
      "trainset_p50_s" -> "s", "serving_p50_s" -> "s", "curation_s" -> "s",
      "pinned_mb" -> "MB", "error_rate" -> "ratio", "trace.overhead_s" -> "s")

  /** Each workload's two steps: (step-1 sample, step-2 sample). */
  val Steps = Map(
    "feature_refresh" -> ("refresh_s", "month_s"),
    "curation" -> ("curation_s", "dedup_s"))

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Files.createDirectories(Paths.get(opts("work")).toAbsolutePath)
    val data = Paths.get(opts("data")).toAbsolutePath
    val spark = session(work)
    try {
      opts.get("record-fixtures") match {
        case Some(ks) =>
          val lines = Curation.record(spark, data, Size.CurationPermille,
            ks.split(',').map(_.toInt).toSeq, work)
          Files.write(Paths.get(opts("out")), (lines.mkString("\n") + "\n").getBytes(UTF_8))
        case None => runWorkload(spark, opts, work, data)
      }
    } finally spark.stop()
  }

  private def session(work: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      // the catalog bench's session settings, so entries plan the same way
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
      // everything the run writes stays under its work directory
      .config("spark.local.dir", Files.createDirectories(work.resolve("spark-local")).toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def runWorkload(spark: SparkSession, opts: Map[String, String], work: Path,
                          data: Path): Unit = {
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val traced = opts("trace") == "1"
    val out = opts("out")
    val tracer = new Tracer(spark.sparkContext, traced)
    val ctx = new Ctx(spark, tracer, work, seed, opts("seconds").toDouble)
    val (_, wall) = ctx.timed(workload match {
      case "feature_refresh" =>
        Refresh.run(ctx, Size.Customers, Size.LabelsPerRequest, Size.SetupReps)
      case "curation" =>
        Curation.run(ctx, data, Curation.readFixtures(data.resolve("curation_fixtures.txt")),
          Size.CurationPermille, Size.SetupReps)
      case other => sys.error(s"unknown workload: $other")
    })
    ctx.pinnedBytes = org.apache.spark.GraftBenchAccess.pinnedBytes(spark.sparkContext)
    tracer.settle()

    val (step1, step2) = Steps(workload)
    def med(name: String): Double = ctx.samples.get(name).map(s => Common.median(s.toSeq)).getOrElse(0.0)
    def n(name: String): Int = ctx.samples.get(name).map(_.size).getOrElse(0)
    val endToEnd = Seq(
      ("setup_s", med("setup_s"), "s", n("setup_s")),
      ("step1_s", med(step1), "s", n(step1)),
      ("step2_s", med(step2), "s", n(step2)))
    val layers = if (traced) Layers.compute(ctx, workload) else Map.empty[String, Double]
    val reported =
      if (traced) PerLayer.map { case (m, unit) => (m, layers.getOrElse(m, 0.0), unit) }
      else endToEnd.map { case (m, v, unit, _) => (m, v, unit) }
    val correct = ctx.failed == 0 && ctx.attempted > 0 &&
      (traced || endToEnd.forall { case (_, v, _, k) => k > 0 && v > 0 })
    val result = Json.obj(Seq(
      "correct" -> correct.toString, "attempted" -> Json.num(ctx.attempted),
      "failed" -> Json.num(ctx.failed),
      "metrics" -> Json.obj(reported.map { case (m, v, unit) =>
        m -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit)))
      })))

    // every sample series of the run, with its median and count
    val series = ctx.samples.toSeq.map { case (m, xs) =>
      m -> Json.obj(Seq("median" -> Json.num(med(m)), "samples" -> Json.num(xs.size.toLong),
        "values" -> Json.arr(xs.toSeq.map(Json.num))))
    }
    val detail = Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> Json.num(seed), "trace" -> traced.toString,
      "fingerprint" -> Fingerprint.json(spark, seed),
      "wall_s" -> Json.num(wall),
      "end_to_end" -> Json.obj(endToEnd.map { case (m, v, unit, k) =>
        m -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit), "samples" -> Json.num(k.toLong)))
      }),
      "samples" -> Json.obj(series),
      "pinned_mb" -> Json.num(ctx.pinnedBytes / 1e6),
      "error_rate" -> Json.num(ctx.failed.toDouble / math.max(1L, ctx.attempted)),
      "failures" -> Json.arr(ctx.failures.toSeq.map(Json.str)),
      "per_layer" -> Json.obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "dominant" -> (if (traced) Layers.dominant(ctx, workload) else "{}")))
    Files.write(Paths.get(out + ".detail.json"), detail.getBytes(UTF_8))
    if (traced) Files.write(Paths.get(out + ".spans.jsonl"),
      (tracer.toJsonLines.mkString("\n") + "\n").getBytes(UTF_8))
    Files.write(Paths.get(out + ".result.json"), result.getBytes(UTF_8))
  }
}

/** The fingerprint stamped on every result: wall times compare only
  * between results whose fingerprints agree apart from the seed. */
object Fingerprint {
  def json(spark: SparkSession, seed: Long): String = {
    val memKb = scala.util.Try(scala.io.Source.fromFile("/proc/meminfo").getLines()
      .find(_.startsWith("MemTotal:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)).getOrElse(0L)
    def prop(k: String) = Json.str(sys.props.getOrElse(k, ""))
    Json.obj(Seq(
      "nproc" -> Json.num(Runtime.getRuntime.availableProcessors().toLong),
      "mem_total_mb" -> Json.num(memKb / 1024),
      "driver_memory" -> prop("graftbench.driverMemory"),
      "max_heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / (1024 * 1024)),
      "jvm" -> Json.str(s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}"),
      "spark" -> Json.str(spark.version),
      "git_sha" -> prop("graftbench.gitSha"),
      "source_sha" -> prop("graftbench.sourceSha"),
      "seed" -> Json.num(seed)))
  }
}
