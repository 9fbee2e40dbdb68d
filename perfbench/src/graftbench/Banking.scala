package graftbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.datagen.BankingDataGen
import graft.pipelines.{Pipelines, Runner}
import graft.store.{FeatureRegistry, FeatureStore, Registration, TableStore}
import graft.validate.{Monitor, Validation}

/** The banking corpus and the monthly refresh job, shared by the
  * `feature_refresh` and `training_read` workloads. */
object Banking {

  /** Run date: the refresh resolves `end_date: "actual"` against it. */
  val Today: java.time.LocalDate = java.time.LocalDate.parse("2024-07-15")
  val StartDate = "2023-01-01"
  val Summary = "val_summary"
  val Detail = "val_detail"
  val Keys = Seq("pk_customer", "tpk_release_dt")
  val TimeCol = "tpk_release_dt"

  /** (feature table, pipeline, source table), in the refresh's DAG order. */
  val Tables: Seq[(String, String, String)] = Seq(
    ("fs_cus_demographic", "demographic", "clientes"),
    ("fs_cus_credit_risk", "credit_risk", "buro_credito"),
    ("fs_cus_holding_products", "holding_products", "productos"),
    ("fs_cus_payment_behavior", "payment_behavior", "pagos"),
    ("fs_cus_transactions", "transactions", "transacciones"))

  def pipeline(name: String, sources: Map[String, DataFrame]): DataFrame = name match {
    case "demographic" => Pipelines.demographic(sources("clientes"), StartDate,
      Runner.resolveEndDate("actual", Today))
    case "credit_risk" => Pipelines.creditRisk(sources("buro_credito"))
    case "holding_products" => Pipelines.holdingProducts(sources("productos"))
    case "payment_behavior" => Pipelines.paymentBehavior(sources("pagos"))
    case "transactions" => Pipelines.transactions(sources("transacciones"))
  }

  /** Seeded source tables: the generator over 2n customers, keeping the
    * customers whose `xxhash64(id, seed)` is even (the same predicate on
    * every table), written as parquet under `dir` and read back. */
  def sources(spark: SparkSession, customers: Int, seed: Long, dir: Path): Map[String, DataFrame] =
    BankingDataGen.all(spark, 2 * customers).map { case (name, df) =>
      val path = dir.resolve(name).toString
      df.where(pmod(xxhash64(col("id_cliente"), lit(seed)), lit(2)) === 0)
        .write.mode("overwrite").parquet(path)
      name -> spark.read.parquet(path)
    }

  def params(registry: FeatureRegistry): Runner.Params =
    Runner.Params(startDate = StartDate, monitorTables = Some((Summary, Detail)),
      registry = Some(registry))

  def store(spark: SparkSession, root: Path): (TableStore, FeatureRegistry) =
    (new TableStore(spark, root.resolve("store").toString),
      new FeatureRegistry(spark, root.resolve("registry").toString))

  /** The refresh as one call: untraced, or rebuilt from the public calls
    * it makes with a span around each. */
  def refresh(ctx: Ctx, sources: Map[String, DataFrame], store: TableStore,
              registry: FeatureRegistry): Seq[Runner.PipelineResult] =
    if (!ctx.tracer.active) Runner.run(ctx.spark, sources, store, params(registry), Today)
    else tracedRefresh(ctx, sources, store, registry)

  /** `Runner.run`'s steps, one public call per span. The pipeline's cached
    * frame is filled inside its own span, so pipeline compute is not
    * charged to its first consumer (the cross-check or the store write). */
  private def tracedRefresh(ctx: Ctx, sources: Map[String, DataFrame], store: TableStore,
                            registry: FeatureRegistry): Seq[Runner.PipelineResult] = {
    val tr = ctx.tracer
    Tables.map { case (table, name, sourceName) => tr.span(s"table.$name") {
      val df = tr.span(s"pipelines.$name") {
        val d = pipeline(name, sources).cache()
        ctx.count("pipelines.rows_out", d.count().toDouble)
        d
      }
      try {
        val alreadySaved = store.exists(table)
        val mismatches =
          if (!alreadySaved) Nil
          else tr.span("validate.crosscheck") {
            Validation.crossCheckHistorical(df, tr.span("store.read")(store.read(table)),
              TimeCol, TimeCol)
          }
        ctx.count("validate.mismatched_months", mismatches.size.toDouble)
        val shrinking = mismatches.count(m => m.sourceCnt < m.targetCnt)
        val passed = shrinking == 0
        val report =
          if (!passed) None
          else Some(tr.span(if (alreadySaved) "store.upsert" else "store.overwrite") {
            FeatureStore.save(store, table, df, primaryKeys = Keys, timestampKeys = Seq(TimeCol),
              description = s"graft feature table $table")
          })
        tr.span("validate.monitor") {
          val reg = Monitor.registerValidation(
            java.sql.Timestamp.valueOf(Today.atStartOfDay()),
            database = None, tableName = table, tableType = "historical",
            layer = "ingestion", successfullySaved = report.isDefined,
            outcomes = Map("CROSS_CHECKING" -> Monitor.Outcome(
              Some(if (passed) "SUCCESS" else "FAIL"),
              if (passed) None else Some(s"$shrinking shrinking month(s)"),
              Map("mismatched_months" -> mismatches.size.toString,
                "shrinking_months" -> shrinking.toString))),
            alreadySaved = alreadySaved)
          Monitor.save(ctx.spark, store, Summary, Detail, reg)
        }
        if (!passed) sys.error(s"cross-check failed for $table ($shrinking shrinking month(s))")
        tr.span("store.registry") {
          store.setProperties(table, Map("graft.sourceTables" -> sourceName))
          Registration.registerFeatureTable(store, registry, table)
        }
        val rows = tr.span("store.read")(store.read(table).count())
        Runner.PipelineResult(table, rows, report.get.version, passed)
      } finally df.unpersist()
    }}
  }
}
