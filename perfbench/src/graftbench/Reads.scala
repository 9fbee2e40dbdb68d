package graftbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.features.{FeatureLookup, TrainingSet}
import graft.ops.Joins
import graft.store.TableStore
import graft.validate.Validation

/** The consumer side of the five feature tables: training-set requests
  * (seeded label batches through the as-of join) and serving lookups (the
  * TTL'd latest snapshot as of a seeded date), plus the naive definitions
  * they are checked against. */
object Reads {

  /** Label dates span the corpus's 24 months. */
  private val FirstDay = java.time.LocalDate.parse("2022-08-01")
  private val Days = 730
  private val ServeFrom = java.time.LocalDate.parse("2023-03-01")
  val TtlDays = 45

  /** A seeded batch of `n` distinct (pk_customer, label_dt) labels. */
  def labels(ctx: Ctx, store: TableStore, ids: Array[Long], n: Int, request: Int): DataFrame = {
    val rnd = new java.util.Random(ctx.seed * 1000003L + request)
    val picked = rnd.ints(0, ids.length).distinct().limit(n.toLong).toArray.map(ids(_))
    val rows = picked.map(id => Row(id, java.sql.Date.valueOf(FirstDay.plusDays(rnd.nextInt(Days)))))
    val schema = StructType(Seq(StructField("pk_customer", LongType, false),
      StructField("label_dt", DateType, false)))
    val probe = store.read(Banking.Tables.head._1).schema
    ctx.spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).select(
      col("pk_customer").cast(probe("pk_customer").dataType).as("pk_customer"),
      col("label_dt").cast(probe(Banking.TimeCol).dataType).as("label_dt"))
  }

  /** A seeded serving date between 2023-03-01 and the corpus's last month,
    * so every table, the demographic one included, has a fresh snapshot. */
  def asOf(ctx: Ctx, request: Int): String =
    ServeFrom.plusDays(new java.util.Random(ctx.seed * 7919L + request).nextInt(518)).toString

  private def prefix(name: String) = s"${name}__"

  /** The training set over all five tables, each read from the store. */
  def trainingSet(ctx: Ctx, store: TableStore, labels: DataFrame): DataFrame =
    TrainingSet.build(labels, "label_dt", Banking.Tables.map { case (table, name, _) =>
      FeatureLookup(ctx.tracer.span("store.read")(store.read(table)), Seq("pk_customer"),
        Banking.TimeCol, prefix = prefix(name))
    })

  /** One training-set request: (rows, content hash) of the materialized set. */
  def trainingRequest(ctx: Ctx, store: TableStore, labels: DataFrame): (DataFrame, (Long, Long)) =
    ctx.tracer.span("request.trainset") {
      val df = trainingSet(ctx, store, labels)
      (df, ctx.tracer.span("features.trainset")(RowHash.of(df)))
    }

  /** One serving request: the latest fresh snapshot of every table; the
    * per-table (rows, content hash). */
  def servingRequest(ctx: Ctx, store: TableStore, day: String): Seq[(Long, Long)] =
    ctx.tracer.span("request.serving") {
      Banking.Tables.map { case (table, name, _) =>
        val features = ctx.tracer.span("store.read")(store.read(table))
        ctx.tracer.span("features.serving")(RowHash.of(serving(features, day, name)))
      }
    }

  def serving(features: DataFrame, day: String, name: String): DataFrame =
    TrainingSet.servingLookup(features, Seq("pk_customer"), Banking.TimeCol, day, TtlDays,
      prefix(name))

  /** No feature snapshot is later than its label. */
  def noLeaks(df: DataFrame): Boolean =
    Validation.leakageCheck(df, "label_dt",
      Banking.Tables.map { case (_, name, _) => prefix(name) + Banking.TimeCol })
      .collect().forall(_.getAs[Long]("n_leaky") == 0)

  /** The same training set from the naive theta-join form. */
  def naiveTrainingSet(store: TableStore, labels: DataFrame): DataFrame =
    Banking.Tables.foldLeft(labels) { case (acc, (table, name, _)) =>
      val f = store.read(table)
      val proj = f.select(col("pk_customer") +: f.columns.filterNot(_ == "pk_customer")
        .map(c => col(c).as(prefix(name) + c)).toSeq: _*)
      Joins.pointInTimeJoinNaive(acc, proj, Seq("pk_customer"), "label_dt",
        prefix(name) + Banking.TimeCol)
    }

  /** The serving view by definition: per customer, the latest snapshot
    * dated within the TTL up to the as-of date. */
  def naiveServing(store: TableStore, table: String, day: String, name: String): DataFrame = {
    val f = store.read(table).as("f")
    val t = col("f." + Banking.TimeCol)
    val fresh = f.where(t <= lit(day) && t >= date_sub(lit(day).cast("date"), TtlDays))
    val latest = fresh.groupBy(col("f.pk_customer").as("k")).agg(max(t).as("__t"))
    fresh.join(latest, col("f.pk_customer") === col("k") && t === col("__t"))
      .select(f.columns.map(c => col("f." + c).as(if (c == "pk_customer") c else prefix(name) + c)).toSeq: _*)
  }
}
