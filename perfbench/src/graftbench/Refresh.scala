package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.pipelines.Runner
import graft.store.TableStore

/** `feature_refresh`: the monthly job and its consumers. Each round is a
  * cold refresh into an empty store (step 1), then the following month
  * (step 2): an identical-source rerun (the cross-check and upsert path) and
  * seeded read requests against the refreshed store, training sets through
  * the as-of join and serving lookups. */
object Refresh {

  def run(ctx: Ctx, customers: Int, labelsPerRequest: Int, setupReps: Int): Unit = {
    val spark = ctx.spark
    var sources: Map[String, DataFrame] = Map.empty
    for (i <- 0 until setupReps) {
      val (_, t) = ctx.timed {
        sources = Banking.sources(spark, customers, ctx.seed, ctx.dir(s"sources-$i"))
      }
      ctx.sample("setup_s", t)
    }
    val (ids, idsT) = ctx.timed(sources("clientes").select(col("id_cliente").cast("long"))
      .collect().map(_.getLong(0)).sorted)
    ctx.sample("check.ids_s", idsT)

    // what each table must hold: a direct pipeline call on the same sources
    val (expected, expT) = ctx.timed(Banking.Tables.map { case (table, name, _) =>
      table -> RowHash.of(Banking.pipeline(name, sources))
    }.toMap)
    ctx.sample("check.expected_s", expT)

    def resultsOk(res: Seq[Runner.PipelineResult], version: Int): Boolean =
      res.map(_.table).toSet == expected.keySet &&
        res.forall(r => r.validationPassed && r.version == version && r.rows == expected(r.table)._1)

    ctx.rounds { r =>
      ctx.beginRound(r)
      val root = ctx.dir(s"round-$r")
      val (store, registry) = Banking.store(spark, root)
      var cold, rerun = 0.0
      ctx.attempt(s"refresh[$r]") {
        val (res, t) = ctx.timed(ctx.tracer.span("refresh.cold")(
          Banking.refresh(ctx, sources, store, registry)))
        ctx.sample("refresh_s", t)
        cold = t
        resultsOk(res, version = 0)
      }
      ctx.attempt(s"incremental[$r]") {
        val (res, t) = ctx.timed(ctx.tracer.span("refresh.rerun")(
          Banking.refresh(ctx, sources, store, registry)))
        ctx.sample("incremental_s", t)
        rerun = t
        val storeRoot = root.resolve("store")
        val bytes = Common.dirBytes(storeRoot)
        ctx.sample("store_mb", bytes / 1e6)
        if (ctx.tracer.active) {
          ctx.count("store.files_written", Common.dirFiles(storeRoot).toDouble)
          ctx.count("store.write_amp", bytes.toDouble / liveBytes(store))
        }
        // the rerun leaves the content unchanged, and version 0 still reads
        val (ok, ct) = ctx.timed(resultsOk(res, version = 1) && Banking.Tables.forall { case (table, _, _) =>
          RowHash.of(store.read(table)) == expected(table) &&
            RowHash.of(store.readVersion(table, 0)) == expected(table)
        })
        ctx.sample("check.content_s", ct)
        ok
      }
      if (r == 0) ctx.sample("check.naive_s",
        ctx.timed(ctx.untraced(naiveCheck(ctx, store, ids, labelsPerRequest)))._2)

      val batch = Reads.labels(ctx, store, ids, labelsPerRequest, r)
      val day = Reads.asOf(ctx, r)
      var pair = 0.0
      def train(): Unit = ctx.attempt(s"trainset[$r]") {
        val ((df, (n, _)), t) = ctx.timed(Reads.trainingRequest(ctx, store, batch))
        ctx.sample("trainset_s", t)
        ctx.count("features.labels", labelsPerRequest.toDouble)
        pair += t
        val (ok, lt) = ctx.timed(n == labelsPerRequest && Reads.noLeaks(df))
        ctx.sample("check.leak_s", lt)
        ok
      }
      def serve(): Unit = ctx.attempt(s"serving[$r]") {
        val (got, t) = ctx.timed(Reads.servingRequest(ctx, store, day))
        ctx.sample("serving_s", t)
        pair += t
        // at most one fresh snapshot per customer and table
        got.forall { case (n, _) => n > 0 && n <= ids.length }
      }
      if (new java.util.Random(ctx.seed * 31L + r).nextBoolean()) { train(); serve() }
      else { serve(); train() }
      ctx.sample("read_pair_s", pair)
      // the following month: the incremental refresh, then its consumers
      ctx.sample("month_s", rerun + pair)
      ctx.sample("round_s", cold + rerun + pair)
      ctx.endRound()
      Common.deleteTree(root)
    }
  }

  /** Once per run, outside the timed steps: one training set against the
    * naive as-of join, and one serving view against its definition. */
  private def naiveCheck(ctx: Ctx, store: TableStore, ids: Array[Long], labels: Int): Unit = {
    val batch = Reads.labels(ctx, store, ids, labels, -1)
    ctx.attempt("trainset-vs-naive") {
      RowHash.of(Reads.trainingSet(ctx, store, batch)) == RowHash.of(Reads.naiveTrainingSet(store, batch))
    }
    val (table, name, _) = Banking.Tables.last
    val day = Reads.asOf(ctx, -1)
    ctx.attempt("serving-vs-naive") {
      RowHash.of(Reads.serving(store.read(table), day, name)) ==
        RowHash.of(Reads.naiveServing(store, table, day, name))
    }
  }

  /** Bytes of the five feature tables' latest versions. */
  private def liveBytes(store: TableStore): Double =
    Banking.Tables.map { case (table, _, _) =>
      store.read(table).inputFiles.map(f => Files.size(Paths.get(new java.net.URI(f)))).sum
    }.sum.toDouble
}
