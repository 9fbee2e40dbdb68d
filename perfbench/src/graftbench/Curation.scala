package graftbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** `curation`: the training-data catalog entries the dedup,
  * decontamination and semantic-dedup work targets, over a seeded row
  * sample of the benchmark's documents and embeddings tables. One round is
  * one pass over all of them (step 1), each forced with
  * `queryExecution.toRdd` as the catalog bench forces it; step 2 is the
  * pass's `q_dedup_*` entries. */
object Curation {

  val Entries: Seq[String] = SparkEntry.queries.keys.toSeq.filter(n =>
    n.startsWith("q_dedup_") || n.startsWith("q_decontam_") ||
      Set("q_sem_dedup", "q_sim_inc_index", "q_curate_tiers")(n)).sorted
  require(Entries.size == 23, s"expected 23 curation entries, found ${Entries.size}")

  /** Distinct input samples; a seed selects one by `seed mod Samples`. */
  val Samples = 16

  /** Kernels the entries bind to the session that analyzes them. */
  private val Kernels = Seq("graft_minhash", "graft_ngram_hashes", "graft_jaccard_sorted")

  def sampleOf(seed: Long): Int = Math.floorMod(seed, Samples.toLong).toInt

  /** Writes sample `k`: the rows of each table whose `xxhash64(id, k)`
    * falls in the lowest `permille` of 1000 buckets, plus the low-id rows
    * the entries plant their known duplicates and centroids from
    * (doc_id < 50, vec_id < 20). */
  def writeSample(spark: SparkSession, data: Path, k: Int, permille: Int, dir: Path): String = {
    for ((table, id, anchors) <- Seq(("documents", "doc_id", 50), ("embeddings", "vec_id", 20))) {
      spark.read.parquet(data.resolve(s"$table.parquet").toString)
        .where(col(id) < anchors || pmod(xxhash64(col(id), lit(k.toLong)), lit(1000)) < permille)
        .coalesce(1).write.mode("overwrite").parquet(dir.resolve(s"$table.parquet").toString)
    }
    dir.toString
  }

  def run(ctx: Ctx, data: Path, fixtures: Map[String, (Long, Long)], permille: Int,
          setupReps: Int): Unit = {
    val k = sampleOf(ctx.seed)
    var sfDir = ""
    for (i <- 0 until setupReps) {
      val (_, t) = ctx.timed {
        sfDir = writeSample(ctx.spark, data, k, permille, ctx.dir(s"sample-$i"))
      }
      ctx.sample("setup_s", t)
    }

    ctx.rounds { r =>
      ctx.beginRound(r)
      // a fresh session per pass: session-keyed staged frames of an
      // earlier pass must not serve this one
      val session = ctx.spark.newSession()
      val times = pass(ctx, session, sfDir, k, fixtures, r)
      ctx.sample("curation_s", times.map(_._2).sum)
      ctx.sample("dedup_s", times.filter(_._1.startsWith("q_dedup_")).map(_._2).sum)
      ctx.sample("round_s", times.map(_._2).sum)
      times.foreach { case (e, t) => ctx.sample(s"entry.$e", t) }
      // the kernels resolved under the pass's own session
      ctx.attempt(s"kernels[$r]") {
        Kernels.forall(f => session.sessionState.functionRegistry.functionExists(
          org.apache.spark.sql.catalyst.FunctionIdentifier(f)))
      }
      ctx.endRound()
    }
  }

  /** One pass over the entries in `session`; each entry's rows and content
    * hash are taken from the materialization itself and must match the
    * fixture of sample `k`. Returns the entry times. */
  private def pass(ctx: Ctx, session: SparkSession, sfDir: String, k: Int,
                   fixtures: Map[String, (Long, Long)], round: Int): Seq[(String, Double)] =
    Entries.map { e =>
      var t = 0.0
      ctx.attempt(s"$e[$round]") {
        val ((df, got), dt) = ctx.timed(ctx.tracer.span(s"curation.$e") {
          val df = SparkEntry.queries(e)(session, sfDir)
          (df, RowHash.of(df))
        })
        t = dt
        if (ctx.tracer.active)
          ctx.count(s"curation.$e.exchanges", graft.ops.Scale.countExchanges(df).toDouble)
        val want = fixtures.get(fixtureKey(k, e))
        want.contains(got) || {
          System.err.println(s"[perfbench] $e sample $k: got $got, fixture $want")
          false
        }
      }
      e -> t
    }

  def fixtureKey(sample: Int, entry: String): String = s"$sample/$entry"

  /** Fixture file: one `sample entry rows hash` line per entry and sample. */
  def readFixtures(p: Path): Map[String, (Long, Long)] =
    if (!Files.exists(p)) Map.empty
    else scala.io.Source.fromFile(p.toFile, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(s, e, n, h) = l.split("\\s+")
        fixtureKey(s.toInt, e) -> (n.toLong, h.toLong)
      }.toMap

  /** Records the fixture lines of samples `ks`, each from a fresh session. */
  def record(spark: SparkSession, data: Path, permille: Int, ks: Seq[Int], work: Path): Seq[String] =
    ks.flatMap { k =>
      val dir = writeSample(spark, data, k, permille, Files.createDirectories(work.resolve(s"sample-$k")))
      val session = spark.newSession()
      Entries.map { e =>
        val (n, h) = RowHash.of(SparkEntry.queries(e)(session, dir))
        s"$k $e $n $h"
      }
    }
}
