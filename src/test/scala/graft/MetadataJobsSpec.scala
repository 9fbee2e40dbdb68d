package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

import graft.datagen.BankingDataGen
import graft.pipelines.Runner
import graft.store.{FeatureRegistry, TableStore}

/** Counter gate: store metadata and the feature registry are read on the
  * driver, never through the Spark scheduler. A change that brings back a
  * job per metadata read fails here, in the tier-1 suite, rather than only
  * as a slower benchmark. */
class MetadataJobsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import SparkCounters.jobs

  test("metadata reads run no Spark job; a plain read skips schema inference") {
    val store = new TableStore(spark, Files.createTempDirectory("graft_jobs").toString)
    val registry = new FeatureRegistry(spark, Files.createTempDirectory("graft_jobs_cat").toString)
    store.overwrite("t", Seq((1L, "a"), (2L, "b")).toDF("k", "v"), primaryKeys = Seq("k"))
    registry.registerTable("t", store.meta("t").get.schema, Seq("k"), Nil, "d")
    assert(jobs(store.meta("t")) == 0)
    assert(jobs(store.meta("missing")) == 0)
    assert(jobs(store.exists("t")) == 0)
    assert(jobs(store.currentVersion("t")) == 0)
    assert(jobs(registry.getTable("t")) == 0)
    assert(jobs(registry.getTable("missing")) == 0)
    // building the frame of a plain snapshot needs no footer-inference job
    assert(jobs(store.read("t")) == 0)
    assert(store.read("t").count() == 2)
  }

  test("cold Runner.run and its rerun stay within their job counts, run to run") {
    val sources = BankingDataGen.all(spark, n = 40, months = 24)
    val today = java.time.LocalDate.of(2024, 7, 15)
    def refreshAndRerun(): (Int, Int) = {
      val store = new TableStore(spark, Files.createTempDirectory("graft_jobs_run").toString)
      val params = Runner.Params(startDate = "2023-06-01",
        monitorTables = Some(("val_summary", "val_detail")),
        registry = Some(new FeatureRegistry(spark,
          Files.createTempDirectory("graft_jobs_run_cat").toString)))
      (jobs(Runner.run(spark, sources, store, params, today)),
        jobs(Runner.run(spark, sources, store, params, today)))
    }
    val first = refreshAndRerun()
    assert(refreshAndRerun() == first, "job counts must repeat run to run")
    // measured 37 / 62; the slack of 3 absorbs a plan change, not a job
    // per metadata read (about 75 more on the cold run, 135 on the rerun)
    val (cold, rerun) = first
    assert(cold <= 37 + 3, s"cold Runner.run started $cold Spark jobs")
    assert(rerun <= 62 + 3, s"rerun started $rerun Spark jobs")
  }
}
