package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

import graft.store.{FeatureRegistry, Registration, TableStore}
import graft.store.Registration.{TaskResult, TaskStatus}

/** Registration-flow semantics (`notebooks/feature_store_register.py`):
  * registry CRUD, lineage replace-reconciliation, the schema-conflict
  * drop → recreate → re-register recovery, task filtering, and the status
  * poll loop with scripted upstream statuses. */
class RegistrySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fresh() = (
    new TableStore(spark, Files.createTempDirectory("graft_store").toString),
    new FeatureRegistry(spark, Files.createTempDirectory("graft_registry").toString))

  test("register from stored metadata: prefix-default keys, tags, source lineage") {
    val (store, registry) = fresh()
    store.overwrite("fs_cus_demographic", Seq((1L, "2024-01-01", 33)).toDF("pk_customer", "tpk_release_dt", "age"),
      primaryKeys = Seq("pk_customer", "tpk_release_dt"), timestampKeys = Seq("tpk_release_dt"))
    store.setProperties("fs_cus_demographic", Map(
      "graft.description" -> "demo features",
      "graft.sourceTables" -> "clientes,sucursales",
      "team" -> "ds"))
    val conflicted = Registration.registerFeatureTable(store, registry, "fs_cus_demographic")
    assert(!conflicted)
    val e = registry.getTable("fs_cus_demographic").get
    assert(e.primaryKeys == Seq("pk_customer", "tpk_release_dt")) // fs_cus prefix default
    assert(e.timestampKeys == Seq("tpk_release_dt"))
    assert(e.description == "demo features")
    assert(e.tags == Map("team" -> "ds"))
    assert(e.dataSources == Seq("clientes", "sucursales"))
    // account-level default adds pk_account (feature_store_register.py:106-110)
    assert(Registration.defaultKeys("db.fs_acc_balances")._1 ==
      Seq("pk_customer", "pk_account", "tpk_release_dt"))
  }

  test("lineage reconciliation on re-register: replace when sets differ, untouched when equal") {
    val (store, registry) = fresh()
    store.overwrite("fs_cus_t", Seq((1L, "a")).toDF("pk_customer", "x"))
    store.setProperties("fs_cus_t", Map("graft.sourceTables" -> "s1,s2"))
    Registration.registerFeatureTable(store, registry, "fs_cus_t")
    assert(registry.getTable("fs_cus_t").get.dataSources == Seq("s1", "s2"))
    // same set, different order: NOT reconciled (set comparison, :118-121)
    store.setProperties("fs_cus_t", Map("graft.sourceTables" -> "s2,s1"))
    Registration.registerFeatureTable(store, registry, "fs_cus_t")
    assert(registry.getTable("fs_cus_t").get.dataSources == Seq("s1", "s2"))
    // differing set: delete ALL current, then add incoming — replace, not merge
    store.setProperties("fs_cus_t", Map("graft.sourceTables" -> "s2,s3"))
    Registration.registerFeatureTable(store, registry, "fs_cus_t")
    assert(registry.getTable("fs_cus_t").get.dataSources == Seq("s2", "s3"))
    // empty incoming lineage: reconciliation skipped entirely (:117 guard)
    store.setProperties("fs_cus_t", Map("graft.sourceTables" -> ""))
    Registration.registerFeatureTable(store, registry, "fs_cus_t")
    assert(registry.getTable("fs_cus_t").get.dataSources == Seq("s2", "s3"))
  }

  test("schema conflict: drop, recreate over same data, re-register with new schema") {
    val (store, registry) = fresh()
    store.overwrite("fs_cus_pay", Seq((1L, 10.0)).toDF("pk_customer", "amt"))
    store.setProperties("fs_cus_pay", Map("graft.sourceTables" -> "pagos"))
    assert(!Registration.registerFeatureTable(store, registry, "fs_cus_pay"))
    val before = registry.getTable("fs_cus_pay").get
    assert(before.schema.fieldNames.toSeq == Seq("pk_customer", "amt"))
    // the stored table evolves to an incompatible schema
    store.overwrite("fs_cus_pay", Seq((1L, 10.0f, "MX")).toDF("pk_customer", "amt", "cc"),
      overwriteSchema = true)
    val conflicted = Registration.registerFeatureTable(store, registry, "fs_cus_pay")
    assert(conflicted) // recovery path taken (feature_store_register.py:168-193)
    val after = registry.getTable("fs_cus_pay").get
    assert(after.schema.map(f => (f.name, f.dataType.simpleString)) ==
      Seq(("pk_customer", "bigint"), ("amt", "float"), ("cc", "string")))
    assert(after.dataSources == Seq("pagos")) // lineage re-added after recreation
    // direct registerTable against a mismatched entry raises the conflict
    val err = intercept[FeatureRegistry.SchemaConflictException] {
      registry.registerTable("fs_cus_pay",
        org.apache.spark.sql.types.StructType.fromDDL("pk_customer BIGINT"),
        Seq("pk_customer"), Nil)
    }
    assert(err.getMessage.contains("different schema"))
  }

  /** Spark's JSON reader over a registry entry — the parse the registry
    * once ran as a Spark job per lookup; the driver parse must agree. */
  private def sparkReaderEntry(json: String): FeatureRegistry.Entry = {
    val row = spark.read
      .schema("table STRING, schemaJson STRING, primaryKeys ARRAY<STRING>, " +
        "timestampKeys ARRAY<STRING>, description STRING, " +
        "tags MAP<STRING,STRING>, dataSources ARRAY<STRING>")
      .json(Seq(json).toDS()).first()
    FeatureRegistry.Entry(
      row.getAs[String]("table"),
      row.getAs[String]("schemaJson"),
      Option(row.getAs[scala.collection.Seq[String]]("primaryKeys")).map(_.toSeq).getOrElse(Nil),
      Option(row.getAs[scala.collection.Seq[String]]("timestampKeys")).map(_.toSeq).getOrElse(Nil),
      Option(row.getAs[String]("description")).getOrElse(""),
      Option(row.getAs[scala.collection.Map[String, String]]("tags")).map(_.toMap).getOrElse(Map.empty),
      Option(row.getAs[scala.collection.Seq[String]]("dataSources")).map(_.toSeq).getOrElse(Nil))
  }

  test("registry entries: driver parse round-trips escapes, control and non-ASCII " +
      "text and equals Spark's JSON reader; unchanged re-registration writes nothing") {
    val dir = Files.createTempDirectory("graft_registry_json")
    val registry = new FeatureRegistry(spark, dir.toString)
    val tricky = "a \"quoted\" back\\slash\nline2\tcol\r\u0001\u001f " +
      "ñandú 日本語 😀 {\"k\": [1]}"
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "pk_customer BIGINT, `odd \"name\"` STRING, m MAP<STRING, ARRAY<INT>>")
    val e = registry.registerTable("fs_cus_odd", schema, Seq("pk_customer"), Seq("ts"),
      description = tricky, tags = Map(tricky -> tricky, "empty" -> ""))
    registry.addDataSources("fs_cus_odd", Seq(tricky, "pagos"))
    val got = registry.getTable("fs_cus_odd").get
    assert(got == e.copy(dataSources = Seq(tricky, "pagos")))
    assert(got.schema == schema && got.description == tricky)
    val file = dir.resolve("fs_cus_odd.json")
    assert(sparkReaderEntry(Files.readString(file)) == got)
    // identical re-registration leaves the entry file untouched
    // (utils.py:1482-1487); a changed description rewrites it
    val epoch = java.nio.file.attribute.FileTime.fromMillis(0L)
    Files.setLastModifiedTime(file, epoch)
    assert(registry.registerTable("fs_cus_odd", schema, Seq("pk_customer"), Seq("ts"),
      description = tricky, tags = Map(tricky -> tricky, "empty" -> "")) == got)
    assert(Files.getLastModifiedTime(file) == epoch)
    registry.registerTable("fs_cus_odd", schema, Seq("pk_customer"), Seq("ts"),
      description = "changed", tags = Map("empty" -> ""))
    assert(Files.getLastModifiedTime(file) != epoch)
    assert(registry.getTable("fs_cus_odd").get ==
      got.copy(description = "changed", tags = Map("empty" -> "")))
  }

  test("eligibleTasks mirrors the notebook task filter") {
    val keys = Seq("fs_cus_demographic", "fs_cus_register", "fs_registry_sync",
      "fs_cus_test_smoke", "cleanup", "fs_cus_transactions")
    assert(Registration.eligibleTasks(keys) ==
      Seq("fs_cus_demographic", "fs_cus_transactions"))
    assert(Registration.eligibleTasks(keys, testing = true) ==
      Seq("fs_cus_demographic", "fs_cus_test_smoke", "fs_cus_transactions"))
  }

  test("poll loop: registers exactly once per successful task, records failures, terminates") {
    // scripted upstream: statuses advance one step per sweep
    val script = Map(
      ("A", "fs_cus_demographic") -> Seq(TaskStatus.Pending, TaskStatus.Running,
        TaskStatus.Terminated(TaskResult.Success)),
      ("A", "fs_cus_credit_risk") -> Seq(TaskStatus.Running,
        TaskStatus.Terminated(TaskResult.Failed("upstream OOM"))),
      ("B", "fs_cus_holding_products") -> Seq(TaskStatus.Terminated(TaskResult.Success)),
      ("B", "fs_cus_payment_behavior") -> Seq(TaskStatus.Running, TaskStatus.Running,
        TaskStatus.Terminated(TaskResult.Canceled)))
    val calls = scala.collection.mutable.Map[(String, String), Int]().withDefaultValue(0)
    val registered = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var sleeps = 0
    val errors = Registration.pollAndRegister(
      Map("A" -> Seq("fs_cus_demographic", "fs_cus_credit_risk"),
        "B" -> Seq("fs_cus_holding_products", "fs_cus_payment_behavior")),
      statusOf = (t, k) => {
        val n = calls((t, k)); calls((t, k)) = n + 1
        val s = script((t, k)); s(math.min(n, s.size - 1))
      },
      onSuccess = (t, k) => registered += ((t, k)),
      sleep = () => sleeps += 1)
    assert(registered.sorted == Seq(("A", "fs_cus_demographic"), ("B", "fs_cus_holding_products")))
    assert(registered.size == 2) // exactly once each
    assert(errors.map(e => (e.target, e.task, e.message)).toSet == Set(
      ("A", "fs_cus_credit_risk", "upstream OOM"),
      ("B", "fs_cus_payment_behavior", "CANCELED")))
    assert(sleeps == 2) // 3 sweeps, pause between live sweeps only
    // a never-terminating upstream trips the iteration bound instead of spinning
    intercept[IllegalArgumentException] {
      Registration.pollAndRegister(Map("A" -> Seq("fs_stuck")),
        statusOf = (_, _) => TaskStatus.Running, onSuccess = (_, _) => (),
        maxIterations = 5)
    }
  }

  test("HTTP status client drives the poll loop against a real HTTP server") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    // scripted remote: each task advances one life-cycle step per GET
    val script = Map(
      "fs_cus_demographic" -> Seq(
        """{"life_cycle_state": "PENDING"}""",
        """{"life_cycle_state": "RUNNING"}""",
        """{"life_cycle_state": "TERMINATED", "result_state": "SUCCESS"}"""),
      "fs_cus_credit_risk" -> Seq(
        """{"life_cycle_state": "TERMINATED", "result_state": "FAILED",
          | "message": "upstream OOM"}""".stripMargin))
    val hits = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val path = ex.getRequestURI.getPath // /targets/{t}/tasks/{k}/status
        val parts = path.split("/")
        val (target, task) = (parts(2), parts(4))
        assert(target == "A" && parts(1) == "targets" && parts(5) == "status")
        val n = hits.merge(task, 1, (a, b) => a + b) - 1
        val s = script(task)
        val body = s(math.min(n, s.size - 1)).getBytes("UTF-8")
        ex.sendResponseHeaders(200, body.length)
        ex.getResponseBody.write(body)
        ex.close()
      }
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val client = new graft.store.HttpStatusClient(base)
      val registered = scala.collection.mutable.ArrayBuffer[(String, String)]()
      val errors = Registration.pollAndRegister(
        Map("A" -> Seq("fs_cus_demographic", "fs_cus_credit_risk")),
        statusOf = client.statusOf,
        onSuccess = (t, k) => registered += ((t, k)))
      assert(registered.toSeq == Seq(("A", "fs_cus_demographic")))
      assert(errors.map(e => (e.task, e.message)) ==
        Seq(("fs_cus_credit_risk", "upstream OOM")))
      assert(hits.get("fs_cus_demographic") == 3) // one GET per sweep
      assert(hits.get("fs_cus_credit_risk") == 1)
      // strict state mapping: unknown life-cycle states throw, not default
      val bad = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
      bad.createContext("/", new HttpHandler {
        override def handle(ex: HttpExchange): Unit = {
          val body = """{"life_cycle_state": "MYSTERY"}""".getBytes("UTF-8")
          ex.sendResponseHeaders(200, body.length)
          ex.getResponseBody.write(body)
          ex.close()
        }
      })
      bad.start()
      try intercept[IllegalStateException] {
        new graft.store.HttpStatusClient(
          s"http://127.0.0.1:${bad.getAddress.getPort}").statusOf("A", "x")
      } finally bad.stop(0)
    } finally server.stop(0)
  }
}
