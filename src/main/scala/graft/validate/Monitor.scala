package graft.validate

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.store.TableStore

/** Validation register: turns one run's validation outcomes into appended
  * rows of a SUMMARY table (one row per table per run) and a DETAIL table
  * (one row per validation per run, with a JSON payload) — the reference's
  * `register_validation` (`src/packages/data_validation/monitor.py:566-663`)
  * with `ValidationSchemas.get_summary_schema`/`get_detail_schema`
  * (`monitor.py:530-558`).
  *
  * Semantics preserved:
  *  - per-layer validation key lists (`monitor.py:560-564`);
  *  - dimensional tables skip OUTDATENESS; tables never saved before skip
  *    CROSS_CHECKING and OUTDATENESS (`monitor.py:586-593`);
  *  - a failing validation only fails the run when it is NOT in
  *    `ignoreValidations` (`monitor.py:598-599`); the detail row still
  *    records `ignored = true`;
  *  - the non-ignorable SAVING row is always appended (`monitor.py:625-631`);
  *  - the summary `failure_reason` is the newline-joined `KEY: message`
  *    list (`monitor.py:636`), null when everything passed.
  *
  * Scale: detail/summary rows are O(validations) per run — a driver-built
  * micro-frame appended to the store; no data-sized shuffle. The append is
  * file-level ([[TableStore.append]]): each run writes only its own rows
  * and hardlinks the earlier runs' files, so the data a save writes does
  * not grow with the log (its hardlinks do, one per earlier file, until
  * [[TableStore.compact]]). The log tables grow append-only and stay
  * queryable as ordinary tables.
  */
object Monitor {

  /** One validation's outcome: SUCCESS/FAIL status (None = not evaluated,
    * kept as a null-status row like the reference), human message, and any
    * extra detail key-values serialized into the JSON payload. */
  final case class Outcome(status: Option[String], message: Option[String],
                           extra: Map[String, String] = Map.empty)

  /** Per-layer validation key order (`monitor.py:560-564`). */
  val validationKeys: Map[String, Seq[String]] = Map(
    "ingestion" -> Seq("MONTHLY_VAL", "MISSING_COLUMNS", "CROSS_CHECKING", "OUTDATENESS"),
    "preprocessing" -> Seq("INGESTION_SAVED", "OUTDATENESS"),
    "feature" -> Seq("PREPROCESSING_SAVED", "OUTDATENESS"))

  /** Detail schema (`monitor.py:547-558`, English column names). */
  val detailSchema: StructType = StructType(Seq(
    StructField("executed_at", TimestampType, nullable = false),
    StructField("database", StringType, nullable = true),
    StructField("table_name", StringType, nullable = false),
    StructField("table_type", StringType, nullable = false),
    StructField("status", StringType, nullable = true),
    StructField("validation_type", StringType, nullable = false),
    StructField("ignored", BooleanType, nullable = false),
    StructField("detail_json", StringType, nullable = true)))

  /** Summary schema (`monitor.py:533-545`). */
  val summarySchema: StructType = StructType(Seq(
    StructField("executed_at", TimestampType, nullable = false),
    StructField("database", StringType, nullable = true),
    StructField("table_name", StringType, nullable = false),
    StructField("table_type", StringType, nullable = false),
    StructField("status", StringType, nullable = true),
    StructField("failure_reason", StringType, nullable = true),
    StructField("ignored_validations", StringType, nullable = true)))

  private def jsonEsc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private def jsonObj(fields: Seq[(String, Option[String])]): String =
    fields.map { case (k, v) =>
      s""""${jsonEsc(k)}": ${v.fold("null")(x => s""""${jsonEsc(x)}"""")}"""
    }.mkString("{", ", ", "}")

  /** `resumeStatus` mirrors the reference's `resume_status`
    * (`monitor.py:598-599`): false only when a NON-ignored validation
    * failed. `failureReason` mirrors `failure_reason` (`monitor.py:636`):
    * the joined messages of every evaluated validation — including ignored
    * failures and informational SUCCESS messages, exactly like the
    * reference — so it is a LOG, not the pass/fail signal. Gate on
    * `passed`, not on `failureReason.isEmpty`. */
  final case class Register(summary: Row, detail: Seq[Row],
                            failureReason: Option[String],
                            resumeStatus: Boolean) {
    def passed: Boolean = resumeStatus
  }

  /** Evaluate one table's validation outcomes into summary + detail rows
    * (`monitor.py:566-645`). `successfullySaved` is the post-save flag; its
    * SAVING row distinguishes "fell over while saving" from "failed
    * validations" (`monitor.py:615-622`). */
  def registerValidation(executedAt: java.sql.Timestamp, database: Option[String],
                         tableName: String, tableType: String, layer: String,
                         successfullySaved: Boolean,
                         outcomes: Map[String, Outcome],
                         ignoreValidations: Set[String] = Set.empty,
                         alreadySaved: Boolean = true): Register = {
    val keys = validationKeys.getOrElse(layer,
      sys.error(s"Unknown validation layer '$layer' (expected one of ${validationKeys.keys.mkString(", ")})"))
    val applicable = keys.filter { k =>
      !(tableType == "dimensional" && k == "OUTDATENESS") &&
      !(!alreadySaved && (k == "CROSS_CHECKING" || k == "OUTDATENESS"))
    }
    val failures = Seq.newBuilder[String]
    var resume = true
    val detailRows = applicable.map { key =>
      val o = outcomes.getOrElse(key, Outcome(None, None))
      o.status.foreach { st => resume &= st == "SUCCESS" || ignoreValidations(key) }
      o.message.foreach { m => if (o.status.isDefined) failures += s"$key: $m" }
      Row(executedAt, database.orNull, tableName, tableType, o.status.orNull,
        key.toLowerCase, ignoreValidations(key),
        jsonObj(o.extra.toSeq.sortBy(_._1).map { case (k, v) => k -> Option(v) }))
    }
    // the saving row can never be ignored (monitor.py:628-630)
    val savingMessage =
      if (successfullySaved) None
      else if (resume) Some("SAVING: failed during the save step")
      else Some("SAVING: did not pass all validations")
    savingMessage.foreach(failures += _)
    val savingRow = Row(executedAt, database.orNull, tableName, tableType,
      if (successfullySaved) "SUCCESS" else "FAIL", "saving", false,
      savingMessage.orNull)
    val reason = { val f = failures.result(); if (f.isEmpty) None else Some(f.mkString("\n")) }
    val summary = Row(executedAt, database.orNull, tableName, tableType,
      if (successfullySaved) "SUCCESS" else "FAIL", reason.orNull,
      if (ignoreValidations.isEmpty) null else ignoreValidations.toSeq.sorted.mkString(","))
    Register(summary, detailRows :+ savingRow, reason, resume && successfullySaved)
  }

  /** Append a register's rows to the summary and detail tables
    * (`monitor.py:648-662`: append when the table exists, else create),
    * via [[TableStore.append]]. */
  def save(spark: SparkSession, store: TableStore, summaryTable: String,
           detailTable: String, register: Register): Unit = {
    import scala.jdk.CollectionConverters._
    store.append(summaryTable,
      spark.createDataFrame(Seq(register.summary).asJava, summarySchema))
    store.append(detailTable,
      spark.createDataFrame(register.detail.asJava, detailSchema))
  }
}
