package graft.store

import java.nio.file.{Files, Path}

import org.json4s._
import org.json4s.jackson.JsonMethods

/** The store's metadata documents — a table's `_meta.json` and a registry
  * entry — as flat JSON objects, read and written on the driver with
  * json4s-jackson (the JSON library Spark ships and uses itself for
  * `DataType.fromJson`). A metadata read is one small file read plus a
  * parse: it never schedules a Spark job.
  *
  * Absent or null keys read as the empty value (`""`, `0`, `Nil`,
  * `Map.empty`), so documents written before a key existed (a `_meta.json`
  * without `buckets` or `partitionCols`) keep parsing to today's defaults.
  */
private[store] object MetaJson {

  final class Doc(fields: Map[String, JValue]) {
    def str(k: String): String = fields.get(k) match {
      case Some(JString(s)) => s
      case _ => ""
    }
    def int(k: String): Int = fields.get(k) match {
      case Some(JInt(n)) => n.toInt
      case _ => 0
    }
    def strs(k: String): Seq[String] = fields.get(k) match {
      case Some(JArray(xs)) => xs.collect { case JString(s) => s }
      case _ => Nil
    }
    def strMap(k: String): Map[String, String] = fields.get(k) match {
      case Some(JObject(kvs)) => kvs.collect { case (kk, JString(v)) => kk -> v }.toMap
      case _ => Map.empty
    }
  }

  /** None when the file does not exist. */
  def read(p: Path): Option[Doc] =
    if (!Files.exists(p)) None
    else JsonMethods.parse(Files.readString(p)) match {
      case JObject(fields) => Some(new Doc(fields.toMap))
      case other => sys.error(s"$p: expected a JSON object, got ${other.getClass.getSimpleName}")
    }

  def write(p: Path, doc: JObject): Unit = {
    Files.createDirectories(p.getParent)
    Files.writeString(p, JsonMethods.compact(JsonMethods.render(doc)))
  }
}
