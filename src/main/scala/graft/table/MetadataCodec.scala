package graft.table

import com.fasterxml.jackson.annotation.JsonInclude
import com.fasterxml.jackson.core.{JsonGenerator, JsonParser}
import com.fasterxml.jackson.databind._
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.databind.module.SimpleModule
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.types.DataType

import ManagedTable.{BucketSpec, DeltaRecord, Entry, Manifest, TableProps}

/** The on-disk format of every metadata file a [[ManagedTable]] writes:
  * the `_graft_log/<N>.json` record in its full and delta forms (and
  * vacuum's `<N>.checkpoint.json` full shadows), `_properties.json`,
  * and the one-number `_last_checkpoint` / `_optimize_watermark` hints.
  *
  * Log records are written with a fixed key order —
  * `version,timestamp[,parent],dirs|add,remove,dv|dvAdd,dvRemove[,renames][,txn],op`
  * — and omit every empty list or map except a full record's `dirs` and
  * a delta's `renames`, whose presence is meaning: `"renames":[]` SETS
  * an empty mapping, a missing key inherits the parent's. A record with
  * `parent` is a delta, one without is full. Records written before the
  * delta-encoded log (all full, no `op`) decode with an empty `op`. */
private[table] object MetadataCodec {

  // One wire record for both log forms; field order is key order.
  private case class LogRecord(version: Long, timestamp: Long, parent: Option[Long] = None,
      dirs: Option[Seq[Entry]] = None, add: Option[Seq[Entry]] = None,
      remove: Option[Seq[Entry]] = None, dv: Option[Seq[String]] = None,
      dvAdd: Option[Seq[String]] = None, dvRemove: Option[Seq[String]] = None,
      renames: Option[Seq[Rename]] = None, txn: Option[Map[String, Long]] = None,
      op: Option[String] = None)

  private case class Rename(from: String, to: String)

  private case class PropsRecord(schemaEnforced: Boolean = false,
      checks: Map[String, String] = Map.empty, bucket: Option[BucketRecord] = None)

  // `type` is the key type's DDL string; a bucket without one is ignored
  private case class BucketRecord(column: String, n: Int, `type`: Option[String])

  private case class VersionRecord(version: Option[Long])

  // An entry is its dir path, or `{"dir","base"}` for one hive partition
  // subdir of an earlier data dir.
  private case class SubdirRecord(dir: String, base: String)

  private object EntrySerializer extends JsonSerializer[Entry] {
    def serialize(e: Entry, g: JsonGenerator, p: SerializerProvider): Unit =
      e.base.fold(g.writeString(e.dir))(b => g.writeObject(SubdirRecord(e.dir, b)))
  }

  private object EntryDeserializer extends JsonDeserializer[Entry] {
    def deserialize(p: JsonParser, c: DeserializationContext): Entry = {
      val n: JsonNode = p.readValueAsTree()
      if (n.isTextual) Entry(n.asText(), None)
      else Entry(n.get("dir").asText(), Option(n.get("base")).map(_.asText()))
    }
  }

  // USE_LONG_FOR_INTS: `Option[Long]` and `Map[String, Long]` erase to
  // Object, so small numbers would otherwise decode as Integer.
  private val mapper = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .addModule(new SimpleModule()
      .addSerializer(classOf[Entry], EntrySerializer)
      .addDeserializer(classOf[Entry], EntryDeserializer))
    .defaultPropertyInclusion(JsonInclude.Value.construct(
      JsonInclude.Include.NON_ABSENT, JsonInclude.Include.NON_ABSENT))
    .enable(DeserializationFeature.USE_LONG_FOR_INTS)
    .build()

  private def nonEmpty[T <: Iterable[_]](xs: T): Option[T] =
    if (xs.isEmpty) None else Some(xs)

  private def renameRecords(rs: Seq[(String, String)]): Seq[Rename] =
    rs.map { case (f, t) => Rename(f, t) }

  /** A self-contained snapshot: a checkpoint-cadence commit or a
    * vacuum-written `.checkpoint.json` shadow. */
  def encodeFull(m: Manifest): String =
    mapper.writeValueAsString(LogRecord(m.version, m.timestamp,
      dirs = Some(m.entries), dv = nonEmpty(m.dvs),
      renames = nonEmpty(m.renames).map(renameRecords),
      txn = nonEmpty(m.txn), op = Some(m.op)))

  /** The actions of one commit against its parent, version - 1. */
  def encodeDelta(d: DeltaRecord): String =
    mapper.writeValueAsString(LogRecord(d.version, d.timestamp,
      parent = Some(d.version - 1), add = nonEmpty(d.add),
      remove = nonEmpty(d.remove), dvAdd = nonEmpty(d.dvAdd),
      dvRemove = nonEmpty(d.dvRemove), renames = d.renames.map(renameRecords),
      txn = nonEmpty(d.txn), op = Some(d.op)))

  /** The log file of version `v` (the file name's version, not the
    * body's), as a delta or a full snapshot. */
  def decodeLog(v: Long, text: String): Either[DeltaRecord, Manifest] = {
    val r = mapper.readValue(text, classOf[LogRecord])
    val renames = r.renames.map(_.map(x => (x.from, x.to)))
    val txn = r.txn.getOrElse(Map.empty[String, Long])
    val op = r.op.getOrElse("")
    if (r.parent.isDefined)
      Left(DeltaRecord(v, r.timestamp, r.add.getOrElse(Nil),
        r.remove.getOrElse(Nil), r.dvAdd.getOrElse(Nil),
        r.dvRemove.getOrElse(Nil), renames, txn, op))
    else
      Right(Manifest(v, r.timestamp, r.dirs.getOrElse(Nil), r.dv.getOrElse(Nil),
        renames.getOrElse(Nil), txn, op))
  }

  def encodeProps(p: TableProps): String =
    mapper.writeValueAsString(PropsRecord(p.schemaEnforced, p.checks,
      p.bucket.map(b => BucketRecord(b.column, b.n, Some(b.keyType.catalogString)))))

  def decodeProps(text: String): TableProps = {
    val r = mapper.readValue(text, classOf[PropsRecord])
    TableProps(r.schemaEnforced, r.checks, for {
      b <- r.bucket
      t <- b.`type`
    } yield BucketSpec(b.column, b.n, DataType.fromDDL(t)))
  }

  /** `{"version":v}`: the `_last_checkpoint` and `_optimize_watermark` body. */
  def encodeVersion(v: Long): String =
    mapper.writeValueAsString(VersionRecord(Some(v)))

  def decodeVersion(text: String): Option[Long] =
    mapper.readValue(text, classOf[VersionRecord]).version
}
