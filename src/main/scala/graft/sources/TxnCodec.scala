package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.{JsonFactoryBuilder, StreamReadConstraints}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.types.{DataType, StructType}

import graft.sources.TxnLog.{ColStats, FileStats, SchemaCommit}

/** The txn log's entry format: one JSON object per version file
  * (`v*.json`) or checkpoint (`c*.json`), read and written through
  * Jackson's tree model.
  *
  * {{{
  * {"format":2,
  *  "adds":["stage-x/part-0.parquet", …], "removes":[…],
  *  "txn":"streamId:batchId",
  *  "stats":{"<path>":[rowCount,{"<col>":[min,max,nulls?], …}], …},
  *  "dvs":{"<path>":"<dv dir>"}, "cl":{"<path>":"<cluster signature>"},
  *  "copied":["<source uri>", …],
  *  "schema":{…StructType JSON…}, "retired":[…], "constraints":{"<name>":"<expr>"},
  *  "streams":{"<streamId>":maxBatchId}, "ts":commitMillis}
  * }}}
  *
  * Every field but `adds` and `removes` is optional and omitted when
  * empty. Stats bounds are numbers for long-canonical columns and
  * strings for string columns; a missing third element means the null
  * count is unknown. `streams` appears only in checkpoints, which
  * carry each stream's high-water mark so exactly-once replay survives
  * log cleanup. `ts` is a version file's commit time (epoch millis,
  * the writer's clock); entries written before it existed fall back
  * to the file's mtime ([[TxnLog.history]]).
  *
  * Entries without `format` are the first log format: the same
  * layout, except that the schema, retired names, constraints and the
  * COPY INTO ledger ride as base64 strings (`schema64`, `retired64`,
  * `constraints64`, `copied64`). They still decode. An entry whose
  * `format` is newer than [[Format]] fails loudly. */
object TxnCodec {

  /** The format this codec writes and the newest it reads. */
  val Format = 2

  /** One decoded log entry. `streams` is None for version files and
    * for checkpoints written before format 2; `ts` is None for
    * checkpoints and for version files written before it existed. */
  final case class Entry(adds: Seq[String] = Nil,
                         removes: Seq[String] = Nil,
                         txn: Option[String] = None,
                         stats: Map[String, FileStats] = Map.empty,
                         dvs: Map[String, String] = Map.empty,
                         cls: Map[String, String] = Map.empty,
                         copied: Seq[String] = Nil,
                         schema: Option[SchemaCommit] = None,
                         streams: Option[Map[String, Long]] = None,
                         ts: Option[Long] = None)

  // No cap on one string's length: a first-format checkpoint holds the
  // whole COPY INTO ledger as one base64 string, which passes Jackson's
  // default 20M-char cap at about 150k ingested files.
  private val mapper = new ObjectMapper(new JsonFactoryBuilder()
    .streamReadConstraints(StreamReadConstraints.builder()
      .maxStringLength(Int.MaxValue).build()).build())

  def encode(e: Entry): Array[Byte] = {
    val root = mapper.createObjectNode()
    root.put("format", Format)
    putTexts(root, "adds", e.adds, always = true)
    putTexts(root, "removes", e.removes, always = true)
    e.txn.foreach(root.put("txn", _))
    if (e.stats.nonEmpty) {
      val st = root.putObject("stats")
      e.stats.toSeq.sortBy(_._1).foreach { case (path, fs) =>
        val file = st.putArray(path)
        file.add(fs.count)
        val cols = file.addObject()
        fs.cols.toSeq.sortBy(_._1).foreach { case (c, cs) =>
          val b = cols.putArray(c)
          if (cs.isString) b.add(cs.minStr).add(cs.maxStr)
          else b.add(cs.min).add(cs.max)
          if (cs.nulls >= 0) b.add(cs.nulls)
        }
      }
    }
    putTextMap(root, "dvs", e.dvs)
    putTextMap(root, "cl", e.cls)
    putTexts(root, "copied", e.copied)
    e.schema.foreach { sc =>
      root.set[JsonNode]("schema", mapper.readTree(sc.schema.json))
      putTexts(root, "retired", sc.retired)
      putTextMap(root, "constraints", sc.constraints)
    }
    e.streams.foreach { m =>
      val s = root.putObject("streams")
      m.toSeq.sorted.foreach { case (id, b) => s.put(id, b) }
    }
    e.ts.foreach(root.put("ts", _))
    mapper.writeValueAsBytes(root)
  }

  def decode(bytes: Array[Byte]): Entry = {
    val root = mapper.readTree(bytes)
    val format = root.path("format").asInt(1)
    if (format > Format) throw new IllegalStateException(
      s"txn log entry has format $format; this reader understands up to $Format")
    val schema = Option(root.get("schema")).map(_.toString)
      .orElse(legacy64(root, "schema64"))
      .map { json =>
        val retired = Option(root.get("retired")).fold(
          legacy64(root, "retired64").toSeq.flatMap(lines))(texts)
        val constraints = Option(root.get("constraints")).fold(
          legacy64(root, "constraints64").toSeq.flatMap(lines).flatMap { l =>
            val i = l.indexOf('\t')
            if (i < 0) None else Some(l.substring(0, i) -> l.substring(i + 1))
          }.toMap)(textMap)
        SchemaCommit(DataType.fromJson(json).asInstanceOf[StructType], retired, constraints)
      }
    Entry(
      adds = texts(root.path("adds")),
      removes = texts(root.path("removes")),
      txn = Option(root.get("txn")).map(_.asText),
      stats = fields(root.path("stats")).map { case (path, file) =>
        path -> FileStats(file.get(0).asLong, fields(file.get(1)).map { case (c, b) =>
          val nulls = if (b.size > 2) b.get(2).asLong else -1L
          c -> (if (b.get(0).isTextual)
            ColStats(0L, 0L, b.get(0).asText, b.get(1).asText, nulls)
          else ColStats(b.get(0).asLong, b.get(1).asLong, nulls = nulls))
        }.toMap)
      }.toMap,
      dvs = textMap(root.path("dvs")),
      cls = textMap(root.path("cl")),
      copied = Option(root.get("copied")).fold(
        legacy64(root, "copied64").toSeq.flatMap(lines))(texts),
      schema = schema,
      streams = Option(root.get("streams")).map(n =>
        fields(n).map { case (id, b) => id -> b.asLong }.toMap),
      ts = Option(root.get("ts")).map(_.asLong))
  }

  private def putTexts(root: ObjectNode, key: String, xs: Seq[String],
                       always: Boolean = false): Unit =
    if (always || xs.nonEmpty) {
      val a = root.putArray(key)
      xs.foreach(x => a.add(x))
    }

  private def putTextMap(root: ObjectNode, key: String, m: Map[String, String]): Unit =
    if (m.nonEmpty) {
      val o = root.putObject(key)
      m.toSeq.sortBy(_._1).foreach { case (k, v) => o.put(k, v) }
    }

  private def fields(n: JsonNode): Seq[(String, JsonNode)] =
    n.properties().asScala.toSeq.map(e => e.getKey -> e.getValue)

  private def texts(n: JsonNode): Seq[String] = n.asScala.map(_.asText).toSeq

  private def textMap(n: JsonNode): Map[String, String] =
    fields(n).map { case (k, v) => k -> v.asText }.toMap

  /** The first format's base64 side channel `key`, decoded. */
  private def legacy64(root: JsonNode, key: String): Option[String] =
    Option(root.get(key)).map(n =>
      new String(java.util.Base64.getDecoder.decode(n.asText), UTF_8))

  private def lines(s: String): Seq[String] = s.split("\n").toSeq.filter(_.nonEmpty)
}
