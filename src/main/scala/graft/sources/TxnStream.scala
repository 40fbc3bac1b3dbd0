package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, Row, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset, Sink, Source}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

/** Structured-Streaming SOURCE over a [[TxnLog]] table — the lake's
  * read side of incremental pipelines: `spark.readStream
  * .format("graft-txn").load(table)` tails the transaction log and
  * delivers each commit's rows exactly once, the published change-feed
  * design of the lakehouse papers (Armbrust et al., VLDB 2020 §4.4)
  * re-expressed on Spark's own streaming engine.
  *
  * Offsets ARE log versions: the source's offset after batch N is the
  * highest committed version it has shipped, serialized as the bare
  * number — so a checkpointed restart resumes from the log position
  * itself, and replaying a batch re-reads exactly the same commits'
  * files (immutable by the log's contract). No state beyond the
  * offset; the files are the payload.
  *
  * Batch semantics:
  *  - The FIRST batch (start = None) delivers the SNAPSHOT at the
  *    stream's initial version — resolved through checkpoint+tail
  *    replay (deletion vectors applied), not commit-by-commit — so
  *    pre-stream compactions and overwrites are invisible (their net
  *    effect is the snapshot). `startingVersion` skips the snapshot:
  *    `"latest"` tails only post-stream commits (no history replay on
  *    a huge table), a number starts increments at that version.
  *  - Every later batch is the concatenation of commits
  *    (start, end]'s ADD files. A commit carrying removes or DV
  *    bindings is NOT an append — delivering its adds would
  *    double-ship rewritten rows (or under-ship masked ones) — so the
  *    source fails fast with the Delta-source contract
  *    (`ignoreChanges=true` opts into redelivery for such commits).
  *  - `maxFilesPerTrigger` bounds a batch's file count: getOffset
  *    advances at most to the version where the cumulative new-file
  *    count reaches the cap (always ≥ 1 version, so an oversized
  *    single commit still progresses). A burst of commits then drains
  *    as several bounded batches instead of one giant scan.
  *
  * Scale: getOffset is one log-directory listing plus (when capped)
  * the tail commits' JSON; getBatch plans a parquet scan over ONLY the
  * new commits' files (the driver never touches rows), so a 100 TB
  * table with a trickle of appends streams at the cost of the trickle.
  * Works end-to-end with [[TxnLog.appendBatch]] as the sink for
  * exactly-once lake-to-lake pipelines (the spec pins a
  * duplicate-delivery replay).
  */
class TxnStreamProvider extends StreamSourceProvider with StreamSinkProvider
    with DataSourceRegister {

  override def shortName(): String = "graft-txn"

  /** The SINK side: `writeStream.format("graft-txn").option("path", t)
    * .option("streamId", id)` lands every micro-batch through
    * [[TxnLog.appendBatch]] — the commit carries the streamId:batchId
    * high-water mark, so post-failure replays and duplicate deliveries
    * publish nothing and the pipeline is exactly-once END TO END with
    * the graft-txn source (offsets = versions on the read side,
    * batch-id dedup on the write side). `streamId` is REQUIRED: batch
    * ids are per-query, so two queries sharing a default id would
    * wrongly dedupe each other's batches. The table auto-creates
    * (empty v0) on first batch if absent. */
  override def createSink(ctx: SQLContext, params: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): Sink = {
    require(outputMode == OutputMode.Append(),
      s"graft-txn sink is append-only (got $outputMode): the txn log " +
        "models updates as explicit DML, not sink modes")
    val table = tablePath(params)
    val streamId = params.getOrElse("streamid",
      throw new IllegalArgumentException(
        "graft-txn sink requires option(\"streamId\", <unique id>) — " +
          "batch ids are per-query, so the dedup domain must be named"))
    new TxnSink(ctx.sparkSession, table, streamId)
  }

  private def tablePath(params: Map[String, String]): String =
    params.getOrElse("path", throw new IllegalArgumentException(
      "graft-txn source requires .load(<table path>) or option(\"path\", ...)"))

  private def cdf(params: Map[String, String]): Boolean =
    params.get("readchangefeed").exists(_.toBoolean)

  override def sourceSchema(ctx: SQLContext, schema: Option[StructType],
                            providerName: String,
                            params: Map[String, String]): (String, StructType) = {
    // Validated here too: sourceSchema runs eagerly in load(), so a
    // conflicting-options mistake surfaces at the call site rather
    // than on the query thread.
    require(!(params.contains("startingversion") &&
        params.contains("startingtimestamp")),
      "startingVersion and startingTimestamp are mutually exclusive")
    // The LOG-RECORDED schema, not the read's output schema: the
    // recorded fields carry the column-mapping / partition-column /
    // generated-expression METADATA the incremental reads need (a
    // partitioned table's values attach by that metadata — an output
    // schema stripped of it would stream the partition column as
    // all-null). Pre-schema-tracking logs fall back to inference.
    val base = schema.getOrElse(
      TxnLog.tableSchema(ctx.sparkSession, tablePath(params)).getOrElse(
        TxnLog.read(ctx.sparkSession, tablePath(params)).schema))
    (shortName(),
      if (cdf(params)) base.add("_change", "string", nullable = false)
      else base)
  }

  override def createSource(ctx: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            params: Map[String, String]): Source = {
    val table = tablePath(params)
    val spark = ctx.sparkSession
    // "latest" resolves AT SOURCE CREATION: only commits after this
    // point stream; a concrete number starts increments at version n.
    // startingTimestamp (epoch millis or "yyyy-MM-dd HH:mm:ss[.f]")
    // resolves to the FIRST commit at-or-after it — commit-file mtime
    // is the commit time, the same key TIMESTAMP AS OF travels on.
    require(!(params.contains("startingversion") &&
        params.contains("startingtimestamp")),
      "startingVersion and startingTimestamp are mutually exclusive")
    val startFrom = params.get("startingversion").map {
      case "latest" => TxnLog.latestVersion(spark, table) + 1
      case n => n.toLong
    }.orElse(params.get("startingtimestamp").map { raw =>
      val cutoffMs =
        try raw.toLong
        catch { case _: NumberFormatException =>
          java.sql.Timestamp.valueOf(raw).getTime }
      TxnLog.firstVersionAtOrAfter(spark, table, cutoffMs)
    })
    new TxnSource(spark, table,
      sourceSchema(ctx, schema, providerName, params)._2,
      ignoreChanges = params.get("ignorechanges").exists(_.toBoolean),
      maxFilesPerTrigger = params.get("maxfilespertrigger").map(_.toInt),
      startFrom = startFrom,
      changeFeed = cdf(params))
  }
}

private[sources] class TxnSource(spark: SparkSession, table: String,
                                 override val schema: StructType,
                                 ignoreChanges: Boolean,
                                 maxFilesPerTrigger: Option[Int] = None,
                                 startFrom: Option[Long] = None,
                                 changeFeed: Boolean = false) extends Source {

  private case class VersionOffset(v: Long) extends Offset {
    override def json: String = v.toString
  }

  /** Highest version this source has already handed to the engine —
    * the base the rate limit walks from. Seeded by `startingVersion`
    * when given, otherwise learned from getBatch/commit (a
    * checkpointed restart re-learns it from the first replayed batch);
    * -1 = unknown, in which case the first trigger is uncapped (for a
    * fresh stream that batch is the snapshot, uncapped by design). */
  @volatile private var shipped: Long = startFrom.map(_ - 1L).getOrElse(-1L)

  override def getOffset: Option[Offset] = {
    val latest = TxnLog.latestVersion(spark, table)
    if (latest < 0) return None
    val capped = maxFilesPerTrigger match {
      case Some(cap) if shipped >= 0 && latest > shipped =>
        // One log read per pending commit: the next commit's file
        // count is computed once and reused when advancing (round-10
        // advice: the guard+body pair read each JSON twice, O(2·tail)
        // driver reads per trigger during a backlog drain).
        var v = shipped
        var files = 0
        var next = commitFiles(v + 1)
        while (v < latest && (files == 0 || files + next <= cap)) {
          v += 1
          files += next
          next = if (v < latest) commitFiles(v + 1) else 0
        }
        v
      case _ => latest
    }
    if (capped < 0) None else Some(VersionOffset(capped))
  }

  private def commitFiles(v: Long): Int =
    TxnLog.commit(spark, table, v).adds.size

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val to = end.json.toLong
    val from = start.map(_.json.toLong)
      .orElse(startFrom.map(_ - 1L))
      .getOrElse(-1L)
    shipped = math.max(shipped, to)
    if (changeFeed) return changeBatch(from, to)
    if (from < 0) {
      // Initial snapshot: resolve through the full replay so deletion
      // vectors apply — a pre-stream MoR delete must be invisible.
      val full = TxnLog.snapshotFull(spark, table, Some(to))
      return Bridge.asStreaming(
        TxnLog.readState(spark, table, full, Some(schema)))
    }
    val files: Seq[String] =
      (from + 1 to to).flatMap { v =>
        val c = TxnLog.commit(spark, table, v)
        if ((c.removes.nonEmpty || c.dvs.nonEmpty) && !ignoreChanges)
          throw new IllegalStateException(
            s"graft-txn stream on $table hit a non-append commit v$v " +
              s"(${c.removes.size} removes, ${c.dvs.size} DV bindings): " +
              "rewrites and deletes cannot stream exactly-once; restart " +
              "from a fresh checkpoint or set ignoreChanges=true to " +
              "accept redelivery/under-delivery of changed rows")
        c.adds
      }
    val batch =
      if (files.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else
        // readFiles, not a bare schema'd scan: on a column-mapped
        // table the files carry PHYSICAL names and the stream schema
        // is logical — the scan must translate like the snapshot read.
        TxnLog.readFiles(spark, table, files, schema)
    Bridge.asStreaming(batch)
  }

  /** Change-feed batches (`readChangeFeed=true`): every commit streams
    * as its NET row-level changes tagged in `_change` — deletes and
    * updates are the point, so there is no fail-fast. Per version:
    * a pure-append commit ships its adds as inserts directly (no diff
    * cost); any commit with removes or DV bindings ships
    * [[TxnLog.changes]](v-1, v), which reads only churned files and
    * nets rows a compaction merely moved (a pure compaction streams
    * ZERO rows). The initial batch is the start snapshot tagged
    * insert. Downstream this is exactly the input an incremental
    * materialized view consumes. */
  private def changeBatch(from: Long, to: Long): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val dataSchema = StructType(schema.fields.filter(_.name != "_change"))
    val parts: Seq[DataFrame] =
      if (from < 0) {
        val full = TxnLog.snapshotFull(spark, table, Some(to))
        Seq(TxnLog.readState(spark, table, full, Some(dataSchema))
          .withColumn("_change", lit("insert")))
      } else (from + 1 to to).map { v =>
        val c = TxnLog.commit(spark, table, v)
        if (c.removes.isEmpty && c.dvs.isEmpty) {
          if (c.adds.isEmpty)
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], dataSchema)
              .withColumn("_change", lit("insert"))
          else TxnLog.readFiles(spark, table, c.adds, dataSchema)
            .withColumn("_change", lit("insert"))
        } else TxnLog.changes(spark, table, v - 1, v)
      }
    val batch = parts.reduceOption(_ unionByName _).getOrElse(
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
    Bridge.asStreaming(batch.select(schema.fieldNames.map(
      org.apache.spark.sql.functions.col): _*))
  }

  override def commit(end: Offset): Unit =
    shipped = math.max(shipped, end.json.toLong)

  override def stop(): Unit = ()
}

/** Exactly-once txn-log sink: each micro-batch is one idempotent
  * [[TxnLog.appendBatch]] commit keyed streamId:batchId. */
private[sources] class TxnSink(spark: SparkSession, table: String,
                               streamId: String) extends Sink {
  override def addBatch(batchId: Long, data: Dataset[Row]): Unit = {
    // The engine hands a streaming-tagged Dataset; re-tag it batch
    // over the same physical plan so the staging write can run.
    val batch = Bridge.asBatch(data.toDF())
    if (TxnLog.latestVersion(spark, table) < 0)
      TxnLog.create(spark, table, batch.limit(0))
    TxnLog.appendBatch(spark, table, batch, streamId, batchId)
    ()
  }
  override def toString: String = s"TxnSink[$table]"
}
