package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.roaringbitmap.longlong.Roaring64NavigableMap

import graft.GraftConf
import graft.functions.{PartDecodeTable, PerFileExpr, RowMaskExpr, RowMasks}

/** A versioned transaction log over plain parquet — the minimal ACID
  * table core of the published lakehouse designs (Armbrust et al.,
  * "Delta Lake: High-Performance ACID Table Storage over Cloud Object
  * Stores", VLDB 2020), re-derived for this engine:
  *
  *  - The table is a directory of immutable parquet data files plus a
  *    `_log/` of numbered JSON commits (`v00000000.json`, …). A commit
  *    lists file ADDS and REMOVES; the snapshot at version V is the
  *    replay of commits 0..V. Data files are NEVER mutated — every
  *    writer stages new files under unique names first, then publishes
  *    them with one log entry.
  *  - **Atomicity & isolation ride on one primitive**: create-exclusive
  *    of the next version file (HDFS/local `create(overwrite=false)` is
  *    atomic; object stores use if-none-match — same contract). Losers
  *    of the race re-read the log and retry — optimistic concurrency,
  *    no lock service. A reader resolves its snapshot from the log
  *    alone, so it never sees a half-published write: staged-but-
  *    uncommitted files simply aren't in any commit it replays.
  *  - **Compaction is a LOGICAL rewrite**: add the compacted files,
  *    remove the fragments, one commit. Readers pinned at an older
  *    version still resolve the fragments — which is why vacuum is a
  *    separate, retention-gated physical deletion.
  *  - **Time travel is free**: replay to any retained version. The cost
  *    of snapshot resolution is the log length, bounded in practice by
  *    checkpointing the replayed file set every N commits ([[snapshot]]
  *    replays from the latest `c*.json` checkpoint, so resolution reads
  *    O(1) checkpoint + O(N) tail, never the whole history).
  *  - **The schema is log-carried and ENFORCED**: create/overwrite
  *    record the schema in the commit; append validates every batch
  *    against it — a mistyped column fails the COMMIT (where the bug
  *    is), not some later read (far from its cause). Additive evolution
  *    is an explicit opt-in (`mergeSchema = true`), recorded in the
  *    evolving commit so replay always knows the current shape.
  *  - **One codec owns the entry format** ([[TxnCodec]]): each commit
  *    and checkpoint is a JSON object carrying `"format": 2`, its file
  *    adds/removes, per-file stats, deletion-vector and clustered-at
  *    bindings, the optional stream txn marker, COPY INTO ledger and
  *    schema recording; checkpoints also record every stream's
  *    high-water mark. Pre-format-2 logs still read, so old tables
  *    keep working and take new commits.
  *
  * Scale notes for the 100 TB deployment: the log holds FILE paths,
  * not rows — a million-file table is a ~100 MB log tamed to one
  * checkpoint read; data-file I/O is fully distributed (the driver
  * touches only the log); staged writes go through Spark's normal
  * committers so executor-side work is identical to any parquet write.
  */
object TxnLog {

  final case class Commit(version: Long, adds: Seq[String], removes: Seq[String],
                          dvs: Map[String, String] = Map.empty)

  /** One column's [min,max] within one file — TYPED: numeric-family
    * columns (integral, boolean, date-as-days, timestamp-as-micros)
    * canonicalize to longs; string columns carry string bounds
    * (`minStr`/`maxStr` non-null, the long pair unused). A pruning
    * read checks the KIND before trusting a bound, so a long-range
    * prune over string stats (or vice versa) never prunes — mixed
    * logs stay sound. */
  final case class ColStats(min: Long, max: Long,
                            minStr: String = null, maxStr: String = null,
                            nulls: Long = -1L) {
    def isString: Boolean = minStr != null
    /** All-null column in this file: encoded as the EMPTY long range
      * (max < min) — every range/equality intersection test fails, so
      * value pruning of such files is automatic AND sound (no non-null
      * value exists; range/IN predicates never match null). */
    def isAllNull: Boolean = !isString && max < min
  }

  /** Per-file statistics carried IN the commit entry (the Delta
    * stats-in-log design, VLDB 2020 §4.2): the file's row count plus
    * [min,max] per stat column — MULTI-column, so skipping and
    * merge-pruning can bind to any declared key, not just one.
    * Self-describing per path, so commits over different column sets
    * coexist in one log. */
  final case class FileStats(count: Long, cols: Map[String, ColStats])

  /** Every [[append]]/[[overwrite]]/[[compact]] returns the version it
    * published. */
  final case class CommitResult(version: Long, added: Int, removed: Int)

  private def logDir(table: String) = new Path(table, "_log")
  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def versionFile(table: String, v: Long): Path =
    new Path(logDir(table), f"v$v%08d.json")
  private def checkpointFile(table: String, v: Long): Path =
    new Path(logDir(table), f"c$v%08d.json")

  /** Commits between checkpoints; a snapshot read replays at most this
    * many commit files past the newest checkpoint. */
  val CheckpointInterval = 10

  // ---- log primitives ----------------------------------------------------

  /** A schema recording in a commit: the logical table shape plus the
    * RETIRED physical column names (column mapping's tombstones — a
    * dropped column's physical slot must never be handed to a future
    * ADD of the same name, or old files' data would resurrect under
    * it). The retired set is re-recorded in full with every schema
    * commit, so replay (and checkpoints) only ever need the latest. */
  final case class SchemaCommit(schema: StructType,
                                retired: Seq[String] = Nil,
                                constraints: Map[String, String] = Map.empty)

  /** Publish one log entry ([[TxnCodec]] owns the format). The schema
    * is recorded FULLY NULLABLE: a column added by evolution reads as
    * null from pre-evolution files, and the writer-side nullability of
    * one batch (a non-null literal, say) must never make a log column
    * "required" — the vectorized reader refuses files missing a
    * required column, which would brick every evolved table. */
  private def writeEntry(f: FileSystem, p: Path, e: TxnCodec.Entry,
                         exclusive: Boolean): Boolean = {
    val bytes = TxnCodec.encode(e.copy(schema =
      e.schema.map(sc => sc.copy(schema = nullableSchema(sc.schema)))))
    if (exclusive && f.makeQualified(p).toUri.getScheme == "file") {
      // Hadoop's LocalFileSystem create(overwrite=false) is a
      // check-then-act (and silently truncates if it loses the check
      // window) — POSIX O_CREAT|O_EXCL via createNewFile IS atomic, so
      // the local claim uses it directly. HDFS create(overwrite=false)
      // is namenode-atomic; object stores claim with if-none-match.
      val local = new java.io.File(f.makeQualified(p).toUri.getPath)
      local.getParentFile.mkdirs()
      if (!local.createNewFile()) return false
      val out = new java.io.FileOutputStream(local)
      try out.write(bytes) finally out.close()
      return true
    }
    val out =
      try f.create(p, !exclusive)
      catch { case _: java.io.IOException if exclusive => return false }
    try out.write(bytes) finally out.close()
    true
  }

  private def readEntry(f: FileSystem, p: Path): TxnCodec.Entry = {
    val in = f.open(p)
    try TxnCodec.decode(in.readAllBytes()) finally in.close()
  }

  /** Deep-nullable normalization for the log-recorded schema. */
  private def nullableSchema(s: StructType): StructType =
    StructType(s.fields.map(f =>
      f.copy(dataType = nullableType(f.dataType), nullable = true)))

  private def nullableType(dt: DataType): DataType = dt match {
    case st: StructType => nullableSchema(st)
    case org.apache.spark.sql.types.ArrayType(et, _) =>
      org.apache.spark.sql.types.ArrayType(nullableType(et), containsNull = true)
    case org.apache.spark.sql.types.MapType(k, v, _) =>
      org.apache.spark.sql.types.MapType(nullableType(k), nullableType(v),
        valueContainsNull = true)
    case other => other
  }

  /** The accumulated COPY INTO ingest ledger at `version` (default
    * latest): every source-file URI any copy commit at-or-before it
    * loaded. It rides the snapshot's own checkpoint-plus-tail
    * [[replay]]; checkpoints re-record the FULL accumulated set, so
    * idempotence survives log cleanup. Ledger size is ∝ ingested
    * source files — log metadata, never rows. */
  def ingestLedger(spark: SparkSession, table: String,
      version: Option[Long] = None): Set[String] =
    if (latestVersion(spark, table) < 0) Set.empty
    else replay(spark, table, version).copied.map(_._1).toSet

  /** One commit's entry, publicly readable — the incremental-consumer
    * API ([[graft.sources.TxnStreamProvider]] tails the log with it). */
  def commit(spark: SparkSession, table: String, version: Long): Commit = {
    val e = readEntry(fs(spark, logDir(table)), versionFile(table, version))
    Commit(version, e.adds, e.removes, e.dvs)
  }

  private def listVersions(f: FileSystem, table: String, prefix: String): Seq[Long] = {
    val dir = logDir(table)
    if (!f.exists(dir)) return Seq.empty
    f.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith(prefix) && n.endsWith(".json"))
      .map(n => n.stripPrefix(prefix).stripSuffix(".json").toLong)
      .sorted
  }

  /** Latest committed version, or -1 for an empty/absent log. */
  def latestVersion(spark: SparkSession, table: String): Long = {
    val f = fs(spark, logDir(table))
    listVersions(f, table, "v").lastOption.getOrElse(-1L)
  }

  /** The live file set at `version` (default: latest): replay from the
    * newest checkpoint at-or-before `version`, then the commit tail. */
  def snapshot(spark: SparkSession, table: String,
               version: Option[Long] = None): Seq[String] =
    snapshotFull(spark, table, version).map(_._1)

  /** One live file's full log-carried state: optional column stats,
    * optional deletion-vector path (both None for plain appends), and
    * the optional CLUSTERED-AT signature — the cluster-key set the
    * file was laid out under when a clustered rewrite produced it
    * (None for every other write), which is what lets a bare OPTIMIZE
    * on a CLUSTER BY table cluster INCREMENTALLY: only unmarked files
    * rewrite (the liquid-clustering discipline; cost ∝ new data,
    * never the table). Any non-clustered rewrite of the file drops
    * the marker with the entry, so its rows re-cluster next pass. */
  final case class FileState(stats: Option[FileStats], dv: Option[String],
                             cl: Option[String] = None)

  /** The live file set plus each file's log-carried stats (None where
    * the publishing commit recorded none — a stats-less file can never
    * be pruned, which keeps mixed logs sound). Checkpoints carry the
    * accumulated stats forward, so resolution cost stays O(checkpoint
    * + tail) with or without stats. */
  def snapshotWithStats(spark: SparkSession, table: String,
      version: Option[Long] = None): Seq[(String, Option[FileStats])] =
    snapshotFull(spark, table, version).map { case (p, st) => p -> st.stats }

  /** Full replay: live files with stats AND deletion-vector bindings.
    * A commit's `dvs` entries re-bind live files to a DV (latest
    * binding wins); removing a file drops its binding with it. */
  def snapshotFull(spark: SparkSession, table: String,
      version: Option[Long] = None): Seq[(String, FileState)] =
    resolve(spark, table, version)._1

  /** The log-recorded schema at `version` (latest recording at-or-
    * before it wins), None for logs written before schema tracking. */
  def tableSchema(spark: SparkSession, table: String,
      version: Option[Long] = None): Option[StructType] =
    resolve(spark, table, version)._2.map(_.schema)

  /** Live file set AND recorded schema from ONE log replay —
    * table-load-time callers ([[TxnTable]]) need both, and resolving
    * them separately replays the checkpoint + tail twice per
    * statement (round-11 advice). */
  def resolveSnapshot(spark: SparkSession, table: String,
      version: Option[Long] = None): (Seq[(String, FileState)], Option[StructType]) = {
    val (files, sc) = resolve(spark, table, version)
    (files, sc.map(_.schema))
  }

  /** Bounded LRU of fully-resolved snapshots, keyed by the EXACT
    * identity — name + (mtime, length) — of every file the replay
    * reads. Version/checkpoint files are create-exclusive (immutable),
    * so a hit can never be stale; a table deleted and RECREATED at the
    * same path gets fresh mtimes and misses; a `cleanupLog`-removed
    * version still fails loudly, because the fresh listing's require
    * runs before any lookup. One DML statement resolves the tip
    * several times (schema enforcement, constraint lookup, the commit
    * loop's re-resolve) — this turns every repeat into a map hit, and
    * the prefix-seeding below turns each NEW commit's resolve into
    * "cached state at v−1 + parse one commit" instead of a full
    * checkpoint-plus-tail re-parse (O(table) JSON per statement at
    * 100k files). Capacity is file-state-bounded, not entry-bounded,
    * so wide tables cannot pin driver memory. The same budget holds
    * the per-file row-index masks of deletion-vector objects
    * ([[dvMasks]]), keyed `table|dv:<dir>`: a DV object is write-once,
    * so a loaded mask can only go stale when the object is deleted
    * ([[vacuum]]) or the table is recreated ([[invalidate]]). */
  private object ResolveCache {
    private val maxEntries = 64
    // Capacity is approximate BYTES, not a file count: a FileState can
    // carry a wide stats map with string min/max bounds, so a count cap
    // alone could pin hundreds of MB of driver heap behind a nominally
    // "bounded" cache (round-17 advice).
    private val maxApproxBytes = 64L * 1024 * 1024
    private var bytes = 0L
    private val map = new java.util.LinkedHashMap[String, Cached](16, 0.75f, true)
    private def weigh(v: Cached): Long = v match {
      case v: Replayed =>
        v.files.iterator.map { case (p, st) =>
          64L + 2L * p.length +
            st.stats.fold(0L)(fs => fs.cols.iterator.map { case (c, cs) =>
              80L + 2L * c.length +
                (if (cs.minStr != null) 2L * cs.minStr.length else 0L) +
                (if (cs.maxStr != null) 2L * cs.maxStr.length else 0L)
            }.sum) +
            st.dv.fold(0L)(d => 2L * d.length) +
            st.cl.fold(0L)(c => 2L * c.length)
        }.sum + v.schema.fold(0L)(sc => 256L * math.max(1, sc.schema.fields.length)) +
          v.copied.iterator.map(c => 64L + 2L * c._1.length).sum
      case m: DvObject =>
        m.files.iterator.map { case (p, b) =>
          64L + 2L * p.length + b.serializedSizeInBytes }.sum
    }
    def snapshot(k: String): Option[Replayed] =
      synchronized(Option(map.get(k))).collect { case r: Replayed => r }
    def mask(k: String): Option[DvObject] =
      synchronized(Option(map.get(k))).collect { case m: DvObject => m }
    def put(k: String, v: Cached): Unit =
      synchronized {
        if (!map.containsKey(k)) {
          map.put(k, v)
          bytes += weigh(v)
          val it = map.entrySet().iterator()
          while ((map.size > maxEntries || bytes > maxApproxBytes) && it.hasNext) {
            val e = it.next(); bytes -= weigh(e.getValue); it.remove()
          }
        }
      }
    private def evict(keep: String => Boolean): Unit = synchronized {
      val it = map.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (!keep(e.getKey)) { bytes -= weigh(e.getValue); it.remove() }
      }
    }
    /** Drop every cached snapshot and mask of `table` — called when
      * version 0 publishes at a path: a drop-and-recreate within one
      * mtime granule (object stores report second-granularity
      * Last-Modified) with same-length log files would otherwise
      * collide with the old incarnation's keys and serve a stale
      * snapshot (round-17 advice). Covers every in-process recreate;
      * cross-process recreates remain guarded by the (mtime, length)
      * identity, as before. */
    def invalidate(table: String): Unit = evict(!_.startsWith(table + "|"))
    /** Drop the cached masks of `table` whose DV object is not in
      * `live`. */
    def evictMasks(table: String, live: Set[String]): Unit = {
      val pfx = maskKey(table, "")
      evict(k => !k.startsWith(pfx) || live(k.substring(pfx.length)))
    }
    def clear(): Unit = synchronized { map.clear(); bytes = 0L }
    /** Test hook: current approximate byte accounting. */
    def approxBytes: Long = synchronized(bytes)
    def entryCount: Int = synchronized(map.size)
  }

  private def maskKey(table: String, dvDir: String): String = s"$table|dv:$dvDir"

  /** A value [[ResolveCache]] holds: a replayed snapshot or a loaded
    * DV object. */
  private sealed trait Cached

  /** One deletion-vector object's masks: file key → row indexes. */
  private final case class DvObject(
      files: Map[String, Roaring64NavigableMap]) extends Cached

  /** Test hooks: cache accounting for the eviction spec. */
  private[graft] def resolveCacheApproxBytes: Long = ResolveCache.approxBytes
  private[graft] def resolveCacheEntryCount: Int = ResolveCache.entryCount

  /** Test hook: drop the snapshot and mask cache (cold-path
    * measurements). */
  private[graft] def clearResolveCache(): Unit = ResolveCache.clear()

  /** Test hook: whether the mask of DV object `dvDir` is cached. */
  private[graft] def maskCached(table: String, dvDir: String): Boolean =
    ResolveCache.mask(maskKey(table, dvDir)).isDefined

  /** One checkpoint-plus-tail replay: the live files, the latest schema
    * recording, the COPY INTO ledger (each source URI with the version
    * that loaded it; URIs a checkpoint folds report the checkpoint's
    * version), and each stream's committed high-water mark.
    * `unmarked` names a checkpoint written before format 2, which
    * records no stream marks (see [[streamMarks]]). */
  private final case class Replayed(files: Seq[(String, FileState)],
                                    schema: Option[SchemaCommit],
                                    copied: Seq[(String, Long)],
                                    streams: Map[String, Long],
                                    unmarked: Option[Long]) extends Cached

  private def resolve(spark: SparkSession, table: String,
      version: Option[Long]): (Seq[(String, FileState)], Option[SchemaCommit]) = {
    val r = replay(spark, table, version)
    (r.files, r.schema)
  }

  /** `streamId:batchId` → (streamId, batchId). A stream's batch ids
    * only grow along the log ([[appendBatch]] refuses a batch at or
    * below the mark), so the latest marker is the high-water mark. */
  private def streamMark(txn: String): Option[(String, Long)] = {
    val i = txn.lastIndexOf(':')
    if (i < 0) None else txn.substring(i + 1).toLongOption.map(txn.substring(0, i) -> _)
  }

  /** Every stream's committed high-water mark in `r`. A checkpoint
    * written before format 2 records none, so the version files it
    * folds are read for their txn markers, where they survive. */
  private def streamMarks(spark: SparkSession, table: String,
                          r: Replayed): Map[String, Long] =
    r.unmarked.fold(r.streams) { cv =>
      val f = fs(spark, logDir(table))
      listVersions(f, table, "v").filter(_ <= cv).flatMap(v =>
        readEntry(f, versionFile(table, v)).txn.flatMap(streamMark)).toMap ++ r.streams
    }

  private def replay(spark: SparkSession, table: String,
      version: Option[Long]): Replayed = {
    val f = fs(spark, logDir(table))
    val dir = logDir(table)
    // ONE listing serves version discovery, checkpoint discovery, and
    // the cache-identity map (the pre-cache form listed the dir twice).
    val statuses =
      if (!f.exists(dir)) Seq.empty
      else f.listStatus(dir).toSeq.filterNot(_.isDirectory)
    def nums(prefix: String): Seq[Long] = statuses.map(_.getPath.getName)
      .filter(n => n.startsWith(prefix) && n.endsWith(".json"))
      .map(n => n.stripPrefix(prefix).stripSuffix(".json").toLong)
      .sorted
    val versions = nums("v")
    require(versions.nonEmpty, s"not a TxnLog table: $table")
    val v = version.getOrElse(versions.last)
    val ckpts = nums("c")
    // A checkpoint-only version (its v-file cleaned by [[cleanupLog]])
    // still resolves — the checkpoint IS its full state.
    require(versions.contains(v) || ckpts.contains(v),
      s"version $v not in log (have ${versions.mkString(",")}; " +
        "older entries may have been cleaned — see cleanupLog)")
    val ckpt = ckpts.filter(_ <= v).lastOption
    val tail = versions.filter(tv => tv <= v && ckpt.forall(tv > _))
    val ident: Map[String, String] = statuses.map(s =>
      s.getPath.getName -> s"${s.getModificationTime}:${s.getLen}").toMap
    def fileId(name: String) = name + "@" + ident.getOrElse(name, "?")
    // The key of the state at `upTo` under THIS replay chain — by
    // construction identical to the key resolve(table, Some(upTo))
    // computes itself (no checkpoint sits in (ckpt, v], so upTo's own
    // checkpoint choice is the same one).
    def keyAt(upTo: Long): String =
      table + "|" + (ckpt.map(cv => fileId(f"c$cv%08d.json")).toSeq ++
        tail.filter(_ <= upTo).map(tv => fileId(f"v$tv%08d.json")))
        .mkString("|")
    val key = keyAt(v)
    ResolveCache.snapshot(key) match {
      case Some(hit) => return hit
      case None =>
    }
    val live = scala.collection.mutable.LinkedHashMap.empty[String, FileState]
    var schema: Option[SchemaCommit] = None
    val copied = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    var streams = Map.empty[String, Long]
    var unmarked: Option[Long] = None
    // Seed from the longest cached prefix of the same chain: immutable
    // files make "cached state at w" + "apply (w, v]" ≡ full replay.
    var seeded = -1L
    tail.filter(_ < v).reverse.take(16).find { w =>
      ResolveCache.snapshot(keyAt(w)) match {
        case Some(r) =>
          r.files.foreach(live += _); schema = r.schema; copied ++= r.copied
          streams = r.streams; unmarked = r.unmarked; seeded = w; true
        case None => false
      }
    }
    def apply(e: TxnCodec.Entry, at: Long): Unit = {
      e.removes.foreach(live -= _)
      e.adds.foreach(p =>
        live += p -> FileState(e.stats.get(p), e.dvs.get(p), e.cls.get(p)))
      // DV re-bindings of files that stay live (not in this commit's adds).
      e.dvs.foreach { case (p, d) =>
        live.get(p).foreach(s => live += p -> s.copy(dv = Some(d)))
      }
      e.schema.foreach(s => schema = Some(s))
      e.copied.foreach(copied.getOrElseUpdate(_, at))
      streams = streams ++ e.streams.getOrElse(Map.empty) ++ e.txn.flatMap(streamMark)
    }
    if (seeded < 0) ckpt.foreach { cv =>
      val e = readEntry(f, checkpointFile(table, cv))
      if (e.streams.isEmpty) unmarked = Some(cv)
      apply(e, cv)
    }
    tail.filter(_ > seeded).foreach(tv =>
      apply(readEntry(f, versionFile(table, tv)), tv))
    val out = Replayed(live.toSeq, schema, copied.toSeq, streams, unmarked)
    ResolveCache.put(key, out)
    out
  }

  // ---- column mapping ------------------------------------------------------

  /** Field-metadata key carrying a column's PHYSICAL (in-file) name
    * when it differs from the logical one — the Delta column-mapping
    * design: RENAME/DROP become pure metadata commits (the log's
    * data files are immutable by contract), and reads translate
    * physical → logical at scan time. Absent metadata means
    * physical = logical (every pre-mapping table). */
  val PhysicalNameKey = "graft.physical"

  private[graft] def physicalName(f: StructField): String =
    if (f.metadata.contains(PhysicalNameKey))
      f.metadata.getString(PhysicalNameKey)
    else f.name

  private def physicalSchema(s: StructType): StructType =
    StructType(s.fields.map(f => f.copy(name = physicalName(f))))

  private[graft] def hasMapping(s: StructType): Boolean =
    s.fields.exists(f => physicalName(f) != f.name)

  /** Physical→logical projection after a mapped scan; `extra` columns
    * (mask keys) ride through untouched. No-op on unmapped schemas. */
  private def toLogical(df: DataFrame, schema: StructType,
                        extra: Seq[String] = Nil): DataFrame =
    if (!hasMapping(schema)) df
    else {
      import org.apache.spark.sql.functions.col
      df.select(schema.fields.map(f =>
        col(s"`${physicalName(f)}`").as(f.name)).toSeq ++ extra.map(col): _*)
    }

  /** Strip column-mapping metadata from a caller-provided schema
    * before RECORDING it as a fresh baseline (create/overwrite): a
    * DataFrame derived from a mapped-table read inherits
    * [[PhysicalNameKey]] metadata through its scan aliases, but the
    * freshly staged files carry the DataFrame's own (logical) column
    * names — recording the stale mapping would make every later read
    * bind absent physical slots and return all-null columns. */
  private def stripMapping(s: StructType): StructType =
    StructType(s.fields.map(stripMapping))

  private def stripMapping(f: StructField): StructField =
    if (!f.metadata.contains(PhysicalNameKey)) f
    else f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(f.metadata).remove(PhysicalNameKey).build())

  /** Raw parquet files of this table read under its recorded schema:
    * binds the PHYSICAL names in-file and projects back to logical —
    * the incremental per-commit read path ([[TxnStreamProvider]]),
    * which must translate names exactly like the snapshot read. */
  private[graft] def readFiles(spark: SparkSession, table: String,
      paths: Seq[String], schema: StructType): DataFrame =
    toLogical(attachPartitionCols(
      spark.read.schema(nullableSchema(physicalSchema(schema)))
        .parquet(paths.map(p => dataPath(table, p)): _*), schema, paths), schema)

  /** Rename a batch's logical columns to their physical names before
    * staging — files ALWAYS carry physical names; columns unknown to
    * the mapping (additive-evolution extras) stage under their own
    * name, which IS their physical name. */
  private def toPhysical(df: DataFrame, mapping: Option[StructType]): DataFrame =
    mapping.filter(hasMapping) match {
      case None => df
      case Some(m) =>
        import org.apache.spark.sql.functions.col
        df.select(df.columns.map { c =>
          m.fields.find(_.name.equalsIgnoreCase(c)) match {
            case Some(f) if physicalName(f) != c =>
              col(s"`$c`").as(physicalName(f))
            case _ => col(s"`$c`")
          }
        }.toSeq: _*)
    }

  // ---- partitioned tables --------------------------------------------------

  /** Field-metadata key marking a PARTITION column (value = ordinal).
    * Partitioned txn tables lay data files out hive-style
    * (`stage-x/col=value/part-*.parquet`): the VALUE lives in the
    * table-relative path the log already records per file, so
    * partition pruning — and the O(1) metadata partition DROP — read
    * it with zero extra log format. Riding field metadata (like
    * [[GeneratedExprKey]]) means every schema-carrying commit
    * preserves the partitioning automatically. */
  val PartitionColKey = "graft.partition"

  /** Spark's hive-default sentinel for a NULL partition value. */
  private val NullPartName = "__HIVE_DEFAULT_PARTITION__"

  /** Field-metadata key marking a CLUSTER BY column (value = ordinal)
    * — the liquid-clustering-style TABLE PROPERTY: `OPTIMIZE` with no
    * explicit CLUSTER BY clause range-clusters on these columns, so
    * the maintenance job and every ad-hoc operator agree on the
    * layout keys forever (writer-discipline clustering drifts,
    * table-property clustering cannot). Unlike partition columns the
    * values are NOT path-baked — clustering only shapes file contents
    * for stats-in-log pruning — so no rename/drop guard is needed. */
  val ClusterColKey = "graft.cluster"

  /** The schema's CLUSTER BY columns in declared order (empty = none). */
  private[graft] def clusterColumns(s: StructType): Seq[String] =
    s.fields.filter(_.metadata.contains(ClusterColKey))
      .sortBy(_.metadata.getLong(ClusterColKey)).map(_.name).toSeq

  /** The table's recorded CLUSTER BY columns at the latest version. */
  def clusterColumnsOf(spark: SparkSession, table: String): Seq[String] =
    tableSchema(spark, table).fold(Seq.empty[String])(clusterColumns)

  /** The schema's partition fields in partition order (empty =
    * unpartitioned — every pre-partitioning table). */
  private[graft] def partitionFields(s: StructType): Seq[StructField] =
    s.fields.filter(_.metadata.contains(PartitionColKey))
      .sortBy(_.metadata.getLong(PartitionColKey)).toSeq

  /** The table's partition column names (logical), in order. */
  def partitionColumns(spark: SparkSession, table: String): Seq[String] =
    tableSchema(spark, table).fold(Seq.empty[String])(
      partitionFields(_).map(_.name))

  /** Inverse of the hive path escaping Spark's partitioned writer
    * applies (`%XX` for the reserved char set) — decoded driver-side
    * per distinct VALUE, never per row. */
  private[graft] def unescapePathName(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        val hex = s.substring(i + 1, i + 3)
        try { sb.append(Integer.parseInt(hex, 16).toChar); i += 3 }
        catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** The RAW (still-escaped) `column=value` segment value in a
    * table-relative path, if present; case-insensitive column match. */
  private def rawPartValue(rel: String, column: String): Option[String] = {
    val pfx = column.toLowerCase + "="
    rel.split('/').iterator.filter(_.toLowerCase.startsWith(pfx))
      .map(_.substring(pfx.length)).nextOption()
  }

  /** The DECODED partition value of `column` in a log entry — None
    * when the path has no such segment, Some(null) for the null
    * sentinel. EXTERNAL (shallow-clone) entries went through one
    * extra `Path.toUri` encoding when the clone recorded them, so
    * their segments unescape TWICE (the sentinel has no escapable
    * chars, so it survives either way). */
  private[graft] def partValueOf(rel: String, column: String): Option[String] =
    rawPartValue(rel, column).map { v0 =>
      val v = if (isExternal(rel)) unescapePathName(v0) else v0
      if (v == NullPartName) null else unescapePathName(v)
    }

  /** Attach partition columns to a raw file scan: each partition
    * field's value is derived from the scanned file's PATH (the same
    * `col=value` segment the log's rel path records) — an O(1)
    * segment-scan + hash probe ([[graft.functions.PartDecodeTable]],
    * a driver-built escaped→decoded table of one entry per DISTINCT
    * partition value, never per file) run once per file by
    * [[graft.functions.PerFileExpr]], then a cast to the recorded
    * type. The cost is INDEPENDENT of partition cardinality — the
    * round-14 form probed a literal map linearly, paying
    * O(partitions) string compares per row on full scans of a
    * high-cardinality table. This deliberately avoids Spark's
    * directory-discovery reader: discovery rejects k=v segments nested
    * under the log's non-k=v staging dirs
    * (CONFLICTING_DIRECTORY_STRUCTURES), and a per-file union plan
    * would explode at real file counts. Files lacking the segment
    * (never produced by a partitioned stage) read null — sound, and
    * DV/metadata objects never take this path. */
  private def attachPartitionCols(df: DataFrame, schema: StructType,
      rels: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val parts = partitionFields(schema)
    if (parts.isEmpty) return df
    parts.foldLeft(df) { (d, f) =>
      val phys = physicalName(f)
      // `input_file_name()` reports the Path-URI string form (the same
      // SparkPath.urlEncoded contract relPathCol documents), so the
      // hive-escaped on-disk segment (`with%20space`) appears
      // URI-encoded AGAIN (`with%2520space`) — the table keys must be
      // in THAT encoding or special-char values silently read null.
      // EXTERNAL (shallow-clone) entries were recorded in the URI
      // string form already, so their raw segment is the scan-visible
      // key AS-IS and the decoded value unescapes twice.
      def uriEncode(seg: String): String =
        new java.net.URI(null, null, "/" + seg, null).getRawPath.substring(1)
      val pairs = rels
        .flatMap(r => rawPartValue(r, phys).map(v => (isExternal(r), v)))
        .distinct.filter(_._2 != NullPartName)
        .map { case (ext, v) =>
          if (ext) v -> unescapePathName(unescapePathName(v))
          else uriEncode(v) -> unescapePathName(v)
        }.distinct.toArray
      val v =
        if (pairs.isEmpty) lit(null).cast(f.dataType)
        else PerFileExpr.column(
          new PartDecodeTable(s"/$phys=", NullPartName, pairs).lookup).cast(f.dataType)
      d.withColumn(phys, v)
    }
  }

  /** DataFrame of the table at `version` (default latest). Paths are
    * passed explicitly, so a scan never lists the table directory and
    * staged/removed files are invisible regardless of physical state.
    * Reads merge schemas across the snapshot's files: a commit may add
    * columns (schema evolution under append), and older files then
    * read as null in the new columns — while a TIME-TRAVEL read at a
    * pre-evolution version resolves only old files and so still
    * presents the old schema, exactly as the log semantics demand. */
  def read(spark: SparkSession, table: String,
           version: Option[Long] = None): DataFrame = {
    val (files, schema) = resolveSnapshot(spark, table, version)
    require(files.nonEmpty, s"empty snapshot of $table at $version")
    readState(spark, table, files, schema)
  }

  /** Scan a resolved file set applying its deletion vectors: a file
    * with a DV binding drops the rows its mask marks, by a per-file
    * row-index filter on the scan ([[readTagged]]). `_metadata.row_index`
    * is parquet-stable for immutable files, so the mask is exact
    * across any partitioning. */
  private[graft] def readState(spark: SparkSession, table: String,
      files: Seq[(String, FileState)],
      schema: Option[StructType] = None): DataFrame = {
    val (df, hasDv) = readTagged(spark, table, files, schema)
    if (hasDv) df.drop("_gf_rel", "_gf_idx") else df
  }

  /** True when a log entry addresses a file OUTSIDE the table root —
    * an absolute qualified URI recorded by [[clone]] (shallow-clone
    * entries reference the SOURCE table's files in place). Engine-
    * generated rel paths (under `stage-` and `col=value` segments)
    * never start with '/' nor carry a scheme, so the test is unambiguous
    * (partition values hive-escape ':' to %3A before they reach a
    * path segment). */
  private[graft] def isExternal(p: String): Boolean =
    p.startsWith("/") || p.contains(":/")

  /** The readable path of a log entry: external entries decode from
    * their stored URI form back to the RAW path (the stored string is
    * `Path.toUri.toString` so it byte-matches `input_file_name()`;
    * readers want the unencoded name — a space in a partition value is
    * `%20` in the key but a literal space on disk); table-relative
    * entries resolve under the table root. Every read of
    * entry-addressed data must go through here — a bare
    * `s"$table/$p"` concat turns a shallow-clone entry into garbage. */
  private[graft] def dataPath(table: String, p: String): String =
    if (isExternal(p)) new Path(new java.net.URI(p)).toString
    else s"$table/$p"

  /** [[dataPath]] as a filesystem Path — for the metadata probes
    * (sizes, footers, existence) that address entries directly. */
  private[graft] def dataPathObj(table: String, p: String): Path =
    if (isExternal(p)) new Path(new java.net.URI(p))
    else new Path(table, p)

  /** The scan-visible, URL-ENCODED qualified table prefix:
    * `input_file_name()` reports the scan file's Path-URI string form
    * (SparkPath.urlEncoded), so any per-row match against the table
    * path must happen in THAT encoding — matching the raw path string
    * silently never matches when the table path carries a space, `%`,
    * or non-ASCII char, and DML would bind zero files (round-10
    * advice, medium). Relative paths the engine generates
    * (`stage-<uuid>/part-*.parquet`) are encoding-invariant. */
  private[sources] def encodedTablePrefix(spark: SparkSession, table: String): String = {
    val p = new Path(table)
    fs(spark, p).makeQualified(p).toUri.toString
  }

  /** Entries per external-membership `isin` guard before it falls back
    * to trusting the file name: past this, the guard is dropped rather
    * than shipping a plan-sized literal list. */
  private val MaxExternalGuard = 10000

  /** The log-entry KEY of each scanned row's file, derived from
    * [[encodedTablePrefix]]; FAILS LOUDLY on a non-matching file —
    * a silent null would make DV joins and victim binding quietly
    * empty, turning a DELETE into a successful no-op. For EXTERNAL
    * (shallow-clone) entries the stored string IS the scan's reported
    * name (both derive from `Path.toUri` over the same path), so the
    * key is the file name itself — guarded by membership in the
    * snapshot's external set (which keeps the loud-failure property
    * for encoding drift) up to [[MaxExternalGuard]] entries. The
    * prefix strip runs once per file and decodes the rest back to the
    * recorded rel path ([[graft.functions.PerFileExpr.relativeTo]]): a
    * hive-escaped partition segment (`g=with%20space`) is encoded
    * again in the scan's report. */
  private def relPathCol(spark: SparkSession, table: String,
      files: Seq[String]): Column = {
    import org.apache.spark.sql.functions.{coalesce, concat, input_file_name, lit, raise_error, when}
    val pfx = encodedTablePrefix(spark, table) + "/"
    val f = input_file_name()
    val local = PerFileExpr.column(PerFileExpr.relativeTo(pfx))
    val ext = files.filter(isExternal)
    val err = raise_error(concat(
      lit(s"scan file outside table $table (prefix $pfx): "), f))
    if (ext.isEmpty) coalesce(local, err)
    else if (ext.size <= MaxExternalGuard)
      coalesce(local, when(f.isin(ext: _*), f).otherwise(err))
    else coalesce(local, f)
  }

  /** [[readState]] keeping the mask keys (`_gf_rel` relative path,
    * `_gf_idx` row index) as columns when DVs are in play — the mask
    * keys must be computed ON the scan (metadata columns do not
    * survive an intervening projection), so writers that need them
    * (deleteMoR) share this path instead of re-deriving them
    * downstream. The mask itself is a [[RowMaskExpr]] filter over
    * those keys: each DV-bound file's row-index bitmap, loaded once
    * per DV object ([[dvMasks]]) and shipped by broadcast, so a
    * masked scan plans no join and runs no job beyond its own. */
  private def readTagged(spark: SparkSession, table: String,
      files: Seq[(String, FileState)],
      schema: Option[StructType] = None,
      tagAlways: Boolean = false): (DataFrame, Boolean) = {
    import org.apache.spark.sql.functions.col
    // Files carry PHYSICAL column names; the scan binds to those and
    // the projection back to logical names happens after the mask
    // keys are derived (they need the raw scan — metadata columns do
    // not survive an intervening projection reliably, which is also
    // why DML callers take `tagAlways` here instead of adding the
    // keys after the fact).
    val reader = schema.fold(spark.read.option("mergeSchema", "true"))(s =>
      spark.read.schema(nullableSchema(physicalSchema(s))))
    val raw = reader.parquet(files.map { case (p, _) => dataPath(table, p) }: _*)
    // Partitioned tables: the files do not CARRY the partition
    // columns (hive layout) — they derive from the file paths here,
    // before masking/projection, so every downstream consumer (DV
    // masks, DML rewrites, CDC diffs) sees them as ordinary columns.
    val base = schema.fold(raw)(s =>
      attachPartitionCols(raw, s, files.map(_._1)))
    val hasDv = files.exists(_._2.dv.isDefined)
    if (!hasDv && !tagAlways)
      (schema.fold(base)(toLogical(base, _)), false)
    else {
      val tagged = base.withColumn("_gf_rel",
        relPathCol(spark, table, files.map(_._1)))
        .withColumn("_gf_idx", col("_metadata.row_index"))
      val masks = fileMasks(spark, table, files)
      val masked =
        if (masks.isEmpty) tagged
        else tagged.filter(RowMaskExpr.column(col("_gf_rel"), col("_gf_idx"),
          new RowMasks(spark.sparkContext.broadcast(masks))))
      (schema.fold(masked)(
        toLogical(masked, _, extra = Seq("_gf_rel", "_gf_idx"))), hasDv)
    }
  }

  /** The fixed schema of a deletion-vector object: one row per masked
    * row, its file key and row index. */
  private val DvSchema = StructType(Seq(
    StructField("file", StringType), StructField("idx", LongType)))

  /** The masks of DV objects `dirs`, each as file key → row indexes.
    * DV objects are write-once, so each is read at most once per
    * driver and held in [[ResolveCache]]; the ones not cached load
    * together in one job, read with [[DvSchema]] (no inference job).
    * A DV object that is gone (vacuumed) fails the read here. */
  private def dvMasks(spark: SparkSession, table: String,
      dirs: Seq[String]): Map[String, Map[String, Roaring64NavigableMap]] = {
    import org.apache.spark.sql.functions.{col, lit}
    val want = dirs.distinct
    val cached = want.flatMap(d =>
      ResolveCache.mask(maskKey(table, d)).map(d -> _.files)).toMap
    val cold = want.filterNot(cached.contains)
    if (cold.isEmpty) return cached
    val built = cold.map(_ =>
      scala.collection.mutable.HashMap.empty[String, Roaring64NavigableMap])
    cold.zipWithIndex.map { case (d, i) =>
      spark.read.schema(DvSchema).parquet(dataPath(table, d))
        .select(lit(i), col("file"), col("idx"))
    }.reduce(_ union _).collect().foreach { r =>
      built(r.getInt(0)).getOrElseUpdate(r.getString(1),
        new Roaring64NavigableMap()).addLong(r.getLong(2))
    }
    cached ++ cold.zip(built).map { case (d, m) =>
      m.values.foreach(_.runOptimize())
      val files = m.toMap
      ResolveCache.put(maskKey(table, d), DvObject(files))
      d -> files
    }
  }

  /** Each DV-bound file of `files` with its row-index mask. */
  private def fileMasks(spark: SparkSession, table: String,
      files: Seq[(String, FileState)]): Map[String, Roaring64NavigableMap] = {
    val bound = files.collect { case (p, FileState(_, Some(d), _)) => p -> d }
    if (bound.isEmpty) Map.empty
    else {
      val objs = dvMasks(spark, table, bound.map(_._2))
      bound.flatMap { case (p, d) => objs(d).get(p).map(p -> _) }.toMap
    }
  }

  /** Write the DV object `table/sub` holding `masks`, from the driver
    * (the masks are already there: no job), and seed the mask cache
    * with it. */
  private def writeDv(spark: SparkSession, table: String, sub: String,
      masks: Map[String, Roaring64NavigableMap]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message dv { required binary file (STRING); required int64 idx; }")
    val conf = spark.sparkContext.hadoopConfiguration
    val out = HadoopOutputFile.fromPath(
      new Path(s"$table/$sub", "part-00000.parquet"), conf)
    // withConf: the builder's default configuration is a fresh Hadoop
    // Configuration, which re-parses core-default.xml on every write.
    val w = ExampleParquetWriter.builder(out).withConf(conf).withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY).build()
    val rows = new SimpleGroupFactory(schema)
    try masks.toSeq.sortBy(_._1).foreach { case (p, bits) =>
      val it = bits.getLongIterator
      while (it.hasNext) w.write(rows.newGroup().append("file", p).append("idx", it.next()))
    } finally w.close()
    ResolveCache.put(maskKey(table, sub), DvObject(masks))
  }

  // ---- schema enforcement --------------------------------------------------

  /** Validate an incoming batch against the log-recorded table schema
    * (case-insensitive names, structural types ignoring nullability):
    *  - a column whose type differs REJECTS THE COMMIT — the Delta
    *    enforcement contract; without it a mistyped appender silently
    *    forks the table schema and the failure surfaces at read time,
    *    far from its cause;
    *  - a column the table doesn't have rejects unless
    *    `mergeSchema = true`, which evolves additively and records the
    *    merged schema in the commit;
    *  - a MISSING table column is fine (the file reads as null there —
    *    the established evolution semantics).
    * Returns the schema the commit should record: Some(merged) when it
    * changes (or when a legacy log has none yet), None otherwise. */
  private def enforceSchema(spark: SparkSession, table: String, df: DataFrame,
                            mergeSchema: Boolean, what: String): Option[SchemaCommit] =
    enforceSchemaOn(spark, table, resolve(spark, table, None)._2, df,
      mergeSchema, what)

  /** [[enforceSchema]] against a caller-resolved tip: DML verbs that
    * already replayed the snapshot pass their SchemaCommit through so
    * one statement does not re-resolve (re-LIST, at object-store
    * latency) per internal step. The commit loop's by-name re-check
    * still re-resolves — that one is load-bearing (concurrent
    * evolution). */
  private def enforceSchemaOn(spark: SparkSession, table: String,
                            meta: Option[SchemaCommit], df: DataFrame,
                            mergeSchema: Boolean, what: String): Option[SchemaCommit] =
    meta match {
      case None => Some(SchemaCommit(df.schema)) // pre-tracking log: adopt from here on.
      case Some(SchemaCommit(cur, retired, constraints)) =>
        // PARTITIONED tables: every user data write must CARRY the
        // partition columns. A frame without them would stage FLAT
        // (no `col=value` segment), and those rows then read as
        // partition-null while dropPartition/overwritePartition select
        // victims BY the path segment — so a later DROP/OVERWRITE of
        // the null partition would silently leave them in place,
        // breaking the atomic-replace contract (round-14 advice,
        // medium). Only enforced here, on user writes — internal
        // frames (DV objects, stats) never pass enforceSchema.
        // GENERATED partition columns are exempt WHEN DERIVABLE: stage()
        // computes them into every frame whose columns cover the
        // expression's references BEFORE the hive-laid write, so a
        // writer omitting them still lands in the right partition —
        // the derived-partitioning idiom (day generated from ts). A
        // frame missing BOTH the column and its sources would stage
        // flat, so that case still rejects.
        // A DEFAULTed partition column is exempt the same way: stage()
        // fills the declared default into frames that omit the column
        // BEFORE the hive-laid write, so the file still lands under its
        // `col=value` segment (round-15 advice, low).
        val frameNames = df.schema.fieldNames.map(_.toLowerCase).toSet
        val missingPart = partitionFields(cur).filterNot { f =>
          frameNames(f.name.toLowerCase) ||
            f.metadata.contains(org.apache.spark.sql.catalyst.util
              .ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY) ||
            (f.metadata.contains(GeneratedExprKey) && {
              val refs = scala.util.Try(spark.sessionState.sqlParser
                .parseExpression(f.metadata.getString(GeneratedExprKey))
                .references.map(_.name.toLowerCase).toSet)
                .getOrElse(Set.empty[String])
              refs.nonEmpty && refs.subsetOf(frameNames)
            })
        }.map(_.name)
        if (missingPart.nonEmpty)
          throw new IllegalArgumentException(
            s"$what to $table rejected: the table is partitioned by " +
              s"${partitionFields(cur).map(_.name).mkString(", ")} and " +
              s"every data write must carry the partition column(s); " +
              s"missing ${missingPart.mkString(", ")}")
        val extras = scala.collection.mutable.ArrayBuffer.empty[StructField]
        df.schema.fields.foreach { fld =>
          cur.fields.find(_.name.equalsIgnoreCase(fld.name)) match {
            case Some(c) =>
              // A frame whose column widens LOSSLESSLY into the table
              // type is accepted as-is (the post-widen narrow-writer
              // case): the file stores the narrow physical encoding
              // and every reader promotes per file — no data change a
              // reader could observe. Anything else still rejects.
              if (c.dataType.catalogString != fld.dataType.catalogString &&
                  !widens(fld.dataType, c.dataType))
                throw new IllegalArgumentException(
                  s"$what to $table rejected: column '${fld.name}' is " +
                    s"${fld.dataType.catalogString} but the table schema has " +
                    s"${c.dataType.catalogString} — schema enforcement fails " +
                    "the COMMIT; fix the writer (types never coerce silently; " +
                    "only lossless widenings are accepted in place)")
            case None =>
              if (!mergeSchema)
                throw new IllegalArgumentException(
                  s"$what to $table rejected: column '${fld.name}' does not " +
                    "exist in the table schema — pass mergeSchema = true to " +
                    "evolve additively")
              // An evolution extra's physical slot is its own name —
              // which must not shadow a RETIRED slot (old files would
              // resurrect data under it) or a live physical of some
              // OTHER logical column (one slot serving two columns).
              val taken = retired ++ cur.fields.map(physicalName)
              if (taken.exists(_.equalsIgnoreCase(fld.name)))
                throw new IllegalArgumentException(
                  s"$what to $table rejected: column '${fld.name}' names a " +
                    "retired or remapped physical slot (a dropped/renamed " +
                    "column used it) — use ALTER TABLE ADD COLUMNS, which " +
                    "assigns a fresh physical slot")
              // Stripped: a batch column sourced from ANOTHER mapped
              // table would smuggle that table's physical binding in.
              extras += stripMapping(fld)
          }
        }
        if (extras.isEmpty) None
        else Some(SchemaCommit(StructType(cur.fields ++ extras), retired,
          constraints))
    }

  // ---- writers -----------------------------------------------------------

  /** Stage `df` as new parquet files under a unique subdirectory and
    * return their table-relative paths. Staging is invisible: nothing
    * references the files until a commit publishes them. `mapping`
    * (the table schema at the caller's pin) renames mapped logical
    * columns to their PHYSICAL slots first — files always carry
    * physical names. */
  private def stage(spark: SparkSession, table: String, df: DataFrame,
                    mapping: Option[StructType],
                    preserveShape: Boolean = false,
                    resolvedMeta: Option[Option[SchemaCommit]] = None): Seq[String] = {
    val sub = s"stage-${java.util.UUID.randomUUID().toString.take(12)}"
    // Column DEFAULTS fill first (a generated expression may reference
    // a defaulted column): a frame OMITTING a defaulted column gets
    // the default computed in — so the graft write paths honor the
    // declared default exactly like Spark's own column-list INSERT
    // resolution does. Only MISSING columns fill; an explicit NULL is
    // a value, not an omission (standard DEFAULT semantics, unlike
    // identity's null-assignment contract). DV/metadata frames carry
    // none of the table's columns structure and are unaffected
    // (withColumn on them is harmless — they are never read as data —
    // but skipping keeps them byte-identical): skip frames that carry
    // NONE of the schema's columns.
    val defaulted = mapping.fold(df) { schema =>
      val names = df.schema.fieldNames.map(_.toLowerCase).toSet
      val anyTableCol = schema.fields.exists(f => names(f.name.toLowerCase))
      if (!anyTableCol) df
      else {
        val key = org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
          .CURRENT_DEFAULT_COLUMN_METADATA_KEY
        schema.fields
          .filter(f => f.metadata.contains(key) && !names(f.name.toLowerCase))
          .foldLeft(df) { (d, f) =>
            d.withColumn(f.name, org.apache.spark.sql.functions
              .expr(f.metadata.getString(key)).cast(f.dataType))
          }
      }
    }
    // GENERATED columns derive INSIDE the staging write, before the
    // constraint guard (constraints may reference them): a frame
    // missing the column gets it computed; a frame CARRYING it (a
    // rewrite's survivors, a writer-supplied value) gets it RECOMPUTED
    // — "GENERATED ALWAYS AS" means the column is never writer-owned,
    // which also makes MoR-update copies self-heal when their source
    // columns changed. Frames whose columns can't resolve the
    // expression (DV objects) skip, like constraints.
    val gen = mapping.fold(defaulted) { schema =>
      val names = defaulted.schema.fieldNames.map(_.toLowerCase).toSet
      schema.fields.filter(_.metadata.contains(GeneratedExprKey))
        .foldLeft(defaulted) { (d, fld) =>
          val text = fld.metadata.getString(GeneratedExprKey)
          val refs = scala.util.Try(spark.sessionState.sqlParser
            .parseExpression(text).references.map(_.name.toLowerCase).toSet)
            .getOrElse(Set.empty[String])
          if (refs.isEmpty || !refs.subsetOf(names)) d
          else d.withColumn(fld.name,
            org.apache.spark.sql.functions.expr(text).cast(fld.dataType))
        }
    }
    // CHECK constraints evaluate INSIDE the staging write — one fused
    // per-row predicate, no second pass: a violating row raises before
    // anything commits, on every path (append, streaming batch, MERGE
    // resolution, UPDATE copies, compaction — an UPDATE can introduce
    // a violation, so rewrites check too). Only constraints whose
    // referenced columns all exist in THIS frame apply: DV objects and
    // other non-row frames carry none of them, and user frames are
    // schema-enforced before staging, so a missing column here is
    // by-design, not a hole. SQL semantics: NULL passes, FALSE raises.
    val guarded = {
      // `resolvedMeta`: the caller's already-replayed tip (DML verbs
      // resolve once per statement and thread it through); absent for
      // create/first-write paths, which resolve here.
      val cs = resolvedMeta.getOrElse(
          scala.util.Try(resolve(spark, table, None)._2).toOption.flatten)
        .map(_.constraints).getOrElse(Map.empty)
      val names = gen.schema.fieldNames.map(_.toLowerCase).toSet
      cs.foldLeft(gen) { case (d, (n, e)) =>
        val refs = scala.util.Try(spark.sessionState.sqlParser
          .parseExpression(e).references.map(_.name.toLowerCase).toSet)
          .getOrElse(Set.empty[String])
        if (refs.isEmpty || !refs.subsetOf(names)) d
        else d.filter(org.apache.spark.sql.functions.when(
          org.apache.spark.sql.functions.coalesce(
            org.apache.spark.sql.functions.expr(e),
            org.apache.spark.sql.functions.lit(true)),
          org.apache.spark.sql.functions.lit(true))
          .otherwise(org.apache.spark.sql.functions.raise_error(
            org.apache.spark.sql.functions.concat(
              org.apache.spark.sql.functions.lit(
                s"CHECK constraint '$n' violated on write to $table: ($e)"
              )))))
      }
    }
    // OPTIMIZE-WRITE (opt-in): a REBALANCE hint ahead of the staged
    // write lets AQE size output partitions to its advisory target —
    // the write-side complement to auto-compaction (prevent the
    // small-file spray instead of repairing it). Opt-in because it
    // inserts a shuffle: correct for wide writers (a 16-task stream
    // sink spraying 16 tiny files per batch), wasted for writers that
    // already partition deliberately. DELIBERATELY-SHAPED frames take
    // PRECEDENCE: a batch the caller just range-clustered (cluster-on-
    // write, OPTIMIZE…CLUSTER BY, incremental clustering — all about
    // to stamp clustered-at markers) must not be re-scattered; AQE
    // still right-sizes the range partitions, so nothing is lost.
    val shaped =
      if (GraftConf.get(spark.sessionState.conf, "spark.graft.write.rebalance")(
            _.toBooleanOption).contains(true)
          && !preserveShape && !clusterWriteApplies(spark, mapping, df))
        guarded.hint("REBALANCE")
      else guarded
    // PARTITIONED tables stage hive-style (`stage-x/col=value/…`): the
    // partition values live in the rel paths the commit records, so
    // EVERY staging write — appends, MERGE survivors, UPDATE copies,
    // compaction rewrites — preserves the layout and partition pruning
    // never erodes. Frames lacking the partition columns (DV objects,
    // other metadata frames) stage flat; they are never read as data.
    val partCols: Seq[String] =
      partitionFields(mapping.getOrElse(df.schema)).map(physicalName)
    val physical = toPhysical(shaped, mapping)
    val frameCols = physical.schema.fieldNames.map(_.toLowerCase).toSet
    if (partCols.nonEmpty && partCols.forall(c => frameCols(c.toLowerCase)))
      physical.write.partitionBy(partCols: _*).parquet(s"$table/$sub")
    else physical.write.parquet(s"$table/$sub")
    val dir = new Path(table, sub)
    val f = fs(spark, dir)
    val pfx0 = f.makeQualified(dir).toString + "/"
    val stagedBuf = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = f.listFiles(dir, true)
    while (it.hasNext) {
      val st = it.next()
      if (st.getPath.getName.endsWith(".parquet"))
        stagedBuf += s"$sub/${f.makeQualified(st.getPath).toString.stripPrefix(pfx0)}"
    }
    val staged: Seq[String] = stagedBuf.toSeq
    // Bloom coverage is a TABLE property: every staging write — plain
    // appends, streaming batches, MERGE survivors, compaction
    // rewrites, DV objects — consults the configured columns here, so
    // DML and maintenance keep point-lookup coverage instead of
    // eroding it (the stats-inheritance principle applied to the
    // bloom tier). Lenient: frames lacking a configured column (DV
    // objects) just skip it.
    // The POST-generation schema: a bloom-configured GENERATED column
    // (a hash prefix, a derived day) is recomputed into the staged
    // frame above but absent from the caller's df — sidecars must see
    // it or every normal write erodes point-lookup coverage on exactly
    // the derived-skipping-key case the two features compose for
    // (round-13 advice, low).
    // Partition columns never carry sidecars: their values prune from
    // the paths (tier 0) and the hive-laid files don't contain the
    // column — filtered on the TABLE schema because a plain append's
    // frame carries no partition metadata.
    val partLower = partCols.map(_.toLowerCase).toSet
    val bloomCols = TxnBloom.configuredCols(spark, table)
      .filterNot(c => partLower(c.toLowerCase))
    if (bloomCols.nonEmpty)
      TxnBloom.writeSidecars(spark, table, staged, bloomCols, gen.schema,
        mapping, lenient = true)
    staged
  }

  /** Physically drop an abandoned attempt's staged files eagerly —
    * they are unreferenced by construction, and leaving them to vacuum
    * accumulates orphans under sustained conflict (round-10 advice). */
  private def dropStaged(spark: SparkSession, table: String,
                         staged: Seq[String]): Unit =
    staged.map(_.takeWhile(_ != '/')).distinct.foreach { sub =>
      fs(spark, new Path(table)).delete(new Path(table, sub), true)
    }

  /** Optimistic-concurrency commit loop: read latest, attempt
    * create-exclusive of latest+1, on loss re-read and retry.
    * `attempt` decides, given the winner-advanced log, whether the
    * commit is still wanted (append always is; overwrite/compact must
    * recompute their removes; an idempotent sink bows out if its batch
    * already landed) — returning None abandons WITHOUT publishing.
    *
    * `schema` is BY-NAME and re-evaluated on every attempt, AFTER the
    * tip read: a schema computed once before the loop goes stale the
    * moment a concurrent commit evolves the table — two concurrent
    * additive evolutions would each re-publish tip+own-extras and the
    * loser's column would silently vanish from replay (round-11
    * advice, medium). Re-evaluating against the current tip makes a
    * rebase re-merge (or re-fail enforcement) exactly like the
    * reference lakehouse protocol's metadata-conflict check; the
    * create-exclusive of tip+1 then guarantees the schema it recorded
    * saw every commit at-or-before the tip it built on.
    *
    * Returns the published version, or None if abandoned. */
  private def commitLoop(spark: SparkSession, table: String, txn: Option[String] = None,
                         stats: Map[String, FileStats] = Map.empty,
                         dvs: Map[String, String] = Map.empty,
                         schema: => Option[SchemaCommit] = None,
                         cls: Map[String, String] = Map.empty,
                         copied: Seq[String] = Nil)
                        (attempt: Long => Option[(Seq[String], Seq[String])]): Option[CommitResult] = {
    val f = fs(spark, logDir(table))
    while (true) {
      val next = latestVersion(spark, table) + 1
      attempt(next) match {
        case None => return None
        case Some((a, r)) =>
          if (writeEntry(f, versionFile(table, next), TxnCodec.Entry(a, r, txn,
              stats, dvs, cls, copied, schema,
              ts = Some(System.currentTimeMillis())), exclusive = true)) {
            // A fresh v0 at this path means any cached snapshot belongs
            // to a previous incarnation (drop + recreate): invalidate
            // so a same-mtime-granule recreate can never serve stale
            // state (see [[ResolveCache.invalidate]]).
            if (next == 0) ResolveCache.invalidate(table)
            if (next % CheckpointInterval == 0 && next > 0) {
              // Checkpoints publish by RENAME: a crash mid-write must
              // never leave a truncated c*.json — replay parses the
              // newest checkpoint unconditionally, so a torn one would
              // brick every later snapshot even though the commits
              // are intact. Write to a temp name, then move into
              // place (atomic on local/HDFS; the checkpoint is pure
              // optimization, so a crash before the rename just means
              // replay walks a longer tail). One replay yields the
              // files, schema, ingest ledger and stream marks.
              val st = replay(spark, table, Some(next))
              val tmp = new Path(logDir(table), f"c$next%08d.json.tmp")
              writeEntry(f, tmp, TxnCodec.Entry(
                adds = st.files.map(_._1),
                stats = st.files.flatMap { case (p, s) => s.stats.map(p -> _) }.toMap,
                dvs = st.files.flatMap { case (p, s) => s.dv.map(p -> _) }.toMap,
                cls = st.files.flatMap { case (p, s) => s.cl.map(p -> _) }.toMap,
                copied = st.copied.map(_._1).sorted,
                schema = st.schema,
                streams = Some(streamMarks(spark, table, st))), exclusive = false)
              f.rename(tmp, checkpointFile(table, next))
            }
            return Some(CommitResult(next, a.size, r.size))
          }
        // else: lost the race — loop re-reads the log and retries.
      }
    }
    None // unreachable
  }

  private def mustCommit(r: Option[CommitResult], what: String): CommitResult =
    r.getOrElse(throw new IllegalStateException(s"$what abandoned after conflict"))

  /** The JVM's file-name encoding, fixed from the locale at start. */
  private lazy val fileNameCharset: java.nio.charset.Charset =
    scala.util.Try(java.nio.charset.Charset.forName(
      System.getProperty("sun.jnu.encoding"))).getOrElse(
      java.nio.charset.Charset.defaultCharset())

  /** Fail fast on a local lake path the file-name encoding `cs` cannot
    * represent: java.io maps such characters to `?`, and the first
    * write would otherwise fail deep in a task. */
  private[graft] def checkPathEncoding(table: String,
      cs: java.nio.charset.Charset = fileNameCharset): Unit = {
    val scheme = new Path(table).toUri.getScheme
    if ((scheme == null || scheme == "file") && !cs.newEncoder().canEncode(table))
      throw new IllegalArgumentException(
        s"lake path $table cannot be named in the JVM's file-name encoding " +
          s"$cs (sun.jnu.encoding, set from the locale at JVM start): " +
          "start the JVM under a UTF-8 locale, e.g. LC_ALL=C.UTF-8")
  }

  /** Create the table (version 0) from `df`; the commit records the
    * schema, which every later append is enforced against. Per-file
    * [min,max] stats are collected BY DEFAULT on every supported
    * column ([[statsKind]]) — the Delta convention: skipping coverage
    * should not depend on the writer remembering an opt-in. */
  def create(spark: SparkSession, table: String, df: DataFrame): CommitResult = {
    checkPathEncoding(table)
    val f = fs(spark, logDir(table))
    f.mkdirs(logDir(table))
    val staged = stage(spark, table, df, mapping = None)
    mustCommit(commitLoop(spark, table,
      stats = stagedStats(spark, table, staged, defaultStatsCols(df.schema)),
      schema = Some(SchemaCommit(stripMapping(df.schema)))) { v =>
      if (v != 0) None else Some((staged, Nil))
    }, s"create $table")
  }

  /** [[create]] with PARTITION columns — the Delta/Iceberg
    * `PARTITIONED BY` shape: data files lay out hive-style under each
    * commit's staging directory, the partition VALUES ride the rel
    * paths the log records, and from then on every write (appends,
    * MERGE survivors, compaction rewrites) preserves the layout.
    * What it buys at 100 TB: partition-equality reads prune the file
    * LIST before stats or footers ([[readPrunedPartition]] /
    * [[pruneFilesEq]]), and retention becomes [[dropPartition]] — an
    * O(1) METADATA commit that drops a day of a 100 TB table without
    * touching a byte of data. Partition column types are restricted
    * to the dir-string-round-trippable set (string/integral/date/
    * boolean), same soundness boundary as Delta's. */
  def createPartitioned(spark: SparkSession, table: String, df: DataFrame,
                        partCols: Seq[String]): CommitResult = {
    import org.apache.spark.sql.functions.col
    require(partCols.nonEmpty, "createPartitioned needs partition columns")
    import org.apache.spark.sql.types._
    val fields = df.schema.fields
    val supported: Set[DataType] = Set(StringType, ByteType, ShortType,
      IntegerType, LongType, BooleanType, DateType)
    partCols.foreach { c =>
      val f = fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"partition column '$c' not in the frame's schema"))
      require(supported.contains(f.dataType),
        s"partition column '$c' has unsupported type " +
          s"${f.dataType.simpleString} (supported: string, integral, " +
          "boolean, date — values must round-trip through path strings)")
    }
    val annotated = df.select(fields.map { f =>
      partCols.zipWithIndex.find(_._1.equalsIgnoreCase(f.name)) match {
        case Some((_, i)) =>
          col(s"`${f.name}`").as(f.name,
            new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(f.metadata).putLong(PartitionColKey, i).build())
        case None => col(s"`${f.name}`")
      }
    }.toSeq: _*)
    create(spark, table, annotated)
  }

  /** The PHYSICAL path-segment name of a partition column addressed by
    * its logical name — every partition-tier victim/prune match must go
    * through this (the path carries physical names; partition columns
    * currently refuse rename, but the invariant should not be
    * load-bearing at a distance). Throws on a non-partition column. */
  private def partPhys(table: String, schema: StructType,
                       column: String): String =
    partitionFields(schema).find(_.name.equalsIgnoreCase(column))
      .map(physicalName).getOrElse(throw new IllegalArgumentException(
        s"'$column' is not a partition column of $table " +
          s"(partitions: ${partitionFields(schema).map(_.name).mkString(", ")})"))

  /** Drop one partition as a PURE METADATA commit: every live file
    * whose path carries `column=value` leaves the snapshot — no data
    * file is read, rewritten, or deleted (vacuum reclaims the bytes
    * after retention, and time travel still resolves the partition
    * until then). THE reason partitioned tables exist at 100 TB:
    * retention by partition is one O(files-in-log) driver commit.
    * Returns the commit; the removed count rides `CommitResult`. */
  def dropPartition(spark: SparkSession, table: String, column: String,
                    value: Any): CommitResult =
    dropPartition(spark, table, Map(column -> value))

  /** Multi-column form: drop every live file whose path matches ALL of
    * `spec`'s (column → value) entries — a PARTIAL spec over a
    * multi-column layout drops the whole matching slice (every
    * `tenant=x` day at once). Same O(1)-metadata contract as the
    * single-column form; one atomic commit. */
  def dropPartition(spark: SparkSession, table: String,
                    spec: Map[String, Any]): CommitResult = {
    require(spec.nonEmpty, "dropPartition needs a partition spec")
    val schema = tableSchema(spark, table).getOrElse(
      throw new IllegalArgumentException(s"$table records no schema"))
    val want: Seq[(String, String)] = spec.toSeq.map { case (c, v) =>
      partPhys(table, schema, c) -> Option(v).map(_.toString).orNull
    }
    mustCommit(commitLoop(spark, table) { v =>
      val victims = snapshotFull(spark, table, Some(v - 1)).collect {
        case (rel, _) if want.forall { case (phys, value) =>
          partValueOf(rel, phys).contains(value)
        } => rel
      }
      Some((Nil, victims))
    }, s"drop partition ${spec.mkString(",")} of $table")
  }

  /** PREDICATE partition drop — the retention idiom (`DROP PARTITION
    * WHERE dt < '2026-01-01'`): evaluate `cond` over the table's live
    * partition TUPLES (typed, decoded from the paths — a
    * partition-count-sized local relation, never the data) and drop
    * every file in a matching partition, all in ONE metadata commit.
    * The predicate may reference partition columns only (anything else
    * fails resolution loudly). N matching partitions leave in a single
    * atomic commit — time travel still resolves them until vacuum. */
  def dropPartitionsWhere(spark: SparkSession, table: String,
                          cond: Column): CommitResult = {
    import org.apache.spark.sql.functions.col
    val schema = tableSchema(spark, table).getOrElse(
      throw new IllegalArgumentException(s"$table records no schema"))
    val parts = partitionFields(schema)
    require(parts.nonEmpty, s"$table is not partitioned")
    mustCommit(commitLoop(spark, table) { v =>
      val files = snapshotFull(spark, table, Some(v - 1))
      // Distinct live tuples (string-form, path-decoded), evaluated as
      // a TYPED local relation so the predicate sees real values
      // (dates compare as dates, ints as ints) — identical decode+cast
      // semantics to the read path's attachPartitionCols.
      val tuples: IndexedSeq[Seq[String]] = files.map { case (rel, _) =>
        parts.map(p => partValueOf(rel, physicalName(p)).orNull)
      }.distinct.toIndexedSeq
      if (tuples.isEmpty) Some((Nil, Nil))
      else {
        val rows = tuples.zipWithIndex.map { case (t, i) =>
          Row.fromSeq(i.toLong +: t)
        }
        val strSchema = StructType(
          StructField("_gf_tuple_idx", org.apache.spark.sql.types.LongType,
            nullable = false) +:
            parts.map(p => StructField(p.name,
              org.apache.spark.sql.types.StringType, nullable = true)))
        val typed = spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1), strSchema)
          .select(col("_gf_tuple_idx") +: parts.map(p =>
            col(s"`${p.name}`").cast(p.dataType).as(p.name)): _*)
        val hit: Set[Int] = typed.filter(cond)
          .select("_gf_tuple_idx").collect().map(_.getLong(0).toInt).toSet
        val victimTuples = hit.map(tuples(_)).toSet
        val victims = files.collect {
          case (rel, _) if victimTuples.contains(
            parts.map(p => partValueOf(rel, physicalName(p)).orNull)) => rel
        }
        Some((Nil, victims))
      }
    }, s"drop partitions WHERE of $table")
  }

  /** REPLACE one partition atomically: everything under the static
    * `spec` leaves the snapshot and `df`'s rows land in its place, in
    * ONE commit (readers see the old partition or the new one, never a
    * mix) — the `INSERT OVERWRITE … PARTITION (col=v)` /
    * Delta-replaceWhere shape, and the daily-rebuild primitive at
    * 100 TB (recompute a day, swap it in; the rest of the table never
    * moves). `df` must NOT carry the spec'd columns — the static spec
    * owns them (standard static-partition semantics); they are
    * appended as cast literals, so every staged row provably lands in
    * the replaced partition. Removes recompute against the CURRENT
    * snapshot on every retry, like [[overwrite]]. */
  def overwritePartition(spark: SparkSession, table: String,
      spec: Map[String, Any], df: DataFrame): CommitResult = {
    import org.apache.spark.sql.functions.lit
    require(spec.nonEmpty, "overwritePartition needs a partition spec")
    val schema = tableSchema(spark, table).getOrElse(
      throw new IllegalArgumentException(s"$table records no schema"))
    val parts = partitionFields(schema)
    spec.keys.foreach { c =>
      require(parts.exists(_.name.equalsIgnoreCase(c)),
        s"'$c' is not a partition column of $table " +
          s"(partitions: ${parts.map(_.name).mkString(", ")})")
      require(!df.columns.exists(_.equalsIgnoreCase(c)),
        s"the query must not produce static partition column '$c' — " +
          "the PARTITION spec owns its value")
    }
    // GENERATED spec columns: stage() will RECOMPUTE the value from
    // the frame's source columns, overriding the attached literal — a
    // row whose derived value disagrees with the spec would land in a
    // DIFFERENT partition than the one being replaced, silently
    // moving data. Validate the contract up front (replaceWhere's
    // pattern): every row's derived value must equal the spec.
    spec.foreach { case (c, v) =>
      val f = parts.find(_.name.equalsIgnoreCase(c)).get
      if (f.metadata.contains(GeneratedExprKey)) {
        val text = f.metadata.getString(GeneratedExprKey)
        val refs = scala.util.Try(spark.sessionState.sqlParser
          .parseExpression(text).references.map(_.name.toLowerCase).toSet)
          .getOrElse(Set.empty[String])
        val names = df.schema.fieldNames.map(_.toLowerCase).toSet
        if (refs.nonEmpty && refs.subsetOf(names)) {
          val derived = org.apache.spark.sql.functions.expr(text)
            .cast(f.dataType)
          val bad = df.filter(!(derived <=> lit(v).cast(f.dataType))).take(1)
          require(bad.isEmpty,
            s"overwritePartition on $table: '$c' is GENERATED AS ($text) " +
              s"and some rows derive a value != the spec'd '$v' (e.g. " +
              s"${bad.headOption.getOrElse("")}) — they would land " +
              "outside the replaced partition; fix the frame or use " +
              "the dynamic overwrite")
        }
      }
    }
    val full = spec.foldLeft(df) { case (d, (c, v)) =>
      val dt = schema.fields.find(_.name.equalsIgnoreCase(c)).get.dataType
      d.withColumn(c, lit(v).cast(dt))
    }
    val cur = tableSchema(spark, table)
    enforceSchema(spark, table, full, mergeSchema = false,
      "partition overwrite")
    val staged = stage(spark, table, full, cur)
    val want: Seq[(String, String)] = spec.toSeq.map { case (c, v) =>
      partPhys(table, schema, c) -> Option(v).map(_.toString).orNull
    }
    mustCommit(commitLoop(spark, table,
      stats = stagedStats(spark, table, staged,
        defaultStatsCols(cur.getOrElse(full.schema)), cur)) { v =>
      val victims = snapshotFull(spark, table, Some(v - 1)).collect {
        case (rel, _) if want.forall { case (phys, value) =>
          partValueOf(rel, phys).contains(value)
        } => rel
      }
      Some((staged, victims))
    }, s"overwrite partition ${spec.mkString(",")} of $table")
  }

  /** DYNAMIC partition overwrite — replace EXACTLY the partitions the
    * frame produces, in one atomic commit (Spark's
    * `partitionOverwriteMode=dynamic` / Hive dynamic-partition-insert
    * semantics): the frame carries the partition column(s); the
    * replaced set is derived FROM THE STAGED FILES' own `col=value`
    * path segments (the Delta AddFile discipline — round-15 advice:
    * deriving it from a SEPARATE execution of the frame lets a
    * nondeterministic or concurrently-changing source stage rows into
    * partitions absent from the replaced set, leaking old rows beside
    * new). One execution, zero extra jobs — the staged write IS the
    * partition discovery, generated columns included (stage computes
    * them). Every live file in a replaced partition leaves the
    * snapshot; partitions the frame does NOT touch never move — the
    * daily multi-partition rebuild primitive (recompute three days in
    * one query, swap exactly those three in). A legacy flat file with
    * NO partition segment is never victimized (missing segment =
    * no-match; use overwrite/compact to adopt such files into the
    * layout). An EMPTY frame replaces nothing and commits nothing
    * (the Delta convention for dynamic mode — no silent truncate).
    * Victim selection recomputes against the CURRENT snapshot on
    * every retry, so concurrent appends to replaced partitions are
    * superseded rather than leaked past the overwrite. */
  def overwritePartitionsDynamic(spark: SparkSession, table: String,
                                 df: DataFrame): CommitResult = {
    val schema = tableSchema(spark, table).getOrElse(
      throw new IllegalArgumentException(s"$table records no schema"))
    val parts = partitionFields(schema)
    require(parts.nonEmpty, s"$table is not partitioned — dynamic " +
      "partition overwrite needs partition columns (use overwrite)")
    val cur = tableSchema(spark, table)
    enforceSchema(spark, table, df, mergeSchema = false,
      "dynamic partition overwrite")
    val physNames = parts.map(physicalName)
    val staged = stage(spark, table, df, cur)
    // The replaced set: the partition tuples the staged files ACTUALLY
    // landed under — pure driver path parsing of the staged list, the
    // exact values victim matching keys on (same decode both sides).
    val replaced: Set[Seq[String]] = staged.flatMap { rel =>
      val vals = physNames.map(pn => partValueOf(rel, pn))
      if (vals.forall(_.isDefined)) Some(vals.map(_.get): Seq[String])
      else None
    }.toSet
    if (replaced.isEmpty) {
      dropStaged(spark, table, staged)
      return CommitResult(latestVersion(spark, table), 0, 0)
    }
    mustCommit(commitLoop(spark, table,
      stats = stagedStats(spark, table, staged,
        defaultStatsCols(cur.getOrElse(df.schema)), cur)) { v =>
      val victims = snapshotFull(spark, table, Some(v - 1)).collect {
        case (rel, _) if {
          val vals = physNames.map(pn => partValueOf(rel, pn))
          vals.forall(_.isDefined) && replaced.contains(vals.map(_.get))
        } => rel
      }
      Some((staged, victims))
    }, s"dynamic partition overwrite of $table")
  }

  /** Rewrite every `IN (SELECT …)` in `predicate` to a literal
    * IN-list by evaluating the subquery ONCE under a row cap
    * (`spark.graft.replaceWhere.inSubqueryMaxRows`, default 100000;
    * the capped-collect pattern the bloom IN-subquery probe rule
    * established — `limit(cap+1)` bounds both driver memory and the
    * job, and "more rows than the cap" abandons loudly rather than
    * OOMing). The rewrite is EXACT: `In` over the collected literals
    * (nulls included) has SQL IN's three-valued semantics, and an
    * empty result folds to FALSE — `x IN (empty set)` for any x. The
    * subquery must be deterministic (its plan-time value set IS the
    * semantics; a nondeterministic one would replace an unknowable
    * region). EXISTS/scalar subqueries have no IN-list form and still
    * reject. Predicates without subqueries pass through untouched.
    * NOTE the [[Bridge.catalystExpression]] conversion: a SQL-text
    * predicate (`expr("k IN (SELECT …)")` — the REPLACE WHERE front
    * door's form) reaches here as a lazy ColumnNodeExpression whose
    * tree is opaque to `exists`/`transform`; the full conversion is
    * what makes the subquery visible at all. */
  private def materializeInSubqueries(spark: SparkSession,
      predicate: Column, what: String): Column = {
    import org.apache.spark.sql.catalyst.expressions.{InSubquery, In,
      Literal, SubqueryExpression}
    val e = Bridge.catalystExpression(predicate)
    if (!e.exists(_.isInstanceOf[SubqueryExpression])) return predicate
    val cap = GraftConf.get(spark.sessionState.conf,
      "spark.graft.replaceWhere.inSubqueryMaxRows")(_.toIntOption).getOrElse(100000)
    val out = e.transform {
      case InSubquery(values, lq) =>
        require(values.length == 1,
          s"$what: multi-column IN subqueries are not supported — " +
            "concatenate the key or use DELETE + append")
        val sub = Bridge.ofRows(spark, lq.plan)
        require(sub.queryExecution.analyzed.deterministic,
          s"$what: the IN subquery must be deterministic (its one-time " +
            "evaluation defines the replaced region)")
        val rows = sub.limit(cap + 1).collect()
        require(rows.length <= cap,
          s"$what: the IN subquery returned more than $cap rows — " +
            "raise spark.graft.replaceWhere.inSubqueryMaxRows or use " +
            "DELETE + append")
        val dt = sub.schema.fields.head.dataType
        if (rows.isEmpty) Literal.create(false,
          org.apache.spark.sql.types.BooleanType)
        else In(values.head,
          rows.toSeq.map(r => Literal.create(r.get(0), dt)))
    }
    require(!out.exists(_.isInstanceOf[SubqueryExpression]),
      s"$what: only IN (SELECT …) subqueries are supported here " +
        "(EXISTS/scalar subqueries have no IN-list materialization) — " +
        "materialize the subquery, or DELETE then append")
    Bridge.column(out)
  }

  /** PREDICATE overwrite — Delta's `replaceWhere`: atomically replace
    * exactly the rows matching `predicate` with `df`'s rows, in ONE
    * commit (readers see the old region or the new one, never a mix).
    * The general form of [[overwritePartition]]: the predicate may
    * reference ANY columns; only files that actually CONTAIN matching
    * rows rewrite (the same one-scan victim binding as [[delete]], cap
    * and full-rewrite degradation included), their non-matching rows
    * survive, and `df` lands alongside. The Delta contract is
    * enforced: every replacement row must satisfy the predicate (a
    * row escaping it would silently widen the overwrite) — validated
    * distributed, fails loudly before anything stages. `IN (SELECT …)`
    * subquery predicates — the decontamination shape ("replace every
    * row whose key is in <bad-keys>") — are MATERIALIZED up front by
    * [[materializeInSubqueries]]: the subquery evaluates once under a
    * row cap and rewrites to a literal IN-list, after which the
    * survivor negation, the escapee validation, AND stats-based victim
    * pruning all see an ordinary predicate (a raw subquery would have
    * no negation position and would defeat file skipping). Other
    * subquery shapes (EXISTS, scalar) still reject loudly. Abandons
    * loudly if a victim file was replaced concurrently, like
    * [[delete]]. */
  def overwriteWhere(spark: SparkSession, table: String, predicate0: Column,
      df: DataFrame,
      maxCollectedVictims: Int = MaxCollectedVictims): CommitResult = {
    import org.apache.spark.sql.functions.col
    val predicate = materializeInSubqueries(spark, predicate0,
      s"overwriteWhere on $table")
    val cur = tableSchema(spark, table)
    enforceSchema(spark, table, df, mergeSchema = false,
      "replaceWhere overwrite")
    // The replaceWhere contract, validated BEFORE any staging I/O.
    val escapees = df.filter(!(predicate.cast("boolean") <=> true)).take(1)
    require(escapees.isEmpty,
      s"overwriteWhere on $table: replacement rows must ALL satisfy the " +
        s"predicate (found e.g. ${escapees.headOption.getOrElse("")}) — " +
        "widen the predicate or fix the producing query")
    val (full, snapSchema) = resolveSnapshot(spark, table)
    val states = full.toMap
    val (keyed, _) = readTagged(spark, table, full, snapSchema,
      tagAlways = true)
    val collected = keyed.filter(predicate)
      .select(col("_gf_rel")).distinct().limit(maxCollectedVictims + 1)
      .collect().map(_.getString(0)).toSeq
    val victims =
      if (collected.size > maxCollectedVictims) full.map(_._1) else collected
    val survivorsStaged =
      if (victims.isEmpty) Nil
      else {
        val victimRead = readState(spark, table,
          victims.map(p => p -> states(p)), snapSchema)
        stage(spark, table,
          victimRead.filter(!(predicate.cast("boolean") <=> true)), snapSchema)
      }
    val newStaged = stage(spark, table, df, cur)
    val statCols = inheritedStatsCols(full)
    val stats =
      if (statCols.isEmpty) Map.empty[String, FileStats]
      else stagedStats(spark, table, survivorsStaged ++ newStaged,
        statCols, snapSchema)
    commitLoop(spark, table, stats = stats) { v =>
      val current = snapshotFull(spark, table, Some(v - 1)).toMap
      if (victims.forall(p => current.get(p).contains(states(p))))
        Some((survivorsStaged ++ newStaged, victims))
      else None
    } match {
      case Some(r) => r
      case None =>
        dropStaged(spark, table, survivorsStaged ++ newStaged)
        throw new IllegalStateException(
          s"overwriteWhere on $table abandoned: a victim file was " +
            "replaced concurrently")
    }
  }

  /** Partition-equality read: plan the scan over only the files whose
    * path-carried partition value matches — zero metadata beyond the
    * log's own file list. Files without the segment always scan and
    * the residual filter applies, so pruning can never change the
    * answer; semantics are exactly `read(...).filter(col <=> value)`
    * for the partition column. */
  def readPrunedPartition(spark: SparkSession, table: String, column: String,
      values: Seq[Any], version: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    require(values.nonEmpty, "readPrunedPartition needs probe values")
    val (all, schema) = resolveSnapshot(spark, table, version)
    val want = values.map(v => Option(v).map(_.toString).orNull).toSet
    val kept = all.filter { case (rel, _) =>
      partValueOf(rel, column).forall(want.contains)
    }
    if (kept.isEmpty) read(spark, table, version).filter(lit(false))
    else readState(spark, table, kept, schema)
      .filter(col(column).isin(values.filter(_ != null): _*) ||
        (if (values.contains(null)) col(column).isNull else lit(false)))
  }

  /** SHOW PARTITIONS: one row per live partition with its file count
    * and log-carried row count (-1 when any member file lacks stats).
    * Pure driver metadata — the log's file list plus path parsing; no
    * file opens. The SQL face is the `table_partitions('<path>'
    * [, version])` TVF. */
  def partitions(spark: SparkSession, table: String,
                 version: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val (files, schemaOpt) = resolveSnapshot(spark, table, version)
    val parts = schemaOpt.map(partitionFields).getOrElse(Nil)
    require(parts.nonEmpty, s"$table is not partitioned")
    val rows = files
      .groupBy(f => parts.map(p =>
        partValueOf(f._1, physicalName(p)).getOrElse(null)))
      .toSeq.map { case (vals, fs) =>
        val rendered = parts.map(_.name).zip(vals)
          .map { case (k, v) => s"$k=${Option(v).getOrElse("null")}" }
          .mkString("/")
        val counts = fs.map(_._2.stats.map(_.count))
        val nRows =
          if (counts.forall(_.isDefined)) counts.flatten.sum else -1L
        (rendered, fs.size.toLong, nRows)
      }
    rows.toDF("partition", "n_files", "n_rows").orderBy("partition")
  }

  /** Record an EVOLVED schema as a data-less commit (the `ALTER TABLE
    * ADD COLUMNS` shape): no files move, replay just learns the new
    * shape, existing files read null in the added columns. Re-merges
    * `added` against the LOG TIP on every commit attempt, so two
    * concurrent additive evolutions both survive (each rebase appends
    * to the other's result) and a concurrent addition of the SAME
    * column name fails loudly as the metadata conflict it is. */
  def addColumns(spark: SparkSession, table: String,
                 added: Seq[StructField]): CommitResult =
    mustCommit(commitLoop(spark, table, schema = {
      val meta = resolve(spark, table, None)._2.getOrElse(SchemaCommit(StructType(Nil)))
      val cur = meta.schema
      added.foreach { f =>
        if (cur.fieldNames.exists(_.equalsIgnoreCase(f.name)))
          throw new IllegalArgumentException(
            s"column '${f.name}' already exists in $table (possibly added " +
              "by a concurrent schema change — metadata conflict)")
      }
      // A new column whose name shadows a RETIRED physical slot (or a
      // live physical of a renamed column) gets a FRESH slot — the
      // column-mapping rule that keeps old files' data from
      // resurrecting under a re-added name. The slot is suffixed with
      // the publishing version, unique by construction.
      val taken = (meta.retired ++ cur.fields.map(physicalName))
        .map(_.toLowerCase).toSet
      val v = latestVersion(spark, table) + 1
      val mapped = added.map { f =>
        if (!taken.contains(f.name.toLowerCase)) f.copy(nullable = true)
        else f.copy(nullable = true, metadata =
          new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putString(PhysicalNameKey, s"${f.name}__p$v").build())
      }
      Some(SchemaCommit(StructType(cur.fields ++ mapped), meta.retired,
        meta.constraints))
    })(_ => Some((Nil, Nil))), s"evolve $table")

  /** `ALTER TABLE … RENAME COLUMN` as a pure METADATA commit (column
    * mapping): the field keeps its PHYSICAL slot — every immutable
    * data file stays byte-identical — and only the logical name
    * changes; reads translate at scan time, old snapshots time-travel
    * under the old name, new writes bind to the new one. Re-validated
    * against the tip per attempt like every schema commit. */
  /** Lossless in-place type widenings (`ALTER COLUMN … TYPE`): the
    * pairs where every value of `from` is exactly representable in
    * `to` AND the parquet readers promote per file (SPARK-40876), so
    * immutable files stay put and mixed-type snapshots read correctly.
    * byte<short<int<long; float→double; byte/short/int→double (exact
    * in the 53-bit mantissa). long→double is OUT (loses precision past
    * 2^53); everything else would genuinely rewrite data. */
  private[graft] def widens(from: DataType, to: DataType): Boolean = {
    import org.apache.spark.sql.types._
    val rank = Map[DataType, Int](
      ByteType -> 1, ShortType -> 2, IntegerType -> 3, LongType -> 4)
    (from, to) match {
      case (f, t) if rank.contains(f) && rank.contains(t) =>
        rank(f) < rank(t)
      case (FloatType, DoubleType) => true
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case _ => false
    }
  }

  /** `ALTER TABLE … ALTER COLUMN … TYPE` — type widening as a pure
    * METADATA commit: the recorded schema takes the wider type, every
    * existing file keeps its narrow physical encoding, and reads
    * promote PER FILE through the schema-bound scan (the same
    * mechanism evolution uses for missing columns). Everything
    * downstream is already canonical-form-stable across the integral
    * chain: log STATS canonicalize integrals to long ([[canonLong]]),
    * so range pruning keeps working over mixed narrow/wide files; the
    * BLOOM index hashes integral columns through a cast to LONG
    * (TxnBloom longProbe), so pre-widen segments still answer
    * post-widen probes bit-identically; column MAPPING keeps the
    * physical slot (only the type changes); IDENTITY/GENERATED/
    * DEFAULT metadata rides the field copy — widening an INT identity
    * column to BIGINT is exactly the documented overflow remedy.
    * int→double widenings drop stats coverage on the column going
    * forward (floats/doubles never record stats — NaN-poisoning), and
    * never had bloom coverage; pruning only ever shrinks, so both are
    * sound. Lossy or non-widening retypes refuse loudly. */
  def widenColumn(spark: SparkSession, table: String, column: String,
                  to: DataType): CommitResult =
    mustCommit(commitLoop(spark, table, schema = {
      val meta = resolve(spark, table, None)._2.getOrElse(
        throw new UnsupportedOperationException(
          s"$table predates schema tracking; ALTER COLUMN TYPE needs a " +
            "log-recorded schema (append once to record one)"))
      val f = meta.schema.fields.find(_.name.equalsIgnoreCase(column))
        .getOrElse(throw new IllegalArgumentException(
          s"no column '$column' in $table"))
      if (f.dataType.catalogString == to.catalogString)
        throw new IllegalArgumentException(
          s"$table.'$column' already has type ${to.catalogString}")
      require(widens(f.dataType, to),
        s"ALTER COLUMN TYPE on $table.'$column': " +
          s"${f.dataType.catalogString} -> ${to.catalogString} is not a " +
          "lossless widening — only byte<short<int<long, float->double, " +
          "and byte/short/int->double evolve in place (files are " +
          "immutable; anything else would rewrite data or lose precision)")
      Some(SchemaCommit(StructType(meta.schema.fields.map(x =>
        if (x.name.equalsIgnoreCase(column)) x.copy(dataType = to) else x)),
        meta.retired, meta.constraints))
    })(_ => Some((Nil, Nil))), s"widen $table.$column")

  def renameColumn(spark: SparkSession, table: String,
                   from: String, to: String): CommitResult =
    mustCommit(commitLoop(spark, table, schema = {
      val meta = resolve(spark, table, None)._2.getOrElse(
        throw new UnsupportedOperationException(
          s"$table predates schema tracking; RENAME COLUMN needs a " +
            "log-recorded schema (append once to record one)"))
      val cur = meta.schema
      val field = cur.fields.find(_.name.equalsIgnoreCase(from)).getOrElse(
        throw new IllegalArgumentException(s"no column '$from' in $table"))
      if (cur.fieldNames.exists(_.equalsIgnoreCase(to)))
        throw new IllegalArgumentException(
          s"column '$to' already exists in $table")
      // A partition column's name is baked into every data file's
      // PATH (`col=value` segments) — a metadata rename cannot touch
      // those, so old and new files would disagree on the segment
      // name and partition reads/drops would silently miss half the
      // table. Refuse, like Delta.
      if (field.metadata.contains(PartitionColKey))
        throw new IllegalArgumentException(
          s"cannot rename partition column '$from' of $table: its name " +
            "is baked into the data files' directory layout")
      // A CHECK constraint's expression TEXT binds the current name —
      // renaming under it would silently unbind (or worse, re-bind to
      // a later column of the old name). Refuse, like Delta: drop the
      // constraint, rename, re-add under the new name.
      constraintsReferencing(meta.constraints, from).foreach(c =>
        throw new IllegalArgumentException(
          s"cannot rename '$from': CHECK constraint '$c' references it " +
            "(drop the constraint first, re-add it under the new name)"))
      constraintsReferencing(generatedExprs(cur), from).foreach(g =>
        throw new IllegalArgumentException(
          s"cannot rename '$from': GENERATED column '$g' derives from it " +
            "(drop the generated column first, re-add it under the new name)"))
      val renamed = field.copy(name = to, metadata =
        new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(field.metadata)
          .putString(PhysicalNameKey, physicalName(field)).build())
      Some(SchemaCommit(StructType(cur.fields.map(f =>
        if (f eq field) renamed else f)), meta.retired, meta.constraints))
    })(_ => Some((Nil, Nil))), s"rename column in $table")

  /** `ALTER TABLE … DROP COLUMN` as a pure METADATA commit: the field
    * leaves the logical schema, its physical slot joins the RETIRED
    * set (so a later ADD of the same name maps to a fresh slot and
    * never resurrects the old data), and no data file moves. Old
    * snapshots still present the column under time travel. */
  def dropColumn(spark: SparkSession, table: String,
                 name: String): CommitResult =
    mustCommit(commitLoop(spark, table, schema = {
      val meta = resolve(spark, table, None)._2.getOrElse(
        throw new UnsupportedOperationException(
          s"$table predates schema tracking; DROP COLUMN needs a " +
            "log-recorded schema (append once to record one)"))
      val cur = meta.schema
      val field = cur.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
        throw new IllegalArgumentException(s"no column '$name' in $table"))
      if (cur.fields.length < 2) throw new UnsupportedOperationException(
        s"cannot drop the last column of $table")
      if (field.metadata.contains(PartitionColKey))
        throw new IllegalArgumentException(
          s"cannot drop partition column '$name' of $table: the data " +
            "files' directory layout depends on it")
      constraintsReferencing(meta.constraints, name).foreach(c =>
        throw new IllegalArgumentException(
          s"cannot drop '$name': CHECK constraint '$c' references it " +
            "(drop the constraint first)"))
      constraintsReferencing(
          generatedExprs(cur).filterNot(_._1.equalsIgnoreCase(name)), name)
        .foreach(g => throw new IllegalArgumentException(
          s"cannot drop '$name': GENERATED column '$g' derives from it " +
            "(drop the generated column first)"))
      Some(SchemaCommit(StructType(cur.fields.filterNot(_ eq field)),
        (meta.retired :+ physicalName(field)).distinct, meta.constraints))
    })(_ => Some((Nil, Nil))), s"drop column in $table")

  /** ADOPT a plain parquet directory as a transaction-log table IN
    * PLACE — the `CONVERT TO DELTA` shape: version 0 references the
    * existing files where they sit (zero data movement — the only
    * migration that exists at 100 TB), records the directory's schema,
    * and collects the default footer stats for every file, so
    * skipping works from the first post-adoption read. After
    * adoption the directory IS a txn table: appends, DML, time
    * travel, maintenance all apply; the pre-adoption files behave
    * exactly like any commit-0 files.
    *
    * Hive-partitioned layouts (`k=v` directories) adopt as PARTITIONED
    * txn tables: the partition column names/values are harvested from
    * the directory structure (every file must carry the same partition
    * column sequence — a mixed layout refuses loudly), their types
    * come from Spark's standard partition-value inference, and the
    * adopted table then prunes and partition-drops exactly like one
    * built by [[createPartitioned]]. */
  def adopt(spark: SparkSession, table: String): CommitResult = {
    val root = new Path(table)
    val f = fs(spark, root)
    require(f.exists(root), s"no such directory: $table")
    require(!f.exists(logDir(table)), s"$table is already a txn table")
    val rels = scala.collection.mutable.ArrayBuffer.empty[String]
    val prefix = f.makeQualified(root).toString + "/"
    def walk(d: Path): Unit =
      f.listStatus(d).foreach { st =>
        if (st.isDirectory) walk(st.getPath)
        else if (st.getPath.getName.endsWith(".parquet"))
          rels += f.makeQualified(st.getPath).toString.stripPrefix(prefix)
      }
    walk(root)
    require(rels.nonEmpty, s"no parquet files to adopt under $table")
    // Harvest the hive partition column sequence from the paths; every
    // file must agree (a half-partitioned directory has no one sound
    // read shape — refuse rather than silently null partition values).
    def colsOf(rel: String): Seq[String] =
      rel.split('/').toSeq.dropRight(1).filter(_.contains('='))
        .map(seg => seg.substring(0, seg.indexOf('=')))
    val partCols = colsOf(rels.head)
    rels.foreach { rel =>
      require(colsOf(rel) == partCols,
        s"cannot adopt $table: inconsistent partition layout — " +
          s"'${rels.head}' carries [${partCols.mkString(",")}] but " +
          s"'$rel' carries [${colsOf(rel).mkString(",")}]")
    }
    // spark.read.parquet(table) runs the standard directory discovery:
    // partition columns land in the schema with inferred types.
    val inferred = spark.read.parquet(table).schema
    val schema = StructType(inferred.fields.map { fld =>
      partCols.zipWithIndex.find(_._1.equalsIgnoreCase(fld.name)) match {
        case Some((_, i)) => fld.copy(metadata =
          new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(fld.metadata).putLong(PartitionColKey, i).build())
        case None => fld
      }
    })
    f.mkdirs(logDir(table))
    mustCommit(commitLoop(spark, table,
      stats = stagedStats(spark, table, rels.toSeq,
        defaultStatsCols(schema)),
      schema = Some(SchemaCommit(stripMapping(schema)))) { v =>
      if (v != 0) None else Some((rels.toSeq, Nil))
    }, s"adopt $table")
  }

  /** What one COPY INTO did: the published version (the table's tip
    * when nothing was loaded), source files loaded this call, and
    * source files skipped because the ledger already holds them. */
  final case class CopyResult(version: Long, loaded: Long, skipped: Long)

  /** File length for every log entry in `rels` (−1 = physically
    * missing), probed through [[MetaFanout.adaptiveMap]] — the shared
    * fix for the O(live files) serial driver loops the size-sensitive
    * verbs ran (auto-compaction's candidate scan, compactSmall's
    * victim filter, clusterIncremental's byte sizing, RESTORE's
    * existence gate, the `table_files` inventory): each was one
    * blocking getFileStatus per file on the driver, ~an hour at 100k
    * files × object-store latency. Input order preserved. */
  private def probeLens(spark: SparkSession, table: String,
      rels: Seq[String]): Seq[(String, Long)] =
    MetaFanout.adaptiveMap(spark, rels) { (conf, rel) =>
      val p = dataPathObj(table, rel)
      // ONLY FileNotFound means "physically missing" (−1): a transient
      // store/auth error must propagate, not masquerade as a vacuumed
      // file — FSCK would quarantine live files and RESTORE would
      // refuse with a misleading message (round-17 advice).
      Seq(rel -> (try p.getFileSystem(conf).getFileStatus(p).getLen
        catch { case _: java.io.FileNotFoundException => -1L }))
    }

  /** One directory listing, split into (subdirs, candidate files):
    * `_`/`.`-prefixed names pruned, files extension-filtered. Runs
    * identically on the driver (serial leg) and inside distributed
    * walk tasks — one implementation, so the legs cannot disagree. */
  private def listDirOnce(f: FileSystem, d: Path,
      exts: Set[String]): (Seq[Path], Seq[String]) = {
    MetaFanout.simulatedLatency()
    val dirs = Seq.newBuilder[Path]
    val files = Seq.newBuilder[String]
    f.listStatus(d).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("_") || n.startsWith(".")) ()
      else if (st.isDirectory) dirs += st.getPath
      else if (exts.exists(n.endsWith)) files += st.getPath.toString
    }
    (dirs.result(), files.result())
  }

  /** COPY INTO's source discovery: every candidate data file (by
    * extension) under `source`, qualified. The r16 form was a serial
    * recursive `listStatus` on the driver over the ENTIRE source tree
    * on EVERY run — the scale-killer shape at object-store LIST
    * latency × a mature landing zone. Now an adaptive walk: a few
    * directories list serially (the measured sample), and once
    * [[MetaFanout.distributeRest]] — the same rule `adaptiveMap`'s
    * serial leg applies, with the frontier as the remaining ops —
    * says so, the remaining frontier fans out as ONE Spark job whose
    * tasks walk their subtrees with executor-side listings. The root
    * always lists serially: the frontier IS the distribution unit.
    * On a local FS the serial leg wins (sub-ms listings only cross
    * the crossover at very deep trees); on an object store a wide
    * landing zone lists at task parallelism. */
  private[graft] def listSourceFiles(spark: SparkSession, source: String,
      exts: Set[String]): Seq[String] = {
    val srcRoot = new Path(source)
    val sf = fs(spark, srcRoot)
    MetaFanout.rejectRetired(spark)
    val found = scala.collection.mutable.ArrayBuffer.empty[String]
    var frontier = List(sf.makeQualified(srcRoot))
    var ops = 0
    var spentNs = 0L
    while (frontier.nonEmpty) {
      if (ops > 0 && MetaFanout.distributeRest(ops, spentNs / 1e6, frontier.size)) {
        found ++= MetaFanout.distribute(spark, frontier.map(_.toString)) {
          (conf, ds) =>
            val p = new Path(ds)
            val ef = p.getFileSystem(conf)
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            def walk(d: Path): Unit = {
              val (dirs, fls) = listDirOnce(ef, d, exts)
              out ++= fls
              dirs.foreach(walk)
            }
            walk(p)
            out
        }
        frontier = Nil
      } else {
        val d = frontier.head
        frontier = frontier.tail
        val t0 = System.nanoTime()
        val (dirs, fls) = listDirOnce(sf, d, exts)
        spentNs += System.nanoTime() - t0
        ops += 1
        frontier = dirs.toList ::: frontier
        found ++= fls
      }
    }
    found.toSeq
  }

  /** COPY INTO: idempotent file ingestion — the re-runnable landing
    * verb of a production pipeline (the Delta `COPY INTO` design).
    * Scans `source` for data files, loads ONLY those not already
    * recorded in the table's ingest ledger ([[ingestLedger]] — one
    * entry per source URI, carried by the commit that loaded it and
    * re-recorded in full by checkpoints), and publishes the batch
    * through the normal append path, so schema enforcement, CHECK
    * constraints, identity assignment, DEFAULT/GENERATED fill,
    * hive partition layout, per-file stats, and bloom sidecars all
    * apply exactly as to any write. Re-running the same statement
    * loads nothing; a crashed run that never committed left no
    * ledger entries, so the retry loads everything — exactly-once
    * per source file either way. Exactly-once holds under RACES too:
    * the commit attempt re-reads the ledger at the tip it is about
    * to extend (create-exclusive guarantees it saw every commit at
    * or before that tip), and abandons if a concurrent COPY landed
    * any of its files.
    *
    * `pattern` is a glob over the source-RELATIVE path (`*` stays
    * within a directory, `**` crosses); `format` is parquet (source
    * files self-describe) or csv/json (bound to the table's recorded
    * schema — csv with a header line; GENERATED and identity columns
    * are engine-owned and excluded from the binding); `force`
    * re-loads matching files regardless of the ledger (and still
    * records them, so a later non-force run skips them); `mergeSchema`
    * admits source-only columns as additive evolution recorded in the
    * loading commit (parquet sources only — csv/json bind the
    * recorded schema).
    *
    * At 100 TB: the ledger is driver-side metadata ∝ ingested source
    * FILES (the same order as the log's own file listing — one
    * checkpoint read); the data load is an ordinary distributed scan
    * of only the new files. */
  def copyInto(spark: SparkSession, table: String, source: String,
               pattern: Option[String] = None, format: String = "parquet",
               force: Boolean = false,
               mergeSchema: Boolean = false): CopyResult = {
    val srcRoot = new Path(source)
    val sf = fs(spark, srcRoot)
    require(sf.exists(srcRoot), s"COPY INTO: no such source: $source")
    val fmt = format.toLowerCase
    val exts: Set[String] = fmt match {
      case "parquet" => Set(".parquet")
      case "csv" => Set(".csv", ".tsv")
      case "json" => Set(".json", ".jsonl")
      case other => throw new IllegalArgumentException(
        s"COPY INTO: unsupported FILEFORMAT '$other' (parquet|csv|json)")
    }
    val matcher = pattern.map(p =>
      java.nio.file.FileSystems.getDefault.getPathMatcher("glob:" + p))
    val prefix = sf.makeQualified(srcRoot).toString + "/"
    // The walk distributes past the measured crossover ([[listSourceFiles]]);
    // glob filtering stays on the driver (PathMatcher isn't serializable,
    // and the candidate list is already ∝ matching files).
    val matched = listSourceFiles(spark, source, exts)
      .filter(q => matcher.forall(_.matches(
        java.nio.file.Paths.get(q.stripPrefix(prefix)))))
      .sorted
    // Engine-owned columns never bind from csv/json source text.
    val cur = tableSchema(spark, table)
    val bindSchema = cur.map(s => nullableSchema(StructType(s.fields
      .filterNot(f => f.metadata.contains(GeneratedExprKey) ||
        f.metadata.contains(IdentityStartKey))
      .map(stripMapping))))
    var attemptNo = 0
    while (true) {
      val ledger = if (force) Set.empty[String] else ingestLedger(spark, table)
      val fresh = matched.filterNot(ledger)
      if (fresh.isEmpty)
        return CopyResult(latestVersion(spark, table), 0, matched.size.toLong)
      val reader = fmt match {
        case "parquet" => spark.read.format(fmt)
        case "csv" => spark.read.format(fmt).option("header", "true")
          .schema(bindSchema.getOrElse(throw new IllegalArgumentException(
            s"COPY INTO csv needs a schema-recording table: $table")))
        case _ => spark.read.format(fmt)
          .schema(bindSchema.getOrElse(throw new IllegalArgumentException(
            s"COPY INTO json needs a schema-recording table: $table")))
      }
      val df = reader.load(fresh: _*)
      val (df0, alloc) = cur match {
        case Some(s) => assignIdentity(spark, table, df, s)
        case None => (df, None)
      }
      // Ingestion-time clustering applies to COPY INTO exactly like
      // append — the landing verb is where it earns the most.
      val (df2, clsSig) = clusterWriteShape(spark, cur, df0)
      enforceSchema(spark, table, df2, mergeSchema, "COPY INTO")
      val staged = stage(spark, table, df2, cur)
      val committed = commitLoop(spark, table,
        stats = stagedStats(spark, table, staged,
          defaultStatsCols(cur.getOrElse(df2.schema)), cur),
        cls = clsSig.fold(Map.empty[String, String])(sig =>
          staged.map(_ -> sig).toMap),
        schema = alloc match {
          case Some((_, newNext)) => schemaWithWatermark(spark, table,
            newNext, enforceSchema(spark, table, df2, mergeSchema,
              "COPY INTO"))
          case None =>
            enforceSchema(spark, table, df2, mergeSchema, "COPY INTO")
        },
        copied = fresh) { _ =>
        // Re-checks at the tip this attempt extends: identity
        // watermark still ours, AND (unless forcing) none of our
        // source files landed via a concurrent COPY.
        if (alloc.exists { case (from, _) =>
            !tipIdentityNext(spark, table).contains(from) }) None
        else if (!force &&
            fresh.exists(ingestLedger(spark, table))) None
        else Some((staged, Nil))
      }
      committed match {
        case Some(c) =>
          maybeAutoCompact(spark, table)
          return CopyResult(c.version, fresh.size.toLong,
            (matched.size - fresh.size).toLong)
        case None =>
          dropStaged(spark, table, staged)
          attemptNo += 1
          require(attemptNo < 20,
            s"COPY INTO $table: lost $attemptNo ledger/identity races")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** SHALLOW CLONE: publish `dst` as a NEW transaction-log table whose
    * version-0 commit REFERENCES `src`'s live files (at `version`,
    * default latest) without copying a byte of data — the zero-copy
    * test/dev fork of a 100 TB table (the Delta `SHALLOW CLONE`
    * design; ADOPT's commit shape pointed outward). Entries are
    * recorded as fully-qualified URI strings, which the read path
    * recognizes as EXTERNAL ([[isExternal]]): scans read them in
    * place, DML rewrites replace them with local copies
    * (copy-on-write localization), OPTIMIZE/compact localizes
    * wholesale, and vacuum on the clone can never touch them (it only
    * ever deletes under its own root). Everything the source's schema
    * commit carries — column mapping, constraints, generated/DEFAULT/
    * identity metadata with the allocation watermark, partition spec,
    * CLUSTER BY property — rides into the clone's version 0, as do
    * per-file stats and clustered-at markers (translated to the
    * external keys), so skipping and incremental clustering work from
    * the first read. Deletion vectors are the one physical copy: DV
    * objects are TINY (∝ deleted rows) and their mask keys must match
    * the clone's scan-derived keys, so the bound files' masks are
    * rewritten under `dst` as one DV object with remapped keys. The
    * clone's history starts at version 0 — time travel on the two
    * tables is independent by construction.
    *
    * VACUUM CONTRACT (documented, matches Delta): the clone PINS
    * NOTHING in the source — a vacuum on `src` that physically
    * reclaims files the clone still references breaks the clone.
    * Run `OPTIMIZE` on the clone (full localization) before vacuuming
    * a source whose clones must survive it. `REINDEX BLOOM` likewise
    * requires a localized clone (the sidecar build scans under the
    * table root and refuses external entries LOUDLY); clone entries
    * keep the SOURCE's log-carried stats, so min/max skipping needs
    * no rebuild. */
  def clone(spark: SparkSession, src: String, dst: String,
      version: Option[Long] = None): CommitResult = {
    val (files, sc) = resolve(spark, src, version)
    require(files.nonEmpty || sc.isDefined,
      s"cannot clone $src: not a transaction-log table")
    val dlf = fs(spark, logDir(dst))
    require(!dlf.exists(logDir(dst)),
      s"cannot clone into $dst: it already carries a transaction log")
    val srcFs = fs(spark, new Path(src))
    // The external key MUST byte-match input_file_name()'s report for
    // the file (SparkPath.urlEncoded = Path.toUri.toString over the
    // LISTED, fs-qualified path) — `makeQualified` is the one
    // construction that preserves the filesystem's authority form
    // (`file:///…`; a bare Path(parent, child) resolve normalizes it
    // away to `file:/…` and the keys silently stop matching). An
    // already-external entry (clone of a clone) re-qualifies through
    // its OWN filesystem, which canonicalizes it unchanged.
    def extern(rel: String): String = {
      val p = if (isExternal(rel)) new Path(rel) else new Path(src, rel)
      val pfs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      pfs.makeQualified(p).toUri.toString
    }
    val translated = files.map { case (rel, st) => extern(rel) -> st }
    // One DV object under `dst` carries every bound file's mask,
    // re-keyed to the clone's external keys.
    val masks = fileMasks(spark, src, files).map { case (rel, b) => extern(rel) -> b }
    val dvs =
      if (masks.isEmpty) Map.empty[String, String]
      else {
        val sub = s"stage-${java.util.UUID.randomUUID().toString.take(12)}"
        writeDv(spark, dst, sub, masks)
        masks.keys.map(_ -> sub).toMap
      }
    // TABLE-LEVEL sidecars ride along (both tiny): the bloom COLUMN
    // CONFIG (so the clone's own writes keep publishing point-lookup
    // sidecars — external files simply lack segments and always scan,
    // which is sound) and the `_stats` partition-aggregate sidecar
    // (incrementally maintained under the clone's appends exactly as
    // under the source's). Bloom SEGMENTS are keyed by source-rel
    // data paths and deliberately do NOT copy — REINDEX after
    // localization rebuilds them.
    val bloomCols = TxnBloom.configuredCols(spark, src)
    if (bloomCols.nonEmpty) TxnBloom.writeConfig(spark, dst, bloomCols)
    val srcStats = new Path(src, "_stats")
    if (srcFs.exists(srcStats))
      org.apache.hadoop.fs.FileUtil.copy(srcFs, srcStats,
        fs(spark, new Path(dst)), new Path(dst, "_stats"),
        false, spark.sparkContext.hadoopConfiguration)
    dlf.mkdirs(logDir(dst))
    mustCommit(commitLoop(spark, dst,
      stats = translated.collect {
        case (p, st) if st.stats.isDefined => p -> st.stats.get }.toMap,
      dvs = dvs,
      schema = sc,
      cls = translated.collect {
        case (p, st) if st.cl.isDefined => p -> st.cl.get }.toMap) { v =>
      if (v != 0) None
      else Some((translated.map(_._1), Nil))
    }, s"clone $src into $dst")
  }

  /** Record an explicit full schema as a data-less commit — the
    * internal form the catalog's ADD COLUMNS built on before
    * [[addColumns]]; preserves the retired-slot set. The caller owns
    * conflict semantics; prefer [[addColumns]]. */
  def evolveSchema(spark: SparkSession, table: String,
                   schema: StructType): CommitResult =
    mustCommit(commitLoop(spark, table, schema = {
      val meta = resolve(spark, table, None)._2
      Some(SchemaCommit(schema, meta.map(_.retired).getOrElse(Nil),
        meta.map(_.constraints).getOrElse(Map.empty)))
    })(_ => Some((Nil, Nil))), s"evolve $table")

  /** The table's GENERATED columns as (name -> expression) — the same
    * shape as constraints, for shared reference analysis. */
  private def generatedExprs(schema: StructType): Map[String, String] =
    schema.fields.filter(_.metadata.contains(GeneratedExprKey))
      .map(f => f.name -> f.metadata.getString(GeneratedExprKey)).toMap

  /** Constraint names whose expression TEXT references `column` (word
    * match on the parsed expression's attribute names — not substring,
    * so `id2` never false-positives a constraint on `id`). */
  private def constraintsReferencing(constraints: Map[String, String],
      column: String): Option[String] =
    constraints.collectFirst { case (n, e) if scala.util.Try(
        org.apache.spark.sql.SparkSession.active.sessionState.sqlParser
          .parseExpression(e).references.map(_.name.toLowerCase).toSet
          .contains(column.toLowerCase)).getOrElse(
        e.toLowerCase.contains(column.toLowerCase)) => n }

  /** `ALTER TABLE … ADD CONSTRAINT name CHECK (expr)`: validate the
    * EXISTING rows first (one scan — a constraint that the current
    * data already violates must fail at ADD time, not poison every
    * later write), then record it as a data-less schema commit. From
    * then on EVERY staged write (append, streaming batch, MERGE,
    * UPDATE copies, compaction) evaluates the expression per row
    * inside its own write pass — violations fail the WRITE before the
    * commit, which is the only place a 100 TB ingest can afford the
    * check (a post-hoc audit scan would read the table again). SQL
    * NULL semantics: only FALSE violates; NULL passes.
    *
    * Known race window (documented, Delta closes it with full
    * metadata-conflict detection): a writer whose STAGING pass ran
    * before this ADD but whose commit lands after it has not evaluated
    * the new expression — run ADD CONSTRAINT in a writer-quiet window,
    * or follow it with a one-scan audit
    * (`read(t).filter(!coalesce(expr, true))`). */
  def addConstraint(spark: SparkSession, table: String,
                    name: String, expression: String): CommitResult = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"constraint name '$name' must be an identifier")
    // Parse now: an unparseable expression must fail here, loudly.
    spark.sessionState.sqlParser.parseExpression(expression)
    import org.apache.spark.sql.functions.{coalesce, count, expr, lit, when}
    val violations = read(spark, table)
      .filter(!coalesce(expr(expression), lit(true)))
      .agg(count(lit(1))).head().getLong(0)
    require(violations == 0L,
      s"cannot add CHECK constraint '$name' to $table: $violations " +
        s"existing rows violate ($expression)")
    mustCommit(commitLoop(spark, table, schema = {
      val meta = resolve(spark, table, None)._2.getOrElse(
        throw new UnsupportedOperationException(
          s"$table predates schema tracking; ADD CONSTRAINT needs a " +
            "log-recorded schema (append once to record one)"))
      require(!meta.constraints.contains(name),
        s"constraint '$name' already exists on $table")
      Some(meta.copy(constraints = meta.constraints + (name -> expression)))
    })(_ => Some((Nil, Nil))), s"add constraint to $table")
  }

  /** Drop a CHECK constraint — a data-less schema commit. */
  def dropConstraint(spark: SparkSession, table: String,
                     name: String): CommitResult =
    mustCommit(commitLoop(spark, table, schema = {
      val meta = resolve(spark, table, None)._2.getOrElse(
        throw new IllegalArgumentException(s"no constraints on $table"))
      require(meta.constraints.contains(name),
        s"no CHECK constraint '$name' on $table " +
          s"(have: ${meta.constraints.keys.toSeq.sorted.mkString(", ")})")
      Some(meta.copy(constraints = meta.constraints - name))
    })(_ => Some((Nil, Nil))), s"drop constraint from $table")

  /** The table's CHECK constraints at the latest version. */
  def constraints(spark: SparkSession, table: String): Map[String, String] =
    resolve(spark, table, None)._2.map(_.constraints).getOrElse(Map.empty)

  /** Field-metadata key carrying a GENERATED column's expression. */
  val GeneratedExprKey = "graft.generated"

  /** Add a GENERATED column: `name` is ALWAYS derived as `expression`
    * (over the other columns) — writers that omit it get it computed
    * inside the staging write; writers that SUPPLY it get their value
    * silently RECOMPUTED (overwritten) by the expression — "GENERATED
    * ALWAYS AS" means the column is never writer-owned, so a stale or
    * bogus writer value can never land (q_txn_generated pins this).
    * Like CHECK constraints, the definition is a TABLE invariant:
    * [[overwrite]] carries it through its schema re-baseline for
    * columns the replacement frame keeps (same name and type) and
    * recomputes the value into the replacement rows; dropping the
    * column from the overwrite frame drops the definition with it.
    * The point at 100 TB: a
    * derived skipping key (the day of a timestamp, a hash prefix of a
    * url) recorded as a TABLE property is computed consistently by
    * every writer forever, so the default stats (and any bloom
    * config) on it stay trustworthy for pruning — writer-discipline
    * derivation drifts, table-property derivation cannot. The type is
    * inferred from the expression against the current schema; rows
    * from BEFORE the addition read null (they predate the column —
    * the standard evolution semantics). */
  def addGeneratedColumn(spark: SparkSession, table: String,
                         name: String, expression: String): CommitResult = {
    import org.apache.spark.sql.functions.expr
    val dt = read(spark, table).select(expr(expression)).schema.head.dataType
    addColumns(spark, table, Seq(org.apache.spark.sql.types.StructField(
      name, dt, nullable = true,
      metadata = new org.apache.spark.sql.types.MetadataBuilder()
        .putString(GeneratedExprKey, expression).build())))
  }

  // ---- IDENTITY columns ----------------------------------------------------

  /** Field-metadata keys for `GENERATED … AS IDENTITY` columns: the
    * declared start/step and the explicit-insert policy ride the
    * recorded schema like every other table invariant, and the
    * allocation WATERMARK (the next value to hand out) advances in
    * the SAME schema commit as the write that consumed it — so
    * uniqueness needs no side channel, survives checkpoints/RESTORE
    * (a restore rolls the watermark back with the data, exactly the
    * re-issuable state it re-publishes), and two concurrent
    * allocators are serialized by the commit race itself. */
  val IdentityStartKey = "graft.identity.start"
  val IdentityStepKey = "graft.identity.step"
  val IdentityExplicitKey = "graft.identity.explicit"
  val IdentityNextKey = "graft.identity.next"

  private[graft] def identityField(s: StructType): Option[StructField] =
    s.fields.find(_.metadata.contains(IdentityStartKey))

  /** The next value this table's identity column would allocate. */
  private def identityNext(f: StructField): Long =
    if (f.metadata.contains(IdentityNextKey))
      f.metadata.getLong(IdentityNextKey)
    else f.metadata.getLong(IdentityStartKey)

  private def tipIdentityNext(spark: SparkSession, table: String): Option[Long] =
    resolve(spark, table, None)._2.flatMap(sc =>
      identityField(sc.schema).map(identityNext))

  /** Assign identity values to the rows that need them (frame missing
    * the column, or carrying NULL there): values are
    * `next + step·i` over a per-batch dense index. COLUMNAR two-phase
    * assignment (round-15 verdict: no RDD hop in the write path):
    * phase 1 aggregates per-partition row counts off the
    * `monotonically_increasing_id` partition component (one small job;
    * the collect is ≤ #partitions tuples, never rows); phase 2
    * broadcast-joins the exclusive prefix offsets back and computes
    * `next + step·(offset + local_index)` inside codegen. Both phases
    * re-evaluate the batch, so the established determinism contract
    * holds unchanged: the input frame must partition and order
    * deterministically (same contract the old count+zipWithIndex pair
    * had). Returns the completed frame and, when anything was
    * allocated, (allocatedFrom, newNext) for the commit's watermark
    * check and advance. GENERATED ALWAYS (allowExplicit=false) refuses
    * non-null writer values — the column is never writer-owned; BY
    * DEFAULT keeps them (and does NOT advance the watermark past them
    * — the standard engine contract: explicit inserts can collide
    * with future allocations unless the user re-syncs). */
  private def assignIdentity(spark: SparkSession, table: String,
      df: DataFrame, schema: StructType): (DataFrame, Option[(Long, Long)]) =
    identityField(schema) match {
      case None => (df, None)
      case Some(f) =>
        import org.apache.spark.sql.functions.{broadcast, col, count, lit,
          monotonically_increasing_id, shiftright}
        val step = f.metadata.getLong(IdentityStepKey)
        val allowExplicit = f.metadata.contains(IdentityExplicitKey) &&
          f.metadata.getBoolean(IdentityExplicitKey)
        val next = identityNext(f)
        val hasCol = df.columns.exists(_.equalsIgnoreCase(f.name))
        if (hasCol && !allowExplicit) {
          val bad = df.filter(col(f.name).isNotNull).take(1)
          require(bad.isEmpty,
            s"write to $table: '${f.name}' is GENERATED ALWAYS AS " +
              s"IDENTITY — writers never own its values (found e.g. " +
              s"${bad.headOption.getOrElse("")}); omit the column or " +
              "pass NULL to have it assigned")
        }
        val framed =
          if (hasCol) df
          else df.withColumn(f.name, lit(null).cast(f.dataType))
        val keep = framed.filter(col(f.name).isNotNull)
        // mid = partitionId << 33 | per-partition dense counter: the
        // partition component keys the offset join, the low bits ARE
        // the local index (consecutive from 0 by construction).
        val withMid = framed.filter(col(f.name).isNull)
          .withColumn("_gf_mid", monotonically_increasing_id())
          .withColumn("_gf_pid", shiftright(col("_gf_mid"), 33))
        val perPart = withMid.groupBy(col("_gf_pid"))
          .agg(count(lit(1)).as("_gf_cnt"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
        val n = perPart.map(_._2).sum
        if (n == 0L) (df, None)
        else {
          if (f.dataType != org.apache.spark.sql.types.LongType) {
            // INT identity: overflow must FAIL, not wrap — and the
            // whole allocation range [next, next+step·(n-1)] is known
            // up front, so the check is closed-form, zero per-row cost.
            Seq(next, next + step * (n - 1)).foreach { v =>
              if (v > Int.MaxValue || v < Int.MinValue)
                throw new ArithmeticException(
                  s"identity value $v overflows the INT column — " +
                    "recreate the column as BIGINT")
            }
          }
          var acc = 0L
          val offRows = perPart.map { case (pid, cnt) =>
            val o = acc; acc += cnt; (pid, o)
          }.toSeq
          import spark.implicits._
          val offDf = offRows.toDF("_gf_pid", "_gf_off")
          val localIdx = col("_gf_mid").bitwiseAND(lit((1L << 33) - 1))
          val assigned = withMid.join(broadcast(offDf), Seq("_gf_pid"))
            .withColumn(f.name,
              (lit(next) + lit(step) * (col("_gf_off") + localIdx))
                .cast(f.dataType))
            .drop("_gf_mid", "_gf_pid", "_gf_off")
          val out =
            if (hasCol) keep.unionByName(assigned) else assigned
          (out, Some((next, next + step * n)))
        }
    }

  /** `schema` (with watermark) the identity append records: the
    * batch's own evolution result if any, else the TIP's schema
    * commit (so concurrent evolutions/constraints are never
    * clobbered), with the identity field's watermark advanced. */
  private def schemaWithWatermark(spark: SparkSession, table: String,
      newNext: Long, evolved: Option[SchemaCommit]): Option[SchemaCommit] =
    evolved.orElse(resolve(spark, table, None)._2).map { sc =>
      sc.copy(schema = StructType(sc.schema.fields.map { f =>
        if (f.metadata.contains(IdentityStartKey))
          f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata).putLong(IdentityNextKey, newNext)
            .build())
        else f
      }))
    }

  /** `ALTER TABLE … SYNC IDENTITY`: realign the allocation watermark
    * past every EXISTING value — the repair after `GENERATED BY
    * DEFAULT` explicit inserts landed values at-or-beyond the
    * watermark (future allocations would collide). METADATA-FIRST:
    * when every live file carries log stats on the identity column,
    * the max comes from the commit entries alone (zero data I/O — the
    * 100 TB shape); only stat-less files scan, and only that column.
    * The new watermark is the smallest `start + k·step` strictly past
    * the observed extreme (sequence-aligned, like the engine's own
    * allocations); never moves BACKWARD. One data-less schema commit;
    * no-op (returns current version) if already aligned. */
  def syncIdentity(spark: SparkSession, table: String): CommitResult = {
    import org.apache.spark.sql.functions.{col, max, min}
    val sc = resolve(spark, table, None)._2.getOrElse(
      throw new IllegalArgumentException(s"$table records no schema"))
    val f = identityField(sc.schema).getOrElse(
      throw new IllegalArgumentException(s"$table has no identity column"))
    val step = f.metadata.getLong(IdentityStepKey)
    val start = f.metadata.getLong(IdentityStartKey)
    val (files, schemaOpt) = resolveSnapshot(spark, table, None)
    // Tier 1: the log's per-file [min,max] on the identity column.
    val statBounds = files.map(_._2.stats.flatMap(
      _.cols.find(_._1.equalsIgnoreCase(f.name)).map(_._2)))
    val covered = statBounds.forall(_.isDefined)
    val extreme: Option[Long] =
      if (files.isEmpty) None
      else if (covered) {
        val bs = statBounds.flatten
        Some(if (step > 0) bs.map(_.max).max else bs.map(_.min).min)
      } else {
        val agg = readState(spark, table, files, schemaOpt)
          .agg((if (step > 0) max(col(f.name)) else min(col(f.name)))
            .cast("long"))
          .head()
        if (agg.isNullAt(0)) None else Some(agg.getLong(0))
      }
    val cur = identityNext(f)
    val aligned = extreme match {
      case None => cur
      case Some(x) =>
        // Smallest start + k·step (k >= 0) strictly past x in the
        // step's direction; floorDiv keeps the k bound exact for
        // every sign combination.
        val k = math.max(0L, Math.floorDiv(x - start, step) + 1L)
        val cand = start + k * step
        if (step > 0) math.max(cur, cand) else math.min(cur, cand)
    }
    if (aligned == cur)
      return CommitResult(latestVersion(spark, table), 0, 0)
    mustCommit(commitLoop(spark, table,
      schema = schemaWithWatermark(spark, table, aligned, None))(
      _ => Some((Nil, Nil))), s"sync identity on $table")
  }

  /** Append: blind adds — valid at ANY log position, so a lost race
    * just re-publishes the same files at the advanced version (the
    * staged data is never rewritten). Schema-enforced (see
    * [[enforceSchema]]) — re-enforced against the tip on every commit
    * attempt, so a rebase past a concurrent evolution re-merges
    * instead of clobbering the winner's columns. IDENTITY columns are
    * assigned here from the log-carried watermark; the commit aborts
    * and the whole allocation+staging retries if a concurrent writer
    * advanced the watermark first (the staged ids would collide), so
    * generated values are unique across any interleaving. */
  def append(spark: SparkSession, table: String, df: DataFrame,
             mergeSchema: Boolean = false): CommitResult = {
    checkPathEncoding(table)
    var attempt = 0
    while (true) {
      // ONE tip replay per attempt serves the schema read, the
      // fail-fast enforcement, and stage's constraint lookup; the
      // commit loop's by-name schema re-evaluation below still
      // re-resolves (load-bearing under concurrent evolution).
      val meta = resolve(spark, table, None)._2
      val cur = meta.map(_.schema)
      val (df0, alloc) = cur match {
        case Some(s) => assignIdentity(spark, table, df, s)
        case None => (df, None)
      }
      // CLUSTER-ON-WRITE (opt-in): on a CLUSTER BY table, lay the
      // batch out range-clustered on the recorded keys and stamp the
      // staged files clustered-at — ingestion-time clustering, the
      // liquid-clustering discipline's write half: stats-in-log
      // pruning bites from the FIRST read, and the bare (incremental)
      // OPTIMIZE finds nothing to rewrite for these files, so steady-
      // state maintenance cost on a well-configured ingest is ~zero.
      // repartitionByRange with no explicit count lets AQE coalesce
      // the range partitions to its advisory size — right-sized files
      // without knowing the batch's bytes up front. Off by default:
      // the extra exchange is a per-batch cost the operator opts into.
      val (df2, clsSig) = clusterWriteShape(spark, cur, df0)
      enforceSchemaOn(spark, table, meta, df2, mergeSchema, "append") // fail fast
      val staged = stage(spark, table, df2, cur, resolvedMeta = Some(meta))
      val committed = commitLoop(spark, table,
        stats = stagedStats(spark, table, staged,
          defaultStatsCols(cur.getOrElse(df2.schema)), cur),
        cls = clsSig.fold(Map.empty[String, String])(sig =>
          staged.map(_ -> sig).toMap),
        schema = alloc match {
          case Some((_, newNext)) => schemaWithWatermark(spark, table,
            newNext, enforceSchema(spark, table, df2, mergeSchema, "append"))
          case None => enforceSchema(spark, table, df2, mergeSchema, "append")
        }) { _ =>
        // Identity allocations are valid ONLY if the watermark we
        // allocated from is still the tip's — a concurrent identity
        // append staged overlapping values otherwise.
        if (alloc.exists { case (from, _) =>
            !tipIdentityNext(spark, table).contains(from) }) None
        else Some((staged, Nil))
      }
      committed match {
        case Some(c) =>
          maybeAutoCompact(spark, table)
          return c
        case None =>
          dropStaged(spark, table, staged)
          attempt += 1
          require(attempt < 20,
            s"append to $table: identity allocation lost ${attempt} races")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Session flag enabling ingestion-time clustering on CLUSTER BY
    * tables (see [[append]]). */
  val ClusterOnWriteConf = "spark.graft.write.clusterOnWrite"

  /** When cluster-on-write applies to this batch (flag on, table
    * declares CLUSTER BY, frame carries every key), the range-
    * clustered reshape of `df` plus the clustered-at signature its
    * staged files earn; otherwise the frame untouched. The signature
    * construction mirrors the bare-OPTIMIZE path exactly — a mismatch
    * would make incremental clustering rewrite freshly-clustered
    * ingest forever. */
  /** Whether cluster-on-write applies to this (table, batch) pair —
    * shared with [[stage]], which must NOT rebalance a range-shaped
    * batch (the optimize-write hint would undo the clustering the
    * commit is about to stamp). */
  private def clusterWriteApplies(spark: SparkSession,
      schema: Option[StructType], df: DataFrame): Boolean = {
    val keys = schema.map(clusterColumns).getOrElse(Nil)
    GraftConf.get(spark.sessionState.conf, ClusterOnWriteConf)(
      _.toBooleanOption).contains(true) &&
      keys.nonEmpty &&
      keys.forall(k => df.columns.exists(_.equalsIgnoreCase(k)))
  }

  private def clusterWriteShape(spark: SparkSession,
      schema: Option[StructType],
      df: DataFrame): (DataFrame, Option[String]) = {
    import org.apache.spark.sql.functions.col
    if (!clusterWriteApplies(spark, schema, df)) (df, None)
    else {
      val cols = schema.map(clusterColumns).getOrElse(Nil).map(col)
      (df.repartitionByRange(cols: _*).sortWithinPartitions(cols: _*),
        Some(clusterSig(cols)))
    }
  }

  /** Per-file (count, min/max per stat column) over just-staged files —
    * one aggregation scan of only the new data, grouped by file. At
    * scale this is the write's own data re-read once (Delta folds it
    * into the writer; the commit shape is identical), and the result
    * is file-count-sized — log metadata, never rows. A column that is
    * entirely null in a file gets no entry there (thus never prunes). */
  /** Column types auto-stats cover: exact long canonicalization
    * (integral/boolean; date→days; timestamp→micros) or raw string
    * bounds. Floats are deliberately OUT — NaN/Infinity poison a
    * long canonicalization and Spark's NaN ordering makes naive
    * min/max bounds unsound for pruning. */
  private def statsKind(dt: DataType): Option[Boolean] = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType => Some(true)
      case ByteType | ShortType | IntegerType | LongType | BooleanType |
           DateType | TimestampType => Some(false)
      case _ => None
    }
  }

  /** Default stats columns for a write: every supported top-level
    * column, capped (the Delta convention — stats on the first 32). */
  private def defaultStatsCols(schema: StructType): Seq[String] =
    schema.fields.filter(f => statsKind(f.dataType).isDefined)
      .take(32).map(_.name).toSeq

  /** The long canonicalization stats use for numeric-family columns. */
  private def canonLong(c: Column, dt: DataType): Column = {
    import org.apache.spark.sql.functions.{unix_date, unix_micros}
    import org.apache.spark.sql.types.{DateType, TimestampType}
    dt match {
      case DateType => unix_date(c).cast("long")
      case TimestampType => unix_micros(c)
      case _ => c.try_cast("long")
    }
  }

  /** One merge key's delta-side bound, typed to match the stats kind;
    * a kind MISMATCH (numeric bound vs string stats or vice versa)
    * never prunes. */
  private sealed trait KeyBound {
    def key: String
    def intersects(c: ColStats): Boolean
  }
  private final case class LongBound(key: String, lo: Long, hi: Long)
      extends KeyBound {
    def intersects(c: ColStats): Boolean =
      c.isString || (c.max >= lo && c.min <= hi)
  }
  private final case class StrBound(key: String, lo: String, hi: String)
      extends KeyBound {
    def intersects(c: ColStats): Boolean =
      !c.isString ||
        (utf8Compare(c.maxStr, lo) >= 0 && utf8Compare(c.minStr, hi) <= 0)
  }

  /** One column chunk's canonical bounds from the FOOTER statistics
    * the parquet writer already produced: Left = long-canonical
    * (plain ints/longs; boolean 0/1; date days; timestamp micros —
    * MILLIS widened, matching [[canonLong]]'s reader-side image),
    * Right = UTF-8 string bounds. None = no trustworthy stats for
    * this chunk (INT96 timestamps, floats, absent/empty stats) — the
    * column then carries no entry for the file and never prunes. */
  private def chunkBounds(
      cc: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData)
      : Option[Either[(Long, Long), (String, String)]] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val st = cc.getStatistics
    if (st == null || st.isEmpty || !st.hasNonNullValue) return None
    val pt = cc.getPrimitiveType
    val ann = pt.getLogicalTypeAnnotation
    pt.getPrimitiveTypeName match {
      case INT64 =>
        val mn = st.genericGetMin.asInstanceOf[java.lang.Long].longValue()
        val mx = st.genericGetMax.asInstanceOf[java.lang.Long].longValue()
        ann match {
          case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            ts.getUnit match {
              case LogicalTypeAnnotation.TimeUnit.MICROS => Some(Left((mn, mx)))
              case LogicalTypeAnnotation.TimeUnit.MILLIS =>
                Some(Left((mn * 1000L, mx * 1000L)))
              case _ => None // NANOS: reader canonical is micros; skip
            }
          case _: LogicalTypeAnnotation.TimeLogicalTypeAnnotation => None
          case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation
              if !i.isSigned => None
          case _ => Some(Left((mn, mx)))
        }
      case INT32 =>
        val mn = st.genericGetMin.asInstanceOf[java.lang.Integer].longValue()
        val mx = st.genericGetMax.asInstanceOf[java.lang.Integer].longValue()
        ann match {
          case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation =>
            Some(Left((mn, mx))) // days — the unix_date canonical image
          case _: LogicalTypeAnnotation.TimeLogicalTypeAnnotation => None
          case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation
              if !i.isSigned => None
          case _ => Some(Left((mn, mx)))
        }
      case BOOLEAN =>
        val mn = if (st.genericGetMin.asInstanceOf[java.lang.Boolean]) 1L else 0L
        val mx = if (st.genericGetMax.asInstanceOf[java.lang.Boolean]) 1L else 0L
        Some(Left((mn, mx)))
      case BINARY if ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
        Some(Right((
          st.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary]
            .toStringUsingUTF8,
          st.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary]
            .toStringUsingUTF8)))
      case _ => None // INT96 timestamps, floats, fixed — no sound bounds
    }
  }

  /** Per-file (count, typed min/max per stat column) over just-staged
    * files — read from the parquet FOOTERS the write already produced:
    * O(files) driver-side metadata reads, never a data re-scan (the
    * Delta stats-in-writer design — the stats job an agg-based
    * collection would run costs a full extra pass over every commit's
    * data). Bounds merge across row groups; a row group without
    * trustworthy stats drops the column for that file (which then
    * never prunes — sound). */
  private def stagedStats(spark: SparkSession, table: String,
      staged: Seq[String], columns0: Seq[String],
      mapping: Option[StructType] = None): Map[String, FileStats] = {
    import scala.jdk.CollectionConverters._
    // Stats are keyed by LOGICAL name; the staged files carry PHYSICAL
    // names, so the footer lookup binds the physical slot. Columns no
    // longer in the schema (a rewrite inheriting stats across a DROP)
    // are skipped — those files simply stop carrying that stat.
    val phys: Map[String, String] = mapping.fold(Map.empty[String, String])(
      _.fields.map(f => f.name.toLowerCase -> physicalName(f)).toMap)
    val columns = columns0.filter(c =>
      mapping.isEmpty || phys.contains(c.toLowerCase))
    if (columns.isEmpty || staged.isEmpty) return Map.empty
    val physOf: Map[String, String] =
      columns.map(c => c -> phys.getOrElse(c.toLowerCase, c)).toMap
    // One footer open per staged file — a metadata loop ∝ the write's
    // file count, which on an object store at 10–50 ms per open would
    // serialize a wide write's commit on the driver. Adaptive fan-out
    // exactly like FSCK's existence probe: small writes stay serial
    // (local footer reads are ~1 ms), wide writes read their footers
    // in ONE Spark job.
    MetaFanout.adaptiveMap(spark, staged) { (conf, rel) =>
      Seq(rel -> footerStats(table, rel, columns, physOf, conf))
    }.toMap
  }

  /** Footer-sourced [[FileStats]] for one staged file — the per-file
    * body of [[stagedStats]], shared verbatim by its serial and
    * distributed legs. */
  private def footerStats(table: String, rel: String, columns: Seq[String],
      physOf: Map[String, String],
      conf: org.apache.hadoop.conf.Configuration): FileStats = {
    import scala.jdk.CollectionConverters._
    {
      // The caller's conf in the read options too: open(InputFile)
      // alone builds a fresh Hadoop Configuration per file, which
      // re-parses core-default.xml (about 6 ms an open).
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          dataPathObj(table, rel), conf),
        org.apache.parquet.HadoopReadOptions.builder(conf).build())
      try {
        val blocks = reader.getFooter.getBlocks.asScala.toSeq
        val rows = blocks.map(_.getRowCount).sum
        val cols = columns.flatMap { c =>
          val p = physOf(c).toLowerCase
          val chunks = blocks.map(_.getColumns.asScala
            .find(_.getPath.toDotString.toLowerCase == p))
          if (chunks.isEmpty || chunks.exists(_.isEmpty)) None
          else {
            val ccs = chunks.map(_.get)
            // Null count: footer-sourced like the bounds; -1 = unknown
            // (any chunk without a set count poisons the file's).
            val nullsPer = ccs.map { cc =>
              val st = cc.getStatistics
              if (st != null && st.isNumNullsSet) Some(st.getNumNulls)
              else None
            }
            val nulls =
              if (nullsPer.forall(_.isDefined)) nullsPer.flatten.sum else -1L
            val per = ccs.map(chunkBounds)
            if (per.forall(_.isDefined)) {
              val bs = per.map(_.get)
              val longs = bs.collect { case Left(b) => b }
              val strs = bs.collect { case Right(b) => b }
              if (longs.size == bs.size)
                Some(c -> ColStats(longs.map(_._1).min, longs.map(_._2).max,
                  nulls = nulls))
              else if (strs.size == bs.size)
                Some(c -> ColStats(0L, 0L,
                  strs.map(_._1).reduce((a, b) =>
                    if (utf8Compare(a, b) <= 0) a else b),
                  strs.map(_._2).reduce((a, b) =>
                    if (utf8Compare(a, b) >= 0) a else b), nulls = nulls))
              else None // mixed kinds across row groups: stay sound
            } else if (nulls == rows && rows > 0L)
              // EVERY value in this file is null — bounds cannot exist.
              // The EMPTY-range sentinel (max < min): all range/
              // equality intersection tests fail, so value reads prune
              // the file automatically (no non-null value can match),
              // and IS-NULL-aware reads see nulls == count.
              Some(c -> ColStats(Long.MaxValue, Long.MinValue, nulls = nulls))
            else None
          }
        }.toMap
        FileStats(rows, cols)
      } finally reader.close()
    }
  }

  /** [[create]] with per-file stats on `statsCols` recorded in the log. */
  def createWithStats(spark: SparkSession, table: String, df: DataFrame,
                      statsCols: Seq[String]): CommitResult = {
    val f = fs(spark, logDir(table))
    f.mkdirs(logDir(table))
    val staged = stage(spark, table, df, mapping = None)
    mustCommit(commitLoop(spark, table,
      stats = stagedStats(spark, table, staged, statsCols),
      schema = Some(SchemaCommit(stripMapping(df.schema)))) { v =>
      if (v != 0) None else Some((staged, Nil))
    }, s"create $table")
  }

  def createWithStats(spark: SparkSession, table: String, df: DataFrame,
                      statsCol: String): CommitResult =
    createWithStats(spark, table, df, Seq(statsCol))

  /** [[append]] with per-file stats on `statsCols` recorded in the log. */
  def appendWithStats(spark: SparkSession, table: String, df: DataFrame,
                      statsCols: Seq[String]): CommitResult = {
    val cur = tableSchema(spark, table)
    enforceSchema(spark, table, df, mergeSchema = false, "append")
    val staged = stage(spark, table, df, cur)
    mustCommit(commitLoop(spark, table,
      stats = stagedStats(spark, table, staged, statsCols, cur),
      schema = enforceSchema(spark, table, df, mergeSchema = false, "append"))(
      _ => Some((staged, Nil))), s"append to $table")
  }

  def appendWithStats(spark: SparkSession, table: String, df: DataFrame,
                      statsCol: String): CommitResult =
    appendWithStats(spark, table, df, Seq(statsCol))

  /** [[create]] additionally CONFIGURING `bloomCols` as the table's
    * bloom-index columns ([[TxnBloom]]) — coverage is a property of
    * the TABLE from this point on: this write and every later staging
    * write (plain appends, streaming batches, MERGE survivors,
    * compaction rewrites) publishes per-file sidecars for them.
    * Default stats still record; the bloom is the opt-in extra (it
    * costs one aggregation pass over each commit's staged data — the
    * one index that genuinely needs the values, not just the
    * footers). */
  def createWithBloom(spark: SparkSession, table: String, df: DataFrame,
                      bloomCols: Seq[String]): CommitResult = {
    TxnBloom.validate(bloomCols, df.schema)
    TxnBloom.writeConfig(spark, table, bloomCols)
    create(spark, table, df)
  }

  /** [[append]] additionally configuring `bloomCols` (unioned with any
    * existing config) as the table's bloom columns — this and every
    * later write publishes sidecars for them; files from BEFORE the
    * configuration keep no coverage and simply never prune. */
  def appendWithBloom(spark: SparkSession, table: String, df: DataFrame,
                      bloomCols: Seq[String]): CommitResult = {
    TxnBloom.validate(bloomCols, df.schema)
    tableSchema(spark, table).foreach { ts =>
      val parts = partitionFields(ts).map(_.name.toLowerCase).toSet
      bloomCols.find(c => parts(c.toLowerCase)).foreach(c =>
        throw new IllegalArgumentException(
          s"bloom column $c is a partition column of $table — partition " +
            "values prune from the file paths already"))
    }
    TxnBloom.writeConfig(spark, table, bloomCols)
    append(spark, table, df)
  }

  /** BACKFILL the bloom index: build sidecars for every live file
    * LACKING one on any configured column (files from before the
    * configuration, or from engines without it) — one aggregation
    * over just the uncovered files. Closes the only coverage gap the
    * table-property design leaves; after it, every live file prunes.
    * Returns the re-indexed rel paths. */
  def indexBloom(spark: SparkSession, table: String): Seq[String] = {
    val cols = TxnBloom.configuredCols(spark, table)
    if (cols.isEmpty) return Nil
    val (files, schemaOpt) = resolveSnapshot(spark, table, None)
    val coveredBy = cols.map(c => c -> TxnBloom.covered(spark, table, c)).toMap
    val missing = files.map(_._1).filter(rel =>
      cols.exists(c => !coveredBy(c).contains(rel)))
    if (missing.isEmpty) return Nil
    val schema = schemaOpt.getOrElse(read(spark, table).schema)
    TxnBloom.writeSidecars(spark, table, missing, cols, schema,
      schemaOpt, lenient = true)
    missing
  }

  /** Point-lookup read: `column IN (values)` with FILE-level skipping
    * from BOTH metadata tiers — the log's [min,max] stats screen first
    * (free, already resolved), then the bloom sidecars rule out files
    * whose filter cannot contain any probe value. Only stats-surviving
    * files' sidecars are opened. Files lacking either tier always
    * scan, and the residual IN filter applies regardless, so pruning
    * can never change the answer — semantics are exactly
    * `read(...).filter(col(column).isin(values))`. At 100 TB this is
    * the id-lookup path: a probe over a million-file table plans from
    * driver-side metadata and opens the handful of files that might
    * hold the keys. Values must be strings or integers (the supported
    * bloom types; numeric probes compare on the long canonical). */
  def readPrunedEq(spark: SparkSession, table: String, column: String,
                   values: Seq[Any], version: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    require(values.nonEmpty, "readPrunedEq needs at least one probe value")
    val (all, schema) = resolveSnapshot(spark, table, version)
    val kept = pruneFilesEq(spark, table, column, values, all)
    if (kept.isEmpty)
      read(spark, table, version).filter(lit(false))
    else {
      val df = readState(spark, table, kept, schema)
      df.filter(col(column).isin(values: _*))
    }
  }

  /** RANGE file screen for the SQL scan rule: partition values
    * (tier 0, exact) and log stats bound `column` against [lo, hi]
    * on the LONG canonical — restricted by the caller to raw integral
    * columns, where the canonical IS the value (no date/timestamp
    * image subtleties). False-positive-only; the residual filter
    * stays mandatory. */
  private[graft] def pruneFilesRange(spark: SparkSession, table: String,
      column: String, lo: Long, hi: Long,
      files: Seq[(String, FileState)]): Seq[(String, FileState)] = {
    val partField = tableSchema(spark, table).flatMap(s =>
      partitionFields(s).find(_.name.equalsIgnoreCase(column)))
    def keep(c: ColStats): Boolean =
      c.isString || (c.max >= lo && c.min <= hi)
    files.filter { case (rel, st) =>
      val pOk = partField.forall(f =>
        partValueOf(rel, physicalName(f))
          .flatMap(partColStats(f, _)).forall(keep))
      pOk && st.stats.forall(
        _.cols.find(_._1.equalsIgnoreCase(column)).map(_._2).forall(keep))
    }
  }

  /** The two-tier equality file screen shared by [[readPrunedEq]] and
    * the SQL bloom-scan rule: stats first (free — already resolved),
    * then bloom sidecars for the survivors only. False-positive-only
    * on both tiers; the caller's residual predicate stays mandatory. */
  private[graft] def pruneFilesEq(spark: SparkSession, table: String,
      column: String, values: Seq[Any],
      files: Seq[(String, FileState)]): Seq[(String, FileState)] = {
    // Tier 0 (free): a PARTITION column's value rides the rel path —
    // an equality probe keeps only matching-partition files before a
    // single stat is consulted. Files without the segment always stay.
    // The path segment carries the PHYSICAL name — resolve through the
    // schema like every other partition-tier consumer (pruneFilesRange,
    // readPrunedNulls), so the tier stays correct even if the
    // rename-refusal guard on partition columns is ever relaxed
    // (round-14 advice, low).
    val want: Set[String] = values.map(String.valueOf(_)).toSet
    val partField = tableSchema(spark, table).flatMap(s =>
      partitionFields(s).find(_.name.equalsIgnoreCase(column)))
    val partKept = partField match {
      case Some(f) =>
        val phys = physicalName(f)
        files.filter { case (rel, _) =>
          partValueOf(rel, phys).forall(v => v != null && want.contains(v))
        }
      case None => files
    }
    val statsKept = partKept.filter { case (_, st) =>
      st.stats.forall(_.cols.find(_._1.equalsIgnoreCase(column)).map(_._2)
        .forall(cs =>
          values.exists {
            case s: String => !cs.isString ||
              (utf8Compare(s, cs.minStr) >= 0 && utf8Compare(s, cs.maxStr) <= 0)
            case n: Number =>
              cs.isString || (n.longValue() >= cs.min && n.longValue() <= cs.max)
            case _ => true
          }))
    }
    TxnBloom.filterByBloom(spark, table, column, values, statsKept)
  }

  /** Data-skipping read: resolve the snapshot WITH its log-carried
    * stats and plan the scan over only the files whose [min,max] on
    * `column` intersects [lo,hi] — the others are pruned from the file
    * listing before any footer opens, which is the entire point of
    * stats-in-log at 100 TB (a range query over a time/size-correlated
    * ingest touches a sliver of the file population). Files without
    * stats on `column` always scan; the residual filter applies
    * regardless, so pruning can never change the answer — semantics
    * are exactly `read(...).filter(column BETWEEN lo AND hi)` (nulls
    * excluded, SQL comparison semantics). */
  def readPruned(spark: SparkSession, table: String, column: String,
                 lo: Long, hi: Long, version: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    // String-kind stats can never prove a LONG range disjoint — such
    // files always scan (sound, never wrong). The residual compares
    // the CANONICAL long form — the same days/micros/cast image the
    // stats recorded, so a date/timestamp range filters rows, not
    // nulls them out.
    prunedRead(spark, table, version,
      c => c.isString || (c.max >= lo && c.min <= hi), column,
      df => canonLong(col(column),
        df.schema.fields.find(_.name.equalsIgnoreCase(column))
          .map(_.dataType)
          .getOrElse(org.apache.spark.sql.types.LongType))
        .between(lo, hi))
  }

  /** NULL-EXISTENCE skipping from the footer-sourced null counts:
    * `isNull = false` reads `column IS NOT NULL` pruning files whose
    * every value is null (nulls == count); `isNull = true` reads
    * `column IS NULL` pruning files with zero nulls. The sparse-column
    * shape at 100 TB: an optional field that is 99% null makes
    * IS NOT NULL readers touch the sliver of files that carry values
    * — and IS NULL audits skip the dense majority. Files without a
    * known null count always scan; the residual applies regardless. */
  def readPrunedNull(spark: SparkSession, table: String, column: String,
                     isNull: Boolean,
                     version: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    val (all, schema) = resolveSnapshot(spark, table, version)
    // Partition tier: a partition column is constant per file, so the
    // path answers the null question EXACTLY — a value file has zero
    // nulls, a null-sentinel file is all-null.
    val partField = schema.flatMap(s =>
      partitionFields(s).find(_.name.equalsIgnoreCase(column)))
    val kept = all.filter { case (rel, st) =>
      val partOk = partField.forall { f =>
        partValueOf(rel, physicalName(f)).forall(v =>
          if (v == null) isNull else !isNull)
      }
      partOk && st.stats.forall { fs =>
        fs.cols.find(_._1.equalsIgnoreCase(column)).map(_._2).forall(cs =>
          if (cs.nulls < 0) true // unknown: always scan
          else if (isNull) cs.nulls > 0
          else cs.nulls < fs.count)
      }
    }
    if (kept.isEmpty)
      read(spark, table, version).filter(org.apache.spark.sql.functions.lit(false))
    else {
      val df = readState(spark, table, kept, schema)
      df.filter(if (isNull) col(column).isNull else col(column).isNotNull)
    }
  }

  /** [[readPruned]] for STRING ranges: prunes on the string bounds the
    * default stats record, compared in UTF-8 BYTE order — the order
    * Spark's min/max computed them in (UTF8String.binaryCompare); a
    * driver-side UTF-16 comparison would disagree beyond the BMP and
    * could wrongly prune. Semantics: `column BETWEEN lo AND hi`. */
  def readPrunedString(spark: SparkSession, table: String, column: String,
      lo: String, hi: String, version: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    prunedRead(spark, table, version,
      c => !c.isString ||
        (utf8Compare(c.maxStr, lo) >= 0 && utf8Compare(c.minStr, hi) <= 0),
      column, _ => col(column).between(lit(lo), lit(hi)))
  }

  /** Unsigned byte-wise comparison of the UTF-8 encodings — exactly
    * UTF8String's binary order. */
  private def utf8Compare(a: String, b: String): Int = {
    val (x, y) = (a.getBytes("UTF-8"), b.getBytes("UTF-8"))
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  /** A PARTITION value as the ColStats image a stats predicate
    * understands: the single exact value becomes [v, v] in the stats'
    * canonical kind (long for integral/boolean/date, raw string for
    * strings), a null-partition file becomes the all-null sentinel
    * (empty range, unknown null count — conservative for null-reads).
    * This is what lets every stats-driven pruned read (range, string
    * range, IS [NOT] NULL) prune on partition columns with ZERO new
    * predicate code — the partition tier just synthesizes perfect
    * per-file stats from the path. None = unparseable value or
    * unsupported type: no pruning, always sound. */
  private def partColStats(f: StructField, v: String): Option[ColStats] = {
    import org.apache.spark.sql.types._
    if (v == null)
      return Some(ColStats(Long.MaxValue, Long.MinValue, nulls = -1L))
    f.dataType match {
      case StringType => Some(ColStats(0L, 0L, v, v, nulls = 0L))
      case ByteType | ShortType | IntegerType | LongType =>
        scala.util.Try(v.toLong).toOption.map(l => ColStats(l, l, nulls = 0L))
      case BooleanType =>
        val l = if (v.equalsIgnoreCase("true")) 1L else 0L
        Some(ColStats(l, l, nulls = 0L))
      case DateType =>
        scala.util.Try(java.time.LocalDate.parse(v).toEpochDay).toOption
          .map(l => ColStats(l, l, nulls = 0L))
      case _ => None
    }
  }

  private def prunedRead(spark: SparkSession, table: String,
      version: Option[Long], keep: ColStats => Boolean, column: String,
      residual: DataFrame => Column): DataFrame = {
    val (all, schema) = resolveSnapshot(spark, table, version)
    // Partition tier: when `column` is a partition column, each file's
    // path-carried value synthesizes exact [v,v] stats the SAME keep
    // predicate screens — so range/string/null pruned reads prune
    // date- or key-partitioned tables from the file list alone.
    val partField = schema.flatMap(s =>
      partitionFields(s).find(_.name.equalsIgnoreCase(column)))
    val kept = all.filter { case (rel, st) =>
      val partOk = partField.forall { f =>
        partValueOf(rel, physicalName(f))
          .flatMap(partColStats(f, _)).forall(keep)
      }
      partOk && st.stats.forall(_.cols.get(column).forall(keep))
    }
    if (kept.isEmpty) {
      // Nothing can match; keep the caller's schema contract anyway.
      read(spark, table, version).filter(org.apache.spark.sql.functions.lit(false))
    } else {
      // Stats bound the PRE-mask population, so they stay valid (an
      // over-approximation) under DVs; the DV mask still applies.
      val df = readState(spark, table, kept, schema)
      df.filter(residual(df))
    }
  }

  /** LOG cleanup: delete commit entries a checkpoint supersedes — the
    * metadata half of vacuum. A streaming-ingest table commits every
    * micro-batch; at 100 TB cadence the `_log` listing itself becomes
    * the bottleneck (every snapshot resolution lists it), so superseded
    * entries must retire like data files do. Keeps the newest
    * `retainVersions` version files PLUS everything a retained read
    * could replay: with `cpCut` = the newest checkpoint at-or-below the
    * retention floor, any retained version resolves from a checkpoint
    * ≥ cpCut and its tail — so entries strictly BELOW cpCut (and
    * checkpoints below it) are unreachable from every retained read
    * and delete. Time travel to a cleaned version refuses loudly
    * (resolve's require); the cpCut version itself stays resolvable
    * forever through its checkpoint. A stream resuming from an offset
    * below cpCut fails (the Delta log-retention-vs-stream-lag trade) —
    * size `retainVersions` to the slowest consumer. Returns deleted
    * log file names. */
  def cleanupLog(spark: SparkSession, table: String,
                 retainVersions: Int = CheckpointInterval): Seq[String] = {
    val f = fs(spark, logDir(table))
    val versions = listVersions(f, table, "v")
    val ckpts = listVersions(f, table, "c")
    if (versions.isEmpty || ckpts.isEmpty) return Nil
    val keepFrom = versions.last - math.max(1, retainVersions) + 1
    val cpCut = ckpts.filter(_ <= keepFrom).lastOption.getOrElse(return Nil)
    val deadV = versions.filter(_ < cpCut).map(v => f"v$v%08d.json")
    val deadC = ckpts.filter(_ < cpCut).map(c => f"c$c%08d.json")
    val deleted = (deadV ++ deadC).filter(n =>
      scala.util.Try(f.delete(new Path(logDir(table), n), false))
        .getOrElse(false))
    // Masks only the cleaned versions bound are unreachable now.
    if (deleted.nonEmpty)
      ResolveCache.evictMasks(table, snapshotFull(spark, table).flatMap(_._2.dv).toSet)
    deleted
  }

  /** RESTORE the table to the state of `toVersion`, as ONE NEW commit
    * (the Delta RESTORE shape): the commit removes every currently-live
    * file and re-adds `toVersion`'s full file set WITH its stats and
    * DV bindings, and re-records that snapshot's schema — so the
    * restore is itself versioned history (an audit sees it, a second
    * restore can undo it) and later time travel still resolves the
    * in-between states. Pure log metadata: no data file moves or
    * rewrites, O(files) driver work — the only restore that makes
    * sense at 100 TB. Fails loudly if any of the target snapshot's
    * files has been vacuumed away (a silent partial restore would
    * "succeed" into data loss); rebases past concurrent commits like
    * every other writer — the restored state is toVersion's regardless
    * of what landed meanwhile, which is the documented last-writer-
    * wins semantics of RESTORE. */
  def restore(spark: SparkSession, table: String, toVersion: Long): CommitResult = {
    val (want, wantSchema) = resolve(spark, table, Some(toVersion))
    val missing = probeLens(spark, table, want.map(_._1))
      .collect { case (rel, len) if len < 0 => rel }
    require(missing.isEmpty,
      s"cannot restore $table to v$toVersion: ${missing.size} of its " +
        s"files were vacuumed (first: ${missing.headOption.getOrElse("")})")
    mustCommit(commitLoop(spark, table,
      stats = want.collect {
        case (p, st) if st.stats.isDefined => p -> st.stats.get }.toMap,
      dvs = want.collect {
        case (p, st) if st.dv.isDefined => p -> st.dv.get }.toMap,
      cls = want.collect {
        case (p, st) if st.cl.isDefined => p -> st.cl.get }.toMap,
      schema = wantSchema) { v =>
      val cur = snapshot(spark, table, Some(v - 1))
      Some((want.map(_._1), cur))
    }, s"restore $table to v$toVersion")
  }

  /** Rows in files ADDED after `fromVersion`, up to `toVersion`
    * (inclusive; default latest) — the delta read an incremental
    * consumer (index refresh, downstream sync) runs per corpus
    * advance: cost ∝ new files, never ∝ table. File-granular: it means
    * "rows appended" only while the interval contains NO removes — a
    * rewrite (compaction, MERGE, overwrite) re-publishes OLD rows in
    * new files, so interval-with-removes callers must fall back to a
    * full read or the CDC diff (readChangeFeed's job);
    * [[graft.operators.AnnIndexStore.ensureIncremental]] checks the
    * interval's commits before taking this path. */
  def readAppended(spark: SparkSession, table: String, fromVersion: Long,
                   toVersion: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val before = snapshot(spark, table, Some(fromVersion)).toSet
    val (after, schema) = resolveSnapshot(spark, table, toVersion)
    val fresh = after.filterNot { case (p, _) => before.contains(p) }
    if (fresh.isEmpty) read(spark, table, toVersion).filter(lit(false))
    else readState(spark, table, fresh, schema)
  }

  /** Idempotent append for exactly-once streaming sinks: the commit
    * carries a `streamId:batchId` txn marker, and a batch at-or-below
    * the stream's high-water mark is dropped WITHOUT publishing — so a
    * foreachBatch retry (post-failure replay re-delivers the same
    * batchId) lands its rows exactly once no matter how many times the
    * sink runs. The duplicate check re-runs inside the commit loop, so
    * even two concurrent deliveries of the same batch race on the
    * version file and the loser sees the winner's marker on rebase.
    * Returns None when the batch was already committed. */
  def appendBatch(spark: SparkSession, table: String, df: DataFrame,
                  streamId: String, batchId: Long): Option[CommitResult] = {
    if (lastCommittedBatch(spark, table, streamId).exists(_ >= batchId)) return None
    val cur = tableSchema(spark, table)
    enforceSchema(spark, table, df, mergeSchema = false, "streaming append")
    // IDENTITY tables refuse the streaming sink for now: the
    // exactly-once replay contract (same batchId re-publishes the SAME
    // staged files) and watermark-retry reallocation contradict — a
    // replayed batch must not draw fresh ids. Loud beats silent nulls.
    cur.flatMap(identityField).filterNot(f =>
      df.columns.exists(_.equalsIgnoreCase(f.name))).foreach { f =>
      throw new UnsupportedOperationException(
        s"streaming append to $table: identity column '${f.name}' " +
          "cannot be assigned exactly-once under replay — supply the " +
          "column explicitly in the stream or use batch appends")
    }
    val staged = stage(spark, table, df, cur)
    val r = commitLoop(spark, table, txn = Some(s"$streamId:$batchId"),
      stats = stagedStats(spark, table, staged,
        defaultStatsCols(cur.getOrElse(df.schema)), cur),
      schema = enforceSchema(spark, table, df, mergeSchema = false,
        "streaming append")) { _ =>
      if (lastCommittedBatch(spark, table, streamId).exists(_ >= batchId)) None
      else Some((staged, Nil))
    }
    // AUTO-COMPACTION for streaming ingest: a micro-batch sink is the
    // table's small-file factory, and at 100 TB "run OPTIMIZE
    // sometimes" is an operational hole, not a plan. When
    // `spark.graft.autoCompact.minFiles` is set and at least that many
    // live files sit under `spark.graft.autoCompact.maxFileBytes`
    // (default 32 MiB), the sink folds a small-file compaction in
    // AFTER its commit — compactSmall is race-safe (abandons if a
    // victim was replaced; rebases past concurrent appends) and
    // best-effort here: a lost race just leaves the files for the
    // next batch. Old versions still resolve the fragments until
    // vacuum, so exactly-once replay semantics are untouched.
    if (r.isDefined) maybeAutoCompact(spark, table)
    r
  }

  /** The post-commit auto-compaction probe shared by the streaming
    * sink, batch [[append]], and [[copyInto]] — every verb that can be
    * a small-file factory. Entirely conf-gated and best-effort: a
    * lost race or a file a concurrent vacuum/DML removed in the
    * probe window just leaves the work for the next write (the
    * caller's commit already published; round-13 advice, low). */
  private def maybeAutoCompact(spark: SparkSession, table: String): Unit =
    GraftConf.get(spark.sessionState.conf, "spark.graft.autoCompact.minFiles")(_.toIntOption)
      .foreach { minFiles =>
      val maxBytes = GraftConf.get(spark.sessionState.conf,
        "spark.graft.autoCompact.maxFileBytes")(_.toLongOption).getOrElse(32L << 20)
      val sizes = probeLens(spark, table, snapshot(spark, table))
        .map(_._2).filter(l => l >= 0 && l < maxBytes)
      if (sizes.size >= minFiles)
        scala.util.Try(compactSmall(spark, table, maxBytes,
          targetFiles = math.max(1,
            ((sizes.sum + maxBytes - 1) / maxBytes).toInt)))
    }

  /** The stream's committed high-water mark: max batchId across every
    * commit carrying this stream's txn marker. Checkpoints record every
    * stream's mark, so this is the snapshot's own checkpoint-plus-tail
    * [[replay]] (a cache hit on a warm table) and survives log cleanup. */
  def lastCommittedBatch(spark: SparkSession, table: String,
                         streamId: String): Option[Long] =
    if (latestVersion(spark, table) < 0) None
    else streamMarks(spark, table, replay(spark, table, None)).get(streamId)

  /** Replace the whole table content with `df` in one atomic commit.
    * Removes are recomputed against the CURRENT snapshot on every
    * retry, so a concurrent append's files are also replaced rather
    * than leaking past the overwrite. The commit re-baselines the
    * recorded schema to `df`'s (an overwrite owns the table shape). */
  def overwrite(spark: SparkSession, table: String, df: DataFrame): CommitResult = {
    // An overwrite re-baselines the schema PLAIN (physical = logical,
    // no retired slots): every pre-overwrite file leaves the snapshot,
    // so no old physical slot can leak into the new shape. TABLE
    // INVARIANTS survive it: CHECK constraints (validated against the
    // replacement rows in the staged write), GENERATED definitions
    // (recomputed into the replacement rows — a writer-supplied value
    // is overwritten like on any other path), and PARTITION columns
    // (the replacement stages hive-laid) — each carried for columns
    // the new frame still has under the same name and type; a column
    // the frame dropped takes its invariant with it (the overwrite
    // owns the shape). Round-13 advice documented the old
    // drop-generated asymmetry; this closes it.
    val curMeta = scala.util.Try(resolve(spark, table, None)._2)
      .toOption.flatten
    // IDENTITY assignment runs on the overwrite path too (round-15
    // advice, medium): NULL/unsupplied values in a CARRIED identity
    // column are engine-assigned from the watermark, and GENERATED
    // ALWAYS refuses writer values — same contract as append. A frame
    // OMITTING the column drops it (the overwrite owns the shape), so
    // assignment only applies when the frame carries it.
    val (df2, alloc) = curMeta.map(_.schema) match {
      case Some(s) if identityField(s).exists(f =>
          df.columns.exists(_.equalsIgnoreCase(f.name))) =>
        assignIdentity(spark, table, df, s)
      case _ => (df, None)
    }
    val preserved0 = StructType(stripMapping(df2.schema).fields.map { f =>
      curMeta.flatMap(_.schema.fields.find(cf =>
          cf.name.equalsIgnoreCase(f.name) &&
            cf.dataType.catalogString == f.dataType.catalogString)) match {
        case Some(cf) if cf.metadata.contains(GeneratedExprKey) ||
            cf.metadata.contains(PartitionColKey) ||
            cf.metadata.contains(IdentityStartKey) =>
          val mb = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
          if (cf.metadata.contains(GeneratedExprKey))
            mb.putString(GeneratedExprKey,
              cf.metadata.getString(GeneratedExprKey))
          if (cf.metadata.contains(PartitionColKey))
            mb.putLong(PartitionColKey,
              cf.metadata.getLong(PartitionColKey))
          if (cf.metadata.contains(IdentityStartKey)) {
            // Identity survives an overwrite WITH its watermark — any
            // explicit replacement values notwithstanding, the next
            // allocation must still be past everything ever handed out
            // (engine-assigned rows advance it below).
            mb.putLong(IdentityStartKey,
              cf.metadata.getLong(IdentityStartKey))
            mb.putLong(IdentityStepKey, cf.metadata.getLong(IdentityStepKey))
            if (cf.metadata.contains(IdentityExplicitKey))
              mb.putBoolean(IdentityExplicitKey,
                cf.metadata.getBoolean(IdentityExplicitKey))
            if (cf.metadata.contains(IdentityNextKey))
              mb.putLong(IdentityNextKey,
                cf.metadata.getLong(IdentityNextKey))
          }
          f.copy(metadata = mb.build())
        case _ => f
      }
    })
    // An allocation advances the carried watermark; the commit removes
    // every prior file, so the staged rows' ids are the only live ones
    // and the recorded next is past all of them by construction.
    val preserved = alloc match {
      case Some((_, newNext)) => StructType(preserved0.fields.map { f =>
        if (f.metadata.contains(IdentityStartKey))
          f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata).putLong(IdentityNextKey, newNext)
            .build())
        else f
      })
      case None => preserved0
    }
    val staged = stage(spark, table, df2, mapping = Some(preserved))
    mustCommit(commitLoop(spark, table,
      stats = stagedStats(spark, table, staged, defaultStatsCols(df2.schema)),
      schema = Some(SchemaCommit(preserved,
        constraints = curMeta.map(_.constraints).getOrElse(Map.empty)))) { v =>
      Some((staged, snapshot(spark, table, Some(v - 1))))
    }, s"overwrite $table")
  }

  /** ACID MERGE (upsert): resolve `delta` against the current snapshot
    * by key — a delta row replaces every current row sharing its key;
    * unmatched delta rows insert — and publish the result as ONE
    * atomic commit, so readers see pre-merge or post-merge, never a
    * torn middle, and time travel keeps the pre-merge version.
    * Copy-on-write, FILE-PRUNED when the log carries stats on the
    * merge key (see [[mergeAttempt]]). Resolution is the engine's
    * winner-per-key discipline: one window over the key exchange,
    * delta outranks current, no full-outer join.
    *
    * Isolation: the resolution is computed against a PINNED base
    * version, and the commit abandons if ANY other commit landed since
    * — then the loop recomputes from the new tip. Committing the stale
    * resolution with recomputed removes (the overwrite shape) would
    * silently drop a concurrent append's rows; serializable
    * re-resolution is the only sound default. Abandoned attempts drop
    * their staged files eagerly, and the retry loop is BOUNDED —
    * under sustained conflict it throws `ConcurrentModificationException`
    * after `maxAttempts` rebases rather than livelocking (round-10
    * advice). */
  def merge(spark: SparkSession, table: String, delta: DataFrame,
            key: String, maxAttempts: Int = 20): CommitResult =
    merge(spark, table, delta, Seq(key), maxAttempts)

  /** [[merge]] WITH SCHEMA EVOLUTION: delta columns the table lacks
    * evolve the schema additively in the SAME commit (the Delta
    * `MERGE WITH SCHEMA EVOLUTION` semantics) — survivors and
    * untouched files read as null in the new columns, exactly like
    * append-side evolution. */
  def mergeEvolve(spark: SparkSession, table: String, delta: DataFrame,
                  keys: Seq[String], maxAttempts: Int = 20): CommitResult =
    mergeImpl(spark, table, delta, keys, maxAttempts, mergeSchema = true)

  /** [[merge]] on a COMPOSITE key: a delta row replaces current rows
    * sharing its whole key TUPLE. Pruning intersects per-column file
    * stats — tuple equality needs every component equal, so a file
    * disjoint from the delta's range on ANY key column provably holds
    * no matching tuple. */
  def merge(spark: SparkSession, table: String, delta: DataFrame,
            keys: Seq[String], maxAttempts: Int): CommitResult =
    mergeImpl(spark, table, delta, keys, maxAttempts, mergeSchema = false)

  private def mergeImpl(spark: SparkSession, table: String, delta: DataFrame,
            keys: Seq[String], maxAttempts: Int,
            mergeSchema: Boolean): CommitResult = {
    require(keys.nonEmpty, "merge needs at least one key column")
    var attempts = 0
    while (attempts < maxAttempts) {
      mergeAttempt(spark, table, delta, keys,
        latestVersion(spark, table), mergeSchema) match {
        case Some(r) => return r
        case None => attempts += 1 // the log moved while resolving — rebase and redo.
      }
    }
    throw new java.util.ConcurrentModificationException(
      s"merge on $table abandoned $maxAttempts consecutive attempts: " +
        "sustained concurrent commits are outrunning the rebase loop")
  }

  /** One pinned-base merge attempt; None = the log advanced past
    * `base` before the commit claimed its slot (nothing published,
    * staged files dropped).
    *
    * FILE-PRUNED when the log carries stats on the merge key: a file
    * whose [min,max] on `key` cannot intersect the delta's key range
    * provably shares no key with the delta, so it stays OUT of the
    * rewrite — path, stats, and DV binding untouched. A merge of
    * recent keys into a key-banded 100 TB table then rewrites the
    * touched sliver, not the table. Stats-less files (and every file,
    * when the key column has no stats or isn't castable to long)
    * rewrite as before — pruning only ever shrinks the rewrite set,
    * never the semantics. */
  private[graft] def mergeAttempt(spark: SparkSession, table: String,
      delta: DataFrame, key: String, base: Long): Option[CommitResult] =
    mergeAttempt(spark, table, delta, Seq(key), base, mergeSchema = false)

  private[graft] def mergeAttempt(spark: SparkSession, table: String,
      delta: DataFrame, keys: Seq[String], base: Long,
      mergeSchema: Boolean = false): Option[CommitResult] = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, count, lit, max, min, when}
    val (baseFiles, baseSchemaC) = resolve(spark, table, Some(base))
    val baseSchema = baseSchemaC.map(_.schema)
    // IDENTITY columns assign on the merge path too (round-15 advice,
    // medium): NULL/missing identity values in the delta are engine-
    // assigned from the PINNED base watermark — race-safe for free,
    // because the commit only publishes at base+1 (a concurrent
    // allocation forces the rebase loop, which reallocates from the
    // new tip). GENERATED ALWAYS refuses writer values, so an ALWAYS
    // delta always gets fresh ids — consistent with the documented
    // replace-by-key contract (a delta row replaces the whole row).
    val (delta2, alloc) = baseSchema match {
      case Some(s) => assignIdentity(spark, table, delta, s)
      case None => (delta, None)
    }
    // With evolution on, extras in the delta produce the merged schema
    // to record WITH this commit (computed against the pinned base —
    // the commit only publishes at base+1, so it cannot clobber a
    // concurrent evolution; a lost race recomputes from the new tip).
    val evolved = enforceSchemaOn(spark, table, baseSchemaC, delta2,
      mergeSchema, "merge")
    // One agg pass: per key column, the delta's TYPED [min,max] (long
    // canonical for numeric/date/time keys, raw string for string
    // keys — matching the stats kind) and a null count. Pruning is
    // sound only when EVERY delta key value on a column has an image:
    // raw-equal keys have equal canonical forms, so disjoint ranges
    // prove disjoint keys — but a canonical-null delta key (a
    // non-castable value, or a null key, which merge's window groups
    // as a key) is outside the range and could still match rows a
    // mixed file's stats never covered. A column with any such value
    // never prunes; a file disjoint on ANY prunable key column holds
    // no matching key TUPLE, and a kind mismatch never prunes.
    val keyFields: Seq[(String, Option[Boolean], Column)] = keys.map { k =>
      val fld = delta2.schema.fields.find(_.name.equalsIgnoreCase(k))
      val kind = fld.flatMap(f => statsKind(f.dataType))
      val v = kind match {
        case Some(true) => col(k)
        case Some(false) => canonLong(col(k), fld.get.dataType)
        case None => lit(null).cast("long") // unsupported type: no pruning
      }
      (k, kind, v)
    }
    val rangeAggs = keyFields.flatMap { case (_, _, v) =>
      Seq(min(v), max(v), count(when(v.isNull, lit(1))))
    }
    val range = delta2.agg(rangeAggs.head, rangeAggs.tail: _*).head()
    val bounds: Seq[Option[KeyBound]] = keyFields.zipWithIndex.map {
      case ((k, kind, _), i) =>
        val (mnI, mxI, nullI) = (3 * i, 3 * i + 1, 3 * i + 2)
        if (kind.isEmpty || range.isNullAt(mnI) || range.isNullAt(mxI) ||
            range.getLong(nullI) > 0)
          None
        else if (kind.contains(true))
          Some(StrBound(k, range.getString(mnI), range.getString(mxI)))
        else Some(LongBound(k, range.getLong(mnI), range.getLong(mxI)))
    }
    val touched = baseFiles.filter { case (_, st) =>
      bounds.flatten.forall { b =>
        st.stats.forall(_.cols.get(b.key).forall(b.intersects))
      }
    }
    // Every file pruned ⇒ no current row can share a delta key: the
    // merge degenerates to a pure insert of the delta.
    val resolved =
      if (touched.isEmpty) delta2
      else {
        val union = readState(spark, table, touched, baseSchema)
          .withColumn("_src", lit(0))
          .unionByName(delta2.withColumn("_src", lit(1)),
            allowMissingColumns = mergeSchema)
        union
          .withColumn("_hasDelta",
            max("_src").over(Window.partitionBy(keys.map(col): _*)))
          // A key with any delta row keeps ONLY its delta rows; a key
          // without one keeps its current rows untouched.
          .filter(col("_src") === 1 || col("_hasDelta") === 0)
          .drop("_src", "_hasDelta")
      }
    val staged = stage(spark, table, resolved, baseSchema,
      resolvedMeta = Some(baseSchemaC))
    // Re-emit stats for the rewrite on every column the base carried —
    // otherwise every merge decays the table's skipping coverage and
    // the NEXT merge can no longer prune its own output.
    val statCols = inheritedStatsCols(baseFiles)
    val stats =
      if (statCols.nonEmpty)
        stagedStats(spark, table, staged, statCols, baseSchema)
      else Map.empty[String, FileStats]
    val result = commitLoop(spark, table, stats = stats,
      schema = alloc match {
        case Some((_, newNext)) =>
          schemaWithWatermark(spark, table, newNext, evolved)
        case None => evolved
      }) { v =>
      if (v != base + 1) None else Some((staged, touched.map(_._1)))
    }
    if (result.isEmpty) dropStaged(spark, table, staged)
    result
  }

  // ---- general (clause-form) MERGE ----------------------------------------

  /** One `WHEN …` clause of a clause-form MERGE. Conditions and value
    * expressions follow the joined-row column contract: TARGET columns
    * by bare name, SOURCE columns prefixed [[SourcePrefix]] (the SQL
    * front door translates qualified references into this shape). */
  sealed trait MergeClause { def condition: Option[Column] }
  /** WHEN [NOT] MATCHED [AND cond] THEN UPDATE SET … */
  final case class MergeUpdate(condition: Option[Column],
                               set: Map[String, Column]) extends MergeClause
  /** WHEN [NOT] MATCHED [AND cond] THEN DELETE */
  final case class MergeDelete(condition: Option[Column]) extends MergeClause
  /** WHEN NOT MATCHED [AND cond] THEN INSERT (…) VALUES (…) — columns
    * the clause omits insert NULL (the SQL default). */
  final case class MergeInsert(condition: Option[Column],
                               values: Map[String, Column]) extends MergeClause

  /** The column prefix a clause-form merge's source travels under in
    * the joined row (dodges target/source name collisions — a merge's
    * whole point is that both sides share key names). */
  val SourcePrefix = "__s_"

  /** Source-row presence marker in the joined row — deliberately NOT
    * `SourcePrefix + <plausible name>`, so a source column can never
    * collide with it. */
  private val SourceMarker = "__gf_src_present"

  /** Clause-form ACID MERGE — the full SQL surface [[merge]]'s
    * replace-by-key fast path cannot express: an arbitrary (not
    * necessarily equi) ON condition, ordered conditional
    * `WHEN MATCHED [AND …] THEN UPDATE/DELETE` clauses, column-listed
    * `WHEN NOT MATCHED THEN INSERT`, and `WHEN NOT MATCHED BY SOURCE
    * UPDATE/DELETE`. Standard-SQL semantics:
    *
    *  - each TARGET row takes the FIRST matched (or by-source) clause
    *    whose condition is true, evaluated per clause order; no
    *    applicable clause ⇒ the row is untouched;
    *  - a target row with MORE THAN ONE source match where any matched
    *    clause applies is the standard's cardinality violation and
    *    throws — applying an arbitrary one would be nondeterministic;
    *  - each source row matching NO target row takes the first
    *    applicable NOT MATCHED clause and inserts (omitted columns
    *    NULL), or vanishes.
    *
    * Execution is copy-on-write with FILE-LEVEL victim detection: one
    * join pass finds the files containing any clause-affected row
    * (bounded by `maxCollectedVictims`, like [[delete]]); ONLY those
    * rewrite — at 100 TB a selective merge rewrites the touched
    * sliver. `WHEN NOT MATCHED BY SOURCE` forces a full-table victim
    * set (every unmatched target row is potentially affected, and
    * unmatched is only provable against the whole join). Commits are
    * serializable exactly like [[merge]]: pinned base, abandon on any
    * concurrent commit, bounded rebase loop. Returns None when no
    * clause affected any row (nothing published).
    *
    * `evolve` = WITH SCHEMA EVOLUTION: every source-only column is
    * ADDED to the target (nullable, additive — the same recording an
    * ALTER ADD COLUMNS makes, in the merge's own commit), star
    * actions expand over the evolved shape, explicit clauses may
    * assign the new columns, and rows no clause touches read them as
    * NULL (old files simply lack the column — the standard additive-
    * evolution read). Evolution is all-or-nothing over the source's
    * extras, the coarse (and monotone) end of the reference
    * lakehouse's per-action rule. */
  def mergeClauses(spark: SparkSession, table: String, source: DataFrame,
                   condition: Column,
                   matched: Seq[MergeClause] = Nil,
                   notMatched: Seq[MergeInsert] = Nil,
                   bySource: Seq[MergeClause] = Nil,
                   maxAttempts: Int = 20,
                   maxCollectedVictims: Int = MaxCollectedVictims,
                   evolve: Boolean = false): Option[CommitResult] = {
    require(matched.forall(!_.isInstanceOf[MergeInsert]),
      "WHEN MATCHED supports UPDATE/DELETE only")
    require(bySource.forall(!_.isInstanceOf[MergeInsert]),
      "WHEN NOT MATCHED BY SOURCE supports UPDATE/DELETE only")
    require(matched.nonEmpty || notMatched.nonEmpty || bySource.nonEmpty,
      "merge needs at least one WHEN clause")
    import org.apache.spark.sql.functions.{col, lit}
    // The source is read by several jobs (victim pass, rewrite,
    // insert anti-join) and MUST present one consistent row set — a
    // nondeterministic source query re-evaluating differently per job
    // would tear the merge. Persist once, release at the end.
    val src = source.select(source.columns.map(c =>
        col(c).as(s"$SourcePrefix$c")).toSeq: _*)
      .withColumn(SourceMarker, lit(true))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var attempts = 0
      while (attempts < maxAttempts) {
        mergeClausesAttempt(spark, table, src, condition, matched,
          notMatched, bySource, maxCollectedVictims,
          latestVersion(spark, table), evolve) match {
          case Right(r) => return r
          case Left(()) => attempts += 1 // rebase
        }
      }
      throw new java.util.ConcurrentModificationException(
        s"merge on $table abandoned $maxAttempts consecutive attempts: " +
          "sustained concurrent commits are outrunning the rebase loop")
    } finally src.unpersist()
  }

  /** First-true-wins clause chain: the 0-based index of the first
    * clause whose condition holds (missing condition = always), null
    * when none does — evaluated under `gate` (presence side). */
  private def clauseIndex(clauses: Seq[MergeClause], gate: Column): Column = {
    import org.apache.spark.sql.functions.{lit, when}
    clauses.zipWithIndex.foldRight(
        lit(null).cast("int")) { case ((cl, i), acc) =>
      when(gate && cl.condition.fold(lit(true))(c => c <=> true), lit(i))
        .otherwise(acc)
    }
  }

  /** One pinned-base clause-merge attempt; Left = log advanced, rebase. */
  private def mergeClausesAttempt(spark: SparkSession, table: String,
      src: DataFrame, condition: Column, matched: Seq[MergeClause],
      notMatched: Seq[MergeInsert], bySource: Seq[MergeClause],
      maxCollectedVictims: Int,
      base: Long, evolve: Boolean = false): Either[Unit, Option[CommitResult]] = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, count, lit, max, row_number, when}
    val (full, baseSchemaC) = resolve(spark, table, Some(base))
    val baseSchema = baseSchemaC.map(_.schema)
    val states = full.toMap
    def taggedRead(files: Seq[(String, FileState)]): DataFrame =
      readTagged(spark, table, files, baseSchema, tagAlways = true)._1
    // WITH SCHEMA EVOLUTION: the target's working shape gains every
    // source-only column as NULL (old rows have no value until a
    // clause assigns one); the commit's mergeSchema recording below
    // makes the addition durable.
    val extras: Seq[StructField] =
      if (!evolve) Nil
      else src.schema.fields.toSeq
        .filter(_.name.startsWith(SourcePrefix))
        .map(f => f.copy(name = f.name.stripPrefix(SourcePrefix),
          nullable = true))
        .filterNot(f => baseSchema.exists(_.fieldNames
          .exists(_.equalsIgnoreCase(f.name))))
    def withExtras(d: DataFrame): DataFrame =
      extras.foldLeft(d)((x, f) =>
        x.withColumn(f.name, lit(null).cast(f.dataType)))
    val tgt = withExtras(taggedRead(full))
    val tableCols = tgt.columns.filterNot(Set("_gf_rel", "_gf_idx")).toSeq
    val colType = tgt.schema.fields.map(f => f.name -> f.dataType).toMap
    matched.collect { case MergeUpdate(_, set) => set.keys }.flatten
      .++(notMatched.flatMap(_.values.keys))
      .++(bySource.collect { case MergeUpdate(_, set) => set.keys }.flatten)
      .foreach { k =>
        require(tableCols.exists(_.equalsIgnoreCase(k)),
          s"merge clause references column '$k' not in $table " +
            s"(${tableCols.mkString(", ")})")
      }
    val sPresent = col(SourceMarker) <=> true
    // A GENERATED ALWAYS identity column is never writer-owned: an
    // UPDATE SET naming it would hand the writer the value (round-15
    // advice, medium — identity must hold on every write path).
    baseSchema.flatMap(identityField).foreach { f =>
      val always = !(f.metadata.contains(IdentityExplicitKey) &&
        f.metadata.getBoolean(IdentityExplicitKey))
      val sets = (matched ++ bySource)
        .collect { case MergeUpdate(_, set) => set.keys }.flatten
      require(!(always && sets.exists(_.equalsIgnoreCase(f.name))),
        s"MERGE into $table: '${f.name}' is GENERATED ALWAYS AS " +
          "IDENTITY — UPDATE SET cannot assign it")
    }

    // ---- victim pass: which files contain a clause-affected row, and
    // does any target row have >1 applicable source match (the
    // standard's cardinality violation)?
    val j0 = tgt.join(src, condition, "left_outer")
    val mApp = clauseIndex(matched, sPresent).isNotNull
    val bApp = clauseIndex(bySource, !sPresent).isNotNull
    val hits = j0.filter(mApp || bApp)
      .groupBy(col("_gf_rel"), col("_gf_idx"))
      .agg(count(when(mApp, lit(1))).as("_c"))
    val perFile = hits.groupBy(col("_gf_rel")).agg(max(col("_c")).as("_mx"))
      .limit(maxCollectedVictims + 1).collect()
    val overflow = perFile.length > maxCollectedVictims
    if ((!overflow && perFile.exists(_.getLong(1) > 1)) ||
        (overflow && hits.agg(max(col("_c"))).head().getLong(0) > 1))
      throw new UnsupportedOperationException(
        s"MERGE into $table: a target row has multiple applicable source " +
          "matches — the standard's cardinality violation (applying an " +
          "arbitrary one would be nondeterministic); de-duplicate the source")
    // Pruning stays sound under NOT MATCHED BY SOURCE: the victim
    // pass evaluated by-source applicability on the unmatched rows of
    // the FULL left-outer join, so a file outside `perFile` provably
    // contains no clause-affected row of either kind.
    val victims: Seq[String] =
      if (overflow) full.map(_._1)
      else perFile.map(_.getString(0)).toSeq

    // ---- rewrite pass over the victim files only.
    val rewritten: Option[DataFrame] =
      if (victims.isEmpty) None
      else {
        val vj = withExtras(taggedRead(victims.map(p => p -> states(p))))
          .join(src, condition, "left_outer")
          .withColumn("_ma", clauseIndex(matched, sPresent))
          .withColumn("_ba", clauseIndex(bySource, !sPresent))
        // One decision row per target row: the applicable one if any
        // (cardinality-checked unique), else an arbitrary no-op row —
        // all no-op rows emit the identical unchanged target row.
        val picked = vj.withColumn("_rn", row_number().over(
            Window.partitionBy(col("_gf_rel"), col("_gf_idx"))
              .orderBy(when(col("_ma").isNotNull || col("_ba").isNotNull,
                lit(0)).otherwise(lit(1)))))
          .filter(col("_rn") === 1)
        def updValue(cl: MergeClause, c: String): Column = cl match {
          case MergeUpdate(_, set) =>
            set.collectFirst { case (k, v) if k.equalsIgnoreCase(c) => v }
              .getOrElse(col(c))
          case _ => col(c) // delete: value irrelevant, row dropped below
        }
        val keep =
          chainKeep(matched, col("_ma")) && chainKeep(bySource, col("_ba"))
        // The matched chain wraps the by-source chain: the two index
        // spaces are disjoint (exactly one is non-null per decided
        // row), so both collapse to the unchanged column when their
        // index is null; all SET values evaluate against the ORIGINAL
        // row (one simultaneous select, never sequential rebinding).
        Some(picked.filter(keep).select(tableCols.map { c =>
          val afterB = bySource.zipWithIndex.foldRight(col(c)) {
            case ((cl, i), acc) =>
              when(col("_ba") === i, updValue(cl, c)).otherwise(acc)
          }
          matched.zipWithIndex.foldRight(afterB) { case ((cl, i), acc) =>
            when(col("_ma") === i, updValue(cl, c)).otherwise(acc)
          }.cast(colType(c)).as(c)
        }: _*))
      }

    // ---- insert pass: source rows matching NO target row take their
    // first applicable NOT MATCHED clause. The anti-join runs against
    // the FULL target (unmatched must be proven table-wide).
    val inserts: Option[DataFrame] =
      if (notMatched.isEmpty) None
      else {
        val un = src.join(tgt, condition, "left_anti")
          .withColumn("_ia", clauseIndex(notMatched, lit(true)))
          .filter(col("_ia").isNotNull)
        Some(un.select(tableCols.map { c =>
          notMatched.zipWithIndex.foldRight(lit(null).cast(colType(c))) {
            case ((cl, i), acc) =>
              when(col("_ia") === i,
                cl.values.collectFirst {
                  case (k, v) if k.equalsIgnoreCase(c) => v
                }.getOrElse(lit(null))).otherwise(acc)
          }.cast(colType(c)).as(c)
        }: _*))
      }

    // INSERTED rows are the merge's new rows: NULL identity values
    // (an omitted column inserts NULL) are engine-assigned from the
    // pinned base watermark — the base+1 commit condition makes the
    // allocation race-safe, exactly like [[mergeAttempt]]'s. Rewritten
    // rows keep their ids (an update never reallocates).
    val (insertsAssigned, alloc) = (inserts, baseSchema) match {
      case (Some(ins), Some(sch)) =>
        val (a, al) = assignIdentity(spark, table, ins, sch)
        (Some(a), al)
      case _ => (inserts, None)
    }
    val result = (rewritten, insertsAssigned) match {
      case (Some(a), Some(b)) => Some(a.unionByName(b))
      case (a, b) => a.orElse(b)
    }
    result match {
      case None => Right(None)
      case Some(resolved) =>
        if (victims.isEmpty && resolved.isEmpty) return Right(None)
        // Fail-fast enforcement and staging reuse the pinned base's
        // replay; the commit loop's by-name re-check below still
        // re-resolves the tip (load-bearing under concurrent evolution).
        enforceSchemaOn(spark, table, baseSchemaC, resolved,
          mergeSchema = evolve, "merge")
        // `resolved` carries LOGICAL names (taggedRead projected them):
        // stage under `baseSchema` so the files land with PHYSICAL names
        // — `mapping = None` would stage logical-named files a mapped
        // reader silently returns as all-null.
        val staged = stage(spark, table, resolved, baseSchema,
          resolvedMeta = Some(baseSchemaC))
        val statCols = inheritedStatsCols(full)
        val stats =
          if (statCols.nonEmpty)
            stagedStats(spark, table, staged, statCols, baseSchema)
          else Map.empty[String, FileStats]
        val committed = commitLoop(spark, table, stats = stats,
          schema = alloc match {
            case Some((_, newNext)) => schemaWithWatermark(spark, table,
              newNext, enforceSchema(spark, table, resolved,
                mergeSchema = evolve, "merge"))
            case None =>
              enforceSchema(spark, table, resolved,
                mergeSchema = evolve, "merge")
          }) { v =>
          if (v != base + 1) None else Some((staged, victims))
        }
        committed match {
          case some @ Some(_) => Right(some)
          case None => dropStaged(spark, table, staged); Left(())
        }
    }
  }

  /** Row-survival flag for one clause side: false iff the row's
    * applicable clause is a DELETE. */
  private def chainKeep(side: Seq[MergeClause], idx: Column): Column = {
    import org.apache.spark.sql.functions.{lit, when}
    side.zipWithIndex.foldRight(lit(true)) { case ((cl, i), acc) =>
      when(idx === i, lit(!cl.isInstanceOf[MergeDelete])).otherwise(acc)
    }
  }

  /** Soft cap on victim paths pulled through the row scan onto the
    * driver: past it, a predicate is touching ~the whole table and the
    * delete degrades to a full-snapshot rewrite (whose path list the
    * driver already holds from log resolution) instead of collecting
    * millions of strings out of a distinct-shuffle. */
  val MaxCollectedVictims = 100000

  /** Row-level DELETE, copy-on-write with FILE PRUNING: one scan finds
    * the files that actually contain matching rows, ONLY those rewrite
    * (minus their matches), and one commit swaps them — a delete that
    * touches 3 files of a million-file table stages 3 files, which is
    * the whole reason COW deletes stay affordable at 100 TB. Rows
    * delete only where the predicate is TRUE (null-predicate rows
    * survive, SQL DELETE semantics). The victim collect is BOUNDED by
    * `maxCollectedVictims` — a predicate touching more files than that
    * rewrites the whole snapshot (correct either way; the wide case is
    * a table rewrite no matter what, and the bound keeps the driver
    * out of the string-collect business). The commit rebases past
    * concurrent APPENDS (victims still live → removes stay valid, new
    * files are untouched by construction) but abandons if any victim
    * was itself replaced — rewriting a superseded file would resurrect
    * its rows. Returns None when no row matched (no commit published). */
  def delete(spark: SparkSession, table: String,
             predicate: Column,
             maxCollectedVictims: Int = MaxCollectedVictims): Option[CommitResult] = {
    import org.apache.spark.sql.functions.col
    // Resolve files AND schema from one replay: the predicate binds to
    // LOGICAL names, so a column-mapped table must read through its
    // recorded schema (physical scan, logical projection) — a schema-
    // less read would present physical names and the predicate on a
    // renamed column would fail to resolve. The full SchemaCommit is
    // kept so stage's constraint lookup reuses THIS replay.
    val (full, meta) = resolve(spark, table, None)
    val snapSchema = meta.map(_.schema)
    val states = full.toMap
    // Victim detection keys on the scan-computed relative path
    // (tagAlways): input_file_name() cannot be added AFTER the
    // logical projection — metadata columns don't survive an
    // intervening select.
    val (keyed, _) = readTagged(spark, table, full, snapSchema,
      tagAlways = true)
    // limit(cap+1) bounds BOTH driver memory and the job: one pass,
    // and the overflow signal is "more rows than the cap came back".
    val collected = keyed.filter(predicate)
      .select(col("_gf_rel")).distinct().limit(maxCollectedVictims + 1)
      .collect().map(_.getString(0)).toSeq
    if (collected.isEmpty) return None
    val victims =
      if (collected.size > maxCollectedVictims) full.map(_._1) else collected
    // Survivors resolve through the victims' DV state too — rewriting
    // a DV-masked file must not resurrect its already-deleted rows.
    val victimRead = readState(spark, table,
      victims.map(p => p -> states(p)), snapSchema)
    val survivors =
      // catalystExpression, not expression: a SQL-text predicate
      // (functions.expr) wraps in a lazy node whose tree `exists`
      // can't see — the wrong branch here would negate a raw subquery.
      if (!Bridge.catalystExpression(predicate).exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.SubqueryExpression]))
        victimRead.filter(!(predicate.cast("boolean") <=> true))
      else {
        // A SUBQUERY predicate (`DELETE … WHERE k IN (SELECT …)` — the
        // decontamination shape) negates into an expression position
        // Spark's subquery rewrite does not support; survivors come
        // from the POSITIVE match set instead, anti-joined out on
        // physical row identity — identical semantics (null/false
        // predicate rows survive both ways).
        val matchedKeys = keyed.filter(predicate)
          .select(col("_gf_rel"), col("_gf_idx"))
        val (vKeyed, _) = readTagged(spark, table,
          victims.map(p => p -> states(p)), snapSchema, tagAlways = true)
        vKeyed.join(matchedKeys, Seq("_gf_rel", "_gf_idx"), "left_anti")
          .drop("_gf_rel", "_gf_idx")
      }
    val staged = stage(spark, table, survivors, snapSchema,
      resolvedMeta = Some(meta))
    // Re-emit stats on every column the victims carried — without
    // this each delete decays the table's skipping coverage (the same
    // inheritance merge and compact already do).
    val statCols = inheritedStatsCols(victims.map(p => p -> states(p)))
    val stats =
      if (statCols.isEmpty) Map.empty[String, FileStats]
      else stagedStats(spark, table, staged, statCols, snapSchema)
    commitLoop(spark, table, stats = stats) { v =>
      val current = snapshotFull(spark, table, Some(v - 1)).toMap
      // Abandon if a victim was replaced OR its DV moved concurrently —
      // either way the staged survivors were computed from stale rows.
      if (victims.forall(p => current.get(p).contains(states(p))))
        Some((staged, victims))
      else None
    } match {
      case some @ Some(_) => some
      case None =>
        dropStaged(spark, table, staged)
        throw new IllegalStateException(
          s"delete on $table abandoned: a victim file was replaced concurrently")
    }
  }

  /** Merge-on-read row-level DELETE via DELETION VECTORS: instead of
    * rewriting victim files (copy-on-write), one commit binds them to
    * a DV — a staged parquet object of (file, row_index) pairs — and
    * every reader filters the marked rows out of its scan. The write
    * cost is ∝ DELETED ROWS, not victim-file bytes: a needle delete on
    * a 100 TB table stages kilobytes where COW would rewrite
    * gigabytes; the read-side tax is one bitmap probe per row until
    * [[compact]] (or any COW op) materializes the mask away. DVs are
    * CUMULATIVE: each deleteMoR folds the previous masks into the new
    * DV object and re-binds every masked file, so the snapshot always
    * carries ONE dv reference per file and old DV objects age out
    * through [[vacuum]]. Returns None when no visible row matched;
    * throws if a concurrent writer replaced a victim or moved the mask
    * (same contract as [[delete]]). SQL `DELETE FROM` runs here too.
    */
  def deleteMoR(spark: SparkSession, table: String,
                predicate: Column): Option[CommitResult] =
    morDml(spark, table, predicate, replacement = None)

  /** Merge-on-read row-level UPDATE: ONE commit masks the matched rows
    * behind a new DV and ADDS their updated copies as staged files —
    * readers see wholly-pre-update or wholly-post-update, never a torn
    * middle, and the write cost is ∝ MATCHED ROWS (mask + copies), not
    * victim-file bytes. `set` maps column name → new-value expression
    * (evaluated on the matched row). Same None/throw contract as
    * [[deleteMoR]]. */
  def updateMoR(spark: SparkSession, table: String,
                predicate: Column,
                set: Map[String, Column]): Option[CommitResult] =
    morDml(spark, table, predicate, replacement = Some(set))

  /** Pinned-base MoR delete for race tests: resolves victims against
    * `base`'s snapshot; a concurrent rewrite of a bound file makes the
    * commit abandon loudly instead of resurrecting/losing rows. */
  private[graft] def deleteMoRAt(spark: SparkSession, table: String,
      predicate: Column, base: Long): Option[CommitResult] =
    morDml(spark, table, predicate, replacement = None, pin = Some(base))

  /** Shared MoR DML body: mask matched rows; for UPDATE, also stage
    * their rewritten copies as data adds in the SAME commit.
    *
    * One masked scan finds the matches, and the driver collects their
    * keys (file, row index) as per-file bitmaps, never the rows. The
    * new DV object folds those keys into the bound files' current
    * masks (already loaded by the scan) and is written from the
    * driver. An UPDATE reads the matched files once more, keeping
    * exactly the collected rows, to stage their copies. So a delete
    * runs one job and an update two, besides what staging itself adds
    * (sidecars, wide-write stats). */
  private def morDml(spark: SparkSession, table: String,
                     predicate: Column,
                     replacement: Option[Map[String, Column]],
                     pin: Option[Long] = None)
      : Option[CommitResult] = {
    import org.apache.spark.sql.functions.col
    // Schema from the same replay as the file set: predicate and SET
    // clauses bind to LOGICAL names, so a column-mapped table reads
    // through its recorded schema and stages back under physical names.
    // The full SchemaCommit threads into enforcement and staging below.
    val (full, meta) = resolve(spark, table, pin)
    val snapSchema = meta.map(_.schema)
    val states = full.toMap
    // Victims among MoR-VISIBLE rows only (the tagged read applies
    // current DVs, so already-deleted rows can't be re-deleted into
    // the new mask twice — the fold below carries them exactly once).
    val (keyed, _) = readTagged(spark, table, full, snapSchema,
      tagAlways = true)
    // Each task folds its matched keys into per-file bitmaps, so the
    // driver receives them compressed.
    val hits = keyed.filter(predicate).select(col("_gf_rel"), col("_gf_idx"))
      .queryExecution.toRdd.mapPartitions { rows =>
        val m = scala.collection.mutable.HashMap.empty[String, Roaring64NavigableMap]
        var file: org.apache.spark.unsafe.types.UTF8String = null
        var bits: Roaring64NavigableMap = null
        rows.foreach { r =>
          if (file == null || file != r.getUTF8String(0)) {
            file = r.getUTF8String(0).clone()
            bits = m.getOrElseUpdate(file.toString, new Roaring64NavigableMap())
          }
          bits.addLong(r.getLong(1))
        }
        Iterator.single(m.toMap)
      }.collect().toSeq.flatten.groupMapReduce(_._1)(_._2) { (a, b) => a.or(b); a }
    if (hits.isEmpty) return None
    val what = if (replacement.isDefined) "updateMoR" else "deleteMoR"
    // A matched key naming a file outside the snapshot means the
    // rel-path derivation broke — failing loudly beats publishing a
    // mask that binds nothing and reporting a successful no-op
    // (round-10 advice).
    hits.keys.find(!states.contains(_)).foreach(p =>
      throw new IllegalStateException(
        s"$what on $table matched rows in $p, which is not a live file — " +
          "relative-path derivation is inconsistent with the snapshot"))
    val adds = replacement.fold(Seq.empty[String]) { set =>
      // The matched files only, unmasked: the collected keys select
      // exactly the matched rows (none of them is in an old mask).
      val hitFiles = full.collect {
        case (p, st) if hits.contains(p) => p -> st.copy(dv = None) }
      val (src, _) = readTagged(spark, table, hitFiles, snapSchema,
        tagAlways = true)
      val matched = src.filter(RowMaskExpr.column(col("_gf_rel"), col("_gf_idx"),
        new RowMasks(spark.sparkContext.broadcast(hits)), selectMarked = true))
        .drop("_gf_rel", "_gf_idx")
      val updated = set.foldLeft(matched) {
        case (df, (c, e)) => df.withColumn(c, e)
      }
      // A SET expression can silently retype a column — the staged
      // copies must still satisfy the table schema (same enforcement
      // contract as append: fail the commit, not the read).
      enforceSchemaOn(spark, table, meta, updated, mergeSchema = false, what)
      stage(spark, table, updated, snapSchema, resolvedMeta = Some(meta))
    }
    // The updated copies inherit stats coverage like every rewrite —
    // an UPDATE stream must not erode the table's skipping columns.
    val addStats =
      if (adds.isEmpty) Map.empty[String, FileStats]
      else {
        val statCols = inheritedStatsCols(full)
        if (statCols.isEmpty) Map.empty[String, FileStats]
        else stagedStats(spark, table, adds, statCols, snapSchema)
      }
    // Bind every LIVE file the new mask touches: the matched files and
    // the previously masked ones, each with its old mask folded in.
    val old = fileMasks(spark, table, full)
    val folded = (old.keySet ++ hits.keySet).toSeq.map { p =>
      p -> hits.get(p).fold(old(p)) { h =>
        val b = new Roaring64NavigableMap()
        b.or(h)
        old.get(p).foreach(b.or)
        b.runOptimize()
        b
      }
    }.toMap
    val sub = s"stage-${java.util.UUID.randomUUID().toString.take(12)}"
    writeDv(spark, table, sub, folded)
    val boundFiles = folded.keys.toSeq
    val binding = boundFiles.map(_ -> sub).toMap
    commitLoop(spark, table, dvs = binding, stats = addStats) { v =>
      val current = snapshotFull(spark, table, Some(v - 1)).toMap
      if (boundFiles.forall(p => current.get(p).contains(states(p))))
        Some((adds, Nil))
      else None
    } match {
      case some @ Some(_) => some
      case None =>
        dropStaged(spark, table, adds :+ s"$sub/")
        throw new IllegalStateException(
          s"$what on $table abandoned: a masked file was replaced " +
            "or re-masked concurrently")
    }
  }

  /** Net row-level CHANGES between two versions (CDC): `insert` rows
    * appear in `toVersion` but not `fromVersion`, `delete` rows the
    * reverse, tagged in a `_change` column. Computed on the CHURNED
    * FILES ONLY — files live in both snapshots cancel by identity, so
    * the diff reads the file-set symmetric difference, never the
    * table; EXCEPT ALL over that churn then nets out rows a compaction
    * merely moved between files. Bag semantics throughout: k extra
    * copies of a row diff as k inserts. */
  /** The newest commit version committed at-or-before `cutoffMicros`
    * (epoch micros), by the commit time [[history]] reports (the
    * entry's `ts`, else the version file's mtime) — the shared
    * resolver behind the catalog's `TIMESTAMP AS OF`,
    * `RESTORE … TIMESTAMP AS OF`, and the timestamp-addressed
    * `table_changes` TVF, so every timestamp-addressed verb answers
    * with the same snapshot. */
  def versionAtTimestamp(spark: SparkSession, table: String,
                         cutoffMicros: Long): Long = {
    val cutoffMs = cutoffMicros / 1000L
    val versions = versionRows(spark, table)
      .filter(_._2 <= cutoffMs).map(_._1)
    // A too-early timestamp is NOT "table not found" — the table
    // exists; the request predates its first commit. Say so.
    if (versions.isEmpty) throw new IllegalArgumentException(
      s"TIMESTAMP AS OF on $table: the timestamp is before the table's " +
        "earliest available commit — nothing to travel to")
    versions.max
  }

  /** Smallest version committed at-or-after `cutoffMs` (epoch millis),
    * by the same commit time as [[versionAtTimestamp]], or latest+1
    * when every commit predates it (tail only new commits — the
    * natural reading of "start from a future-ish timestamp"): the
    * `graft-txn` stream source's `startingTimestamp`. */
  private[sources] def firstVersionAtOrAfter(spark: SparkSession, table: String,
                                             cutoffMs: Long): Long =
    versionRows(spark, table).filter(_._2 >= cutoffMs).map(_._1).minOption
      .getOrElse(latestVersion(spark, table) + 1)

  /** Parse a SQL timestamp string (`yyyy-MM-dd[ HH:mm:ss[.f…]]`) to
    * epoch micros under the engine's UTC session convention. */
  private[graft] def parseTsMicros(s: String): Long = {
    val t = s.trim
    val ldt =
      try java.time.LocalDateTime.parse(t.replace(' ', 'T'))
      catch {
        case _: java.time.format.DateTimeParseException =>
          try java.time.LocalDate.parse(t).atStartOfDay()
          catch {
            case _: java.time.format.DateTimeParseException =>
              throw new IllegalArgumentException(
                s"cannot parse timestamp '$s' (expected " +
                  "yyyy-MM-dd[ HH:mm:ss[.ffffff]], UTC)")
          }
      }
    val i = ldt.toInstant(java.time.ZoneOffset.UTC)
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }

  def changes(spark: SparkSession, table: String,
              fromVersion: Long, toVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val from = snapshotFull(spark, table, Some(fromVersion))
    val to = snapshotFull(spark, table, Some(toVersion))
    val toStates = to.toMap
    // A file cancels by identity only if BOTH its presence and its DV
    // binding are unchanged — a re-masked file's row population moved
    // without the file set moving, so it must enter the diff.
    val unchanged = from.collect {
      case (p, st) if toStates.get(p).contains(st) => p
    }.toSet
    // The LOG-RECORDED schema at toVersion, not the read's output
    // schema: the diff reads raw churned files, and on a column-mapped
    // table only the recorded schema knows the physical slot each
    // logical column binds to (both sides read under to's schema, so
    // a column added in between diffs as insert-with-value vs
    // delete-with-null, same as before).
    val schema = tableSchema(spark, table, Some(toVersion))
      .map(nullableSchema)
      .getOrElse(read(spark, table, Some(toVersion)).schema)
    def readSide(side: Seq[(String, FileState)]): DataFrame = {
      val churn = side.filterNot { case (p, _) => unchanged(p) }
      if (churn.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else readState(spark, table, churn.sortBy(_._1), Some(schema))
    }
    val added = readSide(to)
    val removed = readSide(from)
    added.exceptAll(removed).withColumn("_change", lit("insert"))
      .unionByName(removed.exceptAll(added).withColumn("_change", lit("delete")))
  }

  /** The stat columns a rewrite can inherit: the columns present in
    * EVERY stats-carrying input (an intersection — a column only some
    * inputs tracked has no one honest coverage story for the rewrite).
    * Empty when no input carries stats. */
  private def inheritedStatsCols(files: Seq[(String, FileState)]): Seq[String] = {
    val sets = files.flatMap(_._2.stats).map(_.cols.keySet)
    if (sets.isEmpty) Nil else sets.reduce(_ intersect _).toSeq.sorted
  }

  /** Canonical signature of a cluster-key set for the per-file
    * clustered-at marker: the key expressions' text, order-sensitive
    * (range-clustering on (a,b) and (b,a) lay out differently). */
  private def clusterSig(cols: Seq[Column]): String =
    cols.map(_.toString.toLowerCase).mkString(",")

  /** INCREMENTAL clustering — what a bare `OPTIMIZE` runs on a
    * `CLUSTER BY` table (the liquid-clustering discipline): rewrite
    * ONLY the live files NOT yet marked clustered-at the current keys
    * (new appends, DML rewrites, files clustered under different
    * keys), range-clustered among themselves; already-clustered files
    * never move. Cost ∝ un-clustered data — on a 100 TB table the
    * daily maintenance pass clusters the day's ingest, not the
    * petabytes a full rewrite would churn (round-15 verdict; the full
    * rewrite remains available via explicit TARGET). A no-op (current
    * version, nothing staged) when every file is already marked.
    * Victim-identity checked like [[compactSmall]]: abandons if an
    * un-clustered victim was replaced concurrently. */
  def clusterIncremental(spark: SparkSession, table: String,
                         keys: Seq[Column]): CommitResult = {
    require(keys.nonEmpty, "clusterIncremental needs cluster keys")
    val sig = clusterSig(keys)
    val base = latestVersion(spark, table)
    val (full, snapSchema) = resolveSnapshot(spark, table, Some(base))
    val victims = full.filterNot(_._2.cl.contains(sig))
    if (victims.isEmpty) return CommitResult(base, 0, 0)
    val bytes = probeLens(spark, table, victims.map(_._1))
      .map { case (_, l) => math.max(0L, l) }.sum
    val target = math.max(1L, (bytes + (128L << 20) - 1) / (128L << 20)).toInt
    val shaped = readState(spark, table, victims, snapSchema)
      .repartitionByRange(target, keys: _*)
      .sortWithinPartitions(keys: _*)
    val staged = stage(spark, table, shaped, snapSchema, preserveShape = true)
    val statCols = inheritedStatsCols(victims)
    val stats =
      if (statCols.isEmpty) Map.empty[String, FileStats]
      else stagedStats(spark, table, staged, statCols, snapSchema)
    commitLoop(spark, table, stats = stats,
      cls = staged.map(_ -> sig).toMap) { v =>
      val current = snapshotFull(spark, table, Some(v - 1)).toMap
      if (victims.forall { case (p, st) => current.get(p).contains(st) })
        Some((staged, victims.map(_._1)))
      else None
    } match {
      case Some(r) => r
      case None =>
        dropStaged(spark, table, staged)
        throw new IllegalStateException(
          s"incremental clustering on $table abandoned: a victim file " +
            "was replaced concurrently")
    }
  }

  /** Logical full compaction into `targetFiles` files. `clusterBy`
    * turns it into OPTIMIZE…ZORDER/ORDER on the ACID table: range
    * partition + local sort on the cluster keys, so every output
    * file's [min,max] span on those keys is narrow — which is exactly
    * what makes the stats-in-log pruning (and parquet row-group stats)
    * bite on later range scans. Must RANGE-partition, not rebalance:
    * a rebalance splits by mapper ranges, so a local sort could never
    * bound a file's cluster span (same finding as
    * [[graft.operators.LakeMaintenance.compact]]).
    *
    * A commit that loses its race ABANDONS — compacting a superseded
    * file set would resurrect replaced data — and this wrapper throws;
    * [[compactAttempt]] is the pinned-base body (race tests drive it
    * directly). Old versions still resolve the fragments until
    * [[vacuum]]. */
  def compact(spark: SparkSession, table: String, targetFiles: Int,
              clusterBy: Seq[Column] = Nil): CommitResult =
    compactAttempt(spark, table, latestVersion(spark, table),
      targetFiles, clusterBy)
      .getOrElse(throw new IllegalStateException(
        s"compact $table abandoned after conflict"))

  /** One pinned-base compaction attempt; None = another commit landed
    * after `base` (nothing published, staged files dropped) — the
    * OPTIMIZE-vs-DML race resolves with the compactor as the loser,
    * never with resurrected rows. */
  private[graft] def compactAttempt(spark: SparkSession, table: String,
      base: Long, targetFiles: Int,
      clusterBy: Seq[Column] = Nil): Option[CommitResult] = {
    // Schema from the same replay: clusterBy keys bind to LOGICAL
    // names, and the rewrite must stage back under PHYSICAL names on
    // a column-mapped table.
    val (full, snapSchema) = resolveSnapshot(spark, table, Some(base))
    val victims = full.map(_._1)
    // Rewriting resolves through the DVs and so MATERIALIZES them: the
    // compacted files carry no masks, deleted rows are physically gone,
    // and the old DV objects age out with the fragments via vacuum.
    val resolved = readState(spark, table, full, snapSchema)
    val shaped =
      if (clusterBy.isEmpty) resolved.repartition(targetFiles)
      else resolved.repartitionByRange(targetFiles, clusterBy: _*)
        .sortWithinPartitions(clusterBy: _*)
    val staged = stage(spark, table, shaped, snapSchema, preserveShape = true)
    val statCols = inheritedStatsCols(full)
    val stats =
      if (statCols.isEmpty) Map.empty[String, FileStats]
      else stagedStats(spark, table, staged, statCols, snapSchema)
    val result = commitLoop(spark, table, stats = stats,
      cls =
        if (clusterBy.isEmpty) Map.empty[String, String]
        else staged.map(_ -> clusterSig(clusterBy)).toMap) { v =>
      if (v != base + 1) None else Some((staged, victims))
    }
    if (result.isEmpty) dropStaged(spark, table, staged)
    result
  }

  /** PARTIAL compaction: rewrite only the live files under
    * `maxFileBytes` into `targetFiles` files, one commit — at 100 TB a
    * maintenance pass compacts the streaming-ingest FRAGMENT TAIL, not
    * the petabytes of already-right-sized files a full rewrite would
    * churn (and whose old copies vacuum would then have to carry until
    * retention expiry). Large files keep their paths — and, unlike the
    * full [[compact]], their DV bindings; victims' masks materialize
    * into the rewrite. Rebases past concurrent appends (they can't
    * touch the victims); abandons if a victim was replaced or
    * re-masked. Returns None when fewer than two files qualify. */
  def compactSmall(spark: SparkSession, table: String, maxFileBytes: Long,
                   targetFiles: Int): Option[CommitResult] = {
    val base = latestVersion(spark, table)
    val (full, snapSchema) = resolveSnapshot(spark, table, Some(base))
    // A file a concurrent DML replaced (and vacuum already swept) in
    // the window since the snapshot resolved is not a candidate — the
    // commit loop's victim-identity check re-verifies anyway; probing
    // it must not crash the maintenance pass (round-13 advice, low;
    // probeLens reports such files as −1).
    val lens = probeLens(spark, table, full.map(_._1)).toMap
    val victims = full.filter { case (p, _) =>
      val l = lens.getOrElse(p, -1L); l >= 0 && l < maxFileBytes
    }
    if (victims.size < 2) return None
    val staged = stage(spark, table,
      readState(spark, table, victims, snapSchema).repartition(targetFiles),
      snapSchema, preserveShape = true)
    val statCols = inheritedStatsCols(victims)
    val stats =
      if (statCols.isEmpty) Map.empty[String, FileStats]
      else stagedStats(spark, table, staged, statCols, snapSchema)
    commitLoop(spark, table, stats = stats) { v =>
      val current = snapshotFull(spark, table, Some(v - 1)).toMap
      if (victims.forall { case (p, st) => current.get(p).contains(st) })
        Some((staged, victims.map(_._1)))
      else None
    } match {
      case some @ Some(_) => some
      case None =>
        dropStaged(spark, table, staged)
        throw new IllegalStateException(
          s"compactSmall on $table abandoned: a victim file was replaced " +
            "or re-masked concurrently")
    }
  }

  /** PARTITION-SCOPED compaction: rewrite only ONE partition's live
    * files into `targetFiles` files — at 100 TB the maintenance pass
    * compacts the hot ingest partition (today's date, the active
    * tenant) without touching the petabytes of cold partitions a
    * full OPTIMIZE would churn. Victims' DV masks materialize into
    * the rewrite (readState applies them); the staged output lands
    * hive-laid under the same partition value by construction.
    * Rebases past concurrent appends; abandons if a victim was
    * replaced or re-masked. None when fewer than two files qualify. */
  def compactPartition(spark: SparkSession, table: String, column: String,
      value: Any, targetFiles: Int = 1,
      clusterBy: Seq[Column] = Nil): Option[CommitResult] =
    compactPartition(spark, table, Map(column -> value), targetFiles,
      clusterBy)

  /** Multi-column form: compact the files matching ALL of `spec`'s
    * (column → value) entries — a partial spec compacts the whole
    * matching slice. */
  def compactPartition(spark: SparkSession, table: String,
      spec: Map[String, Any], targetFiles: Int,
      clusterBy: Seq[Column]): Option[CommitResult] = {
    require(spec.nonEmpty, "compactPartition needs a partition spec")
    val schema = tableSchema(spark, table).getOrElse(
      throw new IllegalArgumentException(s"$table records no schema"))
    val want: Seq[(String, String)] = spec.toSeq.map { case (c, v) =>
      partPhys(table, schema, c) -> Option(v).map(_.toString).orNull
    }
    val base = latestVersion(spark, table)
    val (full, snapSchema) = resolveSnapshot(spark, table, Some(base))
    val victims = full.filter { case (rel, _) =>
      want.forall { case (phys, value) =>
        partValueOf(rel, phys).contains(value)
      }
    }
    if (victims.size < 2) return None
    val resolved = readState(spark, table, victims, snapSchema)
    // Optional Z-ORDER of the hot partition: range partition + local
    // sort on the cluster keys WITHIN the rewrite, so stats-in-log
    // pruning bites on later range scans of exactly this partition.
    val shaped =
      if (clusterBy.isEmpty) resolved.repartition(targetFiles)
      else resolved.repartitionByRange(targetFiles, clusterBy: _*)
        .sortWithinPartitions(clusterBy: _*)
    val staged = stage(spark, table, shaped, snapSchema, preserveShape = true)
    val statCols = inheritedStatsCols(victims)
    val stats =
      if (statCols.isEmpty) Map.empty[String, FileStats]
      else stagedStats(spark, table, staged, statCols, snapSchema)
    commitLoop(spark, table, stats = stats) { v =>
      val current = snapshotFull(spark, table, Some(v - 1)).toMap
      if (victims.forall { case (p, st) => current.get(p).contains(st) })
        Some((staged, victims.map(_._1)))
      else None
    } match {
      case some @ Some(_) => some
      case None =>
        dropStaged(spark, table, staged)
        throw new IllegalStateException(
          s"compactPartition on $table abandoned: a victim file was " +
            "replaced or re-masked concurrently")
    }
  }

  /** DESCRIBE HISTORY: one row per commit — version, commit time
    * (version-file mtime), adds/removes/DV-binding counts, the derived
    * operation kind, and the streaming txn marker if any. Driver-side
    * log metadata only (the log is file-count-sized, never row-sized);
    * ordered newest first, the operational audit surface every
    * lakehouse exposes. */
  /** Live-file inventory of a snapshot — the DESCRIBE DETAIL shape:
    * one row per live file with its size, log-carried (physical) row
    * count and stat coverage, DV binding, the number of rows its
    * deletion vector masks (`row_count - masked_rows` is the file's
    * live count), and bloom sidecar coverage. Pure driver metadata (log
    * replay + one file status per row + the cached masks); the SQL
    * face is the `table_files('<path>' [, version])` TVF. */
  def files(spark: SparkSession, table: String,
            version: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val bloomCols = TxnBloom.configuredCols(spark, table)
    val full = snapshotFull(spark, table, version)
    // -1 = physically missing (vacuumed under a time-travel version,
    // or swept in the listing window) — inventory rows must report,
    // not crash (round-13 advice, low). probeLens distributes the
    // size probe past the crossover instead of one driver
    // getFileStatus per live file.
    val lens = probeLens(spark, table, full.map(_._1)).toMap
    // None = a bound DV object is gone (vacuumed under a time-travel
    // version): its files report -1 masked rows, as a missing file
    // reports -1 bytes.
    val masks =
      try Some(fileMasks(spark, table, full))
      catch { case scala.util.control.NonFatal(_) => None }
    val rows = full.map { case (rel, st) =>
      (rel,
        lens.getOrElse(rel, -1L),
        st.stats.map(_.count).getOrElse(-1L),
        st.stats.map(_.cols.size.toLong).getOrElse(0L),
        st.dv.orNull,
        if (st.dv.isEmpty) 0L
        else masks.fold(-1L)(_.get(rel).fold(0L)(_.getLongCardinality)),
        bloomCols.mkString(","))
    }
    rows.toDF("path", "size_bytes", "row_count", "n_stat_cols",
      "dv_binding", "masked_rows", "bloom_cols")
  }

  /** FSCK REPAIR: drop log references to data files that are
    * PHYSICALLY missing (deleted or lost outside the engine — the
    * one failure vacuum's referenced-file discipline can't prevent),
    * so the table reads again instead of failing every scan on the
    * first dead path. One metadata commit removing the dead entries
    * (their DV bindings ride out with them); the rows those files
    * held are gone — repair makes the LOSS consistent, it cannot
    * undo it, which is why the returned path list is the audit
    * record. `dryRun` reports without committing. The commit attempt
    * re-resolves at the tip: entries a concurrent commit already
    * removed (or whose files reappeared) drop out of the repair.
    * O(live files) existence probes, zero data I/O — and the probes
    * go through [[MetaFanout.adaptiveMap]] (sample-then-decide, the
    * shared crossover), so at object-store latency × many
    * files they run as ONE short Spark job instead of a serial
    * driver loop (at 100k files × 50 ms/probe the serial form is
    * ~85 minutes; the distributed form is one wide metadata job). */
  def fsck(spark: SparkSession, table: String,
           dryRun: Boolean = false): Seq[String] = {
    def missingNow(): Seq[String] = {
      val live = snapshot(spark, table)
      val dead = MetaFanout.adaptiveMap(spark, live) { (conf, rel) =>
        val p = dataPathObj(table, rel)
        if (p.getFileSystem(conf).exists(p)) Nil else Seq(rel)
      }.toSet
      // Report in snapshot order regardless of which leg probed.
      live.filter(dead)
    }
    val missing = missingNow()
    if (dryRun || missing.isEmpty) return missing
    commitLoop(spark, table) { _ =>
      val still = missingNow().toSet
      val dead = missing.filter(still)
      if (dead.isEmpty) None else Some((Nil, dead))
    }
    missing
  }

  /** COPY INTO's ingest ledger as a relation: one row per loaded
    * source-file URI with the commit version that recorded it
    * (entries folded into a checkpoint report the CHECKPOINT's
    * version — "loaded at or before"; tail entries report exactly).
    * The audit face of exactly-once ingestion — the SQL TVF
    * `table_ingests('<path>')` serves it. */
  def ingests(spark: SparkSession, table: String,
              version: Option[Long] = None): DataFrame = {
    import spark.implicits._
    replay(spark, table, version).copied.toDF("source_file", "loaded_at_version")
  }

  /** Parsed history rows keyed by each version file's EXACT identity
    * (name + mtime + length) — version files are create-exclusive
    * (immutable), so a hit can never be stale and a recreated table
    * misses on fresh identities. Repeated [[history]] calls (the
    * table_history TVF, audit loops) then read only NEW commit bodies:
    * O(new commits) instead of O(log) per call. Rows are seven small
    * scalars, so a plain entry cap bounds memory. */
  private object HistoryCache {
    private val maxEntries = 8192
    private val map = new java.util.LinkedHashMap[String,
      (Long, Long, String, Long, Long, Long, String)](16, 0.75f, true)
    def get(k: String): Option[(Long, Long, String, Long, Long, Long, String)] =
      synchronized(Option(map.get(k)))
    def put(k: String, v: (Long, Long, String, Long, Long, Long, String)): Unit =
      synchronized {
        map.put(k, v)
        val it = map.entrySet().iterator()
        while (map.size > maxEntries && it.hasNext) { it.next(); it.remove() }
      }
    def clear(): Unit = synchronized(map.clear())
  }

  private[graft] def clearHistoryCache(): Unit = HistoryCache.clear()

  /** One row per surviving version file: (version, commit millis,
    * operation, adds, removes, DV bindings, stream txn). The commit
    * time is the entry's recorded `ts`; entries written before `ts`
    * existed fall back to the file's mtime, which a copied, restored
    * or moved log resets to the copy time. */
  private def versionRows(spark: SparkSession, table: String)
      : Seq[(Long, Long, String, Long, Long, Long, String)] = {
    val f = fs(spark, logDir(table))
    val dir = logDir(table)
    // ONE listing serves version discovery AND the mtime fallback.
    val statuses =
      if (!f.exists(dir)) Seq.empty[org.apache.hadoop.fs.FileStatus]
      else f.listStatus(dir).toSeq.filterNot(_.isDirectory)
    statuses
      .filter(st => st.getPath.getName.startsWith("v") &&
        st.getPath.getName.endsWith(".json"))
      .map { st =>
        val name = st.getPath.getName
        val v = name.stripPrefix("v").stripSuffix(".json").toLong
        val key = s"$table|$name@${st.getModificationTime}:${st.getLen}"
        HistoryCache.get(key).getOrElse {
          val e = readEntry(f, st.getPath)
          val op =
            if (v == 0) "CREATE"
            else if (e.txn.isDefined) "STREAMING APPEND"
            else if (e.dvs.nonEmpty && e.adds.nonEmpty) "UPDATE (merge-on-read)"
            else if (e.dvs.nonEmpty) "DELETE (merge-on-read)"
            else if (e.adds.nonEmpty && e.removes.nonEmpty) "REWRITE (merge/compact/delete)"
            else if (e.removes.nonEmpty) "REMOVE"
            else if (e.adds.isEmpty && e.schema.isDefined) "EVOLVE SCHEMA"
            else "APPEND"
          val row = (v, e.ts.getOrElse(st.getModificationTime), op,
            e.adds.size.toLong, e.removes.size.toLong, e.dvs.size.toLong,
            e.txn.orNull)
          HistoryCache.put(key, row)
          row
        }
      }
  }

  def history(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val rows = versionRows(spark, table)
      .sortBy(-_._1)
      .map { case (v, ms, op, a, r, d, txn) =>
        (v, new java.sql.Timestamp(ms), op, a, r, d, txn) }
    rows.toDF("version", "commit_ts", "operation",
      "n_added", "n_removed", "n_dv_bindings", "stream_txn")
  }

  /** Default vacuum retention age: files younger than this are NEVER
    * physically deleted, referenced or not. The guard exists for one
    * reason — every DML path stages its data files under the table
    * root BEFORE publishing the commit that references them, so "not
    * referenced by any retained version" is true of a concurrent
    * writer's in-flight files during its staging window (seconds at
    * test scale, MINUTES at 100 TB for a large MERGE rewrite). A
    * vacuum racing that window would delete the files, the writer's
    * commit would still succeed, and the table would be broken at
    * read time — silent data loss. An age floor closes the race for
    * any writer that stages-and-commits within the retention window
    * (the Delta tombstone-retention design, default 7 days);
    * abandoned attempts older than it still get collected. */
  val DefaultVacuumRetainMillis: Long = 7L * 24 * 60 * 60 * 1000

  /** Physically delete files no snapshot within the retention window
    * references: a file is deletable iff it is absent from EVERY
    * retained version's file set AND older than `retainMillis`
    * (mtime-based — see [[DefaultVacuumRetainMillis]] for why the age
    * floor is load-bearing, not cosmetic). Returns the deleted paths.
    * `retainMillis = 0` disables the age guard (tests, or a table the
    * caller KNOWS has no in-flight writers). */
  def vacuum(spark: SparkSession, table: String, retainVersions: Int,
             retainMillis: Long = DefaultVacuumRetainMillis,
             dryRun: Boolean = false): Seq[String] = {
    val f = fs(spark, new Path(table))
    val versions = listVersions(f, table, "v")
    val retained = versions.takeRight(math.max(1, retainVersions))
    val full = retained.flatMap(v => snapshotFull(spark, table, Some(v)))
    val live = full.map(_._1).toSet
    // DV objects referenced by any retained version are live too —
    // bindings name the DV's staged DIRECTORY, so spare its contents.
    val liveDvDirs = full.flatMap(_._2.dv).toSet
    val cutoff = System.currentTimeMillis() - retainMillis
    val onDisk = LakeMaintenanceFiles.list(spark, table)
    val candidates = onDisk.filterNot(p =>
      live.contains(p) || liveDvDirs.exists(d => p.startsWith(d + "/")))
    // The age guard: an in-flight writer's staged-but-uncommitted
    // file is younger than the window by construction. A candidate
    // that vanished between listing and probe (a racing vacuum, or
    // dropStaged on an abandoned commit) is not ours to delete —
    // treat it as retained rather than aborting the whole pass.
    // One mtime probe per candidate — adaptively distributed, like
    // every other per-file metadata loop in the log.
    val dead =
      if (retainMillis <= 0 || candidates.isEmpty) candidates
      else {
        val retained = MetaFanout.adaptiveMap(spark, candidates) { (conf, p) =>
          val fp = new Path(table, p)
          Seq(p -> scala.util.Try(fp.getFileSystem(conf)
            .getFileStatus(fp).getModificationTime).toOption
            .forall(_ > cutoff))
        }.toMap
        candidates.filterNot(retained)
      }
    if (dryRun) return dead // report the candidates, touch nothing
    // A mask no retained version binds must not outlive its object: a
    // time-travel read past retention has to fail on the missing DV,
    // not be answered from the cache.
    ResolveCache.evictMasks(table, liveDvDirs)
    // Deletes fan out too (one RPC per dead file; idempotent — a
    // retried task's second delete of the same path is a no-op).
    MetaFanout.adaptiveMap(spark, dead) { (conf, p) =>
      val fp = new Path(table, p)
      scala.util.Try(fp.getFileSystem(conf).delete(fp, false))
      Nil: Seq[Int]
    }
    // Emptied staging/partition directories go with their files — a
    // partitioned table's vacuum otherwise litters one empty
    // `stage-x/col=value/` chain per reclaimed partition. Non-recursive
    // deletes bottom-up: a dir that still holds anything (a racing
    // writer's fresh file) just fails the delete and stays — no
    // force, no recursion, nothing but empty shells can go.
    dead.map(p => p.substring(0, p.lastIndexOf('/').max(0)))
      .filter(_.nonEmpty).distinct
      .flatMap(d => d.split('/').inits.toSeq.init.map(_.mkString("/")))
      .distinct.sortBy(-_.length)
      // Only dirs the ENGINE laid out are candidates: staging dirs and
      // hive `k=v` partition dirs (adopted tables keep theirs at the
      // table root) — every segment must be one of the two, so `_log`,
      // `_bloom`, and user-placed directories can never be touched.
      .filter(_.split('/').forall(seg =>
        seg.startsWith("stage-") || seg.contains('=')))
      .foreach(d => scala.util.Try(f.delete(new Path(table, d), false)))
    // Bloom sidecars ride their data file's lifetime: once the data
    // file is physically gone (this pass or an earlier one), its
    // sidecars are unreachable metadata — sweep them in the same pass.
    dead ++ TxnBloom.vacuumSidecars(spark, table)
  }

  /** Data files physically present under the table root (staged or
    * live), as table-relative paths; `_log` excluded. */
  private object LakeMaintenanceFiles {
    def list(spark: SparkSession, table: String): Seq[String] =
      graft.operators.LakeMaintenance.dataFiles(spark, table).map { case (p, _) =>
        p.substring(p.indexOf(table) + table.length + 1)
      }.filter(_.endsWith(".parquet"))
  }
}
