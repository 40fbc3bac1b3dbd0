package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.PerFileExpr

/** Per-FILE Bloom filters for the transaction log — the point-lookup
  * data-skipping index min/max stats cannot provide.
  *
  * Why this exists at 100 TB: the log's [min,max] stats prune RANGE
  * predicates on columns correlated with ingest order, but an equality
  * or IN-list probe on a high-cardinality UNSORTED column (a document
  * id, a content hash, a user key) intersects every file's full-range
  * bounds — stats keep everything and the query scans the table. A
  * per-file Bloom filter answers "might this file contain value v?"
  * from O(bits) metadata, so a key lookup over a million-file table
  * opens only the files whose filter fires — the Databricks/Iceberg
  * bloom-index design (per-data-file filter, consulted at planning
  * time, false-positive-only so pruning can never change an answer).
  *
  * Mechanics:
  *  - **Segment layout.** One SEGMENT file per (staging batch, column)
  *    at `table/_bloom/<column>/seg-<uuid>.gbs`, carrying every staged
  *    file's bitset plus a rel-path→offset index in a footer — so
  *    metadata opens scale with COMMITS, not files (a 10⁶-file table
  *    written in 10³ commits answers a point lookup from 10³ segment
  *    opens, amortized to ~0 by the driver cache below), and the
  *    index adds ONE file per commit per column instead of doubling
  *    the table's file population. Keyed by the LOGICAL column name
  *    (lowercased) and the data file's table-relative path. Data
  *    files are immutable, so an entry stays valid for every log
  *    version that references its file; a file with no entry simply
  *    never prunes (mixed coverage stays sound — rewrites/compactions
  *    drop coverage, they never corrupt it). Pre-segment per-file
  *    `<rel %2F-encoded>.bloom` sidecars from older writers read
  *    identically (upgrade needs no rewrite).
  *  - **Probe execution.** The probe screens only stats-surviving
  *    files. Cold segments beyond a small budget are probed by a
  *    DISTRIBUTED metadata job (executors open segments in parallel
  *    and return per-file verdicts) — a driver-serial sidecar loop at
  *    realistic 100 TB file counts would stall the driver for minutes
  *    on exactly the high-cardinality workload the index exists for.
  *    Warm probes stay driver-local through a bounded (segment-index,
  *    bitset) cache keyed by (path, mtime, length), so an interactive
  *    lookup session pays the listing round-trip and nothing else.
  *  - **Hashing.** k=7 probes by double hashing
  *    `pos_i = xxhash64(v, SALT+i) mod m` — k independent salted
  *    chains; the write side evaluates the codegen'd
  *    [[org.apache.spark.sql.functions.xxhash64]] inside the staging
  *    pass, and the read side evaluates the SAME Catalyst
  *    [[XxHash64]] expression on literals, so writer and prober agree
  *    bit-for-bit by construction (no re-implemented hash to drift).
  *    Integral columns hash through a cast to LONG so an INT writer
  *    and a Long probe value land identically; strings hash their
  *    UTF-8 bytes.
  *  - **Sizing.** m = nextPow2(rows × 10 bits) clamped to [2^10, 2^23]
  *    bits (≤ 1 MiB per file per column, ~0.8% fpp at 10 bits/key) —
  *    row counts come from the parquet footers the write already
  *    produced, so sizing costs no extra scan.
  *  - **Build cost.** ONE aggregation pass over just-staged files
  *    (group by file, OR the bitsets map-side) — the explicit opt-in
  *    price of a point-lookup index, exactly the write-time pass the
  *    Databricks bloom index charges. Stats stay footer-sourced and
  *    free; blooms are the one index that genuinely needs the values.
  *
  * Reference behavior anchor: the reference engine has no skipping
  * index of any kind (full-scan MapReduce); this is part of the
  * beyond-reference lakehouse surface (SURVEY §2 extension).
  */
object TxnBloom {

  private val Magic = 0x47424C46 // "GBLF" (legacy per-file sidecar)
  private val SegMagic = 0x47425347 // "GBSG" (per-commit segment)
  private val FormatVersion = 1
  private val K = 7
  private val BitsPerKey = 10L
  private val MinBits = 1L << 10
  private val MaxBits = 1L << 23
  /** Second-hash salt (the public golden-ratio mixing constant). */
  private val Salt = 0x9E3779B97F4A7C15L

  /** Column types the index supports: exact long canonicalization for
    * integral types, raw UTF-8 for strings. Floats (NaN), nested and
    * binary types are out — same soundness boundary as stats. */
  private def canon(c: Column, dt: DataType): Option[Column] = dt match {
    case StringType => Some(c)
    case ByteType | ShortType | IntegerType | LongType => Some(c.cast(LongType))
    case _ => None
  }

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def bloomDir(table: String, column: String): Path =
    new Path(table, s"_bloom/${column.toLowerCase}")

  /** Table-relative data path <-> sidecar file name. Staged paths are
    * `stage-<uuid>/part-*.parquet`; the encoding keeps the sidecar a
    * single flat name under the column directory. */
  private def enc(rel: String): String =
    rel.replace("%", "%25").replace("/", "%2F")
  private def dec(name: String): String =
    name.stripSuffix(".bloom").replace("%2F", "/").replace("%25", "%")

  /** The bloom aggregate's input row. Not `private`: the encoder's
    * generated projection names the class, and Janino refuses a
    * private one (the build then falls back to an interpreted
    * projection after a failed compile). */
  private[sources] final case class BloomIn(m: Long, pos: Seq[Long])

  /** OR-merge bitset aggregator: each input row carries its file's bit
    * width (constant within a group) and its k probe positions; the
    * buffer allocates on first reduce and ORs map-side, so the shuffle
    * moves one bitset per file per map partition, never row hashes. */
  private object BloomOrAgg
      extends Aggregator[BloomIn, Array[Byte], Array[Byte]] {
    def zero: Array[Byte] = Array.emptyByteArray
    def reduce(b: Array[Byte], in: BloomIn): Array[Byte] = {
      val buf = if (b.nonEmpty) b else new Array[Byte](((in.m + 7) / 8).toInt)
      in.pos.foreach { p =>
        val i = (p >> 3).toInt
        buf(i) = (buf(i) | (1 << (p & 7).toInt)).toByte
      }
      buf
    }
    def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] =
      if (a.isEmpty) b
      else if (b.isEmpty) a
      else {
        var i = 0
        while (i < a.length) { a(i) = (a(i) | b(i)).toByte; i += 1 }
        a
      }
    def finish(r: Array[Byte]): Array[Byte] = r
    def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  private def nextPow2(n: Long): Long = {
    var m = 1L
    while (m < n) m <<= 1
    m
  }

  private def mBitsFor(rows: Long): Long =
    math.min(MaxBits, math.max(MinBits, nextPow2(rows * BitsPerKey)))

  /** The k RAW probe hashes (pre-modulus — the width is per-file and
    * applied downstream) of one row as a Column: k independent salted
    * xxhash64 chains, `h_i = xxhash64(v, Salt + i)`, rather than the
    * classic `h1 + i·h2` double-hash — the additive form overflows
    * longs by design, which ANSI mode (the session default) rejects;
    * folding the probe index into the hash chain keeps every step
    * inside the hash, costs one extra mix per probe, and stays
    * bit-identical between the codegen'd writer and the literal-eval
    * prober. Null values probe nothing (an equality predicate never
    * matches null, so nulls need no representation and no
    * false-positive budget). */
  private def rawProbeExpr(c: Column): Column = {
    val arr = array((0 until K).map(i => xxhash64(c, lit(Salt + i))): _*)
    when(c.isNull, array().cast("array<long>")).otherwise(arr)
  }

  /** The same k positions driver-side, via the SAME Catalyst
    * expression the writer ran — evaluated on literals, so there is
    * exactly one hash implementation in play. */
  private def probePositions(v: Any, mBits: Long): Array[Long] = {
    val l = v match {
      case s: String => Literal(s)
      case n: Number => Literal(n.longValue())
      case other =>
        throw new IllegalArgumentException(
          s"bloom probe values must be strings or integers, got: $other")
    }
    Array.tabulate(K) { i =>
      val h = XxHash64(Seq(l, Literal(Salt + i)), 42L).eval(null)
        .asInstanceOf[Long]
      java.lang.Math.floorMod(h, mBits)
    }
  }

  private def footerRows(conf: org.apache.hadoop.conf.Configuration,
      table: String, rel: String): Long = {
    // HadoopReadOptions over the caller's conf, as in TxnLog.footerStats.
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        TxnLog.dataPathObj(table, rel), conf),
      org.apache.parquet.HadoopReadOptions.builder(conf).build())
    try r.getRecordCount finally r.close()
  }

  /** Build and publish bloom sidecars for just-staged files, one per
    * (file, column). Runs ONE aggregation over only the staged data;
    * bit widths are per-file from footer row counts. `mapping` is the
    * snapshot schema when the table is column-mapped — staged files
    * carry PHYSICAL names, sidecars are keyed by the LOGICAL name the
    * probe will use. Sidecars land BEFORE the commit publishes; an
    * abandoned commit's orphans go with its staged files at vacuum. */
  private[sources] def writeSidecars(spark: SparkSession, table: String,
      staged: Seq[String], columns: Seq[String], schema: StructType,
      mapping: Option[StructType], lenient: Boolean = false): Unit = {
    if (staged.isEmpty || columns.isEmpty) return
    val phys: Map[String, String] = mapping.fold(Map.empty[String, String])(
      _.fields.map(f => f.name.toLowerCase -> TxnLog.physicalName(f)).toMap)
    def physOf(c: String): String = phys.getOrElse(c.toLowerCase, c)
    // Lenient mode (the config-driven auto path): a configured column
    // absent from THIS staged frame (a DV-object write, a projection)
    // or of an unsupported type is skipped — files without sidecars
    // never prune, so partial coverage stays sound. The explicit API
    // keeps its loud failure.
    val resolved = columns.flatMap { c =>
      schema.fields.find(_.name.equalsIgnoreCase(c)) match {
        case None if lenient => None
        case None =>
          throw new IllegalArgumentException(s"bloom column $c not in schema")
        // A PARTITION column's value rides the file paths — it prunes
        // exactly (tier 0) and the hive-laid files don't even carry
        // the column, so a bloom on it is both pointless and unbuildable.
        case Some(f) if f.metadata.contains(TxnLog.PartitionColKey) =>
          if (lenient) None
          else throw new IllegalArgumentException(
            s"bloom column $c is a partition column — partition values " +
              "prune from the file paths already")
        case Some(f) if canon(col("x"), f.dataType).isEmpty =>
          if (lenient) None
          else throw new IllegalArgumentException(
            s"bloom column $c has unsupported type ${f.dataType.simpleString} " +
              "(supported: string, byte/short/int/long)")
        case Some(f) => Some((c, physOf(c), f.dataType))
      }
    }
    if (resolved.isEmpty) return
    // One footer open per staged file — the same driver-serial metadata
    // loop class as TxnLog.stagedStats, routed through the same
    // adaptive fan-out: local-FS footer reads (~1 ms) stay serial and
    // byte-identical, a wide object-store write reads its footers in
    // ONE Spark job instead of O(files) blocking driver RPCs.
    val mByRel: Map[String, Long] =
      MetaFanout.adaptiveMap(spark, staged) { (conf, rel) =>
        Seq(rel -> mBitsFor(footerRows(conf, table, rel)))
      }.toMap
    val absolute = staged.map(rel => new Path(table, rel).toString)
    // Table-relative path by QUALIFIED-prefix strip (the same key as
    // the DV mask keys), once per file: a fixed segment-count regex
    // would mis-key adopted files living at the table ROOT (one
    // segment) vs staged files (stage-x/part-y, two).
    val pfx = TxnLog.encodedTablePrefix(spark, table) + "/"
    val relC = coalesce(
      PerFileExpr.column(PerFileExpr.relativeTo(pfx)),
      raise_error(concat(
        lit(s"bloom build: scan file outside table $table: "),
        input_file_name())))
    val u = udaf(BloomOrAgg, Encoders.product[BloomIn])
    val rows = spark.read.parquet(absolute: _*)
      .select(relC.as("_gb_rel") +: resolved.map { case (c, p, dt) =>
        rawProbeExpr(canon(col(p), dt).get).as(s"_gb_raw_$c")
      }: _*)
      .withColumn("_gb_m", element_at(typedLit(mByRel), col("_gb_rel")))
      .select(col("_gb_rel") +: col("_gb_m") +: resolved.map { case (c, _, _) =>
        transform(col(s"_gb_raw_$c"), h => pmod(h, col("_gb_m"))).as(s"_gb_pos_$c")
      }: _*)
      .groupBy("_gb_rel")
      .agg(u(col("_gb_m"), col(s"_gb_pos_${resolved.head._1}"))
             .as(s"_gb_bits_${resolved.head._1}"),
        resolved.tail.map { case (c, _, _) =>
          u(col("_gb_m"), col(s"_gb_pos_$c")).as(s"_gb_bits_$c")
        }: _*)
      .collect()
    val f = fs(spark, new Path(table))
    // ONE segment file per column for this whole staging batch: the
    // index stays O(commits) files, and a later point lookup reads
    // this batch's bitsets with a single open (round-13 verdict #2).
    resolved.foreach { case (c, _, _) =>
      val dir = bloomDir(table, c)
      f.mkdirs(dir)
      val entries = rows.toSeq.map { r =>
        val rel = r.getString(0)
        (rel, mByRel(rel), r.getAs[Array[Byte]](s"_gb_bits_$c"))
      }
      writeSegment(f, new Path(dir,
        s"seg-${java.util.UUID.randomUUID().toString.take(12)}.gbs"), entries)
    }
  }

  /** Segment file layout (all big-endian via DataOutputStream):
    * {{{
    *   [SegMagic int][FormatVersion int]
    *   per entry:   [K int][mBits long][bitsLen int][bits …]
    *   index:       [nEntries int]
    *                per entry: [relLen int][rel UTF-8][offset long]
    *   trailer:     [indexOffset long][SegMagic int]
    * }}}
    * A reader seeks to (length−12), verifies the trailer magic, reads
    * the index, then fetches only the entries it needs by offset —
    * probing one file out of a 10k-file segment costs one index read
    * plus one bitset read, never the whole segment. */
  private[graft] def writeSegment(f: FileSystem, p: Path,
      entries: Seq[(String, Long, Array[Byte])]): Unit = {
    val out = new java.io.DataOutputStream(
      new java.io.BufferedOutputStream(f.create(p, true), 1 << 16))
    try {
      out.writeInt(SegMagic); out.writeInt(FormatVersion)
      var pos = 8L
      val offsets = entries.map { case (_, m, bits) =>
        val at = pos
        out.writeInt(K); out.writeLong(m)
        out.writeInt(bits.length); out.write(bits)
        pos += 4 + 8 + 4 + bits.length
        at
      }
      val indexOffset = pos
      out.writeInt(entries.size)
      entries.zip(offsets).foreach { case ((rel, _, _), off) =>
        val b = rel.getBytes("UTF-8")
        out.writeInt(b.length); out.write(b); out.writeLong(off)
      }
      out.writeLong(indexOffset); out.writeInt(SegMagic)
    } finally out.close()
  }

  private final case class Sidecar(k: Int, mBits: Long, bits: Array[Byte]) {
    def mightContain(pos: Array[Long]): Boolean =
      pos.forall(p => (bits((p >> 3).toInt) & (1 << (p & 7).toInt)) != 0)
  }

  private def readSidecar(f: FileSystem, p: Path): Option[Sidecar] = {
    val in = new java.io.DataInputStream(f.open(p))
    try {
      if (in.readInt() != Magic || in.readInt() != FormatVersion) return None
      val k = in.readInt()
      val m = in.readLong()
      val n = in.readInt()
      // Structural sanity beyond the magic: garbage that happens to
      // carry it must yield None (no verdict, file stays), never an
      // allocation blow-up or a mod-by-zero in the probe.
      if (k <= 0 || k > 64 || m < MinBits || m > MaxBits ||
          n < 0 || n > ((MaxBits >> 3) + 16).toInt) return None
      val bits = new Array[Byte](n)
      in.readFully(bits)
      Some(Sidecar(k, m, bits))
    } catch { case _: java.io.IOException => None } finally in.close()
  }

  /** Bounded LRU keyed by strings — eldest-accessed evicts first, and
    * a byte budget keeps cached bitsets from growing past a fraction
    * of driver memory. Shared driver/executor-side (in local mode one
    * JVM; on a cluster each executor keeps its own working set). */
  private final class Lru[V](maxEntries: Int, maxBytes: Long,
      sizeOf: V => Long) {
    private var bytes = 0L
    private val map = new java.util.LinkedHashMap[String, V](64, 0.75f, true)
    def get(k: String): Option[V] = synchronized(Option(map.get(k)))
    def put(k: String, v: V): Unit = synchronized {
      if (map.containsKey(k)) return
      map.put(k, v); bytes += sizeOf(v)
      val it = map.entrySet().iterator()
      while ((map.size > maxEntries || bytes > maxBytes) && it.hasNext) {
        val e = it.next(); bytes -= sizeOf(e.getValue); it.remove()
      }
    }
    def clear(): Unit = synchronized { map.clear(); bytes = 0L }
  }

  /** Segment rel→offset indexes: ~tens of bytes per file entry. */
  private val indexCache =
    new Lru[Map[String, Long]](4096, 128L << 20,
      m => m.keysIterator.map(_.length + 24L).sum)
  /** Decoded bitsets (legacy sidecars and segment entries): ≤1 MiB
    * each by construction; budget 256 MiB. */
  private val entryCache =
    new Lru[Sidecar](8192, 256L << 20, sc => sc.bits.length + 64L)

  private def srcKey(path: String, mtime: Long, len: Long): String =
    s"$path@$mtime:$len"

  /** Test/bench hook: drop the probe caches so a cold-path run can be
    * measured (or compared against the distributed path) honestly. */
  private[graft] def clearProbeCaches(): Unit = {
    indexCache.clear(); entryCache.clear()
  }

  private def readSegmentIndex(f: FileSystem, p: Path,
      len: Long): Option[Map[String, Long]] = {
    if (len < 20) return None
    val in = f.open(p)
    try {
      in.seek(len - 12)
      val indexOffset = in.readLong()
      if (in.readInt() != SegMagic || indexOffset < 8 ||
          indexOffset > len - 12) return None
      in.seek(indexOffset)
      val n = in.readInt()
      if (n < 0 || n > (1 << 24)) return None // corrupt count: no verdicts
      val out = Map.newBuilder[String, Long]
      var i = 0
      while (i < n) {
        val relLen = in.readInt()
        if (relLen <= 0 || relLen > (1 << 16)) return None
        val b = new Array[Byte](relLen)
        in.readFully(b)
        out += new String(b, "UTF-8") -> in.readLong()
        i += 1
      }
      Some(out.result())
    } catch { case _: java.io.IOException => None } finally in.close()
  }

  private def readSegmentEntry(in: org.apache.hadoop.fs.FSDataInputStream,
      offset: Long): Option[Sidecar] =
    try {
      in.seek(offset)
      val k = in.readInt()
      val m = in.readLong()
      val n = in.readInt()
      if (k <= 0 || k > 64 || m < MinBits || m > MaxBits ||
          n < 0 || n > (MaxBits >> 3) + 16) return None
      val bits = new Array[Byte](n)
      in.readFully(bits)
      Some(Sidecar(k, m, bits))
    } catch { case _: java.io.IOException => None }

  /** Probe one SOURCE file (a `seg-*.gbs` segment or a legacy
    * `*.bloom` sidecar) against `values`, restricted to rel paths in
    * `needed`: emits (rel, keep) verdicts for every covered needed
    * file, nothing for the rest. Runs identically on the driver (serial
    * leg) and inside distributed probe tasks — one implementation,
    * so the two paths cannot disagree. Unreadable/corrupt sources
    * yield NO verdicts (their files stay — false-positive-only). */
  private def probeSource(f: FileSystem, path: String, mtime: Long, len: Long,
      needed: String => Boolean, values: Seq[Any]): Seq[(String, Boolean)] = {
    val key = srcKey(path, mtime, len)
    val p = new Path(path)
    val posCache = scala.collection.mutable.Map.empty[Long, Seq[Array[Long]]]
    def keep(sc: Sidecar): Boolean =
      posCache.getOrElseUpdate(sc.mBits, values.map(probePositions(_, sc.mBits)))
        .exists(sc.mightContain)
    if (path.endsWith(".bloom")) {
      val rel = dec(p.getName)
      if (!needed(rel)) Nil
      else entryCache.get(key).orElse {
        val sc = readSidecar(f, p)
        sc.foreach(entryCache.put(key, _))
        sc
      }.map(sc => Seq(rel -> keep(sc))).getOrElse(Nil)
    } else {
      val idx = indexCache.get(key).orElse {
        val i = readSegmentIndex(f, p, len)
        i.foreach(indexCache.put(key, _))
        i
      }.getOrElse(return Nil)
      val want = idx.iterator.filter { case (rel, _) => needed(rel) }.toSeq
      if (want.isEmpty) return Nil
      val (cached, missing) = want.partition { case (_, off) =>
        entryCache.get(s"$key#$off").isDefined
      }
      val fromCache = cached.map { case (rel, off) =>
        rel -> keep(entryCache.get(s"$key#$off").get)
      }
      val fromDisk =
        if (missing.isEmpty) Nil
        else {
          val in = f.open(p)
          // Forward seeks only: read in offset order.
          try missing.sortBy(_._2).flatMap { case (rel, off) =>
            readSegmentEntry(in, off).map { sc =>
              entryCache.put(s"$key#$off", sc)
              rel -> keep(sc)
            }
          } finally in.close()
        }
      fromCache ++ fromDisk
    }
  }

  /** Keep only the files whose bloom CANNOT rule out every probe
    * value. Files without coverage (pre-index commits, compaction
    * rewrites) always stay — pruning is false-positive-only. Called
    * AFTER stats screening so only stats-surviving files are ever
    * probed; the sidecar directory is listed ONCE (no per-file
    * existence probes — at a million files that listing is the
    * difference between one metadata round-trip and a million).
    *
    * Execution: sources fully answerable from the driver cache cost
    * zero I/O. Cold sources go through [[MetaFanout.adaptiveMap]], so
    * they are MEASURED, not guessed: the first few open serially and
    * time themselves, and the rest stay serial only while the
    * projected serial wall stays under the shared crossover (about the
    * cost of launching the ONE Spark metadata job the distributed path
    * uses). On a local FS (~0.3 ms/open) hundreds of opens stay
    * serial; on object-store latency (10–50 ms/GET, where
    * BloomProbeBench's injected-latency sweep put the crossover at
    * ~15–25 opens) the same probe fans out after the sample — wall
    * time opens/parallelism instead of a driver stall ∝ commit count. */
  private[graft] def filterByBloom(spark: SparkSession, table: String,
      column: String, values: Seq[Any],
      files: Seq[(String, TxnLog.FileState)]): Seq[(String, TxnLog.FileState)] = {
    val dir = bloomDir(table, column)
    val f = fs(spark, dir)
    if (!f.exists(dir)) return files
    val statuses = f.listStatus(dir).toSeq.filter(!_.isDirectory)
    val neededSet = files.map(_._1).toSet
    val verdicts = scala.collection.mutable.HashMap.empty[String, Boolean]
    val posCache = scala.collection.mutable.Map.empty[Long, Seq[Array[Long]]]
    def keep(sc: Sidecar): Boolean =
      posCache.getOrElseUpdate(sc.mBits, values.map(probePositions(_, sc.mBits)))
        .exists(sc.mightContain)
    // Split warm (zero-I/O, cache-answerable) from cold sources.
    val cold = scala.collection.mutable.Buffer.empty[(String, Long, Long)]
    statuses.foreach { st =>
      val name = st.getPath.getName
      val key = srcKey(st.getPath.toString, st.getModificationTime, st.getLen)
      if (name.endsWith(".bloom")) {
        val rel = dec(name)
        if (neededSet.contains(rel)) entryCache.get(key) match {
          case Some(sc) => verdicts(rel) = keep(sc)
          case None =>
            cold += ((st.getPath.toString, st.getModificationTime, st.getLen))
        }
      } else if (name.endsWith(".gbs")) {
        indexCache.get(key) match {
          case Some(idx) =>
            val want = idx.iterator.filter(e => neededSet.contains(e._1)).toSeq
            val allCached = want.forall { case (rel, off) =>
              entryCache.get(s"$key#$off") match {
                case Some(sc) => verdicts(rel) = keep(sc); true
                case None => false
              }
            }
            if (!allCached)
              cold += ((st.getPath.toString, st.getModificationTime, st.getLen))
          case None =>
            cold += ((st.getPath.toString, st.getModificationTime, st.getLen))
        }
      }
    }
    MetaFanout.adaptiveMap(spark, cold.toSeq) { case (conf, (p, mt, ln)) =>
      probeSource(new Path(p).getFileSystem(conf), p, mt, ln, neededSet, values)
    }.foreach { case (rel, k) => verdicts(rel) = k }
    files.filter { case (rel, _) => verdicts.getOrElse(rel, true) }
  }

  /** Whether `column` has any bloom sidecar coverage on this table —
    * one directory-existence probe; gates the SQL scan rule so only
    * indexed tables pay a plan rewrite. */
  private[graft] def hasIndex(spark: SparkSession, table: String,
      column: String): Boolean = {
    val d = bloomDir(table, column)
    fs(spark, d).exists(d)
  }

  /** Loud validation for the explicit configure-time API. */
  private[sources] def validate(cols: Seq[String], schema: StructType): Unit =
    cols.foreach { c =>
      val f = schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(s"bloom column $c not in schema"))
      require(canon(col("x"), f.dataType).isDefined,
        s"bloom column $c has unsupported type ${f.dataType.simpleString} " +
          "(supported: string, byte/short/int/long)")
    }

  /** The table's CONFIGURED bloom columns — coverage as a property of
    * the TABLE, not of writer discipline (the same principle the
    * default-on stats follow): once configured, EVERY staging write —
    * plain appends, streaming batches, MERGE survivors, compaction
    * rewrites — produces sidecars for its new files, so DML and
    * maintenance cannot erode point-lookup coverage. The config is a
    * GROW-ONLY union of `_bloom/_columns*.txt` files: each configure
    * call publishes its own immutable file, so concurrent configures
    * can never lose each other's columns (a read-merge-overwrite
    * design would). */
  private[graft] def configuredCols(spark: SparkSession,
      table: String): Seq[String] = {
    val dir = new Path(table, "_bloom")
    val f = fs(spark, dir)
    if (!f.exists(dir)) return Nil
    f.listStatus(dir).toSeq
      .filter(st => !st.isDirectory && st.getPath.getName.startsWith("_columns"))
      .flatMap { st =>
        val in = f.open(st.getPath)
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .map(_.trim).filter(_.nonEmpty).toList
        finally in.close()
      }.map(_.toLowerCase).distinct.sorted
  }

  /** Record `cols` as (additional) bloom columns: published as one new
    * immutable config file when not already covered. */
  private[graft] def writeConfig(spark: SparkSession, table: String,
      cols: Seq[String]): Unit = {
    val wanted = cols.map(_.toLowerCase).distinct.sorted
    if (wanted.forall(configuredCols(spark, table).contains)) return
    val p = new Path(table,
      s"_bloom/_columns-${java.util.UUID.randomUUID().toString.take(12)}.txt")
    val f = fs(spark, p)
    f.mkdirs(p.getParent)
    val out = f.create(p, false)
    try out.write(wanted.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Rel paths that already have bloom coverage for `column` — one
    * listing plus (cached) segment-index reads. */
  private[graft] def covered(spark: SparkSession, table: String,
      column: String): Set[String] = {
    val d = bloomDir(table, column)
    val f = fs(spark, d)
    if (!f.exists(d)) return Set.empty
    f.listStatus(d).toSeq.filter(!_.isDirectory).flatMap { st =>
      val name = st.getPath.getName
      if (name.endsWith(".bloom")) Seq(dec(name))
      else if (name.endsWith(".gbs")) segmentRels(f, st)
      else Nil
    }.toSet
  }

  /** A segment's covered rel paths, through the index cache. */
  private def segmentRels(f: FileSystem,
      st: org.apache.hadoop.fs.FileStatus): Seq[String] = {
    val key = srcKey(st.getPath.toString, st.getModificationTime, st.getLen)
    indexCache.get(key).orElse {
      val i = readSegmentIndex(f, st.getPath, st.getLen)
      i.foreach(indexCache.put(key, _))
      i
    }.fold(Seq.empty[String])(_.keys.toSeq)
  }

  /** Delete bloom metadata whose data files are physically gone — the
    * companion sweep to [[TxnLog.vacuum]]'s data-file pass (coverage
    * is only meaningful while its immutable data file exists; time
    * travel keeps using coverage of retained old files untouched). A
    * legacy per-file sidecar goes with its file; a SEGMENT goes when
    * EVERY file it covers is gone — a partially-live segment stays
    * whole (dead entries are never consulted: the probe intersects
    * the snapshot's file list first), which keeps the sweep
    * metadata-only instead of rewriting segments. */
  private[sources] def vacuumSidecars(spark: SparkSession, table: String): Seq[String] = {
    val root = new Path(table, "_bloom")
    val f = fs(spark, root)
    if (!f.exists(root)) return Nil
    // Only column DIRECTORIES hold sidecars; `_columns.txt` (the
    // table's index configuration) lives alongside them and must
    // never be swept.
    f.listStatus(root).toSeq.filter(_.isDirectory).flatMap { colDir =>
      f.listStatus(colDir.getPath).toSeq.flatMap { st =>
        val name = st.getPath.getName
        val dead =
          if (name.endsWith(".bloom"))
            !f.exists(new Path(table, dec(name)))
          else if (name.endsWith(".gbs")) {
            val rels = segmentRels(f, st)
            rels.nonEmpty && rels.forall(r => !f.exists(new Path(table, r)))
          } else false
        if (!dead) Nil
        else {
          scala.util.Try(f.delete(st.getPath, false))
          Seq(s"_bloom/${colDir.getPath.getName}/$name")
        }
      }
    }
  }
}
