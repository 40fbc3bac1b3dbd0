package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TxnLog

/** A table written in the txn log's first format (no `format` field,
  * schema, retired names, constraints and the COPY INTO ledger as
  * base64 side channels) is checked in under
  * `src/test/resources/legacy-txnlog/table`: long and string stats with
  * null counts, a deletion vector, a clustered-at marker, two COPY INTO
  * loads, two streams' txn markers, a schema commit with a retired
  * column and a CHECK constraint, and a checkpoint at v10.
  * `expected.txt` is what the first-format reader gave for it. */
class LegacyTxnLogSpec extends AnyFunSuite with SparkSpec {

  private def fixtureCopy(): String = {
    val src = Paths.get(getClass.getResource("/legacy-txnlog/table").toURI)
    val dst = Files.createTempDirectory("graft_legacy_txnlog").resolve("table")
    Files.walk(src).iterator.asScala.foreach { p: Path =>
      Files.copy(p, dst.resolve(src.relativize(p).toString))
    }
    dst.toString
  }

  /** Every public read the log serves, rendered line by line. */
  private def render(t: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    TxnLog.read(spark, t).collect().map(r => "read " + r.toString).sorted
      .foreach(out += _)
    out += "schema " + TxnLog.tableSchema(spark, t).map(_.json).orNull
    TxnLog.constraints(spark, t).toSeq.sorted
      .foreach { case (n, e) => out += s"constraint $n $e" }
    TxnLog.ingests(spark, t).collect()
      .map(r => s"ingest ${r.getString(0)} ${r.getLong(1)}").sorted.foreach(out += _)
    TxnLog.history(spark, t).collect().sortBy(_.getLong(0)).foreach(r =>
      out += s"history ${r.getLong(0)} ${r.getString(2)} ${r.getLong(3)} " +
        s"${r.getLong(4)} ${r.getLong(5)} ${r.getString(6)}")
    Seq("sinkA", "sinkB", "nosuch").foreach(s =>
      out += s"stream $s ${TxnLog.lastCommittedBatch(spark, t, s)}")
    TxnLog.snapshotWithStats(spark, t).map { case (p, st) =>
      s"file $p " + st.fold("-")(fs => fs.count + " " +
        fs.cols.toSeq.sortBy(_._1).map { case (c, cs) =>
          s"$c=${cs.min}/${cs.max}/${cs.minStr}/${cs.maxStr}/${cs.nulls}"
        }.mkString(","))
    }.sorted.foreach(out += _)
    TxnLog.snapshotFull(spark, t).map { case (p, st) => s"state $p ${st.dv} ${st.cl}" }
      .sorted.foreach(out += _)
    out.result()
  }

  test("a first-format log reads exactly as its writer read it") {
    val expected = scala.io.Source.fromResource("legacy-txnlog/expected.txt")
      .getLines().toSeq
    assert(render(fixtureCopy()) === expected)
  }

  test("new-format commits on a first-format log: the mixed log resolves, " +
       "the retired slot stays retired, and the next checkpoint keeps the " +
       "ingest ledger and every stream's mark through cleanup") {
    import spark.implicits._
    val t = fixtureCopy()
    val before = TxnLog.read(spark, t).as[(Long, String)].collect().toSet
    TxnLog.append(spark, t, Seq((40L, "n")).toDF("id", "s"))
    val logDir = Paths.get(t, "_log")
    assert(Files.readString(logDir.resolve("v00000014.json"))
      .startsWith("{\"format\":2,"))
    assert(TxnLog.read(spark, t).as[(Long, String)].collect().toSet ===
      before + ((40L, "n")))
    assert(TxnLog.constraints(spark, t) === Map("id_pos" -> "id > 0"))
    // The dropped `note` column's values sit in the clustered file; a
    // new `note` must map to a fresh slot and read null there.
    TxnLog.addColumns(spark, t, Seq(StructField("note", StringType)))
    assert(TxnLog.read(spark, t).filter(col("note").isNotNull).count() === 0L)
    (16L to 20L).foreach(i =>
      TxnLog.append(spark, t, Seq((40L + i, "n")).toDF("id", "s")))
    assert(Files.readString(logDir.resolve("c00000020.json"))
      .startsWith("{\"format\":2,"))
    TxnLog.cleanupLog(spark, t, retainVersions = 1)
    assert(!Files.exists(logDir.resolve("v00000007.json")))
    assert(TxnLog.lastCommittedBatch(spark, t, "sinkA").contains(0L))
    assert(TxnLog.lastCommittedBatch(spark, t, "sinkB").contains(1L))
    assert(TxnLog.ingestLedger(spark, t).size === 2)
    assert(TxnLog.read(spark, t).count() === before.size + 6L)
  }
}
