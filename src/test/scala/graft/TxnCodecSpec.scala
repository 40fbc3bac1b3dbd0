package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._

import graft.sources.TxnCodec
import graft.sources.TxnCodec.Entry
import graft.sources.TxnLog.{ColStats, FileStats, SchemaCommit}

/** [[TxnCodec]]: every entry survives encode → decode whatever its
  * strings hold, first-format bodies still decode, and a newer format
  * is refused by name. */
class TxnCodecSpec extends AnyFunSuite {

  /** Strings built from the characters a hand-rolled JSON reader trips
    * on: separators, quotes, escapes, control characters, and non-BMP
    * code points (surrogate pairs in UTF-16). */
  private val hostile: Gen[String] = Gen.listOf(Gen.frequency(
    4 -> Gen.alphaNumChar.map(_.toString),
    4 -> Gen.oneOf(",", "\"", "\\", "]", "[", "}", "{", ":", "/", "=", " "),
    2 -> Gen.choose(0.toChar, 0x1f.toChar).map(_.toString),
    1 -> Gen.oneOf("é", "中", " "),
    1 -> Gen.choose(0x10000, 0x10ffff).map(cp => new String(Character.toChars(cp)))
  )).map(_.mkString)

  private def smallMap[V](v: Gen[V]): Gen[Map[String, V]] =
    Gen.choose(0, 3).flatMap(n => Gen.listOfN(n, Gen.zip(hostile, v))).map(_.toMap)

  private val nulls: Gen[Long] = Gen.oneOf(Gen.const(-1L), Gen.choose(0L, 1000L))

  private val colStats: Gen[ColStats] = Gen.oneOf(
    for (a <- Gen.choose(Long.MinValue, Long.MaxValue);
         b <- Gen.choose(Long.MinValue, Long.MaxValue); n <- nulls)
      yield ColStats(a, b, nulls = n),
    for (a <- hostile; b <- hostile; n <- nulls)
      yield ColStats(0L, 0L, a, b, n))

  private val fileStats: Gen[FileStats] =
    for (c <- Gen.choose(0L, Long.MaxValue); cols <- smallMap(colStats))
      yield FileStats(c, cols)

  private val schemaCommit: Gen[SchemaCommit] =
    for (names <- Gen.listOfN(2, hostile); retired <- Gen.listOf(hostile);
         constraints <- smallMap(hostile))
      yield SchemaCommit(StructType(names.distinct.zipWithIndex.map { case (n, i) =>
        StructField(n, if (i == 0) LongType else StringType,
          metadata = new MetadataBuilder().putString("graft.physical", n + "_1").build())
      }), retired, constraints)

  private val entry: Gen[Entry] = for {
    adds <- Gen.listOf(hostile)
    removes <- Gen.listOf(hostile)
    txn <- Gen.option(hostile)
    stats <- smallMap(fileStats)
    dvs <- smallMap(hostile)
    cls <- smallMap(hostile)
    copied <- Gen.listOf(hostile)
    schema <- Gen.option(schemaCommit)
    streams <- Gen.option(smallMap(Gen.choose(0L, Long.MaxValue)))
  } yield Entry(adds, removes, txn, stats, dvs, cls, copied, schema, streams)

  test("property: decode(encode(e)) == e over adversarial strings") {
    val prop = Prop.forAll(entry)(e => TxnCodec.decode(TxnCodec.encode(e)) == e)
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(res.passed, res.status.toString)
  }

  test("a first-format body decodes: base64 side channels, stats with " +
       "and without null counts, DV and clustered-at bindings") {
    def b64(s: String) = java.util.Base64.getEncoder.encodeToString(s.getBytes(UTF_8))
    val schema = StructType(Seq(StructField("id", LongType), StructField("s", StringType)))
    val body = "{\"adds\":[\"stage-a/p0.parquet\",\"stage-a/p1.parquet\"]," +
      "\"removes\":[\"stage-0/old.parquet\"],\"txn\":\"sink:3\"," +
      "\"stats\":{\"stage-a/p0.parquet\":[4,{\"id\":[1,9,0],\"s\":[\"a\\\"q\",\"z\\\\\",2]}]," +
      "\"stage-a/p1.parquet\":[2,{\"id\":[5,6]}]}," +
      "\"dvs\":{\"stage-a/p0.parquet\":\"stage-dv\"},\"cl\":{\"stage-a/p1.parquet\":\"id\"}," +
      "\"copied64\":\"" + b64("file:/src/a.parquet\nfile:/src/b.parquet") + "\"," +
      "\"schema64\":\"" + b64(schema.json) + "\"," +
      "\"retired64\":\"" + b64("note\nold") + "\"," +
      "\"constraints64\":\"" + b64("id_pos\tid > 0\nshort\tlength(s) < 9") + "\"}"
    assert(TxnCodec.decode(body.getBytes(UTF_8)) === Entry(
      adds = Seq("stage-a/p0.parquet", "stage-a/p1.parquet"),
      removes = Seq("stage-0/old.parquet"),
      txn = Some("sink:3"),
      stats = Map(
        "stage-a/p0.parquet" -> FileStats(4, Map(
          "id" -> ColStats(1, 9, nulls = 0), "s" -> ColStats(0, 0, "a\"q", "z\\", 2))),
        "stage-a/p1.parquet" -> FileStats(2, Map("id" -> ColStats(5, 6)))),
      dvs = Map("stage-a/p0.parquet" -> "stage-dv"),
      cls = Map("stage-a/p1.parquet" -> "id"),
      copied = Seq("file:/src/a.parquet", "file:/src/b.parquet"),
      schema = Some(SchemaCommit(schema, Seq("note", "old"),
        Map("id_pos" -> "id > 0", "short" -> "length(s) < 9")))))
  }

  test("a first-format ledger longer than Jackson's default string cap " +
       "still decodes") {
    val uris = (0 until 21000).map(i => f"file:/src/$i%06d/" + "x" * 740)
    val b64 = java.util.Base64.getEncoder.encodeToString(
      uris.mkString("\n").getBytes(UTF_8))
    assert(b64.length > 20000000)
    val body = "{\"adds\":[],\"removes\":[],\"copied64\":\"" + b64 + "\"}"
    assert(TxnCodec.decode(body.getBytes(UTF_8)).copied === uris)
  }

  test("new entries carry format 2 and no side channel; a newer format " +
       "is refused by name") {
    val json = new String(TxnCodec.encode(Entry(adds = Seq("a"), copied = Seq("u"),
      schema = Some(SchemaCommit(StructType(Seq(StructField("id", LongType))),
        Seq("r"), Map("c" -> "id > 0"))))), UTF_8)
    assert(json.startsWith("{\"format\":2,"))
    assert(!json.contains("64\""), json)
    val e = intercept[IllegalStateException] {
      TxnCodec.decode("{\"format\":3,\"adds\":[],\"removes\":[]}".getBytes(UTF_8))
    }
    assert(e.getMessage.contains("format 3"))
  }
}
