package graft

import org.apache.spark.sql.functions._
import graft.functions.Fns

/** Known-vector tests for the scalar kit (FIXTURES.md §A.5). */
class FnsSpec extends SparkTestBase {
  import spark.implicits._

  private def backoffSecondsScala(attempts: Int): Long =
    math.min(600.0, math.pow(2.0, attempts) * 5.0).toLong

  test("F1 txHash: sha256 of base64-decoded bytes, upper hex") {
    val got = Seq("dGVzdA==").toDF("raw").select(Fns.txHash(col("raw"))).collect()(0).getString(0)
    assert(got === "9F86D081884C7D659A2FEAA0C55AD015A3BF4F1B2B0B822CD15D6C15B0F00A08")
  }

  test("F2 b64ToHex: lowercase hex of decoded bytes") {
    val got = Seq("AAEC").toDF("b").select(Fns.b64ToHex(col("b"))).collect()(0).getString(0)
    assert(got === "000102")
  }

  test("F3 maybeB64Decode: FIXTURES vectors") {
    assert(Fns.maybeB64DecodeStr("aGVsbG8=") === "hello")
    assert(Fns.maybeB64DecodeStr("dGVzdA==") === "test")
    assert(Fns.maybeB64DecodeStr("hello") === "hello") // len % 4 != 0
    assert(Fns.maybeB64DecodeStr("zig1xyz!") === "zig1xyz!") // charset miss
    // base64 of binary junk (0x00 0xFF...) decodes to non-printable -> unchanged
    val junk = java.util.Base64.getEncoder.encodeToString(Array[Byte](0, -1, 7, 3))
    assert(Fns.maybeB64DecodeStr(junk) === junk)
    assert(Fns.maybeB64DecodeStr(null) === null)
    // decoded tab/LF/CR count as printable (JS regex allows \x09\x0A\x0D)
    val tabby = java.util.Base64.getEncoder.encodeToString("a\tb\n".getBytes)
    assert(Fns.maybeB64DecodeStr(tabby) === "a\tb\n")
  }

  test("F4 messageAction: first message event's non-empty action, else unknown") {
    val df = spark.read.schema(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("events",
          org.apache.spark.sql.types.ArrayType(graft.schema.Schemas.event)))))
      .json(Seq(
        """{"events":[{"type":"transfer","attributes":[{"key":"action","value":"nope","index":false}]},
          |{"type":"message","attributes":[{"key":"x","value":"y","index":false},
          |{"key":"action","value":"/cosmos.bank.v1beta1.MsgSend","index":true}]}]}"""
          .stripMargin.replaceAll("\n", ""),
        """{"events":[{"type":"message","attributes":[{"key":"action","value":"","index":false}]}]}""",
        """{"events":[]}""").toDS)
    val got = df.select(Fns.messageAction(col("events"))).collect().map(_.getString(0))
    assert(got.toSeq === Seq("/cosmos.bank.v1beta1.MsgSend", "unknown", "unknown"))
  }

  test("F8 heightBucket: floor(height/100000)") {
    val got = Seq(0L, 99999L, 100000L, 1234567L).toDF("h")
      .select(Fns.heightBucket(col("h"))).collect().map(_.getLong(0))
    assert(got.toSeq === Seq(0L, 0L, 1L, 12L))
  }

  test("F15 formatReadableSize") {
    assert(Fns.formatReadableSizeStr(512) === "512 B")
    assert(Fns.formatReadableSizeStr(1536) === "1.50 KiB")
    assert(Fns.formatReadableSizeStr(10L * 1024 * 1024 * 1024) === "10.00 GiB")
  }

  test("F16 backoff: min(600, 2^attempts * 5) and block retry delay") {
    assert((0 to 8).map(backoffSecondsScala) ===
      Seq(5L, 10L, 20L, 40L, 80L, 160L, 320L, 600L, 600L))
    val col5 = Seq(0, 3, 5, 9).toDF("r")
      .select(Fns.blockRetryDelaySeconds(col("r"))).collect().map(_.getLong(0))
    assert(col5.toSeq === Seq(300L, 2400L, 9600L, 9600L)) // capped exponent 5
  }

  test("F19 falsyDefault: '' and null -> default; 0 -> numeric default") {
    val got = Seq(("", 0.0), ("x", 2.5), (null, 1.0)).toDF("s", "n")
      .select(Fns.falsyDefault(col("s"), "dflt"), Fns.falsyDefaultNum(col("n"), -1))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(got.toSeq === Seq(("dflt", -1.0), ("x", 2.5), ("dflt", 1.0)))
  }

  test("F13 ageMinutes") {
    val got = Seq((1000L, 4600L)).toDF("ts", "ref")
      .select(Fns.ageMinutes(col("ts"), col("ref"))).collect()(0).getLong(0)
    assert(got === 60L)
  }

  test("SortedContainsLong == array_contains on sorted long arrays") {
    import graft.functions.GraftExpressions.sorted_contains_long
    val rng = new scala.util.Random(13)
    val rows = (0 until 200).map { _ =>
      (rng.shuffle((0 until 60).map(_.toLong)).take(1 + rng.nextInt(40)),
        rng.nextInt(70).toLong)
    }
    val df = rows.toDF("a", "e").select(array_sort(col("a")).as("a"), col("e"))
    val bad = df.filter(
      sorted_contains_long(col("a"), col("e")) =!=
        array_contains(col("a"), col("e"))).count()
    assert(bad === 0L)
    // empty array, null array
    val edge = Seq((Some(Seq.empty[Long]), Some(1L)),
        (Option.empty[Seq[Long]], Some(1L))).toDF("a", "e")
      .select(sorted_contains_long(col("a"), col("e"))).collect()
    assert(edge(0).getBoolean(0) === false && edge(1).isNullAt(0))
  }

  test("SortedIntersectCountLong == size(array_intersect) on sorted-distinct long arrays") {
    import graft.functions.GraftExpressions.sorted_intersect_count_long
    val rng = new scala.util.Random(11)
    val rows = (0 until 200).map { _ =>
      def set() = rng.shuffle((0 until 40).map(_.toLong)).take(1 + rng.nextInt(30))
      (set(), set())
    }
    val df = rows.toDF("a", "b")
      .select(array_sort(col("a")).as("a"), array_sort(col("b")).as("b"))
    val got = df.select(
      sorted_intersect_count_long(col("a"), col("b")).as("m"),
      size(array_intersect(col("a"), col("b"))).as("ref")).collect()
    got.foreach(r => assert(r.getInt(0) === r.getInt(1)))
    val edge = Seq(
      (Seq.empty[Long], Seq(1L)),
      (Seq(1L, 2L), Seq(3L, 4L)),
      (Seq(1L, 2L), Seq(1L, 2L))).toDF("a", "b")
      .select(sorted_intersect_count_long(col("a"), col("b"))).collect()
    assert(edge.map(_.getInt(0)).toSeq === Seq(0, 0, 2))
    val nul = Seq((Some(Seq(1L)), Option.empty[Seq[Long]])).toDF("a", "b")
      .select(sorted_intersect_count_long(col("a"), col("b"))).collect()(0)
    assert(nul.isNullAt(0))
    val interp = df.filter(
      sorted_intersect_count_long(col("a"), col("b")) =!=
        size(array_intersect(col("a"), col("b")))).count()
    assert(interp === 0L)
  }
}
