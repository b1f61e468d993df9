package graft

import org.apache.spark.sql.functions._
import graft.ingest.Flatten
import graft.schema.Schemas

/** Golden end-to-end test of the block-envelope flatten (SURVEY §2.9) over the
  * canonical 3-block fixture of FIXTURES.md §A.3:
  *   100 — empty block (short-circuit: only a blocks row)
  *   101 — 2 txs (message+wasm incl. repeated attr key; failed tx code=5),
  *         1 finalize event
  *   102 — 1 tx whose event has ZERO attributes (attrs row absent,
  *         tx_events row present)
  */
class FlattenSpec extends SparkTestBase {

  // base64("test") / base64("test2"); FIXTURES §A.5 sha256 vector.
  private val Tx0 = "dGVzdA=="
  private val Tx1 = "dGVzdDI="
  private val Tx0Hash = "9F86D081884C7D659A2FEAA0C55AD015A3BF4F1B2B0B822CD15D6C15B0F00A08"

  private def envJson: Seq[String] = Seq(
    """{"height":100,"time":"2025-06-01T12:00:00.123456789Z","app_hash":"AH100",
      |"txs":[],"txs_results":[],"finalize_block_events":[]}""".stripMargin.replaceAll("\n", ""),
    s"""{"height":101,"time":"2025-06-01T12:00:05Z","app_hash":"AH101",
       |"txs":["$Tx0","$Tx1"],
       |"txs_results":[
       | {"code":0,"gas_wanted":"100000","gas_used":"50000","data":"AAEC","log":"",
       |  "events":[
       |   {"type":"message","attributes":[{"key":"action","value":"/cosmos.bank.v1beta1.MsgSend","index":true}]},
       |   {"type":"wasm","attributes":[
       |     {"key":"contract","value":"zig1abc","index":true},
       |     {"key":"amount","value":"5","index":false},
       |     {"key":"amount","value":"7","index":false}]}]},
       | {"code":5,"gas_wanted":"200000","gas_used":"123456","data":"","log":"out of gas",
       |  "events":[{"type":"transfer","attributes":[{"key":"recipient","value":"zig1r","index":false}]}]}],
       |"finalize_block_events":[
       | {"type":"coin_received","attributes":[{"key":"receiver","value":"zig1xyz","index":false}]}]}
       |""".stripMargin.replaceAll("\n", ""),
    """{"height":102,"time":"2025-06-01T12:00:10Z","app_hash":"AH102",
      |"txs":["AQ=="],
      |"txs_results":[{"code":0,"gas_wanted":"","gas_used":null,"data":null,"log":null,
      | "events":[{"type":"no_attrs","attributes":[]}]}],
      |"finalize_block_events":[]}""".stripMargin.replaceAll("\n", ""))

  private lazy val tables = {
    import spark.implicits._
    val env = spark.read.schema(Schemas.envelope).json(envJson.toDS)
    Flatten(env, processedAt = lit("2025-06-02 00:00:00").cast("timestamp"))
  }

  test("every Flatten output has the column names and types Schemas declares") {
    val declared = Map(
      "blocks" -> Schemas.blocks, "txs" -> Schemas.txs,
      "tx_events" -> Schemas.txEvents, "tx_event_attrs_json" -> Schemas.txEventAttrsJson,
      "type_wasm" -> Schemas.typeEvent, "type_wasm_attrs" -> Schemas.typeEventAttrs,
      "type_message" -> Schemas.typeEvent, "type_message_attrs" -> Schemas.typeEventAttrs,
      "block_events" -> Schemas.blockEvents, "block_event_attrs" -> Schemas.blockEventAttrs)
    assert(tables.all.map(_._1).toSet === declared.keySet)
    tables.all.foreach { case (t, df) =>
      withClue(t) {
        assert(df.schema.map(f => f.name -> f.dataType) ===
          declared(t).map(f => f.name -> f.dataType))
      }
    }
  }

  test("blocks: one row per height with counts and epoch-second created_at") {
    val rows = tables.blocks.orderBy("height").collect()
    assert(rows.length === 3)
    val b100 = rows(0)
    assert(b100.getAs[Long]("height") === 100L)
    assert(b100.getAs[String]("app_hash") === "AH100")
    assert(b100.getAs[Int]("txs_results_count") === 0)
    assert(b100.getAs[Int]("finalize_events_count") === 0)
    // 2025-06-01T12:00:00.123456789Z truncates to whole seconds
    assert(b100.getAs[java.sql.Timestamp]("created_at").getTime === 1748779200000L)
    val b101 = rows(1)
    assert(b101.getAs[Int]("txs_results_count") === 2)
    assert(b101.getAs[Int]("finalize_events_count") === 1)
  }

  test("txs: hash over decoded bytes, hex data, gas parsing, JS defaults") {
    val rows = tables.txs.orderBy("height", "tx_index").collect()
    assert(rows.length === 3)
    val t0 = rows(0)
    assert(t0.getAs[String]("tx_hash") === Tx0Hash)
    assert(t0.getAs[Int]("code") === 0)
    assert(t0.getAs[Long]("gas_wanted") === 100000L)
    assert(t0.getAs[String]("data") === "000102") // base64 AAEC -> lowercase hex
    assert(t0.getAs[String]("log") === "")
    val t1 = rows(1)
    assert(t1.getAs[Int]("code") === 5)
    assert(t1.getAs[String]("data") === "") // empty stays '' not null
    assert(t1.getAs[String]("log") === "out of gas")
    val t2 = rows(2)
    assert(t2.isNullAt(t2.fieldIndex("gas_wanted"))) // "" -> null
    assert(t2.isNullAt(t2.fieldIndex("gas_used")))   // null -> null
    assert(t2.getAs[String]("data") === "")
  }

  test("txs: malformed gas strings parse like JS parseInt, never abort the batch") {
    // Spark 4 is ANSI by default: a plain cast would THROW on "12abc" and
    // abort the whole ingest batch. The reference's parseInt (worker.js:
    // 139-140) takes the leading digit run: '12abc' -> 12, '1e5' -> 1,
    // ' -3' -> -3, and degrades to null only when no digits lead.
    import spark.implicits._
    val env = spark.read.schema(graft.schema.Schemas.envelope).json(
      Seq("""{"height":7,"time":"2025-06-01T00:00:00Z","app_hash":"A","txs":["dGVzdA==","dGVzdA==","dGVzdA=="],"txs_results":[
        {"code":0,"gas_wanted":"12abc","gas_used":"1e5","data":"","log":"","events":[]},
        {"code":0,"gas_wanted":" -3","gas_used":"abc","data":"","log":"","events":[]},
        {"code":0,"gas_wanted":"+7","gas_used":"9.9","data":"","log":"","events":[]}],"finalize_block_events":[]}"""
        .replaceAll("\n\\s*", "")).toDS())
    val txs = graft.ingest.Flatten(env,
      org.apache.spark.sql.functions.lit("2025-06-02 00:00:00").cast("timestamp"))
      .txs.orderBy("tx_index").collect()
    assert(txs(0).getAs[Long]("gas_wanted") === 12L) // parseInt('12abc') = 12
    assert(txs(0).getAs[Long]("gas_used") === 1L)    // parseInt('1e5') = 1
    assert(txs(1).getAs[Long]("gas_wanted") === -3L) // whitespace + sign
    assert(txs(1).isNullAt(txs(1).fieldIndex("gas_used"))) // no leading digits
    assert(txs(2).getAs[Long]("gas_wanted") === 7L)  // explicit plus
    assert(txs(2).getAs[Long]("gas_used") === 9L)    // parseInt('9.9') = 9
  }

  test("tx_events: one row per (tx, event) incl. zero-attr events") {
    val rows = tables.txEvents.orderBy("height", "tx_index", "event_index").collect()
    assert(rows.map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3))).toSeq ===
      Seq((101L, 0, 0, "message"), (101L, 0, 1, "wasm"), (101L, 1, 0, "transfer"),
        (102L, 0, 0, "no_attrs")))
  }

  test("tx_event_attrs_json: kv array + first-appearance-grouped map, JS JSON format") {
    val rows = tables.txEventAttrsJson.orderBy("height", "tx_index", "event_index").collect()
    assert(rows.length === 3) // the zero-attr event at 102 is absent
    val wasm = rows(1)
    assert(wasm.getAs[Int]("attr_count") === 3)
    assert(wasm.getAs[String]("attrs_kv") ===
      """[{"attr_index":0,"key":"contract","value":"zig1abc","indexed":true},""" +
        """{"attr_index":1,"key":"amount","value":"5","indexed":false},""" +
        """{"attr_index":2,"key":"amount","value":"7","indexed":false}]""")
    assert(wasm.getAs[String]("attrs_map") ===
      """{"contract":["zig1abc"],"amount":["5","7"]}""")
  }

  test("type routing: wasm/message parent + attr tables, indexed as 0/1") {
    assert(tables.typeWasm.count() === 1)
    assert(tables.typeMessage.count() === 1)
    val w = tables.typeWasm.collect()(0)
    assert(w.getAs[String]("tx_hash") === Tx0Hash)
    assert(w.getAs[String]("type") === "wasm")
    val wa = tables.typeWasmAttrs.orderBy("attr_index").collect()
    assert(wa.length === 3)
    assert(wa(0).getAs[Int]("indexed") === 1)
    assert(wa(1).getAs[Int]("indexed") === 0)
    val ma = tables.typeMessageAttrs.collect()
    assert(ma.length === 1)
    assert(ma(0).getAs[String]("value") === "/cosmos.bank.v1beta1.MsgSend")
    // transfer events route to neither type table
    assert(tables.typeWasmAttrs.filter(col("height") === 101 && col("tx_index") === 1).count() === 0)
  }

  test("block events + attrs from finalize_block_events") {
    val be = tables.blockEvents.collect()
    assert(be.length === 1)
    assert(be(0).getAs[String]("type") === "coin_received")
    val ba = tables.blockEventAttrs.collect()
    assert(ba.length === 1)
    assert(ba(0).getAs[String]("key") === "receiver")
    assert(ba(0).getAs[Int]("indexed") === 0)
  }

  test("invariants: attr_count == kv size; type tables subset of tx_events") {
    val badCounts = tables.txEventAttrsJson
      .filter(size(from_json(col("attrs_kv"),
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StructType(Seq())))).isNull)
    // cheap structural check: kv parses as a JSON array of attr_count elems
    val parsed = tables.txEventAttrsJson
      .withColumn("kv_n", size(split(col("attrs_kv"), "\\},\\{")))
      .filter(col("kv_n") =!= col("attr_count"))
    assert(parsed.count() === 0)
    val te = tables.txEvents.select("height", "tx_index", "event_index")
    assert(tables.typeWasm.select("height", "tx_index", "event_index")
      .except(te).count() === 0)
    assert(tables.typeMessage.select("height", "tx_index", "event_index")
      .except(te).count() === 0)
    assert(badCounts.count() >= 0) // touch the lineage
  }

  test("planted gap: anti-join over flattened blocks finds the missing height") {
    import spark.implicits._
    val present = tables.blocks.filter(col("height") =!= 101).select("height")
    val missing = spark.range(100, 103).toDF("height")
      .join(present, Seq("height"), "left_anti").collect().map(_.getLong(0))
    assert(missing.toSeq === Seq(101L))
  }

  test("extra txs_results beyond txs are dropped (reference iterates rawTxs)") {
    import spark.implicits._
    val env = spark.read.schema(Schemas.envelope).json(Seq(
      """{"height":200,"time":"2025-06-01T12:00:00Z","app_hash":"X",
        |"txs":["dGVzdA=="],
        |"txs_results":[{"code":0,"gas_wanted":"1","gas_used":"1","data":"","log":"","events":[]},
        |               {"code":9,"gas_wanted":"9","gas_used":"9","data":"","log":"","events":[]}],
        |"finalize_block_events":[]}""".stripMargin.replaceAll("\n", "")).toDS)
    val f = Flatten(env, lit("2025-06-02 00:00:00").cast("timestamp"))
    assert(f.txs.count() === 1)
    assert(f.blocks.collect()(0).getAs[Int]("txs_results_count") === 2)
  }

  test("parseIntJs property: matches a JS-parseInt model on arbitrary strings") {
    import org.scalacheck.{Gen, Prop}
    import spark.implicits._
    // JS `s ? parseInt(s) : null` model, restricted to the documented
    // contract: decimal strings (no hex auto-detect), digit runs within
    // Long range (beyond-Long runs yield null here, approx double in JS)
    def model(s: String): Option[Long] =
      if (s == null || s.isEmpty) None
      else """^\s*([+-]?\d+)""".r.findFirstMatchIn(s)
        .flatMap(m => scala.util.Try(m.group(1).toLong).toOption)
    val piece = Gen.oneOf(
      Gen.numStr.map(_.take(18)), Gen.const(" "), Gen.const("  "),
      Gen.const("+"), Gen.const("-"), Gen.const("abc"), Gen.const("12x9"),
      Gen.const("0x1A"), Gen.const(""), Gen.const("9.75"), Gen.const("\t7"))
    val strGen = Gen.listOfN(3, piece).map(_.mkString)
    val p = Prop.forAll(Gen.listOfN(40, strGen)) { ss =>
      val got = ss.toDF("s")
        .select(Flatten.parseIntJs(col("s")).as("v"))
        .collect().map(r => Option(r.get(0)).map(_.asInstanceOf[Long])).toSeq
      got == ss.map(model)
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(30), p)
    assert(res.passed, res.status.toString)
  }
}
