package graft

import org.apache.spark.sql.functions._
import graft.pipeline.{Pipeline, PipelineConfig}
import graft.queries.Tools
import graft.sources.{RpcClient, RpcConfig}

/** Fixture chain for ToolsSpec, kept OUTSIDE the suite class: the RPC
  * transport ships to executors inside RpcClient, and a lambda defined on
  * the suite would drag the non-serializable ScalaTest engine with it. */
object ToolsFixture extends Serializable {
  def sha256Upper(b64: String): String = {
    val bytes = java.util.Base64.getDecoder.decode(b64)
    java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
      .map("%02X".format(_)).mkString
  }

  // two blocks; block 1 has two txs (one with two message actions, one with
  // none), block 2 has one tx with a single action
  val tx1: String = java.util.Base64.getEncoder.encodeToString("tx-one".getBytes)
  val tx2: String = java.util.Base64.getEncoder.encodeToString("tx-two".getBytes)
  val tx3: String = java.util.Base64.getEncoder.encodeToString("tx-three".getBytes)

  def eventsJson(actions: Seq[String]): String =
    if (actions.isEmpty)
      """[{"type":"wasm","attributes":[{"key":"k","value":"v","index":true}]}]"""
    else actions.map(a =>
      s"""{"type":"message","attributes":[{"key":"action","value":"$a","index":true}]}""")
      .mkString("[", ",", "]")

  val txActions: Map[String, Seq[String]] = Map(
    sha256Upper(tx1) -> Seq("/cosmos.bank.MsgSend", "/cosmwasm.MsgExecute"),
    sha256Upper(tx2) -> Seq.empty[String],
    sha256Upper(tx3) -> Seq("/cosmos.bank.MsgSend"))

  val transport: (String, String) => String = (_, pth) =>
    if (pth.startsWith("/block_results")) {
      val h = pth.dropWhile(!_.isDigit).toLong
      val txs = if (h == 1) Seq(tx1, tx2) else Seq(tx3)
      val results = txs.map(t =>
        s"""{"code":0,"gas_wanted":"1","gas_used":"1","data":"","log":"",
           |"events":${eventsJson(txActions(sha256Upper(t)))}}""".stripMargin
          .replaceAll("\n", ""))
      s"""{"result":{"txs_results":[${results.mkString(",")}],"finalize_block_events":[]}}"""
    } else if (pth.startsWith("/block")) {
      val h = pth.dropWhile(!_.isDigit).toLong
      val txs = (if (h == 1) Seq(tx1, tx2) else Seq(tx3))
        .map("\"" + _ + "\"").mkString(",")
      s"""{"result":{"block":{"header":{"time":"2025-06-01T12:00:0${h}Z","app_hash":"AH$h"},"data":{"txs":[$txs]}}}}"""
    } else if (pth.startsWith("/tx")) {
      val hash = pth.drop("/tx?hash=0x".length)
      s"""{"result":{"hash":"$hash","height":"0","tx_result":{"events":${eventsJson(txActions(hash))}}}}"""
    } else """{"result":{"sync_info":{"latest_block_height":"2"}}}"""

  def client = new RpcClient(
    RpcConfig(Seq("http://fixture"), sleeper = _ => ()), transport)
}

/** The two reference ops utilities: the per-tx message-action debug oracle
  * (check_msgs.js analogue) and the one-command health probe
  * (test_connection.js analogue). */
class ToolsSpec extends SparkTestBase {
  import ToolsFixture._

  test("checkMessages: warehouse in sync -> every tx matches its RPC readback") {
    val env = graft.sources.RpcSource.fetchEnvelopes(spark, client, 1, 2, 2)
    val flat = graft.ingest.Flatten(env)
    val got = Tools.checkMessages(spark, client,
      flat.typeMessage, flat.typeMessageAttrs, 1, 2).collect()
    assert(got.length === 3) // three txs total
    assert(got.forall(_.getAs[Boolean]("matches")), got.mkString("\n"))
    val byHash = got.map(r => r.getAs[String]("tx_hash") ->
      r.getAs[Seq[String]]("rpc_actions")).toMap
    assert(byHash(sha256Upper(tx1)) ===
      Seq("/cosmos.bank.MsgSend", "/cosmwasm.MsgExecute"))
    assert(byHash(sha256Upper(tx2)) === Seq.empty)
  }

  test("checkMessages: drifted warehouse rows are flagged, not masked") {
    val env = graft.sources.RpcSource.fetchEnvelopes(spark, client, 1, 2, 2)
    val flat = graft.ingest.Flatten(env)
    // drop one action attribute row: tx1's recorded actions lose MsgExecute
    val tampered = flat.typeMessageAttrs
      .filter(!(col("value") === "/cosmwasm.MsgExecute"))
    val got = Tools.checkMessages(spark, client,
      flat.typeMessage, tampered, 1, 2).collect()
    val bad = got.filter(!_.getAs[Boolean]("matches"))
    assert(bad.map(_.getAs[String]("tx_hash")).toSeq === Seq(sha256Upper(tx1)))
  }

  test("healthProbe: reachable RPC + complete warehouse + fresh index state") {
    var clock = 5000L
    val dir = java.nio.file.Files.createTempDirectory("graft_health").toString
    val p = new Pipeline(spark, PipelineConfig(
      warehouse = dir, startHeight = 1, assignRange = 2, numWorkers = 1,
      backfillMode = true, now = () => { clock += 1; clock }))
    p.runOnce(tip = 2, fetch = iv =>
      graft.sources.RpcSource.fetchEnvelopes(spark, client, iv.start, iv.end, 1))
    // failed_blocks only materializes on failure; probe the tables that exist
    val row = Tools.healthProbe(spark, dir, p, Some(client), () => clock + 30,
      expected = Seq("blocks", "txs", "index_state", "work_queue")).collect()(0)
    assert(row.getAs[Boolean]("rpc_ok"))
    assert(row.getAs[Long]("tip") === 2L)
    assert(row.getAs[Int]("tables_present") === 4)
    assert(row.getAs[String]("tables_missing") === "")
    assert(row.getAs[Long]("last_height") === 2L)
    assert(row.getAs[Long]("updated_secs_ago") === 30L)
  }

  test("healthProbe: dead RPC + empty warehouse reported as data, not thrown") {
    val deadClient = new RpcClient(
      RpcConfig(Seq("http://dead"), retriesPerEndpoint = 1, sleeper = _ => ()),
      (_, _) => throw new RuntimeException("down"))
    val dir = java.nio.file.Files.createTempDirectory("graft_health2").toString
    val p = new Pipeline(spark, PipelineConfig(warehouse = dir))
    val row = Tools.healthProbe(spark, dir, p, Some(deadClient), () => 0L).collect()(0)
    assert(!row.getAs[Boolean]("rpc_ok"))
    assert(row.getAs[Long]("tip") === -1L)
    assert(row.getAs[Int]("tables_present") === 0)
    assert(row.getAs[Long]("last_height") === -1L)
    assert(row.getAs[Long]("updated_secs_ago") === -1L)
  }

  test("Era.quality: positive, finite, and JSON-embeddable") {
    val q = Era.quality()
    // a sane host runs xorshift64 at hundreds of Msteps/s; even a 95%-stolen
    // era stays comfortably above 1 — the assert guards sign/overflow bugs,
    // not host speed
    assert(q > 1.0 && q < 1e6, s"era_quality out of sane range: $q")
  }
}
