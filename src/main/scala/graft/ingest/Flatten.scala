package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Fns

/** The 10 analytic DataFrames derived from one envelope Dataset, plus the
  * txs and tx_events rows with their block's `date`, which the MV partials
  * aggregate. */
final case class FlatTables(
    blocks: DataFrame,
    txs: DataFrame,
    txEvents: DataFrame,
    txEventAttrsJson: DataFrame,
    typeWasm: DataFrame,
    typeWasmAttrs: DataFrame,
    typeMessage: DataFrame,
    typeMessageAttrs: DataFrame,
    blockEvents: DataFrame,
    blockEventAttrs: DataFrame,
    datedTxs: DataFrame,
    datedTxEvents: DataFrame) {
  /** The 10 tables by name. */
  def all: Seq[(String, DataFrame)] = Seq(
    "blocks" -> blocks,
    "txs" -> txs,
    "tx_events" -> txEvents,
    "tx_event_attrs_json" -> txEventAttrsJson,
    "type_wasm" -> typeWasm,
    "type_wasm_attrs" -> typeWasmAttrs,
    "type_message" -> typeMessage,
    "type_message_attrs" -> typeMessageAttrs,
    "block_events" -> blockEvents,
    "block_event_attrs" -> blockEventAttrs)
}

/** SURVEY §2.9 — the block-envelope flatten, the reference's core operator
  * (`/root/reference/src/core/worker.js:72-319`), re-expressed as declarative
  * `select`/`posexplode`/`filter` lineages over one envelope Dataset.
  *
  * Spark-first design notes:
  *  - No UDTF/Generator: each target table is its own Catalyst-optimizable
  *    lineage; callers `.cache()` the envelope Dataset once and write all ten.
  *  - Empty-block / no-attribute short-circuits (worker.js:103-109,171) fall
  *    out of inner `posexplode` (explode of an empty/null array emits nothing).
  *  - JS `||` falsy defaulting is reproduced with `coalesce` (worker.js:137-141,
  *    160,177-179,291).
  *  - The positional zip of `block.data.txs[i]` with `txs_results[i]` (J7,
  *    worker.js:134-136) is `posexplode(arrays_zip(...))`; extra results
  *    beyond `txs` are dropped like the reference's `rawTxs`-driven loop.
  */
object Flatten {

  /** JS `s ? parseInt(s) : null` parity for RPC-supplied integer strings
    * (worker.js:139-140): skip leading whitespace, take an optional sign and
    * the leading digit run — so '123abb' parses to 123 like parseInt, instead
    * of try_cast's null — and degrade to null (never an ANSI abort) when no
    * digits lead. Accepted divergences: (a) parseInt's hex auto-detect
    * ('0x1f') — RPC gas values are decimal strings; (b) digit runs beyond
    * Long range (a 20+-digit gas value) yield null here where JS parseInt
    * returns an approximate double — gas is bounded by block gas limits
    * (~1e8), 11 orders of magnitude under Long.MaxValue, so a >19-digit run
    * is corrupt input and null-on-corrupt matches the rest of the flatten. */
  private[graft] def parseIntJs(s: Column): Column =
    regexp_extract(s, "^\\s*([+-]?\\d+)", 1).try_cast("long")

  /** Normalized attribute array with positional index, JS-default semantics. */
  private def attrsNorm(attrs: Column): Column =
    transform(attrs, (a, i) => struct(
      i.cast("int").as("attr_index"),
      coalesce(a.getField("key"), lit("")).as("key"),
      coalesce(a.getField("value"), lit("")).as("value"),
      coalesce(a.getField("index"), lit(false)).as("indexed")))

  /** attrs_map: key -> all values, keys in first-appearance order
    * (worker.js:183-184 builds a JS object in insertion order). */
  private def attrsMap(norm: Column): Column = {
    val keys = array_distinct(transform(norm, a => a.getField("key")))
    map_from_arrays(
      keys,
      transform(keys, k =>
        transform(filter(norm, a => a.getField("key") === k), a => a.getField("value"))))
  }

  /** Flatten an envelope DataFrame (schema `Schemas.envelope`) into the
    * 10-table catalog. `processedAt`, an expression over an envelope row,
    * feeds the processing-time `created_at` columns (worker.js:216,226,236
    * use now(); tests pass a fixed literal, `Ingest.write` a column of its
    * cached input). Each tx and event carries it, and its MV `date`, down
    * from its own envelope row, so the MV partials need no join back to
    * `blocks`. */
  def apply(envelopes: DataFrame, processedAt: Column = current_timestamp()): FlatTables = {
    // Block time: RFC3339 (possibly nanos) -> epoch seconds (worker.js:75).
    val blockTime = timestamp_seconds(unix_timestamp(col("time").cast("timestamp")))
    val date = to_date(blockTime).as("date")

    val blocks = envelopes.select(
      col("height"),
      coalesce(col("app_hash"), lit("")).as("app_hash"),
      coalesce(size(col("txs_results")), lit(0)).as("txs_results_count"),
      coalesce(size(col("finalize_block_events")), lit(0)).as("finalize_events_count"),
      blockTime.as("created_at"))

    // --- per-tx: zip raw txs with their results positionally (J7) ----------
    val zipped = envelopes
      .select(col("height"), date, processedAt.as("processed_at"),
        posexplode(arrays_zip(col("txs"), col("txs_results"))))
      .withColumnRenamed("pos", "tx_index")
      // arrays_zip pads the shorter array with nulls; the reference iterates
      // rawTxs, so positions past txs.length are dropped (worker.js:134).
      .filter(col("col.txs").isNotNull)
      .select(
        col("height"),
        col("date"),
        col("processed_at"),
        col("tx_index").cast("int"),
        col("col.txs").as("raw_tx"),
        col("col.txs_results").as("r"))
      .withColumn("tx_hash", Fns.txHash(col("raw_tx")))

    val datedTxs = zipped.select(
      col("date"),
      col("height"),
      col("tx_index"),
      coalesce(col("r.code"), lit(0)).as("code"), // JS `code || 0`
      parseIntJs(col("r.gas_wanted")).as("gas_wanted"),
      parseIntJs(col("r.gas_used")).as("gas_used"),
      when(coalesce(col("r.data"), lit("")) === "", lit(""))
        .otherwise(Fns.b64ToHex(col("r.data"))).as("data"),
      col("tx_hash"),
      coalesce(col("r.log"), lit("")).as("log"))
    val txs = datedTxs.drop("date")

    // --- per-(tx, event) ---------------------------------------------------
    val events = zipped
      .select(col("height"), col("date"), col("processed_at"), col("tx_index"),
        col("tx_hash"), posexplode(col("r.events")))
      .withColumnRenamed("pos", "event_index")
      .select(
        col("height"), col("date"), col("processed_at"), col("tx_index"),
        col("event_index").cast("int"),
        col("tx_hash"),
        coalesce(col("col.type"), lit("")).as("event_type"),
        col("col.attributes").as("attrs"))

    val datedTxEvents = events.select(
      col("date"), col("height"), col("tx_index"), col("event_index"),
      col("event_type").as("type"))
    val txEvents = datedTxEvents.drop("date")

    // Attribute-bearing events only (worker.js:171 `if attributes.length > 0`).
    val withAttrs = events
      .filter(size(col("attrs")) > 0)
      .withColumn("norm", attrsNorm(col("attrs")))

    val txEventAttrsJson = withAttrs.select(
      col("height"), col("tx_index"), col("event_index"),
      to_json(col("norm")).as("attrs_kv"),
      to_json(attrsMap(col("norm"))).as("attrs_map"),
      size(col("attrs")).as("attr_count"),
      col("processed_at").as("created_at"))

    def typeParent(t: String): DataFrame = withAttrs
      .filter(col("event_type") === t)
      .select(
        col("height"), col("tx_index"), col("event_index"),
        col("event_type").as("type"), col("tx_hash"),
        col("processed_at").as("created_at"))

    def typeAttrs(t: String): DataFrame = withAttrs
      .filter(col("event_type") === t)
      .select(col("height"), col("tx_index"), col("event_index"), explode(col("norm")).as("a"))
      .select(
        col("height"), col("tx_index"), col("event_index"),
        col("a.attr_index"), col("a.key"), col("a.value"),
        col("a.indexed").cast("int").as("indexed"))

    // --- per finalize-block event (worker.js:280-319) ----------------------
    val fbe = envelopes
      .select(col("height"), posexplode(col("finalize_block_events")))
      .withColumnRenamed("pos", "event_index")
      .select(
        col("height"), col("event_index").cast("int"),
        coalesce(col("col.type"), lit("")).as("type"),
        col("col.attributes").as("attrs"))

    val blockEvents = fbe.select(col("height"), col("event_index"), col("type"))

    val blockEventAttrs = fbe
      .select(col("height"), col("event_index"), posexplode(col("attrs")))
      .withColumnRenamed("pos", "attr_index")
      .select(
        col("height"), col("event_index"), col("attr_index").cast("int"),
        coalesce(col("col.key"), lit("")).as("key"),
        coalesce(col("col.value"), lit("")).as("value"),
        coalesce(col("col.index"), lit(false)).cast("int").as("indexed"))

    FlatTables(
      blocks = blocks,
      txs = txs,
      txEvents = txEvents,
      txEventAttrsJson = txEventAttrsJson,
      typeWasm = typeParent("wasm"),
      typeWasmAttrs = typeAttrs("wasm"),
      typeMessage = typeParent("message"),
      typeMessageAttrs = typeAttrs("message"),
      blockEvents = blockEvents,
      blockEventAttrs = blockEventAttrs,
      datedTxs = datedTxs,
      datedTxEvents = datedTxEvents)
  }
}
