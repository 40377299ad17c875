package graft.indexer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType

/** Raw chain JSON → normalized frames.
  *
  * The reference's per-height worker loop (main.go:255-312: fetch block,
  * write block_info, decode txs, insert messages, fetch block_results,
  * insert events) becomes declarative transforms over a DataFrame of
  * `(height, raw_json)` rows. At scale the input is a partitioned landing
  * zone of raw block dumps; each transform is a single pass with native
  * `from_json` — no per-row RPC, no driver-side loops.
  *
  * Each table has ONE builder over parsed struct columns (`block`,
  * `block_results`): [[blockInfoOf]], [[txsOf]], [[eventsOf]]. The
  * JSON-string entry points ([[blockInfo]], [[txsFromBlocks]],
  * [[events]]) are one `from_json` plus that builder, and the live path
  * parses each landed envelope once ([[parseEnvelope]]) and runs the same
  * builders over the parsed rows.
  */
object Ingest {

  /** Live landing envelopes `(height, block_json)` → `(height, block,
    * block_results)`: ONE `from_json` per row, whether the document is an
    * envelope `{"block":{…},"block_results":{…}}` or a plain block
    * document (its top-level `header` and `data` become `block`, and its
    * `block_results` is null: zero events). A malformed document parses to
    * an all-null `block`, as [[blockInfo]] parses it.
    */
  def parseEnvelope(raw: DataFrame): DataFrame =
    raw.select(col("height"), from_json(col("block_json"), Model.envelopeSchema).as("e"))
      .select(
        col("height"),
        coalesce(col("e.block"),
          struct(col("e.header").as("header"), col("e.data").as("data"))).as("block"),
        col("e.block_results").as("block_results"))

  private def parseBlocks(blocks: DataFrame): DataFrame =
    blocks.select(col("height"), from_json(col("block_json"), Model.blockSchema).as("block"))

  /** Blocks: `(height, block_json)` → block_info (db.go:178-201 columns). */
  def blockInfo(blocks: DataFrame): DataFrame = blockInfoOf(parseBlocks(blocks))

  /** [[blockInfo]] over a parsed `block` struct column. */
  def blockInfoOf(parsed: DataFrame): DataFrame =
    parsed.select(
      col("height"),
      col("block.header.last_block_id.hash").as("block_hash"),
      col("block.header.last_block_id.part_set_header.total").as("last_block_total_parts"),
      col("block.header.last_block_id.part_set_header.hash").as("last_block_part_set_header_hash"),
      col("block.header.version.block").as("block_version"),
      col("block.header.chain_id").as("chain_id"),
      to_timestamp(col("block.header.time")).as("block_time"),
      col("block.header.last_commit_hash").as("last_commit_hash"),
      col("block.header.data_hash").as("data_hash"),
      col("block.header.validators_hash").as("validators_hash"),
      col("block.header.next_validators_hash").as("next_validators_hash"),
      col("block.header.consensus_hash").as("consensus_hash"),
      col("block.header.app_hash").as("app_hash"),
      col("block.header.last_results_hash").as("last_results_hash"),
      col("block.header.evidence_hash").as("evidence_hash"),
      col("block.header.proposer_address").as("proposer_address"))

  /** Block JSON → `(height, tx_json)`: explodes `data.txs`, closing the
    * block→tx→message lineage without a separate tx input frame.
    *
    * CONTRACT — txs must land PRE-DECODED to JSON. The reference shells
    * out to the chain CLI to decode base64 protobuf txs (execute.go:82,
    * main.go:271-284); no chain binary exists in a Spark cluster, so that
    * decode belongs upstream, at landing time. Entries that are not JSON
    * objects (e.g. still-encoded base64) flow through and are null-routed
    * by [[messages]] (`try_variant_get` yields no messages for them) —
    * they never fail the pipeline.
    */
  def txsFromBlocks(blocks: DataFrame): DataFrame = txsOf(parseBlocks(blocks))

  /** [[txsFromBlocks]] over a parsed `block` struct column. */
  def txsOf(parsed: DataFrame): DataFrame =
    parsed.select(col("height"), explode(col("block.data.txs")).as("tx_json"))

  /** Full lineage: block JSON → exploded txs → one row per message. */
  def messagesFromBlocks(blocks: DataFrame): DataFrame =
    messages(txsFromBlocks(blocks))

  /** Per-tx decode contract: raw tx entry (base64 protobuf on a real
    * chain) → decoded JSON, or None for undecodable input. Implemented
    * by a pluggable codec constructed BY NAME per partition (a no-arg
    * class; nothing is serialized), so a real deployment drops in a
    * protobuf-descriptor or CLI-backed decoder and nothing else changes.
    */
  trait TxDecoder {
    def decode(raw: String): Option[String]
  }

  /** Already-JSON entries pass through; everything else is dropped —
    * the pre-decoded-landing contract of [[txsFromBlocks]] as a codec.
    */
  class JsonPassthroughDecoder extends TxDecoder {
    override def decode(raw: String): Option[String] = {
      val t = raw.trim
      if (t.startsWith("{")) Some(t) else None
    }
  }

  /** STUB chain codec — the sandbox stand-in for the reference's CLI
    * decode (execute.go:82-109, main.go:271-284; no chain binary exists
    * in a Spark cluster). JSON passes through; a valid base64 entry
    * decodes to a DETERMINISTIC envelope carrying the payload's length
    * and crc32 under a clearly-fake message type, so the full
    * block→tx→message lineage is exercisable end-to-end; corrupt
    * entries yield None (null-routed, never a failed task). The REAL
    * in-JVM codec behind the same two-line contract is
    * [[graft.indexer.ProtoTxDecoder]] (wire-format TxRaw/TxBody/Any
    * walk + schema registry); this stub stays as the dependency-free
    * envelope for harness tests that only need lineage shape.
    */
  class StubBase64Decoder extends TxDecoder {
    override def decode(raw: String): Option[String] = {
      val t = raw.trim
      if (t.startsWith("{")) Some(t)
      else {
        try {
          val bytes = java.util.Base64.getDecoder.decode(t)
          val crc = new java.util.zip.CRC32
          crc.update(bytes)
          Some(s"""{"body":{"messages":[{"@type":"/graft.stub.DecodedTx",""" +
            s""""n_bytes":${bytes.length},"crc32":"${crc.getValue}"}]}}""")
        } catch { case _: IllegalArgumentException => None }
      }
    }
  }

  /** The decode step of the reference's worker loop as a distributed
    * transform: `(height, tx_json)` rows run through the codec with
    * per-partition initialization (`mapPartitions` — one decoder
    * instance per task, the seam a descriptor-set or JNI codec needs
    * for its own expensive init). Undecodable entries are DROPPED here
    * rather than poisoning downstream parsing; [[messages]] would
    * null-route them anyway, so the two stages compose either way.
    */
  def decodeTxs(txs: DataFrame,
      decoderClass: String = classOf[JsonPassthroughDecoder].getName): DataFrame = {
    val spark = txs.sparkSession
    import spark.implicits._
    txs.select(col("height").cast("long"), col("tx_json").cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val dec = Class.forName(decoderClass).getDeclaredConstructor()
          .newInstance().asInstanceOf[TxDecoder]
        it.flatMap { case (h, raw) => dec.decode(raw).map(j => (h, j)) }
      }
      .toDF("height", "tx_json")
  }

  /** Decoded txs: `(height, tx_json)` → one row per message with type,
    * sender (creator|sender|from_address precedence, process_tx.go:48-57),
    * raw payload, and a content hash for insert-ignore dedup (db.go:573).
    *
    * Messages are heterogeneous (every `@type` has its own shape), so the
    * array is exploded as VariantType — Spark's native semi-structured
    * column — which keeps the full nested payload per message without
    * committing to a schema; per-type routers re-parse `data` with their
    * own schemas.
    */
  def messages(txs: DataFrame): DataFrame =
    txs.select(
      col("height"),
      // try_parse_json: a non-JSON entry (still-encoded base64, corrupt
      // landing line) contributes zero messages instead of failing the
      // scan. Outer explode, then its synthetic null row dropped: an inner
      // explode would get `size(...) > 0` inferred and pushed below it,
      // parsing every tx twice (see Routers.zipScores).
      posexplode_outer(try_variant_get(try_parse_json(col("tx_json")),
        "$.body.messages", "array<variant>")).as(Seq("pos", "m")))
      .filter(col("pos").isNotNull)
      // `data` in its own projection: `hash` reuses it instead of
      // serializing the message again
      .select(col("height"), col("m"), to_json(col("m")).as("data"))
      .select(
        col("height"),
        try_variant_get(col("m"), "$['@type']", "string").as("type"),
        coalesce(
          try_variant_get(col("m"), "$.creator", "string"),
          try_variant_get(col("m"), "$.sender", "string"),
          try_variant_get(col("m"), "$.from_address", "string")).as("sender"),
        col("data"),
        xxhash64(col("data")).as("hash"))

  /** Consensus params: `(params_json)` → one flattened row per snapshot
    * (process_consensus.go:10-30, db.go:203-214 columns; pub_key_types
    * joined with commas as the reference does).
    */
  def consensusParams(params: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("params", StructType(Seq(
      StructField("block", StructType(Seq(
        StructField("max_bytes", StringType),
        StructField("max_gas", StringType)))),
      StructField("evidence", StructType(Seq(
        StructField("max_age_num_blocks", StringType),
        StructField("max_age_duration", StringType),
        StructField("max_bytes", StringType)))),
      StructField("validator", StructType(Seq(
        StructField("pub_key_types", ArrayType(StringType))))))))))
    params.select(from_json(col("params_json"), schema).as("p")).select(
      col("p.params.block.max_bytes").as("max_bytes"),
      col("p.params.block.max_gas").as("max_gas"),
      col("p.params.evidence.max_age_duration").as("max_age_duration"),
      col("p.params.evidence.max_age_num_blocks").as("max_age_num_blocks"),
      col("p.params.evidence.max_bytes").as("evidence_max_bytes"),
      concat_ws(",", col("p.params.validator.pub_key_types")).as("pub_key_types"))
  }

  /** Block results: `(height, results_json)` → one row per whitelisted
    * event, block-level and tx-level merged (process_events.go:119-145),
    * with attributes kept structured and the sender attribute lifted.
    */
  def events(results: DataFrame): DataFrame =
    eventsOf(results.select(col("height"),
      from_json(col("results_json"), Model.blockResultsSchema).as("block_results")))

  /** [[events]] over a parsed `block_results` struct column (null: no
    * events). Block-level and tx-level events explode in ONE generator.
    * Every list is made non-null first: `concat` and `flatten` return null
    * when any input array is null, so one tx with null `events` would
    * otherwise drop its siblings' events. The explode is outer with its
    * synthetic null row dropped, so no `size(...) > 0` filter is inferred
    * and pushed below it (see Routers.zipScores).
    */
  def eventsOf(parsed: DataFrame): DataFrame = {
    val none = array().cast(ArrayType(Model.eventSchema))
    val txEvents = flatten(transform(col("block_results.txs_results"),
      tx => coalesce(tx.getField("events"), none)))
    val all = concat(
      coalesce(col("block_results.finalize_block_events"), none),
      coalesce(txEvents, none))
    val attrsMap = map_from_entries(col("ev.attributes"))
    parsed.select(col("height"), posexplode_outer(all).as(Seq("pos", "ev")))
      .filter(col("pos").isNotNull)
      .select(
        col("height"),
        col("ev.type").as("type"),
        element_at(split(col("ev.type"), "\\."), -1).as("base_type"),
        col("ev.attributes").as("attributes"),
        attrsMap.getItem("sender").as("sender"),
        xxhash64(to_json(col("ev.attributes"))).as("hash"))
  }
}
