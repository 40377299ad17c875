package graft.indexer

import org.apache.spark.sql.types._

/** Schemas for the chain data model the reference ingests.
  *
  * Shapes follow the public CometBFT RPC / Cosmos SDK JSON the reference
  * consumes (cf. /root/reference/types/block.go, process_events.go:63-89):
  * a block query result (header + base64 txs), a decoded tx (body.messages),
  * and a block_results event list (`type` + `[{key,value}]` attributes).
  * Explicit schemas — never schema inference — so a 100 TB ingest plans one
  * pass with full column pruning.
  */
object Model {

  /** `[{key, value}]` attribute list attached to every ABCI event. */
  val attributeType: ArrayType = ArrayType(StructType(Seq(
    StructField("key", StringType),
    StructField("value", StringType))))

  /** One emitted chain event (process_events.go:81-89). */
  val eventSchema: StructType = StructType(Seq(
    StructField("type", StringType),
    StructField("attributes", attributeType)))

  /** Block query result: header + raw txs (types/block.go shape). */
  val blockSchema: StructType = StructType(Seq(
    StructField("header", StructType(Seq(
      StructField("version", StructType(Seq(StructField("block", StringType)))),
      StructField("chain_id", StringType),
      StructField("height", StringType),
      StructField("time", StringType),
      StructField("last_block_id", StructType(Seq(
        StructField("hash", StringType),
        StructField("part_set_header", StructType(Seq(
          StructField("total", IntegerType),
          StructField("hash", StringType))))))),
      StructField("last_commit_hash", StringType),
      StructField("data_hash", StringType),
      StructField("validators_hash", StringType),
      StructField("next_validators_hash", StringType),
      StructField("consensus_hash", StringType),
      StructField("app_hash", StringType),
      StructField("last_results_hash", StringType),
      StructField("evidence_hash", StringType),
      StructField("proposer_address", StringType)))),
    StructField("data", StructType(Seq(
      StructField("txs", ArrayType(StringType)))))))

  /** `block_results` response: block-level + per-tx events
    * (process_events.go:63-80).
    */
  val blockResultsSchema: StructType = StructType(Seq(
    StructField("height", StringType),
    StructField("finalize_block_events", ArrayType(eventSchema)),
    StructField("txs_results", ArrayType(StructType(Seq(
      StructField("code", IntegerType),
      StructField("events", ArrayType(eventSchema))))))))

  /** The live landing document: `{"block":{…},"block_results":{…}}`, the
    * two RPC responses of one height. A plain block document has no
    * envelope; its top-level `header` and `data` are parsed by the same
    * schema, so either shape takes one `from_json`
    * ([[Ingest.parseEnvelope]]).
    */
  val envelopeSchema: StructType = StructType(Seq(
    StructField("block", blockSchema),
    StructField("block_results", blockResultsSchema)) ++ blockSchema.fields)

  /** The reference stores NUMERIC(72,18) (db.go:414); Spark's maximum
    * decimal precision is 38, which still carries 18 fractional digits for
    * values up to 10^20 — the working range of chain scores/rewards.
    */
  val chainDecimal: DecimalType = DecimalType(38, 18)
}
