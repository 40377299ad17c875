package graft.indexer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Type-based routing of messages and events into normalized tables.
  *
  * Re-expresses the reference's dispatch switches (process_tx.go:66-170 for
  * messages, db.go:691-740 for events) as declarative filters + per-type
  * parsers. Every parser is one `from_json` + projection + (where the
  * payload carries parallel arrays) a `posexplode(arrays_zip(...))` — the
  * reference's imperative `for i in addresses { insert }` loops
  * (db.go:913-920) become a columnar zip-explode that Catalyst pipelines
  * into the scan.
  */
object Routers {

  // ---- shared helpers -----------------------------------------------------

  /** Attribute values arrive JSON-quoted ("\"inferer\"") or bare. */
  private def unquote(c: Column): Column = regexp_replace(c, "^\"|\"$", "")

  private def attrs: Column = map_from_entries(col("attributes"))

  private def attr(key: String): Column = unquote(attrs.getItem(key))

  private def jsonStrArray(c: Column): Column = from_json(c, ArrayType(StringType))

  private def jsonBoolArray(c: Column): Column = from_json(c, ArrayType(BooleanType))

  /** Numeric guard mirroring isInvalidNumericValue (db.go:893): malformed
    * score strings are dropped, not crashed on.
    */
  private def validNumeric(c: Column): Column =
    c.rlike("^-?[0-9]+(\\.[0-9]+)?([eE][-+]?[0-9]+)?$")

  private def dec(c: Column): Column = c.cast(Model.chainDecimal)

  /** prefix/suffix event matching (db.go:638-640 isEventType). */
  private def isEvent(module: String, suffix: String): Column =
    col("type").startsWith(module) && col("type").endsWith(suffix)

  // ---- event routing ------------------------------------------------------

  /** The event whitelist (process_events.go:49-61): anything else is
    * dropped before parsing.
    */
  val eventCategories: Seq[(String, String, String)] = Seq(
    ("emissions.v", "EventScoresSet", "score"),
    ("emissions.v", "EventRewardsSettled", "reward"),
    ("emissions.v", "EventNetworkLossSet", "networkloss"),
    ("emissions.v", "EventForecastTaskScoreSet", "forecastTaskScore"),
    ("emissions.v", "EventWorkerLastCommitSet", "lastcommit"),
    ("emissions.v", "EventReputerLastCommitSet", "lastcommit"),
    ("emissions.v", "EventTopicRewardsSet", "topicReward"),
    ("emissions.v", "EventEMAScoresSet", "emascore"),
    ("mint.v", "EventTokenomicsSet", "tokenomics"),
    ("mint.v", "EventEcosystemTokenMintSet", "ecosystemTokenMint"),
    ("mint.v", "EventRewardCurrentBlockEmission", "rewardCurrentBlockEmission"))

  /** Whitelist + categorize; non-whitelisted events are filtered out. */
  def routeEvents(events: DataFrame): DataFrame = {
    val category = eventCategories
      .map { case (m, s, cat) => (isEvent(m, s), cat) }
      .foldLeft(lit(null).cast(StringType)) { case (acc, (cond, cat)) =>
        when(cond, cat).otherwise(acc)
      }
    events.withColumn("category", category).filter(col("category").isNotNull)
  }

  /** EventScoresSet → scores rows (db.go:842-937): parallel
    * addresses/scores arrays zip-exploded, invalid numerics dropped.
    */
  def scores(events: DataFrame): DataFrame =
    zipScores(events, "EventScoresSet")

  /** EventRewardsSettled → rewards rows (db.go:939-1017): same shape. */
  def rewards(events: DataFrame): DataFrame =
    zipScores(events, "EventRewardsSettled")

  private def zipScores(events: DataFrame, suffix: String): DataFrame = {
    val valuesKey = if (suffix == "EventRewardsSettled") "rewards" else "scores"
    events.filter(isEvent("emissions.v", suffix))
      // Three staged projections, not one (measured 234 s → target at
      // sf100/120M events): (1) the attribute MAP is aliased so it
      // builds once per row — CollapseProject keeps a multiply-referenced
      // non-cheap alias in its own project instead of inlining five
      // map_from_entries; (2) the zip lands as a MATERIALIZED column, so
      // the generator explodes a ready array; (3) posexplode_OUTER —
      // InferFiltersFromGenerate skips outer generators, so no
      // `size(...) > 0` filter gets inferred and pushed below the
      // projection where alias substitution would re-run both from_json
      // per input row (the explode(expensiveExpr) trap). A null/empty
      // zip contributes one all-null element that the numeric guard
      // drops, so output rows are identical to the inner explode.
      .select(col("height").as("height_tx"), attrs.as("am"))
      .select(
        col("height_tx"),
        unquote(col("am").getItem("block_height")).cast(LongType).as("height"),
        unquote(col("am").getItem("topic_id")).cast(IntegerType).as("topic_id"),
        unquote(col("am").getItem("actor_type")).as("type"),
        arrays_zip(
          jsonStrArray(col("am").getItem("addresses")),
          jsonStrArray(col("am").getItem(valuesKey))).as("zs"))
      .select(col("height_tx"), col("height"), col("topic_id"), col("type"),
        posexplode_outer(col("zs")).as(Seq("pos", "z")))
      .select(
        col("height_tx"), col("height"), col("topic_id"), col("type"),
        col("z.0").as("address"),
        unquote(col("z.1")).as("raw_value"))
      .filter(validNumeric(col("raw_value")))
      .withColumn("value", dec(col("raw_value")))
      .drop("raw_value")
  }

  /** EventEMAScoresSet → ema_scores rows (db.go:1246-1350): three-way
    * zip (addresses, scores, is_active).
    */
  def emaScores(events: DataFrame): DataFrame =
    events.filter(isEvent("emissions.v", "EventEMAScoresSet"))
      // staged projections + outer explode — see [[zipScores]]
      .select(col("height").as("height_tx"), attrs.as("am"))
      .select(
        col("height_tx"),
        unquote(col("am").getItem("nonce")).cast(LongType).as("height"),
        unquote(col("am").getItem("topic_id")).cast(IntegerType).as("topic_id"),
        unquote(col("am").getItem("actor_type")).as("type"),
        arrays_zip(
          jsonStrArray(col("am").getItem("addresses")),
          jsonStrArray(col("am").getItem("scores")),
          jsonBoolArray(col("am").getItem("is_active"))).as("zs"))
      .select(col("height_tx"), col("height"), col("topic_id"), col("type"),
        posexplode_outer(col("zs")).as(Seq("pos", "z")))
      .select(
        col("height_tx"), col("height"), col("topic_id"), col("type"),
        col("z.0").as("address"),
        unquote(col("z.1")).as("raw_score"),
        col("z.2").as("is_active"))
      .filter(validNumeric(col("raw_score")))
      .withColumn("score", dec(col("raw_score")))
      .drop("raw_score")

  /** EventTopicRewardsSet → topic_rewards (db.go:1187-1244): zip of
    * topic_ids and rewards.
    */
  def topicRewards(events: DataFrame): DataFrame =
    events.filter(isEvent("emissions.v", "EventTopicRewardsSet"))
      // staged projections + outer explode — see [[zipScores]]
      .select(col("height").as("height_tx"), attrs.as("am"))
      .select(
        col("height_tx"),
        arrays_zip(
          jsonStrArray(col("am").getItem("topic_ids")),
          jsonStrArray(col("am").getItem("rewards"))).as("zs"))
      .select(col("height_tx"), posexplode_outer(col("zs")).as(Seq("pos", "z")))
      // drop only the outer explode's synthetic null row (pos is null
      // exactly there; zip-padded real elements keep their position)
      .filter(col("pos").isNotNull)
      .select(
        col("height_tx"),
        unquote(col("z.0")).cast(IntegerType).as("topic_id"),
        unquote(col("z.1")).as("reward"))

  /** EventForecastTaskScoreSet → topic_forecasting_scores (db.go:1069-1116). */
  def forecastTaskScores(events: DataFrame): DataFrame =
    events.filter(isEvent("emissions.v", "EventForecastTaskScoreSet"))
      .select(
        col("height").as("height_tx"),
        attr("topic_id").cast(IntegerType).as("topic_id"),
        attr("score").as("score"))

  /** Worker/Reputer last-commit events → last_commit_values with
    * update-wins per (topic_id, is_worker) (db.go:1118-1185).
    */
  def actorLastCommit(events: DataFrame): DataFrame =
    Upsert.latestWins(lastCommitRows(events), Seq("topic_id", "is_worker"), col("height_tx"))

  /** Every last-commit event as a last_commit_values row, before the
    * update-wins resolution of [[actorLastCommit]]. The live indexer
    * stages these: its sink resolves latest-wins per key anyway.
    */
  def lastCommitRows(events: DataFrame): DataFrame = {
    val nonceSchema = MapType(StringType, StringType)
    events
      .filter(isEvent("emissions.v", "EventWorkerLastCommitSet") ||
        isEvent("emissions.v", "EventReputerLastCommitSet"))
      .select(
        attr("block_height").cast(LongType).as("height_tx"),
        from_json(attrs.getItem("nonce"), nonceSchema).getItem("block_height")
          .cast(LongType).as("height"),
        attr("topic_id").cast(IntegerType).as("topic_id"),
        col("type").endsWith("EventWorkerLastCommitSet").as("is_worker"))
  }

  /** EventTokenomicsSet → tokenomics (db.go:1352-1410). */
  def tokenomics(events: DataFrame): DataFrame =
    events.filter(isEvent("mint.v", "EventTokenomicsSet"))
      .select(
        col("height").as("height_tx"),
        dec(attr("staked_token_amount")).as("staked_amount"),
        dec(attr("circulating_supply")).as("circulating_supply"),
        dec(attr("emissions_amount")).as("emissions_amount"))

  /** EventEcosystemTokenMintSet / EventRewardCurrentBlockEmission →
    * per-block token amounts (db.go:1412+).
    */
  def tokenMint(events: DataFrame, suffix: String): DataFrame =
    events.filter(isEvent("mint.v", suffix))
      .select(
        col("height").as("height_tx"),
        attr("block_height").cast(LongType).as("block_height"),
        dec(attr("token_amount")).as("token_amount"))

  /** EventNetworkLossSet → networklosses + exploded bundle values
    * (db.go:1019-1067 + insertValueBundle): the nested value_bundle JSON
    * carries five typed worker/value lists (the reputerValueType enum,
    * db.go:340-350).
    */
  val valueBundleSchema: StructType = {
    val wv = ArrayType(StructType(Seq(
      StructField("worker", StringType),
      StructField("value", StringType))))
    val nonce = StructType(Seq(
      StructField("worker_nonce", StructType(Seq(StructField("block_height", StringType)))),
      StructField("reputer_nonce", StructType(Seq(StructField("block_height", StringType))))))
    // Full MsgValueBundle (types/messages.go:70-111); the networkloss
    // event payload carries a subset — absent fields parse to null.
    StructType(Seq(
      StructField("reputer", StringType),
      StructField("topic_id", StringType),
      StructField("extra_data", StringType),
      StructField("naive_value", StringType),
      StructField("combined_value", StringType),
      StructField("reputer_request_nonce", nonce),
      StructField("inferer_values", wv),
      StructField("forecaster_values", wv),
      StructField("one_out_inferer_values", wv),
      StructField("one_in_forecaster_values", wv),
      StructField("one_out_forecaster_values", wv)))
  }

  def networkLosses(events: DataFrame): DataFrame =
    events.filter(isEvent("emissions.v", "EventNetworkLossSet"))
      .select(
        col("height").as("height_tx"),
        attr("block_height").cast(LongType).as("height"),
        attr("topic_id").cast(IntegerType).as("topic_id"),
        from_json(unquote(attrs.getItem("value_bundle")), valueBundleSchema).as("vb"))
      .select(
        col("height_tx"), col("height"), col("topic_id"),
        col("vb.naive_value").as("naive_value"),
        col("vb.combined_value").as("combined_value"),
        col("vb"))

  /** Explode the five typed lists of a value bundle column `vb` into
    * (idCols..., reputer_value_type, worker, value) rows — the
    * reputerValueType enum of db.go:340-350.
    */
  private def explodeValueLists(df: DataFrame, idCols: Seq[String]): DataFrame = {
    val lists = Seq(
      "InfererValues" -> "inferer_values",
      "ForecasterValues" -> "forecaster_values",
      "OneOutInfererValues" -> "one_out_inferer_values",
      "OneInForecasterValues" -> "one_in_forecaster_values",
      "OneOutForecasterValues" -> "one_out_forecaster_values")
    lists.map { case (tag, field) =>
      df.select(
        idCols.map(col) :+
          lit(tag).as("reputer_value_type") :+
          explode(col("vb").getField(field)).as("wv"): _*)
        .select(
          idCols.map(col) :+
            col("reputer_value_type") :+
            col("wv.worker").as("worker") :+
            col("wv.value").as("value"): _*)
    }.reduce(_ unionByName _)
  }

  def bundleValues(losses: DataFrame): DataFrame =
    explodeValueLists(losses, Seq("height_tx", "height", "topic_id"))

  /** Reputer payloads + bundles (process_tx.go:175-290): both the single
    * `MsgInsertReputerPayload` / `InsertReputerPayloadRequest` shape and
    * the v1 bulk shape with its bundle array, normalized into one frame.
    */
  def reputerBundles(messages: DataFrame): DataFrame = {
    val rvb = StructType(Seq(
      StructField("pubkey", StringType),
      StructField("signature", StringType),
      StructField("value_bundle", valueBundleSchema)))
    val singleSchema = StructType(Seq(
      StructField("sender", StringType),
      StructField("reputer_value_bundle", rvb)))
    val bulkSchema = StructType(Seq(
      StructField("sender", StringType),
      StructField("topic_id", StringType),
      StructField("reputer_value_bundles", ArrayType(rvb))))
    def normalize(base: DataFrame): DataFrame =
      base.select(
        col("message_height"), col("message_id"), col("sender"),
        col("b.value_bundle.topic_id").cast(IntegerType).as("topic_id"),
        col("b.value_bundle.reputer_request_nonce.reputer_nonce.block_height")
          .cast(LongType).as("reputer_nonce_block_height"),
        col("b.value_bundle.reputer_request_nonce.worker_nonce.block_height")
          .cast(LongType).as("worker_nonce_block_height"),
        col("b.pubkey").as("pubkey"),
        col("b.signature").as("signature"),
        col("b.value_bundle.reputer").as("reputer"),
        col("b.value_bundle.extra_data").as("extra_data"),
        col("b.value_bundle.naive_value").as("naive_value"),
        col("b.value_bundle.combined_value").as("combined_value"),
        col("b.value_bundle").as("vb"))
    val single = normalize(
      messages
        .filter(isMsg("/emissions.v", "MsgInsertReputerPayload", "InsertReputerPayloadRequest") &&
          !col("type").contains("Bulk"))
        .select(col("height").as("message_height"), col("hash").as("message_id"),
          payload(singleSchema).as("p"))
        .select(col("message_height"), col("message_id"),
          col("p.sender").as("sender"), col("p.reputer_value_bundle").as("b")))
    val bulk = normalize(
      messages
        .filter(isMsg("/emissions.v1", "MsgInsertBulkReputerPayload"))
        .select(col("height").as("message_height"), col("hash").as("message_id"),
          payload(bulkSchema).as("p"))
        .select(col("message_height"), col("message_id"),
          col("p.sender").as("sender"), explode(col("p.reputer_value_bundles")).as("b")))
    single.unionByName(bulk)
  }

  /** Bundle values of reputer bundles (TB_BUNDLE_VALUES shape). */
  def reputerBundleValues(bundles: DataFrame): DataFrame =
    explodeValueLists(bundles, Seq("message_height", "message_id", "topic_id", "reputer"))

  // ---- message routing ----------------------------------------------------

  /** prefix/suffix message matching (process_tx.go:66-170). */
  private def isMsg(prefix: String, suffixes: String*): Column =
    col("type").startsWith(prefix) &&
      suffixes.map(s => col("type").endsWith(s)).reduce(_ || _)

  private def payload(schema: StructType): Column = from_json(col("data"), schema)

  /** MsgCreateNewTopic → topics (process_topic.go:59-105 column list).
    *
    * Topic ids are CHAIN-ASSIGNED: the message does not carry one — the
    * reference resolves `nextTopicId` via RPC per creation
    * (process_topic.go:19-60). With no chain RPC in a batch engine the id
    * is derived from chain state deterministically: ids are sequential, so
    * the n-th creation message in chain order (height, then message hash
    * within a block — the landing format carries no intra-block tx index)
    * gets id `nextTopicId + n − 1`. A landing zone pre-enriched with the
    * true `topic_id` always wins via coalesce.
    *
    * CONTRACT for the derived path: `messages` must carry the creation
    * messages from `nextTopicId` onward contiguously (the full-history
    * default is `nextTopicId = 1`). Incremental catch-up callers pass the
    * table's current max id + 1 — the numbering restarts per invocation,
    * exactly like the reference's per-run RPC probe. Mixing pre-enriched
    * and unenriched creations in ONE range is not supported (the derived
    * counter cannot know which ids the enriched rows consumed); enrich
    * all or none per batch.
    */
  def topics(messages: DataFrame, nextTopicId: Long = 1L): DataFrame = {
    val schema = StructType(Seq(
      "topic_id", "creator", "metadata", "loss_logic", "loss_method",
      "inference_logic", "inference_method", "epoch_length",
      "ground_truth_lag", "default_arg", "pnorm", "alpha_regret",
      "p_reward_reputer", "p_reward_inference", "p_reward_forecast",
      "f_tolerance").map(StructField(_, StringType)) :+
      StructField("allow_negative", BooleanType))
    messages.filter(isMsg("/emissions.v", "MsgCreateNewTopic", "CreateNewTopicRequest"))
      .select(col("height").as("message_height"), col("hash").as("message_id"),
        payload(schema).as("p"))
      .select(
        coalesce(
          col("p.topic_id").cast(IntegerType),
          (lit(nextTopicId - 1) + row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("message_height"), col("message_id"))))
            .cast(IntegerType)).as("id"),
        col("p.creator").as("creator"), col("p.metadata").as("metadata"),
        col("p.loss_method").as("loss_method"),
        col("p.epoch_length").as("epoch_length"),
        col("p.ground_truth_lag").as("ground_truth_lag"),
        col("p.default_arg").as("default_arg"),
        col("p.pnorm").as("pnorm"), col("p.alpha_regret").as("alpha_regret"),
        col("p.allow_negative").as("allow_negative"),
        col("message_height"), col("message_id"))
  }

  /** MsgSend / MsgFundTopic / MsgAddStake → transfers
    * (process_tx.go:526-586).
    */
  def transfers(messages: DataFrame): DataFrame = {
    val coinSchema = StructType(Seq(
      StructField("from_address", StringType),
      StructField("to_address", StringType),
      StructField("amount", ArrayType(StructType(Seq(
        StructField("denom", StringType),
        StructField("amount", StringType)))))))
    val fundSchema = StructType(Seq(
      StructField("sender", StringType),
      StructField("topic_id", StringType),
      StructField("amount", StringType)))
    val sends = messages.filter(isMsg("/cosmos.bank.v1beta1", "MsgSend"))
      .select(col("height").as("message_height"), col("hash").as("message_id"),
        payload(coinSchema).as("p"))
      .select(
        col("message_height"), col("message_id"),
        col("p.from_address").as("from_address"),
        lit(null).cast(IntegerType).as("topic_id"),
        col("p.to_address").as("to_address"),
        element_at(col("p.amount"), 1).getField("amount").as("amount"),
        element_at(col("p.amount"), 1).getField("denom").as("denom"))
    val funds = messages
      .filter(isMsg("/emissions.v", "MsgFundTopic", "FundTopicRequest", "MsgAddStake", "AddStakeRequest"))
      .select(col("height").as("message_height"), col("hash").as("message_id"),
        payload(fundSchema).as("p"))
      .select(
        col("message_height"), col("message_id"),
        col("p.sender").as("from_address"),
        col("p.topic_id").cast(IntegerType).as("topic_id"),
        lit(null).cast(StringType).as("to_address"),
        col("p.amount").as("amount"),
        lit("uallo").as("denom"))
    sends.unionByName(funds)
  }

  /** MsgRegister → worker_registrations (process_tx.go:467-503). */
  def registrations(messages: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("sender", StringType),
      StructField("topic_id", StringType),
      StructField("owner", StringType),
      StructField("lib_p2p_key", StringType),
      StructField("is_reputer", BooleanType)))
    messages.filter(isMsg("/emissions.v", "MsgRegister", "RegisterRequest"))
      .select(col("height").as("message_height"), col("hash").as("message_id"),
        payload(schema).as("p"))
      .select(
        col("message_height"), col("message_id"),
        col("p.topic_id").cast(IntegerType).as("topic_id"),
        col("p.sender").as("sender"), col("p.owner").as("owner"),
        col("p.lib_p2p_key").as("worker_libp2pkey"),
        col("p.is_reputer").as("is_reputer"))
  }

  /** Nested worker payload: inference + forecast bundle
    * (process_tx.go:330-415 insertWorkerDataBundle).
    */
  val workerPayloadSchema: StructType = {
    val inference = StructType(Seq(
      StructField("topic_id", StringType),
      StructField("block_height", StringType),
      StructField("inferer", StringType),
      StructField("value", StringType),
      StructField("extra_data", StringType),
      StructField("proof", StringType)))
    val forecastElement = StructType(Seq(
      StructField("inferer", StringType),
      StructField("value", StringType)))
    val forecast = StructType(Seq(
      StructField("topic_id", StringType),
      StructField("block_height", StringType),
      StructField("forecaster", StringType),
      StructField("forecast_elements", ArrayType(forecastElement)),
      StructField("extra_data", StringType)))
    StructType(Seq(
      StructField("sender", StringType),
      StructField("worker_data_bundle", StructType(Seq(
        StructField("worker", StringType),
        StructField("topic_id", StringType),
        StructField("nonce", StructType(Seq(StructField("block_height", StringType)))),
        StructField("inference_forecasts_bundle", StructType(Seq(
          StructField("inference", inference),
          StructField("forecast", forecast)))))))))
  }

  private def workerBundles(messages: DataFrame): DataFrame = {
    val single = messages
      .filter(isMsg("/emissions.v", "MsgInsertWorkerPayload", "InsertWorkerPayloadRequest") &&
        !col("type").contains("Bulk"))
      .select(col("height").as("message_height"), col("hash").as("message_id"),
        payload(workerPayloadSchema).as("p"))
      .select(col("message_height"), col("message_id"),
        col("p.worker_data_bundle.topic_id").cast(IntegerType).as("topic_id"),
        col("p.worker_data_bundle.nonce.block_height").cast(LongType)
          .as("nonce_block_height"),
        col("p.worker_data_bundle.inference_forecasts_bundle").as("b"))
    // v1 bulk shape (types/messages.go:30-39): nonce and topic at the
    // message level, a bundle array below.
    val bundleField = workerPayloadSchema("worker_data_bundle").dataType
    val bulkSchema = StructType(Seq(
      StructField("sender", StringType),
      StructField("topic_id", StringType),
      StructField("nonce", StructType(Seq(StructField("block_height", StringType)))),
      StructField("worker_data_bundles", ArrayType(bundleField))))
    val bulk = messages
      .filter(isMsg("/emissions.v1", "MsgInsertBulkWorkerPayload"))
      .select(col("height").as("message_height"), col("hash").as("message_id"),
        payload(bulkSchema).as("p"))
      .select(col("message_height"), col("message_id"),
        col("p.topic_id").cast(IntegerType).as("topic_id"),
        col("p.nonce.block_height").cast(LongType).as("nonce_block_height"),
        explode(col("p.worker_data_bundles")).as("wdb"))
      .select(col("message_height"), col("message_id"), col("topic_id"),
        col("nonce_block_height"),
        col("wdb.inference_forecasts_bundle").as("b"))
    single.unionByName(bulk)
  }

  /** Inferences (numeric-valued only, mirroring the ParseFloat guard at
    * process_tx.go:344).
    */
  def inferences(messages: DataFrame): DataFrame =
    workerBundles(messages)
      .filter(col("b.inference.value").isNotNull && validNumeric(col("b.inference.value")))
      .select(
        col("message_height"), col("message_id"),
        col("nonce_block_height"), col("topic_id"),
        col("b.inference.block_height").cast(LongType).as("block_height"),
        col("b.inference.inferer").as("inferer"),
        col("b.inference.value").as("value"),
        col("b.inference.extra_data").as("extra_data"),
        col("b.inference.proof").as("proof"))

  /** Forecasts + 1→N forecast values (process_tx.go:373-408). */
  def forecasts(messages: DataFrame): DataFrame =
    workerBundles(messages)
      .filter(size(col("b.forecast.forecast_elements")) > 0)
      .select(
        col("message_height"), col("message_id"),
        col("nonce_block_height"), col("topic_id"),
        col("b.forecast.block_height").cast(LongType).as("block_height"),
        col("b.forecast.forecaster").as("forecaster"),
        col("b.forecast.extra_data").as("extra_data"),
        col("b.forecast.forecast_elements").as("elements"))

  /** Address book: every actor seen in messages, transfers, or
    * registrations, insert-ignore deduped (process_tx.go:505-524
    * insertAddress + its unique constraint).
    */
  def addresses(messages: DataFrame): DataFrame = {
    val t = transfers(messages)
    val r = registrations(messages)
    messages.select(col("sender").as("address"))
      .unionByName(t.select(col("from_address").as("address")))
      .unionByName(t.select(col("to_address").as("address")))
      .unionByName(r.select(col("owner").as("address")))
      .filter(col("address").isNotNull)
      .distinct()
      .select(
        lit("allora").as("type"),
        col("address"),
        lit(null).cast(StringType).as("pub_key"),
        lit("").as("memo"))
  }

  def forecastValues(forecastsDf: DataFrame): DataFrame =
    forecastsDf.select(
      col("message_height"), col("message_id"), col("topic_id"),
      col("forecaster"),
      explode(col("elements")).as("fe"))
      .select(
        col("message_height"), col("message_id"), col("topic_id"),
        col("forecaster"),
        col("fe.inferer").as("inferer"),
        col("fe.value").as("value"))
}
