package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable

/** Shape of the generated chain. Every field is recorded with each run. */
final case class GenParams(
    txsPerBlock: Int = 3,
    msgsPerTx: Int = 2,
    scoreEventsPerBlock: Int = 2,
    addrsPerScoreEvent: Int = 4,
    otherWhitelistedPerBlock: Int = 2,
    nonWhitelistedPerBlock: Int = 4,
    malformedPermille: Int = 80,
    topics: Int = 16,
    actors: Int = 200,
    skewExponent: Double = 2.0,
    blockSeconds: Int = 5) {
  def toMap: Map[String, Any] = Map(
    "txs_per_block" -> txsPerBlock, "msgs_per_tx" -> msgsPerTx,
    "score_events_per_block" -> scoreEventsPerBlock,
    "addresses_per_score_event" -> addrsPerScoreEvent,
    "other_whitelisted_events_per_block" -> otherWhitelistedPerBlock,
    "non_whitelisted_events_per_block" -> nonWhitelistedPerBlock,
    "malformed_numeric_permille" -> malformedPermille,
    "topics" -> topics, "actors" -> actors,
    "topic_actor_skew_exponent" -> skewExponent,
    "block_seconds" -> blockSeconds)
}

/** What the generator emitted for a range of heights: the rows each
  * routed table must hold afterwards, derived without running graft.
  */
final class Expected {
  var heights = 0L
  var messages = 0L
  var events = 0L
  var scores = 0L
  var malformedDropped = 0L
  val eventsByCategory = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val scoreSumByTopic = mutable.Map.empty[Int, BigDecimal].withDefaultValue(BigDecimal(0))
  val scoreCountByTopic = mutable.Map.empty[Int, Long].withDefaultValue(0L)
  val scoreSumByAddress = mutable.Map.empty[String, BigDecimal].withDefaultValue(BigDecimal(0))
  /** (topic, is_worker) → (height_tx, height): the latest-wins row. */
  val lastCommits = mutable.Map.empty[(Int, Boolean), (Long, Long)]
  var landingBytes = 0L
  val crc = new java.util.zip.CRC32

  def tableRows: Map[String, Long] = Map(
    "block_info" -> heights, "messages" -> messages, "events" -> events,
    "scores" -> scores, "last_commits" -> lastCommits.size.toLong)
}

/** Deterministic generator of per-height landing envelopes, the shape
  * `LiveIndexer` consumes: `{"block":{…},"block_results":{…}}` with JSON
  * txs, whitelisted emissions events (scores, rewards, last commits) and
  * non-whitelisted cosmos events the router must drop. Each height's
  * content depends only on (seed, height), so any range can be produced in
  * any order and re-derived for checking.
  */
final class ChainGen(seed: Long, p: GenParams) {

  private def rngFor(h: Long) =
    new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (h * 0xBF58476D1CE4E5B9L))

  /** Skewed pick in [0, n): low ids are hot. */
  private def skewed(r: java.util.SplittableRandom, n: Int): Int =
    math.min(n - 1, (n * math.pow(r.nextDouble(), p.skewExponent)).toInt)

  private def q(s: String): String = Json.str(s)
  private def attr(k: String, v: String): String =
    s"""{"key":${q(k)},"value":${q(v)}}"""
  private def event(tpe: String, attrs: Seq[String]): String =
    s"""{"type":${q(tpe)},"attributes":${attrs.mkString("[", ",", "]")}}"""

  private val otherWhitelisted = Seq(
    ("emissions.v3.EventRewardsSettled", "reward"),
    ("emissions.v3.EventNetworkLossSet", "networkloss"),
    ("emissions.v3.EventTopicRewardsSet", "topicReward"),
    ("mint.v2.EventTokenomicsSet", "tokenomics"))
  private val nonWhitelisted =
    Seq("coin_received", "coin_spent", "transfer", "message", "tx")

  private def score(r: java.util.SplittableRandom): Either[String, BigDecimal] =
    if (r.nextInt(1000) < p.malformedPermille)
      Left(Seq("NaN", "1.2.3", "abc", "", "--4")(r.nextInt(5)))
    else {
      val v = BigDecimal(r.nextLong(-2000000L, 8000000L)) / BigDecimal(1000000)
      Right(v.setScale(6))
    }

  /** The envelope for `h`, accumulating what it contributes into `exp`. */
  def envelope(h: Long, exp: Expected): String = {
    val r = rngFor(h)
    val txs = (0 until p.txsPerBlock).map { t =>
      val msgs = (0 until p.msgsPerTx).map { m =>
        val topic = skewed(r, p.topics) + 1
        s"""{"@type":"/emissions.v3.MsgInsertWorkerPayload","sender":"allo1w${skewed(r, p.actors)}","topic_id":"$topic","nonce":"$h-$t-$m"}"""
      }
      q(s"""{"body":{"messages":${msgs.mkString("[", ",", "]")}}}""")
    }
    val time = java.time.Instant.ofEpochSecond(1714521600L + h * p.blockSeconds)
    val block =
      s"""{"header":{"version":{"block":"11"},"chain_id":"bench-1","height":"$h","time":"$time","last_block_id":{"hash":"H${h - 1}","part_set_header":{"total":1,"hash":"P${h - 1}"}},"proposer_address":"V${h % 7}","app_hash":"A$h"},"data":{"txs":${txs.mkString("[", ",", "]")}}}"""

    val evs = mutable.ArrayBuffer.empty[String]
    val actorTypes = Seq("inferer", "forecaster", "reputer")
    val scoreTopic = skewed(r, p.topics) + 1
    (0 until p.scoreEventsPerBlock).foreach { i =>
      // distinct actor type per score event keeps (height, topic, type,
      // address) unique, so every valid pair is one scores row
      val tpe = actorTypes(i % actorTypes.size)
      val addrs = mutable.LinkedHashSet.empty[String]
      while (addrs.size < p.addrsPerScoreEvent)
        addrs += s"allo1a${skewed(r, p.actors)}"
      val vals = addrs.toSeq.map(_ => score(r))
      evs += event("emissions.v3.EventScoresSet", Seq(
        attr("topic_id", q(scoreTopic.toString)),
        attr("actor_type", q(tpe)),
        attr("block_height", q((h - 1).toString)),
        attr("addresses", addrs.toSeq.map(q).mkString("[", ",", "]")),
        attr("scores", vals.map {
          case Left(bad) => q(bad)
          case Right(v) => q(v.bigDecimal.toPlainString)
        }.mkString("[", ",", "]"))))
      exp.eventsByCategory("score") += 1
      addrs.toSeq.zip(vals).foreach {
        case (a, Right(v)) =>
          exp.scores += 1
          exp.scoreSumByTopic(scoreTopic) += v
          exp.scoreCountByTopic(scoreTopic) += 1
          exp.scoreSumByAddress(a) += v
        case (_, Left(_)) => exp.malformedDropped += 1
      }
    }
    val lcTopic = skewed(r, p.topics) + 1
    val isWorker = h % 2 == 0
    evs += event(
      if (isWorker) "emissions.v3.EventWorkerLastCommitSet"
      else "emissions.v3.EventReputerLastCommitSet",
      Seq(attr("topic_id", q(lcTopic.toString)),
        attr("block_height", q(h.toString)),
        attr("nonce", s"""{"block_height":"${h - 1}"}""")))
    exp.eventsByCategory("lastcommit") += 1
    val key = (lcTopic, isWorker)
    if (exp.lastCommits.get(key).forall(_._1 < h)) exp.lastCommits(key) = (h, h - 1)
    (0 until p.otherWhitelistedPerBlock).foreach { i =>
      val (tpe, cat) = otherWhitelisted(r.nextInt(otherWhitelisted.size))
      evs += event(tpe, Seq(attr("topic_id", q((skewed(r, p.topics) + 1).toString)),
        attr("seq", q(s"$h-$i")), attr("amount", q(r.nextInt(1000000).toString))))
      exp.eventsByCategory(cat) += 1
    }
    val txEvs = (0 until p.nonWhitelistedPerBlock).map { i =>
      event(nonWhitelisted(r.nextInt(nonWhitelisted.size)), Seq(
        attr("sender", s"allo1s${skewed(r, p.actors)}"),
        attr("amount", s"${r.nextInt(100000)}uallo"), attr("seq", s"$h-$i")))
    }
    val results =
      s"""{"height":"$h","finalize_block_events":${evs.mkString("[", ",", "]")},"txs_results":[{"code":0,"events":${txEvs.mkString("[", ",", "]")}}]}"""

    exp.heights += 1
    exp.messages += p.txsPerBlock * p.msgsPerTx
    exp.events += evs.size
    s"""{"block":$block,"block_results":$results}"""
  }

  /** Publish `h` into `dir`: write a temp name, then rename, so a poller
    * never sees a partial file.
    */
  def publish(dir: Path, h: Long, exp: Expected): Unit = {
    val bytes = envelope(h, exp).getBytes(StandardCharsets.UTF_8)
    exp.landingBytes += bytes.length
    exp.crc.update(bytes)
    val tmp = dir.resolve(s".$h.json.tmp")
    Files.write(tmp, bytes)
    Files.move(tmp, dir.resolve(s"$h.json"), StandardCopyOption.ATOMIC_MOVE)
  }

  def publishRange(dir: Path, from: Long, to: Long, exp: Expected): Unit = {
    Files.createDirectories(dir)
    var h = from
    while (h <= to) { publish(dir, h, exp); h += 1 }
  }
}
