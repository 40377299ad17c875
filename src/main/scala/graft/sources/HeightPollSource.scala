package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Streaming DSv2 source for a height-indexed block feed — the
  * reference's live polling pump (main.go:255-312: poll the chain tip,
  * fan heights out to workers, fetch each block, push downstream) as a
  * Structured Streaming `MicroBatchStream`.
  *
  * The stream's OFFSET IS THE CHAIN HEIGHT: each micro-batch covers the
  * contiguous range `(start, end]`, the driver polls the tip via
  * [[HeightClient.latestHeight]] (main.go's `getLatestHeight` loop), and
  * executors fetch each height's block in parallel — `planInputPartitions`
  * splits the range into `heightsPerPartition`-sized slices, the worker
  * fan-out of the reference made elastic. Checkpointed offsets give
  * exactly-once RANGE assignment across restarts; downstream idempotence
  * (ParquetMergeSink latest-wins on height) absorbs any re-fetch of an
  * uncommitted batch, exactly like the reference's ON CONFLICT inserts.
  *
  * Admission control: `maxHeightsPerTrigger` caps each batch's range (a
  * restart after long downtime catches up in bounded, checkpointed steps
  * instead of one giant batch — the backfill/catch-up discipline at
  * cluster scale). Implemented via `SupportsAdmissionControl`, so
  * `Trigger.AvailableNow` drains to a fixed tip in capped batches.
  *
  * The FETCH is a pluggable SPI ([[HeightClient]]): this sandbox has no
  * network, so the default client reads `<height>.json` files from a
  * directory — a deterministic stand-in with the same contract a real
  * HTTP/RPC client implements (`latestHeight` + `fetchBlock`). Clients
  * are instantiated BY NAME per partition (class name + one string arg
  * travel to executors; no client object is serialized), so a real
  * deployment drops in `option("client", "com.x.RpcClient")` with its
  * endpoint as `clientArg` and nothing else changes.
  *
  * Usage:
  * {{{
  *   spark.readStream.format("graft.sources.HeightPollSource")
  *     .option("dir", landingDir)            // DirHeightClient arg
  *     .option("maxHeightsPerTrigger", 100)
  *     .load()                                // → (height, block_json)
  * }}}
  */
class HeightPollSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    BlockJsonSource.schema
  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new HeightPollTable(new CaseInsensitiveStringMap(properties))
}

/** Driver-poll + executor-fetch client contract (the reference's RPC
  * surface). Implementations need a public one-String-arg constructor;
  * they are constructed fresh per use site, never serialized.
  */
trait HeightClient {
  /** Newest height available upstream (driver, once per trigger). */
  def latestHeight(): Long
  /** The block body for `height` (executor). Throwing fails the task —
    * Spark's retry is the reference's per-height retry loop.
    */
  def fetchBlock(height: Long): String
}

/** Sandbox client: `<dir>/<height>.json` files stand in for the RPC
  * endpoint (same contract, deterministic content).
  */
class DirHeightClient(dir: String) extends HeightClient {
  private def fs = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p, p.getFileSystem(new org.apache.hadoop.conf.Configuration()))
  }
  override def latestHeight(): Long = {
    val (p, f) = fs
    if (!f.exists(p)) 0L
    else f.listStatus(p).flatMap { st =>
      val n = st.getPath.getName
      if (n.endsWith(".json")) n.stripSuffix(".json").toLongOption else None
    }.foldLeft(0L)(math.max)
  }
  override def fetchBlock(height: Long): String = {
    val (p, f) = fs
    val in = f.open(new org.apache.hadoop.fs.Path(p, s"$height.json"))
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }
}

/** Real network client for the [[HeightClient]] SPI — the deployment
  * shape of the reference's RPC pump (main.go's HTTP fetches), on the
  * JDK's own `java.net.http.HttpClient` (no extra dependency). REST
  * contract, documented here because both sides of the loopback
  * integration spec implement it:
  *
  *   - `GET <endpoint>/latest_height` → the tip as decimal text
  *   - `GET <endpoint>/block/<height>` → that height's block JSON body
  *
  * Any non-200 throws, which fails the Spark task — the engine's task
  * retry IS the reference's per-height retry loop (the same contract
  * [[HeightClient.fetchBlock]] documents). Instances are built fresh
  * per use site from (class name, endpoint) like every client, so
  * nothing network-y is ever serialized into a task closure.
  */
class HttpHeightClient(endpoint: String) extends HeightClient {
  private val base = endpoint.stripSuffix("/")
  private lazy val http = java.net.http.HttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofSeconds(10)).build()
  private def get(url: String): String = {
    val req = java.net.http.HttpRequest
      .newBuilder(java.net.URI.create(url))
      .timeout(java.time.Duration.ofSeconds(30)).GET().build()
    val resp = http.send(req,
      java.net.http.HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() != 200)
      throw new java.io.IOException(s"GET $url -> HTTP ${resp.statusCode()}")
    resp.body()
  }
  override def latestHeight(): Long = get(s"$base/latest_height").trim.toLong
  override def fetchBlock(height: Long): String = get(s"$base/block/$height")
}

private[sources] object HeightPollSource {
  def makeClient(className: String, arg: String): HeightClient =
    Class.forName(className).getConstructor(classOf[String])
      .newInstance(arg).asInstanceOf[HeightClient]
}

class HeightPollTable(options: CaseInsensitiveStringMap) extends Table with SupportsRead {
  override def name(): String = "height_poll(" +
    Option(options.get("dir")).orElse(Option(options.get("clientArg")))
      .getOrElse("?") + ")"
  override def schema(): StructType = BlockJsonSource.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = BlockJsonSource.schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new HeightPollStream(options)
      }
    }
}

/** Height offset: json is the bare height number. */
case class HeightOffset(h: Long) extends Offset {
  override def json(): String = h.toString
}

class HeightPollStream(options: CaseInsensitiveStringMap)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  private val clientClass =
    Option(options.get("client")).getOrElse(classOf[DirHeightClient].getName)
  private val clientArg =
    Option(options.get("clientArg")).orElse(Option(options.get("dir")))
      .getOrElse(throw new IllegalArgumentException(
        "HeightPollSource needs option dir (or clientArg)"))
  private val startHeight =
    Option(options.get("startHeight")).map(_.toLong).getOrElse(1L)
  private val maxPerTrigger =
    Option(options.get("maxHeightsPerTrigger")).map(_.toLong)
  private val perPartition =
    Option(options.get("heightsPerPartition")).map(_.toLong).getOrElse(64L)

  @transient private lazy val client =
    HeightPollSource.makeClient(clientClass, clientArg)

  // Trigger.AvailableNow pins the tip ONCE at query start and the stream
  // drains to exactly that height in admission-capped batches — heights
  // landing mid-drain wait for the next run, so "available now" means
  // what it says (the same contract the file source implements).
  private var fixedTip: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    fixedTip = Some(client.latestHeight())

  override def getDefaultReadLimit: ReadLimit =
    maxPerTrigger.map(n => ReadLimit.maxRows(n)).getOrElse(ReadLimit.allAvailable())

  override def initialOffset(): Offset = HeightOffset(startHeight - 1L)

  override def deserializeOffset(json: String): Offset = HeightOffset(json.toLong)

  override def reportLatestOffset(): Offset = HeightOffset(client.latestHeight())

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "admission-controlled source: latestOffset(start, limit) is the entry")

  /** The end of the next batch, or null when no height lies past `start`
    * (the `FileStreamSource` convention). Returning `start` instead would
    * read as new data while nothing is committed yet, so a pump started
    * past the tip would run an empty first batch.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[HeightOffset].h
    val tip = fixedTip.getOrElse(client.latestHeight())
    if (tip <= from) null
    else limit match {
      case r: org.apache.spark.sql.connector.read.streaming.ReadMaxRows =>
        HeightOffset(math.min(tip, from + r.maxRows()))
      case _ => HeightOffset(tip)
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[HeightOffset].h + 1
    val hi = end.asInstanceOf[HeightOffset].h
    if (hi < lo) Array.empty
    else (lo to hi).grouped(perPartition.toInt)
      .map(g => HeightRangePartition(g.head, g.last, clientClass, clientArg)
        : InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
        val hp = p.asInstanceOf[HeightRangePartition]
        new HeightFetchReader(hp)
      }
    }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** One worker slice of the batch's height range; carries the client
  * RECIPE (class + arg), never a client instance.
  */
case class HeightRangePartition(lo: Long, hi: Long,
    clientClass: String, clientArg: String) extends InputPartition

class HeightFetchReader(p: HeightRangePartition)
    extends PartitionReader[InternalRow] {
  private val client = HeightPollSource.makeClient(p.clientClass, p.clientArg)
  private var h = p.lo - 1
  private var row: InternalRow = _
  override def next(): Boolean = {
    if (h >= p.hi) return false
    h += 1
    row = InternalRow(h, UTF8String.fromString(client.fetchBlock(h)))
    true
  }
  override def get(): InternalRow = row
  override def close(): Unit = ()
}
