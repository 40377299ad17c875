package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.CodegenObjectFactoryMode
import org.apache.spark.sql.internal.SQLConf

/** The local session the graft mains run on, session-conf overrides
  * scoped to one block, and the codegen policy.
  */
object SessionConf {

  /** The session `Bench`, `Verify` and `ScaleUp` run on:
    * `local[$SPARK_GRAFT_CPUS]` (default 4) with as many shuffle
    * partitions, UTC, the UI off and WARN logging. Other `spark.*` confs
    * reach it as `-D` system properties of the JVM.
    */
  def localSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run `body` with every `key -> value` set on `spark`'s session conf,
    * then put each key back as it was — its previous value, or unset when
    * it had none — also when `body` throws. Repeated calls (a bench loop,
    * a long-lived session) therefore accumulate no global state.
    */
  def withConf[T](spark: SparkSession, pairs: (String, String)*)(body: => T): T = {
    val conf = spark.conf
    // `getAll` holds only what is set; `getOption` would report a
    // registered conf's default as set
    val set = conf.getAll
    val saved = pairs.map { case (k, _) => k -> set.get(k) }
    pairs.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally saved.reverse.foreach { case (k, prev) =>
      prev.fold(conf.unset(k))(conf.set(k, _))
    }
  }

  /** The codegen policy's bound B: work whose input is below it runs on
    * Spark's interpreted evaluator, work at or above it compiles. Small
    * work pays more for its generated classes than they save: Janino
    * compiles each, the JIT then compiles the compiled classes, and the
    * per-row work they speed up is small. Spark caches 100 generated
    * classes per JVM (`spark.sql.codegen.cache.maxEntries`, a static
    * conf), fewer than one live trigger (135–146) or one pass over the
    * `SparkEntry` queries (about 2,800) generates, so repeated work
    * compiles everything again.
    *
    * Live triggers, on the `index` benchmark (4 vCPUs, `local[4]`): with
    * codegen its timed window ran ~595 Janino compiles and 32–34 s of JIT,
    * about 60% of 53–55 s of process CPU; interpreted, 7 compiles, and the
    * median process CPU per height fell from 205 to 141 ms over 11 paired
    * runs. The per-row work there is JSON parsing and parquet I/O, which
    * codegen barely speeds up: even a 6,000-height trigger (about 42 MB
    * landed) gained nothing from it (task CPU within 4%).
    *
    * Queries: every `SparkEntry` query fully consumed once per pass by a
    * noop write, codegen on (Spark's default) against `NO_CODEGEN` for the
    * whole session, 4 vCPUs, `local[4]`, one JVM per cell; process CPU
    * seconds of the cold first pass and the median of the warm passes
    * (3 at sf0.001, 2 at sf0.01 and sf0.1, 1 at sf1), warm wall seconds
    * and Janino compiles per warm pass. sf1 is `graft.ScaleUp` of sf0.1,
    * 10 copies.
    *
    * {{{
    *   sf     parquet   cold CPU       warm CPU       warm wall      compiles
    *                    on  / off      on  / off      on  / off      on / off
    *   0.001   0.47 MB   335 /  195     173 /   75     105 /   41    2764 / 97
    *   0.01    1.9 MB    293 /  209     141 /   84      86 /   59    2802 / 100
    *   0.1     17 MB     541 /  350     345 /  190     182 /  114    2780 / 98
    *   1       154 MB   1702 / 2109    1537 / 1879     473 /  573    2849 / 93
    * }}}
    *
    * Interpreted wins up to sf0.1 and compiled wins at sf1, so B lies
    * between 17 and 154 MB; it is set at 64 MiB, above the 42 MB trigger.
    */
  val InterpretedBelowBytes: Long = 64L << 20

  /** The session confs the codegen policy sets for work that reads
    * `inputBytes` at `site`, with the choice recorded
    * (`StrategyLog` `codegen`): below [[InterpretedBelowBytes]],
    * `spark.sql.codegen.factoryMode=NO_CODEGEN`, which also turns off
    * whole-stage codegen; at or above it none, so the session's own
    * codegen settings hold.
    */
  def codegenConf(site: String, inputBytes: Long): Seq[(String, String)] = {
    val interpreted = inputBytes < InterpretedBelowBytes
    StrategyLog.record("codegen", if (interpreted) "interpreted" else "compiled",
      "site" -> site, "input_bytes" -> inputBytes, "bound" -> InterpretedBelowBytes)
    if (interpreted)
      Seq(SQLConf.CODEGEN_FACTORY_MODE.key -> CodegenObjectFactoryMode.NO_CODEGEN.toString)
    else Nil
  }

  /** Run `body` on `spark` under [[codegenConf]] for `inputBytes`, then put
    * the session's conf back as it was ([[withConf]]).
    */
  def withCodegenPolicy[T](spark: SparkSession, site: String, inputBytes: Long)(
      body: => T): T =
    withConf(spark, codegenConf(site, inputBytes): _*)(body)

  /** `query` under the codegen policy, sized by the parquet bytes under its
    * `dir` ([[parquetBytes]]). Below the bound the query is built under the
    * interpreted mode on the caller's session, so eager work in the build
    * (stream replays, layout builds, count probes) runs interpreted and
    * reports to the caller's streaming listeners. The lazy frame is then
    * rebound to a clone of the session taken after the build
    * ([[GraftBridge.onClone]]): the clone carries the mode into the
    * caller's action, and whatever the build registered on the session
    * (planner strategies, optimizer rules). The caller's session conf is
    * left as it was, also when the build throws.
    */
  def sized(query: (SparkSession, String) => DataFrame): (SparkSession, String) => DataFrame =
    (spark, dir) => {
      val conf = codegenConf("query", parquetBytes(spark, dir))
      if (conf.isEmpty) query(spark, dir)
      else withConf(spark, conf: _*)(GraftBridge.onClone(query(spark, dir)))
    }

  private val dirBytes = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Bytes of the `*.parquet` files under `dir`, recursively; 0 when it
    * does not exist. One listing per `dir` for the JVM's life: the policy
    * needs a size class, not a current count, and runs no Spark job.
    */
  def parquetBytes(spark: SparkSession, dir: String): Long =
    dirBytes.computeIfAbsent(dir, _ => {
      val root = new Path(dir)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      var n = 0L
      if (fs.exists(root)) {
        val files = fs.listFiles(root, true)
        while (files.hasNext) {
          val f = files.next()
          if (f.getPath.getName.endsWith(".parquet")) n += f.getLen
        }
      }
      n
    })
}
