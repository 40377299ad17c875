package graft

import org.apache.spark.sql.SparkSession

/** The local session the graft mains run on, and session-conf overrides
  * scoped to one block.
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
}
