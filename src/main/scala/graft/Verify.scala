package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Gate invariant: EVERY registered query produces an output directory,
  * even when its DataFrame CONSTRUCTION throws (an AnalysisException at
  * plan-build time happens before any write). A failed query writes a
  * one-row error-marker parquet instead, so the downstream compare sees a
  * loud schema/hash mismatch row — a silent absence once hid a broken
  * query for a whole round (round 5, `ev_sessionize`). VerifyGateSpec
  * pins this behavior by dumping a deliberately-throwing query.
  */
object Verify {
  /** Dump one query result to `outDir/name`; on ANY throw — construction
    * or execution — write the error marker instead and return the error.
    */
  def dumpOne(spark: SparkSession, name: String,
      fn: (SparkSession, String) => DataFrame,
      sfDir: String, outDir: String): Option[String] = {
    try {
      fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      None
    } catch { case e: Throwable =>
      System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
      val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
      // The marker write itself must never abort the sweep: if outDir is
      // unwritable or the session is wedged, a second throw here would
      // lose every LATER query's output — the exact silent-loss mode
      // this marker exists to prevent. Log and keep going; the query
      // still lands in verify_errors.json via the returned message.
      try {
        import spark.implicits._
        Seq(("construction_or_execution_failed", msg))
          .toDF("__graft_error", "detail")
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e2: Throwable =>
        System.err.println(
          s"[verify] $name error-marker write ALSO failed: ${e2.getMessage}")
      }
      Some(msg)
    }
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** `Verify <sfDir> <outDir> [query ...]`: dumps the named queries (every
    * query when none is named); an unknown name is refused up front.
    */
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [query ...]")
    val (sfDir, outDir) = (args(0), args(1))
    val selected = Bench.select(args.toSeq.drop(2)).sortBy(_._1)
    val spark = SessionConf.localSession()
    new java.io.File(outDir).mkdirs()
    val failures = selected.flatMap { case (name, fn) =>
      // Oracle pins (SparkEntry.oraclePins): force the oracle-shaped
      // strategy of adaptive operators for the dump, restore afterwards —
      // the oracle contract is unconditional at any sweep SF.
      val pins = SparkEntry.oraclePins.getOrElse(name, Map.empty)
      val err = SessionConf.withConf(spark, pins.toSeq: _*)(
        dumpOne(spark, name, fn, sfDir, outDir))
      // drop the query's checkpoint blocks before the next one runs
      Tables.releaseIntermediates(spark)
      err.map(name -> _)
    }
    // Failure manifest: machine-readable, present even when empty, so a
    // round's artifacts always say which queries errored (never silence).
    val failJson = failures.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), failJson)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(s"[verify] ${failures.size} queries failed: " +
        failures.map(_._1).mkString(", "))
    }
  }
}
