package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
import org.scalatest.Assertions._

/** Hand-built merge-sink tables in each old on-disk format, and the check
  * that a table is in the current one. The old formats are what
  * [[ParquetMergeSink.upgrade]] reads and everything else refuses.
  */
object SinkFormats {

  private def fs(spark: SparkSession): FileSystem =
    FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)

  private def bucketed(rows: DataFrame, keys: Seq[String], buckets: Int) =
    rows.withColumn("__bucket", pmod(xxhash64(keys.map(col): _*), lit(buckets)).cast("int"))

  /** Asserts that the head manifest at `dir` is in the current grammar:
    * every dir key is `<b>` or `+<v>`, every dir lies in a `_g<n>-`
    * generation, and a manifest that names a dir carries a schema stamp.
    */
  def assertCurrent(spark: SparkSession, dir: String): Unit = {
    val m = ManifestCommit.latest(fs(spark), new Path(dir)).get
    m.dirs.foreach { case (k, rel) =>
      assert(k.matches("\\d+|\\+\\d+"), s"v${m.version}: dir.$k is not a current key")
      assert(rel.matches("_g\\d+-[0-9a-f]+/.+"), s"v${m.version}: dir.$k=$rel is outside a generation")
    }
    assert(m.dirs.isEmpty || m.entries.contains(ParquetMergeSink.SchemaKey),
      s"v${m.version} names dirs without a schema stamp: ${m.entries}")
  }

  /** The pre-manifest layout: `rows` in top-level `__bucket=N` dirs,
    * hashed on `keys` into `buckets`, and a `.graft-buckets` marker
    * holding the count. No manifest.
    */
  def preManifest(rows: DataFrame, dir: String, keys: Seq[String], buckets: Int): Unit = {
    bucketed(rows, keys, buckets).write.partitionBy("__bucket").parquet(dir)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, ".graft-buckets"),
      buckets.toString.getBytes)
  }

  /** A current table of `base` (merged twice, so its first segment drains
    * into base dirs), then one commit of the per-bucket segment layout:
    * `rows` as one `dir.<b>+<v>` per bucket they hash to, and `hwm`.
    */
  def perBucketSegments(base: DataFrame, rows: DataFrame, dir: String,
      keys: Seq[String], version: String, buckets: Int, hwm: Long): Unit = {
    (1 to 2).foreach(_ => ParquetMergeSink.merge(base, dir, keys, version, buckets))
    val table = new Path(dir)
    val m = ManifestCommit.latest(fs(rows.sparkSession), table).get
    ManifestCommit.publish(fs(rows.sparkSession), table, m.version) { gen =>
      gen.write(bucketed(rows, keys, buckets), partitionBy = Seq("__bucket"))
      val segs = fs(rows.sparkSession).listStatus(gen.path).map(_.getPath.getName)
        .collect { case n if n.startsWith("__bucket=") =>
          s"dir.${n.stripPrefix("__bucket=")}+${m.version + 1}" -> s"${gen.name}/$n" }
      m.entries - "txid" ++ segs + (ParquetMergeSink.HwmKey -> hwm.toString)
    }
  }

  /** A current table of `rows` whose head is then re-committed without
    * its schema stamp: a manifest that names data dirs but no schema.
    */
  def unstamped(rows: DataFrame, dir: String, keys: Seq[String], version: String,
      buckets: Int): Unit = {
    ParquetMergeSink.merge(rows, dir, keys, version, buckets)
    val table = new Path(dir)
    val m = ManifestCommit.latest(fs(rows.sparkSession), table).get
    ManifestCommit.commit(fs(rows.sparkSession), table, m.version,
      m.entries - "txid" - ParquetMergeSink.SchemaKey)
  }

  /** Every file under `dir` (relative path -> bytes), to show a call
    * created, changed or removed none.
    */
  def files(dir: String): Map[String, Seq[Byte]] = {
    val root = java.nio.file.Paths.get(dir)
    val walk = java.nio.file.Files.walk(root)
    try walk.filter(java.nio.file.Files.isRegularFile(_)).toArray.toSeq
      .map { case f: java.nio.file.Path =>
        root.relativize(f).toString -> java.nio.file.Files.readAllBytes(f).toSeq
      }.toMap
    finally walk.close()
  }
}
