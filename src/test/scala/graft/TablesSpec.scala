package graft

/** `Tables.table` infers a table's schema once per file snapshot. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  test("two opens of an unchanged table infer its schema once; a rewrite infers again") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tables").toString
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    assert(jobsOf { Tables.table(spark, dir, "t"); Tables.table(spark, dir, "t") } === 1)
    assert(Tables.table(spark, dir, "t").as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b")))

    Seq((3L, "c", 0.5)).toDF("k", "v", "w").write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(jobsOf(Tables.table(spark, dir, "t")) === 1, "a rewritten file must be inferred again")
    assert(Tables.table(spark, dir, "t").columns.toSeq === Seq("k", "v", "w"))
  }

  test("results are identical with nanosAsLong on and off") {
    def open(v: String) = SessionConf.withConf(spark,
      "spark.sql.legacy.parquet.nanosAsLong" -> v)(Tables.table(spark, sfDir, "events"))
    def rows(v: String) = open(v).orderBy("event_id").collect().toSeq
    val on = rows("true")
    assert(on.nonEmpty && on === rows("false"))
    assert(jobsOf { open("true"); open("false") } === 0,
      "each conf value keeps the schema inferred under it")
  }
}
