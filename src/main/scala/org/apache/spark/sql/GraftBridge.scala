package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the `private[sql]` Column ↔ Expression converters, the
  * established pattern for Spark libraries that ship native Catalyst
  * expressions with a Column-API face.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Drain the listener bus (private[spark]) — lets diagnostic mains read
    * complete per-task metrics after an action returns. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def ofRows(spark: SparkSession, plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `df`'s analyzed plan as a frame of a clone of its session, taken now:
    * the clone copies the session's conf, registered strategies and
    * listeners as they stand, and later changes to either session stay
    * out of the other. An action on the returned frame runs under the
    * clone's conf.
    */
  def onClone(df: DataFrame): DataFrame = {
    val d = df.asInstanceOf[classic.Dataset[Row]]
    classic.Dataset.ofRows(d.sparkSession.cloneSession(), d.logicalPlan)
  }

  /** Estimated number of scan partitions for a file-sourced frame, from
    * the FileIndex metadata the scan already listed — per-file splitting by
    * `spark.sql.files.maxPartitionBytes`, the same arithmetic
    * `FilePartition.getFilePartitions` applies. Logical-plan inspection
    * only: no physical planning, no job, unlike `df.rdd.getNumPartitions`.
    * Returns None when the plan has no file scan (in-memory/streaming).
    */
  def estimateScanPartitions(df: DataFrame): Option[Int] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val conf = df.sparkSession.sessionState.conf
    // Mirror FilePartition.maxSplitBytes: the effective split size shrinks
    // below maxPartitionBytes when totalBytes/defaultParallelism is
    // smaller — a raw maxPartitionBytes division would undercount the
    // partitions Spark actually plans for large files.
    val defaultMax = math.max(1L, conf.filesMaxPartitionBytes)
    val openCost = conf.filesOpenCostInBytes
    val minPartNum = conf.filesMinPartitionNum
      .getOrElse(df.sparkSession.sparkContext.defaultParallelism)
    val scans = df.queryExecution.analyzed.collect {
      case lr: LogicalRelation if lr.relation.isInstanceOf[HadoopFsRelation] =>
        val sizes = lr.relation.asInstanceOf[HadoopFsRelation]
          .location.listFiles(Nil, Nil).iterator
          .flatMap(_.files.iterator).map(_.getLen).toSeq
        val totalBytes = sizes.map(_ + openCost).sum
        val bytesPerCore = totalBytes / math.max(1, minPartNum)
        val maxSplit = math.max(1L, math.min(defaultMax, math.max(openCost, bytesPerCore)))
        (totalBytes + maxSplit - 1) / maxSplit
    }
    if (scans.isEmpty) None else Some(scans.sum.min(Int.MaxValue).toInt)
  }

  /** Eagerly convert a Column to a catalyst expression tree (with real
    * UnresolvedAttribute leaves the analyzer can resolve inside custom
    * logical nodes) — `ExpressionUtils.expression` defers conversion behind
    * a ColumnNodeExpression wrapper, which generic analysis never unwraps.
    */
  def catalystExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)
}
