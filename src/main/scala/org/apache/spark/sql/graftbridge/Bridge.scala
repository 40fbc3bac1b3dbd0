package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal accessor for the `private[sql]` Column ⇄ Expression bridge —
  * the standard technique for third-party Catalyst expressions (the
  * public API intentionally hides Expression since the Connect split).
  * Nothing else from the private surface is touched. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The FULLY-CONVERTED catalyst expression behind a Column. Unlike
    * [[expression]] — which leaves a SQL-text column
    * (`functions.expr("…")`) wrapped in a lazy `ColumnNodeExpression`
    * whose tree is opaque — this runs the classic converter, so the
    * real parsed shape comes back. Callers that INSPECT the tree
    * (subquery detection, predicate rewrites) must use this form: an
    * `exists`/`transform` over the lazy wrapper silently sees nothing. */
  def catalystExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** A single-row/single-column DataFrame as a scalar-subquery Column —
    * the runtime-filter shape: the subquery runs once on the driver and
    * its value is substituted as a LITERAL into the consuming plan.
    * For a broadcast-able small value (a sketch, a threshold) this
    * beats `crossJoin(broadcast(oneRowDf))`, which concatenates the
    * value's bytes into EVERY probe-side row (measured: a 19.6 KB
    * Bloom filter cross-joined against 600 k rows copies ~12 GB;
    * as a subquery literal it is materialized once). */
  def scalarSubquery(df: org.apache.spark.sql.DataFrame): Column =
    column(org.apache.spark.sql.catalyst.expressions.ScalarSubquery(
      df.queryExecution.analyzed))

  /** Wrap a logical plan as a DataFrame (`Dataset.ofRows` is
    * `private[sql]`). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A DataFrame's analyzed logical plan (`queryExecution` lives on the
    * classic Dataset only since the Connect split). */
  def planOf(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.analyzed

  /** Look up a registered V2 catalog plugin by name (`CatalogManager`
    * is `private[sql]`); None when no such catalog is registered. */
  def catalogPlugin(spark: org.apache.spark.sql.SparkSession, name: String)
      : Option[org.apache.spark.sql.connector.catalog.CatalogPlugin] = {
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.catalogManager
    try Some(cm.catalog(name))
    catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Apply an extensions installer and materialize its function
    * injections into a fresh registry (`registerFunctions` is
    * `private[sql]`) — lets tests exercise the REAL
    * `spark.sql.extensions` wiring without a new SparkContext (the
    * test JVM's shared session can't reload extensions). */
  def registeredFunctions(installer: org.apache.spark.sql.SparkSessionExtensions => Unit)
      : org.apache.spark.sql.catalyst.analysis.FunctionRegistry = {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    installer(ext)
    val reg = new org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry
    ext.registerFunctions(reg)
  }

  /** Materialize an extensions installer's optimizer-rule injections
    * (`buildOptimizerRules` is `private[sql]`). */
  def optimizerRules(spark: org.apache.spark.sql.SparkSession,
                     installer: org.apache.spark.sql.SparkSessionExtensions => Unit)
      : Seq[org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]] = {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    installer(ext)
    ext.buildOptimizerRules(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
  }

  /** Materialize an extensions installer's planner-strategy injections
    * (`buildPlannerStrategies` is `private[sql]`). */
  def plannerStrategies(spark: org.apache.spark.sql.SparkSession,
                        installer: org.apache.spark.sql.SparkSessionExtensions => Unit)
      : Seq[org.apache.spark.sql.execution.SparkStrategy] = {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    installer(ext)
    ext.buildPlannerStrategies(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
  }

  /** Re-tag a batch DataFrame as a STREAMING one
    * (`internalCreateDataFrame(_, _, isStreaming = true)` is
    * `private[sql]`) — the contract a DSv1 `Source.getBatch` result
    * must satisfy (`MicroBatchExecution` asserts `isStreaming`); this
    * is exactly how Spark's own `FileStreamSource` builds its batches. */
  def asStreaming(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    spark.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = true)
  }

  /** The inverse: re-tag the micro-batch a DSv1 `Sink.addBatch`
    * receives (isStreaming = true, so `.write` refuses it) as a BATCH
    * DataFrame over the same physical plan — the standard DSv1-sink
    * move (it is what foreachBatch does before handing the user their
    * DataFrame). */
  def asBatch(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    spark.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = false)
  }

  /** Wait until the listener bus has delivered every posted event
    * (`listenerBus` is `private[spark]`): listener counts read after an
    * action are otherwise racy. */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** The schema Spark's parquet inference resolves for one file, read
    * from its footer on the driver: the same footer-to-schema step
    * (`readSchemaFromFooter`, so a Spark-written schema string wins)
    * and the same converter, configured from the session's SQL conf
    * (`nanosAsLong`, `inferTimestampNTZ`, `binaryAsString`, …) — where
    * `spark.read.parquet` runs a Spark job to read that footer. */
  def parquetFooterSchema(spark: org.apache.spark.sql.SparkSession,
                          file: org.apache.hadoop.fs.Path,
                          conf: org.apache.hadoop.conf.Configuration)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.parquet.format.converter.ParquetMetadataConverter
    import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
    val r = ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf),
      org.apache.parquet.HadoopReadOptions.builder(conf)
        .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build())
    val footer = try r.getFooter finally r.close()
    val sqlConf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf
    ParquetFileFormat.readSchemaFromFooter(new Footer(file, footer),
      new ParquetToSparkSchemaConverter(sqlConf))
  }

  /** Build a persisted frame's cached blocks now, as one job over the
    * cache's own RDD (the job an AQE cache stage runs); a no-op for a
    * frame that is not persisted. */
  def buildCache(df: org.apache.spark.sql.DataFrame): Unit = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds)
      .foreach(_.cachedRepresentation.cacheBuilder.cachedColumnBuffers.count())
  }
}
