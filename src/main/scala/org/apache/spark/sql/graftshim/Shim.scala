package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic.{ClassicConversions, Dataset, ExpressionUtils}
import org.apache.spark.sql.execution.SparkStrategy

/** Narrow bridge into `private[sql]` Spark internals (Spark 4 wraps
  * `Column` around `ColumnNode`, not `Expression`). Lives under
  * `org.apache.spark.sql` purely for access; everything else in this
  * project is in the `graft` packages.
  */
object Shim {
  /** Wrap a raw Catalyst expression as a user-facing Column. */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Extract the Catalyst expression backing a Column. */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Build a DataFrame from a raw logical plan (custom operators inject
    * their LogicalPlan nodes through this; analyzer/optimizer/planner
    * run as for any other plan). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(ClassicConversions.castToImpl(spark), plan)

  /** The analyzed logical plan backing a DataFrame. */
  def analyzed(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  /** The session's planner strategies, injected ones included. */
  def plannerStrategies(spark: SparkSession): Seq[SparkStrategy] =
    ClassicConversions.castToImpl(spark).sessionState.planner.strategies

  /** The session's AQE runtime optimizer rules, injected ones included. */
  def runtimeOptimizerRules(spark: SparkSession): Seq[Rule[LogicalPlan]] =
    ClassicConversions.castToImpl(spark).sessionState.adaptiveRulesHolder
      .runtimeOptimizerRules

  /** Blocks until every listener has seen every event posted so far:
    * a count read after this includes the jobs already started. */
  def awaitListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Session function registry, for registering custom expressions under
    * SQL-callable names. */
  def functionRegistry(spark: SparkSession): FunctionRegistry =
    ClassicConversions.castToImpl(spark).sessionState.functionRegistry

  /** Register a static-kernel builder as a SQL-callable temp function
    * (the reference exposes every kernel through `functional.<name>`;
    * this is the SQL face of the same registry). */
  def registerKernel(
      spark: SparkSession,
      name: String,
      clazz: Class[_],
      methodName: String,
      dataType: org.apache.spark.sql.types.DataType,
      paramTypes: Seq[org.apache.spark.sql.types.DataType]): Unit =
    functionRegistry(spark).createOrReplaceTempFunction(
      name,
      exprs => {
        require(exprs.length == paramTypes.length,
          s"$name expects ${paramTypes.length} arguments, got ${exprs.length}")
        val cast = exprs.zip(paramTypes).map { case (e, t) =>
          org.apache.spark.sql.catalyst.expressions.Cast(e, t)
        }
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          clazz, dataType, methodName, cast, Nil,
          propagateNull = true, returnNullable = false,
          isDeterministic = true, None)
      },
      "scala_udf")

  /** to_arrow (§2.1, reference interop.py:17-34 / interop_arrow.py):
    * serialize a DataFrame's rows into Arrow IPC record batches — the
    * same columnar wire format the reference's zero-copy export uses.
    * Driver-side by design, like the reference's `to_arrow`. */
  def toArrowBatches(
      df: DataFrame,
      maxRecordsPerBatch: Long = 1L << 14): Iterator[Array[Byte]] = {
    val classic = ClassicConversions.castToImpl(df.sparkSession)
    org.apache.spark.sql.execution.arrow.ArrowConverters.toBatchIterator(
      df.queryExecution.executedPlan.executeCollect().iterator,
      df.schema, maxRecordsPerBatch,
      classic.sessionState.conf.sessionLocalTimeZone,
      true, false, null)
  }

  /** from_arrow: rebuild a DataFrame from Arrow IPC record batches. */
  def fromArrowBatches(
      spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      batches: Iterator[Array[Byte]]): DataFrame =
    org.apache.spark.sql.execution.arrow.ArrowConverters.toDataFrame(
      batches, schema.json, ClassicConversions.castToImpl(spark))

  /** Codegen-friendly call of a static Java kernel method: inlines into
    * whole-stage codegen via `StaticInvoke` (AbstractDataType is
    * private[sql], hence this lives in the shim). `inputTypes` adds
    * implicit casts when non-empty. */
  def staticInvoke(
      clazz: Class[_],
      dataType: org.apache.spark.sql.types.DataType,
      functionName: String,
      args: Seq[Column],
      inputTypes: Seq[org.apache.spark.sql.types.DataType] = Nil): Column =
    column(org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
      clazz, dataType, functionName, args.map(expression), inputTypes,
      propagateNull = true, returnNullable = false, isDeterministic = true,
      None))

  /** The sum of a LONG column of unscaled values, as the DECIMAL(38,
    * scale) they stand for. The long sum runs in ANSI mode whatever the
    * session's `spark.sql.ansi.enabled`, so an overflow fails the query
    * and never wraps; precision 38 holds every long, so the decimal
    * never overflows. */
  def unscaledSum(unscaled: Column, scale: Int): Column = {
    import org.apache.spark.sql.catalyst.expressions.{EvalMode, MakeDecimal,
      NumericEvalContext}
    import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
    val sum = Sum(expression(unscaled), NumericEvalContext(EvalMode.ANSI))
    column(MakeDecimal(sum.toAggregateExpression(), 38, scale,
      nullOnOverflow = false))
  }

  /** `ExactPercentile` of `x` at `ps`: an array of one double per p when
    * `array` is true, else the double at the only p. */
  def exactPercentile(x: Column, ps: Seq[Double], array: Boolean): Column =
    column(ExactPercentile(expression(x), ps, array).toAggregateExpression())

  /** Bloom-filter aggregate over a pre-hashed LONG column (pass
    * xxhash64 of the key) → binary sketch. The same expression Spark's
    * InjectRuntimeFilter builds for its runtime row-group filters,
    * exposed for explicit semi-join prefilters (it has no SQL-registered
    * name). Partial-merging, so the sketch build is one map-side pass. */
  def bloomAgg(hashed: Column, expectedItems: Long, numBits: Long): Column =
    column(new org.apache.spark.sql.catalyst.expressions.aggregate
      .BloomFilterAggregate(expression(hashed),
        org.apache.spark.sql.catalyst.expressions.Literal(expectedItems),
        org.apache.spark.sql.catalyst.expressions.Literal(numBits))
      .toAggregateExpression())

  /** Codegen'd probe of a driver-held bloom sketch: the sketch bytes
    * ship as a literal (bounded by numBits), the probe inlines into
    * whole-stage codegen — no UDF, no per-row deserialization. */
  def bloomMightContain(sketch: Array[Byte], hashed: Column): Column =
    column(org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
      org.apache.spark.sql.catalyst.expressions.Literal(sketch,
        org.apache.spark.sql.types.BinaryType),
      expression(hashed)))
}
