package org.apache.spark.sql.graftshim

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.aggregate.ScalaAggregator
import org.apache.spark.sql.expressions.{SparkUserDefinedFunction,
  UserDefinedAggregator, UserDefinedFunction}

/** The `private[sql]` touch points the library needs, isolated in one
  * tiny shim (the standard extension-library pattern): turning a
  * hand-built [[LogicalPlan]] into a DataFrame, running a plan to its
  * row RDD the way `Dataset.checkpoint` does, and turning a
  * `UserDefinedFunction` into a function builder. Everything else in
  * graft uses only public/`@DeveloperApi` Catalyst surfaces.
  */
object GraftSqlShim {

  /** `Dataset.ofRows` for a custom logical plan. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Executes `df`'s plan once as the SQL execution `action` (the
    * `withAction` frame `Dataset.checkpoint` runs in), hands its row RDD
    * (rows copied, as `checkpoint` copies them) to `use`, and returns a
    * DataFrame that scans that RDD — `LogicalRDD.fromDataset`, so the
    * plan keeps the source's statistics, partitioning and ordering —
    * together with `use`'s result. Under AQE the query stages below
    * the final one run here; the final stage runs when `use` (or a later
    * action) computes the RDD. */
  def executeToRdd[T](df: DataFrame, action: String)(
      use: RDD[InternalRow] => T): (DataFrame, T) = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val qe = ds.queryExecution
    val (rdd, out) = SQLExecution.withNewExecutionId(qe, Some(action)) {
      QueryExecution.withInternalError(s"""The "$action" action failed.""") {
        qe.executedPlan.resetMetrics()
        val rdd = qe.executedPlan.execute().map(_.copy())
        (rdd, use(rdd))
      }
    }
    (ofRows(ds.sparkSession, LogicalRDD.fromDataset(rdd, ds, ds.isStreaming)),
      out)
  }

  /** The function builder Spark's UDF registration installs for `udf`
    * under `name`, in the form `SparkSessionExtensions.injectFunction` takes: a typed
    * Aggregator becomes a `ScalaAggregator`, any other UDF a `ScalaUDF`
    * that checks its argument count at analysis. */
  def udfBuilder(name: String, udf: UserDefinedFunction)
      : Seq[Expression] => Expression =
    udf.withName(name) match {
      case agg: UserDefinedAggregator[_, _, _] => ScalaAggregator(agg, _)
      case f: SparkUserDefinedFunction => children =>
        if (children.size != f.inputEncoders.size)
          throw QueryCompilationErrors.wrongNumArgsError(
            name, Seq(f.inputEncoders.size), children.size)
        classic.UserDefinedFunctionUtils.toScalaUDF(f, children)
    }
}
