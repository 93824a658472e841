package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` surface needed by custom Catalyst
  * expressions: Column ⇄ Expression conversion (Spark 4 Columns wrap
  * ColumnNodes, not Expressions) and temp-function registration, and into
  * the `private[spark]` RPC over which sink tasks send the driver what
  * they write.
  * Standard extension-library technique — the only code in this repo
  * living outside the graft package.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  def registerTempFunction(spark: SparkSession, name: String,
                           builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** DataFrame from a logical plan (custom operators need to hand their
    * LogicalPlan node back as a DataFrame).
    */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Analyzed logical plan of a DataFrame. */
  def logicalPlan(df: Dataset[_]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** Install an extra planner strategy on a live session (the runtime
    * counterpart of SparkSessionExtensions.injectPlannerStrategy, which
    * only applies at session construction).
    */
  def addStrategy(spark: SparkSession,
                  s: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    if (!cs.experimental.extraStrategies.contains(s))
      cs.experimental.extraStrategies = cs.experimental.extraStrategies :+ s
  }

  /** Task slots of this JVM's executor: `N` of a `local[N]` master (local
    * mode runs tasks in the driver), `spark.executor.cores` on a cluster.
    */
  def executorCores: Int = {
    import org.apache.spark.SparkContext
    val env = org.apache.spark.SparkEnv.get
    if (env.executorId == SparkContext.DRIVER_IDENTIFIER)
      SparkContext.numDriverCores(env.conf.get("spark.master"), env.conf)
    else env.conf.getInt("spark.executor.cores", Runtime.getRuntime.availableProcessors)
  }

  /** Register endpoint `name` on the driver's RPC environment. `handle`
    * gets each message asked of it, one at a time, with the answer it
    * owes: `Right(())` replies, `Left(e)` fails the ask. Returns the
    * endpoint's stop.
    */
  def serve(name: String)(handle: (Any, Either[Throwable, Unit] => Unit) => Unit): () => Unit = {
    import org.apache.spark.rpc.{RpcCallContext, RpcEnv, ThreadSafeRpcEndpoint}
    val env = org.apache.spark.SparkEnv.get.rpcEnv
    val ref = env.setupEndpoint(name, new ThreadSafeRpcEndpoint {
      override val rpcEnv: RpcEnv = env
      override def receiveAndReply(context: RpcCallContext): PartialFunction[Any, Unit] = {
        case msg => handle(msg, _.fold(context.sendFailure, _ => context.reply(true)))
      }
    })
    () => env.stop(ref)
  }

  /** In a task: the asker of the driver's endpoint `name`, looked up as
    * Spark's `BarrierTaskContext` looks up its coordinator. An ask's future
    * completes when the driver answers it, with no timeout. A local-mode
    * task's message reaches the driver as the object itself; a remote
    * one's through Java serialization.
    */
  def asker(name: String): Any => scala.concurrent.Future[Any] = {
    import org.apache.spark.util.RpcUtils
    val env = org.apache.spark.SparkEnv.get
    val ref = RpcUtils.makeDriverRef(name, env.conf, env.rpcEnv)
    ref.ask[Any](_, RpcUtils.INFINITE_TIMEOUT)
  }

  /** In a task: whether the driver still serves endpoint `name`. */
  def served(name: String): Boolean = {
    import org.apache.spark.util.RpcUtils
    val env = org.apache.spark.SparkEnv.get
    scala.util.Try(RpcUtils.makeDriverRef(name, env.conf, env.rpcEnv)).isSuccess
  }
}
