package org.apache.spark

/** Reads the driver's `private[spark]` RPC environment for specs. */
object GraftRpcProbe {
  /** Whether the driver has an RPC endpoint named `name`. */
  def registered(name: String): Boolean = {
    val env = SparkEnv.get.rpcEnv
    scala.util.Try(env.setupEndpointRef(env.address, name)).isSuccess
  }
}
