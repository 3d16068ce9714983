package org.apache.spark.sql.graftbridge

import org.apache.spark.{SparkConf, SparkContext}

/** Bridge to the active `SparkContext`'s live conf (`SparkContext.getActive`
  * and `SparkContext.conf` are `private[spark]`; the public `getConf` is a
  * copy). A session extension runs after the context exists and before the
  * new session's shared state copies the static SQL confs out of it, so a
  * default set here reaches that session's static confs.
  */
object ConfBridge {
  def activeContextConf: Option[SparkConf] = SparkContext.getActive.map(_.conf)
}
