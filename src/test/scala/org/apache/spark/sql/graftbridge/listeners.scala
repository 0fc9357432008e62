package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{classic, SparkSession}
import scala.jdk.CollectionConverters._

object listeners {
  /** Every listener registered on the session's context, on its
    * execution listener manager and on its streaming query manager.
    */
  def of(spark: SparkSession): Seq[AnyRef] =
    spark.sparkContext.listenerBus.listeners.asScala.toSeq ++
      spark.asInstanceOf[classic.SparkSession].listenerManager.listListeners().toSeq ++
      spark.streams.listListeners().toSeq
}
