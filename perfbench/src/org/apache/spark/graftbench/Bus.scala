package org.apache.spark.graftbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.catalog.{ExternalCatalogEvent, ExternalCatalogEventListener}

/** Access to listener plumbing that is `private[spark]` or lives on
  * the classic session only.
  */
object Bus {
  /** Waits until the listener bus has delivered every posted event, so
    * listener counters read after an action include that action.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Counts external-catalog events (create/alter/drop of databases,
    * tables, partitions) from the moment it is attached.
    */
  final class CatalogEvents extends ExternalCatalogEventListener {
    val count = new AtomicLong
    override def onEvent(event: ExternalCatalogEvent): Unit = count.incrementAndGet()
  }

  def catalogEvents(spark: SparkSession): CatalogEvents = {
    val l = new CatalogEvents
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.externalCatalog.addListener(l)
    l
  }

  def removeCatalogEvents(spark: SparkSession, l: CatalogEvents): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.externalCatalog.removeListener(l)
}
