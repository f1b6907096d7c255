package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Test-side reach into the application's block manager master, which is
  * private to Spark (the same placement as [[SparkBridge]]).
  */
object BlockProbe {

  /** Ids of the RDDs that hold blocks anywhere in the application, after
    * asking every storage endpoint.
    */
  def cachedRdds(sc: SparkContext): Set[Int] =
    sc.env.blockManager.master.getMatchingBlockIds(_.isRDD, askStorageEndpoints = true)
      .flatMap(_.asRDDId).map(_.rddId).toSet

  /** Removes every block of RDD `id` everywhere, as losing the executors
    * that held them would; returns when they are gone.
    */
  def dropRdd(sc: SparkContext, id: Int): Unit =
    sc.env.blockManager.master.removeRdd(id, blocking = true)
}

/** Test-side reach into the listener bus, which is private to Spark. */
object ListenerProbe {

  /** Waits until every event posted so far has reached its listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
