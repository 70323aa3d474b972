package graft

import scala.reflect.ClassTag

import org.apache.spark.broadcast.Broadcast

/** A broadcast handle over a value already in hand, for evaluating
  * broadcast-backed expressions in unit specs without a SparkSession. */
final class LocalBroadcast[T: ClassTag](v: T) extends Broadcast[T](-1L) {
  override protected def getValue(): T = v
  override protected def doUnpersist(blocking: Boolean): Unit = ()
  override protected def doDestroy(blocking: Boolean): Unit = ()
}
