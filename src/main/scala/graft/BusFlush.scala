package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerJobStart

/** Flush of the Spark listener bus by a marker job. The bus delivers
  * events in the order they were posted, so a listener that sees the
  * start of a job submitted after an action returned has already seen
  * every event of that action's jobs. The listener takes its reading
  * on that start, which leaves out the marker's own job and task, and
  * completes the future [[apply]] waits on. `token` tells one flush's
  * marker from another's. */
private[graft] object BusFlush {
  private val Key = "graft.busFlush"

  def isMarker(e: SparkListenerJobStart, token: String): Boolean =
    e.properties != null && token == e.properties.getProperty(Key)

  /** Run the one-task marker job tagged `token` from this thread and
    * return the listener's reading (waiting at most 30 s for it). */
  def apply[A](sc: SparkContext, token: String, reading: Future[A]): A = {
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, token)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Key, prev)
    Await.result(reading, 30.seconds)
  }
}
