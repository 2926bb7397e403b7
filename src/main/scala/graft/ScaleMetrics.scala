package graft

import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.concurrent.Promise

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Aggregating SparkListener behind the scale-evidence probes
  * ([[ScaleProbe]], ScaleProbeSpec): per-run totals of the quantities
  * that decide whether a plan survives a 10–100× scale-up —
  *
  *  - `shuffleReadBytes` / `shuffleWriteBytes`: the data actually moved
  *    between stages. A rung whose shuffle grows super-linearly in the
  *    input is the one that dies first on a 1000-executor cluster.
  *  - `memSpillBytes` / `diskSpillBytes`: non-zero means partitions no
  *    longer fit execution memory at this sizing.
  *  - `resultBytes`: task-result bytes shipped TO THE DRIVER (sum of
  *    TaskMetrics.resultSize) — the driver-materialization proxy. Every
  *    collect(), head(), and agg-to-driver lands here, so "only
  *    bounded state (centroids, stats rows) ever reaches the driver"
  *    becomes a measurable invariant instead of a code-review claim.
  *  - `peakExecutionMemory`: largest single-task unroll/join/agg
  *    memory — the per-task pressure gauge.
  *  - `jobs`: Spark jobs launched — the DRIVER ROUND-TRIP count. An
  *    iterative operator whose job count scales with its iteration
  *    knob (the r6 BPE finding: one job per merge ⇒ 32k sequential
  *    jobs for a real vocabulary) is latency-broken at scale even
  *    when every byte-metric is clean, so round-trips are measured
  *    alongside bytes.
  */
final class ScaleMetrics extends SparkListener {
  private val token = java.util.UUID.randomUUID().toString
  private val flushed = Promise[ScaleMetrics.Measured]()
  private val shuffleRead = new LongAdder
  private val shuffleWrite = new LongAdder
  private val memSpill = new LongAdder
  private val diskSpill = new LongAdder
  private val result = new LongAdder
  private val peakExec = new AtomicLong(0L)
  private val tasks = new LongAdder
  private val jobs = new LongAdder

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (BusFlush.isMarker(e, token)) flushed.trySuccess(snapshot)
    else jobs.increment()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      memSpill.add(m.memoryBytesSpilled)
      diskSpill.add(m.diskBytesSpilled)
      result.add(m.resultSize)
      peakExec.getAndAccumulate(m.peakExecutionMemory, math.max)
      tasks.increment()
    }
  }

  def snapshot: ScaleMetrics.Measured = ScaleMetrics.Measured(
    shuffleReadBytes = shuffleRead.sum(),
    shuffleWriteBytes = shuffleWrite.sum(),
    memSpillBytes = memSpill.sum(),
    diskSpillBytes = diskSpill.sum(),
    resultBytes = result.sum(),
    peakExecutionMemory = peakExec.get(),
    tasks = tasks.sum(),
    jobs = jobs.sum(),
    wallSec = 0.0)
}

object ScaleMetrics {

  final case class Measured(shuffleReadBytes: Long, shuffleWriteBytes: Long,
      memSpillBytes: Long, diskSpillBytes: Long, resultBytes: Long,
      peakExecutionMemory: Long, tasks: Long, jobs: Long,
      wallSec: Double) {
    def spillBytes: Long = memSpillBytes + diskSpillBytes
    private def mb(b: Long): String = f"${b / 1048576.0}%.1f"
    def row(label: String): String =
      f"| $label | $wallSec%.1f | ${mb(shuffleWriteBytes)} | ${mb(shuffleReadBytes)} | ${mb(spillBytes)} | ${mb(resultBytes)} | ${mb(peakExecutionMemory)} | $tasks | $jobs |"
  }

  val header: String =
    "| rung | wall s | shuffle write MB | shuffle read MB | spill MB | driver-result MB | peak task mem MB | tasks | jobs |\n" +
    "|---|---|---|---|---|---|---|---|---|"

  /** Run `f` with a fresh listener attached and return (result,
    * metrics). Listener events post asynchronously, so after the action
    * the totals are read once the listener bus is flushed
    * ([[BusFlush]]); the flush's marker job and task are not counted. */
  def measure[A](spark: SparkSession)(f: => A): (A, Measured) = {
    val l = new ScaleMetrics
    spark.sparkContext.addSparkListener(l)
    try {
      val t0 = System.nanoTime()
      val r = f
      val wall = (System.nanoTime() - t0) / 1e9
      val m = BusFlush(spark.sparkContext, l.token, l.flushed.future)
      (r, m.copy(wallSec = wall))
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
