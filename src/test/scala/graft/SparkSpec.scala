package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM under Test/fork). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sqlc = spark.sqlContext

  /** A fresh directory under the system temp dir, deleted recursively
    * when the test JVM exits, so suites leave no scratch stores behind. */
  def tmpDir(prefix: String): String = {
    import java.nio.file.{Files, Path}
    val p = Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      if (Files.exists(p))
        Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(f => Files.deleteIfExists(f))))
    p.toString
  }

  /** Spark jobs `body` starts on this thread, counted through a
    * listener by job group (a [[BusFlush]] marker job flushes the
    * listener bus). */
  def jobsIn(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val counted = new java.util.concurrent.atomic.AtomicInteger
    val token = java.util.UUID.randomUUID().toString
    val flushed = scala.concurrent.Promise[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (BusFlush.isMarker(e, token)) flushed.trySuccess(counted.get)
        else if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == "counted")
          counted.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("counted", "counted")
      try body finally sc.clearJobGroup()
      BusFlush(sc, token, flushed.future)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession =
    Session.builder(4).appName("graft-test").getOrCreate()
}
