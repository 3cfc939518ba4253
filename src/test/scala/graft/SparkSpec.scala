package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs — one per suite (lazy), UTC,
  * shuffle partitions sized to local cores (not the 200 default).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def sf(scale: String = "0.001"): String = s"/root/testdata/sf$scale"

  /** `body`'s value and the number of Spark jobs started while it ran.
    * The listener bus is drained before the listener is added (so no
    * earlier job is counted) and after the body (so none of its jobs
    * is missed).
    */
  def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    obs.drainListenerBus(sc)
    sc.addSparkListener(l)
    try {
      val v = body
      obs.drainListenerBus(sc)
      (v, n.get)
    } finally sc.removeSparkListener(l)
  }
}
