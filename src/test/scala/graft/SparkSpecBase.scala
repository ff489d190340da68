package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Shared local session for operator specs. */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpecBase.session

  /** The `ExecutionListenerBus`es on the SparkContext's shared listener
    * queue (both accessors are `private[spark]`, public in bytecode): a
    * session with a query-execution listener (an `Observation`, or one it
    * copied from its parent) adds one until it is collected. */
  protected def executionListenerBuses(): Int = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("listeners").invoke(bus).asInstanceOf[java.util.List[AnyRef]]
      .asScala.count(_.getClass.getSimpleName == "ExecutionListenerBus")
  }

  /** Spark jobs started by `f` on this thread. A fence job after `f` is
    * awaited on the listener, so every job of `f` has been delivered when
    * the count is read (the listener bus is asynchronous). */
  protected def jobsDuring[A](f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(Option(js.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("jobs-under-test", "")
      val a = try f finally sc.clearJobGroup()
      sc.setJobGroup("jobs-fence", "")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains("jobs-fence") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains("jobs-fence"), "fence job never reached the listener")
      (a, groups.asScala.count(_ == "jobs-under-test"))
    } finally sc.removeSparkListener(listener)
  }

  override protected def afterAll(): Unit = super.afterAll()
}

object SparkSpecBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(s)
    s
  }
}
