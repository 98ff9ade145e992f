package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs. sf0.001 keeps tests fast. */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Runs `body` with the driver-path bound set to `n`
    * ([[graft.operators.DriverPath.MaxRowsConf]]; <= 0 forces every
    * gated kernel down its distributed plan), restoring the shared
    * session's previous value afterwards. */
  def withDriverPathMaxRows[T](n: Long)(body: => T): T = {
    val key = graft.operators.DriverPath.MaxRowsConf
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, n)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Call sites ("collect at X.scala:N") of the Spark jobs started
    * while `body` runs, with its result. */
  def jobsDuring[T](body: => T): (Seq[String], T) = {
    val sc = spark.sparkContext
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        sites.add(e.stageInfos.maxBy(_.stageId).name)
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.ListenerBusDrain(sc)
      import scala.jdk.CollectionConverters._
      (sites.asScala.toSeq, out)
    } finally sc.removeSparkListener(listener)
  }

  override def afterAll(): Unit = {
    // session is shared across suites in one forked JVM; don't stop it
    super.afterAll()
  }
}
