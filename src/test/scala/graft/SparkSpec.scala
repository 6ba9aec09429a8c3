package graft

import org.apache.spark.scheduler.StageInfo
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** `f`'s result, the number of jobs it ran and the stages it submitted
    * (a stage whose output was already available is skipped, not
    * submitted).
    */
  def shapeOf[T](f: => T): (T, SparkSpec.Shape) = {
    import org.apache.spark.scheduler._
    import org.apache.spark.sql.graftbridge.ListenerBridge
    val sc = spark.sparkContext
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageInfo]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageSubmitted(st: SparkListenerStageSubmitted): Unit =
        stages.add(st.stageInfo)
    }
    ListenerBridge.waitUntilListenerBusEmpty(sc)
    sc.addSparkListener(l)
    try {
      val r = f
      ListenerBridge.waitUntilListenerBusEmpty(sc)
      import scala.jdk.CollectionConverters._
      (r, SparkSpec.Shape(jobs.get(), stages.asScala.toSeq))
    } finally sc.removeSparkListener(l)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** What `SparkSpec#shapeOf` saw: jobs started, stages submitted. */
  final case class Shape(jobs: Int, stages: Seq[StageInfo]) {
    def stageWidths: Seq[Int] = stages.map(_.numTasks)
    def shuffleMapStages: Seq[StageInfo] =
      stages.filter(org.apache.spark.sql.graftbridge.ListenerBridge.isShuffleMap)
  }
}
