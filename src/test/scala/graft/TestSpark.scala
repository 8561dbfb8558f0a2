package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite (JVM-forked by sbt). */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Runs `body`, then returns every job started meanwhile, on any thread,
    * in start order: its job group (null for none) and the RDD names of
    * each of its stages. */
  def jobsDuring(body: => Unit): Seq[(String, Seq[Seq[String]])] = {
    val sc = spark.sparkContext
    val marker = s"graft-jobs-marker-${System.nanoTime()}"
    val jobs = new ConcurrentLinkedQueue[(String, Seq[Seq[String]])]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull ->
          e.stageInfos.map(_.rddInfos.map(_.name)))
    }
    sc.addSparkListener(listener)
    try {
      body
      // Events reach listeners in order: once the marker job's start is
      // seen, every job started before it has been seen too.
      sc.setJobGroup(marker, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 20e9.toLong
      while (!jobs.asScala.exists(_._1 == marker) && System.nanoTime() < deadline) Thread.sleep(5)
      assert(jobs.asScala.exists(_._1 == marker), "listener saw no marker job")
      jobs.asScala.toSeq.takeWhile(_._1 != marker)
    } finally sc.removeSparkListener(listener)
  }
}
