package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** The Spark jobs a block starts, as a `SparkListener` sees them: job
  * id, job group and stage names. The listener bus delivers events on
  * its own thread, in order; so a marker job is run before the block and
  * after it, and each marker's start is awaited. Every job the block
  * started is seen between the two, and nothing from before it. Assumes
  * nothing else runs jobs meanwhile (suites run one at a time). */
object JobLog {
  final case class Job(id: Int, group: Option[String], stages: Seq[String])

  private val MarkerKey = "graft.test.jobLogMarker"

  def during[T](spark: SparkSession)(f: => T): (T, Seq[Job]) = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[Job]()
    val fences = Seq(new CountDownLatch(1), new CountDownLatch(1))
    @volatile var recording = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        props.flatMap(p => Option(p.getProperty(MarkerKey))) match {
          case Some(i) => fences(i.toInt).countDown()
          case None if recording =>
            seen.add(Job(e.jobId,
              props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))),
              e.stageInfos.map(_.name)))
          case None =>
        }
      }
    }
    def fence(i: Int): Unit = {
      sc.setLocalProperty(MarkerKey, i.toString)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(MarkerKey, null)
      assert(fences(i).await(60, TimeUnit.SECONDS), "listener bus did not deliver the marker")
    }
    sc.addSparkListener(listener)
    try {
      fence(0)
      recording = true
      val v = f
      fence(1)
      (v, seen.asScala.toSeq.sortBy(_.id))
    } finally sc.removeSparkListener(listener)
  }
}
