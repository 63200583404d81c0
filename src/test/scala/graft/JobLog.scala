package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The Spark jobs a block of code starts, with the job group each one
  * carries. Listener events arrive asynchronously, so the block is
  * bracketed by two one-task marker jobs run on the calling thread:
  * every job between the markers' start events was started during the
  * block, on whatever thread. */
object JobLog {

  private val MarkerKey = "graft.spec.jobLogMarker"

  /** `body`'s result and the job group (None when unset) of every job
    * it started, in start order. */
  def record[T](spark: SparkSession)(body: => T): (T, Seq[Option[String]]) = {
    val sc = spark.sparkContext
    val events = new ConcurrentLinkedQueue[(Option[String], Option[String])]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val p = Option(js.properties)
        events.add((p.flatMap(x => Option(x.getProperty(MarkerKey))),
          p.flatMap(x => Option(x.getProperty("spark.jobGroup.id")))))
      }
    }
    val id = java.util.UUID.randomUUID().toString
    def marker(tag: String): Unit = {
      val saved = sc.getLocalProperty(MarkerKey)
      sc.setLocalProperty(MarkerKey, s"$id-$tag")
      try sc.parallelize(Seq(0), 1).count()
      finally sc.setLocalProperty(MarkerKey, saved)
    }
    sc.addSparkListener(listener)
    try {
      marker("start")
      val out = body
      marker("end")
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!events.asScala.exists(_._1.contains(s"$id-end")) &&
          System.nanoTime() < deadline) Thread.sleep(20)
      val seen = events.asScala.toSeq
      val from = seen.indexWhere(_._1.contains(s"$id-start"))
      val to = seen.indexWhere(_._1.contains(s"$id-end"))
      assert(from >= 0 && to > from, "job log markers not seen")
      (out, seen.slice(from + 1, to).map(_._2))
    } finally sc.removeSparkListener(listener)
  }
}
