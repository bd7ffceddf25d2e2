package org.apache.spark.graftx

import java.util.Properties
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}

/** Test probe for the Spark jobs one call launches: the start properties
  * of each job and the input rows its tasks read. Jobs are recognised by
  * a tag set on the calling thread, which the threads it starts inherit,
  * so jobs from other threads never count. Lives under `org.apache.spark`
  * for the listener-bus drain, as [[StageMetrics]] does. */
object JobProbe {

  final case class Probe(jobs: Seq[Properties], inputRows: Long) {
    def descriptions: Seq[String] =
      jobs.map(p => Option(p.getProperty("spark.job.description")).getOrElse(""))
  }

  private val TagKey = "graft.test.probe"

  def apply[A](sc: SparkContext)(body: => A): (A, Probe) = {
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new ConcurrentHashMap[Int, Properties]()
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val rows = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(TagKey) == tag) {
          jobs.put(e.jobId, e.properties)
          e.stageIds.foreach(s => stages.add(s))
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          rows.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    sc.addSparkListener(listener)
    val prev = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, tag)
    try {
      val a = body
      sc.listenerBus.waitUntilEmpty(10000)
      val ordered = jobs.asScala.toSeq.sortBy(_._1).map(_._2)
      (a, Probe(ordered, rows.get()))
    } finally {
      sc.setLocalProperty(TagKey, prev)
      sc.removeSparkListener(listener)
    }
  }
}
