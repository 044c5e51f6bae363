package org.apache.spark

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the action jobs a block of code runs, through the Spark
  * internals that make the count exact (the listener-bus drain and the
  * job-tag property). An action job is one whose last stage is a result
  * stage and that no broadcast exchange started: adaptive execution
  * also runs each shuffle stage it materializes as a job of its own,
  * and a broadcast exchange collects its side in one, and how many of
  * those run varies with timing. A job over zero partitions (an action
  * on a frame adaptive execution found empty) starts no stage and is
  * not counted. */
object ActionJobs {
  def count(sc: SparkContext)(body: => Unit): Long = {
    val tag = s"graft-action-jobs-${java.util.UUID.randomUUID}"
    val n = new AtomicLong()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val tags = Option(e.properties)
          .flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_TAGS)))
          .getOrElse("")
        if (tags.split(",").contains(tag) &&
            !tags.contains("broadcast exchange") && e.stageInfos.nonEmpty &&
            e.stageInfos.maxBy(_.stageId).shuffleDepId.isEmpty)
          n.incrementAndGet()
      }
    }
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    try body
    finally {
      sc.removeJobTag(tag)
      sc.listenerBus.waitUntilEmpty()
      sc.removeSparkListener(listener)
    }
    n.get()
  }
}
