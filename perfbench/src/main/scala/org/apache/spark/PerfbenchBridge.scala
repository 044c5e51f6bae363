package org.apache.spark

/** Package-private Spark access for the benchmark. `drain` blocks until every
  * listener event posted so far has been delivered. A job's end event is
  * posted before its action returns, so after `drain` every job of a
  * finished call has been seen by the listeners — no timing window, no
  * sleep. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Whether an action ran a job: its last stage is a result stage and
    * no broadcast exchange started it. Adaptive execution also runs each
    * shuffle stage it materializes as a job of its own, and a broadcast
    * exchange collects its side in one; how many of those run varies
    * with timing (an iteration of the concepts workload runs 58 or 59
    * and 41 or 42 of them beside its 35 action jobs), so only action
    * jobs give an exact count. */
  def isActionJob(e: org.apache.spark.scheduler.SparkListenerJobStart): Boolean =
    e.stageInfos.maxBy(_.stageId).shuffleDepId.isEmpty &&
      !Option(e.properties).flatMap(p => Option(p.getProperty(JobTags)))
        .exists(_.contains("broadcast exchange"))

  /** The job property that carries a job's tags. */
  val JobTags: String = SparkContext.SPARK_JOB_TAGS
}
