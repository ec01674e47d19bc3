package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The job-group-scoped listener behind `graft.Profile` and the
  * shuffle-volume pins: scoping, completeness right after the action,
  * and the nullable job properties. */
class StageStatsSpec extends SparkSuite {

  private def shuffleRows(n: Long): Unit =
    spark.range(n).repartition(4).write.format("noop").mode("overwrite").save()

  test("a job outside the prefix is not counted") {
    val group = s"stagestats-scope-${System.nanoTime()}"
    val (_, stats) = StageStats.measure(spark.sparkContext, group) {
      StageStats.inGroup(spark.sparkContext, s"elsewhere-$group")(shuffleRows(700))
      shuffleRows(300)
    }
    assert(stats.shuffleRecords.get() === 300L)
  }

  test("a repartition of N rows reports exactly N shuffle records right after the action") {
    // a listener ahead of ours stalls the shared queue on the job's
    // start, so the task ends are still queued when the action returns:
    // measure's sentinel drain is the only wait between the two
    val group = s"stagestats-n-${System.nanoTime()}"
    val stall = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(p => group == p.getProperty("spark.jobGroup.id")))
          Thread.sleep(300)
    }
    spark.sparkContext.addSparkListener(stall)
    val (_, stats) =
      try StageStats.measure(spark.sparkContext, group)(shuffleRows(1234))
      finally spark.sparkContext.removeSparkListener(stall)
    assert(stats.shuffleRecords.get() === 1234L)
    assert(stats.stageCount >= 1)
  }

  test("null job properties do not throw") {
    val stats = new StageStats("stagestats-null")
    stats.onJobStart(SparkListenerJobStart(0, 0L, Seq.empty, null))
    assert(stats.stageCount === 0)
  }
}
