package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.ExplainMode

/** `graft.Profile`'s per-query step on the shared session, and the pin
  * on which entry points `src/main` keeps. */
class ProfileSpec extends SparkSuite {

  test("per-query step: plan file, stage report, listener removed, session left running") {
    val dir = scratch("profile-plans")
    val r = Profile.query(spark, sf("sf0.001"), "q1_agg", dir)
    // the file is the frame's explain("formatted") with its JVM-wide
    // counters masked; a rebuilt frame differs only in those counters
    val written = new String(Files.readAllBytes(Paths.get(dir, "q1_agg.txt")), "UTF-8")
    val expected = SparkEntry.queries("q1_agg")(spark, sf("sf0.001"))
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(written === Profile.masked(expected))
    assert(written.contains("HashAggregate") && written.contains("Exchange"),
      s"the mask erased the plan:\n$written")
    assert(r.stats.stageCount >= 1, "no stage reported")
    assert(r.exchanges >= 1, "the aggregation's shuffle is missing from the final plan")
    assert(r.buildSeconds >= 0 && r.runSeconds > 0)

    // a job in the step's own group after it returned: a listener left
    // attached would count it (measure's drain delivers it first)
    val (stagesBefore, recordsBefore) = (r.stats.stageCount, r.stats.shuffleRecords.get())
    val (_, again) = StageStats.measure(spark.sparkContext, r.stats.groupPrefix) {
      spark.range(100).repartition(2).write.format("noop").mode("overwrite").save()
    }
    assert(again.shuffleRecords.get() === 100L, "the probe job did not run in the group")
    assert(r.stats.stageCount === stagesBefore && r.stats.shuffleRecords.get() === recordsBefore,
      "the step's listener is still attached")
    assert(!spark.sparkContext.isStopped)
    assert(spark.range(3).count() === 3L)
  }

  test("masked: per-JVM counters and identity hashes go, the plan text stays") {
    val raw = "(3) HashAggregate [codegen id : 12]\n" +
      "Keys [1]: [l_returnflag#12]\nPushedFilters: [EqualTo(key,[B@1f2e3d)]\n" +
      "Arguments: MapPartitionsRDD[42] at localCheckpoint at IndexDelete.scala:360, plan_id=7\n" +
      "(4) Exchange [codegen id : 3] at DomainStore.scala:1446 hashpartitioning(shard#7, 32)\n" +
      "Arguments: graft.operators.Multimodal$$$Lambda$5748/0x00007fc7113f5000@f456711, obj#19"
    assert(Profile.masked(raw) ===
      "(3) HashAggregate [codegen id : 12]\n" +
        "Keys [1]: [l_returnflag#]\nPushedFilters: [EqualTo(key,[B@)]\n" +
        "Arguments: MapPartitionsRDD[] at localCheckpoint at IndexDelete.scala:_, plan_id=\n" +
        "(4) Exchange [codegen id : 3] at DomainStore.scala:_ hashpartitioning(shard#, 32)\n" +
        "Arguments: graft.operators.Multimodal$$$Lambda, obj#")
  }

  test("exchange count equals the plan's shuffle nodes, nested branches included") {
    import org.apache.spark.sql.functions.col
    val df = spark.range(1000).repartition(3, col("id"))
      .join(spark.range(1000).repartition(5).hint("shuffle_merge"), "id")
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val shuffles = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.size
    assert(shuffles >= 3, s"fixture too simple:\n$plan")
    assert(Profile.exchangeCounts(plan.toString) === ((shuffles, 0)))
  }

  test("src/main keeps exactly the eight entry points") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val objectDecl = """^\s*(?:private\[\w+\]\s+)?(?:case\s+)?object\s+(\w+)""".r.unanchored
    val mains = scala.collection.mutable.SortedSet.empty[String]
    Files.walk(root).filter(_.toString.endsWith(".scala")).forEach { f =>
      var current = ""
      Files.readAllLines(f).asScala.foreach {
        case objectDecl(name) => current = name
        case line if line.contains("def main(") => mains += current
        case _ => ()
      }
    }
    assert(mains.toSeq === Seq("Bench", "Profile", "Serve", "ServeBench", "Smoke", "Status",
      "SynthScale", "Verify"))
  }
}
