package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Run contract queries by name under Bench's harness (warm-up, two
  * passes, cache + fixture reset between them) and report what ACTUALLY
  * executed, per query:
  *  - wall time, split into the frame build (the eager jobs run while
  *    the frame is assembled) and its noop-sink execution;
  *  - the final adaptive plan's shuffle and reused-exchange counts (AQE
  *    hides exchange reuse from the initial plan: 8 planned copies of a
  *    subtree can be 1 executed stage);
  *  - every stage its job group ran, with tasks, max/mean task ms, skew
  *    and shuffle records + bytes written ([[StageStats]]);
  *  - `target/plans/<query>.txt`: `explain("formatted")` of the built
  *    frame with its per-JVM counters masked ([[masked]]), the file the
  *    `plans/<tag>/<query>_before.txt` and `_after.txt` record is copied
  *    from.
  *
  * Usage: runMain graft.Profile [query...]  (none = every contract query;
  * SPARK_GRAFT_SF_DIR and SPARK_GRAFT_CPUS as for Bench)
  */
object Profile {

  final case class Report(
      buildSeconds: Double, runSeconds: Double, exchanges: Int, reused: Int, stats: StageStats)

  def main(args: Array[String]): Unit = {
    val spark = Bench.session()
    try run(spark, Bench.sfDir, args.toSeq)
    finally spark.stop()
  }

  def run(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    val todo = if (names.nonEmpty) names else SparkEntry.queries.keys.toSeq.sorted
    Bench.warmUp(spark, "profile")
    for (pass <- 1 to 2) {
      todo.foreach { name =>
        try {
          val r = query(spark, sfDir, name, "target/plans")
          println(f"[profile] pass$pass $name%-28s ${r.buildSeconds + r.runSeconds}%6.2f s " +
            f"(build ${r.buildSeconds}%.2f + run ${r.runSeconds}%.2f)  " +
            f"finalPlan: Exchange=${r.exchanges} Reused=${r.reused}  " +
            f"shuffle: ${r.stats.shuffleRecords.get()}%,d rec " +
            f"${r.stats.shuffleBytes.get() / (1024 * 1024)}%,d MB  stages: ${r.stats.stageCount}")
          r.stats.report(s"profile $name")
        } catch {
          case e: Throwable => println(s"[profile] pass$pass $name FAILED: $e")
        }
      }
      Bench.reset(spark)
    }
  }

  /** Build, plan-dump and execute one contract query in its own job
    * group; every listener it attaches is removed before it returns. */
  def query(spark: SparkSession, sfDir: String, name: String, planDir: String): Report = {
    // The noop write runs its OWN QueryExecution (the frame's is never
    // executed), so the final adaptive plan is only reachable through a
    // listener on the write.
    val finalPlan = new AtomicReference[String]("")
    val onPlan = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        finalPlan.set(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(onPlan)
    try {
      val ((build, run), stats) = StageStats.measure(spark.sparkContext, s"profile-$name") {
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(name)(spark, sfDir)
        val build = (System.nanoTime() - t0) / 1e9
        Files.createDirectories(Paths.get(planDir))
        Files.write(Paths.get(planDir, s"$name.txt"), masked(df.queryExecution
          .explainString(ExplainMode.fromString("formatted"))).getBytes("UTF-8"))
        (build, Bench.seconds(Bench.noop(df)))
      }
      // the drain inside measure also delivered the write's plan event
      // (same FIFO listener queue)
      val (exchanges, reused) = exchangeCounts(finalPlan.get().split("== Initial Plan ==")(0))
      Report(build, run, exchanges, reused, stats)
    } finally spark.listenerManager.unregister(onPlan)
  }

  /** `plan` with its per-JVM counters (expression ids, plan ids, RDD
    * ids, lambda class ids), identity hashes (binary literals, lambdas)
    * and callsite line numbers (`IndexDelete.scala:360` on a checkpoint's
    * RDD) masked, so an unchanged plan writes the same file in every run,
    * and after edits elsewhere in its source files, and a before/after
    * diff shows only real changes. */
  private[graft] def masked(plan: String): String =
    plan.replaceAll("#\\d+", "#").replaceAll("plan_id=\\d+", "plan_id=")
      .replaceAll("RDD\\[\\d+]", "RDD[]").replaceAll("\\[B@\\p{XDigit}+", "[B@")
      .replaceAll("Lambda\\$\\d+/0x\\p{XDigit}+@\\p{XDigit}+", "Lambda")
      .replaceAll("(\\w+\\.scala):\\d+", "$1:_")

  /** (shuffle exchanges, reused exchanges or stages) in a plan's tree
    * string. Shuffles match on tree prefixes only, so one nested under a
    * `:` branch counts and BroadcastExchange / ReusedExchange do not. */
  private[graft] def exchangeCounts(plan: String): (Int, Int) = {
    def n(pat: String): Int = pat.r.findAllIn(plan).length
    (n("""(?m)^[ :+\-]*Exchange\b"""), n("ReusedExchange|ReusedQueryStage|TableCacheQueryStage"))
  }
}
