package graft

import java.util.Locale

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Sessions

/**
 * Driver-run benchmark: times every contract query at the given scale
 * factor and prints one JSON line. Queries are materialized through the
 * noop sink (not count()) so column-pruning can't skip the measured work
 * (count(*) would let Catalyst drop every computed column).
 */
object Bench {

  /** The scale factor the bench reads (`SPARK_GRAFT_SF_DIR`). */
  private[graft] def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** The bench session: `local[SPARK_GRAFT_CPUS]` through the engine's
    * one session builder. */
  private[graft] def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Untimed warmup: run the sf0.001 flagship once so JIT + codegen +
    * parquet-reader init aren't billed to whichever query runs first. */
  private[graft] def warmUp(spark: SparkSession, tag: String): Unit = {
    try noop(SparkEntry.entry(spark))
    catch { case e: Throwable => System.err.println(s"[$tag] warmup failed: $e") }
    // The warmup built the sf0.001 flagship fixture; forget it so a run
    // at sf0.001 still times that domain build.
    reset(spark)
  }

  /** Clear the cache and forget the domain fixtures, so the next pass
    * re-does the real work (operator-internal persists would otherwise
    * turn it into a cache read, and build queries would skip the build). */
  private[graft] def reset(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    queries.Fixtures.reset()
  }

  /** Materialize through the noop sink (not count(), which would let
    * Catalyst drop every computed column). */
  private[graft] def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private[graft] def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = Bench.sfDir
    val spark = session()
    warmUp(spark, "bench")

    // Stable order for comparable per-query numbers across rounds; the
    // query map is assembled once, outside anything timed.
    val qmap = SparkEntry.queries
    val names = qmap.keys.toSeq.sorted
    def runAll(): Map[String, (Double, Boolean)] = names.map { name =>
      val t0 = System.nanoTime()
      val ok =
        try { noop(qmap(name)(spark, sfDir)); true }
        catch { case e: Throwable => System.err.println(s"[bench] $name failed: $e"); false }
      name -> ((System.nanoTime() - t0) / 1e9, ok)
    }.toMap
    // Best of two full passes: wall-clock noise on a shared box swings
    // single runs by ±50%. Cache and fixtures are reset between passes.
    val rep1 = runAll()
    reset(spark)
    val rep2 = runAll()
    // Sub-metrics: the index pipelines deliberately time the full index
    // lifecycle; attribute the two halves so a regression points at the
    // right one (build = derive + publish the index domain; probe = the
    // delta's keys + point lookups + verify). The probe frame is built
    // inside its timer; the build's fixture is memoized, so a probe never
    // re-times it. BEST OF TWO passes, like the queries: a single pass
    // after ~5 min of prior work in this JVM once printed a 53.9 s probe
    // for a pipeline whose isolated time is ~8 s (r5 verdict) — a 7×
    // noise artifact defeats the submetric's whole purpose (regression
    // attribution). Failures skip the field rather than kill the bench line.
    import queries.{PipelineQueries => P, SearchQueries => S}
    val pipelines: Seq[(String, () => Any, () => DataFrame)] = Seq(
      ("pipeline_dedup_index", () => P.dedupIndexStore(spark, sfDir),
        () => P.dedupIndexProbe(spark, sfDir)),
      ("pipeline_image_index", () => P.imageIndexStore(spark, sfDir),
        () => P.imageIndexProbe(spark, sfDir)),
      ("pipeline_semdedup_index", () => P.semIndexStore(spark, sfDir),
        () => P.semIndexProbe(spark, sfDir)),
      ("pipeline_ann_index", () => P.annIndexStore(spark, sfDir),
        () => P.annIndexProbe(spark, sfDir)),
      ("pipeline_annpq_index", () => P.annPqIndexStore(spark, sfDir),
        () => P.annPqIndexProbe(spark, sfDir)),
      ("text_search_topk", () => S.searchIndexStore(spark, sfDir),
        () => S.searchProbe(spark, sfDir)),
      ("text_search_phrase", () => S.positionalIndexStore(spark, sfDir),
        () => graft.operators.Search.phraseSearch(
          S.positionalIndexStore(spark, sfDir),
          { import spark.implicits._; S.PhraseLits.toDF("query_id", "phrase") },
          k = S.TopK)))
    def subPass(): Seq[(String, Double)] = {
      reset(spark)
      pipelines.flatMap { case (name, build, probe) =>
        val buildSec = seconds(build())
        Seq(s"${name}_build" -> buildSec, s"${name}_probe" -> seconds(noop(probe())))
      }
    }
    val subMetrics: Seq[(String, Double)] =
      try subPass().zip(subPass()).map { case ((k, a), (_, b)) => k -> math.min(a, b) }
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] submetrics failed: $e")
          Nil
      }
    // Per query: min over SUCCESSFUL passes; a query with no successful
    // pass keeps a time but is listed under "failures" so a crash can't
    // masquerade as a speedup.
    val results = names.map { n =>
      val passes = Seq(rep1(n), rep2(n))
      val good = passes.filter(_._2).map(_._1)
      n -> (if (good.nonEmpty) good.min else passes.map(_._1).min, good.nonEmpty)
    }
    val failed = results.collect { case (n, (_, false)) => n }
    // Locale.ROOT: a comma-decimal default locale would emit invalid JSON.
    def num(v: Double): String = String.format(Locale.ROOT, "%.3f", Double.box(v))
    // Query names are code-controlled identifiers today, but these lines
    // are the artifacts built to SURVIVE truncation — a name carrying a
    // quote/backslash/control char must not be the thing that makes
    // them unparseable (ADVICE r11).
    def jstr(s: String): String =
      s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      }.mkString("\"", "", "\"")
    // ASCENDING by time (name-tiebroken): the driver's capture keeps only
    // the LAST ~2k chars of stdout, which under alphabetical order made the
    // head families (dedup_*/ev_*/kv_*/mm_*) permanently invisible — the
    // exact attribution gap of the r14 bench watch. Cheapest first puts
    // every expensive (diagnostic) query inside the surviving tail; JSON
    // key order carries no semantics, and target/bench_queries.json keeps
    // the slowest-first full record.
    val qs = results.sortBy { case (k, (v, _)) => (v, k) }
      .map { case (k, (v, _)) => jstr(k) + ":" + num(v) }
      .mkString("{", ",", "}")
    val failuresField =
      if (failed.isEmpty) ""
      else failed.map(jstr).mkString(""","failures":[""", ",", "]")
    // "total" = sum of per-query best-of-two (not the wall-clock of either
    // pass — per_pass_total carries those); queries with no successful
    // pass are excluded (their timing measures a crash, not the work).
    val total = results.collect { case (n, (v, true)) => v }.sum
    def passTotal(rep: Map[String, (Double, Boolean)]): Double = rep.values.map(_._1).sum
    // n_ok/n_failed ride at top level so a round-over-round comparison of
    // "value" can't mistake a crashed (and therefore excluded) query for
    // a speedup without noticing the query count dropped.
    val subField =
      if (subMetrics.isEmpty) ""
      else subMetrics.map { case (k, v) => jstr(k) + ":" + num(v) }
        .mkString(""","submetrics_method":"best_of_2","submetrics":{""", ",", "}")
    val line =
      s"""{"metric":"total","value":${num(total)},"unit":"sec","method":"sum_of_best_of_2"""" +
        s""","n_ok":${results.size - failed.size},"n_failed":${failed.size}""" +
        s""","per_pass_total":[${num(passTotal(rep1))},${num(passTotal(rep2))}]""" +
        s""","queries":$qs$failuresField$subField,"sf":"$sfDir"}"""
    // The driver PARSES THE FINAL JSON LINE (PERF_r16: `parsed` held only
    // total_summary, so per_query/n_common/geomean were empty two rounds
    // running — r16 verdict task 1). The final line therefore carries the
    // FULL record: per-query map (ascending by time, so a tail-truncated
    // capture still keeps every expensive query) and submetrics,
    // additions-only on the old summary fields. The first "total" line
    // stays unchanged for any consumer keyed on metric=="total".
    val summary =
      s"""{"metric":"total_summary","value":${num(total)},"unit":"sec"""" +
        s""","n_ok":${results.size - failed.size},"n_failed":${failed.size}""" +
        s""","queries":$qs$failuresField$subField,"sf":"$sfDir"}"""
    // FILES FIRST, stdout second (r10 verdict task 6): the driver's
    // stdout capture lost per-query data two rounds running; the files
    // are the per-query record and must exist even if the process dies
    // mid-print. bench_queries.json is the compact slowest-first record
    // so the top movers survive ANY truncation of any channel — and it
    // carries its OWN failures list (a crashed query's timing measures
    // the crash; without the marker riding the same file, the one
    // channel built to survive truncation would let a crash masquerade
    // as a speedup). File-write failures must not cost the stdout
    // channel too: they log to stderr and the prints still run.
    try {
      val out = java.nio.file.Paths.get("target/bench.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out, (line + "\n" + summary + "\n").getBytes("UTF-8"))
      val slowestFirst = results.sortBy { case (_, (v, _)) => -v }
        .map { case (k, (v, _)) => jstr(k) + ":" + num(v) }
        .mkString("{", ",", "}")
      val failedArr = failed.map(jstr).mkString("[", ",", "]")
      java.nio.file.Files.write(
        java.nio.file.Paths.get("target/bench_queries.json"),
        (s"""{"failures":$failedArr,"queries":$slowestFirst}""" + "\n").getBytes("UTF-8"))
    } catch {
      case e: Throwable => System.err.println(s"[bench] artifact write failed: $e")
    }
    println(line)
    println(summary)
    spark.stop()
  }
}
