package graft

import org.apache.spark.sql.functions._

import graft.core.Sessions

/**
 * Dev-only: synthesize the sf1 scale-audit tables (the driver generates
 * sf <= 0.1, so 10x-data audits need a deterministic local corpus — the
 * BASELINE.md "sf1 scale audit" precedent from round 6).
 *
 * Key-carrying tables replicate the real sf0.1 rows with every key shifted
 * by `replica * 10_000_000`: row counts and per-key fanout (orders per
 * customer) scale exactly 10x, key distributions stay realistic, and the
 * contract queries' absent-key probes (+2M/+3M/+5M offsets) stay absent.
 * Replica 0 is the unmodified source. Non-key columns carry over verbatim
 * (they are payload to the kv serving paths under audit).
 *
 * Usage: graft.SynthScale [outDir=/root/repo/target/sf1] — documents.parquet
 * is synthesized separately (r6: half-text recombination) and left alone.
 */
object SynthScale {
  private val Replicas = 10
  private val Offset = 10_000_000L

  def main(args: Array[String]): Unit = {
    val src = "/root/testdata/sf0.1"
    val out = args.headOption.getOrElse("/root/repo/target/sf1")
    val spark = Sessions.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val r = explode(sequence(lit(0L), lit(Replicas - 1L))).as("r")

    spark.read.parquet(s"$src/customer.parquet")
      .select(col("*"), r)
      .withColumn("c_custkey", col("c_custkey") + col("r") * Offset)
      .drop("r")
      .repartition(8).write.mode("overwrite").parquet(s"$out/customer.parquet")

    spark.read.parquet(s"$src/orders.parquet")
      .select(col("*"), r)
      .withColumn("o_orderkey", col("o_orderkey") + col("r") * Offset)
      .withColumn("o_custkey", col("o_custkey") + col("r") * Offset)
      .drop("r")
      .repartition(8).write.mode("overwrite").parquet(s"$out/orders.parquet")

    // embeddings: key-shifted replicas with the vector ROTATED by the
    // replica index — rotation preserves the norm but decorrelates the
    // copies (cosine between rotations of a random vector ≈ random), so
    // replica clones don't manufacture quadratic exact-dup clusters the
    // real corpus wouldn't have. Replica 0 is the unmodified source.
    spark.read.parquet(s"$src/embeddings.parquet")
      .select(col("*"), r)
      .withColumn("vec_id", col("vec_id") + col("r") * Offset)
      .withColumn("embedding",
        expr("""CASE WHEN r = 0 THEN embedding ELSE
               |  concat(slice(embedding, CAST(r + 1 AS INT), size(embedding) - CAST(r AS INT)),
               |         slice(embedding, 1, CAST(r AS INT))) END""".stripMargin))
      .drop("r")
      .repartition(8).write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    // events: 10x rows with ONE synthetic hot user carrying ~20% of ALL
    // events (replicas 1 and 2 collapse onto user 99_999_999; the rest
    // key-shift normally) — the bot/service-account shape every real
    // event log has, and exactly the skew the per-user-window event
    // operators straggle on (the bucketed twins must not). event_id
    // stays unique (shifted per replica) so (ts, event_id) ordering is
    // deterministic; ts/type/value carry over verbatim.
    val HotUser = 99_999_999L
    spark.read.parquet(s"$src/events.parquet")
      .select(col("*"), r)
      .withColumn("event_id", col("event_id") + col("r") * Offset)
      .withColumn("user_id",
        when(col("r").isin(1L, 2L), lit(HotUser))
          .otherwise(col("user_id") + col("r") * Offset))
      .drop("r")
      .repartition(8).write.mode("overwrite").parquet(s"$out/events.parquet")

    // events at 100x (10M rows), SAME ~20% hot-user share but 10x the
    // absolute hot history (2M events on one user): at local[32] the
    // sf1 hot partition (200k rows) sorts inside a task's fixed
    // overhead, so the straggler only becomes measurable here — this is
    // the table of the max-task audit in BASELINE.md "Round 10: sf1
    // event-analytics audit with a skewed user" (recipe DebugEventSkew at
    // commit 6547131).
    val skewOut = s"$out-skew"
    val r100 = explode(sequence(lit(0L), lit(99L))).as("r")
    spark.read.parquet(s"$src/events.parquet")
      .select(col("*"), r100)
      .withColumn("event_id", col("event_id") + col("r") * Offset)
      .withColumn("user_id",
        when(col("r") < 20L, lit(HotUser))
          .otherwise(col("user_id") + col("r") * Offset))
      .drop("r")
      .repartition(16).write.mode("overwrite").parquet(s"$skewOut/events.parquet")
    println(s"[synth] $skewOut/events.parquet rows=" +
      spark.read.parquet(s"$skewOut/events.parquet").count())

    // documents: the r6 half-text recombination recipe (BASELINE.md
    // "Round 6 sf1 scale audit"), reinstated for the r17 audit — replica
    // 0 is the unmodified source; replicas 1-9 concatenate the left half
    // of parent A (the same-index doc) with the right half of parent B
    // (a deterministic same-replica partner) plus a unique marker token:
    // vocabulary and length distributions match the real corpus, exact
    // duplicates stay rare (the marker), near-dup structure stays
    // realistic (half-shared shingle sets). lang/source carry from
    // parent A; n_chars re-derives from the new text.
    locally {
      import org.apache.spark.sql.expressions.Window
      val src0 = spark.read.parquet(s"$src/documents.parquet")
      val rn = row_number().over(Window.orderBy(col("doc_id"))) - 1
      val base = src0.withColumn("rn", rn)
      val nDocs = base.count()
      val reps = base.select(col("*"), r).where(col("r") =!= 0)
      // partner index: a replica-dependent odd stride walks the whole
      // corpus (gcd(stride, nDocs) == 1 not required for realism — any
      // collision just reuses a partner)
      val partnerRn = pmod(col("rn") + col("r") * lit(2654435761L), lit(nDocs))
      val b = base.select(
        col("rn").as("brn"),
        col("text").as("btext"))
      val recombined = reps
        .withColumn("brn", partnerRn)
        .join(b, "brn")
        .select(
          (col("doc_id") + col("r") * Offset).as("doc_id"),
          concat(
            substring(col("text"), lit(1), (length(col("text")) / 2).cast("int")),
            lit(" "),
            substring(col("btext"),
              (length(col("btext")) / 2).cast("int") + 1, lit(Int.MaxValue)),
            lit(" m"), col("r"), lit("_"), col("doc_id")).as("text"),
          col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
      src0.unionByName(recombined)
        .repartition(8).write.mode("overwrite").parquet(s"$out/documents.parquet")
    }

    Seq("customer", "orders", "embeddings", "events", "documents").foreach { t =>
      val n = spark.read.parquet(s"$out/$t.parquet").count()
      println(s"[synth] $out/$t.parquet rows=$n")
    }
    spark.stop()
  }
}
