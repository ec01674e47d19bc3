package graft.core

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The one place the engine's session tuning lives — every entry point
  * (Bench, Profile, Verify, Smoke, Status, SynthScale, ServeBench,
  * tests) builds through here so a config change can't silently miss a
  * runner. */
object Sessions {

  /** The engine's scalar kernels, exposed to plain SQL (`SELECT
    * shard_index(key, 8) ...`) — same Expression classes the Scala DSL
    * uses, so SQL and DataFrame paths cannot drift. */
  private val SqlFunctions: Seq[(String, Int, Seq[Expression] => Expression)] = Seq(
    ("shard_index", 2, args => ShardIndexExpr(args(0), args(1))),
    ("rolling_hash", 1, args => RollingHashExpr(args(0))),
    ("top_freq", 1, args => TopFreqExpr(args(0))),
    ("array_dot", 2, args => DoubleArrayDot(args(0), args(1))))

  /** Builder with the engine's required session config applied. */
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      // plain `key = X` filters over domain scans imply their shard —
      // inject the routing conjunct so partition pruning fires (see
      // graft.plans.ShardPruningRule)
      .withExtensions { ext =>
        ext.injectOptimizerRule(_ => graft.plans.ShardPruningRule)
        SqlFunctions.foreach { case (name, arity, build) =>
          ext.injectFunction((
            FunctionIdentifier(name),
            new ExpressionInfo(classOf[Sessions.type].getName, name),
            (args: Seq[Expression]) => {
              require(args.length == arity, s"$name expects $arity arguments")
              build(args)
            }))
        }
      }
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // sketch aggregates are 128+ columns wide; keep them in codegen
      // (spark.sql.codegen.maxFields defaults to 100)
      .config("spark.sql.codegen.maxFields", "256")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS) -> read as BIGINT nanos
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // storage-partitioned join over kv-sorted domains (KvDomainV2):
      // honor DSv2-reported KeyGroupedPartitioning so same-sharded domain
      // joins skip the exchange, honor reported per-shard key order so
      // they skip the sort (joins condition on (shard, key) — a SUPERSET
      // of the partition key, which SPJ accepts under Spark's defaults;
      // requireAllClusterKeysForCoPartition stays at its default)
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.sorting.enabled", "true")
      // ...and let a PLAIN DataFrame (a probe/delta) join a domain by
      // shuffling only itself into the domain's reported partitioning —
      // the domain side never moves
      .config("spark.sql.sources.v2.bucketing.shuffle.enabled", "true")
      .config("spark.ui.enabled", "false")
}
