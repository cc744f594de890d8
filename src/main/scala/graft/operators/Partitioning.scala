package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Partitioning helpers: stream-side spreading for pair operators, salted
  * joins for skewed keys, bucketed tables for shuffle-free co-located
  * joins.
  */
object Partitioning {

  /** Skew-resistant equi join: replicate each right-side row `salt` ways
    * and scatter left-side rows uniformly across the replicas, so one hot
    * key spreads over `salt` tasks instead of melting one. Inner/left
    * semantics preserved (each left row meets exactly one replica).
    * AQE's skew-join handles the sort-merge case at runtime; salting is
    * the explicit form that also covers hash aggregation feeding joins.
    */
  def saltedJoin(
      left: DataFrame, right: DataFrame, key: String,
      salt: Int, joinType: String = "inner"): DataFrame = {
    require(salt >= 1, "salt must be >= 1")
    // fail loud on join types the salting construction cannot preserve:
    // right rows are replicated `salt` ways, so an unmatched right row
    // under a right/full outer join would be null-extended once PER
    // UNMATCHED REPLICA — up to `salt` duplicate output rows — and a
    // right-semi/anti would key membership on the replicas. Left-rooted
    // types are exactly the ones where each left row meets one replica.
    val jt = joinType.toLowerCase.replace("_", "")
    require(Set("inner", "left", "leftouter", "leftsemi", "leftanti")(jt),
      s"saltedJoin preserves inner/left-rooted semantics only; " +
        s"'$joinType' would emit up to salt=$salt duplicates per " +
        "unmatched right row (flip the sides for a right join)")
    val l = left.withColumn("_salt",
      pmod(pmod(hash(monotonically_increasing_id()), lit(salt)) + salt, lit(salt)))
    val r = right.withColumn("_salt_arr",
      sequence(lit(0), lit(salt - 1)))
      .withColumn("_salt", explode(col("_salt_arr")))
      .drop("_salt_arr")
    l.join(r, Seq(key, "_salt"), joinType).drop("_salt")
  }

  /** Write a bucketed+sorted table: joins and aggregations on the bucket
    * keys then run shuffle-free (`SortMergeJoin` with no `Exchange`).
    * The table lands in the session warehouse under `name`.
    */
  def writeBucketed(df: DataFrame, name: String, bucketCols: Seq[String], buckets: Int): Unit = {
    graft.sources.TableSink.prepareOverwrite(df.sparkSession, name)
    // Cluster by the bucket key BEFORE the write: an unclustered bucketed
    // write emits one file per (task x bucket) — N input tasks produce
    // 8N files at scale (the guide §6 small-files hazard), and a
    // single-split input serializes all buckets into one task. The
    // explicit hash repartition uses the same HashPartitioning the
    // bucket spec does, so each task holds exactly one bucket: exactly
    // `buckets` output files, written in parallel, each sorted by the
    // spec's sortBy. Same table contents either way.
    df.repartition(buckets, bucketCols.map(col): _*)
      .write.mode("overwrite")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(name)
  }

  /** Write a hive-layout partitioned directory tree (`col=value/...`) —
    * the coarse-pruning layout primitive at 100 TB: a filter on the
    * partition column never touches non-matching files (directory-level
    * pruning via `PartitionFilters`, before any footer is read), where
    * an unpartitioned layout at best skips row groups per file.
    * Partition columns should be low-cardinality (each value is a
    * directory; a high-cardinality key belongs in bucketing or z-order
    * instead).
    */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Read a hive-layout tree written by [[writePartitioned]] with the
    * writer's schema declared EXPLICITLY. Inference needs at least one
    * partition directory + footer to exist; a tree whose source was
    * empty (or whose partitions were all dropped by retention) has
    * neither and fails `UNABLE_TO_INFER_SCHEMA` — a production reader of
    * a partitioned dataset knows its schema and must not depend on data
    * presence to learn it. Declared fields matching partition directory
    * names are parsed from the path as the declared type, exactly as
    * inference would; on a non-empty tree the result is identical.
    */
  def readPartitioned(
      spark: org.apache.spark.sql.SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).parquet(path)

  /** Z-order (Morton) interleave of two pre-quantized codes: bit i of
    * `x` lands at output bit 2i, bit i of `y` at 2i+1. Locality-
    * preserving multi-dimensional clustering for data LAYOUT at scale —
    * sort (or range-partition) a 100 TB table by the z-value of its two
    * hottest filter columns and min/max file statistics prune both
    * dimensions at once, where a lexicographic sort prunes only the
    * leading one. Pure shift/mask arithmetic (codegen'd, replays
    * verbatim in any SQL engine); inputs must already be quantized to
    * `bits` bits (0 <= code < 2^bits).
    */
  def zorder2(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, "bits must be in [1, 31]")
    (0 until bits).map { i =>
      shiftleft(shiftright(x.cast("long"), i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(y.cast("long"), i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)
  }

  /** Ensure a frame has at least the cluster's parallelism in
    * partitions. Small inputs — a single parquet split —
    * otherwise serialize an entire crossJoin distance loop into ONE task.
    * No-op when the input is already wide enough (the 100 TB case: scans
    * arrive with thousands of splits).
    */
  def spread(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df // micro-batch planner owns partitioning
    val spark = df.sparkSession
    val t = spark.sparkContext.defaultParallelism
    // Width check WITHOUT forcing physical planning of the subtree (an
    // `rdd.getNumPartitions` probe would plan it once per call).
    // File-backed frames: estimate the scan's split count the way
    // FileSourceScan packs it — total bytes plus a per-file open cost,
    // divided by maxPartitionBytes (a raw file COUNT over-estimates:
    // many tiny files bin-pack into one split and would serialize the
    // pair loop). Non-file frames: logical-plan stats — LocalRelation /
    // in-memory frames report real (small) sizes and get the tiny
    // repartition; sources with unknown stats report huge defaults and
    // skip (range/localCheckpoint frames already carry the session
    // parallelism).
    val maxPart = math.max(1L,
      org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB")))
    val openCost =
      org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.files.openCostInBytes", "4MB"))
    val files = try df.inputFiles.length.toLong catch { case scala.util.control.NonFatal(_) => 0L }
    val statBytes =
      try BigInt(df.queryExecution.optimizedPlan.stats.sizeInBytes.toString)
      catch { case scala.util.control.NonFatal(_) => BigInt(Long.MaxValue) }
    val estPartitions =
      if (files > 0L)
        ((statBytes + BigInt(files * openCost)) / maxPart).min(BigInt(Int.MaxValue)).toLong + 1L
      else {
        // LogicalRDD leaves (checkpointed/RDD-backed frames) expose their
        // REAL partitioning without any physical planning — always prefer
        // it. The stats-only small-frame guess must not preempt it: a
        // checkpointed frame reports its true (small) byte size, and
        // until r8 that branch concluded "1 partition" and payload-
        // repartitioned checkpoints that were already wide (every
        // cascade/decontamination call on a checkpointed input paid a
        // full no-op shuffle of its payload columns).
        val viaLeaf = df.queryExecution.optimizedPlan.collectLeaves().collectFirst {
          case lr: org.apache.spark.sql.execution.LogicalRDD =>
            lr.rdd.getNumPartitions.toLong
        }
        viaLeaf.getOrElse(
          if (statBytes < BigInt(maxPart) * t) 1L // small in-memory frame
          else try df.rdd.getNumPartitions.toLong
          catch { case scala.util.control.NonFatal(_) => Long.MaxValue })
      }
    if (estPartitions >= t) df else df.repartition(t)
  }
}
