package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType,
  StructType, TimestampNTZType, TimestampType}

/** Table loaders for the driver test data (`TESTDATA.md`): one parquet per
  * table under the scale-factor directory passed to each query.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // events.parquet has shipped `ts` as TIMESTAMP(NANOS) in some
      // dataset generations and micros TIMESTAMP_NTZ in others; accept
      // either (nanosAsLong so a nanos file surfaces as a long instead
      // of a vectorized-reader error, then normalize by actual type).
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      normalizeEventTs(read(spark, dir, name))
    } else if (name == "documents" || name == "embeddings") {
      // These two tables feed expression-heavy pipelines (shingling,
      // minhashing, quantized dot products) whose cost is per-row CPU,
      // not IO. At test scale each is ONE parquet split (sub-MB file,
      // single row group), which would serialize the whole pipeline on
      // one core — so spread rows across the cluster up front. At fleet
      // scale files >> cores and the scan parallelizes naturally; this
      // repartition is then a cheap no-op-sized shuffle relative to the
      // compute it feeds.
      read(spark, dir, name)
        .repartition(spark.sparkContext.defaultParallelism)
    } else {
      read(spark, dir, name)
    }

  /** Inferred schema of each source table, per session (its confs, e.g.
    * nanosAsLong, shape the inference) and per (absolute path,
    * `Advanced.fingerprint`), so a table rewritten in place is inferred
    * again. Inferring a Parquet schema runs a Spark job on every call;
    * reading with the schema given runs none. Only the
    * schema is cached, never the DataFrame: every `table` call still
    * builds a fresh relation with fresh expression IDs, so two reads of
    * one table self-join. Sessions are held weakly: a dropped session
    * takes its entries with it.
    */
  private val schemas = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.Map[(String, String), StructType]]())

  private def schemaOf(spark: SparkSession, dir: String, name: String)
      : StructType = {
    val path = s"$dir/$name.parquet"
    val key = (new java.io.File(path).getAbsolutePath,
      operators.Advanced.fingerprint(dir, name))
    schemas
      .computeIfAbsent(spark, _ => new java.util.concurrent.ConcurrentHashMap())
      .computeIfAbsent(key, _ => spark.read.parquet(path).schema)
  }

  private def read(spark: SparkSession, dir: String, name: String)
      : DataFrame =
    spark.read.schema(schemaOf(spark, dir, name)).parquet(s"$dir/$name.parquet")

  /** Memoized capped row count for the truth-twin scale guards
    * (q_dedup_embedding, ngramPairs): the guard needs "is the table
    * beyond N rows", which is one limit(N+1) scan — but the guard runs
    * on EVERY invocation of its query, so repeated bench/verify passes
    * would pay one extra table scan each. The count for a given
    * (dataset dir, table, cap) can't change within a session, so it is
    * computed once and cached process-wide.
    */
  private val cappedCounts =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Long),
      java.lang.Long]()
  def cappedCount(spark: SparkSession, dir: String, name: String,
      cap: Long): Long =
    cappedCounts.computeIfAbsent((dir, name, cap),
      _ => table(spark, dir, name).limit((cap + 1).toInt).count())

  /** Parallelism restoration for explosion-heavy consumers of a SMALL
    * MATERIALIZED (localCheckpoint'd) relation. AQE's parallelismFirst
    * coalescing sizes post-shuffle partitions by BYTES (1 MB floor), so
    * a few-MB posting-list relation checkpoints into 1-3 partitions and
    * every downstream C(df,2) pair emission runs on 1-3 of the
    * session's cores (measured r18: the q_graph_* pair stage at n=2 of
    * 32, 1.6-2.0 s of serial wall each). Hash-repartitioning the
    * checkpointed rows back to defaultParallelism costs one exchange of
    * the already-reduced relation; the partition-count guard makes it a
    * no-op at fleet scale, where the relation's own bytes give AQE >=
    * cores partitions. Only call on RDD-backed (checkpointed) frames —
    * on a lazy plan, getNumPartitions would read the STATIC shuffle
    * partition count and never see AQE's runtime coalescing.
    */
  /** Restored width for spread/pinWidth: HALF the session's width,
    * floor 8 (env-overridable). Full width measurably over-shoots in
    * local mode: all tasks share ONE JVM young gen, and 32 concurrent
    * allocation-heavy pair-emission tasks contend (r18 spread scan,
    * q_graph_resource_alloc steady-state: 2 tasks 2.3 s, 8 → 1.03 s,
    * 16 → 0.84 s, 32 → 1.9 s + GC storms; the pinned-32 spelling also
    * regressed q_minhash_eval ~2.4 → 6.6 s across four bench samples).
    * On a real cluster executors have 4-8 cores against their own
    * heaps, so the contention this halving dodges is local-mode-only —
    * exactly the class of knob the brief says to parameterise.
    */
  private def restoreWidth(sessionWidth: Int): Int =
    // tolerant env parse (r18 ADVICE): a malformed or non-positive
    // override must fall back to the computed default, not throw
    // mid-query
    sys.env.get("SPARK_GRAFT_SPREAD")
      .flatMap(v => scala.util.Try(v.toInt).toOption).filter(_ > 0)
      .getOrElse(math.max(8, sessionWidth / 2))

  def spread(df: DataFrame): DataFrame = {
    val p = restoreWidth(df.sparkSession.sparkContext.defaultParallelism)
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** Opt ONE aggregation's exchange out of AQE's bytes-based partition
    * coalescing, mid-plan: hash-repartition by the SAME keys the next
    * groupBy clusters on, at the session's configured shuffle width.
    * EnsureRequirements sees the distribution already satisfied and
    * inserts NO second exchange — the groupBy reuses this one — but a
    * REPARTITION_BY_NUM shuffle is exempt from AQE coalescing, so the
    * CPU-heavy stage AFTER it (posting-list pair emission, array
    * verification) keeps the configured width instead of the 1-3
    * partitions its few MB of bytes would otherwise earn (measured r18:
    * q_ssjoin_prefix ran ~2 s of its posting/prefix chain on single-task
    * stages). Width = the session's shuffle partitions — exactly what
    * the exchange would have had before AQE, so this never changes the
    * scale story, only disables the bytes heuristic where per-byte CPU
    * is extreme.
    */
  def pinWidth(df: DataFrame, cols: Column*): DataFrame =
    df.repartition(
      restoreWidth(df.sparkSession.sessionState.conf.numShufflePartitions),
      cols: _*)

  /** events.parquet with its raw on-disk schema (ts as nanos long or as
    * a native timestamp, depending on the dataset generation) — the
    * schema a streaming file source must be given (see
    * streaming.Replay.events).
    */
  def rawEventsSchema(spark: SparkSession, dir: String): StructType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schemaOf(spark, dir, "events")
  }

  /** Normalize the raw events `ts` column to session-TZ TimestampType at
    * micros precision, whatever the on-disk flavor: epoch-nanos long
    * (TIMESTAMP(NANOS) under nanosAsLong) → truncate to micros, exactly
    * DuckDB's nanos read; TIMESTAMP_NTZ micros → reinterpret in the
    * session zone (sessions run UTC, so wall-clock == epoch and DuckDB's
    * naive read agrees); TimestampType → already canonical. Schema-driven
    * so a dataset regeneration that changes the physical type is a
    * no-op here, not an analysis error. Works on batch and streaming
    * frames alike (withColumn only).
    */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
}

/** Determinism helpers shared by every query and its DuckDB oracle twin.
  *
  * Policy (SURVEY.md §2.C preamble): floating-point aggregation is
  * non-associative and Spark's partial-aggregate order differs from
  * DuckDB's, so every measure is cast to DECIMAL(18,4) *before* any
  * aggregation (decimal addition is exact and order-independent), and the
  * final aggregate is cast back to DOUBLE (a deterministic conversion both
  * engines perform identically). Averages are expressed as
  * decimal-sum-cast-to-double divided by COUNT so the only FP op is one
  * IEEE-exact division. Timestamps are rendered to strings; integer-typed
  * function results are normalized to BIGINT on both sides.
  */
object Det {
  val D: DecimalType = DecimalType(18, 4)
  /** Decimal cast applied to every measure before aggregation. */
  def dec(c: Column): Column = c.cast(D)
  /** Order-independent SUM: decimal-accumulated, emitted as double. */
  def sumd(c: Column): Column = sum(dec(c)).cast(DoubleType)
  /** Order-independent AVG: decimal sum -> double, one IEEE division. */
  def avgd(c: Column): Column = sum(dec(c)).cast(DoubleType) / count(c)
  /** Canonical timestamp rendering (micros, UTC) matching strftime %f. */
  def fmtTs(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")
  /** Normalize integer-producing fns (size, length, year, ...) to BIGINT. */
  def lng(c: Column): Column = c.cast(LongType)

  /** Common-subexpression barrier: bind `c` once and reuse it through
    * `body`. Catalyst's CollapseProject inlines aliased expressions into
    * every use site — inside higher-order-function lambdas that means an
    * expensive subexpression (a `split`, a minhash signature) is
    * RE-EVALUATED once per lambda iteration, which turns linear pipelines
    * quadratic (observed: 200+ s for a 5 000-doc shingle join). Wrapping
    * the value as the lambda argument of a single-element `transform`
    * forces exactly-once evaluation per row: lambda arguments are
    * evaluated eagerly, and lambda variables are never inlined into the
    * body.
    */
  def let(c: Column)(body: Column => Column): Column =
    element_at(transform(array(c), body), 1)

  // --- SQL twins for the DuckDB oracle strings ---
  /** SQL twin of [[sumd]]. */
  def S(e: String): String = s"CAST(SUM(CAST($e AS DECIMAL(18,4))) AS DOUBLE)"
  /** SQL twin of [[avgd]]. */
  def A(e: String): String =
    s"(CAST(SUM(CAST($e AS DECIMAL(18,4))) AS DOUBLE) / COUNT($e))"
  /** SQL twin of [[fmtTs]]. */
  def FT(e: String): String = s"strftime($e, '%Y-%m-%d %H:%M:%S.%f')"
}

/** A named-query module: every implemented operator registers one entry in
  * `queries` (SparkSession, sfDir) => DataFrame and, when SQL-expressible,
  * a DuckDB oracle in `oracle` (driver hash-compares, see Verify.scala).
  */
trait QueryModule {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracle: Map[String, String]
}
