package graft.operators

import graft.QueryModule
import graft.Det._
import graft.Tables.table
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Second-wave relational operators: pivot/unpivot reshaping, exact
  * percentiles, moment statistics, grouping sets, correlated subqueries,
  * as-of joins, skew-salted joins, and window distribution functions.
  *
  * Determinism follows the Det policy: decimal casts before any
  * floating-point aggregation, and where a statistic is inherently FP
  * (variance, correlation) it is computed from exact decimal sums with
  * the IDENTICAL arithmetic expression on both engines, so both sides
  * perform the same sequence of IEEE operations.
  */
object Advanced extends QueryModule {

  /** xxhash64(user_id) reinterpreted as its UNSIGNED value in
    * DECIMAL(38,0) — the portable order the KMV sketches rank by
    * (q_kmv_distinct, q_kmv_setops); the DuckDB twin is CmsOracle's
    * HUGEINT chain.
    */
  private val uHashSql =
    "CAST(xxhash64(user_id) AS DECIMAL(38,0)) + " +
      "CASE WHEN xxhash64(user_id) < 0 " +
      "THEN CAST('18446744073709551616' AS DECIMAL(38,0)) " +
      "ELSE CAST(0 AS DECIMAL(38,0)) END"

  /** Exact integer moment sums of quantized x and y per group — the
    * vector every downstream statistic derives from. Inputs are rounded
    * to integers first, so every sum is an exact int64 AND exactly
    * representable as a double (values stay < 2^53 through sf0.1:
    * sum(x^2) ~ 1.5e15 per group); the int->double casts are then exact
    * on both engines and the shared statistic formula performs an
    * identical IEEE op sequence — bit-equal results, even through the
    * catastrophic cancellation in (sxx - sx^2/n). (Decimal-based sums
    * fail here: a DECIMAL(38,8)->DOUBLE conversion of a ~1e18-scaled
    * value rounds differently across engines, and the cancellation
    * amplifies that ulp into the statistic.) At 100 TB the same moment
    * vector merges associatively — the classic one-pass distributed
    * statistics shape — with int128/decimal accumulators.
    */
  private def moments(x: Column, y: Column): Seq[Column] = {
    val xq = round(x, 0).cast("long"); val yq = round(y, 0).cast("long")
    Seq(
      count(lit(1)).as("n"),
      sum(xq).as("sx"), sum(xq * xq).as("sxx"),
      sum(yq).as("sy"), sum(yq * yq).as("syy"),
      sum(xq * yq).as("sxy"))
  }

  /** Cache key for the on-tmpfs bucketed copy of a source table (and for
    * its schema in `Tables`): full path + per-file size/mtime, not just
    * the directory basename — a regenerated-in-place parquet or two
    * datasets sharing a basename must miss the cache, never silently
    * reuse stale buckets.
    */
  private[graft] def fingerprint(d: String, name: String): String = {
    val src = new java.io.File(d, s"$name.parquet")
    val files =
      if (src.isDirectory) src.listFiles().sortBy(_.getName)
      else Array(src)
    val desc = src.getAbsolutePath + "|" +
      files.map(f => s"${f.getName}:${f.length}:${f.lastModified}")
        .mkString(",")
    java.security.MessageDigest.getInstance("MD5")
      .digest(desc.getBytes("UTF-8"))
      .take(6).map(b => f"$b%02x").mkString
  }

  /** Bucketed copy of `name` keyed on `key` (8 buckets, sorted), cached
    * on tmpfs across sessions; returns the catalog table name. Exposed
    * so Bench can pre-warm the one-time write outside the timed region
    * (at fleet scale the bucketed table is written once and queried
    * forever — the amortized read is the number that matters).
    */
  private[graft] def bucketize(s: SparkSession, d: String, name: String,
      key: String): String = {
    val tbl = s"${name}_b_${fingerprint(d, name)}"
    val path = s"${graft.Scratch.root}/graft_bucketed/$tbl"
    // touch-on-use: the prune below ranks siblings by lastModified, so
    // a fingerprint must rank by LAST USE, not write time — a session
    // alternating between dataset dirs (the scale probe) re-reads a
    // dir written long ago, and without the touch a later warmup's
    // prune deletes files a still-registered catalog table points at
    // (observed: FAILED_READ_FILE on the 30x probe's base pass)
    locally {
      val f = new java.io.File(path)
      if (f.exists()) f.setLastModified(System.currentTimeMillis())
    }
    if (!s.catalog.tableExists(tbl)) bucketizeLock.synchronized {
      // Re-check under the monitor (round-15 ADVICE): two same-JVM
      // threads can both pass the unsynchronized check; the loser
      // would then see onDisk=true and CREATE TABLE a name the winner
      // just registered, throwing TableAlreadyExistsException. The
      // outer check stays as the fast path; this one is the decider.
      if (s.catalog.tableExists(tbl)) return tbl
      // Cross-process check+publish guard (round 14, r13 ask #5 —
      // closing the last ADVICE-carried check-then-act): the same
      // FileLock discipline the ngram truth cache got in r13. The
      // fingerprint's own lock covers the completeness check, the
      // prune, and the write, so a second JVM can no longer observe a
      // half-published dir or prune one being written; victims are
      // try-locked individually inside Scratch.pruneLocked. The
      // in-process monitor prevents the same-JVM re-entry that would
      // throw OverlappingFileLockException.
      val lockFile = new java.io.File(s"$path.lock")
      lockFile.getParentFile.mkdirs()
      val ch = java.nio.channels.FileChannel.open(lockFile.toPath,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      val lk = ch.lock()
      try {
        // Complete = marker plus at least one data file: a husk dir left
        // by tmpfs eviction must trigger a rewrite, not get registered as
        // an (unreadable) external table.
        val onDisk = new java.io.File(path, "_SUCCESS").exists() &&
          Option(new java.io.File(path).listFiles())
            .getOrElse(Array.empty[java.io.File])
            .exists(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
        if (onDisk) {
          // bucketed files already on disk (earlier session): register
          // the external table with its bucket spec instead of
          // rewriting — the read path only needs the catalog metadata
          val ddlSchema = table(s, d, name).schema.toDDL
          s.sql(s"""CREATE TABLE $tbl ($ddlSchema) USING PARQUET
                   |CLUSTERED BY ($key) SORTED BY ($key) INTO 8 BUCKETS
                   |LOCATION '$path'""".stripMargin)
        } else {
          // prune the OLDEST bucketed copies of this table beyond a small
          // working set — tmpfs is RAM, don't hoard, but two dataset dirs
          // can be live at once (the scale probe times base and replicated
          // data in one session; a keep-only-current prune would delete
          // files under the OTHER dir's still-registered catalog table)
          graft.Scratch.pruneLocked(
            new java.io.File(path).getParentFile, s"${name}_b_", tbl, 3)
          // one task per bucket: repartition's partition id,
          // pmod(murmur3(key), 8), is the bucket id, so each task sorts
          // and writes exactly one bucket file
          table(s, d, name).repartition(8, col(key)).write
            .bucketBy(8, key).sortBy(key)
            .option("path", path)
            .mode("overwrite").saveAsTable(tbl)
        }
      } finally { lk.release(); ch.close() }
    }
    tbl
  }

  private val bucketizeLock = new Object

  /** Events bucketed on `user_id` — the shared write-once layout for the
    * event-time family (q_keep_latest / q_scd2_intervals / q_funnel /
    * q_window_dedup). Every one of those partitions its window or keys
    * its joins/aggregates on user_id (possibly plus a finer column, which
    * hash-partitioning on the prefix still satisfies: equal (user_id, x)
    * implies equal user_id implies same bucket), so the bucketed scan's
    * HashPartitioning satisfies each ClusteredDistribution and the
    * per-query hash exchange disappears — at 100 TB the event log is
    * bucketed once at ingest and every session/funnel/compaction query
    * stops paying its shuffle.
    */
  private[graft] def eventsByUser(s: SparkSession, d: String): DataFrame =
    s.table(bucketize(s, d, "events", "user_id"))

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- pivot: order counts per priority x status ---
    "q_pivot" -> ((s, d) =>
      table(s, d, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L, Seq("F", "O", "P"))
        .orderBy("o_orderpriority")),

    // --- unpivot (melt): wide measures -> (metric, value) rows ---
    "q_unpivot" -> ((s, d) =>
      table(s, d, "lineitem")
        .filter(col("l_orderkey") < 2000)
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_discount"), col("l_tax")),
          "metric", "value")
        .orderBy("metric", "value", "l_orderkey", "l_linenumber")),

    // --- exact interpolated percentiles per group ---
    "q_percentile" -> ((s, d) =>
      table(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          percentile(col("l_quantity"), lit(0.25)).as("p25"),
          percentile(col("l_quantity"), lit(0.5)).as("p50"),
          percentile(col("l_quantity"), lit(0.75)).as("p75"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")),

    // --- moment statistics from exact decimal sums ---
    "q_agg_stats" -> ((s, d) => {
      val m = moments(col("l_extendedprice"), col("l_quantity"))
      table(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(m.head, m.tail: _*)
        .select(col("l_returnflag"), col("n"),
          ((col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double") / col("n"))
            / (col("n") - 1)).as("var_price"),
          sqrt((col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double") / col("n"))
            / (col("n") - 1)).as("stddev_price"),
          ((col("sxy").cast("double")
            - col("sx").cast("double") * col("sy").cast("double") / col("n"))
            / (sqrt(col("sxx").cast("double")
                - col("sx").cast("double") * col("sx").cast("double") / col("n"))
              * sqrt(col("syy").cast("double")
                - col("sy").cast("double") * col("sy").cast("double") / col("n"))))
            .as("corr_price_qty"))
        .orderBy("l_returnflag")
    }),

    // --- distributed OLS fit (round 6): per-group simple linear
    // regression y = a + b*x (extendedprice ~ quantity) from the same
    // integer-quantized moments q_agg_stats uses — the map-side-partial
    // aggregate IS the whole distributed cost (6 exact int64 sums per
    // group), and the normal-equation solve is driver-scale arithmetic
    // on the group rows. Covariance form ((sxy - sx*sy/n) / (sxx -
    // sx^2/n)) evaluated in doubles AFTER the exact integer sums — the
    // raw n*sxx spelling would overflow int64 past ~10^5 rows/group;
    // the double formula tree is written identically in the oracle so
    // every IEEE op matches. ---
    "q_linreg_fit" -> ((s, d) => {
      val m = moments(col("l_extendedprice"), col("l_quantity"))
      val sx = col("sy").cast("double") // x = quantity (moments' y slot)
      val sxx = col("syy").cast("double")
      val sy = col("sx").cast("double") // y = extendedprice
      val sxy = col("sxy").cast("double")
      val n = col("n")
      val cxy = sxy - sx * sy / n
      val cxx = sxx - sx * sx / n
      val cyy = col("sxx").cast("double") - sy * sy / n
      table(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(m.head, m.tail: _*)
        .select(col("l_returnflag"), n,
          (cxy / cxx).as("slope"),
          (sy / n - (cxy / cxx) * (sx / n)).as("intercept"),
          ((cxy * cxy) / (cxx * cyy)).as("r2"))
        .orderBy("l_returnflag")
    }),

    // --- explicit GROUPING SETS (beyond rollup/cube) ---
    "q_agg_groupingsets" -> ((s, d) => {
      table(s, d, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(
        s"""SELECT COALESCE(l_returnflag, 'ALL') AS rf,
           |       COALESCE(l_linestatus, 'ALL') AS ls,
           |       COUNT(*) AS n, ${S("l_quantity")} AS sum_qty
           |FROM lineitem
           |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
           |                        (l_returnflag, l_linestatus), ())
           |ORDER BY rf, ls""".stripMargin)
    }),

    // --- correlated EXISTS subquery ---
    // --- NOT IN with a subquery: the NULL-AWARE anti join — a
    // distinct physical operator from LEFT ANTI (q_join_anti), because
    // one NULL in the subquery's value list legally empties the whole
    // result; Spark plans the specialized null-aware single-column
    // BroadcastHashJoin for exactly this shape. Declared SQL-first
    // (temp views) like the other subquery entries so Catalyst owns
    // the rewrite. ---
    "q_join_notin" -> ((s, d) => {
      table(s, d, "customer").createOrReplaceTempView("customer")
      table(s, d, "supplier").createOrReplaceTempView("supplier")
      s.sql(
        """SELECT c_custkey, c_name, c_nationkey
          |FROM customer
          |WHERE c_nationkey NOT IN (SELECT s_nationkey FROM supplier
          |                          WHERE s_acctbal > 5000)
          |ORDER BY c_custkey""".stripMargin)
    }),
    "q_subquery_exists" -> ((s, d) => {
      table(s, d, "customer").createOrReplaceTempView("customer")
      table(s, d, "orders").createOrReplaceTempView("orders")
      s.sql(
        """SELECT c_custkey, c_name
          |FROM customer c
          |WHERE EXISTS (SELECT 1 FROM orders o
          |              WHERE o.o_custkey = c.c_custkey
          |                AND o.o_totalprice > 400000)
          |ORDER BY c_custkey""".stripMargin)
    }),

    // --- IN subquery over a dimension chain ---
    "q_subquery_in" -> ((s, d) => {
      table(s, d, "customer").createOrReplaceTempView("customer")
      table(s, d, "nation").createOrReplaceTempView("nation")
      s.sql(
        """SELECT c_custkey, c_name, c_acctbal
          |FROM customer
          |WHERE c_nationkey IN (SELECT n_nationkey FROM nation
          |                      WHERE n_regionkey = 1)
          |  AND c_acctbal < 1000
          |ORDER BY c_custkey""".stripMargin)
    }),

    // --- as-of join: latest prior 'view' for every 'click', per user.
    // Implemented as ONE pass: tag the union, window-scan per user in
    // event-time order carrying the last view timestamp. This is the
    // shape that scales — a single shuffle on user_id, no range join, no
    // per-row subquery; state is one timestamp per partition row.
    // --- as-of join with a staleness tolerance (the feature-store
    // freshness guard: a matched version older than the bound is WORSE
    // than no match — serving stale features silently corrupts
    // training): identical merge-scan window as q_join_asof, then the
    // tolerance nulls out matches more than 1 hour stale. One
    // user-keyed shuffle; the bound is a map-side CASE. ---
    "q_join_asof_tol" -> ((s, d) => {
      val ev = table(s, d, "events")
        .filter(col("event_type").isin("click", "view"))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("event_type"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc,
          (col("event_type") === "view").cast("int").desc,
          col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.withColumn("av",
          last(when(col("event_type") === "view", col("ts")),
            ignoreNulls = true).over(w))
        .filter(col("event_type") === "click")
        .withColumn("fresh",
          col("av").isNotNull &&
            unix_micros(col("ts")) - unix_micros(col("av")) <=
              3600L * 1000000L)
        .select(col("event_id"), col("user_id"),
          fmtTs(col("ts")).as("click_ts"),
          when(col("fresh"), fmtTs(col("av"))).as("fresh_view_ts"),
          col("fresh").as("within_tolerance"))
        .orderBy("event_id")
    }),

    // --- NEAREST as-of join (round 9): each click matches the view
    // with the smallest |Δt| in EITHER direction (ties prefer the
    // earlier/backward match) — the sensor-alignment matching rule,
    // vs q_join_asof's backward-only feature rule. Same single
    // user-keyed merge-scan: one window ordering serves BOTH carries
    // (backward last + forward first over complementary frames, so
    // the plan pays one exchange and one sort); the direction pick is
    // a map-side CASE on exact integer micros. ---
    "q_join_asof_nearest" -> ((s, d) => {
      val ev = table(s, d, "events")
        .filter(col("event_type").isin("click", "view"))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("event_type"), unix_micros(col("ts")).as("us"))
      val ord = Window.partitionBy("user_id")
        .orderBy(col("ts").asc,
          (col("event_type") === "view").cast("int").desc,
          col("event_id").asc)
      val wb = ord.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)
      val wf = ord.rowsBetween(Window.currentRow,
        Window.unboundedFollowing)
      val isView = col("event_type") === "view"
      ev
        .withColumn("pv", last(when(isView, col("us")), ignoreNulls = true)
          .over(wb))
        .withColumn("nv", first(when(isView, col("us")), ignoreNulls = true)
          .over(wf))
        .filter(col("event_type") === "click")
        .withColumn("db", col("us") - col("pv"))
        .withColumn("df", col("nv") - col("us"))
        .withColumn("dir",
          when(col("pv").isNotNull &&
            (col("nv").isNull || col("db") <= col("df")), "back")
            .when(col("nv").isNotNull, "fwd"))
        .select(col("event_id"), col("user_id"),
          fmtTs(col("ts")).as("click_ts"), col("dir"),
          when(col("dir") === "back", col("db"))
            .when(col("dir") === "fwd", col("df")).as("abs_lag_us"))
        .orderBy("event_id")
    }),

    "q_join_asof" -> ((s, d) => {
      val ev = table(s, d, "events")
        .filter(col("event_type").isin("click", "view"))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("event_type"))
      // views sort before clicks at identical ts (asof uses >=)
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc,
          (col("event_type") === "view").cast("int").desc,
          col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.withColumn("asof_view_ts",
          last(when(col("event_type") === "view", col("ts")),
            ignoreNulls = true).over(w))
        .filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"),
          fmtTs(col("ts")).as("click_ts"),
          fmtTs(col("asof_view_ts")).as("asof_view_ts"))
        .orderBy("event_id")
    }),

    // --- skew-mitigation: salted replicated-dimension join. The fact
    // side derives a salt from its own row; the dimension side is
    // replicated once per salt value, so a hot join key spreads over
    // SaltFactor reducers instead of one. Results are identical to the
    // plain join (oracle runs the unsalted SQL).
    "q_join_salted" -> ((s, d) => {
      val saltFactor = 8
      val facts = table(s, d, "lineitem")
        .withColumn("salt", pmod(col("l_linenumber"), lit(saltFactor)))
      val dims = table(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          explode(sequence(lit(0), lit(saltFactor - 1))).as("salt"))
      facts.join(dims,
          facts("l_orderkey") === dims("o_orderkey")
            && facts("salt") === dims("salt"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sumd(col("l_extendedprice")).as("rev"))
        .orderBy("o_orderpriority")
    }),

    // --- banded range join: the shuffle-scale companion of
    // q_join_theta (CoreRelational). Theta spells |c - s| <= 100 as a
    // broadcast nested loop — right when one side fits in memory, dead
    // at 100 TB-vs-100 GB. Banding rewrites the range predicate as an
    // EQUI join: bucket both sides by floor(bal / bandWidth) with the
    // band equal to the bucket width, replicate one side to its 3
    // adjacent buckets (explode x3 — bounded, unlike a nested loop),
    // join on the bucket key, then apply the exact predicate. Shuffles
    // partition by bucket, so both sides scale out; the residual filter
    // discards the < 2/3 of bucket-collisions outside the band. Result
    // is identical to the theta spelling (the oracle runs the plain
    // range SQL). ---
    "q_join_range" -> ((s, d) => {
      val band = 100.0
      val c = table(s, d, "customer")
        .select(col("c_custkey"), col("c_acctbal"),
          floor(col("c_acctbal") / band).as("bucket"))
      val sup = table(s, d, "supplier")
        .select(col("s_suppkey"), col("s_acctbal"),
          explode(array(floor(col("s_acctbal") / band) - 1,
            floor(col("s_acctbal") / band),
            floor(col("s_acctbal") / band) + 1)).as("bucket"))
      // force the shuffle shape: the exploded leg's size estimate is
      // unreliable (see q_dedup_ngram) and auto-broadcast would defeat
      // the point of the banded form
      c.hint("shuffle_merge")
        .join(sup.hint("shuffle_merge"), "bucket")
        .filter(col("c_acctbal") >= col("s_acctbal") - band &&
          col("c_acctbal") <= col("s_acctbal") + band)
        .select(col("s_suppkey"), col("c_custkey"), col("s_acctbal"),
          col("c_acctbal"))
        .orderBy("s_suppkey", "c_custkey")
    }),

    // --- 2-D grid-blocked spatial self-join: all pairs of points within
    // L-inf distance 8 on a synthetic 256x256 plane (coordinates are
    // multiplicative integer hashes of the customer key — deterministic
    // in both engines, no RNG, no libm). The q_join_range banding
    // discipline lifted to TWO dimensions: one side explodes to its
    // 3x3 cell neighborhood (cell size = the radius, so the
    // neighborhood provably covers every qualifying pair), the other
    // keeps its single true cell, and the join is an EQUI join on the
    // cell key with the distance predicate as a residual — each pair
    // found exactly once because the un-exploded side's cell is unique.
    // The naive spelling is an n^2 nested-loop theta join; the grid
    // makes the work sum-of-cell-products, the standard spatial-join
    // shape (and the oracle states only the predicate: banding is
    // result-invisible). Exploded-side stats lie, so both legs are
    // pinned shuffle_merge (the q_dedup_ngram discipline). ---
    "q_join_grid" -> ((s, d) => {
      val pts = table(s, d, "customer").select(
        col("c_custkey").as("id"),
        ((col("c_custkey") * 2654435761L) % 1000003L % 256L).as("x"),
        ((col("c_custkey") * 40503L + 2654435761L) % 999983L % 256L)
          .as("y"))
      val a = pts.select(col("id").as("a_id"), col("x").as("ax"),
          col("y").as("ay"))
        .withColumn("ck", explode(array(
          (for (i <- -1 to 1; j <- -1 to 1) yield
            (expr("ax div 8") + i) * 100L + expr("ay div 8") + j): _*)))
      val b = pts.select(col("id").as("b_id"), col("x").as("bx"),
          col("y").as("by"),
          (expr("x div 8") * 100L + expr("y div 8")).as("ck"))
      a.hint("shuffle_merge").join(b.hint("shuffle_merge"), "ck")
        .filter(col("a_id") < col("b_id") &&
          abs(col("ax") - col("bx")) <= 8 &&
          abs(col("ay") - col("by")) <= 8)
        .select(col("a_id"), col("b_id"),
          greatest(abs(col("ax") - col("bx")),
            abs(col("ay") - col("by"))).as("dist"))
        .orderBy("a_id", "b_id")
    }),

    // --- window distribution functions ---
    "q_win_dist" -> ((s, d) => {
      val w = Window.partitionBy("c_mktsegment")
        .orderBy(col("c_acctbal").asc, col("c_custkey").asc)
      table(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
          ntile(4).over(w).cast("long").as("quartile"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
        .orderBy("c_custkey")
    }),

    // --- HLL sketch aggregate (TypedImperativeAggregate; FULL oracle
    // since round 11 — HllOracle rebuilds the 4096 registers bit-exactly
    // and reproduces the estimate deterministically; exactness also
    // cross-checked in OperatorExtensionsSpec) ---
    "q_agg_hll" -> ((s, d) => {
      graft.functions.HyperLogLog.register(s)
      table(s, d, "orders").createOrReplaceTempView("orders")
      s.sql(
        """SELECT o_orderpriority,
          |       graft_hll(o_custkey) AS approx_custs,
          |       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_custs
          |FROM orders GROUP BY o_orderpriority
          |ORDER BY o_orderpriority""".stripMargin)
    }),

    // --- sketch-table rollup: the pre-aggregation pattern q_agg_hll
    // can't express. Per-priority HLL register BLOBs (HllSketch — what
    // a dashboard's sketch table STORES per dimension cell) re-merge
    // to the grand total with HllMergeAgg, WITHOUT re-scanning orders
    // — at 100 TB the rollup touches 5 x 4 KiB blobs instead of the
    // fact table, and because update and merge are the same register
    // algebra the merged estimate is BIT-IDENTICAL to a direct
    // single-pass HLL (pinned in OperatorExtensionsSpec). The exact
    // columns are the verification companion, not part of the
    // technique. FULL oracle since round 11 (HllOracle): merge == direct
    // at register level, so the ALL row is a pass over the globally
    // distinct key set. ---
    "q_hll_rollup" -> ((s, d) => {
      import graft.functions.HyperLogLog.{estimate, mergeSketches, sketch}
      val sk = table(s, d, "orders")
        .groupBy("o_orderpriority")
        .agg(sketch(col("o_custkey")).as("sk"),
          count_distinct(col("o_custkey")).as("exact_custs"))
      val per = sk.select(col("o_orderpriority"),
        estimate(col("sk")).as("approx_custs"), col("exact_custs"))
      val total = sk.agg(mergeSketches(col("sk")).as("msk"))
        .crossJoin(broadcast(table(s, d, "orders")
          .agg(count_distinct(col("o_custkey")).as("exact_custs"))))
        .select(lit("ALL").as("o_orderpriority"),
          estimate(col("msk")).as("approx_custs"), col("exact_custs"))
      per.unionByName(total).orderBy("o_orderpriority")
    }),

    // --- Count-Min sketch heavy hitters (TypedImperativeAggregate +
    // native probe expression; FULL oracle since round 10 — DuckDB
    // rebuilds the xxhash64-derived counter table bit-exactly via
    // CmsOracle's HUGEINT XXH64 emulation; the >=-exact bound and
    // error envelope stay pinned in OperatorExtensionsSpec). The sketch
    // is the 100 TB frequency-profile shape: 64 KiB per partition
    // through the partial-agg merge regardless of key cardinality. The
    // exact per-key count here is the verification companion (at fleet
    // scale the probe set comes from a sample or a prior round, not an
    // exact global groupBy). ---
    // --- AMS/Tug-of-War F₂ sketch (round 16): the second-moment
    // member completing the sketch shelf — CMS answers point
    // frequencies, HLL/KMV distinct counts; F₂ = Σf² is the
    // self-join size / skew readout, and the AMS estimator
    // (Σ±f)² with 4-wise-independent-ish signs is ITS one-pass
    // sketch. Eight estimators ride ONE pass as conditional sums
    // (sign = parity of the j-th md5 hex digit of the user key —
    // deterministic, zero RNG state; at fleet scale each is a
    // map-side combinable long); the lower median of the eight
    // squares is a sort_array element cut, no FP anywhere. True F₂
    // computed beside it for the realized relative error (the
    // estimator's E = F₂ and Var ≤ 2F₂² algebra is what the skew
    // probe checks at scale). |Σ±f| ≤ total events, so the SUMS are
    // int64-safe at any realistic scale; the SQUARES are not — both
    // engines accumulate them in DECIMAL(38,0) (the q_quade_test /
    // q_mood_scale wide-integer device), so there is no row-count
    // bound and no asymmetric silent-wrap-vs-hard-error failure. ---
    "q_ams_f2" -> ((s, d) => {
      val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val f = table(s, d, "events")
        .groupBy("user_id").agg(count(lit(1)).as("f"))
        .withColumn("hx",
          substring(md5(concat(lit("ams"),
            col("user_id").cast("string"))), 1, 8))
      val signSums = (1 to 8).map { j =>
        sum(when(expr(
          s"substr(hx, $j, 1) IN ('0','2','4','6','8','a','c','e')"),
          col("f")).otherwise(-col("f"))).as(s"e$j")
      }
      val a2 = f.agg(count(lit(1)).as("n_users"),
        (sum(col("f").cast(d38) * col("f")).cast(d38)
          .as("true_f2") +: signSums): _*)
      a2.select(col("n_users"), col("true_f2"),
          element_at(sort_array(array((1 to 8).map(j =>
            (col(s"e$j").cast(d38) * col(s"e$j")).cast(d38)): _*)), 4)
            .as("est_f2"))
        // The DECIMAL(38,0) stays INTERNAL: the output renders both
        // F2 figures as decimal-digit strings (the portable-output
        // lattice; a raw DecimalType output hash-diverges at the
        // driver comparator even when values are identical, and hi/lo
        // BIGINT halves cannot span a full 38-digit value).
        .select(col("n_users"),
          ((col("est_f2") - col("true_f2")).cast("double")
            / col("true_f2").cast("double")).as("rel_err"),
          col("true_f2").cast("string").as("true_f2"),
          col("est_f2").cast("string").as("est_f2"))
        .select("n_users", "true_f2", "est_f2", "rel_err")
    }),

    "q_agg_cms" -> ((s, d) => {
      val ev = table(s, d, "events")
      val sketch = ev.agg(graft.functions.CountMin.agg(col("user_id"))
        .as("sk"))
      ev.groupBy("user_id").agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("user_id")).limit(10)
        .crossJoin(broadcast(sketch))
        .select(col("user_id"), col("exact_n"),
          graft.functions.CountMin.lookup(col("sk"), col("user_id"))
            .as("est_n"))
        .orderBy(col("exact_n").desc, col("user_id"))
    }),

    // --- KMV (k-minimum-values) distinct sketch, FULLY oracled: the
    // third distinct-count tier next to q_agg_hll (rows-only HLL) and
    // q_agg_distinct (exact) — KMV keeps the k=64 SMALLEST xxhash64
    // values per group, estimates NDV as (k-1)·2^64/h_(k), and (unlike
    // HLL) every byte of its state is portable: the DuckDB oracle
    // rebuilds the same 64 order statistics through the CmsOracle
    // HUGEINT XXH64 emulation and lands on the IDENTICAL estimate,
    // because the estimator here is an INTEGRAL division (no libm, no
    // doubles cross the engine boundary; the kth hash ships as hi/lo
    // 32-bit halves per the wide-integer output discipline). Scale
    // shape: distinct-reduce first, then the native TopKPerKey
    // operator — map-side bounded heaps, shuffle volume O(groups·k),
    // never a per-group sort; groups short of k fall back to their
    // exact count (the standard KMV small-range rule). ---
    "q_kmv_distinct" -> ((s, d) => {
      val du = table(s, d, "events")
        .select(col("event_type"), col("user_id")).distinct()
        .withColumn("u", expr(uHashSql))
      val km = graft.plans.TopKPerKey.topKPerKey(du,
          keys = Seq(col("event_type")),
          order = Seq(col("u").asc), k = 64)
        .groupBy("event_type")
        .agg(count(lit(1)).as("m"), max(col("u")).as("kth"))
      val exact = table(s, d, "events").groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("ndv_exact"))
      km.join(exact, "event_type")
        .select(col("event_type"), col("ndv_exact"), col("m"),
          expr("CAST(kth div 4294967296 AS BIGINT)").as("kth_hi"),
          expr("CAST(kth % 4294967296 AS BIGINT)").as("kth_lo"),
          when(col("m") < 64, col("m")).otherwise(expr(
            "CAST('1162144876643701751808' AS DECIMAL(38,0)) div kth"))
            .as("est_ndv"))
        .orderBy("event_type")
    }),

    // --- KMV sketch SET OPERATIONS (theta-sketch-style): estimate
    // |click ∪ view|, Jaccard and |click ∩ view| from ONE bounded
    // union sketch — the trick that lets a fleet answer overlap
    // questions between any two precomputed user sets without ever
    // joining the raw sets. The union's 64 minimum hashes carry each
    // member's EXACT set membership, so ĵ = |{x ∈ K(U) : x ∈ A∩B}|/k
    // and ∩̂ = ĵ·Û stay integer/one-division arithmetic end-to-end —
    // and the whole estimator is rebuilt bit-equally by the DuckDB
    // XXH64 emulation (exact tallies ride along for the error
    // readout). ---
    "q_kmv_setops" -> ((s, d) => {
      val mem = table(s, d, "events")
        .filter(col("event_type").isin("click", "view"))
        .groupBy("user_id")
        .agg(max((col("event_type") === "click").cast("long")).as("in_a"),
          max((col("event_type") === "view").cast("long")).as("in_b"))
        .withColumn("u", expr(uHashSql))
      val ku = graft.plans.TopKPerKey.topKPerKey(
          mem.withColumn("g", lit(1)),
          keys = Seq(col("g")), order = Seq(col("u").asc), k = 64)
      val sk = ku.agg(count(lit(1)).as("m"), max(col("u")).as("kth"),
        sum(when(col("in_a") === 1L && col("in_b") === 1L, 1L)
          .otherwise(0L)).as("jac_cnt"))
      val exact = mem.agg(sum("in_a").as("ndv_a"), sum("in_b").as("ndv_b"),
        sum(when(col("in_a") === 1L && col("in_b") === 1L, 1L)
          .otherwise(0L)).as("exact_inter"),
        count(lit(1)).as("exact_union"))
      sk.crossJoin(exact)
        .withColumn("est_union",
          when(col("m") < 64, col("m")).otherwise(expr(
            "CAST('1162144876643701751808' AS DECIMAL(38,0)) div kth")))
        .select(col("ndv_a"), col("ndv_b"), col("exact_inter"),
          col("exact_union"), col("m"), col("jac_cnt"), col("est_union"),
          (col("jac_cnt").cast("double") / col("m").cast("double"))
            .as("est_jac"),
          expr("(jac_cnt * est_union) div m").as("est_inter"))
    }),

    // --- HDR-histogram quantile sketch (round 6): mergeable percentiles
    // with fixed 8 KiB state per group — the sketch-tier twin of the
    // exact sort-based q_percentile (which moves the value set; this
    // moves 8 KiB per group per partition through the partial-agg
    // merge). Bit-deterministic bucketing (floor-log2 octave + 4-bit
    // sub-bucket, no libm) makes it the rare quantile sketch with a
    // FULL oracle: the DuckDB twin reproduces the bucket function with
    // length(bin(u))-1 and picks the same ceil(q*n) bucket. Error is
    // bounded at the sub-bucket width (~6% relative), constant at any
    // scale. ---
    "q_quantile_sketch" -> ((s, d) => {
      graft.functions.HdrHistogram.register(s)
      table(s, d, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(
        """SELECT l_returnflag,
          |  element_at(qs, 1) AS p50, element_at(qs, 2) AS p90,
          |  element_at(qs, 3) AS p99, n
          |FROM (SELECT l_returnflag,
          |        graft_hdr(l_extendedprice, array(0.5D, 0.9D, 0.99D))
          |          AS qs,
          |        COUNT(*) AS n
          |      FROM lineitem GROUP BY l_returnflag)
          |ORDER BY l_returnflag""".stripMargin)
    }),

    // --- map-typed columns: JSON -> map, key/value/lookup functions ---
    "q_map_ops" -> ((s, d) =>
      table(s, d, "events")
        .select(col("event_id"),
          from_json(col("props"), lit("map<string,bigint>")).as("m"))
        .select(col("event_id"),
          concat_ws(",", array_sort(map_keys(col("m")))).as("keys_csv"),
          lng(size(col("m"))).as("n_keys"),
          // try_element_at, not element_at: under ANSI mode (Spark 4
          // default) element_at throws MAP_KEY_DOES_NOT_EXIST on a
          // missing key, while the DuckDB oracle's json_extract_string
          // yields NULL — NULL-on-missing is the contract here.
          try_element_at(col("m"), lit("k")).as("k_val"),
          (try_element_at(col("m"), lit("k")) * 2).as("k_doubled"))
        .orderBy("event_id")),

    // --- CDC merge/upsert (round 5): apply a change set (updates +
    // inserts, synthesized deterministically from the base) onto a base
    // table — the MERGE INTO shape without a table format: anti-join
    // keeps unchanged rows, union applies the changes. Both legs key on
    // o_orderkey, so the anti join shuffles co-partitioned once; a real
    // change batch is small relative to base and AQE broadcasts it,
    // making the merge a single scan over base. ---
    "q_merge_upsert" -> ((s, d) => {
      val base = table(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      val updates = base.filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"),
          (col("o_totalprice") * 1.1).as("o_totalprice"),
          lit("updated").as("change"))
      val inserts = base.filter(col("o_orderkey") % 97 === 0)
        .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
          col("o_totalprice"), lit("inserted").as("change"))
      val changes = updates.unionByName(inserts)
      base
        .join(changes.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
        .withColumn("change", lit("kept"))
        .unionByName(changes)
        .orderBy("o_orderkey")
    }),

    // --- runtime bloom-filter pruning: build a bloom over the selective
    // dimension's keys (scalar subquery -> broadcast), pre-filter the
    // fact scan with might_contain, then the exact join removes the
    // false positives — result-identical to the plain join (the oracle
    // runs the unsalted SQL), but at 100 TB the fact rows that survive
    // the bloom are a fraction of the scan, cutting the shuffle. This is
    // Spark's own runtime row-level filtering shape, spelled explicitly.
    "q_join_bloom" -> ((s, d) => {
      graft.functions.BloomFns.register(s)
      table(s, d, "supplier").createOrReplaceTempView("supplier")
      table(s, d, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(
        s"""SELECT s_name, COUNT(*) AS n, ${S("l_extendedprice")} AS rev
           |FROM (SELECT * FROM lineitem
           |      WHERE graft_might_contain(
           |        (SELECT graft_bloom_agg(xxhash64(s_suppkey), 100L, 8192L)
           |         FROM supplier WHERE s_nationkey < 5),
           |        xxhash64(l_suppkey))) l
           |JOIN (SELECT * FROM supplier WHERE s_nationkey < 5) s
           |  ON l.l_suppkey = s.s_suppkey
           |GROUP BY s_name ORDER BY s_name""".stripMargin)
    }),

    // --- bucketed co-located join: both sides pre-bucketed on the join
    // key with the same bucket count, so the sort-merge join reads
    // bucket i against bucket i directly — ZERO exchanges for the join
    // (asserted in PlanQualitySpec). This is the 100 TB pattern for a
    // fact table joined repeatedly on the same key: pay the bucketing
    // shuffle once at write time, never again per query.
    "q_join_bucketed" -> ((s, d) => {
      // merge hint: at test scale the planner would broadcast the small
      // side (also fine); SMJ is the both-sides-huge shape the bucketing
      // exists for, and with sorted buckets it needs neither exchange
      // nor sort
      val l = s.table(bucketize(s, d, "lineitem", "l_orderkey")).hint("merge")
      val o = s.table(bucketize(s, d, "orders", "o_orderkey")).hint("merge")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sumd(col("l_quantity")).as("qty"))
        .orderBy("o_orderstatus")
    }),

    // --- aggregation on a bucketed table: the scan's bucket layout
    // already satisfies the groupBy's required distribution, so the
    // aggregate runs with ZERO exchange — write-once bucketing buys
    // every downstream keyed aggregation (and join, see
    // q_join_bucketed) its shuffle back. At 100 TB this is the
    // difference between an aggregation that moves the table and one
    // that only reads it. Plan-pinned: no hash exchange below the agg. ---
    "q_agg_bucketed" -> ((s, d) => {
      val l = s.table(bucketize(s, d, "lineitem", "l_orderkey"))
      l.groupBy("l_orderkey")
        .agg(count(lit(1)).as("n"), sumd(col("l_quantity")).as("qty"))
        .orderBy("l_orderkey")
    }),

    // --- custom physical operator: bounded-heap top-k per key
    // (graft.plans.TopKPerKey) — one hash exchange, NO per-partition
    // sort, unlike the row_number window spelling it replaces
    "q_topk_native" -> ((s, d) => {
      val df = table(s, d, "lineitem")
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice"))
      graft.plans.TopKPerKey.topKPerKey(df,
          keys = Seq(col("l_returnflag")),
          order = Seq(col("l_extendedprice").desc, col("l_orderkey").asc,
            col("l_linenumber").asc),
          k = 3)
        .orderBy(col("l_returnflag"), col("l_extendedprice").desc,
          col("l_orderkey"), col("l_linenumber"))
    }),

    // --- aggregate-shaped exact top-k: the streaming-capable sibling of
    // q_topk_native. ExactTopK is a TypedImperativeAggregate, so this is
    // a plain hash aggregate — map-side partials carry at most k pairs
    // per group per partition (shuffle volume O(groups·k), never a
    // window sort), it composes with other aggregates in the same
    // groupBy, and the identical expression runs under Structured
    // Streaming complete mode (q_streaming_topk). Total tie order
    // (vq, event_id) makes the result engine-independent — full oracle.
    "q_agg_topk" -> ((s, d) => {
      table(s, d, "events")
        .select(col("event_type"),
          round(col("value"), 0).cast("long").as("vq"), col("event_id"))
        .groupBy("event_type")
        .agg(graft.functions.ExactTopK(col("vq"), col("event_id"), 5)
          .as("top"))
        .select(col("event_type"), posexplode(col("top")).as(Seq("pos", "p")))
        .select(col("event_type"), (col("pos") + 1).cast("long").as("rn"),
          col("p.v").as("vq"), col("p.id").as("event_id"))
        .orderBy("event_type", "rn")
    }),

    // --- string similarity / padding scalar family ---
    "q_scalar_string2" -> ((s, d) =>
      table(s, d, "supplier")
        .select(col("s_suppkey"),
          lng(levenshtein(col("s_name"), lit("Supplier#000000001")))
            .as("lev"),
          lpad(col("s_name"), 25, "*").as("padded"),
          translate(col("s_name"), "#0", "_x").as("translated"),
          reverse(col("s_name")).as("rev"),
          repeat(substring(col("s_name"), 1, 3), 2).as("rep"))
        .orderBy("s_suppkey")),

    // --- Z-order (Morton) layout clustering: one interleaved-bit sort
    // key clusters rows along BOTH (user, time) at once, so a range-
    // partitioned write ordered by it yields parquet min/max stats that
    // prune on EITHER column — the multi-dimensional data-skipping
    // layout for 100 TB scans (a single-column sort gives pruning on
    // one dimension only). The key build is the native codegen'd
    // MortonCode expression (10 ALU ops/coordinate, stays in
    // whole-stage codegen); the query audits the layout by aggregating
    // per coarse Z-cell: each cell's min/max bounds on BOTH coordinates
    // are tight, which is exactly the file-stats property the writer
    // would rely on. Everything before the 1024-cell aggregate is
    // map-side. ---
    "q_zorder_cluster" -> ((s, d) => {
      val e = table(s, d, "events").select(
        col("user_id").bitwiseAND(lit(65535L)).as("x"),
        expr("unix_micros(ts) div 60000000").bitwiseAND(lit(65535L)).as("y"))
      e.select(col("x"), col("y"),
          graft.functions.MortonCode(col("x"), col("y")).as("zkey"))
        .groupBy(shiftright(col("zkey"), 22).as("zcell"))
        .agg(count(lit(1)).as("n"),
          min(col("x")).as("x_min"), max(col("x")).as("x_max"),
          min(col("y")).as("y_min"), max(col("y")).as("y_max"))
        .orderBy("zcell")
    }),

    // --- bitmap segment index (native BitmapAgg, functions/Bitmap
    // .scala): which customers ordered in BOTH 1996 and 1997, per
    // 1024-wide key-range bucket. Each (bucket, year) reduces to a
    // 128-byte bitmap (associative OR merge — partial aggregation and
    // AQE unchanged); the year-over-year intersection is then a
    // codegen'd AND+popcount on the bucket join, never a re-shuffle of
    // the key sets. The FULL oracle (DISTINCT-join counts) works
    // because the bitmap is exact, not a sketch. ---
    "q_bitmap_index" -> ((s, d) => {
      import graft.functions.BitmapAgg.{andCardinality, bitmap, cardinality}
      val o = table(s, d, "orders")
        .select(col("o_custkey").as("ck"),
          year(col("o_orderdate")).as("y"))
      def seg(yr: Int): DataFrame = o.filter(col("y") === yr)
        .select("ck").distinct()
        .select(floor(col("ck") / 1024.0).cast("long").as("bkt"),
          pmod(col("ck"), lit(1024L)).as("pos"))
        .groupBy("bkt").agg(bitmap(col("pos")).as(s"bm$yr"))
      seg(1996).join(seg(1997), "bkt")
        .select(col("bkt"),
          cardinality(col("bm1996")).as("n_1996"),
          cardinality(col("bm1997")).as("n_1997"),
          andCardinality(col("bm1996"), col("bm1997")).as("n_both"))
        .orderBy("bkt")
    })
  )

  /** DuckDB twin of MortonCode.spread: 16-term shift/mask chain placing
    * bit i of `v` at result bit 2i (+1 when `odd`).
    */
  private def spreadSql(v: String, odd: Boolean): String =
    (0 until 16).map { i =>
      s"(((($v) >> $i) & 1) * ${1L << (2 * i + (if (odd) 1 else 0))})"
    }.mkString("(", " + ", ")")

  override def oracle: Map[String, String] = Map(
    "q_ams_f2" -> {
      val evens = "('0','2','4','6','8','a','c','e')"
      val es = (1 to 8).map(j =>
        s"""    CAST(SUM(CASE WHEN substr(hx, $j, 1) IN $evens
           |      THEN f ELSE -f END) AS BIGINT) AS e$j""".stripMargin)
        .mkString(",\n")
      // squares in DECIMAL(38,0), mirroring the Spark side exactly
      val sq = (1 to 8)
        .map(j => s"CAST(CAST(e$j AS DECIMAL(38,0)) * e$j" +
          " AS DECIMAL(38,0))")
        .mkString(", ")
      s"""WITH f AS (SELECT CAST(COUNT(*) AS BIGINT) AS f,
         |    substr(md5('ams' || CAST(user_id AS VARCHAR)), 1, 8)
         |      AS hx
         |  FROM events GROUP BY user_id),
         |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
         |    CAST(SUM(CAST(f AS DECIMAL(38,0)) * f) AS DECIMAL(38,0))
         |      AS true_f2,
         |$es
         |  FROM f)
         |SELECT n_users,
         |  CAST(true_f2 AS VARCHAR) AS true_f2,
         |  CAST(list_sort([$sq])[4] AS VARCHAR) AS est_f2,
         |  CAST(list_sort([$sq])[4] - true_f2 AS DOUBLE)
         |    / CAST(true_f2 AS DOUBLE) AS rel_err
         |FROM a""".stripMargin
    },

    // the CMS counter table is xxhash64-derived; the oracle rebuilds
    // it bit-exactly via the HUGEINT XXH64 emulation (CmsOracle)
    "q_agg_cms" -> CmsOracle.sql,
    // same XXH64 emulation, full 64-bit width, k-min order statistics
    "q_kmv_distinct" -> CmsOracle.kmvSql(64),
    "q_kmv_setops" -> CmsOracle.kmvSetopsSql(64),
    // round 11: the HLL registers are seed-42 hashLong-derived, so the
    // same HUGEINT XXH64 emulation rebuilds them bit-exactly; the
    // estimate crosses the engine boundary through ONE deterministic
    // int->double conversion + division (HllOracle)
    "q_agg_hll" -> HllOracle.aggHllSql,
    "q_hll_rollup" -> HllOracle.hllRollupSql,

    "q_pivot" ->
      """SELECT o_orderpriority,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q_unpivot" ->
      """SELECT l_orderkey, l_linenumber, metric, value FROM (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
        |         l_quantity AS value FROM lineitem WHERE l_orderkey < 2000
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
        |  FROM lineitem WHERE l_orderkey < 2000
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
        |  FROM lineitem WHERE l_orderkey < 2000)
        |ORDER BY metric, value, l_orderkey, l_linenumber""".stripMargin,

    "q_percentile" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS p25,
        |  quantile_cont(l_quantity, 0.5) AS p50,
        |  quantile_cont(l_quantity, 0.75) AS p75,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_agg_stats" -> {
      // integer-quantized moments (see moments() scaladoc): exact int
      // sums, exact int->double casts, identical IEEE formula
      val xq = "CAST(round(l_extendedprice, 0) AS BIGINT)"
      val yq = "CAST(round(l_quantity, 0) AS BIGINT)"
      val sx = s"CAST(SUM($xq) AS DOUBLE)"
      val sxx = s"CAST(SUM($xq * $xq) AS DOUBLE)"
      val sy = s"CAST(SUM($yq) AS DOUBLE)"
      val syy = s"CAST(SUM($yq * $yq) AS DOUBLE)"
      val sxy = s"CAST(SUM($xq * $yq) AS DOUBLE)"
      s"""SELECT l_returnflag, COUNT(*) AS n,
         |  (($sxx - $sx * $sx / COUNT(*)) / (COUNT(*) - 1)) AS var_price,
         |  sqrt(($sxx - $sx * $sx / COUNT(*)) / (COUNT(*) - 1))
         |    AS stddev_price,
         |  (($sxy - $sx * $sy / COUNT(*))
         |   / (sqrt($sxx - $sx * $sx / COUNT(*))
         |      * sqrt($syy - $sy * $sy / COUNT(*)))) AS corr_price_qty
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
    },

    "q_linreg_fit" -> {
      // identical double formula tree over the exact integer moments;
      // x = quantity, y = extendedprice
      val xq = "CAST(round(l_quantity, 0) AS BIGINT)"
      val yq = "CAST(round(l_extendedprice, 0) AS BIGINT)"
      val sx = s"CAST(CAST(SUM($xq) AS BIGINT) AS DOUBLE)"
      val sxx = s"CAST(CAST(SUM($xq * $xq) AS BIGINT) AS DOUBLE)"
      val sy = s"CAST(CAST(SUM($yq) AS BIGINT) AS DOUBLE)"
      val syy = s"CAST(CAST(SUM($yq * $yq) AS BIGINT) AS DOUBLE)"
      val sxy = s"CAST(CAST(SUM($xq * $yq) AS BIGINT) AS DOUBLE)"
      val cxy = s"($sxy - $sx * $sy / COUNT(*))"
      val cxx = s"($sxx - $sx * $sx / COUNT(*))"
      val cyy = s"($syy - $sy * $sy / COUNT(*))"
      s"""SELECT l_returnflag, COUNT(*) AS n,
         |  ($cxy / $cxx) AS slope,
         |  ($sy / COUNT(*) - ($cxy / $cxx) * ($sx / COUNT(*)))
         |    AS intercept,
         |  (($cxy * $cxy) / ($cxx * $cyy)) AS r2
         |FROM lineitem GROUP BY l_returnflag
         |ORDER BY l_returnflag""".stripMargin
    },

    "q_agg_groupingsets" ->
      s"""SELECT COALESCE(l_returnflag, 'ALL') AS rf,
         |       COALESCE(l_linestatus, 'ALL') AS ls,
         |       COUNT(*) AS n, ${S("l_quantity")} AS sum_qty
         |FROM lineitem
         |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
         |                        (l_returnflag, l_linestatus), ())
         |ORDER BY rf, ls""".stripMargin,

    "q_subquery_exists" ->
      """SELECT c_custkey, c_name
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,

    "q_subquery_in" ->
      """SELECT c_custkey, c_name, c_acctbal
        |FROM customer
        |WHERE c_nationkey IN (SELECT n_nationkey FROM nation
        |                      WHERE n_regionkey = 1)
        |  AND c_acctbal < 1000
        |ORDER BY c_custkey""".stripMargin,

    "q_join_notin" ->
      """SELECT c_custkey, c_name, c_nationkey
        |FROM customer
        |WHERE c_nationkey NOT IN (SELECT s_nationkey FROM supplier
        |                          WHERE s_acctbal > 5000)
        |ORDER BY c_custkey""".stripMargin,

    "q_join_asof_tol" ->
      s"""WITH c AS (SELECT event_id, user_id, ts FROM events
         |           WHERE event_type = 'click'),
         |v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
         |a AS (SELECT c.event_id, c.user_id, c.ts, v.ts AS av
         |      FROM c ASOF LEFT JOIN v
         |        ON c.user_id = v.user_id AND c.ts >= v.ts)
         |SELECT event_id, user_id, ${FT("ts")} AS click_ts,
         |  CASE WHEN av IS NOT NULL
         |      AND epoch_us(ts) - epoch_us(av) <= 3600000000
         |    THEN ${FT("av")} END AS fresh_view_ts,
         |  (av IS NOT NULL
         |    AND epoch_us(ts) - epoch_us(av) <= 3600000000)
         |    AS within_tolerance
         |FROM a ORDER BY event_id""".stripMargin,

    "q_join_asof" ->
      s"""WITH c AS (SELECT event_id, user_id, ts FROM events
         |           WHERE event_type = 'click'),
         |v AS (SELECT user_id, ts FROM events WHERE event_type = 'view')
         |SELECT c.event_id, c.user_id,
         |       ${FT("c.ts")} AS click_ts,
         |       ${FT("v.ts")} AS asof_view_ts
         |FROM c ASOF LEFT JOIN v
         |  ON c.user_id = v.user_id AND c.ts >= v.ts
         |ORDER BY c.event_id""".stripMargin,

    // forward leg uses STRICT < : the Spark window's forward frame
    // starts at the click row, and an equal-instant view sorts BEFORE
    // the click, so only strictly-later views are forward candidates
    "q_join_asof_nearest" ->
      s"""WITH c AS (SELECT event_id, user_id, ts, epoch_us(ts) AS us
         |           FROM events WHERE event_type = 'click'),
         |v AS (SELECT user_id, ts, epoch_us(ts) AS us FROM events
         |      WHERE event_type = 'view'),
         |b AS (SELECT c.event_id, c.user_id, c.ts, c.us, v.us AS pv
         |      FROM c ASOF LEFT JOIN v
         |        ON c.user_id = v.user_id AND c.ts >= v.ts),
         |f AS (SELECT c.event_id, v.us AS nv
         |      FROM c ASOF LEFT JOIN v
         |        ON c.user_id = v.user_id AND c.ts < v.ts),
         |j AS (SELECT b.event_id, b.user_id, b.ts, b.us, b.pv, f.nv
         |      FROM b JOIN f ON f.event_id = b.event_id),
         |p AS (SELECT *,
         |    CASE WHEN pv IS NOT NULL AND (nv IS NULL
         |        OR us - pv <= nv - us) THEN 'back'
         |      WHEN nv IS NOT NULL THEN 'fwd' END AS dir
         |  FROM j)
         |SELECT event_id, user_id, ${FT("ts")} AS click_ts, dir,
         |  CASE WHEN dir = 'back' THEN us - pv
         |       WHEN dir = 'fwd' THEN nv - us END AS abs_lag_us
         |FROM p ORDER BY event_id""".stripMargin,

    "q_join_salted" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n,
         |  ${S("l_extendedprice")} AS rev
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // identical semantics to q_join_theta — the banded rewrite must be
    // result-invisible, so its oracle IS the plain range join
    "q_join_range" ->
      """SELECT s_suppkey, c_custkey, s_acctbal, c_acctbal
        |FROM customer JOIN supplier
        |  ON c_acctbal >= s_acctbal - 100.0 AND c_acctbal <= s_acctbal + 100.0
        |ORDER BY s_suppkey, c_custkey""".stripMargin,

    "q_join_grid" ->
      """WITH p AS (SELECT c_custkey AS id,
        |             (c_custkey * 2654435761) % 1000003 % 256 AS x,
        |             (c_custkey * 40503 + 2654435761) % 999983 % 256 AS y
        |           FROM customer)
        |SELECT a.id AS a_id, b.id AS b_id,
        |  greatest(abs(a.x - b.x), abs(a.y - b.y)) AS dist
        |FROM p a JOIN p b
        |  ON a.id < b.id AND abs(a.x - b.x) <= 8 AND abs(a.y - b.y) <= 8
        |ORDER BY a_id, b_id""".stripMargin,

    "q_win_dist" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment
        |             ORDER BY c_acctbal, c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    // exact SQL twin of the sketch bucketing: u = floor(16v)+16, octave
    // = floor-log2 via length(bin(u))-1, sub-bucket = 4 bits after the
    // leading 1, estimate = lower bound of the first bucket whose
    // cumulative count reaches ceil(q*n)
    "q_quantile_sketch" ->
      """WITH v AS (SELECT l_returnflag AS grp,
        |             CAST(floor(l_extendedprice * 16) AS BIGINT) + 16 AS u
        |           FROM lineitem),
        |b AS (SELECT grp, length(bin(u)) - 1 AS hi,
        |        (u >> (length(bin(u)) - 1 - 4)) & 15 AS sub,
        |        COUNT(*) AS c
        |      FROM v GROUP BY 1, 2, 3),
        |w AS (SELECT grp, hi, sub, c,
        |        SUM(c) OVER (PARTITION BY grp ORDER BY hi, sub) AS cum,
        |        SUM(c) OVER (PARTITION BY grp) AS n FROM b),
        |r AS (SELECT grp, cum, n,
        |        CAST((16 + sub) * (CAST(1 AS BIGINT) << (hi - 4)) - 16
        |             AS DOUBLE) / 16 AS rep
        |      FROM w)
        |SELECT grp AS l_returnflag,
        |  MIN(CASE WHEN cum >= ceil(0.5 * n) THEN rep END) AS p50,
        |  MIN(CASE WHEN cum >= ceil(0.9 * n) THEN rep END) AS p90,
        |  MIN(CASE WHEN cum >= ceil(0.99 * n) THEN rep END) AS p99,
        |  CAST(MAX(n) AS BIGINT) AS n
        |FROM r GROUP BY grp ORDER BY l_returnflag""".stripMargin,

    "q_map_ops" ->
      """SELECT event_id,
        |  array_to_string(list_sort(json_keys(props)), ',') AS keys_csv,
        |  CAST(len(json_keys(props)) AS BIGINT) AS n_keys,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) * 2 AS k_doubled
        |FROM events ORDER BY event_id""".stripMargin,

    "q_merge_upsert" ->
      """WITH ch AS (
        |  SELECT o_orderkey, o_totalprice * 1.1 AS o_totalprice,
        |         'updated' AS change
        |  FROM orders WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_totalprice, 'inserted'
        |  FROM orders WHERE o_orderkey % 97 = 0)
        |SELECT o.o_orderkey, o.o_totalprice, 'kept' AS change
        |FROM orders o ANTI JOIN ch ON ch.o_orderkey = o.o_orderkey
        |UNION ALL
        |SELECT o_orderkey, o_totalprice, change FROM ch
        |ORDER BY o_orderkey""".stripMargin,

    "q_join_bloom" ->
      s"""SELECT s_name, COUNT(*) AS n, ${S("l_extendedprice")} AS rev
         |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         |WHERE s_nationkey < 5
         |GROUP BY s_name ORDER BY s_name""".stripMargin,

    "q_join_bucketed" ->
      s"""SELECT o_orderstatus, COUNT(*) AS n, ${S("l_quantity")} AS qty
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_agg_bucketed" ->
      s"""SELECT l_orderkey, COUNT(*) AS n, ${S("l_quantity")} AS qty
         |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,

    "q_topk_native" ->
      """SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice
        |FROM (SELECT l_returnflag, l_orderkey, l_linenumber,
        |             l_extendedprice,
        |             row_number() OVER (PARTITION BY l_returnflag
        |               ORDER BY l_extendedprice DESC, l_orderkey,
        |                        l_linenumber) AS rn
        |      FROM lineitem)
        |WHERE rn <= 3
        |ORDER BY l_returnflag, l_extendedprice DESC, l_orderkey,
        |         l_linenumber""".stripMargin,

    "q_agg_topk" ->
      """WITH q AS (SELECT event_type,
        |    CAST(round(value, 0) AS BIGINT) AS vq, event_id
        |  FROM events),
        |r AS (SELECT event_type, vq, event_id,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY vq DESC, event_id DESC) AS rn
        |  FROM q)
        |SELECT event_type, CAST(rn AS BIGINT) AS rn, vq, event_id
        |FROM r WHERE rn <= 5 ORDER BY event_type, rn""".stripMargin,

    "q_scalar_string2" ->
      """SELECT s_suppkey,
        |  CAST(levenshtein(s_name, 'Supplier#000000001') AS BIGINT) AS lev,
        |  lpad(s_name, 25, '*') AS padded,
        |  translate(s_name, '#0', '_x') AS translated,
        |  reverse(s_name) AS rev,
        |  repeat(substring(s_name, 1, 3), 2) AS rep
        |FROM supplier ORDER BY s_suppkey""".stripMargin,

    "q_zorder_cluster" ->
      s"""WITH c AS (
        |  SELECT (user_id & 65535) AS x,
        |         ((epoch_us(ts) // 60000000) & 65535) AS y
        |  FROM events),
        |z AS (SELECT x, y,
        |        ${spreadSql("x", odd = false)}
        |        + ${spreadSql("y", odd = true)} AS zkey
        |      FROM c)
        |SELECT (zkey >> 22) AS zcell, COUNT(*) AS n,
        |  MIN(x) AS x_min, MAX(x) AS x_max,
        |  MIN(y) AS y_min, MAX(y) AS y_max
        |FROM z GROUP BY 1 ORDER BY zcell""".stripMargin,

    "q_bitmap_index" ->
      """WITH o AS (SELECT DISTINCT o_custkey AS ck,
        |    year(o_orderdate) AS y
        |  FROM orders WHERE year(o_orderdate) IN (1996, 1997)),
        |a AS (SELECT CAST(floor(ck / 1024.0) AS BIGINT) AS bkt, ck
        |      FROM o WHERE y = 1996),
        |b AS (SELECT CAST(floor(ck / 1024.0) AS BIGINT) AS bkt, ck
        |      FROM o WHERE y = 1997),
        |ga AS (SELECT bkt, CAST(COUNT(*) AS BIGINT) AS n_1996
        |       FROM a GROUP BY bkt),
        |gb AS (SELECT bkt, CAST(COUNT(*) AS BIGINT) AS n_1997
        |       FROM b GROUP BY bkt),
        |gboth AS (SELECT a.bkt, CAST(COUNT(*) AS BIGINT) AS n_both
        |          FROM a JOIN b ON a.ck = b.ck GROUP BY a.bkt)
        |SELECT bkt, n_1996, n_1997, COALESCE(n_both, 0) AS n_both
        |FROM ga JOIN gb USING (bkt) LEFT JOIN gboth USING (bkt)
        |ORDER BY bkt""".stripMargin
  )
}
