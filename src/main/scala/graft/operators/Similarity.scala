package graft.operators

import graft.QueryModule
import graft.Det.let
import graft.Tables.table
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (`Array[Float]`, 64-d).
  *
  * Determinism: cosine is computed on fixed-point quantized vectors —
  * `floor(x * 2^20)` per element. Scaling a float by a power of two is
  * exact in IEEE arithmetic and `floor` is unambiguous, so both engines
  * derive identical int64 vectors; dot products and norms are then exact
  * integer sums (order-independent, |x| < 2^20 => products < 2^40, 64
  * terms < 2^46, no overflow), and the final `int / (sqrt * sqrt)` is a
  * pair of IEEE-exact ops. Result doubles are bit-identical across Spark
  * and DuckDB. (A plain double dot product is NOT portable: decimal casts
  * of doubles round differently per engine, and FP addition depends on
  * Spark's partial-aggregation order.)
  *
  * Scale path: `q_sim_topk` is the brute-force baseline — the probe set
  * is broadcast, candidates never shuffle, and the only exchange is the
  * per-probe top-k window over k·|probes| rows. `q_sim_lsh` is the
  * 100 TB variant: multi-table random-hyperplane LSH (L tables of k
  * sign bits) buckets both sides so each probe scores only candidates
  * colliding in at least one table — the cross join becomes an equi
  * join on (table, bucket) (uniform keys by construction), trading a
  * tunable recall (1-(1-p^k)^L) for a ~2^k per-table fan-in reduction. `q_sim_ivf` is the learned-partition
  * variant: nearest-centroid assignment replaces the hash, nprobe = 1.
  */
object Similarity extends QueryModule {

  /** All-pairs tripwire for the declared-exact truth twins: the guard
    * is a PAIR budget, not a vector count — n·(n−1)/2 ≤ 5×10⁹
    * candidate pairs (a few minutes of fused codegen'd dot products on
    * one executor-scale box), which derives the vector cap below.
    * The former 1M-vector cap admitted ~5×10¹¹ pairs — the job would
    * be dead long before the guard fired; this one trips while the
    * work is still tractable, naming the bucketed spellings to use
    * instead.
    */
  val allPairsBudget: Long = 5000000000L
  val allPairsMaxVectors: Long = {
    // largest n with n·(n−1)/2 ≤ budget
    val n = math.floor((1.0 + math.sqrt(1.0 + 8.0 *
      allPairsBudget.toDouble)) / 2.0).toLong
    if (n * (n - 1) / 2 > allPairsBudget) n - 1 else n
  }

  /** Exact fixed-point dot product — native codegen'd Catalyst expression
    * (graft.functions.QuantizedDot): one fused loop over the float
    * arrays, no intermediate arrays, stays inside whole-stage codegen.
    */
  private[operators] def dotQ(a: Column, b: Column): Column =
    graft.functions.QuantizedDot(a, b)

  private[operators] def cosQ(dot: Column, an: Column, bn: Column): Column =
    dot.cast("double") / (sqrt(an.cast("double")) * sqrt(bn.cast("double")))

  /** 2^20 fixed-point elements of an embedding array — the quantization
    * every exact pipeline here starts from.
    */
  private[operators] def fixedPoint(e: Column): Column =
    transform(e, x => floor(x.cast("double") * lit(1048576.0)).cast("long"))

  /** int8 symmetric codes of the fixed-point elements (scale maxabs/127)
    * — ONE definition shared by `q_embed_quantize` (which also emits the
    * scale and reconstruction error) and `q_rank_rerank`'s coarse stage,
    * so a rounding tweak can never desynchronize the codes the rerank
    * claims to read from the quantizer's table.
    */
  /** SRP hyperplane signs: ±1 from the low bit of md5("p:j") — a pure
    * function of (plane, dim) computed ONCE driver-side and inlined as
    * literals into both the Spark plan and the DuckDB oracle, so the
    * two engines share the matrix by construction (q_embed_srp).
    */
  private lazy val srpSigns: IndexedSeq[IndexedSeq[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until 16).map(p => (0 until 64).map { j =>
      if ((md.digest(s"$p:$j".getBytes("UTF-8"))(0) & 1) == 0) 1 else -1
    })
  }

  /** DuckDB twin of [[srpSigExpr]]: CTE chain ending in
    * `sg(vec_id, label, srp_sig)` — shared by the census and pair
    * oracles.
    */
  private lazy val srpSigCte: String = {
    val planes = srpSigns.zipWithIndex.map { case (row, p) =>
      val arr = row.mkString("[", ",", "]")
      s"(CASE WHEN CAST(list_sum(list_transform(range(1, 65), " +
        s"i -> q8[i] * ($arr)[i])) AS BIGINT) >= 0 " +
        s"THEN ${1L << p} ELSE 0 END)"
    }.mkString("\n  + ")
    s"""v0 AS (SELECT vec_id, label, $qSql AS v FROM embeddings),
       |m0 AS (SELECT vec_id, label, v,
       |        list_max(list_transform(v, a -> abs(a))) AS maxabs
       |      FROM v0),
       |qq0 AS (SELECT vec_id, label,
       |         list_transform(v, a -> CASE WHEN maxabs > 0
       |           THEN CAST(floor(CAST(a * 127 AS DOUBLE)
       |                / CAST(maxabs AS DOUBLE)) AS BIGINT)
       |           ELSE CAST(0 AS BIGINT) END) AS q8
       |       FROM m0),
       |sg AS (SELECT vec_id, label, CAST($planes AS BIGINT) AS srp_sig
       |       FROM qq0)""".stripMargin
  }

  /** The 16-bit SRP signature expression over `embedding` — ONE
    * definition shared by q_embed_srp (census) and q_srp_pairs (the
    * Hamming join), so the signatures the join blocks on are exactly
    * the ones the census publishes.
    */
  private def srpSigExpr: Column =
    let(fixedPoint(col("embedding"))) { vv =>
      let(array_max(transform(vv, a => abs(a)))) { ma =>
        let(q8Of(vv, ma)) { q8 =>
          (0 until 16).map { p =>
            val signs = typedLit(srpSigns(p).toSeq)
            (aggregate(zip_with(q8, signs, (a, b) => a * b),
              lit(0L), (acc, e) => acc + e) >= 0).cast("long") *
              lit(1L << p)
          }.reduce(_ + _)
        }
      }
    }

  private def q8Of(vv: Column, ma: Column): Column =
    transform(vv, a => when(ma > 0,
        floor((a * 127).cast("double") / ma.cast("double")))
      .otherwise(lit(0L)).cast("long"))

  /** LSH geometry: L hash tables of k sign-bit planes each. A true
    * neighbor is a candidate if it collides in ANY table, so per-pair
    * recall is 1-(1-p^k)^L (p = 1 - angle/pi) — the multi-table union
    * is what makes hyperplane LSH usable (one k-bit table alone has
    * p^k recall, near zero for moderate angles). k scales with corpus
    * size targeting ~64-vector buckets (occupancy ~ n / 2^k): a fixed
    * k either floods probes with candidates at 1000x the corpus or
    * starves recall at 1/1000th — the plane count is a function of n,
    * not a constant. L buys recall back at linear cost. The row count
    * comes from parquet footer statistics (metadata-only job).
    */
  private val LshTables = 8
  private def lshPlanes(n: Long): Int =
    math.max(4, (63 - java.lang.Long.numberOfLeadingZeros(
      math.max(1L, n / 64L))).toInt)

  /** Corpus row count per dataset dir, resolved once per JVM. The count
    * is a metadata-only job (parquet footer statistics), but it is still
    * a Spark job with scheduling latency per invocation — and the plane
    * count it feeds is a property of the dataset, not of the query run.
    */
  private val rowCountCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def corpusRows(s: SparkSession, d: String): Long =
    rowCountCache.computeIfAbsent(s"$d/embeddings.parquet",
      p => s.read.parquet(p).count())

  /** The corpus with its quantized self-dot: (vec_id, q, nn). */
  private def corpus(s: SparkSession, d: String): DataFrame =
    table(s, d, "embeddings")
      .select(col("vec_id"), col("embedding").as("q"))
      .withColumn("nn", dotQ(col("q"), col("q")))

  /** IVF assignment shared by the ANN / SemDedup / k-means queries:
    * every vector mapped to its nearest of the 16 deterministic seed
    * centroids (vec_id < 16 — a real build trains these on a sample;
    * the partition shape is identical). Centroids broadcast; the argmax
    * is a `min_by` AGGREGATE over the 16 scored rows per vector — a
    * hash aggregate with map-side partials that moves one row per
    * vector across the exchange, where the window spelling
    * (row_number over (vec_id, ccos desc)) would shuffle AND sort all
    * 16x|corpus| scored rows. The ordering key (-ccos, cent_id) is a
    * total order (cent_id unique per vector; negation of an IEEE double
    * is exact), so the winner is merge-order-independent — the same
    * vector the window's (ccos desc, cent_id asc) rank-1 picked.
    * Returns (vec_id, bucket).
    */
  private[operators] def ivfAssigned(s: SparkSession, d: String): DataFrame = {
    val e = corpus(s, d)
    val cents = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cent_id"), col("q").as("cq"),
        col("nn").as("cn"))
    e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cent_id"),
        cosQ(dotQ(col("q"), col("cq")), col("nn"), col("cn")).as("ccos"))
      .groupBy("vec_id")
      .agg(min_by(col("cent_id"),
        struct((-col("ccos")).as("negcos"), col("cent_id").as("tie")))
        .as("bucket"))
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- brute-force cosine top-k (exact ANN baseline) ---
    "q_sim_topk" -> ((s, d) => {
      val e = table(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").as("q"))
        .withColumn("nn", dotQ(col("q"), col("q")))
      val probes = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("q").as("pq"),
          col("nn").as("pn"))
      val cands = e.select(col("vec_id").as("cand_id"), col("q").as("cq"),
        col("nn").as("cn"))
      val scored = cands.crossJoin(broadcast(probes))
        .filter(col("cand_id") =!= col("probe_id"))
        .select(col("probe_id"), col("cand_id"),
          cosQ(dotQ(col("pq"), col("cq")), col("pn"), col("cn")).as("cos"))
      val w = Window.partitionBy("probe_id")
        .orderBy(col("cos").desc, col("cand_id").asc)
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .withColumn("rn", col("rn").cast("long"))
        .orderBy("probe_id", "rn")
    }),

    // --- matryoshka truncation audit: recall@5 of searching on only the
    // FIRST 16 of 64 dimensions against the full-width ground truth —
    // the readout that decides whether a fleet can serve ANN from a 4x
    // smaller index (truncate-and-renormalize, the matryoshka deploy
    // move; renormalization is implicit because cosine divides by the
    // truncated norm). Both widths score in ONE pass over the same
    // broadcast-probe scan — the truncated dot is a second fused
    // QuantizedDot over slice(), map-side, so the audit costs one extra
    // expression, not a second corpus pass — and the two top-5 ranks
    // come from two windows over the SAME probe-partitioned shuffle
    // (one exchange, k·|probes| rows). Exact fixed-point dots make both
    // rankings bit-stable; ties break on cand_id as everywhere. ---
    "q_ann_trunc" -> ((s, d) => {
      val e = table(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").as("q"),
          slice(col("embedding"), 1, 16).as("t"))
        .withColumn("nn", dotQ(col("q"), col("q")))
        .withColumn("tn", dotQ(col("t"), col("t")))
      val probes = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("q").as("pq"),
          col("t").as("pt"), col("nn").as("pn"), col("tn").as("ptn"))
      val scored = e.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id").as("cand_id"),
          cosQ(dotQ(col("pq"), col("q")), col("pn"), col("nn")).as("cf"),
          cosQ(dotQ(col("pt"), col("t")), col("ptn"), col("tn")).as("ct"))
      val wf = Window.partitionBy("probe_id")
        .orderBy(col("cf").desc, col("cand_id").asc)
      val wt = Window.partitionBy("probe_id")
        .orderBy(col("ct").desc, col("cand_id").asc)
      scored
        .withColumn("rf", row_number().over(wf))
        .withColumn("rt", row_number().over(wt))
        .groupBy("probe_id")
        .agg(sum((col("rf") <= 5 && col("rt") <= 5).cast("long"))
          .as("n_common"))
        .select(col("probe_id"), col("n_common"),
          (col("n_common").cast("double") / 5.0).as("recall_at_5"))
        .orderBy("probe_id")
    }),

    // --- embedding near-dup: top-50 closest pairs, all-pairs exact.
    // DECLARED-EXACT TRUTH TWIN: this O(n²) relation exists so the
    // bucketed evaluators (q_ann_recall, q_sim_lsh, q_dedup_semantic —
    // the fleet spellings) have an exact baseline to measure recall
    // against. It must never be lifted into a fleet pipeline
    // unchanged, so it refuses loudly beyond test scale. ---
    "q_dedup_embedding" -> ((s, d) => {
      // memoized per (dir, table): the guard scan runs once per
      // session, not once per invocation (bench passes re-run queries)
      val nVec = graft.Tables.cappedCount(s, d, "embeddings",
        Similarity.allPairsMaxVectors)
      require(nVec <= Similarity.allPairsMaxVectors,
        s"q_dedup_embedding is the all-pairs EXACT truth twin " +
          s"(n=$nVec vectors => >${Similarity.allPairsBudget} " +
          s"candidate pairs, over the ${Similarity.allPairsBudget} " +
          "pair budget); beyond " +
          s"${Similarity.allPairsMaxVectors} vectors use the " +
          "bucketed spellings: q_sim_lsh / " +
          "q_dedup_semantic (IVF cells) / q_rank_rerank")
      val e = table(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").as("q"))
        .withColumn("nn", dotQ(col("q"), col("q")))
      val a = e.select(col("vec_id").as("a_id"), col("q").as("aq"),
        col("nn").as("an"))
      val b = e.select(col("vec_id").as("b_id"), col("q").as("bq"),
        col("nn").as("bn"))
      val scored = a.crossJoin(b).filter(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          cosQ(dotQ(col("aq"), col("bq")), col("an"), col("bn")).as("cos"))
      // Global top-50 via sort+limit, which plans as TakeOrderedAndProject:
      // every partition keeps a 50-row heap and the driver merges heads.
      // A global row_number() window here would drag ALL n^2/2 scored
      // pairs into one task — the rank is instead derived afterwards over
      // just the 50 survivors (a 50-row window, bounded at any scale).
      val top = scored
        .orderBy(col("cos").desc, col("a_id").asc, col("b_id").asc)
        .limit(50)
      val w = Window.orderBy(col("cos").desc, col("a_id").asc, col("b_id").asc)
      top.withColumn("rn", row_number().over(w).cast("long"))
        .orderBy("rn")
    }),

    // --- product-quantization code assignment: the memory-compression
    // step of a PQ/IVF-PQ index build — each 64-d vector becomes 4
    // one-byte codes (nearest of 16 centroids per 16-d subspace), a
    // 64x compression that lets a 100 TB corpus's index live in RAM.
    // The codebook is the deterministic seed vectors' subvectors
    // (vec_id < 16, the ivfAssigned discipline; a real build trains
    // per-subspace k-means — the assignment shape is identical).
    // Distances are exact int64: d2 = |a|2 + |b|2 - 2·a·b on 2^20
    // fixed-point subvectors (QuantizedDot three ways — every term an
    // exact integer, so the argmin is engine-independent). Each vector
    // explodes to 4 subvector rows; the 64-row codebook broadcasts;
    // per-subspace winners come from ONE min_by aggregate (never a
    // row_number over the 64x|corpus| scored relation); the 4 codes
    // fold back map-side into a single row per vector. qerr (the
    // summed squared quantization error) is the index-quality readout
    // a build monitors. ---
    // --- Matryoshka truncation-recall curve (round 17): modern
    // embedding models train nested (MRL) representations so an index
    // can store a PREFIX of each vector — the provisioning question is
    // how much recall each truncation width keeps. For each prefix
    // width d ∈ {8,16,32,64}: exact top-5 neighbors of the 10 standing
    // probes by prefix-cosine, intersected with the full-width top-5
    // (d=64 is its own truth row — recall 1.0, an in-query
    // self-check). Dots are the exact fixed-point device on array
    // slices; per-(dim,probe) winners ride the native TopKPerKey
    // bounded heaps (never a window over the corpus-sized candidate
    // relation); probes broadcast, so the corpus streams ONCE through
    // a map-side explode of the 4 widths. Zero-norm prefixes guard to
    // NULL cosine (none exist in the corpus; the guard keeps the
    // NaN-vs-inf engine divergence impossible). ---
    "q_mrl_recall" -> ((s, d) => {
      val dims = Seq(8, 16, 32, 64)
      // per-vector prefix self-norms computed ONCE map-side BEFORE
      // the probe join (the oracle's nrm CTE) — inside the join each
      // candidate norm would be recomputed per probe, tripling the
      // fused dot-product work (round 17 review finding)
      def norms(q: Column): Column = array(dims.map(dm =>
        dotQ(slice(q, 1, dm), slice(q, 1, dm))): _*)
      val e = table(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").as("q"))
      val probes = e.filter(col("vec_id") >= 10 && col("vec_id") < 20)
        .select(col("vec_id").as("probe_id"), col("q").as("pq"),
          norms(col("q")).as("pn"))
      val nProbes = 10.0
      val scored = e.select(col("vec_id").as("cand_id"),
          col("q").as("cq"), norms(col("q")).as("cn"))
        .join(broadcast(probes), col("cand_id") =!= col("probe_id"))
        .select(col("probe_id"), col("cand_id"),
          explode(array(dims.zipWithIndex.map { case (dm, ix) =>
            val dt = dotQ(slice(col("cq"), 1, dm),
              slice(col("pq"), 1, dm))
            val nc = element_at(col("cn"), ix + 1)
            val np = element_at(col("pn"), ix + 1)
            struct(lit(dm.toLong).as("dim"),
              when(nc > 0 && np > 0, cosQ(dt, np, nc)).as("cos"))
          }: _*)).as("s"))
        .select(col("probe_id"), col("cand_id"),
          col("s.dim").as("dim"), col("s.cos").as("cos"))
        .filter(col("cos").isNotNull)
      val top = graft.plans.TopKPerKey.topKPerKey(scored,
        keys = Seq(col("dim"), col("probe_id")),
        order = Seq(col("cos").desc, col("cand_id").asc), k = 5)
      val truth = top.filter(col("dim") === 64L)
        .select(col("probe_id"), col("cand_id"))
      top.join(truth, Seq("probe_id", "cand_id"))
        .groupBy("dim")
        .agg(count(lit(1)).as("n_common"))
        .select(col("dim"), col("n_common"),
          (col("n_common").cast("double") / (5.0 * nProbes))
            .as("recall_at_5"))
        .orderBy("dim")
    }),

    // --- principal-direction extraction by power iteration (round
    // 17): the whitening / OPQ-rotation prep step an ANN index build
    // runs before quantization — find the dominant eigenvector of the
    // embedding second-moment (Gram) matrix. Corpus-scale work is ONE
    // aggregate: each vector's 2^20-fixed-point components explode to
    // the 2080 upper-triangle (i,j) products and partial-aggregate
    // map-side, so the shuffle moves O(dims²·partitions) cells, never
    // vectors (a fleet build swaps the explode for per-partition BLAS
    // accumulation — same bounded output). The 64×64 solve then runs
    // driver-side (the q_bradley_terry bounded-matrix discipline) as
    // EIGHT exact-integer power iterations: G cells in DECIMAL(38,0),
    // v on a 1e6 grid renormalized by max|w| with sign-split magnitude
    // floor-division (identical semantics in BigInt and DuckDB //),
    // so both engines walk bit-identical grids; the Rayleigh quotient
    // is ONE exact-int→double division pair at the end. ---
    "q_pca_power" -> ((s, d) => {
      import s.implicits._
      val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val comp = table(s, d, "embeddings")
        .select(fixedPoint(col("embedding")).as("q"))
      val cells = comp
        .select(posexplode(col("q")).as(Seq("i0", "qi")), col("q"))
        .select(col("i0"), col("qi"),
          posexplode(col("q")).as(Seq("j0", "qj")))
        .filter(col("i0") <= col("j0"))
        .groupBy("i0", "j0")
        .agg(sum(col("qi").cast(d38) * col("qj")).cast(d38).as("g"))
      val m = Array.fill(64, 64)(BigInt(0))
      val collected = cells.collect()
      collected.foreach { r =>
        val i = r.getAs[Int]("i0"); val j = r.getAs[Int]("j0")
        val g = BigInt(r.getAs[java.math.BigDecimal]("g")
          .toBigInteger)
        m(i)(j) = g; m(j)(i) = g
      }
      // degenerate-corpus parity with the oracle: an EMPTY embeddings
      // table leaves the oracle's v0 (built FROM the matrix) empty —
      // emit zero rows, not 64 rows of 0/0; all-zero quantized
      // vectors collapse v to zeros, where den=0 guards lambda to
      // NULL on both engines (DuckDB double 0/0 is NULL, not NaN)
      if (collected.isEmpty)
        Seq.empty[(Long, Double, java.lang.Double)]
          .toDF("dim", "loading", "lambda")
      else {
        var v = Array.fill(64)(BigInt(1000000))
        (1 to 8).foreach { _ =>
          val w = (0 until 64).map(i =>
            (0 until 64).map(j => m(i)(j) * v(j)).sum)
          val mx = w.map(_.abs).max.max(BigInt(1))
          v = w.map(x =>
            if (x.signum < 0) -((-x * 1000000) / mx)
            else (x * 1000000) / mx).toArray
        }
        val num = (0 until 64).map(i =>
          (0 until 64).map(j => v(i) * m(i)(j) * v(j)).sum).sum
        val den = v.map(x => x * x).sum
        val lam: java.lang.Double =
          if (den.signum > 0) num.toDouble / den.toDouble else null
        (0 until 64).map(i =>
            ((i + 1).toLong, v(i).toDouble / 1e6, lam))
          .toDF("dim", "loading", "lambda")
          .orderBy("dim")
      }
    }),

    "q_pq_assign" -> ((s, d) => {
      val subs = table(s, d, "embeddings")
        .select(col("vec_id"), posexplode(array(
          (0 until 4).map(m => slice(col("embedding"), m * 16 + 1, 16)): _*)))
        .toDF("vec_id", "sub", "sv")
      val cb = subs.filter(col("vec_id") < 16)
        .select(col("sub").as("csub"), col("vec_id").as("cent_id"),
          col("sv").as("cv"))
      subs.join(broadcast(cb), col("sub") === col("csub"))
        .select(col("vec_id"), col("sub"), col("cent_id"),
          (dotQ(col("sv"), col("sv")) + dotQ(col("cv"), col("cv")) -
            lit(2L) * dotQ(col("sv"), col("cv"))).as("dist"))
        .groupBy("vec_id", "sub")
        .agg(min_by(col("cent_id"),
            struct(col("dist"), col("cent_id"))).as("code"),
          min(col("dist")).as("md"))
        .groupBy("vec_id")
        .agg(max(when(col("sub") === 0, col("code"))).as("c0"),
          max(when(col("sub") === 1, col("code"))).as("c1"),
          max(when(col("sub") === 2, col("code"))).as("c2"),
          max(when(col("sub") === 3, col("code"))).as("c3"),
          sum(col("md")).as("qerr"))
        .orderBy("vec_id")
    }),

    // --- IVF-bucketed ANN: assign every vector to its nearest of 16
    // deterministic seed centroids (vec_id < 16 — a real build k-means
    // trains these on a sample; the partition/search shape is
    // identical), then each probe scores ONLY its own centroid's
    // bucket (nprobe = 1). Centroids broadcast to both stages; the
    // only shuffle is the bucket equi-join. Trades recall for a
    // ~|centroids| fan-in reduction, the standard IVF bargain. ---
    // --- semantic topic-balance audit (round 12): the embedding-
    // space sibling of q_lang_mix_entropy — per label slice, how
    // evenly the vectors spread over 16 SRP "topic" buckets (low 4
    // bits of the shared 16-bit SRP signature, the same planes the
    // census/pair queries publish). Diversity uses the same BANDED
    // integer entropy (sum of c * floor(log2(n/c)), one div at the
    // end — no libm); output is O(labels). One signature pass over
    // the corpus, two tiny rollups. ---
    "q_topic_balance" -> ((s, d) => {
      val cells = table(s, d, "embeddings")
        .select(col("label").cast("long").as("label"),
          pmod(srpSigExpr, lit(16L)).as("topic"))
        .groupBy("label", "topic").agg(count(lit(1)).as("c"))
      val totals = cells.groupBy("label")
        .agg(sum("c").cast("long").as("n"),
          count(lit(1)).as("n_topics"), max("c").as("cmax"))
      cells.join(broadcast(totals), "label")
        .select(col("label"), col("n"), col("n_topics"), col("cmax"),
          (col("c") * (length(bin(expr("n div c"))) - 1).cast("long"))
            .as("contrib"))
        .groupBy("label")
        .agg(max("n").as("n_vecs"), max("n_topics").as("n_topics"),
          max("cmax").as("cmax"), sum("contrib").cast("long").as("hb"))
        .select(col("label"), col("n_vecs"), col("n_topics"),
          expr("hb div n_vecs").as("h_band"),
          (col("cmax").cast("double") / col("n_vecs")).as("dom_share"))
        .orderBy("label")
    }),

    // --- SEMANTIC benchmark contamination (round 12): the embedding-
    // space sibling of q_contamination/q_contam_coverage — eval items
    // that n-gram decontamination misses because the leak is a
    // paraphrase. Bench items (vec_id % 97 == 0, the standing eval
    // stand-in) probe the corpus through the SHARED IVF cells
    // (ivfAssigned — one assignment pass, the same cells every ANN
    // query reads): candidates are same-cell only, so the scored
    // relation is sum(|cell| x |bench-in-cell|), never
    // |bench| x |corpus|. The per-item nearest pick is a min_by
    // struct-extremum over (-cos, cand_id) — merge-order-independent,
    // no window over the candidate relation. Exact quantized cosines
    // (dotQ). ---
    "q_semantic_contam" -> ((s, d) => {
      val asg = ivfAssigned(s, d)
      val e0 = corpus(s, d).join(asg, "vec_id")
      val bench = e0.filter(col("vec_id") % 97 === 0)
        .select(col("vec_id").as("bench_id"), col("q").as("bq"),
          col("nn").as("bn"), col("bucket"))
      val cand = e0.filter(col("vec_id") % 97 =!= 0)
        .select(col("vec_id").as("cand_id"), col("q").as("cq"),
          col("nn").as("cn"), col("bucket"))
      cand.join(broadcast(bench), "bucket")
        .select(col("bench_id"), col("cand_id"),
          cosQ(dotQ(col("bq"), col("cq")), col("bn"), col("cn"))
            .as("cos"))
        .groupBy("bench_id")
        .agg(count(lit(1)).as("n_candidates"),
          sum((col("cos") >= 0.99).cast("long")).as("n_flagged"),
          max(col("cos")).as("max_cos"),
          min_by(col("cand_id"),
            struct((-col("cos")).as("nc"), col("cand_id").as("tie")))
            .as("nearest_id"))
        .orderBy("bench_id")
    }),

    "q_sim_ivf" -> ((s, d) => {
      val e = corpus(s, d)
      val bucketed = e.join(ivfAssigned(s, d), "vec_id")
      val probes = bucketed
        .filter(col("vec_id") >= 10 && col("vec_id") < 20)
        .select(col("vec_id").as("probe_id"), col("q").as("pq"),
          col("nn").as("pn"), col("bucket"))
      val scored = bucketed.join(broadcast(probes), "bucket")
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id").as("cand_id"),
          cosQ(dotQ(col("pq"), col("q")), col("pn"), col("nn")).as("cos"))
      val w = Window.partitionBy("probe_id")
        .orderBy(col("cos").desc, col("cand_id").asc)
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .withColumn("rn", col("rn").cast("long"))
        .orderBy("probe_id", "rn")
    }),

    // --- ANN recall evaluation: recall@10 of the IVF (nprobe=1) path
    // against the exact brute-force ground truth, per probe — the
    // index-quality readout every ANN deployment measures before
    // trading exactness for speed, run as ONE query instead of two
    // exports and a notebook. Both sides reuse this module's exact
    // fixed-point scoring, so each ranking is bit-stable; the exact
    // side is one broadcast-probe corpus pass (the q_sim_topk shape),
    // the IVF side scores only each probe's cell (the q_sim_ivf
    // shape), and the overlap is a left join of two k·|probes|-row
    // relations — the eval costs a tiny join on top of the two
    // searches, never a third corpus pass. ---
    "q_ann_recall" -> ((s, d) => {
      val e = corpus(s, d)
      val bucketed = e.join(ivfAssigned(s, d), "vec_id")
      val probes = bucketed
        .filter(col("vec_id") >= 10 && col("vec_id") < 20)
        .select(col("vec_id").as("probe_id"), col("q").as("pq"),
          col("nn").as("pn"), col("bucket"))
      val w = Window.partitionBy("probe_id")
        .orderBy(col("cos").desc, col("cand_id").asc)
      def topk(scored: DataFrame): DataFrame =
        scored.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 10).select("probe_id", "cand_id")
      val exact = topk(e.crossJoin(broadcast(probes.drop("bucket")))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id").as("cand_id"),
          cosQ(dotQ(col("pq"), col("q")), col("pn"), col("nn"))
            .as("cos")))
      val ivf = topk(bucketed.join(broadcast(probes), "bucket")
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id").as("cand_id"),
          cosQ(dotQ(col("pq"), col("q")), col("pn"), col("nn"))
            .as("cos")))
      val nIvf = ivf.groupBy("probe_id").agg(count(lit(1)).as("n_ivf"))
      exact
        .join(ivf.withColumn("hit", lit(1L)),
          Seq("probe_id", "cand_id"), "left")
        .groupBy("probe_id")
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("hit"), lit(0L))).as("n_common"))
        .join(nIvf, "probe_id")
        .select(col("probe_id"), col("n_exact"), col("n_ivf"),
          col("n_common"),
          (col("n_common").cast("double") / 10.0).as("recall_at_10"))
        .orderBy("probe_id")
    }),

    // --- late-interaction MaxSim retrieval (round 10): the ColBERT
    // scoring shape — each vector splits into 4 sub-vectors ("token"
    // embeddings); score(q, d) = Σ_i max_j cos(q_i, d_j), which
    // rewards documents matching EVERY aspect of the query where
    // single-vector cosine lets one strong direction dominate. The
    // sub-vector relation explodes map-side (4 rows per vector); one
    // broadcast-probe pass scores all 16 sub-pairs per (probe, cand);
    // the per-aspect maxes land as 4 COLUMNS of one aggregate (max is
    // order-independent) and the 4-term sum is a FIXED left-assoc
    // expression tree — never a double SUM across rows, so the score
    // is bit-stable under any partitioning (the Det discipline).
    // Top-5 per probe rides a WindowGroupLimit-bounded rank. ---
    "q_maxsim_late" -> ((s, d) => {
      val e = table(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").as("q"))
      def subs(v: Column): Column =
        array((0 until 4).map(i => slice(v, i * 16 + 1, 16)): _*)
      val parts = e
        .select(col("vec_id"), posexplode(subs(col("q"))).as(Seq("sub", "sv")))
        .select(col("vec_id"), col("sub").cast("long").as("sub"),
          col("sv"), dotQ(col("sv"), col("sv")).as("sn"))
      val probes = parts.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("sub").as("psub"),
          col("sv").as("pv"), col("sn").as("pn"))
      val wr = Window.partitionBy("probe_id")
        .orderBy(col("maxsim").desc, col("cand_id").asc)
      parts.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id").as("cand_id"),
          col("psub"),
          cosQ(dotQ(col("pv"), col("sv")), col("pn"), col("sn")).as("c"))
        .groupBy("probe_id", "cand_id")
        .agg(max(when(col("psub") === 0, col("c"))).as("m0"),
          max(when(col("psub") === 1, col("c"))).as("m1"),
          max(when(col("psub") === 2, col("c"))).as("m2"),
          max(when(col("psub") === 3, col("c"))).as("m3"))
        .select(col("probe_id"), col("cand_id"),
          (col("m0") + col("m1") + col("m2") + col("m3")).as("maxsim"))
        .withColumn("rn", row_number().over(wr))
        .filter(col("rn") <= 5)
        .withColumn("rn", col("rn").cast("long"))
        .orderBy("probe_id", "rn")
    }),

    // --- IVF nprobe recall curve (round 10): recall@10 at nprobe ∈
    // {1, 2, 4} — the q_lsh_curve discipline applied to the OTHER ANN
    // index (how much recall each extra probed cell buys, the knob an
    // IVF deployment turns before re-training centroids). Candidates
    // from the 4 closest cells are scored ONCE with their cell rank
    // attached; each config is a filter over that shared relation, so
    // the corpus is touched once for all three. Per-(config, probe)
    // top-10s ride WindowGroupLimit-bounded rank filters; the exact
    // top-10 baseline is the one broadcast-probe brute-force pass
    // every recall readout in this module shares. O(configs) out. ---
    "q_ivf_nprobe_curve" -> ((s, d) => {
      val e = corpus(s, d)
      val bucketed = e.join(ivfAssigned(s, d), "vec_id")
      val cents = e.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cent_id"), col("q").as("cq"),
          col("nn").as("cn"))
      val probes = e.filter(col("vec_id") >= 10 && col("vec_id") < 20)
        .select(col("vec_id").as("probe_id"), col("q").as("pq"),
          col("nn").as("pn"))
      val wpc = Window.partitionBy("probe_id")
        .orderBy(col("pcos").desc, col("cent_id").asc)
      val probeCells = probes.crossJoin(broadcast(cents))
        .select(col("probe_id"), col("pq"), col("pn"), col("cent_id"),
          cosQ(dotQ(col("pq"), col("cq")), col("pn"), col("cn"))
            .as("pcos"))
        .withColumn("crank", row_number().over(wpc))
        .filter(col("crank") <= 4)
        .select(col("probe_id"), col("pq"), col("pn"),
          col("cent_id").as("bucket"), col("crank").cast("long")
            .as("crank"))
      val scored = bucketed.join(broadcast(probeCells), "bucket")
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("crank"),
          col("vec_id").as("cand_id"),
          cosQ(dotQ(col("pq"), col("q")), col("pn"), col("nn")).as("cos"))
      val wr = Window.partitionBy("np", "probe_id")
        .orderBy(col("cos").desc, col("cand_id").asc)
      val approx = Seq(1L, 2L, 4L)
        .map(np => scored.filter(col("crank") <= np)
          .withColumn("np", lit(np)))
        .reduce(_ unionByName _)
        .withColumn("rn", row_number().over(wr))
        .filter(col("rn") <= 10)
        .select("np", "probe_id", "cand_id")
      val wx = Window.partitionBy("probe_id")
        .orderBy(col("cos").desc, col("cand_id").asc)
      val exact = e.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id").as("cand_id"),
          cosQ(dotQ(col("pq"), col("q")), col("pn"), col("nn")).as("cos"))
        .withColumn("rn", row_number().over(wx))
        .filter(col("rn") <= 10)
        .select("probe_id", "cand_id")
      val nExact = exact.agg(count(lit(1)).as("n_exact"))
      approx
        .join(exact.withColumn("hit", lit(1L)),
          Seq("probe_id", "cand_id"), "left")
        .groupBy("np")
        .agg(count(lit(1)).as("n_ivf"),
          sum(coalesce(col("hit"), lit(0L))).as("n_common"))
        .crossJoin(broadcast(nExact))
        .select(col("np").as("nprobe"), col("n_ivf"), col("n_common"),
          (col("n_common").cast("double") / col("n_exact"))
            .as("recall_at_10"))
        .orderBy("nprobe")
    }),

    // --- MMR diversified re-rank (round 10): greedy maximal-marginal-
    // relevance over the probe's top-20 — each pick maximizes
    // λ·rel − (1−λ)·max-sim-to-already-picked (λ=1/2, an exact IEEE
    // halving), the standard diversity re-rank between ANN retrieval
    // and an LLM context window (k near-identical passages waste k−1
    // slots). The candidate set is a bounded TakeOrdered 20; the
    // 20×20 sim matrix and all five greedy rounds are operations on
    // broadcast-sized relations (the q_kmeans_step bounded-rounds
    // discipline — the corpus is touched exactly once, for the
    // top-20). Scores are quantized-dot cosines, so every argmax is
    // bit-stable; ties break by cand_id. ---
    "q_mmr_diversify" -> ((s, d) => {
      val e = corpus(s, d)
      val probe = e.filter(col("vec_id") === 0)
        .select(col("q").as("pq"), col("nn").as("pn"))
      val cands = e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(probe))
        .select(col("vec_id").as("cand_id"), col("q"), col("nn"),
          cosQ(dotQ(col("pq"), col("q")), col("pn"), col("nn")).as("rel"))
        .orderBy(col("rel").desc, col("cand_id")).limit(20)
        .localCheckpoint()
      val a = cands.select(col("cand_id").as("a_id"), col("q").as("aq"),
        col("nn").as("an"))
      val b = cands.select(col("cand_id").as("b_id"), col("q").as("bq"),
        col("nn").as("bn"))
      val sims = a.crossJoin(b).filter(col("a_id") =!= col("b_id"))
        .select(col("a_id"), col("b_id"),
          cosQ(dotQ(col("aq"), col("bq")), col("an"), col("bn"))
            .as("sim"))
        .localCheckpoint()
      val rels = cands.select("cand_id", "rel")
      var picked = rels.orderBy(col("rel").desc, col("cand_id")).limit(1)
        .select(lit(1L).as("pick_rank"), col("cand_id"), col("rel"),
          col("rel").as("mmr"))
      for (k <- 2 to 5) {
        val pickedIds = picked.select(col("cand_id").as("b_id"))
        val ms = sims.join(broadcast(pickedIds), "b_id")
          .groupBy("a_id").agg(max("sim").as("ms"))
          .withColumnRenamed("a_id", "cand_id")
        val next = rels
          .join(picked.select("cand_id"), Seq("cand_id"), "left_anti")
          .join(ms, "cand_id")
          .select(col("cand_id"), col("rel"),
            (col("rel") * 0.5 - col("ms") * 0.5).as("mmr"))
          .orderBy(col("mmr").desc, col("cand_id")).limit(1)
          .select(lit(k.toLong).as("pick_rank"), col("cand_id"),
            col("rel"), col("mmr"))
        picked = picked.unionByName(next).localCheckpoint()
      }
      picked.orderBy("pick_rank")
    }),

    // --- SemDedup (round 5): semantic near-dup candidates — vectors
    // are IVF-assigned to their nearest seed centroid (the identical
    // partition the ANN path uses), then ONLY within-bucket pairs are
    // scored and the 5 most-similar pairs per bucket survive (keeper =
    // smaller vec_id, the dedup decision). The bucket equi-join
    // replaces the corpus cross join — the SemDedup bargain: semantic
    // duplicates land in the same centroid cell with high probability,
    // so pairwise work is sum(|cell|^2), not |corpus|^2, and each cell
    // scores independently in its own task. ---
    "q_dedup_semantic" -> ((s, d) => {
      val e = corpus(s, d)
      val bucketed = e.join(ivfAssigned(s, d), "vec_id")
      val a = bucketed.select(col("bucket"), col("vec_id").as("keeper_id"),
        col("q").as("aq"), col("nn").as("an"))
      val b = bucketed.select(col("bucket"), col("vec_id").as("dup_id"),
        col("q").as("bq"), col("nn").as("bn"))
      val scored = a.join(b, "bucket")
        .filter(col("keeper_id") < col("dup_id"))
        .select(col("bucket"), col("keeper_id"), col("dup_id"),
          cosQ(dotQ(col("aq"), col("bq")), col("an"), col("bn")).as("cos"))
      val w = Window.partitionBy("bucket")
        .orderBy(col("cos").desc, col("keeper_id"), col("dup_id"))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .withColumn("rn", col("rn").cast("long"))
        .orderBy("bucket", "rn")
    }),

    // --- LSH-bucketed ANN (scale path; approximate, self-checked).
    // Candidate generation mirrors q_dedup_minhash's banding: the
    // (table, bucket) equi-join moves only 24-byte rows, pairs
    // colliding in several tables are distinct()'d BEFORE vectors are
    // fetched, and only then does the (small) candidate set score
    // against the corpus. ---
    // --- one k-means (Lloyd) refinement step (round 5): re-estimate
    // every centroid as the mean of its assigned vectors — the training
    // loop behind the IVF / SemDedup partitions, run to convergence by
    // iterating this exact plan. Vectors explode to (bucket, dim,
    // quantized value) AFTER assignment, so the only shuffle is the
    // (bucket, dim) aggregate — 16 x 64 cells — with map-side partial
    // sums; the mean divides an exact int64 sum once per cell. ---
    "q_kmeans_step" -> ((s, d) => {
      val members = corpus(s, d).join(ivfAssigned(s, d), "vec_id")
      members
        .select(col("bucket"), posexplode(fixedPoint(col("q")))
          .as(Seq("i0", "v")))
        .select(col("bucket"), (col("i0") + 1).cast("long").as("i"),
          col("v"))
        .groupBy("bucket", "i")
        .agg(count(lit(1)).as("n_members"),
          ((sum(col("v")).cast("double") / count(lit(1))) / 1048576.0)
            .as("centroid"))
        .orderBy("bucket", "i")
    }),

    // --- multi-probe IVF ANN (round 6): each probe searches its TWO
    // nearest centroid buckets (nprobe = 2) — the standard IVF recall
    // knob: quantization error puts a probe's true neighbors in an
    // adjacent cell with nontrivial probability, and probing n cells
    // trades n x candidate volume for recall without touching the
    // (write-once) corpus partition. The probe-side top-2 centroids run
    // through the native bounded-heap TopKPerKey operator (no window
    // sort); candidates still join bucket-equi against the SAME
    // nprobe=1 corpus assignment q_sim_ivf uses. ---
    "q_sim_ivf2" -> ((s, d) => {
      val e = corpus(s, d)
      val bucketed = e.join(ivfAssigned(s, d), "vec_id")
      val cents = e.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cent_id"), col("q").as("cq"),
          col("nn").as("cn"))
      val probeScored = e.filter(col("vec_id") >= 10 && col("vec_id") < 20)
        .select(col("vec_id").as("probe_id"), col("q").as("pq"),
          col("nn").as("pn"))
        .crossJoin(broadcast(cents))
        .select(col("probe_id"), col("pq"), col("pn"), col("cent_id"),
          cosQ(dotQ(col("pq"), col("cq")), col("pn"), col("cn")).as("ccos"))
      val probeBuckets = graft.plans.TopKPerKey.topKPerKey(probeScored,
          keys = Seq(col("probe_id")),
          order = Seq(col("ccos").desc, col("cent_id").asc), k = 2)
        .select(col("probe_id"), col("pq"), col("pn"),
          col("cent_id").as("bucket"))
      val scored = bucketed.join(broadcast(probeBuckets), "bucket")
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id").as("cand_id"),
          cosQ(dotQ(col("pq"), col("q")), col("pn"), col("nn")).as("cos"))
      val w = Window.partitionBy("probe_id")
        .orderBy(col("cos").desc, col("cand_id").asc)
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .withColumn("rn", col("rn").cast("long"))
        .orderBy("probe_id", "rn")
    }),

    // --- two-stage retrieval: int8 coarse scan -> exact rerank (round
    // 6). The production ANN serving shape: stage 1 scores the WHOLE
    // corpus with the cheap representation (q_embed_quantize's int8
    // codes — at fleet scale read from the 8x-smaller codes table and
    // SIMD-friendly; exact int64 arithmetic either way) and keeps
    // top-100 via TakeOrdered (per-partition heaps, never a global
    // sort); stage 2 re-scores ONLY the 100 survivors with the full
    // fixed-point cosine. Corpus cost is the int8 pass; the exact math
    // runs on a driver-scale remainder. Both stage cuts are
    // total-ordered exact-int/IEEE comparisons, so the pipeline is
    // deterministic end-to-end and carries a full oracle — the
    // quantization loss is visible as the (score_q8, cos) rank
    // disagreement in the output. ---
    "q_rank_rerank" -> ((s, d) => {
      val q8col = let(fixedPoint(col("embedding"))) { vv =>
        let(array_max(transform(vv, a => abs(a)))) { ma =>
          q8Of(vv, ma)
        }
      }
      val e = table(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"), q8col.as("q8"))
      val probe = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("pe"), col("q8").as("p8"))
      val coarse = e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(probe))
        .select(col("vec_id").as("cand_id"), col("embedding"), col("pe"),
          aggregate(zip_with(col("q8"), col("p8"), (x, y) => x * y),
            lit(0L), _ + _).as("score_q8"))
        .orderBy(col("score_q8").desc, col("cand_id")).limit(100)
      val reranked = coarse
        .select(col("cand_id"), col("score_q8"),
          (dotQ(col("embedding"), col("pe")).cast("double") /
            (sqrt(dotQ(col("embedding"), col("embedding")).cast("double")) *
              sqrt(dotQ(col("pe"), col("pe")).cast("double")))).as("cos"))
        .orderBy(col("cos").desc, col("cand_id")).limit(10)
      val w2 = Window.orderBy(col("cos").desc, col("cand_id"))
      reranked.withColumn("rn", row_number().over(w2).cast("long"))
        .orderBy("rn")
    }),

    // --- int8 embedding quantization (round 6): symmetric per-vector
    // scale (maxabs/127) — the storage/bandwidth knob every vector
    // index applies before ANN at scale (4x smaller than f32, dot
    // products stay int arithmetic). Entirely exact integer math on the
    // 2^20 fixed-point elements: q8_i = floor(v_i * 127 / maxabs) (the
    // product < 2^27 is double-exact, one IEEE division, floor), and
    // the reported reconstruction error is an EXACT int64 sum of
    // squared fixed-point residuals (v_i*127 - q8_i*maxabs, bounded by
    // 2^27 -> squares sum < 2^60 over 64 dims) divided once at the end
    // — order-independent, so bit-identical across engines and partial
    // aggregation. Map-side only: no shuffle at any corpus size. ---
    "q_embed_quantize" -> ((s, d) => {
      // let-bound: v/maxabs/q8 are each referenced several times and
      // CollapseProject would otherwise re-evaluate the whole transform
      // chain per reference (see Det.let)
      val out = let(fixedPoint(col("embedding"))) { vv =>
        let(array_max(transform(vv, a => abs(a)))) { ma =>
          let(q8Of(vv, ma)) { q8 =>
            struct(
              ma.as("maxabs"),
              array_join(transform(q8, _.cast("string")), ",").as("q8"),
              aggregate(
                zip_with(vv, q8, (a, b) => a * 127 - b * ma),
                lit(0L), (acc, e) => acc + e * e).as("sq_err_fp"))
          }
        }
      }
      table(s, d, "embeddings")
        .select(col("vec_id"), out.as("o"))
        .select(col("vec_id"), col("o.maxabs").as("maxabs"),
          col("o.q8").as("q8"),
          // denominator = (127 * 2^20)^2 = 16129 * 2^40: 14 significand
          // bits, so the int64 -> double conversion is exact
          (col("o.sq_err_fp").cast("double") /
            lit(17734023044399104L).cast("double")).as("sq_err"))
        .orderBy("vec_id")
    }),

    // --- signed-random-projection (SRP) 16-bit signatures: the
    // EMBEDDING-space sibling of q_dedup_simhash — each bit is the
    // sign of the vector's dot product with a ±1 hyperplane, so
    // Hamming distance between signatures estimates angular distance
    // (the Charikar LSH family q_sim_lsh buckets with). Fully
    // PORTABLE: dots run over the shared int8 codes (q8Of — the
    // q_embed_quantize discipline) against a deterministic md5-derived
    // sign matrix inlined as literals into BOTH plans, every dot an
    // exact int64 fold. The 16 bounded HOF dots are fine at this
    // width; the fleet-scale path is a native codegen'd expression
    // (the SimHash64 precedent in functions/). ---
    "q_embed_srp" -> ((s, d) => {
      table(s, d, "embeddings")
        .select(col("vec_id"), col("label"), srpSigExpr.as("srp_sig"))
        .orderBy("vec_id")
    }),

    // --- SRP near-neighbor pairs (Hamming <= 2 on the 16-bit
    // signatures): q_embed_srp's signatures put to work as an actual
    // ANGULAR near-dup join. Blocking is the 4-band pigeonhole
    // (q_dedup_phash's discipline): <= 2 differing bits leave >= 2 of
    // the 4 nibble bands untouched, so band-equality candidates have
    // FULL recall — ONE shuffle on (band, nibble) keys, distinct
    // pairs, then the exact bit_count verify. At fleet width the
    // signature grows to 64 bits / 8 bands (the SimHash64 path); the
    // join shape is unchanged. ---
    "q_srp_pairs" -> ((s, d) => {
      val sigs = table(s, d, "embeddings")
        .select(col("vec_id"), col("label"), srpSigExpr.as("sig"))
        // kept: 0.35 -> 0.68 s without, or with a shared repartition
        .localCheckpoint()
      val banded = sigs.select(col("vec_id"), col("sig"),
          explode(array((0 until 4).map(b =>
            struct(lit(b).as("band"),
              shiftright(col("sig"), 4 * b).bitwiseAND(lit(15L))
                .as("nib"))): _*)).as("bk"))
        .select(col("vec_id"), col("sig"), col("bk.band"), col("bk.nib"))
      val cand = banded.as("x")
        .join(banded.as("y"),
          col("x.band") === col("y.band") && col("x.nib") === col("y.nib")
            && col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"),
          col("x.sig").as("sa"), col("y.sig").as("sb"))
        .distinct()
      val la = sigs.select(col("vec_id").as("a_id"),
        col("label").as("label_a"))
      val lb = sigs.select(col("vec_id").as("b_id"),
        col("label").as("label_b"))
      cand
        .withColumn("hamming",
          bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long"))
        .filter(col("hamming") <= 2)
        .join(la, "a_id").join(lb, "b_id")
        .select(col("a_id"), col("b_id"), col("hamming"),
          (col("label_a") === col("label_b")).as("same_label"))
        .orderBy("a_id", "b_id")
    }),

    "q_sim_lsh" -> ((s, d) => {
      val e = corpus(s, d)
      // raw read, not Tables.table: the count comes straight from
      // parquet row-group metadata (table() repartitions, which would
      // turn this into a full shuffle just to count); cached per dir
      val k = lshPlanes(corpusRows(s, d))
      val buckets = e.select(col("vec_id"),
        posexplode(graft.functions.LshBuckets(col("q"), LshTables, k))
          .as(Seq("tbl", "bucket")))
      val probeBuckets = buckets.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("tbl"), col("bucket"))
      val cand = buckets.join(broadcast(probeBuckets), Seq("tbl", "bucket"))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id").as("cand_id"))
        .distinct()
      // score by STREAMING the corpus against the broadcast (candidate
      // pair x probe vector) set — the corpus vectors never shuffle.
      // Adaptive k bounds the candidate set (~bucket occupancy x L x
      // probes), which is what makes the broadcast safe; a fleet-scale
      // probe set in the millions would flip this to a shuffle join on
      // cand_id instead.
      val probeVecs = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("q").as("pq"),
          col("nn").as("pn"))
      val scored = e
        .select(col("vec_id").as("cand_id"), col("q").as("cq"),
          col("nn").as("cn"))
        .join(broadcast(cand.join(probeVecs, "probe_id")), "cand_id")
        .select(col("probe_id"), col("cand_id"),
          cosQ(dotQ(col("pq"), col("cq")), col("pn"), col("cn")).as("cos"))
      val w = Window.partitionBy("probe_id")
        .orderBy(col("cos").desc, col("cand_id").asc)
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .withColumn("rn", col("rn").cast("long"))
        .orderBy("probe_id", "rn")
    })
  )

  private[operators] val qSql =
    "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT))"

  /** Shared CTE chain deriving the IVF assignment `asg(vid, bucket)` —
    * plus the quantized element relation `x(vec_id, i, v)` and squared
    * norms `n(vec_id, nn)` — the DuckDB twin of [[ivfAssigned]].
    */
  private[operators] val ivfAsgCte: String =
    s"""x AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
       |                unnest($qSql) AS v FROM embeddings),
       |n AS (SELECT vec_id, SUM(v * v) AS nn FROM x GROUP BY vec_id),
       |cd AS (SELECT a.vec_id AS vid, b.vec_id AS cid, SUM(a.v * b.v) AS d
       |       FROM x a JOIN x b ON a.i = b.i AND b.vec_id < 16
       |       GROUP BY 1, 2),
       |ac AS (SELECT vid, cid,
       |         CAST(d AS DOUBLE) /
       |           (sqrt(CAST(nv.nn AS DOUBLE)) * sqrt(CAST(nc.nn AS DOUBLE)))
       |           AS ccos
       |       FROM cd JOIN n nv ON nv.vec_id = vid
       |                JOIN n nc ON nc.vec_id = cid),
       |asg AS (SELECT vid, cid AS bucket FROM (
       |          SELECT vid, cid, row_number() OVER (PARTITION BY vid
       |                 ORDER BY ccos DESC, cid) AS arn FROM ac)
       |        WHERE arn = 1)""".stripMargin

  override def oracle: Map[String, String] = Map(
    // the greedy unrolls to five chained CTEs (p1..p5) — each pick's
    // argmax is the same double expression tree on the same quantized
    // cosines, so the SQL greedy and the DataFrame greedy can never
    // diverge
    "q_mmr_diversify" -> {
      val steps = (2 to 5).map { k =>
        s"""u${k - 1} AS (${(1 until k)
            .map(i => s"SELECT cand_id FROM p$i")
            .mkString(" UNION ALL ")}),
           |p$k AS (SELECT r.cand_id, r.rel,
           |    r.rel * 0.5 - ms.ms * 0.5 AS mmr
           |  FROM rel r JOIN (SELECT a_id, MAX(sim) AS ms FROM sim
           |    WHERE b_id IN (SELECT cand_id FROM u${k - 1})
           |    GROUP BY 1) ms ON ms.a_id = r.cand_id
           |  WHERE r.cand_id NOT IN (SELECT cand_id FROM u${k - 1})
           |  ORDER BY mmr DESC, r.cand_id LIMIT 1)""".stripMargin
      }.mkString(",\n")
      val unionAll = (1 to 5).map(k =>
        s"SELECT CAST($k AS BIGINT) AS pick_rank, cand_id, rel, mmr " +
          s"FROM p$k").mkString("\n  UNION ALL ")
      s"""WITH x AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         |                  unnest($qSql) AS v FROM embeddings),
         |n AS (SELECT vec_id, SUM(v * v) AS nn FROM x GROUP BY vec_id),
         |rd AS (SELECT c.vec_id AS cand_id, SUM(p.v * c.v) AS d
         |       FROM x p JOIN x c ON c.i = p.i AND c.vec_id <> 0
         |       WHERE p.vec_id = 0 GROUP BY 1),
         |rel AS (SELECT cand_id,
         |          CAST(d AS DOUBLE) / (sqrt(CAST(np.nn AS DOUBLE)) *
         |            sqrt(CAST(nc.nn AS DOUBLE))) AS rel
         |        FROM rd JOIN n np ON np.vec_id = 0
         |                JOIN n nc ON nc.vec_id = cand_id
         |        ORDER BY rel DESC, cand_id LIMIT 20),
         |sd AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |         SUM(a.v * b.v) AS d
         |       FROM x a JOIN x b ON b.i = a.i AND b.vec_id <> a.vec_id
         |       WHERE a.vec_id IN (SELECT cand_id FROM rel)
         |         AND b.vec_id IN (SELECT cand_id FROM rel)
         |       GROUP BY 1, 2),
         |sim AS (SELECT a_id, b_id,
         |          CAST(d AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) *
         |            sqrt(CAST(nb.nn AS DOUBLE))) AS sim
         |        FROM sd JOIN n na ON na.vec_id = a_id
         |                JOIN n nb ON nb.vec_id = b_id),
         |p1 AS (SELECT cand_id, rel, rel AS mmr FROM rel
         |       ORDER BY rel DESC, cand_id LIMIT 1),
         |$steps
         |SELECT * FROM (
         |  $unionAll)
         |ORDER BY pick_rank""".stripMargin
    },

    "q_maxsim_late" ->
      s"""WITH x AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         |                  unnest($qSql) AS v FROM embeddings),
         |sx AS (SELECT vec_id, CAST((i - 1) // 16 AS BIGINT) AS sub,
         |              (i - 1) % 16 AS j, v FROM x),
         |sn AS (SELECT vec_id, sub, SUM(v * v) AS nn
         |       FROM sx GROUP BY 1, 2),
         |dd AS (SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
         |         p.sub AS psub, c.sub AS csub, SUM(p.v * c.v) AS d
         |       FROM sx p JOIN sx c
         |         ON c.j = p.j AND c.vec_id <> p.vec_id
         |       WHERE p.vec_id < 10
         |       GROUP BY 1, 2, 3, 4),
         |cs AS (SELECT probe_id, cand_id, psub,
         |         CAST(d AS DOUBLE) / (sqrt(CAST(np.nn AS DOUBLE)) *
         |           sqrt(CAST(nc.nn AS DOUBLE))) AS c
         |       FROM dd JOIN sn np ON np.vec_id = probe_id
         |                  AND np.sub = psub
         |               JOIN sn nc ON nc.vec_id = cand_id
         |                  AND nc.sub = csub),
         |ms AS (SELECT probe_id, cand_id,
         |         MAX(CASE WHEN psub = 0 THEN c END) AS m0,
         |         MAX(CASE WHEN psub = 1 THEN c END) AS m1,
         |         MAX(CASE WHEN psub = 2 THEN c END) AS m2,
         |         MAX(CASE WHEN psub = 3 THEN c END) AS m3
         |       FROM cs GROUP BY 1, 2),
         |sc AS (SELECT probe_id, cand_id,
         |         m0 + m1 + m2 + m3 AS maxsim FROM ms),
         |rk AS (SELECT probe_id, cand_id, maxsim,
         |         CAST(row_number() OVER (PARTITION BY probe_id
         |           ORDER BY maxsim DESC, cand_id) AS BIGINT) AS rn
         |       FROM sc)
         |SELECT probe_id, cand_id, maxsim, rn
         |FROM rk WHERE rn <= 5
         |ORDER BY probe_id, rn""".stripMargin,

    // candidate scores reuse the exact brute-force relation exs (a
    // candidate's cos equals its brute-force cos); only the candidate
    // SETS differ per nprobe
    "q_ivf_nprobe_curve" ->
      s"""WITH $ivfAsgCte,
         |exd AS (SELECT xp.vec_id AS probe_id, xq.vec_id AS cand_id,
         |          SUM(xp.v * xq.v) AS d
         |        FROM x xp JOIN x xq
         |          ON xq.i = xp.i AND xq.vec_id <> xp.vec_id
         |        WHERE xp.vec_id >= 10 AND xp.vec_id < 20
         |        GROUP BY 1, 2),
         |exs AS (SELECT probe_id, cand_id,
         |          CAST(d AS DOUBLE) / (sqrt(CAST(np.nn AS DOUBLE)) *
         |            sqrt(CAST(nc2.nn AS DOUBLE))) AS cos
         |        FROM exd JOIN n np ON np.vec_id = probe_id
         |                 JOIN n nc2 ON nc2.vec_id = cand_id),
         |exr AS (SELECT probe_id, cand_id FROM (
         |          SELECT probe_id, cand_id,
         |            row_number() OVER (PARTITION BY probe_id
         |              ORDER BY cos DESC, cand_id) AS rn
         |          FROM exs) WHERE rn <= 10),
         |pc AS (SELECT vid AS probe_id, cid AS bucket,
         |         row_number() OVER (PARTITION BY vid
         |           ORDER BY ccos DESC, cid) AS crank
         |       FROM ac WHERE vid >= 10 AND vid < 20),
         |cfg AS (SELECT np FROM (VALUES (1), (2), (4)) t(np)),
         |cand AS (SELECT cfg.np, p.probe_id, s.vid AS cand_id
         |         FROM pc p JOIN asg s ON s.bucket = p.bucket
         |         CROSS JOIN cfg
         |         WHERE p.crank <= cfg.np AND s.vid <> p.probe_id),
         |apr AS (SELECT np, probe_id, cand_id FROM (
         |          SELECT c.np, c.probe_id, c.cand_id,
         |            row_number() OVER (PARTITION BY c.np, c.probe_id
         |              ORDER BY e.cos DESC, c.cand_id) AS rn
         |          FROM cand c JOIN exs e
         |            ON e.probe_id = c.probe_id
         |              AND e.cand_id = c.cand_id)
         |        WHERE rn <= 10),
         |ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM exr)
         |SELECT CAST(np AS BIGINT) AS nprobe,
         |  CAST(COUNT(*) AS BIGINT) AS n_ivf,
         |  CAST(SUM(CASE WHEN x2.cand_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_common,
         |  CAST(SUM(CASE WHEN x2.cand_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS DOUBLE) / (SELECT n_exact FROM ne) AS recall_at_10
         |FROM apr a LEFT JOIN exr x2
         |  ON x2.probe_id = a.probe_id AND x2.cand_id = a.cand_id
         |GROUP BY np ORDER BY nprobe""".stripMargin,

    "q_ann_recall" ->
      s"""WITH $ivfAsgCte,
         |exd AS (SELECT xp.vec_id AS probe_id, xq.vec_id AS cand_id,
         |          SUM(xp.v * xq.v) AS d
         |        FROM x xp JOIN x xq
         |          ON xq.i = xp.i AND xq.vec_id <> xp.vec_id
         |        WHERE xp.vec_id >= 10 AND xp.vec_id < 20
         |        GROUP BY 1, 2),
         |exs AS (SELECT probe_id, cand_id,
         |          CAST(d AS DOUBLE) / (sqrt(CAST(np.nn AS DOUBLE)) *
         |            sqrt(CAST(nc2.nn AS DOUBLE))) AS cos
         |        FROM exd JOIN n np ON np.vec_id = probe_id
         |                 JOIN n nc2 ON nc2.vec_id = cand_id),
         |exr AS (SELECT probe_id, cand_id FROM (
         |          SELECT probe_id, cand_id,
         |            row_number() OVER (PARTITION BY probe_id
         |              ORDER BY cos DESC, cand_id) AS rn
         |          FROM exs) WHERE rn <= 10),
         |pr AS (SELECT vid AS probe_id, bucket FROM asg
         |       WHERE vid >= 10 AND vid < 20),
         |cand AS (SELECT p.probe_id, s.vid AS cand_id
         |         FROM pr p JOIN asg s ON s.bucket = p.bucket
         |         WHERE s.vid <> p.probe_id),
         |ivd AS (SELECT c.probe_id, c.cand_id, SUM(xp.v * xq.v) AS d
         |        FROM cand c
         |        JOIN x xp ON xp.vec_id = c.probe_id
         |        JOIN x xq ON xq.vec_id = c.cand_id AND xq.i = xp.i
         |        GROUP BY 1, 2),
         |ivs AS (SELECT probe_id, cand_id,
         |          CAST(d AS DOUBLE) / (sqrt(CAST(np.nn AS DOUBLE)) *
         |            sqrt(CAST(nc2.nn AS DOUBLE))) AS cos
         |        FROM ivd JOIN n np ON np.vec_id = probe_id
         |                 JOIN n nc2 ON nc2.vec_id = cand_id),
         |ivr AS (SELECT probe_id, cand_id FROM (
         |          SELECT probe_id, cand_id,
         |            row_number() OVER (PARTITION BY probe_id
         |              ORDER BY cos DESC, cand_id) AS rn
         |          FROM ivs) WHERE rn <= 10),
         |nv AS (SELECT probe_id, CAST(COUNT(*) AS BIGINT) AS n_ivf
         |       FROM ivr GROUP BY 1),
         |j AS (SELECT e.probe_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
         |        CAST(SUM(CASE WHEN i.cand_id IS NOT NULL
         |          THEN 1 ELSE 0 END) AS BIGINT) AS n_common
         |      FROM exr e LEFT JOIN ivr i
         |        ON i.probe_id = e.probe_id AND i.cand_id = e.cand_id
         |      GROUP BY 1)
         |SELECT j.probe_id AS probe_id, n_exact, n_ivf, n_common,
         |  CAST(n_common AS DOUBLE) / 10.0 AS recall_at_10
         |FROM j JOIN nv ON nv.probe_id = j.probe_id
         |ORDER BY probe_id""".stripMargin,

    "q_mrl_recall" -> {
      val qFx = "list_transform(embedding, e -> " +
        "CAST(floor(CAST(e AS DOUBLE) * 1048576.0) AS BIGINT))"
      s"""WITH x AS MATERIALIZED (SELECT vec_id,
         |    generate_subscripts(q, 1) AS i, unnest(q) AS v
         |  FROM (SELECT vec_id, $qFx AS q FROM embeddings) t),
         |dims AS (SELECT unnest([8, 16, 32, 64]) AS dim),
         |nrm AS MATERIALIZED (SELECT d.dim, x.vec_id,
         |    CAST(SUM(x.v * x.v) AS BIGINT) AS nn
         |  FROM x JOIN dims d ON x.i <= d.dim GROUP BY 1, 2),
         |dot AS MATERIALIZED (SELECT d.dim, xp.vec_id AS probe_id,
         |    xq.vec_id AS cand_id, CAST(SUM(xp.v * xq.v) AS BIGINT)
         |      AS dt
         |  FROM x xp JOIN x xq
         |    ON xq.i = xp.i AND xq.vec_id <> xp.vec_id
         |  JOIN dims d ON xp.i <= d.dim
         |  WHERE xp.vec_id >= 10 AND xp.vec_id < 20
         |  GROUP BY 1, 2, 3),
         |cs AS (SELECT dot.dim, probe_id, cand_id,
         |    CASE WHEN np.nn > 0 AND nc.nn > 0 THEN
         |      CAST(dt AS DOUBLE) / (sqrt(CAST(np.nn AS DOUBLE)) *
         |        sqrt(CAST(nc.nn AS DOUBLE))) END AS cos
         |  FROM dot
         |  JOIN nrm np ON np.vec_id = dot.probe_id
         |    AND np.dim = dot.dim
         |  JOIN nrm nc ON nc.vec_id = dot.cand_id
         |    AND nc.dim = dot.dim),
         |t5 AS MATERIALIZED (SELECT dim, probe_id, cand_id FROM (
         |    SELECT dim, probe_id, cand_id,
         |      row_number() OVER (PARTITION BY dim, probe_id
         |        ORDER BY cos DESC, cand_id) AS rn
         |    FROM cs WHERE cos IS NOT NULL) z WHERE rn <= 5),
         |tr AS (SELECT probe_id, cand_id FROM t5 WHERE dim = 64)
         |SELECT CAST(t5.dim AS BIGINT) AS dim,
         |  CAST(COUNT(*) AS BIGINT) AS n_common,
         |  CAST(COUNT(*) AS DOUBLE) / 50.0 AS recall_at_5
         |FROM t5 JOIN tr USING (probe_id, cand_id)
         |GROUP BY t5.dim ORDER BY dim""".stripMargin
    },

    // the 8 power iterations unroll as MATERIALIZED CTE triples (the
    // q_bradley_terry device — default-inlined CTEs would expand
    // exponentially); sign-split magnitude floor division matches the
    // Spark driver loop's BigInt arithmetic exactly
    "q_pca_power" -> {
      val qFx = "list_transform(embedding, x -> " +
        "CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT))"
      // HUGEINT throughout the iterations: DuckDB's `//` on DECIMAL
      // operands silently promotes to DOUBLE (lossy at these
      // magnitudes) while HUGEINT `//` is exact integer floor division
      val iters = (0 until 8).map { k =>
        s"""w$k AS MATERIALIZED (SELECT m.i AS dim,
           |    CAST(SUM(m.g * v.v) AS HUGEINT) AS w
           |  FROM fm m JOIN v$k v ON v.dim = m.j GROUP BY 1),
           |mx$k AS MATERIALIZED (SELECT
           |    GREATEST(MAX(ABS(w)), CAST(1 AS HUGEINT)) AS mx
           |  FROM w$k),
           |v${k + 1} AS MATERIALIZED (SELECT dim,
           |    CAST(CASE WHEN w < 0
           |      THEN -(((-w) * 1000000) // mx)
           |      ELSE (w * 1000000) // mx END
           |      AS HUGEINT) AS v
           |  FROM w$k CROSS JOIN mx$k)""".stripMargin
      }.mkString(",\n")
      s"""WITH q AS MATERIALIZED (SELECT ROW_NUMBER() OVER () AS rid,
         |    $qFx AS q FROM embeddings),
         |ex AS MATERIALIZED (SELECT rid,
         |    generate_subscripts(q, 1) AS i, unnest(q) AS qi FROM q),
         |cells AS MATERIALIZED (SELECT a.i AS i, b.i AS j,
         |    CAST(SUM(CAST(a.qi AS DECIMAL(38,0)) * b.qi)
         |      AS DECIMAL(38,0)) AS g
         |  FROM ex a JOIN ex b ON a.rid = b.rid AND a.i <= b.i
         |  GROUP BY 1, 2),
         |fm AS MATERIALIZED (SELECT i, j, CAST(g AS HUGEINT) AS g
         |  FROM cells
         |  UNION ALL SELECT j, i, CAST(g AS HUGEINT) FROM cells
         |  WHERE i <> j),
         |v0 AS MATERIALIZED (SELECT DISTINCT i AS dim,
         |    CAST(1000000 AS HUGEINT) AS v FROM fm),
         |$iters,
         |num AS (SELECT CAST(SUM(va.v * m.g * vb.v) AS HUGEINT)
         |    AS num
         |  FROM fm m JOIN v8 va ON va.dim = m.i
         |    JOIN v8 vb ON vb.dim = m.j),
         |den AS (SELECT CAST(SUM(v * v) AS HUGEINT) AS den
         |  FROM v8)
         |SELECT CAST(dim AS BIGINT) AS dim,
         |  CAST(v AS DOUBLE) / 1000000 AS loading,
         |  CASE WHEN den > 0 THEN
         |    CAST(num AS DOUBLE) / CAST(den AS DOUBLE) END AS lambda
         |FROM v8 CROSS JOIN num CROSS JOIN den
         |ORDER BY dim""".stripMargin
    },

    "q_pq_assign" ->
      s"""WITH x AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         |                  unnest($qSql) AS v FROM embeddings),
         |sx AS (SELECT vec_id, CAST((i - 1) // 16 AS BIGINT) AS sub,
         |              (i - 1) % 16 AS j, v FROM x),
         |cd AS (SELECT a.vec_id, a.sub, b.vec_id AS cent_id,
         |         SUM((a.v - b.v) * (a.v - b.v)) AS dist
         |       FROM sx a JOIN sx b ON a.sub = b.sub AND a.j = b.j
         |         AND b.vec_id < 16
         |       GROUP BY 1, 2, 3),
         |mn AS (SELECT vec_id, sub, cent_id AS code, dist,
         |         row_number() OVER (PARTITION BY vec_id, sub
         |           ORDER BY dist, cent_id) AS rn
         |       FROM cd)
         |SELECT vec_id,
         |  MAX(CASE WHEN sub = 0 THEN code END) AS c0,
         |  MAX(CASE WHEN sub = 1 THEN code END) AS c1,
         |  MAX(CASE WHEN sub = 2 THEN code END) AS c2,
         |  MAX(CASE WHEN sub = 3 THEN code END) AS c3,
         |  CAST(SUM(dist) AS BIGINT) AS qerr
         |FROM mn WHERE rn = 1
         |GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    "q_kmeans_step" ->
      s"""WITH $ivfAsgCte,
         |m AS (SELECT asg.bucket, x.i, x.v
         |      FROM x JOIN asg ON asg.vid = x.vec_id)
         |SELECT bucket, CAST(i AS BIGINT) AS i, COUNT(*) AS n_members,
         |  (CAST(SUM(v) AS DOUBLE) / COUNT(*)) / 1048576.0 AS centroid
         |FROM m GROUP BY bucket, i ORDER BY bucket, i""".stripMargin,

    "q_dedup_semantic" ->
      s"""WITH $ivfAsgCte,
         |pr AS (SELECT a.bucket, a.vid AS keeper_id, b.vid AS dup_id
         |       FROM asg a JOIN asg b ON a.bucket = b.bucket
         |                             AND a.vid < b.vid),
         |pd AS (SELECT p.bucket, p.keeper_id, p.dup_id, SUM(xa.v * xb.v) AS d
         |       FROM pr p
         |       JOIN x xa ON xa.vec_id = p.keeper_id
         |       JOIN x xb ON xb.vec_id = p.dup_id AND xb.i = xa.i
         |       GROUP BY 1, 2, 3),
         |sc AS (SELECT bucket, keeper_id, dup_id,
         |         CAST(d AS DOUBLE) /
         |           (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE)))
         |           AS cos
         |       FROM pd JOIN n na ON na.vec_id = keeper_id
         |                JOIN n nb ON nb.vec_id = dup_id),
         |r AS (SELECT bucket, keeper_id, dup_id, cos,
         |        CAST(row_number() OVER (PARTITION BY bucket
         |             ORDER BY cos DESC, keeper_id, dup_id) AS BIGINT) AS rn
         |      FROM sc)
         |SELECT bucket, keeper_id, dup_id, cos, rn FROM r WHERE rn <= 5
         |ORDER BY bucket, rn""".stripMargin,

    "q_topic_balance" ->
      s"""WITH $srpSigCte,
         |tc AS (SELECT CAST(label AS BIGINT) AS label,
         |         srp_sig % 16 AS topic, COUNT(*) AS c
         |       FROM sg GROUP BY 1, 2),
         |tt2 AS (SELECT label, CAST(SUM(c) AS BIGINT) AS n,
         |          CAST(COUNT(*) AS BIGINT) AS n_topics,
         |          CAST(MAX(c) AS BIGINT) AS cmax
         |        FROM tc GROUP BY 1),
         |pz AS (SELECT tc.label, MAX(n) AS n, MAX(n_topics) AS n_topics,
         |         MAX(cmax) AS cmax,
         |         CAST(SUM(c * CAST(length(bin(n // c)) - 1 AS BIGINT))
         |           AS BIGINT) AS hb
         |       FROM tc JOIN tt2 ON tt2.label = tc.label
         |       GROUP BY 1)
         |SELECT label, n AS n_vecs, n_topics,
         |  CAST(hb // n AS BIGINT) AS h_band,
         |  CAST(cmax AS DOUBLE) / n AS dom_share
         |FROM pz ORDER BY label""".stripMargin,

    "q_semantic_contam" ->
      s"""WITH $ivfAsgCte,
         |bi AS (SELECT vid AS bench_id, bucket FROM asg
         |       WHERE vid % 97 = 0),
         |ci AS (SELECT vid AS cand_id, bucket FROM asg
         |       WHERE vid % 97 <> 0),
         |pd2 AS (SELECT b.bench_id, c.cand_id, SUM(xb.v * xc.v) AS d
         |        FROM bi b JOIN ci c USING (bucket)
         |        JOIN x xb ON xb.vec_id = b.bench_id
         |        JOIN x xc ON xc.vec_id = c.cand_id AND xc.i = xb.i
         |        GROUP BY 1, 2),
         |sc2 AS (SELECT bench_id, cand_id,
         |          CAST(d AS DOUBLE) /
         |            (sqrt(CAST(nb.nn AS DOUBLE))
         |              * sqrt(CAST(nc4.nn AS DOUBLE))) AS cos
         |        FROM pd2 JOIN n nb ON nb.vec_id = bench_id
         |                 JOIN n nc4 ON nc4.vec_id = cand_id),
         |ag2 AS (SELECT bench_id, COUNT(*) AS n_candidates,
         |          CAST(SUM(CASE WHEN cos >= 0.99 THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_flagged,
         |          MAX(cos) AS max_cos
         |        FROM sc2 GROUP BY bench_id),
         |wn2 AS (SELECT bench_id, cand_id AS nearest_id,
         |          row_number() OVER (PARTITION BY bench_id
         |            ORDER BY cos DESC, cand_id) AS rn
         |        FROM sc2)
         |SELECT ag2.bench_id, n_candidates, n_flagged, max_cos,
         |  nearest_id
         |FROM ag2 JOIN wn2 ON wn2.bench_id = ag2.bench_id
         |WHERE wn2.rn = 1
         |ORDER BY ag2.bench_id""".stripMargin,

    "q_sim_ivf" ->
      s"""WITH $ivfAsgCte,
         |pr AS (SELECT vid AS probe_id, bucket FROM asg
         |       WHERE vid >= 10 AND vid < 20),
         |cand AS (SELECT p.probe_id, s.vid AS cand_id
         |         FROM pr p JOIN asg s ON s.bucket = p.bucket
         |         WHERE s.vid <> p.probe_id),
         |pd AS (SELECT c.probe_id, c.cand_id, SUM(xp.v * xq.v) AS d
         |       FROM cand c
         |       JOIN x xp ON xp.vec_id = c.probe_id
         |       JOIN x xq ON xq.vec_id = c.cand_id AND xq.i = xp.i
         |       GROUP BY 1, 2),
         |sc AS (SELECT probe_id, cand_id,
         |         CAST(d AS DOUBLE) /
         |           (sqrt(CAST(np.nn AS DOUBLE)) * sqrt(CAST(nc2.nn AS DOUBLE)))
         |           AS cos
         |       FROM pd JOIN n np ON np.vec_id = probe_id
         |                JOIN n nc2 ON nc2.vec_id = cand_id),
         |r AS (SELECT probe_id, cand_id, cos,
         |        CAST(row_number() OVER (PARTITION BY probe_id
         |             ORDER BY cos DESC, cand_id) AS BIGINT) AS rn
         |      FROM sc)
         |SELECT probe_id, cand_id, cos, rn FROM r WHERE rn <= 3
         |ORDER BY probe_id, rn""".stripMargin,

    "q_sim_ivf2" ->
      s"""WITH $ivfAsgCte,
         |pb AS (SELECT probe_id, bucket FROM (
         |         SELECT vid AS probe_id, cid AS bucket,
         |                row_number() OVER (PARTITION BY vid
         |                  ORDER BY ccos DESC, cid) AS r
         |         FROM ac WHERE vid >= 10 AND vid < 20)
         |       WHERE r <= 2),
         |cand AS (SELECT p.probe_id, s.vid AS cand_id
         |         FROM pb p JOIN asg s ON s.bucket = p.bucket
         |         WHERE s.vid <> p.probe_id),
         |pd AS (SELECT c.probe_id, c.cand_id, SUM(xp.v * xq.v) AS d
         |       FROM cand c
         |       JOIN x xp ON xp.vec_id = c.probe_id
         |       JOIN x xq ON xq.vec_id = c.cand_id AND xq.i = xp.i
         |       GROUP BY 1, 2),
         |sc AS (SELECT probe_id, cand_id,
         |         CAST(d AS DOUBLE) /
         |           (sqrt(CAST(np.nn AS DOUBLE)) * sqrt(CAST(nc2.nn AS DOUBLE)))
         |           AS cos
         |       FROM pd JOIN n np ON np.vec_id = probe_id
         |                JOIN n nc2 ON nc2.vec_id = cand_id),
         |r AS (SELECT probe_id, cand_id, cos,
         |        CAST(row_number() OVER (PARTITION BY probe_id
         |             ORDER BY cos DESC, cand_id) AS BIGINT) AS rn
         |      FROM sc)
         |SELECT probe_id, cand_id, cos, rn FROM r WHERE rn <= 3
         |ORDER BY probe_id, rn""".stripMargin,

    // both stage cuts replayed exactly: int8 codes -> coarse top-100 ->
    // exact fixed-point cosine -> top-10
    "q_rank_rerank" ->
      s"""WITH v0 AS (SELECT vec_id, $qSql AS v FROM embeddings),
         |m AS (SELECT vec_id, v,
         |        list_max(list_transform(v, a -> abs(a))) AS maxabs
         |      FROM v0),
         |qq AS (SELECT vec_id,
         |         list_transform(v, a -> CASE WHEN maxabs > 0
         |           THEN CAST(floor(CAST(a * 127 AS DOUBLE)
         |                / CAST(maxabs AS DOUBLE)) AS BIGINT)
         |           ELSE CAST(0 AS BIGINT) END) AS q8
         |       FROM m),
         |p8 AS (SELECT q8 AS p FROM qq WHERE vec_id = 0),
         |co AS (SELECT qq.vec_id AS cand_id,
         |         CAST(list_sum(list_transform(range(1, len(q8) + 1),
         |           i -> q8[CAST(i AS INTEGER)] * p[CAST(i AS INTEGER)]))
         |           AS BIGINT) AS score_q8
         |       FROM qq CROSS JOIN p8 WHERE qq.vec_id <> 0),
         |top AS (SELECT cand_id, score_q8 FROM co
         |        ORDER BY score_q8 DESC, cand_id LIMIT 100),
         |x AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         |             unnest($qSql) AS v FROM embeddings),
         |n AS (SELECT vec_id, SUM(v * v) AS nn FROM x GROUP BY vec_id),
         |dotp AS (SELECT b.vec_id AS cand_id, SUM(a.v * b.v) AS dd
         |         FROM x a JOIN x b ON a.i = b.i
         |                          AND a.vec_id = 0 AND b.vec_id <> 0
         |         GROUP BY 1),
         |sc AS (SELECT t.cand_id, t.score_q8,
         |         CAST(dd AS DOUBLE) /
         |           (sqrt(CAST(pn.nn AS DOUBLE)) * sqrt(CAST(cn.nn AS DOUBLE)))
         |           AS cos
         |       FROM top t JOIN dotp USING (cand_id)
         |            JOIN n pn ON pn.vec_id = 0
         |            JOIN n cn ON cn.vec_id = t.cand_id),
         |r AS (SELECT cand_id, score_q8, cos FROM sc
         |      ORDER BY cos DESC, cand_id LIMIT 10)
         |SELECT cand_id, score_q8, cos,
         |  CAST(row_number() OVER (ORDER BY cos DESC, cand_id) AS BIGINT)
         |    AS rn
         |FROM r ORDER BY rn""".stripMargin,

    "q_embed_quantize" ->
      s"""WITH v0 AS (SELECT vec_id, $qSql AS v FROM embeddings),
         |m AS (SELECT vec_id, v,
         |        list_max(list_transform(v, a -> abs(a))) AS maxabs
         |      FROM v0),
         |qq AS (SELECT vec_id, v, maxabs,
         |         list_transform(v, a -> CASE WHEN maxabs > 0
         |           THEN CAST(floor(CAST(a * 127 AS DOUBLE)
         |                / CAST(maxabs AS DOUBLE)) AS BIGINT)
         |           ELSE CAST(0 AS BIGINT) END) AS q8
         |       FROM m)
         |SELECT vec_id, maxabs,
         |  array_to_string(q8, ',') AS q8,
         |  CAST(CAST(list_sum(list_transform(range(1, len(v) + 1),
         |    i -> (v[i] * 127 - q8[i] * maxabs)
         |       * (v[i] * 127 - q8[i] * maxabs))) AS BIGINT) AS DOUBLE)
         |    / CAST(17734023044399104 AS DOUBLE) AS sq_err
         |FROM qq ORDER BY vec_id""".stripMargin,

    "q_embed_srp" ->
      s"""WITH $srpSigCte
         |SELECT vec_id, label, srp_sig
         |FROM sg ORDER BY vec_id""".stripMargin,

    "q_srp_pairs" ->
      s"""WITH $srpSigCte
         |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |  CAST(bit_count(xor(a.srp_sig, b.srp_sig)) AS BIGINT)
         |    AS hamming,
         |  a.label = b.label AS same_label
         |FROM sg a JOIN sg b ON a.vec_id < b.vec_id
         |WHERE bit_count(xor(a.srp_sig, b.srp_sig)) <= 2
         |ORDER BY a_id, b_id""".stripMargin,

    "q_sim_topk" ->
      s"""WITH x AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         |                  unnest($qSql) AS v FROM embeddings),
         |n AS (SELECT vec_id, SUM(v * v) AS nn FROM x GROUP BY vec_id),
         |dot AS (SELECT a.vec_id AS probe_id, b.vec_id AS cand_id,
         |               SUM(a.v * b.v) AS d
         |        FROM x a JOIN x b ON a.i = b.i
         |        WHERE a.vec_id < 10 AND a.vec_id <> b.vec_id
         |        GROUP BY 1, 2),
         |sc AS (SELECT probe_id, cand_id,
         |         CAST(d AS DOUBLE) /
         |           (sqrt(CAST(pn.nn AS DOUBLE)) * sqrt(CAST(cn.nn AS DOUBLE)))
         |           AS cos
         |       FROM dot JOIN n pn ON pn.vec_id = probe_id
         |                JOIN n cn ON cn.vec_id = cand_id),
         |r AS (SELECT probe_id, cand_id, cos,
         |        CAST(row_number() OVER (PARTITION BY probe_id
         |             ORDER BY cos DESC, cand_id) AS BIGINT) AS rn
         |      FROM sc)
         |SELECT probe_id, cand_id, cos, rn FROM r WHERE rn <= 5
         |ORDER BY probe_id, rn""".stripMargin,

    // full signature twin (round-12 ask #3): rebuilds the md5-derived
    // integer hyperplane matrix, the exact int64 projections, the L=8
    // per-table bucket ids, the collision candidate set AND the exact
    // quantized cosine top-5 — the LshBuckets pipeline end to end.
    // Adaptive plane count k = max(4, floor(log2(max(1, n/64)))) is
    // computed in-SQL (length(bin(v))-1 is exact floor-log2, no FP).
    "q_sim_lsh" ->
      s"""WITH e AS (SELECT vec_id, $qSql AS q FROM embeddings),
         |x AS (SELECT vec_id, generate_subscripts(q, 1) AS i,
         |             unnest(q) AS v FROM e),
         |kk AS (SELECT GREATEST(4,
         |         length(bin(GREATEST(COUNT(*) // 64, 1))) - 1) AS k
         |       FROM e),
         |pl AS (SELECT ts.t, ps.p, ts.t * kk.k + ps.p AS pid
         |       FROM kk,
         |         (SELECT unnest(generate_series(0, 7)) AS t) ts,
         |         LATERAL (SELECT unnest(generate_series(0, kk.k - 1))
         |                  AS p) ps),
         |pc AS (SELECT pl.pid, pl.t, pl.p, di.i,
         |         CAST(${XxhSql.md5u(
               "'lsh|' || pl.pid || '|' || (di.i - 1)")} % 65536
         |           AS BIGINT) - 32768 AS c
         |       FROM pl, (SELECT DISTINCT i FROM x) di),
         |dt AS (SELECT x.vec_id, pc.t, pc.p, SUM(x.v * pc.c) AS dot
         |       FROM x JOIN pc ON pc.i = x.i GROUP BY 1, 2, 3),
         |bk AS (SELECT vec_id, t,
         |         SUM(CASE WHEN dot >= 0 THEN CAST(1 AS BIGINT) << p
         |             ELSE CAST(0 AS BIGINT) END) AS bucket
         |       FROM dt GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT pb.vec_id AS probe_id,
         |           b.vec_id AS cand_id
         |         FROM bk pb JOIN bk b
         |           ON b.t = pb.t AND b.bucket = pb.bucket
         |         WHERE pb.vec_id < 10 AND b.vec_id <> pb.vec_id),
         |n AS (SELECT vec_id, SUM(v * v) AS nn FROM x GROUP BY vec_id),
         |dd AS (SELECT cd.probe_id, cd.cand_id, SUM(a.v * b.v) AS d
         |       FROM cand cd JOIN x a ON a.vec_id = cd.probe_id
         |       JOIN x b ON b.vec_id = cd.cand_id AND b.i = a.i
         |       GROUP BY 1, 2),
         |sc AS (SELECT probe_id, cand_id,
         |         CAST(d AS DOUBLE) / (sqrt(CAST(pn.nn AS DOUBLE))
         |           * sqrt(CAST(cn.nn AS DOUBLE))) AS cos
         |       FROM dd JOIN n pn ON pn.vec_id = probe_id
         |                JOIN n cn ON cn.vec_id = cand_id),
         |r AS (SELECT probe_id, cand_id, cos,
         |        CAST(row_number() OVER (PARTITION BY probe_id
         |             ORDER BY cos DESC, cand_id) AS BIGINT) AS rn
         |      FROM sc)
         |SELECT probe_id, cand_id, cos, rn FROM r WHERE rn <= 5
         |ORDER BY probe_id, rn""".stripMargin,

    "q_ann_trunc" ->
      s"""WITH x AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         |                  unnest($qSql) AS v FROM embeddings),
         |n AS (SELECT vec_id, SUM(v * v) AS nn,
         |             SUM(CASE WHEN i <= 16 THEN v * v ELSE 0 END) AS tn
         |      FROM x GROUP BY vec_id),
         |dot AS (SELECT a.vec_id AS probe_id, b.vec_id AS cand_id,
         |               SUM(a.v * b.v) AS df,
         |               SUM(CASE WHEN a.i <= 16 THEN a.v * b.v ELSE 0 END)
         |                 AS dt
         |        FROM x a JOIN x b ON a.i = b.i
         |        WHERE a.vec_id < 10 AND a.vec_id <> b.vec_id
         |        GROUP BY 1, 2),
         |sc AS (SELECT probe_id, cand_id,
         |         CAST(df AS DOUBLE) /
         |           (sqrt(CAST(pn.nn AS DOUBLE)) * sqrt(CAST(cn.nn AS DOUBLE)))
         |           AS cf,
         |         CAST(dt AS DOUBLE) /
         |           (sqrt(CAST(pn.tn AS DOUBLE)) * sqrt(CAST(cn.tn AS DOUBLE)))
         |           AS ct
         |       FROM dot JOIN n pn ON pn.vec_id = probe_id
         |                JOIN n cn ON cn.vec_id = cand_id),
         |r AS (SELECT probe_id, cand_id,
         |        row_number() OVER (PARTITION BY probe_id
         |             ORDER BY cf DESC, cand_id) AS rf,
         |        row_number() OVER (PARTITION BY probe_id
         |             ORDER BY ct DESC, cand_id) AS rt
         |      FROM sc)
         |SELECT probe_id,
         |  CAST(SUM(CASE WHEN rf <= 5 AND rt <= 5 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_common,
         |  CAST(SUM(CASE WHEN rf <= 5 AND rt <= 5 THEN 1 ELSE 0 END)
         |    AS DOUBLE) / 5.0 AS recall_at_5
         |FROM r GROUP BY 1 ORDER BY probe_id""".stripMargin,

    "q_dedup_embedding" ->
      s"""WITH x AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         |                  unnest($qSql) AS v FROM embeddings),
         |n AS (SELECT vec_id, SUM(v * v) AS nn FROM x GROUP BY vec_id),
         |dot AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, SUM(a.v * b.v) AS d
         |        FROM x a JOIN x b ON a.i = b.i AND a.vec_id < b.vec_id
         |        GROUP BY 1, 2),
         |sc AS (SELECT a_id, b_id,
         |         CAST(d AS DOUBLE) /
         |           (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE)))
         |           AS cos
         |       FROM dot JOIN n na ON na.vec_id = a_id
         |                JOIN n nb ON nb.vec_id = b_id),
         |r AS (SELECT a_id, b_id, cos,
         |        CAST(row_number() OVER (ORDER BY cos DESC, a_id, b_id)
         |          AS BIGINT) AS rn
         |      FROM sc)
         |SELECT a_id, b_id, cos, rn FROM r WHERE rn <= 50
         |ORDER BY rn""".stripMargin
  )
}
