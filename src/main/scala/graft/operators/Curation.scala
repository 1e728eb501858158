package graft.operators

import graft.Det.{avgd, dec, lng, sumd, S}
import graft.QueryModule
import graft.Tables.table
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{AlnumSquash, NGramGenerator}

/** Corpus-curation operators for LLM training-data pipelines, round 3:
  * text normalization, PII redaction, URL extraction, Gopher-style
  * repetition scoring, deterministic train/val/test splitting, and
  * benchmark decontamination.
  *
  * The `documents` fixture is clean tokens only, so the redaction /
  * extraction queries synthesize their noisy input deterministically
  * from (doc_id, text) with the IDENTICAL expression on both engines —
  * the operators then run real regex machinery and the oracle checks
  * real outputs, instead of trivially passing on pattern-free text.
  *
  * Determinism: ratios are exact-int divisions (int casts to double are
  * exact, one IEEE division on both engines); the split assignment
  * hashes with md5 (byte-identical across engines), never an
  * engine-specific hash.
  */
object Curation extends QueryModule {

  private def toks: Column = split(col("text"), " ")

  /** Synthetic noisy text, reproducible on both engines. */
  private val rawPii: Column =
    concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com or call 555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
  private val rawPiiSql =
    "concat(text, ' contact user', CAST(doc_id AS VARCHAR), " +
      "'@example.com or call 555-', " +
      "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'))"

  private val rawUrlSql =
    "concat('see http://ex', CAST(doc_id % 7 AS VARCHAR), '.org/p/', " +
      "CAST(doc_id AS VARCHAR), ' plus https://w', " +
      "CAST(doc_id % 3 AS VARCHAR), '.net/x ', text)"

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- normalization: case-fold, strip non-alnum, collapse runs ---
    "q_text_normalize" -> ((s, d) => {
      val raw = concat(lit("  "), upper(col("text")), lit("  !! ["),
        col("doc_id").cast("string"), lit("] ??  "))
      val norm = trim(AlnumSquash(lower(raw)))
      table(s, d, "documents")
        .select(col("doc_id"), norm.as("norm"),
          length(norm).cast("long").as("n_chars_norm"))
        .orderBy("doc_id")
    }),

    // --- PII redaction: emails + phone-shaped tokens masked ---
    "q_pii_redact" -> ((s, d) =>
      table(s, d, "documents")
        .select(col("doc_id"),
          regexp_replace(
            regexp_replace(rawPii, "[a-z0-9.]+@[a-z0-9.]+", "<EMAIL>"),
            "[0-9]{3}-[0-9]{4}", "<PHONE>").as("redacted"),
          size(expr(
            "regexp_extract_all(" +
              "concat(text, ' contact user', CAST(doc_id AS STRING), " +
              "'@example.com or call 555-', " +
              "lpad(CAST(doc_id % 10000 AS STRING), 4, '0')), " +
              "'[a-z0-9.]+@[a-z0-9.]+|[0-9]{3}-[0-9]{4}', 0)"))
            .cast("long").as("n_pii"))
        .orderBy("doc_id")),

    // --- URL extraction: regex pull, explode, count per domain ---
    "q_url_extract" -> ((s, d) =>
      table(s, d, "documents")
        .select(explode(expr(
          "regexp_extract_all(" +
            "concat('see http://ex', CAST(doc_id % 7 AS STRING), '.org/p/', " +
            "CAST(doc_id AS STRING), ' plus https://w', " +
            "CAST(doc_id % 3 AS STRING), '.net/x ', text), " +
            "'https?://[a-z0-9./]+', 0)")).as("url"))
        .select(regexp_extract(col("url"), "^https?://([a-z0-9.]+)", 1)
          .as("domain"))
        .groupBy("domain")
        .agg(count(lit(1)).as("n_urls"))
        .orderBy("domain")),

    // --- Gopher-style repetition scoring: duplicate-2-gram fraction
    // (via the custom NGramGenerator — streamed, no intermediate gram
    // array) + most-common-token fraction ---
    "q_repetition" -> ((s, d) => {
      val docs = table(s, d, "documents").filter(size(toks) >= 2)
      val grams = docs
        .select(col("doc_id"), NGramGenerator(toks, 2).alias("gram"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_2grams"),
          countDistinct(col("gram")).as("d_2grams"))
      val topTok = docs
        .select(col("doc_id"), explode(toks).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(max(col("c")).as("top_c"), sum(col("c")).as("n_toks"))
      grams.join(topTok, "doc_id")
        .select(col("doc_id"), col("n_2grams"), col("d_2grams"),
          ((col("n_2grams") - col("d_2grams")).cast("double") /
            col("n_2grams").cast("double")).as("dup_2gram_frac"),
          (col("top_c").cast("double") / col("n_toks").cast("double"))
            .as("top_token_frac"))
        .withColumn("repetitive",
          col("dup_2gram_frac") >= 0.2 || col("top_token_frac") >= 0.3)
        .orderBy("doc_id")
    }),

    // --- deterministic train/val/test split: first md5 hex nibble of
    // the doc id — reproducible on any engine/cluster, no RNG state.
    // 12/16 train, 2/16 val, 2/16 test ---
    "q_train_split" -> ((s, d) => {
      val nib = substring(md5(col("doc_id").cast("string")), 1, 1)
      table(s, d, "documents")
        .select(col("doc_id"), nib.as("bucket"),
          when(nib <= "b", "train").when(nib <= "d", "val")
            .otherwise("test").as("split"))
        .orderBy("doc_id")
    }),

    // --- stratified sampling: per-language keep rates, hash-gated.
    // sampleBy/rand would be nondeterministic across runs, partitionings
    // and engines; gating on md5(salt || doc_id) gives exact
    // reproducibility (re-running the pipeline keeps the SAME docs — a
    // training-data requirement, or dataset versions drift) and needs no
    // RNG state on executors. First two hex chars ~ Uniform(0..255):
    // en keeps < 0x40 (25%), other languages < 0x80 (50%) — upsampling
    // low-resource languages, the canonical curation move. ---
    "q_sample_stratified" -> ((s, d) => {
      val gate = substring(
        md5(concat(lit("smp"), col("doc_id").cast("string"))), 1, 2)
      table(s, d, "documents")
        .select(col("doc_id"), col("lang"), gate.as("gate"))
        .filter(col("gate") <
          when(col("lang") === "en", lit("40")).otherwise(lit("80")))
        .orderBy("doc_id")
    }),

    // --- coordinated (consistent) sampling across tables: the debugging
    // sample a fleet actually needs is one where orders AND their line
    // items survive TOGETHER, or every join in the downsampled pipeline
    // silently loses rows. Gating both tables on md5 of the SHARED key
    // (the order key) gives referential consistency by construction with
    // ZERO coordination — each table applies its own map-side scan
    // filter, no sample manifest is built, shipped, or joined. The
    // verification join then runs on the ~6% survivors; matched counts
    // equaling each side's sampled counts IS the consistency proof the
    // report exposes. ---
    "q_sample_coordinated" -> ((s, d) => {
      def keep(k: Column): Column =
        substring(md5(concat(lit("coord"), k.cast("string"))), 1, 1) === "0"
      val so = table(s, d, "orders").filter(keep(col("o_orderkey")))
        .select(col("o_orderkey"), col("o_orderpriority"))
      val sl = table(s, d, "lineitem").filter(keep(col("l_orderkey")))
        .select(col("l_orderkey"), col("l_extendedprice"))
      so.join(sl, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority").as("priority"))
        .agg(countDistinct(col("o_orderkey")).as("n_orders"),
          count(lit(1)).as("n_items"),
          sumd(col("l_extendedprice")).as("revenue"))
        .orderBy("priority")
    }),

    // --- context-window packing: assign each document an offset-based
    // bin of a 512-token training context. The canonical "concatenate
    // then chop" packing: documents are laid out in a deterministic
    // order and the running token offset decides bin and position —
    // bin = floor(offset/512). Partitioned by language so the window
    // never needs a global single-partition sort (the fleet shape: pack
    // per shard/stratum, never globally; a global order would serialize
    // 100 TB through one task). ---
    "q_pack_sequences" -> ((s, d) => {
      val w = Window.partitionBy("lang").orderBy("doc_id")
      table(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          size(toks).cast("long").as("n_tok"))
        .withColumn("off", sum(col("n_tok")).over(w) - col("n_tok"))
        .select(col("doc_id"), col("lang"), col("n_tok"),
          floor(col("off") / lit(512.0)).as("bin_id"),
          (col("off") % 512).as("bin_offset"))
        .orderBy("doc_id")
    }),

    // --- probability-proportional-to-size sampling (round 9):
    // length-weighted deterministic sampling — a doc survives iff its
    // 32-bit md5 uniform is below n_chars · R, so selection
    // probability is proportional to document LENGTH (token-budget
    // sampling: long docs carry more training mass and deserve
    // proportionally more slots), with zero RNG state and exact
    // reproducibility. The compare is one int64 cross-multiplication
    // per row (u · C < n_chars · R · C-scaled — all exact); the
    // per-source acceptance report shows the realized size bias. ---
    "q_sample_pps" -> ((s, d) => {
      // target ~25% of the LENGTH MASS at the corpus's ~1000-char docs:
      // P(keep) = min(1, n_chars / 4000); u32 from the first 8 md5 hex
      val u32 = conv(substring(md5(concat(lit("pps"),
        col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")
      val kept = table(s, d, "documents")
        .withColumn("keep",
          u32 * 4000L < col("n_chars") * 4294967296L)
      kept.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("keep").cast("long")).as("n_kept"),
          sum("n_chars").as("chars_total"),
          sum(when(col("keep"), col("n_chars")).otherwise(0L))
            .as("chars_kept"))
        .select(col("source"), col("n_docs"), col("n_kept"),
          (col("n_kept").cast("double") / col("n_docs")).as("doc_rate"),
          (col("chars_kept").cast("double") / col("chars_total"))
            .as("mass_rate"))
        .orderBy("source")
    }),

    // --- systematic sampling with interpenetrating replicates (round
    // 16): the census-methods member the sampling block lacked —
    // every k-th frame unit (k = 7 on the doc_id grid, offsets 3 and
    // 5 giving two INDEPENDENT systematic replicates), with the
    // Mahalanobis interpenetrating-subsample device: the two
    // replicate means estimate the same total, and (m₁−m₂)²/4 is an
    // unbiased variance estimate for their average that survives the
    // periodicity trap plain systematic sampling hides (a frame
    // period aligned with k biases BOTH replicates equally — the
    // split means diverging is the alarm). Pure map-side modulo
    // filters, zero RNG state, exact int64 char sums; each mean is
    // one division. ---
    "q_sample_systematic" -> ((s, d) =>
      table(s, d, "documents")
        .select(col("source"), col("doc_id"), col("n_chars"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("chars_total"),
          sum(when(col("doc_id") % 7 === 3, 1L).otherwise(0L))
            .as("n_rep1"),
          sum(when(col("doc_id") % 7 === 3, col("n_chars"))
            .otherwise(0L)).as("chars_rep1"),
          sum(when(col("doc_id") % 7 === 5, 1L).otherwise(0L))
            .as("n_rep2"),
          sum(when(col("doc_id") % 7 === 5, col("n_chars"))
            .otherwise(0L)).as("chars_rep2"))
        .select(col("source"), col("n_docs"), col("n_rep1"),
          col("n_rep2"),
          (col("chars_total").cast("double") / col("n_docs"))
            .as("mean_all"),
          when(col("n_rep1") > 0,
            col("chars_rep1").cast("double") / col("n_rep1"))
            .as("mean_rep1"),
          when(col("n_rep2") > 0,
            col("chars_rep2").cast("double") / col("n_rep2"))
            .as("mean_rep2"),
          when(col("n_rep1") > 0 && col("n_rep2") > 0,
            (col("chars_rep1").cast("double") / col("n_rep1")
              - col("chars_rep2").cast("double") / col("n_rep2"))
              * (col("chars_rep1").cast("double") / col("n_rep1")
                - col("chars_rep2").cast("double") / col("n_rep2"))
              / 4.0).as("var_mean"))
        .orderBy("source")),

    // --- context-packing efficiency audit (round 9): per language, the
    // token cost of the two packing policies a training pipeline
    // chooses between — concat-then-chop (q_pack_sequences: only the
    // tail of the last 512-token bin is padding) vs one-doc-per-context
    // (pad short docs, truncate long ones — the naive loader). All
    // exact int64 off ONE length scan: bins = ceil(total/512),
    // padding = Σ(512 − min(len,512)), truncation = Σ max(len−512, 0).
    // The judge of why packing matters, as a query. ---
    "q_pack_efficiency" -> ((s, d) =>
      table(s, d, "documents")
        .select(col("lang"), size(toks).cast("long").as("n_tok"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tok").as("total_tok"),
          sum(lit(512L) - least(col("n_tok"), lit(512L)))
            .as("pad_single"),
          sum(greatest(col("n_tok") - 512L, lit(0L)))
            .as("trunc_single"))
        .select(col("lang"), col("n_docs"), col("total_tok"),
          expr("(total_tok + 511) div 512").as("bins_concat"),
          (col("total_tok").cast("double") /
            (expr("(total_tok + 511) div 512") * 512L))
            .as("util_concat"),
          col("pad_single"), col("trunc_single"),
          // tokens actually trained = Σ min(len, 512) — truncated mass
          // never reaches a context slot
          ((col("total_tok") - col("trunc_single")).cast("double") /
            (col("n_docs") * 512L)).as("util_single"))
        .orderBy("lang")),

    // --- length-sorted dynamic-batching padding waste (round 17):
    // the q_pack_efficiency sibling for PADDED batching — inference
    // and finetuning stacks sort by length and pad each batch to its
    // own max, and the provisioning question is how many pad tokens
    // that still burns per batch size. Computed EXACTLY from the
    // O(distinct lengths) histogram, never a corpus sort: a full
    // batch's max is the length bucket its END index lands in, so
    // Σ_batches max = Σ_buckets L·(cum div B − cumprev div B) over the
    // cumulative histogram (bounded grid window), the tail partial
    // batch pads to the global max, and waste = padded − real. The
    // worst_case column (no sorting: every batch pads to the global
    // max) is the comparison the sort is buying against. ---
    "q_batch_padding" -> ((s, d) => {
      val w = Window.orderBy("nt")
      val hist = table(s, d, "documents")
        .select(size(toks).cast("long").as("nt"))
        .groupBy("nt").agg(count(lit(1)).as("c"))
        .withColumn("cum", sum("c").over(w))
        .withColumn("cumprev",
          coalesce(lag(col("cum"), 1).over(w), lit(0L)))
      val tot = hist.agg(max("cum").as("n"),
        sum(col("nt") * col("c")).as("tt"), max("nt").as("lmax"))
      val perB = hist
        .select(col("nt"), col("cum"), col("cumprev"),
          explode(array(Seq(16L, 64L, 256L).map(lit): _*)).as("b"))
        .groupBy("b")
        .agg(sum(col("nt") *
          (expr("cum div b") - expr("cumprev div b"))).as("maxsum"))
      perB.crossJoin(broadcast(tot))
        .select(col("b").as("batch_size"), col("n").as("n_docs"),
          col("tt").as("real_tokens"),
          expr("(n + b - 1) div b").as("n_batches"),
          (col("maxsum") * col("b") + (col("n") % col("b"))
            * col("lmax")).as("padded_tokens"),
          (col("n") * col("lmax")).as("worst_case_tokens"))
        .withColumn("waste_share",
          (col("padded_tokens") - col("real_tokens")).cast("double")
            / col("padded_tokens"))
        .orderBy("batch_size")
    }),

    // --- overlapping chunking for embedding/indexing pipelines: 50-token
    // chunks on a 40-token stride (10-token overlap). One generator
    // (posexplode over the stride sequence) + array slice per row — no
    // join, no shuffle except the final order; chunk fan-out is bounded
    // by doc length / stride. The chunk hash stands in for the chunk
    // payload so the result stays narrow. ---
    "q_chunk_overlap" -> ((s, d) =>
      table(s, d, "documents")
        .select(col("doc_id"), toks.as("tk"))
        .select(col("doc_id"), col("tk"),
          posexplode(sequence(lit(1), greatest(size(col("tk")), lit(1)),
            lit(40))).as(Seq("idx", "start")))
        .select(col("doc_id"), col("idx").cast("long").as("chunk_idx"),
          slice(col("tk"), col("start"), lit(50)).as("chunk"))
        .select(col("doc_id"), col("chunk_idx"),
          size(col("chunk")).cast("long").as("chunk_len"),
          md5(concat_ws(" ", col("chunk"))).as("chunk_hash"))
        .orderBy("doc_id", "chunk_idx")),

    // --- line-level boilerplate dedup (round 5, the CCNet pass):
    // "lines" (disjoint 8-token segments — the fixture has no newlines)
    // recurring across >= 3 distinct documents are boilerplate
    // (headers, nav bars, license blurbs) and are struck from EVERY
    // document; each doc re-emits its kept-line count and a
    // fingerprint of the re-joined text. Scale shape: the df count is
    // one shuffle keyed on the line, the boilerplate set is tiny ->
    // broadcast anti join against the line stream, and reassembly
    // groups per doc via array_sort of (idx, line) structs — ordered
    // by construction, never an order-dependent collect. ---
    "q_dedup_lines" -> ((s, d) => {
      val lines = table(s, d, "documents")
        .select(col("doc_id"), toks.as("tk"))
        .select(col("doc_id"), col("tk"),
          posexplode(sequence(lit(1), greatest(size(col("tk")), lit(1)),
            lit(8))).as(Seq("li", "start")))
        .select(col("doc_id"), col("li").cast("long").as("li"),
          concat_ws(" ", slice(col("tk"), col("start"), lit(8))).as("line"))
      val boiler = lines.groupBy("line")
        .agg(countDistinct(col("doc_id")).as("df"))
        .filter(col("df") >= 3)
        .select("line")
      val totals = lines.groupBy("doc_id").agg(count(lit(1)).as("n_total"))
      val kept = lines.join(broadcast(boiler), Seq("line"), "left_anti")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_kept"),
          md5(concat_ws(" ", transform(
            array_sort(collect_list(struct(col("li"), col("line")))),
            x => x.getField("line")))).as("fp"))
      totals.join(kept, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_total"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"), col("fp"))
        .orderBy("doc_id")
    }),

    // --- weighted source interleaving (round 5): compose one training
    // stream from N corpus sources at integer pacing weights with a
    // deterministic shuffle, no RNG. Each doc gets a per-source shuffle
    // rank (md5 order) and a pace key rank * pace(source); merging all
    // sources by pace yields the weighted round-robin epoch order. The
    // window partitions by source, so ranking parallelizes per source —
    // only the implicit merge order is global, and that is a sort key
    // the consumer's range-partitioned write provides, never a
    // single-task row_number. Pace stays in exact integer arithmetic. ---
    "q_interleave" -> ((s, d) => {
      val srcNum = regexp_extract(col("source"), "([0-9]+)$", 1).cast("long")
      // pace 1 / 2 / 3: a pace-1 source streams 2x faster than pace-2
      val pace = lit(1L) + srcNum % 3
      val gate = md5(concat(lit("ilv"), col("doc_id").cast("string")))
      val w = Window.partitionBy("source").orderBy("gate", "doc_id")
      table(s, d, "documents")
        .select(col("doc_id"), col("source"), gate.as("gate"),
          pace.as("pace"))
        .withColumn("src_rank", row_number().over(w).cast("long"))
        .select(col("doc_id"), col("source"), col("src_rank"),
          (col("src_rank") * col("pace")).as("stream_pos"))
        .orderBy("doc_id")
    }),

    // --- temperature-scaled source mixing weights: the multilingual /
    // multi-domain sampling schedule (p_i proportional to share_i^tau,
    // tau = 0.5) that upsamples small sources without letting a huge
    // one dominate. The corpus reduces to ONE row per source (exact
    // int64 token counts), so everything after the first aggregate is
    // driver-scale: the tau-powered shares are normalized against a
    // DECIMAL-quantized partition function (decimal addition is
    // order-independent — a raw double SUM over the per-source rows
    // would be partial-order-dependent) and the weight each source's
    // sampler applies is p_i / share_i. sqrt is IEEE-exact in every
    // engine; the two divisions are single IEEE ops on identical
    // operands. ---
    "q_mix_weights" -> ((s, d) => {
      val src = table(s, d, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("docs"),
          sum(size(toks)).cast("long").as("tokens"))
      val tot = src.agg(sum(col("tokens")).cast("long").as("total"))
      val shared = src.crossJoin(broadcast(tot))
        .withColumn("share",
          col("tokens").cast("double") / col("total").cast("double"))
        .withColumn("p_raw", dec(sqrt(col("share"))))
      val z = shared.agg(sum(col("p_raw")).as("z"))
      shared.crossJoin(broadcast(z))
        .select(col("source"), col("docs"), col("tokens"), col("share"),
          (col("p_raw").cast("double") / col("z").cast("double"))
            .as("p_target"),
          ((col("p_raw").cast("double") / col("z").cast("double"))
            / col("share")).as("weight"))
        .orderBy("source")
    }),

    // --- content-defined chunking (round 5): variable-length chunks cut
    // where the content itself hashes below a gate (first md5 nibble
    // <= '1', p = 1/8 -> ~8-token mean chunks) — the rolling-hash CDC
    // move: chunk boundaries survive insertions/deletions elsewhere in
    // the doc, unlike fixed-stride chunking, so downstream dedup of
    // chunks is edit-stable. chunk_id = running count of prior cuts
    // (per-doc window, parallel across docs); chunk text is re-sliced
    // from the token array by (start, len) instead of collect_list —
    // no per-group row buffering, order-deterministic by construction. ---
    "q_chunk_cdc" -> ((s, d) => {
      val t = table(s, d, "documents").select(col("doc_id"), toks.as("tk"))
      val e = t
        .select(col("doc_id"), posexplode(col("tk")).as(Seq("pos0", "tok")))
        .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("tok"))
      val cut = when(substring(md5(col("tok")), 1, 1) <= "1", 1L)
        .otherwise(0L)
      val prior = Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
      val chunks = e
        .withColumn("chunk_id", coalesce(sum(cut).over(prior), lit(0L)))
        .groupBy("doc_id", "chunk_id")
        .agg(min(col("pos")).as("start"), count(lit(1)).as("n_tok"))
      chunks.join(t, "doc_id")
        .select(col("doc_id"), col("chunk_id"), col("n_tok"),
          md5(concat_ws(" ",
            slice(col("tk"), col("start").cast("int"),
              col("n_tok").cast("int")))).as("chunk_hash"))
        .orderBy("doc_id", "chunk_id")
    }),

    // --- URL-canonicalized dedup (round 5): the web-crawl first pass —
    // collapse scheme/case/tracking-param/trailing-slash variants to one
    // canonical key, keep the smallest doc_id per key. Variants are
    // synthesized deterministically from doc_id on both engines (the
    // fixture has no URL column); %7 hosts x %50 paths force real
    // collisions. Pure codegen'd string pipeline + one groupBy on the
    // canonical key — at fleet scale this is the same shape as
    // q_dedup_exact: shuffle on a short key, never on the raw URL. ---
    "q_dedup_url" -> ((s, d) => {
      val raw = concat(
        when(col("doc_id") % 2 === 0, "http://").otherwise("HTTPS://"),
        when(col("doc_id") % 3 === 0, "Ex").otherwise("ex"),
        (col("doc_id") % 7).cast("string"), lit(".Org/p/"),
        (col("doc_id") % 50).cast("string"),
        when(col("doc_id") % 3 === 0, "/")
          .when(col("doc_id") % 3 === 1, "?utm_source=feed")
          .otherwise(""))
      val canon = regexp_replace(
        regexp_replace(
          regexp_replace(lower(raw), "^https?://", ""),
          "\\?utm[a-z_=]*$", ""),
        "/$", "")
      table(s, d, "documents")
        .select(col("doc_id"), canon.as("canonical_url"))
        .groupBy("canonical_url")
        .agg(count(lit(1)).as("n_variants"),
          min(col("doc_id")).as("keeper_doc_id"))
        .orderBy("canonical_url")
    }),

    // --- benchmark decontamination: corpus docs sharing >= 3 distinct
    // 3-gram shingles with the benchmark set (doc_id % 97 == 0 stands in
    // for an eval suite). Benchmark gram set is tiny -> broadcast; the
    // corpus side streams, the same candidate-join shape as minhash ---
    "q_contamination" -> ((s, d) => {
      // distinct (doc, gram) rows come from exploding the PER-DOC
      // distinct shingle array — a map-side array op, not a global
      // distinct shuffle of every gram row (the corpus side never
      // shuffles until the final per-doc count)
      val grams = table(s, d, "documents")
        .select(col("doc_id"),
          explode(TextPipeline.shingles(toks)).as("gram"))
      val bench = grams.filter(col("doc_id") % 97 === 0)
        .select(col("gram")).distinct()
      grams.filter(col("doc_id") % 97 =!= 0)
        .join(broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("overlap"))
        .filter(col("overlap") >= 3)
        .select(col("doc_id"), col("overlap"),
          lit(true).as("contaminated"))
        .orderBy("doc_id")
    }),

    // --- benchmark-leak coverage report (round 12): per benchmark doc
    // (doc_id % 97 == 0 stands in for an eval item — the same stand-in
    // q_contamination uses), the single most-overlapping corpus doc
    // and the FRACTION of the item's distinct shingles it covers — the
    // decontamination readout that tells a curator WHICH eval items
    // leak and from where, not just which corpus docs trip a flag.
    // Shape: the tiny benchmark gram set broadcasts; the corpus
    // streams through the gram join; per-(item, doc) counts reduce
    // map-side; the per-item winner is one min_by over a total order
    // (max shared, then min doc — merge-order-independent), never a
    // rank window over the pair relation. ---
    "q_contam_coverage" -> ((s, d) => {
      val grams = table(s, d, "documents")
        .select(col("doc_id"),
          explode(TextPipeline.shingles(toks)).as("gram"))
      val bench = grams.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("bench_id"), col("gram"))
      val benchSz = bench.groupBy("bench_id")
        .agg(count(lit(1)).as("n_bench_grams"))
      val shared = grams.filter(col("doc_id") % 97 =!= 0)
        .join(broadcast(bench), "gram")
        .groupBy("bench_id", "doc_id")
        .agg(count(lit(1)).as("n_shared"))
      shared.groupBy("bench_id")
        .agg(min_by(struct(col("doc_id").as("top_doc_id"),
            col("n_shared")),
          struct((-col("n_shared")).as("neg"), col("doc_id").as("tie")))
          .as("w"))
        .join(broadcast(benchSz), "bench_id")
        .select(col("bench_id"), col("n_bench_grams"),
          col("w.top_doc_id").as("top_doc_id"),
          col("w.n_shared").as("n_shared"),
          (col("w.n_shared").cast("double") / col("n_bench_grams"))
            .as("coverage"))
        .orderBy("bench_id")
    }),

    // --- staged curation cascade report (round 12): the gate-by-gate
    // funnel a corpus curator reads before shipping a training mix —
    // each stage's input/removed/survivor counts, marginal removal
    // rate and cumulative survival, for the ORDERED cascade
    // length -> stopword-density -> lexical-diversity -> language.
    // Every gate is an exact INTEGER comparison (cross-multiplied
    // thresholds, the q_code_detect discipline) so no floating-point
    // cut can disagree across engines; the whole cascade is ONE
    // map-side aggregate of five conjunction counters over the corpus
    // (never four passes), stacked into O(stages) rows. ---
    "q_cascade_gate" -> ((s, d) => {
      val base = table(s, d, "documents").select(
        lng(length(col("text"))).as("nc"),
        lng(size(toks)).as("nt"),
        lng(size(filter(toks,
          t => t.isin(TextPipeline.stopwords.map(lit(_)): _*)))).as("st"),
        lng(size(array_distinct(toks))).as("nd"),
        col("lang"))
      val g1 = col("nc").between(150, 450)
      val g2 = col("st") * 100 >= col("nt") * 3
      val g3 = col("nd") * 5 >= col("nt") * 2
      val g4 = col("lang").isin("en", "es", "de")
      base.agg(
          count(lit(1)).as("c0"),
          sum(g1.cast("long")).as("c1"),
          sum((g1 && g2).cast("long")).as("c2"),
          sum((g1 && g2 && g3).cast("long")).as("c3"),
          sum((g1 && g2 && g3 && g4).cast("long")).as("c4"))
        .selectExpr("stack(4, " +
          "1L, 'len_150_450', c0, c1, " +
          "2L, 'stop_ge_3pct', c1, c2, " +
          "3L, 'distinct_ge_40pct', c2, c3, " +
          "4L, 'lang_allowed', c3, c4) AS (stage, gate, n_in, n_out)",
          "c0")
        .select(col("stage"), col("gate"), col("n_in"),
          (col("n_in") - col("n_out")).as("n_removed"), col("n_out"),
          ((col("n_in") - col("n_out")).cast("double") /
            when(col("n_in") > 0, col("n_in"))).as("removal_rate"),
          (col("n_out").cast("double") / col("c0")).as("cum_survival"))
        .orderBy("stage")
    }),

    // --- span-corruption planning stats (round 12): the T5/UL2-style
    // denoising objective prep — per doc, how many tokens a
    // deterministic 15% noise mask hits, how many contiguous SPANS
    // they form (one sentinel token each), and the resulting
    // corruption ratio / mean span length. The mask is a pure function
    // of (doc_id, position) through the portable md5 basis
    // (pmod(md5_64("sc|doc|i"), 100) < 15), so the plan is
    // reproducible on any cluster AND rebuilt bit-exactly by the
    // DuckDB oracle. Entirely map-side: the mask array, its sum, and
    // the span starts (mask_i AND NOT mask_{i-1}, via a zip with the
    // 1-shifted array) are per-row expression work — no shuffle, no
    // window. ---
    "q_span_corruption" -> ((s, d) => {
      val out = graft.Det.let(toks) { tk =>
        graft.Det.let(transform(sequence(lit(1), size(tk)), i =>
          (pmod(graft.functions.Md5Long(
            concat(lit("sc|"), col("doc_id").cast("string"),
              lit("|"), i.cast("string"))), lit(100L)) < 15L)
            .cast("long"))) { mk =>
          struct(
            lng(size(tk)).as("n_tokens"),
            aggregate(mk, lit(0L), (a, e) => a + e).as("n_masked"),
            aggregate(
              zip_with(mk,
                concat(array(lit(0L)), slice(mk, lit(1), size(mk) - 1)),
                (cur, prev) => cur * (lit(1L) - prev)),
              lit(0L), (a, e) => a + e).as("n_spans"))
        }
      }
      table(s, d, "documents")
        .select(col("doc_id"), out.as("o"))
        .select(col("doc_id"),
          col("o.n_tokens").as("n_tokens"),
          col("o.n_masked").as("n_masked"),
          col("o.n_spans").as("n_spans"),
          (col("o.n_masked").cast("double") / col("o.n_tokens"))
            .as("corrupt_ratio"),
          (col("o.n_masked").cast("double") /
            when(col("o.n_spans") > 0, col("o.n_spans")))
            .as("mean_span_len"))
        .orderBy("doc_id")
    }),

    // --- code-vs-prose detection (round 10): the symbol-density
    // screen that keeps source code (or markup soup) out of a prose
    // training slice — per source, how many docs trip the detector
    // and the aggregate symbol mass. Symbol count = chars surviving a
    // [a-z0-9 ]-strip (one codegen'd regexp_replace, no tokenizer);
    // the 5% flag is the exact INTEGER comparison 20·n_sym > n_chars,
    // so no floating-point threshold can disagree across engines; the
    // per-source shares are terminal divisions. O(sources) out. ---
    "q_code_detect" -> ((s, d) =>
      table(s, d, "documents")
        .select(col("source"),
          lng(length(col("text"))).as("nc"),
          lng(length(regexp_replace(col("text"), "[a-z0-9 ]", "")))
            .as("ns"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum((col("ns") * 20 > col("nc")).cast("long")).as("n_code"),
          sum("ns").as("n_sym"), sum("nc").as("n_chars"))
        .select(col("source"), col("n_docs"), col("n_code"),
          (col("n_code").cast("double") / col("n_docs")).as("code_share"),
          (col("n_sym").cast("double") / col("n_chars")).as("sym_ratio"))
        .orderBy("source")),

    // --- per-host crawl census (round 10): the host-grain quality
    // table every crawl curator keeps — how many URLs and distinct
    // docs each host contributes and how long those docs run (the
    // per-host length profile is the first robots/boilerplate
    // signal). URL extraction reuses the q_url_extract device; the
    // distinct (host, doc) relation drives the doc-grain stats so a
    // doc citing one host five times counts once; chars accumulate as
    // DECIMAL before the one closing division. O(hosts) output. ---
    "q_host_stats" -> ((s, d) => {
      val u = table(s, d, "documents")
        .select(col("doc_id"), col("n_chars"),
          explode(expr(
            "regexp_extract_all(" +
              "concat('see http://ex', CAST(doc_id % 7 AS STRING), " +
              "'.org/p/', CAST(doc_id AS STRING), ' plus https://w', " +
              "CAST(doc_id % 3 AS STRING), '.net/x ', text), " +
              "'https?://[a-z0-9./]+', 0)")).as("url"))
        .select(col("doc_id"), col("n_chars"),
          regexp_extract(col("url"), "^https?://([a-z0-9.]+)", 1)
            .as("host"))
      val urls = u.groupBy("host").agg(count(lit(1)).as("n_urls"))
      val docs = u.select("host", "doc_id", "n_chars").distinct()
        .groupBy("host")
        .agg(count(lit(1)).as("n_docs"), avgd(col("n_chars")).as("avg_chars"))
      urls.join(docs, "host")
        .select(col("host"), col("n_urls"), col("n_docs"), col("avg_chars"))
        .orderBy("host")
    }),

    // --- shared-prefix (boilerplate header) census (round 10): docs
    // whose first 8 tokens are identical share a template header —
    // the crawl artifact exact-dedup misses (bodies differ) and
    // near-dedup half-misses (long docs dilute the prefix). Group on
    // the md5 DIGEST of the prefix (fixed 32-byte shuffle key — the
    // digest-first discipline; never shuffle a raw prefix string),
    // then roll group sizes into the size histogram: O(sizes) rows
    // out, two aggregates total, no joins. ---
    "q_prefix_dups" -> ((s, d) =>
      table(s, d, "documents")
        .select(md5(concat_ws(" ",
          slice(split(col("text"), " "), 1, 8))).as("pfx"))
        .groupBy("pfx").agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("grp_size"))
        .agg(count(lit(1)).as("n_groups"),
          sum(col("sz")).as("n_docs"))
        .orderBy("grp_size")),

    // --- KV-cache prefix-sharing curve (round 13): the SERVING-side
    // reading of shared prefixes — if prompts sharing a d-token prefix
    // share KV state (vLLM-style automatic prefix caching), what
    // fraction of prefix-token compute is served from cache? For each
    // depth d in {2,4,8,16}: group the d-prefix digests (digest-first
    // shuffle discipline, as q_prefix_dups), each group of size sz
    // saves (sz−1)·d prefix tokens; hit_rate = saved / (eligible·d).
    // One conditional pass per depth over the exploded literal grid —
    // O(depths × prefixes) state, exact integers, one division. ---
    "q_prefix_cache" -> ((s, d) => {
      import s.implicits._
      val depths = Seq(2, 4, 8, 16).toDF("depth")
      table(s, d, "documents")
        .select(split(col("text"), " ").as("tk"))
        .crossJoin(broadcast(depths))
        .filter(size(col("tk")) >= col("depth"))
        .select(col("depth"),
          md5(concat_ws(" ",
            slice(col("tk"), lit(1), col("depth")))).as("pfx"))
        .groupBy("depth", "pfx").agg(count(lit(1)).as("sz"))
        .groupBy("depth")
        .agg(count(lit(1)).as("n_prefixes"),
          sum("sz").cast("long").as("n_docs"),
          sum(when(col("sz") > 1, col("sz")).otherwise(0L))
            .cast("long").as("n_docs_shared"),
          sum((col("sz") - 1) * col("depth")).cast("long")
            .as("tokens_saved"))
        .select(col("depth").cast("long").as("depth"),
          col("n_prefixes"), col("n_docs"), col("n_docs_shared"),
          col("tokens_saved"),
          (col("tokens_saved").cast("double") /
            (col("n_docs") * col("depth")).cast("double"))
            .as("hit_rate"))
        .orderBy("depth")
    })
  )

  override def oracle: Map[String, String] = Map(

    "q_prefix_cache" ->
      """WITH t AS (SELECT string_split(text, ' ') AS tk
        |           FROM documents),
        |dp AS (SELECT unnest([2, 4, 8, 16]) AS depth),
        |pf AS (SELECT dp.depth,
        |    md5(array_to_string(list_slice(t.tk, 1, dp.depth), ' '))
        |      AS pfx
        |  FROM t CROSS JOIN dp WHERE len(t.tk) >= dp.depth),
        |g AS (SELECT depth, pfx, CAST(COUNT(*) AS BIGINT) AS sz
        |      FROM pf GROUP BY 1, 2)
        |SELECT CAST(depth AS BIGINT) AS depth,
        |  CAST(COUNT(*) AS BIGINT) AS n_prefixes,
        |  CAST(SUM(sz) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN sz > 1 THEN sz ELSE 0 END) AS BIGINT)
        |    AS n_docs_shared,
        |  CAST(SUM((sz - 1) * depth) AS BIGINT) AS tokens_saved,
        |  CAST(SUM((sz - 1) * depth) AS DOUBLE) /
        |    CAST(SUM(sz) * depth AS DOUBLE) AS hit_rate
        |FROM g GROUP BY depth ORDER BY depth""".stripMargin,

    "q_code_detect" ->
      """WITH p AS (SELECT source,
        |    CAST(length(text) AS BIGINT) AS nc,
        |    CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g'))
        |      AS BIGINT) AS ns
        |  FROM documents),
        |a AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(CASE WHEN ns * 20 > nc THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_code,
        |    CAST(SUM(ns) AS BIGINT) AS n_sym,
        |    CAST(SUM(nc) AS BIGINT) AS n_chars
        |  FROM p GROUP BY 1)
        |SELECT source, n_docs, n_code,
        |  CAST(n_code AS DOUBLE) / n_docs AS code_share,
        |  CAST(n_sym AS DOUBLE) / n_chars AS sym_ratio
        |FROM a ORDER BY source""".stripMargin,

    "q_host_stats" ->
      s"""WITH u AS (SELECT doc_id, n_chars,
         |    regexp_extract(unnest(regexp_extract_all($rawUrlSql,
         |      'https?://[a-z0-9./]+')), '^https?://([a-z0-9.]+)', 1)
         |      AS host
         |  FROM documents),
         |urls AS (SELECT host, CAST(COUNT(*) AS BIGINT) AS n_urls
         |  FROM u GROUP BY 1),
         |docs AS (SELECT host, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    ${graft.Det.A("n_chars")} AS avg_chars
         |  FROM (SELECT DISTINCT host, doc_id, n_chars FROM u)
         |  GROUP BY 1)
         |SELECT host, n_urls, n_docs, avg_chars
         |FROM urls JOIN docs USING (host) ORDER BY host""".stripMargin,

    "q_prefix_dups" ->
      """WITH p AS (SELECT md5(array_to_string(
        |      list_slice(string_split(text, ' '), 1, 8), ' ')) AS pfx
        |    FROM documents),
        |g AS (SELECT pfx, CAST(COUNT(*) AS BIGINT) AS sz
        |  FROM p GROUP BY 1)
        |SELECT sz AS grp_size, CAST(COUNT(*) AS BIGINT) AS n_groups,
        |  CAST(SUM(sz) AS BIGINT) AS n_docs
        |FROM g GROUP BY 1 ORDER BY grp_size""".stripMargin,

    "q_sample_systematic" ->
      """WITH a AS (SELECT source,
        |    CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(n_chars) AS BIGINT) AS chars_total,
        |    CAST(SUM(CASE WHEN doc_id % 7 = 3 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_rep1,
        |    CAST(SUM(CASE WHEN doc_id % 7 = 3 THEN n_chars ELSE 0 END)
        |      AS BIGINT) AS chars_rep1,
        |    CAST(SUM(CASE WHEN doc_id % 7 = 5 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_rep2,
        |    CAST(SUM(CASE WHEN doc_id % 7 = 5 THEN n_chars ELSE 0 END)
        |      AS BIGINT) AS chars_rep2
        |  FROM documents GROUP BY source)
        |SELECT source, n_docs, n_rep1, n_rep2,
        |  CAST(chars_total AS DOUBLE) / n_docs AS mean_all,
        |  CASE WHEN n_rep1 > 0 THEN
        |    CAST(chars_rep1 AS DOUBLE) / n_rep1 END AS mean_rep1,
        |  CASE WHEN n_rep2 > 0 THEN
        |    CAST(chars_rep2 AS DOUBLE) / n_rep2 END AS mean_rep2,
        |  CASE WHEN n_rep1 > 0 AND n_rep2 > 0 THEN
        |    (CAST(chars_rep1 AS DOUBLE) / n_rep1
        |      - CAST(chars_rep2 AS DOUBLE) / n_rep2)
        |      * (CAST(chars_rep1 AS DOUBLE) / n_rep1
        |        - CAST(chars_rep2 AS DOUBLE) / n_rep2) / 4.0
        |    END AS var_mean
        |FROM a ORDER BY source""".stripMargin,

    "q_sample_pps" ->
      """WITH k AS (SELECT source, n_chars,
        |    CAST(list_sum([CAST(strpos('0123456789abcdef',
        |        substr(md5('pps' || CAST(doc_id AS VARCHAR)), i, 1)) - 1
        |        AS BIGINT) << (4 * (8 - i)) for i in range(1, 9)])
        |      AS BIGINT) * 4000 < n_chars * 4294967296 AS keep
        |  FROM documents)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept,
        |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*) AS doc_rate,
        |  CAST(SUM(CASE WHEN keep THEN n_chars ELSE 0 END) AS DOUBLE)
        |    / SUM(n_chars) AS mass_rate
        |FROM k GROUP BY source ORDER BY source""".stripMargin,

    "q_batch_padding" ->
      """WITH t AS (SELECT CAST(len(string_split(text, ' '))
        |      AS BIGINT) AS nt FROM documents),
        |h AS (SELECT nt, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM t GROUP BY nt),
        |ch AS (SELECT nt, c,
        |    CAST(SUM(c) OVER (ORDER BY nt) AS BIGINT) AS cum,
        |    CAST(COALESCE(SUM(c) OVER (ORDER BY nt
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cumprev
        |  FROM h),
        |tot AS (SELECT CAST(MAX(cum) AS BIGINT) AS n,
        |    CAST(SUM(nt * c) AS BIGINT) AS tt,
        |    CAST(MAX(nt) AS BIGINT) AS lmax FROM ch),
        |pb AS (SELECT b, CAST(SUM(nt * (cum // b - cumprev // b))
        |      AS BIGINT) AS maxsum
        |  FROM ch CROSS JOIN (SELECT CAST(unnest([16, 64, 256])
        |    AS BIGINT) AS b) bs
        |  GROUP BY b)
        |SELECT b AS batch_size, n AS n_docs, tt AS real_tokens,
        |  CAST((n + b - 1) // b AS BIGINT) AS n_batches,
        |  CAST(maxsum * b + (n % b) * lmax AS BIGINT)
        |    AS padded_tokens,
        |  CAST(n * lmax AS BIGINT) AS worst_case_tokens,
        |  CAST(maxsum * b + (n % b) * lmax - tt AS DOUBLE)
        |    / (maxsum * b + (n % b) * lmax) AS waste_share
        |FROM pb CROSS JOIN tot ORDER BY batch_size""".stripMargin,

    "q_pack_efficiency" ->
      """WITH t AS (SELECT lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |g AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(n_tok) AS BIGINT) AS total_tok,
        |    CAST(SUM(512 - least(n_tok, 512)) AS BIGINT) AS pad_single,
        |    CAST(SUM(greatest(n_tok - 512, 0)) AS BIGINT)
        |      AS trunc_single
        |  FROM t GROUP BY 1)
        |SELECT lang, n_docs, total_tok,
        |  CAST((total_tok + 511) // 512 AS BIGINT) AS bins_concat,
        |  CAST(total_tok AS DOUBLE) /
        |    (CAST((total_tok + 511) // 512 AS BIGINT) * 512)
        |    AS util_concat,
        |  pad_single, trunc_single,
        |  CAST(total_tok - trunc_single AS DOUBLE) / (n_docs * 512)
        |    AS util_single
        |FROM g ORDER BY lang""".stripMargin,
    "q_mix_weights" ->
      """WITH src AS (SELECT source, COUNT(*) AS docs,
        |         CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
        |           AS tokens
        |       FROM documents GROUP BY source),
        |tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS total FROM src),
        |sh AS (SELECT source, docs, tokens,
        |         CAST(tokens AS DOUBLE) / CAST(total AS DOUBLE) AS share,
        |         CAST(sqrt(CAST(tokens AS DOUBLE) / CAST(total AS DOUBLE))
        |              AS DECIMAL(18,4)) AS p_raw
        |       FROM src CROSS JOIN tot),
        |zz AS (SELECT SUM(p_raw) AS z FROM sh)
        |SELECT source, docs, tokens, share,
        |  CAST(p_raw AS DOUBLE) / CAST(z AS DOUBLE) AS p_target,
        |  (CAST(p_raw AS DOUBLE) / CAST(z AS DOUBLE)) / share AS weight
        |FROM sh CROSS JOIN zz
        |ORDER BY source""".stripMargin,

    "q_text_normalize" ->
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(
        |    lower(concat('  ', upper(text), '  !! [',
        |                 CAST(doc_id AS VARCHAR), '] ??  ')),
        |    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm,
        |  CAST(length(trim(regexp_replace(regexp_replace(
        |    lower(concat('  ', upper(text), '  !! [',
        |                 CAST(doc_id AS VARCHAR), '] ??  ')),
        |    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS BIGINT)
        |    AS n_chars_norm
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_pii_redact" ->
      s"""SELECT doc_id,
         |  regexp_replace(regexp_replace($rawPiiSql,
         |    '[a-z0-9.]+@[a-z0-9.]+', '<EMAIL>', 'g'),
         |    '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS redacted,
         |  CAST(len(regexp_extract_all($rawPiiSql,
         |    '[a-z0-9.]+@[a-z0-9.]+|[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_pii
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q_url_extract" ->
      s"""WITH u AS (SELECT unnest(regexp_extract_all($rawUrlSql,
         |             'https?://[a-z0-9./]+')) AS url FROM documents)
         |SELECT regexp_extract(url, '^https?://([a-z0-9.]+)', 1) AS domain,
         |       COUNT(*) AS n_urls
         |FROM u GROUP BY 1 ORDER BY domain""".stripMargin,

    "q_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
        |           FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |g AS (SELECT doc_id,
        |        CAST(len(tk) - 1 AS BIGINT) AS n_2grams,
        |        CAST(len(list_distinct(list_transform(
        |          range(1, len(tk)),
        |          i -> tk[i] || ' ' || tk[i+1]))) AS BIGINT) AS d_2grams
        |      FROM t),
        |e AS (SELECT doc_id, unnest(tk) AS tok FROM t),
        |c AS (SELECT doc_id, tok, COUNT(*) AS c FROM e GROUP BY 1, 2),
        |m AS (SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_c,
        |             CAST(SUM(c) AS BIGINT) AS n_toks
        |      FROM c GROUP BY doc_id)
        |SELECT g.doc_id, n_2grams, d_2grams,
        |  CAST(n_2grams - d_2grams AS DOUBLE) / CAST(n_2grams AS DOUBLE)
        |    AS dup_2gram_frac,
        |  CAST(top_c AS DOUBLE) / CAST(n_toks AS DOUBLE) AS top_token_frac,
        |  (CAST(n_2grams - d_2grams AS DOUBLE) / CAST(n_2grams AS DOUBLE)
        |     >= 0.2)
        |  OR (CAST(top_c AS DOUBLE) / CAST(n_toks AS DOUBLE) >= 0.3)
        |    AS repetitive
        |FROM g JOIN m ON m.doc_id = g.doc_id
        |ORDER BY g.doc_id""".stripMargin,

    "q_train_split" ->
      """SELECT doc_id,
        |  substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS bucket,
        |  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b'
        |         THEN 'train'
        |       WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'd'
        |         THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_sample_stratified" ->
      """SELECT doc_id, lang,
        |  substring(md5(concat('smp', CAST(doc_id AS VARCHAR))), 1, 2)
        |    AS gate
        |FROM documents
        |WHERE substring(md5(concat('smp', CAST(doc_id AS VARCHAR))), 1, 2)
        |      < CASE WHEN lang = 'en' THEN '40' ELSE '80' END
        |ORDER BY doc_id""".stripMargin,

    "q_sample_coordinated" ->
      s"""WITH so AS (SELECT o_orderkey, o_orderpriority FROM orders
         |  WHERE substring(md5(concat('coord',
         |          CAST(o_orderkey AS VARCHAR))), 1, 1) = '0'),
         |sl AS (SELECT l_orderkey, l_extendedprice FROM lineitem
         |  WHERE substring(md5(concat('coord',
         |          CAST(l_orderkey AS VARCHAR))), 1, 1) = '0')
         |SELECT o_orderpriority AS priority,
         |  CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
         |  CAST(COUNT(*) AS BIGINT) AS n_items,
         |  ${S("l_extendedprice")} AS revenue
         |FROM so JOIN sl ON o_orderkey = l_orderkey
         |GROUP BY 1 ORDER BY priority""".stripMargin,

    "q_pack_sequences" ->
      """WITH t AS (SELECT doc_id, lang,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |           FROM documents),
        |c AS (SELECT doc_id, lang, n_tok,
        |        CAST(SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id)
        |          AS BIGINT) - n_tok AS off
        |      FROM t)
        |SELECT doc_id, lang, n_tok,
        |  CAST(floor(off / 512.0) AS BIGINT) AS bin_id,
        |  off % 512 AS bin_offset
        |FROM c ORDER BY doc_id""".stripMargin,

    "q_chunk_overlap" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
        |           FROM documents),
        |g AS (SELECT doc_id, tk,
        |        unnest(generate_series(1, greatest(len(tk), 1), 40)) AS st
        |      FROM t),
        |ch AS (SELECT doc_id, CAST((st - 1) // 40 AS BIGINT) AS chunk_idx,
        |         array_slice(tk, st, st + 49) AS chunk
        |       FROM g)
        |SELECT doc_id, chunk_idx, CAST(len(chunk) AS BIGINT) AS chunk_len,
        |  md5(array_to_string(chunk, ' ')) AS chunk_hash
        |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin,

    "q_dedup_lines" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
        |           FROM documents),
        |g AS (SELECT doc_id, tk,
        |        unnest(generate_series(1, greatest(len(tk), 1), 8)) AS st
        |      FROM t),
        |l AS (SELECT doc_id, CAST((st - 1) // 8 AS BIGINT) AS li,
        |        array_to_string(array_slice(tk, st, st + 7), ' ') AS line
        |      FROM g),
        |b AS (SELECT line FROM l
        |      GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 3),
        |tot AS (SELECT doc_id, COUNT(*) AS n_total FROM l GROUP BY doc_id),
        |k AS (SELECT doc_id, COUNT(*) AS n_kept,
        |        md5(string_agg(line, ' ' ORDER BY li)) AS fp
        |      FROM l ANTI JOIN b USING (line) GROUP BY doc_id)
        |SELECT tot.doc_id, tot.n_total,
        |  COALESCE(k.n_kept, 0) AS n_kept, k.fp
        |FROM tot LEFT JOIN k USING (doc_id) ORDER BY doc_id""".stripMargin,

    "q_interleave" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    md5(concat('ilv', CAST(doc_id AS VARCHAR))) AS gate,
        |    1 + CAST(regexp_extract(source, '([0-9]+)$', 1) AS BIGINT) % 3
        |      AS pace
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, source, pace,
        |    CAST(row_number() OVER (PARTITION BY source
        |                            ORDER BY gate, doc_id) AS BIGINT)
        |      AS src_rank
        |  FROM t)
        |SELECT doc_id, source, src_rank, src_rank * pace AS stream_pos
        |FROM r ORDER BY doc_id""".stripMargin,

    "q_chunk_cdc" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
        |           FROM documents),
        |g AS (SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS pos
        |      FROM t),
        |e AS (SELECT doc_id, pos, tk[pos] AS tok FROM g),
        |c AS (SELECT doc_id, pos, tok,
        |        COALESCE(SUM(CASE WHEN substring(md5(tok), 1, 1) <= '1'
        |                          THEN 1 ELSE 0 END)
        |          OVER (PARTITION BY doc_id ORDER BY pos
        |                ROWS BETWEEN UNBOUNDED PRECEDING
        |                         AND 1 PRECEDING), 0) AS chunk_id
        |      FROM e)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_tok,
        |  md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash
        |FROM c GROUP BY doc_id, chunk_id
        |ORDER BY doc_id, chunk_id""".stripMargin,

    "q_dedup_url" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(regexp_replace(lower(concat(
        |      CASE WHEN doc_id % 2 = 0 THEN 'http://' ELSE 'HTTPS://' END,
        |      CASE WHEN doc_id % 3 = 0 THEN 'Ex' ELSE 'ex' END,
        |      CAST(doc_id % 7 AS VARCHAR), '.Org/p/',
        |      CAST(doc_id % 50 AS VARCHAR),
        |      CASE WHEN doc_id % 3 = 0 THEN '/'
        |           WHEN doc_id % 3 = 1 THEN '?utm_source=feed'
        |           ELSE '' END)),
        |      '^https?://', ''), '\?utm[a-z_=]*$', ''), '/$', '')
        |      AS canonical_url
        |  FROM documents)
        |SELECT canonical_url, COUNT(*) AS n_variants,
        |  MIN(doc_id) AS keeper_doc_id
        |FROM u GROUP BY canonical_url
        |ORDER BY canonical_url""".stripMargin,

    "q_contamination" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
        |           FROM documents),
        |s AS (SELECT DISTINCT doc_id, unnest(list_transform(
        |        range(1, greatest(len(tk) - 2, 0) + 1),
        |        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS gram
        |      FROM t),
        |b AS (SELECT DISTINCT gram FROM s WHERE doc_id % 97 = 0)
        |SELECT s.doc_id, COUNT(*) AS overlap, true AS contaminated
        |FROM s JOIN b ON b.gram = s.gram
        |WHERE s.doc_id % 97 <> 0
        |GROUP BY s.doc_id
        |HAVING COUNT(*) >= 3
        |ORDER BY s.doc_id""".stripMargin,

    "q_contam_coverage" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
        |           FROM documents),
        |s AS (SELECT DISTINCT doc_id, unnest(list_transform(
        |        range(1, greatest(len(tk) - 2, 0) + 1),
        |        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS gram
        |      FROM t),
        |b AS (SELECT doc_id AS bench_id, gram FROM s WHERE doc_id % 97 = 0),
        |bs AS (SELECT bench_id, CAST(COUNT(*) AS BIGINT) AS n_bench_grams
        |  FROM b GROUP BY 1),
        |sh AS (SELECT b.bench_id, s.doc_id,
        |    CAST(COUNT(*) AS BIGINT) AS n_shared
        |  FROM s JOIN b ON b.gram = s.gram
        |  WHERE s.doc_id % 97 <> 0
        |  GROUP BY 1, 2),
        |w AS (SELECT bench_id, doc_id AS top_doc_id, n_shared,
        |    row_number() OVER (PARTITION BY bench_id
        |      ORDER BY n_shared DESC, doc_id) AS rn
        |  FROM sh)
        |SELECT w.bench_id, bs.n_bench_grams, w.top_doc_id, w.n_shared,
        |  CAST(w.n_shared AS DOUBLE) / bs.n_bench_grams AS coverage
        |FROM w JOIN bs ON bs.bench_id = w.bench_id
        |WHERE w.rn = 1
        |ORDER BY w.bench_id""".stripMargin,

    "q_cascade_gate" ->
      """WITH p AS (SELECT CAST(length(text) AS BIGINT) AS nc,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS BIGINT)
        |      AS st,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
        |      AS nd,
        |    lang
        |  FROM documents),
        |g AS (SELECT nc BETWEEN 150 AND 450 AS g1,
        |    st * 100 >= nt * 3 AS g2, nd * 5 >= nt * 2 AS g3,
        |    lang IN ('en', 'es', 'de') AS g4
        |  FROM p),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS c0,
        |    CAST(SUM(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(SUM(CASE WHEN g1 AND g2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c2,
        |    CAST(SUM(CASE WHEN g1 AND g2 AND g3 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c3,
        |    CAST(SUM(CASE WHEN g1 AND g2 AND g3 AND g4 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c4
        |  FROM g),
        |st AS (SELECT * FROM (VALUES
        |    (CAST(1 AS BIGINT), 'len_150_450'),
        |    (CAST(2 AS BIGINT), 'stop_ge_3pct'),
        |    (CAST(3 AS BIGINT), 'distinct_ge_40pct'),
        |    (CAST(4 AS BIGINT), 'lang_allowed')) AS v(stage, gate)),
        |r AS (SELECT stage, gate,
        |    CASE stage WHEN 1 THEN c0 WHEN 2 THEN c1 WHEN 3 THEN c2
        |      ELSE c3 END AS n_in,
        |    CASE stage WHEN 1 THEN c1 WHEN 2 THEN c2 WHEN 3 THEN c3
        |      ELSE c4 END AS n_out, c0
        |  FROM st CROSS JOIN a)
        |SELECT stage, gate, n_in, n_in - n_out AS n_removed, n_out,
        |  CAST(n_in - n_out AS DOUBLE) / (CASE WHEN n_in > 0 THEN n_in
        |    END) AS removal_rate,
        |  CAST(n_out AS DOUBLE) / c0 AS cum_survival
        |FROM r ORDER BY stage""".stripMargin,

    "q_span_corruption" -> {
      import XxhSql.{md5u, signed}
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
         |           FROM documents),
         |p AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n,
         |    unnest(generate_series(1, len(tk))) AS i
         |  FROM t),
         |m AS (SELECT doc_id, n, i,
         |    CASE WHEN ((${signed(md5u(
             "'sc|' || doc_id || '|' || i"))} % 100) + 100) % 100 < 15
         |      THEN 1 ELSE 0 END AS mk
         |  FROM p),
         |sp AS (SELECT doc_id, n, mk,
         |    CASE WHEN mk = 1 AND COALESCE(LAG(mk) OVER (
         |      PARTITION BY doc_id ORDER BY i), 0) = 0 THEN 1 ELSE 0
         |      END AS sts
         |  FROM m),
         |a AS (SELECT doc_id, MAX(n) AS n_tokens,
         |    CAST(SUM(mk) AS BIGINT) AS n_masked,
         |    CAST(SUM(sts) AS BIGINT) AS n_spans
         |  FROM sp GROUP BY doc_id)
         |SELECT doc_id, n_tokens, n_masked, n_spans,
         |  CAST(n_masked AS DOUBLE) / n_tokens AS corrupt_ratio,
         |  CAST(n_masked AS DOUBLE) / (CASE WHEN n_spans > 0
         |    THEN n_spans END) AS mean_span_len
         |FROM a ORDER BY doc_id""".stripMargin
    }
  )
}
