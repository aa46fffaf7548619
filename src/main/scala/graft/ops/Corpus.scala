package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level substring overlap — the exact-substring complement to the
  * set-similarity dedup family (q72 MinHash, q77/q88 SimHash, q78 PPJoin).
  *
  * Near-dup detectors score whole documents; substring-level dedup finds
  * VERBATIM REUSE — boilerplate headers, quoted passages, licence blocks —
  * that document-level similarity dilutes below threshold the moment the
  * surrounding text differs. Training-data pipelines run both: document
  * near-dup to drop clones, substring overlap to measure (and optionally
  * excise) repeated spans a model would memorize. North-star ops (prov
  * `ns`, SURVEY §2.3); no reference-behavior citation applies.
  *
  * Both queries share one window table: fixed-width 50-char windows at
  * stride 10, keyed by md5 so every exchange carries a 32-byte digest,
  * never document text (the q105 hash-first discipline). Stride keeps the
  * blowup at len/10 rows per doc — the standard cost/recall dial (stride 1
  * = exact suffix-array recall, stride w = disjoint chunks); any ≥59-char
  * verbatim span is guaranteed to contribute at least one shared window
  * regardless of alignment (w + stride − 1).
  */
object Corpus {

  /** The shared window table: (doc_id, source, k = md5 of the 50-char
    * window at 1-based positions 1, 11, 21, …). Docs shorter than one
    * window carry no rows — same contract as the oracle's WHERE. The
    * explode is a codegen'd `transform(sequence(...))` projection: one
    * pass over the text, no per-position substring re-scan on the driver
    * side of the plan, and the raw text never leaves the scan stage. */
  private def charWindows(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .filter(length(col("text")) >= 50)
      .select(col("doc_id"), col("source"),
        explode(expr(
          "transform(sequence(1, length(text) - 49, 10), " +
            "i -> md5(substring(text, i, 50)))")).as("k"))

  /** q117: exact substring-duplication profile — per document, how many
    * of its windows occur verbatim in ANY other document. The per-doc
    * `n_dup_win / n_win` is the span-level memorization-risk signal a
    * curation pipeline thresholds on (docs that are MOSTLY shared text
    * get dropped even when no single whole-document near-dup exists).
    *
    * Shape: window table → groupBy(k) marking keys seen in >1 distinct
    * doc → equi-join back on k → per-doc counts. The dup side arrives at
    * the join already hash-partitioned on k from its aggregate, so only
    * the (re-computed) probe side shuffles — same
    * recompute-beats-materialize call as q104, and at deployment scale
    * the window table would be a persisted intermediate anyway. A window
    * repeated across millions of docs is ONE dup-side row (the aggregate
    * collapses it), so hot boilerplate cannot skew the join's build side;
    * the probe side's copies of that key spread across partitions by
    * (k, doc) and AQE's skew split covers the residue. */
  def q117SubstringDedup(s: SparkSession, dir: String): DataFrame = {
    val w = charWindows(s, dir)
    val dup = w.groupBy("k")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") > 1)
      .select(col("k"), lit(1L).as("is_dup"))
    w.join(dup, Seq("k"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_win"),
        coalesce(sum(col("is_dup")), lit(0L)).as("n_dup_win"))
      .orderBy("doc_id")
  }

  /** q118: cross-source contamination matrix — for every source pair,
    * the number of DISTINCT 50-char windows both contain. This is the
    * corpus-composition audit run before mixing sources into a training
    * set: a high cell means two "independent" sources share provenance
    * (mirrors, scrapes of the same site) and their mixing weights
    * double-count it. Exact-text overlap at sf0.01 is zero BETWEEN
    * sources (exact dups are all intra-source here), which is precisely
    * why the audit works at window granularity.
    *
    * Shape: distinct (k, source) FIRST — a window repeated a million
    * times inside one source collapses to one row before the self-join,
    * so per-key fanout is bounded by the SOURCE CARDINALITY (tens), not
    * document counts; then one equi-join on k and a pair count. */
  def q118SourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val ws = charWindows(s, dir).select(col("k"), col("source")).distinct()
    ws.toDF("k", "src_a")
      .join(ws.toDF("k", "src_b"), "k")
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("shared_windows"))
      .orderBy("src_a", "src_b")
  }

  // ---- q294: duplicated-span extents (exact-substring dedup) ----------

  /** q294's shingle width: a duplicated run must span at least this
    * many tokens to register (Lee et al. use 50 BPE tokens at web
    * scale; 8 fits this fixture's 10–99-token docs while staying far
    * above the 31-token vocabulary's collision noise — the k=3/4
    * birthday collisions die out by k=5, so every k=8 duplicate here is
    * a genuinely shared span). ONE constant, interpolated into both
    * engines. */
  private[ops] val SpanK = 8

  /** q294: exact duplicated-span EXTENTS — the Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better")
    * memorization filter, and the coordinates q117's per-doc COUNTS
    * deliberately stop short of: q117 reports how much of a doc is
    * repeated, q294 reports WHERE — the merged `[span_start, span_end]`
    * token extents of every ≥[[SpanK]]-token substring that also occurs
    * in ANOTHER document, which is what an excision step needs to cut
    * memorizable spans while keeping each document's unique remainder.
    *
    * Pipeline: positioned token shingles (md5 digests on the exchange,
    * never text — the q105 discipline), a corpus-wide distinct-doc
    * frequency aggregate keeps shingles seen in ≥2 docs, duplicated
    * positions join back (the build side collapsed to one row per
    * shingle by its aggregate — hot boilerplate cannot skew it, q117's
    * argument), then per-doc islands merge overlapping/adjacent hits:
    * two length-K hits at p₁ < p₂ share a span iff p₂ ≤ p₁ + K, and
    * since positions arrive sorted, `lag(pos)` is the only lookback the
    * merge needs. The island windows partition by doc_id — bounded by
    * document length, never global. SubstrSpanSpec pins the span-merge
    * algebra (overlap, adjacency, break, multi-span docs) on a
    * synthetic fixture and re-derives the graded frame brute-force.
    *
    * This fixture's duplicated mass is whole-document injections, so
    * every graded span is a multi-hit merge (47 docs / 47 single-span
    * extents at sf0.01 — probed, not assumed); disjoint multi-span docs
    * are exercised by the spec fixture. */
  def q294DupSpans(s: SparkSession, dir: String): DataFrame =
    dupSpanCore(T(s, dir, "documents"))

  /** The q294 machinery on any (doc_id, text) frame — split out so
    * SubstrSpanSpec can drive synthetic overlap/adjacency/break/
    * multi-span fixtures through the exact graded plan. */
  private[ops] def dupSpanCore(docsIn: DataFrame): DataFrame = {
    val k = SpanK
    val sh = docsIn
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= k)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(w) - $k + 1), i -> struct(" +
          s"cast(i as bigint) as pos, " +
          s"md5(concat_ws(' ', slice(w, i, $k))) as h))")).as("sh"))
      .select(col("doc_id"), col("sh.pos").as("pos"), col("sh.h").as("h"))
    val dup = sh.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select("h")
    val wd = Window.partitionBy("doc_id").orderBy("pos")
    val wr = wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sh.join(dup, Seq("h"))
      .withColumn("brk",
        when(col("pos") > lag("pos", 1).over(wd) + k, 1L).otherwise(0L))
      .withColumn("sid", sum("brk").over(wr))
      .groupBy("doc_id", "sid")
      .agg(min("pos").as("span_start"),
        (max("pos") + lit(k.toLong - 1)).as("span_end"),
        count(lit(1)).as("n_hits"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"),
        col("n_hits"))
      .orderBy("doc_id", "span_start")
  }

  // ---- q295: keep-first line-level dedup (CCNet-style) -----------------

  /** q295's line length in tokens. The corpus carries no newlines, so
    * the CCNet "line" is a fixed 8-token segment — the documented
    * stand-in; the semantics under test (corpus-wide hash df + KEEP-ONE
    * ownership + within-doc positional reassembly) are unit-agnostic. */
  private[ops] val LineLen = 8
  /** Owner-key encoding base: `doc_id · 2²⁰ + sid` orders (doc_id, sid)
    * lexicographically as ONE BIGINT as long as sid < 2²⁰ — documents
    * are pipeline-bounded far below 2²⁰ segments (8M tokens), and the
    * encoding is shared verbatim with the oracle. */
  private[ops] val LineOwnBase = 1048576L

  /** The q295/q304 owner-key encoding `doc_id · 2²⁰ + sid`, with the
    * encoding's domain ENFORCED in-plan: a corpus that breaks the bound
    * (a document past 2²⁰ segments, or doc_id ≥ 2⁴³ where the product
    * would overflow BIGINT) raises instead of silently mis-ordering
    * ownership — wrong dedup must fail loudly, not pass quietly. The
    * guard is two codegen'd long comparisons per exploded segment;
    * `raise_error`'s NullType unifies with the BIGINT branch. */
  private def lineOwnKey: org.apache.spark.sql.Column = expr(
    s"CASE WHEN sid < $LineOwnBase AND doc_id >= 0 " +
      s"AND doc_id < ${Long.MaxValue / LineOwnBase} " +
      s"THEN doc_id * $LineOwnBase + sid " +
      "ELSE raise_error(concat('q295 owner-key out of range: doc_id=', " +
      "cast(doc_id as string), ' sid=', cast(sid as string))) END")

  /** q295: CCNet-style repeated-line removal with KEEP-FIRST ownership —
    * the corpus-dedup semantics q123 deliberately does not have: q123
    * EXCISES a duplicated segment from every document (a profile-grade
    * rewrite — all copies go), while real line/paragraph dedup keeps
    * exactly ONE copy (the globally first occurrence, ordered by
    * (doc_id, position)) so no content is lost from the corpus, and
    * every LATER occurrence — across documents and within one — drops.
    * Output is the reassembled text itself, not a digest: the oracle
    * checks the within-doc positional reassembly verbatim.
    *
    * Scale shape — q123's argument with ownership added: segmentation
    * is a codegen'd transform projection; the dedup shuffle carries
    * (doc_id, sid, md5) digests; ownership is a partial+final MIN
    * aggregate over the encoded (doc·2²⁰+sid) key — never a
    * per-hash-partition window, so a million-fold boilerplate line is
    * ONE build-side row and cannot skew anything; the per-doc drop-list
    * (bounded by duplicated positions) joins back to the INTACT doc row
    * (AQE broadcasts it while small) and the excision + reassembly is a
    * map-side `filter` + `concat_ws`. LineDedupSpec drives a synthetic
    * repetition corpus (shared line, within-doc repeat, unique tail)
    * and pins keep-first ownership both ways. */
  def q295LineDedup(s: SparkSession, dir: String): DataFrame =
    lineDedupCore(T(s, dir, "documents"))

  /** The q295 machinery on any (doc_id, text) frame — split out so
    * LineDedupSpec can drive a synthetic repetition corpus (shared
    * line, within-doc repeat, unique tail) through the graded plan. */
  private[ops] def lineDedupCore(docsIn: DataFrame): DataFrame = {
    val L = LineLen
    val docs = docsIn
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), expr(
        s"transform(sequence(1, (size(w) + $L - 1) div $L), " +
          s"i -> concat_ws(' ', slice(w, (i - 1) * $L + 1, $L)))").as("segs"))
    val ks = docs.select(col("doc_id"),
      posexplode(expr("transform(segs, x -> md5(x))")).as(Seq("p", "k")))
      .select(col("doc_id"), (col("p") + 1).cast("long").as("sid"), col("k"))
    val own = ks.groupBy("k")
      .agg(min(lineOwnKey).as("ok"), count(lit(1)).as("n"))
      .filter(col("n") >= 2)
      .select("k", "ok")
    val drops = ks.join(own, Seq("k"))
      .filter(lineOwnKey =!= col("ok"))
      .groupBy("doc_id")
      .agg(collect_list(col("sid")).as("drop_ids"))
    docs.join(drops, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("segs")).cast("long").as("n_segs"),
        expr("filter(segs, (x, i) -> drop_ids IS NULL OR " +
          "NOT array_contains(drop_ids, cast(i + 1 as bigint)))").as("kept"))
      .select(col("doc_id"), col("n_segs"),
        size(col("kept")).cast("long").as("n_kept"),
        concat_ws(" ", col("kept")).as("clean_text"))
      .orderBy("doc_id")
  }

  // ---- q304: post-dedup token accounting ---------------------------------

  /** q304: effective-dataset-size accounting after q295's keep-first
    * rewrite — the number every data card needs NEXT to its raw token
    * count: per language, docs, raw whitespace tokens, tokens surviving
    * the corpus-wide line dedup, and the survival share in bp. A mix
    * schedule built on raw counts over-weights boilerplate-heavy
    * sources; this is the corrected denominator. Composes the GRADED
    * q295 core verbatim (the oracle shares the CTE chain, so the
    * accounting can never drift from the rewrite it describes).
    *
    * Scale: one [[lineDedupCore]] pass + a doc-keyed lang join + a
    * language-sized aggregate. Empty rewrites count 0 tokens (the
    * `'' → 0` guard — `split('')` is a 1-element array in both
    * engines, the off-by-one the CASE exists to avoid). */
  def q304DedupAccounting(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    lineDedupCore(docs)
      .join(docs.select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("raw_tok")), "doc_id")
      .withColumn("kept_tok", expr(
        "CASE WHEN clean_text = '' THEN 0L " +
          "ELSE cast(size(split(clean_text, ' ')) as bigint) END"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("raw_tok").as("raw_tok"),
        sum("kept_tok").as("kept_tok"))
      .withColumn("kept_bp", expr("(kept_tok * 10000) div raw_tok"))
      .orderBy("lang")
  }

  // ---- q305: duplicated-span excision ------------------------------------

  /** q305: the excision q294's extents exist FOR — Lee et al.'s actual
    * rewrite: cut every duplicated span out of every document, keep the
    * unique remainder in original order, emit the cleaned text. Where
    * q295 drops whole repeated LINES keep-first (one copy survives
    * somewhere), span excision removes the duplicated run from EVERY
    * carrier — the memorization-suppression policy (no verbatim
    * ≥SpanK-token run survives anywhere it was shared).
    *
    * Composes the GRADED [[dupSpanCore]] verbatim; the oracle shares
    * the span CTE chain, so the cut coordinates can never drift from
    * the gauge's. Per-doc span lists are doc-length-bounded
    * (collect_list fine); the cut itself is a map-side `filter` with
    * an `exists` over the broadcast-able span list; docs with no spans
    * pass through on the left join's NULL branch. */
  def q305SpanExcision(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val dp = dupSpanCore(docs).groupBy("doc_id")
      .agg(collect_list(struct(col("span_start").as("s"),
        col("span_end").as("e"))).as("sp"))
    docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .join(dp, Seq("doc_id"), "left")
      .withColumn("kept", expr(
        "CASE WHEN sp IS NULL THEN w ELSE " +
          "filter(w, (x, i) -> NOT exists(sp, " +
          "p -> i + 1 >= p.s AND i + 1 <= p.e)) END"))
      .select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"),
        size(col("kept")).cast("long").as("n_kept"),
        concat_ws(" ", col("kept")).as("clean_text"))
      .orderBy("doc_id")
  }

  // ---- q310: the composed dedup flagship ---------------------------------

  /** q310: the r15 dedup additions composed into ONE plan — the pass a
    * real corpus build actually runs (q105's composed-flagship pattern
    * applied to the Lee-et-al/CCNet chain): duplicated-span detection →
    * span EXCISION from every carrier → keep-first LINE dedup over the
    * excised survivors → per-language token accounting, where q294→q305
    * and q295→q304 each re-ran their chains independently.
    *
    * The composition's scale move is SHARED EXCHANGES, not shared
    * prose: the positioned-shingle table is `repartition(h)`-ed ONCE and
    * both consumers (the distinct-doc frequency aggregate and the
    * position join-back) hang off that same exchange — Spark's
    * ReuseExchange collapses the two subtrees, so raw shingle rows
    * cross the wire exactly once (DedupPipelineSpec pins the
    * ReusedExchange node). The line stage's (doc, sid, md5)
    * keys share their `repartition(k)` exchange the same way. The
    * excised frame — consumed by the segmentation AND the final
    * accounting — is localCheckpointed once (the q215 multi-consumer
    * discipline), truncating the span lineage so no downstream
    * recompute ever re-runs the shingle join.
    *
    * Semantics pinned by the shared constants: [[SpanK]]-token spans,
    * ≥2 distinct docs, [[LineLen]]-token lines keep-first by the
    * guarded [[lineOwnKey]]; fully-excised docs carry 0 surviving
    * tokens and are excluded from segmentation (an empty rewrite has no
    * lines — the q304 `'' → 0` guard made structural). Output per
    * language: docs, raw tokens, tokens surviving span excision,
    * tokens surviving both passes, and each survival share in bp. */
  def q310DedupPipeline(s: SparkSession, dir: String): DataFrame = {
    val tok = T(s, dir, "documents")
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("w"))
    val excised = q310Excised(tok).localCheckpoint()
    val lineTok = lineCleanOf(excised)
      .select(col("doc_id"), expr(
        "CASE WHEN clean = '' THEN 0L " +
          "ELSE cast(size(split(clean, ' ')) as bigint) END").as("line_tok"))
    excised.join(lineTok, Seq("doc_id"), "left")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("raw_tok").as("raw_tok"),
        sum("span_tok").as("span_tok"),
        sum(coalesce(col("line_tok"), lit(0L))).as("line_tok"))
      .withColumn("span_bp", expr("(span_tok * 10000) div raw_tok"))
      .withColumn("line_bp", expr("(line_tok * 10000) div raw_tok"))
      .orderBy("lang")
  }

  /** q317's decontamination window: 4 consecutive tokens. Calibrated
    * against this corpus's duplication density (measured r17): 3-token
    * windows leave TWO survivors at sf0.1 (the synthetic near-dup
    * clusters share so many 3-grams with the eval holdout that an
    * any-overlap drop empties the corpus — the same reason production
    * decontamination uses long windows, e.g. 13-gram collision in
    * GPT-3/Lee et al), while ≥5-token windows drop nothing at the spec
    * scales. 4 bites at every SF (3/5/333 drops at sf0.001/0.01/0.1)
    * and leaves a healthy admitted corpus. */
  private[ops] val DeconK = 4

  /** q317: the END-TO-END corpus-build flagship (r17, the r16 verdict's
    * item 2) — the pipeline a pretraining data owner actually ships, as
    * ONE graded plan composed exclusively from shipped, individually-
    * graded stages:
    *
    *  1. INGEST — q161's real JSONL read-back (PERMISSIVE, corrupt
    *     lines routed out: doc_id % 37), eval holdout (doc_id % 97)
    *     excluded from the training corpus;
    *  2. CLEAN — q91's PII rewriters (email/URL masking) over the
    *     crawl-shaped contact-line suffix, so the cleaner genuinely
    *     rewrites and the masked boilerplate later exercises the line
    *     dedup exactly the way CCNet-style pipelines intend;
    *  3. QUALITY GATE at a q314-DERIVED threshold — the q83 exact
    *     integer-bp score over the cleaned tokens; the threshold is the
    *     LARGEST decile retaining ≥ 50% of corpus tokens, picked from
    *     an ≤11-row bucket aggregate collected driver-side (the q296
    *     batch-init class: bounded by the decile grid, never data);
    *  4. SPAN + LINE DEDUP — the q310 core VERBATIM ([[q310Excised]] +
    *     [[lineCleanOf]], shared shingle and line-key exchanges and all)
    *     over the gated corpus;
    *  5. DECONTAMINATE — q95's screen as a DROP: survivors sharing any
    *     word 3-gram with the raw eval holdout are removed (eval
    *     shingles broadcast — benchmark-sized);
    *  6. MIX — q150's per-language token-budget admission
    *     ([[TrainingData.budgetMixFrom]]: deterministic md5-shuffled
    *     order, composite-key global prefix scan, |langs|-row broadcast
    *     spec) denominated in SURVIVING tokens;
    *  7. PACK + MANIFEST — q92/q159's bin geometry over the admitted
    *     docs (global exclusive cumsum in doc order, 2000-token bins);
    *     the graded frame IS the shard manifest: (bin, slot, doc_id,
    *     lang, tokens, tok_offset).
    *
    * A hash match on the manifest certifies the WHOLE chain: membership
    * encodes ingest routing, the gate, full-excision drops, and
    * decontamination; `tokens` encodes cleaning and both dedup rewrites;
    * (bin, slot, tok_offset) encode the mix admission and the pack
    * geometry.
    *
    * Scale shape, stage by stage (each inherits its audited component):
    * the ingest is a line-splittable text scan with explicit schema; the
    * clean+score is one map-only projection materialized ONCE
    * (localCheckpoint — at 100 TB this is the parquet staging write
    * between pipeline phases, the q310 multi-consumer discipline) and
    * consumed by the 11-row curve aggregate and the gate; the span stage
    * shares its shingle exchange (ReuseExchange, pinned by
    * CorpusBuildSpec on THIS plan) and the line stage its line-key
    * exchange; decontamination broadcasts only eval shingles; the mix
    * and pack scans are the two-pass distributed prefix sums — no
    * single-task window anywhere. Spark's `sequence(1, n)` is DESCENDING
    * for n < 1 (unlike DuckDB's empty `range`), so every shingle
    * `transform` guards `size ≥ 3` explicitly. */
  def q317CorpusBuild(s: SparkSession, dir: String): DataFrame =
    corpusBuildStages(s, dir).manifest

  /** q317's intermediate frames, exposed so CorpusBuildSpec can pin
    * each stage's nonvacuity and inspect the executed shared-exchange
    * subplans — same pattern as [[q310Excised]]'s
    * split. `thr` is the driver-picked decile; every DataFrame is the
    * exact frame the manifest plan consumes. */
  private[graft] final case class CorpusBuildStages(
      thr: Int, gated: DataFrame, excised: DataFrame, fin: DataFrame,
      contaminated: DataFrame, survivors: DataFrame, admitted: DataFrame,
      manifest: DataFrame)

  private[graft] def corpusBuildStages(s: SparkSession,
                                       dir: String): CorpusBuildStages = {
    // 1. ingest: real JSONL read-back; corrupt routed out, eval held out
    val train = graft.sources.JsonlIngest.readBack(s, dir)
      .filter(col("_corrupt").isNull && col("doc_id") % 97 =!= 0)
      .select(col("doc_id"), col("lang"), col("text"))
    // 2.+3a. clean + score, one projection, materialized once
    val scored = train
      .withColumn("ctext", regexp_replace(regexp_replace(
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com see https://example.org/d/"), col("doc_id")),
        "[a-z0-9.]+@[a-z0-9.]+", "<email>"), "https?://[^ ]+", "<url>"))
      .select(col("doc_id"), col("lang"),
        expr("filter(split(ctext, ' '), x -> x != '')").as("w"))
      .filter(size(col("w")) > 0)
      .withColumn("n", size(col("w")).cast("long"))
      .withColumn("qbp", expr(
        "(2 * (10 * least(n, 100) * n + 750 * size(array_distinct(w)) + " +
          "750 * (n - size(filter(w, x -> x in ('the', 'a'))))) * 10000 " +
          "+ 2500 * n) div (2 * 2500 * n)"))
      .localCheckpoint()
    // 3b. q314-derived threshold: ≤11-row curve, driver-side pick
    // (bounded by the decile grid — the q296 batch-init class)
    val buckets = scored
      .groupBy(expr("least(qbp div 1000, 10)").as("b"))
      .agg(sum("n").as("btok"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val total = buckets.values.sum
    val thr = (0 to 10)
      .filter(t => buckets.filter(_._1 >= t).values.sum * 10000L >=
        5000L * total)
      .max
    val gated = scored.filter(col("qbp") >= lit(thr * 1000L))
      .select(col("doc_id"), col("lang"), col("w"))
    // 4. span + line dedup: the q310 core verbatim
    val excised = q310Excised(gated).localCheckpoint()
    val fin = excised.join(lineCleanOf(excised), Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("clean"), lit("")).as("ftext"))
      .withColumn("tok", expr("CASE WHEN ftext = '' THEN 0L " +
        "ELSE cast(size(split(ftext, ' ')) as bigint) END"))
      .filter(col("tok") > 0)
      .localCheckpoint()
    // 5. decontaminate: word 3-grams of the SURVIVING text vs the raw
    // eval holdout's (broadcast — benchmark-sized, the q95 argument)
    val K = DeconK
    val evalSh = T(s, dir, "documents").filter(col("doc_id") % 97 === 0)
      .select(expr("filter(split(text, ' '), x -> x != '')").as("ew"))
      .filter(size(col("ew")) >= K)
      .select(explode(expr(s"transform(sequence(1, size(ew) - ${K - 1}), " +
        s"i -> concat_ws(' ', slice(ew, i, $K)))")).as("sh"))
      .distinct()
    val contaminated = fin.filter(col("tok") >= K)
      .select(col("doc_id"), split(col("ftext"), " ").as("fw"))
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(fw) - ${K - 1}), " +
          s"i -> concat_ws(' ', slice(fw, i, $K)))")).as("sh"))
      .join(broadcast(evalSh), Seq("sh"))
      .select("doc_id").distinct()
    val survivors = fin.join(contaminated, Seq("doc_id"), "left_anti")
    // 6. mix: q150's admission core over surviving tokens
    val admitted = TrainingData.budgetMixFrom(s,
      survivors.select(col("doc_id"), col("lang"), col("tok")), col("tok"))
    // 7. pack + manifest: q92/q159's bin geometry over the admission
    val packed = ScalableRank.withGlobalCumsumExclusive(
      admitted.select(col("doc_id"), col("lang"), col("tok")),
      col("tok"), "cumex", col("doc_id").asc)
      .withColumn("bin", expr("cumex div 2000"))
    val manifest = packed
      .withColumn("slot", row_number()
        .over(Window.partitionBy("bin").orderBy("doc_id")).cast("long"))
      .select(col("bin"), col("slot"), col("doc_id"), col("lang"),
        col("tok").as("tokens"),
        (col("cumex") - col("bin") * 2000).as("tok_offset"))
      .orderBy("bin", "slot")
    CorpusBuildStages(thr, gated, excised, fin, contaminated, survivors,
      admitted, manifest)
  }

  /** q310's span-excision stage on any (doc_id, lang, w) token frame —
    * the pre-checkpoint subplan, split out so DedupPipelineSpec can pin
    * the SHARED SHINGLE EXCHANGE on the exact graded plan (the
    * checkpoint in q310 executes this subtree before the caller can
    * inspect it). Two deliberate canonical-identity moves keep
    * ReuseExchange live:
    *  - the df aggregate also counts `pos` rows (`np` — implied by
    *    nd ≥ 2, so semantics are unchanged) so column pruning cannot
    *    specialize the aggregate branch's copy of the exchange child
    *    by dropping `pos`;
    *  - both consumers therefore hang off ONE
    *    `repartition(h)` subtree, and the raw shingle rows cross the
    *    wire exactly once (vs the uncomposed q294 shape, which pays the
    *    shingle exchange twice: once partially aggregated, once raw). */
  private[graft] def q310Excised(tok: DataFrame): DataFrame = {
    val k = SpanK
    // the isNotNull is load-bearing for reuse: the excision's broadcast
    // join infers isnotnull(doc_id) on the spans branch and would push
    // it below ONE copy of the exchange; stating it below BOTH keeps
    // the children canonically identical
    val sh = tok.filter(size(col("w")) >= k && col("doc_id").isNotNull)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(w) - $k + 1), i -> struct(" +
          s"cast(i as bigint) as pos, " +
          s"md5(concat_ws(' ', slice(w, i, $k))) as h))")).as("sh"))
      .select(col("doc_id"), col("sh.pos").as("pos"), col("sh.h").as("h"))
      .repartition(col("h"))
    // max(pos) ≥ 1 is a tautology (positions are 1-based) kept ONLY so
    // column pruning cannot drop pos from this branch's copy of the
    // exchange child (a count(pos) gets rewritten to count(1) and
    // pruned the same way — max survives)
    val dup = sh.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("nd"), max("pos").as("mp"))
      .filter(col("nd") >= 2 && col("mp") >= 1).select("h")
    val wd = Window.partitionBy("doc_id").orderBy("pos")
    val wr = wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val spans = sh.join(dup, Seq("h"))
      .withColumn("brk",
        when(col("pos") > lag("pos", 1).over(wd) + k, 1L).otherwise(0L))
      .withColumn("sid", sum("brk").over(wr))
      .groupBy("doc_id", "sid")
      .agg(min("pos").as("s"), (max("pos") + lit(k.toLong - 1)).as("e"))
      .groupBy("doc_id")
      .agg(collect_list(struct(col("s"), col("e"))).as("sp"))
    tok.join(spans, Seq("doc_id"), "left")
      .withColumn("kw", expr(
        "CASE WHEN sp IS NULL THEN w ELSE " +
          "filter(w, (x, i) -> NOT exists(sp, " +
          "p -> i + 1 >= p.s AND i + 1 <= p.e)) END"))
      .select(col("doc_id"), col("lang"),
        size(col("w")).cast("long").as("raw_tok"),
        size(col("kw")).cast("long").as("span_tok"), col("kw"))
  }

  /** q310's keep-first LINE-dedup stage on an excised frame —
    * `(doc_id, …, span_tok, kw)` → `(doc_id, clean)`, the re-joined
    * surviving text. Factored out (r17) so the q317 corpus-build
    * flagship runs the IDENTICAL stage (same segmentation, same guarded
    * [[lineOwnKey]], same shared `repartition(k)` exchange) rather than
    * a re-derivation that could drift.
    *
    * ONE line-key exchange, shared by ownership agg and join-back. The
    * explicit isNotNull keeps the two consumers' exchange children
    * CANONICALLY IDENTICAL: the drops branch's null-rejecting filter
    * (lineOwnKey ≠ ok) makes the optimizer infer isnotnull(doc_id) on
    * that branch alone, which would otherwise specialize its copy of
    * the exchange subtree and defeat ReuseExchange (probed, not
    * assumed — DedupPipelineSpec pins single-materialization). */
  private[graft] def lineCleanOf(excised: DataFrame): DataFrame = {
    val L = LineLen
    val segd = excised.filter(col("span_tok") > 0)
      .select(col("doc_id"), expr(
        s"transform(sequence(1, (size(kw) + $L - 1) div $L), " +
          s"i -> concat_ws(' ', slice(kw, (i - 1) * $L + 1, $L)))")
        .as("segs"))
    val ks = segd.select(col("doc_id"),
        posexplode(expr("transform(segs, x -> md5(x))")).as(Seq("p", "k")))
      .select(col("doc_id"), (col("p") + 1).cast("long").as("sid"),
        col("k"))
      .filter(col("doc_id").isNotNull)
      .repartition(col("k"))
    val own = ks.groupBy("k")
      .agg(min(lineOwnKey).as("ok"), count(lit(1)).as("n"))
      .filter(col("n") >= 2).select("k", "ok")
    val drops = ks.join(own, Seq("k"))
      .filter(lineOwnKey =!= col("ok"))
      .groupBy("doc_id").agg(collect_list(col("sid")).as("drop_ids"))
    segd.join(drops, Seq("doc_id"), "left")
      .select(col("doc_id"), expr(
        "concat_ws(' ', filter(segs, (x, i) -> drop_ids IS NULL OR " +
          "NOT array_contains(drop_ids, cast(i + 1 as bigint))))")
        .as("clean"))
  }

  /** q123: segment-level dedup REWRITE — the excision counterpart to
    * q117's profile. RefinedWeb/C4-style pipelines don't just measure
    * repeated spans, they REMOVE them and keep the rest of the document;
    * this op splits each doc into fixed 10-word segments, drops every
    * segment whose exact text occurs in more than one DISTINCT document
    * (corpus-wide boilerplate), and reconstructs the cleaned text in
    * original order. Output is (doc_id, n_seg, n_kept, clean_md5) — the
    * cleaned text itself is digested so the result stays narrow.
    *
    * Scale shape — the q105 hash-first discipline extended to a rewrite:
    * segmentation is a codegen'd `transform`/`slice` projection (one pass,
    * map-only); the explode that feeds the dup-detection shuffle carries
    * (doc_id, seg_id, md5) — 32-byte digests, never segment text; the
    * dup-key side collapses per key in its aggregate (a million-fold
    * boilerplate segment is ONE row); the per-doc drop-list is bounded by
    * duplicated positions and joins back to the INTACT doc row (AQE
    * broadcasts it while small — the doc side never shuffles), and the
    * excision itself is an indexed-lambda `filter` over the already-built
    * segment array. The only text that ever moves is the final digest —
    * the presentation sort carries 4 narrow columns. */
  def q123SegmentDedup(s: SparkSession, dir: String): DataFrame =
    cleanedDocs(s, dir)
      .select(col("doc_id"), col("n_seg"),
        size(col("kept")).as("n_kept"),
        md5(concat_ws(" ", col("kept"))).as("clean_md5"))
      .orderBy("doc_id")

  /** The excision stage shared by q123 (digest profile) and q130 (the
    * composed mix pipeline): per doc, (lang, n_seg, kept = the ordered
    * array of segments surviving corpus-wide dedup). See
    * [[q123SegmentDedup]] for the scale shape. */
  private def cleanedDocs(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("words"))
      .select(col("doc_id"), col("lang"), expr(
        "transform(sequence(0, cast(ceil(size(words) / 10.0) as int) - 1), " +
          "i -> concat_ws(' ', slice(words, i * 10 + 1, 10)))").as("segs"))
    val ks = docs.select(col("doc_id"),
      posexplode(expr("transform(segs, x -> md5(x))")).as(Seq("seg_id", "k")))
    val dup = ks.groupBy("k")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") > 1)
      .select("k")
    val dropPos = ks.join(dup, Seq("k"))
      .groupBy("doc_id")
      .agg(collect_list(col("seg_id")).as("drop_ids"))
    docs.join(dropPos, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), size(col("segs")).as("n_seg"), expr(
        "filter(segs, (x, i) -> drop_ids IS NULL OR NOT array_contains(drop_ids, i))")
        .as("kept"))
  }

  /** q130: the composed training-mix pipeline — the training-data-side
    * counterpart to q105's curation flagship, built ONLY from stages the
    * library already ships: q123's corpus-wide segment excision (docs
    * that lose every segment drop out), q129's exact-integer weighted
    * bottom-k sampling over the CLEANED docs (same language weights,
    * same 48-bit ticket contract — a doc's tickets depend only on
    * doc_id, so sampling composes with any upstream rewrite), q89's
    * deterministic md5 split, and a per-(lang, split) rollup of docs and
    * cleaned characters. Every stage is exact-integer/digest arithmetic:
    * the one corpus-sized text movement is the excision's own broadcast
    * join-back, after which only (doc_id, lang, clean_chars) narrows
    * through the sample and rollup. Bottom-400 plans as
    * `TakeOrderedAndProject`; everything after it is 400 rows. */
  def q130MixPipeline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cleaned = cleanedDocs(s, dir)
      .select(col("doc_id"), col("lang"),
        length(concat_ws(" ", col("kept"))).as("clean_chars"),
        size(col("kept")).as("n_kept"))
      .filter(col("n_kept") > 0)
    val weights = broadcast(TrainingData.ticketWeights.toDF("lang", "w"))
    val sampled = cleaned.join(weights, Seq("lang"))
      .select(col("doc_id"), col("lang"), col("clean_chars"),
        explode(expr("sequence(1, w)")).as("k"))
      .select(col("doc_id"), col("lang"), col("clean_chars"),
        TrainingData.ticketExpr("k").as("ticket"))
      .groupBy("doc_id", "lang", "clean_chars")
      .agg(min(col("ticket")).as("min_ticket"))
      .orderBy(col("min_ticket"), col("doc_id"))
      .limit(400)
    sampled
      .select(col("lang"), col("clean_chars"),
        TrainingData.md5Split(TrainingData.md5Bucket100).as("split"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"), sum(col("clean_chars")).as("sum_chars"))
      .orderBy("lang", "split")
  }

  /** q166: the dataset DATA CARD — the one-row datasheet a corpus
    * release ships with (counts, token totals in both denominations,
    * language/source breadth, exact-duplicate mass, the largest
    * document): the profiling query every pipeline runs before and
    * after curation. Every metric is an exact integer (counts and
    * sums — the q83 no-floats-in-compare discipline), and everything
    * computes in ONE partial+final aggregate pass over a single scan —
    * the two distinct-counts rewrite to the standard expand+two-phase
    * aggregation, still one scan of the corpus. */
  def q166DataCard(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .select(col("lang"), col("source"),
        size(expr("filter(split(text, ' '), x -> x != '')")).cast("long")
          .as("ws"),
        graft.functions.Bpe.count(col("text")).as("btok"),
        md5(col("text")).as("digest"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        sum("ws").as("ws_tokens"),
        sum("btok").as("bpe_tokens"),
        (count(lit(1)) - countDistinct(col("digest"))).as("n_exact_dups"),
        max("btok").as("max_doc_btok"))

  /** q167: snapshot diff — dataset-versioning reconciliation between
    * corpus snapshot A (the documents table) and snapshot B (a
    * deterministic in-query evolution of it: every 13th doc deleted,
    * every 17th doc's text amended, every 29th doc re-added under a
    * shifted id): a FULL OUTER join on doc_id comparing content
    * digests classifies every id as added / removed / changed /
    * unchanged — the audit a pipeline runs between dataset releases
    * (SCD2's q98 tracks row history; q167 reconciles whole corpus
    * versions). The join carries (doc_id, digest) only — never text —
    * and the report is one partial+final aggregate. */
  def q167SnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val a = T(s, dir, "documents")
      .select(col("doc_id"), md5(col("text")).as("dig_a"))
    val base = T(s, dir, "documents")
    val b = base.filter(col("doc_id") % 13 =!= 0)
      .select(col("doc_id"),
        md5(when(col("doc_id") % 17 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text"))).as("dig_b"))
      .unionAll(base.filter(col("doc_id") % 29 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"),
          md5(col("text")).as("dig_b")))
    a.join(b, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("dig_a").isNull, lit("added"))
          .when(col("dig_b").isNull, lit("removed"))
          .when(col("dig_a") =!= col("dig_b"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
      .groupBy("status")
      .agg(count(lit(1)).as("n"), min("doc_id").as("min_id"),
        max("doc_id").as("max_id"))
      .orderBy("status")
  }

  /** q188: token-distribution DRIFT between two corpus snapshots — the
    * data-drift monitor a production pipeline runs when a crawl
    * increment lands: total-variation distance between the old
    * snapshot's and the new snapshot's word distributions, plus the
    * top-10 movers. TVD = Σ_w |cA_w·NB − cB_w·NA| / (2·NA·NB) — chosen
    * over KL precisely because it needs NO logarithm: with the cross-
    * multiplied form every compared quantity is an exact integer (the
    * q83/q172 no-transcendentals discipline), reported in half-up
    * basis points via the r4 formula. The old snapshot is the
    * deterministic in-query derivation `doc_id % 7 != 0` (the q183
    * pattern: the oracle recomputes the same split semantically).
    *
    * Scale shape: one corpus token scan, two vocabulary-sized
    * partial+final aggs sharing it (old counts under a filter, new
    * counts unfiltered — computed in ONE groupBy via conditional sum),
    * a 1-row totals broadcast (named bounded crossJoin), and the
    * top-10 movers plan as TakeOrdered — no global sort, no window.
    * Counts cast to decimal(38,0) BEFORE the cross-multiply: c·N is
    * fine in long at test scale but overflows at a 10¹²-token corpus;
    * decimal keeps the arithmetic exact at any scale (DuckDB twin uses
    * HUGEINT). */
  def q188TokenDrift(s: SparkSession, dir: String): DataFrame = {
    val counts = T(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word")
      .agg(sum(when(col("doc_id") % 7 =!= 0, 1L).otherwise(0L)).as("ca"),
        count(lit(1)).as("cb"))
    val totals = counts.agg(
      sum("ca").cast("decimal(38,0)").as("na"),
      sum("cb").cast("decimal(38,0)").as("nb"))
    val deltas = counts.crossJoin(broadcast(totals)) // 1-row totals
      .withColumn("d",
        abs(col("ca").cast("decimal(38,0)") * col("nb")
          - col("cb").cast("decimal(38,0)") * col("na")))
    val tvdBp = deltas
      .agg(sum(col("d")).as("num"), max(col("na") * col("nb")).as("nn"))
      // r4 half-up with den = 2·NA·NB: (2·num·10⁴ + den) div (2·den).
      // An empty snapshot (nn = 0) is DEFINED as total drift, not NULL
      // (r11 review; DriftMonitor shares the contract)
      .select(expr("cast(CASE WHEN nn = 0 THEN 10000 ELSE " +
        "(2 * num * 10000 + 2 * nn) div (4 * nn) END as long)")
        .as("tvd_bp"))
    deltas
      .select(col("word"), col("ca").as("c_old"), col("cb").as("c_new"),
        // per-word |share_old − share_new| in bp: r4(d, NA·NB)
        expr("cast(CASE WHEN na * nb = 0 THEN 10000 ELSE " +
          "(2 * d * 10000 + na * nb) div (2 * na * nb) END as long)")
          .as("dshare_bp"),
        col("d"))
      .orderBy(col("d").desc, col("word"))
      .limit(10)
      .crossJoin(broadcast(tvdBp)) // 1-row global TVD rides every row
      .select(col("word"), col("c_old"), col("c_new"), col("dshare_bp"),
        col("tvd_bp"))
      .orderBy(col("dshare_bp").desc, col("word"))
  }

  /** q219: two-sample Kolmogorov–Smirnov drift test on `n_chars`
    * between the even-/odd-doc_id snapshot halves — the CONTINUOUS
    * complement of q188's categorical TVD: TVD asks "did the token MIX
    * move", KS asks "did a numeric DISTRIBUTION move, and at which
    * value" (the length-distribution shift that signals a changed
    * extractor or a new source). The statistic is exact end-to-end:
    * D = max over distinct values of |F₁·n₂ − F₂·n₁| / (n₁·n₂), kept
    * as the cross-multiplied NUMERATOR (decimal(38,0) — n₁·n₂ exceeds
    * BIGINT at real corpus sizes, q188's discipline) until one final
    * floor-scaled division; the argmax value reports WHERE the
    * distributions diverge (tie → smallest value).
    *
    * Scale shape: one partial+final aggregate collapses the corpus to
    * the DISTINCT-VALUE histogram with both sides' counts as
    * conditional sums (one scan, q188's trick); the two ecdf prefix
    * sums are ScalableRank.withGlobalCumsumExclusive passes — the
    * distributed prefix-scan, never a single-task global window — and
    * they run over the value-domain-bounded histogram, not the corpus;
    * the totals are a 1-row broadcast crossJoin (bounded class) and
    * the argmax is a TakeOrdered limit 1. Output is ONE row. */
  def q219KsDrift(s: SparkSession, dir: String): DataFrame = {
    // NULL values carry no distribution evidence and would split the
    // sort-order contract (Spark seats NULLs first, DuckDB's window
    // default last) — excluded identically in both engines
    val counts = T(s, dir, "documents")
      .select(col("n_chars"), (col("doc_id") % 2).as("g"))
      .filter(col("n_chars").isNotNull)
      .groupBy("n_chars")
      .agg(sum(when(col("g") === 0, 1L).otherwise(0L)).as("c1"),
        sum(when(col("g") =!= 0, 1L).otherwise(0L)).as("c2"))
    val cum = ScalableRank.withGlobalCumsumExclusive(
      ScalableRank.withGlobalCumsumExclusive(
        counts, col("c1"), "p1", col("n_chars")),
      col("c2"), "p2", col("n_chars"))
    // totals from the CHECKPOINTED histogram — summing `counts` itself
    // would re-scan the corpus for numbers `cum` already carries
    val totals = cum.agg(
      sum("c1").cast("decimal(38,0)").as("n1"),
      sum("c2").cast("decimal(38,0)").as("n2"))
    cum.crossJoin(broadcast(totals)) // 1-row totals
      .withColumn("f1", (col("p1") + col("c1")).cast("decimal(38,0)"))
      .withColumn("f2", (col("p2") + col("c2")).cast("decimal(38,0)"))
      .withColumn("d_num", abs(col("f1") * col("n2") - col("f2") * col("n1")))
      .orderBy(col("d_num").desc, col("n_chars"))
      .limit(1)
      .select(col("n1").cast("long").as("n1"),
        col("n2").cast("long").as("n2"),
        col("n_chars").as("at_value"),
        expr("cast(CASE WHEN n1 * n2 = 0 THEN 10000 ELSE " +
          "(d_num * 10000) div (n1 * n2) END as long)").as("d_bp"))
  }

  // ---- q297: Mann-Whitney U drift ---------------------------------------

  /** q297: exact Mann-Whitney U (Wilcoxon rank-sum) drift — the
    * LOCATION-shift companion to q219's KS: KS's max-ECDF-gap is most
    * sensitive near the middle of the distribution and treats any shape
    * difference alike; the rank-sum statistic targets the question a
    * drift review actually asks ("did the new cohort's values move UP
    * or DOWN?") with a signed answer and a variance-calibrated alarm.
    * Same cohort split as q219 (doc_id parity over n_chars) so the two
    * gauges read the same experiment.
    *
    * Exactness — no midranks anywhere: over the DISTINCT-value count
    * frame (c1, c2 per value), `2U₁ = Σ c1·(2·C2< + c2)` counts each
    * cross-pair win twice and each tie once, so DOUBLING U keeps tie
    * halves integral (the q237-style offset trick applied to ranks).
    * The alarm is the normal approximation with the EXACT tie-corrected
    * variance, evaluated entirely in integers: with N = n1+n2,
    * T = Σ(t³−t) over tie groups, tie_q = T div (N(N−1)), the statistic
    * `z² ≈ 3·dev² div (n1·n2·(N+1−tie_q))` for dev = 2U − n1·n2, and
    * drift fires at z² > 4 (|z| > 2). Every product rides
    * decimal(38,0)/HUGEINT; 3·dev² ≤ 3(n1n2)² bounds the chain to
    * N ≲ 4·10⁹ rows — beyond that, pre-aggregate the value domain
    * (the counts frame, not the corpus, is the input).
    *
    * Scale shape: q219's verbatim — one corpus-sized (value, cohort)
    * count aggregate, ScalableRank's two-pass exclusive cumsum over the
    * value-bounded count frame (never a single-task window), one final
    * scalar aggregate. MwuDriftSpec drives a shifted synthetic cohort
    * (alarm fires) and the stationary real corpus (silent) through the
    * same core and re-derives U brute-force from pairs. */
  def q297MwuDrift(s: SparkSession, dir: String): DataFrame =
    mwuCore(T(s, dir, "documents")
      .select(col("n_chars"), (col("doc_id") % 2).as("g"))
      .filter(col("n_chars").isNotNull)
      .groupBy("n_chars")
      .agg(sum(when(col("g") === 0, 1L).otherwise(0L)).as("c1"),
        sum(when(col("g") =!= 0, 1L).otherwise(0L)).as("c2")))

  /** The q297 machinery on any (value, c1, c2) count frame — split out
    * so MwuDriftSpec can drive shifted/stationary synthetic cohorts
    * through the graded plan. Expects the frame keyed by a column
    * literally named `n_chars` (the sort key of the cumsum). */
  private[ops] def mwuCore(counts: DataFrame): DataFrame = {
    val cum = ScalableRank.withGlobalCumsumExclusive(
      counts, col("c2"), "p2", col("n_chars"))
    cum.agg(
      sum("c1").cast("decimal(38,0)").as("n1"),
      sum("c2").cast("decimal(38,0)").as("n2"),
      sum(col("c1").cast("decimal(38,0)")
        * (lit(2) * col("p2") + col("c2"))).as("u2d"),
      sum((col("c1") + col("c2")).cast("decimal(38,0)")
        * (col("c1") + col("c2")) * (col("c1") + col("c2"))
        - (col("c1") + col("c2"))).as("tt"))
      .withColumn("nn", col("n1") + col("n2"))
      .withColumn("tie_qd",
        expr("CASE WHEN nn >= 2 THEN tt div (nn * (nn - 1)) ELSE 0 END"))
      .withColumn("devd", col("u2d") - col("n1") * col("n2"))
      .withColumn("z2d", expr(
        "CASE WHEN n1 * n2 > 0 AND nn + 1 - tie_qd > 0 THEN " +
          "(3 * devd * devd) div (n1 * n2 * (nn + 1 - tie_qd)) " +
          "ELSE 0 END"))
      .select(col("n1").cast("long").as("n1"),
        col("n2").cast("long").as("n2"),
        col("u2d").cast("long").as("u2"),
        col("devd").cast("long").as("dev"),
        col("tie_qd").cast("long").as("tie_q"),
        col("z2d").cast("long").as("z2"),
        (col("z2d") > 4).as("drifted"))
  }

  // ---- q306: chi-square drift ---------------------------------------------

  /** q306's bin width over n_chars — equi-width bins are the
    * categorical-test framing (the equi-depth alternative is q225's
    * histogram; either feeds the same statistic). */
  private[ops] val Chi2BinW = 50L

  /** χ²₀.₀₅ critical values for df = 1..30, in centi-units — the
    * pinned constant table (q278's Benford-table discipline). df > 30
    * clamps to the last entry (document the clamp; at df that large
    * the test is usually rebinned anyway). */
  private[ops] val Chi2Crit05X100: Seq[Long] = Seq(
    384L, 599L, 781L, 949L, 1107L, 1259L, 1407L, 1551L, 1692L, 1831L,
    1968L, 2103L, 2236L, 2368L, 2500L, 2630L, 2759L, 2887L, 3014L, 3141L,
    3267L, 3392L, 3517L, 3641L, 3765L, 3889L, 4011L, 4134L, 4256L, 4377L)

  /** q306: two-sample chi-square drift — the BINNED/CATEGORICAL member
    * completing the drift triad (q219 KS reads the worst ECDF gap,
    * q297 MWU the location shift, χ² the overall binned divergence —
    * the PSI-style monitor reviewers actually deploy, minus PSI's
    * logarithm, which has no exact integer form). Same parity cohorts
    * over n_chars, equi-width [[Chi2BinW]] bins.
    *
    * Exactness: the two-sample statistic with pooled expectations is
    * `X² = Σ_b (o1·n2 − o2·n1)² / (n1·n2·(o1+o2))` — evaluated as the
    * sum of PER-BIN centi-unit floors (`·100 div`, decimal(38,0)
    * products; a DEFINED statistic, identical in both engines,
    * under-reading true X² by < bins/100). The alarm compares against
    * the pinned [[Chi2Crit05X100]] table at df = bins − 1. Bound:
    * (o·n)²·100 holds to N ≲ 10⁹ rows — past that, pre-aggregate the
    * bin domain (the counts frame is the input).
    *
    * Scale shape: one corpus-sized (bin, cohort) count aggregate, a
    * 1-row totals broadcast, one scalar aggregate — q219's class.
    * Chi2DriftSpec fires the alarm on a shifted synthetic cohort
    * through this core and pins the real split silent. */
  def q306Chi2Drift(s: SparkSession, dir: String): DataFrame =
    chi2Core(T(s, dir, "documents")
      .select(expr(s"n_chars div $Chi2BinW").as("bin"),
        (col("doc_id") % 2).as("g"))
      .filter(col("bin").isNotNull)
      .groupBy("bin")
      .agg(sum(when(col("g") === 0, 1L).otherwise(0L)).as("o1"),
        sum(when(col("g") =!= 0, 1L).otherwise(0L)).as("o2")))

  /** The q306 machinery on any (bin, o1, o2) count frame — split out
    * so Chi2DriftSpec can drive shifted/stationary synthetic cohorts
    * through the graded plan. */
  private[ops] def chi2Core(counts: DataFrame): DataFrame = {
    val totals = counts.agg(
      sum("o1").cast("decimal(38,0)").as("n1"),
      sum("o2").cast("decimal(38,0)").as("n2"))
    val critArr = Chi2Crit05X100.mkString("array(", "L, ", "L)")
    counts.crossJoin(broadcast(totals)) // 1-row totals (q219 class)
      .withColumn("term", expr(
        "((cast(o1 as decimal(38,0)) * n2 - cast(o2 as decimal(38,0)) * n1)" +
          " * (cast(o1 as decimal(38,0)) * n2 - cast(o2 as decimal(38,0)) * n1)" +
          " * 100) div (n1 * n2 * (o1 + o2))"))
      .agg(count(lit(1)).as("n_bins"),
        max(col("n1")).cast("long").as("n1"),
        max(col("n2")).cast("long").as("n2"),
        sum("term").cast("long").as("x2_x100"))
      // greatest(…, 1): a degenerate single-bin corpus has df = 0, and
      // element_at(arr, 0) THROWS in Spark while DuckDB's arr[0] silently
      // NULLs — clamping to df = 1 (mirrored in the oracle) makes the
      // degenerate case defined and identical on both engines (the most
      // conservative critical value; with one bin x2 = 0, so drifted is
      // false either way).
      .withColumn("df",
        expr(s"greatest(least(n_bins - 1, ${Chi2Crit05X100.size}), 1)"))
      .withColumn("crit_x100",
        expr(s"element_at($critArr, cast(df as int))"))
      .withColumn("drifted", col("x2_x100") > col("crit_x100"))
      .select("n_bins", "df", "n1", "n2", "x2_x100", "crit_x100", "drifted")
  }

  /** q224: corpus release gate — the thresholded go/no-go verdict table
    * a training-data publish runs LAST, completing the gate triad (q191
    * verdicts per DOCUMENT, q207 per WAREHOUSE TABLE, q224 per CORPUS):
    * six checks, one `(check, value, threshold, ok)` row each, every
    * value an exact integer and every verdict an integer comparison —
    * volume floor, exact-dup rate (md5 groups, basis points), language
    * coverage, quality-pass share (q191's min-words rule at corpus
    * grain), distribution drift (the ACTUAL q219 op composed as a
    * subquery — the gate consumes the gauge, q181's composition
    * discipline), and token budget.
    *
    * The fixture fires BOTH verdicts genuinely (the q191/q207 bar): the
    * volume, dup, language, and drift checks pass while quality share
    * (7880bp < 8000bp) and token budget genuinely fail — a gate whose
    * fail path never fires is untested.
    *
    * Scale shape: ONE documents scan under a single aggregate carries
    * five of the six values (the two count-distincts share the q166
    * Expand rewrite — 3× row multiplication, the accepted datasheet
    * cost); the five rows EXPLODE from that one aggregate row (q207's
    * discipline — never a union of aggregate-subtree copies); the drift
    * row is q219's own plan (its corpus scan collapsed into the
    * checkpointed histogram) unioned on. Output is 6 rows. */
  def q224CorpusGate(s: SparkSession, dir: String): DataFrame = {
    // word count + min-words floor are Curation's SHARED definitions
    // (the gate's quality check IS q191's rule at corpus grain — one
    // edit point); NULL text carries no mass and would split the weight
    // contract (q223's discipline), so it is excluded identically in
    // both engines
    val agg = T(s, dir, "documents")
      .select(col("text"), col("lang"),
        expr(Curation.WordCountSql).as("w"))
      .filter(col("w") >= 0L)
      .agg(count(lit(1)).as("n"),
        countDistinct(md5(col("text"))).as("nd"),
        countDistinct(col("lang")).as("nl"),
        sum(when(col("w") >= Curation.MinWords.toLong, 1L).otherwise(0L))
          .as("npass"),
        sum("w").as("ntok"))
    def row(check: String, value: Column, thr: Long, ok: Column) =
      struct(lit(check).as("check"), value.cast("long").as("value"),
        lit(thr).as("threshold"), ok.as("ok"))
    val corpusRows = agg.select(explode(array(
        row("a_min_docs", col("n"), 100L, col("n") >= 100L),
        row("b_dup_rate_bp", expr("(n - nd) * 10000 div n"), 100L,
          expr("(n - nd) * 10000 div n") <= 100L),
        row("c_lang_coverage", col("nl"), 3L, col("nl") >= 3L),
        row("d_quality_share_bp", expr("npass * 10000 div n"), 8000L,
          expr("npass * 10000 div n") >= 8000L),
        row("f_token_budget", col("ntok"), 100000L,
          col("ntok") >= 100000L))).as("_r"))
      .select(col("_r.check"), col("_r.value"), col("_r.threshold"),
        col("_r.ok"))
    val drift = q219KsDrift(s, dir)
      .select(lit("e_ks_drift_bp").as("check"), col("d_bp").as("value"),
        lit(2000L).as("threshold"), (col("d_bp") <= 2000L).as("ok"))
    corpusRows.unionByName(drift).orderBy("check")
  }

  /** q202: robust daily-volume anomaly detection — the ingest guard a
    * production pipeline runs BEFORE training on a day's data ("did a
    * source silently double, halve, or vanish?"): per event type, flag
    * days whose count deviates from the type's median daily count by
    * more than 2.5× the median absolute deviation. Median/MAD instead
    * of mean/stddev because the statistic must not be dragged by the
    * very anomalies it hunts; and both are the LOWER median (value at
    * row ⌈n/2⌉ under (value, day) order) so every quantity — median,
    * MAD, the 2.5× test via cross-multiplication (2·dev > 5·max(mad,1))
    * — is an exact integer in both engines, no interpolation, no
    * doubles (the q191 cross-multiplication discipline; max(mad,1)
    * keeps a zero MAD from flagging every nonzero deviation).
    *
    * Scale shape: the only corpus-sized stage is the (type, day)
    * count — scan-shaped partial+final agg — and that is STATICALLY
    * true of the plan, not an AQE reuse accident: the median is
    * broadcast within the per-type window (`max(when(rn = ⌈n/2⌉,
    * cnt))` over the whole partition) instead of filter + join-back,
    * so the counts subtree appears ONCE. Everything after runs on the
    * counts table, which is CALENDAR-bounded (types × days — a decade
    * of a 100 TB stream is ~3650 rows/type), so the per-type windows
    * are bounded by policy, not data; the three windows share one
    * event_type exchange (the MAD pass only re-sorts). */
  def q202VolumeAnomaly(s: SparkSession, dir: String): DataFrame = {
    val DayUs = T.DayUs

    val wAll = Window.partitionBy("event_type")
    def withLowerMedian(df: DataFrame, valueCol: String, out: String): DataFrame = {
      val w = Window.partitionBy("event_type").orderBy(col(valueCol), col("day"))
      df.withColumn("rn", row_number().over(w))
        .withColumn(out,
          max(when(col("rn") === expr("(n + 1) div 2"), col(valueCol)))
            .over(wAll))
        .drop("rn")
    }

    val c = T.events(s, dir)
      .select(col("event_type"), expr(s"tus div $DayUs").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("cnt"))
      .withColumn("n", count(lit(1)).over(wAll))
    val d = withLowerMedian(c, "cnt", "med")
      .withColumn("dev", abs(col("cnt") - col("med")))
    withLowerMedian(d, "dev", "mad")
      .filter(lit(2) * col("dev") > lit(5) * greatest(col("mad"), lit(1L)))
      .select(col("event_type"), (col("day") * DayUs).as("day_us"),
        col("cnt"), col("med"), col("mad"))
      .orderBy("event_type", "day_us")
  }

  /** q255: CUSUM level-shift detection over daily volumes — the REGIME
    * gauge q202 cannot be: MAD flags single anomalous DAYS (spikes),
    * but a source that quietly settles at +30% never produces one
    * outlier day — only a sustained small deviation whose CUMULATIVE
    * sum is the signal (the Page/CUSUM change-point classic, the "did
    * the upstream silently change" question every ingest dashboard
    * asks). Per event type: one-sided positive and negative CUSUMs
    * over daily counts against the type's lower-median target with a
    * 10% slack band, alarm when the cumulative excess exceeds one
    * median-day (h = med).
    *
    * Exactness — the recurrence is NOT a window function, but its
    * prefix form is: `s_t = max(0, s_{t−1} + d_t)` equals
    * `P_t − min(0, min_{j≤t} P_j)` for the running sum P (induction on
    * the max; CusumShiftSpec re-runs the literal recurrence driver-side
    * to pin the identity on real data), so the whole statistic is two
    * cumulative-sum windows plus two cumulative-min windows over
    * calendar-bounded per-type frames — all BIGINTs (counts, an
    * integer slack `med div 10`, integer prefix sums), no doubles
    * anywhere.
    *
    * Scale shape: q202's argument verbatim — the only corpus-sized
    * stage is the (type, day) count (scan-shaped partial+final agg);
    * everything after runs on the CALENDAR-bounded counts table, the
    * four windows share one event_type exchange, and the output is
    * type-count-sized. */
  def q255CusumShift(s: SparkSession, dir: String): DataFrame = {
    val DayUs = T.DayUs
    cusumCore(T.events(s, dir)
      .select(col("event_type"), expr(s"(tus div $DayUs) * $DayUs").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("cnt")))
  }

  /** The per-day CUSUM frame under [[cusumCore]]: each (type, day) row
    * with its target, slack, threshold, and both one-sided statistics —
    * the granularity the STREAMING twin
    * ([[graft.streaming.EventStreams.cusumPoints]]) emits, so
    * StreamBatchParitySpec pins stream == exactly these rows. */
  private[graft] def cusumDays(counts: DataFrame): DataFrame = {
    val wAll = Window.partitionBy("event_type")
    val wMed = Window.partitionBy("event_type").orderBy(col("cnt"), col("day"))
    val wDay = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("rn", row_number().over(wMed))
      .withColumn("med",
        max(when(col("rn") === expr("(n + 1) div 2"), col("cnt"))).over(wAll))
      .drop("rn", "n")
      .withColumn("slack", expr("med div 10"))
      .withColumn("h", greatest(col("med"), lit(1L)))
      .withColumn("pup", sum(col("cnt") - col("med") - col("slack")).over(wDay))
      .withColumn("pdn", sum(col("med") - col("slack") - col("cnt")).over(wDay))
      .withColumn("splus", col("pup") - least(lit(0L), min("pup").over(wDay)))
      .withColumn("sminus", col("pdn") - least(lit(0L), min("pdn").over(wDay)))
  }

  /** The CUSUM machinery under q255 on any (event_type, day, cnt)
    * frame — split out so CusumShiftSpec can drive synthetic
    * level-shift and level-drop fixtures (and a stationary control)
    * through the exact graded plan. `day` is unit-agnostic (the graded
    * query passes µs-aligned day starts). */
  private[graft] def cusumCore(counts: DataFrame): DataFrame =
    cusumDays(counts)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        max("med").as("med_cnt"),
        max("splus").as("max_splus"),
        max("sminus").as("max_sminus"),
        sum(when(col("splus") > col("h"), 1L).otherwise(0L)).as("n_up"),
        sum(when(col("sminus") > col("h"), 1L).otherwise(0L)).as("n_down"),
        coalesce(min(when(col("splus") > col("h"), col("day"))), lit(-1L))
          .as("first_up_day"),
        coalesce(min(when(col("sminus") > col("h"), col("day"))), lit(-1L))
          .as("first_down_day"))
      .orderBy("event_type")

  /** The boilerplate containers whose CONTENT is dropped (not just the
    * tags): the trafilatura/jusText short list — code, styling, and
    * site chrome. `<title>` text is deliberately KEPT (most extractors
    * index it). ONE list shared with the strict tier and the gate
    * ([[graft.functions.HtmlStrict.DropTags]]) so the tiers can never
    * disagree on what counts as a container. */
  private val DropTags: Seq[String] =
    graft.functions.HtmlStrict.DropTags.toSeq

  /** The drop-container span pattern for one tag — shared by the
    * [[htmlClean]] fold and the [[htmlRegexSafe]] gate's residual
    * check, so "what the regex tier can drop" has one definition. */
  private def dropSpanPattern(t: String): String =
    s"(?is)<$t(>|[ \\t\\n\\r/][^>]*>).*?</$t[ \\t\\n\\r]*>"

  /** The container fold: every drop-container span → one space,
    * sequentially per tag (script, style, nav, footer). */
  private def dropContainers(html: Column): Column =
    DropTags.foldLeft(html)((c, t) =>
      regexp_replace(c, dropSpanPattern(t), " "))

  /** Regex-extractor core shared by the query and its spec: drop
    * boilerplate containers, strip remaining tags to spaces, decode the
    * five core entities (`&amp;` LAST, so `&amp;lt;` round-trips to the
    * literal `&lt;` and double-encoding inverts cleanly), collapse
    * `[ \t\n\r]+` runs, trim.
    *
    * CONTRACT: attribute values must not contain a literal `>`, every
    * drop-container closes, and containers do not interleave across
    * types — the regex tier is the 100 TB fast path (one codegen'd
    * projection, no parse tree). Pages that fail the contract are
    * detected by [[htmlRegexSafe]] (a conservative, SQL-expressible
    * gate: over-flagging only routes extra rows to the strict tier,
    * never corrupts a result) and take the REAL parser tier
    * [[graft.functions.HtmlCleanStrict]] — a single-pass quote-aware
    * state machine — in the SAME projection
    * (`when(gate, regex).otherwise(strict)`), so routing costs no
    * second scan and no exchange (r13: this tier previously existed
    * only as a documented `mapInPandas` contract; it now ships as a
    * codegen'd expression, which beats a Python fallback at any
    * scale). HtmlExtractSpec pins tier equivalence on
    * contract-satisfying pages and the strict tier's correctness on
    * violating ones. */
  private[ops] def htmlClean(html: Column): Column = {
    // tag-name boundary via alternation, not lookahead (RE2 has none):
    // `<nav>` / `<nav attr>` / `<nav/>` open a container, `<navbar>`
    // does NOT — without the boundary any tag merely PREFIXED by a
    // container name would open one and swallow text through the next
    // real close tag
    val dropped = dropContainers(html)
    val untagged = regexp_replace(dropped, "<[^>]*>", " ")
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&amp;" -> "&").foldLeft(untagged) {
      case (c, (e, ch)) => replace(c, lit(e), lit(ch))
    }
    trim(regexp_replace(decoded, "[ \\t\\n\\r]+", " "))
  }

  /** The regex tier's admission gate: TRUE when the page provably
    * satisfies the [[htmlClean]] contract. Two violation detectors,
    * both deliberately conservative (a false POSITIVE routes a safe
    * page to the strict tier, which computes the identical answer on
    * contract-satisfying pages — see HtmlExtractSpec's differential
    * property — so over-flagging is free):
    *  - a quoted attribute value reaching a `>` before its closing
    *    quote (`=["'] … >` with no intervening close) — the case where
    *    the quote-unaware `<[^>]*>` strip truncates the tag early;
    *  - container markup SURVIVING the [[dropContainers]] fold — the
    *    r13-review replacement for the original open-vs-close COUNT,
    *    which was blind to ordering (`</nav>A<nav>leak` counts 1–1
    *    balanced, yet the span regex cannot match and `leak` would
    *    reach the cleaned text; interleaved `<footer>y<nav>x</footer>
    *    z</nav>` is per-tag balanced and leaks the same way). Running
    *    the EXACT fold the fast tier runs and then asking "is any
    *    open or close container tag still present?" detects every
    *    page where the fold failed to CONSUME some container markup.
    *    The fold appears in both the gate and the admitted branch of
    *    the SAME projection, where whole-stage codegen's
    *    common-subexpression elimination shares it;
    *  - cross-type container nesting/interleaving — the second-pass
    *    r13-review case the residual check alone cannot see: with a
    *    SECOND close tag of the outer type present
    *    (`<footer>a<nav>b</footer>c</nav>d</footer>KEEP`), the fold
    *    consumes all container markup but pairs the WRONG spans
    *    (nav's span swallows footer's first close, footer then pairs
    *    with the second), silently dropping legit text the strict
    *    tier keeps. Detector: any OTHER container tag between a
    *    container's open and its first close — computed by the
    *    codegen'd linear scanner [[graft.functions.HtmlCrossNest]]
    *    (one tokenizing pass; replaced the r13 tempered-dot regex
    *    `<A…>((?!</A>).)*</?(B|C|D)`, whose per-position lookahead
    *    backtracked superlinearly on adversarial pages). Benign
    *    cross-type nesting where both tiers agree is also flagged —
    *    harmless, the strict tier answers. */
  private[ops] def htmlRegexSafe(html: Column): Column = {
    val quotedGt =
      html.rlike("(?s)<[^>]*=[ \\t\\n\\r]*\"[^\"]*>") ||
        html.rlike("(?s)<[^>]*=[ \\t\\n\\r]*'[^']*>")
    val folded = dropContainers(html)
    val residual = DropTags.map { t =>
      folded.rlike(s"(?is)<$t(>|[ \\t\\n\\r/][^>]*>)") ||
        folded.rlike(s"(?is)</$t[ \\t\\n\\r]*>")
    }.reduce(_ || _)
    // cross-type interleave: a codegen'd linear scanner
    // (functions.HtmlCrossNest) computing exactly the decision the
    // previous tempered-dot regex alternation encoded — that regex's
    // `((?!</A…>).)*` re-ran its lookahead per position and backtracked
    // superlinearly on adversarial pages (r13 advice), a hazard for a
    // predicate evaluated on every row of a 100 TB corpus
    val crossNest = graft.functions.HtmlCrossNest(html)
    !(quotedGt || residual || crossNest)
  }

  /** The shipped two-tier extractor: regex fast path when the gate
    * admits, strict state-machine tier otherwise — one projection, one
    * scan, no union. */
  private[ops] def htmlCleanRouted(html: Column): Column =
    when(htmlRegexSafe(html), htmlClean(html))
      .otherwise(graft.functions.HtmlCleanStrict.clean(html))

  /** q205: HTML boilerplate extraction — the first stage of every
    * web-crawl training pipeline (CommonCrawl WARC → text): drop
    * script/style/nav/footer CONTENT, strip remaining markup, decode
    * entities, normalize whitespace. The fixture corpus is RENDERED
    * deterministically from each document's own fields — title and h1
    * from `source` (the h1 carries a constant entity-rich suffix so
    * every decode branch is exercised on every row), body from
    * entity-ENCODED `text` (so the encode→extract round trip is
    * provable: clean must contain the original text verbatim,
    * whitespace-collapsed — HtmlExtractSpec asserts it per doc), plus
    * script/style/nav/footer blocks that must vanish entirely.
    *
    * Scale shape: ONE map-only projection over the scan — extracting a
    * 100 TB crawl is exactly one pass, no exchange anywhere (the sort
    * is presentation-only); every regex is codegen'd
    * `RegExpReplace`. Cross-engine: Java regex and RE2 agree on every
    * construct used ((?is) inline flags, non-greedy spans, explicit
    * `[ \t\n\r]` classes — never `\s`, whose membership differs between
    * engines), and entity decode is literal-pattern replacement. */
  def q205HtmlExtract(s: SparkSession, dir: String): DataFrame = {
    val enc = expr(
      "replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')")
    val html = concat(
      lit("<html><head><title>"), col("source"),
      lit("</title><style>p{margin:0}</style>" +
        "<script type=\"text/javascript\">if (1 < 2) { x(\"&amp;\"); }" +
        "</script></head><body>" +
        "<nav><a href=\"/\">Home</a> | <a href=\"/about\">About</a></nav>" +
        "<h1>"),
      col("source"),
      lit(" &amp; &quot;Co.&#39;s&quot; &lt;guide&gt;</h1><p>"), enc,
      lit("</p><footer>Copyright &quot;2026&quot; &amp; Co.</footer>" +
        "</body></html>"))
    T(s, dir, "documents")
      .select(col("doc_id"), html.as("html"))
      .select(col("doc_id"),
        expr("cast(size(regexp_extract_all(html, '<[^>]*>', 0)) as bigint)")
          .as("n_tags"),
        // the routed two-tier extractor; the rendered fixture satisfies
        // the regex contract on every row (HtmlExtractSpec pins that),
        // so the DuckDB oracle — which can only express the regex tier
        // — remains a complete equivalence check
        htmlCleanRouted(col("html")).as("clean"))
      .select(col("doc_id"), col("n_tags"),
        length(col("clean")).cast("long").as("clean_len"), col("clean"))
      .orderBy("doc_id")
  }

  private val DriftBatches = 4

  /** q227: the STREAMING drift monitor's number, graded — r13, closing
    * the one spec-only component whose arithmetic had no cross-engine
    * check. [[graft.streaming.DriftMonitor]] maintains q188's
    * exact-integer TVD over an unbounded ingest by appending
    * vocabulary-sized word-count PARTIALS behind a commit log; this
    * query drives the real machinery end-to-end — init the reference
    * snapshot (`doc_id % 7 != 0`, q188's split), append the corpus as
    * [[DriftBatches]] deterministic micro-batches (`doc_id % 4`), then
    * read [[graft.streaming.DriftMonitor.drift]] — while the DuckDB
    * oracle recomputes the same number FROM THE RAW DOCUMENTS, never
    * seeing a partial or the log: if the merge-partials + full-outer +
    * cross-multiplied half-up chain dropped a token anywhere, the hash
    * would split (the q219→q224 composition discipline applied to
    * streaming state).
    *
    * Scale shape: the graded read is [[graft.streaming.DriftMonitor.drift]]'s own plan —
    * committed-partials scan (vocabulary-sized, never the corpus),
    * merge-by-word aggregate, full-outer join to the reference
    * vocabulary, 1-row totals broadcast (q188's named bounded
    * crossJoin class). State builds once per (JVM, dataset) in a
    * ScratchExport dir; replays are no-ops (commit-log gated), so
    * bench reps re-read, never re-ingest. */
  def q227DriftMonitor(s: SparkSession, dir: String): DataFrame = {
    val st = graft.sink.ScratchExport.once(s"driftmon:$dir") {
      val root = graft.sink.ScratchExport.scratchDir("graft-driftmon-")
      val docs = T(s, dir, "documents").select("doc_id", "text")
      val state = graft.streaming.DriftMonitor.init(
        s, root, docs.filter(col("doc_id") % 7 =!= 0))
      (0 until DriftBatches).foreach { b =>
        graft.streaming.DriftMonitor.append(s, state, b.toLong,
          docs.filter(col("doc_id") % DriftBatches === b))
      }
      state
    }
    graft.streaming.DriftMonitor.drift(s, st)
  }

  /** q228: the INCREMENTALLY-MAINTAINED data card, graded — q227's
    * discipline applied to [[graft.ops.IncrementalCard]], the other
    * BatchCommitLog consumer (closing the last spec-only component
    * whose ARITHMETIC had no cross-engine check; the remaining
    * spec-only set is write-layout/protocol machinery and sketches
    * with engine-specific internals). The corpus lands as 4
    * deterministic micro-batches (`doc_id % 4`) through the real
    * append path — batch_id-partitioned dynamic-overwrite partials,
    * anti-join digest admission, commit-log-last — and the graded read
    * is [[graft.ops.IncrementalCard.card]] over partials only, while
    * the oracle recomputes the card FROM RAW DOCUMENTS with q166's
    * exact SQL ([[dataCardOracleSql]], shared verbatim): a dropped row
    * anywhere in the partial/merge/dedup-mass chain splits the hash.
    *
    * Scale shape: per append, batch-sized work; per read,
    * partials-sized work (|batches|·|lang×source| rows + the digest
    * table) — the corpus is never rescanned. State builds once per
    * (JVM, dataset) in a ScratchExport dir; replays are commit-log
    * no-ops, so bench reps re-read, never re-ingest. */
  def q228IncrementalCard(s: SparkSession, dir: String): DataFrame = {
    val st = graft.sink.ScratchExport.once(s"inccard:$dir") {
      val state = IncrementalCard.init(
        graft.sink.ScratchExport.scratchDir("graft-inccard-"))
      val docs = T(s, dir, "documents")
        .select("doc_id", "lang", "source", "text")
      (0 until DriftBatches).foreach { b =>
        IncrementalCard.append(s, state, b.toLong,
          docs.filter(col("doc_id") % DriftBatches === b))
      }
      state
    }
    IncrementalCard.card(s, st)
  }

  private[ops] val NormBuckets = 8

  /** q242: cross-source quantile normalization — mapping every source's
    * score distribution onto the GLOBAL distribution before pooling
    * (the batch-effect correction genomics calls quantile
    * normalization, and a mixed-corpus pipeline needs before any
    * absolute threshold transfers across sources: q97/q186 re-weight
    * source COUNTS, q242 re-scales the SCORE AXIS). Each document's
    * `n_chars` is replaced by the global distribution's value at the
    * same within-source quantile: within-source ntile([[NormBuckets]])
    * → the global equi-depth bucket's upper boundary.
    *
    * Exactness: both ntiles are the SQL ntile layout on total orders
    * ((n_chars, doc_id) — tie-free), integer end to end. The
    * within-source ntile is NOT a per-source window (source is a
    * low-cardinality key — q208's lesson): ranks come from ONE
    * ScalableRank two-pass global row number over (source, n_chars,
    * doc_id), per-source bases via a broadcast (base, n) table, and
    * the ntile layout inverse (ScalableRank.withNtile's formula,
    * parameterized per source) as plain integer arithmetic. A source
    * smaller than the grid degrades to rank-identity (q = 0 branch) —
    * defined, not an error.
    *
    * Scale shape: two ScalableRank passes (one per distribution — the
    * reference boundary table is [[NormBuckets]] rows and broadcasts),
    * one broadcast stats join, one broadcast boundary join; no
    * per-source window, no self-join. Output: every doc with its
    * source bucket and normalized value. */
  def q242QuantileNormalize(s: SparkSession, dir: String): DataFrame = {
    // n_chars IS NOT NULL: same sort-order-contract exclusion as q223
    // (no such row in the driver testdata; the contract is for real
    // corpora)
    val docs = T(s, dir, "documents")
      .filter(col("n_chars").isNotNull)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val ranked = ScalableRank.withGlobalRowNumber(
      docs, "_grn", col("source"), col("n_chars"), col("doc_id"))
    val stats = ranked.groupBy(col("source").as("_g"))
      .agg(min("_grn").as("_base"), count(lit(1)).as("_n"))
    val bucketed = ranked
      .join(broadcast(stats), col("source") === col("_g"))
      .withColumn("_rn", col("_grn") - col("_base") + 1)
      .withColumn("_q", expr(s"_n div $NormBuckets"))
      .withColumn("_r", expr(s"_n % $NormBuckets"))
      .withColumn("_cut", expr("_r * (_q + 1)"))
      .withColumn("src_bucket", // SQL ntile layout inverse, per source
        expr("cast(case when _rn <= _cut then (_rn - 1) div (_q + 1) " +
          "else _r + (_rn - _cut - 1) div greatest(_q, 1) end as int) + 1"))
    val ref = ScalableRank.withNtile(docs, NormBuckets, "gb",
        col("n_chars"), col("doc_id"))
      .groupBy("gb").agg(max("n_chars").as("norm_chars"))
    bucketed.join(broadcast(ref), col("src_bucket") === col("gb"))
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("src_bucket"), col("norm_chars"))
      .orderBy("doc_id")
  }

  // ---- q271: LM-quality filter (cross-corpus bigram cross-entropy) ---

  /** q271 constants: the OOV backoff cost in integer "bits" and the
    * keep threshold on the ×10⁴ mean-bits grid — shared verbatim with
    * the oracle. 48000 ≈ the corpus median, so BOTH filter verdicts
    * fire at every SF. */
  private[ops] val OovBits = 20L
  private[ops] val LmKeepX1e4 = 48000L

  /** q271: the CCNet-style language-model quality filter — the
    * training-data selection step run before every big pretraining
    * corpus: score each document's fluency against a reference corpus
    * (here: the `en` partition) with a bigram model, and keep documents
    * under a perplexity-proxy threshold. Unlike q214 (in-corpus
    * surprisal, unseen bigrams silently dropped by its inner join),
    * q271 is CROSS-corpus: the model is trained on the reference slice
    * only, every document scores — including off-reference ones — and
    * unseen bigrams pay an explicit [[OovBits]] backoff (the real
    * filter's OOV handling; reference-slice docs are never OOV by
    * construction, which the spec pins).
    *
    * Arithmetic is the q214 integer log₂ proxy (`bitlen(c1) −
    * bitlen(c2)` per bigram — exact in any engine; no libm log), doc
    * score = Σ k·bits ×10⁴ div n over non-negative integers.
    *
    * Scale shape: ONE corpus explode shared by model-build and scoring
    * (localCheckpoint), model join on (w1, w2) with map-side partial
    * counts; the model table is vocabulary²-bounded (≪ corpus), the
    * score aggregate doc-count-sized. At 100 TB the model is built
    * once, persisted bucketed on w1 and reused per batch — the
    * q104/q152 persisted-index discipline. */
  def q271LmQualityFilter(s: SparkSession, dir: String): DataFrame = {
    val bg = T(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        expr("filter(split(text, ' '), x -> x != '')").as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), col("lang"), explode(expr(
        "transform(slice(w, 1, size(w) - 1), (x, i) -> " +
          "struct(x AS w1, w[i + 1] AS w2))")).as("b"))
      .select(col("doc_id"), col("lang"), col("b.w1"), col("b.w2"))
      .localCheckpoint(true) // two consumers, ONE corpus explode
    val ref = bg.filter(col("lang") === "en")
    val model = ref.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
      .join(ref.groupBy("w1").agg(count(lit(1)).as("c1")), "w1")
      .withColumn("bits",
        (length(expr("bin(c1)")) - length(expr("bin(c2)"))).cast("long"))
      .select("w1", "w2", "bits")
    bg.groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("k"))
      .join(model, Seq("w1", "w2"), "left")
      .groupBy("doc_id")
      .agg(sum("k").as("n_bigrams"),
        sum(when(col("bits").isNull, col("k")).otherwise(0L))
          .as("oov_bigrams"),
        sum(col("k") * coalesce(col("bits"), lit(OovBits)))
          .as("total_bits"))
      .withColumn("score_x1e4",
        expr("total_bits * 10000 div n_bigrams"))
      .withColumn("keep", col("score_x1e4") <= LmKeepX1e4)
      .select("doc_id", "n_bigrams", "oov_bigrams", "score_x1e4", "keep")
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q271_lm_quality_filter" -> q271LmQualityFilter _,
    "q242_quantile_normalize" -> q242QuantileNormalize _,
    "q117_substring_dedup" -> q117SubstringDedup _,
    "q205_html_extract" -> q205HtmlExtract _,
    "q227_drift_monitor" -> q227DriftMonitor _,
    "q228_incremental_card" -> q228IncrementalCard _,
    "q202_volume_anomaly" -> q202VolumeAnomaly _,
    "q255_cusum_shift" -> q255CusumShift _,
    "q188_token_drift" -> q188TokenDrift _,
    "q219_ks_drift" -> q219KsDrift _,
    "q297_mwu_drift" -> q297MwuDrift _,
    "q306_chi2_drift" -> q306Chi2Drift _,
    "q224_corpus_gate" -> q224CorpusGate _,
    "q118_source_overlap" -> q118SourceOverlap _,
    "q123_segment_dedup" -> q123SegmentDedup _,
    "q294_dup_spans" -> q294DupSpans _,
    "q295_line_dedup" -> q295LineDedup _,
    "q304_dedup_accounting" -> q304DedupAccounting _,
    "q305_span_excision" -> q305SpanExcision _,
    "q310_dedup_pipeline" -> q310DedupPipeline _,
    "q317_corpus_build" -> q317CorpusBuild _,
    "q130_mix_pipeline" -> q130MixPipeline _,
    "q166_data_card" -> q166DataCard _,
    "q167_snapshot_diff" -> q167SnapshotDiff _,
  )

  /** The one-row data-card recompute from raw documents — shared
    * VERBATIM by the q166 (one-shot query) and q228 (incremental
    * maintenance) oracles: one definition of "the correct card". */
  private lazy val dataCardOracleSql: String =
    s"""WITH RECURSIVE ${graft.functions.Bpe.countCteSql},
      |w AS (SELECT d.doc_id, d.lang, d.source,
      |        len(list_filter(string_split(d.text, ' '), x -> x <> '')) AS ws,
      |        c.btok, md5(d.text) AS digest
      |      FROM documents d JOIN bpe_cnt c ON d.doc_id = c.doc_id)
      |SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
      |       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
      |       CAST(sum(ws) AS BIGINT) AS ws_tokens,
      |       CAST(sum(btok) AS BIGINT) AS bpe_tokens,
      |       CAST(count(*) - count(DISTINCT digest) AS BIGINT) AS n_exact_dups,
      |       CAST(max(btok) AS BIGINT) AS max_doc_btok
      |FROM w""".stripMargin

  /** The KS ecdf CTE chain (`c → t → f → d`, cross-multiplied per-value
    * numerators) shared by the q219 and q224 oracles — the gate's drift
    * number can never diverge from the gauge's. */
  private val ksCtes: String =
    """c AS (SELECT n_chars,
      |        sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS c1,
      |        sum(CASE WHEN doc_id % 2 <> 0 THEN 1 ELSE 0 END) AS c2
      |      FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
      |t AS (SELECT CAST(sum(c1) AS HUGEINT) AS n1,
      |             CAST(sum(c2) AS HUGEINT) AS n2 FROM c),
      |f AS (SELECT n_chars,
      |        CAST(sum(c1) OVER (ORDER BY n_chars) AS HUGEINT) AS f1,
      |        CAST(sum(c2) OVER (ORDER BY n_chars) AS HUGEINT) AS f2
      |      FROM c),
      |d AS (SELECT n_chars, abs(f1 * t.n2 - f2 * t.n1) AS d_num, t.n1, t.n2
      |      FROM f, t)""".stripMargin

  /** The shared window CTE, verbatim in both oracles (DuckDB's
    * generate_series is end-inclusive, as Spark's sequence is). */
  private val windowsCte: String =
    """w AS (
      |  SELECT doc_id, source, md5(substr(text, CAST(i AS INT), 50)) AS k
      |  FROM documents,
      |       LATERAL (SELECT unnest(generate_series(1, length(text) - 49, 10)) AS i) t
      |  WHERE length(text) >= 50)""".stripMargin

  /** The q294 span chain (`tok → sh → df → d → m → g → spans`), shared
    * VERBATIM by the q294 and q305 oracles — the excision cuts exactly
    * the extents the gauge reports, by construction. */
  /** The span chain DOWNSTREAM of the `tok(doc_id, w)` CTE — split from
    * [[dupSpanCtes]] (r17) so the q317 corpus-build oracle can re-seat
    * the IDENTICAL chain over its gated corpus instead of `documents`. */
  private lazy val spanChainCtes: String =
    s"""sh AS (SELECT doc_id,
      |         unnest([{'pos': i,
      |                  'h': md5(array_to_string(w[i:i+$SpanK-1], ' '))}
      |                 for i in range(1, len(w) - $SpanK + 2)],
      |                recursive := true)
      |       FROM tok WHERE len(w) >= $SpanK),
      |df AS (SELECT h FROM sh GROUP BY h
      |       HAVING count(DISTINCT doc_id) >= 2),
      |d AS (SELECT s.doc_id, s.pos FROM sh s JOIN df USING (h)),
      |m AS (SELECT doc_id, pos,
      |        CASE WHEN pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
      |                       + $SpanK THEN 1 ELSE 0 END AS brk
      |      FROM d),
      |g AS (SELECT doc_id, pos,
      |        sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
      |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |      FROM m),
      |spans AS (SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
      |            CAST(max(pos) + $SpanK - 1 AS BIGINT) AS span_end,
      |            CAST(max(pos) - min(pos) + $SpanK AS BIGINT) AS span_tokens,
      |            CAST(count(*) AS BIGINT) AS n_hits
      |          FROM g GROUP BY doc_id, sid)""".stripMargin

  private lazy val dupSpanCtes: String =
    s"""tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |$spanChainCtes""".stripMargin

  /** The q295 keep-first line chain re-seated over an `ex(doc_id, kw)`
    * excised-token CTE — `seg → ks2 → own2 → drops2 → lk(doc_id,
    * clean)`. Shared VERBATIM by the q310 and q317 oracles (r17), the
    * SQL twin of [[lineCleanOf]]. */
  private lazy val excisedLineCtes: String =
    s"""seg AS (SELECT doc_id,
      |         [array_to_string(kw[(i-1)*$LineLen+1:i*$LineLen], ' ')
      |          for i in range(1, (len(kw) + $LineLen - 1) // $LineLen + 1)]
      |           AS segs
      |        FROM ex WHERE len(kw) > 0),
      |ks2 AS (SELECT doc_id,
      |          unnest([{'sid': i, 'k': md5(segs[i])}
      |                  for i in range(1, len(segs) + 1)],
      |                 recursive := true)
      |        FROM seg),
      |own2 AS (SELECT k, min(doc_id * $LineOwnBase + sid) AS ok
      |         FROM ks2 GROUP BY k HAVING count(*) >= 2),
      |drops2 AS (SELECT ks2.doc_id, list(ks2.sid) AS drop_ids
      |           FROM ks2 JOIN own2 USING (k)
      |           WHERE ks2.doc_id * $LineOwnBase + ks2.sid <> own2.ok
      |           GROUP BY 1),
      |lk AS (SELECT seg.doc_id,
      |         coalesce(array_to_string([seg.segs[i]
      |                   for i in range(1, len(seg.segs) + 1)
      |                   if dr.drop_ids IS NULL
      |                      OR NOT list_contains(dr.drop_ids, i)], ' '), '')
      |           AS clean
      |       FROM seg LEFT JOIN drops2 dr USING (doc_id))""".stripMargin

  /** The q295 keep-first chain (`tok → d → ks → own → drops → cleaned`),
    * shared VERBATIM by the q295 and q304 oracles — the accounting
    * counts exactly the rewrite's survivors. */
  private lazy val lineDedupCtes: String =
    s"""tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |d AS (SELECT doc_id,
      |        [array_to_string(w[(i-1)*$LineLen+1:i*$LineLen], ' ')
      |         for i in range(1, (len(w) + $LineLen - 1) // $LineLen + 1)] AS segs
      |      FROM tok),
      |ks AS (SELECT doc_id,
      |         unnest([{'sid': i, 'k': md5(segs[i])}
      |                 for i in range(1, len(segs) + 1)],
      |                recursive := true)
      |       FROM d),
      |own AS (SELECT k, min(doc_id * $LineOwnBase + sid) AS ok
      |        FROM ks GROUP BY k HAVING count(*) >= 2),
      |drops AS (SELECT ks.doc_id, list(ks.sid) AS drop_ids
      |          FROM ks JOIN own USING (k)
      |          WHERE ks.doc_id * $LineOwnBase + ks.sid <> own.ok
      |          GROUP BY 1),
      |cleaned AS (SELECT d.doc_id, CAST(len(d.segs) AS BIGINT) AS n_segs,
      |       CAST(len(d.segs) - coalesce(len(dr.drop_ids), 0) AS BIGINT) AS n_kept,
      |       -- DuckDB's array_to_string of an EMPTY list is NULL,
      |       -- Spark's concat_ws is '' — coalesce to the Spark value
      |       coalesce(array_to_string([d.segs[i]
      |                                 for i in range(1, len(d.segs) + 1)
      |                                 if dr.drop_ids IS NULL
      |                                    OR NOT list_contains(dr.drop_ids, i)],
      |                                ' '), '') AS clean_text
      |FROM d LEFT JOIN drops dr USING (doc_id))""".stripMargin

  val oracle: Map[String, String] = Map(
    // q294: the identical shingle table (same SpanK, same md5 keys),
    // df >= 2 distinct docs, and the same lag-based island merge
    "q294_dup_spans" ->
      s"""WITH $dupSpanCtes
        |SELECT doc_id, span_start, span_end, span_tokens, n_hits
        |FROM spans ORDER BY doc_id, span_start""".stripMargin,
    // q295: identical segmentation, owner-key encoding, and reassembly
    "q295_line_dedup" ->
      s"""WITH $lineDedupCtes
        |SELECT doc_id, n_segs, n_kept, clean_text
        |FROM cleaned ORDER BY doc_id""".stripMargin,
    // q305: the q294 span chain VERBATIM + the positional excision
    "q305_span_excision" ->
      s"""WITH $dupSpanCtes,
        |dp AS (SELECT doc_id,
        |         list({'s': span_start, 'e': span_end}) AS sp
        |       FROM spans GROUP BY 1),
        |k AS (SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_tokens,
        |        CASE WHEN dp.sp IS NULL THEN t.w
        |             ELSE [t.w[i] for i in range(1, len(t.w) + 1)
        |                   if len(list_filter(dp.sp,
        |                        p -> i >= p.s AND i <= p.e)) = 0] END AS kept
        |      FROM tok t LEFT JOIN dp USING (doc_id))
        |SELECT doc_id, n_tokens, CAST(len(kept) AS BIGINT) AS n_kept,
        |       coalesce(array_to_string(kept, ' '), '') AS clean_text
        |FROM k ORDER BY doc_id""".stripMargin,
    // q310: the q294/q305 span chain VERBATIM (shared dupSpanCtes), the
    // excision, then the q295 line chain re-seated over the EXCISED
    // tokens, then q304's accounting — one composed statement, so the
    // flagship can never drift from the graded pieces it composes
    "q310_dedup_pipeline" ->
      s"""WITH $dupSpanCtes,
        |dp AS (SELECT doc_id, list({'s': span_start, 'e': span_end}) AS sp
        |       FROM spans GROUP BY 1),
        |ex AS (SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS raw_tok,
        |        CASE WHEN dp.sp IS NULL THEN t.w
        |             ELSE [t.w[i] for i in range(1, len(t.w) + 1)
        |                   if len(list_filter(dp.sp,
        |                        p -> i >= p.s AND i <= p.e)) = 0] END AS kw
        |      FROM tok t LEFT JOIN dp USING (doc_id)),
        |$excisedLineCtes,
        |lt AS (SELECT doc_id,
        |         CASE WHEN clean = '' THEN 0
        |              ELSE len(string_split(clean, ' ')) END AS line_tok
        |       FROM lk),
        |acc AS (SELECT d.lang, ex.raw_tok,
        |          CAST(len(ex.kw) AS BIGINT) AS span_tok,
        |          coalesce(lt.line_tok, 0) AS line_tok
        |        FROM ex JOIN documents d USING (doc_id)
        |        LEFT JOIN lt USING (doc_id))
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(raw_tok) AS BIGINT) AS raw_tok,
        |       CAST(sum(span_tok) AS BIGINT) AS span_tok,
        |       CAST(sum(line_tok) AS BIGINT) AS line_tok,
        |       CAST((sum(span_tok) * 10000) // sum(raw_tok) AS BIGINT) AS span_bp,
        |       CAST((sum(line_tok) * 10000) // sum(raw_tok) AS BIGINT) AS line_bp
        |FROM acc GROUP BY 1 ORDER BY 1""".stripMargin,
    // q317: the whole corpus-build chain in ONE statement, every stage
    // spliced from the shared fragments so the flagship can never drift
    // from the graded pieces it composes — q161's routing predicate,
    // q91's rewriters, q83/q314's integer-bp score + decile curve, the
    // q294/q305 span chain ($spanChainCtes re-seated over the gated
    // corpus), the q295 line chain ($excisedLineCtes), q95's 3-gram
    // screen, q150's admission chain (shared budget VALUES), and the
    // q92/q159 pack geometry
    "q317_corpus_build" ->
      s"""WITH ing AS (SELECT doc_id, lang, text FROM documents
        |             WHERE doc_id % 37 <> 0 AND doc_id % 97 <> 0),
        |cl AS (SELECT doc_id, lang,
        |        regexp_replace(regexp_replace(
        |          text || ' contact user' || doc_id ||
        |            '@example.com see https://example.org/d/' || doc_id,
        |          '[a-z0-9.]+@[a-z0-9.]+', '<email>', 'g'),
        |          'https?://[^ ]+', '<url>', 'g') AS ctext
        |       FROM ing),
        |tw AS (SELECT doc_id, lang,
        |         list_filter(string_split(ctext, ' '), x -> x <> '') AS w
        |       FROM cl),
        |sc AS (SELECT doc_id, lang, w, len(w) AS n,
        |         len(list_distinct(w)) AS k,
        |         len(list_filter(w, x -> x IN ('the', 'a'))) AS st
        |       FROM tw WHERE len(w) > 0),
        |q AS (SELECT doc_id, lang, w, CAST(n AS BIGINT) AS n,
        |        (2 * (10 * least(n, 100) * n + 750 * k + 750 * (n - st))
        |           * 10000 + 2500 * n) // (2 * 2500 * n) AS qbp
        |      FROM sc),
        |tot AS (SELECT sum(n) AS tt FROM q),
        |bk AS (SELECT least(qbp // 1000, 10) AS b, sum(n) AS btok
        |       FROM q GROUP BY 1),
        |cum AS (SELECT ts.t,
        |          (SELECT coalesce(sum(btok), 0) FROM bk WHERE b >= ts.t)
        |            AS stok
        |        FROM (SELECT unnest(range(0, 11)) AS t) ts),
        |thr AS (SELECT max(t) AS thr FROM cum, tot
        |        WHERE stok * 10000 >= 5000 * tt),
        |gate AS (SELECT q.doc_id, q.lang, q.w FROM q, thr
        |         WHERE q.qbp >= thr.thr * 1000),
        |tok AS (SELECT doc_id, w FROM gate),
        |$spanChainCtes,
        |dp AS (SELECT doc_id, list({'s': span_start, 'e': span_end}) AS sp
        |       FROM spans GROUP BY 1),
        |ex AS (SELECT t.doc_id,
        |        CASE WHEN dp.sp IS NULL THEN t.w
        |             ELSE [t.w[i] for i in range(1, len(t.w) + 1)
        |                   if len(list_filter(dp.sp,
        |                        p -> i >= p.s AND i <= p.e)) = 0] END AS kw
        |       FROM tok t LEFT JOIN dp USING (doc_id)),
        |$excisedLineCtes,
        |fin AS (SELECT ex.doc_id, gate.lang,
        |          coalesce(lk.clean, '') AS ftext,
        |          CAST(CASE WHEN coalesce(lk.clean, '') = '' THEN 0
        |               ELSE len(string_split(lk.clean, ' ')) END AS BIGINT)
        |            AS tok
        |        FROM ex JOIN gate USING (doc_id)
        |        LEFT JOIN lk USING (doc_id)),
        |ev AS (SELECT list_filter(string_split(text, ' '), x -> x <> '')
        |         AS ew
        |       FROM documents WHERE doc_id % 97 = 0),
        |esh AS (SELECT DISTINCT array_to_string(ew[i:i+${DeconK - 1}], ' ') AS sh3
        |        FROM ev, LATERAL (SELECT unnest(range(1, len(ew) - ${DeconK - 2})) AS i) r),
        |tsh AS (SELECT DISTINCT f.doc_id,
        |          array_to_string(fw[i:i+${DeconK - 1}], ' ') AS sh3
        |        FROM (SELECT doc_id, string_split(ftext, ' ') AS fw
        |              FROM fin WHERE tok >= $DeconK) f,
        |             LATERAL (SELECT unnest(range(1, len(fw) - ${DeconK - 2})) AS i) r),
        |cont AS (SELECT DISTINCT t.doc_id FROM tsh t JOIN esh e USING (sh3)),
        |surv AS (SELECT * FROM fin WHERE tok > 0
        |         AND doc_id NOT IN (SELECT doc_id FROM cont)),
        |t2 AS (SELECT doc_id, lang, tok,
        |         ('0x' || substr(md5('mix:' || doc_id::VARCHAR), 1, 12))::BIGINT
        |           AS skey
        |       FROM surv),
        |b(lang, budget) AS (VALUES ${TrainingData.budgetValuesSql}),
        |c2 AS (SELECT lang, doc_id, tok,
        |         COALESCE(CAST(sum(tok) OVER (PARTITION BY lang
        |           ORDER BY skey, doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
        |           0) AS lang_excl
        |       FROM t2),
        |adm AS (SELECT c2.lang, doc_id, tok FROM c2 JOIN b ON c2.lang = b.lang
        |        WHERE lang_excl < budget),
        |p AS (SELECT doc_id, lang, tok,
        |        coalesce(CAST(sum(tok) OVER (ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
        |          0) AS cumex
        |      FROM adm)
        |SELECT CAST(cumex // 2000 AS BIGINT) AS bin,
        |       CAST(row_number() OVER (PARTITION BY cumex // 2000
        |                               ORDER BY doc_id) AS BIGINT) AS slot,
        |       doc_id, lang, CAST(tok AS BIGINT) AS tokens,
        |       CAST(cumex - (cumex // 2000) * 2000 AS BIGINT) AS tok_offset
        |FROM p ORDER BY bin, slot""".stripMargin,
    // q304: the q295 keep-first chain VERBATIM + language accounting
    "q304_dedup_accounting" ->
      s"""WITH $lineDedupCtes
        |SELECT doc.lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(len(string_split(doc.text, ' '))) AS BIGINT) AS raw_tok,
        |       CAST(sum(CASE WHEN c.clean_text = '' THEN 0
        |                ELSE len(string_split(c.clean_text, ' ')) END) AS BIGINT)
        |         AS kept_tok,
        |       CAST((sum(CASE WHEN c.clean_text = '' THEN 0
        |                 ELSE len(string_split(c.clean_text, ' ')) END) * 10000)
        |            // sum(len(string_split(doc.text, ' '))) AS BIGINT) AS kept_bp
        |FROM cleaned c JOIN documents doc ON c.doc_id = doc.doc_id
        |GROUP BY doc.lang ORDER BY doc.lang""".stripMargin,
    // q271: same reference slice, same integer bitlen model, same OOV
    // backoff and threshold constants (interpolated, can't drift)
    "q271_lm_quality_filter" ->
      s"""WITH docs AS (SELECT doc_id, lang,
        |         list_filter(string_split(text, ' '), x -> x <> '') AS w
        |       FROM documents),
        |bg AS (SELECT doc_id, lang,
        |         unnest([{'w1': w[i], 'w2': w[i+1]}
        |                 for i in range(1, len(w))], recursive := true)
        |       FROM docs WHERE len(w) >= 2),
        |m2 AS (SELECT w1, w2, count(*) AS c2 FROM bg WHERE lang = 'en' GROUP BY 1, 2),
        |m1 AS (SELECT w1, count(*) AS c1 FROM bg WHERE lang = 'en' GROUP BY 1),
        |model AS (SELECT m2.w1, m2.w2,
        |            CAST(length(bin(m1.c1)) - length(bin(m2.c2)) AS BIGINT) AS bits
        |          FROM m2 JOIN m1 ON m2.w1 = m1.w1),
        |dk AS (SELECT doc_id, w1, w2, count(*) AS k FROM bg GROUP BY 1, 2, 3),
        |sc AS (SELECT d.doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
        |         CAST(sum(CASE WHEN m.bits IS NULL THEN k ELSE 0 END) AS BIGINT)
        |           AS oov_bigrams,
        |         CAST(sum(k * COALESCE(m.bits, $OovBits)) AS BIGINT) AS total_bits
        |       FROM dk d LEFT JOIN model m ON d.w1 = m.w1 AND d.w2 = m.w2
        |       GROUP BY 1)
        |SELECT doc_id, n_bigrams, oov_bigrams,
        |       CAST(total_bits * 10000 // n_bigrams AS BIGINT) AS score_x1e4,
        |       total_bits * 10000 // n_bigrams <= $LmKeepX1e4 AS keep
        |FROM sc ORDER BY doc_id""".stripMargin,
    // q242: both ntiles stated natively (PARTITION BY source for the
    // within-source one — fine at oracle scale; the Spark side's
    // composite-rank lowering is the scale device, and the hash match
    // proves the two lowerings agree), same tie-free orders
    "q242_quantile_normalize" ->
      s"""WITH r AS (SELECT doc_id, source, n_chars,
        |       CAST(ntile($NormBuckets) OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS INTEGER) AS sb
        |       FROM documents WHERE n_chars IS NOT NULL),
        |g AS (SELECT n_chars,
        |      CAST(ntile($NormBuckets) OVER (ORDER BY n_chars, doc_id) AS INTEGER) AS gb
        |      FROM documents WHERE n_chars IS NOT NULL),
        |b AS (SELECT gb, max(n_chars) AS norm_chars FROM g GROUP BY 1)
        |SELECT r.doc_id, r.source, r.n_chars, r.sb AS src_bucket,
        |       CAST(b.norm_chars AS BIGINT) AS norm_chars
        |FROM r JOIN b ON r.sb = b.gb ORDER BY r.doc_id""".stripMargin,
    // q205: the identical render → drop-containers → strip-tags →
    // decode-entities → collapse pipeline; every regex construct is in
    // the Java∩RE2 common subset and entity decode is literal replace()
    "q205_html_extract" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><head><title>' || source || '</title><style>p{margin:0}</style>' ||
        |    '<script type="text/javascript">if (1 < 2) { x("&amp;"); }</script></head><body>' ||
        |    '<nav><a href="/">Home</a> | <a href="/about">About</a></nav><h1>' || source ||
        |    ' &amp; &quot;Co.&#39;s&quot; &lt;guide&gt;</h1><p>' ||
        |    replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;') ||
        |    '</p><footer>Copyright &quot;2026&quot; &amp; Co.</footer></body></html>' AS html
        |  FROM documents),
        |s1 AS (SELECT doc_id,
        |  CAST(len(regexp_extract_all(html, '<[^>]*>')) AS BIGINT) AS n_tags,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
        |    '(?is)<script(>|[ \t\n\r/][^>]*>).*?</script[ \t\n\r]*>', ' ', 'g'),
        |    '(?is)<style(>|[ \t\n\r/][^>]*>).*?</style[ \t\n\r]*>', ' ', 'g'),
        |    '(?is)<nav(>|[ \t\n\r/][^>]*>).*?</nav[ \t\n\r]*>', ' ', 'g'),
        |    '(?is)<footer(>|[ \t\n\r/][^>]*>).*?</footer[ \t\n\r]*>', ' ', 'g') AS x
        |  FROM h),
        |s2 AS (SELECT doc_id, n_tags, regexp_replace(x, '<[^>]*>', ' ', 'g') AS x FROM s1),
        |s3 AS (SELECT doc_id, n_tags,
        |  replace(replace(replace(replace(replace(x,
        |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&amp;', '&') AS x
        |  FROM s2),
        |s4 AS (SELECT doc_id, n_tags,
        |  trim(regexp_replace(x, '[ \t\n\r]+', ' ', 'g')) AS clean FROM s3)
        |SELECT doc_id, n_tags, CAST(length(clean) AS BIGINT) AS clean_len, clean
        |FROM s4 ORDER BY doc_id""".stripMargin,
    // q202: the SAME lower-median formulation (row ⌈n/2⌉ under
    // (value, day) order) — integer-exact in both engines;
    // VolumeAnomalySpec supplies the independent brute force
    // q255: the identical prefix-form CUSUM (sum + min windows over the
    // same per-type day order), same lower-median target, same integer
    // slack and threshold
    "q255_cusum_shift" ->
      """WITH c AS (SELECT event_type, (epoch_us(ts) // 86400000000) * 86400000000 AS day,
        |                 CAST(count(*) AS BIGINT) AS cnt
        |           FROM events GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY cnt, day) AS rn,
        |             count(*) OVER (PARTITION BY event_type) AS n FROM c),
        |med AS (SELECT event_type, cnt AS med FROM r WHERE rn = (n + 1) // 2),
        |d AS (SELECT c.event_type, c.day, c.cnt, m.med, m.med // 10 AS slack,
        |             greatest(m.med, 1) AS h
        |      FROM c JOIN med m USING (event_type)),
        |p AS (SELECT *, sum(cnt - med - slack) OVER w AS pup,
        |             sum(med - slack - cnt) OVER w AS pdn
        |      FROM d
        |      WINDOW w AS (PARTITION BY event_type ORDER BY day
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |s AS (SELECT *, pup - least(0, min(pup) OVER w) AS splus,
        |             pdn - least(0, min(pdn) OVER w) AS sminus
        |      FROM p
        |      WINDOW w AS (PARTITION BY event_type ORDER BY day
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |       CAST(max(med) AS BIGINT) AS med_cnt,
        |       CAST(max(splus) AS BIGINT) AS max_splus,
        |       CAST(max(sminus) AS BIGINT) AS max_sminus,
        |       CAST(sum(CASE WHEN splus > h THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
        |       CAST(sum(CASE WHEN sminus > h THEN 1 ELSE 0 END) AS BIGINT) AS n_down,
        |       CAST(coalesce(min(CASE WHEN splus > h THEN day END), -1) AS BIGINT) AS first_up_day,
        |       CAST(coalesce(min(CASE WHEN sminus > h THEN day END), -1) AS BIGINT) AS first_down_day
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,
    "q202_volume_anomaly" ->
      """WITH c AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |                 CAST(count(*) AS BIGINT) AS cnt
        |           FROM events GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY cnt, day) AS rn,
        |             count(*) OVER (PARTITION BY event_type) AS n FROM c),
        |med AS (SELECT event_type, cnt AS med FROM r WHERE rn = (n + 1) // 2),
        |d AS (SELECT c.event_type, c.day, c.cnt, m.med, abs(c.cnt - m.med) AS dev
        |      FROM c JOIN med m USING (event_type)),
        |r2 AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY dev, day) AS rn,
        |              count(*) OVER (PARTITION BY event_type) AS n FROM d),
        |mad AS (SELECT event_type, dev AS mad FROM r2 WHERE rn = (n + 1) // 2)
        |SELECT d.event_type, d.day * 86400000000 AS day_us, d.cnt, d.med,
        |       mad.mad AS mad
        |FROM d JOIN mad USING (event_type)
        |WHERE 2 * d.dev > 5 * greatest(mad.mad, 1)
        |ORDER BY 1, 2""".stripMargin,
    // q219: identical cross-multiplied ecdf numerators (HUGEINT mirrors
    // decimal(38,0)); window cumsum here vs the distributed prefix scan
    // on the Spark side — identical integers either way
    // q306: identical bins, the same per-bin centi-floor terms over
    // HUGEINT, and the same pinned critical-value table
    "q306_chi2_drift" ->
      s"""WITH c AS (SELECT n_chars // $Chi2BinW AS bin,
        |        sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS o1,
        |        sum(CASE WHEN doc_id % 2 <> 0 THEN 1 ELSE 0 END) AS o2
        |      FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
        |t AS (SELECT CAST(sum(o1) AS HUGEINT) AS n1,
        |             CAST(sum(o2) AS HUGEINT) AS n2 FROM c),
        |a AS (SELECT count(*) AS n_bins, max(t.n1) AS n1, max(t.n2) AS n2,
        |        sum(((CAST(o1 AS HUGEINT) * t.n2 - CAST(o2 AS HUGEINT) * t.n1)
        |             * (CAST(o1 AS HUGEINT) * t.n2 - CAST(o2 AS HUGEINT) * t.n1)
        |             * 100) // (t.n1 * t.n2 * (o1 + o2))) AS x2
        |      FROM c, t),
        |d AS (SELECT *,
        |        greatest(least(n_bins - 1, ${Chi2Crit05X100.size}), 1) AS df,
        |        [${Chi2Crit05X100.mkString(", ")}]
        |          [greatest(least(n_bins - 1, ${Chi2Crit05X100.size}), 1)] AS crit
        |      FROM a)
        |SELECT CAST(n_bins AS BIGINT) AS n_bins, CAST(df AS BIGINT) AS df,
        |       CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |       CAST(x2 AS BIGINT) AS x2_x100, CAST(crit AS BIGINT) AS crit_x100,
        |       x2 > crit AS drifted
        |FROM d""".stripMargin,
    // q297: identical count frame, doubled-U tie handling, and the same
    // floored tie_q / z² integer chains over HUGEINT
    "q297_mwu_drift" ->
      """WITH c AS (SELECT n_chars,
        |        sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS c1,
        |        sum(CASE WHEN doc_id % 2 <> 0 THEN 1 ELSE 0 END) AS c2
        |      FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
        |f AS (SELECT n_chars, c1, c2,
        |        CAST(coalesce(sum(c2) OVER (ORDER BY n_chars
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |          AS HUGEINT) AS p2
        |      FROM c),
        |a AS (SELECT CAST(sum(c1) AS HUGEINT) AS n1,
        |        CAST(sum(c2) AS HUGEINT) AS n2,
        |        sum(CAST(c1 AS HUGEINT) * (2 * p2 + c2)) AS u2d,
        |        sum(CAST(c1 + c2 AS HUGEINT) * (c1 + c2) * (c1 + c2)
        |            - (c1 + c2)) AS tt
        |      FROM f),
        |p AS (SELECT n1, n2, u2d, tt, n1 + n2 AS nn,
        |        CASE WHEN n1 + n2 >= 2
        |             THEN tt // ((n1 + n2) * (n1 + n2 - 1)) ELSE 0 END AS tieq,
        |        u2d - n1 * n2 AS devd
        |      FROM a),
        |z AS (SELECT *, CASE WHEN n1 * n2 > 0 AND nn + 1 - tieq > 0
        |        THEN (3 * devd * devd) // (n1 * n2 * (nn + 1 - tieq))
        |        ELSE 0 END AS z2d
        |      FROM p)
        |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |       CAST(u2d AS BIGINT) AS u2, CAST(devd AS BIGINT) AS dev,
        |       CAST(tieq AS BIGINT) AS tie_q, CAST(z2d AS BIGINT) AS z2,
        |       z2d > 4 AS drifted
        |FROM z""".stripMargin,
    "q219_ks_drift" ->
      s"""WITH $ksCtes
        |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |       n_chars AS at_value,
        |       CAST(CASE WHEN n1 * n2 = 0 THEN 10000 ELSE
        |            (d_num * 10000) // (n1 * n2) END AS BIGINT) AS d_bp
        |FROM d ORDER BY d_num DESC, n_chars LIMIT 1""".stripMargin,
    // q224: the same ksCtes (shared — the gate's drift number can never
    // diverge from q219's) + one corpus aggregate; verdicts are integer
    // comparisons in both engines
    "q224_corpus_gate" ->
      s"""WITH $ksCtes,
        |kk AS (SELECT CAST(CASE WHEN n1 * n2 = 0 THEN 10000 ELSE
        |              (d_num * 10000) // (n1 * n2) END AS BIGINT) AS d_bp
        |       FROM d ORDER BY d_num DESC, n_chars LIMIT 1),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |             CAST(count(DISTINCT md5(text)) AS BIGINT) AS nd,
        |             CAST(count(DISTINCT lang) AS BIGINT) AS nl,
        |             CAST(sum(CASE WHEN ${Curation.WordCountDuck} >= ${Curation.MinWords} THEN 1 ELSE 0 END) AS BIGINT) AS npass,
        |             CAST(sum(${Curation.WordCountDuck}) AS BIGINT) AS ntok
        |      FROM documents WHERE text IS NOT NULL)
        |SELECT * FROM (
        |  SELECT 'a_min_docs' AS "check", n AS value,
        |         CAST(100 AS BIGINT) AS threshold, n >= 100 AS ok FROM m
        |  UNION ALL SELECT 'b_dup_rate_bp', (n - nd) * 10000 // n, 100,
        |         (n - nd) * 10000 // n <= 100 FROM m
        |  UNION ALL SELECT 'c_lang_coverage', nl, 3, nl >= 3 FROM m
        |  UNION ALL SELECT 'd_quality_share_bp', npass * 10000 // n, 8000,
        |         npass * 10000 // n >= 8000 FROM m
        |  UNION ALL SELECT 'e_ks_drift_bp', d_bp, 2000, d_bp <= 2000 FROM kk
        |  UNION ALL SELECT 'f_token_budget', ntok, 100000,
        |         ntok >= 100000 FROM m)
        |ORDER BY "check"""".stripMargin,
    "q188_token_drift" ->
      // HUGEINT mirrors Spark's decimal(38,0): the cross-multiplied
      // integers stay exact, `//` matches Spark's integral `div`
      """WITH tok AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word FROM documents),
        |c AS (SELECT word,
        |      SUM(CASE WHEN doc_id % 7 <> 0 THEN 1 ELSE 0 END) AS ca,
        |      count(*) AS cb FROM tok GROUP BY 1),
        |g AS (SELECT CAST(SUM(ca) AS HUGEINT) AS na, CAST(SUM(cb) AS HUGEINT) AS nb FROM c),
        |d AS (SELECT word, ca, cb, abs(CAST(ca AS HUGEINT) * g.nb - CAST(cb AS HUGEINT) * g.na) AS d,
        |      g.na AS na, g.nb AS nb FROM c, g),
        |t AS (SELECT CAST(CASE WHEN max(na) * max(nb) = 0 THEN 10000 ELSE (2 * SUM(d) * 10000 + 2 * (max(na) * max(nb))) // (4 * (max(na) * max(nb))) END AS BIGINT) AS tvd_bp FROM d),
        |m AS (SELECT word, ca AS c_old, cb AS c_new,
        |      CAST(CASE WHEN na * nb = 0 THEN 10000 ELSE (2 * d * 10000 + na * nb) // (2 * na * nb) END AS BIGINT) AS dshare_bp
        |      FROM d ORDER BY d DESC, word LIMIT 10)
        |SELECT m.word, CAST(m.c_old AS BIGINT) AS c_old, CAST(m.c_new AS BIGINT) AS c_new,
        |       m.dshare_bp, t.tvd_bp
        |FROM m, t ORDER BY dshare_bp DESC, word""".stripMargin,
    // q227: recomputed FROM RAW DOCUMENTS — the oracle never sees a
    // partial, a commit log, or the reference snapshot table, so it
    // cross-checks the streaming monitor's whole merge+join+divide
    // chain (including the defined degenerate branches, kept as the
    // CASE twin even though this corpus never hits them)
    "q227_drift_monitor" ->
      s"""WITH tok AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word FROM documents),
        |c AS (SELECT word,
        |      SUM(CASE WHEN doc_id % 7 <> 0 THEN 1 ELSE 0 END) AS cref,
        |      count(*) AS cseen FROM tok GROUP BY 1),
        |g AS (SELECT CAST(SUM(cref) AS HUGEINT) AS na, CAST(SUM(cseen) AS HUGEINT) AS nb FROM c),
        |d AS (SELECT abs(CAST(cref AS HUGEINT) * g.nb - CAST(cseen AS HUGEINT) * g.na) AS d,
        |      g.na AS na, g.nb AS nb FROM c, g)
        |SELECT CAST(CASE
        |         WHEN max(na) = 0 AND max(nb) = 0 THEN 0
        |         WHEN max(na) = 0 OR max(nb) = 0 THEN 10000
        |         ELSE (2 * SUM(d) * 10000 + 2 * (max(na) * max(nb))) // (4 * (max(na) * max(nb)))
        |       END AS BIGINT) AS tvd_bp,
        |       CAST(max(na) AS BIGINT) AS n_ref_tokens,
        |       CAST(max(nb) AS BIGINT) AS n_seen_tokens,
        |       CAST($DriftBatches AS BIGINT) AS n_batches
        |FROM d""".stripMargin,
    "q166_data_card" -> dataCardOracleSql,
    // q228: the SAME oracle text as q166 — the incremental card's one
    // row must equal the one-shot card recomputed from the raw corpus,
    // which is exactly what grades the partials protocol (the q227
    // discipline applied to the other BatchCommitLog consumer)
    "q228_incremental_card" -> dataCardOracleSql,
    "q167_snapshot_diff" ->
      """WITH a AS (SELECT doc_id, md5(text) AS dig_a FROM documents),
        |b AS (SELECT doc_id,
        |             md5(CASE WHEN doc_id % 17 = 0 THEN text || ' v2' ELSE text END) AS dig_b
        |      FROM documents WHERE doc_id % 13 <> 0
        |      UNION ALL
        |      SELECT doc_id + 100000, md5(text) FROM documents WHERE doc_id % 29 = 0),
        |j AS (SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
        |        CASE WHEN a.dig_a IS NULL THEN 'added'
        |             WHEN b.dig_b IS NULL THEN 'removed'
        |             WHEN a.dig_a <> b.dig_b THEN 'changed'
        |             ELSE 'unchanged' END AS status
        |      FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
        |SELECT status, CAST(count(*) AS BIGINT) AS n,
        |       CAST(min(doc_id) AS BIGINT) AS min_id,
        |       CAST(max(doc_id) AS BIGINT) AS max_id
        |FROM j GROUP BY status ORDER BY status""".stripMargin,
    "q117_substring_dedup" ->
      s"""WITH $windowsCte,
        |dup AS (SELECT k FROM w GROUP BY k HAVING count(DISTINCT doc_id) > 1)
        |SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_win,
        |       CAST(count(dup.k) AS BIGINT) AS n_dup_win
        |FROM w LEFT JOIN dup ON w.k = dup.k
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q118_source_overlap" ->
      s"""WITH $windowsCte,
        |ws AS (SELECT DISTINCT k, source FROM w)
        |SELECT a.source AS src_a, b.source AS src_b,
        |       CAST(count(*) AS BIGINT) AS shared_windows
        |FROM ws a JOIN ws b ON a.k = b.k AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Independent formulation: the oracle builds segments by grouping word
    // ordinals ((i-1)//10) and string_agg ORDER BY — no transform/slice —
    // so a shared segmentation bug between the two engines can't hide.
    "q123_segment_dedup" ->
      """WITH words AS (
        |  SELECT doc_id, t.w, t.i
        |  FROM documents,
        |       LATERAL (SELECT unnest(string_split(text, ' ')) AS w,
        |                       generate_subscripts(string_split(text, ' '), 1) AS i) t
        |),
        |seg AS (
        |  SELECT doc_id, (i - 1) // 10 AS seg_id,
        |         string_agg(w, ' ' ORDER BY i) AS seg
        |  FROM words GROUP BY 1, 2
        |),
        |dup AS (
        |  SELECT md5(seg) AS k FROM seg GROUP BY 1 HAVING count(DISTINCT doc_id) > 1
        |),
        |kept AS (
        |  SELECT s.doc_id, s.seg_id, s.seg
        |  FROM seg s LEFT JOIN dup d ON md5(s.seg) = d.k
        |  WHERE d.k IS NULL
        |)
        |SELECT g.doc_id, g.n_seg,
        |       CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
        |       md5(coalesce(k.clean, '')) AS clean_md5
        |FROM (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_seg FROM seg GROUP BY 1) g
        |LEFT JOIN (SELECT doc_id, count(*) AS n_kept,
        |                  string_agg(seg, ' ' ORDER BY seg_id) AS clean
        |           FROM kept GROUP BY 1) k USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q130_mix_pipeline" -> {
      val wCase = TrainingData.ticketWeights
        .map { case (l, w) => s"WHEN '$l' THEN $w" }.mkString(" ")
      val bucket = "(('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::INT % 100)"
      s"""WITH words AS (
        |  SELECT doc_id, t.w, t.i
        |  FROM documents,
        |       LATERAL (SELECT unnest(string_split(text, ' ')) AS w,
        |                       generate_subscripts(string_split(text, ' '), 1) AS i) t
        |),
        |seg AS (
        |  SELECT doc_id, (i - 1) // 10 AS seg_id,
        |         string_agg(w, ' ' ORDER BY i) AS seg
        |  FROM words GROUP BY 1, 2
        |),
        |dup AS (
        |  SELECT md5(seg) AS k FROM seg GROUP BY 1 HAVING count(DISTINCT doc_id) > 1
        |),
        |kept AS (
        |  SELECT s.doc_id, s.seg_id, s.seg
        |  FROM seg s LEFT JOIN dup d ON md5(s.seg) = d.k
        |  WHERE d.k IS NULL
        |),
        |clean AS (
        |  SELECT s.doc_id, d.lang,
        |         length(string_agg(s.seg, ' ' ORDER BY s.seg_id)) AS clean_chars
        |  FROM kept s JOIN documents d USING (doc_id)
        |  GROUP BY 1, 2
        |),
        |w AS (SELECT lang, CASE lang $wCase END AS w
        |      FROM (SELECT DISTINCT lang FROM documents)
        |      WHERE CASE lang $wCase END IS NOT NULL),
        |tick AS (
        |  SELECT c.doc_id, c.lang, c.clean_chars,
        |         min(('0x' || substr(md5(c.doc_id::VARCHAR || ':' || k.k::VARCHAR), 1, 12))::BIGINT) AS min_ticket
        |  FROM clean c JOIN w ON c.lang = w.lang,
        |       LATERAL (SELECT unnest(generate_series(1, w.w)) AS k) k
        |  GROUP BY 1, 2, 3
        |),
        |samp AS (SELECT * FROM tick ORDER BY min_ticket, doc_id LIMIT 400),
        |sp AS (SELECT lang, clean_chars,
        |              CASE WHEN $bucket < 80 THEN 'train'
        |                   WHEN $bucket < 90 THEN 'val'
        |                   ELSE 'test' END AS split
        |       FROM samp)
        |SELECT lang, split, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(clean_chars) AS BIGINT) AS sum_chars
        |FROM sp GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },
  )
}
