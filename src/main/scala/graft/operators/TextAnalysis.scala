package graft.operators

import graft.core.Tables._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table: language ID (stopword-hit heuristic), quality
  * scoring, token counting (whitespace + regex tokenizer), and document
  * fingerprinting.
  *
  * Everything is built from codegen'd built-ins (`split`, `filter`,
  * `aggregate`, `regexp_extract_all`, `md5`) — no UDFs — so the whole
  * stage stays inside WholeStageCodegen and scales linearly with one
  * parquet scan, no shuffle at all (pure per-row map).
  *
  * Determinism: all scores are ratios of integers or md5 digests, so the
  * DuckDB oracle matches bit-for-bit (no cross-engine float-summation
  * drift anywhere in this module).
  */
object TextAnalysis {

  /** Whitespace tokens of the (trimmed, lowercased) text. */
  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** `documents` fanned out for per-row tokenizer/kernel work (opt
    * r21): the sf-scale documents.parquet is ONE row group, so however
    * small `maxPartitionBytes` is, an un-repartitioned scan runs the
    * whole tokenize pass in ONE task — graft.tools.Profile measured
    * 0.2-0.6 s single-task jobs inside every text query (q_t1's two
    * range-sort passes were 2 × 0.24 s serial). The d2/d8 idiom: one
    * explicit exchange of the raw text parallelizes every kernel
    * above it; at 100 TB the scan is naturally parallel and the
    * repartition moves text bytes once — the same trade the d-family
    * accepts. Used by the per-row-heavy queries only (a trivial
    * projection is cheaper un-shuffled).
    */
  private[operators] def parDocs(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))

  private val langStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "es" -> Seq("el", "los", "y", "es", "un"))

  /** Count of tokens that are in `words`. */
  private def hitCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words: _*))).cast("long")

  /** Stopword-hit language scores + argmax prediction ('und' when no
    * evidence; ties broken in fixed language order).
    */
  def langId(text: Column): (Seq[Column], Column) = {
    val toks = tokens(text)
    val scores = langStopwords.map { case (l, ws) => hitCount(toks, ws).as(s"s_$l") }
    val g = greatest(langStopwords.map { case (_, ws) => hitCount(toks, ws) }: _*)
    val pred = langStopwords.foldRight(lit("und")) { case ((l, ws), acc) =>
      when(g > 0 && hitCount(toks, ws) === g, lit(l)).otherwise(acc)
    }
    // foldRight keeps declaration order precedence: en > de > fr > es
    (scores, pred)
  }

  /** Normalized-text md5 fingerprint (lower + collapse whitespace) —
    * the exact-dedup key.
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " ").cast("binary"))

  // ------------------------------------------------------------ queries

  /** T1: language identification. */
  val t1LangId: Relational.Q = (s, d) => {
    val (scores, pred) = langId(col("text"))
    parDocs(s, d)
      .select((col("doc_id") +: scores :+ pred.as("pred_lang")): _*)
      .orderBy("doc_id")
  }

  /** T2: quality scoring — length/stopword/distinct-token ratios.
    *
    * The token array is materialized ONCE in an intermediate projection
    * and every ratio reads the materialized column. Inlining
    * `tokens(text)` into each ratio instead re-splits the full text per
    * expression: the HOFs (`filter`, `aggregate`) are codegen-fallback,
    * so whole-stage subexpression elimination cannot collapse the
    * repeated splits across them — measured 2.5 s vs 0.9 s at sf0.1
    * (the r7→r8 0.65→2.92 s "regression" was this plan shape all along;
    * the r7 number was the outlier). At 100 TB the difference is 4×
    * the tokenizer CPU on every core.
    *
    * avg_wlen uses the identity sum(length(token)) ==
    * length(whitespace-stripped text): `length(regexp_replace(...))` is
    * a fully codegen'd scalar chain, where the equivalent
    * `aggregate(toks, ...)` HOF is a CodegenFallback island — same
    * integers (the tokens ARE the non-whitespace runs of the trimmed
    * text), smaller generated method, one less interpreted per-token
    * loop.
    */
  val t2Quality: Relational.Q = (s, d) => {
    val allStops = langStopwords.flatMap(_._2)
    val toks = col("toks")
    val n = size(toks).cast("long")
    val stopRatio = hitCount(toks, allStops).cast("double") / n
    val distinctRatio = size(array_distinct(toks)).cast("double") / n
    val avgWlen = col("n_alpha").cast("double") / n
    documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"),
        length(regexp_replace(lower(trim(col("text"))), "\\s+", "")).cast("long").as("n_alpha"))
      .select(
        col("doc_id"),
        n.as("n_tokens"),
        round(avgWlen, 3).as("avg_wlen"),
        round(stopRatio, 3).as("stop_ratio"),
        round(distinctRatio, 3).as("distinct_ratio"),
        round(least(n.cast("double") / 100, lit(1.0)) * 0.5 + distinctRatio * 0.5, 3).as("quality"))
      .orderBy("doc_id")
  }

  /** T3: token counting — whitespace tokenizer vs BPE-ish regex
    * tokenizer (`[a-z]+|[0-9]+|punct`).
    */
  val t3TokenCount: Relational.Q = (s, d) =>
    documents(s, d).select(
      col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_ws_tokens"),
      size(regexp_extract_all(lower(trim(col("text"))),
        lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).cast("long").as("n_re_tokens"))
      .orderBy("doc_id")

  /** T4: document fingerprint (rolling-hash analogue: md5 over the
    * normalized byte stream).
    */
  val t4Fingerprint: Relational.Q = (s, d) =>
    documents(s, d)
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")

  /** F4: the reference's "Title: .. Content: .." body parse
    * (`src/index.ts:115-119`) — built over a synthesized body column so
    * the round-trip is oracle-checkable on this corpus.
    */
  val f4Parse: Relational.Q = (s, d) =>
    documents(s, d)
      .withColumn("body",
        concat(lit("Title: doc-"), col("doc_id").cast("string"),
          lit(" Content: "), substring(col("text"), 1, 50)))
      .select(col("doc_id"),
        regexp_extract(col("body"), "Title: (.*?) Content:", 1).as("title"),
        regexp_extract(col("body"), "Content: (.*)$", 1).as("content"))
      .orderBy("doc_id")

  /** Chunking geometry: window of [[ChunkTokens]] tokens advancing by
    * [[ChunkStride]] (overlap = window − stride) — the standard
    * context-window preprocessing for RAG corpora and long-document
    * pretraining.
    */
  val ChunkTokens = 64
  val ChunkStride = 48

  /** T18: overlapping token-window chunking — split each document's
    * token stream into fixed-size windows with stride, one output row
    * per chunk: (doc_id, chunk_idx, start_tok, n_chunk_toks,
    * chunk_md5). Every document yields at least one chunk; the last
    * chunk may be short. Pure per-row flatMap (scan → codegen'd
    * sequence/explode/slice, no UDF, no shuffle before the final
    * sort), so the cost is linear in corpus tokens at any scale — the
    * chunk text itself is emitted as an md5 so the output stays
    * id-sized while still attesting the exact window content. The
    * reference has no chunking (its unit IS the document); this is the
    * op its users run upstream before embedding — the reference embeds
    * each whole `doc.body` as one vector
    * (`/root/reference/src/database.ts:193`, via the single-text
    * pipeline `/root/reference/src/vector.ts:24-38`).
    */
  val t18Chunk: Relational.Q = (s, d) => {
    val W = lit(ChunkTokens.toLong)
    val S = lit(ChunkStride.toLong)
    documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      // chunks = 1 + ceil(max(n - W, 0) / S): one window, plus one per
      // stride step needed to cover the tail
      .withColumn("n_chunks",
        lit(1L) + ceil(greatest(col("n") - W, lit(0L)).cast("double") / S).cast("long"))
      .withColumn("chunk_idx", explode(sequence(lit(0L), col("n_chunks") - 1)))
      .withColumn("start_tok", col("chunk_idx") * S + 1)
      .withColumn("n_chunk_toks", least(W, col("n") - col("start_tok") + 1))
      .withColumn("chunk_md5",
        md5(array_join(slice(col("toks"), col("start_tok").cast("int"),
          col("n_chunk_toks").cast("int")), " ").cast("binary")))
      .select("doc_id", "chunk_idx", "start_tok", "n_chunk_toks", "chunk_md5")
      .orderBy("doc_id", "chunk_idx")
  }

  /** T5: corpus token-frequency table — the canonical distributed
    * wordcount (explode → partial-agg groupBy): vocabulary building /
    * BPE preparation over a training corpus.
    */
  val t5TokenFreq: Relational.Q = (s, d) =>
    documents(s, d)
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 5)
      .orderBy(col("n").desc, col("tok").asc)
      .limit(100)

  /** T6: deterministic hash-based train/val/test split — stratified
    * sampling by stable id hash, the reproducible way to split a
    * 100 TB corpus (no RNG state, no shuffle: a pure per-row map).
    */
  val t6SampleSplit: Relational.Q = (s, d) => {
    val h = Dedup.baseHash(col("doc_id").cast("string")) % 10
    documents(s, d)
      .withColumn("split",
        when(h < 8, "train").when(h === 8, "val").otherwise("test"))
      .groupBy("split")
      .agg(count(lit(1)).as("n"), min("doc_id").as("min_id"), max("doc_id").as("max_id"))
      .orderBy("split")
  }

  /** T8: per-source language mix — the corpus-QA rollup a training
    * pipeline runs after language ID (is src7 suddenly 40% French?).
    */
  val t8LangMix: Relational.Q = (s, d) => {
    val (_, pred) = langId(col("text"))
    parDocs(s, d)
      .select(col("source"), pred.as("lang"))
      .groupBy("source", "lang").agg(count(lit(1)).as("n"))
      .orderBy("source", "lang")
  }

  /** T9: PII-style pattern scrubbing — count and redact digit runs
    * (the phone/SSN/id shape), the safety pass before training text
    * leaves the pipeline. Counting uses the same regex as the redact
    * so the two can't drift.
    */
  val t9Redact: Relational.Q = (s, d) =>
    documents(s, d)
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit("[0-9]{3,}"), lit(0))).cast("long").as("n_digit_runs"),
        substring(regexp_replace(col("text"), "[0-9]{3,}", "<NUM>"), 1, 40).as("redacted_head"))
      .orderBy("doc_id")

  /** T10: quality-gate filter — the t2 metrics folded into keep/drop
    * buckets with integer-exact boundaries (token counts, not float
    * scores, decide membership), then counted per verdict: the
    * admission-control report for a corpus build.
    */
  val t10QualityFilter: Relational.Q = (s, d) => {
    val toks = tokens(col("text"))
    val n = size(toks).cast("long")
    val nd = size(array_distinct(toks)).cast("long")
    parDocs(s, d)
      .select(col("doc_id"),
        when(n < 20, "too_short")
          .when(nd * 2 <= n, "too_repetitive") // distinct ratio <= 0.5, integer-exact
          .otherwise("keep").as("verdict"))
      .groupBy("verdict").agg(count(lit(1)).as("n"),
        min("doc_id").as("min_id"), max("doc_id").as("max_id"))
      .orderBy("verdict")
  }

  /** Domain-mixing weights in basis points of 10000 — the per-source
    * keep rate of the corpus reweighting pass (a Pile/Dolma-style
    * source mixture). Tiers keyed on source name so both engines share
    * them as literals.
    */
  val MixFull: Seq[String] = (0 to 5).map(i => s"src$i")
  val MixHalf: Seq[String] = (6 to 12).map(i => s"src$i")
  val MixFullBps = 10000
  val MixHalfBps = 5000
  val MixRestBps = 2500

  /** T13: deterministic domain mixing — per-source downsampling by an
    * md5 keep-hash of (source, doc_id): same doc always gets the same
    * verdict (reproducible across runs, engines and cluster sizes —
    * the property a rerun of a 100 TB mixture job needs). Pure per-row
    * map + the hash compare; no shuffle before the final sort.
    */
  val t13DomainMix: Relational.Q = (s, d) => {
    val bps = when(col("source").isin(MixFull: _*), MixFullBps)
      .when(col("source").isin(MixHalf: _*), MixHalfBps)
      .otherwise(MixRestBps)
    // the shared 28-bit md5 keep-hash (same definition t6's split uses)
    val keyHash = Dedup.baseHash(
      concat(col("source"), lit(":"), col("doc_id").cast("string"))) % 10000
    documents(s, d)
      .filter(keyHash < bps)
      .select(col("doc_id"), col("source"))
      .orderBy("doc_id")
  }

  /** Per-(source, lang) cell cap for t16. Small relative to sf0.1 cell
    * sizes (~hundreds of docs) so the cap actually binds there; at
    * smaller sf some cells fall under quota and are kept whole — both
    * behaviors are the operator's contract.
    */
  val QuotaPerCell = 5

  /** T16: exact per-cell quota sampling — the mixture-enforcement pass
    * that caps each (source, language) cell at a fixed number of
    * documents, selected deterministically by an md5 keep-hash (t13's
    * reproducibility contract, but with an EXACT per-cell cardinality
    * guarantee, which is what a training mixture spec actually states).
    * Scale shape: the bounded-heap top-k aggregate
    * ([[graft.functions.TopKRows]]) — map-side partials contribute at
    * most quota rows per cell per partition to the shuffle, no
    * per-cell full sort; the window formulation the oracle uses would
    * sort every cell (billions of rows per cell at 100 TB).
    */
  val t16QuotaSample: Relational.Q = (s, d) => {
    // same 28-bit md5 keep-hash family as t6/t13; negated because the
    // heap keeps score-DESC and the sample takes the LOWEST hashes
    val keyHash = Dedup.baseHash(
      concat(col("source"), lit(":"), col("doc_id").cast("string")))
    documents(s, d)
      .select(col("source"), col("lang"), col("doc_id"), (-keyHash).cast("double").as("nkh"))
      .groupBy("source", "lang")
      .agg(graft.functions.TopKRows.topK(
        col("nkh"), col("doc_id"), lit(0).cast("int"), QuotaPerCell).as("tops"))
      .select(col("source"), col("lang"), posexplode(col("tops")).as(Seq("pos", "t")))
      .select(col("source"), col("lang"), col("t.id1").as("doc_id"),
        (col("pos") + 1).cast("long").as("rn"))
      .orderBy("source", "lang", "rn")
  }

  /** Document budget for the t19 temperature-scaled mixture. */
  val TempBudget = 300

  /** T19: temperature-scaled mixture resampling — the UniMax/T5-style
    * pass that re-weights SOURCES, not cells: each source's share of a
    * fixed document budget is proportional to `n_s^(1/2)` (temperature
    * alpha = 0.5 — down-weights dominant sources, boosts the tail),
    * capped at the source's own size, and the winning documents are the
    * target-many lowest keep-hashes — reproducible across runs and
    * cluster sizes like t16, but with DATA-DEPENDENT per-source
    * targets instead of a fixed quota.
    *
    * Determinism across engines: the weight is the INTEGER
    * `floor(sqrt(n_s))` and the target `(budget·w) div Σw` is pure
    * bigint arithmetic — no cross-engine float summation anywhere
    * (IEEE sqrt of an exact integer is correctly rounded on both
    * engines; everything after it is integer). Scale shape: targets
    * come from a per-source AGGREGATE (cardinality = #sources — the
    * scalar window runs over that tiny table, not over documents) and
    * the winners come from the same bounded-heap top-k aggregate as
    * t16 with k = budget, so map-side partials cap at budget rows per
    * source per partition and no per-source full sort ever runs — the
    * window formulation stays oracle-side.
    */
  val t19TemperatureMix: Relational.Q = (s, d) => {
    val counts = documents(s, d).groupBy("source").agg(count(lit(1)).as("n_s"))
    val targets = counts
      .withColumn("w", floor(sqrt(col("n_s").cast("double"))).cast("long"))
      .withColumn("w_total",
        sum("w").over(org.apache.spark.sql.expressions.Window.partitionBy()))
      .withColumn("target",
        least(col("n_s"), expr(s"($TempBudget * w) div w_total")))
      .select("source", "target")
    val keyHash = Dedup.baseHash(
      concat(col("source"), lit(":"), col("doc_id").cast("string")))
    documents(s, d)
      .select(col("source"), col("doc_id"), (-keyHash).cast("double").as("nkh"))
      .groupBy("source")
      .agg(graft.functions.TopKRows.topK(
        col("nkh"), col("doc_id"), lit(0).cast("int"), TempBudget).as("tops"))
      .select(col("source"), posexplode(col("tops")).as(Seq("pos", "t")))
      .select(col("source"), col("t.id1").as("doc_id"),
        (col("pos") + 1).cast("long").as("rn"))
      .join(broadcast(targets), "source")
      .filter(col("rn") <= col("target"))
      .select("source", "doc_id", "rn", "target")
      .orderBy("source", "rn")
  }

  /** Shard count for the t17 export manifest. Small here so the sf
    * fixture populates every shard; production WebDataset-style exports
    * use O(10k) shards, which also restores full write parallelism for
    * the per-shard windows below.
    */
  val NumShards = 16

  /** T17: dataloader shard manifest — the export step after packing:
    * every document gets a deterministic shard (28-bit md5 keep-hash mod
    * [[NumShards]], the t6 split family), a position within its shard
    * (hash order, so shard contents are corpus-order-independent and
    * shuffled "for free"), and the cumulative byte offset where its
    * payload starts — exactly the index a WebDataset/tar-style reader
    * needs to seek without parsing. One hash shuffle (the window
    * partition); the offset is a running sum over the preceding rows of
    * the shard, so no second pass over the data. Offsets accumulate the
    * UTF-8 octet length of the payload (`octet_length`), NOT the
    * character count — on any non-ASCII corpus a reader seeking by
    * char-count offsets would land mid-character. The reference analogue
    * is its JSON dump/restore surface (the json-dump plugin registered
    * at `/root/reference/src/database.ts:17,34`; the `exportJSON` call
    * sketched at `/root/reference/src/index.ts:14-15`), which exports
    * the whole collection as one blob; the manifest shape is the
    * distributed, seekable generalization.
    */
  val t17ShardManifest: Relational.Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val kh = Dedup.baseHash(col("doc_id").cast("string"))
    val w = Window.partitionBy("shard").orderBy(col("kh").asc, col("doc_id").asc)
    documents(s, d)
      .select(col("doc_id"), kh.as("kh"),
        size(tokens(col("text"))).cast("long").as("n_tokens"), col("n_chars"),
        octet_length(col("text")).cast("long").as("n_bytes"))
      .withColumn("shard", (col("kh") % NumShards).cast("long"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .withColumn("byte_offset",
        coalesce(sum("n_bytes").over(w.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select("shard", "pos", "doc_id", "n_tokens", "n_chars", "n_bytes", "byte_offset")
      .orderBy("shard", "pos")
  }

  /** T20 sketch capacity. The fixture's bigram vocabulary (~920 at
    * every SF) exceeds it, so the Misra-Gries decrement/merge paths run
    * for real; the exactness attestation below never assumes otherwise.
    */
  val HHSketchM = 896
  val HHTopK = 20

  /** T20: EXACT top-k heavy hitters at bounded state — the 100 TB
    * replacement for t5/t7's full-vocabulary groupBy (whose shuffle is
    * the distinct-term set: billions of typo/url tokens on web text).
    * Two passes over the corpus, constant shuffle width:
    *
    *   1. [[graft.functions.MisraGries]] sketch (m counters/partition
    *      reach the shuffle) + the exact stream length n.
    *   2. Exact re-count of ONLY the ≤m surviving candidates, top-k by
    *      (count DESC, term ASC).
    *
    * The output attests its own exactness: `provably_exact` is
    * kth_cnt·(m+1) > n, which with the MG invariant (a non-candidate's
    * true count is ≤ n/(m+1)) proves no excluded term could displace
    * row k. The DuckDB oracle recomputes the SAME top-k and attestation
    * from a plain exact groupBy, so a sketch bug that drops a true
    * heavy hitter hash-mismatches — the gate never trusts the theory.
    *
    * Terms are bigrams (t7's construction) — the vocabulary/BPE-merge
    * candidate stage of a training pipeline, and a term space larger
    * than the sketch so the bound does real work.
    */
  val t20HeavyHitters: Relational.Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    // toks materialized ONCE per pass (t2's lesson: HOF islands are
    // codegen-fallback, so inlining tokens() into both slice() args
    // re-splits the text twice per row)
    val n1 = greatest(size(col("toks")) - 1, lit(0))
    val bg = zip_with(slice(col("toks"), lit(1), n1), slice(col("toks"), lit(2), n1),
      (a, b) => concat(a, lit(" "), b))
    val terms = documents(s, d).select(tokens(col("text")).as("toks"))
      .select(explode(bg).as("term"))
    // One row: the sketch's ≤HHSketchM survivors + exact n. Driver-side
    // size is bounded by the aggregate's capacity (the plan), not the
    // data — the candidate list re-enters pass 2 as an In() literal.
    val pass1 = terms.agg(
      graft.functions.MisraGries.sketch(col("term"), HHSketchM).as("cand"),
      count(lit(1)).as("n_total")).head()
    val cands = pass1.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("cand")
      .map(_.getString(0)).toSeq
    val nTotal = pass1.getAs[Long]("n_total")
    val whole = Window.partitionBy().rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    terms.filter(col("term").isin(cands: _*))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term").asc).limit(HHTopK)
      // both windows run over the ≤HHTopK surviving rows, post-limit
      .withColumn("rank",
        row_number().over(Window.orderBy(col("cnt").desc, col("term").asc)).cast("long"))
      .withColumn("n_total", lit(nTotal))
      .withColumn("provably_exact",
        min(col("cnt")).over(whole) * (HHSketchM + 1) > lit(nTotal))
      .select("rank", "term", "cnt", "n_total", "provably_exact")
      .orderBy("rank")
  }

  val queries: Map[String, Relational.Q] = Map(
    "q_t20_heavy_hitters" -> t20HeavyHitters,
    "q_t17_shard_manifest" -> t17ShardManifest,
    "q_t16_quota_sample" -> t16QuotaSample,
    "q_t13_domain_mix" -> t13DomainMix,
    "q_t8_lang_mix" -> t8LangMix,
    "q_t9_redact" -> t9Redact,
    "q_t10_quality_filter" -> t10QualityFilter,
    "q_t5_token_freq" -> t5TokenFreq,
    "q_t6_sample_split" -> t6SampleSplit,
    "q_t1_lang_id" -> t1LangId,
    "q_t2_quality" -> t2Quality,
    "q_t3_token_count" -> t3TokenCount,
    "q_t4_fingerprint" -> t4Fingerprint,
    "q_t18_chunk" -> t18Chunk,
    "q_t19_temperature_mix" -> t19TemperatureMix,
    "q_f4_parse" -> f4Parse,
  )

  private def sqlHits(words: Seq[String]): String =
    s"len(list_filter(toks, t -> t IN (${words.map(w => s"'$w'").mkString(",")})))"

  val oracleSql: Map[String, String] = {
    val tokCte =
      "WITH tok AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents)"
    val scoreExprs = langStopwords.map { case (l, ws) => s"${sqlHits(ws)} AS s_$l" }
    val gExpr = langStopwords.map { case (_, ws) => sqlHits(ws) }.mkString("greatest(", ", ", ")")
    val predCase = {
      val whens = langStopwords.map { case (l, ws) =>
        s"WHEN g > 0 AND ${sqlHits(ws)} = g THEN '$l'"
      }.mkString(" ")
      s"CASE $whens ELSE 'und' END"
    }
    Map(
      // t20: the oracle is the EXACT full groupBy top-k (t7's bigram
      // construction) + the same kth·(m+1) > n attestation arithmetic —
      // it never sees the sketch, so candidate-set bugs hash-mismatch
      "q_t20_heavy_hitters" ->
        s"""WITH tok AS (SELECT string_split_regex(lower(trim(text)), '\\s+') AS w
           |             FROM documents),
           |bg AS (SELECT unnest(list_transform(range(1, len(w)),
           |              i -> w[i::INT] || ' ' || w[(i+1)::INT])) AS term FROM tok),
           |tot AS (SELECT count(*)::BIGINT AS n_total FROM bg),
           |c AS (SELECT term, count(*)::BIGINT AS cnt FROM bg GROUP BY term),
           |top AS (SELECT term, cnt,
           |               row_number() OVER (ORDER BY cnt DESC, term ASC)::BIGINT AS rank
           |        FROM c ORDER BY cnt DESC, term ASC LIMIT $HHTopK)
           |SELECT rank, term, cnt,
           |       (SELECT n_total FROM tot) AS n_total,
           |       ((SELECT min(cnt) FROM top) * ${HHSketchM + 1}
           |          > (SELECT n_total FROM tot)) AS provably_exact
           |FROM top ORDER BY rank""".stripMargin,
      // t18: same window/stride arithmetic; unnest(range(...)) is the
      // per-doc chunk fan-out, list_slice the (inclusive-end) window
      "q_t18_chunk" ->
        s"""$tokCte,
           |base AS (
           |  SELECT doc_id, toks, len(toks)::BIGINT AS n,
           |         (1 + ceil(greatest(len(toks) - $ChunkTokens, 0)::DOUBLE
           |                   / $ChunkStride))::BIGINT AS n_chunks
           |  FROM tok
           |),
           |ex AS (
           |  SELECT doc_id, toks, n, unnest(range(0, n_chunks))::BIGINT AS i
           |  FROM base
           |)
           |SELECT doc_id,
           |       i AS chunk_idx,
           |       (i * $ChunkStride + 1)::BIGINT AS start_tok,
           |       least($ChunkTokens, n - (i * $ChunkStride + 1) + 1)::BIGINT
           |         AS n_chunk_toks,
           |       md5(array_to_string(list_slice(toks, i * $ChunkStride + 1,
           |         i * $ChunkStride + least($ChunkTokens, n - (i * $ChunkStride + 1) + 1)),
           |         ' ')) AS chunk_md5
           |FROM ex
           |ORDER BY doc_id, chunk_idx""".stripMargin,
      // t19: integer-only target arithmetic (floor-sqrt weights, bigint
      // div) + the same hash-rank window formulation as t16's oracle
      "q_t19_temperature_mix" ->
        s"""WITH c AS (SELECT source, count(*)::BIGINT AS n_s
           |           FROM documents GROUP BY source),
           |t AS (SELECT source, n_s, floor(sqrt(n_s))::BIGINT AS w FROM c),
           |tg AS (SELECT source,
           |              least(n_s, ($TempBudget * w)
           |                // (SELECT sum(w) FROM t)::BIGINT)::BIGINT AS target
           |       FROM t),
           |h AS (SELECT source, doc_id,
           |             ('0x' || substr(md5(source || ':' || doc_id), 1, 7))::BIGINT AS kh
           |      FROM documents),
           |r AS (SELECT source, doc_id,
           |             row_number() OVER (PARTITION BY source
           |                                ORDER BY kh ASC, doc_id ASC) AS rn
           |      FROM h)
           |SELECT r.source, r.doc_id, r.rn, tg.target
           |FROM r JOIN tg USING (source)
           |WHERE r.rn <= tg.target
           |ORDER BY source, rn""".stripMargin,
      // t16: the window formulation IS the oracle — the engine's
      // bounded-heap aggregate must equal the per-cell hash-rank prefix
      "q_t16_quota_sample" ->
        s"""WITH h AS (
           |  SELECT source, lang, doc_id,
           |         ('0x' || substr(md5(source || ':' || doc_id), 1, 7))::BIGINT AS kh
           |  FROM documents
           |)
           |SELECT source, lang, doc_id, rn FROM (
           |  SELECT source, lang, doc_id,
           |         row_number() OVER (PARTITION BY source, lang
           |                            ORDER BY kh ASC, doc_id ASC) AS rn
           |  FROM h) t
           |WHERE rn <= $QuotaPerCell
           |ORDER BY source, lang, rn""".stripMargin,
      "q_t13_domain_mix" -> {
        def inList(ss: Seq[String]) = ss.map(s => s"'$s'").mkString(", ")
        s"""SELECT doc_id, source FROM documents
           |WHERE ('0x' || substr(md5(source || ':' || doc_id), 1, 7))::BIGINT % 10000
           |  < (CASE WHEN source IN (${inList(MixFull)}) THEN $MixFullBps
           |          WHEN source IN (${inList(MixHalf)}) THEN $MixHalfBps
           |          ELSE $MixRestBps END)
           |ORDER BY doc_id""".stripMargin
      },
      "q_t8_lang_mix" ->
        s"""WITH tok AS (
           |  SELECT doc_id, source, string_split_regex(lower(trim(text)), '\\s+') AS toks
           |  FROM documents
           |),
           |sc AS (SELECT source, toks, $gExpr AS g FROM tok)
           |SELECT source, $predCase AS lang, count(*) AS n
           |FROM sc GROUP BY source, lang ORDER BY source, lang""".stripMargin,
      "q_t9_redact" ->
        """SELECT doc_id,
          |       len(regexp_extract_all(text, '[0-9]{3,}'))::BIGINT AS n_digit_runs,
          |       substr(regexp_replace(text, '[0-9]{3,}', '<NUM>', 'g'), 1, 40) AS redacted_head
          |FROM documents ORDER BY doc_id""".stripMargin,
      "q_t10_quality_filter" ->
        s"""$tokCte,
           |v AS (
           |  SELECT doc_id,
           |         CASE WHEN len(toks) < 20 THEN 'too_short'
           |              WHEN len(list_distinct(toks)) * 2 <= len(toks) THEN 'too_repetitive'
           |              ELSE 'keep' END AS verdict
           |  FROM tok
           |)
           |SELECT verdict, count(*) AS n, min(doc_id) AS min_id, max(doc_id) AS max_id
           |FROM v GROUP BY verdict ORDER BY verdict""".stripMargin,
      "q_t1_lang_id" ->
        s"""$tokCte,
           |sc AS (SELECT doc_id, toks, ${scoreExprs.mkString(", ")}, $gExpr AS g FROM tok)
           |SELECT doc_id, s_en, s_de, s_fr, s_es, $predCase AS pred_lang
           |FROM sc ORDER BY doc_id""".stripMargin,
      "q_t2_quality" ->
        s"""$tokCte
           |SELECT doc_id,
           |  len(toks)::BIGINT AS n_tokens,
           |  round(list_aggregate(list_transform(toks, t -> len(t)), 'sum')::DOUBLE / len(toks), 3) AS avg_wlen,
           |  round(${sqlHits(langStopwords.flatMap(_._2))}::DOUBLE / len(toks), 3) AS stop_ratio,
           |  round(len(list_distinct(toks))::DOUBLE / len(toks), 3) AS distinct_ratio,
           |  round(least(len(toks)::DOUBLE / 100, 1.0) * 0.5
           |        + (len(list_distinct(toks))::DOUBLE / len(toks)) * 0.5, 3) AS quality
           |FROM tok ORDER BY doc_id""".stripMargin,
      "q_t3_token_count" ->
        s"""$tokCte
           |SELECT t.doc_id, len(t.toks)::BIGINT AS n_ws_tokens,
           |  len(regexp_extract_all(lower(trim(d.text)), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))::BIGINT AS n_re_tokens
           |FROM tok t JOIN documents d ON t.doc_id = d.doc_id
           |ORDER BY t.doc_id""".stripMargin,
      "q_t4_fingerprint" ->
        """SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
          |FROM documents ORDER BY doc_id""".stripMargin,
      "q_t5_token_freq" ->
        """SELECT tok, count(*) AS n
          |FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
          |      FROM documents) z
          |GROUP BY tok HAVING count(*) >= 5
          |ORDER BY n DESC, tok ASC LIMIT 100""".stripMargin,
      // t17: same 28-bit md5 hash family; the offset is the window sum
      // of preceding UTF-8 octet lengths within the shard (DuckDB's
      // strlen counts bytes; its length counts characters — matching
      // Spark's octet_length vs length), ties broken by doc_id
      "q_t17_shard_manifest" ->
        s"""WITH h AS (
           |  SELECT doc_id, n_chars, strlen(text) AS n_bytes,
           |         len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tokens,
           |         ('0x' || substr(md5(doc_id::VARCHAR), 1, 7))::BIGINT AS kh
           |  FROM documents
           |)
           |SELECT kh % $NumShards AS shard,
           |       row_number() OVER w AS pos,
           |       doc_id, n_tokens, n_chars, n_bytes,
           |       CAST(coalesce(sum(n_bytes) OVER (
           |         PARTITION BY kh % $NumShards ORDER BY kh ASC, doc_id ASC
           |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           |         AS byte_offset
           |FROM h
           |WINDOW w AS (PARTITION BY kh % $NumShards ORDER BY kh ASC, doc_id ASC)
           |ORDER BY shard, pos""".stripMargin,
      "q_t6_sample_split" ->
        """WITH h AS (
          |  SELECT doc_id,
          |         ('0x' || substr(md5(doc_id::VARCHAR), 1, 7))::BIGINT % 10 AS b
          |  FROM documents
          |)
          |SELECT CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END AS split,
          |       count(*) AS n, min(doc_id) AS min_id, max(doc_id) AS max_id
          |FROM h GROUP BY 1 ORDER BY split""".stripMargin,
      "q_f4_parse" ->
        """WITH b AS (
          |  SELECT doc_id,
          |         'Title: doc-' || doc_id::VARCHAR || ' Content: ' || substr(text, 1, 50) AS body
          |  FROM documents
          |)
          |SELECT doc_id,
          |       regexp_extract(body, 'Title: (.*?) Content:', 1) AS title,
          |       regexp_extract(body, 'Content: (.*)$', 1) AS content
          |FROM b ORDER BY doc_id""".stripMargin,
    )
  }
}
