package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.VectorExprs

/** SURVEY.md §2 (J9): the quality-gate / tokenizer /
  * retrieval-compression rows a production training-data pipeline runs
  * between ingestion and packing — published-heuristic quality rules
  * (Gopher/C4-style), tokenizer fertility diagnostics, language-ID
  * audit aggregation, 1-bit MinHash signature compression, Kneser-Ney
  * bigram smoothing, truncated-dimension (Matryoshka-style) and
  * binary-sign retrieval scoreboards, windowed event dedup, and
  * per-domain unigram KL drift.
  *
  * Determinism discipline (SURVEY §7.4): whitespace tokens (`split(text,
  * ' ')` ≡ DuckDB `string_split`), exact integer arithmetic scaled ×10⁴
  * or ×10⁶ with truncating `div` ≡ `//`, logs rounded ONCE to
  * milli-units then BIGINT sums (the zipf/dsir rule), total-order sorts.
  *
  * Scale shapes: every row is map-side projection + vocab- or
  * group-sized shuffles; the only self-joins are over the banded
  * candidate sets the LSH family already bounds; probe sides are
  * fixed-arity (20 vectors). Nothing here is corpus × corpus.
  */
object Curation {

  /** Gopher-style quality rule gate: per-document rule flags + the
    * composite keep decision. The four rules are the public
    * Gopher/MassiveText heuristics expressible over whitespace tokens —
    * word-count bounds, mean-word-length band, alphabetic-word
    * fraction, minimum stopword evidence — each kept as a SEPARATE
    * boolean column because a curation pipeline tunes and audits rules
    * individually before composing them.
    *
    * All checks are integer inequalities (mean word length 3 ≤ Σlen/n
    * ≤ 10 becomes 3n ≤ Σlen ≤ 10n) so both engines agree exactly.
    * Scale: one columnar pass, no shuffle before the output sort. */
  def gopherRules(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .withColumn("tk", tokens)
      .select(col("doc_id"),
        size(col("tk")).cast("long").as("n_words"),
        expr("aggregate(tk, CAST(0 AS BIGINT), (a, t) -> a + length(t))")
          .as("sum_len"),
        expr("CAST(size(filter(tk, t -> t rlike '[A-Za-z]')) AS BIGINT)")
          .as("n_alpha"),
        expr(s"CAST(size(filter(tk, t -> t IN $stopwordsSql)) AS BIGINT)")
          .as("n_stop"))
      .select(col("doc_id"), col("n_words"),
        (col("n_words") >= 5 && col("n_words") <= 10000).as("r_nwords"),
        (col("sum_len") >= lit(3) * col("n_words") &&
          col("sum_len") <= lit(10) * col("n_words")).as("r_mwl"),
        (lit(5) * col("n_alpha") >= lit(4) * col("n_words")).as("r_alpha"),
        (col("n_stop") >= 2).as("r_stop"))
      .withColumn("keep",
        col("r_nwords") && col("r_mwl") && col("r_alpha") && col("r_stop"))
      .orderBy(col("doc_id"))

  /** C4-style heuristic gate: terminal punctuation, ≥3 sentence
    * terminators, no curly brace (code/JSON leak), no "lorem ipsum"
    * boilerplate, ≥5 words — the published C4 cleanup rules at document
    * granularity, one boolean column per rule plus the composite.
    *
    * The synthetic corpus contains no punctuation, braces, or
    * boilerplate at all, so the raw fixture would make every
    * punctuation rule vacuously false and the others vacuously true.
    * Like the pii_scrub / image-near-dup rows, the query PLANTS the
    * features deterministically (doc_id residues: %3 → three proper
    * sentence endings, %7 → a trailing `{code}` block, %11 →
    * "lorem ipsum"), identically in the oracle, so every rule binds in
    * BOTH directions and the composite keep is a real partition of the
    * corpus. Pure regex/contains predicates after the plant — one
    * columnar pass, no shuffle before the output sort. */
  def c4Rules(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .withColumn("t", concat(col("text"),
        when(col("doc_id") % 3 === 0,
          lit(". Second sentence here. And a third one.")).otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit(" {code}")).otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit(" lorem ipsum")).otherwise(lit(""))))
      .select(col("doc_id"),
        col("t").rlike("[.!?]$").as("r_punct"),
        (size(expr("regexp_extract_all(t, '[.!?]', 0)")) >= 3)
          .as("r_sent"),
        (!col("t").contains("{")).as("r_brace"),
        (!lower(col("t")).contains("lorem ipsum")).as("r_lorem"),
        (size(split(col("t"), " ")) >= 5).as("r_minw"))
      .withColumn("keep", col("r_punct") && col("r_sent") &&
        col("r_brace") && col("r_lorem") && col("r_minw"))
      .orderBy(col("doc_id"))

  /** Tokenizer fertility per language: whitespace tokens per character
    * and BPE-proxy pieces (the \S{1,4} regex family shared with
    * q_llm_token_count) per whitespace token — THE number a tokenizer
    * owner watches per language (a fertility spike on one language
    * means its token budget is being burned on fragmentation).
    * Integer rates ×10⁴; partial-aggregable lang-keyed sums. */
  def tokenizerFertility(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(col("lang"), size(tokens).cast("long").as("n_ws"),
        size(expr("regexp_extract_all(text, '\\\\S{1,4}', 0)"))
          .cast("long").as("n_bpe"),
        length(col("text")).cast("long").as("n_chars"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_ws")).as("ws_tokens"),
        sum(col("n_bpe")).as("bpe_tokens"), sum(col("n_chars")).as("chars"))
      .select(col("lang"), col("n_docs"), col("ws_tokens"),
        col("bpe_tokens"), col("chars"),
        // greatest(x,1) guards: on a degenerate
        // all-empty-text language Spark's div yields NULL while the
        // oracle's // raises — the guard (0 div 1 = 0) gives BOTH
        // engines the same defined value (oracle carries the twin)
        expr("(ws_tokens * 10000) div greatest(chars, 1)")
          .as("tok_per_char_e4"),
        expr("(bpe_tokens * 10000) div greatest(ws_tokens, 1)")
          .as("bpe_per_ws_e4"))
      .orderBy(col("lang"))

  /** Language-ID confusion matrix: the per-document n-gram-profile
    * predictions of q_llm_lang_id aggregated to (actual, predicted)
    * counts — the audit table that tells a curation owner WHICH
    * languages the classifier confuses, not just its accuracy.
    * Reuses [[LlmOps.langId]] verbatim so the two rows can never
    * disagree about the classifier. Group-sized output (≤ langs²). */
  def langIdConfusion(spark: SparkSession, dir: String): DataFrame =
    LlmOps.langId(spark, dir)
      .groupBy(col("actual_lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("actual_lang"), col("pred_lang"))

  /** 1-bit MinHash signature compression (b-bit minhash, Li & König):
    * keep only the PARITY of each of the 16 permutation minimums — a
    * 16× signature compression — and debias the collision rate
    * (P[bit match] = (1+J)/2 for random parity bits ⇒ Ĵ = 2p − 1,
    * clamped at 0). Scored on the SAME banded-LSH candidate pairs as
    * the production path, next to the full 16-value estimate and the
    * exact Jaccard, so the row quantifies exactly what the 16× storage
    * cut costs in estimate quality. All integer ×10⁴ arithmetic.
    *
    * Scale: signatures are docs × 16 longs; candidates come from the
    * banded equi-join (never all-pairs); the exact column reuses the
    * collected shingle sets like the production verify step. */
  def minhash1Bit(spark: SparkSession, dir: String): DataFrame = {
    val sigs = LlmOps.minhashSigs(spark, dir)
    val cand = LlmOps.minhashCandidates(sigs)
    def side(p: String, id: String): DataFrame =
      sigs.select(
        col("doc_id").as(id) +: col("ss").as(s"${p}ss") +:
          col("n").as(s"${p}n") +:
          (0 until 16).map(j => col(s"m$j").as(s"${p}m$j")): _*)
    val m16 = (0 until 16)
      .map(j => s"(CASE WHEN am$j = bm$j THEN 1 ELSE 0 END)")
      .mkString(" + ")
    val m1 = (0 until 16)
      .map(j => s"(CASE WHEN am$j % 2 = bm$j % 2 THEN 1 ELSE 0 END)")
      .mkString(" + ")
    cand
      .join(side("a", "a_id"), "a_id")
      .join(side("b", "b_id"), "b_id")
      .withColumn("mm16", expr(s"CAST($m16 AS BIGINT)"))
      .withColumn("mm1", expr(s"CAST($m1 AS BIGINT)"))
      .withColumn("i",
        size(array_intersect(col("ass"), col("bss"))).cast("long"))
      .select(col("a_id"), col("b_id"),
        expr("(mm16 * 10000) div 16").as("est16_e4"),
        expr("(greatest(2 * mm1 - 16, CAST(0 AS BIGINT)) * 10000) div 16")
          .as("est1_e4"),
        expr("(i * 10000) div (an + bn - i)").as("jacc_e4"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Kneser–Ney smoothed bigram probabilities (d = 0.75), the standard
    * n-gram LM smoothing: P(w2|w1) = max(c12 − d, 0)/c1 + d·N1(w1•)/c1
    * · Pcont(w2), with the continuation probability Pcont(w2) =
    * N1(•w2)/|bigram types|. Every term is rational with d = 3/4, so
    * the whole computation is exact BIGINT ×10⁶ arithmetic — both
    * engines produce identical integers (division order pinned:
    * pcont_e6 first, then each term's single `div`). Top-50 bigrams by
    * raw count (full tie-break) keep the output bounded.
    *
    * Scale: one corpus bigram explode → three vocab-sized groupBys
    * (bigram, left-context, right-continuation) + one scalar type
    * count; joins are vocab-sized on hashed keys. */
  def knBigram(spark: SparkSession, dir: String): DataFrame = {
    val bg = documents(spark, dir)
      .withColumn("tk", tokens)
      .filter(size(col("tk")) >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(tk) - 1),
          |  i -> struct(element_at(tk, i) AS w1,
          |              element_at(tk, i + 1) AS w2))""".stripMargin))
        .as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val c12 = bg.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    val left = c12.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1w"))
    val cont = c12.groupBy(col("w2")).agg(count(lit(1)).as("pcnum"))
    val nbt = c12.agg(count(lit(1)).as("nbt"))
    c12
      .join(left, "w1")
      .join(cont, "w2")
      .crossJoin(broadcast(nbt))
      .withColumn("pcont_e6", expr("(pcnum * 1000000) div nbt"))
      .select(col("w1"), col("w2"), col("c12"),
        expr("((4 * c12 - 3) * 250000) div c1 +" +
          " (3 * n1w * pcont_e6) div (4 * c1)").as("p_kn_e6"))
      .orderBy(col("c12").desc, col("w1"), col("w2"))
      .limit(50)
  }

  /** Jelinek–Mercer interpolated bigram LM (λ = 0.7) — the
    * fourth smoothing family next to add-one MLE (q_llm_bigram_lm),
    * Kneser–Ney ([[knBigram]]) and stupid backoff (q_llm_trigram_sbo):
    * p(w2|w1) = λ·c12/c1 + (1−λ)·cu(w2)/N, the linear blend of bigram
    * MLE with the UNIGRAM prior (where KN backs off to continuation
    * counts — enrolling both makes the difference auditable on the same
    * top-50 rows).
    *
    * Exactness: each term is floored independently —
    * jm_e6 = (7·c12·10⁶) div (10·c1) + (3·cu2·10⁶) div (10·N) — a
    * deterministic fixed-point evaluation within 2 micro-units of the
    * real-valued mixture. Flooring per-term (rather than one fused
    * ratio (7·c12·N + 3·cu2·c1)·10⁶ div (10·c1·N)) is deliberate: the
    * fused dividend crosses 2⁶³ once N·c12 ~ 10¹², i.e. at roughly
    * sf100 of this fixture, while the per-term form stays ≤ 7·10⁶·c12
    * — overflow-safe to any corpus a BIGINT count can describe. Both
    * engines run the identical floored formula, so parity is exact.
    *
    * Scale: the knBigram shape — one corpus bigram explode + one token
    * explode, vocab-sized groupBys, 1-row total broadcast. */
  def jmInterp(spark: SparkSession, dir: String): DataFrame = {
    val docs = documents(spark, dir)
      .withColumn("tk", tokens)
    val bg = docs
      .filter(size(col("tk")) >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(tk) - 1),
          |  i -> struct(element_at(tk, i) AS w1,
          |              element_at(tk, i + 1) AS w2))""".stripMargin))
        .as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val uni = docs.select(explode(col("tk")).as("w"))
    val c12 = bg.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val cu = uni.groupBy(col("w").as("w2")).agg(count(lit(1)).as("cu2"))
    val n = uni.agg(count(lit(1)).as("n_tok"))
    c12.join(c1, "w1").join(cu, "w2").crossJoin(broadcast(n))
      .select(col("w1"), col("w2"), col("c12"), col("c1"),
        col("cu2"), col("n_tok"),
        expr("(7 * c12 * 1000000) div (10 * c1) +" +
          " (3 * cu2 * 1000000) div (10 * n_tok)").as("jm_e6"))
      .orderBy(col("c12").desc, col("w1"), col("w2"))
      .limit(50)
  }

  /** Matryoshka-style truncated-dimension retrieval scoreboard:
    * recall@3 (vs the full 64-dim brute-force top-3) when cosine runs
    * over only the FIRST d dimensions, d ∈ {8, 16, 32} — the number
    * that tells an embedding owner how many dimensions the retrieval
    * tier actually needs (storage and bandwidth scale linearly in d).
    * Same bounded-probe shape as every ANN row: the 20-probe side
    * broadcasts, candidates stream, nothing is all-pairs. */
  def mrlRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(spark, dir)
    val w = org.apache.spark.sql.expressions.Window
    def top3(d: Option[Int]): DataFrame = {
      val vexpr = d.fold("embedding")(n => s"slice(embedding, 1, $n)")
      val e = emb.select(col("vec_id"), expr(vexpr).as("v"))
        .withColumn("nrm", VectorExprs.norm(col("v")))
      val probes = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("probe_id"), col("v").as("pv"),
          col("nrm").as("pn"))
      probes.crossJoin(e.select(col("vec_id"), col("v").as("cv"),
          col("nrm").as("cn")))
        .filter(col("vec_id") =!= col("probe_id"))
        .withColumn("cos",
          round(VectorExprs.dot(col("pv"), col("cv"))
            / (col("pn") * col("cn")), 6))
        .withColumn("rank", row_number().over(
          w.partitionBy(col("probe_id"))
            .orderBy(col("cos").desc, col("vec_id"))))
        .filter(col("rank") <= 3)
        .select(col("probe_id"), col("vec_id"))
    }
    val full = top3(None).localCheckpoint()
    val denom = full.agg(count(lit(1)).as("total"))
    Seq(8, 16, 32)
      .map { d =>
        top3(Some(d)).join(full, Seq("probe_id", "vec_id"), "left_semi")
          .agg(count(lit(1)).as("n_hits"))
          .select(lit(d).as("dim"), col("n_hits"))
      }
      .reduce(_ unionAll _)
      .crossJoin(broadcast(denom))
      .select(col("dim"), col("n_hits"),
        // greatest-guard: an empty full-rank
        // frame (degenerate store: <2 vectors) makes total = 0 — Spark
        // div would yield NULL where the oracle's // may error; both
        // arms guard identically (0 div 1 = 0). The zero-hit DIM case
        // is already parity-safe: this global agg emits n_hits = 0 and
        // the oracle's VALUES LEFT JOIN keeps the dim row — pinned by
        // the degenerate-fixture test in CurationSpec.
        expr("(n_hits * 10000) div greatest(total, 1)").as("recall_e4"))
      .orderBy(col("dim"))
  }

  /** Binary-sign embedding retrieval: 64-bit sign fingerprint (bit i =
    * dim i > 0, packed as two 32-bit halves so both engines stay in
    * non-negative BIGINT — the aHash convention), Hamming top-3 per
    * probe. This is the 32×-compression retrieval tier (64 floats →
    * 8 bytes) whose candidate quality the MRL row's recall axis and
    * the ANN scoreboards bracket; Hamming is exact integer bit_count
    * so the row is hash-stable. Fingerprints are map-side; the probe
    * side is fixed-arity (20). */
  def hammingEmbed(spark: SparkSession, dir: String): DataFrame = {
    def half(off: Int): String =
      s"""aggregate(sequence(0, 31), CAST(0 AS BIGINT),
         |  (acc, i) -> acc + CASE
         |    WHEN element_at(embedding, i + $off) > 0
         |    THEN shiftleft(CAST(1 AS BIGINT), i)
         |    ELSE CAST(0 AS BIGINT) END)""".stripMargin
    val f = embeddings(spark, dir).select(col("vec_id"),
      expr(half(33)).as("hi"), expr(half(1)).as("lo"))
    val probes = f.filter(col("vec_id") < 20)
      .select(col("vec_id").as("probe_id"), col("hi").as("phi"),
        col("lo").as("plo"))
    probes.crossJoin(f)
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("hamming", expr(
        "CAST(bit_count(phi ^ hi) + bit_count(plo ^ lo) AS BIGINT)"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("probe_id"))
          .orderBy(col("hamming"), col("vec_id"))))
      .filter(col("rank") <= 3)
      .select(col("probe_id"), col("rank"), col("vec_id"), col("hamming"))
      .orderBy(col("probe_id"), col("rank"))
  }

  /** Windowed event dedup: keep the FIRST event per (user, type,
    * 10-minute tumbling window) — the standard at-least-once log-stream
    * repair (retries and double-fires land in the same window and
    * collapse). Window id is integer nanos `div` window span, so both
    * engines bucket identically; first-in-window via one ranked window
    * with a total tie-break (ts, event_id). Scale: ONE shuffle on
    * (user, type, window) — the partition key a streaming version
    * would key state by. */
  def eventsDedupWindow(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("w_start", expr("ts_ns div 600000000000"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"), col("event_type"), col("w_start"))
          .orderBy(col("ts_ns"), col("event_id"))))
      .filter(col("rn") === 1)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("w_start"))
      .orderBy(col("event_id"))

  /** Per-source unigram KL divergence against the corpus distribution
    * over the top-100 corpus tokens — the domain-drift diagnostic a
    * mixture owner tracks (a source whose KL jumps is drifting away
    * from the corpus mix). Each ln rounds ONCE to milli-units
    * (ln(p/q) = lnE3(s_cnt·tot_c) − lnE3(c_cnt·tot_s), products stay
    * < 2⁵³), then pure BIGINT weighted sums — the zipf/dsir
    * determinism rule. Scale: vocab-sized counts, a 100-row broadcast,
    * source-keyed partial aggregation. */
  def domainKl(spark: SparkSession, dir: String): DataFrame = {
    val tok = documents(spark, dir)
      .select(col("source"), explode(tokens).as("w"))
    val top = tok.groupBy(col("w")).agg(count(lit(1)).as("c_cnt"))
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("c_cnt").desc, col("w"))))
      .filter(col("r") <= 100).drop("r")
    val totc = top.agg(sum(col("c_cnt")).as("tot_c"))
    val stok = tok.join(broadcast(top), "w")
      .groupBy(col("source"), col("w"), col("c_cnt"))
      .agg(count(lit(1)).as("s_cnt"))
    val tots = stok.groupBy(col("source"))
      .agg(sum(col("s_cnt")).as("tot_s"), count(lit(1)).as("n_terms"))
    stok
      .join(tots, "source")
      .crossJoin(broadcast(totc))
      .withColumn("term", expr(
        """s_cnt * (CAST(floor(ln(s_cnt * tot_c) * 1000 + 0.5) AS BIGINT)
          |       - CAST(floor(ln(c_cnt * tot_s) * 1000 + 0.5) AS BIGINT))
        """.stripMargin))
      .groupBy(col("source"), col("tot_s"), col("n_terms"))
      .agg(sum(col("term")).as("num"))
      .select(col("source"), col("n_terms"), col("tot_s"),
        expr("num div tot_s").as("kl_e3"))
      .orderBy(col("source"))
  }

  /** RAG context packing: fill a 2 000-token context
    * budget greedily down the BM25 ranking — the assembly step between
    * retrieval and the prompt. Output = the packed docs with their
    * rank, token cost, and running total; the first doc that would
    * overflow the budget is excluded (strict prefix property:
    * cum ≤ B). Deterministic: ranking ties break on doc_id, token
    * counts are whitespace-exact.
    *
    * Scale shape: the ranking caps at top-50 via TakeOrderedAndProject
    * BEFORE the cumulative window, so the single-partition cumsum only
    * ever sees 50 rows — the hybridRrf discipline (a corpus-sized
    * global window would be the scale hazard). */
  def contextPack(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val ranked = LlmOps.bm25Scored(spark, dir)
      .orderBy(col("bm25").desc, col("doc_id")).limit(50)
      .withColumn("rank", row_number().over(
        w.orderBy(col("bm25").desc, col("doc_id"))))
    val toks = documents(spark, dir)
      .select(col("doc_id"), size(tokens).cast("long").as("n_ws"))
    ranked.join(toks, "doc_id")
      .withColumn("cum_tokens", sum(col("n_ws")).over(
        w.orderBy(col("rank"))
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)))
      .filter(col("cum_tokens") <= 2000)
      .select(col("rank"), col("doc_id"), col("n_ws"), col("cum_tokens"))
      .orderBy(col("rank"))
  }

  /** Speculative-decoding acceptance proxy: predict
    * every next token with the corpus bigram argmax (the cheapest
    * draft model) and measure the per-language acceptance rate — the
    * number that says how much a 1-gram draft would speed this corpus
    * up. Argmax ties break lexicographically; exact integer ×10⁴
    * rate.
    *
    * Scale shape: positions fan out map-side (no window — each
    * position carries its own (prev, actual) pair from one array
    * transform), the draft table is the vocab-sized bigram argmax
    * joined on the hashed prev-token key, acceptance is a
    * partial-aggregable lang groupBy. */
  def specNgram(spark: SparkSession, dir: String): DataFrame = {
    val pos = documents(spark, dir)
      .withColumn("tk", tokens)
      .filter(size(col("tk")) >= 2)
      .select(col("lang"), explode(expr(
        """transform(sequence(2, size(tk)),
          |  i -> struct(element_at(tk, i - 1) AS wp,
          |              element_at(tk, i) AS w))""".stripMargin)).as("b"))
      .select(col("lang"), col("b.wp").as("wp"), col("b.w").as("w"))
    val draft = pos.groupBy(col("wp"), col("w"))
      .agg(count(lit(1)).as("c"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("wp"))
          .orderBy(col("c").desc, col("w"))))
      .filter(col("rn") === 1)
      .select(col("wp"), col("w").as("pred"))
    pos.join(draft, "wp")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_pos"),
        sum(when(col("w") === col("pred"), 1L).otherwise(0L)).as("n_hit"))
      .select(col("lang"), col("n_pos"), col("n_hit"),
        expr("(n_hit * 10000) div n_pos").as("acc_e4"))
      .orderBy(col("lang"))
  }

  /** Systematic resampling: the low-variance
    * resampler (particle filters, data re-weighting) — N = 100
    * equally-spaced picks through the cumulative weight line, weight =
    * doc length in chars. n_picks(doc) = ⌊cum·N/W⌋ − ⌊(cum−w)·N/W⌋,
    * which telescopes to exactly N total picks — all integer, no RNG,
    * identical in both engines. Output: the multi-picked docs (docs
    * sampled ≥ 1×).
    *
    * Scale note: the cumulative sum runs over doc_id order in ONE
    * global window here (docs-sized input); the production form is the
    * two-phase per-partition prefix sum (partition totals broadcast,
    * map-side offset add) — same integers, documented swap, the
    * ppl_buckets/ntile precedent. */
  def sysResample(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val d = documents(spark, dir)
      .select(col("doc_id"), col("n_chars").as("wt"))
    val tot = d.agg(sum(col("wt")).as("totw"))
    d.withColumn("cum", sum(col("wt")).over(
        w.orderBy(col("doc_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)))
      .crossJoin(broadcast(tot))
      .withColumn("n_picks", expr(
        "(cum * 100) div totw - ((cum - wt) * 100) div totw"))
      .filter(col("n_picks") >= 1)
      .select(col("doc_id"), col("wt"), col("n_picks"))
      .orderBy(col("doc_id"))
  }

  /** Quality-gate ablation: per Gopher rule, how many
    * docs fail it, how many it UNIQUELY kills (all other rules pass),
    * and the gate's keep-count with the rule removed — the audit a
    * curation owner reads before tuning a threshold (a rule with zero
    * unique kills is dead weight; one that dominates deserves a
    * second look). Composes [[gopherRules]]' own flag frame, so the
    * ablation can never disagree with the gate. One aggregate pass +
    * a 4-row stack — group-sized output. */
  def qualityAblate(spark: SparkSession, dir: String): DataFrame = {
    val f = gopherRules(spark, dir)
    val rules = Seq("r_nwords", "r_mwl", "r_alpha", "r_stop")
    def others(r: String) =
      rules.filter(_ != r).map(col).reduce(_ && _)
    val aggs = rules.flatMap { r =>
      Seq(sum(when(!col(r), 1L).otherwise(0L)).as(s"${r}_fail"),
        sum(when(!col(r) && others(r), 1L).otherwise(0L))
          .as(s"${r}_uniq"),
        sum(when(others(r), 1L).otherwise(0L)).as(s"${r}_without"))
    }
    val stackArgs = rules.map { r =>
      s"'${r.stripPrefix("r_")}', ${r}_fail, ${r}_uniq, ${r}_without"
    }.mkString(", ")
    f.agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(4, $stackArgs)" +
        " AS (rule, n_fail, n_unique_kill, keep_without)")
      .orderBy(col("rule"))
  }

  /** IVF cluster purity: per coarse bucket of the shared IVF quantizer
    * ([[graft.functions.IvfQuantizer]], the one q_llm_ivf_ann
    * searches), the majority `label` and
    * its fraction — the clustering-quality audit that says whether the
    * coarse quantizer's buckets align with semantic labels at all.
    * Scale: one broadcast centroid pass + a (bucket, label) count +
    * bucket-partitioned top-1 window — all bucket-sized after the
    * map-side assign. */
  def clusterPurity(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val emb = embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding").as("v"))
      .withColumn("norm", VectorExprs.norm(col("v")))
    val bucketed = graft.functions.IvfQuantizer
      .assign(emb, graft.functions.IvfQuantizer.sampledCentroids(emb))
      .select(col("vec_id"), col("label"), col("bucket"))
    val votes = bucketed.groupBy(col("bucket"), col("label"))
      .agg(count(lit(1)).as("n"))
    val sizes = bucketed.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_vecs"))
    votes.withColumn("rn", row_number().over(
        w.partitionBy(col("bucket")).orderBy(col("n").desc, col("label"))))
      .filter(col("rn") === 1)
      .select(col("bucket"), col("label").as("maj_label"),
        col("n").as("n_major"))
      .join(sizes, "bucket")
      .select(col("bucket"), col("n_vecs"), col("maj_label"),
        col("n_major"),
        expr("(n_major * 10000) div n_vecs").as("purity_e4"))
      .orderBy(col("bucket"))
  }

  /** Eval-set n-gram coverage: per eval doc (the
    * doc_id%10 slice of q_llm_decontaminate), the fraction of its
    * distinct 13-gram hashes that appear ANYWHERE in the train slice —
    * the coverage twin of decontamination (leakage asks "is eval in
    * train?"; coverage asks "how familiar will eval look?"). Same
    * gram hashing, partial-aggregable counts, one hash equi-join. */
  def ngramCoverage(spark: SparkSession, dir: String): DataFrame = {
    val grams = documents(spark, dir)
      .withColumn("tk", tokens)
      .select(col("doc_id"), explode(expr(
        s"""CASE WHEN size(tk) >= 13
           |THEN transform(sequence(1, size(tk) - 12),
           |  i -> ${LlmOps.h60("concat_ws(' ', slice(tk, i, 13))")})
           |ELSE CAST(array() AS array<bigint>) END""".stripMargin))
        .as("gh"))
    val e = grams.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("gh")).distinct()
    val t = grams.filter(col("doc_id") % 10 =!= 0)
      .select(col("gh")).distinct()
    val tot = e.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
    val seen = e.join(t, Seq("gh"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_seen"))
    tot.join(seen, Seq("doc_id"), "left_outer")
      .na.fill(0L, Seq("n_seen"))
      .select(col("doc_id"), col("n_grams"), col("n_seen"),
        expr("(n_seen * 10000) div n_grams").as("cov_e4"))
      .orderBy(col("doc_id"))
  }

  /** Heaps-law fit: vocabulary growth V = k·N^β over
    * 8 NESTED corpus subsets (docs with doc_id%8 < b — monotone by
    * construction, so the curve is a true growth curve without any
    * sequential scan). V_b comes from ONE vocab groupBy keeping each
    * token's minimum bucket (V_b = tokens with min-bucket < b); N_b
    * from the 8-row bucket counts. β is the zipf-row OLS: each ln
    * rounds ONCE to milli-units, then BIGINT moments with the
    * denominator divided for the e6 output scale. Natural text sits
    * near β≈0.5; the synthetic fixture's value is the diagnostic. */
  def heapsFit(spark: SparkSession, dir: String): DataFrame = {
    val tok = documents(spark, dir)
      .select((col("doc_id") % 8).as("b"), explode(tokens).as("w"))
    val nb = tok.groupBy(col("b")).agg(count(lit(1)).as("cnt"))
    val vb = tok.groupBy(col("w")).agg(min(col("b")).as("mb"))
      .groupBy(col("mb")).agg(count(lit(1)).as("vnew"))
    val pts = spark.range(1, 9).select(col("id").as("t"))
      .join(nb, col("b") < col("t")).groupBy(col("t"))
      .agg(sum(col("cnt")).as("n_t"))
      .join(vb.crossJoin(spark.range(1, 9).select(col("id").as("t")))
        .filter(col("mb") < col("t"))
        .groupBy(col("t")).agg(sum(col("vnew")).as("v_t")), "t")
      .select(
        expr("CAST(floor(ln(n_t) * 1000 + 0.5) AS BIGINT)").as("x"),
        expr("CAST(floor(ln(v_t) * 1000 + 0.5) AS BIGINT)").as("y"))
    pts.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("n"), expr(
        """(n * sxy - sx * sy)
          | div greatest((n * sxx - sx * sx) div 1000000,
          |              CAST(1 AS BIGINT))""".stripMargin).as("beta_e6"))
  }

  /** Vocabulary tail mass: hapax/dis-legomena counts
    * and their share of vocabulary and of token mass — the third leg
    * of the corpus-health trio (zipf exponent = head shape, Heaps β =
    * growth, tail mass = how much of the long tail is noise). A
    * crawl whose hapax share explodes is accumulating OCR junk;
    * one whose tail collapses is template-dominated. ONE vocab-sized
    * groupBy then a scalar class aggregate — partial-aggregable
    * end to end. */
  def tailTokens(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(explode(tokens).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("n_vocab"),
        sum(col("c")).as("n_tokens"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("n_dis"))
      .select(col("n_vocab"), col("n_tokens"), col("n_hapax"),
        col("n_dis"),
        expr("((n_hapax + n_dis) * 10000) div n_vocab")
          .as("tail_vocab_e4"),
        expr("((n_hapax + 2 * n_dis) * 10000) div n_tokens")
          .as("tail_mass_e4"))

  /** Content-defined chunking — the FastCDC idea over token
    * streams: a token is a CUT POINT when its 60-bit hash ≡ 0 mod 16
    * (expected chunk ≈ 16 tokens), so chunk boundaries depend only on
    * LOCAL content — an insertion early in a document shifts at most
    * one chunk, where fixed-size chunking shifts every subsequent
    * boundary (the property that makes CDC the dedup-friendly chunker
    * for training corpora and blob stores alike). Per document: token
    * count, chunk count, mean/max chunk size — the distribution a
    * chunk-store owner watches. Scale shape: one map-side hash per
    * token, one per-doc-sequence window for the running cut count
    * (the q_seq_pattern per-key bound), two partial-aggregable
    * groupBys. */
  def cdcChunks(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    documents(spark, dir)
      .select(col("doc_id"), posexplode(tokens)
        .as(Seq("pos", "tok")))
      .withColumn("b", (expr(
        s"CAST(conv(substring(md5(tok), 1, 15), 16, 10) AS BIGINT)")
        % 16 === 0).cast("long"))
      // exclusive running cut count = this token's chunk id (a cut
      // token ENDS its chunk, FastCDC-style)
      .withColumn("chunk_id", sum(col("b")).over(w) - col("b"))
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(count(lit(1)).as("csize"))
      .groupBy(col("doc_id"))
      .agg(sum(col("csize")).as("n_tokens"),
        count(lit(1)).as("n_chunks"),
        max(col("csize")).as("max_chunk"))
      .select(col("doc_id"), col("n_tokens"), col("n_chunks"),
        expr("(n_tokens * 100) div n_chunks").as("avg_chunk_e2"),
        col("max_chunk"))
      .orderBy(col("doc_id"))
  }

  /** Stupid-backoff trigram scoring — the web-scale LM
    * smoothing (Brants et al.: no normalization, fixed 0.4 backoff
    * weight; at corpus scale it matches Kneser–Ney at a fraction of
    * the cost). For the 20 most frequent bigram contexts (w1,w2), the
    * continuation probe is the corpus's single most frequent token t*:
    * score = c(w1,w2,t*)/c(w1,w2) when the trigram exists, else
    * 0.4 · c(w2,t*)/c(w2) — both branches exercised on the fixture
    * and emitted with their raw counts so the backoff routing is
    * auditable. Integer ×10⁶ throughout; complements the enrolled
    * bigram-MLE and Kneser–Ney rows as the third smoothing family.
    * Scale shape: three partial-aggregable n-gram counts, a 1-row
    * broadcast (t*), and a 20-row driver-bounded output join. */
  def trigramSbo(spark: SparkSession, dir: String): DataFrame = {
    val tk = documents(spark, dir)
      .select(tokens.as("tk"))
    val uni = tk.select(explode(col("tk")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val tstar = uni.orderBy(col("c1").desc, col("w")).limit(1)
      .select(col("w").as("probe"))
    val bi = tk.filter(size(col("tk")) >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(tk) - 1),
          |  i -> struct(tk[i - 1] AS w1, tk[i] AS w2))""".stripMargin))
        .as("s"))
      .groupBy(col("s.w1").as("w1"), col("s.w2").as("w2"))
      .agg(count(lit(1)).as("c2"))
    val tri = tk.filter(size(col("tk")) >= 3)
      .select(explode(expr(
        """transform(sequence(1, size(tk) - 2),
          |  i -> struct(tk[i - 1] AS w1, tk[i] AS w2, tk[i + 1] AS w3))"""
          .stripMargin)).as("s"))
      .groupBy(col("s.w1").as("w1"), col("s.w2").as("w2"),
        col("s.w3").as("w3"))
      .agg(count(lit(1)).as("c3"))
    bi.orderBy(col("c2").desc, col("w1"), col("w2")).limit(20)
      .crossJoin(broadcast(tstar))
      // the n-gram count frames are corpus-sized — never hinted
      // broadcast; the 20-row probe side is the small one, and AQE
      // plans these as broadcast joins FROM it (the count frames
      // stream, the bounded side builds)
      .join(tri.withColumnRenamed("w3", "probe"),
        Seq("w1", "w2", "probe"), "left_outer")
      .na.fill(0L, Seq("c3"))
      .join(bi.select(col("w1").as("w2"), col("w2").as("probe"),
        col("c2").as("c2b")), Seq("w2", "probe"), "left_outer")
      .na.fill(0L, Seq("c2b"))
      .join(uni.select(col("w").as("w2"), col("c1")), Seq("w2"))
      .select(col("w1"), col("w2"), col("probe"), col("c2"), col("c3"),
        col("c2b"), col("c1"),
        when(col("c3") > 0, lit("tri")).otherwise(lit("backoff"))
          .as("path"),
        when(col("c3") > 0, expr("c3 * 1000000 div c2"))
          .otherwise(expr("400000 * c2b div c1")).as("score_e6"))
      .orderBy(col("c2").desc, col("w1"), col("w2"))
  }

  /** Context-budget overflow audit: per source, fill context windows of
    * 1k/4k/16k tokens in doc_id order and report how many docs fit,
    * tokens used, and tokens lost to overflow — the capacity-planning
    * read behind a RAG context_pack deployment (how much of each
    * domain a budget actually admits). Cumulative sums run per SOURCE
    * partition (never a global window); the 3-row budget frame rides
    * a broadcast cross join. */
  def ctxOverflow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
    val cum = documents(spark, dir)
      .select(col("source"), col("doc_id"),
        size(tokens).cast("long").as("n_tok"))
      .withColumn("cum", sum(col("n_tok")).over(w))
    val budgets = Seq(1000L, 4000L, 16000L).toDF("budget")
    cum.crossJoin(broadcast(budgets))
      .groupBy(col("source"), col("budget"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("tokens_total"),
        sum(when(col("cum") <= col("budget"), 1L).otherwise(0L))
          .as("n_fit"),
        sum(when(col("cum") <= col("budget"), col("n_tok")).otherwise(0L))
          .as("tokens_used"))
      .withColumn("tokens_lost",
        col("tokens_total") - col("tokens_used"))
      .orderBy(col("source"), col("budget"))
  }

  /** Term burstiness (Church & Gale): for the 20 highest-frequency
    * terms, collection frequency vs document frequency and their ratio
    * ×10⁴ (mean occurrences per CONTAINING doc) — bursty terms (high
    * cf/df) concentrate in few docs and are topical; flat terms are
    * function words. The linguistic complement to tf-idf that a
    * stopword-list builder actually thresholds on.
    *
    * Shape: one tokenize shuffle → per-term (cf, df) partial-
    * aggregable aggregate (df via countDistinct over doc_id) →
    * bounded top-20. */
  def burstiness(spark: SparkSession, dir: String): DataFrame =
    docTokens(spark, dir)
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("cf"), countDistinct(col("doc_id")).as("df"))
      .withColumn("burst_e4", expr("cf * 10000 div df"))
      .orderBy(col("cf").desc, col("tok"))
      .limit(20)

  /** Entity-resolution BLOCKING audit: three candidate blocking keys
    * (first token, source+lang, 100-char length band) scored against
    * the enrolled MinHash-LSH near-dup pairs as ground truth — per
    * strategy, pair completeness (truth pairs whose two docs share a
    * block) vs reduction ratio (candidate pairs vs all pairs). The
    * measurement an ER/dedup owner runs BEFORE trusting a blocking
    * key at a scale where all-pairs is unaffordable; consuming
    * minhashLsh's own pairs means the audit can't disagree with the
    * dedup rows about what a duplicate is.
    *
    * Candidate volume is NEVER materialized — Σ s(s−1)/2 folds from
    * block sizes; coverage is two doc-sized key joins onto the
    * (small) truth-pair frame. */
  def erBlocking(spark: SparkSession, dir: String): DataFrame = {
    val truth = LlmOps.minhashLsh(spark, dir)
      .select(col("a_id"), col("b_id")).localCheckpoint()
    val keyed = documents(spark, dir).select(col("doc_id"),
      tokens(0).as("k_first"),
      expr("concat(source, '|', lang)").as("k_srclang"),
      expr("CAST(n_chars div 100 AS STRING)").as("k_lenband"))
    val strategies = Seq("first_token" -> "k_first",
      "source_lang" -> "k_srclang", "length_band" -> "k_lenband")
    val nDocs = keyed.agg(count(lit(1)).as("n_docs"))
    val nTruth = truth.agg(count(lit(1)).as("n_truth"))
    strategies.map { case (name, kcol) =>
      val blocks = keyed.groupBy(col(kcol)).agg(count(lit(1)).as("s"))
      val stats = blocks.agg(count(lit(1)).as("n_blocks"),
        sum(expr("s * (s - 1) div 2")).as("cand_pairs"))
      val covered = truth
        .join(keyed.select(col("doc_id").as("a_id"),
          col(kcol).as("ka")), "a_id")
        .join(keyed.select(col("doc_id").as("b_id"),
          col(kcol).as("kb")), "b_id")
        .filter(col("ka") === col("kb"))
        .agg(count(lit(1)).as("covered"))
      stats.crossJoin(covered).crossJoin(broadcast(nDocs))
        .crossJoin(broadcast(nTruth))
        .select(lit(name).as("strategy"), col("n_blocks"),
          col("cand_pairs"), col("n_truth"), col("covered"),
          expr("covered * 10000 div greatest(n_truth, 1)")
            .as("completeness_e4"),
          expr("cand_pairs * 10000 div (n_docs * (n_docs - 1) div 2)")
            .as("reduction_e4"))
    }.reduce(_ unionAll _).orderBy(col("strategy"))
  }

  /** Cross-language vocabulary overlap matrix: pairwise Jaccard ×10⁴
    * of the distinct-token vocabularies per language — the
    * contamination/segmentation audit behind "are these languages
    * actually separable?" (shared script + loanwords inflate it,
    * misrouted docs blow it up). All |langs|·(|langs|−1)/2 pairs.
    *
    * Shape: (lang, token) distinct (vocab-sized), self-join on token
    * with la < lb — the join is vocab-keyed (Heaps-bounded), never
    * corpus-sized; per-lang sizes broadcast back. */
  def langOverlap(spark: SparkSession, dir: String): DataFrame = {
    val lv = langTokens(spark, dir)
      .distinct()
    val sizes = lv.groupBy(col("lang")).agg(count(lit(1)).as("v"))
    val inter = lv.as("a")
      .join(lv.as("b"),
        col("a.tok") === col("b.tok") && col("a.lang") < col("b.lang"))
      .groupBy(col("a.lang").as("la"), col("b.lang").as("lb"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(broadcast(sizes.select(col("lang").as("la"),
        col("v").as("va"))), "la")
      .join(broadcast(sizes.select(col("lang").as("lb"),
        col("v").as("vb"))), "lb")
      .select(col("la"), col("lb"), col("va"), col("vb"), col("inter"),
        expr("inter * 10000 div (va + vb - inter)").as("jaccard_e4"))
      .orderBy(col("la"), col("lb"))
  }

  /** Block-MATTR lexical diversity: the moving-average
    * type-token ratio, the standard fix for raw TTR's length bias (a
    * longer text ALWAYS has a lower TTR, so corpus-level TTR mostly
    * measures document length). Tumbling 50-token blocks (the
    * fixed-window variant of MATTR's sliding window — same estimator
    * family, shuffle-free per block); only FULL blocks score (a
    * partial tail block has upward-biased TTR), with the excluded
    * short-doc census carried alongside. Per language: the block-TTR
    * mean (mattr_e4) next to the naive whole-language TTR (ttr_e4) —
    * the gap between the two IS the length-bias the row exists to
    * expose.
    *
    * Shape: posexplode → (doc, block, token) partial-aggregable
    * two-level distinct census (the lDiversity cell pattern) →
    * language-sized fold. The whole-language TTR reuses the same
    * token frame with a (lang, token) distinct. Nothing above
    * vocab-sized shuffles; 100 TB-safe by construction. */
  def mattr(spark: SparkSession, dir: String): DataFrame = {
    val toks = documents(spark, dir)
      .select(col("lang"), col("doc_id"),
        posexplode(tokens).as(Seq("pos", "tok")))
    val blocks = toks
      .withColumn("blk", expr("pos div 50"))
      .groupBy(col("lang"), col("doc_id"), col("blk"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("lang"), col("doc_id"), col("blk"))
      .agg(sum(col("c")).as("n_tok"), count(lit(1)).as("n_types"))
      .filter(col("n_tok") === 50L)
      .withColumn("ttr_blk_e4", expr("n_types * 10000 div n_tok"))
    val perLang = blocks.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(col("ttr_blk_e4")).as("s"))
      .select(col("lang"), col("n_blocks"),
        expr("s div n_blocks").as("mattr_e4"))
    val naive = toks
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("tok")).as("n_vocab"))
      .select(col("lang"), col("n_tokens"), col("n_vocab"),
        expr("n_vocab * 10000 div n_tokens").as("ttr_e4"))
    naive.join(perLang, Seq("lang"), "left")
      .withColumn("n_blocks", coalesce(col("n_blocks"), lit(0L)))
      .withColumn("mattr_e4", coalesce(col("mattr_e4"), lit(0L)))
      .orderBy(col("lang"))
  }

  /** Vocabulary-budget coverage curve: for vocab budgets
    * N ∈ {4, 8, 16, 32}, the share of all token OCCURRENCES covered by
    * the top-N most frequent types — the curve a tokenizer designer
    * reads to pick a vocab size (complement of q_llm_tail_tokens'
    * tail-mass view: this is the cumulative head, walked at fixed
    * budgets). Budgets are sized to the synthetic fixture's ~31-type
    * vocab so the curve actually bends; the production form is the
    * same plan with {1k, 8k, 32k, 128k}.
    *
    * Rank = row_number over the deterministic (count desc, token)
    * total order; the rank window and the cumulative pass both run on
    * the VOCAB-sized census frame (never the corpus), the documented
    * audit-window exception. Coverage_e4 is truncating div on
    * nonnegative sums — exact.
    *
    * Shape: corpus scan → (token) census (partial-aggregable) → two
    * vocab-frame windows → 4-row broadcast budget join. */
  def vocabBudget(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cnt = documents(spark, dir)
      .select(explode(tokens).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val tot = cnt.agg(sum(col("c")).as("big_n"))
    val wr = org.apache.spark.sql.expressions.Window
      .orderBy(col("c").desc, col("tok"))
    val wc = org.apache.spark.sql.expressions.Window
      .orderBy(col("rk"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, org.apache.spark.sql.expressions.Window
        .currentRow)
    val cum = cnt.withColumn("rk", row_number().over(wr).cast("long"))
      .withColumn("cum", sum(col("c")).over(wc))
    val budgets = Seq(4L, 8L, 16L, 32L).toDF("budget")
    cum.crossJoin(broadcast(budgets))
      .filter(col("rk") <= col("budget"))
      .groupBy(col("budget"))
      .agg(max(col("rk")).as("n_types_used"),
        max(col("cum")).as("n_covered"))
      .crossJoin(broadcast(tot))
      .select(col("budget"), col("n_types_used"), col("n_covered"),
        expr("n_covered * 10000 div big_n").as("coverage_e4"))
      .orderBy(col("budget"))
  }

  /** RAKE keyphrase extraction (Rose et al. 2010): candidate
    * phrases are maximal stopword-free token runs; a word scores
    * deg/freq (deg = Σ length of phrases containing it, freq = its
    * occurrence count — favors words that live in long collocations);
    * a phrase scores the sum of its member words' scores. The
    * co-occurrence-window complement of q_llm_textrank (graph
    * centrality) and q_llm_tfidf_top_terms (corpus contrast) — three
    * different published answers to "what are the key terms".
    * Corpus-level variant: word statistics aggregate across ALL
    * documents (the keyword-dictionary build), so identical phrases
    * score identically wherever they appear — deduped by phrase text
    * with an occurrence count. Top-15 by (score desc, phrase).
    * RANKED phrases are capped at 4 tokens (the standard practical
    * RAKE cap; on this low-stopword synthetic fixture an uncapped run
    * returns whole documents as "phrases") — the word deg/freq
    * statistics still come from ALL runs, per the original algorithm.
    *
    * Integer-exact: word score_e4 = deg·10⁴ div freq (≥ 10⁴ since
    * deg ≥ freq); phrase score = Σ member-occurrence scores — sums of
    * already-floored integers, same in both engines.
    *
    * Shape: one stopword-flag pass + per-doc running-sum window for
    * phrase ids (the cdcChunks idiom), phrase assembly via
    * sort_array(collect_list(struct(pos,tok))) ≡ string_agg ORDER BY,
    * then vocab-sized word joins. Never corpus × corpus. */
  def rakeKeywords(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val toks = documents(spark, dir)
      .select(col("doc_id"), posexplode(tokens).as(Seq("pos", "tok")))
      .withColumn("isstop",
        when(col("tok").isin(Stopwords: _*), 1L).otherwise(0L))
    val words = toks
      .withColumn("gid", sum(col("isstop")).over(w))
      .filter(col("isstop") === 0L)
      .select(col("doc_id"), col("gid"), col("pos"), col("tok"))
    val phrases = words.groupBy(col("doc_id"), col("gid"))
      .agg(count(lit(1)).as("plen"),
        expr("concat_ws(' ', transform(" +
          "sort_array(collect_list(struct(pos, tok))), s -> s.tok))")
          .as("phrase"))
    val wscore = words
      .join(phrases.select(col("doc_id"), col("gid"), col("plen")),
        Seq("doc_id", "gid"))
      .groupBy(col("tok"))
      .agg(sum(col("plen")).as("deg"), count(lit(1)).as("freq"))
      .withColumn("s_e4", expr("deg * 10000 div freq"))
    val occScore = words
      // vocab-sized score table — unhinted: AQE
      // runtime-broadcasts while small, co-partitions past that
      .join(wscore.select(col("tok"), col("s_e4")), Seq("tok"))
      .groupBy(col("doc_id"), col("gid"))
      .agg(sum(col("s_e4")).as("score_e4"))
    phrases.join(occScore, Seq("doc_id", "gid"))
      .filter(col("plen") <= 4L)
      .groupBy(col("phrase"))
      .agg(max(col("plen")).as("plen"), count(lit(1)).as("n_occur"),
        max(col("score_e4")).as("score_e4"))
      .orderBy(col("score_e4").desc, col("phrase"))
      .limit(15)
  }

  /** Count-of-counts spectrum over TRIGRAMS: N_c = how many
    * trigram types occur exactly c times, for c ∈ 1..10 plus the ≥11
    * head — the INPUT table of Good–Turing smoothing (its estimate
    * r* = (r+1)·N_{r+1}/N_r is a ratio of these exact integers; the
    * exact-components rule says ship the table, not the smoothed
    * composite) and the fourth member of the corpus-health family
    * (zipf slope, Heaps growth, tail mass, and now the frequency
    * spectrum — singleton mass N₁ is the classic unseen-mass
    * predictor). Trigrams, not unigrams, because the synthetic
    * 31-type vocabulary saturates (every unigram lands in the ≥11
    * bucket — measured) while the trigram space shows the Zipf-like
    * singleton-heavy spectrum real corpora have. Emitted per c: type
    * count, share of type inventory ×10⁴, share of occurrence MASS
    * ×10⁴.
    *
    * Shape: trigram census → count-of-counts (two partial-aggregable
    * rollups on strictly shrinking keys: corpus → gram inventory →
    * ≤11 rows). */
  def freqOfFreqs(spark: SparkSession, dir: String): DataFrame = {
    val cnt = documents(spark, dir)
      .select(tokens.as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(explode(expr(
        "transform(sequence(1, size(tk) - 2)," +
          " i -> concat(tk[i - 1], ' ', tk[i], ' ', tk[i + 1]))"))
        .as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val spec = cnt
      .withColumn("cc", least(col("c"), lit(11L)))
      .groupBy(col("cc"))
      .agg(count(lit(1)).as("n_types"), sum(col("c")).as("mass"))
    val tot = spec.agg(sum(col("n_types")).as("v"),
      sum(col("mass")).as("big_n"))
    spec.crossJoin(broadcast(tot))
      .select(col("cc").as("c_capped"), col("n_types"), col("mass"),
        expr("n_types * 10000 div v").as("vocab_share_e4"),
        expr("mass * 10000 div big_n").as("mass_share_e4"))
      .orderBy(col("c_capped"))
  }

  /** UMass topic coherence (Mimno et al. 2011): per
    * embedding-cluster "topic", the top-5 in-cluster terms and
    * Σ_{i<j} ln((D_ij+1)/D_j) over their ordered pairs — the standard
    * automatic answer to "are these clusters topics or noise" (a
    * coherent topic's top words co-occur in documents; incoherent
    * ones don't). Completes the cluster-eval family: purity grades
    * clusters against labels, coherence grades them against the
    * corpus itself (no labels needed).
    *
    * Logs follow the zipf/dsir round-once rule: each pair's term is
    * floor(1000·ln((D_ij+1)/D_j) + 0.5) — identical text in both
    * engines — then BIGINT-summed. Ranking tie-break (count desc,
    * term asc) is total, so the top-5 sets are bit-identical.
    *
    * Shape: doc×vocab distinct term frame (bounded by corpus vocab),
    * per-cluster count + rank window, then the pair D_ij counts ride
    * equi-joins keyed on the ≤ topics·C(5,2) pair frame — never
    * corpus × corpus. */
  def topicCoherence(spark: SparkSession, dir: String): DataFrame = {
    val docterm = documents(spark, dir)
      .join(embeddings(spark, dir)
        .select(col("vec_id").as("doc_id"), col("label")), Seq("doc_id"))
      .select(col("doc_id"), col("label"), explode(tokens).as("tok"))
      .distinct()
    val top5 = docterm.groupBy(col("label"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("label"))
          .orderBy(col("c").desc, col("tok"))))
      .filter(col("rk") <= 5)
    val dfGlobal = docterm.select(col("doc_id"), col("tok")).distinct()
      .groupBy(col("tok")).agg(count(lit(1)).as("dj"))
    val pairs = top5.as("i")
      .join(top5.as("j"),
        col("i.label") === col("j.label") && col("i.rk") < col("j.rk"))
      .select(col("i.label").as("label"), col("i.tok").as("wi"),
        col("j.tok").as("wj"))
    val dt = docterm.select(col("doc_id").as("d"), col("tok"))
    val dij = pairs
      .join(dt.select(col("d"), col("tok").as("wi")), Seq("wi"))
      .join(dt.select(col("d"), col("tok").as("wj")), Seq("wj", "d"))
      .groupBy(col("label"), col("wi"), col("wj"))
      .agg(count(lit(1)).as("dij"))
    val terms = pairs
      .join(dij, Seq("label", "wi", "wj"), "left")
      .withColumn("dij", coalesce(col("dij"), lit(0L)))
      // vocab-sized df table — unhinted
      .join(dfGlobal.select(col("tok").as("wj"),
        col("dj")), Seq("wj"))
      .withColumn("t_e3", expr(
        "CAST(floor(1000 * ln((dij + 1.0D) / dj) + 0.5) AS BIGINT)"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("t_e3")).as("coh_e3"))
    val tops = top5.groupBy(col("label"))
      .agg(expr("concat_ws(' ', transform(" +
        "sort_array(collect_list(struct(rk, tok))), s -> s.tok))")
        .as("top_terms"))
    val sizes = docterm.select(col("doc_id"), col("label")).distinct()
      .groupBy(col("label")).agg(count(lit(1)).as("n_docs"))
    sizes.join(tops, Seq("label")).join(terms, Seq("label"))
      .select(col("label").cast("long").as("label"), col("n_docs"),
        col("top_terms"), col("n_pairs"), col("coh_e3"))
      .orderBy(col("label"))
  }

  /** Length-bias audit of the quality judge: per source, is
    * the logreg score correlated with document LENGTH once you look
    * pairwise? Kendall τ-a over (n_tok, score) pairs inside a FIXED-
    * SIZE deterministic sample — the 40 lowest md5-h60 doc hashes per
    * source (a reservoir-sample twin: sample size stays 40 at any
    * corpus scale, so the per-source pair count is pinned at C(40,2)
    * = 780 forever — unlike a rate-based sample, whose pair count
    * grows quadratically with the corpus). τ-a (ties in the
    * denominator, no correction) keeps the row divide-free except the
    * final e4. The fixture verdict is a NEGATIVE bias (τ ≈ −0.35 to
    * −0.45): longer docs repeat tokens, TTR falls faster than the
    * length bonus rises — exactly the judge artifact this audit
    * exists to catch; length_biased fires on |τ| > 0.2 either way.
    *
    * Shape (100 TB): score scan → per-source rank window on the hash
    * (one shuffle) → 40-row-per-source self-join (bounded 780 pairs/
    * source) → per-source census. */
  def lengthBias(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s40 = documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(tokens).cast("long").as("n_tok"))
      .join(ModelPrep.qualityLogreg(spark, dir)
        .select(col("doc_id"),
          expr("CAST(floor(score * 10000 + 0.5) AS BIGINT)").as("s_e4")),
        "doc_id")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("source")).orderBy(
          expr(LlmOps.h60("CAST(doc_id AS STRING)")), col("doc_id"))))
      .filter(col("rn") <= 40)
    s40.as("a")
      .join(s40.as("b"),
        col("a.source") === col("b.source") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.source").as("source"),
        when((col("b.n_tok") > col("a.n_tok") &&
            col("b.s_e4") > col("a.s_e4")) ||
          (col("b.n_tok") < col("a.n_tok") &&
            col("b.s_e4") < col("a.s_e4")), 1L).otherwise(0L).as("conc"),
        when((col("b.n_tok") > col("a.n_tok") &&
            col("b.s_e4") < col("a.s_e4")) ||
          (col("b.n_tok") < col("a.n_tok") &&
            col("b.s_e4") > col("a.s_e4")), 1L).otherwise(0L).as("disc"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("conc")).as("concordant"),
        sum(col("disc")).as("discordant"))
      .select(col("source"), col("n_pairs"), col("concordant"),
        col("discordant"),
        expr("(concordant - discordant) * 10000 div n_pairs")
          .as("tau_a_e4"),
        expr("abs((concordant - discordant) * 10000 div n_pairs) > 2000")
          .as("length_biased"))
      .orderBy(col("source"))
  }

  /** Stopword discovery audit: which terms does the CORPUS
    * itself treat as stopwords (highest document frequency)? The
    * finding IS the row: none of the authored stop7 appear in the
    * top-10 df terms — this synthetic corpus has no English-stopword
    * dominance, so the stop_ratio feature the quality gates use is
    * measuring content-term incidence, not grammatical glue. That is
    * exactly why feature_separation found stop_ratio the WEAKEST
    * separator and why the two judges land near chance agreement:
    * the audit closes the loop on both.
    *
    * Shape: distinct (doc, term) fold → df census → TakeOrdered
    * top-10 with broadcast corpus size. */
  def stopwordDiscovery(spark: SparkSession, dir: String): DataFrame = {
    val dfs = docTokens(spark, dir)
      .distinct()
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val n = documents(spark, dir).agg(count(lit(1)).as("n"))
    dfs.crossJoin(broadcast(n))
      .select(col("tok").as("term"), col("df"),
        expr("df * 10000 div n").as("df_share_e4"),
        col("tok").isin(Stopwords: _*)
          .as("in_stop7"))
      .orderBy(col("df").desc, col("term"))
      .limit(10)
  }

  /** Leave-one-out source influence: how much does each
    * source move the corpus quality mean? LOO BY ALGEBRA — the
    * without-source mean is (T − t_s)/(N − n_s) from ONE pass of
    * per-source sums, never 20 recomputations (the 100 TB form of
    * ablation: influence by subtraction). loo_delta > 0 means
    * removing the source RAISES corpus quality — the source is a drag.
    * Complements q_llm_quality_ablate (gate ablation) with SOURCE
    * ablation.
    *
    * Shape: score scan → per-source (n, Σ) fold → broadcast totals →
    * 20-row arithmetic. */
  def sourceInfluence(spark: SparkSession, dir: String): DataFrame = {
    val s1 = documents(spark, dir).select(col("doc_id"), col("source"))
      .join(ModelPrep.qualityLogreg(spark, dir)
        .select(col("doc_id"),
          expr("CAST(floor(score * 10000 + 0.5) AS BIGINT)").as("s")),
        "doc_id")
    val per = s1.groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("s")).as("t"))
    val tot = per.agg(sum(col("n")).as("nn"), sum(col("t")).as("tt"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n").as("n_docs"),
        expr("t div n").as("mean_src_e4"),
        expr("tt div nn").as("mean_all_e4"),
        expr("(tt - t) div (nn - n)").as("mean_without_e4"),
        expr("(tt - t) div (nn - n) - tt div nn").as("loo_delta_e4"))
      .orderBy(col("loo_delta_e4").desc, col("source"))
  }

  /** Readability census per source (J51) — the Flesch–Kincaid /
    * Gunning-fog signal family adapted HONESTLY to this corpus: the
    * synthetic text carries no sentence punctuation, so the classic
    * words-per-sentence factor is undefined; what IS measurable is
    * the syllable side. Syllables are approximated as maximal vowel
    * runs `[aeiouy]+` (the standard heuristic), complex words as ≥3
    * vowel runs. Emitted per source: syllables-per-word ×10⁴,
    * complex-word share ×10⁴, plus the doc-as-sentence FK grade
    * (39·W div D + 1180·Syl div W − 1559) and fog index
    * (40·W div D + 4000·Cx div W) under the documented "each doc is
    * one sentence" convention — defensible here because docs are
    * single prose-free word streams; on punctuated corpora swap D
    * for the `[.!?]+` run count, same plan.
    *
    * All divisions have nonnegative operands (div/`//` agree); the
    * two trailing subtractions happen AFTER division, identical in
    * both arms.
    *
    * Shape: map-only per-doc regexp census (codegen'd
    * RegExpExtractAll + higher-order filter — no UDF), one
    * partial-aggregable groupBy(source). The regexp cost is one scan
    * of each text, the same cost class as the token census rows. */
  def readability(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(col("source"), size(tokens).as("w"),
        expr("size(regexp_extract_all(text, '[aeiouy]+', 0))").as("syl"),
        expr("size(filter(split(text, ' '), " +
          "x -> size(regexp_extract_all(x, '[aeiouy]+', 0)) >= 3))")
          .as("cx"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("n_words"),
        sum(col("syl")).as("n_syllables"), sum(col("cx")).as("n_complex"))
      .select(col("source"), col("n_docs"), col("n_words"),
        col("n_syllables"), col("n_complex"),
        expr("n_syllables * 10000 div n_words").as("syll_per_word_e4"),
        expr("n_complex * 10000 div n_words").as("complex_share_e4"),
        expr("39 * n_words div n_docs + 1180 * n_syllables div n_words" +
          " - 1559").as("fk_doc_e2"),
        expr("40 * n_words div n_docs + 4000 * n_complex div n_words")
          .as("fog_doc_e2"))
      .orderBy(col("source"))

  /** Quantile-normalization audit (J53): per (source, decile), the
    * raw mean doc length vs the GLOBAL mid-decile target length — the
    * mapping table quantile normalization (the batch-effect-correction
    * standard) would apply to align every source's length distribution
    * to the corpus-wide one. A large raw-vs-target gap in a decile =
    * that source's lengths are skewed there and any length-sensitive
    * quality gate treats it unfairly.
    *
    * Decile assignment is a per-SOURCE ranked window (partitioned by
    * source — the key-partitioned window class, scale-fine); the
    * global side never sorts rows: targets come from the length
    * SUPPORT census (value → count → running cum, support-sized) with
    * the mid-decile rank r_d = (2d+1)·N div 20 + 1 resolved by one
    * broadcast 10-row join — the AUC/weighted-percentile idiom.
    * All integers; mean ×10² by truncating division. */
  def quantileNorm(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val lens = documents(spark, dir)
      .select(col("source"), col("n_chars").as("len"), col("doc_id"))
    val bySrc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("len"), col("doc_id"))
    val srcCnt = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
    val dec = lens
      .withColumn("rn", row_number().over(bySrc))
      .withColumn("cnt", count(lit(1)).over(srcCnt))
      .withColumn("decile", expr("CAST((rn - 1) * 10 div cnt AS BIGINT)"))
      .groupBy(col("source"), col("decile"))
      .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("len_sum"))
    val census = lens.groupBy(col("len")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("len"))))
    val n = lens.agg(count(lit(1)).as("nn"))
    val targets = census.crossJoin(broadcast(n))
      .crossJoin(broadcast((0L to 9L).toDF("decile")))
      .filter(col("cum") >= expr("(2 * decile + 1) * nn div 20 + 1"))
      .groupBy(col("decile")).agg(min(col("len")).as("target_len"))
    dec.join(broadcast(targets), "decile")
      .select(col("source"), col("decile"), col("n_docs"),
        expr("len_sum * 100 div n_docs").as("mean_len_e2"),
        col("target_len"))
      .orderBy(col("source"), col("decile"))
  }

  /** Simpson diversity per source (J54): the probability that two
    * tokens drawn WITHOUT replacement from a source are the same type
    * (match_e6), its Gini–Simpson complement, and the inverse-Simpson
    * effective vocabulary (×10³) — the evenness number that, unlike
    * Shannon entropy (char_entropy) and raw TTR (mattr), is an EXACT
    * RATIONAL of integer counts: D = Σ nᵢ(nᵢ−1) / (N(N−1)), no
    * transcendental anywhere. Inverse Simpson ≈ "how many equally
    * common types would look this concentrated" — the retrieval-side
    * twin of the HHI concentration row, computed on the token
    * distribution instead of the user-revenue one.
    *
    * Exactness: fully integer; the two emitted ratios repeat the same
    * division text (round-once per column). Σnᵢ(nᵢ−1) and N(N−1) live
    * in DECIMAL(38,0) from the start (the overflow lane — at 100 TB a
    * source's N ≈ 10¹² makes N² ≈ 10²⁴, past 2⁶³; DuckDB side rides
    * HUGEINT).
    *
    * Shape (100 TB): one partial-aggregable (source, token) census →
    * per-source vocab-sized fold. No window, no join. */
  def simpsonDiversity(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(col("source"), explode(tokens).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("vocab"), sum(col("c")).as("n_tok"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * (c - 1)")).as("m"))
      .select(col("source"), col("vocab"), col("n_tok"),
        expr("""CAST(m * 1000000 div (CAST(n_tok AS DECIMAL(38,0))
          | * greatest(n_tok - 1, 1)) AS BIGINT)""".stripMargin)
          .as("match_e6"),
        expr("""CAST(1000000 - m * 1000000 div (CAST(n_tok AS
          | DECIMAL(38,0)) * greatest(n_tok - 1, 1)) AS BIGINT)"""
          .stripMargin).as("gini_simpson_e6"),
        expr("""CAST(CAST(n_tok AS DECIMAL(38,0))
          | * greatest(n_tok - 1, 1) * 1000
          | div greatest(m, 1) AS BIGINT)""".stripMargin)
          .as("inv_simpson_e3"))
      .orderBy(col("source"))

  /** Conditional character entropy per source (J55): H(c₂|c₁) over
    * adjacent character pairs, the marginal H(c₂), and their gap —
    * the character-level mutual information I(c₁;c₂) that measures
    * how PREDICTABLE a source's text is one character ahead. The
    * bigram complement of q_llm_char_entropy (unigram, per doc):
    * natural text sits far below its unigram entropy (Shannon's
    * printed-English observation); machine-generated or encrypted
    * payloads show near-zero gap. Pairs never cross doc boundaries.
    *
    * Exactness: the markovEntropy lnE3 form — H(c₂|c₁)·e3 =
    * Σ n·(lnE3(t₁) − lnE3(n)) div N over the bigram census, marginal
    * from the same census; mi_e3 = h₂ − h_cond can dip a rounding
    * hair negative (each lnE3 carries ≤0.5 milli-nat), emitted raw
    * with the slack documented in the spec.
    *
    * Shape (100 TB): map-only pair fan-out (substring over an index
    * range — RE2 has no lookahead, so no overlapping-regex trick) →
    * one partial-aggregable (source, c₁, c₂) census (≤ alphabet²
    * cells per source) → alphabet-sized folds. */
  def charCondEntropy(spark: SparkSession, dir: String): DataFrame = {
    // transform-then-explode, NOT sequence-explode-then-substring: a
    // generator row carries every non-generator column, so exploding
    // indexes first duplicates the full text ~len× (measured 5.0 s at
    // sf0.1); building the 2-char pair strings INSIDE the row first
    // makes the exploded rows 2 chars wide (measured 2.9 s). A/B
    // negative result: packing the pair as ascii·256+ascii integers
    // in the lambda measured 5.3 s — a transform lambda with three
    // calls per element runs interpreted, costing more than the
    // narrower shuffle saves.
    val pc = documents(spark, dir)
      .filter(length(col("text")) >= 2)
      .select(col("source"), explode(expr(
        "transform(sequence(1, length(text) - 1)," +
          " i -> substring(text, i, 2))")).as("pr"))
      .groupBy(col("source"), col("pr")).agg(count(lit(1)).as("n"))
      .withColumn("c1", expr("substring(pr, 1, 1)"))
      .withColumn("c2", expr("substring(pr, 2, 1)"))
    // NO localCheckpoint on the census, measured deliberately: the
    // census feeds four consumer branches and
    // the STATIC plan re-derives the corpus-scale explode+census
    // pipeline 5× (5 parquet scans / 32 Exchange nodes), but runtime
    // exchange reuse dedupes all five copies — the A/B (checkpointed:
    // 0 scans / 14 Exchanges) measured a TIE, isolated warm min 2.93 s
    // both ways (medians 3.36 vs 3.17, inside the box's ±10 % scatter),
    // so the eager barrier buys nothing the ReusedExchange doesn't
    // already deliver. Same boundary as markovSteadyFrom's rejected
    // pi-checkpoints: reuse-covered duplication is free to replan.
    val t1 = pc.groupBy(col("source"), col("c1"))
      .agg(sum(col("n")).as("t"))
    val t2 = pc.groupBy(col("source"), col("c2"))
      .agg(sum(col("n")).as("u"))
    val nn = pc.groupBy(col("source")).agg(sum(col("n")).as("nn"))
    val hc = pc.join(t1, Seq("source", "c1")).join(broadcast(nn), "source")
      .groupBy(col("source"))
      .agg(max(col("nn")).as("n_pairs"),
        count(lit(1)).as("vocab_bigrams"),
        expr("""CAST(sum(n * (CAST(floor(ln(t) * 1000 + 0.5) AS BIGINT)
          | - CAST(floor(ln(n) * 1000 + 0.5) AS BIGINT)))
          | div max(nn) AS BIGINT)""".stripMargin).as("h_cond_e3"))
    val h2 = t2.join(broadcast(nn), "source")
      .groupBy(col("source"))
      .agg(expr("""CAST(sum(u * (CAST(floor(ln(nn) * 1000 + 0.5)
          | AS BIGINT) - CAST(floor(ln(u) * 1000 + 0.5) AS BIGINT)))
          | div max(nn) AS BIGINT)""".stripMargin).as("h2_e3"))
    hc.join(h2, "source")
      .select(col("source"), col("n_pairs"), col("vocab_bigrams"),
        col("h_cond_e3"), col("h2_e3"),
        (col("h2_e3") - col("h_cond_e3")).as("mi_e3"))
      .orderBy(col("source"))
  }

  /** Burrows' Delta stylometry (J56, squared/variance form): pairwise
    * source distance over the relative frequencies of the corpus
    * top-20 words — the standard authorship-attribution measure, here
    * answering "which sources write alike" (near-zero Δ² between two
    * crawls = likely the same upstream, a provenance signal the
    * near-dup families can't see because it needs no shared
    * DOCUMENTS, only shared function-word habits). Sqrt-free: the
    * classical Δ averages |z_a − z_b|; this emits the variance-
    * normalized square Δ² = mean_w (f_a−f_b)²/var_w (the mannKendall
    * squared-verdict discipline).
    *
    * Exactness: f ×10⁶ by truncating div; var_w by the one-pass
    * (Σf² − (Σf)² div s) div (s−1) text with a greatest(·,1) floor;
    * one truncating div per word then the n_words mean — both engines
    * share every rounding site.
    *
    * Shape (100 TB): one token census shuffle; top-20 vocabulary by
    * TakeOrderedAndProject (vocab-sized, never corpus); the grid is
    * sources×20 (dense via broadcast cross — zero-filled so a source
    * missing a top word still scores), stats and the pair join all on
    * that bounded frame. */
  def burrowsDelta(spark: SparkSession, dir: String): DataFrame = {
    val tok = documents(spark, dir)
      .select(col("source"), explode(tokens).as("w"))
    val top = tok.groupBy(col("w")).agg(count(lit(1)).as("cw"))
      .orderBy(col("cw").desc, col("w")).limit(20).select(col("w"))
    val stot = tok.groupBy(col("source")).agg(count(lit(1)).as("n_tok"))
    val sw = tok.join(broadcast(top), "w")
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("cnt"))
    val grid = stot.crossJoin(broadcast(top))
      .join(sw, Seq("source", "w"), "left")
      .select(col("source"), col("w"),
        expr("coalesce(cnt, 0) * 1000000 div n_tok").as("f_e6"))
    val v = grid.groupBy(col("w"))
      .agg(count(lit(1)).as("s"), sum(col("f_e6")).as("sf"),
        sum(expr("f_e6 * f_e6")).as("sff"))
      .select(col("w"), expr(
        "greatest((sff - sf * sf div s) div greatest(s - 1, 1), 1)")
        .as("var_w"))
    val g = grid.join(broadcast(v), "w")
    val ga = g.select(col("source").as("src_a"), col("w"),
      col("f_e6").as("fa"), col("var_w"))
    val gb = g.select(col("source").as("src_b"), col("w"),
      col("f_e6").as("fb"))
    ga.join(gb, Seq("w")).filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_words"),
        expr("""sum((fa - fb) * (fa - fb) * 10000 div var_w)
          | div count(1)""".stripMargin).as("delta2_e4"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Template census per source (J59): group docs by their first-8-
    * token prefix and measure template families — the doc-level
    * boilerplate detector (CCNet/RefinedWeb run the line-level twin):
    * a source where most docs open identically is a generated/scraped
    * template farm, invisible to MinHash (which forgives shared
    * openings) and exactly what a pretraining mix should downweight.
    * Emits per source: docs, distinct openings, the largest family,
    * and the share of docs in ≥2-member families (templ_share_e4).
    *
    * Shape (100 TB): map-only prefix projection → (source, prefix)
    * census → source-sized fold. The prefix would be hashed at scale;
    * kept as text here so the oracle can replay it. */
  def templateCensus(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(col("source"),
        concat_ws(" ", slice(tokens, 1, 8)).as("prefix"))
      .groupBy(col("source"), col("prefix"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_docs"),
        count(lit(1)).as("n_openings"),
        max(col("c")).as("max_family"),
        sum(when(col("c") >= 2, col("c")).otherwise(0L))
          .as("templated_docs"))
      .select(col("source"), col("n_docs"), col("n_openings"),
        col("max_family"),
        expr("templated_docs * 10000 div n_docs").as("templ_share_e4"))
      .orderBy(col("source"))

  /** Feature→label mutual information / leakage audit (J59): MI
    * between each quality feature's VALUE-QUARTILE and the weak keep
    * label (n_tok ≥ 50, the score_calibration label) — the
    * feature-selection table, and simultaneously the LEAKAGE detector:
    * the length feature's MI must dwarf the others because the label
    * IS a length threshold (the spec pins that ordering). The
    * nonlinear complement of q_llm_feature_separation's Cohen's d.
    *
    * Quartiles are VALUE-based, not ntile: boundaries b_k = least v
    * with 4·cum ≥ k·N from the per-feature value-support census (the
    * AUC idiom), q = 1 + Σ(v > b_k). Ties share a bucket, buckets are
    * deterministic with no per-row rank — and at 100 TB the census is
    * support-sized where an ntile would be a per-feature corpus sort.
    *
    * Exactness: MI_e3 = Σ n·(lnE3(n·N) − lnE3(n_q·n_l)) div N — the
    * lnE3 products discipline; can dip a rounding hair negative.
    *
    * Shape: doc-sized feature frame (map-only) → 3× value census →
    * 3×3 broadcast boundary rows → cell census → feature fold. */
  def miFeature(spark: SparkSession, dir: String): DataFrame = {
    val f = documents(spark, dir)
      .select(col("doc_id"), tokens.as("tk"))
      .filter(size(col("tk")) > 0)
      .select(col("doc_id"),
        size(col("tk")).cast("long").as("len"),
        expr("size(array_distinct(tk)) * 1000000 div size(tk)")
          .as("ttr_e6"),
        expr(s"size(filter(tk, t -> t IN $stopwordsSql)) * 1000000" +
          " div size(tk)").as("stop_e6"))
    val long = f.select(col("doc_id"), (col("len") >= 50).as("lbl"),
      expr("stack(3, 'len', len, 'ttr', ttr_e6, 'stop', stop_e6)" +
        " AS (feature, value)"))
    val cen = long.groupBy(col("feature"), col("value"))
      .agg(count(lit(1)).as("c"))
    val nn = cen.groupBy(col("feature")).agg(sum(col("c")).as("nn"))
    val cum = cen.withColumn("cum", sum(col("c")).over(
      org.apache.spark.sql.expressions.Window
        .partitionBy(col("feature")).orderBy(col("value"))))
      .join(broadcast(nn), "feature")
    def bound(k: Int) = cum.filter(col("cum") * 4 >= col("nn") * k)
      .groupBy(col("feature")).agg(min(col("value")).as(s"b$k"))
    val bounds = bound(1).join(bound(2), "feature")
      .join(bound(3), "feature")
    val cells = long.join(broadcast(bounds), "feature")
      .select(col("feature"), col("lbl"),
        expr("1 + CAST(value > b1 AS INT) + CAST(value > b2 AS INT)" +
          " + CAST(value > b3 AS INT)").as("q"))
      .groupBy(col("feature"), col("q"), col("lbl"))
      .agg(count(lit(1)).as("n"))
    val mq = cells.groupBy(col("feature"), col("q"))
      .agg(sum(col("n")).as("nq"))
    val ml = cells.groupBy(col("feature"), col("lbl"))
      .agg(sum(col("n")).as("nl"))
    cells.join(mq, Seq("feature", "q")).join(ml, Seq("feature", "lbl"))
      .join(broadcast(nn), "feature")
      .groupBy(col("feature"))
      .agg(max(col("nn")).as("n_docs"),
        expr("""CAST(sum(n * (CAST(floor(ln(n * nn) * 1000 + 0.5)
          | AS BIGINT) - CAST(floor(ln(nq * nl) * 1000 + 0.5)
          | AS BIGINT))) div max(nn) AS BIGINT)""".stripMargin)
          .as("mi_e3"))
      .orderBy(col("feature"))
  }

  /** One-way ANOVA of doc length by source (J60): does length differ
    * BY SOURCE more than within-source noise explains — the corpus
    * twin of q_ts_anova_dow, with eta² (SSB/SST ×10⁴) as the effect
    * size: the fraction of length variance a length-sensitive gate
    * implicitly attributes to PROVENANCE rather than content. Directly
    * quantifies the unfairness q_llm_quantile_norm corrects.
    *
    * Exactness: the anovaDow discipline verbatim — floored group
    * means, exact BIGINT SSW/SSB, F_e4 with the product in
    * DECIMAL(38,0)/HUGEINT; differs_95 against F crit(19, ∞) ≈ 1.587
    * as the authored e4 literal (k = 20 sources, spec-pinned).
    *
    * Shape (100 TB): metadata-only scan (n_chars, no tokenize) →
    * 20-group fold → 1-row verdict. */
  def lengthAnova(spark: SparkSession, dir: String): DataFrame = {
    val d = documents(spark, dir)
      .select(col("source"), col("n_chars").as("x"))
    val mu = d.groupBy(col("source"))
      .agg(count(lit(1)).as("ng"), sum(col("x")).as("sg"))
      .withColumn("mug", expr("sg div ng"))
    val tot = d.agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
      .withColumn("mu", expr("s div n"))
    d.join(broadcast(mu), Seq("source"))
      .crossJoin(broadcast(tot))
      .agg(max(col("n")).as("n_docs"),
        countDistinct(col("source")).as("k_sources"),
        sum(expr("(x - mug) * (x - mug)")).as("ssw"),
        sum(expr("(mug - mu) * (mug - mu)")).as("ssb"))
      .select(col("n_docs"), col("k_sources"), col("ssw"), col("ssb"),
        expr("""CAST(CAST(ssb AS DECIMAL(38,0)) * (n_docs - k_sources)
          | * 10000 div greatest(CAST(ssw AS DECIMAL(38,0))
          | * (k_sources - 1), 1) AS BIGINT)""".stripMargin).as("f_e4"),
        expr("ssb * 10000 div greatest(ssb + ssw, 1)").as("eta2_e4"))
      .withColumn("differs_95", col("f_e4") >= 15870L)
  }

  /** Keep-gate fairness odds ratios (J66): per source, the odds of
    * passing the enrolled logreg keep gate against the odds over the
    * REST of the corpus — OR_e4 = k_s(n_r−k_r)·10⁴ div (n_s−k_s)k_r.
    * The per-source mechanism behind q_llm_length_anova's variance
    * number: eta² says lengths differ by provenance; this says which
    * sources the gate therefore disadvantages (OR < 1) — the fairness
    * table a curation review reads before shipping a filter.
    *
    * Exactness: pure integer cross-multiplied odds with greatest
    * guards on the degenerate all-keep/none-keep sides (documented:
    * a guard fire reads as the capped extreme, not ∞).
    *
    * Shape (100 TB): doc-sized gate pass → source fold → broadcast
    * complement arithmetic (rest = total − self, no second scan). */
  def gateFairness(spark: SparkSession, dir: String): DataFrame = {
    val g = ModelPrep.qualityLogreg(spark, dir)
      .join(documents(spark, dir).select(col("doc_id"), col("source")),
        "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"))
    val tot = g.agg(sum(col("n_docs")).as("nt"),
      sum(col("n_keep")).as("kt"))
    g.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_keep"),
        expr("n_keep * 10000 div n_docs").as("keep_rate_e4"),
        expr("""CAST(n_keep * ((nt - n_docs) - (kt - n_keep)) * 10000
          | div greatest((n_docs - n_keep) * (kt - n_keep), 1)
          | AS BIGINT)""".stripMargin).as("or_e4"))
      .orderBy(col("source"))
  }

  /** Rare-content document ranking (J66): per doc, the share of its
    * tokens whose corpus document frequency is ≤ 2 — the docs
    * carrying tail knowledge (the KEEP-side counterpart of
    * q_llm_tail_tokens' vocabulary view): dedup and quality gates
    * optimize away redundancy, this queue protects the opposite end.
    * Top-20 rarest-content docs.
    *
    * Shape (100 TB): one tokenize shuffle for the df census
    * (vocab-sized, the inverted-index fold), rare-token set joins
    * back token-keyed, per-doc fold → TakeOrdered. */
  def rareDocRank(spark: SparkSession, dir: String): DataFrame = {
    val toks = documents(spark, dir)
      .select(col("doc_id"), explode(tokens).as("w"))
    val rare = toks.select(col("doc_id"), col("w")).distinct()
      .groupBy(col("w")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= 2).select(col("w"))
    val nTok = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("n_tok"))
    val nRare = toks.join(rare, "w")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_rare"))
    nTok.join(nRare, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        coalesce(col("n_rare"), lit(0L)).as("n_rare"))
      .withColumn("rare_share_e4", expr("n_rare * 10000 div n_tok"))
      .orderBy(col("rare_share_e4").desc, col("doc_id"))
      .limit(20)
  }

  /** Quality-feature collinearity (J73): signed r² between each pair
    * of the three gate features (len, ttr, stop-ratio) — the
    * multicollinearity audit q_llm_mi_feature implies (it measured
    * ttr leaking the length label; this measures ttr–len correlation
    * DIRECTLY, feature-to-feature). Sqrt-free AND overflow-safe:
    * r² factored as (|cov|·10⁴ div varx)·(|cov|·10⁴ div vary) — the
    * single-squaring form cov²·10⁸ blew DECIMAL(38) at sf0.1 (cov ≈
    * 2.5·10¹⁹ on e6-grid features; its square is 10³⁸·6 — caught by
    * the bench, the ljungBox quantize-before-squaring lesson in
    * divide-before-squaring form). Two truncations, identical text
    * both engines; every intermediate stays under 10²⁴.
    *
    * Shape: one doc-sized feature pass → unpivoted pair moments →
    * 3-row fold. */
  def featureCollinearity(spark: SparkSession, dir: String): DataFrame = {
    val f = documents(spark, dir)
      .select(tokens.as("tk"))
      .filter(size(col("tk")) > 0)
      .select(size(col("tk")).cast("long").as("len"),
        expr("size(array_distinct(tk)) * 1000000 div size(tk)")
          .as("ttr"),
        expr(s"size(filter(tk, t -> t IN $stopwordsSql)) * 1000000" +
          " div size(tk)").as("stp"))
    val pairs = f.select(expr(
      """stack(3,
        | 'len_ttr', len, ttr,
        | 'len_stop', len, stp,
        | 'ttr_stop', ttr, stp) AS (pair, x, y)""".stripMargin))
    pairs.groupBy(col("pair"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
        sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"))
      .select(col("pair"), col("n"),
        expr("""CAST(CASE WHEN n * sxy - CAST(sx AS DECIMAL(38,0))
          | * sy >= 0 THEN 1 ELSE -1 END
          | * ((abs(n * sxy - CAST(sx AS DECIMAL(38,0)) * sy) * 10000
          |     div greatest(n * sxx
          |      - CAST(sx AS DECIMAL(38,0)) * sx, 1))
          |    * (abs(n * sxy - CAST(sx AS DECIMAL(38,0)) * sy) * 10000
          |     div greatest(n * syy
          |      - CAST(sy AS DECIMAL(38,0)) * sy, 1)))
          | AS BIGINT)""".stripMargin).as("r2_signed_e8"))
      .orderBy(col("pair"))
  }

  /** Jensen–Shannon divergence between the two largest sources (J74):
    * the SYMMETRIC, zero-safe member beside q_llm_domain_kl — JSD
    * needs no smoothing because the mixture M = (P+Q)/2 has mass
    * wherever either side does, so source-exclusive tokens contribute
    * finitely instead of being dropped (KL's restriction) or smoothed
    * (Dirichlet's prior). Bounded by ln 2 ≈ 693 milli-nats, so the
    * number is comparable across any corpus pair.
    *
    * Exactness: each term's log argument is a RATIO OF INTEGERS —
    * ln(2aB / (aB + bA)) — two floor-once lnE3 calls per occupied
    * side; kl halves divided by their own totals, jsd = (kl1+kl2)
    * div 2.
    *
    * Shape (100 TB): token censuses for the two sources (one
    * shuffle), full-outer vocab join, vocab-sized fold. */
  def jsdSources(spark: SparkSession, dir: String): DataFrame = {
    val byTok = documents(spark, dir)
      .select(col("source"), explode(tokens).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
    val top2 = byTok.groupBy(col("source"))
      .agg(sum(col("c")).as("tot"))
      .orderBy(col("tot").desc, col("source")).limit(2)
      .localCheckpoint()
    val Array(sa, sb) = top2.orderBy(col("tot").desc, col("source"))
      .collect().map(_.getString(0)) // 2-row control-plane collect
    val a = byTok.filter(col("source") === sa)
      .select(col("w"), col("c").as("a"))
    val b = byTok.filter(col("source") === sb)
      .select(col("w"), col("c").as("b"))
    val j = a.join(b, Seq("w"), "full_outer")
      .select(coalesce(col("a"), lit(0L)).as("a"),
        coalesce(col("b"), lit(0L)).as("b"))
    val tots = j.agg(sum(col("a")).as("ta"), sum(col("b")).as("tb"),
      count(lit(1)).as("vocab_union"),
      sum(when(col("a") > 0 && col("b") > 0, 1L).otherwise(0L))
        .as("n_shared"))
    j.crossJoin(broadcast(tots))
      .agg(max(col("ta")).as("tot_a"), max(col("tb")).as("tot_b"),
        max(col("vocab_union")).as("vocab_union"),
        max(col("n_shared")).as("n_shared"),
        expr("""CAST(sum(CASE WHEN a > 0 THEN a *
          | (CAST(floor(ln(2 * a * tb) * 1000 + 0.5) AS BIGINT)
          |  - CAST(floor(ln(a * tb + b * ta) * 1000 + 0.5)
          |    AS BIGINT)) ELSE 0 END) div max(ta) AS BIGINT)"""
          .stripMargin).as("kl1_e3"),
        expr("""CAST(sum(CASE WHEN b > 0 THEN b *
          | (CAST(floor(ln(2 * b * ta) * 1000 + 0.5) AS BIGINT)
          |  - CAST(floor(ln(a * tb + b * ta) * 1000 + 0.5)
          |    AS BIGINT)) ELSE 0 END) div max(tb) AS BIGINT)"""
          .stripMargin).as("kl2_e3"))
      .select(lit(sa).as("src_a"), lit(sb).as("src_b"),
        col("tot_a"), col("tot_b"), col("vocab_union"),
        col("n_shared"), col("kl1_e3"), col("kl2_e3"),
        expr("(kl1_e3 + kl2_e3) div 2").as("jsd_e3"))
  }

  /** IDF drift between corpus halves (J84): tokens whose
    * document-frequency SHARE moved most between the first and second
    * half of the ingestion order (cut = max doc_id div 2) — the
    * vocabulary-drift detector that catches a changed upstream scraper
    * or topic shift before it skews every IDF-weighted consumer (BM25,
    * tf-idf, SIF); the per-token complement of q_llm_domain_kl's
    * distribution-level number. df ≥ 8 combined floor (noise gate),
    * top-15 by |Δshare|.
    *
    * Shape: one doc-distinct tokenize → vocab-sized two-flag census →
    * TakeOrdered. Exactness: share_e6 = df·10⁶ div n_half, truncating;
    * signed drift is a difference of already-rounded shares. */
  def idfDrift(spark: SparkSession, dir: String): DataFrame = {
    val d = documents(spark, dir)
    val cut = d.agg(expr("max(doc_id) div 2").as("cut"))
    val halves = d.crossJoin(broadcast(cut)).agg(
      sum(when(col("doc_id") <= col("cut"), 1L).otherwise(0L))
        .as("n_early"),
      sum(when(col("doc_id") > col("cut"), 1L).otherwise(0L))
        .as("n_late"))
    d.crossJoin(broadcast(cut))
      .select((col("doc_id") <= col("cut")).as("early"),
        explode(array_distinct(tokens)).as("tok"))
      .groupBy(col("tok"))
      .agg(sum(when(col("early"), 1L).otherwise(0L)).as("df_early"),
        sum(when(!col("early"), 1L).otherwise(0L)).as("df_late"))
      .filter(col("df_early") + col("df_late") >= 8)
      .crossJoin(broadcast(halves))
      .select(col("tok").as("token"), col("df_early"), col("df_late"),
        expr("df_early * 1000000 div greatest(n_early, 1)")
          .as("share_early_e6"),
        expr("df_late * 1000000 div greatest(n_late, 1)")
          .as("share_late_e6"))
      .withColumn("drift_e6",
        col("share_late_e6") - col("share_early_e6"))
      .orderBy(abs(col("drift_e6")).desc, col("token"))
      .limit(15)
  }

  /** Leave-one-source-out bigram cross-entropy (J84): for
    * each source, the add-one-smoothed bigram LM trained on every
    * OTHER source scores the source's own bigram stream — the domain
    * TRANSFER audit (which corpus slice is least predictable from the
    * rest, i.e. contributes knowledge no other slice carries) that
    * q_llm_ppl_buckets (one global LM) and q_llm_jsd_sources (top-2
    * unigram distance) both miss. p(w2|w1) = (c12′+1)/(c1′+V′) with
    * c′ = global − own and V′ = LOO continuation vocabulary (global
    * distinct w2 minus the source's exclusive ones).
    *
    * Exactness: per eval bigram, term = lnE3(c1′+V′) − lnE3(c12′+1),
    * floor-once per operand (the zipf rule), n12-weighted BIGINT sum,
    * one truncating div by the source's bigram count. ln argument
    * guarded `greatest(…,1)` (a source owning an entire left-context
    * would otherwise hit ln(0) when V′ degenerates).
    *
    * Shape (100 TB): one bigram explode → (source, bigram) counts —
    * partial-aggregable, the corpus enters as frequency weight only;
    * global/marginal frames are vocab-sized rollups of it; V′ folds
    * from the exclusivity census (V′ = V − exclusive_s, never a
    * per-source vocab scan); the term join is vocab-sized keyed
    * equi-joins; output is |sources| rows. */
  def looXent(spark: SparkSession, dir: String): DataFrame = {
    val bg = documents(spark, dir)
      .withColumn("tk", tokens)
      .filter(size(col("tk")) >= 2)
      .select(col("source"), explode(expr(
        """transform(sequence(1, size(tk) - 1),
          |          i -> struct(element_at(tk, i) AS w1,
          |                      element_at(tk, i + 1) AS w2))"""
          .stripMargin)).as("g"))
      .select(col("source"), col("g.w1").as("w1"), col("g.w2").as("w2"))
      .groupBy(col("source"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("n12"))
    val g12 = bg.groupBy(col("w1"), col("w2"))
      .agg(sum(col("n12")).as("c12"))
    val g1 = g12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val o1 = bg.groupBy(col("source"), col("w1"))
      .agg(sum(col("n12")).as("o1"))
    val c2g = bg.groupBy(col("w2")).agg(sum(col("n12")).as("c2"))
    val o2 = bg.groupBy(col("source"), col("w2"))
      .agg(sum(col("n12")).as("o2"))
    val vtot = c2g.agg(count(lit(1)).as("v"))
    val excl = o2.join(c2g, Seq("w2"))
      .filter(col("o2") === col("c2"))
      .groupBy(col("source")).agg(count(lit(1)).as("n_excl"))
    val vs = bg.select(col("source")).distinct()
      .join(excl, Seq("source"), "left")
      .na.fill(0L, Seq("n_excl"))
      .crossJoin(broadcast(vtot))
      .select(col("source"), (col("v") - col("n_excl")).as("v_loo"))
    bg.join(g12, Seq("w1", "w2"))
      .join(g1, Seq("w1"))
      .join(o1, Seq("source", "w1"))
      .join(broadcast(vs), Seq("source")) // |sources| rows — constant
      .select(col("source"), col("n12"), expr(
        """n12 * (CAST(floor(ln(greatest(c1 - o1 + v_loo, 1)) * 1000
          |  + 0.5) AS BIGINT)
          | - CAST(floor(ln(c12 - n12 + 1) * 1000 + 0.5) AS BIGINT))"""
          .stripMargin).as("t"))
      .groupBy(col("source"))
      .agg(sum(col("n12")).as("n_bigrams"), sum(col("t")).as("tsum"))
      .join(broadcast(vs), Seq("source"))
      .select(col("source"), col("n_bigrams"),
        col("v_loo").as("vocab_loo"),
        expr("tsum div greatest(n_bigrams, 1)").as("xent_e3"))
      .orderBy(col("source"))
  }

  /** Chao1 species-richness estimate per source (J89): how
    * many word TYPES does a source's TRUE vocabulary hold, estimated
    * from what was sampled — the bias-corrected Chao1 lower bound
    * V + f1(f1−1)/(2(f2+1)) over the singleton/doubleton counts, plus
    * the Turing sample-coverage estimate 1 − f1/N. The ESTIMATOR
    * member of the vocabulary family: heaps_fit extrapolates growth
    * from the observed curve, freq_of_freqs reports the Good–Turing
    * unseen MASS, this row the unseen TYPE count — the number that
    * says whether scraping more of a source can still buy vocabulary
    * (high f1 share ⇒ the corpus barely scratched the source).
    *
    * Exactness: fully integer — chao1_e2 carries ONE truncating div
    * (f2 = 0 is safe by the +1 bias correction), coverage_e4 one.
    * The f1 product rides the DECIMAL lane (f1 ≈ 10⁹ at corpus scale
    * squares past 2⁶³).
    *
    * Shape (100 TB): one partial-aggregable (source, token) census →
    * per-source vocab-sized fold → |sources| rows. The simpson row's
    * exact shape — no window, no join. */
  def chao1Richness(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(col("source"), explode(tokens).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("vocab"), sum(col("c")).as("n_tok"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("f2"))
      .select(col("source"), col("vocab"), col("n_tok"), col("f1"),
        col("f2"),
        expr("""vocab * 100 + CAST(CAST(f1 AS DECIMAL(38,0))
          | * (f1 - 1) * 100 div (2 * (f2 + 1)) AS BIGINT)"""
          .stripMargin).as("chao1_e2"),
        expr("(n_tok - f1) * 10000 div greatest(n_tok, 1)")
          .as("coverage_e4"))
      .orderBy(col("source"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_llm_chao1" -> chao1Richness,
    "q_llm_idf_drift" -> idfDrift,
    "q_llm_loo_xent" -> looXent,
    "q_llm_jsd_sources" -> jsdSources,
    "q_llm_feature_collinearity" -> featureCollinearity,
    "q_llm_gate_fairness" -> gateFairness,
    "q_llm_rare_doc_rank" -> rareDocRank,
    "q_llm_length_anova" -> lengthAnova,
    "q_llm_template_census" -> templateCensus,
    "q_llm_mi_feature" -> miFeature,
    "q_llm_burrows_delta" -> burrowsDelta,
    "q_llm_char_cond_entropy" -> charCondEntropy,
    "q_llm_simpson" -> simpsonDiversity,
    "q_llm_quantile_norm" -> quantileNorm,
    "q_llm_readability" -> readability,
    "q_llm_source_influence" -> sourceInfluence,
    "q_llm_stopword_discovery" -> stopwordDiscovery,
    "q_llm_length_bias" -> lengthBias,
    "q_llm_topic_coherence" -> topicCoherence,
    "q_llm_freq_of_freqs" -> freqOfFreqs,
    "q_llm_rake_keywords" -> rakeKeywords,
    "q_llm_vocab_budget" -> vocabBudget,
    "q_llm_mattr" -> mattr,
    "q_llm_lang_overlap" -> langOverlap,
    "q_llm_er_blocking" -> erBlocking,
    "q_llm_burstiness" -> burstiness,
    "q_llm_ctx_overflow" -> ctxOverflow,
    "q_llm_cdc_chunks" -> cdcChunks,
    "q_llm_trigram_sbo" -> trigramSbo,
    "q_llm_tail_tokens" -> tailTokens,
    "q_llm_quality_ablate" -> qualityAblate,
    "q_llm_cluster_purity" -> clusterPurity,
    "q_llm_ngram_coverage" -> ngramCoverage,
    "q_llm_heaps_fit" -> heapsFit,
    "q_llm_context_pack" -> contextPack,
    "q_llm_spec_ngram" -> specNgram,
    "q_llm_sys_resample" -> sysResample,
    "q_llm_gopher_rules" -> gopherRules,
    "q_llm_c4_rules" -> c4Rules,
    "q_llm_tok_fertility" -> tokenizerFertility,
    "q_llm_langid_confusion" -> langIdConfusion,
    "q_llm_minhash_1bit" -> minhash1Bit,
    "q_llm_kn_bigram" -> knBigram,
    "q_llm_jm_interp" -> jmInterp,
    "q_llm_mrl_recall" -> mrlRecall,
    "q_llm_hamming_embed" -> hammingEmbed,
    "q_events_dedup_window" -> eventsDedupWindow,
    "q_llm_domain_kl" -> domainKl,
  )

  /** Gopher rule-flag CTE chain (`flags`: doc_id, n_words, r_*) shared
    * by the gate row and its ablation audit — mirrors [[gopherRules]]. */
  private val gopherFlagsCte: String =
    s"""d AS (SELECT doc_id, string_split(text, ' ') AS tk
       |  FROM documents),
       |f AS (SELECT doc_id,
       |   CAST(len(tk) AS BIGINT) AS n_words,
       |   CAST(list_sum([length(t) for t in tk]) AS BIGINT) AS sum_len,
       |   CAST(len([t for t in tk
       |     if regexp_matches(t, '[A-Za-z]')]) AS BIGINT) AS n_alpha,
       |   CAST(len([t for t in tk if t IN ('the','a','of','and','to','in','is')]) AS BIGINT) AS n_stop
       |  FROM d),
       |flags AS (SELECT doc_id, n_words,
       |  n_words >= 5 AND n_words <= 10000 AS r_nwords,
       |  sum_len >= 3 * n_words AND sum_len <= 10 * n_words AS r_mwl,
       |  5 * n_alpha >= 4 * n_words AS r_alpha,
       |  n_stop >= 2 AS r_stop
       | FROM f)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_llm_chao1" ->
      """WITH t AS (SELECT source, unnest(string_split(text, ' '))
        |   AS w FROM documents),
        |c AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c
        |  FROM t GROUP BY 1, 2),
        |a AS (SELECT source, CAST(count(*) AS BIGINT) AS vocab,
        |   CAST(sum(c) AS BIGINT) AS n_tok,
        |   CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |     AS f1,
        |   CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |     AS f2
        |  FROM c GROUP BY source)
        |SELECT source, vocab, n_tok, f1, f2,
        |  CAST(vocab * 100 + CAST(f1 AS HUGEINT) * (f1 - 1) * 100
        |    // (2 * (f2 + 1)) AS BIGINT) AS chao1_e2,
        |  CAST((n_tok - f1) * 10000 // greatest(n_tok, 1) AS BIGINT)
        |    AS coverage_e4
        |FROM a ORDER BY source""".stripMargin,
    "q_llm_idf_drift" ->
      """WITH cut AS (SELECT max(doc_id) // 2 AS cut FROM documents),
        |halves AS (SELECT
        |   CAST(sum(CASE WHEN doc_id <= cut THEN 1 ELSE 0 END)
        |     AS BIGINT) AS n_early,
        |   CAST(sum(CASE WHEN doc_id > cut THEN 1 ELSE 0 END)
        |     AS BIGINT) AS n_late
        |  FROM documents CROSS JOIN cut),
        |toks AS (SELECT DISTINCT doc_id, tok FROM (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents)),
        |df AS (SELECT tok,
        |   CAST(sum(CASE WHEN doc_id <= cut THEN 1 ELSE 0 END)
        |     AS BIGINT) AS df_early,
        |   CAST(sum(CASE WHEN doc_id > cut THEN 1 ELSE 0 END)
        |     AS BIGINT) AS df_late
        |  FROM toks CROSS JOIN cut GROUP BY tok
        |  HAVING count(*) >= 8)
        |SELECT tok AS token, df_early, df_late,
        | CAST(df_early * 1000000 // greatest(n_early, 1) AS BIGINT)
        |   AS share_early_e6,
        | CAST(df_late * 1000000 // greatest(n_late, 1) AS BIGINT)
        |   AS share_late_e6,
        | CAST(df_late * 1000000 // greatest(n_late, 1)
        |   - df_early * 1000000 // greatest(n_early, 1) AS BIGINT)
        |   AS drift_e6
        |FROM df CROSS JOIN halves
        |ORDER BY abs(df_late * 1000000 // greatest(n_late, 1)
        |  - df_early * 1000000 // greatest(n_early, 1)) DESC, token
        |LIMIT 15""".stripMargin,
    "q_llm_loo_xent" ->
      """WITH t0 AS (SELECT source, string_split(text, ' ') AS tk
        |  FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |bg AS (SELECT source, s.w1, s.w2, CAST(count(*) AS BIGINT)
        |    AS n12 FROM (
        |  SELECT source, unnest([{'w1': tk[i], 'w2': tk[i + 1]}
        |     for i in range(1, len(tk))]) AS s FROM t0)
        |  GROUP BY 1, 2, 3),
        |g12 AS (SELECT w1, w2, CAST(sum(n12) AS BIGINT) AS c12
        |  FROM bg GROUP BY 1, 2),
        |g1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1
        |  FROM g12 GROUP BY 1),
        |o1 AS (SELECT source, w1, CAST(sum(n12) AS BIGINT) AS o1
        |  FROM bg GROUP BY 1, 2),
        |c2g AS (SELECT w2, CAST(sum(n12) AS BIGINT) AS c2
        |  FROM bg GROUP BY 1),
        |o2 AS (SELECT source, w2, CAST(sum(n12) AS BIGINT) AS o2
        |  FROM bg GROUP BY 1, 2),
        |vtot AS (SELECT CAST(count(*) AS BIGINT) AS v FROM c2g),
        |excl AS (SELECT source, CAST(count(*) AS BIGINT) AS n_excl
        |  FROM o2 JOIN c2g ON o2.w2 = c2g.w2 AND o2.o2 = c2g.c2
        |  GROUP BY 1),
        |vs AS (SELECT s.source,
        |   CAST(v - coalesce(n_excl, 0) AS BIGINT) AS v_loo
        |  FROM (SELECT DISTINCT source FROM bg) s
        |  LEFT JOIN excl ON s.source = excl.source CROSS JOIN vtot),
        |terms AS (SELECT bg.source, bg.n12,
        |   bg.n12 * (CAST(floor(ln(greatest(g1.c1 - o1.o1 + vs.v_loo,
        |       1)) * 1000 + 0.5) AS BIGINT)
        |     - CAST(floor(ln(g12.c12 - bg.n12 + 1) * 1000 + 0.5)
        |       AS BIGINT)) AS t
        |  FROM bg
        |  JOIN g12 ON bg.w1 = g12.w1 AND bg.w2 = g12.w2
        |  JOIN g1 ON bg.w1 = g1.w1
        |  JOIN o1 ON bg.source = o1.source AND bg.w1 = o1.w1
        |  JOIN vs ON bg.source = vs.source)
        |SELECT terms.source, CAST(sum(n12) AS BIGINT) AS n_bigrams,
        | CAST(max(vs.v_loo) AS BIGINT) AS vocab_loo,
        | CAST(sum(t) // greatest(sum(n12), 1) AS BIGINT) AS xent_e3
        |FROM terms JOIN vs ON terms.source = vs.source
        |GROUP BY 1 ORDER BY terms.source""".stripMargin,
    "q_llm_jsd_sources" ->
      """WITH bt AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS w
        |   FROM documents) t GROUP BY 1, 2),
        |t2 AS (SELECT source, rn FROM (SELECT source,
        |   row_number() OVER (ORDER BY sum(c) DESC, source) AS rn
        |  FROM bt GROUP BY source) x WHERE rn <= 2),
        |av AS (SELECT w, c AS a FROM bt
        |  JOIN t2 ON bt.source = t2.source AND rn = 1),
        |bv AS (SELECT w, c AS b FROM bt
        |  JOIN t2 ON bt.source = t2.source AND rn = 2),
        |j AS (SELECT coalesce(a, 0) AS a, coalesce(b, 0) AS b
        |  FROM av FULL OUTER JOIN bv ON av.w = bv.w),
        |tots AS (SELECT CAST(sum(a) AS BIGINT) AS ta,
        |   CAST(sum(b) AS BIGINT) AS tb,
        |   CAST(count(*) AS BIGINT) AS vocab_union,
        |   CAST(sum(CASE WHEN a > 0 AND b > 0 THEN 1 ELSE 0 END)
        |     AS BIGINT) AS n_shared FROM j),
        |k AS (SELECT max(ta) AS tot_a, max(tb) AS tot_b,
        |   max(vocab_union) AS vocab_union, max(n_shared) AS n_shared,
        |   CAST(sum(CASE WHEN a > 0 THEN a *
        |     (CAST(floor(ln(2 * a * tb) * 1000 + 0.5) AS BIGINT)
        |      - CAST(floor(ln(a * tb + b * ta) * 1000 + 0.5)
        |        AS BIGINT)) ELSE 0 END) // max(ta) AS BIGINT)
        |     AS kl1_e3,
        |   CAST(sum(CASE WHEN b > 0 THEN b *
        |     (CAST(floor(ln(2 * b * ta) * 1000 + 0.5) AS BIGINT)
        |      - CAST(floor(ln(a * tb + b * ta) * 1000 + 0.5)
        |        AS BIGINT)) ELSE 0 END) // max(tb) AS BIGINT)
        |     AS kl2_e3
        |  FROM j CROSS JOIN tots)
        |SELECT (SELECT source FROM t2 WHERE rn = 1) AS src_a,
        | (SELECT source FROM t2 WHERE rn = 2) AS src_b,
        | tot_a, tot_b, vocab_union, n_shared, kl1_e3, kl2_e3,
        | (kl1_e3 + kl2_e3) // 2 AS jsd_e3
        |FROM k""".stripMargin,
    "q_llm_feature_collinearity" ->
      """WITH f AS (SELECT string_split(text, ' ') AS tk
        |  FROM documents WHERE len(string_split(text, ' ')) > 0),
        |ft AS (SELECT CAST(len(tk) AS BIGINT) AS len,
        |   CAST(len(list_distinct(tk)) * 1000000 // len(tk)
        |     AS BIGINT) AS ttr,
        |   CAST(len(list_filter(tk, t -> t IN
        |     ('the','a','of','and','to','in','is'))) * 1000000
        |     // len(tk) AS BIGINT) AS stp
        |  FROM f),
        |pairs AS (
        |  SELECT 'len_ttr' AS pair, len AS x, ttr AS y FROM ft
        |  UNION ALL SELECT 'len_stop', len, stp FROM ft
        |  UNION ALL SELECT 'ttr_stop', ttr, stp FROM ft),
        |m AS (SELECT pair, CAST(count(*) AS BIGINT) AS n,
        |   CAST(sum(x) AS BIGINT) AS sx,
        |   CAST(sum(y) AS BIGINT) AS sy,
        |   CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
        |   CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
        |   CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
        |  FROM pairs GROUP BY 1)
        |SELECT pair, n,
        | CAST(CASE WHEN n * sxy - CAST(sx AS HUGEINT) * sy >= 0
        |   THEN 1 ELSE -1 END
        |  * ((abs(n * sxy - CAST(sx AS HUGEINT) * sy) * 10000
        |     // greatest(n * sxx - CAST(sx AS HUGEINT) * sx, 1))
        |    * (abs(n * sxy - CAST(sx AS HUGEINT) * sy) * 10000
        |     // greatest(n * syy - CAST(sy AS HUGEINT) * sy, 1)))
        |  AS BIGINT) AS r2_signed_e8
        |FROM m ORDER BY pair""".stripMargin,
    "q_llm_gate_fairness" ->
      s"""WITH ${ModelPrep.scoreCte},
        |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |   CAST(sum(CASE WHEN z >= 0 THEN 1 ELSE 0 END) AS BIGINT)
        |     AS n_keep
        |  FROM zz JOIN documents d ON zz.doc_id = d.doc_id
        |  GROUP BY source),
        |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS nt,
        |   CAST(sum(n_keep) AS BIGINT) AS kt FROM g)
        |SELECT source, n_docs, n_keep,
        | n_keep * 10000 // n_docs AS keep_rate_e4,
        | CAST(n_keep * ((nt - n_docs) - (kt - n_keep)) * 10000
        |   // greatest((n_docs - n_keep) * (kt - n_keep), 1)
        |   AS BIGINT) AS or_e4
        |FROM g CROSS JOIN tot ORDER BY source""".stripMargin,
    "q_llm_rare_doc_rank" ->
      """WITH toks AS (SELECT doc_id,
        |   unnest(string_split(text, ' ')) AS w FROM documents),
        |rare AS (SELECT w FROM (SELECT w,
        |   count(DISTINCT doc_id) AS df FROM toks GROUP BY w) t
        |  WHERE df <= 2),
        |nt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok
        |  FROM toks GROUP BY 1),
        |nr AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_rare
        |  FROM toks JOIN rare ON toks.w = rare.w GROUP BY 1)
        |SELECT nt.doc_id, n_tok,
        | CAST(coalesce(n_rare, 0) AS BIGINT) AS n_rare,
        | coalesce(n_rare, 0) * 10000 // n_tok AS rare_share_e4
        |FROM nt LEFT JOIN nr ON nt.doc_id = nr.doc_id
        |ORDER BY rare_share_e4 DESC, nt.doc_id LIMIT 20""".stripMargin,
    "q_llm_length_anova" ->
      """WITH d AS (SELECT source, n_chars AS x FROM documents),
        |mu AS (SELECT source, count(*) AS ng, sum(x) AS sg,
        |   sum(x) // count(*) AS mug FROM d GROUP BY source),
        |tot AS (SELECT count(*) AS n, sum(x) AS s,
        |   sum(x) // count(*) AS mu FROM d),
        |f AS (SELECT max(tot.n) AS n_docs,
        |   count(DISTINCT d.source) AS k_sources,
        |   sum((x - mug) * (x - mug)) AS ssw,
        |   sum((mug - tot.mu) * (mug - tot.mu)) AS ssb
        |  FROM d JOIN mu ON mu.source = d.source CROSS JOIN tot)
        |SELECT CAST(n_docs AS BIGINT) AS n_docs,
        | CAST(k_sources AS BIGINT) AS k_sources,
        | CAST(ssw AS BIGINT) AS ssw, CAST(ssb AS BIGINT) AS ssb,
        | CAST(CAST(ssb AS HUGEINT) * (n_docs - k_sources) * 10000
        |   // greatest(CAST(ssw AS HUGEINT) * (k_sources - 1), 1)
        |   AS BIGINT) AS f_e4,
        | CAST(ssb * 10000 // greatest(ssb + ssw, 1) AS BIGINT)
        |   AS eta2_e4,
        | CAST(ssb AS HUGEINT) * (n_docs - k_sources) * 10000
        |   // greatest(CAST(ssw AS HUGEINT) * (k_sources - 1), 1)
        |   >= 15870 AS differs_95
        |FROM f""".stripMargin,
    "q_llm_template_census" ->
      """WITH pf AS (SELECT source,
        |   array_to_string((string_split(text, ' '))[1:8], ' ')
        |     AS prefix FROM documents),
        |c AS (SELECT source, prefix, CAST(count(*) AS BIGINT) AS c
        |  FROM pf GROUP BY 1, 2)
        |SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
        | CAST(count(*) AS BIGINT) AS n_openings,
        | CAST(max(c) AS BIGINT) AS max_family,
        | CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) * 10000
        |   // sum(c) AS BIGINT) AS templ_share_e4
        |FROM c GROUP BY source ORDER BY source""".stripMargin,
    "q_llm_mi_feature" ->
      """WITH f AS (SELECT doc_id, string_split(text, ' ') AS tk
        |  FROM documents),
        |feat AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS len,
        |   CAST(len(list_distinct(tk)) * 1000000 // len(tk) AS BIGINT)
        |     AS ttr_e6,
        |   CAST(len(list_filter(tk, t -> t IN
        |     ('the','a','of','and','to','in','is'))) * 1000000
        |     // len(tk) AS BIGINT) AS stop_e6
        |  FROM f WHERE len(tk) > 0),
        |lng AS (SELECT doc_id, len >= 50 AS lbl, feature, value
        |  FROM (SELECT doc_id, len, 'len' AS feature, len AS value
        |     FROM feat
        |    UNION ALL SELECT doc_id, len, 'ttr', ttr_e6 FROM feat
        |    UNION ALL SELECT doc_id, len, 'stop', stop_e6 FROM feat)),
        |cen AS (SELECT feature, value, CAST(count(*) AS BIGINT) AS c
        |  FROM lng GROUP BY 1, 2),
        |nn AS (SELECT feature, CAST(sum(c) AS BIGINT) AS nn
        |  FROM cen GROUP BY 1),
        |cum AS (SELECT cen.feature, value, nn.nn,
        |   CAST(sum(c) OVER (PARTITION BY cen.feature ORDER BY value)
        |     AS BIGINT) AS cum
        |  FROM cen JOIN nn ON cen.feature = nn.feature),
        |q1 AS (SELECT feature, min(value) AS b1 FROM cum
        |  WHERE cum * 4 >= nn * 1 GROUP BY 1),
        |q2 AS (SELECT feature, min(value) AS b2 FROM cum
        |  WHERE cum * 4 >= nn * 2 GROUP BY 1),
        |q3 AS (SELECT feature, min(value) AS b3 FROM cum
        |  WHERE cum * 4 >= nn * 3 GROUP BY 1),
        |cells AS (SELECT l.feature, lbl,
        |   1 + CAST(value > b1 AS INT) + CAST(value > b2 AS INT)
        |     + CAST(value > b3 AS INT) AS q,
        |   CAST(count(*) AS BIGINT) AS n
        |  FROM lng l JOIN q1 ON l.feature = q1.feature
        |   JOIN q2 ON l.feature = q2.feature
        |   JOIN q3 ON l.feature = q3.feature
        |  GROUP BY 1, 2, 3),
        |mq AS (SELECT feature, q, CAST(sum(n) AS BIGINT) AS nq
        |  FROM cells GROUP BY 1, 2),
        |ml AS (SELECT feature, lbl, CAST(sum(n) AS BIGINT) AS nl
        |  FROM cells GROUP BY 1, 2)
        |SELECT cells.feature, max(nn.nn) AS n_docs,
        | CAST(sum(n * (CAST(floor(ln(n * nn.nn) * 1000 + 0.5)
        |     AS BIGINT)
        |   - CAST(floor(ln(nq * nl) * 1000 + 0.5) AS BIGINT)))
        |   // max(nn.nn) AS BIGINT) AS mi_e3
        |FROM cells
        | JOIN mq ON cells.feature = mq.feature AND cells.q = mq.q
        | JOIN ml ON cells.feature = ml.feature AND cells.lbl = ml.lbl
        | JOIN nn ON cells.feature = nn.feature
        |GROUP BY cells.feature ORDER BY cells.feature""".stripMargin,
    "q_llm_burrows_delta" ->
      """WITH tok AS (SELECT source,
        |   unnest(string_split(text, ' ')) AS w FROM documents),
        |top AS (SELECT w FROM (SELECT w,
        |   row_number() OVER (ORDER BY count(*) DESC, w) AS rn
        |  FROM tok GROUP BY w) WHERE rn <= 20),
        |stot AS (SELECT source, CAST(count(*) AS BIGINT) AS n_tok
        |  FROM tok GROUP BY 1),
        |sw AS (SELECT source, tok.w, CAST(count(*) AS BIGINT) AS cnt
        |  FROM tok JOIN top ON tok.w = top.w GROUP BY 1, 2),
        |grid AS (SELECT stot.source, top.w,
        |   coalesce(cnt, 0) * 1000000 // n_tok AS f_e6
        |  FROM stot CROSS JOIN top LEFT JOIN sw
        |   ON sw.source = stot.source AND sw.w = top.w),
        |v AS (SELECT w, greatest((sff - sf * sf // s)
        |    // greatest(s - 1, 1), 1) AS var_w
        |  FROM (SELECT w, CAST(count(*) AS BIGINT) AS s,
        |     CAST(sum(f_e6) AS BIGINT) AS sf,
        |     CAST(sum(f_e6 * f_e6) AS BIGINT) AS sff
        |    FROM grid GROUP BY w)),
        |g AS (SELECT grid.source, grid.w, f_e6, var_w
        |  FROM grid JOIN v ON grid.w = v.w)
        |SELECT a.source AS src_a, b.source AS src_b,
        | CAST(count(*) AS BIGINT) AS n_words,
        | CAST(sum((a.f_e6 - b.f_e6) * (a.f_e6 - b.f_e6) * 10000
        |   // a.var_w) // count(*) AS BIGINT) AS delta2_e4
        |FROM g a JOIN g b ON a.w = b.w AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin,
    "q_llm_char_cond_entropy" ->
      """WITH pr AS (SELECT source, substr(text, i, 1) AS c1,
        |   substr(text, i + 1, 1) AS c2
        |  FROM (SELECT source, text,
        |     unnest(generate_series(1, length(text) - 1)) AS i
        |    FROM documents WHERE length(text) >= 2)),
        |pc AS (SELECT source, c1, c2, CAST(count(*) AS BIGINT) AS n
        |  FROM pr GROUP BY 1, 2, 3),
        |t1 AS (SELECT source, c1, CAST(sum(n) AS BIGINT) AS t
        |  FROM pc GROUP BY 1, 2),
        |t2 AS (SELECT source, c2, CAST(sum(n) AS BIGINT) AS u
        |  FROM pc GROUP BY 1, 2),
        |nn AS (SELECT source, CAST(sum(n) AS BIGINT) AS nn
        |  FROM pc GROUP BY 1),
        |hc AS (SELECT pc.source, max(nn) AS n_pairs,
        |   CAST(count(*) AS BIGINT) AS vocab_bigrams,
        |   CAST(sum(n * (CAST(floor(ln(t) * 1000 + 0.5) AS BIGINT)
        |     - CAST(floor(ln(n) * 1000 + 0.5) AS BIGINT)))
        |     // max(nn) AS BIGINT) AS h_cond_e3
        |  FROM pc JOIN t1 ON pc.source = t1.source AND pc.c1 = t1.c1
        |   JOIN nn ON pc.source = nn.source
        |  GROUP BY pc.source),
        |h2 AS (SELECT t2.source,
        |   CAST(sum(u * (CAST(floor(ln(nn) * 1000 + 0.5) AS BIGINT)
        |     - CAST(floor(ln(u) * 1000 + 0.5) AS BIGINT)))
        |     // max(nn) AS BIGINT) AS h2_e3
        |  FROM t2 JOIN nn ON t2.source = nn.source
        |  GROUP BY t2.source)
        |SELECT hc.source, n_pairs, vocab_bigrams, h_cond_e3, h2_e3,
        | h2_e3 - h_cond_e3 AS mi_e3
        |FROM hc JOIN h2 ON hc.source = h2.source
        |ORDER BY hc.source""".stripMargin,
    "q_llm_simpson" ->
      """WITH toks AS (SELECT source,
        |   unnest(string_split(text, ' ')) AS w FROM documents),
        |vc AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c
        |  FROM toks GROUP BY 1, 2),
        |f AS (SELECT source, CAST(count(*) AS BIGINT) AS vocab,
        |   CAST(sum(c) AS BIGINT) AS n_tok,
        |   CAST(sum(CAST(c AS HUGEINT) * (c - 1)) AS HUGEINT) AS m
        |  FROM vc GROUP BY 1)
        |SELECT source, vocab, n_tok,
        | CAST(m * 1000000 // (CAST(n_tok AS HUGEINT)
        |   * greatest(n_tok - 1, 1)) AS BIGINT) AS match_e6,
        | CAST(1000000 - m * 1000000 // (CAST(n_tok AS HUGEINT)
        |   * greatest(n_tok - 1, 1)) AS BIGINT) AS gini_simpson_e6,
        | CAST(CAST(n_tok AS HUGEINT) * greatest(n_tok - 1, 1) * 1000
        |   // greatest(m, 1) AS BIGINT) AS inv_simpson_e3
        |FROM f ORDER BY source""".stripMargin,
    "q_llm_quantile_norm" ->
      """WITH lens AS (SELECT source, n_chars AS len, doc_id
        |  FROM documents),
        |dec AS (SELECT source,
        |   (row_number() OVER (PARTITION BY source
        |      ORDER BY len, doc_id) - 1) * 10
        |     // (count(*) OVER (PARTITION BY source)) AS decile,
        |   len
        |  FROM lens),
        |g AS (SELECT source, CAST(decile AS BIGINT) AS decile,
        |   CAST(count(*) AS BIGINT) AS n_docs,
        |   CAST(sum(len) AS BIGINT) AS len_sum
        |  FROM dec GROUP BY 1, 2),
        |census AS (SELECT len, count(*) AS c FROM lens GROUP BY len),
        |cum AS (SELECT len,
        |   CAST(sum(c) OVER (ORDER BY len) AS BIGINT) AS cum
        |  FROM census),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM lens),
        |ks AS (SELECT CAST(unnest([0,1,2,3,4,5,6,7,8,9]) AS BIGINT)
        |   AS decile),
        |t AS (SELECT decile, CAST(min(len) AS BIGINT) AS target_len
        |  FROM cum CROSS JOIN n JOIN ks
        |    ON cum.cum >= (2 * ks.decile + 1) * n.nn // 20 + 1
        |  GROUP BY decile)
        |SELECT g.source, g.decile, g.n_docs,
        |  g.len_sum * 100 // g.n_docs AS mean_len_e2, t.target_len
        |FROM g JOIN t ON g.decile = t.decile
        |ORDER BY g.source, g.decile""".stripMargin,
    "q_llm_readability" ->
      """WITH d AS (SELECT source,
        |   len(string_split(text, ' ')) AS w,
        |   len(regexp_extract_all(text, '[aeiouy]+')) AS syl,
        |   len(list_filter(string_split(text, ' '),
        |     x -> len(regexp_extract_all(x, '[aeiouy]+')) >= 3)) AS cx
        |  FROM documents),
        |a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |   CAST(sum(w) AS BIGINT) AS n_words,
        |   CAST(sum(syl) AS BIGINT) AS n_syllables,
        |   CAST(sum(cx) AS BIGINT) AS n_complex
        |  FROM d GROUP BY source)
        |SELECT source, n_docs, n_words, n_syllables, n_complex,
        |  n_syllables * 10000 // n_words AS syll_per_word_e4,
        |  n_complex * 10000 // n_words AS complex_share_e4,
        |  39 * n_words // n_docs + 1180 * n_syllables // n_words
        |    - 1559 AS fk_doc_e2,
        |  40 * n_words // n_docs + 4000 * n_complex // n_words
        |    AS fog_doc_e2
        |FROM a ORDER BY source""".stripMargin,
    "q_llm_source_influence" -> {
      s"""WITH ${ModelPrep.scoreCte},
         |s1 AS (SELECT d.source,
         |   CAST(floor(sc0.score * 10000 + 0.5) AS BIGINT) AS s
         |  FROM documents d JOIN sc0 ON sc0.doc_id = d.doc_id),
         |per AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
         |   CAST(sum(s) AS BIGINT) AS t FROM s1 GROUP BY 1),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
         |   CAST(sum(t) AS BIGINT) AS tt FROM per)
         |SELECT per.source, per.n AS n_docs,
         |  CAST(per.t // per.n AS BIGINT) AS mean_src_e4,
         |  CAST(tot.tt // tot.nn AS BIGINT) AS mean_all_e4,
         |  CAST((tot.tt - per.t) // (tot.nn - per.n) AS BIGINT)
         |    AS mean_without_e4,
         |  CAST((tot.tt - per.t) // (tot.nn - per.n)
         |    - tot.tt // tot.nn AS BIGINT) AS loo_delta_e4
         |FROM per CROSS JOIN tot
         |ORDER BY loo_delta_e4 DESC, source""".stripMargin
    },
    "q_llm_stopword_discovery" ->
      """WITH toks AS (SELECT DISTINCT doc_id, tok FROM (
        |   SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |   FROM documents)),
        |df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
        |  FROM toks GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)
        |SELECT df.tok AS term, df.df,
        |  CAST(df.df * 10000 // n.n AS BIGINT) AS df_share_e4,
        |  df.tok IN ('the','a','of','and','to','in','is') AS in_stop7
        |FROM df CROSS JOIN n ORDER BY df.df DESC, term
        |LIMIT 10""".stripMargin,
    "q_llm_length_bias" -> {
      s"""WITH ${ModelPrep.scoreCte},
         |nt AS (SELECT doc_id, source,
         |   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
         |  FROM documents),
         |sampled AS (SELECT nt.doc_id, nt.source, nt.n_tok,
         |   CAST(floor(sc0.score * 10000 + 0.5) AS BIGINT) AS s_e4,
         |   row_number() OVER (PARTITION BY nt.source
         |     ORDER BY CAST('0x' ||
         |       substr(md5(CAST(nt.doc_id AS VARCHAR)), 1, 15)
         |       AS BIGINT), nt.doc_id) AS rn
         |  FROM nt JOIN sc0 ON sc0.doc_id = nt.doc_id),
         |s40 AS (SELECT * FROM sampled WHERE rn <= 40),
         |p AS (SELECT a.source,
         |   CASE WHEN (b.n_tok > a.n_tok AND b.s_e4 > a.s_e4)
         |     OR (b.n_tok < a.n_tok AND b.s_e4 < a.s_e4)
         |     THEN 1 ELSE 0 END AS conc,
         |   CASE WHEN (b.n_tok > a.n_tok AND b.s_e4 < a.s_e4)
         |     OR (b.n_tok < a.n_tok AND b.s_e4 > a.s_e4)
         |     THEN 1 ELSE 0 END AS disc
         |  FROM s40 a JOIN s40 b
         |    ON a.source = b.source AND a.doc_id < b.doc_id)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(conc) AS BIGINT) AS concordant,
         |  CAST(sum(disc) AS BIGINT) AS discordant,
         |  CAST((sum(conc) - sum(disc)) * 10000 // count(*) AS BIGINT)
         |    AS tau_a_e4,
         |  abs((sum(conc) - sum(disc)) * 10000 // count(*)) > 2000
         |    AS length_biased
         |FROM p GROUP BY 1 ORDER BY source""".stripMargin
    },
    "q_llm_topic_coherence" ->
      """WITH docterm AS (SELECT DISTINCT d.doc_id, e.label, t.tok
        |  FROM documents d
        |  JOIN embeddings e ON e.vec_id = d.doc_id,
        |  LATERAL (SELECT unnest(string_split(d.text, ' ')) AS tok) t),
        |top5 AS (SELECT label, tok, c, rk FROM (
        |   SELECT label, tok, count(*) AS c,
        |    row_number() OVER (PARTITION BY label
        |      ORDER BY count(*) DESC, tok) AS rk
        |   FROM docterm GROUP BY label, tok) x WHERE rk <= 5),
        |dfg AS (SELECT tok, count(DISTINCT doc_id) AS dj FROM docterm
        |  GROUP BY tok),
        |pairs AS (SELECT i.label, i.tok AS wi, j.tok AS wj
        |  FROM top5 i JOIN top5 j
        |   ON i.label = j.label AND i.rk < j.rk),
        |dij AS (SELECT p.label, p.wi, p.wj, count(*) AS dij
        |  FROM pairs p
        |  JOIN docterm a ON a.tok = p.wi
        |  JOIN docterm b ON b.tok = p.wj AND b.doc_id = a.doc_id
        |  GROUP BY 1, 2, 3),
        |terms AS (SELECT p.label, count(*) AS n_pairs,
        |   sum(CAST(floor(1000 * ln((coalesce(dij.dij, 0) + 1.0)
        |     / dfg.dj) + 0.5) AS BIGINT)) AS coh_e3
        |  FROM pairs p
        |  LEFT JOIN dij ON dij.label = p.label AND dij.wi = p.wi
        |   AND dij.wj = p.wj
        |  JOIN dfg ON dfg.tok = p.wj
        |  GROUP BY p.label),
        |tops AS (SELECT label,
        |   string_agg(tok, ' ' ORDER BY rk) AS top_terms FROM top5
        |  GROUP BY label),
        |sizes AS (SELECT label, count(DISTINCT doc_id) AS n_docs
        |  FROM docterm GROUP BY label)
        |SELECT CAST(s.label AS BIGINT) AS label,
        | CAST(n_docs AS BIGINT) AS n_docs, top_terms,
        | CAST(n_pairs AS BIGINT) AS n_pairs,
        | CAST(coh_e3 AS BIGINT) AS coh_e3
        |FROM sizes s JOIN tops ON tops.label = s.label
        |JOIN terms ON terms.label = s.label
        |ORDER BY label""".stripMargin,
    "q_llm_freq_of_freqs" ->
      """WITH toks AS (SELECT string_split(text, ' ') AS tk
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |cnt AS (SELECT tok, count(*) AS c FROM (
        |   SELECT unnest([tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2]
        |     for i in range(1, len(tk) - 1)]) AS tok
        |   FROM toks) t GROUP BY tok),
        |spec AS (SELECT least(c, 11) AS cc, count(*) AS n_types,
        |   sum(c) AS mass FROM cnt GROUP BY 1),
        |tot AS (SELECT sum(n_types) AS v, sum(mass) AS big_n FROM spec)
        |SELECT CAST(cc AS BIGINT) AS c_capped,
        | CAST(n_types AS BIGINT) AS n_types,
        | CAST(mass AS BIGINT) AS mass,
        | CAST(n_types * 10000 // tot.v AS BIGINT) AS vocab_share_e4,
        | CAST(mass * 10000 // tot.big_n AS BIGINT) AS mass_share_e4
        |FROM spec CROSS JOIN tot ORDER BY c_capped""".stripMargin,
    "q_llm_rake_keywords" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk
        |  FROM documents),
        |pt AS (SELECT doc_id, unnest([{'pos': i, 'tok': tk[i]}
        |   for i in range(1, len(tk) + 1)]) AS s FROM toks),
        |m AS (SELECT doc_id, s.pos AS pos, s.tok AS tok,
        |   CASE WHEN s.tok IN ('the','a','of','and','to','in','is')
        |    THEN 1 ELSE 0 END AS isstop FROM pt),
        |g AS (SELECT doc_id, pos, tok, isstop,
        |   sum(isstop) OVER (PARTITION BY doc_id ORDER BY pos) AS gid
        |  FROM m),
        |wds AS (SELECT doc_id, gid, pos, tok FROM g WHERE isstop = 0),
        |ph AS (SELECT doc_id, gid, count(*) AS plen,
        |   string_agg(tok, ' ' ORDER BY pos) AS phrase
        |  FROM wds GROUP BY 1, 2),
        |ws AS (SELECT tok, sum(plen) * 10000 // count(*) AS s_e4
        |  FROM wds JOIN ph USING (doc_id, gid) GROUP BY tok),
        |occ AS (SELECT doc_id, gid, sum(s_e4) AS score_e4
        |  FROM wds JOIN ws USING (tok) GROUP BY 1, 2)
        |SELECT phrase, CAST(max(ph.plen) AS BIGINT) AS plen,
        | CAST(count(*) AS BIGINT) AS n_occur,
        | CAST(max(occ.score_e4) AS BIGINT) AS score_e4
        |FROM ph JOIN occ USING (doc_id, gid)
        |WHERE ph.plen <= 4
        |GROUP BY phrase
        |ORDER BY score_e4 DESC, phrase LIMIT 15""".stripMargin,
    "q_llm_vocab_budget" ->
      """WITH cnt AS (SELECT tok, count(*) AS c FROM (
        |   SELECT unnest(string_split(text, ' ')) AS tok
        |   FROM documents) t GROUP BY tok),
        |tot AS (SELECT sum(c) AS big_n FROM cnt),
        |rk AS (SELECT tok, c, CAST(row_number() OVER
        |    (ORDER BY c DESC, tok) AS BIGINT) AS rk FROM cnt),
        |cum AS (SELECT rk, sum(c) OVER (ORDER BY rk
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM rk),
        |b AS (SELECT CAST(unnest([4, 8, 16, 32]) AS BIGINT) AS budget)
        |SELECT budget,
        | CAST(max(rk) AS BIGINT) AS n_types_used,
        | CAST(max(cum) AS BIGINT) AS n_covered,
        | CAST(max(cum) * 10000 // tot.big_n AS BIGINT) AS coverage_e4
        |FROM cum CROSS JOIN b CROSS JOIN tot
        |WHERE rk <= budget
        |GROUP BY budget, tot.big_n ORDER BY budget""".stripMargin,
    "q_llm_mattr" ->
      """WITH toks AS (SELECT lang, doc_id,
        |   string_split(text, ' ') AS tk FROM documents),
        |pt AS (SELECT lang, doc_id,
        |   unnest([{'blk': (i - 1) // 50, 'tok': tk[i]}
        |     for i in range(1, len(tk) + 1)]) AS s FROM toks),
        |blocks AS (SELECT lang, doc_id, s.blk,
        |   count(*) AS n_tok, count(DISTINCT s.tok) AS n_types
        |  FROM pt GROUP BY 1, 2, 3),
        |fb AS (SELECT lang, n_types * 10000 // n_tok AS ttr_blk_e4
        |  FROM blocks WHERE n_tok = 50),
        |per_lang AS (SELECT lang, count(*) AS n_blocks,
        |   sum(ttr_blk_e4) AS s FROM fb GROUP BY lang),
        |naive AS (SELECT lang, count(*) AS n_tokens,
        |   count(DISTINCT s.tok) AS n_vocab FROM pt GROUP BY lang)
        |SELECT n.lang, CAST(n.n_tokens AS BIGINT) AS n_tokens,
        | CAST(n.n_vocab AS BIGINT) AS n_vocab,
        | CAST(n.n_vocab * 10000 // n.n_tokens AS BIGINT) AS ttr_e4,
        | CAST(coalesce(p.n_blocks, 0) AS BIGINT) AS n_blocks,
        | CAST(coalesce(p.s // p.n_blocks, 0) AS BIGINT) AS mattr_e4
        |FROM naive n LEFT JOIN per_lang p ON p.lang = n.lang
        |ORDER BY n.lang""".stripMargin,
    "q_llm_lang_overlap" ->
      """WITH lv AS (SELECT DISTINCT lang,
        |   unnest(string_split(text, ' ')) AS tok FROM documents),
        |sz AS (SELECT lang, count(*) AS v FROM lv GROUP BY lang),
        |i AS (SELECT a.lang AS la, b.lang AS lb, count(*) AS inter
        |  FROM lv a JOIN lv b ON a.tok = b.tok AND a.lang < b.lang
        |  GROUP BY 1, 2)
        |SELECT i.la, i.lb, CAST(sa.v AS BIGINT) AS va,
        | CAST(sb.v AS BIGINT) AS vb, CAST(i.inter AS BIGINT) AS inter,
        | CAST(i.inter * 10000 // (sa.v + sb.v - i.inter) AS BIGINT)
        |   AS jaccard_e4
        |FROM i JOIN sz sa ON sa.lang = i.la JOIN sz sb ON sb.lang = i.lb
        |ORDER BY la, lb""".stripMargin,
    "q_llm_er_blocking" -> {
      val arm = (name: String, k: String) =>
        s"""SELECT '$name' AS strategy,
           | CAST((SELECT count(*) FROM (SELECT $k, count(*) AS s
           |   FROM k GROUP BY 1)) AS BIGINT) AS n_blocks,
           | CAST((SELECT sum(s * (s - 1) // 2) FROM (SELECT $k,
           |   count(*) AS s FROM k GROUP BY 1)) AS BIGINT) AS cand_pairs,
           | CAST((SELECT count(*) FROM tp) AS BIGINT) AS n_truth,
           | CAST((SELECT count(*) FROM tp
           |   JOIN k a ON a.doc_id = tp.a_id
           |   JOIN k b ON b.doc_id = tp.b_id
           |   WHERE a.$k = b.$k) AS BIGINT) AS covered,
           | CAST((SELECT count(*) FROM tp
           |   JOIN k a ON a.doc_id = tp.a_id
           |   JOIN k b ON b.doc_id = tp.b_id
           |   WHERE a.$k = b.$k) * 10000
           |  // greatest((SELECT count(*) FROM tp), 1) AS BIGINT)
           |   AS completeness_e4,
           | CAST((SELECT sum(s * (s - 1) // 2) FROM (SELECT $k,
           |   count(*) AS s FROM k GROUP BY 1)) * 10000
           |  // ((SELECT count(*) FROM k)
           |    * ((SELECT count(*) FROM k) - 1) // 2) AS BIGINT)
           |   AS reduction_e4""".stripMargin
      s"""WITH tp AS (SELECT a_id, b_id FROM (${LlmOps.minhashPairsSql})),
         |k AS (SELECT doc_id, string_split(text, ' ')[1] AS k_first,
         |   source || '|' || lang AS k_srclang,
         |   CAST(n_chars // 100 AS VARCHAR) AS k_lenband
         |  FROM documents)
         |${arm("first_token", "k_first")}
         |UNION ALL ${arm("length_band", "k_lenband")}
         |UNION ALL ${arm("source_lang", "k_srclang")}
         |ORDER BY strategy""".stripMargin
    },
    "q_llm_burstiness" ->
      """WITH t AS (SELECT doc_id,
        |   unnest(string_split(text, ' ')) AS tok FROM documents)
        |SELECT tok, CAST(count(*) AS BIGINT) AS cf,
        | CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
        | CAST(count(*) * 10000 // count(DISTINCT doc_id) AS BIGINT)
        |   AS burst_e4
        |FROM t GROUP BY tok ORDER BY cf DESC, tok LIMIT 20""".stripMargin,
    "q_llm_ctx_overflow" ->
      """WITH d AS (SELECT source, doc_id,
        |   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (SELECT source, doc_id, n_tok,
        |   sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |     ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM d),
        |b AS (SELECT unnest([1000, 4000, 16000]) AS budget)
        |SELECT c.source, CAST(b.budget AS BIGINT) AS budget,
        | CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(c.n_tok) AS BIGINT) AS tokens_total,
        | CAST(sum(CASE WHEN c.cum <= b.budget THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_fit,
        | CAST(sum(CASE WHEN c.cum <= b.budget THEN c.n_tok ELSE 0 END)
        |   AS BIGINT) AS tokens_used,
        | CAST(sum(c.n_tok) - sum(CASE WHEN c.cum <= b.budget
        |   THEN c.n_tok ELSE 0 END) AS BIGINT) AS tokens_lost
        |FROM c CROSS JOIN b GROUP BY c.source, b.budget
        |ORDER BY source, budget""".stripMargin,
    "q_llm_context_pack" -> {
      val ctes = LlmOps.bm25Ctes
      s"""WITH $ctes,
         |ranked AS (SELECT doc_id, row_number() OVER
         |    (ORDER BY bm25 DESC, doc_id) AS rank
         |  FROM bmsc ORDER BY bm25 DESC, doc_id LIMIT 50),
         |tk AS (SELECT doc_id,
         |   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws
         |  FROM documents),
         |packed AS (SELECT ranked.rank, ranked.doc_id, tk.n_ws,
         |   CAST(sum(tk.n_ws) OVER (ORDER BY ranked.rank
         |     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |  FROM ranked JOIN tk ON ranked.doc_id = tk.doc_id)
         |SELECT CAST(rank AS INTEGER) AS rank, doc_id, n_ws, cum_tokens
         |FROM packed WHERE cum_tokens <= 2000 ORDER BY rank""".stripMargin
    },
    "q_llm_spec_ngram" ->
      """WITH t0 AS (SELECT lang, string_split(text, ' ') AS tk
        |  FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |pos AS (SELECT lang, s.wp, s.w FROM (
        |  SELECT lang, unnest([{'wp': tk[i - 1], 'w': tk[i]}
        |     for i in range(2, len(tk) + 1)]) AS s FROM t0)),
        |draft AS (SELECT wp, w AS pred FROM (
        |  SELECT wp, w, row_number() OVER (PARTITION BY wp
        |      ORDER BY count(*) DESC, w) AS rn
        |  FROM pos GROUP BY wp, w) t WHERE rn = 1)
        |SELECT lang, count(*) AS n_pos,
        | CAST(sum(CASE WHEN pos.w = draft.pred THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_hit,
        | CAST((sum(CASE WHEN pos.w = draft.pred THEN 1 ELSE 0 END)
        |   * 10000) // count(*) AS BIGINT) AS acc_e4
        |FROM pos JOIN draft ON pos.wp = draft.wp
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_llm_sys_resample" ->
      """WITH d AS (SELECT doc_id, n_chars AS wt FROM documents),
        |tot AS (SELECT CAST(sum(wt) AS BIGINT) AS totw FROM d),
        |c AS (SELECT doc_id, wt,
        |   CAST(sum(wt) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
        |     AS BIGINT) AS cum FROM d)
        |SELECT doc_id, wt,
        | (cum * 100) // totw - ((cum - wt) * 100) // totw AS n_picks
        |FROM c CROSS JOIN tot
        |WHERE (cum * 100) // totw - ((cum - wt) * 100) // totw >= 1
        |ORDER BY doc_id""".stripMargin,
    "q_llm_gopher_rules" ->
      s"""WITH $gopherFlagsCte
         |SELECT doc_id, n_words, r_nwords, r_mwl, r_alpha, r_stop,
         | r_nwords AND r_mwl AND r_alpha AND r_stop AS keep
         |FROM flags ORDER BY doc_id""".stripMargin,
    "q_llm_cdc_chunks" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk
        |  FROM documents),
        |g AS (SELECT doc_id, unnest([{'pos': i,
        |   'b': CASE WHEN CAST(concat('0x', substr(md5(tk[i]), 1, 15))
        |     AS BIGINT) % 16 = 0 THEN 1 ELSE 0 END}
        |   for i in range(1, len(tk) + 1)]) AS s FROM toks),
        |w AS (SELECT doc_id, s.pos,
        |   sum(s.b) OVER (PARTITION BY doc_id ORDER BY s.pos) - s.b
        |     AS chunk_id FROM g),
        |cs AS (SELECT doc_id, chunk_id, count(*) AS csize FROM w
        |  GROUP BY doc_id, chunk_id)
        |SELECT doc_id, CAST(sum(csize) AS BIGINT) AS n_tokens,
        | count(*) AS n_chunks,
        | CAST((sum(csize) * 100) // count(*) AS BIGINT) AS avg_chunk_e2,
        | CAST(max(csize) AS BIGINT) AS max_chunk
        |FROM cs GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_llm_trigram_sbo" ->
      """WITH toks AS (SELECT string_split(text, ' ') AS tk FROM documents),
        |uni AS (SELECT w, count(*) AS c1 FROM (
        |  SELECT unnest(tk) AS w FROM toks) t GROUP BY w),
        |tstar AS (SELECT w AS probe FROM uni
        |  ORDER BY c1 DESC, w LIMIT 1),
        |b2 AS (SELECT s.w1 AS w1, s.w2 AS w2 FROM (
        |  SELECT unnest([{'w1': tk[i], 'w2': tk[i+1]}
        |    for i in range(1, len(tk))]) AS s
        |  FROM toks WHERE len(tk) >= 2) t),
        |c2t AS (SELECT w1, w2, count(*) AS c2 FROM b2 GROUP BY w1, w2),
        |t3 AS (SELECT s.w1 AS w1, s.w2 AS w2, s.w3 AS w3 FROM (
        |  SELECT unnest([{'w1': tk[i], 'w2': tk[i+1], 'w3': tk[i+2]}
        |    for i in range(1, len(tk) - 1)]) AS s
        |  FROM toks WHERE len(tk) >= 3) t),
        |c3t AS (SELECT w1, w2, w3, count(*) AS c3 FROM t3
        |  GROUP BY w1, w2, w3),
        |top AS (SELECT w1, w2, c2 FROM c2t
        |  ORDER BY c2 DESC, w1, w2 LIMIT 20)
        |SELECT top.w1, top.w2, ts.probe, top.c2,
        | coalesce(c3t.c3, 0) AS c3,
        | coalesce(cb.c2, 0) AS c2b, u.c1,
        | CASE WHEN coalesce(c3t.c3, 0) > 0 THEN 'tri'
        |   ELSE 'backoff' END AS path,
        | CAST(CASE WHEN coalesce(c3t.c3, 0) > 0
        |   THEN c3t.c3 * 1000000 // top.c2
        |   ELSE 400000 * coalesce(cb.c2, 0) // u.c1 END AS BIGINT)
        |   AS score_e6
        |FROM top CROSS JOIN tstar ts
        |LEFT JOIN c3t ON c3t.w1 = top.w1 AND c3t.w2 = top.w2
        |  AND c3t.w3 = ts.probe
        |LEFT JOIN c2t cb ON cb.w1 = top.w2 AND cb.w2 = ts.probe
        |JOIN uni u ON u.w = top.w2
        |ORDER BY top.c2 DESC, top.w1, top.w2""".stripMargin,
    "q_llm_tail_tokens" ->
      """WITH v AS (SELECT w, count(*) AS c FROM (
        |  SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
        |  GROUP BY w)
        |SELECT count(*) AS n_vocab,
        | CAST(sum(c) AS BIGINT) AS n_tokens,
        | CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_hapax,
        | CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_dis,
        | CAST(((sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
        |   + sum(CASE WHEN c = 2 THEN 1 ELSE 0 END)) * 10000)
        |   // count(*) AS BIGINT) AS tail_vocab_e4,
        | CAST(((sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
        |   + 2 * sum(CASE WHEN c = 2 THEN 1 ELSE 0 END)) * 10000)
        |   // CAST(sum(c) AS BIGINT) AS BIGINT) AS tail_mass_e4
        |FROM v""".stripMargin,
    "q_llm_quality_ablate" -> {
      val rules = Seq("nwords", "mwl", "alpha", "stop")
      val arms = rules.map { r =>
        val others = rules.filter(_ != r)
          .map(o => s"r_$o").mkString(" AND ")
        s"""SELECT '$r' AS rule,
           | CAST(sum(CASE WHEN NOT r_$r THEN 1 ELSE 0 END) AS BIGINT)
           |   AS n_fail,
           | CAST(sum(CASE WHEN NOT r_$r AND $others THEN 1 ELSE 0 END)
           |   AS BIGINT) AS n_unique_kill,
           | CAST(sum(CASE WHEN $others THEN 1 ELSE 0 END) AS BIGINT)
           |   AS keep_without
           |FROM flags""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $gopherFlagsCte
         |SELECT * FROM (
         |$arms
         |) u ORDER BY rule""".stripMargin
    },
    "q_llm_cluster_purity" ->
      """WITH emb AS (SELECT vec_id, label, embedding::DOUBLE[] AS v,
        |  sqrt(list_inner_product(embedding::DOUBLE[],
        |                          embedding::DOUBLE[])) AS nrm
        |  FROM embeddings),
        |cents AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn
        |  FROM emb WHERE vec_id < 16),
        |asg AS (SELECT e.vec_id, e.label, c.c_id,
        |  row_number() OVER (PARTITION BY e.vec_id
        |    ORDER BY round(list_inner_product(e.v, c.cv)
        |      / (e.nrm * c.cn), 6) DESC, c.c_id) AS arn
        |  FROM emb e CROSS JOIN cents c),
        |bk AS (SELECT vec_id, label, c_id AS bucket FROM asg
        |  WHERE arn = 1),
        |votes AS (SELECT bucket, label, count(*) AS n FROM bk
        |  GROUP BY 1, 2),
        |sizes AS (SELECT bucket, count(*) AS n_vecs FROM bk GROUP BY 1),
        |maj AS (SELECT bucket, label AS maj_label, n AS n_major FROM (
        |  SELECT bucket, label, n, row_number() OVER (PARTITION BY bucket
        |      ORDER BY n DESC, label) AS rn FROM votes) t WHERE rn = 1)
        |SELECT m.bucket, s.n_vecs, m.maj_label,
        | CAST(m.n_major AS BIGINT) AS n_major,
        | CAST((m.n_major * 10000) // s.n_vecs AS BIGINT) AS purity_e4
        |FROM maj m JOIN sizes s ON m.bucket = s.bucket
        |ORDER BY m.bucket""".stripMargin,
    "q_llm_ngram_coverage" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk
        |  FROM documents),
        |g AS (SELECT doc_id, unnest(
        |  [CAST(concat('0x', substr(md5(
        |     array_to_string(tk[i:i+12], ' ')), 1, 15)) AS BIGINT)
        |   for i in range(1, greatest(len(tk) - 11, 1))]) AS gh
        |  FROM toks),
        |e AS (SELECT DISTINCT doc_id, gh FROM g WHERE doc_id % 10 = 0),
        |t AS (SELECT DISTINCT gh FROM g WHERE doc_id % 10 <> 0),
        |tot AS (SELECT doc_id, count(*) AS n_grams FROM e GROUP BY 1),
        |seen AS (SELECT e.doc_id, count(*) AS n_seen
        |  FROM e JOIN t ON e.gh = t.gh GROUP BY 1)
        |SELECT tot.doc_id, tot.n_grams,
        | CAST(coalesce(seen.n_seen, 0) AS BIGINT) AS n_seen,
        | CAST((coalesce(seen.n_seen, 0) * 10000) // tot.n_grams
        |   AS BIGINT) AS cov_e4
        |FROM tot LEFT JOIN seen ON tot.doc_id = seen.doc_id
        |ORDER BY tot.doc_id""".stripMargin,
    "q_llm_heaps_fit" ->
      """WITH tok AS (SELECT doc_id % 8 AS b,
        |   unnest(string_split(text, ' ')) AS w FROM documents),
        |nb AS (SELECT b, count(*) AS cnt FROM tok GROUP BY 1),
        |vb AS (SELECT mb, count(*) AS vnew FROM (
        |  SELECT w, min(b) AS mb FROM tok GROUP BY w) t GROUP BY 1),
        |ts AS (SELECT unnest(range(1, 9)) AS t),
        |np AS (SELECT t, CAST(sum(cnt) AS BIGINT) AS n_t
        |  FROM ts JOIN nb ON nb.b < ts.t GROUP BY t),
        |vp AS (SELECT t, CAST(sum(vnew) AS BIGINT) AS v_t
        |  FROM ts JOIN vb ON vb.mb < ts.t GROUP BY t),
        |pts AS (SELECT
        |   CAST(floor(ln(n_t) * 1000 + 0.5) AS BIGINT) AS x,
        |   CAST(floor(ln(v_t) * 1000 + 0.5) AS BIGINT) AS y
        |  FROM np JOIN vp USING (t)),
        |m AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
        |   CAST(sum(y) AS BIGINT) AS sy,
        |   CAST(sum(x * y) AS BIGINT) AS sxy,
        |   CAST(sum(x * x) AS BIGINT) AS sxx FROM pts)
        |SELECT n, CAST((n * sxy - sx * sy)
        |  // greatest((n * sxx - sx * sx) // 1000000, 1) AS BIGINT)
        |  AS beta_e6 FROM m""".stripMargin,
    "q_llm_c4_rules" ->
      """WITH d AS (SELECT doc_id, text
        |   || CASE WHEN doc_id % 3 = 0
        |        THEN '. Second sentence here. And a third one.'
        |        ELSE '' END
        |   || CASE WHEN doc_id % 7 = 0 THEN ' {code}' ELSE '' END
        |   || CASE WHEN doc_id % 11 = 0 THEN ' lorem ipsum' ELSE '' END
        |   AS t FROM documents)
        |SELECT doc_id,
        | regexp_matches(t, '[.!?]$') AS r_punct,
        | len(regexp_extract_all(t, '[.!?]')) >= 3 AS r_sent,
        | NOT contains(t, '{') AS r_brace,
        | NOT contains(lower(t), 'lorem ipsum') AS r_lorem,
        | len(string_split(t, ' ')) >= 5 AS r_minw,
        | regexp_matches(t, '[.!?]$')
        |   AND len(regexp_extract_all(t, '[.!?]')) >= 3
        |   AND NOT contains(t, '{')
        |   AND NOT contains(lower(t), 'lorem ipsum')
        |   AND len(string_split(t, ' ')) >= 5 AS keep
        |FROM d ORDER BY doc_id""".stripMargin,
    "q_llm_tok_fertility" ->
      """WITH d AS (SELECT lang,
        |   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws,
        |   CAST(len(regexp_extract_all(text, '\S{1,4}')) AS BIGINT)
        |     AS n_bpe,
        |   CAST(length(text) AS BIGINT) AS n_chars
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        | CAST(sum(n_ws) AS BIGINT) AS ws_tokens,
        | CAST(sum(n_bpe) AS BIGINT) AS bpe_tokens,
        | CAST(sum(n_chars) AS BIGINT) AS chars,
        | CAST((sum(n_ws) * 10000) // greatest(sum(n_chars), 1) AS BIGINT)
        |   AS tok_per_char_e4,
        | CAST((sum(n_bpe) * 10000) // greatest(sum(n_ws), 1) AS BIGINT)
        |   AS bpe_per_ws_e4
        |FROM d GROUP BY lang ORDER BY lang""".stripMargin,
    "q_llm_langid_confusion" ->
      """WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' '))
        |    AS token FROM documents),
        |prof AS (SELECT p_lang, token FROM (
        |  SELECT lang AS p_lang, token, count(*) AS cnt,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY count(*) DESC, token) AS rn
        |  FROM tok GROUP BY lang, token) t WHERE rn <= 20),
        |dtok AS (SELECT doc_id, lang, unnest(list_distinct(
        |    string_split(text, ' '))) AS token FROM documents),
        |sc AS (SELECT doc_id, lang, p_lang, count(*) AS score
        |  FROM dtok JOIN prof USING (token) GROUP BY 1, 2, 3),
        |pred AS (SELECT doc_id, lang, p_lang FROM (
        |  SELECT doc_id, lang, p_lang,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, p_lang) AS rn FROM sc) t
        |  WHERE rn = 1)
        |SELECT lang AS actual_lang, p_lang AS pred_lang,
        | count(*) AS n_docs
        |FROM pred GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_llm_minhash_1bit" ->
      s"""WITH ${LlmOps.minhashCandCte},
         |pm AS (SELECT c.a_id, c.b_id,
         |   sum(CASE WHEN x.m = y.m THEN 1 ELSE 0 END) AS mm16,
         |   sum(CASE WHEN x.m % 2 = y.m % 2 THEN 1 ELSE 0 END) AS mm1
         |  FROM cand c
         |  JOIN mh x ON x.doc_id = c.a_id
         |  JOIN mh y ON y.doc_id = c.b_id AND y.j = x.j
         |  GROUP BY 1, 2),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT pm.a_id, pm.b_id,
         | CAST((mm16 * 10000) // 16 AS BIGINT) AS est16_e4,
         | CAST((greatest(2 * mm1 - 16, 0) * 10000) // 16 AS BIGINT)
         |   AS est1_e4,
         | CAST((coalesce(i, 0) * 10000)
         |   // (na.n + nb.n - coalesce(i, 0)) AS BIGINT) AS jacc_e4
         |FROM pm
         |LEFT JOIN inter ON pm.a_id = ia AND pm.b_id = ib
         |JOIN sizes na ON pm.a_id = na.doc_id
         |JOIN sizes nb ON pm.b_id = nb.doc_id
         |ORDER BY pm.a_id, pm.b_id""".stripMargin,
    "q_llm_jm_interp" ->
      """WITH toks AS (SELECT string_split(text, ' ') AS tk
        |  FROM documents),
        |bg AS (SELECT unnest([{'w1': tk[i], 'w2': tk[i+1]}
        |   for i in range(1, len(tk))]) AS b
        |  FROM toks WHERE len(tk) >= 2),
        |b2 AS (SELECT b.w1 AS w1, b.w2 AS w2 FROM bg),
        |uni AS (SELECT unnest(tk) AS w FROM toks),
        |c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
        |  FROM b2 GROUP BY w1, w2),
        |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1
        |  FROM c12 GROUP BY w1),
        |cu AS (SELECT w AS w2, CAST(count(*) AS BIGINT) AS cu2
        |  FROM uni GROUP BY w),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_tok FROM uni)
        |SELECT w1, w2, c12, c1, cu2, n_tok,
        | CAST((7 * c12 * 1000000) // (10 * c1)
        |   + (3 * cu2 * 1000000) // (10 * n_tok) AS BIGINT) AS jm_e6
        |FROM c12 JOIN c1 USING (w1) JOIN cu USING (w2) CROSS JOIN n
        |ORDER BY c12 DESC, w1, w2 LIMIT 50""".stripMargin,
    "q_llm_kn_bigram" ->
      """WITH t0 AS (SELECT string_split(text, ' ') AS tk FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |bg AS (SELECT s.w1, s.w2 FROM (
        |  SELECT unnest([{'w1': tk[i], 'w2': tk[i + 1]}
        |     for i in range(1, len(tk))]) AS s FROM t0)),
        |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
        |lft AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
        |   count(*) AS n1w FROM c12 GROUP BY 1),
        |cont AS (SELECT w2, count(*) AS pcnum FROM c12 GROUP BY 1),
        |nbt AS (SELECT count(*) AS nbt FROM c12)
        |SELECT c12.w1, c12.w2, c12.c12,
        | CAST(((4 * c12.c12 - 3) * 250000) // lft.c1
        |  + (3 * lft.n1w * ((cont.pcnum * 1000000) // nbt.nbt))
        |    // (4 * lft.c1) AS BIGINT) AS p_kn_e6
        |FROM c12
        |JOIN lft ON c12.w1 = lft.w1
        |JOIN cont ON c12.w2 = cont.w2
        |CROSS JOIN nbt
        |ORDER BY c12.c12 DESC, c12.w1, c12.w2 LIMIT 50""".stripMargin,
    "q_llm_mrl_recall" ->
      """WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |  FROM embeddings),
        |full3 AS (SELECT probe_id, vec_id FROM (
        |  SELECT p.vec_id AS probe_id, c.vec_id,
        |    row_number() OVER (PARTITION BY p.vec_id ORDER BY
        |      round(list_inner_product(p.v, c.v)
        |        / (sqrt(list_inner_product(p.v, p.v))
        |           * sqrt(list_inner_product(c.v, c.v))), 6) DESC,
        |      c.vec_id) AS rank
        |  FROM emb p JOIN emb c ON c.vec_id <> p.vec_id
        |  WHERE p.vec_id < 20) t WHERE rank <= 3),
        |tr AS (SELECT d, probe_id, vec_id FROM (
        |  SELECT dd.d, p.vec_id AS probe_id, c.vec_id,
        |    row_number() OVER (PARTITION BY dd.d, p.vec_id ORDER BY
        |      round(list_inner_product(p.v[1:dd.d], c.v[1:dd.d])
        |        / (sqrt(list_inner_product(p.v[1:dd.d], p.v[1:dd.d]))
        |           * sqrt(list_inner_product(c.v[1:dd.d], c.v[1:dd.d]))),
        |        6) DESC, c.vec_id) AS rank
        |  FROM emb p JOIN emb c ON c.vec_id <> p.vec_id
        |  CROSS JOIN (VALUES (8), (16), (32)) dd(d)
        |  WHERE p.vec_id < 20) t WHERE rank <= 3),
        |den AS (SELECT count(*) AS total FROM full3),
        |hj AS (SELECT tr.d FROM tr JOIN full3 USING (probe_id, vec_id)),
        |hits AS (SELECT dd.d, count(hj.d) AS n_hits
        |  FROM (VALUES (8), (16), (32)) dd(d)
        |  LEFT JOIN hj ON hj.d = dd.d GROUP BY dd.d)
        |SELECT CAST(d AS INTEGER) AS dim, n_hits,
        | CAST((n_hits * 10000) // greatest(total, 1) AS BIGINT)
        |   AS recall_e4
        |FROM hits CROSS JOIN den ORDER BY dim""".stripMargin,
    "q_llm_hamming_embed" ->
      """WITH f AS (SELECT vec_id,
        |  CAST(list_sum([CASE WHEN embedding[i + 33] > 0
        |     THEN (CAST(1 AS BIGINT) << i) ELSE 0 END
        |     for i in range(0, 32)]) AS BIGINT) AS hi,
        |  CAST(list_sum([CASE WHEN embedding[i + 1] > 0
        |     THEN (CAST(1 AS BIGINT) << i) ELSE 0 END
        |     for i in range(0, 32)]) AS BIGINT) AS lo
        |  FROM embeddings),
        |pr AS (SELECT vec_id AS probe_id, hi AS phi, lo AS plo
        |  FROM f WHERE vec_id < 20)
        |SELECT probe_id, rank, vec_id, hamming FROM (
        |  SELECT pr.probe_id, f.vec_id,
        |    CAST(bit_count(xor(pr.phi, f.hi))
        |      + bit_count(xor(pr.plo, f.lo)) AS BIGINT) AS hamming,
        |    CAST(row_number() OVER (PARTITION BY pr.probe_id
        |      ORDER BY bit_count(xor(pr.phi, f.hi))
        |        + bit_count(xor(pr.plo, f.lo)), f.vec_id) AS INTEGER)
        |      AS rank
        |  FROM pr JOIN f ON f.vec_id <> pr.probe_id) t
        |WHERE rank <= 3 ORDER BY probe_id, rank""".stripMargin,
    "q_events_dedup_window" ->
      """SELECT event_id, user_id, event_type, w_start FROM (
        |  SELECT event_id, user_id, event_type,
        |    epoch_ns(ts) // 600000000000 AS w_start,
        |    row_number() OVER (
        |      PARTITION BY user_id, event_type,
        |        epoch_ns(ts) // 600000000000
        |      ORDER BY epoch_ns(ts), event_id) AS rn
        |  FROM events) t
        |WHERE rn = 1 ORDER BY event_id""".stripMargin,
    "q_llm_domain_kl" ->
      """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |top AS (SELECT w, c_cnt FROM (
        |  SELECT w, count(*) AS c_cnt,
        |    row_number() OVER (ORDER BY count(*) DESC, w) AS r
        |  FROM tok GROUP BY w) t WHERE r <= 100),
        |totc AS (SELECT CAST(sum(c_cnt) AS BIGINT) AS tot_c FROM top),
        |stok AS (SELECT source, tok.w, top.c_cnt, count(*) AS s_cnt
        |  FROM tok JOIN top ON tok.w = top.w GROUP BY 1, 2, 3),
        |tots AS (SELECT source, CAST(sum(s_cnt) AS BIGINT) AS tot_s,
        |   count(*) AS n_terms FROM stok GROUP BY 1)
        |SELECT s.source, t.n_terms, t.tot_s,
        | CAST(CAST(sum(s.s_cnt *
        |   (CAST(floor(ln(s.s_cnt * c.tot_c) * 1000 + 0.5) AS BIGINT)
        |    - CAST(floor(ln(s.c_cnt * t.tot_s) * 1000 + 0.5) AS BIGINT)))
        |   AS BIGINT) // t.tot_s AS BIGINT) AS kl_e3
        |FROM stok s
        |JOIN tots t ON s.source = t.source
        |CROSS JOIN totc c
        |GROUP BY 1, 2, 3 ORDER BY s.source""".stripMargin,
  )
}
