package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** SURVEY.md §2 (J10): retrieval EVALUATION
  * metrics — the numbers a search/RAG owner actually reports (nDCG@10,
  * MRR) — computed over the enrolled BM25 ranking with content-derived
  * graded relevance, so the metric rows can never disagree with the
  * ranking rows about what was retrieved.
  *
  * Determinism: the only non-rational constants are the 10 per-rank
  * DCG discount weights 1/log₂(rank+1), each rounded ONCE to ×10⁶
  * integers via the identical `floor(1e6/(ln(r+1)/ln(2)) + 0.5)` text
  * in both engines (the zipf/dsir log-rounding rule); everything after
  * is BIGINT sums and truncating division.
  */
object Evaluation {

  /** Per-doc graded relevance 0..3 = how many of the three query terms
    * the document contains — derived from content, shared by both
    * metric rows. */
  private def relevance(spark: SparkSession, dir: String): DataFrame =
    // map-only view of the memoized bm25-perdoc frame:
    // rel = how many of the three query terms the doc contains —
    // identical values to the former per-row tokenize, zero shuffles
    LlmOps.bm25PerDoc(spark, dir).select(col("doc_id"),
      (when(col("tf1") > 0, 1L).otherwise(0L) +
        when(col("tf2") > 0, 1L).otherwise(0L) +
        when(col("tf3") > 0, 1L).otherwise(0L)).as("rel"))

  private val wE6 =
    "CAST(floor(1000000.0D / (ln(rank + 1) / ln(2.0D)) + 0.5) AS BIGINT)"

  /** nDCG@10 of the BM25 ranking: DCG over the top-10 retrieved docs
    * with graded relevance, normalized by the ideal DCG (relevance-
    * sorted top-10 over ALL docs). One summary row (n_rel, dcg_e6,
    * idcg_e6, ndcg_e4) — the leaderboard number plus its parts so a
    * regression is attributable.
    *
    * Scale shape: the ranked side is the BM25 row's own
    * TakeOrderedAndProject top-10 (distributed partial top-k — no
    * global sort); the ideal side is the same cap over the node-sized
    * relevance frame; the discount weights are 10 constants. */
  def ndcgAt10(spark: SparkSession, dir: String): DataFrame = {
    val rel = relevance(spark, dir)
    val ranked = LlmOps.bm25Scored(spark, dir)
      .orderBy(col("bm25").desc, col("doc_id")).limit(10)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("bm25").desc, col("doc_id"))))
    val dcg = ranked.join(rel, "doc_id")
      .select(expr(s"rel * $wE6").as("g"))
      .agg(coalesce(sum(col("g")), lit(0L)).as("dcg_e6"))
    val ideal = rel.filter(col("rel") > 0)
      .orderBy(col("rel").desc, col("doc_id")).limit(10)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("rel").desc, col("doc_id"))))
      .select(expr(s"rel * $wE6").as("g"))
      .agg(coalesce(sum(col("g")), lit(0L)).as("idcg_e6"))
    val nRel = rel.filter(col("rel") > 0)
      .agg(count(lit(1)).as("n_rel"))
    nRel.crossJoin(broadcast(dcg)).crossJoin(broadcast(ideal))
      .select(col("n_rel"), col("dcg_e6"), col("idcg_e6"),
        // greatest-guard: zero relevant docs makes
        // idcg_e6 = 0 — Spark div would yield NULL where the oracle's
        // // raises; both arms guard identically (0 div 1 = 0)
        expr("(dcg_e6 * 10000) div greatest(idcg_e6, 1)").as("ndcg_e4"))
  }

  /** MRR of the three query terms against the combined BM25 ranking:
    * per term, the rank of the FIRST document containing it. The rank
    * is computed WITHOUT a global sort (the scale hazard of a corpus-
    * wide row_number): best relevant doc per term via one max_by-style
    * ranked reduction, then its rank = 1 + count of docs strictly
    * better in (bm25 desc, doc_id asc) order — a broadcast-join count,
    * partial-aggregable on every arm. */
  def mrr(spark: SparkSession, dir: String): DataFrame = {
    val Seq(t1, t2, t3) = LlmOps.bm25Terms
    val scored = LlmOps.bm25Scored(spark, dir).localCheckpoint()
    val rel = relevance(spark, dir)
    val toks = docTokens(spark, dir)
    def arm(q: String): DataFrame = {
      val has = toks.filter(col("tok") === q)
        .select(col("doc_id")).distinct()
      val best = scored.join(has, "doc_id")
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("bm25").desc, col("doc_id"))))
        .filter(col("rn") === 1)
        .select(col("doc_id").as("b_id"), col("bm25").as("b_score"))
      // groupBy(b_id), not a global agg: a term
      // matching NO document leaves `best` empty, and a global
      // count-over-empty-crossJoin would still emit one row
      // (first_rank=1) while the oracle emits none — grouping on a
      // `best` column makes the empty case emit zero rows on both arms
      scored.crossJoin(broadcast(best))
        .groupBy(col("b_id"))
        .agg(sum(when(col("bm25") > col("b_score") ||
            (col("bm25") === col("b_score") && col("doc_id") < col("b_id")),
          1L).otherwise(0L)).as("n_better"))
        .select(lit(q).as("query"),
          (col("n_better") + 1).as("first_rank"),
          expr("1000000 div (n_better + 1)").as("rr_e6"))
    }
    arm(t1).unionAll(arm(t2)).unionAll(arm(t3))
      .orderBy(col("query"))
  }

  /** ROUGE-2-style set overlap between consecutive same-source docs:
    * candidate a = a doc, reference b = the next doc_id in its source;
    * over DISTINCT token bigrams, recall = |A∩B|/|B|, precision =
    * |A∩B|/|A|, F1 = 2|A∩B|/(|A|+|B|) (the Dice identity — on sets,
    * F1 needs no float P/R intermediates, so ×10⁴ integer division is
    * exact). The summarization-eval / duplicate-page member of the
    * evaluation family; top-20 pairs by F1.
    *
    * Only docs with ≥2 tokens participate (a bigram needs two), on
    * BOTH sides of the pair — enforced by inner-joining the per-doc
    * bigram counts, identically in the oracle.
    *
    * Shape: pairing is one doc-sized window (lead over source); the
    * corpus-sized work is the distinct-bigram build and one equi-join
    * keyed (doc, bigram) — no cross product anywhere; counts then ride
    * doc-sized joins. At 100 TB the bigram frame is the inverted-index
    * build every eval pipeline persists anyway. */
  def rougeBigram(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
    val pairs = documents(spark, dir)
      .select(col("source"), col("doc_id").as("a"),
        lead(col("doc_id"), 1).over(w).as("b"))
      .filter(col("b").isNotNull)
    val bgs = documents(spark, dir)
      .select(col("doc_id"), tokens.as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(tk) - 2)," +
          " i -> concat(tk[i], ' ', tk[i + 1]))")).as("bg"))
      .distinct()
    val cnt = bgs.groupBy(col("doc_id")).agg(count(lit(1)).as("nbg"))
    val inter = pairs
      .join(bgs.select(col("doc_id").as("a"), col("bg")), "a")
      .join(bgs.select(col("doc_id").as("b"), col("bg")), Seq("b", "bg"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("inter"))
    pairs
      .join(cnt.select(col("doc_id").as("a"), col("nbg").as("na")), "a")
      .join(cnt.select(col("doc_id").as("b"), col("nbg").as("nb")), "b")
      .join(inter, Seq("a", "b"), "left")
      .select(col("a"), col("b"), col("na"), col("nb"),
        coalesce(col("inter"), lit(0L)).as("n_common"))
      .withColumn("recall_e4", expr("n_common * 10000 div nb"))
      .withColumn("precision_e4", expr("n_common * 10000 div na"))
      .withColumn("f1_e4", expr("2 * n_common * 10000 div (na + nb)"))
      .orderBy(col("f1_e4").desc, col("a"))
      .limit(20)
  }

  /** Lexical hard-negative mining for retrieval training: per query
    * term, the top-5 BM25-scored documents that do NOT contain the
    * term — high-scoring lookalikes (they match the OTHER query terms)
    * are exactly the negatives a contrastive retriever needs.
    * Complements q_llm_triplet_mine (embedding-space negatives) with
    * the lexical flavor; consumes the enrolled bm25Scored frame so
    * negatives can never disagree with the ranking row.
    *
    * Shape: per term one broadcast anti-join (term-doc set is
    * df(term)-sized) + a distributed TakeOrderedAndProject top-5; the
    * rank window then runs on the capped 5-row frame (the
    * context_pack idiom — never a corpus-wide row_number). */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val scored = LlmOps.bm25Scored(spark, dir).localCheckpoint()
    val toks = docTokens(spark, dir)
    val arms = LlmOps.bm25Terms.map { t =>
      val has = toks.filter(col("tok") === t)
        .select(col("doc_id")).distinct()
      // doc-sized term-presence set — unhinted
      scored.join(has, Seq("doc_id"), "left_anti")
        .orderBy(col("bm25").desc, col("doc_id")).limit(5)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("bm25").desc, col("doc_id"))))
        .select(lit(t).as("term"), col("rank"), col("doc_id"),
          col("bm25"))
    }
    arms.reduce(_ unionAll _).orderBy(col("term"), col("rank"))
  }

  /** BLEU-2 components over the same consecutive-same-source
    * pairs as rougeBigram — candidate a, reference b. Unlike ROUGE's
    * set overlap, BLEU uses CLIPPED MULTIPLICITY counts: per n-gram g,
    * min(count_a(g), count_b(g)), so a candidate repeating one
    * reference word does not farm precision. Emitted exactly:
    * p1_e4/p2_e4 (clipped 1/2-gram precisions), gm2_e8 = p1_e4·p2_e4
    * (the geometric mean SQUARED — sqrt-free per the house rule; the
    * consumer takes √gm2_e8/10⁴ off-engine), and len_ratio_e4 =
    * min(1, |c|/|r|) ×10⁴ (the brevity-penalty argument — BP's exp is
    * transcendental, its argument is rational; exact beats sealed).
    * Top-20 pairs by gm2_e8.
    *
    * Both sides need ≥2 tokens (a bigram exists), enforced by inner-
    * joining the ≥2-token length frame on BOTH pair legs — identical
    * in the oracle.
    *
    * Shape: pairing is the doc-sized lead window; clip counts are
    * (doc,gram)-keyed equi-joins — the ROUGE plan with count payloads
    * instead of distinct sets. No cross products; at 100 TB the gram
    * frames are the same persisted inverted-index build. */
  def bleuPairs(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
    val toks = documents(spark, dir)
      .select(col("doc_id"), tokens.as("tk"))
      .filter(size(col("tk")) >= 2)
    val lens = toks.select(col("doc_id"),
      size(col("tk")).cast("long").as("len"))
    val pairs = documents(spark, dir)
      .select(col("source"), col("doc_id").as("a"),
        lead(col("doc_id"), 1).over(w).as("b"))
      .filter(col("b").isNotNull)
      .join(lens.select(col("doc_id").as("a"), col("len").as("len_c")),
        "a")
      .join(lens.select(col("doc_id").as("b"), col("len").as("len_r")),
        "b")
    val uni = toks
      .select(col("doc_id"), explode(col("tk")).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
    val big = toks
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(tk) - 2)," +
          " i -> concat(tk[i], ' ', tk[i + 1]))")).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
    def clip(grams: DataFrame, name: String): DataFrame = pairs
      .select(col("a"), col("b"))
      .join(grams.select(col("doc_id").as("a"), col("g"),
        col("c").as("ca")), "a")
      .join(grams.select(col("doc_id").as("b"), col("g"),
        col("c").as("cb")), Seq("b", "g"))
      .groupBy(col("a"), col("b"))
      .agg(sum(least(col("ca"), col("cb"))).as(name))
    pairs
      .join(clip(uni, "clip1"), Seq("a", "b"), "left")
      .join(clip(big, "clip2"), Seq("a", "b"), "left")
      .withColumn("clip1", coalesce(col("clip1"), lit(0L)))
      .withColumn("clip2", coalesce(col("clip2"), lit(0L)))
      .withColumn("p1_e4", expr("clip1 * 10000 div len_c"))
      .withColumn("p2_e4", expr("clip2 * 10000 div (len_c - 1)"))
      .withColumn("gm2_e8", expr("p1_e4 * p2_e4"))
      .withColumn("len_ratio_e4",
        expr("least(CAST(10000 AS BIGINT), len_c * 10000 div len_r)"))
      .select(col("a"), col("b"), col("len_c"), col("len_r"),
        col("p1_e4"), col("p2_e4"), col("gm2_e8"), col("len_ratio_e4"))
      .orderBy(col("gm2_e8").desc, col("a"))
      .limit(20)
  }

  /** Rank-biased overlap @10, p = 0.9: how much do two
    * enrolled doc rankers agree — the heuristic quality score
    * (LlmOps.qualityScore) vs the logreg probability
    * (ModelPrep.qualityLogreg)? RBO is THE top-weighted list-compare
    * metric (Webber et al. 2010): truncated here at depth 10,
    * RBO₁₀ = Σ_{d=1..10} (1−p)p^{d−1}·|A₁..d ∩ B₁..d|/d, so rank-1
    * disagreement costs ~26× rank-10 disagreement. Completes the eval
    * family: nDCG/MRR judge ONE ranking against relevance; RBO judges
    * two rankings against each other (the ranker-regression check).
    *
    * Exactness: the 10 weights (1−p)p^{d−1}/d are irrational-free but
    * non-terminating in e9 — each is rounded ONCE at authoring time as
    * the exact integer (9^{d−1}·10⁹) div (d·10^d), the same literal
    * array in both engines (the DCG-weight discipline above). Output
    * per depth: both rank-d docs, prefix overlap, weighted term, and
    * the running RBO — the full agreement curve, not just the scalar.
    *
    * Shape (100 TB): both top-10s come from orderBy(...).limit(10) —
    * Spark plans TakeOrderedAndProject (per-partition heaps + driver
    * merge of 10-row frames), NEVER a global sort; everything after
    * runs on ≤10-row frames. */
  def rbo(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ra = LlmOps.qualityScore(spark, dir)
      .select(col("doc_id"), col("quality"))
      .orderBy(col("quality").desc, col("doc_id")).limit(10)
      .withColumn("r", row_number().over(
        Window.orderBy(col("quality").desc, col("doc_id"))))
      .select(col("doc_id").as("a_doc"), col("r").as("ra"))
    val rb = ModelPrep.qualityLogreg(spark, dir)
      .select(col("doc_id"), col("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(10)
      .withColumn("r", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))))
      .select(col("doc_id").as("b_doc"), col("r").as("rb"))
    val m = ra.join(rb, col("a_doc") === col("b_doc"))
      .select(greatest(col("ra"), col("rb")).as("mr"))
    val weights = "array(100000000L, 45000000L, 27000000L, 18225000L," +
      " 13122000L, 9841500L, 7592014L, 5978711L, 4782969L, 3874204L)"
    spark.range(1, 11).select(col("id").as("depth"))
      .join(m, col("mr") <= col("depth"), "left")
      .groupBy(col("depth")).agg(count(col("mr")).as("ov"))
      .join(ra, col("ra") === col("depth"))
      .join(rb, col("rb") === col("depth"))
      .withColumn("term_e9",
        expr(s"ov * element_at($weights, CAST(depth AS INT))"))
      .withColumn("rbo_cum_e9",
        sum(col("term_e9")).over(Window.orderBy(col("depth"))))
      .select(col("depth"), col("a_doc"), col("b_doc"), col("ov"),
        col("term_e9"), col("rbo_cum_e9"))
      .orderBy(col("depth"))
  }

  /** Cohen's κ between two enrolled keep-judges: the logreg
    * gate (score ≥ 0.76) vs the fixed-weight heuristic gate
    * (quality ≥ 0.64) — thresholds authored at each judge's fixture
    * median so BOTH gates have variance (z ≥ 0 and quality ≥ 0.75 are
    * constant-1 on this corpus — measured; a constant judge makes κ
    * degenerate 0/0). κ = (p_o − p_e)/(1 − p_e) computed EXACTLY by
    * clearing denominators: κ·10⁴ = (N(n11+n00) − Σ marginal products)
    * ·10⁴ div (N² − Σ marginal products) — signed trunc-div, parity-
    * verified. The observed κ ≈ 0 at sf0.1 is the finding: two
    * monotone scores of the same features can still disagree around
    * their medians almost at chance level.
    *
    * Shape (100 TB): two doc-sized score scans → one equi-join → a
    * 1-row partial-aggregable census; the marginal products ride
    * DECIMAL(38,0) (N² blows BIGINT past ~3·10⁹ docs). */
  def judgeKappa(spark: SparkSession, dir: String): DataFrame = {
    val j1 = ModelPrep.qualityLogreg(spark, dir)
      .select(col("doc_id"),
        when(col("score") >= 0.76, 1L).otherwise(0L).as("j1"))
    val j2 = LlmOps.qualityScore(spark, dir)
      .select(col("doc_id"),
        when(col("quality") >= 0.64, 1L).otherwise(0L).as("j2"))
    j1.join(j2, "doc_id")
      .agg(count(lit(1)).as("n"),
        sum(col("j1") * col("j2")).as("n11"),
        sum(col("j1") * (lit(1L) - col("j2"))).as("n10"),
        sum((lit(1L) - col("j1")) * col("j2")).as("n01"),
        sum((lit(1L) - col("j1")) * (lit(1L) - col("j2"))).as("n00"))
      .select(col("n").as("n_docs"), col("n11"), col("n10"),
        col("n01"), col("n00"),
        expr("(n11 + n00) * 10000 div n").as("po_e4"),
        expr("""CAST((CAST(n AS DECIMAL(38,0)) * (n11 + n00)
          | - (CAST(n11 + n10 AS DECIMAL(38,0)) * (n11 + n01)
          |    + CAST(n01 + n00 AS DECIMAL(38,0)) * (n10 + n00)))
          | * 10000
          | div greatest(CAST(n AS DECIMAL(38,0)) * n
          | - (CAST(n11 + n10 AS DECIMAL(38,0)) * (n11 + n01)
          |    + CAST(n01 + n00 AS DECIMAL(38,0)) * (n10 + n00)), 1)
          | AS BIGINT)""".stripMargin).as("kappa_e4"))
  }

  /** Deterministic Poisson bootstrap CI: the error bar every
    * reported corpus metric needs — B = 100 resampled means of the
    * logreg score, percentile CI from the replicate order statistics
    * (rank 3 / rank 98 of 100 ≈ the 95% interval). Replicate weights
    * are Poisson(1) drawn WITHOUT randomness: the md5-h60 residue of
    * (doc_id, b) mod 1000 against the authored cumulative thresholds
    * 368/736/920/981/996 (e³-rounded e⁻¹/k! CDF) — the split_assign
    * hash-salt discipline, so both engines draw the identical sample.
    *
    * Shape (100 TB): the ×B fan-out is a map-side generator (explode
    * of a literal sequence — no shuffle); each replicate mean is a
    * partial-aggregable (Σ k·s, Σ k) pair over B groups; the order
    * statistics run on the B-row frame. Poisson bootstrap is THE
    * distributed-bootstrap formulation (no global resample pass). */
  def bootstrapCi(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sc1 = ModelPrep.qualityLogreg(spark, dir)
      .select(col("doc_id"),
        expr("CAST(floor(score * 10000 + 0.5) AS BIGINT)").as("s_e4"))
    val means = sc1
      .withColumn("b", explode(expr("sequence(0, 99)")))
      .withColumn("r", expr(LlmOps.h60(
        "concat(CAST(doc_id AS STRING), ':', CAST(b AS STRING))")
        + " % 1000"))
      .withColumn("k", expr("""CASE WHEN r < 368 THEN 0
        |WHEN r < 736 THEN 1 WHEN r < 920 THEN 2 WHEN r < 981 THEN 3
        |WHEN r < 996 THEN 4 ELSE 5 END""".stripMargin))
      .groupBy(col("b"))
      .agg(expr("sum(k * s_e4) div greatest(sum(k), 1)").as("mean_e4"))
    val ranked = means.withColumn("rn",
      row_number().over(Window.orderBy(col("mean_e4"), col("b"))))
    val fm = sc1.agg(count(lit(1)).as("n_docs"),
      expr("sum(s_e4) div count(1)").as("mean_full_e4"))
    ranked
      .agg(max(when(col("rn") === 3, col("mean_e4"))).as("ci_lo_e4"),
        max(when(col("rn") === 98, col("mean_e4"))).as("ci_hi_e4"))
      .crossJoin(broadcast(fm))
      .select(col("n_docs"), lit(100L).as("b_reps"),
        col("mean_full_e4"), col("ci_lo_e4"), col("ci_hi_e4"))
  }

  /** Metric stability curve: how big a sample does the
    * corpus metric need? The mean logreg score over NESTED
    * deterministic samples — the n ∈ {50,100,200,400} lowest
    * md5-h60 doc hashes (each arm a superset of the last, so the
    * curve shows pure sample-size effect, not sample-identity noise)
    * — against the full-corpus mean. The eval-ops companion to
    * q_llm_bootstrap_ci: the CI says how uncertain the mean is, this
    * says when a cheap subsample would have sufficed.
    *
    * Shape (100 TB): each arm is orderBy(hash).limit(n) —
    * TakeOrderedAndProject (per-partition heaps, no global sort), so
    * the four arms cost four bounded top-k passes; n_used is emitted
    * so a corpus smaller than an arm is visible, not silent. */
  def metricStability(spark: SparkSession, dir: String): DataFrame = {
    val sc1 = ModelPrep.qualityLogreg(spark, dir)
      .select(col("doc_id"),
        expr("CAST(floor(score * 10000 + 0.5) AS BIGINT)").as("s_e4"))
      .withColumn("h", expr(LlmOps.h60("CAST(doc_id AS STRING)")))
    val fm = sc1.agg(expr("sum(s_e4) div count(1)").as("full_mean_e4"))
    Seq(50, 100, 200, 400).map { n =>
      sc1.orderBy(col("h"), col("doc_id")).limit(n)
        .agg(count(lit(1)).as("n_used"),
          expr("sum(s_e4) div count(1)").as("mean_e4"))
        .select(lit(n.toLong).as("n"), col("n_used"), col("mean_e4"))
    }.reduce(_ unionAll _)
      .crossJoin(broadcast(fm))
      .select(col("n"), col("n_used"), col("mean_e4"),
        col("full_mean_e4"),
        (col("mean_e4") - col("full_mean_e4")).as("delta_e4"))
      .orderBy(col("n"))
  }

  /** Feature-separation audit of the keep-gate: which of
    * the three quality features actually separates kept from dropped
    * docs at the enrolled operating point (score ≥ 0.76, judgeKappa's
    * j1)? Per feature: class means and the squared Cohen's d —
    * d² = diff²/pooled_var — as e4, sqrt-free. The fixture finding
    * mirrors the length-bias audit from the other side: TTR separates
    * best (d² ≈ 3.6) and length is ANTI-correlated with keep
    * (mean_keep < mean_drop) — the logreg's positive length weight is
    * overwhelmed by TTR decay on long docs.
    *
    * Exactness: features pre-rounded to e4 (the r4 grid both engines
    * share), floored class means, exact central m2s, pooled variance
    * = (m2_k + m2_d) div (n − 2); diff²·10⁴ ≤ 10¹² regardless of
    * corpus size (e4-bounded features), so no DECIMAL lane needed —
    * a documented exception to the squared-moment rule.
    *
    * Shape: doc-sized feature+class frame → long-form 3× explode →
    * two grouped passes (means, then moments) → 3-row fold. */
  def featureSeparation(spark: SparkSession, dir: String): DataFrame = {
    val ft = documents(spark, dir)
      .withColumn("tk", tokens)
      .select(col("doc_id"),
        expr("CAST(floor((1.0 * size(array_distinct(tk)) / size(tk))" +
          " * 10000 + 0.5) AS BIGINT)").as("ttr_e4"),
        expr(s"""CAST(floor((1.0 * size(filter(tk, t -> t IN
          |$stopwordsSql)) / size(tk))
          |* 10000 + 0.5) AS BIGINT)""".stripMargin).as("stop_e4"),
        expr("CAST(floor(least(size(tk) / 100.0, 1.0) * 10000 + 0.5)" +
          " AS BIGINT)").as("len_e4"))
    val cls = ft.join(ModelPrep.qualityLogreg(spark, dir)
        .select(col("doc_id"),
          when(col("score") >= 0.76, 1L).otherwise(0L).as("k")),
      "doc_id")
    val lng = cls.select(lit("len_norm").as("feature"), col("k"),
        col("len_e4").as("v"))
      .unionAll(cls.select(lit("stop_ratio").as("feature"), col("k"),
        col("stop_e4").as("v")))
      .unionAll(cls.select(lit("ttr").as("feature"), col("k"),
        col("ttr_e4").as("v")))
    val mu = lng.groupBy(col("feature"), col("k"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
      .withColumn("mu", expr("s div n"))
      .select(col("feature"), col("k"), col("n"), col("mu"))
    lng.join(broadcast(mu), Seq("feature", "k"))
      .withColumn("d", col("v") - col("mu"))
      .groupBy(col("feature"), col("k"))
      .agg(max(col("n")).as("n"), max(col("mu")).as("mu"),
        sum(col("d") * col("d")).as("m2"))
      .groupBy(col("feature"))
      .agg(max(when(col("k") === 1, col("n"))).as("n_keep"),
        max(when(col("k") === 0, col("n"))).as("n_drop"),
        max(when(col("k") === 1, col("mu"))).as("mean_keep_e4"),
        max(when(col("k") === 0, col("mu"))).as("mean_drop_e4"),
        expr("""(max(CASE WHEN k = 1 THEN m2 END)
          | + max(CASE WHEN k = 0 THEN m2 END))
          | div greatest(max(CASE WHEN k = 1 THEN n END)
          | + max(CASE WHEN k = 0 THEN n END) - 2, 1)""".stripMargin)
          .as("pooled_var"))
      .select(col("feature"), col("n_keep"), col("n_drop"),
        col("mean_keep_e4"), col("mean_drop_e4"),
        expr("""(mean_keep_e4 - mean_drop_e4)
          | * (mean_keep_e4 - mean_drop_e4) * 10000
          | div greatest(pooled_var, 1)""".stripMargin).as("d2_e4"))
      .orderBy(col("feature"))
  }

  /** Exact AUC by rank-sum: AUC of a scalar score against a
    * binary label WITHOUT ranking a single row — the support-census
    * idiom (dqKsTest/abUTest's family): group by distinct score
    * value, one ordered pass accumulates negatives below, and
    * 2U = Σ c1·(2·c0_below + c0) credits ties at ½ exactly in
    * integers; AUC·10⁴ = 2U·10⁴ div (2·n1·n0). Score = embedding
    * dim 0 (e4), label = parity — AUC ≈ 0.52, an honest
    * near-chance readout (dim 0 carries little parity signal; the
    * dim_probe row says which dims carry more). The machinery is the
    * row: exact distributed AUC at any scale, no sort of the corpus.
    *
    * Shape: one groupBy on score support → one support-sized window
    * pass → 1-row fold. */
  def aucRankSum(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = embeddings(spark, dir)
      .select(expr("CAST(floor(element_at(embedding, 1) * 10000 + 0.5)" +
        " AS BIGINT)").as("sc"),
        (col("label") % 2).cast("long").as("y"))
    val n = s.agg(sum(col("y")).as("n1"),
      sum(lit(1L) - col("y")).as("n0"))
    val sup = s.groupBy(col("sc"))
      .agg(count(lit(1)).as("c"), sum(col("y")).as("c1"),
        sum(lit(1L) - col("y")).as("c0"))
    val u = sup
      .withColumn("c0_below", coalesce(sum(col("c0")).over(
        Window.orderBy(col("sc"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .agg(sum(col("c1") * (lit(2L) * col("c0_below") + col("c0")))
        .as("u2"))
    u.crossJoin(broadcast(n))
      .select(col("n1"), col("n0"), col("u2"),
        expr("u2 * 10000 div (2 * n1 * n0)").as("auc_e4"))
  }

  /** Precision@k / recall@k curve of the BM25 ranking (J51) at
    * k ∈ {1, 3, 5, 10} — the two numbers every retrieval dashboard
    * plots beside nDCG/MRR, composed from the SAME bm25Scored and
    * relevance frames (the family rule: metrics cannot drift from
    * the ranking). Binary relevance is rel ≥ 2 (doc contains at
    * least two of the three query terms): rel ≥ 1 would make every
    * SCORED doc relevant by construction (a BM25 match IS a term
    * match) and precision identically 1 — the stricter cut keeps the
    * metric informative, and is mirrored in the oracle.
    *
    * Scale shape: ranked side = the BM25 TakeOrderedAndProject top-10
    * (no global sort); the k-fold is a 4-row broadcast against 10
    * rows; n_rel is one partial-aggregable count. Everything after
    * the top-k cap is driver-trivial by construction. */
  def prAtK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rel = relevance(spark, dir).filter(col("rel") >= 2)
      .select(col("doc_id"), lit(1L).as("is_rel"))
    val nRel = rel.agg(count(lit(1)).as("n_rel"))
    val top10 = LlmOps.bm25Scored(spark, dir)
      .orderBy(col("bm25").desc, col("doc_id")).limit(10)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("bm25").desc, col("doc_id"))))
      .join(rel, Seq("doc_id"), "left")
      .withColumn("is_rel", coalesce(col("is_rel"), lit(0L)))
    val ks = Seq(1L, 3L, 5L, 10L).toDF("k")
    top10.crossJoin(broadcast(ks))
      .filter(col("rn") <= col("k"))
      .groupBy(col("k"))
      .agg(sum(col("is_rel")).as("hits"))
      .crossJoin(broadcast(nRel))
      .select(col("k"), col("hits"),
        expr("hits * 10000 div k").as("precision_e4"),
        expr("hits * 10000 div greatest(n_rel, 1)").as("recall_e4"),
        col("n_rel"))
      .orderBy(col("k"))
  }

  /** Expected Reciprocal Rank of the BM25 top-10 (J53) — the cascade
    * eval metric (Chapelle et al.): the user scans ranks in order and
    * stops at rank r with probability R_r·Π_{i<r}(1−R_i),
    * R = (2^g − 1)/2^gmax with graded g ∈ 0..3 ⇒ R ∈ {0,⅛,⅜,⅞}.
    * All stop probabilities are EIGHTHS, so the whole cascade is
    * exact rational: a = 2^g − 1 (gain numerator), continue factor
    * 8 − a, prefix product P = Π(8 − a_i) ≤ 8⁹, and the rank-r term
    * is a·P·10⁶ div (8^r · r) — one truncation per rank, 8^r via
    * exact shiftleft. Emitted per rank with the running ERR so the
    * whole cascade is hash-auditable, not just the final scalar.
    *
    * The prefix product is a ≤9-element collect_list over the 10-row
    * ranked frame folded with a BIGINT `aggregate` lambda (DuckDB:
    * list + list_aggregate 'product' — float-typed but exact below
    * 2⁵³, cast back to BIGINT). The single-partition window touches
    * exactly 10 rows (the nDCG discipline).
    *
    * Scale shape: everything corpus-sized is the BM25
    * TakeOrderedAndProject; the cascade itself is constant work. */
  def errCascade(spark: SparkSession, dir: String): DataFrame = {
    val rel = relevance(spark, dir)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("bm25").desc, col("doc_id"))
    val ranked = LlmOps.bm25Scored(spark, dir)
      .orderBy(col("bm25").desc, col("doc_id")).limit(10)
      .withColumn("rn", row_number().over(w))
      .join(rel, Seq("doc_id"), "left")
      .withColumn("g", coalesce(col("rel"), lit(0L)))
      .withColumn("a", expr("shiftleft(1L, CAST(g AS INT)) - 1"))
    val prefixW = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    ranked
      .withColumn("prefix", collect_list(expr("8L - a")).over(prefixW))
      .withColumn("p_num", expr("aggregate(prefix, 1L, " +
        "(acc, x) -> acc * x)"))
      .select(col("rn").cast("long").as("rank"), col("doc_id"),
        col("g").as("gain"), col("p_num"),
        expr("a * p_num * 1000000 div" +
          " (shiftleft(1L, CAST(3 * rn AS INT)) * rn)").as("term_e6"))
      .withColumn("err_cum_e6", sum(col("term_e6")).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("rank"))))
      .orderBy(col("rank"))
  }

  /** Mean Average Precision@10 (J75): per query term, AP@10
    * of the combined BM25 top-10 — Σ over relevant ranks r of
    * (hits-so-far@r / r), normalized by min(n_rel, 10) — plus the MAP
    * summary row (the leaderboard scalar). Relevance for term q is
    * tf(q) ≥ 4 — TOPICALITY, not mere containment (containment makes
    * every top-10 doc relevant on this corpus and AP degenerates to
    * 1.0 on all arms; measured at enrollment, threshold identical in
    * the oracle). The ranking is the SHARED combined-BM25 top-10, so
    * per-term AP exposes which query term the fused ranking actually
    * serves — the retrieval-eval companion nDCG (graded) and P/R@k
    * (set) don't give.
    *
    * Empty-arm parity (the mrl lesson, applied from the start): a
    * term with zero top-10 hits still emits its row — the Spark arm
    * is a global agg over a filtered frame (always 1 row, coalesce 0)
    * and the oracle LEFT JOINs a VALUES term list.
    *
    * Exactness: per-rank precision is one e6 truncating div, summed
    * exact, one final div by min(n_rel, 10). Shape: top-10 is
    * TakeOrderedAndProject over the shared bm25Scored checkpoint; the
    * cum-hits window touches exactly 10 rows (the nDCG discipline);
    * corpus n_rel is one partial-aggregable fold. */
  def mapAt10(spark: SparkSession, dir: String): DataFrame = {
    val Seq(t1, t2, t3) = LlmOps.bm25Terms
    // topicality flags off the memoized bm25-perdoc frame: no per-row
    // corpus tokenize
    val flags = LlmOps.bm25PerDoc(spark, dir)
      .select(col("doc_id"),
        when(col("tf1") >= 4, 1L).otherwise(0L).as("r1"),
        when(col("tf2") >= 4, 1L).otherwise(0L).as("r2"),
        when(col("tf3") >= 4, 1L).otherwise(0L).as("r3"))
    val nrel = flags.agg(sum(col("r1")).as("n1"),
      sum(col("r2")).as("n2"), sum(col("r3")).as("n3"))
    val top10 = LlmOps.bm25Scored(spark, dir)
      .orderBy(col("bm25").desc, col("doc_id")).limit(10)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("bm25").desc, col("doc_id"))).cast("long"))
      .join(flags, Seq("doc_id"), "left")
      .na.fill(0L, Seq("r1", "r2", "r3"))
      .localCheckpoint() // 10 rows; feeds three arms + the summary
    def arm(q: String, c: String, n: String): DataFrame =
      top10
        .withColumn("cum", sum(col(c)).over(
          org.apache.spark.sql.expressions.Window.orderBy(col("rn"))))
        .filter(col(c) === 1L)
        .agg(coalesce(sum(expr("cum * 1000000 div rn")), lit(0L))
          .as("sum_prec_e6"), count(lit(1)).as("n_hits10"))
        .crossJoin(broadcast(nrel))
        .select(lit(q).as("query"), col("n_hits10"),
          col(n).as("n_rel"),
          expr(s"sum_prec_e6 div greatest(least($n, 10), 1)")
            .as("ap_e6"))
    val per = arm(t1, "r1", "n1").unionAll(arm(t2, "r2", "n2"))
      .unionAll(arm(t3, "r3", "n3")).localCheckpoint()
    per.unionAll(per.agg(sum(col("n_hits10")).as("n_hits10"),
        sum(col("n_rel")).as("n_rel"),
        expr("sum(ap_e6) div 3").as("ap_e6"))
      .select(lit("zzz_map").as("query"), col("n_hits10"),
        col("n_rel"), col("ap_e6")))
      .orderBy(col("query"))
  }

  /** Rank-biased precision (J89; Moffat & Zobel 2008): the
    * geometric-patience user model — the reader inspects rank k with
    * probability p^(k−1) and RBP = (1−p)·Σ rel_k·p^(k−1), here p = 0.8
    * over the shared BM25 top-10 with the pr_at_k binary relevance
    * (≥ 2 of the 3 query terms). Completes the user-model eval family:
    * P/R@k models a fixed-depth reader, ERR an adaptive stopper, RBP a
    * geometric browser — and unlike both, its truncation error is
    * BOUNDED a priori (the unseen tail is exactly p^10 of the mass),
    * which is why RBP reports carry an uncertainty band.
    *
    * Exactness: p = 0.8 makes every weight an exact rational —
    * (1−p)·p^(k−1)·10¹⁰ = 2·8^(k−1)·10^(10−k) EXACTLY (8^(k−1) via
    * shiftleft, 10^(10−k) exact through a double for k ≤ 10), so the
    * whole metric is BIGINT arithmetic with NO rounding anywhere;
    * Σ w_e10 + 8¹⁰ = 10¹⁰ (the geometric identity) is spec-pinned.
    *
    * Shape (100 TB): the only corpus-sized work is bm25Scored's own
    * TakeOrderedAndProject top-10; the per-rank emit is constant work
    * on 10 rows (the nDCG discipline). */
  def rbp(spark: SparkSession, dir: String): DataFrame = {
    val rel = relevance(spark, dir).filter(col("rel") >= 2)
      .select(col("doc_id"), lit(1L).as("is_rel"))
    LlmOps.bm25Scored(spark, dir)
      .orderBy(col("bm25").desc, col("doc_id")).limit(10)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("bm25").desc, col("doc_id"))).cast("long"))
      .join(rel, Seq("doc_id"), "left")
      .withColumn("is_rel", coalesce(col("is_rel"), lit(0L)))
      .withColumn("w_e10", expr(
        "2L * shiftleft(1L, CAST(3 * (rank - 1) AS INT))" +
          " * CAST(power(10, 10 - rank) AS BIGINT)"))
      .withColumn("term_e10", col("is_rel") * col("w_e10"))
      .withColumn("rbp_cum_e10", sum(col("term_e10")).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("rank"))))
      .select(col("rank"), col("doc_id"), col("is_rel"), col("w_e10"),
        col("term_e10"), col("rbp_cum_e10"))
      .orderBy(col("rank"))
  }

  /** Fleiss' kappa over the THREE enrolled keep-judges (J89, round
    * 11): the logreg gate (score ≥ 0.76), the heuristic quality gate
    * (≥ 0.64) — judge_kappa's pair — plus the Gopher rule composite as
    * the third rater. The multi-rater generalization Cohen's kappa
    * cannot express: with R raters there is no "the" contingency
    * table, so agreement is P̄ = mean over docs of the within-doc
    * rater-pair agreement, chance is P̄e = Σ_j p_j² over the pooled
    * category shares, κ = (P̄ − P̄e)/(1 − P̄e) (Fleiss 1971). The row
    * answers the curation-stack question pairwise kappa can't: do the
    * three production filters constitute ONE signal or three?
    *
    * Exactness: with R = 3 binary raters everything is integer — per
    * doc k keep-votes give pair-agreement (k² + (3−k)² − 3)/6, so
    * S = Σ(k² + (3−k)²) and T = Σk close the algebra:
    * P̄ = (S−3N)/(6N), P̄e = (T² + (3N−T)²)/(9N²), and
    * κ·18N² = 3N(S−3N) − 2(T² + (3N−T)²) over 2(9N² − T² − (3N−T)²).
    * κ can be NEGATIVE (worse than chance — exactly what near-chance
    * judge_kappa suggests), so the final division rides the shift
    * idiom; products ride the DECIMAL(38,0)/HUGEINT overflow lane
    * (N ≈ 10¹² makes 9N² ≈ 10²⁵ at corpus scale).
    *
    * Shape (100 TB): three doc-sized map-side projections → one
    * 3-way equi-join on doc_id (co-partitioned by AQE) → a single
    * partial-aggregable fold → 1-row algebra. */
  def fleissKappa(spark: SparkSession, dir: String): DataFrame = {
    val j1 = ModelPrep.qualityLogreg(spark, dir).select(col("doc_id"),
      when(col("score") >= 0.76, 1L).otherwise(0L).as("v1"))
    val j2 = LlmOps.qualityScore(spark, dir).select(col("doc_id"),
      when(col("quality") >= 0.64, 1L).otherwise(0L).as("v2"))
    val j3 = Curation.gopherRules(spark, dir).select(col("doc_id"),
      when(col("keep"), 1L).otherwise(0L).as("v3"))
    val den = """greatest(2 * (CAST(9 AS DECIMAL(38,0)) * n * n
      | - CAST(t AS DECIMAL(38,0)) * t
      | - CAST(3 * n - t AS DECIMAL(38,0)) * (3 * n - t)), 1)"""
      .stripMargin
    j1.join(j2, "doc_id").join(j3, "doc_id")
      .withColumn("k", col("v1") + col("v2") + col("v3"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("t"),
        sum(expr("k * k + (3 - k) * (3 - k)")).as("s"),
        sum(when(col("k") === 3, 1L).otherwise(0L)).as("u3"),
        sum(when(col("k") === 0, 1L).otherwise(0L)).as("u0"))
      .select(col("n").as("n_docs"), col("t").as("keep_votes"),
        col("u3").as("n_unanimous_keep"),
        col("u0").as("n_unanimous_drop"),
        (col("n") - col("u3") - col("u0")).as("n_split"),
        expr("(s - 3 * n) * 10000 div (6 * n)").as("pbar_e4"),
        expr("""CAST((CAST(t AS DECIMAL(38,0)) * t
          | + CAST(3 * n - t AS DECIMAL(38,0)) * (3 * n - t)) * 10000
          | div (CAST(9 AS DECIMAL(38,0)) * n * n) AS BIGINT)"""
          .stripMargin).as("pe_e4"),
        expr(s"""CAST(((CAST(3 AS DECIMAL(38,0)) * n * (s - 3 * n)
          | - 2 * (CAST(t AS DECIMAL(38,0)) * t
          |   + CAST(3 * n - t AS DECIMAL(38,0)) * (3 * n - t)))
          |  * 10000 + 100000000 * $den)
          | div $den - 100000000 AS BIGINT)""".stripMargin)
          .as("fleiss_e4"))
  }

  /** Dawid–Skene one-EM-step label aggregation (J93): where
    * q_llm_fleiss_kappa MEASURES how much the three keep-judges agree,
    * this row does what a labeling pipeline actually needs — ESTIMATE
    * the true label and each judge's reliability (Dawid & Skene 1979,
    * the crowdsourcing-aggregation standard). Majority init → M-step
    * (per-judge sensitivity/specificity + prevalence on the e4 grid)
    * → one E-step (posterior by exact products of the rounded rates,
    * cross-compared — no division) → per-judge reliability rows plus
    * the count of docs the posterior FLIPS away from majority vote
    * (the docs where the reliable judges outvote the noisy one).
    *
    * Exactness: rates carry one truncating div each; posteriors are
    * exact BIGINT products of e4-grid factors (≤ 10¹⁶ at ANY corpus
    * scale — the grid bounds the product, not the corpus); ties break
    * to the negative class.
    *
    * Shape (100 TB): with 3 binary judges there are only 8 vote
    * PATTERNS — one doc-sized 3-way join → an 8-row pattern census →
    * everything after is constant work (the EM never rescans docs). */
  def dawidSkene(spark: SparkSession, dir: String): DataFrame = {
    val j1 = ModelPrep.qualityLogreg(spark, dir).select(col("doc_id"),
      when(col("score") >= 0.76, 1L).otherwise(0L).as("v1"))
    val j2 = LlmOps.qualityScore(spark, dir).select(col("doc_id"),
      when(col("quality") >= 0.64, 1L).otherwise(0L).as("v2"))
    val j3 = Curation.gopherRules(spark, dir).select(col("doc_id"),
      when(col("keep"), 1L).otherwise(0L).as("v3"))
    val pat = j1.join(j2, "doc_id").join(j3, "doc_id")
      .groupBy(col("v1"), col("v2"), col("v3"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint() // <= 8 rows; feeds stats + the E-step
    val maj = col("v1") + col("v2") + col("v3") >= 2
    val stats = pat.agg(sum(col("c")).as("n"),
      sum(when(maj, col("c")).otherwise(0L)).as("n1"),
      sum(when(maj && col("v1") === 1, col("c")).otherwise(0L)).as("a1"),
      sum(when(maj && col("v2") === 1, col("c")).otherwise(0L)).as("a2"),
      sum(when(maj && col("v3") === 1, col("c")).otherwise(0L)).as("a3"),
      sum(when(!maj && col("v1") === 0, col("c")).otherwise(0L)).as("d1"),
      sum(when(!maj && col("v2") === 0, col("c")).otherwise(0L)).as("d2"),
      sum(when(!maj && col("v3") === 0, col("c")).otherwise(0L)).as("d3"))
    val rates = stats.select(col("n"), col("n1"),
      expr("n1 * 10000 div n").as("pi1"),
      expr("a1 * 10000 div greatest(n1, 1)").as("se1"),
      expr("a2 * 10000 div greatest(n1, 1)").as("se2"),
      expr("a3 * 10000 div greatest(n1, 1)").as("se3"),
      expr("d1 * 10000 div greatest(n - n1, 1)").as("sp1"),
      expr("d2 * 10000 div greatest(n - n1, 1)").as("sp2"),
      expr("d3 * 10000 div greatest(n - n1, 1)").as("sp3"))
      .localCheckpoint() // 1 row
    val flips = pat.crossJoin(broadcast(rates))
      .withColumn("p1", expr("pi1" +
        " * IF(v1 = 1, se1, 10000 - se1)" +
        " * IF(v2 = 1, se2, 10000 - se2)" +
        " * IF(v3 = 1, se3, 10000 - se3)"))
      .withColumn("p0", expr("(10000 - pi1)" +
        " * IF(v1 = 1, 10000 - sp1, sp1)" +
        " * IF(v2 = 1, 10000 - sp2, sp2)" +
        " * IF(v3 = 1, 10000 - sp3, sp3)"))
      .agg(coalesce(sum(when(
        (col("p1") > col("p0")) =!= (col("v1") + col("v2") +
          col("v3") >= 2), col("c")).otherwise(0L)), lit(0L))
        .as("n_flips"))
    def judgeRow(name: String, se: String, sp: String): DataFrame =
      rates.crossJoin(broadcast(flips))
        .select(lit(name).as("judge"), col("n").as("n_docs"),
          col("n1").as("n_maj_keep"), col("pi1").as("pi1_e4"),
          col(se).as("sens_e4"), col(sp).as("spec_e4"),
          col("n_flips"))
    judgeRow("gopher", "se3", "sp3")
      .unionAll(judgeRow("logreg", "se1", "sp1"))
      .unionAll(judgeRow("quality", "se2", "sp2"))
      .orderBy(col("judge"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_llm_dawid_skene" -> dawidSkene,
    "q_llm_map" -> mapAt10,
    "q_llm_err" -> errCascade,
    "q_llm_pr_at_k" -> prAtK,
    "q_llm_auc" -> aucRankSum,
    "q_llm_feature_separation" -> featureSeparation,
    "q_llm_metric_stability" -> metricStability,
    "q_llm_judge_kappa" -> judgeKappa,
    "q_llm_bootstrap_ci" -> bootstrapCi,
    "q_llm_rbo" -> rbo,
    "q_llm_bleu" -> bleuPairs,
    "q_llm_hard_negatives" -> hardNegatives,
    "q_llm_rouge_bigram" -> rougeBigram,
    "q_llm_ndcg" -> ndcgAt10,
    "q_llm_mrr" -> mrr,
    "q_llm_rbp" -> rbp,
    "q_llm_fleiss_kappa" -> fleissKappa,
  )

  val oracle: Map[String, String] = Map(
    "q_llm_dawid_skene" -> {
      s"""WITH ${ModelPrep.scoreCte},
         |qa AS (SELECT doc_id,
         |   floor((0.4 * (1.0 * len(list_distinct(tk)) / len(tk))
         |     + 0.3 * (1 - 1.0 * len([t for t in tk
         |         if t IN ('the','a','of','and','to','in','is')])
         |         / len(tk))
         |     + 0.3 * least(len(tk) / 100.0, 1.0)) * 10000.0 + 0.5)
         |   / 10000.0 AS quality
         |  FROM (SELECT doc_id, string_split(text, ' ') AS tk
         |        FROM documents) t),
         |gf AS (SELECT doc_id,
         |   CAST(len(gtk) AS BIGINT) AS g_nw,
         |   CAST(list_sum([length(t) for t in gtk]) AS BIGINT) AS g_sl,
         |   CAST(len([t for t in gtk
         |     if regexp_matches(t, '[A-Za-z]')]) AS BIGINT) AS g_na,
         |   CAST(len([t for t in gtk
         |     if t IN ('the','a','of','and','to','in','is')])
         |     AS BIGINT) AS g_ns
         |  FROM (SELECT doc_id, string_split(text, ' ') AS gtk
         |        FROM documents) g),
         |jv AS (SELECT sc0.doc_id,
         |   CAST(CASE WHEN sc0.score >= 0.76 THEN 1 ELSE 0 END
         |     AS BIGINT) AS v1,
         |   CAST(CASE WHEN qa.quality >= 0.64 THEN 1 ELSE 0 END
         |     AS BIGINT) AS v2,
         |   CAST(CASE WHEN gf.g_nw >= 5 AND gf.g_nw <= 10000
         |       AND gf.g_sl >= 3 * gf.g_nw AND gf.g_sl <= 10 * gf.g_nw
         |       AND 5 * gf.g_na >= 4 * gf.g_nw AND gf.g_ns >= 2
         |      THEN 1 ELSE 0 END AS BIGINT) AS v3
         |  FROM sc0 JOIN qa ON qa.doc_id = sc0.doc_id
         |   JOIN gf ON gf.doc_id = sc0.doc_id),
         |pat AS (SELECT v1, v2, v3, CAST(count(*) AS BIGINT) AS c
         |  FROM jv GROUP BY 1, 2, 3),
         |st AS (SELECT CAST(sum(c) AS BIGINT) AS n,
         |  CAST(sum(CASE WHEN v1 + v2 + v3 >= 2 THEN c ELSE 0 END)
         |    AS BIGINT) AS n1,
         |  CAST(sum(CASE WHEN v1 + v2 + v3 >= 2 AND v1 = 1 THEN c
         |    ELSE 0 END) AS BIGINT) AS a1,
         |  CAST(sum(CASE WHEN v1 + v2 + v3 >= 2 AND v2 = 1 THEN c
         |    ELSE 0 END) AS BIGINT) AS a2,
         |  CAST(sum(CASE WHEN v1 + v2 + v3 >= 2 AND v3 = 1 THEN c
         |    ELSE 0 END) AS BIGINT) AS a3,
         |  CAST(sum(CASE WHEN v1 + v2 + v3 < 2 AND v1 = 0 THEN c
         |    ELSE 0 END) AS BIGINT) AS d1,
         |  CAST(sum(CASE WHEN v1 + v2 + v3 < 2 AND v2 = 0 THEN c
         |    ELSE 0 END) AS BIGINT) AS d2,
         |  CAST(sum(CASE WHEN v1 + v2 + v3 < 2 AND v3 = 0 THEN c
         |    ELSE 0 END) AS BIGINT) AS d3
         | FROM pat),
         |rt AS (SELECT n, n1,
         |  CAST(n1 * 10000 // n AS BIGINT) AS pi1,
         |  CAST(a1 * 10000 // greatest(n1, 1) AS BIGINT) AS se1,
         |  CAST(a2 * 10000 // greatest(n1, 1) AS BIGINT) AS se2,
         |  CAST(a3 * 10000 // greatest(n1, 1) AS BIGINT) AS se3,
         |  CAST(d1 * 10000 // greatest(n - n1, 1) AS BIGINT) AS sp1,
         |  CAST(d2 * 10000 // greatest(n - n1, 1) AS BIGINT) AS sp2,
         |  CAST(d3 * 10000 // greatest(n - n1, 1) AS BIGINT) AS sp3
         | FROM st),
         |fl AS (SELECT CAST(coalesce(sum(CASE WHEN
         |   (rt.pi1
         |     * (CASE WHEN v1 = 1 THEN rt.se1 ELSE 10000 - rt.se1 END)
         |     * (CASE WHEN v2 = 1 THEN rt.se2 ELSE 10000 - rt.se2 END)
         |     * (CASE WHEN v3 = 1 THEN rt.se3 ELSE 10000 - rt.se3 END)
         |    > (10000 - rt.pi1)
         |     * (CASE WHEN v1 = 1 THEN 10000 - rt.sp1 ELSE rt.sp1 END)
         |     * (CASE WHEN v2 = 1 THEN 10000 - rt.sp2 ELSE rt.sp2 END)
         |     * (CASE WHEN v3 = 1 THEN 10000 - rt.sp3 ELSE rt.sp3 END))
         |   <> (v1 + v2 + v3 >= 2) THEN c ELSE 0 END), 0) AS BIGINT)
         |   AS n_flips
         |  FROM pat CROSS JOIN rt)
         |SELECT 'gopher' AS judge, n AS n_docs, n1 AS n_maj_keep,
         |  pi1 AS pi1_e4, se3 AS sens_e4, sp3 AS spec_e4, fl.n_flips
         |FROM rt CROSS JOIN fl
         |UNION ALL
         |SELECT 'logreg', n, n1, pi1, se1, sp1, fl.n_flips
         |FROM rt CROSS JOIN fl
         |UNION ALL
         |SELECT 'quality', n, n1, pi1, se2, sp2, fl.n_flips
         |FROM rt CROSS JOIN fl
         |ORDER BY judge""".stripMargin
    },
    "q_llm_rbp" ->
      s"""WITH ${LlmOps.bm25Ctes},
        |ranked AS (SELECT doc_id,
        |   row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rn
        |  FROM bmsc),
        |rel AS (SELECT doc_id FROM (
        |   SELECT doc_id,
        |     max(CASE WHEN tok = '${LlmOps.bm25Terms(0)}' THEN 1
        |       ELSE 0 END) +
        |     max(CASE WHEN tok = '${LlmOps.bm25Terms(1)}' THEN 1
        |       ELSE 0 END) +
        |     max(CASE WHEN tok = '${LlmOps.bm25Terms(2)}' THEN 1
        |       ELSE 0 END) AS g
        |   FROM toks GROUP BY doc_id) WHERE g >= 2),
        |t AS (SELECT rn, ranked.doc_id,
        |   CASE WHEN rel.doc_id IS NOT NULL THEN CAST(1 AS BIGINT)
        |     ELSE CAST(0 AS BIGINT) END AS is_rel
        |  FROM ranked LEFT JOIN rel USING (doc_id) WHERE rn <= 10),
        |w AS (SELECT rn, doc_id, is_rel,
        |   2 * (CAST(1 AS BIGINT) << CAST(3 * (rn - 1) AS INTEGER))
        |     * CAST(power(10, 10 - rn) AS BIGINT) AS w_e10 FROM t)
        |SELECT CAST(rn AS BIGINT) AS rank, doc_id, is_rel, w_e10,
        |  CAST(is_rel * w_e10 AS BIGINT) AS term_e10,
        |  CAST(sum(is_rel * w_e10) OVER (ORDER BY rn) AS BIGINT)
        |    AS rbp_cum_e10
        |FROM w ORDER BY rank""".stripMargin,
    "q_llm_fleiss_kappa" -> {
      s"""WITH ${ModelPrep.scoreCte},
         |qa AS (SELECT doc_id,
         |   floor((0.4 * (1.0 * len(list_distinct(tk)) / len(tk))
         |     + 0.3 * (1 - 1.0 * len([t for t in tk
         |         if t IN ('the','a','of','and','to','in','is')])
         |         / len(tk))
         |     + 0.3 * least(len(tk) / 100.0, 1.0)) * 10000.0 + 0.5)
         |   / 10000.0 AS quality
         |  FROM (SELECT doc_id, string_split(text, ' ') AS tk
         |        FROM documents) t),
         |gf AS (SELECT doc_id,
         |   CAST(len(gtk) AS BIGINT) AS g_nw,
         |   CAST(list_sum([length(t) for t in gtk]) AS BIGINT) AS g_sl,
         |   CAST(len([t for t in gtk
         |     if regexp_matches(t, '[A-Za-z]')]) AS BIGINT) AS g_na,
         |   CAST(len([t for t in gtk
         |     if t IN ('the','a','of','and','to','in','is')])
         |     AS BIGINT) AS g_ns
         |  FROM (SELECT doc_id, string_split(text, ' ') AS gtk
         |        FROM documents) g),
         |j AS (SELECT sc0.doc_id,
         |   (CASE WHEN sc0.score >= 0.76 THEN 1 ELSE 0 END)
         |   + (CASE WHEN qa.quality >= 0.64 THEN 1 ELSE 0 END)
         |   + (CASE WHEN gf.g_nw >= 5 AND gf.g_nw <= 10000
         |       AND gf.g_sl >= 3 * gf.g_nw AND gf.g_sl <= 10 * gf.g_nw
         |       AND 5 * gf.g_na >= 4 * gf.g_nw AND gf.g_ns >= 2
         |      THEN 1 ELSE 0 END) AS k
         |  FROM sc0 JOIN qa ON qa.doc_id = sc0.doc_id
         |   JOIN gf ON gf.doc_id = sc0.doc_id),
         |c AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(k) AS BIGINT) AS t,
         |  CAST(sum(k * k + (3 - k) * (3 - k)) AS BIGINT) AS s,
         |  CAST(sum(CASE WHEN k = 3 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS u3,
         |  CAST(sum(CASE WHEN k = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS u0
         | FROM j)
         |SELECT n AS n_docs, t AS keep_votes,
         |  u3 AS n_unanimous_keep, u0 AS n_unanimous_drop,
         |  n - u3 - u0 AS n_split,
         |  CAST((s - 3 * n) * 10000 // (6 * n) AS BIGINT) AS pbar_e4,
         |  CAST((CAST(t AS HUGEINT) * t
         |    + CAST(3 * n - t AS HUGEINT) * (3 * n - t)) * 10000
         |    // (CAST(9 AS HUGEINT) * n * n) AS BIGINT) AS pe_e4,
         |  CAST(((CAST(3 AS HUGEINT) * n * (s - 3 * n)
         |    - 2 * (CAST(t AS HUGEINT) * t
         |      + CAST(3 * n - t AS HUGEINT) * (3 * n - t)))
         |   * 10000 + 100000000
         |     * greatest(2 * (CAST(9 AS HUGEINT) * n * n
         |       - CAST(t AS HUGEINT) * t
         |       - CAST(3 * n - t AS HUGEINT) * (3 * n - t)), 1))
         |  // greatest(2 * (CAST(9 AS HUGEINT) * n * n
         |       - CAST(t AS HUGEINT) * t
         |       - CAST(3 * n - t AS HUGEINT) * (3 * n - t)), 1)
         |  - 100000000 AS BIGINT) AS fleiss_e4
         |FROM c""".stripMargin
    },
    "q_llm_map" ->
      s"""WITH ${LlmOps.bm25Ctes},
        |ranked AS (SELECT doc_id,
        |   row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rn
        |  FROM bmsc),
        |fl AS (SELECT doc_id,
        |   CASE WHEN tf1 >= 4 THEN 1 ELSE 0 END AS r1,
        |   CASE WHEN tf2 >= 4 THEN 1 ELSE 0 END AS r2,
        |   CASE WHEN tf3 >= 4 THEN 1 ELSE 0 END AS r3
        |  FROM perdoc),
        |nr AS (SELECT CAST(sum(r1) AS BIGINT) AS n1,
        |   CAST(sum(r2) AS BIGINT) AS n2,
        |   CAST(sum(r3) AS BIGINT) AS n3 FROM fl),
        |t AS (SELECT rn, coalesce(r1, 0) AS r1, coalesce(r2, 0) AS r2,
        |   coalesce(r3, 0) AS r3
        |  FROM ranked LEFT JOIN fl USING (doc_id) WHERE rn <= 10),
        |c AS (SELECT rn, r1, r2, r3,
        |   sum(r1) OVER (ORDER BY rn) AS c1,
        |   sum(r2) OVER (ORDER BY rn) AS c2,
        |   sum(r3) OVER (ORDER BY rn) AS c3 FROM t),
        |a1 AS (SELECT CAST(coalesce(sum(CASE WHEN r1 = 1
        |     THEN (c1 * 1000000) // rn END), 0) AS BIGINT) AS sp,
        |   CAST(count(CASE WHEN r1 = 1 THEN 1 END) AS BIGINT) AS h
        |  FROM c),
        |a2 AS (SELECT CAST(coalesce(sum(CASE WHEN r2 = 1
        |     THEN (c2 * 1000000) // rn END), 0) AS BIGINT) AS sp,
        |   CAST(count(CASE WHEN r2 = 1 THEN 1 END) AS BIGINT) AS h
        |  FROM c),
        |a3 AS (SELECT CAST(coalesce(sum(CASE WHEN r3 = 1
        |     THEN (c3 * 1000000) // rn END), 0) AS BIGINT) AS sp,
        |   CAST(count(CASE WHEN r3 = 1 THEN 1 END) AS BIGINT) AS h
        |  FROM c),
        |per AS (
        | SELECT '${LlmOps.bm25Terms(0)}' AS query, a1.h AS n_hits10,
        |   nr.n1 AS n_rel, a1.sp // greatest(least(nr.n1, 10), 1) AS ap_e6
        |  FROM a1, nr
        | UNION ALL SELECT '${LlmOps.bm25Terms(1)}', a2.h, nr.n2,
        |   a2.sp // greatest(least(nr.n2, 10), 1) FROM a2, nr
        | UNION ALL SELECT '${LlmOps.bm25Terms(2)}', a3.h, nr.n3,
        |   a3.sp // greatest(least(nr.n3, 10), 1) FROM a3, nr)
        |SELECT query, n_hits10, n_rel, ap_e6 FROM per
        |UNION ALL SELECT 'zzz_map', CAST(sum(n_hits10) AS BIGINT),
        |  CAST(sum(n_rel) AS BIGINT), CAST(sum(ap_e6) // 3 AS BIGINT)
        | FROM per
        |ORDER BY query""".stripMargin,
    "q_llm_err" ->
      s"""WITH ${LlmOps.bm25Ctes},
        |ranked AS (SELECT doc_id,
        |   row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rn
        |  FROM bmsc),
        |g AS (SELECT doc_id,
        |   max(CASE WHEN tok = '${LlmOps.bm25Terms(0)}' THEN 1
        |     ELSE 0 END) +
        |   max(CASE WHEN tok = '${LlmOps.bm25Terms(1)}' THEN 1
        |     ELSE 0 END) +
        |   max(CASE WHEN tok = '${LlmOps.bm25Terms(2)}' THEN 1
        |     ELSE 0 END) AS gv
        |  FROM toks GROUP BY doc_id),
        |t AS (SELECT rn, ranked.doc_id,
        |   CAST(coalesce(gv, 0) AS BIGINT) AS gn
        |  FROM ranked LEFT JOIN g USING (doc_id) WHERE rn <= 10),
        |av AS (SELECT rn, doc_id, gn,
        |   (CAST(1 AS BIGINT) << CAST(gn AS INTEGER)) - 1 AS a
        |  FROM t),
        |p AS (SELECT rn, doc_id, gn, a,
        |   CAST(coalesce(list_aggregate(
        |     list(8 - a) OVER (ORDER BY rn
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |     'product'), 1) AS BIGINT) AS p_num
        |  FROM av),
        |tm AS (SELECT rn, doc_id, gn, p_num,
        |   a * p_num * 1000000
        |     // ((CAST(1 AS BIGINT) << CAST(3 * rn AS INTEGER)) * rn)
        |     AS term_e6
        |  FROM p)
        |SELECT CAST(rn AS BIGINT) AS rank, doc_id, gn AS gain, p_num,
        |  term_e6,
        |  CAST(sum(term_e6) OVER (ORDER BY rn) AS BIGINT)
        |    AS err_cum_e6
        |FROM tm ORDER BY rank""".stripMargin,
    "q_llm_pr_at_k" ->
      s"""WITH ${LlmOps.bm25Ctes},
        |ranked AS (SELECT doc_id,
        |   row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rn
        |  FROM bmsc),
        |rel AS (SELECT doc_id FROM (
        |   SELECT doc_id,
        |     max(CASE WHEN tok = '${LlmOps.bm25Terms(0)}' THEN 1
        |       ELSE 0 END) +
        |     max(CASE WHEN tok = '${LlmOps.bm25Terms(1)}' THEN 1
        |       ELSE 0 END) +
        |     max(CASE WHEN tok = '${LlmOps.bm25Terms(2)}' THEN 1
        |       ELSE 0 END) AS g
        |   FROM toks GROUP BY doc_id) WHERE g >= 2),
        |nr AS (SELECT CAST(count(*) AS BIGINT) AS n_rel FROM rel),
        |t AS (SELECT rn,
        |   CASE WHEN rel.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_rel
        |  FROM ranked LEFT JOIN rel USING (doc_id) WHERE rn <= 10),
        |ks AS (SELECT CAST(unnest([1, 3, 5, 10]) AS BIGINT) AS k)
        |SELECT k, CAST(sum(is_rel) AS BIGINT) AS hits,
        |  CAST(sum(is_rel) AS BIGINT) * 10000 // k AS precision_e4,
        |  CAST(sum(is_rel) AS BIGINT) * 10000
        |    // greatest(max(nr.n_rel), 1) AS recall_e4,
        |  CAST(max(nr.n_rel) AS BIGINT) AS n_rel
        |FROM ks JOIN t ON t.rn <= ks.k CROSS JOIN nr
        |GROUP BY k ORDER BY k""".stripMargin,
    "q_llm_auc" ->
      """WITH s AS (SELECT vec_id,
        |   CAST(floor(embedding[1] * 10000 + 0.5) AS BIGINT) AS sc,
        |   label % 2 AS y FROM embeddings),
        |n AS (SELECT CAST(sum(y) AS BIGINT) AS n1,
        |   CAST(sum(1 - y) AS BIGINT) AS n0 FROM s),
        |sup AS (SELECT sc, CAST(count(*) AS BIGINT) AS c,
        |   CAST(sum(y) AS BIGINT) AS c1,
        |   CAST(sum(1 - y) AS BIGINT) AS c0
        |  FROM s GROUP BY sc),
        |r AS (SELECT sc, c, c1, c0,
        |   CAST(coalesce(sum(c0) OVER (ORDER BY sc
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |     AS BIGINT) AS c0_below
        |  FROM sup),
        |u AS (SELECT CAST(sum(c1 * (2 * c0_below + c0)) AS BIGINT)
        |   AS u2 FROM r)
        |SELECT n.n1, n.n0, u.u2,
        |  CAST(u.u2 * 10000 // (2 * n.n1 * n.n0) AS BIGINT) AS auc_e4
        |FROM u CROSS JOIN n""".stripMargin,
    "q_llm_feature_separation" -> {
      s"""WITH ${ModelPrep.scoreCte},
         |ft AS (SELECT f.doc_id,
         |   CAST(floor((1.0 * len(list_distinct(tk)) / len(tk))
         |     * 10000 + 0.5) AS BIGINT) AS ttr_e4,
         |   CAST(floor((1.0 * len([t for t in tk
         |     if t IN ('the','a','of','and','to','in','is')])
         |     / len(tk)) * 10000 + 0.5) AS BIGINT) AS stop_e4,
         |   CAST(floor(least(len(tk) / 100.0, 1.0) * 10000 + 0.5)
         |     AS BIGINT) AS len_e4
         |  FROM f),
         |cls AS (SELECT ft.*,
         |   CASE WHEN sc0.score >= 0.76 THEN 1 ELSE 0 END AS k
         |  FROM ft JOIN sc0 ON sc0.doc_id = ft.doc_id),
         |lng AS (
         |  SELECT 'len_norm' AS feature, k, v
         |  FROM (SELECT k, len_e4 AS v FROM cls)
         |  UNION ALL SELECT 'stop_ratio', k, v
         |  FROM (SELECT k, stop_e4 AS v FROM cls)
         |  UNION ALL SELECT 'ttr', k, v
         |  FROM (SELECT k, ttr_e4 AS v FROM cls)),
         |mu AS (SELECT feature, k, CAST(count(*) AS BIGINT) AS n,
         |   CAST(sum(v) // count(*) AS BIGINT) AS mu
         |  FROM lng GROUP BY 1, 2),
         |m2 AS (SELECT lng.feature, lng.k, max(mu.n) AS n,
         |   max(mu.mu) AS mu,
         |   CAST(sum((lng.v - mu.mu) * (lng.v - mu.mu)) AS BIGINT)
         |     AS m2
         |  FROM lng JOIN mu ON mu.feature = lng.feature
         |    AND mu.k = lng.k
         |  GROUP BY 1, 2),
         |w AS (SELECT feature,
         |   max(CASE WHEN k = 1 THEN n END) AS n_keep,
         |   max(CASE WHEN k = 0 THEN n END) AS n_drop,
         |   max(CASE WHEN k = 1 THEN mu END) AS mean_keep_e4,
         |   max(CASE WHEN k = 0 THEN mu END) AS mean_drop_e4,
         |   (max(CASE WHEN k = 1 THEN m2 END)
         |     + max(CASE WHEN k = 0 THEN m2 END))
         |     // greatest(max(CASE WHEN k = 1 THEN n END)
         |       + max(CASE WHEN k = 0 THEN n END) - 2, 1) AS pooled_var
         |  FROM m2 GROUP BY 1)
         |SELECT feature, n_keep, n_drop, mean_keep_e4, mean_drop_e4,
         |  CAST((mean_keep_e4 - mean_drop_e4)
         |    * (mean_keep_e4 - mean_drop_e4) * 10000
         |    // greatest(pooled_var, 1) AS BIGINT) AS d2_e4
         |FROM w ORDER BY feature""".stripMargin
    },
    "q_llm_metric_stability" -> {
      s"""WITH ${ModelPrep.scoreCte},
         |sc1 AS (SELECT doc_id,
         |   CAST(floor(score * 10000 + 0.5) AS BIGINT) AS s_e4,
         |   row_number() OVER (ORDER BY CAST('0x' ||
         |     substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT),
         |     doc_id) AS rn
         |  FROM sc0),
         |fm AS (SELECT CAST(sum(s_e4) // count(*) AS BIGINT)
         |   AS full_mean_e4 FROM sc1),
         |arms AS (SELECT CAST(unnest([50, 100, 200, 400]) AS BIGINT)
         |   AS n)
         |SELECT arms.n, CAST(count(*) AS BIGINT) AS n_used,
         |  CAST(sum(s_e4) // count(*) AS BIGINT) AS mean_e4,
         |  max(fm.full_mean_e4) AS full_mean_e4,
         |  CAST(sum(s_e4) // count(*) - max(fm.full_mean_e4) AS BIGINT)
         |    AS delta_e4
         |FROM arms JOIN sc1 ON sc1.rn <= arms.n CROSS JOIN fm
         |GROUP BY arms.n ORDER BY arms.n""".stripMargin
    },
    "q_llm_judge_kappa" -> {
      s"""WITH ${ModelPrep.scoreCte},
         |qa AS (SELECT doc_id,
         |   floor((0.4 * (1.0 * len(list_distinct(tk)) / len(tk))
         |     + 0.3 * (1 - 1.0 * len([t for t in tk
         |         if t IN ('the','a','of','and','to','in','is')])
         |         / len(tk))
         |     + 0.3 * least(len(tk) / 100.0, 1.0)) * 10000.0 + 0.5)
         |   / 10000.0 AS quality
         |  FROM (SELECT doc_id, string_split(text, ' ') AS tk
         |        FROM documents) t),
         |j AS (SELECT sc0.doc_id,
         |   CASE WHEN sc0.score >= 0.76 THEN 1 ELSE 0 END AS j1,
         |   CASE WHEN qa.quality >= 0.64 THEN 1 ELSE 0 END AS j2
         |  FROM sc0 JOIN qa ON qa.doc_id = sc0.doc_id),
         |c AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(j1 * j2) AS BIGINT) AS n11,
         |  CAST(sum(j1 * (1 - j2)) AS BIGINT) AS n10,
         |  CAST(sum((1 - j1) * j2) AS BIGINT) AS n01,
         |  CAST(sum((1 - j1) * (1 - j2)) AS BIGINT) AS n00
         | FROM j)
         |SELECT n AS n_docs, n11, n10, n01, n00,
         |  CAST((n11 + n00) * 10000 // n AS BIGINT) AS po_e4,
         |  CAST((CAST(n AS HUGEINT) * (n11 + n00)
         |     - (CAST(n11 + n10 AS HUGEINT) * (n11 + n01)
         |        + CAST(n01 + n00 AS HUGEINT) * (n10 + n00))) * 10000
         |   // greatest(CAST(n AS HUGEINT) * n
         |     - (CAST(n11 + n10 AS HUGEINT) * (n11 + n01)
         |        + CAST(n01 + n00 AS HUGEINT) * (n10 + n00)), 1)
         |   AS BIGINT) AS kappa_e4
         |FROM c""".stripMargin
    },
    "q_llm_bootstrap_ci" -> {
      s"""WITH ${ModelPrep.scoreCte},
         |sc1 AS (SELECT doc_id,
         |   CAST(floor(score * 10000 + 0.5) AS BIGINT) AS s_e4
         |  FROM sc0),
         |reps AS (SELECT unnest(range(0, 100)) AS b),
         |w AS (SELECT sc1.doc_id, reps.b, sc1.s_e4,
         |   CAST('0x' || substr(md5(sc1.doc_id || ':' || reps.b), 1, 15)
         |     AS BIGINT) % 1000 AS r
         |  FROM sc1 CROSS JOIN reps),
         |k AS (SELECT b, s_e4, CASE WHEN r < 368 THEN 0
         |   WHEN r < 736 THEN 1 WHEN r < 920 THEN 2 WHEN r < 981 THEN 3
         |   WHEN r < 996 THEN 4 ELSE 5 END AS k FROM w),
         |means AS (SELECT b,
         |   CAST(sum(k * s_e4) // greatest(sum(k), 1) AS BIGINT)
         |     AS mean_e4
         |  FROM k GROUP BY b),
         |ranked AS (SELECT b, mean_e4,
         |   row_number() OVER (ORDER BY mean_e4, b) AS rn FROM means),
         |fm AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |   CAST(sum(s_e4) // count(*) AS BIGINT) AS mean_full_e4
         |  FROM sc1)
         |SELECT fm.n_docs, CAST(100 AS BIGINT) AS b_reps,
         |  fm.mean_full_e4,
         |  CAST(max(CASE WHEN rn = 3 THEN mean_e4 END) AS BIGINT)
         |    AS ci_lo_e4,
         |  CAST(max(CASE WHEN rn = 98 THEN mean_e4 END) AS BIGINT)
         |    AS ci_hi_e4
         |FROM ranked CROSS JOIN fm
         |GROUP BY fm.n_docs, fm.mean_full_e4""".stripMargin
    },
    "q_llm_rbo" -> {
      s"""WITH ${ModelPrep.scoreCte},
         |qa AS (SELECT doc_id,
         |   floor((0.4 * (1.0 * len(list_distinct(tk)) / len(tk))
         |     + 0.3 * (1 - 1.0 * len([t for t in tk
         |         if t IN ('the','a','of','and','to','in','is')])
         |         / len(tk))
         |     + 0.3 * least(len(tk) / 100.0, 1.0)) * 10000.0 + 0.5)
         |   / 10000.0 AS quality
         |  FROM (SELECT doc_id, string_split(text, ' ') AS tk
         |        FROM documents) t),
         |ra AS (SELECT doc_id,
         |   row_number() OVER (ORDER BY quality DESC, doc_id) AS r
         |  FROM qa),
         |rb AS (SELECT doc_id,
         |   row_number() OVER (ORDER BY score DESC, doc_id) AS r
         |  FROM sc0),
         |mm AS (SELECT greatest(ra.r, rb.r) AS mr
         |  FROM ra JOIN rb ON ra.doc_id = rb.doc_id
         |  WHERE ra.r <= 10 AND rb.r <= 10),
         |dep AS (SELECT unnest(range(1, 11)) AS depth),
         |ov AS (SELECT dep.depth, CAST(count(mm.mr) AS BIGINT) AS ov
         |  FROM dep LEFT JOIN mm ON mm.mr <= dep.depth
         |  GROUP BY dep.depth),
         |w(depth, l_e9) AS (VALUES (1, 100000000), (2, 45000000),
         |  (3, 27000000), (4, 18225000), (5, 13122000), (6, 9841500),
         |  (7, 7592014), (8, 5978711), (9, 4782969), (10, 3874204))
         |SELECT CAST(ov.depth AS BIGINT) AS depth,
         |  ra.doc_id AS a_doc, rb.doc_id AS b_doc, ov.ov,
         |  ov.ov * w.l_e9 AS term_e9,
         |  CAST(sum(ov.ov * w.l_e9) OVER (ORDER BY ov.depth)
         |    AS BIGINT) AS rbo_cum_e9
         |FROM ov JOIN w ON w.depth = ov.depth
         |JOIN ra ON ra.r = ov.depth JOIN rb ON rb.r = ov.depth
         |ORDER BY depth""".stripMargin
    },
    "q_llm_bleu" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk
        |  FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |lens AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS len
        |  FROM toks),
        |pairs0 AS (SELECT doc_id AS a,
        |   lead(doc_id) OVER (PARTITION BY source ORDER BY doc_id) AS b
        |  FROM documents),
        |pairs AS (SELECT p.a, p.b, la.len AS len_c, lb.len AS len_r
        |  FROM pairs0 p
        |  JOIN lens la ON la.doc_id = p.a
        |  JOIN lens lb ON lb.doc_id = p.b
        |  WHERE p.b IS NOT NULL),
        |uni AS (SELECT doc_id, g, count(*) AS c FROM (
        |   SELECT doc_id, unnest(tk) AS g FROM toks) t GROUP BY 1, 2),
        |big AS (SELECT doc_id, g, count(*) AS c FROM (
        |   SELECT doc_id, unnest([tk[i] || ' ' || tk[i + 1]
        |     for i in range(1, len(tk))]) AS g FROM toks) t
        |  GROUP BY 1, 2),
        |c1 AS (SELECT p.a, p.b, sum(least(ua.c, ub.c)) AS clip1
        |  FROM pairs p
        |  JOIN uni ua ON ua.doc_id = p.a
        |  JOIN uni ub ON ub.doc_id = p.b AND ub.g = ua.g
        |  GROUP BY 1, 2),
        |c2 AS (SELECT p.a, p.b, sum(least(ba.c, bb.c)) AS clip2
        |  FROM pairs p
        |  JOIN big ba ON ba.doc_id = p.a
        |  JOIN big bb ON bb.doc_id = p.b AND bb.g = ba.g
        |  GROUP BY 1, 2),
        |f AS (SELECT pairs.a, pairs.b, len_c, len_r,
        |   coalesce(c1.clip1, 0) * 10000 // len_c AS p1_e4,
        |   coalesce(c2.clip2, 0) * 10000 // (len_c - 1) AS p2_e4
        |  FROM pairs
        |  LEFT JOIN c1 ON c1.a = pairs.a AND c1.b = pairs.b
        |  LEFT JOIN c2 ON c2.a = pairs.a AND c2.b = pairs.b)
        |SELECT a, b, len_c, len_r,
        | CAST(p1_e4 AS BIGINT) AS p1_e4,
        | CAST(p2_e4 AS BIGINT) AS p2_e4,
        | CAST(p1_e4 * p2_e4 AS BIGINT) AS gm2_e8,
        | CAST(least(10000, len_c * 10000 // len_r) AS BIGINT)
        |   AS len_ratio_e4
        |FROM f ORDER BY gm2_e8 DESC, a LIMIT 20""".stripMargin,
    "q_llm_hard_negatives" -> {
      val ctes = LlmOps.bm25Ctes
      val Seq(t1, t2, t3) = LlmOps.bm25Terms
      def arm(i: Int, t: String) =
        s"""SELECT '$t' AS term, rank, doc_id, bm25 FROM (
           |  SELECT doc_id, bm25, CAST(row_number() OVER (
           |    ORDER BY bm25 DESC, doc_id) AS INTEGER) AS rank
           |  FROM bmsc JOIN perdoc USING (doc_id)
           |  WHERE tf$i = 0) t WHERE rank <= 5""".stripMargin
      s"""WITH $ctes
         |${arm(1, t1)}
         |UNION ALL ${arm(2, t2)}
         |UNION ALL ${arm(3, t3)}
         |ORDER BY term, rank""".stripMargin
    },
    "q_llm_rouge_bigram" ->
      """WITH pairs AS (SELECT doc_id AS a,
        |   lead(doc_id) OVER (PARTITION BY source ORDER BY doc_id) AS b
        |  FROM documents),
        |p2 AS (SELECT a, b FROM pairs WHERE b IS NOT NULL),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS tk
        |  FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |bgs AS (SELECT DISTINCT doc_id,
        |   unnest([tk[i] || ' ' || tk[i + 1]
        |     for i in range(1, len(tk))]) AS bg
        |  FROM toks),
        |cnt AS (SELECT doc_id, count(*) AS nbg FROM bgs GROUP BY doc_id),
        |inter AS (SELECT p2.a, p2.b, count(*) AS i
        |  FROM p2
        |  JOIN bgs ba ON ba.doc_id = p2.a
        |  JOIN bgs bb ON bb.doc_id = p2.b AND bb.bg = ba.bg
        |  GROUP BY p2.a, p2.b)
        |SELECT p2.a AS a, p2.b AS b,
        | CAST(ca.nbg AS BIGINT) AS na, CAST(cb.nbg AS BIGINT) AS nb,
        | CAST(coalesce(inter.i, 0) AS BIGINT) AS n_common,
        | CAST(coalesce(inter.i, 0) * 10000 // cb.nbg AS BIGINT)
        |   AS recall_e4,
        | CAST(coalesce(inter.i, 0) * 10000 // ca.nbg AS BIGINT)
        |   AS precision_e4,
        | CAST(2 * coalesce(inter.i, 0) * 10000 // (ca.nbg + cb.nbg)
        |   AS BIGINT) AS f1_e4
        |FROM p2
        |JOIN cnt ca ON ca.doc_id = p2.a
        |JOIN cnt cb ON cb.doc_id = p2.b
        |LEFT JOIN inter ON inter.a = p2.a AND inter.b = p2.b
        |ORDER BY f1_e4 DESC, a LIMIT 20""".stripMargin,
    "q_llm_ndcg" -> {
      val ctes = LlmOps.bm25Ctes
      s"""WITH $ctes,
         |rel AS (SELECT doc_id,
         |   (CASE WHEN tf1 > 0 THEN 1 ELSE 0 END
         |    + CASE WHEN tf2 > 0 THEN 1 ELSE 0 END
         |    + CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS rel
         |  FROM perdoc),
         |ranked AS (SELECT doc_id, row_number() OVER
         |    (ORDER BY bm25 DESC, doc_id) AS rank
         |  FROM bmsc ORDER BY bm25 DESC, doc_id LIMIT 10),
         |dcg AS (SELECT coalesce(CAST(sum(rel.rel *
         |   CAST(floor(1000000.0 / (ln(rank + 1) / ln(2.0)) + 0.5)
         |     AS BIGINT)) AS BIGINT), 0) AS dcg_e6
         |  FROM ranked JOIN rel ON ranked.doc_id = rel.doc_id),
         |ideal AS (SELECT rel, row_number() OVER
         |    (ORDER BY rel DESC, doc_id) AS rank
         |  FROM rel WHERE rel > 0 ORDER BY rel DESC, doc_id LIMIT 10),
         |idcg AS (SELECT coalesce(CAST(sum(rel *
         |   CAST(floor(1000000.0 / (ln(rank + 1) / ln(2.0)) + 0.5)
         |     AS BIGINT)) AS BIGINT), 0) AS idcg_e6 FROM ideal),
         |nr AS (SELECT count(*) AS n_rel FROM rel WHERE rel > 0)
         |SELECT n_rel, dcg_e6, idcg_e6,
         | (dcg_e6 * 10000) // greatest(idcg_e6, 1) AS ndcg_e4
         |FROM nr CROSS JOIN dcg CROSS JOIN idcg""".stripMargin
    },
    "q_llm_mrr" -> {
      val ctes = LlmOps.bm25Ctes
      val arms = LlmOps.bm25Terms.zipWithIndex.map { case (t, i) =>
        s"""(SELECT '$t' AS query, first_rank,
           |  1000000 // first_rank AS rr_e6 FROM (
           |  SELECT (SELECT count(*) FROM bmsc s
           |    WHERE s.bm25 > b.bm25
           |       OR (s.bm25 = b.bm25 AND s.doc_id < b.doc_id)) + 1
           |    AS first_rank
           |  FROM (SELECT doc_id, bm25 FROM bmsc
           |    WHERE doc_id IN (SELECT doc_id FROM perdoc
           |                     WHERE tf${i + 1} > 0)
           |    ORDER BY bm25 DESC, doc_id LIMIT 1) b) t)""".stripMargin
      }.mkString("\n UNION ALL\n")
      s"""WITH $ctes
         |SELECT query, CAST(first_rank AS BIGINT) AS first_rank,
         | CAST(rr_e6 AS BIGINT) AS rr_e6 FROM (
         |$arms
         |) u ORDER BY query""".stripMargin
    },
  )
}
