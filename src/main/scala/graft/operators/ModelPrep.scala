package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.VectorExprs

/** SURVEY.md §2-J4 — model-preparation operators: the steps
  * between a curated corpus and a training run. Sketch-quality
  * measurement (MinHash signature estimate vs exact Jaccard), linear
  * quality-classifier scoring, URL canonicalization, one exact-arithmetic
  * Lloyd (k-means) step over embeddings, and one BPE merge round over the
  * token vocabulary.
  *
  * Reference analog: the logger's consumers run none of these (the
  * upstream is an ingestion sidecar, SURVEY §0.5) — all rows are N
  * (north-star) provenance: what a training-data pipeline needs at
  * 100 TB.
  *
  * Determinism strategy (oracle-exact, §7.4):
  * - minhash_est: signatures are md5-derived integers — the estimate is
  *   exact integer arithmetic both engines replicate bit-for-bit.
  * - quality_logreg: the squash is softsign 0.5·(1 + z/(1+|z|)) — plain
  *   IEEE ops, no exp()/libm (JVM Math.exp and C exp may differ in the
  *   last ulp; softsign cannot).
  * - kmeans_step: per-dim values quantized to integers (floor(x·10⁴));
  *   all distances and centroid sums are exact BIGINT arithmetic — the
  *   order-sensitivity of float summation (Spark's aggregation order is
  *   nondeterministic) never arises. The division back to a mean happens
  *   once, on an exact integer sum.
  * - bpe_merge / url_canon: pure integer counts / string rewrites.
  */
object ModelPrep {

  /** MinHash estimate quality: for every banded-LSH candidate pair,
    * the signature-based Jaccard estimate (matching slots / 16) next to
    * the exact Jaccard from the shingle sets, plus the absolute error —
    * the measurement a pipeline owner runs before trusting the sketch
    * at a scale where exact Jaccard is unaffordable. Signatures and
    * candidates are shared with q_llm_minhash_lsh (one cached build);
    * the estimate is a 16-term integer sum, the exact side reuses the
    * collected shingle sets — no extra shuffle of the shingle table. */
  def minhashEst(spark: SparkSession, dir: String): DataFrame = {
    val sigs = LlmOps.minhashSigs(spark, dir)
    val cand = LlmOps.minhashCandidates(sigs)
    val matchCnt = (0 until 16)
      .map(j => when(col(s"a.m$j") === col(s"b.m$j"), 1).otherwise(0))
      .reduce(_ + _)
    cand
      .join(sigs.as("a"), col("a_id") === col("a.doc_id"))
      .join(sigs.as("b"), col("b_id") === col("b.doc_id"))
      .withColumn("n_match", matchCnt.cast("long"))
      .withColumn("i", size(array_intersect(col("a.ss"), col("b.ss"))))
      .withColumn("exact_j",
        col("i") / (col("a.n") + col("b.n") - col("i")))
      .withColumn("est_j", col("n_match") / lit(16.0))
      .select(col("a_id"), col("b_id"), col("n_match"),
        r4(col("est_j")).as("est_j"), r4(col("exact_j")).as("exact_j"),
        r4(abs(col("est_j") - col("exact_j"))).as("abs_err"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Linear quality-classifier scoring: a fixed-weight model over the
    * quality features (type-token ratio, stopword ratio, length prior)
    * squashed through softsign — the shape of a fastText-style corpus
    * quality filter, run as one map-only codegen pass (the model is
    * literals in the plan; at 100 TB a learned weight vector broadcasts
    * the same way). No exp(): softsign is pure IEEE arithmetic, so the
    * oracle matches bit-for-bit (see object scaladoc). */
  def qualityLogreg(spark: SparkSession, dir: String): DataFrame =
    qualityFeatures(documents(spark, dir))
      .withColumn("z",
        lit(-1.5) + lit(2.2) * col("ttr") +
          lit(1.1) * (lit(1.0) - col("stop_ratio")) +
          lit(0.9) * least(col("n_tok") / lit(100.0), lit(1.0)))
      .withColumn("score",
        lit(0.5) * (lit(1.0) + col("z") / (lit(1.0) + abs(col("z")))))
      .select(col("doc_id"), r4(col("z")).as("z"),
        r4(col("score")).as("score"), (col("z") >= 0).as("keep"))
      .orderBy(col("doc_id"))

  /** [[qualityLogreg]]'s rows joined to each document's token count
    * `n_tok` (BIGINT), with the document columns `extra` between
    * `doc_id` and `n_tok`: the input of every row that weighs a score
    * by document length. */
  private def scoredTokens(spark: SparkSession, dir: String,
      extra: String*): DataFrame =
    qualityLogreg(spark, dir).join(documents(spark, dir).select(
      col("doc_id") +: extra.map(col) :+
        size(tokens).cast("long").as("n_tok"): _*), "doc_id")

  /** URL canonicalization: strip fragment, default :443 port, trailing
    * slash and utm_* tracking params from minted dirty URLs; lowercase
    * the host; then per-host page counts via one window — the dedup-key
    * normalization every web-corpus pipeline runs before URL-level
    * dedup. Chained codegen regexp_replace + parse_url, no UDF; the
    * oracle reconstructs the canonical form from the source metadata
    * (ground truth), so it verifies the cleanup recovers the intended
    * URL rather than mirroring the regexes. */
  def urlCanon(spark: SparkSession, dir: String): DataFrame = {
    val dirty = concat(
      lit("https://"),
      when(pmod(col("doc_id"), lit(2)) === 0, upper(col("source")))
        .otherwise(col("source")),
      lit(".Example.COM"),
      when(pmod(col("doc_id"), lit(3)) === 0, lit(":443")).otherwise(lit("")),
      lit("/"), col("lang"), lit("/"), col("doc_id"),
      when(pmod(col("doc_id"), lit(5)) === 0, lit("/")).otherwise(lit("")),
      lit("?"),
      when(pmod(col("doc_id"), lit(2)) === 0, lit("utm_source=feed&"))
        .otherwise(lit("")),
      lit("id="), pmod(col("doc_id"), lit(11)),
      when(pmod(col("doc_id"), lit(3)) === 1, lit("&utm_campaign=x"))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(7)) === 0, lit("#sec2")).otherwise(lit("")))
    documents(spark, dir)
      .withColumn("url", dirty)
      .withColumn("u1", regexp_replace(col("url"), "#.*$", ""))
      .withColumn("u2", regexp_replace(col("u1"), ":443(?=[/?]|$)", ""))
      .withColumn("host", lower(parse_url(col("u2"), lit("HOST"))))
      .withColumn("path",
        regexp_replace(parse_url(col("u2"), lit("PATH")), "/$", ""))
      .withColumn("canon", concat(lit("https://"), col("host"), col("path"),
        lit("?id="), parse_url(col("u2"), lit("QUERY"), lit("id"))))
      .withColumn("n_host",
        count(lit(1)).over(Window.partitionBy(col("host"))))
      .select(col("doc_id"), col("host"), col("canon"), col("n_host"))
      .orderBy(col("doc_id"))
  }

  /** One exact-arithmetic Lloyd (k-means) step over the embeddings:
    * quantize each dimension to an integer grid (floor(x·10⁴)), assign
    * every vector to its nearest of 8 deterministic seed centroids
    * (vec_id < 8) by exact integer squared distance, and recompute the
    * per-cluster mean of the first 4 dimensions from exact BIGINT sums.
    *
    * Scale shape: the centroid side is always tiny → broadcast
    * nested-loop against it (k·d integer ops per row, inside codegen);
    * the recompute is one partial-aggregable groupBy over (cluster,
    * dim) — the identical plan runs every Lloyd iteration at 100 TB.
    * Integer quantization is what makes the step ORACLE-EXACT: float
    * sums depend on aggregation order, BIGINT sums do not. */
  /** Embeddings with their nearest-of-8-seed-centroids cluster id:
    * integer-quantized dims (`q`, exact BIGINT distances — see
    * [[kmeansStep]]), plus the double vector and its norm for
    * cosine-based consumers. Shared by kmeansStep and semDedup. */
  private def embedAssigned(spark: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(spark, dir)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000.0) AS BIGINT))")
          .as("q"),
        col("embedding").as("v")) // raw float array for the codegen kernels
      .withColumn("nrm", VectorExprs.norm(col("v")))
    val cents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("q").as("cq"))
    emb.crossJoin(broadcast(cents))
      .withColumn("d2", expr(
        "aggregate(zip_with(q, cq, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cid"), col("q"), col("v"),
        col("nrm"))).as("best"))
      .select(col("vec_id"), col("best.cid").as("cluster"),
        col("best.q").as("q"), col("best.v").as("v"),
        col("best.nrm").as("nrm"))
  }

  def kmeansStep(spark: SparkSession, dir: String): DataFrame = {
    val assigned = embedAssigned(spark, dir)
    assigned
      .select(col("cluster"), posexplode(slice(col("q"), 1, 4)))
      .groupBy(col("cluster"), col("pos").as("dim"))
      .agg(count(lit(1)).as("n_members"), sum(col("col")).as("qsum"))
      .select(col("cluster"), col("dim"), col("n_members"),
        r4(col("qsum").cast("double") / col("n_members") / lit(10000.0))
          .as("mean_val"))
      .orderBy(col("cluster"), col("dim"))
  }

  /** SemDeDup-style semantic dedup: pairwise cosine checks
    * run ONLY within a k-means cluster — the published trick that makes
    * embedding-level dedup tractable (in-cluster pairs ≈ N²/k instead
    * of N²; measured 15.6k vs 500k at sf0.01). A vector is dropped when
    * a smaller-id vector in its cluster has cosine ≥ τ; the keep list
    * plus cluster id is the output. τ = 0.3 is calibrated to the
    * synthetic corpus (near-orthogonal random embeddings — real corpora
    * use ~0.95); the contract under test is the cluster-bounded pair
    * generation and the deterministic keep rule, which are
    * scale-independent. Cosine is a fixed-order per-pair fold (no
    * cross-row float aggregation), so the oracle matches exactly. */
  def semDedup(spark: SparkSession, dir: String): DataFrame = {
    val side = embedAssigned(spark, dir)
      .select(col("vec_id"), col("cluster"), col("v"), col("nrm"))
    // VectorExprs.dot is the codegen'd kernel — the lambda aggregate/zip_with
    // form runs on the interpreted HOF path and measured ~2× slower
    // over the ~3M in-cluster pairs at sf0.1 (the zorder lesson again)
    val pairs = side.as("a")
      .join(side.as("b"), col("a.cluster") === col("b.cluster") &&
        col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos",
        VectorExprs.dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")))
    val dropped = pairs.filter(col("cos") >= 0.3)
      .select(col("b.vec_id").as("drop_id")).distinct()
    side.join(dropped, col("vec_id") === col("drop_id"), "left_outer")
      .select(col("vec_id"), col("cluster"),
        col("drop_id").isNull.as("is_kept"))
      .orderBy(col("vec_id"))
  }

  /** One BPE merge round over the corpus vocabulary: aggregate the token
    * vocabulary first (distinct token → occurrence count — the classic
    * BPE trick: pair counting runs over the SMALL vocab weighted by
    * count, never over the corpus), then explode each token's adjacent
    * character pairs and rank the top 10 merge candidates by corpus
    * frequency with a lexical tie-break. At 100 TB the vocab table is
    * orders of magnitude smaller than the corpus, so every merge
    * iteration after the first scan is cheap. */
  def bpeMerge(spark: SparkSession, dir: String): DataFrame = {
    val vocab = documents(spark, dir)
      .select(explode(tokens).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    vocab
      .filter(length(col("tok")) >= 2)
      .select(col("cnt"), explode(expr(
        "transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))"))
        .as("pair"))
      .groupBy(col("pair")).agg(sum(col("cnt")).as("pair_cnt"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("pair_cnt").desc, col("pair"))))
      .filter(col("rank") <= 10)
      .select(col("rank"), col("pair"), col("pair_cnt"))
      .orderBy(col("rank"))
  }

  /** WordPiece-style merge ranking (Schuster & Nakajima 2012):
    * the same weighted char-pair counts as [[bpeMerge]], but candidates
    * rank by the LIKELIHOOD score c(ab)/(c(a)·c(b)) instead of raw
    * frequency — WordPiece picks the merge that most increases corpus
    * likelihood under a unigram char model, so rare-but-cohesive pairs
    * beat merely common ones. Enrolling both rankings over the same
    * counts makes the BPE-vs-WordPiece policy difference auditable row
    * by row.
    *
    * Exactness: score_e6 = ((c(ab)·10⁶) div c(a)) · 10⁶ div c(b),
    * floored per term. Overflow-proof BY CONSTRUCTION: a char's count
    * is ≥ any pair count containing it (same weighting), so the first
    * quotient is ≤ 10⁶ and the dividend of the second ≤ 10¹² — no
    * corpus size changes that bound.
    *
    * Scale: one token groupBy (the corpus shuffle) + two vocab-sized
    * explodes and groupBys; the char table (≤ alphabet size) joins
    * broadcast. */
  def wordpieceMerge(spark: SparkSession, dir: String): DataFrame = {
    val vocab = documents(spark, dir)
      .select(explode(tokens).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val pairCnt = vocab.filter(length(col("tok")) >= 2)
      .select(col("cnt"), explode(expr(
        "transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))"))
        .as("pair"))
      .groupBy(col("pair")).agg(sum(col("cnt")).as("pair_cnt"))
    val charCnt = vocab
      .select(col("cnt"), explode(expr(
        "transform(sequence(1, length(tok)), i -> substring(tok, i, 1))"))
        .as("ch"))
      .groupBy(col("ch")).agg(sum(col("cnt")).as("ccnt"))
    pairCnt
      .withColumn("lch", expr("substring(pair, 1, 1)"))
      .withColumn("rch", expr("substring(pair, 2, 1)"))
      .join(broadcast(charCnt.select(col("ch").as("lch"),
        col("ccnt").as("cl"))), "lch")
      .join(broadcast(charCnt.select(col("ch").as("rch"),
        col("ccnt").as("cr"))), "rch")
      .withColumn("score_e6",
        expr("((pair_cnt * 1000000) div cl) * 1000000 div cr"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score_e6").desc, col("pair"))))
      .filter(col("rank") <= 10)
      .select(col("rank"), col("pair"), col("pair_cnt"), col("cl"),
        col("cr"), col("score_e6"))
      .orderBy(col("rank"))
  }

  /** Deterministic train/val/test split: every corpus release
    * needs a split that is (a) stable under repartitioning/reruns —
    * membership is a pure function of the doc id, not of row order or
    * sampling state — and (b) computable at any scale with zero extra
    * shuffles (the split label is a per-row projection; only the audit
    * groupBy below shuffles, on a 15-key space). Bucket = md5-derived
    * h60(doc_id) % 1000 → 98/1/1 train/val/test; the cross-engine h60
    * parity (LlmOps) makes the assignment EXACTLY reproducible in
    * DuckDB, so the oracle checks the true per-split membership, not
    * just counts. */
  def splitAssign(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .withColumn("bucket",
        expr(s"${LlmOps.h60("CAST(doc_id AS STRING)")} % 1000"))
      .withColumn("split", expr(
        "CASE WHEN bucket < 980 THEN 'train' " +
          "WHEN bucket < 990 THEN 'val' ELSE 'test' END"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars_total"),
        min(col("doc_id")).as("min_doc"))
      .orderBy(col("lang"), col("split"))

  /** Top principal component by integer power iteration: two
    * unrolled steps of v ← Σ_x x·(xᵀv) over milli-unit embeddings, the
    * PCA direction used for embedding whitening / ABTT ("all-but-the-
    * top") before similarity search. The covariance matrix NEVER
    * materializes — each step is two passes (dot per vector, then
    * dim-wise weighted sum), all BIGINT: x ∈ ±370 milli-units, v
    * rescaled to ≤10⁶ after each step (divide by max|u|÷10⁶, trunc div
    * — both engines truncate, measured), so Σ xᵢ·(xᵀv) ≤
    * 64·370·10⁶·370·N ≈ 10¹³·N — exact through ~10⁵ vectors per
    * partial; at 100 TB the same rescale applies per-partition partial
    * before the final merge (documented, same lemma as the salted
    * two-phase agg).
    *
    * Scale shape: per-step cost is one map-side dot (crossJoin of the
    * ONE-ROW broadcast v) + one posexplode groupBy(dim) with 64 keys —
    * partial-aggregable, no shuffle of the vectors themselves. The
    * fixed 2-step unroll is the pagerank discipline (declarative plan,
    * no driver loop); production would loop on the converged-ε driver
    * check like pagerankConverged. */
  /** Milli-unit integer embeddings — shared by pcaPower/abtt. */
  private def milliVecs(spark: SparkSession, dir: String): DataFrame =
    embeddings(spark, dir).select(col("vec_id"),
      expr("transform(embedding, t -> CAST(floor(t * 1000 + 0.5) AS BIGINT))")
        .as("x"))

  /** The ONE-ROW direction frame (array column `v`, components ≤10⁶)
    * after two integer power-iteration steps — pcaPower explodes it to
    * enrolled rows; abtt projects against it. */
  private def pcaV2(spark: SparkSession, dir: String): DataFrame = {
    val e = milliVecs(spark, dir)
    def step(dotted: DataFrame): DataFrame =
      dotted.select(posexplode(col("x")).as(Seq("i0", "xi")), col("dot"))
        .groupBy(col("i0")).agg(sum(col("xi") * col("dot")).as("u"))
    val u1 = step(e.withColumn("dot",
      expr("aggregate(x, CAST(0 AS BIGINT), (s, t) -> s + t) * 1000000")))
    val m1 = u1.agg(
      expr("greatest(max(abs(u)) div 1000000, CAST(1 AS BIGINT))").as("m"))
    val v1 = u1.crossJoin(broadcast(m1))
      .withColumn("vi", expr("u div m"))
      .agg(expr("transform(array_sort(collect_list(struct(i0, vi))), s -> s.vi)")
        .as("v"))
    val u2 = step(e.crossJoin(broadcast(v1)).withColumn("dot", expr(
      """aggregate(zip_with(x, v, (a, b) -> a * b),
        |          CAST(0 AS BIGINT), (s, t) -> s + t)""".stripMargin)))
    val m2 = u2.agg(
      expr("greatest(max(abs(u)) div 1000000, CAST(1 AS BIGINT))").as("m"))
    u2.crossJoin(broadcast(m2))
      .withColumn("vi", expr("u div m"))
      .agg(expr("transform(array_sort(collect_list(struct(i0, vi))), s -> s.vi)")
        .as("v"))
  }

  def pcaPower(spark: SparkSession, dir: String): DataFrame =
    pcaV2(spark, dir)
      .select(posexplode(col("v")).as(Seq("i0", "v_e6")))
      .select((col("i0") + 1).cast("int").as("dim"), col("v_e6"))
      .orderBy(col("dim"))

  /** All-but-the-top whitening: remove each embedding's
    * projection on the dominant PCA direction — the post-processing
    * that strips the corpus-common component before similarity search
    * (isotropy correction). Pure integers end to end: with x in milli
    * and v from [[pcaV2]], the residual is computed vv-SCALED as
    * y_i = x_i·(vᵀv) − v_i·(xᵀv), which makes the orthogonality EXACT
    * (yᵀv = vvd − dvv = 0 in BIGINT — ScalaTest-pinned, no rounding
    * residue); reported magnitudes divide back by vv (trunc div, both
    * engines). proj_e6 is each vector's signed component along v —
    * the quantity ABTT subtracts.
    *
    * Scale shape: pcaV2's two partial-aggregable steps, then a
    * map-only projection pass against the ONE-ROW broadcast (v, vv) —
    * the corpus never shuffles. Overflow: |y_i| ≤ 2·370·10³·vv with
    * vv ≤ 6.4·10¹³ ⇒ Σ|y_i| ≤ ~3·10¹⁸, inside BIGINT (documented
    * bound, same lemma family as pcaV2). */
  def abtt(spark: SparkSession, dir: String): DataFrame = {
    val v = pcaV2(spark, dir).withColumn("vv",
      expr("aggregate(v, CAST(0 AS BIGINT), (s, t) -> s + t * t)"))
    milliVecs(spark, dir).crossJoin(broadcast(v))
      .withColumn("d", expr(
        """aggregate(zip_with(x, v, (a, b) -> a * b),
          |          CAST(0 AS BIGINT), (s, t) -> s + t)""".stripMargin))
      .withColumn("y", expr("zip_with(x, v, (a, b) -> a * vv - b * d)"))
      .select(col("vec_id"),
        expr("aggregate(x, CAST(0 AS BIGINT), (s, t) -> s + abs(t))")
          .as("l1_before"),
        expr("""aggregate(y, CAST(0 AS BIGINT), (s, t) -> s + abs(t))
          | div vv""".stripMargin).as("l1_after"),
        expr("(d * 1000000) div vv").as("proj_e6"))
      .orderBy(col("vec_id"))
  }

  /** Per-dimension int8 affine quantization calibration over the
    * embedding corpus: for each of the 64 dims, the observed range in
    * µ-units, the derived affine scale (range div 255) and zero point
    * (the uint8 code of 0.0, clamped to [0, 255]), plus the component
    * sum — the calibration table an int8 serving path loads next to
    * the weights. Complements q_llm_pq_quantize (codebook quant) with
    * the scalar-quant variant.
    *
    * The zero-point division has a negative numerator exactly when
    * min > 0, where trunc-vs-floor could differ between engines — but
    * then both quotients are ≤ 0 and the greatest(0, _) clamp lands
    * both at 0, so the emitted value is engine-identical (the clamp
    * absorbs the negative-division asymmetry; same argument as the
    * shifted-ratio idiom).
    *
    * Scale shape: one posexplode + one 64-key partial-aggregable
    * groupBy — the pcaPower step shape without the iteration; no
    * vector ever shuffles whole. */
  def embedCalib(spark: SparkSession, dir: String): DataFrame =
    embeddings(spark, dir)
      .select(posexplode(expr(
        "transform(embedding, t -> CAST(floor(t * 1000000.0D + 0.5)" +
          " AS BIGINT))")).as(Seq("dim", "v")))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), min(col("v")).as("min_e6"),
        max(col("v")).as("max_e6"), sum(col("v")).as("sum_e6"))
      .withColumn("scale_e6", expr("(max_e6 - min_e6) div 255"))
      .withColumn("zero_point", expr(
        "greatest(CAST(0 AS BIGINT), least(CAST(255 AS BIGINT)," +
          " (0 - min_e6) * 255 div greatest(max_e6 - min_e6," +
          " CAST(1 AS BIGINT))))"))
      .orderBy(col("dim"))

  /** DPO/RLHF preference-pair mining: per source domain, pair the
    * highest- and lowest-quality documents (by the enrolled
    * quality-logreg score, tie-broken on doc_id) as (chosen, rejected)
    * with the score margin ×10⁴ — the contrastive-pair construction a
    * preference-tuning data pipeline runs over a scored corpus.
    * Consumes qualityLogreg's OUTPUT frame, so the pair row can never
    * disagree with the score row about who scored what.
    *
    * The margin subtracts two r4-rounded doubles (exact 10⁻⁴-grid
    * values); floor(diff·10⁴ + 0.5) recovers the exact integer margin
    * on both engines.
    *
    * Shape: doc-sized score frame ⋈ doc-sized source projection, two
    * row_numbers over ONE (source) partitioning — single shuffle,
    * exchange reused — then a |sources|-sized pivot. */
  def prefPairs(spark: SparkSession, dir: String): DataFrame = {
    val scored = qualityLogreg(spark, dir)
      .join(documents(spark, dir).select(col("doc_id"), col("source")),
        "doc_id")
    val w = Window.partitionBy(col("source"))
    val ranked = scored
      .withColumn("rn_best", row_number().over(
        w.orderBy(col("score").desc, col("doc_id"))))
      .withColumn("rn_worst", row_number().over(
        w.orderBy(col("score").asc, col("doc_id"))))
    ranked.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        max(when(col("rn_best") === 1, col("doc_id"))).as("chosen_id"),
        max(when(col("rn_best") === 1, col("score"))).as("chosen_score"),
        max(when(col("rn_worst") === 1, col("doc_id"))).as("rejected_id"),
        max(when(col("rn_worst") === 1, col("score"))).as("rejected_score"))
      .withColumn("margin_e4", expr(
        "CAST(floor((chosen_score - rejected_score) * 10000 + 0.5)" +
          " AS BIGINT)"))
      .orderBy(col("source"))
  }

  /** T5-style span-corruption statistics: with the deterministic mask
    * policy "a 2-token span starts at every token index i ≡ 3 (mod 7)"
    * (≈28.6% corruption — the T5 recipe's 15% is a knob, the POLICY
    * shape is what's audited), per doc: token count, span count,
    * masked-token count, mask ratio ×10⁴, and the position-weighted
    * checksum Σ (i+1)·len(tokᵢ) of the VISIBLE tokens — any off-by-one
    * in span placement or truncation at the doc tail breaks it.
    * Top-20 docs by doc_id keeps the output bounded.
    *
    * Shape: pure per-row array arithmetic (transform + aggregate, all
    * codegen) — zero shuffles before the bounded sort; the 100 TB form
    * is identical. */
  def spanCorrupt(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(col("doc_id"), tokens.as("tk"))
      .withColumn("n_tok", size(col("tk")).cast("long"))
      // span starts: i in [0, n) with i % 7 == 3; each masks tokens
      // i and i+1 (the second truncated at the tail)
      .withColumn("n_spans", expr(
        "CAST((n_tok + 3) div 7 AS BIGINT)"))
      .withColumn("n_masked", expr(
        "aggregate(sequence(0, CAST(n_tok AS INT) - 1)," +
          " CAST(0 AS BIGINT), (s, i) -> s + CASE" +
          " WHEN i % 7 = 3 THEN CAST(least(2, n_tok - i) AS BIGINT)" +
          " ELSE CAST(0 AS BIGINT) END)"))
      .withColumn("mask_ratio_e4", expr("n_masked * 10000 div n_tok"))
      .withColumn("visible_checksum", expr(
        "aggregate(sequence(0, CAST(n_tok AS INT) - 1)," +
          " CAST(0 AS BIGINT), (s, i) -> s + CASE" +
          " WHEN i % 7 = 3 OR (i % 7 = 4 AND i > 0) THEN CAST(0 AS BIGINT)" +
          " ELSE CAST(i + 1 AS BIGINT) * length(tk[i]) END)"))
      .filter(col("n_tok") >= 1)
      .select(col("doc_id"), col("n_tok"), col("n_spans"),
        col("n_masked"), col("mask_ratio_e4"), col("visible_checksum"))
      .orderBy(col("doc_id"))
      .limit(20)

  /** Reliability diagram for the quality classifier: bucket the
    * enrolled logreg scores into 10 bins and report, per bin, the rate
    * of an INDEPENDENT weak label (doc has ≥ 50 tokens) next to the
    * bin's mean score — the calibration audit that tells a corpus
    * owner whether "score 0.8" means anything before they threshold
    * on it. Consumes qualityLogreg's output frame (no re-derivation).
    *
    * Binning floors score·10 on the same r4-grid doubles in both
    * engines — bit-identical inputs ⇒ bit-identical bins, regardless
    * of where the decimal boundary falls. Mean score is the integer
    * mean of floor(score·10⁴ + 0.5) (exact grid recovery), divided
    * once per bin.
    *
    * Shape: doc-sized join + 10-key partial-aggregable groupBy. */
  def scoreCalibration(spark: SparkSession, dir: String): DataFrame =
    scoredTokens(spark, dir)
      .withColumn("bin", expr(
        "least(CAST(9 AS BIGINT), CAST(floor(score * 10) AS BIGINT))"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
        sum(when(col("n_tok") >= 50, 1L).otherwise(0L)).as("n_label"),
        sum(expr("CAST(floor(score * 10000 + 0.5) AS BIGINT)"))
          .as("score_e4_sum"))
      .select(col("bin"), col("n_docs"), col("n_keep"), col("n_label"),
        expr("n_label * 10000 div n_docs").as("label_rate_e4"),
        expr("score_e4_sum div n_docs").as("mean_score_e4"))
      .orderBy(col("bin"))

  /** Brier score with the Murphy decomposition (J88):
    * Brier = REL − RES + UNC over the SAME 10 score bins and weak
    * label (doc ≥ 50 tokens) as [[scoreCalibration]] — the proper-
    * scoring-rule summary of the reliability diagram: REL (how far
    * bin forecasts sit from bin outcomes — lower is better), RES (how
    * much the bins separate outcomes — higher is better), UNC (the
    * label's own variance, the no-skill floor). The emitted `gap_e8`
    * = Brier − (REL − RES + UNC) is the WITHIN-BIN residue:
    * Σ(pᵢ−p̄)²/N − 2·Σ(pᵢ−p̄)(yᵢ−ō)/N (+ grid truncation) — the
    * variance the bins hide MINUS twice the forecast/outcome
    * covariance the binning assumes away. |gap| ≤ σ_p·(σ_p + 2σ_y)
    * ≈ 5.25·10⁶ e8-units for 0.1-wide bins; a gap near that bound
    * means the bins are too coarse to trust the diagram (measured
    * 7.4·10⁵ at sf0.001: the fixture's scores concentrate in two
    * bins with real within-bin signal — exactly what the column
    * surfaces). AUC says the ORDER is right; this row says the
    * PROBABILITIES are.
    *
    * Exactness: everything on the e4 grid squared to e8 — p floor-once,
    * y ∈ {0, 10⁴}, bin means with one truncating div each, component
    * sums ≤ N·10⁸ (BIGINT-safe through ~10¹⁰ docs); gap is pure
    * integer subtraction. Shape: doc-sized projection → 10-bin
    * partial-aggregable fold → 1-row algebra. */
  def brierDecomp(spark: SparkSession, dir: String): DataFrame = {
    val base = scoredTokens(spark, dir)
      .select(
        expr("CAST(floor(score * 10000 + 0.5) AS BIGINT)").as("p_e4"),
        when(col("n_tok") >= 50, lit(10000L)).otherwise(lit(0L))
          .as("y_e4"),
        expr("least(CAST(9 AS BIGINT), CAST(floor(score * 10)" +
          " AS BIGINT))").as("bin"))
    val bins = base.groupBy(col("bin"))
      .agg(count(lit(1)).as("nk"), sum(col("p_e4")).as("ps"),
        sum(expr("y_e4 div 10000")).as("n1"),
        sum(expr("(p_e4 - y_e4) * (p_e4 - y_e4)")).as("sq"))
      .select(col("bin"), col("nk"), expr("ps div nk").as("pbar"),
        expr("n1 * 10000 div nk").as("obar"), col("n1"), col("sq"))
    val tot = bins.agg(sum(col("nk")).as("n"), sum(col("n1")).as("m1"),
      sum(col("sq")).as("sqs"))
    bins.crossJoin(broadcast(tot))
      .agg(max(col("n")).as("n_docs"),
        expr("max(sqs) div max(n)").as("brier_e8"),
        expr("sum(nk * (pbar - obar) * (pbar - obar)) div max(n)")
          .as("rel_e8"),
        expr("sum(nk * (obar - m1 * 10000 div n)" +
          " * (obar - m1 * 10000 div n)) div max(n)").as("res_e8"),
        expr("max(m1 * 10000 div n) * (10000 - max(m1 * 10000 div n))")
          .as("unc_e8"))
      .withColumn("gap_e8",
        expr("brier_e8 - (rel_e8 - res_e8 + unc_e8)"))
  }

  /** Data-constrained epoch scheduling (the Muennighoff-style repeat
    * policy): quality quintiles (1 = best, by the enrolled logreg
    * score) are repeated {4,3,2,1,1} epochs, so the best data is seen
    * most — per quintile: docs, raw tokens, epochs, effective tokens,
    * and the quintile's share of the effective budget ×10⁴. The
    * schedule a token-starved pretraining run derives from its
    * quality scores.
    *
    * Shape: doc-sized score frame, ONE ntile window on a total order
    * (the rfm discipline), 5-key rollup; the effective-share ratio
    * rides a 1-row broadcast of the global effective sum. */
  def epochSchedule(spark: SparkSession, dir: String): DataFrame = {
    val sc = scoredTokens(spark, dir)
      .withColumn("quintile", ntile(5).over(
        Window.orderBy(col("score").desc, col("doc_id"))))
    val per = sc.groupBy(col("quintile"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tokens"))
      .withColumn("epochs", expr(
        "CAST(CASE quintile WHEN 1 THEN 4 WHEN 2 THEN 3 WHEN 3 THEN 2" +
          " ELSE 1 END AS BIGINT)"))
      .withColumn("effective_tokens", col("tokens") * col("epochs"))
    val tot = per.agg(sum(col("effective_tokens")).as("eff_total"))
    per.crossJoin(broadcast(tot))
      .select(col("quintile"), col("n_docs"), col("tokens"), col("epochs"),
        col("effective_tokens"),
        expr("effective_tokens * 10000 div eff_total").as("eff_share_e4"))
      .orderBy(col("quintile"))
  }

  /** Fill-in-middle (FIM) split audit: each doc's token stream cut at
    * n div 3 and (2n) div 3 into prefix/middle/suffix; per doc the
    * three lengths plus three position-weighted checksums
    * Σ (i+1)·len(tokᵢ) over each segment's GLOBAL indices — an
    * off-by-one at either boundary moves weight between adjacent
    * checksums and breaks the hash. Top-20 by doc_id. The PSM
    * reordering itself is a projection of these segments; the audit
    * pins the cut points, which is where FIM implementations break.
    *
    * Shape: per-row array arithmetic only (the span_corrupt class). */
  def fimSplit(spark: SparkSession, dir: String): DataFrame = {
    def seg(name: String, lo: String, hi: String) = Seq(
      expr(s"CAST($hi - $lo AS BIGINT)").as(s"len_$name"),
      expr("aggregate(sequence(0, CAST(n_tok AS INT) - 1)," +
        s" CAST(0 AS BIGINT), (s, i) -> s + CASE WHEN i >= $lo AND" +
        s" i < $hi THEN CAST(i + 1 AS BIGINT) * length(tk[i])" +
        " ELSE CAST(0 AS BIGINT) END)").as(s"cs_$name"))
    documents(spark, dir)
      .select(col("doc_id"), tokens.as("tk"))
      .withColumn("n_tok", size(col("tk")).cast("long"))
      .filter(col("n_tok") >= 3)
      .withColumn("p_end", expr("n_tok div 3"))
      .withColumn("m_end", expr("(2 * n_tok) div 3"))
      .select(Seq(col("doc_id"), col("n_tok")) ++
        seg("prefix", "0", "p_end") ++
        seg("middle", "p_end", "m_end") ++
        seg("suffix", "m_end", "n_tok"): _*)
      .orderBy(col("doc_id"))
      .limit(20)
  }

  /** MoE top-2 routing audit: route every embedding to its two
    * highest-dot-product "experts" (the 8 deterministic seed centroids
    * the kmeans row uses, in the same floor(x·10⁴) integer grid), then
    * report per-expert primary/secondary assignment counts and the
    * load share ×10⁴ — the balance numbers a mixture-of-experts
    * trainer watches (uniform would be 1250 per mille-of-2N here);
    * integer dots make the argmax aggregation-order-proof.
    *
    * Shape: 8-row centroid frame broadcast, per-vector dots inside
    * codegen, rank window over 8 rows per vector (bounded frame), then
    * an 8-key partial-aggregable rollup. */
  def moeRoute(spark: SparkSession, dir: String): DataFrame = {
    val q = embeddings(spark, dir).select(col("vec_id"),
      expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)" +
        " * 10000.0D) AS BIGINT))").as("q"))
    val cents = q.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("q").as("cq"))
    val dots = q.crossJoin(broadcast(cents))
      .withColumn("dot", expr(
        "aggregate(zip_with(q, cq, (a, b) -> a * b)," +
          " CAST(0 AS BIGINT), (s, t) -> s + t)"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("vec_id"))
          .orderBy(col("dot").desc, col("cid"))))
      .filter(col("rk") <= 2)
    val nTot = embeddings(spark, dir).agg(count(lit(1)).as("n_vec"))
    dots.groupBy(col("cid"))
      .agg(sum(when(col("rk") === 1, 1L).otherwise(0L)).as("n_primary"),
        sum(when(col("rk") === 2, 1L).otherwise(0L)).as("n_secondary"))
      .crossJoin(broadcast(nTot))
      .select(col("cid").as("expert_id"), col("n_primary"),
        col("n_secondary"),
        expr("(n_primary + n_secondary) * 10000 div (2 * n_vec)")
          .as("load_share_e4"))
      .orderBy(col("expert_id"))
  }

  /** Uncertainty (margin) sampling for active labeling: the 20 docs
    * whose quality score sits closest to the 0.5 decision boundary —
    * the rows a labeling budget buys first. Margin on the exact e4
    * grid (|score_e4 − 5000|), ties by doc_id. */
  def uncertaintySample(spark: SparkSession, dir: String): DataFrame =
    qualityLogreg(spark, dir)
      .withColumn("score_e4",
        expr("CAST(floor(score * 10000 + 0.5) AS BIGINT)"))
      .withColumn("margin_e4", expr("abs(score_e4 - 5000)"))
      .select(col("doc_id"), col("score"), col("margin_e4"))
      .orderBy(col("margin_e4"), col("doc_id"))
      .limit(20)

  /** GRPO-style group-relative advantage: per source group, each doc's
    * score minus its group mean (both on the exact e4 grid; the mean
    * is an integer div, the advantage is a SIGNED raw difference —
    * never divided, the m3 discipline; the σ-normalized variant needs
    * a sqrt and is documented as the float-at-the-edge production
    * step). Top-20 by advantage — the docs that most outperform their
    * domain, the group-relative signal GRPO feeds back. */
  def grpoAdvantage(spark: SparkSession, dir: String): DataFrame = {
    val sc = qualityLogreg(spark, dir)
      .join(documents(spark, dir).select(col("doc_id"), col("source")),
        "doc_id")
      .withColumn("s_e4", expr("CAST(floor(score * 10000 + 0.5) AS BIGINT)"))
    val mu = sc.groupBy(col("source"))
      .agg(expr("sum(s_e4) div count(1)").as("mean_e4"),
        count(lit(1)).as("n_group"))
    sc.join(broadcast(mu), "source")
      .select(col("source"), col("doc_id"), col("s_e4"), col("mean_e4"),
        col("n_group"), (col("s_e4") - col("mean_e4")).as("adv_e4"))
      .orderBy(col("adv_e4").desc, col("doc_id"))
      .limit(20)
  }

  /** Nucleus (top-p, p=0.9) vocabulary audit over the corpus bigram
    * LM: per context token, the smallest count-descending next-token
    * prefix whose cumulative mass reaches ⌈0.9·total⌉, and how much of
    * the full next-vocab it keeps — the sampling-time vocab reduction
    * an inference stack gets from nucleus filtering. A row is in the
    * nucleus iff the cumulative mass BEFORE it is still short of the
    * target (cum − c < ⌈9·total div 10⌉) — the standard take-until
    * definition, expressed in pure integers.
    *
    * Shape: bigram groupBy (corpus shuffle), per-context window over
    * the VOCAB-sized count table (Heaps-bounded, never corpus-sized),
    * bounded top-20-contexts output. */
  def topPVocab(spark: SparkSession, dir: String): DataFrame = {
    val bg = documents(spark, dir)
      .select(tokens.as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(tk) - 2)," +
          " i -> struct(tk[i] AS w1, tk[i + 1] AS w2))")).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("w1"))
    val cum = bg
      .withColumn("cum", sum(col("c")).over(
        w.orderBy(col("c").desc, col("w2"))))
      .withColumn("total", sum(col("c")).over(w))
      .withColumn("target", expr("(9 * total + 9) div 10"))
      .withColumn("kept",
        when(col("cum") - col("c") < col("target"), 1L).otherwise(0L))
    cum.groupBy(col("w1"))
      .agg(max(col("total")).as("total"),
        count(lit(1)).as("vocab_full"),
        sum(col("kept")).as("vocab_nucleus"))
      .withColumn("keep_rate_e4",
        expr("vocab_nucleus * 10000 div vocab_full"))
      .orderBy(col("total").desc, col("w1"))
      .limit(20)
  }

  /** Linear-probe signal per embedding dimension: split vectors by
    * label parity and report, for the 10 most discriminative dims, the
    * per-group integer means (µ-units) and their RAW signed difference
    * — which dimensions carry the class signal, the one-weight-per-dim
    * diagnostic run before training a real probe. Means use the
    * SHIFTED division (+10⁶ per element ⇒ nonnegative dividend, since
    * every component > −1; the pinned idiom), so trunc-vs-floor never
    * fires; the difference itself is never divided.
    *
    * Shape: one posexplode → (dim, parity) 128-key partial-aggregable
    * groupBy → 64-key pivot → bounded top-10. */
  def dimProbe(spark: SparkSession, dir: String): DataFrame = {
    val v = embeddings(spark, dir)
      .select((col("label") % 2).as("parity"),
        posexplode(expr("transform(embedding," +
          " t -> CAST(floor(CAST(t AS DOUBLE) * 1000000.0D + 0.5)" +
          " AS BIGINT))")).as(Seq("dim", "x")))
    v.groupBy(col("dim"), col("parity"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
      .withColumn("mean_e6",
        expr("(s + n * 1000000) div n - 1000000"))
      .groupBy(col("dim"))
      .agg(max(when(col("parity") === 0, col("mean_e6"))).as("mean0_e6"),
        max(when(col("parity") === 1, col("mean_e6"))).as("mean1_e6"))
      .withColumn("diff_e6", col("mean0_e6") - col("mean1_e6"))
      .withColumn("abs_diff_e6", abs(col("diff_e6")))
      .orderBy(col("abs_diff_e6").desc, col("dim"))
      .limit(10)
  }

  /** Best-of-N selection curve: docs bucketed into pseudo-prompts of
    * N ∈ {2, 4, 8} consecutive doc_ids; per N, the mean of each
    * group's BEST quality score vs the mean of its average — the
    * BoN uplift and how it scales with N (the selection-pressure
    * curve an RLHF/rejection-sampling pipeline budgets against).
    * Scores on the e4 grid; per-group mean is a nonneg integer
    * division; the uplift is a raw difference of two already-floored
    * averages (provably ≥ 0: best ≥ mean per group, sums preserve it,
    * and floor is monotone).
    *
    * Shape: doc-sized score frame, 3 grouping passes (broadcast-free,
    * partial-aggregable), 3-row output. */
  def bestOfN(spark: SparkSession, dir: String): DataFrame = {
    val sc = qualityLogreg(spark, dir)
      .select(col("doc_id"),
        expr("CAST(floor(score * 10000 + 0.5) AS BIGINT)").as("s_e4"))
    Seq(2, 4, 8).map { n =>
      sc.withColumn("grp", expr(s"doc_id div $n"))
        .groupBy(col("grp"))
        .agg(max(col("s_e4")).as("best"),
          expr("sum(s_e4) div count(1)").as("mean"))
        .agg(count(lit(1)).as("n_groups"),
          expr("sum(best) div count(1)").as("avg_best_e4"),
          expr("sum(mean) div count(1)").as("avg_mean_e4"))
        .select(lit(n.toLong).as("n"), col("n_groups"),
          col("avg_best_e4"), col("avg_mean_e4"),
          (col("avg_best_e4") - col("avg_mean_e4")).as("uplift_e4"))
    }.reduce(_ unionAll _).orderBy(col("n"))
  }

  /** Pairwise win-rate matrix: the leaderboard primitive
    * behind every model comparison — per source pair (the pseudo-
    * "models"), over the 20-doc pseudo-prompt groups where both
    * fielded an entry, who scored higher, how often, and the tie
    * census. Consumes qualityLogreg's OUTPUT frame (the bestOfN
    * rule: a derived row must not re-derive its input). Win rates
    * exclude ties from neither side: winrate_a_e4 = wins_a·10⁴ div
    * n_shared, so winrate_a + winrate_b + tie_share ≈ 10⁴ and the
    * matrix is antisymmetric by construction (only a < b pairs ship).
    *
    * Shape: doc-sized score frame → (group, source) best fold → a
    * GROUP-KEYED self-join whose fan-out is models²-per-prompt
    * (bounded by the roster, never by the corpus) → pair rollup.
    * This is exactly the eval-harness shape at scale: prompts
    * partition, rosters are small. */
  def pairwiseWins(spark: SparkSession, dir: String): DataFrame = {
    val sc = qualityLogreg(spark, dir)
      .select(col("doc_id"),
        expr("CAST(floor(score * 10000 + 0.5) AS BIGINT)").as("s_e4"))
    val entries = documents(spark, dir)
      .select(col("doc_id"), col("source"))
      .join(sc, "doc_id")
      .withColumn("grp", expr("doc_id div 20"))
      .groupBy(col("grp"), col("source"))
      .agg(max(col("s_e4")).as("s"))
    entries.as("x")
      .join(entries.as("y"),
        col("x.grp") === col("y.grp") &&
          col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("a"), col("y.source").as("b"))
      .agg(count(lit(1)).as("n_shared"),
        sum(when(col("x.s") > col("y.s"), 1L).otherwise(0L))
          .as("n_win_a"),
        sum(when(col("x.s") < col("y.s"), 1L).otherwise(0L))
          .as("n_win_b"),
        sum(when(col("x.s") === col("y.s"), 1L).otherwise(0L))
          .as("n_tie"))
      .withColumn("winrate_a_e4",
        expr("n_win_a * 10000 div n_shared"))
      .orderBy(col("a"), col("b"))
  }

  /** Bradley–Terry strength fit: the leaderboard step AFTER
    * the pairwise win-rate matrix — turn the antisymmetric wins table
    * into a single per-model strength so non-shared-prompt models
    * become comparable. Two unrolled minorization–maximization
    * iterations from the uniform prior: w_i ← W_i / Σ_j n_ij/(w_i+w_j),
    * then normalized to mean 10⁶ across the roster (BT is
    * scale-invariant, so the normalization is presentation only).
    * Consumes pairwiseWins' OUTPUT frame (the bestOfN rule: a derived
    * row must not re-derive its input).
    *
    * Exactness: strengths in e6 fixed point; each MM term is
    * n_ij·10¹² div greatest(w_i+w_j, 1) (units e6, total division per
    * the greatest-guard rule), w' = W_i·10¹² div greatest(den, 1).
    * All operands nonnegative, so truncating div ≡ floor div in both
    * engines. Overflow bound: W_i ≤ 19·groups ≈ 4750 at sf0.1 →
    * W_i·10¹² ≈ 5·10¹⁵ ≪ 2⁶³; w·k·10⁶ ≈ 2·10⁶·20·10⁶ = 4·10¹³. Safe
    * through sf10.
    *
    * Shape (100 TB): the pair matrix is rosters², never corpus-sized —
    * every join below is on a ≤k²-row frame (k = 20 sources here), so
    * the whole fit is broadcast-joined driver-free arithmetic; the
    * only data-scale work is inside pairwiseWins itself. */
  def bradleyTerry(spark: SparkSession, dir: String): DataFrame = {
    // localCheckpoint: the MM iterations below reference this frame
    // through sym/tot/w1/w2 so many times that the WHOLE pairwiseWins→
    // qualityLogreg pipeline replicated ~10× in the physical plan
    // (422 Exchanges without the cut, 38 with it; the tail's remaining
    // cost is ~25 micro-stages over ≤190-row
    // frames, which AQE broadcasts either way). The frame is
    // ≤ roster²/2 rows (190 here) — the k-sized cache-the-frontier
    // discipline from mmrRerank/connectedComponents, never corpus-sized.
    val pw = pairwiseWins(spark, dir)
      .select(col("a"), col("b"), col("n_shared"),
        col("n_win_a"), col("n_win_b"))
      .localCheckpoint()
    val sym = pw.select(col("a").as("i"), col("b").as("j"),
        col("n_shared").as("n"), col("n_win_a").as("w"))
      .unionAll(pw.select(col("b").as("i"), col("a").as("j"),
        col("n_shared").as("n"), col("n_win_b").as("w")))
    // tot/w2 are roster-sized (≤ 20 rows) and each referenced by 2–3
    // downstream branches; without the cuts the MM tail re-planned
    // every reference's whole subtree — 38 Exchanges / ~25 micro-stages
    // without them, 3 Exchanges plus two k-sized checkpoint jobs with
    // them (plans/r15/q_llm_bradley_terry_{before,after}.txt).
    // localCheckpoint (not reliable checkpoint) is deliberate for these
    // k-sized frames: executor-loss exposure on ≤20 cached rows is
    // negligible and a reliable checkpoint would add a filesystem
    // round-trip per bench run (same tradeoff as mmrRerank's 1-row
    // picks; the corpus-scale CC loop is where the reliable-dir knob
    // lives).
    val tot = sym.groupBy(col("i"))
      .agg(sum(col("w")).as("wins"), sum(col("n")).as("games"))
      .localCheckpoint()
    // iteration 1 from the uniform prior w0 = 1e6 (so w_i + w_j = 2e6).
    // The per-pair term n·10¹² div 2·10⁶ is EXACT (10¹² = 2·10⁶ ×
    // 5·10⁵, so the div has zero remainder and equals n·500000), hence
    // den₁(i) = Σ_j n_ij·500000 = games(i)·500000 — algebraically
    // identical to the old per-term-div groupBy over sym, bit-for-bit,
    // but derived from tot with no extra shuffle + join (one exchange
    // instead of two plus a join).
    val w1 = tot.select(col("i"),
      expr("wins * 1000000000000" +
        " div greatest(games * 500000, 1)").as("w"))
    val w2 = sym.as("s")
      .join(w1.as("wi"), col("s.i") === col("wi.i"))
      .join(w1.as("wj"), col("s.j") === col("wj.i"))
      .groupBy(col("s.i").as("i"))
      .agg(sum(expr("s.n * 1000000000000" +
        " div greatest(wi.w + wj.w, 1)")).as("den"))
      .join(tot, Seq("i"))
      .select(col("i"), col("wins"), col("games"),
        expr("wins * 1000000000000 div greatest(den, 1)").as("w"))
      .localCheckpoint()
    val norm = w2.agg(sum(col("w")).as("sw"), count(lit(1)).as("k"))
    w2.crossJoin(broadcast(norm))
      .select(col("i").as("source"), col("games"), col("wins"),
        expr("w * k * 1000000 div greatest(sw, 1)").as("bt_e6"))
      .orderBy(col("source"))
  }

  /** Embedding-space outlier scan: the vectors farthest
    * from their OWN label's centroid — the mislabeled-candidate /
    * corrupt-vector queue an embedding pipeline reviews before
    * training a classifier on the labels. Exact integers: dims
    * floored to e4, centroid = floored per-dim mean (the kmeansStep
    * quantization), dist² = Σ(v − c)² in BIGINT (64 dims × (2·10⁴)²
    * ≈ 2.6·10¹⁰ per vector — no overflow lane needed at any corpus
    * size since dims and the e4 grid are fixed). Top-10 by distance,
    * vec_id tie-break.
    *
    * Shape (100 TB): posexplode (map-side) → (label, dim) centroid
    * fold (k·64 rows, broadcastable) → map-side dist² fold →
    * TakeOrderedAndProject top-10. */
  def embedOutliers(spark: SparkSession, dir: String): DataFrame = {
    val dims = embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("dim", "e")))
      .select(col("vec_id"), col("label"), col("dim"),
        // CAST AS DOUBLE before scaling — the centroid_shift parity
        // lesson: FLOAT*INT promotion order differs between engines
        // on ~1/32k cells; float64 math is IEEE-identical
        expr("CAST(floor(CAST(e AS DOUBLE) * 10000 + 0.5) AS BIGINT)")
          .as("v"))
    val cent = dims.groupBy(col("label"), col("dim"))
      .agg(expr("sum(v) div count(1)").as("cv"))
    dims.join(broadcast(cent), Seq("label", "dim"))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum((col("v") - col("cv")) * (col("v") - col("cv")))
        .as("dist2"))
      .orderBy(col("dist2").desc, col("vec_id"))
      .limit(10)
  }

  /** Between/within class geometry (J58): per label, the squared
    * distance of the LABEL CENTROID to the global centroid
    * (between-class scatter) against the mean squared distance of the
    * label's own vectors to that centroid (within-class scatter) —
    * the per-class Fisher separation ratio. The class-level complement
    * of q_llm_embed_outliers (which ranks individual vectors) and the
    * geometric WHY behind q_llm_knn_label's accuracy: labels with
    * sep_e4 near zero are the ones kNN confuses.
    *
    * Exactness: the embedOutliers e4-grid + floored-centroid
    * quantization verbatim; dist² sums are BIGINT (64 fixed dims ×
    * (2·10⁴)² — no overflow lane needed at any corpus size); one
    * truncating div for the ratio.
    *
    * Shape (100 TB): posexplode → (label, dim) fold (k·64 rows,
    * broadcast) + dim fold (64 rows, broadcast) → map-side dist²
    * folds → k-row join. */
  def centroidShift(spark: SparkSession, dir: String): DataFrame = {
    val dims = embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("dim", "e")))
      .select(col("vec_id"), col("label"), col("dim"),
        // explicit float64 BEFORE the scale: FLOAT*INT promotion
        // differs between engines (measured: 1 of 32k cells rounds
        // apart), while float32->float64 conversion is exact and
        // float64 arithmetic is IEEE-identical on both
        expr("CAST(floor(CAST(e AS DOUBLE) * 10000 + 0.5) AS BIGINT)")
          .as("v"))
    val cent = dims.groupBy(col("label"), col("dim"))
      .agg(expr("sum(v) div count(1)").as("cv"))
    val gcent = dims.groupBy(col("dim"))
      .agg(expr("sum(v) div count(1)").as("gv"))
    val between = cent.join(broadcast(gcent), "dim")
      .groupBy(col("label"))
      .agg(sum((col("cv") - col("gv")) * (col("cv") - col("gv")))
        .as("between_d2"))
    val within = dims.join(broadcast(cent), Seq("label", "dim"))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum((col("v") - col("cv")) * (col("v") - col("cv")))
        .as("d2"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        expr("sum(d2) div count(1)").as("within_d2"))
    within.join(between, "label")
      .select(col("label"), col("n_vecs"), col("between_d2"),
        col("within_d2"),
        expr("between_d2 * 10000 div greatest(within_d2, 1)")
          .as("sep_e4"))
      .orderBy(col("label"))
  }

  /** Token-budget quality threshold (J67): the DOC-level knob beside
    * q_llm_greedy_mix's source-level one — find the score cutoff that
    * keeps closest to (without exceeding) half the corpus tokens when
    * keeping every doc scoring ≥ cutoff. Computed from the score-grid
    * SUPPORT census with a descending token cum — the AUC idiom, so
    * no per-doc sort at any scale. Emits the chosen cutoff, the
    * tokens/docs actually kept, and the achieved share — the exact
    * config value a curation pipeline writes into its filter.
    *
    * Exactness: scores enter on the r4 grid ×10⁴ (the
    * score_calibration quantization); the cutoff pick is a pure rank
    * condition (greatest cutoff whose cum stays ≤ budget).
    *
    * Shape (100 TB): doc-sized score pass → score-grid census
    * (≤ 10⁴ cells) → window cum on THAT census → 1-row pick. */
  def budgetThreshold(spark: SparkSession, dir: String): DataFrame = {
    val d = scoredTokens(spark, dir)
      .select(expr("CAST(floor(score * 10000 + 0.5) AS BIGINT)")
        .as("s_e4"), col("n_tok"))
    val cen = d.groupBy(col("s_e4"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tok"))
    val tot = d.agg(sum(col("n_tok")).as("tt"))
    val cum = cen.withColumn("cum_tok", sum(col("tok")).over(
      org.apache.spark.sql.expressions.Window
        .orderBy(col("s_e4").desc)))
      .withColumn("cum_docs", sum(col("n_docs")).over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("s_e4").desc)))
      .crossJoin(broadcast(tot))
    cum.filter(col("cum_tok") * 2 <= col("tt"))
      .orderBy(col("s_e4"))
      .limit(1)
      .select(col("s_e4").as("cutoff_e4"), col("cum_docs").as("n_kept"),
        col("cum_tok").as("tokens_kept"), col("tt").as("tokens_total"),
        expr("cum_tok * 10000 div tt").as("kept_share_e4"))
  }

  /** Greedy quality-max mix under a token budget (J63): rank sources
    * by mean enrolled-logreg quality, take whole sources in rank order
    * until the cumulative token count exceeds HALF the corpus — the
    * planning table a token-constrained pretraining run derives before
    * q_llm_epoch_schedule decides repeats (schedule answers "how many
    * epochs each"; this answers "which sources at all"). Whole-source
    * greedy, no fractional split — the knapsack relaxation every real
    * mix config uses, documented. All 20 sources are emitted with the
    * picked flag so the cut line is auditable.
    *
    * Exactness: q_e4 = Σ floor(score·10⁴+0.5) div n_docs (the
    * score_calibration grid); rank/cume by window on the SOURCE-sized
    * frame.
    *
    * Shape (100 TB): doc-sized score pass (map-only model) → source
    * fold → 20-row window. */
  def greedyMix(spark: SparkSession, dir: String): DataFrame = {
    val perSrc = scoredTokens(spark, dir, "source")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tok"),
        expr("sum(CAST(floor(score * 10000 + 0.5) AS BIGINT))" +
          " div count(1)").as("q_e4"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("q_e4").desc, col("source"))
    val tot = perSrc.agg(sum(col("n_tok")).as("tt"))
    perSrc
      .withColumn("rank", row_number().over(w))
      .withColumn("cum_tok", sum(col("n_tok")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)))
      .crossJoin(broadcast(tot))
      .select(col("source"), expr("CAST(rank AS BIGINT)").as("rank"),
        col("n_docs"), col("n_tok"), col("q_e4"), col("cum_tok"),
        expr("cum_tok * 2 <= tt").as("picked"))
      .orderBy(col("rank"))
  }

  /** Data-loader shard balance (J62): split the corpus into 8 shards
    * by the shared md5-h60 residue (the split_assign hashing) and
    * measure TOKEN balance — docs hash-balance by construction, but
    * tokens follow doc length, and a skewed shard is the straggler
    * that stalls every distributed-training step (the training-side
    * twin of q_diag_skew). Emits per-shard docs/tokens/share plus the
    * max/min token ratio.
    *
    * Shape: map-only hash + token count → 8-cell census → broadcast
    * fold. */
  def shardBalance(spark: SparkSession, dir: String): DataFrame = {
    val sh = documents(spark, dir)
      .select(expr(s"${LlmOps.h60("CAST(doc_id AS STRING)")} % 8")
        .as("shard"), size(tokens).cast("long").as("n_tok"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    val tot = sh.agg(sum(col("n_tokens")).as("tt"),
      max(col("n_tokens")).as("mx"), min(col("n_tokens")).as("mn"))
    sh.crossJoin(broadcast(tot))
      .select(col("shard"), col("n_docs"), col("n_tokens"),
        expr("n_tokens * 10000 div tt").as("share_e4"),
        expr("mx * 10000 div greatest(mn, 1)").as("imbalance_e4"))
      .orderBy(col("shard"))
  }

  /** Int8 scalar-quantization error (J61): per label, the MSE and
    * worst-case error of round-to-int8 embedding compression
    * (q = round(e·127), reconstruct q/127) — the simplest tier of the
    * compression family (PQ / Matryoshka / 1-bit Hamming are
    * enrolled; int8 is what production vector stores actually default
    * to) and the number that says whether 4× memory savings costs
    * anything here. Unit-norm dims stay inside |e| ≤ 1, so q needs no
    * clamp (the normAudit precondition, cited not re-proven).
    *
    * Exactness: e enters through the explicit float64 cast (the
    * centroidShift parity lesson); err_e6 = floor(e·10⁶+0.5) −
    * q·10⁶ div 127 — one truncating div, shared text; MSE ×10⁻¹²
    * per-label fold.
    *
    * Shape: map-only posexplode projection → k-row fold. */
  def int8Quant(spark: SparkSession, dir: String): DataFrame =
    embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding"))
        .as(Seq("dim", "e")))
      .select(col("label"),
        expr("""CAST(floor(CAST(e AS DOUBLE) * 1000000 + 0.5)
          | AS BIGINT) - CAST(floor(CAST(e AS DOUBLE) * 127 + 0.5)
          | AS BIGINT) * 1000000 div 127""".stripMargin).as("err_e6"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_dims"),
        expr("sum(err_e6 * err_e6) div count(1)").as("mse_e12"),
        max(abs(col("err_e6"))).as("max_abs_err_e6"))
      .orderBy(col("label"))

  /** Unit-norm precondition audit: ARE the embeddings
    * normalized? The check every vector store runs before choosing
    * dot-product over cosine (they coincide iff norms are constant) —
    * and on this corpus they are: norm² ∈ [1 − 10⁻⁶, 1 + 10⁻⁶], so
    * the IVF/LSH rows' dot-product scoring is exactly cosine scoring.
    * Emits min/max norm² in e6 (the cosine rows' PROVEN rounding
    * granularity — finer floors risk last-ulp drift between Spark's
    * fold and DuckDB's list_inner_product accumulation) plus the
    * all-unit verdict at the ±10⁻⁴ tolerance (authored literal).
    *
    * Shape: map-only per-row fold → 1-row census. */
  def normAudit(spark: SparkSession, dir: String): DataFrame =
    embeddings(spark, dir)
      .select(expr("""CAST(floor(aggregate(embedding,
        |CAST(0.0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE)
        | * CAST(x AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)"""
        .stripMargin).as("n2_e6"))
      .agg(count(lit(1)).as("n_vecs"),
        min(col("n2_e6")).as("min_norm2_e6"),
        max(col("n2_e6")).as("max_norm2_e6"))
      .select(col("n_vecs"), col("min_norm2_e6"), col("max_norm2_e6"),
        expr("min_norm2_e6 >= 1000000 - 100" +
          " AND max_norm2_e6 <= 1000000 + 100").as("all_unit"))

  /** Split-representativeness KL (J51): KL(val ‖ train) over the
    * token distribution, using the SAME md5-h60 buckets as
    * q_llm_split_assign — the audit that closes the split family:
    * assignment says WHO is in val; this row says whether val still
    * LOOKS like train (a skewed val set silently mis-ranks
    * checkpoints). Restricted + renormalized over the shared vocab
    * (Gibbs ⇒ KL ≥ 0 in exact arithmetic); val-only tokens are
    * counted separately as `oov_val_tokens` (the q_llm_oov_rate
    * companion number) rather than smoothed in.
    *
    * Arithmetic: the domain_kl lnE3 idiom — each ln rounded ONCE to
    * milli-nats, term = vc·(lnE3(vc·tt) − lnE3(tc·tv)), all BIGINT.
    * The e3 floors can push a near-zero sum a hair negative, and
    * Spark `div` truncates toward zero while DuckDB `//` floors — so
    * the final division uses the SHIFTED-nonnegative idiom
    * ((num + tv·10⁶) div tv − 10⁶), exact-identical on both engines
    * for |KL| < 1000 nats.
    *
    * Shape: one tokenize shuffle into a vocab-keyed conditional
    * census (split membership is a map-side projection of doc_id —
    * zero extra shuffles, the split_assign property), then a
    * vocab-sized fold to one row. 100 TB cost = the token census
    * every corpus-health row already pays. */
  def splitKl(spark: SparkSession, dir: String): DataFrame = {
    val cnt = documents(spark, dir)
      .withColumn("bucket",
        expr(s"${LlmOps.h60("CAST(doc_id AS STRING)")} % 1000"))
      .filter(col("bucket") < 990)
      .withColumn("s", expr("CASE WHEN bucket < 980 THEN 0 ELSE 1 END"))
      .select(col("s"), explode(tokens).as("w"))
      .groupBy(col("w"))
      .agg(sum(when(col("s") === 0, 1L).otherwise(0L)).as("tc"),
        sum(when(col("s") === 1, 1L).otherwise(0L)).as("vc"))
    val shared = cnt.filter(col("tc") > 0 && col("vc") > 0)
    val tots = shared.agg(sum(col("tc")).as("tt"), sum(col("vc")).as("tv"),
      count(lit(1)).as("n_shared"))
    val oov = cnt.filter(col("vc") > 0 && col("tc") === 0)
      .agg(coalesce(sum(col("vc")), lit(0L)).as("oov_val_tokens"))
    shared.crossJoin(broadcast(tots))
      .withColumn("term", expr(
        "vc * (CAST(floor(ln(vc * tt) * 1000 + 0.5) AS BIGINT)" +
          " - CAST(floor(ln(tc * tv) * 1000 + 0.5) AS BIGINT))"))
      .groupBy(col("n_shared"), col("tt"), col("tv"))
      .agg(sum(col("term")).as("num"))
      .crossJoin(broadcast(oov))
      .select(col("n_shared"), col("tt").as("tot_train"),
        col("tv").as("tot_val"), col("oov_val_tokens"),
        expr("(num + tv * 1000000) div tv - 1000000").as("kl_e3"))
  }

  /** SIF token down-weights (J75, Arora et al.'s smooth inverse
    * frequency): w(t) = a / (a + p(t)) with a = 10⁻³, the
    * weighting that turns bag-of-embedding averages into the classic
    * "tough-to-beat" sentence embedding (frequent tokens contribute
    * almost nothing, rare tokens fully). The companion table to
    * q_llm_abtt's common-component removal — together they ARE the
    * SIF pipeline; also the principled replacement for hand-curated
    * stopword lists (q_llm_stopword_discovery finds candidates, this
    * weights them continuously).
    *
    * Exactness: with a = 1/1000 and p = c/N, the weight is EXACTLY
    * N/(N + 1000·c) — fully integer, one truncating div to e6. No ln,
    * no float anywhere. Overflow: N·10⁶ needs N < 9·10¹² (move the
    * lane to DECIMAL(38,0) past that corpus size, the assortativity
    * discipline).
    *
    * Shape (100 TB): one tokenize + vocab-sized partial-aggregable
    * count, 1-row total broadcast, map-only weight + top-k. */
  def sifWeights(spark: SparkSession, dir: String): DataFrame = {
    val cnt = documents(spark, dir)
      .select(explode(tokens).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val n = cnt.agg(sum(col("c")).as("n_tok"))
    cnt.crossJoin(broadcast(n))
      .select(col("w").as("token"), col("c"), col("n_tok"),
        expr("n_tok * 1000000 div (n_tok + 1000 * c)").as("sif_e6"))
      .orderBy(col("c").desc, col("token"))
      .limit(50)
  }

  /** One unigram-LM EM step (J76, the SentencePiece/Kudo estimator's
    * inner loop): over a bounded segmentation lattice
    * (each distinct token ≤ 8 chars contributes its WHOLE form plus
    * every 2-way split), E-step computes each segmentation's posterior
    * under the occurrence-estimate p₀ (the uniform-posterior M-step),
    * M-step re-estimates piece probabilities from the posteriors —
    * pieces that COMPOSE well gain mass, redundant whole forms lose
    * it. The lattice member of the tokenizer-training family: BPE
    * (q_llm_bpe_merge) greedily merges, WordPiece
    * (q_llm_wordpiece_merge) scores by likelihood ratio, unigram-EM
    * soft-assigns over all segmentations — all three now enrolled.
    * Top-30 pieces by re-estimated probability.
    *
    * Exactness: p₀ on the e6 grid; segmentation scores are exact e12
    * products (whole = p₀·10⁶ so both arms share the grid); posteriors
    * one e6 truncating div (z ≤ 9·10¹² — BIGINT-safe); M-step mass in
    * BIGINT with the final division in DECIMAL(38,0)/HUGEINT (mass·10⁶
    * crosses 2⁶³ at ~10¹³ corpus tokens — the assortativity lane).
    *
    * Shape (100 TB): ONE tokenize shuffle to the vocab-sized frequency
    * table; the lattice is vocab×(≤8) rows, every join after is keyed
    * on piece or token — corpus size enters only as the frequency
    * weight, never as a row count. */
  def unigramEm(spark: SparkSession, dir: String): DataFrame = {
    val tk = documents(spark, dir)
      .select(explode(tokens).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .filter(length(col("w")).between(1, 8))
      .localCheckpoint() // vocab-sized; seeds lattice + both steps
    val whole = tk.select(col("w"), col("f"), col("w").as("pa"),
      lit(null).cast("string").as("pb"))
    val splits = tk.filter(length(col("w")) >= 2)
      .select(col("w"), col("f"), explode(expr(
        """transform(sequence(1, length(w) - 1),
          |  i -> struct(substring(w, 1, i) AS pa,
          |              substring(w, i + 1) AS pb))""".stripMargin))
        .as("s"))
      .select(col("w"), col("f"), col("s.pa").as("pa"),
        col("s.pb").as("pb"))
    val segs = whole.unionAll(splits).localCheckpoint()
    def pieceRows(df: DataFrame, weight: String): DataFrame =
      df.select(col(weight), explode(when(col("pb").isNull,
          array(col("pa"))).otherwise(array(col("pa"), col("pb"))))
        .as("piece"))
    val occ = pieceRows(segs.withColumn("wt", col("f")), "wt")
      .groupBy(col("piece")).agg(sum(col("wt")).as("occ"))
    val tot = occ.agg(sum(col("occ")).as("t"))
    val p0 = occ.crossJoin(broadcast(tot))
      .select(col("piece"), col("occ"),
        expr("occ * 1000000 div t").as("p0_e6"))
      .localCheckpoint()
    val sc = segs
      .join(p0.select(col("piece").as("pa"), col("p0_e6").as("qa")), "pa")
      .join(p0.select(col("piece").as("pb"), col("p0_e6").as("qb")),
        Seq("pb"), "left")
      .withColumn("score_e12", when(col("pb").isNull,
        expr("qa * 1000000")).otherwise(expr("qa * qb")))
    val z = sc.groupBy(col("w")).agg(sum(col("score_e12")).as("z"))
    // greatest-guard (review): a word whose every segmentation scores
    // 0 on the truncated e6 grid (all-hapax pieces on a Zipf corpus)
    // makes z = 0 — the ANSI DIVIDE_BY_ZERO the house guard exists for
    val post = sc.join(z, "w")
      .withColumn("post_e6",
        expr("score_e12 * 1000000 div greatest(z, 1)"))
      .withColumn("wt", expr("f * post_e6"))
    val mass = pieceRows(post, "wt")
      .groupBy(col("piece")).agg(sum(col("wt")).as("m"))
    val mt = mass.agg(sum(col("m")).as("mt"))
    mass.crossJoin(broadcast(mt)).join(p0, "piece")
      .select(col("piece"), col("occ"), col("p0_e6"),
        expr("""CAST(CAST(m AS DECIMAL(38,0)) * 1000000
          | div greatest(mt, 1) AS BIGINT)""".stripMargin).as("p1_e6"))
      .orderBy(col("p1_e6").desc, col("piece"))
      .limit(30)
  }

  /** pass@k (J88): the unbiased Codex estimator
    * 1 − C(n−c, k)/C(n, k) over fixed n = 16 pseudo-samples per task
    * (doc_id div 16 groups; "correct" = logreg score ≥ the global p75,
    * an exact support-census quantile), averaged over full tasks for
    * k ∈ {1, 4, 8} — THE code/RL sampling-eval metric, and the
    * principled version of what q_llm_best_of_n's avg-max gestures at
    * (best-of-n reports the score uplift; pass@k reports the success
    * PROBABILITY with the unbiased combinatorial correction instead
    * of the naive 1−(1−p)^k). Monotone in k by construction
    * (spec-pinned).
    *
    * Exactness: with n FIXED at 16 the falling-factorial numerators
    * are explicit integer products (max 16·…·9 ≈ 5.2·10⁸) and the
    * denominators are literals — exact BIGINT throughout, one
    * truncating div per (task, k). Shape: doc-sized score projection →
    * 16-doc group fold → ×3 constant fan-out → 3-row census. */
  def passAtK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sc = qualityLogreg(spark, dir)
      .select(col("doc_id"),
        expr("CAST(floor(score * 10000 + 0.5) AS BIGINT)").as("s_e4"))
    val thr = sc.groupBy(col("s_e4")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(Window.orderBy(col("s_e4"))))
      .withColumn("nn", sum(col("c")).over(Window.partitionBy(lit(1))))
      .filter(expr("cum * 4 >= nn * 3"))
      .agg(min(col("s_e4")).as("thr"))
    val tasks = sc.crossJoin(broadcast(thr))
      .withColumn("grp", expr("doc_id div 16"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("s_e4") >= col("thr"), 1L).otherwise(0L)).as("c"))
      .filter(col("n") === 16)
    val ks = Seq((1L, 16L), (4L, 43680L), (8L, 518918400L))
      .toDF("k", "den")
    tasks.crossJoin(broadcast(ks))
      .withColumn("num", expr(
        """CASE WHEN k = 1 THEN greatest(16 - c, 0)
          | WHEN k = 4 THEN CASE WHEN c > 12 THEN 0
          |   ELSE (16-c)*(15-c)*(14-c)*(13-c) END
          | ELSE CASE WHEN c > 8 THEN 0
          |   ELSE (16-c)*(15-c)*(14-c)*(13-c)*(12-c)*(11-c)*(10-c)*(9-c)
          |   END END""".stripMargin))
      .withColumn("pass_e6", expr("1000000 - num * 1000000 div den"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_tasks"),
        expr("sum(c) * 10000 div (16 * count(1))").as("avg_correct_e4"),
        expr("sum(pass_e6) div count(1)").as("pass_at_k_e6"))
      .orderBy(col("k"))
  }

  /** Expected calibration error (J91): ECE = Σ (n_b/N)·
    * |p̄_b − ȳ_b| with MCE = max_b |p̄_b − ȳ_b| over the SAME 10 bins
    * and weak label as q_llm_score_calibration / q_llm_brier_decomp —
    * the L1 member of the calibration family and THE number model
    * cards report (Brier's REL is its squared cousin; the |·| form is
    * what Guo et al. 2017 standardized). The signed companion
    * `overconf_e4` (Σ n_b(p̄_b − ȳ_b)/N) gives the DIRECTION the
    * absolute value hides: positive = forecasts above outcomes.
    *
    * Exactness: bin means carry one truncating div each (identical to
    * the sibling rows, so the three calibration rows can never
    * disagree about a bin); the signed mean rides the shift idiom.
    *
    * Shape (100 TB): doc-sized projection → 10-bin partial-aggregable
    * fold → 1-row algebra. */
  def ece(spark: SparkSession, dir: String): DataFrame = {
    val base = scoredTokens(spark, dir)
      .select(
        expr("CAST(floor(score * 10000 + 0.5) AS BIGINT)").as("p_e4"),
        when(col("n_tok") >= 50, 10000L).otherwise(0L).as("y_e4"),
        expr("least(CAST(9 AS BIGINT), CAST(floor(score * 10)" +
          " AS BIGINT))").as("bin"))
    base.groupBy(col("bin"))
      .agg(count(lit(1)).as("nk"), sum(col("p_e4")).as("ps"),
        sum(expr("y_e4 div 10000")).as("n1"))
      .select(col("nk"), expr("ps div nk").as("pbar"),
        expr("n1 * 10000 div nk").as("obar"))
      .agg(sum(col("nk")).as("n"), count(lit(1)).as("n_bins_used"),
        sum(expr("nk * abs(pbar - obar)")).as("l1"),
        max(expr("abs(pbar - obar)")).as("mce_e4"),
        sum(expr("nk * (pbar - obar)")).as("sg"))
      .select(col("n").as("n_docs"), col("n_bins_used"),
        expr("l1 div n").as("ece_e4"), col("mce_e4"),
        expr("(sg + 1000000 * n) div n - 1000000").as("overconf_e4"))
  }

  /** F1-optimal threshold (J96): sweep EVERY distinct score
    * as a candidate gate over the (score, label) support census —
    * cumulative TP/FP/FN via one descending window, F1 cross-
    * multiplied — and emit the argmax beside the ENROLLED 0.76
    * operating point (the judge_kappa/calibration family's gate) so
    * how much F1 the production threshold leaves on the table is a
    * number, not a guess. The operating-point complement of
    * q_llm_auc: AUC integrates over all thresholds, this row picks
    * one; pairs with q_llm_budget_threshold, which optimizes for a
    * token budget instead of F1.
    *
    * Exactness: support-census sweep (never a per-doc sort), integer
    * cumulative counts, one truncating div per ratio; argmax
    * tie-breaks to the LOWEST threshold (recall-favoring, total
    * order).
    *
    * Shape (100 TB): doc-sized projection → score-support census
    * (grid-bounded ≤ 10⁴ rows at ANY corpus size) → windows on the
    * census → 2 rows. */
  def f1Threshold(spark: SparkSession, dir: String): DataFrame = {
    val census = scoredTokens(spark, dir)
      .select(expr("CAST(floor(score * 10000 + 0.5) AS BIGINT)")
        .as("s_e4"),
        when(col("n_tok") >= 50, 1L).otherwise(0L).as("y"))
      .groupBy(col("s_e4"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n1"))
    val w = Window.orderBy(col("s_e4").desc)
    val tot = census.agg(sum(col("n1")).as("p1"))
    val scored = census
      .withColumn("tp", sum(col("n1")).over(w))
      .withColumn("pp", sum(col("n")).over(w))
      .crossJoin(broadcast(tot))
      .select(col("s_e4").as("threshold_e4"), col("tp"),
        (col("pp") - col("tp")).as("fp"),
        (col("p1") - col("tp")).as("fn"),
        expr("tp * 10000 div greatest(pp, 1)").as("prec_e4"),
        expr("tp * 10000 div greatest(p1, 1)").as("rec_e4"),
        expr("2 * tp * 10000 div greatest(2 * tp + (pp - tp)" +
          " + (p1 - tp), 1)").as("f1_e4"))
    val best = scored.withColumn("rn", row_number().over(
        Window.orderBy(col("f1_e4").desc, col("threshold_e4"))))
      .filter(col("rn") === 1).drop("rn")
      .select(lit("f1_argmax").as("arm"), col("*"))
    val gate = scored.filter(col("threshold_e4") >= 7600L)
      .withColumn("rn", row_number().over(
        Window.orderBy(col("threshold_e4"))))
      .filter(col("rn") === 1).drop("rn")
      .select(lit("zz_enrolled_gate").as("arm"), col("*"))
    best.unionAll(gate).orderBy(col("arm"))
  }

  /** Per-source ECE (J99): the calibration-by-slice table
    * model cards actually publish — the q_llm_ece computation
    * partitioned by provenance: a score can be globally calibrated
    * while badly MIScalibrated on one source (bin mixtures cancel),
    * and that source's downstream gates silently misfire. Pairs with
    * q_llm_gate_fairness: fairness asks whether the gate ADMITS each
    * source equally, this row whether the gate can even be TRUSTED
    * per source. Same 10 bins, label, and divisions as the global ECE
    * row, so the slice table and the global scalar can never disagree
    * on semantics.
    *
    * Shape (100 TB): doc-sized projection → (source × 10)-bin
    * partial-aggregable fold → |sources| rows. */
  def eceBySource(spark: SparkSession, dir: String): DataFrame = {
    val base = scoredTokens(spark, dir, "source")
      .select(col("source"),
        expr("CAST(floor(score * 10000 + 0.5) AS BIGINT)").as("p_e4"),
        when(col("n_tok") >= 50, 10000L).otherwise(0L).as("y_e4"),
        expr("least(CAST(9 AS BIGINT), CAST(floor(score * 10)" +
          " AS BIGINT))").as("bin"))
    base.groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("nk"), sum(col("p_e4")).as("ps"),
        sum(expr("y_e4 div 10000")).as("n1"))
      .select(col("source"), col("nk"),
        expr("ps div nk").as("pbar"),
        expr("n1 * 10000 div nk").as("obar"))
      .groupBy(col("source"))
      .agg(sum(col("nk")).as("n_docs"),
        count(lit(1)).as("n_bins_used"),
        expr("sum(nk * abs(pbar - obar)) div sum(nk)").as("ece_e4"),
        max(expr("abs(pbar - obar)")).as("mce_e4"))
      .orderBy(col("source"))
  }

  /** Embedding-cluster drift (J100): per cluster label, the
    * population share in the first vs second half of the vector-store
    * ingestion order (cut = max vec_id div 2) with the signed share
    * drift — the CLUSTER-level drift monitor beside q_llm_idf_drift's
    * token-level one and q_llm_centroid_shift's geometry-level one:
    * the three catch different failure modes (a topic mix shift moves
    * cluster shares while centroids and vocabulary barely move). The
    * table a vector-store owner reads before trusting yesterday's IVF
    * centroids on today's traffic.
    *
    * Exactness: shares ×10⁶ one truncating div each; drift is a
    * difference of already-rounded shares (signed subtraction, no
    * signed division).
    *
    * Shape (100 TB): one partial-aggregable (label, half) census over
    * the store → |labels| rows; the cut is a 1-row broadcast. */
  def clusterDrift(spark: SparkSession, dir: String): DataFrame = {
    val cut = embeddings(spark, dir)
      .agg(expr("max(vec_id) div 2").as("cut"))
    val halves = embeddings(spark, dir).crossJoin(broadcast(cut))
      .agg(sum(when(col("vec_id") <= col("cut"), 1L).otherwise(0L))
        .as("n_early_tot"),
        sum(when(col("vec_id") > col("cut"), 1L).otherwise(0L))
          .as("n_late_tot"))
    embeddings(spark, dir).crossJoin(broadcast(cut))
      .groupBy(col("label"))
      .agg(sum(when(col("vec_id") <= col("cut"), 1L).otherwise(0L))
        .as("n_early"),
        sum(when(col("vec_id") > col("cut"), 1L).otherwise(0L))
          .as("n_late"))
      .crossJoin(broadcast(halves))
      .select(col("label"), col("n_early"), col("n_late"),
        expr("n_early * 1000000 div greatest(n_early_tot, 1)")
          .as("share_early_e6"),
        expr("n_late * 1000000 div greatest(n_late_tot, 1)")
          .as("share_late_e6"))
      .withColumn("drift_e6",
        col("share_late_e6") - col("share_early_e6"))
      .orderBy(col("label"))
  }

  /** Int4 group-wise quantization sweep (J102): symmetric
    * 4-bit quantization with PER-GROUP max scaling at group sizes
    * g ∈ {16, 64} — the GPTQ/NF4-era compression default int8_quant
    * (global scale, 8 bits) only gestures at. Per (g, label): MSE and
    * worst-dim error of reconstruct(quantize(e)) on the e6 grid. The
    * group-size curve IS the deployment question (smaller groups buy
    * accuracy with more scale overhead — 16/4096 vs 64/4096 bytes),
    * answered on this store's actual vectors.
    *
    * Exactness: everything on the e6 integer grid — q = (e·7) div
    * scale and r = (q·scale) div 7 both truncate toward zero in
    * Spark, DuckDB, and the JVM (the holt note), so the signed lanes
    * agree with no shift; per-group scale = max |e_e6| (greatest(·,1)
    * guards an all-zero group).
    *
    * Shape (100 TB): one posexplode → one (vec, group) max window →
    * map-side reconstruct → (g, label) partial-aggregable rollup. */
  def int4Sweep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("dim", "e")))
      .withColumn("e6", expr(
        "CAST(floor(CAST(e AS DOUBLE) * 1000000 + 0.5) AS BIGINT)"))
    def arm(g: Int): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id"), expr(s"dim div $g"))
      base
        .withColumn("scale", greatest(max(abs(col("e6"))).over(w),
          lit(1L)))
        .withColumn("q", expr("(e6 * 7) div scale"))
        .withColumn("err", expr("e6 - (q * scale) div 7"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_dims"),
          expr("sum(err * err) div count(1)").as("mse_e12"),
          max(abs(col("err"))).as("max_abs_err_e6"))
        .select(lit(g.toLong).as("group_size"), col("label"),
          col("n_dims"), col("mse_e12"), col("max_abs_err_e6"))
    }
    arm(16).unionAll(arm(64))
      .orderBy(col("group_size"), col("label"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_llm_int4_sweep" -> int4Sweep,
    "q_llm_cluster_drift" -> clusterDrift,
    "q_llm_ece_by_source" -> eceBySource,
    "q_llm_f1_threshold" -> f1Threshold,
    "q_llm_ece" -> ece,
    "q_llm_pass_at_k" -> passAtK,
    "q_llm_brier_decomp" -> brierDecomp,
    "q_llm_unigram_em" -> unigramEm,
    "q_llm_sif_weights" -> sifWeights,
    "q_llm_split_kl" -> splitKl,
    "q_llm_norm_audit" -> normAudit,
    "q_llm_embed_outliers" -> embedOutliers,
    "q_llm_centroid_shift" -> centroidShift,
    "q_llm_int8_quant" -> int8Quant,
    "q_llm_shard_balance" -> shardBalance,
    "q_llm_greedy_mix" -> greedyMix,
    "q_llm_budget_threshold" -> budgetThreshold,
    "q_llm_bradley_terry" -> bradleyTerry,
    "q_llm_pairwise_wins" -> pairwiseWins,
    "q_llm_best_of_n" -> bestOfN,
    "q_llm_dim_probe" -> dimProbe,
    "q_llm_top_p_vocab" -> topPVocab,
    "q_llm_uncertainty_sample" -> uncertaintySample,
    "q_llm_grpo_advantage" -> grpoAdvantage,
    "q_llm_moe_route" -> moeRoute,
    "q_llm_epoch_schedule" -> epochSchedule,
    "q_llm_fim_split" -> fimSplit,
    "q_llm_score_calibration" -> scoreCalibration,
    "q_llm_pref_pairs" -> prefPairs,
    "q_llm_span_corrupt" -> spanCorrupt,
    "q_llm_embed_calib" -> embedCalib,
    "q_llm_pca_power" -> pcaPower,
    "q_llm_abtt" -> abtt,
    "q_llm_split_assign" -> splitAssign,
    "q_llm_minhash_est" -> minhashEst,
    "q_llm_quality_logreg" -> qualityLogreg,
    "q_llm_url_canon" -> urlCanon,
    "q_llm_kmeans_step" -> kmeansStep,
    "q_llm_semdedup" -> semDedup,
    "q_llm_bpe_merge" -> bpeMerge,
    "q_llm_wordpiece_merge" -> wordpieceMerge,
  )

  // private[operators]: Evaluation.rbo's oracle composes the same
  // logreg scoring CTE so the two rankers can't drift from the
  // enrolled q_llm_quality_logreg row
  private[operators] val scoreCte: String =
    """f AS (SELECT doc_id,
      |   string_split(text, ' ') AS tk,
      |   len(string_split(text, ' ')) AS n_tok
      |  FROM documents),
      |feat AS (SELECT doc_id, n_tok,
      |   len(list_distinct(tk)) / CAST(n_tok AS DOUBLE) AS ttr,
      |   len(list_filter(tk, t -> t IN
      |     ('the','a','of','and','to','in','is')))
      |     / CAST(n_tok AS DOUBLE) AS stop_ratio
      |  FROM f),
      |zz AS (SELECT doc_id,
      |   -1.5 + 2.2 * ttr + 1.1 * (1.0 - stop_ratio)
      |     + 0.9 * least(n_tok / 100.0, 1.0) AS z
      |  FROM feat),
      |sc0 AS (SELECT doc_id,
      |   floor((0.5 * (1.0 + z / (1.0 + abs(z)))) * 10000.0 + 0.5)
      |     / 10000.0 AS score
      |  FROM zz)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_llm_int4_sweep" ->
      """WITH base AS (SELECT vec_id, label,
        |   CAST(u.i - 1 AS BIGINT) AS dim,
        |   CAST(floor(CAST(embedding[u.i] AS DOUBLE) * 1000000 + 0.5)
        |     AS BIGINT) AS e6
        |  FROM embeddings,
        |   LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i)
        |     u),
        |arms AS (SELECT CAST(unnest([16, 64]) AS BIGINT) AS g),
        |sc AS (SELECT a.g, b.vec_id, b.label, b.dim, b.e6,
        |   greatest(max(abs(b.e6)) OVER (PARTITION BY a.g, b.vec_id,
        |     b.dim // a.g), 1) AS scale
        |  FROM base b CROSS JOIN arms a),
        |er AS (SELECT g, label,
        |   e6 - (((e6 * 7) // scale) * scale) // 7 AS err
        |  FROM sc)
        |SELECT g AS group_size, label,
        |  CAST(count(*) AS BIGINT) AS n_dims,
        |  CAST(sum(err * err) // count(*) AS BIGINT) AS mse_e12,
        |  CAST(max(abs(err)) AS BIGINT) AS max_abs_err_e6
        |FROM er GROUP BY 1, 2 ORDER BY group_size, label""".stripMargin,
    "q_llm_cluster_drift" ->
      """WITH cut AS (SELECT max(vec_id) // 2 AS cut FROM embeddings),
        |halves AS (SELECT
        |   CAST(sum(CASE WHEN vec_id <= cut THEN 1 ELSE 0 END)
        |     AS BIGINT) AS n_early_tot,
        |   CAST(sum(CASE WHEN vec_id > cut THEN 1 ELSE 0 END)
        |     AS BIGINT) AS n_late_tot
        |  FROM embeddings CROSS JOIN cut),
        |p AS (SELECT label,
        |   CAST(sum(CASE WHEN vec_id <= cut THEN 1 ELSE 0 END)
        |     AS BIGINT) AS n_early,
        |   CAST(sum(CASE WHEN vec_id > cut THEN 1 ELSE 0 END)
        |     AS BIGINT) AS n_late
        |  FROM embeddings CROSS JOIN cut GROUP BY label)
        |SELECT label, n_early, n_late,
        |  CAST(n_early * 1000000 // greatest(n_early_tot, 1)
        |    AS BIGINT) AS share_early_e6,
        |  CAST(n_late * 1000000 // greatest(n_late_tot, 1) AS BIGINT)
        |    AS share_late_e6,
        |  CAST(n_late * 1000000 // greatest(n_late_tot, 1)
        |    - n_early * 1000000 // greatest(n_early_tot, 1)
        |    AS BIGINT) AS drift_e6
        |FROM p CROSS JOIN halves ORDER BY label""".stripMargin,
    "q_llm_ece_by_source" ->
      s"""WITH $scoreCte,
        |base AS (SELECT d.source,
        |   CAST(floor(score * 10000.0 + 0.5) AS BIGINT) AS p_e4,
        |   CASE WHEN len(string_split(d.text, ' ')) >= 50
        |     THEN CAST(10000 AS BIGINT) ELSE 0 END AS y_e4,
        |   least(CAST(9 AS BIGINT), CAST(floor(score * 10) AS BIGINT))
        |     AS bin
        |  FROM sc0 JOIN documents d ON sc0.doc_id = d.doc_id),
        |bins AS (SELECT source, bin, CAST(count(*) AS BIGINT) AS nk,
        |   CAST(sum(p_e4) // count(*) AS BIGINT) AS pbar,
        |   CAST(sum(y_e4 // 10000) * 10000 // count(*) AS BIGINT)
        |     AS obar
        |  FROM base GROUP BY 1, 2)
        |SELECT source, CAST(sum(nk) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_bins_used,
        |  CAST(sum(nk * abs(pbar - obar)) // sum(nk) AS BIGINT)
        |    AS ece_e4,
        |  CAST(max(abs(pbar - obar)) AS BIGINT) AS mce_e4
        |FROM bins GROUP BY source ORDER BY source""".stripMargin,
    "q_llm_f1_threshold" ->
      s"""WITH $scoreCte,
        |base AS (SELECT sc0.doc_id,
        |   CAST(floor(score * 10000.0 + 0.5) AS BIGINT) AS s_e4,
        |   CASE WHEN len(string_split(d.text, ' ')) >= 50
        |     THEN CAST(1 AS BIGINT) ELSE 0 END AS y
        |  FROM sc0 JOIN documents d ON sc0.doc_id = d.doc_id),
        |census AS (SELECT s_e4, CAST(count(*) AS BIGINT) AS n,
        |   CAST(sum(y) AS BIGINT) AS n1 FROM base GROUP BY 1),
        |tot AS (SELECT CAST(sum(n1) AS BIGINT) AS p1 FROM census),
        |cum AS (SELECT s_e4,
        |   CAST(sum(n1) OVER (ORDER BY s_e4 DESC) AS BIGINT) AS tp,
        |   CAST(sum(n) OVER (ORDER BY s_e4 DESC) AS BIGINT) AS pp
        |  FROM census),
        |scored AS (SELECT s_e4 AS threshold_e4, tp,
        |   pp - tp AS fp, p1 - tp AS fn,
        |   CAST(tp * 10000 // greatest(pp, 1) AS BIGINT) AS prec_e4,
        |   CAST(tp * 10000 // greatest(p1, 1) AS BIGINT) AS rec_e4,
        |   CAST(2 * tp * 10000 // greatest(2 * tp + (pp - tp)
        |     + (p1 - tp), 1) AS BIGINT) AS f1_e4
        |  FROM cum CROSS JOIN tot),
        |best AS (SELECT 'f1_argmax' AS arm, * FROM (
        |   SELECT *, row_number() OVER (ORDER BY f1_e4 DESC,
        |     threshold_e4) AS rn FROM scored) WHERE rn = 1),
        |gate AS (SELECT 'zz_enrolled_gate' AS arm, * FROM (
        |   SELECT *, row_number() OVER (ORDER BY threshold_e4) AS rn
        |   FROM scored WHERE threshold_e4 >= 7600) WHERE rn = 1)
        |SELECT arm, threshold_e4, tp, fp, fn, prec_e4, rec_e4, f1_e4
        |FROM best
        |UNION ALL
        |SELECT arm, threshold_e4, tp, fp, fn, prec_e4, rec_e4, f1_e4
        |FROM gate ORDER BY arm""".stripMargin,
    "q_llm_ece" ->
      s"""WITH $scoreCte,
        |base AS (SELECT sc0.doc_id,
        |   CAST(floor(score * 10000.0 + 0.5) AS BIGINT) AS p_e4,
        |   CASE WHEN len(string_split(d.text, ' ')) >= 50
        |     THEN CAST(10000 AS BIGINT) ELSE 0 END AS y_e4,
        |   least(CAST(9 AS BIGINT), CAST(floor(score * 10) AS BIGINT))
        |     AS bin
        |  FROM sc0 JOIN documents d ON sc0.doc_id = d.doc_id),
        |bins AS (SELECT bin, CAST(count(*) AS BIGINT) AS nk,
        |   CAST(sum(p_e4) // count(*) AS BIGINT) AS pbar,
        |   CAST(sum(y_e4 // 10000) * 10000 // count(*) AS BIGINT)
        |     AS obar
        |  FROM base GROUP BY 1)
        |SELECT CAST(sum(nk) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_bins_used,
        |  CAST(sum(nk * abs(pbar - obar)) // sum(nk) AS BIGINT)
        |    AS ece_e4,
        |  CAST(max(abs(pbar - obar)) AS BIGINT) AS mce_e4,
        |  CAST((sum(nk * (pbar - obar)) + 1000000 * sum(nk))
        |    // sum(nk) - 1000000 AS BIGINT) AS overconf_e4
        |FROM bins""".stripMargin,
    "q_llm_brier_decomp" ->
      s"""WITH $scoreCte,
        |base AS (SELECT sc0.doc_id,
        |   CAST(floor(score * 10000.0 + 0.5) AS BIGINT) AS p_e4,
        |   CASE WHEN len(string_split(d.text, ' ')) >= 50
        |     THEN CAST(10000 AS BIGINT) ELSE 0 END AS y_e4,
        |   least(CAST(9 AS BIGINT), CAST(floor(score * 10) AS BIGINT))
        |     AS bin
        |  FROM sc0 JOIN documents d ON sc0.doc_id = d.doc_id),
        |bins AS (SELECT bin, CAST(count(*) AS BIGINT) AS nk,
        |   CAST(sum(p_e4) // count(*) AS BIGINT) AS pbar,
        |   CAST(sum(y_e4 // 10000) AS BIGINT) AS n1,
        |   CAST(sum((p_e4 - y_e4) * (p_e4 - y_e4)) AS BIGINT) AS sq
        |  FROM base GROUP BY 1),
        |b2 AS (SELECT bin, nk, pbar,
        |   CAST(n1 * 10000 // nk AS BIGINT) AS obar, n1, sq FROM bins),
        |tot AS (SELECT CAST(sum(nk) AS BIGINT) AS n,
        |   CAST(sum(n1) AS BIGINT) AS m1,
        |   CAST(sum(sq) AS BIGINT) AS sqs FROM b2)
        |SELECT max(n) AS n_docs,
        | CAST(max(sqs) // max(n) AS BIGINT) AS brier_e8,
        | CAST(sum(nk * (pbar - obar) * (pbar - obar)) // max(n)
        |   AS BIGINT) AS rel_e8,
        | CAST(sum(nk * (obar - m1 * 10000 // n)
        |   * (obar - m1 * 10000 // n)) // max(n) AS BIGINT) AS res_e8,
        | CAST(max(m1 * 10000 // n) * (10000 - max(m1 * 10000 // n))
        |   AS BIGINT) AS unc_e8,
        | CAST(max(sqs) // max(n)
        |   - (sum(nk * (pbar - obar) * (pbar - obar)) // max(n)
        |      - sum(nk * (obar - m1 * 10000 // n)
        |        * (obar - m1 * 10000 // n)) // max(n)
        |      + max(m1 * 10000 // n) * (10000 - max(m1 * 10000 // n)))
        |   AS BIGINT) AS gap_e8
        |FROM b2 CROSS JOIN tot""".stripMargin,
    "q_llm_pass_at_k" ->
      s"""WITH $scoreCte,
        |sc AS (SELECT doc_id,
        |   CAST(floor(score * 10000.0 + 0.5) AS BIGINT) AS s_e4
        |  FROM sc0),
        |sup AS (SELECT s_e4, CAST(count(*) AS BIGINT) AS c
        |  FROM sc GROUP BY 1),
        |cm AS (SELECT s_e4, sum(c) OVER (ORDER BY s_e4) AS cum,
        |   sum(c) OVER () AS nn FROM sup),
        |thr AS (SELECT min(s_e4) AS thr FROM cm
        |  WHERE cum * 4 >= nn * 3),
        |tasks AS (SELECT doc_id // 16 AS grp,
        |   CAST(count(*) AS BIGINT) AS n,
        |   CAST(sum(CASE WHEN s_e4 >= thr THEN 1 ELSE 0 END)
        |     AS BIGINT) AS c
        |  FROM sc CROSS JOIN thr GROUP BY 1 HAVING count(*) = 16),
        |ks(k, den) AS (VALUES (CAST(1 AS BIGINT), CAST(16 AS BIGINT)),
        |  (4, 43680), (8, 518918400)),
        |pt AS (SELECT k, den, c,
        |   CASE WHEN k = 1 THEN greatest(16 - c, 0)
        |    WHEN k = 4 THEN CASE WHEN c > 12 THEN 0
        |      ELSE (16-c)*(15-c)*(14-c)*(13-c) END
        |    ELSE CASE WHEN c > 8 THEN 0
        |      ELSE (16-c)*(15-c)*(14-c)*(13-c)*(12-c)*(11-c)*(10-c)*(9-c)
        |      END END AS num
        |  FROM tasks CROSS JOIN ks)
        |SELECT k, CAST(count(*) AS BIGINT) AS n_tasks,
        | CAST(sum(c) * 10000 // (16 * count(*)) AS BIGINT)
        |   AS avg_correct_e4,
        | CAST(sum(1000000 - num * 1000000 // den) // count(*)
        |   AS BIGINT) AS pass_at_k_e6
        |FROM pt GROUP BY k ORDER BY k""".stripMargin,
    "q_llm_unigram_em" ->
      """WITH tk AS (SELECT tok AS w, CAST(count(*) AS BIGINT) AS f
        |  FROM (SELECT unnest(string_split(text, ' ')) AS tok
        |        FROM documents) t
        |  WHERE length(tok) BETWEEN 1 AND 8 GROUP BY 1),
        |segs AS (
        |  SELECT w, f, w AS pa, CAST(NULL AS VARCHAR) AS pb FROM tk
        |  UNION ALL
        |  SELECT w, f, s['pa'], s['pb'] FROM (
        |    SELECT w, f, unnest([{'pa': w[1:CAST(i AS INTEGER)],
        |        'pb': w[CAST(i AS INTEGER) + 1:]}
        |      for i in range(1, CAST(length(w) AS BIGINT))]) AS s
        |    FROM tk WHERE length(w) >= 2) u),
        |pieces AS (SELECT f AS wt, pa AS piece FROM segs
        |  UNION ALL SELECT f, pb FROM segs WHERE pb IS NOT NULL),
        |occ AS (SELECT piece, CAST(sum(wt) AS BIGINT) AS occ
        |  FROM pieces GROUP BY 1),
        |tot AS (SELECT CAST(sum(occ) AS BIGINT) AS t FROM occ),
        |p0 AS (SELECT piece, occ, occ * 1000000 // t AS p0_e6
        |  FROM occ CROSS JOIN tot),
        |sc AS (SELECT s.w, s.f, s.pa, s.pb,
        |   CASE WHEN s.pb IS NULL THEN a.p0_e6 * 1000000
        |        ELSE a.p0_e6 * b.p0_e6 END AS score_e12
        |  FROM segs s JOIN p0 a ON a.piece = s.pa
        |   LEFT JOIN p0 b ON b.piece = s.pb),
        |z AS (SELECT w, CAST(sum(score_e12) AS BIGINT) AS z
        |  FROM sc GROUP BY 1),
        |post AS (SELECT sc.*,
        |   score_e12 * 1000000 // greatest(z.z, 1) AS post_e6
        |  FROM sc JOIN z USING (w)),
        |pm AS (SELECT f * post_e6 AS wt, pa AS piece FROM post
        |  UNION ALL SELECT f * post_e6, pb FROM post
        |  WHERE pb IS NOT NULL),
        |mass AS (SELECT piece, CAST(sum(wt) AS BIGINT) AS m
        |  FROM pm GROUP BY 1),
        |mt AS (SELECT CAST(sum(m) AS HUGEINT) AS mt FROM mass)
        |SELECT p0.piece, p0.occ, p0.p0_e6,
        | CAST(CAST(m AS HUGEINT) * 1000000 // greatest(mt, 1)
        |   AS BIGINT) AS p1_e6
        |FROM mass JOIN p0 USING (piece) CROSS JOIN mt
        |ORDER BY p1_e6 DESC, piece LIMIT 30""".stripMargin,
    "q_llm_sif_weights" ->
      """WITH cnt AS (SELECT tok AS token,
        |   CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(string_split(text, ' ')) AS tok
        |        FROM documents) t GROUP BY 1),
        |n AS (SELECT CAST(sum(c) AS BIGINT) AS n_tok FROM cnt)
        |SELECT token, c, n_tok,
        | n_tok * 1000000 // (n_tok + 1000 * c) AS sif_e6
        |FROM cnt CROSS JOIN n
        |ORDER BY c DESC, token LIMIT 50""".stripMargin,
    "q_llm_split_kl" ->
      """WITH b AS (SELECT doc_id, text,
        |   CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15) AS BIGINT)
        |     % 1000 AS bucket FROM documents),
        |tok AS (SELECT CASE WHEN bucket < 980 THEN 0 ELSE 1 END AS s,
        |   unnest(string_split(text, ' ')) AS w
        |  FROM b WHERE bucket < 990),
        |cnt AS (SELECT w,
        |   CAST(sum(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tc,
        |   CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS vc
        |  FROM tok GROUP BY w),
        |sh AS (SELECT * FROM cnt WHERE tc > 0 AND vc > 0),
        |tots AS (SELECT CAST(sum(tc) AS BIGINT) AS tt,
        |   CAST(sum(vc) AS BIGINT) AS tv,
        |   CAST(count(*) AS BIGINT) AS n_shared FROM sh),
        |oov AS (SELECT CAST(coalesce(sum(vc), 0) AS BIGINT)
        |   AS oov_val_tokens FROM cnt WHERE vc > 0 AND tc = 0),
        |terms AS (SELECT
        |   CAST(sum(vc * (CAST(floor(ln(vc * tt) * 1000 + 0.5) AS BIGINT)
        |     - CAST(floor(ln(tc * tv) * 1000 + 0.5) AS BIGINT)))
        |     AS BIGINT) AS num
        |  FROM sh CROSS JOIN tots)
        |SELECT tots.n_shared, tots.tt AS tot_train, tots.tv AS tot_val,
        |  oov.oov_val_tokens,
        |  (terms.num + tots.tv * 1000000) // tots.tv - 1000000 AS kl_e3
        |FROM tots CROSS JOIN oov CROSS JOIN terms""".stripMargin,
    "q_llm_norm_audit" ->
      """WITH n2 AS (SELECT
        |   CAST(floor(list_inner_product(embedding::DOUBLE[],
        |     embedding::DOUBLE[]) * 1000000 + 0.5) AS BIGINT)
        |     AS n2_e6
        |  FROM embeddings)
        |SELECT CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(min(n2_e6) AS BIGINT) AS min_norm2_e6,
        |  CAST(max(n2_e6) AS BIGINT) AS max_norm2_e6,
        |  min(n2_e6) >= 1000000 - 100
        |    AND max(n2_e6) <= 1000000 + 100 AS all_unit
        |FROM n2""".stripMargin,
    "q_llm_budget_threshold" ->
      s"""WITH $scoreCte,
        |d AS (SELECT CAST(floor(score * 10000 + 0.5) AS BIGINT)
        |   AS s_e4,
        |   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents doc JOIN sc0 ON doc.doc_id = sc0.doc_id),
        |cen AS (SELECT s_e4, CAST(count(*) AS BIGINT) AS n_docs,
        |   CAST(sum(n_tok) AS BIGINT) AS tok FROM d GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_tok) AS BIGINT) AS tt FROM d),
        |cum AS (SELECT s_e4,
        |   CAST(sum(tok) OVER (ORDER BY s_e4 DESC) AS BIGINT)
        |     AS cum_tok,
        |   CAST(sum(n_docs) OVER (ORDER BY s_e4 DESC) AS BIGINT)
        |     AS cum_docs
        |  FROM cen)
        |SELECT s_e4 AS cutoff_e4, cum_docs AS n_kept,
        | cum_tok AS tokens_kept, tt AS tokens_total,
        | cum_tok * 10000 // tt AS kept_share_e4
        |FROM cum CROSS JOIN tot
        |WHERE cum_tok * 2 <= tt ORDER BY s_e4 LIMIT 1""".stripMargin,
    "q_llm_greedy_mix" ->
      s"""WITH $scoreCte,
        |tok AS (SELECT d.doc_id, source,
        |   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |   sc0.score
        |  FROM documents d JOIN sc0 ON d.doc_id = sc0.doc_id),
        |per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |   CAST(sum(n_tok) AS BIGINT) AS n_tok,
        |   CAST(sum(CAST(floor(score * 10000 + 0.5) AS BIGINT))
        |     // count(*) AS BIGINT) AS q_e4
        |  FROM tok GROUP BY 1),
        |r AS (SELECT source, n_docs, n_tok, q_e4,
        |   CAST(row_number() OVER (ORDER BY q_e4 DESC, source)
        |     AS BIGINT) AS rank,
        |   CAST(sum(n_tok) OVER (ORDER BY q_e4 DESC, source
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |     AS BIGINT) AS cum_tok
        |  FROM per),
        |tot AS (SELECT CAST(sum(n_tok) AS BIGINT) AS tt FROM per)
        |SELECT source, rank, n_docs, n_tok, q_e4, cum_tok,
        | cum_tok * 2 <= tt AS picked
        |FROM r CROSS JOIN tot ORDER BY rank""".stripMargin,
    "q_llm_shard_balance" ->
      """WITH sh AS (SELECT
        |   CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15)
        |     AS BIGINT) % 8 AS shard,
        |   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |g AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
        |   CAST(sum(n_tok) AS BIGINT) AS n_tokens
        |  FROM sh GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tt,
        |   CAST(max(n_tokens) AS BIGINT) AS mx,
        |   CAST(min(n_tokens) AS BIGINT) AS mn FROM g)
        |SELECT shard, n_docs, n_tokens,
        | n_tokens * 10000 // tt AS share_e4,
        | mx * 10000 // greatest(mn, 1) AS imbalance_e4
        |FROM g CROSS JOIN tot ORDER BY shard""".stripMargin,
    "q_llm_int8_quant" ->
      """WITH err AS (SELECT label,
        |   CAST(floor(CAST(e AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
        |   - CAST(floor(CAST(e AS DOUBLE) * 127 + 0.5) AS BIGINT)
        |     * 1000000 // 127 AS err_e6
        |  FROM (SELECT label, unnest(embedding) AS e FROM embeddings))
        |SELECT label, CAST(count(*) AS BIGINT) AS n_dims,
        | CAST(sum(err_e6 * err_e6) // count(*) AS BIGINT) AS mse_e12,
        | CAST(max(abs(err_e6)) AS BIGINT) AS max_abs_err_e6
        |FROM err GROUP BY label ORDER BY label""".stripMargin,
    "q_llm_centroid_shift" ->
      """WITH dims AS (SELECT vec_id, label, i AS dim,
        |   CAST(floor(CAST(e AS DOUBLE) * 10000 + 0.5) AS BIGINT) AS v
        |  FROM (SELECT vec_id, label, unnest(embedding) AS e,
        |     generate_subscripts(embedding, 1) AS i FROM embeddings)),
        |cent AS (SELECT label, dim,
        |   CAST(sum(v) // count(*) AS BIGINT) AS cv
        |  FROM dims GROUP BY 1, 2),
        |gcent AS (SELECT dim,
        |   CAST(sum(v) // count(*) AS BIGINT) AS gv
        |  FROM dims GROUP BY 1),
        |btw AS (SELECT label,
        |   CAST(sum((cv - gv) * (cv - gv)) AS BIGINT) AS between_d2
        |  FROM cent JOIN gcent ON cent.dim = gcent.dim GROUP BY 1),
        |d2 AS (SELECT dims.vec_id, dims.label,
        |   CAST(sum((dims.v - cent.cv) * (dims.v - cent.cv))
        |     AS BIGINT) AS d2
        |  FROM dims JOIN cent ON cent.label = dims.label
        |    AND cent.dim = dims.dim
        |  GROUP BY 1, 2),
        |wth AS (SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        |   CAST(sum(d2) // count(*) AS BIGINT) AS within_d2
        |  FROM d2 GROUP BY 1)
        |SELECT wth.label, n_vecs, between_d2, within_d2,
        | between_d2 * 10000 // greatest(within_d2, 1) AS sep_e4
        |FROM wth JOIN btw ON wth.label = btw.label
        |ORDER BY wth.label""".stripMargin,
    "q_llm_embed_outliers" ->
      """WITH dims AS (SELECT vec_id, label, i AS dim,
        |   CAST(floor(CAST(e AS DOUBLE) * 10000 + 0.5) AS BIGINT) AS v
        |  FROM (SELECT vec_id, label, unnest(embedding) AS e,
        |     generate_subscripts(embedding, 1) AS i FROM embeddings)),
        |cent AS (SELECT label, dim,
        |   CAST(sum(v) // count(*) AS BIGINT) AS cv
        |  FROM dims GROUP BY 1, 2),
        |d2 AS (SELECT dims.vec_id, dims.label,
        |   CAST(sum((dims.v - cent.cv) * (dims.v - cent.cv))
        |     AS BIGINT) AS dist2
        |  FROM dims JOIN cent ON cent.label = dims.label
        |    AND cent.dim = dims.dim
        |  GROUP BY 1, 2)
        |SELECT vec_id, label, dist2 FROM d2
        |ORDER BY dist2 DESC, vec_id LIMIT 10""".stripMargin,
    "q_llm_bradley_terry" -> {
      s"""WITH $scoreCte,
         |e AS (SELECT d.doc_id // 20 AS grp, d.source,
         |   max(CAST(floor(sc0.score * 10000 + 0.5) AS BIGINT)) AS s
         |  FROM documents d JOIN sc0 ON sc0.doc_id = d.doc_id
         |  GROUP BY 1, 2),
         |pw AS (SELECT x.source AS a, y.source AS b, count(*) AS n,
         |   sum(CASE WHEN x.s > y.s THEN 1 ELSE 0 END) AS wa,
         |   sum(CASE WHEN x.s < y.s THEN 1 ELSE 0 END) AS wb
         |  FROM e x JOIN e y ON x.grp = y.grp AND x.source < y.source
         |  GROUP BY 1, 2),
         |sym AS (SELECT a AS i, b AS j, n, wa AS w FROM pw
         |  UNION ALL SELECT b AS i, a AS j, n, wb AS w FROM pw),
         |tot AS (SELECT i, CAST(sum(w) AS BIGINT) AS wins,
         |   CAST(sum(n) AS BIGINT) AS games FROM sym GROUP BY 1),
         |d1 AS (SELECT i, sum(n * 1000000000000 // 2000000) AS den
         |  FROM sym GROUP BY 1),
         |w1 AS (SELECT tot.i,
         |   wins * 1000000000000 // greatest(den, 1) AS w
         |  FROM tot JOIN d1 ON tot.i = d1.i),
         |d2 AS (SELECT s.i,
         |   sum(s.n * 1000000000000 // greatest(wi.w + wj.w, 1)) AS den
         |  FROM sym s JOIN w1 wi ON s.i = wi.i
         |  JOIN w1 wj ON s.j = wj.i GROUP BY 1),
         |w2 AS (SELECT tot.i,
         |   wins * 1000000000000 // greatest(den, 1) AS w
         |  FROM tot JOIN d2 ON tot.i = d2.i),
         |norm AS (SELECT sum(w) AS sw, count(*) AS k FROM w2)
         |SELECT w2.i AS source, tot.games, tot.wins,
         |  CAST(w2.w * k * 1000000 // greatest(sw, 1) AS BIGINT)
         |    AS bt_e6
         |FROM w2 JOIN tot ON w2.i = tot.i CROSS JOIN norm
         |ORDER BY source""".stripMargin
    },
    "q_llm_pairwise_wins" -> {
      s"""WITH $scoreCte,
         |e AS (SELECT d.doc_id // 20 AS grp, d.source,
         |   max(CAST(floor(sc0.score * 10000 + 0.5) AS BIGINT)) AS s
         |  FROM documents d JOIN sc0 ON sc0.doc_id = d.doc_id
         |  GROUP BY 1, 2)
         |SELECT x.source AS a, y.source AS b,
         | CAST(count(*) AS BIGINT) AS n_shared,
         | CAST(sum(CASE WHEN x.s > y.s THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_win_a,
         | CAST(sum(CASE WHEN x.s < y.s THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_win_b,
         | CAST(sum(CASE WHEN x.s = y.s THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_tie,
         | CAST(sum(CASE WHEN x.s > y.s THEN 1 ELSE 0 END) * 10000
         |   // count(*) AS BIGINT) AS winrate_a_e4
         |FROM e x JOIN e y ON x.grp = y.grp AND x.source < y.source
         |GROUP BY 1, 2 ORDER BY a, b""".stripMargin
    },
    "q_llm_best_of_n" -> {
      val arm = (n: Int) =>
        s"""SELECT CAST($n AS BIGINT) AS n,
           | CAST(count(*) AS BIGINT) AS n_groups,
           | CAST(sum(best) // count(*) AS BIGINT) AS avg_best_e4,
           | CAST(sum(mean) // count(*) AS BIGINT) AS avg_mean_e4,
           | CAST(sum(best) // count(*) - sum(mean) // count(*)
           |   AS BIGINT) AS uplift_e4
           |FROM (SELECT doc_id // $n AS grp, max(s_e4) AS best,
           |   sum(s_e4) // count(*) AS mean
           |  FROM sc1 GROUP BY 1)""".stripMargin
      s"""WITH $scoreCte,
         |sc1 AS (SELECT doc_id,
         |   CAST(floor(score * 10000.0 + 0.5) AS BIGINT) AS s_e4
         |  FROM sc0)
         |${arm(2)}
         |UNION ALL ${arm(4)}
         |UNION ALL ${arm(8)}
         |ORDER BY n""".stripMargin
    },
    "q_llm_dim_probe" ->
      """WITH v AS (SELECT label % 2 AS parity,
        |   unnest(range(1, 65)) AS i,
        |   unnest([CAST(floor(CAST(embedding[j] AS DOUBLE)
        |       * 1000000.0E0 + 0.5E0) AS BIGINT)
        |     for j in range(1, 65)]) AS x
        |  FROM embeddings),
        |g AS (SELECT i - 1 AS dim, parity, count(*) AS n,
        |   CAST(sum(x) AS BIGINT) AS s
        |  FROM v GROUP BY 1, 2),
        |m AS (SELECT dim, parity,
        |   (s + n * 1000000) // n - 1000000 AS mean_e6
        |  FROM g),
        |p AS (SELECT dim,
        |   max(CASE WHEN parity = 0 THEN mean_e6 END) AS mean0_e6,
        |   max(CASE WHEN parity = 1 THEN mean_e6 END) AS mean1_e6
        |  FROM m GROUP BY dim)
        |SELECT CAST(dim AS INTEGER) AS dim,
        | CAST(mean0_e6 AS BIGINT) AS mean0_e6,
        | CAST(mean1_e6 AS BIGINT) AS mean1_e6,
        | CAST(mean0_e6 - mean1_e6 AS BIGINT) AS diff_e6,
        | CAST(abs(mean0_e6 - mean1_e6) AS BIGINT) AS abs_diff_e6
        |FROM p ORDER BY abs_diff_e6 DESC, dim LIMIT 10""".stripMargin,
    "q_llm_top_p_vocab" ->
      """WITH toks AS (SELECT string_split(text, ' ') AS tk
        |  FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |bg0 AS (SELECT unnest([{'w1': tk[i], 'w2': tk[i + 1]}
        |   for i in range(1, len(tk))]) AS s FROM toks),
        |bg AS (SELECT s.w1 AS w1, s.w2 AS w2, count(*) AS c
        |  FROM bg0 GROUP BY 1, 2),
        |cum AS (SELECT w1, w2, c,
        |   sum(c) OVER (PARTITION BY w1 ORDER BY c DESC, w2) AS cum,
        |   sum(c) OVER (PARTITION BY w1) AS total
        |  FROM bg),
        |k AS (SELECT w1, total, c,
        |   CASE WHEN cum - c < (9 * total + 9) // 10 THEN 1 ELSE 0 END
        |     AS kept
        |  FROM cum)
        |SELECT w1, CAST(max(total) AS BIGINT) AS total,
        | CAST(count(*) AS BIGINT) AS vocab_full,
        | CAST(sum(kept) AS BIGINT) AS vocab_nucleus,
        | CAST(sum(kept) * 10000 // count(*) AS BIGINT) AS keep_rate_e4
        |FROM k GROUP BY w1
        |ORDER BY total DESC, w1 LIMIT 20""".stripMargin,
    "q_llm_uncertainty_sample" ->
      s"""WITH $scoreCte
         |SELECT doc_id, score,
         | CAST(abs(CAST(floor(score * 10000.0 + 0.5) AS BIGINT) - 5000)
         |   AS BIGINT) AS margin_e4
         |FROM sc0 ORDER BY margin_e4, doc_id LIMIT 20""".stripMargin,
    "q_llm_grpo_advantage" ->
      s"""WITH $scoreCte,
         |sc AS (SELECT s.doc_id, d.source,
         |   CAST(floor(s.score * 10000.0 + 0.5) AS BIGINT) AS s_e4
         |  FROM sc0 s JOIN documents d USING (doc_id)),
         |mu AS (SELECT source,
         |   CAST(sum(s_e4) AS BIGINT) // count(*) AS mean_e4,
         |   count(*) AS n_group
         |  FROM sc GROUP BY source)
         |SELECT sc.source, sc.doc_id, sc.s_e4,
         | CAST(mu.mean_e4 AS BIGINT) AS mean_e4,
         | CAST(mu.n_group AS BIGINT) AS n_group,
         | CAST(sc.s_e4 - mu.mean_e4 AS BIGINT) AS adv_e4
         |FROM sc JOIN mu USING (source)
         |ORDER BY adv_e4 DESC, doc_id LIMIT 20""".stripMargin,
    "q_llm_moe_route" ->
      """WITH q AS (SELECT vec_id,
        |   list_transform(embedding,
        |     x -> CAST(floor(CAST(x AS DOUBLE) * 10000.0E0) AS BIGINT))
        |     AS q
        |  FROM embeddings),
        |c AS (SELECT vec_id AS cid, q AS cq FROM q WHERE vec_id < 8),
        |d AS (SELECT q.vec_id, c.cid,
        |   list_sum([q.q[i] * c.cq[i] for i in range(1, 65)]) AS dot
        |  FROM q CROSS JOIN c),
        |r AS (SELECT vec_id, cid,
        |   row_number() OVER (PARTITION BY vec_id
        |     ORDER BY dot DESC, cid) AS rk
        |  FROM d),
        |n AS (SELECT count(*) AS n_vec FROM embeddings)
        |SELECT cid AS expert_id,
        | CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_primary,
        | CAST(sum(CASE WHEN rk = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_secondary,
        | CAST((sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END)
        |   + sum(CASE WHEN rk = 2 THEN 1 ELSE 0 END)) * 10000
        |   // (2 * n.n_vec) AS BIGINT) AS load_share_e4
        |FROM r CROSS JOIN n WHERE rk <= 2
        |GROUP BY cid, n.n_vec ORDER BY expert_id""".stripMargin,
    "q_llm_epoch_schedule" ->
      """WITH f AS (SELECT doc_id,
        |   string_split(text, ' ') AS tk,
        |   len(string_split(text, ' ')) AS n_tok
        |  FROM documents),
        |feat AS (SELECT doc_id, n_tok,
        |   len(list_distinct(tk)) / CAST(n_tok AS DOUBLE) AS ttr,
        |   len(list_filter(tk, t -> t IN
        |     ('the','a','of','and','to','in','is')))
        |     / CAST(n_tok AS DOUBLE) AS stop_ratio
        |  FROM f),
        |z AS (SELECT doc_id, n_tok,
        |   -1.5 + 2.2 * ttr + 1.1 * (1.0 - stop_ratio)
        |     + 0.9 * least(n_tok / 100.0, 1.0) AS z
        |  FROM feat),
        |sc AS (SELECT doc_id, n_tok,
        |   floor((0.5 * (1.0 + z / (1.0 + abs(z)))) * 10000.0 + 0.5)
        |     / 10000.0 AS score
        |  FROM z),
        |q AS (SELECT n_tok,
        |   ntile(5) OVER (ORDER BY score DESC, doc_id) AS quintile
        |  FROM sc),
        |per AS (SELECT quintile, count(*) AS n_docs,
        |   CAST(sum(n_tok) AS BIGINT) AS tokens,
        |   CAST(CASE quintile WHEN 1 THEN 4 WHEN 2 THEN 3
        |     WHEN 3 THEN 2 ELSE 1 END AS BIGINT) AS epochs
        |  FROM q GROUP BY quintile),
        |tot AS (SELECT CAST(sum(tokens * epochs) AS BIGINT) AS eff_total
        |  FROM per)
        |SELECT CAST(quintile AS INTEGER) AS quintile,
        | CAST(n_docs AS BIGINT) AS n_docs, tokens, epochs,
        | CAST(tokens * epochs AS BIGINT) AS effective_tokens,
        | CAST(tokens * epochs * 10000 // eff_total AS BIGINT)
        |   AS eff_share_e4
        |FROM per CROSS JOIN tot ORDER BY quintile""".stripMargin,
    // 1-based j = spark i + 1; global cut points n//3 and (2n)//3
    "q_llm_fim_split" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk,
        |   len(string_split(text, ' ')) AS n
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |c AS (SELECT doc_id, n, n // 3 AS pe, (2 * n) // 3 AS me, tk
        |  FROM t)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_tok,
        | CAST(pe AS BIGINT) AS len_prefix,
        | CAST(me - pe AS BIGINT) AS len_middle,
        | CAST(n - me AS BIGINT) AS len_suffix,
        | CAST(list_sum([CASE WHEN j - 1 < pe
        |     THEN j * length(tk[j]) ELSE 0 END
        |   for j in range(1, n + 1)]) AS BIGINT) AS cs_prefix,
        | CAST(list_sum([CASE WHEN j - 1 >= pe AND j - 1 < me
        |     THEN j * length(tk[j]) ELSE 0 END
        |   for j in range(1, n + 1)]) AS BIGINT) AS cs_middle,
        | CAST(list_sum([CASE WHEN j - 1 >= me
        |     THEN j * length(tk[j]) ELSE 0 END
        |   for j in range(1, n + 1)]) AS BIGINT) AS cs_suffix
        |FROM c ORDER BY doc_id LIMIT 20""".stripMargin,
    "q_llm_score_calibration" ->
      """WITH f AS (SELECT doc_id,
        |   string_split(text, ' ') AS tk,
        |   len(string_split(text, ' ')) AS n_tok
        |  FROM documents),
        |feat AS (SELECT doc_id, n_tok,
        |   len(list_distinct(tk)) / CAST(n_tok AS DOUBLE) AS ttr,
        |   len(list_filter(tk, t -> t IN
        |     ('the','a','of','and','to','in','is')))
        |     / CAST(n_tok AS DOUBLE) AS stop_ratio
        |  FROM f),
        |z AS (SELECT doc_id, n_tok,
        |   -1.5 + 2.2 * ttr + 1.1 * (1.0 - stop_ratio)
        |     + 0.9 * least(n_tok / 100.0, 1.0) AS z
        |  FROM feat),
        |sc AS (SELECT doc_id, n_tok, z,
        |   floor((0.5 * (1.0 + z / (1.0 + abs(z)))) * 10000.0 + 0.5)
        |     / 10000.0 AS score
        |  FROM z),
        |b AS (SELECT least(9, CAST(floor(score * 10) AS BIGINT)) AS bin,
        |   CASE WHEN z >= 0 THEN 1 ELSE 0 END AS keep,
        |   CASE WHEN n_tok >= 50 THEN 1 ELSE 0 END AS label,
        |   CAST(floor(score * 10000.0 + 0.5) AS BIGINT) AS s_e4
        |  FROM sc)
        |SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(keep) AS BIGINT) AS n_keep,
        | CAST(sum(label) AS BIGINT) AS n_label,
        | CAST(sum(label) * 10000 // count(*) AS BIGINT) AS label_rate_e4,
        | CAST(sum(s_e4) // count(*) AS BIGINT) AS mean_score_e4
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin,
    // score CTE mirrors q_llm_quality_logreg verbatim (same formula,
    // same r4 rounding); DOUBLE × decimal-literal is safe here (only
    // FLOAT × DECIMAL diverges — see embed_calib note)
    "q_llm_pref_pairs" ->
      """WITH f AS (SELECT doc_id, source,
        |   string_split(text, ' ') AS tk,
        |   len(string_split(text, ' ')) AS n_tok
        |  FROM documents),
        |feat AS (SELECT doc_id, source, n_tok,
        |   len(list_distinct(tk)) / CAST(n_tok AS DOUBLE) AS ttr,
        |   len(list_filter(tk, t -> t IN
        |     ('the','a','of','and','to','in','is')))
        |     / CAST(n_tok AS DOUBLE) AS stop_ratio
        |  FROM f),
        |z AS (SELECT doc_id, source,
        |   -1.5 + 2.2 * ttr + 1.1 * (1.0 - stop_ratio)
        |     + 0.9 * least(n_tok / 100.0, 1.0) AS z
        |  FROM feat),
        |sc AS (SELECT doc_id, source,
        |   floor((0.5 * (1.0 + z / (1.0 + abs(z)))) * 10000.0 + 0.5)
        |     / 10000.0 AS score
        |  FROM z),
        |r AS (SELECT *,
        |   row_number() OVER (PARTITION BY source
        |     ORDER BY score DESC, doc_id) AS rn_b,
        |   row_number() OVER (PARTITION BY source
        |     ORDER BY score ASC, doc_id) AS rn_w
        |  FROM sc)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        | max(CASE WHEN rn_b = 1 THEN doc_id END) AS chosen_id,
        | max(CASE WHEN rn_b = 1 THEN score END) AS chosen_score,
        | max(CASE WHEN rn_w = 1 THEN doc_id END) AS rejected_id,
        | max(CASE WHEN rn_w = 1 THEN score END) AS rejected_score,
        | CAST(floor((max(CASE WHEN rn_b = 1 THEN score END)
        |   - max(CASE WHEN rn_w = 1 THEN score END)) * 10000.0 + 0.5)
        |   AS BIGINT) AS margin_e4
        |FROM r GROUP BY source ORDER BY source""".stripMargin,
    // DuckDB lists are 1-based: j = spark_i + 1 throughout
    "q_llm_span_corrupt" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk,
        |   len(string_split(text, ' ')) AS n
        |  FROM documents),
        |s AS (SELECT doc_id, n,
        |   CAST((n + 3) // 7 AS BIGINT) AS n_spans,
        |   CAST(list_sum([CASE WHEN (j - 1) % 7 = 3
        |       THEN least(2, n - (j - 1)) ELSE 0 END
        |     for j in range(1, n + 1)]) AS BIGINT) AS n_masked,
        |   CAST(list_sum([CASE WHEN (j - 1) % 7 = 3 OR (j - 1) % 7 = 4
        |       THEN 0 ELSE j * length(tk[j]) END
        |     for j in range(1, n + 1)]) AS BIGINT) AS visible_checksum
        |  FROM t WHERE n >= 1)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_tok, n_spans, n_masked,
        | CAST(n_masked * 10000 // n AS BIGINT) AS mask_ratio_e4,
        | visible_checksum
        |FROM s ORDER BY doc_id LIMIT 20""".stripMargin,
    "q_llm_embed_calib" ->
      """WITH v AS (SELECT unnest(range(1, 65)) AS i,
        |   unnest([CAST(floor(CAST(embedding[j] AS DOUBLE) * 1000000.0E0
        |       + 0.5E0) AS BIGINT)
        |     for j in range(1, 65)]) AS x
        |  FROM embeddings),
        |a AS (SELECT i, count(*) AS n, min(x) AS min_e6, max(x) AS max_e6,
        |   CAST(sum(x) AS BIGINT) AS sum_e6
        |  FROM v GROUP BY i)
        |SELECT CAST(i - 1 AS INTEGER) AS dim, CAST(n AS BIGINT) AS n,
        | min_e6, max_e6, sum_e6,
        | CAST((max_e6 - min_e6) // 255 AS BIGINT) AS scale_e6,
        | CAST(greatest(0, least(255,
        |   (0 - min_e6) * 255 // greatest(max_e6 - min_e6, 1)))
        |   AS BIGINT) AS zero_point
        |FROM a ORDER BY dim""".stripMargin,
    "q_llm_pca_power" ->
      """WITH e AS (SELECT vec_id,
        |   [CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000.0E0 + 0.5E0) AS BIGINT)
        |    for i in range(1, 65)] AS x
        |  FROM embeddings),
        |d1 AS (SELECT vec_id, x,
        |   list_sum([x[i] * 1000000 for i in range(1, 65)]) AS dot
        |  FROM e),
        |u1 AS (SELECT i, sum(xi * dot) AS u FROM
        |  (SELECT unnest(range(1, 65)) AS i, unnest(x) AS xi, dot
        |   FROM d1) GROUP BY i),
        |m1 AS (SELECT greatest(max(abs(u)) // 1000000, 1) AS m FROM u1),
        |v1 AS (SELECT list(CAST(u // m AS BIGINT) ORDER BY i) AS v
        |  FROM u1 CROSS JOIN m1),
        |d2 AS (SELECT e.vec_id, e.x,
        |   list_sum([e.x[i] * v1.v[i] for i in range(1, 65)]) AS dot
        |  FROM e CROSS JOIN v1),
        |u2 AS (SELECT i, CAST(sum(xi * dot) AS BIGINT) AS u FROM
        |  (SELECT unnest(range(1, 65)) AS i, unnest(x) AS xi, dot
        |   FROM d2) GROUP BY i),
        |m2 AS (SELECT greatest(max(abs(u)) // 1000000, 1) AS m FROM u2)
        |SELECT CAST(i AS INTEGER) AS dim, CAST(u // m AS BIGINT) AS v_e6
        |FROM u2 CROSS JOIN m2 ORDER BY dim""".stripMargin,
    // Composes the q_llm_pca_power CTE chain verbatim, then projects
    "q_llm_abtt" ->
      """WITH e AS (SELECT vec_id,
        |   [CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000.0E0 + 0.5E0) AS BIGINT)
        |    for i in range(1, 65)] AS x
        |  FROM embeddings),
        |d1 AS (SELECT vec_id, x,
        |   list_sum([x[i] * 1000000 for i in range(1, 65)]) AS dot
        |  FROM e),
        |u1 AS (SELECT i, sum(xi * dot) AS u FROM
        |  (SELECT unnest(range(1, 65)) AS i, unnest(x) AS xi, dot
        |   FROM d1) GROUP BY i),
        |m1 AS (SELECT greatest(max(abs(u)) // 1000000, 1) AS m FROM u1),
        |v1 AS (SELECT list(CAST(u // m AS BIGINT) ORDER BY i) AS v
        |  FROM u1 CROSS JOIN m1),
        |d2 AS (SELECT e.vec_id, e.x,
        |   list_sum([e.x[i] * v1.v[i] for i in range(1, 65)]) AS dot
        |  FROM e CROSS JOIN v1),
        |u2 AS (SELECT i, CAST(sum(xi * dot) AS BIGINT) AS u FROM
        |  (SELECT unnest(range(1, 65)) AS i, unnest(x) AS xi, dot
        |   FROM d2) GROUP BY i),
        |m2 AS (SELECT greatest(max(abs(u)) // 1000000, 1) AS m FROM u2),
        |v2 AS (SELECT list(CAST(u // m AS BIGINT) ORDER BY i) AS v
        |  FROM u2 CROSS JOIN m2),
        |vv AS (SELECT v,
        |   CAST(list_sum([v[i] * v[i] for i in range(1, 65)]) AS BIGINT)
        |     AS vv
        |  FROM v2),
        |a AS (SELECT e.vec_id, e.x, vv.v, vv.vv,
        |   CAST(list_sum([e.x[i] * vv.v[i] for i in range(1, 65)])
        |     AS BIGINT) AS d
        |  FROM e CROSS JOIN vv)
        |SELECT vec_id,
        | CAST(list_sum([abs(x[i]) for i in range(1, 65)]) AS BIGINT)
        |   AS l1_before,
        | CAST(list_sum([abs(x[i] * vv - v[i] * d)
        |   for i in range(1, 65)]) // vv AS BIGINT) AS l1_after,
        | CAST((d * 1000000) // vv AS BIGINT) AS proj_e6
        |FROM a ORDER BY vec_id""".stripMargin,
    "q_llm_split_assign" ->
      """WITH b AS (SELECT doc_id, lang, n_chars,
        |   CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15) AS BIGINT)
        |     % 1000 AS bucket FROM documents)
        |SELECT lang,
        | CASE WHEN bucket < 980 THEN 'train'
        |      WHEN bucket < 990 THEN 'val' ELSE 'test' END AS split,
        | count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars_total,
        | min(doc_id) AS min_doc
        |FROM b GROUP BY lang, split ORDER BY lang, split""".stripMargin,
    "q_llm_minhash_est" ->
      s"""WITH ${LlmOps.minhashCandCte},
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |est AS (SELECT c.a_id, c.b_id,
         |   CAST(sum(CASE WHEN x.m = y.m THEN 1 ELSE 0 END) AS BIGINT)
         |     AS n_match
         |  FROM cand c
         |  JOIN mh x ON x.doc_id = c.a_id
         |  JOIN mh y ON y.doc_id = c.b_id AND x.j = y.j
         |  GROUP BY 1, 2)
         |SELECT e.a_id, e.b_id, e.n_match,
         | floor((e.n_match / 16.0) * 10000.0 + 0.5) / 10000.0 AS est_j,
         | floor((1.0 * i.i / (na.n + nb.n - i.i)) * 10000.0 + 0.5) / 10000.0
         |   AS exact_j,
         | floor(abs(e.n_match / 16.0 - 1.0 * i.i / (na.n + nb.n - i.i))
         |   * 10000.0 + 0.5) / 10000.0 AS abs_err
         |FROM est e
         |JOIN inter i ON e.a_id = i.ia AND e.b_id = i.ib
         |JOIN sizes na ON e.a_id = na.doc_id
         |JOIN sizes nb ON e.b_id = nb.doc_id
         |ORDER BY e.a_id, e.b_id""".stripMargin,
    "q_llm_quality_logreg" ->
      """WITH f AS (SELECT doc_id,
        |   string_split(text, ' ') AS tk,
        |   len(string_split(text, ' ')) AS n_tok
        |  FROM documents),
        |feat AS (SELECT doc_id, n_tok,
        |   len(list_distinct(tk)) / CAST(n_tok AS DOUBLE) AS ttr,
        |   len(list_filter(tk, t -> t IN
        |     ('the','a','of','and','to','in','is')))
        |     / CAST(n_tok AS DOUBLE) AS stop_ratio
        |  FROM f),
        |z AS (SELECT doc_id,
        |   -1.5 + 2.2 * ttr + 1.1 * (1.0 - stop_ratio)
        |     + 0.9 * least(n_tok / 100.0, 1.0) AS z
        |  FROM feat)
        |SELECT doc_id,
        | floor(z * 10000.0 + 0.5) / 10000.0 AS z,
        | floor((0.5 * (1.0 + z / (1.0 + abs(z)))) * 10000.0 + 0.5) / 10000.0
        |   AS score,
        | z >= 0 AS keep
        |FROM z ORDER BY doc_id""".stripMargin,
    "q_llm_url_canon" ->
      """WITH g AS (SELECT doc_id,
        |   source || '.example.com' AS host,
        |   'https://' || source || '.example.com/' || lang || '/' || doc_id
        |     || '?id=' || (doc_id % 11) AS canon
        |  FROM documents)
        |SELECT doc_id, host, canon,
        | count(*) OVER (PARTITION BY host) AS n_host
        |FROM g ORDER BY doc_id""".stripMargin,
    "q_llm_kmeans_step" ->
      """WITH q AS (SELECT vec_id,
        |   list_transform(embedding,
        |     x -> CAST(floor(CAST(x AS DOUBLE) * 10000.0) AS BIGINT)) AS q
        |  FROM embeddings),
        |cents AS (SELECT vec_id AS cid, q AS cq FROM q WHERE vec_id < 8),
        |dists AS (SELECT q.vec_id, c.cid,
        |   list_sum([(q.q[i] - c.cq[i]) * (q.q[i] - c.cq[i])
        |             for i in range(1, len(q.q) + 1)]) AS d2
        |  FROM q CROSS JOIN cents c),
        |assigned AS (SELECT vec_id, cid AS cluster
        |  FROM (SELECT vec_id, cid,
        |     row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        |    FROM dists) WHERE rn = 1),
        |dims AS (SELECT a.cluster, d.dim, q.q[d.dim + 1] AS qv
        |  FROM assigned a JOIN q ON a.vec_id = q.vec_id
        |  CROSS JOIN (SELECT unnest(range(4)) AS dim) d)
        |SELECT cluster, CAST(dim AS INTEGER) AS dim,
        | CAST(count(*) AS BIGINT) AS n_members,
        | floor((CAST(sum(qv) AS DOUBLE) / count(*) / 10000.0)
        |   * 10000.0 + 0.5) / 10000.0 AS mean_val
        |FROM dims GROUP BY 1, 2 ORDER BY cluster, dim""".stripMargin,
    "q_llm_semdedup" ->
      """WITH q AS (SELECT vec_id,
        |   list_transform(embedding,
        |     x -> CAST(floor(CAST(x AS DOUBLE) * 10000.0) AS BIGINT)) AS qv,
        |   embedding::DOUBLE[] AS v,
        |   sqrt(list_inner_product(embedding::DOUBLE[],
        |                           embedding::DOUBLE[])) AS nrm
        |  FROM embeddings),
        |cents AS (SELECT vec_id AS cid, qv AS cq FROM q WHERE vec_id < 8),
        |dists AS (SELECT q.vec_id, c.cid,
        |   list_sum([(q.qv[i] - c.cq[i]) * (q.qv[i] - c.cq[i])
        |             for i in range(1, len(q.qv) + 1)]) AS d2
        |  FROM q CROSS JOIN cents c),
        |assigned AS (SELECT vec_id, cid AS cluster
        |  FROM (SELECT vec_id, cid,
        |     row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        |    FROM dists) WHERE rn = 1),
        |side AS (SELECT a.vec_id, a.cluster, q.v, q.nrm
        |  FROM assigned a JOIN q ON a.vec_id = q.vec_id),
        |dropped AS (SELECT DISTINCT b.vec_id AS drop_id
        |  FROM side a JOIN side b
        |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        |  WHERE list_inner_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.3)
        |SELECT s.vec_id, s.cluster, d.drop_id IS NULL AS is_kept
        |FROM side s LEFT JOIN dropped d ON s.vec_id = d.drop_id
        |ORDER BY s.vec_id""".stripMargin,
    "q_llm_bpe_merge" ->
      """WITH vocab AS (SELECT tok, count(*) AS cnt
        |  FROM (SELECT unnest(string_split(text, ' ')) AS tok
        |        FROM documents) GROUP BY tok),
        |pairs AS (SELECT unnest([substr(tok, i, 2)
        |     for i in range(1, length(tok))]) AS pair, cnt
        |  FROM vocab WHERE length(tok) >= 2),
        |ranked AS (SELECT pair, CAST(sum(cnt) AS BIGINT) AS pair_cnt,
        |   row_number() OVER (ORDER BY sum(cnt) DESC, pair) AS rank
        |  FROM pairs GROUP BY pair)
        |SELECT rank, pair, pair_cnt FROM ranked
        |WHERE rank <= 10 ORDER BY rank""".stripMargin,
    "q_llm_wordpiece_merge" ->
      """WITH vocab AS (SELECT tok, count(*) AS cnt
        |  FROM (SELECT unnest(string_split(text, ' ')) AS tok
        |        FROM documents) GROUP BY tok),
        |pairs AS (SELECT unnest([substr(tok, i, 2)
        |     for i in range(1, length(tok))]) AS pair, cnt
        |  FROM vocab WHERE length(tok) >= 2),
        |pc AS (SELECT pair, CAST(sum(cnt) AS BIGINT) AS pair_cnt
        |  FROM pairs GROUP BY pair),
        |chars AS (SELECT unnest([substr(tok, i, 1)
        |     for i in range(1, length(tok) + 1)]) AS ch, cnt
        |  FROM vocab),
        |cc AS (SELECT ch, CAST(sum(cnt) AS BIGINT) AS ccnt
        |  FROM chars GROUP BY ch),
        |sc AS (SELECT pair, pair_cnt, l.ccnt AS cl, r.ccnt AS cr,
        |   CAST(((pair_cnt * 1000000) // l.ccnt) * 1000000 // r.ccnt
        |     AS BIGINT) AS score_e6
        |  FROM pc JOIN cc l ON substr(pair, 1, 1) = l.ch
        |           JOIN cc r ON substr(pair, 2, 1) = r.ch),
        |ranked AS (SELECT *, row_number() OVER
        |   (ORDER BY score_e6 DESC, pair) AS rank FROM sc)
        |SELECT rank, pair, pair_cnt, cl, cr, score_e6 FROM ranked
        |WHERE rank <= 10 ORDER BY rank""".stripMargin,
  )
}
