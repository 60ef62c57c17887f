package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.{FreqSketch, IvfQuantizer, VectorExprs}

/** SURVEY.md §2-J — LLM-training-data-pipeline operators over the
  * `documents` and `embeddings` tables: dedup (exact, n-gram Jaccard,
  * MinHash-LSH, SimHash, embedding-cosine), similarity search
  * (brute-force and LSH-bucketed ANN), and text analysis (stats, tf-idf,
  * language-ID, quality scoring, token counting, fingerprinting).
  *
  * Cross-engine hash parity: every sketch hash here derives from a
  * cryptographic digest (md5 for the per-token/shingle hot path, sha256
  * for content-level dedup), first 15 hex digits → unsigned 60-bit
  * integer. Both Spark (`conv(substring(md5(x),1,15),16,10)`) and DuckDB
  * (`CAST('0x'||substr(md5(x),1,15) AS BIGINT)`) compute it identically —
  * so even the sketch-based operators (MinHash, SimHash) have exact
  * DuckDB oracle twins.
  *
  * Scale notes (100 TB):
  * - Exact pairwise ops (`shingle_jaccard`, `embed_neardup`,
  *   `cosine_topk`) are the small-N correctness baselines; their scale
  *   paths are the bucketed variants (`minhash_lsh`, `simhash`,
  *   `lsh_ann`) whose joins are equi-joins on band/bucket keys —
  *   shuffle-once, no cross product, skew bounded by band width.
  * - All shingle/token explodes are generator-based (no driver
  *   materialization); profiles and perm tables are tiny broadcasts.
  */
object LlmOps {

  private val P = graft.functions.MinHash.P

  /** 60-bit md5-based token hash — identical in DuckDB
    * (CAST('0x'||substr(md5(x),1,15) AS BIGINT)). md5 over sha256: half
    * the cost per call, and these run once per shingle (~n_tokens per
    * doc) in the dedup hot path; content-level dedup (exactDedup) keeps
    * sha256. */
  private[operators] def h60(c: String): String =
    s"CAST(conv(substring(md5($c), 1, 15), 16, 10) AS BIGINT)"

  /** doc_id + deduplicated 5-token shingle set, one row per shingle,
    * over the df-capped vocabulary (shingles in > 50 docs dropped).
    * The cap lives HERE, at the single source, so the exact-Jaccard
    * baseline and the MinHash-LSH path measure the SAME vocabulary —
    * otherwise the subset invariant (LSH pairs ⊆ exact pairs) could
    * break on boilerplate-heavy corpora. It also bounds the self-join
    * fan-out (≤ 50² candidate pairs per shingle) and keeps stop-shingles
    * out of the MinHash signatures — the CCNet/Gopher boilerplate
    * trick. The oracle CTE applies the identical cap. */
  /** Memoized per (application, sfDir) like [[minhashSigs]]:
    * the df-capped shingle frame is the substrate of shingleJaccard,
    * the signature-memo build, and the two sampled audits — each
    * previously re-ran the explode + df-cap anti-join. At 100 TB this
    * is the persisted shingle table of the dedup literature. */
  private def shingles(spark: SparkSession, dir: String): DataFrame =
    graft.FrameMemo.cached(spark, dir, "shingles") {
      val raw = documents(spark, dir)
        .withColumn("tk", tokens)
        .select(col("doc_id"), explode(array_distinct(expr(
          """CASE WHEN size(tk) >= 5
            |THEN transform(sequence(1, size(tk) - 4),
            |               i -> concat_ws(' ', slice(tk, i, 5)))
            |ELSE CAST(array() AS array<string>) END""".stripMargin)))
          .as("s"))
      // anti-join against the STOP set (df > 50), not inner-join against
      // the rare set: the rare set is nearly the whole vocabulary (full
      // double shuffle), while the stop set is the handful of boilerplate
      // shingles — small enough that AQE broadcasts the anti-join side
      val stop = raw.groupBy(col("s")).agg(count(lit(1)).as("df"))
        .filter(col("df") > 50).select(col("s"))
      raw.join(stop, Seq("s"), "left_anti").select(col("doc_id"), col("s"))
    }

  /** Exact dedup: normalize → sha256 → group; keep min doc_id. */
  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .groupBy(contentDigest.as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
      .orderBy(col("text_hash"))

  /** Exact 5-gram-shingle Jaccard near-dup pairs (τ=0.8) over the
    * df-capped vocabulary from [[shingles]] (cap documented there; it
    * is shared with minhashLsh so the subset invariant LSH ⊆ exact
    * holds by construction). Real near-dup pairs (τ≥0.8) share many
    * RARE shingles, so dropping ubiquitous ones barely moves J; the
    * oracle twin applies the identical cap, so the compare stays
    * exact. */
  def shingleJaccard(spark: SparkSession, dir: String): DataFrame =
    // no extra cache: the memoized frame is already materialized, and
    // jaccardPairs' two branches scan the checkpointed RDD directly
    jaccardPairs(shingles(spark, dir))

  /** Exact τ=0.8 Jaccard pairs over a given (doc_id, s) shingle frame —
    * the all-pairs kernel of [[shingleJaccard]], factored out so
    * [[bandSweep]] can run it over a deterministic doc SAMPLE (the
    * O(n²) side shrinks quadratically with the sample rate). The caller
    * owns caching of `sh` (it feeds both the sizes and intersection
    * branches). */
  private def jaccardPairs(sh: DataFrame): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = sh.as("a")
      .join(sh.as("b"), col("a.s") === col("b.s") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(sizes.select(col("doc_id"), col("n").as("na")),
        col("a_id") === col("doc_id")).drop("doc_id")
      .join(sizes.select(col("doc_id"), col("n").as("nb")),
        col("b_id") === col("doc_id")).drop("doc_id")
      .withColumn("raw_j", col("i") / (col("na") + col("nb") - col("i")))
      .filter(col("raw_j") >= 0.8)
      .select(col("a_id"), col("b_id"), r4(col("raw_j")).as("jaccard"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** MinHash signatures: the 16 shared permutation minimums
    * ([[graft.functions.MinHash.Perms]]) as 16 parallel aggregates over
    * ONE groupBy — no 16× row explosion (a perms crossJoin would push
    * 16× the shingle count through a shuffle); shingle sets are
    * collected alongside so downstream verify steps need no second
    * shuffle of the shingle table. */
  private def minExprs = graft.functions.MinHash.Perms.zipWithIndex.map {
    case ((a, b), j) => min(expr(s"($a * h + $b) % $P")).as(s"m$j")
  }

  /** Memoized per (application, sfDir) with an eager localCheckpoint
    *: EIGHT enrolled rows consume these signatures
    * (minhash_lsh, containment, edit_neardup, dup_clusters,
    * decontaminate_fuzzy, dedup_cascade, minhash_est, minhash_1bit),
    * and each previously re-ran the full shingle → 16-perm build.
    * At 100 TB this frame IS the persisted fingerprint table the
    * dedup literature assumes — built once, scanned per consumer. */
  private[operators] def minhashSigs(spark: SparkSession,
                                     dir: String): DataFrame =
    graft.FrameMemo.cached(spark, dir, "minhash-sigs")(
      minhashSigsFrom(shingles(spark, dir)))

  /** Signatures + collected shingle sets from a caller-owned shingle
    * frame — the kernel of [[minhashSigs]], factored out so
    * [[lshRecall]] can run the full LSH arm over the SAMPLED shingle
    * frame. Caller owns caching. */
  private def minhashSigsFrom(sh: DataFrame): DataFrame =
    sh.withColumn("h", expr(s"${h60("s")} % $P"))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("s")).as("ss"), minExprs: _*)
      .withColumn("n", size(col("ss")))

  /** Signatures WITHOUT the collected shingle sets, from a caller-owned
    * shingle frame: [[bandSweep]] needs only m0..m15 — materializing the
    * `ss` arrays (the verify payload of [[minhashSigs]]) through the
    * groupBy was most of the sweep's remaining cost (builder A/B at
    * sf0.1: 5.05 → 4.39 s uncached, 3.17 s with the sigs frame
    * cached — callers cache; it is docs × 16 longs). */
  private def minhashSigsOnly(sh: DataFrame): DataFrame =
    sh.withColumn("h", expr(s"${h60("s")} % $P"))
      .groupBy(col("doc_id"))
      .agg(minExprs.head, minExprs.tail: _*)

  /** Banded-LSH candidate pairs from [[minhashSigs]] output: 8 bands ×
    * 2 rows, signature format "j:m,j:m" (matches the oracle's
    * string_agg ORDER BY j). Bands carry ONLY (doc_id, band, sig): the
    * band self-join must not shuffle the shingle-set arrays 8× — at
    * sf0.1 that was ~80 MB of array payload through the exchange. */
  /** The 8×2 (doc_id, band, sig) frame from a signature frame — the
    * shared banding of [[minhashCandidates]] and the bucket-skew audit
    * (q_llm_lsh_bucket_skew), factored out so the skew row
    * measures the EXACT buckets the candidate join shuffles on. */
  private[operators] def minhashBandFrame(sigs: DataFrame): DataFrame = {
    val bandStructs = (0 until 8).map { b =>
      val (j1, j2) = (2 * b, 2 * b + 1)
      struct(lit(b).as("band"),
        concat_ws(",",
          concat_ws(":", lit(j1), col(s"m$j1")),
          concat_ws(":", lit(j2), col(s"m$j2"))).as("sig"))
    }
    sigs
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"),
        col("bs.sig").as("sig"))
  }

  private[operators] def minhashCandidates(sigs: DataFrame): DataFrame = {
    val bands = minhashBandFrame(sigs)
    bands.as("x")
      .join(bands.as("y"), col("x.band") === col("y.band") &&
        col("x.sig") === col("y.sig") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
  }

  /** MinHash + banded LSH near-dup: [[minhashSigs]] → [[minhashCandidates]]
    * bucket equi-join → exact Jaccard verify (τ=0.8). The bucket join is
    * the scale path: candidates share a band signature, never a cross
    * product. */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame =
    minhashLshFrom(minhashSigs(spark, dir))

  /** The LSH exact verify over a caller-owned signature frame (doc_id,
    * ss, n, m0..m15): the [[minhashCandidates]] pairs joined back to
    * both documents' shingle sets, i = |A ∩ B| via array_intersect —
    * candidate-sized work, never an all-pairs shingle self-join. Emits
    * (a_id, b_id, i, na, nb), all BIGINT, so the e4 grids' `i * 10000`
    * cannot overflow INT (ANSI mode throws from 214 749 shared
    * shingles). [[lshRecall]] runs it over its sampled signatures. */
  private[graft] def lshVerified(sigs: DataFrame): DataFrame = {
    val docsets = sigs.select(col("doc_id"), col("ss"),
      col("n").cast("long").as("n"))
    minhashCandidates(sigs)
      .join(docsets.select(col("doc_id"), col("ss").as("sa"),
        col("n").as("na")), col("a_id") === col("doc_id")).drop("doc_id")
      .join(docsets.select(col("doc_id"), col("ss").as("sb"),
        col("n").as("nb")), col("b_id") === col("doc_id")).drop("doc_id")
      .select(col("a_id"), col("b_id"),
        size(array_intersect(col("sa"), col("sb"))).cast("long").as("i"),
        col("na"), col("nb"))
  }

  /** Integer Jaccard ×10⁴ over an [[lshVerified]] frame: truncating div
    * (identical text in the oracle), guarded against an empty union. */
  private[graft] val JaccardE4 = "i * 10000 div greatest(na + nb - i, 1)"

  /** Verified τ = 0.8 pairs of [[minhashLsh]] over a caller-owned
    * signature frame (so [[lshRecall]]'s LSH arm can run over the
    * sampled corpus). */
  private def minhashLshFrom(sigs: DataFrame): DataFrame =
    lshVerified(sigs)
      .withColumn("raw_j", col("i") / (col("na") + col("nb") - col("i")))
      .filter(col("raw_j") >= 0.8)
      .select(col("a_id"), col("b_id"), r4(col("raw_j")).as("jaccard"))
      .orderBy(col("a_id"), col("b_id"))

  /** Cross-modality dedup agreement census: on the
    * SAME LSH candidate pairs, does the text verdict (exact shingle
    * Jaccard ≥ 0.8 — the enrolled minhash_lsh gate) agree with the
    * embedding verdict (cosine ≥ 0.4 — the enrolled embed_neardup
    * gate)? The 2×2 cell census with per-cell mean scores — the audit
    * that says whether the cheap text tier and the expensive embedding
    * tier of a dedup cascade are measuring the SAME notion of
    * duplicate (disagreement cells are exactly the pairs where a
    * cascade's tier order changes the outcome). Closes the loop
    * between the two dedup families the way q_llm_langid_confusion
    * closes lang-id. Fixture finding (enrollment, sf0.01): every LSH
    * candidate is a text-dup with cosine ≈ 0.003 — the synthetic
    * embeddings are NOT derived from the text, so the tiers measure
    * different notions here; on a real corpus with text-derived
    * embeddings the text_dup|embed_dup cell dominates, and THIS row is
    * how you check that before trusting a cascade's tier order.
    *
    * Exactness: Jaccard verdict on the integer grid (i·10⁴ div union ≥
    * 8000 ⟺ i/u ≥ 0.8 exactly — no float gate); cosine rides the
    * 6-digit grid; per-cell means are guarded truncating divs.
    *
    * Shape (100 TB): the banded candidate join (never all-pairs) +
    * keyed joins against the shingle-set and embedding stores; the
    * census is 4 rows. */
  def dedupModalityAgreement(spark: SparkSession, dir: String): DataFrame = {
    val withJ = lshVerified(minhashSigs(spark, dir))
      .select(col("a_id"), col("b_id"), expr(JaccardE4).as("j_e4"))
    val emb = embWithNorm(spark, dir)
    withJ
      .join(emb.select(col("vec_id").as("a_id"), col("v").as("av"),
        col("norm").as("an")), "a_id")
      .join(emb.select(col("vec_id").as("b_id"), col("v").as("bv"),
        col("norm").as("bn")), "b_id")
      .withColumn("cos", cosAB)
      .withColumn("cell", concat(
        when(col("j_e4") >= 8000, lit("text_dup"))
          .otherwise(lit("text_nodup")),
        lit("|"),
        when(col("cos") >= 0.4, lit("embed_dup"))
          .otherwise(lit("embed_nodup"))))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(j_e4) div count(1)").as("avg_j_e4"),
        expr("""sum(CAST(floor(cos * 10000 + 0.5) AS BIGINT))
          | div count(1)""".stripMargin).as("avg_cos_e4"))
      .orderBy(col("cell"))
  }

  /** N-gram CONTAINMENT on the LSH candidate pairs: the
    * asymmetric near-dup measure C(A→B) = |A∩B| / |A| over the same
    * df-capped 5-shingle sets as the Jaccard family. Jaccard misses
    * SUBSET duplication — a short document quoted whole inside a long
    * one scores J = |A|/|B| (small) but C(A→B) = 1 — and quote
    * inclusion is exactly how training-set contamination usually looks
    * (the decontamination literature thresholds containment, not
    * Jaccard). Candidates come from the SAME banded-LSH equi-join as
    * q_llm_minhash_lsh (no new pair machinery, no all-pairs), verified
    * with exact set intersection, kept when either direction ≥ 0.8.
    * Integer ×10⁴. */
  def containment(spark: SparkSession, dir: String): DataFrame =
    lshVerified(minhashSigs(spark, dir))
      .select(col("a_id"), col("b_id"), col("na"), col("nb"),
        col("i").as("n_common"),
        expr("i * 10000 div na").as("cont_a_e4"),
        expr("i * 10000 div nb").as("cont_b_e4"))
      .filter(col("cont_a_e4") >= 8000 || col("cont_b_e4") >= 8000)
      .orderBy(col("a_id"), col("b_id"))

  /** Edit-distance near-dup verify on the LSH candidate pairs
    *: exact character-level Levenshtein similarity
    * (gl − lev)·10⁴ div gl, gl = max(len), kept at ≥ 0.9 — the
    * measure that catches small in-place edits shingle-Jaccard
    * dilutes and containment ignores. Candidates come from the SAME
    * banded-LSH equi-join as q_llm_minhash_lsh (never all-pairs); the
    * O(len²) DP runs only on the bounded candidate set, exactly where
    * a 100 TB pipeline can afford it. Both engines run the identical
    * classic DP (`levenshtein`), so the row is integer-exact. */
  def editNeardup(spark: SparkSession, dir: String): DataFrame = {
    val cand = minhashCandidates(minhashSigs(spark, dir))
    val texts = documents(spark, dir).select(col("doc_id"), col("text"))
    cand
      .join(texts.select(col("doc_id"), col("text").as("ta")),
        col("a_id") === col("doc_id")).drop("doc_id")
      .join(texts.select(col("doc_id"), col("text").as("tb")),
        col("b_id") === col("doc_id")).drop("doc_id")
      .select(col("a_id"), col("b_id"),
        length(col("ta")).cast("long").as("la"),
        length(col("tb")).cast("long").as("lb"),
        levenshtein(col("ta"), col("tb")).cast("long").as("lev"))
      .withColumn("edit_sim_e4", expr(
        "(greatest(la, lb) - lev) * 10000 div greatest(la, lb)"))
      .filter(col("edit_sim_e4") >= 9000)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Out-of-vocabulary rate per language against the corpus top-1000
    * vocabulary: the tokenizer-coverage health number a
    * multilingual curation pass thresholds on (a lang whose tokens
    * fall outside the shared vocab gets shredded into bytes at
    * training time). Vocab selection is deterministic (count DESC,
    * token ASC, LIMIT 1000 — a tie at the boundary resolves the same
    * way in both engines); the vocab broadcasts to a map-side left
    * join; per-lang sums are partial-aggregable. At 100 TB the vocab
    * is still 1000 rows — the only corpus-sized work is the token
    * count, one shuffle. */
  def oovRate(spark: SparkSession, dir: String): DataFrame = {
    val toks = langTokens(spark, dir)
    val vocab = toks.groupBy(col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok"))
      .limit(1000)
      .select(col("tok"), lit(1).as("in_v"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_v").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("lang"), col("n_tokens"), col("n_oov"),
        expr("n_oov * 10000 div greatest(n_tokens, 1)").as("oov_e4"))
      .orderBy(col("lang"))
  }

  /** Square-root-smoothed language sampling weights: the
    * classic multilingual mixture rule (sample ∝ n^α, α = 0.5 — the
    * mBERT/XLM exponential-smoothing recipe) that up-weights tail
    * languages without drowning the head. All arithmetic is integer-
    * exact: s = floor(sqrt(n·10⁶)) (IEEE sqrt of an exactly-
    * representable integer is correctly rounded in both engines, floor
    * is deterministic), weights = s·10⁶ div Σs — no float sum ever
    * forms, so the row is immune to aggregation order. One tiny
    * aggregate (5 langs), 1-row broadcast total. */
  def sqrtMix(spark: SparkSession, dir: String): DataFrame = {
    val cnt = documents(spark, dir)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .withColumn("s_e3", expr(
        "CAST(floor(sqrt(CAST(n_docs AS DOUBLE) * 1000000.0)) AS BIGINT)"))
    val tot = cnt.agg(sum(col("s_e3")).as("tot"))
    cnt.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"), col("s_e3"),
        expr("s_e3 * 1000000 div tot").as("w_e6"))
      .orderBy(col("lang"))
  }

  /** Near-dup SOURCE mixing matrix: the verified LSH pair
    * set aggregated to (source_a, source_b) counts — which corpora
    * duplicate into which (the cross-source view a curation owner
    * reads before deciding per-source dedup policy; the within-source
    * diagonal is boilerplate, the off-diagonal is mirroring/
    * contamination). Sources are ordered lexically per pair so the
    * matrix is upper-triangular regardless of doc-id order. Rides the
    * memoized signature frame; the rollup is two broadcast dim joins
    * + one partial-aggregable groupBy over the (small) pair set. */
  def neardupSourceMatrix(spark: SparkSession, dir: String): DataFrame = {
    val pairs = minhashLsh(spark, dir).select(col("a_id"), col("b_id"))
    val src = documents(spark, dir).select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id"), col("source").as("sa")),
        col("a_id") === col("doc_id")).drop("doc_id")
      .join(src.select(col("doc_id"), col("source").as("sb")),
        col("b_id") === col("doc_id")).drop("doc_id")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** SimHash near-dup: 60-bit sign-aggregated token-hash fingerprint;
    * candidates via 4×15-bit chunk banding (pigeonhole: any pair at
    * Hamming distance ≤3 shares a chunk), verified with bit_count.
    *
    * The fingerprint is one columnar pass per document row (token-hash
    * array folded into a 60-counter balance array, then packed to bits)
    * — no token explode, no 60× bit-row shuffle. At sf0.1 the previous
    * explode formulation pushed ~18M rows through a shuffle; this does
    * zero shuffles before the candidate join. */
  /** SimHash fingerprints → 4×15-bit chunk-banded candidate pairs
    * with Hamming distance — the shared kernel of q_llm_simhash
    * (fixed d ≤ 3 gate) and q_llm_simhash_sweep (the d census),
    * factored out so the two rows can never band
    * differently. */
  private def simhashCands(spark: SparkSession,
      dir: String): DataFrame = {
    val sim = documents(spark, dir)
      .withColumn("hs", expr(
        s"transform(array_distinct(split(text, ' ')), t -> ${h60("t")})"))
      .withColumn("sim", VectorExprs.simhash60(col("hs")))
      .select(col("doc_id"), col("sim"))
    // 4-way chunk fan-out as a generator (explode), not a join — keeps
    // the fan-out shuffle-free and BNLJ out of the plan
    val chunks = sim
      .select(col("doc_id"), col("sim"),
        explode(expr("sequence(0, 3)")).as("c"))
      .withColumn("chunk", expr("shiftright(sim, 15 * c) & 32767"))
    chunks.as("x")
      .join(chunks.as("y"), col("x.c") === col("y.c") &&
        col("x.chunk") === col("y.chunk") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("x.sim").as("sim_a"),
        col("y.doc_id").as("b_id"), col("y.sim").as("sim_b"))
      .distinct()
      .withColumn("hamming",
        expr("CAST(bit_count(sim_a ^ sim_b) AS BIGINT)"))
  }

  def simhash(spark: SparkSession, dir: String): DataFrame =
    simhashCands(spark, dir)
      .filter(col("hamming") <= 3)
      .select(col("a_id"), col("b_id"), col("hamming"))
      .orderBy(col("a_id"), col("b_id"))

  /** SimHash distance-threshold sweep (J100): the band_sweep
    * discipline applied to the OTHER near-dup fingerprint — per
    * Hamming radius d ∈ 0..4, the exact-distance pair census and the
    * cumulative ≤ d candidate yield over the shared banded frame,
    * with the pigeonhole-guarantee verdict per radius: 4 chunks of a
    * 60-bit print guarantee COMPLETE recall only for d ≤ 3, so the
    * d = 4 row is an honest lower bound (guaranteed_complete = false)
    * — choosing a SimHash radius without this table is guessing the
    * exact tradeoff the banding math only bounds.
    *
    * Shape (100 TB): rides the shared chunk-banded candidate join
    * (never all-pairs); the census is a constant 5-row rollup. */
  def simhashSweep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val census = simhashCands(spark, dir)
      .filter(col("hamming") <= 4)
      .groupBy(col("hamming")).agg(count(lit(1)).as("n_at_d"))
    Seq(0L, 1L, 2L, 3L, 4L).toDF("d")
      .join(census, col("d") === col("hamming"), "left")
      .na.fill(0L, Seq("n_at_d"))
      .withColumn("n_le_d", sum(col("n_at_d")).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("d"))))
      .select(col("d"), col("n_at_d"), col("n_le_d"),
        (col("d") <= 3L).as("guaranteed_complete"))
      .orderBy(col("d"))
  }

  private val simhashSweepOracle: String =
    """WITH tok AS (SELECT doc_id,
      |  unnest(list_distinct(string_split(text, ' '))) AS t
      |  FROM documents),
      |th AS (SELECT doc_id,
      |  CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) AS h
      |  FROM tok),
      |bal AS (SELECT doc_id, bit,
      |  sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS balance
      |  FROM th CROSS JOIN range(60) r(bit) GROUP BY doc_id, bit),
      |sim AS (SELECT doc_id,
      |  sum(CASE WHEN balance >= 0 THEN (1::BIGINT << bit)
      |      ELSE 0::BIGINT END) AS sim
      |  FROM bal GROUP BY doc_id),
      |chunks AS (SELECT doc_id, sim,
      |   c, (sim >> (15 * CAST(c AS INTEGER))) & 32767 AS chunk
      |  FROM sim CROSS JOIN range(4) r(c)),
      |cand AS (SELECT DISTINCT x.doc_id AS a_id, x.sim AS sim_a,
      |    y.doc_id AS b_id, y.sim AS sim_b
      |  FROM chunks x JOIN chunks y ON x.c = y.c AND x.chunk = y.chunk
      |   AND x.doc_id < y.doc_id),
      |census AS (SELECT
      |   CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming,
      |   CAST(count(*) AS BIGINT) AS n_at_d
      |  FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= 4
      |  GROUP BY 1),
      |ds AS (SELECT CAST(unnest(range(0, 5)) AS BIGINT) AS d)
      |SELECT ds.d, CAST(coalesce(census.n_at_d, 0) AS BIGINT)
      |   AS n_at_d,
      |  CAST(sum(coalesce(census.n_at_d, 0)) OVER (ORDER BY ds.d)
      |    AS BIGINT) AS n_le_d,
      |  ds.d <= 3 AS guaranteed_complete
      |FROM ds LEFT JOIN census ON census.hamming = ds.d
      |ORDER BY ds.d""".stripMargin

  /** embeddings with a precomputed double-precision L2 norm, computed by
    * the native codegen'd expression (graft.functions.VectorExprs) —
    * same widen-then-accumulate semantics as the built-in HOF form, ~10×
    * less per-pair overhead in the O(n²) kernels below. */
  private def embWithNorm(spark: SparkSession, dir: String): DataFrame =
    embeddings(spark, dir)
      .withColumn("v", col("embedding"))
      .withColumn("norm", VectorExprs.norm(col("embedding")))

  /** Probe-candidate cosine on the 6-digit grid over (av, an, bv, bn). */
  private def cosAB: Column =
    round(VectorExprs.dot(col("av"), col("bv")) / (col("an") * col("bn")), 6)

  /** Brute-force cosine top-5 neighbors for the first 20 vectors —
    * the ANN correctness baseline (lshAnn is the scale path). */
  def cosineTopk(spark: SparkSession, dir: String): DataFrame = {
    val emb = embWithNorm(spark, dir)
    val probes = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("probe_id"), col("v").as("av"),
        col("norm").as("an"))
    val cands = emb.select(col("vec_id"), col("v").as("bv"),
      col("norm").as("bn"))
    val scored = probes.crossJoin(cands)
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cos", cosAB)
    scored
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("probe_id"))
          .orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rank") <= 5)
      .select(col("probe_id"), col("rank"), col("vec_id"), col("cos"))
      .orderBy(col("probe_id"), col("rank"))
  }

  /** Filtered ANN (J101): the filtered-vector-search
    * problem every production store faces — top-5 by cosine AMONG
    * candidates sharing the probe's label, emitted WITH each hit's
    * rank in the unfiltered list. That second column is the
    * post-filter depth: how deep an unfiltered index must page to
    * satisfy a filtered query (the number that decides pre-filter vs
    * post-filter vs label-partitioned indexes — at selectivity 1/|L|
    * the expected depth is ~rank·|L|, and this row measures the
    * actual). Exact brute-force arm over the 20-probe set (the
    * cosineTopk discipline: the quadratic is probe-bounded).
    *
    * Shape (100 TB): scoring is the probe-bounded broadcast
    * crossJoin; both ranks are per-probe windows over that scored
    * frame; the scale path is a label-partitioned IVF (the documented
    * production answer this baseline certifies). */
  def annFiltered(spark: SparkSession, dir: String): DataFrame = {
    val emb = embWithNorm(spark, dir)
    val probes = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("probe_id"),
        col("label").as("probe_label"), col("v").as("av"),
        col("norm").as("an"))
    val cands = emb.select(col("vec_id"), col("label"),
      col("v").as("bv"), col("norm").as("bn"))
    val scored = probes.crossJoin(cands)
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cos", cosAB)
      .withColumn("global_rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("probe_id"))
          .orderBy(col("cos").desc, col("vec_id"))).cast("long"))
    scored.filter(col("label") === col("probe_label"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("probe_id"))
          .orderBy(col("cos").desc, col("vec_id"))).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("probe_id"), col("rank"), col("vec_id"), col("cos"),
        col("global_rank"))
      .orderBy(col("probe_id"), col("rank"))
  }

  // lazy: cosCte is declared later in the object (init order)
  private lazy val annFilteredOracle: String =
    s"""WITH $cosCte,
       |scored AS (SELECT p.vec_id AS probe_id, p.label AS plabel,
       |   c.vec_id, c.label,
       |   round(list_inner_product(p.v, c.v) / (p.nrm * c.nrm), 6)
       |     AS cos
       |  FROM emb p JOIN emb c ON c.vec_id <> p.vec_id
       |  WHERE p.vec_id < 20),
       |g AS (SELECT *, CAST(row_number() OVER (PARTITION BY probe_id
       |   ORDER BY cos DESC, vec_id) AS BIGINT) AS global_rank
       |  FROM scored),
       |f AS (SELECT *, CAST(row_number() OVER (PARTITION BY probe_id
       |   ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
       |  FROM g WHERE label = plabel)
       |SELECT probe_id, rank, vec_id, cos, global_rank
       |FROM f WHERE rank <= 5
       |ORDER BY probe_id, rank""".stripMargin

  /** 5-NN majority-label classification for the first 20 vectors. */
  def knnLabel(spark: SparkSession, dir: String): DataFrame = {
    val emb = embWithNorm(spark, dir)
    val probes = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("probe_id"), col("v").as("av"),
        col("norm").as("an"))
    val cands = emb.select(col("vec_id"), col("label"), col("v").as("bv"),
      col("norm").as("bn"))
    val knn = probes.crossJoin(cands)
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cos", cosAB)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("probe_id"))
          .orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rank") <= 5)
    knn.groupBy(col("probe_id"), col("label")).agg(count(lit(1)).as("votes"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("probe_id"))
          .orderBy(col("votes").desc, col("label"))))
      .filter(col("rn") === 1)
      .select(col("probe_id"), col("label").as("pred_label"), col("votes"))
      .orderBy(col("probe_id"))
  }

  /** Label-noise estimate: share of audited vectors whose
    * 5-NN majority label disagrees with their own — the standard
    * cheap noise-rate probe run before training a classifier on
    * harvested labels (Northcutt's confident-learning intuition at
    * k-NN fidelity). Consumes knnLabel's OUTPUT over its bounded
    * 20-probe audit population (the quarantined-all-pairs rule: the
    * probe set, not the corpus, bounds the cross join).
    *
    * Shape: knnLabel's plan + one 20-row join and fold. */
  def labelNoise(spark: SparkSession, dir: String): DataFrame = {
    val pred = knnLabel(spark, dir)
      .select(col("probe_id"), col("pred_label"))
    val truth = embeddings(spark, dir).filter(col("vec_id") < 20)
      .select(col("vec_id"), col("label"))
    pred.join(truth, col("vec_id") === col("probe_id"))
      .agg(count(lit(1)).as("n_probes"),
        sum(when(col("pred_label") =!= col("label"), 1L).otherwise(0L))
          .as("n_mismatch"))
      .select(col("n_probes"), col("n_mismatch"),
        expr("n_mismatch * 10000 div n_probes").as("noise_share_e4"))
  }

  /** Hard-triplet mining: per probe, the hardest positive
    * (same label, LOWEST cosine — the in-class example the model finds
    * least similar) and the hardest negative (different label, HIGHEST
    * cosine — the impostor it finds most similar), plus the margin
    * violation (neg_cos − pos_cos; > 0 means the triplet is violated
    * and carries gradient). This is the mining step of every
    * metric-learning / contrastive-embedding pipeline — hard triplets
    * are the ones worth a training step; random triplets are mostly
    * already satisfied.
    *
    * Scale shape: same bounded-probe discipline as cosineTopk — the
    * 20-probe side broadcasts, so the scored frame is linear in corpus
    * size (never all-pairs); the two argmin/argmax windows partition on
    * probe_id (20 keys × corpus candidates each — at real scale the
    * window becomes a max_by/min_by partial aggregate, same result,
    * and the candidate set per probe comes from the enrolled ANN index
    * instead of the full scan). */
  def tripletMine(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = embWithNorm(spark, dir)
    val probes = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("probe_id"), col("label").as("p_label"),
        col("v").as("av"), col("norm").as("an"))
    val cands = emb.select(col("vec_id"), col("label"), col("v").as("bv"),
      col("norm").as("bn"))
    val pairs = broadcast(probes).crossJoin(cands)
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cos", cosAB)
    val byProbe = Window.partitionBy(col("probe_id"))
    val pos = pairs.filter(col("label") === col("p_label"))
      .withColumn("rn", row_number().over(
        byProbe.orderBy(col("cos").asc, col("vec_id"))))
      .filter(col("rn") === 1)
      .select(col("probe_id"), col("vec_id").as("pos_id"),
        col("cos").as("pos_cos"))
    val neg = pairs.filter(col("label") =!= col("p_label"))
      .withColumn("rn", row_number().over(
        byProbe.orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rn") === 1)
      .select(col("probe_id"), col("vec_id").as("neg_id"),
        col("cos").as("neg_cos"))
    pos.join(neg, "probe_id")
      .withColumn("margin_violation",
        round(col("neg_cos") - col("pos_cos"), 6))
      .select(col("probe_id"), col("pos_id"), col("pos_cos"),
        col("neg_id"), col("neg_cos"), col("margin_violation"))
      .orderBy(col("probe_id"))
  }

  /** DSIR-style importance weighting: score every document by
    * how target-domain-like its hashed-bigram distribution is — the
    * data-selection method behind quality-filtered pretraining mixes
    * (importance resampling on hashed n-gram features). Target here =
    * the `lang = 'en'` subset, a stand-in for any "high-quality seed"
    * corpus. Per 1024-bucket hashed bigram: log((p̂_target + ε) /
    * (p̂_raw + ε)) with add-one smoothing; per doc: the SUM of its
    * bigrams' log-ratios — in integer MICRO-UNITS (each ln rounds to
    * e6 once, per bucket), so the variable-arity per-doc sum is exact
    * integer arithmetic, independent of aggregation order (a float Σ
    * over n_bigrams terms would hash-mismatch). Top-25 selected.
    *
    * Scale shape: one bigram explode (map-side, no shuffle until the
    * bucket groupBy); bucket stats are 1024 rows (one partial-agg
    * shuffle + a scalar total broadcast back); the per-doc score is a
    * broadcast join against the 1024-row log-ratio table + one
    * partial-aggregable doc groupBy. At 100 TB exactly two full-data
    * moves: the bucket-stat partial agg and the doc-score agg —
    * the DSIR shape by construction. */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val d = documents(spark, dir)
      .select(col("doc_id"), col("lang"), tokens.as("toks"))
    val bg = d
      .select(col("doc_id"), col("lang"),
        explode(expr("transform(sequence(1, size(toks) - 1), " +
          "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"))
          .as("b"))
      .select(col("doc_id"), expr(s"${h60("b")} % 1024").as("bucket"),
        col("lang"))
    val stats = bg.groupBy(col("bucket")).agg(
      count(lit(1)).as("cr"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"))
    val tot = stats.agg(sum(col("cr")).as("nr"), sum(col("ct")).as("nt"))
    val lr = stats.crossJoin(broadcast(tot))
      .select(col("bucket"),
        // 1.0D / 0.5D: Spark parses bare decimals as DECIMAL (DuckDB:
        // DOUBLE) — the D suffix keeps the ln argument double-for-double
        // identical across engines (same fix as hybridRrf's rrf column)
        expr("CAST(floor(ln(((ct + 1.0D) * (nr + 1024)) / " +
          "((cr + 1.0D) * (nt + 1024))) * 1000000 + 0.5D) AS BIGINT)")
          .as("lr_e6"))
    bg.join(broadcast(lr), "bucket")
      .groupBy(col("doc_id"))
      .agg(sum(col("lr_e6")).as("dsir_e6"), count(lit(1)).as("n_bigrams"))
      .orderBy(col("dsir_e6").desc, col("doc_id"))
      .limit(25)
      .select(col("doc_id"), col("dsir_e6"), col("n_bigrams"))
  }

  /** MMR diversified re-ranking: maximal marginal relevance
    * over the dense top-10 for probe 7 — pick 5 results where each next
    * pick maximizes λ·rel − (1−λ)·max(sim to already-picked), λ=0.7.
    * THE selection step between retrieval and a RAG context window:
    * pure top-k returns near-duplicates of the best hit; MMR trades a
    * little relevance for coverage. Greedy selection is inherently
    * sequential, so the 5 steps are UNROLLED into one declarative plan
    * (the q_graph_pagerank discipline — no driver loop at depth 5).
    *
    * Exactness: scores live in integer micro-units. The MMR update is
    * computed as (7·(rel+10⁶) + 3·(10⁶ − maxsim)) div 10 − 10⁶ — the
    * numerator is shifted NONNEGATIVE before the div because Spark's
    * `div` truncates toward zero while DuckDB's `//` floors; on the
    * shifted domain they agree bit-for-bit (rank 1 scores pure rel by
    * convention: max over an empty picked-set is undefined).
    *
    * Scale shape: the candidate frame is k-sized (10 rows) by the time
    * any MMR arithmetic runs — the corpus-scale work is ONE bounded
    * top-k (TakeOrderedAndProject), and the k×k sim matrix + 5
    * selection steps are constant-size joins AQE broadcasts. At real
    * scale candidates come from the enrolled ANN index and the same
    * constant-size tail applies unchanged. */
  def mmrRerank(spark: SparkSession, dir: String): DataFrame = {
    val emb = embWithNorm(spark, dir)
    val probe = emb.filter(col("vec_id") === 7)
      .select(col("v").as("av"), col("norm").as("an"))
    def e6(c: Column): Column =
      floor(round(c, 6) * 1000000 + 0.5).cast("bigint")
    // localCheckpoint: the 5 unrolled steps each reference cand/sims,
    // and a TakeOrderedAndProject is not an Exchange — ReuseExchange
    // cannot dedupe it, so WITHOUT the checkpoint every step re-runs
    // the corpus top-k (measured 3.94 s at sf0.1; 0.4 s with it). The
    // frames are k-sized (10 and 90 rows), so the materialization is
    // trivially cheap at any corpus scale — this is the k-sized
    // cache-the-frontier discipline from connectedComponents, not a
    // corpus-sized cache.
    val cand = emb.filter(col("vec_id") =!= 7)
      .crossJoin(broadcast(probe))
      .select(col("vec_id").as("id"),
        e6(VectorExprs.dot(col("av"), col("v")) / (col("an") * col("norm")))
          .as("rel_e6"))
      .orderBy(col("rel_e6").desc, col("id")).limit(10)
      .localCheckpoint()
    val ce = cand
      .join(emb.select(col("vec_id"), col("v"), col("norm")),
        col("id") === col("vec_id"))
      .select(col("id"), col("rel_e6"), col("v"), col("norm"))
    val sims = ce.as("a").join(ce.as("b"), col("a.id") =!= col("b.id"))
      .select(col("a.id").as("sa"), col("b.id").as("sb"),
        e6(VectorExprs.dot(col("a.v"), col("b.v"))
          / (col("a.norm") * col("b.norm"))).as("sim_e6"))
      .localCheckpoint()
    def step(sel: DataFrame, k: Int): DataFrame = {
      val simToSel = sims
        .join(broadcast(sel.select(col("id").as("sb"))), "sb")
        .groupBy(col("sa")).agg(max(col("sim_e6")).as("maxsim"))
      cand.join(broadcast(sel.select(col("id"))), Seq("id"), "left_anti")
        .join(simToSel, col("id") === col("sa"))
        .select(lit(k).as("rank"), col("id"),
          expr("(7*(rel_e6 + 1000000) + 3*(1000000 - maxsim)) div 10" +
            " - 1000000").as("mmr_e6"))
        .orderBy(col("mmr_e6").desc, col("id")).limit(1)
    }
    val s1 = cand
      .select(lit(1).as("rank"), col("id"), col("rel_e6").as("mmr_e6"))
      .orderBy(col("mmr_e6").desc, col("id")).limit(1)
    var sel = s1.select(col("id"))
    var out = s1
    for (k <- 2 to 5) {
      // checkpoint each 1-row pick: step k references sel (which holds
      // every earlier step's subtree), so without the cut the unrolled
      // plan doubles per step — 2⁵ copies of the join tail (320
      // Exchanges without the cut, 2 with it). Four extra 1-row
      // materializations; same
      // k-sized discipline as cand/sims above.
      val sk = step(sel, k).localCheckpoint()
      out = out.union(sk)
      sel = sel.union(sk.select(col("id")))
    }
    out.select(col("rank"), col("id").as("doc_id"), col("mmr_e6"))
      .orderBy(col("rank"))
  }

  /** Embedding-cosine near-dup pairs (τ=0.4 for this synthetic data)
    * anchored in a bounded probe window (a_id < 250), same shape as
    * cosineTopk: the probe side is a small broadcastable set, so the
    * plan is a broadcast nested-loop with a BOUNDED build side — linear
    * in corpus size, not O(n²). The unbounded all-pairs form survives as
    * [[embedNeardupAll]] for the ScalaTest cross-check only (its plan is
    * a true cartesian and must never be enrolled). */
  def embedNeardup(spark: SparkSession, dir: String): DataFrame = {
    val emb = embWithNorm(spark, dir)
    val a = emb.filter(col("vec_id") < 250)
      .select(col("vec_id").as("a_id"), col("v").as("av"),
        col("norm").as("an"))
    val b = emb.select(col("vec_id").as("b_id"), col("v").as("bv"),
      col("norm").as("bn"))
    broadcast(a).crossJoin(b).filter(col("a_id") < col("b_id"))
      .withColumn("cos", cosAB)
      .filter(col("cos") >= 0.4)
      .select(col("a_id"), col("b_id"), col("cos"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Unbounded exact all-pairs near-dup — ScalaTest cross-check ONLY
    * (cartesian plan; not enrolled, never run at scale). */
  def embedNeardupAll(spark: SparkSession, dir: String): DataFrame = {
    val emb = embWithNorm(spark, dir)
    val a = emb.select(col("vec_id").as("a_id"), col("v").as("av"),
      col("norm").as("an"))
    val b = emb.select(col("vec_id").as("b_id"), col("v").as("bv"),
      col("norm").as("bn"))
    a.crossJoin(b).filter(col("a_id") < col("b_id"))
      .withColumn("cos", cosAB)
      .filter(col("cos") >= 0.4)
      .select(col("a_id"), col("b_id"), col("cos"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Shared exact-verification tail of every bucketed ANN path: score
    * (probe_id, vec_id) candidate pairs by exact cosine, keep the top 3
    * per probe. Candidates arrive ids-only (the bucket joins must never
    * shuffle the 64-float vectors — at 100 TB the exploded candidate
    * frame is the big side); vectors join back here, twice, against the
    * base table. */
  private def scoreCands(emb: DataFrame, cands: DataFrame): DataFrame =
    cands
      .join(emb.select(col("vec_id").as("probe_id"), col("v").as("av"),
        col("norm").as("an")), "probe_id")
      .join(emb.select(col("vec_id"), col("v").as("bv"),
        col("norm").as("bn")), "vec_id")
      .withColumn("cos", cosAB)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("probe_id"))
          .orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rank") <= 3)
      .select(col("probe_id"), col("rank"), col("vec_id"), col("cos"))
      .orderBy(col("probe_id"), col("rank"))

  /** Candidate pairs for [[lshAnn]] — ids only, one 256-bucket
    * equi-join. Factored out so [[annCost]] can count the pre-verify
    * candidate set (the cost axis) without re-scoring. */
  private[operators] def lshAnnCands(spark: SparkSession,
      dir: String): DataFrame = {
    val bucketExpr =
      """aggregate(sequence(0, 7),
        |  CAST(0 AS BIGINT),
        |  (acc, d) -> acc + CASE WHEN element_at(v, d + 1) > 0
        |                         THEN shiftleft(CAST(1 AS BIGINT), d)
        |                         ELSE CAST(0 AS BIGINT) END)""".stripMargin
    val emb = embWithNorm(spark, dir).withColumn("bucket", expr(bucketExpr))
    val probes = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("probe_id"), col("bucket"))
    val cands = emb.select(col("vec_id"), col("bucket").as("b_bucket"))
    probes
      .join(cands, col("bucket") === col("b_bucket") &&
        col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"))
  }

  /** LSH-bucketed ANN: 8 sign bits of the leading dimensions → 256
    * buckets; probes search only their own bucket (equi-join, the scale
    * path), top-3 by cosine within it. */
  def lshAnn(spark: SparkSession, dir: String): DataFrame =
    scoreCands(embWithNorm(spark, dir), lshAnnCands(spark, dir))

  /** Near-dup CLUSTERS: connected components over the MinHash-LSH pair
    * graph — the transitive-closure step a production dedup pipeline
    * runs after pair generation (keep min doc_id per cluster, drop the
    * rest). Pairs (a,b),(b,c) must collapse to ONE cluster even though
    * (a,c) was never emitted as a pair.
    *
    * Algorithm: iterative min-label propagation (each node takes the min
    * label among itself and its neighbors; converges in graph-diameter
    * iterations — near-dup clusters are shallow, and the hard cap is
    * log₂(n) hops for a path graph). Each iteration is one distributed
    * join + aggregate; the driver sees only a scalar changed-count per
    * iteration (the standard Pregel-style CC loop; at 100 TB the same
    * loop runs with checkpointed lineage every few iterations). */
  def dupClusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = minhashLsh(spark, dir).select(col("a_id"), col("b_id"))
    connectedComponents(pairs)
      .toDF("doc_id", "cluster_id")
      .orderBy(col("doc_id"))
  }

  /** SoftDeDup weighting — the keep-everything alternative to
    * dropping near-duplicates: every member of a near-dup cluster of
    * size s gets training weight 1/s (×10⁴ integer), so boilerplate
    * stops dominating the loss while no text is discarded. Reported as
    * the cluster-size histogram with per-doc and total weights,
    * INCLUDING the size-1 row for docs in no LSH pair (weight 10⁴) —
    * so Σ n_docs = |corpus| and Σ total_weight_e4 ≈ 10⁴ · effective
    * corpus size. Rides [[dupClusters]] (the same CC labels as the
    * cluster rows — the weight row can never disagree with them about
    * what a duplicate is).
    *
    * Shape: cluster rollup (partial-aggregable) + two 1-row frames
    * cross-joined for the singleton bucket; output ≤ |distinct sizes|
    * rows. */
  def softDedup(spark: SparkSession, dir: String): DataFrame = {
    val cl = dupClusters(spark, dir)
    val hist = cl.groupBy(col("cluster_id")).agg(count(lit(1)).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("n_groups"))
    val tot = documents(spark, dir).agg(count(lit(1)).as("n_total"))
    val ncl = cl.agg(count(lit(1)).as("n_cl"))
    tot.crossJoin(ncl)
      .select(lit(1L).as("s"), (col("n_total") - col("n_cl")).as("n_groups"))
      .unionAll(hist.select(col("s"), col("n_groups")))
      .groupBy(col("s"))
      .agg(sum(col("n_groups")).as("n_groups"))
      .select(col("s").as("group_size"), col("n_groups"),
        (col("s") * col("n_groups")).as("n_docs"),
        expr("10000 div s").as("weight_per_doc_e4"),
        expr("n_groups * (10000 div s) * s").as("total_weight_e4"))
      .orderBy(col("group_size"))
  }

  /** Near-dup cluster SIZE distribution: how much of the
    * duplication mass sits in pairs vs big boilerplate clusters — the
    * number a dedup owner reads before choosing keep-one-per-cluster
    * vs cap-per-cluster. Pure rollup of [[dupClusters]] (which rides
    * the memoized signature frame), grouped twice: cluster → size,
    * size → count. Both aggregations are partial-aggregable; output is
    * at most |distinct sizes| rows. */
  def dupClusterSizes(spark: SparkSession, dir: String): DataFrame =
    dupClusters(spark, dir)
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        min(col("cluster_id")).as("min_cluster"))
      .orderBy(col("cluster_size").desc, col("min_cluster"))

  /** Dedup survivorship audit: when min-id survivorship
    * drops the other members of each near-dup cluster, what QUALITY
    * walks out the door? Per multi-member cluster: the kept doc's
    * logreg score vs the dropped docs' scores, rolled up to one row —
    * including n_kept_suboptimal, the count of clusters where some
    * dropped copy outscores the survivor (10 of 23 at sf0.01: the
    * actionable argument for score-ranked survivorship). Consumes
    * dupClusters' OUTPUT (kept ⟺ doc_id = cluster_id, the min-label
    * CC invariant) and the logreg score — the derived-frame rule both
    * ways.
    *
    * Shape: cluster frame ⋈ score frame (equi-join) → per-cluster
    * fold → 1-row census; scale cost is dupClusters itself. */
  def dedupSurvivorship(spark: SparkSession, dir: String): DataFrame = {
    val sc1 = ModelPrep.qualityLogreg(spark, dir)
      .select(col("doc_id"),
        expr("CAST(floor(score * 10000 + 0.5) AS BIGINT)").as("s_e4"))
    dupClusters(spark, dir)
      .join(sc1, "doc_id")
      .withColumn("kept", col("doc_id") === col("cluster_id"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n"),
        max(when(col("kept"), col("s_e4"))).as("ks"),
        sum(when(!col("kept"), col("s_e4")).otherwise(0L)).as("ds"),
        sum(when(!col("kept"), 1L).otherwise(0L)).as("dn"),
        max(when(!col("kept"), col("s_e4"))).as("max_dropped"))
      .filter(col("n") > 1)
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("dn")).as("n_dropped"),
        expr("sum(ks) div count(1)").as("avg_kept_e4"),
        expr("sum(ds) div greatest(sum(dn), 1)").as("avg_dropped_e4"),
        expr("sum(ks) div count(1) - sum(ds) div greatest(sum(dn), 1)")
          .as("delta_e4"),
        sum(when(col("max_dropped") > col("ks"), 1L).otherwise(0L))
          .as("n_kept_suboptimal"))
  }

  /** Cluster-inflation audit: how many pairs does
    * TRANSITIVE closure add beyond the direct LSH evidence? Near-dup
    * dedup treats every within-cluster pair as duplicate, but only
    * the direct pairs carried Jaccard ≥ τ evidence — the difference
    * (n_implied − n_direct) is the over-merge exposure of chaining
    * (A≈B≈C declared A≈C). Implied pairs fold from cluster SIZES
    * (Σ s(s−1)/2, the erBlocking trick — no pair materialized);
    * n_implied ≥ n_direct always (each direct pair lies inside one
    * cluster). The sf0.01 reading is equality (inflation 1.0000 —
    * no chaining happened); a long chain shows up here before it
    * shows up as a bad merge.
    *
    * Consumes dupClusters' and minhashLsh's OUTPUTS (derived-frame
    * rule); cost is theirs. */
  def clusterInflation(spark: SparkSession, dir: String): DataFrame = {
    val nd = minhashLsh(spark, dir).agg(count(lit(1)).as("n_direct"))
    val sz = dupClusters(spark, dir)
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("s"))
      .filter(col("s") > 1)
    val mx = sz.agg(max(col("s")).as("max_s"))
    sz.agg(count(lit(1)).as("n_clusters"),
        sum(expr("s * (s - 1) div 2")).as("n_implied_pairs"))
      .crossJoin(broadcast(nd)).crossJoin(broadcast(mx))
      .select(col("n_clusters"), col("max_s").as("max_cluster"),
        col("n_implied_pairs"), col("n_direct").as("n_direct_pairs"),
        (col("n_implied_pairs") - col("n_direct"))
          .as("n_transitive_only"),
        expr("n_implied_pairs * 10000 div greatest(n_direct, 1)")
          .as("inflation_e4"))
  }

  /** Connected components over an undirected pair list `(a, b)` —
    * returns `(node, component_min_id)` for every node appearing in any
    * pair. Min-label propagation WITH pointer jumping: each round every
    * node takes the min of its own label, its neighbors' labels, its
    * label's label, and its label's label's label (grandparent
    * shortcutting). Neighbor-min alone needs diameter rounds (a 60-node
    * chain would exceed any fixed cap); the double jump makes label
    * depth shrink ~3x per round, so convergence is O(log diameter) and
    * the 50-round cap covers ~3^50 diameters. Round 0 is free: the
    * label seed folds min-neighbor into the node-list aggregation.
    * A non-converged exit THROWS rather than returning silently wrong
    * clusters. ScalaCheck-verified against a driver union-find on
    * random graphs incl. long chains (GraftProps).
    *
    * Each round ends in `localCheckpoint` — this is load-bearing, not a
    * cache hint: the round's plan references the previous labels three
    * times (neighbor join, jump lookup, convergence diff), so WITHOUT
    * lineage truncation the logical plan grows ~4^rounds and Spark
    * spends unbounded time just stringifying/optimizing it. Truncation
    * keeps every round's plan O(1) — the same reason production
    * iterative jobs checkpoint. */
  def connectedComponents(pairs: DataFrame): DataFrame =
    connectedComponentsWithRounds(pairs)._1

  /** As [[connectedComponents]], additionally returning the number of
    * propagation rounds run (asserted O(log n) in BatchSpec).
    *
    * @param checkpointDir lineage-truncation strategy: `None` →
    *   `localCheckpoint` (executor-local blocks — fastest, but lost on
    *   executor death; right for local/interactive runs); `Some(dir)` →
    *   reliable `checkpoint` to that directory (HDFS/S3 at cluster
    *   scale — survives executor loss, which a 100 TB multi-hour CC job
    *   must). Same plan either way; a deploy flips one parameter.
    *
    * Convergence is checked after every round: the round-start label
    * rides as a `prev` column INSIDE the checkpointed frame, so the
    * check is a no-shuffle filter-count over already-materialized
    * blocks — cheap enough to run every round: exact detection, zero
    * overshoot rounds. */
  def connectedComponentsWithRounds(
      pairs: DataFrame,
      checkpointDir: Option[String] = None): (DataFrame, Int) = {
    val ckpt: DataFrame => DataFrame = checkpointDir match {
      case Some(dir) =>
        pairs.sparkSession.sparkContext.setCheckpointDir(dir)
        df => df.checkpoint()
      case None => df => df.localCheckpoint()
    }
    // Eagerly FREE superseded round checkpoints: a local
    // checkpoint's blocks otherwise live until a JVM GC lets the
    // ContextCleaner notice the dropped RDD reference — a 50-round
    // 100 TB CC job would pin up to 50 node-sized frames in executor
    // memory waiting for one. Once round N+1 is materialized (ckpt is
    // eager), round N's blocks are unreachable by any future plan, so
    // they are unpersisted on the spot; reliable checkpoints (files,
    // not blocks) make this a no-op.
    def unpersistCkpt(df: DataFrame): Unit = df.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false); ()
      case _ => ()
    }
    val Seq(aCol, bCol) = pairs.columns.toSeq.map(pairs(_))
    val edges = ckpt(pairs.select(aCol.as("src"), bCol.as("dst"))
      .union(pairs.select(bCol.as("src"), aCol.as("dst"))))
    // Round-0 seed: lbl = min(self, min neighbor). The node list needs
    // an aggregation over edges either way (the old form ran distinct);
    // folding the first neighbor-min INTO that aggregation performs a
    // whole propagation round at zero extra jobs.
    var labels = ckpt(edges.groupBy(col("src"))
      .agg(min(col("dst")).as("nmin"))
      .select(col("src").as("node"),
        least(col("src"), col("nmin")).as("lbl")))
    var iter = 0
    var converged = false
    val maxIter = 50
    while (!converged && iter < maxIter) {
      val lbls = labels.select(col("node"), col("lbl"))
      val neighborMin = edges
        .join(lbls, edges("dst") === col("node"))
        .groupBy(col("src")).agg(min(col("lbl")).as("nmin"))
      val stepped = lbls.join(neighborMin, col("node") === col("src"),
          "left")
        .select(col("node"), col("lbl").as("prev"),
          least(col("lbl"), coalesce(col("nmin"), col("lbl"))).as("lbl"))
      // true pointer DOUBLING: jump through the map computed by the
      // step itself (not the stale round-start map) — lbl <- cur(lbl)
      // with cur = the just-updated labels. Each self-jump halves
      // label depth; two of them quarter it, so a round compresses
      // ~4-8x (vs 2x for a single stale-map jump), cutting total
      // rounds — and each round is a checkpoint barrier, so rounds are
      // the scarce resource. Within a round the plan composes 2 self-
      // joins on top of the checkpointed labels (bounded constant
      // growth; lineage truncated at round end). Labels are always
      // node ids, so lookups are total (left join only for safety).
      // `prev` (the round-START label) rides inside the checkpoint so
      // the convergence check below never re-joins.
      def selfJump(cur: DataFrame): DataFrame = cur.as("s")
        .join(cur.select(col("node").as("jn"), col("lbl").as("jl")),
          col("s.lbl") === col("jn"), "left")
        .select(col("s.node").as("node"), col("s.prev").as("prev"),
          least(col("s.lbl"), coalesce(col("jl"), col("s.lbl")))
            .as("lbl"))
      val next = ckpt(selfJump(selfJump(stepped)))
      // ckpt is eager — next's blocks exist, so the superseded round
      // (and on iter 1 the seed) is unreachable by any future plan
      unpersistCkpt(labels)
      labels = next
      iter += 1
      // no-shuffle scan over the blocks the ckpt just materialized
      converged = next.filter(col("lbl") =!= col("prev")).count() == 0
    }
    if (!converged) {
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds")
    }
    // the returned labels frame no longer references the edge blocks
    unpersistCkpt(edges)
    System.err.println(s"[graft] connectedComponents: $iter rounds " +
      s"(${checkpointDir.fold("localCheckpoint")(d => s"checkpoint@$d")})")
    (labels.select(col("node"), col("lbl")), iter)
  }

  /** IVF-bucketed ANN: the inverted-file counterpart to the
    * sign-bucket lshAnn. Coarse quantizer = [[IvfQuantizer]]'s 16
    * sampled centroids (the first 16 vectors — random-sample init, the
    * standard cheap quantizer start, and deterministic so the oracle can
    * replicate it); every vector is assigned to its max-cosine centroid
    * (broadcast join — centroids are always tiny), and a probe searches
    * its `nprobe` nearest centroids' inverted lists. At 100 TB: one
    * broadcast assign pass + an equi-join on bucket — linear, no pair
    * blow-up; recall grows with nprobe as a constant-factor widening of
    * the SAME equi-join (the probe side carries nprobe bucket rows, the
    * candidate side is unchanged — each candidate still lives in
    * exactly one list, so the widened join introduces no duplicates).
    * nprobe=1 and nprobe=2 are both enrolled oracle rows
    * (q_llm_ivf_ann / q_llm_ivf_ann_probe2); BatchSpec additionally
    * asserts nprobe=2 recall-vs-brute-force ≥ nprobe=1. */
  def ivfAnn(spark: SparkSession, dir: String, nprobe: Int = 1): DataFrame =
    scoreCands(embWithNorm(spark, dir), ivfAnnCands(spark, dir, nprobe))

  /** Candidate pairs for [[ivfAnn]]/[[ivfPq]] — ids only. A probe fans
    * out to its nprobe nearest lists; candidates stay in their single
    * home list, so the bucket equi-join widens by exactly nprobe on the
    * (small) probe side and introduces no duplicate pairs. */
  private[operators] def ivfAnnCands(spark: SparkSession, dir: String,
      nprobe: Int): DataFrame =
    ivfAnnCandsPn(spark, dir, nprobe)
      .select(col("probe_id"), col("vec_id"))

  /** [[ivfAnnCands]] carrying `pn` = the probed list's rank among the
    * probe's nearest centroids. A candidate surfaces at nprobe=N iff
    * pn ≤ N, so ONE frame at the widest nprobe serves every narrower
    * arm as a filter — [[annRecall]] exploits this to run the centroid
    * crossJoin + assignment window once instead of once per arm. */
  private[operators] def ivfAnnCandsPn(spark: SparkSession, dir: String,
      maxProbe: Int): DataFrame = {
    val emb = embWithNorm(spark, dir)
    val ranked = IvfQuantizer.ranked(emb, IvfQuantizer.sampledCentroids(emb))
    val assigned = ranked.filter(col("arn") === 1)
      .select(col("vec_id"), col("c_id").as("bucket"))
    val probes = ranked.filter(col("vec_id") < 20 && col("arn") <= maxProbe)
      .select(col("vec_id").as("probe_id"), col("c_id").as("p_bucket"),
        col("arn").as("pn"))
    probes
      .join(assigned, col("p_bucket") === col("bucket") &&
        col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"), col("pn"))
  }

  /** IVF-PQ composite search: the FAISS-style
    * memory-bound ANN path — coarse quantizer (ivfAnn's 16 sampled
    * centroids) narrows the search to one inverted list, then ranking
    * uses ONLY the candidates' 8 one-byte PQ codes via asymmetric
    * distance (ADC): the probe precomputes an 8×8 lookup table of
    * subspace distances to the PQ codebook, and a candidate's distance
    * is 8 table lookups — the candidate's 64 floats are never read at
    * search time. At 100 TB the candidate side of the join carries
    * (bucket, 8 codes) ≈ 9 bytes/vector instead of 256 bytes of floats;
    * the probe table is nprobe×64 tiny rows.
    *
    * Determinism: each table entry is a fixed left-to-right zip_with
    * fold (bit-identical in DuckDB's list_sum comprehension); the
    * 8-term ADC sum is pivoted to columns and added EXPLICITLY
    * (t0+t1+…+t7, fixed association order) — never a float sum() over
    * rows, whose order is partition-dependent. Ties break on vec_id. */
  def ivfPq(spark: SparkSession, dir: String): DataFrame =
    ivfPqAdcRanked(spark, dir)
      .filter(col("rank") <= 3)
      .select(col("probe_id"), col("rank"), col("vec_id"), col("adc"))
      .orderBy(col("probe_id"), col("rank"))

  /** Two-stage PQ search: ADC SHORTLIST → exact re-rank —
    * the production FAISS pattern. Plain ADC top-3 honestly scores
    * recall@3 = 2166 e4 on the scoreboard: the 64-bit code budget (8
    * bytes/vector) can't rank near-random 64-dim embeddings finely, and
    * a measured 1-3 Lloyd codebook-training steps move recall by
    * ±ε only (builder sweep: 0.13–0.25 across steps and scales) — the
    * BUDGET binds, not codeword placement, so the fix is a second
    * stage, not a better codebook. ADC ranks the whole inverted list at
    * 8 table lookups per candidate, the top R=20 survivors alone pay an
    * exact cosine (vs the full list in ivf_probe1): measured recall@3
    * rises 2166 → 7333 e4 at sf0.01 (5666 at sf0.1) for a CONSTANT
    * 20-vector exact stage per probe — no scoreboard cost row needed,
    * the exact-stage cost is R by construction while the ADC stage
    * shares ivf_pq's 9-byte/vector scan. */
  def ivfPqRerank(spark: SparkSession, dir: String,
      r: Int = 20): DataFrame =
    scoreCands(embWithNorm(spark, dir),
      ivfPqAdcRanked(spark, dir).filter(col("rank") <= r)
        .select(col("probe_id"), col("vec_id")))

  /** The shared ADC ranking of [[ivfPq]]/[[ivfPqRerank]]: every
    * candidate in the probe's coarse list scored by 8 codebook table
    * lookups, ranked (adc asc, vec_id). */
  private def ivfPqAdcRanked(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val buckets = ivfAssigned(spark, dir)
    val codebook = pqSubs(embeddings(spark, dir)
        .filter(col("vec_id") < 8), "vec_id")
      .select(col("vec_id").as("cid"), col("sub"), col("v").as("cv"))
    // candidate payload: bucket + 8 codes — no vectors
    val codes = pqQuantize(spark, dir)
      .select(col("vec_id"), col("sub"), col("code"))
    // probe-side ADC lookup table: ||probe_sub − codebook[sub][cid]||²
    val ptab = pqSubs(embeddings(spark, dir)
        .filter(col("vec_id") < 20), "vec_id")
      .withColumnRenamed("vec_id", "probe_id")
      .join(broadcast(codebook), Seq("sub"))
      .withColumn("pdist", expr(
        "aggregate(zip_with(v, cv, (a, b) -> (a - b) * (a - b)), " +
          "0D, (acc, x) -> acc + x)"))
      .select(col("probe_id"), col("sub").as("t_sub"),
        col("cid").as("t_cid"), col("pdist"))
    val pbuck = buckets.filter(col("vec_id") < 20)
      .select(col("vec_id").as("probe_id"), col("bucket"))
    val tSum = (0 to 7).map(j =>
      sum(when(col("t_sub") === j, col("pdist"))).as(s"t$j"))
    pbuck
      .join(buckets.join(codes, "vec_id"), Seq("bucket"))
      .filter(col("vec_id") =!= col("probe_id"))
      .join(ptab, Seq("probe_id"))
      .filter(col("sub") === col("t_sub") && col("code") === col("t_cid"))
      .groupBy(col("probe_id"), col("vec_id"))
      .agg(tSum.head, tSum.tail: _*)
      .withColumn("adc", round(
        col("t0") + col("t1") + col("t2") + col("t3") +
          col("t4") + col("t5") + col("t6") + col("t7"), 6))
      .withColumn("rank", row_number().over(
        w.partitionBy(col("probe_id"))
          .orderBy(col("adc"), col("vec_id"))))
  }

  /** Multi-table sign-bit LSH ANN: the standard public fix
    * for single-table LSH's low recall (the scoreboard measured
    * lsh_8bit at 3 % — one 8-bit bucketing is too selective). L=4
    * independent tables, table t bucketing on the sign bits of dims
    * 8t..8t+7; a candidate surfaces if it collides with the probe in
    * ANY table. Recall rises with L at L× the candidate cost — the
    * classic (L, bits) trade the scoreboard quantifies.
    *
    * Scale shape: the bucket join carries ONLY (table, bucket, id) —
    * the 64-float vectors never ride the exploded 4× frame; surviving
    * deduped pairs re-join the vector table twice for exact scoring.
    * Same banded-union pattern as MinHash-LSH bands, so the 100 TB
    * argument is shared: per-table buckets are equi-join keys, no
    * all-pairs anywhere. */
  def lshAnnMulti(spark: SparkSession, dir: String,
      tables: Int = 4): DataFrame =
    scoreCands(embWithNorm(spark, dir),
      lshAnnMultiCands(spark, dir, tables))

  /** Candidate pairs for [[lshAnnMulti]] — deduped ids-only union of L
    * per-table bucket collisions. */
  /** (vec_id, t, bucket) sign-bit keys for L LSH tables — table t
    * buckets on the sign bits of dims 8t..8t+7, so table 0 is exactly
    * [[lshAnnCands]]' single-table bucketing. Shared by
    * [[lshAnnMultiCands]] and [[annRecall]] (which derives BOTH lsh
    * arms from one checkpointed copy). */
  private[operators] def lshTableKeys(spark: SparkSession, dir: String,
      tables: Int): DataFrame =
    embWithNorm(spark, dir)
      .select(col("vec_id"),
        explode(expr(s"sequence(0, ${tables - 1})")).as("t"), col("v"))
      .withColumn("bucket", expr(
        """aggregate(sequence(0, 7),
          |  CAST(0 AS BIGINT),
          |  (acc, d) -> acc + CASE
          |    WHEN element_at(v, t * 8 + d + 1) > 0
          |    THEN shiftleft(CAST(1 AS BIGINT), d)
          |    ELSE CAST(0 AS BIGINT) END)""".stripMargin))
      .select(col("vec_id"), col("t"), col("bucket"))

  /** Bucket-collision pairs over a (vec_id, t, bucket) key frame:
    * probes (vec_id < 20) join candidates per (t, bucket), deduped
    * across tables when `dedup` (single-table pairs are unique by
    * construction — the distinct would only add a shuffle). */
  private def lshKeyPairs(keys: DataFrame, dedup: Boolean): DataFrame = {
    val pairs = keys.filter(col("vec_id") < 20)
      .withColumnRenamed("vec_id", "probe_id")
      .join(keys, Seq("t", "bucket"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"))
    if (dedup) pairs.distinct() else pairs
  }

  private[operators] def lshAnnMultiCands(spark: SparkSession, dir: String,
      tables: Int): DataFrame =
    lshKeyPairs(lshTableKeys(spark, dir, tables), dedup = true)

  /** LSH banding quality scoreboard: MinHash-LSH's verified
    * pair set against the exact all-pairs τ=0.8 baseline
    * ([[shingleJaccard]], same df-capped vocabulary, so the comparison
    * is apples-to-apples). Because LSH candidates are verified with
    * exact Jaccard before emission, precision is 1 BY CONSTRUCTION
    * (asserted as a column); the informative number is RECALL — the
    * fraction of true τ-pairs whose signatures collide in at least one
    * band, i.e. the banding's miss rate, THE knob-tuning number for
    * (bands, rows-per-band). Exact integer arithmetic throughout.
    *
    * SAMPLED (the exact baseline is quadratic otherwise): like
    * [[bandSweep]], the WHOLE audit — exact baseline and LSH
    * arm both — runs over the deterministic 60 % doc sample
    * (md5-h60(doc_id) % 5 < 3), because this row is a quality AUDIT,
    * not a production pair pass: its job is the recall/precision
    * numbers, and those survive sampling (recall is a per-pair
    * property; a uniform doc sample keeps an unbiased pair subset).
    * Sampling ONLY the exact arm would corrupt precision semantics
    * (full-corpus LSH pairs outside the sample would read as false
    * positives), so both arms read the same sampled shingle frame —
    * the subset invariant LSH ⊆ exact still holds by construction.
    * The df-cap stays computed over the FULL corpus (sample applied to
    * shingles()'s output, as bandSweep). The UNSAMPLED production pair
    * passes remain enrolled as q_llm_shingle_jaccard / q_llm_minhash_lsh;
    * the oracle applies the identical sample so the compare stays
    * exact. */
  def lshRecall(spark: SparkSession, dir: String): DataFrame = {
    val samplePred = expr(s"${h60("cast(doc_id AS string)")} % 5 < 3")
    // shSampled feeds both arms; each pair frame feeds two plan
    // branches (its count + the intersection) — cache so each pair
    // pipeline runs once (lifecycle: Verify/Bench clearCache between
    // queries, BatchSpec afterAll)
    val shSampled = shingles(spark, dir).filter(samplePred).cache()
    val sigs = minhashSigsFrom(shSampled).cache()
    val exact = jaccardPairs(shSampled).select(col("a_id"), col("b_id"))
      .cache()
    val lsh = minhashLshFrom(sigs).select(col("a_id"), col("b_id"))
      .cache()
    spark.range(1).select(lit(1).as("one"))
      .crossJoin(broadcast(exact.agg(count(lit(1)).as("n_exact"))))
      .crossJoin(broadcast(lsh.agg(count(lit(1)).as("n_lsh"))))
      .crossJoin(broadcast(lsh.join(exact, Seq("a_id", "b_id"),
        "left_semi").agg(count(lit(1)).as("n_both"))))
      .select(col("n_exact"), col("n_lsh"), col("n_both"),
        expr("CASE WHEN n_exact > 0 THEN n_both * 10000 div n_exact" +
          " ELSE 10000 END").as("recall_e4"),
        expr("CASE WHEN n_lsh > 0 THEN n_both * 10000 div n_lsh" +
          " ELSE 10000 END").as("precision_e4"))
  }

  /** LSH band-parameter SWEEP: the S-curve made measurable.
    * The same 16 minhashes re-banded as 8×2 / 4×4 / 2×8 (bands ×
    * rows-per-band), reporting per config the PRE-verify candidate
    * count (the cost axis — every candidate pays an exact
    * verification) and the recall of true τ=0.8 pairs among candidates
    * (the quality axis). Collision probability is 1−(1−J^r)^b; the
    * production 8×2 sits on the knee (measured sf0.01: 8×2 and 4×4 =
    * 25 candidates at 100 % recall, 2×8 = 24 at 96 %).
    *
    * r=1 (16×1) is deliberately NOT enrolled: a single-hash collision
    * is the quadratic regime banding exists to avoid — any two docs
    * sharing ANY one minhash pair up, so its candidate set approaches
    * all-similar-pairs as the corpus grows (measured once at sf0.01:
    * 27 candidates/100 % recall; at sf0.1 its pair materialization
    * alone cost ~20 s and would dominate the bench while demonstrating
    * only what 1−(1−J)^16 already says). Signature build is shared
    * (cached) across configs — the sweep costs one banded self-join
    * over (doc, band, sig) triples per config, never a signature
    * recompute.
    *
    * SAMPLED: the whole sweep — exact baseline AND per-config
    * candidates — runs over a 60 % deterministic doc sample
    * (md5-h60(doc_id) % 5 < 3, the q_llm_split_assign trick), because
    * the sweep is an S-curve AUDIT, not a production pair pass: the
    * exact all-pairs baseline it must rebuild is O(n²), and sampling
    * cuts that side to 0.36× while the recall-vs-cost shape it exists
    * to show survives (sf0.1 keeps 99 of 255 true pairs). Measured
    * sf0.1 min-of-3: 8.0 s (r5) → 5.05 (sampled) → 3.17 (sampled +
    * ss-free cached sigs — see minhashSigsOnly). The oracle applies
    * the identical sample, so the compare stays exact; the UNSAMPLED
    * exact baseline remains enrolled as q_llm_shingle_jaccard /
    * q_llm_lsh_recall. */
  def bandSweep(spark: SparkSession, dir: String): DataFrame = {
    val samplePred = expr(s"${h60("cast(doc_id AS string)")} % 5 < 3")
    // pair-count-sized frames feeding FOUR plan branches each (the
    // true-pair count + three per-config semi-joins; each config's
    // candidate set feeds its own count + hit branches): cache them so
    // the expensive pair pipelines run once, not once per branch.
    // Measured A/B at sf0.1: cached 11.0 s vs uncached 25.2 s — here
    // (unlike annRecall/dedupCascade) ReuseExchange can't help because
    // the shared subtree ends below differently-shaped consumers.
    // Lifecycle contract as shingles()/prefixJoin (Verify/Bench
    // clearCache between queries, BatchSpec clears in afterAll)
    val shSampled = shingles(spark, dir).filter(samplePred).cache()
    // sigs WITHOUT the ss arrays, from the same cached sampled shingle
    // scan the exact baseline reads (see minhashSigsOnly); cached —
    // each of the three configs' band joins re-derives it otherwise
    // (docs × 16 longs, the cheapest cache in the file)
    val sigs = minhashSigsOnly(shSampled).cache()
    val exact = jaccardPairs(shSampled).select(col("a_id"), col("b_id"))
      .cache()
    val nExact = exact.agg(count(lit(1)).as("n_true"))
    val perConfig = Seq(2, 4, 8).map { r =>
      val nb = 16 / r
      val bandStructs = (0 until nb).map { b =>
        val sigCols = (0 until r).map { k =>
          val j = b * r + k
          concat_ws(":", lit(j), col(s"m$j"))
        }
        struct(lit(b).as("band"), concat_ws(",", sigCols: _*).as("sig"))
      }
      val bands = sigs
        .select(col("doc_id"), explode(array(bandStructs: _*)).as("bs"))
        .select(col("doc_id"), col("bs.band").as("band"),
          col("bs.sig").as("sig"))
      val cand = bands.as("x")
        .join(bands.as("y"), col("x.band") === col("y.band") &&
          col("x.sig") === col("y.sig") &&
          col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
        .distinct()
        .cache()
      spark.range(1)
        .select(lit(nb.toLong).as("n_bands"),
          lit(r.toLong).as("rows_per_band"))
        .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_cand"))))
        .crossJoin(broadcast(cand.join(exact, Seq("a_id", "b_id"),
          "left_semi").agg(count(lit(1)).as("n_hit"))))
        .crossJoin(broadcast(nExact))
        .select(col("n_bands"), col("rows_per_band"), col("n_cand"),
          col("n_hit"),
          expr("CASE WHEN n_true > 0 THEN n_hit * 10000 div n_true" +
            " ELSE 10000 END").as("recall_e4"))
    }
    perConfig.reduce(_.unionAll(_)).orderBy(col("rows_per_band"))
  }

  /** Dedup CASCADE scoreboard: the production corpus-dedup
    * flow as ONE auditable row — stage 1 exact dedup (content-hash
    * groups, keep min doc_id), stage 2 MinHash-LSH near-dup clusters
    * over the survivors (keep the cluster minimum), reporting per-stage
    * kept counts and the final retention rate ×10⁴.
    *
    * Correctness lemma (why stage 2 can reuse the all-docs cluster
    * map): exact duplicates have identical shingle sets, so they land
    * in the same near-dup cluster; the cluster's min doc_id is
    * therefore itself an exact-group minimum, and "min per cluster over
    * all docs" ≡ "min per cluster over stage-1 survivors". The cascade
    * needs no second clustering pass — the composed oracle encodes the
    * same identity.
    *
    * Scale shape: reuses exactDedup's hash groupBy and dupClusters'
    * banded-LSH + pointer-jumped CC (both documented 100 TB paths);
    * the cascade adds one keepers⋈clusters left join and two scalar
    * aggregates. */
  def dedupCascade(spark: SparkSession, dir: String): DataFrame = {
    val nDocs = documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    // NO cache on either frame, measured deliberately (A/B at sf0.1:
    // uncached 5.4 s vs cached 11.4 s): dupClusters' result sits on a
    // localCheckpoint (the CC loop's lineage truncation), so its two
    // consumer branches replay only the cheap tail, and an explicit
    // cache just adds a blocking InMemoryRelation materialization —
    // the same lesson as the pagerank rewrite
    val keepers = exactDedup(spark, dir).select(col("keep_id").as("doc_id"))
    val cl = dupClusters(spark, dir)
    val cmins = cl.groupBy(col("cluster_id"))
      .agg(min(col("doc_id")).as("cmin"))
    val fin = keepers
      .join(cl, Seq("doc_id"), "left")
      // NO broadcast hint on cmins: one row per near-dup CLUSTER, which
      // is corpus-sized at 100 TB — a forced broadcast would OOM the
      // driver. AQE picks broadcast at fixture scale on its own; the
      // one-row scalar aggregates below remain hinted (always tiny).
      .join(cmins, Seq("cluster_id"), "left")
      .filter(col("cluster_id").isNull || col("doc_id") === col("cmin"))
    nDocs
      .crossJoin(broadcast(keepers.agg(count(lit(1)).as("n_exact_kept"))))
      .crossJoin(broadcast(fin.agg(count(lit(1)).as("n_final_kept"))))
      .select(col("n_docs"), col("n_exact_kept"), col("n_final_kept"),
        expr("n_final_kept * 10000 div n_docs").as("retention_e4"))
  }

  /** ANN recall@3 scoreboard: every approximate method (sign-
    * bit LSH single- and multi-table, IVF nprobe=1/2/4, IVF-PQ) scored
    * against the brute-force top-3 baseline in ONE query — the number a
    * user tuning nprobe or bucket bits actually needs. Recall is exact integer arithmetic
    * (hits·10⁴ div baseline-size); n_returned exposes methods that
    * return fewer than k candidates (sparse inverted lists). Each
    * method's candidate generation is the SAME bucketed equi-join shape
    * that scales — only the 20-probe baseline side is quadratic, and it
    * is the documented exact baseline.
    *
    * THE PRODUCTION OPERATING POINT: **ivf_probe4** —
    * measured recall@3 = 9000 e4 at sf0.01 and 9166 e4 at sf0.1, at a
    * candidate cost of ~24-25 % of brute force (the cost axis is the
    * enrolled [[annCost]] twin, q_llm_ann_cost). ivf_probe1/2 sit at
    * 83-90 % recall for 6-12 % of brute cost; the sign-bit LSH configs
    * quantify the cheap-but-low-recall end (3-15 %). A user deploys
    * IVF nprobe=4 and tunes DOWN toward nprobe=1 if the recall budget
    * allows — both knob directions are now demonstrated rows, not
    * extrapolations. */
  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    // Shared-frame composition (the 7-arm uncached form measured
    // 5.66 s, 1.9× this one):
    //  - the three IVF arms are pn-filters of ONE ivfAnnCandsPn(4)
    //    frame, so the centroid crossJoin + assignment window runs once;
    //  - the two PQ arms share ONE ADC ranking (ivf_pq reads its top-3
    //    directly, the re-rank arm exact-scores its top-20 shortlist);
    //  - tagged/brute/the shared frames are localCheckpoint'd ids-only
    //    tables (≤ a few hundred rows after the rank filters), cutting
    //    every per-method pipeline to exactly one evaluation. cache()
    //    stays out (the lesson about the blocking
    //    InMemoryRelation round-trip holds; a lineage cut is cheaper).
    // Measured at sf0.1 local[4], min-of-3: 5.51 s (uncached 7-arm) →
    // 4.39 s (checkpoint only) → 4.2–4.5 s shared-frame (run noise
    // ±0.3 s); output bit-identical across all forms. Lazy
    // localCheckpoint(false) measured SLOWER (4.8–5.1 s): concurrent
    // consumers recompute a lazy checkpoint's partitions before the
    // first materialization persists them — eager is the right mode
    // for a frame with multiple same-job consumers.
    val emb = embWithNorm(spark, dir)
    val ivfCands = ivfAnnCandsPn(spark, dir, maxProbe = 4)
      .localCheckpoint()
    def ivfArm(n: Int): DataFrame =
      scoreCands(emb, ivfCands.filter(col("pn") <= n)
        .select(col("probe_id"), col("vec_id")))
    val adc = ivfPqAdcRanked(spark, dir)
      .select(col("probe_id"), col("vec_id"), col("rank"))
      .localCheckpoint()
    val brute = cosineTopk(spark, dir).filter(col("rank") <= 3)
      .select(col("probe_id"), col("vec_id"))
      .localCheckpoint()
    // one sign-bit key pass serves both LSH arms: table 0 of the
    // 4-table frame IS the single-table bucketing
    val lshKeys = lshTableKeys(spark, dir, tables = 4).localCheckpoint()
    def tag(name: String, df: DataFrame): DataFrame =
      df.filter(col("rank") <= 3)
        .select(lit(name).as("method"), col("probe_id"), col("vec_id"))
    val tagged = tag("lsh_8bit",
        scoreCands(emb, lshKeyPairs(lshKeys.filter(col("t") === 0),
          dedup = false)))
      .unionAll(tag("lsh_multi4",
        scoreCands(emb, lshKeyPairs(lshKeys, dedup = true))))
      .unionAll(tag("ivf_probe1", ivfArm(1)))
      .unionAll(tag("ivf_probe2", ivfArm(2)))
      .unionAll(tag("ivf_probe4", ivfArm(4)))
      .unionAll(tag("ivf_pq", adc))
      .unionAll(tag("ivf_pq_r20",
        scoreCands(emb, adc.filter(col("rank") <= 20)
          .select(col("probe_id"), col("vec_id")))))
      .localCheckpoint()
    val denom = brute.agg(count(lit(1)).as("total"))
    val ret = tagged.groupBy(col("method"))
      .agg(count(lit(1)).as("n_returned"))
    val hits = tagged.join(brute, Seq("probe_id", "vec_id"), "left_semi")
      .groupBy(col("method")).agg(count(lit(1)).as("n_hits"))
    ret.join(hits, Seq("method"), "left_outer")
      .na.fill(0L, Seq("n_hits"))
      .crossJoin(broadcast(denom))
      .select(col("method"), col("n_returned"), col("n_hits"),
        expr("n_hits * 10000 div total").as("recall_e4"))
      .orderBy(col("method"))
  }

  /** ANN COST scoreboard — the other axis of [[annRecall]]:
    * per method, the PRE-verification candidate-pair count (every
    * candidate pays one exact cosine), per-probe average, and the
    * fraction of the brute-force candidate count (20·(n−1)) ×10⁴.
    * Together the two scoreboards certify the production operating
    * point: ivf_probe4 at ~90 % recall for ~2450 e4 (24.5 %) of brute
    * cost. ivf_pq shares ivf_probe1's candidate set by construction
    * (the coarse quantizer narrows to the same arn=1 list; ADC changes
    * the SCORING cost per candidate — 8 table lookups vs 64 mults —
    * not the candidate count), so its row re-counts
    * [[ivfAnnCands]](nprobe=1) under its own name.
    *
    * All counts are exact integers over deterministic candidate sets —
    * hash-safe. Each candidate generator runs once (ids-only frames;
    * the counts job shuffles only (method, probe_id, vec_id)). */
  def annCost(spark: SparkSession, dir: String): DataFrame = {
    def tag(name: String, df: DataFrame): DataFrame =
      df.select(lit(name).as("method"), col("probe_id"), col("vec_id"))
    val tagged = tag("lsh_8bit", lshAnnCands(spark, dir))
      .unionAll(tag("lsh_multi4", lshAnnMultiCands(spark, dir, 4)))
      .unionAll(tag("ivf_probe1", ivfAnnCands(spark, dir, 1)))
      .unionAll(tag("ivf_probe2", ivfAnnCands(spark, dir, 2)))
      .unionAll(tag("ivf_probe4", ivfAnnCands(spark, dir, 4)))
      .unionAll(tag("ivf_pq", ivfAnnCands(spark, dir, 1)))
    val denom = embeddings(spark, dir)
      .agg(count(lit(1)).as("n_vec"))
    tagged.groupBy(col("method")).agg(count(lit(1)).as("n_cand"))
      .crossJoin(broadcast(denom))
      .select(col("method"), col("n_cand"),
        expr("n_cand div 20").as("cand_per_probe"),
        expr("n_cand * 10000 div (20 * (n_vec - 1))")
          .as("pct_of_brute_e4"))
      .orderBy(col("method"))
  }

  /** PII scrubbing: redact emails and phone numbers before a
    * corpus ships to training — pure codegen'd regexp_replace, one
    * columnar pass, no UDF. The fixture plants one deterministic email
    * and phone per document (the synthetic corpus has none), so the
    * oracle can verify both the redaction and the count. */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    // character-class forms ([.] [+]) so the same pattern string is
    // valid in the DataFrame API, in a Spark SQL string literal (which
    // consumes backslash escapes), and in DuckDB's RE2
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
    val phoneRe = "[+]1-555-[0-9]{3}-[0-9]{4}"
    documents(spark, dir)
      .withColumn("txt", concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com or +1-555-"),
        lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"),
        lit("-"), lpad(pmod(col("doc_id") * 7, lit(10000)).cast("string"),
          4, "0")))
      .select(col("doc_id"),
        (size(expr(s"regexp_extract_all(txt, '$emailRe', 0)"))
          + size(expr(s"regexp_extract_all(txt, '$phoneRe', 0)")))
          .as("n_redacted"),
        regexp_replace(regexp_replace(col("txt"), emailRe, "<EMAIL>"),
          phoneRe, "<PHONE>").as("clean"))
      .orderBy(col("doc_id"))
  }

  /** Corpus stats per language. */
  def textStats(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .withColumn("n_tok", size(tokens))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        r4(avg(col("n_chars"))).as("avg_chars"),
        countDistinct(col("source")).as("n_sources"),
        r4(avg(col("n_tok"))).as("avg_tokens"))
      .orderBy(col("lang"))

  /** tf-idf: top-5 terms per language by summed tf·idf weight. */
  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame = {
    val docs = documents(spark, dir)
    val nDocs = docs.count() // tiny scalar; computed once (metadata count)
    val tf = docs
      .select(col("doc_id"), col("lang"), explode(tokens).as("token"))
      .groupBy(col("doc_id"), col("lang"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy(col("token"))
      .agg(countDistinct(col("doc_id")).as("df"))
    tf.join(df_, "token")
      .withColumn("w", col("tf") * log(lit(nDocs.toDouble) / col("df")))
      .groupBy(col("lang"), col("token"))
      .agg(round(sum(col("w")), 4).as("weight"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
          .orderBy(col("weight").desc, col("token"))))
      .filter(col("rank") <= 5)
      .select(col("lang"), col("rank"), col("token"), col("weight"))
      .orderBy(col("lang"), col("rank"))
  }

  /** Sparse tf-idf cosine RETRIEVAL (J77): 10 probe docs
    * (doc_id < 10) ranked against the corpus by full tf·idf cosine,
    * computed entirely through the inverted index — the SPARSE twin of
    * q_llm_cosine_topk's dense brute-force and the doc-as-query
    * complement of the fixed-three-term BM25 family. Top-3 per probe.
    *
    * The first cut of this row was a rare-term PAIR join (df ≤ 32,
    * the adamicAdar cap) — measured vacuous on this fixture: the
    * synthetic vocabulary is 31 tokens (30 with df > 250, one with
    * df = 25), so no doc pair shares ≥ 2 capped terms at ANY cap and
    * the top-20 degenerated to trivial cos = 1 singletons. The
    * probe-retrieval shape keeps the work bounded by the PROBE side
    * (10 broadcast docs × their terms) instead of a df cap; on a real
    * Zipf vocabulary the standard stop-listing cap (drop df > 50%
    * postings) is one WHERE on the same plan. The measured pair-join
    * variant is enrolled on the trigram-SHINGLE vocabulary,
    * which IS Zipf-shaped on this fixture — see [[rareShinglePairs]]
    * (q_llm_rare_shingle_pairs).
    *
    * Exactness: idf on the e3 grid as lnE3(N) − lnE3(df) (floor-once
    * per operand); weights tf·idf_e3 exact BIGINT; the ORDERING metric
    * clears both square roots — cos2_e8 = dot²·10⁸ div (‖a‖²·‖b‖²) in
    * DECIMAL(38,0)/HUGEINT (dot² ≈ 10²⁴ leaves BIGINT; weights ≥ 0 so
    * cos² orders exactly as cos).
    *
    * Shape (100 TB): ONE tokenize shuffle to the (doc, term, w) index;
    * probe rows broadcast; partial dots are a keyed equi-join on term
    * + one partial-aggregable (probe, doc) fold; per-probe top-3 via a
    * 10-partition window. */
  def tfidfCosine(spark: SparkSession, dir: String): DataFrame = {
    val tf = termFreqs(spark, dir)
    val df_ = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val n = tf.agg(countDistinct(col("doc_id")).as("n"))
    val inv = tf.join(df_, "tok").crossJoin(broadcast(n))
      .withColumn("w", expr(
        """tf * (CAST(floor(ln(n) * 1000 + 0.5) AS BIGINT)
          | - CAST(floor(ln(df) * 1000 + 0.5) AS BIGINT))"""
          .stripMargin))
      .select(col("tok"), col("doc_id"), col("w"))
      .localCheckpoint() // tf-idf inverted index; feeds probes + norms
    val norms = inv.groupBy(col("doc_id"))
      .agg(sum(expr("w * w")).as("s2"))
      .localCheckpoint() // node-sized; feeds both cosine sides
    val probes = inv.filter(col("doc_id") < 10)
      .select(col("tok"), col("doc_id").as("probe_id"),
        col("w").as("pw"))
    val dots = inv.join(broadcast(probes), "tok")
      .filter(col("doc_id") =!= col("probe_id"))
      .groupBy(col("probe_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_shared"),
        sum(expr("pw * w")).as("dot"))
    dots
      // no hint on the DOC-sized norms frame: dots is
      // probe-bounded small, so AQE broadcasts the correct (left) side
      .join(norms.select(col("doc_id").as("probe_id"),
        col("s2").as("sa")), "probe_id")
      .join(norms.select(col("doc_id"), col("s2").as("sb")), "doc_id")
      // greatest-guard (review): a doc of only near-universal tokens
      // (idf truncates to 0 on the e3 grid when df is within ~0.1% of
      // N) has a ZERO norm — the house guard, not ANSI DIVIDE_BY_ZERO
      .withColumn("cos2_e8", expr(
        """CAST(CAST(dot AS DECIMAL(38,0)) * dot * 100000000
          | div greatest(CAST(sa AS DECIMAL(38,0)) * sb, 1) AS BIGINT)"""
          .stripMargin))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("probe_id"))
          .orderBy(col("cos2_e8").desc, col("doc_id"))))
      .filter(col("rank") <= 3)
      .select(col("probe_id"), col("rank").cast("long").as("rank"),
        col("doc_id"), col("n_shared"), col("cos2_e8"))
      .orderBy(col("probe_id"), col("rank"))
  }

  /** Rare-shingle candidate pair join (J79): the MEASURED
    * variant of the rare-term pair join [[tfidfCosine]]'s scaladoc
    * records as cut — re-enrolled on a derived vocabulary that is
    * actually Zipf-shaped. Terms are word TRIGRAM
    * shingles: the 31-token synthetic unigram vocabulary is universal
    * (min df 25 over 500 docs — no unigram is rare at any cap), but
    * its trigram composition is sparse by construction (measured at
    * sf0.01: 16,245 distinct shingles, max df 7, 6,817 in the 2..32
    * band; the pair join yields 11,533 candidates of which 1,109
    * share ≥ 2 rare shingles — non-trivial audit values, closing the
    * degeneracy question). Doc pairs sharing ≥ 2 such shingles are
    * ranked by summed idf weight — the inverted-index candidate
    * generation every near-dup/plagiarism pass runs before an exact
    * verify (cf. q_llm_winnow_fp's fingerprint variant).
    *
    * Exactness: idf weights on the e3 grid, lnE3(N) − lnE3(df)
    * floor-once per operand; score = Σ weights, exact BIGINT.
    *
    * Shape (100 TB): the df cap (≤ 32, the adamicAdar argument) bounds
    * per-shingle fan-out at df² ≤ 1024 candidate rows, so candidate
    * volume is Σ_sh df² — linear in rare-postings count, never
    * all-pairs; generation is a keyed equi-join on the shingle, the
    * fold is partial-aggregable, top-20 via TakeOrdered. */
  /** Doc count above which the pair join switches to hashed shingle
    * keys — between the two measured points of the one-JVM
    * order-alternating A/B in `OPTIMIZATION_r15.md` (order bias
    * cancelled): at sf0.1 (5,000 docs) STRINGS win every
    * run (median 2.82 s vs hashed 3.90 — the md5 digest over the
    * corpus-sized explode outweighs the narrower shuffle), at sf1
    * (50,000 docs) HASHED wins 7 of 8 runs (median 5.86 s vs 8.43,
    * −30 % — shuffle bytes now dominate and the 8-byte keys cut the
    * distinct + df census + self-join exchanges ~4×). The gate reads
    * the session-memoized document count [[graft.Tables.rows]] (one
    * parquet-footer job per session), as prefixJoin does: the scale
    * plan is code the engine executes, not a scaladoc promise. */
  val RareShingleHashKeysMinDocs = 20000L

  def rareShinglePairs(spark: SparkSession, dir: String): DataFrame =
    rareShinglePairsImpl(spark, dir,
      hashKeys = graft.Tables.rows(spark, dir, "documents") >=
        RareShingleHashKeysMinDocs)

  /** `hashKeys = true` replaces each ~25-char trigram string with its
    * 60-bit md5 prefix right after the explode, narrowing the distinct,
    * the df census, and the pair self-join shuffles to 8-byte keys
    * (guide §2.3/§2.4 — the prefixJoin/decontaminate hash-first rule);
    * size-gated via [[RareShingleHashKeysMinDocs]] (numbers there).
    * Output is IDENTICAL in both modes wherever h60 is collision-free
    * on the trigram vocabulary (`OPTIMIZATION_r15.md`: 27,213
    * distinct shingles at sf0.1 and 272,130 at sf1 map to as many
    * distinct h60 keys), and the string-keyed vs hash-keyed oracle SQL returned
    * bit-identical rows at sf0.001/0.01/0.1/sf1. At corpus scales
    * where 60-bit collisions become expected (~10¹² shingles) a
    * collision merges two shingles' df in the same way a hash-bucketed
    * vocabulary would in BOTH engines — the contract prefixJoin
    * already ships. */
  private[graft] def rareShinglePairsImpl(spark: SparkSession, dir: String,
      hashKeys: Boolean): DataFrame = {
    val tri0 = documents(spark, dir)
      .withColumn("tk", tokens)
      .filter(size(col("tk")) >= 3) // sequence(1,0) is DESCENDING, guard
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(tk) - 2),
          | i -> concat_ws(' ', element_at(tk, i), element_at(tk, i + 1),
          |                element_at(tk, i + 2)))""".stripMargin))
        .as("sh"))
    val tri = (if (hashKeys)
        tri0.select(col("doc_id"), expr(
          "CAST(conv(substring(md5(sh), 1, 15), 16, 10) AS BIGINT)")
          .as("sh"))
      else tri0)
      .distinct()
    val dfd = tri.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val nd = documents(spark, dir)
      .agg(countDistinct(col("doc_id")).as("n"))
    val rare = tri
      .join(dfd.filter(col("df").between(2L, 32L)), "sh")
      .crossJoin(broadcast(nd))
      .withColumn("w", expr(
        """CAST(floor(ln(n) * 1000 + 0.5) AS BIGINT)
          | - CAST(floor(ln(df) * 1000 + 0.5) AS BIGINT)""".stripMargin))
    rare.as("a").join(rare.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("u"), col("b.doc_id").as("v"),
        col("a.w").as("w"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("n_shared"), sum(col("w")).as("score_e3"))
      .filter(col("n_shared") >= 2L)
      .orderBy(col("score_e3").desc, col("u"), col("v"))
      .limit(20)
  }

  /** Feature-hashing collision census (J80, the hashing trick,
    * measured): the df-capped shingle VOCABULARY hashed into
    * 4096 buckets with the house md5 h60 idiom; output is the
    * balls-in-bins load histogram (load → bucket count, vocab mass,
    * mass share, collided flag) — the census that sizes the feature
    * space before anyone trains on hashed features, since collision
    * mass IS the irreducible feature noise. Vocabulary-free
    * featurization is the 100 TB default (no vocab table to build,
    * ship, or version between pipeline stages); this row makes its
    * cost measurable instead of assumed.
    *
    * Exactness: md5 % p % 4096 — all nonneg BIGINT, both engines
    * agree; mass share e4 truncating.
    *
    * Shape: rides the memoized df-capped shingle frame (built once a
    * session for the dedup family); one distinct + two
    * partial-aggregable folds; output ≤ max-load rows (~10). */
  def hashFeaturize(spark: SparkSession, dir: String): DataFrame = {
    val vocab = shingles(spark, dir).select(col("s")).distinct()
    val loads = vocab
      .withColumn("bucket", expr(s"(${h60("s")} % $P) % 4096"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("load"))
    val tot = vocab.agg(count(lit(1)).as("n_vocab"))
    loads.groupBy(col("load")).agg(count(lit(1)).as("n_buckets"))
      .crossJoin(broadcast(tot))
      .select(col("load"), col("n_buckets"),
        (col("load") * col("n_buckets")).as("vocab_mass"),
        expr("load * n_buckets * 10000 div n_vocab").as("mass_share_e4"),
        (col("load") >= 2L).as("collided"))
      .orderBy(col("load"))
  }

  /** IVF list-balance audit: the per-list size census of the shared
    * coarse quantizer every ivf_* row searches ([[ivfAssigned]]), with
    * each list's share and its load vs uniform (load_e4 = size·nlists
    * ·10⁴ div n — 10⁴ = perfectly balanced). THE operational number
    * behind the nprobe cost model: ivf_ann_cost's "~24 % of brute at
    * nprobe=4" claim assumes near-uniform lists, and a hot list makes
    * probe latency skew-bound — this census decides when to re-train
    * the quantizer (ModelPrep.kmeansStep) or split a list. The
    * vector-store twin of q_diag_skew's join-key census.
    *
    * Shape (100 TB): one broadcast-centroid crossJoin + per-vector
    * argmin window (the quantizer pass the ANN family already pays,
    * here once for the audit) + a 16-key fold. */
  def ivfImbalance(spark: SparkSession, dir: String): DataFrame = {
    val assigned = ivfAssigned(spark, dir)
    val tot = assigned.agg(count(lit(1)).as("n"),
      countDistinct(col("bucket")).as("n_lists"))
    assigned.groupBy(col("bucket")).agg(count(lit(1)).as("list_size"))
      .crossJoin(broadcast(tot))
      .select(col("bucket"), col("list_size"),
        expr("list_size * 10000 div n").as("share_e4"),
        expr("list_size * n_lists * 10000 div n").as("load_e4"))
      .orderBy(col("bucket"))
  }

  /** The corpus's IVF coarse-quantizer assignment (vec_id, bucket):
    * the list every ivf_* row searches, the balance audit counts and
    * the diversity-stratified sampler stratifies by. */
  private def ivfAssigned(spark: SparkSession, dir: String): DataFrame = {
    val emb = embWithNorm(spark, dir)
    IvfQuantizer.assign(emb, IvfQuantizer.sampledCentroids(emb))
      .select(col("vec_id"), col("bucket"))
  }

  /** [[lshVerified]] over the corpus signatures, MEMOIZED: the τ-sweep
    * and the Jaccard histogram both verify the SAME candidate set; at
    * 100 TB this is the persisted verified-pairs table the dedup
    * decision pipeline reads (candidate-sized — never all-pairs). */
  private[graft] def minhashScored(spark: SparkSession,
      dir: String): DataFrame =
    graft.FrameMemo.cached(spark, dir, "minhash-scored")(
      lshVerified(minhashSigs(spark, dir)))

  /** Dedup threshold sweep: pairs surviving the exact Jaccard verify
    * at each τ of [[graft.functions.MinHash.TausE4]] (0.5, 0.7, 0.8,
    * 0.9 — the streamed τ monitor's grid too) over the SAME LSH
    * candidate set as q_llm_minhash_lsh, plus the docs each τ would
    * REMOVE (a doc is removed under smaller-id survivorship iff it
    * appears as the larger member of ≥ 1 surviving pair — exactly
    * distinct b_id, since candidates carry a_id < b_id) and the
    * removal share of the corpus. THE dedup aggressiveness curve: the
    * enrolled gate is τ = 0.8, and this row is the measurement that
    * justifies (or moves) it — the exact-J sibling of band_sweep's
    * S-curve, at candidate cost (never all-pairs; the τ arms are
    * FILTERS over one scored frame, the ann_recall discipline).
    *
    * Exactness: the τ gate is the cross-multiplied integer form
    * i·10⁴ ≥ τ_e4·(na+nb−i) — no float Jaccard compare; absent τ rows
    * are restored by a LEFT join from the τ VALUES list in BOTH
    * engines (the mrl_recall empty-group idiom). */
  def dedupThresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val scored = minhashScored(spark, dir) // feeds all four τ arms
    val taus = graft.functions.MinHash.TausE4.toDF("tau_e4")
    val nd = documents(spark, dir).agg(count(lit(1)).as("ndocs"))
    val per = scored.crossJoin(broadcast(taus))
      .filter(expr("i * 10000 >= tau_e4 * (na + nb - i)"))
      .groupBy(col("tau_e4"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("b_id")).as("n_removed"))
    taus.join(per, Seq("tau_e4"), "left")
      .na.fill(0L, Seq("n_pairs", "n_removed"))
      .crossJoin(broadcast(nd))
      .select(col("tau_e4"), col("n_pairs"), col("n_removed"),
        expr("n_removed * 10000 div ndocs").as("removed_share_e4"))
      .orderBy(col("tau_e4"))
  }

  /** Exact-Jaccard HISTOGRAM over the LSH candidate pairs: per 0.1-wide
    * bucket (bucket 10 = exact duplicates at J = 1), pair count +
    * min/max J(e4) — the full S-curve DATA behind the
    * τ-sweep's four points: the sweep says what each τ WOULD do, this
    * row shows the distribution those verdicts cut through (a bimodal
    * histogram licenses any τ in the valley; a flat one means the band
    * config, not τ, is the lever — read beside q_llm_band_sweep).
    * Zero-intersection band collisions land in bucket 0 on BOTH
    * engines (oracle LEFT-joins the intersection CTE).
    *
    * Shape: one bucket projection over the memoized [[minhashScored]]
    * frame + a ≤11-row census. Exactness: j_e4 = i·10⁴ div union,
    * truncating div, identical text both engines. */
  def dedupJHist(spark: SparkSession, dir: String): DataFrame =
    minhashScored(spark, dir)
      .withColumn("j_e4", expr(JaccardE4))
      .groupBy(expr("j_e4 div 1000").as("bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        min(col("j_e4")).as("min_j_e4"),
        max(col("j_e4")).as("max_j_e4"))
      .orderBy(col("bucket"))

  /** ColBERT-style MaxSim late interaction (J81): each
    * 64-dim embedding is read as 8 sub-vectors of 8 dims (the
    * documented derived multi-vector fixture — same parquet, PQ's
    * subspace view), and a probe scores a candidate by
    * Σ_{query chunk} max_{cand chunk} cos(qc, dc) — late interaction
    * keeps per-chunk matching (the retrieval quality lever) while the
    * index stores chunk vectors, the missing member between
    * single-vector cosine (q_llm_cosine_topk) and token-free lexical
    * (BM25). Probes vec_id < 5, top-3 per probe.
    *
    * Exactness: every chunk cosine rides the house e6 grid; the
    * 8 per-chunk maxes are pivoted to COLUMNS and summed explicitly
    * t0+…+t7 (the ivfPq ADC fixed-association discipline — a float
    * sum() over rows would be partition-order-dependent).
    *
    * Shape (100 TB): chunk fan-out is ×8 rows on each side; the probe
    * side is 40 broadcast rows, so scoring streams the corpus chunk
    * table through ONE broadcast nested join + two partial-aggregable
    * folds; per-probe top-3 via a 5-partition window. MaxSim over a
    * real index prunes candidates with IVF/LSH first (the enrolled
    * ANN rows) — this row is the SCORER those candidates feed. */
  def maxsimLate(spark: SparkSession, dir: String): DataFrame = {
    val emb = embWithNorm(spark, dir)
    val chunks = emb.select(col("vec_id"),
        explode(expr("transform(sequence(0, 7)," +
          " i -> struct(i AS ci, slice(v, i * 8 + 1, 8) AS cv))"))
          .as("c"))
      .select(col("vec_id"), col("c.ci").as("ci"), col("c.cv").as("cv"))
      .withColumn("cn", VectorExprs.norm(col("cv")))
    val pchunks = chunks.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("ci").as("qi"),
        col("cv").as("qv"), col("cn").as("qn"))
    val best = chunks.join(broadcast(pchunks),
        col("vec_id") =!= col("probe_id"))
      .withColumn("cc",
        round(VectorExprs.dot(col("cv"), col("qv")) / (col("cn") * col("qn")),
          6))
      .groupBy(col("probe_id"), col("vec_id"), col("qi"))
      .agg(max(col("cc")).as("m"))
    val scoredMs = best.groupBy(col("probe_id"), col("vec_id"))
      .agg(
        max(when(col("qi") === 0, col("m"))).as("t0"),
        max(when(col("qi") === 1, col("m"))).as("t1"),
        max(when(col("qi") === 2, col("m"))).as("t2"),
        max(when(col("qi") === 3, col("m"))).as("t3"),
        max(when(col("qi") === 4, col("m"))).as("t4"),
        max(when(col("qi") === 5, col("m"))).as("t5"),
        max(when(col("qi") === 6, col("m"))).as("t6"),
        max(when(col("qi") === 7, col("m"))).as("t7"))
      .withColumn("maxsim", expr(
        "round(t0 + t1 + t2 + t3 + t4 + t5 + t6 + t7, 6)"))
    scoredMs
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("probe_id"))
          .orderBy(col("maxsim").desc, col("vec_id"))).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("probe_id"), col("rank"), col("vec_id"), col("maxsim"))
      .orderBy(col("probe_id"), col("rank"))
  }

  /** Diversity-stratified uncertainty sampling (J81): the
    * active-learning BATCH builder — plain uncertainty sampling
    * (q_llm_uncertainty_sample) floods the batch with near-duplicates
    * from the densest region; stratifying by the IVF coarse bucket
    * (the shared 16-centroid quantizer, doc_id = vec_id on this
    * fixture) takes the top-2 most uncertain docs PER CLUSTER — the
    * standard cluster-margin composite, composing two enrolled
    * substrates (logreg margins × quantizer assignment) so neither
    * can drift from its family.
    *
    * Shape: margins are doc-sized, assignment is the quantizer pass
    * the ANN family pays once; the window partitions by 16 buckets. */
  def activeDiverse(spark: SparkSession, dir: String): DataFrame = {
    val margins = ModelPrep.qualityLogreg(spark, dir)
      .withColumn("margin_e4", expr(
        "abs(CAST(floor(score * 10000 + 0.5) AS BIGINT) - 5000)"))
      .select(col("doc_id"), col("margin_e4"))
    ivfAssigned(spark, dir)
      .join(margins, col("vec_id") === col("doc_id"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("bucket"))
          .orderBy(col("margin_e4"), col("doc_id"))).cast("long"))
      .filter(col("rank") <= 2)
      .select(col("bucket"), col("rank"), col("doc_id"), col("margin_e4"))
      .orderBy(col("bucket"), col("rank"))
  }

  /** Greedy facility-location selection (the coreset/diversity-selection
    * primitive): pick k = 3 exemplars from the 16-candidate pool — the
    * IVF quantizer's sampled centroids — maximizing the submodular
    * coverage objective F(S) = Σ_n max_{c∈S} max(cos(n,c), 0) over the
    * whole corpus — the standard data-subset-selection objective
    * (facility location) behind exemplar-based curation, and the
    * SET-coverage complement of q_llm_mmr_rerank's pairwise diversity.
    * Output: (step, picked id, objective, marginal gain); the
    * 1/e-approximation guarantee of greedy needs gains non-increasing —
    * spec-pinned (submodularity made a test).
    *
    * Exactness: per-pair coverage integerizes ONCE from the quantizer's
    * 6-digit cosine grid (floor(cos·10⁶ + 0.5), clamped ≥ 0), so
    * every objective is an order-independent BIGINT sum — a float
    * Σ over the corpus would be partition-order-dependent.
    *
    * Shape (100 TB): the (corpus × 16) coverage frame is built once
    * (broadcast candidate pool — CONSTANT-sized by construction) and
    * checkpointed; each greedy step is one partial-aggregable fold +
    * a 1-row TakeOrdered; the running best-coverage frame is n-sized
    * and joins KEYED (unhinted — the sweep rule). */
  def submodularSelect(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = embWithNorm(spark, dir)
    val cov = IvfQuantizer.cosines(emb, IvfQuantizer.sampledCentroids(emb))
      .select(col("vec_id").as("n_id"), col("c_id"),
        expr("greatest(CAST(floor(cs * 1000000 + 0.5) AS BIGINT)," +
          " CAST(0 AS BIGINT))").as("cov"))
      .localCheckpoint() // N×16; feeds all three greedy steps
    val p1 = cov.groupBy(col("c_id"))
      .agg(sum(col("cov")).as("obj"))
      .orderBy(col("obj").desc, col("c_id")).limit(1)
      .select(col("c_id").as("pick"), col("obj"))
      .localCheckpoint()
    val best1 = cov.join(broadcast(p1), col("c_id") === col("pick"))
      .select(col("n_id"), col("cov").as("b"))
    def nextPick(best: DataFrame, excl: DataFrame): DataFrame =
      cov.join(broadcast(excl), col("c_id") === col("pick"), "left_anti")
        .join(best, "n_id")
        .groupBy(col("c_id"))
        .agg(sum(greatest(col("cov"), col("b"))).as("obj"))
        .orderBy(col("obj").desc, col("c_id")).limit(1)
        .select(col("c_id").as("pick"), col("obj"))
        .localCheckpoint()
    val p2 = nextPick(best1, p1.select(col("pick")))
    val best2 = best1.join(
        cov.join(broadcast(p2), col("c_id") === col("pick"))
          .select(col("n_id"), col("cov").as("c2")), "n_id")
      .select(col("n_id"), greatest(col("b"), col("c2")).as("b"))
    val p3 = nextPick(best2,
      p1.select(col("pick")).unionAll(p2.select(col("pick"))))
    p1.select(lit(1L).as("step"), col("pick"), col("obj"))
      .unionAll(p2.select(lit(2L).as("step"), col("pick"), col("obj")))
      .unionAll(p3.select(lit(3L).as("step"), col("pick"), col("obj")))
      .withColumn("gain_e6", col("obj") -
        coalesce(lag(col("obj"), 1).over(Window.orderBy(col("step"))),
          lit(0L)))
      .select(col("step"), col("pick").as("picked_id"),
        col("obj").as("objective_e6"), col("gain_e6"))
      .orderBy(col("step"))
  }

  /** Dedup × quality-gate interaction census: the 2×2
    * table of (near-dup member?, above-median quality?) with per-class
    * shares and the odds ratio — the curation-ORDER question made a
    * number: if duplicates clear the quality gate at the same odds as
    * uniques (OR ≈ 1), gate-then-dedup and dedup-then-gate keep the
    * same corpus and the cheaper order wins; a skewed OR means the
    * pipeline's stage order changes the output. Both flags compose
    * enrolled substrates so neither can drift: dup membership is the
    * SAME banded-LSH candidate set verified at the INTEGER Jaccard
    * gate (j_e4 ≥ 8000, the dedup_modality_agreement lane — exact text
    * dups would leave this fixture, which has none, with one cell); the
    * keep flag is a MEDIAN split of the logreg score (non-degenerate by
    * construction at any corpus, where a fixed 0.5 gate keeps every
    * doc here).
    *
    * Exactness: integer Jaccard gate, exact lower-median via the
    * value-census CDF, pure counts; the OR is one cleared e4
    * truncating div with the greatest-1 guard; absent cells vanish
    * identically in both engines.
    *
    * Shape: the shared LSH candidate pass + two doc-sized folds +
    * a ≤4-row census. */
  def dedupQualityInteraction(spark: SparkSession,
      dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dupPairs = lshVerified(minhashSigs(spark, dir))
      .filter(expr(s"$JaccardE4 >= 8000"))
    val dupDocs = dupPairs.select(col("a_id").as("doc_id"))
      .union(dupPairs.select(col("b_id").as("doc_id"))).distinct()
    val scores = ModelPrep.qualityLogreg(spark, dir)
      .select(col("doc_id"),
        expr("CAST(floor(score * 10000 + 0.5) AS BIGINT)").as("s_e4"))
    val med = scores.groupBy(col("s_e4")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(Window.orderBy(col("s_e4"))))
      .withColumn("nn", sum(col("c")).over(Window.partitionBy(lit(1))))
      .agg(min(when(col("cum") * 2 >= col("nn"), col("s_e4"))).as("m"))
    val cells = scores.crossJoin(broadcast(med))
      .join(dupDocs.withColumn("dd", lit(true)), Seq("doc_id"), "left")
      .select(coalesce(col("dd"), lit(false)).as("is_dup"),
        (col("s_e4") >= col("m")).as("keep"))
      .groupBy(col("is_dup"), col("keep")).agg(count(lit(1)).as("n"))
      .localCheckpoint() // <=4 rows; feeds class shares + the OR
    val cls = cells.groupBy(col("is_dup")).agg(sum(col("n")).as("nc"))
    val orr = cells.agg(expr(
      """CAST(coalesce(max(CASE WHEN is_dup AND keep THEN n END), 0)
        | * coalesce(max(CASE WHEN NOT is_dup AND NOT keep THEN n END), 0)
        | * 10000 div greatest(
        |   coalesce(max(CASE WHEN is_dup AND NOT keep THEN n END), 0)
        |   * coalesce(max(CASE WHEN NOT is_dup AND keep THEN n END), 0),
        |   1) AS BIGINT)""".stripMargin).as("or_e4"))
    cells.join(cls, "is_dup").crossJoin(broadcast(orr))
      .select(col("is_dup"), col("keep"), col("n"),
        expr("n * 10000 div nc").as("class_share_e4"), col("or_e4"))
      .orderBy(col("is_dup"), col("keep"))
  }

  /** Dirichlet-QL score for EVERY BM25-candidate doc — the all-docs
    * form of [[qlDirichlet]]'s scoring lane, factored for
    * [[rankerTau]]. Columns: (doc_id, ql_e3). */
  private def qlScoredAll(spark: SparkSession, dir: String): DataFrame = {
    // Rides the session-memoized per-doc (dl, tf1..tf3) frame the whole
    // BM25 family shares: re-deriving it here
    // paid an extra full-corpus tokenize pass per rankerTau run and
    // duplicated tokenization logic that could drift from the single
    // source in [[bm25PerDoc]].
    val perDoc = bm25PerDoc(spark, dir)
    val qst = perDoc.agg(sum(col("dl")).as("cc"),
      sum(col("tf1")).as("cf1"), sum(col("tf2")).as("cf2"),
      sum(col("tf3")).as("cf3"))
    def term(i: Int): String =
      s"(CAST(floor(ln(tf$i * cc + 100 * cf$i) * 1000 + 0.5) AS BIGINT)" +
        s" - CAST(floor(ln((dl + 100) * cc) * 1000 + 0.5) AS BIGINT))"
    perDoc.crossJoin(broadcast(qst))
      .filter(col("tf1") + col("tf2") + col("tf3") > 0)
      .withColumn("ql_e3", expr(s"${term(1)} + ${term(2)} + ${term(3)}"))
      .select(col("doc_id"), col("ql_e3"))
  }

  /** Ranker rank-correlation (J80): Kendall tau between the
    * BM25 and Dirichlet-QL rankings over the UNION of their top-20s —
    * the quantified version of ql_dirichlet's in_bm25_top10 audit
    * column (that row shows WHERE the rankers disagree; this one says
    * HOW MUCH, the number that decides whether RRF/Borda fusion has
    * anything to gain — tau ≈ 1 means fusion is redundant). Both
    * rankings are re-ranked WITHIN the union set by the tie-broken
    * total order (score desc, doc_id), so ranks are permutations and
    * tau-a is well-defined with no tie terms.
    *
    * Exactness: concordance is pure sign comparison on integer ranks;
    * tau ships SHIFTED (the assortativity idiom — signed div differs
    * between engines): tau_shift_e4 = (C − D + n_pairs)·10⁴ div
    * (2·n_pairs) ∈ [0, 10⁴], 5000 = independence.
    *
    * Shape (100 TB): both top-20s are TakeOrdered; the union set is
    * ≤ 40 rows by construction, so the pair self-join is ≤ C(40,2) —
    * control-plane work after two corpus scoring passes (one shared
    * via the memoized bm25 frame). */
  def rankerTau(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val bm = bm25Scored(spark, dir).select(col("doc_id"), col("bm25"))
    val ql = qlScoredAll(spark, dir)
    val topB = bm.orderBy(col("bm25").desc, col("doc_id")).limit(20)
      .select(col("doc_id"))
    val topQ = ql.orderBy(col("ql_e3").desc, col("doc_id")).limit(20)
      .select(col("doc_id"))
    val union = topB.union(topQ).distinct()
      .join(bm, "doc_id").join(ql, "doc_id")
      .withColumn("rb", row_number().over(
        w.orderBy(col("bm25").desc, col("doc_id"))).cast("long"))
      .withColumn("rq", row_number().over(
        w.orderBy(col("ql_e3").desc, col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("rb"), col("rq"))
    // bounded ≤40-row self-pairing: explicit broadcast so the
    // nested-loop is the declared intent (cartesian-guard discipline)
    val pairs = union.as("a").join(broadcast(union.as("b")),
        col("a.doc_id") < col("b.doc_id"))
      .select(when((col("a.rb") < col("b.rb")) === (col("a.rq") < col("b.rq")),
        1L).otherwise(0L).as("conc"))
    pairs.agg(count(lit(1)).as("n_pairs"), sum(col("conc")).as("concordant"))
      .select(col("n_pairs"), col("concordant"),
        (col("n_pairs") - col("concordant")).as("discordant"),
        expr("(2 * concordant) * 10000 div (2 * n_pairs)")
          .as("tau_shift_e4"))
  }

  /** One BM25 term's score contribution, as SQL TEXT shared by the
    * Spark plan (via expr) and the DuckDB oracle — identical structure
    * → identical double evaluation order → hash-parity. k1=1.2 b=0.75
    * folded into the constants ((k1+1)=2.2, (1−b)=0.25, b=0.75).
    * `d` suffixes the float literals: "D" on the Spark side (a bare
    * 1.0 parses as DECIMAL there, silently changing the arithmetic —
    * the hybridRrf/dsir lesson), "" on the DuckDB side (bare floats
    * are already DOUBLE and the D suffix doesn't parse). */
  private def bm25Term(i: Int, d: String = "", k1p1: String = "2.2",
      k1: String = "1.2", omb: String = "0.25",
      b: String = "0.75"): String =
    s"ln((n - df$i + 0.5$d)/(df$i + 0.5$d) + 1.0$d) * " +
      s"tf$i*$k1p1$d/(tf$i + $k1$d*($omb$d + $b$d*dl/avgdl))"

  /** The three-term BM25 query this row scores ("join vector scan" —
    * mid-df corpus terms, so tf and length normalization both matter). */
  private[operators] val bm25Terms = Seq("join", "vector", "scan")

  /** Shared oracle CTE text: tokenize → per-doc (dl, tf₁..tf₃) →
    * corpus stats → rounded BM25 score. Composed by both the bm25 row
    * and the hybrid-RRF row so the two oracles cannot drift. */
  private[operators] def bm25Ctes: String =
    s"""toks AS (SELECT doc_id, unnest(string_split(text, ' '))
      |    AS tok FROM documents),
      |perdoc AS (SELECT doc_id, count(*) AS dl,
      |   sum(CASE WHEN tok = '${bm25Terms(0)}' THEN 1 ELSE 0 END) AS tf1,
      |   sum(CASE WHEN tok = '${bm25Terms(1)}' THEN 1 ELSE 0 END) AS tf2,
      |   sum(CASE WHEN tok = '${bm25Terms(2)}' THEN 1 ELSE 0 END) AS tf3
      |  FROM toks GROUP BY doc_id),
      |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl,
      |   sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
      |   sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2,
      |   sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS df3 FROM perdoc),
      |bmsc AS (SELECT doc_id,
      |  round(${bm25Term(1)} + ${bm25Term(2)} + ${bm25Term(3)}, 4) AS bm25
      | FROM perdoc CROSS JOIN stats WHERE tf1 + tf2 + tf3 > 0)""".stripMargin

  /** BM25 top-20 retrieval: Robertson/Sparck-Jones idf
    * (ln((N−df+0.5)/(df+0.5)+1)) with tf saturation and doc-length
    * normalization — the ranking function behind every lexical search
    * engine, over the whitespace-token corpus the inverted-index row
    * already builds. Query terms are pivoted into FIXED tf columns
    * (one conditional count each) so the per-doc score is a fixed-arity
    * expression with one textual parse shared by Spark and DuckDB —
    * a float Σ over a variable term set would depend on aggregation
    * order and hash-mismatch (same discipline as the integer pagerank).
    *
    * Scale shape: one tokenize+groupBy(doc_id) shuffle producing
    * (dl, tf₁..tf₃) per doc — partial-aggregable, so map-side combine
    * collapses the token stream before it moves; corpus stats (N,
    * avgdl, df₁..df₃) are ONE scalar-row aggregate broadcast back; the
    * final score is map-only + TakeOrderedAndProject. At 100 TB the
    * only full-data move is the single tokenize shuffle, which an
    * inverted index (the companion row) would amortize across queries. */
  private[operators] def bm25Scored(spark: SparkSession, dir: String): DataFrame =
    // MEMOIZED: ~12 enrolled retrieval/eval rows (bm25, mrr,
    // ndcg, pr@k, err, map, snippet, both fusion rows + their sweeps,
    // dedup-savings) each re-ran the corpus tokenize + per-doc tf
    // shuffle; at 100 TB this is the persisted lexical-score table
    // every downstream eval reads (the coocc-edges argument).
    graft.FrameMemo.cached(spark, dir, "bm25-scored") {
      bm25ScoredBuild(spark, dir)
    }

  /** Per-doc (dl, tf₁..tf₃) for the three query terms — the single
    * corpus tokenize under the whole BM25-composed family, MEMOIZED
    * (review): bm25 scoring, the (k1,b) sweep, the graded
    * relevance table, and the MAP topicality flags are all map-only
    * projections of this one frame. */
  private[operators] def bm25PerDoc(spark: SparkSession,
      dir: String): DataFrame =
    graft.FrameMemo.cached(spark, dir, "bm25-perdoc") {
      bm25PerDocFold(spark, dir)
    }

  /** The uncached fold under [[bm25PerDoc]]: per document, its length
    * `dl` and the counts `tf1..tf3` of the three query terms.
    * [[qlDirichlet]] reads it directly, so its plan keeps the fold. */
  private def bm25PerDocFold(spark: SparkSession, dir: String): DataFrame = {
    val Seq(t1, t2, t3) = bm25Terms
    docTokens(spark, dir)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("dl"),
        sum(when(col("tok") === t1, 1L).otherwise(0L)).as("tf1"),
        sum(when(col("tok") === t2, 1L).otherwise(0L)).as("tf2"),
        sum(when(col("tok") === t3, 1L).otherwise(0L)).as("tf3"))
  }

  /** The one-row BM25 corpus stats over a [[bm25PerDoc]] frame: n docs,
    * avgdl and each query term's df (df1..df3) — the scalars every
    * [[bm25Term]] reads, broadcast back by the caller. */
  private def bm25Stats(perDoc: DataFrame): DataFrame =
    perDoc.agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl"),
      sum(when(col("tf1") > 0, 1L).otherwise(0L)).as("df1"),
      sum(when(col("tf2") > 0, 1L).otherwise(0L)).as("df2"),
      sum(when(col("tf3") > 0, 1L).otherwise(0L)).as("df3"))

  private def bm25ScoredBuild(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = bm25PerDoc(spark, dir)
    perDoc.crossJoin(broadcast(bm25Stats(perDoc)))
      .filter(col("tf1") + col("tf2") + col("tf3") > 0)
      .withColumn("bm25", round(expr(
        s"${bm25Term(1, "D")} + ${bm25Term(2, "D")} + ${bm25Term(3, "D")}"),
        4))
      .select(col("doc_id"), col("bm25"))
  }

  /** Greedy LM decoding (J69): 8 steps of argmax generation from the
    * corpus bigram table, seeded at the most frequent token — CAN the
    * engine DECODE, not just score? Each step is one broadcast argmax
    * join against the vocab-sized bigram table (the unrolled-fixpoint
    * discipline: a fixed horizon is a join chain, no driver loop);
    * ties break lexicographically so the trajectory is deterministic.
    * Greedy decoding famously loops on high-frequency cycles — if the
    * fixture does, the emitted trajectory SHOWS it (that is the
    * classic degeneration result, worth carrying as a number).
    *
    * Shape (100 TB): the bigram census is the one corpus-sized
    * shuffle; 8 chained joins run on the vocab-sized argmax table
    * (next(prev) is ONE row per prev after the rank filter). */
  def greedyDecode(spark: SparkSession, dir: String): DataFrame = {
    val toks = documents(spark, dir)
      .select(col("doc_id"), posexplode(tokens)
        .as(Seq("p", "w")))
    val big = toks.as("a").join(toks.as("b"),
        col("a.doc_id") === col("b.doc_id") &&
        col("b.p") === col("a.p") + 1)
      .groupBy(col("a.w").as("prev"), col("b.w").as("next"))
      .agg(count(lit(1)).as("c"))
    val nextTab = big.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("prev"))
          .orderBy(col("c").desc, col("next"))))
      .filter(col("rn") === 1)
      .select(col("prev"), col("next"), col("c"))
      .localCheckpoint()
    val seed = toks.groupBy(col("w")).agg(count(lit(1)).as("cw"))
      .orderBy(col("cw").desc, col("w")).limit(1)
      .select(col("w").as("tok"), lit(0L).as("step"))
    var cur = seed
    var out = seed
    (1 to 8).foreach { i =>
      // broadcast the 1-row WALKER, not the vocab-sized LM table
      // (the hint sat on the data-sized side)
      cur = broadcast(cur).join(nextTab,
          cur("tok") === nextTab("prev"))
        .select(col("next").as("tok"), lit(i.toLong).as("step"))
      out = out.unionAll(cur)
    }
    // left-outer keeps `out` (9 rows) as the stream side; the
    // vocab-sized LM table is unhinted — AQE picks the runtime strategy
    out.join(nextTab.select(col("prev").as("tok"),
        col("c").as("bigram_count")), Seq("tok"), "left")
      .select(col("step"), col("tok"),
        coalesce(col("bigram_count"), lit(0L)).as("bigram_count"))
      .orderBy(col("step"))
  }

  /** Count-min width sweep (J71): the measured error-vs-memory curve
    * of a SINGLE-row count sketch at w ∈ {16, 64, 256} buckets — per
    * width: how many vocabulary tokens are overcounted, by how much at
    * worst, and the share. q_llm_countmin shows the d=4 min-sketch at
    * one width; this row turns its scaladoc's "17/31 overcounted at
    * w=16, 0 at 256" MEASUREMENT into an enrolled, hash-gated curve —
    * the memory-sizing table a pipeline reads before provisioning the
    * sketch (error ∝ N/w, visible directly).
    *
    * Shape (100 TB): built FROM the exact vocab census (the countMin
    * optimization — bucket totals over vocab rows ≡ streaming bucket
    * counts), 3 widths × vocab-sized folds, 3-row output. */
  def cmsWidthSweep(spark: SparkSession, dir: String): DataFrame = {
    val tru = documents(spark, dir)
      .select(explode(tokens).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    def arm(width: Int): DataFrame = {
      val b = tru.withColumn("b",
        expr(s"${h60("concat('0:', w)")} % $width"))
      val bt = b.groupBy(col("b")).agg(sum(col("c")).as("bt"))
      b.join(broadcast(bt), "b")
        .select((col("bt") - col("c")).as("over"))
        .agg(lit(width.toLong).as("width"),
          count(lit(1)).as("n_tokens"),
          sum(when(col("over") > 0, 1L).otherwise(0L))
            .as("n_overcounted"),
          max(col("over")).as("max_overcount"))
        .select(col("width"), col("n_tokens"), col("n_overcounted"),
          expr("n_overcounted * 10000 div n_tokens")
            .as("over_share_e4"),
          col("max_overcount"))
    }
    arm(16).unionAll(arm(64)).unionAll(arm(256))
      .orderBy(col("width"))
  }

  /** Bloom-filter FPR sizing sweep (J90): the dedup
    * membership sketch measured like cms_width_sweep measures
    * count-min — insert the corpus's distinct content hashes into an
    * m-bit / k=3 Bloom filter for m ∈ {1024, 4096, 16384}, probe with
    * 500 deterministic NON-members (anti-joined, so a hash-coincident
    * true member can't contaminate the rate), and emit measured FPR
    * beside the fill-share prediction fill³ (the independence
    * approximation FPR ≈ (set-bit share)^k) — whether the classic
    * formula holds on THIS corpus is data, not citation. Completes the
    * sketch-sizing-as-data trio: count-min width (overcount), Bloom
    * bits (false positives), and the HLL rows (distinct error).
    *
    * Exactness: positions are md5-h60 residues mod m (the
    * split_assign salt discipline; bit j of key h salts as 'j:h'),
    * all counting integer; fill_e4 and fpr_e4 carry one truncating
    * div each; the prediction cubes the ALREADY-rounded fill_e4
    * (identical three-factor text both engines).
    *
    * Shape (100 TB): the member pass is the exact-dedup primitive
    * (hash + distinct, one shuffle); each arm's set-bit frame is
    * ≤ m rows (the sketch IS the reduction — positions distinct to
    * ≤ 16384 rows no matter the corpus); probes are constant 500.
    * The probe join is a broadcast vs the m-bounded bit set. */
  def bloomFprSweep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val members = documents(spark, dir)
      .select(expr(h60("text")).as("h")).distinct().localCheckpoint()
    val probes = spark.range(500)
      .select(expr(h60("concat('bloomprobe:', CAST(id AS STRING))"))
        .as("h"))
      .join(members, Seq("h"), "left_anti").localCheckpoint()
    val ks = Seq(1L, 2L, 3L).toDF("j")
    val nm = members.agg(count(lit(1)).as("n_members"))
    val np = probes.agg(count(lit(1)).as("n_probes"))
    def arm(m: Int): DataFrame = {
      val pos = h60("concat(CAST(j AS STRING), ':', CAST(h AS STRING))")
      val setBits = members.crossJoin(broadcast(ks))
        .select(expr(s"$pos % $m").as("pos")).distinct()
      val fp = probes.crossJoin(broadcast(ks))
        .select(col("h"), col("j"), expr(s"$pos % $m").as("pos"))
        .join(setBits, Seq("pos"), "left_semi")
        .groupBy(col("h")).agg(countDistinct(col("j")).as("nj"))
        .agg(coalesce(sum(when(col("nj") === 3, 1L).otherwise(0L)),
          lit(0L)).as("n_false_pos"))
      setBits.agg(count(lit(1)).as("n_set_bits"))
        .crossJoin(broadcast(nm)).crossJoin(broadcast(np))
        .crossJoin(broadcast(fp))
        .select(lit(m.toLong).as("m_bits"), col("n_members"),
          col("n_set_bits"),
          expr(s"n_set_bits * 10000 div $m").as("fill_e4"),
          col("n_probes"), col("n_false_pos"),
          expr("n_false_pos * 10000 div n_probes").as("fpr_e4"))
        .withColumn("fpr_pred_e4",
          expr("fill_e4 * fill_e4 * fill_e4 div 100000000"))
    }
    arm(1024).unionAll(arm(4096)).unionAll(arm(16384))
      .orderBy(col("m_bits"))
  }

  private val bloomFprOracle: String =
    """WITH mem AS (SELECT DISTINCT
      |   CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS h
      |  FROM documents),
      |pr0 AS (SELECT CAST('0x' || substr(md5('bloomprobe:'
      |   || CAST(i AS VARCHAR)), 1, 15) AS BIGINT) AS h
      |  FROM (SELECT unnest(range(0, 500)) AS i)),
      |pr AS (SELECT pr0.h FROM pr0 LEFT JOIN mem ON mem.h = pr0.h
      |  WHERE mem.h IS NULL),
      |arms AS (SELECT CAST(unnest([1024, 4096, 16384]) AS BIGINT)
      |   AS m),
      |ks AS (SELECT CAST(unnest([1, 2, 3]) AS BIGINT) AS j),
      |sb AS (SELECT DISTINCT arms.m,
      |   CAST('0x' || substr(md5(CAST(j AS VARCHAR) || ':'
      |     || CAST(mem.h AS VARCHAR)), 1, 15) AS BIGINT) % arms.m
      |     AS pos
      |  FROM mem CROSS JOIN ks CROSS JOIN arms),
      |pp AS (SELECT arms.m, pr.h, ks.j,
      |   CAST('0x' || substr(md5(CAST(j AS VARCHAR) || ':'
      |     || CAST(pr.h AS VARCHAR)), 1, 15) AS BIGINT) % arms.m
      |     AS pos
      |  FROM pr CROSS JOIN ks CROSS JOIN arms),
      |ph AS (SELECT pp.m, pp.h,
      |   CAST(count(DISTINCT pp.j) AS BIGINT) AS nj
      |  FROM pp JOIN sb ON sb.m = pp.m AND sb.pos = pp.pos
      |  GROUP BY 1, 2),
      |fp AS (SELECT m, CAST(sum(CASE WHEN nj = 3 THEN 1 ELSE 0 END)
      |   AS BIGINT) AS n_false_pos FROM ph GROUP BY m),
      |nb AS (SELECT m, CAST(count(*) AS BIGINT) AS n_set_bits
      |  FROM sb GROUP BY m),
      |nm AS (SELECT CAST(count(*) AS BIGINT) AS n_members FROM mem),
      |np AS (SELECT CAST(count(*) AS BIGINT) AS n_probes FROM pr),
      |fin AS (SELECT arms.m AS m_bits, nm.n_members, nb.n_set_bits,
      |   nb.n_set_bits * 10000 // arms.m AS fill_e4,
      |   np.n_probes,
      |   CAST(coalesce(fp.n_false_pos, 0) AS BIGINT) AS n_false_pos,
      |   CAST(coalesce(fp.n_false_pos, 0) * 10000 // np.n_probes
      |     AS BIGINT) AS fpr_e4
      |  FROM arms JOIN nb ON nb.m = arms.m
      |   LEFT JOIN fp ON fp.m = arms.m
      |   CROSS JOIN nm CROSS JOIN np)
      |SELECT m_bits, n_members, n_set_bits, fill_e4, n_probes,
      |  n_false_pos, fpr_e4,
      |  fill_e4 * fill_e4 * fill_e4 // 100000000 AS fpr_pred_e4
      |FROM fin ORDER BY m_bits""".stripMargin

  /** LSH band-bucket skew audit (J92): per band, the bucket
    * census of the EXACT (band, sig) keys the dedup candidate join
    * shuffles on — bucket count, singleton share, the largest bucket,
    * and Σ C(c,2) candidate pairs per band. At 100 TB the candidate
    * equi-join's worst TASK is the largest bucket (a boilerplate
    * signature shared by millions of docs quadratically dominates the
    * join); this row is the operational pre-flight that says whether
    * the banding needs a salt or a df-cap BEFORE the join runs — the
    * diag_skew twin for the dedup family, measured on the shared
    * [[minhashBandFrame]] so the audit and the join can never see
    * different buckets.
    *
    * Exactness: pure integer counting; the max-bucket share carries
    * the one truncating div. Shape: the band frame is docs × 8 narrow
    * rows (the 80 MB array-payload lesson keeps it (id, band, sig));
    * the census is one partial-aggregable groupBy; output is 8 rows. */
  def lshBucketSkew(spark: SparkSession, dir: String): DataFrame =
    minhashBandFrame(minhashSigs(spark, dir))
      .groupBy(col("band"), col("sig")).agg(count(lit(1)).as("c"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("c")).as("n_docs"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_singleton"),
        max(col("c")).as("max_bucket"),
        sum(expr("c * (c - 1) div 2")).as("n_cand_pairs"))
      .select(col("band").cast("long").as("band"), col("n_buckets"),
        col("n_docs"), col("n_singleton"), col("max_bucket"),
        col("n_cand_pairs"),
        expr("max_bucket * 10000 div n_docs").as("max_share_e4"))
      .orderBy(col("band"))

  // lazy: minhashMhCte is declared later in the object (init order)
  private[operators] lazy val lshBucketSkewOracle: String =
    s"""WITH $minhashMhCte,
       |bands AS (SELECT doc_id, j // 2 AS band,
       |  string_agg(j || ':' || m, ',' ORDER BY j) AS sig
       |  FROM mh GROUP BY doc_id, j // 2),
       |bu AS (SELECT band, sig, CAST(count(*) AS BIGINT) AS c
       |  FROM bands GROUP BY 1, 2)
       |SELECT CAST(band AS BIGINT) AS band,
       | CAST(count(*) AS BIGINT) AS n_buckets,
       | CAST(sum(c) AS BIGINT) AS n_docs,
       | CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |   AS n_singleton,
       | CAST(max(c) AS BIGINT) AS max_bucket,
       | CAST(sum(c * (c - 1) // 2) AS BIGINT) AS n_cand_pairs,
       | CAST(max(c) * 10000 // sum(c) AS BIGINT) AS max_share_e4
       |FROM bu GROUP BY band ORDER BY band""".stripMargin

  private def robTermScala(i: Int): String =
    s"ln((n - df$i + 0.5D)/(df$i + 0.5D)) * " +
      s"tf$i*2.2D/(tf$i + 1.2D*(0.25D + 0.75D*dl/avgdl))"

  /** BM25 idf-variant comparison: "which BM25" is a
    * real deployment question — the enrolled rows use the
    * Lucene-style idf ln((N−df+0.5)/(df+0.5) + 1) (never negative);
    * classic Robertson–Sparck-Jones drops the +1 (negative for
    * df > N/2, the famous stopword pathology); plain idf is ln(N/df).
    * Per query term: df and all three idf values on the e3 floor-once
    * grid, plus the MEASURED top-10 overlap between the Lucene-scored
    * and Robertson-scored rankings — whether the variant choice moves
    * results on THIS corpus is data, not citation (mid-df terms keep
    * all idfs positive here; the overlap quantifies the re-weighting
    * effect alone).
    *
    * Shape (100 TB): both scores are map-only projections of the
    * memoized per-doc tf frame + the 1-row stats broadcast; the two
    * top-10s are TakeOrderedAndProject; everything else is constant. */
  def idfVariants(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = bm25PerDoc(spark, dir)
    val stats = bm25Stats(perDoc)
      .localCheckpoint() // 1 row; feeds scoring + the term rows
    val scored = perDoc.crossJoin(broadcast(stats))
      .filter(col("tf1") + col("tf2") + col("tf3") > 0)
      .withColumn("luc", round(expr(s"${bm25Term(1, "D")} + " +
        s"${bm25Term(2, "D")} + ${bm25Term(3, "D")}"), 4))
      .withColumn("rob", round(expr(s"${robTermScala(1)} + " +
        s"${robTermScala(2)} + ${robTermScala(3)}"), 4))
    val lucTop = scored.orderBy(col("luc").desc, col("doc_id"))
      .limit(10).select(col("doc_id"))
    val robTop = scored.orderBy(col("rob").desc, col("doc_id"))
      .limit(10).select(col("doc_id"))
    val overlap = lucTop.join(robTop, "doc_id")
      .agg(count(lit(1)).as("overlap10"))
    def termRow(i: Int, t: String): DataFrame =
      stats.crossJoin(broadcast(overlap)).select(lit(t).as("term"),
        col(s"df$i").as("df"), col("n").as("n_docs"),
        expr(s"CAST(floor(ln(n * 1.0D / df$i) * 1000 + 0.5)" +
          " AS BIGINT)").as("idf_plain_e3"),
        expr(s"CAST(floor(ln((n - df$i + 0.5D)/(df$i + 0.5D))" +
          " * 1000 + 0.5) AS BIGINT)").as("idf_robertson_e3"),
        expr(s"CAST(floor(ln((n - df$i + 0.5D)/(df$i + 0.5D) + 1.0D)" +
          " * 1000 + 0.5) AS BIGINT)").as("idf_lucene_e3"),
        col("overlap10"))
    termRow(1, bm25Terms(0)).unionAll(termRow(2, bm25Terms(1)))
      .unionAll(termRow(3, bm25Terms(2)))
      .orderBy(col("term"))
  }

  private lazy val idfVariantsOracle: String = {
    def robSql(i: Int): String =
      s"ln((n - df$i + 0.5)/(df$i + 0.5)) * " +
        s"tf$i*2.2/(tf$i + 1.2*(0.25 + 0.75*dl/avgdl))"
    s"""WITH $bm25Ctes,
       |rsc AS (SELECT doc_id,
       |  round(${robSql(1)} + ${robSql(2)} + ${robSql(3)}, 4) AS rob
       | FROM perdoc CROSS JOIN stats WHERE tf1 + tf2 + tf3 > 0),
       |lt AS (SELECT doc_id FROM bmsc ORDER BY bm25 DESC, doc_id
       |  LIMIT 10),
       |rt AS (SELECT doc_id FROM rsc ORDER BY rob DESC, doc_id
       |  LIMIT 10),
       |ov AS (SELECT CAST(count(*) AS BIGINT) AS overlap10
       |  FROM lt JOIN rt USING (doc_id)),
       |t(i, term) AS (VALUES (1, '${bm25Terms(0)}'),
       |  (2, '${bm25Terms(1)}'), (3, '${bm25Terms(2)}'))
       |SELECT t.term,
       | CAST(CASE t.i WHEN 1 THEN stats.df1 WHEN 2 THEN stats.df2
       |   ELSE stats.df3 END AS BIGINT) AS df,
       | CAST(stats.n AS BIGINT) AS n_docs,
       | CAST(floor(ln(stats.n * 1.0 / (CASE t.i WHEN 1 THEN stats.df1
       |   WHEN 2 THEN stats.df2 ELSE stats.df3 END)) * 1000 + 0.5)
       |   AS BIGINT) AS idf_plain_e3,
       | CAST(floor(ln((stats.n - (CASE t.i WHEN 1 THEN stats.df1
       |   WHEN 2 THEN stats.df2 ELSE stats.df3 END) + 0.5)
       |   / ((CASE t.i WHEN 1 THEN stats.df1 WHEN 2 THEN stats.df2
       |   ELSE stats.df3 END) + 0.5)) * 1000 + 0.5) AS BIGINT)
       |   AS idf_robertson_e3,
       | CAST(floor(ln((stats.n - (CASE t.i WHEN 1 THEN stats.df1
       |   WHEN 2 THEN stats.df2 ELSE stats.df3 END) + 0.5)
       |   / ((CASE t.i WHEN 1 THEN stats.df1 WHEN 2 THEN stats.df2
       |   ELSE stats.df3 END) + 0.5) + 1.0) * 1000 + 0.5) AS BIGINT)
       |   AS idf_lucene_e3,
       | ov.overlap10
       |FROM t CROSS JOIN stats CROSS JOIN ov
       |ORDER BY term""".stripMargin
  }

  /** Token-multiset F1 over the LSH candidates (J95): the
    * SQuAD-style overlap F1 — Σ_t min(tf_a, tf_b) doubled over the
    * length sum — computed beside the exact shingle-set Jaccard on
    * the SAME candidate pairs. The two metrics disagree by design
    * (F1 is multiset + order-free unigram; Jaccard is 5-gram SET), so
    * the row is the metric-choice audit a dedup owner reads before
    * porting a QA-eval threshold onto a dedup gate: the emitted
    * divergence verdict per pair (F1 ≥ 0.8 vs J ≥ 0.8) counts where
    * the two cuts differ. Pairs with a verified shingle intersection
    * only (i ≥ 1, both engines).
    *
    * Exactness: all integer; one truncating div per emitted ratio.
    * Shape (100 TB): the pair set is the banded-LSH candidate frame
    * (never all-pairs); the overlap join fans each pair to its
    * a-side token census and inner-joins the b-side on (doc, tok) —
    * keyed equi-joins, bounded by pair-count × doc length. */
  def tokenF1(spark: SparkSession, dir: String): DataFrame = {
    val tf = termFreqs(spark, dir)
    val lens = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("len"))
    val pairs = minhashScored(spark, dir).filter(col("i") >= 1)
      .select(col("a_id"), col("b_id"),
        expr("i * 10000 div (na + nb - i)").as("jaccard_e4"))
    val ov = pairs
      .join(tf.select(col("doc_id").as("a_id"), col("tok"),
        col("tf").as("tfa")), "a_id")
      .join(tf.select(col("doc_id").as("b_id"), col("tok"),
        col("tf").as("tfb")), Seq("b_id", "tok"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(sum(least(col("tfa"), col("tfb"))).as("overlap"))
    pairs
      .join(ov, Seq("a_id", "b_id"), "left")
      .withColumn("overlap", coalesce(col("overlap"), lit(0L)))
      .join(lens.select(col("doc_id").as("a_id"),
        col("len").as("len_a")), "a_id")
      .join(lens.select(col("doc_id").as("b_id"),
        col("len").as("len_b")), "b_id")
      .select(col("a_id"), col("b_id"), col("jaccard_e4"),
        col("len_a"), col("len_b"), col("overlap"),
        expr("2 * overlap * 10000 div (len_a + len_b)").as("f1_e4"))
      .withColumn("verdicts_differ",
        (col("f1_e4") >= 8000L) =!= (col("jaccard_e4") >= 8000L))
      .orderBy(col("a_id"), col("b_id"))
  }

  private lazy val tokenF1Oracle: String =
    s"""WITH $minhashCandCte,
       |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
       |  FROM sh GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib,
       |   CAST(count(*) AS BIGINT) AS i
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |scored AS (SELECT a_id, b_id,
       |   CAST(i * 10000 // (na.n + nb.n - i) AS BIGINT)
       |     AS jaccard_e4
       |  FROM cand JOIN inter ON a_id = ia AND b_id = ib
       |  JOIN sizes na ON a_id = na.doc_id
       |  JOIN sizes nb ON b_id = nb.doc_id
       |  WHERE i >= 1),
       |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |        FROM documents) GROUP BY 1, 2),
       |lens AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS len
       |  FROM tf GROUP BY 1),
       |ov AS (SELECT s.a_id, s.b_id,
       |   CAST(sum(least(ta.tf, tb.tf)) AS BIGINT) AS overlap
       |  FROM scored s JOIN tf ta ON ta.doc_id = s.a_id
       |   JOIN tf tb ON tb.doc_id = s.b_id AND tb.tok = ta.tok
       |  GROUP BY 1, 2)
       |SELECT s.a_id, s.b_id, s.jaccard_e4, la.len AS len_a,
       | lb.len AS len_b,
       | CAST(coalesce(ov.overlap, 0) AS BIGINT) AS overlap,
       | CAST(2 * coalesce(ov.overlap, 0) * 10000 // (la.len + lb.len)
       |   AS BIGINT) AS f1_e4,
       | (2 * coalesce(ov.overlap, 0) * 10000 // (la.len + lb.len)
       |   >= 8000) <> (s.jaccard_e4 >= 8000) AS verdicts_differ
       |FROM scored s LEFT JOIN ov ON ov.a_id = s.a_id
       |  AND ov.b_id = s.b_id
       | JOIN lens la ON la.doc_id = s.a_id
       | JOIN lens lb ON lb.doc_id = s.b_id
       |ORDER BY s.a_id, s.b_id""".stripMargin

  /** Source-mixing temperature sweep (J95): the sampling
    * weights w ∝ n^(1/T) for T ∈ {1, 2, 4} over the language census —
    * the knob every multilingual/multi-source pretraining mix turns
    * (T = 1 mirrors the data, T → ∞ is uniform; XLM-R popularized the
    * fractional exponents) — generalizing q_llm_sqrt_mix, whose T = 2
    * lane this row reproduces BIT-IDENTICALLY (same floor(sqrt(n·10⁶))
    * text, spec cross-pins the two rows). T = 4 is sqrt∘sqrt on the
    * ×10¹² grid — no fractional pow anywhere, so the only float op is
    * the engines' shared IEEE sqrt under a floor.
    *
    * Shape (100 TB): one partial-aggregable language census → 3
    * constant arms; everything after the census is |langs|-sized. */
  def mixTemperature(spark: SparkSession, dir: String): DataFrame = {
    val cnt = documents(spark, dir)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .localCheckpoint() // |langs| rows; feeds three arms
    def arm(t: Long, sExpr: String): DataFrame = {
      val s = cnt.withColumn("s_e3", expr(sExpr))
      val tot = s.agg(sum(col("s_e3")).as("tot"))
      s.crossJoin(broadcast(tot))
        .select(lit(t).as("tee"), col("lang"), col("n_docs"),
          col("s_e3"), expr("s_e3 * 1000000 div tot").as("w_e6"))
    }
    arm(1L, "n_docs * 1000")
      .unionAll(arm(2L,
        "CAST(floor(sqrt(CAST(n_docs AS DOUBLE) * 1000000.0)) AS BIGINT)"))
      .unionAll(arm(4L,
        "CAST(floor(sqrt(sqrt(CAST(n_docs AS DOUBLE)" +
          " * 1000000000000.0))) AS BIGINT)"))
      .orderBy(col("tee"), col("lang"))
  }

  private val mixTemperatureOracle: String =
    """WITH cnt AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
      |  FROM documents GROUP BY lang),
      |arms AS (
      |  SELECT CAST(1 AS BIGINT) AS tee, lang, n_docs,
      |    n_docs * 1000 AS s_e3 FROM cnt
      |  UNION ALL
      |  SELECT CAST(2 AS BIGINT), lang, n_docs,
      |    CAST(floor(sqrt(CAST(n_docs AS DOUBLE) * 1000000.0))
      |      AS BIGINT) FROM cnt
      |  UNION ALL
      |  SELECT CAST(4 AS BIGINT), lang, n_docs,
      |    CAST(floor(sqrt(sqrt(CAST(n_docs AS DOUBLE)
      |      * 1000000000000.0))) AS BIGINT) FROM cnt),
      |tot AS (SELECT tee, CAST(sum(s_e3) AS BIGINT) AS tot
      |  FROM arms GROUP BY tee)
      |SELECT a.tee, a.lang, a.n_docs, a.s_e3,
      |  CAST(a.s_e3 * 1000000 // t.tot AS BIGINT) AS w_e6
      |FROM arms a JOIN tot t ON t.tee = a.tee
      |ORDER BY a.tee, a.lang""".stripMargin

  /** Width-2 beam decoding, 3 steps (J70): the search-quality
    * counterpart of q_llm_greedy_decode — hold the TWO best partial
    * sequences by cumulative bigram log-probability (lnE3 sums) and
    * expand each through its per-prev top-2 continuations (complete
    * pruning for width 2: the global top-2 can never need a prev's
    * third-best next). Beam's whole point is escaping greedy's local
    * argmax; whether it does here is readable off the emitted
    * sequences against greedy's trajectory.
    *
    * Exactness: lp_e3 = lnE3(c) − lnE3(t) per edge (floor-once);
    * scores are exact BIGINT sums; every rank has a total tie order
    * (score desc, sequence text).
    *
    * Shape (100 TB): one bigram shuffle; the per-prev top-2 table is
    * vocab-sized; each step is a 2-row × top-2 broadcast expansion —
    * the unrolled-fixpoint discipline, no driver loop state beyond
    * the loop variable. */
  def beamDecode(spark: SparkSession, dir: String): DataFrame = {
    val toks = documents(spark, dir)
      .select(col("doc_id"), posexplode(tokens)
        .as(Seq("p", "w")))
    val big = toks.as("a").join(toks.as("b"),
        col("a.doc_id") === col("b.doc_id") &&
        col("b.p") === col("a.p") + 1)
      .groupBy(col("a.w").as("prev"), col("b.w").as("next"))
      .agg(count(lit(1)).as("c"))
    val tot = big.groupBy(col("prev")).agg(sum(col("c")).as("t"))
    val top2 = big.join(tot, "prev")
      .select(col("prev"), col("next"),
        expr("""CAST(floor(ln(c) * 1000 + 0.5) AS BIGINT)
          | - CAST(floor(ln(t) * 1000 + 0.5) AS BIGINT)"""
          .stripMargin).as("lp_e3"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("prev"))
          .orderBy(col("lp_e3").desc, col("next"))))
      .filter(col("rn") <= 2).drop("rn")
      .localCheckpoint()
    var beam = toks.groupBy(col("w")).agg(count(lit(1)).as("cw"))
      .orderBy(col("cw").desc, col("w")).limit(1)
      .select(col("w").as("seq"), col("w").as("last"),
        lit(0L).as("score_e3"))
    (1 to 3).foreach { _ =>
      // broadcast the 2-row BEAM, not the vocab-sized LM table
      // (the hint sat on the data-sized side)
      beam = broadcast(beam).join(top2,
          beam("last") === top2("prev"))
        .select(concat(col("seq"), lit(" "), col("next")).as("seq"),
          col("next").as("last"),
          (col("score_e3") + col("lp_e3")).as("score_e3"))
        .orderBy(col("score_e3").desc, col("seq")).limit(2)
        .localCheckpoint()
    }
    beam.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score_e3").desc, col("seq"))))
      .select(col("rank").cast("long").as("rank"), col("seq"),
        col("score_e3"), col("last"))
      .orderBy(col("rank"))
  }

  /** BM25 parameter sensitivity sweep: how much does the top-10
    * MOVE when (k1, b) leave the enrolled (1.2, 0.75) default — the
    * low-saturation (0.9, 0.4) and high-saturation (2.0, 0.9)
    * corners? Emits per config the top-10 overlap with the default
    * ranking and whether rank 1 survives — the number that says if
    * tuning these knobs is worth an offline eval on this corpus (the
    * band_sweep discipline applied to retrieval). The default config
    * is included as the overlap-10 control row.
    *
    * Shape: one tokenize shuffle (shared perdoc frame), three
    * map-only scorings + TakeOrderedAndProject top-10s, 10-row
    * broadcast joins. */
  def bm25Sweep(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = bm25PerDoc(spark, dir)
    val base = perDoc.crossJoin(broadcast(bm25Stats(perDoc)))
      .filter(col("tf1") + col("tf2") + col("tf3") > 0)
      .localCheckpoint()
    // term text comes from the SAME bm25Term generator the enrolled
    // bm25 row and its oracle compose (an inline constant copy here
    // would silently diverge from the shared definition if bm25Term's
    // defaults ever moved); the default arm passes no
    // constants at all, so it IS the enrolled scorer.
    def top10(f: Int => String) =
      base.withColumn("s", round(expr(
          s"${f(1)} + ${f(2)} + ${f(3)}"), 4))
        .orderBy(col("s").desc, col("doc_id")).limit(10)
        .withColumn("r", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("s").desc, col("doc_id"))))
        .select(col("doc_id"), col("r"))
    val dflt = top10(i => bm25Term(i, "D")).localCheckpoint()
    def row(name: String, k1E1: Long, bE2: Long,
        t: DataFrame): DataFrame =
      t.join(broadcast(dflt.select(col("doc_id"))), "doc_id")
        .agg(count(lit(1)).as("overlap10"))
        .crossJoin(broadcast(t.filter(col("r") === 1)
          .select(col("doc_id").as("c1"))))
        .crossJoin(broadcast(dflt.filter(col("r") === 1)
          .select(col("doc_id").as("d1"))))
        .select(lit(name).as("config"), lit(k1E1).as("k1_e1"),
          lit(bE2).as("b_e2"), col("overlap10"),
          (col("c1") === col("d1")).as("top1_same"))
    row("default", 12L, 75L, dflt)
      .unionAll(row("low_sat", 9L, 40L,
        top10(i => bm25Term(i, "D", "1.9", "0.9", "0.6", "0.4"))))
      .unionAll(row("high_sat", 20L, 90L,
        top10(i => bm25Term(i, "D", "3.0", "2.0", "0.1", "0.9"))))
      .orderBy(col("config"))
  }

  /** Johnson–Lindenstrauss distortion audit (J64): project the e4-grid
    * embeddings through a deterministic ±1 matrix (md5-parity signs)
    * from 64 to 16 dims and measure, for 10 probe pairs, the ratio
    * d²_proj/(k·d²_orig) — the number that says whether a 4× cheaper
    * sketch preserves THIS store's distances (JL guarantees it in
    * expectation: E[d²_proj] = k·d²_orig for ±1 projections). The
    * distance-PRESERVATION measurement the sign-LSH rows assume and
    * never check; Matryoshka (q_llm_mrl_recall) truncates trained
    * dims, this projects untrained ones.
    *
    * Exactness: dims enter on the shared e4 grid (float64 cast, the
    * J58 lesson); projections are exact ±sums of BIGINTs; ratio_e4 is
    * one truncating div.
    *
    * Shape: bounded — 20 probe vectors × 64 dims × 16 out-dims;
    * everything after the dims projection is constant-size. */
  def jlDistortion(spark: SparkSession, dir: String): DataFrame = {
    val dims = embeddings(spark, dir)
      .filter(col("vec_id") < 20)
      .select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("dim", "e")))
      .select(col("vec_id"), col("dim"),
        expr("CAST(floor(CAST(e AS DOUBLE) * 10000 + 0.5) AS BIGINT)")
          .as("v"))
    val proj = dims
      .select(col("vec_id"), col("dim"), col("v"),
        explode(expr("sequence(0, 15)")).as("j"))
      .withColumn("s", expr(
        """CASE WHEN CAST(conv(substring(md5(concat(CAST(j AS STRING),
          | ':', CAST(dim AS STRING))), 1, 15), 16, 10) AS BIGINT)
          | % 2 = 0 THEN 1 ELSE -1 END""".stripMargin))
      .groupBy(col("vec_id"), col("j"))
      .agg(sum(expr("s * v")).as("y"))
    val pd = proj.as("a").join(proj.as("b"),
        col("a.j") === col("b.j") &&
        col("b.vec_id") === col("a.vec_id") + 1 &&
        col("a.vec_id") % 2 === 0)
      .groupBy(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
      .agg(sum(expr("(a.y - b.y) * (a.y - b.y)")).as("d2_proj"))
    val od = dims.as("a").join(dims.as("b"),
        col("a.dim") === col("b.dim") &&
        col("b.vec_id") === col("a.vec_id") + 1 &&
        col("a.vec_id") % 2 === 0)
      .groupBy(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
      .agg(sum(expr("(a.v - b.v) * (a.v - b.v)")).as("d2_orig"))
    od.join(pd, Seq("a_id", "b_id"))
      .select(col("a_id"), col("b_id"), col("d2_orig"), col("d2_proj"),
        expr("d2_proj * 10000 div greatest(16 * d2_orig, 1)")
          .as("ratio_e4"))
      .orderBy(col("a_id"))
  }

  /** Near-dup dedup savings per source (J63): the TOKEN cost the
    * min-id survivorship policy actually removes, broken down by
    * source — q_llm_dup_cluster_sizes counts documents, but budgets
    * are token-denominated, and a source whose removed docs are its
    * LONGEST loses disproportionately more training signal than the
    * doc count suggests. Removed = LSH-cluster members whose doc_id
    * is not the cluster's min label (identical policy to
    * q_llm_dedup_survivorship).
    *
    * Shape (100 TB): the memoized LSH cluster frame (doc-keyed,
    * removal-set-sized) joined back to the doc token census on
    * doc_id — co-keyed, no broadcast assumption (a heavily duplicated
    * crawl's removal set is corpus-scale). */
  def dedupSavings(spark: SparkSession, dir: String): DataFrame = {
    val tok = documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(tokens).cast("long").as("n_tok"))
    val rem = dupClusters(spark, dir)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"), lit(true).as("rm"))
    tok.join(rem, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tot_tok"),
        sum(when(col("rm"), 1L).otherwise(0L)).as("rm_docs"),
        sum(when(col("rm"), col("n_tok")).otherwise(0L)).as("rm_tok"))
      .select(col("source"), col("n_docs"), col("tot_tok"),
        col("rm_docs"), col("rm_tok"),
        expr("rm_tok * 10000 div tot_tok").as("savings_e4"))
      .orderBy(col("source"))
  }

  /** Snippet extraction (J60): for the BM25 top-3 docs, the 16-token
    * window with the most query-term hits — the result-page snippet
    * selector every search stack runs after ranking (and the missing
    * last step of this engine's retrieval family: rank → rerank →
    * SHOW). Ties pick the earliest window; windows with zero hits
    * survive via the left join so a doc that ranks on one term still
    * yields its best (possibly 1-hit) snippet deterministically.
    *
    * Shape (100 TB): candidate generation is bounded — 3 docs only
    * (broadcast), window starts ≤ dl per doc, hit positions ≤ dl;
    * the start×hit range join is within-doc and doc-length-bounded,
    * never corpus-sized. */
  def snippetExtract(spark: SparkSession, dir: String): DataFrame = {
    val Seq(t1, t2, t3) = bm25Terms
    val top3 = bm25Scored(spark, dir)
      .orderBy(col("bm25").desc, col("doc_id")).limit(3)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("bm25").desc, col("doc_id"))))
      .select(col("doc_id"), col("rank"))
    val dtk = documents(spark, dir).join(broadcast(top3), "doc_id")
      .select(col("doc_id"), col("rank"), tokens.as("tk"))
    val hits = dtk
      .select(col("doc_id"), posexplode(col("tk")).as(Seq("p", "tok")))
      .filter(col("tok").isin(t1, t2, t3))
      .select(col("doc_id"), col("p"))
    val starts = dtk
      .select(col("doc_id"), col("rank"), size(col("tk")).as("dl"))
      .select(col("doc_id"), col("rank"), col("dl"),
        explode(expr("sequence(0, greatest(dl - 16, 0))")).as("st"))
    val winHits = starts.as("s").join(hits.as("h"),
        col("s.doc_id") === col("h.doc_id") &&
        col("h.p") >= col("s.st") && col("h.p") <= col("s.st") + 15)
      .groupBy(col("s.doc_id").as("doc_id"), col("s.st").as("st"))
      .agg(count(lit(1)).as("nh"))
    starts.join(winHits, Seq("doc_id", "st"), "left")
      .select(col("doc_id"), col("rank"), col("dl"), col("st"),
        coalesce(col("nh"), lit(0L)).as("n_hits"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id"))
          .orderBy(col("n_hits").desc, col("st"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"), expr("CAST(rank AS BIGINT)").as("rank"),
        col("st").cast("long").as("win_start"), col("n_hits"),
        expr("CAST(least(dl - st, 16) AS BIGINT)").as("win_len"))
      .orderBy(col("rank"))
  }

  /** Intra-document cohesion (J60): Jaccard similarity of DISTINCT
    * token sets between consecutive NON-overlapping 32-token chunks,
    * averaged per doc — the text-segmentation signal: low cohesion =
    * multi-topic doc or concatenation garbage (a split candidate
    * before chunk-level indexing), high cohesion = safe to embed
    * whole. Non-overlapping chunks deliberately (the 8-token overlap
    * of q_llm_chunk_split would inflate every adjacent similarity by
    * construction). Emits the 20 LEAST cohesive multi-chunk docs —
    * the review queue.
    *
    * Exactness: Jaccard ×10⁴ by truncating div per pair, mean ×10⁴
    * by a second truncating div (two documented roundings, identical
    * text both engines).
    *
    * Shape (100 TB): generator chunking (map-only) → (doc, chunk)
    * distinct-token frame → self-equi-join keyed (doc, token) with
    * chunk adjacency filter — fan-out bounded by within-doc chunk
    * count, never cross-doc → per-doc fold → TakeOrdered bottom-20. */
  def docCohesion(spark: SparkSession, dir: String): DataFrame = {
    val toks = documents(spark, dir)
      .withColumn("tk", tokens)
      .select(col("doc_id"),
        explode(expr("sequence(0, (size(tk) - 1) div 32)")).as("ch"),
        col("tk"))
      .select(col("doc_id"), col("ch"),
        explode(expr("slice(tk, ch * 32 + 1, 32)")).as("tok"))
      .distinct()
    val sizes = toks.groupBy(col("doc_id"), col("ch"))
      .agg(count(lit(1)).as("sz"))
    val inter = toks.as("a").join(toks.as("b"),
        col("a.doc_id") === col("b.doc_id") &&
        col("a.tok") === col("b.tok") &&
        col("b.ch") === col("a.ch") + 1)
      .groupBy(col("a.doc_id").as("doc_id"), col("a.ch").as("ch"))
      .agg(count(lit(1)).as("i"))
    val pairs = sizes.as("sa")
      .join(sizes.as("sb"), col("sa.doc_id") === col("sb.doc_id") &&
        col("sb.ch") === col("sa.ch") + 1)
      .select(col("sa.doc_id").as("doc_id"), col("sa.ch").as("ch"),
        col("sa.sz").as("na"), col("sb.sz").as("nb"))
      .join(inter, Seq("doc_id", "ch"), "left")
      .select(col("doc_id"),
        expr("coalesce(i, 0) * 10000" +
          " div (na + nb - coalesce(i, 0))").as("jac_e4"))
    pairs.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(jac_e4) div count(1)").as("cohesion_e4"))
      .orderBy(col("cohesion_e4"), col("doc_id")).limit(20)
  }

  /** Query-term position census (J58): for each BM25 query term, the
    * within-doc POSITION-decile distribution of its occurrences plus
    * a uniformity chi-square — do query terms front-load (title/lead
    * style, the premise of first-k-tokens indexing and early-exit
    * scoring) or spread evenly? A skewed census licenses indexing
    * only each doc's head at a measured recall cost; this fixture
    * measures ~uniform, which is itself the (negative) licensing
    * number.
    *
    * Exactness: decile = p·10 div dl on the 0-based token position;
    * dense 10-cell grid per term (zero-filled — an empty decile must
    * COUNT against uniformity); per-cell chi term (10·n − nt)²·10⁴
    * div (10·nt), the cramersV cross-multiplied discipline.
    *
    * Shape (100 TB): one posexplode map + filter to the 3 query terms
    * (the scan predicate prunes everything else) → 30-cell census →
    * broadcast folds. */
  def termPosition(spark: SparkSession, dir: String): DataFrame = {
    val Seq(t1, t2, t3) = bm25Terms
    val hits = documents(spark, dir)
      .select(col("doc_id"), tokens.as("tk"))
      .select(size(col("tk")).as("dl"),
        posexplode(col("tk")).as(Seq("p", "tok")))
      .filter(col("tok").isin(t1, t2, t3))
      .select(col("tok"), expr("CAST(p * 10 div dl AS BIGINT)")
        .as("decile"))
    val counts = hits.groupBy(col("tok"), col("decile"))
      .agg(count(lit(1)).as("cn"))
    val c = hits.select(col("tok")).distinct()
      .crossJoin(broadcast(spark.range(0, 10)
        .select(col("id").as("decile"))))
      .join(counts, Seq("tok", "decile"), "left")
      .select(col("tok"), col("decile"),
        coalesce(col("cn"), lit(0L)).as("n"))
    val t = c.groupBy(col("tok")).agg(sum(col("n")).as("nt"))
    val chi = c.join(broadcast(t), "tok")
      .groupBy(col("tok"))
      .agg(expr("""CAST(sum((10 * n - nt) * (10 * n - nt) * 10000
        | div (10 * nt)) AS BIGINT)""".stripMargin).as("chi2_e4"))
    c.join(broadcast(t), "tok").join(broadcast(chi), "tok")
      .select(col("tok").as("term"), col("decile"), col("n"),
        expr("n * 10000 div nt").as("share_e4"), col("chi2_e4"))
      .orderBy(col("term"), col("decile"))
  }

  /** Dirichlet-smoothed query likelihood (J57, Zhai & Lafferty 2001):
    * the language-modeling retrieval scorer beside BM25 — rank docs by
    * Σ_q ln((tf + μ·cf/C)/(dl + μ)) with μ = 100, over the SAME query
    * terms and candidate set (tf₁+tf₂+tf₃ > 0) as the BM25 row, with
    * the cross-scorer audit column in_bm25_top10 so ranker DISAGREEMENT
    * is an enrolled number (the hybrid-RRF/Borda rows fuse rankers;
    * this one measures how much there is to fuse).
    *
    * Exactness: each term is the log of a RATIONAL with integer parts —
    * ln((tf·C + μ·cf)/((dl+μ)·C)) = lnE3(tf·C + μ·cf) −
    * lnE3((dl+μ)·C) — two floor-once lnE3 calls per term (the PMI
    * products discipline); scores are negative BIGINT milli-nats.
    * Fixture precondition: every query term occurs in the corpus
    * (cf > 0), so no ln(0) lane exists even at tf = 0.
    *
    * Shape (100 TB): the ONE tokenize shuffle (shared shape with
    * bm25Scored), a scalar stats broadcast, map-only scoring, two
    * TakeOrderedAndProject top-10s, and a 10-row broadcast join. */
  def qlDirichlet(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = bm25PerDocFold(spark, dir)
    val qst = perDoc.agg(sum(col("dl")).as("cc"),
      sum(col("tf1")).as("cf1"), sum(col("tf2")).as("cf2"),
      sum(col("tf3")).as("cf3"))
    def term(i: Int): String =
      s"(CAST(floor(ln(tf$i * cc + 100 * cf$i) * 1000 + 0.5) AS BIGINT)" +
        s" - CAST(floor(ln((dl + 100) * cc) * 1000 + 0.5) AS BIGINT))"
    val top = perDoc.crossJoin(broadcast(qst))
      .filter(col("tf1") + col("tf2") + col("tf3") > 0)
      .withColumn("ql_e3", expr(s"${term(1)} + ${term(2)} + ${term(3)}"))
      .orderBy(col("ql_e3").desc, col("doc_id")).limit(10)
      .select(col("doc_id"), col("ql_e3"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("ql_e3").desc, col("doc_id"))))
    val bmTop = bm25Scored(spark, dir)
      .orderBy(col("bm25").desc, col("doc_id")).limit(10)
      .select(col("doc_id"), lit(true).as("in_bm"))
    top.join(broadcast(bmTop), Seq("doc_id"), "left")
      .select(col("doc_id"), expr("CAST(rank AS BIGINT)").as("rank"),
        col("ql_e3"),
        coalesce(col("in_bm"), lit(false)).as("in_bm25_top10"))
      .orderBy(col("rank"))
  }

  /** Pseudo-relevance-feedback expansion: the Rocchio-lite
    * step after BM25 — take the top-5 retrieved docs, rank the terms
    * they contain (query terms and stopwords excluded) by
    * tf_top · idfE3 (idfE3 = lnE3(N) − lnE3(df), the floor-once
    * discipline), and propose the top-5 as query expansions. Composed
    * from the SAME bm25Scored frame as the ranking rows (the
    * nDCG/MRR rule: expansion can't drift from what was retrieved).
    *
    * Shape: TakeOrdered top-5 probe (broadcast) → one token-stream
    * semi-join + census; the df side is the inverted-index fold the
    * corpus already pays once. */
  def prfExpand(spark: SparkSession, dir: String): DataFrame = {
    val top5 = bm25Scored(spark, dir)
      .orderBy(col("bm25").desc, col("doc_id")).limit(5)
      .select(col("doc_id"))
    val toks = docTokens(spark, dir)
    val excluded = bm25Terms ++ Stopwords
    val tfTop = toks.join(broadcast(top5), "doc_id")
      .filter(!col("tok").isin(excluded: _*))
      .groupBy(col("tok")).agg(count(lit(1)).as("tf_top"))
    val dfs = toks.select(col("doc_id"), col("tok")).distinct()
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val n = documents(spark, dir).agg(count(lit(1)).as("nn"))
    tfTop.join(dfs, "tok").crossJoin(broadcast(n))
      .select(col("tok").as("term"), col("tf_top"), col("df"),
        expr("tf_top * (CAST(floor(ln(nn) * 1000 + 0.5) AS BIGINT)" +
          " - CAST(floor(ln(df) * 1000 + 0.5) AS BIGINT))")
          .as("score_e3"))
      .orderBy(col("score_e3").desc, col("term"))
      .limit(5)
  }

  /** Chunk boundary loss: how many 5-gram shingles does
    * fixed-32-token chunking DESTROY? A shingle straddling a chunk
    * boundary exists in the document but in neither chunk — the
    * retrieval blind spot q_llm_chunk_split's plain split silently
    * accepts (and why production chunkers overlap). Per boundary
    * b = 32k the straddling starts are i ∈ [b−4, b−1] clipped to
    * [0, n−5]: crossing = min(min(4, b), max(n−4−(b−4), 0)) — the
    * closed form both engines evaluate per (doc, k); 8.7% of all
    * shingles at sf0.01 (docs run 10–99 tokens).
    *
    * Shape: map-only per-doc array arithmetic (a filtered literal
    * sequence folded per row — no explode, no shuffle before the
    * 1-row fold). */
  def chunkBoundaryLoss(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(size(tokens).cast("long").as("n"))
      .select(col("n"),
        expr("greatest(n - 4, 0)").as("shingles"),
        expr("""aggregate(filter(sequence(1, 100), k -> k * 32 < n),
          |CAST(0 AS BIGINT), (acc, k) -> acc
          | + least(least(CAST(4 AS BIGINT), CAST(k AS BIGINT) * 32),
          |     greatest(n - 4 - (CAST(k AS BIGINT) * 32 - 4),
          |       CAST(0 AS BIGINT))))""".stripMargin).as("crossing"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("shingles")).as("total_shingles"),
        sum(col("crossing")).as("crossing_shingles"))
      .select(col("n_docs"), col("total_shingles"),
        col("crossing_shingles"),
        expr("crossing_shingles * 10000" +
          " div greatest(total_shingles, 1)").as("loss_share_e4"))

  /** Prompt prefix-cache analysis: how much prefill compute
    * would a prefix cache save on this corpus? Docs sharing an exact
    * 10-token prefix (md5-grouped) re-use the first 10 tokens'
    * KV-cache after the first member — savings = Σ (group−1)·10
    * tokens over groups of size ≥ 2. The serving-side twin of the
    * dedup family: near-dup docs share prefixes (the 47 docs in 23
    * groups here ARE the near-dup population), so the cache-hit
    * census doubles as a dedup cross-check. Docs shorter than 10
    * tokens are excluded (documented precondition — their prefix is
    * not comparable).
    *
    * Shape: map-side prefix hash → one groupBy census → 1-row fold. */
  def prefixCache(spark: SparkSession, dir: String): DataFrame = {
    val d = documents(spark, dir)
      .withColumn("tk", tokens)
      .filter(size(col("tk")) >= 10)
      .select(col("doc_id"), size(col("tk")).cast("long").as("n_tok"),
        expr(h60("array_join(slice(tk, 1, 10), ' ')")).as("p"))
    val g = d.groupBy(col("p"))
      .agg(count(lit(1)).as("ng"), sum(col("n_tok")).as("toks"))
    g.agg(sum(col("ng")).as("n_docs"),
        sum(col("toks")).as("tokens_total"),
        sum(when(col("ng") > 1, 1L).otherwise(0L)).as("n_groups_shared"),
        sum(when(col("ng") > 1, col("ng")).otherwise(0L))
          .as("n_docs_shared"),
        sum(when(col("ng") > 1, (col("ng") - 1) * 10L).otherwise(0L))
          .as("tokens_saved"))
      .select(col("n_docs"), col("tokens_total"),
        col("n_groups_shared"), col("n_docs_shared"),
        col("tokens_saved"),
        expr("tokens_saved * 10000 div greatest(tokens_total, 1)")
          .as("saved_share_e4"))
  }

  def bm25TopDocs(spark: SparkSession, dir: String): DataFrame =
    bm25Scored(spark, dir)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(20)

  /** Hybrid retrieval via reciprocal-rank fusion: the lexical
    * BM25 arm and a dense cosine arm (probe = vec 7's embedding) each
    * contribute 1/(60+rank) for their top-50; docs absent from an arm
    * contribute 0 from it (standard RRF). Rank — not score — fusion is
    * WHY RRF is the production default for hybrid search: it needs no
    * cross-arm score calibration, and integer ranks with id tie-breaks
    * make the fused ordering engine-exact (only the final two-term
    * 1/(60+r) sum is float, in one fixed textual order both engines
    * parse identically).
    *
    * Scale shape: each arm caps to its top-50 with TakeOrderedAndProject
    * (distributed partial top-k, no global sort), and ONLY the two
    * 50-row capped sets hit the single-partition rank window and the
    * full-outer fusion join — the window never sees corpus-sized input.
    * The arms themselves are the already-enrolled shapes (BM25's one
    * tokenize shuffle; one broadcast probe row against the vector
    * scan). */
  /** Top-50 lexical (BM25) and dense (cosine) rankings — the two
    * retrieval arms shared by hybridRrf and bordaFusion (one
    * definition, so the fusion rows cannot disagree on the inputs). */
  private def lexTop50(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    bm25Scored(spark, dir)
      .orderBy(col("bm25").desc, col("doc_id")).limit(50)
      // 50 rows by construction — the global window is trivially cheap
      .withColumn("lex_rank", row_number()
        .over(Window.orderBy(col("bm25").desc, col("doc_id")))
        .cast("long"))
      .select(col("doc_id"), col("lex_rank"))
  }

  private def denseTop50(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = embWithNorm(spark, dir)
    val probe = emb.filter(col("vec_id") === 7)
      .select(col("v").as("av"), col("norm").as("an"))
    emb.filter(col("vec_id") =!= 7)
      .crossJoin(broadcast(probe))
      .withColumn("cos",
        round(VectorExprs.dot(col("av"), col("v")) / (col("an") * col("norm")),
          6))
      .orderBy(col("cos").desc, col("vec_id")).limit(50)
      .withColumn("dense_rank", row_number()
        .over(Window.orderBy(col("cos").desc, col("vec_id")))
        .cast("long"))
      .select(col("vec_id").as("doc_id"), col("dense_rank"))
  }

  /** Retrieve-then-rerank cascade (J86): BM25 supplies
    * RECALL (its top-20 lexical candidates), the dense arm supplies
    * PRECISION (exact cosine re-rank of ONLY those 20 against the
    * arms' shared probe, vec 7) — the two-stage serving default of
    * production retrieval, completing the fusion trio: RRF and Borda
    * MERGE two full rankings; the cascade FILTERS with one and scores
    * with the other, paying 20 cosine evaluations per query instead
    * of a corpus scan. Emits the re-ranked top-10 with both ranks and
    * the rank shift (how much the dense stage disagreed with BM25).
    *
    * Shape (100 TB): the candidate frame is TakeOrdered top-20; the
    * re-rank is a 20-row keyed join against the embedding table +
    * a 20-row window — per-query work is CONSTANT after the shared
    * memoized BM25 pass. Candidates without an embedding drop (only
    * embedded docs are re-rankable; inner join on both engines). */
  def retrieveRerank(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = embWithNorm(spark, dir)
    val probe = emb.filter(col("vec_id") === 7)
      .select(col("v").as("av"), col("norm").as("an"))
    lexTop50(spark, dir).filter(col("lex_rank") <= 20)
      .filter(col("doc_id") =!= 7) // the probe is the query, not a hit
      .join(emb.select(col("vec_id").as("doc_id"), col("v"),
        col("norm")), Seq("doc_id"))
      .crossJoin(broadcast(probe))
      .withColumn("cos",
        round(VectorExprs.dot(col("av"), col("v")) / (col("an") * col("norm")),
          6))
      .withColumn("rerank", row_number().over(
        Window.orderBy(col("cos").desc, col("doc_id"))).cast("long"))
      .filter(col("rerank") <= 10)
      .select(col("doc_id"), col("lex_rank"), col("rerank"), col("cos"),
        (col("lex_rank") - col("rerank")).as("rank_shift"))
      .orderBy(col("rerank"))
  }

  /** Block-max WAND pruning audit: for the enrolled
    * three-term BM25 query, how much of each posting list could a
    * block-max index SKIP? Postings are blocked 32-at-a-time in doc_id
    * order with a per-block max impact (the BMW index layout); a block
    * of term i is provably skippable when its block max plus the OTHER
    * terms' global maxes cannot reach θ = the 10th-best full document
    * score — the first-order upper-bound prune every impact-ordered
    * lexical index runs. THE index-efficiency number for lexical
    * serving at 100 TB: BM25 scoring cost is postings scanned, and
    * this row measures what fraction the index structure saves before
    * any scoring happens (the complement of q_llm_term_position's
    * front-loading audit).
    *
    * Exactness: per-term impacts and θ land on the e4 integer grid
    * (floor-once from the shared bm25Term text); block ids from a
    * doc_id-ordered row_number — deterministic on both engines.
    * Shape: rides the memoized per-doc tf frame; posting lists are
    * df-sized, blocks df/32-sized; everything after is ≤|blocks|. */
  def wandPrune(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perDoc = bm25PerDoc(spark, dir)
    val base = perDoc.crossJoin(broadcast(bm25Stats(perDoc)))
    val postings = (1 to 3).map { i =>
      base.filter(col(s"tf$i") > 0)
        .select(lit(i.toLong).as("term"), col("doc_id"),
          expr(s"CAST(floor((${bm25Term(i, "D")}) * 10000 + 0.5)" +
            " AS BIGINT)").as("imp_e4"))
    }.reduce(_.unionAll(_))
    val blocks = postings
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("term")).orderBy(col("doc_id"))))
      .withColumn("blk", expr("(rn - 1) div 32"))
      .groupBy(col("term"), col("blk"))
      .agg(count(lit(1)).as("np"), max(col("imp_e4")).as("blockmax_e4"))
    val gmax = blocks.groupBy(col("term"))
      .agg(max(col("blockmax_e4")).as("gmax_e4"))
    val gsum = gmax.agg(sum(col("gmax_e4")).as("gall"))
    val theta = bm25Scored(spark, dir)
      .select(expr("CAST(floor(bm25 * 10000 + 0.5) AS BIGINT)").as("s_e4"))
      .orderBy(col("s_e4").desc).limit(10)
      .agg(min(col("s_e4")).as("theta_e4"))
    blocks.join(broadcast(gmax), Seq("term"))
      .crossJoin(broadcast(gsum)).crossJoin(broadcast(theta))
      .withColumn("skippable",
        expr("blockmax_e4 + (gall - gmax_e4) < theta_e4"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("skippable"), 1L).otherwise(0L)).as("n_skippable"),
        sum(col("np")).as("n_postings"),
        sum(when(col("skippable"), col("np")).otherwise(0L))
          .as("n_skipped_postings"))
      .withColumn("skip_share_e4",
        expr("n_skipped_postings * 10000 div greatest(n_postings, 1)"))
      .orderBy(col("term"))
  }

  /** Borda-count fusion of the two retrieval arms (the RRF row's
    * integer sibling: points = 51 − rank per list, absent = 0) —
    * rank-fusion family complete with both the reciprocal and the
    * positional rule; pure BIGINT, no float reciprocals at all. */
  def bordaFusion(spark: SparkSession, dir: String): DataFrame =
    lexTop50(spark, dir)
      .join(denseTop50(spark, dir), Seq("doc_id"), "full_outer")
      .withColumn("borda", expr(
        "coalesce(51 - lex_rank, CAST(0 AS BIGINT)) + " +
          "coalesce(51 - dense_rank, CAST(0 AS BIGINT))"))
      .select(col("doc_id"), col("borda"), col("lex_rank"),
        col("dense_rank"))
      .orderBy(col("borda").desc, col("doc_id"))
      .limit(15)

  def hybridRrf(spark: SparkSession, dir: String): DataFrame = {
    lexTop50(spark, dir).join(denseTop50(spark, dir), Seq("doc_id"),
      "full_outer")
      // 1.0D: Spark parses a bare 1.0 as DECIMAL (DuckDB: DOUBLE) — the
      // double literal keeps both the schema and the arithmetic aligned
      .withColumn("rrf", round(
        expr("coalesce(1.0D/(60 + lex_rank), 0.0D) + " +
          "coalesce(1.0D/(60 + dense_rank), 0.0D)"), 6))
      .select(col("doc_id"), col("rrf"), col("lex_rank"), col("dense_rank"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(15)
  }

  /** RRF k-constant sensitivity sweep (J77): how much does
    * the fused top-10 MOVE when the reciprocal-rank constant leaves
    * the enrolled k=60 default — the sharp k=10 (rank-1 dominance)
    * and the flat k=200 (near-Borda) corners? The bm25_sweep
    * discipline applied to FUSION: per config, top-10 overlap with
    * the default and whether rank 1 survives. Unlike the enrolled
    * float RRF row, the sweep scores on the e12 INTEGER reciprocal
    * grid (10¹² div (k + rank)) — truncating, engine-identical, and
    * rank-order-exact for every k ≤ 10⁶ at list length 50, so the
    * sweep's verdicts can never hinge on float ULPs.
    *
    * Shape: both rank arms are the memoized lex/dense top-50 frames
    * (TakeOrdered + 50-row windows); everything here is ≤100 rows. */
  def rrfSweep(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fused = lexTop50(spark, dir)
      .join(denseTop50(spark, dir), Seq("doc_id"), "full_outer")
      .localCheckpoint() // <=100 rows; feeds three scoring arms
    def top10(k: Int): DataFrame = fused
      .withColumn("rrf_e12", expr(
        s"coalesce(1000000000000 div ($k + lex_rank), 0L) + " +
          s"coalesce(1000000000000 div ($k + dense_rank), 0L)"))
      .orderBy(col("rrf_e12").desc, col("doc_id")).limit(10)
      .withColumn("r", row_number().over(
        Window.orderBy(col("rrf_e12").desc, col("doc_id"))))
      .select(col("doc_id"), col("r"))
    val dflt = top10(60).localCheckpoint()
    def row(name: String, k: Long, t: DataFrame): DataFrame =
      t.join(broadcast(dflt.select(col("doc_id"))), "doc_id")
        .agg(count(lit(1)).as("overlap10"))
        .crossJoin(broadcast(t.filter(col("r") === 1)
          .select(col("doc_id").as("c1"))))
        .crossJoin(broadcast(dflt.filter(col("r") === 1)
          .select(col("doc_id").as("d1"))))
        .select(lit(name).as("config"), lit(k).as("k"),
          col("overlap10"), (col("c1") === col("d1")).as("top1_same"))
    row("k060", 60L, dflt)
      .unionAll(row("k010", 10L, top10(10)))
      .unionAll(row("k200", 200L, top10(200)))
      .orderBy(col("config"))
  }

  /** Language-ID heuristic: per-language top-20-token profiles built from
    * the corpus itself; each doc scored by distinct-token overlap with
    * each profile, argmax with lexical tie-break. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val docs = documents(spark, dir)
    val profile = docs
      .select(col("lang").as("p_lang"), explode(tokens).as("token"))
      .groupBy(col("p_lang"), col("token"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("p_lang"))
          .orderBy(col("cnt").desc, col("token"))))
      .filter(col("rn") <= 20)
      .select(col("p_lang"), col("token"))
    val docToks = docs.select(col("doc_id"), col("lang"),
      explode(array_distinct(tokens)).as("token"))
    docToks.join(broadcast(profile), "token")
      .groupBy(col("doc_id"), col("lang"), col("p_lang"))
      .agg(count(lit(1)).as("score"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("p_lang"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("p_lang").as("pred_lang"), col("score"),
        col("lang").as("actual_lang"),
        (col("p_lang") === col("lang")).as("correct"))
      .orderBy(col("doc_id"))
  }

  /** Quality scoring: type-token ratio, stopword ratio, length prior. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    qualityFeatures(documents(spark, dir))
      .withColumn("quality", r4(
        lit(0.4) * col("ttr") + lit(0.3) * (lit(1) - col("stop_ratio")) +
          lit(0.3) * least(col("n_tok") / 100.0, lit(1.0))))
      .select(col("doc_id"), col("n_tok"), r4(col("ttr")).as("ttr"),
        r4(col("stop_ratio")).as("stop_ratio"), col("quality"))
      .orderBy(col("doc_id"))

  /** Benchmark decontamination: flag training docs that share
    * any 13-token gram with the held-out benchmark slice (here:
    * doc_id % 10 == 0 stands in for the eval set) — the standard
    * n-gram overlap pass run before a corpus ships to training
    * (13 tokens is the published overlap window). Grams travel as
    * 60-bit md5 hashes (the h60 hot-path hash), so the join shuffles
    * 8-byte keys instead of 13-token strings; the benchmark side —
    * distinct gram hashes of the (small) eval set — is the build side,
    * broadcast- or bloom-prunable at 100 TB while the corpus side
    * streams through map-side. */
  /** FUZZY benchmark decontamination: [[decontaminate]]'s
    * exact 13-gram pass misses PARAPHRASED leakage — an eval doc with a
    * few tokens edited shares no 13-gram with its twin but is still
    * contamination. This row flags training docs NEAR-DUP (MinHash-LSH
    * verified Jaccard ≥ 0.8) to any eval-slice doc (doc_id % 10 == 0,
    * the same stand-in as the exact row), reporting each flagged doc's
    * best-matching eval doc (max jaccard, min eval_id tie). Reuses the
    * whole banded-LSH pair pipeline — the oracle is COMPOSED from the
    * minhash-pairs SQL, so the two stay in lockstep; the 100 TB shape
    * is minhashLsh's (banded equi-join, no all-pairs), with the pair
    * set post-filtered to train×eval orientation. */
  def decontaminateFuzzy(spark: SparkSession, dir: String): DataFrame = {
    val pairs = minhashLsh(spark, dir)
    val oriented = pairs.select(
        when(col("a_id") % 10 === 0, col("b_id")).otherwise(col("a_id"))
          .as("train_id"),
        when(col("a_id") % 10 === 0, col("a_id")).otherwise(col("b_id"))
          .as("eval_id"),
        col("jaccard"))
      .filter(col("train_id") % 10 =!= 0 && col("eval_id") % 10 === 0)
    oriented
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("train_id"))
          .orderBy(col("jaccard").desc, col("eval_id"))))
      .filter(col("rn") === 1)
      .select(col("train_id"), col("eval_id"), col("jaccard"))
      .orderBy(col("train_id"))
  }

  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val grams = documents(spark, dir)
      .withColumn("tk", tokens)
      .select(col("doc_id"), explode(expr(
        s"""CASE WHEN size(tk) >= 13
           |THEN transform(sequence(1, size(tk) - 12),
           |  i -> ${h60("concat_ws(' ', slice(tk, i, 13))")})
           |ELSE CAST(array() AS array<bigint>) END""".stripMargin))
        .as("gh"))
    val bench = grams.filter(col("doc_id") % 10 === 0)
      .select(col("gh")).distinct()
    grams.filter(col("doc_id") % 10 =!= 0)
      .join(bench, Seq("gh"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("gh")).as("n_hit"))
      .orderBy(col("doc_id"))
  }

  /** Gopher-style repetition signal: fraction of duplicate
    * 3-grams per document, 1 - distinct/total — boilerplate and
    * degenerate-generation text scores high and gets filtered before
    * training. Pure per-row array expressions, zero shuffles before the
    * final presentation sort. */
  def repetitionRatio(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .withColumn("tk", tokens)
      .withColumn("g3", expr(
        """CASE WHEN size(tk) >= 3
          |THEN transform(sequence(1, size(tk) - 2),
          |               i -> concat_ws(' ', slice(tk, i, 3)))
          |ELSE CAST(array() AS array<string>) END""".stripMargin))
      .withColumn("n_g", size(col("g3")))
      .withColumn("n_uniq", size(array_distinct(col("g3"))))
      .select(col("doc_id"), col("n_g"), col("n_uniq"),
        when(col("n_g") === 0, lit(0.0))
          .otherwise(r4(lit(1.0) - col("n_uniq") / col("n_g").cast("double")))
          .as("rep_ratio"))
      .orderBy(col("doc_id"))

  /** End-to-end corpus curation composite: the pipeline a
    * training-data user actually runs, as ONE declarative plan —
    * (1) exact dedup keeping the min doc_id per normalized text,
    * (2) quality gates (≥20 tokens, composite quality ≥ 0.55 — the
    * qualityScore formula), (3) per-language top-50 by quality.
    * Stage order matters at 100 TB: dedup's window partitions by the
    * normalized text (at cluster scale: by its 256-bit digest, same
    * semantics, bounded key width), the quality gate is a pure per-row
    * filter BEFORE the per-lang rank shuffle, and the final rank
    * shuffles only survivors on the low-cardinality lang key (top-50
    * per group bounds any skew). */
  def curationPipeline(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val deduped = withTokens(documents(spark, dir))
      .withColumn("keep_id",
        min(col("doc_id")).over(w.partitionBy(contentKey)))
      .filter(col("doc_id") === col("keep_id"))
    val scored = withQualityRatios(deduped)
      .withColumn("quality", r4(
        lit(0.4) * col("ttr") + lit(0.3) * (lit(1) - col("stop_ratio")) +
          lit(0.3) * least(col("n_tok") / 100.0, lit(1.0))))
      .filter(col("n_tok") >= 20 && col("quality") >= 0.55)
    scored
      .withColumn("rank", row_number().over(
        w.partitionBy(col("lang"))
          .orderBy(col("quality").desc, col("doc_id"))))
      .filter(col("rank") <= 50)
      .select(col("lang"), col("rank"), col("doc_id"), col("n_tok"),
        col("quality"))
      .orderBy(col("lang"), col("rank"))
  }

  /** Dataset card: the per-language summary sheet shipped with every
    * released training corpus — doc/token/source counts, exact-dup
    * rate, mean quality, dominant source.
    *
    * Shape: no distinct aggregate, so no Expand. The counts fold in two
    * levels over the `(lang, h)` de-duplication of the sha256 digest
    * (`n_uniq` is the number of digests per lang); `n_sources` is a
    * whole-partition count over the `(lang, source)` aggregate that the
    * top-source rank already reads, so both come from one exchange. At
    * 100 TB every aggregate is map-side combinable and the final
    * shuffles key on the low-cardinality lang column.
    *
    * Determinism: mean quality is the exact BIGINT mean of the per-doc
    * e4-quantized score (floor(quality·10⁴) per row is fixed-order
    * per-row arithmetic; the cross-row SUM is integer — float
    * aggregation order never arises); dup rate is integer-derived. */
  def datasetCard(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val docs = qualityFeatures(documents(spark, dir))
      .withColumn("q_e4", expr(
        """CAST(floor((0.4 * ttr + 0.3 * (1 - stop_ratio)
          |  + 0.3 * least(n_tok / 100.0, 1.0)) * 10000.0) AS BIGINT)"""
          .stripMargin))
      .withColumn("h", contentDigest)
    val stats = docs.groupBy(col("lang"), col("h"))
      .agg(count(lit(1)).as("n"), sum(col("n_tok").cast("long")).as("t"),
        sum(col("q_e4")).as("q"))
      .groupBy(col("lang"))
      .agg(sum(col("n")).as("n_docs"), sum(col("t")).as("n_tokens"),
        count(col("h")).as("n_uniq"), sum(col("q")).as("q_sum"))
    val topSource = docs.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("src_cnt"))
      .withColumn("n_sources",
        count(col("source")).over(w.partitionBy(col("lang"))))
      .withColumn("rn", row_number().over(
        w.partitionBy(col("lang"))
          .orderBy(col("src_cnt").desc, col("source"))))
      .filter(col("rn") === 1)
      .select(col("lang"), col("n_sources"), col("source").as("top_source"),
        col("src_cnt").as("top_source_docs"))
    stats.join(topSource, Seq("lang"))
      .select(col("lang"), col("n_docs"), col("n_tokens"), col("n_sources"),
        floor((lit(1.0) - col("n_uniq").cast("double") / col("n_docs"))
          * 10000.0 + 0.5).cast("long").as("dup_rate_e4"),
        floor(col("q_sum").cast("double") / col("n_docs") + 0.5)
          .cast("long").as("mean_q_e4"),
        col("top_source"), col("top_source_docs"))
      .orderBy(col("lang"))
  }

  /** Token counting: whitespace tokens + BPE-ish ≤4-char subword chunks
    * (regex '\S{1,4}' ≡ per-token ceil(len/4) chunking). */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(col("doc_id"), size(tokens).as("n_ws"),
        size(expr("regexp_extract_all(text, '\\\\S{1,4}', 0)")).as("n_bpe"),
        length(col("text")).as("n_chars_calc"))
      .orderBy(col("doc_id"))

  /** Document fingerprint: positional rolling hash over sha-derived token
    * hashes, fold (h*31 + tok_h) mod p — identical in DuckDB list_reduce. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .withColumn("tk", tokens)
      .select(col("doc_id"), expr(
        s"""aggregate(transform(tk, t -> ${h60("t")} % $P),
           |          CAST(0 AS BIGINT),
           |          (h, x) -> (h * 31 + x) % $P)""".stripMargin)
        .as("fp"))
      .orderBy(col("doc_id"))

  /** Zipf exponent fit: OLS slope of ln(count) vs ln(rank)
    * over the top-1000 tokens — the corpus-health diagnostic (natural
    * text ≈ −1; template/boilerplate corpora flatten toward 0 — this
    * fixture reads −0.18, which is exactly what the row should expose
    * about synthetic data). Each log rounds ONCE to MILLI-units
    * (dsir's rule), then the slope is pure BIGINT moments; e3 not e6
    * because the n·Σxy term at the 1000-token cap must stay inside
    * BIGINT (ln(1000)·10³ ≈ 6.9e3 ⇒ n·Σxy ≤ ~5e13; the e6 variant
    * overflows at 4.8e19 — documented bound). The ×10⁶ output scale
    * comes from dividing the DENOMINATOR, not multiplying the
    * numerator.
    *
    * Scale shape: one partial-aggregable vocab count, ONE top-1000
    * rank window over the vocab frame (vocab-sized, not corpus-sized),
    * then a scalar moment aggregate. */
  def zipfFit(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(explode(tokens).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("c").desc, col("w"))))
      .filter(col("r") <= 1000)
      .select(
        expr("CAST(floor(ln(r) * 1000 + 0.5) AS BIGINT)").as("x"),
        expr("CAST(floor(ln(c) * 1000 + 0.5) AS BIGINT)").as("y"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("n"), col("sy"), expr(
        """(n * sxy - sx * sy)
          | div greatest((n * sxx - sx * sx) div 1000000,
          |              CAST(1 AS BIGINT))""".stripMargin).as("alpha_e6"))

  /** Count-min sketch: d=4 rows × w=16 buckets of token
    * counts, plus the point-query audit — ĉ(w) = min over rows of the
    * w's bucket, joined against the exact count so the one-sided error
    * (ĉ ≥ c, overcount = collision mass) is an enrolled NUMBER, not
    * prose. w=16 is deliberately small so collisions actually occur on
    * the fixture (measured: 17/31 tokens overcounted at w=16, 0 at
    * w=256); heavy hitters stay exact because the min picks each
    * token's least-collided row. Beside q_llm_heavy_hitters
    * (Misra-Gries keeps the top-k identities; CMS answers ANY point
    * query at fixed memory).
    *
    * Scale shape: the sketch is d·w = 64 cells — partial-aggregable
    * counts (map-side combine does the heavy lifting; merging shards =
    * cell-wise add, the HLL-merge property), and the probe side is a
    * broadcast of those 64 rows. At 100 TB only w grows (error ∝
    * total/w), never the shuffle shape. The audit builds the sketch
    * FROM the exact vocab-sized count table rather than re-exploding
    * the corpus (Σ c_true over colliding tokens ≡ streaming bucket
    * counts — measured 1.66 → sub-second at sf0.1); a pipeline without
    * the exact side folds tokens directly, same cells. */
  def countMin(spark: SparkSession, dir: String): DataFrame = {
    val toks = documents(spark, dir)
      .select(explode(tokens).as("w"))
    val tru = toks.groupBy(col("w")).agg(count(lit(1)).as("c_true"))
    val cms = tru
      .select(col("w"), col("c_true"),
        explode(expr("sequence(0, 3)")).as("d"))
      .withColumn("bucket",
        expr(s"${h60("concat(CAST(d AS STRING), ':', w)")} % 16"))
      .groupBy(col("d"), col("bucket")).agg(sum(col("c_true")).as("c"))
    val probes = tru.select(col("w"))
      .withColumn("d", explode(expr("sequence(0, 3)")))
      .withColumn("bucket",
        expr(s"${h60("concat(CAST(d AS STRING), ':', w)")} % 16"))
    val est = probes.join(broadcast(cms), Seq("d", "bucket"))
      .groupBy(col("w")).agg(min(col("c")).as("c_est"))
    tru.join(est, Seq("w"))
      .withColumn("overcount", col("c_est") - col("c_true"))
      .orderBy(col("c_true").desc, col("w"))
  }

  /** Winnowing fingerprint selection: per doc, the min 3-gram
    * rolling hash in every sliding window of 4 consecutive grams,
    * deduplicated — the MOSS document-fingerprint scheme that
    * guarantees any shared run of ≥ 6 tokens leaves at least one
    * COMMON selected fingerprint, at ~1/4 the stored hashes of the
    * full gram set (q_llm_fingerprint keeps one rolling hash per doc;
    * this keeps the plagiarism-detection SET). Output is the per-doc
    * selection summary (count + modular sum), the checkable digest of
    * the selected set.
    *
    * Scale shape: gram hashing is map-side (posexplode of a per-doc
    * transform), the window min is doc_id-partitioned (grams of one
    * doc are bounded by doc length), and the digest is one partial-
    * aggregable groupBy — ONE shuffle of the gram stream. */
  def winnowFp(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .withColumn("tk", tokens)
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(1, size(tk) - 2),
           |          i -> ${h60("array_join(slice(tk, i, 3), ' ')")} % $P)"""
          .stripMargin)).as(Seq("pos", "gh")))
      .withColumn("fp", min(col("gh")).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("pos"))
          .rowsBetween(0, 3)))
      .withColumn("n_grams", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))))
      .select(col("doc_id"), col("n_grams"), col("fp")).distinct()
      .groupBy(col("doc_id"))
      .agg(first(col("n_grams")).as("n_grams"),
        count(lit(1)).as("n_fp"),
        (sum(col("fp")) % lit(P)).as("fp_sum"))
      .orderBy(col("doc_id"))

  /** Add-1-smoothed bigram language model: the top bigrams
    * with their conditional probability P(w2|w1) = (c(w1,w2)+1) /
    * (c(w1)+V) kept as an integer RATIONAL (p_num, p_den) — no float
    * ever materializes, so the row is bit-reproducible and the
    * downstream consumer (perplexity scoring, generation) divides at
    * use time. V counts the distinct vocabulary over both bigram
    * slots.
    *
    * Scale shape: two partial-aggregable groupBys (bigram, unigram)
    * over the map-side-generated pair stream, an equi-join on w1
    * (vocabulary-sized — Heap's-law sublinear, bucketed if large), and
    * a one-row V crossJoin. The top-k is TakeOrderedAndProject. */
  def bigramLm(spark: SparkSession, dir: String): DataFrame = {
    val bg = documents(spark, dir)
      .withColumn("tk", tokens)
      .filter(size(col("tk")) >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(tk) - 1),
          |          i -> struct(element_at(tk, i) AS w1,
          |                      element_at(tk, i + 1) AS w2))"""
          .stripMargin)).as("s"))
      .select(col("s.w1").as("w1"), col("s.w2").as("w2"))
    val c2 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val c1 = bg.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val v = bg.select(col("w1").as("w"))
      .union(bg.select(col("w2")))
      .agg(countDistinct(col("w")).as("v"))
    c2.join(c1, Seq("w1")).crossJoin(broadcast(v))
      .select(col("w1"), col("w2"), col("c2"),
        (col("c2") + lit(1L)).as("p_num"),
        (col("c1") + col("v")).as("p_den"))
      .orderBy(col("c2").desc, col("w1"), col("w2"))
      .limit(50)
  }

  /** Per-doc n-gram novelty: the fraction of a doc's distinct
    * 8-gram hashes whose corpus-wide FIRST occurrence (min doc_id) is
    * this doc — the "how much new text does this shard add"
    * contribution score used to order crawl snapshots before dedup.
    * Integer ratio ×10⁴ (nonnegative div ≡ //).
    *
    * Scale shape: exactly the decontaminate skeleton — map-side gram
    * hashing, one groupBy on the 8-byte gram hash (the big shuffle,
    * partial-aggregable min), one equi-join back on gram, one groupBy
    * doc_id. No all-pairs anything. */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val g = documents(spark, dir)
      .withColumn("tk", tokens)
      .filter(size(col("tk")) >= 8)
      .select(col("doc_id"), explode(expr(
        s"""array_distinct(transform(sequence(1, size(tk) - 7),
           |  i -> ${h60("array_join(slice(tk, i, 8), ' ')")}))"""
          .stripMargin)).as("gh"))
    val fm = g.groupBy(col("gh")).agg(min(col("doc_id")).as("first_doc"))
    g.join(fm, Seq("gh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("first_doc") === col("doc_id"), lit(1)))
          .as("n_novel"))
      .withColumn("nov_e4", expr("10000 * n_novel div n_grams"))
      .orderBy(col("doc_id"))
  }

  /** Sequence packing: greedy contiguous fill of per-language
    * token budget bins (1024 tokens) — the sample-packing step that turns
    * a curated corpus into fixed-size training batches. Bin assignment is
    * the EXCLUSIVE running token sum div the budget, so each worker can
    * pack its own language shard independently: one window shuffle on
    * the low-cardinality lang key, no global order. Docs longer than a
    * budget straddle bins by design (pack-then-split). */
  def seqPack(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("doc_id"))
    documents(spark, dir)
      .withColumn("n_tok", size(tokens))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("bin", expr("(cum - n_tok) div 1024"))
      .groupBy(col("lang"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("bin_tok"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy(col("lang"), col("bin"))
  }

  /** Context-length packing sweep: the seqPack bin
    * assignment evaluated at THREE context budgets {512, 1024, 2048}
    * in one pass — per budget, bins needed and fill utilization ×10⁴.
    * This is the capacity-planning curve behind the context-length
    * decision (a longer context packs fewer, fuller bins; the sweep
    * quantifies the padding loss at each choice). The running token
    * sum is computed ONCE (it doesn't depend on the budget); each
    * budget is a map-side `div` on the shared cum — the 3-way sweep
    * costs one extra broadcast, not three window passes.
    *
    * Shape: one per-lang window (seqPack's shuffle), 3-row broadcast
    * budget frame, two shrinking-key rollups. */
  def packSweep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("doc_id"))
    val base = documents(spark, dir)
      .withColumn("n_tok", size(tokens).cast("long"))
      .withColumn("cum", sum(col("n_tok")).over(w))
    val ctx = Seq(512L, 1024L, 2048L).toDF("context")
    base.crossJoin(broadcast(ctx))
      .withColumn("bin", expr("(cum - n_tok) div context"))
      .groupBy(col("context"), col("lang"))
      .agg((max(col("bin")) + 1L).as("bins"),
        sum(col("n_tok")).as("tok"))
      .groupBy(col("context"))
      .agg(sum(col("bins")).as("n_bins"), sum(col("tok")).as("total_tok"))
      .select(col("context"), col("n_bins"), col("total_tok"),
        expr("total_tok * 10000 div (n_bins * context)").as("util_e4"))
      .orderBy(col("context"))
  }

  /** Domain-mixture resampling: downsample every language to
    * the smallest language's document count via a DETERMINISTIC content
    * hash threshold — the mixture-rebalancing step before training. The
    * keep decision is integer cross-multiplication (h*n_docs <
    * min_n*1e6): no floating point, bit-identical across engines, and
    * embarrassingly parallel — per-lang counts are a tiny broadcast, the
    * corpus side is a map-only filter (no shuffle of the data itself). */
  def domainMix(spark: SparkSession, dir: String): DataFrame = {
    val d = documents(spark, dir)
      .withColumn("n_tok", size(tokens))
      .withColumn("h",
        expr(s"${h60("CAST(doc_id AS STRING)")} % 1000000"))
    val counts = d.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val minN = counts.agg(min(col("n_docs")).as("min_n"))
    d.join(broadcast(counts), "lang").crossJoin(broadcast(minN))
      .withColumn("keep",
        col("h") * col("n_docs") < col("min_n") * lit(1000000L))
      .groupBy(col("lang"))
      .agg(max(col("n_docs")).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("n_tok").cast("long"))
          .otherwise(0L)).as("kept_tok"))
      .orderBy(col("lang"))
  }

  /** Bigram-LM perplexity scoring (CCNet-style): train add-one-
    * smoothed bigram counts on the corpus itself, score each doc by mean
    * negative log-likelihood — the fluency filter between heuristic
    * quality scores and a real LM. Bigrams travel as single
    * space-joined strings (tokens are whitespace-split, so ' ' is a safe
    * separator) → both count joins are string equi-joins. At 100 TB the
    * count tables get a df-cap / top-V vocabulary (same pattern as the
    * shingle stop-set) and the joins stay shuffle equi-joins; here the
    * full vocab fits. */
  def perplexity(spark: SparkSession, dir: String): DataFrame = {
    val toks = documents(spark, dir)
      .withColumn("tk", tokens)
    val uni = toks
      .select(explode(col("tk")).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    val bi = toks
      .select(col("doc_id"), explode(expr(
        """CASE WHEN size(tk) >= 2
          |THEN transform(sequence(1, size(tk) - 1),
          |               i -> concat_ws(' ', tk[i-1], tk[i]))
          |ELSE CAST(array() AS array<string>) END""".stripMargin)).as("bg"))
      .withColumn("w1", split(col("bg"), " ").getItem(0))
    val c2 = bi.groupBy(col("bg")).agg(count(lit(1)).as("c2"))
    bi.join(c2, "bg").join(uni, "w1").crossJoin(broadcast(vocab))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bi"),
        r4(-avg(log((col("c2") + lit(1.0)) / (col("c1") + col("v")))))
          .as("nll"))
      .orderBy(col("doc_id"))
  }

  /** CCNet-style perplexity bucketing: ntile(3) each language's
    * docs by bigram-LM NLL into head/middle/tail — the quality gate
    * CCNet applies before training (keep head, drop or re-weight tail).
    * Composes [[perplexity]]'s score unchanged; the tertile is
    * deterministic because the ntile order totals on (nll, doc_id).
    *
    * Scale shape: perplexity's two groupBys + joins, then ONE ntile
    * window partitioned by lang ordered by the score. A per-lang global
    * sort at 100 TB is the one wide operation — CCNet's production form
    * replaces exact ntile with histogram quantile cuts (approx
    * percentile thresholds broadcast back, map-only bucket assign);
    * the enrolled row keeps exact tertiles so the oracle is exact. */
  def pplBuckets(spark: SparkSession, dir: String): DataFrame = {
    val nll = perplexity(spark, dir)
    val d = documents(spark, dir).select(col("doc_id"), col("lang"))
    nll.join(d, Seq("doc_id"))
      .withColumn("bucket", ntile(3).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang")).orderBy(col("nll"), col("doc_id"))))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("nll")).as("nll_min"), max(col("nll")).as("nll_max"))
      .orderBy(col("lang"), col("bucket"))
  }

  /** Character-level Shannon entropy: per doc,
    * H = −Σ_c (n_c/N)·log₂(n_c/N) — the cheapest gibberish/boilerplate
    * detector (random bytes score high, repeated padding scores low);
    * the quality-score family's information-theoretic member. Each
    * char's term rounds ONCE to integer micro-units and the doc sums
    * integers (dsirWeights' rule: float Σ over a variable term set
    * would be aggregation-order-dependent).
    *
    * Scale shape: char fan-out is map-side (regexp_extract_all — '.'
    * excludes newlines identically in both engines), then two
    * partial-aggregable groupBys ((doc, char) → doc). Alphabet-bounded
    * per-doc state. */
  def charEntropy(spark: SparkSession, dir: String): DataFrame = {
    val cc = documents(spark, dir)
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(text, '.', 0)")).as("c"))
      .groupBy(col("doc_id"), col("c")).agg(count(lit(1)).as("n_c"))
    val tot = cc.groupBy(col("doc_id")).agg(sum(col("n_c")).as("n"))
    cc.join(tot, Seq("doc_id"))
      .withColumn("t_e6", expr(
        """CAST(floor(-(CAST(n_c AS DOUBLE) / n)
          |  * log2(CAST(n_c AS DOUBLE) / n) * 1000000 + 0.5) AS BIGINT)"""
          .stripMargin))
      .groupBy(col("doc_id"))
      .agg(first(col("n")).as("n_ch"),
        count(lit(1)).as("n_distinct"),
        sum(col("t_e6")).as("h_e6"))
      .orderBy(col("doc_id"))
  }

  /** Context-window chunking: split each doc into 32-token
    * chunks at stride 24 (8-token overlap) — the chunking step for
    * context-window packing and RAG indexing. Emits the chunk's start
    * offset, token count and 60-bit content hash (not the text — at
    * 100 TB the chunk table is written hash-first and text joins back
    * lazily). Pure generator fan-out: no shuffle before the sort. */
  def chunkSplit(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .withColumn("tk", tokens)
      .select(col("doc_id"),
        explode(expr("sequence(1, greatest(size(tk), 1), 24)")).as("start"),
        col("tk"))
      .withColumn("ch", expr("concat_ws(' ', slice(tk, start, 32))"))
      .select(col("doc_id"), col("start").cast("int").as("start"),
        expr("CAST(size(split(ch, ' ')) AS INT)").as("n_ctok"),
        expr(h60("ch")).as("chunk_h"))
      .orderBy(col("doc_id"), col("start"))

  /** Product quantization: compress 64-dim float embeddings to
    * 8 one-byte codes — 8 subspaces × 8 dims, each subvector assigned to
    * its nearest of 8 sampled centroids (vec_id < 8, the same
    * deterministic sampling as ivfAnn's coarse quantizer). Emits the
    * per-subspace code and r4-rounded squared residual — the memory-
    * bound ANN path at 100 TB (32× compression; distance tables replace
    * full-vector reads). Centroid side is 64 tiny rows → broadcast; the
    * corpus side explodes to 8 subvector rows per doc, argmin is one
    * partial-aggregable min(struct(dist, cid)). Distances fold
    * left-to-right in doubles, so DuckDB's list_sum reproduces them
    * bit-for-bit. */
  /** Explode a 64-dim embedding into its 8 double-cast 8-dim subvectors
    * (one row per (id, sub)) — shared by pqQuantize and ivfPq. */
  private def pqSubs(df: DataFrame, idCol: String): DataFrame = df
    .select(col(idCol), explode(expr(
      """transform(sequence(0, 7), s -> struct(s AS sub,
        |  transform(slice(embedding, s * 8 + 1, 8),
        |            x -> CAST(x AS DOUBLE)) AS v))""".stripMargin)).as("e"))
    .select(col(idCol), col("e.sub").as("sub"), col("e.v").as("v"))

  def pqQuantize(spark: SparkSession, dir: String): DataFrame = {
    val subs = pqSubs(_, _)
    val cents = subs(embeddings(spark, dir).filter(col("vec_id") < 8), "vec_id")
      .withColumnRenamed("vec_id", "cid").withColumnRenamed("v", "cv")
    subs(embeddings(spark, dir), "vec_id")
      .join(broadcast(cents), Seq("sub"))
      .withColumn("dist", expr(
        "aggregate(zip_with(v, cv, (a, b) -> (a - b) * (a - b)), 0D, (acc, x) -> acc + x)"))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(struct(col("dist"), col("cid"))).as("m"))
      .select(col("vec_id"), col("sub"),
        col("m.cid").as("code"), r4(col("m.dist")).as("resid"))
      .orderBy(col("vec_id"), col("sub"))
  }

  /** Heavy-hitter tokens via the Misra-Gries sketch: per-lang
    * frequent-token detection with `FreqSketch.agg(tok, 64)` — O(k) state
    * per group instead of an exact full-token shuffle. The sketch's
    * counter content is input-order-dependent, so the enrolled output is
    * order-INVARIANT: the guaranteed-membership row set (true freq >
    * n/(k+1), integer cross-multiply) with verdict columns checking the
    * MG contract (reported; estimate within n/(k+1) undercount; never
    * an overcount). The exact count join-back here plays the oracle's
    * role — at 100 TB it would run only on the tiny reported set. */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val toks = langTokens(spark, dir)
    val cnts = toks.groupBy(col("lang"), col("tok"))
      .agg(count(lit(1)).as("true_cnt"))
    val totals = cnts.groupBy(col("lang")).agg(sum(col("true_cnt")).as("n"))
    val est = toks.groupBy(col("lang"))
      .agg(FreqSketch.agg(col("tok"), 64).as("mg"))
      .select(col("lang"), explode(col("mg")).as(Seq("tok", "est")))
    cnts.join(broadcast(totals), "lang")
      .filter(col("true_cnt") * 65 > col("n"))
      .join(est, Seq("lang", "tok"), "left")
      .select(col("lang"), col("tok"), col("true_cnt"),
        col("est").isNotNull.as("reported"),
        (col("est").isNotNull &&
          (col("true_cnt") - col("est")) * 65 <= col("n") &&
          col("est") <= col("true_cnt")).as("within_err"))
      .orderBy(col("lang"), col("tok"))
  }

  /** HTML boilerplate stripping: tag removal + entity decode +
    * whitespace collapse over documents wrapped in a deterministic HTML
    * shell — the extraction step between a raw web crawl and every
    * other operator here. Chained codegen `regexp_replace` (the
    * piiScrub pattern), no UDF. The oracle reconstructs the expected
    * clean text from the ORIGINAL column (ground truth), so it verifies
    * the strip actually recovers the payload rather than mirroring the
    * regexes. */
  /** The strip chain itself, reusable and unit-testable. Entity order
    * matters: the generic entity strip runs BEFORE &amp; decode (with a
    * lookahead guarding &amp; itself), so "&amp;lt;" in source text
    * decodes once to literal "&lt;" instead of being double-decoded and
    * then stripped as a real entity. */
  private[graft] def stripHtml(
      c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    trim(regexp_replace(regexp_replace(
      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        c, "<[^>]*>", " "),
        "&nbsp;", " "), "&#33;", "!"), "&(?!amp;)[a-z]+;", " "),
        "&amp;", "&"),
      "\\s+", " "))

  def htmlStrip(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .withColumn("html", concat(
        lit("<html><body class=\"doc\"><h1>"), col("source"),
        lit("</h1>\n<p>"), col("text"),
        lit("</p><br/>&amp;&nbsp;tail&#33;</body></html>")))
      .withColumn("stripped", stripHtml(col("html")))
      .select(col("doc_id"), length(col("html")).as("n_html"),
        length(col("stripped")).as("n_clean"),
        expr(h60("stripped")).as("clean_h"))
      .orderBy(col("doc_id"))

  /** Incremental-ingest dedup: a NEW batch (doc_id >= 400
    * stands in) admitted only if its content hash is absent from the
    * existing corpus — the anti-join every continuously-ingesting
    * training pipeline runs per batch. Hash-first: both sides shuffle
    * 32-byte sha256 digests, never text; at 100 TB the corpus side is a
    * bucketed/Z-ordered hash table so the anti-join is co-located, and
    * the batch side (small) broadcasts. Also reports each admitted
    * doc's within-batch dup count (batches dedup internally first). */
  def incrDedup(spark: SparkSession, dir: String): DataFrame = {
    val hashed = documents(spark, dir)
      .withColumn("h", contentDigest)
    val corpus = hashed.filter(col("doc_id") < 400).select(col("h"))
    hashed.filter(col("doc_id") >= 400)
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("batch_dups"))
      .join(corpus, Seq("h"), "left_anti")
      .select(col("doc_id"), col("batch_dups"))
      .orderBy(col("doc_id"))
  }

  /** Span-level dedup: C4-style sub-document deduplication.
    * Documents are cut into fixed 20-token spans; only the globally
    * FIRST occurrence of each span survives (ordered by doc_id, then
    * span start), and each document is reassembled from its surviving
    * spans — boilerplate repeated across documents disappears from every
    * copy but the first, without dropping whole documents the way
    * doc-level dedup does.
    *
    * Scale: the only shuffle keys on the 60-bit md5 span hash (8-byte
    * keys, never span text, same trick as decontaminate); first-
    * occurrence choice is one row_number window over that hash — a
    * single shuffle, no self-join. Reassembly is a per-doc sorted
    * collect (bounded by document length). Output carries a 60-bit hash
    * of the cleaned text, not the text itself. */
  def spanDedup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spans = documents(spark, dir)
      .withColumn("tk", tokens)
      .select(col("doc_id"),
        explode(expr("sequence(1, greatest(size(tk), 1), 20)")).as("start"),
        col("tk"))
      .withColumn("ch", expr("concat_ws(' ', slice(tk, start, 20))"))
      .withColumn("ch_h", expr(h60("ch")))
    val w = Window.partitionBy(col("ch_h"))
      .orderBy(col("doc_id"), col("start"))
    spans.withColumn("rn", row_number().over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        concat_ws(" ", expr(
          """transform(array_sort(
            |  collect_list(CASE WHEN rn = 1 THEN struct(start, ch) END)),
            |  x -> x.ch)""".stripMargin)).as("clean"))
      .select(col("doc_id"), col("n_spans"), col("n_kept"),
        expr(h60("clean")).as("clean_h"))
      .orderBy(col("doc_id"))
  }

  /** Blocked fuzzy entity-resolution join: near-identical
    * part names within an edit distance of 3. The realistic ER shape at
    * scale: collapse EXACT duplicates first (the name vocabulary is
    * orders of magnitude smaller than the row count), then fuzzy-match
    * only the distinct entities, pair generation bounded by a blocking
    * key (first name token) with an explicit block-size cap — the same
    * df-cap discipline as the shingle vocabulary. Levenshtein runs on
    * candidate pairs only, never all-pairs. */
  def fuzzyJoin(spark: SparkSession, dir: String): DataFrame = {
    val names = part(spark, dir)
      .groupBy(col("p_name"))
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("blk", split(col("p_name"), " ").getItem(0))
    // block-size cap: a block larger than 64 distinct entities would
    // blow up pair generation quadratically — drop it (bounded skew)
    val smallBlocks = names.groupBy(col("blk"))
      .agg(count(lit(1)).as("bn")).filter(col("bn") <= 64).drop("bn")
    val b = names.join(broadcast(smallBlocks), Seq("blk"))
    val a = b.select(col("blk"), col("p_name").as("a_name"),
      col("n_rows").as("a_rows"))
    val c = b.select(col("blk"), col("p_name").as("b_name"),
      col("n_rows").as("b_rows"))
    a.join(c, Seq("blk"))
      .filter(col("a_name") < col("b_name"))
      .withColumn("dist", levenshtein(col("a_name"), col("b_name")))
      .filter(col("dist") <= 3)
      .select(col("a_name"), col("b_name"), col("dist"),
        (col("a_rows") + col("b_rows")).as("pair_rows"))
      .orderBy(col("a_name"), col("b_name"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_llm_bloom_fpr" -> bloomFprSweep,
    "q_llm_lsh_bucket_skew" -> lshBucketSkew,
    "q_llm_idf_variants" -> idfVariants,
    "q_llm_token_f1" -> tokenF1,
    "q_llm_mix_temperature" -> mixTemperature,
    "q_llm_simhash_sweep" -> simhashSweep,
    "q_llm_ann_filtered" -> annFiltered,
    "q_llm_winnow_fp" -> winnowFp,
    "q_llm_bigram_lm" -> bigramLm,
    "q_llm_ngram_novelty" -> ngramNovelty,
    "q_llm_ppl_buckets" -> pplBuckets,
    "q_llm_char_entropy" -> charEntropy,
    "q_llm_countmin" -> countMin,
    "q_llm_zipf_fit" -> zipfFit,
    "q_llm_exact_dedup" -> exactDedup,
    "q_llm_shingle_jaccard" -> shingleJaccard,
    "q_llm_minhash_lsh" -> minhashLsh,
    "q_llm_dedup_modality_agreement" -> dedupModalityAgreement,
    "q_llm_containment" -> containment,
    "q_llm_edit_neardup" -> editNeardup,
    "q_llm_oov_rate" -> oovRate,
    "q_llm_sqrt_mix" -> sqrtMix,
    "q_llm_dup_clusters" -> dupClusters,
    "q_llm_dup_cluster_sizes" -> dupClusterSizes,
    "q_llm_dedup_survivorship" -> dedupSurvivorship,
    "q_llm_cluster_inflation" -> clusterInflation,
    "q_llm_prf_expand" -> prfExpand,
    "q_llm_prefix_cache" -> prefixCache,
    "q_llm_label_noise" -> labelNoise,
    "q_llm_chunk_boundary_loss" -> chunkBoundaryLoss,
    "q_llm_soft_dedup" -> softDedup,
    "q_llm_neardup_sources" -> neardupSourceMatrix,
    "q_llm_simhash" -> simhash,
    "q_llm_cosine_topk" -> cosineTopk,
    "q_llm_knn_label" -> knnLabel,
    "q_llm_triplet_mine" -> tripletMine,
    "q_llm_mmr_rerank" -> mmrRerank,
    "q_llm_dsir_weights" -> dsirWeights,
    "q_llm_embed_neardup" -> embedNeardup,
    "q_llm_lsh_ann" -> lshAnn,
    "q_llm_lsh_ann_multi" -> ((s, d) => lshAnnMulti(s, d)),
    "q_llm_ann_recall" -> annRecall,
    "q_llm_dedup_cascade" -> dedupCascade,
    "q_llm_lsh_recall" -> lshRecall,
    "q_llm_band_sweep" -> bandSweep,
    "q_llm_ivf_ann" -> ((s, d) => ivfAnn(s, d, nprobe = 1)),
    "q_llm_ivf_ann_probe2" -> ((s, d) => ivfAnn(s, d, nprobe = 2)),
    "q_llm_ivf_ann_probe4" -> ((s, d) => ivfAnn(s, d, nprobe = 4)),
    "q_llm_ann_cost" -> annCost,
    "q_llm_ivf_pq" -> ivfPq,
    "q_llm_ivf_pq_rerank" -> ((s, d) => ivfPqRerank(s, d)),
    "q_llm_pii_scrub" -> piiScrub,
    "q_llm_text_stats" -> textStats,
    "q_llm_tfidf_top_terms" -> tfidfTopTerms,
    "q_llm_tfidf_cosine" -> tfidfCosine,
    "q_llm_rare_shingle_pairs" -> rareShinglePairs,
    "q_llm_hash_featurize" -> hashFeaturize,
    "q_llm_ivf_imbalance" -> ivfImbalance,
    "q_llm_ranker_tau" -> rankerTau,
    "q_llm_dedup_tau_sweep" -> dedupThresholdSweep,
    "q_llm_dedup_jhist" -> dedupJHist,
    "q_llm_maxsim" -> maxsimLate,
    "q_llm_active_diverse" -> activeDiverse,
    "q_llm_submodular_select" -> submodularSelect,
    "q_llm_dedup_quality_interaction" -> dedupQualityInteraction,
    "q_llm_bm25" -> bm25TopDocs,
    "q_llm_ql_dirichlet" -> qlDirichlet,
    "q_llm_term_position" -> termPosition,
    "q_llm_snippet_extract" -> snippetExtract,
    "q_llm_doc_cohesion" -> docCohesion,
    "q_llm_dedup_savings" -> dedupSavings,
    "q_llm_jl_distortion" -> jlDistortion,
    "q_llm_bm25_sweep" -> bm25Sweep,
    "q_llm_greedy_decode" -> greedyDecode,
    "q_llm_beam_decode" -> beamDecode,
    "q_llm_cms_width_sweep" -> cmsWidthSweep,
    "q_llm_hybrid_rrf" -> hybridRrf,
    "q_llm_retrieve_rerank" -> retrieveRerank,
    "q_llm_wand_prune" -> wandPrune,
    "q_llm_rrf_sweep" -> rrfSweep,
    "q_llm_rank_fusion_borda" -> bordaFusion,
    "q_llm_lang_id" -> langId,
    "q_llm_quality_score" -> qualityScore,
    "q_llm_token_count" -> tokenCount,
    "q_llm_fingerprint" -> fingerprint,
    "q_llm_decontaminate" -> decontaminate,
    "q_llm_decontaminate_fuzzy" -> decontaminateFuzzy,
    "q_llm_repetition" -> repetitionRatio,
    "q_llm_curation" -> curationPipeline,
    "q_llm_dataset_card" -> datasetCard,
    "q_llm_seq_pack" -> seqPack,
    "q_llm_pack_sweep" -> packSweep,
    "q_llm_domain_mix" -> domainMix,
    "q_llm_perplexity" -> perplexity,
    "q_llm_chunk_split" -> chunkSplit,
    "q_llm_pq_quantize" -> pqQuantize,
    "q_llm_heavy_hitters" -> heavyHitters,
    "q_llm_html_strip" -> htmlStrip,
    "q_llm_incr_dedup" -> incrDedup,
    "q_llm_span_dedup" -> spanDedup,
    "q_llm_fuzzy_join" -> fuzzyJoin,
  )

  // sh = df-capped shingle vocabulary, mirroring shingles() exactly
  private val shingleCte =
    """toks AS (SELECT doc_id, lang, string_split(text, ' ') AS tk
      |  FROM documents),
      |sh0 AS (SELECT doc_id, unnest(list_distinct(
      |    [array_to_string(tk[i:i+4], ' ')
      |     for i in range(1, greatest(len(tk) - 3, 1))])) AS s
      |  FROM toks),
      |sh AS (SELECT doc_id, s FROM sh0
      |  WHERE s IN (SELECT s FROM sh0 GROUP BY s HAVING count(*) <= 50))""".stripMargin

  private val cosCte =
    """emb AS (SELECT vec_id, label, embedding::DOUBLE[] AS v,
      |  sqrt(list_inner_product(embedding::DOUBLE[],
      |                          embedding::DOUBLE[])) AS nrm
      |  FROM embeddings)""".stripMargin

  /** One oracle for every enrolled [[ivfAnn]] nprobe config — the
    * nprobe=1 case degenerates to "search your own list", so a single
    * parameterized probes CTE covers all rows. */
  private def ivfAnnOracle(nprobe: Int): String =
    s"""WITH $cosCte,
       |cents AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn
       |  FROM emb WHERE vec_id < 16),
       |asg AS (SELECT e.vec_id, e.v, e.nrm, c.c_id,
       |  row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY round(list_inner_product(e.v, c.cv)
       |      / (e.nrm * c.cn), 6) DESC, c.c_id) AS arn
       |  FROM emb e CROSS JOIN cents c),
       |bucketed AS (SELECT vec_id, v, nrm, c_id AS bucket
       |  FROM asg WHERE arn = 1),
       |probes AS (SELECT vec_id, v, nrm, c_id AS p_bucket
       |  FROM asg WHERE arn <= $nprobe AND vec_id < 20),
       |scored AS (SELECT p.vec_id AS probe_id, c.vec_id,
       |  round(list_inner_product(p.v, c.v) / (p.nrm * c.nrm), 6) AS cos
       |  FROM probes p JOIN bucketed c ON p.p_bucket = c.bucket
       |   AND c.vec_id <> p.vec_id)
       |SELECT probe_id, rank, vec_id, cos FROM (
       |  SELECT probe_id, vec_id, cos,
       |    CAST(row_number() OVER (PARTITION BY probe_id
       |      ORDER BY cos DESC, vec_id) AS INTEGER) AS rank
       |  FROM scored) t WHERE rank <= 3
       |ORDER BY probe_id, rank""".stripMargin

  // Signature/candidate CTE chain shared by q_llm_minhash_lsh,
  // q_llm_dup_clusters (edge source) and q_llm_minhash_est.
  // shingle → hashed → 16 minhash values per doc (long form: doc_id, j,
  // m) — the banding-agnostic prefix shared by the 8×2 production
  // banding and the band-sweep's re-banded variants
  /** hs/perms/mh CTE chain over a given shingle source CTE name —
    * parameterized so [[bandSweepOracle]] can run it over the SAMPLED
    * shingle frame while everything else keeps the full `sh`. */
  private[operators] def mhCteFrom(src: String): String =
    s"""hs AS (SELECT doc_id, s,
       |  CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT)
       |    % 1000000007 AS h FROM $src),
       |perms(j, a, b) AS (VALUES (0,7,3),(1,11,5),(2,13,17),(3,19,23),
       |  (4,29,31),(5,37,41),(6,43,47),(7,53,59),(8,61,67),(9,71,73),
       |  (10,79,83),(11,89,97),(12,101,103),(13,107,109),(14,113,127),
       |  (15,131,137)),
       |mh AS (SELECT doc_id, j, min((a * h + b) % 1000000007) AS m
       |  FROM hs CROSS JOIN perms GROUP BY doc_id, j)""".stripMargin

  private[operators] val minhashMhCte =
    s"""$shingleCte,
       |${mhCteFrom("sh")}""".stripMargin

  private[operators] val minhashCandCte =
    s"""$minhashMhCte,
       |bands AS (SELECT doc_id, j // 2 AS band,
       |  string_agg(j || ':' || m, ',' ORDER BY j) AS sig
       |  FROM mh GROUP BY doc_id, j // 2),
       |cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
       |  FROM bands x JOIN bands y ON x.band = y.band AND x.sig = y.sig
       |   AND x.doc_id < y.doc_id)""".stripMargin

  /** Recursive-CTE reachability clustering over the LSH pair graph —
    * shared by q_llm_dup_clusters and its size-distribution rollup. */
  private lazy val dupClustersSql =
    s"""WITH RECURSIVE
       |pairs AS (SELECT a_id, b_id FROM ($minhashPairsSql)),
       |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
       |  UNION SELECT b_id, a_id FROM pairs),
       |reach(a, b) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src)
       |SELECT a AS doc_id, least(a, min(b)) AS cluster_id
       |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin

  private[operators] val minhashPairsSql =
    s"""WITH $minhashCandCte,
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT a_id, b_id,
       | floor((1.0 * i / (na.n + nb.n - i)) * 10000.0 + 0.5) / 10000.0 AS jaccard
       |FROM cand
       |JOIN inter ON a_id = ia AND b_id = ib
       |JOIN sizes na ON a_id = na.doc_id
       |JOIN sizes nb ON b_id = nb.doc_id
       |WHERE 1.0 * i / (na.n + nb.n - i) >= 0.8
       |ORDER BY a_id, b_id""".stripMargin

  /** Shared CTE chain of the two PQ rows: coarse buckets, per-subspace
    * codebook + codes, probe ADC tables, and `r` = every in-list
    * candidate with its 8-lookup ADC distance. */
  private def ivfPqAdcCtes: String =
    s"""$cosCte,
       |cents AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn
       |  FROM emb WHERE vec_id < 16),
       |asg AS (SELECT e.vec_id, c.c_id,
       |  row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY round(list_inner_product(e.v, c.cv)
       |      / (e.nrm * c.cn), 6) DESC, c.c_id) AS arn
       |  FROM emb e CROSS JOIN cents c),
       |buckets AS (SELECT vec_id, c_id AS bucket FROM asg WHERE arn = 1),
       |s AS (SELECT unnest(range(0, 8)) AS sub),
       |p AS (SELECT vec_id, CAST(s.sub AS INTEGER) AS sub,
       |   [embedding[i]::DOUBLE
       |    for i in range(s.sub * 8 + 1, s.sub * 8 + 9)] AS v
       |  FROM embeddings, s),
       |cb AS (SELECT vec_id AS cid, sub, v AS cv FROM p WHERE vec_id < 8),
       |d AS (SELECT p.vec_id, p.sub, c.cid,
       |   row_number() OVER (PARTITION BY p.vec_id, p.sub
       |     ORDER BY list_sum([(p.v[i] - c.cv[i]) * (p.v[i] - c.cv[i])
       |               for i in range(1, 9)]), c.cid) AS rn
       |  FROM p JOIN cb c ON p.sub = c.sub),
       |codes AS (SELECT vec_id, sub, cid AS code FROM d WHERE rn = 1),
       |ptab AS (SELECT p.vec_id AS probe_id, p.sub, c.cid,
       |   list_sum([(p.v[i] - c.cv[i]) * (p.v[i] - c.cv[i])
       |             for i in range(1, 9)]) AS pdist
       |  FROM p JOIN cb c ON p.sub = c.sub WHERE p.vec_id < 20),
       |tm AS (SELECT pb.vec_id AS probe_id, cd.vec_id AS cand_id,
       |   cd.sub, pt.pdist
       |  FROM buckets pb
       |  JOIN buckets cand ON cand.bucket = pb.bucket
       |   AND cand.vec_id <> pb.vec_id
       |  JOIN codes cd ON cd.vec_id = cand.vec_id
       |  JOIN ptab pt ON pt.probe_id = pb.vec_id AND pt.sub = cd.sub
       |   AND pt.cid = cd.code
       |  WHERE pb.vec_id < 20),
       |pv AS (SELECT probe_id, cand_id,
       |   sum(pdist) FILTER (WHERE sub = 0) AS t0,
       |   sum(pdist) FILTER (WHERE sub = 1) AS t1,
       |   sum(pdist) FILTER (WHERE sub = 2) AS t2,
       |   sum(pdist) FILTER (WHERE sub = 3) AS t3,
       |   sum(pdist) FILTER (WHERE sub = 4) AS t4,
       |   sum(pdist) FILTER (WHERE sub = 5) AS t5,
       |   sum(pdist) FILTER (WHERE sub = 6) AS t6,
       |   sum(pdist) FILTER (WHERE sub = 7) AS t7
       |  FROM tm GROUP BY probe_id, cand_id),
       |r AS (SELECT probe_id, cand_id AS vec_id,
       |   round(t0 + t1 + t2 + t3 + t4 + t5 + t6 + t7, 6) AS adc
       |  FROM pv)""".stripMargin

  private val oracleBase: Map[String, String] = Map(
    "q_llm_winnow_fp" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |g AS (SELECT doc_id, unnest([{'pos': i,
        |   'gh': CAST(concat('0x', substr(md5(
        |      array_to_string(tk[i:i+2], ' ')), 1, 15)) AS BIGINT)
        |      % 1000000007}
        |   for i in range(1, len(tk) - 1)]) AS s
        |  FROM toks),
        |wmin AS (SELECT doc_id,
        |   min(s.gh) OVER (PARTITION BY doc_id ORDER BY s.pos
        |     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
        |   count(*) OVER (PARTITION BY doc_id) AS n_grams
        |  FROM g),
        |sel AS (SELECT DISTINCT doc_id, n_grams, fp FROM wmin)
        |SELECT doc_id, any_value(n_grams) AS n_grams,
        | count(*) AS n_fp,
        | CAST(sum(fp) % 1000000007 AS BIGINT) AS fp_sum
        |FROM sel GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_llm_bigram_lm" ->
      """WITH toks AS (SELECT string_split(text, ' ') AS tk
        |  FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |bg AS (SELECT unnest([{'w1': tk[i], 'w2': tk[i+1]}
        |   for i in range(1, len(tk))]) AS s FROM toks),
        |b2 AS (SELECT s.w1 AS w1, s.w2 AS w2 FROM bg),
        |c2 AS (SELECT w1, w2, count(*) AS c2 FROM b2 GROUP BY w1, w2),
        |c1 AS (SELECT w1, count(*) AS c1 FROM b2 GROUP BY w1),
        |v AS (SELECT count(DISTINCT w) AS v FROM
        |  (SELECT w1 AS w FROM b2 UNION ALL SELECT w2 FROM b2))
        |SELECT w1, w2, c2, c2 + 1 AS p_num, c1 + v AS p_den
        |FROM c2 JOIN c1 USING (w1) CROSS JOIN v
        |ORDER BY c2 DESC, w1, w2 LIMIT 50""".stripMargin,
    "q_llm_ngram_novelty" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk
        |  FROM documents WHERE len(string_split(text, ' ')) >= 8),
        |g AS (SELECT DISTINCT doc_id, unnest(
        |   [CAST(concat('0x', substr(md5(
        |       array_to_string(tk[i:i+7], ' ')), 1, 15)) AS BIGINT)
        |    for i in range(1, len(tk) - 6)]) AS gh
        |  FROM toks),
        |fm AS (SELECT gh, min(doc_id) AS first_doc FROM g GROUP BY gh)
        |SELECT g.doc_id, count(*) AS n_grams,
        | count(*) FILTER (fm.first_doc = g.doc_id) AS n_novel,
        | (10000 * count(*) FILTER (fm.first_doc = g.doc_id))
        |   // count(*) AS nov_e4
        |FROM g JOIN fm ON g.gh = fm.gh
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,
    "q_llm_exact_dedup" ->
      """SELECT sha256(lower(trim(text))) AS text_hash,
        | min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents GROUP BY 1 ORDER BY text_hash""".stripMargin,
    "q_llm_zipf_fit" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |vc AS (SELECT w, count(*) AS c FROM toks GROUP BY w),
        |rk AS (SELECT w, c,
        |   row_number() OVER (ORDER BY c DESC, w) AS r FROM vc),
        |pts AS (SELECT
        |   CAST(floor(ln(r) * 1000 + 0.5) AS BIGINT) AS x,
        |   CAST(floor(ln(c) * 1000 + 0.5) AS BIGINT) AS y
        |  FROM rk WHERE r <= 1000),
        |m AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
        |   CAST(sum(y) AS BIGINT) AS sy,
        |   CAST(sum(x * y) AS BIGINT) AS sxy,
        |   CAST(sum(x * x) AS BIGINT) AS sxx FROM pts)
        |SELECT n, sy,
        | CAST((n * sxy - sx * sy)
        |   // greatest((n * sxx - sx * sx) // 1000000, 1) AS BIGINT)
        |   AS alpha_e6
        |FROM m""".stripMargin,
    "q_llm_countmin" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |tru AS (SELECT w, count(*) AS c_true FROM toks GROUP BY w),
        |h AS (SELECT w, d,
        |   CAST(concat('0x', substr(md5(
        |     concat(CAST(d AS VARCHAR), ':', w)), 1, 15)) AS BIGINT)
        |     % 16 AS bucket
        |  FROM toks, range(0, 4) r(d)),
        |cms AS (SELECT d, bucket, count(*) AS c FROM h
        |  GROUP BY d, bucket),
        |est AS (SELECT t.w, min(cms.c) AS c_est
        |  FROM tru t, range(0, 4) r(d)
        |  JOIN cms ON cms.d = r.d
        |   AND cms.bucket = CAST(concat('0x', substr(md5(
        |     concat(CAST(r.d AS VARCHAR), ':', t.w)), 1, 15)) AS BIGINT)
        |     % 16
        |  GROUP BY t.w)
        |SELECT t.w, t.c_true, e.c_est, e.c_est - t.c_true AS overcount
        |FROM tru t JOIN est e ON t.w = e.w
        |ORDER BY t.c_true DESC, t.w""".stripMargin,
    // Composes the q_llm_perplexity score verbatim, then tertiles it
    "q_llm_ppl_buckets" ->
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS tk
        |  FROM documents),
        |uni AS (SELECT w1, count(*) AS c1 FROM
        |  (SELECT unnest(tk) AS w1 FROM t) GROUP BY w1),
        |v AS (SELECT count(*) AS v FROM uni),
        |bi AS (SELECT doc_id, unnest(
        |   [tk[i] || ' ' || tk[i+1]
        |    for i in range(1, greatest(len(tk), 1))]) AS bg FROM t),
        |bw AS (SELECT doc_id, bg, split_part(bg, ' ', 1) AS w1 FROM bi),
        |c2 AS (SELECT bg, count(*) AS c2 FROM bw GROUP BY bg),
        |nll AS (SELECT bw.doc_id, count(*) AS n_bi,
        |  floor(-avg(ln((c2.c2 + 1.0) / (uni.c1 + v.v)))
        |    * 10000.0 + 0.5) / 10000.0 AS nll
        | FROM bw JOIN c2 ON bw.bg = c2.bg
        |  JOIN uni ON bw.w1 = uni.w1 CROSS JOIN v
        | GROUP BY bw.doc_id),
        |b AS (SELECT d.lang, n.doc_id, n.nll,
        |   ntile(3) OVER (PARTITION BY d.lang
        |     ORDER BY n.nll, n.doc_id) AS bucket
        |  FROM nll n JOIN documents d ON n.doc_id = d.doc_id)
        |SELECT lang, CAST(bucket AS INTEGER) AS bucket,
        | count(*) AS n_docs, min(nll) AS nll_min, max(nll) AS nll_max
        |FROM b GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin,
    "q_llm_char_entropy" ->
      """WITH ch AS (SELECT doc_id,
        |   unnest(regexp_extract_all(text, '.')) AS c FROM documents),
        |cc AS (SELECT doc_id, c, count(*) AS n_c
        |  FROM ch GROUP BY doc_id, c),
        |tot AS (SELECT doc_id, CAST(sum(n_c) AS BIGINT) AS n
        |  FROM cc GROUP BY doc_id),
        |terms AS (SELECT cc.doc_id, n,
        |   CAST(floor(-(1.0 * n_c / n) * log2(1.0 * n_c / n)
        |     * 1000000 + 0.5) AS BIGINT) AS t_e6
        |  FROM cc JOIN tot ON cc.doc_id = tot.doc_id)
        |SELECT doc_id, any_value(n) AS n_ch, count(*) AS n_distinct,
        | CAST(sum(t_e6) AS BIGINT) AS h_e6
        |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_llm_shingle_jaccard" ->
      s"""WITH $shingleCte,
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT a_id, b_id,
         | floor((1.0 * i / (na.n + nb.n - i)) * 10000.0 + 0.5) / 10000.0 AS jaccard
         |FROM inter
         |JOIN sizes na ON a_id = na.doc_id
         |JOIN sizes nb ON b_id = nb.doc_id
         |WHERE 1.0 * i / (na.n + nb.n - i) >= 0.8
         |ORDER BY a_id, b_id""".stripMargin,
    "q_llm_minhash_lsh" -> minhashPairsSql,
    "q_llm_dedup_modality_agreement" ->
      s"""WITH $minhashCandCte,
        |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
        |  FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib,
        |   CAST(count(*) AS BIGINT) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |wj AS (SELECT a_id, b_id,
        |   i * 10000 // greatest(na.n + nb.n - i, 1) AS j_e4
        |  FROM cand JOIN inter ON a_id = ia AND b_id = ib
        |   JOIN sizes na ON a_id = na.doc_id
        |   JOIN sizes nb ON b_id = nb.doc_id),
        |$cosCte,
        |wc AS (SELECT a_id, b_id, j_e4,
        |   round(list_inner_product(ea.v, eb.v) / (ea.nrm * eb.nrm), 6)
        |     AS cos
        |  FROM wj JOIN emb ea ON ea.vec_id = a_id
        |   JOIN emb eb ON eb.vec_id = b_id)
        |SELECT (CASE WHEN j_e4 >= 8000 THEN 'text_dup'
        |    ELSE 'text_nodup' END || '|' ||
        |  CASE WHEN cos >= 0.4 THEN 'embed_dup'
        |    ELSE 'embed_nodup' END) AS cell,
        | CAST(count(*) AS BIGINT) AS n_pairs,
        | CAST(sum(j_e4) // count(*) AS BIGINT) AS avg_j_e4,
        | CAST(sum(CAST(floor(cos * 10000 + 0.5) AS BIGINT))
        |   // count(*) AS BIGINT) AS avg_cos_e4
        |FROM wc GROUP BY 1 ORDER BY cell""".stripMargin,
    "q_llm_containment" ->
      s"""WITH $minhashCandCte,
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT a_id, b_id,
         | CAST(na.n AS BIGINT) AS na, CAST(nb.n AS BIGINT) AS nb,
         | CAST(iv.i AS BIGINT) AS n_common,
         | CAST(iv.i * 10000 // na.n AS BIGINT) AS cont_a_e4,
         | CAST(iv.i * 10000 // nb.n AS BIGINT) AS cont_b_e4
         |FROM cand
         |JOIN inter iv ON a_id = iv.ia AND b_id = iv.ib
         |JOIN sizes na ON a_id = na.doc_id
         |JOIN sizes nb ON b_id = nb.doc_id
         |WHERE iv.i * 10000 // na.n >= 8000 OR iv.i * 10000 // nb.n >= 8000
         |ORDER BY a_id, b_id""".stripMargin,
    "q_llm_edit_neardup" ->
      s"""WITH $minhashCandCte
         |SELECT a_id, b_id,
         | CAST(length(da.text) AS BIGINT) AS la,
         | CAST(length(db.text) AS BIGINT) AS lb,
         | CAST(levenshtein(da.text, db.text) AS BIGINT) AS lev,
         | (greatest(CAST(length(da.text) AS BIGINT),
         |    CAST(length(db.text) AS BIGINT))
         |   - CAST(levenshtein(da.text, db.text) AS BIGINT)) * 10000
         |  // greatest(CAST(length(da.text) AS BIGINT),
         |    CAST(length(db.text) AS BIGINT)) AS edit_sim_e4
         |FROM cand
         |JOIN documents da ON a_id = da.doc_id
         |JOIN documents db ON b_id = db.doc_id
         |WHERE (greatest(CAST(length(da.text) AS BIGINT),
         |    CAST(length(db.text) AS BIGINT))
         |   - CAST(levenshtein(da.text, db.text) AS BIGINT)) * 10000
         |  // greatest(CAST(length(da.text) AS BIGINT),
         |    CAST(length(db.text) AS BIGINT)) >= 9000
         |ORDER BY a_id, b_id""".stripMargin,
    "q_llm_oov_rate" ->
      """WITH toks AS (SELECT lang, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |vocab AS (SELECT tok FROM (SELECT tok, count(*) AS cnt
        |  FROM toks GROUP BY 1 ORDER BY cnt DESC, tok LIMIT 1000))
        |SELECT t.lang, CAST(count(*) AS BIGINT) AS n_tokens,
        | CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_oov,
        | CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) * 10000
        |   // greatest(count(*), 1) AS BIGINT) AS oov_e4
        |FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_llm_sqrt_mix" ->
      """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM documents GROUP BY 1),
        |s AS (SELECT lang, n_docs,
        |   CAST(floor(sqrt(n_docs * 1000000.0)) AS BIGINT) AS s_e3
        |  FROM c)
        |SELECT lang, n_docs, s_e3,
        | CAST(s_e3 * 1000000 // (SELECT sum(s_e3) FROM s) AS BIGINT)
        |   AS w_e6
        |FROM s ORDER BY lang""".stripMargin,
    // composed from the minhash-pairs SQL: train×eval orientation +
    // best-match-per-train-doc (max jaccard, min eval_id tie)
    "q_llm_decontaminate_fuzzy" ->
      s"""WITH pairs AS ($minhashPairsSql),
         |o AS (SELECT
         |   CASE WHEN a_id % 10 = 0 THEN b_id ELSE a_id END AS train_id,
         |   CASE WHEN a_id % 10 = 0 THEN a_id ELSE b_id END AS eval_id,
         |   jaccard
         |  FROM pairs WHERE (a_id % 10 = 0) <> (b_id % 10 = 0))
         |SELECT train_id, eval_id, jaccard FROM (
         |  SELECT train_id, eval_id, jaccard, row_number() OVER (
         |    PARTITION BY train_id ORDER BY jaccard DESC, eval_id) AS rn
         |  FROM o) t WHERE rn = 1
         |ORDER BY train_id""".stripMargin,
    "q_llm_dup_clusters" -> dupClustersSql,
    "q_llm_neardup_sources" ->
      s"""WITH pairs AS ($minhashPairsSql)
         |SELECT least(da.source, db.source) AS source_a,
         | greatest(da.source, db.source) AS source_b,
         | CAST(count(*) AS BIGINT) AS n_pairs
         |FROM pairs
         |JOIN documents da ON a_id = da.doc_id
         |JOIN documents db ON b_id = db.doc_id
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_llm_chunk_boundary_loss" ->
      """WITH d AS (SELECT doc_id,
        |   CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents),
        |per AS (SELECT doc_id, n, greatest(n - 4, 0) AS shingles,
        |   (SELECT coalesce(sum(least(least(4, k * 32),
        |      greatest(n - 4 - (k * 32 - 4), 0))), 0)
        |    FROM unnest(range(1, 101)) AS t(k) WHERE k * 32 < n)
        |     AS crossing
        |  FROM d)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(shingles) AS BIGINT) AS total_shingles,
        |  CAST(sum(crossing) AS BIGINT) AS crossing_shingles,
        |  CAST(sum(crossing) * 10000 // greatest(sum(shingles), 1)
        |    AS BIGINT) AS loss_share_e4
        |FROM per""".stripMargin,
    "q_llm_prf_expand" ->
      s"""WITH $bm25Ctes,
         |top5 AS (SELECT doc_id FROM bmsc
         |  ORDER BY bm25 DESC, doc_id LIMIT 5),
         |tftop AS (SELECT toks.tok, CAST(count(*) AS BIGINT) AS tf_top
         |  FROM toks JOIN top5 ON top5.doc_id = toks.doc_id
         |  WHERE toks.tok NOT IN ('${bm25Terms(0)}',
         |    '${bm25Terms(1)}', '${bm25Terms(2)}',
         |    'the', 'a', 'of', 'and', 'to', 'in', 'is')
         |  GROUP BY toks.tok),
         |dfs AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
         |  FROM (SELECT DISTINCT doc_id, tok FROM toks)
         |  GROUP BY tok),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM documents)
         |SELECT tftop.tok AS term, tftop.tf_top, dfs.df,
         |  CAST(tf_top * (CAST(floor(ln(nn.nn) * 1000 + 0.5)
         |    AS BIGINT) - CAST(floor(ln(dfs.df) * 1000 + 0.5)
         |    AS BIGINT)) AS BIGINT) AS score_e3
         |FROM tftop JOIN dfs ON dfs.tok = tftop.tok CROSS JOIN nn
         |ORDER BY score_e3 DESC, term LIMIT 5""".stripMargin,
    "q_llm_prefix_cache" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk
        |  FROM documents WHERE len(string_split(text, ' ')) >= 10),
        |p AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tok,
        |   CAST('0x' || substr(md5(array_to_string(tk[1:10], ' ')),
        |     1, 15) AS BIGINT) AS p
        |  FROM d),
        |g AS (SELECT p, CAST(count(*) AS BIGINT) AS ng,
        |   CAST(sum(n_tok) AS BIGINT) AS toks FROM p GROUP BY p)
        |SELECT CAST(sum(ng) AS BIGINT) AS n_docs,
        |  CAST(sum(toks) AS BIGINT) AS tokens_total,
        |  CAST(sum(CASE WHEN ng > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_groups_shared,
        |  CAST(sum(CASE WHEN ng > 1 THEN ng ELSE 0 END) AS BIGINT)
        |    AS n_docs_shared,
        |  CAST(sum(CASE WHEN ng > 1 THEN (ng - 1) * 10 ELSE 0 END)
        |    AS BIGINT) AS tokens_saved,
        |  CAST(sum(CASE WHEN ng > 1 THEN (ng - 1) * 10 ELSE 0 END)
        |    * 10000 // greatest(sum(toks), 1) AS BIGINT)
        |    AS saved_share_e4
        |FROM g""".stripMargin,
    "q_llm_cluster_inflation" ->
      s"""WITH cl AS ($dupClustersSql),
         |dp AS (SELECT CAST(count(*) AS BIGINT) AS n_direct
         |  FROM ($minhashPairsSql)),
         |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS s
         |  FROM cl GROUP BY 1 HAVING count(*) > 1)
         |SELECT CAST(count(*) AS BIGINT) AS n_clusters,
         |  CAST(max(sz2.max_s) AS BIGINT) AS max_cluster,
         |  CAST(sum(s * (s - 1) // 2) AS BIGINT) AS n_implied_pairs,
         |  CAST(max(dp.n_direct) AS BIGINT) AS n_direct_pairs,
         |  CAST(sum(s * (s - 1) // 2) - max(dp.n_direct) AS BIGINT)
         |    AS n_transitive_only,
         |  CAST(sum(s * (s - 1) // 2) * 10000
         |    // greatest(max(dp.n_direct), 1) AS BIGINT)
         |    AS inflation_e4
         |FROM sz CROSS JOIN dp
         |CROSS JOIN (SELECT max(s) AS max_s FROM sz) sz2""".stripMargin,
    "q_llm_dedup_survivorship" ->
      s"""WITH cl AS ($dupClustersSql),
         |${ModelPrep.scoreCte},
         |sc1 AS (SELECT doc_id,
         |   CAST(floor(score * 10000 + 0.5) AS BIGINT) AS s_e4
         |  FROM sc0),
         |m AS (SELECT cl.cluster_id, cl.doc_id, sc1.s_e4,
         |   cl.doc_id = cl.cluster_id AS kept
         |  FROM cl JOIN sc1 ON sc1.doc_id = cl.doc_id),
         |g AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n,
         |   max(CASE WHEN kept THEN s_e4 END) AS ks,
         |   sum(CASE WHEN NOT kept THEN s_e4 ELSE 0 END) AS ds,
         |   sum(CASE WHEN NOT kept THEN 1 ELSE 0 END) AS dn,
         |   max(CASE WHEN NOT kept THEN s_e4 END) AS max_dropped
         |  FROM m GROUP BY 1 HAVING count(*) > 1)
         |SELECT CAST(count(*) AS BIGINT) AS n_clusters,
         |  CAST(sum(dn) AS BIGINT) AS n_dropped,
         |  CAST(sum(ks) // count(*) AS BIGINT) AS avg_kept_e4,
         |  CAST(sum(ds) // greatest(sum(dn), 1) AS BIGINT)
         |    AS avg_dropped_e4,
         |  CAST(sum(ks) // count(*)
         |    - sum(ds) // greatest(sum(dn), 1) AS BIGINT) AS delta_e4,
         |  CAST(sum(CASE WHEN max_dropped > ks THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_kept_suboptimal
         |FROM g""".stripMargin,
    "q_llm_soft_dedup" ->
      s"""WITH cl AS ($dupClustersSql),
         |sz AS (SELECT cluster_id, count(*) AS s FROM cl
         |  GROUP BY cluster_id),
         |hist AS (SELECT s, count(*) AS n_groups FROM sz GROUP BY s),
         |tot AS (SELECT count(*) AS n_total FROM documents),
         |ncl AS (SELECT count(*) AS n_cl FROM cl),
         |uni AS (SELECT CAST(1 AS BIGINT) AS s,
         |   CAST(n_total - n_cl AS BIGINT) AS n_groups
         |  FROM tot CROSS JOIN ncl
         |  UNION ALL SELECT CAST(s AS BIGINT), CAST(n_groups AS BIGINT)
         |  FROM hist)
         |SELECT s AS group_size,
         | CAST(sum(n_groups) AS BIGINT) AS n_groups,
         | CAST(s * sum(n_groups) AS BIGINT) AS n_docs,
         | CAST(10000 // s AS BIGINT) AS weight_per_doc_e4,
         | CAST(sum(n_groups) * (10000 // s) * s AS BIGINT)
         |   AS total_weight_e4
         |FROM uni GROUP BY s ORDER BY group_size""".stripMargin,
    "q_llm_dup_cluster_sizes" ->
      s"""WITH cl AS ($dupClustersSql)
         |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
         | min(cluster_id) AS min_cluster
         |FROM (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
         |  FROM cl GROUP BY 1)
         |GROUP BY 1 ORDER BY cluster_size DESC, min_cluster""".stripMargin,
    "q_llm_simhash" ->
      """WITH tok AS (SELECT doc_id,
        |  unnest(list_distinct(string_split(text, ' '))) AS t
        |  FROM documents),
        |th AS (SELECT doc_id,
        |  CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) AS h
        |  FROM tok),
        |bal AS (SELECT doc_id, bit,
        |  sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS balance
        |  FROM th CROSS JOIN range(60) r(bit) GROUP BY doc_id, bit),
        |sim AS (SELECT doc_id,
        |  sum(CASE WHEN balance >= 0 THEN (1::BIGINT << bit)
        |      ELSE 0::BIGINT END) AS sim
        |  FROM bal GROUP BY doc_id),
        |chunks AS (SELECT doc_id, sim, c, (sim >> (15 * CAST(c AS INTEGER)))
        |    & 32767 AS chunk
        |  FROM sim CROSS JOIN range(4) r(c)),
        |cand AS (SELECT DISTINCT x.doc_id AS a_id, x.sim AS sim_a,
        |    y.doc_id AS b_id, y.sim AS sim_b
        |  FROM chunks x JOIN chunks y ON x.c = y.c AND x.chunk = y.chunk
        |   AND x.doc_id < y.doc_id)
        |SELECT a_id, b_id,
        | CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= 3
        |ORDER BY a_id, b_id""".stripMargin,
    "q_llm_cosine_topk" ->
      s"""WITH $cosCte,
         |scored AS (SELECT p.vec_id AS probe_id, c.vec_id,
         |  round(list_inner_product(p.v, c.v) / (p.nrm * c.nrm), 6) AS cos
         |  FROM emb p JOIN emb c ON c.vec_id <> p.vec_id
         |  WHERE p.vec_id < 20),
         |ranked AS (SELECT probe_id, vec_id, cos,
         |  CAST(row_number() OVER (PARTITION BY probe_id
         |    ORDER BY cos DESC, vec_id) AS INTEGER) AS rank
         |  FROM scored)
         |SELECT probe_id, rank, vec_id, cos FROM ranked WHERE rank <= 5
         |ORDER BY probe_id, rank""".stripMargin,
    "q_llm_label_noise" ->
      s"""WITH $cosCte,
         |scored AS (SELECT p.vec_id AS probe_id, c.vec_id, c.label,
         |  round(list_inner_product(p.v, c.v) / (p.nrm * c.nrm), 6)
         |    AS cos
         |  FROM emb p JOIN emb c ON c.vec_id <> p.vec_id
         |  WHERE p.vec_id < 20),
         |knn AS (SELECT probe_id, label FROM (
         |  SELECT probe_id, label,
         |    row_number() OVER (PARTITION BY probe_id
         |      ORDER BY cos DESC, vec_id) AS rank
         |  FROM scored) t WHERE rank <= 5),
         |votes AS (SELECT probe_id, label, count(*) AS votes
         |  FROM knn GROUP BY probe_id, label),
         |pr AS (SELECT probe_id, label AS pred_label FROM (
         |  SELECT probe_id, label, votes,
         |    row_number() OVER (PARTITION BY probe_id
         |      ORDER BY votes DESC, label) AS rn
         |  FROM votes) t WHERE rn = 1),
         |tr AS (SELECT vec_id, label FROM embeddings
         |  WHERE vec_id < 20)
         |SELECT CAST(count(*) AS BIGINT) AS n_probes,
         |  CAST(sum(CASE WHEN pr.pred_label <> tr.label
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
         |  CAST(sum(CASE WHEN pr.pred_label <> tr.label
         |    THEN 1 ELSE 0 END) * 10000 // count(*) AS BIGINT)
         |    AS noise_share_e4
         |FROM pr JOIN tr ON tr.vec_id = pr.probe_id""".stripMargin,
    "q_llm_knn_label" ->
      s"""WITH $cosCte,
         |scored AS (SELECT p.vec_id AS probe_id, c.vec_id, c.label,
         |  round(list_inner_product(p.v, c.v) / (p.nrm * c.nrm), 6) AS cos
         |  FROM emb p JOIN emb c ON c.vec_id <> p.vec_id
         |  WHERE p.vec_id < 20),
         |knn AS (SELECT probe_id, label FROM (
         |  SELECT probe_id, label,
         |    row_number() OVER (PARTITION BY probe_id
         |      ORDER BY cos DESC, vec_id) AS rank
         |  FROM scored) t WHERE rank <= 5),
         |votes AS (SELECT probe_id, label, count(*) AS votes
         |  FROM knn GROUP BY probe_id, label)
         |SELECT probe_id, label AS pred_label, votes FROM (
         |  SELECT probe_id, label, votes,
         |    row_number() OVER (PARTITION BY probe_id
         |      ORDER BY votes DESC, label) AS rn
         |  FROM votes) t WHERE rn = 1 ORDER BY probe_id""".stripMargin,
    "q_llm_triplet_mine" ->
      s"""WITH $cosCte,
         |pairs AS (SELECT p.vec_id AS probe_id, p.label AS p_label,
         |  c.vec_id, c.label,
         |  round(list_inner_product(p.v, c.v) / (p.nrm * c.nrm), 6) AS cos
         |  FROM emb p JOIN emb c ON c.vec_id <> p.vec_id
         |  WHERE p.vec_id < 20),
         |pos AS (SELECT probe_id, vec_id AS pos_id, cos AS pos_cos FROM (
         |  SELECT probe_id, vec_id, cos,
         |    row_number() OVER (PARTITION BY probe_id
         |      ORDER BY cos ASC, vec_id) AS rn
         |  FROM pairs WHERE label = p_label) t WHERE rn = 1),
         |neg AS (SELECT probe_id, vec_id AS neg_id, cos AS neg_cos FROM (
         |  SELECT probe_id, vec_id, cos,
         |    row_number() OVER (PARTITION BY probe_id
         |      ORDER BY cos DESC, vec_id) AS rn
         |  FROM pairs WHERE label <> p_label) t WHERE rn = 1)
         |SELECT p.probe_id, pos_id, pos_cos, neg_id, neg_cos,
         | round(neg_cos - pos_cos, 6) AS margin_violation
         |FROM pos p JOIN neg n ON p.probe_id = n.probe_id
         |ORDER BY p.probe_id""".stripMargin,
    "q_llm_mmr_rerank" -> mmrOracle,
    "q_llm_dsir_weights" ->
      """WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
        |  FROM documents),
        |bg AS (SELECT doc_id, lang,
        |   CAST('0x' || substr(md5(b), 1, 15) AS BIGINT) % 1024 AS bucket
        |  FROM d, unnest([toks[i] || ' ' || toks[i+1]
        |    FOR i IN range(1, len(toks))]) AS u(b)),
        |stats AS (SELECT bucket, count(*) AS cr,
        |   sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct
        |  FROM bg GROUP BY bucket),
        |tot AS (SELECT sum(cr) AS nr, sum(ct) AS nt FROM stats),
        |lr AS (SELECT bucket,
        |   CAST(floor(ln(((ct + 1.0) * (nr + 1024)) /
        |     ((cr + 1.0) * (nt + 1024))) * 1000000 + 0.5) AS BIGINT)
        |     AS lr_e6
        |  FROM stats CROSS JOIN tot)
        |SELECT doc_id, CAST(sum(lr_e6) AS BIGINT) AS dsir_e6,
        | count(*) AS n_bigrams
        |FROM bg JOIN lr ON bg.bucket = lr.bucket GROUP BY doc_id
        |ORDER BY dsir_e6 DESC, doc_id LIMIT 25""".stripMargin,
    "q_llm_embed_neardup" ->
      s"""WITH $cosCte
         |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         | round(list_inner_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos
         |FROM emb a JOIN emb b ON a.vec_id < b.vec_id
         |WHERE a.vec_id < 250
         |  AND round(list_inner_product(a.v, b.v) / (a.nrm * b.nrm), 6)
         |  >= 0.4
         |ORDER BY a_id, b_id""".stripMargin,
    "q_llm_lsh_ann" ->
      s"""WITH $cosCte,
         |bucketed AS (SELECT vec_id, v, nrm,
         |  (CASE WHEN v[1] > 0 THEN 1 ELSE 0 END)
         |  + (CASE WHEN v[2] > 0 THEN 2 ELSE 0 END)
         |  + (CASE WHEN v[3] > 0 THEN 4 ELSE 0 END)
         |  + (CASE WHEN v[4] > 0 THEN 8 ELSE 0 END)
         |  + (CASE WHEN v[5] > 0 THEN 16 ELSE 0 END)
         |  + (CASE WHEN v[6] > 0 THEN 32 ELSE 0 END)
         |  + (CASE WHEN v[7] > 0 THEN 64 ELSE 0 END)
         |  + (CASE WHEN v[8] > 0 THEN 128 ELSE 0 END) AS bucket
         |  FROM emb),
         |scored AS (SELECT p.vec_id AS probe_id, c.vec_id,
         |  round(list_inner_product(p.v, c.v) / (p.nrm * c.nrm), 6) AS cos
         |  FROM bucketed p JOIN bucketed c ON p.bucket = c.bucket
         |   AND c.vec_id <> p.vec_id
         |  WHERE p.vec_id < 20)
         |SELECT probe_id, rank, vec_id, cos FROM (
         |  SELECT probe_id, vec_id, cos,
         |    CAST(row_number() OVER (PARTITION BY probe_id
         |      ORDER BY cos DESC, vec_id) AS INTEGER) AS rank
         |  FROM scored) t WHERE rank <= 3
         |ORDER BY probe_id, rank""".stripMargin,
    "q_llm_lsh_ann_multi" ->
      s"""WITH $cosCte,
         |tb AS (SELECT unnest([0, 1, 2, 3]) AS t),
         |bucketed AS (SELECT vec_id, t,
         |  (CASE WHEN v[t*8+1] > 0 THEN 1 ELSE 0 END)
         |  + (CASE WHEN v[t*8+2] > 0 THEN 2 ELSE 0 END)
         |  + (CASE WHEN v[t*8+3] > 0 THEN 4 ELSE 0 END)
         |  + (CASE WHEN v[t*8+4] > 0 THEN 8 ELSE 0 END)
         |  + (CASE WHEN v[t*8+5] > 0 THEN 16 ELSE 0 END)
         |  + (CASE WHEN v[t*8+6] > 0 THEN 32 ELSE 0 END)
         |  + (CASE WHEN v[t*8+7] > 0 THEN 64 ELSE 0 END)
         |  + (CASE WHEN v[t*8+8] > 0 THEN 128 ELSE 0 END) AS bucket
         |  FROM emb CROSS JOIN tb),
         |pairs AS (SELECT DISTINCT p.vec_id AS probe_id,
         |  c.vec_id AS cand_id
         |  FROM bucketed p JOIN bucketed c ON p.t = c.t
         |   AND p.bucket = c.bucket AND c.vec_id <> p.vec_id
         |  WHERE p.vec_id < 20),
         |scored AS (SELECT pr.probe_id, pr.cand_id AS vec_id,
         |  round(list_inner_product(pe.v, ce.v) / (pe.nrm * ce.nrm), 6)
         |    AS cos
         |  FROM pairs pr JOIN emb pe ON pe.vec_id = pr.probe_id
         |  JOIN emb ce ON ce.vec_id = pr.cand_id)
         |SELECT probe_id, rank, vec_id, cos FROM (
         |  SELECT probe_id, vec_id, cos,
         |    CAST(row_number() OVER (PARTITION BY probe_id
         |      ORDER BY cos DESC, vec_id) AS INTEGER) AS rank
         |  FROM scored) t WHERE rank <= 3
         |ORDER BY probe_id, rank""".stripMargin,
    "q_llm_pii_scrub" ->
      """WITH t AS (SELECT doc_id,
        |  text || ' contact user' || doc_id || '@example.com or +1-555-' ||
        |  lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
        |  lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0') AS txt
        |  FROM documents)
        |SELECT doc_id,
        | CAST(len(regexp_extract_all(txt,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}'))
        |  + len(regexp_extract_all(txt, '[+]1-555-[0-9]{3}-[0-9]{4}'))
        |  AS INTEGER) AS n_redacted,
        | regexp_replace(regexp_replace(txt,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}', '<EMAIL>',
        |   'g'), '[+]1-555-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS clean
        |FROM t ORDER BY doc_id""".stripMargin,
    "q_llm_ivf_ann" -> ivfAnnOracle(1),
    "q_llm_ivf_ann_probe2" -> ivfAnnOracle(2),
    "q_llm_ivf_ann_probe4" -> ivfAnnOracle(4),
    "q_llm_ivf_pq" ->
      s"""WITH $ivfPqAdcCtes
         |SELECT probe_id, rank, vec_id, adc FROM (
         |  SELECT probe_id, vec_id, adc,
         |    CAST(row_number() OVER (PARTITION BY probe_id
         |      ORDER BY adc, vec_id) AS INTEGER) AS rank
         |  FROM r) t WHERE rank <= 3
         |ORDER BY probe_id, rank""".stripMargin,
    // two-stage search: ADC shortlist (top 20 by table-lookup distance)
    // then exact cosine re-rank of the survivors only
    "q_llm_ivf_pq_rerank" ->
      s"""WITH $ivfPqAdcCtes,
         |short AS (SELECT probe_id, vec_id FROM (
         |  SELECT probe_id, vec_id, row_number() OVER (
         |    PARTITION BY probe_id ORDER BY adc, vec_id) AS arnk
         |  FROM r) t WHERE arnk <= 20),
         |rr AS (SELECT s2.probe_id, s2.vec_id,
         |  round(list_inner_product(pe.v, ce.v) / (pe.nrm * ce.nrm), 6)
         |    AS cos
         |  FROM short s2 JOIN emb pe ON pe.vec_id = s2.probe_id
         |  JOIN emb ce ON ce.vec_id = s2.vec_id)
         |SELECT probe_id, rank, vec_id, cos FROM (
         |  SELECT probe_id, vec_id, cos,
         |    CAST(row_number() OVER (PARTITION BY probe_id
         |      ORDER BY cos DESC, vec_id) AS INTEGER) AS rank
         |  FROM rr) t WHERE rank <= 3
         |ORDER BY probe_id, rank""".stripMargin,
    "q_llm_text_stats" ->
      """SELECT lang, count(*) AS n_docs,
        | floor(avg(n_chars) * 10000.0 + 0.5) / 10000.0 AS avg_chars,
        | count(DISTINCT source) AS n_sources,
        | floor(avg(len(string_split(text, ' '))) * 10000.0 + 0.5) / 10000.0 AS avg_tokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_llm_tfidf_top_terms" ->
      """WITH tf AS (SELECT doc_id, lang, unnest(string_split(text, ' '))
        |    AS token FROM documents),
        |tfc AS (SELECT doc_id, lang, token, count(*) AS tf
        |  FROM tf GROUP BY 1, 2, 3),
        |dfc AS (SELECT token, count(DISTINCT doc_id) AS df
        |  FROM tfc GROUP BY token),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |w AS (SELECT lang, tfc.token,
        |  round(sum(tf * ln(1.0 * n_docs / df)), 4) AS weight
        |  FROM tfc JOIN dfc ON tfc.token = dfc.token CROSS JOIN n
        |  GROUP BY lang, tfc.token)
        |SELECT lang, rank, token, weight FROM (
        |  SELECT lang, token, weight,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY weight DESC, token) AS INTEGER) AS rank
        |  FROM w) t WHERE rank <= 5 ORDER BY lang, rank""".stripMargin,
    "q_llm_bm25" ->
      s"""WITH $bm25Ctes
        |SELECT doc_id, bm25 FROM bmsc
        |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin,
    "q_llm_cms_width_sweep" ->
      """WITH tru AS (SELECT w, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w
        |   FROM documents) t GROUP BY w),
        |arm AS (SELECT width, b.w,
        |   CAST('0x'||substr(md5(concat('0:', b.w)), 1, 15) AS BIGINT)
        |     % width AS bkt, c
        |  FROM tru b, (SELECT unnest([16, 64, 256]) AS width) ws),
        |bt AS (SELECT width, bkt, CAST(sum(c) AS BIGINT) AS bt
        |  FROM arm GROUP BY 1, 2),
        |ov AS (SELECT arm.width, bt.bt - arm.c AS over
        |  FROM arm JOIN bt ON arm.width = bt.width
        |   AND arm.bkt = bt.bkt)
        |SELECT CAST(width AS BIGINT) AS width,
        | CAST(count(*) AS BIGINT) AS n_tokens,
        | CAST(sum(CASE WHEN over > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_overcounted,
        | CAST(sum(CASE WHEN over > 0 THEN 1 ELSE 0 END) * 10000
        |   // count(*) AS BIGINT) AS over_share_e4,
        | CAST(max(over) AS BIGINT) AS max_overcount
        |FROM ov GROUP BY width ORDER BY width""".stripMargin,
    "q_llm_beam_decode" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk
        |  FROM documents),
        |toks AS (SELECT doc_id, unnest(tk) AS w,
        |   generate_subscripts(tk, 1) AS p FROM tk),
        |big AS (SELECT a.w AS prev, b.w AS next,
        |   CAST(count(*) AS BIGINT) AS c
        |  FROM toks a JOIN toks b
        |   ON a.doc_id = b.doc_id AND b.p = a.p + 1 GROUP BY 1, 2),
        |tot AS (SELECT prev, CAST(sum(c) AS BIGINT) AS t
        |  FROM big GROUP BY 1),
        |top2 AS (SELECT prev, next, lp_e3 FROM (SELECT big.prev,
        |   next, CAST(floor(ln(c) * 1000 + 0.5) AS BIGINT)
        |    - CAST(floor(ln(t) * 1000 + 0.5) AS BIGINT) AS lp_e3,
        |   row_number() OVER (PARTITION BY big.prev ORDER BY
        |    CAST(floor(ln(c) * 1000 + 0.5) AS BIGINT)
        |    - CAST(floor(ln(t) * 1000 + 0.5) AS BIGINT) DESC, next)
        |    AS rn
        |  FROM big JOIN tot ON big.prev = tot.prev) x WHERE rn <= 2),
        |b0 AS (SELECT w AS seq, w AS last, CAST(0 AS BIGINT)
        |   AS score_e3
        |  FROM (SELECT w, row_number() OVER (ORDER BY count(*) DESC,
        |     w) AS rn FROM toks GROUP BY w) t WHERE rn = 1),
        |c1 AS (SELECT concat(seq, ' ', next) AS seq, next AS last,
        |   score_e3 + lp_e3 AS score_e3
        |  FROM b0 JOIN top2 ON b0.last = top2.prev),
        |b1 AS (SELECT seq, last, score_e3 FROM (SELECT *,
        |   row_number() OVER (ORDER BY score_e3 DESC, seq) AS rn
        |  FROM c1) x WHERE rn <= 2),
        |c2 AS (SELECT concat(seq, ' ', next) AS seq, next AS last,
        |   score_e3 + lp_e3 AS score_e3
        |  FROM b1 JOIN top2 ON b1.last = top2.prev),
        |b2 AS (SELECT seq, last, score_e3 FROM (SELECT *,
        |   row_number() OVER (ORDER BY score_e3 DESC, seq) AS rn
        |  FROM c2) x WHERE rn <= 2),
        |c3 AS (SELECT concat(seq, ' ', next) AS seq, next AS last,
        |   score_e3 + lp_e3 AS score_e3
        |  FROM b2 JOIN top2 ON b2.last = top2.prev),
        |b3 AS (SELECT seq, last, score_e3 FROM (SELECT *,
        |   row_number() OVER (ORDER BY score_e3 DESC, seq) AS rn
        |  FROM c3) x WHERE rn <= 2)
        |SELECT CAST(row_number() OVER (ORDER BY score_e3 DESC, seq)
        |   AS BIGINT) AS rank, seq, score_e3, last
        |FROM b3 ORDER BY rank""".stripMargin,
    "q_llm_greedy_decode" ->
      """WITH RECURSIVE
        |tk AS (SELECT doc_id, string_split(text, ' ') AS tk
        |  FROM documents),
        |toks AS (SELECT doc_id, unnest(tk) AS w,
        |   generate_subscripts(tk, 1) AS p FROM tk),
        |big AS (SELECT a.w AS prev, b.w AS next,
        |   CAST(count(*) AS BIGINT) AS c
        |  FROM toks a JOIN toks b
        |   ON a.doc_id = b.doc_id AND b.p = a.p + 1 GROUP BY 1, 2),
        |nxt AS (SELECT prev, next, c FROM (SELECT prev, next, c,
        |   row_number() OVER (PARTITION BY prev
        |     ORDER BY c DESC, next) AS rn FROM big) t WHERE rn = 1),
        |seed AS (SELECT w AS tok, CAST(0 AS BIGINT) AS step
        |  FROM (SELECT w, row_number() OVER (ORDER BY count(*) DESC,
        |     w) AS rn FROM toks GROUP BY w) t WHERE rn = 1),
        |walk(tok, step) AS (
        |  SELECT tok, step FROM seed
        |  UNION ALL
        |  SELECT nxt.next, step + 1 FROM walk
        |   JOIN nxt ON walk.tok = nxt.prev WHERE step < 8)
        |SELECT step, walk.tok,
        | CAST(coalesce(nxt.c, 0) AS BIGINT) AS bigram_count
        |FROM walk LEFT JOIN nxt ON walk.tok = nxt.prev
        |ORDER BY step""".stripMargin,
    "q_llm_bm25_sweep" ->
      s"""WITH $bm25Ctes,
        |low AS (SELECT doc_id, round(
        |   ${bm25Term(1, "", "1.9", "0.9", "0.6", "0.4")}
        | + ${bm25Term(2, "", "1.9", "0.9", "0.6", "0.4")}
        | + ${bm25Term(3, "", "1.9", "0.9", "0.6", "0.4")}, 4) AS s
        |  FROM perdoc CROSS JOIN stats WHERE tf1 + tf2 + tf3 > 0),
        |high AS (SELECT doc_id, round(
        |   ${bm25Term(1, "", "3.0", "2.0", "0.1", "0.9")}
        | + ${bm25Term(2, "", "3.0", "2.0", "0.1", "0.9")}
        | + ${bm25Term(3, "", "3.0", "2.0", "0.1", "0.9")}, 4) AS s
        |  FROM perdoc CROSS JOIN stats WHERE tf1 + tf2 + tf3 > 0),
        |dd AS (SELECT doc_id, r FROM (SELECT doc_id,
        |   row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r
        |  FROM bmsc) t WHERE r <= 10),
        |lo AS (SELECT doc_id, r FROM (SELECT doc_id,
        |   row_number() OVER (ORDER BY s DESC, doc_id) AS r
        |  FROM low) t WHERE r <= 10),
        |hi AS (SELECT doc_id, r FROM (SELECT doc_id,
        |   row_number() OVER (ORDER BY s DESC, doc_id) AS r
        |  FROM high) t WHERE r <= 10)
        |SELECT * FROM (
        | SELECT 'default' AS config, CAST(12 AS BIGINT) AS k1_e1,
        |  CAST(75 AS BIGINT) AS b_e2,
        |  (SELECT CAST(count(*) AS BIGINT) FROM dd) AS overlap10,
        |  TRUE AS top1_same
        | UNION ALL SELECT 'low_sat', CAST(9 AS BIGINT),
        |  CAST(40 AS BIGINT),
        |  (SELECT CAST(count(*) AS BIGINT) FROM lo
        |    JOIN dd ON lo.doc_id = dd.doc_id),
        |  (SELECT l.doc_id = d.doc_id FROM lo l, dd d
        |    WHERE l.r = 1 AND d.r = 1)
        | UNION ALL SELECT 'high_sat', CAST(20 AS BIGINT),
        |  CAST(90 AS BIGINT),
        |  (SELECT CAST(count(*) AS BIGINT) FROM hi
        |    JOIN dd ON hi.doc_id = dd.doc_id),
        |  (SELECT h.doc_id = d.doc_id FROM hi h, dd d
        |    WHERE h.r = 1 AND d.r = 1)
        |) u ORDER BY config""".stripMargin,
    "q_llm_jl_distortion" ->
      """WITH dims AS (SELECT vec_id, i - 1 AS dim,
        |   CAST(floor(CAST(e AS DOUBLE) * 10000 + 0.5) AS BIGINT) AS v
        |  FROM (SELECT vec_id, unnest(embedding) AS e,
        |     generate_subscripts(embedding, 1) AS i FROM embeddings
        |    WHERE vec_id < 20) u),
        |proj AS (SELECT vec_id, j,
        |   CAST(sum(CASE WHEN CAST('0x'||substr(md5(concat(
        |     CAST(j AS VARCHAR), ':', CAST(dim AS VARCHAR))), 1, 15)
        |     AS BIGINT) % 2 = 0 THEN v ELSE -v END) AS BIGINT) AS y
        |  FROM dims, range(0, 16) r(j) GROUP BY 1, 2),
        |pd AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |   CAST(sum((a.y - b.y) * (a.y - b.y)) AS BIGINT) AS d2_proj
        |  FROM proj a JOIN proj b ON a.j = b.j
        |   AND b.vec_id = a.vec_id + 1 AND a.vec_id % 2 = 0
        |  GROUP BY 1, 2),
        |od AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |   CAST(sum((a.v - b.v) * (a.v - b.v)) AS BIGINT) AS d2_orig
        |  FROM dims a JOIN dims b ON a.dim = b.dim
        |   AND b.vec_id = a.vec_id + 1 AND a.vec_id % 2 = 0
        |  GROUP BY 1, 2)
        |SELECT od.a_id, od.b_id, d2_orig, d2_proj,
        | d2_proj * 10000 // greatest(16 * d2_orig, 1) AS ratio_e4
        |FROM od JOIN pd ON od.a_id = pd.a_id AND od.b_id = pd.b_id
        |ORDER BY od.a_id""".stripMargin,
    "q_llm_dedup_savings" ->
      s"""WITH tok AS (SELECT doc_id, source,
        |   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |rem AS (SELECT doc_id FROM ($dupClustersSql) cl
        |  WHERE doc_id <> cluster_id)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(n_tok) AS BIGINT) AS tot_tok,
        | CAST(sum(CASE WHEN rem.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        |   AS BIGINT) AS rm_docs,
        | CAST(sum(CASE WHEN rem.doc_id IS NOT NULL THEN n_tok
        |   ELSE 0 END) AS BIGINT) AS rm_tok,
        | CAST(sum(CASE WHEN rem.doc_id IS NOT NULL THEN n_tok
        |   ELSE 0 END) * 10000 // sum(n_tok) AS BIGINT) AS savings_e4
        |FROM tok LEFT JOIN rem ON tok.doc_id = rem.doc_id
        |GROUP BY source ORDER BY source""".stripMargin,
    "q_llm_snippet_extract" ->
      s"""WITH $bm25Ctes,
        |top3 AS (SELECT doc_id, rank FROM (SELECT doc_id,
        |   CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id)
        |     AS BIGINT) AS rank FROM bmsc) t WHERE rank <= 3),
        |dtk AS (SELECT d.doc_id, rank, string_split(text, ' ') AS tk
        |  FROM documents d JOIN top3 ON d.doc_id = top3.doc_id),
        |hits AS (SELECT doc_id, i - 1 AS p FROM (SELECT doc_id,
        |   unnest(tk) AS tok, generate_subscripts(tk, 1) AS i
        |  FROM dtk) u WHERE tok IN ('${bm25Terms(0)}',
        |   '${bm25Terms(1)}', '${bm25Terms(2)}')),
        |starts AS (SELECT doc_id, rank, len(tk) AS dl,
        |   unnest(generate_series(0, greatest(len(tk) - 16, 0)))
        |     AS st FROM dtk),
        |wh AS (SELECT s.doc_id, s.st, CAST(count(*) AS BIGINT)
        |   AS nh
        |  FROM starts s JOIN hits h ON s.doc_id = h.doc_id
        |   AND h.p >= s.st AND h.p <= s.st + 15 GROUP BY 1, 2),
        |best AS (SELECT s.doc_id, rank, dl, s.st AS st,
        |   CAST(coalesce(nh, 0) AS BIGINT) AS n_hits,
        |   row_number() OVER (PARTITION BY s.doc_id
        |     ORDER BY coalesce(nh, 0) DESC, s.st) AS rn
        |  FROM starts s LEFT JOIN wh
        |   ON wh.doc_id = s.doc_id AND wh.st = s.st)
        |SELECT doc_id, rank, CAST(st AS BIGINT) AS win_start, n_hits,
        | CAST(least(dl - st, 16) AS BIGINT) AS win_len
        |FROM best WHERE rn = 1 ORDER BY rank""".stripMargin,
    "q_llm_doc_cohesion" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk
        |  FROM documents),
        |ck AS (SELECT doc_id,
        |   unnest(generate_series(0, (len(tk) - 1) // 32)) AS ch, tk
        |  FROM tk),
        |toks AS (SELECT DISTINCT doc_id, ch, tok FROM (SELECT doc_id,
        |   ch, unnest(tk[ch * 32 + 1 : ch * 32 + 32]) AS tok
        |  FROM ck) u),
        |sizes AS (SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS sz
        |  FROM toks GROUP BY 1, 2),
        |inter AS (SELECT a.doc_id, a.ch, CAST(count(*) AS BIGINT) AS i
        |  FROM toks a JOIN toks b ON a.doc_id = b.doc_id
        |   AND a.tok = b.tok AND b.ch = a.ch + 1 GROUP BY 1, 2),
        |pairs AS (SELECT sa.doc_id,
        |   CAST(coalesce(i, 0) AS BIGINT) AS i, sa.sz AS na,
        |   sb.sz AS nb
        |  FROM sizes sa JOIN sizes sb ON sa.doc_id = sb.doc_id
        |   AND sb.ch = sa.ch + 1
        |  LEFT JOIN inter ON inter.doc_id = sa.doc_id
        |   AND inter.ch = sa.ch),
        |j AS (SELECT doc_id, i * 10000 // (na + nb - i) AS jac_e4
        |  FROM pairs)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
        | CAST(sum(jac_e4) // count(*) AS BIGINT) AS cohesion_e4
        |FROM j GROUP BY doc_id
        |ORDER BY cohesion_e4, doc_id LIMIT 20""".stripMargin,
    "q_llm_term_position" ->
      s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk
        |  FROM documents),
        |pos AS (SELECT len(tk) AS dl, unnest(tk) AS tok,
        |   generate_subscripts(tk, 1) AS i FROM tk),
        |hits AS (SELECT tok, (i - 1) * 10 // dl AS decile FROM pos
        |  WHERE tok IN ('${bm25Terms(0)}', '${bm25Terms(1)}',
        |   '${bm25Terms(2)}')),
        |counts AS (SELECT tok, decile, CAST(count(*) AS BIGINT) AS cn
        |  FROM hits GROUP BY 1, 2),
        |c AS (SELECT g.tok, g.decile,
        |   CAST(coalesce(cn, 0) AS BIGINT) AS n
        |  FROM (SELECT t.tok, d.d AS decile
        |    FROM (SELECT DISTINCT tok FROM hits) t
        |    CROSS JOIN (SELECT unnest([0,1,2,3,4,5,6,7,8,9]) AS d) d) g
        |  LEFT JOIN counts
        |   ON counts.tok = g.tok AND counts.decile = g.decile),
        |t AS (SELECT tok, CAST(sum(n) AS BIGINT) AS nt
        |  FROM c GROUP BY 1),
        |chi AS (SELECT c.tok,
        |   CAST(sum((10 * n - nt) * (10 * n - nt) * 10000
        |     // (10 * nt)) AS BIGINT) AS chi2_e4
        |  FROM c JOIN t ON c.tok = t.tok GROUP BY c.tok)
        |SELECT c.tok AS term, CAST(c.decile AS BIGINT) AS decile, n,
        | n * 10000 // nt AS share_e4, chi2_e4
        |FROM c JOIN t ON c.tok = t.tok JOIN chi ON c.tok = chi.tok
        |ORDER BY term, decile""".stripMargin,
    "q_llm_ql_dirichlet" ->
      s"""WITH $bm25Ctes,
        |qst AS (SELECT CAST(sum(dl) AS BIGINT) AS cc,
        |   CAST(sum(tf1) AS BIGINT) AS cf1,
        |   CAST(sum(tf2) AS BIGINT) AS cf2,
        |   CAST(sum(tf3) AS BIGINT) AS cf3 FROM perdoc),
        |ql AS (SELECT doc_id,
        |   (CAST(floor(ln(tf1 * cc + 100 * cf1) * 1000 + 0.5) AS BIGINT)
        |    - CAST(floor(ln((dl + 100) * cc) * 1000 + 0.5) AS BIGINT))
        |   + (CAST(floor(ln(tf2 * cc + 100 * cf2) * 1000 + 0.5) AS BIGINT)
        |    - CAST(floor(ln((dl + 100) * cc) * 1000 + 0.5) AS BIGINT))
        |   + (CAST(floor(ln(tf3 * cc + 100 * cf3) * 1000 + 0.5) AS BIGINT)
        |    - CAST(floor(ln((dl + 100) * cc) * 1000 + 0.5) AS BIGINT))
        |     AS ql_e3
        |  FROM perdoc CROSS JOIN qst WHERE tf1 + tf2 + tf3 > 0),
        |top AS (SELECT doc_id, ql_e3, CAST(row_number() OVER (
        |   ORDER BY ql_e3 DESC, doc_id) AS BIGINT) AS rank FROM ql),
        |bmtop AS (SELECT doc_id FROM (SELECT doc_id,
        |   row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r
        |  FROM bmsc) t WHERE r <= 10)
        |SELECT top.doc_id, rank, ql_e3,
        | (bmtop.doc_id IS NOT NULL) AS in_bm25_top10
        |FROM top LEFT JOIN bmtop ON top.doc_id = bmtop.doc_id
        |WHERE rank <= 10 ORDER BY rank""".stripMargin,
    "q_llm_rank_fusion_borda" ->
      s"""WITH $bm25Ctes,
        |lex AS (SELECT doc_id, lex_rank FROM (
        |   SELECT doc_id, CAST(row_number() OVER (
        |     ORDER BY bm25 DESC, doc_id) AS BIGINT) AS lex_rank
        |   FROM bmsc) t WHERE lex_rank <= 50),
        |$cosCte,
        |dense AS (SELECT doc_id, dense_rank FROM (
        |   SELECT c.vec_id AS doc_id, CAST(row_number() OVER (ORDER BY
        |     round(list_inner_product(p.v, c.v) / (p.nrm * c.nrm), 6)
        |       DESC, c.vec_id) AS BIGINT) AS dense_rank
        |   FROM emb p JOIN emb c ON c.vec_id <> p.vec_id
        |   WHERE p.vec_id = 7) t WHERE dense_rank <= 50)
        |SELECT coalesce(l.doc_id, d.doc_id) AS doc_id,
        | CAST(coalesce(51 - lex_rank, 0) + coalesce(51 - dense_rank, 0)
        |   AS BIGINT) AS borda,
        | lex_rank, dense_rank
        |FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.doc_id
        |ORDER BY borda DESC, doc_id LIMIT 15""".stripMargin,
    "q_llm_hybrid_rrf" ->
      s"""WITH $bm25Ctes,
        |lex AS (SELECT doc_id, lex_rank FROM (
        |   SELECT doc_id, CAST(row_number() OVER (
        |     ORDER BY bm25 DESC, doc_id) AS BIGINT) AS lex_rank
        |   FROM bmsc) t WHERE lex_rank <= 50),
        |$cosCte,
        |dense AS (SELECT doc_id, dense_rank FROM (
        |   SELECT c.vec_id AS doc_id, CAST(row_number() OVER (ORDER BY
        |     round(list_inner_product(p.v, c.v) / (p.nrm * c.nrm), 6)
        |       DESC, c.vec_id) AS BIGINT) AS dense_rank
        |   FROM emb p JOIN emb c ON c.vec_id <> p.vec_id
        |   WHERE p.vec_id = 7) t WHERE dense_rank <= 50)
        |SELECT coalesce(l.doc_id, d.doc_id) AS doc_id,
        | round(coalesce(1.0/(60 + lex_rank), 0) +
        |       coalesce(1.0/(60 + dense_rank), 0), 6) AS rrf,
        | lex_rank, dense_rank
        |FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.doc_id
        |ORDER BY rrf DESC, doc_id LIMIT 15""".stripMargin,
    "q_llm_retrieve_rerank" ->
      s"""WITH $bm25Ctes,
        |lex AS (SELECT doc_id, lex_rank FROM (
        |   SELECT doc_id, CAST(row_number() OVER (
        |     ORDER BY bm25 DESC, doc_id) AS BIGINT) AS lex_rank
        |   FROM bmsc) t WHERE lex_rank <= 20),
        |$cosCte,
        |rr AS (SELECT l.doc_id, l.lex_rank,
        |   round(list_inner_product(p.v, c.v) / (p.nrm * c.nrm), 6)
        |     AS cos
        |  FROM lex l
        |  JOIN emb c ON c.vec_id = l.doc_id AND c.vec_id <> 7
        |  CROSS JOIN (SELECT v, nrm FROM emb WHERE vec_id = 7) p),
        |rk AS (SELECT doc_id, lex_rank, cos,
        |   CAST(row_number() OVER (ORDER BY cos DESC, doc_id)
        |     AS BIGINT) AS rerank FROM rr)
        |SELECT doc_id, lex_rank, rerank, cos,
        | lex_rank - rerank AS rank_shift
        |FROM rk WHERE rerank <= 10 ORDER BY rerank""".stripMargin,
    "q_llm_wand_prune" ->
      s"""WITH $bm25Ctes,
        |imp AS (
        |  SELECT CAST(1 AS BIGINT) AS term, doc_id,
        |   CAST(floor((${bm25Term(1)}) * 10000 + 0.5) AS BIGINT)
        |     AS imp_e4
        |  FROM perdoc CROSS JOIN stats WHERE tf1 > 0
        |  UNION ALL
        |  SELECT CAST(2 AS BIGINT), doc_id,
        |   CAST(floor((${bm25Term(2)}) * 10000 + 0.5) AS BIGINT)
        |  FROM perdoc CROSS JOIN stats WHERE tf2 > 0
        |  UNION ALL
        |  SELECT CAST(3 AS BIGINT), doc_id,
        |   CAST(floor((${bm25Term(3)}) * 10000 + 0.5) AS BIGINT)
        |  FROM perdoc CROSS JOIN stats WHERE tf3 > 0),
        |blk AS (SELECT term, imp_e4,
        |   (row_number() OVER (PARTITION BY term ORDER BY doc_id) - 1)
        |     // 32 AS blk FROM imp),
        |b2 AS (SELECT term, blk, CAST(count(*) AS BIGINT) AS np,
        |   CAST(max(imp_e4) AS BIGINT) AS blockmax_e4
        |  FROM blk GROUP BY 1, 2),
        |gmax AS (SELECT term, max(blockmax_e4) AS gmax_e4
        |  FROM b2 GROUP BY 1),
        |gsum AS (SELECT CAST(sum(gmax_e4) AS BIGINT) AS gall FROM gmax),
        |theta AS (SELECT min(s_e4) AS theta_e4 FROM (
        |  SELECT CAST(floor(bm25 * 10000 + 0.5) AS BIGINT) AS s_e4
        |  FROM bmsc ORDER BY s_e4 DESC LIMIT 10)),
        |fl AS (SELECT b2.term, b2.np,
        |   b2.blockmax_e4 + (gall - gmax_e4) < theta_e4 AS skippable
        |  FROM b2 JOIN gmax ON b2.term = gmax.term
        |  CROSS JOIN gsum CROSS JOIN theta)
        |SELECT term, CAST(count(*) AS BIGINT) AS n_blocks,
        | CAST(sum(CASE WHEN skippable THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_skippable,
        | CAST(sum(np) AS BIGINT) AS n_postings,
        | CAST(sum(CASE WHEN skippable THEN np ELSE 0 END) AS BIGINT)
        |   AS n_skipped_postings,
        | CAST(sum(CASE WHEN skippable THEN np ELSE 0 END) * 10000
        |   // greatest(sum(np), 1) AS BIGINT) AS skip_share_e4
        |FROM fl GROUP BY term ORDER BY term""".stripMargin,
    "q_llm_dedup_quality_interaction" ->
      s"""WITH ${ModelPrep.scoreCte},
        |$minhashCandCte,
        |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
        |  FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib,
        |   CAST(count(*) AS BIGINT) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |vp AS (SELECT a_id, b_id FROM cand
        |  JOIN inter ON a_id = ia AND b_id = ib
        |  JOIN sizes na ON a_id = na.doc_id
        |  JOIN sizes nb ON b_id = nb.doc_id
        |  WHERE i * 10000 // greatest(na.n + nb.n - i, 1) >= 8000),
        |dd AS (SELECT a_id AS doc_id FROM vp
        |  UNION SELECT b_id FROM vp),
        |scores AS (SELECT doc_id,
        |   CAST(floor(score * 10000.0 + 0.5) AS BIGINT) AS s_e4
        |  FROM sc0),
        |med AS (SELECT min(CASE WHEN cum * 2 >= nn THEN s_e4 END) AS m
        |  FROM (SELECT s_e4, sum(c) OVER (ORDER BY s_e4) AS cum,
        |     sum(c) OVER () AS nn
        |    FROM (SELECT s_e4, CAST(count(*) AS BIGINT) AS c
        |          FROM scores GROUP BY 1))),
        |cells AS (SELECT coalesce(dd.doc_id IS NOT NULL, FALSE)
        |    AS is_dup, s_e4 >= m AS keep, CAST(count(*) AS BIGINT) AS n
        |  FROM scores CROSS JOIN med
        |  LEFT JOIN dd ON scores.doc_id = dd.doc_id
        |  GROUP BY 1, 2),
        |cls AS (SELECT is_dup, CAST(sum(n) AS BIGINT) AS nc FROM cells
        |  GROUP BY 1),
        |orr AS (SELECT CAST(
        |   coalesce(max(CASE WHEN is_dup AND keep THEN n END), 0)
        |   * coalesce(max(CASE WHEN NOT is_dup AND NOT keep
        |       THEN n END), 0)
        |   * 10000 // greatest(
        |     coalesce(max(CASE WHEN is_dup AND NOT keep THEN n END), 0)
        |     * coalesce(max(CASE WHEN NOT is_dup AND keep
        |         THEN n END), 0), 1) AS BIGINT) AS or_e4 FROM cells)
        |SELECT is_dup, keep, n,
        | CAST(n * 10000 // nc AS BIGINT) AS class_share_e4, or_e4
        |FROM cells JOIN cls USING (is_dup) CROSS JOIN orr
        |ORDER BY is_dup, keep""".stripMargin,
    "q_llm_submodular_select" ->
      s"""WITH $cosCte,
        |cand AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn
        |  FROM emb WHERE vec_id < 16),
        |cov AS (SELECT e.vec_id AS n_id, c.c_id,
        |   greatest(CAST(floor(round(list_inner_product(e.v, c.cv)
        |     / (e.nrm * c.cn), 6) * 1000000 + 0.5) AS BIGINT),
        |     CAST(0 AS BIGINT)) AS cov
        |  FROM emb e CROSS JOIN cand c),
        |p1 AS (SELECT c_id AS pick, CAST(sum(cov) AS BIGINT) AS obj
        |  FROM cov GROUP BY 1 ORDER BY obj DESC, pick LIMIT 1),
        |b1 AS (SELECT n_id, cov AS b FROM cov JOIN p1 ON c_id = pick),
        |p2 AS (SELECT c_id AS pick,
        |   CAST(sum(greatest(cov, b)) AS BIGINT) AS obj
        |  FROM cov JOIN b1 USING (n_id)
        |  WHERE c_id NOT IN (SELECT pick FROM p1)
        |  GROUP BY 1 ORDER BY obj DESC, pick LIMIT 1),
        |b2 AS (SELECT b1.n_id, greatest(b1.b, c2.cov) AS b
        |  FROM b1 JOIN (SELECT n_id, cov FROM cov JOIN p2
        |    ON c_id = pick) c2 USING (n_id)),
        |p3 AS (SELECT c_id AS pick,
        |   CAST(sum(greatest(cov, b)) AS BIGINT) AS obj
        |  FROM cov JOIN b2 USING (n_id)
        |  WHERE c_id NOT IN (SELECT pick FROM p1
        |    UNION ALL SELECT pick FROM p2)
        |  GROUP BY 1 ORDER BY obj DESC, pick LIMIT 1)
        |SELECT step, pick AS picked_id, obj AS objective_e6,
        | CAST(obj - coalesce(lag(obj) OVER (ORDER BY step), 0)
        |   AS BIGINT) AS gain_e6
        |FROM (SELECT CAST(1 AS BIGINT) AS step, pick, obj FROM p1
        |  UNION ALL SELECT 2, pick, obj FROM p2
        |  UNION ALL SELECT 3, pick, obj FROM p3)
        |ORDER BY step""".stripMargin,
    "q_llm_dedup_tau_sweep" ->
      s"""WITH $minhashCandCte,
        |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
        |  FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib,
        |   CAST(count(*) AS BIGINT) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |scored AS (SELECT a_id, b_id, i, na.n AS na, nb.n AS nb
        |  FROM cand JOIN inter ON a_id = ia AND b_id = ib
        |  JOIN sizes na ON a_id = na.doc_id
        |  JOIN sizes nb ON b_id = nb.doc_id),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS ndocs FROM documents),
        |taus(tau_e4) AS (VALUES (CAST(5000 AS BIGINT)), (7000),
        |  (8000), (9000)),
        |per AS (SELECT tau_e4, CAST(count(*) AS BIGINT) AS n_pairs,
        |   CAST(count(DISTINCT b_id) AS BIGINT) AS n_removed
        |  FROM taus JOIN scored ON i * 10000 >= tau_e4 * (na + nb - i)
        |  GROUP BY 1)
        |SELECT t.tau_e4, CAST(coalesce(n_pairs, 0) AS BIGINT) AS n_pairs,
        | CAST(coalesce(n_removed, 0) AS BIGINT) AS n_removed,
        | CAST(coalesce(n_removed, 0) * 10000 // ndocs AS BIGINT)
        |   AS removed_share_e4
        |FROM taus t LEFT JOIN per ON t.tau_e4 = per.tau_e4 CROSS JOIN nd
        |ORDER BY t.tau_e4""".stripMargin,
    "q_llm_dedup_jhist" ->
      s"""WITH $minhashCandCte,
        |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
        |  FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib,
        |   CAST(count(*) AS BIGINT) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |scored AS (SELECT a_id, b_id,
        |   CAST(coalesce(inter.i, 0) AS BIGINT) AS i,
        |   na.n AS na, nb.n AS nb
        |  FROM cand LEFT JOIN inter ON a_id = ia AND b_id = ib
        |  JOIN sizes na ON a_id = na.doc_id
        |  JOIN sizes nb ON b_id = nb.doc_id),
        |jb AS (SELECT CAST(i * 10000 // greatest(na + nb - i, 1)
        |    AS BIGINT) AS j_e4 FROM scored)
        |SELECT CAST(j_e4 // 1000 AS BIGINT) AS bucket,
        | CAST(count(*) AS BIGINT) AS n_pairs,
        | CAST(min(j_e4) AS BIGINT) AS min_j_e4,
        | CAST(max(j_e4) AS BIGINT) AS max_j_e4
        |FROM jb GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q_llm_maxsim" ->
      s"""WITH $cosCte,
        |ch AS (SELECT vec_id, ci,
        |   v[ci * 8 + 1 : ci * 8 + 8] AS cv,
        |   sqrt(list_inner_product(v[ci * 8 + 1 : ci * 8 + 8],
        |        v[ci * 8 + 1 : ci * 8 + 8])) AS cn
        |  FROM emb CROSS JOIN (SELECT unnest(range(0, 8)) AS ci)),
        |pc AS (SELECT vec_id AS probe_id, ci AS qi, cv AS qv, cn AS qn
        |  FROM ch WHERE vec_id < 5),
        |best AS (SELECT probe_id, c.vec_id, qi,
        |   max(round(list_inner_product(c.cv, p.qv)
        |     / (c.cn * p.qn), 6)) AS m
        |  FROM ch c JOIN pc p ON c.vec_id <> p.probe_id
        |  GROUP BY 1, 2, 3),
        |sc AS (SELECT probe_id, vec_id,
        |   max(CASE WHEN qi = 0 THEN m END) AS t0,
        |   max(CASE WHEN qi = 1 THEN m END) AS t1,
        |   max(CASE WHEN qi = 2 THEN m END) AS t2,
        |   max(CASE WHEN qi = 3 THEN m END) AS t3,
        |   max(CASE WHEN qi = 4 THEN m END) AS t4,
        |   max(CASE WHEN qi = 5 THEN m END) AS t5,
        |   max(CASE WHEN qi = 6 THEN m END) AS t6,
        |   max(CASE WHEN qi = 7 THEN m END) AS t7
        |  FROM best GROUP BY 1, 2)
        |SELECT probe_id, rank, vec_id, maxsim FROM (
        | SELECT probe_id, vec_id,
        |   round(t0 + t1 + t2 + t3 + t4 + t5 + t6 + t7, 6) AS maxsim,
        |   CAST(row_number() OVER (PARTITION BY probe_id
        |     ORDER BY round(t0 + t1 + t2 + t3 + t4 + t5 + t6 + t7, 6)
        |       DESC, vec_id) AS BIGINT) AS rank
        | FROM sc) t WHERE rank <= 3
        |ORDER BY probe_id, rank""".stripMargin,
    "q_llm_active_diverse" ->
      s"""WITH ${ModelPrep.scoreCte},
        |$cosCte,
        |cents AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn
        |  FROM emb WHERE vec_id < 16),
        |asg AS (SELECT e.vec_id, c.c_id,
        |  row_number() OVER (PARTITION BY e.vec_id
        |    ORDER BY round(list_inner_product(e.v, c.cv)
        |      / (e.nrm * c.cn), 6) DESC, c.c_id) AS arn
        |  FROM emb e CROSS JOIN cents c),
        |assigned AS (SELECT vec_id, c_id AS bucket FROM asg
        |  WHERE arn = 1),
        |mg AS (SELECT doc_id,
        |   CAST(abs(CAST(floor(score * 10000.0 + 0.5) AS BIGINT) - 5000)
        |     AS BIGINT) AS margin_e4 FROM sc0)
        |SELECT bucket, rank, doc_id, margin_e4 FROM (
        | SELECT a.bucket, m.doc_id, m.margin_e4,
        |   CAST(row_number() OVER (PARTITION BY a.bucket
        |     ORDER BY m.margin_e4, m.doc_id) AS BIGINT) AS rank
        | FROM assigned a JOIN mg m ON a.vec_id = m.doc_id) t
        |WHERE rank <= 2
        |ORDER BY bucket, rank""".stripMargin,
    "q_llm_hash_featurize" ->
      s"""WITH $shingleCte,
        |vocab AS (SELECT DISTINCT s FROM sh),
        |loads AS (SELECT (CAST(concat('0x', substr(md5(s), 1, 15))
        |    AS BIGINT) % 1000000007) % 4096 AS bucket,
        |   CAST(count(*) AS BIGINT) AS load
        |  FROM vocab GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_vocab FROM vocab)
        |SELECT load, CAST(count(*) AS BIGINT) AS n_buckets,
        | CAST(load * count(*) AS BIGINT) AS vocab_mass,
        | CAST(load * count(*) * 10000 // max(n_vocab) AS BIGINT)
        |   AS mass_share_e4,
        | load >= 2 AS collided
        |FROM loads CROSS JOIN tot GROUP BY load ORDER BY load""".stripMargin,
    "q_llm_ivf_imbalance" ->
      s"""WITH $cosCte,
        |cents AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn
        |  FROM emb WHERE vec_id < 16),
        |asg AS (SELECT e.vec_id, c.c_id,
        |  row_number() OVER (PARTITION BY e.vec_id
        |    ORDER BY round(list_inner_product(e.v, c.cv)
        |      / (e.nrm * c.cn), 6) DESC, c.c_id) AS arn
        |  FROM emb e CROSS JOIN cents c),
        |assigned AS (SELECT vec_id, c_id AS bucket FROM asg
        |  WHERE arn = 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |   CAST(count(DISTINCT bucket) AS BIGINT) AS n_lists
        |  FROM assigned)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS list_size,
        | CAST(count(*) * 10000 // max(n) AS BIGINT) AS share_e4,
        | CAST(count(*) * max(n_lists) * 10000 // max(n) AS BIGINT)
        |   AS load_e4
        |FROM assigned CROSS JOIN tot
        |GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q_llm_ranker_tau" ->
      s"""WITH $bm25Ctes,
        |qst AS (SELECT sum(dl) AS cc, sum(tf1) AS cf1,
        |   sum(tf2) AS cf2, sum(tf3) AS cf3 FROM perdoc),
        |qls AS (SELECT doc_id,
        |   (CAST(floor(ln(tf1 * cc + 100 * cf1) * 1000 + 0.5) AS BIGINT)
        |    - CAST(floor(ln((dl + 100) * cc) * 1000 + 0.5) AS BIGINT))
        | + (CAST(floor(ln(tf2 * cc + 100 * cf2) * 1000 + 0.5) AS BIGINT)
        |    - CAST(floor(ln((dl + 100) * cc) * 1000 + 0.5) AS BIGINT))
        | + (CAST(floor(ln(tf3 * cc + 100 * cf3) * 1000 + 0.5) AS BIGINT)
        |    - CAST(floor(ln((dl + 100) * cc) * 1000 + 0.5) AS BIGINT))
        |   AS ql_e3
        |  FROM perdoc CROSS JOIN qst WHERE tf1 + tf2 + tf3 > 0),
        |tb AS (SELECT doc_id FROM bmsc ORDER BY bm25 DESC, doc_id
        |  LIMIT 20),
        |tq AS (SELECT doc_id FROM qls ORDER BY ql_e3 DESC, doc_id
        |  LIMIT 20),
        |u0 AS (SELECT DISTINCT doc_id FROM (SELECT doc_id FROM tb
        |  UNION ALL SELECT doc_id FROM tq)),
        |ranked AS (SELECT u0.doc_id,
        |   CAST(row_number() OVER (ORDER BY b.bm25 DESC, u0.doc_id)
        |     AS BIGINT) AS rb,
        |   CAST(row_number() OVER (ORDER BY q.ql_e3 DESC, u0.doc_id)
        |     AS BIGINT) AS rq
        |  FROM u0 JOIN bmsc b ON b.doc_id = u0.doc_id
        |  JOIN qls q ON q.doc_id = u0.doc_id),
        |p AS (SELECT CASE WHEN (a.rb < b.rb) = (a.rq < b.rq)
        |    THEN 1 ELSE 0 END AS conc
        |  FROM ranked a JOIN ranked b ON a.doc_id < b.doc_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        | CAST(sum(conc) AS BIGINT) AS concordant,
        | CAST(count(*) - sum(conc) AS BIGINT) AS discordant,
        | CAST((2 * sum(conc)) * 10000 // (2 * count(*)) AS BIGINT)
        |   AS tau_shift_e4
        |FROM p""".stripMargin,
    "q_llm_rare_shingle_pairs" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |tri AS (SELECT DISTINCT doc_id, unnest(list_transform(
        |    generate_series(1, len(tk) - 2),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
        |  FROM toks),
        |dfd AS (SELECT sh, CAST(count(*) AS BIGINT) AS df FROM tri
        |  GROUP BY 1),
        |nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n
        |  FROM documents),
        |rare AS (SELECT t.doc_id, t.sh,
        |   CAST(floor(ln(n) * 1000 + 0.5) AS BIGINT)
        |   - CAST(floor(ln(df) * 1000 + 0.5) AS BIGINT) AS w
        |  FROM tri t JOIN dfd USING (sh) CROSS JOIN nd
        |  WHERE df BETWEEN 2 AND 32)
        |SELECT u, v, n_shared, score_e3 FROM (
        | SELECT a.doc_id AS u, b.doc_id AS v,
        |   CAST(count(*) AS BIGINT) AS n_shared,
        |   CAST(sum(a.w) AS BIGINT) AS score_e3
        | FROM rare a JOIN rare b
        |   ON a.sh = b.sh AND a.doc_id < b.doc_id
        | GROUP BY 1, 2) t
        |WHERE n_shared >= 2
        |ORDER BY score_e3 DESC, u, v LIMIT 20""".stripMargin,
    "q_llm_tfidf_cosine" ->
      """WITH tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |        FROM documents) t GROUP BY 1, 2),
        |dfq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf
        |  GROUP BY 1),
        |nn AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n
        |  FROM tf),
        |inv AS (SELECT tf.tok, doc_id,
        |   tf * (CAST(floor(ln(n) * 1000 + 0.5) AS BIGINT)
        |     - CAST(floor(ln(df) * 1000 + 0.5) AS BIGINT)) AS w
        |  FROM tf JOIN dfq USING (tok) CROSS JOIN nn),
        |nrm AS (SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS s2
        |  FROM inv GROUP BY 1),
        |dots AS (SELECT p.doc_id AS probe_id, c.doc_id,
        |   CAST(count(*) AS BIGINT) AS n_shared,
        |   CAST(sum(p.w * c.w) AS BIGINT) AS dot
        |  FROM inv p JOIN inv c ON p.tok = c.tok
        |   AND c.doc_id <> p.doc_id
        |  WHERE p.doc_id < 10 GROUP BY 1, 2),
        |sc AS (SELECT probe_id, dots.doc_id AS doc_id, n_shared,
        |   CAST(CAST(dot AS HUGEINT) * dot * 100000000
        |     // greatest(CAST(na.s2 AS HUGEINT) * nb.s2, 1) AS BIGINT)
        |     AS cos2_e8
        |  FROM dots JOIN nrm na ON na.doc_id = dots.probe_id
        |   JOIN nrm nb ON nb.doc_id = dots.doc_id)
        |SELECT probe_id, rank, doc_id, n_shared, cos2_e8 FROM (
        |  SELECT probe_id, doc_id, n_shared, cos2_e8,
        |    CAST(row_number() OVER (PARTITION BY probe_id
        |      ORDER BY cos2_e8 DESC, doc_id) AS BIGINT) AS rank
        |  FROM sc) t
        |WHERE rank <= 3 ORDER BY probe_id, rank""".stripMargin,
    "q_llm_rrf_sweep" ->
      s"""WITH $bm25Ctes,
        |lex AS (SELECT doc_id, lex_rank FROM (
        |   SELECT doc_id, CAST(row_number() OVER (
        |     ORDER BY bm25 DESC, doc_id) AS BIGINT) AS lex_rank
        |   FROM bmsc) t WHERE lex_rank <= 50),
        |$cosCte,
        |dense AS (SELECT doc_id, dense_rank FROM (
        |   SELECT c.vec_id AS doc_id, CAST(row_number() OVER (ORDER BY
        |     round(list_inner_product(p.v, c.v) / (p.nrm * c.nrm), 6)
        |       DESC, c.vec_id) AS BIGINT) AS dense_rank
        |   FROM emb p JOIN emb c ON c.vec_id <> p.vec_id
        |   WHERE p.vec_id = 7) t WHERE dense_rank <= 50),
        |fused AS (SELECT coalesce(l.doc_id, d.doc_id) AS doc_id,
        |   lex_rank, dense_rank
        |  FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.doc_id),
        |s60 AS (SELECT doc_id, r FROM (SELECT doc_id,
        |   row_number() OVER (ORDER BY
        |     coalesce(1000000000000 // (60 + lex_rank), 0)
        |     + coalesce(1000000000000 // (60 + dense_rank), 0) DESC,
        |     doc_id) AS r FROM fused) t WHERE r <= 10),
        |s10 AS (SELECT doc_id, r FROM (SELECT doc_id,
        |   row_number() OVER (ORDER BY
        |     coalesce(1000000000000 // (10 + lex_rank), 0)
        |     + coalesce(1000000000000 // (10 + dense_rank), 0) DESC,
        |     doc_id) AS r FROM fused) t WHERE r <= 10),
        |s200 AS (SELECT doc_id, r FROM (SELECT doc_id,
        |   row_number() OVER (ORDER BY
        |     coalesce(1000000000000 // (200 + lex_rank), 0)
        |     + coalesce(1000000000000 // (200 + dense_rank), 0) DESC,
        |     doc_id) AS r FROM fused) t WHERE r <= 10)
        |SELECT * FROM (
        | SELECT 'k060' AS config, CAST(60 AS BIGINT) AS k,
        |  (SELECT CAST(count(*) AS BIGINT) FROM s60 a
        |    JOIN s60 b ON a.doc_id = b.doc_id) AS overlap10,
        |  (SELECT a.doc_id = b.doc_id FROM s60 a, s60 b
        |    WHERE a.r = 1 AND b.r = 1) AS top1_same
        | UNION ALL SELECT 'k010', CAST(10 AS BIGINT),
        |  (SELECT CAST(count(*) AS BIGINT) FROM s10
        |    JOIN s60 ON s10.doc_id = s60.doc_id),
        |  (SELECT a.doc_id = b.doc_id FROM s10 a, s60 b
        |    WHERE a.r = 1 AND b.r = 1)
        | UNION ALL SELECT 'k200', CAST(200 AS BIGINT),
        |  (SELECT CAST(count(*) AS BIGINT) FROM s200
        |    JOIN s60 ON s200.doc_id = s60.doc_id),
        |  (SELECT a.doc_id = b.doc_id FROM s200 a, s60 b
        |    WHERE a.r = 1 AND b.r = 1)
        |) u ORDER BY config""".stripMargin,
    "q_llm_lang_id" ->
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
        |  FROM dtok JOIN prof USING (token) GROUP BY 1, 2, 3)
        |SELECT doc_id, p_lang AS pred_lang, score, lang AS actual_lang,
        | p_lang = lang AS correct
        |FROM (SELECT doc_id, lang, p_lang, score,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, p_lang) AS rn FROM sc) t
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "q_llm_quality_score" ->
      """SELECT doc_id, CAST(len(tk) AS INTEGER) AS n_tok,
        | floor((1.0 * len(list_distinct(tk)) / len(tk)) * 10000.0 + 0.5)
        |   / 10000.0 AS ttr,
        | floor((1.0 * len([t for t in tk
        |   if t IN ('the','a','of','and','to','in','is')]) / len(tk))
        |   * 10000.0 + 0.5) / 10000.0 AS stop_ratio,
        | floor((0.4 * (1.0 * len(list_distinct(tk)) / len(tk))
        |   + 0.3 * (1 - 1.0 * len([t for t in tk
        |       if t IN ('the','a','of','and','to','in','is')]) / len(tk))
        |   + 0.3 * least(len(tk) / 100.0, 1.0)) * 10000.0 + 0.5)
        |   / 10000.0 AS quality
        |FROM (SELECT doc_id, string_split(text, ' ') AS tk
        |      FROM documents) t
        |ORDER BY doc_id""".stripMargin,
    "q_llm_dataset_card" ->
      """WITH d AS (SELECT doc_id, lang, source,
        |   string_split(text, ' ') AS tk,
        |   sha256(lower(trim(text))) AS h
        |  FROM documents),
        |q AS (SELECT doc_id, lang, source, h,
        |   CAST(len(tk) AS BIGINT) AS n_tok,
        |   CAST(floor((0.4 * (1.0 * len(list_distinct(tk)) / len(tk))
        |     + 0.3 * (1 - 1.0 * len([t for t in tk
        |         if t IN ('the','a','of','and','to','in','is')]) / len(tk))
        |     + 0.3 * least(len(tk) / 100.0, 1.0)) * 10000.0) AS BIGINT)
        |     AS q_e4
        |  FROM d),
        |stats AS (SELECT lang, count(*) AS n_docs,
        |   CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |   count(DISTINCT source) AS n_sources,
        |   CAST(floor((1.0 - 1.0 * count(DISTINCT h) / count(*))
        |     * 10000.0 + 0.5) AS BIGINT) AS dup_rate_e4,
        |   CAST(floor(CAST(sum(q_e4) AS DOUBLE) / count(*) + 0.5)
        |     AS BIGINT) AS mean_q_e4
        |  FROM q GROUP BY 1),
        |src AS (SELECT lang, source AS top_source,
        |   src_cnt AS top_source_docs
        |  FROM (SELECT lang, source, count(*) AS src_cnt,
        |     row_number() OVER (PARTITION BY lang
        |       ORDER BY count(*) DESC, source) AS rn
        |    FROM q GROUP BY lang, source) WHERE rn = 1)
        |SELECT s.lang, s.n_docs, s.n_tokens, s.n_sources, s.dup_rate_e4,
        | s.mean_q_e4, src.top_source, src.top_source_docs
        |FROM stats s JOIN src ON s.lang = src.lang
        |ORDER BY s.lang""".stripMargin,
    "q_llm_token_count" ->
      """SELECT doc_id,
        | CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws,
        | CAST(len(regexp_extract_all(text, '\S{1,4}')) AS INTEGER)
        |   AS n_bpe,
        | CAST(length(text) AS INTEGER) AS n_chars_calc
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_llm_fingerprint" ->
      """SELECT doc_id, list_reduce(list_prepend(0::BIGINT,
        |  [CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT)
        |     % 1000000007 for t in string_split(text, ' ')]),
        |  (h, x) -> (h * 31 + x) % 1000000007) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_llm_decontaminate" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk
        |  FROM documents),
        |g AS (SELECT doc_id, unnest(
        |  [CAST(concat('0x', substr(md5(
        |     array_to_string(tk[i:i+12], ' ')), 1, 15)) AS BIGINT)
        |   for i in range(1, greatest(len(tk) - 11, 1))]) AS gh
        |  FROM toks),
        |b AS (SELECT DISTINCT gh FROM g WHERE doc_id % 10 = 0)
        |SELECT g.doc_id, count(DISTINCT g.gh) AS n_hit
        |FROM g JOIN b ON g.gh = b.gh
        |WHERE g.doc_id % 10 <> 0
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,
    "q_llm_repetition" ->
      """SELECT doc_id,
        | CAST(len(g3) AS INTEGER) AS n_g,
        | CAST(len(list_distinct(g3)) AS INTEGER) AS n_uniq,
        | CASE WHEN len(g3) = 0 THEN 0.0
        |   ELSE floor((1.0 - 1.0 * len(list_distinct(g3)) / len(g3))
        |     * 10000.0 + 0.5) / 10000.0 END AS rep_ratio
        |FROM (SELECT doc_id,
        |   [array_to_string(tk[i:i+2], ' ')
        |    for i in range(1, greatest(len(tk) - 1, 1))] AS g3
        |  FROM (SELECT doc_id, string_split(text, ' ') AS tk
        |        FROM documents) t) s
        |ORDER BY doc_id""".stripMargin,
    "q_llm_curation" ->
      """WITH d AS (SELECT doc_id, text, lang,
        |   string_split(text, ' ') AS tk,
        |   min(doc_id) OVER (PARTITION BY lower(trim(text))) AS keep_id
        |  FROM documents),
        |scored AS (SELECT doc_id, lang,
        |   CAST(len(tk) AS INTEGER) AS n_tok,
        |   floor((0.4 * (1.0 * len(list_distinct(tk)) / len(tk))
        |     + 0.3 * (1 - 1.0 * len([t for t in tk
        |         if t IN ('the','a','of','and','to','in','is')]) / len(tk))
        |     + 0.3 * least(len(tk) / 100.0, 1.0)) * 10000.0 + 0.5)
        |     / 10000.0 AS quality
        |  FROM d WHERE doc_id = keep_id AND len(tk) >= 20),
        |gated AS (SELECT * FROM scored WHERE quality >= 0.55)
        |SELECT lang, rank, doc_id, n_tok, quality FROM (
        |  SELECT lang, doc_id, n_tok, quality,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY quality DESC, doc_id) AS INTEGER) AS rank
        |  FROM gated) t WHERE rank <= 50
        |ORDER BY lang, rank""".stripMargin,
    "q_llm_seq_pack" ->
      """WITH d AS (SELECT lang, doc_id,
        |   len(string_split(text, ' ')) AS n_tok,
        |   sum(len(string_split(text, ' ')))
        |     OVER (PARTITION BY lang ORDER BY doc_id) AS cum
        |  FROM documents)
        |SELECT lang, CAST((cum - n_tok) // 1024 AS BIGINT) AS bin,
        | count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS bin_tok,
        | min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM d GROUP BY lang, bin ORDER BY lang, bin""".stripMargin,
    "q_llm_pack_sweep" ->
      """WITH d AS (SELECT lang, doc_id,
        |   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |   CAST(sum(len(string_split(text, ' ')))
        |     OVER (PARTITION BY lang ORDER BY doc_id) AS BIGINT) AS cum
        |  FROM documents),
        |ctx AS (SELECT CAST(unnest([512, 1024, 2048]) AS BIGINT)
        |   AS context),
        |perlang AS (SELECT context, lang,
        |   max((cum - n_tok) // context) + 1 AS bins,
        |   sum(n_tok) AS tok
        |  FROM d CROSS JOIN ctx GROUP BY 1, 2),
        |f AS (SELECT context, sum(bins) AS n_bins,
        |   sum(tok) AS total_tok FROM perlang GROUP BY context)
        |SELECT context, CAST(n_bins AS BIGINT) AS n_bins,
        | CAST(total_tok AS BIGINT) AS total_tok,
        | CAST(total_tok * 10000 // (n_bins * context) AS BIGINT)
        |   AS util_e4
        |FROM f ORDER BY context""".stripMargin,
    "q_llm_domain_mix" ->
      """WITH d AS (SELECT lang, doc_id,
        |   len(string_split(text, ' ')) AS n_tok,
        |   CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |     AS BIGINT) % 1000000 AS h
        |  FROM documents),
        |c AS (SELECT lang, count(*) AS n_docs FROM d GROUP BY lang),
        |m AS (SELECT min(n_docs) AS min_n FROM c)
        |SELECT d.lang, max(c.n_docs) AS n_docs,
        | CAST(count(*) FILTER (WHERE d.h * c.n_docs < m.min_n * 1000000)
        |   AS BIGINT) AS n_kept,
        | CAST(coalesce(sum(d.n_tok)
        |   FILTER (WHERE d.h * c.n_docs < m.min_n * 1000000), 0)
        |   AS BIGINT) AS kept_tok
        |FROM d JOIN c ON d.lang = c.lang CROSS JOIN m
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin,
    "q_llm_perplexity" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
        |  FROM documents),
        |uni AS (SELECT w1, count(*) AS c1 FROM
        |  (SELECT unnest(tk) AS w1 FROM t) GROUP BY w1),
        |v AS (SELECT count(*) AS v FROM uni),
        |bi AS (SELECT doc_id, unnest(
        |   [tk[i] || ' ' || tk[i+1] for i in range(1, greatest(len(tk), 1))])
        |   AS bg FROM t),
        |bw AS (SELECT doc_id, bg, split_part(bg, ' ', 1) AS w1 FROM bi),
        |c2 AS (SELECT bg, count(*) AS c2 FROM bw GROUP BY bg)
        |SELECT bw.doc_id, count(*) AS n_bi,
        | floor(-avg(ln((c2.c2 + 1.0) / (uni.c1 + v.v)))
        |   * 10000.0 + 0.5) / 10000.0 AS nll
        |FROM bw JOIN c2 ON bw.bg = c2.bg
        | JOIN uni ON bw.w1 = uni.w1 CROSS JOIN v
        |GROUP BY bw.doc_id ORDER BY bw.doc_id""".stripMargin,
    "q_llm_chunk_split" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
        |  FROM documents),
        |ch AS (SELECT doc_id,
        |   unnest([s for s in range(1, greatest(len(tk), 1) + 1, 24)])
        |     AS start,
        |   unnest([array_to_string(tk[s:s+31], ' ')
        |           for s in range(1, greatest(len(tk), 1) + 1, 24)]) AS ch
        |  FROM t)
        |SELECT doc_id, CAST(start AS INTEGER) AS start,
        | CAST(len(string_split(ch, ' ')) AS INTEGER) AS n_ctok,
        | CAST(concat('0x', substr(md5(ch), 1, 15)) AS BIGINT) AS chunk_h
        |FROM ch ORDER BY doc_id, start""".stripMargin,
    "q_llm_pq_quantize" ->
      """WITH s AS (SELECT unnest(range(0, 8)) AS sub),
        |p AS (SELECT vec_id, CAST(s.sub AS INTEGER) AS sub,
        |   [embedding[i]::DOUBLE
        |    for i in range(s.sub * 8 + 1, s.sub * 8 + 9)] AS v
        |  FROM embeddings, s),
        |c AS (SELECT vec_id AS cid, sub, v AS cv FROM p WHERE vec_id < 8),
        |d AS (SELECT p.vec_id, p.sub, c.cid,
        |   list_sum([(p.v[i] - c.cv[i]) * (p.v[i] - c.cv[i])
        |             for i in range(1, 9)]) AS dist,
        |   row_number() OVER (PARTITION BY p.vec_id, p.sub
        |     ORDER BY list_sum([(p.v[i] - c.cv[i]) * (p.v[i] - c.cv[i])
        |               for i in range(1, 9)]), c.cid) AS rn
        |  FROM p JOIN c ON p.sub = c.sub)
        |SELECT vec_id, sub, cid AS code,
        | floor(dist * 10000.0 + 0.5) / 10000.0 AS resid
        |FROM d WHERE rn = 1 ORDER BY vec_id, sub""".stripMargin,
    "q_llm_heavy_hitters" ->
      """WITH toks AS (SELECT lang, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |cnts AS (SELECT lang, tok, count(*) AS true_cnt
        |  FROM toks GROUP BY lang, tok),
        |tot AS (SELECT lang, CAST(sum(true_cnt) AS BIGINT) AS n
        |  FROM cnts GROUP BY lang)
        |SELECT c.lang, c.tok, c.true_cnt,
        | TRUE AS reported, TRUE AS within_err
        |FROM cnts c JOIN tot t ON c.lang = t.lang
        |WHERE c.true_cnt * 65 > t.n
        |ORDER BY c.lang, c.tok""".stripMargin,
    "q_llm_html_strip" ->
      """WITH d AS (SELECT doc_id,
        |   length('<html><body class="doc"><h1>' || source || '</h1>' ||
        |          chr(10) || '<p>' || text ||
        |          '</p><br/>&amp;&nbsp;tail&#33;</body></html>') AS n_html,
        |   source || ' ' || text || ' & tail!' AS clean
        |  FROM documents)
        |SELECT doc_id, CAST(n_html AS INTEGER) AS n_html,
        | CAST(length(clean) AS INTEGER) AS n_clean,
        | CAST(concat('0x', substr(md5(clean), 1, 15)) AS BIGINT) AS clean_h
        |FROM d ORDER BY doc_id""".stripMargin,
    "q_llm_incr_dedup" ->
      """WITH hashed AS (SELECT doc_id,
        |   sha256(lower(trim(text))) AS h FROM documents),
        |corpus AS (SELECT h FROM hashed WHERE doc_id < 400),
        |batch AS (SELECT h, min(doc_id) AS doc_id, count(*) AS batch_dups
        |  FROM hashed WHERE doc_id >= 400 GROUP BY h)
        |SELECT b.doc_id, b.batch_dups FROM batch b
        |WHERE b.h NOT IN (SELECT h FROM corpus)
        |ORDER BY b.doc_id""".stripMargin,
    "q_llm_span_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
        |  FROM documents),
        |sp AS (SELECT doc_id,
        |   unnest([s for s in range(1, greatest(len(tk), 1) + 1, 20)])
        |     AS start,
        |   unnest([array_to_string(tk[s:s+19], ' ')
        |           for s in range(1, greatest(len(tk), 1) + 1, 20)]) AS ch
        |  FROM t),
        |r AS (SELECT doc_id, start, ch, row_number() OVER (
        |   PARTITION BY CAST('0x' || substr(md5(ch), 1, 15) AS BIGINT)
        |   ORDER BY doc_id, start) AS rn FROM sp)
        |SELECT doc_id, count(*) AS n_spans,
        | CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        | CAST('0x' || substr(md5(coalesce(
        |   string_agg(CASE WHEN rn = 1 THEN ch END, ' ' ORDER BY start),
        |   '')), 1, 15) AS BIGINT) AS clean_h
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_llm_fuzzy_join" ->
      """WITH names AS (SELECT p_name, count(*) AS n_rows,
        |   split_part(p_name, ' ', 1) AS blk FROM part GROUP BY p_name),
        |small AS (SELECT blk FROM names GROUP BY blk
        |  HAVING count(*) <= 64),
        |b AS (SELECT names.* FROM names JOIN small USING (blk))
        |SELECT a.p_name AS a_name, c.p_name AS b_name,
        | levenshtein(a.p_name, c.p_name) AS dist,
        | a.n_rows + c.n_rows AS pair_rows
        |FROM b a JOIN b c ON a.blk = c.blk AND a.p_name < c.p_name
        |WHERE levenshtein(a.p_name, c.p_name) <= 3
        |ORDER BY a_name, b_name""".stripMargin,
  )

  /** q_llm_ann_recall's oracle is COMPOSED from the four method oracles
    * plus the brute-force baseline oracle (each wrapped as a subquery) —
    * it can never drift from the per-method definitions. */
  /** Unrolled 5-step MMR oracle — one CTE per greedy pick, the shifted
    * nonneg integer update mirroring [[mmrRerank]] exactly (DuckDB `//`
    * on the shifted domain == Spark `div`). */
  private def mmrOracle: String = {
    def step(k: Int, prev: String): String =
      s"""s$k AS (SELECT u.id,
         |  (7*(u.rel_e6 + 1000000) + 3*(1000000 - max(s.sim_e6))) // 10
         |    - 1000000 AS mmr_e6, CAST($k AS INTEGER) AS rank
         |  FROM cand u JOIN sims s ON s.a = u.id
         |    AND s.b IN (SELECT id FROM $prev)
         |  WHERE u.id NOT IN (SELECT id FROM $prev)
         |  GROUP BY u.id, u.rel_e6 ORDER BY mmr_e6 DESC, u.id LIMIT 1)"""
        .stripMargin
    s"""WITH $cosCte,
       |cand AS (SELECT c.vec_id AS id,
       |   CAST(floor(round(list_inner_product(p.v, c.v) / (p.nrm * c.nrm),
       |     6) * 1000000 + 0.5) AS BIGINT) AS rel_e6
       |  FROM emb p JOIN emb c ON c.vec_id <> p.vec_id
       |  WHERE p.vec_id = 7 ORDER BY rel_e6 DESC, id LIMIT 10),
       |sims AS (SELECT a.id AS a, b.id AS b,
       |   CAST(floor(round(list_inner_product(ea.v, eb.v) /
       |     (ea.nrm * eb.nrm), 6) * 1000000 + 0.5) AS BIGINT) AS sim_e6
       |  FROM cand a JOIN cand b ON a.id <> b.id
       |  JOIN emb ea ON ea.vec_id = a.id JOIN emb eb ON eb.vec_id = b.id),
       |s1 AS (SELECT id, rel_e6 AS mmr_e6, CAST(1 AS INTEGER) AS rank
       |  FROM cand ORDER BY rel_e6 DESC, id LIMIT 1),
       |${step(2, "s1")},
       |sel2 AS (SELECT id FROM s1 UNION ALL SELECT id FROM s2),
       |${step(3, "sel2")},
       |sel3 AS (SELECT id FROM sel2 UNION ALL SELECT id FROM s3),
       |${step(4, "sel3")},
       |sel4 AS (SELECT id FROM sel3 UNION ALL SELECT id FROM s4),
       |${step(5, "sel4")}
       |SELECT rank, id AS doc_id, mmr_e6 FROM (
       | SELECT * FROM s1 UNION ALL SELECT * FROM s2
       | UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4
       | UNION ALL SELECT * FROM s5) ORDER BY rank""".stripMargin
  }

  private def annRecallOracle: String = {
    def top3(key: String, m: String): String =
      s"(SELECT '$m' AS method, probe_id, vec_id " +
        s"FROM (${oracleBase(key)}) q WHERE rank <= 3)"
    s"""WITH brute AS (SELECT probe_id, vec_id
       |  FROM (${oracleBase("q_llm_cosine_topk")}) b WHERE rank <= 3),
       |tagged AS (${top3("q_llm_lsh_ann", "lsh_8bit")}
       |  UNION ALL ${top3("q_llm_lsh_ann_multi", "lsh_multi4")}
       |  UNION ALL ${top3("q_llm_ivf_ann", "ivf_probe1")}
       |  UNION ALL ${top3("q_llm_ivf_ann_probe2", "ivf_probe2")}
       |  UNION ALL ${top3("q_llm_ivf_ann_probe4", "ivf_probe4")}
       |  UNION ALL ${top3("q_llm_ivf_pq", "ivf_pq")}
       |  UNION ALL ${top3("q_llm_ivf_pq_rerank", "ivf_pq_r20")}),
       |denom AS (SELECT count(*) AS total FROM brute),
       |ret AS (SELECT method, count(*) AS n_returned FROM tagged
       |  GROUP BY method),
       |hits AS (SELECT method, count(*) AS n_hits FROM tagged t
       |  WHERE EXISTS (SELECT 1 FROM brute b
       |    WHERE b.probe_id = t.probe_id AND b.vec_id = t.vec_id)
       |  GROUP BY method)
       |SELECT r.method, r.n_returned, coalesce(h.n_hits, 0) AS n_hits,
       | coalesce(h.n_hits, 0) * 10000 // total AS recall_e4
       |FROM ret r LEFT JOIN hits h USING (method) CROSS JOIN denom
       |ORDER BY method""".stripMargin
  }

  /** Cost-scoreboard oracle: per-method candidate counts from the same
    * bucket constructions as the per-method oracles; one shared c_ivf
    * CTE carries the probe's list rank so every nprobe row is a WHERE
    * over it ([[annCost]]'s scaladoc explains ivf_pq ≡ ivf_probe1). */
  private def annCostOracle: String = {
    val bits1 = (0 until 8).map(i =>
      s"(CASE WHEN v[${i + 1}] > 0 THEN ${1 << i} ELSE 0 END)")
      .mkString("\n  + ")
    val bitsT = (0 until 8).map(i =>
      s"(CASE WHEN v[t*8+${i + 1}] > 0 THEN ${1 << i} ELSE 0 END)")
      .mkString("\n  + ")
    s"""WITH $cosCte,
       |b1 AS (SELECT vec_id, $bits1 AS bucket FROM emb),
       |c_lsh AS (SELECT p.vec_id AS probe_id, c.vec_id
       |  FROM b1 p JOIN b1 c ON p.bucket = c.bucket
       |   AND c.vec_id <> p.vec_id WHERE p.vec_id < 20),
       |tb AS (SELECT unnest([0, 1, 2, 3]) AS t),
       |bm AS (SELECT vec_id, t, $bitsT AS bucket
       |  FROM emb CROSS JOIN tb),
       |c_multi AS (SELECT DISTINCT p.vec_id AS probe_id, c.vec_id
       |  FROM bm p JOIN bm c ON p.t = c.t AND p.bucket = c.bucket
       |   AND c.vec_id <> p.vec_id WHERE p.vec_id < 20),
       |cents AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn
       |  FROM emb WHERE vec_id < 16),
       |asg AS (SELECT e.vec_id, c.c_id,
       |  row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY round(list_inner_product(e.v, c.cv)
       |      / (e.nrm * c.cn), 6) DESC, c.c_id) AS arn
       |  FROM emb e CROSS JOIN cents c),
       |bucketed AS (SELECT vec_id, c_id AS bucket FROM asg
       |  WHERE arn = 1),
       |c_ivf AS (SELECT p.vec_id AS probe_id, c.vec_id, p.arn
       |  FROM (SELECT vec_id, c_id AS p_bucket, arn FROM asg
       |    WHERE arn <= 4 AND vec_id < 20) p
       |  JOIN bucketed c ON p.p_bucket = c.bucket
       |   AND c.vec_id <> p.vec_id),
       |counts AS (
       |  SELECT 'lsh_8bit' AS method, count(*) AS n_cand FROM c_lsh
       |  UNION ALL SELECT 'lsh_multi4', count(*) FROM c_multi
       |  UNION ALL SELECT 'ivf_probe1', count(*) FROM c_ivf
       |    WHERE arn <= 1
       |  UNION ALL SELECT 'ivf_probe2', count(*) FROM c_ivf
       |    WHERE arn <= 2
       |  UNION ALL SELECT 'ivf_probe4', count(*) FROM c_ivf
       |    WHERE arn <= 4
       |  UNION ALL SELECT 'ivf_pq', count(*) FROM c_ivf
       |    WHERE arn <= 1),
       |denom AS (SELECT count(*) AS n_vec FROM emb)
       |SELECT method, CAST(n_cand AS BIGINT) AS n_cand,
       | CAST(n_cand // 20 AS BIGINT) AS cand_per_probe,
       | CAST(n_cand * 10000 // (20 * (n_vec - 1)) AS BIGINT)
       |   AS pct_of_brute_e4
       |FROM counts CROSS JOIN denom ORDER BY method""".stripMargin
  }

  /** Cascade oracle COMPOSED from the exact-dedup and cluster oracles
    * (same can't-drift contract as [[annRecallOracle]]); the WHERE
    * encodes the cluster-min lemma from [[dedupCascade]]'s scaladoc. */
  private def dedupCascadeOracle: String =
    s"""WITH ex AS (${oracleBase("q_llm_exact_dedup")}),
       |keepers AS (SELECT keep_id AS doc_id FROM ex),
       |cl AS (SELECT doc_id, cluster_id
       |  FROM (${oracleBase("q_llm_dup_clusters")}) c),
       |cmins AS (SELECT cluster_id, min(doc_id) AS cmin FROM cl
       |  GROUP BY cluster_id),
       |fin AS (SELECT k.doc_id FROM keepers k
       |  LEFT JOIN cl ON cl.doc_id = k.doc_id
       |  LEFT JOIN cmins ON cmins.cluster_id = cl.cluster_id
       |  WHERE cl.cluster_id IS NULL OR k.doc_id = cmins.cmin)
       |SELECT CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_docs,
       | CAST((SELECT count(*) FROM keepers) AS BIGINT) AS n_exact_kept,
       | CAST((SELECT count(*) FROM fin) AS BIGINT) AS n_final_kept,
       | CAST((SELECT count(*) FROM fin) * 10000
       |   // (SELECT count(*) FROM documents) AS BIGINT) AS retention_e4
       |""".stripMargin

  /** Sampled twin of the Spark arm: the identical 60 % doc
    * sample (md5-h60 % 5 < 3) applied to the shingle frame, df-cap
    * still full-corpus (shingleCte first, sample on its output — same
    * order of operations as the Spark side and [[bandSweepOracle]]).
    * Exact baseline, LSH candidates, and verify all read `shs`. */
  private def lshRecallOracle: String =
    s"""WITH $shingleCte,
       |shs AS (SELECT doc_id, s FROM sh
       |  WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),
       |    1, 15)) AS BIGINT) % 5 < 3),
       |${mhCteFrom("shs")},
       |sizes AS (SELECT doc_id, count(*) AS n FROM shs GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
       |  FROM shs a JOIN shs b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |ex AS (SELECT ia AS a_id, ib AS b_id FROM inter
       |  JOIN sizes na ON ia = na.doc_id
       |  JOIN sizes nb ON ib = nb.doc_id
       |  WHERE 1.0 * i / (na.n + nb.n - i) >= 0.8),
       |bands AS (SELECT doc_id, j // 2 AS band,
       |  string_agg(j || ':' || m, ',' ORDER BY j) AS sig
       |  FROM mh GROUP BY doc_id, j // 2),
       |cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
       |  FROM bands x JOIN bands y ON x.band = y.band AND x.sig = y.sig
       |   AND x.doc_id < y.doc_id),
       |ls AS (SELECT c.a_id, c.b_id FROM cand c
       |  JOIN inter iv ON c.a_id = iv.ia AND c.b_id = iv.ib
       |  JOIN sizes na ON c.a_id = na.doc_id
       |  JOIN sizes nb ON c.b_id = nb.doc_id
       |  WHERE 1.0 * iv.i / (na.n + nb.n - iv.i) >= 0.8),
       |bo AS (SELECT * FROM ls WHERE EXISTS (SELECT 1 FROM ex
       |  WHERE ex.a_id = ls.a_id AND ex.b_id = ls.b_id))
       |SELECT CAST((SELECT count(*) FROM ex) AS BIGINT) AS n_exact,
       | CAST((SELECT count(*) FROM ls) AS BIGINT) AS n_lsh,
       | CAST((SELECT count(*) FROM bo) AS BIGINT) AS n_both,
       | CAST(CASE WHEN (SELECT count(*) FROM ex) > 0
       |   THEN (SELECT count(*) FROM bo) * 10000
       |     // (SELECT count(*) FROM ex) ELSE 10000 END AS BIGINT)
       |   AS recall_e4,
       | CAST(CASE WHEN (SELECT count(*) FROM ls) > 0
       |   THEN (SELECT count(*) FROM bo) * 10000
       |     // (SELECT count(*) FROM ls) ELSE 10000 END AS BIGINT)
       |   AS precision_e4""".stripMargin

  /** Band-sweep oracle: the mh CTE re-banded per config via `j // r` —
    * the SQL twin of the Spark side's shared-signature sweep. The whole
    * chain (mh, exact baseline, candidates) reads the SAMPLED
    * shingle frame `shs` (md5-h60(doc_id) % 5 < 3 — the identical
    * predicate [[bandSweep]] applies), with the df-cap still computed
    * over the FULL corpus (sample filter applied to `sh`'s output, not
    * its input — same order of operations as the Spark side). */
  private def bandSweepOracle: String = {
    val configs = Seq(2, 4, 8)
    val bandCtes = configs.map { r =>
      s"""bands_$r AS (SELECT doc_id, j // $r AS band,
         |  string_agg(j || ':' || m, ',' ORDER BY j) AS sig
         |  FROM mh GROUP BY doc_id, j // $r),
         |cand_$r AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
         |  FROM bands_$r x JOIN bands_$r y ON x.band = y.band
         |   AND x.sig = y.sig AND x.doc_id < y.doc_id),
         |hit_$r AS (SELECT * FROM cand_$r c WHERE EXISTS
         |  (SELECT 1 FROM ex WHERE ex.a_id = c.a_id
         |   AND ex.b_id = c.b_id))""".stripMargin
    }.mkString(",\n")
    val rows = configs.map { r =>
      s"""SELECT CAST(${16 / r} AS BIGINT) AS n_bands,
         | CAST($r AS BIGINT) AS rows_per_band,
         | CAST((SELECT count(*) FROM cand_$r) AS BIGINT) AS n_cand,
         | CAST((SELECT count(*) FROM hit_$r) AS BIGINT) AS n_hit,
         | CAST(CASE WHEN (SELECT count(*) FROM ex) > 0
         |   THEN (SELECT count(*) FROM hit_$r) * 10000
         |     // (SELECT count(*) FROM ex) ELSE 10000 END AS BIGINT)
         |   AS recall_e4""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $shingleCte,
       |shs AS (SELECT doc_id, s FROM sh
       |  WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),
       |    1, 15)) AS BIGINT) % 5 < 3),
       |${mhCteFrom("shs")},
       |sizes_s AS (SELECT doc_id, count(*) AS n FROM shs
       |  GROUP BY doc_id),
       |inter_s AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |  count(*) AS i
       |  FROM shs a JOIN shs b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |ex AS (SELECT a_id, b_id FROM inter_s
       |  JOIN sizes_s na ON a_id = na.doc_id
       |  JOIN sizes_s nb ON b_id = nb.doc_id
       |  WHERE 1.0 * i / (na.n + nb.n - i) >= 0.8),
       |$bandCtes
       |$rows
       |ORDER BY rows_per_band""".stripMargin
  }

  val oracle: Map[String, String] =
    oracleBase + ("q_llm_bloom_fpr" -> bloomFprOracle) +
      ("q_llm_lsh_bucket_skew" -> lshBucketSkewOracle) +
      ("q_llm_idf_variants" -> idfVariantsOracle) +
      ("q_llm_token_f1" -> tokenF1Oracle) +
      ("q_llm_mix_temperature" -> mixTemperatureOracle) +
      ("q_llm_simhash_sweep" -> simhashSweepOracle) +
      ("q_llm_ann_filtered" -> annFilteredOracle) +
      ("q_llm_ann_recall" -> annRecallOracle) +
      ("q_llm_ann_cost" -> annCostOracle) +
      ("q_llm_dedup_cascade" -> dedupCascadeOracle) +
      ("q_llm_lsh_recall" -> lshRecallOracle) +
      ("q_llm_band_sweep" -> bandSweepOracle)
}
