package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._

/** SURVEY.md §2 round-4 widening, part 2 — event-log product analytics
  * (funnel, cohort retention, last-touch attribution) and the equi-depth
  * range-bound diagnostic.
  *
  * Reference analog: these are exactly the read-side reports the
  * reference's triplestore consumers (swarm-ui dashboards, SURVEY §0.5)
  * derive from the logged container events — lifecycle conversion
  * (create→start→die = our signup→purchase→error funnel), per-day
  * container cohort survival, and "which event preceded the failure"
  * attribution.
  *
  * Scale notes (100 TB): every operator here is windows-over-user_id
  * partitioning plus small-key aggregations — ONE fact shuffle each, no
  * self-joins, no driver materialization. The global summary rows
  * (funnel) aggregate from per-user rows, which is partial-aggregable.
  */
object Analytics {

  private val Micros7d = 7L * 24 * 3600 * 1000000L

  /** Three-stage temporal funnel: signup → first purchase AFTER the
    * signup → first error AFTER that purchase, per user; output is the
    * one-row funnel report with integer-exact conversion rates (×10⁴).
    *
    * Shape: three chained whole-partition window minima over the SAME
    * user_id partitioning (Catalyst reuses one exchange), then a per-user
    * reduce and a global partial-aggregable rollup. The stage-N timestamp
    * may reference stage N-1's window result because the frame is the
    * whole partition — no ordering dependence, no second shuffle. */
  def funnelStages(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
    val staged = eventsUs(spark, dir)
      .withColumn("s1",
        min(when(col("event_type") === "signup", col("ts_us"))).over(byUser))
      .withColumn("s2",
        min(when(col("event_type") === "purchase" && col("ts_us") > col("s1"),
          col("ts_us"))).over(byUser))
      .withColumn("s3",
        min(when(col("event_type") === "error" && col("ts_us") > col("s2"),
          col("ts_us"))).over(byUser))
    staged
      .groupBy(col("user_id"))
      .agg(max(col("s1")).as("s1"), max(col("s2")).as("s2"),
        max(col("s3")).as("s3"))
      .agg(
        count(lit(1)).as("n_users"),
        count(col("s1")).as("n_signup"),
        count(col("s2")).as("n_purchase"),
        count(col("s3")).as("n_error"))
      .withColumn("conv_purchase_e4",
        expr("CASE WHEN n_signup > 0 THEN n_purchase * 10000 div n_signup " +
          "ELSE 0 END"))
      .withColumn("conv_error_e4",
        expr("CASE WHEN n_purchase > 0 THEN n_error * 10000 div n_purchase " +
          "ELSE 0 END"))
  }

  /** Cohort retention matrix: cohort = a user's first active day; for
    * day offsets 0..7, how many of that cohort were active again, plus
    * the retention share vs the cohort's own size in exact integer ×10⁴.
    *
    * Shape: one window pass (min day per user — the cohort assignment
    * travels WITH the fact rows, no users-dim join), one
    * count-distinct aggregation on the tiny (cohort_day, offset) key,
    * and a cohort-partitioned window for the share denominator. Offset 0
    * always exists (the cohort-defining day itself), so first() over the
    * offset ordering is total and safe. */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
    val byCohort = Window.partitionBy(col("cohort_day"))
      .orderBy(col("day_offset"))
    events(spark, dir)
      .withColumn("day", to_date(col("ts")))
      .withColumn("cohort_day", min(col("day")).over(byUser))
      .withColumn("day_offset",
        datediff(col("day"), col("cohort_day")).cast("long"))
      .filter(col("day_offset") <= 7)
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .withColumn("cohort_size", first(col("n_active")).over(byCohort))
      .withColumn("retention_e4",
        expr("n_active * 10000 div cohort_size"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** Last-touch attribution: each purchase is credited to the most
    * recent prior non-purchase event of the same user within a 7-day
    * lookback ("none" if the trail is cold); report conversions and
    * revenue per attributed channel.
    *
    * Shape: LOCF over the user's event timeline — one ordered window
    * (ROWS UNBOUNDED PRECEDING..1 PRECEDING, ignoreNulls last) on the
    * single user_id shuffle; the per-channel rollup is a tiny-key
    * partial-aggregable groupBy. This is the merge-as-of pattern at
    * aggregate granularity: no range join, no per-probe rescan. */
  def lastTouchAttribution(spark: SparkSession, dir: String): DataFrame = {
    val prevFrame = userTimeline.rowsBetween(Window.unboundedPreceding, -1)
    eventsUs(spark, dir)
      .withColumn("prev_type",
        last(when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(prevFrame))
      .withColumn("prev_ts",
        last(when(col("event_type") =!= "purchase", col("ts_us")),
          ignoreNulls = true).over(prevFrame))
      .filter(col("event_type") === "purchase")
      .withColumn("channel",
        when(col("prev_ts").isNotNull &&
          col("prev_ts") >= col("ts_us") - Micros7d, col("prev_type"))
          .otherwise(lit("none")))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_conversions"),
        round(sum(col("value")), 2).as("revenue"))
      .orderBy(col("channel"))
  }

  /** Equi-depth range bounds diagnostic: exact octile cutpoints of
    * o_totalprice (the measurement behind range partitioning — what
    * repartitionByRange estimates by sampling, computed exactly), plus
    * per-bucket population and share. A skew-free column shows ~1250
    * shares; a lumpy one tells you the range-partition boundaries to
    * pin. Bounds are rounded to cents BEFORE bucket assignment so both
    * engines compare against bit-identical cutpoints.
    *
    * Shape: one exact-percentile aggregation (single reduce to one row,
    * broadcast back), then a map-side bucket classification and a
    * tiny 8-key groupBy. The fact table is scanned twice — at 100 TB
    * you'd fuse this with the job that needed the bounds anyway. */
  def rangeBoundsDiag(spark: SparkSession, dir: String): DataFrame = {
    val o = orders(spark, dir)
    val stats = o.agg(
      expr("transform(percentile(o_totalprice, array(0.125D, 0.25D, " +
        "0.375D, 0.5D, 0.625D, 0.75D, 0.875D)), b -> round(b, 2))").as("bs"),
      round(max(col("o_totalprice")), 2).as("mx"),
      round(min(col("o_totalprice")), 2).as("mn"),
      count(lit(1)).as("n_tot"))
    o.select(col("o_totalprice")).crossJoin(broadcast(stats))
      .withColumn("bucket",
        expr("CAST(size(filter(bs, b -> o_totalprice > b)) AS BIGINT)"))
      .withColumn("lo",
        expr("CASE WHEN bucket > 0 THEN element_at(bs, CAST(bucket AS INT)) " +
          "ELSE mn END"))
      .withColumn("hi",
        expr("CASE WHEN bucket < 7 THEN element_at(bs, CAST(bucket AS INT) + 1) " +
          "ELSE mx END"))
      .groupBy(col("bucket"), col("lo"), col("hi"))
      .agg(count(lit(1)).as("n_rows"), max(col("n_tot")).as("n_tot"))
      .withColumn("share_e4", expr("n_rows * 10000 div n_tot"))
      .drop("n_tot")
      .orderBy(col("bucket"))
  }

  /** Prefix-filtered set-similarity self-join (PPJoin-lite), Jaccard
    * τ = 0.6 over distinct 3-token shingles. The third near-dup scale
    * path beside MinHash-LSH (probabilistic recall) and SimHash
    * (Hamming proxy): prefix filtering is EXACT — 100% recall with a
    * bounded candidate set. Each doc's shingles are ordered by global
    * document frequency (rarest first); two docs can reach Jaccard τ
    * only if they share a shingle among their first |T| − ⌈τ|T|⌉ + 1
    * rarest shingles, so candidate generation joins only on rare
    * shingles (at sf0.01: 165 candidate pairs out of 124,750 possible —
    * then 25 survive exact verify). Prefix length uses the integer form
    * ⌈3·sz/5⌉ = (3·sz + 4) div 5 — no float τ·sz anywhere.
    *
    * Scale: df ranking is one shingle groupBy + one doc-partitioned
    * window; the candidate join's per-shingle fan-out is bounded by
    * that shingle's df, and df-ascending ordering makes prefix shingles
    * the rarest in the corpus. Verification is exact set intersection
    * on the candidate pairs only, with the τ test as an integer
    * cross-multiply (5·|∩| ≥ 3·|∪|). */
  /** Doc count below which the verify tail uses candidate-side
    * SHUFFLE_HASH builds instead of the planner's unhinted choice —
    * between the two measured points of the one-JVM order-alternating
    * A/B in `OPTIMIZATION_r15.md`: at sf0.1 (5,000
    * docs) SHUFFLE_HASH wins all 6 rounds (median 3.10 s vs 3.89 —
    * the two doc-sized broadcast BUILDS dominate a small corpus), at
    * sf1 (50,000 docs) the unhinted form wins all 6 rounds (median
    * 6.53 s vs 10.32 — candidate pairs grow faster than docs, so
    * per-partition hash builds over the array-carrying intermediate
    * lose to one reusable broadcast). Above the gate the join is
    * UNHINTED, which is also the 100 TB-safe shape: at real corpus
    * stats `sets` exceeds the broadcast threshold and the planner
    * falls back to a keyed join AQE can re-plan, instead of a forced
    * strategy. The gate reads the session-memoized document count
    * [[graft.Tables.rows]], as rareShinglePairs does. */
  val PrefixJoinShjMaxDocs = 20000L

  def prefixJoin(spark: SparkSession, dir: String): DataFrame =
    prefixJoinImpl(spark, dir,
      shuffleHashVerify =
        graft.Tables.rows(spark, dir, "documents") < PrefixJoinShjMaxDocs)

  /** `shuffleHashVerify` switches the two verify joins between the
    * planner's unhinted choice (false — doc-sized `sets` broadcasts
    * on fixture stats, keyed join at real scale) and candidate-side
    * SHUFFLE_HASH builds (true); size-gated via
    * [[PrefixJoinShjMaxDocs]] (numbers there). */
  private[graft] def prefixJoinImpl(spark: SparkSession, dir: String,
      shuffleHashVerify: Boolean): DataFrame = {
    // shingles travel as 60-bit md5 hashes from the start: the candidate
    // join shuffles 8-byte keys and the verify intersects long arrays —
    // not ~30-char strings (same hash-first rule as decontaminate);
    // both engines derive identical hashes, so the oracle replicates.
    val shingleExpr =
      """CASE WHEN size(tk) >= 3
        |THEN array_distinct(transform(sequence(1, size(tk) - 2),
        |     i -> CAST(conv(substring(md5(concat_ws(' ', slice(tk, i, 3))),
        |          1, 15), 16, 10) AS BIGINT)))
        |ELSE CAST(array() AS array<bigint>) END""".stripMargin
    // the hashed shingle build feeds FOUR plan branches (df counts, the
    // rank window, and both verify sides) — cache it so the md5 work
    // runs once, not once per branch. ReuseExchange can't help here: the
    // shared subtree is a map-side projection BELOW four different
    // exchanges, not an exchange itself. Lifecycle: Verify/Bench clear
    // the cache between queries and BatchSpec clears it in afterAll —
    // callers embedding this in a long-lived session own the same
    // clearCache/unpersist responsibility (same contract as
    // LlmOps.shingles).
    val sets = documents(spark, dir)
      .withColumn("tk", tokens)
      .select(col("doc_id"), expr(shingleExpr).as("ts"))
      .cache()
    // sz rides the explode as size(ts) — the set size is already in
    // the cached array, so the per-doc count WINDOW (a second agg pass
    // over the token frame) is pure waste
    val toks = sets.select(col("doc_id"),
      size(col("ts")).cast("long").as("sz"), explode(col("ts")).as("tok"))
    val dfCounts = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val byDoc = Window.partitionBy(col("doc_id"))
    val ranked = toks.join(dfCounts, "tok")
      .withColumn("rn",
        row_number().over(byDoc.orderBy(col("df"), col("tok"))))
    val prefix = ranked
      .filter(col("rn") <= col("sz") - expr("(3 * sz + 4) div 5") + 1)
      .select(col("doc_id"), col("tok"), col("sz"))
    // PPJoin length filter rides the candidate join: J(A,B) ≤ min/max of
    // the set sizes, so 5·min < 3·max can never reach τ — pruning here
    // changes nothing downstream but cuts the verify fan-out.
    val cand = prefix.as("a")
      .join(prefix.as("b"),
        col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id") &&
          col("a.sz") * 5 >= col("b.sz") * 3 &&
          col("b.sz") * 5 >= col("a.sz") * 3)
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        col("a.sz").as("a_sz"), col("b.sz").as("b_sz"))
      .distinct()
    // Verify tail: below the doc-count gate the
    // candidate side is the SHUFFLE_HASH build side of both verify
    // joins — the tiny post-distinct pair table hashes per partition,
    // `sets` streams through doc_id exchanges, and the two doc-sized
    // broadcast BUILDS the static fixture stats otherwise pick are
    // gone. Above the gate the joins are unhinted (broadcast while
    // stats stay under the threshold, keyed join beyond) — measured
    // crossover and scale rationale at PrefixJoinShjMaxDocs.
    val verified =
      if (shuffleHashVerify)
        cand.hint("shuffle_hash")
          .join(sets.as("sa"), col("a_id") === col("sa.doc_id"))
          .hint("shuffle_hash")
          .join(sets.as("sb"), col("b_id") === col("sb.doc_id"))
      else
        cand
          .join(sets.as("sa"), col("a_id") === col("sa.doc_id"))
          .join(sets.as("sb"), col("b_id") === col("sb.doc_id"))
    verified
      .withColumn("inter",
        size(array_intersect(col("sa.ts"), col("sb.ts"))).cast("long"))
      .withColumn("uni", col("a_sz") + col("b_sz") - col("inter"))
      .filter(col("inter") * 5 >= col("uni") * 3)
      .select(col("a_id"), col("b_id"), col("inter"), col("uni"),
        round(col("inter") / col("uni"), 4).as("jacc"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Deterministic weighted Bernoulli sampling: keep each doc with
    * probability min(1, k·w/W) where w = its char length — the
    * "sample long documents proportionally" corpus subsampling pass —
    * decided by the md5-h60 content hash, NOT rand(): stable across
    * reruns, repartitions, and engines. The keep test is an integer
    * cross-multiply (u₆·W < k·w·10⁶), zero floats. At extreme corpus
    * scale (W ≳ 10¹², where u₆·W nears 2⁶³) the same test runs in
    * DECIMAL(38,0) — a type swap, not a redesign. */
  def weightedSample(spark: SparkSession, dir: String): DataFrame = {
    val k = 50L
    val d = documents(spark, dir)
      .withColumn("w", greatest(col("n_chars"), lit(1L)))
      .withColumn("u6", expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) " +
          "AS BIGINT) % 1000000"))
    val tot = d.agg(sum(col("w")).as("w_tot"))
    d.crossJoin(broadcast(tot))
      .filter(col("u6") * col("w_tot") < lit(k) * col("w") * lit(1000000L))
      .select(col("doc_id"), col("lang"), col("w"), col("u6"),
        expr(s"CAST(least(10000 * $k * w div w_tot, 10000) AS BIGINT)")
          .as("p_e4"))
      .orderBy(col("doc_id"))
  }

  /** CEP-style sequence-pattern detection over each user's ordered event
    * history: compress the timeline to an initials string (one char per
    * event, total-ordered by (ts, event_id)) and count
    * signup→(click|view)*→purchase runs with one regex — the batch
    * MATCH_RECOGNIZE workhorse. The pattern uses only constructs with
    * identical Java-regex/RE2 semantics (same parity contract as the
    * html-strip family).
    *
    * Scale shape: one groupBy(user_id) shuffle; the per-user string is
    * bounded by that user's event count (the same per-key bound any
    * sessionizer carries), and the regex runs map-side after the
    * aggregation — no joins, no window. */
  def seqPattern(spark: SparkSession, dir: String): DataFrame =
    eventsUs(spark, dir)
      .withColumn("ini", substring(col("event_type"), 1, 1))
      .groupBy(col("user_id"))
      .agg(expr("array_join(transform(array_sort(collect_list(" +
        "struct(ts_us, event_id, ini))), x -> x.ini), '')").as("seq"))
      .select(col("user_id"),
        length(col("seq")).cast("long").as("seq_len"),
        expr("CAST(size(regexp_extract_all(seq, 's[cv]*p', 0)) AS BIGINT)")
          .as("n_matches"),
        expr("size(regexp_extract_all(seq, 's[cv]*p', 0)) > 0")
          .as("converted"))
      .orderBy(col("user_id"))

  /** Inverted-index build: token → document frequency + the first 20
    * postings delta-encoded into a compact string (the gap encoding
    * every posting-list format starts from). Report the 100 highest-df
    * terms. Cap rationale at 100 TB: per-token state is bounded (a real
    * index shards long posting lists into fixed-size blocks — this row
    * builds the first block); df ≥ 5 drops the hapax tail that would
    * dominate output volume while carrying no retrieval value.
    *
    * Scale shape: one (doc, token)-distinct explode, one token groupBy
    * (sorted collect bounded by the cap after slice), top-100 via
    * TakeOrderedAndProject. */
  def invertedIndex(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(col("doc_id"), explode(array_distinct(tokens)).as("tok"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("df"),
        sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(col("df") >= 5)
      .withColumn("ids20", slice(col("ids"), 1, 20))
      .withColumn("postings_delta",
        expr("array_join(transform(ids20, (x, i) -> CAST(IF(i = 0, x, " +
          "x - element_at(ids20, i)) AS STRING)), ',')"))
      .select(col("tok"), col("df"), col("postings_delta"))
      .orderBy(col("df").desc, col("tok"))
      .limit(100)

  /** Top event trigram paths: the frequency-ranked 3-step journeys
    * (path discovery — the exploratory pass that tells you WHICH funnel
    * to define before q_funnel_stages measures it). Two lead() columns
    * over the user timeline, then a tiny path-key count.
    *
    * Scale shape: one user_id window shuffle (same partitioning every
    * sequence operator here uses) + a low-cardinality (≤125 paths)
    * count; top-10 via TakeOrderedAndProject. */
  def topPaths(spark: SparkSession, dir: String): DataFrame = {
    eventsUs(spark, dir)
      .withColumn("ini", substring(col("event_type"), 1, 1))
      .withColumn("i2", lead(col("ini"), 1).over(userTimeline))
      .withColumn("i3", lead(col("ini"), 2).over(userTimeline))
      .filter(col("i3").isNotNull)
      .select(concat_ws(">", col("ini"), col("i2"), col("i3")).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(10)
  }

  /** Statistical mode with a deterministic tie-break (most frequent
    * user per event type; ties → smallest user_id). Built from count +
    * rank rather than the mode() aggregate because engines disagree on
    * mode's tie-break — this form is total-ordered and replicates
    * exactly.
    *
    * Scale shape: two partial-aggregable groupBys; the per-type rank
    * window runs on the already-reduced (type, user) counts. */
  def modeByGroup(spark: SparkSession, dir: String): DataFrame = {
    val byType = Window.partitionBy(col("event_type"))
      .orderBy(col("n").desc, col("user_id"))
    events(spark, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .withColumn("r", row_number().over(byType))
      .filter(col("r") === 1)
      .select(col("event_type"), col("user_id").as("mode_user"),
        col("n").as("mode_n"))
      .orderBy(col("event_type"))
  }

  /** PMI collocations: the top frequent bigrams scored by pointwise
    * mutual information ln(N·c(xy)/(c(x)·c(y))) — the classic corpus
    * collocation detector (fixed phrases score high, chance
    * co-occurrences near 0). Ordering is by EXACT integer counts
    * (c12 desc, then the bigram); PMI itself is a reported column:
    * integer products stay < 2⁵³ so the float expression is one
    * division + one ln + one round — single-op IEEE parity, no float
    * aggregation anywhere.
    *
    * Scale shape: two explode+groupBy passes (unigrams, bigrams); the
    * unigram vocabulary joins onto the c12-FILTERED frequent-bigram
    * side — at corpus scale that side is tiny (broadcastable), so the
    * vocab never shuffles twice. */
  def pmiCollocations(spark: SparkSession, dir: String): DataFrame = {
    val toks = documents(spark, dir).withColumn("tk", tokens)
    val uni = toks.select(explode(col("tk")).as("w"))
    val uc = uni.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val nTok = uni.agg(count(lit(1)).as("n_tok"))
    val frequent = toks.filter(size(col("tk")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(tk) - 1), i -> struct(" +
          "element_at(tk, i) AS w1, element_at(tk, i + 1) AS w2))")).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= 20)
    frequent
      .join(uc.select(col("w").as("w1"), col("c").as("c1")), "w1")
      .join(uc.select(col("w").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(nTok))
      .withColumn("pmi",
        expr("round(ln(1.0 * c12 * n_tok / (c1 * c2)), 4)"))
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
        col("pmi"))
      .orderBy(col("c12").desc, col("w1"), col("w2"))
      .limit(30)
  }

  /** Daily actives / new users / cumulative growth — the most-run
    * event-log report in existence: per day, event volume, distinct
    * actives, first-time users, and the running total of acquired
    * users.
    *
    * Scale shape: both inputs reduce to per-day (or per-user) grain in
    * partial-aggregable groupBys BEFORE the single global ordered
    * window — which therefore touches |days| rows, not |events|. A
    * global window over raw events would be the classic scale bug;
    * over the daily rollup it is a no-op-sized frame at any corpus
    * size. */
  def dailyActiveUsers(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
      .select(to_date(col("ts")).as("day"), col("user_id"))
    val daily = e.groupBy(col("day"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_active"))
    val newu = e.groupBy(col("user_id")).agg(min(col("day")).as("first_day"))
      .groupBy(col("first_day")).agg(count(lit(1)).as("n_new"))
    daily.join(newu, col("day") === col("first_day"), "left")
      .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
      .withColumn("cum_users",
        sum(col("n_new")).over(Window.orderBy(col("day"))))
      .select(col("day"), col("n_events"), col("n_active"), col("n_new"),
        col("cum_users"))
      .orderBy(col("day"))
  }

  /** First-order Markov transition matrix between event types:
    * P(next = dst | cur = src) estimated from each user's ordered
    * timeline — the behavior model behind next-action prediction and
    * anomalous-sequence detection. Probabilities are integer ×10⁴
    * (n·10⁴ div n_src) — exact, no float division until nothing.
    *
    * Scale shape: one lead() on the shared user_id ordering, then two
    * partial-aggregable rollups on the ≤|types|² transition key. */
  def markovTransitions(spark: SparkSession, dir: String): DataFrame = {
    val trans = markovTrans(spark, dir)
    val srcTot = trans.groupBy(col("src").as("s2"))
      .agg(sum(col("n")).as("n_src"))
    trans.join(srcTot, col("src") === col("s2")).drop("s2")
      .withColumn("p_e4", expr("n * 10000 div n_src"))
      .select(col("src"), col("dst"), col("n"), col("n_src"), col("p_e4"))
      .orderBy(col("src"), col("dst"))
  }

  /** 2-D skyline / Pareto frontier: per brand, the parts not
    * dominated on (price ↓, size ↑) — the "best tradeoff" query
    * (cheapest part at every size tier). Sort-based formulation, not
    * the O(n²) dominance self-join: within a brand ordered by price, a
    * part is on the frontier iff its size beats the running max over
    * all STRICTLY cheaper parts AND it ties the max size within its
    * own price point (two identical parts both survive — domination
    * requires one strict inequality; window ≡ NOT EXISTS verified on
    * the fixture). Price in integer cents (floor(+0.5), the
    * regrSlope idiom).
    *
    * Scale shape: two windows partitioned by brand — shuffle-parallel
    * across brands, no self-join. A single-group (global) skyline at
    * 100 TB would range-partition on price and merge per-partition
    * prefix maxima — the running-sum trick; the per-brand form here
    * never needs it. */
  def skylineParts(spark: SparkSession, dir: String): DataFrame = {
    val brandByPrice = Window.partitionBy(col("p_brand"))
      .orderBy(col("price_c"))
      .rangeBetween(Window.unboundedPreceding, -1)
    part(spark, dir)
      .select(col("p_brand"), col("p_partkey"),
        cents("p_retailprice")
          .as("price_c"),
        col("p_size"))
      .withColumn("m_strict", max(col("p_size")).over(brandByPrice))
      .withColumn("grp_max", max(col("p_size")).over(
        Window.partitionBy(col("p_brand"), col("price_c"))))
      .filter((col("m_strict").isNull || col("p_size") > col("m_strict"))
        && col("p_size") === col("grp_max"))
      .select(col("p_brand"), col("p_partkey"), col("price_c"),
        col("p_size"))
      .orderBy(col("p_brand"), col("price_c"), col("p_partkey"))
  }

  /** Gaps & islands: maximal runs of CONSECUTIVE active days
    * per user — the activity-streak segmentation behind retention and
    * engagement reporting. The classic difference trick: day minus the
    * per-user dense rank of day is constant exactly within a
    * consecutive run, so islands fall out of one groupBy — no
    * self-join, no iteration.
    *
    * Scale shape: one distinct + one user-partitioned window + one
    * partial-aggregable groupBy — single shuffle of (user, day), which
    * is already the daily-active frame q_daily_active_users builds. */
  def gapIslands(spark: SparkSession, dir: String): DataFrame = {
    val d = events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    d.withColumn("rk", dense_rank().over(
        Window.partitionBy(col("user_id")).orderBy(col("day"))))
      .withColumn("grp", expr("date_sub(day, rk)"))
      .groupBy(col("user_id"), col("grp"))
      .agg(date_format(min(col("day")), "yyyy-MM-dd").as("island_start"),
        date_format(max(col("day")), "yyyy-MM-dd").as("island_end"),
        count(lit(1)).as("n_days"))
      .select(col("user_id"), col("island_start"), col("island_end"),
        col("n_days"))
      .orderBy(col("user_id"), col("island_start"))
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004): the
    * corpus's top-20 keywords by PageRank over the token ADJACENCY graph
    * — undirected edges between tokens that appear next to each other
    * anywhere in the corpus (window = 1, unweighted, the paper's base
    * configuration), self-loops dropped. Centrality separates structural
    * connector words from merely frequent ones — the graph-native
    * complement to the count-native tf-idf and PMI rows.
    *
    * Exactness + shape: two unrolled [[Graph.pagerankStep]] updates —
    * the [[Graph.pagerank]] integer idiom (ranks ×10⁶, contrib = rank
    * div outdeg, blend 150000 + 85·Σ div 100). The only corpus-sized
    * ops are the bigram explode and the edge-distinct shuffle; the word
    * graph itself is vocabulary-sized (≪ corpus — Heaps' law, measured
    * by q_llm_heaps_fit) but still DATA-sized, so the per-step
    * rank/degree hint is SIZE-GATED: the word-edge frame is memoized
    * (it feeds both unrolled steps plus the degree build — the
    * checkpoint replaces ReuseExchange across those consumers) and its
    * count gates the hint; past the cap the identical loop runs
    * hint-free co-partitioned. */
  def textrank(spark: SparkSession, dir: String): DataFrame = {
    val edges = graft.FrameMemo.cached(spark, dir, "textrank-edges") {
      val bg = documents(spark, dir)
        .withColumn("tk", tokens)
        .filter(size(col("tk")) >= 2)
        .select(explode(expr(
          """transform(sequence(1, size(tk) - 1),
            |          i -> struct(element_at(tk, i) AS w1,
            |                      element_at(tk, i + 1) AS w2))"""
            .stripMargin)).as("g"))
        .select(col("g.w1").as("w1"), col("g.w2").as("w2"))
        .filter(col("w1") =!= col("w2"))
      bg.select(col("w1").as("src"), col("w2").as("dst"))
        .union(bg.select(col("w2").as("src"), col("w1").as("dst")))
        .distinct()
    }
    // rank/degree frames here are keyed by token STRINGS, not ints:
    // the gate assumes a wider ~64 B/row
    val gate = graft.Hints.gate(spark, dir, "textrank-edges", edges,
      avgRowBytes = 64L)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("outd"))
    val r0 = deg.select(col("src").as("nid"), lit(1000000L).as("rank"),
      col("outd"))
    Graph.pagerankStep(edges, Graph.pagerankStep(edges, r0, Some(deg), gate),
      None, gate)
      .select(col("nid").as("token"), col("rank").as("rank_e6"))
      .orderBy(col("rank_e6").desc, col("token"))
      .limit(20)
  }

  /** RFM (recency / frequency / monetary) customer segmentation over
    * purchase events: per user, days since last purchase, purchase
    * count, and lifetime cents; each scored 1–5 by ntile quintile
    * (5 = best: most recent, most frequent, highest spend), then the
    * segment report per (r, f, m) cell with user count and average
    * spend. The classic CRM read every event log eventually serves.
    *
    * Determinism: every ntile rides a TOTAL order (metric, user_id) —
    * both engines use standard first-buckets-larger ntile splitting,
    * so the quintile boundaries are identical. Money is cents via the
    * floor idiom; recency is epoch-day arithmetic (calendar-free).
    *
    * Scale shape: the event scan reduces to a USER-sized frame before
    * any window runs; the three single-partition ntile sorts are over
    * |purchasing users|, not |events| — the known bounded-frame
    * pattern (cf. diag_range_bounds). At true 100 TB user counts the
    * same scores come from a 2-pass quantile-threshold assignment
    * (compute 4 cut points per metric, then a broadcast range join);
    * the enrolled form is the exact-audit twin of that plan. */
  def rfmSegments(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val users = events(spark, dir)
      .filter(col("event_type") === "purchase")
      .withColumn("day", epochDay)
      .groupBy(col("user_id"))
      .agg(max(col("day")).as("last_day"), count(lit(1)).as("freq"),
        sum(cents("value"))
          .as("mon_cents"))
    val gmax = users.agg(max(col("last_day")).as("gmax"))
    val scored = users.crossJoin(broadcast(gmax))
      .withColumn("rec_days", expr("gmax - last_day"))
      .withColumn("r_score", ntile(5).over(
        Window.orderBy(col("rec_days").desc, col("user_id"))))
      .withColumn("f_score", ntile(5).over(
        Window.orderBy(col("freq").asc, col("user_id"))))
      .withColumn("m_score", ntile(5).over(
        Window.orderBy(col("mon_cents").asc, col("user_id"))))
    scored.groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("mon_cents")).as("cents_total"))
      .withColumn("cents_avg", expr("cents_total div n_users"))
      .orderBy(col("r_score"), col("f_score"), col("m_score"))
  }

  /** A/B experiment readout over purchase values: users split into two
    * arms by user_id parity, per arm (n, integer-cents mean, exact
    * central m2), then the normal-approximation significance verdict —
    * z² ≥ 3.84 (95%) decided WITHOUT square roots by cross-
    * multiplication: diff²·100 ≥ 384·se² where se² = v_a div n_a +
    * v_b div n_b and v = m2 div n. The experimentation primitive every
    * product analytics engine ships; exact integers make the verdict
    * replayable (a float Welch test would hash-drift).
    *
    * diff is emitted RAW (signed; never divided — the m3 discipline).
    * Magnitudes: |diff| ≤ 5·10⁴ cents ⇒ diff²·100 ≤ 2.5·10¹¹.
    *
    * Shape: one fact scan → 2-key mean pass → broadcast means back →
    * 2-key moment pass → conditional-agg fold to ONE row. */
  def abTest(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select((col("user_id") % 2).as("arm"),
        cents("value").as("cents"))
    val mu = ev.groupBy(col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
      .withColumn("mu", expr("s div n"))
      .select(col("arm"), col("n"), col("mu"))
    val arms = ev.join(broadcast(mu), "arm")
      .withColumn("c", col("cents") - col("mu"))
      .groupBy(col("arm"))
      .agg(max(col("n")).as("n"), max(col("mu")).as("mu"),
        sum(col("c") * col("c")).as("m2"))
    arms.agg(
      sum(when(col("arm") === 0, col("n"))).as("n_a"),
      sum(when(col("arm") === 1, col("n"))).as("n_b"),
      sum(when(col("arm") === 0, col("mu"))).as("mean_a_cents"),
      sum(when(col("arm") === 1, col("mu"))).as("mean_b_cents"),
      sum(when(col("arm") === 0, expr("m2 div n"))).as("var_a"),
      sum(when(col("arm") === 1, expr("m2 div n"))).as("var_b"))
      .withColumn("diff_cents", expr("mean_a_cents - mean_b_cents"))
      .withColumn("se2", expr("var_a div n_a + var_b div n_b"))
      .withColumn("significant_95", expr(
        "diff_cents * diff_cents * 100 >= 384 * greatest(se2, 1)"))
  }

  /** Linear multi-touch attribution: every click/view a user makes
    * STRICTLY BEFORE their first purchase shares the conversion credit
    * equally (10⁴ div k per touch, k = that user's touch count) — the
    * fairness-motivated alternative to q_attr_last_touch, reported per
    * touch type with total credit and touch census. Per-user rounding
    * loss (k·(10⁴ div k) ≤ 10⁴) is the documented price of integer
    * credit; Σ total_credit_e4 ≤ 10⁴·converted users, exact on both
    * engines.
    *
    * Shape: one user-partitioned window (first-purchase timestamp
    * travels with the rows), a per-user touch count over the same
    * partitioning (exchange reused), then a partial-aggregable
    * per-type rollup. */
  def linearAttribution(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
    eventsUs(spark, dir)
      .withColumn("first_purchase",
        min(when(col("event_type") === "purchase", col("ts_us")))
          .over(byUser))
      .filter(col("first_purchase").isNotNull &&
        col("event_type").isin("click", "view") &&
        col("ts_us") < col("first_purchase"))
      .withColumn("k", count(lit(1)).over(byUser))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_touches"),
        countDistinct(col("user_id")).as("n_users"),
        sum(expr("10000 div k")).as("total_credit_e4"))
      .orderBy(col("event_type"))
  }

  /** Concurrency curve via sweep line: sessionize (the 30-min-gap rule
    * shared with q_join_interval_overlap), explode each session into a
    * +1 start / −1 end point, order by (ts, +1-before-−1, user, sess)
    * — a TOTAL order, and the tie rule "starts before ends" counts
    * touching sessions as concurrent, identically in the oracle — and
    * take the running sum; report per hour the max concurrency and
    * point census. The "how many users at once" load audit (queueing /
    * capacity planning) the interval-overlap join family lacked.
    *
    * The running sum runs over the SESSION-sized point list (2 points
    * per session — bounded by users·sessions, not events; the
    * diag_range_bounds single-partition discipline). Hours with no
    * session boundary emit no row (the curve is constant there —
    * documented). */
  def concurrencyCurve(spark: SparkSession, dir: String): DataFrame = {
    val sess = Reshape.sessionEvents(spark, dir)
      .groupBy(col("user_id"), col("session_no"))
      .agg(min(col("ts_us")).as("start_us"), max(col("ts_us")).as("end_us"))
    val points = sess
      .select(col("user_id"), col("session_no"),
        col("start_us").as("ts_us"), lit(1L).as("delta"))
      .unionAll(sess.select(col("user_id"), col("session_no"),
        col("end_us").as("ts_us"), lit(-1L).as("delta")))
    val sweep = org.apache.spark.sql.expressions.Window
      .orderBy(col("ts_us"), col("delta").desc, col("user_id"),
        col("session_no"))
    points
      .withColumn("conc", sum(col("delta")).over(sweep))
      .withColumn("hour", expr("ts_us div 3600000000"))
      .groupBy(col("hour"))
      .agg(count(lit(1)).as("n_points"), max(col("conc")).as("max_conc"))
      .orderBy(col("hour"))
  }

  /** Stationary distribution of the event-type Markov chain: three
    * power-iteration steps π←πP over the SAME transition counts as
    * q_events_markov (shared build — the two rows cannot disagree on
    * P), in the integer pagerank idiom: P in ×10⁶ units, each step's
    * contribution π(i)·p_e6(i,j) div 10⁶, emitted per type with all
    * three iterates so convergence is visible in the output. The
    * "long-run state mix" read of the lifecycle chain.
    *
    * Shape: the chain state is |types|² (25 cells) — every join below
    * broadcasts; only the transition-count build touches the corpus
    * (one window + one groupBy, markov's own shape). */
  def markovSteady(spark: SparkSession, dir: String): DataFrame =
    markovSteadyFrom(markovTrans(spark, dir).localCheckpoint())

  /** The (src, dst, n) transition census: each event and the next one
    * on its user's timeline, counted per (type, next type). The markov,
    * steady-state, entropy, reciprocity and absorption rows all fold
    * over it, so the family cannot disagree on what a transition is.
    * Callers that reuse the frame more than once materialize it
    * (k²=25 rows) with `.localCheckpoint()` so the events window runs
    * exactly once. */
  private def markovTrans(spark: SparkSession, dir: String): DataFrame =
    eventsUs(spark, dir)
      .withColumn("dst", lead(col("event_type"), 1).over(userTimeline))
      .filter(col("dst").isNotNull)
      .groupBy(col("event_type").as("src"), col("dst"))
      .agg(count(lit(1)).as("n"))

  private def markovSteadyFrom(trans: DataFrame): DataFrame = {
    val p = trans
      .join(trans.groupBy(col("src").as("s2")).agg(sum(col("n")).as("t")),
        col("src") === col("s2"))
      .select(col("src"), col("dst"), expr("n * 1000000 div t").as("p_e6"))
      .localCheckpoint()
    val states = p.select(col("src").as("state")).distinct()
    val n0 = states.crossJoin(broadcast(
        states.agg(count(lit(1)).as("k"))))
      .select(col("state"), expr("1000000 div k").as("pi"))
    def step(pi: DataFrame): DataFrame =
      p.join(broadcast(pi.select(col("state").as("src"), col("pi"))), "src")
        .groupBy(col("dst").as("state"))
        .agg(sum(expr("pi * p_e6 div 1000000")).as("pi"))
    val pi1 = step(n0); val pi2 = step(pi1); val pi3 = step(pi2)
    states
      .join(pi1.select(col("state"), col("pi").as("pi1_e6")), Seq("state"),
        "left")
      .join(pi2.select(col("state"), col("pi").as("pi2_e6")), Seq("state"),
        "left")
      .join(pi3.select(col("state"), col("pi").as("pi3_e6")), Seq("state"),
        "left")
      .select(col("state"), coalesce(col("pi1_e6"), lit(0L)).as("pi1_e6"),
        coalesce(col("pi2_e6"), lit(0L)).as("pi2_e6"),
        coalesce(col("pi3_e6"), lit(0L)).as("pi3_e6"))
      .orderBy(col("state"))
  }

  /** DAU/MAU stickiness: per active day, distinct users that day vs
    * distinct users over the trailing 30 days, ratio ×10⁴ — the
    * engagement number every consumer product reports. The trailing
    * distinct is EXACT via the user-day fan-out (each user-day serves
    * the 30 report days it falls into — a bounded 30× explode of the
    * deduped user-day frame, never of raw events), not an approximate
    * sliding sketch.
    *
    * Shape: user-day distinct (one fact shuffle) → 30× generator →
    * (report_day, user) distinct → per-day counts; all partial-
    * aggregable, report days restricted to genuinely active days. */
  def stickiness(spark: SparkSession, dir: String): DataFrame = {
    val ud = events(spark, dir)
      .select(col("user_id"),
        epochDay.as("day"))
      .distinct()
    val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val mau = ud
      .select(col("user_id"), explode(expr(
        "sequence(day, day + 29)")).as("rday"))
      .distinct()
      .groupBy(col("rday")).agg(count(lit(1)).as("mau"))
    dau.join(mau, col("day") === col("rday"))
      .select(col("day"), col("dau"), col("mau"),
        expr("dau * 10000 div mau").as("stickiness_e4"))
      .orderBy(col("day"))
  }

  /** Bounce rate per day: single-event sessions ÷ sessions started
    * that day, ×10⁴ — the engagement-quality complement to the
    * concurrency and stickiness rows, on the SAME 30-min session rule
    * (one definition across the session family). Day = epoch day of
    * the session start.
    *
    * Shape: the sessionize window + a (user, session) rollup carrying
    * the event count, then a per-day partial-aggregable fold. */
  def bounceRate(spark: SparkSession, dir: String): DataFrame = {
    Reshape.sessionEvents(spark, dir)
      .groupBy(col("user_id"), col("session_no"))
      .agg(min(col("ts_us")).as("start_us"), count(lit(1)).as("n_ev"))
      .withColumn("day", expr("start_us div 86400000000"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_ev") === 1L, 1L).otherwise(0L)).as("n_bounce"))
      .withColumn("bounce_e4", expr("n_bounce * 10000 div n_sessions"))
      .orderBy(col("day"))
  }

  /** Kaplan–Meier hazard table over user lifetimes: per
    * observed lifetime t (days between a user's first and last event),
    * the at-risk count n(t) = users with lifetime ≥ t, the event count
    * d(t) = users whose lifetime is exactly t, and the discrete hazard
    * d(t)·10⁶ div n(t). These ARE the KM inputs — the survival curve
    * S(t) = Π(1 − d/n) is a product of rationals (inexact under any
    * fixed scaling), so the row emits the exact per-step table and the
    * consumer folds the product off-engine (the gm2_e8 philosophy:
    * exact components beat a sealed rounded composite). Complements
    * q_cohort_retention (calendar cohorts) with the duration-domain
    * view churn analysis actually models.
    *
    * Shape: per-user min/max fold (partial-aggregable) → lifetime
    * census (≤ span-days rows) → ONE ordered cumulative pass over the
    * census frame (n_risk = total − cum-prior). The window runs on
    * the ~90-row census, never the fact table. */
  def kmSurvival(spark: SparkSession, dir: String): DataFrame = {
    val life = events(spark, dir)
      .withColumn("day", epochDay)
      .groupBy(col("user_id"))
      .agg((max(col("day")) - min(col("day"))).as("lt"))
    val census = life.groupBy(col("lt")).agg(count(lit(1)).as("n_end"))
    val tot = life.agg(count(lit(1)).as("n_users"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("lt"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1)
    census
      .withColumn("n_prior", coalesce(sum(col("n_end")).over(w), lit(0L)))
      .crossJoin(broadcast(tot))
      .select(col("lt").as("lifetime_days"), col("n_end"),
        (col("n_users") - col("n_prior")).as("n_risk"))
      .withColumn("hazard_e6", expr("n_end * 1000000 div n_risk"))
      .orderBy(col("lifetime_days"))
  }

  /** Weighted digraph reciprocity of the event-type
    * transition graph: per unordered type pair {a, b}, the forward and
    * reverse transition weights and the pair-level reciprocity
    * 2·min(w_ab, w_ba)·10⁴ div (w_ab + w_ba) — 10⁴ means perfectly
    * bidirectional traffic, 0 means one-way. The directed-graph audit
    * (is A→B ever answered by B→A?) that the Markov row's conditional
    * probabilities normalize away; built on the IDENTICAL lead()
    * transition census as q_events_markov so the two rows cannot
    * disagree on what a transition is.
    *
    * No self-join: the unordered pairing is a canonicalization
    * (least/greatest) + conditional sums — one ≤|types|²-key rollup.
    * Missing directions contribute 0 via the conditional sum, not a
    * join's NULL. */
  def reciprocity(spark: SparkSession, dir: String): DataFrame = {
    val trans = markovTrans(spark, dir).filter(col("dst") =!= col("src"))
    trans
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"),
        when(col("src") < col("dst"), col("n")).otherwise(0L).as("f"),
        when(col("src") > col("dst"), col("n")).otherwise(0L).as("r"))
      .groupBy(col("a"), col("b"))
      .agg(sum(col("f")).as("n_fwd"), sum(col("r")).as("n_rev"))
      .select(col("a"), col("b"), col("n_fwd"), col("n_rev"),
        least(col("n_fwd"), col("n_rev")).as("n_min"),
        expr("2 * least(n_fwd, n_rev) * 10000 div (n_fwd + n_rev)")
          .as("recip_e4"))
      .orderBy(col("a"), col("b"))
  }

  /** Mann–Whitney U rank-sum test on the SAME experiment as
    * q_events_ab_ttest (purchase cents, user-parity arms) — the
    * distribution-free verdict the t-test approximation needs when
    * values are skewed (purchase amounts are). Computed EXACTLY and
    * without ranking a single row: on the distinct-cents support,
    * 2U = Σ_v cA(v)·(2·cumB(<v) + cB(v)) — doubling folds the ½-tie
    * credit into integers. Emitted: the common-language effect size
    * cles_e4 = 2U·10⁴ div (2·nA·nB) (P[A > B] + ½P[=]) and the
    * normal-approximation 95% verdict 3·(2U − nAnB)²·100 ≥
    * 384·nAnB·(n+1), cross-multiplied sqrt-free with the square in
    * DECIMAL(38,0) (the assortativity lesson — (2U−nAnB)² crosses
    * 2⁶³ near nAnB ~ 10¹⁰). Tie correction is omitted ⇒ variance
    * over-estimated ⇒ the verdict is CONSERVATIVE (documented).
    *
    * Shape: fact scan → distinct-cents support census → ONE ordered
    * pass over the support (the ks_test idiom) → 1-row fold. */
  def abUTest(spark: SparkSession, dir: String): DataFrame = {
    val sup = events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(cents("value").as("v"),
        (col("user_id") % 2 === 0).as("in_a"))
      .groupBy(col("v"))
      .agg(sum(when(col("in_a"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("in_a"), 1L).otherwise(0L)).as("cb"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1)
    sup
      .withColumn("cum_b", coalesce(sum(col("cb")).over(w), lit(0L)))
      .agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"),
        sum(expr("ca * (2 * cum_b + cb)")).as("u2"))
      .select(col("n_a"), col("n_b"), col("u2"),
        expr("u2 * 10000 div (2 * n_a * n_b)").as("cles_e4"),
        expr("CAST(u2 - n_a * n_b AS DECIMAL(38,0))" +
          " * (u2 - n_a * n_b) * 300" +
          " >= CAST(384 AS DECIMAL(38,0)) * n_a * n_b" +
          " * (n_a + n_b + 1)").as("significant_95"))
  }

  /** Exact inter-arrival latency percentiles per feed: the
    * p50/p95/p99 gaps between consecutive events of each type — the
    * cadence SLO a feed monitor alerts on (q_dq_freshness says "the
    * feed stopped"; this says "the feed's tail latency moved").
    * Percentiles are EXACT discrete quantiles (smallest value whose
    * CDF ≥ p) from the distribution-counting idiom: delta census →
    * cumulative pass → min value clearing the cross-multiplied
    * threshold (cum·20 ≥ 19·n for p95 — no float p·n anywhere).
    *
    * Shape: one lag() per type partition (5-way parallel), then all
    * windows run on the per-type DELTA CENSUS (distinct gap values ≪
    * events); three percentiles ride one cumulative pass. */
  def interarrival(spark: SparkSession, dir: String): DataFrame = {
    val byType = Window.partitionBy(col("event_type"))
      .orderBy(col("ts_us"), col("event_id"))
    val deltas = eventsUs(spark, dir)
      .withColumn("prev", lag(col("ts_us"), 1).over(byType))
      .filter(col("prev").isNotNull)
      .withColumn("d", col("ts_us") - col("prev"))
    val census = deltas.groupBy(col("event_type"), col("d"))
      .agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    census
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(
        Window.partitionBy(col("event_type"))))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n_deltas"),
        min(when(col("cum") * 2 >= col("n"), col("d"))).as("p50_us"),
        min(when(col("cum") * 20 >= col("n") * 19, col("d")))
          .as("p95_us"),
        min(when(col("cum") * 100 >= col("n") * 99, col("d")))
          .as("p99_us"),
        max(col("d")).as("max_us"))
      .orderBy(col("event_type"))
  }

  /** Herfindahl–Hirschman activity-concentration index per feed:
    * HHI = Σ (user share)², computed with ONE division at
    * the end — Σ n_u²·10⁸ div N², the square sum in DECIMAL(38,0)
    * (the overflow-lane discipline). 10⁸/HHI is the "effective number
    * of equally-active users" — the abuse/bot-concentration signal a
    * per-user census hides (a feed can have 10⁴ users and still be
    * 95% one scraper). Complements q_diag_skew (shuffle-key skew)
    * with the behavioral-concentration view.
    *
    * Shape: two partial-aggregable rollups on shrinking keys (the
    * two-level census), a 5-row output. */
  def hhiConcentration(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("nu"))
      .groupBy(col("event_type"))
      .agg(sum(col("nu")).as("n_events"),
        count(lit(1)).as("n_users"),
        max(col("nu")).as("top_user"),
        sum(expr("CAST(nu AS DECIMAL(38,0)) * nu")).as("s2"))
      .select(col("event_type"), col("n_events"), col("n_users"),
        expr("top_user * 10000 div n_events").as("top_share_e4"),
        expr("CAST(s2 * 100000000 div (CAST(n_events AS DECIMAL(38,0))" +
          " * n_events) AS BIGINT)").as("hhi_e8"))
      .withColumn("eff_users",
        expr("100000000 div greatest(hhi_e8, 1)"))
      .orderBy(col("event_type"))

  /** CUPED variance-reduced experiment readout (Deng et al. 2013):
    * the pre-period covariate adjustment every experimentation
    * platform ships — per user, pre-period purchase spend x and
    * post-period spend y (calendar midpoint split), θ = cov(x,y)/
    * var(x) pooled, adjusted effect = Δy − θ·Δx. When pre-period
    * behavior predicts post-period behavior, the adjustment cancels
    * the between-user variance the randomization didn't, shrinking
    * the CI for free. The t/U/KS rows test; this row is how a mature
    * platform makes the same test sharper.
    *
    * Exactness: floored pooled means (the abTest m2 discipline) make
    * cov and var exact; both accumulate in DECIMAL(38,0) (overflow
    * lane). θ_e4 is SIGNED — cov can be negative — so the truncation
    * is an explicit toward-zero CASE on |cov| (Spark div truncates,
    * DuckDB // floors; they disagree on negatives, the CASE makes
    * both arms compute |cov|·10⁴ div var then re-sign). The adjusted
    * effect is then pure multiply/subtract — no further division.
    *
    * Shape: fact scan → per-user conditional sums (one shuffle) →
    * 1-row pooled moments (broadcast back) → 1-row verdict. */
  def cuped(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .filter(col("event_type") === "purchase")
      .withColumn("day", epochDay)
      .withColumn("cents", cents("value"))
    val mid = ev.agg(expr("(min(day) + max(day) + 1) div 2").as("mid"))
    val users = ev.crossJoin(broadcast(mid))
      .groupBy(col("user_id"))
      .agg(sum(when(col("day") < col("mid"), col("cents")).otherwise(0L))
        .as("x"),
        sum(when(col("day") >= col("mid"), col("cents")).otherwise(0L))
          .as("y"))
      .withColumn("arm", col("user_id") % 2)
    val pooled = users.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"))
      .withColumn("mx", expr("sx div n"))
      .withColumn("my", expr("sy div n"))
    val moments = users.crossJoin(broadcast(pooled))
      .agg(max(col("n")).as("n"),
        sum(expr("CAST(x - mx AS DECIMAL(38,0)) * (y - my)")).as("cov"),
        sum(expr("CAST(x - mx AS DECIMAL(38,0)) * (x - mx)")).as("vx"),
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("arm") === 0, col("x")).otherwise(0L)).as("sxa"),
        sum(when(col("arm") === 1, col("x")).otherwise(0L)).as("sxb"),
        sum(when(col("arm") === 0, col("y")).otherwise(0L)).as("sya"),
        sum(when(col("arm") === 1, col("y")).otherwise(0L)).as("syb"))
    moments
      .withColumn("theta_e4", expr(
        "CASE WHEN cov >= 0" +
          " THEN CAST(cov * 10000 div greatest(vx, 1) AS BIGINT)" +
          " ELSE -CAST((-cov) * 10000 div greatest(vx, 1) AS BIGINT)" +
          " END"))
      .withColumn("mxa", expr("sxa div n_a"))
      .withColumn("mxb", expr("sxb div n_b"))
      .withColumn("mya", expr("sya div n_a"))
      .withColumn("myb", expr("syb div n_b"))
      .select(col("n_a"), col("n_b"),
        (col("mya") - col("myb")).as("diff_y_cents"),
        (col("mxa") - col("mxb")).as("diff_x_cents"),
        col("theta_e4"),
        expr("(mya - myb) * 10000 - theta_e4 * (mxa - mxb)")
          .as("adj_diff_e4"))
  }

  /** Funnel time-to-convert distribution: for users whose
    * first signup is later followed by a purchase, the exact
    * p50/p90/max of the conversion lag — q_funnel_stages counts WHO
    * converts; this measures HOW LONG conversion takes (the number a
    * growth team actually budgets against: "median time-to-purchase
    * after signup"). Percentiles are exact discrete quantiles via the
    * interarrival cross-multiplied-CDF idiom on the lag census.
    *
    * Shape: one per-user conditional fold (first signup = min ts
    * filtered; first purchase after = min ts guarded by the signup
    * broadcast — two partial-aggregable passes keyed by user), then
    * all windows run on the converted-user LAG CENSUS. */
  def funnelLag(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .select(col("user_id"), col("event_type"),
        tsUs.as("ts_us"))
    val signup = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("s_us"))
    val conv = ev.filter(col("event_type") === "purchase")
      .join(signup, Seq("user_id"))
      .filter(col("ts_us") > col("s_us"))
      .groupBy(col("user_id"))
      .agg((min(col("ts_us")) - min(col("s_us"))).as("lag_us"))
    val census = conv.groupBy(col("lag_us")).agg(count(lit(1)).as("c"))
    val wCum = Window.orderBy(col("lag_us"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nS = signup.agg(count(lit(1)).as("n_signup"))
    census
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(
        Window.partitionBy(lit(1))))
      .agg(max(col("n")).as("n_converted"),
        min(when(col("cum") * 2 >= col("n"), col("lag_us")))
          .as("p50_lag_us"),
        min(when(col("cum") * 10 >= col("n") * 9, col("lag_us")))
          .as("p90_lag_us"),
        max(col("lag_us")).as("max_lag_us"))
      .crossJoin(broadcast(nS))
      .select(col("n_signup"), col("n_converted"),
        expr("n_converted * 10000 div n_signup").as("conv_rate_e4"),
        col("p50_lag_us"), col("p90_lag_us"), col("max_lag_us"))
  }

  /** Day-N retention curve: for N ∈ {1, 7, 14}, the share
    * of users active again exactly-or-after N days from their FIRST
    * day — the growth KPI headline ("D7 retention") that
    * q_cohort_retention's full cohort matrix summarizes away. An
    * "unbounded" definition (active on ANY day ≥ first+N) is used so
    * the three points are monotone non-increasing by construction —
    * the curve shape a dashboard expects; cohorts whose observation
    * window is shorter than N are EXCLUDED from that N's denominator
    * (right-censoring — counting them as churned is survivorship bias
    * in reverse; the KM row handles censoring at full granularity).
    *
    * Shape: per-user (first, last) fold → 1-row window census →
    * 3-row broadcast horizon frame, conditional sums. */
  def retentionCurve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val users = events(spark, dir)
      .withColumn("day", epochDay)
      .groupBy(col("user_id"))
      .agg(min(col("day")).as("first_day"), max(col("day")).as("last_day"))
    val wm = users.agg(max(col("last_day")).as("wm_day"))
    val horizons = Seq(1L, 7L, 14L).toDF("n_days")
    users.crossJoin(broadcast(wm))
      .crossJoin(broadcast(horizons))
      .filter(col("first_day") + col("n_days") <= col("wm_day"))
      .groupBy(col("n_days"))
      .agg(count(lit(1)).as("n_cohort"),
        sum(when(col("last_day") >= col("first_day") + col("n_days"), 1L)
          .otherwise(0L)).as("n_retained"))
      .withColumn("retention_e4",
        expr("n_retained * 10000 div n_cohort"))
      .orderBy(col("n_days"))
  }

  /** Retention half-life (J84): fit ln(retention_d) over the
    * daily offsets d = 1..7 with the closed-form least-squares slope
    * (Σ(d−4)·y_d / 28 — equally-spaced x, the Hurst/regr_slope idiom)
    * and report half-life = ln 2 / (−slope) in milli-days — the ONE
    * number that summarizes the whole retention curve for capacity and
    * LTV models, where q_events_retention_curve reports three raw
    * points. Cohort gating per offset matches the curve row (a user
    * enters offset d's denominator only if the data horizon covers
    * first_day + d).
    *
    * Exactness: r_e6 per offset with truncating div, lnE3 floor-once
    * (guarded ≥ 1: a zero-retention offset contributes the floor term
    * instead of −∞), integer slope; a non-decaying fit pins half-life
    * at the 693000 cap via the house greatest() guard — documented,
    * deterministic. Shape: one user fold (partial-aggregable) → 7-row
    * census → 1-row fit. */
  def retentionHalflife(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val users = events(spark, dir)
      .withColumn("day", epochDay)
      .groupBy(col("user_id"))
      .agg(min(col("day")).as("first_day"), max(col("day")).as("last_day"))
    val wm = users.agg(max(col("last_day")).as("wm_day"))
    val ds = (1L to 7L).toDF("d")
    users.crossJoin(broadcast(wm)).crossJoin(broadcast(ds))
      .filter(col("first_day") + col("d") <= col("wm_day"))
      .groupBy(col("d"))
      .agg(count(lit(1)).as("n_cohort"),
        sum(when(col("last_day") >= col("first_day") + col("d"), 1L)
          .otherwise(0L)).as("n_retained"))
      .withColumn("r_e6",
        expr("n_retained * 1000000 div greatest(n_cohort, 1)"))
      .withColumn("y_e3", expr(
        "CAST(floor(ln(greatest(r_e6, 1)) * 1000 + 0.5) AS BIGINT)"))
      .agg(count(lit(1)).as("n_horizons"),
        max(when(col("d") === 1, col("r_e6"))).as("r1_e6"),
        max(when(col("d") === 7, col("r_e6"))).as("r7_e6"),
        sum(expr("(d - 4) * y_e3")).as("sxy"))
      .select(col("n_horizons"), col("r1_e6"), col("r7_e6"),
        expr("sxy div 28").as("slope_e3"),
        expr("693 * 1000 div greatest(-(sxy div 28), 1)")
          .as("half_life_days_e3"))
  }

  /** Activity-segment migration matrix (J85): split the
    * timeline at its midpoint day, segment each user per half as
    * high/low by the EXACT per-half median split (support census,
    * cum·2 ≥ n — the lead_time idiom; a fixed threshold measured
    * vacuous: every fixture user clears any sane floor in both
    * halves), and emit the (seg_from, seg_to) transition census with
    * new/churned as 'absent' — the user-level twin of
    * q_orders_abc_migration (parts): is the high-activity segment
    * STABLE membership or a revolving door? The number behind every
    * "engagement stickiness" claim.
    *
    * Shape: one (half, user) fold (partial-aggregable) → two ~|n|-sized
    * support censuses → keyed half-join of two user-segment frames →
    * ≤9-row matrix. */
  def rfmMigration(spark: SparkSession, dir: String): DataFrame = {
    val d = events(spark, dir)
      .withColumn("day", epochDay)
    val mm = d.agg(expr("(min(day) + max(day)) div 2").as("mid"))
    val perHalf = d.crossJoin(broadcast(mm))
      .withColumn("half",
        when(col("day") <= col("mid"), 1L).otherwise(2L))
      .groupBy(col("half"), col("user_id"))
      .agg(count(lit(1)).as("n"))
    val med = perHalf.groupBy(col("half"), col("n"))
      .agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy(col("half")).orderBy(col("n"))))
      .withColumn("tot", sum(col("c")).over(
        Window.partitionBy(col("half"))))
      .filter(expr("cum * 2 >= tot"))
      .groupBy(col("half")).agg(min(col("n")).as("med"))
    val seg = perHalf.join(broadcast(med), Seq("half")) // 2-row medians
      .select(col("half"), col("user_id"),
        when(col("n") > col("med"), lit("high")).otherwise(lit("low"))
          .as("seg"))
    val s1 = seg.filter(col("half") === 1)
      .select(col("user_id"), col("seg").as("seg_from"))
    val s2 = seg.filter(col("half") === 2)
      .select(col("user_id"), col("seg").as("seg_to"))
    val g = s1.join(s2, Seq("user_id"), "full_outer")
      .select(coalesce(col("seg_from"), lit("absent")).as("seg_from"),
        coalesce(col("seg_to"), lit("absent")).as("seg_to"))
      .groupBy(col("seg_from"), col("seg_to"))
      .agg(count(lit(1)).as("n_users"))
    val tot = g.agg(sum(col("n_users")).as("tot"))
    g.crossJoin(broadcast(tot))
      .select(col("seg_from"), col("seg_to"), col("n_users"),
        expr("n_users * 10000 div tot").as("share_e4"))
      .orderBy(col("seg_from"), col("seg_to"))
  }

  /** ABC / Pareto revenue classification: parts classified
    * by cumulative revenue share — A = the head covering 80% of
    * revenue, B = the next 15%, C = the tail 5% — then the census per
    * class (how many parts, what revenue). The inventory-management
    * classic ("20% of SKUs carry 80% of revenue") — the
    * vocab-budget cumulative idiom applied to money. Class boundary
    * is the FIRST rank whose cumulative share crosses the threshold
    * (so every class is non-empty on any non-degenerate input);
    * revenue in exact cents, shares ×10⁴ truncating.
    *
    * Shape: lineitem fold to part revenue (partial-aggregable) → one
    * ordered pass over the PART-sized frame (rank + running sum) →
    * 3-class census. */
  def abcAnalysis(spark: SparkSession, dir: String): DataFrame = {
    val rev = lineitem(spark, dir)
      .groupBy(col("l_partkey"))
      .agg(sum(cents("l_extendedprice"))
        .as("cents"))
    val w = Window.orderBy(col("cents").desc, col("l_partkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = rev.agg(sum(col("cents")).as("big_c"))
    rev.crossJoin(broadcast(tot))
      .withColumn("cum", sum(col("cents")).over(w))
      .withColumn("cls", expr(
        "CASE WHEN (cum - cents) * 100 < big_c * 80 THEN 'A'" +
          " WHEN (cum - cents) * 100 < big_c * 95 THEN 'B'" +
          " ELSE 'C' END"))
      .groupBy(col("cls"))
      .agg(count(lit(1)).as("n_parts"), sum(col("cents")).as("cents"))
      .crossJoin(broadcast(tot))
      .select(col("cls"), col("n_parts"), col("cents"),
        expr("cents * 10000 div big_c").as("rev_share_e4"))
      .orderBy(col("cls"))
  }

  /** Markov entropy rate: completes the chain family —
    * q_events_markov gives the transition matrix, q_events_markov_steady
    * the stationary distribution; this row gives the information rate:
    * H = Σ_i π_i H_i with H_i = Σ_j p_ij ln(1/p_ij), the expected
    * per-step unpredictability of the behavior stream (uniform 5-state
    * chain ⇒ ln 5 ≈ 1.609 — the observed fixture value, a built-in
    * sanity pin). π comes from markovSteady's OUTPUT columns (pi3_e6)
    * computed by the SAME `markovSteadyFrom` fold — but over THIS
    * row's materialized transition census, not a second corpus pass
    * (round-14 tail shave: the old composition called markovSteady
    * wholesale and re-paid the events window — the suite's only row
    * that planned the same fact-sized window twice; measured subset
    * A/B at sf0.1: 3.01 → 2.54 s, and steady itself 1.91 → 1.62 s
    * from its own trans checkpoint. Hash unchanged — P is
    * byte-identical.)
    *
    * Exactness: the only transcendental is ln of an integer count,
    * rounded ONCE via the shared `floor(ln(x)·1000 + 0.5)` text (the
    * PMI/coherence lnE3 discipline); H_i·e3 = Σ_j n_ij(lnE3(t_i) −
    * lnE3(n_ij)) div t_i — all BIGINT after the rounding.
    *
    * Shape: one window pass for transitions (the markov family
    * contract), k²-sized joins after (k = 5 states), π broadcast. */
  def markovEntropy(spark: SparkSession, dir: String): DataFrame = {
    val trans = markovTrans(spark, dir).localCheckpoint()
    val tot = trans.groupBy(col("src")).agg(sum(col("n")).as("t"))
    val h = trans.join(tot, "src")
      .groupBy(col("src"))
      .agg(max(col("t")).as("n_trans"),
        expr("""CAST(sum(n * (CAST(floor(ln(t) * 1000 + 0.5) AS BIGINT)
          | - CAST(floor(ln(n) * 1000 + 0.5) AS BIGINT)))
          | div max(t) AS BIGINT)""".stripMargin).as("h_cond_e3"))
    val pi = markovSteadyFrom(trans)
      .select(col("state").as("src"), col("pi3_e6"))
    val joined = h.join(pi, "src")
    val rate = joined.agg(expr(
      "sum(pi3_e6 * h_cond_e3) div greatest(sum(pi3_e6), 1)")
      .as("rate_e3"))
    joined.crossJoin(broadcast(rate))
      .select(col("src").as("state"), col("n_trans"),
        col("h_cond_e3"), col("pi3_e6"), col("rate_e3"))
      .orderBy(col("state"))
  }

  /** Experiment power analysis: the question asked BEFORE
    * q_events_ab_ttest's question — per event type, what lift could a
    * 50/50 split of the current population even detect? MDE² =
    * (z_{α/2} + z_β)²·2σ²/n_g with α = 5%, power = 80% ⇒ the constant
    * (1.96+0.84)² = 7.84, authored as 1568/100·2 — no libm, no sqrt
    * (the verdict compares SQUARES, the abTest cross-multiply
    * discipline). detect_10pct: is a 10% lift over the current mean
    * inside detection range, i.e. (mean/10)² ≥ MDE²?
    *
    * Exactness: centi values, floored mean, exact central m2 (the
    * abTest two-pass), var = m2 div n; every later quantity replays
    * from the emitted parts.
    *
    * Shape: two partial-aggregable passes (mean, then moments about
    * the broadcast floored mean) → 5-row fold. */
  def powerMde(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .select(col("event_type"),
        cents("value").as("c"))
    val mu = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s"))
      .withColumn("mu", expr("s div n"))
      .select(col("event_type"), col("n"), col("mu"))
    ev.join(broadcast(mu), "event_type")
      .withColumn("d", col("c") - col("mu"))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"), max(col("mu")).as("mean_centi"),
        sum(col("d") * col("d")).as("m2"))
      .select(col("event_type"), col("n"), col("mean_centi"),
        expr("m2 div n").as("var_c2"),
        expr("1568 * (m2 div n) div (100 * greatest(n div 2, 1))")
          .as("mde2_c2"),
        expr("mean_centi * mean_centi div 100 >= " +
          "1568 * (m2 div n) div (100 * greatest(n div 2, 1))")
          .as("detect_10pct"))
      .orderBy(col("event_type"))
  }

  /** Cumulative-user growth curve: per active day, new
    * users (first-ever appearance) and the running total — THE
    * top-left chart of every growth dashboard. Exact cumulative
    * DISTINCT without a distinct-over-window (which Spark can't do
    * incrementally): each user contributes once at their min-day, so
    * the curve is a running SUM of the first-seen census — the
    * first-seen-flag reduction that makes cumulative-distinct linear
    * at any scale. Days with no new users still emit (left join on
    * the active-day spine, new_users = 0).
    *
    * Shape: per-user min fold (one shuffle) → day census → one
    * span-sized running-sum window. */
  def cumulativeUsers(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .select(col("user_id"),
        epochDay.as("d"))
    val nu = ev.groupBy(col("user_id")).agg(min(col("d")).as("first_day"))
      .groupBy(col("first_day").as("d"))
      .agg(count(lit(1)).as("new_users"))
    ev.select(col("d")).distinct()
      .join(nu, Seq("d"), "left")
      .withColumn("new_users", coalesce(col("new_users"), lit(0L)))
      .withColumn("cumulative_users", sum(col("new_users")).over(
        Window.orderBy(col("d"))))
      .select(col("d").as("day"), col("new_users"),
        col("cumulative_users"))
      .orderBy(col("day"))
  }

  /** Markov absorption curve: from each behavior state, the
    * probability of reaching 'purchase' within 1 / 3 / 5 steps —
    * closing the chain family (transitions → steady state → entropy
    * rate → ABSORPTION): the "how close is this user to converting"
    * number a growth team actually acts on. Five unrolled value-
    * iteration steps in e6 fixed point: a_{t+1}(s) = p(s→purchase) +
    * Σ_{s'≠purchase} p(s→s')·a_t(s') div 10⁶ — truncating each step
    * identically in both engines, monotone non-decreasing in t by
    * construction (every term is nonnegative).
    *
    * Shape: one transitions window → k²-sized joins (k = 5) chained
    * five times — roster-sized frames, the bradleyTerry unrolled-
    * fixpoint discipline. */
  def absorptionCurve(spark: SparkSession, dir: String): DataFrame = {
    val trans = markovTrans(spark, dir)
    val tot = trans.groupBy(col("src")).agg(sum(col("n")).as("t"))
    val p = trans.join(tot, "src")
      .select(col("src"), col("dst"),
        expr("n * 1000000 div t").as("p_e6"))
      .localCheckpoint()
    val dirP = p.groupBy(col("src"))
      .agg(coalesce(max(when(col("dst") === "purchase", col("p_e6"))),
        lit(0L)).as("pd"))
    def step(prev: DataFrame): DataFrame =
      p.join(dirP, "src")
        .join(prev.select(col("state").as("dst"), col("a").as("pa")),
          Seq("dst"), "left")
        .groupBy(col("src"))
        .agg(max(col("pd")).as("pd"),
          coalesce(sum(when(col("dst") =!= "purchase",
            expr("p_e6 * pa div 1000000"))), lit(0L)).as("acc"))
        .select(col("src").as("state"), (col("pd") + col("acc")).as("a"))
    val a1 = dirP.select(col("src").as("state"), col("pd").as("a"))
    val a3 = step(step(a1))
    val a5 = step(step(a3))
    p.select(col("src").as("state")).distinct()
      .join(a1.select(col("state"), col("a").as("a1_e6")), "state")
      .join(a3.select(col("state"), col("a").as("a3_e6")), "state")
      .join(a5.select(col("state"), col("a").as("a5_e6")), "state")
      .orderBy(col("state"))
  }

  /** Engagement–monetization curve: does activity convert
    * to spend? Users in activity deciles (ntile(10) over event count,
    * user_id tie-break — the ntile parity discipline), per decile the
    * activity band and the mean purchase cents. The fixture curve
    * rises ~56k → ~79k cents from decile 1 to 10 — the monetization
    * gradient every growth model assumes, measured.
    *
    * Shape: per-user fold (one shuffle) → USER-sized ntile window →
    * 10-row census. */
  def engagementValue(spark: SparkSession, dir: String): DataFrame = {
    val u = events(spark, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_ev"),
        sum(when(col("event_type") === "purchase",
          cents("value"))
          .otherwise(0L)).as("buy_c"))
    u.withColumn("decile", ntile(10).over(
        Window.orderBy(col("n_ev"), col("user_id"))))
      .groupBy(col("decile").cast("long").as("decile"))
      .agg(count(lit(1)).as("n_users"),
        min(col("n_ev")).as("min_events"),
        max(col("n_ev")).as("max_events"),
        expr("sum(buy_c) div count(1)").as("avg_purchase_cents"))
      .orderBy(col("decile"))
  }

  /** First-touch attribution: completes the attribution
    * trio — last-touch (q_attr_last_touch) credits the closer,
    * linear (q_attr_linear_multi) splits evenly, first-touch credits
    * the DISCOVERY channel: the earliest click/view strictly before
    * the user's first purchase. Same window discipline ((ts, id)
    * total order), same touch universe, so the three rows form a
    * comparable attribution panel.
    *
    * Shape: per-user first-purchase fold → touch filter → one rank
    * window → channel census. */
  def firstTouchAttribution(spark: SparkSession, dir: String): DataFrame = {
    val e = eventsUs(spark, dir)
    val fp = e.filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("p_ts"))
    e.join(fp, Seq("user_id"))
      .filter(col("ts_us") < col("p_ts") &&
        col("event_type").isin("click", "view"))
      .withColumn("rn", row_number().over(
        userTimeline))
      .filter(col("rn") === 1)
      .groupBy(col("event_type").as("channel"))
      .agg(count(lit(1)).as("n_conversions"))
      .orderBy(col("channel"))
  }

  /** Rolling 7-day distinct users per day (J50) — the windowed
    * COUNT(DISTINCT) no SQL window frame can express (DISTINCT is not
    * a frame aggregate in Spark OR DuckDB). The distributed form is
    * the BOUNDED FAN-OUT inversion: dedup to (user, day) pairs, then
    * each pair CONTRIBUTES to the 7 window-end days it falls inside
    * (`sequence(d, d+6)` — map-side, fan-out pinned at ×7), dedup the
    * contributed (user, window-end) pairs, and count per window end.
    * Cost is 7·|user-days| rows through one exchange — versus the
    * range-join formulation whose candidate set is |days|·|user-days|
    * and whose distinct-per-window recount a 1000-executor cluster
    * cannot partial-aggregate.
    *
    * Only window-end days that actually occur in the data are emitted
    * (observed-day semantics; the day frame is tiny and broadcast).
    * The oracle uses the equivalent range-join + COUNT(DISTINCT) — at
    * oracle scale that shape is fine; the enrolled Spark arm is the
    * one that must survive 100 TB. */
  def rollingDistinctUsers(spark: SparkSession, dir: String): DataFrame = {
    val ud = events(spark, dir)
      .select(epochDay.as("d"),
        col("user_id"))
      .distinct()
    val days = ud.select(col("d")).distinct()
    ud.select(col("user_id"),
        explode(expr("sequence(d, d + 6)")).as("day"))
      .distinct()
      .join(broadcast(days), col("day") === col("d"), "left_semi")
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_users_7d"))
      .orderBy(col("day"))
  }

  /** Cohort LTV curve (J52): cumulative order revenue per first-order
    * cohort month over month-index since acquisition — the lifetime-
    * value twin of q_cohort_retention (which counts ACTIVITY; this
    * accumulates MONEY, the number acquisition budgets are set
    * against). Month key = year·12 + month − 1 (calendar-free integer
    * arithmetic, no date truncation roundtrips); revenue in exact
    * cents.
    *
    * Shape: one groupBy(custkey) for the cohort frame, one shuffle
    * join back on custkey (both sides key-partitioned — co-located at
    * scale), one partial-aggregable groupBy (cohort, idx), then a
    * running sum over the TINY (cohort × month-index) grid — the
    * window touches |cohorts·months| rows, never |orders| (the
    * daily_active_users discipline). */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame = {
    val o = orders(spark, dir).select(col("o_custkey").as("ck"),
      expr("CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1" +
        " AS BIGINT)").as("m"),
      cents("o_totalprice")
        .as("cents"))
    val cohort = o.groupBy(col("ck")).agg(min(col("m")).as("m0"))
    o.join(cohort, "ck")
      .withColumn("idx", col("m") - col("m0"))
      .groupBy(col("m0").as("cohort_month"), col("idx"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("rev_cents"))
      .withColumn("cum_rev_cents", sum(col("rev_cents")).over(
        Window.partitionBy(col("cohort_month")).orderBy(col("idx"))))
      .orderBy(col("cohort_month"), col("idx"))
  }

  /** Daily new-vs-returning split (J53): per active day, how many
    * active users are brand new (first-ever day) vs returning — the
    * acquisition/retention decomposition every growth dashboard draws,
    * and the daily twin of q_events_cumulative_users (whose first-seen
    * reduction this reuses).
    *
    * Shape: (user, day) dedup → per-user min-day reduction → one
    * key-partitioned join back → day census. All partial-aggregable;
    * the join is user_id-keyed on both sides (co-located at scale). */
  def newVsReturning(spark: SparkSession, dir: String): DataFrame = {
    val ud = events(spark, dir)
      .select(epochDay.as("d"),
        col("user_id"))
      .distinct()
    val first = ud.groupBy(col("user_id")).agg(min(col("d")).as("d0"))
    ud.join(first, "user_id")
      .groupBy(col("d").as("day"))
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("d") === col("d0"), 1L).otherwise(0L)).as("n_new"))
      .select(col("day"), col("n_active"), col("n_new"),
        (col("n_active") - col("n_new")).as("n_returning"),
        expr("n_new * 10000 div n_active").as("new_share_e4"))
      .orderBy(col("day"))
  }

  /** Cramér's V association audit (J54): IS event type associated
    * with day-of-week, and how strongly? The chi-square independence
    * test completes the inference family's CATEGORICAL×CATEGORICAL
    * cell (t/U test = numeric×binary, ANOVA = numeric×k-group, KS =
    * two distributions); V = sqrt(chi2/(N·min(r−1,c−1))) is the
    * effect size that, unlike raw chi2, does not grow with N — the
    * number a dashboard can threshold. Sqrt-free discipline: V² is
    * emitted (the abTest/mannKendall squared-verdict idiom).
    *
    * Exactness: per-cell term_e6 = (n·N − r·c)²·10⁶ div (N·r·c) —
    * the expected-count division is cleared by cross-multiplication,
    * one truncating div per cell, identical text in both engines.
    * (n·N)² reaches ~10²⁰ at sf0.1 (N = 10⁵), past 2⁶³ — the square
    * lives in DECIMAL(38,0) (the assortativity overflow lane), which
    * holds to N ≈ 10¹⁸ events.
    *
    * Shape (100 TB): fact scan → one partial-aggregable (type, dow)
    * census (35 cells) → broadcast margins → 35-row fold. dow =
    * epoch-day mod 7 (the anovaDow no-calendar idiom). dof is
    * data-derived; the 95% critical value is the authored literal for
    * dof 24 = (5−1)(7−1), valid while the census stays 5×7 (pinned by
    * the spec test). */
  def cramersV(spark: SparkSession, dir: String): DataFrame = {
    val cells = events(spark, dir)
      .select(col("event_type"), epochDow.as("dow"))
      .groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n"))
    chi2Census(cells, "event_type" -> "k_types", "dow" -> "k_dows")
      .select(col("n"), col("k_types"), col("k_dows"),
        expr("(k_types - 1) * (k_dows - 1)").as("dof"),
        col("chi2_e6"),
        // greatest(...,1) guards a census collapsed to one type or one
        // dow (house denominator discipline; ADVICE r8)
        expr("chi2_e6 div greatest(n * least(k_types - 1, k_dows - 1)," +
          " 1)").as("v2_e6"),
        // chi2 crit(dof=24, 95%) = 36.415 — authored e6 literal; the
        // spec pins dof == 24 so the literal cannot silently misapply
        expr("chi2_e6 >= 36415000").as("assoc_95"))
  }

  /** Paired sign-flip permutation test (J55): is the daily
    * purchase-minus-error count difference centered at zero? The
    * EXACT-null nonparametric answer the parametric ab_ttest and the
    * rank-based ab_utest both approximate: under H₀ each day's
    * difference is symmetric about 0, so flipping signs at random
    * must produce statistics as extreme as the observed one about as
    * often as not. B = 100 deterministic sign patterns from the shared
    * md5-h60 residue (the Poisson-bootstrap discipline — no RNG, both
    * engines replay the same flips); p uses the add-one permutation
    * convention (n_extreme+1)/(B+1), the exact-test form that can
    * never emit p = 0.
    *
    * Exactness: all integers end-to-end — counts, signed sums, one
    * truncating div for p_e4.
    *
    * Shape (100 TB): fact scan → partial-aggregable daily census →
    * bounded ×100 fan-out of the SPAN-SIZED frame (never the fact
    * table) → 100-row fold. */
  def permTest(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir)
      .withColumn("day", epochDay)
      .groupBy(col("day"))
      .agg((sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
        - sum(when(col("event_type") === "error", 1L).otherwise(0L)))
        .as("d"))
    val obs = daily.agg(sum(col("d")).as("t_obs"),
      count(lit(1)).as("n_days"))
    val tb = daily
      .select(col("day"), col("d"),
        explode(expr("sequence(1, 100)")).as("b"))
      .withColumn("s", expr(
        """CASE WHEN CAST(conv(substring(md5(concat(CAST(b AS STRING),
          | ':', CAST(day AS STRING))), 1, 15), 16, 10) AS BIGINT)
          | % 2 = 0 THEN 1 ELSE -1 END""".stripMargin))
      .groupBy(col("b")).agg(sum(expr("s * d")).as("t_b"))
    tb.crossJoin(broadcast(obs))
      .agg(max(col("n_days")).as("n_days"),
        max(col("t_obs")).as("t_obs"),
        count(lit(1)).as("n_perms"),
        sum(when(abs(col("t_b")) >= abs(col("t_obs")), 1L)
          .otherwise(0L)).as("n_extreme"))
      .select(col("n_days"), col("t_obs"), col("n_perms"),
        col("n_extreme"),
        expr("(n_extreme + 1) * 10000 div (n_perms + 1)").as("p_e4"),
        expr("(n_extreme + 1) * 10000 div (n_perms + 1) <= 500")
          .as("sig_95"))
  }

  /** Behavioral-entropy histogram (J57): per user, the Shannon entropy
    * of their event-TYPE distribution (how specialized vs diverse each
    * user's behavior is), then the population histogram over 25-milli-nat
    * buckets — the segmentation axis RFM misses (two users with equal
    * recency/frequency/monetary can be a single-habit bot and a
    * browser). Bucket = h_e3 div 25 (the fixture population is
    * tightly clustered near ln 5 — measured 1.505–1.608 nats at
    * sf0.01 — so coarse 0.25-nat bins would collapse to one row);
    * max possible H = ln 5 ≈ 1.609 ⇒ buckets ≤ 64.
    *
    * Exactness: the markovEntropy lnE3 text per user; bucket, census
    * and share are pure integer.
    *
    * Shape (100 TB): one partial-aggregable (user, type) census →
    * user-keyed fold (k ≤ 5 cells each) → 7-bucket census. No window,
    * no join. */
  def userEntropy(spark: SparkSession, dir: String): DataFrame = {
    val ut = events(spark, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val tot = ut.groupBy(col("user_id")).agg(sum(col("n")).as("t"))
    val h = ut.join(tot, "user_id")
      .groupBy(col("user_id"))
      .agg(expr("""CAST(sum(n * (CAST(floor(ln(t) * 1000 + 0.5)
        | AS BIGINT) - CAST(floor(ln(n) * 1000 + 0.5) AS BIGINT)))
        | div max(t) AS BIGINT)""".stripMargin).as("h_e3"))
    val buckets = h.groupBy(expr("h_e3 div 25").as("bucket"))
      .agg(count(lit(1)).as("n_users"),
        min(col("h_e3")).as("min_h_e3"), max(col("h_e3")).as("max_h_e3"))
    val nn = buckets.agg(sum(col("n_users")).as("nn"))
    buckets.crossJoin(broadcast(nn))
      .select(col("bucket"), col("n_users"),
        expr("n_users * 10000 div nn").as("share_e4"),
        col("min_h_e3"), col("max_h_e3"))
      .orderBy(col("bucket"))
  }

  /** Hour-of-day activity profile (J61): the intra-day seasonality
    * census the dow family (anova_dow / seasonal / stl) never looks
    * at — per UTC hour: events, share, and the peak-hour ratio
    * (peak/trough ×10⁴) that capacity planning reads first. Hour from
    * epoch microseconds (the no-calendar idiom: (us div 3600·10⁶)
    * mod 24), so no timezone function can drift between engines.
    *
    * Shape (100 TB): one partial-aggregable 24-cell census →
    * broadcast peak/trough fold. */
  def hourProfile(spark: SparkSession, dir: String): DataFrame = {
    val h = events(spark, dir)
      .select((epochHour % 24).as("hour"))
      .groupBy(col("hour")).agg(count(lit(1)).as("n"))
    val tot = h.agg(sum(col("n")).as("nn"), max(col("n")).as("mx"),
      min(col("n")).as("mn"))
    h.crossJoin(broadcast(tot))
      .select(col("hour"), col("n"),
        expr("n * 10000 div nn").as("share_e4"),
        (col("n") === col("mx")).as("is_peak"),
        expr("mx * 10000 div greatest(mn, 1)").as("peak_ratio_e4"))
      .orderBy(col("hour"))
  }

  /** Sample-ratio mismatch check (J64): the FIRST gate any A/B
    * platform runs before reading a single metric — does the md5-based
    * 50/50 user assignment actually split 50/50? A significant
    * mismatch means broken randomization (bot filtering, redirect
    * loss, assignment bug) and invalidates every downstream test in
    * the inference family. 1-dof chi-square against the even split:
    * χ² = (n₀−n₁)²/n exactly (both expected counts are n/2);
    * crit(1, 95%) = 3.841459 authored ×10⁶.
    *
    * Shape (100 TB): distinct users → map-side hash → 2-cell census
    * → 1-row verdict. */
  def srmCheck(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(col("user_id")).distinct()
      .select(expr(
        "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 15)," +
          " 16, 10) AS BIGINT) % 2").as("arm"))
      .groupBy(col("arm")).agg(count(lit(1)).as("cnt"))
      .agg(sum(col("cnt")).as("n_users"),
        sum(when(col("arm") === 0, col("cnt")).otherwise(0L)).as("n0"),
        sum(when(col("arm") === 1, col("cnt")).otherwise(0L)).as("n1"))
      .select(col("n_users"), col("n0"), col("n1"),
        expr("(n0 - n1) * (n0 - n1) * 1000000 div n_users")
          .as("chi2_e6"),
        expr("(n0 - n1) * (n0 - n1) * 1000000 div n_users >= 3841459")
          .as("srm_alarm"))

  /** The chi-square independence census of a two-way contingency
    * table `cells` (a, b, n), as one row: the total `n`, the level
    * count of each key (`a` and `b` pair the key column with the name
    * of its count; counted on the margins, so no distinct aggregate
    * and no Expand is planned) and chi2_e6 =
    * Σ (n·N − r·c)²·10⁶ div (N·r·c) over the cells — the expected-count
    * division cleared by cross-multiplication, one truncating div per
    * cell, the square in DECIMAL(38,0) (it passes 2⁶³ from N ≈ 10⁵).
    * Margins and total are broadcast to the cell-sized fold. */
  private def chi2Census(cells: DataFrame, a: (String, String),
      b: (String, String)): DataFrame = {
    val (ac, ka) = a
    val (bc, kb) = b
    val rowT = cells.groupBy(col(ac)).agg(sum(col("n")).as("r"))
    val colT = cells.groupBy(col(bc)).agg(sum(col("n")).as("c"))
    val tot = rowT.agg(sum(col("r")).as("nn"), count(lit(1)).as(ka))
      .crossJoin(colT.agg(count(lit(1)).as(kb)))
    cells.join(broadcast(rowT), ac)
      .join(broadcast(colT), bc)
      .crossJoin(broadcast(tot))
      .agg(max(col("nn")).as("n"), max(col(ka)).as(ka),
        max(col(kb)).as(kb),
        sum(expr("""CAST((CAST(n AS DECIMAL(38,0)) * nn - CAST(r AS
          | DECIMAL(38,0)) * c) * (CAST(n AS DECIMAL(38,0)) * nn -
          | CAST(r AS DECIMAL(38,0)) * c) * 1000000
          | div (CAST(nn AS DECIMAL(38,0)) * r * c) AS BIGINT)"""
          .stripMargin)).as("chi2_e6"))
  }

  /** Day-of-week × hour interaction test (J67): is the hourly shape
    * the SAME every weekday, or does (say) the weekend run a
    * different clock? Chi-square independence over the 7×24
    * contingency table — the two-way interaction neither
    * q_ts_anova_dow (dow only) nor q_events_hour_profile (hour only)
    * can see. Same cross-multiplied per-cell machinery as
    * q_events_cramers_v with the dof-138 crit literal 166.415
    * (authored, spec-pinned dof).
    *
    * Shape (100 TB): fact scan → 168-cell partial-aggregable census
    * → broadcast margins → 168-row fold. */
  def dowHourInteraction(spark: SparkSession, dir: String): DataFrame = {
    val cells = events(spark, dir)
      .select(epochDow.as("dow"), (epochHour % 24).as("hour"))
      .groupBy(col("dow"), col("hour"))
      .agg(count(lit(1)).as("n"))
    chi2Census(cells, "dow" -> "k_dows", "hour" -> "k_hours")
      .select(col("n"), col("k_dows"), col("k_hours"),
        expr("(k_dows - 1) * (k_hours - 1)").as("dof"),
        col("chi2_e6"),
        // chi2 crit(dof=138, 95%) = 166.415 — authored e6 literal,
        // licensed by the spec's dof == 138 pin
        expr("chi2_e6 >= 166415000").as("interaction_95"))
  }

  /** Weekend lift per event type (J68): weekend vs weekday DAILY RATE
    * ratio — the per-type contrast the dow seasonality rows aggregate
    * away (a type can be flat overall yet weekend-heavy). Weekend =
    * epoch-day mod 7 ∈ {2, 3} (1970-01-01 was a Thursday ⇒ residues
    * 2/3 are Sat/Sun — the no-calendar idiom, documented). Rate
    * normalization uses ACTIVE day counts per side so a missing day
    * can't masquerade as a low rate.
    *
    * Exactness: lift cleared to we_cnt·wd_days·10⁴ div
    * (wd_cnt·we_days), one truncating div.
    *
    * Shape (100 TB): fact scan → (type, side) census + global day
    * census → broadcast fold. */
  def weekendLift(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .withColumn("day", epochDay)
      .withColumn("we", (col("day") % 7).isin(2L, 3L))
    val days = ev.select(col("day"), col("we")).distinct()
      .agg(sum(when(col("we"), 1L).otherwise(0L)).as("we_days"),
        sum(when(!col("we"), 1L).otherwise(0L)).as("wd_days"))
    ev.groupBy(col("event_type"))
      .agg(sum(when(col("we"), 1L).otherwise(0L)).as("we_cnt"),
        sum(when(!col("we"), 1L).otherwise(0L)).as("wd_cnt"))
      .crossJoin(broadcast(days))
      .select(col("event_type"), col("we_cnt"), col("wd_cnt"),
        col("we_days"), col("wd_days"),
        expr("""CAST(we_cnt * wd_days * 10000
          | div greatest(wd_cnt * we_days, 1) AS BIGINT)"""
          .stripMargin).as("lift_e4"))
      .orderBy(col("event_type"))
  }

  /** Event-type affinity (J69): per type pair, the Jaccard overlap of
    * their USER bases — which behaviors live in the same people
    * (purchase∩error high = the frustrated-buyer segment), the
    * user-set complement of q_events_markov's sequential transitions
    * (co-usage without ordering). C(5,2) = 10 rows.
    *
    * Shape (100 TB): (user, type) dedup → the per-user bounded pair
    * fan-out (≤ C(5,2) per user — never corpus-quadratic) → 10-cell
    * census + broadcast marginals. */
  def typeAffinity(spark: SparkSession, dir: String): DataFrame = {
    val ut = events(spark, dir)
      .select(col("user_id"), col("event_type")).distinct()
    val m = ut.groupBy(col("event_type")).agg(count(lit(1)).as("nu"))
    ut.as("a").join(ut.as("b"),
        col("a.user_id") === col("b.user_id") &&
        col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("ta"),
        col("b.event_type").as("tb"))
      .agg(count(lit(1)).as("n_both"))
      .join(broadcast(m.select(col("event_type").as("ta"),
        col("nu").as("na"))), Seq("ta"))
      .join(broadcast(m.select(col("event_type").as("tb"),
        col("nu").as("nb"))), Seq("tb"))
      .select(col("ta"), col("tb"), col("n_both"), col("na"),
        col("nb"),
        expr("n_both * 10000 div (na + nb - n_both)")
          .as("jaccard_e4"))
      .orderBy(col("ta"), col("tb"))
  }

  /** User lifespan distribution (J72): exact p50/p90 of each user's
    * active span (last − first day) plus the single-day share — the
    * population-level lifetime view beside the event-level retention
    * curve (D1/D7/D14 asks "did they come back on day k"; this asks
    * "how long do they last at all"). Distribution-counting
    * percentiles (the lead_time direct-rank discipline).
    *
    * Shape (100 TB): per-user min/max fold (one shuffle) →
    * span-support census → window cum on the census → rank picks. */
  def userLifespan(spark: SparkSession, dir: String): DataFrame = {
    val sp = events(spark, dir)
      .withColumn("day", epochDay)
      .groupBy(col("user_id"))
      .agg((max(col("day")) - min(col("day"))).as("span"))
    val cen = sp.groupBy(col("span")).agg(count(lit(1)).as("c"))
    val tot = sp.agg(count(lit(1)).as("n"),
      sum(when(col("span") === 0, 1L).otherwise(0L)).as("n_oneday"))
    val cum = cen.withColumn("cum", sum(col("c")).over(
      org.apache.spark.sql.expressions.Window.orderBy(col("span"))))
      .crossJoin(broadcast(tot))
    val p50 = cum.filter(col("cum") >= expr("(n + 1) div 2"))
      .agg(min(col("span")).as("p50_span"))
    val p90 = cum.filter(col("cum") >= expr("(n * 9 + 9) div 10"))
      .agg(min(col("span")).as("p90_span"))
    tot.crossJoin(broadcast(p50)).crossJoin(broadcast(p90))
      .select(col("n").as("n_users"), col("n_oneday"),
        expr("n_oneday * 10000 div n").as("oneday_share_e4"),
        col("p50_span"), col("p90_span"))
  }

  /** Empirical-Bayes shrinkage of per-user purchase rates (J75, round
    * 9 — the Beta–Binomial "batting average" estimator): a user with
    * 2 purchases in 3 events is NOT a 67%-purchase user; their rate
    * shrinks toward the population mean in proportion to how little
    * evidence they carry. Prior strength k₀ = m(1−m)/Var(p) − 1 by
    * method of moments over per-user shares; posterior rate
    * p̂ = (k + m·k₀)/(n + k₀). Emits the 15 largest |shift|s — exactly
    * the small-n outliers a raw leaderboard would misrank (the
    * per-entity twin of q_events_cuped's variance reduction; raw rate
    * rows like q_events_rfm assume n is big enough — this row is what
    * to use when it isn't).
    *
    * Exactness: shares on the e6 grid; Var in e12 via the n·Σp²−(Σp)²
    * form in DECIMAL(38,0)/HUGEINT (the assortativity overflow lane;
    * BIGINT would overflow at u ≈ 10⁵ users); k₀ on the e3 grid,
    * floored at 0 (overdispersed-beyond-Beta fixtures get no
    * shrinkage rather than a negative prior — both engines
    * identically); posterior = one final e6 truncating div.
    *
    * Shape (100 TB): one partial-aggregable per-user census → 1-row
    * prior broadcast → map-only posterior + top-k. */
  def ebShrinkage(spark: SparkSession, dir: String): DataFrame = {
    val per = events(spark, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("k"))
      .withColumn("p_e6", expr("k * 1000000 div n"))
    // DECIMAL cast INSIDE the sum (review; the round-8 assortativity
    // lesson): a plain BIGINT Σp² crosses 2⁶³ at u ≈ 9·10⁶ users and
    // ANSI throws mid-query at the scale the row designs for
    val g = per
      .agg(count(lit(1)).as("u"), sum(col("p_e6")).as("sp"),
        sum(expr("CAST(p_e6 AS DECIMAL(38,0)) * p_e6")).as("sp2"))
      .select(col("u"), expr("sp div u").as("mean_e6"),
        expr("""CAST(greatest((CAST(u AS DECIMAL(38,0)) * sp2
          | - CAST(sp AS DECIMAL(38,0)) * sp)
          | div (CAST(u AS DECIMAL(38,0)) * u), 1) AS BIGINT)"""
          .stripMargin).as("var_e12"))
      // k0 capped at 10⁶ (e3 grid = 10⁹): a degenerate all-equal-rate
      // fixture drives var→1 and k0→2.5·10¹⁴, whose product with
      // mean_e6 leaves BIGINT; past 10⁶ pseudo-observations the
      // posterior is the prior mean to e6 resolution anyway
      .withColumn("k0_e3", expr(
        """least(greatest(mean_e6 * (1000000 - mean_e6) * 1000
          | div var_e12 - 1000, 0), 1000000000)""".stripMargin))
    per.crossJoin(broadcast(g))
      .withColumn("shrunk_e6", expr(
        "(k * 1000000000 + mean_e6 * k0_e3) div (n * 1000 + k0_e3)"))
      .withColumn("shift_e6", expr("abs(shrunk_e6 - p_e6)"))
      .select(col("user_id"), col("n"), col("k"), col("p_e6"),
        col("mean_e6"), col("k0_e3"), col("shrunk_e6"), col("shift_e6"))
      .orderBy(col("shift_e6").desc, col("user_id"))
      .limit(15)
  }

  /** User-activity concentration curve (J80 — the Pareto "whale"
    * census): users decile-ranked by event count (ntile 10
    * over (count desc, user_id) — the rfm quintile discipline: both
    * engines split first-buckets-larger over a TOTAL order, so the
    * decile boundaries are identical), then per decile: users, events,
    * event share, cumulative share. The 80/20 number that decides
    * capacity planning, sampling strata, and whether per-user state is
    * hot-key-skewed — the USER-mass member beside q_events_hhi's
    * type concentration and q_agg_gini's value inequality.
    *
    * Shape (100 TB): the event scan reduces to a USER-sized frame
    * before any window runs (the diag_range_bounds bounded-frame
    * pattern); at true 100 TB user counts the same deciles come from
    * quantile thresholds + a broadcast range join — the rfm note
    * applies verbatim. All ratios are nonneg truncating e4 divs. */
  def paretoShare(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val users = events(spark, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
      .withColumn("decile", ntile(10).over(
        Window.orderBy(col("cnt").desc, col("user_id"))).cast("long"))
    val tot = users.agg(sum(col("cnt")).as("te"))
    users.groupBy(col("decile"))
      .agg(count(lit(1)).as("n_users"), sum(col("cnt")).as("n_events"))
      .crossJoin(broadcast(tot))
      .withColumn("cum",
        sum(col("n_events")).over(Window.orderBy(col("decile"))))
      .select(col("decile"), col("n_users"), col("n_events"),
        expr("n_events * 10000 div te").as("share_e4"),
        expr("cum * 10000 div te").as("cum_share_e4"))
      .orderBy(col("decile"))
  }

  /** Fano factor per event type (J93): variance-to-mean of
    * the daily count series — THE dispersion index (Fano 1947): 1 ⇔
    * Poisson arrivals, > 1 overdispersed (bursty/clumped traffic),
    * < 1 regular — the per-TYPE answer the randomness family's global
    * screens (variance_ratio on horizons, runs/turning-point tests on
    * signs) don't give: WHICH event types arrive Poisson-like and
    * which clump. The capacity-planning number: an autoscaler sized on
    * mean rate under-provisions a Fano-10 type by 10×.
    *
    * Exactness: fano = (nΣx² − S²)/(nS) fully cross-multiplied (no
    * mean materializes), one truncating div, Cauchy–Schwarz keeps the
    * numerator nonnegative; products ride the DECIMAL lane (S ≈ 10¹²
    * at corpus scale squares past 2⁶³).
    *
    * Shape (100 TB): one partial-aggregable (type, day) census →
    * per-type moment fold → |types| rows. */
  def fanoFactor(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("d", epochDay)
      .groupBy(col("event_type"), col("d"))
      .agg(count(lit(1)).as("x"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), sum(col("x")).as("n_events"),
        sum(expr("x * x")).as("ss"))
      .select(col("event_type"), col("n_days"), col("n_events"),
        expr("n_events * 100 div n_days").as("mean_e2"),
        expr("""CAST((CAST(n_days AS DECIMAL(38,0)) * ss
          | - CAST(n_events AS DECIMAL(38,0)) * n_events) * 100
          | div (CAST(n_days AS DECIMAL(38,0)) * n_events)
          | AS BIGINT)""".stripMargin).as("fano_e2"))
      .orderBy(col("event_type"))

  /** Bot-regularity screen (J97): per user (≥ 10 events),
    * the squared coefficient of variation of inter-event gaps in
    * SECONDS — machine traffic is metronomic (cv² → 0), humans are
    * bursty (cv² ≥ 1 for Poisson and beyond) — with the triage
    * verdict at the authored cuts cv² < 0.25 → 'regular' (bot-like),
    * < 2 → 'typical', else 'bursty'. The per-USER complement of the
    * per-type Fano row: Fano asks "does this event type clump",
    * this row "does this ACTOR tick like a machine" — the first
    * screen every abuse/quality pipeline runs on an actor.
    *
    * Exactness: the demandClass cv² form — (nΣg² − S²)·10⁴ div S²,
    * fully cross-multiplied, second-granular gaps keep Σg² in BIGINT
    * at fixture scale (DECIMAL lane documented for corpus scale);
    * mean gap ×100 one truncating div.
    *
    * Shape (100 TB): one user-keyed window (lag) + one
    * partial-aggregable per-user fold — the cusum/regr_slope
    * single-shuffle contract. */
  def botScreen(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      // Truncate each timestamp to the µs grid BEFORE differencing:
      // the DuckDB oracle differences
      // epoch_us-truncated stamps, so a raw-ns difference could
      // disagree by one second across a boundary on any future
      // fixture with sub-µs-aligned ts_ns; truncating first makes
      // both engines round identically regardless of ns residue.
      // The window ORDER BY is on the SAME µs grid + event_id tiebreak:
      // ordering by raw ts_ns while the oracle
      // orders by µs-resolution ts would let same-µs/different-ns peers
      // sort differently across engines and diverge the order-sensitive
      // lag chain.
      .withColumn("g",
        expr("((ts_ns div 1000) - lag(ts_ns div 1000) OVER (PARTITION" +
          " BY user_id ORDER BY ts_ns div 1000, event_id)) div 1000000"))
      .filter(col("g").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_gaps"), sum(col("g")).as("s"),
        sum(expr("g * g")).as("ss"))
      .filter(col("n_gaps") >= 9) // >= 10 events
      .select(col("user_id"), col("n_gaps"),
        expr("s * 100 div n_gaps").as("mean_gap_s_e2"),
        expr("""CAST((CAST(n_gaps AS DECIMAL(38,0)) * ss
          | - CAST(s AS DECIMAL(38,0)) * s) * 10000
          | div greatest(CAST(s AS DECIMAL(38,0)) * s, 1)
          | AS BIGINT)""".stripMargin).as("cv2_e4"))
      .withColumn("verdict",
        when(col("cv2_e4") < 2500L, "regular")
          .when(col("cv2_e4") < 20000L, "typical")
          .otherwise("bursty"))
      .orderBy(col("user_id"))

  /** Sequential-peeking audit (J103): q_events_ab_ttest's
    * experiment re-read at four interim peeks (days 7/14/21/28 from
    * the first purchase) with BOTH decision rules — the naive
    * per-peek 95% cut (z² ≥ 3.84) and the Bonferroni-4 cut
    * (α/4 ⇒ z² ≥ 6.24, authored literal) — the peeking problem as
    * data: on this null-true fixture any naive rejection IS the
    * false stop the corrected rule exists to prevent, and the row
    * shows at which peek the naive experimenter would have shipped a
    * phantom winner. The sequential complement of q_events_power_mde
    * (design) and ab_ttest (one readout).
    *
    * Exactness: the abTest lanes per peek — integer-cents means,
    * exact central m2, sqrt-free cross-multiplied verdicts
    * (diff²·100 vs {384, 624}·se²); signed diff emitted raw, never
    * divided.
    *
    * Shape (100 TB): events cross the constant 4-row peek frame
    * (bounded ×4 fan-out) → two partial-aggregable (peek, arm)
    * passes with an ≤8-row means broadcast between → 4 rows. */
  def peekingAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select((col("user_id") % 2).as("arm"),
        cents("value").as("cents"),
        epochDay.as("d"))
    val d0 = ev.agg(min(col("d")).as("d0"))
    val peeks = Seq(7L, 14L, 21L, 28L).toDF("peek_day")
    val upTo = ev.crossJoin(broadcast(d0)).crossJoin(broadcast(peeks))
      .filter(col("d") - col("d0") < col("peek_day"))
      .select(col("peek_day"), col("arm"), col("cents"))
    val mu = upTo.groupBy(col("peek_day"), col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
      .withColumn("mu", expr("s div n"))
      .select(col("peek_day"), col("arm"), col("n"), col("mu"))
    upTo.join(broadcast(mu), Seq("peek_day", "arm"))
      .withColumn("c", col("cents") - col("mu"))
      .groupBy(col("peek_day"), col("arm"))
      .agg(max(col("n")).as("n"), max(col("mu")).as("mu"),
        sum(col("c") * col("c")).as("m2"))
      .groupBy(col("peek_day"))
      .agg(sum(when(col("arm") === 0, col("n"))).as("n_a"),
        sum(when(col("arm") === 1, col("n"))).as("n_b"),
        sum(when(col("arm") === 0, col("mu"))).as("mean_a_cents"),
        sum(when(col("arm") === 1, col("mu"))).as("mean_b_cents"),
        sum(when(col("arm") === 0, expr("m2 div n"))).as("var_a"),
        sum(when(col("arm") === 1, expr("m2 div n"))).as("var_b"))
      .withColumn("diff_cents",
        expr("mean_a_cents - mean_b_cents"))
      .withColumn("se2", expr("var_a div n_a + var_b div n_b"))
      .withColumn("naive_reject", expr(
        "diff_cents * diff_cents * 100 >= 384 * greatest(se2, 1)"))
      .withColumn("bonferroni_reject", expr(
        "diff_cents * diff_cents * 100 >= 624 * greatest(se2, 1)"))
      .select(col("peek_day"), col("n_a"), col("n_b"),
        col("diff_cents"), col("se2"), col("naive_reject"),
        col("bonferroni_reject"))
      .orderBy(col("peek_day"))
  }

  /** Attribution-window sensitivity sweep (J104): the
    * last-touch model re-read at lookbacks of 1/3/7 days — the window
    * parameter every attribution deployment ARGUES about, measured:
    * per (lookback, channel), conversions attributed vs falling to
    * 'zz_none'. The sweep discipline applied to q_attr_last_touch
    * exactly as bm25_sweep does to bm25 — if revenue credit swings
    * hard between 3 and 7 days, the model is window-dominated and the
    * single-window row's numbers deserve suspicion.
    *
    * Shape (100 TB): ONE user-partitioned prev-touch window (the
    * last_touch pass, unchanged) → constant ×3 arm fan-out on the
    * purchases-only frame → (lookback, channel) rollup. */
  def attrWindowSweep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val prevFrame = userTimeline.rowsBetween(Window.unboundedPreceding, -1)
    val base = eventsUs(spark, dir)
      .withColumn("prev_type",
        last(when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(prevFrame))
      .withColumn("prev_ts",
        last(when(col("event_type") =!= "purchase", col("ts_us")),
          ignoreNulls = true).over(prevFrame))
      .filter(col("event_type") === "purchase")
    val arms = Seq(1L, 3L, 7L).toDF("lookback_days")
    base.crossJoin(broadcast(arms))
      .withColumn("channel",
        when(col("prev_ts").isNotNull && col("prev_ts") >=
          col("ts_us") - col("lookback_days") * 86400000000L,
          col("prev_type")).otherwise(lit("zz_none")))
      .groupBy(col("lookback_days"), col("channel"))
      .agg(count(lit(1)).as("n_conversions"))
      .orderBy(col("lookback_days"), col("channel"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_attr_window_sweep" -> attrWindowSweep,
    "q_events_peeking_audit" -> peekingAudit,
    "q_events_bot_screen" -> botScreen,
    "q_events_fano" -> fanoFactor,
    "q_events_pareto_share" -> paretoShare,
    "q_events_eb_shrinkage" -> ebShrinkage,
    "q_events_lifespan" -> userLifespan,
    "q_events_type_affinity" -> typeAffinity,
    "q_events_weekend_lift" -> weekendLift,
    "q_events_dow_hour" -> dowHourInteraction,
    "q_events_srm" -> srmCheck,
    "q_events_hour_profile" -> hourProfile,
    "q_events_user_entropy" -> userEntropy,
    "q_events_perm_test" -> permTest,
    "q_events_cramers_v" -> cramersV,
    "q_events_new_returning" -> newVsReturning,
    "q_orders_cohort_ltv" -> cohortLtv,
    "q_events_rolling_distinct" -> rollingDistinctUsers,
    "q_attr_first_touch" -> firstTouchAttribution,
    "q_events_engagement_value" -> engagementValue,
    "q_events_absorption" -> absorptionCurve,
    "q_events_cumulative_users" -> cumulativeUsers,
    "q_events_power_mde" -> powerMde,
    "q_events_markov_entropy" -> markovEntropy,
    "q_events_retention_curve" -> retentionCurve,
    "q_events_retention_halflife" -> retentionHalflife,
    "q_events_rfm_migration" -> rfmMigration,
    "q_parts_abc" -> abcAnalysis,
    "q_events_funnel_lag" -> funnelLag,
    "q_events_cuped" -> cuped,
    "q_events_interarrival" -> interarrival,
    "q_events_hhi" -> hhiConcentration,
    "q_events_ab_utest" -> abUTest,
    "q_events_reciprocity" -> reciprocity,
    "q_events_survival" -> kmSurvival,
    "q_events_bounce_rate" -> bounceRate,
    "q_events_markov_steady" -> markovSteady,
    "q_events_stickiness" -> stickiness,
    "q_events_concurrency" -> concurrencyCurve,
    "q_attr_linear_multi" -> linearAttribution,
    "q_events_ab_ttest" -> abTest,
    "q_events_rfm" -> rfmSegments,
    "q_llm_textrank" -> textrank,
    "q_win_gap_islands" -> gapIslands,
    "q_skyline_parts" -> skylineParts,
    "q_funnel_stages" -> funnelStages,
    "q_cohort_retention" -> cohortRetention,
    "q_attr_last_touch" -> lastTouchAttribution,
    "q_diag_range_bounds" -> rangeBoundsDiag,
    "q_llm_prefix_join" -> prefixJoin,
    "q_llm_weighted_sample" -> weightedSample,
    "q_seq_pattern" -> seqPattern,
    "q_llm_inverted_index" -> invertedIndex,
    "q_top_paths" -> topPaths,
    "q_agg_mode" -> modeByGroup,
    "q_llm_pmi_colloc" -> pmiCollocations,
    "q_daily_active_users" -> dailyActiveUsers,
    "q_events_markov" -> markovTransitions,
  )

  val oracle: Map[String, String] = Map(
    "q_attr_window_sweep" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |   epoch_us(ts) AS ts_us FROM events),
        |w AS (SELECT *,
        |   last_value(CASE WHEN event_type <> 'purchase'
        |     THEN event_type END IGNORE NULLS) OVER (
        |     PARTITION BY user_id ORDER BY ts_us, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |     AS prev_type,
        |   last_value(CASE WHEN event_type <> 'purchase'
        |     THEN ts_us END IGNORE NULLS) OVER (
        |     PARTITION BY user_id ORDER BY ts_us, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |     AS prev_ts
        |  FROM e),
        |arms AS (SELECT CAST(unnest([1, 3, 7]) AS BIGINT)
        |   AS lookback_days),
        |p AS (SELECT a.lookback_days,
        |   CASE WHEN prev_ts IS NOT NULL AND prev_ts >=
        |     ts_us - a.lookback_days * 86400000000 THEN prev_type
        |    ELSE 'zz_none' END AS channel
        |  FROM w CROSS JOIN arms a WHERE event_type = 'purchase')
        |SELECT lookback_days, channel,
        | CAST(count(*) AS BIGINT) AS n_conversions
        |FROM p GROUP BY 1, 2 ORDER BY lookback_days, channel"""
        .stripMargin,
    "q_events_peeking_audit" ->
      """WITH ev AS (SELECT user_id % 2 AS arm,
        |   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
        |   epoch_us(ts) // 86400000000 AS d
        |  FROM events WHERE event_type = 'purchase'),
        |d0 AS (SELECT min(d) AS d0 FROM ev),
        |peeks AS (SELECT CAST(unnest([7, 14, 21, 28]) AS BIGINT)
        |   AS peek_day),
        |up AS (SELECT p.peek_day, e.arm, e.cents
        |  FROM ev e CROSS JOIN d0 CROSS JOIN peeks p
        |  WHERE e.d - d0.d0 < p.peek_day),
        |mu AS (SELECT peek_day, arm, CAST(count(*) AS BIGINT) AS n,
        |   CAST(sum(cents) // count(*) AS BIGINT) AS mu
        |  FROM up GROUP BY 1, 2),
        |m2 AS (SELECT up.peek_day, up.arm, max(mu.n) AS n,
        |   max(mu.mu) AS mu,
        |   CAST(sum((up.cents - mu.mu) * (up.cents - mu.mu))
        |     AS BIGINT) AS m2
        |  FROM up JOIN mu ON mu.peek_day = up.peek_day
        |   AND mu.arm = up.arm
        |  GROUP BY 1, 2),
        |w AS (SELECT peek_day,
        |   CAST(sum(CASE WHEN arm = 0 THEN n END) AS BIGINT) AS n_a,
        |   CAST(sum(CASE WHEN arm = 1 THEN n END) AS BIGINT) AS n_b,
        |   CAST(sum(CASE WHEN arm = 0 THEN mu END) AS BIGINT) AS ma,
        |   CAST(sum(CASE WHEN arm = 1 THEN mu END) AS BIGINT) AS mb,
        |   CAST(sum(CASE WHEN arm = 0 THEN m2 // n END) AS BIGINT)
        |     AS va,
        |   CAST(sum(CASE WHEN arm = 1 THEN m2 // n END) AS BIGINT)
        |     AS vb
        |  FROM m2 GROUP BY 1)
        |SELECT peek_day, n_a, n_b,
        |  CAST(ma - mb AS BIGINT) AS diff_cents,
        |  CAST(va // n_a + vb // n_b AS BIGINT) AS se2,
        |  (ma - mb) * (ma - mb) * 100
        |    >= 384 * greatest(va // n_a + vb // n_b, 1)
        |    AS naive_reject,
        |  (ma - mb) * (ma - mb) * 100
        |    >= 624 * greatest(va // n_a + vb // n_b, 1)
        |    AS bonferroni_reject
        |FROM w ORDER BY peek_day""".stripMargin,
    "q_events_bot_screen" ->
      """WITH g AS (SELECT user_id,
        |   (epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id)) // 1000000
        |     AS g
        |  FROM events),
        |a AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
        |   CAST(sum(g) AS BIGINT) AS s,
        |   CAST(sum(g * g) AS BIGINT) AS ss
        |  FROM g WHERE g IS NOT NULL GROUP BY 1
        |  HAVING count(*) >= 9),
        |m AS (SELECT user_id, n_gaps,
        |   CAST(s * 100 // n_gaps AS BIGINT) AS mean_gap_s_e2,
        |   CAST((CAST(n_gaps AS HUGEINT) * ss
        |     - CAST(s AS HUGEINT) * s) * 10000
        |     // greatest(CAST(s AS HUGEINT) * s, 1) AS BIGINT)
        |     AS cv2_e4
        |  FROM a)
        |SELECT user_id, n_gaps, mean_gap_s_e2, cv2_e4,
        |  CASE WHEN cv2_e4 < 2500 THEN 'regular'
        |   WHEN cv2_e4 < 20000 THEN 'typical'
        |   ELSE 'bursty' END AS verdict
        |FROM m ORDER BY user_id""".stripMargin,
    "q_events_fano" ->
      """WITH dc AS (SELECT event_type,
        |   epoch_us(ts) // 86400000000 AS d,
        |   CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |   CAST(sum(x) AS BIGINT) AS n_events,
        |   CAST(sum(x * x) AS BIGINT) AS ss
        |  FROM dc GROUP BY 1)
        |SELECT event_type, n_days, n_events,
        |  CAST(n_events * 100 // n_days AS BIGINT) AS mean_e2,
        |  CAST((CAST(n_days AS HUGEINT) * ss
        |    - CAST(n_events AS HUGEINT) * n_events) * 100
        |    // (CAST(n_days AS HUGEINT) * n_events) AS BIGINT)
        |    AS fano_e2
        |FROM m ORDER BY event_type""".stripMargin,
    "q_events_pareto_share" ->
      """WITH users AS (SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1),
        |d AS (SELECT user_id, cnt, CAST(ntile(10) OVER (
        |   ORDER BY cnt DESC, user_id) AS BIGINT) AS decile FROM users),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS te FROM users),
        |per AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_users,
        |   CAST(sum(cnt) AS BIGINT) AS n_events
        |  FROM d GROUP BY 1)
        |SELECT decile, n_users, n_events,
        | CAST(n_events * 10000 // te AS BIGINT) AS share_e4,
        | CAST(sum(n_events) OVER (ORDER BY decile) * 10000 // te
        |   AS BIGINT) AS cum_share_e4
        |FROM per CROSS JOIN tot
        |ORDER BY decile""".stripMargin,
    "q_events_eb_shrinkage" ->
      """WITH per AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |   CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
        |     END) AS BIGINT) AS k
        |  FROM events GROUP BY 1),
        |pe AS (SELECT user_id, n, k, k * 1000000 // n AS p_e6
        |  FROM per),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS u,
        |   CAST(sum(p_e6) AS BIGINT) AS sp,
        |   CAST(sum(p_e6 * p_e6) AS HUGEINT) AS sp2 FROM pe),
        |pr AS (SELECT u, sp // u AS mean_e6,
        |   CAST(greatest((CAST(u AS HUGEINT) * sp2
        |     - CAST(sp AS HUGEINT) * sp)
        |     // (CAST(u AS HUGEINT) * u), 1) AS BIGINT) AS var_e12
        |  FROM g),
        |k0 AS (SELECT u, mean_e6, var_e12,
        |   least(greatest(mean_e6 * (1000000 - mean_e6) * 1000
        |     // var_e12 - 1000, 0), 1000000000) AS k0_e3 FROM pr)
        |SELECT user_id, n, k, p_e6, mean_e6, k0_e3,
        | (k * 1000000000 + mean_e6 * k0_e3) // (n * 1000 + k0_e3)
        |   AS shrunk_e6,
        | abs((k * 1000000000 + mean_e6 * k0_e3) // (n * 1000 + k0_e3)
        |   - p_e6) AS shift_e6
        |FROM pe CROSS JOIN k0
        |ORDER BY shift_e6 DESC, user_id LIMIT 15""".stripMargin,
    "q_events_lifespan" ->
      """WITH sp AS (SELECT user_id,
        |   CAST(max(epoch_us(ts) // 86400000000)
        |     - min(epoch_us(ts) // 86400000000) AS BIGINT) AS span
        |  FROM events GROUP BY 1),
        |cen AS (SELECT span, CAST(count(*) AS BIGINT) AS c
        |  FROM sp GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |   CAST(sum(CASE WHEN span = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |     AS n_oneday FROM sp),
        |cum AS (SELECT span,
        |   CAST(sum(c) OVER (ORDER BY span) AS BIGINT) AS cum, n
        |  FROM cen CROSS JOIN tot),
        |p50 AS (SELECT min(span) AS p50_span FROM cum
        |  WHERE cum >= (n + 1) // 2),
        |p90 AS (SELECT min(span) AS p90_span FROM cum
        |  WHERE cum >= (n * 9 + 9) // 10)
        |SELECT n AS n_users, n_oneday,
        | n_oneday * 10000 // n AS oneday_share_e4, p50_span, p90_span
        |FROM tot CROSS JOIN p50 CROSS JOIN p90""".stripMargin,
    "q_events_type_affinity" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nu
        |  FROM ut GROUP BY 1),
        |p AS (SELECT a.event_type AS ta, b.event_type AS tb,
        |   CAST(count(*) AS BIGINT) AS n_both
        |  FROM ut a JOIN ut b ON a.user_id = b.user_id
        |   AND a.event_type < b.event_type GROUP BY 1, 2)
        |SELECT ta, tb, n_both, ma.nu AS na, mb.nu AS nb,
        | n_both * 10000 // (ma.nu + mb.nu - n_both) AS jaccard_e4
        |FROM p JOIN m ma ON p.ta = ma.event_type
        | JOIN m mb ON p.tb = mb.event_type
        |ORDER BY ta, tb""".stripMargin,
    "q_events_weekend_lift" ->
      """WITH ev AS (SELECT event_type,
        |   epoch_us(ts) // 86400000000 AS day,
        |   (epoch_us(ts) // 86400000000) % 7 IN (2, 3) AS we
        |  FROM events),
        |days AS (SELECT
        |   CAST(sum(CASE WHEN we THEN 1 ELSE 0 END) AS BIGINT)
        |     AS we_days,
        |   CAST(sum(CASE WHEN we THEN 0 ELSE 1 END) AS BIGINT)
        |     AS wd_days
        |  FROM (SELECT DISTINCT day, we FROM ev) t),
        |g AS (SELECT event_type,
        |   CAST(sum(CASE WHEN we THEN 1 ELSE 0 END) AS BIGINT)
        |     AS we_cnt,
        |   CAST(sum(CASE WHEN we THEN 0 ELSE 1 END) AS BIGINT)
        |     AS wd_cnt
        |  FROM ev GROUP BY 1)
        |SELECT event_type, we_cnt, wd_cnt, we_days, wd_days,
        | CAST(we_cnt * wd_days * 10000
        |   // greatest(wd_cnt * we_days, 1) AS BIGINT) AS lift_e4
        |FROM g CROSS JOIN days ORDER BY event_type""".stripMargin,
    "q_events_dow_hour" ->
      """WITH cells AS (SELECT
        |   (epoch_us(ts) // 86400000000) % 7 AS dow,
        |   (epoch_us(ts) // 3600000000) % 24 AS hour,
        |   CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |rt AS (SELECT dow, CAST(sum(n) AS BIGINT) AS r
        |  FROM cells GROUP BY 1),
        |ct AS (SELECT hour, CAST(sum(n) AS BIGINT) AS c
        |  FROM cells GROUP BY 1),
        |tt AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
        |  CAST(count(DISTINCT dow) AS BIGINT) AS k_dows,
        |  CAST(count(DISTINCT hour) AS BIGINT) AS k_hours FROM cells),
        |f AS (SELECT max(nn) AS n, max(k_dows) AS k_dows,
        |  max(k_hours) AS k_hours,
        |  CAST(sum(CAST((CAST(n AS HUGEINT) * nn - CAST(r AS
        |    HUGEINT) * c) * (CAST(n AS HUGEINT) * nn -
        |    CAST(r AS HUGEINT) * c) * 1000000
        |    // (CAST(nn AS HUGEINT) * r * c) AS BIGINT)) AS BIGINT)
        |    AS chi2_e6
        |  FROM cells JOIN rt USING (dow) JOIN ct USING (hour), tt)
        |SELECT n, k_dows, k_hours,
        |  (k_dows - 1) * (k_hours - 1) AS dof, chi2_e6,
        |  chi2_e6 >= 166415000 AS interaction_95
        |FROM f""".stripMargin,
    "q_events_srm" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |a AS (SELECT CAST('0x'||substr(md5(CAST(user_id AS VARCHAR)),
        |   1, 15) AS BIGINT) % 2 AS arm FROM u),
        |c AS (SELECT arm, CAST(count(*) AS BIGINT) AS cnt
        |  FROM a GROUP BY 1),
        |f AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_users,
        |   CAST(sum(CASE WHEN arm = 0 THEN cnt ELSE 0 END) AS BIGINT)
        |     AS n0,
        |   CAST(sum(CASE WHEN arm = 1 THEN cnt ELSE 0 END) AS BIGINT)
        |     AS n1
        |  FROM c)
        |SELECT n_users, n0, n1,
        | (n0 - n1) * (n0 - n1) * 1000000 // n_users AS chi2_e6,
        | (n0 - n1) * (n0 - n1) * 1000000 // n_users >= 3841459
        |   AS srm_alarm
        |FROM f""".stripMargin,
    "q_events_hour_profile" ->
      """WITH h AS (SELECT (epoch_us(ts) // 3600000000) % 24 AS hour,
        |   CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
        |   CAST(max(n) AS BIGINT) AS mx, CAST(min(n) AS BIGINT) AS mn
        |  FROM h)
        |SELECT CAST(hour AS BIGINT) AS hour, n,
        | n * 10000 // nn AS share_e4, n = mx AS is_peak,
        | mx * 10000 // greatest(mn, 1) AS peak_ratio_e4
        |FROM h CROSS JOIN tot ORDER BY hour""".stripMargin,
    "q_events_user_entropy" ->
      """WITH ut AS (SELECT user_id, event_type,
        |   CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
        |tot AS (SELECT user_id, CAST(sum(n) AS BIGINT) AS t
        |  FROM ut GROUP BY 1),
        |h AS (SELECT ut.user_id,
        |   CAST(sum(n * (CAST(floor(ln(t) * 1000 + 0.5) AS BIGINT)
        |     - CAST(floor(ln(n) * 1000 + 0.5) AS BIGINT)))
        |     // max(t) AS BIGINT) AS h_e3
        |  FROM ut JOIN tot ON ut.user_id = tot.user_id
        |  GROUP BY ut.user_id),
        |b AS (SELECT h_e3 // 25 AS bucket,
        |   CAST(count(*) AS BIGINT) AS n_users,
        |   CAST(min(h_e3) AS BIGINT) AS min_h_e3,
        |   CAST(max(h_e3) AS BIGINT) AS max_h_e3
        |  FROM h GROUP BY 1),
        |nn AS (SELECT CAST(sum(n_users) AS BIGINT) AS nn FROM b)
        |SELECT bucket, n_users, n_users * 10000 // nn AS share_e4,
        | min_h_e3, max_h_e3
        |FROM b CROSS JOIN nn ORDER BY bucket""".stripMargin,
    "q_events_perm_test" ->
      """WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |   CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
        |     END) - sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0
        |     END) AS BIGINT) AS d
        |  FROM events GROUP BY 1),
        |obs AS (SELECT CAST(sum(d) AS BIGINT) AS t_obs,
        |   CAST(count(*) AS BIGINT) AS n_days FROM daily),
        |fl AS (SELECT b.b, day, d,
        |   CASE WHEN CAST(concat('0x', substr(md5(concat(
        |     CAST(b.b AS VARCHAR), ':', CAST(day AS VARCHAR))), 1, 15))
        |     AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END AS s
        |  FROM daily, range(1, 101) b(b)),
        |tb AS (SELECT b, CAST(sum(s * d) AS BIGINT) AS t_b
        |  FROM fl GROUP BY b),
        |f AS (SELECT max(n_days) AS n_days, max(t_obs) AS t_obs,
        |   CAST(count(*) AS BIGINT) AS n_perms,
        |   CAST(sum(CASE WHEN abs(t_b) >= abs(t_obs) THEN 1 ELSE 0
        |     END) AS BIGINT) AS n_extreme
        |  FROM tb CROSS JOIN obs)
        |SELECT n_days, t_obs, n_perms, n_extreme,
        | (n_extreme + 1) * 10000 // (n_perms + 1) AS p_e4,
        | (n_extreme + 1) * 10000 // (n_perms + 1) <= 500 AS sig_95
        |FROM f""".stripMargin,
    "q_events_cramers_v" ->
      """WITH cells AS (
        |  SELECT event_type, (epoch_us(ts) // 86400000000) % 7 AS dow,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |rt AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS r
        |  FROM cells GROUP BY 1),
        |ct AS (SELECT dow, CAST(sum(n) AS BIGINT) AS c
        |  FROM cells GROUP BY 1),
        |tt AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
        |  CAST(count(DISTINCT event_type) AS BIGINT) AS k_types,
        |  CAST(count(DISTINCT dow) AS BIGINT) AS k_dows FROM cells),
        |f AS (SELECT max(nn) AS n, max(k_types) AS k_types,
        |  max(k_dows) AS k_dows,
        |  CAST(sum(CAST((CAST(n AS HUGEINT) * nn - CAST(r AS
        |    HUGEINT) * c) * (CAST(n AS HUGEINT) * nn -
        |    CAST(r AS HUGEINT) * c) * 1000000
        |    // (CAST(nn AS HUGEINT) * r * c) AS BIGINT)) AS BIGINT)
        |    AS chi2_e6
        |  FROM cells JOIN rt USING (event_type) JOIN ct USING (dow),
        |    tt)
        |SELECT n, k_types, k_dows,
        |  (k_types - 1) * (k_dows - 1) AS dof, chi2_e6,
        |  chi2_e6 // greatest(n * least(k_types - 1, k_dows - 1), 1)
        |    AS v2_e6,
        |  chi2_e6 >= 36415000 AS assoc_95
        |FROM f""".stripMargin,
    "q_events_new_returning" ->
      """WITH ud AS (
        |  SELECT DISTINCT epoch_us(ts) // 86400000000 AS d, user_id
        |  FROM events),
        |f AS (SELECT user_id, min(d) AS d0 FROM ud GROUP BY user_id),
        |g AS (SELECT d AS day, CAST(count(*) AS BIGINT) AS n_active,
        |   CAST(sum(CASE WHEN ud.d = f.d0 THEN 1 ELSE 0 END) AS BIGINT)
        |     AS n_new
        |  FROM ud JOIN f USING (user_id) GROUP BY 1)
        |SELECT day, n_active, n_new, n_active - n_new AS n_returning,
        |  n_new * 10000 // n_active AS new_share_e4
        |FROM g ORDER BY day""".stripMargin,
    "q_orders_cohort_ltv" ->
      """WITH o AS (SELECT o_custkey AS ck,
        |   year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m,
        |   CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |ch AS (SELECT ck, min(m) AS m0 FROM o GROUP BY ck),
        |g AS (SELECT m0 AS cohort_month, m - m0 AS idx,
        |   CAST(count(*) AS BIGINT) AS n_orders,
        |   CAST(sum(cents) AS BIGINT) AS rev_cents
        |  FROM o JOIN ch USING (ck) GROUP BY 1, 2)
        |SELECT cohort_month, idx, n_orders, rev_cents,
        |  CAST(sum(rev_cents) OVER (PARTITION BY cohort_month
        |    ORDER BY idx) AS BIGINT) AS cum_rev_cents
        |FROM g ORDER BY cohort_month, idx""".stripMargin,
    "q_events_rolling_distinct" ->
      """WITH ud AS (
        |  SELECT DISTINCT epoch_us(ts) // 86400000000 AS d, user_id
        |  FROM events),
        |days AS (SELECT DISTINCT d FROM ud)
        |SELECT days.d AS day,
        |  CAST(count(DISTINCT ud.user_id) AS BIGINT) AS n_users_7d
        |FROM days JOIN ud ON ud.d BETWEEN days.d - 6 AND days.d
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_attr_first_touch" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |   epoch_us(ts) AS ts_us FROM events),
        |fp AS (SELECT user_id, min(ts_us) AS p_ts FROM e
        |  WHERE event_type = 'purchase' GROUP BY 1),
        |touches AS (SELECT e.user_id, e.event_type, e.ts_us,
        |   e.event_id
        |  FROM e JOIN fp ON fp.user_id = e.user_id
        |  WHERE e.ts_us < fp.p_ts
        |    AND e.event_type IN ('click', 'view')),
        |first_t AS (SELECT user_id, event_type FROM (
        |   SELECT user_id, event_type,
        |     row_number() OVER (PARTITION BY user_id
        |       ORDER BY ts_us, event_id) AS rn FROM touches)
        |  WHERE rn = 1)
        |SELECT event_type AS channel,
        |  CAST(count(*) AS BIGINT) AS n_conversions
        |FROM first_t GROUP BY 1 ORDER BY channel""".stripMargin,
    "q_events_engagement_value" ->
      """WITH u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_ev,
        |   CAST(sum(CASE WHEN event_type = 'purchase'
        |     THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END)
        |     AS BIGINT) AS buy_c
        |  FROM events GROUP BY 1),
        |d AS (SELECT user_id, n_ev, buy_c,
        |   ntile(10) OVER (ORDER BY n_ev, user_id) AS decile FROM u)
        |SELECT CAST(decile AS BIGINT) AS decile,
        |  CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(min(n_ev) AS BIGINT) AS min_events,
        |  CAST(max(n_ev) AS BIGINT) AS max_events,
        |  CAST(sum(buy_c) // count(*) AS BIGINT) AS avg_purchase_cents
        |FROM d GROUP BY 1 ORDER BY decile""".stripMargin,
    "q_events_absorption" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |   epoch_us(ts) AS ts_us FROM events),
        |tr AS (SELECT event_type AS src,
        |   lead(event_type) OVER (PARTITION BY user_id
        |     ORDER BY ts_us, event_id) AS dst FROM e),
        |tc AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS n FROM tr
        |  WHERE dst IS NOT NULL GROUP BY 1, 2),
        |tt AS (SELECT src, CAST(sum(n) AS BIGINT) AS t FROM tc
        |  GROUP BY src),
        |p AS (SELECT tc.src, tc.dst, tc.n * 1000000 // tt.t AS p_e6
        |  FROM tc JOIN tt ON tt.src = tc.src),
        |st AS (SELECT DISTINCT src AS state FROM p),
        |dirp AS (SELECT src, CAST(coalesce(max(CASE WHEN
        |   dst = 'purchase' THEN p_e6 END), 0) AS BIGINT) AS pd
        |  FROM p GROUP BY src),
        |a1 AS (SELECT src AS state, pd AS a FROM dirp),
        |a2 AS (SELECT p.src AS state, CAST(max(dirp.pd)
        |   + coalesce(sum(CASE WHEN p.dst <> 'purchase'
        |     THEN p.p_e6 * a1.a // 1000000 END), 0) AS BIGINT) AS a
        |  FROM p JOIN dirp ON dirp.src = p.src
        |  LEFT JOIN a1 ON a1.state = p.dst GROUP BY p.src),
        |a3 AS (SELECT p.src AS state, CAST(max(dirp.pd)
        |   + coalesce(sum(CASE WHEN p.dst <> 'purchase'
        |     THEN p.p_e6 * a2.a // 1000000 END), 0) AS BIGINT) AS a
        |  FROM p JOIN dirp ON dirp.src = p.src
        |  LEFT JOIN a2 ON a2.state = p.dst GROUP BY p.src),
        |a4 AS (SELECT p.src AS state, CAST(max(dirp.pd)
        |   + coalesce(sum(CASE WHEN p.dst <> 'purchase'
        |     THEN p.p_e6 * a3.a // 1000000 END), 0) AS BIGINT) AS a
        |  FROM p JOIN dirp ON dirp.src = p.src
        |  LEFT JOIN a3 ON a3.state = p.dst GROUP BY p.src),
        |a5 AS (SELECT p.src AS state, CAST(max(dirp.pd)
        |   + coalesce(sum(CASE WHEN p.dst <> 'purchase'
        |     THEN p.p_e6 * a4.a // 1000000 END), 0) AS BIGINT) AS a
        |  FROM p JOIN dirp ON dirp.src = p.src
        |  LEFT JOIN a4 ON a4.state = p.dst GROUP BY p.src)
        |SELECT st.state, a1.a AS a1_e6, a3.a AS a3_e6, a5.a AS a5_e6
        |FROM st JOIN a1 ON a1.state = st.state
        |JOIN a3 ON a3.state = st.state
        |JOIN a5 ON a5.state = st.state
        |ORDER BY st.state""".stripMargin,
    "q_events_cumulative_users" ->
      """WITH fs AS (SELECT user_id,
        |   min(epoch_us(ts) // 86400000000) AS first_day FROM events
        |  GROUP BY user_id),
        |days AS (SELECT DISTINCT epoch_us(ts) // 86400000000 AS d
        |  FROM events),
        |nu AS (SELECT first_day AS d, CAST(count(*) AS BIGINT)
        |   AS new_users FROM fs GROUP BY 1)
        |SELECT days.d AS day,
        |  CAST(coalesce(nu.new_users, 0) AS BIGINT) AS new_users,
        |  CAST(sum(coalesce(nu.new_users, 0)) OVER (ORDER BY days.d)
        |    AS BIGINT) AS cumulative_users
        |FROM days LEFT JOIN nu ON nu.d = days.d ORDER BY day""".stripMargin,
    "q_events_power_mde" ->
      """WITH ev AS (SELECT event_type,
        |   CAST(floor(value * 100 + 0.5) AS BIGINT) AS c FROM events),
        |mu AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |   CAST(sum(c) // count(*) AS BIGINT) AS mu FROM ev GROUP BY 1),
        |m AS (SELECT ev.event_type, max(mu.n) AS n, max(mu.mu) AS mu,
        |   CAST(sum((ev.c - mu.mu) * (ev.c - mu.mu)) AS BIGINT) AS m2
        |  FROM ev JOIN mu ON mu.event_type = ev.event_type GROUP BY 1)
        |SELECT event_type, n, mu AS mean_centi,
        |  CAST(m2 // n AS BIGINT) AS var_c2,
        |  CAST(1568 * (m2 // n) // (100 * greatest(n // 2, 1))
        |    AS BIGINT) AS mde2_c2,
        |  mu * mu // 100 >=
        |    1568 * (m2 // n) // (100 * greatest(n // 2, 1))
        |    AS detect_10pct
        |FROM m ORDER BY event_type""".stripMargin,
    "q_events_markov_entropy" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |   epoch_us(ts) AS ts_us FROM events),
        |tr AS (SELECT event_type AS src,
        |   lead(event_type) OVER (PARTITION BY user_id
        |     ORDER BY ts_us, event_id) AS dst
        |  FROM e),
        |tc AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS n FROM tr
        |  WHERE dst IS NOT NULL GROUP BY 1, 2),
        |tt AS (SELECT src, CAST(sum(n) AS BIGINT) AS t
        |  FROM tc GROUP BY src),
        |h AS (SELECT tc.src, max(tt.t) AS n_trans,
        |   CAST(sum(n * (CAST(floor(ln(t) * 1000 + 0.5) AS BIGINT)
        |     - CAST(floor(ln(n) * 1000 + 0.5) AS BIGINT)))
        |     // max(tt.t) AS BIGINT) AS h_cond_e3
        |  FROM tc JOIN tt ON tt.src = tc.src GROUP BY 1),
        |p AS (SELECT tc.src, tc.dst, tc.n * 1000000 // tt.t AS p_e6
        |  FROM tc JOIN tt ON tt.src = tc.src),
        |st AS (SELECT DISTINCT src AS state FROM p),
        |k AS (SELECT count(*) AS k FROM st),
        |p0 AS (SELECT state, 1000000 // k.k AS pi FROM st CROSS JOIN k),
        |p1 AS (SELECT p.dst AS state,
        |   CAST(sum(p0.pi * p.p_e6 // 1000000) AS BIGINT) AS pi
        |  FROM p JOIN p0 ON p0.state = p.src GROUP BY p.dst),
        |p2 AS (SELECT p.dst AS state,
        |   CAST(sum(p1.pi * p.p_e6 // 1000000) AS BIGINT) AS pi
        |  FROM p JOIN p1 ON p1.state = p.src GROUP BY p.dst),
        |p3 AS (SELECT p.dst AS state,
        |   CAST(sum(p2.pi * p.p_e6 // 1000000) AS BIGINT) AS pi
        |  FROM p JOIN p2 ON p2.state = p.src GROUP BY p.dst),
        |j AS (SELECT h.src, h.n_trans, h.h_cond_e3,
        |   CAST(coalesce(p3.pi, 0) AS BIGINT) AS pi3_e6
        |  FROM h LEFT JOIN p3 ON p3.state = h.src),
        |rt AS (SELECT CAST(sum(pi3_e6 * h_cond_e3)
        |   // greatest(sum(pi3_e6), 1) AS BIGINT) AS rate_e3 FROM j)
        |SELECT j.src AS state, j.n_trans, j.h_cond_e3, j.pi3_e6,
        |  rt.rate_e3
        |FROM j CROSS JOIN rt ORDER BY state""".stripMargin,
    "q_events_rfm_migration" ->
      """WITH d AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |mm AS (SELECT (min(day) + max(day)) // 2 AS mid FROM d),
        |ph AS (SELECT CASE WHEN day <= mid THEN 1 ELSE 2 END AS half,
        |   user_id, CAST(count(*) AS BIGINT) AS n
        |  FROM d CROSS JOIN mm GROUP BY 1, 2),
        |sup AS (SELECT half, n, CAST(count(*) AS BIGINT) AS c
        |  FROM ph GROUP BY 1, 2),
        |cm AS (SELECT half, n,
        |   sum(c) OVER (PARTITION BY half ORDER BY n) AS cum,
        |   sum(c) OVER (PARTITION BY half) AS tot FROM sup),
        |med AS (SELECT half, min(n) AS med FROM cm
        |  WHERE cum * 2 >= tot GROUP BY 1),
        |seg AS (SELECT ph.half, ph.user_id,
        |   CASE WHEN ph.n > med.med THEN 'high' ELSE 'low' END AS seg
        |  FROM ph JOIN med ON ph.half = med.half),
        |s1 AS (SELECT user_id, seg AS seg_from FROM seg WHERE half = 1),
        |s2 AS (SELECT user_id, seg AS seg_to FROM seg WHERE half = 2),
        |tr AS (SELECT coalesce(seg_from, 'absent') AS seg_from,
        |   coalesce(seg_to, 'absent') AS seg_to
        |  FROM s1 FULL OUTER JOIN s2 ON s1.user_id = s2.user_id),
        |g AS (SELECT seg_from, seg_to, CAST(count(*) AS BIGINT)
        |    AS n_users FROM tr GROUP BY 1, 2),
        |t AS (SELECT CAST(sum(n_users) AS BIGINT) AS tot FROM g)
        |SELECT seg_from, seg_to, n_users,
        | CAST(n_users * 10000 // tot AS BIGINT) AS share_e4
        |FROM g CROSS JOIN t ORDER BY seg_from, seg_to""".stripMargin,
    "q_events_retention_halflife" ->
      """WITH u AS (SELECT user_id,
        |   min(epoch_us(ts) // 86400000000) AS first_day,
        |   max(epoch_us(ts) // 86400000000) AS last_day
        |  FROM events GROUP BY user_id),
        |wm AS (SELECT max(last_day) AS wm_day FROM u),
        |ds AS (SELECT CAST(unnest([1, 2, 3, 4, 5, 6, 7]) AS BIGINT)
        |    AS d),
        |per AS (SELECT d, CAST(count(*) AS BIGINT) AS n_cohort,
        |   CAST(sum(CASE WHEN last_day >= first_day + d
        |     THEN 1 ELSE 0 END) AS BIGINT) AS n_retained
        |  FROM u CROSS JOIN wm CROSS JOIN ds
        |  WHERE first_day + d <= wm.wm_day GROUP BY d),
        |yy AS (SELECT d,
        |   CAST(n_retained * 1000000 // greatest(n_cohort, 1)
        |     AS BIGINT) AS r_e6 FROM per),
        |f AS (SELECT d, r_e6,
        |   CAST(floor(ln(greatest(r_e6, 1)) * 1000 + 0.5) AS BIGINT)
        |     AS y_e3 FROM yy)
        |SELECT CAST(count(*) AS BIGINT) AS n_horizons,
        | CAST(max(CASE WHEN d = 1 THEN r_e6 END) AS BIGINT) AS r1_e6,
        | CAST(max(CASE WHEN d = 7 THEN r_e6 END) AS BIGINT) AS r7_e6,
        | CAST(sum((d - 4) * y_e3) // 28 AS BIGINT) AS slope_e3,
        | CAST(693 * 1000 // greatest(-(sum((d - 4) * y_e3) // 28), 1)
        |   AS BIGINT) AS half_life_days_e3
        |FROM f""".stripMargin,
    "q_events_retention_curve" ->
      """WITH u AS (SELECT user_id,
        |   min(epoch_us(ts) // 86400000000) AS first_day,
        |   max(epoch_us(ts) // 86400000000) AS last_day
        |  FROM events GROUP BY user_id),
        |wm AS (SELECT max(last_day) AS wm_day FROM u),
        |h AS (SELECT CAST(unnest([1, 7, 14]) AS BIGINT) AS n_days)
        |SELECT n_days, CAST(count(*) AS BIGINT) AS n_cohort,
        | CAST(sum(CASE WHEN last_day >= first_day + n_days
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
        | CAST(sum(CASE WHEN last_day >= first_day + n_days
        |   THEN 1 ELSE 0 END) * 10000 // count(*) AS BIGINT)
        |   AS retention_e4
        |FROM u CROSS JOIN wm CROSS JOIN h
        |WHERE first_day + n_days <= wm.wm_day
        |GROUP BY n_days ORDER BY n_days""".stripMargin,
    "q_parts_abc" ->
      """WITH rev AS (SELECT l_partkey,
        |   sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
        |     AS cents
        |  FROM lineitem GROUP BY l_partkey),
        |tot AS (SELECT sum(cents) AS big_c FROM rev),
        |c AS (SELECT l_partkey, cents,
        |   sum(cents) OVER (ORDER BY cents DESC, l_partkey
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM rev),
        |cls AS (SELECT cents,
        |   CASE WHEN (cum - cents) * 100 < tot.big_c * 80 THEN 'A'
        |    WHEN (cum - cents) * 100 < tot.big_c * 95 THEN 'B'
        |    ELSE 'C' END AS cls
        |  FROM c CROSS JOIN tot)
        |SELECT cls, CAST(count(*) AS BIGINT) AS n_parts,
        | CAST(sum(cents) AS BIGINT) AS cents,
        | CAST(sum(cents) * 10000 // max(tot.big_c) AS BIGINT)
        |   AS rev_share_e4
        |FROM cls CROSS JOIN tot GROUP BY cls ORDER BY cls""".stripMargin,
    "q_events_funnel_lag" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us
        |  FROM events),
        |s AS (SELECT user_id, min(ts_us) AS s_us FROM ev
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |conv AS (SELECT ev.user_id,
        |   min(ev.ts_us) - min(s.s_us) AS lag_us
        |  FROM ev JOIN s ON s.user_id = ev.user_id
        |  WHERE ev.event_type = 'purchase' AND ev.ts_us > s.s_us
        |  GROUP BY ev.user_id),
        |census AS (SELECT lag_us, count(*) AS c FROM conv GROUP BY 1),
        |cum AS (SELECT lag_us, c,
        |   sum(c) OVER (ORDER BY lag_us
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |   sum(c) OVER () AS n FROM census),
        |f AS (SELECT max(n) AS n_converted,
        |   min(CASE WHEN cum * 2 >= n THEN lag_us END) AS p50_lag_us,
        |   min(CASE WHEN cum * 10 >= n * 9 THEN lag_us END)
        |     AS p90_lag_us,
        |   max(lag_us) AS max_lag_us FROM cum),
        |ns AS (SELECT count(*) AS n_signup FROM s)
        |SELECT CAST(n_signup AS BIGINT) AS n_signup,
        | CAST(n_converted AS BIGINT) AS n_converted,
        | CAST(n_converted * 10000 // n_signup AS BIGINT)
        |   AS conv_rate_e4,
        | CAST(p50_lag_us AS BIGINT) AS p50_lag_us,
        | CAST(p90_lag_us AS BIGINT) AS p90_lag_us,
        | CAST(max_lag_us AS BIGINT) AS max_lag_us
        |FROM f CROSS JOIN ns""".stripMargin,
    "q_events_cuped" ->
      """WITH ev AS (SELECT user_id,
        |   epoch_us(ts) // 86400000000 AS day,
        |   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |mid AS (SELECT (min(day) + max(day) + 1) // 2 AS mid FROM ev),
        |users AS (SELECT user_id,
        |   sum(CASE WHEN day < mid.mid THEN cents ELSE 0 END) AS x,
        |   sum(CASE WHEN day >= mid.mid THEN cents ELSE 0 END) AS y,
        |   user_id % 2 AS arm
        |  FROM ev CROSS JOIN mid GROUP BY user_id),
        |pooled AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |   sum(x) // count(*) AS mx, sum(y) // count(*) AS my
        |  FROM users),
        |m AS (SELECT max(pooled.n) AS n,
        |   sum((x - mx) * (y - my)) AS cov,
        |   sum((x - mx) * (x - mx)) AS vx,
        |   sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n_a,
        |   sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n_b,
        |   sum(CASE WHEN arm = 0 THEN x ELSE 0 END) AS sxa,
        |   sum(CASE WHEN arm = 1 THEN x ELSE 0 END) AS sxb,
        |   sum(CASE WHEN arm = 0 THEN y ELSE 0 END) AS sya,
        |   sum(CASE WHEN arm = 1 THEN y ELSE 0 END) AS syb
        |  FROM users CROSS JOIN pooled),
        |t AS (SELECT n_a, n_b,
        |   CASE WHEN cov >= 0
        |    THEN cov * 10000 // greatest(vx, 1)
        |    ELSE -((-cov) * 10000 // greatest(vx, 1)) END AS theta_e4,
        |   sxa // n_a AS mxa, sxb // n_b AS mxb,
        |   sya // n_a AS mya, syb // n_b AS myb
        |  FROM m)
        |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        | CAST(mya - myb AS BIGINT) AS diff_y_cents,
        | CAST(mxa - mxb AS BIGINT) AS diff_x_cents,
        | CAST(theta_e4 AS BIGINT) AS theta_e4,
        | CAST((mya - myb) * 10000 - theta_e4 * (mxa - mxb) AS BIGINT)
        |   AS adj_diff_e4
        |FROM t""".stripMargin,
    "q_events_interarrival" ->
      """WITH e AS (SELECT event_type, event_id,
        |   epoch_us(ts) AS ts_us FROM events),
        |d0 AS (SELECT event_type,
        |   ts_us - lag(ts_us) OVER (PARTITION BY event_type
        |     ORDER BY ts_us, event_id) AS d FROM e),
        |census AS (SELECT event_type, d, count(*) AS c FROM d0
        |  WHERE d IS NOT NULL GROUP BY 1, 2),
        |cum AS (SELECT event_type, d, c,
        |   sum(c) OVER (PARTITION BY event_type ORDER BY d
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |   sum(c) OVER (PARTITION BY event_type) AS n
        |  FROM census)
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n_deltas,
        | CAST(min(CASE WHEN cum * 2 >= n THEN d END) AS BIGINT)
        |   AS p50_us,
        | CAST(min(CASE WHEN cum * 20 >= n * 19 THEN d END) AS BIGINT)
        |   AS p95_us,
        | CAST(min(CASE WHEN cum * 100 >= n * 99 THEN d END) AS BIGINT)
        |   AS p99_us,
        | CAST(max(d) AS BIGINT) AS max_us
        |FROM cum GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_events_hhi" ->
      """WITH u AS (SELECT event_type, user_id, count(*) AS nu
        |  FROM events GROUP BY 1, 2),
        |f AS (SELECT event_type, sum(nu) AS n_events,
        |   count(*) AS n_users, max(nu) AS top_user,
        |   sum(nu * nu) AS s2
        |  FROM u GROUP BY event_type)
        |SELECT event_type, CAST(n_events AS BIGINT) AS n_events,
        | CAST(n_users AS BIGINT) AS n_users,
        | CAST(top_user * 10000 // n_events AS BIGINT) AS top_share_e4,
        | CAST(s2 * 100000000 // (n_events * n_events) AS BIGINT)
        |   AS hhi_e8,
        | CAST(100000000 // greatest(
        |   s2 * 100000000 // (n_events * n_events), 1) AS BIGINT)
        |   AS eff_users
        |FROM f ORDER BY event_type""".stripMargin,
    "q_events_ab_utest" ->
      """WITH sup AS (SELECT
        |   CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
        |   sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS ca,
        |   sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS cb
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |c AS (SELECT v, ca, cb,
        |   coalesce(sum(cb) OVER (ORDER BY v
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |     AS cum_b
        |  FROM sup),
        |f AS (SELECT sum(ca) AS n_a, sum(cb) AS n_b,
        |   sum(ca * (2 * cum_b + cb)) AS u2 FROM c)
        |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        | CAST(u2 AS BIGINT) AS u2,
        | CAST(u2 * 10000 // (2 * n_a * n_b) AS BIGINT) AS cles_e4,
        | (u2 - n_a * n_b) * (u2 - n_a * n_b) * 300
        |   >= 384 * n_a * n_b * (n_a + n_b + 1) AS significant_95
        |FROM f""".stripMargin,
    "q_events_reciprocity" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |   epoch_us(ts) AS ts_us FROM events),
        |t0 AS (SELECT event_type AS src,
        |   lead(event_type) OVER (PARTITION BY user_id
        |     ORDER BY ts_us, event_id) AS dst FROM e),
        |tr AS (SELECT src, dst, count(*) AS n FROM t0
        |  WHERE dst IS NOT NULL AND dst <> src GROUP BY 1, 2),
        |c AS (SELECT least(src, dst) AS a, greatest(src, dst) AS b,
        |   sum(CASE WHEN src < dst THEN n ELSE 0 END) AS n_fwd,
        |   sum(CASE WHEN src > dst THEN n ELSE 0 END) AS n_rev
        |  FROM tr GROUP BY 1, 2)
        |SELECT a, b, CAST(n_fwd AS BIGINT) AS n_fwd,
        | CAST(n_rev AS BIGINT) AS n_rev,
        | CAST(least(n_fwd, n_rev) AS BIGINT) AS n_min,
        | CAST(2 * least(n_fwd, n_rev) * 10000 // (n_fwd + n_rev)
        |   AS BIGINT) AS recip_e4
        |FROM c ORDER BY a, b""".stripMargin,
    "q_events_survival" ->
      """WITH life AS (SELECT user_id,
        |   max(epoch_us(ts) // 86400000000)
        |     - min(epoch_us(ts) // 86400000000) AS lt
        |  FROM events GROUP BY user_id),
        |census AS (SELECT lt, count(*) AS n_end FROM life GROUP BY lt),
        |tot AS (SELECT count(*) AS n_users FROM life),
        |c2 AS (SELECT lt, n_end,
        |   coalesce(sum(n_end) OVER (ORDER BY lt
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |     AS n_prior
        |  FROM census)
        |SELECT CAST(lt AS BIGINT) AS lifetime_days,
        | CAST(n_end AS BIGINT) AS n_end,
        | CAST(tot.n_users - n_prior AS BIGINT) AS n_risk,
        | CAST(n_end * 1000000 // (tot.n_users - n_prior) AS BIGINT)
        |   AS hazard_e6
        |FROM c2 CROSS JOIN tot ORDER BY lifetime_days""".stripMargin,
    "q_events_bounce_rate" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us
        |  FROM events),
        |g AS (SELECT user_id, event_id, ts_us,
        |   CASE WHEN ts_us - lag(ts_us) OVER (PARTITION BY user_id
        |     ORDER BY ts_us, event_id) > 1800000000
        |    OR lag(ts_us) OVER (PARTITION BY user_id
        |     ORDER BY ts_us, event_id) IS NULL THEN 1 ELSE 0 END AS ns
        |  FROM e),
        |s AS (SELECT user_id, ts_us,
        |   sum(ns) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |     ROWS UNBOUNDED PRECEDING) AS session_no
        |  FROM g),
        |sess AS (SELECT user_id, session_no, min(ts_us) AS start_us,
        |   count(*) AS n_ev
        |  FROM s GROUP BY 1, 2)
        |SELECT start_us // 86400000000 AS day,
        | CAST(count(*) AS BIGINT) AS n_sessions,
        | CAST(sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_bounce,
        | CAST(sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) * 10000
        |   // count(*) AS BIGINT) AS bounce_e4
        |FROM sess GROUP BY day ORDER BY day""".stripMargin,
    "q_events_markov_steady" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |   epoch_us(ts) AS ts_us FROM events),
        |tr AS (SELECT event_type AS src,
        |   lead(event_type) OVER (PARTITION BY user_id
        |     ORDER BY ts_us, event_id) AS dst
        |  FROM e),
        |tc AS (SELECT src, dst, count(*) AS n FROM tr
        |  WHERE dst IS NOT NULL GROUP BY 1, 2),
        |p AS (SELECT tc.src, tc.dst,
        |   tc.n * 1000000 // t.t AS p_e6
        |  FROM tc JOIN (SELECT src, CAST(sum(n) AS BIGINT) AS t
        |    FROM tc GROUP BY src) t ON t.src = tc.src),
        |st AS (SELECT DISTINCT src AS state FROM p),
        |k AS (SELECT count(*) AS k FROM st),
        |p0 AS (SELECT state, 1000000 // k.k AS pi FROM st CROSS JOIN k),
        |p1 AS (SELECT p.dst AS state,
        |   CAST(sum(p0.pi * p.p_e6 // 1000000) AS BIGINT) AS pi
        |  FROM p JOIN p0 ON p0.state = p.src GROUP BY p.dst),
        |p2 AS (SELECT p.dst AS state,
        |   CAST(sum(p1.pi * p.p_e6 // 1000000) AS BIGINT) AS pi
        |  FROM p JOIN p1 ON p1.state = p.src GROUP BY p.dst),
        |p3 AS (SELECT p.dst AS state,
        |   CAST(sum(p2.pi * p.p_e6 // 1000000) AS BIGINT) AS pi
        |  FROM p JOIN p2 ON p2.state = p.src GROUP BY p.dst)
        |SELECT st.state AS state,
        | CAST(coalesce(p1.pi, 0) AS BIGINT) AS pi1_e6,
        | CAST(coalesce(p2.pi, 0) AS BIGINT) AS pi2_e6,
        | CAST(coalesce(p3.pi, 0) AS BIGINT) AS pi3_e6
        |FROM st LEFT JOIN p1 ON p1.state = st.state
        |LEFT JOIN p2 ON p2.state = st.state
        |LEFT JOIN p3 ON p3.state = st.state
        |ORDER BY 1""".stripMargin,
    "q_events_stickiness" ->
      """WITH ud AS (SELECT DISTINCT user_id,
        |   epoch_us(ts) // 86400000000 AS day FROM events),
        |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY day),
        |f AS (SELECT DISTINCT ud.user_id, ud.day + o.o AS rday
        |  FROM ud CROSS JOIN (SELECT unnest(range(30)) AS o) o),
        |mau AS (SELECT rday, count(*) AS mau FROM f GROUP BY rday)
        |SELECT dau.day, CAST(dau.dau AS BIGINT) AS dau,
        | CAST(mau.mau AS BIGINT) AS mau,
        | CAST(dau.dau * 10000 // mau.mau AS BIGINT) AS stickiness_e4
        |FROM dau JOIN mau ON mau.rday = dau.day
        |ORDER BY day""".stripMargin,
    "q_events_concurrency" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us
        |  FROM events),
        |g AS (SELECT user_id, event_id, ts_us,
        |   CASE WHEN ts_us - lag(ts_us) OVER (PARTITION BY user_id
        |     ORDER BY ts_us, event_id) > 1800000000
        |    OR lag(ts_us) OVER (PARTITION BY user_id
        |     ORDER BY ts_us, event_id) IS NULL THEN 1 ELSE 0 END AS ns
        |  FROM e),
        |s AS (SELECT user_id, ts_us,
        |   sum(ns) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |     ROWS UNBOUNDED PRECEDING) AS session_no
        |  FROM g),
        |sess AS (SELECT user_id, session_no,
        |   min(ts_us) AS start_us, max(ts_us) AS end_us
        |  FROM s GROUP BY 1, 2),
        |pts AS (SELECT user_id, session_no, start_us AS ts_us,
        |   CAST(1 AS BIGINT) AS delta FROM sess
        | UNION ALL SELECT user_id, session_no, end_us,
        |   CAST(-1 AS BIGINT) FROM sess),
        |sw AS (SELECT ts_us,
        |   sum(delta) OVER (ORDER BY ts_us, delta DESC, user_id,
        |     session_no ROWS UNBOUNDED PRECEDING) AS conc
        |  FROM pts)
        |SELECT ts_us // 3600000000 AS hour,
        | CAST(count(*) AS BIGINT) AS n_points,
        | CAST(max(conc) AS BIGINT) AS max_conc
        |FROM sw GROUP BY hour ORDER BY hour""".stripMargin,
    "q_attr_linear_multi" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us
        |  FROM events),
        |fp AS (SELECT user_id, min(ts_us) AS first_purchase
        |  FROM e WHERE event_type = 'purchase' GROUP BY user_id),
        |t AS (SELECT e.user_id, e.event_type
        |  FROM e JOIN fp USING (user_id)
        |  WHERE e.event_type IN ('click', 'view')
        |    AND e.ts_us < fp.first_purchase),
        |k AS (SELECT user_id, count(*) AS k FROM t GROUP BY user_id)
        |SELECT t.event_type,
        | CAST(count(*) AS BIGINT) AS n_touches,
        | CAST(count(DISTINCT t.user_id) AS BIGINT) AS n_users,
        | CAST(sum(10000 // k.k) AS BIGINT) AS total_credit_e4
        |FROM t JOIN k USING (user_id)
        |GROUP BY t.event_type ORDER BY t.event_type""".stripMargin,
    "q_events_ab_ttest" ->
      """WITH ev AS (SELECT user_id % 2 AS arm,
        |   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |mu AS (SELECT arm, count(*) AS n,
        |   CAST(sum(cents) AS BIGINT) // count(*) AS mu
        |  FROM ev GROUP BY arm),
        |m AS (SELECT ev.arm, mu.n, mu.mu,
        |   CAST(sum((ev.cents - mu.mu) * (ev.cents - mu.mu)) AS BIGINT)
        |     AS m2
        |  FROM ev JOIN mu USING (arm) GROUP BY ev.arm, mu.n, mu.mu),
        |f AS (SELECT
        |   CAST(sum(CASE WHEN arm = 0 THEN n END) AS BIGINT) AS n_a,
        |   CAST(sum(CASE WHEN arm = 1 THEN n END) AS BIGINT) AS n_b,
        |   CAST(sum(CASE WHEN arm = 0 THEN mu END) AS BIGINT)
        |     AS mean_a_cents,
        |   CAST(sum(CASE WHEN arm = 1 THEN mu END) AS BIGINT)
        |     AS mean_b_cents,
        |   CAST(sum(CASE WHEN arm = 0 THEN m2 // n END) AS BIGINT)
        |     AS var_a,
        |   CAST(sum(CASE WHEN arm = 1 THEN m2 // n END) AS BIGINT)
        |     AS var_b
        |  FROM m)
        |SELECT n_a, n_b, mean_a_cents, mean_b_cents, var_a, var_b,
        | CAST(mean_a_cents - mean_b_cents AS BIGINT) AS diff_cents,
        | CAST(var_a // n_a + var_b // n_b AS BIGINT) AS se2,
        | (mean_a_cents - mean_b_cents) * (mean_a_cents - mean_b_cents)
        |   * 100 >= 384 * greatest(var_a // n_a + var_b // n_b, 1)
        |   AS significant_95
        |FROM f""".stripMargin,
    "q_events_rfm" ->
      """WITH u AS (SELECT user_id,
        |   max(epoch_us(ts) // 86400000000) AS last_day,
        |   count(*) AS freq,
        |   CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |     AS mon_cents
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
        |g AS (SELECT max(last_day) AS gmax FROM u),
        |s AS (SELECT u.*,
        |   ntile(5) OVER (ORDER BY g.gmax - u.last_day DESC, user_id)
        |     AS r_score,
        |   ntile(5) OVER (ORDER BY freq ASC, user_id) AS f_score,
        |   ntile(5) OVER (ORDER BY mon_cents ASC, user_id) AS m_score
        |  FROM u CROSS JOIN g)
        |SELECT CAST(r_score AS INTEGER) AS r_score,
        | CAST(f_score AS INTEGER) AS f_score,
        | CAST(m_score AS INTEGER) AS m_score,
        | CAST(count(*) AS BIGINT) AS n_users,
        | CAST(sum(mon_cents) AS BIGINT) AS cents_total,
        | CAST(sum(mon_cents) // count(*) AS BIGINT) AS cents_avg
        |FROM s GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q_llm_textrank" ->
      """WITH toks AS (SELECT string_split(text, ' ') AS tk
        |  FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |bg AS (SELECT unnest([{'w1': tk[i], 'w2': tk[i+1]}
        |   for i in range(1, len(tk))]) AS g FROM toks),
        |b2 AS (SELECT g.w1 AS w1, g.w2 AS w2 FROM bg WHERE g.w1 <> g.w2),
        |e AS (SELECT DISTINCT src, dst FROM
        |  (SELECT w1 AS src, w2 AS dst FROM b2
        |   UNION ALL SELECT w2, w1 FROM b2)),
        |d AS (SELECT src, CAST(count(*) AS BIGINT) AS outd
        |  FROM e GROUP BY src),
        |r0 AS (SELECT src AS nid, CAST(1000000 AS BIGINT) AS rank,
        |   outd FROM d),
        |m1 AS (SELECT e.dst AS nid,
        |   CAST(sum(r0.rank // r0.outd) AS BIGINT) AS msum
        |  FROM e JOIN r0 ON e.src = r0.nid GROUP BY e.dst),
        |r1 AS (SELECT m1.nid, CAST(150000 + (85 * msum) // 100 AS BIGINT)
        |   AS rank, d.outd
        |  FROM m1 JOIN d ON m1.nid = d.src),
        |m2 AS (SELECT e.dst AS nid,
        |   CAST(sum(r1.rank // r1.outd) AS BIGINT) AS msum
        |  FROM e JOIN r1 ON e.src = r1.nid GROUP BY e.dst),
        |r2 AS (SELECT nid, CAST(150000 + (85 * msum) // 100 AS BIGINT)
        |   AS rank FROM m2)
        |SELECT nid AS token, rank AS rank_e6 FROM r2
        |ORDER BY rank_e6 DESC, token LIMIT 20""".stripMargin,
    "q_win_gap_islands" ->
      """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |  FROM events),
        |r AS (SELECT user_id, day,
        |   CAST(day - CAST(dense_rank() OVER (PARTITION BY user_id
        |     ORDER BY day) AS INTEGER) AS DATE) AS grp
        |  FROM d)
        |SELECT user_id, strftime(min(day), '%Y-%m-%d') AS island_start,
        | strftime(max(day), '%Y-%m-%d') AS island_end,
        | count(*) AS n_days
        |FROM r GROUP BY user_id, grp
        |ORDER BY user_id, island_start""".stripMargin,
    // Independent formulation on purpose: the oracle states the
    // DEFINITION (no dominator exists), the Spark side runs the
    // sort-based plan — a window-logic bug can't cancel out.
    "q_skyline_parts" ->
      """WITH p AS (SELECT p_brand, p_partkey,
        |   CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS price_c,
        |   p_size
        |  FROM part)
        |SELECT p_brand, p_partkey, price_c, p_size FROM p a
        |WHERE NOT EXISTS (SELECT 1 FROM p b
        |  WHERE b.p_brand = a.p_brand
        |    AND b.price_c <= a.price_c AND b.p_size >= a.p_size
        |    AND (b.price_c < a.price_c OR b.p_size > a.p_size))
        |ORDER BY p_brand, price_c, p_partkey""".stripMargin,
    "q_funnel_stages" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us
        |  FROM events),
        |w1 AS (SELECT *, min(CASE WHEN event_type = 'signup' THEN ts_us END)
        |  OVER (PARTITION BY user_id) AS s1 FROM e),
        |w2 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND ts_us > s1
        |  THEN ts_us END) OVER (PARTITION BY user_id) AS s2 FROM w1),
        |w3 AS (SELECT *, min(CASE WHEN event_type = 'error' AND ts_us > s2
        |  THEN ts_us END) OVER (PARTITION BY user_id) AS s3 FROM w2),
        |u AS (SELECT user_id, max(s1) AS s1, max(s2) AS s2, max(s3) AS s3
        |  FROM w3 GROUP BY user_id)
        |SELECT count(*) AS n_users, count(s1) AS n_signup,
        | count(s2) AS n_purchase, count(s3) AS n_error,
        | CAST(CASE WHEN count(s1) > 0
        |   THEN count(s2) * 10000 // count(s1) ELSE 0 END AS BIGINT)
        |   AS conv_purchase_e4,
        | CAST(CASE WHEN count(s2) > 0
        |   THEN count(s3) * 10000 // count(s2) ELSE 0 END AS BIGINT)
        |   AS conv_error_e4
        |FROM u""".stripMargin,
    "q_cohort_retention" ->
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
        |c AS (SELECT *, min(day) OVER (PARTITION BY user_id) AS cohort_day
        |  FROM e),
        |o AS (SELECT user_id, cohort_day,
        |   date_diff('day', cohort_day, day) AS day_offset
        |  FROM c WHERE date_diff('day', cohort_day, day) <= 7),
        |m AS (SELECT cohort_day, day_offset,
        |   count(DISTINCT user_id) AS n_active
        |  FROM o GROUP BY cohort_day, day_offset),
        |s AS (SELECT *, first(n_active) OVER (PARTITION BY cohort_day
        |   ORDER BY day_offset) AS cohort_size FROM m)
        |SELECT cohort_day, day_offset, n_active, cohort_size,
        | CAST(n_active * 10000 // cohort_size AS BIGINT) AS retention_e4
        |FROM s ORDER BY cohort_day, day_offset""".stripMargin,
    "q_attr_last_touch" ->
      """WITH e AS (SELECT event_id, user_id, event_type, value,
        |   epoch_us(ts) AS ts_us FROM events),
        |w AS (SELECT *,
        |   last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
        |     IGNORE NULLS) OVER (PARTITION BY user_id
        |     ORDER BY ts_us, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_type,
        |   last_value(CASE WHEN event_type <> 'purchase' THEN ts_us END
        |     IGNORE NULLS) OVER (PARTITION BY user_id
        |     ORDER BY ts_us, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_ts
        |  FROM e),
        |p AS (SELECT CASE WHEN prev_ts IS NOT NULL
        |     AND prev_ts >= ts_us - 604800000000 THEN prev_type
        |     ELSE 'none' END AS channel, value
        |  FROM w WHERE event_type = 'purchase')
        |SELECT channel, count(*) AS n_conversions,
        | round(sum(value), 2) AS revenue
        |FROM p GROUP BY channel ORDER BY channel""".stripMargin,
    "q_diag_range_bounds" ->
      """WITH s AS (SELECT
        |   list_transform(quantile_cont(o_totalprice,
        |     [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]),
        |     b -> round(b, 2)) AS bs,
        |   round(max(o_totalprice), 2) AS mx,
        |   round(min(o_totalprice), 2) AS mn,
        |   count(*) AS n_tot FROM orders),
        |b AS (SELECT
        |   CAST(len(list_filter(s.bs, x -> o.o_totalprice > x)) AS BIGINT)
        |     AS bucket,
        |   s.bs AS bs, s.mx AS mx, s.mn AS mn, s.n_tot AS n_tot
        |  FROM orders o, s),
        |g AS (SELECT bucket,
        |   CASE WHEN bucket > 0 THEN bs[CAST(bucket AS INTEGER)]
        |        ELSE mn END AS lo,
        |   CASE WHEN bucket < 7 THEN bs[CAST(bucket AS INTEGER) + 1]
        |        ELSE mx END AS hi,
        |   n_tot FROM b)
        |SELECT bucket, lo, hi, count(*) AS n_rows,
        | CAST(count(*) * 10000 // max(n_tot) AS BIGINT) AS share_e4
        |FROM g GROUP BY bucket, lo, hi ORDER BY bucket""".stripMargin,
    "q_llm_prefix_join" ->
      """WITH sets AS (SELECT doc_id,
        |   list_distinct([CAST(concat('0x', substr(md5(
        |       array_to_string(tk[i:i+2], ' ')), 1, 15)) AS BIGINT)
        |     FOR i IN range(1, len(tk) - 1)]) AS ts
        |  FROM (SELECT doc_id, string_split(text, ' ') AS tk
        |        FROM documents)
        |  WHERE len(tk) >= 3),
        |toks AS (SELECT doc_id, unnest(ts) AS tok FROM sets),
        |df AS (SELECT tok, count(*) AS df FROM toks GROUP BY tok),
        |rk AS (SELECT t.doc_id, t.tok, d.df,
        |   count(*) OVER (PARTITION BY t.doc_id) AS sz,
        |   row_number() OVER (PARTITION BY t.doc_id ORDER BY d.df, t.tok)
        |     AS rn
        |  FROM toks t JOIN df d USING (tok)),
        |pf AS (SELECT doc_id, tok, sz FROM rk
        |  WHERE rn <= sz - ((3 * sz + 4) // 5) + 1),
        |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
        |   a.sz AS a_sz, b.sz AS b_sz
        |  FROM pf a JOIN pf b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |   AND a.sz * 5 >= b.sz * 3 AND b.sz * 5 >= a.sz * 3),
        |v AS (SELECT c.a_id, c.b_id,
        |   CAST(len([x FOR x IN sa.ts IF list_contains(sb.ts, x)])
        |     AS BIGINT) AS inter,
        |   c.a_sz, c.b_sz
        |  FROM cand c
        |  JOIN sets sa ON c.a_id = sa.doc_id
        |  JOIN sets sb ON c.b_id = sb.doc_id)
        |SELECT a_id, b_id, inter, a_sz + b_sz - inter AS uni,
        | round(CAST(inter AS DOUBLE) / (a_sz + b_sz - inter), 4) AS jacc
        |FROM v WHERE inter * 5 >= (a_sz + b_sz - inter) * 3
        |ORDER BY a_id, b_id""".stripMargin,
    "q_llm_weighted_sample" ->
      """WITH d AS (SELECT doc_id, lang, greatest(n_chars, 1) AS w,
        |   CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |     AS BIGINT) % 1000000 AS u6
        |  FROM documents),
        |t AS (SELECT sum(w) AS w_tot FROM d)
        |SELECT doc_id, lang, w, u6,
        | CAST(least(10000 * 50 * w // w_tot, 10000) AS BIGINT) AS p_e4
        |FROM d, t
        |WHERE u6 * w_tot < 50 * w * 1000000
        |ORDER BY doc_id""".stripMargin,
    "q_seq_pattern" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |   substr(event_type, 1, 1) AS ini FROM events),
        |s AS (SELECT user_id,
        |   string_agg(ini, '' ORDER BY ts_us, event_id) AS seq
        |  FROM e GROUP BY user_id)
        |SELECT user_id, CAST(len(seq) AS BIGINT) AS seq_len,
        | CAST(len(regexp_extract_all(seq, 's[cv]*p')) AS BIGINT)
        |   AS n_matches,
        | len(regexp_extract_all(seq, 's[cv]*p')) > 0 AS converted
        |FROM s ORDER BY user_id""".stripMargin,
    "q_llm_inverted_index" ->
      """WITH toks AS (SELECT DISTINCT doc_id,
        |   unnest(list_distinct(string_split(text, ' '))) AS tok
        |  FROM documents),
        |p AS (SELECT tok, count(*) AS df,
        |   list(doc_id ORDER BY doc_id) AS ids
        |  FROM toks GROUP BY tok),
        |c AS (SELECT tok, df, ids[1:20] AS ids20 FROM p WHERE df >= 5)
        |SELECT tok, df,
        | array_to_string([CASE WHEN i = 1 THEN ids20[i]
        |    ELSE ids20[i] - ids20[i-1] END
        |    FOR i IN range(1, len(ids20) + 1)], ',') AS postings_delta
        |FROM c ORDER BY df DESC, tok LIMIT 100""".stripMargin,
    "q_top_paths" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |   substr(event_type, 1, 1) AS ini FROM events),
        |w AS (SELECT user_id, ini,
        |   lead(ini, 1) OVER (PARTITION BY user_id
        |     ORDER BY ts_us, event_id) AS i2,
        |   lead(ini, 2) OVER (PARTITION BY user_id
        |     ORDER BY ts_us, event_id) AS i3
        |  FROM e)
        |SELECT concat(ini, '>', i2, '>', i3) AS path, count(*) AS n
        |FROM w WHERE i3 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, path LIMIT 10""".stripMargin,
    "q_agg_mode" ->
      """WITH c AS (SELECT event_type, user_id, count(*) AS n
        |  FROM events GROUP BY event_type, user_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |   ORDER BY n DESC, user_id) AS r FROM c)
        |SELECT event_type, user_id AS mode_user, n AS mode_n
        |FROM r WHERE r = 1 ORDER BY event_type""".stripMargin,
    "q_llm_pmi_colloc" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk
        |  FROM documents),
        |uni AS (SELECT unnest(tk) AS w FROM toks),
        |uc AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
        |n AS (SELECT count(*) AS n_tok FROM uni),
        |bg AS (SELECT tk[i] AS w1, tk[i+1] AS w2
        |  FROM toks, LATERAL (SELECT unnest(range(1, len(tk))) AS i)
        |  WHERE len(tk) >= 2),
        |bc AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2)
        |SELECT b.w1, b.w2, b.c12, u1.c AS c1, u2.c AS c2,
        | round(ln(1.0 * b.c12 * n.n_tok / (u1.c * u2.c)), 4) AS pmi
        |FROM bc b JOIN uc u1 ON b.w1 = u1.w JOIN uc u2 ON b.w2 = u2.w, n
        |WHERE b.c12 >= 20
        |ORDER BY b.c12 DESC, b.w1, b.w2 LIMIT 30""".stripMargin,
    "q_daily_active_users" ->
      """WITH e AS (SELECT CAST(ts AS DATE) AS day, user_id FROM events),
        |fs AS (SELECT user_id, min(day) AS first_day FROM e
        |  GROUP BY user_id),
        |daily AS (SELECT day, count(*) AS n_events,
        |   count(DISTINCT user_id) AS n_active FROM e GROUP BY day),
        |newu AS (SELECT first_day AS day, count(*) AS n_new FROM fs
        |  GROUP BY first_day)
        |SELECT d.day, d.n_events, d.n_active,
        | coalesce(n.n_new, 0) AS n_new,
        | CAST(sum(coalesce(n.n_new, 0)) OVER (ORDER BY d.day) AS BIGINT)
        |   AS cum_users
        |FROM daily d LEFT JOIN newu n ON d.day = n.day
        |ORDER BY d.day""".stripMargin,
    "q_events_markov" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |   event_type FROM events),
        |w AS (SELECT event_type AS src,
        |   lead(event_type) OVER (PARTITION BY user_id
        |     ORDER BY ts_us, event_id) AS dst
        |  FROM e),
        |t AS (SELECT src, dst, count(*) AS n FROM w
        |  WHERE dst IS NOT NULL GROUP BY src, dst),
        |s AS (SELECT src, sum(n) AS n_src FROM t GROUP BY src)
        |SELECT t.src, t.dst, t.n, CAST(s.n_src AS BIGINT) AS n_src,
        | CAST(t.n * 10000 // s.n_src AS BIGINT) AS p_e4
        |FROM t JOIN s ON t.src = s.src
        |ORDER BY t.src, t.dst""".stripMargin,
  )
}
