package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Tables.tokens
import graft.functions.BloomFuncs

/** Streaming near-dup GATE — the map-side first pass of a production
  * dedup pipeline, as real stream processors ship it: a bloom sketch of
  * the stored corpus's MinHash band signatures broadcasts to every
  * task, and an incoming document is dropped when ANY of its 8 band
  * signatures probably exists in the store. No state store, no
  * shuffle, no watermark — the gate is a pure projection + filter, so
  * it scales with input rate alone. Bloom false positives over-drop
  * (tunable via bits/items) and band collisions are the usual LSH
  * recall trade — both are reclaimed by the exact OFFLINE verify pass
  * (q_llm_minhash_lsh's exact-Jaccard stage), which is precisely how
  * the batch + streaming halves of a dedup pipeline divide the work.
  *
  * Signature semantics: document-LOCAL 16-perm MinHash over 5-token
  * shingles, computed per row with `array_min` over HOF transforms —
  * a stream row cannot know corpus document frequencies, so unlike
  * the batch family there is no df cap. The store builder and the
  * stream side share THIS one definition ([[withBands]]), so the two
  * sides can never drift. Docs with fewer than 5 tokens have no
  * shingles and pass through unconditionally (n_sh = 0 guard — their
  * would-be NULL band strings must never match each other). */
object StreamDedup {

  import graft.functions.MinHash.{P, Perms => perms, TausE4}

  private def withMinsCols(df: DataFrame): DataFrame = {
    val withHs = df
      .withColumn("tk", tokens)
      .withColumn("hs", expr(
        s"""transform(
          |  CASE WHEN size(tk) >= 5
          |  THEN transform(sequence(1, size(tk) - 4),
          |         i -> concat_ws(' ', slice(tk, i, 5)))
          |  ELSE CAST(array() AS array<string>) END,
          |  s -> CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT)
          |       % $P)""".stripMargin))
    val withMins = perms.zipWithIndex.foldLeft(withHs) {
      case (acc, ((a, b), j)) =>
        acc.withColumn(s"m$j",
          expr(s"array_min(transform(hs, h -> ($a * h + $b) % $P))"))
    }
    val bandArr = (0 until 8).map { bd =>
      val (j1, j2) = (2 * bd, 2 * bd + 1)
      expr(s"concat('$bd|', '$j1:', m$j1, ',', '$j2:', m$j2)")
    }
    withMins
      .withColumn("n_sh", size(col("hs")))
      .withColumn("bands", array(bandArr: _*))
  }

  /** Append `bands` (array of 8 "band|j:m,j:m" strings) + `n_sh`
    * (shingle count) to any frame with a `text` column — one
    * projection, stream-safe, shared by store builder and gate. */
  def withBands(df: DataFrame): DataFrame =
    withMinsCols(df)
      .drop("tk" +: "hs" +: perms.indices.map(j => s"m$j"): _*)

  /** [[withBands]] plus the DISTINCT shingle-hash set (`ss`) and its
    * size (`n`) — the exact-Jaccard verify inputs the τ monitor needs
    * on top of the band keys. One definition with the gate path, so
    * the monitor's verify can never drift from the gate's candidates. */
  def withBandSets(df: DataFrame): DataFrame =
    withMinsCols(df)
      .withColumn("ss", array_distinct(col("hs")))
      .withColumn("n", size(col("ss")).cast("long"))
      .drop("tk" +: "hs" +: perms.indices.map(j => s"m$j"): _*)

  /** Streamed dedup-aggressiveness monitor: the τ-sweep census over the
    * shared τ grid ([[graft.functions.MinHash.TausE4]]), maintained
    * INCREMENTALLY over the band path.
    * Incoming docs band-join the stored corpus's (static) band table —
    * the same LSH candidate generation as the batch τ-sweep — each
    * candidate pair passes the exact cross-multiplied integer Jaccard
    * gate `i·10⁴ ≥ τ_e4·(n + s_n − i)` per τ arm, band-duplicate and
    * re-matched (τ, doc) hits collapse through a stateful
    * dropDuplicates, and ONE streaming aggregation keeps the running
    * census: per τ, how many incoming docs the store would remove.
    * THE operational dedup-rate dashboard: a sudden jump at τ=0.9
    * means the feed started replaying stored content verbatim.
    *
    * Scale shape: the static side is band-exploded once at query build
    * (at 100 TB: the persisted band table, partition-pruned by band
    * prefix); the stream side is a pure projection + equi-join keyed
    * on the band string — stateless until the final dedup+census,
    * whose state is O(removed docs × |τ|), not O(stream). Production
    * adds a watermark on ingest time to age that state; the fixture
    * twin pins semantics. */
  def tauSweepMonitor(docs: DataFrame, store: DataFrame): DataFrame = {
    val storeSide = withBandSets(store).filter(col("n_sh") > 0)
      .select(col("doc_id").as("s_id"), col("ss").as("s_ss"),
        col("n").as("s_n"), explode(col("bands")).as("b"))
      .localCheckpoint() // static side built once at query start
    withBandSets(docs).filter(col("n_sh") > 0)
      .select(col("doc_id"), col("ss"), col("n"),
        explode(col("bands")).as("b"))
      .join(storeSide, "b")
      .withColumn("i",
        size(array_intersect(col("ss"), col("s_ss"))).cast("long"))
      .withColumn("tau_e4", explode(typedlit(TausE4)))
      .filter(expr("i * 10000 >= tau_e4 * (n + s_n - i)"))
      .select(col("tau_e4"), col("doc_id"))
      .dropDuplicates("tau_e4", "doc_id")
      .groupBy(col("tau_e4")).agg(count(lit(1)).as("n_removed"))
  }

  /** One-row bloom sketch over a STATIC corpus's band signatures,
    * sized for 100 000 band items (≈ 8 × 12 500 docs) in 2²² bits
    * (512 KiB). A larger corpus needs both raised for the same false
    * positive rate — at 100 TB this sketch is MBs where the band table
    * is TBs, which is the whole point of the gate. */
  def bandBloom(store: DataFrame): DataFrame =
    withBands(store)
      .filter(col("n_sh") > 0)
      .select(explode(col("bands")).as("b"))
      .agg(BloomFuncs.agg(xxhash64(col("b")), 100000L, 1L << 22).as("bloom"))

  /** The gate itself: stream in, stream minus probable-dups out.
    * `might_contain` demands a CONSTANT sketch, so the (static,
    * 1-row) bloom is collected ONCE at query-build time and inlined
    * as a literal — a control-plane collect of one binary sketch,
    * exactly how a broadcast variable ships it; the streaming plan
    * stays a pure projection + filter. The membership test is an
    * `exists` lambda over the 8 band strings. */
  def dedupAgainstStore(docs: DataFrame, bloom: DataFrame): DataFrame = {
    val sketch = lit(bloom.collect()(0).getAs[Array[Byte]]("bloom"))
    withBands(docs)
      .filter(col("n_sh") === 0 ||
        !exists(col("bands"),
          b => BloomFuncs.mightContain(sketch, xxhash64(b))))
      .drop("bands", "n_sh")
  }
}
