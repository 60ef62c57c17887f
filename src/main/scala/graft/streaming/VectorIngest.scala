package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.functions.VectorExprs

/** Incoming embedding row (the streaming twin of the `embeddings`
  * table's rows). */
case class Vec(vec_id: Long, ts: java.sql.Timestamp, v: Array[Float])

/** Round 5 — streaming IVF index maintenance: the BUILD path of the IVF
  * ANN family (`LlmOps.ivfAnn` is the search path). Embeddings arrive
  * on a stream, each is assigned to its nearest coarse centroid
  * (cosine, same metric + c_id tie-break as the batch quantizer so the
  * two paths agree vector-for-vector), and lands in a parquet store
  * PARTITIONED BY list id — so a probe with nprobe=k prunes to k list
  * directories at scan time instead of reading the corpus.
  *
  * Scale shape: the centroid table is tiny (16–65 k entries at any real
  * scale) and broadcast per micro-batch; assignment is map-side
  * (crossJoin against the broadcast + one per-vector argmin window);
  * the sink reuses EventIngest's idempotent dynamic-overwrite contract
  * (batch_id in the partition spec → crash-retry rewrites, never
  * duplicates). At 100 TB the same code runs from Kafka with the store
  * on object storage; periodic centroid re-training is a batch job
  * (`ModelPrep.kmeansStep`) that swaps the broadcast table between
  * runs.
  */
object VectorIngest {

  /** Nearest-centroid assignment of (vec_id, ts, v) rows: the shared
    * [[graft.functions.IvfQuantizer.assign]] that every batch IVF row
    * also runs (top-1 cosine, c_id tie-break), so the streamed store and
    * `ivfAnn` agree vector-for-vector. `cents` columns: (c_id, cv, cn). */
  def assign(vecs: DataFrame, cents: DataFrame): DataFrame =
    graft.functions.IvfQuantizer
      .assign(vecs.withColumn("norm", VectorExprs.norm(col("v"))), cents)
      .select(col("vec_id"), col("ts"), col("v"), col("bucket"))

  /** Start the ingest: stream of [[Vec]] rows → nearest-list assignment
    * → list-partitioned idempotent parquet store. */
  def startIvfIngest(spark: SparkSession, vecs: DataFrame,
      cents: DataFrame, storeDir: String,
      checkpointDir: String): StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        assign(batch, cents)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("bucket", "batch_id")
          .parquet(storeDir)
      }
      .start()

  /** Probe-side read: only the requested lists' partition directories
    * are scanned (`bucket` is a partition column — the filter prunes at
    * file listing, before any IO). */
  def readLists(spark: SparkSession, storeDir: String,
      lists: Seq[Long]): DataFrame =
    spark.read.parquet(storeDir)
      .filter(col("bucket").isin(lists: _*))
      // partition-directory type inference narrows bucket=N to INT;
      // restore the writer's LONG so round-trips are schema-stable
      // (the cast rides above the pruned scan — pruning still applies)
      .withColumn("bucket", col("bucket").cast("long"))

  /** End-to-end ANN probe over the streamed store (round 6): rank the
    * coarse centroids by cosine to the probe vector, read ONLY the
    * nprobe nearest lists' partition directories, exact-score the
    * candidates, return the top k — `ivfAnn`'s search semantics served
    * from the stream-maintained index. The centroid ranking collects
    * nprobe ids on the driver: centroids are control-plane-sized by
    * design (16–65 k at any real scale — the coarse quantizer IS the
    * small side), and the resulting list ids become partition-pruning
    * literals, which must be known at planning time for the scan to
    * prune at file listing. Ties break on c_id / vec_id exactly as the
    * batch quantizer. */
  def probeStore(spark: SparkSession, storeDir: String,
      probe: Array[Float], cents: DataFrame, nprobe: Int,
      k: Int): DataFrame = {
    val pv = typedLit(probe)
    val pn = math.sqrt(probe.map(x => x.toDouble * x).sum)
    val lists = cents
      .withColumn("pc",
        round(VectorExprs.dot(col("cv"), pv)
          / (col("cn") * lit(pn)), 6))
      .orderBy(col("pc").desc, col("c_id"))
      .limit(nprobe)
      .select(col("c_id")).collect().map(_.getLong(0)).toSeq
    readLists(spark, storeDir, lists)
      .withColumn("cos",
        round(VectorExprs.dot(col("v"), pv)
          / (VectorExprs.norm(col("v")) * lit(pn)), 6))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("bucket"), col("cos"))
  }

  /** Streamed retrieval SCOREBOARD (s_stream_rrf — the streaming twin
    * of the q_llm_rrf_sweep/hybrid-RRF batch surface): RRF-fuse the
    * dense arm served from the stream-maintained IVF store
    * ([[probeStore]]) with a caller-supplied lexical ranking
    * (doc_id, lex_rank — e.g. the BM25 arm, which is corpus-statistics
    * work and stays a batch/periodic job at any scale). Scoring is the
    * EXACT integer idiom of the batch row: rrf_e12 = Σ 10¹² div
    * (60 + rank) (the standard RRF k = 60), missing-arm ranks
    * contribute 0 via coalesce, top 10 by score — so a
    * streamed scoreboard is bit-comparable to the batch one
    * (StreamingSpec proves parity against a batch brute-force twin).
    *
    * Shape: the dense candidate read prunes to nprobe list partitions
    * at file listing; both arms are top-k-sized (≪ corpus) by the time
    * they fuse — the full_outer join and the final top-N are
    * control-plane work. */
  def rrfFromStore(spark: SparkSession, storeDir: String,
      probe: Array[Float], cents: DataFrame, nprobe: Int,
      lex: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cos").desc, col("vec_id"))
    val dense = probeStore(spark, storeDir, probe, cents, nprobe, k = 50)
      .withColumn("dense_rank", row_number().over(w).cast("long"))
      .select(col("vec_id").as("doc_id"), col("dense_rank"))
    dense.join(lex, Seq("doc_id"), "full_outer")
      .withColumn("rrf_e12", expr(
        "coalesce(1000000000000 div (60 + lex_rank), 0L) + " +
          "coalesce(1000000000000 div (60 + dense_rank), 0L)"))
      .orderBy(col("rrf_e12").desc, col("doc_id"))
      .limit(10)
      .select(col("doc_id"), col("rrf_e12"))
  }
}
