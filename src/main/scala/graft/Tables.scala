package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.{BasicFileAttributes, FileTime}
import scala.collection.concurrent.TrieMap
import scala.util.Try
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Central table readers for the driver-generated parquet fixtures
  * (`/root/testdata/sf*` — see TESTDATA.md / FIXTURES.md).
  *
  * Scale notes (100 TB design): every reader is a plain parquet scan, so
  * Catalyst's column pruning + predicate pushdown reach the source. Only
  * the footer schema of a fixture file is memoized, never its data:
  * without a schema Spark infers one per read with a one-task job that
  * opens the footer, a fixed cost that dominated small queries. The
  * first read of a regular local file infers as before; later reads pass
  * the memoized schema, which skips inference and starts no job. Each
  * read still builds a fresh relation with fresh attribute ids.
  *
  * The memo key is the absolute path, the file's size, its
  * last-modified time at NIO precision, and the session's explicitly
  * set `spark.sql.parquet.*` / `spark.sql.legacy.parquet.*` confs
  * (`legacy.parquet.nanosAsLong` changes the inferred type of
  * `events.ts`). A schema is a pure function of that key, so one
  * process-wide map serves every session and is bounded by the number
  * of distinct files read. Only regular files are memoized: a
  * directory's nested files can change without changing its own size
  * or mtime, so directories (self-written fixtures, partitioned stores)
  * keep the plain inferring read. At cluster scale these paths would be
  * catalog tables, whose stored schema plays the memo's role — the API
  * is unchanged.
  */
object Tables {

  private val schemas =
    TrieMap[(String, Long, FileTime, Seq[(String, String)]), StructType]()

  private def parquet(spark: SparkSession, path: String): DataFrame = {
    val file = Try {
      val f = Paths.get(path).toAbsolutePath.normalize
      (f.toString, Files.readAttributes(f, classOf[BasicFileAttributes]))
    }.toOption.filter(_._2.isRegularFile)
    file match {
      case None => spark.read.parquet(path)
      case Some((f, a)) =>
        val confs = spark.conf.getAll.toSeq.filter { case (k, _) =>
          k.startsWith("spark.sql.parquet.") ||
            k.startsWith("spark.sql.legacy.parquet.")
        }.sorted
        val key = (f, a.size, a.lastModifiedTime, confs)
        schemas.get(key) match {
          case Some(s) => spark.read.schema(s).parquet(path)
          case None =>
            val df = spark.read.parquet(path)
            schemas.putIfAbsent(key, df.schema)
            df
        }
    }
  }

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame   = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = t(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  /** A document's tokens: `text` split on single spaces, so a doubled
    * space yields an empty token and the count is the number of spaces
    * plus one, as the oracle's `string_split(text, ' ')` counts. Every
    * batch row and both streaming paths (`StreamingOps.curateStream`,
    * `StreamDedup`) read this one tokenizer; a token count is
    * `size(tokens)`. */
  val tokens: Column = split(col("text"), " ")

  /** The seven stopwords the quality and relevance rows exclude or
    * count, in the order their SQL `IN` lists name them. */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")

  /** [[Stopwords]] as the SQL list `('the','a',...)`, for a lambda in
    * SQL text (`t -> t IN $stopwordsSql`), where a Column cannot stand
    * in without renaming the lambda variable. */
  val stopwordsSql: String = Stopwords.map(w => s"'$w'").mkString("(", ",", ")")

  /** The content-dedup key, `lower(trim(text))`: two documents whose
    * texts differ only in case or surrounding whitespace are one. */
  val contentKey: Column = lower(trim(col("text")))

  /** The 256-bit SHA-2 digest of [[contentKey]]: the bounded-width key
    * the batch dedup rows and `StreamingOps.curateStream` group by. */
  val contentDigest: Column = sha2(contentKey, 256)

  /** `docs` with its [[tokens]] as `tk` and their count as `n_tok`. */
  def withTokens(docs: DataFrame): DataFrame =
    docs.withColumn("tk", tokens).withColumn("n_tok", size(col("tk")))

  /** The quality ratios over the columns of [[withTokens]]: the
    * type-token ratio `ttr` (distinct tokens over `n_tok`) and the
    * [[Stopwords]] share `stop_ratio`. Apart from [[withTokens]] so that
    * a row which de-duplicates between the two steps scores only the
    * survivors. */
  def withQualityRatios(df: DataFrame): DataFrame =
    df.withColumn("ttr",
        size(array_distinct(col("tk"))) / col("n_tok").cast("double"))
      .withColumn("stop_ratio", expr(
        s"""size(filter(tk, t -> t IN $stopwordsSql))
          |  / CAST(size(tk) AS DOUBLE)""".stripMargin))

  /** A document frame's quality features `tk`, `n_tok`, `ttr` and
    * `stop_ratio`: what the batch quality rows (`LlmOps.qualityScore`,
    * `LlmOps.datasetCard`, `ModelPrep.qualityLogreg`) score and what
    * `StreamingOps.curateStream` gates on. */
  def qualityFeatures(docs: DataFrame): DataFrame =
    withQualityRatios(withTokens(docs))

  /** The per-document token stream: one `(doc_id, tok)` row per token. */
  def docTokens(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir).select(col("doc_id"), explode(tokens).as("tok"))

  /** The per-document term-frequency census `(doc_id, tok, tf)`. */
  def termFreqs(spark: SparkSession, dir: String): DataFrame =
    docTokens(spark, dir)
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))

  /** The per-language token stream: one `(lang, tok)` row per token. */
  def langTokens(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir).select(col("lang"), explode(tokens).as("tok"))

  /** Session-memoized row count of fixture table `name`: one count job
    * per session (a parquet-footer read) under the key `"$name-rows"`.
    * The document-count gates, the skew-join sizing and [[rowsGate]]
    * all read this one count. */
  def rows(s: SparkSession, d: String, name: String): Long =
    FrameMemo.cachedCount(s, d, rowsKey(name))(t(s, d, name))

  /** The broadcast gate on [[rows]] of table `name`: hints a frame
    * derived from the table (the table itself, or a projection of it)
    * only while the table's row count and `avgRowBytes` fit
    * [[Hints.bcastIfAtMost]]. */
  def rowsGate(s: SparkSession, d: String, name: String,
      avgRowBytes: Long): DataFrame => DataFrame =
    Hints.gate(s, d, rowsKey(name), t(s, d, name),
      avgRowBytes = avgRowBytes)

  private def rowsKey(name: String): String = s"$name-rows"

  /** SIZE-GATED broadcast variants of the SCALING dimension tables:
    * part/supplier/customer grow linearly with SF in TPC-H-style
    * scaling, so a forced broadcast is the classic dim pattern on the
    * fixture and an executor-memory wall at 100× — the hint applies
    * only while the table's [[rows]] sit under [[Hints.NodeRowCap]];
    * past it the keyed join co-partitions. Full dim rows carry strings
    * (name/address/comment), so the gate assumes a measured-conservative
    * ~256 B/row, not the narrow 24 B default.
    * `region`/`nation` keep plain `broadcast()` at call sites: their
    * cardinality is fixed by the schema spec (5/25 rows at EVERY SF),
    * not by the data volume. */
  private def dimB(s: SparkSession, d: String, name: String): DataFrame =
    rowsGate(s, d, name, avgRowBytes = 256L)(t(s, d, name))
  def partB(s: SparkSession, d: String): DataFrame = dimB(s, d, "part")
  def supplierB(s: SparkSession, d: String): DataFrame =
    dimB(s, d, "supplier")
  def customerB(s: SparkSession, d: String): DataFrame =
    dimB(s, d, "customer")

  /** `events.parquet` has shipped with two physical types for `ts` across
    * fixture regenerations, so this reader adapts to the loaded schema:
    *
    *  - parquet TIMESTAMP(NANOS): Spark 4.x refuses to read it by default
    *    ([PARQUET_TYPE_ILLEGAL], SURVEY.md §7.3-1); with
    *    `legacy.parquet.nanosAsLong` the column arrives as LongType nanos.
    *    We keep the raw nanos as `ts_ns` and derive a µs-precision `ts`
    *    via integer division (`div`, not `/`, to avoid double-precision
    *    loss on 1.7e18-scale nanos).
    *  - parquet TIMESTAMP_MICROS (isAdjustedToUTC=false → `timestamp_ntz`):
    *    `ts` is cast to a session-TZ timestamp and `ts_ns` is reconstructed
    *    as `unix_micros(ts) * 1000` — identical downstream semantics (the
    *    DuckDB oracles use `epoch_ns(ts)`, which is µs-granular too).
    *
    * The session timezone is pinned to UTC here (not only in the entry
    * mains) so the NTZ→TZ cast is wall-clock identity in every session,
    * including ScalaTest ones; a non-UTC default would silently shift
    * timestamps and break hash parity with the oracle.
    *
    * Both branches emit the same column order: original columns with `ts`
    * in place (as TimestampType), plus `ts_ns` (LongType) appended.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    val raw = parquet(spark, s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts_ns", col("ts"))
          .withColumn("ts", expr("timestamp_micros(ts_ns div 1000)"))
      case _ =>
        raw.withColumn("ts_ns", expr("unix_micros(cast(ts as timestamp)) * 1000L"))
          .withColumn("ts", expr("cast(ts as timestamp)"))
    }
  }

  /** Event time in µs, `ts_ns div 1000`: the grain of the oracle's
    * `epoch_us(ts)`. Callers bind it as `ts_us`. */
  val tsUs: Column = expr("ts_ns div 1000")

  /** [[events]] with [[tsUs]] appended as `ts_us`, the column
    * [[userTimeline]] orders by. */
  def eventsUs(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).withColumn("ts_us", tsUs)

  /** Epoch day of an event (day 0 = 1970-01-01, a Thursday), integer
    * division of [[tsUs]] by 86 400 000 000 µs. */
  val epochDay: Column = expr("(ts_ns div 1000) div 86400000000")

  /** Epoch hour of an event, [[tsUs]] div 3 600 000 000 µs. */
  val epochHour: Column = expr("(ts_ns div 1000) div 3600000000")

  /** Day of week of [[epochDay]] as `epochDay % 7`: epoch arithmetic, so
    * no calendar locale can make the two engines disagree. */
  val epochDow: Column = expr("((ts_ns div 1000) div 86400000000) % 7")

  /** One user's events in time order: the window every per-user
    * lag/lead, running sum and first-event rule runs over. Ties on
    * `ts_us` break on `event_id`, so the order is total and the oracle's
    * `ORDER BY ts_us, event_id` agrees row for row. */
  val userTimeline: WindowSpec =
    Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))

  /** A money column in integer cents, rounded half up:
    * `CAST(floor(c * 100 + 0.5) AS BIGINT)`, the form both engines
    * evaluate identically. */
  def cents(c: String): Column = expr(s"CAST(floor($c * 100 + 0.5) AS BIGINT)")

  /** A double rounded half up to 4 decimals, `floor(c * 1e4 + 0.5) / 1e4`
    * in plain double arithmetic, which both engines evaluate
    * identically. Spark's `round()` goes through the double's shortest
    * decimal form while DuckDB rounds the binary value, so exact
    * half-way cases (common for small-rational scores like k/80) land on
    * different sides. */
  def r4(c: Column): Column = floor(c * lit(10000.0) + lit(0.5)) / lit(10000.0)

  /** The inactivity gap that closes a user session: the batch rule
    * (`Reshape.sessionEvents`), `StreamingOps.sessionize`'s
    * `session_window` and `TwsOps`' timers all read it. */
  val SessionGap: java.time.Duration = java.time.Duration.ofMinutes(30)
}
