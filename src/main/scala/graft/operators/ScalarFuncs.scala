package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables._
import graft.functions.TextExprs

/** SURVEY.md §2-H — scalar function families: string, regex, date/time,
  * math, array, map, JSON.
  *
  * Reference analogs: IRI/uuid minting and log-line timestamp parsing
  * (muswarmlogger/loggers.py save_container_logs), epoch-nano conversion
  * (muswarmlogger/events.py), open-keyed label dict access
  * (Actor.Attributes). All are codegen'd built-in expressions — no UDFs
  * in these hot paths (SURVEY §4).
  */
object ScalarFuncs {

  /** IRI minting + case/pad/substring string ops. */
  def strIriMint(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(col("event_id"),
        concat(lit("http://swarmui.semte.ch/resources/events/"),
          col("event_id")).as("iri"),
        upper(col("event_type")).as("type_up"),
        substring(col("event_type"), 1, 3).as("type_pre"),
        lpad(col("user_id").cast(StringType), 4, "0").as("user_pad"))
      .orderBy(col("event_id"))

  /** Log-line-style splitting: first token, regex extract, token count. */
  def strRegexSplit(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(col("doc_id"),
        substring_index(col("text"), " ", 1).as("first_tok"),
        regexp_extract(col("text"), "^(\\w+)", 1).as("re_tok"),
        size(tokens).as("n_tok"))
      .orderBy(col("doc_id"))

  /** Epoch-nano → timestamp conversions and date part extraction. */
  def dateTruncExtract(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(col("event_id"),
        date_trunc("day", col("ts")).cast(DateType).as("day"),
        hour(col("ts")).as("hr"),
        dayofweek(col("ts")).as("dow"),
        expr("ts_ns div 1000000000").as("ts_s"))
      .orderBy(col("event_id"))

  /** Math function family over prices (integer-result fns cast long). */
  def mathFuncs(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        abs(col("l_extendedprice") - col("l_tax") * 1000).as("abs_v"),
        ceil(col("l_extendedprice")).as("ceil_v"),
        floor(col("l_extendedprice")).as("floor_v"),
        pmod(col("l_orderkey"), lit(7)).as("mod_v"),
        sqrt(col("l_quantity")).as("sqrt_qty"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** Array family over tokenized document text. */
  def arrayFuncs(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(col("doc_id"), size(tokens).as("n_tok"),
        array_contains(tokens, "spark").as("has_spark"),
        array_join(slice(sort_array(array_distinct(tokens)), 1, 3), ",")
          .as("first3"),
        size(array_distinct(tokens)).as("n_distinct"))
      .orderBy(col("doc_id"))

  /** Generator/UDTF-shaped: explode tokens → global top-20 counts. */
  def arrayExplode(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(explode(tokens).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(20)

  /** Map family over the parsed props label-map. */
  def mapFuncs(spark: SparkSession, dir: String): DataFrame = {
    val m = from_json(col("props"), MapType(StringType, IntegerType))
    events(spark, dir)
      .withColumn("m", m)
      .select(col("event_id"),
        element_at(col("m"), "k").as("k"),
        array_join(sort_array(map_keys(col("m"))), ",").as("keys"),
        coalesce(element_at(col("m"), "missing"), lit(-1)).as("miss"))
      .orderBy(col("event_id"))
  }

  /** JSON path extraction + to_json(struct) roundtrip. Each side is
    * parsed ONCE via `from_json` to a struct, then fields projected —
    * `get_json_object` re-parses the whole JSON string per call, which
    * cost 3 parses a row. */
  def jsonFuncs(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("j", to_json(struct(col("event_id"), col("event_type"))))
      .withColumn("js",
        from_json(col("j"), StructType.fromDDL(
          "event_id BIGINT, event_type STRING")))
      .withColumn("ps", from_json(col("props"), StructType.fromDDL(
        "k STRING")))
      .select(col("event_id"),
        col("ps.k").as("k_str"),
        col("js.event_type").as("rt_type"),
        col("js.event_id").as("rt_id"))
      .orderBy(col("event_id"))

  /** VARIANT ordered-extraction census (J112): the
    * min/max/sum companion of the round-5 q_scan_variant row — that
    * row pins typed + nested extraction and the try_variant_get miss;
    * this one pins that variant_get values ORDER and AGGREGATE like
    * native BIGINTs (min/max/sum per type) and that the PLAIN (non-try)
    * variant_get of an absent path yields NULL, not an error — the
    * three-valued contract a filter on a sparse property relies on.
    * At 100 TB both rows describe the same storage answer: parse once
    * into the binary encoding, extract by offset, never re-parse. */
  def jsonVariant(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("v", parse_json(col("props")))
      .select(col("event_type"),
        expr("variant_get(v, '$.k', 'bigint')").as("k"),
        expr("variant_get(v, '$.absent', 'bigint')").as("miss"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("k_sum"),
        min(col("k")).as("k_min"), max(col("k")).as("k_max"),
        count(col("miss")).as("n_missing_nonnull"))
      .orderBy(col("event_type"))

  /** Collation-aware semantics (J113): Spark 4 string
    * collations — `collate(s, 'UTF8_LCASE')` makes comparison,
    * DISTINCT, and GROUP BY case-insensitive WITHOUT rewriting every
    * predicate through lower() (and, unlike lower(), collation survives
    * into pushed-down filters and join keys). The row manufactures a
    * deterministic mixed-case segment column (upper for even keys,
    * lower for odd), then measures the distinct count under binary vs
    * LCASE collation plus the per-normalized-segment census — the
    * dedup-relevant semantics: 10 binary-distinct values collapse to
    * the 5 real segments. DuckDB replays with lower() (its collation
    * story differs; the SEMANTICS are what is pinned).
    *
    * The binary-distinct segments are de-duplicated first, so one
    * plain count and one distinct count fold them: two distinct
    * aggregates would plan an Expand whose slot order varies run to
    * run. */
  def strCollation(spark: SparkSession, dir: String): DataFrame = {
    val segs = customer(spark, dir)
      .select(when(col("c_custkey") % 2 === 0, upper(col("c_mktsegment")))
        .otherwise(lower(col("c_mktsegment"))).as("seg"))
      .distinct()
    segs
      .agg(countDistinct(expr("collate(seg, 'UTF8_LCASE')")).as("n_ci"),
        count(col("seg")).as("n_cs"))
      .select(col("n_ci"), col("n_cs"),
        (col("n_ci") < col("n_cs")).as("collation_collapses"))
  }

  /** Month-arithmetic clamping semantics (J120): `add_months`
    * over month-end dates — Jan 31 + 1 month must CLAMP to Feb 28/29,
    * the calendar contract every billing/retention job silently relies
    * on and the one date-arithmetic cell engines actually disagree on
    * (some wrap into March). The census pins it cross-engine: per
    * result-year, how many source dates sat on day ≥ 29, how many
    * results were clamped (result day < source day), and the exact
    * count — if either engine wrapped instead of clamping, counts and
    * hash diverge. Also pins leap-February handling (the fixture's
    * date span crosses leap years). */
  def dateAddMonths(spark: SparkSession, dir: String): DataFrame =
    orders(spark, dir)
      .select(col("o_orderdate").cast("date").as("d"))
      .select(col("d"), add_months(col("d"), 1).as("d1"))
      .groupBy(year(col("d1")).cast("long").as("y"))
      .agg(count(lit(1)).as("n"),
        sum(when(dayofmonth(col("d")) >= 29, 1L).otherwise(0L))
          .as("n_day29plus"),
        sum(when(dayofmonth(col("d1")) < dayofmonth(col("d")), 1L)
          .otherwise(0L)).as("n_clamped"))
      .orderBy(col("y"))

  /** Array higher-order functions (J121): the lambda surface
    * (filter / transform+aggregate folds / exists) over tokenized text
    * — per doc: long-token count, total char mass via a fold, and an
    * exists probe. HOFs run per-row inside the scan stage: no explode,
    * no shuffle, no UDF — the idiom that keeps row-local array logic
    * OUT of the generator path (q_array_explode pays a corpus-sized
    * explode for the same information). DuckDB replays with its list_*
    * lambdas — same semantics, different spelling. */
  def arrayHof(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(col("doc_id"),
        expr("size(filter(split(text, ' '), t -> length(t) >= 6))")
          .cast("long").as("n_long"),
        expr("aggregate(split(text, ' '), 0L, (a, t) -> a + length(t))")
          .as("char_mass"),
        expr("exists(split(text, ' '), t -> t = 'the')").as("has_the"))
      .orderBy(col("doc_id"))

  /** Seeded TABLESAMPLE (J122): Bernoulli row sampling with a
    * FIXED seed — the curation subsample contract: (a) REPRODUCIBLE
    * (two scans with the same seed pick the identical row set — pinned
    * as a verdict by re-running the sample and comparing exact id
    * sums), and (b) statistically sane (the 10 % sample lands inside
    * the 6-sigma binomial band). Sampled ids are engine-specific, so
    * the ORACLE pins the verdicts + the population census, not the
    * picks — the HLL/bloom verdict discipline. At 100 TB seeded
    * sampling is how every eval split and data audit stays re-runnable
    * without materializing the subset. */
  def scanTablesample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def one(): (Long, Long) = {
      val r = lineitem(spark, dir).sample(withReplacement = false,
          fraction = 0.1, seed = 42L)
        .agg(count(lit(1)), sum(expr("l_orderkey * 100000 + l_linenumber")))
        .collect().head
      (r.getLong(0), r.getLong(1))
    }
    val (n1, sig1) = one()
    val (n2, sig2) = one()
    val total = lineitem(spark, dir).count()
    val mean = total * 0.1
    val band = 6.0 * math.sqrt(total * 0.1 * 0.9)
    Seq((total, n1 == n2 && sig1 == sig2,
        math.abs(n1 - mean) <= band))
      .toDF("n_population", "reproducible", "within_band")
  }

  /** URL parsing family: parse_url HOST/PATH/QUERY-param/
    * PROTOCOL over URLs minted from document metadata — the domain
    * extraction + per-domain attribution step every web-corpus pipeline
    * runs. The oracle reconstructs each component from the same
    * metadata, so it verifies Spark's parser against ground truth
    * rather than mirroring the parse. */
  def urlParse(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .withColumn("url", concat(lit("https://"), col("source"),
        lit(".example.com/"), col("lang"), lit("/"), col("doc_id"),
        lit("?ref=r"), pmod(col("doc_id"), lit(7)),
        lit("&p="), pmod(col("doc_id"), lit(3))))
      .select(col("doc_id"),
        parse_url(col("url"), lit("HOST")).as("host"),
        parse_url(col("url"), lit("PATH")).as("path"),
        parse_url(col("url"), lit("QUERY"), lit("ref")).as("ref"),
        parse_url(col("url"), lit("PROTOCOL")).as("proto"))
      .orderBy(col("doc_id"))

  /** Unicode NFC normalization: the custom `nfc_normalize`
    * codegen expression over strings MINTED denormalized — combining
    * acute (U+0301) and ring (U+030A) sequences appended from doc
    * metadata — so the op demonstrably composes (length shrinks) and
    * the oracle's utf8proc NFC must agree byte-for-byte with the JDK's
    * (both implement the Unicode standard; hashes compare the UTF-8
    * bytes). First step of any web-corpus cleaning pipeline: mixed
    * normalization forms break exact dedup and shingling. */
  def nfcNorm(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .withColumn("dirty", concat(col("lang"), lit("e\u0301"),
        col("source"), lit("A\u030A"), col("doc_id")))
      .select(col("doc_id"),
        length(col("dirty")).as("n_raw"),
        length(TextExprs.nfc(col("dirty"))).as("n_nfc"),
        conv(substring(md5(TextExprs.nfc(col("dirty"))), 1, 15), 16, 10)
          .cast("bigint").as("nfc_h"))
      .orderBy(col("doc_id"))

  /** Date arithmetic family: add days/months (month-end
    * clamped the same way in both engines), last_day, signed day diff,
    * quarter, day-of-year. */
  def dateArith(spark: SparkSession, dir: String): DataFrame =
    orders(spark, dir)
      .withColumn("od", col("o_orderdate").cast(DateType))
      .select(col("o_orderkey"),
        date_add(col("od"), 30).as("plus30d"),
        add_months(col("od"), 2).as("plus2m"),
        last_day(col("od")).as("month_end"),
        datediff(lit("1998-03-15").cast(DateType), col("od"))
          .as("days_to_cut"),
        quarter(col("od")).as("qtr"),
        dayofyear(col("od")).as("doy"))
      .orderBy(col("o_orderkey"))

  /** String-distance/transform family: levenshtein, translate,
    * reverse, repeat, position — all codegen'd builtins, no UDFs. */
  def strDistance(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(col("doc_id"),
        levenshtein(substring(col("text"), 1, 10), lit("spark data"))
          .as("lev"),
        translate(substring(col("text"), 1, 20), "aeiou", "AEIOU").as("tr"),
        reverse(substring(col("text"), 1, 10)).as("rev"),
        repeat(substring(col("text"), 1, 3), 2).as("rep"),
        instr(col("text"), "data").as("pos"))
      .orderBy(col("doc_id"))

  /** try_cast safety family: malformed input → NULL, never a
    * query-killing exception — the ANSI-mode ingestion-robustness
    * surface (Spark 4 defaults to ANSI, where a bare CAST throws).
    * BOTH fallible columns mix valid and malformed inputs (1 in 7 bad
    * dates, 1 in 5 bad ints): a failed JVM
    * parse is exception-driven and ~100× the cost of a successful
    * one, so an all-malformed column measures exception throughput,
    * not the operator — mixed input proves the NULL contract at
    * realistic dirty-data rates (measured: 1.92 → 0.78 s sf0.1, the
    * r7/r8 verdicts' carried perf ask). */
  def castSafety(spark: SparkSession, dir: String): DataFrame =
    // Sort BEFORE the try_cast projection: the global sort's
    // range-boundary sampling job re-executes its child plan, and with
    // the projection below the sort that meant paying the
    // exception-driven bad_int parse twice (measured sf0.1 min-of-3:
    // 2.28 → 1.48 s standalone). Sorting the narrow source columns
    // first, the sampler recomputes only the scan; Project-over-Sort
    // preserves the total order and is not pushed back down.
    events(spark, dir)
      .select(col("event_id"), col("event_type"), col("props"))
      .orderBy(col("event_id"))
      .select(col("event_id"),
        expr("try_cast(get_json_object(props, '$.k') AS INT)").as("k_int"),
        expr("""try_cast(CASE WHEN event_id % 5 = 0 THEN event_type
          ELSE cast(event_id % 1000 AS string) END AS INT)""")
          .as("bad_int"),
        expr("""try_cast(CASE WHEN event_id % 7 = 0 THEN 'not-a-date'
          ELSE concat('2024-01-',
            lpad(cast(pmod(event_id, 28) + 1 AS string), 2, '0')) END
          AS DATE)""").as("d_mixed"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_cast_safety" -> castSafety,
    "q_date_arith" -> dateArith,
    "q_str_distance" -> strDistance,
    "q_str_iri_mint" -> strIriMint,
    "q_str_regex_split" -> strRegexSplit,
    "q_date_trunc_extract" -> dateTruncExtract,
    "q_math_funcs" -> mathFuncs,
    "q_array_funcs" -> arrayFuncs,
    "q_array_explode" -> arrayExplode,
    "q_map_funcs" -> mapFuncs,
    "q_json_funcs" -> jsonFuncs,
    "q_json_variant" -> jsonVariant,
    "q_str_collation" -> strCollation,
    "q_date_add_months" -> dateAddMonths,
    "q_array_hof" -> arrayHof,
    "q_scan_tablesample" -> scanTablesample,
    "q_str_url_parse" -> urlParse,
    "q_str_nfc_norm" -> nfcNorm,
  )

  val oracle: Map[String, String] = Map(
    "q_date_add_months" ->
      """WITH b AS (SELECT CAST(o_orderdate AS DATE) AS d,
        |  CAST(o_orderdate AS DATE) + INTERVAL 1 MONTH AS d1
        | FROM orders)
        |SELECT CAST(year(d1) AS BIGINT) AS y,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN day(d) >= 29 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_day29plus,
        |  CAST(sum(CASE WHEN day(d1) < day(d) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_clamped
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_array_hof" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split(text, ' '),
        |    t -> length(t) >= 6)) AS BIGINT) AS n_long,
        |  CAST(list_aggregate(list_transform(string_split(text, ' '),
        |    t -> length(t)), 'sum') AS BIGINT) AS char_mass,
        |  list_contains(string_split(text, ' '), 'the') AS has_the
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_scan_tablesample" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_population,
        |  true AS reproducible, true AS within_band
        |FROM lineitem""".stripMargin,
    "q_json_variant" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS k_sum,
        |  CAST(min(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS k_min,
        |  CAST(max(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS k_max,
        |  CAST(count(CAST(props->>'$.absent' AS BIGINT)) AS BIGINT)
        |    AS n_missing_nonnull
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_str_collation" ->
      """WITH m AS (SELECT CASE WHEN c_custkey % 2 = 0
        |    THEN upper(c_mktsegment) ELSE lower(c_mktsegment) END AS seg
        |  FROM customer)
        |SELECT CAST(count(DISTINCT lower(seg)) AS BIGINT) AS n_ci,
        |  CAST(count(DISTINCT seg) AS BIGINT) AS n_cs,
        |  count(DISTINCT lower(seg)) < count(DISTINCT seg)
        |    AS collation_collapses
        |FROM m""".stripMargin,
    "q_cast_safety" ->
      """SELECT event_id,
        | TRY_CAST(props->>'$.k' AS INTEGER) AS k_int,
        | TRY_CAST(CASE WHEN event_id % 5 = 0 THEN event_type
        |   ELSE CAST(event_id % 1000 AS VARCHAR) END AS INTEGER)
        |   AS bad_int,
        | TRY_CAST(CASE WHEN event_id % 7 = 0 THEN 'not-a-date'
        |   ELSE '2024-01-' ||
        |     lpad(CAST(event_id % 28 + 1 AS VARCHAR), 2, '0') END
        |   AS DATE) AS d_mixed
        |FROM events ORDER BY event_id""".stripMargin,
    "q_date_arith" ->
      """SELECT o_orderkey,
        | CAST(o_orderdate AS DATE) + 30 AS plus30d,
        | CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE)
        |   AS plus2m,
        | last_day(CAST(o_orderdate AS DATE)) AS month_end,
        | CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '1998-03-15')
        |   AS INTEGER) AS days_to_cut,
        | CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
        | CAST(dayofyear(o_orderdate) AS INTEGER) AS doy
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_str_distance" ->
      """SELECT doc_id,
        | CAST(levenshtein(substring(text, 1, 10), 'spark data') AS INTEGER)
        |   AS lev,
        | translate(substring(text, 1, 20), 'aeiou', 'AEIOU') AS tr,
        | reverse(substring(text, 1, 10)) AS rev,
        | repeat(substring(text, 1, 3), 2) AS rep,
        | CAST(strpos(text, 'data') AS INTEGER) AS pos
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_str_iri_mint" ->
      """SELECT event_id,
        | 'http://swarmui.semte.ch/resources/events/' || event_id AS iri,
        | upper(event_type) AS type_up,
        | substring(event_type, 1, 3) AS type_pre,
        | lpad(CAST(user_id AS VARCHAR), 4, '0') AS user_pad
        |FROM events ORDER BY event_id""".stripMargin,
    "q_str_regex_split" ->
      """SELECT doc_id, split_part(text, ' ', 1) AS first_tok,
        | regexp_extract(text, '^(\w+)', 1) AS re_tok,
        | CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tok
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_date_trunc_extract" ->
      """SELECT event_id, CAST(date_trunc('day', ts) AS DATE) AS day,
        | CAST(hour(ts) AS INTEGER) AS hr,
        | CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,
        | epoch_ns(ts) // 1000000000 AS ts_s
        |FROM events ORDER BY event_id""".stripMargin,
    "q_math_funcs" ->
      """SELECT l_orderkey, l_linenumber,
        | abs(l_extendedprice - l_tax * 1000) AS abs_v,
        | CAST(ceil(l_extendedprice) AS BIGINT) AS ceil_v,
        | CAST(floor(l_extendedprice) AS BIGINT) AS floor_v,
        | l_orderkey % 7 AS mod_v,
        | sqrt(l_quantity) AS sqrt_qty
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_array_funcs" ->
      """SELECT doc_id,
        | CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tok,
        | list_contains(string_split(text, ' '), 'spark') AS has_spark,
        | array_to_string(list_sort(list_distinct(string_split(text, ' ')))[1:3],
        |   ',') AS first3,
        | CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER)
        |   AS n_distinct
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_array_explode" ->
      """SELECT token, count(*) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS token
        |      FROM documents) t
        |GROUP BY token ORDER BY cnt DESC, token LIMIT 20""".stripMargin,
    "q_map_funcs" ->
      """SELECT event_id, CAST(props->>'$.k' AS INTEGER) AS k,
        | array_to_string(list_sort(json_keys(props)), ',') AS keys,
        | coalesce(CAST(props->>'$.missing' AS INTEGER), -1) AS miss
        |FROM events ORDER BY event_id""".stripMargin,
    "q_json_funcs" ->
      """SELECT event_id, props->>'$.k' AS k_str,
        | event_type AS rt_type, event_id AS rt_id
        |FROM events ORDER BY event_id""".stripMargin,
    "q_str_url_parse" ->
      """SELECT doc_id,
        | source || '.example.com' AS host,
        | '/' || lang || '/' || doc_id AS path,
        | 'r' || (doc_id % 7) AS ref,
        | 'https' AS proto
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_str_nfc_norm" ->
      """WITH d AS (SELECT doc_id,
        |   lang || 'e' || chr(769) || source || 'A' || chr(778) || doc_id
        |     AS dirty
        |  FROM documents)
        |SELECT doc_id,
        | CAST(length(dirty) AS INTEGER) AS n_raw,
        | CAST(length(nfc_normalize(dirty)) AS INTEGER) AS n_nfc,
        | CAST(concat('0x', substr(md5(nfc_normalize(dirty)), 1, 15))
        |   AS BIGINT) AS nfc_h
        |FROM d ORDER BY doc_id""".stripMargin,
  )
}
