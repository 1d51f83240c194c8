package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.{Clean, Inference, TextAnalysis}
import graft.operators.{Decontaminate, Dedup, Graph, Multimodal, Packing, Ranking, Similarity, TemporalJoins}
import graft.streaming.UploadAdmission

/** The declared query inventory (SURVEY.md §2.4) — the t2 correctness
  * contract. Each query is a Spark DataFrame program plus (where
  * SQL-expressible) a DuckDB oracle over the same parquet tables.
  *
  * Determinism discipline (SURVEY.md §7.1): every query ends in an
  * explicit ORDER BY over a unique key; double aggregates are rounded;
  * UTC session timezone assumed.
  *
  * KNOWN LIMIT of rounded-double parity: rounding happens AFTER a
  * float/double aggregate whose partial-merge order is engine- and
  * partitioning-dependent, so a result sitting within an ulp of a
  * rounding boundary can flip the last digit across engines or runs
  * (and, where a rounded score feeds a top-k cutoff, swap a boundary
  * row). This is inherent to cross-engine float comparison — the
  * fixtures are checked to sit clear of the boundaries at the tested
  * SFs. Where EXACT cross-engine parity is achievable we take it:
  * integer-ratio queries use the floor rounding form (round4Stable)
  * and q_window_running sums in DECIMAL (order-independent) instead
  * of rounding a double fold.
  *
  * Scale notes are attached per query — each is written so the same
  * plan survives 100 TB (filters/projections pushed to the scan,
  * bounded dims broadcast, no driver-side loops, top-k via
  * TakeOrderedAndProject instead of global sort).
  */
object Queries {

  final case class Q(
      name: String,
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  /** Resolved-table cache: plain `spark.read.parquet(path)` re-lists
    * the directory and re-reads a footer for schema inference on
    * EVERY call — ~50-150ms of driver work per table reference, paid
    * hundreds of times across the query inventory for the same
    * immutable paths. Caching the resolved DataFrame HANDLE (the
    * relation + its file index — metadata only, never row data; every
    * action still scans the parquet) is exactly what resolving
    * through a catalog gives a production session. A cached DataFrame
    * strongly references its session, so weak-keying on the session
    * can never collect (the value pins the key — the classic
    * WeakHashMap self-reference); instead the cache is a bounded LRU
    * keyed by (sessionUUID, dir, name): a stopped session's entries
    * age out under any continued use, and the bound caps the worst
    * case at a few hundred relation handles regardless. Source paths
    * must stay immutable for the session's lifetime (the bench/verify
    * testdata contract) — a path whose files change mid-session would
    * serve a stale listing. */
  private val tableCache =
    new java.util.LinkedHashMap[(Int, String, String),
        (SparkSession, DataFrame)](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(Int, String, String),
            (SparkSession, DataFrame)]
         ): Boolean = size() > 256
    }

  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    // identityHashCode is not unique across a session's lifetime and a
    // replacement's — the stored session is `eq`-checked on hit so a
    // collision re-resolves instead of serving a dead session's handle
    val key = (System.identityHashCode(s), dir, name)
    tableCache.synchronized {
      val hit = tableCache.get(key)
      if (hit != null && (hit._1 eq s)) return hit._2
    }
    val df = tUncached(s, dir, name)
    tableCache.synchronized { tableCache.put(key, (s, df)); () }
    df
  }

  private def tUncached(s: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // Generator-version tolerance: the events table has shipped with
      // ts as parquet TIMESTAMP(NANOS) (early driver testdata) and as
      // TIMESTAMP(MICROS, isAdjustedToUTC=false) (current). Branch on
      // what the reader actually surfaces so every downstream query
      // sees one canonical form — session-zone TIMESTAMP at µs
      // precision, the same instants DuckDB's CAST(ts AS TIMESTAMP)
      // yields on the same file:
      //  - INT64 nanos (legacy.parquet.nanosAsLong): integer-div
      //    truncate to µs. Integer `div`, not double / — ns epochs
      //    exceed double's 53-bit exact range.
      //  - TIMESTAMP_NTZ (µs, not UTC-adjusted): reinterpret in the
      //    session zone (all graft sessions pin UTC), a no-op on the
      //    stored micros.
      // nanosAsLong is a SESSION conf with no per-read option, so the
      // session builders set it (Bench, Verify, the test session); a
      // session without it fails on a nanos file instead of reading it.
      val raw = s.read.parquet(s"$dir/events.parquet")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case org.apache.spark.sql.types.TimestampNTZType =>
          raw.withColumn("ts",
            col("ts").cast(org.apache.spark.sql.types.TimestampType))
        case _ => raw
      }
    } else s.read.parquet(s"$dir/$name.parquet")

  // ---------------------------------------------------------------------
  // Reference-surface queries
  // ---------------------------------------------------------------------

  /** O18 (main.py:809): the reference's entire analytics surface —
    * newest-first top-100. Spark plans this as TakeOrderedAndProject
    * (bounded heap per partition + driver merge), NOT a global sort:
    * at 100 TB this moves only 100 rows per partition. */
  private val qResultsTopk = Q(
    "q_results_topk",
    (s, d) => t(s, d, "events")
      .orderBy(col("ts").desc, col("event_id").asc)
      .limit(100),
    Some("""SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
      event_type, value, props
    FROM events ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id ASC LIMIT 100"""))

  /** O2/O3 (main.py:660-672): admission filter + path parse. The messy
    * path column is synthesized deterministically from `documents` so
    * both engines see identical inputs. String predicates are
    * codegen'd and evaluated scan-side. */
  private val qIngestFilter = Q(
    "q_ingest_filter",
    (s, d) => {
      val docs = t(s, d, "documents")
      val path = concat(
        when(col("doc_id") % 11 === 0, lit("processed/")).otherwise(lit("")),
        lit("incoming/"), col("source"),
        lit("/f"), (col("doc_id") % 10).cast("string"),
        lit("/batch/doc_"), col("doc_id").cast("string"),
        when(col("doc_id") % 7 === 0, lit(".txt")).otherwise(lit(".pdf")))
      docs.withColumn("path", path)
        .filter(!col("path").contains("processed/")
          && lower(col("path")).endsWith(".pdf"))
        .withColumn("parts", split(col("path"), "/"))
        .filter(size(col("parts")) === 5
          && element_at(col("parts"), 1) === "incoming"
          && element_at(col("parts"), 4) === "batch")
        .select(col("doc_id"),
          element_at(col("parts"), 2).as("uid"),
          element_at(col("parts"), 3).as("folder"),
          col("path"))
        .orderBy("doc_id")
    },
    Some("""WITH p AS (
      SELECT doc_id,
        (CASE WHEN doc_id % 11 = 0 THEN 'processed/' ELSE '' END)
        || 'incoming/' || source || '/f' || (doc_id % 10)
        || '/batch/doc_' || doc_id
        || (CASE WHEN doc_id % 7 = 0 THEN '.txt' ELSE '.pdf' END) AS path
      FROM documents)
    SELECT doc_id,
      string_split(path, '/')[2] AS uid,
      string_split(path, '/')[3] AS folder,
      path
    FROM p
    WHERE path NOT LIKE '%processed/%'
      AND lower(path) LIKE '%.pdf'
      AND len(string_split(path, '/')) = 5
      AND string_split(path, '/')[1] = 'incoming'
      AND string_split(path, '/')[4] = 'batch'
    ORDER BY doc_id"""))

  /** O14 (main.py:262-263): identifier sanitization over part.p_type. */
  private val qSanitizeIdent = Q(
    "q_sanitize_ident",
    (s, d) => t(s, d, "part")
      .select(col("p_partkey"), Clean.sanitizeIdent(col("p_type")).as("ident"))
      .orderBy("p_partkey"),
    Some("""SELECT p_partkey,
      lower(regexp_replace(p_type, '[^a-zA-Z0-9_]', '_', 'g')) AS ident
    FROM part ORDER BY p_partkey"""))

  /** O11 (main.py:229-239): messy numeric cast over strings synthesized
    * from events.props. */
  private val qParseNumber = Q(
    "q_parse_number",
    (s, d) => {
      val k = get_json_object(col("props"), "$.k")
      val messy = when(col("event_id") % 7 === 0, concat(lit("$"), k, lit(",000.25")))
        .when(col("event_id") % 7 === 1, concat(lit("("), k, lit(")")))
        .when(col("event_id") % 7 === 2, concat(k, lit("%")))
        .when(col("event_id") % 7 === 3, concat(lit("€ "), k))
        .when(col("event_id") % 7 === 4, lit("N/A"))
        .when(col("event_id") % 7 === 5, concat(lit("x"), k))
        .otherwise(concat(lit(" "), k, lit(" ")))
      t(s, d, "events")
        .select(col("event_id"), messy.as("messy"))
        .withColumn("parsed", Clean.parseMessyNumber(col("messy")))
        .orderBy("event_id")
    },
    Some("""WITH m AS (
      SELECT event_id,
        CASE CAST(event_id % 7 AS INT)
          WHEN 0 THEN '$' || json_extract_string(props, '$.k') || ',000.25'
          WHEN 1 THEN '(' || json_extract_string(props, '$.k') || ')'
          WHEN 2 THEN json_extract_string(props, '$.k') || '%'
          WHEN 3 THEN '€ ' || json_extract_string(props, '$.k')
          WHEN 4 THEN 'N/A'
          WHEN 5 THEN 'x' || json_extract_string(props, '$.k')
          ELSE ' ' || json_extract_string(props, '$.k') || ' ' END AS messy
      FROM events),
    c AS (
      SELECT event_id, messy,
        regexp_replace(
          CASE WHEN trim(messy) IN ('', 'N/A', '---') THEN NULL
               ELSE trim(messy) END,
          '[$€£¥,\s%]', '', 'g') AS cleaned
      FROM m),
    p AS (
      SELECT event_id, messy,
        CASE WHEN cleaned LIKE '(%' AND cleaned LIKE '%)'
             THEN '-' || substr(cleaned, 2, len(cleaned) - 2)
             ELSE cleaned END AS deparened
      FROM c)
    SELECT event_id, messy,
      CASE WHEN regexp_matches(deparened,
             '^[+-]?([0-9]+(\.[0-9]*)?|\.[0-9]+)([eE][+-]?[0-9]+)?$')
           THEN CAST(deparened AS DOUBLE) ELSE NULL END AS parsed
    FROM p ORDER BY event_id"""))

  /** O12 (main.py:241-247): declared-subset fuzzy date parse over
    * strings synthesized from orders.o_orderdate — including the
    * round-6 tail: abbreviated month with comma ("Jan 5, 2021") and
    * BOTH ordinal-suffix prose forms ("3rd March 2021",
    * "March 3rd, 2021"), which the parser normalizes with the same
    * digit-anchored suffix strip the oracle states in RE2. */
  private val qParseDate = Q(
    "q_parse_date",
    (s, d) => {
      val dayN = dayofmonth(col("o_orderdate"))
      val suffix = when(dayN.isin(1, 21, 31), lit("st"))
        .when(dayN.isin(2, 22), lit("nd"))
        .when(dayN.isin(3, 23), lit("rd"))
        .otherwise(lit("th"))
      val arm = col("o_orderkey") % 11
      val raw = when(arm === 0, date_format(col("o_orderdate"), "yyyy-MM-dd"))
        .when(arm === 1, date_format(col("o_orderdate"), "MM/dd/yyyy"))
        .when(arm === 2, date_format(col("o_orderdate"), "MMMM dd, yyyy"))
        .when(arm === 3, date_format(col("o_orderdate"), "dd-MMM-yyyy"))
        .when(arm === 4, date_format(col("o_orderdate"), "MMMM dd yyyy"))
        .when(arm === 5, date_format(col("o_orderdate"), "MMM d, yyyy"))
        .when(arm === 6, concat(dayN.cast("string"), suffix, lit(" "),
          date_format(col("o_orderdate"), "MMMM yyyy")))
        .when(arm === 7, concat(date_format(col("o_orderdate"), "MMMM "),
          dayN.cast("string"), suffix, lit(", "),
          date_format(col("o_orderdate"), "yyyy")))
        // round-10 tail formats: two-digit year (the POSIX 69-pivot —
        // the fixture's 1995-2001 span exercises BOTH centuries) and
        // the compact all-digit form
        .when(arm === 8, date_format(col("o_orderdate"), "dd-MMM-yy"))
        .when(arm === 9, date_format(col("o_orderdate"), "yyyyMMdd"))
        .otherwise(lit("not a date"))
      t(s, d, "orders")
        .select(col("o_orderkey"), raw.as("raw"))
        .withColumn("parsed", Clean.parseFuzzyDate(col("raw")))
        .orderBy("o_orderkey")
    },
    Some("""WITH m AS (
      SELECT o_orderkey,
        CASE CAST(o_orderkey % 11 AS INT)
          WHEN 0 THEN strftime(o_orderdate, '%Y-%m-%d')
          WHEN 1 THEN strftime(o_orderdate, '%m/%d/%Y')
          WHEN 2 THEN strftime(o_orderdate, '%B %d, %Y')
          WHEN 3 THEN strftime(o_orderdate, '%d-%b-%Y')
          WHEN 4 THEN strftime(o_orderdate, '%B %d %Y')
          WHEN 5 THEN strftime(o_orderdate, '%b %-d, %Y')
          WHEN 6 THEN strftime(o_orderdate, '%-d') ||
            CASE WHEN day(o_orderdate) IN (1, 21, 31) THEN 'st'
                 WHEN day(o_orderdate) IN (2, 22) THEN 'nd'
                 WHEN day(o_orderdate) IN (3, 23) THEN 'rd'
                 ELSE 'th' END || strftime(o_orderdate, ' %B %Y')
          WHEN 7 THEN strftime(o_orderdate, '%B %-d') ||
            CASE WHEN day(o_orderdate) IN (1, 21, 31) THEN 'st'
                 WHEN day(o_orderdate) IN (2, 22) THEN 'nd'
                 WHEN day(o_orderdate) IN (3, 23) THEN 'rd'
                 ELSE 'th' END || strftime(o_orderdate, ', %Y')
          WHEN 8 THEN strftime(o_orderdate, '%d-%b-%y')
          WHEN 9 THEN strftime(o_orderdate, '%Y%m%d')
          ELSE 'not a date' END AS raw
      FROM orders),
    st AS (
      SELECT o_orderkey, raw,
        regexp_replace(raw, '(\d)(st|nd|rd|th)\b', '\1', 'g') AS stripped
      FROM m)
    SELECT o_orderkey, raw,
      CAST(CASE WHEN regexp_matches(stripped,
             '^\d{1,2}-[A-Za-z]{3}-\d{2}$')
           THEN TRY_STRPTIME(stripped, '%d-%b-%y')
           ELSE COALESCE(
        TRY_STRPTIME(stripped, '%Y-%m-%d'),
        TRY_STRPTIME(stripped, '%m/%d/%Y'),
        TRY_STRPTIME(stripped, '%B %d, %Y'),
        TRY_STRPTIME(stripped, '%d-%b-%Y'),
        TRY_STRPTIME(stripped, '%B %d %Y'),
        TRY_STRPTIME(stripped, '%b %d, %Y'),
        TRY_STRPTIME(stripped, '%d %B %Y'),
        TRY_STRPTIME(stripped, '%Y%m%d')) END AS DATE) AS parsed
    FROM st ORDER BY o_orderkey"""))

  /** O13 (main.py:224-225): sentinel → NULL normalization, counted. */
  private val qNullNormalize = Q(
    "q_null_normalize",
    (s, d) => {
      val raw = when(col("doc_id") % 4 === 0, lit("N/A"))
        .when(col("doc_id") % 4 === 1, lit("---"))
        .when(col("doc_id") % 4 === 2, lit(""))
        .otherwise(col("lang"))
      t(s, d, "documents")
        .select(Clean.nullNormalize(raw).as("norm_val"))
        .groupBy("norm_val").count().withColumnRenamed("count", "cnt")
        .orderBy(col("norm_val").asc_nulls_first)
    },
    Some("""SELECT
      NULLIF(NULLIF(NULLIF(
        CASE CAST(doc_id % 4 AS INT)
          WHEN 0 THEN 'N/A' WHEN 1 THEN '---' WHEN 2 THEN '' ELSE lang END,
        'N/A'), '---'), '') AS norm_val,
      count(*) AS cnt
    FROM documents GROUP BY 1 ORDER BY norm_val ASC NULLS FIRST"""))

  /** O9 (main.py:165-202): regex type-inference histogram over samples
    * synthesized from part. */
  private val qInferType = Q(
    "q_infer_type",
    (s, d) => {
      val dateStr = concat(lit("2024-"),
        lpad(((col("p_partkey") % 12) + 1).cast("string"), 2, "0"),
        lit("-"),
        lpad(((col("p_partkey") % 28) + 1).cast("string"), 2, "0"))
      val sample = when(col("p_partkey") % 6 === 0, concat(lit("$"), col("p_size").cast("string"), lit(",500")))
        .when(col("p_partkey") % 6 === 1, concat(lit("INV-"), col("p_size").cast("string")))
        .when(col("p_partkey") % 6 === 2, col("p_name"))
        .when(col("p_partkey") % 6 === 3, dateStr)
        .when(col("p_partkey") % 6 === 4, lit("N/A"))
        .otherwise(concat(col("p_name"), lit(" with a long free text tail over thirty chars")))
      t(s, d, "part")
        .select(Inference.inferTypeCol(sample).as("inferred"))
        .groupBy("inferred").count().withColumnRenamed("count", "cnt")
        .orderBy("inferred")
    },
    Some("""WITH m AS (
      SELECT CASE CAST(p_partkey % 6 AS INT)
        WHEN 0 THEN '$' || p_size || ',500'
        WHEN 1 THEN 'INV-' || p_size
        WHEN 2 THEN p_name
        WHEN 3 THEN '2024-' || lpad(CAST((p_partkey % 12) + 1 AS VARCHAR), 2, '0')
                     || '-' || lpad(CAST((p_partkey % 28) + 1 AS VARCHAR), 2, '0')
        WHEN 4 THEN 'N/A'
        ELSE p_name || ' with a long free text tail over thirty chars' END AS s
      FROM part),
    c AS (
      SELECT trim(s) AS s, regexp_replace(trim(s), '[$€£¥,\s%]', '', 'g') AS cleaned
      FROM m),
    i AS (
      SELECT CASE
        WHEN s IS NULL OR s IN ('', 'N/A', '---') THEN 'string'
        WHEN regexp_matches(cleaned, '^-?\d+(\.\d+)?$') THEN 'number'
        WHEN regexp_matches(s, '[A-Za-z]') AND regexp_matches(s, '[0-9]') THEN
          CASE WHEN regexp_matches(s, '^[A-Za-z]+ \d{1,2},? \d{4}$') THEN 'date'
               WHEN len(s) <= 30 THEN 'categorical'
               ELSE 'string' END
        WHEN regexp_matches(s, '^(\d{4}[-/]\d{1,2}[-/]\d{1,2}|\d{1,2}[-/]\d{1,2}[-/]\d{2,4})$') THEN 'date'
        WHEN len(s) <= 30 AND regexp_matches(s, '^[A-Za-z][A-Za-z .-]*$') THEN 'categorical'
        ELSE 'string' END AS inferred
      FROM c)
    SELECT inferred, count(*) AS cnt FROM i GROUP BY 1 ORDER BY inferred"""))

  /** O7 (main.py:145): JSON field extraction + filter. get_json_object
    * is codegen'd; at scale the filter on the extracted value is
    * evaluated scan-side after parquet row-group pruning.
    *
    * The numeric coercion is floor-of-double on BOTH sides: engines
    * disagree on string→int casts of non-integers (Spark truncates
    * '12.5'→12 leniently, DuckDB CAST rounds to 13 and ERRORS on
    * garbage), so pinning floor(try_cast double) makes the contract
    * identical for integers (the fixture), fractions AND garbage
    * (both → NULL, filtered). try_cast (not cast) on the Spark side:
    * this session runs ANSI mode, where cast("double") of a
    * non-numeric extracted string THROWS instead of degrading to
    * NULL — try_cast is what actually matches the DuckDB TRY_CAST
    * oracle for garbage values. */
  private val qJsonExtract = Q(
    "q_json_extract",
    (s, d) => t(s, d, "events")
      .select(col("event_id"), col("event_type"),
        floor(get_json_object(col("props"), "$.k").try_cast("double"))
          .cast("long").as("k_val"))
      .filter(col("k_val") >= 50)
      .orderBy("event_id"),
    Some("""SELECT event_id, event_type,
      CAST(FLOOR(TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE))
        AS BIGINT) AS k_val
    FROM events
    WHERE CAST(FLOOR(TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE))
      AS BIGINT) >= 50
    ORDER BY event_id"""))

  /** O16 (main.py:273-291): schema evolution — union of two projections
    * with disjoint columns, missing columns NULL-extended
    * (unionByName(allowMissingColumns=true), the engine's evolving-
    * append primitive). */
  private val qSchemaEvolution = Q(
    "q_schema_evolution",
    (s, d) => {
      val o = t(s, d, "orders")
      val a = o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
      val b = o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_orderpriority"))
      a.unionByName(b, allowMissingColumns = true).orderBy("o_orderkey")
    },
    Some("""SELECT * FROM (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL BY NAME
      SELECT o_orderkey, o_orderpriority FROM orders WHERE o_orderkey % 2 = 1)
    ORDER BY o_orderkey"""))

  // ---------------------------------------------------------------------
  // Core relational (delegated-to-BigQuery in the reference; SURVEY §2.2)
  // ---------------------------------------------------------------------

  /** σ/π, TPC-H Q6 shape. Both predicates and the 2-column projection
    * push to the parquet scan (PushedFilters + ReadSchema) — at 100 TB
    * this reads 2 columns of the row groups that survive min/max
    * pruning, nothing else. */
  private val qProjFilter = Q(
    "q_proj_filter",
    (s, d) => t(s, d, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1997-01-01").cast("timestamp")
        && col("l_discount") >= 0.05 && col("l_discount") <= 0.07
        && col("l_quantity") < 24)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
        count(lit(1)).as("n")),
    Some("""SELECT
      round(sum(l_extendedprice * l_discount), 2) AS revenue,
      count(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24"""))

  /** Hash aggregation, TPC-H Q1 shape. Partial (map-side) agg + final
    * agg over 6 groups — shuffle is 6 rows × partitions regardless of
    * input size. */
  private val qAggGroup = Q(
    "q_agg_group",
    (s, d) => t(s, d, "lineitem")
      .filter(col("l_shipdate") <= lit("2000-12-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        round(avg("l_extendedprice"), 4).as("avg_price"),
        round(avg("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus"),
    Some("""SELECT l_returnflag, l_linestatus,
      round(sum(l_quantity), 2) AS sum_qty,
      round(sum(l_extendedprice), 2) AS sum_base_price,
      round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
      round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
      round(avg(l_quantity), 4) AS avg_qty,
      round(avg(l_extendedprice), 4) AS avg_price,
      round(avg(l_discount), 4) AS avg_disc,
      count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus"""))

  /** Exact distinct aggregation. Spark expands count(DISTINCT) into a
    * two-phase agg (distinct-expand then count) — scales via shuffle on
    * (priority, custkey). */
  private val qDistinct = Q(
    "q_distinct",
    (s, d) => t(s, d, "orders")
      .groupBy("o_orderpriority")
      .agg(countDistinct(col("o_custkey")).as("n_cust"))
      .orderBy("o_orderpriority"),
    Some("""SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_cust
    FROM orders GROUP BY 1 ORDER BY o_orderpriority"""))

  /** Approximate distinct (HyperLogLog++). Sketch mergeable across
    * partitions → single narrow shuffle of sketches; the 100 TB path
    * where exact distinct would blow up. Default rsd (0.05): the
    * sketch update cost grows steeply with precision, and the
    * approximate operator's contract is "cheap with bounded error" —
    * callers needing tighter error pass rsd explicitly. No oracle
    * (sketch-dependent). */
  private val qApproxDistinct = Q(
    "q_approx_distinct",
    (s, d) => t(s, d, "orders")
      .groupBy("o_orderpriority")
      .agg(approx_count_distinct(col("o_custkey")).as("approx_cust"))
      .orderBy("o_orderpriority"),
    None)

  /** ROLLUP grouping sets over customer ⋈ nation (nation broadcast). */
  private val qRollup = Q(
    "q_rollup",
    (s, d) => t(s, d, "customer")
      .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
      .rollup(col("n_name"), col("c_mktsegment"))
      .agg(count(lit(1)).as("cnt"), round(sum("c_acctbal"), 2).as("acct"))
      .orderBy(col("n_name").asc_nulls_first, col("c_mktsegment").asc_nulls_first),
    Some("""SELECT n_name, c_mktsegment, count(*) AS cnt,
      round(sum(c_acctbal), 2) AS acct
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY ROLLUP(n_name, c_mktsegment)
    ORDER BY n_name ASC NULLS FIRST, c_mktsegment ASC NULLS FIRST"""))

  /** CUBE grouping sets (all 4 combinations) over supplier ⋈ nation —
    * Spark expands the cube via a single Expand node feeding one hash
    * aggregate; no per-grouping-set rescan. */
  private val qCube = Q(
    "q_cube",
    (s, d) => t(s, d, "supplier")
      .join(broadcast(t(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
      .cube(col("n_name"), (col("s_suppkey") % 3).as("bucket"))
      .agg(count(lit(1)).as("cnt"), round(sum("s_acctbal"), 2).as("bal"))
      .orderBy(col("n_name").asc_nulls_first, col("bucket").asc_nulls_first),
    Some("""SELECT n_name, s_suppkey % 3 AS bucket, count(*) AS cnt,
      round(sum(s_acctbal), 2) AS bal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY CUBE(n_name, s_suppkey % 3)
    ORDER BY n_name ASC NULLS FIRST, bucket ASC NULLS FIRST"""))

  /** Arbitrary GROUPING SETS (neither rollup nor cube): per-nation,
    * per-segment, and grand-total rows in ONE pass — a single Expand
    * node feeds one hash aggregate, identical machinery to cube but
    * with a user-chosen set list (the shape analysts actually ask
    * for: two independent 1-D breakdowns without the 2-D cross). */
  private val qGroupingSets = Q(
    "q_grouping_sets",
    (s, d) => t(s, d, "customer")
      .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupingSets(
        Seq(Seq(col("n_name")), Seq(col("c_mktsegment")), Seq.empty[Column]),
        col("n_name"), col("c_mktsegment"))
      .agg(count(lit(1)).as("cnt"), round(sum("c_acctbal"), 2).as("acct"))
      .orderBy(col("n_name").asc_nulls_first, col("c_mktsegment").asc_nulls_first),
    Some("""SELECT n_name, c_mktsegment, count(*) AS cnt,
      round(sum(c_acctbal), 2) AS acct
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())
    ORDER BY n_name ASC NULLS FIRST, c_mktsegment ASC NULLS FIRST"""))

  /** PIVOT: order-priority counts spread into one column per priority
    * class, keyed by market segment. Explicit value list — Spark then
    * plans a single hash aggregate with one conditional count per
    * pivot value (the two-phase pivot-without-values form needs an
    * extra distinct pass to discover them; with a closed class list,
    * always declare it). Missing combinations surface as 0, not NULL,
    * on both engines. */
  private val qPivot = Q(
    "q_pivot",
    (s, d) => t(s, d, "orders")
      .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .pivot(substring(col("o_orderpriority"), 1, 1), Seq("1", "2", "3", "4", "5"))
      .agg(count(lit(1)))
      .select(col("c_mktsegment"),
        coalesce(col("1"), lit(0L)).as("p1"),
        coalesce(col("2"), lit(0L)).as("p2"),
        coalesce(col("3"), lit(0L)).as("p3"),
        coalesce(col("4"), lit(0L)).as("p4"),
        coalesce(col("5"), lit(0L)).as("p5"))
      .orderBy("c_mktsegment"),
    Some("""SELECT c_mktsegment,
      count(CASE WHEN substr(o_orderpriority, 1, 1) = '1' THEN 1 END) AS p1,
      count(CASE WHEN substr(o_orderpriority, 1, 1) = '2' THEN 1 END) AS p2,
      count(CASE WHEN substr(o_orderpriority, 1, 1) = '3' THEN 1 END) AS p3,
      count(CASE WHEN substr(o_orderpriority, 1, 1) = '4' THEN 1 END) AS p4,
      count(CASE WHEN substr(o_orderpriority, 1, 1) = '5' THEN 1 END) AS p5
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY 1 ORDER BY c_mktsegment"""))

  /** UNPIVOT (melt) — q_pivot's inverse, completing the reshaping
    * pair: the part dim's (retailprice, size) measure columns fold
    * into long-form (metric, value) rows via Dataset.unpivot, which
    * plans as a row-local Expand (each input row fans to its measure
    * rows in place — NO shuffle, no join; the only exchange is the
    * output sort). The wide→long melt is the standard prep step
    * feeding per-metric aggregation/normalization pipelines. DuckDB
    * UNPIVOT oracle. */
  private val qUnpivot = Q(
    "q_unpivot",
    (s, d) => t(s, d, "part")
      .filter(col("p_partkey") < 200)
      .select(col("p_partkey"),
        col("p_retailprice").cast("double").as("retailprice"),
        col("p_size").cast("double").as("size"))
      .unpivot(Array(col("p_partkey")),
        Array(col("retailprice"), col("size")), "metric", "value")
      .orderBy("p_partkey", "metric"),
    Some("""WITH w AS (
      SELECT p_partkey, CAST(p_retailprice AS DOUBLE) AS retailprice,
        CAST(p_size AS DOUBLE) AS size
      FROM part WHERE p_partkey < 200)
    SELECT p_partkey, metric, value
    FROM (UNPIVOT w ON retailprice, size INTO NAME metric VALUE value)
    ORDER BY p_partkey, metric"""))

  /** Shuffled equi inner join orders ⋈ customer (fact-to-dim where the
    * dim is too big to broadcast at full scale → sort-merge/shuffled
    * hash on o_custkey; AQE picks at runtime). */
  private val qJoinHash = Q(
    "q_join_hash",
    (s, d) => t(s, d, "orders")
      .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("rev"))
      .orderBy("c_mktsegment"),
    Some("""SELECT c_mktsegment, count(*) AS n,
      round(sum(o_totalprice), 2) AS rev
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY 1 ORDER BY c_mktsegment"""))

  /** Broadcast join: fact lineitem against two bounded dims — supplier
    * and nation stay O(suppliers) and O(25) at any scale factor, so
    * both are broadcast; zero shuffle on the fact side. */
  private val qJoinBroadcast = Q(
    "q_join_broadcast",
    (s, d) => t(s, d, "lineitem")
      .join(broadcast(t(s, d, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n"), round(sum("l_extendedprice"), 2).as("rev"))
      .orderBy("n_name"),
    Some("""SELECT n_name, count(*) AS n,
      round(sum(l_extendedprice), 2) AS rev
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    GROUP BY 1 ORDER BY n_name"""))

  /** Left outer join with null-extension counted: count(o_orderkey)
    * skips NULLs so order-less customers report 0. */
  private val qJoinOuter = Q(
    "q_join_outer",
    (s, d) => t(s, d, "customer")
      .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("n_orders"),
        round(coalesce(sum("o_totalprice"), lit(0.0)), 2).as("spent"))
      .orderBy("c_custkey"),
    Some("""SELECT c_custkey, count(o_orderkey) AS n_orders,
      round(coalesce(sum(o_totalprice), 0), 2) AS spent
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY 1 ORDER BY c_custkey"""))

  /** Left semi join (EXISTS) — the distributed form of the reference's
    * permission probes O20-O22 (main.py:543-545, 798-802). */
  private val qJoinSemi = Q(
    "q_join_semi",
    (s, d) => t(s, d, "customer")
      .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey"),
    Some("""SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    ORDER BY c_custkey"""))

  /** Left anti join (NOT EXISTS) — customers DORMANT since mid-1998
    * (no order on/after the cutoff). The date-filtered probe side
    * keeps the result non-vacuous at every fixture scale (every
    * customer has SOME order, so an unfiltered NOT EXISTS is empty —
    * a green-but-proves-nothing correctness row); the filter pushes
    * into the orders scan before the anti-join builds. */
  private val qJoinAnti = Q(
    "q_join_anti",
    (s, d) => t(s, d, "customer")
      .join(t(s, d, "orders")
          .filter(col("o_orderdate") >= lit("1998-06-01")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey"),
    Some("""SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      AND o_orderdate >= TIMESTAMP '1998-06-01 00:00:00')
    ORDER BY c_custkey"""))

  /** Salted skew join (graft.operators.SkewJoin): the explicit
    * mitigation for hot keys AQE can't split — the fact side salts on
    * a content hash, the dim side replicates across all salt values,
    * so one hot key spreads over `salts` shuffle partitions instead of
    * sinking one task. The salt affects ROUTING only: the aggregated
    * result is oracle-checked against the plain join, which is the
    * whole point — same answer, bounded per-task volume. */
  private val qSkewJoin = Q(
    "q_skew_join",
    (s, d) => {
      val fact = t(s, d, "orders")
        .select(col("o_custkey").as("custkey"), col("o_totalprice"))
      val dim = t(s, d, "customer")
        .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
      graft.operators.SkewJoin.saltedEquiJoin(fact, dim, "custkey", salts = 8)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("total"))
        .orderBy("c_mktsegment")
    },
    Some("""SELECT c_mktsegment,
      count(*) AS n_orders,
      round(sum(o_totalprice), 2) AS total
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment"""))

  /** Correlated SCALAR subquery — repeat purchases: orders placed
    * strictly after their customer's first order. Goes through
    * spark.sql on purpose: this exercises the parser +
    * RewriteCorrelatedScalarSubquery decorrelation path (Catalyst
    * rewrites the per-row subquery into an aggregate + join — run
    * .explain and there is no nested-loop anywhere), which the
    * DataFrame-built queries never touch. Timestamp comparison, so
    * cross-engine equality is exact (no float boundary). At scale the
    * decorrelated plan is one shuffle on o_custkey. */
  private val qScalarSubquery = Q(
    "q_scalar_subquery",
    (s, d) => {
      // Per-call unique view name: a session-global name would race
      // when two datasets are evaluated interleaved in one session
      // (the SQL could silently read the other dataset). sql() resolves
      // the view during eager analysis, so dropping it immediately
      // after is safe — the returned plan no longer consults the
      // catalog.
      val view = "orders_sq_" + java.util.UUID.randomUUID().toString
        .replace("-", "")
      t(s, d, "orders").createOrReplaceTempView(view)
      try s.sql(s"""SELECT o_orderkey, o_custkey, o_orderdate
        FROM $view o
        WHERE o_orderdate > (SELECT min(o2.o_orderdate)
                             FROM $view o2
                             WHERE o2.o_custkey = o.o_custkey)
        ORDER BY o_orderkey""")
      finally s.catalog.dropTempView(view)
    },
    Some("""SELECT o_orderkey, o_custkey, o_orderdate
    FROM orders o
    WHERE o_orderdate > (SELECT min(o2.o_orderdate)
                         FROM orders o2
                         WHERE o2.o_custkey = o.o_custkey)
    ORDER BY o_orderkey"""))

  /** Conditional (FILTER-clause) aggregation: per-priority status
    * breakdown in ONE aggregate pass — no self-join, no second scan;
    * each conditional count/sum is a when()-guarded accumulator
    * (count_if / sum(CASE) — what FILTER compiles to), all combining
    * map-side. The open-order share is an integer ratio → floor-form
    * rounding on both engines. */
  private val qConditionalAgg = Q(
    "q_conditional_agg",
    (s, d) => t(s, d, "orders")
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_orders"),
        count_if(col("o_orderstatus") === "O").as("n_open"),
        count_if(col("o_orderstatus") === "F").as("n_finished"),
        round(sum(when(col("o_totalprice") > 150000.0, col("o_totalprice"))), 2)
          .as("big_order_total"))
      .withColumn("open_share",
        TextAnalysis.round4Stable(col("n_open").cast("double") / col("n_orders")))
      .orderBy("o_orderpriority"),
    Some("""SELECT o_orderpriority,
      count(*) AS n_orders,
      count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
      count(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
      round(sum(o_totalprice) FILTER (WHERE o_totalprice > 150000.0), 2)
        AS big_order_total,
      floor(count(*) FILTER (WHERE o_orderstatus = 'O') * 1.0 / count(*)
        * 10000.0 + 0.5) / 10000.0 AS open_share
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority"""))

  /** Ranking window: top-3 orders per customer. Single shuffle on
    * o_custkey; rank filter evaluated streaming per partition. */
  private val qWindowRank = Q(
    "q_window_rank",
    (s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, d, "orders")
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")
    },
    Some("""SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
        row_number() OVER (PARTITION BY o_custkey
          ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders)
    WHERE rn <= 3 ORDER BY o_custkey, rn"""))

  /** Frame window: running per-user sum in event-time order. Summed in
    * DECIMAL, not double: a double running sum is fold-order-sensitive
    * (DuckDB's window SUM is a segment tree, Spark's a sequential
    * fold — they differ in ulps, and post-hoc rounding flips at
    * .xxxx5 boundaries). Quantizing each value to decimal(18,6) first
    * is unambiguous (no double sits exactly on a 1e-6 half-boundary),
    * decimal summation is exact hence order-independent, and the final
    * cast back to double of identical exact sums is bit-identical in
    * both engines. */
  private val qWindowRunning = Q(
    "q_window_running",
    (s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "events")
        .select(col("user_id"), col("event_id"),
          sum(col("value").cast("decimal(18,6)")).over(w)
            .cast("double").as("running"))
        .orderBy("user_id", "event_id")
    },
    Some("""WITH e AS (
      SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, value FROM events)
    SELECT user_id, event_id,
      CAST(sum(CAST(value AS DECIMAL(18,6)))
        OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        AS running
    FROM e ORDER BY user_id, event_id"""))

  /** RANGE-frame window (the frame family q_window_running's ROWS
    * frame doesn't cover): per-user trailing 10-minute sum of value —
    * the frame is defined by the ORDER-BY key's VALUE distance, so
    * peers (equal timestamps) enter each other's frames regardless of
    * row order. The frame key is integer MICROSECONDS on both engines
    * (unix_micros here, epoch_us in the oracle) — exact integer
    * boundary comparisons, no float/seconds truncation to diverge on;
    * the summed measure rides in DECIMAL (order-independent), same as
    * q_window_running. One shuffle on user_id. */
  private val qWindowRange = Q(
    "q_window_range",
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("us"))
        .rangeBetween(-600000000L, 0L)
      t(s, d, "events")
        .select(col("user_id"), col("event_id"),
          expr("unix_micros(ts)").as("us"), col("value"))
        .select(col("user_id"), col("event_id"),
          sum(col("value").cast("decimal(18,6)")).over(w)
            .cast("double").as("trailing_10m"))
        .orderBy("user_id", "event_id")
    },
    Some("""WITH e AS (
      SELECT event_id, user_id, value,
        epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events)
    SELECT user_id, event_id,
      CAST(sum(CAST(value AS DECIMAL(18,6)))
        OVER (PARTITION BY user_id ORDER BY us
          RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW) AS DOUBLE)
        AS trailing_10m
    FROM e ORDER BY user_id, event_id"""))

  /** Global top-k: TakeOrderedAndProject, not a full sort. */
  private val qTopkGlobal = Q(
    "q_topk_global",
    (s, d) => t(s, d, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10),
    Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10"""))

  /** Set operations (distinct semantics in both engines). */
  private val qSetOps = Q(
    "q_set_ops",
    (s, d) => {
      val a = t(s, d, "customer").filter(col("c_mktsegment") === "AUTOMOBILE")
        .select(col("c_custkey").as("custkey"))
      val b = t(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("custkey")).distinct()
      a.intersect(b).withColumn("op", lit("both"))
        .unionByName(a.except(b).withColumn("op", lit("only_a")))
        .unionByName(b.except(a).withColumn("op", lit("only_b")))
        .select("op", "custkey")
        .orderBy("op", "custkey")
    },
    Some("""WITH a AS (
      SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'),
    b AS (
      SELECT DISTINCT o_custkey AS custkey FROM orders
      WHERE o_orderpriority = '1-URGENT')
    SELECT 'both' AS op, custkey
      FROM (SELECT custkey FROM a INTERSECT SELECT custkey FROM b)
    UNION ALL
    SELECT 'only_a' AS op, custkey
      FROM (SELECT custkey FROM a EXCEPT SELECT custkey FROM b)
    UNION ALL
    SELECT 'only_b' AS op, custkey
      FROM (SELECT custkey FROM b EXCEPT SELECT custkey FROM a)
    ORDER BY op, custkey"""))

  /** Tumbling time-bucket aggregation (batch analog of a streaming
    * window-agg; the streaming twin lives in graft.streaming). */
  private val qTumblingWindow = Q(
    "q_tumbling_window",
    (s, d) => t(s, d, "events")
      .groupBy(date_trunc("hour", col("ts")).as("bucket"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("v"))
      .orderBy("bucket"),
    Some("""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,
      count(*) AS n, round(sum(value), 4) AS v
    FROM events GROUP BY 1 ORDER BY bucket"""))

  /** SLIDING (hopping) windows — 1 h length, 30 min hop: every event
    * lands in exactly 2 overlapping windows. Spark's native window()
    * generator replicates each row once per containing window BEFORE
    * the aggregate, so partial aggregation still combines map-side —
    * the replication factor is length/hop (bounded, 2 here), not the
    * window count. The oracle reproduces Spark's epoch-aligned window
    * assignment with integer-µs arithmetic (floor to hop, minus one
    * hop offset), so both engines bucket identically. */
  private val qSlidingWindow = Q(
    "q_sliding_window",
    (s, d) => t(s, d, "events")
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("v"))
      .select(col("w.start").as("wstart"), col("n"), col("v"))
      .orderBy("wstart"),
    Some("""WITH e AS (
      SELECT CAST(ts AS TIMESTAMP) AS ts, value FROM events),
    x AS (
      SELECT make_timestamp(
          (epoch_us(ts) // 1800000000) * 1800000000 - o * 1800000000)
          AS wstart,
        value
      FROM e, unnest([0, 1]) AS u(o))
    SELECT wstart, count(*) AS n, round(sum(value), 4) AS v
    FROM x GROUP BY 1 ORDER BY wstart"""))

  /** Gap sessionization (stateful-streaming analog): a session break is
    * a >30 min silence; integer microsecond arithmetic keeps both
    * engines bit-identical. */
  private val qSessionize = Q(
    "q_sessionize",
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      val gapUs = unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))
      t(s, d, "events")
        .withColumn("new_s", when(gapUs > 1800000000L, 1).otherwise(0))
        .groupBy("user_id")
        .agg((lit(1) + sum("new_s")).cast("long").as("n_sessions"))
        .orderBy("user_id")
    },
    Some("""WITH e AS (
      SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id FROM events),
    g AS (
      SELECT user_id,
        CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
             THEN 1 ELSE 0 END AS new_s
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC))
    SELECT user_id, CAST(1 + sum(new_s) AS BIGINT) AS n_sessions
    FROM g GROUP BY 1 ORDER BY user_id"""))

  // ---------------------------------------------------------------------
  // North-star extension queries (LLM-data-pipeline operators)
  // ---------------------------------------------------------------------

  /** Exact dedup by content hash: one hash-shuffle on sha256(text);
    * at 100 TB the map-side partial agg collapses duplicates before the
    * shuffle. */
  private val qDedupExact = Q(
    "q_dedup_exact",
    (s, d) => t(s, d, "documents")
      .groupBy(sha2(col("text"), 256).as("h"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("dup_cnt"))
      .orderBy("keep_id"),
    Some("""SELECT sha256(text) AS h, min(doc_id) AS keep_id,
      count(*) AS dup_cnt
    FROM documents GROUP BY 1 ORDER BY keep_id"""))

  /** Text statistics per language (token = single-space split, matching
    * the generated corpus shape). */
  private val qTextStats = Q(
    "q_text_stats",
    (s, d) => t(s, d, "documents")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        TextAnalysis.round4Stable(avg("n_chars")).as("avg_chars"),
        TextAnalysis.round4Stable(avg(size(split(col("text"), " "))))
          .as("avg_tokens"))
      .orderBy("lang"),
    Some("""SELECT lang, count(*) AS n_docs,
      floor(avg(n_chars) * 10000.0 + 0.5) / 10000.0 AS avg_chars,
      floor(avg(len(string_split(text, ' '))) * 10000.0 + 0.5) / 10000.0
        AS avg_tokens
    FROM documents GROUP BY 1 ORDER BY lang"""))

  /** Multimodal equi-join documents ⋈ embeddings (1:1 on doc_id) —
    * co-partitionable on the key at scale (bucketing note in
    * graft.operators.Multimodal). */
  private val qMultimodalJoin = Q(
    "q_multimodal_join",
    (s, d) => t(s, d, "documents")
      .join(t(s, d, "embeddings"), col("doc_id") === col("vec_id"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_docs"),
        TextAnalysis.round4Stable(avg("n_chars")).as("avg_chars"))
      .orderBy("label"),
    Some("""SELECT label, count(*) AS n_docs,
      floor(avg(n_chars) * 10000.0 + 0.5) / 10000.0 AS avg_chars
    FROM documents JOIN embeddings ON doc_id = vec_id
    GROUP BY 1 ORDER BY label"""))

  /** Brute-force cosine top-k against a constant query vector (here:
    * all-ones/√64). Higher-order `aggregate` folds left-to-right in
    * doubles — bit-identical to the oracle's list_sum over
    * double-cast elements; ordering is on the ROUNDED score so ulp
    * noise cannot reorder. Top-20 via TakeOrderedAndProject. */
  private val qSimilarityTopk = Q(
    "q_similarity_topk",
    (s, d) => {
      val dot = aggregate(col("embedding"), lit(0.0),
        (acc, x) => acc + x.cast("double"))
      val sq = aggregate(col("embedding"), lit(0.0),
        (acc, x) => acc + x.cast("double") * x.cast("double"))
      t(s, d, "embeddings")
        .select(col("vec_id"),
          round(dot / (sqrt(sq) * sqrt(lit(64.0))), 6).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id").asc)
        .limit(20)
    },
    Some("""SELECT vec_id,
      round(
        list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)))
        / (sqrt(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * sqrt(64.0)),
        6) AS cos_sim
    FROM embeddings ORDER BY cos_sim DESC, vec_id ASC LIMIT 20"""))

  // ---------------------------------------------------------------------
  // Text-analysis operators (graft.functions.TextAnalysis)
  // ---------------------------------------------------------------------

  /** Language-ID confusion matrix: marker-token argmax vs the labeled
    * lang. Pure map-side transform + 25-group agg. */
  private val qLangId = Q(
    "q_lang_id",
    (s, d) => TextAnalysis.withLangPred(t(s, d, "documents"), "text", Seq("doc_id"))
      .groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("lang", "lang_pred"),
    Some("""WITH tk AS (
      SELECT lang, string_split(lower(text), ' ') AS t FROM documents),
    s AS (SELECT lang,
      len(list_filter(t, x -> x IN ('the','and','of','to','a','in','is'))) AS s_en,
      len(list_filter(t, x -> x IN ('der','die','das','und','ist','ein'))) AS s_de,
      len(list_filter(t, x -> x IN ('el','los','las','y','es','un'))) AS s_es,
      len(list_filter(t, x -> x IN ('le','les','et','est','une','du'))) AS s_fr,
      len(list_filter(t, x -> x IN ('de5','shi4','le5','zai4','he2'))) AS s_zh
      FROM tk),
    p AS (SELECT lang, CASE
      WHEN coalesce(greatest(s_en,s_de,s_es,s_fr,s_zh), 0) = 0 THEN 'und'
      WHEN s_en >= greatest(s_de,s_es,s_fr,s_zh) THEN 'en'
      WHEN s_de >= greatest(s_es,s_fr,s_zh) THEN 'de'
      WHEN s_es >= greatest(s_fr,s_zh) THEN 'es'
      WHEN s_fr >= s_zh THEN 'fr' ELSE 'zh' END AS lang_pred FROM s)
    SELECT lang, lang_pred, count(*) AS cnt FROM p
    GROUP BY 1, 2 ORDER BY lang, lang_pred"""))

  /** Per-doc quality score (length saturation + stopword ratio −
    * punctuation penalty, linear + 4 dp so both engines agree). */
  private val qQualityScore = Q(
    "q_quality_score",
    (s, d) => t(s, d, "documents")
      .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality"))
      .orderBy("doc_id"),
    Some("""WITH q AS (
      SELECT doc_id,
        len(string_split(lower(text), ' ')) AS n_tok,
        len(list_filter(string_split(lower(text), ' '),
          x -> x IN ('the','and','of','to','a','in','is'))) AS n_stop,
        len(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS n_punct,
        len(text) AS n_char
      FROM documents)
    SELECT doc_id,
      floor((least(n_tok, 100) / 100.0 * 0.4
        + (n_stop * 1.0 / n_tok) * 0.3
        + (1.0 - n_punct * 1.0 / n_char) * 0.3) * 10000.0 + 0.5) / 10000.0
        AS quality
    FROM q ORDER BY doc_id"""))

  /** 2-D Pareto frontier (skyline) over (length, quality) — the docs
    * no other doc strictly beats on BOTH axes, the corpus-curation
    * "keep the efficient frontier" cut (longer AND higher-quality
    * dominates). The naive skyline is an all-pairs dominance
    * anti-join (corpus², the first thing to die at scale); this is
    * the HISTOGRAM form: per-length max quality (one aggregate,
    * distinct-length-sized), one window over that histogram for the
    * strictly-longer prefix max (single-partition over ~#lengths,
    * the globalRank discipline — never over the corpus), then a
    * length-keyed join back; a doc survives iff no longer doc's max
    * quality strictly exceeds its own. Quality is compared as the
    * EXACT 0-10000 integer both engines derive identically (the
    * q_quality_score formula pre-division), so dominance decisions
    * can never flip on a float ulp. */
  private val qSkyline = Q(
    "q_skyline",
    (s, d) => {
      val qi = floor(TextAnalysis.qualityScore(col("text")) * 10000.0
        + 0.5).cast("long")
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("n_chars"), qi.as("quality_q"))
      val hist = docs.groupBy("n_chars").agg(max("quality_q").as("mq"))
      val off = hist.withColumn("pmax",
        max("mq").over(Window.orderBy(col("n_chars").desc)
          .rowsBetween(Window.unboundedPreceding, -1)))
        .select("n_chars", "pmax")
      docs.join(off, "n_chars")
        .filter(col("pmax").isNull || col("quality_q") >= col("pmax"))
        .select("doc_id", "n_chars", "quality_q")
        .orderBy("doc_id")
    },
    Some("""WITH q AS (
      SELECT doc_id, n_chars,
        CAST(floor((least(len(string_split(lower(text), ' ')), 100) / 100.0 * 0.4
          + (len(list_filter(string_split(lower(text), ' '),
              x -> x IN ('the','and','of','to','a','in','is')))
             * 1.0 / len(string_split(lower(text), ' '))) * 0.3
          + (1.0 - len(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))
             * 1.0 / len(text)) * 0.3) * 10000.0 + 0.5) AS BIGINT)
          AS quality_q
      FROM documents),
    hist AS (SELECT n_chars, max(quality_q) AS mq FROM q GROUP BY 1),
    off AS (SELECT n_chars,
      max(mq) OVER (ORDER BY n_chars DESC
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
      FROM hist)
    SELECT doc_id, q.n_chars, quality_q
    FROM q JOIN off ON q.n_chars = off.n_chars
    WHERE pmax IS NULL OR quality_q >= pmax
    ORDER BY doc_id"""))

  /** Token counting: whitespace tokens, regex (BPE-ish) tokens, and
    * type-token ratio. */
  private val qTokenCount = Q(
    "q_token_count",
    (s, d) => t(s, d, "documents")
      .select(col("doc_id"),
        TextAnalysis.tokenCountWs(col("text")).cast("long").as("ws_tokens"),
        TextAnalysis.tokenCountRegex(col("text")).cast("long").as("re_tokens"),
        TextAnalysis.typeTokenRatio(col("text")).as("ttr"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id,
      len(string_split(lower(text), ' ')) AS ws_tokens,
      len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS re_tokens,
      floor(len(list_distinct(string_split(lower(text), ' '))) * 1.0
        / len(string_split(lower(text), ' ')) * 10000.0 + 0.5) / 10000.0 AS ttr
    FROM documents ORDER BY doc_id"""))

  /** Global vocabulary heavy hitters: top-25 tokens by corpus
    * frequency — the vocab/BPE-seed precursor every tokenizer build
    * runs. One explode + one hash aggregate (map-side combine
    * collapses each partition's token stream to its distinct tokens
    * before the shuffle) + TakeOrderedAndProject for the top-k: at
    * 100 TB the shuffle carries one row per (partition, distinct
    * token), not per token occurrence. Tie-broken on the token text
    * so the cut is deterministic. */
  private val qVocabTopk = Q(
    "q_vocab_topk",
    (s, d) => t(s, d, "documents")
      .select(explode(split(lower(col("text")), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok").asc)
      .limit(25),
    Some("""WITH tk AS (
      SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents)
    SELECT tok, count(*) AS cnt
    FROM tk GROUP BY 1 ORDER BY cnt DESC, tok ASC LIMIT 25"""))

  /** Per-doc token Shannon entropy (a repetition/quality signal the
    * Gopher-family filters complement): H = log2(n) − Σ c·log2(c) / n
    * over the doc's token counts — the algebraic form keeps every
    * aggregate an integer until the final projection, so the only
    * float work is two log2 calls per distinct token and the rounded
    * output. Two-level aggregation, both hash aggs with map-side
    * combine; no window, no join. */
  private val qTokenEntropy = Q(
    "q_token_entropy",
    (s, d) => t(s, d, "documents")
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum("c").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("c").cast("double") * log2(col("c"))).as("clogc"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        TextAnalysis.roundStable(
          log2(col("n_tokens")) - col("clogc") / col("n_tokens"), 6)
          .as("entropy"))
      .orderBy("doc_id"),
    Some("""WITH tk AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents),
    c AS (SELECT doc_id, tok, count(*) AS c FROM tk GROUP BY 1, 2),
    a AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        count(*) AS n_distinct,
        sum(c * log2(c)) AS clogc
      FROM c GROUP BY 1)
    SELECT doc_id, n_tokens, n_distinct,
      floor((log2(n_tokens) - clogc / n_tokens) * 1000000.0 + 0.5)
        / 1000000.0 AS entropy
    FROM a ORDER BY doc_id"""))

  /** Bigram PMI — collocation strength over the corpus (the
    * phrase-mining signal tokenizer/vocab pipelines use):
    * PMI(a,b) = ln( (c_ab/M) / ((c_a/N)(c_b/N)) ) for adjacent token
    * pairs, keeping bigrams seen ≥ 5 times, top-20 by count. Bigram
    * extraction is a row-local array transform on BOTH engines (no
    * window, no position join — the same map-only discipline as the
    * shingle family); the corpus totals ride in via broadcast
    * crossJoin (one job, no driver round-trip). All counts integers;
    * the single float expression is the final ln + floor-round. */
  private val qBigramPmi = Q(
    "q_bigram_pmi",
    (s, d) => {
      val docs = t(s, d, "documents")
      val txt = lower(col("text"))
      // Stacked gram stream (k=1 unigrams, k=2 bigrams — the gram
      // order doubles as the kind tag): two codegen'd scans union into
      // ONE counting shuffle, and every consumer — both count tables
      // and both corpus totals — hangs off that same exchange
      // (ReuseExchange runs it once). Gram strings come from the
      // native WordGrams expression (one substring per gram) — the
      // interpreted transform/concat_ws HOF form measured ~10× slower
      // on the corpus scan.
      val grams = Seq(1, 2).map { k =>
        docs.select(lit(k).as("k"),
          explode(graft.plans.GraftFunctions.wordGrams(txt, k)).as("g"))
      }.reduce(_ unionByName _)
      val counts = grams.groupBy("k", "g").agg(count(lit(1)).as("c"))
      // Corpus totals re-aggregate the COUNTED rows (same exchange,
      // reused at runtime) down to one row per kind — a broadcastable
      // scalar pair, not a vocab-wide window sort.
      val tots = counts.groupBy("k").agg(sum("c").as("tot"))
      val uni = counts.filter(col("k") === 1)
        .select(col("g").as("tok"), col("c"))
      val bi = counts.filter(col("k") === 2 && col("c") >= 5)
        .select(col("g").as("bigram"), col("c").as("c_ab"))
      val parts = split(col("bigram"), " ")
      bi.withColumn("a", element_at(parts, 1))
        .withColumn("b", element_at(parts, 2))
        .join(uni.select(col("tok").as("a"), col("c").as("c_a")), "a")
        .join(uni.select(col("tok").as("b"), col("c").as("c_b")), "b")
        .crossJoin(broadcast(tots.filter(col("k") === 1)
          .select(col("tot").as("n_total"))))
        .crossJoin(broadcast(tots.filter(col("k") === 2)
          .select(col("tot").as("m_total"))))
        .select(col("bigram"), col("c_ab"),
          TextAnalysis.round4Stable(
            log(col("c_ab").cast("double") * col("n_total") * col("n_total")
              / (col("m_total").cast("double") * col("c_a") * col("c_b"))))
            .as("pmi"))
        .orderBy(col("c_ab").desc, col("bigram").asc)
        .limit(20)
    },
    Some("""WITH t AS (
      SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
    uni AS (
      SELECT u.tok, count(*) AS c FROM (
        SELECT unnest(tk) AS tok FROM t) u GROUP BY 1),
    big AS (
      SELECT b.bigram, count(*) AS c_ab FROM (
        SELECT unnest(list_transform(range(1, len(tk)),
          i -> tk[i] || ' ' || tk[i+1])) AS bigram FROM t) b
      GROUP BY 1 HAVING count(*) >= 5),
    tot AS (SELECT CAST(sum(len(tk)) AS BIGINT) AS n_total,
      CAST(sum(len(tk) - 1) AS BIGINT) AS m_total FROM t)
    SELECT bigram, c_ab,
      floor(ln(c_ab * 1.0 * n_total * n_total
        / (m_total * 1.0 * ca.c * cb.c)) * 10000.0 + 0.5) / 10000.0 AS pmi
    FROM big
    JOIN uni ca ON ca.tok = string_split(bigram, ' ')[1]
    JOIN uni cb ON cb.tok = string_split(bigram, ' ')[2]
    CROSS JOIN tot
    ORDER BY c_ab DESC, bigram ASC LIMIT 20"""))

  /** Positional polynomial document fingerprint (rolling-hash analog). */
  private val qFingerprint = Q(
    "q_fingerprint",
    (s, d) => t(s, d, "documents")
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id,
      CAST(list_sum(list_transform(string_split(lower(text), ' '),
        (x, i) -> CAST(i AS BIGINT)
          * (CAST(ascii(substr(x, 1, 1)) AS BIGINT) * 31 + len(x))))
        % 1000003 AS BIGINT) AS fp
    FROM documents ORDER BY doc_id"""))

  /** PII scrubbing over a deterministically PII-laced corpus: every doc
    * gains a doc_id-derived email, IPv4 and phone, then
    * [[TextAnalysis.redactPii]] replaces them with placeholder tokens.
    * Lacing makes the oracle exercise every pattern on every row (raw
    * documents contain no PII); both engines build the identical laced
    * string, apply the identical regexes, and emit the full redacted
    * text plus per-pattern match counts. Map-only — zero shuffle. */
  private val qPiiRedact = Q(
    "q_pii_redact",
    (s, d) => {
      val laced = t(s, d, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.org from 10."),
          (col("doc_id") % 200).cast("string"), lit(".0."),
          (col("doc_id") % 250).cast("string"),
          lit(" call +1 (555) 123-"),
          (lit(1000) + col("doc_id") % 9000).cast("string")).as("laced"))
      laced.select(col("doc_id"),
          TextAnalysis.redactPii(col("laced")).as("redacted"),
          TextAnalysis.piiCount(col("laced"), TextAnalysis.EmailRe).as("n_email"),
          TextAnalysis.piiCount(col("laced"), TextAnalysis.Ipv4Re).as("n_ip"),
          TextAnalysis.piiCount(col("laced"), TextAnalysis.PhoneRe).as("n_phone"))
        .orderBy("doc_id")
    },
    Some("""WITH laced AS (
      SELECT doc_id,
        text || ' contact user' || CAST(doc_id AS VARCHAR)
          || '@mail.example.org from 10.' || CAST(doc_id % 200 AS VARCHAR)
          || '.0.' || CAST(doc_id % 250 AS VARCHAR)
          || ' call +1 (555) 123-' || CAST(1000 + doc_id % 9000 AS VARCHAR)
          AS laced
      FROM documents)
    SELECT doc_id,
      regexp_replace(regexp_replace(regexp_replace(laced,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g'),
        '\+[0-9]{1,2} \([0-9]{3}\) [0-9]{3}-[0-9]{4}', '<PHONE>', 'g')
        AS redacted,
      len(regexp_extract_all(laced,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
      len(regexp_extract_all(laced,
        '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS n_ip,
      len(regexp_extract_all(laced,
        '\+[0-9]{1,2} \([0-9]{3}\) [0-9]{3}-[0-9]{4}')) AS n_phone
    FROM laced ORDER BY doc_id"""))

  /** Repetition statistics — the Gopher-style quality-filter family a
    * pretraining pipeline runs before anything else: per doc, the mass
    * of the most frequent unigram/bigram and the distinct-token ratio
    * (high top-fraction / low uniq-fraction = boilerplate or spam).
    * Shape: ONE scan, MAP-ONLY gram generation — both gram orders
    * come from the native scan-side hasher (WordGramHashes at w=1 and
    * w=2; no tokenize window, no pre-agg shuffle), concatenated and
    * posexploded with the order recovered from the position (grams
    * before |a1| are unigrams). One map-side-combining hash agg
    * counts both orders together on 8-byte hash keys (the near-dup
    * pipeline's equality trade); the per-doc rollup then pivots the
    * two orders back to columns (grouping keys shrink monotonically:
    * (doc,ord,gram) → (doc,ord) → doc, so every stage after the first
    * is tiny). One-token docs have no bigrams → NULL top_bigram_frac.
    * All ratios are small-integer fractions → floor rounding both
    * sides. */
  private val qRepetitionStats = Q(
    "q_repetition_stats",
    (s, d) => {
      val docs = t(s, d, "documents")
      val withArrs = docs.select(col("doc_id"),
        graft.plans.GraftFunctions.wordGramHashes(lower(col("text")), 1).as("a1"),
        graft.plans.GraftFunctions.wordGramHashes(lower(col("text")), 2).as("a2"))
      val grams = withArrs
        .select(col("doc_id"), size(col("a1")).as("n1"),
          posexplode(concat(col("a1"), col("a2"))).as(Seq("p", "g")))
        .select(col("doc_id"),
          when(col("p") < col("n1"), lit(1)).otherwise(lit(2)).as("ord"),
          col("g"))
      val perOrd = grams.groupBy("doc_id", "ord", "g")
        .agg(count(lit(1)).as("c"))
        .groupBy("doc_id", "ord").agg(
          sum("c").as("n"), max("c").as("top"), count(lit(1)).as("nd"))
      perOrd.groupBy("doc_id").agg(
          max(when(col("ord") === 1, col("n"))).as("n_tokens"),
          max(when(col("ord") === 1, col("top"))).as("top_c"),
          max(when(col("ord") === 1, col("nd"))).as("n_distinct"),
          max(when(col("ord") === 2, col("n"))).as("n_bi"),
          max(when(col("ord") === 2, col("top"))).as("top_bi"))
        .select(col("doc_id"), col("n_tokens"),
          TextAnalysis.roundStable(
            col("top_c") / col("n_tokens"), 6).as("top_tok_frac"),
          TextAnalysis.roundStable(
            col("n_distinct") / col("n_tokens"), 6).as("uniq_frac"),
          TextAnalysis.roundStable(
            col("top_bi") / col("n_bi"), 6).as("top_bigram_frac"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents),
    uc AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2),
    u AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, max(c) AS top_c,
        count(*) AS n_distinct
      FROM uc GROUP BY 1),
    tl AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
    bg AS (
      SELECT doc_id, unnest(CASE WHEN len(t) >= 2
        THEN list_transform(range(1, len(t)),
          i -> array_to_string(t[i:i+1], ' '))
        ELSE []::VARCHAR[] END) AS s
      FROM tl),
    bc AS (SELECT doc_id, s, count(*) AS c FROM bg GROUP BY 1, 2),
    b AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bi, max(c) AS top_bi
      FROM bc GROUP BY 1)
    SELECT u.doc_id, u.n_tokens,
      floor(top_c * 1.0 / n_tokens * 1000000.0 + 0.5) / 1000000.0
        AS top_tok_frac,
      floor(n_distinct * 1.0 / n_tokens * 1000000.0 + 0.5) / 1000000.0
        AS uniq_frac,
      floor(top_bi * 1.0 / n_bi * 1000000.0 + 0.5) / 1000000.0
        AS top_bigram_frac
    FROM u LEFT JOIN b ON u.doc_id = b.doc_id
    ORDER BY u.doc_id"""))

  /** Domain histogram over URL-laced text — the provenance-analysis
    * operator of a web-scale corpus (domain mixing/filtering decisions
    * key off exactly this). Documents are deterministically laced with
    * 1-2 URLs; both engines run the identical extract-all regex, pull
    * the host with the identical group regex, and aggregate. Map-only
    * extraction (regexp_extract_all is codegen'd scan-side), one hash
    * agg on domain; count(DISTINCT doc_id) is the only expand — at
    * 100 TB swap it for approx_count_distinct if exactness isn't
    * needed. */
  private val qDomainStats = Q(
    "q_domain_stats",
    (s, d) => {
      val did = col("doc_id").cast("string")
      val laced = t(s, d, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" see https://site"), (col("doc_id") % 7).cast("string"),
          lit(".example."),
          when(col("doc_id") % 2 === 0, lit("com")).otherwise(lit("org")),
          lit("/p/"), did,
          when(col("doc_id") % 3 === 0,
            concat(lit(" and http://mirror.example.net/x"), did))
            .otherwise(lit(""))).as("laced"))
      laced.select(col("doc_id"),
          explode(regexp_extract_all(col("laced"),
            lit("https?://[A-Za-z0-9.-]+[A-Za-z0-9/._-]*"), lit(0))).as("url"))
        .select(col("doc_id"),
          regexp_extract(col("url"), "https?://([^/]+)", 1).as("domain"))
        .groupBy("domain")
        .agg(count(lit(1)).as("n_urls"),
          countDistinct(col("doc_id")).as("n_docs"))
        .orderBy("domain")
    },
    Some("""WITH laced AS (
      SELECT doc_id,
        text || ' see https://site' || CAST(doc_id % 7 AS VARCHAR)
          || '.example.'
          || (CASE WHEN doc_id % 2 = 0 THEN 'com' ELSE 'org' END)
          || '/p/' || CAST(doc_id AS VARCHAR)
          || (CASE WHEN doc_id % 3 = 0
              THEN ' and http://mirror.example.net/x' || CAST(doc_id AS VARCHAR)
              ELSE '' END) AS laced
      FROM documents),
    urls AS (
      SELECT doc_id, unnest(regexp_extract_all(laced,
        'https?://[A-Za-z0-9.-]+[A-Za-z0-9/._-]*')) AS url
      FROM laced)
    SELECT regexp_extract(url, 'https?://([^/]+)', 1) AS domain,
      CAST(count(*) AS BIGINT) AS n_urls,
      CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM urls GROUP BY 1 ORDER BY domain"""))

  /** TF-IDF top-3 terms per document — the keyword-extraction /
    * relevance-weighting primitive. ONE documents scan: the (doc,term)
    * count is the root aggregate; document frequency and the corpus
    * size N both derive from it (no second scan, no driver count() —
    * N rides a broadcast single-row aggregate). Smooth idf =
    * ln((N+1)/(df+1)) ≥ 0. Cross-engine note: ln is the one
    * non-rational op in the inventory — ranking uses the 6-dp ROUNDED
    * score (term asc tiebreak) so a sub-ulp libm difference can't
    * reorder the top-k across engines. */
  private val qTfidf = Q(
    "q_tfidf",
    (s, d) => {
      val toks = t(s, d, "documents").select(col("doc_id"),
        explode(split(lower(col("text")), " ")).as("tok"))
      val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val n = tf.agg(countDistinct("doc_id").as("n"))
      val score = TextAnalysis.roundStable(
        col("tf") * log((col("n") + 1.0) / (col("df") + 1.0)), 6)
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("tok").asc)
      tf.join(dfreq, "tok")
        .crossJoin(broadcast(n))
        .withColumn("score", score)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("tok").as("term"),
          col("tf"), col("df"), col("score"))
        .orderBy("doc_id", "term")
    },
    Some("""WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
    dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(DISTINCT doc_id) AS n FROM tf),
    scored AS (
      SELECT t.doc_id, t.tok, t.tf, f.df,
        floor(t.tf * ln((n.n + 1.0) / (f.df + 1.0)) * 1000000.0 + 0.5)
          / 1000000.0 AS score
      FROM tf t JOIN dfreq f USING (tok), n),
    top AS (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY score DESC, tok ASC) AS rn
      FROM scored)
    SELECT doc_id, tok AS term, CAST(tf AS BIGINT) AS tf,
      CAST(df AS BIGINT) AS df, score
    FROM top WHERE rn <= 3 ORDER BY doc_id, term"""))

  /** Fuzzy entity resolution against a bounded dictionary: noisy brand
    * strings (one deterministically-deleted character) matched back to
    * the canonical p_brand list via levenshtein ≤ 1, best match =
    * (min distance, lexicographic tiebreak). The dictionary is
    * metadata-sized, so the match is a BROADCAST nested-loop — per-row
    * cost O(|dict|), zero shuffle of the fact side; for large
    * dictionaries add length/prefix blocking so candidates meet on an
    * equi key first (same blocking discipline as the near-dup
    * family). */
  private val qFuzzyMatch = Q(
    "q_fuzzy_match",
    (s, d) => {
      val part = t(s, d, "part")
      val dict = part.select(col("p_brand").as("brand")).distinct()
      val k = (col("p_partkey") % length(col("p_brand"))).cast("int")
      val noisy = part.select(col("p_partkey"),
        concat(col("p_brand").substr(lit(1), k),
          col("p_brand").substr(k + lit(2), length(col("p_brand"))))
          .as("noisy"))
      val w = Window.partitionBy("p_partkey")
        .orderBy(col("dist").asc, col("brand").asc)
      noisy.crossJoin(broadcast(dict))
        .withColumn("dist", levenshtein(col("noisy"), col("brand")).cast("long"))
        .filter(col("dist") <= 1)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("p_partkey"), col("noisy"),
          col("brand").as("matched"), col("dist"))
        .orderBy("p_partkey")
    },
    Some("""WITH dict AS (SELECT DISTINCT p_brand AS brand FROM part),
    noisy AS (
      SELECT p_partkey,
        substr(p_brand, 1, CAST(p_partkey % length(p_brand) AS INT))
          || substr(p_brand, CAST(p_partkey % length(p_brand) AS INT) + 2)
          AS noisy
      FROM part),
    cand AS (
      SELECT n.p_partkey, n.noisy, d.brand,
        CAST(levenshtein(n.noisy, d.brand) AS BIGINT) AS dist
      FROM noisy n CROSS JOIN dict d
      WHERE levenshtein(n.noisy, d.brand) <= 1),
    best AS (
      SELECT *, row_number() OVER (
        PARTITION BY p_partkey ORDER BY dist ASC, brand ASC) AS rn
      FROM cand)
    SELECT p_partkey, noisy, brand AS matched, dist
    FROM best WHERE rn = 1 ORDER BY p_partkey"""))

  // ---------------------------------------------------------------------
  // Near-dup / similarity operators (graft.operators.{Dedup,Similarity})
  // ---------------------------------------------------------------------

  /** Exact 5-shingle Jaccard ≥ 0.8 pairs via shingle equi-join (no
    * cross join; candidates must share a shingle). */
  private val qNearDup = Q(
    "q_near_dup",
    (s, d) => Dedup.jaccardPairs(t(s, d, "documents"), w = 5, threshold = 0.8)
      .orderBy("i", "j"),
    Some("""WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
        unnest(CASE WHEN len(t) >= 5
          THEN list_transform(range(1, len(t) - 3),
            i -> array_to_string(t[i:i+4], ' '))
          ELSE []::VARCHAR[] END) AS s
      FROM toks),
    card AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
    com AS (
      SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS com
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT i, j,
      floor(com * 1.0 / (ca.c + cb.c - com) * 1000000.0 + 0.5) / 1000000.0
        AS jaccard
    FROM com
    JOIN card ca ON ca.doc_id = i
    JOIN card cb ON cb.doc_id = j
    WHERE com * 1.0 / (ca.c + cb.c - com) >= 0.8
    ORDER BY i, j"""))

  /** Character 20-gram Jaccard ≥ 0.8 pairs — the tokenization-robust
    * near-dup variant; same candidate-join pipeline as q_near_dup with
    * substring shingles. The gram length is a blocking knob: on this
    * ~40-word-vocabulary corpus, 8-grams repeat so heavily that the
    * candidate join degenerates (280M pair-rows at sf0.1); 20-grams
    * (~4 words) keep buckets small (0.7M pair-rows) with the same
    * planted-dup sensitivity — same reasoning as the w=5 word-shingle
    * choice. */
  private val qNearDupChar = Q(
    "q_near_dup_char",
    (s, d) => Dedup.charJaccardPairs(t(s, d, "documents"), n = 20, threshold = 0.8)
      .orderBy("i", "j"),
    Some("""WITH sh AS (
      SELECT DISTINCT doc_id,
        unnest(CASE WHEN len(text) >= 20
          THEN list_transform(range(1, len(text) - 18),
            i -> substr(lower(text), i, 20))
          ELSE []::VARCHAR[] END) AS s
      FROM documents),
    card AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
    com AS (
      SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS com
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT i, j,
      floor(com * 1.0 / (ca.c + cb.c - com) * 1000000.0 + 0.5) / 1000000.0
        AS jaccard
    FROM com
    JOIN card ca ON ca.doc_id = i
    JOIN card cb ON cb.doc_id = j
    WHERE com * 1.0 / (ca.c + cb.c - com) >= 0.8
    ORDER BY i, j"""))

  /** Near-dup CLUSTERING: connected components over the exact
    * 5-shingle Jaccard ≥ 0.8 pair graph, each doc labeled with the
    * min doc_id of its component plus the component size and the
    * keep-one canonical flag — the operation a corpus-level dedup job
    * actually runs (pairs alone don't dedup anything). Spark side is
    * iterative min-label propagation (O(diameter) rounds, ~2 on
    * near-dup cliques; see Dedup.connectedComponents scaladoc for the
    * 100 TB cost model); oracle is a recursive-CTE reachability
    * closure over the same pair SQL. */
  private val qDedupCluster = Q(
    "q_dedup_cluster",
    (s, d) => {
      val pairs = Dedup.jaccardPairs(t(s, d, "documents"), w = 5, threshold = 0.8)
        .select("i", "j")
      val cc = Dedup.connectedComponents(pairs)
      val w = Window.partitionBy("cluster_id")
      cc.withColumn("csize", count(lit(1)).over(w))
        .select(col("doc_id"), col("cluster_id"), col("csize"),
          (col("doc_id") === col("cluster_id")).as("is_canonical"))
        .orderBy("doc_id")
    },
    Some("""WITH RECURSIVE toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
        unnest(CASE WHEN len(t) >= 5
          THEN list_transform(range(1, len(t) - 3),
            i -> array_to_string(t[i:i+4], ' '))
          ELSE []::VARCHAR[] END) AS s
      FROM toks),
    card AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
    com AS (
      SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS com
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    pairs AS (
      SELECT i, j FROM com
      JOIN card ca ON ca.doc_id = i
      JOIN card cb ON cb.doc_id = j
      WHERE com * 1.0 / (ca.c + cb.c - com) >= 0.8),
    sym AS (SELECT i AS v, j AS u FROM pairs
            UNION ALL SELECT j AS v, i AS u FROM pairs),
    reach AS (
      SELECT v, u FROM sym
      UNION
      SELECT r.v, s.u FROM reach r JOIN sym s ON r.u = s.v
        WHERE s.u <> r.v),
    lab AS (
      SELECT v AS doc_id, least(v, min(u)) AS cluster_id
      FROM reach GROUP BY v)
    SELECT doc_id, cluster_id,
      count(*) OVER (PARTITION BY cluster_id) AS csize,
      doc_id = cluster_id AS is_canonical
    FROM lab ORDER BY doc_id"""))

  /** MinHash(32) + LSH(8 bands × 4) candidate pairs with estimated
    * Jaccard — the 100 TB near-dup path. No oracle (signature hashes
    * are engine-specific murmur3); recall vs q_near_dup is asserted in
    * DedupSpec. */
  private val qDedupMinhash = Q(
    "q_dedup_minhash",
    (s, d) => Dedup.minHashCandidates(t(s, d, "documents"))
      .orderBy("i", "j"),
    None)

  /** The COMPLETE 100 TB dedup decision, end to end: MinHash+LSH
    * candidate pairs (the only corpus-wide shuffles are the signature
    * groupBy and the banded equi-joins) → EXACT-Jaccard refine of the
    * candidates (Dedup.jaccardRefinePairs — the candidate ids meet the
    * per-doc gram arrays, no corpus-wide shingle self-join) →
    * connected components → per-doc (cluster, size, keep-one canonical
    * flag). This is the query a trillion-token corpus actually runs:
    * banding bounds the pair space, the refine makes the keep/drop
    * decision exact. ORACLE-CHECKED against all-pairs exact Jaccard +
    * recursive CC in DuckDB — valid because candidate recall over the
    * exact ≥ 0.8 pairs is 1 on this corpus (pinned in DedupSpec;
    * deterministic hashes + fixed data make it stable), and the refine
    * removes every sub-threshold candidate, so the refined pair set
    * equals the exact pair set. q_dedup_minhash keeps the unrefined
    * sketch form. */
  private val qMinhashCluster = Q(
    "q_minhash_cluster",
    (s, d) => {
      val docs = t(s, d, "documents")
      val cand = Dedup.minHashCandidates(docs, minEst = 0.5).select("i", "j")
      val pairs = Dedup.jaccardRefinePairs(docs, cand, w = 5, threshold = 0.8)
        .select("i", "j")
      val cc = Dedup.connectedComponents(pairs)
      val w = Window.partitionBy("cluster_id")
      cc.withColumn("csize", count(lit(1)).over(w))
        .select(col("doc_id"), col("cluster_id"), col("csize"),
          (col("doc_id") === col("cluster_id")).as("is_canonical"))
        .orderBy("doc_id")
    },
    Some("""WITH RECURSIVE toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
        unnest(CASE WHEN len(t) >= 5
          THEN list_transform(range(1, len(t) - 3),
            i -> array_to_string(t[i:i+4], ' '))
          ELSE []::VARCHAR[] END) AS s
      FROM toks),
    card AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
    com AS (
      SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS com
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    pairs AS (
      SELECT i, j FROM com
      JOIN card ca ON ca.doc_id = i
      JOIN card cb ON cb.doc_id = j
      WHERE com * 1.0 / (ca.c + cb.c - com) >= 0.8),
    sym AS (SELECT i AS v, j AS u FROM pairs
            UNION ALL SELECT j AS v, i AS u FROM pairs),
    reach AS (
      SELECT v, u FROM sym
      UNION
      SELECT r.v, s2.u FROM reach r JOIN sym s2 ON r.u = s2.v),
    lab AS (
      SELECT v AS doc_id, least(v, min(u)) AS cluster_id
      FROM reach GROUP BY v),
    sizes AS (SELECT cluster_id, count(*) AS csize FROM lab GROUP BY 1)
    SELECT lab.doc_id, lab.cluster_id, sizes.csize,
      lab.doc_id = lab.cluster_id AS is_canonical
    FROM lab JOIN sizes USING (cluster_id)
    ORDER BY lab.doc_id"""))

  /** CHAR-GRAM banded dedup clustering — the scale twin q_near_dup_char's
    * scaladoc promised in prose, now an oracle-checked query: char-20-gram
    * MinHash banding → exact char-Jaccard refine
    * ([[Dedup.charBandedDupPairs]]) → connected components with sizes
    * and canonical flags. Oracle-valid for the same reason as
    * q_minhash_cluster: banding recall over exact ≥0.8 char pairs is 1
    * on this corpus (DedupSpec pins candidates ⊇ exact pairs), so the
    * refine output equals the exact pipeline's and the DuckDB closure
    * over the exact char-substring pairs reproduces the labels. At
    * 100 TB this path signs map-only and shuffles 16 B band rows,
    * where the exact pipeline shuffles the full gram stream. */
  private val qCharhashCluster = Q(
    "q_charhash_cluster",
    (s, d) => {
      val pairs = Dedup.charBandedDupPairs(t(s, d, "documents"),
        n = 20, threshold = 0.8).select("i", "j")
      val cc = Dedup.connectedComponents(pairs)
      val w = Window.partitionBy("cluster_id")
      cc.withColumn("csize", count(lit(1)).over(w))
        .select(col("doc_id"), col("cluster_id"), col("csize"),
          (col("doc_id") === col("cluster_id")).as("is_canonical"))
        .orderBy("doc_id")
    },
    Some("""WITH RECURSIVE sh AS (
      SELECT DISTINCT doc_id,
        unnest(CASE WHEN len(text) >= 20
          THEN list_transform(range(1, len(text) - 18),
            i -> substr(lower(text), i, 20))
          ELSE []::VARCHAR[] END) AS s
      FROM documents),
    card AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
    com AS (
      SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS com
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    pairs AS (
      SELECT i, j FROM com
      JOIN card ca ON ca.doc_id = i
      JOIN card cb ON cb.doc_id = j
      WHERE com * 1.0 / (ca.c + cb.c - com) >= 0.8),
    sym AS (SELECT i AS v, j AS u FROM pairs
            UNION ALL SELECT j AS v, i AS u FROM pairs),
    reach AS (
      SELECT v, u FROM sym
      UNION
      SELECT r.v, s2.u FROM reach r JOIN sym s2 ON r.u = s2.v),
    lab AS (
      SELECT v AS doc_id, least(v, min(u)) AS cluster_id
      FROM reach GROUP BY v),
    sizes AS (SELECT cluster_id, count(*) AS csize FROM lab GROUP BY 1)
    SELECT lab.doc_id, lab.cluster_id, sizes.csize,
      lab.doc_id = lab.cluster_id AS is_canonical
    FROM lab JOIN sizes USING (cluster_id)
    ORDER BY lab.doc_id"""))

  /** SimHash-64 pairs with hamming ≤ 3 via 2×32-bit bands with
    * single-bit multiprobe (n²/2^32 collisions per band — see
    * Dedup.simHashPairs). No oracle (xxhash64 is engine-specific);
    * behavior pinned in DedupSpec. */
  private val qDedupSimhash = Q(
    "q_dedup_simhash",
    (s, d) => Dedup.simHashPairs(t(s, d, "documents"), maxHamming = 3)
      .orderBy("i", "j"),
    None)

  /** Embedding-cosine near-dup pairs ≥ 0.4, label-blocked +
    * deterministic 1-in-5 sample (the oracle-checked exact variant;
    * the full-corpus path is LSH/IVF). */
  private val qEmbedNearDup = Q(
    "q_embed_near_dup",
    (s, d) => Dedup.cosinePairs(t(s, d, "embeddings"),
        threshold = 0.4, sampleMod = 5)
      .orderBy("i", "j"),
    Some("""WITH n AS (
      SELECT vec_id, label,
        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE vec_id % 5 = 0),
    m AS (
      SELECT vec_id, label, v,
        sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
      FROM n)
    SELECT a.vec_id AS i, b.vec_id AS j,
      round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos_sim
    FROM m a JOIN m b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.4
    ORDER BY i, j"""))

  /** Stratified deterministic downsampling — the corpus-balancing
    * operator of a training-data pipeline: dominant languages are
    * thinned harder (every 4th en doc, every 2nd fr/es/zh/de doc).
    * Deterministic row_number over (lang, doc_id) instead of random
    * sampling so the result is reproducible and oracle-checkable; one
    * shuffle on lang. */
  private val qStratifiedSample = Q(
    "q_stratified_sample",
    (s, d) => {
      val w = Window.partitionBy("lang").orderBy("doc_id")
      t(s, d, "documents")
        .withColumn("rn", row_number().over(w))
        .filter(when(col("lang") === "en", col("rn") % 4 === 0)
          .otherwise(col("rn") % 2 === 0))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
        row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
      FROM documents)
    WHERE CASE WHEN lang = 'en' THEN rn % 4 = 0 ELSE rn % 2 = 0 END
    ORDER BY doc_id"""))

  /** Inverse-frequency class weights (total / (n_classes · class_n)) —
    * the loss-reweighting companion of stratified sampling. The grand
    * total is an unpartitioned window sum over the per-class counts:
    * ONE scan of documents, one agg shuffle, then a window over
    * #classes rows (tiny by definition — a single-partition window
    * over the class list, not the data). No driver-side count() sync
    * point, no second scan. */
  private val qClassWeights = Q(
    "q_class_weights",
    (s, d) => {
      val docs = t(s, d, "documents")
      val counts = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      val nClasses = 5.0
      counts.withColumn("total", sum("n").over(Window.partitionBy()))
        .select(col("lang"), col("n"),
          TextAnalysis.roundStable(
            col("total") / (lit(nClasses) * col("n")), 6).as("weight"))
        .orderBy("lang")
    },
    Some("""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
    t AS (SELECT count(*) AS total FROM documents)
    SELECT lang, n,
      floor(total / (5.0 * n) * 1000000.0 + 0.5) / 1000000.0 AS weight
    FROM c, t ORDER BY lang"""))

  /** Deterministic mixture balancing — the data-mixing operator of a
    * training pipeline: every language is downsampled toward the
    * SMALLEST language's size via a per-group keep-rate in ppm and a
    * multiplicative-hash admission test on doc_id. Unlike
    * q_stratified_sample (rank-based, needs a per-group sort) this is
    * MAP-ONLY over the corpus after one tiny agg: the rates are a
    * broadcast #sources-row table and the admission test is pure
    * arithmetic on the id — the same doc set is kept at any
    * partitioning, cluster size, or execution order, which is what
    * makes a 100 TB mixing job reproducible (and resumable: admission
    * is a property of the row, not of a sampler's state).
    * (doc_id * 48271) % 1000000 is engine-exact int64 arithmetic (no
    * overflow below ~1.9e14 ids), so membership matches the oracle
    * bit-for-bit; the query emits the sampled membership itself, the
    * strongest checkable form. */
  private val qMixtureSample = Q(
    "q_mixture_sample",
    (s, d) => {
      val docs = t(s, d, "documents")
      val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
      val rates = counts
        .crossJoin(broadcast(counts.agg(min("n_docs").as("min_n"))))
        .select(col("lang"), col("n_docs"),
          floor(col("min_n") * lit(1000000L) / col("n_docs"))
            .cast("long").as("rate_ppm"))
      docs.join(broadcast(rates), "lang")
        .filter((col("doc_id") * lit(48271L)) % lit(1000000L) < col("rate_ppm"))
        .select(col("doc_id"), col("lang"), col("n_docs"), col("rate_ppm"))
        .orderBy("doc_id")
    },
    Some("""WITH counts AS (
      SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
    m AS (SELECT min(n_docs) AS min_n FROM counts),
    rates AS (
      SELECT lang, n_docs,
        CAST(floor(min_n * 1000000.0 / n_docs) AS BIGINT) AS rate_ppm
      FROM counts, m)
    SELECT d.doc_id, d.lang, r.n_docs, r.rate_ppm
    FROM documents d JOIN rates r USING (lang)
    WHERE (d.doc_id * 48271) % 1000000 < r.rate_ppm
    ORDER BY d.doc_id"""))

  /** Exact heavy hitters via the two-pass Misra–Gries pattern — the
    * scalable form of "which keys exceed 5% of the corpus": pass 1
    * aggregates a 63-counter MG sketch (graft.plans.MisraGriesKeys, a
    * native TypedImperativeAggregate — O(k) state, map-side combined,
    * ONE tiny row out, no full-cardinality shuffle); its n/(k+1)
    * recall guarantee puts every ≥5% key among the ≤63 candidates
    * regardless of partitioning or merge order. Pass 2 exact-counts
    * ONLY the candidates (broadcast join prunes the corpus-wide agg to
    * candidate keys) and applies the real threshold — the output is
    * exact and engine-independent, so the oracle is a plain
    * GROUP BY + HAVING. The synthesized key blends 3 hot keys (~60% of
    * rows) into a ~40%-unique tail: the cardinality profile where a
    * direct GROUP BY would shuffle tens of thousands of distinct keys
    * to answer a 3-row question. */
  private val qHeavyHitters = Q(
    "q_heavy_hitters",
    (s, d) => {
      val key = when(pmod(col("o_orderkey"), lit(10)) < 6,
          concat(lit("hot"), pmod(col("o_orderkey"), lit(3)).cast("string")))
        .otherwise(concat(lit("cold"), col("o_orderkey").cast("string")))
      val keyed = t(s, d, "orders").select(key.as("key"))
      val sketch = keyed.agg(
        graft.plans.GraftFunctions.misraGriesKeys(col("key"), 63).as("cands"),
        count(lit(1)).as("n"))
      val cands = sketch.select(explode(col("cands")).as("key"), col("n"))
      keyed.join(broadcast(cands), Seq("key"))
        .groupBy("key", "n").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") * 20 >= col("n"))
        .select(col("key"), col("cnt"))
        .orderBy("key")
    },
    Some("""WITH k AS (
      SELECT CASE WHEN o_orderkey % 10 < 6
        THEN 'hot' || CAST(o_orderkey % 3 AS VARCHAR)
        ELSE 'cold' || CAST(o_orderkey AS VARCHAR) END AS key
      FROM orders),
    t AS (SELECT count(*) AS n FROM k)
    SELECT key, count(*) AS cnt
    FROM k, t GROUP BY key, n HAVING count(*) * 20 >= n
    ORDER BY key"""))

  /** Query-string text search: top-20 docs by 3-shingle containment of
    * a fixed query phrase (the IN-filtered shingle scan keeps only
    * matching rows — the aggregate never sees the corpus). */
  private val SearchQuery =
    "table scan merge join order batch stream spark window hash"
  private val qTextSearch = Q(
    "q_text_search",
    (s, d) => Dedup.shingleSearchTopK(t(s, d, "documents"),
      SearchQuery, w = 3, k = 20),
    Some {
      val shingles = SearchQuery.split(" ").sliding(3)
        .map(_.mkString(" ")).toSeq.distinct
      val inList = shingles.map(x => s"'$x'").mkString(", ")
      val n = shingles.size
      s"""WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
        unnest(CASE WHEN len(t) >= 3
          THEN list_transform(range(1, len(t) - 1),
            i -> array_to_string(t[i:i+2], ' '))
          ELSE []::VARCHAR[] END) AS s
      FROM toks)
    SELECT doc_id, count(*) AS matched,
      floor(count(*) / $n.0 * 1000000.0 + 0.5) / 1000000.0 AS score
    FROM sh WHERE s IN ($inList)
    GROUP BY doc_id
    ORDER BY score DESC, doc_id ASC LIMIT 20"""
    })

  /** Per-label embedding centroids as (label, dim, avg) rows — the
    * cluster-diagnostic aggregate of a training-data pipeline. One
    * posexplode + hash aggregate; 6-dp round absorbs partial-sum
    * merge-order ulps. */
  private val qLabelCentroids = Q(
    "q_label_centroids",
    (s, d) => t(s, d, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("label"), (col("pos") + 1).cast("long").as("dim"))
      .agg(round(avg(col("x").cast("double")), 6).as("centroid"))
      .orderBy("label", "dim"),
    Some("""SELECT label, s.i AS dim, round(avg(s.v), 6) AS centroid
    FROM (
      SELECT label,
        unnest(list_transform(embedding,
          (x, i) -> {'i': i, 'v': CAST(x AS DOUBLE)})) AS s
      FROM embeddings)
    GROUP BY label, s.i
    ORDER BY label, dim"""))

  /** Exact brute-force cosine top-5 for 8 query vectors (vec_id < 8)
    * against the whole corpus — the ANN baseline; queries broadcast,
    * corpus scanned once. */
  private val qAnnTopk = Q(
    "q_ann_topk",
    (s, d) => Similarity.bruteTopK(t(s, d, "embeddings"),
        col("vec_id") < 8, k = 5)
      .orderBy("query_id", "rk"),
    Some("""WITH m AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    w AS (SELECT vec_id, v,
      sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM m),
    q AS (SELECT * FROM w WHERE vec_id < 8),
    sc AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) AS cos_sim
      FROM q JOIN w c ON c.vec_id <> q.vec_id),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id
      ORDER BY cos_sim DESC, cand_id ASC) AS rk FROM sc)
    SELECT query_id, cand_id, cos_sim, rk FROM r
    WHERE rk <= 5 ORDER BY query_id, rk"""))

  /** IVF-probed top-5: deterministic sign-pattern coarse quantizer
    * (first 8 dims → 256 cells); each query scans only its cell —
    * partition pruning at scale. */
  private val qAnnIvf = Q(
    "q_ann_ivf",
    (s, d) => Similarity.ivfTopK(t(s, d, "embeddings"),
        col("vec_id") < 8, k = 5, cellBits = 8)
      .orderBy("query_id", "rk"),
    Some("""WITH m AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    w AS (SELECT vec_id, v,
      sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm,
      (CASE WHEN v[1] >= 0 THEN 1 ELSE 0 END)
      + (CASE WHEN v[2] >= 0 THEN 2 ELSE 0 END)
      + (CASE WHEN v[3] >= 0 THEN 4 ELSE 0 END)
      + (CASE WHEN v[4] >= 0 THEN 8 ELSE 0 END)
      + (CASE WHEN v[5] >= 0 THEN 16 ELSE 0 END)
      + (CASE WHEN v[6] >= 0 THEN 32 ELSE 0 END)
      + (CASE WHEN v[7] >= 0 THEN 64 ELSE 0 END)
      + (CASE WHEN v[8] >= 0 THEN 128 ELSE 0 END) AS cell
      FROM m),
    q AS (SELECT * FROM w WHERE vec_id < 8),
    sc AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) AS cos_sim
      FROM q JOIN w c ON c.cell = q.cell AND c.vec_id <> q.vec_id),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id
      ORDER BY cos_sim DESC, cand_id ASC) AS rk FROM sc)
    SELECT query_id, cand_id, cos_sim, rk FROM r
    WHERE rk <= 5 ORDER BY query_id, rk"""))

  /** Equi-width histogram (the distribution profile a KPI dashboard
    * or a corpus-stats pass draws): 50k-wide price buckets, clamped
    * top bucket, count + rounded mean per bucket. Bucket assignment is
    * integer floor arithmetic — identical on both engines by
    * construction (no width_bucket dialect differences) — and the
    * whole query is one scan into one map-side-combined aggregate. */
  private val qHistogram = Q(
    "q_histogram",
    (s, d) => t(s, d, "orders")
      .select(least(floor(col("o_totalprice") / 50000.0), lit(9.0))
        .cast("long").as("bucket"), col("o_totalprice"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        round(avg("o_totalprice"), 2).as("avg_price"))
      .orderBy("bucket"),
    Some("""SELECT CAST(least(floor(o_totalprice / 50000.0), 9.0) AS BIGINT)
        AS bucket,
      count(*) AS n,
      round(avg(o_totalprice), 2) AS avg_price
    FROM orders GROUP BY 1 ORDER BY bucket"""))

  /** Array aggregation + array scalar functions: per-customer sorted
    * list of order priorities, its distinct form, and a first/last
    * probe — the collection-function surface (collect_list /
    * sort_array / array_distinct / element_at) the relational
    * inventory doesn't otherwise touch. collect_list is
    * order-nondeterministic under parallel merge, so the SORTED array
    * is the only cross-engine-comparable form (same reason DuckDB
    * needs list_sort(list(...))). The arrays are projected through
    * array_join — the comparator sorts columns cell-wise and array
    * cells are unhashable there, so the comparable surface must be
    * scalar (same constraint documented at q_quantile). One shuffle
    * on the group key. */
  private val qArrayAgg = Q(
    "q_array_agg",
    (s, d) => t(s, d, "orders")
      .groupBy("o_custkey")
      .agg(sort_array(collect_list("o_orderpriority")).as("prios"))
      .select(col("o_custkey"),
        array_join(col("prios"), ",").as("prios_csv"),
        // array_distinct keeps first-occurrence order, which over a
        // SORTED input is sorted order — DuckDB's list_distinct makes
        // no order promise, so the oracle re-sorts explicitly.
        array_join(array_distinct(col("prios")), ",")
          .as("distinct_prios_csv"),
        size(col("prios")).cast("long").as("n"),
        element_at(col("prios"), 1).as("first_prio"),
        element_at(col("prios"), -1).as("last_prio"))
      .orderBy("o_custkey"),
    Some("""SELECT o_custkey,
      array_to_string(list_sort(list(o_orderpriority)), ',') AS prios_csv,
      array_to_string(list_sort(list_distinct(list(o_orderpriority))), ',')
        AS distinct_prios_csv,
      len(list(o_orderpriority)) AS n,
      list_sort(list(o_orderpriority))[1] AS first_prio,
      list_sort(list(o_orderpriority))[-1] AS last_prio
    FROM orders GROUP BY o_custkey ORDER BY o_custkey"""))

  /** Grouped MODE with a deterministic tie-break (count desc, then
    * value asc) — engine-native mode() functions break ties
    * arbitrarily, so the portable form is count + row_number, which is
    * also the shape that scales: two hash aggregates and one
    * small-key window, no per-group value collection. */
  private val qMode = Q(
    "q_mode",
    (s, d) => {
      val counts = t(s, d, "orders")
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("c_mktsegment")
        .orderBy(col("n").desc, col("o_orderpriority").asc)
      counts.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("c_mktsegment"), col("o_orderpriority").as("mode_priority"),
          col("n"))
        .orderBy("c_mktsegment")
    },
    Some("""WITH c AS (
      SELECT c_mktsegment, o_orderpriority, count(*) AS n
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2),
    r AS (
      SELECT c_mktsegment, o_orderpriority AS mode_priority, n,
        row_number() OVER (PARTITION BY c_mktsegment
          ORDER BY n DESC, o_orderpriority ASC) AS rk
      FROM c)
    SELECT c_mktsegment, mode_priority, n FROM r WHERE rk = 1
    ORDER BY c_mktsegment"""))

  /** Exact grouped quantiles (ordered-set aggregate): percentile()
    * with linear interpolation, matching DuckDB quantile_cont. Exact
    * quantiles need the group's values together (sort-based agg);
    * the approximate path at 100 TB is approx_percentile (mergeable
    * KLL-style sketch, same shuffle shape as q_approx_distinct). */
  private val qQuantile = Q(
    "q_quantile",
    // Scalar q25/q50/q75 columns (not one array column): the driver's
    // pandas-side compare sorts every column and array cells are
    // unhashable there — and scalars hash-compare bit-exactly.
    (s, d) => t(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(expr("round(percentile(l_quantity, 0.25D), 4)").as("q25"),
        expr("round(percentile(l_quantity, 0.5D), 4)").as("q50"),
        expr("round(percentile(l_quantity, 0.75D), 4)").as("q75"))
      .orderBy("l_returnflag"),
    Some("""SELECT l_returnflag,
      round(quantile_cont(l_quantity, 0.25), 4) AS q25,
      round(quantile_cont(l_quantity, 0.5), 4) AS q50,
      round(quantile_cont(l_quantity, 0.75), 4) AS q75
    FROM lineitem GROUP BY 1 ORDER BY l_returnflag"""))

  /** As-of join (operator Spark lacks; graft.operators.TemporalJoins):
    * for each purchase event, the same user's latest view at-or-before
    * it. Union-and-carry — ONE shuffle on the key, no pair explosion.
    * Oracle: DuckDB's native ASOF LEFT JOIN. */
  private val qAsofJoin = Q(
    "q_asof_join",
    (s, d) => {
      val e = t(s, d, "events")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = e.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"),
          col("event_id").as("view_id"), col("value").as("view_value"))
      // view_id tie-break: the ns→µs truncation in t() could manufacture
      // equal-µs views; pin the carried row so Spark is run-deterministic
      // (the DuckDB ASOF oracle picks arbitrarily among ties — the
      // fixture has none, checked; see TemporalJoins.asofJoin scaladoc).
      TemporalJoins.asofJoin(purchases, views, Seq("user_id"), "ts", "ts",
          Seq("view_id", "view_value"), rightTieBreak = Seq("view_id"))
        .orderBy("event_id")
    },
    Some("""WITH e AS (
      SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, value,
        event_type FROM events),
    p AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'purchase'),
    v AS (SELECT user_id, ts, event_id AS view_id, value AS view_value
      FROM e WHERE event_type = 'view')
    SELECT p.event_id, p.user_id, p.ts,
      v.view_id AS asof_view_id, v.view_value AS asof_view_value
    FROM p ASOF LEFT JOIN v
      ON p.user_id = v.user_id AND p.ts >= v.ts
    ORDER BY p.event_id"""))

  /** Range (interval) join: clicks within the 2 hours before each
    * purchase, same user — bucketed equi-join + exact refine, no
    * per-key nested loop. Oracle: DuckDB inequality join. */
  private val qRangeJoin = Q(
    "q_range_join",
    (s, d) => {
      val e = t(s, d, "events")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"),
          col("ts").as("p_ts"),
          (col("ts") - expr("INTERVAL 2 HOURS")).as("w_start"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("c_id"),
          col("ts").as("c_ts"))
      TemporalJoins.rangeJoin(purchases, clicks, Seq("user_id"),
          "w_start", "p_ts", "c_ts", bucketSeconds = 7200L)
        .select("p_id", "c_id", "user_id")
        .orderBy("p_id", "c_id")
    },
    Some("""WITH e AS (
      SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
      FROM events),
    p AS (SELECT event_id AS p_id, user_id, ts AS p_ts,
        ts - INTERVAL 2 HOUR AS w_start
      FROM e WHERE event_type = 'purchase'),
    c AS (SELECT event_id AS c_id, user_id, ts AS c_ts
      FROM e WHERE event_type = 'click')
    SELECT p.p_id, c.c_id, p.user_id
    FROM p JOIN c ON p.user_id = c.user_id
      AND c.c_ts >= p.w_start AND c.c_ts <= p.p_ts
    ORDER BY p_id, c_id"""))

  /** Approximate grouped quantiles — the 100 TB twin of q_quantile:
    * approx_percentile's sketch merges across partitions (one narrow
    * shuffle of sketches vs the exact form's per-group value sort).
    * No oracle (sketch-dependent); bounded-error vs exact is asserted
    * in QueriesSmokeSpec. */
  private val qApproxQuantile = Q(
    "q_approx_quantile",
    // Flattened to scalar columns for the same driver-compare reason
    // as q_quantile (its rows-only check also sorts every column).
    (s, d) => t(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(expr("approx_percentile(l_quantity, array(0.25D, 0.5D, 0.75D), 1000)")
        .as("qs"))
      .select(col("l_returnflag"), col("qs")(0).as("q25"),
        col("qs")(1).as("q50"), col("qs")(2).as("q75"))
      .orderBy("l_returnflag"),
    None)

  /** The remaining ranking/offset window functions in one query:
    * dense_rank, ntile, lag, lead, first/last over an explicit
    * full-partition frame. One shuffle on o_custkey serves all six. */
  private val qWindowFuncs = Q(
    "q_window_funcs",
    (s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          dense_rank().over(w).cast("long").as("dr"),
          ntile(4).over(w).cast("long").as("quartile"),
          lag(col("o_orderkey"), 1).over(w).as("prev_ok"),
          lead(col("o_orderkey"), 1).over(w).as("next_ok"),
          first(col("o_orderkey")).over(wFull).as("best_ok"),
          last(col("o_orderkey")).over(wFull).as("worst_ok"))
        .orderBy("o_custkey", "dr", "o_orderkey")
    },
    Some("""SELECT o_custkey, o_orderkey,
      dense_rank() OVER w AS dr,
      ntile(4) OVER w AS quartile,
      lag(o_orderkey, 1) OVER w AS prev_ok,
      lead(o_orderkey, 1) OVER w AS next_ok,
      first_value(o_orderkey) OVER
        (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS best_ok,
      last_value(o_orderkey) OVER
        (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS worst_ok
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)
    ORDER BY o_custkey, dr, o_orderkey"""))

  /** Multimodal binary path: text wrapped as opaque UTF-8 bytes +
    * typed metadata, features extracted in batched mapPartitions
    * (graft.operators.Multimodal). Byte stats on the ASCII fixture are
    * exactly char stats, so the binary pipeline gets a real oracle. */
  private val qMediaFeatures = Q(
    "q_media_features",
    (s, d) => Multimodal.extractFeatures(
        Multimodal.asMediaTable(t(s, d, "documents")))
      .toDF()
      .select(col("media_id"), col("n_bytes"), col("cnt_a"), col("cnt_space"))
      .orderBy("media_id"),
    Some("""SELECT doc_id AS media_id,
      strlen(text) AS n_bytes,
      strlen(text) - strlen(replace(text, 'a', '')) AS cnt_a,
      strlen(text) - strlen(replace(text, ' ', '')) AS cnt_space
    FROM documents ORDER BY media_id"""))

  /** REAL media-container round trip: each document deterministically
    * becomes a spec-faithful PNG / JPEG / GIF / BMP header
    * ([[Multimodal.ImageHeaders]] — real CRC-32s, real JFIF APP0
    * walk-past segment) whose dimensions derive from (doc_id,
    * n_chars); [[Multimodal.ImageCodec]] then parses format + width
    * + height BACK from the raw bytes by the public container specs
    * (big-endian IHDR u32s, SOFn marker walk, little-endian GIF/BMP
    * fields). The oracle states the dimensions in closed form, so any
    * byte-arithmetic error on either the encode or the decode side
    * breaks the hash. Encode→decode is ONE mapPartitions pass —
    * map-only, zero shuffle, the media bytes never leave their
    * executor (the 100 TB contract for multimodal columns). Widths
    * run to 1000 and heights to 800, exercising the multi-byte paths
    * of all four layouts. */
  private val qMediaDims = Q(
    "q_media_dims",
    (s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .select(col("doc_id"), col("n_chars"))
        .as[(Long, Long)]
        .map { case (id, nc) =>
          val w = (1 + id % 1000).toInt
          val h = (1 + nc % 800).toInt
          val bytes = (id % 4) match {
            case 0 => Multimodal.ImageHeaders.png(w, h)
            case 1 => Multimodal.ImageHeaders.jpeg(w, h)
            case 2 => Multimodal.ImageHeaders.gif(w, h)
            case _ => Multimodal.ImageHeaders.bmp(w, h)
          }
          val m = Multimodal.decode("image", bytes)
          (id, m.format, m.width, m.height, m.nBytes)
        }
        .toDF("doc_id", "format", "width", "height", "n_bytes")
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
      CASE CAST(doc_id % 4 AS INT)
        WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/jpeg'
        WHEN 2 THEN 'image/gif' ELSE 'image/bmp' END AS format,
      CAST(1 + doc_id % 1000 AS INT) AS width,
      CAST(1 + n_chars % 800 AS INT) AS height,
      CAST(CASE CAST(doc_id % 4 AS INT)
        WHEN 0 THEN 45 WHEN 1 THEN 35 WHEN 2 THEN 14 ELSE 54 END
        AS BIGINT) AS n_bytes
    FROM documents ORDER BY doc_id"""))

  /** REAL pixel pipeline end-to-end: each document deterministically
    * becomes a 32x16 grayscale gradient PNG — pixel(x,y) =
    * (7x + 11y + doc_id) mod 256 — encoded by [[graft.operators.PngCodec]]
    * with real per-row filter selection + zlib deflate; the
    * distributed [[Multimodal.resized]] operator then takes its real
    * path (inflate → unfilter → exact integer 2x2 box-average →
    * re-encode), and a final decode sums the resampled pixels. The
    * oracle states the identical floor-average arithmetic in closed
    * form over `range()` — so a bug anywhere in filter math, inflate
    * framing, or the box resample breaks the hash. Both legs are one
    * batched mapPartitions each: map-only, zero shuffle, pixel
    * buffers never leave their executor (the multimodal 100 TB
    * contract; generalizes reference main.py:759-817's binary
    * handling). */
  private val qMediaResize = Q(
    "q_media_resize",
    (s, d) => {
      import s.implicits._
      import graft.operators.PngCodec
      val media = t(s, d, "documents")
        .select(col("doc_id")).as[Long]
        .map { id =>
          val src = PngCodec.Image(32, 16, 1,
            Array.tabulate(32 * 16) { i =>
              val x = i % 32; val y = i / 32
              ((x * 7 + y * 11 + id) % 256).toByte
            })
          Multimodal.MediaRow(id,
            Multimodal.MediaMeta("image", "image/png", 32, 16, 0L),
            PngCodec.encode(src))
        }
      Multimodal.resized(media, 16, 8)
        .map { row =>
          val img = PngCodec.decode(row.content).getOrElse(
            throw new IllegalStateException(
              s"resized PNG failed to decode for media ${row.media_id}"))
          var sum = 0L
          img.pixels.foreach(b => sum += (b & 0xff))
          (row.media_id, img.width, img.height, sum)
        }
        .toDF("doc_id", "width", "height", "px_sum")
        .orderBy("doc_id")
    },
    Some("""SELECT d.doc_id, 16 AS width, 8 AS height,
      CAST(SUM((
          (2*tx.x*7     + 2*ty.y*11     + d.doc_id) % 256
        + ((2*tx.x+1)*7 + 2*ty.y*11     + d.doc_id) % 256
        + (2*tx.x*7     + (2*ty.y+1)*11 + d.doc_id) % 256
        + ((2*tx.x+1)*7 + (2*ty.y+1)*11 + d.doc_id) % 256) // 4) AS BIGINT)
        AS px_sum
    FROM documents d, range(16) tx(x), range(8) ty(y)
    GROUP BY d.doc_id
    ORDER BY d.doc_id"""))

  /** REAL PDF pipeline — the reference's actual input format
    * (main.py:759-817 accepts only `.pdf`): every document's text is
    * wrapped in a spec-valid PDF by [[graft.operators.PdfCodec]]
    * (COS objects, real xref byte offsets, literal-string escaping,
    * Flate-compressed content streams for even doc_ids) and the shown
    * text extracted BACK from the raw bytes (object scan, stream
    * inflate, Tj/TJ parsing with the full escape table). The oracle
    * is simply the source table: the hash matches only if every
    * document survives the container byte-for-byte — any escaping,
    * framing, xref, or inflate slip corrupts some document. Map-only,
    * zero shuffle. */
  private val qPdfExtract = Q(
    "q_pdf_extract",
    (s, d) => {
      import s.implicits._
      import graft.operators.PdfCodec
      t(s, d, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val pdf = PdfCodec.encode(Seq(Seq(text)), compress = id % 2 == 0)
          val runs = PdfCodec.extractText(pdf).getOrElse(
            throw new IllegalStateException(s"PDF extract failed for $id"))
          (id, runs.mkString("\n"), pdf.length.toLong)
        }
        .toDF("doc_id", "text", "n_pdf_bytes")
        .select(col("doc_id"), col("text"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, text FROM documents ORDER BY doc_id"""))

  /** REAL GIF pixel pipeline: each document becomes a 16x8
    * palette-indexed GIF — index(x,y) = (3x + 5y + doc_id) mod 64
    * over a 64-gray palette — LZW-compressed for real by
    * [[graft.operators.GifCodec]] (variable-width codes, real bit
    * packing); decode LZW-expands + palette-resolves to RGB, the
    * integer box resample halves it, and the resampled pixels sum.
    * All three channels carry the index value, so the sum is exactly
    * 3x the closed-form gray sum the oracle states — any LZW bit
    * error, palette mix-up, or resample slip breaks the hash.
    * Map-only, zero shuffle. */
  private val qMediaGif = Q(
    "q_media_gif",
    (s, d) => {
      import s.implicits._
      import graft.operators.{GifCodec, PngCodec}
      val palette = Array.tabulate(64)(k => Array(k, k, k))
      t(s, d, "documents")
        .select(col("doc_id")).as[Long]
        .map { id =>
          val idx = Array.tabulate[Byte](16 * 8) { i =>
            val x = i % 16; val y = i / 16
            ((x * 3 + y * 5 + id) % 64).toByte
          }
          val bytes = GifCodec.encode(16, 8, palette, Seq(idx))
          val img = Multimodal.decodePixels(bytes).getOrElse(
            throw new IllegalStateException(s"GIF decode failed for $id"))
          val half = PngCodec.resizeBox(img, 8, 4)
          var sum = 0L
          half.pixels.foreach(b => sum += (b & 0xff))
          (id, half.width, half.height, sum)
        }
        .toDF("doc_id", "width", "height", "px_sum")
        .orderBy("doc_id")
    },
    Some("""SELECT d.doc_id, 8 AS width, 4 AS height,
      CAST(3 * SUM((
          (2*tx.x*3     + 2*ty.y*5     + d.doc_id) % 64
        + ((2*tx.x+1)*3 + 2*ty.y*5     + d.doc_id) % 64
        + (2*tx.x*3     + (2*ty.y+1)*5 + d.doc_id) % 64
        + ((2*tx.x+1)*3 + (2*ty.y+1)*5 + d.doc_id) % 64) // 4) AS BIGINT)
        AS px_sum
    FROM documents d, range(8) tx(x), range(4) ty(y)
    GROUP BY d.doc_id
    ORDER BY d.doc_id"""))

  /** REAL JPEG pipeline end-to-end through the pure-JVM baseline
    * decoder ([[graft.operators.JpegCodec]]): each document becomes a
    * 32×16 DC-only grayscale JPEG (8 blocks, all-ones quant table,
    * dc(b) = 8·(((doc_id·13 + b·29) mod 255) − 127) — multiples of 8,
    * so decode is the EXACT closed form 128 + dc/8 with no rounding
    * or clamping), decoded through the full marker/Huffman/IDCT path
    * via [[graft.operators.Multimodal.decodePixels]] (whose chain
    * routes JPEG to JpegCodec — an ImageIO fallback would surface 3
    * channels and triple the sum), box-resampled 4:1 (block-aligned
    * boxes: averages of constants stay exact), and reduced to an
    * integer pixel sum the oracle restates as plain modular
    * arithmetic. Map-only, zero shuffle. */
  private val qMediaJpeg = Q(
    "q_media_jpeg",
    (s, d) => {
      import s.implicits._
      import graft.operators.{JpegCodec, Multimodal, PngCodec}
      t(s, d, "documents")
        .select(col("doc_id")).as[Long]
        .map { id =>
          val dcs = Array.tabulate(8)(b =>
            8 * ((((id * 13 + b * 29) % 255) - 127).toInt))
          val bytes = JpegCodec.encodeGrayDcOnly(32, 16, dcs)
          val img = Multimodal.decodePixels(bytes).getOrElse(
            throw new IllegalStateException(s"JPEG decode failed for $id"))
          val small = PngCodec.resizeBox(img, 8, 4)
          var sum = 0L
          small.pixels.foreach(p => sum += (p & 0xff))
          (id, small.width, small.height, small.channels.toLong, sum)
        }
        .toDF("doc_id", "width", "height", "channels", "px_sum")
        .orderBy("doc_id")
    },
    Some("""SELECT d.doc_id, 8 AS width, 4 AS height,
      CAST(1 AS BIGINT) AS channels,
      CAST(4 * SUM((d.doc_id * 13 + b.b * 29) % 255 + 1) AS BIGINT) AS px_sum
    FROM documents d, range(8) b(b)
    GROUP BY d.doc_id
    ORDER BY d.doc_id"""))

  /** REAL audio pipeline end-to-end: each document deterministically
    * becomes a 1024-sample mono 16-bit PCM clip — sample(i) =
    * ((37 i^2 + 13 i + 101 doc_id) mod 4001) - 2000 —
    * encoded as a spec-faithful RIFF/WAVE buffer by
    * [[graft.operators.WavCodec]], decoded back (chunk walk, PCM16
    * LE), decimated 2:1 (exact frame selection, the deterministic
    * resample contract), and reduced to exact integer stats. The
    * oracle states the kept samples (source index 2j) in closed form,
    * so any byte-layout or sample-slicing error breaks the hash.
    * Map-only: one mapPartitions leg, zero shuffle. */
  private val qAudioStats = Q(
    "q_audio_stats",
    (s, d) => {
      import s.implicits._
      import graft.operators.WavCodec
      t(s, d, "documents")
        .select(col("doc_id")).as[Long]
        .map { id =>
          val clip = WavCodec.Clip(48000, 1,
            Array.tabulate(1024) { i =>
              val v = (i.toLong * i * 37 + 13L * i + 101L * id) % 4001 - 2000
              v.toShort
            })
          val bytes = WavCodec.encode(clip)
          val back = WavCodec.decode(bytes).getOrElse(
            throw new IllegalStateException(s"WAV round trip failed for $id"))
          val (frames, peak, sumSq) = WavCodec.stats(WavCodec.decimate(back, 2))
          (id, frames, peak, sumSq)
        }
        .toDF("doc_id", "n_frames", "peak", "sum_sq")
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, CAST(512 AS BIGINT) AS n_frames,
      CAST(MAX(ABS(v)) AS BIGINT) AS peak,
      CAST(SUM(v*v) AS BIGINT) AS sum_sq
    FROM (
      SELECT d.doc_id,
        ((2*j.i)*(2*j.i)*37 + 13*(2*j.i) + 101*d.doc_id) % 4001 - 2000 AS v
      FROM documents d, range(512) j(i))
    GROUP BY doc_id
    ORDER BY doc_id"""))

  /** REAL spectral analysis: each document becomes a 64-sample mono
    * square wave — half-period 4<<(doc_id%3), amplitude
    * 500+doc_id%500 — encoded/decoded through the real WAV codec and
    * transformed by the radix-2 FFT ([[graft.operators.Dsp]]); the
    * one-sided power spectrum NORMALIZES BY amplitude² before the
    * 4 dp rounding — raw powers reach ~4e9 where engine float paths
    * differ by more than the rounding step, but the normalized
    * spectrum collapses to 99 fixed constants (33 bins × 3 period
    * classes, ≤ 4096) whose distance from every rounding boundary
    * DspSpec verifies explicitly (> 1e-6), so the cross-engine hash
    * can never flip. The oracle computes the DFT directly as
    * closed-form cos/sin sums over the same integer signal, so a
    * butterfly indexing error, bit-reversal slip, or twiddle sign
    * flip breaks the hash. Map-only; 33 bins per doc. */
  private val qAudioSpectrum = Q(
    "q_audio_spectrum",
    (s, d) => {
      import s.implicits._
      import graft.operators.{Dsp, WavCodec}
      t(s, d, "documents")
        .select(col("doc_id")).as[Long]
        .flatMap { id =>
          val hp = 4 << (id % 3).toInt
          val amp = (500 + id % 500).toInt
          val clip = WavCodec.Clip(8000, 1,
            Array.tabulate(64)(i =>
              (if ((i / hp) % 2 == 0) amp else -amp).toShort))
          val back = WavCodec.decode(WavCodec.encode(clip)).getOrElse(
            throw new IllegalStateException(s"WAV round trip failed for $id"))
          val a2 = amp.toDouble * amp
          Dsp.powerSpectrum(back, 64).zipWithIndex.map { case (p, k) =>
            (id, k.toLong, math.floor(p / a2 * 10000.0 + 0.5) / 10000.0)
          }
        }
        .toDF("doc_id", "bin", "power_norm")
        .orderBy("doc_id", "bin")
    },
    Some("""SELECT d.doc_id, b.k AS bin,
      floor((
        POWER(SUM((CASE WHEN ((i.i // (CASE CAST(d.doc_id % 3 AS INT)
              WHEN 0 THEN 4 WHEN 1 THEN 8 ELSE 16 END)) % 2) = 0
            THEN 1 ELSE -1 END)
          * COS(2 * PI() * b.k * i.i / 64.0)), 2)
      + POWER(SUM((CASE WHEN ((i.i // (CASE CAST(d.doc_id % 3 AS INT)
              WHEN 0 THEN 4 WHEN 1 THEN 8 ELSE 16 END)) % 2) = 0
            THEN 1 ELSE -1 END)
          * SIN(2 * PI() * b.k * i.i / 64.0)), 2)) * 10000.0 + 0.5) / 10000.0
        AS power_norm
    FROM documents d, range(33) b(k), range(64) i(i)
    GROUP BY d.doc_id, b.k
    ORDER BY d.doc_id, bin"""))

  /** REAL video pipeline end-to-end: each document deterministically
    * becomes a 12-frame 8x8 C444 YUV4MPEG2 stream — Y(x,y,f) =
    * (x + 3y + 7f + doc_id) mod 256 — muxed by
    * [[graft.operators.Y4mCodec]]; the distributed
    * [[Multimodal.sampledFrames]] operator takes its real path
    * (header parse + FRAME demux, stride-3 keyframe-style selection:
    * source frames 0,3,6,9), and each kept frame's Y plane is summed.
    * The oracle states the kept frames (source index 3g) in closed
    * form. The demux leg is map-only; the per-doc reduce is one
    * 32-partition hash aggregate. */
  private val qFrameSample = Q(
    "q_frame_sample",
    (s, d) => {
      import s.implicits._
      import graft.operators.Y4mCodec
      val media = t(s, d, "documents")
        .select(col("doc_id")).as[Long]
        .map { id =>
          val frames = (0 until 12).map { f =>
            val y = Array.tabulate(64) { i =>
              ((i % 8 + 3 * (i / 8) + 7L * f + id) % 256).toByte }
            val u = Array.tabulate(64)(i => ((i % 8 + i / 8 + 2 * f) % 256).toByte)
            val v = Array.tabulate(64)(i => (((i % 8) * 2 + f) % 256).toByte)
            y ++ u ++ v
          }
          Multimodal.MediaRow(id,
            Multimodal.MediaMeta("video", "video/y4m", 8, 8, 0L),
            Y4mCodec.encode(Y4mCodec.Video(8, 8, 25, 1, "C444", frames)))
        }
      Multimodal.sampledFrames(media, frameSize = 192, stride = 3)
        .map { fr =>
          var sum = 0L; var i = 0
          while (i < 64) { sum += fr.frame(i) & 0xff; i += 1 }
          (fr.media_id, sum)
        }
        .toDF("doc_id", "fy")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_frames"), sum(col("fy")).as("y_sum"))
        .orderBy("doc_id")
    },
    Some("""SELECT d.doc_id, CAST(4 AS BIGINT) AS n_frames,
      CAST(SUM((xx.x + 3*yy.y + 21*g.f + d.doc_id) % 256) AS BIGINT) AS y_sum
    FROM documents d, range(4) g(f), range(8) xx(x), range(8) yy(y)
    GROUP BY d.doc_id
    ORDER BY d.doc_id"""))

  /** O24 upload admission as an oracle-checked query: a deterministic
    * request workload derived from `documents` (every combination of
    * good/bad suffix, edit/view/no share, sanitizable names) validated
    * by the assembled operator; the oracle re-states the reference's
    * gate (main.py:611-634) in SQL. The permission probe is a
    * broadcast left join — map-side at any scale. */
  private val qUploadAdmission = Q(
    "q_upload_admission",
    (s, d) => {
      import s.implicits._
      val did = col("doc_id").cast("string")
      val requests = t(s, d, "documents").select(
        col("doc_id"),
        when(pmod(col("doc_id"), lit(3)) === 0, lit("editor@x.com"))
          .when(pmod(col("doc_id"), lit(3)) === 1, lit("viewer@x.com"))
          .otherwise(lit("nobody@x.com")).as("email"),
        lit("u1").as("owner_id"),
        concat(lit("f"), pmod(col("doc_id"), lit(2)).cast("string")).as("folder_id"),
        when(pmod(col("doc_id"), lit(4)) === 0,
            concat(lit("Report "), did, lit("!.pdf")))
          .when(pmod(col("doc_id"), lit(4)) === 1,
            concat(lit("doc"), did, lit(".PDF")))
          .when(pmod(col("doc_id"), lit(4)) === 2,
            concat(lit("notes"), did, lit(".txt")))
          .otherwise(concat(lit("a b"), did, lit(".pdf"))).as("file_name"),
        lit("x").cast("binary").as("content"))
      val shares = Seq(
        ("u1", "f0", "editor@x.com", "edit"),
        ("u1", "f0", "viewer@x.com", "view"),
        ("u1", "f1", "editor@x.com", "view"))
        .toDF("owner_id", "folder_id", "email", "permission")
      UploadAdmission.validate(requests, shares)
        .select(col("doc_id"), col("accepted"), col("reject_reason"),
          col("sanitized_name"), col("storage_path"))
        .orderBy("doc_id")
    },
    Some("""WITH req AS (
      SELECT doc_id,
        CASE doc_id % 3 WHEN 0 THEN 'editor@x.com'
                        WHEN 1 THEN 'viewer@x.com'
                        ELSE 'nobody@x.com' END AS email,
        'u1' AS owner_id,
        'f' || (doc_id % 2) AS folder_id,
        CASE doc_id % 4
          WHEN 0 THEN 'Report ' || doc_id || '!.pdf'
          WHEN 1 THEN 'doc' || doc_id || '.PDF'
          WHEN 2 THEN 'notes' || doc_id || '.txt'
          ELSE 'a b' || doc_id || '.pdf' END AS file_name
      FROM documents),
    sh AS (SELECT * FROM (VALUES
      ('u1','f0','editor@x.com','edit'),
      ('u1','f0','viewer@x.com','view'),
      ('u1','f1','editor@x.com','view')) AS t(owner_id, folder_id, email, permission)),
    j AS (
      SELECT r.doc_id, r.email, r.owner_id, r.folder_id, r.file_name,
        s.permission,
        CASE WHEN NOT (lower(r.file_name) LIKE '%.pdf') THEN 'not_pdf'
             WHEN s.permission IS NULL THEN 'no_share'
             WHEN s.permission <> 'edit' THEN 'view_only' END AS reject_reason,
        regexp_replace(r.file_name, '[^a-zA-Z0-9_.-]', '_', 'g') AS sanitized_name
      FROM req r LEFT JOIN sh s
        ON r.owner_id = s.owner_id AND r.folder_id = s.folder_id
          AND r.email = s.email)
    SELECT doc_id, reject_reason IS NULL AS accepted, reject_reason,
      sanitized_name,
      'incoming/' || owner_id || '/' || folder_id || '/batch/' || sanitized_name
        AS storage_path
    FROM j ORDER BY doc_id"""))

  /** Benchmark decontamination (asymmetric n-gram containment): train
    * docs sharing any 6-gram with the eval split. The eval set is
    * BOUNDED BY CONSTRUCTION (doc_id % 10 = 0 AND doc_id < 10000 —
    * ≤ 1000 docs at ANY corpus size, a benchmark suite, not a corpus
    * slice), which is what licenses the unconditional broadcast of
    * its shingle set: the training corpus is never shuffled and the
    * probe is one map-side join at any corpus scale (see
    * graft.operators.Decontaminate — pass broadcastEval=false for a
    * genuinely large eval side). Hashed-gram counts vs the oracle's
    * string counts: the documented 2^-64 collision trade. */
  private val qDecontaminate = Q(
    "q_decontaminate",
    (s, d) => {
      val docs = t(s, d, "documents")
      val isEval = pmod(col("doc_id"), lit(10)) === 0 &&
        col("doc_id") < 10000L
      val test = docs.filter(isEval)
      val train = docs.filter(!isEval)
      Decontaminate.ngramHits(train, test, w = 6).orderBy("doc_id")
    },
    Some("""WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
        unnest(CASE WHEN len(t) >= 6
          THEN list_transform(range(1, len(t) - 4),
            i -> array_to_string(t[i:i+5], ' '))
          ELSE []::VARCHAR[] END) AS s
      FROM toks),
    test AS (SELECT doc_id AS test_doc, s FROM sh
             WHERE doc_id % 10 = 0 AND doc_id < 10000),
    train AS (SELECT doc_id, s FROM sh
              WHERE NOT (doc_id % 10 = 0 AND doc_id < 10000))
    SELECT tr.doc_id, count(DISTINCT tr.s) AS n_hits,
      count(DISTINCT te.test_doc) AS n_test_docs
    FROM train tr JOIN test te ON tr.s = te.s
    GROUP BY 1 ORDER BY doc_id"""))

  /** The STREAMING decontamination form, oracle-checked: every train
    * doc stamped with the map-only contamination flag
    * (Decontaminate.contaminationFlag — the eval corpus' sorted gram
    * set collected once under the bounded-eval contract, probed per
    * row by the native binary-search expression SortedLongsContainAny;
    * no join, no aggregation, streaming-safe). Unlike q_decontaminate
    * (hits only, with counts) this emits EVERY train doc with a
    * boolean — the ingest-filter shape. Oracle = string-gram EXISTS
    * semi-join; hash vs string grams carry the usual one-sided 64-bit
    * collision caveat (none on this data, deterministic). */
  private val qDecontaminateFlag = Q(
    "q_decontaminate_flag",
    (s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val isEval = pmod(col("doc_id"), lit(10)) === 0 &&
        col("doc_id") < 10000L
      val grams = Decontaminate.collectEvalGrams(docs.filter(isEval), w = 6)
      docs.filter(!isEval)
        .select(col("doc_id"),
          Decontaminate.contaminationFlag(col("text"), grams, w = 6)
            .as("contaminated"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
        unnest(CASE WHEN len(t) >= 6
          THEN list_transform(range(1, len(t) - 4),
            i -> array_to_string(t[i:i+5], ' '))
          ELSE []::VARCHAR[] END) AS s
      FROM toks),
    ev AS (SELECT DISTINCT s FROM sh
           WHERE doc_id % 10 = 0 AND doc_id < 10000),
    hits AS (SELECT DISTINCT tr.doc_id
             FROM sh tr JOIN ev USING (s)
             WHERE NOT (tr.doc_id % 10 = 0 AND tr.doc_id < 10000))
    SELECT d.doc_id, h.doc_id IS NOT NULL AS contaminated
    FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
    WHERE NOT (d.doc_id % 10 = 0 AND d.doc_id < 10000)
    ORDER BY d.doc_id"""))

  /** Sequence packing: contiguous fill of 512-token training bins per
    * language shard via one integer prefix sum (see
    * graft.operators.Packing for the scale model — parallelism is the
    * shard count, the real-pipeline bound). Integer-only arithmetic →
    * bit-identical cross-engine. */
  private val qSeqPack = Q(
    "q_seq_pack",
    (s, d) => Packing.contiguousPack(t(s, d, "documents"), budget = 512)
      .orderBy("doc_id"),
    Some("""WITH n AS (
      SELECT doc_id, lang,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents),
    c AS (
      SELECT doc_id, lang, n_tokens,
        CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      FROM n)
    SELECT doc_id, lang, n_tokens, cum_tokens,
      (cum_tokens - n_tokens) // 512 AS bin_id,
      (cum_tokens - n_tokens) % 512 AS bin_offset
    FROM c ORDER BY doc_id"""))

  /** Corpus-unigram-LM document scoring (the CCNet-style quality
    * signal, with the LM trained on the corpus itself): per doc, the
    * mean log-probability of its tokens under corpus unigram
    * frequencies. Two aggregations, both map-side-combining: token →
    * count (the LM), then a join back to the token stream and a
    * per-doc mean. The grand total rides as an unpartitioned window
    * over the LM rows (vocab-sized — q_class_weights' single-scan
    * pattern). Scale: the LM table is vocab-sized; Spark broadcasts it
    * when small (AQE decides) and the token-stream join never shuffles
    * the corpus more than once. ln of identical (c, total) ratios on
    * both engines; mean rounded via the floor form. */
  private val qUnigramLogprob = Q(
    "q_unigram_logprob",
    (s, d) => {
      val toks = t(s, d, "documents").select(col("doc_id"),
        explode(split(lower(col("text")), " ")).as("tok"))
      val lm = toks.groupBy("tok").agg(count(lit(1)).as("c"))
        .withColumn("total", sum("c").over(Window.partitionBy()))
      toks.join(lm, "tok")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          TextAnalysis.roundStable(
            avg(log(col("c").cast("double") / col("total"))), 6)
            .as("avg_logprob"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents),
    lm AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1),
    t AS (SELECT sum(c) AS total FROM lm)
    SELECT doc_id, count(*) AS n_tokens,
      floor(avg(ln(c / total)) * 1000000.0 + 0.5) / 1000000.0 AS avg_logprob
    FROM toks JOIN lm USING (tok), t
    GROUP BY doc_id ORDER BY doc_id"""))

  /** SemDeDup-style semantic dedup decision: connected components over
    * the exact label-blocked cosine ≥ 0.3 pair graph, keep one doc
    * (the min vec_id) per semantic cluster. Unlike q_dedup_cluster
    * (lexical pairs) this is the EMBEDDING-space keep/drop set, and
    * every vector appears in the output — singletons keep themselves.
    * Scale path: swap cosinePairs for cosineLshPairs (same schema);
    * the CC label propagation is O(diameter) rounds (see
    * Dedup.connectedComponents). */
  private val qSemDedup = Q(
    "q_semdedup",
    (s, d) => {
      val emb = t(s, d, "embeddings")
      val pairs = Dedup.cosinePairs(emb, threshold = 0.3).select("i", "j")
      val cc = Dedup.connectedComponents(pairs)
        .withColumnRenamed("doc_id", "vec_id")
      emb.select("vec_id").join(cc, Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("cluster_id"), col("vec_id")).as("cluster_id"))
        .withColumn("kept", col("vec_id") === col("cluster_id"))
        .orderBy("vec_id")
    },
    Some("""WITH RECURSIVE n AS (
      SELECT vec_id, label,
        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    m AS (
      SELECT vec_id, label, v,
        sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
      FROM n),
    pairs AS (
      SELECT a.vec_id AS i, b.vec_id AS j
      FROM m a JOIN m b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.3),
    sym AS (SELECT i AS v, j AS u FROM pairs
            UNION ALL SELECT j AS v, i AS u FROM pairs),
    reach AS (
      SELECT v, u FROM sym
      UNION
      SELECT r.v, s.u FROM reach r JOIN sym s ON r.u = s.v),
    lab AS (
      SELECT v AS vec_id, least(v, min(u)) AS cluster_id
      FROM reach GROUP BY v)
    SELECT m.vec_id,
      coalesce(lab.cluster_id, m.vec_id) AS cluster_id,
      coalesce(lab.cluster_id, m.vec_id) = m.vec_id AS kept
    FROM m LEFT JOIN lab ON lab.vec_id = m.vec_id
    ORDER BY m.vec_id"""))

  /** q_semdedup's full-corpus scale path: the SAME keep-set shape
    * (every vector appears; singletons keep themselves) but pairs come
    * from random-hyperplane LSH banding (Dedup.cosineLshPairs) instead
    * of the label-blocked exact join — no blocking column needed, so
    * this is the form that runs when no coarse cluster id exists.
    * 4 bands × 16 bits: random-pair candidate volume n²·4/2^16 (the
    * banding actually prunes), recall ≈ 1-(1-p^16)^4 with
    * p = 1-θ/π — ≈ 0.93 at cos 0.99, falling fast below 0.9: LSH
    * semantic dedup is a HIGH-threshold tool (the SemDeDup regime).
    * Precision is exact by construction (in-join cosine refine).
    *
    * ORACLE-CHECKABLE by a planted-twin fixture: the corpus is the
    * embeddings table unioned with an EXACT copy of itself at
    * vec_id+1000000. Identical vectors get identical band signatures
    * (the signature is a pure function of the vector), so every twin
    * pair is a candidate in every band — recall on the planted pairs
    * is exactly 1, not probabilistic. The max NATURAL pairwise cosine
    * in the testdata is ≤0.61 at every SF (measured), far below the
    * 0.9 threshold, so the LSH pair set provably equals the exact
    * ≥0.9 pair set and the keep-set matches a DuckDB recursive-CC
    * oracle bit-for-bit. Probabilistic natural-corpus recall stays
    * pinned in DedupSpec. */
  private val qSemDedupLsh = Q(
    "q_semdedup_lsh",
    (s, d) => {
      // vec_id < 1e6 bound keeps the twin offset collision-free at ANY
      // scale factor (a natural id >= 1e6 colliding with a twin id
      // would break the recall-1 argument); mirrored in the oracle.
      val emb = t(s, d, "embeddings")
        .filter(col("vec_id") < 1000000L)
        .select(col("vec_id"), col("embedding"))
      val twins = emb.select((col("vec_id") + lit(1000000L)).as("vec_id"),
        col("embedding"))
      val corpus = emb.unionByName(twins)
      val pairs = Dedup.cosineLshPairs(corpus, threshold = 0.9,
        bandBits = 16, numBands = 4).select("i", "j")
      val cc = Dedup.connectedComponents(pairs)
        .withColumnRenamed("doc_id", "vec_id")
      corpus.select("vec_id").join(cc, Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("cluster_id"), col("vec_id")).as("cluster_id"))
        .withColumn("kept", col("vec_id") === col("cluster_id"))
        .orderBy("vec_id")
    },
    Some("""WITH RECURSIVE base AS (
      SELECT vec_id,
        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE vec_id < 1000000
      UNION ALL
      SELECT vec_id + 1000000,
        list_transform(embedding, x -> CAST(x AS DOUBLE))
      FROM embeddings WHERE vec_id < 1000000),
    m AS (
      SELECT vec_id, v,
        sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
      FROM base),
    pairs AS (
      SELECT a.vec_id AS i, b.vec_id AS j
      FROM m a JOIN m b ON a.vec_id < b.vec_id
      WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.9),
    sym AS (SELECT i AS v, j AS u FROM pairs
            UNION ALL SELECT j AS v, i AS u FROM pairs),
    reach AS (
      SELECT v, u FROM sym
      UNION
      SELECT r.v, s.u FROM reach r JOIN sym s ON r.u = s.v),
    lab AS (
      SELECT v AS vec_id, least(v, min(u)) AS cluster_id
      FROM reach GROUP BY v)
    SELECT m.vec_id,
      coalesce(lab.cluster_id, m.vec_id) AS cluster_id,
      coalesce(lab.cluster_id, m.vec_id) = m.vec_id AS kept
    FROM m LEFT JOIN lab ON lab.vec_id = m.vec_id
    ORDER BY m.vec_id"""))

  /** Gopher-style composite quality filter: keep/reject + FIRST
    * failing rule per doc (token-count bounds, mean-word-length
    * bounds, stopword mass). Map-only, integer-only comparisons
    * (see TextAnalysis.gopherReject) — a quality gate must be
    * bit-stable across engines and runs or the training corpus
    * silently drifts. */
  private val qGopherFilter = Q(
    "q_gopher_filter",
    (s, d) => {
      val reason = TextAnalysis.gopherReject(col("text"))
      t(s, d, "documents")
        .select(col("doc_id"),
          size(split(lower(col("text")), " ")).cast("long").as("n_tokens"),
          reason.as("reject_reason"))
        .withColumn("keep", col("reject_reason").isNull)
        .orderBy("doc_id")
    },
    Some("""WITH m AS (
      SELECT doc_id,
        CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
        CAST(len(replace(text, ' ', '')) AS BIGINT) AS nonspace,
        CAST(len(list_filter(string_split(lower(text), ' '),
          tk -> tk IN ('the', 'a', 'of', 'to', 'and'))) AS BIGINT) AS n_stop
      FROM documents)
    SELECT doc_id, n_tokens,
      CASE WHEN n_tokens < 15 THEN 'too_short'
           WHEN n_tokens > 90 THEN 'too_long'
           WHEN nonspace < 2 * n_tokens OR nonspace > 12 * n_tokens
             THEN 'word_length'
           WHEN n_stop * 50 < n_tokens THEN 'low_stopword'
           END AS reject_reason,
      CASE WHEN n_tokens < 15 THEN 'too_short'
           WHEN n_tokens > 90 THEN 'too_long'
           WHEN nonspace < 2 * n_tokens OR nonspace > 12 * n_tokens
             THEN 'word_length'
           WHEN n_stop * 50 < n_tokens THEN 'low_stopword'
           END IS NULL AS keep
    FROM m ORDER BY doc_id"""))

  /** Statistical aggregates per group — the stddev/correlation family
    * BigQuery would run for the reference's numeric KPI columns:
    * sample stddev of doc length and the length↔token-count
    * correlation per language. One scan, one map-side-combining agg;
    * 4-dp floor rounding absorbs the engine-dependent partial-merge
    * order of the double moments (the documented cross-engine float
    * limit). */
  private val qStatsAgg = Q(
    "q_stats_agg",
    (s, d) => t(s, d, "documents")
      .select(col("lang"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .groupBy("lang")
      // nanvl→NULL: Spark returns NaN for a singleton group's stddev
      // and a zero-variance corr where DuckDB returns NULL — latent
      // here (every lang has >1 varied doc) but a fixture regen or a
      // smaller SF must not flip the gate.
      .agg(count(lit(1)).as("n"),
        TextAnalysis.round4Stable(nanvl(stddev_samp(col("n_chars")),
          lit(null).cast("double"))).as("sd_chars"),
        TextAnalysis.round4Stable(nanvl(
          corr(col("n_chars"), col("n_tokens")),
          lit(null).cast("double"))).as("corr_chars_tokens"))
      .orderBy("lang"),
    Some("""SELECT lang, count(*) AS n,
      floor(stddev_samp(n_chars) * 10000.0 + 0.5) / 10000.0 AS sd_chars,
      floor(corr(n_chars, len(string_split(text, ' '))) * 10000.0 + 0.5)
        / 10000.0 AS corr_chars_tokens
    FROM documents GROUP BY lang ORDER BY lang"""))

  /** Interval-overlap join: per customer, pairs of (even, odd) order
    * intervals [o_orderdate, +key%5 days] that intersect — the
    * meeting/booking-conflict shape. Time-bucket equi-join with the
    * first-shared-bucket trick (each pair emitted exactly once, no
    * dedup shuffle); oracle is the plain inequality join. */
  private val qIntervalOverlap = Q(
    "q_interval_overlap",
    (s, d) => {
      val iv = t(s, d, "orders").select(
        col("o_orderkey").as("k"), col("o_custkey").as("cust"),
        col("o_orderdate").as("start_ts"),
        (col("o_orderdate")
          + pmod(col("o_orderkey"), lit(5)) * expr("INTERVAL 1 DAY"))
          .as("end_ts"))
      val left = iv.filter(pmod(col("k"), lit(2)) === 0)
        .withColumnRenamed("k", "lk")
      val right = iv.filter(pmod(col("k"), lit(2)) === 1)
        .withColumnRenamed("k", "rk")
        .withColumnRenamed("start_ts", "r_start")
        .withColumnRenamed("end_ts", "r_end")
      TemporalJoins.overlapJoin(left, right, Seq("cust"),
          "start_ts", "end_ts", "r_start", "r_end",
          bucketSeconds = 4L * 86400L)
        .select(col("cust"), col("lk"), col("rk"))
        .orderBy("cust", "lk", "rk")
    },
    Some("""WITH iv AS (
      SELECT o_orderkey AS k, o_custkey AS cust, o_orderdate AS s,
        o_orderdate + INTERVAL ((o_orderkey % 5)) DAY AS e
      FROM orders)
    SELECT a.cust AS cust, a.k AS lk, b.k AS rk
    FROM iv a JOIN iv b
      ON a.cust = b.cust AND a.k % 2 = 0 AND b.k % 2 = 1
      AND a.s <= b.e AND b.s <= a.e
    ORDER BY a.cust, lk, rk"""))

  /** Inter-document duplicated-n-gram mass (the RefinedWeb/Dolma
    * "dup_ngram_frac" quality signal): per doc, the fraction of its
    * 5-word-gram POSITIONS whose gram also occurs in at least one
    * OTHER document. Distinct from q_repetition_stats (intra-doc
    * repetition) and q_decontaminate (eval-set containment) — this is
    * the corpus-wide duplication pressure on each doc.
    *
    * Scale shape: grams are hashed row-locally by the native one-pass
    * WordGramHashes (8-byte keys — no gram STRING ever leaves the
    * scan), then combined to per-(doc, gram) counts BEFORE the
    * document-frequency aggregation, so the gram→df shuffle moves one
    * row per distinct (doc, gram), not one per position. df joins back
    * on the same gram key and the final per-doc agg re-shuffles only
    * (doc_id, counts). Three shuffles, all on 8-byte keys — inherent
    * to a corpus-frequency signal. Hashed vs oracle string grams: the
    * documented 2^-64 collision trade. */
  private val qDupNgramFrac = Q(
    "q_dup_ngram_frac",
    (s, d) => {
      val docs = t(s, d, "documents")
      val grams = docs.select(col("doc_id"),
        explode(graft.plans.GraftFunctions.wordGramHashes(
          lower(col("text")), 5)).as("gh"))
      val perDoc = grams.groupBy("doc_id", "gh")
        .agg(count(lit(1)).as("c"))
      val df = perDoc.groupBy("gh")
        .agg(count(lit(1)).as("df"))
      val agg = perDoc.join(df, "gh")
        .groupBy("doc_id")
        .agg(sum("c").as("n_grams"),
          sum(when(col("df") >= 2, col("c")).otherwise(lit(0L)))
            .as("dup_grams"))
      docs.select("doc_id").join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_grams"), lit(0L)).as("n_grams"),
          coalesce(col("dup_grams"), lit(0L)).as("dup_grams"))
        .withColumn("dup_frac",
          when(col("n_grams") === 0, lit(null).cast("double"))
            .otherwise(TextAnalysis.roundStable(
              col("dup_grams").cast("double") / col("n_grams"), 6)))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
    g AS (
      SELECT doc_id, unnest(CASE WHEN len(t) >= 5
        THEN list_transform(range(1, len(t) - 3),
          i -> array_to_string(t[i:i+4], ' '))
        ELSE []::VARCHAR[] END) AS s
      FROM toks),
    pg AS (SELECT doc_id, s, count(*) AS c FROM g GROUP BY 1, 2),
    df AS (SELECT s, count(*) AS df FROM pg GROUP BY 1),
    agg AS (
      SELECT pg.doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
        CAST(sum(CASE WHEN df >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup_grams
      FROM pg JOIN df USING (s) GROUP BY 1)
    SELECT d.doc_id,
      coalesce(n_grams, 0) AS n_grams,
      coalesce(dup_grams, 0) AS dup_grams,
      CASE WHEN coalesce(n_grams, 0) = 0 THEN NULL
           ELSE floor(dup_grams * 1000000.0 / n_grams + 0.5) / 1000000.0
      END AS dup_frac
    FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id
    ORDER BY d.doc_id"""))

  /** Passage-level exact dedup (the C4 "remove duplicated spans" op,
    * over fixed 10-token chunks since the corpus has no sentence
    * boundaries): every doc's token stream is cut into consecutive
    * 10-token chunks, a chunk is KEPT only at its first occurrence
    * corpus-wide (first = min (doc_id, chunk_idx)), and each doc
    * reports how many of its chunks survive. This is the operator
    * that removes boilerplate/quoted passages without dropping whole
    * documents (q_dedup_exact's granularity).
    *
    * Scale shape: chunking is row-local (slice + xxhash64 inside one
    * projection — only the 8-byte chunk hash reaches the exchange,
    * never the chunk text); first-occurrence is one window per chunk
    * hash (parallelism = #distinct chunks); final per-doc agg
    * re-shuffles (doc_id, flag). Hash-vs-string chunks: the documented
    * 2^-64 trade. */
  private val qPassageDedup = Q(
    "q_passage_dedup",
    (s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
      val chunks = docs
        // (size+9) div 10 chunks; the last may be short. `div`, not
        // `/` (double) — and the hash covers the joined chunk text.
        .withColumn("ch", expr(
          """transform(sequence(0, cast((size(toks) + 9) div 10 as int) - 1),
               i -> xxhash64(array_join(slice(toks, i * 10 + 1, 10), ' ')))"""))
        .select(col("doc_id"), posexplode(col("ch")).as(Seq("chunk_idx", "h")))
      val w = Window.partitionBy("h").orderBy("doc_id", "chunk_idx")
      chunks
        .withColumn("kept", row_number().over(w) === 1)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
    g AS (
      SELECT doc_id, t, unnest(range(0, (len(t) + 9) // 10)) AS i
      FROM toks),
    ch AS (
      SELECT doc_id, i AS chunk_idx,
        array_to_string(t[i*10+1 : i*10+10], ' ') AS c
      FROM g),
    rn AS (
      SELECT doc_id, chunk_idx,
        row_number() OVER (PARTITION BY c ORDER BY doc_id, chunk_idx) AS rn
      FROM ch)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
      CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM rn GROUP BY 1 ORDER BY doc_id"""))

  /** Balanced training-shard assignment: docs ranked by token count
    * (desc, doc_id tiebreak) and dealt snake-wise into 8 shards —
    * the deterministic "cut the corpus into N equal shards" op (see
    * graft.operators.Ranking for why the rank is a histogram prefix
    * sum, NOT a single-partition row_number window: no global sort,
    * no sampling pass, reproducible at any partitioning). At sf0.001
    * the 8 shard token-totals land within 12 tokens of each other. */
  private val qShardAssign = Q(
    "q_shard_assign",
    (s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
      Ranking.snakeShards(docs, k = 8, value = col("n_tokens"),
          tie = col("doc_id"))
        .select(col("doc_id"), col("n_tokens"),
          col("rn").cast("long").as("rn"), col("shard"))
        .orderBy("doc_id")
    },
    Some("""WITH n AS (
      SELECT doc_id,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents),
    r AS (
      SELECT doc_id, n_tokens,
        row_number() OVER (ORDER BY n_tokens DESC, doc_id) AS rn
      FROM n)
    SELECT doc_id, n_tokens, CAST(rn AS BIGINT) AS rn,
      CAST(CASE WHEN (rn - 1) % 16 < 8 THEN (rn - 1) % 16
                ELSE 15 - ((rn - 1) % 16) END AS BIGINT) AS shard
    FROM r ORDER BY doc_id"""))

  /** Per-language unigram-distribution divergence from the corpus
    * (KL(P_lang ‖ P_corpus)) — the data-mixing diagnostic that says
    * which slices are linguistically far from the blend they're mixed
    * into. No smoothing needed: every lang token is a corpus token, so
    * P_corpus > 0 wherever P_lang > 0. Integer counts everywhere;
    * the single ln + weighted sum is the only float step, floor-
    * rounded at 6 dp (the documented cross-engine limit).
    *
    * Scale shape: one corpus scan → (lang, tok) counts (map-side
    * combined); the corpus-level token counts derive from THAT
    * aggregate (vocab-sized, not corpus-sized); lang totals ride as a
    * per-lang window over the same rows and the corpus total as an
    * unpartitioned window over the vocab table (q_unigram_logprob's
    * pattern). The final per-lang agg is #langs rows. */
  private val qLangDivergence = Q(
    "q_lang_divergence",
    (s, d) => {
      val lt = t(s, d, "documents")
        .select(col("lang"),
          explode(split(lower(col("text")), " ")).as("tok"))
        .groupBy("lang", "tok").agg(count(lit(1)).as("c"))
        .withColumn("lang_total", sum("c").over(Window.partitionBy("lang")))
      val ct = lt.groupBy("tok").agg(sum("c").as("cc"))
        .withColumn("corpus_total", sum("cc").over(Window.partitionBy()))
      val pl = col("c").cast("double") / col("lang_total")
      val pc = col("cc").cast("double") / col("corpus_total")
      lt.join(ct, "tok")
        .groupBy("lang")
        .agg(max("lang_total").as("n_tokens"),
          TextAnalysis.roundStable(sum(pl * log(pl / pc)), 6)
            .as("kl_vs_corpus"))
        .orderBy("lang")
    },
    Some("""WITH toks AS (
      SELECT lang, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents),
    lt AS (SELECT lang, tok, count(*) AS c FROM toks GROUP BY 1, 2),
    lsum AS (SELECT lang, sum(c) AS lang_total FROM lt GROUP BY 1),
    ct AS (SELECT tok, sum(c) AS cc FROM lt GROUP BY 1),
    tot AS (SELECT sum(cc) AS corpus_total FROM ct)
    SELECT lt.lang, CAST(max(lang_total) AS BIGINT) AS n_tokens,
      floor(sum((c * 1.0 / lang_total)
          * ln((c * 1.0 / lang_total) / (cc * 1.0 / corpus_total)))
        * 1000000.0 + 0.5) / 1000000.0 AS kl_vs_corpus
    FROM lt JOIN lsum USING (lang) JOIN ct USING (tok), tot
    GROUP BY lt.lang ORDER BY lt.lang"""))

  /** INCREMENTAL dedup — the epoch-ingest decision: new documents
    * (delta = doc_id ≡ 4 mod 5) checked against the existing corpus
    * (base = the rest), every delta doc stamped is_dup with its
    * canonical base match. Only CROSS pairs are generated
    * (Dedup.incrementalDupPairs: the banded MinHash join is
    * delta×base, so the base corpus is never self-joined and the
    * delta never meets itself) and the exact-Jaccard refine decides.
    * Oracle-valid for the same reason as q_minhash_cluster: banding
    * recall over exact ≥0.8 pairs is 1 on this corpus (DedupSpec),
    * and cross-pair candidates here are a superset of the est-gated
    * form's. The epoch-repeat shape (base signed ONCE into a bucketed
    * index, probe join exchange-free on the index side) is
    * Dedup.writeMinhashIndex / incrementalDupPairsIndexed, pinned
    * equivalent in ScaleOpsSpec. */
  private val qIncrementalDedup = Q(
    "q_incremental_dedup",
    (s, d) => {
      val docs = t(s, d, "documents")
      val isDelta = pmod(col("doc_id"), lit(5)) === 4
      val pairs = Dedup.incrementalDupPairs(
        docs.filter(!isDelta), docs.filter(isDelta), threshold = 0.8)
      val agg = pairs.groupBy("i")
        .agg(count(lit(1)).as("n_matches"),
          min("j").as("canonical"),
          max("jaccard").as("best_jaccard"))
        .withColumnRenamed("i", "doc_id")
      docs.filter(isDelta).select("doc_id")
        .join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          col("n_matches").isNotNull.as("is_dup"),
          coalesce(col("n_matches"), lit(0L)).as("n_matches"),
          col("canonical"), col("best_jaccard"))
        .orderBy("doc_id")
    },
    Some("""WITH sh AS (
      SELECT DISTINCT doc_id,
        unnest(CASE WHEN len(string_split(lower(text), ' ')) >= 5
          THEN list_transform(range(1, len(string_split(lower(text), ' ')) - 3),
            i -> array_to_string(string_split(lower(text), ' ')[i:i+4], ' '))
          ELSE []::VARCHAR[] END) AS s
      FROM documents),
    card AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
    com AS (
      SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS com
      FROM sh a JOIN sh b ON a.s = b.s
      WHERE a.doc_id % 5 = 4 AND b.doc_id % 5 <> 4
      GROUP BY 1, 2),
    m AS (
      SELECT i, j,
        floor(com * 1.0 / (ca.c + cb.c - com) * 1000000.0 + 0.5) / 1000000.0
          AS jac
      FROM com
      JOIN card ca ON ca.doc_id = i
      JOIN card cb ON cb.doc_id = j
      WHERE com * 1.0 / (ca.c + cb.c - com) >= 0.8),
    agg AS (
      SELECT i AS doc_id, CAST(count(*) AS BIGINT) AS n_matches,
        min(j) AS canonical, max(jac) AS best_jaccard
      FROM m GROUP BY 1)
    SELECT d.doc_id,
      agg.doc_id IS NOT NULL AS is_dup,
      coalesce(n_matches, 0) AS n_matches,
      canonical, best_jaccard
    FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id
    WHERE d.doc_id % 5 = 4
    ORDER BY d.doc_id"""))

  /** Int8 scalar quantization of the embedding corpus (the ANN
    * memory-compression step: 4 bytes/dim → 1): per-DIMENSION min/max
    * calibration over the corpus, code = floor((x-min)/scale + 0.5)
    * clamped to [0,255], plus per-vector reconstruction-error stats.
    * Oracle-exact where it matters: min/max are EXACT aggregates (no
    * float summation), so every code is the same integer on both
    * engines — pinned via the per-vector code_sum; only the error
    * means carry the documented floor-rounding float caveat.
    *
    * Scale shape: the calibration table is DIM-sized (64 rows — one
    * map-side-combined agg), broadcast back onto the dim stream; the
    * only corpus-sized shuffle is the final per-vector regroup. At
    * 100 TB the calibration broadcast is what makes this one pass +
    * one regroup instead of a driver-side collect. */
  private val qQuantizeEmbed = Q(
    "q_quantize_embed",
    (s, d) => {
      val dims = t(s, d, "embeddings")
        .select(col("vec_id"),
          posexplode(col("embedding")).as(Seq("dim", "xf")))
        .select(col("vec_id"), col("dim"), col("xf").cast("double").as("x"))
      val stats = dims.groupBy("dim")
        .agg(min("x").as("mn"), max("x").as("mx"))
      val scale = (col("mx") - col("mn")) / 255.0
      val code = when(col("mx") === col("mn"), lit(0L))
        .otherwise(greatest(lit(0L), least(lit(255L),
          floor((col("x") - col("mn")) / scale + 0.5).cast("long"))))
      val err = abs(col("x") - (col("mn") + col("code") * scale))
      dims.join(broadcast(stats), "dim")
        .withColumn("code", code)
        .withColumn("err", err)
        .groupBy("vec_id")
        .agg(count(lit(1)).as("n_dims"),
          sum("code").as("code_sum"),
          TextAnalysis.roundStable(max("err"), 6).as("max_abs_err"),
          TextAnalysis.roundStable(avg("err"), 6).as("mean_abs_err"))
        .orderBy("vec_id")
    },
    Some("""WITH dims AS (
      SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        generate_subscripts(embedding, 1) - 1 AS dim
      FROM embeddings),
    stats AS (
      SELECT dim, min(x) AS mn, max(x) AS mx FROM dims GROUP BY 1),
    q AS (
      SELECT vec_id, x, mn, mx,
        CASE WHEN mx = mn THEN 0
             ELSE greatest(0, least(255,
               CAST(floor((x - mn) / ((mx - mn) / 255.0) + 0.5) AS BIGINT)))
        END AS code
      FROM dims JOIN stats USING (dim)),
    e AS (
      SELECT vec_id, code,
        abs(x - (mn + code * ((mx - mn) / 255.0))) AS err
      FROM q)
    SELECT vec_id, CAST(count(*) AS BIGINT) AS n_dims,
      CAST(sum(code) AS BIGINT) AS code_sum,
      floor(max(err) * 1000000.0 + 0.5) / 1000000.0 AS max_abs_err,
      floor(avg(err) * 1000000.0 + 0.5) / 1000000.0 AS mean_abs_err
    FROM e GROUP BY 1 ORDER BY vec_id"""))

  /** FULL OUTER join — the reconciliation shape (which keys exist on
    * only one side): urgent-order counts ⟗ high-order counts per
    * customer, null-extended on both sides. Completes the outer-join
    * family (q_join_outer is LEFT). Both inputs are aggregates of the
    * same scan; Spark plans one exchange per side then a single
    * full-outer hash/merge join — at scale this is the standard
    * changed-keys diff between two snapshots. */
  private val qJoinFull = Q(
    "q_join_full",
    (s, d) => {
      val o = t(s, d, "orders")
      val a = o.filter(col("o_orderpriority") === "1-URGENT")
        .groupBy(col("o_custkey").as("custkey"))
        .agg(count(lit(1)).as("n_urgent"))
      val b = o.filter(col("o_orderpriority") === "2-HIGH")
        .groupBy(col("o_custkey").as("custkey"))
        .agg(count(lit(1)).as("n_high"))
      a.join(b, Seq("custkey"), "full_outer")
        .select(col("custkey"),
          coalesce(col("n_urgent"), lit(0L)).as("n_urgent"),
          coalesce(col("n_high"), lit(0L)).as("n_high"),
          when(col("n_urgent").isNull, lit("high_only"))
            .when(col("n_high").isNull, lit("urgent_only"))
            .otherwise(lit("both")).as("match_type"))
        .orderBy("custkey")
    },
    Some("""WITH a AS (
      SELECT o_custkey AS custkey, count(*) AS n_urgent FROM orders
      WHERE o_orderpriority = '1-URGENT' GROUP BY 1),
    b AS (
      SELECT o_custkey AS custkey, count(*) AS n_high FROM orders
      WHERE o_orderpriority = '2-HIGH' GROUP BY 1)
    SELECT coalesce(a.custkey, b.custkey) AS custkey,
      CAST(coalesce(n_urgent, 0) AS BIGINT) AS n_urgent,
      CAST(coalesce(n_high, 0) AS BIGINT) AS n_high,
      CASE WHEN a.custkey IS NULL THEN 'high_only'
           WHEN b.custkey IS NULL THEN 'urgent_only'
           ELSE 'both' END AS match_type
    FROM a FULL JOIN b ON a.custkey = b.custkey
    ORDER BY custkey"""))

  /** Percentile normalization — the curriculum-learning prep that maps
    * a raw per-doc signal (length here) onto its within-language
    * percentile: percent_rank + cume_dist over a TOTAL order
    * (doc_id tiebreak), plus the 4-way curriculum bin. The rank
    * ratios are small-integer divisions — identical doubles on both
    * engines — so the floor rounding is exact, and the bin boundary
    * derives from the same integers. One shuffle (the per-lang
    * window); parallelism = #langs, the usual shard-key caveat. */
  private val qPercentileNorm = Q(
    "q_percentile_norm",
    (s, d) => {
      val w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
      t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .withColumn("pr",
          TextAnalysis.roundStable(percent_rank().over(w), 6))
        .withColumn("cd",
          TextAnalysis.roundStable(cume_dist().over(w), 6))
        .withColumn("curriculum_bin",
          least(lit(3L), floor(percent_rank().over(w) * 4).cast("long")))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, lang, n_chars,
      floor(percent_rank() OVER (PARTITION BY lang ORDER BY n_chars, doc_id)
        * 1000000.0 + 0.5) / 1000000.0 AS pr,
      floor(cume_dist() OVER (PARTITION BY lang ORDER BY n_chars, doc_id)
        * 1000000.0 + 0.5) / 1000000.0 AS cd,
      least(3, CAST(floor(percent_rank() OVER
        (PARTITION BY lang ORDER BY n_chars, doc_id) * 4) AS BIGINT))
        AS curriculum_bin
    FROM documents ORDER BY doc_id"""))

  /** Asymmetric top-k over the QUANTIZED corpus — how search actually
    * runs after q_quantize_embed's compression: queries keep full
    * float precision, candidates are dequantized from their int8
    * codes (mn + code·scale), cosine in double. "Asymmetric" is the
    * standard trade: only the stored side pays quantization error.
    *
    * Cross-engine exactness chain: calibration min/max exact → codes
    * exact integers → dequantized values identical doubles → the only
    * float-order surface is the 64-term dot fold, same left-to-right
    * order both engines (the q_similarity_topk precedent), rounded
    * at 6 dp before the rank.
    *
    * Scale shape: the calibration collapses to ONE broadcast row of
    * (mns, mxs) arrays; dequantization is row-local; the ≤8 queries
    * broadcast; per-query ranking partitions by query_id. The corpus
    * is scanned once and never shuffled except the final rank. */
  private val qAnnQuantized = Q(
    "q_ann_quantized",
    (s, d) => {
      val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val stats = emb
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "xf")))
        .select(col("dim"), col("xf").cast("double").as("x"))
        .groupBy("dim").agg(min("x").as("mn"), max("x").as("mx"))
      val cal = stats.agg(
        expr("transform(array_sort(collect_list(struct(dim, mn))), s -> s.mn)")
          .as("mns"),
        expr("transform(array_sort(collect_list(struct(dim, mx))), s -> s.mx)")
          .as("mxs"))
      val deq = emb.crossJoin(broadcast(cal))
        .select(col("vec_id"),
          expr("""transform(sequence(0, size(embedding) - 1), i ->
              CASE WHEN mxs[i] = mns[i] THEN mns[i]
                   ELSE mns[i] + greatest(0L, least(255L,
                     cast(floor((cast(embedding[i] as double) - mns[i])
                       / ((mxs[i] - mns[i]) / 255.0) + 0.5) as bigint)))
                     * ((mxs[i] - mns[i]) / 255.0) END)""").as("cv"))
        .withColumn("cnrm",
          sqrt(expr("aggregate(cv, 0D, (acc, v) -> acc + v * v)")))
      val queries = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"),
          expr("transform(embedding, x -> cast(x as double))").as("qv"))
        .withColumn("qnrm",
          sqrt(expr("aggregate(qv, 0D, (acc, v) -> acc + v * v)")))
      val dot = expr(
        "aggregate(zip_with(qv, cv, (x, y) -> x * y), 0D, (acc, v) -> acc + v)")
      val scored = deq.join(broadcast(queries),
          col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("cand_id"),
          round(dot / (col("qnrm") * col("cnrm")), 6).as("cos_sim"))
      scored
        .withColumn("rk", row_number().over(
          Window.partitionBy("query_id")
            .orderBy(col("cos_sim").desc, col("cand_id").asc)))
        .filter(col("rk") <= 5)
        .orderBy("query_id", "rk")
    },
    Some("""WITH dims AS (
      SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        generate_subscripts(embedding, 1) - 1 AS dim
      FROM embeddings),
    stats AS (SELECT dim, min(x) AS mn, max(x) AS mx FROM dims GROUP BY 1),
    deqd AS (
      SELECT vec_id, dim,
        CASE WHEN mx = mn THEN mn
             ELSE mn + greatest(0, least(255,
               CAST(floor((x - mn) / ((mx - mn) / 255.0) + 0.5) AS BIGINT)))
               * ((mx - mn) / 255.0) END AS dx
      FROM dims JOIN stats USING (dim)),
    cand AS (
      SELECT vec_id, list(dx ORDER BY dim) AS cv FROM deqd GROUP BY 1),
    candn AS (
      SELECT vec_id, cv,
        sqrt(list_sum(list_transform(cv, v -> v * v))) AS cnrm FROM cand),
    q AS (
      SELECT vec_id AS query_id,
        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      FROM embeddings WHERE vec_id < 8),
    qn AS (
      SELECT query_id, qv,
        sqrt(list_sum(list_transform(qv, v -> v * v))) AS qnrm FROM q),
    sc AS (
      SELECT query_id, c.vec_id AS cand_id,
        round(list_dot_product(qv, cv) / (qnrm * cnrm), 6) AS cos_sim
      FROM qn JOIN candn c ON c.vec_id <> query_id),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id
      ORDER BY cos_sim DESC, cand_id ASC) AS rk FROM sc)
    SELECT query_id, cand_id, cos_sim, rk FROM r
    WHERE rk <= 5 ORDER BY query_id, rk"""))

  /** Bigram-LM document scoring (the KenLM-style quality filter, one
    * order up from q_unigram_logprob): per doc, the mean add-one-
    * smoothed conditional log-probability ln((c(w1,w2)+1)/(c(w1)+V))
    * under the corpus's own bigram counts. Low scores = text whose
    * word TRANSITIONS are unusual for the corpus — catches shuffled/
    * boilerplate text that unigram frequencies miss.
    *
    * Scale shape: bigram and prefix streams come from the native gram
    * hashers in ONE scan — the 2-gram hash array zipped row-locally
    * with the 1-gram prefix slice, so no token string and no window
    * ever shuffles; the LM tables (bigram counts, unigram counts) are
    * vocab-sized aggregates; V collapses to one broadcast row. Hashed
    * grams vs the oracle's strings: the documented 2^-64 trade. */
  private val qBigramLogprob = Q(
    "q_bigram_logprob",
    (s, d) => {
      val arrs = t(s, d, "documents").select(col("doc_id"),
        graft.plans.GraftFunctions.wordGramHashes(lower(col("text")), 1).as("a1"),
        graft.plans.GraftFunctions.wordGramHashes(lower(col("text")), 2).as("a2"))
        .withColumn("p1", expr("slice(a1, 1, size(a1) - 1)"))
      val bg = arrs
        .select(col("doc_id"), explode(arrays_zip(col("p1"), col("a2"))).as("z"))
        .select(col("doc_id"), col("z.p1").as("h1"), col("z.a2").as("g2"))
      val uni = arrs.select(col("doc_id"), explode(col("a1")).as("h1"))
      val bCounts = bg.groupBy("h1", "g2").agg(count(lit(1)).as("c12"))
      val uCounts = uni.groupBy("h1").agg(count(lit(1)).as("c1"))
      val vocab = uCounts.agg(count(lit(1)).as("v"))
      bg.join(bCounts, Seq("h1", "g2")).join(uCounts, "h1")
        .crossJoin(broadcast(vocab))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          TextAnalysis.roundStable(
            avg(log((col("c12") + lit(1.0)) / (col("c1") + col("v")))), 6)
            .as("avg_logprob"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
    bgf AS (
      SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM (
        SELECT doc_id, unnest(CASE WHEN len(t) >= 2
          THEN list_transform(range(1, len(t)),
            i -> struct_pack(w1 := t[i], w2 := t[i+1]))
          ELSE [] END) AS b
        FROM toks)),
    B AS (SELECT w1, w2, count(*) AS c12 FROM bgf GROUP BY 1, 2),
    U AS (SELECT tok AS w1, count(*) AS c1
          FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY 1),
    V AS (SELECT count(*) AS v FROM U)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      floor(avg(ln((c12 + 1.0) / (c1 + v))) * 1000000.0 + 0.5) / 1000000.0
        AS avg_logprob
    FROM bgf JOIN B USING (w1, w2) JOIN U USING (w1), V
    GROUP BY doc_id ORDER BY doc_id"""))

  /** Per-group top-k WITHOUT the window sort: the native
    * [[graft.plans.TopKByScore]] bounded-heap aggregate replaces
    * `row_number() OVER (PARTITION BY ... ORDER BY ...) <= k` — the
    * window form shuffles AND SORTS every row of every group, the
    * aggregate map-side-combines O(k) heaps so the exchange carries at
    * most groups x k entries at any corpus size. Exact and
    * partitioning-independent (total order (price DESC, orderkey ASC)
    * ⇒ unique keep-set), which is what makes the window oracle valid.
    * Raw stored doubles pass through unrounded — no arithmetic, no
    * boundary risk. */
  private val qGroupTopk = Q(
    "q_group_topk",
    (s, d) => {
      val orders = t(s, d, "orders")
      orders.groupBy("o_orderpriority")
        .agg(graft.plans.GraftFunctions.topKByScore(
          col("o_totalprice"), col("o_orderkey"), 3).as("top"))
        .select(col("o_orderpriority"), posexplode(col("top")).as(Seq("i", "e")))
        .select(col("o_orderpriority"),
          (col("i") + 1).cast("long").as("rnk"),
          col("e.id").as("o_orderkey"),
          col("e.score").as("price"))
        .orderBy("o_orderpriority", "rnk")
    },
    Some("""WITH r AS (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
        ROW_NUMBER() OVER (PARTITION BY o_orderpriority
          ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
      FROM orders)
    SELECT o_orderpriority, CAST(rnk AS BIGINT) AS rnk, o_orderkey,
      o_totalprice AS price
    FROM r WHERE rnk <= 3 ORDER BY o_orderpriority, rnk"""))

  /** Weighted sampling WITHOUT replacement per stratum — the
    * Efraimidis–Spirakis one-pass scheme (Inf. Proc. Letters 97(5),
    * 2006): each row draws u ∈ (0,1) and the k largest u^(1/w) per
    * group are the sample, exactly equivalent to sequential weighted
    * draws without replacement. This is THE distributed corpus
    * sampler (length-weighted doc selection, importance-weighted
    * mixture cuts): one scan, and because the selection key is
    * per-row, the per-group top-k is a single bounded-heap
    * TypedImperativeAggregate (the q_group_topk expression) — map-side
    * combined, no per-group window sort, nothing corpus-sized
    * shuffles. Determinism discipline: u comes from an integer mix of
    * doc_id both engines state identically, and the monotone
    * transform ln(u)/w replaces u^(1/w) (same order, better float
    * behavior), quantized at 1e-8 into a BIGINT key — the established
    * quantized-ln parity contract (q_zipf, q_price_elasticity), with
    * doc_id tiebreak. Weight = n_chars (length-weighted). */
  private val qWeightedSample = Q(
    "q_weighted_sample",
    (s, d) => {
      val u = (((col("doc_id") * 2654435761L) % 1000003L) + 1L)
        .cast("double") / 1000004.0
      val key = floor(log(u) / greatest(col("n_chars"), lit(1L))
        * 100000000.0).cast("long")
      t(s, d, "documents")
        .select(col("doc_id"), col("lang"), key.as("k"))
        .groupBy("lang")
        .agg(graft.plans.GraftFunctions.topKByScore(
          col("k").cast("double"), col("doc_id"), 10).as("top"))
        .select(col("lang"), posexplode(col("top")).as(Seq("i", "e")))
        .select(col("lang"), (col("i") + 1).cast("long").as("rnk"),
          col("e.id").as("doc_id"), col("e.score").cast("long").as("es_key"))
        .orderBy("lang", "rnk")
    },
    Some("""WITH k AS (
      SELECT doc_id, lang,
        CAST(floor(ln((((doc_id * 2654435761) % 1000003) + 1) / 1000004.0)
          / greatest(n_chars, 1) * 100000000.0) AS BIGINT) AS k
      FROM documents),
    r AS (SELECT lang, doc_id, k,
      ROW_NUMBER() OVER (PARTITION BY lang
        ORDER BY k DESC, doc_id ASC) AS rnk
      FROM k)
    SELECT lang, CAST(rnk AS BIGINT) AS rnk, doc_id, k AS es_key
    FROM r WHERE rnk <= 10 ORDER BY lang, rnk"""))

  /** Two-phase Bloom decontamination — q_decontaminate_flag's
    * semantics under the eval-set-outgrows-broadcast constraint: phase
    * 1 is a map-only probe of a ~12-bits-per-gram Bloom filter (5-6x
    * smaller than the sorted-set ship, no false negatives, ~0.5% false
    * positives), phase 2 exact-refines ONLY the flagged sliver via a
    * distributed gram equi-join against the eval gram rows — never
    * broadcasting the raw gram set at all. The composition is exact
    * (bloom can only over-flag; the refine removes the overshoot), so
    * the oracle is the same string-gram EXISTS semi-join as the
    * single-phase form, and any bloom false positive that changed the
    * output would fail the gate. Same one-sided 64-bit gram-hash
    * collision caveat as the rest of the family. */
  private val qBloomDecontaminate = Q(
    "q_bloom_decontaminate",
    (s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val isEval = pmod(col("doc_id"), lit(10)) === 0 &&
        col("doc_id") < 10000L
      val evalDocs = docs.filter(isEval)
      val grams = Decontaminate.collectEvalGrams(evalDocs, w = 6)
      val bits = Decontaminate.bloomBits(grams, bitsPerKey = 12, numHashes = 4)
      val train = docs.filter(!isEval)
      val cand = train.filter(
        Decontaminate.bloomCandidateFlag(col("text"), bits, w = 6))
      val candGrams = cand.select(col("doc_id"),
        explode(graft.plans.GraftFunctions.wordGramHashesDistinct(
          lower(col("text")), 6)).as("s"))
      val evalGrams = Dedup.hashedShingleRowsDistinct(evalDocs, 6)
        .select("s").distinct()
      val hits = candGrams.join(evalGrams, "s").select("doc_id").distinct()
      train.select("doc_id")
        .join(hits.withColumn("hit", lit(true)), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("hit"), lit(false)).as("contaminated"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
        unnest(CASE WHEN len(t) >= 6
          THEN list_transform(range(1, len(t) - 4),
            i -> array_to_string(t[i:i+5], ' '))
          ELSE []::VARCHAR[] END) AS s
      FROM toks),
    ev AS (SELECT DISTINCT s FROM sh
           WHERE doc_id % 10 = 0 AND doc_id < 10000),
    hits AS (SELECT DISTINCT tr.doc_id
             FROM sh tr JOIN ev USING (s)
             WHERE NOT (tr.doc_id % 10 = 0 AND tr.doc_id < 10000))
    SELECT d.doc_id, h.doc_id IS NOT NULL AS contaminated
    FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
    WHERE NOT (d.doc_id % 10 = 0 AND d.doc_id < 10000)
    ORDER BY d.doc_id"""))

  /** Fixed-iteration integer PageRank (graft.operators.Graph) over the
    * symmetrized supplier↔customer trade graph — the link-analysis
    * sibling of the CC family: 3 iterations, damping 85/100, ranks in
    * integer parts-per-1e9 with floor division throughout, so every
    * value is BIT-IDENTICAL across engines and partitionings (no
    * float-sum merge-order drift) and the DuckDB oracle is simply the
    * same recurrence unrolled. Top-20 via TakeOrderedAndProject. The
    * symmetrized edge list means no dangling nodes; distinct pairs
    * before symmetrization keep edge multiplicity out of the
    * transition weights. Node ids use a TAG BIT (supplier = 2·sk,
    * customer = 2·ck+1) rather than an additive offset — an offset
    * collides once the supplier key space outgrows it, silently
    * merging two real nodes; the tag encoding is collision-free at
    * every scale. */
  private val qLinkRank = Q(
    "q_link_rank",
    (s, d) => {
      // The symmetrized trade edge list is MATERIALIZED once per
      // (session, dir), bucketed by src — the same index discipline as
      // the co-purchase family. Two wins: (a) the lineitem⋈orders +
      // distinct build (the dominant cost of this query — its
      // iteration cost is ~flat) runs once, not once per bench rep /
      // consumer; (b) every src-keyed step inside pageRankFixed (the
      // outdegree aggregate, the per-iteration contribution join)
      // reads the edge side pre-partitioned, so at scale only RANK
      // rows shuffle per iteration — the co-partitioned layout the
      // pageRankFixed scaladoc prescribes for web scale, made
      // physical.
      val table = materializedIndex(s, d, "graft_trade_edges", tbl => {
        val li = t(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        val ord = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
        val pairs = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
          .select(col("l_suppkey").as("sk"), col("o_custkey").as("ck")).distinct()
        val edges = pairs
          .select((col("sk") * 2L).as("src"), (col("ck") * 2L + 1L).as("dst"))
          .union(pairs.select((col("ck") * 2L + 1L).as("src"),
            (col("sk") * 2L).as("dst")))
        graft.sources.Warehouse.writeBucketed(edges, tbl, "src", 16)
      })
      Graph.pageRankFixed(s.table(table), iters = 3)
        .orderBy(col("r").desc, col("node").asc).limit(20)
    },
    Some("""WITH pairs AS (
      SELECT DISTINCT l.l_suppkey AS sk, o.o_custkey AS ck
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    e AS (
      SELECT sk * 2 AS src, ck * 2 + 1 AS dst FROM pairs
      UNION ALL
      SELECT ck * 2 + 1 AS src, sk * 2 AS dst FROM pairs),
    nodes AS (SELECT DISTINCT node FROM (
      SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e)),
    nn AS (SELECT count(*) AS n FROM nodes),
    deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
    r0 AS (SELECT node, 1000000000 // n AS r FROM nodes CROSS JOIN nn),
    i1 AS (SELECT e.dst AS node, CAST(sum(r0.r // deg.d) AS BIGINT) AS inc
           FROM e JOIN r0 ON e.src = r0.node JOIN deg ON deg.src = e.src
           GROUP BY e.dst),
    r1 AS (SELECT nodes.node, CAST(
             (15 * (1000000000 // n)) // 100
             + (85 * COALESCE(i1.inc, 0)) // 100 AS BIGINT) AS r
           FROM nodes CROSS JOIN nn LEFT JOIN i1 ON i1.node = nodes.node),
    i2 AS (SELECT e.dst AS node, CAST(sum(r1.r // deg.d) AS BIGINT) AS inc
           FROM e JOIN r1 ON e.src = r1.node JOIN deg ON deg.src = e.src
           GROUP BY e.dst),
    r2 AS (SELECT nodes.node, CAST(
             (15 * (1000000000 // n)) // 100
             + (85 * COALESCE(i2.inc, 0)) // 100 AS BIGINT) AS r
           FROM nodes CROSS JOIN nn LEFT JOIN i2 ON i2.node = nodes.node),
    i3 AS (SELECT e.dst AS node, CAST(sum(r2.r // deg.d) AS BIGINT) AS inc
           FROM e JOIN r2 ON e.src = r2.node JOIN deg ON deg.src = e.src
           GROUP BY e.dst),
    r3 AS (SELECT nodes.node, CAST(
             (15 * (1000000000 // n)) // 100
             + (85 * COALESCE(i3.inc, 0)) // 100 AS BIGINT) AS r
           FROM nodes CROSS JOIN nn LEFT JOIN i3 ON i3.node = nodes.node)
    SELECT node, r FROM r3 ORDER BY r DESC, node ASC LIMIT 20"""))

  /** Ordered-sequence funnel (view → click → purchase) per user — the
    * product-analytics query every event pipeline runs, in ONE
    * user-partitioned sort: stage-2/3 qualification ("a click AFTER
    * some view") rides as running-min windows over STRICTLY PRECEDING
    * rows (ROWS ... AND 1 PRECEDING over the deterministic (ts,
    * event_id) order), so the three window passes and the final
    * per-user aggregate all share one exchange + one sort — no
    * self-joins, no per-stage scans. At 100 TB this is the shape that
    * matters: funnel depth adds projections, never shuffles. */
  private val qFunnel = Q(
    "q_funnel",
    (s, d) => {
      val ev = t(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_type"), col("event_id"))
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val p1 = ev.withColumn("v_prev",
        min(when(col("event_type") === "view", col("ts"))).over(w))
      val p2 = p1.withColumn("c_prev",
        min(when(col("event_type") === "click" && col("v_prev").isNotNull,
          col("ts"))).over(w))
      p2.groupBy("user_id")
        .agg(
          min(when(col("event_type") === "view", col("ts"))).as("t_view"),
          min(when(col("event_type") === "click" && col("v_prev").isNotNull,
            col("ts"))).as("t_click"),
          min(when(col("event_type") === "purchase" && col("c_prev").isNotNull,
            col("ts"))).as("t_purchase"))
        .withColumn("stage",
          when(col("t_purchase").isNotNull, 3L)
            .when(col("t_click").isNotNull, 2L)
            .when(col("t_view").isNotNull, 1L).otherwise(0L))
        .orderBy("user_id")
    },
    Some("""WITH e AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, event_id
      FROM events),
    p1 AS (
      SELECT *, min(CASE WHEN event_type = 'view' THEN ts END) OVER
        (PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS v_prev
      FROM e),
    p2 AS (
      SELECT *, min(CASE WHEN event_type = 'click' AND v_prev IS NOT NULL
          THEN ts END) OVER
        (PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS c_prev
      FROM p1),
    agg AS (
      SELECT user_id,
        min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
        min(CASE WHEN event_type = 'click' AND v_prev IS NOT NULL
            THEN ts END) AS t_click,
        min(CASE WHEN event_type = 'purchase' AND c_prev IS NOT NULL
            THEN ts END) AS t_purchase
      FROM p2 GROUP BY user_id)
    SELECT user_id, t_view, t_click, t_purchase,
      CAST(CASE WHEN t_purchase IS NOT NULL THEN 3
           WHEN t_click IS NOT NULL THEN 2
           WHEN t_view IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS stage
    FROM agg ORDER BY user_id"""))

  /** Pairwise co-occurrence support + lift (the market-basket /
    * frequent-itemset pass-2 over per-user event-type sets): per-user
    * DISTINCT types collect into a bounded set (the event vocabulary,
    * dozens at most), pairs expand ROW-LOCALLY via a double explode
    * with a < b — never a corpus self-join — and lift's
    * integer-ratio-of-counts rides the floor rounding form on both
    * engines. Scale: the pair stream is users x C(t,2) with t bounded,
    * the type-marginal dims are vocabulary-sized (AQE broadcasts), the
    * user-count single-row is explicit-broadcast. */
  private val qEventPairs = Q(
    "q_event_pairs",
    (s, d) => {
      val ev = t(s, d, "events").select(col("user_id"), col("event_type"))
      // Persisted: the per-user set table feeds the pair stream, the
      // type marginals AND the user count — without it each consumer
      // re-derives the aggregation from its own events scan.
      val sets = graft.operators.CacheRegistry.global.track(
        ev.groupBy("user_id").agg(collect_set("event_type").as("types"))
          .persist())
      val totals = sets.agg(count(lit(1)).as("n_users"))
      val pairs = sets
        .select(col("user_id"), explode(col("types")).as("a"), col("types"))
        .select(col("user_id"), col("a"), explode(col("types")).as("b"))
        .filter(col("a") < col("b"))
      // Type marginals from the SAME per-user sets — one events scan
      // total, and the exploded stream is users x t, not raw events.
      val perType = sets.select(explode(col("types")).as("event_type"))
        .groupBy("event_type").agg(count(lit(1)).as("n"))
      pairs.groupBy("a", "b").agg(count(lit(1)).as("n_both"))
        .join(perType.select(col("event_type").as("a"), col("n").as("n_a")), "a")
        .join(perType.select(col("event_type").as("b"), col("n").as("n_b")), "b")
        .crossJoin(broadcast(totals))
        .select(col("a"), col("b"), col("n_both"), col("n_a"), col("n_b"),
          TextAnalysis.roundStable(
            col("n_both") * col("n_users") / (col("n_a") * col("n_b")), 6)
            .as("lift"))
        .orderBy("a", "b")
    },
    Some("""WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    tot AS (SELECT count(DISTINCT user_id) AS n_users FROM events),
    pt AS (SELECT event_type, count(*) AS n FROM ut GROUP BY 1),
    pr AS (SELECT a.user_id, a.event_type AS a, b.event_type AS b
           FROM ut a JOIN ut b
             ON a.user_id = b.user_id AND a.event_type < b.event_type),
    pc AS (SELECT a, b, count(*) AS n_both FROM pr GROUP BY 1, 2)
    SELECT pc.a, pc.b, pc.n_both, pa.n AS n_a, pb.n AS n_b,
      floor((pc.n_both * tot.n_users / (pa.n * pb.n)) * 1000000.0 + 0.5)
        / 1000000.0 AS lift
    FROM pc JOIN pt pa ON pa.event_type = pc.a
         JOIN pt pb ON pb.event_type = pc.b
         CROSS JOIN tot
    ORDER BY a, b"""))

  /** CDC/upsert compaction — latest row per key, the merge-on-read
    * collapse every change-data pipeline runs: `max_by(payload,
    * (ts, event_id))` is a DECLARATIVE aggregate (map-side combined,
    * one value per key per partition enters the exchange), not the
    * window row_number() form that shuffles and sorts every version of
    * every key. The (ts, event_id) struct order is total (event_id
    * unique), so the winner is engine- and partitioning-independent.
    * Oracle uses the window form — the semantics are identical, which
    * is the point. */
  private val qUpsertLatest = Q(
    "q_upsert_latest",
    (s, d) => t(s, d, "events")
      .groupBy("user_id")
      .agg(
        max_by(struct(col("event_type"), col("value"), col("ts"),
          col("event_id")), struct(col("ts"), col("event_id"))).as("last"),
        count(lit(1)).as("n_versions"))
      .select(col("user_id"),
        col("last.event_type").as("last_type"),
        col("last.value").as("last_value"),
        col("last.ts").as("last_ts"),
        col("last.event_id").as("last_event_id"),
        col("n_versions"))
      .orderBy("user_id"),
    Some("""WITH e AS (
      SELECT user_id, event_type, value, CAST(ts AS TIMESTAMP) AS ts,
        event_id,
        ROW_NUMBER() OVER (PARTITION BY user_id
          ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn,
        count(*) OVER (PARTITION BY user_id) AS n_versions
      FROM events)
    SELECT user_id, event_type AS last_type, value AS last_value,
      ts AS last_ts, event_id AS last_event_id, n_versions
    FROM e WHERE rn = 1 ORDER BY user_id"""))

  /** RAG-style document chunking: fixed 64-token windows at stride 48
    * (16-token overlap), entirely MAP-ONLY — the chunk index rides an
    * exploded `sequence()` bounded by n/48 per document, the slice and
    * its fingerprint are row-local, and the only exchange in the plan
    * is the output ordering. The md5 of the space-joined token slice
    * gives both engines a content fingerprint without shipping chunk
    * text through the comparator. */
  private val qChunk = Q(
    "q_chunk",
    (s, d) => t(s, d, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n", size(col("toks")))
      .select(col("doc_id"), col("toks"), col("n"),
        explode(sequence(lit(0L),
          expr("CAST((n - 1) div 48 AS BIGINT)"))).as("ci"))
      .select(col("doc_id"), col("ci"),
        size(slice(col("toks"), (col("ci") * 48 + 1).cast("int"), lit(64)))
          .cast("long").as("chunk_tokens"),
        md5(concat_ws(" ",
          slice(col("toks"), (col("ci") * 48 + 1).cast("int"), lit(64))))
          .as("chunk_md5"))
      .orderBy("doc_id", "ci"),
    Some("""WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t,
        len(string_split(text, ' ')) AS n
      FROM documents),
    ch AS (
      SELECT doc_id, unnest(range(0, (n - 1) // 48 + 1)) AS ci, t, n
      FROM toks)
    SELECT doc_id, ci,
      CAST(len(t[ci * 48 + 1 : ci * 48 + 64]) AS BIGINT) AS chunk_tokens,
      md5(array_to_string(t[ci * 48 + 1 : ci * 48 + 64], ' ')) AS chunk_md5
    FROM ch ORDER BY doc_id, ci"""))

  /** Robust outlier detection (median + MAD, the anomaly gate that
    * survives the outliers it hunts — mean/stddev would be dragged by
    * them): two inherently-sequential passes — median per group, then
    * the median of absolute deviations, then the 3σ-equivalent cut
    * (4.4478 = 3·1.4826, the normal-consistency constant, written as
    * ONE literal on both engines so no multiplication-order drift).
    * Exact percentile ≡ quantile_cont parity is the q_quantile
    * precedent; med/mad round to 4 dp for display while the outlier
    * comparison uses the unrounded values on BOTH sides (an ulp-level
    * interpolation difference could only flip a row sitting within an
    * ulp of the cut — the fixtures sit clear). The group dimension is
    * vocabulary-sized so the median state is bounded; at corpus scale
    * swap percentile for approx_percentile (q_approx_quantile is the
    * sketch twin) and persist the deviation stream instead of
    * re-deriving it per pass. Display rounding uses roundStable (the
    * floor form, identical expression both engines) — Spark's round()
    * is exact-BigDecimal HALF_UP while DuckDB's multiplies in floats,
    * and a 4-dp boundary case can flip between them. */
  private val qMadOutlier = Q(
    "q_mad_outlier",
    (s, d) => {
      val ev = t(s, d, "events").select(col("event_type"), col("value"))
      val med = ev.groupBy("event_type")
        .agg(expr("percentile(value, 0.5D)").as("med"))
      val dev = ev.join(broadcast(med), "event_type")
        .withColumn("adev", abs(col("value") - col("med")))
      val mad = dev.groupBy("event_type")
        .agg(expr("percentile(adev, 0.5D)").as("mad"))
      dev.join(broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(TextAnalysis.roundStable(min(col("med")), 4).as("med_val"),
          TextAnalysis.roundStable(min(col("mad")), 4).as("mad_val"),
          count(lit(1)).as("n"),
          sum(when(col("adev") > lit(4.4478) * col("mad"), 1L).otherwise(0L))
            .as("n_outliers"))
        .orderBy("event_type")
    },
    Some("""WITH e AS (SELECT event_type, value FROM events),
    med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
            FROM e GROUP BY 1),
    dev AS (SELECT e.event_type, e.value, med.med,
              abs(e.value - med.med) AS adev
            FROM e JOIN med USING (event_type)),
    mad AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad
            FROM dev GROUP BY 1)
    SELECT dev.event_type,
      floor(min(dev.med) * 10000.0 + 0.5) / 10000.0 AS med_val,
      floor(min(mad.mad) * 10000.0 + 0.5) / 10000.0 AS mad_val,
      count(*) AS n,
      CAST(sum(CASE WHEN dev.adev > 4.4478 * mad.mad THEN 1 ELSE 0 END)
        AS BIGINT) AS n_outliers
    FROM dev JOIN mad USING (event_type)
    GROUP BY 1 ORDER BY event_type"""))

  /** Time-series gap fill (resampling): per-user DAILY purchase counts
    * with explicit zeros for silent days inside each user's own
    * [first, last] activity span — the densification every
    * forecasting/feature pipeline needs before a rolling window, done
    * without a calendar dimension table: the day spine EXPLODES from a
    * per-key sequence() (bounded by that key's span, map-local after a
    * key-partitioned min/max) and left-joins the sparse counts on the
    * same key — co-partitioned, no corpus-wide calendar product.
    * Integer counts ⇒ exact cross-engine. */
  private val qGapFill = Q(
    "q_gap_fill",
    (s, d) => {
      val ev = t(s, d, "events").select(col("user_id"),
        to_date(col("ts")).as("day"), col("event_type"))
      val spine = ev.groupBy("user_id")
        .agg(min("day").as("d0"), max("day").as("d1"))
        .select(col("user_id"),
          explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id", "day").agg(count(lit(1)).as("n"))
      spine.join(purchases, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"),
          coalesce(col("n"), lit(0L)).as("n_purchases"))
        .orderBy("user_id", "day")
    },
    Some("""WITH e AS (
      SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, event_type
      FROM events),
    span AS (SELECT user_id, min(day) AS d0, max(day) AS d1
             FROM e GROUP BY 1),
    days AS (SELECT user_id,
               CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
                 CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
             FROM span),
    p AS (SELECT user_id, day, count(*) AS n FROM e
          WHERE event_type = 'purchase' GROUP BY 1, 2)
    SELECT days.user_id, days.day,
      CAST(COALESCE(p.n, 0) AS BIGINT) AS n_purchases
    FROM days LEFT JOIN p USING (user_id, day)
    ORDER BY user_id, day"""))

  /** Cohort retention matrix — the other half of product analytics
    * next to q_funnel: users cohorted by FIRST active ISO week, the
    * (cohort, week-offset) cells counting distinct active users, plus
    * the retention ratio against the offset-0 cohort size. ONE corpus
    * exchange total: per-user distinct weeks collect into a bounded
    * set (≤52/year — the state bound), the cohort is a ROW-LOCAL
    * array_min over that set (no second aggregation, no join back),
    * and the matrix aggregate map-side-combines users x weeks rows
    * down to weeks² cells. The matrix persists so the offset-0 size
    * column doesn't re-derive the corpus subtree (the join-back form
    * scanned events 4x). Integer day arithmetic for the offset,
    * floor-rounded ratio — exact cross-engine. */
  private val qRetention = Q(
    "q_retention",
    (s, d) => {
      val sets = t(s, d, "events")
        .select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("wk"))
        .groupBy("user_id").agg(collect_set("wk").as("wks"))
      val joined = sets
        .select(array_min(col("wks")).as("cohort"), explode(col("wks")).as("wk"))
        .select(col("cohort"),
          expr("CAST(datediff(wk, cohort) div 7 AS BIGINT)").as("offset_weeks"))
      val counts = graft.operators.CacheRegistry.global.track(
        joined.groupBy("cohort", "offset_weeks")
          .agg(count(lit(1)).as("n_active")).persist())
      val sizes = counts.filter(col("offset_weeks") === 0)
        .select(col("cohort"), col("n_active").as("cohort_size"))
      counts.join(broadcast(sizes), "cohort")
        .select(col("cohort"), col("offset_weeks"), col("n_active"),
          col("cohort_size"),
          TextAnalysis.roundStable(
            col("n_active") / col("cohort_size"), 4).as("retention"))
        .orderBy("cohort", "offset_weeks")
    },
    Some("""WITH e AS (
      SELECT DISTINCT user_id,
        CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS wk
      FROM events),
    c AS (SELECT user_id, min(wk) AS cohort FROM e GROUP BY 1),
    j AS (SELECT c.cohort,
            date_diff('day', c.cohort, e.wk) // 7 AS offset_weeks
          FROM e JOIN c USING (user_id)),
    n AS (SELECT cohort, offset_weeks, count(*) AS n_active
          FROM j GROUP BY 1, 2),
    s AS (SELECT cohort, n_active AS cohort_size FROM n
          WHERE offset_weeks = 0)
    SELECT n.cohort, CAST(n.offset_weeks AS BIGINT) AS offset_weeks,
      n.n_active, s.cohort_size,
      floor((n.n_active / s.cohort_size) * 10000.0 + 0.5) / 10000.0
        AS retention
    FROM n JOIN s USING (cohort) ORDER BY cohort, offset_weeks"""))

  /** Running DISTINCT count over an ordered stream — the window form
    * Spark has no built-in for (COUNT(DISTINCT) OVER is unsupported):
    * decomposed into first-occurrence flags + a running sum, the
    * standard O(1)-state rewrite. Both windows partition by user_id,
    * so the whole query is ONE exchange and two in-partition sorts —
    * no per-row distinct set is materialized anywhere (the naive
    * collect_set-over-frame form carries a growing array per row).
    * The first-occurrence flag comes from a (type, ts) ordering — the
    * earliest event of each (user, type) — and the running sum
    * re-sorts by event time. Integer output ⇒ exact cross-engine. */
  private val qRunningDistinct = Q(
    "q_running_distinct",
    (s, d) => {
      val ev = t(s, d, "events")
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      val wType = Window.partitionBy("user_id")
        .orderBy(col("event_type").asc, col("ts").asc, col("event_id").asc)
      val wTime = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val prev = lag(col("event_type"), 1).over(wType)
      ev.withColumn("is_first",
          when(prev.isNull || prev =!= col("event_type"), 1L).otherwise(0L))
        .withColumn("n_types_so_far", sum(col("is_first")).over(wTime))
        .select("user_id", "event_id", "event_type", "n_types_so_far")
        .orderBy("user_id", "event_id")
    },
    Some("""WITH e AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
      FROM events),
    f AS (SELECT user_id, event_id, ts, event_type,
        CASE WHEN lag(event_type) OVER (PARTITION BY user_id
            ORDER BY event_type, ts, event_id)
          IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS is_first
      FROM e)
    SELECT user_id, event_id, event_type,
      CAST(sum(is_first) OVER (PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        AS n_types_so_far
    FROM f ORDER BY user_id, event_id"""))

  /** Markov transition matrix over per-user event sequences (the
    * next-event model behind session recommendation and anomaly
    * scoring): lead() pairs each event with its successor in ONE
    * user-partitioned window pass, the (from, to) counts collapse to a
    * vocabulary² table (map-side combined), and the row-normalizing
    * marginal rides a window sum over that tiny table — no join back,
    * no second corpus pass. The probability is a ratio of exact
    * integers, floor-rounded identically on both engines. */
  private val qTransition = Q(
    "q_transition",
    (s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      val counts = t(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
      counts
        .withColumn("n_from",
          sum(col("n")).over(Window.partitionBy("from_type")))
        .select(col("from_type"), col("to_type"), col("n"), col("n_from"),
          TextAnalysis.roundStable(col("n") / col("n_from"), 6).as("p"))
        .orderBy("from_type", "to_type")
    },
    Some("""WITH e AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
      FROM events),
    pr AS (SELECT event_type AS from_type,
        lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
          AS to_type
      FROM e),
    c AS (SELECT from_type, to_type, count(*) AS n FROM pr
          WHERE to_type IS NOT NULL GROUP BY 1, 2)
    SELECT from_type, to_type, n,
      CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS n_from,
      floor((n / CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT))
        * 1000000.0 + 0.5) / 1000000.0 AS p
    FROM c ORDER BY from_type, to_type"""))

  /** RFM segmentation (recency / frequency / monetary quintiles — the
    * classic customer-scoring pass): per-customer metrics reduce in
    * one groupBy (monetary summed in DECIMAL so the double is
    * bit-identical cross-engine, the q_window_running rule), the
    * corpus max-date and the three quintile threshold vectors are
    * SINGLE-ROW aggregates broadcast back, and the binning itself is
    * map-only comparisons — the big table never shuffles again after
    * the one per-customer aggregation. Exact percentile keeps the
    * oracle honest (≡ quantile_cont, the q_quantile precedent); at
    * corpus scale swap approx_percentile in for the threshold pass —
    * the plan shape (tiny broadcast thresholds, map-only bin) is the
    * part that must survive. Bins are ascending (1 = lowest quintile);
    * presentation-layer score flips (recency: low = good) are left to
    * the caller. */
  private val qRfm = Q(
    "q_rfm",
    (s, d) => {
      val o = t(s, d, "orders").select(col("o_custkey"),
        to_date(col("o_orderdate")).as("day"), col("o_totalprice"))
      val m = graft.operators.CacheRegistry.global.track(
        o.groupBy("o_custkey").agg(
          max("day").as("d_last"),
          count(lit(1)).as("frequency"),
          sum(col("o_totalprice").cast("decimal(18,6)")).as("mon"))
          .persist())
      val dmax = m.agg(max("d_last").as("d_max"))
      val met = m.crossJoin(broadcast(dmax))
        .select(col("o_custkey"),
          datediff(col("d_max"), col("d_last")).cast("long").as("recency_days"),
          col("frequency"), col("mon").cast("double").as("monetary"))
      val th = met.agg(
        expr("percentile(recency_days, array(0.2D, 0.4D, 0.6D, 0.8D))").as("rt"),
        expr("percentile(frequency, array(0.2D, 0.4D, 0.6D, 0.8D))").as("ft"),
        expr("percentile(monetary, array(0.2D, 0.4D, 0.6D, 0.8D))").as("mt"))
      def bin(v: Column, thr: Column): Column =
        lit(1L) + (v > element_at(thr, 1)).cast("long") +
          (v > element_at(thr, 2)).cast("long") +
          (v > element_at(thr, 3)).cast("long") +
          (v > element_at(thr, 4)).cast("long")
      met.crossJoin(broadcast(th))
        .select(col("o_custkey"), col("recency_days"), col("frequency"),
          col("monetary"),
          bin(col("recency_days"), col("rt")).as("r_bin"),
          bin(col("frequency"), col("ft")).as("f_bin"),
          bin(col("monetary"), col("mt")).as("m_bin"))
        .orderBy("o_custkey")
    },
    Some("""WITH o AS (
      SELECT o_custkey, CAST(o_orderdate AS DATE) AS day, o_totalprice
      FROM orders),
    m AS (SELECT o_custkey, max(day) AS d_last, count(*) AS frequency,
            CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
              AS monetary
          FROM o GROUP BY 1),
    mx AS (SELECT max(d_last) AS d_max FROM m),
    met AS (SELECT o_custkey,
            CAST(date_diff('day', d_last, mx.d_max) AS BIGINT)
              AS recency_days,
            frequency, monetary
          FROM m CROSS JOIN mx),
    th AS (SELECT quantile_cont(recency_days, [0.2, 0.4, 0.6, 0.8]) AS rt,
                  quantile_cont(frequency, [0.2, 0.4, 0.6, 0.8]) AS ft,
                  quantile_cont(monetary, [0.2, 0.4, 0.6, 0.8]) AS mt
           FROM met)
    SELECT o_custkey, recency_days, frequency, monetary,
      CAST(1 + CAST(recency_days > rt[1] AS INT)
             + CAST(recency_days > rt[2] AS INT)
             + CAST(recency_days > rt[3] AS INT)
             + CAST(recency_days > rt[4] AS INT) AS BIGINT) AS r_bin,
      CAST(1 + CAST(frequency > ft[1] AS INT)
             + CAST(frequency > ft[2] AS INT)
             + CAST(frequency > ft[3] AS INT)
             + CAST(frequency > ft[4] AS INT) AS BIGINT) AS f_bin,
      CAST(1 + CAST(monetary > mt[1] AS INT)
             + CAST(monetary > mt[2] AS INT)
             + CAST(monetary > mt[3] AS INT)
             + CAST(monetary > mt[4] AS INT) AS BIGINT) AS m_bin
    FROM met CROSS JOIN th ORDER BY o_custkey"""))

  /** Duplicate-cluster size histogram over a NORMALIZED content key
    * (sorted distinct token set — catches reordered/repeated-word
    * twins that byte-exact md5 misses; this corpus has token-set
    * clusters up to ~29 docs while being byte-exact-unique): the
    * aggregate-of-aggregates shape — per-key sizes reduce the corpus
    * to |clusters| rows, the histogram reduces that to a handful, and
    * the corpus-fraction denominator is a window sum over the
    * HISTOGRAM (a few rows — no second corpus pass, no broadcast
    * round-trip). The normalized key is row-local string work; only
    * the 32-byte digest enters the exchange. */
  private val qClusterSizes = Q(
    "q_cluster_sizes",
    (s, d) => {
      val key = md5(concat_ws(" ",
        sort_array(array_distinct(split(col("text"), " ")))))
      val hist = t(s, d, "documents")
        .groupBy(key.as("h")).agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
        .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
      hist
        .withColumn("total", sum(col("n_docs")).over(Window.partitionBy()))
        .select(col("cluster_size"), col("n_clusters"), col("n_docs"),
          TextAnalysis.roundStable(col("n_docs") / col("total"), 6)
            .as("corpus_frac"))
        .orderBy("cluster_size")
    },
    Some("""WITH c AS (
      SELECT md5(array_to_string(
               list_sort(list_distinct(string_split(text, ' '))), ' ')) AS h,
             count(*) AS cluster_size
      FROM documents GROUP BY 1),
    h AS (SELECT cluster_size, count(*) AS n_clusters FROM c GROUP BY 1)
    SELECT cluster_size, n_clusters,
      cluster_size * n_clusters AS n_docs,
      floor(((cluster_size * n_clusters)
          / CAST(sum(cluster_size * n_clusters) OVER () AS BIGINT))
        * 1000000.0 + 0.5) / 1000000.0 AS corpus_frac
    FROM h ORDER BY cluster_size"""))

  /** Rolling median (7-observation window) of daily event counts — the
    * robust trend line time-series monitoring wants where a rolling
    * MEAN is spike-dragged. Spark has no median-over-window: the
    * bounded ROWS frame makes the collect_list legitimate — ≤7
    * elements per row, sorted and interpolated ROW-LOCALLY (even
    * frames average the middle two, ≡ quantile_cont ties). The corpus
    * collapses to |types|×|days| rows in the daily aggregate first;
    * the window partitions by event_type (vocabulary-sized — same
    * contract as q_vocab_topk's pinned single-partition window).
    * Integer counts ⇒ the .5 halves are exact in both engines. */
  private val qRollingMedian = Q(
    "q_rolling_median",
    (s, d) => {
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(-6, 0)
      t(s, d, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
        .withColumn("a", sort_array(collect_list(col("n")).over(w)))
        .select(col("event_type"), col("day"), col("n"),
          when(size(col("a")) % 2 === 1,
            element_at(col("a"), expr("CAST((size(a) + 1) div 2 AS INT)"))
              .cast("double"))
            .otherwise(
              (element_at(col("a"), expr("CAST(size(a) div 2 AS INT)")) +
                element_at(col("a"), expr("CAST(size(a) div 2 + 1 AS INT)")))
                / 2.0)
            .as("med7"))
        .orderBy("event_type", "day")
    },
    Some("""WITH e AS (
      SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
      FROM events),
    dc AS (SELECT event_type, day, count(*) AS n FROM e GROUP BY 1, 2)
    SELECT event_type, day, n,
      CAST(median(n) OVER (PARTITION BY event_type ORDER BY day
        ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS med7
    FROM dc ORDER BY event_type, day"""))

  /** Activity streaks — gaps-and-islands (the pattern behind "longest
    * run of consecutive active days"): distinct (user, day) rows get a
    * per-user row_number in day order, and `day - rn` is CONSTANT
    * within a consecutive run — the island anchor. Two aggregations on
    * (user, anchor) then user. All exchanges carry (user, day)-sized
    * rows; the window and both groupBys cluster by user_id so AQE
    * coalesces the tiny tail. Integer/date arithmetic only ⇒ exact. */
  private val qStreak = Q(
    "q_streak",
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("day")
      t(s, d, "events")
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        .withColumn("anchor", date_sub(col("day"), row_number().over(w)))
        .groupBy("user_id", "anchor").agg(count(lit(1)).as("len"))
        .groupBy("user_id").agg(
          sum("len").as("n_active_days"),
          max("len").as("longest_streak"),
          count(lit(1)).as("n_streaks"))
        .orderBy("user_id")
    },
    Some("""WITH d AS (
      SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
      FROM events),
    g AS (SELECT user_id, day,
        day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
          AS INT) AS anchor
      FROM d),
    st AS (SELECT user_id, anchor, count(*) AS len FROM g GROUP BY 1, 2)
    SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
      max(len) AS longest_streak, count(*) AS n_streaks
    FROM st GROUP BY 1 ORDER BY user_id"""))

  /** Trailing rolling statistics (the lag-feature pass of feature
    * engineering): strictly-PRECEDING 10-event mean/std/z-score per
    * user — the 1-PRECEDING upper bound keeps the current point out of
    * its own baseline (no target leakage). EXACT cross-engine parity
    * for a windowed variance: both moments accumulate in DECIMAL
    * (order-independent, the q_window_running rule — v and v² are
    * doubles identical in both engines before quantization), and
    * every downstream double op (mean, sum-of-squares variance, sqrt,
    * z) is the SAME IEEE expression tree on both sides, so the
    * outputs are bit-identical with no rounding needed. One user
    * exchange; O(1) running state per row (Spark's frame sum adds/
    * subtracts decimals at the frame edges — no per-row rescan). The
    * greatest(…, 0) clamps catastrophic-cancellation negatives. */
  private val qRollingStats = Q(
    "q_rolling_stats",
    (s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(-10, -1)
      t(s, d, "events")
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
        .withColumn("n_w", count(col("value")).over(w))
        .withColumn("s1",
          sum(col("value").cast("decimal(18,6)")).over(w).cast("double"))
        .withColumn("s2",
          sum((col("value") * col("value")).cast("decimal(28,12)")).over(w)
            .cast("double"))
        .filter(col("n_w") >= 2)
        .withColumn("mean10", col("s1") / col("n_w"))
        .withColumn("std10",
          sqrt(greatest(
            (col("s2") - col("s1") * col("s1") / col("n_w"))
              / (col("n_w") - 1),
            lit(0.0))))
        .select(col("user_id"), col("event_id"), col("value"),
          col("mean10"), col("std10"),
          when(col("std10") > 0,
            (col("value") - col("mean10")) / col("std10")).as("z"))
        .orderBy("user_id", "event_id")
    },
    Some("""WITH e AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value
      FROM events),
    f AS (SELECT user_id, event_id, value,
        count(value) OVER w AS n_w,
        CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS s1,
        CAST(sum(CAST(value * value AS DECIMAL(28,12))) OVER w AS DOUBLE)
          AS s2
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)),
    g AS (SELECT user_id, event_id, value, n_w,
        s1 / n_w AS mean10,
        sqrt(greatest((s2 - s1 * s1 / n_w) / (n_w - 1), 0.0)) AS std10
      FROM f WHERE n_w >= 2)
    SELECT user_id, event_id, value, mean10, std10,
      CASE WHEN std10 > 0 THEN (value - mean10) / std10 END AS z
    FROM g ORDER BY user_id, event_id"""))

  /** Keep-best canonical dedup — the APPLY step after cluster
    * discovery (q_cluster_sizes finds the clusters; this picks the
    * survivor): within each normalized token-set cluster the longest
    * doc wins (doc_id tiebreak), via DECLARATIVE max_by over a
    * (n_chars, −doc_id) struct — map-side combined, one candidate per
    * cluster per partition enters the exchange, never a corpus-wide
    * window sort (the q_upsert_latest rule). The per-doc verdict joins
    * back on the 32-byte digest — both sides pre-projected to
    * (digest, scalars), so no text ever shuffles; the canonical table
    * this builds is exactly what a production dedup pass persists. */
  private val qDedupKeepBest = Q(
    "q_dedup_keep_best",
    (s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("n_chars"),
          md5(concat_ws(" ",
            sort_array(array_distinct(split(col("text"), " "))))).as("h"))
      val canon = docs.groupBy("h").agg(
        max_by(col("doc_id"), struct(col("n_chars"), -col("doc_id")))
          .as("canonical_id"),
        count(lit(1)).as("cluster_n"))
      docs.join(canon, "h")
        .select(col("doc_id"), col("canonical_id"), col("cluster_n"),
          (col("doc_id") === col("canonical_id")).cast("long").as("is_kept"))
        .orderBy("doc_id")
    },
    Some("""WITH k AS (
      SELECT doc_id, n_chars,
        md5(array_to_string(
          list_sort(list_distinct(string_split(text, ' '))), ' ')) AS h
      FROM documents),
    c AS (SELECT h, doc_id,
        row_number() OVER (PARTITION BY h
          ORDER BY n_chars DESC, doc_id ASC) AS rn,
        count(*) OVER (PARTITION BY h) AS cluster_n
      FROM k),
    canon AS (SELECT h, doc_id AS canonical_id, cluster_n
              FROM c WHERE rn = 1)
    SELECT k.doc_id, canon.canonical_id, canon.cluster_n,
      CAST(CASE WHEN k.doc_id = canon.canonical_id THEN 1 ELSE 0 END
        AS BIGINT) AS is_kept
    FROM k JOIN canon USING (h) ORDER BY k.doc_id"""))

  /** Day-of-week seasonality profile (the calendar fingerprint behind
    * staffing/capacity and anomaly baselines): daily counts reduce the
    * corpus to |types|×|days| first, then fold onto ISO weekday — an
    * aggregate-of-aggregates, both layers map-side combined; nothing
    * after the first reduction touches corpus cardinality. Weekday
    * numbering aligned explicitly: Spark weekday() is Monday=0, so +1
    * ≡ DuckDB isodow (Monday=1) — the classic silent cross-engine
    * calendar mismatch, pinned here. Integer-ratio average rides the
    * shared floor rounding. */
  private val qWeekdayProfile = Q(
    "q_weekday_profile",
    (s, d) => t(s, d, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("event_type"),
        (expr("weekday(day)") + 1).cast("long").as("dow"))
      .agg(sum("n").as("n_events"), count(lit(1)).as("n_days"),
        TextAnalysis.roundStable(
          sum(col("n")) / count(lit(1)), 4).as("avg_per_day"))
      .orderBy("event_type", "dow"),
    Some("""WITH e AS (
      SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
      FROM events),
    dc AS (SELECT event_type, day, count(*) AS n FROM e GROUP BY 1, 2)
    SELECT event_type, CAST(isodow(day) AS BIGINT) AS dow,
      CAST(sum(n) AS BIGINT) AS n_events, count(*) AS n_days,
      floor((CAST(sum(n) AS BIGINT) / count(*)) * 10000.0 + 0.5) / 10000.0
        AS avg_per_day
    FROM dc GROUP BY 1, 2 ORDER BY event_type, dow"""))

  /** Column profiling (the audit every ingest runs before trusting a
    * table): row count, null count and exact distinct count for five
    * representative lineitem columns, computed in ONE aggregate pass
    * (Catalyst plans multi-COUNT(DISTINCT) as a single Expand — one
    * scan, not five) and reshaped row-per-column with stack(), the
    * UNPIVOT operator the inventory otherwise lacks. At corpus scale
    * the exact distincts swap for approx_count_distinct
    * (q_approx_distinct is the sketch twin); the one-scan + unpivot
    * shape is the part that survives. Integer outputs ⇒ exact. */
  private val qNullProfile = Q(
    "q_null_profile",
    (s, d) => t(s, d, "lineitem")
      .agg(
        count(lit(1)).as("nr"),
        sum(col("l_quantity").isNull.cast("long")).as("nn_qty"),
        countDistinct(col("l_quantity")).as("nd_qty"),
        sum(col("l_discount").isNull.cast("long")).as("nn_disc"),
        countDistinct(col("l_discount")).as("nd_disc"),
        sum(col("l_returnflag").isNull.cast("long")).as("nn_rf"),
        countDistinct(col("l_returnflag")).as("nd_rf"),
        sum(col("l_shipdate").isNull.cast("long")).as("nn_sd"),
        countDistinct(col("l_shipdate")).as("nd_sd"),
        sum(col("l_partkey").isNull.cast("long")).as("nn_pk"),
        countDistinct(col("l_partkey")).as("nd_pk"))
      .select(expr("""stack(5,
          'l_discount',   nr, nn_disc, nd_disc,
          'l_partkey',    nr, nn_pk,   nd_pk,
          'l_quantity',   nr, nn_qty,  nd_qty,
          'l_returnflag', nr, nn_rf,   nd_rf,
          'l_shipdate',   nr, nn_sd,   nd_sd)
        AS (column_name, n_rows, n_null, n_distinct)"""))
      .orderBy("column_name"),
    Some("""WITH a AS (SELECT count(*) AS nr,
        sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS nn_qty,
        count(DISTINCT l_quantity) AS nd_qty,
        sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS nn_disc,
        count(DISTINCT l_discount) AS nd_disc,
        sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS nn_rf,
        count(DISTINCT l_returnflag) AS nd_rf,
        sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS nn_sd,
        count(DISTINCT l_shipdate) AS nd_sd,
        sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END) AS nn_pk,
        count(DISTINCT l_partkey) AS nd_pk
      FROM lineitem)
    SELECT * FROM (
      SELECT 'l_discount' AS column_name, nr AS n_rows,
        CAST(nn_disc AS BIGINT) AS n_null, nd_disc AS n_distinct FROM a
      UNION ALL SELECT 'l_partkey', nr, CAST(nn_pk AS BIGINT), nd_pk FROM a
      UNION ALL SELECT 'l_quantity', nr, CAST(nn_qty AS BIGINT), nd_qty FROM a
      UNION ALL SELECT 'l_returnflag', nr, CAST(nn_rf AS BIGINT), nd_rf FROM a
      UNION ALL SELECT 'l_shipdate', nr, CAST(nn_sd AS BIGINT), nd_sd FROM a)
    ORDER BY column_name"""))

  /** Key-skew audit — the measurement pass BEFORE choosing a join
    * strategy (q_skew_join is the mitigation; this is the detector
    * that tells you to salt): per-key counts reduce the fact table to
    * |keys| rows, then one summary row — hottest-key multiple of the
    * mean, p99/p50 count ratio, hot share of all rows. Exact
    * percentile over the per-key counts (≡ quantile_cont, the
    * q_quantile precedent; approx_percentile is the corpus-scale
    * swap). All ratios are identical IEEE expressions over exact
    * integers, floor-rounded on both sides. */
  private val qKeySkew = Q(
    "q_key_skew",
    (s, d) => t(s, d, "lineitem")
      .groupBy("l_partkey").agg(count(lit(1)).as("cnt"))
      .agg(
        count(lit(1)).as("n_keys"),
        sum("cnt").as("n_rows"),
        max("cnt").as("max_cnt"),
        expr("percentile(cnt, 0.5D)").as("p50"),
        expr("percentile(cnt, 0.99D)").as("p99"))
      .select(col("n_keys"), col("n_rows"), col("max_cnt"),
        TextAnalysis.roundStable(
          col("max_cnt") / (col("n_rows") / col("n_keys")), 4)
          .as("hot_multiple"),
        TextAnalysis.roundStable(col("p99") / col("p50"), 4)
          .as("p99_p50"),
        TextAnalysis.roundStable(col("max_cnt") / col("n_rows"), 6)
          .as("hot_share")),
    Some("""WITH c AS (SELECT l_partkey, count(*) AS cnt
            FROM lineitem GROUP BY 1),
    a AS (SELECT count(*) AS n_keys, CAST(sum(cnt) AS BIGINT) AS n_rows,
        max(cnt) AS max_cnt,
        quantile_cont(cnt, 0.5) AS p50, quantile_cont(cnt, 0.99) AS p99
      FROM c)
    SELECT n_keys, n_rows, max_cnt,
      floor((max_cnt / (n_rows / n_keys)) * 10000.0 + 0.5) / 10000.0
        AS hot_multiple,
      floor((p99 / p50) * 10000.0 + 0.5) / 10000.0 AS p99_p50,
      floor((max_cnt / n_rows) * 1000000.0 + 0.5) / 1000000.0 AS hot_share
    FROM a"""))

  /** Prefix-filtering near-dup pairs — q_near_dup's EXACT twin by a
    * DIFFERENT algorithm (AllPairs/PPJoin prefix filtering,
    * Dedup.prefixFilterPairs, instead of the full gram self-join):
    * same oracle, same result set, recall exact by the
    * prefix-filtering principle (proof in the operator scaladoc). The
    * inventory carries both because they trade differently at 100 TB:
    * prefix filtering joins only each doc's ~(1−t) RAREST grams (no
    * signature computation, exactness by construction, stopword-run
    * hot grams pushed out of prefixes by the rarest-first order),
    * while MinHash banding bounds candidate volume independently of
    * df skew but pays signatures and probabilistic recall. The 4/5
    * rational threshold keeps prefix lengths exact integer math. */
  private val qPrefixJoin = Q(
    "q_prefix_join",
    (s, d) => Dedup.prefixFilterPairs(t(s, d, "documents"), w = 5)
      .orderBy("i", "j"),
    Some("""WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
        unnest(CASE WHEN len(t) >= 5
          THEN list_transform(range(1, len(t) - 3),
            i -> array_to_string(t[i:i+4], ' '))
          ELSE []::VARCHAR[] END) AS s
      FROM toks),
    card AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
    com AS (
      SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS com
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT i, j,
      floor(com * 1.0 / (ca.c + cb.c - com) * 1000000.0 + 0.5) / 1000000.0
        AS jaccard
    FROM com
    JOIN card ca ON ca.doc_id = i
    JOIN card cb ON cb.doc_id = j
    WHERE com * 1.0 / (ca.c + cb.c - com) >= 0.8
    ORDER BY i, j"""))

  /** BM25 top-3 terms per document — the retrieval scoring function a
    * RAG corpus is indexed under (q_tfidf is the naive twin; BM25 adds
    * tf saturation (k1=1.2) and length normalization (b=0.75), the
    * form every production lexical index uses). Same shuffle shape as
    * q_tfidf: tf groupBy (doc,tok) and df groupBy tok are both
    * map-side combined; the corpus-wide scalars (N, avgdl) ride a
    * broadcast single-row crossJoin, so the only per-row joins are the
    * tok-keyed df join and a doc-bounded top-3 window. Ranking is by
    * the ROUNDED score (the q_tfidf precedent — keeps the rank
    * comparison clear of cross-engine ulp noise), term tiebreak.
    * Every arithmetic step is written with identical association on
    * both sides (left-assoc a*b/c), constants as decimal literals. */
  private val qBm25 = Q(
    "q_bm25",
    (s, d) => {
      val toks = t(s, d, "documents").select(col("doc_id"),
        explode(split(lower(col("text")), " ")).as("tok"))
      val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
      val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val stats = dl.agg(count(lit(1)).as("n"), sum("dl").as("tottok"))
      val idf = log(lit(1.0) + (col("n") - col("df") + lit(0.5)) /
        (col("df") + lit(0.5)))
      val score = TextAnalysis.roundStable(
        idf * (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) *
            (lit(0.25) + lit(0.75) * col("dl") / (col("tottok") / col("n")))),
        6)
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("tok").asc)
      tf.join(dl, "doc_id").join(dfreq, "tok")
        .crossJoin(broadcast(stats))
        .withColumn("score", score)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("tok").as("term"),
          col("tf"), col("df"), col("score"))
        .orderBy("doc_id", "term")
    },
    Some("""WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
    dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
    dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
    stats AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS tottok
      FROM dl),
    scored AS (
      SELECT t.doc_id, t.tok, t.tf, f.df,
        floor(ln(1.0 + (s.n - f.df + 0.5) / (f.df + 0.5))
            * (t.tf * 2.2)
            / (t.tf + 1.2 * (0.25 + 0.75 * l.dl / (s.tottok / s.n)))
          * 1000000.0 + 0.5) / 1000000.0 AS score
      FROM tf t JOIN dl l USING (doc_id) JOIN dfreq f USING (tok), stats s),
    top AS (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY score DESC, tok ASC) AS rn
      FROM scored)
    SELECT doc_id, tok AS term, CAST(tf AS BIGINT) AS tf,
      CAST(df AS BIGINT) AS df, score
    FROM top WHERE rn <= 3 ORDER BY doc_id, term"""))

  /** Daily OHLC bars per event type — the time-bucket open/high/low/
    * close aggregate every metrics store materializes. Open/close are
    * position-picked by two opposite-order row_number windows over the
    * SAME (event_type, day) partition (one Exchange, two sorts — no
    * tuple-arg_min dependence), high/low/n by plain min/max/count in a
    * groupBy on the same keys, so the whole query rides ONE hash
    * partitioning. No double is ever summed — every output is an
    * exact pick from an input row or an integer count, so parity is
    * bit-exact with no rounding at all. At 100 TB the day key bounds
    * partition width and the window frame never buffers more than a
    * partition-local sort run. */
  private val qOhlc = Q(
    "q_ohlc",
    (s, d) => {
      val e = t(s, d, "events")
        .select(col("event_type"), to_date(col("ts")).as("day"),
          col("ts"), col("event_id"), col("value"))
      val wAsc = Window.partitionBy("event_type", "day")
        .orderBy(col("ts").asc, col("event_id").asc)
      val wDesc = Window.partitionBy("event_type", "day")
        .orderBy(col("ts").desc, col("event_id").desc)
      e.withColumn("ra", row_number().over(wAsc))
        .withColumn("rd", row_number().over(wDesc))
        .groupBy("event_type", "day")
        .agg(
          max(when(col("ra") === 1, col("value"))).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max(when(col("rd") === 1, col("value"))).as("close"),
          count(lit(1)).as("n_events"))
        .orderBy("event_type", "day")
    },
    Some("""WITH e AS (
      SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        CAST(ts AS TIMESTAMP) AS tts, event_id, value
      FROM events),
    r AS (SELECT *,
        row_number() OVER (PARTITION BY event_type, day
          ORDER BY tts ASC, event_id ASC) AS ra,
        row_number() OVER (PARTITION BY event_type, day
          ORDER BY tts DESC, event_id DESC) AS rd
      FROM e)
    SELECT event_type, day,
      max(CASE WHEN ra = 1 THEN value END) AS open,
      max(value) AS high, min(value) AS low,
      max(CASE WHEN rd = 1 THEN value END) AS close,
      count(*) AS n_events
    FROM r GROUP BY 1, 2 ORDER BY event_type, day"""))

  /** Lag-1 / lag-7 autocorrelation of each event type's daily-count
    * series — the seasonality detector behind anomaly alerting (a high
    * r7 says "weekly cycle", a high r1 says "trend"). Pearson r is
    * assembled from INTEGER power sums (k, Σx, Σy, Σxy, Σx², Σy² over
    * the lag-aligned pairs — all exact BIGINT, order-independent), so
    * the only floating-point steps are the final two sqrt's and one
    * division, written identically on both sides: exact cross-engine
    * parity without trusting either engine's corr() merge order. The
    * two lag windows share ONE (event_type ORDER BY day) sort; the
    * series itself is day-level (bounded — the corpus reduces to
    * |types|×|days| rows before any window runs). Constant series
    * (zero variance) yield NULL via a 0-denominator guard. */
  private val qAutocorr = Q(
    "q_autocorr",
    (s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type").orderBy("day")
      val lagged = daily
        .withColumn("l1", lag(col("n"), 1).over(w))
        .withColumn("l7", lag(col("n"), 7).over(w))
      def r(x: Column, y: Column, k: Column,
            sx: Column, sy: Column, sxy: Column,
            sxx: Column, syy: Column): Column = {
        val num = (k * sxy - sx * sy).cast("double")
        val va = (k * sxx - sx * sx).cast("double")
        val vb = (k * syy - sy * sy).cast("double")
        TextAnalysis.roundStable(
          when(va > 0 && vb > 0, num / (sqrt(va) * sqrt(vb))), 4)
      }
      lagged.groupBy("event_type")
        .agg(
          count(lit(1)).as("n_days"),
          count(col("l1")).as("k1"),
          sum(when(col("l1").isNotNull, col("n"))).as("sx1"),
          sum(col("l1")).as("sy1"),
          sum(col("n") * col("l1")).as("sxy1"),
          sum(when(col("l1").isNotNull, col("n") * col("n"))).as("sxx1"),
          sum(col("l1") * col("l1")).as("syy1"),
          count(col("l7")).as("k7"),
          sum(when(col("l7").isNotNull, col("n"))).as("sx7"),
          sum(col("l7")).as("sy7"),
          sum(col("n") * col("l7")).as("sxy7"),
          sum(when(col("l7").isNotNull, col("n") * col("n"))).as("sxx7"),
          sum(col("l7") * col("l7")).as("syy7"))
        .select(col("event_type"), col("n_days"),
          r(col("n"), col("l1"), col("k1"), col("sx1"), col("sy1"),
            col("sxy1"), col("sxx1"), col("syy1")).as("r1"),
          r(col("n"), col("l7"), col("k7"), col("sx7"), col("sy7"),
            col("sxy7"), col("sxx7"), col("syy7")).as("r7"))
        .orderBy("event_type")
    },
    Some("""WITH daily AS (
      SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        count(*) AS n
      FROM events GROUP BY 1, 2),
    lagged AS (SELECT event_type, n,
        lag(n, 1) OVER (PARTITION BY event_type ORDER BY day) AS l1,
        lag(n, 7) OVER (PARTITION BY event_type ORDER BY day) AS l7
      FROM daily),
    s AS (SELECT event_type, count(*) AS n_days,
        count(l1) AS k1,
        CAST(sum(CASE WHEN l1 IS NOT NULL THEN n END) AS BIGINT) AS sx1,
        CAST(sum(l1) AS BIGINT) AS sy1,
        CAST(sum(n * l1) AS BIGINT) AS sxy1,
        CAST(sum(CASE WHEN l1 IS NOT NULL THEN n * n END) AS BIGINT) AS sxx1,
        CAST(sum(l1 * l1) AS BIGINT) AS syy1,
        count(l7) AS k7,
        CAST(sum(CASE WHEN l7 IS NOT NULL THEN n END) AS BIGINT) AS sx7,
        CAST(sum(l7) AS BIGINT) AS sy7,
        CAST(sum(n * l7) AS BIGINT) AS sxy7,
        CAST(sum(CASE WHEN l7 IS NOT NULL THEN n * n END) AS BIGINT) AS sxx7,
        CAST(sum(l7 * l7) AS BIGINT) AS syy7
      FROM lagged GROUP BY 1)
    SELECT event_type, n_days,
      CASE WHEN (k1 * sxx1 - sx1 * sx1) > 0 AND (k1 * syy1 - sy1 * sy1) > 0
        THEN floor(CAST(k1 * sxy1 - sx1 * sy1 AS DOUBLE)
          / (sqrt(CAST(k1 * sxx1 - sx1 * sx1 AS DOUBLE))
             * sqrt(CAST(k1 * syy1 - sy1 * sy1 AS DOUBLE)))
          * 10000.0 + 0.5) / 10000.0 END AS r1,
      CASE WHEN (k7 * sxx7 - sx7 * sx7) > 0 AND (k7 * syy7 - sy7 * sy7) > 0
        THEN floor(CAST(k7 * sxy7 - sx7 * sy7 AS DOUBLE)
          / (sqrt(CAST(k7 * sxx7 - sx7 * sx7 AS DOUBLE))
             * sqrt(CAST(k7 * syy7 - sy7 * sy7 AS DOUBLE)))
          * 10000.0 + 0.5) / 10000.0 END AS r7
    FROM s ORDER BY event_type"""))

  /** Chi-square independence audit of the lang × source contingency
    * table — the "is my language mix uniform across sources?" check a
    * corpus curator runs before mixing. The full grid (including
    * structural zeros — a crossJoin of the two BOUNDED dims, both
    * broadcast) is left-joined against observed cell counts; expected
    * counts and per-cell chi-square contributions are assembled from
    * exact integer marginals via window sums over the vocab-sized cell
    * table, with the identical (o−e)·(o−e)/e expression on both
    * sides. One corpus scan; everything after the first groupBy is
    * dimension-sized. */
  private val qChiSquare = Q(
    "q_chi_square",
    (s, d) => {
      val docs = t(s, d, "documents")
      val cells = docs.groupBy("lang", "source").agg(count(lit(1)).as("o"))
      val langs = docs.select("lang").distinct()
      val sources = docs.select("source").distinct()
      val grid = broadcast(langs).crossJoin(broadcast(sources))
        .join(cells, Seq("lang", "source"), "left")
        .withColumn("o", coalesce(col("o"), lit(0L)))
      val wl = Window.partitionBy("lang")
      val ws = Window.partitionBy("source")
      val wg = Window.partitionBy()
      val e = (sum("o").over(wl) * sum("o").over(ws)).cast("double") /
        sum("o").over(wg).cast("double")
      grid.withColumn("e", e)
        .select(col("lang"), col("source"), col("o"),
          TextAnalysis.roundStable(col("e"), 4).as("expected"),
          TextAnalysis.roundStable(
            (col("o") - col("e")) * (col("o") - col("e")) / col("e"), 4)
            .as("contrib"))
        .orderBy("lang", "source")
    },
    Some("""WITH cells AS (
      SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2),
    grid AS (
      SELECT l.lang, s.source, COALESCE(c.o, 0) AS o
      FROM (SELECT DISTINCT lang FROM documents) l
      CROSS JOIN (SELECT DISTINCT source FROM documents) s
      LEFT JOIN cells c ON c.lang = l.lang AND c.source = s.source),
    m AS (SELECT lang, source, o,
        CAST(sum(o) OVER (PARTITION BY lang)
           * sum(o) OVER (PARTITION BY source) AS DOUBLE)
          / CAST(sum(o) OVER () AS DOUBLE) AS e
      FROM grid)
    SELECT lang, source, CAST(o AS BIGINT) AS o,
      floor(e * 10000.0 + 0.5) / 10000.0 AS expected,
      floor((o - e) * (o - e) / e * 10000.0 + 0.5) / 10000.0 AS contrib
    FROM m ORDER BY lang, source"""))

  /** Per-user view→purchase conversion lag — the event-time funnel
    * latency behind "median time to convert" dashboards (q_funnel
    * counts the stages; this measures the gap). First-view is a
    * full-partition min window over the user, first-purchase-after a
    * groupBy on the SAME user key — Catalyst reuses one Exchange for
    * both (the q_funnel precedent). The lag is integer microseconds
    * floor-divided to whole seconds on both sides (no date_diff
    * boundary-counting semantics to reconcile). Output is
    * user-bounded, ordered by user_id. */
  private val qConversionLag = Q(
    "q_conversion_lag",
    (s, d) => {
      val wu = Window.partitionBy("user_id")
      val e = t(s, d, "events")
        .filter(col("event_type").isin("view", "purchase"))
        .withColumn("fv",
          min(when(col("event_type") === "view", col("ts"))).over(wu))
      e.filter(col("event_type") === "purchase"
          && col("fv").isNotNull && col("ts") > col("fv"))
        .groupBy("user_id")
        .agg(min(col("fv")).as("first_view"),
          min(col("ts")).as("first_purchase"))
        .select(col("user_id"), col("first_view"), col("first_purchase"),
          ((unix_micros(col("first_purchase")) -
            unix_micros(col("first_view"))) / lit(1000000L))
            .cast("long").as("lag_sec"))
        .orderBy("user_id")
    },
    Some("""WITH e AS (
      SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS tts
      FROM events WHERE event_type IN ('view', 'purchase')),
    fv AS (SELECT user_id, min(tts) AS first_view
      FROM e WHERE event_type = 'view' GROUP BY 1),
    conv AS (
      SELECT e.user_id, f.first_view, min(e.tts) AS first_purchase
      FROM e JOIN fv f USING (user_id)
      WHERE e.event_type = 'purchase' AND e.tts > f.first_view
      GROUP BY 1, 2)
    SELECT user_id, first_view, first_purchase,
      (epoch_us(first_purchase) - epoch_us(first_view)) // 1000000
        AS lag_sec
    FROM conv ORDER BY user_id"""))

  /** Daily audience growth — active / new / returning users per day
    * plus the cumulative user count, the top-line DAU decomposition
    * every product dashboard opens with. The corpus reduces to
    * distinct (user, day) pairs in the first exchange; first-seen days
    * are one more user-keyed agg; everything after is day-level
    * (bounded), including the single-partition running-sum window —
    * the same "corpus shrinks before any global window" discipline as
    * q_histogram. Integer outputs ⇒ exact parity. */
  private val qUserGrowth = Q(
    "q_user_growth",
    (s, d) => {
      // The user-day table feeds two different-keyed aggregations —
      // persist it so the corpus is scanned ONCE (user-day pairs are
      // two longs-equivalent per row; cache bytes ≪ the events scan
      // they amortize). Released by the caller via CacheRegistry.
      val ud = graft.operators.CacheRegistry.track(
        t(s, d, "events")
          .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val act = ud.groupBy("day").agg(count(lit(1)).as("active_users"))
      val firstSeen = ud.groupBy("user_id").agg(min("day").as("day"))
        .groupBy("day").agg(count(lit(1)).as("new_users"))
      val w = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      act.join(firstSeen, Seq("day"), "left")
        .withColumn("new_users", coalesce(col("new_users"), lit(0L)))
        .select(col("day"), col("active_users"), col("new_users"),
          (col("active_users") - col("new_users")).as("returning_users"),
          sum("new_users").over(w).as("cum_users"))
        .orderBy("day")
    },
    Some("""WITH ud AS (
      SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
      FROM events),
    act AS (SELECT day, count(*) AS active_users FROM ud GROUP BY 1),
    fs AS (SELECT user_id, min(day) AS day FROM ud GROUP BY 1),
    nw AS (SELECT day, count(*) AS new_users FROM fs GROUP BY 1)
    SELECT a.day, a.active_users, COALESCE(n.new_users, 0) AS new_users,
      a.active_users - COALESCE(n.new_users, 0) AS returning_users,
      CAST(sum(COALESCE(n.new_users, 0)) OVER (ORDER BY a.day
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        AS cum_users
    FROM act a LEFT JOIN nw n USING (day) ORDER BY day"""))

  /** Truncated exponentially-weighted moving average (α = 0.3, 7-day
    * horizon) of each event type's daily count — the smoothed trend
    * line behind alert thresholds. The frame is a FIXED 7 lags, so
    * the weights are compile-time DECIMAL LITERALS (0.3·0.7^k spelled
    * out digit-for-digit on both sides — pow(0.7, k) at runtime could
    * differ in the last ulp between engines) and partial windows
    * renormalize over the weights actually present. One exchange:
    * day-level counts, then seven lag() columns over one
    * (type ORDER BY day) sort. An unbounded EWMA needs a recursive
    * scan (Structured Streaming state at 100 TB); the truncated form
    * is within 0.7⁷ ≈ 8% of it and stays one window. */
  private val qEwma = Q(
    "q_ewma",
    (s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type").orderBy("day")
      val wts = Seq(0.3, 0.21, 0.147, 0.1029, 0.07203, 0.050421, 0.0352947)
      val lags = (0 until 7).map(k =>
        if (k == 0) col("n") else lag(col("n"), k).over(w))
      val lagged = daily.withColumns(
        (0 until 7).map(k => s"l$k").zip(lags).toMap)
      val num = (0 until 7).map(k =>
        when(col(s"l$k").isNotNull, lit(wts(k)) * col(s"l$k"))
          .otherwise(lit(0.0))).reduce(_ + _)
      val den = (0 until 7).map(k =>
        when(col(s"l$k").isNotNull, lit(wts(k))).otherwise(lit(0.0)))
        .reduce(_ + _)
      lagged.select(col("event_type"), col("day"), col("n"),
        TextAnalysis.roundStable(num / den, 4).as("ewma"))
        .orderBy("event_type", "day")
    },
    Some("""WITH daily AS (
      SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        count(*) AS n
      FROM events GROUP BY 1, 2),
    lagged AS (SELECT event_type, day, n,
        lag(n, 1) OVER w AS l1, lag(n, 2) OVER w AS l2,
        lag(n, 3) OVER w AS l3, lag(n, 4) OVER w AS l4,
        lag(n, 5) OVER w AS l5, lag(n, 6) OVER w AS l6
      FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day))
    SELECT event_type, day, n,
      floor((
          (0.3 * n
           + CASE WHEN l1 IS NOT NULL THEN 0.21 * l1 ELSE 0.0 END
           + CASE WHEN l2 IS NOT NULL THEN 0.147 * l2 ELSE 0.0 END
           + CASE WHEN l3 IS NOT NULL THEN 0.1029 * l3 ELSE 0.0 END
           + CASE WHEN l4 IS NOT NULL THEN 0.07203 * l4 ELSE 0.0 END
           + CASE WHEN l5 IS NOT NULL THEN 0.050421 * l5 ELSE 0.0 END
           + CASE WHEN l6 IS NOT NULL THEN 0.0352947 * l6 ELSE 0.0 END)
          / (0.3
           + CASE WHEN l1 IS NOT NULL THEN 0.21 ELSE 0.0 END
           + CASE WHEN l2 IS NOT NULL THEN 0.147 ELSE 0.0 END
           + CASE WHEN l3 IS NOT NULL THEN 0.1029 ELSE 0.0 END
           + CASE WHEN l4 IS NOT NULL THEN 0.07203 ELSE 0.0 END
           + CASE WHEN l5 IS NOT NULL THEN 0.050421 ELSE 0.0 END
           + CASE WHEN l6 IS NOT NULL THEN 0.0352947 ELSE 0.0 END))
        * 10000.0 + 0.5) / 10000.0 AS ewma
    FROM lagged ORDER BY event_type, day"""))

  /** Triangle census of the co-purchase graph (parts sharing an order
    * ≥ 2 times — the support threshold that separates signal edges
    * from the one-off co-occurrence noise, same cut as
    * q_event_pairs): [[Graph.triangleStats]]'s degree-ordered
    * orientation bounds the wedge join at Σ outdeg² ≤ m·√(2m)
    * regardless of degree skew. Pair generation is order-bounded
    * (~lines² per order, never corpus²). The oracle counts the same
    * triangles by the naive ordered triple join — tractable at gate
    * SF, which is exactly why the Spark side must NOT use it. */
  /** Shared co-purchase edges, served from a MATERIALIZED bucketed
    * index ([[Graph.writeCopurchaseIndex]]): five queries consume this
    * edge list (q_triangles, q_clustering_coef, q_assortativity,
    * q_degree_dist, q_copurchase_components), and re-deriving it per
    * query — a fact-table aggregate + pair explode — was ~40% of the
    * family's in-suite cost, and at 100 TB would be a per-query
    * trillion-edge rebuild. The build runs ONCE per (session, data
    * dir) into a catalog table bucketed by `u` (support-2 edges with
    * their weight, so every threshold >= 2 is a scan-prunable
    * `w >= k` filter over the same index); consumers pay a thin
    * bucketed scan. Each query's DuckDB oracle still recomputes the
    * edge list from lineitem, so the index contents stay
    * hash-checked on every gate run. */
  private def copurchaseEdges(s: SparkSession, d: String,
                              minSupport: Int,
                              outA: String, outB: String): DataFrame = {
    val table = materializedIndex(s, d, "graft_copurchase_edges",
      t => Graph.writeCopurchaseIndex(this.t(s, d, "lineitem"), t))
    s.table(table).filter(col("w") >= minSupport)
      .select(col("u").as(outA), col("v").as(outB))
  }

  /** Build-once memoization for session-scoped materialized index
    * tables (the co-purchase edge index, the trade-graph edge index):
    * probe the session catalog, build on miss. Idempotent per session
    * — the catalog probe (not a static memo) keeps this correct across
    * test suites that each build their own SparkSession in one JVM —
    * and safe across JVMs: the in-memory catalog dies with the process
    * but the managed table's warehouse directory does not, and
    * saveAsTable refuses to create a managed table over an existing
    * location, so a location without a catalog entry (by definition
    * stale output of a previous process) is removed before the
    * build. */
  private def materializedIndex(s: SparkSession, d: String, prefix: String,
                                build: String => Unit): String = {
    val table = prefix + "_" + d.replaceAll("[^a-zA-Z0-9]", "_")
    Queries.synchronized {
      if (!s.catalog.tableExists(table)) {
        val loc = new org.apache.hadoop.fs.Path(
          s.sessionState.conf.warehousePath, table.toLowerCase)
        val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(loc)) fs.delete(loc, true)
        build(table)
      }
    }
    table
  }

  private val qTriangles = Q(
    "q_triangles",
    (s, d) => Graph.triangleStats(copurchaseEdges(s, d, 2, "u", "v")),
    Some("""WITH pp AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    e AS (
      SELECT a.pk AS u, b.pk AS v
      FROM pp a JOIN pp b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY 1, 2 HAVING count(*) >= 2),
    deg AS (SELECT node, count(*) AS dg FROM
      (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
      GROUP BY 1),
    tri AS (SELECT count(*) AS n FROM e e1
      JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
      JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v),
    s AS (SELECT
      (SELECT count(*) FROM deg) AS n_nodes,
      (SELECT count(*) FROM e) AS n_edges,
      (SELECT CAST(sum((dg * (dg - 1)) // 2) AS BIGINT) FROM deg)
        AS n_wedges,
      (SELECT n FROM tri) AS n_triangles)
    SELECT n_nodes, n_edges, n_wedges, n_triangles,
      CASE WHEN n_wedges > 0 THEN
        floor(3.0 * n_triangles / n_wedges * 1000000.0 + 0.5) / 1000000.0
      END AS global_cc
    FROM s"""))

  /** kNN majority-vote classification — label the 8 held-out query
    * vectors by their 5 cosine-nearest neighbors' labels (the
    * eval-time twin of q_label_centroids' training-time view; ties
    * break to the smaller label). Reuses [[Similarity.bruteTopK]]'s
    * broadcast-bounded scoring verbatim, so the neighbor list is
    * rank-identical to q_ann_topk's by construction; the vote is a
    * (query, label) count over 40 rows. At corpus scale the brute
    * scorer swaps for the IVF/LSH index probes (q_ann_ivf,
    * q_ann_quantized) with the vote unchanged. */
  private val qKnnLabel = Q(
    "q_knn_label",
    (s, d) => {
      val emb = t(s, d, "embeddings")
      val nn = Similarity.bruteTopK(emb, col("vec_id") < 8, k = 5)
      val votes = nn.join(
          emb.select(col("vec_id").as("cand_id"), col("label")), "cand_id")
        .groupBy("query_id", "label").agg(count(lit(1)).as("votes"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("votes").desc, col("label").asc)
      votes.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .join(emb.select(col("vec_id").as("query_id"),
          col("label").as("true_label")), "query_id")
        .select(col("query_id"), col("label").as("pred_label"),
          col("votes"), col("true_label").cast("int").as("true_label"))
        .orderBy("query_id")
    },
    Some("""WITH m AS (
      SELECT vec_id, label,
        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    w AS (SELECT vec_id, label, v,
      sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM m),
    q AS (SELECT * FROM w WHERE vec_id < 8),
    sc AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id, c.label,
        round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) AS cos_sim
      FROM q JOIN w c ON c.vec_id <> q.vec_id),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id
      ORDER BY cos_sim DESC, cand_id ASC) AS rk FROM sc),
    votes AS (
      SELECT query_id, label, count(*) AS votes
      FROM r WHERE rk <= 5 GROUP BY 1, 2),
    top AS (SELECT *, row_number() OVER (PARTITION BY query_id
      ORDER BY votes DESC, label ASC) AS rn FROM votes)
    SELECT t.query_id, t.label AS pred_label,
      CAST(t.votes AS BIGINT) AS votes, e.label AS true_label
    FROM top t JOIN embeddings e ON e.vec_id = t.query_id
    WHERE t.rn = 1 ORDER BY t.query_id"""))

  /** Per-source language diversity — Shannon entropy (in nats, via the
    * Σ o·ln(o) identity over integer cell counts, the q_token_entropy
    * precedent) and the Simpson concentration index, which here is
    * ENTIRELY integer until one final division (Σo² / tot²): the
    * mix-auditing pass a curator runs per source before weighting
    * (q_lang_divergence measures distance from the corpus mix; this
    * measures within-source concentration). Cells are vocab-bounded;
    * one corpus scan. */
  private val qDiversity = Q(
    "q_diversity",
    (s, d) => t(s, d, "documents")
      .groupBy("source", "lang").agg(count(lit(1)).as("o"))
      .groupBy("source").agg(
        sum("o").as("n_docs"),
        count(lit(1)).as("n_langs"),
        sum(col("o").cast("double") * log(col("o"))).as("ologo"),
        sum(col("o") * col("o")).as("o2"))
      .select(col("source"), col("n_docs"), col("n_langs"),
        TextAnalysis.roundStable(
          log(col("n_docs")) - col("ologo") / col("n_docs"), 6)
          .as("shannon"),
        TextAnalysis.roundStable(
          col("o2").cast("double") / (col("n_docs") * col("n_docs")), 6)
          .as("simpson"))
      .orderBy("source"),
    Some("""WITH c AS (
      SELECT source, lang, count(*) AS o FROM documents GROUP BY 1, 2),
    a AS (SELECT source, CAST(sum(o) AS BIGINT) AS n_docs,
        count(*) AS n_langs, sum(o * ln(o)) AS ologo,
        CAST(sum(o * o) AS BIGINT) AS o2
      FROM c GROUP BY 1)
    SELECT source, n_docs, n_langs,
      floor((ln(n_docs) - ologo / n_docs) * 1000000.0 + 0.5) / 1000000.0
        AS shannon,
      floor((CAST(o2 AS DOUBLE) / (n_docs * n_docs)) * 1000000.0 + 0.5)
        / 1000000.0 AS simpson
    FROM a ORDER BY source"""))

  /** Benford first-digit audit of order totals — the classic
    * fraud/synthetic-data screen (does the leading-digit distribution
    * follow log10(1+1/d)?). First digit via floor→BIGINT→string (floor
    * BEFORE the integer cast: Spark truncates a double→long cast,
    * DuckDB ROUNDS it — floor() makes both engines see the same
    * integer). Expected frequencies are the closed-form log10 terms;
    * observed/expected and the per-digit chi-square contribution are
    * single rounded float expressions over exact integer counts. One
    * scan, 9-row output. */
  private val qBenford = Q(
    "q_benford",
    (s, d) => {
      val digits = t(s, d, "orders")
        .filter(col("o_totalprice") >= 1.0)
        .select(substring(floor(col("o_totalprice")).cast("long")
          .cast("string"), 1, 1).cast("long").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("observed"))
      val tot = digits.agg(sum("observed").as("n"))
      val expFreq = log10(lit(1.0) + lit(1.0) / col("digit"))
      digits.crossJoin(broadcast(tot))
        .withColumn("e", expFreq * col("n"))
        .select(col("digit"), col("observed"),
          TextAnalysis.roundStable(expFreq, 6).as("expected_freq"),
          TextAnalysis.roundStable(
            col("observed").cast("double") / col("n"), 6).as("observed_freq"),
          TextAnalysis.roundStable(
            (col("observed") - col("e")) * (col("observed") - col("e")) /
              col("e"), 4).as("contrib"))
        .orderBy("digit")
    },
    Some("""WITH digits AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
          AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice >= 1.0),
    c AS (SELECT digit, count(*) AS observed FROM digits GROUP BY 1),
    n AS (SELECT CAST(sum(observed) AS BIGINT) AS n FROM c)
    SELECT digit, observed,
      floor(log10(1.0 + 1.0 / digit) * 1000000.0 + 0.5) / 1000000.0
        AS expected_freq,
      floor((CAST(observed AS DOUBLE) / n.n) * 1000000.0 + 0.5) / 1000000.0
        AS observed_freq,
      floor((observed - log10(1.0 + 1.0 / digit) * n.n)
          * (observed - log10(1.0 + 1.0 / digit) * n.n)
          / (log10(1.0 + 1.0 / digit) * n.n) * 10000.0 + 0.5) / 10000.0
        AS contrib
    FROM c, n ORDER BY digit"""))

  /** Daily tail-latency profile — p50/p95/p99/max of the event value
    * per (type, day), the SLO dashboard's backbone. Exact percentiles
    * over the day-bucketed groups (percentile ≡ quantile_cont, the
    * q_quantile precedent; the corpus-scale swap is
    * approx_percentile's KLL sketch, q_approx_quantile's subject).
    * Group-bounded: one exchange on (type, day), map-side partial
    * collection, 150-row output. */
  private val qTailLatency = Q(
    "q_tail_latency",
    (s, d) => t(s, d, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"),
        expr("percentile(value, 0.5D)").as("p50r"),
        expr("percentile(value, 0.95D)").as("p95r"),
        expr("percentile(value, 0.99D)").as("p99r"),
        max("value").as("vmax"))
      .select(col("event_type"), col("day"), col("n"),
        TextAnalysis.roundStable(col("p50r"), 4).as("p50"),
        TextAnalysis.roundStable(col("p95r"), 4).as("p95"),
        TextAnalysis.roundStable(col("p99r"), 4).as("p99"),
        col("vmax"))
      .orderBy("event_type", "day"),
    Some("""WITH e AS (
      SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, value
      FROM events)
    SELECT event_type, day, count(*) AS n,
      floor(quantile_cont(value, 0.5) * 10000.0 + 0.5) / 10000.0 AS p50,
      floor(quantile_cont(value, 0.95) * 10000.0 + 0.5) / 10000.0 AS p95,
      floor(quantile_cont(value, 0.99) * 10000.0 + 0.5) / 10000.0 AS p99,
      max(value) AS vmax
    FROM e GROUP BY 1, 2 ORDER BY event_type, day"""))

  /** Revenue concentration (Pareto audit) — what share of total
    * revenue do the top 1% / 10% of customers hold? Per-customer
    * revenue is DECIMAL-summed (order-independent, the q_rfm
    * precedent); the global rank comes from [[Ranking.globalRank]]'s
    * value-histogram prefix sum — NO corpus-wide single-partition
    * window, reproducible at any partitioning (the q_shard_assign
    * precedent). Cutoffs are exact integer ceilings ((n+99) div 100 —
    * no float ceil); shares are one final double division over
    * DECIMAL-exact numerators. */
  private val qPareto = Q(
    "q_pareto",
    (s, d) => {
      val rev = t(s, d, "orders").groupBy("o_custkey")
        .agg(sum(col("o_totalprice").cast("decimal(18,6)")).as("rev"))
      val ranked = Ranking.globalRank(rev, col("rev"), col("o_custkey"),
        valueAscending = false, rankName = "rn")
      val n = rev.agg(count(lit(1)).as("n"))
      ranked.crossJoin(broadcast(n))
        .withColumn("k1", expr("(n + 99) div 100"))
        .withColumn("k10", expr("(n + 9) div 10"))
        .agg(
          max("n").as("n_customers"),
          sum("rev").as("tot"),
          max("k1").as("top1_cnt"),
          max("k10").as("top10_cnt"),
          sum(when(col("rn") <= col("k1"), col("rev"))).as("r1"),
          sum(when(col("rn") <= col("k10"), col("rev"))).as("r10"))
        .select(col("n_customers"), col("top1_cnt"), col("top10_cnt"),
          TextAnalysis.roundStable(col("tot").cast("double"), 2)
            .as("total_rev"),
          TextAnalysis.roundStable(
            col("r1").cast("double") / col("tot").cast("double"), 6)
            .as("top1_share"),
          TextAnalysis.roundStable(
            col("r10").cast("double") / col("tot").cast("double"), 6)
            .as("top10_share"))
    },
    Some("""WITH rev AS (
      SELECT o_custkey,
        sum(CAST(o_totalprice AS DECIMAL(18,6))) AS rev
      FROM orders GROUP BY 1),
    ranked AS (SELECT o_custkey, rev, row_number() OVER (
        ORDER BY rev DESC, o_custkey ASC) AS rn
      FROM rev),
    n AS (SELECT count(*) AS n FROM rev)
    SELECT n.n AS n_customers,
      (n.n + 99) // 100 AS top1_cnt,
      (n.n + 9) // 10 AS top10_cnt,
      floor(CAST(sum(rev) AS DOUBLE) * 100.0 + 0.5) / 100.0 AS total_rev,
      floor(CAST(sum(CASE WHEN rn <= (n.n + 99) // 100 THEN rev END)
            AS DOUBLE)
          / CAST(sum(rev) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
        AS top1_share,
      floor(CAST(sum(CASE WHEN rn <= (n.n + 9) // 10 THEN rev END)
            AS DOUBLE)
          / CAST(sum(rev) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
        AS top10_share
    FROM ranked, n GROUP BY n.n"""))

  /** Per-cohort lifetime value — signup-week cohorts × weeks-since-
    * signup, cumulative purchase revenue per cohort member over age
    * (q_retention's twin with money attached: retention counts who
    * came back, LTV sums what they spent). Revenue is DECIMAL-summed
    * (order-independent); the cumulative column is a window over the
    * cohort×age aggregate (bounded: weeks², not events); per-member
    * LTV divides by the FIXED cohort size (first-week headcount), one
    * rounded division at the end. Two user-keyed exchanges (first-seen
    * + join-back), then everything is cohort-grade. */
  private val qCohortLtv = Q(
    "q_cohort_ltv",
    (s, d) => {
      val e = t(s, d, "events")
      val first = e.groupBy("user_id")
        .agg(weekofyear(min(to_date(col("ts")))).as("w0"),
          min(to_date(col("ts"))).as("d0"))
      val sized = first.groupBy("w0").agg(count(lit(1)).as("cohort_users"))
      val rev = e.filter(col("event_type") === "purchase")
        .join(first, "user_id")
        .groupBy(col("w0"),
          (datediff(to_date(col("ts")), col("d0")) / lit(7))
            .cast("long").as("age_week"))
        .agg(sum(col("value").cast("decimal(18,6)")).as("wrev"))
      val w = Window.partitionBy("w0").orderBy("age_week")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      rev.join(sized, "w0")
        .withColumn("cum", sum("wrev").over(w))
        .select(col("w0").as("cohort_week"), col("age_week"),
          col("cohort_users"),
          TextAnalysis.roundStable(col("wrev").cast("double"), 2)
            .as("week_rev"),
          TextAnalysis.roundStable(col("cum").cast("double"), 2)
            .as("cum_rev"),
          TextAnalysis.roundStable(
            col("cum").cast("double") / col("cohort_users"), 4)
            .as("ltv_per_user"))
        .orderBy("cohort_week", "age_week")
    },
    Some("""WITH e AS (
      SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS tts, value
      FROM events),
    f AS (SELECT user_id,
        weekofyear(min(CAST(tts AS DATE))) AS w0,
        min(CAST(tts AS DATE)) AS d0
      FROM e GROUP BY 1),
    sized AS (SELECT w0, count(*) AS cohort_users FROM f GROUP BY 1),
    rev AS (
      SELECT f.w0,
        date_diff('day', f.d0, CAST(e.tts AS DATE)) // 7 AS age_week,
        sum(CAST(e.value AS DECIMAL(18,6))) AS wrev
      FROM e JOIN f USING (user_id)
      WHERE e.event_type = 'purchase'
      GROUP BY 1, 2),
    c AS (SELECT w0, age_week, wrev,
        sum(wrev) OVER (PARTITION BY w0 ORDER BY age_week
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM rev)
    SELECT c.w0 AS cohort_week, CAST(c.age_week AS BIGINT) AS age_week,
      s.cohort_users,
      floor(CAST(c.wrev AS DOUBLE) * 100.0 + 0.5) / 100.0 AS week_rev,
      floor(CAST(c.cum AS DOUBLE) * 100.0 + 0.5) / 100.0 AS cum_rev,
      floor(CAST(c.cum AS DOUBLE) / s.cohort_users * 10000.0 + 0.5)
        / 10000.0 AS ltv_per_user
    FROM c JOIN sized s USING (w0) ORDER BY cohort_week, age_week"""))

  /** Per-user session statistics — the layer on top of q_sessionize
    * that dashboards actually read: session count, bounce count
    * (single-event sessions), events-per-session and mean session
    * duration. Session ids are the running sum of the gap>30min flag;
    * the session-level AND user-level aggregates both cluster on
    * user_id, so the whole query needs ONE user exchange (hash
    * partitioning on user_id satisfies ClusteredDistribution for the
    * (user, session) grouping too). Durations are integer
    * microseconds floor-divided to seconds; the two means are single
    * rounded divisions over exact integers. */
  private val qSessionStats = Q(
    "q_session_stats",
    (s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      val gapUs = unix_micros(col("ts")) -
        unix_micros(lag(col("ts"), 1).over(w))
      val sess = t(s, d, "events")
        .withColumn("new_s", when(gapUs > 1800000000L, 1L).otherwise(0L))
        .withColumn("sid", sum("new_s").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "sid")
        .agg(count(lit(1)).as("n_ev"),
          (unix_micros(max(col("ts"))) - unix_micros(min(col("ts"))))
            .as("dur_us"))
      sess.groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"),
          sum((col("n_ev") === 1).cast("long")).as("n_bounce"),
          sum("n_ev").as("total_events"),
          TextAnalysis.roundStable(
            sum("n_ev").cast("double") / count(lit(1)), 4)
            .as("events_per_session"),
          TextAnalysis.roundStable(
            (sum(expr("dur_us div 1000000")).cast("double")) /
              count(lit(1)), 4).as("avg_duration_sec"))
        .orderBy("user_id")
    },
    Some("""WITH e AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS tts
      FROM events),
    g AS (SELECT user_id, event_id, tts,
        CASE WHEN epoch_us(tts) - epoch_us(lag(tts) OVER w) > 1800000000
             THEN 1 ELSE 0 END AS new_s
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tts ASC, event_id ASC)),
    sid AS (SELECT user_id, tts,
        sum(new_s) OVER (PARTITION BY user_id ORDER BY tts ASC, event_id ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM g),
    sess AS (SELECT user_id, sid, count(*) AS n_ev,
        epoch_us(max(tts)) - epoch_us(min(tts)) AS dur_us
      FROM sid GROUP BY 1, 2)
    SELECT user_id, count(*) AS n_sessions,
      CAST(sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounce,
      CAST(sum(n_ev) AS BIGINT) AS total_events,
      floor(CAST(sum(n_ev) AS DOUBLE) / count(*) * 10000.0 + 0.5)
        / 10000.0 AS events_per_session,
      floor(CAST(sum(dur_us // 1000000) AS DOUBLE) / count(*)
        * 10000.0 + 0.5) / 10000.0 AS avg_duration_sec
    FROM sess GROUP BY 1 ORDER BY user_id"""))

  /** Two-proportion A/B test — conversion lift and z-score between the
    * two experiment arms (variant = JSON props.k mod 2, the
    * q_json_extract parse path; success = purchase). The entire test
    * reduces to FOUR integers in one conditional-aggregation pass
    * (map-side combined, one scan, no join), so cross-engine parity is
    * exact until the closing z expression — pooled variance, written
    * as the identical IEEE tree on both sides. The 100 TB shape is
    * the same four counters. */
  private val qAbTest = Q(
    "q_ab_test",
    (s, d) => {
      val e = t(s, d, "events")
        .select(
          (floor(get_json_object(col("props"), "$.k").try_cast("double"))
            .cast("long") % 2).as("variant"),
          (col("event_type") === "purchase").cast("long").as("success"))
        .filter(col("variant").isNotNull)
      val agg = e.agg(
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("variant") === 0, col("success")).otherwise(0L)).as("s_a"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("variant") === 1, col("success")).otherwise(0L)).as("s_b"))
      val pa = col("s_a").cast("double") / col("n_a")
      val pb = col("s_b").cast("double") / col("n_b")
      val pool = (col("s_a") + col("s_b")).cast("double") /
        (col("n_a") + col("n_b"))
      val z = (pb - pa) / sqrt(pool * (lit(1.0) - pool) *
        (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))
      agg.select(col("n_a"), col("s_a"), col("n_b"), col("s_b"),
        TextAnalysis.roundStable(pa, 6).as("p_a"),
        TextAnalysis.roundStable(pb, 6).as("p_b"),
        TextAnalysis.roundStable(pb - pa, 6).as("lift"),
        TextAnalysis.roundStable(z, 4).as("z_score"))
    },
    Some("""WITH e AS (
      SELECT CAST(FLOOR(TRY_CAST(json_extract_string(props, '$.k')
          AS DOUBLE)) AS BIGINT) % 2 AS variant,
        CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS success
      FROM events
      WHERE CAST(FLOOR(TRY_CAST(json_extract_string(props, '$.k')
          AS DOUBLE)) AS BIGINT) IS NOT NULL),
    a AS (SELECT
        CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        CAST(sum(CASE WHEN variant = 0 THEN success ELSE 0 END) AS BIGINT) AS s_a,
        CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        CAST(sum(CASE WHEN variant = 1 THEN success ELSE 0 END) AS BIGINT) AS s_b
      FROM e)
    SELECT n_a, s_a, n_b, s_b,
      floor(CAST(s_a AS DOUBLE) / n_a * 1000000.0 + 0.5) / 1000000.0 AS p_a,
      floor(CAST(s_b AS DOUBLE) / n_b * 1000000.0 + 0.5) / 1000000.0 AS p_b,
      floor((CAST(s_b AS DOUBLE) / n_b - CAST(s_a AS DOUBLE) / n_a)
        * 1000000.0 + 0.5) / 1000000.0 AS lift,
      floor((CAST(s_b AS DOUBLE) / n_b - CAST(s_a AS DOUBLE) / n_a)
          / sqrt((CAST(s_a + s_b AS DOUBLE) / (n_a + n_b))
            * (1.0 - CAST(s_a + s_b AS DOUBLE) / (n_a + n_b))
            * (1.0 / n_a + 1.0 / n_b))
        * 10000.0 + 0.5) / 10000.0 AS z_score
    FROM a"""))

  /** Mutual information between language and source (in nats) with
    * both marginal entropies — the information-theoretic sibling of
    * q_chi_square's frequency test (chi-square asks "independent?";
    * MI asks "how MANY bits does source leak about language?" — the
    * redundancy signal corpus mixers weight by). Marginals via
    * vocab-sized window sums over the observed cells; every log
    * argument is a ratio of exact integers; the Σ(o/N)·ln(oN/(rt·ct))
    * fold is the q_token_entropy float-sum precedent, rounded at 6dp.
    * One scan, dimension-sized everything. */
  private val qMutualInfo = Q(
    "q_mutual_info",
    (s, d) => {
      val cells = t(s, d, "documents")
        .groupBy("lang", "source").agg(count(lit(1)).as("o"))
      val wl = Window.partitionBy("lang")
      val ws = Window.partitionBy("source")
      val wg = Window.partitionBy()
      val withM = cells
        .withColumn("rt", sum("o").over(wl))
        .withColumn("ct", sum("o").over(ws))
        .withColumn("n", sum("o").over(wg))
      val mi = sum((col("o").cast("double") / col("n")) *
        log((col("o").cast("double") * col("n")) /
          (col("rt").cast("double") * col("ct"))))
      // Marginal entropies from the SAME cell table: H = ln N − Σo·ln(o)/N
      // over each marginal's distinct totals (cells collapse per lang /
      // per source first — integer sums).
      val hl = withM.groupBy("lang").agg(max("rt").as("m"), max("n").as("n"))
        .agg((log(max("n")) -
          sum(col("m").cast("double") * log(col("m"))) / max("n")).as("h"))
      val hs = withM.groupBy("source").agg(max("ct").as("m"), max("n").as("n"))
        .agg((log(max("n")) -
          sum(col("m").cast("double") * log(col("m"))) / max("n")).as("h"))
      withM.agg(max("n").as("n_docs"), count(lit(1)).as("n_cells"),
          mi.as("mi_raw"))
        .crossJoin(broadcast(hl.select(col("h").as("h_lang"))))
        .crossJoin(broadcast(hs.select(col("h").as("h_source"))))
        .select(col("n_docs"), col("n_cells"),
          TextAnalysis.roundStable(col("mi_raw"), 6).as("mi_nats"),
          TextAnalysis.roundStable(col("h_lang"), 6).as("h_lang"),
          TextAnalysis.roundStable(col("h_source"), 6).as("h_source"))
    },
    Some("""WITH cells AS (
      SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2),
    m AS (SELECT lang, source, o,
        CAST(sum(o) OVER (PARTITION BY lang) AS BIGINT) AS rt,
        CAST(sum(o) OVER (PARTITION BY source) AS BIGINT) AS ct,
        CAST(sum(o) OVER () AS BIGINT) AS n
      FROM cells),
    mi AS (SELECT max(n) AS n_docs, count(*) AS n_cells,
        sum((CAST(o AS DOUBLE) / n)
          * ln((CAST(o AS DOUBLE) * n) / (CAST(rt AS DOUBLE) * ct)))
          AS mi_raw
      FROM m),
    hl AS (SELECT ln(max(n)) - sum(CAST(m AS DOUBLE) * ln(m)) / max(n) AS h
      FROM (SELECT lang, max(rt) AS m, max(n) AS n FROM m GROUP BY 1)),
    hs AS (SELECT ln(max(n)) - sum(CAST(m AS DOUBLE) * ln(m)) / max(n) AS h
      FROM (SELECT source, max(ct) AS m, max(n) AS n FROM m GROUP BY 1))
    SELECT mi.n_docs, mi.n_cells,
      floor(mi.mi_raw * 1000000.0 + 0.5) / 1000000.0 AS mi_nats,
      floor(hl.h * 1000000.0 + 0.5) / 1000000.0 AS h_lang,
      floor(hs.h * 1000000.0 + 0.5) / 1000000.0 AS h_source
    FROM mi, hl, hs"""))

  /** Product communities — connected components over the support≥3
    * co-purchase graph (the market-basket analogue of the dedup
    * clusters: q_event_pairs scores the edges, this names the
    * communities), labeled by [[Dedup.connectedComponents]]'
    * large-star/small-star contraction (O(log² n) rounds on any
    * shape) with per-community size attached. The support threshold
    * is load-bearing twice: it separates signal from one-off
    * co-occurrence noise AND keeps the oracle's transitive closure
    * polynomial (the support-2 graph at gate SF has a 1,860-node
    * giant component → a 3.5M-row reachability table). */
  private val qCopurchaseComponents = Q(
    "q_copurchase_components",
    (s, d) => {
      val cc = Dedup.connectedComponents(copurchaseEdges(s, d, 3, "i", "j"))
      val w = Window.partitionBy("cluster_id")
      cc.withColumn("csize", count(lit(1)).over(w))
        .select(col("doc_id").as("part_id"), col("cluster_id"),
          col("csize"))
        .orderBy("part_id")
    },
    Some("""WITH RECURSIVE pp AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    e AS (
      SELECT a.pk AS i, b.pk AS j
      FROM pp a JOIN pp b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY 1, 2 HAVING count(*) >= 3),
    sym AS (SELECT i AS v, j AS u FROM e
            UNION ALL SELECT j AS v, i AS u FROM e),
    reach AS (
      SELECT v, u FROM sym
      UNION
      SELECT r.v, s.u FROM reach r JOIN sym s ON r.u = s.v
        WHERE s.u <> r.v),
    lab AS (
      SELECT v AS part_id, least(v, min(u)) AS cluster_id
      FROM reach GROUP BY v)
    SELECT part_id, cluster_id,
      count(*) OVER (PARTITION BY cluster_id) AS csize
    FROM lab ORDER BY part_id"""))

  /** Multi-source BFS blast radius over the support-3 co-purchase
    * graph — hop distance (≤ 3) from the seed set {the 3 smallest
    * part ids present in the graph} to every reachable part, with
    * per-hop counts riding along. The seed rule is scale-proof: a
    * modulus predicate goes EMPTY on fixture scales where the
    * support-3 graph is sparse (a vacuously-green correctness row
    * that would hide frontier bugs), while smallest-3 is non-empty on
    * any non-empty graph. [[Graph.bfsHops]] expands level-
    * synchronously (per hop: frontier ⋈ edges + min-agg, shuffle
    * bytes O(frontier·degree)), reading the MATERIALIZED bucketed
    * edge index the rest of the graph family shares. The oracle walks
    * the same graph with a hop-bounded recursive CTE (terminates:
    * hops strictly increases to the bound) and takes min hops per
    * node. */
  private val qBfsHops = Q(
    "q_bfs_hops",
    (s, d) => {
      val edges = copurchaseEdges(s, d, 3, "u", "v")
      val nodes = edges.select(col("u").as("node"))
        .unionByName(edges.select(col("v").as("node"))).distinct()
      val seeds = nodes.orderBy("node").limit(3)
      Graph.bfsHops(edges, seeds, maxHops = 3)
        .orderBy("node")
    },
    Some("""WITH RECURSIVE pp AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    e AS (
      SELECT a.pk AS u, b.pk AS v
      FROM pp a JOIN pp b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY 1, 2 HAVING count(*) >= 3),
    sym AS (SELECT u AS src, v AS dst FROM e
            UNION ALL SELECT v AS src, u AS dst FROM e),
    nodes AS (SELECT DISTINCT src AS node FROM sym),
    seeds AS (SELECT node FROM nodes ORDER BY node LIMIT 3),
    walk(node, hops) AS (
      SELECT node, 0 FROM seeds
      UNION ALL
      SELECT s.dst, w.hops + 1 FROM walk w
      JOIN sym s ON s.src = w.node WHERE w.hops < 3)
    SELECT node, CAST(min(hops) AS BIGINT) AS hops
    FROM walk GROUP BY node ORDER BY node"""))

  /** Flesch-style readability per document — reading-ease from
    * words/sentences/syllables, the lightweight quality gate next to
    * q_quality_score's ratio gates (education-level filtering is a
    * standard corpus-curation dimension). Syllables ≈ vowel-group
    * count, words ≈ non-space runs, sentences ≈ periods+1 — all three
    * are regexp COUNTS over the raw text (Spark regexp_count ≡
    * DuckDB len(regexp_extract_all) on these metacharacter-free
    * character classes), so the per-doc features are exact integers;
    * the score is one shared float expression with decimal-literal
    * coefficients. Map-only — no shuffle at all until the output
    * sort. */
  private val qReadability = Q(
    "q_readability",
    (s, d) => {
      val txt = lower(col("text"))
      val words = regexp_count(txt, lit("[^ ]+"))
      val sents = regexp_count(txt, lit("\\.")) + lit(1)
      val syll = regexp_count(txt, lit("[aeiouy]+"))
      t(s, d, "documents")
        .select(col("doc_id"),
          words.cast("long").as("n_words"),
          sents.cast("long").as("n_sents"),
          syll.cast("long").as("n_syll"))
        .filter(col("n_words") > 0)
        .withColumn("flesch", TextAnalysis.roundStable(
          lit(206.835) -
            lit(1.015) * (col("n_words").cast("double") / col("n_sents")) -
            lit(84.6) * (col("n_syll").cast("double") / col("n_words")), 4))
        .orderBy("doc_id")
    },
    Some("""WITH f AS (
      SELECT doc_id,
        len(regexp_extract_all(lower(text), '[^ ]+')) AS n_words,
        len(regexp_extract_all(lower(text), '\.')) + 1 AS n_sents,
        len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syll
      FROM documents)
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
      CAST(n_sents AS BIGINT) AS n_sents, CAST(n_syll AS BIGINT) AS n_syll,
      floor((206.835
          - 1.015 * (CAST(n_words AS DOUBLE) / n_sents)
          - 84.6 * (CAST(n_syll AS DOUBLE) / n_words))
        * 10000.0 + 0.5) / 10000.0 AS flesch
    FROM f WHERE n_words > 0 ORDER BY doc_id"""))

  /** Top day-over-day movers — the 10 (type, day) cells with the
    * largest absolute count change vs the previous day, the "what
    * spiked?" triage query. Deltas are integer lag differences on the
    * day-level aggregate (one ordered window per type); the global
    * top-10 plans as TakeOrderedAndProject (bounded heap per
    * partition — no full sort of the series, the q_results_topk
    * discipline). Deterministic tiebreak (type, day) keeps the cut
    * stable. */
  private val qTopMovers = Q(
    "q_top_movers",
    (s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type").orderBy("day")
      daily.withColumn("prev", lag(col("n"), 1).over(w))
        .filter(col("prev").isNotNull)
        .withColumn("delta", col("n") - col("prev"))
        .withColumn("abs_delta", abs(col("delta")))
        .orderBy(col("abs_delta").desc, col("event_type").asc,
          col("day").asc)
        .limit(10)
        .select("event_type", "day", "n", "prev", "delta", "abs_delta")
    },
    Some("""WITH daily AS (
      SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        count(*) AS n
      FROM events GROUP BY 1, 2),
    lagged AS (SELECT event_type, day, n,
        lag(n, 1) OVER (PARTITION BY event_type ORDER BY day) AS prev
      FROM daily)
    SELECT event_type, day, n, prev, n - prev AS delta,
      abs(n - prev) AS abs_delta
    FROM lagged WHERE prev IS NOT NULL
    ORDER BY abs_delta DESC, event_type ASC, day ASC LIMIT 10"""))

  /** Regional revenue rollup — the TPC-H Q5 join shape (fact ⋈ orders
    * ⋈ customer ⋈ nation ⋈ region) that exercises the planner's
    * broadcast-chain judgment: lineitem joins orders on the shuffled
    * fact key ONCE, then every dimension hop (customer at gate SF is
    * dimension-grade; nation/region always are) rides a broadcast —
    * the plan a 100 TB star schema needs, where re-shuffling the fact
    * table per dimension would dominate the query. Revenue
    * ep·(1−disc) is computed in double (2+2-decimal inputs ⇒ the
    * true product has ≤4 decimals, so the per-row decimal(18,6) cast
    * is unambiguous on both engines) and DECIMAL-summed
    * (order-independent). */
  private val qRegionalRevenue = Q(
    "q_regional_revenue",
    (s, d) => {
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,6)").as("rev"))
      val ord = t(s, d, "orders").select("o_orderkey", "o_custkey")
      val cust = t(s, d, "customer").select("c_custkey", "c_nationkey")
      val nat = t(s, d, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
      val reg = t(s, d, "region").select("r_regionkey", "r_name")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
        .agg(count(lit(1)).as("n_items"),
          sum("rev").as("revd"))
        .select(col("region"), col("nation"), col("n_items"),
          TextAnalysis.roundStable(col("revd").cast("double"), 2)
            .as("revenue"))
        .orderBy("region", "nation")
    },
    Some("""SELECT r.r_name AS region, n.n_name AS nation,
      count(*) AS n_items,
      floor(CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount)
          AS DECIMAL(18,6))) AS DOUBLE) * 100.0 + 0.5) / 100.0 AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 2 ORDER BY region, nation"""))

  /** Discount lift — quantity response and forgone revenue per
    * discount level (the TPC-H Q6 question asked properly: not one
    * band, the whole curve). Discount levels are DISCRETE 2-decimal
    * values: keying the groupBy on round(d·100) keeps the key integer
    * (grouping raw doubles on equality is the cross-engine trap).
    * Quantity and the ep·d forgone-revenue product are DECIMAL-summed;
    * the means are single rounded divisions. One scan, map-side
    * combined, |levels| rows. */
  private val qDiscountLift = Q(
    "q_discount_lift",
    (s, d) => t(s, d, "lineitem")
      .groupBy(floor(col("l_discount") * 100 + lit(0.5)).cast("long")
        .as("disc_pct"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,6)")).as("qty"),
        sum((col("l_extendedprice") * col("l_discount"))
          .cast("decimal(18,6)")).as("forgone"))
      .select(col("disc_pct"), col("n"),
        TextAnalysis.roundStable(
          col("qty").cast("double") / col("n"), 4).as("avg_qty"),
        TextAnalysis.roundStable(col("forgone").cast("double"), 2)
          .as("forgone_rev"))
      .orderBy("disc_pct"),
    Some("""SELECT CAST(floor(l_discount * 100 + 0.5) AS BIGINT)
        AS disc_pct,
      count(*) AS n,
      floor(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
        / count(*) * 10000.0 + 0.5) / 10000.0 AS avg_qty,
      floor(CAST(sum(CAST(l_extendedprice * l_discount
          AS DECIMAL(18,6))) AS DOUBLE) * 100.0 + 0.5) / 100.0
        AS forgone_rev
    FROM lineitem GROUP BY 1 ORDER BY disc_pct"""))

  /** Inter-purchase gap profile per user — the repeat-behavior
    * signal behind churn models (long gaps → churn risk; q_streak
    * counts consecutive days, this measures the spacing). One user
    * exchange: purchase rows lag-diffed in integer seconds on the
    * (user ORDER BY ts, id) window, then the same-keyed aggregate
    * (exchange reuse, the q_session_stats discipline). Median gap is
    * an exact percentile over integer seconds. */
  private val qOrderGap = Q(
    "q_order_gap",
    (s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      t(s, d, "events")
        .filter(col("event_type") === "purchase")
        .withColumn("gap_sec",
          ((unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
            / lit(1000000L)).cast("long"))
        .filter(col("gap_sec").isNotNull)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_gaps"),
          min("gap_sec").as("min_gap"),
          max("gap_sec").as("max_gap"),
          expr("percentile(gap_sec, 0.5D)").as("medr"))
        .select(col("user_id"), col("n_gaps"), col("min_gap"),
          col("max_gap"),
          TextAnalysis.roundStable(col("medr"), 1).as("median_gap"))
        .orderBy("user_id")
    },
    Some("""WITH p AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS tts
      FROM events WHERE event_type = 'purchase'),
    g AS (SELECT user_id,
        (epoch_us(tts) - epoch_us(lag(tts) OVER (PARTITION BY user_id
          ORDER BY tts ASC, event_id ASC))) // 1000000 AS gap_sec
      FROM p)
    SELECT user_id, count(*) AS n_gaps,
      min(gap_sec) AS min_gap, max(gap_sec) AS max_gap,
      floor(quantile_cont(gap_sec, 0.5) * 10.0 + 0.5) / 10.0 AS median_gap
    FROM g WHERE gap_sec IS NOT NULL GROUP BY 1 ORDER BY user_id"""))

  /** Anomalous days — days whose count sits more than 2σ from the
    * type's mean daily count (the alert q_rolling_stats feeds locally,
    * asked globally). Mean and variance come from INTEGER power sums
    * (Σn, Σn², k — exact, order-free); each day's z-score is the
    * identical IEEE expression both sides; the per-type stats row is
    * a broadcast join back to the daily table (5 rows — never a
    * shuffle of the series). Population σ (÷k), matching the oracle
    * spelled the same way. */
  private val qAnomalyDays = Q(
    "q_anomaly_days",
    (s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val stats = daily.groupBy("event_type")
        .agg(count(lit(1)).as("k"), sum("n").as("sx"),
          sum(col("n") * col("n")).as("sxx"))
      val mean = col("sx").cast("double") / col("k")
      val varp = (col("k") * col("sxx") - col("sx") * col("sx"))
        .cast("double") / (col("k").cast("double") * col("k"))
      val z = (col("n") - mean) / sqrt(varp)
      daily.join(broadcast(stats), "event_type")
        .filter(varp > 0 && abs(col("n") - mean) > lit(2.0) * sqrt(varp))
        .select(col("event_type"), col("day"), col("n"),
          TextAnalysis.roundStable(mean, 4).as("mean_n"),
          TextAnalysis.roundStable(z, 4).as("z_score"))
        .orderBy("event_type", "day")
    },
    Some("""WITH daily AS (
      SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        count(*) AS n
      FROM events GROUP BY 1, 2),
    st AS (SELECT event_type, count(*) AS k,
        CAST(sum(n) AS BIGINT) AS sx, CAST(sum(n * n) AS BIGINT) AS sxx
      FROM daily GROUP BY 1)
    SELECT d.event_type, d.day, d.n,
      floor(CAST(sx AS DOUBLE) / k * 10000.0 + 0.5) / 10000.0 AS mean_n,
      floor((d.n - CAST(sx AS DOUBLE) / k)
          / sqrt(CAST(k * sxx - sx * sx AS DOUBLE)
            / (CAST(k AS DOUBLE) * k))
        * 10000.0 + 0.5) / 10000.0 AS z_score
    FROM daily d JOIN st USING (event_type)
    WHERE CAST(k * sxx - sx * sx AS DOUBLE) / (CAST(k AS DOUBLE) * k) > 0
      AND abs(d.n - CAST(sx AS DOUBLE) / k)
        > 2.0 * sqrt(CAST(k * sxx - sx * sx AS DOUBLE)
          / (CAST(k AS DOUBLE) * k))
    ORDER BY event_type, day"""))

  /** Stratified k-fold assignment — deterministic 5-fold split
    * balanced WITHIN each language (the eval-split builder next to
    * q_shard_assign's size-balanced sharding and q_stratified_sample's
    * rate sampling): fold = per-lang row_number mod 5, so every
    * (lang, fold) cell holds ⌈/⌋ of the stratum. Output is the
    * bounded audit table (lang × fold counts + min/max doc ids), not
    * the corpus rows. The per-lang window sorts by doc_id — at corpus
    * scale swap the row_number for [[Ranking.globalRank]]'s histogram
    * rank per stratum (same fold arithmetic, no single-partition
    * stratum sort). */
  private val qKfold = Q(
    "q_kfold",
    (s, d) => {
      val w = Window.partitionBy("lang").orderBy("doc_id")
      t(s, d, "documents")
        .select(col("doc_id"), col("lang"))
        .withColumn("fold", (row_number().over(w) - 1) % 5)
        .groupBy("lang", "fold")
        .agg(count(lit(1)).as("n"),
          min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
        .withColumn("fold", col("fold").cast("long"))
        .orderBy("lang", "fold")
    },
    Some("""WITH f AS (
      SELECT doc_id, lang,
        (row_number() OVER (PARTITION BY lang ORDER BY doc_id) - 1) % 5
          AS fold
      FROM documents)
    SELECT lang, CAST(fold AS BIGINT) AS fold, count(*) AS n,
      min(doc_id) AS min_doc, max(doc_id) AS max_doc
    FROM f GROUP BY 1, 2 ORDER BY lang, fold"""))

  /** Recall@5 of the IVF probe against the exact brute-force baseline
    * — the EVALUATION query an ANN index ships with (q_ann_topk and
    * q_ann_ivf produce the rankings; this scores them, per query and
    * exactly). A left join from the truth list to the probe list on
    * (query, candidate) counts hits; recall is hits/k. Both sides are
    * k-bounded per query, so the join moves 2·|queries|·k rows
    * total — evaluation cost is independent of corpus size (the 100
    * TB property an eval harness needs). */
  private val qRecallAtK = Q(
    "q_recall_at_k",
    (s, d) => {
      val emb = t(s, d, "embeddings")
      val brute = Similarity.bruteTopK(emb, col("vec_id") < 8, k = 5)
        .select(col("query_id"), col("cand_id"))
      val ivf = Similarity.ivfTopK(emb, col("vec_id") < 8, k = 5,
          cellBits = 8)
        .select(col("query_id"), col("cand_id"), lit(1L).as("hit"))
      brute.join(ivf, Seq("query_id", "cand_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("k"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
        .select(col("query_id"), col("k"), col("n_hits"),
          TextAnalysis.roundStable(
            col("n_hits").cast("double") / col("k"), 4).as("recall"))
        .orderBy("query_id")
    },
    Some("""WITH m AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    w AS (SELECT vec_id, v,
      sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm,
      (CASE WHEN v[1] >= 0 THEN 1 ELSE 0 END)
      + (CASE WHEN v[2] >= 0 THEN 2 ELSE 0 END)
      + (CASE WHEN v[3] >= 0 THEN 4 ELSE 0 END)
      + (CASE WHEN v[4] >= 0 THEN 8 ELSE 0 END)
      + (CASE WHEN v[5] >= 0 THEN 16 ELSE 0 END)
      + (CASE WHEN v[6] >= 0 THEN 32 ELSE 0 END)
      + (CASE WHEN v[7] >= 0 THEN 64 ELSE 0 END)
      + (CASE WHEN v[8] >= 0 THEN 128 ELSE 0 END) AS cell
      FROM m),
    q AS (SELECT * FROM w WHERE vec_id < 8),
    bs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) AS cos_sim
      FROM q JOIN w c ON c.vec_id <> q.vec_id),
    br AS (SELECT query_id, cand_id FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY cos_sim DESC, cand_id ASC) AS rk FROM bs) WHERE rk <= 5),
    is_ AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) AS cos_sim
      FROM q JOIN w c ON c.cell = q.cell AND c.vec_id <> q.vec_id),
    iv AS (SELECT query_id, cand_id, 1 AS hit FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY cos_sim DESC, cand_id ASC) AS rk FROM is_) WHERE rk <= 5)
    SELECT b.query_id AS query_id, count(*) AS k,
      CAST(sum(COALESCE(iv.hit, 0)) AS BIGINT) AS n_hits,
      floor(CAST(sum(COALESCE(iv.hit, 0)) AS DOUBLE) / count(*)
        * 10000.0 + 0.5) / 10000.0 AS recall
    FROM br b LEFT JOIN iv
      ON iv.query_id = b.query_id AND iv.cand_id = b.cand_id
    GROUP BY 1 ORDER BY b.query_id"""))

  /** Per-label medoid over a deterministic 1-in-20 sample — the
    * actual-member cluster representative (q_label_centroids' mean is
    * not a member; the medoid is, which is what you hand to a human
    * or use as a retrieval exemplar). Label-blocked all-pairs over
    * the SAMPLE keeps the O(b²) pair count calibration-grade
    * (the q_semdedup exact-twin discipline — at corpus scale the
    * medoid is approximated against q_label_centroids' centroid
    * instead); argmax-of-total-similarity picks by (score desc, id
    * asc) via one label-bounded window. */
  private val qMedoid = Q(
    "q_medoid",
    (s, d) => {
      val emb = t(s, d, "embeddings").filter(col("vec_id") % 20 === 0)
      val prepped = emb.select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
        .withColumn("nrm", sqrt(aggregate(col("v"), lit(0.0),
          (acc, x) => acc + x * x)))
      val sims = prepped.as("a").join(prepped.as("b"),
          col("a.label") === col("b.label")
            && col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.label").as("label"), col("a.vec_id").as("vec_id"),
          (aggregate(zip_with(col("a.v"), col("b.v"), (x, y) => x * y),
            lit(0.0), (acc, x) => acc + x) /
            (col("a.nrm") * col("b.nrm"))).as("sim"))
      val totals = sims.groupBy("label", "vec_id")
        .agg(count(lit(1)).as("n_others"),
          TextAnalysis.roundStable(sum("sim"), 6).as("total_sim"))
      val w = Window.partitionBy("label")
        .orderBy(col("total_sim").desc, col("vec_id").asc)
      totals.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("label").cast("long").as("label"),
          col("vec_id").as("medoid_id"), col("n_others"),
          TextAnalysis.roundStable(
            col("total_sim") / col("n_others"), 6).as("mean_sim"))
        .orderBy("label")
    },
    Some("""WITH m AS (
      SELECT vec_id, label,
        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE vec_id % 20 = 0),
    w AS (SELECT vec_id, label, v,
      sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM m),
    sims AS (
      SELECT a.label, a.vec_id,
        list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS sim
      FROM w a JOIN w b ON a.label = b.label AND a.vec_id <> b.vec_id),
    tot AS (SELECT label, vec_id, count(*) AS n_others,
        floor(sum(sim) * 1000000.0 + 0.5) / 1000000.0 AS total_sim
      FROM sims GROUP BY 1, 2),
    r AS (SELECT *, row_number() OVER (PARTITION BY label
        ORDER BY total_sim DESC, vec_id ASC) AS rn FROM tot)
    SELECT CAST(label AS BIGINT) AS label, vec_id AS medoid_id, n_others,
      floor(total_sim / n_others * 1000000.0 + 0.5) / 1000000.0
        AS mean_sim
    FROM r WHERE rn = 1 ORDER BY label"""))

  /** Gini coefficient of customer revenue — the single-number
    * inequality summary next to q_pareto's top-share cuts, via the
    * rank-weighted identity G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over
    * ascending-ranked revenues. The rank is [[Ranking.globalRank]]'s
    * histogram prefix sum (no corpus single-partition sort); both
    * Σ(i·xᵢ) and Σx accumulate in DECIMAL (rank·revenue stays
    * decimal), so the score is exact until one closing double
    * expression. */
  private val qGini = Q(
    "q_gini",
    (s, d) => {
      val rev = t(s, d, "orders").groupBy("o_custkey")
        .agg(sum(col("o_totalprice").cast("decimal(18,6)")).as("rev"))
      val ranked = Ranking.globalRank(rev, col("rev"), col("o_custkey"),
        valueAscending = true, rankName = "rn")
      ranked.agg(count(lit(1)).as("n"),
          sum("rev").as("sx"),
          sum(col("rn") * col("rev")).as("sxi"))
        .select(col("n"),
          TextAnalysis.roundStable(col("sx").cast("double"), 2)
            .as("total_rev"),
          TextAnalysis.roundStable(
            lit(2.0) * col("sxi").cast("double") /
              (col("n") * col("sx").cast("double")) -
              (col("n") + lit(1.0)) / col("n"), 6).as("gini"))
    },
    Some("""WITH rev AS (
      SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,6))) AS rev
      FROM orders GROUP BY 1),
    ranked AS (SELECT rev, row_number() OVER (
        ORDER BY rev ASC, o_custkey ASC) AS rn
      FROM rev),
    a AS (SELECT count(*) AS n,
        sum(rev) AS sx, sum(rn * rev) AS sxi
      FROM ranked)
    SELECT n,
      floor(CAST(sx AS DOUBLE) * 100.0 + 0.5) / 100.0 AS total_rev,
      floor((2.0 * CAST(sxi AS DOUBLE) / (n * CAST(sx AS DOUBLE))
          - (n + 1.0) / n) * 1000000.0 + 0.5) / 1000000.0 AS gini
    FROM a"""))

  /** Exponential freshness-decay score per event type — the trending
    * metric (recent activity counts more, e^(−age/7) half-life ≈ 4.85
    * days). The corpus folds to (type, day, n) first, so the float
    * decay fold runs over the BOUNDED daily table (the
    * q_token_entropy float-sum precedent); age comes from a broadcast
    * single-row global max-day; one scan. */
  private val qFreshnessDecay = Q(
    "q_freshness_decay",
    (s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val mx = daily.agg(max("day").as("dmax"))
      daily.crossJoin(broadcast(mx))
        .withColumn("age", datediff(col("dmax"), col("day")))
        .groupBy("event_type")
        .agg(sum("n").as("n_events"),
          TextAnalysis.roundStable(
            sum(col("n").cast("double") *
              exp(-col("age").cast("double") / lit(7.0))), 4)
            .as("fresh_score"))
        .orderBy("event_type")
    },
    Some("""WITH daily AS (
      SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        count(*) AS n
      FROM events GROUP BY 1, 2),
    mx AS (SELECT max(day) AS dmax FROM daily)
    SELECT event_type, CAST(sum(n) AS BIGINT) AS n_events,
      floor(sum(CAST(n AS DOUBLE)
          * exp(-CAST(date_diff('day', day, dmax) AS DOUBLE) / 7.0))
        * 10000.0 + 0.5) / 10000.0 AS fresh_score
    FROM daily, mx GROUP BY 1 ORDER BY event_type"""))

  /** Audience overlap matrix — pairwise Jaccard of the user sets
    * behind each event type (q_event_pairs scores lift; this answers
    * the segmentation question "are clickers and buyers the same
    * people?"). Same one-scan discipline: per-user type sets fold in
    * one exchange, pairs explode row-locally, marginals come from the
    * SAME cached set table; Jaccard |∩|/(|a|+|b|−|∩|) is exact
    * integers until one rounded division. */
  private val qSegmentOverlap = Q(
    "q_segment_overlap",
    (s, d) => {
      val sets = graft.operators.CacheRegistry.global.track(
        t(s, d, "events").groupBy("user_id")
          .agg(collect_set("event_type").as("types")).persist())
      val pairs = sets
        .select(explode(col("types")).as("a"), col("types"))
        .select(col("a"), explode(col("types")).as("b"))
        .filter(col("a") < col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("n_both"))
      val perType = sets.select(explode(col("types")).as("et"))
        .groupBy("et").agg(count(lit(1)).as("n"))
      pairs
        .join(perType.select(col("et").as("a"), col("n").as("n_a")), "a")
        .join(perType.select(col("et").as("b"), col("n").as("n_b")), "b")
        .select(col("a"), col("b"), col("n_a"), col("n_b"), col("n_both"),
          TextAnalysis.roundStable(
            col("n_both").cast("double") /
              (col("n_a") + col("n_b") - col("n_both")), 6).as("jaccard"))
        .orderBy("a", "b")
    },
    Some("""WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    pt AS (SELECT event_type, count(*) AS n FROM ut GROUP BY 1),
    pr AS (SELECT a.event_type AS a, b.event_type AS b, count(*) AS n_both
           FROM ut a JOIN ut b
             ON a.user_id = b.user_id AND a.event_type < b.event_type
           GROUP BY 1, 2)
    SELECT pr.a, pr.b, pa.n AS n_a, pb.n AS n_b, pr.n_both,
      floor(CAST(pr.n_both AS DOUBLE) / (pa.n + pb.n - pr.n_both)
        * 1000000.0 + 0.5) / 1000000.0 AS jaccard
    FROM pr JOIN pt pa ON pa.event_type = pr.a
         JOIN pt pb ON pb.event_type = pr.b
    ORDER BY a, b"""))

  /** Daily-count OLS trend per event type — slope/intercept/R² of
    * n ~ day_index, the "is this metric growing?" number behind every
    * sparkline. Day index is the integer day offset from the type's
    * first day, so ALL five power sums (k, Σx, Σy, Σxy, Σx², Σy²) are
    * exact BIGINTs (the q_autocorr discipline); slope, intercept and
    * R² are closing double expressions written identically on both
    * sides. One exchange to the daily table, one to the per-type
    * summary. Zero-variance series → NULL via the denominator guard. */
  private val qTrend = Q(
    "q_trend",
    (s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val wmin = Window.partitionBy("event_type")
      val idx = daily
        .withColumn("x", datediff(col("day"), min("day").over(wmin))
          .cast("long"))
      val st = idx.groupBy("event_type").agg(
        count(lit(1)).as("k"),
        sum("x").as("sx"), sum("n").as("sy"),
        sum(col("x") * col("n")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("n") * col("n")).as("syy"))
      val dxx = (col("k") * col("sxx") - col("sx") * col("sx"))
        .cast("double")
      val dyy = (col("k") * col("syy") - col("sy") * col("sy"))
        .cast("double")
      val dxy = (col("k") * col("sxy") - col("sx") * col("sy"))
        .cast("double")
      val slope = dxy / dxx
      st.select(col("event_type"), col("k").as("n_days"),
          TextAnalysis.roundStable(when(dxx > 0, slope), 6).as("slope"),
          TextAnalysis.roundStable(
            when(dxx > 0,
              (col("sy").cast("double") - slope * col("sx")) / col("k")),
            4).as("intercept"),
          TextAnalysis.roundStable(
            when(dxx > 0 && dyy > 0, (dxy * dxy) / (dxx * dyy)), 6)
            .as("r2"))
        .orderBy("event_type")
    },
    Some("""WITH daily AS (
      SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        count(*) AS n
      FROM events GROUP BY 1, 2),
    idx AS (SELECT event_type, n,
        date_diff('day', min(day) OVER (PARTITION BY event_type), day)
          AS x
      FROM daily),
    st AS (SELECT event_type, count(*) AS k,
        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(n) AS BIGINT) AS sy,
        CAST(sum(x * n) AS BIGINT) AS sxy,
        CAST(sum(x * x) AS BIGINT) AS sxx,
        CAST(sum(n * n) AS BIGINT) AS syy
      FROM idx GROUP BY 1)
    SELECT event_type, k AS n_days,
      CASE WHEN (k * sxx - sx * sx) > 0 THEN
        floor(CAST(k * sxy - sx * sy AS DOUBLE)
            / CAST(k * sxx - sx * sx AS DOUBLE) * 1000000.0 + 0.5)
          / 1000000.0 END AS slope,
      CASE WHEN (k * sxx - sx * sx) > 0 THEN
        floor((CAST(sy AS DOUBLE)
            - CAST(k * sxy - sx * sy AS DOUBLE)
              / CAST(k * sxx - sx * sx AS DOUBLE) * sx) / k
          * 10000.0 + 0.5) / 10000.0 END AS intercept,
      CASE WHEN (k * sxx - sx * sx) > 0 AND (k * syy - sy * sy) > 0 THEN
        floor((CAST(k * sxy - sx * sy AS DOUBLE)
             * CAST(k * sxy - sx * sy AS DOUBLE))
            / (CAST(k * sxx - sx * sx AS DOUBLE)
             * CAST(k * syy - sy * sy AS DOUBLE)) * 1000000.0 + 0.5)
          / 1000000.0 END AS r2
    FROM st ORDER BY event_type"""))

  /** Top event-path trigrams — the most common 3-step user journeys
    * (funnel discovery, where q_funnel checks ONE known path). Each
    * user's event sequence folds into ONE ordered array (deterministic
    * (ts, event_id) sort INSIDE the aggregate via sorted structs —
    * never a corpus window), trigrams explode row-locally from
    * consecutive positions, and the global top-10 is
    * TakeOrderedAndProject. The per-user array is session-bounded at
    * 100 TB (cap long tails before collecting — q_chunk's
    * discipline). */
  private val qEventTrigrams = Q(
    "q_event_trigrams",
    (s, d) => {
      val seqs = t(s, d, "events")
        .groupBy("user_id")
        .agg(array_sort(collect_list(struct(col("ts"), col("event_id"),
          col("event_type")))).as("evs"))
        .select(col("user_id"),
          transform(col("evs"), e => e.getField("event_type")).as("path"))
      // size >= 3 filter BEFORE the sequence: Spark's sequence(1, 0)
      // is a DESCENDING [1, 0] (DuckDB's range(1, 1) is empty) — a
      // short path would fabricate null trigrams.
      val tri = seqs
        .filter(size(col("path")) >= 3)
        .select(explode(expr(
          """transform(sequence(1, size(path) - 2),
             i -> concat(path[i-1], '>', path[i], '>', path[i+1]))"""))
          .as("trigram"))
      tri.groupBy("trigram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("trigram").asc)
        .limit(10)
    },
    Some("""WITH seqs AS (
      SELECT user_id,
        list_transform(
          list_sort(list((CAST(ts AS TIMESTAMP), event_id, event_type))),
          e -> e[3]) AS path
      FROM events GROUP BY 1),
    tri AS (
      SELECT unnest(list_transform(range(1, greatest(len(path) - 1, 1)),
          i -> path[i] || '>' || path[i+1] || '>' || path[i+2]))
        AS trigram
      FROM seqs WHERE len(path) >= 3)
    SELECT trigram, count(*) AS n FROM tri GROUP BY 1
    ORDER BY n DESC, trigram ASC LIMIT 10"""))

  /** Seasonal-naive forecast backtest — MAPE of "predict each day by
    * the value 7 days earlier" per event type, the baseline every real
    * forecast must beat (a model that can't beat lag-7 is noise).
    * Integer lag pairs from one ordered window; MAPE is a float fold
    * over the BOUNDED daily table (the established precedent) with
    * exact-integer |n−p| numerators. Also reports bias (mean signed
    * error) — the direction-of-drift diagnostic. */
  private val qForecastMape = Q(
    "q_forecast_mape",
    (s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type").orderBy("day")
      daily.withColumn("p", lag(col("n"), 7).over(w))
        .filter(col("p").isNotNull && col("n") > 0)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          TextAnalysis.roundStable(
            sum(abs(col("n") - col("p")).cast("double") / col("n")) /
              count(lit(1)) * lit(100.0), 4).as("mape_pct"),
          TextAnalysis.roundStable(
            sum((col("n") - col("p")).cast("double")) / count(lit(1)), 4)
            .as("bias"))
        .orderBy("event_type")
    },
    Some("""WITH daily AS (
      SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        count(*) AS n
      FROM events GROUP BY 1, 2),
    lagged AS (SELECT event_type, n,
        lag(n, 7) OVER (PARTITION BY event_type ORDER BY day) AS p
      FROM daily)
    SELECT event_type, count(*) AS n_days,
      floor(sum(CAST(abs(n - p) AS DOUBLE) / n) / count(*) * 100.0
        * 10000.0 + 0.5) / 10000.0 AS mape_pct,
      floor(sum(CAST(n - p AS DOUBLE)) / count(*) * 10000.0 + 0.5)
        / 10000.0 AS bias
    FROM lagged WHERE p IS NOT NULL AND n > 0
    GROUP BY 1 ORDER BY event_type"""))

  /** Winsorization audit — order-value stats before and after a p99
    * cap (the outlier treatment every revenue metric pipeline applies;
    * q_mad_outlier FLAGS outliers, this measures what capping them
    * DOES to the aggregate). The p99 threshold is one exact percentile
    * broadcast back; capped values sum in DECIMAL (per-row least()
    * then cast — deterministic); the means are closing divisions.
    * Shows the exact revenue mass the cap removes. */
  private val qCapping = Q(
    "q_capping",
    (s, d) => {
      val o = t(s, d, "orders").select(col("o_totalprice").as("v"))
      val th = o.agg(expr("percentile(v, 0.99D)").as("p99"))
      o.crossJoin(broadcast(th))
        .agg(count(lit(1)).as("n"),
          max("p99").as("p99r"),
          sum(col("v").cast("decimal(18,6)")).as("sraw"),
          sum(least(col("v"), col("p99")).cast("decimal(18,6)"))
            .as("scap"),
          sum((col("v") > col("p99")).cast("long")).as("n_capped"))
        .select(col("n"), col("n_capped"),
          TextAnalysis.roundStable(col("p99r"), 4).as("p99"),
          TextAnalysis.roundStable(
            col("sraw").cast("double") / col("n"), 4).as("mean_raw"),
          TextAnalysis.roundStable(
            col("scap").cast("double") / col("n"), 4).as("mean_capped"),
          TextAnalysis.roundStable(
            (col("sraw") - col("scap")).cast("double"), 2)
            .as("mass_removed"))
    },
    Some("""WITH o AS (SELECT o_totalprice AS v FROM orders),
    th AS (SELECT quantile_cont(v, 0.99) AS p99 FROM o),
    a AS (SELECT count(*) AS n,
        CAST(sum(CASE WHEN v > p99 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_capped,
        max(p99) AS p99r,
        sum(CAST(v AS DECIMAL(18,6))) AS sraw,
        sum(CAST(least(v, p99) AS DECIMAL(18,6))) AS scap
      FROM o, th)
    SELECT n, n_capped,
      floor(p99r * 10000.0 + 0.5) / 10000.0 AS p99,
      floor(CAST(sraw AS DOUBLE) / n * 10000.0 + 0.5) / 10000.0
        AS mean_raw,
      floor(CAST(scap AS DOUBLE) / n * 10000.0 + 0.5) / 10000.0
        AS mean_capped,
      floor(CAST(sraw - scap AS DOUBLE) * 100.0 + 0.5) / 100.0
        AS mass_removed
    FROM a"""))

  /** Vocabulary growth curve — new (first-seen) tokens per document-id
    * decile of the corpus, the Heaps'-law audit that tells a tokenizer
    * team when vocabulary saturates. First-occurrence is min(doc_id)
    * per token (one tok-keyed exchange, map-side combined — never a
    * corpus-ordered window); the decile fold uses integer width_bucket
    * arithmetic over the broadcast max id. Integer outputs ⇒ exact. */
  private val qVocabGrowth = Q(
    "q_vocab_growth",
    (s, d) => {
      val firsts = t(s, d, "documents")
        .select(col("doc_id"),
          explode(split(lower(col("text")), " ")).as("tok"))
        .groupBy("tok").agg(min("doc_id").as("first_doc"))
      val mx = t(s, d, "documents").agg(max("doc_id").as("dmax"))
      firsts.crossJoin(broadcast(mx))
        .groupBy(least(expr("first_doc * 10 div (dmax + 1)"), lit(9L))
          .as("decile"))
        .agg(count(lit(1)).as("new_tokens"))
        .withColumn("cum_vocab", sum("new_tokens").over(
          Window.orderBy("decile")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .orderBy("decile")
    },
    Some("""WITH firsts AS (
      SELECT tok, min(doc_id) AS first_doc FROM (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        FROM documents)
      GROUP BY 1),
    mx AS (SELECT max(doc_id) AS dmax FROM documents),
    dec AS (SELECT least((first_doc * 10) // (dmax + 1), 9) AS decile
      FROM firsts, mx)
    SELECT decile, count(*) AS new_tokens,
      CAST(sum(count(*)) OVER (ORDER BY decile
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        AS cum_vocab
    FROM dec GROUP BY 1 ORDER BY decile"""))

  /** Last-touch revenue attribution — each purchase's value credited
    * to the most recent PRECEDING non-purchase event type for that
    * user (the marketing question "which channel gets the sale?").
    * The carry-forward is last_value(ignoreNulls) over the user
    * timeline — one ordered user window, no self-join, no as-of pass
    * per channel; purchases with no preceding touch credit
    * '(direct)'. Revenue sums in DECIMAL per channel. ONE user
    * exchange end to end. */
  private val qAttribution = Q(
    "q_attribution",
    (s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      t(s, d, "events")
        .withColumn("touch", last(
          when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .groupBy(coalesce(col("touch"), lit("(direct)")).as("channel"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(col("value").cast("decimal(18,6)")).as("revd"))
        .select(col("channel"), col("n_purchases"),
          TextAnalysis.roundStable(col("revd").cast("double"), 2)
            .as("revenue"))
        .orderBy("channel")
    },
    Some("""WITH e AS (
      SELECT user_id, event_id, event_type, value,
        CAST(ts AS TIMESTAMP) AS tts
      FROM events),
    tch AS (SELECT *,
        last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
          IGNORE NULLS) OVER (PARTITION BY user_id
            ORDER BY tts ASC, event_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
      FROM e)
    SELECT COALESCE(touch, '(direct)') AS channel,
      count(*) AS n_purchases,
      floor(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        * 100.0 + 0.5) / 100.0 AS revenue
    FROM tch WHERE event_type = 'purchase'
    GROUP BY 1 ORDER BY channel"""))

  /** Dwell time per transition — mean/median seconds spent between
    * consecutive events, keyed by the (from → to) pair (q_transition
    * counts WHERE users go; this measures HOW LONG they linger on the
    * way). Gaps are integer seconds from one ordered user window
    * (lag on both type and ts); the per-pair aggregate is
    * vocab²-bounded. Exact percentile over integer seconds. */
  private val qDwellTime = Q(
    "q_dwell_time",
    (s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      t(s, d, "events")
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .withColumn("gap_sec",
          ((unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
            / lit(1000000L)).cast("long"))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type").as("from_type"),
          col("event_type").as("to_type"))
        .agg(count(lit(1)).as("n"),
          TextAnalysis.roundStable(
            sum("gap_sec").cast("double") / count(lit(1)), 2)
            .as("mean_sec"),
          TextAnalysis.roundStable(
            expr("percentile(gap_sec, 0.5D)"), 1).as("median_sec"))
        .orderBy("from_type", "to_type")
    },
    Some("""WITH e AS (
      SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS tts
      FROM events),
    g AS (SELECT event_type,
        lag(event_type) OVER w AS prev_type,
        (epoch_us(tts) - epoch_us(lag(tts) OVER w)) // 1000000 AS gap_sec
      FROM e WINDOW w AS (PARTITION BY user_id
        ORDER BY tts ASC, event_id ASC))
    SELECT prev_type AS from_type, event_type AS to_type,
      count(*) AS n,
      floor(CAST(sum(gap_sec) AS DOUBLE) / count(*) * 100.0 + 0.5)
        / 100.0 AS mean_sec,
      floor(quantile_cont(gap_sec, 0.5) * 10.0 + 0.5) / 10.0
        AS median_sec
    FROM g WHERE prev_type IS NOT NULL
    GROUP BY 1, 2 ORDER BY from_type, to_type"""))

  /** Composition drift index — per day, the L1 distance between
    * today's event-type mix and the mix 7 days earlier (the corpus
    * monitoring alarm: "did the traffic composition shift?" — the
    * same statistic data pipelines run over lang/source mixes between
    * snapshots). Shares are exact integer cell/day-total pairs from
    * ONE daily aggregate; the lag rides per-type ordered windows; the
    * |Δshare| fold sums over ≤|types| terms per day. Day-level
    * everything after the first exchange. */
  private val qMixShift = Q(
    "q_mix_shift",
    (s, d) => {
      val daily = t(s, d, "events")
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val wd = Window.partitionBy("day")
      val wt = Window.partitionBy("event_type").orderBy("day")
      val withShares = daily
        .withColumn("tot", sum("n").over(wd))
        .withColumn("share", col("n").cast("double") / col("tot"))
        .withColumn("prev_share", lag(col("share"), 7).over(wt))
      withShares
        .filter(col("prev_share").isNotNull)
        .groupBy("day")
        .agg(count(lit(1)).as("n_types"),
          TextAnalysis.roundStable(
            sum(abs(col("share") - col("prev_share"))), 6)
            .as("l1_shift"))
        .orderBy("day")
    },
    Some("""WITH daily AS (
      SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, event_type,
        count(*) AS n
      FROM events GROUP BY 1, 2),
    sh AS (SELECT day, event_type,
        CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY day) AS share
      FROM daily),
    lg AS (SELECT day, share,
        lag(share, 7) OVER (PARTITION BY event_type ORDER BY day)
          AS prev_share
      FROM sh)
    SELECT day, count(*) AS n_types,
      floor(sum(abs(share - prev_share)) * 1000000.0 + 0.5) / 1000000.0
        AS l1_shift
    FROM lg WHERE prev_share IS NOT NULL
    GROUP BY 1 ORDER BY day"""))

  /** Unit-price dispersion per part — coefficient of variation of the
    * per-line unit price (extendedprice/quantity), the pricing-
    * consistency audit (high CV = inconsistent pricing or data
    * error; the detector feeding q_capping's treatment). Unit price
    * is a per-row double (deterministic); moments accumulate in
    * DECIMAL (order-free), so mean/std/cv are closing double
    * expressions over exact sums. Top-20 most dispersed via bounded
    * heap. Sample-σ (÷(n−1)); parts with one line are excluded by
    * the n≥2 HAVING. */
  private val qPriceDispersion = Q(
    "q_price_dispersion",
    (s, d) => {
      val li = t(s, d, "lineitem")
        .filter(col("l_quantity") > 0)
        .select(col("l_partkey"),
          (col("l_extendedprice") / col("l_quantity")).as("up"))
      val agg = li.groupBy("l_partkey")
        .agg(count(lit(1)).as("n"),
          sum(col("up").cast("decimal(18,6)")).as("s1"),
          sum((col("up") * col("up")).cast("decimal(18,6)")).as("s2"))
        .filter(col("n") >= 2)
      val mean = col("s1").cast("double") / col("n")
      val varS = (col("n") * col("s2").cast("double") -
        col("s1").cast("double") * col("s1").cast("double")) /
        (col("n").cast("double") * (col("n") - lit(1)))
      agg.select(col("l_partkey"), col("n"),
          TextAnalysis.roundStable(mean, 4).as("mean_price"),
          TextAnalysis.roundStable(
            when(varS > 0, sqrt(varS) / mean).otherwise(lit(0.0)), 6)
            .as("cv"))
        .orderBy(col("cv").desc, col("l_partkey").asc)
        .limit(20)
    },
    Some("""WITH up AS (
      SELECT l_partkey, l_extendedprice / l_quantity AS up
      FROM lineitem WHERE l_quantity > 0),
    a AS (SELECT l_partkey, count(*) AS n,
        sum(CAST(up AS DECIMAL(18,6))) AS s1,
        sum(CAST(up * up AS DECIMAL(18,6))) AS s2
      FROM up GROUP BY 1 HAVING count(*) >= 2)
    SELECT l_partkey, n,
      floor(CAST(s1 AS DOUBLE) / n * 10000.0 + 0.5) / 10000.0
        AS mean_price,
      CASE WHEN (n * CAST(s2 AS DOUBLE)
            - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
            / (CAST(n AS DOUBLE) * (n - 1)) > 0 THEN
        floor(sqrt((n * CAST(s2 AS DOUBLE)
              - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
            / (CAST(n AS DOUBLE) * (n - 1)))
          / (CAST(s1 AS DOUBLE) / n) * 1000000.0 + 0.5) / 1000000.0
      ELSE 0.0 END AS cv
    FROM a ORDER BY cv DESC, l_partkey ASC LIMIT 20"""))

  /** Repeat-purchase profile — the loyalty funnel in one row: users
    * with 1, 2-3, 4-9, 10+ purchases and the repeat rate (share of
    * purchasers who bought again). One user-keyed count then a
    * four-bucket conditional aggregate — two exchanges, the second
    * over user-grade counts. All integers except the closing rate
    * division. */
  private val qRepeatRate = Q(
    "q_repeat_rate",
    (s, d) => t(s, d, "events")
      .filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(count(lit(1)).as("np"))
      .agg(count(lit(1)).as("n_buyers"),
        sum((col("np") === 1).cast("long")).as("one_time"),
        sum((col("np") >= 2 && col("np") <= 3).cast("long")).as("b2_3"),
        sum((col("np") >= 4 && col("np") <= 9).cast("long")).as("b4_9"),
        sum((col("np") >= 10).cast("long")).as("b10_plus"))
      .select(col("n_buyers"), col("one_time"), col("b2_3"), col("b4_9"),
        col("b10_plus"),
        TextAnalysis.roundStable(
          (col("n_buyers") - col("one_time")).cast("double") /
            col("n_buyers"), 6).as("repeat_rate")),
    Some("""WITH c AS (
      SELECT user_id, count(*) AS np FROM events
      WHERE event_type = 'purchase' GROUP BY 1),
    a AS (SELECT count(*) AS n_buyers,
        CAST(sum(CASE WHEN np = 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS one_time,
        CAST(sum(CASE WHEN np BETWEEN 2 AND 3 THEN 1 ELSE 0 END)
          AS BIGINT) AS b2_3,
        CAST(sum(CASE WHEN np BETWEEN 4 AND 9 THEN 1 ELSE 0 END)
          AS BIGINT) AS b4_9,
        CAST(sum(CASE WHEN np >= 10 THEN 1 ELSE 0 END) AS BIGINT)
          AS b10_plus
      FROM c)
    SELECT n_buyers, one_time, b2_3, b4_9, b10_plus,
      floor(CAST(n_buyers - one_time AS DOUBLE) / n_buyers
        * 1000000.0 + 0.5) / 1000000.0 AS repeat_rate
    FROM a"""))

  /** SCD Type-2 interval build — the CDC compaction twin of
    * q_upsert_latest: instead of keeping the latest row per key, keep
    * EVERY state change as a validity interval [ts, next_change_ts).
    * Change rows survive a lag-vs-previous filter, then lead() over
    * the SAME (partition, order) closes each interval — Spark plans
    * both windows on ONE user exchange (the filter between them
    * preserves the child distribution). The per-state rollup is
    * vocab-bounded; durations are integer seconds so the mean is an
    * exact-rounded integer ratio. Open intervals (no later change)
    * surface as a count, not a NULL-duration crash. */
  private val qScd2 = Q(
    "q_scd2",
    (s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      val changes = t(s, d, "events")
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNull ||
          col("prev_type") =!= col("event_type"))
      val iv = changes
        .withColumn("dur_sec",
          ((unix_micros(lead(col("ts"), 1).over(w)) -
            unix_micros(col("ts"))) / lit(1000000L)).cast("long"))
      iv.groupBy(col("event_type").as("state"))
        .agg(count(lit(1)).as("n_intervals"),
          sum(col("dur_sec").isNull.cast("long")).as("open_iv"),
          TextAnalysis.roundStable(
            sum("dur_sec").cast("double") / count(col("dur_sec")), 2)
            .as("mean_sec"),
          max("dur_sec").as("max_sec"))
        .orderBy("state")
    },
    Some("""WITH e AS (
      SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS tts
      FROM events),
    c AS (SELECT *, lag(event_type) OVER w AS prev_type
      FROM e WINDOW w AS (PARTITION BY user_id
        ORDER BY tts ASC, event_id ASC)),
    ch AS (SELECT * FROM c
      WHERE prev_type IS NULL OR prev_type <> event_type),
    iv AS (SELECT event_type,
        (epoch_us(lead(tts) OVER w2) - epoch_us(tts)) // 1000000
          AS dur_sec
      FROM ch WINDOW w2 AS (PARTITION BY user_id
        ORDER BY tts ASC, event_id ASC))
    SELECT event_type AS state, count(*) AS n_intervals,
      CAST(sum(CASE WHEN dur_sec IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS open_iv,
      floor(CAST(sum(dur_sec) AS DOUBLE) / count(dur_sec) * 100.0 + 0.5)
        / 100.0 AS mean_sec,
      max(dur_sec) AS max_sec
    FROM iv GROUP BY 1 ORDER BY state"""))

  /** Two-sample Kolmogorov–Smirnov — are BUILDING-segment order
    * totals drawn from the same distribution as everyone else's? The
    * classic drift/balance test, made shuffle-cheap by binning totals
    * into $1000 buckets first (the ECDF gap at bin boundaries — exact
    * for binned data, the standard streaming KS compromise). The
    * argmax search is EXACT integer arithmetic: d = |cumA·nB − cumB·nA|
    * avoids comparing rounded floats, and the (d DESC, bucket ASC)
    * order makes ties deterministic. Bin-grade everything after one
    * fact-table aggregate; the totals row is a broadcast cross join. */
  private val qKsTest = Q(
    "q_ks_test",
    (s, d) => {
      val cust = t(s, d, "customer")
        .select(col("c_custkey"),
          (col("c_mktsegment") === "BUILDING").cast("long").as("isa"))
      val bins = t(s, d, "orders")
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(floor(col("o_totalprice") / 1000).cast("long")
          .as("bucket"))
        .agg(sum(col("isa")).as("a"), sum(lit(1L) - col("isa")).as("b"))
      val wc = Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = bins.agg(sum("a").as("na"), sum("b").as("nb"))
      bins
        .withColumn("ca", sum("a").over(wc))
        .withColumn("cb", sum("b").over(wc))
        .crossJoin(broadcast(tot))
        .withColumn("dint", abs(col("ca") * col("nb") -
          col("cb") * col("na")))
        .orderBy(col("dint").desc, col("bucket").asc)
        .limit(1)
        .select(col("bucket").as("at_bucket"),
          col("na").as("n_a"), col("nb").as("n_b"),
          TextAnalysis.roundStable(
            col("dint").cast("double") /
              (col("na") * col("nb")).cast("double"), 6).as("ks_stat"))
    },
    Some("""WITH c AS (
      SELECT c_custkey,
        CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS isa
      FROM customer),
    bins AS (SELECT CAST(floor(o_totalprice / 1000) AS BIGINT) AS bucket,
        CAST(sum(isa) AS BIGINT) AS a,
        CAST(sum(1 - isa) AS BIGINT) AS b
      FROM orders JOIN c ON o_custkey = c_custkey GROUP BY 1),
    cum AS (SELECT bucket,
        CAST(sum(a) OVER w AS BIGINT) AS ca,
        CAST(sum(b) OVER w AS BIGINT) AS cb
      FROM bins WINDOW w AS (ORDER BY bucket
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    tot AS (SELECT CAST(sum(a) AS BIGINT) AS na,
        CAST(sum(b) AS BIGINT) AS nb FROM bins)
    SELECT bucket AS at_bucket, na AS n_a, nb AS n_b,
      floor(CAST(abs(ca * nb - cb * na) AS DOUBLE)
        / CAST(na * nb AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
        AS ks_stat
    FROM cum, tot
    ORDER BY abs(ca * nb - cb * na) DESC, bucket ASC LIMIT 1"""))

  /** DAU/MAU stickiness — the engagement ratio product dashboards live
    * on: per day, distinct active users over the calendar month's
    * distinct users. One (user, day) dedup exchange feeds BOTH counts
    * (day grain directly, month grain through a second cheap distinct
    * over user-day rows — never re-reads events); the month table is
    * ≤ a few dozen rows, so the join back to days is a broadcast.
    * Counts are integers; the ratio is the only double. */
  private val qStickiness = Q(
    "q_stickiness",
    (s, d) => {
      val ud = t(s, d, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
      val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
      val mau = ud
        .select(col("user_id"), trunc(col("day"), "month").as("month"))
        .distinct()
        .groupBy("month").agg(count(lit(1)).as("mau"))
      dau.join(broadcast(mau),
          trunc(col("day"), "month") === col("month"))
        .select(col("day"), col("dau"), col("mau"),
          TextAnalysis.roundStable(
            col("dau").cast("double") / col("mau"), 6).as("stickiness"))
        .orderBy("day")
    },
    Some("""WITH ud AS (
      SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
      FROM events),
    dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1),
    mau AS (SELECT date_trunc('month', day) AS month,
        count(DISTINCT user_id) AS mau
      FROM ud GROUP BY 1)
    SELECT day, dau, mau,
      floor(CAST(dau AS DOUBLE) / mau * 1000000.0 + 0.5) / 1000000.0
        AS stickiness
    FROM dau JOIN mau ON date_trunc('month', day) = month
    ORDER BY day"""))

  /** Lagged cross-correlation — does view volume predict purchase
    * volume L days later? Pearson r between v(t−L) and p(t) for
    * L ∈ [0, 8), the lead-indicator scan behind marketing-mix and
    * capacity models. The daily series comes from ONE events
    * aggregate; lag alignment is a DATE-key self-join against a
    * broadcast 8-row lag table (join on day − L, NOT a row-offset
    * window — row offsets silently mis-align across missing days).
    * Power sums accumulate in DECIMAL(38,0) (day counts at 100 TB
    * square past a BIGINT) — with one FACTOR cast to decimal BEFORE
    * the multiply, since a long·long product wraps silently in
    * non-ANSI Spark before any cast could widen it (the same
    * discipline at every power-sum site in this file). Pearson closes
    * per lag in doubles. */
  private val qCrossCorr = Q(
    "q_cross_corr",
    (s, d) => {
      val daily = graft.operators.CacheRegistry.global.track(
        t(s, d, "events")
          .groupBy(to_date(col("ts")).as("day"))
          .agg(sum((col("event_type") === "view").cast("long")).as("v"),
            sum((col("event_type") === "purchase").cast("long")).as("p"))
          .persist())
      val lags = s.range(0, 8).select(col("id").as("lag"))
      val pairs = daily.select(col("day"), col("p"))
        .crossJoin(broadcast(lags))
        .join(daily.select(col("day").as("vday"), col("v")),
          col("vday") === date_sub(col("day"), col("lag").cast("int")))
      val st = pairs.groupBy("lag").agg(
        count(lit(1)).as("k"),
        sum(col("v").cast("decimal(38,0)")).as("sx"),
        sum(col("p").cast("decimal(38,0)")).as("sy"),
        sum((col("v").cast("decimal(38,0)") * col("p"))).as("sxy"),
        sum((col("v").cast("decimal(38,0)") * col("v"))).as("sxx"),
        sum((col("p").cast("decimal(38,0)") * col("p"))).as("syy"))
      val dxx = (col("k") * col("sxx") - col("sx") * col("sx"))
        .cast("double")
      val dyy = (col("k") * col("syy") - col("sy") * col("sy"))
        .cast("double")
      val dxy = (col("k") * col("sxy") - col("sx") * col("sy"))
        .cast("double")
      st.select(col("lag"), col("k").as("n_days"),
          TextAnalysis.roundStable(
            when(dxx > 0 && dyy > 0, dxy / sqrt(dxx * dyy)), 6).as("r"))
        .orderBy("lag")
    },
    Some("""WITH daily AS (
      SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
          AS BIGINT) AS v,
        CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
          AS BIGINT) AS p
      FROM events GROUP BY 1),
    lags AS (SELECT unnest(range(0, 8)) AS lag),
    pr AS (SELECT l.lag, a.v, b.p
      FROM daily b JOIN lags l ON true
      JOIN daily a ON a.day = b.day - CAST(l.lag AS INTEGER)),
    st AS (SELECT lag, count(*) AS k,
        CAST(sum(CAST(v AS HUGEINT)) AS DOUBLE) AS sx,
        CAST(sum(CAST(p AS HUGEINT)) AS DOUBLE) AS sy,
        CAST(sum(CAST(v AS HUGEINT) * p) AS DOUBLE) AS sxy,
        CAST(sum(CAST(v AS HUGEINT) * v) AS DOUBLE) AS sxx,
        CAST(sum(CAST(p AS HUGEINT) * p) AS DOUBLE) AS syy
      FROM pr GROUP BY 1)
    SELECT lag, k AS n_days,
      CASE WHEN (k * sxx - sx * sx) > 0 AND (k * syy - sy * sy) > 0 THEN
        floor((k * sxy - sx * sy)
            / sqrt((k * sxx - sx * sx) * (k * syy - sy * sy))
          * 1000000.0 + 0.5) / 1000000.0 END AS r
    FROM st ORDER BY lag"""))

  /** Zipf-law fit — OLS slope of ln(freq) on ln(rank) over the top
    * 1000 corpus terms (a healthy natural-language corpus sits near
    * −1; a flat or cliff-y slope flags boilerplate or spam — the
    * corpus-level twin of q_repetition_stats). Term counts are one
    * hash aggregate + a 1000-row TakeOrdered; ranking and the log
    * regression run on that bounded set (the single-partition window
    * is vocab-top-k-sized, never corpus-sized). Both logs are
    * quantized to 1e−4 BIGINTs per element BEFORE summing, so every
    * OLS sum is exact integer arithmetic — no float-accumulation
    * order dependence — and the determinant math stays well inside
    * Long (k ≤ 1000, ln ≤ 14·10⁴). */
  private val qZipf = Q(
    "q_zipf",
    (s, d) => {
      val wr = Window.orderBy(col("cnt").desc, col("tok").asc)
      val top = t(s, d, "documents")
        .select(explode(split(lower(col("text")), " ")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok").asc)
        .limit(1000)
        .withColumn("rank", row_number().over(wr))
        .select(
          floor(log(col("rank").cast("double")) * 10000 + 0.5)
            .cast("long").as("x"),
          floor(log(col("cnt").cast("double")) * 10000 + 0.5)
            .cast("long").as("y"))
      val st = top.agg(count(lit(1)).as("k"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      val dxx = (col("k") * col("sxx") - col("sx") * col("sx"))
        .cast("double")
      val dyy = (col("k") * col("syy") - col("sy") * col("sy"))
        .cast("double")
      val dxy = (col("k") * col("sxy") - col("sx") * col("sy"))
        .cast("double")
      st.select(col("k").as("n_terms"),
        TextAnalysis.roundStable(when(dxx > 0, dxy / dxx), 6).as("slope"),
        TextAnalysis.roundStable(
          when(dxx > 0,
            (col("sy").cast("double") - (dxy / dxx) * col("sx")) /
              col("k") / lit(10000.0)), 4).as("intercept"),
        TextAnalysis.roundStable(
          when(dxx > 0 && dyy > 0, (dxy * dxy) / (dxx * dyy)), 6)
          .as("r2"))
    },
    Some("""WITH tk AS (
      SELECT unnest(string_split(lower(text), ' ')) AS tok
      FROM documents),
    top AS (SELECT tok, count(*) AS cnt FROM tk GROUP BY 1
      ORDER BY cnt DESC, tok ASC LIMIT 1000),
    xy AS (SELECT
        CAST(floor(ln(CAST(row_number() OVER (ORDER BY cnt DESC, tok ASC)
          AS DOUBLE)) * 10000 + 0.5) AS BIGINT) AS x,
        CAST(floor(ln(CAST(cnt AS DOUBLE)) * 10000 + 0.5) AS BIGINT) AS y
      FROM top),
    st AS (SELECT count(*) AS k,
        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        CAST(sum(x * y) AS BIGINT) AS sxy,
        CAST(sum(x * x) AS BIGINT) AS sxx,
        CAST(sum(y * y) AS BIGINT) AS syy
      FROM xy)
    SELECT k AS n_terms,
      CASE WHEN (k * sxx - sx * sx) > 0 THEN
        floor(CAST(k * sxy - sx * sy AS DOUBLE)
            / CAST(k * sxx - sx * sx AS DOUBLE) * 1000000.0 + 0.5)
          / 1000000.0 END AS slope,
      CASE WHEN (k * sxx - sx * sx) > 0 THEN
        floor((CAST(sy AS DOUBLE)
            - CAST(k * sxy - sx * sy AS DOUBLE)
              / CAST(k * sxx - sx * sx AS DOUBLE) * sx) / k / 10000.0
          * 10000.0 + 0.5) / 10000.0 END AS intercept,
      CASE WHEN (k * sxx - sx * sx) > 0 AND (k * syy - sy * sy) > 0 THEN
        floor(CAST(k * sxy - sx * sy AS DOUBLE)
            * CAST(k * sxy - sx * sy AS DOUBLE)
            / (CAST(k * sxx - sx * sx AS DOUBLE)
              * CAST(k * syy - sy * sy AS DOUBLE)) * 1000000.0 + 0.5)
          / 1000000.0 END AS r2
    FROM st"""))

  /** CUSUM changepoint — the day where cumulative deviation from the
    * series mean peaks (the level-shift detector behind "when did
    * traffic change?", complementing q_anomaly_days' single-day
    * spikes). The argmax statistic is EXACT: |T·cum_t − t·S| is pure
    * BIGINT (multiplying CUSUM_t = cum_t − t·S/T through by T defers
    * the one division past the argmax), so no float comparison
    * decides the winner; ties break on the earlier day. Day-grade
    * after one events aggregate: cumsum + index ride one bounded
    * window, totals broadcast back, argmax is a 1-row heap. The last
    * day is excluded (no "after" segment to compare). */
  private val qChangepoint = Q(
    "q_changepoint",
    (s, d) => {
      val daily = t(s, d, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val wc = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wi = Window.orderBy("day")
      val cum = daily
        .withColumn("cum", sum("n").over(wc))
        .withColumn("t", row_number().over(wi).cast("long"))
      val tot = daily.agg(count(lit(1)).as("bigT"), sum("n").as("s"))
      cum.crossJoin(broadcast(tot))
        .filter(col("t") < col("bigT"))
        .withColumn("stat",
          abs(col("bigT") * col("cum") - col("t") * col("s")))
        .orderBy(col("stat").desc, col("day").asc)
        .limit(1)
        .select(col("day"),
          TextAnalysis.roundStable(
            col("stat").cast("double") / col("bigT"), 2).as("cusum"),
          TextAnalysis.roundStable(
            col("cum").cast("double") / col("t"), 2).as("mean_before"),
          TextAnalysis.roundStable(
            (col("s") - col("cum")).cast("double") /
              (col("bigT") - col("t")), 2).as("mean_after"))
    },
    Some("""WITH daily AS (
      SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, count(*) AS n
      FROM events GROUP BY 1),
    cum AS (SELECT day, n,
        CAST(sum(n) OVER (ORDER BY day
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS cum,
        CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
      FROM daily),
    tot AS (SELECT count(*) AS bigT, CAST(sum(n) AS BIGINT) AS s
      FROM daily)
    SELECT day,
      floor(CAST(abs(bigT * cum - t * s) AS DOUBLE) / bigT * 100.0 + 0.5)
        / 100.0 AS cusum,
      floor(CAST(cum AS DOUBLE) / t * 100.0 + 0.5) / 100.0
        AS mean_before,
      floor(CAST(s - cum AS DOUBLE) / (bigT - t) * 100.0 + 0.5) / 100.0
        AS mean_after
    FROM cum, tot WHERE t < bigT
    ORDER BY abs(bigT * cum - t * s) DESC, day ASC LIMIT 1"""))

  /** Asymmetric containment dedup — pairs where the SMALLER doc's
    * 5-gram set is ≥90% inside the larger's ([[Dedup.containmentPairs]]:
    * the doc-pasted-inside-doc mode Jaccard structurally misses).
    * Shares q_near_dup's candidate machinery; the oracle recomputes
    * containment from raw string shingles. */
  private val qContainment = Q(
    "q_containment",
    (s, d) => Dedup.containmentPairs(t(s, d, "documents"), w = 5,
        threshold = 0.9)
      .orderBy("i", "j"),
    Some("""WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
        unnest(CASE WHEN len(t) >= 5
          THEN list_transform(range(1, len(t) - 3),
            i -> array_to_string(t[i:i+4], ' '))
          ELSE []::VARCHAR[] END) AS s
      FROM toks),
    card AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
    com AS (
      SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS com
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT i, j,
      floor(com * 1.0 / least(ca.c, cb.c) * 1000000.0 + 0.5) / 1000000.0
        AS containment
    FROM com
    JOIN card ca ON ca.doc_id = i
    JOIN card cb ON cb.doc_id = j
    WHERE com * 1.0 / least(ca.c, cb.c) >= 0.9
    ORDER BY i, j"""))

  /** Local clustering coefficient — top-20 co-purchase parts by
    * triangle participation, with 2·tri/(dg·(dg−1)) per node (the
    * per-node cliquishness score; q_triangles is the same census
    * globally). [[Graph.localTriangleCounts]] keeps the Schank–Wagner
    * wedge bound (≤ m·√(2m) under any skew) and explodes each
    * triangle's three corners row-locally; nodes without triangles
    * keep coefficient 0 via the zero-fill join. The cut is a bounded
    * heap on exact integers. */
  private val qClusteringCoef = Q(
    "q_clustering_coef",
    (s, d) => Graph.localTriangleCounts(copurchaseEdges(s, d, 2, "u", "v"))
      .select(col("node"), col("dg"), col("tri"),
        TextAnalysis.roundStable(
          when(col("dg") >= 2,
            lit(2.0) * col("tri") / (col("dg") * (col("dg") - lit(1L))))
            .otherwise(lit(0.0)), 6).as("local_cc"))
      .orderBy(col("tri").desc, col("node").asc)
      .limit(20),
    Some("""WITH pp AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    e AS (
      SELECT a.pk AS u, b.pk AS v
      FROM pp a JOIN pp b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY 1, 2 HAVING count(*) >= 2),
    deg AS (SELECT node, count(*) AS dg FROM
      (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
      GROUP BY 1),
    tr AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1
      JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
      JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v),
    corners AS (SELECT unnest([a, b, c]) AS node FROM tr),
    tc AS (SELECT node, count(*) AS tri FROM corners GROUP BY 1)
    SELECT d.node, d.dg, CAST(coalesce(tc.tri, 0) AS BIGINT) AS tri,
      CASE WHEN d.dg >= 2 THEN
        floor(2.0 * coalesce(tc.tri, 0) / (d.dg * (d.dg - 1))
          * 1000000.0 + 0.5) / 1000000.0
      ELSE 0.0 END AS local_cc
    FROM deg d LEFT JOIN tc ON tc.node = d.node
    ORDER BY tri DESC, d.node ASC LIMIT 20"""))

  /** New-vs-returning revenue split — per day, purchase revenue and
    * purchaser counts split by whether the user is on their FIRST
    * active day (the acquisition-vs-retention read of every growth
    * dashboard). First-active-day is a user-keyed min aggregate;
    * the flag join and the purchase stream meet user-keyed (both
    * sides co-partition on user_id at scale — no broadcast needed,
    * none assumed). Revenue sums in DECIMAL; the distinct purchaser
    * counts are conditional count-distincts in ONE day aggregate. */
  private val qNewVsReturning = Q(
    "q_new_vs_returning",
    (s, d) => {
      val firsts = t(s, d, "events")
        .groupBy("user_id").agg(min(to_date(col("ts"))).as("first_day"))
      t(s, d, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), to_date(col("ts")).as("day"), col("value"))
        .join(firsts, "user_id")
        .withColumn("isnew", col("day") === col("first_day"))
        .groupBy("day")
        .agg(
          countDistinct(when(col("isnew"), col("user_id")))
            .as("new_buyers"),
          countDistinct(when(!col("isnew"), col("user_id")))
            .as("ret_buyers"),
          sum(when(col("isnew"), col("value")).otherwise(lit(0.0))
            .cast("decimal(18,6)")).as("nrev"),
          sum(when(!col("isnew"), col("value")).otherwise(lit(0.0))
            .cast("decimal(18,6)")).as("rrev"))
        .select(col("day"), col("new_buyers"), col("ret_buyers"),
          TextAnalysis.roundStable(col("nrev").cast("double"), 2)
            .as("new_rev"),
          TextAnalysis.roundStable(col("rrev").cast("double"), 2)
            .as("ret_rev"))
        .orderBy("day")
    },
    Some("""WITH f AS (
      SELECT user_id, min(CAST(CAST(ts AS TIMESTAMP) AS DATE))
        AS first_day
      FROM events GROUP BY 1),
    p AS (SELECT e.user_id,
        CAST(CAST(e.ts AS TIMESTAMP) AS DATE) AS day, e.value,
        CAST(CAST(e.ts AS TIMESTAMP) AS DATE) = f.first_day AS isnew
      FROM events e JOIN f ON e.user_id = f.user_id
      WHERE e.event_type = 'purchase')
    SELECT day,
      count(DISTINCT CASE WHEN isnew THEN user_id END) AS new_buyers,
      count(DISTINCT CASE WHEN NOT isnew THEN user_id END) AS ret_buyers,
      floor(CAST(sum(CAST(CASE WHEN isnew THEN value ELSE 0.0 END
        AS DECIMAL(18,6))) AS DOUBLE) * 100.0 + 0.5) / 100.0 AS new_rev,
      floor(CAST(sum(CAST(CASE WHEN NOT isnew THEN value ELSE 0.0 END
        AS DECIMAL(18,6))) AS DOUBLE) * 100.0 + 0.5) / 100.0 AS ret_rev
    FROM p GROUP BY 1 ORDER BY day"""))

  /** Degree assortativity — Pearson correlation of endpoint degrees
    * over the co-purchase edge list (Newman's r: do hubs link to hubs?
    * Positive = social-network-like, negative = hub-and-spoke — which
    * way a product graph leans decides whether degree-based sampling
    * biases training data). Each undirected edge contributes both
    * orientations, making the marginals symmetric by construction.
    * Degrees are integers, so every power sum is exact (DECIMAL —
    * hub degrees square past BIGINT at web scale); the degree
    * attachments are node-keyed equi-joins that co-partition with
    * the edge list. */
  private val qAssortativity = Q(
    "q_assortativity",
    (s, d) => {
      // The edge build feeds deg once and the symmetrized pair list
      // twice — persist it or lineitem re-aggregates per consumer.
      val edges = graft.operators.CacheRegistry.global.track(
        copurchaseEdges(s, d, 2, "u", "v")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val deg = graft.operators.CacheRegistry.global.track(
        edges.select(col("u").as("node"))
          .unionByName(edges.select(col("v").as("node")))
          .groupBy("node").agg(count(lit(1)).as("dg"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val both = edges.select(col("u").as("x"), col("v").as("y"))
        .unionByName(edges.select(col("v").as("x"), col("u").as("y")))
      val pairs = both
        .join(deg.select(col("node").as("x"), col("dg").as("dx")), "x")
        .join(deg.select(col("node").as("y"), col("dg").as("dy")), "y")
      val st = pairs.agg(count(lit(1)).as("k"),
        sum(col("dx").cast("decimal(38,0)")).as("sx"),
        sum(col("dy").cast("decimal(38,0)")).as("sy"),
        sum((col("dx").cast("decimal(38,0)") * col("dy"))).as("sxy"),
        sum((col("dx").cast("decimal(38,0)") * col("dx"))).as("sxx"),
        sum((col("dy").cast("decimal(38,0)") * col("dy"))).as("syy"))
      val dxx = (col("k") * col("sxx") - col("sx") * col("sx"))
        .cast("double")
      val dyy = (col("k") * col("syy") - col("sy") * col("sy"))
        .cast("double")
      val dxy = (col("k") * col("sxy") - col("sx") * col("sy"))
        .cast("double")
      st.select((col("k") / lit(2)).cast("long").as("n_edges"),
        TextAnalysis.roundStable(
          when(dxx > 0 && dyy > 0, dxy / sqrt(dxx * dyy)), 6)
          .as("assortativity"))
    },
    Some("""WITH pp AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    e AS (
      SELECT a.pk AS u, b.pk AS v
      FROM pp a JOIN pp b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY 1, 2 HAVING count(*) >= 2),
    deg AS (SELECT node, count(*) AS dg FROM
      (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
      GROUP BY 1),
    bo AS (SELECT u AS x, v AS y FROM e
      UNION ALL SELECT v AS x, u AS y FROM e),
    pr AS (SELECT dx.dg AS dx, dy.dg AS dy
      FROM bo b JOIN deg dx ON dx.node = b.x
      JOIN deg dy ON dy.node = b.y),
    st AS (SELECT count(*) AS k,
        CAST(sum(CAST(dx AS HUGEINT)) AS DOUBLE) AS sx,
        CAST(sum(CAST(dy AS HUGEINT)) AS DOUBLE) AS sy,
        CAST(sum(CAST(dx AS HUGEINT) * dy) AS DOUBLE) AS sxy,
        CAST(sum(CAST(dx AS HUGEINT) * dx) AS DOUBLE) AS sxx,
        CAST(sum(CAST(dy AS HUGEINT) * dy) AS DOUBLE) AS syy
      FROM pr)
    SELECT CAST(k // 2 AS BIGINT) AS n_edges,
      CASE WHEN (k * sxx - sx * sx) > 0 AND (k * syy - sy * sy) > 0 THEN
        floor((k * sxy - sx * sy)
            / sqrt((k * sxx - sx * sx) * (k * syy - sy * sy))
          * 1000000.0 + 0.5) / 1000000.0 END AS assortativity
    FROM st"""))

  /** Rolling 7-day active users (WAU) per day — the sliding-window
    * DISTINCT that q_stickiness' calendar-month MAU sidesteps. Sliding
    * distinct has no algebraic merge, so the scalable exact form is
    * the day-explode: each (user, day) activity row contributes to the
    * 7 window-end days it falls in (a bounded ×7 map-side expansion of
    * hashes, NOT a per-day rescan), then one distinct count per
    * window-end day. Window ends are clipped to observed days via a
    * broadcast day-list semi-join. The same shape scales to any small
    * window k; for k in the hundreds you'd switch to sketches
    * (q_approx_distinct's HLL) and accept the error bound. */
  private val qRollingDau = Q(
    "q_rolling_dau",
    (s, d) => {
      val ud = t(s, d, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
      val days = ud.select(col("day").as("wday")).distinct()
      ud.select(col("user_id"),
          explode(sequence(lit(0), lit(6))).as("i"), col("day"))
        .select(col("user_id"), date_add(col("day"), col("i")).as("wday"))
        .join(broadcast(days), "wday")
        .groupBy("wday")
        .agg(countDistinct("user_id").as("wau"))
        .orderBy("wday")
    },
    Some("""WITH ud AS (
      SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
      FROM events),
    days AS (SELECT DISTINCT day AS wday FROM ud)
    SELECT wday, count(DISTINCT user_id) AS wau
    FROM days JOIN ud ON ud.day BETWEEN wday - 6 AND wday
    GROUP BY 1 ORDER BY wday"""))

  /** Cross-source duplication matrix — near-dup pair counts and mean
    * similarity per (source, source) cell, the "which feeds overlap?"
    * audit run before mixing corpus sources (high cross-cell mass ⇒
    * double-counted content inflating a source's apparent size).
    * Rides [[Dedup.jaccardPairs]]' candidate machinery; the source
    * attach is a doc-keyed equi-join (co-partitions with the pair
    * list at scale) and the cell rollup is |sources|²-bounded.
    * Cells are order-normalized (least/greatest) so A→B and B→A
    * land together. */
  private val qCrossSourceDup = Q(
    "q_cross_source_dup",
    (s, d) => {
      val src = t(s, d, "documents").select(col("doc_id"), col("source"))
      Dedup.jaccardPairs(t(s, d, "documents"), w = 5, threshold = 0.8)
        .join(src.select(col("doc_id").as("i"), col("source").as("si")), "i")
        .join(src.select(col("doc_id").as("j"), col("source").as("sj")), "j")
        .groupBy(least(col("si"), col("sj")).as("source_a"),
          greatest(col("si"), col("sj")).as("source_b"))
        .agg(count(lit(1)).as("n_pairs"),
          TextAnalysis.roundStable(avg("jaccard"), 6).as("mean_jaccard"))
        .orderBy("source_a", "source_b")
    },
    Some("""WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
        unnest(CASE WHEN len(t) >= 5
          THEN list_transform(range(1, len(t) - 3),
            i -> array_to_string(t[i:i+4], ' '))
          ELSE []::VARCHAR[] END) AS s
      FROM toks),
    card AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
    com AS (
      SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS com
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    pr AS (
      SELECT i, j,
        floor(com * 1.0 / (ca.c + cb.c - com) * 1000000.0 + 0.5)
          / 1000000.0 AS jaccard
      FROM com
      JOIN card ca ON ca.doc_id = i
      JOIN card cb ON cb.doc_id = j
      WHERE com * 1.0 / (ca.c + cb.c - com) >= 0.8)
    SELECT least(di.source, dj.source) AS source_a,
      greatest(di.source, dj.source) AS source_b,
      count(*) AS n_pairs,
      floor(avg(jaccard) * 1000000.0 + 0.5) / 1000000.0 AS mean_jaccard
    FROM pr
    JOIN documents di ON di.doc_id = pr.i
    JOIN documents dj ON dj.doc_id = pr.j
    GROUP BY 1, 2 ORDER BY source_a, source_b"""))

  /** Degree distribution of the co-purchase graph — log2-binned node
    * counts with cumulative share (the heavy-tail check that decides
    * whether degree-based sampling or salting is needed downstream;
    * q_key_skew asks the same of join keys). The bin index is EXACT
    * integer arithmetic — floor(log2(d)) computed as
    * length(binary(d))−1, no float log near power-of-two boundaries
    * — and the cumulative share rides the ≤64-row bin table. */
  private val qDegreeDist = Q(
    "q_degree_dist",
    (s, d) => {
      val edges = copurchaseEdges(s, d, 2, "u", "v")
      // Degrees feed the bin histogram AND the node total — persist,
      // or the edge build runs twice.
      val deg = graft.operators.CacheRegistry.global.track(
        edges.select(col("u").as("node"))
          .unionByName(edges.select(col("v").as("node")))
          .groupBy("node").agg(count(lit(1)).as("dg"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val bins = deg
        .groupBy((length(bin(col("dg"))) - 1).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_nodes"))
      val wc = Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      bins
        .withColumn("cum", sum("n_nodes").over(wc))
        .crossJoin(broadcast(deg.agg(count(lit(1)).as("tot"))))
        .select(col("bucket"),
          pow(lit(2.0), col("bucket")).cast("long").as("lo"),
          col("n_nodes"),
          TextAnalysis.roundStable(
            col("cum").cast("double") / col("tot"), 6).as("cum_share"))
        .orderBy("bucket")
    },
    Some("""WITH pp AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    e AS (
      SELECT a.pk AS u, b.pk AS v
      FROM pp a JOIN pp b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY 1, 2 HAVING count(*) >= 2),
    deg AS (SELECT node, count(*) AS dg FROM
      (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
      GROUP BY 1),
    bins AS (SELECT CAST(length(printf('%b', dg)) - 1 AS BIGINT)
        AS bucket, count(*) AS n_nodes
      FROM deg GROUP BY 1),
    tot AS (SELECT count(*) AS tot FROM deg)
    SELECT bucket, CAST(power(2, bucket) AS BIGINT) AS lo, n_nodes,
      floor(CAST(sum(n_nodes) OVER (ORDER BY bucket
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        / tot * 1000000.0 + 0.5) / 1000000.0 AS cum_share
    FROM bins, tot ORDER BY bucket"""))

  /** Ship-lag SLA attainment by order priority — per priority: order
    * lines, median lag days, and the share shipped within 30/60/90
    * days of the order date (the ops scorecard; also the shape of any
    * "p% of X within k units of Y" attainment report). The
    * orders→lineitem attach is a big-big equi-join that co-partitions
    * on the order key; per-priority everything is a 5-row aggregate of
    * integer day-lags with conditional counts and one exact median. */
  private val qSlaAttainment = Q(
    "q_sla_attainment",
    (s, d) => {
      val o = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_orderdate"))
      val l = t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate"))
      o.join(l, col("o_orderkey") === col("l_orderkey"))
        .withColumn("lag_days",
          datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
            .cast("long"))
        .groupBy(col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("n_lines"),
          TextAnalysis.roundStable(
            expr("percentile(lag_days, 0.5D)"), 1).as("median_lag"),
          TextAnalysis.roundStable(
            sum((col("lag_days") <= 30).cast("long")).cast("double") /
              count(lit(1)), 6).as("within_30"),
          TextAnalysis.roundStable(
            sum((col("lag_days") <= 60).cast("long")).cast("double") /
              count(lit(1)), 6).as("within_60"),
          TextAnalysis.roundStable(
            sum((col("lag_days") <= 90).cast("long")).cast("double") /
              count(lit(1)), 6).as("within_90"))
        .orderBy("priority")
    },
    Some("""WITH j AS (
      SELECT o_orderpriority AS priority,
        date_diff('day', CAST(o_orderdate AS DATE),
          CAST(l_shipdate AS DATE)) AS lag_days
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
    SELECT priority, count(*) AS n_lines,
      floor(quantile_cont(lag_days, 0.5) * 10.0 + 0.5) / 10.0
        AS median_lag,
      floor(CAST(sum(CASE WHEN lag_days <= 30 THEN 1 ELSE 0 END)
          AS DOUBLE) / count(*) * 1000000.0 + 0.5) / 1000000.0
        AS within_30,
      floor(CAST(sum(CASE WHEN lag_days <= 60 THEN 1 ELSE 0 END)
          AS DOUBLE) / count(*) * 1000000.0 + 0.5) / 1000000.0
        AS within_60,
      floor(CAST(sum(CASE WHEN lag_days <= 90 THEN 1 ELSE 0 END)
          AS DOUBLE) / count(*) * 1000000.0 + 0.5) / 1000000.0
        AS within_90
    FROM j GROUP BY 1 ORDER BY priority"""))

  /** Burstiness (Fano factor) of daily volume per event type —
    * variance-to-mean of the daily counts (≈1 Poisson-like, ≫1 bursty:
    * the dispersion diagnostic behind rate-limit sizing and the
    * q_anomaly_days alarm threshold). Population variance from INTEGER
    * power sums over the bounded daily table — exact, order-free; the
    * peak-to-mean ratio rides the same row. */
  private val qBurstiness = Q(
    "q_burstiness",
    (s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val st = daily.groupBy("event_type").agg(
        count(lit(1)).as("k"), sum("n").as("sn"),
        sum(col("n") * col("n")).as("snn"), max("n").as("mx"))
      val mean = col("sn").cast("double") / col("k")
      val varP = (col("k") * col("snn") - col("sn") * col("sn"))
        .cast("double") / (col("k").cast("double") * col("k"))
      st.select(col("event_type"), col("k").as("n_days"),
          TextAnalysis.roundStable(mean, 2).as("mean_daily"),
          TextAnalysis.roundStable(varP / mean, 4).as("fano"),
          TextAnalysis.roundStable(col("mx") / mean, 4).as("peak_ratio"))
        .orderBy("event_type")
    },
    Some("""WITH daily AS (
      SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        count(*) AS n
      FROM events GROUP BY 1, 2),
    st AS (SELECT event_type, count(*) AS k,
        CAST(sum(n) AS BIGINT) AS sn,
        CAST(sum(n * n) AS BIGINT) AS snn,
        max(n) AS mx
      FROM daily GROUP BY 1)
    SELECT event_type, k AS n_days,
      floor(CAST(sn AS DOUBLE) / k * 100.0 + 0.5) / 100.0 AS mean_daily,
      floor(CAST(k * snn - sn * sn AS DOUBLE)
          / (CAST(k AS DOUBLE) * k) / (CAST(sn AS DOUBLE) / k)
        * 10000.0 + 0.5) / 10000.0 AS fano,
      floor(mx / (CAST(sn AS DOUBLE) / k) * 10000.0 + 0.5) / 10000.0
        AS peak_ratio
    FROM st ORDER BY event_type"""))

  /** Dedup impact report by source — what exact dedup would remove:
    * per source, docs kept/removed (survivor = min doc_id per
    * identical-token-set cluster, the q_cluster_sizes key with a
    * decision attached) and the removed character mass share. The
    * cluster key is a 128-bit digest, so every shuffle moves digests
    * + counters, never text (projected away scan-side); the survivor
    * join is digest-keyed. The per-source rollup is sources-bounded. */
  private val qDedupImpact = Q(
    "q_dedup_impact",
    (s, d) => {
      val key = md5(concat_ws(" ",
        sort_array(array_distinct(split(col("text"), " ")))))
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"),
          key.as("h"))
      val survivors = docs.groupBy("h").agg(min("doc_id").as("keep_id"))
      docs.join(survivors, "h")
        .withColumn("removed", col("doc_id") =!= col("keep_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("removed").cast("long")).as("n_removed"),
          sum("n_chars").as("chars_total"),
          sum(when(col("removed"), col("n_chars")).otherwise(lit(0L)))
            .as("chars_removed"))
        .select(col("source"), col("n_docs"), col("n_removed"),
          col("chars_total"),
          TextAnalysis.roundStable(
            col("chars_removed").cast("double") / col("chars_total"), 6)
            .as("removed_share"))
        .orderBy("source")
    },
    Some("""WITH k AS (
      SELECT doc_id, source, n_chars,
        md5(array_to_string(
          list_sort(list_distinct(string_split(text, ' '))), ' ')) AS h
      FROM documents),
    sv AS (SELECT h, min(doc_id) AS keep_id FROM k GROUP BY 1)
    SELECT source, count(*) AS n_docs,
      CAST(sum(CASE WHEN doc_id <> keep_id THEN 1 ELSE 0 END) AS BIGINT)
        AS n_removed,
      CAST(sum(n_chars) AS BIGINT) AS chars_total,
      floor(CAST(sum(CASE WHEN doc_id <> keep_id THEN n_chars ELSE 0 END)
          AS DOUBLE) / sum(n_chars) * 1000000.0 + 0.5) / 1000000.0
        AS removed_share
    FROM k JOIN sv USING (h)
    GROUP BY 1 ORDER BY source"""))

  /** N-gram novelty per document — the fraction of a doc's DISTINCT
    * 5-grams first seen in an EARLIER doc (novelty = 1 − that), the
    * per-doc memorization/freshness score streaming corpus builders
    * order admission by (q_dup_ngram_frac counts duplicated mass
    * symmetrically; this is the directional, arrival-ordered form).
    * Grams enter as fused-distinct 64-bit hashes (map-only), the
    * first-holder table is a gram-keyed min aggregate (map-side
    * combined), and the verdict join moves hashes only. */
  private val qNgramNovelty = Q(
    "q_ngram_novelty",
    (s, d) => {
      val docs = t(s, d, "documents")
      val grams = Dedup.hashedShingleRowsDistinct(docs, 5)
      val firsts = grams.groupBy("s").agg(min("doc_id").as("first_doc"))
      val agg = grams.join(firsts, "s")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_distinct_grams"),
          sum((col("first_doc") < col("doc_id")).cast("long"))
            .as("seen_before"))
      docs.select("doc_id").join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_distinct_grams"), lit(0L))
            .as("n_distinct_grams"),
          coalesce(col("seen_before"), lit(0L)).as("seen_before"),
          when(coalesce(col("n_distinct_grams"), lit(0L)) === 0,
            lit(null).cast("double"))
            .otherwise(TextAnalysis.roundStable(
              lit(1.0) - col("seen_before").cast("double") /
                col("n_distinct_grams"), 6)).as("novelty"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
    g AS (
      SELECT DISTINCT doc_id, unnest(CASE WHEN len(t) >= 5
        THEN list_transform(range(1, len(t) - 3),
          i -> array_to_string(t[i:i+4], ' '))
        ELSE []::VARCHAR[] END) AS s
      FROM toks),
    f AS (SELECT s, min(doc_id) AS first_doc FROM g GROUP BY 1),
    agg AS (
      SELECT g.doc_id, count(*) AS n_distinct_grams,
        CAST(sum(CASE WHEN first_doc < g.doc_id THEN 1 ELSE 0 END)
          AS BIGINT) AS seen_before
      FROM g JOIN f USING (s) GROUP BY 1)
    SELECT d.doc_id,
      coalesce(n_distinct_grams, 0) AS n_distinct_grams,
      coalesce(seen_before, 0) AS seen_before,
      CASE WHEN coalesce(n_distinct_grams, 0) = 0 THEN NULL
           ELSE floor((1.0 - seen_before * 1.0 / n_distinct_grams)
             * 1000000.0 + 0.5) / 1000000.0
      END AS novelty
    FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id
    ORDER BY d.doc_id"""))

  /** Per-language length profile — doc-length percentiles and the
    * over-budget share per lang (the length-filter calibration read
    * before setting a tokenizer truncation budget; q_gopher_filter
    * applies gates, this measures where they'd bite). One lang-keyed
    * aggregate of integer char counts: exact p10/p50/p90, mean as an
    * integer ratio, and a conditional count — all in one pass. */
  private val qLengthProfile = Q(
    "q_length_profile",
    (s, d) => t(s, d, "documents")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        TextAnalysis.roundStable(expr("percentile(n_chars, 0.1D)"), 1)
          .as("p10"),
        TextAnalysis.roundStable(expr("percentile(n_chars, 0.5D)"), 1)
          .as("p50"),
        TextAnalysis.roundStable(expr("percentile(n_chars, 0.9D)"), 1)
          .as("p90"),
        TextAnalysis.roundStable(
          sum("n_chars").cast("double") / count(lit(1)), 2)
          .as("mean_chars"),
        TextAnalysis.roundStable(
          sum((col("n_chars") > 400).cast("long")).cast("double") /
            count(lit(1)), 6).as("over_400_share"))
      .orderBy("lang"),
    Some("""SELECT lang, count(*) AS n_docs,
      floor(quantile_cont(n_chars, 0.1) * 10.0 + 0.5) / 10.0 AS p10,
      floor(quantile_cont(n_chars, 0.5) * 10.0 + 0.5) / 10.0 AS p50,
      floor(quantile_cont(n_chars, 0.9) * 10.0 + 0.5) / 10.0 AS p90,
      floor(CAST(sum(n_chars) AS DOUBLE) / count(*) * 100.0 + 0.5)
        / 100.0 AS mean_chars,
      floor(CAST(sum(CASE WHEN n_chars > 400 THEN 1 ELSE 0 END)
          AS DOUBLE) / count(*) * 1000000.0 + 0.5) / 1000000.0
        AS over_400_share
    FROM documents GROUP BY 1 ORDER BY lang"""))

  /** Price elasticity per brand — OLS slope of ln(quantity) on
    * ln(unit price) over order lines (the classic log-log demand
    * curve; slope ≈ elasticity). Both logs are quantized to 1e−4
    * BIGINTs per element before summing (the q_zipf discipline), so
    * the per-brand OLS sums are exact integers — no float-accumulation
    * order dependence across engines — and the closing expressions
    * are identical IEEE ops. Brand-grade everything after one
    * lineitem→part broadcast join. */
  private val qPriceElasticity = Q(
    "q_price_elasticity",
    (s, d) => {
      val li = t(s, d, "lineitem")
        .filter(col("l_quantity") > 0)
        .select(col("l_partkey"),
          floor(log(col("l_extendedprice") / col("l_quantity")) * 10000
            + 0.5).cast("long").as("x"),
          floor(log(col("l_quantity")) * 10000 + 0.5).cast("long")
            .as("y"))
      val p = t(s, d, "part").select(col("p_partkey"), col("p_brand"))
      val st = li.join(broadcast(p),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"))
        .agg(count(lit(1)).as("k"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
      val dxx = (col("k") * col("sxx") - col("sx") * col("sx"))
        .cast("double")
      val dyy = (col("k") * col("syy") - col("sy") * col("sy"))
        .cast("double")
      val dxy = (col("k") * col("sxy") - col("sx") * col("sy"))
        .cast("double")
      st.select(col("brand"), col("k").as("n_lines"),
          TextAnalysis.roundStable(when(dxx > 0, dxy / dxx), 6)
            .as("elasticity"),
          TextAnalysis.roundStable(
            when(dxx > 0 && dyy > 0, (dxy * dxy) / (dxx * dyy)), 6)
            .as("r2"))
        .orderBy("brand")
    },
    Some("""WITH li AS (
      SELECT l_partkey,
        CAST(floor(ln(l_extendedprice / l_quantity) * 10000 + 0.5)
          AS BIGINT) AS x,
        CAST(floor(ln(l_quantity) * 10000 + 0.5) AS BIGINT) AS y
      FROM lineitem WHERE l_quantity > 0),
    st AS (SELECT p_brand AS brand, count(*) AS k,
        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        CAST(sum(x * y) AS BIGINT) AS sxy,
        CAST(sum(x * x) AS BIGINT) AS sxx,
        CAST(sum(y * y) AS BIGINT) AS syy
      FROM li JOIN part ON l_partkey = p_partkey GROUP BY 1)
    SELECT brand, k AS n_lines,
      CASE WHEN (k * sxx - sx * sx) > 0 THEN
        floor(CAST(k * sxy - sx * sy AS DOUBLE)
            / CAST(k * sxx - sx * sx AS DOUBLE) * 1000000.0 + 0.5)
          / 1000000.0 END AS elasticity,
      CASE WHEN (k * sxx - sx * sx) > 0 AND (k * syy - sy * sy) > 0 THEN
        floor(CAST(k * sxy - sx * sy AS DOUBLE)
            * CAST(k * sxy - sx * sy AS DOUBLE)
            / (CAST(k * sxx - sx * sx AS DOUBLE)
              * CAST(k * syy - sy * sy AS DOUBLE)) * 1000000.0 + 0.5)
          / 1000000.0 END AS r2
    FROM st ORDER BY brand"""))

  /** ABC inventory classification — parts bucketed A/B/C by cumulative
    * revenue share (≤80% / ≤95% / rest), the ops twin of q_pareto.
    * The per-part inclusive prefix is [[Ranking.globalPrefixMass]]
    * (the globalRank histogram scheme extended to MASS — value-level
    * DECIMAL histogram window + per-value running sums, never a
    * corpus-wide single-partition window). Class boundaries compare
    * 5·prefix ≤ 4·total and 20·prefix ≤ 19·total — exact decimal
    * integer-multiple comparisons, so no float decides a class. */
  private val qAbcClass = Q(
    "q_abc_class",
    (s, d) => {
      val rev = t(s, d, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,6)")).as("rev"))
      val tot = rev.agg(sum("rev").as("tot"))
      val ranked = Ranking.globalPrefixMass(rev, col("rev"),
        col("l_partkey"), col("rev"))
      ranked.crossJoin(broadcast(tot))
        .withColumn("cls",
          when(col("prefix") * 5 <= col("tot") * 4, lit("A"))
            .when(col("prefix") * 20 <= col("tot") * 19, lit("B"))
            .otherwise(lit("C")))
        .groupBy("cls")
        .agg(count(lit(1)).as("n_parts"), sum("rev").as("cls_rev"))
        .crossJoin(broadcast(tot))
        .select(col("cls"), col("n_parts"),
          TextAnalysis.roundStable(col("cls_rev").cast("double"), 2)
            .as("class_rev"),
          TextAnalysis.roundStable(
            col("cls_rev").cast("double") / col("tot").cast("double"), 6)
            .as("rev_share"))
        .orderBy("cls")
    },
    Some("""WITH rev AS (
      SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(18,6)))
        AS rev
      FROM lineitem GROUP BY 1),
    ranked AS (SELECT l_partkey, rev,
        sum(rev) OVER (ORDER BY rev DESC, l_partkey ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix
      FROM rev),
    tot AS (SELECT sum(rev) AS tot FROM rev),
    cls AS (SELECT
        CASE WHEN prefix * 5 <= tot * 4 THEN 'A'
             WHEN prefix * 20 <= tot * 19 THEN 'B'
             ELSE 'C' END AS cls, rev, tot
      FROM ranked, tot)
    SELECT cls, count(*) AS n_parts,
      floor(CAST(sum(rev) AS DOUBLE) * 100.0 + 0.5) / 100.0
        AS class_rev,
      floor(CAST(sum(rev) AS DOUBLE) / CAST(max(tot) AS DOUBLE)
        * 1000000.0 + 0.5) / 1000000.0 AS rev_share
    FROM cls GROUP BY 1 ORDER BY cls"""))

  /** Weekday seasonality strength per event type — share of daily-
    * count variance explained by weekday means (ANOVA R²: ≈0 no
    * weekly rhythm, ≈1 pure weekly rhythm — decides whether forecasts
    * and anomaly thresholds need weekday conditioning; q_weekday_
    * profile shows the shape, this scores it). All inputs are INTEGER
    * power sums — per-(type,weekday) k/Σn and per-type K/Σn/Σn² —
    * and the closing Σ s²/k fold runs over exactly 7 weekday rows per
    * type, rounded once. Day-grade after one events aggregate; the
    * type totals broadcast back onto the 7-row groups. */
  private val qSeasonalStrength = Q(
    "q_seasonal_strength",
    (s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
        .withColumn("wd", weekday(col("day")).cast("long"))
      val wdAgg = daily.groupBy("event_type", "wd")
        .agg(count(lit(1)).as("kw"), sum("n").as("sw"))
      val tyAgg = daily.groupBy("event_type")
        .agg(count(lit(1)).as("k"), sum("n").as("sn"),
          sum(col("n") * col("n")).as("snn"))
      val ssb = sum(col("sw").cast("double") * col("sw") / col("kw")) -
        col("sn").cast("double") * col("sn") / col("k")
      val sst = col("snn").cast("double") -
        col("sn").cast("double") * col("sn") / col("k")
      wdAgg.join(broadcast(tyAgg), "event_type")
        .groupBy(col("event_type"), col("k"), col("sn"), col("snn"))
        .agg(TextAnalysis.roundStable(
          when(sst > 0, ssb / sst), 6).as("strength"))
        .select(col("event_type"), col("k").as("n_days"),
          col("strength"))
        .orderBy("event_type")
    },
    Some("""WITH daily AS (
      SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        count(*) AS n
      FROM events GROUP BY 1, 2),
    dw AS (SELECT event_type, isodow(day) - 1 AS wd, n FROM daily),
    wda AS (SELECT event_type, wd, count(*) AS kw,
        CAST(sum(n) AS BIGINT) AS sw
      FROM dw GROUP BY 1, 2),
    tya AS (SELECT event_type, count(*) AS k,
        CAST(sum(n) AS BIGINT) AS sn,
        CAST(sum(n * n) AS BIGINT) AS snn
      FROM daily GROUP BY 1)
    SELECT w.event_type, k AS n_days,
      CASE WHEN snn - CAST(sn AS DOUBLE) * sn / k > 0 THEN
        floor((sum(CAST(sw AS DOUBLE) * sw / kw)
            - CAST(sn AS DOUBLE) * sn / k)
          / (snn - CAST(sn AS DOUBLE) * sn / k) * 1000000.0 + 0.5)
          / 1000000.0 END AS strength
    FROM wda w JOIN tya t ON w.event_type = t.event_type
    GROUP BY 1, 2, sn, snn, k ORDER BY w.event_type"""))

  /** Basket-size distribution — order line-count histogram with mean
    * basket value per size (the order-shape profile behind picking
    * batch sizes and co-purchase support thresholds). One order-keyed
    * aggregate (count + DECIMAL value), then a size-bounded histogram
    * — no join anywhere. */
  private val qBasketSizeDist = Q(
    "q_basket_size_dist",
    (s, d) => t(s, d, "lineitem")
      .groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_extendedprice").cast("decimal(18,6)")).as("val"))
      .groupBy("n_lines")
      .agg(count(lit(1)).as("n_orders"), sum("val").as("sv"))
      .withColumn("tot", sum("n_orders").over(Window.partitionBy()))
      .select(col("n_lines"), col("n_orders"),
        TextAnalysis.roundStable(
          col("sv").cast("double") / col("n_orders"), 2)
          .as("mean_value"),
        TextAnalysis.roundStable(
          col("n_orders").cast("double") / col("tot"), 6)
          .as("order_share"))
      .orderBy("n_lines"),
    Some("""WITH o AS (
      SELECT l_orderkey, count(*) AS n_lines,
        sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS val
      FROM lineitem GROUP BY 1),
    h AS (SELECT n_lines, count(*) AS n_orders, sum(val) AS sv
      FROM o GROUP BY 1)
    SELECT n_lines, n_orders,
      floor(CAST(sv AS DOUBLE) / n_orders * 100.0 + 0.5) / 100.0
        AS mean_value,
      floor(CAST(n_orders AS DOUBLE)
          / CAST(sum(n_orders) OVER () AS BIGINT) * 1000000.0 + 0.5)
        / 1000000.0 AS order_share
    FROM h ORDER BY n_lines"""))

  /** Language-ID evaluation — per-language precision/recall/F1 of the
    * stopword-marker classifier against the labeled lang column (the
    * metric layer over q_lang_id's confusion matrix; the shape of
    * every classifier-eval report). Truth and prediction totals come
    * from two rollups of the langs²-bounded confusion matrix joined
    * back on the diagonal — integer counts, three closing divisions.
    * F1 derives from the SAME rounded p/r both engines computed. */
  private val qLangidEval = Q(
    "q_langid_eval",
    (s, d) => {
      val conf = TextAnalysis.withLangPred(
          t(s, d, "documents"), "text", Seq("doc_id"))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("cnt"))
      val truth = conf.groupBy("lang").agg(sum("cnt").as("n_true"))
      val pred = conf.groupBy("lang_pred").agg(sum("cnt").as("n_pred"))
      val diag = conf.filter(col("lang") === col("lang_pred"))
        .select(col("lang"), col("cnt").as("n_correct"))
      val p = col("n_correct").cast("double") / col("n_pred")
      val r = col("n_correct").cast("double") / col("n_true")
      truth
        .join(diag, Seq("lang"), "left")
        .join(pred.withColumnRenamed("lang_pred", "lang"),
          Seq("lang"), "left")
        .select(col("lang"), col("n_true"),
          coalesce(col("n_pred"), lit(0L)).as("n_pred"),
          coalesce(col("n_correct"), lit(0L)).as("n_correct"),
          TextAnalysis.roundStable(
            when(col("n_pred") > 0,
              coalesce(col("n_correct"), lit(0L)).cast("double") /
                col("n_pred")), 6).as("precision"),
          TextAnalysis.roundStable(
            coalesce(col("n_correct"), lit(0L)).cast("double") /
              col("n_true"), 6).as("recall"),
          TextAnalysis.roundStable(
            when(col("n_pred") > 0 && coalesce(col("n_correct"),
                lit(0L)) > 0,
              lit(2.0) * p * r / (p + r)).otherwise(lit(0.0)), 6)
            .as("f1"))
        .orderBy("lang")
    },
    Some("""WITH tk AS (
      SELECT lang, string_split(lower(text), ' ') AS t FROM documents),
    sc AS (SELECT lang,
      len(list_filter(t, x -> x IN ('the','and','of','to','a','in','is'))) AS s_en,
      len(list_filter(t, x -> x IN ('der','die','das','und','ist','ein'))) AS s_de,
      len(list_filter(t, x -> x IN ('el','los','las','y','es','un'))) AS s_es,
      len(list_filter(t, x -> x IN ('le','les','et','est','une','du'))) AS s_fr,
      len(list_filter(t, x -> x IN ('de5','shi4','le5','zai4','he2'))) AS s_zh
      FROM tk),
    pm AS (SELECT lang, CASE
      WHEN coalesce(greatest(s_en,s_de,s_es,s_fr,s_zh), 0) = 0 THEN 'und'
      WHEN s_en >= greatest(s_de,s_es,s_fr,s_zh) THEN 'en'
      WHEN s_de >= greatest(s_es,s_fr,s_zh) THEN 'de'
      WHEN s_es >= greatest(s_fr,s_zh) THEN 'es'
      WHEN s_fr >= s_zh THEN 'fr' ELSE 'zh' END AS lang_pred FROM sc),
    conf AS (SELECT lang, lang_pred, count(*) AS cnt
      FROM pm GROUP BY 1, 2),
    tr AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS n_true
      FROM conf GROUP BY 1),
    pd AS (SELECT lang_pred AS lang, CAST(sum(cnt) AS BIGINT) AS n_pred
      FROM conf GROUP BY 1),
    dg AS (SELECT lang, cnt AS n_correct FROM conf
      WHERE lang = lang_pred)
    SELECT tr.lang, n_true,
      coalesce(n_pred, 0) AS n_pred,
      coalesce(n_correct, 0) AS n_correct,
      CASE WHEN coalesce(n_pred, 0) > 0 THEN
        floor(coalesce(n_correct, 0) * 1.0 / n_pred * 1000000.0 + 0.5)
          / 1000000.0 END AS precision,
      floor(coalesce(n_correct, 0) * 1.0 / n_true * 1000000.0 + 0.5)
        / 1000000.0 AS recall,
      CASE WHEN coalesce(n_pred, 0) > 0 AND coalesce(n_correct, 0) > 0
        THEN floor(2.0 * (coalesce(n_correct, 0) * 1.0 / n_pred)
            * (coalesce(n_correct, 0) * 1.0 / n_true)
            / ((coalesce(n_correct, 0) * 1.0 / n_pred)
              + (coalesce(n_correct, 0) * 1.0 / n_true))
          * 1000000.0 + 0.5) / 1000000.0
        ELSE 0.0 END AS f1
    FROM tr LEFT JOIN dg ON dg.lang = tr.lang
    LEFT JOIN pd ON pd.lang = tr.lang
    ORDER BY tr.lang"""))

  /** Order fill rate by month — share of orders whose EVERY line
    * shipped within 30 days of the order date (the all-lines gate is
    * a min over per-line flags: one order-keyed aggregate after a
    * co-partitioned order-key join, then a month-bounded rollup —
    * the standard "complete within SLA" two-level shape;
    * q_sla_attainment scores lines, this scores whole orders). */
  private val qOrderFillRate = Q(
    "q_order_fill_rate",
    (s, d) => {
      val o = t(s, d, "orders")
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("od"))
      val l = t(s, d, "lineitem")
        .select(col("l_orderkey"), to_date(col("l_shipdate")).as("sd"))
      val perOrder = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderkey"), trunc(col("od"), "month").as("month"))
        .agg(min((datediff(col("sd"), col("od")) <= 30).cast("long"))
          .as("filled"))
      perOrder.groupBy("month")
        .agg(count(lit(1)).as("n_orders"),
          sum("filled").as("n_filled"))
        .select(col("month"), col("n_orders"), col("n_filled"),
          TextAnalysis.roundStable(
            col("n_filled").cast("double") / col("n_orders"), 6)
            .as("fill_rate"))
        .orderBy("month")
    },
    Some("""WITH po AS (
      SELECT o_orderkey,
        date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
        min(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
            CAST(l_shipdate AS DATE)) <= 30 THEN 1 ELSE 0 END) AS filled
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY 1, 2)
    SELECT month, count(*) AS n_orders,
      CAST(sum(filled) AS BIGINT) AS n_filled,
      floor(CAST(sum(filled) AS DOUBLE) / count(*) * 1000000.0 + 0.5)
        / 1000000.0 AS fill_rate
    FROM po GROUP BY 1 ORDER BY month"""))

  /** Embedding norm profile per label — count, mean/min/max and exact
    * median of L2 norms (the health check before cosine ops: a
    * degenerate or unnormalized label cluster shows up here first;
    * q_label_centroids gives position, this gives magnitude). The
    * per-row norm folds the array ROW-LOCALLY in fixed array order
    * (deterministic IEEE both engines — the q_ann_topk contract),
    * then quantizes to 1e−4 BIGINTs so every aggregate is exact
    * integer arithmetic. */
  private val qEmbedNorms = Q(
    "q_embed_norms",
    (s, d) => t(s, d, "embeddings")
      .select(col("label"),
        floor(sqrt(expr(
          "aggregate(embedding, 0D, (a, x) -> a + CAST(x AS DOUBLE) * x)"))
          * 10000 + 0.5).cast("long").as("nq"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        TextAnalysis.roundStable(
          sum("nq").cast("double") / count(lit(1)) / 10000.0, 4)
          .as("mean_norm"),
        TextAnalysis.roundStable(
          expr("percentile(nq, 0.5D)") / 10000.0, 4).as("median_norm"),
        TextAnalysis.roundStable(min("nq") / lit(10000.0), 4)
          .as("min_norm"),
        TextAnalysis.roundStable(max("nq") / lit(10000.0), 4)
          .as("max_norm"))
      .orderBy("label"),
    Some("""WITH n AS (
      SELECT label,
        CAST(floor(sqrt(list_sum(list_transform(embedding,
          x -> CAST(x AS DOUBLE) * x))) * 10000 + 0.5) AS BIGINT) AS nq
      FROM embeddings)
    SELECT label, count(*) AS n_vecs,
      floor(CAST(sum(nq) AS DOUBLE) / count(*) / 10000.0 * 10000.0
        + 0.5) / 10000.0 AS mean_norm,
      floor(quantile_cont(nq, 0.5) / 10000.0 * 10000.0 + 0.5) / 10000.0
        AS median_norm,
      floor(min(nq) / 10000.0 * 10000.0 + 0.5) / 10000.0 AS min_norm,
      floor(max(nq) / 10000.0 * 10000.0 + 0.5) / 10000.0 AS max_norm
    FROM n GROUP BY 1 ORDER BY label"""))

  /** Conditional next-event entropy per state — H(next | current) for
    * each event type (how predictable is what follows? — the
    * per-state refinement of q_mutual_info's global number and the
    * sibling of q_transition's raw matrix). Counts come from ONE
    * vocab²-bounded transition aggregate; the entropy fold
    * H = log2(n) − Σ c·log2(c)/n runs over ≤|types| cells per state
    * (the q_token_entropy algebraic form — integers until the final
    * projection). One user-ordered window, then everything is
    * vocab-grade. */
  private val qTransitionEntropy = Q(
    "q_transition_entropy",
    (s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      val trans = t(s, d, "events")
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("next_type"))
        .agg(count(lit(1)).as("c"))
      trans.groupBy("from_type")
        .agg(sum("c").as("n"), count(lit(1)).as("n_next"),
          sum(col("c").cast("double") * log2(col("c"))).as("clogc"))
        .select(col("from_type"), col("n").as("n_transitions"),
          col("n_next"),
          TextAnalysis.roundStable(
            log2(col("n")) - col("clogc") / col("n"), 6).as("entropy"))
        .orderBy("from_type")
    },
    Some("""WITH e AS (
      SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS tts
      FROM events),
    tr AS (SELECT event_type AS from_type,
        lead(event_type) OVER (PARTITION BY user_id
          ORDER BY tts ASC, event_id ASC) AS next_type
      FROM e),
    ct AS (SELECT from_type, next_type, count(*) AS c
      FROM tr WHERE next_type IS NOT NULL GROUP BY 1, 2)
    SELECT from_type, CAST(sum(c) AS BIGINT) AS n_transitions,
      count(*) AS n_next,
      floor((log2(CAST(sum(c) AS DOUBLE))
          - sum(c * log2(CAST(c AS DOUBLE))) / sum(c))
        * 1000000.0 + 0.5) / 1000000.0 AS entropy
    FROM ct GROUP BY 1 ORDER BY from_type"""))

  /** Month-over-month revenue bridge — ΔRevenue decomposed into a
    * volume effect (Δquantity at last month's realized price) and a
    * price/mix effect (the remainder), the standard FP&A waterfall.
    * Monthly quantity and revenue are DECIMAL sums (order-free); the
    * lag rides the months-bounded table; effects are closing double
    * expressions. Month-grade after one lineitem aggregate. */
  private val qRevenueBridge = Q(
    "q_revenue_bridge",
    (s, d) => {
      val monthly = t(s, d, "lineitem")
        .groupBy(trunc(to_date(col("l_shipdate")), "month").as("month"))
        .agg(sum(col("l_quantity").cast("decimal(18,6)")).as("q"),
          sum(col("l_extendedprice").cast("decimal(18,6)")).as("r"))
      val wm = Window.orderBy("month")
      val withLag = monthly
        .withColumn("pq", lag(col("q"), 1).over(wm))
        .withColumn("pr", lag(col("r"), 1).over(wm))
        .filter(col("pq").isNotNull)
      val volEff = (col("q") - col("pq")).cast("double") *
        (col("pr").cast("double") / col("pq").cast("double"))
      withLag.select(col("month"),
          TextAnalysis.roundStable(col("r").cast("double"), 2)
            .as("revenue"),
          TextAnalysis.roundStable(
            (col("r") - col("pr")).cast("double"), 2).as("delta_rev"),
          TextAnalysis.roundStable(volEff, 2).as("volume_effect"),
          TextAnalysis.roundStable(
            (col("r") - col("pr")).cast("double") - volEff, 2)
            .as("price_effect"))
        .orderBy("month")
    },
    Some("""WITH m AS (
      SELECT date_trunc('month', CAST(l_shipdate AS DATE)) AS month,
        sum(CAST(l_quantity AS DECIMAL(18,6))) AS q,
        sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS r
      FROM lineitem GROUP BY 1),
    lg AS (SELECT month, q, r,
        lag(q) OVER (ORDER BY month) AS pq,
        lag(r) OVER (ORDER BY month) AS pr
      FROM m)
    SELECT month,
      floor(CAST(r AS DOUBLE) * 100.0 + 0.5) / 100.0 AS revenue,
      floor(CAST(r - pr AS DOUBLE) * 100.0 + 0.5) / 100.0 AS delta_rev,
      floor(CAST(q - pq AS DOUBLE) * (CAST(pr AS DOUBLE)
          / CAST(pq AS DOUBLE)) * 100.0 + 0.5) / 100.0
        AS volume_effect,
      floor((CAST(r - pr AS DOUBLE) - CAST(q - pq AS DOUBLE)
          * (CAST(pr AS DOUBLE) / CAST(pq AS DOUBLE))) * 100.0 + 0.5)
        / 100.0 AS price_effect
    FROM lg WHERE pq IS NOT NULL ORDER BY month"""))

  /** Cart abandonment per day — users who viewed but did not purchase
    * the same or next day (the leaky-funnel daily alarm; q_funnel
    * measures the full path, this the first cliff). User-day flags
    * come from one dedup aggregate; "purchase within a day" is an
    * equi-join of the view-day table against purchase days shifted to
    * BOTH matching offsets (0 and +1) — a 2× map-side explode of the
    * small purchase-day side, never a range join. */
  private val qCartAbandon = Q(
    "q_cart_abandon",
    (s, d) => {
      val ud = t(s, d, "events")
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(
          max((col("event_type") === "view").cast("long")).as("viewed"),
          max((col("event_type") === "purchase").cast("long"))
            .as("purchased"))
      val viewDays = ud.filter(col("viewed") === 1)
        .select(col("user_id"), col("day"))
      val purchCover = ud.filter(col("purchased") === 1)
        .select(col("user_id"),
          explode(array(col("day"), date_sub(col("day"), 1)))
            .as("day"))
        .distinct()
      viewDays
        .join(purchCover.withColumn("hit", lit(1L)),
          Seq("user_id", "day"), "left")
        .groupBy("day")
        .agg(count(lit(1)).as("n_viewers"),
          sum(when(col("hit").isNull, 1L).otherwise(0L))
            .as("n_abandoned"))
        .select(col("day"), col("n_viewers"), col("n_abandoned"),
          TextAnalysis.roundStable(
            col("n_abandoned").cast("double") / col("n_viewers"), 6)
            .as("abandon_rate"))
        .orderBy("day")
    },
    Some("""WITH ud AS (
      SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS viewed,
        max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
          AS purchased
      FROM events GROUP BY 1, 2),
    vd AS (SELECT user_id, day FROM ud WHERE viewed = 1),
    pc AS (SELECT DISTINCT user_id, pd AS day FROM (
      SELECT user_id, unnest([day, day - 1]) AS pd
      FROM ud WHERE purchased = 1)),
    j AS (SELECT vd.user_id, vd.day,
        CASE WHEN pc.user_id IS NULL THEN 1 ELSE 0 END AS abandoned
      FROM vd LEFT JOIN pc ON pc.user_id = vd.user_id
        AND pc.day = vd.day)
    SELECT day, count(*) AS n_viewers,
      CAST(sum(abandoned) AS BIGINT) AS n_abandoned,
      floor(CAST(sum(abandoned) AS DOUBLE) / count(*) * 1000000.0
        + 0.5) / 1000000.0 AS abandon_rate
    FROM j GROUP BY 1 ORDER BY day"""))

  /** Revenue concentration per brand — Herfindahl index over each
    * brand's part-level revenue shares plus the top-part share (is a
    * brand a one-hit wonder? — q_diversity's concentration read,
    * applied within groups). Per-part revenue is a DECIMAL sum; the
    * HHI numerator Σrᵢ² accumulates in DECIMAL(38,6) (exact,
    * order-free — squares of 1e11-scaled decimals stay far inside 38
    * digits); the one division closes in doubles. Brand grade after
    * a broadcast dim attach. */
  private val qBrandHhi = Q(
    "q_brand_hhi",
    (s, d) => {
      val p = t(s, d, "part").select(col("p_partkey"), col("p_brand"))
      val rev = t(s, d, "lineitem")
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"), col("l_partkey"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,6)")).as("r"))
      rev.groupBy("brand")
        .agg(count(lit(1)).as("n_parts"),
          sum("r").as("tot"),
          sum((col("r") * col("r")).cast("decimal(38,6)")).as("sq"),
          max("r").as("mx"))
        .select(col("brand"), col("n_parts"),
          TextAnalysis.roundStable(col("tot").cast("double"), 2)
            .as("brand_rev"),
          TextAnalysis.roundStable(
            col("sq").cast("double") /
              (col("tot").cast("double") * col("tot").cast("double")),
            6).as("hhi"),
          TextAnalysis.roundStable(
            col("mx").cast("double") / col("tot").cast("double"), 6)
            .as("top_part_share"))
        .orderBy("brand")
    },
    Some("""WITH rev AS (
      SELECT p_brand AS brand, l_partkey,
        sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS r
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY 1, 2)
    SELECT brand, count(*) AS n_parts,
      floor(CAST(sum(r) AS DOUBLE) * 100.0 + 0.5) / 100.0 AS brand_rev,
      floor(CAST(sum(CAST(r * r AS DECIMAL(38,6))) AS DOUBLE)
          / (CAST(sum(r) AS DOUBLE) * CAST(sum(r) AS DOUBLE))
        * 1000000.0 + 0.5) / 1000000.0 AS hhi,
      floor(CAST(max(r) AS DOUBLE) / CAST(sum(r) AS DOUBLE)
        * 1000000.0 + 0.5) / 1000000.0 AS top_part_share
    FROM rev GROUP BY 1 ORDER BY brand"""))

  /** Lexical diversity per source — type-token ratio, Shannon entropy
    * and integer-exact Simpson over each source's token counts (the
    * per-feed boilerplate detector: low diversity = templated text;
    * q_token_entropy scores docs, this scores feeds). Token counts
    * are one (source, token) aggregate; the entropy/Simpson folds are
    * source-vocab-bounded with integers until the closing projection
    * (Simpson's Σc(c−1)/n(n−1) is EXACT — the q_diversity form). */
  private val qLexicalDiversity = Q(
    "q_lexical_diversity",
    (s, d) => {
      val tc = t(s, d, "documents")
        .select(col("source"),
          explode(split(lower(col("text")), " ")).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("c"))
      tc.groupBy("source")
        .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_types"),
          sum(col("c").cast("double") * log2(col("c"))).as("clogc"),
          sum(col("c") * (col("c") - 1)).as("cc1"))
        .select(col("source"), col("n_tokens"), col("n_types"),
          TextAnalysis.roundStable(
            col("n_types").cast("double") / col("n_tokens"), 6)
            .as("ttr"),
          TextAnalysis.roundStable(
            log2(col("n_tokens")) - col("clogc") / col("n_tokens"), 6)
            .as("entropy"),
          TextAnalysis.roundStable(
            col("cc1").cast("double") /
              (col("n_tokens").cast("double") *
                (col("n_tokens") - lit(1)).cast("double")), 6)
            .as("simpson"))
        .orderBy("source")
    },
    Some("""WITH tk AS (
      SELECT source, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents),
    tc AS (SELECT source, tok, count(*) AS c FROM tk GROUP BY 1, 2)
    SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
      count(*) AS n_types,
      floor(count(*) * 1.0 / sum(c) * 1000000.0 + 0.5) / 1000000.0
        AS ttr,
      floor((log2(CAST(sum(c) AS DOUBLE))
          - sum(c * log2(CAST(c AS DOUBLE))) / sum(c))
        * 1000000.0 + 0.5) / 1000000.0 AS entropy,
      floor(CAST(sum(c * (c - 1)) AS DOUBLE)
          / (CAST(sum(c) AS DOUBLE) * (sum(c) - 1))
        * 1000000.0 + 0.5) / 1000000.0 AS simpson
    FROM tc GROUP BY 1 ORDER BY source"""))

  /** Steps-to-first-purchase distribution — histogram of how many
    * events precede a user's first purchase (the effort metric behind
    * q_conversion_lag's time metric; long paths = friction). The
    * per-user step count is a strictly-preceding running count read
    * AT the first purchase row — one ordered user window + a
    * first-purchase filter via running purchase count (no self-join,
    * no per-user collect); the histogram is path-length-bounded. */
  private val qPurchasePathLen = Q(
    "q_purchase_path_len",
    (s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
      val firstP = t(s, d, "events")
        .withColumn("nprev", count(lit(1)).over(wPrev))
        .withColumn("prevP", sum(
          (col("event_type") === "purchase").cast("long")).over(wPrev))
        .filter(col("event_type") === "purchase" &&
          coalesce(col("prevP"), lit(0L)) === 0)
        .select(col("user_id"),
          coalesce(col("nprev"), lit(0L)).as("steps"))
      firstP.groupBy("steps")
        .agg(count(lit(1)).as("n_users"))
        .withColumn("tot", sum("n_users").over(Window.partitionBy()))
        .select(col("steps"), col("n_users"),
          TextAnalysis.roundStable(
            col("n_users").cast("double") / col("tot"), 6)
            .as("user_share"))
        .orderBy("steps")
    },
    Some("""WITH e AS (
      SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS tts
      FROM events),
    r AS (SELECT user_id, event_type,
        count(*) OVER (PARTITION BY user_id ORDER BY tts ASC,
          event_id ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
          AS nprev,
        sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
          OVER (PARTITION BY user_id ORDER BY tts ASC, event_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevp
      FROM e),
    fp AS (SELECT coalesce(nprev, 0) AS steps FROM r
      WHERE event_type = 'purchase' AND coalesce(prevp, 0) = 0),
    h AS (SELECT steps, count(*) AS n_users FROM fp GROUP BY 1)
    SELECT steps, n_users,
      floor(CAST(n_users AS DOUBLE)
          / CAST(sum(n_users) OVER () AS BIGINT) * 1000000.0 + 0.5)
        / 1000000.0 AS user_share
    FROM h ORDER BY steps"""))

  /** Weekend lift per event type — weekend vs weekday mean daily
    * volume and value (the staffing/capacity split; q_seasonal_
    * strength says IF weekday matters, this says the simplest HOW).
    * Two-bucket conditional aggregate over the bounded daily table —
    * integer counts, DECIMAL value, exact integer-ratio means and one
    * closing lift division. */
  private val qWeekendLift = Q(
    "q_weekend_lift",
    (s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).as("v"))
        .withColumn("wk", (weekday(col("day")) >= 5).cast("long"))
      daily.groupBy("event_type")
        .agg(sum(when(col("wk") === 1, col("n"))).as("we_n"),
          sum(when(col("wk") === 0, col("n"))).as("wd_n"),
          sum(col("wk")).as("we_days"),
          sum(lit(1L) - col("wk")).as("wd_days"))
        .select(col("event_type"),
          col("we_days"), col("wd_days"),
          TextAnalysis.roundStable(
            col("we_n").cast("double") / col("we_days"), 2)
            .as("weekend_daily"),
          TextAnalysis.roundStable(
            col("wd_n").cast("double") / col("wd_days"), 2)
            .as("weekday_daily"),
          TextAnalysis.roundStable(
            (col("we_n").cast("double") * col("wd_days")) /
              (col("wd_n").cast("double") * col("we_days")), 4)
            .as("lift"))
        .orderBy("event_type")
    },
    Some("""WITH daily AS (
      SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        count(*) AS n
      FROM events GROUP BY 1, 2),
    f AS (SELECT event_type, n,
        CASE WHEN isodow(day) >= 6 THEN 1 ELSE 0 END AS wk
      FROM daily),
    a AS (SELECT event_type,
        CAST(sum(CASE WHEN wk = 1 THEN n END) AS BIGINT) AS we_n,
        CAST(sum(CASE WHEN wk = 0 THEN n END) AS BIGINT) AS wd_n,
        CAST(sum(wk) AS BIGINT) AS we_days,
        CAST(sum(1 - wk) AS BIGINT) AS wd_days
      FROM f GROUP BY 1)
    SELECT event_type, we_days, wd_days,
      floor(CAST(we_n AS DOUBLE) / we_days * 100.0 + 0.5) / 100.0
        AS weekend_daily,
      floor(CAST(wd_n AS DOUBLE) / wd_days * 100.0 + 0.5) / 100.0
        AS weekday_daily,
      floor((CAST(we_n AS DOUBLE) * wd_days)
          / (CAST(wd_n AS DOUBLE) * we_days) * 10000.0 + 0.5) / 10000.0
        AS lift
    FROM a ORDER BY event_type"""))

  /** Order-value decile boundaries — the nine exact decile cut points
    * of o_totalprice plus mean order value (the banding table feeding
    * pricing tiers and q_percentile_norm-style curricula). One
    * percentile-ARRAY aggregate (single pass, map-side combined),
    * exploded to rows — never a corpus sort or rank. */
  private val qValueDeciles = Q(
    "q_value_deciles",
    (s, d) => t(s, d, "orders")
      .agg(expr("percentile(o_totalprice, " +
        "array(0.1D,0.2D,0.3D,0.4D,0.5D,0.6D,0.7D,0.8D,0.9D))")
        .as("ps"))
      .select(posexplode(col("ps")).as(Seq("i", "v")))
      .select(((col("i") + 1) * 10).cast("long").as("decile"),
        TextAnalysis.roundStable(col("v"), 2).as("boundary"))
      .orderBy("decile"),
    Some("""WITH p AS (
      SELECT unnest(quantile_cont(o_totalprice,
          [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9])) AS v,
        unnest(generate_series(1, 9)) AS i
      FROM orders)
    SELECT CAST(i * 10 AS BIGINT) AS decile,
      floor(v * 100.0 + 0.5) / 100.0 AS boundary
    FROM p ORDER BY decile"""))

  /** Keyword-stuffing outliers — top-20 docs by single-token
    * dominance (max token count over total tokens: ≈1 means one word
    * repeated — the spam/SEO signal q_repetition_stats' gram view
    * complements at the unigram level). Per-doc token counts are one
    * aggregate; the dominance ratio is an exact integer pair; the cut
    * is a bounded heap with doc_id tie-break. */
  private val qKeywordStuffing = Q(
    "q_keyword_stuffing",
    (s, d) => t(s, d, "documents")
      .select(col("doc_id"),
        explode(split(lower(col("text")), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_tokens"), max("c").as("max_c"))
      .select(col("doc_id"), col("n_tokens"), col("max_c"),
        TextAnalysis.roundStable(
          col("max_c").cast("double") / col("n_tokens"), 6)
          .as("dominance"))
      .orderBy(col("dominance").desc, col("doc_id").asc)
      .limit(20),
    Some("""WITH tk AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents),
    tc AS (SELECT doc_id, tok, count(*) AS c FROM tk GROUP BY 1, 2),
    a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        CAST(max(c) AS BIGINT) AS max_c
      FROM tc GROUP BY 1)
    SELECT doc_id, n_tokens, max_c,
      floor(CAST(max_c AS DOUBLE) / n_tokens * 1000000.0 + 0.5)
        / 1000000.0 AS dominance
    FROM a ORDER BY dominance DESC, doc_id ASC LIMIT 20"""))

  /** Returns rate by ship month — share of lines and revenue flagged
    * 'R' (the quality-of-sales trend line; pairs with q_mix_shift for
    * "did something break this month?"). One lineitem aggregate with
    * conditional integer counts and DECIMAL revenue, month-bounded
    * output. */
  private val qReturnsRate = Q(
    "q_returns_rate",
    (s, d) => t(s, d, "lineitem")
      .groupBy(trunc(to_date(col("l_shipdate")), "month").as("month"))
      .agg(count(lit(1)).as("n_lines"),
        sum((col("l_returnflag") === "R").cast("long")).as("n_returned"),
        sum(col("l_extendedprice").cast("decimal(18,6)")).as("rev"),
        sum(when(col("l_returnflag") === "R",
          col("l_extendedprice")).otherwise(lit(0.0))
          .cast("decimal(18,6)")).as("rrev"))
      .select(col("month"), col("n_lines"), col("n_returned"),
        TextAnalysis.roundStable(
          col("n_returned").cast("double") / col("n_lines"), 6)
          .as("line_return_rate"),
        TextAnalysis.roundStable(
          col("rrev").cast("double") / col("rev").cast("double"), 6)
          .as("rev_return_rate"))
      .orderBy("month"),
    Some("""SELECT date_trunc('month', CAST(l_shipdate AS DATE))
        AS month,
      count(*) AS n_lines,
      CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        AS BIGINT) AS n_returned,
      floor(CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
          AS DOUBLE) / count(*) * 1000000.0 + 0.5) / 1000000.0
        AS line_return_rate,
      floor(CAST(sum(CAST(CASE WHEN l_returnflag = 'R'
            THEN l_extendedprice ELSE 0.0 END AS DECIMAL(18,6)))
          AS DOUBLE)
          / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
        * 1000000.0 + 0.5) / 1000000.0 AS rev_return_rate
    FROM lineitem GROUP BY 1 ORDER BY month"""))

  /** Hour-of-day traffic profile per event type — counts and share of
    * the type's volume per hour (the intra-day twin of q_weekday_
    * profile; sizes rate limits and batch windows). One aggregate to
    * the 24×|types| grid; shares ride a type-partitioned window over
    * that bounded grid. */
  private val qHourlyProfile = Q(
    "q_hourly_profile",
    (s, d) => {
      val g = t(s, d, "events")
        .groupBy(col("event_type"), hour(col("ts")).cast("long").as("hr"))
        .agg(count(lit(1)).as("n"))
      g.withColumn("tot", sum("n").over(Window.partitionBy("event_type")))
        .select(col("event_type"), col("hr"), col("n"),
          TextAnalysis.roundStable(
            col("n").cast("double") / col("tot"), 6).as("share"))
        .orderBy("event_type", "hr")
    },
    Some("""WITH g AS (
      SELECT event_type,
        CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS hr,
        count(*) AS n
      FROM events GROUP BY 1, 2)
    SELECT event_type, hr, n,
      floor(CAST(n AS DOUBLE)
          / CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT)
        * 1000000.0 + 0.5) / 1000000.0 AS share
    FROM g ORDER BY event_type, hr"""))

  /** Supplier-concentration risk — how many parts are single-sourced,
    * and the revenue share riding the top supplier per part (the
    * supply-chain fragility audit; the "one vendor away from a
    * stockout" number). Per-(part, supplier) revenue is one
    * co-grouped aggregate; per-part totals/max fold in a second
    * part-keyed pass — both map-side combined; the closing report is
    * one row. */
  private val qSupplierShare = Q(
    "q_supplier_share",
    (s, d) => {
      val ps = t(s, d, "lineitem")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,6)")).as("r"))
      val perPart = ps.groupBy("l_partkey")
        .agg(count(lit(1)).as("n_supp"), sum("r").as("tot"),
          max("r").as("mx"))
      perPart.agg(count(lit(1)).as("n_parts"),
          sum((col("n_supp") === 1).cast("long")).as("single_sourced"),
          sum("tot").as("rev"),
          sum(when(col("n_supp") === 1, col("tot"))
            .otherwise(lit(0.0).cast("decimal(18,6)"))).as("srev"))
        .select(col("n_parts"), col("single_sourced"),
          TextAnalysis.roundStable(
            col("single_sourced").cast("double") / col("n_parts"), 6)
            .as("single_share"),
          TextAnalysis.roundStable(
            col("srev").cast("double") / col("rev").cast("double"), 6)
            .as("single_rev_share"))
    },
    Some("""WITH ps AS (
      SELECT l_partkey, l_suppkey,
        sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS r
      FROM lineitem GROUP BY 1, 2),
    pp AS (SELECT l_partkey, count(*) AS n_supp, sum(r) AS tot
      FROM ps GROUP BY 1)
    SELECT count(*) AS n_parts,
      CAST(sum(CASE WHEN n_supp = 1 THEN 1 ELSE 0 END) AS BIGINT)
        AS single_sourced,
      floor(CAST(sum(CASE WHEN n_supp = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        / count(*) * 1000000.0 + 0.5) / 1000000.0 AS single_share,
      floor(CAST(sum(CASE WHEN n_supp = 1 THEN tot ELSE 0 END)
          AS DOUBLE)
        / CAST(sum(tot) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
        AS single_rev_share
    FROM pp"""))

  /** Document-level token co-occurrence PMI — top-25 word pairs that
    * appear in the same document far more often than chance
    * (q_bigram_pmi's ADJACENCY constraint relaxed to the whole doc —
    * the word-association signal topic models start from). Distinct
    * (doc, token) pairs explode row-locally into per-doc pair sets
    * (the q_event_pairs shape — never a token×token shuffle product);
    * marginal doc frequencies broadcast back; PMI closes per pair.
    * At web scale the df table is pruned to the top-k vocabulary
    * first — here the vocabulary is bounded by construction. */
  private val qCooccurPmi = Q(
    "q_cooccur_pmi",
    (s, d) => {
      val dt = t(s, d, "documents")
        .select(col("doc_id"),
          array_distinct(split(lower(col("text")), " ")).as("toks"))
      val pairs = dt
        .select(col("doc_id"), explode(col("toks")).as("a"), col("toks"))
        .select(col("a"), explode(col("toks")).as("b"))
        .filter(col("a") < col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("nab"))
      val df = dt.select(explode(col("toks")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("df"))
      val nDocs = dt.agg(count(lit(1)).as("nd"))
      pairs
        .join(broadcast(df.select(col("tok").as("a"),
          col("df").as("da"))), "a")
        .join(broadcast(df.select(col("tok").as("b"),
          col("df").as("db"))), "b")
        .crossJoin(broadcast(nDocs))
        .filter(col("nab") >= 5)
        .select(col("a"), col("b"), col("nab"),
          TextAnalysis.roundStable(
            log2(col("nab").cast("double") * col("nd") /
              (col("da").cast("double") * col("db"))), 4).as("pmi"))
        .orderBy(col("pmi").desc, col("a").asc, col("b").asc)
        .limit(25)
    },
    Some("""WITH dt AS (
      SELECT doc_id, list_distinct(string_split(lower(text), ' '))
        AS toks
      FROM documents),
    pr AS (SELECT a, b, count(*) AS nab FROM (
      SELECT doc_id, unnest(toks) AS a, toks FROM dt), LATERAL (
        SELECT unnest(toks) AS b)
      WHERE a < b GROUP BY 1, 2),
    df AS (SELECT tok, count(*) AS df FROM (
      SELECT unnest(toks) AS tok FROM dt) GROUP BY 1),
    nd AS (SELECT count(*) AS nd FROM dt)
    SELECT a, b, nab,
      floor(log2(nab * 1.0 * nd / (da.df * 1.0 * db.df))
        * 10000.0 + 0.5) / 10000.0 AS pmi
    FROM pr
    JOIN df da ON da.tok = a
    JOIN df db ON db.tok = b, nd
    WHERE nab >= 5
    ORDER BY pmi DESC, a ASC, b ASC LIMIT 25"""))

  /** Catalog coverage by brand — share of parts with at least one
    * sale, plus revenue per active part (the dead-stock audit; the
    * analytics face of q_join_anti's never-sold semantics). Sold
    * parts fold from lineitem (part-keyed, map-side combined); the
    * catalog side is the part dim; the left join + brand rollup is
    * brand-bounded. */
  private val qCatalogCoverage = Q(
    "q_catalog_coverage",
    (s, d) => {
      val sold = t(s, d, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,6)")).as("r"))
      t(s, d, "part")
        .select(col("p_partkey"), col("p_brand"))
        .join(sold, col("p_partkey") === col("l_partkey"), "left")
        .groupBy(col("p_brand").as("brand"))
        .agg(count(lit(1)).as("n_parts"),
          sum(col("r").isNotNull.cast("long")).as("n_active"),
          sum(coalesce(col("r"), lit(0.0).cast("decimal(18,6)")))
            .as("rev"))
        .select(col("brand"), col("n_parts"), col("n_active"),
          TextAnalysis.roundStable(
            col("n_active").cast("double") / col("n_parts"), 6)
            .as("active_share"),
          TextAnalysis.roundStable(
            when(col("n_active") > 0,
              col("rev").cast("double") / col("n_active")), 2)
            .as("rev_per_active"))
        .orderBy("brand")
    },
    Some("""WITH sold AS (
      SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(18,6)))
        AS r
      FROM lineitem GROUP BY 1)
    SELECT p_brand AS brand, count(*) AS n_parts,
      CAST(sum(CASE WHEN r IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS n_active,
      floor(CAST(sum(CASE WHEN r IS NOT NULL THEN 1 ELSE 0 END)
          AS DOUBLE) / count(*) * 1000000.0 + 0.5) / 1000000.0
        AS active_share,
      CASE WHEN sum(CASE WHEN r IS NOT NULL THEN 1 ELSE 0 END) > 0 THEN
        floor(CAST(sum(coalesce(r, 0)) AS DOUBLE)
            / sum(CASE WHEN r IS NOT NULL THEN 1 ELSE 0 END)
          * 100.0 + 0.5) / 100.0 END AS rev_per_active
    FROM part LEFT JOIN sold ON p_partkey = l_partkey
    GROUP BY 1 ORDER BY brand"""))

  /** Label separation matrix — pairwise cosine between label
    * centroids (are the classes separable, or do two labels share a
    * direction? — the sanity gate before q_knn_label-style
    * classification). Centroids are per-(label, dim) averages rounded
    * to 6 dp BEFORE the cosine (both engines compute the similarity
    * from IDENTICAL rounded inputs — the float-sum caveat confined to
    * one rounded stage, q_label_centroids' contract); the pair matrix
    * is labels²-bounded, assembled row-locally from dim-sorted
    * arrays. */
  private val qLabelSeparation = Q(
    "q_label_separation",
    (s, d) => {
      val cent = t(s, d, "embeddings")
        .select(col("label"), posexplode(col("embedding"))
          .as(Seq("dim", "x")))
        .groupBy("label", "dim")
        .agg(round(avg(col("x").cast("double")), 6).as("c"))
      val vecs = cent.groupBy("label")
        .agg(array_sort(collect_list(struct(col("dim"), col("c"))))
          .as("sc"))
        .select(col("label"),
          expr("transform(sc, s -> s.c)").as("v"))
      val dot = expr("aggregate(zip_with(a.v, b.v, (x, y) -> x * y), " +
        "0D, (acc, x) -> acc + x)")
      val nrm = (side: String) => sqrt(expr(
        s"aggregate($side.v, 0D, (acc, x) -> acc + x * x)"))
      vecs.as("a").join(vecs.as("b"),
          col("a.label") < col("b.label"))
        .select(col("a.label").as("label_a"),
          col("b.label").as("label_b"),
          TextAnalysis.roundStable(
            dot / (nrm("a") * nrm("b")), 6).as("cos_sim"))
        .orderBy("label_a", "label_b")
    },
    Some("""WITH c AS (
      SELECT label, s.i AS dim, round(avg(s.v), 6) AS c
      FROM (
        SELECT label,
          unnest(list_transform(embedding,
            (x, i) -> {'i': i, 'v': CAST(x AS DOUBLE)})) AS s
        FROM embeddings)
      GROUP BY label, s.i),
    v AS (SELECT label, list(c ORDER BY dim) AS v FROM c GROUP BY 1)
    SELECT a.label AS label_a, b.label AS label_b,
      floor(list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v))
            * sqrt(list_dot_product(b.v, b.v))) * 1000000.0 + 0.5)
        / 1000000.0 AS cos_sim
    FROM v a JOIN v b ON a.label < b.label
    ORDER BY label_a, label_b"""))

  /** Duplicate-cluster source spread — do exact-dup clusters stay
    * inside one feed or straddle several? (the exact-cluster twin of
    * q_cross_source_dup's near-dup matrix; cross-feed clusters mean
    * syndication, same-feed clusters mean re-crawls — different
    * fixes). Digest-keyed cluster aggregate with a distinct-source
    * count, then a bounded (size is small-integer) histogram. Only
    * multi-doc clusters counted. */
  private val qClusterSpread = Q(
    "q_cluster_spread",
    (s, d) => {
      val key = md5(concat_ws(" ",
        sort_array(array_distinct(split(col("text"), " ")))))
      val clusters = t(s, d, "documents")
        .select(col("source"), key.as("h"))
        .groupBy("h")
        .agg(count(lit(1)).as("sz"),
          countDistinct("source").as("n_sources"))
        .filter(col("sz") >= 2)
      clusters.groupBy("n_sources")
        .agg(count(lit(1)).as("n_clusters"),
          sum("sz").as("n_docs"))
        .withColumn("tot", sum("n_clusters").over(Window.partitionBy()))
        .select(col("n_sources"), col("n_clusters"), col("n_docs"),
          TextAnalysis.roundStable(
            col("n_clusters").cast("double") / col("tot"), 6)
            .as("cluster_share"))
        .orderBy("n_sources")
    },
    Some("""WITH c AS (
      SELECT md5(array_to_string(
          list_sort(list_distinct(string_split(text, ' '))), ' ')) AS h,
        count(*) AS sz, count(DISTINCT source) AS n_sources
      FROM documents GROUP BY 1 HAVING count(*) >= 2),
    g AS (SELECT n_sources, count(*) AS n_clusters,
        CAST(sum(sz) AS BIGINT) AS n_docs
      FROM c GROUP BY 1)
    SELECT n_sources, n_clusters, n_docs,
      floor(CAST(n_clusters AS DOUBLE)
          / CAST(sum(n_clusters) OVER () AS BIGINT) * 1000000.0 + 0.5)
        / 1000000.0 AS cluster_share
    FROM g ORDER BY n_sources"""))

  /** Engagement tiers — users bucketed by distinct active days
    * (heavy ≥28 / regular 25–27 / light 23–24 / rare <23 — cuts
    * placed at this corpus's activity quantiles), with each
    * tier's mean events-per-active-day (the habit-strength
    * segmentation growth dashboards key on; q_rfm is the revenue-
    * weighted cousin on orders). One user-keyed aggregate (distinct
    * days + event count), a tier CASE on integers, tier-bounded
    * rollup with exact integer-ratio intensity. */
  private val qLifecycleStages = Q(
    "q_lifecycle_stages",
    (s, d) => {
      val u = t(s, d, "events")
        .groupBy("user_id")
        .agg(countDistinct(to_date(col("ts"))).as("active_days"),
          count(lit(1)).as("n_events"))
        .withColumn("tier",
          when(col("active_days") >= 28, lit("1_heavy"))
            .when(col("active_days") >= 25, lit("2_regular"))
            .when(col("active_days") >= 23, lit("3_light"))
            .otherwise(lit("4_rare")))
      u.groupBy("tier")
        .agg(count(lit(1)).as("n_users"),
          sum("n_events").as("n_events"),
          TextAnalysis.roundStable(
            sum("n_events").cast("double") / sum("active_days"), 2)
            .as("events_per_day"))
        .withColumn("tot", sum("n_users").over(Window.partitionBy()))
        .select(col("tier"), col("n_users"),
          TextAnalysis.roundStable(
            col("n_users").cast("double") / col("tot"), 6)
            .as("user_share"),
          col("n_events"), col("events_per_day"))
        .orderBy("tier")
    },
    Some("""WITH u AS (
      SELECT user_id,
        count(DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE))
          AS active_days,
        count(*) AS n_events
      FROM events GROUP BY 1),
    st AS (SELECT n_events, active_days,
        CASE
          WHEN active_days >= 28 THEN '1_heavy'
          WHEN active_days >= 25 THEN '2_regular'
          WHEN active_days >= 23 THEN '3_light'
          ELSE '4_rare' END AS tier
      FROM u),
    g AS (SELECT tier, count(*) AS n_users,
        CAST(sum(n_events) AS BIGINT) AS n_events,
        floor(CAST(sum(n_events) AS DOUBLE) / sum(active_days)
          * 100.0 + 0.5) / 100.0 AS events_per_day
      FROM st GROUP BY 1)
    SELECT tier, n_users,
      floor(CAST(n_users AS DOUBLE)
          / CAST(sum(n_users) OVER () AS BIGINT) * 1000000.0 + 0.5)
        / 1000000.0 AS user_share,
      n_events, events_per_day
    FROM g ORDER BY tier"""))

  /** Spike days — days that are a LOCAL maximum (above both
    * neighboring days) AND above the series mean (q_anomaly_days'
    * σ-rule catches level outliers; this catches shape — the
    * release-day / recurring-peak pattern). Neighbor comparison is
    * two lags on the bounded daily table; the mean gate compares
    * n·K > S in INTEGER arithmetic (no float threshold). */
  private val qPeakDays = Q(
    "q_peak_days",
    (s, d) => {
      val daily = t(s, d, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val wd = Window.orderBy("day")
      val tot = daily.agg(count(lit(1)).as("k"), sum("n").as("sn"))
      daily
        .withColumn("prev", lag(col("n"), 1).over(wd))
        .withColumn("nxt", lead(col("n"), 1).over(wd))
        .crossJoin(broadcast(tot))
        .filter(col("prev").isNotNull && col("nxt").isNotNull &&
          col("n") > col("prev") && col("n") > col("nxt") &&
          col("n") * col("k") > col("sn"))
        .select(col("day"), col("n"),
          TextAnalysis.roundStable(
            col("n") * col("k") / col("sn").cast("double"), 4)
            .as("vs_mean"))
        .orderBy("day")
    },
    Some("""WITH daily AS (
      SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, count(*) AS n
      FROM events GROUP BY 1),
    lg AS (SELECT day, n,
        lag(n) OVER (ORDER BY day) AS prev,
        lead(n) OVER (ORDER BY day) AS nxt
      FROM daily),
    tot AS (SELECT count(*) AS k, CAST(sum(n) AS BIGINT) AS sn
      FROM daily)
    SELECT day, n,
      floor(n * k / CAST(sn AS DOUBLE) * 10000.0 + 0.5) / 10000.0
        AS vs_mean
    FROM lg, tot
    WHERE prev IS NOT NULL AND nxt IS NOT NULL
      AND n > prev AND n > nxt AND n * k > sn
    ORDER BY day"""))

  /** Gram document-frequency histogram — log2-binned df of distinct
    * 5-gram hashes (how boilerplate-heavy is the corpus at the gram
    * level — the distribution behind q_dup_ngram_frac's per-doc
    * number and the hot-shingle skew the dedup joins must survive).
    * Fused-distinct hashes → gram-keyed df (map-side combined) →
    * ≤64-bin histogram via the exact integer bin-length bucket. */
  private val qGramDfHist = Q(
    "q_gram_df_hist",
    (s, d) => {
      val df = Dedup.hashedShingleRowsDistinct(t(s, d, "documents"), 5)
        .groupBy("s").agg(count(lit(1)).as("df"))
      df.groupBy((length(bin(col("df"))) - 1).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_grams"), sum("df").as("gram_mass"))
        .withColumn("tot", sum("n_grams").over(Window.partitionBy()))
        .select(col("bucket"),
          pow(lit(2.0), col("bucket")).cast("long").as("df_lo"),
          col("n_grams"), col("gram_mass"),
          TextAnalysis.roundStable(
            col("n_grams").cast("double") / col("tot"), 6)
            .as("gram_share"))
        .orderBy("bucket")
    },
    Some("""WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
    g AS (
      SELECT DISTINCT doc_id, unnest(CASE WHEN len(t) >= 5
        THEN list_transform(range(1, len(t) - 3),
          i -> array_to_string(t[i:i+4], ' '))
        ELSE []::VARCHAR[] END) AS s
      FROM toks),
    df AS (SELECT s, count(*) AS df FROM g GROUP BY 1),
    h AS (SELECT CAST(length(printf('%b', df)) - 1 AS BIGINT)
        AS bucket, count(*) AS n_grams, CAST(sum(df) AS BIGINT)
        AS gram_mass
      FROM df GROUP BY 1)
    SELECT bucket, CAST(power(2, bucket) AS BIGINT) AS df_lo,
      n_grams, gram_mass,
      floor(CAST(n_grams AS DOUBLE)
          / CAST(sum(n_grams) OVER () AS BIGINT) * 1000000.0 + 0.5)
        / 1000000.0 AS gram_share
    FROM h ORDER BY bucket"""))

  /** Simplified silhouette per label — mean over vectors of
    * (b − a)/max(a, b) with a = cosine distance to OWN label
    * centroid, b = distance to the NEAREST other centroid (the
    * clustering-quality score; q_label_separation compares centroids
    * to each other, this asks whether the VECTORS agree). Centroids
    * are rounded 6 dp first (identical inputs both engines), sorted
    * into arrays, broadcast; every per-vector distance folds
    * row-locally in fixed array order; per-vector silhouette is
    * quantized to 1e−6 BIGINTs so the per-label mean is an exact
    * integer ratio. */
  private val qSilhouette = Q(
    "q_silhouette",
    (s, d) => {
      val cent = t(s, d, "embeddings")
        .select(col("label"), posexplode(col("embedding"))
          .as(Seq("dim", "x")))
        .groupBy("label", "dim")
        .agg(round(avg(col("x").cast("double")), 6).as("c"))
        .groupBy("label")
        .agg(array_sort(collect_list(struct(col("dim"), col("c"))))
          .as("sc"))
        .select(col("label").as("clabel"),
          expr("transform(sc, s -> s.c)").as("cv"))
      val dist = expr(
        "1.0D - aggregate(zip_with(ev, cv, (x, y) -> x * y), 0D, " +
          "(acc, x) -> acc + x) / " +
          "(sqrt(aggregate(ev, 0D, (acc, x) -> acc + x * x)) * " +
          "sqrt(aggregate(cv, 0D, (acc, x) -> acc + x * x)))")
      val perPair = t(s, d, "embeddings")
        .select(col("vec_id"), col("label"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("ev"))
        .crossJoin(broadcast(cent))
        .select(col("vec_id"), col("label"), col("clabel"),
          dist.as("dst"))
      val perVec = perPair.groupBy("vec_id", "label")
        .agg(min(when(col("label") === col("clabel"), col("dst")))
          .as("a"),
          min(when(col("label") =!= col("clabel"), col("dst"))).as("b"))
        .select(col("label"),
          floor((col("b") - col("a")) / greatest(col("a"), col("b"))
            * 1000000 + 0.5).cast("long").as("silq"))
      perVec.groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          TextAnalysis.roundStable(
            sum("silq").cast("double") / count(lit(1)) / 1000000.0, 4)
            .as("mean_silhouette"))
        .orderBy("label")
    },
    Some("""WITH c AS (
      SELECT label AS clabel, s.i AS dim, round(avg(s.v), 6) AS c
      FROM (
        SELECT label,
          unnest(list_transform(embedding,
            (x, i) -> {'i': i, 'v': CAST(x AS DOUBLE)})) AS s
        FROM embeddings)
      GROUP BY clabel, s.i),
    cv AS (SELECT clabel, list(c ORDER BY dim) AS cv FROM c GROUP BY 1),
    ev AS (SELECT vec_id, label,
        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
      FROM embeddings),
    pp AS (SELECT vec_id, label, clabel,
        1.0 - list_dot_product(ev, cv)
          / (sqrt(list_dot_product(ev, ev))
            * sqrt(list_dot_product(cv, cv))) AS dst
      FROM ev, cv),
    pv AS (SELECT vec_id, label,
        min(CASE WHEN label = clabel THEN dst END) AS a,
        min(CASE WHEN label <> clabel THEN dst END) AS b
      FROM pp GROUP BY 1, 2),
    sq AS (SELECT label,
        CAST(floor((b - a) / greatest(a, b) * 1000000 + 0.5) AS BIGINT)
          AS silq
      FROM pv)
    SELECT label, count(*) AS n_vecs,
      floor(CAST(sum(silq) AS DOUBLE) / count(*) / 1000000.0
        * 10000.0 + 0.5) / 10000.0 AS mean_silhouette
    FROM sq GROUP BY 1 ORDER BY label"""))

  /** Lorenz curve — revenue share held by each customer decile,
    * ranked richest-first (the curve behind q_gini's scalar; equality
    * = flat 10% steps). Deciles come from [[Ranking.globalRank]]
    * (histogram rank — no corpus sort) with an exact integer decile
    * index; per-decile DECIMAL revenue rolls up to 10 rows, and the
    * cumulative share rides that bounded table. */
  private val qLorenz = Q(
    "q_lorenz",
    (s, d) => {
      val rev = t(s, d, "orders").groupBy("o_custkey")
        .agg(sum(col("o_totalprice").cast("decimal(18,6)")).as("rev"))
      val n = rev.agg(count(lit(1)).as("n"))
      val ranked = Ranking.globalRank(rev, col("rev"), col("o_custkey"),
        valueAscending = false, rankName = "rn")
      val dec = ranked.crossJoin(broadcast(n))
        .withColumn("decile", expr("((rn - 1) * 10) div n + 1"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_customers"), sum("rev").as("drev"))
      val tot = rev.agg(sum("rev").as("tot"))
      dec
        .withColumn("cum", sum("drev").over(Window.orderBy("decile")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .crossJoin(broadcast(tot))
        .select(col("decile"), col("n_customers"),
          TextAnalysis.roundStable(
            col("drev").cast("double") / col("tot").cast("double"), 6)
            .as("rev_share"),
          TextAnalysis.roundStable(
            col("cum").cast("double") / col("tot").cast("double"), 6)
            .as("cum_share"))
        .orderBy("decile")
    },
    Some("""WITH rev AS (
      SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,6))) AS rev
      FROM orders GROUP BY 1),
    rk AS (SELECT rev, row_number() OVER (ORDER BY rev DESC,
        o_custkey ASC) AS rn FROM rev),
    n AS (SELECT count(*) AS n FROM rev),
    dec AS (SELECT ((rn - 1) * 10) // n.n + 1 AS decile,
        count(*) AS n_customers, sum(rev) AS drev
      FROM rk, n GROUP BY 1),
    tot AS (SELECT sum(rev) AS tot FROM rev)
    SELECT decile, n_customers,
      floor(CAST(drev AS DOUBLE) / CAST(tot AS DOUBLE)
        * 1000000.0 + 0.5) / 1000000.0 AS rev_share,
      floor(CAST(sum(drev) OVER (ORDER BY decile
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        / CAST(tot AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
        AS cum_share
    FROM dec, tot ORDER BY decile"""))

  /** Week-over-week growth per event type — volume growth rate
    * chained across ISO weeks (q_top_movers day-grade, promoted to
    * the reporting grain; q_trend fits one line, this shows each
    * step — the corpus spans one calendar month, so week is the
    * natural reporting grain). Week×type grid from one aggregate;
    * the lag rides per-type ordered windows over the bounded grid;
    * growth is one closing division on integers. */
  private val qMomGrowth = Q(
    "q_wow_growth",
    (s, d) => {
      val m = t(s, d, "events")
        .groupBy(col("event_type"),
          trunc(to_date(col("ts")), "week").as("week"))
        .agg(count(lit(1)).as("n"))
      val wt = Window.partitionBy("event_type").orderBy("week")
      m.withColumn("prev", lag(col("n"), 1).over(wt))
        .filter(col("prev").isNotNull)
        .select(col("event_type"), col("week"), col("n"), col("prev"),
          TextAnalysis.roundStable(
            (col("n") - col("prev")).cast("double") / col("prev"), 6)
            .as("growth"))
        .orderBy("event_type", "week")
    },
    Some("""WITH m AS (
      SELECT event_type,
        date_trunc('week', CAST(CAST(ts AS TIMESTAMP) AS DATE))
          AS week,
        count(*) AS n
      FROM events GROUP BY 1, 2),
    lg AS (SELECT event_type, week, n,
        lag(n) OVER (PARTITION BY event_type ORDER BY week) AS prev
      FROM m)
    SELECT event_type, week, n, prev,
      floor(CAST(n - prev AS DOUBLE) / prev * 1000000.0 + 0.5)
        / 1000000.0 AS growth
    FROM lg WHERE prev IS NOT NULL
    ORDER BY event_type, week"""))

  /** Inter-arrival profile per event type — mean seconds between
    * consecutive same-type events corpus-wide and the coefficient of
    * variation (CV ≈ 1 Poisson, ≪1 scheduled, ≫1 bursty — the
    * arrival-process fingerprint q_burstiness reads at day grain,
    * measured at event grain). Gaps are integer seconds from one
    * type-partitioned ordered window; moments are INTEGER power sums
    * (gap² ≤ (30 d)² ≈ 6.7e12 — e.g. 1e6 gaps stay ~1e19... so the
    * square sums accumulate in DECIMAL(38,0) to survive any scale);
    * CV closes in doubles. */
  private val qInterarrival = Q(
    "q_interarrival",
    (s, d) => {
      val w = Window.partitionBy("event_type")
        .orderBy(col("ts").asc, col("event_id").asc)
      val gaps = t(s, d, "events")
        .withColumn("gap",
          ((unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
            / lit(1000000L)).cast("long"))
        .filter(col("gap").isNotNull)
      val st = gaps.groupBy("event_type").agg(
        count(lit(1)).as("k"),
        sum(col("gap").cast("decimal(38,0)")).as("sg"),
        sum((col("gap").cast("decimal(38,0)") * col("gap"))).as("sgg"))
      val mean = col("sg").cast("double") / col("k")
      val varP = (col("k") * col("sgg") - col("sg") * col("sg"))
        .cast("double") / (col("k").cast("double") * col("k"))
      st.select(col("event_type"), col("k").as("n_gaps"),
          TextAnalysis.roundStable(mean, 2).as("mean_gap_sec"),
          TextAnalysis.roundStable(
            when(mean > 0, sqrt(varP) / mean), 4).as("cv"))
        .orderBy("event_type")
    },
    Some("""WITH e AS (
      SELECT event_type, event_id, CAST(ts AS TIMESTAMP) AS tts
      FROM events),
    g AS (SELECT event_type,
        (epoch_us(tts) - epoch_us(lag(tts) OVER (
          PARTITION BY event_type ORDER BY tts ASC, event_id ASC)))
          // 1000000 AS gap
      FROM e),
    st AS (SELECT event_type, count(*) AS k,
        CAST(sum(CAST(gap AS HUGEINT)) AS DOUBLE) AS sg,
        CAST(sum(CAST(gap AS HUGEINT) * gap) AS DOUBLE) AS sgg
      FROM g WHERE gap IS NOT NULL GROUP BY 1)
    SELECT event_type, k AS n_gaps,
      floor(sg / k * 100.0 + 0.5) / 100.0 AS mean_gap_sec,
      CASE WHEN sg / k > 0 THEN
        floor(sqrt((k * sgg - sg * sg) / (CAST(k AS DOUBLE) * k))
          / (sg / k) * 10000.0 + 0.5) / 10000.0 END AS cv
    FROM st ORDER BY event_type"""))

  /** First-touch revenue attribution — q_attribution's mirror: each
    * purchase credits the EARLIEST preceding non-purchase touch (the
    * "which channel acquired them?" counter-read to last-touch's
    * "which channel closed?"). One first_value(IGNORE NULLS)
    * carry-forward window on the same user exchange; comparing the
    * two tables shows how much credit moves between models. */
  private val qAttributionFirst = Q(
    "q_attribution_first",
    (s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      t(s, d, "events")
        .withColumn("touch", first(
          when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .groupBy(coalesce(col("touch"), lit("(direct)")).as("channel"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(col("value").cast("decimal(18,6)")).as("revd"))
        .select(col("channel"), col("n_purchases"),
          TextAnalysis.roundStable(col("revd").cast("double"), 2)
            .as("revenue"))
        .orderBy("channel")
    },
    Some("""WITH e AS (
      SELECT user_id, event_id, event_type, value,
        CAST(ts AS TIMESTAMP) AS tts
      FROM events),
    tch AS (SELECT *,
        first_value(CASE WHEN event_type <> 'purchase' THEN event_type
          END IGNORE NULLS) OVER (PARTITION BY user_id
            ORDER BY tts ASC, event_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
      FROM e)
    SELECT COALESCE(touch, '(direct)') AS channel,
      count(*) AS n_purchases,
      floor(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        * 100.0 + 0.5) / 100.0 AS revenue
    FROM tch WHERE event_type = 'purchase'
    GROUP BY 1 ORDER BY channel"""))

  /** Dedup threshold-sensitivity curve — candidate-pair counts per
    * exact-Jaccard band (0.5–0.6 … 0.9–1.0), the tuning table read
    * BEFORE committing to q_near_dup's 0.8 (a cliff between bands
    * means the threshold is safe; a smear means it isn't).
    * [[Dedup.jaccardCandidates]] exposes the shared candidate stage
    * unfiltered; the band index is EXACT integer arithmetic
    * ((10·com) div union — no float at the boundary) and the
    * histogram folds immediately, so nothing pair-grade is ever
    * materialized. */
  private val qDedupThresholdCurve = Q(
    "q_dedup_threshold_curve",
    (s, d) => {
      val cand = Dedup.jaccardCandidates(t(s, d, "documents"), w = 5)
      cand
        .withColumn("band",
          expr("(com * 10) div (ca + cb - com)").cast("long"))
        .filter(col("band") >= 5)
        .groupBy("band")
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("i")).as("n_docs_i"))
        .select(col("band"),
          TextAnalysis.roundStable(col("band") / lit(10.0), 1)
            .as("jaccard_lo"),
          col("n_pairs"), col("n_docs_i"))
        .orderBy("band")
    },
    Some("""WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
        unnest(CASE WHEN len(t) >= 5
          THEN list_transform(range(1, len(t) - 3),
            i -> array_to_string(t[i:i+4], ' '))
          ELSE []::VARCHAR[] END) AS s
      FROM toks),
    card AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
    com AS (
      SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS com
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    bd AS (SELECT i, (com * 10) // (ca.c + cb.c - com) AS band
      FROM com
      JOIN card ca ON ca.doc_id = i
      JOIN card cb ON cb.doc_id = j)
    SELECT band, band / 10.0 AS jaccard_lo,
      count(*) AS n_pairs, count(DISTINCT i) AS n_docs_i
    FROM bd WHERE band >= 5
    GROUP BY 1 ORDER BY band"""))

  /** Segment × priority affinity — observed/expected lift for every
    * (market segment, order priority) cell (q_chi_square asks "is
    * there dependence?", this shows WHERE). Broadcast dim attach,
    * one cell aggregate, marginals via two windows over the
    * segments×priorities-bounded grid, lift = n·N/(rowN·colN) exact
    * integer inputs. */
  private val qSegmentAffinity = Q(
    "q_segment_affinity",
    (s, d) => {
      val c = t(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val cells = t(s, d, "orders")
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"),
          col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("n"))
      val wr = Window.partitionBy("segment")
      val wc = Window.partitionBy("priority")
      val wt = Window.partitionBy()
      cells
        .withColumn("rn", sum("n").over(wr))
        .withColumn("cn", sum("n").over(wc))
        .withColumn("tot", sum("n").over(wt))
        .select(col("segment"), col("priority"), col("n"),
          TextAnalysis.roundStable(
            col("n").cast("double") * col("tot") /
              (col("rn").cast("double") * col("cn")), 4).as("lift"))
        .orderBy("segment", "priority")
    },
    Some("""WITH cells AS (
      SELECT c_mktsegment AS segment, o_orderpriority AS priority,
        count(*) AS n
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2)
    SELECT segment, priority, n,
      floor(CAST(n AS DOUBLE)
          * CAST(sum(n) OVER () AS BIGINT)
          / (CAST(sum(n) OVER (PARTITION BY segment) AS DOUBLE)
            * CAST(sum(n) OVER (PARTITION BY priority) AS BIGINT))
        * 10000.0 + 0.5) / 10000.0 AS lift
    FROM cells ORDER BY segment, priority"""))

  /** Source × language composition — doc counts and within-source
    * share per (source, lang) cell (the corpus-mix panel every
    * multilingual pipeline monitors; q_mix_shift watches this drift
    * over time, this is the snapshot). One aggregate to the bounded
    * grid, share via a source-partitioned window. */
  private val qSourceLangMix = Q(
    "q_source_lang_mix",
    (s, d) => {
      val cells = t(s, d, "documents")
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"))
      cells
        .withColumn("sn", sum("n_docs").over(Window.partitionBy("source")))
        .select(col("source"), col("lang"), col("n_docs"), col("chars"),
          TextAnalysis.roundStable(
            col("n_docs").cast("double") / col("sn"), 6)
            .as("source_share"))
        .orderBy("source", "lang")
    },
    Some("""WITH cells AS (
      SELECT source, lang, count(*) AS n_docs,
        CAST(sum(n_chars) AS BIGINT) AS chars
      FROM documents GROUP BY 1, 2)
    SELECT source, lang, n_docs, chars,
      floor(CAST(n_docs AS DOUBLE)
          / CAST(sum(n_docs) OVER (PARTITION BY source) AS BIGINT)
        * 1000000.0 + 0.5) / 1000000.0 AS source_share
    FROM cells ORDER BY source, lang"""))

  /** Percent-of-parent revenue rollup — nation revenue with its share
    * of the region and the region's share of the world, in one table
    * (the drill-down BI report; q_rollup gives the totals, this the
    * ratios). Two broadcast dim hops to the bounded nation grid, then
    * two windows over that grid — the fact table shuffles once. */
  private val qShareOfParent = Q(
    "q_share_of_parent",
    (s, d) => {
      val n = t(s, d, "nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      val r = t(s, d, "region")
        .select(col("r_regionkey"), col("r_name"))
      val cust = t(s, d, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val rev = t(s, d, "orders")
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
        .agg(sum(col("o_totalprice").cast("decimal(18,6)")).as("rev"))
      rev
        .withColumn("rrev", sum("rev").over(Window.partitionBy("region")))
        .withColumn("tot", sum("rev").over(Window.partitionBy()))
        .select(col("region"), col("nation"),
          TextAnalysis.roundStable(col("rev").cast("double"), 2)
            .as("nation_rev"),
          TextAnalysis.roundStable(
            col("rev").cast("double") / col("rrev").cast("double"), 6)
            .as("share_of_region"),
          TextAnalysis.roundStable(
            col("rrev").cast("double") / col("tot").cast("double"), 6)
            .as("region_share_of_total"))
        .orderBy("region", "nation")
    },
    Some("""WITH rev AS (
      SELECT r_name AS region, n_name AS nation,
        sum(CAST(o_totalprice AS DECIMAL(18,6))) AS rev
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY 1, 2)
    SELECT region, nation,
      floor(CAST(rev AS DOUBLE) * 100.0 + 0.5) / 100.0 AS nation_rev,
      floor(CAST(rev AS DOUBLE)
          / CAST(sum(rev) OVER (PARTITION BY region) AS DOUBLE)
        * 1000000.0 + 0.5) / 1000000.0 AS share_of_region,
      floor(CAST(sum(rev) OVER (PARTITION BY region) AS DOUBLE)
          / CAST(sum(rev) OVER () AS DOUBLE) * 1000000.0 + 0.5)
        / 1000000.0 AS region_share_of_total
    FROM rev ORDER BY region, nation"""))

  /** Per-dimension embedding variance — which dimensions carry
    * signal (a PCA-lite screen: near-zero-variance dims are dead
    * weight for ANN and quantization; q_embed_norms profiles rows,
    * this profiles columns). Values quantize to 1e−6 BIGINTs at the
    * posexplode, so per-dim count/Σx/Σx² are exact integer sums
    * (DECIMAL(38,0) — micro² sums pass 2⁶³ at corpus scale);
    * variance closes in doubles over the 64-row dim table. */
  private val qDimVariance = Q(
    "q_dim_variance",
    (s, d) => {
      val st = t(s, d, "embeddings")
        .select(posexplode(col("embedding")).as(Seq("pos", "x")))
        // DuckDB's list_transform index is 1-based; posexplode is
        // 0-based — align on 1-based (the q_label_centroids contract).
        .select((col("pos") + 1).cast("long").as("dim"),
          floor(col("x").cast("double") * 1000000 + 0.5).cast("long")
            .as("xq"))
        .groupBy("dim")
        .agg(count(lit(1)).as("k"),
          sum(col("xq").cast("decimal(38,0)")).as("sx"),
          sum((col("xq").cast("decimal(38,0)") * col("xq"))).as("sxx"))
      val varP = (col("k") * col("sxx") - col("sx") * col("sx"))
        .cast("double") /
        (col("k").cast("double") * col("k")) / lit(1e12)
      st.select(col("dim"), col("k").as("n_vals"),
          TextAnalysis.roundStable(
            col("sx").cast("double") / col("k") / lit(1e6), 6)
            .as("mean"),
          TextAnalysis.roundStable(varP, 6).as("variance"))
        .orderBy("dim")
    },
    Some("""WITH x AS (
      SELECT CAST(s.i AS BIGINT) AS dim,
        CAST(floor(s.v * 1000000 + 0.5) AS BIGINT) AS xq
      FROM (
        SELECT unnest(list_transform(embedding,
          (x, i) -> {'i': i, 'v': CAST(x AS DOUBLE)})) AS s
        FROM embeddings)),
    st AS (SELECT dim, count(*) AS k,
        CAST(sum(CAST(xq AS HUGEINT)) AS DOUBLE) AS sx,
        CAST(sum(CAST(xq AS HUGEINT) * xq) AS DOUBLE) AS sxx
      FROM x GROUP BY 1)
    SELECT dim, k AS n_vals,
      floor(sx / k / 1000000.0 * 1000000.0 + 0.5) / 1000000.0 AS mean,
      floor((k * sxx - sx * sx) / (CAST(k AS DOUBLE) * k) / 1e12
        * 1000000.0 + 0.5) / 1000000.0 AS variance
    FROM st ORDER BY dim"""))

  /** Stratified-sample composition audit — per language: corpus
    * share, the share q_stratified_sample's deterministic rule
    * actually admits, and the bias between them (the check that a
    * downsampling rule hits its target mix — q_mixture_sample's
    * admission done, this is the verification report). Both
    * compositions come from ONE documents scan path each
    * (lang-bounded aggregates); the join is langs-bounded. */
  private val qSampleBias = Q(
    "q_sample_bias",
    (s, d) => {
      val w = Window.partitionBy("lang").orderBy("doc_id")
      val docs = t(s, d, "documents")
      val corpus = docs.groupBy("lang").agg(count(lit(1)).as("n_corpus"))
      val sample = docs
        .withColumn("rn", row_number().over(w))
        .filter(when(col("lang") === "en", col("rn") % 4 === 0)
          .otherwise(col("rn") % 2 === 0))
        .groupBy("lang").agg(count(lit(1)).as("n_sample"))
      val joined = corpus.join(sample, Seq("lang"), "left")
        .withColumn("n_sample", coalesce(col("n_sample"), lit(0L)))
      joined
        .withColumn("ct", sum("n_corpus").over(Window.partitionBy()))
        .withColumn("st", sum("n_sample").over(Window.partitionBy()))
        .select(col("lang"), col("n_corpus"), col("n_sample"),
          TextAnalysis.roundStable(
            col("n_corpus").cast("double") / col("ct"), 6)
            .as("corpus_share"),
          TextAnalysis.roundStable(
            col("n_sample").cast("double") / col("st"), 6)
            .as("sample_share"),
          TextAnalysis.roundStable(
            col("n_sample").cast("double") / col("st") -
              col("n_corpus").cast("double") / col("ct"), 6).as("bias"))
        .orderBy("lang")
    },
    Some("""WITH corpus AS (
      SELECT lang, count(*) AS n_corpus FROM documents GROUP BY 1),
    smp AS (SELECT lang, count(*) AS n_sample FROM (
        SELECT lang,
          row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
        FROM documents)
      WHERE CASE WHEN lang = 'en' THEN rn % 4 = 0 ELSE rn % 2 = 0 END
      GROUP BY 1),
    j AS (SELECT c.lang, n_corpus, coalesce(n_sample, 0) AS n_sample
      FROM corpus c LEFT JOIN smp ON smp.lang = c.lang)
    SELECT lang, n_corpus, n_sample,
      floor(CAST(n_corpus AS DOUBLE)
          / CAST(sum(n_corpus) OVER () AS BIGINT) * 1000000.0 + 0.5)
        / 1000000.0 AS corpus_share,
      floor(CAST(n_sample AS DOUBLE)
          / CAST(sum(n_sample) OVER () AS BIGINT) * 1000000.0 + 0.5)
        / 1000000.0 AS sample_share,
      floor((CAST(n_sample AS DOUBLE)
            / CAST(sum(n_sample) OVER () AS BIGINT)
          - CAST(n_corpus AS DOUBLE)
            / CAST(sum(n_corpus) OVER () AS BIGINT))
        * 1000000.0 + 0.5) / 1000000.0 AS bias
    FROM j ORDER BY lang"""))

  /** Log-normal fit of purchase values per event type — μ and σ of
    * ln(value) plus the implied median e^μ (heavy-tailed spend is
    * log-normal more often than normal; the fit feeding q_capping's
    * winsorization level). Logs quantize to 1e−4 BIGINTs per element
    * (the q_zipf discipline) so μ/σ come from exact integer sums;
    * e^μ is one closing transcendental from identical inputs (the
    * q_freshness_decay contract). */
  private val qLognormalFit = Q(
    "q_lognormal_fit",
    (s, d) => {
      val st = t(s, d, "events")
        .filter(col("value") > 0)
        .select(col("event_type"),
          floor(log(col("value")) * 10000 + 0.5).cast("long").as("y"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("k"), sum("y").as("sy"),
          sum(col("y") * col("y")).as("syy"))
      val mu = col("sy").cast("double") / col("k") / lit(10000.0)
      val varQ = (col("k") * col("syy") - col("sy") * col("sy"))
        .cast("double") / (col("k").cast("double") * col("k")) / lit(1e8)
      st.select(col("event_type"), col("k").as("n_pos"),
          TextAnalysis.roundStable(mu, 4).as("mu"),
          TextAnalysis.roundStable(
            when(varQ > 0, sqrt(varQ)).otherwise(lit(0.0)), 4)
            .as("sigma"),
          TextAnalysis.roundStable(exp(mu), 2).as("median_value"))
        .orderBy("event_type")
    },
    Some("""WITH y AS (
      SELECT event_type,
        CAST(floor(ln(value) * 10000 + 0.5) AS BIGINT) AS y
      FROM events WHERE value > 0),
    st AS (SELECT event_type, count(*) AS k,
        CAST(sum(y) AS BIGINT) AS sy,
        CAST(sum(y * y) AS BIGINT) AS syy
      FROM y GROUP BY 1)
    SELECT event_type, k AS n_pos,
      floor(CAST(sy AS DOUBLE) / k / 10000.0 * 10000.0 + 0.5)
        / 10000.0 AS mu,
      CASE WHEN (k * syy - sy * sy) > 0 THEN
        floor(sqrt(CAST(k * syy - sy * sy AS DOUBLE)
            / (CAST(k AS DOUBLE) * k) / 1e8) * 10000.0 + 0.5) / 10000.0
        ELSE 0.0 END AS sigma,
      floor(exp(CAST(sy AS DOUBLE) / k / 10000.0) * 100.0 + 0.5)
        / 100.0 AS median_value
    FROM st ORDER BY event_type"""))

  /** Customer tier migration — order-frequency tier (vs the half's
    * exact median) in 1995–97 crossed with the tier in 1998–2001
    * (the churn-risk transition matrix; q_rfm scores one window, this
    * compares two). Per-(user, half) counts are one aggregate;
    * median thresholds per half broadcast back; the 2×2 matrix is
    * bounded. Users absent from a half count as that half's low
    * tier (frequency 0). */
  private val qTierMigration = Q(
    "q_tier_migration",
    (s, d) => {
      val o = t(s, d, "orders")
        .select(col("o_custkey"),
          (year(col("o_orderdate")) >= 1998).cast("int").as("half"))
      val uh = o.groupBy("o_custkey").agg(
        sum(when(col("half") === 0, 1L).otherwise(0L)).as("n1"),
        sum(when(col("half") === 1, 1L).otherwise(0L)).as("n2"))
      val med = uh.agg(
        expr("percentile(n1, 0.5D)").as("m1"),
        expr("percentile(n2, 0.5D)").as("m2"))
      uh.crossJoin(broadcast(med))
        .select(
          when(col("n1").cast("double") > col("m1"), lit("high"))
            .otherwise(lit("low")).as("tier_early"),
          when(col("n2").cast("double") > col("m2"), lit("high"))
            .otherwise(lit("low")).as("tier_late"))
        .groupBy("tier_early", "tier_late")
        .agg(count(lit(1)).as("n_customers"))
        .withColumn("tot",
          sum("n_customers").over(Window.partitionBy()))
        .select(col("tier_early"), col("tier_late"), col("n_customers"),
          TextAnalysis.roundStable(
            col("n_customers").cast("double") / col("tot"), 6)
            .as("share"))
        .orderBy("tier_early", "tier_late")
    },
    Some("""WITH uh AS (
      SELECT o_custkey,
        CAST(sum(CASE WHEN year(CAST(o_orderdate AS DATE)) < 1998
          THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        CAST(sum(CASE WHEN year(CAST(o_orderdate AS DATE)) >= 1998
          THEN 1 ELSE 0 END) AS BIGINT) AS n2
      FROM orders GROUP BY 1),
    med AS (SELECT quantile_cont(n1, 0.5) AS m1,
        quantile_cont(n2, 0.5) AS m2 FROM uh),
    tiers AS (SELECT
        CASE WHEN n1 > m1 THEN 'high' ELSE 'low' END AS tier_early,
        CASE WHEN n2 > m2 THEN 'high' ELSE 'low' END AS tier_late
      FROM uh, med),
    g AS (SELECT tier_early, tier_late, count(*) AS n_customers
      FROM tiers GROUP BY 1, 2)
    SELECT tier_early, tier_late, n_customers,
      floor(CAST(n_customers AS DOUBLE)
          / CAST(sum(n_customers) OVER () AS BIGINT) * 1000000.0 + 0.5)
        / 1000000.0 AS share
    FROM g ORDER BY tier_early, tier_late"""))

  /** Growth accounting — every day's actives decomposed into new /
    * retained / resurrected, plus churned (yesterday's actives who
    * left), the canonical DAU ledger (dau_t = new + retained +
    * resurrected; churned_t = dau_{t−1} − retained_t). Per-user
    * previous-active-day is a lag on the (user, day) dedup table —
    * one user exchange; the class rollup is day-bounded and churn
    * closes from the day table's own lag. All integers. */
  private val qGrowthAccounting = Q(
    "q_growth_accounting",
    (s, d) => {
      // Repartition by user_id FIRST: hashpartitioning(user_id)
      // satisfies the (user_id, day) dedup's ClusteredDistribution
      // (subset rule) AND the per-user window — ONE exchange total
      // (the q_session_stats trick).
      val ud = t(s, d, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .repartition(col("user_id"))
        .dropDuplicates("user_id", "day")
      val wu = Window.partitionBy("user_id").orderBy("day")
      val classed = ud
        .withColumn("prev", lag(col("day"), 1).over(wu))
        .withColumn("cls",
          when(col("prev").isNull, lit("new"))
            .when(datediff(col("day"), col("prev")) === 1,
              lit("retained"))
            .otherwise(lit("resurrected")))
      val daily = classed.groupBy("day")
        .agg(count(lit(1)).as("dau"),
          sum((col("cls") === "new").cast("long")).as("new_u"),
          sum((col("cls") === "retained").cast("long")).as("retained"),
          sum((col("cls") === "resurrected").cast("long"))
            .as("resurrected"))
      val wd = Window.orderBy("day")
      daily
        .withColumn("prev_dau", lag(col("dau"), 1).over(wd))
        .select(col("day"), col("dau"), col("new_u"), col("retained"),
          col("resurrected"),
          (col("prev_dau") - col("retained")).as("churned"))
        .orderBy("day")
    },
    Some("""WITH ud AS (
      SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE)
        AS day
      FROM events),
    cl AS (SELECT day,
        CASE WHEN lag(day) OVER w IS NULL THEN 'new'
             WHEN date_diff('day', lag(day) OVER w, day) = 1
               THEN 'retained'
             ELSE 'resurrected' END AS cls
      FROM ud WINDOW w AS (PARTITION BY user_id ORDER BY day)),
    daily AS (SELECT day, count(*) AS dau,
        CAST(sum(CASE WHEN cls = 'new' THEN 1 ELSE 0 END) AS BIGINT)
          AS new_u,
        CAST(sum(CASE WHEN cls = 'retained' THEN 1 ELSE 0 END)
          AS BIGINT) AS retained,
        CAST(sum(CASE WHEN cls = 'resurrected' THEN 1 ELSE 0 END)
          AS BIGINT) AS resurrected
      FROM cl GROUP BY 1)
    SELECT day, dau, new_u, retained, resurrected,
      lag(dau) OVER (ORDER BY day) - retained AS churned
    FROM daily ORDER BY day"""))

  /** Brand price positioning — each brand's mean unit price indexed
    * to the catalog-wide mean (premium vs value positioning, the
    * pricing twin of q_brand_hhi's concentration). Unit-price sums
    * accumulate in DECIMAL per brand; the global mean derives from
    * the SAME brand aggregates (sums of sums — no second fact scan)
    * and broadcasts back; the index is one closing division. */
  private val qBrandPricePosition = Q(
    "q_brand_price_position",
    (s, d) => {
      val p = t(s, d, "part").select(col("p_partkey"), col("p_brand"))
      // The brand table feeds the report AND the global mean — persist
      // the 25-row aggregate or lineitem scans twice.
      val b = graft.operators.CacheRegistry.global.track(
        t(s, d, "lineitem")
          .filter(col("l_quantity") > 0)
          .join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand").as("brand"))
          .agg(count(lit(1)).as("n_lines"),
            sum((col("l_extendedprice") / col("l_quantity"))
              .cast("decimal(18,6)")).as("sup"))
          .persist())
      val g = b.agg(sum("sup").as("gs"), sum("n_lines").as("gn"))
      b.crossJoin(broadcast(g))
        .select(col("brand"), col("n_lines"),
          TextAnalysis.roundStable(
            col("sup").cast("double") / col("n_lines"), 4)
            .as("mean_unit_price"),
          TextAnalysis.roundStable(
            (col("sup").cast("double") / col("n_lines")) /
              (col("gs").cast("double") / col("gn")), 4)
            .as("price_index"))
        .orderBy("brand")
    },
    Some("""WITH b AS (
      SELECT p_brand AS brand, count(*) AS n_lines,
        sum(CAST(l_extendedprice / l_quantity AS DECIMAL(18,6)))
          AS sup
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_quantity > 0 GROUP BY 1),
    g AS (SELECT sum(sup) AS gs, CAST(sum(n_lines) AS BIGINT) AS gn
      FROM b)
    SELECT brand, n_lines,
      floor(CAST(sup AS DOUBLE) / n_lines * 10000.0 + 0.5) / 10000.0
        AS mean_unit_price,
      floor((CAST(sup AS DOUBLE) / n_lines)
          / (CAST(gs AS DOUBLE) / gn) * 10000.0 + 0.5) / 10000.0
        AS price_index
    FROM b, g ORDER BY brand"""))

  /** Forecast model bake-off — seasonal-naive (lag-7) vs trailing
    * 7-day mean, MAPE each and the per-type winner (the model-
    * selection table q_forecast_mape's single-model report feeds
    * into). Both predictors ride ONE type-ordered window over the
    * bounded daily table (the mean from a strictly-preceding ROWS
    * frame — no leakage); the winner compares the SAME rounded MAPEs
    * both engines computed, so no hidden float decides it. */
  private val qForecastCompare = Q(
    "q_forecast_compare",
    (s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type").orderBy("day")
      val wma = w.rowsBetween(-7, -1)
      val both = daily
        .withColumn("pn", lag(col("n"), 7).over(w))
        .withColumn("ms", sum("n").over(wma))
        .withColumn("mc", count(lit(1)).over(wma))
        .filter(col("pn").isNotNull && col("mc") === 7 && col("n") > 0)
      val st = both.groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          TextAnalysis.roundStable(
            sum(abs(col("n") - col("pn")).cast("double") / col("n")) /
              count(lit(1)) * lit(100.0), 4).as("mape_naive"),
          TextAnalysis.roundStable(
            sum(abs(col("n") - col("ms") / lit(7.0)) / col("n")) /
              count(lit(1)) * lit(100.0), 4).as("mape_ma7"))
      st.select(col("event_type"), col("n_days"), col("mape_naive"),
          col("mape_ma7"),
          when(col("mape_naive") < col("mape_ma7"), lit("naive"))
            .when(col("mape_ma7") < col("mape_naive"), lit("ma7"))
            .otherwise(lit("tie")).as("winner"))
        .orderBy("event_type")
    },
    Some("""WITH daily AS (
      SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        count(*) AS n
      FROM events GROUP BY 1, 2),
    lagged AS (SELECT event_type, n,
        lag(n, 7) OVER w AS pn,
        sum(n) OVER (w ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
          AS ms,
        count(*) OVER (w ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
          AS mc
      FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
    st AS (SELECT event_type, count(*) AS n_days,
        floor(sum(CAST(abs(n - pn) AS DOUBLE) / n) / count(*) * 100.0
          * 10000.0 + 0.5) / 10000.0 AS mape_naive,
        floor(sum(abs(n - ms / 7.0) / n) / count(*) * 100.0
          * 10000.0 + 0.5) / 10000.0 AS mape_ma7
      FROM lagged WHERE pn IS NOT NULL AND mc = 7 AND n > 0
      GROUP BY 1)
    SELECT event_type, n_days, mape_naive, mape_ma7,
      CASE WHEN mape_naive < mape_ma7 THEN 'naive'
           WHEN mape_ma7 < mape_naive THEN 'ma7'
           ELSE 'tie' END AS winner
    FROM st ORDER BY event_type"""))

  /** Duplicate-vs-unique quality — mean quality score and char length
    * of docs inside exact-dup clusters vs singletons (the empirical
    * "duplicates are low-quality boilerplate" check that motivates
    * dedup-before-quality-filter ordering). Digest-keyed cluster
    * sizes join back on the digest; the two-row report folds integer
    * counts and 4-dp-exact quality sums. */
  private val qDupQuality = Q(
    "q_dup_quality",
    (s, d) => {
      val key = md5(concat_ws(" ",
        sort_array(array_distinct(split(col("text"), " ")))))
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("n_chars"),
          TextAnalysis.qualityScore(col("text")).as("q"), key.as("h"))
      val sizes = docs.groupBy("h").agg(count(lit(1)).as("sz"))
      docs.join(sizes, "h")
        .withColumn("grp",
          when(col("sz") >= 2, lit("duplicated")).otherwise(lit("unique")))
        .groupBy("grp")
        .agg(count(lit(1)).as("n_docs"),
          TextAnalysis.roundStable(
            sum("q") / count(lit(1)), 4).as("mean_quality"),
          TextAnalysis.roundStable(
            sum("n_chars").cast("double") / count(lit(1)), 2)
            .as("mean_chars"))
        .orderBy("grp")
    },
    Some("""WITH q AS (
      SELECT doc_id, n_chars,
        md5(array_to_string(
          list_sort(list_distinct(string_split(text, ' '))), ' ')) AS h,
        len(string_split(lower(text), ' ')) AS n_tok,
        len(list_filter(string_split(lower(text), ' '),
          x -> x IN ('the','and','of','to','a','in','is'))) AS n_stop,
        len(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))
          AS n_punct,
        len(text) AS n_char
      FROM documents),
    sc AS (SELECT doc_id, n_chars, h,
        floor((least(n_tok, 100) / 100.0 * 0.4
          + (n_stop * 1.0 / n_tok) * 0.3
          + (1.0 - n_punct * 1.0 / n_char) * 0.3)
          * 10000.0 + 0.5) / 10000.0 AS q
      FROM q),
    sz AS (SELECT h, count(*) AS sz FROM sc GROUP BY 1),
    g AS (SELECT CASE WHEN sz >= 2 THEN 'duplicated' ELSE 'unique' END
        AS grp, q, n_chars
      FROM sc JOIN sz USING (h))
    SELECT grp, count(*) AS n_docs,
      floor(sum(q) / count(*) * 10000.0 + 0.5) / 10000.0
        AS mean_quality,
      floor(CAST(sum(n_chars) AS DOUBLE) / count(*) * 100.0 + 0.5)
        / 100.0 AS mean_chars
    FROM g GROUP BY 1 ORDER BY grp"""))

  /** Order-value bands per market segment — exact p25/p50/p75 and the
    * IQR-normalized spread per segment (the per-segment pricing-tier
    * read; q_value_deciles is the global banding). One broadcast dim
    * attach, one segment aggregate with a percentile ARRAY — single
    * pass, map-side combined. */
  private val qSegmentValueBands = Q(
    "q_segment_value_bands",
    (s, d) => {
      val c = t(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      t(s, d, "orders")
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n_orders"),
          expr("percentile(o_totalprice, array(0.25D, 0.5D, 0.75D))")
            .as("ps"))
        .select(col("segment"), col("n_orders"),
          TextAnalysis.roundStable(col("ps").getItem(0), 2).as("p25"),
          TextAnalysis.roundStable(col("ps").getItem(1), 2).as("p50"),
          TextAnalysis.roundStable(col("ps").getItem(2), 2).as("p75"),
          TextAnalysis.roundStable(
            (col("ps").getItem(2) - col("ps").getItem(0)) /
              col("ps").getItem(1), 4).as("iqr_ratio"))
        .orderBy("segment")
    },
    Some("""WITH j AS (
      SELECT c_mktsegment AS segment, o_totalprice
      FROM orders JOIN customer ON o_custkey = c_custkey)
    SELECT segment, count(*) AS n_orders,
      floor(quantile_cont(o_totalprice, 0.25) * 100.0 + 0.5) / 100.0
        AS p25,
      floor(quantile_cont(o_totalprice, 0.5) * 100.0 + 0.5) / 100.0
        AS p50,
      floor(quantile_cont(o_totalprice, 0.75) * 100.0 + 0.5) / 100.0
        AS p75,
      floor((quantile_cont(o_totalprice, 0.75)
          - quantile_cont(o_totalprice, 0.25))
        / quantile_cont(o_totalprice, 0.5) * 10000.0 + 0.5) / 10000.0
        AS iqr_ratio
    FROM j GROUP BY 1 ORDER BY segment"""))

  /** Centroid stability — per label, the cosine between centroids
    * fitted on the even-id and odd-id halves of its vectors (the
    * split-half reliability check: an unstable centroid means the
    * label needs more data before q_knn_label/q_silhouette are
    * trustworthy). Each half-centroid is a (label, dim) average
    * rounded 6 dp (identical inputs both engines — the
    * q_label_centroids contract); the cosine folds row-locally over
    * dim-sorted arrays; labels-bounded everywhere after the
    * per-dim aggregate. */
  private val qCentroidStability = Q(
    "q_centroid_stability",
    (s, d) => {
      val halves = t(s, d, "embeddings")
        .select(col("label"), (col("vec_id") % 2).cast("int").as("half"),
          posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy("label", "half", "dim")
        .agg(round(avg(col("x").cast("double")), 6).as("c"))
        .groupBy("label", "half")
        .agg(array_sort(collect_list(struct(col("dim"), col("c"))))
          .as("sc"))
        .select(col("label"), col("half"),
          expr("transform(sc, s -> s.c)").as("v"))
      val dot = expr("aggregate(zip_with(a.v, b.v, (x, y) -> x * y), " +
        "0D, (acc, x) -> acc + x)")
      val nrm = (side: String) => sqrt(expr(
        s"aggregate($side.v, 0D, (acc, x) -> acc + x * x)"))
      halves.filter(col("half") === 0).as("a")
        .join(halves.filter(col("half") === 1).as("b"),
          col("a.label") === col("b.label"))
        .select(col("a.label").as("label"),
          TextAnalysis.roundStable(
            dot / (nrm("a") * nrm("b")), 6).as("split_cosine"))
        .orderBy("label")
    },
    Some("""WITH c AS (
      SELECT label, vec_id % 2 AS half, s.i AS dim,
        round(avg(s.v), 6) AS c
      FROM (
        SELECT label, vec_id,
          unnest(list_transform(embedding,
            (x, i) -> {'i': i, 'v': CAST(x AS DOUBLE)})) AS s
        FROM embeddings)
      GROUP BY label, half, s.i),
    v AS (SELECT label, half, list(c ORDER BY dim) AS v
      FROM c GROUP BY 1, 2)
    SELECT a.label,
      floor(list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v))
            * sqrt(list_dot_product(b.v, b.v))) * 1000000.0 + 0.5)
        / 1000000.0 AS split_cosine
    FROM v a JOIN v b ON a.label = b.label
      AND a.half = 0 AND b.half = 1
    ORDER BY a.label"""))

  /** Vocabulary coverage — share of corpus token MASS covered by the
    * top-10 / top-100 / top-1000 terms (the tokenizer-budget curve:
    * how big a vocab buys how much coverage; q_vocab_topk lists the
    * head, this integrates it). Term counts rank on a vocab-sized
    * single-partition window (the pinned q_vocab_topk contract);
    * coverage cells are conditional integer sums against the
    * broadcast total. */
  private val qVocabCoverage = Q(
    "q_vocab_coverage",
    (s, d) => {
      val tc = t(s, d, "documents")
        .select(explode(split(lower(col("text")), " ")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
      val wr = Window.orderBy(col("cnt").desc, col("tok").asc)
      val ranked = tc.withColumn("rk", row_number().over(wr))
      val tot = tc.agg(sum("cnt").as("tot"), count(lit(1)).as("n_vocab"))
      ranked.crossJoin(broadcast(tot))
        .groupBy("tot", "n_vocab")
        .agg(
          sum(when(col("rk") <= 10, col("cnt")).otherwise(lit(0L)))
            .as("m10"),
          sum(when(col("rk") <= 100, col("cnt")).otherwise(lit(0L)))
            .as("m100"),
          sum(when(col("rk") <= 1000, col("cnt")).otherwise(lit(0L)))
            .as("m1000"))
        .select(col("n_vocab"), col("tot").as("total_tokens"),
          TextAnalysis.roundStable(
            col("m10").cast("double") / col("tot"), 6).as("top10_cov"),
          TextAnalysis.roundStable(
            col("m100").cast("double") / col("tot"), 6)
            .as("top100_cov"),
          TextAnalysis.roundStable(
            col("m1000").cast("double") / col("tot"), 6)
            .as("top1000_cov"))
    },
    Some("""WITH tc AS (
      SELECT tok, count(*) AS cnt FROM (
        SELECT unnest(string_split(lower(text), ' ')) AS tok
        FROM documents) GROUP BY 1),
    rk AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok ASC)
        AS rk FROM tc),
    tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot,
        count(*) AS n_vocab FROM tc)
    SELECT n_vocab, tot AS total_tokens,
      floor(CAST(sum(CASE WHEN rk <= 10 THEN cnt ELSE 0 END)
          AS DOUBLE) / tot * 1000000.0 + 0.5) / 1000000.0
        AS top10_cov,
      floor(CAST(sum(CASE WHEN rk <= 100 THEN cnt ELSE 0 END)
          AS DOUBLE) / tot * 1000000.0 + 0.5) / 1000000.0
        AS top100_cov,
      floor(CAST(sum(CASE WHEN rk <= 1000 THEN cnt ELSE 0 END)
          AS DOUBLE) / tot * 1000000.0 + 0.5) / 1000000.0
        AS top1000_cov
    FROM rk, tot GROUP BY 1, 2"""))

  /** Population Stability Index — distribution drift of purchase
    * values between the month's first and second half, over $10
    * bins (the model-monitoring drift score; q_ks_test is the
    * hypothesis test, PSI is the magnitude dashboards alarm on:
    * <0.1 stable, >0.25 shifted). Bin counts are one conditional
    * aggregate; the Σ(p−q)·ln(p/q) fold runs over the bounded bin
    * table with smoothed shares (+1 per cell — the standard zero
    * guard) and closes rounded. */
  private val qPsi = Q(
    "q_psi",
    (s, d) => {
      val e = t(s, d, "events")
        .filter(col("event_type") === "purchase")
        .select(floor(col("value") / 10).cast("long").as("bin"),
          (dayofmonth(col("ts")) > 15).cast("long").as("h2"))
      val bins = e.groupBy("bin")
        .agg(sum(lit(1L) - col("h2")).as("a"), sum(col("h2")).as("b"))
      val tot = bins.agg(sum("a").as("ta"), sum("b").as("tb"),
        count(lit(1)).as("nb"))
      val p = (col("a") + 1).cast("double") / (col("ta") + col("nb"))
      val q = (col("b") + 1).cast("double") / (col("tb") + col("nb"))
      bins.crossJoin(broadcast(tot))
        .select(((p - q) * log(p / q)).as("term"), col("ta"), col("tb"))
        .groupBy("ta", "tb")
        .agg(count(lit(1)).as("n_bins"),
          TextAnalysis.roundStable(sum("term"), 6).as("psi"))
        .select(col("ta").as("n_first_half"), col("tb").as("n_second_half"),
          col("n_bins"), col("psi"))
    },
    Some("""WITH e AS (
      SELECT CAST(floor(value / 10) AS BIGINT) AS bin,
        CASE WHEN day(CAST(ts AS TIMESTAMP)) > 15 THEN 1 ELSE 0 END
          AS h2
      FROM events WHERE event_type = 'purchase'),
    bins AS (SELECT bin, CAST(sum(1 - h2) AS BIGINT) AS a,
        CAST(sum(h2) AS BIGINT) AS b
      FROM e GROUP BY 1),
    tot AS (SELECT CAST(sum(a) AS BIGINT) AS ta,
        CAST(sum(b) AS BIGINT) AS tb, count(*) AS nb FROM bins)
    SELECT ta AS n_first_half, tb AS n_second_half,
      count(*) AS n_bins,
      floor(sum(((a + 1) * 1.0 / (ta + nb) - (b + 1) * 1.0 / (tb + nb))
          * ln(((a + 1) * 1.0 / (ta + nb))
            / ((b + 1) * 1.0 / (tb + nb)))) * 1000000.0 + 0.5)
        / 1000000.0 AS psi
    FROM bins, tot GROUP BY 1, 2"""))

  /** Rare-token exposure per doc — top-20 docs by share of tokens
    * whose corpus document-frequency is ≤ 2 (the OOV-risk ranking:
    * heavy rare-token docs inflate vocabulary and destabilize
    * tokenizers; q_ngram_novelty is the gram-level cousin). Distinct
    * (doc, token) pairs feed a token-keyed df aggregate (map-side
    * combined); the verdict join moves tokens once; the cut is a
    * bounded heap on an exact integer ratio. */
  private val qRareTokenShare = Q(
    "q_rare_token_share",
    (s, d) => {
      val dt = t(s, d, "documents")
        .select(col("doc_id"),
          explode(array_distinct(split(lower(col("text")), " ")))
            .as("tok"))
      val df = dt.groupBy("tok").agg(count(lit(1)).as("df"))
      dt.join(df, "tok")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_types"),
          sum((col("df") <= 2).cast("long")).as("n_rare"))
        .select(col("doc_id"), col("n_types"), col("n_rare"),
          TextAnalysis.roundStable(
            col("n_rare").cast("double") / col("n_types"), 6)
            .as("rare_share"))
        .orderBy(col("rare_share").desc, col("doc_id").asc)
        .limit(20)
    },
    Some("""WITH dt AS (
      SELECT DISTINCT doc_id,
        unnest(list_distinct(string_split(lower(text), ' '))) AS tok
      FROM documents),
    df AS (SELECT tok, count(*) AS df FROM dt GROUP BY 1),
    a AS (SELECT doc_id, count(*) AS n_types,
        CAST(sum(CASE WHEN df <= 2 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_rare
      FROM dt JOIN df USING (tok) GROUP BY 1)
    SELECT doc_id, n_types, n_rare,
      floor(CAST(n_rare AS DOUBLE) / n_types * 1000000.0 + 0.5)
        / 1000000.0 AS rare_share
    FROM a ORDER BY rare_share DESC, doc_id ASC LIMIT 20"""))

  /** Bot suspects — top-20 users by hour-of-day uniformity (high
    * activity spread evenly over all 24 hours is machine-like; humans
    * sleep — the abuse screen run before engagement metrics are
    * trusted). Per-(user, hour) counts fold to per-user entropy via
    * the q_token_entropy algebraic form (integers until the closing
    * log2s); a minimum-volume gate keeps tiny users out; the cut is
    * a bounded heap with entropy-then-id tie-break. */
  private val qBotSuspects = Q(
    "q_bot_suspects",
    (s, d) => t(s, d, "events")
      .groupBy(col("user_id"), hour(col("ts")).as("hr"))
      .agg(count(lit(1)).as("c"))
      .groupBy("user_id")
      .agg(sum("c").as("n_events"), count(lit(1)).as("n_hours"),
        sum(col("c").cast("double") * log2(col("c"))).as("clogc"))
      .filter(col("n_events") >= 48)
      .select(col("user_id"), col("n_events"), col("n_hours"),
        TextAnalysis.roundStable(
          log2(col("n_events")) - col("clogc") / col("n_events"), 6)
          .as("hour_entropy"))
      .orderBy(col("hour_entropy").desc, col("user_id").asc)
      .limit(20),
    Some("""WITH uh AS (
      SELECT user_id, hour(CAST(ts AS TIMESTAMP)) AS hr,
        count(*) AS c
      FROM events GROUP BY 1, 2),
    a AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n_events,
        count(*) AS n_hours,
        sum(c * log2(CAST(c AS DOUBLE))) AS clogc
      FROM uh GROUP BY 1 HAVING sum(c) >= 48)
    SELECT user_id, n_events, n_hours,
      floor((log2(CAST(n_events AS DOUBLE)) - clogc / n_events)
        * 1000000.0 + 0.5) / 1000000.0 AS hour_entropy
    FROM a ORDER BY hour_entropy DESC, user_id ASC LIMIT 20"""))

  /** Nation trade balance — each nation's supply-side revenue (as
    * supplier of shipped lines) vs demand-side revenue (as customer
    * of orders) and the balance (TPC-H Q5's star, asked both ways at
    * once). Two independent fact aggregates meet on the 25-row
    * nation grid; every dim hop broadcasts; DECIMAL revenue. */
  private val qNationBalance = Q(
    "q_nation_balance",
    (s, d) => {
      val nat = t(s, d, "nation").select(col("n_nationkey"), col("n_name"))
      val sup = t(s, d, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))
      val cust = t(s, d, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val supply = t(s, d, "lineitem")
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_nationkey").as("nk"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,6)"))
          .as("supply_rev"))
      val demand = t(s, d, "orders")
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").as("nk"))
        .agg(sum(col("o_totalprice").cast("decimal(18,6)"))
          .as("demand_rev"))
      broadcast(nat)
        .join(supply, col("n_nationkey") === supply("nk"), "left")
        .drop("nk")
        .join(demand, col("n_nationkey") === demand("nk"), "left")
        .select(col("n_name").as("nation"),
          TextAnalysis.roundStable(
            coalesce(col("supply_rev"), lit(0).cast("decimal(18,6)"))
              .cast("double"), 2).as("supply_rev"),
          TextAnalysis.roundStable(
            coalesce(col("demand_rev"), lit(0).cast("decimal(18,6)"))
              .cast("double"), 2).as("demand_rev"),
          TextAnalysis.roundStable(
            (coalesce(col("supply_rev"), lit(0).cast("decimal(18,6)")) -
              coalesce(col("demand_rev"), lit(0).cast("decimal(18,6)")))
              .cast("double"), 2).as("balance"))
        .orderBy("nation")
    },
    Some("""WITH supply AS (
      SELECT s_nationkey AS nk,
        sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS supply_rev
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY 1),
    demand AS (
      SELECT c_nationkey AS nk,
        sum(CAST(o_totalprice AS DECIMAL(18,6))) AS demand_rev
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1)
    SELECT n_name AS nation,
      floor(CAST(coalesce(supply_rev, 0) AS DOUBLE) * 100.0 + 0.5)
        / 100.0 AS supply_rev,
      floor(CAST(coalesce(demand_rev, 0) AS DOUBLE) * 100.0 + 0.5)
        / 100.0 AS demand_rev,
      floor(CAST(coalesce(supply_rev, 0) - coalesce(demand_rev, 0)
          AS DOUBLE) * 100.0 + 0.5) / 100.0 AS balance
    FROM nation
    LEFT JOIN supply ON n_nationkey = supply.nk
    LEFT JOIN demand ON n_nationkey = demand.nk
    ORDER BY nation"""))

  /** Order-priority composition drift by year — priority shares per
    * order year and the L1 distance to the previous year (q_mix_shift
    * at the reporting grain on ORDERS — the "did urgency creep up?"
    * audit). Year×priority grid from one aggregate; shares and lags
    * over the bounded grid; the |Δ| fold sums ≤5 terms per year. */
  private val qPriorityDrift = Q(
    "q_priority_drift",
    (s, d) => {
      val g = t(s, d, "orders")
        .groupBy(year(col("o_orderdate")).cast("long").as("yr"),
          col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
      val wy = Window.partitionBy("yr")
      val wp = Window.partitionBy("o_orderpriority").orderBy("yr")
      g.withColumn("share",
          col("n").cast("double") / sum("n").over(wy))
        .withColumn("prev_share", lag(col("share"), 1).over(wp))
        .filter(col("prev_share").isNotNull)
        .groupBy("yr")
        .agg(count(lit(1)).as("n_priorities"),
          TextAnalysis.roundStable(
            sum(abs(col("share") - col("prev_share"))), 6)
            .as("l1_drift"))
        .orderBy("yr")
    },
    Some("""WITH g AS (
      SELECT CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS yr,
        o_orderpriority, count(*) AS n
      FROM orders GROUP BY 1, 2),
    sh AS (SELECT yr, o_orderpriority,
        CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY yr) AS share
      FROM g),
    lg AS (SELECT yr, share,
        lag(share) OVER (PARTITION BY o_orderpriority ORDER BY yr)
          AS prev_share
      FROM sh)
    SELECT yr, count(*) AS n_priorities,
      floor(sum(abs(share - prev_share)) * 1000000.0 + 0.5)
        / 1000000.0 AS l1_drift
    FROM lg WHERE prev_share IS NOT NULL
    GROUP BY 1 ORDER BY yr"""))

  /** Token length histogram — corpus token counts by character
    * length, with cumulative share (the subword-budget profile: long
    * tails mean a byte-level fallback will fire often; q_vocab_
    * coverage sizes the vocab, this sizes the pieces). Lengths fold
    * scan-side (explode → length — no strings shuffled, only the
    * bounded length key); cumulative over the ≤100-row histogram. */
  private val qTokenLenHist = Q(
    "q_token_len_hist",
    (s, d) => {
      val h = t(s, d, "documents")
        .select(explode(split(lower(col("text")), " ")).as("tok"))
        .select(length(col("tok")).cast("long").as("len"))
        .groupBy("len").agg(count(lit(1)).as("n_tokens"))
      val wc = Window.orderBy("len")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      h.withColumn("cum", sum("n_tokens").over(wc))
        .withColumn("tot", sum("n_tokens").over(Window.partitionBy()))
        .select(col("len"), col("n_tokens"),
          TextAnalysis.roundStable(
            col("cum").cast("double") / col("tot"), 6).as("cum_share"))
        .orderBy("len")
    },
    Some("""WITH h AS (
      SELECT CAST(length(tok) AS BIGINT) AS len, count(*) AS n_tokens
      FROM (SELECT unnest(string_split(lower(text), ' ')) AS tok
        FROM documents) GROUP BY 1)
    SELECT len, n_tokens,
      floor(CAST(sum(n_tokens) OVER (ORDER BY len
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        / CAST(sum(n_tokens) OVER () AS BIGINT) * 1000000.0 + 0.5)
        / 1000000.0 AS cum_share
    FROM h ORDER BY len"""))

  /** Sessions-per-user distribution — histogram of 30-minute-gap
    * session counts (q_sessionize builds the sessions; this is the
    * engagement-depth read of how many each user runs). Session
    * starts are a 1-flag on the gap predicate over ONE user window;
    * per-user session counts and the histogram are two cheap
    * aggregates. All integers. */
  private val qSessionCountDist = Q(
    "q_session_count_dist",
    (s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      val starts = t(s, d, "events")
        .withColumn("gap_us",
          unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
        .withColumn("is_start",
          (col("gap_us").isNull ||
            col("gap_us") > lit(1800L * 1000000L)).cast("long"))
      val perUser = starts.groupBy("user_id")
        .agg(sum("is_start").as("n_sessions"))
      perUser.groupBy("n_sessions")
        .agg(count(lit(1)).as("n_users"))
        .withColumn("tot", sum("n_users").over(Window.partitionBy()))
        .select(col("n_sessions"), col("n_users"),
          TextAnalysis.roundStable(
            col("n_users").cast("double") / col("tot"), 6)
            .as("user_share"))
        .orderBy("n_sessions")
    },
    Some("""WITH e AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS tts
      FROM events),
    g AS (SELECT user_id,
        CASE WHEN lag(tts) OVER w IS NULL
          OR epoch_us(tts) - epoch_us(lag(tts) OVER w)
            > 1800 * 1000000 THEN 1 ELSE 0 END AS is_start
      FROM e WINDOW w AS (PARTITION BY user_id
        ORDER BY tts ASC, event_id ASC)),
    pu AS (SELECT user_id, CAST(sum(is_start) AS BIGINT) AS n_sessions
      FROM g GROUP BY 1),
    h AS (SELECT n_sessions, count(*) AS n_users FROM pu GROUP BY 1)
    SELECT n_sessions, n_users,
      floor(CAST(n_users AS DOUBLE)
          / CAST(sum(n_users) OVER () AS BIGINT) * 1000000.0 + 0.5)
        / 1000000.0 AS user_share
    FROM h ORDER BY n_sessions"""))

  /** Re-order hazard curve — for each gap length d (days), the
    * probability the next purchase lands exactly d days out GIVEN
    * it hasn't happened yet: h(d) = n(gap=d) / n(gap≥d) (the
    * discrete survival read behind win-back timing; q_order_gap
    * reports per-user stats, this the corpus-level hazard). Gaps
    * are one user window; the hazard denominator is a
    * FROM-THE-TOP cumulative over the bounded gap-day histogram
    * (reverse-ordered window), all integers until the division. */
  private val qGapHazard = Q(
    "q_gap_hazard",
    (s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      val gaps = t(s, d, "events")
        .filter(col("event_type") === "purchase")
        .withColumn("gap_d",
          ((unix_micros(col("ts")) -
            unix_micros(lag(col("ts"), 1).over(w))) /
            lit(86400000000L)).cast("long"))
        .filter(col("gap_d").isNotNull)
      val h = gaps.groupBy("gap_d").agg(count(lit(1)).as("n"))
      val wAtRisk = Window.orderBy(col("gap_d").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      h.withColumn("at_risk", sum("n").over(wAtRisk))
        .select(col("gap_d"), col("n"), col("at_risk"),
          TextAnalysis.roundStable(
            col("n").cast("double") / col("at_risk"), 6).as("hazard"))
        .orderBy("gap_d")
    },
    Some("""WITH p AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS tts
      FROM events WHERE event_type = 'purchase'),
    g AS (SELECT
        (epoch_us(tts) - epoch_us(lag(tts) OVER (PARTITION BY user_id
          ORDER BY tts ASC, event_id ASC))) // 86400000000 AS gap_d
      FROM p),
    h AS (SELECT gap_d, count(*) AS n FROM g
      WHERE gap_d IS NOT NULL GROUP BY 1)
    SELECT gap_d, n,
      CAST(sum(n) OVER (ORDER BY gap_d DESC
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        AS at_risk,
      floor(CAST(n AS DOUBLE)
          / CAST(sum(n) OVER (ORDER BY gap_d DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) * 1000000.0 + 0.5) / 1000000.0 AS hazard
    FROM h ORDER BY gap_d"""))

  /** Quality vs length — mean quality score per character-length bin
    * (the relationship every length filter implicitly assumes,
    * measured: if quality plateaus, the cut is safe). Fixed 100-char
    * bins keep the grouping exact integers; quality is the 4-dp
    * deterministic score, so per-bin means are sums of identical
    * values both engines. One scan, one bounded aggregate. */
  private val qQualityVsLength = Q(
    "q_quality_vs_length",
    (s, d) => t(s, d, "documents")
      .select((col("n_chars") / lit(100)).cast("long").as("len_bin"),
        TextAnalysis.qualityScore(col("text")).as("q"))
      .groupBy("len_bin")
      .agg(count(lit(1)).as("n_docs"),
        TextAnalysis.roundStable(sum("q") / count(lit(1)), 4)
          .as("mean_quality"))
      .orderBy("len_bin"),
    Some("""WITH q AS (
      SELECT n_chars // 100 AS len_bin,
        len(string_split(lower(text), ' ')) AS n_tok,
        len(list_filter(string_split(lower(text), ' '),
          x -> x IN ('the','and','of','to','a','in','is'))) AS n_stop,
        len(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))
          AS n_punct,
        len(text) AS n_char
      FROM documents),
    sc AS (SELECT len_bin,
        floor((least(n_tok, 100) / 100.0 * 0.4
          + (n_stop * 1.0 / n_tok) * 0.3
          + (1.0 - n_punct * 1.0 / n_char) * 0.3)
          * 10000.0 + 0.5) / 10000.0 AS q
      FROM q)
    SELECT CAST(len_bin AS BIGINT) AS len_bin, count(*) AS n_docs,
      floor(sum(q) / count(*) * 10000.0 + 0.5) / 10000.0
        AS mean_quality
    FROM sc GROUP BY 1 ORDER BY len_bin"""))

  /** Discount × priority interaction — mean line revenue per
    * (discount level, order priority) cell (does discounting bite
    * differently on urgent orders? — the two-factor read over
    * q_discount_lift's one factor). The discount key is an exact
    * integer (round(d·100), the q_discount_lift precedent); one
    * co-partitioned order-key join, one bounded-grid aggregate with
    * DECIMAL sums. */
  private val qDiscountPriorityMatrix = Q(
    "q_discount_priority_matrix",
    (s, d) => {
      val o = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"))
      t(s, d, "lineitem")
        .select(col("l_orderkey"),
          round(col("l_discount") * 100).cast("long").as("disc_pct"),
          col("l_extendedprice"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("disc_pct"), col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_extendedprice").cast("decimal(18,6)")).as("rev"))
        .select(col("disc_pct"), col("priority"), col("n_lines"),
          TextAnalysis.roundStable(
            col("rev").cast("double") / col("n_lines"), 2)
            .as("mean_rev"))
        .orderBy("disc_pct", "priority")
    },
    Some("""WITH j AS (
      SELECT CAST(round(l_discount * 100) AS BIGINT) AS disc_pct,
        o_orderpriority AS priority, l_extendedprice
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
    SELECT disc_pct, priority, count(*) AS n_lines,
      floor(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)))
          AS DOUBLE) / count(*) * 100.0 + 0.5) / 100.0 AS mean_rev
    FROM j GROUP BY 1, 2 ORDER BY disc_pct, priority"""))

  /** Order seasonality — month-of-year volume pooled across years,
    * with the seasonal index (share × 12; 1.0 = flat — the annual
    * rhythm q_weekday_profile reads weekly). One aggregate to 12
    * rows; index from exact integer counts. */
  private val qOrderSeasonality = Q(
    "q_order_seasonality",
    (s, d) => {
      val m = t(s, d, "orders")
        .groupBy(month(col("o_orderdate")).cast("long").as("mo"))
        .agg(count(lit(1)).as("n_orders"))
      m.withColumn("tot", sum("n_orders").over(Window.partitionBy()))
        .select(col("mo"), col("n_orders"),
          TextAnalysis.roundStable(
            col("n_orders").cast("double") * 12 / col("tot"), 4)
            .as("seasonal_index"))
        .orderBy("mo")
    },
    Some("""WITH m AS (
      SELECT CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT) AS mo,
        count(*) AS n_orders
      FROM orders GROUP BY 1)
    SELECT mo, n_orders,
      floor(CAST(n_orders AS DOUBLE) * 12
          / CAST(sum(n_orders) OVER () AS BIGINT) * 10000.0 + 0.5)
        / 10000.0 AS seasonal_index
    FROM m ORDER BY mo"""))

  /** Top suppliers by shipped revenue — the vendor league table with
    * account balance attached (revenue concentrates per q_supplier_
    * share; this names the heads). Lineitem aggregates by supplier
    * key FIRST (map-side combined), then the bounded result joins
    * the supplier dim broadcast; the cut is a bounded heap. */
  private val qTopSuppliers = Q(
    "q_top_suppliers",
    (s, d) => {
      val rev = t(s, d, "lineitem")
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_extendedprice").cast("decimal(18,6)")).as("rev"))
      rev.join(broadcast(t(s, d, "supplier")
          .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_name").as("supplier"), col("n_lines"),
          TextAnalysis.roundStable(col("rev").cast("double"), 2)
            .as("revenue"),
          TextAnalysis.roundStable(col("s_acctbal"), 2).as("acctbal"))
        .orderBy(col("revenue").desc, col("supplier").asc)
        .limit(20)
    },
    Some("""WITH rev AS (
      SELECT l_suppkey, count(*) AS n_lines,
        sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS rev
      FROM lineitem GROUP BY 1)
    SELECT s_name AS supplier, n_lines,
      floor(CAST(rev AS DOUBLE) * 100.0 + 0.5) / 100.0 AS revenue,
      floor(s_acctbal * 100.0 + 0.5) / 100.0 AS acctbal
    FROM rev JOIN supplier ON l_suppkey = s_suppkey
    ORDER BY revenue DESC, supplier ASC LIMIT 20"""))

  /** Near-dup degree distribution — how many ≥0.8 partners each
    * involved doc has (degree 1 = simple pairs, high degree = a
    * template family — decides whether q_dedup_keep_best's
    * per-cluster survivor or a template rewrite is the right fix).
    * Pairs from the shared exact machinery count BOTH endpoints
    * (union of the two directions — never a second pair join);
    * the degree histogram is bounded. */
  private val qDupDegreeDist = Q(
    "q_dup_degree_dist",
    (s, d) => {
      val pairs = Dedup.jaccardPairs(t(s, d, "documents"), w = 5,
        threshold = 0.8)
      val deg = pairs.select(col("i").as("doc"))
        .unionByName(pairs.select(col("j").as("doc")))
        .groupBy("doc").agg(count(lit(1)).as("degree"))
      deg.groupBy("degree").agg(count(lit(1)).as("n_docs"))
        .orderBy("degree")
    },
    Some("""WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
        unnest(CASE WHEN len(t) >= 5
          THEN list_transform(range(1, len(t) - 3),
            i -> array_to_string(t[i:i+4], ' '))
          ELSE []::VARCHAR[] END) AS s
      FROM toks),
    card AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
    com AS (
      SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS com
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    pr AS (SELECT i, j FROM com
      JOIN card ca ON ca.doc_id = i
      JOIN card cb ON cb.doc_id = j
      WHERE com * 1.0 / (ca.c + cb.c - com) >= 0.8),
    deg AS (SELECT doc, count(*) AS degree FROM (
      SELECT i AS doc FROM pr UNION ALL SELECT j AS doc FROM pr)
      GROUP BY 1)
    SELECT degree, count(*) AS n_docs FROM deg
    GROUP BY 1 ORDER BY degree"""))

  /** Activity-decile × event-type mix — do heavy users behave
    * differently, or just more? (composition by engagement decile —
    * the segmentation read q_lifecycle_stages' tiers feed). Users
    * rank by event count through [[Ranking.globalRank]] (histogram
    * scheme — no corpus sort); the decile is exact integer
    * arithmetic; the type mix joins user-keyed back to events and
    * rolls up to the 10×|types| grid. */
  private val qDecileTypeMix = Q(
    "q_decile_type_mix",
    (s, d) => {
      val uc = t(s, d, "events")
        .groupBy("user_id").agg(count(lit(1)).as("n"))
      val n = uc.agg(count(lit(1)).as("nu"))
      val ranked = Ranking.globalRank(uc, col("n"), col("user_id"),
          valueAscending = false, rankName = "rn")
        .crossJoin(broadcast(n))
        .select(col("user_id"), expr("((rn - 1) * 10) div nu + 1")
          .as("decile"))
      t(s, d, "events")
        .select(col("user_id"), col("event_type"))
        .join(ranked, "user_id")
        .groupBy("decile", "event_type")
        .agg(count(lit(1)).as("n_events"))
        .withColumn("dt", sum("n_events").over(
          Window.partitionBy("decile")))
        .select(col("decile"), col("event_type"), col("n_events"),
          TextAnalysis.roundStable(
            col("n_events").cast("double") / col("dt"), 6)
            .as("share"))
        .orderBy("decile", "event_type")
    },
    Some("""WITH uc AS (
      SELECT user_id, count(*) AS n FROM events GROUP BY 1),
    rk AS (SELECT user_id, row_number() OVER (ORDER BY n DESC,
        user_id ASC) AS rn FROM uc),
    nu AS (SELECT count(*) AS nu FROM uc),
    dec AS (SELECT user_id, ((rn - 1) * 10) // nu.nu + 1 AS decile
      FROM rk, nu),
    g AS (SELECT decile, event_type, count(*) AS n_events
      FROM events JOIN dec USING (user_id) GROUP BY 1, 2)
    SELECT decile, event_type, n_events,
      floor(CAST(n_events AS DOUBLE)
          / CAST(sum(n_events) OVER (PARTITION BY decile) AS BIGINT)
        * 1000000.0 + 0.5) / 1000000.0 AS share
    FROM g ORDER BY decile, event_type"""))

  /** Part size–price correlation — Pearson between p_size and
    * p_retailprice plus per-size-bucket mean price (does bigger cost
    * more? — the catalog sanity probe). Size is already an integer;
    * price quantizes to 1e−2 BIGINTs per element, so every power sum
    * is exact; one dim-table pass, one closing row. */
  private val qSizePriceCorr = Q(
    "q_size_price_corr",
    (s, d) => {
      val st = t(s, d, "part")
        .select(col("p_size").cast("long").as("x"),
          floor(col("p_retailprice") * 100 + 0.5).cast("long").as("y"))
        .agg(count(lit(1)).as("k"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
      val dxx = (col("k") * col("sxx") - col("sx") * col("sx"))
        .cast("double")
      val dyy = (col("k") * col("syy") - col("sy") * col("sy"))
        .cast("double")
      val dxy = (col("k") * col("sxy") - col("sx") * col("sy"))
        .cast("double")
      st.select(col("k").as("n_parts"),
        TextAnalysis.roundStable(
          when(dxx > 0 && dyy > 0, dxy / sqrt(dxx * dyy)), 6)
          .as("corr"),
        TextAnalysis.roundStable(
          col("sy").cast("double") / col("k") / 100.0, 2)
          .as("mean_price"))
    },
    Some("""WITH xy AS (
      SELECT CAST(p_size AS BIGINT) AS x,
        CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS y
      FROM part),
    st AS (SELECT count(*) AS k,
        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        CAST(sum(x * y) AS BIGINT) AS sxy,
        CAST(sum(x * x) AS BIGINT) AS sxx,
        CAST(sum(y * y) AS BIGINT) AS syy
      FROM xy)
    SELECT k AS n_parts,
      CASE WHEN (k * sxx - sx * sx) > 0 AND (k * syy - sy * sy) > 0
        THEN floor(CAST(k * sxy - sx * sy AS DOUBLE)
            / sqrt(CAST(k * sxx - sx * sx AS DOUBLE)
              * CAST(k * syy - sy * sy AS DOUBLE)) * 1000000.0 + 0.5)
          / 1000000.0 END AS corr,
      floor(CAST(sy AS DOUBLE) / k / 100.0 * 100.0 + 0.5) / 100.0
        AS mean_price
    FROM st"""))

  /** Character-class composition per source — alpha / digit / space /
    * punctuation shares of each feed's raw bytes (the encoding-health
    * profile run before any text op; a punctuation spike means markup
    * leaked past extraction). Per-doc class counts are regexp_replace
    * lengths computed scan-side (integers); the source rollup divides
    * exact sums once per class. */
  private val qCharclassProfile = Q(
    "q_charclass_profile",
    (s, d) => {
      val txt = lower(col("text"))
      val counts = t(s, d, "documents")
        .select(col("source"),
          length(col("text")).cast("long").as("n_char"),
          (length(col("text")) -
            length(regexp_replace(txt, "[a-z]", ""))).cast("long")
            .as("n_alpha"),
          (length(col("text")) -
            length(regexp_replace(txt, "[0-9]", ""))).cast("long")
            .as("n_digit"),
          (length(col("text")) -
            length(regexp_replace(txt, " ", ""))).cast("long")
            .as("n_space"))
      counts.groupBy("source")
        .agg(sum("n_char").as("chars"),
          sum("n_alpha").as("a"), sum("n_digit").as("g"),
          sum("n_space").as("sp"))
        .select(col("source"), col("chars"),
          TextAnalysis.roundStable(
            col("a").cast("double") / col("chars"), 6).as("alpha_share"),
          TextAnalysis.roundStable(
            col("g").cast("double") / col("chars"), 6).as("digit_share"),
          TextAnalysis.roundStable(
            col("sp").cast("double") / col("chars"), 6)
            .as("space_share"),
          TextAnalysis.roundStable(
            (col("chars") - col("a") - col("g") - col("sp"))
              .cast("double") / col("chars"), 6).as("other_share"))
        .orderBy("source")
    },
    Some("""WITH c AS (
      SELECT source, len(text) AS n_char,
        len(text) - len(regexp_replace(lower(text), '[a-z]', '', 'g'))
          AS n_alpha,
        len(text) - len(regexp_replace(lower(text), '[0-9]', '', 'g'))
          AS n_digit,
        len(text) - len(replace(lower(text), ' ', '')) AS n_space
      FROM documents),
    g AS (SELECT source, CAST(sum(n_char) AS BIGINT) AS chars,
        CAST(sum(n_alpha) AS BIGINT) AS a,
        CAST(sum(n_digit) AS BIGINT) AS dg,
        CAST(sum(n_space) AS BIGINT) AS sp
      FROM c GROUP BY 1)
    SELECT source, chars,
      floor(CAST(a AS DOUBLE) / chars * 1000000.0 + 0.5) / 1000000.0
        AS alpha_share,
      floor(CAST(dg AS DOUBLE) / chars * 1000000.0 + 0.5) / 1000000.0
        AS digit_share,
      floor(CAST(sp AS DOUBLE) / chars * 1000000.0 + 0.5) / 1000000.0
        AS space_share,
      floor(CAST(chars - a - dg - sp AS DOUBLE) / chars
        * 1000000.0 + 0.5) / 1000000.0 AS other_share
    FROM g ORDER BY source"""))

  /** Account balance vs order activity — Pearson between a customer's
    * acctbal and their order count, plus per-balance-sign activity
    * means (does credit standing predict engagement? — the CRM
    * hypothesis probe). Order counts fold customer-keyed first; the
    * dim attach is a co-partitioned equi-join; balances quantize to
    * 1e−2 BIGINTs so every moment is exact. */
  private val qBalanceActivityCorr = Q(
    "q_balance_activity_corr",
    (s, d) => {
      val oc = t(s, d, "orders")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
      val j = t(s, d, "customer")
        .select(col("c_custkey"),
          floor(col("c_acctbal") * 100 + 0.5).cast("long").as("balq"))
        .join(oc, col("c_custkey") === col("o_custkey"), "left")
        .withColumn("n", coalesce(col("n"), lit(0L)))
      val st = j.agg(count(lit(1)).as("k"),
        sum("balq").as("sx"), sum("n").as("sy"),
        sum(col("balq") * col("n")).as("sxy"),
        sum((col("balq").cast("decimal(38,0)") * col("balq"))).as("sxx"),
        sum(col("n") * col("n")).as("syy"),
        sum(when(col("balq") < 0, col("n"))).as("neg_n"),
        sum((col("balq") < 0).cast("long")).as("neg_k"))
      // Closing arithmetic in doubles — sx·sx would overflow Long at
      // corpus scale (Σbalq ~ 1e10 ⇒ square ~ 1e20); the oracle
      // spells the identical CAST-to-DOUBLE combination.
      val kd = col("k").cast("double")
      val sxd = col("sx").cast("double")
      val syd = col("sy").cast("double")
      val dxx = kd * col("sxx").cast("double") - sxd * sxd
      val dyy = kd * col("syy").cast("double") - syd * syd
      val dxy = kd * col("sxy").cast("double") - sxd * syd
      st.select(col("k").as("n_customers"),
        TextAnalysis.roundStable(
          when(dxx > 0 && dyy > 0, dxy / sqrt(dxx * dyy)), 6)
          .as("corr"),
        TextAnalysis.roundStable(
          when(col("neg_k") > 0,
            col("neg_n").cast("double") / col("neg_k")), 2)
          .as("neg_bal_mean_orders"),
        TextAnalysis.roundStable(
          when(col("k") > col("neg_k"),
            (col("sy") - coalesce(col("neg_n"), lit(0L))).cast("double")
              / (col("k") - col("neg_k"))), 2)
          .as("pos_bal_mean_orders"))
    },
    Some("""WITH oc AS (
      SELECT o_custkey, count(*) AS n FROM orders GROUP BY 1),
    j AS (SELECT CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS balq,
        coalesce(n, 0) AS n
      FROM customer LEFT JOIN oc ON c_custkey = o_custkey),
    st AS (SELECT count(*) AS k,
        CAST(sum(balq) AS BIGINT) AS sx, CAST(sum(n) AS BIGINT) AS sy,
        CAST(sum(balq * n) AS BIGINT) AS sxy,
        CAST(sum(CAST(balq AS HUGEINT) * balq) AS DOUBLE) AS sxx,
        CAST(sum(n * n) AS BIGINT) AS syy,
        CAST(sum(CASE WHEN balq < 0 THEN n END) AS BIGINT) AS neg_n,
        CAST(sum(CASE WHEN balq < 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS neg_k
      FROM j)
    SELECT k AS n_customers,
      CASE WHEN (k * sxx - CAST(sx AS DOUBLE) * sx) > 0
          AND (k * syy - sy * sy) > 0 THEN
        floor((k * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
            / sqrt((k * sxx - CAST(sx AS DOUBLE) * sx)
              * CAST(k * syy - sy * sy AS DOUBLE)) * 1000000.0 + 0.5)
          / 1000000.0 END AS corr,
      CASE WHEN neg_k > 0 THEN
        floor(CAST(neg_n AS DOUBLE) / neg_k * 100.0 + 0.5) / 100.0
        END AS neg_bal_mean_orders,
      CASE WHEN k > neg_k THEN
        floor(CAST(sy - coalesce(neg_n, 0) AS DOUBLE) / (k - neg_k)
          * 100.0 + 0.5) / 100.0 END AS pos_bal_mean_orders
    FROM st"""))

  /** Dedup keeper bias — mean character length of the kept (min
    * doc_id) vs removed docs inside exact-dup clusters (a POLICY
    * audit: min-id keep is arrival-order; if removed docs average
    * longer, the policy discards content and q_dedup_keep_best's
    * max_by(length) is the better survivor rule). Digest-keyed
    * survivor attach, two-row integer report. */
  private val qKeeperBias = Q(
    "q_keeper_bias",
    (s, d) => {
      val key = md5(concat_ws(" ",
        sort_array(array_distinct(split(col("text"), " ")))))
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("n_chars"), key.as("h"))
      val cl = docs.groupBy("h")
        .agg(count(lit(1)).as("sz"), min("doc_id").as("keep_id"))
        .filter(col("sz") >= 2)
      docs.join(cl, "h")
        .withColumn("role",
          when(col("doc_id") === col("keep_id"), lit("kept"))
            .otherwise(lit("removed")))
        .groupBy("role")
        .agg(count(lit(1)).as("n_docs"),
          TextAnalysis.roundStable(
            sum("n_chars").cast("double") / count(lit(1)), 2)
            .as("mean_chars"))
        .orderBy("role")
    },
    Some("""WITH k AS (
      SELECT doc_id, n_chars,
        md5(array_to_string(
          list_sort(list_distinct(string_split(text, ' '))), ' ')) AS h
      FROM documents),
    cl AS (SELECT h, count(*) AS sz, min(doc_id) AS keep_id
      FROM k GROUP BY 1 HAVING count(*) >= 2)
    SELECT CASE WHEN doc_id = keep_id THEN 'kept' ELSE 'removed' END
        AS role,
      count(*) AS n_docs,
      floor(CAST(sum(n_chars) AS DOUBLE) / count(*) * 100.0 + 0.5)
        / 100.0 AS mean_chars
    FROM k JOIN cl USING (h)
    GROUP BY 1 ORDER BY role"""))

  /** Document-length Gini — inequality of character mass across docs
    * (a skewed corpus means a few giants dominate token budgets and
    * shard packing; q_gini reads the same statistic over customer
    * revenue). Rank-weighted identity over [[Ranking.globalRank]]
    * (histogram scheme — no corpus sort), exact integer Σi·xᵢ in
    * DECIMAL, one closing expression. */
  private val qDocLenGini = Q(
    "q_doc_len_gini",
    (s, d) => {
      val lens = t(s, d, "documents")
        .select(col("doc_id"), col("n_chars"))
      val ranked = Ranking.globalRank(lens, col("n_chars"),
        col("doc_id"), valueAscending = true, rankName = "rn")
      ranked.agg(count(lit(1)).as("n"),
          sum(col("n_chars").cast("decimal(38,0)")).as("sx"),
          sum((col("rn").cast("decimal(38,0)") * col("n_chars")))
            .as("sxi"))
        .select(col("n").as("n_docs"),
          col("sx").cast("long").as("total_chars"),
          TextAnalysis.roundStable(
            lit(2.0) * col("sxi").cast("double") /
              (col("n") * col("sx").cast("double")) -
              (col("n") + lit(1.0)) / col("n"), 6).as("gini"))
    },
    Some("""WITH ranked AS (
      SELECT n_chars, row_number() OVER (
        ORDER BY n_chars ASC, doc_id ASC) AS rn
      FROM documents),
    a AS (SELECT count(*) AS n,
        CAST(sum(CAST(n_chars AS HUGEINT)) AS BIGINT) AS sx,
        CAST(sum(CAST(rn AS HUGEINT) * n_chars) AS DOUBLE) AS sxi
      FROM ranked)
    SELECT n AS n_docs, sx AS total_chars,
      floor((2.0 * sxi / (n * CAST(sx AS DOUBLE))
          - (n + 1.0) / n) * 1000000.0 + 0.5) / 1000000.0 AS gini
    FROM a"""))

  /** Basket size by market segment — mean lines and mean order value
    * per segment (do BUILDING customers order bigger? — the segment
    * read over q_basket_size_dist's global histogram). Per-order
    * aggregates fold on the order key FIRST, then the bounded result
    * joins orders→customer broadcast dims; the segment rollup divides
    * exact sums. */
  private val qSegmentBasket = Q(
    "q_segment_basket",
    (s, d) => {
      val perOrder = t(s, d, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_extendedprice").cast("decimal(18,6)")).as("val"))
      val c = t(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      perOrder
        .join(t(s, d, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n_orders"),
          sum("n_lines").as("tl"), sum("val").as("tv"))
        .select(col("segment"), col("n_orders"),
          TextAnalysis.roundStable(
            col("tl").cast("double") / col("n_orders"), 4)
            .as("mean_lines"),
          TextAnalysis.roundStable(
            col("tv").cast("double") / col("n_orders"), 2)
            .as("mean_value"))
        .orderBy("segment")
    },
    Some("""WITH po AS (
      SELECT l_orderkey, count(*) AS n_lines,
        sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS val
      FROM lineitem GROUP BY 1)
    SELECT c_mktsegment AS segment, count(*) AS n_orders,
      floor(CAST(sum(n_lines) AS DOUBLE) / count(*) * 10000.0 + 0.5)
        / 10000.0 AS mean_lines,
      floor(CAST(sum(val) AS DOUBLE) / count(*) * 100.0 + 0.5) / 100.0
        AS mean_value
    FROM po
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    GROUP BY 1 ORDER BY segment"""))

  /** Top part types by revenue — the category league table with line
    * counts and revenue share (the merchandising rollup; q_top_
    * suppliers names vendors, this names categories). Fact aggregates
    * by part key first, the part dim broadcasts, the type rollup is
    * types-bounded, the cut is a bounded heap. */
  private val qTypeRevenueTopk = Q(
    "q_type_revenue_topk",
    (s, d) => {
      val rev = t(s, d, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("nl"),
          sum(col("l_extendedprice").cast("decimal(18,6)")).as("r"))
      val byType = rev
        .join(broadcast(t(s, d, "part")
          .select(col("p_partkey"), col("p_type"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_type").as("part_type"))
        .agg(sum("nl").as("n_lines"), sum("r").as("rev"))
      val tot = byType.agg(sum("rev").as("tot"))
      byType.crossJoin(broadcast(tot))
        .select(col("part_type"), col("n_lines"),
          TextAnalysis.roundStable(col("rev").cast("double"), 2)
            .as("revenue"),
          TextAnalysis.roundStable(
            col("rev").cast("double") / col("tot").cast("double"), 6)
            .as("rev_share"))
        .orderBy(col("revenue").desc, col("part_type").asc)
        .limit(10)
    },
    Some("""WITH rev AS (
      SELECT l_partkey, count(*) AS nl,
        sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS r
      FROM lineitem GROUP BY 1),
    bt AS (SELECT p_type AS part_type,
        CAST(sum(nl) AS BIGINT) AS n_lines, sum(r) AS rev
      FROM rev JOIN part ON l_partkey = p_partkey GROUP BY 1),
    tot AS (SELECT sum(rev) AS tot FROM bt)
    SELECT part_type, n_lines,
      floor(CAST(rev AS DOUBLE) * 100.0 + 0.5) / 100.0 AS revenue,
      floor(CAST(rev AS DOUBLE) / CAST(tot AS DOUBLE)
        * 1000000.0 + 0.5) / 1000000.0 AS rev_share
    FROM bt, tot
    ORDER BY revenue DESC, part_type ASC LIMIT 10"""))

  /** Repeat-order loyalty per market segment — share of customers
    * with 2+ orders and mean orders per customer (q_repeat_rate's
    * funnel cut by segment: WHERE does loyalty live?). Customer
    * order counts fold customer-keyed first, the segment dim
    * broadcasts, the rollup is segments-bounded integers. */
  private val qSegmentLoyalty = Q(
    "q_segment_loyalty",
    (s, d) => {
      val oc = t(s, d, "orders")
        .groupBy("o_custkey").agg(count(lit(1)).as("n"))
      val c = t(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      oc.join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n_buyers"),
          sum((col("n") >= 2).cast("long")).as("repeaters"),
          sum("n").as("orders"))
        .select(col("segment"), col("n_buyers"),
          TextAnalysis.roundStable(
            col("repeaters").cast("double") / col("n_buyers"), 6)
            .as("repeat_rate"),
          TextAnalysis.roundStable(
            col("orders").cast("double") / col("n_buyers"), 2)
            .as("orders_per_buyer"))
        .orderBy("segment")
    },
    Some("""WITH oc AS (
      SELECT o_custkey, count(*) AS n FROM orders GROUP BY 1)
    SELECT c_mktsegment AS segment, count(*) AS n_buyers,
      floor(CAST(sum(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        / count(*) * 1000000.0 + 0.5) / 1000000.0 AS repeat_rate,
      floor(CAST(sum(n) AS DOUBLE) / count(*) * 100.0 + 0.5) / 100.0
        AS orders_per_buyer
    FROM oc JOIN customer ON o_custkey = c_custkey
    GROUP BY 1 ORDER BY segment"""))

  /** Duplicated-gram mass per language — each language's share of
    * 5-gram occurrences that are corpus-duplicated (df ≥ 2), the
    * per-lang redundancy read over q_dup_ngram_frac's per-doc number
    * (a high-dup language means its sources syndicate — dedup pays
    * off most there). Hashed grams with multiplicity, gram-keyed df,
    * lang attach doc-keyed, lang-bounded rollup — hashes-only
    * shuffles throughout. */
  private val qLangDupRate = Q(
    "q_lang_dup_rate",
    (s, d) => {
      val docs = t(s, d, "documents")
      val grams = Dedup.hashedShingleRows(docs, 5)
      val perDoc = grams.groupBy("doc_id", "s")
        .agg(count(lit(1)).as("c"))
      val df = perDoc.groupBy("s").agg(count(lit(1)).as("df"))
      val agg = perDoc.join(df, "s")
        .groupBy("doc_id")
        .agg(sum("c").as("n_grams"),
          sum(when(col("df") >= 2, col("c")).otherwise(lit(0L)))
            .as("dup_grams"))
      agg.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_grams").as("grams"),
          sum("dup_grams").as("dup"))
        .select(col("lang"), col("n_docs"), col("grams"),
          TextAnalysis.roundStable(
            col("dup").cast("double") / col("grams"), 6)
            .as("dup_share"))
        .orderBy("lang")
    },
    Some("""WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
    g AS (
      SELECT doc_id, unnest(CASE WHEN len(t) >= 5
        THEN list_transform(range(1, len(t) - 3),
          i -> array_to_string(t[i:i+4], ' '))
        ELSE []::VARCHAR[] END) AS s
      FROM toks),
    pg AS (SELECT doc_id, s, count(*) AS c FROM g GROUP BY 1, 2),
    df AS (SELECT s, count(*) AS df FROM pg GROUP BY 1),
    agg AS (
      SELECT pg.doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
        CAST(sum(CASE WHEN df >= 2 THEN c ELSE 0 END) AS BIGINT)
          AS dup_grams
      FROM pg JOIN df USING (s) GROUP BY 1)
    SELECT lang, count(*) AS n_docs,
      CAST(sum(n_grams) AS BIGINT) AS grams,
      floor(CAST(sum(dup_grams) AS DOUBLE) / sum(n_grams)
        * 1000000.0 + 0.5) / 1000000.0 AS dup_share
    FROM agg JOIN documents USING (doc_id)
    GROUP BY 1 ORDER BY lang"""))

  /** Lifetime-value bands — exact p25/p50/p75/p90 of per-user total
    * purchase value (the LTV banding that sets spend tiers;
    * q_cohort_ltv tracks the curve over age, this the terminal
    * distribution). User sums fold user-keyed in DECIMAL; ONE
    * percentile-array aggregate over the user-grade table closes
    * it. */
  private val qUserLtvBands = Q(
    "q_user_ltv_bands",
    (s, d) => {
      val ltv = t(s, d, "events")
        .filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(sum(col("value").cast("decimal(18,6)")).as("v"))
        .select(col("v").cast("double").as("ltv"))
      ltv.agg(count(lit(1)).as("n_buyers"),
          expr("percentile(ltv, array(0.25D, 0.5D, 0.75D, 0.9D))")
            .as("ps"))
        .select(col("n_buyers"),
          TextAnalysis.roundStable(col("ps").getItem(0), 2).as("p25"),
          TextAnalysis.roundStable(col("ps").getItem(1), 2).as("p50"),
          TextAnalysis.roundStable(col("ps").getItem(2), 2).as("p75"),
          TextAnalysis.roundStable(col("ps").getItem(3), 2).as("p90"))
    },
    Some("""WITH ltv AS (
      SELECT CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS ltv
      FROM events WHERE event_type = 'purchase' GROUP BY user_id)
    SELECT count(*) AS n_buyers,
      floor(quantile_cont(ltv, 0.25) * 100.0 + 0.5) / 100.0 AS p25,
      floor(quantile_cont(ltv, 0.5) * 100.0 + 0.5) / 100.0 AS p50,
      floor(quantile_cont(ltv, 0.75) * 100.0 + 0.5) / 100.0 AS p75,
      floor(quantile_cont(ltv, 0.9) * 100.0 + 0.5) / 100.0 AS p90
    FROM ltv"""))

  // ---------------------------------------------------------------------
  // SnapshotTable end-to-end (manifest-committed format through the
  // oracle gate): each builds a real snapshot table in a fresh temp
  // dir, runs a table-level operation (MERGE / DELETE / stats-pruned
  // read), and returns a result whose oracle is the equivalent ANSI
  // SQL over the base parquet — so the differential check covers the
  // whole commit/rewrite/skipping machinery, not just the query plan.
  // The temp table is tracked in CacheRegistry, not deleted here: the
  // returned DataFrame lazily scans it, so deleting eagerly would
  // break the caller's execution. The caller's releaseAll() after
  // the result is materialized deletes it.
  // ---------------------------------------------------------------------

  private def snapTmp(): String = qTmp("graft-q-snap") + "/t"

  /** A fresh temp dir tracked for deletion at the caller's
    * `CacheRegistry.releaseAll()`. */
  private def qTmp(prefix: String): String =
    graft.operators.CacheRegistry.trackDir(
      java.nio.file.Files.createTempDirectory(prefix).toString)

  /** MERGE upsert through [[graft.sources.SnapshotTable.merge]]: the
    * customer table becomes a snapshot table; a CDC-style source sets
    * each 1995-Q1 purchaser's balance to its max order price (max —
    * not sum — so the merged value is an exact stored double on both
    * engines); the final table must equal the oracle's LEFT JOIN +
    * COALESCE view of the same update. Copy-on-write: only files
    * holding a matched key are rewritten. */
  private val qSnapshotMerge = Q(
    "q_snapshot_merge",
    (s, d) => {
      val dir = snapTmp()
      val base = t(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("c_mktsegment"))
      graft.sources.SnapshotTable.append(base, dir)
      val updates = t(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1995-01-01") &&
          col("o_orderdate") < lit("1995-04-01"))
        .groupBy(col("o_custkey").as("c_custkey"))
        .agg(max(col("o_totalprice")).as("new_bal"))
      val source = base.join(updates, "c_custkey")
        .select(col("c_custkey"), col("c_name"),
          col("new_bal").as("c_acctbal"), col("c_mktsegment"))
      graft.sources.SnapshotTable.merge(s, dir, source, Seq("c_custkey"))
      graft.sources.SnapshotTable.read(s, dir)
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
        .orderBy("c_custkey")
    },
    Some("""WITH u AS (
      SELECT o_custkey AS c_custkey, max(o_totalprice) AS new_bal
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        AND o_orderdate < TIMESTAMP '1995-04-01'
      GROUP BY 1)
    SELECT c.c_custkey, c.c_name,
      coalesce(u.new_bal, c.c_acctbal) AS c_acctbal, c.c_mktsegment
    FROM customer c LEFT JOIN u USING (c_custkey)
    ORDER BY c_custkey"""))

  /** Row-level DELETE through
    * [[graft.sources.SnapshotTable.deleteWhere]]: snapshot the orders
    * projection, copy-on-write delete every finished ('F') order, and
    * summarize what remains. The oracle states the delete as a plain
    * WHERE — the table after DELETE x must read exactly like the base
    * table filtered by NOT x. */
  private val qSnapshotDelete = Q(
    "q_snapshot_delete",
    (s, d) => {
      val dir = snapTmp()
      graft.sources.SnapshotTable.append(
        t(s, d, "orders").select(col("o_orderkey"), col("o_orderstatus"),
          col("o_orderpriority"), col("o_totalprice")),
        dir)
      graft.sources.SnapshotTable.deleteWhere(s, dir,
        col("o_orderstatus") === "F")
      graft.sources.SnapshotTable.read(s, dir)
        .groupBy(col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("n"),
          TextAnalysis.roundStable(max(col("o_totalprice")), 2)
            .as("max_price"))
        .orderBy("priority")
    },
    Some("""SELECT o_orderpriority AS priority, count(*) AS n,
      floor(max(o_totalprice) * 100.0 + 0.5) / 100.0 AS max_price
    FROM orders WHERE o_orderstatus <> 'F'
    GROUP BY 1 ORDER BY priority"""))

  /** Manifest-stats data skipping through
    * [[graft.sources.SnapshotTable.readWhere]]: three yearly appends
    * (each with o_orderdate file stats) give the table disjoint
    * per-file date ranges, so the 1995 range read opens only that
    * year's files — the Delta/Iceberg skipping path end to end, with
    * the result checked against the oracle's plain range filter.
    * (File-count selectivity itself is pinned in SnapshotTableSpec;
    * an oracle can only see the rows.) */
  private val qSnapshotPrune = Q(
    "q_snapshot_prune",
    (s, d) => {
      val dir = snapTmp()
      val orders = t(s, d, "orders").select(col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"))
      Seq(1994, 1995, 1996).foreach { y =>
        graft.sources.SnapshotTable.append(
          orders.filter(year(col("o_orderdate")) === y),
          dir, statsCols = Seq("o_orderdate"))
      }
      graft.sources.SnapshotTable.readWhere(s, dir, "o_orderdate",
          java.sql.Timestamp.valueOf("1995-01-01 00:00:00"),
          java.sql.Timestamp.valueOf("1995-12-31 23:59:59"))
        .groupBy(month(col("o_orderdate")).cast("long").as("mo"))
        .agg(count(lit(1)).as("n"),
          TextAnalysis.roundStable(max(col("o_totalprice")), 2)
            .as("max_price"))
        .orderBy("mo")
    },
    Some("""SELECT CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS mo,
      count(*) AS n,
      floor(max(o_totalprice) * 100.0 + 0.5) / 100.0 AS max_price
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01'
      AND o_orderdate <= TIMESTAMP '1995-12-31 23:59:59'
    GROUP BY 1 ORDER BY mo"""))

  /** Bloom-index point lookup through
    * [[graft.sources.SnapshotTable.readWhereEq]]: four INTERLEAVED
    * appends (o_orderkey % 4) make every file's min/max span the whole
    * key range — range stats prune nothing — while each append also
    * records a per-file Bloom bitset, so the equality probe opens only
    * the owning file (the O19 metadata point-get shape at table
    * scale; selectivity pinned in SnapshotTableSpec). The probe key is
    * max(o_orderkey) — one 1-row control-plane aggregate. */
  private val qSnapshotLookup = Q(
    "q_snapshot_lookup",
    (s, d) => {
      val dir = snapTmp()
      val orders = t(s, d, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
      (0 until 4).foreach { i =>
        graft.sources.SnapshotTable.append(
          orders.filter(pmod(col("o_orderkey"), lit(4)) === i),
          dir, statsCols = Seq("o_orderkey"), bloomCols = Seq("o_orderkey"))
      }
      val k = orders.agg(max("o_orderkey")).head.getLong(0)
      graft.sources.SnapshotTable.readWhereEq(s, dir, "o_orderkey", k)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"))
        .orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE o_orderkey = (SELECT max(o_orderkey) FROM orders)
    ORDER BY o_orderkey"""))

  /** CDC change feed through
    * [[graft.sources.SnapshotTable.changeFeed]]: snapshot customer,
    * MERGE the 1995-Q1 max-order-price update, then read the v0→v1
    * feed. Copy-on-write confines the diff to rewritten files, and
    * rewritten-but-identical rows cancel in the multiset difference —
    * so the feed is EXACTLY the delete+insert pair of every customer
    * whose balance actually changed, which the oracle states as a
    * plain join + UNION ALL over the base tables. */
  private val qSnapshotChanges = Q(
    "q_snapshot_changes",
    (s, d) => {
      val dir = snapTmp()
      val base = t(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("c_mktsegment"))
      graft.sources.SnapshotTable.append(base, dir)
      val updates = t(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1995-01-01") &&
          col("o_orderdate") < lit("1995-04-01"))
        .groupBy(col("o_custkey").as("c_custkey"))
        .agg(max(col("o_totalprice")).as("new_bal"))
      val source = base.join(updates, "c_custkey")
        .select(col("c_custkey"), col("c_name"),
          col("new_bal").as("c_acctbal"), col("c_mktsegment"))
      graft.sources.SnapshotTable.merge(s, dir, source, Seq("c_custkey"))
      graft.sources.SnapshotTable.changeFeed(s, dir, 0L, 1L)
        .select(col("c_custkey"), col("c_acctbal"), col("_change"))
        .orderBy("c_custkey", "_change")
    },
    Some("""WITH u AS (
      SELECT o_custkey AS c_custkey, max(o_totalprice) AS new_bal
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        AND o_orderdate < TIMESTAMP '1995-04-01'
      GROUP BY 1),
    ch AS (
      SELECT c.c_custkey, c.c_acctbal AS old_bal, u.new_bal
      FROM customer c JOIN u USING (c_custkey)
      WHERE u.new_bal <> c.c_acctbal)
    SELECT c_custkey, c_acctbal, _change FROM (
      SELECT c_custkey, new_bal AS c_acctbal, 'insert' AS _change FROM ch
      UNION ALL
      SELECT c_custkey, old_bal AS c_acctbal, 'delete' AS _change FROM ch)
    ORDER BY c_custkey, _change"""))

  /** Hidden partitioning through
    * [[graft.sources.SnapshotTable.appendPartitioned]]: orders lands
    * partitioned by o_orderpriority (the hive writer over duplicated
    * routing columns guarantees single-valued files; per-file
    * min==max stats make pruning exact, no path parsing), then an
    * equality read of one priority must open only that priority's
    * files (SnapshotTableSpec pins the file counts) and return
    * exactly the plain-filter result the oracle states. */
  private val qSnapshotPartition = Q(
    "q_snapshot_partition",
    (s, d) => {
      val dir = snapTmp()
      graft.sources.SnapshotTable.appendPartitioned(
        t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderpriority")),
        dir, Seq("o_orderpriority"))
      graft.sources.SnapshotTable.readWhereEq(
          s, dir, "o_orderpriority", "1-URGENT")
        .orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
    FROM orders WHERE o_orderpriority = '1-URGENT'
    ORDER BY o_orderkey"""))

  /** ANN with a TRAINED IVF quantizer
    * ([[graft.operators.Kmeans]] — integer-exact distributed Lloyd's,
    * bit-identical under any partitioning): 50 exact twins are
    * planted into the embedding corpus, 8 cells train for 3 rounds,
    * and each planted query probes ONLY its own cell. Identical
    * vectors quantize identically and therefore always share a cell,
    * so every twin must come back as the integer-distance-0 top-1 —
    * the planted-twin discipline (q_semdedup_lsh) that turns an
    * iterative-training ANN path into an oracle-checked row: the
    * oracle states the twin map in closed form. Training collects
    * only k×d integers per round (control plane); the probe
    * broadcasts queries and scans 1/k of the corpus. */
  private val qAnnKmeans = Q(
    "q_ann_kmeans",
    (s, d) => {
      val base = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = base.filter(col("vec_id") < 50)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      val corpus = base.unionByName(planted)
      val cents = graft.operators.Kmeans.train(corpus, 8, 3)
      graft.operators.Kmeans.ivfTopOne(corpus, cents,
          col("vec_id") >= 1000000L)
        .orderBy("query_id")
    },
    Some("""SELECT vec_id + 1000000 AS query_id, vec_id AS match_id,
      CAST(0 AS BIGINT) AS dist
    FROM embeddings WHERE vec_id < 50 ORDER BY query_id"""))

  /** The PRODUCTION trained-IVF path end to end: train the k-means
    * coarse quantizer ([[graft.operators.Kmeans.train]]), build the
    * physical index with it
    * ([[graft.operators.Similarity.writeIvfIndexTrained]] — cells =
    * trained centroids as partition directories, the full centroid
    * matrix in the sidecar), then answer queries through the
    * multi-probe read ([[graft.operators.Similarity
    * .ivfTopKIndexedTrained]] — dynamic partition pruning over the
    * probed cells). Planted exact twins make it oracle-checkable: an
    * identical vector lands in an identical cell by construction
    * (exact integer assignment), so single-probe top-1 is the twin at
    * cosine 1.0. q_ann_kmeans pins the quantizer math; THIS pins the
    * materialized index + sidecar + probe pipeline a user actually
    * runs. */
  private val qAnnTrained = Q(
    "q_ann_trained",
    (s, d) => {
      val base = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = base.filter(col("vec_id") < 50)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      val corpus = base.unionByName(planted)
      val cents = graft.operators.Kmeans.train(corpus, 8, 3)
      val dir = qTmp("graft-q-ivf") + "/idx"
      graft.operators.Similarity.writeIvfIndexTrained(corpus, dir, cents)
      graft.operators.Similarity.ivfTopKIndexedTrained(s, dir,
          col("vec_id") >= 1000000L, k = 1, probes = 1)
        .select(col("query_id"), col("cand_id").as("match_id"),
          col("cos_sim"))
        .orderBy("query_id")
    },
    Some("""SELECT vec_id + 1000000 AS query_id, vec_id AS match_id,
      CAST(1.0 AS DOUBLE) AS cos_sim
    FROM embeddings WHERE vec_id < 50 ORDER BY query_id"""))

  /** The end-to-end corpus CURATION FUNNEL — the trillion-token
    * pipeline's attrition report, composed from the shipped stage
    * primitives: Gopher-style structural gates
    * (TextAnalysis.gopherReject), the integer quality score at
    * threshold 0.6 (compared as the exact 0-10000 integer both
    * engines derive identically — the q_skyline discipline, so a
    * float ulp can never flip a keep decision), then exact dedup
    * keep-first-by-id among survivors. One scan computes every
    * per-doc flag; the only corpus-keyed exchange is the dedup
    * hash-group of stage-2 survivors (32-byte digests, text never
    * shuffles); each funnel row is a map-side-combined aggregate of
    * the same flagged scan. Oracle restates all three gates in SQL. */
  private val qCorpusFunnel = Q(
    "q_corpus_funnel",
    (s, d) => {
      val base = t(s, d, "documents")
        .select(col("doc_id"), col("text"),
          size(split(lower(col("text")), " ")).cast("long").as("n_tokens"),
          TextAnalysis.gopherReject(col("text")).isNull.as("g"),
          (floor(TextAnalysis.qualityScore(col("text")) * 10000.0 + 0.5)
            .cast("long") >= 6000L).as("q"))
      // Two corpus passes total, not one per stage: pass 1 derives the
      // dedup keepers (digests only shuffle); pass 2 joins the keeper
      // flag back (doc_id-keyed semi-shape) and folds ALL FOUR funnel
      // rows out of ONE aggregation — conditional sums per stage, then
      // a row-local explode to (stage, counts) rows. At 100 TB the
      // extra 3 scans the naive union-of-aggregates form pays are the
      // whole cost; this shape never reads a document twice per stage.
      val keepers = base.filter(col("g") && col("q"))
        .groupBy(sha2(col("text"), 256).as("h"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"), lit(true).as("k"))
      val flagged = base.join(keepers, Seq("doc_id"), "left")
      def pair(cond: Column, tag: String) = Seq(
        count(when(cond, 1)).as(s"d_$tag"),
        coalesce(sum(when(cond, col("n_tokens"))), lit(0L)).as(s"t_$tag"))
      val aggs = pair(lit(true), "all") ++ pair(col("g"), "g") ++
        pair(col("g") && col("q"), "gq") ++ pair(col("k").isNotNull, "ded")
      val one = flagged.agg(aggs.head, aggs.tail: _*)
      one.select(explode(array(
          struct(lit(0L).as("stage_rank"), lit("all").as("stage"),
            col("d_all").as("n_docs"), col("t_all").as("n_tokens")),
          struct(lit(1L).as("stage_rank"), lit("gopher").as("stage"),
            col("d_g").as("n_docs"), col("t_g").as("n_tokens")),
          struct(lit(2L).as("stage_rank"), lit("quality").as("stage"),
            col("d_gq").as("n_docs"), col("t_gq").as("n_tokens")),
          struct(lit(3L).as("stage_rank"), lit("dedup").as("stage"),
            col("d_ded").as("n_docs"), col("t_ded").as("n_tokens"))))
          .as("s"))
        .select(col("s.stage_rank").as("stage_rank"), col("s.stage").as("stage"),
          col("s.n_docs").as("n_docs"), col("s.n_tokens").as("n_tokens"))
        .orderBy("stage_rank")
    },
    Some("""WITH m AS (
      SELECT doc_id, text,
        CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
        CAST(len(replace(text, ' ', '')) AS BIGINT) AS nonspace,
        CAST(len(list_filter(string_split(lower(text), ' '),
          tk -> tk IN ('the', 'a', 'of', 'to', 'and'))) AS BIGINT) AS g_stop,
        CAST(len(list_filter(string_split(lower(text), ' '),
          x -> x IN ('the','and','of','to','a','in','is'))) AS BIGINT) AS q_stop,
        CAST(len(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS BIGINT)
          AS n_punct,
        CAST(len(text) AS BIGINT) AS n_char
      FROM documents),
    f AS (
      SELECT doc_id, text, n_tokens,
        (n_tokens >= 15 AND n_tokens <= 90
          AND nonspace >= 2 * n_tokens AND nonspace <= 12 * n_tokens
          AND g_stop * 50 >= n_tokens) AS g,
        (floor((least(n_tokens, 100) / 100.0 * 0.4
          + (q_stop * 1.0 / n_tokens) * 0.3
          + (1.0 - n_punct * 1.0 / n_char) * 0.3) * 10000.0 + 0.5)
          >= 6000) AS q
      FROM m),
    ded AS (
      SELECT min(doc_id) AS doc_id FROM f WHERE g AND q
      GROUP BY sha256(text))
    SELECT * FROM (
      SELECT CAST(0 AS BIGINT) AS stage_rank, 'all' AS stage,
        count(*) AS n_docs,
        CAST(COALESCE(sum(n_tokens), 0) AS BIGINT) AS n_tokens FROM f
      UNION ALL
      SELECT 1, 'gopher', count(*),
        CAST(COALESCE(sum(n_tokens), 0) AS BIGINT)
      FROM f WHERE g
      UNION ALL
      SELECT 2, 'quality', count(*),
        CAST(COALESCE(sum(n_tokens), 0) AS BIGINT)
      FROM f WHERE g AND q
      UNION ALL
      SELECT 3, 'dedup', count(*),
        CAST(COALESCE(sum(n_tokens), 0) AS BIGINT)
      FROM f WHERE doc_id IN (SELECT doc_id FROM ded))
    ORDER BY stage_rank"""))

  /** Distributed BPE tokenizer TRAINING (no oracle — iterative merge
    * selection is not SQL-expressible; BpeSpec pins the whole
    * pipeline bit-identical against a single-threaded reference
    * implementation, and the result is partitioning-independent by
    * construction: exact Long pair counts + lexicographic argmax
    * tie-break). One corpus-sized word-count shuffle collapses the
    * corpus to a vocabulary table; each merge is then a
    * map-side-combined pair count over that cached table plus a 1-row
    * argmax collect (control plane). The output is the learned merge
    * table in rank order. Ten merges here — the per-merge cost is
    * flat in corpus size (vocabulary-sized jobs), so the iteration
    * count is purely the vocabulary budget. */
  private val qBpeTrain = Q(
    "q_bpe_train",
    (s, d) => {
      import s.implicits._
      graft.operators.Bpe.train(t(s, d, "documents"), "text", 10)
        .zipWithIndex
        .map { case ((l, r), i) => (i.toLong, l, r) }
        .toDF("rank", "left", "right")
        .orderBy("rank")
    },
    None)

  /** BPE training at a REALISTIC merge budget through the BATCHED
    * trainer ([[graft.operators.Bpe.trainBatched]]) — 40 merges where
    * q_bpe_train's sequential baseline runs 10: each iteration admits
    * a provably-safe prefix of the pair table (symbol-disjoint,
    * concat-collision-free, threat-bounded by triple counts) and
    * applies it in ONE pass, so driver round-trips grow sub-linearly
    * in merges (measured: a 400-merge run takes the same 54
    * iterations as a 200-merge run — the tail batches massively).
    * No SQL oracle (iterative argmax, same contract as q_bpe_train);
    * BpeSpec pins the batched sequence bit-identical to the
    * single-threaded reference at a 200-merge budget. */
  private val qBpeTrainBatched = Q(
    "q_bpe_train_batched",
    (s, d) => {
      import s.implicits._
      graft.operators.Bpe.trainBatched(t(s, d, "documents"), "text", 30)
        .zipWithIndex
        .map { case ((l, r), i) => (i.toLong, l, r) }
        .toDF("rank", "left", "right")
        .orderBy("rank")
    },
    None)

  /** PRODUCT QUANTIZATION end to end ([[graft.operators.Pq]] — the
    * public IVF-PQ compression layer: vectors → m per-subspace
    * codebook ids, search via asymmetric distance lookups that never
    * touch the original vector). Oracle-checkable through a
    * mathematical invariant rather than planted-twin top-1 identity
    * (code collisions make exact ranks quantizer-dependent): a
    * planted twin SHARES the query's codes, and per subspace the
    * query's own code minimizes its LUT entry — so the twin's ADC
    * distance IS the global minimum over every code combination.
    * The query re-derives that as data (twin ADC == top-1 ADC per
    * planted query) through the real pipeline — train → materialized
    * codes index + sidecar → LUT broadcast → ADC scan — and the
    * oracle states the theorem: TRUE for every planted query. Any
    * break in encoding, sidecar round trip, LUT math, or ranking
    * falsifies a row. PqSpec additionally pins bit-identity vs a
    * driver reference and the compression/recall envelope. */
  private val qAnnPq = Q(
    "q_ann_pq",
    (s, d) => {
      val base = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = base.filter(col("vec_id") < 50)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      val corpus = base.unionByName(planted)
      // Twin minimality holds for ANY codebooks, so the training
      // budget is the demo-sized one (m×iters drives the job count).
      val cbs = graft.operators.Pq.train(corpus, m = 4, k = 8, iters = 1)
      val dir = qTmp("graft-q-pq") + "/idx"
      graft.operators.Pq.writePqIndex(corpus, dir, cbs)
      val scored = graft.operators.Pq.pqTopK(s, dir, corpus,
        col("vec_id") >= 1000000L, k = Int.MaxValue)
      val best = scored.filter(col("rk") === 1)
        .select(col("query_id"), col("adc_dist").as("best_dist"))
      val twin = scored
        .filter(col("cand_id") === col("query_id") - 1000000L)
        .select(col("query_id"), col("adc_dist").as("twin_dist"))
      best.join(twin, "query_id")
        .select(col("query_id"),
          (col("twin_dist") === col("best_dist")).as("twin_minimal"))
        .orderBy("query_id")
    },
    Some("""SELECT vec_id + 1000000 AS query_id, TRUE AS twin_minimal
    FROM embeddings WHERE vec_id < 50 ORDER BY query_id"""))

  /** The COMPOSED production ANN layout — IVF×PQ
    * ([[graft.operators.Pq.writeIvfPqIndex]]): codes partitioned by
    * trained coarse cell, so a probe reads probes/k of a 32×-
    * compressed table (the two multiplicative reductions at once).
    * Same twin-minimality oracle as q_ann_pq, but through the
    * composed index with a SINGLE cell probe: an identical twin lands
    * in the query's own cell (exact-integer assignment) AND shares
    * its codes, so even one probe must surface the global-minimum ADC
    * distance — any break in cell assignment, partition pruning,
    * either sidecar, or the ADC scan falsifies a row. */
  private val qAnnIvfPq = Q(
    "q_ann_ivfpq",
    (s, d) => {
      val base = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = base.filter(col("vec_id") < 50)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      val corpus = base.unionByName(planted)
      val cents = graft.operators.Kmeans.train(corpus, 8, 1)
      val cbs = graft.operators.Pq.train(corpus, m = 2, k = 8, iters = 1)
      val dir = qTmp("graft-q-ivfpq") + "/idx"
      graft.operators.Pq.writeIvfPqIndex(corpus, dir, cents, cbs)
      val scored = graft.operators.Pq.ivfPqTopK(s, dir, corpus,
        col("vec_id") >= 1000000L, k = Int.MaxValue, probes = 1)
      val best = scored.filter(col("rk") === 1)
        .select(col("query_id"), col("adc_dist").as("best_dist"))
      val twin = scored
        .filter(col("cand_id") === col("query_id") - 1000000L)
        .select(col("query_id"), col("adc_dist").as("twin_dist"))
      best.join(twin, "query_id")
        .select(col("query_id"),
          (col("twin_dist") === col("best_dist")).as("twin_minimal"))
        .orderBy("query_id")
    },
    Some("""SELECT vec_id + 1000000 AS query_id, TRUE AS twin_minimal
    FROM embeddings WHERE vec_id < 50 ORDER BY query_id"""))

  /** RESIDUAL IVF×PQ ([[graft.operators.Pq.trainResidual]] +
    * `writeIvfPqIndex(residual = true)`) — the full Jégou et al.
    * IVF-ADC design: codes encode x − c(cell) so the codebooks cover
    * only within-cell spread, and each probed cell gets its own
    * residual LUT. Twin minimality still closes the oracle: an
    * identical twin lands in the query's cell (exact assignment),
    * therefore shares its residual, therefore its codes — and per
    * subspace the query's own residual code minimizes its per-cell
    * LUT entry, so the twin's residual-ADC distance is the global
    * minimum. Exercises the fused native encode, the sidecar encoding
    * flag, per-(query, cell) LUT build, and DPP single-probe scan —
    * any break falsifies a row. */
  private val qAnnIvfPqRes = Q(
    "q_ann_ivfpq_res",
    (s, d) => {
      val base = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = base.filter(col("vec_id") < 50)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      val corpus = base.unionByName(planted)
      val cents = graft.operators.Kmeans.train(corpus, 8, 1)
      val cbs = graft.operators.Pq.trainResidual(corpus, cents,
        m = 2, k = 8, iters = 1)
      val dir = qTmp("graft-q-ivfpqr") + "/idx"
      graft.operators.Pq.writeIvfPqIndex(corpus, dir, cents, cbs,
        residual = true)
      val scored = graft.operators.Pq.ivfPqTopK(s, dir, corpus,
        col("vec_id") >= 1000000L, k = Int.MaxValue, probes = 1)
      val best = scored.filter(col("rk") === 1)
        .select(col("query_id"), col("adc_dist").as("best_dist"))
      val twin = scored
        .filter(col("cand_id") === col("query_id") - 1000000L)
        .select(col("query_id"), col("adc_dist").as("twin_dist"))
      best.join(twin, "query_id")
        .select(col("query_id"),
          (col("twin_dist") === col("best_dist")).as("twin_minimal"))
        .orderBy("query_id")
    },
    Some("""SELECT vec_id + 1000000 AS query_id, TRUE AS twin_minimal
    FROM embeddings WHERE vec_id < 50 ORDER BY query_id"""))

  /** TWO-STAGE RETRIEVAL ([[graft.operators.Pq.ivfPqTopKRerank]] —
    * ADC shortlist over the residual IVF×PQ codes, then exact cosine
    * re-rank of only the shortlist): the standard production search
    * stack. Oracle closed through the EXACTNESS ANCHOR: probing every
    * cell with an unbounded shortlist makes stage 1 a pass-through,
    * so the full pipeline — trained coarse cells, residual encode,
    * sidecar round trips, per-cell LUTs, ADC ranking, raw-vector
    * fetch join, exact re-rank — must reproduce plain brute-force
    * cosine top-5 bit-for-bit against the same SQL the q_ann_topk
    * oracle states. Any drift anywhere in the index machinery
    * surfaces as a row diff. */
  private val qAnnRerank = Q(
    "q_ann_rerank",
    (s, d) => {
      val corpus = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val cents = graft.operators.Kmeans.train(corpus, 8, 1)
      val cbs = graft.operators.Pq.trainResidual(corpus, cents,
        m = 2, k = 8, iters = 1)
      val dir = qTmp("graft-q-rrk") + "/idx"
      graft.operators.Pq.writeIvfPqIndex(corpus, dir, cents, cbs,
        residual = true)
      graft.operators.Pq.ivfPqTopKRerank(s, dir, corpus,
        col("vec_id") < 8, k = 5, probes = cents.length,
        shortlist = Int.MaxValue)
        .orderBy("query_id", "rk")
    },
    Some("""WITH m AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    w AS (SELECT vec_id, v,
      sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM m),
    q AS (SELECT * FROM w WHERE vec_id < 8),
    sc AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) AS cos_sim
      FROM q JOIN w c ON c.vec_id <> q.vec_id),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id
      ORDER BY cos_sim DESC, cand_id ASC) AS rk FROM sc)
    SELECT query_id, cand_id, cos_sim, rk FROM r
    WHERE rk <= 5 ORDER BY query_id, rk"""))

  /** Copy-on-write UPDATE through
    * [[graft.sources.SnapshotTable.updateWhere]] — the last corner of
    * the CRUD surface (the public `UPDATE t SET … WHERE …` shape):
    * archive every finished high-value order (re-priority + halve the
    * price; halving is exact in binary floating point, so the doubles
    * compare bit-equal cross-engine). SET expressions evaluate
    * against the PRE-update row by contract; the oracle states the
    * same update as CASE expressions over the base table — the table
    * after UPDATE must read exactly like that view. */
  private val qSnapshotUpdate = Q(
    "q_snapshot_update",
    (s, d) => {
      val dir = snapTmp()
      graft.sources.SnapshotTable.append(
        t(s, d, "orders").select(col("o_orderkey"), col("o_orderstatus"),
          col("o_orderpriority"), col("o_totalprice")), dir)
      val cond = col("o_orderstatus") === "F" &&
        col("o_totalprice") > 150000.0
      graft.sources.SnapshotTable.updateWhere(s, dir, cond, Seq(
        "o_orderpriority" -> lit("0-ARCHIVED"),
        "o_totalprice" -> (col("o_totalprice") * 0.5)))
      graft.sources.SnapshotTable.read(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_orderpriority",
          "o_totalprice")
        .orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey, o_orderstatus,
      CASE WHEN o_orderstatus = 'F' AND o_totalprice > 150000.0
        THEN '0-ARCHIVED' ELSE o_orderpriority END AS o_orderpriority,
      CASE WHEN o_orderstatus = 'F' AND o_totalprice > 150000.0
        THEN o_totalprice * 0.5 ELSE o_totalprice END AS o_totalprice
    FROM orders ORDER BY o_orderkey"""))

  /** The commit AUDIT LOG
    * ([[graft.sources.SnapshotTable.history]] — the public DESCRIBE
    * HISTORY shape) over a fully scripted operation sequence: every
    * writer records its operation name in the manifest it commits,
    * and the log derives per-version added/removed/live file counts
    * from the manifest chain alone. The file counts are structural
    * (explicit coalesce/repartition on every write), so the expected
    * log is a closed-form table the oracle states literally. */
  private val qSnapshotHistory = Q(
    "q_snapshot_history",
    (s, d) => {
      val dir = snapTmp()
      val cust = t(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      graft.sources.SnapshotTable.append(
        cust.filter(col("c_custkey") % 2 === 0).coalesce(1), dir)
      graft.sources.SnapshotTable.append(
        cust.filter(col("c_custkey") % 2 === 1).repartition(3), dir)
      graft.sources.SnapshotTable.deleteWhere(s, dir,
        col("c_custkey") === 2L)
      graft.sources.SnapshotTable.merge(s, dir,
        cust.filter(col("c_custkey") === 1L)
          .select(col("c_custkey"), lit("UPDATED").as("c_name"),
            col("c_acctbal")).coalesce(1),
        Seq("c_custkey"))
      graft.sources.SnapshotTable.compact(s, dir,
        targetBytes = 1L << 40)
      graft.sources.SnapshotTable.history(s, dir)
        .select("version", "op", "n_added", "n_removed", "n_files")
        .orderBy("version")
    },
    Some("""SELECT CAST(version AS BIGINT) AS version, op,
      CAST(n_added AS BIGINT) AS n_added,
      CAST(n_removed AS BIGINT) AS n_removed,
      CAST(n_files AS BIGINT) AS n_files
    FROM (VALUES
      (0, 'append', 1, 0, 1),
      (1, 'append', 3, 0, 4),
      (2, 'deleteWhere', 1, 1, 4),
      (3, 'merge', 2, 1, 5),
      (4, 'compact', 1, 5, 1))
      AS t(version, op, n_added, n_removed, n_files)
    ORDER BY version"""))

  /** The SnapshotTable SQL READ SURFACE end to end
    * ([[graft.sources.SnapshotSql]]): snapshot the orders projection
    * (with o_orderkey stats and an o_custkey Bloom), register it as a
    * view, and answer a plain `spark.sql` SELECT whose WHERE prunes
    * files through the manifest — the custom FileIndex receives the
    * pushed data filters and opens only stats/Bloom-surviving files
    * (SnapshotSqlSpec pins the file counts; results are exactly the
    * base table's, which is what the oracle states). This is the
    * "table format users can query" claim made checkable: same SQL,
    * same answer, manifest-pruned scan. */
  private val qSnapshotSql = Q(
    "q_snapshot_sql",
    (s, d) => {
      val dir = snapTmp()
      graft.sources.SnapshotTable.append(
        t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice")),
        dir, statsCols = Seq("o_orderkey"), bloomCols = Seq("o_custkey"))
      graft.sources.SnapshotTable.compact(s, dir,
        clusterBy = Seq("o_orderkey"))
      graft.sources.SnapshotSql.register(s, "q_snap_sql_orders", dir)
      s.sql("""SELECT o_custkey,
          count(*) AS n,
          CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) * 100 AS BIGINT)
            AS cents
        FROM q_snap_sql_orders
        WHERE o_orderkey >= 1000 AND o_orderkey <= 3000
        GROUP BY o_custkey ORDER BY o_custkey""")
    },
    Some("""SELECT o_custkey, count(*) AS n,
      CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) * 100 AS BIGINT) AS cents
    FROM orders
    WHERE o_orderkey >= 1000 AND o_orderkey <= 3000
    GROUP BY o_custkey ORDER BY o_custkey"""))

  /** The registered `format("graft")` connector
    * ([[graft.sources.GraftDataSource]], service-loaded by short
    * name): `df.write.format("graft")` commits through the manifest
    * (ErrorIfExists then Append here), `spark.read.format("graft")`
    * reads through the manifest-pruned parquet relation, and
    * `option("versionAsOf", v)` time-travels — the output unions the
    * latest snapshot's per-brand rollup with version 0's, so the
    * oracle pins both the two-commit final state AND that v0 still
    * reads as exactly the first write. */
  private val qSnapshotFormat = Q(
    "q_snapshot_format",
    (s, d) => {
      val dir = snapTmp()
      val src = t(s, d, "part")
        .select(col("p_partkey"), col("p_brand"), col("p_size"),
          col("p_retailprice"))
      src.filter(col("p_size") <= 25).write.format("graft")
        .option("statsCols", "p_partkey,p_size")
        .mode("errorifexists").save(dir)
      src.filter(col("p_size") > 25).write.format("graft")
        .option("statsCols", "p_partkey,p_size")
        .mode("append").save(dir)
      def rollup(df: DataFrame, probe: String): DataFrame =
        df.groupBy(col("p_brand"))
          .agg(count(lit(1)).as("n"),
            sum(col("p_retailprice").cast("decimal(18,6)") * 100)
              .cast("long").as("cents"))
          .select(lit(probe).as("probe"), col("p_brand"), col("n"),
            col("cents"))
      rollup(s.read.format("graft").load(dir), "latest")
        .unionByName(rollup(
          s.read.format("graft").option("versionAsOf", "0").load(dir), "v0"))
        .orderBy("probe", "p_brand")
    },
    Some("""SELECT probe, p_brand, n, cents FROM (
      SELECT 'latest' AS probe, p_brand, count(*) AS n,
        CAST(sum(CAST(p_retailprice AS DECIMAL(18,6)) * 100) AS BIGINT)
          AS cents
      FROM part GROUP BY p_brand
      UNION ALL
      SELECT 'v0' AS probe, p_brand, count(*) AS n,
        CAST(sum(CAST(p_retailprice AS DECIMAL(18,6)) * 100) AS BIGINT)
          AS cents
      FROM part WHERE p_size <= 25 GROUP BY p_brand)
    ORDER BY probe, p_brand"""))

  /** The table-to-table STREAMING pipe through the registered
    * connector: `readStream.format("graft")` (manifest versions as
    * offsets — initial snapshot, then exactly the files each commit
    * appended) into `writeStream.format("graft")` (exactly-once
    * ledgered appends keyed on appId+batchId). Two source commits
    * land across two micro-batches; the destination must hold every
    * source row exactly once — the oracle is the plain rollup of the
    * same source rows. */
  private val qSnapshotStream = Q(
    "q_snapshot_stream",
    (s, d) => {
      val src = snapTmp(); val dst = snapTmp()
      val ckpt = qTmp("graft-q-stream-ck")
      graft.sources.GraftDataSource.enableLocalCheckpointFastPath(s)
      val base = t(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      graft.sources.SnapshotTable.append(
        base.filter(pmod(col("c_custkey"), lit(2)) === 0), src)
      val q = s.readStream.format("graft").load(src)
        .writeStream.format("graft")
        .option("checkpointLocation", ckpt)
        .option("appId", "q-snapshot-stream")
        .start(dst)
      try {
        q.processAllAvailable()
        graft.sources.SnapshotTable.append(
          base.filter(pmod(col("c_custkey"), lit(2)) === 1), src)
        q.processAllAvailable()
      } finally q.stop()
      s.read.format("graft").load(dst)
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n"),
          sum(col("c_acctbal").cast("decimal(18,6)") * 100)
            .cast("long").as("cents"))
        .orderBy("segment")
    },
    Some("""SELECT c_mktsegment AS segment, count(*) AS n,
      CAST(sum(CAST(c_acctbal AS DECIMAL(18,6)) * 100) AS BIGINT) AS cents
    FROM customer GROUP BY 1 ORDER BY segment"""))

  /** Streaming ADMISSION CONTROL (`maxFilesPerTrigger`, the public
    * Delta source option — [[graft.sources.GraftStreamSource]]'s
    * composite `{v,i,snap}` offsets): the source table lands as
    * several single-partition appends, the stream is budgeted to 2
    * files per trigger, so the initial snapshot DRAINS across
    * multiple micro-batches instead of one 100 TB bite — and the
    * ledgered graft sink lands every chunk exactly once. The oracle
    * is the plain rollup: any chunk lost, duplicated, or re-emitted
    * across the drain flips the hash. `batches > 1` is asserted so
    * the rate limit provably engaged. */
  private val qSnapshotRatelimit = Q(
    "q_snapshot_ratelimit",
    (s, d) => {
      val src = snapTmp(); val dst = snapTmp()
      val ckpt = qTmp("graft-q-rate-ck")
      graft.sources.GraftDataSource.enableLocalCheckpointFastPath(s)
      val base = t(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      // several small files so the 2-file budget bites
      for (m <- 0 until 5)
        graft.sources.SnapshotTable.append(
          base.filter(pmod(col("c_custkey"), lit(5)) === m).coalesce(1), src)
      val q = s.readStream.format("graft")
        .option("maxFilesPerTrigger", "2").load(src)
        .writeStream.format("graft")
        .option("checkpointLocation", ckpt)
        .option("appId", "q-snapshot-ratelimit")
        .start(dst)
      try q.processAllAvailable() finally q.stop()
      val batches = graft.sources.SnapshotTable
        .latestVersion(s, dst).get + 1
      require(batches > 1,
        s"rate limit did not engage: initial snapshot landed in $batches batch(es)")
      s.read.format("graft").load(dst)
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n"),
          sum(col("c_acctbal").cast("decimal(18,6)") * 100)
            .cast("long").as("cents"))
        .orderBy("segment")
    },
    Some("""SELECT c_mktsegment AS segment, count(*) AS n,
      CAST(sum(CAST(c_acctbal AS DECIMAL(18,6)) * 100) AS BIGINT) AS cents
    FROM customer GROUP BY 1 ORDER BY segment"""))

  /** Incrementally-maintained materialized aggregate view
    * ([[graft.sources.MaterializedAgg]]): per-customer order
    * count + exact DECIMAL spend, created over half the orders, then
    * advanced by DELTA PROPAGATION through two source commits — an
    * append (second half) and a copy-on-write DELETE of every 'F'
    * order. Each refresh reads ONLY the files those commits touched
    * and rewrites only view files holding changed keys; the oracle
    * states what a full recomputation over the FINAL source would
    * say — incremental must equal recompute, including groups whose
    * last order died (absent rows, not zero rows). */
  private val qSnapshotMatview = Q(
    "q_snapshot_matview",
    (s, d) => {
      val src = snapTmp(); val view = snapTmp()
      val base = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"))
      graft.sources.SnapshotTable.append(
        base.filter(pmod(col("o_orderkey"), lit(2)) === 0), src)
      graft.sources.MaterializedAgg.create(s, src, view, Seq("o_custkey"),
        Seq(graft.sources.MaterializedAgg.AggSpec("n", "", "count"),
          graft.sources.MaterializedAgg.AggSpec("spend", "o_totalprice",
            "sum_decimal")),
        "q-matview")
      graft.sources.SnapshotTable.append(
        base.filter(pmod(col("o_orderkey"), lit(2)) === 1), src)
      graft.sources.MaterializedAgg.refresh(s, view)
      graft.sources.SnapshotTable.deleteWhere(s, src,
        col("o_orderstatus") === "F")
      graft.sources.MaterializedAgg.refresh(s, view)
      graft.sources.MaterializedAgg.read(s, view)
        .select(col("o_custkey"), col("n"),
          (col("spend") * 100).cast("long").as("cents"))
        .orderBy("o_custkey")
    },
    Some("""SELECT o_custkey, count(*) AS n,
      CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) * 100 AS BIGINT) AS cents
    FROM orders WHERE o_orderstatus <> 'F'
    GROUP BY o_custkey ORDER BY o_custkey"""))

  /** Min/max in an incrementally-maintained view
    * ([[graft.sources.MaterializedAgg]] kinds `min`/`max` — the
    * SEMI-decomposable aggregates): per-priority min/max/count of
    * order price, created over half the orders, advanced through an
    * append (inserts fold via least/greatest — no recompute) and then
    * a DELETE of every order above the stored per-group maxima's
    * range (an extremum RETRACTION for every group — the refresh must
    * recompute exactly the affected groups from the source, by
    * broadcast semi-join). Oracle = full recompute over the final
    * source state; a stale retained maximum or an unrecomputed group
    * hash-fails. */
  private val qMatviewMinmax = Q(
    "q_matview_minmax",
    (s, d) => {
      val src = snapTmp(); val view = snapTmp()
      val base = t(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      graft.sources.SnapshotTable.append(
        base.filter(pmod(col("c_custkey"), lit(2)) === 0), src)
      graft.sources.MaterializedAgg.create(s, src, view,
        Seq("c_mktsegment"),
        Seq(graft.sources.MaterializedAgg.AggSpec("n", "", "count"),
          graft.sources.MaterializedAgg.AggSpec("lo", "c_acctbal", "min"),
          graft.sources.MaterializedAgg.AggSpec("hi", "c_acctbal", "max")),
        "q-matview-minmax")
      graft.sources.SnapshotTable.append(
        base.filter(pmod(col("c_custkey"), lit(2)) === 1), src)
      graft.sources.MaterializedAgg.refresh(s, view)
      graft.sources.SnapshotTable.deleteWhere(s, src,
        col("c_acctbal") > 5000.0)
      graft.sources.MaterializedAgg.refresh(s, view)
      graft.sources.MaterializedAgg.read(s, view)
        .select(col("c_mktsegment").as("segment"), col("n"),
          (col("lo").cast("decimal(18,6)") * 100).cast("long").as("lo_cents"),
          (col("hi").cast("decimal(18,6)") * 100).cast("long").as("hi_cents"))
        .orderBy("segment")
    },
    Some("""SELECT c_mktsegment AS segment, count(*) AS n,
      CAST(CAST(min(c_acctbal) AS DECIMAL(18,6)) * 100 AS BIGINT)
        AS lo_cents,
      CAST(CAST(max(c_acctbal) AS DECIMAL(18,6)) * 100 AS BIGINT)
        AS hi_cents
    FROM customer WHERE c_acctbal <= 5000
    GROUP BY 1 ORDER BY segment"""))

  /** LIVE SQL views ([[graft.sources.SnapshotSql.registerLive]]):
    * the view registered ONCE over the half-loaded table, then read
    * AFTER two more commits (an append and a CoW delete) with no
    * re-registration — every query re-resolves the table head at
    * scan-build time (one pinned version per SQL execution). The
    * oracle states the final table contents; a stale (pinned-at-
    * registration) read would miss the second half and resurrect the
    * deleted rows. */
  private val qSnapshotLive = Q(
    "q_snapshot_live",
    (s, d) => {
      val dir = snapTmp()
      val base = t(s, d, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"))
      graft.sources.SnapshotTable.append(
        base.filter(pmod(col("s_suppkey"), lit(2)) === 0), dir)
      graft.sources.SnapshotSql.registerLive(s, "q_live_view", dir)
      graft.sources.SnapshotTable.append(
        base.filter(pmod(col("s_suppkey"), lit(2)) === 1), dir)
      graft.sources.SnapshotTable.deleteWhere(s, dir,
        col("s_acctbal") < 0.0)
      s.sql("""SELECT s_nationkey, count(*) AS n,
          CAST(sum(CAST(s_acctbal AS DECIMAL(18,6)) * 100) AS BIGINT)
            AS cents
        FROM q_live_view GROUP BY s_nationkey ORDER BY s_nationkey""")
    },
    Some("""SELECT s_nationkey, count(*) AS n,
      CAST(sum(CAST(s_acctbal AS DECIMAL(18,6)) * 100) AS BIGINT) AS cents
    FROM supplier WHERE s_acctbal >= 0
    GROUP BY s_nationkey ORDER BY s_nationkey"""))

  /** BUCKETED snapshot tables ([[graft.sources.SnapshotTable
    * .appendBucketed]]): customer and orders land bucketed on their
    * custkey with matching bucket counts — rows routed by Spark's own
    * bucket function, file names carrying Spark-parseable bucket ids,
    * the layout committed in the manifest — and the fact⋈fact join
    * through the [[graft.sources.SnapshotSql]] surface then plans
    * with ZERO Exchange (pinned in SnapshotBucketSpec; at 100 TB this
    * is the difference between re-shuffling both tables per query and
    * reading co-located files). The oracle is the plain join: the
    * co-location claim must change nothing about the answer. */
  private val qSnapshotBucket = Q(
    "q_snapshot_bucket",
    (s, d) => {
      val ca = snapTmp(); val oa = snapTmp()
      graft.sources.SnapshotTable.appendBucketed(
        t(s, d, "customer").select(col("c_custkey"), col("c_mktsegment")),
        ca, Seq("c_custkey"), numBuckets = 8, sortBy = Seq("c_custkey"))
      graft.sources.SnapshotTable.appendBucketed(
        t(s, d, "orders").select(col("o_custkey"), col("o_totalprice")),
        oa, Seq("o_custkey"), numBuckets = 8, sortBy = Seq("o_custkey"))
      graft.sources.SnapshotSql.dataFrame(s, ca)
        .join(graft.sources.SnapshotSql.dataFrame(s, oa),
          col("c_custkey") === col("o_custkey"))
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)") * 100)
            .cast("long").as("cents"))
        .orderBy("segment")
    },
    Some("""SELECT c_mktsegment AS segment, count(*) AS n,
      CAST(sum(CAST(o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT) AS cents
    FROM customer JOIN orders ON c_custkey = o_custkey
    GROUP BY 1 ORDER BY segment"""))

  /** TYPE-2 DIMENSION maintenance ([[graft.operators.Scd2]]): a
    * full-history dimension kept in sync with a source table by
    * consuming its row-level change feed — close-old + open-new as
    * ONE applyChanges commit on the composite (key, _valid_from), the
    * cursor ledgered in the same commit (exactly-once). The query
    * drives the full lifecycle — bootstrap over half the orders,
    * append the other half, a price-doubling UPDATE of urgent orders,
    * a DELETE of F-status orders — each followed by a maintain(), and
    * rolls the dimension up by interval (valid_from, valid_to). The
    * oracle restates every interval population in closed form over
    * the base table (versions are deterministic: 0=bootstrap,
    * 1=append, 2=update, 3=delete), so a mis-closed interval, a
    * duplicated open row, or a wrong stamp flips the hash. */
  private val qScd2Dim = Q(
    "q_scd2_dim",
    (s, d) => {
      val src = snapTmp(); val dim = snapTmp()
      // a 1-in-3 key slice: the lifecycle machinery (4 maintains ×
      // changeFeed + dim rewrite) is what's under test, not bulk
      val base = t(s, d, "orders")
        .filter(pmod(col("o_orderkey"), lit(3)) === 0)
        .select(col("o_orderkey"),
          col("o_orderpriority"), col("o_orderstatus"), col("o_totalprice"))
      graft.sources.SnapshotTable.append(
        base.filter(pmod(col("o_orderkey"), lit(2)) === 0), src)    // v0
      graft.operators.Scd2.maintain(s, src, dim, Seq("o_orderkey"),
        "q-scd2")
      graft.sources.SnapshotTable.append(
        base.filter(pmod(col("o_orderkey"), lit(2)) === 1), src)    // v1
      graft.operators.Scd2.maintain(s, src, dim, Seq("o_orderkey"),
        "q-scd2")
      graft.sources.SnapshotTable.updateWhere(s, src,
        col("o_orderpriority") === "1-URGENT",
        Seq("o_totalprice" -> (col("o_totalprice") * 2)))           // v2
      graft.operators.Scd2.maintain(s, src, dim, Seq("o_orderkey"),
        "q-scd2")
      graft.sources.SnapshotTable.deleteWhere(s, src,
        col("o_orderstatus") === "F")                               // v3
      graft.operators.Scd2.maintain(s, src, dim, Seq("o_orderkey"),
        "q-scd2")
      graft.sources.SnapshotTable.read(s, dim)
        .groupBy(col(graft.operators.Scd2.ValidFrom).as("vf"),
          coalesce(col(graft.operators.Scd2.ValidTo), lit(-1L)).as("vt"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)") * 100)
            .cast("long").as("cents"))
        .orderBy("vf", "vt")
    },
    Some("""WITH base AS (
      SELECT o_orderkey AS k, o_orderpriority AS pri,
             o_orderstatus AS st, o_totalprice AS price,
             CASE WHEN o_orderkey % 2 = 0 THEN 0 ELSE 1 END AS vf0
      FROM orders WHERE o_orderkey % 3 = 0),
    ivals AS (
      SELECT vf0 AS vf,
        CASE WHEN pri = '1-URGENT' THEN 2
             WHEN st = 'F' THEN 3 ELSE -1 END AS vt,
        price
      FROM base
      UNION ALL
      SELECT 2 AS vf, CASE WHEN st = 'F' THEN 3 ELSE -1 END AS vt,
        price * 2 AS price
      FROM base WHERE pri = '1-URGENT')
    SELECT CAST(vf AS BIGINT) AS vf, CAST(vt AS BIGINT) AS vt,
      count(*) AS n,
      CAST(sum(CAST(price AS DECIMAL(18,6)) * 100) AS BIGINT) AS cents
    FROM ivals GROUP BY 1, 2 ORDER BY vf, vt"""))

  /** Incrementally-maintained COUNT(DISTINCT) by COMPOSITION:
    * distinct counts are not delta-maintainable directly (an insert's
    * newness and a delete's last-ness both need the value set), but
    * DISTINCTNESS is — materialize the (key, value)-grouped view with
    * its hidden live-row counts ([[graft.sources.MaterializedAgg]]
    * kind `count` keyed by (l_partkey, l_suppkey)): a pair's row dies
    * exactly when its LAST source row dies, so the view's live pairs
    * are `SELECT DISTINCT key, value` at every refresh, maintained in
    * O(changed files) through appends AND deletes. The distinct count
    * per key is then a group SIZE at read time — O(pairs), no source
    * scan. The query drives create → append-refresh → delete-refresh
    * and reads the per-part distinct-supplier histogram; oracle =
    * COUNT(DISTINCT) recomputed from the final source state. */
  private val qMatviewDistinct = Q(
    "q_matview_distinct",
    (s, d) => {
      val src = snapTmp(); val view = snapTmp()
      val li = t(s, d, "lineitem")
        .filter(pmod(col("l_partkey"), lit(10)) === 0)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"))
      graft.sources.SnapshotTable.append(
        li.filter(pmod(col("l_orderkey"), lit(2)) === 0), src)
      graft.sources.MaterializedAgg.create(s, src, view,
        Seq("l_partkey", "l_suppkey"),
        Seq(graft.sources.MaterializedAgg.AggSpec("n", "", "count")),
        "q-matview-distinct")
      graft.sources.SnapshotTable.append(
        li.filter(pmod(col("l_orderkey"), lit(2)) === 1), src)
      graft.sources.MaterializedAgg.refresh(s, view)
      graft.sources.SnapshotTable.deleteWhere(s, src,
        col("l_quantity") < 10)
      graft.sources.MaterializedAgg.refresh(s, view)
      graft.sources.MaterializedAgg.read(s, view)
        .groupBy(col("l_partkey")).agg(count(lit(1)).as("n_supp"))
        .groupBy(col("n_supp")).agg(count(lit(1)).cast("long").as("n_parts"))
        .orderBy("n_supp")
    },
    Some("""WITH pairs AS (
      SELECT DISTINCT l_partkey, l_suppkey
      FROM lineitem
      WHERE l_partkey % 10 = 0 AND l_quantity >= 10),
    per_part AS (
      SELECT l_partkey, count(*) AS n_supp FROM pairs GROUP BY 1)
    SELECT n_supp, CAST(count(*) AS BIGINT) AS n_parts
    FROM per_part GROUP BY 1 ORDER BY n_supp"""))

  /** Maintained MOMENTS in an incrementally-maintained view
    * ([[graft.sources.MaterializedAgg]] kind `sum_sq_long` — exact
    * integer sum-of-squares in the DECIMAL(38,0) ring): per-language
    * (count, Σchars, Σchars²) over documents, created on half the
    * corpus, advanced through an append and a DELETE of every long
    * document — all on the PURE-DELTA path (squares subtract exactly;
    * no recompute branch exists for moments, unlike min/max). Average
    * and population stddev then DERIVE at read time from the triple
    * (`sq/n − (s/n)²` — the maintainable-moments identity), so the
    * "stddev per group over 100 TB, refreshed hourly" query costs
    * O(changed files) per refresh and O(groups) per read. Oracle =
    * the same moments recomputed from scratch over the final state;
    * the divisions run on exact integer inputs so the doubles are a
    * fixed IEEE sequence on both engines (4-dp floor for safety). */
  private val qMatviewStats = Q(
    "q_matview_stats",
    (s, d) => {
      val src = snapTmp(); val view = snapTmp()
      val base = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      graft.sources.SnapshotTable.append(
        base.filter(pmod(col("doc_id"), lit(2)) === 0), src)
      graft.sources.MaterializedAgg.create(s, src, view, Seq("lang"),
        Seq(graft.sources.MaterializedAgg.AggSpec("n", "", "count"),
          graft.sources.MaterializedAgg.AggSpec("s", "n_chars", "sum_long"),
          graft.sources.MaterializedAgg.AggSpec("sq", "n_chars",
            "sum_sq_long")),
        "q-matview-stats")
      graft.sources.SnapshotTable.append(
        base.filter(pmod(col("doc_id"), lit(2)) === 1), src)
      graft.sources.MaterializedAgg.refresh(s, view)
      graft.sources.SnapshotTable.deleteWhere(s, src, col("n_chars") > 400L)
      graft.sources.MaterializedAgg.refresh(s, view)
      val nD = col("n").cast("double")
      val mean = col("s").cast("double") / nD
      val varP = greatest(
        col("sq").cast("double") / nD - mean * mean, lit(0.0))
      graft.sources.MaterializedAgg.read(s, view)
        .select(col("lang"), col("n"), col("s"),
          TextAnalysis.round4Stable(mean).as("avg_chars"),
          TextAnalysis.round4Stable(sqrt(varP)).as("sd_chars"))
        .orderBy("lang")
    },
    Some("""WITH m AS (
      SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS s,
        sum(CAST(n_chars AS HUGEINT) * CAST(n_chars AS HUGEINT)) AS sq
      FROM documents WHERE n_chars <= 400 GROUP BY lang)
    SELECT lang, n, s,
      floor((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) * 10000.0 + 0.5)
        / 10000.0 AS avg_chars,
      floor(sqrt(greatest(
          CAST(sq AS DOUBLE) / CAST(n AS DOUBLE)
            - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
              * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 0.0))
        * 10000.0 + 0.5) / 10000.0 AS sd_chars
    FROM m ORDER BY lang"""))

  /** MATERIALIZED BM25 retrieval through
    * [[graft.operators.Bm25Index]] — the inverted index as a
    * composition of this engine's own primitives: term-clustered
    * Bloom'd posting SnapshotTables (a k-term query opens only its
    * terms' files), document length DENORMALIZED into the postings
    * (no per-doc join at query time), corpus scalars as a ONE-ROW
    * [[graft.sources.MaterializedAgg]] view. Built on half the corpus
    * and EXTENDED with the other half (postings append + matview
    * refresh), so the oracle — the q_bm25 full-scan scorer summed
    * per doc over the fixed query terms — pins the incremental build
    * AND the pruned query path against an engine that scans
    * everything. Rounded per-term scores sum in DECIMAL: top-k
    * boundaries are aggregation-order-free. */
  private val qTextIndex = Q(
    "q_text_index",
    (s, d) => {
      val dir = snapTmp()
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      graft.operators.Bm25Index.append(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0), dir)
      graft.operators.Bm25Index.append(
        docs.filter(pmod(col("doc_id"), lit(2)) === 1), dir)
      graft.operators.Bm25Index.search(s, dir,
        Seq("spark", "merge", "window", "vector"), 10)
    },
    Some("""WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
    dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
    dfreq AS (SELECT tok, count(*) AS df FROM tf
      WHERE tok IN ('spark', 'merge', 'window', 'vector') GROUP BY 1),
    stats AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS tottok
      FROM dl),
    scored AS (
      SELECT t.doc_id,
        floor(ln(1.0 + (s.n - f.df + 0.5) / (f.df + 0.5))
            * (t.tf * 2.2)
            / (t.tf + 1.2 * (0.25 + 0.75 * l.dl / (s.tottok / s.n)))
          * 1000000.0 + 0.5) / 1000000.0 AS s1
      FROM tf t JOIN dl l USING (doc_id) JOIN dfreq f USING (tok), stats s
      WHERE t.tok IN ('spark', 'merge', 'window', 'vector'))
    SELECT doc_id,
      CAST(CAST(sum(CAST(s1 AS DECIMAL(18,6))) AS DECIMAL(18,6))
        AS DOUBLE) AS score
    FROM scored GROUP BY doc_id
    ORDER BY score DESC, doc_id LIMIT 10"""))

  /** Metadata-only COUNT(*) through
    * [[graft.sources.SnapshotTable.countRows]]: every data file's
    * footer row count rides the manifest stats as the reserved
    * `__rows` pseudo-column, so COUNT(*) folds the manifest instead
    * of scanning 100 TB — and stays EXACT through copy-on-write and
    * merge-on-read deletes (masked positions subtract from the dv
    * sidecars). Three phases (post-append via time travel, post-CoW,
    * post-MoR), each count computed WITHOUT touching a data file;
    * the oracle's plain SQL counts bite if any op family's
    * bookkeeping drifts by even one row. */
  private val qSnapshotCount = Q(
    "q_snapshot_count",
    (s, d) => {
      val dir = snapTmp()
      graft.sources.SnapshotTable.append(
        t(s, d, "orders").select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice")), dir)
      val v0 = graft.sources.SnapshotTable.latestVersion(s, dir).get
      graft.sources.SnapshotTable.deleteWhere(s, dir,
        col("o_orderstatus") === "F")
      val v1 = graft.sources.SnapshotTable.latestVersion(s, dir).get
      graft.sources.SnapshotTable.deleteWhereMor(s, dir,
        col("o_totalprice") > 300000.0)
      import s.implicits._
      Seq(
        ("appended",
          graft.sources.SnapshotTable.countRows(s, dir, Some(v0))),
        ("cow", graft.sources.SnapshotTable.countRows(s, dir, Some(v1))),
        ("mor", graft.sources.SnapshotTable.countRows(s, dir)))
        .toDF("phase", "n").orderBy("phase")
    },
    Some("""SELECT phase, n FROM (
      SELECT 'appended' AS phase, count(*) AS n FROM orders
      UNION ALL
      SELECT 'cow' AS phase, count(*) AS n FROM orders
      WHERE o_orderstatus <> 'F'
      UNION ALL
      SELECT 'mor' AS phase, count(*) AS n FROM orders
      WHERE o_orderstatus <> 'F' AND o_totalprice <= 300000)
    ORDER BY phase"""))

  /** HYBRID retrieval — the production search stack's last stage:
    * a dense list (cosine-vs-query top-20 over embeddings,
    * q_similarity_topk's exact rounded scorer) and a sparse list
    * (BM25 top-20 through the [[graft.operators.Bm25Index]] pruned
    * index) fuse by reciprocal-rank fusion
    * ([[graft.operators.Ranking.rrfFuse]]) under the multimodal
    * doc_id = vec_id contract. RRF's 1/(c+rank) terms are scaled to
    * exact integers (floor(1e9/(60+r))), so the fused top-10 is
    * bit-stable cross-engine; the oracle restates both retrievers
    * AND the fusion in SQL — a rank flip anywhere in either leg
    * reorders the fusion and fails the hash. */
  private val qHybridSearch = Q(
    "q_hybrid_search",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val dir = snapTmp()
      graft.operators.Bm25Index.append(
        t(s, d, "documents").select(col("doc_id"), col("text")), dir)
      val sparse = graft.operators.Bm25Index.search(s, dir,
        Seq("join", "filter", "batch"), 20)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc)))
        .select(col("doc_id").as("id"), col("rank"))
      val dot = aggregate(col("embedding"), lit(0.0),
        (acc, x) => acc + x.cast("double"))
      val sq = aggregate(col("embedding"), lit(0.0),
        (acc, x) => acc + x.cast("double") * x.cast("double"))
      val dense = t(s, d, "embeddings")
        .select(col("vec_id"),
          round(dot / (sqrt(sq) * sqrt(lit(64.0))), 6).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id").asc).limit(20)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("cos_sim").desc, col("vec_id").asc)))
        .select(col("vec_id").as("id"), col("rank"))
      graft.operators.Ranking.rrfFuse(Seq(dense, sparse), "id", "rank",
        k = 10)
    },
    Some("""WITH dns AS (
      SELECT vec_id AS id, row_number() OVER (
          ORDER BY cos_sim DESC, vec_id ASC) AS r
      FROM (
        SELECT vec_id,
          round(
            list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)))
            / (sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
               * sqrt(64.0)), 6) AS cos_sim
        FROM embeddings ORDER BY cos_sim DESC, vec_id ASC LIMIT 20)),
    toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
    dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
    dfreq AS (SELECT tok, count(*) AS df FROM tf
      WHERE tok IN ('join', 'filter', 'batch') GROUP BY 1),
    stats AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS tottok
      FROM dl),
    bm AS (
      SELECT doc_id, CAST(CAST(sum(CAST(s1 AS DECIMAL(18,6)))
          AS DECIMAL(18,6)) AS DOUBLE) AS score
      FROM (
        SELECT t.doc_id,
          floor(ln(1.0 + (s.n - f.df + 0.5) / (f.df + 0.5))
              * (t.tf * 2.2)
              / (t.tf + 1.2 * (0.25 + 0.75 * l.dl / (s.tottok / s.n)))
            * 1000000.0 + 0.5) / 1000000.0 AS s1
        FROM tf t JOIN dl l USING (doc_id) JOIN dfreq f USING (tok),
          stats s
        WHERE t.tok IN ('join', 'filter', 'batch'))
      GROUP BY doc_id),
    sprs AS (
      SELECT doc_id AS id, row_number() OVER (
          ORDER BY score DESC, doc_id ASC) AS r
      FROM (SELECT * FROM bm ORDER BY score DESC, doc_id LIMIT 20)),
    unioned AS (
      SELECT id, CAST(floor(1000000000.0 / (60 + r)) AS BIGINT) AS t
      FROM dns
      UNION ALL
      SELECT id, CAST(floor(1000000000.0 / (60 + r)) AS BIGINT) AS t
      FROM sprs)
    SELECT id, count(*) AS n_lists, CAST(sum(t) AS BIGINT) AS rrf_ppb
    FROM unioned GROUP BY id
    ORDER BY rrf_ppb DESC, id ASC LIMIT 10"""))

  /** `TIMESTAMP AS OF` time travel through
    * [[graft.sources.SnapshotTable.readAsOf]]: manifests stamp their
    * commit wall-clock, [[graft.sources.SnapshotTable.commitTimeline]]
    * adjusts the stamps monotonic (max(prev+1, own) — the public
    * Delta discipline, so clock skew can't run history backwards),
    * and a timestamp resolves to the latest version at or before it.
    * Customers land in two commits and a CoW delete follows; the
    * output reads the table AS OF each commit's own adjusted instant
    * — first half, full table, post-delete — so a resolution that's
    * off by even one version flips a phase's rows and fails the
    * hash. */
  private val qSnapshotTimetravel = Q(
    "q_snapshot_timetravel",
    (s, d) => {
      val dir = snapTmp()
      val base = t(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      graft.sources.SnapshotTable.append(
        base.filter(pmod(col("c_custkey"), lit(2)) === 0), dir)  // v0
      graft.sources.SnapshotTable.append(
        base.filter(pmod(col("c_custkey"), lit(2)) === 1), dir)  // v1
      graft.sources.SnapshotTable.deleteWhere(s, dir,
        col("c_acctbal") < 0.0)                                  // v2
      val tl = graft.sources.SnapshotTable.commitTimeline(s, dir).toMap
      def rollup(v: Long, phase: String) = graft.sources.SnapshotTable
        .readAsOf(s, dir, tl(v))
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n"),
          sum(col("c_acctbal").cast("decimal(18,6)") * 100)
            .cast("long").as("cents"))
        .select(lit(phase).as("phase"), col("segment"), col("n"),
          col("cents"))
      rollup(0L, "half").unionByName(rollup(1L, "full"))
        .unionByName(rollup(2L, "deleted"))
        .orderBy("phase", "segment")
    },
    Some("""SELECT phase, segment, n, cents FROM (
      SELECT 'half' AS phase, c_mktsegment AS segment, count(*) AS n,
        CAST(sum(CAST(c_acctbal AS DECIMAL(18,6)) * 100) AS BIGINT)
          AS cents
      FROM customer WHERE c_custkey % 2 = 0 GROUP BY 2
      UNION ALL
      SELECT 'full' AS phase, c_mktsegment AS segment, count(*) AS n,
        CAST(sum(CAST(c_acctbal AS DECIMAL(18,6)) * 100) AS BIGINT)
          AS cents
      FROM customer GROUP BY 2
      UNION ALL
      SELECT 'deleted' AS phase, c_mktsegment AS segment, count(*) AS n,
        CAST(sum(CAST(c_acctbal AS DECIMAL(18,6)) * 100) AS BIGINT)
          AS cents
      FROM customer WHERE c_acctbal >= 0 GROUP BY 2)
    ORDER BY phase, segment"""))

  /** Corpus BPE tokenization through
    * [[graft.operators.Bpe.encodeCorpus]] — the PRODUCTION tokenizer
    * apply (one map-only scan, merges ride as a task constant, zero
    * shuffle until the histogram): the whole corpus encodes under a
    * FIXED rank-ordered merge list, then the token histogram's top 25.
    * The oracle restates BPE itself in SQL via a delimiter encoding:
    * symbols joined by DOUBLE spaces, each merge = one `replace()` of
    * `' l  r '` with `' lr '` — leftmost non-overlapping scanning
    * that consumes ONE space from each side's double gap, which
    * reproduces the reference pass's prev-reset pairing exactly (the
    * single-space encoding would eat the next pair's boundary). An
    * engine-side deviation in merge ORDER, pairing discipline, or
    * word splitting flips token counts and fails the hash. */
  private val qBpeEncode = Q(
    "q_bpe_encode",
    (s, d) => {
      val merges = Seq("e" -> "r", "t" -> "h", "th" -> "e", "a" -> "n",
        "i" -> "n", "o" -> "n", "an" -> "d")
      t(s, d, "documents")
        .select(explode(
          graft.operators.Bpe.encodeCorpus(col("text"), merges)).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok").asc).limit(25)
    },
    Some("""WITH words AS (
      SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS w
      FROM documents),
    enc AS (
      SELECT replace(replace(replace(replace(replace(replace(replace(
        '  ' || regexp_replace(w, '(.)', '\1  ', 'g'),
        ' e  r ', ' er '), ' t  h ', ' th '), ' th  e ', ' the '),
        ' a  n ', ' an '), ' i  n ', ' in '), ' o  n ', ' on '),
        ' an  d ', ' and ') AS s
      FROM words WHERE length(w) > 0),
    toks AS (
      SELECT unnest(string_split_regex(trim(s), ' +')) AS tok FROM enc)
    SELECT tok, count(*) AS n FROM toks WHERE length(tok) > 0
    GROUP BY tok ORDER BY n DESC, tok LIMIT 25"""))

  /** CHECK constraints through
    * [[graft.sources.SnapshotTable.addConstraint]] — manifest-recorded
    * table policy enforced BEFORE data lands: under a price-cap
    * constraint a violating batch is REFUSED (asserted — the rows
    * must not land), a conforming batch lands, and after
    * [[graft.sources.SnapshotTable.dropConstraint]] the previously
    * refused rows land too. Final state = every order exactly once,
    * so the oracle (the plain full-table rollup) bites from both
    * sides: enforcement that silently let the bad batch through
    * would double rows; enforcement that wrongly refused the good
    * batches would drop them. */
  private val qSnapshotConstraint = Q(
    "q_snapshot_constraint",
    (s, d) => {
      val dir = snapTmp()
      val base = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_totalprice"))
      val cap = 300000.0
      graft.sources.SnapshotTable.append(
        base.filter(pmod(col("o_orderkey"), lit(2)) === 0 &&
          col("o_totalprice") <= cap), dir)
      graft.sources.SnapshotTable.addConstraint(s, dir, "price_cap",
        s"o_totalprice <= $cap")
      val refused = try {
        graft.sources.SnapshotTable.append(
          base.filter(col("o_totalprice") > cap), dir)
        false
      } catch { case _: IllegalArgumentException => true }
      require(refused, "constraint failed to refuse a violating batch")
      graft.sources.SnapshotTable.append(
        base.filter(pmod(col("o_orderkey"), lit(2)) === 1 &&
          col("o_totalprice") <= cap), dir)
      graft.sources.SnapshotTable.dropConstraint(s, dir, "price_cap")
      graft.sources.SnapshotTable.append(
        base.filter(col("o_totalprice") > cap), dir)
      graft.sources.SnapshotTable.read(s, dir)
        .groupBy(col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)") * 100)
            .cast("long").as("cents"))
        .orderBy("priority")
    },
    Some("""SELECT o_orderpriority AS priority, count(*) AS n,
      CAST(sum(CAST(o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT)
        AS cents
    FROM orders GROUP BY 1 ORDER BY priority"""))

  /** RESTORE through [[graft.sources.SnapshotTable.restore]] — the
    * rollback-as-commit surface (`RESTORE TABLE … VERSION AS OF`):
    * orders land in two appends, a CoW DELETE drops every 'F' order,
    * and restore(v1) reinstates the pre-delete state in ONE manifest
    * write with zero data movement. The output reads BOTH the
    * restored head (must equal the full table — the delete undone)
    * and, via time travel, the deleted state (must still exist — a
    * restore preserves history rather than erasing it), so the oracle
    * pins the rollback and the retained lineage at once. */
  private val qSnapshotRestore = Q(
    "q_snapshot_restore",
    (s, d) => {
      val dir = snapTmp()
      val base = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_orderpriority"), col("o_totalprice"))
      graft.sources.SnapshotTable.append(
        base.filter(pmod(col("o_orderkey"), lit(2)) === 0), dir)  // v0
      graft.sources.SnapshotTable.append(
        base.filter(pmod(col("o_orderkey"), lit(2)) === 1), dir)  // v1
      val deletedV = graft.sources.SnapshotTable.deleteWhere(s, dir,
        col("o_orderstatus") === "F").get                         // v2
      graft.sources.SnapshotTable.restore(s, dir, 1L)             // v3
      def rollup(df: DataFrame, phase: String) = df
        .groupBy(col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)") * 100)
            .cast("long").as("cents"))
        .select(lit(phase).as("phase"), col("priority"), col("n"),
          col("cents"))
      rollup(graft.sources.SnapshotTable.read(s, dir), "restored")
        .unionByName(rollup(
          graft.sources.SnapshotTable.read(s, dir, Some(deletedV)),
          "deleted"))
        .orderBy("phase", "priority")
    },
    Some("""SELECT phase, priority, n, cents FROM (
      SELECT 'restored' AS phase, o_orderpriority AS priority,
        count(*) AS n,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT)
          AS cents
      FROM orders GROUP BY 2
      UNION ALL
      SELECT 'deleted' AS phase, o_orderpriority AS priority,
        count(*) AS n,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT)
          AS cents
      FROM orders WHERE o_orderstatus <> 'F' GROUP BY 2)
    ORDER BY phase, priority"""))

  /** Column mapping through
    * [[graft.sources.SnapshotTable.renameColumn]] /
    * [[graft.sources.SnapshotTable.dropColumn]] — metadata-only
    * RENAME/DROP COLUMN (the public Delta column-mapping design):
    * data files keep stable PHYSICAL names, one manifest commit moves
    * the logical name, so a 100 TB table renames with zero rewrite.
    * The query renames `o_totalprice`→`price`, DROPS
    * `o_orderstatus`, then RE-ADDS the same logical name in a fresh
    * append — the re-added column must take a fresh physical name so
    * the dropped bytes never resurrect (pre-drop rows read NULL: the
    * oracle's `with_status` counts pin exactly which rows carry a
    * status). A time-traveled phase reads the pre-rename version
    * under its ORIGINAL names, pinning per-version schema service. */
  private val qSnapshotColmap = Q(
    "q_snapshot_colmap",
    (s, d) => {
      val dir = snapTmp()
      val base = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_orderpriority"), col("o_totalprice"))
      graft.sources.SnapshotTable.append(
        base.filter(pmod(col("o_orderkey"), lit(2)) === 0), dir,
        statsCols = Seq("o_orderkey"))                              // v0
      graft.sources.SnapshotTable.append(
        base.filter(pmod(col("o_orderkey"), lit(2)) === 1), dir)    // v1
      graft.sources.SnapshotTable.renameColumn(s, dir,
        "o_totalprice", "price")                                    // v2
      graft.sources.SnapshotTable.dropColumn(s, dir, "o_orderstatus") // v3
      // re-ADD the dropped logical name under shifted keys: it must
      // land under a FRESH physical name — the retired bytes stay
      // dead (every pre-drop row reads a NULL status below).
      graft.sources.SnapshotTable.append(
        base.filter(pmod(col("o_orderkey"), lit(100)) === 0)
          .select((col("o_orderkey") + 1000000000L).as("o_orderkey"),
            col("o_orderpriority"),
            col("o_totalprice").as("price"), col("o_orderstatus")),
        dir)                                                        // v4
      def rollup(df: DataFrame, phase: String, price: String) = df
        .groupBy(col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("n"),
          sum(col(price).cast("decimal(18,6)") * 100)
            .cast("long").as("cents"),
          count(col("o_orderstatus")).as("with_status"))
        .select(lit(phase).as("phase"), col("priority"), col("n"),
          col("cents"), col("with_status"))
      rollup(graft.sources.SnapshotTable.read(s, dir), "head", "price")
        .unionByName(rollup(
          graft.sources.SnapshotTable.read(s, dir, Some(1L)), "pre",
          "o_totalprice"))
        .orderBy("phase", "priority")
    },
    Some("""WITH readd AS (
      SELECT o_orderpriority, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 100 = 0),
    head AS (
      SELECT o_orderpriority, o_totalprice,
        CAST(NULL AS VARCHAR) AS o_orderstatus FROM orders
      UNION ALL
      SELECT o_orderpriority, o_totalprice, o_orderstatus FROM readd)
    SELECT phase, priority, n, cents, with_status FROM (
      SELECT 'head' AS phase, o_orderpriority AS priority,
        count(*) AS n,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT)
          AS cents,
        count(o_orderstatus) AS with_status
      FROM head GROUP BY 2
      UNION ALL
      SELECT 'pre' AS phase, o_orderpriority AS priority,
        count(*) AS n,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT)
          AS cents,
        count(o_orderstatus) AS with_status
      FROM orders GROUP BY 2)
    ORDER BY phase, priority"""))

  /** TBLPROPERTIES-routed DML (the public
    * `delta.enableDeletionVectors` idea): one SQL statement records
    * `graft.enableDeletionVectors` in the manifest, after which the
    * SAME `DELETE`/`UPDATE` SQL routes through merge-on-read deletion
    * vectors (write cost ∝ matched rows — asserted: the DELETE commits
    * with ZERO file churn) instead of copy-on-write; `OPTIMIZE` then
    * materializes the vectors (asserted: none survive). The oracle
    * restates delete→update algebraically — identical ANSWERS under
    * either write strategy is exactly the property's contract. */
  private val qSnapshotTblprops = Q(
    "q_snapshot_tblprops",
    (s, d) => {
      val dir = snapTmp()
      t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_orderpriority"), col("o_totalprice"))
        .createOrReplaceTempView("dml_src_orders")
      s.sql(s"INSERT INTO graft.`$dir` SELECT o_orderkey, o_orderstatus, " +
        "o_orderpriority, o_totalprice FROM dml_src_orders")
      s.sql(s"ALTER TABLE graft.`$dir` SET TBLPROPERTIES " +
        "('graft.enableDeletionVectors' = 'true')")
      val before = graft.sources.SnapshotTable.manifestFiles(s, dir,
        graft.sources.SnapshotTable.latestVersion(s, dir).get).toSet
      s.sql(s"DELETE FROM graft.`$dir` WHERE o_orderkey % 10 = 0")
      val v = graft.sources.SnapshotTable.latestVersion(s, dir).get
      require(graft.sources.SnapshotTable.manifestFiles(s, dir, v).toSet ==
        before, "MoR DELETE must not rewrite any file")
      require(graft.sources.SnapshotTable.snapshot(s, dir, v).dvRefs.nonEmpty,
        "MoR DELETE must land a deletion vector")
      s.sql(s"UPDATE graft.`$dir` SET o_totalprice = o_totalprice * 2 " +
        "WHERE o_orderpriority = '1-URGENT'")
      s.sql(s"OPTIMIZE graft.`$dir`")
      val v3 = graft.sources.SnapshotTable.latestVersion(s, dir).get
      require(graft.sources.SnapshotTable.snapshot(s, dir, v3).dvRefs.isEmpty,
        "OPTIMIZE must materialize the vectors")
      s.sql(s"""SELECT o_orderpriority AS priority, count(*) AS n,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT)
          AS cents
      FROM graft.`$dir` GROUP BY 1 ORDER BY 1""")
    },
    Some("""WITH after_del AS (
      SELECT o_orderpriority, o_totalprice
      FROM orders WHERE o_orderkey % 10 <> 0)
    SELECT o_orderpriority AS priority, count(*) AS n,
      CAST(sum(CAST(CASE WHEN o_orderpriority = '1-URGENT'
                         THEN o_totalprice * 2 ELSE o_totalprice END
                    AS DECIMAL(18,6)) * 100) AS BIGINT) AS cents
    FROM after_del GROUP BY 1 ORDER BY priority"""))

  /** Metadata-only TYPE WIDENING through
    * [[graft.sources.SnapshotTable.widenColumn]] (the public Delta
    * type-widening design): an INT column widens to BIGINT in one
    * manifest commit with zero rewrite — old files keep int32 pages
    * and every read upcasts through the scan schema; a post-widening
    * append lands values beyond int range (+1e10) into the SAME
    * column, so the final rollup only matches if both the upcast read
    * of the narrow files and the wide writes are exact. */
  private val qSnapshotWiden = Q(
    "q_snapshot_widen",
    (s, d) => {
      val dir = snapTmp()
      val orders = t(s, d, "orders")
      graft.sources.SnapshotTable.append(
        orders.filter(pmod(col("o_orderkey"), lit(2)) === 0)
          .select(col("o_orderkey"), col("o_orderpriority"),
            floor(col("o_totalprice")).cast("int").as("units")),
        dir, statsCols = Seq("o_orderkey"))                         // v0 int
      graft.sources.SnapshotTable.widenColumn(s, dir, "units",
        org.apache.spark.sql.types.LongType)                        // v1
      graft.sources.SnapshotTable.append(
        orders.filter(pmod(col("o_orderkey"), lit(2)) === 1)
          .select(col("o_orderkey"), col("o_orderpriority"),
            (floor(col("o_totalprice")).cast("long") + 10000000000L)
              .as("units")),
        dir)                                                        // v2 long
      graft.sources.SnapshotTable.read(s, dir)
        .groupBy(col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("n"),
          sum("units").cast("long").as("units"))
        .orderBy("priority")
    },
    Some("""SELECT o_orderpriority AS priority, count(*) AS n,
      CAST(sum(CASE WHEN o_orderkey % 2 = 0
                    THEN CAST(FLOOR(o_totalprice) AS BIGINT)
                    ELSE CAST(FLOOR(o_totalprice) AS BIGINT)
                         + 10000000000 END) AS BIGINT) AS units
    FROM orders GROUP BY 1 ORDER BY priority"""))

  /** ALTER TABLE ADD COLUMN … DEFAULT — INITIAL defaults (the public
    * Iceberg initial-default semantics): the literal is recorded in
    * the manifest with the files present at the ADD and SERVED for
    * exactly those files on every read surface; post-ADD batches read
    * their physical bytes (an explicit NULL stays NULL). The
    * lifecycle exercises the sharp edges: a metadata-only ADD over an
    * existing population, a post-ADD append carrying explicit values
    * AND explicit NULLs, and a row-level DELETE whose predicate
    * matches on the SERVED default (the touched-file probe must see
    * the default, and the rewrite MATERIALIZES it — the rewritten
    * file leaves the pre-ADD set). The oracle restates the three row
    * populations algebraically. */
  private val qSnapshotAddDefault = Q(
    "q_snapshot_add_default",
    (s, d) => {
      val dir = snapTmp()
      val c = t(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      graft.sources.SnapshotTable.append(
        c.filter(pmod(col("c_custkey"), lit(2)) === 0), dir,
        statsCols = Seq("c_custkey"))                          // v0 pre-ADD
      s.sql(s"ALTER TABLE graft.`$dir` ADD COLUMN tier STRING " +
        "DEFAULT 'basic'")                                     // v1 metadata
      graft.sources.SnapshotTable.append(
        c.filter(pmod(col("c_custkey"), lit(2)) === 1)
          .withColumn("tier",
            when(col("c_acctbal") > 5000, lit("gold"))), dir)  // v2 explicit
      // predicate on the SERVED default: deletes only pre-ADD rows
      graft.sources.SnapshotTable.deleteWhere(s, dir,
        col("tier") === "basic" &&
          pmod(col("c_custkey"), lit(10)) === 0)               // v3 CoW
      s.sql(s"""SELECT coalesce(tier, 'none') AS tier, count(*) AS n,
        CAST(sum(CAST(c_acctbal AS DECIMAL(18,6)) * 100) AS BIGINT) AS cents
      FROM graft.`$dir` GROUP BY 1 ORDER BY 1""")
    },
    Some("""WITH pre AS (
      SELECT c_custkey, c_acctbal, 'basic' AS tier
      FROM customer WHERE c_custkey % 2 = 0),
    post AS (
      SELECT c_custkey, c_acctbal,
        CASE WHEN c_acctbal > 5000 THEN 'gold' END AS tier
      FROM customer WHERE c_custkey % 2 = 1),
    final AS (
      SELECT * FROM pre WHERE c_custkey % 10 <> 0
      UNION ALL SELECT * FROM post)
    SELECT coalesce(tier, 'none') AS tier, count(*) AS n,
      CAST(sum(CAST(c_acctbal AS DECIMAL(18,6)) * 100) AS BIGINT) AS cents
    FROM final GROUP BY 1 ORDER BY 1"""))

  /** The SQL DML surface ([[graft.sources.GraftRelationResolution]],
    * injected via `spark.sql.extensions`): the ENTIRE table lifecycle driven by
    * plain `spark.sql` statements — INSERT INTO an empty `graft.`…``
    * path, scoped DELETE, scoped UPDATE, whole-row-upsert MERGE from
    * a subquery (with SQL's implicit casts), metadata-only ALTER
    * TABLE RENAME COLUMN, a Z-order OPTIMIZE rewrite, and a final
    * aggregate read through a LIVE registered view — none of it
    * touches the Scala API. The oracle restates delete→update→merge
    * algebraically (price ops are exact IEEE power-of-two doublings),
    * so a mis-parsed predicate, a merge that updated the wrong rows,
    * or a rename that leaked physical names all flip the hash. */
  private val qSnapshotDml = Q(
    "q_snapshot_dml",
    (s, d) => {
      val dir = snapTmp()
      t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_orderpriority"), col("o_totalprice"))
        .createOrReplaceTempView("dml_orders")
      // first INSERT into an empty path creates the table
      s.sql(s"INSERT INTO graft.`$dir` SELECT * FROM dml_orders")
      s.sql(s"DELETE FROM graft.`$dir` WHERE o_orderkey % 10 = 0")
      s.sql(s"UPDATE graft.`$dir` SET o_totalprice = o_totalprice * 2 " +
        "WHERE o_orderpriority = '1-URGENT'")
      // keys %5==0 ∧ %10≠0 exist → MERGE-update; %10==0 were deleted
      // → MERGE-insert: both branches exercised in one statement
      s.sql(s"MERGE INTO graft.`$dir` t USING (" +
        "SELECT o_orderkey, 'X' AS o_orderstatus, o_orderpriority, " +
        "o_totalprice * 4 AS o_totalprice FROM dml_orders " +
        "WHERE o_orderkey % 5 = 0) s ON t.o_orderkey = s.o_orderkey " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
      s.sql(s"ALTER TABLE graft.`$dir` RENAME COLUMN o_totalprice TO price")
      s.sql(s"OPTIMIZE graft.`$dir` ZORDER BY (o_orderkey, price)")
      // the final read is ALSO plain SQL: `FROM graft.`path`` resolves
      // through the injected analyzer rule — no registration at all
      s.sql(s"""SELECT o_orderstatus AS status, o_orderpriority AS priority,
        count(*) AS n,
        CAST(sum(CAST(price AS DECIMAL(18,6)) * 100) AS BIGINT) AS cents
      FROM graft.`$dir` GROUP BY 1, 2 ORDER BY 1, 2""")
    },
    Some("""WITH src AS (
      SELECT o_orderkey, 'X' AS o_orderstatus, o_orderpriority,
             o_totalprice * 4 AS o_totalprice
      FROM orders WHERE o_orderkey % 5 = 0),
    after_del AS (
      SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
      FROM orders WHERE o_orderkey % 10 <> 0),
    after_upd AS (
      SELECT o_orderkey, o_orderstatus, o_orderpriority,
        CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice * 2
             ELSE o_totalprice END AS o_totalprice
      FROM after_del),
    merged AS (
      SELECT * FROM src
      UNION ALL
      SELECT * FROM after_upd WHERE o_orderkey % 5 <> 0)
    SELECT o_orderstatus AS status, o_orderpriority AS priority,
      count(*) AS n,
      CAST(sum(CAST(o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT)
        AS cents
    FROM merged GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** The GENERALIZED MERGE ([[graft.sources.SnapshotTable.mergeInto]]
    * via SQL MERGE): one statement exercising every clause kind
    * — a conditional `WHEN MATCHED … UPDATE SET col = expr` (F-status
    * rows double price and flip to 'U'), a fall-through `WHEN MATCHED
    * THEN DELETE`, a conditional `WHEN NOT MATCHED … INSERT (cols)
    * VALUES (…)` (only source rows above a price floor insert, tagged
    * 'N'), and `WHEN NOT MATCHED BY SOURCE … UPDATE` (unmatched 5-LOW
    * target rows flip to 'L'). First-match-wins ordering, the exact
    * insert-column list, and the by-source scope are each load-bearing
    * — the oracle restates all four row populations algebraically
    * (price ops are exact IEEE doublings), so any clause mis-route
    * flips the hash. Scale: only files holding a source key or a
    * by-source-eligible row are rewritten; the decision is one
    * full-outer join compiled to a single when-chain select. */
  private val qSnapshotMergeFull = Q(
    "q_snapshot_merge_full",
    (s, d) => {
      val dir = snapTmp()
      t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_orderpriority"), col("o_totalprice"))
        .createOrReplaceTempView("mf_orders")
      s.sql(s"CREATE TABLE graft.`$dir` AS SELECT * FROM mf_orders " +
        "WHERE o_orderkey % 3 <> 0")
      s.sql(s"""MERGE INTO graft.`$dir` t USING (
          SELECT o_orderkey, o_orderpriority, o_totalprice
          FROM mf_orders WHERE o_orderkey % 2 = 0) s
        ON t.o_orderkey = s.o_orderkey
        WHEN MATCHED AND t.o_orderstatus = 'F' THEN
          UPDATE SET o_totalprice = t.o_totalprice * 2, o_orderstatus = 'U'
        WHEN MATCHED THEN DELETE
        WHEN NOT MATCHED AND s.o_totalprice > 1000 THEN
          INSERT (o_orderkey, o_orderstatus, o_orderpriority, o_totalprice)
          VALUES (s.o_orderkey, 'N', s.o_orderpriority, s.o_totalprice)
        WHEN NOT MATCHED BY SOURCE AND t.o_orderpriority = '5-LOW' THEN
          UPDATE SET o_orderstatus = 'L'""")
      s.sql(s"""SELECT o_orderstatus AS status, count(*) AS n,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT)
          AS cents
      FROM graft.`$dir` GROUP BY 1 ORDER BY 1""")
    },
    Some("""WITH tgt AS (
      SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
      FROM orders WHERE o_orderkey % 3 <> 0),
    matched AS (
      SELECT 'U' AS status, t.o_totalprice * 2 AS price
      FROM tgt t WHERE t.o_orderkey % 2 = 0 AND t.o_orderstatus = 'F'),
    by_source AS (
      SELECT CASE WHEN t.o_orderpriority = '5-LOW' THEN 'L'
                  ELSE t.o_orderstatus END AS status,
             t.o_totalprice AS price
      FROM tgt t WHERE t.o_orderkey % 2 <> 0),
    inserted AS (
      SELECT 'N' AS status, o_totalprice AS price
      FROM orders
      WHERE o_orderkey % 2 = 0 AND o_orderkey % 3 = 0
        AND o_totalprice > 1000),
    merged AS (
      SELECT * FROM matched
      UNION ALL SELECT * FROM by_source
      UNION ALL SELECT * FROM inserted)
    SELECT status, count(*) AS n,
      CAST(sum(CAST(price AS DECIMAL(18,6)) * 100) AS BIGINT) AS cents
    FROM merged GROUP BY 1 ORDER BY 1"""))

  /** Merge-on-read UPDATE through
    * [[graft.sources.SnapshotTable.updateWhereMor]]: every urgent
    * order is updated (status → 'U', price doubled — an exact
    * power-of-two IEEE op on both engines) by MASKING the old rows
    * with a deletion vector and landing the updated forms as NEW
    * files in the same commit — write cost ∝ matched rows. Phase 1
    * reads through the composed vector+new-file state; a clustering
    * [[compact]] then MATERIALIZES the update and purges the vectors;
    * phase 2 must read identically. Oracle = the plain CASE view. */
  private val qSnapshotMorUpdate = Q(
    "q_snapshot_mor_update",
    (s, d) => {
      val dir = snapTmp()
      graft.sources.SnapshotTable.append(
        t(s, d, "orders").select(col("o_orderkey"), col("o_orderstatus"),
          col("o_orderpriority"), col("o_totalprice")),
        dir, statsCols = Seq("o_orderkey"))
      graft.sources.SnapshotTable.updateWhereMor(s, dir,
        col("o_orderpriority") === "1-URGENT",
        Seq("o_orderstatus" -> lit("U"),
          "o_totalprice" -> (col("o_totalprice") * 2)))
      // read() pins its version's file list + vectors at CALL time
      // (and compact never deletes data files — vacuum does), so the
      // pre-compact frame stays valid when executed after it.
      def rollup(phase: String) = graft.sources.SnapshotTable
        .read(s, dir)
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)") * 100)
            .cast("long").as("cents"))
        .select(lit(phase).as("phase"), col("status"), col("n"),
          col("cents"))
      val masked = rollup("mor")
      graft.sources.SnapshotTable.compact(s, dir,
        clusterBy = Seq("o_orderkey"))
      masked.unionByName(rollup("purged")).orderBy("phase", "status")
    },
    Some("""WITH upd AS (
      SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 'U'
                  ELSE o_orderstatus END AS status,
             CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice * 2
                  ELSE o_totalprice END AS price
      FROM orders),
    r AS (
      SELECT status, count(*) AS n,
        CAST(sum(CAST(price AS DECIMAL(18,6)) * 100) AS BIGINT) AS cents
      FROM upd GROUP BY status)
    SELECT phase, status, n, cents FROM (
      SELECT 'mor' AS phase, * FROM r
      UNION ALL
      SELECT 'purged' AS phase, * FROM r)
    ORDER BY phase, status"""))

  /** SCOPED compaction through
    * [[graft.sources.SnapshotTable.compactWhere]] and
    * [[graft.sources.SnapshotTable.binPackSmall]] — the `OPTIMIZE …
    * WHERE` surface: three disjoint-keyrange appends, a MoR delete in
    * the low range, then compactWhere over the low range (must
    * materialize exactly the in-scope vectors and pack the in-scope
    * files, carrying the rest forward by reference — SnapshotOpsSpec
    * pins the file identity) and binPackSmall (folds every
    * sub-threshold file). One rollup per phase: the scoped rewrites
    * must change NOTHING about the answer while the oracle's plain
    * filtered view pins that masked rows stay dead through both. */
  private val qSnapshotCompactWhere = Q(
    "q_snapshot_compactwhere",
    (s, d) => {
      val dir = snapTmp()
      val base = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_totalprice"))
      // non-empty at every gate SF (sf0.001 orderkeys span 1..6000)
      val cut1 = 2000L; val cut2 = 4000L
      graft.sources.SnapshotTable.append(
        base.filter(col("o_orderkey") < cut1), dir,
        statsCols = Seq("o_orderkey"))
      graft.sources.SnapshotTable.append(
        base.filter(col("o_orderkey") >= cut1 &&
          col("o_orderkey") < cut2), dir)
      graft.sources.SnapshotTable.append(
        base.filter(col("o_orderkey") >= cut2), dir)
      graft.sources.SnapshotTable.deleteWhereMor(s, dir,
        col("o_orderkey") < cut1 && col("o_totalprice") > 150000.0)
      def rollup(phase: String) = graft.sources.SnapshotTable
        .read(s, dir)
        .groupBy(col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)") * 100)
            .cast("long").as("cents"))
        .select(lit(phase).as("phase"), col("priority"), col("n"),
          col("cents"))
      // read() pins file lists at call time (q_snapshot_mor_update's
      // discipline), so the pre-rewrite frame executes correctly later.
      val scoped = rollup("scoped")
      graft.sources.SnapshotTable.compactWhere(s, dir, "o_orderkey",
        0L, cut1 - 1)
      graft.sources.SnapshotTable.binPackSmall(s, dir,
        smallerThanBytes = 64L * 1024 * 1024)
      scoped.unionByName(rollup("packed")).orderBy("phase", "priority")
    },
    Some("""WITH live AS (
      SELECT o_orderpriority AS priority, o_totalprice FROM orders
      WHERE NOT (o_orderkey < 2000 AND o_totalprice > 150000)),
    r AS (
      SELECT priority, count(*) AS n,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT)
          AS cents
      FROM live GROUP BY priority)
    SELECT phase, priority, n, cents FROM (
      SELECT 'scoped' AS phase, * FROM r
      UNION ALL
      SELECT 'packed' AS phase, * FROM r)
    ORDER BY phase, priority"""))

  /** Merge-on-read DELETE through
    * [[graft.sources.SnapshotTable.deleteWhereMor]]: two composing
    * deletion-vector commits (every 'F' order, then every order above
    * a price cut) mask rows WITHOUT rewriting a byte of data — the
    * read side applies the vectors as a broadcast anti-join on
    * `_metadata.row_index` — and a clustering [[compact]] then
    * MATERIALIZES the deletes and purges the vectors. The final
    * rollup must equal the oracle's plain double-WHERE view of the
    * same deletes, pinning the whole MoR lifecycle (vector write →
    * composed masking → purge) against an engine that never saw a
    * vector. */
  private val qSnapshotMor = Q(
    "q_snapshot_mor",
    (s, d) => {
      val dir = snapTmp()
      graft.sources.SnapshotTable.append(
        t(s, d, "orders").select(col("o_orderkey"), col("o_orderstatus"),
          col("o_orderpriority"), col("o_totalprice")),
        dir, statsCols = Seq("o_orderkey"))
      graft.sources.SnapshotTable.deleteWhereMor(s, dir,
        col("o_orderstatus") === "F")
      graft.sources.SnapshotTable.deleteWhereMor(s, dir,
        col("o_totalprice") > 300000.0)
      val masked = graft.sources.SnapshotTable.read(s, dir)
        .groupBy(col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)") * 100)
            .cast("long").as("cents"))
        .select(lit("mor").as("phase"), col("priority"), col("n"),
          col("cents"))
      graft.sources.SnapshotTable.compact(s, dir,
        clusterBy = Seq("o_orderkey"))
      val purged = graft.sources.SnapshotTable.read(s, dir)
        .groupBy(col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)") * 100)
            .cast("long").as("cents"))
        .select(lit("purged").as("phase"), col("priority"), col("n"),
          col("cents"))
      masked.unionByName(purged).orderBy("phase", "priority")
    },
    Some("""WITH live AS (
      SELECT o_orderpriority AS priority, o_totalprice FROM orders
      WHERE o_orderstatus <> 'F' AND o_totalprice <= 300000),
    r AS (
      SELECT priority, count(*) AS n,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT)
          AS cents
      FROM live GROUP BY priority)
    SELECT phase, priority, n, cents FROM (
      SELECT 'mor' AS phase, * FROM r
      UNION ALL
      SELECT 'purged' AS phase, * FROM r)
    ORDER BY phase, priority"""))

  /** The DV-aware QUERY surfaces over a merge-on-read snapshot: the
    * same twice-vectored table read through (a) a registered SQL temp
    * view ([[graft.sources.SnapshotSql.register]] — the manifest-
    * pruned FileIndex relation with the vector anti-join applied ON
    * TOP, filters still pushing through to file pruning) and (b)
    * `spark.read.format("graft")` (the [[graft.sources
    * .DvMaskedRelation]] scan path with a pushed filter). Both phases
    * must equal the oracle's plain double-WHERE view — pinning that
    * NO query surface can resurrect a masked row. */
  private val qSnapshotMorSql = Q(
    "q_snapshot_mor_sql",
    (s, d) => {
      val dir = snapTmp()
      graft.sources.SnapshotTable.append(
        t(s, d, "orders").select(col("o_orderkey"), col("o_orderstatus"),
          col("o_orderpriority"), col("o_totalprice")),
        dir, statsCols = Seq("o_orderkey"))
      graft.sources.SnapshotTable.deleteWhereMor(s, dir,
        col("o_orderstatus") === "F")
      graft.sources.SnapshotTable.deleteWhereMor(s, dir,
        col("o_totalprice") > 300000.0)
      graft.sources.SnapshotSql.register(s, "q_mor_sql_view", dir)
      val viaSql = s.sql(
        """SELECT 'sql' AS phase, o_orderpriority AS priority,
             count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT)
               AS cents
           FROM q_mor_sql_view GROUP BY o_orderpriority""")
      val viaFormat = s.read.format("graft").load(dir)
        .filter(col("o_orderkey") >= 0L) // pushed through DvMaskedRelation
        .groupBy(col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)") * 100)
            .cast("long").as("cents"))
        .select(lit("format").as("phase"), col("priority"), col("n"),
          col("cents"))
      viaSql.unionByName(viaFormat).orderBy("phase", "priority")
    },
    Some("""WITH live AS (
      SELECT o_orderpriority AS priority, o_totalprice FROM orders
      WHERE o_orderstatus <> 'F' AND o_totalprice <= 300000),
    r AS (
      SELECT priority, count(*) AS n,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT)
          AS cents
      FROM live GROUP BY priority)
    SELECT phase, priority, n, cents FROM (
      SELECT 'format' AS phase, * FROM r
      UNION ALL
      SELECT 'sql' AS phase, * FROM r)
    ORDER BY phase, priority"""))

  /** Row-level CDC STREAMING
    * (`readStream.format("graft").option("readChangeFeed","true")`,
    * [[graft.sources.GraftCdfStreamSource]]): a snapshot table
    * advances through an append and a merge-on-read DELETE while a
    * streaming query pipes its exact row-level change feed — each row
    * stamped `_change` (insert/delete) and `_commit_version` — into a
    * SECOND snapshot table through the exactly-once ledgered sink.
    * The landed ledger is then aggregated per (commit, change kind):
    * the oracle reconstructs the same history from the base table
    * (v0 = even-key inserts, v1 = odd-key inserts, v2 = every 'F'
    * order deleted), so duplicated, dropped, or mis-stamped change
    * rows all hash-fail. */
  private val qSnapshotCdf = Q(
    "q_snapshot_cdf",
    (s, d) => {
      val src = snapTmp(); val dst = snapTmp()
      val ckpt = qTmp("graft-q-cdf-ck")
      graft.sources.GraftDataSource.enableLocalCheckpointFastPath(s)
      val base = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sources.SnapshotTable.append(
        base.filter(pmod(col("o_orderkey"), lit(2)) === 0), src) // v0
      val q = s.readStream.format("graft")
        .option("readChangeFeed", "true").load(src)
        .writeStream.format("graft")
        .option("checkpointLocation", ckpt)
        .option("appId", "q-snapshot-cdf")
        .start(dst)
      try {
        q.processAllAvailable()
        graft.sources.SnapshotTable.append(
          base.filter(pmod(col("o_orderkey"), lit(2)) === 1), src) // v1
        graft.sources.SnapshotTable.deleteWhereMor(s, src,
          col("o_orderstatus") === "F") // v2
        q.processAllAvailable()
      } finally q.stop()
      graft.sources.SnapshotTable.read(s, dst)
        .groupBy(col("_commit_version").as("v"), col("_change").as("change"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)") * 100)
            .cast("long").as("cents"))
        .orderBy("v", "change")
    },
    Some("""SELECT CAST(v AS BIGINT) AS v, change, count(*) AS n,
      CAST(sum(CAST(o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT) AS cents
    FROM (
      SELECT 0 AS v, 'insert' AS change, o_totalprice FROM orders
        WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT 1, 'insert', o_totalprice FROM orders WHERE o_orderkey % 2 = 1
      UNION ALL
      SELECT 2, 'delete', o_totalprice FROM orders WHERE o_orderstatus = 'F')
    GROUP BY v, change ORDER BY v, change"""))

  /** Trained model-based quality scoring, closed form
    * ([[graft.operators.LinearModel.ridgeFit]]): a ridge probe of a
    * binary relevance target (label ≤ 4) on the first two embedding
    * coordinates, quantized to integers at a power-of-two scale so
    * every sufficient statistic is an EXACT integer sum — the oracle
    * rebuilds the identical normal equations in HUGEINT and solves
    * the same 3×3 Cramer determinants in SQL, so the trained weights
    * (and every per-row score) match bit-for-bit across engines.
    * The probe is one distributed aggregate + a map-only scoring
    * pass — the 100 TB shape of "fit a linear quality filter, score
    * the corpus". */
  private val qQualityProbe = Q(
    "q_quality_probe",
    (s, d) => {
      val f = t(s, d, "embeddings").select(
        col("vec_id"),
        floor(col("embedding").getItem(0).cast("double") * 4096)
          .cast("long").as("x1"),
        floor(col("embedding").getItem(1).cast("double") * 4096)
          .cast("long").as("x2"),
        when(col("label") <= 4, 1L).otherwise(0L).as("y"))
      val w = graft.operators.LinearModel.ridgeFit(
        f, Seq(col("x1"), col("x2")), col("y"), lambda = 1L)
      f.select(col("vec_id"),
        TextAnalysis.roundStable(graft.operators.LinearModel.scoreExpr(
          w, Seq(col("x1"), col("x2"))), 6).as("score"))
        .orderBy("vec_id")
    },
    Some("""WITH f AS (
      SELECT vec_id,
        CAST(floor(CAST(embedding[1] AS DOUBLE) * 4096) AS BIGINT) AS x1,
        CAST(floor(CAST(embedding[2] AS DOUBLE) * 4096) AS BIGINT) AS x2,
        CASE WHEN label <= 4 THEN 1 ELSE 0 END AS y
      FROM embeddings),
    g AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
        CAST(sum(x1) AS HUGEINT) AS s1, CAST(sum(x2) AS HUGEINT) AS s2,
        CAST(sum(x1*x1) AS HUGEINT) AS s11,
        CAST(sum(x1*x2) AS HUGEINT) AS s12,
        CAST(sum(x2*x2) AS HUGEINT) AS s22,
        CAST(sum(y) AS HUGEINT) AS b0, CAST(sum(x1*y) AS HUGEINT) AS b1,
        CAST(sum(x2*y) AS HUGEINT) AS b2
      FROM f),
    m AS (
      SELECT n + 1 AS a00, s1 AS a01, s2 AS a02,
             s1 AS a10, s11 + 1 AS a11, s12 AS a12,
             s2 AS a20, s12 AS a21, s22 + 1 AS a22,
             b0, b1, b2 FROM g),
    w AS (
      SELECT
        CAST(a00*(a11*a22 - a12*a21) - a01*(a10*a22 - a12*a20)
           + a02*(a10*a21 - a11*a20) AS DOUBLE) AS det,
        CAST(b0*(a11*a22 - a12*a21) - a01*(b1*a22 - a12*b2)
           + a02*(b1*a21 - a11*b2) AS DOUBLE) AS det0,
        CAST(a00*(b1*a22 - a12*b2) - b0*(a10*a22 - a12*a20)
           + a02*(a10*b2 - b1*a20) AS DOUBLE) AS det1,
        CAST(a00*(a11*b2 - b1*a21) - a01*(a10*b2 - b1*a20)
           + b0*(a10*a21 - a11*a20) AS DOUBLE) AS det2
      FROM m)
    SELECT vec_id,
      floor((det0/det + det1/det * x1 + det2/det * x2) * 1000000 + 0.5)
        / 1000000 AS score
    FROM f, w ORDER BY vec_id"""))

  /** Trained model-based quality scoring, iterative
    * ([[graft.operators.LinearModel.logisticFit]]): a binary logistic
    * classifier over the full 64-dim quantized embedding (+ constant
    * intercept element), trained by deterministic fixed-point
    * full-batch gradient descent — integer weight state, exact
    * integer gradient sums, so the trajectory is bit-identical under
    * any partitioning (LinearModelSpec pins distributed ==
    * single-threaded). Output: the trained scaled weights plus the
    * exact correct-classification count — all integers. No SQL
    * oracle (iterative training, the BPE contract); declared
    * no-oracle. */
  private val qQualityClassifier = Q(
    "q_quality_classifier",
    (s, d) => {
      val f = t(s, d, "embeddings").select(
        col("vec_id"),
        concat(
          transform(col("embedding"),
            e => floor(e.cast("double") * 4096).cast("long")),
          array(lit(1L))).as("x"),
        when(col("label") <= 4, 1L).otherwise(0L).as("y"))
      val w = graft.operators.LinearModel.logisticFit(
        f, col("x"), col("y"), dim = 65, iters = 10, lrNum = 1L,
        lrShift = 6)
      val nCorrect = f.withColumn("p",
          graft.operators.LinearModel.logisticScoreExpr(w, col("x")))
        .filter((col("p") >= 0.5) === (col("y") === 1L)).count()
      val spark = s
      import spark.implicits._
      (w.zipWithIndex.map { case (wj, j) => (j.toLong, wj) } :+
        (-1L, nCorrect)).toSeq.toDF("idx", "w_scaled").orderBy("idx")
    },
    None)

  /** Z-order layout through
    * [[graft.sources.SnapshotTable.compact]]`(zOrderBy)`: orders
    * lands in an interleaved (unprunable) layout, compaction lays
    * files along the (o_custkey, o_totalprice) Z-curve — 16-bit
    * linear ranks bit-interleaved entirely in built-in shift/mask
    * expressions — and the SAME layout then serves a range read on
    * EACH dimension (SnapshotTableSpec pins the two-dimensional file
    * pruning; here both reads' results are oracle-checked against
    * the plain filters). */
  private val qSnapshotZorder = Q(
    "q_snapshot_zorder",
    (s, d) => {
      val dir = snapTmp()
      val src = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      // Interleaved appends: every file spans both full ranges.
      (0 until 3).foreach { i =>
        graft.sources.SnapshotTable.append(
          src.filter(pmod(col("o_orderkey"), lit(3)) === i).coalesce(1),
          dir, statsCols = Seq("o_custkey", "o_totalprice"))
      }
      graft.sources.SnapshotTable.compact(s, dir, targetBytes = 64L * 1024,
        zOrderBy = Seq("o_custkey", "o_totalprice"))
      val lowKeys = graft.sources.SnapshotTable.readWhere(
          s, dir, "o_custkey", 1L, 200L)
        .select(col("o_orderkey"), lit("by_custkey").as("probe"))
      val bigOrders = graft.sources.SnapshotTable.readWhere(
          s, dir, "o_totalprice", 300000.0, 500000.0)
        .select(col("o_orderkey"), lit("by_price").as("probe"))
      lowKeys.unionByName(bigOrders).orderBy("probe", "o_orderkey")
    },
    Some("""SELECT o_orderkey, probe FROM (
      SELECT o_orderkey, 'by_custkey' AS probe FROM orders
      WHERE o_custkey BETWEEN 1 AND 200
      UNION ALL
      SELECT o_orderkey, 'by_price' AS probe FROM orders
      WHERE o_totalprice BETWEEN 300000 AND 500000)
    ORDER BY probe, o_orderkey"""))

  /** Zero-copy branching through
    * [[graft.sources.SnapshotTable.shallowClone]]: part snapshots
    * once, the clone is ONE manifest write (no data bytes move), a
    * copy-on-write DELETE then diverges the branch — and the output
    * reads BOTH tables, so the oracle pins simultaneously that the
    * branch dropped exactly the small parts and that the source is
    * byte-for-byte untouched (the clone-isolation contract). */
  private val qSnapshotClone = Q(
    "q_snapshot_clone",
    (s, d) => {
      val src = snapTmp(); val branch = snapTmp()
      graft.sources.SnapshotTable.append(
        t(s, d, "part").select(col("p_partkey"), col("p_size"),
          col("p_retailprice")), src)
      graft.sources.SnapshotTable.shallowClone(s, src, branch)
      graft.sources.SnapshotTable.deleteWhere(s, branch,
        col("p_size") <= 10)
      val a = graft.sources.SnapshotTable.read(s, branch)
        .select(lit("branch").as("side"), col("p_partkey"), col("p_size"),
          col("p_retailprice"))
      val b = graft.sources.SnapshotTable.read(s, src)
        .select(lit("source").as("side"), col("p_partkey"), col("p_size"),
          col("p_retailprice"))
      a.unionByName(b).orderBy("side", "p_partkey")
    },
    Some("""SELECT side, p_partkey, p_size, p_retailprice FROM (
      SELECT 'branch' AS side, p_partkey, p_size, p_retailprice
      FROM part WHERE p_size > 10
      UNION ALL
      SELECT 'source' AS side, p_partkey, p_size, p_retailprice FROM part)
    ORDER BY side, p_partkey"""))

  /** Exactly-once CDC replication through
    * [[graft.sources.SnapshotTable.replicate]]: snapshot customer as
    * the source table, replicate (bootstrap = full snapshot), then
    * MERGE the 1995-Q1 max-order-price update and DELETE one segment
    * upstream, replicate again (incremental — reads only the change
    * feed, rewrites only affected destination files, advances the
    * ledger cursor in the same commit), and a THIRD replicate must
    * no-op (cursor current). The destination's final state is read
    * back; the oracle states it as the update+filter view of the base
    * tables — so a lost delete, a double-applied insert, or a stale
    * cursor all break the hash. */
  private val qSnapshotReplicate = Q(
    "q_snapshot_replicate",
    (s, d) => {
      val src = snapTmp(); val dst = snapTmp()
      val base = t(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("c_mktsegment"))
      graft.sources.SnapshotTable.append(base, src)
      val r1 = graft.sources.SnapshotTable.replicate(
        s, src, dst, Seq("c_custkey"), "rep")
      require(r1.nonEmpty, "bootstrap replicate must apply")
      val updates = t(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1995-01-01") &&
          col("o_orderdate") < lit("1995-04-01"))
        .groupBy(col("o_custkey").as("c_custkey"))
        .agg(max(col("o_totalprice")).as("new_bal"))
      val source = base.join(updates, "c_custkey")
        .select(col("c_custkey"), col("c_name"),
          col("new_bal").as("c_acctbal"), col("c_mktsegment"))
      graft.sources.SnapshotTable.merge(s, src, source, Seq("c_custkey"))
      graft.sources.SnapshotTable.deleteWhere(s, src,
        col("c_mktsegment") === lit("MACHINERY"))
      val r2 = graft.sources.SnapshotTable.replicate(
        s, src, dst, Seq("c_custkey"), "rep")
      require(r2.nonEmpty, "incremental replicate must apply")
      val r3 = graft.sources.SnapshotTable.replicate(
        s, src, dst, Seq("c_custkey"), "rep")
      require(r3.isEmpty, "current replica must no-op")
      graft.sources.SnapshotTable.read(s, dst)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("c_mktsegment"))
        .orderBy("c_custkey")
    },
    Some("""WITH u AS (
      SELECT o_custkey AS c_custkey, max(o_totalprice) AS new_bal
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        AND o_orderdate < TIMESTAMP '1995-04-01'
      GROUP BY 1)
    SELECT c.c_custkey, c.c_name,
      COALESCE(u.new_bal, c.c_acctbal) AS c_acctbal, c.c_mktsegment
    FROM customer c LEFT JOIN u USING (c_custkey)
    WHERE c.c_mktsegment <> 'MACHINERY'
    ORDER BY c.c_custkey"""))

  // ---------------------------------------------------------------------

  val all: Seq[Q] = Seq(
    qSnapshotMerge, qSnapshotDelete, qSnapshotPrune, qSnapshotLookup,
    qSnapshotChanges, qSnapshotReplicate, qSnapshotPartition,
    qSnapshotZorder, qSnapshotClone, qSnapshotSql, qSnapshotUpdate,
    qSnapshotHistory, qSnapshotFormat, qSnapshotStream, qSnapshotRatelimit,
    qSnapshotMatview,
    qSnapshotMor, qSnapshotMorSql, qSnapshotCdf, qMatviewMinmax,
    qMatviewStats, qMatviewDistinct, qScd2Dim, qSnapshotBucket, qSnapshotLive,
    qSnapshotRestore, qSnapshotColmap, qSnapshotDml, qSnapshotWiden,
    qSnapshotMergeFull, qSnapshotAddDefault,
    qSnapshotTblprops, qSnapshotMorUpdate, qSnapshotCompactWhere,
    qSnapshotConstraint, qBpeEncode, qSnapshotTimetravel, qTextIndex,
    qHybridSearch, qSnapshotCount,
    qQualityProbe, qQualityClassifier, qAnnPq, qAnnIvfPq, qAnnIvfPqRes, qAnnRerank,
    qBpeTrain, qBpeTrainBatched,
    qCorpusFunnel, qAnnKmeans, qAnnTrained,
    qResultsTopk, qIngestFilter, qSanitizeIdent, qParseNumber, qParseDate,
    qNullNormalize, qInferType, qJsonExtract, qSchemaEvolution,
    qProjFilter, qAggGroup, qDistinct, qApproxDistinct, qRollup, qCube,
    qGroupingSets, qPivot, qUnpivot,
    qJoinHash, qJoinBroadcast, qJoinOuter, qJoinSemi, qJoinAnti,
    qSkewJoin, qScalarSubquery, qConditionalAgg, qHistogram, qMode,
    qArrayAgg, qBigramPmi,
    qWindowRank, qWindowRunning, qWindowRange, qTopkGlobal, qSetOps,
    qTumblingWindow, qSlidingWindow, qSessionize,
    qDedupExact, qTextStats, qMultimodalJoin, qSimilarityTopk,
    qLangId, qQualityScore, qSkyline, qTokenCount, qVocabTopk, qTokenEntropy,
    qFingerprint, qPiiRedact,
    qRepetitionStats, qDomainStats, qTfidf, qFuzzyMatch,
    qNearDup, qNearDupChar, qDedupCluster, qMinhashCluster,
    qCharhashCluster,
    qDedupMinhash, qDedupSimhash, qEmbedNearDup,
    qAnnTopk, qAnnIvf, qMediaFeatures, qMediaDims, qMediaResize,
    qMediaGif, qMediaJpeg, qAudioStats, qAudioSpectrum, qFrameSample, qPdfExtract,
    qQuantile,
    qApproxQuantile,
    qWindowFuncs, qAsofJoin, qRangeJoin, qTextSearch, qLabelCentroids,
    qStratifiedSample, qClassWeights, qMixtureSample, qWeightedSample,
    qHeavyHitters,
    qUploadAdmission,
    qDecontaminate, qDecontaminateFlag, qSeqPack, qUnigramLogprob,
    qSemDedup, qSemDedupLsh,
    qGopherFilter, qStatsAgg, qIntervalOverlap,
    qDupNgramFrac, qPassageDedup, qShardAssign, qLangDivergence,
    qIncrementalDedup, qQuantizeEmbed, qJoinFull, qPercentileNorm,
    qAnnQuantized, qBigramLogprob,
    qGroupTopk, qBloomDecontaminate, qLinkRank, qFunnel, qEventPairs,
    qUpsertLatest, qChunk, qMadOutlier, qGapFill, qRetention,
    qRunningDistinct, qTransition, qRfm, qClusterSizes, qRollingMedian,
    qStreak, qRollingStats, qDedupKeepBest, qWeekdayProfile,
    qNullProfile, qKeySkew, qPrefixJoin,
    qBm25, qOhlc, qAutocorr, qChiSquare, qConversionLag,
    qUserGrowth, qEwma, qTriangles, qKnnLabel, qDiversity,
    qBenford, qTailLatency, qPareto, qCohortLtv, qSessionStats,
    qBfsHops,
    qAbTest, qMutualInfo, qCopurchaseComponents, qReadability, qTopMovers,
    qRegionalRevenue, qDiscountLift, qOrderGap, qAnomalyDays, qKfold,
    qRecallAtK, qMedoid, qGini, qFreshnessDecay, qSegmentOverlap,
    qTrend, qEventTrigrams, qForecastMape, qCapping, qVocabGrowth,
    qAttribution, qDwellTime, qMixShift, qPriceDispersion, qRepeatRate,
    qScd2, qKsTest, qStickiness, qCrossCorr, qZipf,
    qChangepoint, qContainment, qClusteringCoef, qNewVsReturning,
    qAssortativity,
    qRollingDau, qCrossSourceDup, qDegreeDist, qSlaAttainment,
    qBurstiness,
    qDedupImpact, qNgramNovelty, qLengthProfile, qPriceElasticity,
    qAbcClass,
    qSeasonalStrength, qBasketSizeDist, qLangidEval, qOrderFillRate,
    qEmbedNorms,
    qTransitionEntropy, qRevenueBridge, qCartAbandon, qBrandHhi,
    qLexicalDiversity,
    qPurchasePathLen, qWeekendLift, qValueDeciles, qKeywordStuffing,
    qReturnsRate,
    qHourlyProfile, qSupplierShare, qCooccurPmi, qCatalogCoverage,
    qLabelSeparation,
    qClusterSpread, qLifecycleStages, qPeakDays, qGramDfHist,
    qSilhouette,
    qLorenz, qMomGrowth, qInterarrival, qAttributionFirst,
    qDedupThresholdCurve, qSegmentAffinity, qSourceLangMix,
    qShareOfParent, qDimVariance,
    qSampleBias, qLognormalFit, qTierMigration, qGrowthAccounting,
    qBrandPricePosition,
    qForecastCompare, qDupQuality, qSegmentValueBands,
    qCentroidStability, qVocabCoverage,
    qPsi, qRareTokenShare, qBotSuspects, qNationBalance,
    qPriorityDrift,
    qTokenLenHist, qSessionCountDist, qGapHazard, qQualityVsLength,
    qDiscountPriorityMatrix,
    qOrderSeasonality, qTopSuppliers, qDupDegreeDist, qDecileTypeMix,
    qSizePriceCorr,
    qCharclassProfile, qBalanceActivityCorr, qKeeperBias,
    qDocLenGini, qSegmentBasket, qTypeRevenueTopk,
    qSegmentLoyalty, qLangDupRate, qUserLtvBands)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap

  val oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
