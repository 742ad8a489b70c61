"""Named query registry — the driver contract surface.

Each entry pairs a Spark DataFrame query (built from the operator
library) with a DuckDB-runnable ANSI-SQL oracle. Conventions that make
the order-insensitive value-hash comparison deterministic:

- **Float sums are aggregated in scaled integers** (basis points /
  cents): ``sum(cast(round(x * 10^k) as bigint)) / 10^k`` — integer
  addition is associative, so the result is identical under any
  partitioning/visit order, on Spark and DuckDB alike. Raw double sums
  are NOT reproducible across partitionings and must never be a
  compared output.
- **Timestamps are emitted as epoch microseconds** (``unix_micros`` /
  ``epoch_us``) — bigint on both engines, no timezone/format ambiguity.
- **Every computed column is aliased identically** in the Spark plan
  and the oracle SQL (driver sorts columns by name before hashing).
- **Ranking windows carry a total-order tiebreak** (unique key) so
  row_number is deterministic.
- **No DECIMAL column is ever EMITTED** (r12 convention, from the r11
  regression: `cms_join_size`, `spearman_rank_correlation`,
  `pq_codebook_audit` went driver-red with rows/schema green purely
  because their output schemas carried DECIMAL(38,0) — the driver's
  Arrow value-hash normalizes int64 and strings identically on both
  engines but NOT decimal128). DECIMAL(38,0)/HUGEINT accumulators stay
  the required idiom for overflow-exact math; the EMITTED projection
  must be BIGINT where the value provably fits at driver SFs with a
  documented margin, or STRING of the scale-0 decimal (renders
  identically on both engines at any magnitude) where 100 TB exactness
  must survive in the output itself. Enforced by
  ``tools/selfcheck.py:lint_result_types`` (fails ANY decimal output
  column on EITHER engine; regression-tested in
  ``tests/test_selfcheck_gate.py``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.functions.cleaning import (
    epoch_us,
    strip_direction_suffix,
)
from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.dedup import (
    dedup_against_target,
    duplicate_audit,
)
from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.freshness import (
    freshness_filter,
)
from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.fuzzy import (
    fuzzy_best_match,
)
from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.integrity import (
    fk_filter,
)
from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.merge import (
    last_write_wins,
)
from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.windows import (
    tumbling_agg,
)
from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.plans.pipeline import (
    star_revenue,
)
from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.sources import load_table, parallelize
from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.phasing import (
    scoped_conf,
)


def _scaled_sum(col: F.Column, scale: int, alias: str) -> F.Column:
    """Order-independent float sum: per-row scale+round to bigint,
    integer-sum in DECIMAL(38,0), unscale with ONE division to double.

    The accumulator is DECIMAL, not LONG (r11 int64-overflow sweep): a
    1e4-scaled revenue term is ~3e8 per lineitem row, so a LONG sum
    overflows past ~3e10 rows per group — pricing_summary's 4-group
    rollup crosses that around TPC-H sf5000, well inside the 100 TB
    design point. Under ANSI (the Spark 4 default, on in this session
    AND the driver's vanilla session) that's a loud
    ArithmeticException; with ANSI off it's a silent wrap — either
    way the query cannot answer at scale, where the DECIMAL
    accumulator (like the oracles' HUGEINT) stays exact.
    double(decimal)/scale equals double(long)/scale wherever the long
    didn't overflow, so every oracle hash is unchanged. Measured cost
    at sf0.1: ~1.3× per decimal aggregate (BENCH_NOTES_r11.md); hot
    multi-grouping queries avoid it via the two-phase
    :func:`_partial_scaled_sums` shape instead."""
    return (
        F.sum(F.round(col * scale).cast("decimal(38,0)")).cast("double")
        / float(scale)
    ).alias(alias)


def _partial_scaled_sums(
    df, keys: list[str], terms: dict[str, tuple[F.Column, int]]
):
    """Phase 1 of the two-phase exact float sum — the fast form of
    `_scaled_sum` for hot low-cardinality/multi-grouping aggregates:
    LONG partial sums per (keys, input partition), which stay far from
    int64 overflow because partition sizes are bounded
    (maxPartitionBytes / AQE ⇒ ≤ ~1e7 rows ⇒ partials ≤ ~3e15 at the
    largest term scale — ~3000× margin), then the caller aggregates
    the tiny |keys × partitions| partial table with DECIMAL(38,0)
    sums, where the decimal cost is nil. Identical values to the
    one-shot decimal sum (integer addition reassociates freely); one
    extra tiny shuffle. Returns (keys..., _pn, <term aliases>)."""
    aggs = [F.count(F.lit(1)).cast("long").alias("_pn")]
    for alias, (col, scale) in terms.items():
        aggs.append(F.sum(F.round(col * scale).cast("long")).alias(alias))
    return (
        df.groupBy(*keys, F.spark_partition_id().alias("_pid"))
        .agg(*aggs)
        .drop("_pid")
    )


def _dec_total(alias: str, scale: int, out: str) -> F.Column:
    """Phase 2 of the two-phase sum: decimal-exact total of a phase-1
    partial column, unscaled to double."""
    return (
        F.sum(F.col(alias).cast("decimal(38,0)")).cast("double")
        / float(scale)
    ).alias(out)


# materialized-layout cache for queries that must rewrite a base table
# into a specific physical layout (partitioned fact for DPP, one file
# per partition for _metadata audits): keyed by (tag, sf_dir), written
# ONCE per process and reused — repeated bench/selfcheck invocations
# must time the QUERY, not a full re-write of the base table, and must
# not leak a fresh tempdir per call
_LAYOUT_CACHE: dict[tuple[str, str], str] = {}


def _materialized_layout(tag: str, sf_dir: str, write) -> str:
    """Return the cached root for (tag, sf_dir), invoking ``write(root)``
    exactly once per process to build it."""
    import tempfile as _tempfile

    key = (tag, sf_dir)
    if key not in _LAYOUT_CACHE:
        root = _tempfile.mkdtemp(prefix=f"{tag}_")
        write(root)
        _LAYOUT_CACHE[key] = root
    return _LAYOUT_CACHE[key]


# ---------------------------------------------------------------- queries

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-filter-aggregate over the fact table.

    Generalizes the reference's count-style reporting aggregates
    (SURVEY.md §2.5 A1/A4) to full group-by metrics. Map-side partial
    aggregation keeps the shuffle at |groups|·|partitions| rows.
    """
    l = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    # two-phase exact sums (_partial_scaled_sums): LONG partials per
    # (group, partition) — bounded, fast, codegen'd — then decimal
    # totals over the tiny partial table (scale-exact at 100 TB
    # without paying the decimal agg cost on every fact row)
    partials = _partial_scaled_sums(
        l.filter(F.col("l_shipdate") <= F.lit("2000-09-02")),
        ["l_returnflag", "l_linestatus"],
        {
            "_q": (F.col("l_quantity"), 100),
            "_bp": (F.col("l_extendedprice"), 100),
            "_dp": (disc_price, 10000),
            "_ch": (charge, 10000),
        },
    )
    return partials.groupBy("l_returnflag", "l_linestatus").agg(
        _dec_total("_q", 100, "sum_qty"),
        _dec_total("_bp", 100, "sum_base_price"),
        _dec_total("_dp", 10000, "sum_disc_price"),
        _dec_total("_ch", 10000, "sum_charge"),
        F.sum("_pn").cast("long").alias("count_order"),
    )


ORACLE_PRICING = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_qty,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_base_price,
       CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) / 10000.0 AS sum_disc_price,
       CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 10000) AS BIGINT)) AS BIGINT) / 10000.0 AS sum_charge,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_star_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship star-schema join+aggregate (see plans.pipeline)."""
    return star_revenue(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )


ORACLE_STAR_REVENUE = """
SELECT r_name, n_name,
       CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) / 10000.0 AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY r_name, n_name
"""


def q_coord_projection_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.3 P1-P3: projection + dirty-string→double cast
    (reference ``src/extract_coordinates.py:17-18``). The dirty value is
    synthesized from integer keys so it is deterministic."""
    n = load_table(spark, sf_dir, "nation")
    lat_raw = F.concat(
        F.col("n_nationkey").cast("string"), F.lit("."), F.col("n_regionkey").cast("string"), F.lit("N")
    )
    lon_raw = F.concat(
        F.col("n_regionkey").cast("string"), F.lit("."), F.col("n_nationkey").cast("string"), F.lit("E")
    )
    return n.select(
        F.col("n_name"),
        lat_raw.alias("lat_raw"),
        lon_raw.alias("lon_raw"),
        strip_direction_suffix(lat_raw).alias("lat"),
        strip_direction_suffix(lon_raw).alias("lon"),
    )


ORACLE_COORD = """
SELECT n_name,
       n_nationkey::VARCHAR || '.' || n_regionkey::VARCHAR || 'N' AS lat_raw,
       n_regionkey::VARCHAR || '.' || n_nationkey::VARCHAR || 'E' AS lon_raw,
       CAST(regexp_replace(n_nationkey::VARCHAR || '.' || n_regionkey::VARCHAR || 'N', '[NSEWnsew]$', '') AS DOUBLE) AS lat,
       CAST(regexp_replace(n_regionkey::VARCHAR || '.' || n_nationkey::VARCHAR || 'E', '[NSEWnsew]$', '') AS DOUBLE) AS lon
FROM nation
"""


def q_dedup_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.4 J5: within-batch dedup + anti-join vs target keys
    (reference ``check_duplicates``,
    ``src/process_insert_places_data.py:30-49``). Target = the
    already-loaded subset (keys ≡ 0 mod 10)."""
    c = load_table(spark, sf_dir, "customer")
    target = c.filter(F.col("c_custkey") % 10 == 0)
    return dedup_against_target(c, target, "c_custkey")


ORACLE_DEDUP_LOAD = """
SELECT * FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM customer t WHERE t.c_custkey % 10 = 0 AND t.c_custkey = c.c_custkey
)
"""


def q_duplicate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.5 A1/A2: duplicate-key audit
    (``src/process_insert_places_data.py:36-48``)."""
    l = load_table(spark, sf_dir, "lineitem")
    return duplicate_audit(l, "l_orderkey")


ORACLE_DUP_AUDIT = """
SELECT l_orderkey, COUNT(*) AS occurrences
FROM lineitem GROUP BY l_orderkey HAVING COUNT(*) > 1
"""


def q_orders_without_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.4 J1 as anti-join: keys in one set absent from another
    (the PK existence probe, set-oriented)."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    new = o.join(l.select(F.col("l_orderkey").alias("o_orderkey")), "o_orderkey", "left_anti")
    return new.select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        epoch_us("o_orderdate").alias("o_orderdate_us"), "o_orderpriority",
    )


ORACLE_ORDERS_NO_LINEITEMS = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       epoch_us(o_orderdate) AS o_orderdate_us, o_orderpriority
FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
"""


def q_fk_semi_urgent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.4 J2: FK semi-join (planner-sized; the urgent-orders
    key set is data-proportional, so no broadcast hint — r11 audit)
    then aggregate —
    lineitems of urgent orders (reference ``check_foreign_key``,
    set-oriented)."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    valid = fk_filter(
        l.withColumnRenamed("l_orderkey", "o_orderkey"), o, "o_orderkey"
    )
    return valid.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        _scaled_sum(F.col("l_quantity"), 100, "sum_qty"),
    )


ORACLE_FK_SEMI = """
SELECT l_returnflag, COUNT(*) AS n_items,
       CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_qty
FROM lineitem l
WHERE EXISTS (
  SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey AND o.o_orderpriority = '1-URGENT'
)
GROUP BY l_returnflag
"""


def q_freshness_latest_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.3 P8/P9: freshness filter — keep only events in the
    newest hour bucket (reference ``src/ingest_weather_data.py:64-71,142``)."""
    e = load_table(spark, sf_dir, "events")
    fresh = freshness_filter(e, "ts")
    return fresh.select(
        "event_id", "user_id", "event_type", "value",
        epoch_us("ts").alias("ts_us"),
    )


ORACLE_FRESHNESS = """
SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us
FROM events
WHERE date_trunc('hour', ts) = (SELECT date_trunc('hour', max(ts)) FROM events)
"""

FUZZY_QUERY_NAMES = [
    "Custoner#000000042",
    "customer#00000001",
    "Cstomer#000000777",
    "Customer#000000123",
    "CUSTOMER#000000999x",
]


def q_fuzzy_best_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.4 J4: fuzzy similarity join + per-query argmax
    (reference place-name matching ``src/ingest_places_data.py:50-67``),
    Levenshtein-ratio semantics."""
    c = load_table(spark, sf_dir, "customer")
    queries = spark.createDataFrame(
        [(q,) for q in FUZZY_QUERY_NAMES], ["query_name"]
    )
    best = fuzzy_best_match(queries, c, "query_name", "c_name")
    return best.select(
        "query_name",
        F.col("c_name").alias("best_match"),
        F.round(F.col("similarity"), 6).alias("similarity"),
    )


def _oracle_fuzzy() -> str:
    values = ", ".join(f"('{q}')" for q in FUZZY_QUERY_NAMES)
    return f"""
WITH queries(query_name) AS (VALUES {values}),
scored AS (
  SELECT q.query_name, c.c_name,
         1.0 - levenshtein(lower(q.query_name), lower(c.c_name))::DOUBLE
             / greatest(length(lower(q.query_name)), length(lower(c.c_name)))::DOUBLE AS sim
  FROM queries q CROSS JOIN customer c
)
SELECT query_name, c_name AS best_match, round(sim, 6) AS similarity
FROM scored
QUALIFY row_number() OVER (PARTITION BY query_name ORDER BY sim DESC, c_name ASC) = 1
"""


def q_cdc_last_write_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.7 T2 (batch form): collapse an update stream to the
    newest version per key — the in-batch half of the CDC merge
    (reference processed updates serially,
    ``src/process_insert_update_weather_data.py:131-162``)."""
    e = load_table(spark, sf_dir, "events")
    latest = last_write_wins(e, "user_id", "ts", tiebreak="event_id")
    return latest.select(
        "user_id", "event_id", "event_type", "value",
        epoch_us("ts").alias("ts_us"),
    )


ORACLE_LWW = """
SELECT user_id, event_id, event_type, value, epoch_us(ts) AS ts_us
FROM events
QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
"""


def q_hourly_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.7 T4 (batch form): 1-hour tumbling-window aggregation
    per event type."""
    e = load_table(spark, sf_dir, "events")
    out = tumbling_agg(
        e, "ts", "1 hour", ["event_type"],
        [
            F.count(F.lit(1)).alias("n_events"),
            _scaled_sum(F.col("value"), 10000, "sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        ],
    )
    return out.select(
        epoch_us("window_start").alias("hour_us"),
        "event_type", "n_events", "sum_value", "n_users",
    )


ORACLE_HOURLY = """
SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) / 10000.0 AS sum_value,
       COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2
"""


def q_json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.8 JSON functions: extract a field from a JSON string
    column (``get_json_object``), then aggregate."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        e.withColumn("k_val", k)
        .groupBy("event_type")
        .agg(
            F.sum("k_val").alias("sum_k"),
            F.count(F.lit(1)).alias("n"),
            (F.sum("k_val") / F.count(F.lit(1))).alias("avg_k"),
        )
    )


ORACLE_JSON = """
SELECT event_type,
       CAST(SUM(CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
       COUNT(*) AS n,
       CAST(SUM(CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS BIGINT)) AS BIGINT)
         / CAST(COUNT(*) AS BIGINT) AS avg_k
FROM events
GROUP BY event_type
"""


# ---------------------------------------------------------------- registry

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "pricing_summary": q_pricing_summary,
    "star_revenue": q_star_revenue,
    "coord_projection_cast": q_coord_projection_cast,
    "dedup_load": q_dedup_load,
    "duplicate_audit": q_duplicate_audit,
    "orders_without_lineitems": q_orders_without_lineitems,
    "fk_semi_urgent": q_fk_semi_urgent,
    "freshness_latest_hour": q_freshness_latest_hour,
    "fuzzy_best_match": q_fuzzy_best_match,
    "cdc_last_write_wins": q_cdc_last_write_wins,
    "hourly_event_stats": q_hourly_event_stats,
    "json_props_extract": q_json_props_extract,
}

ORACLES: dict[str, str] = {
    "pricing_summary": ORACLE_PRICING,
    "star_revenue": ORACLE_STAR_REVENUE,
    "coord_projection_cast": ORACLE_COORD,
    "dedup_load": ORACLE_DEDUP_LOAD,
    "duplicate_audit": ORACLE_DUP_AUDIT,
    "orders_without_lineitems": ORACLE_ORDERS_NO_LINEITEMS,
    "fk_semi_urgent": ORACLE_FK_SEMI,
    "freshness_latest_hour": ORACLE_FRESHNESS,
    "fuzzy_best_match": _oracle_fuzzy(),
    "cdc_last_write_wins": ORACLE_LWW,
    "hourly_event_stats": ORACLE_HOURLY,
    "json_props_extract": ORACLE_JSON,
}


# ------------------------------------------------------- LLM-pipeline ops

from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.functions.hashing import (  # noqa: E402
    band,
    hamming64,
    simhash64,
)
from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.dedup import (  # noqa: E402
    exact_dedup,
)
from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.dedup_near import (  # noqa: E402
    minhash_banded_pairs,
    ngram_jaccard_pairs,
)
from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.similarity import (  # noqa: E402
    cosine_near_dup_pairs,
    cosine_topk,
    ivf_topk,
)
from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.text import (  # noqa: E402
    STOPWORDS,
    fingerprint,
    lang_id,
    quality_score,
    text_stats,
    token_frequencies,
)

_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token statistics per document (tokenize, distinct, TTR, mean
    token length) — text-analysis primitive for corpus curation."""
    return text_stats(load_table(spark, sf_dir, "documents"))


ORACLE_TEXT_STATS = """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_tokens,
       round(CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
             / CAST(len(string_split(text, ' ')) AS BIGINT), 6) AS type_token_ratio,
       round(CAST(list_aggregate(list_transform(string_split(text, ' '), x -> length(x)), 'sum') AS BIGINT)
             / CAST(len(string_split(text, ' ')) AS BIGINT), 6) AS avg_token_len
FROM documents
"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score (stopword density × length factor)."""
    return quality_score(load_table(spark, sf_dir, "documents"))


ORACLE_TEXT_QUALITY = f"""
SELECT doc_id, n_tokens, n_stopwords,
       round(n_stopwords / n_tokens, 6) AS stop_ratio,
       round((1.0 - n_stopwords / n_tokens) * least(1.0, n_tokens / 50.0), 6) AS quality
FROM (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(string_split(text, ' '), x -> x IN ({_STOP_SQL}))) AS BIGINT) AS n_stopwords
  FROM documents
)
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-marker language identification heuristic."""
    return lang_id(load_table(spark, sf_dir, "documents"))


def _oracle_lang_id() -> str:
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.text import (
        LANG_MARKERS,
    )

    hits = ",\n         ".join(
        "CAST(len(list_filter(string_split(text, ' '), x -> x IN ({}))) AS BIGINT) AS hits_{}".format(
            ", ".join(f"'{w}'" for w in words), lang
        )
        for lang, words in LANG_MARKERS.items()
    )
    langs = list(LANG_MARKERS)
    best = "greatest({})".format(", ".join(f"hits_{lang}" for lang in langs))
    case = f"CASE WHEN {best} = 0 THEN 'und' " + " ".join(
        f"WHEN hits_{lang} = {best} THEN '{lang}'" for lang in langs
    ) + " END"
    return f"""
SELECT doc_id, {', '.join(f'hits_{lang}' for lang in langs)},
       {case} AS predicted_lang
FROM (
  SELECT doc_id,
         {hits}
  FROM documents
)
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints: normalized-text md5 + sorted-vocabulary md5."""
    return fingerprint(load_table(spark, sf_dir, "documents"))


ORACLE_FINGERPRINT = r"""
SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS text_fp,
       md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS vocab_fp
FROM documents
"""


def q_token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-20 token frequencies (wordcount + ordered head)."""
    out = token_frequencies(load_table(spark, sf_dir, "documents"), k=20)
    return out.select("token", "n_occurrences", F.col("rank").cast("long").alias("rank"))


ORACLE_TOKEN_TOPK = """
SELECT token, n_occurrences, rank FROM (
  SELECT token, COUNT(*) AS n_occurrences,
         CAST(row_number() OVER (ORDER BY COUNT(*) DESC, token ASC) AS BIGINT) AS rank
  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
  GROUP BY token
) WHERE rank <= 20
"""


def q_dedup_exact_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup on the documents table: md5(text) hash,
    keep min doc_id per hash (deterministic representative)."""
    out = exact_dedup(load_table(spark, sf_dir, "documents"), ["text"], "doc_id")
    return out.select("doc_id", "content_hash")


ORACLE_DEDUP_EXACT_TEXT = """
SELECT doc_id, md5(text) AS content_hash
FROM documents
QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
"""


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup pairs: Jaccard ≥ 0.2 over 3-gram shingles via the
    inverted shingle index (see operators.dedup_near)."""
    return ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"), threshold=0.2)


ORACLE_NGRAM_JACCARD = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i) g
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT d1, d2, shared, s1.n_sh AS n1, s2.n_sh AS n2,
       round(shared / (s1.n_sh + s2.n_sh - shared), 6) AS jaccard
FROM shared JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
WHERE round(shared / (s1.n_sh + s2.n_sh - shared), 6) >= 0.2
"""


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs via AND-OR banded MinHash LSH (JVM built-ins:
    seeded xxhash64 + array HOFs) with exact-Jaccard verification of
    candidates. Banding is r=2/b=16 — at the corpus' near-dup
    similarities (≥ 0.9) the candidate-miss probability is ~1e-11 per
    pair, so the verified output equals the EXACT Jaccard pair set at
    the same threshold, which is what the DuckDB oracle computes
    (subset holds by construction: every emitted pair is exact-
    verified; the oracle equality additionally pins recall = 1)."""
    return minhash_banded_pairs(
        load_table(spark, sf_dir, "documents"),
        num_hashes=32,
        bands=16,
        threshold=0.5,
    )


ORACLE_MINHASH_LSH = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i) g
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT d1, d2,
       round(shared / (s1.n_sh + s2.n_sh - shared), 6) AS jaccard
FROM shared JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
WHERE round(shared / (s1.n_sh + s2.n_sh - shared), 6) >= 0.5
"""


def q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 64-bit fingerprints (Arrow pandas UDF, md5
    token hashes), LSH banding on 16-bit sub-keys, Hamming ≤ 3
    confirm. With 4 bands and ≤ 3 flipped bits, the pigeonhole
    guarantees at least one band is identical — the banded join is
    provably LOSSLESS vs the full O(n²) compare, which is exactly what
    the DuckDB oracle runs (md5 is replicated bit-for-bit in SQL)."""
    d = parallelize(load_table(spark, sf_dir, "documents")).select(
        "doc_id", simhash64(F.col("text")).alias("sh")
    )
    banded = d.select(
        "doc_id", "sh",
        F.posexplode(F.array(*[band("sh", i) for i in range(4)])).alias("band_idx", "band_val"),
    )
    a = banded.select(
        F.col("doc_id").alias("d1"), F.col("sh").alias("sh1"), "band_idx", "band_val"
    )
    b = banded.select(
        F.col("doc_id").alias("d2"), F.col("sh").alias("sh2"), "band_idx", "band_val"
    )
    pairs = (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2", hamming64("sh1", "sh2").cast("long").alias("hamming"))
        .dropDuplicates(["d1", "d2"])
        .filter(F.col("hamming") <= 3)
    )
    return pairs


# DuckDB replica of functions/hashing.py:_simhash64_one — token hash is
# the first 8 bytes of md5 (big-endian), per-bit ±1 votes, bit set iff
# vote sum > 0, fingerprint reinterpreted as int64 two's complement —
# then the full O(n²) Hamming join the banded Spark plan provably equals.
ORACLE_SIMHASH = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
  FROM documents WHERE text IS NOT NULL AND text <> ''
),
th AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS h FROM toks
),
bits AS (SELECT unnest(generate_series(0, 63)) AS bit),
votes AS (
  SELECT doc_id, bit,
         SUM(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM th CROSS JOIN bits
  GROUP BY doc_id, bit
),
fpu AS (
  SELECT doc_id,
         SUM(CASE WHEN v > 0 THEN (1::UBIGINT << bit)::HUGEINT ELSE 0::HUGEINT END) AS f
  FROM votes GROUP BY doc_id
),
fp AS (
  SELECT doc_id,
         (CASE WHEN f >= 9223372036854775808::HUGEINT
               THEN f - 18446744073709551616::HUGEINT ELSE f END)::BIGINT AS fp
  FROM fpu
  UNION ALL
  SELECT doc_id, 0::BIGINT AS fp FROM documents WHERE text IS NULL OR text = ''
)
SELECT a.doc_id AS d1, b.doc_id AS d2,
       CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.fp, b.fp)) <= 3
"""


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-10 cosine neighbors for 5 query vectors
    (similarity-search baseline; queries broadcast, corpus map-only)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    out = cosine_topk(emb, q, k=10)
    return out.select("q_id", "vec_id", "similarity", F.col("rank").cast("long").alias("rank"))


ORACLE_ANN_COSINE = """
WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.q_id, e.vec_id,
         round(list_cosine_similarity(e.embedding::DOUBLE[], q.q_emb::DOUBLE[]), 6) AS similarity
  FROM embeddings e CROSS JOIN q
)
SELECT q_id, vec_id, similarity, rank FROM (
  SELECT q_id, vec_id, similarity,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY similarity DESC, vec_id ASC) AS BIGINT) AS rank
  FROM scored
) WHERE rank <= 10
"""


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style top-5 neighbors: candidates restricted to the query's
    coarse cluster (label) — the scale path for ANN."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("label"), F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    out = ivf_topk(emb, q, k=5)
    return out.select("q_id", "vec_id", "similarity", F.col("rank").cast("long").alias("rank"))


ORACLE_ANN_IVF = """
WITH q AS (SELECT label, vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
scored AS (
  SELECT q.q_id, e.vec_id,
         round(list_cosine_similarity(e.embedding::DOUBLE[], q.q_emb::DOUBLE[]), 6) AS similarity
  FROM embeddings e JOIN q ON e.label = q.label
)
SELECT q_id, vec_id, similarity, rank FROM (
  SELECT q_id, vec_id, similarity,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY similarity DESC, vec_id ASC) AS BIGINT) AS rank
  FROM scored
) WHERE rank <= 5
"""


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs (cosine ≥ 0.3) blocked by the
    coarse cluster id — |n|²/|blocks| pair space."""
    return cosine_near_dup_pairs(load_table(spark, sf_dir, "embeddings"), threshold=0.3)


ORACLE_EMB_NEAR_DUP = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS similarity
FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.3
"""


QUERIES.update(
    {
        "text_stats": q_text_stats,
        "text_quality": q_text_quality,
        "lang_id": q_lang_id,
        "doc_fingerprint": q_doc_fingerprint,
        "token_topk": q_token_topk,
        "dedup_exact_text": q_dedup_exact_text,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "simhash_near_dup": q_simhash_near_dup,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "embedding_near_dup": q_embedding_near_dup,
    }
)

ORACLES.update(
    {
        "text_stats": ORACLE_TEXT_STATS,
        "text_quality": ORACLE_TEXT_QUALITY,
        "lang_id": _oracle_lang_id(),
        "doc_fingerprint": ORACLE_FINGERPRINT,
        "token_topk": ORACLE_TOKEN_TOPK,
        "dedup_exact_text": ORACLE_DEDUP_EXACT_TEXT,
        "ngram_jaccard_pairs": ORACLE_NGRAM_JACCARD,
        "minhash_lsh_pairs": ORACLE_MINHASH_LSH,
        "simhash_near_dup": ORACLE_SIMHASH,
        "ann_cosine_topk": ORACLE_ANN_COSINE,
        "ann_ivf_topk": ORACLE_ANN_IVF,
        "embedding_near_dup": ORACLE_EMB_NEAR_DUP,
    }
)


# ------------------------------------------------------- multimodal plumbing

from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.multimodal import (  # noqa: E402
    extract_features,
)


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload feature extraction via mapInPandas (Arrow batch
    plumbing; decode step stubbed — see operators.multimodal). Payload
    synthesized by utf-8-encoding the text column; byte length and md5
    are oracle-checkable, proving the Arrow round-trip is byte-exact."""
    d = parallelize(load_table(spark, sf_dir, "documents")).select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )
    return extract_features(d).select("doc_id", "n_bytes", "payload_md5")


ORACLE_MULTIMODAL = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS payload_md5
FROM documents
"""

QUERIES["multimodal_features"] = q_multimodal_features
ORACLES["multimodal_features"] = ORACLE_MULTIMODAL


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL byte-level media decode (operators.multimodal.decode_media):
    synthesize genuine PNG/WAV container bytes per doc (even doc_id →
    grayscale PNG, odd → mono PCM16 WAV; header fields are arithmetic
    in doc_id), then struct-parse them back — inflating IDAT,
    un-filtering scanlines, reading PCM frames. The oracle predicts
    every recovered field by pure arithmetic, so a hash match proves
    the decoder inverts the encoder through real container bytes (the
    reference's raw-zone land-then-extract pattern,
    ``src/process_insert_update_weather_data.py:83-93``). Two
    mapInPandas stages, map-only: no shuffle, payload bytes never
    leave the partition — the shape that scales to a binary lake."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.multimodal import (
        decode_media,
        synthesize_media,
    )

    d = parallelize(load_table(spark, sf_dir, "documents").select("doc_id"))
    media = synthesize_media(d)
    return decode_media(media).select(
        "doc_id",
        "kind",
        "width",
        "height",
        "bit_depth",
        "channels",
        "sample_rate",
        "n_samples",
        "duration_us",
        F.round("mean_value", 6).alias("mean_value"),
    )


# Arithmetic twin of build_png/build_wav + parse_media: every field the
# parser recovers from the bytes is predicted here from doc_id alone.
ORACLE_MULTIMODAL_DECODE = """
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'wav' END AS kind,
       CASE WHEN doc_id % 2 = 0 THEN 1 + doc_id % 64 END AS width,
       CASE WHEN doc_id % 2 = 0 THEN 1 + (doc_id // 64) % 64 END AS height,
       CASE WHEN doc_id % 2 = 0 THEN 8 ELSE 16 END AS bit_depth,
       CAST(1 AS BIGINT) AS channels,
       CASE WHEN doc_id % 2 = 1 THEN
         CASE doc_id % 4 WHEN 1 THEN 16000 WHEN 3 THEN 44100 END
       END AS sample_rate,
       CASE WHEN doc_id % 2 = 1 THEN 100 + doc_id % 400 END AS n_samples,
       CASE WHEN doc_id % 2 = 1 THEN
         ((100 + doc_id % 400) * 1000000) // (CASE doc_id % 4 WHEN 1 THEN 16000
                                              WHEN 3 THEN 44100 END)
       END AS duration_us,
       CASE WHEN doc_id % 2 = 0 THEN CAST(doc_id % 256 AS DOUBLE)
            ELSE CAST((doc_id % 100) * 10 AS DOUBLE) END AS mean_value
FROM documents
"""

QUERIES["multimodal_decode"] = q_multimodal_decode
ORACLES["multimodal_decode"] = ORACLE_MULTIMODAL_DECODE


# ------------------------------------------ batch 3: temporal/relational ops

from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.asof import (  # noqa: E402
    asof_join,
)
from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.integrity import (  # noqa: E402
    fk_violations,
)
from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.sessions import (  # noqa: E402
    sessionize,
)


def q_dlq_split_fk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.2 K6/K8: dead-letter split — the rows REJECTED by a
    referential-integrity check, tagged with a reason (the reference
    logs + drops them, ``src/process_insert_update_weather_data.py:75-79``;
    we persist them)."""
    l = load_table(spark, sf_dir, "lineitem")
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    bad = fk_violations(
        l.withColumnRenamed("l_orderkey", "o_orderkey"), urgent, "o_orderkey"
    )
    return bad.select(
        F.col("o_orderkey").alias("l_orderkey"),
        "l_linenumber",
        F.lit("fk_missing:orders_urgent").alias("reject_reason"),
    )


ORACLE_DLQ_SPLIT = """
SELECT l_orderkey, l_linenumber, 'fk_missing:orders_urgent' AS reject_reason
FROM lineitem l
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_orderkey = l.l_orderkey AND o.o_orderpriority = '1-URGENT'
)
"""


def q_reconcile_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §5.2: lake/warehouse count-reconciliation audit
    (``README.md:140`` — row counts, key counts, key-set diffs)."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.integrity import (
        reconcile_counts,
    )

    l = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k")
    )
    o = load_table(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("k"))
    return reconcile_counts(l, o, "k")


ORACLE_RECONCILE = """
SELECT
  (SELECT COUNT(*) FROM lineitem) AS source_rows,
  (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem) AS source_keys,
  (SELECT COUNT(*) FROM orders) AS target_rows,
  (SELECT COUNT(DISTINCT o_orderkey) FROM orders) AS target_keys,
  (SELECT COUNT(*) FROM (SELECT DISTINCT l_orderkey FROM lineitem
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey))) AS missing_in_target,
  (SELECT COUNT(*) FROM (SELECT DISTINCT o_orderkey FROM orders
    WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey))) AS extra_in_target,
  (SELECT COUNT(*) FROM (SELECT DISTINCT l_orderkey FROM lineitem
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey))) = 0
  AND
  (SELECT COUNT(*) FROM (SELECT DISTINCT o_orderkey FROM orders
    WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey))) = 0
  AS consistent
"""


def q_gmt7_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.3 P8: the reference's GMT+7 wall-clock hour bucket
    (``src/ingest_weather_data.py:142``) as a timezone-shifted
    tumbling aggregate."""
    e = load_table(spark, sf_dir, "events")
    bucket = F.date_trunc(
        "hour", F.from_utc_timestamp(F.col("ts"), "Asia/Ho_Chi_Minh")
    )
    return (
        e.groupBy(bucket.alias("h"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.countDistinct("user_id").alias("n_users"))
        .select(epoch_us("h").alias("hour7_us"), "n_events", "n_users")
    )


ORACLE_GMT7 = """
SELECT epoch_us(date_trunc('hour', ts + INTERVAL 7 HOUR)) AS hour7_us,
       COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY 1
"""


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.6 O1/O2: set difference / intersection / union over
    key sets, as a 3-row summary."""
    c = load_table(spark, sf_dir, "customer")
    a = c.filter(F.col("c_custkey") % 3 == 0).select("c_custkey")
    b = c.filter(F.col("c_custkey") % 5 == 0).select("c_custkey")
    # one unioned plan, one job — not three driver-side counts
    def _count(df, tag):
        return df.agg(F.count(F.lit(1)).cast("long").alias("n")).select(
            F.lit(tag).alias("set_op"), "n"
        )

    return (
        _count(a.exceptAll(b), "a_minus_b")
        .unionByName(_count(a.intersect(b), "a_intersect_b"))
        .unionByName(_count(a.union(b).distinct(), "a_union_b"))
    )


ORACLE_SET_OPS = """
SELECT 'a_minus_b' AS set_op, COUNT(*) AS n FROM (
  SELECT c_custkey FROM customer WHERE c_custkey % 3 = 0
  EXCEPT ALL SELECT c_custkey FROM customer WHERE c_custkey % 5 = 0)
UNION ALL
SELECT 'a_intersect_b', COUNT(*) FROM (
  SELECT c_custkey FROM customer WHERE c_custkey % 3 = 0
  INTERSECT SELECT c_custkey FROM customer WHERE c_custkey % 5 = 0)
UNION ALL
SELECT 'a_union_b', COUNT(*) FROM (
  SELECT c_custkey FROM customer WHERE c_custkey % 3 = 0
  UNION SELECT c_custkey FROM customer WHERE c_custkey % 5 = 0)
"""


def q_top_customers_by_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.6 O3: ordered top-k with a total-order tiebreak."""
    c = load_table(spark, sf_dir, "customer")
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.windows import (
        top_k_per_group,
    )

    out = top_k_per_group(
        c, [], [F.col("c_acctbal").desc(), F.col("c_custkey").asc()], 100
    )
    return out.select(
        "c_custkey", "c_name", "c_acctbal", F.col("rank").cast("long").alias("rank")
    )


ORACLE_TOP_CUSTOMERS = """
SELECT c_custkey, c_name, c_acctbal, rank FROM (
  SELECT c_custkey, c_name, c_acctbal,
         CAST(row_number() OVER (ORDER BY c_acctbal DESC, c_custkey ASC) AS BIGINT) AS rank
  FROM customer
) WHERE rank <= 100
"""


def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP aggregate (region → nation → grand total) —
    free in Spark; the engine ships it even though the reference never
    aggregates (SURVEY §2.5 note)."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = (
        l.join(o.select("o_orderkey", "o_custkey"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c.select("c_custkey", "c_nationkey"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    partials = _partial_scaled_sums(
        joined,
        ["r_name", "n_name"],
        {"_r": (F.col("l_extendedprice") * (1 - F.col("l_discount")), 10000)},
    )
    return (
        partials.rollup("r_name", "n_name")
        .agg(
            _dec_total("_r", 10000, "revenue"),
            F.sum("_pn").cast("long").alias("n_items"),
        )
        .select(
            F.coalesce(F.col("r_name"), F.lit("ALL")).alias("region"),
            F.coalesce(F.col("n_name"), F.lit("ALL")).alias("nation"),
            "revenue",
            "n_items",
        )
    )


ORACLE_ROLLUP = """
SELECT coalesce(r_name, 'ALL') AS region, coalesce(n_name, 'ALL') AS nation,
       CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) / 10000.0 AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


def q_window_running_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-frame analytics per user over event time: row index,
    previous-event pointer, inter-event gap (all integer-exact)."""
    e = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    ts_us = epoch_us("ts")
    return e.select(
        "user_id",
        "event_id",
        F.row_number().over(w).cast("long").alias("rn"),
        F.lag("event_id").over(w).alias("prev_event_id"),
        (ts_us - F.lag(ts_us).over(w)).alias("gap_us"),
    )


ORACLE_RUNNING = """
SELECT user_id, event_id,
       CAST(row_number() OVER w AS BIGINT) AS rn,
       lag(event_id) OVER w AS prev_event_id,
       epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
"""


def q_asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase event paired with the same user's most
    recent click at-or-before it (union-tag + carried-state window —
    see operators.asof)."""
    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_event_id"), "ts"
    )
    out = asof_join(
        purchases, clicks, on="user_id", left_ts="ts", right_ts="ts",
        right_cols=["click_event_id"], tiebreak="click_event_id",
    )
    return out.select(
        "user_id",
        "event_id",
        epoch_us("ts").alias("ts_us"),
        F.col("asof_click_event_id").alias("click_event_id"),
        epoch_us("asof_ts").alias("click_ts_us"),
    )


ORACLE_ASOF = """
WITH tagged AS (
  SELECT user_id, ts, 1 AS is_left, event_id,
         NULL::BIGINT AS r_click_id, NULL::TIMESTAMP AS r_ts
  FROM events WHERE event_type = 'purchase'
  UNION ALL
  SELECT user_id, ts, 0 AS is_left, NULL::BIGINT AS event_id,
         event_id AS r_click_id, ts AS r_ts
  FROM events WHERE event_type = 'click'
),
carried AS (
  SELECT user_id, ts, is_left, event_id,
         last_value(r_click_id IGNORE NULLS) OVER w AS click_event_id,
         last_value(r_ts IGNORE NULLS) OVER w AS click_ts
  FROM tagged
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, is_left ASC, r_click_id ASC NULLS FIRST
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT user_id, event_id, epoch_us(ts) AS ts_us,
       click_event_id, epoch_us(click_ts) AS click_ts_us
FROM carried WHERE is_left = 1
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-minute inactivity gap) per user."""
    e = load_table(spark, sf_dir, "events")
    out = sessionize(e, "user_id", "ts", gap="30 minutes", tiebreak="event_id")
    return out.select("user_id", "event_id", epoch_us("ts").alias("ts_us"), "session_idx")


ORACLE_SESSIONIZE = """
WITH g AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
)
SELECT user_id, event_id, epoch_us(ts) AS ts_us,
       CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
FROM g
"""


QUERIES.update(
    {
        "dlq_split_fk": q_dlq_split_fk,
        "reconcile_counts": q_reconcile_counts,
        "gmt7_hourly": q_gmt7_hourly,
        "set_ops": q_set_ops,
        "top_customers_by_balance": q_top_customers_by_balance,
        "rollup_revenue": q_rollup_revenue,
        "window_running_metrics": q_window_running_metrics,
        "asof_purchase_click": q_asof_purchase_click,
        "sessionize": q_sessionize,
    }
)

ORACLES.update(
    {
        "dlq_split_fk": ORACLE_DLQ_SPLIT,
        "reconcile_counts": ORACLE_RECONCILE,
        "gmt7_hourly": ORACLE_GMT7,
        "set_ops": ORACLE_SET_OPS,
        "top_customers_by_balance": ORACLE_TOP_CUSTOMERS,
        "rollup_revenue": ORACLE_ROLLUP,
        "window_running_metrics": ORACLE_RUNNING,
        "asof_purchase_click": ORACLE_ASOF,
        "sessionize": ORACLE_SESSIONIZE,
    }
)


# ---------------------------------------- batch 4: relational breadth

def q_priority_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS-style semi-join with a range predicate
    (orders having any lineitem shipped >60 days after order date),
    counted per priority."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    # one LEFT SEMI join on the compound condition — no distinct stage
    late = o.join(
        l,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.expr("o_orderdate + INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


ORACLE_Q4 = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
)
GROUP BY o_orderpriority
"""


def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: LEFT OUTER join + two-level aggregation —
    distribution of customers by how many orders they have (including
    zero-order customers, which only an outer join preserves)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


ORACLE_Q13 = """
SELECT c_count, COUNT(*) AS custdist FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
) GROUP BY c_count
"""


def q_top_customer_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group argmax joined to dims: richest customer per nation
    (window row_number with total-order tiebreak, broadcast dim)."""
    from pyspark.sql import Window

    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    top = c.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    return top.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")).select(
        "n_name", "c_custkey", "c_name", "c_acctbal"
    )


ORACLE_TOP_PER_NATION = """
SELECT n_name, c_custkey, c_name, c_acctbal FROM (
  SELECT c_nationkey, c_custkey, c_name, c_acctbal,
         row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
  FROM customer
) c JOIN nation ON c.c_nationkey = n_nationkey
WHERE rn = 1
"""


def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING on a grouped sum, joined back to the
    order+customer context."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        l.groupBy("l_orderkey")
        .agg((F.sum(F.round(F.col("l_quantity") * 100).cast("long")) / 100.0).alias("total_qty"))
        .filter(F.col("total_qty") > 200)
    )
    return (
        big.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "c_custkey", "c_name", "o_totalprice", "total_qty")
    )


ORACLE_LARGE_ORDERS = """
SELECT o_orderkey, c_custkey, c_name, o_totalprice, total_qty
FROM (
  SELECT l_orderkey,
         CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) / 100.0 AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) / 100.0 > 200
) b
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def q_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-column statistics per cluster: count, mean L2 norm, mean
    of first component — all via JVM array HOF expressions."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.functions.vector import (
        l2_norm,
    )

    e = load_table(spark, sf_dir, "embeddings")
    norm_4dp = F.round(l2_norm("embedding") * 10000).cast("long")
    first_6dp = F.round(F.element_at(F.col("embedding").cast("array<double>"), 1) * 1000000).cast("long")
    return (
        e.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            (F.sum(norm_4dp) / F.count(F.lit(1)) / 10000.0).alias("mean_norm"),
            (F.sum(first_6dp) / F.count(F.lit(1)) / 1000000.0).alias("mean_first"),
        )
    )


ORACLE_EMB_STATS = """
SELECT label, COUNT(*) AS n_vecs,
       CAST(SUM(CAST(round(sqrt(list_aggregate(list_transform(embedding::DOUBLE[], x -> x*x), 'sum')) * 10000) AS BIGINT)) AS BIGINT)
         / CAST(COUNT(*) AS BIGINT) / 10000.0 AS mean_norm,
       CAST(SUM(CAST(round(embedding[1]::DOUBLE * 1000000) AS BIGINT)) AS BIGINT)
         / CAST(COUNT(*) AS BIGINT) / 1000000.0 AS mean_first
FROM embeddings GROUP BY label
"""


QUERIES.update(
    {
        "priority_late_orders": q_priority_late_orders,
        "customer_order_distribution": q_customer_order_distribution,
        "top_customer_per_nation": q_top_customer_per_nation,
        "large_orders": q_large_orders,
        "embedding_stats": q_embedding_stats,
    }
)

ORACLES.update(
    {
        "priority_late_orders": ORACLE_Q4,
        "customer_order_distribution": ORACLE_Q13,
        "top_customer_per_nation": ORACLE_TOP_PER_NATION,
        "large_orders": ORACLE_LARGE_ORDERS,
        "embedding_stats": ORACLE_EMB_STATS,
    }
)


# --------------------------------- batch 5: clustering + grouped pandas

from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.graph import (  # noqa: E402
    dedup_clusters,
)
from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.grouped_pandas import (  # noqa: E402
    grouped_percent_rank,
)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs (jaccard ≥ 0.5) resolved into clusters via
    contraction-based connected components
    (operators.graph.partitioned_components: one block-local union-find
    shuffle + iterative propagation on the contracted label graph
    only); each doc labeled with its cluster representative (min
    doc_id in the component)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.5).select("d1", "d2")
    return dedup_clusters(docs, pairs)


ORACLE_DEDUP_CLUSTERS = """
WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i) g
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT d1, d2 FROM shared
  JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
  WHERE round(shared / (s1.n_sh + s2.n_sh - shared), 6) >= 0.5
),
edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
reach(node, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.a, r.lbl FROM reach r JOIN edges e ON e.b = r.node
)
SELECT node AS doc_id, MIN(lbl) AS cluster_id, node = MIN(lbl) AS is_representative
FROM reach GROUP BY node
"""


def q_grouped_pct_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-wise pandas transform (applyInPandas): per-source
    percent_rank of document length — SQL-exact semantics, Arrow
    group batches."""
    docs = parallelize(load_table(spark, sf_dir, "documents"))
    return grouped_percent_rank(docs, "source", "n_chars", "doc_id")


ORACLE_GROUPED_PCT = """
SELECT doc_id, source, n_chars,
       round(percent_rank() OVER (PARTITION BY source ORDER BY n_chars), 6) AS pct_rank
FROM documents
"""

QUERIES.update(
    {
        "dedup_clusters": q_dedup_clusters,
        "grouped_pct_rank": q_grouped_pct_rank,
    }
)
ORACLES.update(
    {
        "dedup_clusters": ORACLE_DEDUP_CLUSTERS,
        "grouped_pct_rank": ORACLE_GROUPED_PCT,
    }
)


# --------------------------------- batch 6: statistical aggregates

def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (linear interpolation) of event value per
    type, mirrored by DuckDB `quantile_cont` — computed via
    operators.windows.grouped_percentile_exact (grouped_rank order
    statistics + the engines' shared two-product interpolation)
    instead of the `percentile()` aggregate, whose buffer holds every
    value of a group: event_type is a ~5-value key, so at 100 TB that
    is five fact-sized aggregation buffers (the round-9 audit's
    unbounded-buffer class). Bit-identical output, scale-safe plan."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.windows import (
        grouped_percentile_exact,
    )

    e = load_table(spark, sf_dir, "events")
    pct = grouped_percentile_exact(
        e.select("event_type", "value", "event_id"),
        ["event_type"],
        "value",
        "event_id",
        {"_p50": 0.5, "_p90": 0.9, "_p99": 0.99},
    )
    return pct.select(
        "event_type",
        F.round(F.col("_p50"), 6).alias("p50"),
        F.round(F.col("_p90"), 6).alias("p90"),
        F.round(F.col("_p99"), 6).alias("p99"),
    )


ORACLE_PERCENTILES = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90,
       round(quantile_cont(value, 0.99), 6) AS p99
FROM events GROUP BY event_type
"""


def q_value_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean/variance/stddev derived from scaled-integer power sums —
    bit-deterministic under any partitioning (built-in stddev is a
    streaming estimator whose low bits depend on visit order). Power
    sums accumulate in DECIMAL(38,0) (r11 int64-overflow sweep: the
    per-row square v4² is ≤ ~3.1e13, so a LONG Σv4² overflows at
    ~293k rows per type — sf3 territory, certain at 100 TB. Under
    ANSI, the Spark 4 default and what this session and the driver's
    vanilla session both run, that's a loud ArithmeticException; with
    ANSI off it's a silent wrap — either way the query cannot answer
    at scale, where the HUGEINT-summing oracle can); both sides cast
    the exact sums to DOUBLE before the identical division tree, so
    parity holds."""
    e = load_table(spark, sf_dir, "events")
    v4 = F.round(F.col("value") * 10000).cast("long")  # value in 1e-4 units
    agg = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v4.cast("decimal(38,0)")).alias("_s1d"),
        F.sum((v4 * v4).cast("decimal(38,0)")).alias("_s2d"),
    )
    s1 = F.col("_s1d").cast("double")
    s2 = F.col("_s2d").cast("double")
    mean = s1 / F.col("n") / 10000.0
    var = (s2 / F.col("n") - (s1 / F.col("n")) * (s1 / F.col("n"))) / 100000000.0
    return agg.select(
        "event_type",
        "n",
        F.round(mean, 6).alias("mean_value"),
        F.round(var, 6).alias("var_value"),
        F.round(F.sqrt(var), 6).alias("std_value"),
    )


ORACLE_MOMENTS = """
SELECT event_type, n,
       round(s1 / n / 10000.0, 6) AS mean_value,
       round((s2 / n - (s1 / n) * (s1 / n)) / 100000000.0, 6) AS var_value,
       round(sqrt((s2 / n - (s1 / n) * (s1 / n)) / 100000000.0), 6) AS std_value
FROM (
  SELECT event_type, COUNT(*) AS n,
         CAST(SUM(CAST(round(value * 10000) AS BIGINT)) AS DOUBLE) AS s1,
         CAST(SUM(CAST(round(value * 10000) AS BIGINT) * CAST(round(value * 10000) AS BIGINT)) AS DOUBLE) AS s2
  FROM events GROUP BY event_type
)
"""

QUERIES.update(
    {
        "value_percentiles": q_value_percentiles,
        "value_moments": q_value_moments,
    }
)
ORACLES.update(
    {
        "value_percentiles": ORACLE_PERCENTILES,
        "value_moments": ORACLE_MOMENTS,
    }
)


# --------------------------------- batch 7: binning, strings, pivot

def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of event values (bin = floor(v/10)) per
    event type — the binning primitive behind data-quality dashboards."""
    e = load_table(spark, sf_dir, "events")
    bin_idx = F.floor(F.col("value") / 10).cast("long")
    return (
        e.groupBy("event_type", bin_idx.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


ORACLE_HISTOGRAM = """
SELECT event_type, CAST(floor(value / 10) AS BIGINT) AS bin, COUNT(*) AS n
FROM events GROUP BY 1, 2
"""


def q_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string-function surface (SURVEY §2.8 breadth): case
    mapping, padding, reversal, character translation, splitting,
    length — one projection, fully codegen'd."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper(F.col("p_name")).alias("name_upper"),
        F.reverse(F.col("p_name")).alias("name_rev"),
        F.lpad(F.col("p_brand"), 12, "*").alias("brand_padded"),
        F.translate(F.col("p_type"), "AEIOU", "aeiou").alias("type_translated"),
        F.split(F.col("p_name"), " ").getItem(0).alias("first_word"),
        F.length(F.col("p_name")).cast("long").alias("name_len"),
    )


ORACLE_STRINGS = """
SELECT p_partkey,
       upper(p_name) AS name_upper,
       reverse(p_name) AS name_rev,
       lpad(p_brand, 12, '*') AS brand_padded,
       translate(p_type, 'AEIOU', 'aeiou') AS type_translated,
       string_split(p_name, ' ')[1] AS first_word,
       CAST(length(p_name) AS BIGINT) AS name_len
FROM part
"""

_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def q_orders_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts per status × priority (wide layout) — the
    crosstab shape; fixed pivot values so the schema is static."""
    o = load_table(spark, sf_dir, "orders")
    out = (
        o.groupBy("o_orderstatus")
        .pivot("o_orderpriority", _PRIORITIES)
        .agg(F.count(F.lit(1)))
    )
    renames = {p: f"n_{p.split('-')[0]}" for p in _PRIORITIES}
    for old, new in renames.items():
        out = out.withColumnRenamed(old, new)
    return out.select(
        "o_orderstatus",
        *[F.coalesce(F.col(f"n_{i}"), F.lit(0)).cast("long").alias(f"n_{i}") for i in "12345"],
    )


ORACLE_PIVOT = """
SELECT o_orderstatus,
       COUNT(*) FILTER (o_orderpriority = '1-URGENT') AS n_1,
       COUNT(*) FILTER (o_orderpriority = '2-HIGH') AS n_2,
       COUNT(*) FILTER (o_orderpriority = '3-MEDIUM') AS n_3,
       COUNT(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS n_4,
       COUNT(*) FILTER (o_orderpriority = '5-LOW') AS n_5
FROM orders GROUP BY o_orderstatus
"""

QUERIES.update(
    {
        "value_histogram": q_value_histogram,
        "string_functions": q_string_functions,
        "orders_pivot": q_orders_pivot,
    }
)
ORACLES.update(
    {
        "value_histogram": ORACLE_HISTOGRAM,
        "string_functions": ORACLE_STRINGS,
        "orders_pivot": ORACLE_PIVOT,
    }
)


def q_ann_ivf_learned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN with a LEARNED coarse quantizer: deterministic Lloyd fit on
    a content-defined bounded sample (the FAISS-style 100 TB recipe),
    map-only literal-argmin cluster assignment, multi-probe search of
    the nprobe nearest inverted lists, exact cosine rerank.

    The returned similarities are exact (verification built into the
    rerank), and at nprobe=14/16 the result EQUALS the brute-force
    top-k on this corpus — which the DuckDB oracle computes. The high
    nprobe is honest: these synthetic embeddings are isotropic (no
    neighborhood structure for the quantizer to exploit — checked:
    no query's top-5 concentrates in its own label cluster), so IVF
    must probe most cells for full recall; on real embedding corpora
    nprobe ≪ n_clusters. Everything is deterministic across cluster
    sizes: hash-defined sample, driver-side float64 Lloyd, per-row
    assignment expression — no distributed float reductions.

    Build-once / probe-many: the index (cluster-partitioned corpus +
    centroid table) is PERSISTED via the materialized-layout cache and
    every invocation after the first only probes the stored layout —
    quantizer training and assignment never re-run, and the probe's
    literal isin filter statically prunes the unprobed inverted-list
    partitions (operators.similarity.persist_ivf_index /
    ivf_topk_from_index)."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.similarity import (
        ivf_topk_from_index,
        persist_ivf_index,
    )

    def _write(root: str) -> None:
        emb = load_table(spark, sf_dir, "embeddings")
        persist_ivf_index(emb, root, n_clusters=16, sample_fraction=0.5)

    root = _materialized_layout("ivf_index", sf_dir, _write)
    out = ivf_topk_from_index(
        spark, root, query_ids=[0, 1, 2, 3, 4], k=5, nprobe=14
    )
    return out.select(
        "q_id", "vec_id", "similarity", F.col("rank").cast("long").alias("rank")
    )


ORACLE_ANN_IVF_LEARNED = """
WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.q_id, e.vec_id,
         round(list_cosine_similarity(e.embedding::DOUBLE[], q.q_emb::DOUBLE[]), 6) AS similarity
  FROM embeddings e CROSS JOIN q
)
SELECT q_id, vec_id, similarity, rank FROM (
  SELECT q_id, vec_id, similarity,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY similarity DESC, vec_id ASC) AS BIGINT) AS rank
  FROM scored
) WHERE rank <= 5
"""

QUERIES["ann_ivf_learned"] = q_ann_ivf_learned
ORACLES["ann_ivf_learned"] = ORACLE_ANN_IVF_LEARNED


def q_conditional_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional/boolean aggregate surface: filtered counts, ANY/ALL
    predicates, exact min/max per group."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count(F.when(F.col("value") > 50, 1)).alias("n_gt50"),
        F.max(F.col("value") > 99).alias("any_gt99"),
        F.min(F.col("value") >= 0).alias("all_nonneg"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


ORACLE_CONDITIONAL = """
SELECT event_type,
       COUNT(*) FILTER (value > 50) AS n_gt50,
       bool_or(value > 99) AS any_gt99,
       bool_and(value >= 0) AS all_nonneg,
       MIN(value) AS min_value,
       MAX(value) AS max_value
FROM events GROUP BY event_type
"""


def q_pattern_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pattern-matching surface: LIKE, anchored regex, substring
    containment — all pushed/codegen'd predicates."""
    p = load_table(spark, sf_dir, "part")
    return p.filter(
        F.col("p_name").like("%bolt%")
        | F.col("p_name").rlike("^red ")
        | F.col("p_type").contains("ECONOMY")
    ).select("p_partkey", "p_name", "p_type")


ORACLE_PATTERNS = """
SELECT p_partkey, p_name, p_type FROM part
WHERE p_name LIKE '%bolt%'
   OR regexp_matches(p_name, '^red ')
   OR contains(p_type, 'ECONOMY')
"""

QUERIES.update(
    {"conditional_aggregates": q_conditional_aggregates, "pattern_filters": q_pattern_filters}
)
ORACLES.update(
    {"conditional_aggregates": ORACLE_CONDITIONAL, "pattern_filters": ORACLE_PATTERNS}
)


# ----------------------------------------------- streaming/batch equivalence

def q_stream_batch_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming/batch equivalence (SURVEY §2.7 T4/T5): the hourly
    tumbling aggregation executed as an ACTUAL Structured Streaming job
    (availableNow file stream over the events table, watermarked,
    complete output so the bounded replay finalizes every window),
    returned batch-side. The oracle is the plain batch SQL — the driver
    thereby pins stream-executed results == batch results, not just a
    pytest claim. countDistinct is excluded (unsupported in streaming
    aggregation); min/max are order-independent exact doubles.
    """
    import os as _os

    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.windowed import (
        windowed_counts_once,
    )

    out = windowed_counts_once(
        spark,
        _os.path.join(sf_dir, "events.parquet"),
        group_cols=["event_type"],
        aggs=[
            F.count(F.lit(1)).alias("n_events"),
            _scaled_sum(F.col("value"), 10000, "sum_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        ],
    )
    return out.select(
        epoch_us("window_start").alias("hour_us"),
        "event_type", "n_events", "sum_value", "min_value", "max_value",
    )


ORACLE_STREAM_BATCH_HOURLY = """
SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) / 10000.0 AS sum_value,
       MIN(value) AS min_value,
       MAX(value) AS max_value
FROM events GROUP BY 1, 2
"""

QUERIES["stream_batch_hourly"] = q_stream_batch_hourly
ORACLES["stream_batch_hourly"] = ORACLE_STREAM_BATCH_HOURLY


# ------------------------------------------------ K5 JSON projection sink

def q_json_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5 sink (reference ``src/extract_coordinates.py:21-25``): project
    the coordinate columns, export as a single JSON file under a
    timestamp-mangled key (``compact_timestamp``, the reference's S3
    object naming — ``src/ingest_weather_data.py:37`` — made
    deterministic by deriving it from the DATA's max order date instead
    of the wall clock), then read the artifact back with an explicit
    schema. The oracle is the projection SQL: a hash match proves the
    JSON write/read roundtrip is lossless, not just that the plan is
    right. The single-scalar key aggregate is driver-side by nature
    (file NAMING, not data); the export itself funnels through one task
    on purpose — it's a small lookup artifact, not bulk egress.
    """
    import os as _os
    import tempfile as _tempfile

    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.functions.cleaning import (
        compact_timestamp,
    )
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.sources.layout import (
        write_json_projection,
    )

    o = load_table(spark, sf_dir, "orders")
    key = o.agg(
        compact_timestamp(F.max(F.col("o_orderdate").cast("timestamp"))).alias("k")
    ).first().k
    proj = q_coord_projection_cast(spark, sf_dir).select("n_name", "lat", "lon")
    path = _os.path.join(_tempfile.mkdtemp(prefix="json_sink_"), f"coords_{key}")
    write_json_projection(proj, path)
    return spark.read.schema("n_name string, lat double, lon double").json(path)


ORACLE_JSON_SINK = """
SELECT n_name,
       CAST(substr(concat(CAST(n_nationkey AS VARCHAR), '.', CAST(n_regionkey AS VARCHAR), 'N'), 1,
                   length(concat(CAST(n_nationkey AS VARCHAR), '.', CAST(n_regionkey AS VARCHAR), 'N')) - 1) AS DOUBLE) AS lat,
       CAST(substr(concat(CAST(n_regionkey AS VARCHAR), '.', CAST(n_nationkey AS VARCHAR), 'E'), 1,
                   length(concat(CAST(n_regionkey AS VARCHAR), '.', CAST(n_nationkey AS VARCHAR), 'E')) - 1) AS DOUBLE) AS lon
FROM nation
"""

QUERIES["json_sink_roundtrip"] = q_json_sink_roundtrip
ORACLES["json_sink_roundtrip"] = ORACLE_JSON_SINK


# ---------------------------------------------- S1/S2 raw-zone landing job

def q_raw_zone_landing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S2 lifecycle closure (SURVEY §3.1): landed API responses →
    freshness gate → broadcast place tag → hive-partitioned raw zone.
    The REST fetch is out-of-engine; this exercises everything after
    responses land. Landing files are synthesized deterministically
    from the events table (observation id, a seconds-precision
    ``last_updated`` string exactly as the reference's API returns it —
    ``src/ingest_weather_data.py:64`` — a place key with ~1/6 unknown
    places, and the metric value); the job parses, keeps the last 24
    data-hours, tags places off the broadcast nation dim (unknown →
    DLQ, reference ``src/ingest_weather_data.py:70-74``), writes the
    raw zone partitioned by observation hour, and the query returns
    the READ-BACK of that raw zone — so the oracle hash match proves
    the landing JSON roundtrip, the freshness gate, the tag join and
    the partitioned write are all lossless, and downstream hourly jobs
    can prune to one ``obs_hour`` directory.
    """
    import os as _os
    import tempfile as _tempfile

    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.sources.landing import (
        land_batch,
    )

    e = load_table(spark, sf_dir, "events")
    landed_src = e.select(
        F.col("event_id").alias("obs_id"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("last_updated"),
        (F.col("user_id") % 30).alias("place_key"),
        "value",
    )
    root = _tempfile.mkdtemp(prefix="landing_")
    landing_dir = _os.path.join(root, "landing")
    landed_src.write.mode("overwrite").json(landing_dir)

    landed = spark.read.schema(
        "obs_id long, last_updated string, place_key long, value double"
    ).json(landing_dir)
    landed = landed.withColumn("obs_ts", F.to_timestamp("last_updated"))
    expected = F.lit(
        landed.agg(F.date_trunc("hour", F.max("obs_ts")).alias("h")).first()["h"]
    )
    fresh_pred = F.col("obs_ts") >= expected - F.expr("INTERVAL 23 HOURS")
    places = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("place_key"), F.col("n_name").alias("place_name")
    )
    raw_zone = _os.path.join(root, "raw_zone")
    land_batch(
        landed, places, "place_key", "obs_ts", fresh_pred,
        raw_zone, dlq_path=_os.path.join(root, "dlq"),
    )
    back = spark.read.schema(
        "obs_id long, last_updated string, place_key long, value double, "
        "obs_ts timestamp, place_name string, obs_hour string"
    ).parquet(raw_zone)
    return back.select(
        "obs_id", "place_name", epoch_us("obs_ts").alias("obs_us"), "value", "obs_hour"
    )


ORACLE_RAW_ZONE_LANDING = """
WITH parsed AS (
  SELECT event_id AS obs_id,
         CAST(strftime(ts, '%Y-%m-%d %H:%M:%S') AS TIMESTAMP) AS obs_ts,
         user_id % 30 AS place_key,
         value
  FROM events
), exp AS (SELECT date_trunc('hour', max(obs_ts)) AS h FROM parsed)
SELECT obs_id, n_name AS place_name, epoch_us(obs_ts) AS obs_us, value,
       strftime(date_trunc('hour', obs_ts), '%Y%m%d%H') AS obs_hour
FROM parsed
CROSS JOIN exp
JOIN nation ON parsed.place_key = nation.n_nationkey
WHERE obs_ts >= exp.h - INTERVAL 23 HOUR
"""

QUERIES["raw_zone_landing"] = q_raw_zone_landing
ORACLES["raw_zone_landing"] = ORACLE_RAW_ZONE_LANDING


# ------------------------------------------- corpus curation (composite)

def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus curation, composed from the operator
    library with ZERO self-joins: quality gate → exact-dedup
    representative keep → language ID → per-language corpus stats.
    Every step is a column expression or a single keyed window/agg over
    ONE scan of the documents table — the 100 TB plan is scan →
    window shuffle on content hash → final (tiny) group-by, with the
    quality filter applied BEFORE the dedup shuffle so rejected
    documents never move.
    """
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.dedup import (
        exact_dedup,
    )
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.text import (
        lang_id,
        quality_score,
    )

    d = load_table(spark, sf_dir, "documents")
    scored = quality_score(d, id_cols=["doc_id", "text"]).filter(
        F.col("quality") >= 0.5
    )
    rep = exact_dedup(scored, ["text"], "doc_id")
    tagged = lang_id(rep, id_cols=["doc_id", "n_tokens", "quality"])
    return tagged.groupBy("predicted_lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(
            F.sum(F.round(F.col("quality") * 1000000).cast("long"))
            / F.count(F.lit(1)) / 1000000.0,
            6,
        ).alias("avg_quality"),
    )


def _oracle_corpus_curation() -> str:
    # same marker/stopword constants as the Spark operators — the
    # oracle is GENERATED from them so the two can't drift
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.text import (
        LANG_MARKERS,
    )

    hits = ",\n         ".join(
        "CAST(len(list_filter(string_split(text, ' '), x -> x IN ({}))) AS BIGINT) AS hits_{}".format(
            ", ".join(f"'{w}'" for w in words), lang
        )
        for lang, words in LANG_MARKERS.items()
    )
    langs = list(LANG_MARKERS)
    best = "greatest({})".format(", ".join(f"hits_{lang}" for lang in langs))
    case = f"CASE WHEN {best} = 0 THEN 'und' " + " ".join(
        f"WHEN hits_{lang} = {best} THEN '{lang}'" for lang in langs
    ) + " END"
    return f"""
WITH scored AS (
  SELECT doc_id, text, n_tokens,
         round((1.0 - n_stopwords / n_tokens) * least(1.0, n_tokens / 50.0), 6) AS quality
  FROM (
    SELECT doc_id, text,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(string_split(text, ' '), x -> x IN ({_STOP_SQL}))) AS BIGINT) AS n_stopwords
    FROM documents
  )
), rep AS (
  SELECT doc_id, text, n_tokens, quality FROM scored
  WHERE quality >= 0.5
  QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
), tagged AS (
  SELECT doc_id, n_tokens, quality,
         {hits},
         {case} AS predicted_lang
  FROM rep
)
SELECT predicted_lang, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       round(CAST(SUM(CAST(round(quality * 1000000) AS BIGINT)) AS DOUBLE) / COUNT(*) / 1000000.0, 6) AS avg_quality
FROM tagged GROUP BY predicted_lang
"""


QUERIES["corpus_curation"] = q_corpus_curation
ORACLES["corpus_curation"] = _oracle_corpus_curation()


# ---------------------------------------------------- skew-resistant join

def q_salted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant fact⋈dim join via key salting
    (operators.skew.salted_join): lineitem joined to orders with the
    fact side scattered across salt sub-keys, then revenue per order
    priority. The oracle is the PLAIN join SQL — the hash match proves
    salting is result-invariant, which is the whole point: the same
    answer with hot keys split ``salt_buckets`` ways. AQE skew-join
    covers most cases at runtime; salting is the deterministic-plan
    fallback when a handful of keys dominate."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.skew import (
        salted_join,
    )

    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    joined = salted_join(
        l.withColumnRenamed("l_orderkey", "o_orderkey"), o, "o_orderkey",
        salt_buckets=8,
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        _scaled_sum(revenue, 10000, "sum_revenue"),
    )


ORACLE_SALTED_REVENUE = """
SELECT o_orderpriority, COUNT(*) AS n_items,
       CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) / 10000.0 AS sum_revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""

QUERIES["salted_revenue"] = q_salted_revenue
ORACLES["salted_revenue"] = ORACLE_SALTED_REVENUE


# ------------------------------------- deterministic split / SCD2 / decontam

def q_train_split_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-addressed train/val/test split
    (operators.sampling): assignment is a pure function of
    md5(salt, doc_id) compared lexicographically against hex
    boundaries, so it is stable across reruns, partitionings, and
    ENGINES — which is exactly what the oracle checks, since the
    DuckDB CASE is generated from the same boundaries. Map-only +
    one tiny rollup."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.sampling import (
        hash_split,
    )
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.text import (
        tokens,
    )

    d = load_table(spark, sf_dir, "documents")
    frac = {"train": 0.8, "val": 0.1, "test": 0.1}
    s = hash_split(d, "doc_id", frac, salt="v1")
    return s.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens("text")).cast("long")).alias("total_tokens"),
    )


def _oracle_train_split() -> str:
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.sampling import (
        split_sql_case,
    )

    case = split_sql_case("doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, salt="v1")
    return f"""
SELECT {case} AS split, COUNT(*) AS n_docs,
       CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS total_tokens
FROM documents GROUP BY 1
"""


QUERIES["train_split_stats"] = q_train_split_stats
ORACLES["train_split_stats"] = _oracle_train_split()


def q_scd2_user_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history from the event stream (operators.scd): per
    user, every run of consecutive identical event_type observations
    collapses to one validity interval; the open interval is the
    current version. Generalizes the reference's SCD1 latest-wins
    UPDATE (``src/process_insert_update_weather_data.py:146-162``)
    into replayable history. One shuffle (entity key), windows share
    the sort."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.scd import (
        scd2_history,
    )

    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 200)
    h = scd2_history(e, "user_id", "ts", ["event_type"], tiebreak_col="event_id")
    return h.select(
        "user_id", "event_type",
        epoch_us("valid_from").alias("valid_from_us"),
        epoch_us("valid_to").alias("valid_to_us"),
        "is_current",
    )


ORACLE_SCD2 = """
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         lag(ts) OVER w IS NULL
           OR event_type IS DISTINCT FROM lag(event_type) OVER w AS _open
  FROM events
  WHERE user_id < 200
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), versions AS (
  SELECT user_id, event_type, ts, event_id FROM ordered WHERE _open
)
SELECT user_id, event_type,
       epoch_us(ts) AS valid_from_us,
       epoch_us(lead(ts) OVER w2) AS valid_to_us,
       lead(ts) OVER w2 IS NULL AS is_current
FROM versions
WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
"""

QUERIES["scd2_user_type"] = q_scd2_user_type
ORACLES["scd2_user_type"] = ORACLE_SCD2


def q_decontamination_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators.decontaminate): corpus
    documents sharing any 3-gram with a (deterministically chosen)
    held-out benchmark subset, with the shared-gram count as
    contamination severity. Join key is the gram; the benchmark side
    is small → AQE broadcasts it and the corpus never shuffles."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.decontaminate import (
        ngram_overlap,
    )

    d = load_table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    return ngram_overlap(corpus, bench, n=3)


ORACLE_DECONTAM = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
  FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i) g
),
bench AS (SELECT DISTINCT gram FROM sh WHERE doc_id % 97 = 0)
SELECT s.doc_id, COUNT(*) AS n_shared_grams
FROM sh s JOIN bench b ON s.gram = b.gram
WHERE s.doc_id % 97 <> 0
GROUP BY s.doc_id
"""

QUERIES["decontamination_flags"] = q_decontamination_flags
ORACLES["decontamination_flags"] = ORACLE_DECONTAM


# --------------------------------------- maintenance / incremental rollup

def q_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction (sources.maintenance): the events table is
    deliberately fragmented into 64 tiny files, then compacted back to
    a file count sized from actual on-disk bytes. The query returns an
    aggregate over the COMPACTED copy and the oracle aggregates the
    original table — a hash match proves compaction is exactly
    row-preserving; the unit test additionally pins the file-count
    reduction."""
    import os as _os
    import tempfile as _tempfile

    from pyspark.sql import types as T

    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.sources.maintenance import (
        compact,
    )

    e = load_table(spark, sf_dir, "events")
    root = _tempfile.mkdtemp(prefix="compact_")
    frag = _os.path.join(root, "fragmented")
    e.repartition(64).write.mode("overwrite").parquet(frag)
    back = compact(spark, frag, _os.path.join(root, "compacted"))
    if isinstance(back.schema["ts"].dataType, T.LongType):
        back = back.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        _scaled_sum(F.col("value"), 10000, "sum_value"),
        F.min(epoch_us("ts")).alias("first_us"),
        F.max(epoch_us("ts")).alias("last_us"),
    )


ORACLE_COMPACTION = """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) / 10000.0 AS sum_value,
       MIN(epoch_us(ts)) AS first_us,
       MAX(epoch_us(ts)) AS last_us
FROM events GROUP BY event_type
"""

QUERIES["compaction_roundtrip"] = q_compaction_roundtrip
ORACLES["compaction_roundtrip"] = ORACLE_COMPACTION


def q_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance (operators.incremental): the
    events table is split into three disjoint 'ingest batches' (by
    event_id mod), a mergeable partial-agg state is built per batch,
    the states are folded, and the presentation columns derived at
    read time. The oracle computes the DIRECT full aggregation — the
    hash match IS the monoid identity (state ⊕ delta == recompute)
    that makes 100 TB rollups maintainable from deltas alone."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.incremental import (
        agg_state,
        finalize,
        merge_states,
    )

    e = load_table(spark, sf_dir, "events")
    batches = [
        agg_state(e.filter(F.col("event_id") % 3 == i), ["event_type"], "value")
        for i in range(3)
    ]
    return finalize(merge_states(batches, ["event_type"])).select(
        "event_type", "n", "vmin", "vmax", "vsum", "vavg"
    )


ORACLE_INCREMENTAL = """
SELECT event_type, COUNT(*) AS n,
       MIN(value) AS vmin, MAX(value) AS vmax,
       CAST(SUM(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) / 10000.0 AS vsum,
       round(CAST(SUM(CAST(round(value * 10000) AS BIGINT)) AS DOUBLE) / COUNT(*) / 10000.0, 6) AS vavg
FROM events GROUP BY event_type
"""

QUERIES["incremental_rollup"] = q_incremental_rollup
ORACLES["incremental_rollup"] = ORACLE_INCREMENTAL


# ------------------------------------ rolling range window / stratified cap

def q_rolling_hour_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame (value-based, not row-based): per user,
    count and exact sum of events in the TRAILING HOUR of each event.
    RANGE frames are tie-safe by construction (peers share the frame),
    so no tiebreak column is needed even with simultaneous events —
    the frame is defined by the epoch-micros value, identical on both
    engines. One shuffle on the entity key."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    ts_us = epoch_us("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(ts_us)
        .rangeBetween(-3_600_000_000, 0)
    )
    return e.select(
        "user_id",
        "event_id",
        ts_us.alias("ts_us"),
        F.count(F.lit(1)).over(w).alias("n_trailing_hour"),
        (F.sum(F.round(F.col("value") * 10000).cast("long")).over(w) / 10000.0).alias(
            "sum_trailing_hour"
        ),
    )


ORACLE_ROLLING_HOUR = """
SELECT user_id, event_id, epoch_us(ts) AS ts_us,
       COUNT(*) OVER w AS n_trailing_hour,
       CAST(SUM(CAST(round(value * 10000) AS BIGINT)) OVER w AS BIGINT) / 10000.0 AS sum_trailing_hour
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""

QUERIES["rolling_hour_metrics"] = q_rolling_hour_metrics
ORACLES["rolling_hour_metrics"] = ORACLE_ROLLING_HOUR


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source document cap (operators.sampling
    .stratified_cap): at most 10 documents per source, chosen by
    md5-hash order so the sample is unbiased yet identical on every
    engine and rerun — the balanced-corpus primitive. The oracle is
    the same window in SQL."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.sampling import (
        stratified_cap,
    )

    d = load_table(spark, sf_dir, "documents")
    return stratified_cap(d, "source", "doc_id", cap=10, salt="v1").select(
        "doc_id", "source", "lang"
    )


ORACLE_STRATIFIED = """
SELECT doc_id, source, lang FROM documents
QUALIFY row_number() OVER (
  PARTITION BY source
  ORDER BY md5('v1' || chr(31) || CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
) <= 10
"""

QUERIES["stratified_sample"] = q_stratified_sample
ORACLES["stratified_sample"] = ORACLE_STRATIFIED


# ------------------------------- repetition filter / binned range join

def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition metrics (operators.text
    .repetition_stats): top-word share, top-bigram share, longest
    same-token run, and the drop flag. Map-only — all three metrics
    are array-local higher-order expressions, zero shuffles. The
    interpreted fold is expression-dense per row, so the single-file
    fixture scan goes through the gated ``parallelize`` (no-op on a
    well-split production table)."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.text import (
        repetition_stats,
    )

    return repetition_stats(parallelize(load_table(spark, sf_dir, "documents")))


ORACLE_REPETITION = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
base AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM toks),
words AS (
  SELECT doc_id, t[i] AS w, i
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t))) AS i) s
),
wc AS (
  SELECT doc_id, CAST(max(c) AS BIGINT) AS top_word_n
  FROM (SELECT doc_id, w, count(*) AS c FROM words GROUP BY doc_id, w)
  GROUP BY doc_id
),
bg AS (
  SELECT doc_id, t[i] || ' ' || t[i + 1] AS g
  FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - 1, 0))) AS i) s
),
bc AS (
  SELECT doc_id, CAST(max(c) AS BIGINT) AS top_bigram_n
  FROM (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g)
  GROUP BY doc_id
),
runs AS (
  SELECT doc_id, CAST(max(c) AS BIGINT) AS max_run_len
  FROM (
    SELECT doc_id, count(*) AS c
    FROM (SELECT doc_id, w, i - row_number() OVER (PARTITION BY doc_id, w ORDER BY i) AS grp
          FROM words)
    GROUP BY doc_id, w, grp
  )
  GROUP BY doc_id
)
SELECT b.doc_id, b.n_tokens,
       wc.top_word_n,
       round(wc.top_word_n / b.n_tokens, 6) AS top_word_share,
       COALESCE(bc.top_bigram_n, 0) AS top_bigram_n,
       CASE WHEN b.n_tokens >= 2
            THEN round(COALESCE(bc.top_bigram_n, 0) / (b.n_tokens - 1), 6)
            ELSE 0.0 END AS top_bigram_share,
       runs.max_run_len,
       (round(wc.top_word_n / b.n_tokens, 6) > 0.2
        OR (CASE WHEN b.n_tokens >= 2
                 THEN round(COALESCE(bc.top_bigram_n, 0) / (b.n_tokens - 1), 6)
                 ELSE 0.0 END) > 0.18
        OR runs.max_run_len > 2) AS repetitive
FROM base b
JOIN wc USING (doc_id)
LEFT JOIN bc USING (doc_id)
JOIN runs USING (doc_id)
"""

QUERIES["repetition_stats"] = q_repetition_stats
ORACLES["repetition_stats"] = ORACLE_REPETITION


# Overlapping value bands for the range-join demo: deliberately
# non-uniform widths and a full-range band so points match multiple
# intervals — the case plain floor(v/w) bucketing cannot express.
VALUE_BANDS: list[tuple[int, float, float]] = [
    (1, 0.0, 25.0),
    (2, 10.0, 60.0),
    (3, 50.0, 120.0),
    (4, 100.0, 260.0),
    (5, 250.0, 500.0),
    (6, 0.0, 500.0),
    (7, 480.0, 1000.0),
]


def q_value_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-containment join (operators.rangejoin.bin_range_join):
    every event joined to every OVERLAPPING value band via the
    binned-equi-join lowering, then per-band count + exact sum. A
    naive formulation is a BroadcastNestedLoopJoin (fatal big x big);
    the lowering is a plain equi-join on floor(value/50) that AQE can
    shuffle or broadcast like any other."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.rangejoin import (
        bin_range_join,
    )

    e = load_table(spark, sf_dir, "events")
    bands = spark.createDataFrame(VALUE_BANDS, "band_id long, lo double, hi double")
    joined = bin_range_join(e, bands, "value", bin_width=50.0)
    return joined.groupBy("band_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        _scaled_sum(F.col("value"), 10000, "sum_value"),
    )


def _oracle_value_band_join() -> str:
    rows = ", ".join(f"({b}, {lo}, {hi})" for b, lo, hi in VALUE_BANDS)
    return f"""
WITH bands(band_id, lo, hi) AS (VALUES {rows})
SELECT CAST(band_id AS BIGINT) AS band_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) / 10000.0 AS sum_value
FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
GROUP BY band_id
"""


QUERIES["value_band_join"] = q_value_band_join
ORACLES["value_band_join"] = _oracle_value_band_join()


# ----------------------- PII, cohort/funnel analytics, mixture weights

# The synthetic lake carries no real PII, so the PII queries construct
# a deterministic "contact card" per customer from integer/string
# columns only (float formatting differs across engines) — the SAME
# expression in the Spark plan and the oracle — then run the engine's
# scan/redaction over it. Patterns live in operators/pii.py and are
# valid in both Java regex and RE2.

def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII audit + masking (operators.pii.pii_scan): per-row counts by
    category and the redacted text, map-only, zero shuffles."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.pii import (
        pii_scan,
    )

    c = load_table(spark, sf_dir, "customer")
    key = F.col("c_custkey").cast("string")
    contact = F.concat(
        F.col("c_name"),
        F.lit(" <user"), key, F.lit("@example.com> from 10."),
        (F.col("c_custkey") % 256).cast("string"),
        F.lit(".0."), F.col("c_nationkey").cast("string"),
        F.lit(" card 4242-4242-4242-"),
        F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"),
        F.lit(" tel 555-"),
        F.lpad((F.col("c_custkey") % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"),
    )
    return pii_scan(c.select("c_custkey", contact.alias("text")), id_cols=["c_custkey"])


def _oracle_pii_redaction() -> str:
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.pii import (
        PII_PATTERNS,
    )

    text = (
        "c_name || ' <user' || CAST(c_custkey AS VARCHAR) || '@example.com> from 10.'"
        " || CAST(c_custkey % 256 AS VARCHAR) || '.0.' || CAST(c_nationkey AS VARCHAR)"
        " || ' card 4242-4242-4242-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')"
        " || ' tel 555-' || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0')"
        " || '-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')"
    )
    counts = ",\n       ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT) AS n_{name}"
        for name, (pat, _) in PII_PATTERNS.items()
    )
    total = " + ".join(
        f"len(regexp_extract_all(text, '{pat}'))" for pat, _ in PII_PATTERNS.values()
    )
    red = "text"
    for pat, rep in PII_PATTERNS.values():
        red = f"regexp_replace({red}, '{pat}', '{rep}', 'g')"
    return f"""
WITH t AS (SELECT c_custkey, {text} AS text FROM customer)
SELECT c_custkey,
       {counts},
       CAST({total} AS BIGINT) AS n_pii,
       {red} AS redacted
FROM t
"""


QUERIES["pii_redaction"] = q_pii_redaction
ORACLES["pii_redaction"] = _oracle_pii_redaction()


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle (operators.cohort.cohort_retention):
    distinct (user, week) reduce -> per-user MIN window -> triangle
    aggregate. No joins; every shuffle input is pre-reduced."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.cohort import (
        cohort_retention,
    )

    return cohort_retention(load_table(spark, sf_dir, "events"), period="week")


ORACLE_COHORT = """
WITH act AS (SELECT DISTINCT user_id AS u, date_trunc('week', ts) AS p FROM events),
c AS (SELECT u, p, min(p) OVER (PARTITION BY u) AS cohort FROM act)
SELECT epoch_us(CAST(cohort AS TIMESTAMP)) AS cohort_us,
       CAST(date_diff('day', cohort, p) / 7 AS BIGINT) AS period_offset,
       COUNT(*) AS n_users
FROM c GROUP BY 1, 2
"""

QUERIES["cohort_retention"] = q_cohort_retention
ORACLES["cohort_retention"] = ORACLE_COHORT


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view -> click -> purchase
    (operators.cohort.funnel): one per-user conditional aggregation,
    strict timestamp ordering between stages."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.cohort import (
        funnel,
    )

    return funnel(load_table(spark, sf_dir, "events"))


ORACLE_FUNNEL = """
WITH pu AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS t0,
         min(CASE WHEN event_type = 'click' THEN ts END) AS t1,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t2
  FROM events GROUP BY user_id
),
f AS (
  SELECT
    CAST(count(CASE WHEN t0 IS NOT NULL THEN 1 END) AS BIGINT) AS n0,
    CAST(count(CASE WHEN t0 IS NOT NULL AND t1 > t0 THEN 1 END) AS BIGINT) AS n1,
    CAST(count(CASE WHEN t0 IS NOT NULL AND t1 > t0 AND t2 > t1 THEN 1 END) AS BIGINT) AS n2
  FROM pu
)
SELECT CAST(0 AS BIGINT) AS stage_idx, 'view' AS stage, n0 AS n_users FROM f
UNION ALL SELECT 1, 'click', n1 FROM f
UNION ALL SELECT 2, 'purchase', n2 FROM f
"""

QUERIES["event_funnel"] = q_event_funnel
ORACLES["event_funnel"] = ORACLE_FUNNEL


def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture weights per (source, lang)
    (operators.sampling.mixture_weights): sqrt-of-tokens temperature
    reweighting with an exact integer-scaled normalizer."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.sampling import (
        mixture_weights,
    )
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.text import (
        tokens,
    )

    d = load_table(spark, sf_dir, "documents")
    return mixture_weights(d, ["source", "lang"], F.size(tokens("text")))


ORACLE_MIXTURE = """
WITH g AS (
  SELECT source, lang, COUNT(*) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source, lang
),
w AS (SELECT *, CAST(round(sqrt(n_tokens) * 1000000) AS BIGINT) AS w_scaled FROM g)
SELECT source, lang, n_docs, n_tokens, w_scaled,
       round(w_scaled / (SELECT SUM(w_scaled) FROM w), 6) AS weight
FROM w
"""

QUERIES["mixture_weights"] = q_mixture_weights
ORACLES["mixture_weights"] = ORACLE_MIXTURE


def q_approx_distinct_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ sketch vs exact distinct per event type: emits the
    exact count plus a boolean asserting the rsd=0.01 sketch landed
    within 5%. The sketch is the 100 TB path (mergeable, fixed-size,
    no distinct shuffle of raw keys); the exact count is the audit.
    Sketch estimates are order-independent (hash-based) so the flag is
    deterministic; the oracle pins the exact counts and expects TRUE."""
    e = load_table(spark, sf_dir, "events")
    ex = F.count_distinct(F.col("user_id")).alias("exact_users")
    ap = F.approx_count_distinct("user_id", rsd=0.01)
    return e.groupBy("event_type").agg(
        ex,
        (F.abs(ap - F.count_distinct(F.col("user_id")))
         <= 0.05 * F.count_distinct(F.col("user_id"))).alias("sketch_ok"),
    )


ORACLE_APPROX_DISTINCT = """
SELECT event_type, COUNT(DISTINCT user_id) AS exact_users, TRUE AS sketch_ok
FROM events GROUP BY event_type
"""

QUERIES["approx_distinct_check"] = q_approx_distinct_check
ORACLES["approx_distinct_check"] = ORACLE_APPROX_DISTINCT


# --------------------------- gaps-and-islands / interval concurrency

def q_user_inactivity_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands (operators.windows.inactivity_gaps): per-user
    inactivity spans longer than 6 hours, exact epoch-micros bounds.
    One shuffle on user_id; lag ordering carries the unique event_id
    tiebreak so equal timestamps can't flake the hash."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.windows import (
        inactivity_gaps,
    )

    e = load_table(spark, sf_dir, "events")
    return inactivity_gaps(e, "user_id", "ts", "event_id", min_gap_seconds=6 * 3600)


ORACLE_INACTIVITY = """
WITH x AS (
  SELECT user_id, epoch_us(ts) AS t,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev
  FROM events
)
SELECT user_id, prev AS gap_start_us, t AS gap_end_us, t - prev AS gap_us
FROM x WHERE prev IS NOT NULL AND t - prev > 21600000000
"""

QUERIES["user_inactivity_gaps"] = q_user_inactivity_gaps
ORACLES["user_inactivity_gaps"] = ORACLE_INACTIVITY


def q_concurrency_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent open intervals per hour
    (operators.windows.max_concurrency): each event opens a half-open
    interval of round(value) seconds; the +1/-1 sweep runs as a
    per-bucket window plus a bucket-table offset join — no global
    single-task window. Peak is evaluated at change instants within
    the bucket (same definition on both engines)."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.windows import (
        max_concurrency,
    )

    e = load_table(spark, sf_dir, "events")
    s = epoch_us("ts")
    iv = e.select(
        s.alias("s"),
        (s + F.round(F.col("value")).cast("long") * 1_000_000).alias("en"),
    )
    return max_concurrency(iv, "s", "en")


ORACLE_CONCURRENCY = """
WITH iv AS (
  SELECT epoch_us(ts) AS s,
         epoch_us(ts) + CAST(round(value) AS BIGINT) * 1000000 AS e
  FROM events
),
d AS (SELECT s AS t, 1 AS delta FROM iv UNION ALL SELECT e, -1 FROM iv),
r AS (SELECT t, delta, SUM(delta) OVER (ORDER BY t, delta) AS running FROM d)
SELECT (t // 3600000000) * 3600000000 AS bucket_us,
       CAST(max(running) AS BIGINT) AS peak
FROM r GROUP BY 1
"""

QUERIES["concurrency_peaks"] = q_concurrency_peaks
ORACLES["concurrency_peaks"] = ORACLE_CONCURRENCY


# --------------------------------------- term weighting / keyword search

def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed TF-IDF top-5 terms per document (operators.tfidf).
    Document frequencies attach via agg+equi-join rather than a
    term-partitioned window so Zipf head terms can't create a hot
    sort partition; corpus scalars ride a 1-row broadcast. Score is
    rounded to 6dp BEFORE the ranking window (term-name tiebreak)."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.tfidf import (
        tfidf_topk,
    )

    return tfidf_topk(load_table(spark, sf_dir, "documents"), k=5)


ORACLE_TFIDF = """
WITH toks AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl,
         unnest(string_split(text, ' ')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
g AS (SELECT count(*) AS n_docs FROM documents)
SELECT doc_id, term, tf, df, tfidf FROM (
  SELECT t.doc_id, t.term, t.tf, d.df,
         round(t.tf * (ln((g.n_docs + 1.0) / (d.df + 1.0)) + 1.0), 6) AS tfidf,
         row_number() OVER (
           PARTITION BY t.doc_id
           ORDER BY round(t.tf * (ln((g.n_docs + 1.0) / (d.df + 1.0)) + 1.0), 6) DESC,
                    t.term
         ) AS rank
  FROM tf t JOIN dfreq d USING (term) CROSS JOIN g
) WHERE rank <= 5
"""

QUERIES["tfidf_top_terms"] = q_tfidf_top_terms
ORACLES["tfidf_top_terms"] = ORACLE_TFIDF


def q_bm25_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-5 terms per document (operators.tfidf.bm25_topk,
    k1=1.2, b=0.75). Same three-exchange shape as TF-IDF; length
    normalization uses the exact corpus token total so avgdl is
    reproducible on both engines."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.tfidf import (
        bm25_topk,
    )

    return bm25_topk(load_table(spark, sf_dir, "documents"), k=5)


ORACLE_BM25 = """
WITH toks AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl,
         unnest(string_split(text, ' ')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, count(*) AS tf, any_value(dl) AS dl
  FROM toks GROUP BY doc_id, term
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
g AS (
  SELECT count(*) AS n_docs,
         sum(len(string_split(text, ' '))) AS sum_dl
  FROM documents
)
SELECT doc_id, term, tf, df, dl, bm25 FROM (
  SELECT t.doc_id, t.term, t.tf, d.df, t.dl,
         round(
           ln(1.0 + (g.n_docs - d.df + 0.5) / (d.df + 0.5))
             * t.tf * (1.2 + 1.0)
             / (t.tf + 1.2 * (1.0 - 0.75
                  + 0.75 * t.dl / (CAST(g.sum_dl AS DOUBLE) / g.n_docs))),
           6) AS bm25,
         row_number() OVER (
           PARTITION BY t.doc_id
           ORDER BY round(
             ln(1.0 + (g.n_docs - d.df + 0.5) / (d.df + 0.5))
               * t.tf * (1.2 + 1.0)
               / (t.tf + 1.2 * (1.0 - 0.75
                    + 0.75 * t.dl / (CAST(g.sum_dl AS DOUBLE) / g.n_docs))),
             6) DESC, t.term
         ) AS rank
  FROM tf t JOIN dfreq d USING (term) CROSS JOIN g
) WHERE rank <= 5
"""

QUERIES["bm25_top_terms"] = q_bm25_top_terms
ORACLES["bm25_top_terms"] = ORACLE_BM25


def q_keyword_and_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive keyword search (operators.search): documents
    containing ALL of {join, stream, filter}, scored by total query
    term occurrences. Non-query terms are filtered before the
    aggregate so only matching postings reach the shuffle; AND
    semantics are one count-distinct check, no per-term self-joins."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.search import (
        keyword_and_search,
    )

    d = load_table(spark, sf_dir, "documents")
    return keyword_and_search(d, ["join", "stream", "filter"])


ORACLE_KEYWORD_AND = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
)
SELECT doc_id, count(*) AS n_hits
FROM tok
WHERE term IN ('join', 'stream', 'filter')
GROUP BY doc_id
HAVING count(DISTINCT term) = 3
"""

QUERIES["keyword_and_search"] = q_keyword_and_search
ORACLES["keyword_and_search"] = ORACLE_KEYWORD_AND


# ------------------------------- point-in-time join / snapshot diff

def q_pit_enriched_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time enrichment (operators.asof.point_in_time_join):
    each purchase event picks up the SCD2 user-state version
    (operators.scd over non-purchase events) valid AT the purchase
    timestamp. Contiguous validity intervals turn the range join into
    an as-of join — one shuffle on user_id, no interval cross-check.
    Purchases before any version keep NULL state (left semantics)."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.asof import (
        point_in_time_join,
    )
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.scd import (
        scd2_history,
    )

    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 200)
    dim = e.filter(F.col("event_type") != "purchase")
    facts = e.filter(F.col("event_type") == "purchase")
    hist = scd2_history(dim, "user_id", "ts", ["event_type"], tiebreak_col="event_id")
    hist = hist.withColumnRenamed("event_type", "state")
    out = point_in_time_join(facts, hist, "user_id", fact_ts="ts")
    return out.select(
        "event_id",
        "user_id",
        epoch_us("ts").alias("ts_us"),
        F.col("asof_state"),
        epoch_us("asof_valid_from").alias("asof_valid_from_us"),
    )


ORACLE_PIT = """
WITH e AS (SELECT * FROM events WHERE user_id < 200),
ordered AS (
  SELECT user_id, event_type, ts, event_id,
         lag(ts) OVER w IS NULL
           OR event_type IS DISTINCT FROM lag(event_type) OVER w AS _open
  FROM e WHERE event_type <> 'purchase'
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), versions AS (
  SELECT user_id, event_type, ts, event_id FROM ordered WHERE _open
), hist AS (
  SELECT user_id, event_type AS state, ts AS valid_from,
         lead(ts) OVER w2 AS valid_to
  FROM versions WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT f.event_id, f.user_id, epoch_us(f.ts) AS ts_us,
       h.state AS asof_state,
       epoch_us(h.valid_from) AS asof_valid_from_us
FROM e f
LEFT JOIN hist h
  ON f.user_id = h.user_id
 AND h.valid_from <= f.ts
 AND (h.valid_to IS NULL OR f.ts < h.valid_to)
WHERE f.event_type = 'purchase'
"""

QUERIES["pit_enriched_purchases"] = q_pit_enriched_purchases
ORACLES["pit_enriched_purchases"] = ORACLE_PIT


def q_snapshot_diff_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff / change-data-feed (operators.diff): two
    deterministically-derived customer snapshots (keys ending in 0
    exist only in the new snapshot, in 1 only in the old, in 2 with a
    shifted balance) full-outer-joined on the key and classified
    added/removed/changed. One key-shuffle per side, nothing else
    moves; bucketing both snapshots would remove even that."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.diff import (
        snapshot_diff,
    )

    c = load_table(spark, sf_dir, "customer")
    old = c.filter(F.col("c_custkey") % 10 != 0).select(
        "c_custkey", "c_mktsegment", F.round("c_acctbal", 2).alias("c_acctbal")
    )
    new = c.filter(F.col("c_custkey") % 10 != 1).select(
        "c_custkey",
        "c_mktsegment",
        F.round(
            F.when(F.col("c_custkey") % 10 == 2, F.col("c_acctbal") + 100.0)
            .otherwise(F.col("c_acctbal")),
            2,
        ).alias("c_acctbal"),
    )
    return snapshot_diff(old, new, ["c_custkey"], ["c_mktsegment", "c_acctbal"])


ORACLE_SNAPSHOT_DIFF = """
WITH old AS (
  SELECT c_custkey, c_mktsegment, round(c_acctbal, 2) AS c_acctbal
  FROM customer WHERE c_custkey % 10 <> 0
), new AS (
  SELECT c_custkey, c_mktsegment,
         round(CASE WHEN c_custkey % 10 = 2 THEN c_acctbal + 100.0
                    ELSE c_acctbal END, 2) AS c_acctbal
  FROM customer WHERE c_custkey % 10 <> 1
)
SELECT COALESCE(o.c_custkey, n.c_custkey) AS c_custkey,
       CASE WHEN o.c_custkey IS NULL THEN 'added'
            WHEN n.c_custkey IS NULL THEN 'removed'
            WHEN o.c_mktsegment IS DISTINCT FROM n.c_mktsegment
              OR o.c_acctbal IS DISTINCT FROM n.c_acctbal THEN 'changed'
            ELSE 'unchanged' END AS change_type,
       o.c_mktsegment AS old_c_mktsegment,
       o.c_acctbal AS old_c_acctbal,
       n.c_mktsegment AS new_c_mktsegment,
       n.c_acctbal AS new_c_acctbal
FROM old o FULL OUTER JOIN new n ON o.c_custkey = n.c_custkey
WHERE CASE WHEN o.c_custkey IS NULL THEN 'added'
           WHEN n.c_custkey IS NULL THEN 'removed'
           WHEN o.c_mktsegment IS DISTINCT FROM n.c_mktsegment
             OR o.c_acctbal IS DISTINCT FROM n.c_acctbal THEN 'changed'
           ELSE 'unchanged' END <> 'unchanged'
"""

QUERIES["snapshot_diff_customers"] = q_snapshot_diff_customers
ORACLES["snapshot_diff_customers"] = ORACLE_SNAPSHOT_DIFF


# ------------------------------ data-quality suite / grouped regression

def q_dq_orders_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality suite (operators.dq): six expectations
    over orders — nullability, domain membership, range, format,
    single-column uniqueness, and referential integrity against
    customer. All row-local rules + uniqueness fold into ONE
    conditional-aggregate scan; the FK rule is a broadcast semi-join
    probe. Generalizes the reference's scattered validate.py /
    pre-insert FK checks into one report."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.dq import (
        expectations_report,
    )

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return expectations_report(
        o,
        row_rules={
            "not_null_custkey": F.col("o_custkey").isNull(),
            "status_domain": ~F.col("o_orderstatus").isin("F", "O", "P"),
            "positive_price": F.col("o_totalprice") <= 0,
            "priority_format": ~F.col("o_orderpriority").rlike("^[1-5]-"),
        },
        unique_rules={"unique_orderkey": "o_orderkey"},
        fk_rules={"fk_custkey": ("o_custkey", c, "c_custkey")},
    )


ORACLE_DQ = """
SELECT 'not_null_custkey' AS rule, CAST(count(*) AS BIGINT) AS n_checked,
       CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
       CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) = 0 AS ok
FROM orders
UNION ALL
SELECT 'status_domain', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN NOT o_orderstatus IN ('F','O','P') THEN 1 ELSE 0 END) AS BIGINT),
       CAST(sum(CASE WHEN NOT o_orderstatus IN ('F','O','P') THEN 1 ELSE 0 END) AS BIGINT) = 0
FROM orders
UNION ALL
SELECT 'positive_price', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT),
       CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) = 0
FROM orders
UNION ALL
SELECT 'priority_format', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN NOT regexp_matches(o_orderpriority, '^[1-5]-') THEN 1 ELSE 0 END) AS BIGINT),
       CAST(sum(CASE WHEN NOT regexp_matches(o_orderpriority, '^[1-5]-') THEN 1 ELSE 0 END) AS BIGINT) = 0
FROM orders
UNION ALL
SELECT 'unique_orderkey', CAST(count(*) AS BIGINT),
       CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS BIGINT),
       CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS BIGINT) = 0
FROM orders
UNION ALL
SELECT 'fk_custkey', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN o_custkey IN (SELECT c_custkey FROM customer) THEN 0 ELSE 1 END) AS BIGINT),
       CAST(sum(CASE WHEN o_custkey IN (SELECT c_custkey FROM customer) THEN 0 ELSE 1 END) AS BIGINT) = 0
FROM orders
"""

QUERIES["dq_orders_report"] = q_dq_orders_report
ORACLES["dq_orders_report"] = ORACLE_DQ


def q_hourly_value_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS of value on hour-of-day
    (operators.regression.grouped_linreg): slope/intercept/R² from
    exact scaled-integer power sums — one combiner-reduced aggregate,
    reproducible under any partitioning (unlike the built-in
    regr_slope streaming estimator)."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.regression import (
        grouped_linreg,
    )

    e = load_table(spark, sf_dir, "events").select(
        "event_type", epoch_us("ts").alias("_us"), "value"
    )
    x = F.expr("_us div 3600000000") % 24
    return grouped_linreg(e, ["event_type"], x, F.col("value"), y_scale=100)


ORACLE_LINREG = """
WITH b AS (
  SELECT event_type, (epoch_us(ts) // 3600000000) % 24 AS x,
         CAST(round(value * 100) AS BIGINT) AS y
  FROM events
), s AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         sum(x) AS sx, sum(y) AS sy,
         sum(x*x) AS sxx, sum(x*y) AS sxy, sum(y*y) AS syy
  FROM b GROUP BY event_type
), d AS (
  SELECT event_type, n,
         CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
         CAST(sy AS DOUBLE) AS syd, CAST(sxx AS DOUBLE) AS sxxd,
         CAST(sxy AS DOUBLE) AS sxyd, CAST(syy AS DOUBLE) AS syyd
  FROM s
), f AS (
  SELECT event_type, n, nd, sxd, syd, syyd,
         (nd * sxyd - sxd * syd) AS num,
         (nd * sxxd - sxd * sxd) AS den
  FROM d
)
SELECT event_type, n,
       round((num / den) / 100, 6) AS slope,
       round(((syd - (num / den) * sxd) / nd) / 100, 6) AS intercept,
       round((num * num) / (den * (nd * syyd - syd * syd)), 6) AS r2
FROM f
"""

QUERIES["hourly_value_regression"] = q_hourly_value_regression
ORACLES["hourly_value_regression"] = ORACLE_LINREG


# ----------------------------- sliding windows / outlier handling

def q_sliding_hour_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1h windows every 15min over events
    (operators.windows.sliding_agg): pane-sliced two-level aggregation
    — events combine into 15-min pane partials map-side, only PANE
    rows are replicated ×4 into their windows, then partials merge.
    The shuffle is bounded by |panes|, not |events| × overlap."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.windows import (
        sliding_agg,
    )

    e = load_table(spark, sf_dir, "events").select(
        epoch_us("ts").alias("t_us"), "value"
    )
    out = sliding_agg(
        e,
        "t_us",
        width_us=3_600_000_000,
        slide_us=900_000_000,
        sums={"sum_v100": F.round(F.col("value") * 100).cast("long")},
    )
    return out.select(
        "window_start_us",
        "n_events",
        (F.col("sum_v100") / 100.0).alias("sum_value"),
    )


ORACLE_SLIDING = """
WITH e AS (
  SELECT epoch_us(ts) AS t, CAST(round(value * 100) AS BIGINT) AS v FROM events
), x AS (
  SELECT t, v,
         unnest(generate_series(t // 900000000 - 3, t // 900000000)) AS k
  FROM e
)
SELECT k * 900000000 AS window_start_us,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(v) AS BIGINT) / 100.0 AS sum_value
FROM x GROUP BY k
"""

QUERIES["sliding_hour_windows"] = q_sliding_hour_windows
ORACLES["sliding_hour_windows"] = ORACLE_SLIDING


def q_value_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type winsorization (operators.outliers.winsorize): clip
    event values into the exact [p05, p95] band of their type. Bounds
    come from grouped_percentile_exact (r10: composite-key range sort,
    bit-equal to percentile()/quantile_cont) — NOT the percentile()
    aggregate, whose buffer holds every value of a group and makes a
    ~5-value group key five fact-sized buffers at 100 TB. The
    resulting 5-row bounds table is broadcast back; the fact scan
    never hash-shuffles."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.outliers import (
        winsorize,
    )

    e = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    out = winsorize(e, ["event_type"], "value", "event_id", lo=0.05, hi=0.95)
    return out.select(
        "event_id", "event_type",
        F.round("value", 6).alias("value"),
        "value_clipped", "was_clipped",
    )


ORACLE_WINSOR = """
WITH b AS (
  SELECT event_type,
         quantile_cont(value, 0.05) AS lo,
         quantile_cont(value, 0.95) AS hi
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type, round(e.value, 6) AS value,
       round(least(greatest(e.value, b.lo), b.hi), 6) AS value_clipped,
       (e.value < b.lo OR e.value > b.hi) AS was_clipped
FROM events e JOIN b USING (event_type)
"""

QUERIES["value_winsorized"] = q_value_winsorized
ORACLES["value_winsorized"] = ORACLE_WINSOR


def q_value_outlier_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row z-scores against per-type moments
    (operators.outliers.zscore_flags): moments from exact
    scaled-integer power sums (order-independent), broadcast back,
    map-only flagging at |z| > 3."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.outliers import (
        zscore_flags,
    )

    e = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    out = zscore_flags(e, ["event_type"], "value", threshold=3.0)
    return out.select("event_id", "event_type", "zscore", "is_outlier")


ORACLE_ZSCORE = """
WITH s AS (
  SELECT event_type, count(*) AS n,
         sum(CAST(round(value * 10000) AS BIGINT)) AS s1,
         sum(CAST(round(value * 10000) AS BIGINT)
             * CAST(round(value * 10000) AS BIGINT)) AS s2
  FROM events GROUP BY event_type
), m AS (
  SELECT event_type, s1 / n / 10000.0 AS mean,
         (s2 / n - (s1 / n) * (s1 / n)) / 100000000.0 AS var
  FROM s
)
SELECT e.event_id, e.event_type,
       CASE WHEN m.var > 0
            THEN round((e.value - m.mean) / sqrt(m.var), 6) END AS zscore,
       COALESCE(CASE WHEN m.var > 0
            THEN abs((e.value - m.mean) / sqrt(m.var)) > 3.0 END,
            FALSE) AS is_outlier
FROM events e JOIN m USING (event_type)
"""

QUERIES["value_outlier_flags"] = q_value_outlier_flags
ORACLES["value_outlier_flags"] = ORACLE_ZSCORE


# ----------------------------- collocations / transition analytics

def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 PMI collocations over the corpus
    (operators.collocations.pmi_collocations, min_count=5): two
    wordcount aggregates + vocabulary-sized joins (AQE-broadcast),
    min-count filter BEFORE the joins, ln-PMI rounded to 6dp before
    the global top-k."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.collocations import (
        pmi_collocations,
    )

    return pmi_collocations(load_table(spark, sf_dir, "documents"), min_count=5, k=50)


ORACLE_PMI = """
WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
uni AS (SELECT unnest(t) AS w FROM toks),
u AS (SELECT w, count(*) AS n_w FROM uni GROUP BY w),
bi AS (
  SELECT t[i] AS w1, t[i+1] AS w2
  FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - 1, 0))) AS i) g
),
b AS (
  SELECT w1, w2, count(*) AS n_pair FROM bi GROUP BY w1, w2
  HAVING count(*) >= 5
),
n AS (SELECT CAST(sum(len(t)) AS BIGINT) AS n_tokens FROM toks)
SELECT w1, w2, n_pair, n_w1, n_w2, pmi FROM (
  SELECT b.w1, b.w2, b.n_pair, u1.n_w AS n_w1, u2.n_w AS n_w2,
         round(ln((CAST(n.n_tokens AS DOUBLE) * b.n_pair)
                  / (CAST(u1.n_w AS DOUBLE) * u2.n_w)), 6) AS pmi,
         row_number() OVER (
           ORDER BY round(ln((CAST(n.n_tokens AS DOUBLE) * b.n_pair)
                    / (CAST(u1.n_w AS DOUBLE) * u2.n_w)), 6) DESC, b.w1, b.w2
         ) AS rank
  FROM b JOIN u u1 ON b.w1 = u1.w JOIN u u2 ON b.w2 = u2.w CROSS JOIN n
) WHERE rank <= 50
"""

QUERIES["pmi_collocations"] = q_pmi_collocations
ORACLES["pmi_collocations"] = ORACLE_PMI


def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences (operators.collocations.transition_matrix): one key
    shuffle for the lag window, a |states|²-sized count aggregate,
    row-normalized via broadcast join (no hot window)."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.collocations import (
        transition_matrix,
    )

    e = load_table(spark, sf_dir, "events")
    return transition_matrix(e, "user_id", "ts", "event_type", "event_id")


ORACLE_TRANSITIONS = """
WITH s AS (
  SELECT lag(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS from_state,
         event_type AS to_state
  FROM events
), c AS (
  SELECT from_state, to_state, count(*) AS n_transitions
  FROM s WHERE from_state IS NOT NULL GROUP BY 1, 2
), t AS (
  SELECT from_state, sum(n_transitions) AS n_from FROM c GROUP BY 1
)
SELECT c.from_state, c.to_state, c.n_transitions,
       round(c.n_transitions / t.n_from, 6) AS p
FROM c JOIN t USING (from_state)
"""

QUERIES["event_transition_matrix"] = q_event_transition_matrix
ORACLES["event_transition_matrix"] = ORACLE_TRANSITIONS


def q_embedding_quantize_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization audit (operators.quantize): per
    vector, the quantization scale, reconstruction cosine, and worst
    per-dimension error — map-only higher-order expressions, metrics
    chosen to be accumulation-order-free so the audit is
    oracle-checkable."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.quantize import (
        quantize_audit,
    )

    return quantize_audit(load_table(spark, sf_dir, "embeddings"))


ORACLE_QUANTIZE = """
WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
s AS (
  SELECT vec_id, e,
         list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale
  FROM d
), q AS (
  SELECT vec_id, e, scale,
         list_transform(e, x -> round(x / scale) * scale) AS r
  FROM s WHERE scale > 0
)
SELECT vec_id, round(scale, 6) AS scale,
       round(list_cosine_similarity(e, r), 6) AS cos_recon,
       round(list_max(list_transform(range(1, len(e) + 1),
             i -> abs(e[i] - r[i]))), 6) AS max_abs_err
FROM q
"""

QUERIES["embedding_quantize_audit"] = q_embedding_quantize_audit
ORACLES["embedding_quantize_audit"] = ORACLE_QUANTIZE


# ------------------------- built-in session windows / Q3-style join

def q_session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session aggregates via Spark's BUILT-IN session_window
    (30-min gap) — the declarative dual of operators.sessions (which
    pins identical gap semantics by unit test: boundary events at
    exactly prev+gap merge). Plans as one key shuffle + in-partition
    session merge; the same expression runs unchanged under
    Structured Streaming with a watermark."""
    e = load_table(spark, sf_dir, "events")
    agg = e.groupBy("user_id", F.session_window("ts", "30 minutes")).agg(
        F.count(F.lit(1)).alias("n_events"),
        _scaled_sum(F.col("value"), 100, "sum_value"),
    )
    return agg.select(
        "user_id",
        epoch_us(F.col("session_window.start")).alias("session_start_us"),
        epoch_us(F.col("session_window.end")).alias("session_end_us"),
        "n_events",
        "sum_value",
    )


ORACLE_SESSION_WINDOW = """
WITH g AS (
  SELECT user_id, ts, value, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts, value,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM g
)
SELECT user_id,
       epoch_us(min(ts)) AS session_start_us,
       epoch_us(max(ts)) + 1800000000 AS session_end_us,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_value
FROM s GROUP BY user_id, sid
"""

QUERIES["session_window_stats"] = q_session_window_stats
ORACLES["session_window_stats"] = ORACLE_SESSION_WINDOW


def q_top_unshipped_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: customer ⋈ orders ⋈ lineitem with selective
    filters on all three tables, revenue aggregate per order, top 10.
    The filtered customer key set joins UNHINTED (customer is
    data-proportional — the planner auto-broadcasts it while small and
    shuffles at scale; r11 audit); the orders↔lineitem join shuffles on
    the order key with both filters pushed to the scans."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15")
    )
    j = l.join(o, l["l_orderkey"] == o["o_orderkey"]).join(
        c, o["o_custkey"] == c["c_custkey"]
    )
    agg = j.groupBy("l_orderkey", "o_orderdate").agg(
        _scaled_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")), 10000, "revenue"
        )
    )
    return (
        agg.select(
            "l_orderkey", epoch_us("o_orderdate").alias("o_orderdate_us"), "revenue"
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


ORACLE_Q3 = """
SELECT l_orderkey, epoch_us(o_orderdate) AS o_orderdate_us,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
            AS BIGINT) / 10000.0 AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15'
  AND l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""

QUERIES["top_unshipped_orders"] = q_top_unshipped_orders
ORACLES["top_unshipped_orders"] = ORACLE_Q3


def q_bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join as a driver-checked query
    (sources.layout.write_bucketed_table): orders and lineitem are
    persisted bucketed+sorted on the order key, then joined with NO
    shuffle of either fact side — bucket matching replaces both
    exchanges in the sort-merge case (pinned by tests/test_layout.py);
    at small SF AQE instead broadcasts the dim side, which is strictly
    cheaper and still moves zero fact rows. The oracle aggregates the
    original un-bucketed tables, proving the layout transform is
    result-invariant. The bucketed write pays one up-front shuffle;
    every subsequent key join/agg on the table is exchange-free — the
    amortization that matters when the fact table is read hundreds of
    times at 100 TB.

    Table names are PID-suffixed: the bucketed tables live in the
    shared spark-warehouse directory, and two engine processes (e.g.
    the selfcheck and a pytest run) rebuilding the same table name at
    different SFs corrupt each other mid-read. Stale tables from dead
    processes are reaped age-thresholded (the sources/pyds staged-file
    discipline)."""
    import os as _os
    import shutil as _shutil
    import time as _time
    from urllib.parse import urlparse as _urlparse

    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.sources.layout import (
        write_bucketed_table,
    )

    pid = _os.getpid()
    t_orders, t_lineitem = f"bkt_orders_{pid}", f"bkt_lineitem_{pid}"
    wh = _urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    # reap this process's previous build plus any sibling's leftovers
    # older than an hour (a live concurrent process is never touched)
    if _os.path.isdir(wh):
        for d in _os.listdir(wh):
            full = _os.path.join(wh, d)
            if d in (t_orders, t_lineitem):
                spark.sql(f"DROP TABLE IF EXISTS {d}")
                _shutil.rmtree(full, ignore_errors=True)
            elif d.startswith(("bkt_orders", "bkt_lineitem")):
                try:
                    stale = _time.time() - _os.path.getmtime(full) > 3600
                except OSError:
                    stale = False
                if stale:
                    spark.sql(f"DROP TABLE IF EXISTS {d}")
                    _shutil.rmtree(full, ignore_errors=True)

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    write_bucketed_table(o, t_orders, "o_orderkey", num_buckets=8,
                         sort_col="o_orderkey")
    write_bucketed_table(
        l.withColumnRenamed("l_orderkey", "o_orderkey"),
        t_lineitem, "o_orderkey", num_buckets=8, sort_col="o_orderkey",
    )
    j = spark.table(t_lineitem).join(spark.table(t_orders), "o_orderkey")
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        _scaled_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")), 10000, "revenue"
        ),
    )


ORACLE_BUCKETED = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
            AS BIGINT) / 10000.0 AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""

QUERIES["bucketed_join_revenue"] = q_bucketed_join_revenue
ORACLES["bucketed_join_revenue"] = ORACLE_BUCKETED


def q_stream_sliding_quarters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming/batch equivalence for SLIDING windows: a 1h window
    sliding every 15min executed as an actual Structured Streaming job
    (availableNow, watermarked, complete output), oracled against the
    window-arithmetic batch SQL. Together with sliding_hour_windows
    (pane-sliced batch formulation, pinned equal to the built-in by
    unit test) this closes the loop: hand-rolled == built-in batch ==
    streaming."""
    import os as _os

    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.windowed import (
        windowed_counts_once,
    )

    out = windowed_counts_once(
        spark,
        _os.path.join(sf_dir, "events.parquet"),
        duration="1 hour",
        slide="15 minutes",
        aggs=[
            F.count(F.lit(1)).alias("n_events"),
            _scaled_sum(F.col("value"), 10000, "sum_value"),
        ],
    )
    return out.select(
        epoch_us("window_start").alias("window_start_us"),
        "n_events",
        "sum_value",
    )


ORACLE_STREAM_SLIDING = """
WITH e AS (
  SELECT epoch_us(ts) AS t, CAST(round(value * 10000) AS BIGINT) AS v FROM events
), x AS (
  SELECT t, v,
         unnest(generate_series(t // 900000000 - 3, t // 900000000)) AS k
  FROM e
)
SELECT k * 900000000 AS window_start_us,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(v) AS BIGINT) / 10000.0 AS sum_value
FROM x GROUP BY k
"""

QUERIES["stream_sliding_quarters"] = q_stream_sliding_quarters
ORACLES["stream_sliding_quarters"] = ORACLE_STREAM_SLIDING


def q_value_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift alarm (operators.drift.ks_drift): exact
    two-sample KS statistic per event type between the first and
    second half of the month. The corpus reduces to per-(type,
    quantized value) conditional counts before any window runs, so
    CDF construction is support-bounded, not row-bounded."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.drift import (
        ks_drift,
    )

    e = load_table(spark, sf_dir, "events")
    return ks_drift(
        e,
        ["event_type"],
        "value",
        sample_a=F.col("ts") < F.lit("2024-01-16"),
        scale=100,
    )


ORACLE_KS_DRIFT = """
WITH per_v AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v,
         CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) AS BIGINT) AS a,
         CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 0 ELSE 1 END) AS BIGINT) AS b
  FROM events GROUP BY 1, 2
), stepped AS (
  SELECT event_type,
         sum(a) OVER (PARTITION BY event_type) AS ta,
         sum(b) OVER (PARTITION BY event_type) AS tb,
         sum(a) OVER (PARTITION BY event_type ORDER BY v
                      ROWS UNBOUNDED PRECEDING) AS ca,
         sum(b) OVER (PARTITION BY event_type ORDER BY v
                      ROWS UNBOUNDED PRECEDING) AS cb
  FROM per_v
)
SELECT event_type,
       CAST(any_value(ta) AS BIGINT) AS n_a,
       CAST(any_value(tb) AS BIGINT) AS n_b,
       round(max(CASE WHEN ta > 0 AND tb > 0
                 THEN abs(CAST(ca AS DOUBLE) / ta - CAST(cb AS DOUBLE) / tb)
            END), 6) AS ks
FROM stepped GROUP BY event_type
"""

QUERIES["value_drift_ks"] = q_value_drift_ks
ORACLES["value_drift_ks"] = ORACLE_KS_DRIFT


def q_value_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per event type between month halves
    (operators.drift.psi_drift, 10 fixed-width bins over [0,1000)).
    Count shuffle bounded by |types| × 10 bins; zero-mass bins are
    skipped per the standard definition."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.drift import (
        psi_drift,
    )

    e = load_table(spark, sf_dir, "events")
    return psi_drift(
        e,
        ["event_type"],
        "value",
        sample_a=F.col("ts") < F.lit("2024-01-16"),
        n_bins=10,
        lo=0.0,
        hi=1000.0,
    )


ORACLE_PSI_DRIFT = """
WITH per_bin AS (
  SELECT event_type,
         least(9, greatest(0, CAST(floor((value - 0.0) / 100.0) AS BIGINT))) AS b,
         CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) AS BIGINT) AS a,
         CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 0 ELSE 1 END) AS BIGINT) AS bb
  FROM events GROUP BY 1, 2
), stepped AS (
  SELECT event_type,
         sum(a) OVER (PARTITION BY event_type) AS ta,
         sum(bb) OVER (PARTITION BY event_type) AS tb,
         CASE WHEN a > 0 AND bb > 0 THEN
           (CAST(a AS DOUBLE) / sum(a) OVER (PARTITION BY event_type)
            - CAST(bb AS DOUBLE) / sum(bb) OVER (PARTITION BY event_type))
           * ln((CAST(a AS DOUBLE) / sum(a) OVER (PARTITION BY event_type))
                / (CAST(bb AS DOUBLE) / sum(bb) OVER (PARTITION BY event_type)))
         END AS term
  FROM per_bin
)
SELECT event_type,
       CAST(any_value(ta) AS BIGINT) AS n_a,
       CAST(any_value(tb) AS BIGINT) AS n_b,
       round(CAST(sum(CAST(round(term * 1000000000.0) AS BIGINT)) AS BIGINT)
             / 1000000000.0, 6) AS psi
FROM stepped GROUP BY event_type
"""

QUERIES["value_drift_psi"] = q_value_drift_psi
ORACLES["value_drift_psi"] = ORACLE_PSI_DRIFT


# --------------------------- lake ingest discipline: CSV DLQ, evolution

def q_csv_ingest_with_dlq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record quarantine on a text-format ingest (K8
    generalized to CSV): a mixed landing directory (valid CSV rows +
    deterministically injected garbage lines) is read PERMISSIVE with
    a corrupt-record column; bad lines are counted into the report
    instead of poisoning the load or being dropped silently. The
    oracle recomputes the clean-side aggregate from the source table
    plus the known injection count — a hash match proves the CSV
    write→read roundtrip is lossless AND the quarantine is exact."""
    import os as _os
    import tempfile as _tempfile

    from pyspark.sql import types as T

    root = _tempfile.mkdtemp(prefix="csv_ingest_")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 3 == 0)
    o.select("o_orderkey", "o_orderstatus", "o_totalprice").write.mode(
        "overwrite"
    ).csv(root, header=False)
    # 7 deterministic garbage lines (wrong arity / non-numeric key)
    spark.range(7).select(
        F.concat(F.lit("garbage-line-"), F.col("id")).alias("value")
    ).coalesce(1).write.mode("append").text(root)

    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("_corrupt", T.StringType()),
        ]
    )
    # CSV column pruning parses only referenced fields, which lets
    # malformed rows slip past corrupt-record detection when the bad
    # field is pruned away — quarantine correctness needs a full parse
    spark.conf.set("spark.sql.csv.parser.columnPruning.enabled", "false")
    raw = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(root)
    )
    # one aggregate over the mixed scan: Spark rejects any sub-plan
    # that prunes down to ONLY the corrupt-record column, so the
    # quarantine count is a conditional sum beside the clean metrics
    # PERMISSIVE keeps any fields that DID parse on a quarantined row
    # (e.g. over-arity rows parse their prefix), so clean-side metrics
    # must be conditional on _corrupt IS NULL, not a bare sum
    clean_price = F.when(F.col("_corrupt").isNull(), F.col("o_totalprice"))
    return raw.agg(
        F.sum(F.when(F.col("_corrupt").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_parsed"),
        _scaled_sum(clean_price, 100, "sum_price"),
        F.sum(F.when(F.col("_corrupt").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_quarantined"),
    )


ORACLE_CSV_DLQ = """
SELECT CAST(count(*) AS BIGINT) AS n_parsed,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_price,
       CAST(7 AS BIGINT) AS n_quarantined
FROM orders WHERE o_orderkey % 3 = 0
"""

QUERIES["csv_ingest_with_dlq"] = q_csv_ingest_with_dlq
ORACLES["csv_ingest_with_dlq"] = ORACLE_CSV_DLQ


def q_schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet schema evolution (mergeSchema): two snapshot
    generations of the orders lake — an early 2-column layout and a
    later layout that added o_orderpriority — are read as ONE table;
    old rows surface NULL for the added column. The oracle rebuilds
    the same union with a CASE, proving widened reads are lossless.
    At 100 TB this is the zero-rewrite evolution path: old files are
    never touched, footer merging happens at planning time."""
    import os as _os
    import tempfile as _tempfile

    root = _tempfile.mkdtemp(prefix="schema_evo_")
    o = load_table(spark, sf_dir, "orders")
    o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    ).write.mode("overwrite").parquet(_os.path.join(root, "gen=1"))
    o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    ).write.mode("overwrite").parquet(_os.path.join(root, "gen=2"))

    merged = spark.read.option("mergeSchema", "true").parquet(
        _os.path.join(root, "gen=1"), _os.path.join(root, "gen=2")
    )
    return merged.groupBy(
        F.coalesce(F.col("o_orderpriority"), F.lit("<pre-evolution>")).alias(
            "priority"
        )
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        _scaled_sum(F.col("o_totalprice"), 100, "sum_price"),
    )


ORACLE_SCHEMA_EVO = """
SELECT COALESCE(CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END,
                '<pre-evolution>') AS priority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_price
FROM orders GROUP BY 1
"""

QUERIES["schema_evolution_merge"] = q_schema_evolution_merge
ORACLES["schema_evolution_merge"] = ORACLE_SCHEMA_EVO


# --------------------------------------- round 3: distributed rank / ntile

def q_global_value_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact global rank over the full events table via the two-phase
    distributed form (operators.windows.global_rank: repartitionByRange
    sort + per-partition row_number + broadcast offsets) — NOT a
    single-partition ``row_number() OVER (ORDER BY ...)``, which would
    funnel 100 TB through one task. (value, event_id) is a total order,
    so the rank is partition-boundary-independent."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.windows import (
        global_rank,
    )

    e = load_table(spark, sf_dir, "events").select("event_id", "value")
    return global_rank(e, ["value", "event_id"]).select("event_id", "rank")


ORACLE_GLOBAL_RANK = """
SELECT event_id,
       CAST(row_number() OVER (ORDER BY value ASC, event_id ASC) AS BIGINT) AS rank
FROM events
"""


def q_global_value_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equal-frequency binning (SQL NTILE semantics) built on the
    distributed global rank — the 100 TB-safe form of
    ``ntile(16) OVER (ORDER BY ...)``."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.windows import (
        ntile_exact,
    )

    e = load_table(spark, sf_dir, "events").select("event_id", "value")
    return ntile_exact(e, ["value", "event_id"], buckets=16).select(
        "event_id", "bucket"
    )


ORACLE_GLOBAL_NTILE = """
SELECT event_id,
       CAST(ntile(16) OVER (ORDER BY value ASC, event_id ASC) AS BIGINT) AS bucket
FROM events
"""

QUERIES["global_value_rank"] = q_global_value_rank
ORACLES["global_value_rank"] = ORACLE_GLOBAL_RANK
QUERIES["global_value_ntile"] = q_global_value_ntile
ORACLES["global_value_ntile"] = ORACLE_GLOBAL_NTILE


# ------------------------------------------- round 3: BPE token accounting

def q_bpe_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document training-token budget under the BPE-ish
    pre-tokenizer (operators.text.bpe_token_stats): pre-token count,
    whitespace-token count, fertility, chars/token. Map-only — the
    regex runs inside whole-stage codegen, no UDF, no shuffle."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.text import (
        bpe_token_stats,
    )

    return bpe_token_stats(load_table(spark, sf_dir, "documents"))


def _oracle_bpe_budget() -> str:
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.text import (
        BPE_PRETOKEN_PATTERN,
    )

    sql = """
WITH t AS (
  SELECT doc_id,
         CAST(len(list_filter(regexp_extract_all(text, '__PAT__'),
                              x -> NOT regexp_matches(x, '^\\s+$'))) AS BIGINT) AS n_bpe,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws,
         CAST(length(text) AS BIGINT) AS n_chars
  FROM documents
)
SELECT doc_id, n_bpe AS n_bpe_tokens, n_ws AS n_ws_tokens,
       CASE WHEN n_ws > 0 THEN round(n_bpe / CAST(n_ws AS DOUBLE), 6) ELSE 0.0 END AS fertility,
       CASE WHEN n_bpe > 0 THEN round(n_chars / CAST(n_bpe AS DOUBLE), 6) ELSE 0.0 END AS chars_per_token
FROM t
"""
    return sql.replace("__PAT__", BPE_PRETOKEN_PATTERN.replace("'", "''"))


QUERIES["bpe_token_budget"] = q_bpe_token_budget
ORACLES["bpe_token_budget"] = _oracle_bpe_budget()


# --------------------------------------- round 3: content checksum parity

def q_content_checksum_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy CONTENT audit (operators.integrity.content_checksum),
    generalizing the reference's count-only load verification
    (``README.md:140``): per-priority row counts plus an
    order-independent md5-prefix integer checksum. Each store computes
    its digest in place; only |groups| rows cross the wire."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.integrity import (
        content_checksum,
    )

    o = load_table(spark, sf_dir, "orders")
    return content_checksum(
        o,
        cols=["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"],
        group_by="o_orderpriority",
    )


ORACLE_CONTENT_CHECKSUM = """
WITH h AS (
  SELECT o_orderpriority,
         CAST(concat('0x', substring(md5(concat_ws('|',
              CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR),
              o_orderstatus, o_orderpriority)), 1, 8)) AS BIGINT) AS hv
  FROM orders
)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(hv) AS BIGINT) AS checksum,
       MIN(hv) AS min_digest,
       MAX(hv) AS max_digest
FROM h GROUP BY o_orderpriority
"""

QUERIES["content_checksum_parity"] = q_content_checksum_parity
ORACLES["content_checksum_parity"] = ORACLE_CONTENT_CHECKSUM


# ------------------------------------------- round 3: per-label centroids

def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (operators.similarity.
    label_centroids): posexplode to (label, dim, val) + ONE bounded hash
    aggregate — shuffle capped at |labels|·dim rows per input partition
    by map-side combine, so the plan is corpus-size-independent.
    Components summed as scaled integers (bit-stable under any row
    order, per the registry determinism convention)."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.similarity import (
        label_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    out = label_centroids(emb, vec_col="embedding", label_col="label")
    return out.select(
        F.col("label").cast("long").alias("label"),
        F.col("dim").cast("long").alias("dim"),
        "n_vectors",
        "centroid",
    )


ORACLE_LABEL_CENTROIDS = """
WITH e AS (
  SELECT CAST(label AS BIGINT) AS label,
         CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
         unnest(embedding) AS val
  FROM embeddings
)
SELECT label, dim,
       CAST(count(*) AS BIGINT) AS n_vectors,
       round(CAST(sum(CAST(round(CAST(val AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE)
             / count(*) / 1000000, 6) AS centroid
FROM e GROUP BY label, dim
"""

QUERIES["label_centroids"] = q_label_centroids
ORACLES["label_centroids"] = ORACLE_LABEL_CENTROIDS


# ------------------------------------- round 3: boilerplate shingle scores

def q_boilerplate_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-common shingle scoring (operators.boilerplate): fraction
    of each document's distinct 8-gram shingles that occur in ≥2
    documents — the CCNet/Gopher template-detection primitive. Two
    bounded shuffles (per-doc-distinct explode, shingle DF aggregate);
    the common-shingle join is AQE-broadcastable by construction."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.boilerplate import (
        boilerplate_scores,
    )

    return boilerplate_scores(
        load_table(spark, sf_dir, "documents"), n=8, min_docs=2
    )


ORACLE_BOILERPLATE = """
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS s
  FROM tok, UNNEST(range(1, greatest(len(t)-7, 0)+1)) AS u(i)
), df AS (
  SELECT s, count(*) AS n_docs FROM sh GROUP BY s
), scored AS (
  SELECT sh.doc_id,
         CAST(count(*) AS BIGINT) AS n_shingles,
         CAST(sum(CASE WHEN df.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_common
  FROM sh JOIN df USING (s) GROUP BY sh.doc_id
)
SELECT d.doc_id,
       COALESCE(n_shingles, 0) AS n_shingles,
       COALESCE(n_common, 0) AS n_common,
       CASE WHEN COALESCE(n_shingles, 0) > 0
            THEN round(n_common / CAST(n_shingles AS DOUBLE), 6)
            ELSE 0.0 END AS boilerplate_ratio
FROM (SELECT DISTINCT doc_id FROM documents) d LEFT JOIN scored USING (doc_id)
"""

QUERIES["boilerplate_flags"] = q_boilerplate_flags
ORACLES["boilerplate_flags"] = ORACLE_BOILERPLATE


# --------------------------------------- round 3: stream-side deduplication

def q_stream_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-bounded streaming dedup executed as a REAL streaming
    job (streaming.dedup.stream_dedup_once): the events table is
    delivered TWICE (two unioned file streams — worst-case
    at-least-once transport), ``dropDuplicatesWithinWatermark`` on the
    event key suppresses the duplicates with bounded state, and the
    oracle is batch SQL over the single-delivery table. A hash match
    proves exactly-once arithmetic survived duplicate delivery."""
    import os as _os

    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.dedup import (
        stream_dedup_once,
    )

    return stream_dedup_once(
        spark,
        _os.path.join(sf_dir, "events.parquet"),
        key_cols=["event_id"],
        group_cols=["event_type"],
        aggs=[
            F.count(F.lit(1)).alias("n_events"),
            _scaled_sum(F.col("value"), 10000, "sum_value"),
        ],
    )


ORACLE_STREAM_DEDUP = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) / 10000.0 AS sum_value
FROM events GROUP BY event_type
"""

QUERIES["stream_dedup_counts"] = q_stream_dedup_counts
ORACLES["stream_dedup_counts"] = ORACLE_STREAM_DEDUP


# ----------------------------------------------- round 3: ORC sink/source

def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar-format portability: project orders, write ORC (Spark's
    second built-in columnar format — zlib, vectorized reader), read it
    back, aggregate. The oracle aggregates the original parquet: a hash
    match proves the ORC write/read roundtrip is lossless for longs,
    doubles, strings and timestamps alike. Export funnels through the
    engine's normal distributed write (one file per partition)."""
    import os as _os
    import tempfile as _tempfile

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    )
    path = _os.path.join(_tempfile.mkdtemp(prefix="orc_sink_"), "orders_orc")
    o.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _scaled_sum(F.col("o_totalprice"), 100, "sum_price"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
        epoch_us(F.min(F.col("o_orderdate").cast("timestamp"))).alias("min_date_us"),
    )


ORACLE_ORC_ROUNDTRIP = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_price,
       MIN(o_orderkey) AS min_key,
       MAX(o_orderkey) AS max_key,
       epoch_us(MIN(o_orderdate)) AS min_date_us
FROM orders GROUP BY o_orderpriority
"""

QUERIES["orc_roundtrip"] = q_orc_roundtrip
ORACLES["orc_roundtrip"] = ORACLE_ORC_ROUNDTRIP


# --------------------------------------- round 3: nation-pair trade volume

def q_nation_pair_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: revenue shipped between distinct nation pairs by
    year — a 6-table star with TWO independent dimension legs (supplier
    nation and customer nation). The ship-date filter pushes to the
    fact scan; both nation joins broadcast (25-row bounded dims); the
    supplier join is unhinted — supplier scales with SF, so the planner
    decides (r11 audit). The big shuffles are the fact⋈orders join and
    the final |pairs| aggregate."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01"))
        & (F.col("l_shipdate") <= F.lit("1996-12-31"))
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    ns = n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    nc = n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    j = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("s_nk"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("c_nk"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return j.groupBy(
        "supp_nation",
        "cust_nation",
        F.year("l_shipdate").cast("long").alias("l_year"),
    ).agg(
        _scaled_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 10000, "revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


ORACLE_NATION_PAIR = """
SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS l_year,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) / 10000.0 AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ns ON s_nationkey = ns.n_nationkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation nc ON c_nationkey = nc.n_nationkey
WHERE ns.n_name <> nc.n_name
  AND l_shipdate >= TIMESTAMP '1995-01-01'
  AND l_shipdate <= TIMESTAMP '1996-12-31'
GROUP BY 1, 2, 3
"""

QUERIES["nation_pair_volume"] = q_nation_pair_volume
ORACLES["nation_pair_volume"] = ORACLE_NATION_PAIR


# ------------------------------------------- round 3: semantic dedup keep

def q_semantic_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-space) deduplication end-to-end: blocked
    cosine near-dup pairs (≥0.3 within the coarse cluster) resolved
    into components, keeping one representative per component — the
    full keep/drop decision a curation pipeline executes, not just the
    pair list. Because every edge is internal to the blocking key,
    resolution uses the ONE-shuffle cogrouped union-find
    (operators.graph.blocked_components) instead of O(rounds)
    iterative label propagation — labels are identical by
    construction (min member id)."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.graph import (
        blocked_components,
    )
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.similarity import (
        cosine_near_dup_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = cosine_near_dup_pairs(emb, threshold=0.3, keep_block=True)
    cc = blocked_components(
        emb.select("label", "vec_id"),
        pairs.select("label", "id_a", "id_b"),
        block_col="label",
        node_col="vec_id",
        src_col="id_a",
        dst_col="id_b",
    )
    return cc.select(
        F.col("node").alias("vec_id"),
        "cluster_id",
        (F.col("node") == F.col("cluster_id")).alias("is_representative"),
    )


ORACLE_SEMANTIC_DEDUP = """
WITH RECURSIVE pairs AS (
  SELECT a.vec_id AS d1, b.vec_id AS d2
  FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.3
), edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
reach(node, lbl) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT e.a, r.lbl FROM reach r JOIN edges e ON e.b = r.node
)
SELECT node AS vec_id, MIN(lbl) AS cluster_id, node = MIN(lbl) AS is_representative
FROM reach GROUP BY node
"""

QUERIES["semantic_dedup_keep"] = q_semantic_dedup_keep
ORACLES["semantic_dedup_keep"] = ORACLE_SEMANTIC_DEDUP


# ---------------------------------------------- round 3: CUBE / grouping id

def q_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation (all 4 grouping sets of priority × returnflag)
    with ``grouping_id`` disambiguation — completes the multi-level
    aggregation surface next to ROLLUP (`rollup_revenue`). One shuffle;
    Spark expands grouping sets map-side."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    partials = _partial_scaled_sums(
        j,
        ["o_orderpriority", "l_returnflag"],
        {"_r": (F.col("l_extendedprice") * (1 - F.col("l_discount")), 10000)},
    )
    return (
        partials.cube("o_orderpriority", "l_returnflag")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.sum("_pn").cast("long").alias("n_items"),
            _dec_total("_r", 10000, "revenue"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("<all>")).alias("priority"),
            F.coalesce("l_returnflag", F.lit("<all>")).alias("returnflag"),
            "gid", "n_items", "revenue",
        )
    )


ORACLE_CUBE = """
SELECT COALESCE(o_orderpriority, '<all>') AS priority,
       COALESCE(l_returnflag, '<all>') AS returnflag,
       CAST(GROUPING(o_orderpriority, l_returnflag) AS BIGINT) AS gid,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) / 10000.0 AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY CUBE(o_orderpriority, l_returnflag)
"""

QUERIES["cube_revenue"] = q_cube_revenue
ORACLES["cube_revenue"] = ORACLE_CUBE


# -------------------------------------- round 3: quantile sketch vs exact

def q_approx_quantile_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy audit, the quantile sibling of
    `approx_distinct_check`: per event type, the EXACT p50/p90 (the
    audit side — sort-based, what you pay for ground truth) plus a
    boolean asserting Spark's ``approx_percentile`` sketch (the 100 TB
    fast path, mergeable across partitions) lands within a generous
    tolerance of them. The oracle computes the exact values and
    TRUE — a hash match means the sketch stayed in-bounds. The exact
    side runs through grouped_percentile_exact (r9: the `percentile()`
    aggregate buffers a whole group per aggregation buffer — the
    unbounded-buffer class); the sketch side keeps the fixed-size
    mergeable `approx_percentile` aggregate, which is the point."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.windows import (
        grouped_percentile_exact,
    )

    e = load_table(spark, sf_dir, "events")
    exact = grouped_percentile_exact(
        e.select("event_type", "value", "event_id"),
        ["event_type"],
        "value",
        "event_id",
        {"_e50": 0.5, "_e90": 0.9},
    )
    sketch = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.percentile_approx("value", F.lit(0.5), F.lit(10000)).alias("_a50"),
        F.percentile_approx("value", F.lit(0.9), F.lit(10000)).alias("_a90"),
    )

    # The sketch's rank error is ~n/accuracy rows; the VALUE error that
    # induces is one inter-sample gap around the target rank (the exact
    # side interpolates, the sketch returns a member value), so the
    # tolerance is relative with an absolute floor — generous at any SF.
    def in_tol(a, x):
        return F.abs(F.col(a) - F.col(x)) <= F.greatest(
            F.lit(1.0), F.abs(F.col(x)) * 0.02
        )

    return sketch.join(F.broadcast(exact), "event_type").select(
        "event_type",
        "n_events",
        F.round(F.col("_e50"), 6).alias("exact_p50"),
        F.round(F.col("_e90"), 6).alias("exact_p90"),
        in_tol("_a50", "_e50").alias("p50_in_tolerance"),
        in_tol("_a90", "_e90").alias("p90_in_tolerance"),
    )


ORACLE_APPROX_QUANTILE = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(quantile_cont(value, 0.5), 6) AS exact_p50,
       round(quantile_cont(value, 0.9), 6) AS exact_p90,
       TRUE AS p50_in_tolerance,
       TRUE AS p90_in_tolerance
FROM events GROUP BY event_type
"""

QUERIES["approx_quantile_check"] = q_approx_quantile_check
ORACLES["approx_quantile_check"] = ORACLE_APPROX_QUANTILE


# ------------------------------------- round 3: higher-order array surface

def q_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order-function surface over the vector column — the
    lambda-expression toolkit (transform / filter / exists / forall /
    aggregate / zip_with) a pipeline uses for in-row array math without
    ever exploding. All map-only, whole-stage-codegen'd, zero shuffle
    beyond the scan."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    sq_sum = F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)
    dot_rev = F.aggregate(
        F.zip_with(v, F.reverse(v), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return emb.select(
        "vec_id",
        F.round(F.sqrt(sq_sum), 6).alias("l2_norm"),
        F.size(F.filter(v, lambda x: x > 0)).cast("long").alias("n_positive"),
        F.exists(v, lambda x: F.abs(x) > 0.5).alias("any_large"),
        F.forall(v, lambda x: F.abs(x) < 1.0).alias("all_unit"),
        F.round(dot_rev, 6).alias("dot_reversed"),
    )


ORACLE_ARRAY_FUNCS = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
SELECT vec_id,
       round(sqrt(list_aggregate(list_transform(e, x -> x * x), 'sum')), 6) AS l2_norm,
       CAST(len(list_filter(e, x -> x > 0)) AS BIGINT) AS n_positive,
       len(list_filter(e, x -> abs(x) > 0.5)) > 0 AS any_large,
       len(list_filter(e, x -> abs(x) >= 1.0)) = 0 AS all_unit,
       round(list_dot_product(e, list_reverse(e)), 6) AS dot_reversed
FROM v
"""

QUERIES["array_functions"] = q_array_functions
ORACLES["array_functions"] = ORACLE_ARRAY_FUNCS


# ------------------------------------ round 3: mapInArrow / Python UDTF

def q_arrow_vector_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow vector math (operators.udx.vector_norms_arrow):
    numpy reductions directly over the Arrow list buffers — the
    fastest Python worker path (no pandas materialization, no per-row
    Python). Oracled against DuckDB list arithmetic, proving the
    zero-copy buffer handling is value-exact."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.udx import (
        vector_norms_arrow,
    )

    emb = parallelize(load_table(spark, sf_dir, "embeddings"))
    return vector_norms_arrow(emb)


ORACLE_ARROW_NORMS = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
SELECT vec_id,
       round(sqrt(list_aggregate(list_transform(e, x -> x * x), 'sum')), 6) AS l2_norm,
       round(list_aggregate(e, 'sum'), 6) AS component_sum
FROM v
"""

QUERIES["arrow_vector_norms"] = q_arrow_vector_norms
ORACLES["arrow_vector_norms"] = ORACLE_ARROW_NORMS


def q_udtf_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (operators.udx.ngram_udtf_class): per-doc
    trigram expansion via SQL LATERAL join, then the standard two-phase
    count. UDTFs are the deliberate slow path (per-row Python, Arrow
    transport) — kept off hot paths; this query pins the API works and
    returns exactly what the declarative shingle pipeline returns."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.udx import (
        udtf_ngram_counts,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = udtf_ngram_counts(docs, n=3)
    return out.orderBy(F.col("n_occurrences").desc(), F.col("ngram").asc()).limit(20)


ORACLE_UDTF_NGRAMS = """
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
g AS (
  SELECT array_to_string(t[i:i+2], ' ') AS ngram
  FROM tok, UNNEST(range(1, greatest(len(t)-2, 0)+1)) AS u(i)
)
SELECT ngram, CAST(count(*) AS BIGINT) AS n_occurrences
FROM g GROUP BY ngram
ORDER BY n_occurrences DESC, ngram ASC LIMIT 20
"""

QUERIES["udtf_ngram_counts"] = q_udtf_ngram_counts
ORACLES["udtf_ngram_counts"] = ORACLE_UDTF_NGRAMS


# ----------------------------------------- round 3: keep-best exact dedup

def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-grade exact dedup: within each identical-content group
    (md5 fingerprint) keep the BEST copy — longest text, then lowest
    doc_id as the total-order tiebreak — instead of an arbitrary one.
    The ranking window partitions by fingerprint (bounded groups, never
    a global window); everything else is map-side."""
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    fp = F.md5(F.col("text"))
    w = W.partitionBy(fp).orderBy(
        F.length("text").desc(), F.col("doc_id").asc()
    )
    return d.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.count(F.lit(1)).over(W.partitionBy(fp)).cast("long").alias("n_copies"),
        (F.row_number().over(w) == 1).alias("is_kept"),
    )


ORACLE_DEDUP_KEEP_BEST = """
SELECT doc_id, md5(text) AS fingerprint,
       CAST(count(*) OVER (PARTITION BY md5(text)) AS BIGINT) AS n_copies,
       row_number() OVER (PARTITION BY md5(text)
                          ORDER BY length(text) DESC, doc_id ASC) = 1 AS is_kept
FROM documents
"""

QUERIES["dedup_keep_best"] = q_dedup_keep_best
ORACLES["dedup_keep_best"] = ORACLE_DEDUP_KEEP_BEST


# -------------------------------------------- round 3: Z-order clustering

def q_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton/Z-order clustering key (sources.layout.zorder_key) over
    two quantized event dimensions — the multi-dimensional sort key a
    data-skipping layout (OPTIMIZE ZORDER) clusters files by. The
    oracle recomputes the interleave arithmetically; the locality
    property (sorting by the key tightens per-file min/max on BOTH
    dimensions) is pinned by `tests/test_layout.py`. Map-only,
    whole-stage codegen."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.sources.layout import (
        zorder_key,
    )

    e = load_table(spark, sf_dir, "events")
    x = F.pmod(F.col("user_id"), F.lit(1024))
    y = F.pmod(F.round(F.col("value") * 10).cast("long"), F.lit(1024))
    return e.select(
        "event_id", zorder_key(x, y, bits=10).alias("zkey")
    )


def _oracle_zorder() -> str:
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.sources.layout import (
        zorder_oracle_sql,
    )

    zx = "((user_id % 1024) + 1024) % 1024"
    zy = "((CAST(round(value * 10) AS BIGINT) % 1024) + 1024) % 1024"
    return (
        "SELECT event_id, "
        + zorder_oracle_sql(zx, zy, bits=10)
        + " AS zkey FROM events"
    )


QUERIES["zorder_keys"] = q_zorder_keys
ORACLES["zorder_keys"] = _oracle_zorder()


# ------------------------------------- round 3: TPC-H classics Q6/Q10/Q14

def q_forecast_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-aggregate 'what-if' — revenue
    delta from discount changes in a date/quantity/discount band. ALL
    three predicates push to the parquet scan; the aggregate is one
    partial-combined scalar. The cheapest possible 100 TB query — IF
    the filters actually push down (pinned in SCALE.md)."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1994-01-01"))
            & (F.col("l_shipdate") < F.lit("1995-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            _scaled_sum(
                F.col("l_extendedprice") * F.col("l_discount"), 10000, "revenue_delta"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


ORACLE_Q6 = """
SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 10000) AS BIGINT)) AS BIGINT) / 10000.0 AS revenue_delta,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1994-01-01' AND l_shipdate < TIMESTAMP '1995-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
"""


def q_returned_revenue_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue lost to returns —
    returnflag filter pushed to the fact scan, nation broadcast, one
    fact⋈orders shuffle, distributed TakeOrdered head (no global
    window)."""
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    j = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    )
    return (
        j.groupBy("c_custkey", "c_name", "n_name")
        .agg(
            _scaled_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 10000, "lost_revenue"
            ),
            F.count(F.lit(1)).alias("n_returned_items"),
        )
        .orderBy(F.col("lost_revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


ORACLE_Q10 = """
SELECT c_custkey, c_name, n_name,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) / 10000.0 AS lost_revenue,
       CAST(count(*) AS BIGINT) AS n_returned_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY 1, 2, 3
ORDER BY lost_revenue DESC, c_custkey ASC LIMIT 20
"""


def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promotional revenue share — two-branch
    conditional aggregate over the part⋈lineitem join. The part join
    is unhinted (part is data-proportional; the planner auto-broadcasts
    while small — r11 audit); the share divides two scaled-integer
    sums, so the 6dp ratio is partition-order-independent."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-09-01"))
        & (F.col("l_shipdate") < F.lit("1995-10-01"))
    )
    p = load_table(spark, sf_dir, "part")
    j = l.join(p, l.l_partkey == p.p_partkey)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(F.lit(0.0))
    out = j.agg(
        _scaled_sum(promo, 10000, "promo_revenue"),
        _scaled_sum(rev, 10000, "total_revenue"),
    )
    return out.select(
        "promo_revenue",
        "total_revenue",
        F.round(F.col("promo_revenue") / F.col("total_revenue"), 6).alias("promo_share"),
    )


ORACLE_Q14 = """
WITH s AS (
  SELECT CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
                  THEN CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)
                  ELSE 0 END) AS BIGINT) / 10000.0 AS promo_revenue,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) / 10000.0 AS total_revenue
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1995-09-01' AND l_shipdate < TIMESTAMP '1995-10-01'
)
SELECT promo_revenue, total_revenue,
       round(promo_revenue / total_revenue, 6) AS promo_share
FROM s
"""

QUERIES.update(
    {
        "forecast_revenue_delta": q_forecast_revenue_delta,
        "returned_revenue_customers": q_returned_revenue_customers,
        "promo_revenue_share": q_promo_revenue_share,
    }
)
ORACLES.update(
    {
        "forecast_revenue_delta": ORACLE_Q6,
        "returned_revenue_customers": ORACLE_Q10,
        "promo_revenue_share": ORACLE_Q14,
    }
)


# ------------------------------------- round 3: stream-stream join e2e

def q_stream_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join executed as a REAL streaming job
    (streaming.joins.attribution_join_once): click→purchase attribution
    within a 30-minute horizon, both sides watermarked (state-bounded).
    The returned batch aggregate is oracled against the equivalent
    batch interval join — hash match pins stream-executed ==
    batch-executed for two-sided stateful joins."""
    import os as _os

    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.joins import (
        attribution_join_once,
    )

    out = attribution_join_once(
        spark, _os.path.join(sf_dir, "events.parquet")
    )
    gap_us = F.unix_micros(F.col("right_ts")) - F.unix_micros(F.col("left_ts"))
    return out.groupBy("k").agg(
        F.count(F.lit(1)).alias("n_attributed"),
        F.sum(gap_us).alias("sum_gap_us"),
        _scaled_sum(F.col("right_value"), 10000, "attributed_value"),
    ).withColumnRenamed("k", "user_id")


ORACLE_STREAM_ATTRIBUTION = """
SELECT c.user_id,
       CAST(count(*) AS BIGINT) AS n_attributed,
       CAST(sum(epoch_us(p.ts) - epoch_us(c.ts)) AS BIGINT) AS sum_gap_us,
       CAST(sum(CAST(round(p.value * 10000) AS BIGINT)) AS BIGINT) / 10000.0 AS attributed_value
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
GROUP BY c.user_id
"""

QUERIES["stream_attribution_join"] = q_stream_attribution_join
ORACLES["stream_attribution_join"] = ORACLE_STREAM_ATTRIBUTION


# -------------------------------------- round 3: custom Python DataSource

def q_python_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource scan (sources.pyds): the reference's
    driver-side REST fetch loop re-expressed as a partitioned source —
    one input partition per place shard, executor-side iteration, no
    driver payloads. Deterministic synthetic responses make the whole
    source oracle-checkable; sf_dir is unused (the source IS the
    data), matching the reference's API leg which reads nothing from
    the lake."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.sources.pyds import (
        register_weather_api,
    )

    register_weather_api(spark)
    return (
        spark.read.format("weather_api")
        .option("places", 30)
        .option("hours", 24)
        .option("shards", 8)
        .load()
    )


def _oracle_python_datasource() -> str:
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.sources.pyds import (
        weather_api_oracle_sql,
    )

    return weather_api_oracle_sql(places=30, hours=24)


QUERIES["python_datasource_scan"] = q_python_datasource_scan
ORACLES["python_datasource_scan"] = _oracle_python_datasource()


# ------------------------------------------- round 3: hourly gap-filling

def q_gapfill_hourly_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style gap-fill (operators.timeseries.fill_gaps):
    hourly purchase-value series per user bucket, densified to every
    hour between each bucket's first and last observation with the
    last value carried forward. Spine generated from per-key bounds
    (no global calendar cross join); fill is one co-partitioned
    window."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.timeseries import (
        fill_gaps,
    )

    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    hour_us = (F.unix_micros(F.col("ts").cast("timestamp")) / 3_600_000_000).cast(
        "long"
    ) * 3_600_000_000
    hourly = (
        e.groupBy(
            F.pmod(F.col("user_id"), F.lit(8)).alias("bucket"),
            hour_us.alias("hour_us"),
        )
        .agg(_scaled_sum(F.col("value"), 100, "hour_value"))
    )
    return fill_gaps(hourly, "bucket", "hour_us", "hour_value", step=3_600_000_000)


ORACLE_GAPFILL = """
WITH hourly AS (
  SELECT ((user_id % 8) + 8) % 8 AS bucket,
         epoch_us(ts) // 3600000000 * 3600000000 AS hour_us,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0 AS hour_value
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
), bounds AS (
  SELECT bucket, min(hour_us) AS lo, max(hour_us) AS hi FROM hourly GROUP BY 1
), spine AS (
  SELECT bucket, unnest(generate_series(lo, hi, 3600000000)) AS hour_us FROM bounds
), j AS (
  SELECT s.bucket, s.hour_us, h.hour_value
  FROM spine s LEFT JOIN hourly h USING (bucket, hour_us)
)
SELECT bucket, hour_us,
       last_value(hour_value IGNORE NULLS) OVER (
         PARTITION BY bucket ORDER BY hour_us
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hour_value,
       hour_value IS NULL AS was_gap
FROM j
"""

QUERIES["gapfill_hourly_series"] = q_gapfill_hourly_series
ORACLES["gapfill_hourly_series"] = ORACLE_GAPFILL


# ------------------------------------------- round 3: sign-LSH bucketed ANN

def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-5 cosine neighbors for 8 query
    vectors (operators.similarity.lsh_topk): sign-LSH bucket codes from
    4 deterministic integer hyperplanes, multi-probe over the own +
    every Hamming-1 bucket, exact cosine re-rank of the candidates.
    The no-trained-quantizer ANN scale path — corpus coded map-only,
    candidates via equi-join on the code (never a cross join)."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.similarity import (
        lsh_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    out = lsh_topk(emb, q, k=5, n_planes=4, dim=64)
    return out.select(
        "q_id", "vec_id", "similarity", F.col("rank").cast("long").alias("rank")
    )


def _oracle_ann_lsh() -> str:
    """DuckDB twin: identical integer hyperplanes (inlined literals from
    the same Python builder), floor(x*1e6) integer scaling, exact-sign
    bucket codes, same multi-probe mask set, same 6dp cosine re-rank."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.similarity import (
        hyperplanes,
    )

    planes = hyperplanes(4, 64)
    plane_rows = ",\n    ".join(
        "({}, [{}])".format(r, ", ".join(str(c) for c in h))
        for r, h in enumerate(planes)
    )
    return f"""
WITH ei AS (
  SELECT vec_id, embedding,
         [CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) FOR x IN embedding] AS e
  FROM embeddings
),
h(r, hv) AS (VALUES
    {plane_rows}
),
codes AS (
  SELECT vec_id,
         CAST(SUM(CASE WHEN list_dot_product(ei.e, h.hv) > 0
                       THEN (1 << h.r) ELSE 0 END) AS BIGINT) AS code
  FROM ei CROSS JOIN h GROUP BY vec_id
),
coded AS (
  SELECT c.vec_id, e.embedding, c.code
  FROM codes c JOIN embeddings e USING (vec_id)
),
probes AS (
  SELECT q.vec_id AS q_id, q.embedding AS q_emb, xor(q.code, t.m) AS code
  FROM coded q CROSS JOIN (VALUES (0), (1), (2), (4), (8)) AS t(m)
  WHERE q.vec_id < 8
),
cand AS (
  SELECT p.q_id, c.vec_id,
         round(list_cosine_similarity(c.embedding::DOUBLE[], p.q_emb::DOUBLE[]), 6)
           AS similarity
  FROM coded c JOIN probes p USING (code)
)
SELECT q_id, vec_id, similarity, rank FROM (
  SELECT q_id, vec_id, similarity,
         CAST(row_number() OVER (
           PARTITION BY q_id ORDER BY similarity DESC, vec_id ASC) AS BIGINT) AS rank
  FROM cand
) WHERE rank <= 5
"""


QUERIES["ann_lsh_topk"] = q_ann_lsh_topk
ORACLES["ann_lsh_topk"] = _oracle_ann_lsh()


# ------------------------------------ round 3: streaming session windows

def q_stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming gap-sessionization (streaming.windowed.
    session_windows_once): per-user session windows (30-min gap) under
    a 5-min watermark, executed as a real Structured Streaming job in
    APPEND mode — the emitted set is exactly the sessions the final
    watermark closed. The oracle replays the same semantics in SQL:
    island-algorithm sessions plus the watermark cut, including Spark's
    millisecond watermark truncation (event-time stats are tracked in
    ms, so the cut is floor(max_ts_ms) - lateness, not max_ts_us)."""
    import os as _os

    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.windowed import (
        session_windows_once,
    )

    out = session_windows_once(
        spark,
        _os.path.join(sf_dir, "events.parquet"),
        gap="30 minutes",
        lateness="5 minutes",
        group_cols=["user_id"],
        aggs=[
            F.count(F.lit(1)).cast("long").alias("n_events"),
            _scaled_sum(F.col("value"), 10000, "sum_value"),
        ],
    )
    return out.select(
        "user_id",
        epoch_us("session_start").alias("session_start_us"),
        epoch_us("session_end").alias("session_end_us"),
        "n_events",
        "sum_value",
    )


ORACLE_STREAM_SESSIONS = """
WITH mx AS (SELECT max(ts) AS m FROM events),
lagd AS (
  SELECT user_id, ts, value,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS pts
  FROM events
),
marked AS (
  SELECT user_id, ts, value,
         CASE WHEN pts IS NULL OR ts >= pts + INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
  FROM lagd
),
sess AS (
  SELECT user_id, ts, value,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
),
agg AS (
  SELECT user_id, sid,
         epoch_us(min(ts)) AS session_start_us,
         epoch_us(max(ts) + INTERVAL 30 MINUTE) AS session_end_us,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) / 10000.0 AS sum_value
  FROM sess GROUP BY 1, 2
)
SELECT user_id, session_start_us, session_end_us, n_events, sum_value
FROM agg, mx
WHERE session_end_us <= (epoch_us(m) // 1000) * 1000 - 300000000
"""

QUERIES["stream_session_windows"] = q_stream_session_windows
ORACLES["stream_session_windows"] = ORACLE_STREAM_SESSIONS


# ------------------------------------------- round 4: LM quality + sharding

def q_lm_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained unigram LM quality filter
    (operators.text.unigram_logprob_scores): the CCNet-style
    language-model filter — wordcount → top-K vocabulary (distributed
    TakeOrdered, never a global rank window) → broadcast log-prob join
    → per-doc integer-nat mean. Complements the heuristic
    quality_score/repetition_stats/boilerplate_flags filters with the
    standard LM-probability signal from public pipelines."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.text import (
        unigram_logprob_scores,
    )

    docs = parallelize(load_table(spark, sf_dir, "documents"))
    return unigram_logprob_scores(docs, vocab_size=1000, keep_threshold=-8.0)


ORACLE_LM_QUALITY = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
counts AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token),
total AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tot FROM counts),
vocab AS (
  SELECT token, cnt FROM counts
  QUALIFY row_number() OVER (ORDER BY cnt DESC, token ASC) <= 1000
),
lp AS (
  SELECT v.token,
         CAST(round(ln(CAST(v.cnt AS DOUBLE) / t.tot) * 1000000) AS BIGINT) AS lp
  FROM vocab v, total t
),
scored AS (
  SELECT tk.doc_id,
         COALESCE(l.lp,
                  (SELECT CAST(round(ln(0.5 / tot) * 1000000) AS BIGINT)
                   FROM total)) AS lp
  FROM toks tk LEFT JOIN lp l USING (token)
),
agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         round(CAST(CAST(SUM(lp) AS BIGINT) AS DOUBLE) / COUNT(*) / 1000000.0,
               6) AS lm_score
  FROM scored GROUP BY doc_id
)
SELECT doc_id, n_tokens, lm_score, lm_score >= -8.0 AS keep FROM agg
"""

QUERIES["lm_quality_filter"] = q_lm_quality_filter
ORACLES["lm_quality_filter"] = ORACLE_LM_QUALITY


def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic shuffle-shard manifest
    (sources.layout.shard_assignment): content-hash shard membership +
    md5-order intra-shard bounds for the training-data materialization
    step — the manifest a data loader uses to seek/resume. Pins the
    exact assignment the writer (layout.write_sharded) materializes:
    per shard, row count, an id checksum, and the first/last order
    hashes. One shuffle on shard_id."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.sources.layout import (
        shard_assignment,
    )

    docs = parallelize(load_table(spark, sf_dir, "documents").select("doc_id"))
    tagged = shard_assignment(docs, "doc_id", num_shards=16)
    return tagged.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
        F.min("order_hash").alias("first_hash"),
        F.max("order_hash").alias("last_hash"),
    )


def _oracle_shard_manifest() -> str:
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.sources.layout import (
        shard_sql,
    )

    shard, h = shard_sql("doc_id", 16)
    return f"""
WITH tagged AS (
  SELECT doc_id, {shard} AS shard_id, {h} AS order_hash FROM documents
)
SELECT shard_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
       MIN(order_hash) AS first_hash, MAX(order_hash) AS last_hash
FROM tagged GROUP BY shard_id
"""


QUERIES["shard_manifest"] = q_shard_manifest
ORACLES["shard_manifest"] = _oracle_shard_manifest()


def q_lineitem_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational UNPIVOT surface (``DataFrame.unpivot`` — Spark's
    melt): the four lineitem measures become (measure, value) rows,
    then one aggregate per measure. Wide→long is the standard prelude
    to generic per-metric pipelines (drift checks, quality gates) —
    unpivot is a zero-shuffle row-local expansion; only the 4-row agg
    shuffles."""
    l = load_table(spark, sf_dir, "lineitem")
    long_df = l.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="val",
    )
    partials = _partial_scaled_sums(
        long_df, ["measure"], {"_v": (F.col("val"), 100)}
    )
    return partials.groupBy("measure").agg(
        F.sum("_pn").cast("long").alias("n"),
        _dec_total("_v", 100, "sum_val"),
    )


ORACLE_UNPIVOT = """
WITH long_t AS (
  SELECT measure, val FROM (
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax
    FROM lineitem
  ) UNPIVOT (val FOR measure IN (l_quantity, l_extendedprice, l_discount, l_tax))
)
SELECT measure, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(round(val * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_val
FROM long_t GROUP BY measure
"""

QUERIES["lineitem_unpivot"] = q_lineitem_unpivot
ORACLES["lineitem_unpivot"] = ORACLE_UNPIVOT


def q_variant_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT surface (Spark 4 ``parse_json`` /
    ``variant_get``): rebuild a nested JSON document per event
    (``to_json(struct(...))``), parse it into a VARIANT, and extract
    typed fields back out — string, double, and a nested long — then
    aggregate. Proves the variant path inverts the JSON encoder with
    types intact (the lake pattern for schema-on-read columns; the
    reference stores raw API JSON the same way,
    ``src/ingest_places_data.py:50-67``). Map-only until the final
    agg."""
    e = load_table(spark, sf_dir, "events")
    doc = F.to_json(
        F.struct(
            F.col("event_type").alias("t"),
            F.col("value").alias("v"),
            F.struct(
                F.get_json_object("props", "$.k").cast("long").alias("k")
            ).alias("nested"),
        )
    )
    v = F.parse_json(doc)
    return (
        e.select(
            F.variant_get(v, "$.t", "string").alias("t"),
            F.variant_get(v, "$.v", "double").alias("val"),
            F.variant_get(v, "$.nested.k", "long").alias("k"),
        )
        .groupBy("t")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            _scaled_sum(F.col("val"), 10000, "sum_v"),
        )
    )


ORACLE_VARIANT = """
SELECT event_type AS t, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(SUM(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) / 10000.0 AS sum_v
FROM events GROUP BY event_type
"""

QUERIES["variant_props_extract"] = q_variant_props_extract
ORACLES["variant_props_extract"] = ORACLE_VARIANT


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-only ingestion dedup (operators.dedup_near.
    incremental_dedup): screen an incoming batch (doc_id % 10 ≥ 8)
    against the existing corpus (doc_id % 10 < 8) via banded MinHash
    candidates + exact-Jaccard verify; within-batch pairs deliberately
    excluded (that is the ordinary minhash_banded_pairs run). r=2/b=16
    banding ⇒ recall ≈ 1 at the 0.5 threshold, so the exact-Jaccard
    SQL twin is the oracle."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.dedup_near import (
        incremental_dedup,
    )

    docs = load_table(spark, sf_dir, "documents")
    existing = docs.filter(F.pmod("doc_id", F.lit(10)) < 8)
    incoming = docs.filter(F.pmod("doc_id", F.lit(10)) >= 8)
    return incremental_dedup(existing, incoming, threshold=0.5)


ORACLE_INCREMENTAL_DEDUP = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i) g
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle
  WHERE a.doc_id % 10 >= 8 AND b.doc_id % 10 < 8
  GROUP BY 1, 2
),
verified AS (
  SELECT d1, d2,
         round(shared / (s1.n_sh + s2.n_sh - shared), 6) AS jaccard
  FROM shared JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
  WHERE round(shared / (s1.n_sh + s2.n_sh - shared), 6) >= 0.5
),
best AS (
  SELECT v.d1, MIN(v.d2) AS dup_of FROM verified v GROUP BY v.d1
),
bestj AS (
  SELECT b.d1, b.dup_of, v.jaccard
  FROM best b JOIN verified v ON v.d1 = b.d1 AND v.d2 = b.dup_of
),
inc AS (
  SELECT doc_id FROM toks WHERE len(t) >= 3 AND doc_id % 10 >= 8
)
SELECT i.doc_id, bj.dup_of IS NULL AS is_novel, bj.dup_of, bj.jaccard
FROM inc i LEFT JOIN bestj bj ON bj.d1 = i.doc_id
"""

QUERIES["incremental_dedup"] = q_incremental_dedup
ORACLES["incremental_dedup"] = ORACLE_INCREMENTAL_DEDUP


def q_stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-native accreting near-dup dedup
    (streaming.dedup_stream.incremental_dedup_stream): two document
    micro-batches (doc_id % 10 ∈ {6,7} then {8,9}) replay against a
    PERSISTED corpus band index (doc_id % 10 < 6); each batch's novel
    docs join the index before the next batch, so a phase-2 doc can be
    a dup of a phase-1 NOVEL doc but never of a phase-1 rejected one.
    The oracle replays the same accretion sequentially in exact-Jaccard
    SQL (r=2/b=16 recall ≈ 1, the incremental_dedup argument)."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.dedup_stream import (
        incremental_dedup_stream,
    )

    docs = load_table(spark, sf_dir, "documents")
    m = F.pmod("doc_id", F.lit(10))
    out, stats = incremental_dedup_stream(
        spark,
        docs.filter(m < 6),
        [docs.filter(m.isin(6, 7)), docs.filter(m.isin(8, 9))],
        threshold=0.5,
    )
    if stats["data_batches"] != 2:
        raise RuntimeError(f"expected 2 micro-batches, got {stats}")
    return out


# Sequential accretion modeled phase by phase: phase 1 (6,7) screens
# the corpus (<6) only; phase 2 (8,9) screens corpus ∪ phase-1 NOVEL
# docs. dup_of = smallest matching index id; docs shorter than 3
# tokens never shingle and never enter the index (both engines).
ORACLE_STREAM_INCREMENTAL_DEDUP = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i) g
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle
  WHERE a.doc_id % 10 >= 6 AND b.doc_id % 10 < 8
  GROUP BY 1, 2
),
ver AS (
  SELECT d1, d2,
         round(shared / (s1.n_sh + s2.n_sh - shared), 6) AS jaccard
  FROM shared JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
  WHERE round(shared / (s1.n_sh + s2.n_sh - shared), 6) >= 0.5
),
best1 AS (
  SELECT d1, MIN(d2) AS dup_of FROM ver
  WHERE d1 % 10 IN (6, 7) AND d2 % 10 < 6 GROUP BY d1
),
novel1 AS (
  SELECT doc_id FROM toks
  WHERE len(t) >= 3 AND doc_id % 10 IN (6, 7)
    AND doc_id NOT IN (SELECT d1 FROM best1)
),
best2 AS (
  SELECT d1, MIN(d2) AS dup_of FROM ver
  WHERE d1 % 10 IN (8, 9)
    AND (d2 % 10 < 6 OR d2 IN (SELECT doc_id FROM novel1))
  GROUP BY d1
),
best AS (SELECT * FROM best1 UNION ALL SELECT * FROM best2),
bestj AS (
  SELECT b.d1, b.dup_of, v.jaccard
  FROM best b JOIN ver v ON v.d1 = b.d1 AND v.d2 = b.dup_of
),
inc AS (
  SELECT doc_id FROM toks WHERE len(t) >= 3 AND doc_id % 10 >= 6
)
SELECT i.doc_id, bj.dup_of IS NULL AS is_novel, bj.dup_of, bj.jaccard
FROM inc i LEFT JOIN bestj bj ON bj.d1 = i.doc_id
"""

QUERIES["stream_incremental_dedup"] = q_stream_incremental_dedup
ORACLES["stream_incremental_dedup"] = ORACLE_STREAM_INCREMENTAL_DEDUP


def q_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality-eval harness: recall@5 of the sign-LSH bucketed path
    (operators.similarity.lsh_topk) against the exact brute-force
    top-5 (cosine_topk), per query vector. The eval every production
    ANN deployment runs before trading exactness for pruning — here
    with a fully deterministic oracle because BOTH retrieval paths are
    engine-exact (integer hyperplanes, 6dp-rounded cosine, total-order
    tiebreaks). Both branches share the corpus scan; the intersection
    join is on (q_id, vec_id) — candidate-set sized."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.similarity import (
        cosine_topk,
        lsh_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    exact = cosine_topk(emb, q, k=5).select("q_id", "vec_id")
    approx = lsh_topk(emb, q, k=5, n_planes=4, dim=64).select("q_id", "vec_id")
    hits = (
        approx.join(exact, ["q_id", "vec_id"])
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        q.select("q_id")
        .join(hits, "q_id", "left")
        .select(
            "q_id",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.round(F.coalesce("n_hits", F.lit(0)) / 5.0, 6).alias("recall_at_5"),
        )
    )


def _ann_eval_ctes() -> str:
    """Shared DuckDB CTE block for the ANN evaluation oracles: exact
    brute-force top-5 and the integer-exact sign-LSH multi-probe top-5
    (both with their deterministic rank), for queries vec_id < 8 —
    mirrors the Spark side's cosine_topk / lsh_topk(n_planes=4,
    dim=64) exactly."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.similarity import (
        hyperplanes,
    )

    planes = hyperplanes(4, 64)
    plane_rows = ",\n    ".join(
        "({}, [{}])".format(r, ", ".join(str(c) for c in h))
        for r, h in enumerate(planes)
    )
    return f"""
WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 8),
exact_scored AS (
  SELECT q.q_id, e.vec_id,
         round(list_cosine_similarity(e.embedding::DOUBLE[], q.q_emb::DOUBLE[]), 6) AS similarity
  FROM embeddings e CROSS JOIN q
),
exact_top AS (
  SELECT q_id, vec_id, rank FROM (
    SELECT q_id, vec_id,
           row_number() OVER (PARTITION BY q_id ORDER BY similarity DESC, vec_id ASC) AS rank
    FROM exact_scored
  ) WHERE rank <= 5
),
ei AS (
  SELECT vec_id, embedding,
         [CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) FOR x IN embedding] AS e
  FROM embeddings
),
h(r, hv) AS (VALUES
    {plane_rows}
),
codes AS (
  SELECT vec_id,
         CAST(SUM(CASE WHEN list_dot_product(ei.e, h.hv) > 0
                       THEN (1 << h.r) ELSE 0 END) AS BIGINT) AS code
  FROM ei CROSS JOIN h GROUP BY vec_id
),
coded AS (
  SELECT c.vec_id, e.embedding, c.code
  FROM codes c JOIN embeddings e USING (vec_id)
),
probes AS (
  SELECT qq.vec_id AS q_id, qq.embedding AS q_emb, xor(qq.code, t.m) AS code
  FROM coded qq CROSS JOIN (VALUES (0), (1), (2), (4), (8)) AS t(m)
  WHERE qq.vec_id < 8
),
cand AS (
  SELECT p.q_id, c.vec_id,
         round(list_cosine_similarity(c.embedding::DOUBLE[], p.q_emb::DOUBLE[]), 6)
           AS similarity
  FROM coded c JOIN probes p USING (code)
),
approx_top AS (
  SELECT q_id, vec_id, rank FROM (
    SELECT q_id, vec_id,
           row_number() OVER (PARTITION BY q_id ORDER BY similarity DESC, vec_id ASC) AS rank
    FROM cand
  ) WHERE rank <= 5
)"""


def _oracle_ann_recall() -> str:
    return (
        _ann_eval_ctes()
        + """,
hits AS (
  SELECT a.q_id, CAST(COUNT(*) AS BIGINT) AS n_hits
  FROM approx_top a JOIN exact_top e ON a.q_id = e.q_id AND a.vec_id = e.vec_id
  GROUP BY a.q_id
)
SELECT q.q_id, COALESCE(h2.n_hits, 0) AS n_hits,
       round(COALESCE(h2.n_hits, 0) / 5.0, 6) AS recall_at_5
FROM q LEFT JOIN hits h2 ON q.q_id = h2.q_id
"""
    )


QUERIES["ann_recall_eval"] = q_ann_recall_eval
ORACLES["ann_recall_eval"] = _oracle_ann_recall()


def q_ann_ranking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@5 + MRR of the sign-LSH multi-probe ranking against the
    exact brute-force top-5 (operators.similarity.ranking_metrics) —
    the ranking-quality companion to ann_recall_eval's set-overlap
    recall: same truth set, but graded by WHERE the hits landed.
    Scaled-integer log2 discounts are built once in Python and inlined
    into both engines, so DCG is exact BIGINT arithmetic end to end."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.similarity import (
        cosine_topk,
        lsh_topk,
        ranking_metrics,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    exact = cosine_topk(emb, q, k=5)
    approx = lsh_topk(emb, q, k=5, n_planes=4, dim=64)
    return (
        ranking_metrics(exact, approx, k=5)
        .withColumnRenamed("ndcg_at_k", "ndcg_at_5")
        .withColumnRenamed("avg_prec_at_k", "avg_prec_at_5")
    )


def _oracle_ann_ranking() -> str:
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.similarity import (
        discount_table,
    )

    import math

    disc = discount_table(5)
    prefix = [sum(disc[: i + 1]) for i in range(5)]
    ap_lcm = math.lcm(1, 2, 3, 4, 5)
    disc_lit = "[" + ", ".join(str(d) for d in disc) + "]"
    prefix_lit = "[" + ", ".join(str(p) for p in prefix) + "]"
    inv_lit = "[" + ", ".join(str(ap_lcm // i) for i in range(1, 6)) + "]"
    return (
        _ann_eval_ctes()
        + f""",
n_rel AS (
  SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_rel FROM exact_top GROUP BY 1),
marked AS (
  SELECT a.q_id, a.rank,
         CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END AS is_rel
  FROM approx_top a
  LEFT JOIN exact_top e ON a.q_id = e.q_id AND a.vec_id = e.vec_id),
cum AS (
  SELECT q_id, rank, is_rel,
         SUM(is_rel) OVER (PARTITION BY q_id ORDER BY rank
                           ROWS UNBOUNDED PRECEDING) AS hits
  FROM marked),
per_q AS (
  SELECT q_id,
         CAST(SUM(CASE WHEN is_rel = 1 THEN ({disc_lit})[rank]
                       ELSE 0 END) AS BIGINT) AS dcg_scaled,
         CAST(SUM(CASE WHEN is_rel = 1 THEN hits * ({inv_lit})[rank]
                       ELSE 0 END) AS BIGINT) AS ap_scaled,
         MIN(CASE WHEN is_rel = 1 THEN rank END) AS first_rank
  FROM cum GROUP BY 1)
SELECT n.q_id, n.n_rel,
       COALESCE(p.dcg_scaled, 0) AS dcg_scaled,
       COALESCE(p.ap_scaled, 0) AS ap_scaled,
       CAST(COALESCE(p.first_rank, 0) AS BIGINT) AS first_rel_rank,
       CASE WHEN COALESCE(p.first_rank, 0) > 0
            THEN round(CAST(1.0 AS DOUBLE) / p.first_rank, 6)
            ELSE 0.0 END AS mrr,
       round(CAST(COALESCE(p.dcg_scaled, 0) AS DOUBLE)
             / CAST(({prefix_lit})[LEAST(n.n_rel, 5)] AS DOUBLE), 6)
         AS ndcg_at_5,
       round(CAST(COALESCE(p.ap_scaled, 0) AS DOUBLE)
             / CAST({ap_lcm} * LEAST(n.n_rel, 5) AS DOUBLE), 6)
         AS avg_prec_at_5
FROM n_rel n LEFT JOIN per_q p ON n.q_id = p.q_id
"""
    )


QUERIES["ann_ranking_quality"] = q_ann_ranking_quality
ORACLES["ann_ranking_quality"] = _oracle_ann_ranking()


def q_lateral_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery surface (ANSI lateral join, Spark 4
    SQL): per customer, the top-2 orders by price via an ORDER BY …
    LIMIT subquery that references the outer row. Catalyst rewrites
    the correlated limit into a ranked window over one join — the
    declarative form of top_customer_per_nation's explicit window;
    pinning it proves the SQL-surface parity, not a new plan shape."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("lat_customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("lat_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM lat_customer c, LATERAL (
          SELECT o_orderkey, o_totalprice FROM lat_orders o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2
        ) t
        WHERE c.c_mktsegment = 'BUILDING'
        """
    )


ORACLE_LATERAL = """
SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
FROM customer c, LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2
) t
WHERE c.c_mktsegment = 'BUILDING'
"""

QUERIES["lateral_top_orders"] = q_lateral_top_orders
ORACLES["lateral_top_orders"] = ORACLE_LATERAL


def q_recursive_doc_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE surface (Spark 4 ``WITH RECURSIVE``): documents
    form an implicit tree (parent = doc_id // 10, root 0); the
    recursion walks every doc up to the root, emitting depth and root.
    The iterative-algorithm class (graph walks, BOM explosions,
    org charts) expressed declaratively — the engine materializes one
    step per level, so depth is bounded by the tree height, not the
    row count."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("rec_docs")
    return spark.sql(
        """
        WITH RECURSIVE walk(doc_id, anc, depth) AS (
          SELECT doc_id, doc_id, 0 FROM rec_docs
          UNION ALL
          SELECT doc_id, anc DIV 10, depth + 1 FROM walk WHERE anc > 0
        )
        SELECT doc_id,
               CAST(MAX(depth) AS BIGINT) AS depth_to_root,
               CAST(COUNT(*) AS BIGINT) AS n_ancestors
        FROM walk GROUP BY doc_id
        """
    )


ORACLE_RECURSIVE = """
WITH RECURSIVE walk(doc_id, anc, depth) AS (
  SELECT doc_id, doc_id, 0 FROM documents
  UNION ALL
  SELECT doc_id, anc // 10, depth + 1 FROM walk WHERE anc > 0
)
SELECT doc_id,
       CAST(MAX(depth) AS BIGINT) AS depth_to_root,
       CAST(COUNT(*) AS BIGINT) AS n_ancestors
FROM walk GROUP BY doc_id
"""

QUERIES["recursive_doc_tree"] = q_recursive_doc_tree
ORACLES["recursive_doc_tree"] = ORACLE_RECURSIVE


def q_token_budget_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget apportionment (operators.sampling.apportion_budget):
    split a 1M-token training budget across sources exactly
    proportionally to the sqrt-temperature mixture weights (Hamilton /
    largest-remainder, all-BIGINT arithmetic ⇒ sum(alloc) == budget
    exactly). Corpus work is one agg down to |sources| rows; the
    apportionment windows run on the group table only."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.sampling import (
        apportion_budget,
        mixture_weights,
    )

    docs = parallelize(load_table(spark, sf_dir, "documents"))
    w = mixture_weights(
        docs, ["source"], F.size(F.split(F.col("text"), " ")).cast("long")
    )
    out = apportion_budget(w, ["source"], budget=1_000_000)
    return out.select("source", F.col("w_scaled").cast("long"), "alloc_tokens")


ORACLE_APPORTION = """
WITH g AS (
  SELECT source,
         CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
w AS (
  SELECT source, CAST(round(sqrt(n_tokens) * 1000000) AS BIGINT) AS w_scaled FROM g
),
t AS (SELECT CAST(SUM(w_scaled) AS BIGINT) AS tot FROM w),
f AS (
  SELECT w.source, w.w_scaled,
         (w.w_scaled * 1000000) // t.tot AS fl,
         (w.w_scaled * 1000000) % t.tot AS rem
  FROM w, t
),
r AS (
  SELECT source, w_scaled, fl, rem,
         row_number() OVER (ORDER BY rem DESC, source ASC) AS rk,
         CAST(1000000 - SUM(fl) OVER () AS BIGINT) AS leftover
  FROM f
)
SELECT source, w_scaled,
       CAST(fl + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc_tokens
FROM r
"""

QUERIES["token_budget_apportionment"] = q_token_budget_apportionment
ORACLES["token_budget_apportionment"] = ORACLE_APPORTION


def q_normalized_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-canonical dedup keys (operators.text.
    normalized_docs): lowercase → strip punctuation → collapse
    whitespace, fingerprint the canonical form. Exact dedup keyed on
    this catches case/punctuation-only mutations that raw-byte md5
    misses. Map-only scan, RE2-portable regexes."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.text import (
        normalized_docs,
    )

    docs = parallelize(load_table(spark, sf_dir, "documents"))
    return normalized_docs(docs).select(
        "doc_id", "norm_fingerprint", "n_norm_tokens"
    )


ORACLE_NORM_FP = """
WITH n AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                             ' +', ' ', 'g')) AS norm_text
  FROM documents
)
SELECT doc_id, md5(norm_text) AS norm_fingerprint,
       CAST(len(string_split(norm_text, ' ')) AS BIGINT) AS n_norm_tokens
FROM n
"""

QUERIES["normalized_fingerprints"] = q_normalized_fingerprints
ORACLES["normalized_fingerprints"] = ORACLE_NORM_FP


def q_doc_feature_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused featurization (operators.text.doc_feature_matrix): every
    cheap per-doc quality signal in one projection over one scan —
    the row a quality classifier trains on. Separate signal queries
    would rescan the corpus once each; fused they share the scan and
    stay in whole-stage codegen."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.text import (
        doc_feature_matrix,
    )

    docs = parallelize(load_table(spark, sf_dir, "documents"))
    return doc_feature_matrix(docs)


_STOP_SQL_FEAT = "'the', 'a', 'and', 'of', 'is'"

ORACLE_FEATURE_MATRIX = f"""
WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(length(text) AS BIGINT) AS n_chars,
       round(CAST(len(list_distinct(toks)) AS BIGINT) / len(toks), 6) AS type_token_ratio,
       round(CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) / len(toks), 6) AS avg_token_len,
       round(CAST(len(list_filter(toks, x -> x IN ({_STOP_SQL_FEAT}))) AS BIGINT) / len(toks), 6) AS stop_ratio,
       round(CAST(len(list_filter(toks, x -> regexp_full_match(x, '[0-9]+'))) AS BIGINT) / len(toks), 6) AS digit_token_ratio,
       md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS text_fp
FROM t
"""

QUERIES["doc_feature_matrix"] = q_doc_feature_matrix
ORACLES["doc_feature_matrix"] = ORACLE_FEATURE_MATRIX


def q_jaccard_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity-mass histogram over the verified near-dup pair set
    (threshold 0.2, 0.05-wide buckets): the distribution an engineer
    reads before picking a dedup threshold — how much pair mass sits
    at each similarity level. The corpus-sized work is the same
    prefix-filtered pair generation as ngram_jaccard_pairs; the
    histogram is one tiny agg on the pair set."""
    pairs = ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.2
    )
    bucket = F.floor(F.col("jaccard") * 20).cast("long")
    return (
        pairs.groupBy(bucket.alias("bucket_idx"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .select(
            "bucket_idx",
            F.round(F.col("bucket_idx") / 20.0, 6).alias("bucket_lo"),
            "n_pairs",
        )
    )


ORACLE_JACCARD_HIST = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i) g
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT round(shared / (s1.n_sh + s2.n_sh - shared), 6) AS jaccard
  FROM shared JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
  WHERE round(shared / (s1.n_sh + s2.n_sh - shared), 6) >= 0.2
)
SELECT CAST(floor(jaccard * 20) AS BIGINT) AS bucket_idx,
       round(CAST(floor(jaccard * 20) AS BIGINT) / 20.0, 6) AS bucket_lo,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM pairs GROUP BY 1
"""

QUERIES["jaccard_histogram"] = q_jaccard_histogram
ORACLES["jaccard_histogram"] = ORACLE_JACCARD_HIST


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real PNG resize stage (operators.multimodal.resize_png via
    mapInPandas): inflate IDAT → un-filter → nearest-neighbor
    downsample ×2 → re-encode, then decode the RESIZED bytes back.
    The oracle predicts the post-resize fields arithmetically
    (ceil-divided dims, preserved constant-pixel mean), so a hash
    match proves actual pixel-level work happened twice (resize +
    decode). Two map-only stages, bytes never leave the partition."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.multimodal import (
        decode_media,
        resize_media,
    )
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.multimodal import (
        synthesize_media,
    )

    d = parallelize(load_table(spark, sf_dir, "documents").select("doc_id"))
    pngs = synthesize_media(d.filter(F.pmod("doc_id", F.lit(2)) == 0))
    resized = resize_media(pngs, factor=2)
    return decode_media(resized).select(
        "doc_id", "width", "height", F.round("mean_value", 6).alias("mean_value")
    )


ORACLE_MM_RESIZE = """
SELECT doc_id,
       ((1 + doc_id % 64) + 1) // 2 AS width,
       ((1 + (doc_id // 64) % 64) + 1) // 2 AS height,
       CAST(doc_id % 256 AS DOUBLE) AS mean_value
FROM documents WHERE doc_id % 2 = 0
"""

QUERIES["multimodal_resize"] = q_multimodal_resize
ORACLES["multimodal_resize"] = ORACLE_MM_RESIZE


def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling stage over multi-frame clip containers
    (operators.multimodal.frame_sample): walk the container, decode
    every 2nd frame, one output row per sampled frame — the video
    pipeline's temporal downsampling. Frame fields are arithmetic in
    (doc_id, frame_idx) so the oracle enumerates the same sampled set
    with generate_series. Map-only; a clip's frames never reassemble."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.multimodal import (
        frame_sample,
        synthesize_clips,
    )

    d = parallelize(load_table(spark, sf_dir, "documents").select("doc_id"))
    clips = synthesize_clips(d)
    return frame_sample(clips, every=2).select(
        "doc_id", "frame_idx", "width", "height",
        F.round("mean_value", 6).alias("mean_value"),
    )


ORACLE_MM_FRAMES = """
SELECT d.doc_id, g.i AS frame_idx,
       1 + (d.doc_id * 8 + g.i) % 64 AS width,
       1 + ((d.doc_id * 8 + g.i) // 64) % 64 AS height,
       CAST((d.doc_id * 8 + g.i) % 256 AS DOUBLE) AS mean_value
FROM documents d,
     LATERAL (SELECT unnest(generate_series(0, 2 + d.doc_id % 6 - 1)) AS i) g
WHERE g.i % 2 = 0
"""

QUERIES["multimodal_frame_sample"] = q_multimodal_frame_sample
ORACLES["multimodal_frame_sample"] = ORACLE_MM_FRAMES


def q_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment (streaming.joins.stream_static_enrich_once):
    the event stream joins the broadcast customer dim per micro-batch
    (no state store for the static side) and aggregates per market
    segment in complete mode — replay-deterministic, so the oracle is
    the plain batch join+agg. This is the reference's only join shape
    (stream × places lookup) executed as a real streaming job."""
    import os as _os

    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.joins import (
        stream_static_enrich_once,
    )

    dim = load_table(spark, sf_dir, "customer")
    return stream_static_enrich_once(
        spark, _os.path.join(sf_dir, "events.parquet"), dim
    )


ORACLE_STREAM_STATIC = """
SELECT c.c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(round(e.value * 10000) AS BIGINT)) AS BIGINT) / 10000.0 AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment
"""

QUERIES["stream_static_enrich"] = q_stream_static_enrich
ORACLES["stream_static_enrich"] = ORACLE_STREAM_STATIC


def q_large_quantity_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (IN over a grouped-HAVING subquery): orders
    whose total lineitem quantity clears a threshold, re-joined for
    reporting. Catalyst decorrelates the IN into a semi-join against
    the pre-aggregated subquery — the fact table shuffles once on the
    order key and the HAVING filter collapses it before the join."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("q18_orders")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("q18_lineitem")
    return spark.sql(
        """
        SELECT o.o_orderkey, o.o_totalprice,
               CAST(SUM(CAST(ROUND(l.l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0
                 AS total_qty
        FROM q18_orders o JOIN q18_lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderkey IN (
          SELECT l_orderkey FROM q18_lineitem
          GROUP BY l_orderkey
          HAVING SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) > 10000
        )
        GROUP BY o.o_orderkey, o.o_totalprice
        """
    )


ORACLE_Q18 = """
SELECT o.o_orderkey, o.o_totalprice,
       CAST(SUM(CAST(ROUND(l.l_quantity * 100) AS BIGINT)) AS BIGINT) / 100.0
         AS total_qty
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
          HAVING SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) > 10000
)
GROUP BY o.o_orderkey, o.o_totalprice
"""

QUERIES["large_quantity_orders"] = q_large_quantity_orders
ORACLES["large_quantity_orders"] = ORACLE_Q18


def q_sole_returning_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (correlated EXISTS + NOT EXISTS): suppliers who
    shipped a returned line in a multi-supplier order where NO other
    supplier's line was returned — the classic double-correlated
    anti-pattern Catalyst lowers to one semi- and one anti-join on the
    order key. Counts per supplier."""
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView("q21_supplier")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("q21_lineitem")
    return spark.sql(
        """
        SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        FROM q21_supplier s
        JOIN q21_lineitem l1
          ON l1.l_suppkey = s.s_suppkey AND l1.l_returnflag = 'R'
        WHERE EXISTS (
          SELECT 1 FROM q21_lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey
        )
        AND NOT EXISTS (
          SELECT 1 FROM q21_lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_returnflag = 'R'
        )
        GROUP BY s.s_name
        """
    )


ORACLE_Q21 = """
SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM supplier s
JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey AND l1.l_returnflag = 'R'
WHERE EXISTS (
  SELECT 1 FROM lineitem l2
  WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
)
AND NOT EXISTS (
  SELECT 1 FROM lineitem l3
  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
    AND l3.l_returnflag = 'R'
)
GROUP BY s.s_name
"""

QUERIES["sole_returning_supplier"] = q_sole_returning_supplier
ORACLES["sole_returning_supplier"] = ORACLE_Q21


def q_min_price_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (correlated scalar subquery): parts priced at
    the minimum of their type class. Catalyst decorrelates the scalar
    subquery into an aggregate + join on the correlation key — one
    shuffle on p_type, no per-row re-execution."""
    load_table(spark, sf_dir, "part").createOrReplaceTempView("q2_part")
    return spark.sql(
        """
        SELECT p.p_partkey, p.p_name, p.p_type, p.p_retailprice
        FROM q2_part p
        WHERE p.p_retailprice = (
          SELECT MIN(p2.p_retailprice) FROM q2_part p2
          WHERE p2.p_type = p.p_type
        )
        """
    )


ORACLE_Q2MIN = """
SELECT p.p_partkey, p.p_name, p.p_type, p.p_retailprice
FROM part p
WHERE p.p_retailprice = (
  SELECT MIN(p2.p_retailprice) FROM part p2 WHERE p2.p_type = p.p_type
)
"""

QUERIES["min_price_per_type"] = q_min_price_per_type
ORACLES["min_price_per_type"] = ORACLE_Q2MIN


def q_pandas_api_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas-API-on-Spark surface (``pyspark.pandas``): the
    distributed DataFrame dialect data scientists reach for first —
    groupby/size/sort in pandas idiom, lowered by the same Catalyst
    plans as the SQL form (the oracle). Restricted to integer counts
    (float pandas aggs would be partition-order-dependent)."""
    psdf = load_table(spark, sf_dir, "events").pandas_api()
    out = (
        psdf.groupby(["event_type", "user_id"])
        .size()
        .rename("n_events")
        .reset_index()
    )
    return out.to_spark().select(
        "event_type", "user_id", F.col("n_events").cast("long")
    )


ORACLE_PANDAS_API = """
SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS n_events
FROM events GROUP BY event_type, user_id
"""

QUERIES["pandas_api_counts"] = q_pandas_api_counts
ORACLES["pandas_api_counts"] = ORACLE_PANDAS_API


def q_corpus_curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation v2, chaining the round-4 operators:
    normalize (text.normalize_text) → exact-dedup on the CANONICAL
    fingerprint (catches case/punct-only dups) → corpus-trained
    unigram LM quality filter on the deduped corpus
    (text.unigram_logprob_scores) → per-source report. One corpus
    scan feeds normalization+fingerprint; the dedup window shuffles
    on the fingerprint; LM training aggregates the already-deduped
    corpus. Per-doc lm_scores aggregate as scaled integers so the
    mean is partition-order-independent."""
    from pyspark.sql import Window

    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.text import (
        normalized_docs,
        unigram_logprob_scores,
    )

    docs = parallelize(load_table(spark, sf_dir, "documents"))
    norm = normalized_docs(docs, id_cols=["doc_id", "source"]).select(
        "doc_id", "source", "norm_text", "norm_fingerprint"
    )
    w = Window.partitionBy("norm_fingerprint").orderBy("doc_id")
    deduped = (
        norm.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "norm_fingerprint")
        # materialized ONCE: the LM filter reads this three times
        # (vocab counts, scoring, globals) and the report joins back —
        # without the checkpoint the normalize+dedup window re-executes
        # per consumer (8 shuffles -> 4 in the audit)
        .localCheckpoint(eager=True)
    )
    lm = unigram_logprob_scores(
        deduped, text_col="norm_text", vocab_size=1000, keep_threshold=-8.0
    )
    kept = lm.filter("keep").join(
        deduped.select("doc_id", "source"), "doc_id"
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.round(
            F.sum(F.round(F.col("lm_score") * 1_000_000).cast("long"))
            .cast("double")
            / F.count(F.lit(1))
            / 1_000_000.0,
            6,
        ).alias("avg_lm_score"),
    )


ORACLE_CURATION_V2 = """
WITH norm AS (
  SELECT doc_id, source,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                             ' +', ' ', 'g')) AS ntext
  FROM documents
),
dedup AS (
  SELECT doc_id, source, ntext FROM norm
  QUALIFY row_number() OVER (PARTITION BY md5(ntext) ORDER BY doc_id) = 1
),
toks AS (SELECT doc_id, unnest(string_split(ntext, ' ')) AS token FROM dedup),
counts AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token),
total AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tot FROM counts),
vocab AS (
  SELECT token, cnt FROM counts
  QUALIFY row_number() OVER (ORDER BY cnt DESC, token ASC) <= 1000
),
lp AS (
  SELECT v.token,
         CAST(round(ln(CAST(v.cnt AS DOUBLE) / t.tot) * 1000000) AS BIGINT) AS lp
  FROM vocab v, total t
),
scored AS (
  SELECT tk.doc_id,
         COALESCE(l.lp,
                  (SELECT CAST(round(ln(0.5 / tot) * 1000000) AS BIGINT)
                   FROM total)) AS lp
  FROM toks tk LEFT JOIN lp l USING (token)
),
per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         round(CAST(CAST(SUM(lp) AS BIGINT) AS DOUBLE) / COUNT(*) / 1000000.0,
               6) AS lm_score
  FROM scored GROUP BY doc_id
),
kept AS (
  SELECT p.doc_id, p.n_tokens, p.lm_score, d.source
  FROM per_doc p JOIN dedup d USING (doc_id)
  WHERE p.lm_score >= -8.0
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       round(CAST(CAST(SUM(CAST(round(lm_score * 1000000) AS BIGINT)) AS BIGINT)
                  AS DOUBLE) / COUNT(*) / 1000000.0, 6) AS avg_lm_score
FROM kept GROUP BY source
"""

QUERIES["corpus_curation_v2"] = q_corpus_curation_v2
ORACLES["corpus_curation_v2"] = ORACLE_CURATION_V2


def q_grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS surface (the general form behind ROLLUP/CUBE,
    both already oracled): revenue by (returnflag), by (linestatus),
    and the grand total in ONE pass — Catalyst expands the sets into
    a single Expand + hash aggregate, so the fact table is scanned
    once, not once per set. grouping_id() disambiguates the null
    grouping keys."""
    # two-phase exact sum (_partial_scaled_sums): LONG partials per
    # (flag, status, partition), then the grouping-sets pass runs over
    # the tiny partial table with a DECIMAL(38,0) total — scale-exact
    # (a BIGINT SUM raises under ANSI at ~3e10 rows/group) without
    # decimal agg cost on the fact rows
    _partial_scaled_sums(
        load_table(spark, sf_dir, "lineitem"),
        ["l_returnflag", "l_linestatus"],
        {"_bp": (F.col("l_extendedprice"), 100)},
    ).createOrReplaceTempView("gs_partials")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
               CAST(SUM(_pn) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(_bp AS DECIMAL(38,0))) AS DOUBLE)
                 / 100.0 AS revenue
        FROM gs_partials
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


ORACLE_GROUPING_SETS = """
SELECT l_returnflag, l_linestatus,
       CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         / 100.0 AS revenue
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""

QUERIES["grouping_sets_revenue"] = q_grouping_sets_revenue
ORACLES["grouping_sets_revenue"] = ORACLE_GROUPING_SETS


def q_brands_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (``listagg`` / ``string_agg``): the
    distinct brands per part type as one deterministic comma-joined
    string (explicit WITHIN-GROUP order — an unordered listagg would
    be partition-order-dependent and could never hash-match)."""
    p = load_table(spark, sf_dir, "part")
    return (
        p.select("p_type", "p_brand")
        .distinct()
        .groupBy("p_type")
        .agg(
            F.count(F.lit(1)).alias("n_brands"),
            F.expr(
                "listagg(p_brand, ',') WITHIN GROUP (ORDER BY p_brand)"
            ).alias("brands"),
        )
    )


ORACLE_LISTAGG = """
WITH d AS (SELECT DISTINCT p_type, p_brand FROM part)
SELECT p_type, CAST(COUNT(*) AS BIGINT) AS n_brands,
       string_agg(p_brand, ',' ORDER BY p_brand) AS brands
FROM d GROUP BY p_type
"""

QUERIES["brands_listagg"] = q_brands_listagg
ORACLES["brands_listagg"] = ORACLE_LISTAGG


def q_safe_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI error-safe function surface (``try_divide`` / ``try_cast``
    / ``try_to_timestamp``): expressions that yield NULL instead of
    raising under ANSI mode — the lake-ingest posture for dirty data
    (the reference wraps every cast in try/except row loops,
    ``src/process_insert_update_weather_data.py:96-118``; here the
    nulls flow through one vectorized pass and are counted, not
    crashed on)."""
    e = load_table(spark, sf_dir, "events")
    per_row = e.select(
        "event_id",
        F.try_divide(F.col("value"), F.col("user_id") % 3).alias("div3"),
        F.expr("TRY_CAST(get_json_object(props, '$.k') AS BIGINT)").alias("k_long"),
        F.expr("TRY_CAST(event_type AS BIGINT)").alias("bad_cast"),
    )
    return per_row.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("div3").alias("n_divisible"),
        F.count("k_long").alias("n_k"),
        F.count("bad_cast").alias("n_bad_cast"),
        F.sum(F.round(F.col("div3") * 10000).cast("long")).alias("_s"),
    ).select(
        "n_rows",
        "n_divisible",
        "n_k",
        "n_bad_cast",
        (F.col("_s") / 10000.0).alias("sum_div3"),
    )


ORACLE_SAFE_ARITH = """
WITH p AS (
  SELECT event_id,
         CASE WHEN user_id % 3 <> 0 THEN value / (user_id % 3) END AS div3,
         TRY_CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS BIGINT) AS k_long,
         TRY_CAST(event_type AS BIGINT) AS bad_cast
  FROM events
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(div3) AS BIGINT) AS n_divisible,
       CAST(COUNT(k_long) AS BIGINT) AS n_k,
       CAST(COUNT(bad_cast) AS BIGINT) AS n_bad_cast,
       CAST(SUM(CAST(round(div3 * 10000) AS BIGINT)) AS BIGINT) / 10000.0 AS sum_div3
FROM p
"""

QUERIES["safe_arithmetic"] = q_safe_arithmetic
ORACLES["safe_arithmetic"] = ORACLE_SAFE_ARITH


def q_rate_limit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time token-bucket rate limiting (operators.ratelimit.
    token_bucket_flags): per-user bucket (capacity 3, refill 1
    token/hour of EVENT time) replayed deterministically over the
    event sequence; report admitted vs throttled counts per user. The
    recurrence is integer micro-tokens, so the DuckDB oracle replays
    the identical decision sequence with a recursive CTE. One shuffle
    on the key; groups replay sequentially, keys in parallel."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.ratelimit import (
        token_bucket_flags,
    )

    e = load_table(spark, sf_dir, "events")
    flags = token_bucket_flags(
        e, capacity_tokens=3, refill_us_per_token=3_600_000_000
    )
    return flags.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_if(F.col("allowed")).alias("n_allowed"),
        F.count_if(~F.col("allowed")).alias("n_throttled"),
    )


ORACLE_RATE_LIMIT = """
WITH RECURSIVE seq AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
rec(user_id, rn, ts_us, tokens, allowed) AS (
  SELECT user_id, rn, ts_us,
         3000000 - 1000000, TRUE
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.user_id, s.rn, s.ts_us,
         CASE WHEN least(3000000, r.tokens + (s.ts_us - r.ts_us) // 3600) >= 1000000
              THEN least(3000000, r.tokens + (s.ts_us - r.ts_us) // 3600) - 1000000
              ELSE least(3000000, r.tokens + (s.ts_us - r.ts_us) // 3600) END,
         least(3000000, r.tokens + (s.ts_us - r.ts_us) // 3600) >= 1000000
  FROM rec r JOIN seq s ON s.user_id = r.user_id AND s.rn = r.rn + 1
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(CASE WHEN allowed THEN 1 END) AS BIGINT) AS n_allowed,
       CAST(COUNT(CASE WHEN NOT allowed THEN 1 END) AS BIGINT) AS n_throttled
FROM rec GROUP BY user_id
"""

QUERIES["rate_limit_audit"] = q_rate_limit_audit
ORACLES["rate_limit_audit"] = ORACLE_RATE_LIMIT


def q_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML surface (Spark 4 ``from_xml``): build an XML document per
    order from its columns, parse it back with a declared schema, and
    aggregate the extracted typed fields — proving the XML path
    inverts the encoder with types intact (same round-trip pattern as
    variant_props_extract; the oracle computes from the raw columns).
    Map-only until the final agg."""
    o = load_table(spark, sf_dir, "orders")
    xml = F.concat(
        F.lit("<order><key>"), F.col("o_orderkey"),
        F.lit("</key><status>"), F.col("o_orderstatus"),
        F.lit("</status><total>"), F.format_number(F.col("o_totalprice"), 2),
        F.lit("</total></order>"),
    )
    parsed = F.from_xml(
        F.regexp_replace(xml, ",", ""),
        "key BIGINT, status STRING, total DOUBLE",
    )
    return (
        o.select(parsed.alias("x"))
        .groupBy(F.col("x.status").alias("status"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("x.key").cast("long").alias("key_sum"),
            _scaled_sum(F.col("x.total"), 100, "total_sum"),
        )
    )


ORACLE_XML = """
SELECT o_orderstatus AS status, CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       CAST(SUM(CAST(round(CAST(printf('%.2f', o_totalprice) AS DOUBLE) * 100)
                AS BIGINT)) AS BIGINT) / 100.0 AS total_sum
FROM orders GROUP BY o_orderstatus
"""

QUERIES["xml_roundtrip"] = q_xml_roundtrip
ORACLES["xml_roundtrip"] = ORACLE_XML


def q_brand_exclusion_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (NOT IN subquery): parts whose brand never
    appears among a selective probe set (size-50 SMALL-type parts),
    counted per type. Catalyst
    lowers NOT IN to a null-aware anti-join — the NULL-semantics trap
    of NOT IN (one NULL in the subquery empties the result) is exactly
    what both engines must agree on."""
    load_table(spark, sf_dir, "part").createOrReplaceTempView("q16_part")
    return spark.sql(
        """
        SELECT p_type, CAST(COUNT(*) AS BIGINT) AS n_parts
        FROM q16_part
        WHERE p_brand NOT IN (
          SELECT p_brand FROM q16_part WHERE p_size = 50 AND p_type LIKE 'SMALL%'
        )
        GROUP BY p_type
        """
    )


ORACLE_Q16 = """
SELECT p_type, CAST(COUNT(*) AS BIGINT) AS n_parts
FROM part
WHERE p_brand NOT IN (SELECT p_brand FROM part WHERE p_size = 50 AND p_type LIKE 'SMALL%')
GROUP BY p_type
"""

QUERIES["brand_exclusion_counts"] = q_brand_exclusion_counts
ORACLES["brand_exclusion_counts"] = ORACLE_Q16


# ------------------------- batch: round-4 continuation (training-data ops)

def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-size chunking (operators.chunking): every
    document cut into 64-char windows every 48 chars, each chunk
    fingerprinted for downstream chunk-level dedup. Map-only
    sequence+explode — no shuffle, no Python."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.chunking import (
        chunk_documents,
    )

    d = load_table(spark, sf_dir, "documents")
    return chunk_documents(d, chunk_chars=64, stride=48)


ORACLE_DOC_CHUNKS = """
WITH starts AS (
  SELECT doc_id, text,
         unnest(generate_series(0, CAST(greatest(length(text)-1, 0) AS BIGINT), 48)) AS s
  FROM documents)
SELECT doc_id, CAST(s // 48 AS BIGINT) AS chunk_idx, CAST(s AS BIGINT) AS chunk_start,
       CAST(length(substr(text, CAST(s+1 AS INT), 64)) AS BIGINT) AS chunk_chars,
       substr(md5(substr(text, CAST(s+1 AS INT), 64)), 1, 16) AS chunk_fp
FROM starts
"""

QUERIES["doc_chunks"] = q_doc_chunks
ORACLES["doc_chunks"] = ORACLE_DOC_CHUNKS


def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk sequence packing
    (operators.packing.pack_documents): documents concatenated in
    md5-hash order, sliced every 256 tokens; per-bin fill report. The
    global prefix sum is the two-phase distributed form (range sort +
    narrow mapInPandas cumsum + broadcast partition offsets) — no
    single-task window; the oracle replays it as a plain cumsum."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.packing import (
        pack_documents,
    )

    d = load_table(spark, sf_dir, "documents")
    packed = pack_documents(
        d,
        "doc_id",
        F.size(F.split(F.col("text"), " ")),
        budget=256,
    )
    return packed.groupBy("bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.count_if(F.col("spans_boundary")).alias("n_spanning"),
    )


ORACLE_SEQUENCE_PACKING = """
WITH t AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         substr(md5('pack' || chr(31) || CAST(doc_id AS VARCHAR)), 1, 16) AS h
  FROM documents),
c AS (
  SELECT doc_id, n_tok,
         COALESCE(SUM(n_tok) OVER (ORDER BY h, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
  FROM t)
SELECT CAST(start // 256 AS BIGINT) AS bin_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       CAST(COUNT(CASE WHEN start // 256
                       != (start + greatest(n_tok - 1, 0)) // 256 THEN 1 END)
            AS BIGINT) AS n_spanning
FROM c GROUP BY 1
"""

QUERIES["sequence_packing"] = q_sequence_packing
ORACLES["sequence_packing"] = ORACLE_SEQUENCE_PACKING


def q_purchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration exact integer PageRank (operators.pagerank) over
    the customer→supplier purchase graph (distinct pairs via the
    orders⋈lineitem equi-join). Contributions are floored BIGINTs
    BEFORE summation, so the iterative result is bit-identical on any
    engine/partitioning; the oracle replays the same three steps as
    chained CTEs. Per-iteration cost: key-partitioned joins on
    |edges|, lineage cut each round."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.pagerank import (
        pagerank,
    )

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    edges = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    return pagerank(edges, iterations=3)


ORACLE_PURCHASE_PAGERANK = """
WITH edges AS (
  SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS src,
                  's:' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM nodes),
outdeg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY src),
p0 AS (SELECT node, CAST(1000000000000 AS BIGINT) // (SELECT n_nodes FROM n) AS pr
       FROM nodes),
s1 AS (SELECT e.dst AS node, SUM((p.pr * 85) // (100 * o.d)) AS m
       FROM edges e JOIN p0 p ON p.node = e.src JOIN outdeg o ON o.src = e.src
       GROUP BY e.dst),
p1 AS (SELECT nd.node,
              CAST(15 * 1000000000000 AS BIGINT) // (100 * (SELECT n_nodes FROM n))
              + COALESCE(s1.m, 0) AS pr
       FROM nodes nd LEFT JOIN s1 ON s1.node = nd.node),
s2 AS (SELECT e.dst AS node, SUM((p.pr * 85) // (100 * o.d)) AS m
       FROM edges e JOIN p1 p ON p.node = e.src JOIN outdeg o ON o.src = e.src
       GROUP BY e.dst),
p2 AS (SELECT nd.node,
              CAST(15 * 1000000000000 AS BIGINT) // (100 * (SELECT n_nodes FROM n))
              + COALESCE(s2.m, 0) AS pr
       FROM nodes nd LEFT JOIN s2 ON s2.node = nd.node),
s3 AS (SELECT e.dst AS node, SUM((p.pr * 85) // (100 * o.d)) AS m
       FROM edges e JOIN p2 p ON p.node = e.src JOIN outdeg o ON o.src = e.src
       GROUP BY e.dst),
p3 AS (SELECT nd.node,
              CAST(15 * 1000000000000 AS BIGINT) // (100 * (SELECT n_nodes FROM n))
              + COALESCE(s3.m, 0) AS pr
       FROM nodes nd LEFT JOIN s3 ON s3.node = nd.node)
SELECT node, CAST(pr AS BIGINT) AS pr_scaled FROM p3
"""

QUERIES["purchase_pagerank"] = q_purchase_pagerank
ORACLES["purchase_pagerank"] = ORACLE_PURCHASE_PAGERANK


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (operators.similarity.hard_negatives):
    per anchor, the top-3 most-similar DIFFERENT-label vectors,
    candidates blocked by sign-LSH bucket (equi-self-join on the
    integer code — never all-pairs)."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.similarity import (
        hard_negatives,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    out = hard_negatives(emb, k=3, n_planes=4, dim=64)
    return out.select(
        "anchor_id", "neg_id", "similarity", F.col("rank").cast("long").alias("rank")
    )


def _oracle_hard_negatives() -> str:
    """DuckDB twin: identical inlined integer hyperplanes, same bucket
    codes, same different-label filter and 6dp cosine ranking."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.similarity import (
        hyperplanes,
    )

    planes = hyperplanes(4, 64)
    plane_rows = ",\n    ".join(
        "({}, [{}])".format(r, ", ".join(str(c) for c in h))
        for r, h in enumerate(planes)
    )
    return f"""
WITH ei AS (
  SELECT vec_id, embedding, label,
         [CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) FOR x IN embedding] AS e
  FROM embeddings
),
h(r, hv) AS (VALUES
    {plane_rows}
),
codes AS (
  SELECT vec_id,
         CAST(SUM(CASE WHEN list_dot_product(ei.e, h.hv) > 0
                       THEN (1 << h.r) ELSE 0 END) AS BIGINT) AS code
  FROM ei CROSS JOIN h GROUP BY vec_id
),
coded AS (
  SELECT c.vec_id, e.embedding, e.label, c.code
  FROM codes c JOIN embeddings e USING (vec_id)
),
cand AS (
  SELECT a.vec_id AS anchor_id, b.vec_id AS neg_id,
         round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6)
           AS similarity
  FROM coded a JOIN coded b USING (code)
  WHERE a.label != b.label
)
SELECT anchor_id, neg_id, similarity, rank FROM (
  SELECT anchor_id, neg_id, similarity,
         CAST(row_number() OVER (
           PARTITION BY anchor_id ORDER BY similarity DESC, neg_id ASC) AS BIGINT) AS rank
  FROM cand
) WHERE rank <= 3
"""


QUERIES["hard_negatives"] = q_hard_negatives
ORACLES["hard_negatives"] = _oracle_hard_negatives()


# ---------------------- batch: TPC-H hard decorrelation shapes (Q21/Q22/Q11)

_Q21_SQL = """
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM supplier, lineitem l1, orders
WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
  AND o_orderstatus = 'F' AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
GROUP BY s_name
"""


def q_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape — the hardest decorrelation pattern: a
    correlated EXISTS *and* a correlated NOT EXISTS on the same fact
    table, the anti branch additionally correlated on an OUTER
    column from a third table (o_orderdate). Catalyst rewrites both
    into semi/anti joins on l_orderkey (no per-row subquery
    execution); 'late' is shipdate > orderdate + 90 days (this schema
    carries no receipt/commit dates — ref: TPC-H Q21 uses
    l_receiptdate > l_commitdate)."""
    for t in ("supplier", "lineitem", "orders"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q21_SQL)


QUERIES["sole_late_supplier"] = q_sole_late_supplier
ORACLES["sole_late_supplier"] = _Q21_SQL


_Q22_SQL = """
SELECT c_mktsegment AS segment, CAST(COUNT(*) AS BIGINT) AS numcust,
       CAST(SUM(CAST(round(c_acctbal*100) AS BIGINT)) AS BIGINT) AS acctbal_cents
FROM customer c
WHERE CAST(round(c_acctbal*100) AS BIGINT)
        * (SELECT COUNT(*) FROM customer WHERE c_acctbal > 0)
      > (SELECT SUM(CAST(round(c_acctbal*100) AS BIGINT)) FROM customer
         WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
GROUP BY c_mktsegment
"""


def q_idle_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with no
    finalized orders — a scalar aggregate subquery in the WHERE plus a
    correlated NOT EXISTS anti-join, grouped by segment. The
    above-average comparison is exact integer cross-multiplication
    (cents · count > total-cents): thresholds on float AVG are
    summation-order-dependent at the boundary, integers are not."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_Q22_SQL)


QUERIES["idle_customer_balance"] = q_idle_customer_balance
ORACLES["idle_customer_balance"] = _Q22_SQL


_Q11_SQL = """
SELECT l_partkey,
       CAST(SUM(CAST(round(l_extendedprice*l_quantity) AS BIGINT)) AS BIGINT)
         AS part_value
FROM lineitem
GROUP BY l_partkey
HAVING SUM(CAST(round(l_extendedprice*l_quantity) AS BIGINT))
         * (SELECT COUNT(*) FROM (SELECT DISTINCT l_partkey FROM lineitem)) * 10
       > 12 * (SELECT SUM(CAST(round(l_extendedprice*l_quantity) AS BIGINT))
               FROM lineitem)
"""


def q_part_value_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part value with a scalar subquery inside
    HAVING (parts above 1.2x the mean part value — scale-invariant
    selectivity, unlike Q11's absolute fraction). All comparisons are
    exact scaled-integer cross-multiplications; the scalar total is a
    one-row broadcast, so the plan is two aggregates over one scan
    lineage plus a filter."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_Q11_SQL)


QUERIES["part_value_share"] = q_part_value_share
ORACLES["part_value_share"] = _Q11_SQL


# ----------------- batch: corpus diagnostics + training-pair composition


def q_chunk_level_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-granularity exact dedup (operators.chunking.
    duplicate_chunks): 64-char chunk fingerprints shared by ≥2
    documents — catches copied spans that survive document-level
    dedup. Map-only chunker → one fingerprint-keyed hash aggregate."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.chunking import (
        duplicate_chunks,
    )

    d = load_table(spark, sf_dir, "documents")
    return duplicate_chunks(d, chunk_chars=64, stride=48, min_docs=2)


ORACLE_CHUNK_DEDUP = """
WITH starts AS (
  SELECT doc_id, text,
         unnest(generate_series(0, CAST(greatest(length(text)-1, 0) AS BIGINT), 48)) AS s
  FROM documents),
chunks AS (
  SELECT doc_id,
         substr(md5(substr(text, CAST(s+1 AS INT), 64)), 1, 16) AS chunk_fp,
         length(substr(text, CAST(s+1 AS INT), 64)) AS len
  FROM starts)
SELECT chunk_fp, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc
FROM chunks WHERE len = 64
GROUP BY chunk_fp HAVING COUNT(DISTINCT doc_id) >= 2
"""

QUERIES["chunk_level_dedup"] = q_chunk_level_dedup
ORACLES["chunk_level_dedup"] = ORACLE_CHUNK_DEDUP


def q_source_lang_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source language-mixture entropy (operators.text.
    source_lang_entropy): Shannon entropy in integer micro-nats, each
    term rounded from exact counts before the order-free BIGINT sum."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.text import (
        source_lang_entropy,
    )

    d = load_table(spark, sf_dir, "documents")
    return source_lang_entropy(d, group_col="source", lang_col="lang")


ORACLE_LANG_ENTROPY = """
WITH sl AS (
  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY 1, 2),
tot AS (
  SELECT source, CAST(SUM(n) AS BIGINT) AS n_docs,
         CAST(COUNT(*) AS BIGINT) AS n_langs
  FROM sl GROUP BY 1)
SELECT s.source, t.n_langs, t.n_docs,
       CAST(SUM(CAST(round(-(s.n*1.0/t.n_docs) * ln(s.n*1.0/t.n_docs) * 1000000)
                AS BIGINT)) AS BIGINT) AS entropy_micro_nats
FROM sl s JOIN tot t USING (source) GROUP BY 1, 2, 3
"""

QUERIES["source_lang_entropy"] = q_source_lang_entropy
ORACLES["source_lang_entropy"] = ORACLE_LANG_ENTROPY


def q_contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training-pair export: (anchor, positive, negative)
    triplets — positives are label-blocked near-duplicates
    (cosine ≥ 0.3, operators.similarity.cosine_near_dup_pairs),
    negatives the anchor's rank-1 sign-LSH hard negative
    (operators.similarity.hard_negatives). Both sides are blocked
    candidate generators (label / LSH bucket), joined on the anchor id
    — the end-to-end pair-mining pipeline with no all-pairs stage."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.similarity import (
        cosine_near_dup_pairs,
        hard_negatives,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    pos = cosine_near_dup_pairs(emb, threshold=0.3).select(
        F.col("id_a").alias("anchor_id"),
        F.col("id_b").alias("pos_id"),
        F.col("similarity").alias("pos_sim"),
    )
    neg = (
        hard_negatives(emb, k=1, n_planes=4, dim=64)
        .filter(F.col("rank") == 1)
        .select("anchor_id", "neg_id", F.col("similarity").alias("neg_sim"))
    )
    return pos.join(neg, "anchor_id")


def _oracle_contrastive_triplets() -> str:
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.similarity import (
        hyperplanes,
    )

    planes = hyperplanes(4, 64)
    plane_rows = ",\n    ".join(
        "({}, [{}])".format(r, ", ".join(str(c) for c in h))
        for r, h in enumerate(planes)
    )
    return f"""
WITH pos AS (
  SELECT a.vec_id AS anchor_id, b.vec_id AS pos_id,
         round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6)
           AS pos_sim
  FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.3
),
ei AS (
  SELECT vec_id, embedding, label,
         [CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) FOR x IN embedding] AS e
  FROM embeddings
),
h(r, hv) AS (VALUES
    {plane_rows}
),
codes AS (
  SELECT vec_id,
         CAST(SUM(CASE WHEN list_dot_product(ei.e, h.hv) > 0
                       THEN (1 << h.r) ELSE 0 END) AS BIGINT) AS code
  FROM ei CROSS JOIN h GROUP BY vec_id
),
coded AS (
  SELECT c.vec_id, e.embedding, e.label, c.code
  FROM codes c JOIN embeddings e USING (vec_id)
),
neg AS (
  SELECT anchor_id, neg_id, neg_sim FROM (
    SELECT a.vec_id AS anchor_id, b.vec_id AS neg_id,
           round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6)
             AS neg_sim,
           row_number() OVER (
             PARTITION BY a.vec_id
             ORDER BY round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) DESC,
                      b.vec_id ASC) AS rnk
    FROM coded a JOIN coded b USING (code)
    WHERE a.label != b.label
  ) WHERE rnk = 1
)
SELECT p.anchor_id, p.pos_id, p.pos_sim, n.neg_id, n.neg_sim
FROM pos p JOIN neg n USING (anchor_id)
"""


QUERIES["contrastive_triplets"] = q_contrastive_triplets
ORACLES["contrastive_triplets"] = _oracle_contrastive_triplets()


# ----------------------------- batch: ML-ops audits + feature encoding


def q_temporal_split_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal train/test split report with entity-leakage count
    (operators.sampling.temporal_leakage_audit): events before
    2024-01-08 are train; users active on both sides of the cutoff
    are leaks. One entity-keyed shuffle of the fact table."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.sampling import (
        temporal_leakage_audit,
    )

    e = load_table(spark, sf_dir, "events")
    return temporal_leakage_audit(
        e, ts_col="ts", entity_col="user_id", cutoff="2024-01-08 00:00:00"
    )


ORACLE_TEMPORAL_SPLIT = """
WITH tagged AS (
  SELECT user_id AS ent,
         CASE WHEN ts < TIMESTAMP '2024-01-08 00:00:00'
              THEN 'train' ELSE 'test' END AS split
  FROM events),
per_ent AS (
  SELECT ent, split, COUNT(*) AS n FROM tagged GROUP BY 1, 2),
per AS (
  SELECT split, CAST(SUM(n) AS BIGINT) AS n_events,
         CAST(COUNT(*) AS BIGINT) AS n_entities
  FROM per_ent GROUP BY 1),
leak AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_leaked_entities FROM (
    SELECT ent FROM per_ent GROUP BY ent HAVING COUNT(*) = 2))
SELECT p.split, p.n_events, p.n_entities, l.n_leaked_entities
FROM per p CROSS JOIN leak l
"""

QUERIES["temporal_split_audit"] = q_temporal_split_audit
ORACLES["temporal_split_audit"] = ORACLE_TEMPORAL_SPLIT


def q_event_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m-estimate smoothed target encoding of event_type against the
    value column (operators.encoding.target_encode, m=10): exact
    cents-integer sums feed a fixed-shape float expression, so the
    6dp-rounded code is engine/partitioning-invariant."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.encoding import (
        target_encode,
    )

    e = load_table(spark, sf_dir, "events")
    return target_encode(e, cat_col="event_type", target_col="value", m=10)


ORACLE_TARGET_ENCODING = """
WITH g AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS s
  FROM events GROUP BY 1),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS N, CAST(SUM(s) AS BIGINT) AS S FROM g)
SELECT g.event_type, g.n,
       round((g.s + 10.0 * t.S / t.N) / (g.n + 10) / 100.0, 6) AS encoded
FROM g CROSS JOIN tot t
"""

QUERIES["event_target_encoding"] = q_event_target_encoding
ORACLES["event_target_encoding"] = ORACLE_TARGET_ENCODING


def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (operators.pii.k_anonymity_audit): customer
    quasi-identifier combos (nation, market segment) with fewer than
    10 members — the re-identification risk report."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.pii import (
        k_anonymity_audit,
    )

    c = load_table(spark, sf_dir, "customer")
    return k_anonymity_audit(c, ["c_nationkey", "c_mktsegment"], k=10)


ORACLE_K_ANONYMITY = """
SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS group_size
FROM customer GROUP BY 1, 2 HAVING COUNT(*) < 10
"""

QUERIES["k_anonymity_audit"] = q_k_anonymity_audit
ORACLES["k_anonymity_audit"] = ORACLE_K_ANONYMITY


# --------------------- batch: dynamic partition pruning + pandas UDAF


def q_dpp_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning end-to-end: orders materialized
    PARTITIONED BY month, joined to a parquet dim filtered to the
    peak months — Catalyst injects a runtime DynamicPruning subquery
    into the fact scan's PartitionFilters, so only the surviving
    month directories are READ (the decisive 100 TB mechanism: I/O
    proportional to the filtered dim, not the fact). The plan shape
    is pinned in tests/test_plans.py; the oracle recomputes from the
    unpartitioned table with the dim predicate inlined."""
    import os as _os

    def _write(root: str) -> None:
        o = load_table(spark, sf_dir, "orders")
        o.withColumn("order_month", F.month("o_orderdate")).write.mode(
            "overwrite"
        ).partitionBy("order_month").parquet(_os.path.join(root, "fact"))
        spark.createDataFrame(
            [(m, 1 if m <= 3 else 0) for m in range(1, 13)],
            "order_month int, peak_flag int",
        ).write.mode("overwrite").parquet(_os.path.join(root, "dim"))

    root = _materialized_layout("dpp", sf_dir, _write)
    fact_dir = _os.path.join(root, "fact")
    dim_dir = _os.path.join(root, "dim")
    fact = spark.read.parquet(fact_dir)
    # DPP's benefit check wants a LIKELY-SELECTIVE predicate on the
    # build side (EqualTo/In/Like against a literal) — a bare boolean
    # column reference does not qualify and silently skips the rule
    dim = spark.read.parquet(dim_dir).filter(F.col("peak_flag") == 1)
    return (
        fact.join(dim, "order_month")
        .groupBy(F.col("order_month").cast("long").alias("order_month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _scaled_sum(F.col("o_totalprice"), 100, "revenue"),
        )
    )


ORACLE_DPP = """
SELECT CAST(month(o_orderdate) AS BIGINT) AS order_month,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0
         AS revenue
FROM orders WHERE month(o_orderdate) <= 3
GROUP BY 1
"""

QUERIES["dpp_pruned_join"] = q_dpp_pruned_join
ORACLES["dpp_pruned_join"] = ORACLE_DPP


def q_pandas_udaf_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python UDAF surface (operators.udx.grouped_median_udaf):
    exact per-type median of event values through the GROUPED_AGG
    pandas-UDF path. Median is order-independent (numpy sorts), which
    is what makes a Python aggregate hash-oracle-safe."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.udx import (
        grouped_median_udaf,
    )

    e = load_table(spark, sf_dir, "events")
    return grouped_median_udaf(e, "event_type", "value")


ORACLE_PANDAS_UDAF_MEDIAN = """
SELECT event_type, round(median(value), 6) AS median_value,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events GROUP BY event_type
"""

QUERIES["pandas_udaf_median"] = q_pandas_udaf_median
ORACLES["pandas_udaf_median"] = ORACLE_PANDAS_UDAF_MEDIAN


# ------------------------------------ batch: Jaro-Winkler record linkage


def q_jw_best_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage with the Jaro-Winkler scorer
    (operators.fuzzy.jaro_winkler — DuckDB-exact conventions, integer
    transposition halving): argmax-similarity supplier name for each
    of 50 probe customers, broadcast probe x candidate scan + window
    argmax; third scorer beside Levenshtein-ratio and fuzz.ratio."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.fuzzy import (
        fuzzy_best_match,
        jaro_winkler,
    )

    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 50)
    s = load_table(spark, sf_dir, "supplier")
    out = fuzzy_best_match(
        c.select("c_name"),
        s.select("s_name"),
        "c_name",
        "s_name",
        score_fn=jaro_winkler,
    )
    return out.select("c_name", "s_name", "similarity")


ORACLE_JW_BEST_MATCH = """
WITH q AS (SELECT c_name FROM customer WHERE c_custkey < 50),
scored AS (
  SELECT q.c_name, s.s_name,
         round(jaro_winkler_similarity(q.c_name, s.s_name), 6) AS similarity
  FROM q CROSS JOIN supplier s)
SELECT c_name, s_name, similarity FROM (
  SELECT c_name, s_name, similarity,
         row_number() OVER (PARTITION BY c_name
                            ORDER BY similarity DESC, s_name ASC) AS rn
  FROM scored) WHERE rn = 1
"""

QUERIES["jw_best_match"] = q_jw_best_match
ORACLES["jw_best_match"] = ORACLE_JW_BEST_MATCH


def q_tfidf_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical similarity search (operators.tfidf.tfidf_cosine_topk):
    top-5 most-similar documents for 20 probes under sparse TF-IDF
    cosine — inverted-index candidate join (probe postings broadcast),
    order-free scaled-integer dot products, exact-integer norms."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.tfidf import (
        tfidf_cosine_topk,
    )

    d = load_table(spark, sf_dir, "documents")
    out = tfidf_cosine_topk(d, probe_max_id=20, k=5)
    return out.select(
        "q_id", "doc_id", "similarity", F.col("rank").cast("long").alias("rank")
    )


ORACLE_TFIDF_COSINE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
w AS (
  SELECT tf.doc_id, tf.term,
         CAST(round(tf.tf * (ln((n.n_docs + 1.0) / (d.df + 1.0)) + 1.0) * 10000)
              AS BIGINT) AS w_int
  FROM tf JOIN dfreq d USING (term) CROSS JOIN n),
norms AS (
  SELECT doc_id, CAST(SUM(w_int * w_int) AS BIGINT) AS norm2 FROM w GROUP BY 1),
probes AS (
  SELECT doc_id AS q_id, term, w_int AS q_w FROM w WHERE doc_id < 20),
dots AS (
  SELECT p.q_id, w.doc_id, CAST(SUM(w.w_int * p.q_w) AS BIGINT) AS dot
  FROM w JOIN probes p USING (term)
  WHERE w.doc_id != p.q_id
  GROUP BY 1, 2),
scored AS (
  SELECT d.q_id, d.doc_id,
         round(d.dot / (sqrt(na.norm2) * sqrt(nq.norm2)), 6) AS similarity
  FROM dots d
  JOIN norms na ON na.doc_id = d.doc_id
  JOIN norms nq ON nq.doc_id = d.q_id)
SELECT q_id, doc_id, similarity, rank FROM (
  SELECT q_id, doc_id, similarity,
         CAST(row_number() OVER (
           PARTITION BY q_id ORDER BY similarity DESC, doc_id ASC) AS BIGINT) AS rank
  FROM scored) WHERE rank <= 5
"""

QUERIES["tfidf_cosine_topk"] = q_tfidf_cosine_topk
ORACLES["tfidf_cosine_topk"] = ORACLE_TFIDF_COSINE


# -------------------------------- batch: Spark 4 SQL-surface completions


def q_parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-parameter SQL binding (``spark.sql(..., args=...)``) —
    the injection-safe form of the reference's f-string DML assembly
    (``src/process_insert_update_weather_data.py:110-127``): values
    bind as typed literals, never string concatenation."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events_p")
    return spark.sql(
        """
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        FROM events_p
        WHERE value >= :min_value AND event_type != :excluded
        GROUP BY event_type
        """,
        args={"min_value": 50.0, "excluded": "error"},
    )


ORACLE_PARAMETERIZED = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events
WHERE value >= 50.0 AND event_type != 'error'
GROUP BY event_type
"""

QUERIES["parameterized_sql"] = q_parameterized_sql
ORACLES["parameterized_sql"] = ORACLE_PARAMETERIZED


_LATERAL_ALIAS_SQL = """
SELECT l_returnflag,
       CAST(SUM(CAST(round(disc_price * 100) AS BIGINT)) AS BIGINT) AS disc_cents,
       CAST(SUM(CAST(round(charge * 100) AS BIGINT)) AS BIGINT) AS charge_cents
FROM (
  SELECT l_returnflag,
         l_extendedprice * (1 - l_discount) AS disc_price,
         disc_price * (1 + l_tax) AS charge
  FROM lineitem
)
GROUP BY l_returnflag
"""


def q_lateral_alias_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral column aliases (Spark 3.4+/ANSI): ``charge`` is defined
    from ``disc_price`` in the SAME select list — the chained derived-
    column style the reference writes as sequential Python assignments
    (``src/process_insert_update_weather_data.py:83-93``). Identical
    SQL runs on both engines; cents-integer sums."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_LATERAL_ALIAS_SQL)


QUERIES["lateral_alias_pricing"] = q_lateral_alias_pricing
ORACLES["lateral_alias_pricing"] = _LATERAL_ALIAS_SQL


def q_sql_script_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4 ``BEGIN…END``): a WHILE loop accumulates
    first-half-year order counts via scalar subqueries into a session
    variable — procedural control flow INSIDE the SQL surface (the
    reference drives the same month-by-month accumulation from Python,
    ``src/monitor.sh`` + cron). The oracle is the closed-form
    predicate; the loop must agree with it."""
    spark.conf.set("spark.sql.scripting.enabled", "true")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_s")
    return spark.sql(
        """
        BEGIN
          DECLARE acc BIGINT DEFAULT 0;
          DECLARE i INT DEFAULT 1;
          WHILE i <= 6 DO
            SET acc = acc + (SELECT COUNT(*) FROM orders_s WHERE month(o_orderdate) = i);
            SET i = i + 1;
          END WHILE;
          SELECT acc AS n_first_half;
        END
        """
    )


ORACLE_SQL_SCRIPT = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_first_half
FROM orders WHERE month(o_orderdate) <= 6
"""

QUERIES["sql_script_rollup"] = q_sql_script_rollup
ORACLES["sql_script_rollup"] = ORACLE_SQL_SCRIPT


def q_observed_scan_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observation API (``df.observe``): audit metrics piggyback on the
    SAME pass that filters the data — total rows and total cents are
    captured while only purchase rows are counted downstream. The
    zero-extra-scan form of the reference's per-batch log counters
    (``src/ingest_weather_data.py:86-89``); at 100 TB an extra audit
    scan is the cost being avoided. Driver holds 3 scalars, never
    rows."""
    from pyspark.sql import Observation

    e = load_table(spark, sf_dir, "events")
    obs = Observation("scan_audit")
    observed = e.observe(
        obs,
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
    )
    n_purchases = observed.filter(F.col("event_type") == "purchase").count()
    m = obs.get
    return spark.createDataFrame(
        [(int(m["n_total"]), int(m["value_cents"]), int(n_purchases))],
        "n_total long, value_cents long, n_purchases long",
    )


ORACLE_OBSERVED = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
       CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT)
         AS n_purchases
FROM events
"""

QUERIES["observed_scan_metrics"] = q_observed_scan_metrics
ORACLES["observed_scan_metrics"] = ORACLE_OBSERVED


def q_hll_sketch_mergeability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataSketches HLL surface (Spark 4 ``hll_sketch_agg`` /
    ``hll_union_agg``): per-type sketches UNION-merge to the same
    estimate as one direct pass — the mergeability that lets 100 TB
    pre-aggregate distinct counts per partition/day and combine
    without rescanning. Emits the exact count plus the two in-engine
    invariant checks; the oracle pins the exact count and that both
    invariants hold."""
    e = load_table(spark, sf_dir, "events")
    per_type = e.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = per_type.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_merged")
    )
    direct = e.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est_direct"),
        F.count_distinct("user_id").cast("long").alias("n_exact"),
    )
    return merged.crossJoin(direct).select(
        "n_exact",
        (
            F.abs(F.col("est_merged") - F.col("est_direct"))
            <= F.greatest(F.lit(2.0), F.col("n_exact") * 0.02)
        ).alias("merged_consistent"),
        (
            F.abs(F.col("est_direct") - F.col("n_exact"))
            <= F.greatest(F.lit(2.0), F.col("n_exact") * 0.05)
        ).alias("within_error"),
    )


ORACLE_HLL = """
SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
       TRUE AS merged_consistent, TRUE AS within_error
FROM events
"""

QUERIES["hll_sketch_mergeability"] = q_hll_sketch_mergeability
ORACLES["hll_sketch_mergeability"] = ORACLE_HLL


def q_corpus_pack_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data materialization: normalize →
    canonical-fingerprint exact dedup (keep smallest doc_id) →
    concat-and-chunk sequence packing of the SURVIVORS (256-token
    context windows) → per-bin fill manifest. Chains
    operators.text.normalized_docs + a bounded-group ranking window +
    operators.packing.pack_documents — the pipeline a loader consumes;
    every stage individually oracled elsewhere, the composite pinned
    here."""
    from pyspark.sql import Window as W

    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.packing import (
        pack_documents,
    )
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.text import (
        normalized_docs,
    )

    docs = parallelize(load_table(spark, sf_dir, "documents"))
    nd = normalized_docs(docs).select(
        "doc_id", "norm_fingerprint", "n_norm_tokens"
    )
    w = W.partitionBy("norm_fingerprint").orderBy(F.col("doc_id").asc())
    survivors = (
        nd.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "n_norm_tokens")
        # pack_documents reads its input twice (cumsum branch +
        # partition totals); checkpoint so the dedup window runs once
        .localCheckpoint(eager=True)
    )
    packed = pack_documents(
        survivors, "doc_id", F.col("n_norm_tokens"), budget=256
    )
    return packed.groupBy("bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.count_if(F.col("spans_boundary")).alias("n_spanning"),
    )


ORACLE_CORPUS_PACK = """
WITH n AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                             ' +', ' ', 'g')) AS norm_text
  FROM documents),
d AS (
  SELECT doc_id, md5(norm_text) AS fp,
         CAST(len(string_split(norm_text, ' ')) AS BIGINT) AS n_tok
  FROM n),
keep AS (
  SELECT doc_id, n_tok FROM (
    SELECT d.*, row_number() OVER (PARTITION BY fp ORDER BY doc_id ASC) AS rn
    FROM d) WHERE rn = 1),
c AS (
  SELECT doc_id, n_tok,
         COALESCE(SUM(n_tok) OVER (
           ORDER BY substr(md5('pack' || chr(31) || CAST(doc_id AS VARCHAR)), 1, 16),
                    doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
  FROM keep)
SELECT CAST(start // 256 AS BIGINT) AS bin_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       CAST(COUNT(CASE WHEN start // 256
                       != (start + greatest(n_tok - 1, 0)) // 256 THEN 1 END)
            AS BIGINT) AS n_spanning
FROM c GROUP BY 1
"""

QUERIES["corpus_pack_pipeline"] = q_corpus_pack_pipeline
ORACLES["corpus_pack_pipeline"] = ORACLE_CORPUS_PACK


def q_nested_rebuild_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-collection surface: each order's lineitems are rebuilt
    as an array<struct> document (``array_sort(collect_list(...))`` —
    collect_list alone is partition-order-nondeterministic, the sort
    canonicalizes it) and every output is then computed FROM the
    array with higher-order folds — proving the nested rebuild is
    lossless vs the flat aggregates the oracle computes directly.
    The document-shape inverse of P5's struct flattening
    (``src/process_insert_update_weather_data.py:83-93``)."""
    li = load_table(spark, sf_dir, "lineitem")
    # bounded buffer: one group = one order's lines (≤ 7 by TPC-H
    # construction — a schema constant, never data-volume-dependent)
    arr = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("l_linenumber").alias("ln"),
                F.round(F.col("l_quantity") * 100).cast("long").alias("qty_cents"),
            )
        )
    )
    nested = li.groupBy("l_orderkey").agg(arr.alias("lines"))
    fold_sum = F.aggregate(
        F.col("lines"),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x["qty_cents"],
    )
    return nested.select(
        "l_orderkey",
        F.size("lines").cast("long").alias("n_lines"),
        fold_sum.alias("qty_cents"),
        F.col("lines")[0]["ln"].cast("long").alias("first_line"),
        F.element_at("lines", -1)["ln"].cast("long").alias("last_line"),
    )


ORACLE_NESTED_REBUILD = """
SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents,
       CAST(MIN(l_linenumber) AS BIGINT) AS first_line,
       CAST(MAX(l_linenumber) AS BIGINT) AS last_line
FROM lineitem GROUP BY l_orderkey
"""

QUERIES["nested_rebuild_roundtrip"] = q_nested_rebuild_roundtrip
ORACLES["nested_rebuild_roundtrip"] = ORACLE_NESTED_REBUILD


def q_resampling_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture APPLY step (operators.sampling.resampling_plan):
    per-source accept probabilities that move the corpus toward the
    sqrt-size target mixture, downsample-only (the most
    under-represented source keeps accept=1). Exact-integer sizes and
    weights; one |groups| aggregate + 1-row broadcast max."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.sampling import (
        resampling_plan,
    )

    d = load_table(spark, sf_dir, "documents")
    return resampling_plan(
        d, "source", F.size(F.split(F.col("text"), " "))
    )


ORACLE_RESAMPLING = """
WITH g AS (
  SELECT source,
         CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY 1),
w AS (
  SELECT source, n_tokens,
         CAST(round(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT) AS wi
  FROM g),
m AS (SELECT MAX(CAST(wi AS DOUBLE) / n_tokens) AS max_ratio FROM w)
SELECT w.source, w.n_tokens,
       round((CAST(w.wi AS DOUBLE) / w.n_tokens) / m.max_ratio, 6) AS accept_prob,
       CAST(floor(w.n_tokens * round((CAST(w.wi AS DOUBLE) / w.n_tokens) / m.max_ratio, 6))
            AS BIGINT) AS expected_tokens
FROM w CROSS JOIN m
"""

QUERIES["resampling_plan"] = q_resampling_plan
ORACLES["resampling_plan"] = ORACLE_RESAMPLING


_Q19_SQL = """
SELECT CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 35)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 50)
"""


def q_disjunctive_predicate_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape — an OR of AND-groups spanning BOTH join sides:
    the optimizer must split the disjunction into the per-side
    conjunctions it can push to each scan (CNF extraction) while the
    cross-side residue stays on the join. The brand/size predicates
    reach the part scan and the quantity bounds the lineitem scan even
    though they are written inside one OR."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(_Q19_SQL)


QUERIES["disjunctive_predicate_join"] = q_disjunctive_predicate_join
ORACLES["disjunctive_predicate_join"] = _Q19_SQL


_Q17_SQL = """
SELECT CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#1'
  AND CAST(round(l.l_quantity * 100) AS BIGINT) * 5
        * (SELECT COUNT(*) FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
      < (SELECT SUM(CAST(round(l2.l_quantity * 100) AS BIGINT))
         FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
"""


def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape — CORRELATED scalar aggregate subqueries in the
    WHERE (per-part average quantity): Catalyst decorrelates each into
    an aggregate joined back on l_partkey, so the fact table is never
    probed per-row. The 0.2·avg threshold is an exact integer
    cross-multiplication (qty·5·n < sum) — a float-avg comparison is
    summation-order-dependent at the boundary (CLAUDE.md rule)."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(_Q17_SQL)


QUERIES["small_quantity_revenue"] = q_small_quantity_revenue
ORACLES["small_quantity_revenue"] = _Q17_SQL


_Q8_SQL = """
WITH vol AS (
  SELECT year(o_orderdate) AS o_year,
         CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS volume_cents,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON n1.n_nationkey = c_nationkey
  JOIN region   ON r_regionkey = n1.n_regionkey AND r_name = 'ASIA'
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation n2 ON n2.n_nationkey = s_nationkey)
SELECT CAST(o_year AS BIGINT) AS o_year,
       CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume_cents ELSE 0 END) AS BIGINT)
         AS nation_cents,
       CAST(SUM(volume_cents) AS BIGINT) AS total_cents,
       round(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume_cents ELSE 0 END) AS DOUBLE)
             / SUM(volume_cents), 6) AS mkt_share
FROM vol GROUP BY o_year
"""


def q_market_share_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape — six-table star with a conditional-share
    ratio: one nation's volume over total volume per order year
    (numerator and denominator in the SAME aggregate pass via CASE,
    never two scans). All four dims broadcast; the fact shuffles only
    for the orders join; cents-exact integers under the 6dp ratio."""
    for t in ("lineitem", "orders", "customer", "nation", "region", "supplier"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q8_SQL)


QUERIES["market_share_ratio"] = q_market_share_ratio
ORACLES["market_share_ratio"] = _Q8_SQL


def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset card — the summary table published with a
    training corpus: volume (docs/tokens), exact-duplicate rate
    (md5 fingerprints), mean document length, and language mixture
    (count + entropy, operators.text.source_lang_entropy's integer
    micro-nat terms). Two source-keyed aggregates over one projected
    scan + a |sources|-sized join; every ratio derives from exact
    integers under the 6dp round."""
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "source",
        "lang",
        F.md5(F.col("text")).alias("fp"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tok"),
    )
    per = base.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
        F.count_distinct("fp").cast("long").alias("_n_unique"),
    )
    sl = base.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("_n")
    )
    p = F.col("_n").cast("double") / F.col("n_docs")
    ent = (
        sl.join(per.select("source", "n_docs"), "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_langs"),
            F.sum(F.round(-p * F.log(p) * 1_000_000).cast("long"))
            .cast("long")
            .alias("entropy_micro_nats"),
        )
    )
    return per.join(ent, "source").select(
        "source",
        "n_docs",
        "total_tokens",
        F.round(
            1.0 - F.col("_n_unique").cast("double") / F.col("n_docs"), 6
        ).alias("dup_rate"),
        F.round(
            F.col("total_tokens").cast("double") / F.col("n_docs"), 6
        ).alias("avg_doc_tokens"),
        "n_langs",
        "entropy_micro_nats",
    )


ORACLE_DATASET_CARD = """
WITH base AS (
  SELECT source, lang, md5(text) AS fp,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents),
per AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
         CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique
  FROM base GROUP BY 1),
sl AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n FROM base GROUP BY 1, 2),
ent AS (
  SELECT s.source, CAST(COUNT(*) AS BIGINT) AS n_langs,
         CAST(SUM(CAST(round(-(s.n*1.0/p.n_docs) * ln(s.n*1.0/p.n_docs) * 1000000)
                  AS BIGINT)) AS BIGINT) AS entropy_micro_nats
  FROM sl s JOIN per p USING (source) GROUP BY 1)
SELECT p.source, p.n_docs, p.total_tokens,
       round(1.0 - CAST(p.n_unique AS DOUBLE) / p.n_docs, 6) AS dup_rate,
       round(CAST(p.total_tokens AS DOUBLE) / p.n_docs, 6) AS avg_doc_tokens,
       e.n_langs, e.entropy_micro_nats
FROM per p JOIN ent e USING (source)
"""

QUERIES["dataset_card"] = q_dataset_card
ORACLES["dataset_card"] = ORACLE_DATASET_CARD


def q_event_rate_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-spike monitoring (the set-oriented form of the reference's
    monitor.sh watchdog, ``src/monitor.sh:12-24``): hourly event
    counts per type z-scored against that type's own distribution;
    hours with |z| > 2 are the alertable anomalies. Moments come from
    exact integer power sums (the operators.outliers convention), the
    z expression is written identically in the oracle, and the
    threshold compares floats derived from exact ints — deterministic
    on both engines. Two chained aggregates; the series table is
    |types × hours|, never the event stream."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    # moment sums in DECIMAL(38,0) (r11 int64-overflow sweep): an
    # hourly count n ~1e10 at extreme scale makes n² overflow int64
    # PER TERM, and Σn² long before that — an ArithmeticException
    # under ANSI (the Spark 4 default here and in the driver), a
    # silent wrap without it; cast-before-multiply keeps the square
    # itself exact, and both engines cast the exact sums to DOUBLE
    # before the identical z tree
    _d38 = "decimal(38,0)"
    mom = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.sum(F.col("n").cast(_d38)).alias("s1"),
        F.sum(F.col("n").cast(_d38) * F.col("n").cast(_d38)).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n_hours")
    var = F.greatest(
        F.col("s2").cast("double") / F.col("n_hours") - mean * mean,
        F.lit(1e-12),
    )
    z = (F.col("n") - mean) / F.sqrt(var)
    return (
        hourly.join(mom, "event_type")
        .filter(F.abs(z) > 2.0)
        .select(
            "event_type",
            epoch_us("hr").alias("hour_us"),
            "n",
            F.round(z, 6).alias("z"),
        )
    )


ORACLE_EVENT_ANOMALIES = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hr, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
mom AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hours,
         CAST(SUM(n) AS BIGINT) AS s1, CAST(SUM(n*n) AS BIGINT) AS s2
  FROM hourly GROUP BY 1)
SELECT h.event_type, epoch_us(h.hr) AS hour_us, h.n,
       round((h.n - CAST(m.s1 AS DOUBLE)/m.n_hours)
             / sqrt(greatest(CAST(m.s2 AS DOUBLE)/m.n_hours
                    - (CAST(m.s1 AS DOUBLE)/m.n_hours)*(CAST(m.s1 AS DOUBLE)/m.n_hours),
                    1e-12)), 6) AS z
FROM hourly h JOIN mom m USING (event_type)
WHERE abs((h.n - CAST(m.s1 AS DOUBLE)/m.n_hours)
      / sqrt(greatest(CAST(m.s2 AS DOUBLE)/m.n_hours
             - (CAST(m.s1 AS DOUBLE)/m.n_hours)*(CAST(m.s1 AS DOUBLE)/m.n_hours),
             1e-12))) > 2.0
"""

QUERIES["event_rate_anomalies"] = q_event_rate_anomalies
ORACLES["event_rate_anomalies"] = ORACLE_EVENT_ANOMALIES


def q_dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size distribution — the "how much will dedup
    save" report (docs in size-k clusters shed k-1 copies each):
    jaccard-0.5 pairs resolved to components (same pipeline as
    dedup_clusters), then two tiny aggregates over the |docs| label
    table. The histogram is what picks the dedup threshold in
    practice (paired with jaccard_histogram's pair-mass view)."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.graph import (
        dedup_clusters,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.5).select("d1", "d2")
    clusters = dedup_clusters(docs, pairs)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum("cluster_size").cast("long").alias("n_docs"),
    )


# compose by nesting the verified clustering oracle unchanged
ORACLE_DEDUP_CLUSTER_STATS = f"""
WITH sizes AS (
  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
  FROM ({ORACLE_DEDUP_CLUSTERS}) GROUP BY 1)
SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(cluster_size) AS BIGINT) AS n_docs
FROM sizes GROUP BY 1
"""

QUERIES["dedup_cluster_stats"] = q_dedup_cluster_stats
ORACLES["dedup_cluster_stats"] = ORACLE_DEDUP_CLUSTER_STATS


def q_stream_update_merge_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE-mode streaming hourly counts per event type across THREE
    micro-batches with a genuinely advancing watermark
    (streaming.windowed.update_merge_phased): events split by the
    engine-portable md5-hex rule into three phase files, replayed
    oldest-first with maxFilesPerTrigger=1 through the foreachBatch
    keyed MERGE. Spark's late filter runs one batch BEHIND the
    watermark (SPARK-24634 — see update_merge_phased's docstring), so
    phases 1–2 are all counted and phase-3 rows are dropped iff their
    hourly window END ≤ the watermark phase 1 advanced
    (floor_ms(max phase-1 ts) − 2 h). The oracle models exactly that
    per-batch emission rule, pinning cross-batch UPDATE-mode
    semantics, not the single-batch degenerate case."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.windowed import (
        update_merge_phased,
    )

    e = load_table(spark, sf_dir, "events").where(F.col("event_id").isNotNull())
    h = F.substring(
        F.md5(F.concat(F.lit("umh"), F.lit("\x1f"), F.col("event_id").cast("string"))),
        1,
        8,
    )
    out, stats = update_merge_phased(
        spark,
        [
            e.where(h <= "55555555"),
            e.where((h > "55555555") & (h <= "aaaaaaaa")),
            e.where(h > "aaaaaaaa"),
        ],
        lateness="2 hours",
        group_cols=["event_type"],
    )
    if stats["data_batches"] != 3:
        raise RuntimeError(f"expected 3 micro-batches, got {stats}")
    return out.select(
        epoch_us("window_start").alias("window_start_us"),
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
    )


# Models the three-batch replay: phases 1–2 (md5 prefix ≤ 'aaaaaaaa')
# all counted — the late filter lags the watermark by one batch, so
# batch 2 still filters against the pre-run watermark 0; phase 3 is
# counted only where the hourly window END outlives the watermark
# phase 1 advanced — floor_ms(max phase-1 ts) − 2 h, the ms-truncation
# convention (epoch_us // 1000 * 1000).
ORACLE_STREAM_UPDATE_MERGE = """
WITH p AS (
  SELECT ts, event_type,
         substr(md5('umh' || chr(31) || CAST(event_id AS VARCHAR)), 1, 8) AS h
  FROM events WHERE event_id IS NOT NULL),
w1 AS (
  SELECT (epoch_us(MAX(ts)) // 1000) * 1000 - 7200000000 AS w1_us
  FROM p WHERE h <= '55555555'),
kept AS (
  SELECT ts, event_type FROM p WHERE h <= 'aaaaaaaa'
  UNION ALL
  SELECT p.ts, p.event_type FROM p, w1
  WHERE p.h > 'aaaaaaaa'
    AND epoch_us(date_trunc('hour', p.ts)) + 3600000000 > w1.w1_us)
SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM kept GROUP BY 1, 2
"""

QUERIES["stream_update_merge_hourly"] = q_stream_update_merge_hourly
ORACLES["stream_update_merge_hourly"] = ORACLE_STREAM_UPDATE_MERGE


def q_file_metadata_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden ``_metadata`` file columns (Spark ≥3.4 file sources):
    per-file lineage/audit without a manifest table — file name,
    size, and in-file row index ride along the scan for free. The
    events table is materialized one file per event_type partition,
    then audited purely from ``_metadata``: rows per type, distinct
    files (exactly 1 by construction), and the dense row_index bound
    (n−1). The modern form of the reference's timestamped-S3-object
    bookkeeping (``src/ingest_weather_data.py:35-45``)."""
    def _write(root: str) -> None:
        e = load_table(spark, sf_dir, "events")
        e.repartition(1).write.partitionBy("event_type").mode(
            "overwrite"
        ).parquet(root)

    root = _materialized_layout("meta_audit", sf_dir, _write)
    m = spark.read.parquet(root).select(
        "event_type",
        F.col("_metadata.file_name").alias("_fn"),
        F.col("_metadata.row_index").alias("_ri"),
    )
    return m.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count_distinct("_fn").cast("long").alias("n_files"),
        F.max("_ri").cast("long").alias("max_row_index"),
    )


ORACLE_FILE_METADATA = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(1 AS BIGINT) AS n_files,
       CAST(COUNT(*) - 1 AS BIGINT) AS max_row_index
FROM events GROUP BY event_type
"""

QUERIES["file_metadata_audit"] = q_file_metadata_audit
ORACLES["file_metadata_audit"] = ORACLE_FILE_METADATA


def q_collated_brand_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String collations (Spark 4): case-insensitive grouping via
    ``COLLATE(expr, 'UTF8_LCASE')`` — the engine-level answer to the
    reference's defensive ``.lower()`` normalizations
    (``src/ingest_places_data.py:58-59``). Brands are deterministically
    mixed-case first (upper on even keys, lower on odd), then grouped
    under the case-insensitive collation. The EMITTED key is
    ``MIN(binary)`` — the collated group's own representative string is
    whichever variant a partition saw first, i.e.
    partition-order-dependent, so it must never be output directly."""
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part_cc")
    return spark.sql(
        """
        WITH mixed AS (
          SELECT CASE WHEN p_partkey % 2 = 0 THEN upper(p_brand)
                      ELSE lower(p_brand) END AS brand_mixed
          FROM part_cc)
        SELECT MIN(brand_mixed) AS brand, CAST(COUNT(*) AS BIGINT) AS n_parts
        FROM mixed
        GROUP BY COLLATE(brand_mixed, 'UTF8_LCASE')
        """
    )


ORACLE_COLLATED_BRANDS = """
WITH mixed AS (
  SELECT CASE WHEN p_partkey % 2 = 0 THEN upper(p_brand)
              ELSE lower(p_brand) END AS brand_mixed
  FROM part)
SELECT MIN(brand_mixed) AS brand, CAST(COUNT(*) AS BIGINT) AS n_parts
FROM mixed
GROUP BY lower(brand_mixed)
"""

QUERIES["collated_brand_counts"] = q_collated_brand_counts
ORACLES["collated_brand_counts"] = ORACLE_COLLATED_BRANDS


# ----------------- round 5: restart replay + semantic decontamination


def q_stream_restart_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND-mode hourly counts across a checkpoint RESTART with a
    genuinely advancing watermark (streaming.windowed.
    restart_append_counts): even-user events arrive first and advance
    the watermark to W1 = floor_ms(max even-ts) − 30 min; odd-user
    events land in a second file, the query restarts from the
    checkpoint, rows in windows already closed by W1 are dropped as
    late, survivors merge into the restored state, and the final
    watermark W2 emits every window it passes. The oracle replays the
    full two-phase emission rule in SQL — the multi-batch semantics
    the single-batch streaming queries deliberately assert away."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.windowed import (
        restart_append_counts,
    )

    e = load_table(spark, sf_dir, "events")
    out, _stats = restart_append_counts(
        spark,
        phase1=e.filter(F.col("user_id") % 2 == 0),
        phase2=e.filter(F.col("user_id") % 2 != 0),
        duration="1 hour",
        lateness="30 minutes",
        group_cols=["event_type"],
        aggs=[
            F.count(F.lit(1)).cast("long").alias("n_events"),
            _scaled_sum(F.col("value"), 10000, "sum_value"),
        ],
    )
    return out.select(
        epoch_us("window_start").alias("window_start_us"),
        "event_type",
        "n_events",
        "sum_value",
    )


# Two-phase emission rule, ms-truncated watermarks (session-oracle
# convention): phase-2 rows whose window END ≤ W1 are late-dropped;
# the union of both runs' emissions is every window with end ≤ W2
# computed over the surviving rows.
ORACLE_STREAM_RESTART = """
WITH w1 AS (
  SELECT (epoch_us(max(ts)) // 1000) * 1000 - 1800000000 AS v
  FROM events WHERE user_id % 2 = 0),
w2 AS (
  SELECT (epoch_us(max(ts)) // 1000) * 1000 - 1800000000 AS v FROM events),
kept AS (
  SELECT e.* FROM events e, w1
  WHERE user_id % 2 = 0
     OR epoch_us(date_trunc('hour', ts) + INTERVAL 1 HOUR) > w1.v
)
SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) / 10000.0
         AS sum_value
FROM kept, w2
GROUP BY 1, 2, w2.v
HAVING epoch_us(date_trunc('hour', min(ts)) + INTERVAL 1 HOUR) <= w2.v
"""

QUERIES["stream_restart_hourly"] = q_stream_restart_hourly
ORACLES["stream_restart_hourly"] = ORACLE_STREAM_RESTART


def q_semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space train/test decontamination
    (operators.similarity.semantic_decontamination): every 20th vector
    plays the held-out eval benchmark; corpus vectors within cosine
    0.3 of any eval vector — found through the integer-exact sign-LSH
    multi-probe blocks, never an all-pairs join — are flagged with
    their best eval match. The semantic complement of the n-gram
    ``decontamination_flags`` query (paraphrases share no 8-gram but
    sit next to the benchmark item in embedding space)."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.similarity import (
        semantic_decontamination,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    eval_set = emb.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("eval_id"), F.col("embedding").alias("eval_emb")
    )
    corpus = emb.filter(F.col("vec_id") % 20 != 0)
    out = semantic_decontamination(corpus, eval_set, threshold=0.3)
    return out.select("vec_id", "eval_id", "similarity")


def _oracle_semantic_decontamination() -> str:
    """DuckDB twin: identical integer hyperplanes (inlined literals
    from the same Python builder — the engine-exact LSH convention),
    floor(x*1e6) scaling, same multi-probe mask set, same 6dp cosine
    threshold + (similarity desc, eval_id asc) argmax."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.similarity import (
        hyperplanes,
    )

    planes = hyperplanes(4, 64)
    plane_rows = ",\n    ".join(
        "({}, [{}])".format(r, ", ".join(str(c) for c in h))
        for r, h in enumerate(planes)
    )
    return f"""
WITH ei AS (
  SELECT vec_id, embedding,
         [CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) FOR x IN embedding] AS e
  FROM embeddings
),
h(r, hv) AS (VALUES
    {plane_rows}
),
codes AS (
  SELECT vec_id,
         CAST(SUM(CASE WHEN list_dot_product(ei.e, h.hv) > 0
                       THEN (1 << h.r) ELSE 0 END) AS BIGINT) AS code
  FROM ei CROSS JOIN h GROUP BY vec_id
),
coded AS (
  SELECT c.vec_id, e.embedding, c.code
  FROM codes c JOIN embeddings e USING (vec_id)
),
probes AS (
  SELECT q.vec_id AS eval_id, q.embedding AS eval_emb, xor(q.code, t.m) AS code
  FROM coded q CROSS JOIN (VALUES (0), (1), (2), (4), (8)) AS t(m)
  WHERE q.vec_id % 20 = 0
),
cand AS (
  SELECT c.vec_id, p.eval_id,
         round(list_cosine_similarity(c.embedding::DOUBLE[], p.eval_emb::DOUBLE[]), 6)
           AS similarity
  FROM coded c JOIN probes p USING (code)
  WHERE c.vec_id % 20 != 0
)
SELECT vec_id, eval_id, similarity FROM (
  SELECT vec_id, eval_id, similarity,
         row_number() OVER (
           PARTITION BY vec_id ORDER BY similarity DESC, eval_id ASC) AS rn
  FROM cand WHERE similarity >= 0.3
) WHERE rn = 1
"""


QUERIES["semantic_decontamination"] = q_semantic_decontamination
ORACLES["semantic_decontamination"] = _oracle_semantic_decontamination()


def q_product_profit_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (no partsupp table in the lake, so supply cost
    is proxied as 1% of p_retailprice per unit): profit by supplier
    nation × order year for parts whose name carries a marker word.
    The optimizer exercise is the 5-table star with a LIKE filter on
    the smallest dim: the filtered part key set prunes lineitem first
    and supplier labels the survivors — both UNHINTED (part/supplier
    scale with SF; the planner auto-broadcasts them while small, r11
    audit) — nation (25-row bounded) broadcasts, orders (key join)
    supplies the year. Profit aggregates as exact cents."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%a%e%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    profit_cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long") - F.round(
        F.col("p_retailprice") * F.col("l_quantity")
    ).cast("long")
    return (
        l.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(
            (F.sum(profit_cents) / 100.0).alias("profit"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
    )


ORACLE_Q9_SHAPE = """
SELECT n.n_name AS nation,
       CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
       CAST(SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)
                - CAST(round(p.p_retailprice * l.l_quantity) AS BIGINT)) AS BIGINT)
         / 100.0 AS profit,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE p.p_name LIKE '%a%e%'
GROUP BY 1, 2
"""

QUERIES["product_profit_rollup"] = q_product_profit_rollup
ORACLES["product_profit_rollup"] = ORACLE_Q9_SHAPE


def q_top_revenue_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: per-supplier quarterly revenue, then the
    supplier(s) achieving the MAX — the view-plus-self-aggregate
    pattern. Revenue is an exact BIGINT cents sum on BOTH the ranking
    and the max side, so the equality join cannot flake on float
    summation order (the CLAUDE.md float-threshold rule applied to
    Q15's revenue = max(revenue) equijoin). The 1-row max broadcasts;
    the supplier join is unhinted — the ~1-row winners side is what the
    planner broadcasts, and supplier scales with SF (r11 audit)."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01"))
        & (F.col("l_shipdate") < F.lit("1995-04-01"))
    )
    s = load_table(spark, sf_dir, "supplier")
    rev = l.groupBy("l_suppkey").agg(
        F.sum(
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
            .cast("long")
        ).alias("_rev_cents")
        # materialized ONCE: both the max and the equality join read
        # this |suppliers|-row table — without the checkpoint the
        # lineitem scan + aggregation execute twice
    ).localCheckpoint(eager=True)
    mx = rev.agg(F.max("_rev_cents").alias("_mx"))
    return (
        rev.join(F.broadcast(mx), F.col("_rev_cents") == F.col("_mx"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("s_suppkey").cast("long").alias("s_suppkey"),
            "s_name",
            (F.col("_rev_cents") / 100.0).alias("total_revenue"),
        )
    )


ORACLE_Q15_SHAPE = """
WITH rev AS (
  SELECT l_suppkey,
         CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
              AS BIGINT) AS rev_cents
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1995-01-01'
    AND l_shipdate < TIMESTAMP '1995-04-01'
  GROUP BY 1)
SELECT CAST(s.s_suppkey AS BIGINT) AS s_suppkey, s.s_name,
       rev_cents / 100.0 AS total_revenue
FROM rev JOIN supplier s ON rev.l_suppkey = s.s_suppkey
WHERE rev_cents = (SELECT max(rev_cents) FROM rev)
"""

QUERIES["top_revenue_suppliers"] = q_top_revenue_suppliers
ORACLES["top_revenue_suppliers"] = ORACLE_Q15_SHAPE


def q_bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-training prep (operators.text.bpe_merge_pair_counts):
    the corpus-weighted adjacent character-pair counts BPE's first
    merge argmaxes over. The corpus collapses to the distinct-word
    vocabulary before pair generation, so the pair explode is
    |vocab|-sized, not |corpus|-sized."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.text import (
        bpe_merge_pair_counts,
    )

    return bpe_merge_pair_counts(
        load_table(spark, sf_dir, "documents"), top_k=20
    )


ORACLE_BPE_PAIRS = """
WITH words AS (
  SELECT lower(w) AS word, CAST(COUNT(*) AS BIGINT) AS wf
  FROM documents, unnest(string_split_regex(text, '\\s+')) AS t(w)
  WHERE regexp_matches(lower(w), '^[a-z]{2,}$')
  GROUP BY 1),
pairs AS (
  SELECT p AS pair, CAST(SUM(wf) AS BIGINT) AS n
  FROM words, unnest([substr(word, i, 2) FOR i IN range(1, length(word))]) AS t(p)
  GROUP BY 1)
SELECT pair, n, CAST(row_number() OVER (ORDER BY n DESC, pair ASC) AS BIGINT) AS rank
FROM pairs QUALIFY rank <= 20
"""

QUERIES["bpe_merge_pairs"] = q_bpe_merge_pairs
ORACLES["bpe_merge_pairs"] = ORACLE_BPE_PAIRS


def q_user_modal_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MODE aggregate (Spark 4 ``F.mode(col, True)``):
    each user's most frequent event type, ties broken toward the
    lexicographically smallest value. DuckDB's ``mode()`` tiebreak is
    first-encountered (partition-order-dependent), so the oracle
    replays the deterministic rule as an argmax over exact counts —
    the engine-portable formulation of the same aggregate. Single
    hash aggregate on the user key; a map-side partial fold carries
    at most |event types| counters per user."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.filter(F.col("user_id") < 200)
        .groupBy("user_id")
        .agg(
            F.mode("event_type", True).alias("modal_event"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
    )


# NULL handling must match Spark's: mode() is a NULL-ignoring
# aggregate (a NULL-majority group still yields the most frequent
# NON-NULL value) while COUNT(*) counts every row — so the argmax CTE
# excludes NULL keys and the row total is carried separately.
ORACLE_USER_MODAL_EVENT = """
WITH tot AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events WHERE user_id < 200 GROUP BY 1),
c AS (
  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM events WHERE user_id < 200 AND event_type IS NOT NULL
  GROUP BY 1, 2),
r AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY n DESC, event_type ASC) AS rn
  FROM c)
SELECT t.user_id, r.event_type AS modal_event, t.n_events
FROM tot t LEFT JOIN r ON t.user_id = r.user_id AND r.rn = 1
"""

QUERIES["user_modal_event"] = q_user_modal_event
ORACLES["user_modal_event"] = ORACLE_USER_MODAL_EVENT


def q_bloom_filtered_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter join (Catalyst's InjectRuntimeFilter):
    when the dim side of a SHUFFLE join carries a selective literal
    filter, the optimizer builds a bloom filter over the dim's join
    keys and pushes a ``might_contain`` predicate into the FACT
    side's scan — rows that cannot match are dropped BEFORE the
    shuffle, the runtime complement of static predicate pushdown and
    the shuffle-join analogue of DPP (which needs a partitioned
    fact). The join is hinted MERGE to model the
    fact-too-big-to-broadcast regime the filter exists for; the
    10 GB application-side threshold is lowered for the bounded run
    (a 100 TB fact clears it on its own), scoped by materializing
    eagerly under the conf. Plan pinned in tests/test_plans.py."""
    # two confs scoped to the eager materialization: the 10 GB
    # application-side floor (a real 100 TB fact clears it on its own)
    # and the broadcast threshold — InjectRuntimeFilter's
    # isProbablyShuffleJoin refuses when the dim is broadcast-able by
    # size, which every dim is at toy SF
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    with scoped_conf(spark, confs):
        l = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_orderdate") >= F.lit("1995-03-01"))
            & (F.col("o_orderdate") < F.lit("1995-04-01"))
        )
        out = (
            l.join(o.hint("merge"), F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_lines"),
                _scaled_sum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")),
                    100,
                    "revenue",
                ),
            )
        )
        return out.localCheckpoint(eager=True)


ORACLE_BLOOM_JOIN = """
SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
            AS BIGINT) / 100.0 AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderpriority = '1-URGENT'
  AND o.o_orderdate >= TIMESTAMP '1995-03-01'
  AND o.o_orderdate < TIMESTAMP '1995-04-01'
GROUP BY 1
"""

QUERIES["bloom_filtered_join"] = q_bloom_filtered_join
ORACLES["bloom_filtered_join"] = ORACLE_BLOOM_JOIN


def q_stream_outer_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream join executed as a real streaming job
    (streaming.joins.attribution_outer_join_once): clicks with no
    purchase inside the 30-minute horizon emit null-padded ONLY once
    the global watermark proves no match can still arrive — the
    watermark-gated null-emission semantics inner joins don't have.
    Aggregated per user into matched/unmatched click counts; the
    oracle replays the emission rule (batch LEFT interval join +
    min-of-both-sides ms-truncated watermark cut on eviction time)."""
    import os as _os

    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.joins import (
        attribution_outer_join_once,
    )

    out = attribution_outer_join_once(
        spark, _os.path.join(sf_dir, "events.parquet")
    )
    return (
        out.groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.count_if(F.col("right_id").isNull())
            .cast("long")
            .alias("n_unmatched"),
            _scaled_sum(F.coalesce(F.col("right_value"), F.lit(0.0)), 10000,
                        "attributed_value"),
        )
        .withColumnRenamed("k", "user_id")
    )


ORACLE_STREAM_OUTER_ATTRIBUTION = """
WITH l AS (
  SELECT user_id, event_id AS left_id, ts AS left_ts
  FROM events WHERE event_type = 'click'),
r AS (
  SELECT user_id, event_id AS right_id, ts AS right_ts, value AS right_value
  FROM events WHERE event_type = 'purchase'),
wm AS (
  SELECT least(
    (SELECT (epoch_us(max(ts)) // 1000) * 1000 FROM events
      WHERE event_type = 'click'),
    (SELECT (epoch_us(max(ts)) // 1000) * 1000 FROM events
      WHERE event_type = 'purchase')) - 7200000000 AS v),
j AS (
  SELECT l.user_id, l.left_id, l.left_ts,
         r.right_id, r.right_value
  FROM l LEFT JOIN r
    ON l.user_id = r.user_id
   AND r.right_ts >= l.left_ts
   AND r.right_ts <= l.left_ts + INTERVAL 30 MINUTE),
emitted AS (
  SELECT * FROM j, wm
  WHERE right_id IS NOT NULL
     OR epoch_us(left_ts + INTERVAL 30 MINUTE) < wm.v)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(count_if(right_id IS NULL) AS BIGINT) AS n_unmatched,
       CAST(SUM(CAST(round(coalesce(right_value, 0.0) * 10000) AS BIGINT))
            AS BIGINT) / 10000.0 AS attributed_value
FROM emitted GROUP BY 1
"""

QUERIES["stream_outer_attribution"] = q_stream_outer_attribution
ORACLES["stream_outer_attribution"] = ORACLE_STREAM_OUTER_ATTRIBUTION


def q_stream_join_then_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained stateful operators in one streaming query
    (streaming.joins.chained_join_window_once): stream-stream
    attribution join → hourly tumbling rollup, two state stores, one
    checkpoint. The oracle models the propagated watermark: the join
    can emit event times up to the 30-min horizon older than the
    global watermark, so the window cut is end ≤ W − horizon (pinned
    against dense synthetic data; see the operator docstring)."""
    import os as _os

    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.joins import (
        chained_join_window_once,
    )

    out = chained_join_window_once(
        spark, _os.path.join(sf_dir, "events.parquet")
    )
    return out.select(
        epoch_us("window_start").alias("window_start_us"),
        "n_attributed",
        "attributed_value",
    )


ORACLE_STREAM_JOIN_THEN_WINDOW = """
WITH wm AS (
  SELECT least(
    (SELECT (epoch_us(max(ts)) // 1000) * 1000 FROM events
      WHERE event_type = 'click'),
    (SELECT (epoch_us(max(ts)) // 1000) * 1000 FROM events
      WHERE event_type = 'purchase')) - 7200000000 - 1800000000 AS v),
j AS (
  SELECT p.ts AS right_ts, p.value AS right_value
  FROM events c JOIN events p
    ON c.user_id = p.user_id
   AND c.event_type = 'click' AND p.event_type = 'purchase'
   AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE)
SELECT epoch_us(date_trunc('hour', right_ts)) AS window_start_us,
       CAST(COUNT(*) AS BIGINT) AS n_attributed,
       CAST(SUM(CAST(round(right_value * 10000) AS BIGINT)) AS BIGINT)
         / 10000.0 AS attributed_value
FROM j, wm
GROUP BY 1, wm.v
HAVING epoch_us(date_trunc('hour', min(right_ts)) + INTERVAL 1 HOUR) <= wm.v
"""

QUERIES["stream_join_then_window"] = q_stream_join_then_window
ORACLES["stream_join_then_window"] = ORACLE_STREAM_JOIN_THEN_WINDOW


def q_pyds_writer_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource WRITER (Spark 4 API,
    sources.pyds.JsonlAuditDataSource): the per-priority order audit
    written through the two-phase-commit jsonl sink — executors stage
    part files, the driver's commit() publishes the manifest — then
    read back trusting ONLY the manifest. The reference's BigQuery
    insert loop (src/process_insert_places_data.py:30-49) as a
    planned, partition-parallel, atomically-committed sink. Revenue
    rides as exact BIGINT cents so the JSON hop is lossless."""
    import tempfile as _tempfile

    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.sources.pyds import (
        read_jsonl_audit,
        register_jsonl_audit,
    )

    register_jsonl_audit(spark)
    o = load_table(spark, sf_dir, "orders")
    summary = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "revenue_cents"
        ),
    )
    path = _tempfile.mkdtemp(prefix="jsonl_audit_")
    summary.write.format("jsonl_audit").option("path", path).mode(
        "append"
    ).save()
    back = read_jsonl_audit(
        spark,
        path,
        "o_orderpriority string, n_orders long, revenue_cents long",
    )
    result = back.select(
        "o_orderpriority",
        "n_orders",
        (F.col("revenue_cents") / 100.0).alias("revenue"),
    ).localCheckpoint(eager=True)
    import shutil as _shutil

    _shutil.rmtree(path, ignore_errors=True)
    return result


ORACLE_PYDS_WRITER = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0
         AS revenue
FROM orders GROUP BY 1
"""

QUERIES["pyds_writer_roundtrip"] = q_pyds_writer_roundtrip
ORACLES["pyds_writer_roundtrip"] = ORACLE_PYDS_WRITER


def q_sql_variables_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL session variables + EXECUTE IMMEDIATE (Spark 4): thresholds
    DECLAREd and SET as typed session state, consumed by a query
    template run through EXECUTE IMMEDIATE with a USING bind — the
    engine-level form of the reference's f-string SQL assembly
    (``src/process_insert_places_data.py:30-41``), with zero string
    interpolation of values. The rollup itself: per-segment customer
    counts above an account-balance floor, floor carried in a
    variable, segment filter bound via USING."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "customer_vars"
    )
    spark.sql(
        "DECLARE OR REPLACE VARIABLE bal_floor DOUBLE DEFAULT 0.0"
    )
    spark.sql("SET VAR bal_floor = 1000.0")
    spark.sql("DECLARE OR REPLACE VARIABLE stmt STRING")
    spark.sql(
        """SET VAR stmt =
        'SELECT c_mktsegment,
                CAST(COUNT(*) AS BIGINT) AS n_rich,
                CAST(CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT))
                          AS DOUBLE) / 100.0 AS DOUBLE) AS total_balance
         FROM customer_vars
         WHERE c_acctbal > bal_floor AND c_mktsegment != ?
         GROUP BY 1'
        """
    )
    return spark.sql("EXECUTE IMMEDIATE stmt USING 'MACHINERY'")


ORACLE_SQL_VARIABLES = """
SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_rich,
       CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) / 100.0
         AS total_balance
FROM customer
WHERE c_acctbal > 1000.0 AND c_mktsegment != 'MACHINERY'
GROUP BY 1
"""

QUERIES["sql_variables_rollup"] = q_sql_variables_rollup
ORACLES["sql_variables_rollup"] = ORACLE_SQL_VARIABLES


def q_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (operators.pii.l_diversity_audit): customer
    nation groups where the sensitive market-segment attribute shows
    fewer than 5 distinct values — the homogeneity-attack report
    k-anonymity misses (a large group that is all one segment still
    discloses the segment)."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.pii import (
        l_diversity_audit,
    )

    c = load_table(spark, sf_dir, "customer")
    return l_diversity_audit(c, ["c_nationkey"], "c_mktsegment", l=5)


ORACLE_L_DIVERSITY = """
SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS group_size,
       CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS n_sensitive
FROM customer GROUP BY 1 HAVING COUNT(DISTINCT c_mktsegment) < 5
"""

QUERIES["l_diversity_audit"] = q_l_diversity_audit
ORACLES["l_diversity_audit"] = ORACLE_L_DIVERSITY


def q_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-yield report over the sequence-packing plan
    (operators.packing.pack_documents): bins used vs the ideal
    ceil(total/budget), boundary-spanning doc count, and fill rate in
    exact per-mille — the waste metric a context-window budget owner
    watches. Composes the verified pack plan; one extra 1-row
    aggregate (all-integer arithmetic, no float sums)."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.packing import (
        pack_documents,
    )

    budget = 512
    d = parallelize(load_table(spark, sf_dir, "documents"))
    packed = pack_documents(
        d, "doc_id", F.size(F.split(F.col("text"), " ")), budget=budget
    )
    return packed.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
        (F.max("end_bin_id") + 1).cast("long").alias("bins_used"),
        (
            (F.sum("n_tok") + F.lit(budget - 1)) / F.lit(budget)
        ).cast("long").alias("bins_ideal"),
        F.count_if("spans_boundary").cast("long").alias("n_spanning"),
        (F.sum("n_tok") * 1000 / ((F.max("end_bin_id") + 1) * budget))
        .cast("long")
        .alias("fill_permille"),
    )


ORACLE_PACKING_EFFICIENCY = """
WITH toks AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         substr(md5('pack' || chr(31) || CAST(doc_id AS VARCHAR)), 1, 16)
           AS h
  FROM documents),
ordered AS (
  SELECT doc_id, n_tok,
         COALESCE(SUM(n_tok) OVER (ORDER BY h, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
  FROM toks),
plan AS (
  SELECT n_tok, start // 512 AS bin_id,
         (start + greatest(n_tok - 1, 0)) // 512 AS end_bin_id
  FROM ordered)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       CAST(MAX(end_bin_id) + 1 AS BIGINT) AS bins_used,
       CAST((SUM(n_tok) + 511) // 512 AS BIGINT) AS bins_ideal,
       CAST(count_if(bin_id != end_bin_id) AS BIGINT) AS n_spanning,
       CAST(SUM(n_tok) * 1000 // ((MAX(end_bin_id) + 1) * 512) AS BIGINT)
         AS fill_permille
FROM plan
"""

QUERIES["packing_efficiency"] = q_packing_efficiency
ORACLES["packing_efficiency"] = ORACLE_PACKING_EFFICIENCY


def q_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the part co-purchase graph — parts are
    connected when some order contains both (per-order pair fanout is
    bounded by order size, so edge generation is linear in lineitem).
    Exercises operators.graph.triangle_count's degree-ordered
    orientation (hub-proof wedge generation). Graph-shape audits like
    this are the clustering-coefficient input of recommendation / GNN
    feature pipelines."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.graph import (
        triangle_count,
    )

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    x, y = li.alias("x"), li.alias("y")
    pairs = x.join(
        y,
        (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
        & (F.col("x.l_partkey") < F.col("y.l_partkey")),
    ).select(F.col("x.l_partkey").alias("a"), F.col("y.l_partkey").alias("b"))
    return triangle_count(pairs, "a", "b")


ORACLE_COPURCHASE_TRIANGLES = """
WITH pairs AS (
  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
  FROM lineitem x JOIN lineitem y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
nodes AS (SELECT a AS n FROM pairs UNION SELECT b FROM pairs),
tri AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM pairs e1
  JOIN pairs e2 ON e2.a = e1.b
  JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM nodes) AS n_nodes,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_edges,
       n_triangles
FROM tri
"""

QUERIES["copurchase_triangles"] = q_copurchase_triangles
ORACLES["copurchase_triangles"] = ORACLE_COPURCHASE_TRIANGLES


def q_vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary-coverage audit against the corpus top-500
    token vocabulary (operators.text.vocab_coverage): token totals,
    OOV count, exact per-mille OOV rate, distinct tokens."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.text import (
        vocab_coverage,
    )

    d = parallelize(load_table(spark, sf_dir, "documents"))
    return vocab_coverage(d, "text", "source", k=500)


ORACLE_VOCAB_OOV = """
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
t AS (SELECT source, tok FROM toks WHERE tok != ''),
vocab AS (
  SELECT tok FROM (
    SELECT tok, COUNT(*) AS c FROM t GROUP BY 1
    ORDER BY c DESC, tok ASC LIMIT 500))
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(count_if(tok NOT IN (SELECT tok FROM vocab)) AS BIGINT) AS n_oov,
       CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_unique,
       CAST(count_if(tok NOT IN (SELECT tok FROM vocab)) * 1000
            // COUNT(*) AS BIGINT) AS oov_permille
FROM t GROUP BY 1
"""

QUERIES["vocab_oov_rate"] = q_vocab_oov_rate
ORACLES["vocab_oov_rate"] = ORACLE_VOCAB_OOV


def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most-covariant embedding dimension pairs by exact int64
    covariance numerator |n·Σxy − Σx·Σy| over floor(x·10⁴)-scaled
    components (operators.linalg.top_covariant_pairs) — the PCA /
    whitening step-1 moment computation as a mapInArrow partial-Gram
    reduce: each partition emits d(d+1)/2 int64 partials, one hash agg
    combines them; the vectors themselves never shuffle."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.linalg import (
        top_covariant_pairs,
    )

    e = parallelize(load_table(spark, sf_dir, "embeddings"))
    return top_covariant_pairs(e, "embedding", dim=64, k=20)


ORACLE_EMBEDDING_COVARIANCE = """
WITH comp AS (
  SELECT vec_id,
         generate_subscripts(embedding, 1) - 1 AS d,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000.0) AS BIGINT)
           AS q
  FROM embeddings),
pairs AS (
  SELECT a.d AS dim_i, b.d AS dim_j,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(a.q) AS BIGINT) AS sx,
         CAST(SUM(b.q) AS BIGINT) AS sy,
         CAST(SUM(a.q * b.q) AS BIGINT) AS sxy
  FROM comp a JOIN comp b ON a.vec_id = b.vec_id AND a.d < b.d
  GROUP BY 1, 2)
SELECT dim_i, dim_j, n_rows,
       CAST(n_rows * sxy - sx * sy AS BIGINT) AS cov_num
FROM pairs
ORDER BY abs(n_rows * sxy - sx * sy) DESC, dim_i, dim_j
LIMIT 20
"""

QUERIES["embedding_covariance"] = q_embedding_covariance
ORACLES["embedding_covariance"] = ORACLE_EMBEDDING_COVARIANCE


def q_label_scatter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label per-dimension exact moments (n, Σx, Σx²) of the
    scaled embeddings (operators.linalg.grouped_moments) — the
    within-class scatter diagonal of Fisher-discriminant prep, via
    applyInArrow (grouped Arrow table in/out, one shuffle on label)."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.linalg import (
        grouped_moments,
    )

    e = parallelize(load_table(spark, sf_dir, "embeddings"))
    return grouped_moments(e, "label", "embedding", dim=64)


ORACLE_LABEL_SCATTER = """
SELECT label,
       CAST(d AS INTEGER) AS dim,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(q) AS BIGINT) AS sx,
       CAST(SUM(q * q) AS BIGINT) AS sxx
FROM (
  SELECT label,
         generate_subscripts(embedding, 1) - 1 AS d,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000.0) AS BIGINT)
           AS q
  FROM embeddings)
GROUP BY 1, 2
"""

QUERIES["label_scatter"] = q_label_scatter
ORACLES["label_scatter"] = ORACLE_LABEL_SCATTER


def q_bpe_apply_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLY over the corpus: run the fixed 10-rule BPE merge
    table (operators.text.bpe_apply_tokens — engine-exact marker-framed
    literal replaces) on every alpha word, report the top-30 subword
    tokens with exact counts (count desc, token asc tiebreak) — the
    inference-side complement of the bpe_merge_pairs training-prep
    query."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.text import (
        bpe_apply_tokens,
    )

    d = parallelize(load_table(spark, sf_dir, "documents"))
    toks = bpe_apply_tokens(d, "text")
    return (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok").asc())
        .limit(30)
    )


ORACLE_BPE_APPLY = """
WITH words AS (
  SELECT w FROM (
    SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
  WHERE regexp_full_match(w, '[a-z]+')),
sym AS (
  SELECT trim(regexp_replace(w, '(.)', '|\\1| ', 'g')) AS s FROM words),
merged AS (
  SELECT replace(replace(replace(replace(replace(replace(replace(replace(
         replace(replace(s,
           '|t| |h|', '|th|'),
           '|th| |e|', '|the|'),
           '|i| |n|', '|in|'),
           '|a| |n|', '|an|'),
           '|an| |d|', '|and|'),
           '|e| |r|', '|er|'),
           '|o| |n|', '|on|'),
           '|r| |e|', '|re|'),
           '|o| |u|', '|ou|'),
           '|in| |g|', '|ing|') AS s
  FROM sym),
toks AS (
  SELECT replace(t, '|', '') AS tok
  FROM (SELECT unnest(string_split(s, ' ')) AS t FROM merged)
  WHERE replace(t, '|', '') != '')
SELECT tok, CAST(COUNT(*) AS BIGINT) AS n
FROM toks GROUP BY 1
ORDER BY n DESC, tok ASC LIMIT 30
"""

QUERIES["bpe_apply_topk"] = q_bpe_apply_topk
ORACLES["bpe_apply_topk"] = ORACLE_BPE_APPLY


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle-containment near-dup pairs at C ≥ 4/5
    (operators.dedup_near.containment_pairs): the subset-duplication
    detector — exact, asymmetric-prefix-filtered, integer-gated."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.dedup_near import (
        containment_pairs,
    )

    return containment_pairs(
        load_table(spark, sf_dir, "documents"), threshold_num=4, threshold_den=5
    )


ORACLE_CONTAINMENT = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i) g
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS src, b.doc_id AS dst, COUNT(*) AS shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id != b.doc_id
  GROUP BY 1, 2
)
SELECT src, dst, CAST(shared AS BIGINT) AS shared,
       CAST(s1.n_sh AS BIGINT) AS n_src, CAST(s2.n_sh AS BIGINT) AS n_dst,
       round(shared / s1.n_sh, 6) AS containment
FROM shared JOIN sizes s1 ON src = s1.doc_id JOIN sizes s2 ON dst = s2.doc_id
WHERE shared * 5 >= s1.n_sh * 4
"""

QUERIES["containment_pairs"] = q_containment_pairs
ORACLES["containment_pairs"] = ORACLE_CONTAINMENT


def q_discriminative_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 (token, source) chi-square association cells
    (operators.text.discriminative_tokens) — the source-boilerplate
    detector; exact integer cells, deterministic scalar χ²."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.text import (
        discriminative_tokens,
    )

    d = parallelize(load_table(spark, sf_dir, "documents"))
    return discriminative_tokens(d, "text", "source", min_token_total=100, k=20)


ORACLE_DISCRIMINATIVE = """
WITH toks AS (
  SELECT source, tok FROM (
    SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
  WHERE tok != ''),
cells AS (
  SELECT tok, source, CAST(COUNT(*) AS BIGINT) AS a
  FROM toks GROUP BY 1, 2),
tok_tot AS (
  SELECT tok, CAST(SUM(a) AS BIGINT) AS tt FROM cells GROUP BY 1
  HAVING SUM(a) >= 100),
grp_tot AS (SELECT source, CAST(SUM(a) AS BIGINT) AS ss FROM cells GROUP BY 1),
total AS (SELECT CAST(SUM(a) AS BIGINT) AS nn FROM cells),
scored AS (
  SELECT c.tok, c.source, c.a AS n_cell, t.tt AS token_total,
         g.ss AS group_total,
         round(
           CAST(nn AS DOUBLE)
           * (CAST(c.a AS DOUBLE)
                * CAST(nn - t.tt - g.ss + c.a AS DOUBLE)
              - CAST(t.tt - c.a AS DOUBLE) * CAST(g.ss - c.a AS DOUBLE))
           * (CAST(c.a AS DOUBLE)
                * CAST(nn - t.tt - g.ss + c.a AS DOUBLE)
              - CAST(t.tt - c.a AS DOUBLE) * CAST(g.ss - c.a AS DOUBLE))
           / (CAST(t.tt AS DOUBLE) * CAST(nn - t.tt AS DOUBLE)
              * CAST(g.ss AS DOUBLE) * CAST(nn - g.ss AS DOUBLE)),
           6) AS chi2
  FROM cells c JOIN tok_tot t ON c.tok = t.tok
  JOIN grp_tot g ON c.source = g.source
  CROSS JOIN total)
SELECT tok, source, n_cell, token_total, group_total, chi2
FROM scored
ORDER BY chi2 DESC, tok ASC, source ASC LIMIT 20
"""

QUERIES["discriminative_tokens"] = q_discriminative_tokens
ORACLES["discriminative_tokens"] = ORACLE_DISCRIMINATIVE


def q_excess_volume_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape adapted to the lake's schema (no partsupp table):
    the nested IN chain — suppliers who, for SOME red-prefixed part,
    shipped more than 50 scaled units in 1996 — lowered the way
    Catalyst decorrelates it: the red-part key set semi-joins into
    the lineitem scan UNHINTED (part scales with SF; the planner
    broadcasts it while small — r11 audit), the grouped HAVING
    aggregate runs once,
    and the outer IN becomes a left-semi join against the aggregated
    supplier keys. The HAVING threshold compares a SCALED-BIGINT
    quantity sum (the float-SUM boundary rule)."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    red = p.filter(F.col("p_name").like("red%")).select("p_partkey")
    hot = (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
        )
        .join(red, l.l_partkey == red.p_partkey, "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.round(F.col("l_quantity") * 100).cast("long")).alias("_q"))
        .filter(F.col("_q") > 5000)
        .select(F.col("l_suppkey").alias("s_suppkey"))
        .distinct()
    )
    return s.join(hot, "s_suppkey", "left_semi").select("s_suppkey", "s_name")


ORACLE_EXCESS_VOLUME = """
SELECT s_suppkey, s_name FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
    AND l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY l_suppkey, l_partkey
  HAVING SUM(CAST(round(l_quantity * 100) AS BIGINT)) > 5000
)
"""

QUERIES["excess_volume_suppliers"] = q_excess_volume_suppliers
ORACLES["excess_volume_suppliers"] = ORACLE_EXCESS_VOLUME


def q_null_safe_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality (`<=>` / IS NOT DISTINCT FROM) through a
    FULL OUTER join — the reconciliation shape a partially-keyed
    dimension forces: per-(source, language) document counts of the
    even and odd corpus halves compared, with 'en' mapped to NULL so
    missing-key groups must still pair up (plain `=` would orphan
    every NULL group into two dangling outer rows). Exercises
    eqNullSafe join keys + full-outer coalesced key projection."""
    d = load_table(spark, sf_dir, "documents")
    key = F.nullif(F.col("lang"), F.lit("en")).alias("lang_key")
    halves = [
        d.filter(F.pmod("doc_id", F.lit(2)) == i)
        .groupBy(F.col("source").alias(f"src{i}"), key)
        .agg(F.count(F.lit(1)).cast("long").alias(f"n{i}"))
        .withColumnRenamed("lang_key", f"lk{i}")
        for i in (0, 1)
    ]
    a, b = halves
    joined = a.join(
        b,
        (F.col("src0") == F.col("src1")) & F.col("lk0").eqNullSafe(F.col("lk1")),
        "full",
    )
    return joined.select(
        F.coalesce("src0", "src1").alias("source"),
        F.coalesce("lk0", "lk1").alias("lang_key"),
        F.coalesce("n0", F.lit(0)).cast("long").alias("n_even"),
        F.coalesce("n1", F.lit(0)).cast("long").alias("n_odd"),
    )


ORACLE_NULL_SAFE_RECONCILE = """
WITH a AS (
  SELECT source AS src0, nullif(lang, 'en') AS lk0,
         CAST(COUNT(*) AS BIGINT) AS n0
  FROM documents WHERE doc_id % 2 = 0 GROUP BY 1, 2),
b AS (
  SELECT source AS src1, nullif(lang, 'en') AS lk1,
         CAST(COUNT(*) AS BIGINT) AS n1
  FROM documents WHERE doc_id % 2 = 1 GROUP BY 1, 2)
SELECT COALESCE(src0, src1) AS source,
       COALESCE(lk0, lk1) AS lang_key,
       COALESCE(n0, 0) AS n_even,
       COALESCE(n1, 0) AS n_odd
FROM a FULL JOIN b
  ON a.src0 = b.src1 AND a.lk0 IS NOT DISTINCT FROM b.lk1
"""

QUERIES["null_safe_reconcile"] = q_null_safe_reconcile
ORACLES["null_safe_reconcile"] = ORACLE_NULL_SAFE_RECONCILE


def q_bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language (operators.text.bpe_fertility):
    subwords-per-word under the fixed 10-rule merge table — the
    multilingual tokenizer-fit audit beside vocab_oov_rate. Map-only
    merge application + one group aggregate."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.text import (
        bpe_fertility,
    )

    return bpe_fertility(
        parallelize(load_table(spark, sf_dir, "documents")), "text", "lang"
    )


def _oracle_bpe_fertility() -> str:
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.text import (
        BPE_MERGES,
    )

    chain = "s"
    for x, y in BPE_MERGES:
        chain = f"replace({chain}, '|{x}| |{y}|', '|{x}{y}|')"
    return f"""
WITH words AS (
  SELECT lang, w FROM (
    SELECT lang, unnest(string_split(lower(text), ' ')) AS w FROM documents)
  WHERE regexp_full_match(w, '[a-z]+')),
sym AS (
  SELECT lang, trim(regexp_replace(w, '(.)', '|\\1| ', 'g')) AS s FROM words),
merged AS (SELECT lang, {chain} AS m FROM sym)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(len(string_split(m, ' '))) AS BIGINT) AS n_subwords,
       round(CAST(SUM(len(string_split(m, ' '))) AS DOUBLE) / COUNT(*), 6)
         AS fertility
FROM merged GROUP BY lang
"""


QUERIES["bpe_fertility_by_lang"] = q_bpe_fertility_by_lang
ORACLES["bpe_fertility_by_lang"] = _oracle_bpe_fertility()


# ------------------------------------------------------------- round 7


def q_order_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape adapted to the lake's schema (no commitdate): order
    counts per priority for a quarter, restricted to orders with at
    least one SLOW lineitem (shipped > 60 days after the order date) —
    the correlated EXISTS lowered as a left-semi join whose condition
    mixes an equi-key with a cross-table inequality. Catalyst keeps
    the equi-part as the shuffle key and evaluates the inequality as a
    post-join residual; the quarter filter prunes the probe side
    before the exchange."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    win = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01"))
        & (F.col("o_orderdate") < F.lit("1996-10-01"))
    )
    slow = win.join(
        l,
        (l.l_orderkey == win.o_orderkey)
        & (l.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return slow.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )


ORACLE_ORDER_PRIORITY = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-07-01'
  AND o_orderdate < TIMESTAMP '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
"""

QUERIES["order_priority_counts"] = q_order_priority_counts
ORACLES["order_priority_counts"] = ORACLE_ORDER_PRIORITY


def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 shape: revenue by nation where the CUSTOMER and the SUPPLIER
    sit in the same nation (the two-sided nation-key equality that
    makes Q5 distinctive — it rides the supplier join as an extra
    conjunct, not a separate shuffle), region- and date-filtered.
    Region⋈nation broadcast into customer (bounded dims); the
    supplier join is UNHINTED — supplier scales with SF, so the
    planner broadcasts it while small and shuffles at scale (r11
    audit). Revenue is the scaled-BIGINT sum."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    c = load_table(spark, sf_dir, "customer").join(
        F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")
    )
    s = load_table(spark, sf_dir, "supplier")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            s,
            (l.l_suppkey == s.s_suppkey)
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(_scaled_sum(rev, 10000, "revenue"))
    )


ORACLE_LOCAL_SUPPLIER = """
SELECT n_name,
       CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) / 10000.0 AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
"""

QUERIES["local_supplier_volume"] = q_local_supplier_volume
ORACLES["local_supplier_volume"] = ORACLE_LOCAL_SUPPLIER


def q_t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness over orders (quasi-identifier: priority; sensitive:
    status) — exact-integer total-variation distance per group vs the
    global sensitive distribution (operators.pii.t_closeness_audit),
    6dp-rounded only at the final per-group division. t=0.005 splits
    the flag at both test scales."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.pii import (
        t_closeness_audit,
    )

    o = load_table(spark, sf_dir, "orders")
    return t_closeness_audit(o, ["o_orderpriority"], "o_orderstatus", 0.005)


ORACLE_T_CLOSENESS = """
WITH gc AS (SELECT o_orderpriority, o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_gc
            FROM orders GROUP BY 1, 2),
g AS (SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_g FROM orders GROUP BY 1),
c AS (SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_c FROM orders GROUP BY 1),
t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM orders)
SELECT o_orderpriority,
       n_g AS group_size,
       round(CAST(SUM(ABS(COALESCE(n_gc, 0) * n_total - n_c * n_g)) AS DOUBLE)
             / (2.0 * n_total * n_g), 6) AS tvd,
       round(CAST(SUM(ABS(COALESCE(n_gc, 0) * n_total - n_c * n_g)) AS DOUBLE)
             / (2.0 * n_total * n_g), 6) > 0.005 AS violates_t
FROM g CROSS JOIN c CROSS JOIN t
LEFT JOIN gc USING (o_orderpriority, o_orderstatus)
GROUP BY o_orderpriority, n_g, n_total
"""

QUERIES["t_closeness_audit"] = q_t_closeness_audit
ORACLES["t_closeness_audit"] = ORACLE_T_CLOSENESS


def q_shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source novel-shingle rate over the documents corpus
    (operators.dedup_near.shingle_novelty): first-seen attribution by
    min doc id, linear plan (explode → min-agg → per-doc counts →
    per-source rollup), no pair generation."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.dedup_near import (
        shingle_novelty,
    )

    return shingle_novelty(load_table(spark, sf_dir, "documents"))


ORACLE_SHINGLE_NOVELTY = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i) g
),
per_doc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id),
novel AS (
  SELECT first_doc AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_novel
  FROM (SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle)
  GROUP BY first_doc
)
SELECT d.source,
       CAST(SUM(p.n_sh) AS BIGINT) AS n_shingles,
       CAST(SUM(COALESCE(v.n_novel, 0)) AS BIGINT) AS n_novel,
       round(CAST(SUM(COALESCE(v.n_novel, 0)) AS DOUBLE) / SUM(p.n_sh), 6) AS novelty_rate
FROM per_doc p
LEFT JOIN novel v USING (doc_id)
JOIN documents d USING (doc_id)
GROUP BY d.source
"""

QUERIES["shingle_novelty"] = q_shingle_novelty
ORACLES["shingle_novelty"] = ORACLE_SHINGLE_NOVELTY


def q_minhash_signature_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature mergeability audit per source
    (operators.dedup_near.minhash_merge_audit): sig(A∪B) must equal
    the slotwise min of the halves' signatures, with the slot-agreement
    Jaccard estimate reported beside the exact Jaccard of the halves.
    md5-hex lexicographic minima — engine-exact on both sides."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.dedup_near import (
        minhash_merge_audit,
    )

    return minhash_merge_audit(load_table(spark, sf_dir, "documents"), k=8)


def _oracle_minhash_merge(k: int = 8) -> str:
    mins = ",\n       ".join(
        f"MIN(md5('{j}:' || shingle)) AS a{j}, "
        f"MIN(CASE WHEN par = 0 THEN md5('{j}:' || shingle) END) AS e{j}, "
        f"MIN(CASE WHEN par = 1 THEN md5('{j}:' || shingle) END) AS o{j}"
        for j in range(k)
    )
    merged = " + ".join(
        f"COALESCE(CAST(a{j} = least(COALESCE(e{j}, o{j}), COALESCE(o{j}, e{j})) AS BIGINT), 0)"
        for j in range(k)
    )
    agree = " + ".join(
        f"COALESCE(CAST(e{j} = o{j} AS BIGINT), 0)" for j in range(k)
    )
    return f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh0 AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i) g
),
shp AS (
  SELECT DISTINCT d.source, doc_id % 2 AS par, shingle
  FROM sh0 JOIN documents d USING (doc_id)
),
sig AS (SELECT source, {mins} FROM shp GROUP BY source),
persh AS (
  SELECT source, shingle,
         MAX(CASE WHEN par = 0 THEN 1 ELSE 0 END) AS he,
         MAX(CASE WHEN par = 1 THEN 1 ELSE 0 END) AS ho
  FROM shp GROUP BY source, shingle
),
exact AS (
  SELECT source,
         CAST(SUM(CASE WHEN he = 1 AND ho = 1 THEN 1 ELSE 0 END) AS BIGINT) AS inter,
         CAST(COUNT(*) AS BIGINT) AS un
  FROM persh GROUP BY source
)
SELECT s.source,
       CAST({k} AS BIGINT) AS n_slots,
       CAST({merged} AS BIGINT) AS n_merge_equal,
       round(({agree}) / {k}.0, 6) AS est_jaccard,
       round(CAST(inter AS DOUBLE) / un, 6) AS exact_jaccard
FROM sig s JOIN exact USING (source)
"""


QUERIES["minhash_signature_merge"] = q_minhash_signature_merge
ORACLES["minhash_signature_merge"] = _oracle_minhash_merge()


def q_pq_codebook_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization assignment audit over the embeddings
    corpus (operators.similarity.pq_assign_audit): 4 subspaces × 4
    codes from the frozen integer codebook, per-cell population and
    mean reconstruction error — exact int64 distances on both
    engines."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.similarity import (
        pq_assign_audit,
    )

    return pq_assign_audit(load_table(spark, sf_dir, "embeddings"))


def _oracle_pq(m: int = 4, k: int = 4, dim: int = 64) -> str:
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.similarity import (
        pq_codebooks,
    )

    dsub = dim // m
    books = pq_codebooks(m, k, dsub)
    subs = []
    for s in range(m):
        dists = []
        for j in range(k):
            terms = " + ".join(
                f"(e[{s * dsub + i + 1}] - ({books[s][j][i]})) * "
                f"(e[{s * dsub + i + 1}] - ({books[s][j][i]}))"
                for i in range(dsub)
            )
            dists.append(f"({terms}) AS d{j}")
        whens = " ".join(
            f"WHEN {' AND '.join(f'd{j} <= d{jj}' for jj in range(j + 1, k))} THEN {j}"
            for j in range(k - 1)
        )
        least = ", ".join(f"d{j}" for j in range(k))
        subs.append(
            f"SELECT CAST({s} AS BIGINT) AS subspace, "
            f"CAST(CASE {whens} ELSE {k - 1} END AS BIGINT) AS code, "
            f"least({least}) AS err "
            f"FROM (SELECT {', '.join(dists)} FROM ints)"
        )
    union = "\nUNION ALL\n".join(subs)
    return f"""
WITH ints AS (
  SELECT list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS e
  FROM embeddings
),
assigned AS (
{union}
)
SELECT subspace, code,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(CAST(SUM(CAST(err AS HUGEINT)) AS DECIMAL(38,0)) AS VARCHAR)
         AS total_sq_err,
       round(CAST(SUM(CAST(err AS HUGEINT)) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) / 1000000000000.0, 6) AS avg_err
FROM assigned GROUP BY subspace, code
"""


QUERIES["pq_codebook_audit"] = q_pq_codebook_audit
ORACLES["pq_codebook_audit"] = _oracle_pq()


def q_stream_dedup_then_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful streaming: dropDuplicatesWithinWatermark →
    APPEND-mode hourly counts in ONE query (two state stores), replayed
    across three time-monotone micro-batches
    (streaming.windowed.dedup_then_window_phased). Phase 1 carries
    in-batch duplicate copies (event_id % 17), phase 2 carries
    CROSS-batch copies of phase-1's final hour (event_id % 3) — close
    enough to their originals that the dedup state must still hold
    them, so every copy dies in the dedup store and the emitted windows
    equal the distinct-row hourly counts cut at the final watermark
    (floor_ms(max ts) − 1 h)."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.windowed import (
        dedup_then_window_phased,
    )

    e = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_id").isNotNull())
        .select("event_id", "ts", "event_type")
    )
    p1 = e.where(F.col("ts") < F.lit("2024-01-11"))
    p2 = e.where(
        (F.col("ts") >= F.lit("2024-01-11")) & (F.col("ts") < F.lit("2024-01-21"))
    )
    p3 = e.where(F.col("ts") >= F.lit("2024-01-21"))
    dup_in = p1.where(F.pmod("event_id", F.lit(17)) == 0)
    dup_x = p1.where(
        (F.col("ts") >= F.lit("2024-01-10 23:00:00"))
        & (F.pmod("event_id", F.lit(3)) == 0)
    )
    out, stats = dedup_then_window_phased(
        spark,
        [p1.unionAll(dup_in), p2.unionAll(dup_x), p3],
        ["event_id"],
        lateness="1 hour",
        group_cols=["event_type"],
    )
    if stats["data_batches"] != 3:
        raise RuntimeError(f"expected 3 micro-batches, got {stats}")
    return out.select(
        epoch_us("window_start").alias("window_start_us"),
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
    )


# Distinct-row hourly counts cut at the final watermark: every
# duplicate copy (in-batch and cross-batch) dies in the dedup store,
# nothing is ever late (phases are time-monotone), and append mode
# emits exactly the windows whose end ≤ floor_ms(max ts) − 1 h.
ORACLE_STREAM_DEDUP_WINDOW = """
WITH base AS (
  SELECT event_id, ts, event_type FROM events WHERE event_id IS NOT NULL),
wm AS (
  SELECT (epoch_us(MAX(ts)) // 1000) * 1000 - 3600000000 AS wm_us FROM base)
SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM base, wm
WHERE epoch_us(date_trunc('hour', ts)) + 3600000000 <= wm.wm_us
GROUP BY 1, 2
"""

QUERIES["stream_dedup_then_window"] = q_stream_dedup_then_window
ORACLES["stream_dedup_then_window"] = ORACLE_STREAM_DEDUP_WINDOW


def q_stream_ivf_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ANN index ingest (streaming.ivf_ingest): three
    micro-batches of embeddings (vec_id mod 3) assigned map-only to a
    FROZEN 8-cell integer codebook and appended to the cell-keyed
    store; the audit reports per-cell population and id bounds. The
    frozen-codebook ingest is the build-once / ingest-forever operating
    mode of a production vector index."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.similarity import (
        pq_codebooks,
    )
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.ivf_ingest import (
        ivf_ingest_phased,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    phases = [emb.where(F.pmod("vec_id", F.lit(3)) == i) for i in range(3)]
    cents = pq_codebooks(1, 8, 64)[0]
    audit, stats = ivf_ingest_phased(spark, phases, cents, dim=64)
    if stats["data_batches"] != 3:
        raise RuntimeError(f"expected 3 micro-batches, got {stats}")
    return audit.select(
        "cell",
        "n_vecs",
        F.col("min_id").cast("long").alias("min_id"),
        F.col("max_id").cast("long").alias("max_id"),
    )


def _oracle_ivf_ingest(k: int = 8, dim: int = 64) -> str:
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.similarity import (
        pq_codebooks,
    )

    cents = pq_codebooks(1, k, dim)[0]
    dists = []
    for j in range(k):
        terms = " + ".join(
            f"(e[{i + 1}] - ({cents[j][i]})) * (e[{i + 1}] - ({cents[j][i]}))"
            for i in range(dim)
        )
        dists.append(f"({terms}) AS d{j}")
    whens = " ".join(
        f"WHEN {' AND '.join(f'd{j} <= d{jj}' for jj in range(j + 1, k))} THEN {j}"
        for j in range(k - 1)
    )
    return f"""
WITH ints AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS e
  FROM embeddings
),
assigned AS (
  SELECT vec_id, CAST(CASE {whens} ELSE {k - 1} END AS BIGINT) AS cell
  FROM (SELECT vec_id, {", ".join(dists)} FROM ints)
)
SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(MIN(vec_id) AS BIGINT) AS min_id,
       CAST(MAX(vec_id) AS BIGINT) AS max_id
FROM assigned GROUP BY cell
"""


QUERIES["stream_ivf_ingest"] = q_stream_ivf_ingest
ORACLES["stream_ivf_ingest"] = _oracle_ivf_ingest()


def q_hilbert_layout_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering key (sources.layout.with_hilbert_key)
    over two quantized event dimensions — the locality-tighter sibling
    of zorder_keys (no Morton diagonal jumps, so key-contiguous file
    ranges cover tighter 2-D tiles). The oracle replays the per-level
    rotation walk arithmetically; bijectivity on the full grid is
    pinned in tests. Map-only integer arithmetic, one projection per
    level."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.sources.layout import (
        with_hilbert_key,
    )

    e = load_table(spark, sf_dir, "events")
    x = F.pmod(F.col("user_id"), F.lit(64))
    y = F.pmod(F.round(F.col("value") * 10).cast("long"), F.lit(64))
    return with_hilbert_key(e, x, y, bits=6).select("event_id", "hkey")


def _oracle_hilbert() -> str:
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.sources.layout import (
        hilbert_oracle_sql,
    )

    hx = "((user_id % 64) + 64) % 64"
    hy = "((CAST(round(value * 10) AS BIGINT) % 64) + 64) % 64"
    return hilbert_oracle_sql("events", "event_id", hx, hy, bits=6)


QUERIES["hilbert_layout_keys"] = q_hilbert_layout_keys
ORACLES["hilbert_layout_keys"] = _oracle_hilbert()


def q_rendezvous_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) shard map over the documents
    corpus plus the RESHARDING-DELTA audit: per 8-shard cell, how many
    keys move when a 9th shard joins. HRW's defining guarantee — only
    keys the NEW shard wins relocate, an expected 1/9 of the corpus,
    versus ~8/9 under naive mod-N — is exactly what the moved_rate
    column exhibits. Map-only hashing + one hash aggregate."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.sources.layout import (
        rendezvous_shard,
    )

    d = load_table(spark, sf_dir, "documents")
    keyed = d.select(
        rendezvous_shard(F.col("doc_id"), 8).alias("shard"),
        rendezvous_shard(F.col("doc_id"), 9).alias("_s9"),
    )
    return (
        keyed.groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum((F.col("shard") != F.col("_s9")).cast("long"))
            .cast("long")
            .alias("n_moved"),
        )
        .withColumn("moved_rate", F.round(F.col("n_moved") / F.col("n_docs"), 6))
    )


def _oracle_rendezvous() -> str:
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.sources.layout import (
        rendezvous_oracle_sql,
    )

    r8 = rendezvous_oracle_sql("doc_id", 8)
    r9 = rendezvous_oracle_sql("doc_id", 9)
    return f"""
WITH a AS (SELECT {r8} AS shard, {r9} AS s9 FROM documents)
SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN shard <> s9 THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
       round(CAST(SUM(CASE WHEN shard <> s9 THEN 1 ELSE 0 END) AS BIGINT) / COUNT(*), 6) AS moved_rate
FROM a GROUP BY shard
"""


QUERIES["rendezvous_shards"] = q_rendezvous_shards
ORACLES["rendezvous_shards"] = _oracle_rendezvous()


def q_stream_semi_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT SEMI join executed as a real streaming job
    (streaming.joins.attribution_semi_join_once) — the existence-only
    member of the stream-join family beside the inner and left-outer
    queries: clicks followed by SOME purchase within 30 minutes, each
    click emitted at most once regardless of how many purchases match
    (state dropped on first match). Row-level output so a double
    emission — the failure mode semi must rule out — hash-mismatches
    immediately; oracled against batch EXISTS."""
    import os as _os

    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.joins import (
        attribution_semi_join_once,
    )

    out = attribution_semi_join_once(
        spark, _os.path.join(sf_dir, "events.parquet")
    )
    return out.select(
        F.col("k").alias("user_id"),
        F.col("left_id").alias("click_id"),
        F.unix_micros(F.col("left_ts")).alias("click_ts_us"),
    )


ORACLE_STREAM_SEMI = """
SELECT c.user_id, c.event_id AS click_id, epoch_us(c.ts) AS click_ts_us
FROM events c
WHERE c.event_type = 'click'
  AND EXISTS (SELECT 1 FROM events p
              WHERE p.user_id = c.user_id AND p.event_type = 'purchase'
                AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE)
"""

QUERIES["stream_semi_attribution"] = q_stream_semi_attribution
ORACLES["stream_semi_attribution"] = ORACLE_STREAM_SEMI


def q_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution: block suppliers by nation,
    score in-block name pairs with the DuckDB-exact Jaro-Winkler
    (operators.fuzzy), keep pairs ≥ 0.96, and resolve transitive
    clusters with the one-shuffle block-local union-find
    (operators.graph.blocked_components — edges are block-internal by
    construction, the layout where it is exact). Output is the cluster
    SIZE HISTOGRAM — the dedup-yield summary an ER pipeline reports.
    The oracle resolves the same pair graph with a recursive-CTE
    transitive closure."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.fuzzy import (
        jaro_winkler,
    )
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.graph import (
        blocked_components,
    )

    s = load_table(spark, sf_dir, "supplier")
    a = s.select(
        F.col("s_nationkey").alias("blk"),
        F.col("s_suppkey").alias("src"),
        F.col("s_name").alias("_na"),
    )
    b = s.select(
        F.col("s_nationkey").alias("blk"),
        F.col("s_suppkey").alias("dst"),
        F.col("s_name").alias("_nb"),
    )
    pairs = (
        a.join(b, "blk")
        .filter(F.col("src") < F.col("dst"))
        .withColumn("_sim", jaro_winkler(F.col("_na"), F.col("_nb")))
        .filter(F.col("_sim") >= 0.96)
        .select("blk", "src", "dst")
    )
    nodes = s.select(F.col("s_nationkey").alias("blk"), F.col("s_suppkey").alias("id"))
    comp = blocked_components(nodes, pairs, "blk")
    sizes = comp.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters")
    )


ORACLE_ENTITY_RESOLUTION = """
WITH RECURSIVE pairs AS (
  SELECT a.s_suppkey AS src, b.s_suppkey AS dst
  FROM supplier a JOIN supplier b
    ON a.s_nationkey = b.s_nationkey AND a.s_suppkey < b.s_suppkey
  WHERE round(jaro_winkler_similarity(a.s_name, b.s_name), 6) >= 0.96
),
edges AS (SELECT src, dst FROM pairs UNION SELECT dst AS src, src AS dst FROM pairs),
reach(a, b) AS (
  SELECT src AS a, dst AS b FROM edges
  UNION
  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
),
lab AS (
  SELECT s.s_suppkey AS id,
         LEAST(s.s_suppkey, COALESCE(MIN(r.b), s.s_suppkey)) AS cluster_id
  FROM supplier s LEFT JOIN reach r ON r.a = s.s_suppkey
  GROUP BY s.s_suppkey
),
sizes AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size FROM lab GROUP BY 1)
SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
FROM sizes GROUP BY cluster_size
"""

QUERIES["entity_resolution"] = q_entity_resolution
ORACLES["entity_resolution"] = ORACLE_ENTITY_RESOLUTION


def q_incremental_rollup_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental rollup maintenance WITH RETRACTIONS
    (operators.incremental.delta_state): base state (even event ids)
    ⊕ an insert delta (odd ids) ⊖ a delete delta (ids ≡ 0 mod 10) —
    counts and scaled-integer sums form an abelian group, so applying
    the CDC feed as signed states equals the direct recompute over the
    surviving rows, which is exactly what the oracle runs. min/max are
    deliberately absent: they cannot retract (no inverse) — the honest
    contract of delete-capable materialized aggregates."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.incremental import (
        delta_state,
        finalize,
        merge_delta_states,
    )

    e = load_table(spark, sf_dir, "events")
    base = delta_state(e.filter(F.col("event_id") % 2 == 0), ["event_type"], "value")
    ins = delta_state(e.filter(F.col("event_id") % 2 == 1), ["event_type"], "value")
    dels = delta_state(
        e.filter(F.col("event_id") % 10 == 0), ["event_type"], "value", sign=-1
    )
    return finalize(merge_delta_states([base, ins, dels], ["event_type"])).select(
        "event_type", "n", "vsum", "vavg"
    )


ORACLE_INCREMENTAL_CDC = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) / 10000.0 AS vsum,
       round(CAST(SUM(CAST(round(value * 10000) AS BIGINT)) AS DOUBLE) / COUNT(*) / 10000.0, 6) AS vavg
FROM events
WHERE NOT (event_id % 2 = 0 AND event_id % 10 = 0)
GROUP BY event_type
"""

QUERIES["incremental_rollup_cdc"] = q_incremental_rollup_cdc
ORACLES["incremental_rollup_cdc"] = ORACLE_INCREMENTAL_CDC


def q_mad_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust dispersion: median absolute deviation per event type —
    the outlier-resistant sibling of value_moments' stddev (one wild
    value moves stddev arbitrarily, moves MAD not at all). Exact
    two-pass plan: exact interpolated median per group (quantile_cont
    parity), broadcast back, exact median of |v − med|. Rounding
    happens only at the output; the deviation uses the UNROUNDED
    median on both engines. Both medians run through
    grouped_percentile_exact (r9): the `percentile()` aggregate
    buffers a whole group per aggregation buffer, and event_type is a
    ~5-value key — the unbounded-buffer class at 100 TB."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.windows import (
        grouped_percentile_exact,
    )

    e = load_table(spark, sf_dir, "events")
    med = grouped_percentile_exact(
        e.select("event_type", "value", "event_id"),
        ["event_type"],
        "value",
        "event_id",
        {"_med": 0.5},
    )
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type",
        "event_id",
        "_med",
        F.abs(F.col("value") - F.col("_med")).alias("_dev"),
    )
    mad = grouped_percentile_exact(
        dev, ["event_type"], "_dev", "event_id", {"_mad": 0.5}
    )
    counts = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return (
        counts.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .select(
            "event_type",
            "n",
            F.round(F.col("_med"), 6).alias("median"),
            F.round(F.col("_mad"), 6).alias("mad"),
        )
    )


ORACLE_MAD = """
WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS m FROM events GROUP BY 1)
SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n,
       round(MIN(m), 6) AS median,
       round(quantile_cont(abs(e.value - m), 0.5), 6) AS mad
FROM events e JOIN med USING (event_type)
GROUP BY e.event_type
"""

QUERIES["mad_by_type"] = q_mad_by_type
ORACLES["mad_by_type"] = ORACLE_MAD


def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search ('slow hash batch') over the documents
    corpus: positional trigram match counted per document — the
    adjacency-constrained sibling of keyword_and_search's AND
    semantics. MAP-ONLY: a higher-order filter over token positions
    inside the scan projection, no explode, no shuffle beyond the
    final tiny filter — the shape a phrase scan must have at corpus
    scale (a positional inverted index would trade this scan for
    index lookups; the predicate itself is identical)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    w1, w2, w3 = "slow", "hash", "batch"
    occ = F.when(F.size(toks) < 3, F.lit(0)).otherwise(
        F.size(
            F.filter(
                F.sequence(F.lit(1), F.size(toks) - 2),
                lambda i: (F.element_at(toks, i) == w1)
                & (F.element_at(toks, (i + 1).cast("int")) == w2)
                & (F.element_at(toks, (i + 2).cast("int")) == w3),
            )
        )
    )
    return (
        d.select("doc_id", occ.cast("long").alias("n_occurrences"))
        .filter(F.col("n_occurrences") > 0)
    )


ORACLE_PHRASE_SEARCH = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i) g
WHERE t[i] = 'slow' AND t[i+1] = 'hash' AND t[i+2] = 'batch'
GROUP BY doc_id
"""

QUERIES["phrase_search"] = q_phrase_search
ORACLES["phrase_search"] = ORACLE_PHRASE_SEARCH


def q_stream_union_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source streaming fan-in
    (streaming.windowed.union_windowed_once): click and purchase
    events land as two SEPARATE file feeds, one streaming query unions
    them and aggregates hourly per type — each source advances its own
    checkpoint offsets; the union watermark is the min across feeds.
    Oracled against the batch union, pinning fan-in == single-source
    semantics."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.windowed import (
        union_windowed_once,
    )

    def _write(root: str) -> None:
        import os as _os

        e = load_table(spark, sf_dir, "events").select("ts", "event_type")
        for t in ("click", "purchase"):
            e.filter(F.col("event_type") == t).coalesce(1).write.parquet(
                _os.path.join(root, t)
            )

    import os as _os

    root = _materialized_layout("stream_union_feeds", sf_dir, _write)
    out = union_windowed_once(
        spark,
        [_os.path.join(root, "click"), _os.path.join(root, "purchase")],
        group_cols=["event_type"],
    )
    return out.select(
        epoch_us("window_start").alias("window_start_us"),
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
    )


ORACLE_STREAM_UNION = """
SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
WHERE event_type IN ('click', 'purchase')
GROUP BY 1, 2
"""

QUERIES["stream_union_hourly"] = q_stream_union_hourly
ORACLES["stream_union_hourly"] = ORACLE_STREAM_UNION


def q_generalization_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity REPAIR (operators.pii.generalization_ladder): walk
    the (event_type × hour) → (× day) → (× week) quasi-identifier
    ladder and mark the first level where every group reaches k=5 —
    the minimal generalization that makes the release safe. One cheap
    aggregate per rung; exact counts."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.pii import (
        generalization_ladder,
    )

    e = load_table(spark, sf_dir, "events")
    mk = lambda unit: F.concat_ws(
        "|", F.col("event_type"), F.date_trunc(unit, F.col("ts")).cast("string")
    )
    return generalization_ladder(
        e,
        [("hour", mk("hour")), ("day", mk("day")), ("week", mk("week"))],
        k=5,
    )


ORACLE_GENERALIZATION = """
WITH lv AS (
  SELECT 0 AS rung, 'hour' AS level,
         event_type || '|' || CAST(date_trunc('hour', ts) AS VARCHAR) AS q
  FROM events
  UNION ALL
  SELECT 1, 'day', event_type || '|' || CAST(date_trunc('day', ts) AS VARCHAR) FROM events
  UNION ALL
  SELECT 2, 'week', event_type || '|' || CAST(date_trunc('week', ts) AS VARCHAR) FROM events),
g AS (
  SELECT rung, level, q, COUNT(*) AS n FROM lv GROUP BY 1, 2, 3),
ladder AS (
  SELECT rung, level, CAST(COUNT(*) AS BIGINT) AS n_groups,
         CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
  FROM g GROUP BY 1, 2)
SELECT level, n_groups, n_violations,
       n_violations = 0 AS satisfies_k,
       (n_violations = 0) AND COALESCE(MAX(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END)
         OVER (ORDER BY rung ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) = 0
         AS is_chosen
FROM ladder
"""

QUERIES["generalization_ladder"] = q_generalization_ladder
ORACLES["generalization_ladder"] = ORACLE_GENERALIZATION


def q_resampling_executed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTED mixture resample (operators.sampling.resampling_execute
    applying resampling_plan): each document kept iff its salted-md5
    16-bit value clears the group's accept threshold — content-defined,
    so the realized corpus is byte-reproducible. Output per source:
    plan probability beside achieved counts/tokens (the drift report a
    resample job logs). Broadcast plan join + map-only filter."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.sampling import (
        resampling_execute,
        resampling_plan,
    )

    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.col("text"), " ")).cast("long")
    plan = resampling_plan(d, "source", n_tok)
    kept = resampling_execute(d, plan, "source", "doc_id")
    return kept.groupBy("source").agg(
        F.round(F.min("accept_prob"), 6).alias("accept_prob"),
        F.count(F.lit(1)).cast("long").alias("n_docs_kept"),
        F.sum(F.size(F.split(F.col("text"), " ")).cast("long"))
        .cast("long")
        .alias("tokens_kept"),
    )


ORACLE_RESAMPLING_EXECUTED = """
WITH g AS (
  SELECT source,
         CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1),
w AS (
  SELECT source, n_tokens,
         CAST(round(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT) AS wi
  FROM g),
m AS (SELECT MAX(CAST(wi AS DOUBLE) / n_tokens) AS max_ratio FROM w),
plan AS (
  SELECT w.source,
         round((CAST(w.wi AS DOUBLE) / w.n_tokens) / m.max_ratio, 6) AS accept_prob
  FROM w CROSS JOIN m),
kept AS (
  SELECT d.source, d.text, p.accept_prob
  FROM documents d JOIN plan p USING (source)
  WHERE ('0x' || substr(md5('rs1' || chr(31) || CAST(d.doc_id AS VARCHAR)), 1, 4))::INTEGER
        < CAST(floor(p.accept_prob * 65536.0) AS BIGINT))
SELECT source, round(MIN(accept_prob), 6) AS accept_prob,
       CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
       CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS tokens_kept
FROM kept GROUP BY source
"""

QUERIES["resampling_executed"] = q_resampling_executed
ORACLES["resampling_executed"] = ORACLE_RESAMPLING_EXECUTED


def q_cumulative_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per day WITHOUT sliding-distinct
    state: a user's contribution collapses to their FIRST-SEEN day
    (one min-aggregate), daily first-timer counts then prefix-sum under
    a running window — the exact growth curve (new vs returning) that
    a naive per-day distinct-over-history recompute pays O(days·|users|)
    for. One user-keyed aggregate + a |days|-row window."""
    e = load_table(spark, sf_dir, "events")
    first_day = (
        e.groupBy("user_id")
        .agg(F.min(F.date_trunc("day", F.col("ts"))).alias("_day"))
        .groupBy("_day")
        .agg(F.count(F.lit(1)).cast("long").alias("n_new_users"))
    )
    from pyspark.sql import Window

    w = Window.orderBy("_day").rowsBetween(Window.unboundedPreceding, 0)
    return first_day.select(
        epoch_us("_day").alias("day_us"),
        "n_new_users",
        F.sum("n_new_users").over(w).cast("long").alias("cum_users"),
    )


ORACLE_CUMULATIVE_USERS = """
WITH f AS (
  SELECT user_id, MIN(date_trunc('day', ts)) AS d FROM events GROUP BY 1),
byday AS (
  SELECT d, CAST(COUNT(*) AS BIGINT) AS n_new_users FROM f GROUP BY 1)
SELECT epoch_us(d) AS day_us, n_new_users,
       CAST(SUM(n_new_users) OVER (ORDER BY d
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
FROM byday
"""

QUERIES["cumulative_unique_users"] = q_cumulative_unique_users
ORACLES["cumulative_unique_users"] = ORACLE_CUMULATIVE_USERS


def q_layout_locality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measures WHY the clustering keys exist: events sorted by each
    candidate layout key (linear x, Z-order, Hilbert) are cut into 16
    equal key-ranges ('files'); the audit reports the mean per-file
    span of BOTH dimensions — the quantity per-file min/max pruning
    actually depends on. Linear order leaves the y-span at full range;
    the space-filling curves shrink both. ntile over a total order
    (key, event_id tiebreak) keeps the bucketing deterministic; spans
    are exact integers. Each of the three cuts runs through
    ``operators.windows.ntile_exact`` (distributed range sort +
    broadcast offsets) — an unpartitioned ``ntile().over(...)`` would
    single-task the fact table three times over."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.windows import ntile_exact
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.sources.layout import (
        with_hilbert_key,
        zorder_key,
    )

    e = load_table(spark, sf_dir, "events")
    x = F.pmod(F.col("user_id"), F.lit(64))
    y = F.pmod(F.round(F.col("value") * 10).cast("long"), F.lit(64))
    base = (
        with_hilbert_key(
            e.select("event_id", x.alias("_x"), y.alias("_y")),
            F.col("_x"),
            F.col("_y"),
            bits=6,
        )
        .withColumn("zkey", zorder_key(F.col("_x"), F.col("_y"), bits=6))
        # three ntile_exact consumers below each start with their own
        # range shuffle — pin the hilbert/zorder derivation so the
        # per-level rotation walk runs once, not three times
        .localCheckpoint(eager=True)
    )

    outs = []
    for name, key in [("linear_x", "_x"), ("zorder", "zkey"), ("hilbert", "hkey")]:
        bucketed = ntile_exact(
            base.select(*dict.fromkeys(["_x", "_y", key, "event_id"])),
            [key, "event_id"],
            16,
            bucket_col="_b",
        ).select("_x", "_y", "_b")
        spans = bucketed.groupBy("_b").agg(
            (F.max("_x") - F.min("_x")).alias("_sx"),
            (F.max("_y") - F.min("_y")).alias("_sy"),
        )
        outs.append(
            spans.agg(
                F.lit(name).alias("layout"),
                F.round(F.avg("_sx"), 6).alias("avg_x_span"),
                F.round(F.avg("_sy"), 6).alias("avg_y_span"),
            )
        )
    from functools import reduce

    return reduce(lambda a, b: a.unionByName(b), outs)


def _oracle_layout_locality() -> str:
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.sources.layout import (
        hilbert_oracle_sql,
        zorder_oracle_sql,
    )

    hx = "((user_id % 64) + 64) % 64"
    hy = "((CAST(round(value * 10) AS BIGINT) % 64) + 64) % 64"
    # keep_cols is re-projected at every walk level, so it must be
    # plain column names — quantize in a base subquery first
    hil = hilbert_oracle_sql(
        f"(SELECT event_id, {hx} AS x, {hy} AS y FROM events)",
        "event_id, x, y",
        "x",
        "y",
        bits=6,
    )
    z = zorder_oracle_sql("x", "y", bits=6)
    parts = []
    for name, key in [("linear_x", "x"), ("zorder", "zkey"), ("hilbert", "hkey")]:
        parts.append(f"""
SELECT '{name}' AS layout, round(AVG(sx), 6) AS avg_x_span, round(AVG(sy), 6) AS avg_y_span
FROM (
  SELECT b, MAX(x) - MIN(x) AS sx, MAX(y) - MIN(y) AS sy
  FROM (SELECT x, y, ntile(16) OVER (ORDER BY {key} ASC, event_id ASC) AS b
        FROM keyed)
  GROUP BY b)""")
    return f"""
WITH hilberted AS ({hil}),
keyed AS (SELECT event_id, x, y, hkey, {z} AS zkey FROM hilberted)
{" UNION ALL ".join(parts)}
"""


QUERIES["layout_locality_audit"] = q_layout_locality_audit
ORACLES["layout_locality_audit"] = _oracle_layout_locality()


def q_stream_scd2_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD Type-2 maintenance
    (streaming.scd2_stream.scd2_stream_phased): three time-monotone
    micro-batches of user type-change events fold into a MAINTAINED
    version table — each batch closes/extends only the keys it touches
    (|batch|-sized work, never a history recompute). The oracle is the
    one-shot window derivation (same SQL as scd2_user_type): with
    per-key event-time-monotone batches the maintained table must
    equal it exactly — extends across batch boundaries included."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.scd2_stream import (
        scd2_stream_phased,
    )

    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 200)
    p1 = e.where(F.col("ts") < F.lit("2024-01-11"))
    p2 = e.where(
        (F.col("ts") >= F.lit("2024-01-11")) & (F.col("ts") < F.lit("2024-01-21"))
    )
    p3 = e.where(F.col("ts") >= F.lit("2024-01-21"))
    out, stats = scd2_stream_phased(
        spark, [p1, p2, p3], "user_id", "ts", ["event_type"], "event_id"
    )
    if stats["data_batches"] != 3:
        raise RuntimeError(f"expected 3 micro-batches, got {stats}")
    return out.select(
        "user_id",
        "event_type",
        epoch_us("valid_from").alias("valid_from_us"),
        epoch_us("valid_to").alias("valid_to_us"),
        "is_current",
    )


# The maintained table must equal the one-shot window derivation over
# the concatenated batches (ORACLE_SCD2's rule, identical SQL).
ORACLE_STREAM_SCD2 = ORACLE_SCD2

QUERIES["stream_scd2_maintenance"] = q_stream_scd2_maintenance
ORACLES["stream_scd2_maintenance"] = ORACLE_STREAM_SCD2


def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTED BPE training over the documents corpus
    (operators.text.bpe_train_merges): the top-5 merges learned by the
    real iterate-argmax-apply loop, with their corpus-frequency
    evidence. The oracle replays the identical five rounds as chained
    CTEs (pair counts → 1-row argmax → replace), so a hash match pins
    the whole training trajectory, not just one statistic."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.text import (
        bpe_train_merges,
    )

    return bpe_train_merges(load_table(spark, sf_dir, "documents"), rounds=5)


def _oracle_bpe_train(rounds: int = 5) -> str:
    parts = [
        """words AS (
  SELECT lower(w) AS word, CAST(COUNT(*) AS BIGINT) AS wf
  FROM documents, unnest(string_split_regex(text, '\\s+')) AS t(w)
  WHERE regexp_matches(lower(w), '^[a-z]{2,}$')
  GROUP BY 1),
sym0 AS (SELECT trim(regexp_replace(word, '(.)', '|\\1| ', 'g')) AS s, wf FROM words)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""p{r} AS (
  SELECT t[i] || ' ' || t[i+1] AS pair, CAST(SUM(wf) AS BIGINT) AS n
  FROM (SELECT string_split(s, ' ') AS t, wf FROM sym{r - 1}) x,
       LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - 1, 0))) AS i) g
  GROUP BY 1),
m{r} AS (SELECT pair, n FROM p{r} ORDER BY n DESC, pair ASC LIMIT 1),
sym{r} AS (
  SELECT replace(s, (SELECT pair FROM m{r}),
                 replace((SELECT pair FROM m{r}), '| |', '')) AS s, wf
  FROM sym{r - 1})"""
        )
    finals = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS BIGINT) AS merge_rank, pair, n FROM m{r}"
        for r in range(1, rounds + 1)
    )
    return "WITH " + ",\n".join(parts) + "\n" + finals


QUERIES["bpe_train_merges"] = q_bpe_train_merges
ORACLES["bpe_train_merges"] = _oracle_bpe_train()


def q_cusum_change_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point statistic per event type over the hourly
    count series — the sequential-looking recurrence
    S_i = max(0, S_{i−1} + (x_i − k)) made window-expressible via the
    prefix identity max_j S_j = max_j (P_j − min_{i≤j} P_i) with P the
    running sum of (x − k): two window functions over one sort, no
    iteration, no UDF. Drift threshold k = the series' own mean
    (integer-scaled: x·|hours| − total, common denominator), so the
    statistic is exact BIGINT arithmetic end-to-end; the alarm fires
    when the max deviation exceeds h = 3× the scaled mean."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.col("event_type"), F.date_trunc("hour", F.col("ts")).alias("_h")
    ).agg(F.count(F.lit(1)).cast("long").alias("_x"))
    tot = hourly.groupBy("event_type").agg(
        F.sum("_x").cast("long").alias("_tot"),
        F.count(F.lit(1)).cast("long").alias("_nh"),
    )
    # scaled residual: x·n_hours − total  (denominator n_hours shared
    # by the whole series, so prefix sums stay integers)
    j = hourly.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "_h",
        "_nh",
        (F.col("_x") * F.col("_nh") - F.col("_tot")).alias("_r"),
    )
    wp = Window.partitionBy("event_type").orderBy("_h").rowsBetween(
        Window.unboundedPreceding, 0
    )
    dev = j.select(
        "event_type",
        "_nh",
        F.sum("_r").over(wp).alias("_p"),
        F.min(F.sum("_r").over(wp)).over(
            Window.partitionBy("event_type")
            .orderBy("_h")
            .rowsBetween(Window.unboundedPreceding, 0)
        ).alias("_pmin"),
    ).select(
        "event_type",
        "_nh",
        (F.col("_p") - F.col("_pmin")).alias("_dev"),
    )
    out = dev.groupBy("event_type").agg(
        F.max("_dev").cast("long").alias("max_cusum_scaled"),
        F.min("_nh").cast("long").alias("n_hours"),
    )
    return out.select(
        "event_type",
        "n_hours",
        "max_cusum_scaled",
        (F.col("max_cusum_scaled") > 3 * F.col("n_hours")).alias("drift_alarm"),
    )


ORACLE_CUSUM = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2),
tot AS (
  SELECT event_type, CAST(SUM(x) AS BIGINT) AS total, CAST(COUNT(*) AS BIGINT) AS nh
  FROM hourly GROUP BY 1),
p AS (
  SELECT hourly.event_type, h, nh,
         CAST(SUM(x * nh - total) OVER (PARTITION BY hourly.event_type ORDER BY h
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pf
  FROM hourly JOIN tot USING (event_type)),
dev AS (
  SELECT event_type, nh,
         pf - MIN(pf) OVER (PARTITION BY event_type ORDER BY h ROWS BETWEEN
              UNBOUNDED PRECEDING AND CURRENT ROW) AS d
  FROM p)
SELECT event_type, CAST(MIN(nh) AS BIGINT) AS n_hours,
       CAST(MAX(d) AS BIGINT) AS max_cusum_scaled,
       MAX(d) > 3 * MIN(nh) AS drift_alarm
FROM dev GROUP BY event_type
"""

QUERIES["cusum_change_detection"] = q_cusum_change_detection
ORACLES["cusum_change_detection"] = ORACLE_CUSUM


def q_item_cooccurrence_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative similarity from co-purchase counts:
    cosine = co(i,j) / √(n_i·n_j) over order baskets — the classic
    memory-based recommender statistic. Pair generation is bounded by
    the BASKET, not the catalog (≤7 lineitems per order ⇒ ≤21 pairs,
    the same boundedness argument as the triangle census), then one
    pair aggregate + two UNHINTED degree joins (the |parts|-row degree
    table scales with SF — the planner broadcasts it while small and
    shuffles at scale, r11 audit). √ of exact BIGINTs is
    correctly rounded IEEE on both engines; 6dp output. Top-20 pairs
    under a total order via ``orderBy().limit()`` — compiles to
    distributed TakeOrderedAndProject (per-partition heaps, no global
    sort); ranks are attached AFTER the cut, a 20-row window."""
    from pyspark.sql import Window

    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = l.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("i"))
    b = l.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("j"))
    co = (
        a.join(b, "o")
        .filter(F.col("i") < F.col("j"))
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).cast("long").alias("co"))
    )
    deg = l.groupBy(F.col("l_partkey").alias("p")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    scored = (
        co.join(deg.withColumnRenamed("p", "i").withColumnRenamed("n", "_ni"), "i")
        .join(deg.withColumnRenamed("p", "j").withColumnRenamed("n", "_nj"), "j")
        .select(
            "i",
            "j",
            "co",
            F.round(
                F.col("co") / F.sqrt((F.col("_ni") * F.col("_nj")).cast("double")),
                6,
            ).alias("cosine"),
        )
    )
    order = [
        F.col("cosine").desc(), F.col("co").desc(),
        F.col("i").asc(), F.col("j").asc(),
    ]
    top = scored.orderBy(*order).limit(20)  # TakeOrderedAndProject
    w = Window.orderBy(*order)  # 20 rows — post-cut rank attach only
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


ORACLE_ITEM_COOCCURRENCE = """
WITH l AS (SELECT l_orderkey AS o, l_partkey AS p FROM lineitem),
co AS (
  SELECT a.p AS i, b.p AS j, CAST(COUNT(*) AS BIGINT) AS co
  FROM l a JOIN l b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2),
deg AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS n FROM l GROUP BY 1),
scored AS (
  SELECT i, j, co,
         round(co / sqrt(CAST(di.n * dj.n AS DOUBLE)), 6) AS cosine
  FROM co JOIN deg di ON co.i = di.p JOIN deg dj ON co.j = dj.p)
SELECT i, j, co, cosine, rank FROM (
  SELECT i, j, co, cosine,
         CAST(row_number() OVER (ORDER BY cosine DESC, co DESC, i ASC, j ASC) AS BIGINT) AS rank
  FROM scored) WHERE rank <= 20
"""

QUERIES["item_cooccurrence_similarity"] = q_item_cooccurrence_similarity
ORACLES["item_cooccurrence_similarity"] = ORACLE_ITEM_COOCCURRENCE


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: recency (days since last order at
    the corpus horizon), frequency (order count), monetary (cents-
    exact total) quintiled per dimension with total-order tiebreaks
    (the metric, then the key — ntile is deterministic only under a
    total order), segment = 100·R + 10·F + M. Output: per-segment
    population and cents-exact monetary mean for the top segments.
    One customer-keyed aggregate, then each quintile cut through the
    distributed ``operators.windows.ntile_exact`` (descending metrics
    are negated — range sort is ascending) and the three bucket
    columns re-joined on the customer key: no unpartitioned window
    anywhere, so the plan survives 10⁸⁺ customers."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.windows import ntile_exact

    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("_last"),
        F.count(F.lit(1)).cast("long").alias("_freq"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("_cents"),
    )
    horizon = per_cust.agg(F.max("_last").alias("_hz"))
    base = per_cust.crossJoin(F.broadcast(horizon)).select(
        "o_custkey",
        F.datediff(F.col("_hz"), F.col("_last")).cast("long").alias("_rec"),
        "_freq",
        "_cents",
    )
    # three ntile_exact consumers each open with a range shuffle — pin
    # the per-customer aggregate so orders is scanned/aggregated once
    neg = (
        base.withColumn("_nfreq", -F.col("_freq"))
        .withColumn("_ncents", -F.col("_cents"))
        .localCheckpoint(eager=True)
    )
    rb = ntile_exact(
        neg.select("o_custkey", "_rec"), ["_rec", "o_custkey"], 5, bucket_col="_rb"
    ).select("o_custkey", "_rb")
    fb = ntile_exact(
        neg.select("o_custkey", "_nfreq"), ["_nfreq", "o_custkey"], 5, bucket_col="_fb"
    ).select("o_custkey", "_fb")
    mb = ntile_exact(
        neg.select("o_custkey", "_cents", "_ncents"),
        ["_ncents", "o_custkey"],
        5,
        bucket_col="_mb",
    ).select("o_custkey", "_cents", "_mb")
    seg = (
        mb.join(rb, "o_custkey")
        .join(fb, "o_custkey")
        .select(
            "o_custkey",
            "_cents",
            (F.col("_rb") * 100 + F.col("_fb") * 10 + F.col("_mb"))
            .cast("long")
            .alias("segment"),
        )
    )
    return seg.groupBy("segment").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        (F.sum("_cents") / 100.0).alias("total_monetary"),
    )


ORACLE_RFM = """
WITH per_cust AS (
  SELECT o_custkey, MAX(o_orderdate) AS last_o,
         CAST(COUNT(*) AS BIGINT) AS freq,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1),
hz AS (SELECT MAX(last_o) AS h FROM per_cust),
base AS (
  SELECT o_custkey, CAST(date_diff('day', last_o, h) AS BIGINT) AS rec, freq, cents
  FROM per_cust CROSS JOIN hz),
seg AS (
  SELECT o_custkey, cents,
         CAST(ntile(5) OVER (ORDER BY rec ASC, o_custkey ASC) * 100
            + ntile(5) OVER (ORDER BY freq DESC, o_custkey ASC) * 10
            + ntile(5) OVER (ORDER BY cents DESC, o_custkey ASC) AS BIGINT) AS segment
  FROM base)
SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(cents) AS BIGINT) / 100.0 AS total_monetary
FROM seg GROUP BY segment
"""

QUERIES["rfm_segments"] = q_rfm_segments
ORACLES["rfm_segments"] = ORACLE_RFM


def q_cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape adapted to the lake's schema (no partsupp): for each
    red-prefixed part, the ASIA supplier(s) achieving the MINIMUM
    cents-exact average sale price — the correlated-MIN-subquery
    pattern, ties KEPT (Q2's distinctive multi-row answer per part).
    Catalyst decorrelates to an aggregate join: per-(part, supplier)
    price agg, per-part min, equality join back. The min compares an
    exact rational (cents·n denominators cross-multiplied would be
    exact; here the mean is scaled to a BIGINT of micro-cents with a
    shared rounding rule, so equality is well-defined on both
    engines)."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_supp = s.join(
        F.broadcast(n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)),
        s.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", "s_name")
    # part key set and ASIA-supplier set join UNHINTED: both scale
    # with SF (r11 audit) — the planner broadcasts them while small;
    # nation⋈region above stays hinted (bounded dims)
    ps = (
        l.join(p.select("p_partkey"), l.l_partkey == F.col("p_partkey"))
        .join(asia_supp, l.l_suppkey == F.col("s_suppkey"))
        .groupBy("p_partkey", "s_suppkey", "s_name")
        .agg(
            # micro-cents mean: floor((Σcents·10000)/n) — integer-exact
            F.floor(
                (F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")) * 10000)
                / F.count(F.lit(1))
            )
            .cast("long")
            .alias("avg_price_ucents")
        )
    )
    mn = ps.groupBy("p_partkey").agg(
        F.min("avg_price_ucents").alias("_mn")
    )
    return (
        ps.join(mn, "p_partkey")
        .filter(F.col("avg_price_ucents") == F.col("_mn"))
        .select("p_partkey", "s_suppkey", "s_name", "avg_price_ucents")
    )


ORACLE_CHEAPEST_SUPPLIER = """
WITH asia_supp AS (
  SELECT s_suppkey, s_name FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'),
ps AS (
  SELECT l_partkey AS p_partkey, s_suppkey, s_name,
         CAST(floor(CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
              * 10000 / COUNT(*)) AS BIGINT) AS avg_price_ucents
  FROM lineitem
  JOIN asia_supp ON l_suppkey = s_suppkey
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
  GROUP BY 1, 2, 3)
SELECT p_partkey, s_suppkey, s_name, avg_price_ucents
FROM ps
WHERE avg_price_ucents = (SELECT MIN(avg_price_ucents) FROM ps p2
                          WHERE p2.p_partkey = ps.p_partkey)
"""

QUERIES["cheapest_supplier_per_part"] = q_cheapest_supplier_per_part
ORACLES["cheapest_supplier_per_part"] = ORACLE_CHEAPEST_SUPPLIER


def q_markov_prediction_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the modal-transition predictor: per event type, how
    often the corpus-wide most-likely NEXT type (argmax transition
    count, lexicographic-min tiebreak) actually occurs — the eval half
    of the transition-matrix query. Transitions via lead() per user
    (one entity-keyed sort shared by both uses), the modal table is
    |types|² → broadcast."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    trans = e.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    counts = trans.groupBy("cur", "nxt").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    mw = Window.partitionBy("cur").orderBy(F.col("n").desc(), F.col("nxt").asc())
    modal = (
        counts.withColumn("_rn", F.row_number().over(mw))
        .filter(F.col("_rn") == 1)
        .select("cur", F.col("nxt").alias("_pred"))
    )
    return (
        trans.join(F.broadcast(modal), "cur")
        .groupBy(F.col("cur").alias("event_type"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_transitions"),
            F.sum((F.col("nxt") == F.col("_pred")).cast("long"))
            .cast("long")
            .alias("n_correct"),
        )
        .withColumn(
            "accuracy", F.round(F.col("n_correct") / F.col("n_transitions"), 6)
        )
    )


ORACLE_MARKOV_ACCURACY = """
WITH trans AS (
  SELECT event_type AS cur,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
  FROM events),
t2 AS (SELECT cur, nxt FROM trans WHERE nxt IS NOT NULL),
counts AS (SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS n FROM t2 GROUP BY 1, 2),
modal AS (
  SELECT cur, nxt AS pred FROM (
    SELECT cur, nxt, row_number() OVER (PARTITION BY cur ORDER BY n DESC, nxt ASC) AS rn
    FROM counts) WHERE rn = 1)
SELECT cur AS event_type,
       CAST(COUNT(*) AS BIGINT) AS n_transitions,
       CAST(SUM(CASE WHEN nxt = pred THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       round(CAST(SUM(CASE WHEN nxt = pred THEN 1 ELSE 0 END) AS BIGINT)
             / COUNT(*), 6) AS accuracy
FROM t2 JOIN modal USING (cur)
GROUP BY cur
"""

QUERIES["markov_prediction_accuracy"] = q_markov_prediction_accuracy
ORACLES["markov_prediction_accuracy"] = ORACLE_MARKOV_ACCURACY


def q_ab_test_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B readout: users hash-split into arms by the
    engine-portable md5-parity rule (operators.sampling convention),
    conversion = the user logged MORE purchases than clicks (a
    scale-invariant ~50% event — ever-purchased saturates to 1 and
    zeroes the pooled variance); the pooled two-proportion
    z² statistic is computed from EXACT integer counts by one shared
    formula (floats enter only in the final scalar arithmetic —
    deterministic, no data-order dependence). The standard experiment
    readout, one user-keyed aggregate + a 2-row reshape."""
    e = load_table(spark, sf_dir, "events")
    users = e.groupBy("user_id").agg(
        (
            F.sum((F.col("event_type") == "purchase").cast("long"))
            > F.sum((F.col("event_type") == "click").cast("long"))
        )
        .cast("long")
        .alias("_conv")
    )
    arm = F.when(
        F.substring(F.md5(F.concat(F.lit("ab1\x1f"), F.col("user_id").cast("string"))), 1, 1)
        < F.lit("8"),
        F.lit("A"),
    ).otherwise(F.lit("B"))
    arms = users.select(arm.alias("arm"), "_conv").groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("_conv").cast("long").alias("n_converted"),
    )
    a = arms.filter(F.col("arm") == "A").select(
        F.col("n_users").alias("_na"), F.col("n_converted").alias("_ca")
    )
    b = arms.filter(F.col("arm") == "B").select(
        F.col("n_users").alias("_nb"), F.col("n_converted").alias("_cb")
    )
    j = a.crossJoin(F.broadcast(b))
    pa = F.col("_ca") / F.col("_na")
    pb = F.col("_cb") / F.col("_nb")
    pp = (F.col("_ca") + F.col("_cb")) / (F.col("_na") + F.col("_nb"))
    z2 = (pa - pb) * (pa - pb) / (
        pp * (1 - pp) * (1.0 / F.col("_na") + 1.0 / F.col("_nb"))
    )
    return j.select(
        F.col("_na").alias("n_a"),
        F.col("_ca").alias("conv_a"),
        F.col("_nb").alias("n_b"),
        F.col("_cb").alias("conv_b"),
        F.round(pa, 6).alias("rate_a"),
        F.round(pb, 6).alias("rate_b"),
        F.round(z2, 6).alias("z_squared"),
        (F.round(z2, 6) > 3.841459).alias("significant_95"),
    )


ORACLE_AB_TEST = """
WITH users AS (
  SELECT user_id,
         CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 > SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              THEN 1 ELSE 0 END AS conv
  FROM events GROUP BY 1),
arms AS (
  SELECT CASE WHEN substr(md5('ab1' || chr(31) || CAST(user_id AS VARCHAR)), 1, 1) < '8'
              THEN 'A' ELSE 'B' END AS arm,
         CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(conv) AS BIGINT) AS n_converted
  FROM users GROUP BY 1),
j AS (
  SELECT a.n_users AS na, a.n_converted AS ca, b.n_users AS nb, b.n_converted AS cb
  FROM (SELECT * FROM arms WHERE arm = 'A') a
  CROSS JOIN (SELECT * FROM arms WHERE arm = 'B') b)
SELECT na AS n_a, ca AS conv_a, nb AS n_b, cb AS conv_b,
       round(ca / CAST(na AS DOUBLE), 6) AS rate_a,
       round(cb / CAST(nb AS DOUBLE), 6) AS rate_b,
       round((ca / CAST(na AS DOUBLE) - cb / CAST(nb AS DOUBLE))
             * (ca / CAST(na AS DOUBLE) - cb / CAST(nb AS DOUBLE))
             / ((ca + cb) / CAST(na + nb AS DOUBLE)
                * (1 - (ca + cb) / CAST(na + nb AS DOUBLE))
                * (1.0 / na + 1.0 / nb)), 6) AS z_squared,
       round((ca / CAST(na AS DOUBLE) - cb / CAST(nb AS DOUBLE))
             * (ca / CAST(na AS DOUBLE) - cb / CAST(nb AS DOUBLE))
             / ((ca + cb) / CAST(na + nb AS DOUBLE)
                * (1 - (ca + cb) / CAST(na + nb AS DOUBLE))
                * (1.0 / na + 1.0 / nb)), 6) > 3.841459 AS significant_95
FROM j
"""

QUERIES["ab_test_report"] = q_ab_test_report
ORACLES["ab_test_report"] = ORACLE_AB_TEST


def q_fk_orphan_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-lake referential-integrity sweep in one result: orphan
    counts for every FK edge in the schema (lineitem→orders/part/
    supplier, orders→customer, customer→nation, supplier→nation,
    nation→region) — the ops dashboard behind the per-edge dlq_split
    queries. Each edge is a left-anti join against the parent key
    (dims broadcast; fact-side edges shuffle only the key column)."""
    specs = [
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier", "s_nationkey", "nation", "n_nationkey"),
        ("nation", "n_regionkey", "region", "r_regionkey"),
    ]
    outs = []
    for child, ck, parent, pk in specs:
        c = load_table(spark, sf_dir, child).select(F.col(ck).alias("_k"))
        p = load_table(spark, sf_dir, parent).select(F.col(pk).alias("_k"))
        orphans = c.join(p, "_k", "left_anti")
        outs.append(
            c.agg(
                F.lit(f"{child}.{ck}").alias("fk_edge"),
                F.lit(f"{parent}.{pk}").alias("parent_key"),
                F.count(F.lit(1)).cast("long").alias("n_child_rows"),
            ).crossJoin(
                orphans.agg(F.count(F.lit(1)).cast("long").alias("n_orphans"))
            )
        )
    from functools import reduce

    return reduce(lambda a, b: a.unionByName(b), outs)


ORACLE_FK_ORPHANS = """
SELECT 'lineitem.l_orderkey' AS fk_edge, 'orders.o_orderkey' AS parent_key,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS n_child_rows,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
        WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS n_orphans
UNION ALL
SELECT 'lineitem.l_partkey', 'part.p_partkey',
       (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
        WHERE l_partkey NOT IN (SELECT p_partkey FROM part))
UNION ALL
SELECT 'lineitem.l_suppkey', 'supplier.s_suppkey',
       (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
        WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier))
UNION ALL
SELECT 'orders.o_custkey', 'customer.c_custkey',
       (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
        WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
UNION ALL
SELECT 'customer.c_nationkey', 'nation.n_nationkey',
       (SELECT CAST(COUNT(*) AS BIGINT) FROM customer),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM customer
        WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation))
UNION ALL
SELECT 'supplier.s_nationkey', 'nation.n_nationkey',
       (SELECT CAST(COUNT(*) AS BIGINT) FROM supplier),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM supplier
        WHERE s_nationkey NOT IN (SELECT n_nationkey FROM nation))
UNION ALL
SELECT 'nation.n_regionkey', 'region.r_regionkey',
       (SELECT CAST(COUNT(*) AS BIGINT) FROM nation),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM nation
        WHERE n_regionkey NOT IN (SELECT r_regionkey FROM region))
"""

QUERIES["fk_orphan_matrix"] = q_fk_orphan_matrix
ORACLES["fk_orphan_matrix"] = ORACLE_FK_ORPHANS


def q_timed_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict time-boxed conversion funnel view→click→purchase: a
    conversion is a view followed by the user's NEXT click within 30
    minutes, followed by the next purchase within 30 minutes of that
    click — 'next matching step' resolved per stage by a min-aggregate
    over candidate joins (never a cross join across users; the equi-key
    is the user). Reports stage survivors and 6dp conversion rates."""
    e = load_table(spark, sf_dir, "events")
    views = e.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("u"), F.col("event_id").alias("v_id"),
        F.col("ts").alias("v_ts"),
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("u"), F.col("ts").alias("c_ts")
    )
    purch = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("u"), F.col("ts").alias("p_ts")
    )
    vc = (
        views.join(clicks, "u")
        .filter(
            (F.col("c_ts") > F.col("v_ts"))
            & (F.col("c_ts") <= F.col("v_ts") + F.expr("INTERVAL 30 MINUTES"))
        )
        .groupBy("u", "v_id", "v_ts")
        .agg(F.min("c_ts").alias("c_ts"))
    )
    vcp = (
        vc.join(purch, "u")
        .filter(
            (F.col("p_ts") > F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES"))
        )
        .groupBy("u", "v_id")
        .agg(F.min("p_ts").alias("p_ts"))
    )
    n_views = views.agg(F.count(F.lit(1)).cast("long").alias("n_views"))
    n_vc = vc.agg(F.count(F.lit(1)).cast("long").alias("n_clicked"))
    n_vcp = vcp.agg(F.count(F.lit(1)).cast("long").alias("n_purchased"))
    return (
        n_views.crossJoin(F.broadcast(n_vc))
        .crossJoin(F.broadcast(n_vcp))
        .select(
            "n_views",
            "n_clicked",
            "n_purchased",
            F.round(F.col("n_clicked") / F.col("n_views"), 6).alias("view_to_click"),
            F.round(F.col("n_purchased") / F.col("n_clicked"), 6).alias(
                "click_to_purchase"
            ),
        )
    )


ORACLE_TIMED_FUNNEL = """
WITH views AS (
  SELECT user_id AS u, event_id AS v_id, ts AS v_ts FROM events WHERE event_type = 'view'),
clicks AS (SELECT user_id AS u, ts AS c_ts FROM events WHERE event_type = 'click'),
purch AS (SELECT user_id AS u, ts AS p_ts FROM events WHERE event_type = 'purchase'),
vc AS (
  SELECT v.u, v.v_id, v.v_ts, MIN(c.c_ts) AS c_ts
  FROM views v JOIN clicks c ON v.u = c.u
   AND c.c_ts > v.v_ts AND c.c_ts <= v.v_ts + INTERVAL 30 MINUTE
  GROUP BY 1, 2, 3),
vcp AS (
  SELECT vc.u, vc.v_id, MIN(p.p_ts) AS p_ts
  FROM vc JOIN purch p ON vc.u = p.u
   AND p.p_ts > vc.c_ts AND p.p_ts <= vc.c_ts + INTERVAL 30 MINUTE
  GROUP BY 1, 2)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM views) AS n_views,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM vc) AS n_clicked,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM vcp) AS n_purchased,
       round((SELECT COUNT(*) FROM vc) / CAST((SELECT COUNT(*) FROM views) AS DOUBLE), 6)
         AS view_to_click,
       round((SELECT COUNT(*) FROM vcp) / CAST((SELECT COUNT(*) FROM vc) AS DOUBLE), 6)
         AS click_to_purchase
"""

QUERIES["timed_funnel"] = q_timed_funnel
ORACLES["timed_funnel"] = ORACLE_TIMED_FUNNEL


def q_revenue_seasonality_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue with year-over-year comparison: cents-exact
    monthly totals, the lag-12 window fetching the same month last
    year, delta and 6dp growth ratio (null first year — no fake
    zeros). One tiny |months|-row window after the fact aggregate."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("_m")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("_cents")
    )
    w = Window.orderBy("_m")
    prev = F.lag("_cents", 12).over(w)
    return monthly.select(
        epoch_us("_m").alias("month_us"),
        (F.col("_cents") / 100.0).alias("revenue"),
        (prev / 100.0).alias("revenue_prior_year"),
        F.round(
            F.when(prev.isNotNull(), (F.col("_cents") - prev) / prev), 6
        ).alias("yoy_growth"),
    )


ORACLE_SEASONALITY = """
WITH monthly AS (
  SELECT date_trunc('month', o_orderdate) AS m,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1)
SELECT epoch_us(m) AS month_us,
       cents / 100.0 AS revenue,
       lag(cents, 12) OVER (ORDER BY m) / 100.0 AS revenue_prior_year,
       round((cents - lag(cents, 12) OVER (ORDER BY m))
             / CAST(lag(cents, 12) OVER (ORDER BY m) AS DOUBLE), 6) AS yoy_growth
FROM monthly
"""

QUERIES["revenue_seasonality_yoy"] = q_revenue_seasonality_yoy
ORACLES["revenue_seasonality_yoy"] = ORACLE_SEASONALITY


def q_pareto_revenue_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (the 80/20 report): customers ranked by
    cents-exact lifetime revenue (total order, key tiebreak), cut into
    revenue deciles; per decile the cumulative share of total revenue
    — exact integer cumulative sums, one division per output row.
    One customer aggregate, the decile cut through the distributed
    ``operators.windows.ntile_exact`` (descending revenue negated for
    the ascending range sort), then a 10-row rollup — the only
    remaining window is over the 10 decile rows."""
    from pyspark.sql import Window

    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.windows import ntile_exact

    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("_cents")
    )
    deciled = ntile_exact(
        per_cust.withColumn("_ncents", -F.col("_cents")),
        ["_ncents", "o_custkey"],
        10,
        bucket_col="decile",
    ).select("_cents", "decile")
    per_dec = deciled.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("_cents").cast("long").alias("_dec_cents"),
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    tot = per_dec.agg(F.sum("_dec_cents").alias("_tot"))
    return (
        per_dec.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_customers",
            (F.col("_dec_cents") / 100.0).alias("decile_revenue"),
            F.round(
                F.sum("_dec_cents").over(wc) / F.col("_tot").cast("double"), 6
            ).alias("cum_revenue_share"),
        )
    )


ORACLE_PARETO = """
WITH per_cust AS (
  SELECT o_custkey,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1),
deciled AS (
  SELECT cents, CAST(ntile(10) OVER (ORDER BY cents DESC, o_custkey ASC) AS BIGINT) AS decile
  FROM per_cust),
per_dec AS (
  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_customers,
         CAST(SUM(cents) AS BIGINT) AS dec_cents
  FROM deciled GROUP BY 1),
tot AS (SELECT CAST(SUM(dec_cents) AS BIGINT) AS t FROM per_dec)
SELECT decile, n_customers,
       dec_cents / 100.0 AS decile_revenue,
       round(CAST(SUM(dec_cents) OVER (ORDER BY decile
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             / CAST(t AS DOUBLE), 6) AS cum_revenue_share
FROM per_dec CROSS JOIN tot
"""

QUERIES["pareto_revenue_curve"] = q_pareto_revenue_curve
ORACLES["pareto_revenue_curve"] = ORACLE_PARETO


# --- round 7: count-min sketch family + hashing-trick featurizer ----------

from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.sketches import (  # noqa: E402
    cms_bucket_sql,
    cms_build,
    cms_estimate,
)

_CMS_DEPTH, _CMS_WIDTH = 4, 256


def _token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    )


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters through a count-min sketch: corpus token counts →
    4×256 integer sketch; the exact top-20 tokens are then point-
    estimated against the sketch, reporting estimate and (provably
    ≥ 0) overestimate. The sketch path never sees the corpus twice:
    one token count, one depth-way explode of the DISTINCT-token
    table, one 1024-cell aggregate; estimation broadcasts the sketch.
    Hash is the engine-exact md5-hex scheme of operators/sketches.py,
    inlined into the DuckDB oracle from the same builder."""
    from pyspark.sql import Window

    cnt = _token_counts(spark, sf_dir)
    sketch = cms_build(cnt, "token", "n_exact", _CMS_DEPTH, _CMS_WIDTH)
    w = Window.orderBy(F.col("n_exact").desc(), F.col("token").asc())
    top = (
        cnt.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 20)
    )
    est = cms_estimate(sketch, top, "token", _CMS_DEPTH, _CMS_WIDTH)
    return est.select(
        "token",
        "n_exact",
        "rank",
        "n_est",
        (F.col("n_est") - F.col("n_exact")).cast("long").alias("overestimate"),
    )


def _oracle_cms_heavy_hitters() -> str:
    cells = "\n    UNION ALL ".join(
        f"SELECT {j} AS seed, {cms_bucket_sql('token', j, _CMS_WIDTH)} AS bucket,"
        " n_exact FROM cnt"
        for j in range(_CMS_DEPTH)
    )
    probes = "\n    UNION ALL ".join(
        f"SELECT token, n_exact, rank, {j} AS seed,"
        f" {cms_bucket_sql('token', j, _CMS_WIDTH)} AS bucket FROM top"
        for j in range(_CMS_DEPTH)
    )
    return f"""
WITH cnt AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS n_exact
  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
  GROUP BY token),
cells AS (
  SELECT seed, bucket, CAST(SUM(n_exact) AS BIGINT) AS counter FROM (
    {cells}
  ) GROUP BY 1, 2),
top AS (
  SELECT token, n_exact,
         CAST(row_number() OVER (ORDER BY n_exact DESC, token ASC) AS BIGINT) AS rank
  FROM cnt QUALIFY rank <= 20),
probe_cells AS (
    {probes}
)
SELECT p.token, p.n_exact, p.rank,
       CAST(MIN(COALESCE(c.counter, 0)) AS BIGINT) AS n_est,
       CAST(MIN(COALESCE(c.counter, 0)) - p.n_exact AS BIGINT) AS overestimate
FROM probe_cells p LEFT JOIN cells c ON p.seed = c.seed AND p.bucket = c.bucket
GROUP BY 1, 2, 3
"""


QUERIES["cms_heavy_hitters"] = q_cms_heavy_hitters
ORACLES["cms_heavy_hitters"] = _oracle_cms_heavy_hitters()


def q_cms_merge_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact mergeability of the count-min sketch — the property that
    makes it the 100 TB/streaming structure: the corpus is split into
    two shards by an engine-portable md5 half-split on doc_id, a
    sketch is built per shard, the shard sketches are merged by cell-
    wise integer sum, and the merge is compared cell-for-cell against
    the sketch built directly on the full corpus. Counters are integer
    sums, so equality is EXACT (mismatched_cells = 0), not
    approximate — the oracle recomputes the direct sketch and pins
    every summary stat."""
    docs = load_table(spark, sf_dir, "documents")
    half_a = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "8"

    def counts(d: DataFrame) -> DataFrame:
        return (
            d.select(F.explode(F.split("text", " ")).alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
        )

    sk_a = cms_build(counts(docs.where(half_a)), "token", "n_exact", _CMS_DEPTH, _CMS_WIDTH)
    sk_b = cms_build(counts(docs.where(~half_a)), "token", "n_exact", _CMS_DEPTH, _CMS_WIDTH)
    merged = (
        sk_a.unionByName(sk_b)
        .groupBy("seed", "bucket")
        .agg(F.sum("counter").cast("long").alias("counter"))
    )
    direct = cms_build(counts(docs), "token", "n_exact", _CMS_DEPTH, _CMS_WIDTH)
    cmp = direct.alias("d").join(
        merged.alias("m"), ["seed", "bucket"], "full_outer"
    )
    return cmp.agg(
        F.count(F.col("d.counter")).cast("long").alias("n_cells_direct"),
        F.count(F.col("m.counter")).cast("long").alias("n_cells_merged"),
        F.sum(
            F.when(
                F.col("d.counter").eqNullSafe(F.col("m.counter")), 0
            ).otherwise(1)
        ).cast("long").alias("mismatched_cells"),
        F.sum(F.coalesce(F.col("d.counter"), F.lit(0))).cast("long").alias("total_direct"),
        F.sum(F.coalesce(F.col("m.counter"), F.lit(0))).cast("long").alias("total_merged"),
        F.max(F.coalesce(F.col("d.counter"), F.lit(0))).cast("long").alias("max_counter"),
    )


def _oracle_cms_merge_parity() -> str:
    cells = "\n    UNION ALL ".join(
        f"SELECT {j} AS seed, {cms_bucket_sql('token', j, _CMS_WIDTH)} AS bucket,"
        " n_exact FROM cnt"
        for j in range(_CMS_DEPTH)
    )
    return f"""
WITH cnt AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS n_exact
  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
  GROUP BY token),
cells AS (
  SELECT seed, bucket, CAST(SUM(n_exact) AS BIGINT) AS counter FROM (
    {cells}
  ) GROUP BY 1, 2)
SELECT CAST(COUNT(*) AS BIGINT) AS n_cells_direct,
       CAST(COUNT(*) AS BIGINT) AS n_cells_merged,
       CAST(0 AS BIGINT) AS mismatched_cells,
       CAST(SUM(counter) AS BIGINT) AS total_direct,
       CAST(SUM(counter) AS BIGINT) AS total_merged,
       CAST(MAX(counter) AS BIGINT) AS max_counter
FROM cells
"""


QUERIES["cms_merge_parity"] = q_cms_merge_parity
ORACLES["cms_merge_parity"] = _oracle_cms_merge_parity()


def q_feature_hash_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed hashing-trick featurizer (Weinberger et al. 2009): token
    → one of 64 feature buckets via the engine-exact md5-hex hash, a
    second independent hash bit supplies the ±1 sign (collision noise
    cancels in expectation), feature value = Σ sign·count per
    (doc, bucket). Map-side: explode + one (doc, bucket) integer
    aggregate; the doc filter (every 17th id) prunes at the scan.
    Fixed-width output regardless of vocabulary — the point of the
    trick for 100 TB featurization."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 17 == 0
    )
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    h = F.md5(F.concat(F.lit("fh:"), F.col("token")))
    bucket = (F.conv(F.substring(h, 1, 4), 16, 10).cast("long") % 64).alias("bucket")
    hs = F.md5(F.concat(F.lit("fhsign:"), F.col("token")))
    sign = F.when(
        F.conv(F.substring(hs, 1, 1), 16, 10).cast("long") % 2 == 0, 1
    ).otherwise(-1)
    return (
        tok.select("doc_id", bucket, sign.alias("_s"))
        .groupBy("doc_id", "bucket")
        .agg(F.sum("_s").cast("long").alias("feat"))
    )


ORACLE_FEATURE_HASH = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token
  FROM documents WHERE doc_id % 17 = 0)
SELECT doc_id,
       (('0x' || substr(md5('fh:' || token), 1, 4))::BIGINT % 64) AS bucket,
       CAST(SUM(CASE WHEN ('0x' || substr(md5('fhsign:' || token), 1, 1))::BIGINT % 2 = 0
                THEN 1 ELSE -1 END) AS BIGINT) AS feat
FROM tok
GROUP BY 1, 2
"""

QUERIES["feature_hash_features"] = q_feature_hash_features
ORACLES["feature_hash_features"] = ORACLE_FEATURE_HASH


def q_hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion: for the query
    {join, stream, filter}, ranking A scores documents by query BM25
    (per-term contributions 6dp-rounded → micro-BIGINT → integer sum;
    operators.tfidf.bm25_query_scores) and ranking B by the exact
    integer TF-IDF dot product against the query terms; each ranking's
    top-30 head (total-order tiebreak on doc_id) feeds
    operators.search.rrf_fuse, whose fused score is a row-level
    integer sum of round(1e6/(60+rank)) contributions — no float ever
    aggregates. Output is the fused top-15. Both rankings are
    wordcount-shaped aggregates; the fusion join touches ≤ 60 rows."""
    from pyspark.sql import Window

    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.search import (
        rrf_fuse,
    )
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.tfidf import (
        bm25_query_scores,
        tfidf_weights,
    )

    terms = ["join", "stream", "filter"]
    docs = load_table(spark, sf_dir, "documents")

    # top-30 heads via orderBy().limit() → distributed
    # TakeOrderedAndProject (per-partition heaps); ranks attach AFTER
    # the cut on the 30 survivors — a global row_number window here
    # would single-task every doc matching a common term.
    bm25 = bm25_query_scores(docs, terms)
    wa = Window.orderBy(F.col("bm25_micro").desc(), F.col("doc_id").asc())
    rank_a = (
        bm25.orderBy(F.col("bm25_micro").desc(), F.col("doc_id").asc())
        .limit(30)
        .withColumn("rank", F.row_number().over(wa).cast("long"))
        .select("doc_id", "rank")
    )

    dot = (
        tfidf_weights(docs)
        .filter(F.col("term").isin(*terms))
        .groupBy("doc_id")
        .agg(F.sum("w_int").cast("long").alias("dot_int"))
    )
    wb = Window.orderBy(F.col("dot_int").desc(), F.col("doc_id").asc())
    rank_b = (
        dot.orderBy(F.col("dot_int").desc(), F.col("doc_id").asc())
        .limit(30)
        .withColumn("rank", F.row_number().over(wb).cast("long"))
        .select("doc_id", "rank")
    )

    fused = rrf_fuse([("bm25", rank_a), ("dot", rank_b)])
    wf = Window.orderBy(F.col("rrf_micro").desc(), F.col("doc_id").asc())
    return (
        fused.withColumn("fused_rank", F.row_number().over(wf).cast("long"))
        .where(F.col("fused_rank") <= 15)
        .select("doc_id", "rank_bm25", "rank_dot", "rrf_micro", "fused_rank")
    )


ORACLE_HYBRID_RRF = """
WITH toks AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl,
         unnest(string_split(text, ' ')) AS term
  FROM documents),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf, any_value(dl) AS dl
  FROM toks GROUP BY 1, 2),
dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_dl
  FROM documents),
bm25 AS (
  SELECT t.doc_id,
         CAST(SUM(CAST(round(
           round(
             ln(1.0 + (g.n_docs - d.df + 0.5) / (d.df + 0.5))
               * t.tf * (1.2 + 1.0)
               / (t.tf + 1.2 * (1.0 - 0.75
                    + 0.75 * t.dl / (CAST(g.sum_dl AS DOUBLE) / g.n_docs))),
             6) * 1000000) AS BIGINT)) AS BIGINT) AS bm25_micro
  FROM tf t JOIN dfreq d USING (term) CROSS JOIN g
  WHERE t.term IN ('join', 'stream', 'filter')
  GROUP BY 1),
rank_a AS (
  SELECT doc_id, CAST(row_number() OVER (
           ORDER BY bm25_micro DESC, doc_id ASC) AS BIGINT) AS rank
  FROM bm25 QUALIFY rank <= 30),
dots AS (
  SELECT t.doc_id,
         CAST(SUM(CAST(round(t.tf * (ln((g.n_docs + 1.0) / (d.df + 1.0)) + 1.0)
                             * 10000) AS BIGINT)) AS BIGINT) AS dot_int
  FROM tf t JOIN dfreq d USING (term) CROSS JOIN g
  WHERE t.term IN ('join', 'stream', 'filter')
  GROUP BY 1),
rank_b AS (
  SELECT doc_id, CAST(row_number() OVER (
           ORDER BY dot_int DESC, doc_id ASC) AS BIGINT) AS rank
  FROM dots QUALIFY rank <= 30),
fused AS (
  SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
         a.rank AS rank_bm25, b.rank AS rank_dot,
         COALESCE(CAST(round(1000000.0 / (60 + a.rank)) AS BIGINT), 0)
           + COALESCE(CAST(round(1000000.0 / (60 + b.rank)) AS BIGINT), 0)
           AS rrf_micro
  FROM rank_a a FULL OUTER JOIN rank_b b ON a.doc_id = b.doc_id)
SELECT doc_id, rank_bm25, rank_dot, rrf_micro,
       CAST(row_number() OVER (ORDER BY rrf_micro DESC, doc_id ASC) AS BIGINT)
         AS fused_rank
FROM fused QUALIFY fused_rank <= 15
"""

QUERIES["hybrid_search_rrf"] = q_hybrid_search_rrf
ORACLES["hybrid_search_rrf"] = ORACLE_HYBRID_RRF


def q_stream_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming heavy hitters through a MAINTAINED count-min sketch
    (streaming/sketch_stream.py): events replay in 3 deterministic
    micro-batches (one staged file each, path-exact admission guard);
    every batch folds its batch-local 4×256 sketch into the stored
    grid by cell-wise integer sum. Because integer counters are
    associative+commutative, the final store provably equals the
    direct one-shot sketch — which is exactly what the DuckDB oracle
    computes — so the oracle discriminates the full multi-batch
    maintenance path. Readout: the exact top-10 users point-estimated
    against the maintained sketch."""
    from pyspark.sql import Window

    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.sketch_stream import (
        cms_stream_phased,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.col("user_id").cast("string").alias("key")
    )
    phases = [ev.where(F.col("event_id") % 3 == i) for i in range(3)]
    store, _stats = cms_stream_phased(
        spark, phases, "key", _CMS_DEPTH, _CMS_WIDTH
    )
    cnt = ev.groupBy("key").agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    w = Window.orderBy(F.col("n_exact").desc(), F.col("key").asc())
    top = (
        cnt.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 10)
    )
    est = cms_estimate(store, top, "key", _CMS_DEPTH, _CMS_WIDTH)
    return est.select(
        F.col("key").cast("long").alias("user_id"),
        "n_exact",
        "rank",
        "n_est",
        (F.col("n_est") - F.col("n_exact")).cast("long").alias("overestimate"),
    )


def _oracle_stream_cms_topk() -> str:
    key = "key"
    cells = "\n    UNION ALL ".join(
        f"SELECT {j} AS seed, {cms_bucket_sql(key, j, _CMS_WIDTH)} AS bucket,"
        " n_exact FROM cnt"
        for j in range(_CMS_DEPTH)
    )
    probes = "\n    UNION ALL ".join(
        f"SELECT key, n_exact, rank, {j} AS seed,"
        f" {cms_bucket_sql(key, j, _CMS_WIDTH)} AS bucket FROM top"
        for j in range(_CMS_DEPTH)
    )
    return f"""
WITH cnt AS (
  SELECT CAST(user_id AS VARCHAR) AS key, CAST(COUNT(*) AS BIGINT) AS n_exact
  FROM events GROUP BY 1),
cells AS (
  SELECT seed, bucket, CAST(SUM(n_exact) AS BIGINT) AS counter FROM (
    {cells}
  ) GROUP BY 1, 2),
top AS (
  SELECT key, n_exact,
         CAST(row_number() OVER (ORDER BY n_exact DESC, key ASC) AS BIGINT) AS rank
  FROM cnt QUALIFY rank <= 10),
probe_cells AS (
    {probes}
)
SELECT CAST(p.key AS BIGINT) AS user_id, p.n_exact, p.rank,
       CAST(MIN(COALESCE(c.counter, 0)) AS BIGINT) AS n_est,
       CAST(MIN(COALESCE(c.counter, 0)) - p.n_exact AS BIGINT) AS overestimate
FROM probe_cells p LEFT JOIN cells c ON p.seed = c.seed AND p.bucket = c.bucket
GROUP BY p.key, p.n_exact, p.rank
"""


QUERIES["stream_cms_topk"] = q_stream_cms_topk
ORACLES["stream_cms_topk"] = _oracle_stream_cms_topk()


def q_mv_rewrite_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view rewrite: a DAILY (order day × priority)
    pre-aggregate is materialized once per process (layout cache) and
    the MONTHLY revenue question is answered entirely FROM THE MV —
    the base fact table is never rescanned. The oracle aggregates the
    base table directly, so the hash match is the roll-up rewrite
    identity (month is a coarsening of day; cents and counts are
    re-aggregable sums). At 100 TB this is the difference between a
    |days×priorities|-row scan and a full fact scan per dashboard
    refresh."""
    def _write(root: str) -> None:
        o = load_table(spark, sf_dir, "orders")
        (
            o.groupBy(
                F.date_trunc("day", F.col("o_orderdate")).alias("d"),
                "o_orderpriority",
            )
            .agg(
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
                F.count(F.lit(1)).cast("long").alias("n"),
            )
            .write.mode("overwrite").parquet(root)
        )

    root = _materialized_layout("mv_daily_orders", sf_dir, _write)
    mv = spark.read.parquet(root)
    return (
        mv.groupBy(
            F.date_trunc("month", F.col("d")).alias("_m"), "o_orderpriority"
        )
        .agg(
            F.sum("cents").cast("long").alias("_cents"),
            F.sum("n").cast("long").alias("n_orders"),
        )
        .select(
            epoch_us("_m").alias("month_us"),
            "o_orderpriority",
            "n_orders",
            (F.col("_cents") / 100.0).alias("revenue"),
        )
    )


ORACLE_MV_REWRITE = """
SELECT epoch_us(date_trunc('month', o_orderdate)) AS month_us,
       o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0
         AS revenue
FROM orders
GROUP BY 1, 2
"""

QUERIES["mv_rewrite_rollup"] = q_mv_rewrite_rollup
ORACLES["mv_rewrite_rollup"] = ORACLE_MV_REWRITE


def q_span_corruption_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption PLAN, fully deterministic: each
    document is cut into 20-token blocks, and every full block masks
    one 3-token span whose offset comes from the engine-exact md5-hex
    hash of (doc_id, block) mod 18 — spans can never overlap by
    construction, so no driver-side rejection sampling and no RNG
    state. Output is the (doc, block, global span start, span text)
    mask table a seq2seq pretraining writer consumes. Map-only:
    tokenize → block explode → column arithmetic; no shuffle at all."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    t = d.select(
        "doc_id", toks.alias("toks"), F.size(toks).cast("long").alias("n")
    ).where(F.col("n") >= 20)
    b = t.select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(F.lit(0).cast("long"), (F.floor(F.col("n") / 20) - 1).cast("long"))
        ).alias("block"),
    )
    h = F.md5(
        F.concat(
            F.lit("span:"),
            F.col("doc_id").cast("string"),
            F.lit(":"),
            F.col("block").cast("string"),
        )
    )
    off = F.conv(F.substring(h, 1, 4), 16, 10).cast("long") % 18
    start = (F.col("block") * 20 + off).alias("span_start")
    return b.select(
        "doc_id",
        "block",
        start,
        F.array_join(
            F.slice(F.col("toks"), F.col("span_start") + 1, 3), " "
        ).alias("span_text"),
    )


ORACLE_SPAN_CORRUPTION = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n
  FROM documents),
b AS (
  SELECT doc_id, toks,
         unnest(generate_series(0, CAST(n // 20 - 1 AS BIGINT))) AS block
  FROM t WHERE n >= 20),
s AS (
  SELECT doc_id, toks, block,
         block * 20
           + (('0x' || substr(md5('span:' || doc_id || ':' || block), 1, 4))::BIGINT % 18)
           AS span_start
  FROM b)
SELECT doc_id, block, span_start,
       array_to_string(toks[span_start + 1 : span_start + 3], ' ') AS span_text
FROM s
"""

QUERIES["span_corruption_plan"] = q_span_corruption_plan
ORACLES["span_corruption_plan"] = ORACLE_SPAN_CORRUPTION


def q_blocking_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-quality evaluation of banded-MinHash LSH
    (operators.dedup_near.blocking_quality): pair completeness and
    reduction ratio against the exact ≥0.5-Jaccard truth set. Uses the
    ENGINE-PORTABLE md5-hex minhash (16 hashes, r=2×b=8) so the DuckDB
    oracle recomputes the candidate set value-for-value instead of
    arguing recall analytically — both the blocking and its evaluation
    are pinned. Candidates stay block-internal (band join); truth is
    the prefix-filtered exact pair set; the report is one row of exact
    integers + two 6dp divisions."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.dedup_near import (
        blocking_quality,
    )

    return blocking_quality(load_table(spark, sf_dir, "documents"))


ORACLE_BLOCKING_QUALITY = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
  WHERE len(string_split(text, ' ')) >= 3),
sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i) g),
mh AS (
  SELECT doc_id, seed,
         MIN(('0x' || substr(md5('pmh' || seed || ':' || shingle), 1, 8))::BIGINT) AS v
  FROM sh, LATERAL (SELECT unnest(generate_series(0, 15)) AS seed) s
  GROUP BY 1, 2),
bandkeys AS (
  SELECT doc_id, seed // 2 AS band_idx,
         string_agg(CAST(v AS VARCHAR), ':' ORDER BY seed) AS band_key
  FROM mh GROUP BY doc_id, seed // 2),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM bandkeys a JOIN bandkeys b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
shared AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
exact AS (
  SELECT d1, d2
  FROM shared JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
  WHERE round(shared / (s1.n_sh + s2.n_sh - shared), 6) >= 0.5),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM toks),
c1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates FROM cand),
e1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM exact),
g1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_caught
       FROM (SELECT * FROM cand INTERSECT SELECT * FROM exact))
SELECT n_docs, n_exact, n_candidates, n_caught,
       round(n_caught / CAST(n_exact AS DOUBLE), 6) AS pair_completeness,
       round(1.0 - n_candidates
             / CAST(n_docs * (n_docs - 1) // 2 AS DOUBLE), 6) AS reduction_ratio
FROM n, c1, e1, g1
"""

QUERIES["blocking_quality_report"] = q_blocking_quality_report
ORACLES["blocking_quality_report"] = ORACLE_BLOCKING_QUALITY


def q_lsh_scurve_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-LSH S-curve evaluation (operators.dedup_near.
    lsh_scurve_eval — MMDS ch. 3): per exact-Jaccard similarity
    bucket, the observed share of true pairs the band join surfaced
    next to the analytic 1−(1−s^r)^b at the bucket midpoint — the
    per-bucket refinement of blocking_quality_report. Integer
    bucketing (shared·20 div union, clamped) so no float boundary can
    disagree; the expected probability is one composed float tree
    built ONCE and inlined verbatim into both engines (pow() would
    route through libm and is not ULP-portable). Candidates stay
    block-internal; the caught join is amplification-free; the output
    is ≤20 rows."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.dedup_near import (
        lsh_scurve_eval,
    )

    return lsh_scurve_eval(load_table(spark, sf_dir, "documents"))


def _oracle_lsh_scurve(buckets: int = 20) -> str:
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.dedup_near import (
        scurve_expected_expr,
    )

    return f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
  WHERE len(string_split(text, ' ')) >= 3),
sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i) g),
mh AS (
  SELECT doc_id, seed,
         MIN(('0x' || substr(md5('pmh' || seed || ':' || shingle), 1, 8))::BIGINT) AS v
  FROM sh, LATERAL (SELECT unnest(generate_series(0, 15)) AS seed) s
  GROUP BY 1, 2),
bandkeys AS (
  SELECT doc_id, seed // 2 AS band_idx,
         string_agg(CAST(v AS VARCHAR), ':' ORDER BY seed) AS band_key
  FROM mh GROUP BY doc_id, seed // 2),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM bandkeys a JOIN bandkeys b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
shared AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
bucketed AS (
  SELECT p.d1, p.d2,
         LEAST((p.shared * {buckets}) // (s1.n_sh + s2.n_sh - p.shared),
               {buckets - 1}) AS bucket
  FROM shared p JOIN sizes s1 ON p.d1 = s1.doc_id
                JOIN sizes s2 ON p.d2 = s2.doc_id),
per AS (
  SELECT b.bucket,
         CAST(COUNT(*) AS BIGINT) AS n_true,
         CAST(SUM(CASE WHEN c.d1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_caught
  FROM bucketed b LEFT JOIN cand c ON b.d1 = c.d1 AND b.d2 = c.d2
  GROUP BY 1)
SELECT bucket, n_true, n_caught,
       round(n_caught / CAST(n_true AS DOUBLE), 6) AS observed_rate,
       {scurve_expected_expr(2, 8, buckets)} AS expected_rate
FROM per
"""


QUERIES["lsh_scurve_eval"] = q_lsh_scurve_eval
ORACLES["lsh_scurve_eval"] = _oracle_lsh_scurve()


def q_cms_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join cardinality estimation WITHOUT running the join: the
    orders- and lineitem-side key-frequency tables collapse to 4×256
    count-min sketches, and |orders ⋈ lineitem| is estimated as the
    min-over-seeds inner product of counter rows
    (operators.sketches.cms_inner_product) — the optimizer's
    join-size question answered from two grid-sized summaries. The
    exact size Σ n_o(k)·n_l(k) is computed alongside (one key join of
    two count tables) to pin the guaranteed-nonnegative sketch
    overestimate. est_size/overestimate accumulate in DECIMAL(38,0)
    (the CMS estimate carries ~N_o*N_l/width collision mass, which
    exceeds int64 long before the true join size does — r11 overflow
    sweep) and are EMITTED as STRING of the scale-0 decimal — the r12
    driver-stable output convention (module docstring). The oracle
    replicates both paths."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.sketches import (
        cms_inner_product,
    )

    o = (
        load_table(spark, sf_dir, "orders")
        .select(F.col("o_orderkey").cast("string").alias("key"))
        .groupBy("key")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    l = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").cast("string").alias("key"))
        .groupBy("key")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    sk_o = cms_build(o, "key", "n", _CMS_DEPTH, _CMS_WIDTH)
    sk_l = cms_build(l, "key", "n", _CMS_DEPTH, _CMS_WIDTH)
    est = cms_inner_product(sk_o, sk_l)
    exact = (
        o.alias("a")
        .join(l.alias("b"), "key")
        .agg(F.sum(F.col("a.n") * F.col("b.n")).cast("long").alias("exact_size"))
    )
    return exact.crossJoin(F.broadcast(est)).select(
        "exact_size",
        F.col("est_size").cast("string").alias("est_size"),
        (F.col("est_size") - F.col("exact_size"))
        .cast("decimal(38,0)")
        .cast("string")
        .alias("overestimate"),
    )


def _oracle_cms_join_size() -> str:
    def cells(src: str) -> str:
        return "\n    UNION ALL ".join(
            f"SELECT {j} AS seed, {cms_bucket_sql('key', j, _CMS_WIDTH)} AS bucket,"
            f" n FROM {src}"
            for j in range(_CMS_DEPTH)
        )

    return f"""
WITH o AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS key, CAST(COUNT(*) AS BIGINT) AS n
  FROM orders GROUP BY 1),
l AS (
  SELECT CAST(l_orderkey AS VARCHAR) AS key, CAST(COUNT(*) AS BIGINT) AS n
  FROM lineitem GROUP BY 1),
sk_o AS (
  SELECT seed, bucket, CAST(SUM(n) AS BIGINT) AS counter FROM (
    {cells('o')}
  ) GROUP BY 1, 2),
sk_l AS (
  SELECT seed, bucket, CAST(SUM(n) AS BIGINT) AS counter FROM (
    {cells('l')}
  ) GROUP BY 1, 2),
est AS (
  SELECT CAST(MIN(ip) AS DECIMAL(38,0)) AS est_size FROM (
    SELECT a.seed, SUM(CAST(a.counter AS HUGEINT) * CAST(b.counter AS HUGEINT)) AS ip
    FROM sk_o a JOIN sk_l b ON a.seed = b.seed AND a.bucket = b.bucket
    GROUP BY 1)),
exact AS (
  SELECT CAST(SUM(o.n * l.n) AS BIGINT) AS exact_size
  FROM o JOIN l USING (key))
SELECT exact_size, CAST(est_size AS VARCHAR) AS est_size,
       CAST(CAST(est_size - exact_size AS DECIMAL(38,0)) AS VARCHAR)
         AS overestimate
FROM exact, est
"""


QUERIES["cms_join_size"] = q_cms_join_size
ORACLES["cms_join_size"] = _oracle_cms_join_size()


def q_stream_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming PSI drift monitor (streaming/drift_stream.py): the
    events table replays in 3 deterministic micro-batches; each batch's
    value distribution is scored against the materialized reference
    (phase 0's distribution) over 10 fixed [0,1000) bins, appending one
    (batch_id, n_batch, psi) row per trigger. Batch 0 scores its own
    reference — psi must be exactly 0.0, a built-in calibration check.
    Per-batch work is |batch| → 10 bins + constant math; the monitor's
    state is grid-sized. The oracle recomputes each phase's PSI
    directly (scaled-BIGINT term sums — hash-stable)."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.drift_stream import (
        psi_stream_phased,
    )

    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    phases = [ev.where(F.col("event_id") % 3 == i) for i in range(3)]
    out, _stats = psi_stream_phased(
        spark, phases, reference=phases[0], value_col="value"
    )
    return out.select("batch_id", "n_batch", "psi")


def _oracle_stream_drift() -> str:
    bin_expr = (
        "LEAST(9, GREATEST(0, CAST(floor(value / 100.0) AS BIGINT)))"
    )
    parts = []
    for i in range(3):
        parts.append(f"""
SELECT {i} AS batch_id,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM events WHERE event_id % 3 = {i})
         AS n_batch,
       (WITH a AS (
          SELECT {bin_expr} AS bin, CAST(COUNT(*) AS BIGINT) AS c
          FROM events WHERE event_id % 3 = 0 GROUP BY 1),
        b AS (
          SELECT {bin_expr} AS bin, CAST(COUNT(*) AS BIGINT) AS c
          FROM events WHERE event_id % 3 = {i} GROUP BY 1),
        t AS (SELECT (SELECT SUM(c) FROM a) AS ta, (SELECT SUM(c) FROM b) AS tb)
        SELECT round(SUM(CAST(round(
                 (CAST(a.c AS DOUBLE)/ta - CAST(b.c AS DOUBLE)/tb)
                 * ln((CAST(a.c AS DOUBLE)/ta) / (CAST(b.c AS DOUBLE)/tb))
                 * 1e9) AS BIGINT)) / 1e9, 6)
        FROM a JOIN b USING (bin) CROSS JOIN t
        WHERE a.c > 0 AND b.c > 0) AS psi""")
    return "\nUNION ALL\n".join(parts)


QUERIES["stream_drift_monitor"] = q_stream_drift_monitor
ORACLES["stream_drift_monitor"] = _oracle_stream_drift()


def q_embedding_truncation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style dimension-truncation audit: for 20 probe
    vectors, the exact top-10 cosine neighbor set under the FULL 64-dim
    embedding vs under the first-16-dims prefix; per probe the overlap
    count and recall@10 of the truncated index. The standard question
    before shipping a cheaper ANN index ('can we keep 1/4 of the
    dims?') answered with exact set arithmetic — both neighbor sets
    are deterministic (6dp-rounded similarity, id tiebreak), so the
    overlap is an exact integer and the oracle recomputes both sides."""
    emb = load_table(spark, sf_dir, "embeddings")
    q_full = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    full = cosine_topk(emb, q_full, k=10).select("q_id", "vec_id")
    emb_t = emb.select("vec_id", F.slice("embedding", 1, 16).alias("embedding"))
    q_t = emb_t.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    trunc = cosine_topk(emb_t, q_t, k=10).select("q_id", "vec_id")
    overlap = full.join(trunc, ["q_id", "vec_id"], "left_semi")
    return (
        overlap.groupBy("q_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
        .select(
            "q_id",
            "n_overlap",
            F.round(F.col("n_overlap") / 10.0, 6).alias("recall_at_10"),
        )
    )


ORACLE_EMB_TRUNCATION = """
WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 20),
full_nn AS (
  SELECT q_id, vec_id FROM (
    SELECT q.q_id, e.vec_id,
           row_number() OVER (
             PARTITION BY q.q_id
             ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], q.q_emb::DOUBLE[]), 6) DESC,
                      e.vec_id ASC) AS rank
    FROM embeddings e CROSS JOIN q
  ) WHERE rank <= 10),
trunc_nn AS (
  SELECT q_id, vec_id FROM (
    SELECT q.q_id, e.vec_id,
           row_number() OVER (
             PARTITION BY q.q_id
             ORDER BY round(list_cosine_similarity(
                        (e.embedding[1:16])::DOUBLE[], (q.q_emb[1:16])::DOUBLE[]), 6) DESC,
                      e.vec_id ASC) AS rank
    FROM embeddings e CROSS JOIN q
  ) WHERE rank <= 10)
SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_overlap,
       round(COUNT(*) / 10.0, 6) AS recall_at_10
FROM full_nn JOIN trunc_nn USING (q_id, vec_id)
GROUP BY q_id
"""

QUERIES["embedding_truncation_audit"] = q_embedding_truncation_audit
ORACLES["embedding_truncation_audit"] = ORACLE_EMB_TRUNCATION


# ---------------------------------------------------------------------------
# Round 7 (cont.): range-join, window-shape, CBO-stats, and LM-scoring family
# ---------------------------------------------------------------------------


def q_interval_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user interval-overlap self-join
    (operators.rangejoin.interval_overlap_join): each event is the
    interval [ts, ts + value seconds] in exact epoch micros; pairs of
    the same user's events with strictly overlapping intervals are
    found via the bin-blocked equi-join lowering (1-hour bins, pair
    kept once in the bin of the later start), then rolled up per
    user. The naive form is a quadratic non-equi self-join; this one
    is a hash equi-join on (user, bin). Durations clamp at zero
    (``greatest(value, 0)`` on both engines) — a negative event value
    would otherwise invert the interval, violating
    interval_overlap_join's documented start <= end precondition and
    emitting semantically-wrong negative overlaps."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.rangejoin import (
        interval_overlap_join,
    )

    e = load_table(spark, sf_dir, "events")
    iv = e.select(
        "user_id",
        "event_id",
        epoch_us("ts").alias("start_us"),
        (
            epoch_us("ts")
            + F.round(F.greatest(F.col("value"), F.lit(0.0)) * 1e6).cast("long")
        ).alias("end_us"),
    )
    pairs = interval_overlap_join(
        iv, "user_id", "event_id", "start_us", "end_us", bin_width=3_600_000_000
    )
    return pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("overlap").cast("long").alias("total_overlap_us"),
        F.max("overlap").cast("long").alias("max_overlap_us"),
    )


ORACLE_INTERVAL_OVERLAP = """
WITH iv AS (
  SELECT user_id, event_id, epoch_us(ts) AS s,
         epoch_us(ts) + CAST(round(greatest(value, 0) * 1000000) AS BIGINT) AS e
  FROM events),
p AS (
  SELECT a.user_id, least(a.e, b.e) - greatest(a.s, b.s) AS overlap
  FROM iv a JOIN iv b
    ON a.user_id = b.user_id AND a.event_id < b.event_id
   AND a.s < b.e AND b.s < a.e)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(overlap) AS BIGINT) AS total_overlap_us,
       CAST(MAX(overlap) AS BIGINT) AS max_overlap_us
FROM p GROUP BY user_id
"""

QUERIES["interval_overlap_pairs"] = q_interval_overlap_pairs
ORACLES["interval_overlap_pairs"] = ORACLE_INTERVAL_OVERLAP


def q_order_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: longest run of CONSECUTIVE order-months per
    customer (m - row_number() island key over distinct active
    months), keeping streaks >= 3. All-integer month arithmetic; one
    distinct aggregate + one per-customer window + two rollups, every
    stage keyed by customer."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    months = o.select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
        .cast("long")
        .alias("_m"),
    ).distinct()
    w = Window.partitionBy("o_custkey").orderBy("_m")
    islands = months.withColumn("_isl", F.col("_m") - F.row_number().over(w))
    per_island = islands.groupBy("o_custkey", "_isl").agg(
        F.count(F.lit(1)).cast("long").alias("_len")
    )
    return (
        per_island.groupBy("o_custkey")
        .agg(
            F.max("_len").alias("longest_streak"),
            F.sum("_len").cast("long").alias("n_active_months"),
            F.count(F.lit(1)).cast("long").alias("n_streaks"),
        )
        .where(F.col("longest_streak") >= 3)
    )


ORACLE_ORDER_STREAKS = """
WITH months AS (
  SELECT DISTINCT o_custkey,
         CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT) AS m
  FROM orders),
isl AS (
  SELECT o_custkey, m,
         m - row_number() OVER (PARTITION BY o_custkey ORDER BY m) AS g
  FROM months),
runs AS (
  SELECT o_custkey, g, CAST(COUNT(*) AS BIGINT) AS len
  FROM isl GROUP BY 1, 2)
SELECT o_custkey, CAST(MAX(len) AS BIGINT) AS longest_streak,
       CAST(SUM(len) AS BIGINT) AS n_active_months,
       CAST(COUNT(*) AS BIGINT) AS n_streaks
FROM runs GROUP BY o_custkey HAVING MAX(len) >= 3
"""

QUERIES["order_streaks"] = q_order_streaks
ORACLES["order_streaks"] = ORACLE_ORDER_STREAKS


def q_ewma_event_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact EWMA spike detector
    (operators.timeseries.ewma_flags, alpha=1/2, span=16) over hourly
    per-type event counts: the weighted sum is a BIGINT of power-of-2
    weights and the 3x-spike test is an exact integer comparison —
    no float accumulation anywhere. One count aggregate + one
    per-type ordered window."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.timeseries import (
        ewma_flags,
    )

    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("_h")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    series = hourly.select(
        "event_type", epoch_us("_h").alias("hour_us"), "n_events"
    )
    return ewma_flags(
        series, "event_type", "hour_us", "n_events", span=16, spike_factor=3
    )


_EWMA_TERMS = " + ".join(
    f"lag(n_events, {j}) OVER w * {1 << (16 - j)}" for j in range(1, 17)
)
ORACLE_EWMA_ANOMALIES = f"""
WITH hourly AS (
  SELECT event_type, epoch_us(date_trunc('hour', ts)) AS hour_us,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2),
lagged AS (
  SELECT event_type, hour_us, n_events,
         CAST({_EWMA_TERMS} AS BIGINT) AS ws
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hour_us))
SELECT event_type, hour_us, n_events,
       round(ws / 65535.0, 6) AS ewma,
       n_events * 65535 > 3 * ws AS is_spike
FROM lagged WHERE ws IS NOT NULL
"""

QUERIES["ewma_event_anomalies"] = q_ewma_event_anomalies
ORACLES["ewma_event_anomalies"] = ORACLE_EWMA_ANOMALIES


def q_bigram_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM familiarity score per document
    (operators.collocations.bigram_familiarity): mean corpus
    frequency of the document's adjacent-token bigrams — the
    integer-exact stand-in for perplexity-based quality filtering.
    Two wordcount aggregates + one vocabulary-shaped join."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.collocations import (
        bigram_familiarity,
    )

    return bigram_familiarity(load_table(spark, sf_dir, "documents"))


ORACLE_BIGRAM_FAMILIARITY = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
bi AS (
  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
  FROM toks, LATERAL (
    SELECT unnest(generate_series(1, greatest(len(t) - 1, 0))) AS i) g),
per_doc AS (
  SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS k FROM bi GROUP BY 1, 2, 3),
corpus AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n FROM bi GROUP BY 1, 2)
SELECT doc_id,
       CAST(SUM(k) AS BIGINT) AS n_bigrams,
       round(CAST(SUM(k * n) AS BIGINT) / CAST(SUM(k) AS DOUBLE), 6) AS familiarity
FROM per_doc JOIN corpus USING (w1, w2)
GROUP BY doc_id
"""

QUERIES["bigram_familiarity"] = q_bigram_familiarity
ORACLES["bigram_familiarity"] = ORACLE_BIGRAM_FAMILIARITY


def q_part_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto front (operators.skyline.skyline_2d) minimizing
    (retail price, size) over parts — the multi-objective dominance
    filter single-objective top-k cannot express, lowered to one
    distinct-point aggregate + a tiny window instead of the textbook
    quadratic NOT EXISTS self-join."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.skyline import (
        skyline_2d,
    )

    p = load_table(spark, sf_dir, "part")
    pts = p.select(
        F.round(F.col("p_retailprice") * 100).cast("long").alias("price_cents"),
        F.col("p_size").cast("long").alias("p_size"),
        "p_partkey",
    )
    sky = skyline_2d(pts, "price_cents", "p_size", "p_partkey")
    return sky.select(
        (F.col("x") / 100.0).alias("price"),
        F.col("y").alias("p_size"),
        "n_rows",
        F.col("min_id").alias("sample_partkey"),
    )


ORACLE_PART_SKYLINE = """
WITH pts AS (
  SELECT CAST(round(p_retailprice * 100) AS BIGINT) AS x,
         CAST(p_size AS BIGINT) AS y, p_partkey
  FROM part),
grp AS (
  SELECT x, y, CAST(COUNT(*) AS BIGINT) AS n_rows, MIN(p_partkey) AS min_id
  FROM pts GROUP BY 1, 2),
best AS (
  SELECT x, y, n_rows, min_id FROM (
    SELECT *, row_number() OVER (PARTITION BY x ORDER BY y ASC) AS r FROM grp
  ) WHERE r = 1),
run AS (
  SELECT x, y, n_rows, min_id,
         min(y) OVER (ORDER BY x ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
  FROM best)
SELECT x / 100.0 AS price, y AS p_size, n_rows, min_id AS sample_partkey
FROM run WHERE pm IS NULL OR y < pm
"""

QUERIES["part_skyline"] = q_part_skyline
ORACLES["part_skyline"] = ORACLE_PART_SKYLINE


def q_histogram_selectivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram build + range-predicate selectivity audit
    (operators.histogram.selectivity_audit, 32 buckets over order
    price cents): histogram-interpolated row estimates vs the exact
    answer for three thresholds — the ANALYZE-statistics loop made
    measurable. Scaled-integer interpolation keeps the estimate sum
    order-independent."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.histogram import (
        selectivity_audit,
    )

    o = load_table(spark, sf_dir, "orders")
    cents = o.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("_c"),
        "o_orderkey",
    )
    return selectivity_audit(
        cents, "_c", "o_orderkey", [2_000_000, 10_000_000, 30_000_000], n_buckets=32
    )


ORACLE_HISTOGRAM_SELECTIVITY = """
WITH c AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v, o_orderkey FROM orders),
h AS (
  SELECT bucket, MIN(v) AS lo, MAX(v) AS hi, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT v, ntile(32) OVER (ORDER BY v ASC, o_orderkey ASC) AS bucket FROM c)
  GROUP BY bucket),
lits AS (SELECT CAST(col0 AS BIGINT) AS threshold
         FROM (VALUES (2000000), (10000000), (30000000))),
est AS (
  SELECT threshold,
         round(CAST(SUM(CASE WHEN lo > threshold THEN cnt * 1000000
                             WHEN hi <= threshold THEN 0
                             ELSE cnt * (((hi - threshold) * 1000000) // (hi - lo))
                        END) AS BIGINT) / 1000000.0, 6) AS est_rows
  FROM h CROSS JOIN lits GROUP BY threshold),
tr AS (
  SELECT threshold,
         CAST(SUM(CASE WHEN v > threshold THEN 1 ELSE 0 END) AS BIGINT) AS true_rows
  FROM c CROSS JOIN lits GROUP BY threshold)
SELECT threshold, est_rows, true_rows,
       round((est_rows - true_rows) / CAST(true_rows AS DOUBLE), 6) AS rel_error
FROM est JOIN tr USING (threshold)
"""

QUERIES["histogram_selectivity"] = q_histogram_selectivity
ORACLES["histogram_selectivity"] = ORACLE_HISTOGRAM_SELECTIVITY


def q_kcore_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-core peeling (operators.graph.kcore_peel, k=90,
    3 rounds) of the part co-purchase graph: the dense-subgraph
    extraction that complements the triangle census — recommendation
    pipelines mine the core, GNN samplers drop the periphery. Fixed
    round count keeps the peel replayable; each round is one degree
    aggregate + two broadcastable semi-joins, lineage cut per round."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.graph import (
        kcore_peel,
    )

    li = parallelize(
        load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    )
    x, y = li.alias("x"), li.alias("y")
    pairs = x.join(
        y,
        (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
        & (F.col("x.l_partkey") < F.col("y.l_partkey")),
    ).select(F.col("x.l_partkey").alias("a"), F.col("y.l_partkey").alias("b"))
    return kcore_peel(pairs, "a", "b", k=90, rounds=3)


def _kcore_oracle(k: int, rounds: int) -> str:
    # AS MATERIALIZED: each e{r} is referenced three times (twice by
    # the degree union, once by the next round) — DuckDB's default CTE
    # inlining recomputes the whole prefix chain per reference, which
    # is exponential in rounds (270s at sf0.1); materializing each
    # round makes the oracle linear like the Spark side.
    parts = [
        """e0 AS MATERIALIZED (
  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
  FROM lineitem x JOIN lineitem y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey)"""
    ]
    for r in range(rounds):
        parts.append(
            f"""d{r} AS MATERIALIZED (
  SELECT n, COUNT(*) AS deg
  FROM (SELECT a AS n FROM e{r} UNION ALL SELECT b AS n FROM e{r})
  GROUP BY n),
a{r} AS MATERIALIZED (SELECT n FROM d{r} WHERE deg >= {k}),
e{r + 1} AS MATERIALIZED (
  SELECT e.a, e.b FROM e{r} e
  JOIN a{r} xa ON e.a = xa.n JOIN a{r} xb ON e.b = xb.n)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT node, CAST(COUNT(*) AS BIGINT) AS core_degree
FROM (SELECT a AS node FROM e{rounds} UNION ALL SELECT b AS node FROM e{rounds})
GROUP BY node"""
    )


QUERIES["kcore_copurchase"] = q_kcore_copurchase
ORACLES["kcore_copurchase"] = _kcore_oracle(90, 3)


def q_merkle_bucket_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle-style anti-entropy reconciliation
    (operators.diff.merkle_bucket_summary): two deterministically
    diverged customer snapshots (keys ≡2 mod 1000 added, ≡1 mod 1000
    removed, ≡7 mod 100 balance-shifted) are each reduced to 64
    bucket (count, checksum) summaries; the diff compares 64 rows per
    side instead of every row — at 100 TB only the diverged buckets
    then need the row-level ``snapshot_diff``. Checksums are
    engine-portable md5-prefix integer sums over int/string payloads
    only."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.diff import (
        merkle_bucket_summary,
    )

    c = load_table(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    old = c.where(F.col("c_custkey") % 1000 != 2).select(
        "c_custkey", "c_mktsegment", cents.alias("_cents")
    )
    new = c.where(F.col("c_custkey") % 1000 != 1).select(
        "c_custkey",
        "c_mktsegment",
        F.when(F.col("c_custkey") % 100 == 7, cents + 10000)
        .otherwise(cents)
        .alias("_cents"),
    )
    payload = F.concat_ws(
        "|", F.col("c_mktsegment"), F.col("_cents").cast("string")
    )
    so = merkle_bucket_summary(old, "c_custkey", payload, 64).alias("o")
    sn = merkle_bucket_summary(new, "c_custkey", payload, 64).alias("n")
    return so.join(sn, "bucket", "full_outer").select(
        "bucket",
        F.col("o.n_rows").alias("n_old"),
        F.col("n.n_rows").alias("n_new"),
        F.col("o.checksum").alias("checksum_old"),
        F.col("n.checksum").alias("checksum_new"),
        (
            (
                F.coalesce(F.col("o.n_rows"), F.lit(-1))
                != F.coalesce(F.col("n.n_rows"), F.lit(-1))
            )
            | (
                F.coalesce(F.col("o.checksum"), F.lit(-1))
                != F.coalesce(F.col("n.checksum"), F.lit(-1))
            )
        ).alias("diverged"),
    )


ORACLE_MERKLE_DIFF = """
WITH base AS (
  SELECT c_custkey, c_mktsegment,
         CAST(round(c_acctbal * 100) AS BIGINT) AS cents
  FROM customer),
old AS (
  SELECT c_custkey % 64 AS bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(('0x' || substr(md5(c_custkey || '|' || c_mktsegment || '|' || cents), 1, 10))::BIGINT) AS BIGINT) AS checksum
  FROM base WHERE c_custkey % 1000 <> 2 GROUP BY 1),
neu AS (
  SELECT c_custkey % 64 AS bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(('0x' || substr(md5(c_custkey || '|' || c_mktsegment || '|' ||
              (CASE WHEN c_custkey % 100 = 7 THEN cents + 10000 ELSE cents END)), 1, 10))::BIGINT) AS BIGINT) AS checksum
  FROM base WHERE c_custkey % 1000 <> 1 GROUP BY 1)
SELECT COALESCE(old.bucket, neu.bucket) AS bucket,
       old.n_rows AS n_old, neu.n_rows AS n_new,
       old.checksum AS checksum_old, neu.checksum AS checksum_new,
       (COALESCE(old.n_rows, -1) <> COALESCE(neu.n_rows, -1)
        OR COALESCE(old.checksum, -1) <> COALESCE(neu.checksum, -1)) AS diverged
FROM old FULL OUTER JOIN neu ON old.bucket = neu.bucket
"""

QUERIES["merkle_bucket_diff"] = q_merkle_bucket_diff
ORACLES["merkle_bucket_diff"] = ORACLE_MERKLE_DIFF


def q_join_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnosis (operators.skew.skew_report) over
    lineitem's supplier FK: Gini coefficient, top-key share, p99/p50
    frequency ratio, key count, and the 5 hottest keys — the report
    you read before choosing a salting factor. Exact-integer rank
    arithmetic over the (already reduced) key histogram."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.skew import (
        skew_report,
    )

    li = load_table(spark, sf_dir, "lineitem")
    return skew_report(li, "l_suppkey", top_n=5)


ORACLE_SKEW_REPORT = """
WITH freq AS (
  SELECT l_suppkey AS k, CAST(COUNT(*) AS BIGINT) AS x FROM lineitem GROUP BY 1),
ranked AS (
  SELECT k, x,
         CAST(row_number() OVER (ORDER BY x ASC, k ASC) AS BIGINT) AS i
  FROM freq),
sc AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS tot,
         SUM(CAST(i AS HUGEINT) * CAST(x AS HUGEINT)) AS iwx,
         CAST(MAX(x) AS BIGINT) AS mx
  FROM ranked),
q AS (
  SELECT MAX(CASE WHEN i = CAST(ceil(n * 0.5) AS BIGINT) THEN x END) AS p50,
         MAX(CASE WHEN i = CAST(ceil(n * 0.99) AS BIGINT) THEN x END) AS p99
  FROM ranked CROSS JOIN sc)
SELECT 'gini' AS metric, CAST(NULL AS BIGINT) AS key,
       round(2.0 * CAST(iwx AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(tot AS DOUBLE))
             - (n + 1) / CAST(n AS DOUBLE), 6) AS value
FROM sc
UNION ALL
SELECT 'top_key_share', NULL, round(mx / CAST(tot AS DOUBLE), 6) FROM sc
UNION ALL
SELECT 'p99_p50_ratio', NULL, round(p99 / CAST(p50 AS DOUBLE), 6) FROM q
UNION ALL
SELECT 'n_keys', NULL, CAST(n AS DOUBLE) FROM sc
UNION ALL
SELECT 'hot_key_rows', k, CAST(x AS DOUBLE)
FROM ranked CROSS JOIN sc WHERE i > n - 5
"""

QUERIES["join_skew_report"] = q_join_skew_report
ORACLES["join_skew_report"] = ORACLE_SKEW_REPORT


def q_proration_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-sum largest-remainder proration
    (operators.allocation.prorate_largest_remainder): each sampled
    order's header total (cents) is split across its lineitems
    proportionally to extended price — integer shares that sum EXACTLY
    to the header total, leftover cents assigned by largest remainder
    with a linenumber tiebreak. One key shuffle (three windows share
    the order partitioning)."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.allocation import (
        prorate_largest_remainder,
    )

    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") % 500 == 0)
        .select(
            "l_orderkey",
            F.col("l_linenumber").cast("long").alias("l_linenumber"),
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("_w"),
        )
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 500 == 0)
        .select(
            F.col("o_orderkey").alias("l_orderkey"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("_t"),
        )
    )
    j = li.join(o, "l_orderkey")
    out = prorate_largest_remainder(j, "l_orderkey", "_w", "_t", "l_linenumber")
    return out.select(
        F.col("l_orderkey").alias("o_orderkey"),
        "l_linenumber",
        F.col("alloc").alias("alloc_cents"),
    )


ORACLE_PRORATION = """
WITH li AS (
  SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS w
  FROM lineitem WHERE l_orderkey % 500 = 0),
o AS (
  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS t
  FROM orders WHERE o_orderkey % 500 = 0),
j AS (SELECT l_orderkey, l_linenumber, w, t
      FROM li JOIN o ON li.l_orderkey = o.o_orderkey),
x AS (
  SELECT *, CAST(SUM(w) OVER (PARTITION BY l_orderkey) AS BIGINT) AS wsum
  FROM j),
y AS (
  SELECT *, (t * w) // wsum AS base,
         row_number() OVER (PARTITION BY l_orderkey
                            ORDER BY (t * w) % wsum DESC, l_linenumber ASC) AS rn,
         CAST(SUM((t * w) // wsum) OVER (PARTITION BY l_orderkey) AS BIGINT) AS basesum
  FROM x)
SELECT l_orderkey AS o_orderkey, l_linenumber,
       CAST(base + CASE WHEN rn <= t - basesum THEN 1 ELSE 0 END AS BIGINT) AS alloc_cents
FROM y
"""

QUERIES["proration_allocation"] = q_proration_allocation
ORACLES["proration_allocation"] = ORACLE_PRORATION


def q_iso_week_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by ISO week — the calendar-boundary parity trap made a
    query: YEAROFWEEK/weekofyear assign the days around Jan 1 to last
    year's week 52/53 (e.g. 1995-01-01 is 1994-W52), and both engines
    must agree on every boundary day. Cents-exact totals, one
    aggregate."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.expr("extract(YEAROFWEEK FROM o_orderdate)")
            .cast("long")
            .alias("iso_year"),
            F.weekofyear("o_orderdate").cast("long").alias("iso_week"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            (
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0
            ).alias("revenue"),
        )
    )


ORACLE_ISO_WEEK = """
SELECT CAST(isoyear(o_orderdate) AS BIGINT) AS iso_year,
       CAST(weekofyear(o_orderdate) AS BIGINT) AS iso_week,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS revenue
FROM orders GROUP BY 1, 2
"""

QUERIES["iso_week_revenue"] = q_iso_week_revenue
ORACLES["iso_week_revenue"] = ORACLE_ISO_WEEK


_BENFORD = {
    1: 0.30103, 2: 0.176091, 3: 0.124939, 4: 0.09691, 5: 0.079181,
    6: 0.066947, 7: 0.057992, 8: 0.051153, 9: 0.045757,
}  # round(log10(1 + 1/d), 6), built once in Python, inlined into BOTH engines


def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit fraud audit over order totals: observed
    first-significant-digit shares vs the Benford expectation
    (expectations are 6dp literals inlined into both engines — the
    one-builder convention — so no libm log10 parity risk). Integer
    counts, per-digit rows, no cross-digit float sum."""
    o = load_table(spark, sf_dir, "orders")
    digit = F.substring(
        F.round(F.col("o_totalprice") * 100).cast("long").cast("string"), 1, 1
    ).cast("long")
    counts = o.groupBy(digit.alias("digit")).agg(
        F.count(F.lit(1)).cast("long").alias("observed")
    )
    total = counts.agg(F.sum("observed").cast("long").alias("_n"))
    bt = F.create_map(
        *[F.lit(x) for kv in _BENFORD.items() for x in kv]
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "observed",
            F.round(F.col("observed") / F.col("_n").cast("double"), 6).alias(
                "observed_share"
            ),
            bt[F.col("digit")].alias("benford_share"),
        )
        .withColumn(
            "excess",
            F.round(F.col("observed_share") - F.col("benford_share"), 6),
        )
    )


def _benford_oracle() -> str:
    vals = ", ".join(f"({d}, {s})" for d, s in _BENFORD.items())
    return f"""
WITH c AS (
  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit,
         CAST(COUNT(*) AS BIGINT) AS observed
  FROM orders GROUP BY 1),
n AS (SELECT CAST(SUM(observed) AS BIGINT) AS n FROM c),
b AS (SELECT CAST(col0 AS BIGINT) AS digit, CAST(col1 AS DOUBLE) AS benford_share
      FROM (VALUES {vals}))
SELECT c.digit, c.observed,
       round(c.observed / CAST(n.n AS DOUBLE), 6) AS observed_share,
       b.benford_share,
       round(round(c.observed / CAST(n.n AS DOUBLE), 6) - b.benford_share, 6) AS excess
FROM c CROSS JOIN n LEFT JOIN b ON c.digit = b.digit
"""


QUERIES["benford_audit"] = q_benford_audit
ORACLES["benford_audit"] = _benford_oracle()


def q_spatial_grid_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed nearest-neighbor join
    (operators.spatial.grid_nearest_join): every 10th customer finds
    its nearest supplier on a deterministic synthetic 1000×1000
    integer plane (squared-euclidean argmin, supplier tiebreak),
    probing only the 3×3 100-unit cells around the point — a hash
    equi-join on cell id instead of the |C|×|S| cartesian argmin.
    Bounded-radius semantics (no candidate in the neighborhood →
    dropped) mirrored exactly by the oracle."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.spatial import (
        grid_nearest_join,
    )

    c = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_custkey") % 10 == 0)
        .select(
            "c_custkey",
            ((F.col("c_custkey") * 37) % 1000).alias("x"),
            ((F.col("c_custkey") * 73) % 1000).alias("y"),
        )
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") * 41) % 1000).alias("x"),
        ((F.col("s_suppkey") * 97) % 1000).alias("y"),
    )
    return grid_nearest_join(c, s, "c_custkey", "s_suppkey", cell_size=100)


ORACLE_SPATIAL_NEAREST = """
WITH c AS (
  SELECT c_custkey, (c_custkey * 37) % 1000 AS x, (c_custkey * 73) % 1000 AS y
  FROM customer WHERE c_custkey % 10 = 0),
s AS (
  SELECT s_suppkey, (s_suppkey * 41) % 1000 AS x, (s_suppkey * 97) % 1000 AS y
  FROM supplier),
cand AS (
  SELECT c.c_custkey, s.s_suppkey,
         (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y) AS d2
  FROM c JOIN s
    ON abs((c.x // 100) - (s.x // 100)) <= 1
   AND abs((c.y // 100) - (s.y // 100)) <= 1)
SELECT c_custkey, s_suppkey, CAST(d2 AS BIGINT) AS dist_sq FROM (
  SELECT *, row_number() OVER (
    PARTITION BY c_custkey ORDER BY d2 ASC, s_suppkey ASC) AS rn
  FROM cand) WHERE rn = 1
"""

QUERIES["spatial_grid_nearest"] = q_spatial_grid_nearest
ORACLES["spatial_grid_nearest"] = ORACLE_SPATIAL_NEAREST


def q_modal_imputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint-based imputation: customers whose segment is
    'unknown' (keys ≡ 0 mod 97, a deterministic corruption) receive
    their nation's MODAL segment computed from the known rows —
    deterministic mode (count desc, segment asc), the same argmax
    discipline as user_modal_event. One count aggregate + a
    |nations|-row broadcast join."""
    from pyspark.sql import Window

    c = load_table(spark, sf_dir, "customer")
    unknown = c.where(F.col("c_custkey") % 97 == 0)
    known = c.where(F.col("c_custkey") % 97 != 0)
    counts = known.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("_n")
    )
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("_n").desc(), F.col("c_mktsegment").asc()
    )
    modal = (
        counts.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("c_nationkey", F.col("c_mktsegment").alias("imputed_segment"))
    )
    return unknown.select("c_custkey", "c_nationkey").join(
        F.broadcast(modal), "c_nationkey"
    ).select("c_custkey", F.col("c_nationkey").cast("long").alias("c_nationkey"), "imputed_segment")


ORACLE_MODAL_IMPUTATION = """
WITH known AS (
  SELECT c_nationkey, c_mktsegment, COUNT(*) AS n
  FROM customer WHERE c_custkey % 97 <> 0 GROUP BY 1, 2),
modal AS (
  SELECT c_nationkey, c_mktsegment AS imputed_segment FROM (
    SELECT *, row_number() OVER (
      PARTITION BY c_nationkey ORDER BY n DESC, c_mktsegment ASC) AS rn
    FROM known) WHERE rn = 1)
SELECT c_custkey, CAST(c.c_nationkey AS BIGINT) AS c_nationkey, imputed_segment
FROM customer c JOIN modal m ON c.c_nationkey = m.c_nationkey
WHERE c.c_custkey % 97 = 0
"""

QUERIES["modal_imputation"] = q_modal_imputation
ORACLES["modal_imputation"] = ORACLE_MODAL_IMPUTATION


def q_pipe_syntax_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4.x `|>` operators): the same
    priority-revenue rollup a user would write imperatively —
    EXTEND → AGGREGATE → WHERE-on-aggregate → EXTEND → SELECT — parsed
    by Spark's pipe-operator surface and planned identically to the
    classic GROUP BY/HAVING the oracle uses. Cents stay BIGINT through
    the aggregate; the division casts to DOUBLE explicitly (the SQL
    decimal-literal trap from the module docstring)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_pipe_orders")
    return spark.sql(
        """
        FROM _pipe_orders
        |> EXTEND CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |> AGGREGATE COUNT(*) AS n_orders, SUM(cents) AS sum_cents
           GROUP BY o_orderpriority
        |> WHERE n_orders > 100
        |> EXTEND CAST(sum_cents AS DOUBLE) / 100.0 AS revenue
        |> SELECT o_orderpriority, n_orders, revenue
        """
    )


ORACLE_PIPE_SYNTAX = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS revenue
FROM orders GROUP BY o_orderpriority HAVING COUNT(*) > 100
"""

QUERIES["pipe_syntax_rollup"] = q_pipe_syntax_rollup
ORACLES["pipe_syntax_rollup"] = ORACLE_PIPE_SYNTAX


def q_stream_evolving_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment where the static side EVOLVES between
    micro-batches (streaming.enrich_stream): two event phases replay
    one batch each, and batch i broadcast-joins the user-tier dim
    VERSION i (tier = (user_id + i) % 3 — a deterministic stand-in for
    the maintained SCD2 store next door). The oracle joins each phase
    to its own dim version — enriched(batch i) == phase i ⋈ dim(i),
    the stream-static re-evaluation contract made checkable."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.enrich_stream import (
        evolving_dim_enrich_phased,
    )

    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        "ts",
    )
    cutoff = F.lit("2024-01-16 00:00:00").cast("timestamp_ntz")
    p0 = e.where(F.col("ts") < cutoff).select("user_id", "cents")
    p1 = e.where(F.col("ts") >= cutoff).select("user_id", "cents")

    def dim_builder(sp: SparkSession, batch_id: int) -> DataFrame:
        users = (
            load_table(sp, sf_dir, "events").select("user_id").distinct()
        )
        tier = (
            F.when((F.col("user_id") + batch_id) % 3 == 0, "bronze")
            .when((F.col("user_id") + batch_id) % 3 == 1, "silver")
            .otherwise("gold")
        )
        return users.select("user_id", tier.alias("tier"))

    out, _stats = evolving_dim_enrich_phased(
        spark,
        [p0, p1],
        dim_builder,
        "user_id",
        lambda: [
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("cents").cast("long").alias("sum_cents"),
        ],
        ["tier"],
    )
    return out


ORACLE_EVOLVING_ENRICH = """
WITH e AS (
  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents,
         CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 0 ELSE 1 END AS b
  FROM events),
u AS (SELECT DISTINCT user_id FROM events),
d AS (
  SELECT user_id, v.b,
         CASE (user_id + v.b) % 3 WHEN 0 THEN 'bronze'
              WHEN 1 THEN 'silver' ELSE 'gold' END AS tier
  FROM u CROSS JOIN (VALUES (0), (1)) AS v(b))
SELECT tier, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(cents) AS BIGINT) AS sum_cents,
       CAST(e.b AS BIGINT) AS batch_id
FROM e JOIN d ON e.user_id = d.user_id AND e.b = d.b
GROUP BY tier, e.b
"""

QUERIES["stream_evolving_enrich"] = q_stream_evolving_enrich
ORACLES["stream_evolving_enrich"] = ORACLE_EVOLVING_ENRICH


def q_recursive_ancestor_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Genuine WITH RECURSIVE (Spark 4.x) over a synthetic key
    hierarchy — parent(k) = k div 10 when that key exists as a
    customer: per recursion depth, the surviving chain count and the
    exact accumulated ancestor balance cents. The recursive term JOINS
    a base table (real traversal, not a constant-step ladder, unlike
    the loop-lowered recursive_doc_tree) and terminates by join
    failure + the cur >= 10 guard. Integer division is `div`/`//`
    explicitly — INT/INT is DOUBLE on both engines and their
    double→BIGINT casts round differently."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "_rec_customer"
    )
    return spark.sql(
        """
        WITH RECURSIVE chain AS (
          SELECT c_custkey AS node, c_custkey AS cur,
                 CAST(0 AS BIGINT) AS anc_cents, CAST(0 AS BIGINT) AS depth
          FROM _rec_customer
          UNION ALL
          SELECT ch.node, c.c_custkey,
                 ch.anc_cents + CAST(round(c.c_acctbal * 100) AS BIGINT),
                 ch.depth + 1
          FROM chain ch JOIN _rec_customer c ON c.c_custkey = ch.cur div 10
          WHERE ch.cur >= 10
        )
        SELECT depth, CAST(COUNT(*) AS BIGINT) AS n_chains,
               CAST(SUM(anc_cents) AS BIGINT) AS anc_cents
        FROM chain GROUP BY depth
        """
    )


ORACLE_RECURSIVE_ANCESTORS = """
WITH RECURSIVE chain AS (
  SELECT c_custkey AS node, c_custkey AS cur,
         CAST(0 AS BIGINT) AS anc_cents, CAST(0 AS BIGINT) AS depth
  FROM customer
  UNION ALL
  SELECT ch.node, c.c_custkey,
         ch.anc_cents + CAST(round(c.c_acctbal * 100) AS BIGINT),
         ch.depth + 1
  FROM chain ch JOIN customer c ON c.c_custkey = ch.cur // 10
  WHERE ch.cur >= 10
)
SELECT depth, CAST(COUNT(*) AS BIGINT) AS n_chains,
       CAST(SUM(anc_cents) AS BIGINT) AS anc_cents
FROM chain GROUP BY depth
"""

QUERIES["recursive_ancestor_rollup"] = q_recursive_ancestor_rollup
ORACLES["recursive_ancestor_rollup"] = ORACLE_RECURSIVE_ANCESTORS


def q_statestore_introspection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming state-store INTROSPECTION (Spark 4.x `statestore`
    data source): run an update-mode (type, hour) count over the
    events table as one availableNow batch, then read the
    checkpoint's state store back as a DataFrame. After a complete
    run the aggregation state IS the full aggregate, so the oracle is
    the plain batch GROUP BY — the observability surface (debugging
    stuck state, state-size audits) verified value-for-value. State
    partitions sized to 8 for the bounded replay (module convention),
    restored after."""
    import os
    import shutil
    import tempfile

    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    )
    root = tempfile.mkdtemp(prefix="statestore_q_")
    inp = os.path.join(root, "in")
    ckpt = os.path.join(root, "ck")
    try:
        e.write.parquet(inp)
        schema = spark.read.parquet(inp).schema
        with scoped_conf(spark, {"spark.sql.shuffle.partitions": "8"}):
            q = (
                spark.readStream.schema(schema)
                .parquet(inp)
                .groupBy("event_type", "hour")
                .agg(F.count(F.lit(1)).alias("n"))
                .writeStream.format("noop")
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        state = spark.read.format("statestore").load(ckpt)
        # the value struct carries the aggregation BUFFER's internal
        # field name ("count"), not the query's output alias
        out = state.select(
            F.col("key.event_type").alias("event_type"),
            epoch_us(F.col("key.hour")).alias("hour_us"),
            F.col("value.count").cast("long").alias("n_events"),
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


ORACLE_STATESTORE = """
SELECT event_type, epoch_us(date_trunc('hour', ts)) AS hour_us,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events GROUP BY 1, 2
"""

QUERIES["statestore_introspection"] = q_statestore_introspection
ORACLES["statestore_introspection"] = ORACLE_STATESTORE


def q_woe_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence feature encoding (the credit-scoring
    standard next to mean-target encoding): event value cut into
    deciles under total-order ntile, per decile the positive
    (purchase) / negative counts and WOE = ln((pos/P)/(neg/N)) — the
    ratio built from exact integers, ln rounded to 6dp (the
    PMI-collocation float discipline). Per-bucket rows only: no
    cross-bucket float sum to flake. The decile cut runs through
    ``operators.windows.ntile_exact`` (distributed range sort +
    broadcast offsets) — a bare ``ntile().over(Window.orderBy(...))``
    would serialize every events row into ONE task. A decile with
    zero positives or negatives gets NULL woe on both engines
    (DuckDB's ln(0) RAISES; Spark's returns NULL — guard both)."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.windows import ntile_exact

    e = load_table(spark, sf_dir, "events")
    base = e.select(
        F.round(F.col("value") * 100).cast("long").alias("_cents"),
        "event_id",
        (F.col("event_type") == "purchase").cast("long").alias("_pos"),
    )
    binned = ntile_exact(
        base, ["_cents", "event_id"], 10, bucket_col="decile"
    ).select("_pos", "decile")
    per = binned.groupBy("decile").agg(
        F.sum("_pos").cast("long").alias("n_pos"),
        F.sum(F.lit(1) - F.col("_pos")).cast("long").alias("n_neg"),
    )
    tot = per.agg(
        F.sum("n_pos").cast("long").alias("_p"),
        F.sum("n_neg").cast("long").alias("_n"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "decile",
        "n_pos",
        "n_neg",
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.round(
                F.log(
                    (F.col("n_pos").cast("double") * F.col("_n"))
                    / (F.col("n_neg").cast("double") * F.col("_p"))
                ),
                6,
            ),
        ).alias("woe"),
    )


ORACLE_WOE = """
WITH base AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS cents, event_id,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
  FROM events),
binned AS (
  SELECT pos, CAST(ntile(10) OVER (ORDER BY cents ASC, event_id ASC) AS BIGINT) AS decile
  FROM base),
per AS (
  SELECT decile, CAST(SUM(pos) AS BIGINT) AS n_pos,
         CAST(SUM(1 - pos) AS BIGINT) AS n_neg
  FROM binned GROUP BY decile),
tot AS (SELECT CAST(SUM(n_pos) AS BIGINT) AS p, CAST(SUM(n_neg) AS BIGINT) AS n FROM per)
SELECT decile, n_pos, n_neg,
       CASE WHEN n_pos > 0 AND n_neg > 0
            THEN round(ln((CAST(n_pos AS DOUBLE) * n) / (CAST(n_neg AS DOUBLE) * p)), 6)
            ELSE NULL END AS woe
FROM per CROSS JOIN tot
"""

QUERIES["woe_binning"] = q_woe_binning
ORACLES["woe_binning"] = ORACLE_WOE


def q_audience_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience overlap between event types: distinct
    (user, type) collapse, self-join on user (type_a < type_b), exact
    intersection counts, Jaccard = inter / (|A| + |B| - inter) rounded
    6dp. |types|²-sized output from one distinct aggregate + one
    user-keyed self-join — never a cross join of users."""
    e = load_table(spark, sf_dir, "events")
    ut = e.select("user_id", "event_type").distinct()
    sizes = ut.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("_sz")
    )
    a, b = ut.alias("a"), ut.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    sa = sizes.select(F.col("event_type").alias("type_a"), F.col("_sz").alias("_na"))
    sb = sizes.select(F.col("event_type").alias("type_b"), F.col("_sz").alias("_nb"))
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_both",
            F.round(
                F.col("n_both")
                / (F.col("_na") + F.col("_nb") - F.col("n_both")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


ORACLE_AUDIENCE_OVERLAP = """
WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
sizes AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS sz FROM ut GROUP BY 1),
inter AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(COUNT(*) AS BIGINT) AS n_both
  FROM ut a JOIN ut b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2)
SELECT type_a, type_b, n_both,
       round(n_both / CAST(sa.sz + sb.sz - n_both AS DOUBLE), 6) AS jaccard
FROM inter
JOIN sizes sa ON inter.type_a = sa.event_type
JOIN sizes sb ON inter.type_b = sb.event_type
"""

QUERIES["audience_overlap_matrix"] = q_audience_overlap_matrix
ORACLES["audience_overlap_matrix"] = ORACLE_AUDIENCE_OVERLAP


def q_rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day distinct users per day WITHOUT sliding-distinct
    state: each (user, active-day) pair is exploded to the 7 window
    end-days it contributes to, and the answer is a plain
    count-distinct per end-day — the contribution-explode lowering of
    sliding COUNT(DISTINCT), bounded ×7 row growth instead of a
    re-scan per window. Emitted only for end-days that themselves have
    activity (symmetric on both engines)."""
    e = load_table(spark, sf_dir, "events")
    ud = e.select(
        "user_id",
        F.date_trunc("day", F.col("ts")).alias("_d"),
    ).distinct()
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("_d"),
                F.col("_d") + F.expr("INTERVAL 6 DAYS"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("_end"),
    )
    active_days = ud.select("_d").distinct()
    return (
        contrib.join(
            active_days, contrib["_end"] == active_days["_d"], "left_semi"
        )
        .groupBy(epoch_us("_end").alias("day_us"))
        .agg(F.count_distinct("user_id").cast("long").alias("users_7d"))
    )


ORACLE_ROLLING_DISTINCT = """
WITH ud AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events),
contrib AS (
  SELECT user_id, d + (INTERVAL 1 DAY) * off AS end_day
  FROM ud CROSS JOIN (
    SELECT unnest(generate_series(0, 6)) AS off)),
active AS (SELECT DISTINCT d FROM ud)
SELECT epoch_us(end_day) AS day_us,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users_7d
FROM contrib JOIN active ON contrib.end_day = active.d
GROUP BY 1
"""

QUERIES["rolling_distinct_users"] = q_rolling_distinct_users
ORACLES["rolling_distinct_users"] = ORACLE_ROLLING_DISTINCT


def q_weekend_revenue_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekend vs weekday revenue per month — the day-of-week OFFSET
    parity trap pinned as a query: Spark's dayofweek() is 1-based
    Sunday-first while DuckDB's dayofweek() is 0-based Sunday-first,
    so the weekend predicate is written against each engine's OWN
    convention (Spark IN (1,7) == DuckDB IN (0,6)) and must classify
    every day identically. Cents-exact conditional sums."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    is_weekend = F.dayofweek("o_orderdate").isin(1, 7)
    return o.groupBy(
        epoch_us(F.date_trunc("month", F.col("o_orderdate"))).alias("month_us")
    ).agg(
        (F.sum(F.when(is_weekend, cents).otherwise(F.lit(0))) / 100.0).alias(
            "weekend_revenue"
        ),
        (F.sum(F.when(~is_weekend, cents).otherwise(F.lit(0))) / 100.0).alias(
            "weekday_revenue"
        ),
        F.sum(is_weekend.cast("long")).cast("long").alias("n_weekend_orders"),
    )


ORACLE_WEEKEND_SPLIT = """
SELECT epoch_us(date_trunc('month', o_orderdate)) AS month_us,
       CAST(SUM(CASE WHEN dayofweek(o_orderdate) IN (0, 6)
                THEN CAST(round(o_totalprice * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
         / 100.0 AS weekend_revenue,
       CAST(SUM(CASE WHEN dayofweek(o_orderdate) NOT IN (0, 6)
                THEN CAST(round(o_totalprice * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
         / 100.0 AS weekday_revenue,
       CAST(SUM(CASE WHEN dayofweek(o_orderdate) IN (0, 6) THEN 1 ELSE 0 END) AS BIGINT)
         AS n_weekend_orders
FROM orders GROUP BY 1
"""

QUERIES["weekend_revenue_split"] = q_weekend_revenue_split
ORACLES["weekend_revenue_split"] = ORACLE_WEEKEND_SPLIT


def q_cascade_delete_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDPR deletion propagation plan: for a deterministic
    forget-set (customers ≡ 3 mod 1000), the cascade row counts down
    the FK graph (customer → orders → lineitem) plus the post-delete
    orphan check (lineitems whose order survives: must equal total
    minus cascaded). All semi-join row counts — the DELETE is planned
    and audited without moving a single payload column."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    forget = c.where(F.col("c_custkey") % 1000 == 3).select("c_custkey")
    del_orders = o.join(
        forget, o["o_custkey"] == forget["c_custkey"], "left_semi"
    ).select("o_orderkey")
    del_items = li.join(
        del_orders, li["l_orderkey"] == del_orders["o_orderkey"], "left_semi"
    )
    counts = (
        forget.agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(F.lit("customer").alias("table"), "n")
        .unionAll(
            del_orders.agg(F.count(F.lit(1)).cast("long").alias("n")).select(
                F.lit("orders").alias("table"), "n"
            )
        )
        .unionAll(
            del_items.agg(F.count(F.lit(1)).cast("long").alias("n")).select(
                F.lit("lineitem").alias("table"), "n"
            )
        )
        .unionAll(
            li.join(
                del_orders,
                li["l_orderkey"] == del_orders["o_orderkey"],
                "left_anti",
            )
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .select(F.lit("lineitem_retained").alias("table"), "n")
        )
    )
    return counts


ORACLE_CASCADE_DELETE = """
WITH forget AS (SELECT c_custkey FROM customer WHERE c_custkey % 1000 = 3),
del_o AS (SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT c_custkey FROM forget)),
del_l AS (SELECT * FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM del_o))
SELECT 'customer' AS "table", CAST(COUNT(*) AS BIGINT) AS n FROM forget
UNION ALL SELECT 'orders', CAST(COUNT(*) AS BIGINT) FROM del_o
UNION ALL SELECT 'lineitem', CAST(COUNT(*) AS BIGINT) FROM del_l
UNION ALL SELECT 'lineitem_retained', CAST(COUNT(*) AS BIGINT)
  FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM del_o)
"""

QUERIES["cascade_delete_plan"] = q_cascade_delete_plan
ORACLES["cascade_delete_plan"] = ORACLE_CASCADE_DELETE


# ---------------------------------------------------------------------------
# Round 8: end-to-end IVF-PQ search, curriculum planning, corpus-law audits
# ---------------------------------------------------------------------------


def q_ivf_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end IVF-PQ ANN search (operators.similarity.ivf_pq_search):
    corpus routed map-only to a frozen 8-cell coarse codebook and
    PQ-encoded (4 subspaces × 4 codes over dim 64); each of 3 queries
    probes its 2 nearest cells; candidates scored by asymmetric
    distance (per-subspace integer LUT into the query's subvector) and
    top-10 ranked per query. Every cell id, code, and distance is
    exact int64 under the floor(x·10⁶) convention, so the oracle
    reproduces the full pipeline bit-for-bit."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.similarity import (
        ivf_pq_search,
        pq_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.where(F.col("vec_id") >= 3)
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    cents = pq_codebooks(1, 8, 64)[0]
    books = pq_codebooks(4, 4, 16)
    out = ivf_pq_search(
        corpus, queries, cents, books, dim=64, nprobe=2, k=10
    )
    return out.select(
        "q_id", "vec_id", "adc", F.col("rank").cast("long").alias("rank")
    )


def _oracle_ivf_pq(
    kc: int = 8, m: int = 4, n_codes: int = 4, dim: int = 64,
    nprobe: int = 2, topk: int = 10,
) -> str:
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.similarity import (
        pq_codebooks,
    )

    cents = pq_codebooks(1, kc, dim)[0]
    books = pq_codebooks(m, n_codes, dim // m)
    dsub = dim // m

    def sq(vec_expr: str, cent: list[int], off: int) -> str:
        return " + ".join(
            f"({vec_expr}[{off + i + 1}] - ({cent[i]})) * "
            f"({vec_expr}[{off + i + 1}] - ({cent[i]}))"
            for i in range(len(cent))
        )

    # corpus: coarse cell (first-min tiebreak) + per-subspace codes
    cell_d = ", ".join(f"({sq('e', cents[c], 0)}) AS cd{c}" for c in range(kc))
    cell_case = " ".join(
        f"WHEN {' AND '.join(f'cd{c} <= cd{cc}' for cc in range(c + 1, kc))} THEN {c}"
        for c in range(kc - 1)
    )
    code_d = ", ".join(
        f"({sq('e', books[s][j], s * dsub)}) AS d{s}_{j}"
        for s in range(m)
        for j in range(n_codes)
    )
    code_cases = ", ".join(
        "CAST(CASE "
        + " ".join(
            f"WHEN {' AND '.join(f'd{s}_{j} <= d{s}_{jj}' for jj in range(j + 1, n_codes))} THEN {j}"
            for j in range(n_codes - 1)
        )
        + f" ELSE {n_codes - 1} END AS BIGINT) AS code{s}"
        for s in range(m)
    )
    # queries: nprobe nearest cells under (dist, cell) total order
    qcell_d = ", ".join(f"({sq('qe', cents[c], 0)}) AS qd{c}" for c in range(kc))
    qcell_rows = ", ".join(f"({c}, qd{c})" for c in range(kc))
    # ADC per subspace: CASE on the candidate's stored code
    adc = " + ".join(
        "(CASE "
        + " ".join(
            f"WHEN code{s} = {j} THEN ({sq('qe', books[s][j], s * dsub)})"
            for j in range(n_codes)
        )
        + " END)"
        for s in range(m)
    )
    return f"""
WITH ints AS (
  SELECT vec_id, list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS e
  FROM embeddings),
corpus AS (
  SELECT vec_id,
         CAST(CASE {cell_case} ELSE {kc - 1} END AS BIGINT) AS cell,
         {code_cases}
  FROM (SELECT vec_id, {cell_d}, {code_d} FROM ints WHERE vec_id >= 3)),
q AS (SELECT vec_id AS q_id, e AS qe, {qcell_d} FROM ints WHERE vec_id < 3),
probes AS (
  SELECT q_id, qe, CAST(cell AS BIGINT) AS cell FROM (
    SELECT q_id, qe, cell,
           row_number() OVER (PARTITION BY q_id ORDER BY d ASC, cell ASC) AS rn
    FROM q, LATERAL (VALUES {qcell_rows}) AS cd(cell, d))
  WHERE rn <= {nprobe}),
scored AS (
  SELECT p.q_id, c.vec_id, CAST({adc} AS BIGINT) AS adc
  FROM corpus c JOIN probes p USING (cell))
SELECT q_id, vec_id, adc, rank FROM (
  SELECT q_id, vec_id, adc,
         CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY adc ASC, vec_id ASC) AS BIGINT) AS rank
  FROM scored) WHERE rank <= {topk}
"""


QUERIES["ivf_pq_search"] = q_ivf_pq_search
ORACLES["ivf_pq_search"] = _oracle_ivf_pq()


def q_curriculum_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-learning data plan: documents ordered easy→hard by
    an integer difficulty score (token count, doc_id tiebreak) and cut
    into 4 equal-population stages via the distributed
    ``operators.windows.ntile_exact`` — the stage table a curriculum
    sampler feeds from. Per stage: population, exact token budget,
    token-count bounds, and the cumulative token share a scheduler
    uses to place stage boundaries in the training run. The stage cut
    is a range sort (never a single-partition window); everything
    after is a 4-row rollup."""
    from pyspark.sql import Window

    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.windows import (
        ntile_exact,
    )

    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("_ntok"),
    )
    staged = ntile_exact(
        base, ["_ntok", "doc_id"], 4, bucket_col="stage"
    )
    per = staged.groupBy("stage").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("_ntok").cast("long").alias("stage_tokens"),
        F.min("_ntok").cast("long").alias("min_tokens"),
        F.max("_ntok").cast("long").alias("max_tokens"),
    )
    wc = Window.orderBy("stage").rowsBetween(Window.unboundedPreceding, 0)
    tot = per.agg(F.sum("stage_tokens").cast("long").alias("_tot"))
    return per.crossJoin(F.broadcast(tot)).select(
        "stage",
        "n_docs",
        "stage_tokens",
        "min_tokens",
        "max_tokens",
        F.round(
            F.sum("stage_tokens").over(wc) / F.col("_tot").cast("double"), 6
        ).alias("cum_token_share"),
    )


ORACLE_CURRICULUM = """
WITH base AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
  FROM documents),
staged AS (
  SELECT ntok, CAST(ntile(4) OVER (ORDER BY ntok ASC, doc_id ASC) AS BIGINT) AS stage
  FROM base),
per AS (
  SELECT stage, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(ntok) AS BIGINT) AS stage_tokens,
         CAST(MIN(ntok) AS BIGINT) AS min_tokens,
         CAST(MAX(ntok) AS BIGINT) AS max_tokens
  FROM staged GROUP BY stage),
tot AS (SELECT CAST(SUM(stage_tokens) AS BIGINT) AS t FROM per)
SELECT stage, n_docs, stage_tokens, min_tokens, max_tokens,
       round(CAST(SUM(stage_tokens) OVER (ORDER BY stage
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             / CAST(t AS DOUBLE), 6) AS cum_token_share
FROM per CROSS JOIN tot
"""

QUERIES["curriculum_plan"] = q_curriculum_plan
ORACLES["curriculum_plan"] = ORACLE_CURRICULUM


def q_zipf_rank_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law audit of the corpus token distribution: the top-100
    tokens by exact count (TakeOrderedAndProject cut — per-partition
    heaps, no global sort), ranked, with the local log-log slope
    between adjacent ranks (a Zipfian corpus sits near slope ≈ -1).
    Every ln() argument is an exact BIGINT and the slope is computed
    and rounded 6dp PER ROW — no cross-row float accumulation to
    flake. The rank/lead windows run over the 100 survivors only."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    order = [F.col("n").desc(), F.col("token").asc()]
    top = counts.orderBy(*order).limit(100)  # TakeOrderedAndProject
    w = Window.orderBy(*order)  # 100 rows — post-cut attach only
    ranked = top.withColumn("rank", F.row_number().over(w).cast("long"))
    nxt = F.lead("n").over(w)
    return ranked.select(
        "rank",
        "token",
        "n",
        F.round(
            (F.log(F.col("n").cast("double")) - F.log(nxt.cast("double")))
            / (
                F.log((F.col("rank") + 1).cast("double"))
                - F.log(F.col("rank").cast("double"))
            ),
            6,
        ).alias("zipf_slope"),
    )


ORACLE_ZIPF = """
WITH counts AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
  GROUP BY token),
top AS (
  SELECT token, n,
         CAST(row_number() OVER (ORDER BY n DESC, token ASC) AS BIGINT) AS rank
  FROM counts QUALIFY rank <= 100)
SELECT rank, token, n,
       round((ln(CAST(n AS DOUBLE))
              - ln(CAST(lead(n) OVER (ORDER BY n DESC, token ASC) AS DOUBLE)))
             / (ln(CAST(rank + 1 AS DOUBLE)) - ln(CAST(rank AS DOUBLE))), 6)
         AS zipf_slope
FROM top
"""

QUERIES["zipf_rank_frequency"] = q_zipf_rank_frequency
ORACLES["zipf_rank_frequency"] = ORACLE_ZIPF


def q_heaps_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth curve: documents in doc_id order
    are grouped into 20-doc ingestion buckets; per bucket the running
    corpus size (token occurrences) and running vocabulary size (each
    type counted in the bucket of its FIRST occurrence — one
    min-aggregate per type, the same first-seen collapse as
    cumulative_unique_users), plus the per-row Heaps exponent estimate
    ln(V)/ln(N). Two token-keyed/bucket-keyed aggregates; the running
    sums are a |buckets|-row window. Exact integer cumsums; ln ratio
    rounded 6dp per row."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    per_bucket_toks = toks.groupBy(
        F.expr("doc_id div 20").alias("bucket")
    ).agg(F.count(F.lit(1)).cast("long").alias("_nt"))
    new_types = (
        toks.groupBy("token")
        .agg(F.min("doc_id").alias("_first"))
        .groupBy(F.expr("_first div 20").alias("bucket"))
        .agg(F.count(F.lit(1)).cast("long").alias("_nv"))
    )
    joined = per_bucket_toks.join(new_types, "bucket", "left").select(
        "bucket", "_nt", F.coalesce("_nv", F.lit(0)).cast("long").alias("_nv")
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return joined.select(
        "bucket",
        F.sum("_nt").over(w).cast("long").alias("cum_tokens"),
        F.sum("_nv").over(w).cast("long").alias("cum_vocab"),
    ).withColumn(
        "heaps_beta",
        F.round(
            F.log(F.col("cum_vocab").cast("double"))
            / F.log(F.col("cum_tokens").cast("double")),
            6,
        ),
    )


ORACLE_HEAPS = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
pb AS (
  SELECT CAST(doc_id // 20 AS BIGINT) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS nt
  FROM toks GROUP BY 1),
nv AS (
  SELECT CAST(first_doc // 20 AS BIGINT) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS nv
  FROM (SELECT token, MIN(doc_id) AS first_doc FROM toks GROUP BY token)
  GROUP BY 1),
j AS (
  SELECT pb.bucket, pb.nt, COALESCE(nv.nv, 0) AS nv
  FROM pb LEFT JOIN nv USING (bucket)),
c AS (
  SELECT bucket,
         CAST(SUM(nt) OVER (ORDER BY bucket
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
         CAST(SUM(nv) OVER (ORDER BY bucket
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_vocab
  FROM j)
SELECT bucket, cum_tokens, cum_vocab,
       round(ln(CAST(cum_vocab AS DOUBLE)) / ln(CAST(cum_tokens AS DOUBLE)), 6)
         AS heaps_beta
FROM c
"""

QUERIES["heaps_vocab_growth"] = q_heaps_vocab_growth
ORACLES["heaps_vocab_growth"] = ORACLE_HEAPS


def _dp_noise_table(scale: float = 2.0, cells: int = 64) -> list[int]:
    """Frozen quantile table of a two-sided-geometric (discrete
    Laplace) mechanism: entry j is the inverse CDF of Laplace(scale)
    at (j+0.5)/cells, rounded to an integer. Computed ONCE here in
    Python and inlined as literals into BOTH engines (the
    hyperplanes/pq_codebooks single-source rule), so the 'draw' is
    exact integer table lookup — no cross-engine ln()/float hazard."""
    import math

    out = []
    for j in range(cells):
        u = (j + 0.5) / cells - 0.5
        val = -scale * math.copysign(1.0, u) * math.log(1 - 2 * abs(u))
        out.append(round(val))
    return out


def q_dp_noisy_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential-privacy-STYLE noisy release of the event-type ×
    day-of-week histogram: exact counts plus two-sided-geometric
    (discrete Laplace) noise drawn by KEYED quantile-table lookup —
    the noise index comes from the group key's md5 hex (first char ×16
    + second char, mod 64), the 64-entry quantile table is frozen
    Python-side literals. Deterministic-by-key sampling is the
    ORACLE-ABLE stand-in for the production mechanism (which draws
    fresh randomness per release and never exposes true counts); the
    Spark plumbing — one hash aggregate, map-only noising, clamp at
    zero — is exactly the production shape. Grid-sized output."""
    table = _dp_noise_table()
    d = load_table(spark, sf_dir, "events")
    per = d.groupBy(
        "event_type",
        F.dayofweek(F.col("ts")).cast("long").alias("dow"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_true"))
    h = F.md5(F.concat(F.lit("dp:"), F.col("event_type"), F.lit(":"), F.col("dow").cast("string")))
    hexd = "0123456789abcdef"
    idx = F.pmod(
        (F.instr(F.lit(hexd), F.substring(h, 1, 1)) - 1) * 16
        + (F.instr(F.lit(hexd), F.substring(h, 2, 1)) - 1),
        F.lit(64),
    )
    noise_arr = F.array(*[F.lit(int(v)).cast("long") for v in table])
    return per.select(
        "event_type",
        "dow",
        "n_true",
        F.element_at(noise_arr, (idx + 1).cast("int")).alias("noise"),
    ).withColumn(
        "n_noisy",
        F.greatest(F.col("n_true") + F.col("noise"), F.lit(0)).cast("long"),
    )


def _oracle_dp_noisy() -> str:
    table = _dp_noise_table()
    arr = ", ".join(str(int(v)) for v in table)
    return f"""
WITH per AS (
  SELECT event_type, CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
         CAST(COUNT(*) AS BIGINT) AS n_true
  FROM events GROUP BY 1, 2),
noised AS (
  SELECT event_type, dow, n_true,
         ([{arr}])[
           ((strpos('0123456789abcdef',
                    substr(md5('dp:' || event_type || ':' || dow), 1, 1)) - 1) * 16
            + strpos('0123456789abcdef',
                     substr(md5('dp:' || event_type || ':' || dow), 2, 1)) - 1) % 64
           + 1] AS noise
  FROM per)
SELECT event_type, dow, n_true, CAST(noise AS BIGINT) AS noise,
       CAST(greatest(n_true + noise, 0) AS BIGINT) AS n_noisy
FROM noised
"""


QUERIES["dp_noisy_histogram"] = q_dp_noisy_histogram
ORACLES["dp_noisy_histogram"] = _oracle_dp_noisy()


def q_asof_tolerance_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerance-bounded as-of attribution
    (operators.asof.asof_tolerance_join — pandas merge_asof(tolerance)
    semantics): each purchase takes the same user's most recent click
    AT MOST 30 minutes old; a staler match is nulled, the purchase
    kept. Same one-shuffle union-tag carried-state window as
    asof_purchase_click plus a map-only freshness projection; exact
    epoch-micros comparison on both engines."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.asof import (
        asof_tolerance_join,
    )

    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_event_id"), "ts"
    )
    out = asof_tolerance_join(
        purchases, clicks, on="user_id", tolerance_us=1_800_000_000,
        left_ts="ts", right_ts="ts",
        right_cols=["click_event_id"], tiebreak="click_event_id",
    )
    return out.select(
        "user_id",
        "event_id",
        epoch_us("ts").alias("ts_us"),
        F.col("asof_click_event_id").alias("click_event_id"),
        epoch_us("asof_ts").alias("click_ts_us"),
    )


ORACLE_ASOF_TOLERANCE = """
WITH tagged AS (
  SELECT user_id, ts, 1 AS is_left, event_id,
         NULL::BIGINT AS r_click_id, NULL::TIMESTAMP AS r_ts
  FROM events WHERE event_type = 'purchase'
  UNION ALL
  SELECT user_id, ts, 0 AS is_left, NULL::BIGINT AS event_id,
         event_id AS r_click_id, ts AS r_ts
  FROM events WHERE event_type = 'click'
),
carried AS (
  SELECT user_id, ts, is_left, event_id,
         last_value(r_click_id IGNORE NULLS) OVER w AS click_event_id,
         last_value(r_ts IGNORE NULLS) OVER w AS click_ts
  FROM tagged
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, is_left ASC, r_click_id ASC NULLS FIRST
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT user_id, event_id, epoch_us(ts) AS ts_us,
       CASE WHEN epoch_us(ts) - epoch_us(click_ts) <= 1800000000
            THEN click_event_id END AS click_event_id,
       CASE WHEN epoch_us(ts) - epoch_us(click_ts) <= 1800000000
            THEN epoch_us(click_ts) END AS click_ts_us
FROM carried WHERE is_left = 1
"""

QUERIES["asof_tolerance_attribution"] = q_asof_tolerance_attribution
ORACLES["asof_tolerance_attribution"] = ORACLE_ASOF_TOLERANCE


def q_chunk_retrieval_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-granularity audit (the RAG chunking question): for
    each of 3 keyword queries, the top-5 documents under WHOLE-DOC
    term-occurrence scoring vs under BEST-CHUNK scoring (64-char
    windows, stride 48 — the operators.chunking geometry; doc score =
    max chunk score), and how far the two rankings agree. Occurrence
    counting is the replace-shrinkage integer identity
    ((len - len(replace))/len(term)), exact on both engines; both
    top-5 cuts run per-query through a 3-partition window over
    pre-aggregated per-doc scores (doc-count-sized, keyed). Output:
    per query the two winners and the top-5 set overlap."""
    _qterms = [
        (0, ["join", "stream"]),
        (1, ["filter", "data"]),
        (2, ["table", "group"]),
    ]

    def occ(text_col, term: str):
        return (
            (F.length(text_col) - F.length(F.replace(text_col, F.lit(term))))
            / F.lit(len(term))
        ).cast("long")

    d = load_table(spark, sf_dir, "documents")
    whole_parts = []
    chunk_parts = []
    starts = F.sequence(
        F.lit(0), F.greatest(F.length("text") - 1, F.lit(0)), F.lit(48)
    )
    chunks = d.select(
        "doc_id", "text", F.explode(starts).alias("_s")
    ).select(
        "doc_id",
        F.substring(F.col("text"), F.col("_s") + 1, 64).alias("_ck"),
    )
    for qid, terms in _qterms:
        wscore = None
        cscore = None
        for t in terms:
            wterm = occ(F.col("text"), t)
            cterm = occ(F.col("_ck"), t)
            wscore = wterm if wscore is None else wscore + wterm
            cscore = cterm if cscore is None else cscore + cterm
        whole_parts.append(
            d.select(
                F.lit(qid).cast("long").alias("qid"),
                "doc_id",
                wscore.alias("score"),
            )
        )
        chunk_parts.append(
            chunks.select(
                F.lit(qid).cast("long").alias("qid"),
                "doc_id",
                cscore.alias("_cs"),
            )
            .groupBy("qid", "doc_id")
            .agg(F.max("_cs").alias("score"))
        )
    from functools import reduce

    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.windows import (
        top_k_per_group,
    )

    order = [F.col("score").desc(), F.col("doc_id").asc()]
    wtop = top_k_per_group(
        reduce(lambda a, b: a.unionByName(b), whole_parts), ["qid"], order, 5
    )
    ctop = top_k_per_group(
        reduce(lambda a, b: a.unionByName(b), chunk_parts), ["qid"], order, 5
    )
    overlap = (
        wtop.select("qid", "doc_id")
        .join(ctop.select("qid", "doc_id"), ["qid", "doc_id"])
        .groupBy("qid")
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
    )
    w1 = wtop.where(F.col("rank") == 1).select(
        "qid", F.col("doc_id").alias("whole_top_doc")
    )
    c1 = ctop.where(F.col("rank") == 1).select(
        "qid", F.col("doc_id").alias("chunk_top_doc")
    )
    return (
        w1.join(c1, "qid")
        .join(overlap, "qid", "left")
        .select(
            "qid",
            "whole_top_doc",
            "chunk_top_doc",
            F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
            F.round(F.coalesce("n_overlap", F.lit(0)) / 5.0, 6).alias(
                "agreement_at_5"
            ),
        )
    )


def _oracle_chunk_retrieval() -> str:
    qterms = [(0, ["join", "stream"]), (1, ["filter", "data"]), (2, ["table", "group"])]

    def occ(expr: str, term: str) -> str:
        return (
            f"((length({expr}) - length(replace({expr}, '{term}', ''))) // {len(term)})"
        )

    wsel = " UNION ALL ".join(
        f"SELECT {qid} AS qid, doc_id, "
        + " + ".join(occ("text", t) for t in terms)
        + " AS score FROM documents"
        for qid, terms in qterms
    )
    csel = " UNION ALL ".join(
        f"SELECT {qid} AS qid, doc_id, MAX("
        + " + ".join(occ("ck", t) for t in terms)
        + ") AS score FROM chunks GROUP BY 1, 2"
        for qid, terms in qterms
    )
    return f"""
WITH chunks AS (
  SELECT doc_id, substr(text, s + 1, 64) AS ck
  FROM documents,
       LATERAL (SELECT unnest(generate_series(0, greatest(length(text) - 1, 0), 48)) AS s) g),
whole AS ({wsel}),
chunked AS ({csel}),
wtop AS (
  SELECT qid, doc_id, rank FROM (
    SELECT qid, doc_id,
           row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id ASC) AS rank
    FROM whole) WHERE rank <= 5),
ctop AS (
  SELECT qid, doc_id, rank FROM (
    SELECT qid, doc_id,
           row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id ASC) AS rank
    FROM chunked) WHERE rank <= 5),
ov AS (
  SELECT w.qid, CAST(COUNT(*) AS BIGINT) AS n_overlap
  FROM wtop w JOIN ctop c ON w.qid = c.qid AND w.doc_id = c.doc_id
  GROUP BY 1)
SELECT CAST(w1.qid AS BIGINT) AS qid,
       w1.doc_id AS whole_top_doc, c1.doc_id AS chunk_top_doc,
       COALESCE(ov.n_overlap, 0) AS n_overlap,
       round(COALESCE(ov.n_overlap, 0) / 5.0, 6) AS agreement_at_5
FROM (SELECT qid, doc_id FROM wtop WHERE rank = 1) w1
JOIN (SELECT qid, doc_id FROM ctop WHERE rank = 1) c1 USING (qid)
LEFT JOIN ov USING (qid)
"""


QUERIES["chunk_retrieval_agreement"] = q_chunk_retrieval_agreement
ORACLES["chunk_retrieval_agreement"] = _oracle_chunk_retrieval()


def q_knn_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out 5-NN label-prediction accuracy over the embedding
    corpus — the standard embedding-quality probe (does neighborhood
    structure recover the labels?). Every 25th vector is an eval
    query; its 5 nearest OTHER vectors (exact int64 squared euclidean
    on floor(x·10⁶) ints — engine-exact, no float distance) vote with
    majority + (count desc, label asc) tiebreak. Output per label:
    evals, hits, accuracy. Eval set broadcasts onto the corpus
    (map-only scoring), then everything is keyed by query id — no
    all-pairs blowup beyond |eval|×|corpus|."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.windows import (
        top_k_per_group,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    ints = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * F.lit(1000000.0)).cast("long"),
    )
    base = emb.select("vec_id", F.col("label").cast("long").alias("label"), ints.alias("_e"))
    evals = base.where(F.pmod("vec_id", F.lit(25)) == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("true_label"),
        F.col("_e").alias("_qe"),
    )
    dist = F.aggregate(
        F.zip_with("_e", "_qe", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        base.join(F.broadcast(evals), F.col("vec_id") != F.col("q_id"))
        .select("q_id", "true_label", "vec_id", "label", dist.alias("d"))
    )
    nn = top_k_per_group(
        scored, ["q_id"], [F.col("d").asc(), F.col("vec_id").asc()], 5
    )
    votes = nn.groupBy("q_id", "true_label", "label").agg(
        F.count(F.lit(1)).cast("long").alias("_v")
    )
    pred = votes.groupBy("q_id", "true_label").agg(
        F.max(F.struct(F.col("_v"), (-F.col("label")).alias("_nl"))).alias("_m"),
    ).select(
        "q_id",
        "true_label",
        (-F.col("_m._nl")).cast("long").alias("pred_label"),
    )
    return (
        pred.groupBy("true_label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_eval"),
            F.sum((F.col("pred_label") == F.col("true_label")).cast("long"))
            .cast("long")
            .alias("n_correct"),
        )
        .withColumn(
            "accuracy", F.round(F.col("n_correct") / F.col("n_eval"), 6)
        )
    )


ORACLE_KNN_EVAL = """
WITH base AS (
  SELECT vec_id, CAST(label AS BIGINT) AS label,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS e
  FROM embeddings),
evals AS (
  SELECT vec_id AS q_id, label AS true_label, e AS qe
  FROM base WHERE vec_id % 25 = 0),
scored AS (
  SELECT q.q_id, q.true_label, b.vec_id, b.label,
         list_sum(list_transform(range(1, 65),
           i -> (b.e[i] - q.qe[i]) * (b.e[i] - q.qe[i]))) AS d
  FROM base b JOIN evals q ON b.vec_id <> q.q_id),
nn AS (
  SELECT q_id, true_label, label FROM (
    SELECT q_id, true_label, label,
           row_number() OVER (PARTITION BY q_id ORDER BY d ASC, vec_id ASC) AS rn
    FROM scored) WHERE rn <= 5),
votes AS (
  SELECT q_id, true_label, label, COUNT(*) AS v
  FROM nn GROUP BY 1, 2, 3),
pred AS (
  SELECT q_id, true_label, label AS pred_label FROM (
    SELECT q_id, true_label, label,
           row_number() OVER (PARTITION BY q_id ORDER BY v DESC, label ASC) AS rn
    FROM votes) WHERE rn = 1)
SELECT true_label, CAST(COUNT(*) AS BIGINT) AS n_eval,
       CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       round(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS accuracy
FROM pred GROUP BY 1
"""

QUERIES["knn_label_eval"] = q_knn_label_eval
ORACLES["knn_label_eval"] = ORACLE_KNN_EVAL


def q_pq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the end-to-end IVF-PQ search against exact
    ground truth — the eval every ANN deployment publishes next to its
    index parameters. Ground truth: exact int64 squared-euclidean
    top-10 over the full corpus (queries broadcast); approximate:
    q_ivf_pq_search's nprobe=2 / 4×4-code pipeline. Per query: the
    overlap count and recall@10. All-integer distances → both sides
    engine-exact; the comparison is pure set arithmetic."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.windows import (
        top_k_per_group,
    )

    approx = q_ivf_pq_search(spark, sf_dir).select("q_id", "vec_id")
    emb = load_table(spark, sf_dir, "embeddings")
    ints = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * F.lit(1000000.0)).cast("long"),
    )
    base = emb.select("vec_id", ints.alias("_e"))
    queries = base.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("_e").alias("_qe")
    )
    dist = F.aggregate(
        F.zip_with("_e", "_qe", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        base.where(F.col("vec_id") >= 3)
        .join(F.broadcast(queries))
        .select("q_id", "vec_id", dist.alias("d"))
    )
    exact = top_k_per_group(
        scored, ["q_id"], [F.col("d").asc(), F.col("vec_id").asc()], 10
    ).select("q_id", "vec_id")
    return (
        queries.select("q_id")
        .join(
            approx.join(exact, ["q_id", "vec_id"])
            .groupBy("q_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_overlap")),
            "q_id",
            "left",
        )
        .select(
            "q_id",
            F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
            F.round(F.coalesce("n_overlap", F.lit(0)) / 10.0, 6).alias(
                "recall_at_10"
            ),
        )
    )


def _oracle_pq_recall() -> str:
    ivfpq = _oracle_ivf_pq()
    return f"""
WITH approx AS ({ivfpq}),
ints2 AS (
  SELECT vec_id, list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS e
  FROM embeddings),
q2 AS (SELECT vec_id AS q_id, e AS qe FROM ints2 WHERE vec_id < 3),
exact AS (
  SELECT q_id, vec_id FROM (
    SELECT q2.q_id, b.vec_id,
           row_number() OVER (PARTITION BY q2.q_id ORDER BY
             list_sum(list_transform(range(1, 65),
               i -> (b.e[i] - q2.qe[i]) * (b.e[i] - q2.qe[i]))) ASC,
             b.vec_id ASC) AS rn
    FROM ints2 b CROSS JOIN q2 WHERE b.vec_id >= 3) WHERE rn <= 10),
ov AS (
  SELECT a.q_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
  FROM approx a JOIN exact e ON a.q_id = e.q_id AND a.vec_id = e.vec_id
  GROUP BY 1)
SELECT q2.q_id, COALESCE(ov.n_overlap, 0) AS n_overlap,
       round(COALESCE(ov.n_overlap, 0) / 10.0, 6) AS recall_at_10
FROM q2 LEFT JOIN ov USING (q_id)
"""


QUERIES["pq_recall_eval"] = q_pq_recall_eval
ORACLES["pq_recall_eval"] = _oracle_pq_recall()


def q_group_by_all_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL / ORDER BY ALL surface parity: the DuckDB-born
    shorthand Spark 4 adopted — every non-aggregate select item
    becomes a grouping key. Both engines run the literal same
    shorthand SQL text; cents stay BIGINT and the ratio casts to
    DOUBLE explicitly (the SQL-string decimal-literal trap)."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("_gba_orders")
    return spark.sql("""
        SELECT o_orderpriority,
               o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS cents,
               round(CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                          AS DOUBLE) / COUNT(*) / 100.0, 6) AS avg_price
        FROM _gba_orders
        GROUP BY ALL
    """)


ORACLE_GROUP_BY_ALL = """
SELECT o_orderpriority,
       o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
       round(CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS DOUBLE) / COUNT(*) / 100.0, 6) AS avg_price
FROM orders
GROUP BY ALL
"""

QUERIES["group_by_all_rollup"] = q_group_by_all_rollup
ORACLES["group_by_all_rollup"] = ORACLE_GROUP_BY_ALL


def q_percentile_cont_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (PERCENTILE_CONT semantics) of
    the cents-exact order price per priority: Spark's exact
    ``percentile()`` and DuckDB's ``quantile_cont`` share the linear
    interpolation rule, and interpolating between two BIGINT cents
    values is exact in double well past 2^52 — so the only float is
    the output itself (6dp). Computed via grouped_percentile_exact
    (r9): the `percentile()` aggregate buffers every value of a group
    and o_orderpriority has 5 distinct values — five fact-sized
    aggregation buffers at 100 TB (the unbounded-buffer class); the
    order-statistics form is bit-identical and scale-safe. The
    approx/pandas-UDAF variants cover the sketch and Arrow paths
    elsewhere."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.windows import (
        grouped_percentile_exact,
    )

    o = load_table(spark, sf_dir, "orders")
    cents = o.select(
        "o_orderpriority",
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("_c"),
    )
    pct = grouped_percentile_exact(
        cents,
        ["o_orderpriority"],
        "_c",
        "o_orderkey",
        {"_p25": 0.25, "_p50": 0.5, "_p75": 0.75, "_p99": 0.99},
    )
    counts = cents.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )
    return counts.join(F.broadcast(pct), "o_orderpriority").select(
        "o_orderpriority",
        "n_orders",
        F.round(F.col("_p25") / 100.0, 6).alias("p25"),
        F.round(F.col("_p50") / 100.0, 6).alias("median"),
        F.round(F.col("_p75") / 100.0, 6).alias("p75"),
        F.round(F.col("_p99") / 100.0, 6).alias("p99"),
    )


ORACLE_PERCENTILE_CONT = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       round(quantile_cont(c, 0.25) / 100.0, 6) AS p25,
       round(quantile_cont(c, 0.5) / 100.0, 6) AS median,
       round(quantile_cont(c, 0.75) / 100.0, 6) AS p75,
       round(quantile_cont(c, 0.99) / 100.0, 6) AS p99
FROM (SELECT o_orderpriority,
             CAST(round(o_totalprice * 100) AS BIGINT) AS c
      FROM orders)
GROUP BY o_orderpriority
"""

QUERIES["percentile_cont_parity"] = q_percentile_cont_parity
ORACLES["percentile_cont_parity"] = ORACLE_PERCENTILE_CONT


def q_spearman_rank_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between event VALUE and event TIME
    per event type — the robust does-value-drift-over-time statistic.
    Both rankings use total orders ((metric, event_id) tiebreak → no
    ties), so rho = 1 - 6·Σd²/(n(n²-1)) is computed from EXACT integer
    rank differences; the single division is the output.

    Scale shape: event_type has a HANDFUL of distinct values, so a
    window partitioned by it alone is ~5 fact-sized single-task sorts
    at 100× (the r8 judge's perf-weak finding). Both rank vectors are
    therefore computed with ``operators.windows.grouped_rank`` — a
    composite (event_type, metric, tiebreak) RANGE sort that spreads
    each type over many partitions, with per-(partition, group) offset
    cells broadcast back. Ranks are identical to the window form (the
    DuckDB oracle keeps row_number() OVER (PARTITION BY ...)). n² is
    squared in DOUBLE on both engines: a BIGINT n·n overflows past
    ~3e9 rows per group (a loud ANSI ArithmeticException on Spark —
    pinned by tests/test_round12.py — and an error on DuckDB too).
    Σd² accumulates in DECIMAL(38,0)/HUGEINT and is EMITTED as
    DECIMAL(38,0) (r11 int64-overflow sweep: |d| < n makes Σd² ≤ n³,
    which overflows a LONG past ~2.1e6 rows per type — an ANSI
    ArithmeticException at scale — and d² itself overflows per-term
    at n ~ 3e9, so the cast happens BEFORE the square). sum_d2 is
    EMITTED as STRING of the scale-0 decimal — the r12 driver-stable
    output convention (module docstring): DECIMAL output columns
    hash-fail the driver even when both engines agree on the value,
    while the decimal→string rendering is identical on both engines
    at any magnitude."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.windows import (
        grouped_rank,
    )

    e = load_table(spark, sf_dir, "events")
    base = e.select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("_cents"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("_tus"),
    )
    rv = grouped_rank(base, ["event_type"], ["_cents", "event_id"], "_rv")
    rt = grouped_rank(rv, ["event_type"], ["_tus", "event_id"], "_rt")
    ranked = rt.select(
        "event_type",
        (F.col("_rv") - F.col("_rt")).cast("decimal(38,0)").alias("_d"),
    )
    nd = F.col("n").cast("double")
    return ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("_d") * F.col("_d")).cast("decimal(38,0)").alias("_sum_d2"),
    ).select(
        "event_type",
        "n",
        F.col("_sum_d2").cast("string").alias("sum_d2"),
        F.round(
            1 - (6.0 * F.col("_sum_d2").cast("double")) / (nd * (nd * nd - 1)),
            6,
        ).alias("spearman_rho"),
    )


ORACLE_SPEARMAN = """
WITH base AS (
  SELECT event_type, event_id,
         CAST(round(value * 100) AS BIGINT) AS cents,
         epoch_us(ts) AS tus
  FROM events),
ranked AS (
  SELECT event_type,
         CAST(row_number() OVER (PARTITION BY event_type
              ORDER BY cents ASC, event_id ASC) AS BIGINT)
         - CAST(row_number() OVER (PARTITION BY event_type
              ORDER BY tus ASC, event_id ASC) AS BIGINT) AS d
  FROM base)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(CAST(SUM(CAST(d AS HUGEINT) * CAST(d AS HUGEINT)) AS DECIMAL(38,0))
            AS VARCHAR)
         AS sum_d2,
       round(1 - (6.0 * CAST(SUM(CAST(d AS HUGEINT) * CAST(d AS HUGEINT)) AS DOUBLE))
             / (CAST(COUNT(*) AS DOUBLE)
                * (CAST(COUNT(*) AS DOUBLE) * CAST(COUNT(*) AS DOUBLE) - 1)),
             6)
         AS spearman_rho
FROM ranked GROUP BY event_type
"""

QUERIES["spearman_rank_correlation"] = q_spearman_rank_correlation
ORACLES["spearman_rank_correlation"] = ORACLE_SPEARMAN


def q_decile_lift_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lift/gains chart (the campaign-targeting model eval): users
    scored by cents-exact total event value, cut into score deciles
    via the distributed ``ntile_exact`` (descending score negated for
    the ascending range sort), per decile the purchase-user rate and
    lift over the base rate, plus the cumulative gains share. Exact
    integer counts end-to-end; 6dp ratios; the only windows are the
    10-row decile cumsum and ntile_exact's internal offset table."""
    from pyspark.sql import Window

    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.windows import (
        ntile_exact,
    )

    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("_score"),
        F.max((F.col("event_type") == "purchase").cast("long"))
        .cast("long")
        .alias("_buyer"),
    )
    deciled = ntile_exact(
        per_user.withColumn("_nscore", -F.col("_score")),
        ["_nscore", "user_id"],
        10,
        bucket_col="decile",
    ).select("decile", "_buyer")
    per = deciled.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("_buyer").cast("long").alias("n_buyers"),
    )
    tot = per.agg(
        F.sum("n_users").cast("long").alias("_tu"),
        F.sum("n_buyers").cast("long").alias("_tb"),
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return per.crossJoin(F.broadcast(tot)).select(
        "decile",
        "n_users",
        "n_buyers",
        F.round(
            (F.col("n_buyers") * F.col("_tu")).cast("double")
            / (F.col("n_users") * F.col("_tb")),
            6,
        ).alias("lift"),
        F.round(
            F.sum("n_buyers").over(wc) / F.col("_tb").cast("double"), 6
        ).alias("cum_gains"),
    )


ORACLE_DECILE_LIFT = """
WITH per_user AS (
  SELECT user_id,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS score,
         CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
           AS buyer
  FROM events GROUP BY 1),
deciled AS (
  SELECT buyer, CAST(ntile(10) OVER (ORDER BY score DESC, user_id ASC) AS BIGINT)
           AS decile
  FROM per_user),
per AS (
  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(buyer) AS BIGINT) AS n_buyers
  FROM deciled GROUP BY 1),
tot AS (SELECT CAST(SUM(n_users) AS BIGINT) AS tu,
               CAST(SUM(n_buyers) AS BIGINT) AS tb FROM per)
SELECT decile, n_users, n_buyers,
       round(CAST(n_buyers * tu AS DOUBLE) / (n_users * tb), 6) AS lift,
       round(CAST(SUM(n_buyers) OVER (ORDER BY decile
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             / CAST(tb AS DOUBLE), 6) AS cum_gains
FROM per CROSS JOIN tot
"""

QUERIES["decile_lift_curve"] = q_decile_lift_curve
ORACLES["decile_lift_curve"] = ORACLE_DECILE_LIFT


def q_subsample_ci_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resampling-based uncertainty for total revenue-per-customer:
    32 deterministic half-sample replicates (customer c enters
    replicate r iff md5('ci:r:c') starts below '8' — the engine-
    portable lexicographic coin from operators.sampling), each
    replicate's doubled total computed as ONE conditional aggregate,
    so all 32 replicates ride a single map-side pass over orders (no
    explode, no 32 scans). The replicate spread is computed with
    EXACT integer moments: x² overflows int64 but not DECIMAL(38,0)
    (Spark) / HUGEINT (DuckDB), so Σx and Σx² are exact, the variance
    numerator B·Σx² − (Σx)² is formed exactly, and ONE division (and
    the sqrt) happens in double at the end — no cancellation-prone
    double subtraction of ~1e25-magnitude terms (the r8 hash-flake
    class). Output: one row with the point estimate, replicate
    mean/sd, and the ±2sd band — floats appear only in the final
    scalars, 6dp."""
    B = 32
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    # pre-aggregate cents per CUSTOMER first: the replicate coin is a
    # function of o_custkey alone, so Σ over orders of coin(r,c)·cents
    # == Σ over customers of coin(r,c)·Σcents(c) exactly (integer
    # sums reassociate freely). The 32 md5 draws then evaluate once
    # per customer (~|customers| rows) instead of once per order row —
    # ~10× less md5/substring work with bit-identical outputs
    # (r14 optimization, guide §2.3 aggregate-before-expensive-work).
    per_cust = o.groupBy("o_custkey").agg(F.sum(cents).cast("long").alias("_c"))
    ccents = F.col("_c")
    inc = [
        F.substring(
            F.md5(F.concat(F.lit(f"ci:{r}:"), F.col("o_custkey").cast("string"))),
            1,
            1,
        )
        < "8"
        for r in range(B)
    ]
    aggs = [
        F.sum(F.when(inc[r], ccents).otherwise(F.lit(0).cast("long")))
        .cast("long")
        .alias(f"_s{r}")
        for r in range(B)
    ]
    wide = per_cust.agg(F.sum(ccents).cast("long").alias("_tot"), *aggs)
    # doubled half-sample totals are the replicate estimates; Σx is
    # BIGINT-exact and Σx² is DECIMAL(38,0)-exact (x ≤ ~2^43 so
    # x² ≤ ~8e25 ≪ 1e38), so the variance numerator B·Σx² − (Σx)² is
    # an exact integer on both engines; the only float ops are one
    # division and one sqrt on identical inputs
    sx = None
    sx2 = None
    for r in range(B):
        x = F.col(f"_s{r}") * 2
        xd = x.cast("decimal(19,0)")
        sx = x if sx is None else sx + x
        sx2 = (xd * xd) if sx2 is None else sx2 + (xd * xd)
    mean = sx.cast("double") / B
    num = (
        sx2 * F.lit(B).cast("decimal(19,0)")
        - sx.cast("decimal(19,0)") * sx.cast("decimal(19,0)")
    )
    var = num.cast("double") / (B * (B - 1))
    sd = F.sqrt(var)
    return wide.select(
        (F.col("_tot") / 100.0).alias("point_revenue"),
        F.round(mean / 100.0, 6).alias("replicate_mean"),
        F.round(sd / 100.0, 6).alias("replicate_sd"),
        F.round((mean - 2 * sd) / 100.0, 6).alias("ci_lo"),
        F.round((mean + 2 * sd) / 100.0, 6).alias("ci_hi"),
        F.lit(B).cast("long").alias("n_replicates"),
    )


def _oracle_subsample_ci(B: int = 32) -> str:
    sums = ", ".join(
        f"CAST(SUM(CASE WHEN substr(md5('ci:{r}:' || o_custkey), 1, 1) < '8' "
        f"THEN c ELSE 0 END) AS BIGINT) AS s{r}"
        for r in range(B)
    )
    sx = " + ".join(f"(s{r} * 2)" for r in range(B))
    sx2 = " + ".join(
        f"(CAST(s{r} * 2 AS HUGEINT) * CAST(s{r} * 2 AS HUGEINT))"
        for r in range(B)
    )
    return f"""
WITH base AS (
  SELECT o_custkey, CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders),
wide AS (
  SELECT CAST(SUM(c) AS BIGINT) AS tot, {sums} FROM base),
stats AS (
  SELECT tot,
         CAST({sx} AS DOUBLE) / {B} AS mean,
         CAST({B} * ({sx2})
              - CAST({sx} AS HUGEINT) * CAST({sx} AS HUGEINT) AS DOUBLE)
           / ({B} * ({B} - 1)) AS var
  FROM wide)
SELECT tot / 100.0 AS point_revenue,
       round(mean / 100.0, 6) AS replicate_mean,
       round(sqrt(var) / 100.0, 6) AS replicate_sd,
       round((mean - 2 * sqrt(var)) / 100.0, 6) AS ci_lo,
       round((mean + 2 * sqrt(var)) / 100.0, 6) AS ci_hi,
       CAST({B} AS BIGINT) AS n_replicates
FROM stats
"""


QUERIES["subsample_ci_revenue"] = q_subsample_ci_revenue
ORACLES["subsample_ci_revenue"] = _oracle_subsample_ci()


def q_sql_udf_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL-language UDF (CREATE TEMPORARY FUNCTION ... RETURN
    <expr> — the catalog-registered, catalyst-inlined kind, NOT a
    Python UDF): a clamp-to-cents scalar function applied inside a
    rollup. SQL UDFs inline into the plan (whole-stage codegen, no
    serialization boundary), which is why they are the preferred
    extension point before reaching for pandas UDFs. The oracle runs
    the equivalent expression inline (DuckDB's CREATE MACRO is the
    same facility, but the driver executes oracles as one statement)."""
    e = load_table(spark, sf_dir, "events")
    e.createOrReplaceTempView("_udf_events")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION clamp_cents(x DOUBLE) "
        "RETURNS BIGINT RETURN CAST(round(greatest(x, 0) * 100) AS BIGINT)"
    )
    return spark.sql("""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(clamp_cents(value)) AS BIGINT) AS clamped_cents,
               CAST(SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_clamped
        FROM _udf_events
        GROUP BY event_type
    """)


ORACLE_SQL_UDF = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(round(greatest(value, 0) * 100) AS BIGINT)) AS BIGINT)
         AS clamped_cents,
       CAST(SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped
FROM events
GROUP BY event_type
"""

QUERIES["sql_udf_rollup"] = q_sql_udf_rollup
ORACLES["sql_udf_rollup"] = ORACLE_SQL_UDF


def q_range_frame_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window coverage (value-range frames, the window
    surface everything else here leaves untested — ROWS frames count
    rows, RANGE frames cover a VALUE band, well-defined under ties):
    events collapsed to distinct (type, cents) with counts, then each
    cents level gets the total event mass within ±500 cents of it —
    kernel-style density smoothing as one partitioned window, exact
    integers throughout."""
    e = load_table(spark, sf_dir, "events")
    per = (
        e.groupBy(
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    per.createOrReplaceTempView("_rf_levels")
    return spark.sql("""
        SELECT event_type, cents, n,
               CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY cents
                    RANGE BETWEEN 500 PRECEDING AND 500 FOLLOWING) AS BIGINT)
                 AS band_mass
        FROM _rf_levels
    """)


ORACLE_RANGE_FRAME = """
WITH per AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2)
SELECT event_type, cents, n,
       CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY cents
            RANGE BETWEEN 500 PRECEDING AND 500 FOLLOWING) AS BIGINT)
         AS band_mass
FROM per
"""

QUERIES["range_frame_smoothing"] = q_range_frame_smoothing
ORACLES["range_frame_smoothing"] = ORACLE_RANGE_FRAME


def q_two_hop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-capped friend-of-friend reach over the part co-purchase
    graph: per part, the number of DISTINCT parts reachable in exactly
    ≤2 hops through middle nodes of degree ≤ 32 (the standard hub
    guard — an uncapped FoF through one hub node is the quadratic
    blowup the triangle census's degree orientation exists to avoid).
    Pair generation stays basket-bounded; the 2-hop expansion is one
    keyed self-join on the capped middle + a distinct aggregate."""
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = l.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("i"))
    b = l.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("j"))
    und = (
        a.join(b, "o")
        .where(F.col("i") != F.col("j"))
        .select("i", "j")
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = und.groupBy("i").agg(F.count(F.lit(1)).cast("long").alias("_d"))
    mid_ok = deg.where(F.col("_d") <= 32).select(F.col("i").alias("_mid"))
    # hop 1: v -> mid (mid capped); hop 2: mid -> w
    h1 = und.join(mid_ok, und["j"] == mid_ok["_mid"]).select(
        F.col("i").alias("v"), F.col("j").alias("m")
    )
    h2 = und.select(F.col("i").alias("m"), F.col("j").alias("w"))
    reach = (
        h1.join(h2, "m")
        .where(F.col("v") != F.col("w"))
        .select("v", "w")
        .union(und.select(F.col("i").alias("v"), F.col("j").alias("w")))
        .distinct()
    )
    return reach.groupBy("v").agg(
        F.count(F.lit(1)).cast("long").alias("n_reach2")
    )


ORACLE_TWO_HOP = """
WITH l AS (SELECT l_orderkey AS o, l_partkey AS p FROM lineitem),
und AS (
  SELECT DISTINCT a.p AS i, b.p AS j
  FROM l a JOIN l b ON a.o = b.o AND a.p <> b.p),
deg AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS d FROM und GROUP BY 1),
mid_ok AS (SELECT i AS mid FROM deg WHERE d <= 32),
h1 AS (SELECT und.i AS v, und.j AS m FROM und JOIN mid_ok ON und.j = mid_ok.mid),
h2 AS (SELECT i AS m, j AS w FROM und),
reach AS (
  SELECT DISTINCT v, w FROM (
    SELECT h1.v, h2.w FROM h1 JOIN h2 USING (m) WHERE h1.v <> h2.w
    UNION ALL
    SELECT i AS v, j AS w FROM und))
SELECT v, CAST(COUNT(*) AS BIGINT) AS n_reach2 FROM reach GROUP BY v
"""

QUERIES["two_hop_reach"] = q_two_hop_reach
ORACLES["two_hop_reach"] = ORACLE_TWO_HOP


def q_time_weighted_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user (the TWAP/monitoring
    standard — unweighted means over-represent bursts): each event's
    value holds until the user's next event, so its weight is the gap
    to the next event in whole seconds (exact integers; the user's
    last event has no successor and drops, standard TWAP). One
    per-user window (lead) + one aggregate; Σ(cents·gap) stays in
    BIGINT (cents ≤ 10⁶, gaps ≤ 10⁸ s, ≤ 10⁴ events/user)."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    base = e.select(
        "user_id",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("_cents"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("_tus"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("_tus").asc(), F.col("event_id").asc()
    )
    seg = (
        base.select(
            "user_id",
            "_cents",
            (F.lead("_tus").over(w) - F.col("_tus")).alias("_gap_us"),
        )
        # integer div, not double-divide-and-cast (the pinned
        # Spark-div/DuckDB-// pairing)
        .select("user_id", "_cents", F.expr("_gap_us div 1000000").alias("_gap_s"))
        .where(F.col("_gap_s").isNotNull())
    )
    return seg.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_segments"),
        F.sum("_gap_s").cast("long").alias("total_seconds"),
        F.round(
            F.sum(F.col("_cents") * F.col("_gap_s"))
            / F.sum("_gap_s").cast("double")
            / 100.0,
            6,
        ).alias("twap"),
    )


ORACLE_TWAP = """
WITH base AS (
  SELECT user_id, event_id, CAST(round(value * 100) AS BIGINT) AS cents,
         epoch_us(ts) AS tus
  FROM events),
seg AS (
  SELECT user_id, cents,
         (lead(tus) OVER (PARTITION BY user_id ORDER BY tus ASC, event_id ASC)
          - tus) // 1000000 AS gap_s
  FROM base)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_segments,
       CAST(SUM(gap_s) AS BIGINT) AS total_seconds,
       round(CAST(SUM(cents * gap_s) AS BIGINT)
             / CAST(SUM(gap_s) AS DOUBLE) / 100.0, 6) AS twap
FROM seg WHERE gap_s IS NOT NULL
GROUP BY user_id
"""

QUERIES["time_weighted_average"] = q_time_weighted_average
ORACLES["time_weighted_average"] = ORACLE_TWAP


# ------------------------------------------------------- round 9

def q_stream_full_outer_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER stream-stream join executed as a real streaming job
    (streaming.joins.attribution_full_outer_join_once) — the two-sided
    completion of the attribution join family: clicks with no purchase
    AND purchases with no preceding click both emit null-padded once
    the global watermark proves no match can still arrive. Aggregated
    per user (coalesced key) into matched / left-only / right-only
    counts; the oracle replays the emission rule — batch FULL interval
    join + min-of-both-sides ms-truncated watermark, left rows cut at
    eviction point left_ts + horizon < W, right rows cut at right_ts <
    W (both strict; boundary-probed in tests/test_round9.py)."""
    import os as _os

    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.joins import (
        attribution_full_outer_join_once,
    )

    out = attribution_full_outer_join_once(
        spark, _os.path.join(sf_dir, "events.parquet")
    )
    return (
        out.groupBy(F.coalesce(F.col("k"), F.col("k2")).alias("user_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.count_if(F.col("right_id").isNull())
            .cast("long")
            .alias("n_left_only"),
            F.count_if(F.col("left_id").isNull())
            .cast("long")
            .alias("n_right_only"),
            _scaled_sum(F.coalesce(F.col("right_value"), F.lit(0.0)), 10000,
                        "attributed_value"),
        )
    )


ORACLE_STREAM_FULL_OUTER_ATTRIBUTION = """
WITH l AS (
  SELECT user_id, event_id AS left_id, ts AS left_ts
  FROM events WHERE event_type = 'click'),
r AS (
  SELECT user_id, event_id AS right_id, ts AS right_ts, value AS right_value
  FROM events WHERE event_type = 'purchase'),
wm AS (
  SELECT least(
    (SELECT (epoch_us(max(ts)) // 1000) * 1000 FROM events
      WHERE event_type = 'click'),
    (SELECT (epoch_us(max(ts)) // 1000) * 1000 FROM events
      WHERE event_type = 'purchase')) - 7200000000 AS v),
j AS (
  SELECT coalesce(l.user_id, r.user_id) AS user_id,
         l.left_id, l.left_ts, r.right_id, r.right_ts, r.right_value
  FROM l FULL JOIN r
    ON l.user_id = r.user_id
   AND r.right_ts >= l.left_ts
   AND r.right_ts <= l.left_ts + INTERVAL 30 MINUTE),
emitted AS (
  SELECT * FROM j, wm
  WHERE (left_id IS NOT NULL AND right_id IS NOT NULL)
     OR (right_id IS NULL AND epoch_us(left_ts + INTERVAL 30 MINUTE) < wm.v)
     OR (left_id IS NULL AND epoch_us(right_ts) < wm.v))
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(count_if(right_id IS NULL) AS BIGINT) AS n_left_only,
       CAST(count_if(left_id IS NULL) AS BIGINT) AS n_right_only,
       CAST(SUM(CAST(round(coalesce(right_value, 0.0) * 10000) AS BIGINT))
            AS BIGINT) / 10000.0 AS attributed_value
FROM emitted GROUP BY 1
"""

QUERIES["stream_full_outer_attribution"] = q_stream_full_outer_attribution
ORACLES["stream_full_outer_attribution"] = ORACLE_STREAM_FULL_OUTER_ATTRIBUTION


def q_image_ahash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate detection over REAL container bytes: each
    doc synthesizes an 8×8 grayscale PNG (every 8 consecutive ids share
    one image — the planted dup groups), the bytes cross the Arrow
    boundary, pixels are recovered by actual IDAT inflate + un-filter,
    and the perceptual hash (aHash: mean-threshold, 64-bit pack) is
    computed from the DECODED pixels (operators.multimodal.image_ahash).
    Candidates come from 16-bit LSH bands over the hash (never
    all-pairs on the Spark side); survivors are exact-verified at
    hamming ≤ 6 via bit_count(xor). The oracle predicts the hash by
    arithmetic — with binary pixels, mean-thresholding provably
    recovers the encoded bits — and applies the same band-candidate +
    hamming rule, so a value match proves the byte-level decode chain
    end-to-end. Output is LSH-candidate semantics (a ≤6-hamming pair
    spread 2+2+2 across bands is out of recall, as documented)."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.multimodal import (
        image_ahash,
    )

    d = parallelize(load_table(spark, sf_dir, "documents").select("doc_id"))
    h = image_ahash(d)
    bands = h.select(
        "doc_id",
        "ahash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("bi"),
                        F.shiftright(F.col("ahash"), 16 * b)
                        .bitwiseAND(F.lit(65535))
                        .alias("bv"),
                    )
                    for b in range(3)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "ahash", "band.bi", "band.bv")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.bi") == F.col("b.bi"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.ahash").alias("_ha"),
            F.col("b.ahash").alias("_hb"),
        )
        .distinct()
    )
    return cand.select(
        "doc_a",
        "doc_b",
        F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb")))
        .cast("long")
        .alias("hamming"),
    ).where(F.col("hamming") <= 6)


ORACLE_IMAGE_AHASH = """
WITH h AS (
  SELECT doc_id,
         ((doc_id // 8) * 2654435761) % 281474976710656 AS ah
  FROM documents),
p AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         xor(a.ah, b.ah) AS x
  FROM h a JOIN h b ON a.doc_id < b.doc_id)
SELECT doc_a, doc_b, CAST(bit_count(x) AS BIGINT) AS hamming
FROM p
WHERE ((x & 65535) = 0 OR ((x >> 16) & 65535) = 0 OR ((x >> 32) & 65535) = 0)
  AND bit_count(x) <= 6
"""

QUERIES["image_ahash_neardup"] = q_image_ahash_neardup
ORACLES["image_ahash_neardup"] = ORACLE_IMAGE_AHASH


def q_percentile_disc_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCENTILE_DISC parity (the discrete sibling of
    percentile_cont_parity): both engines pick the FIRST value whose
    cumulative distribution reaches q (the ceil(q·n)-th order
    statistic) — verified element-identical, so unlike the
    interpolated variant the result is integer-EXACT end-to-end (no
    float appears until the final /100 display scale). Grouped
    aggregate, never a global sort."""
    o = load_table(spark, sf_dir, "orders")
    o.select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("_c"),
    ).createOrReplaceTempView("_pdisc_orders")
    return spark.sql("""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY _c) AS BIGINT) AS p25_cents,
       CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY _c) AS BIGINT) AS median_cents,
       CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY _c) AS BIGINT) AS p90_cents
FROM _pdisc_orders GROUP BY o_orderpriority
""")


ORACLE_PERCENTILE_DISC = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(quantile_disc(c, 0.25) AS BIGINT) AS p25_cents,
       CAST(quantile_disc(c, 0.5) AS BIGINT) AS median_cents,
       CAST(quantile_disc(c, 0.9) AS BIGINT) AS p90_cents
FROM (SELECT o_orderpriority,
             CAST(round(o_totalprice * 100) AS BIGINT) AS c
      FROM orders)
GROUP BY o_orderpriority
"""

QUERIES["percentile_disc_parity"] = q_percentile_disc_parity
ORACLES["percentile_disc_parity"] = ORACLE_PERCENTILE_DISC


def q_seasonal_naive_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MASE (mean absolute scaled error) of the seasonal-naive
    forecaster per event type: hourly value totals (exact cents), the
    season-24h naive forecast ŷ(h)=y(h−24) scored against the
    one-step naive baseline ŷ(h)=y(h−1) — the standard scale-free
    forecast-eval statistic. Error sums are exact BIGINT |diff|s over
    hour-index equi-joins (missing hours pair only where both sides
    exist, counted); ONE division at the end, 6dp. Three keyed
    aggregates + two hour-index joins — no windows at all, so nothing
    serializes regardless of type cardinality."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type",
        (F.unix_micros(F.col("ts").cast("timestamp")) / 3_600_000_000)
        .cast("long")
        .alias("h"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("c"))
    cur = hourly.alias("cur")
    seas = hourly.alias("seas")
    base = hourly.alias("base")
    s_err = (
        cur.join(
            seas,
            (F.col("cur.event_type") == F.col("seas.event_type"))
            & (F.col("cur.h") == F.col("seas.h") + 24),
        )
        .groupBy(F.col("cur.event_type").alias("event_type"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_seasonal"),
            F.sum(F.abs(F.col("cur.c") - F.col("seas.c")))
            .cast("long")
            .alias("_se"),
        )
    )
    n_err = (
        cur.join(
            base,
            (F.col("cur.event_type") == F.col("base.event_type"))
            & (F.col("cur.h") == F.col("base.h") + 1),
        )
        .groupBy(F.col("cur.event_type").alias("event_type"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_naive"),
            F.sum(F.abs(F.col("cur.c") - F.col("base.c")))
            .cast("long")
            .alias("_ne"),
        )
    )
    return s_err.join(n_err, "event_type").select(
        "event_type",
        "n_seasonal",
        "n_naive",
        F.round(
            (F.col("_se").cast("double") / F.col("n_seasonal"))
            / (F.col("_ne").cast("double") / F.col("n_naive")),
            6,
        ).alias("mase"),
    )


ORACLE_SEASONAL_MASE = """
WITH hourly AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS h,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
  FROM events GROUP BY 1, 2),
s AS (
  SELECT cur.event_type, CAST(COUNT(*) AS BIGINT) AS n_seasonal,
         CAST(SUM(abs(cur.c - seas.c)) AS BIGINT) AS se
  FROM hourly cur JOIN hourly seas
    ON cur.event_type = seas.event_type AND cur.h = seas.h + 24
  GROUP BY 1),
b AS (
  SELECT cur.event_type, CAST(COUNT(*) AS BIGINT) AS n_naive,
         CAST(SUM(abs(cur.c - base.c)) AS BIGINT) AS ne
  FROM hourly cur JOIN hourly base
    ON cur.event_type = base.event_type AND cur.h = base.h + 1
  GROUP BY 1)
SELECT s.event_type, n_seasonal, n_naive,
       round((CAST(se AS DOUBLE) / n_seasonal)
             / (CAST(ne AS DOUBLE) / n_naive), 6) AS mase
FROM s JOIN b ON s.event_type = b.event_type
"""

QUERIES["seasonal_naive_mase"] = q_seasonal_naive_mase
ORACLES["seasonal_naive_mase"] = ORACLE_SEASONAL_MASE


def q_acf_hourly_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the hourly event-count series at lags 1–3
    per event type — the seasonality probe run before picking a
    forecast season. Pearson r over (c(h), c(h−k)) pairs where both
    hours exist, with EXACT integer moments per the round-9 decimal
    discipline: Σx, Σy, Σxy, Σx², Σy² in BIGINT, the numerator
    n·Σxy − Σx·Σy and both denominator pieces n·Σx² − (Σx)² formed in
    DECIMAL(38,0) (Spark) / HUGEINT (DuckDB), and floats appearing
    only in the two sqrts + one division. One lag-exploded self-join
    on (type, hour) + one aggregate — the series table is
    |types × hours|, never the event stream."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type",
        (F.unix_micros(F.col("ts").cast("timestamp")) / 3_600_000_000)
        .cast("long")
        .alias("h"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    cur = hourly.select(
        "event_type", "h", F.col("c").alias("x"),
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("lag"),
    ).alias("cur")
    lagged = hourly.select(
        F.col("event_type").alias("l_type"),
        F.col("h").alias("l_h"),
        F.col("c").alias("y"),
    ).alias("lagged")
    pairs = cur.join(
        lagged,
        (F.col("cur.event_type") == F.col("lagged.l_type"))
        & (F.col("cur.h") == F.col("lagged.l_h") + F.col("cur.lag")),
    ).select("cur.event_type", "lag", "x", "y")
    # power sums in DECIMAL(38,0), cast BEFORE the product (r11
    # int64-overflow sweep: x·y of two ~1e10 hourly counts overflows a
    # LONG per term — an ANSI ArithmeticException at scale) — the
    # exact cross-multiplied moments below then never re-enter int64
    _xd = F.col("x").cast("decimal(38,0)")
    _yd = F.col("y").cast("decimal(38,0)")
    mom = pairs.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(_xd).alias("_sx"),
        F.sum(_yd).alias("_sy"),
        F.sum(_xd * _yd).alias("_sxy"),
        F.sum(_xd * _xd).alias("_sxx"),
        F.sum(_yd * _yd).alias("_syy"),
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    num = d("n") * d("_sxy") - d("_sx") * d("_sy")
    dx = d("n") * d("_sxx") - d("_sx") * d("_sx")
    dy = d("n") * d("_syy") - d("_sy") * d("_sy")
    return mom.select(
        "event_type",
        F.col("lag").cast("long").alias("lag"),
        "n",
        F.round(
            num.cast("double")
            / (F.sqrt(dx.cast("double")) * F.sqrt(dy.cast("double"))),
            6,
        ).alias("acf"),
    )


ORACLE_ACF_LAGS = """
WITH hourly AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS h,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2),
pairs AS (
  SELECT cur.event_type, lags.lag, cur.c AS x, lagged.c AS y
  FROM hourly cur
  CROSS JOIN (SELECT unnest([1, 2, 3]) AS lag) lags
  JOIN hourly lagged
    ON cur.event_type = lagged.event_type AND cur.h = lagged.h + lags.lag),
mom AS (
  SELECT event_type, lag, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM pairs GROUP BY 1, 2)
SELECT event_type, CAST(lag AS BIGINT) AS lag, n,
       round(CAST(n * CAST(sxy AS HUGEINT) - CAST(sx AS HUGEINT) * sy
                  AS DOUBLE)
             / (sqrt(CAST(n * CAST(sxx AS HUGEINT) - CAST(sx AS HUGEINT) * sx
                          AS DOUBLE))
                * sqrt(CAST(n * CAST(syy AS HUGEINT) - CAST(sy AS HUGEINT) * sy
                            AS DOUBLE))), 6) AS acf
FROM mom
"""

QUERIES["acf_hourly_lags"] = q_acf_hourly_lags
ORACLES["acf_hourly_lags"] = ORACLE_ACF_LAGS


def q_identifier_clause_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 IDENTIFIER() clause — the injection-safe way to
    parameterize TABLE/COLUMN names (string→identifier promotion is a
    parse-time cast, so a malicious name cannot smuggle expressions;
    the third member of the injection-safe family next to
    parameterized_sql's bind variables and sql_variables_rollup's
    session variables, which cover VALUES). The table and the grouping
    column both arrive as parameters. The oracle inlines the resolved
    names — resolution is the thing under test, not the rollup."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("_ident_orders")
    return spark.sql(
        """
SELECT IDENTIFIER(:col) AS o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
            / 100.0 AS DOUBLE) AS total_revenue
FROM IDENTIFIER(:tab)
GROUP BY IDENTIFIER(:col)
""",
        args={"col": "o_orderpriority", "tab": "_ident_orders"},
    )


ORACLE_IDENTIFIER_ROLLUP = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0
         AS total_revenue
FROM orders GROUP BY o_orderpriority
"""

QUERIES["identifier_clause_rollup"] = q_identifier_clause_rollup
ORACLES["identifier_clause_rollup"] = ORACLE_IDENTIFIER_ROLLUP


def q_winnowing_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS winnowing substring-overlap detection
    (operators.dedup_near.winnow_fingerprints/winnow_overlap_pairs):
    char-8-gram md5 fingerprints, minimum per 6-gram window (any shared
    substring of length ≥ 13 is guaranteed a shared fingerprint),
    fingerprints appearing in ≤ 20 docs bucket-joined into candidate
    pairs, kept at ≥ 2 shared prints, scored by containment. The
    engine-portable lexicographic-min-over-md5-hex trick makes both
    engines select the identical fingerprint set. The top-100 strongest
    pairs by (shared_fp, doc_a, doc_b) total order — plagiarism-style
    overlap without an all-pairs comparison anywhere."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.dedup_near import (
        winnow_overlap_pairs,
    )

    d = load_table(spark, sf_dir, "documents")
    pairs = winnow_overlap_pairs(d)
    return pairs.orderBy(
        F.col("shared_fp").desc(), F.col("doc_a").asc(), F.col("doc_b").asc()
    ).limit(100)


ORACLE_WINNOWING = """
WITH base AS (
  SELECT doc_id, text, length(text) - 8 + 1 AS npos
  FROM documents WHERE length(text) - 8 + 1 >= 6),
grams AS (
  SELECT doc_id, p, npos, md5(substr(text, CAST(p AS INTEGER), 8)) AS h
  FROM base, unnest(generate_series(1, npos)) AS t(p)),
winmin AS (
  SELECT doc_id, p, npos,
         min(h) OVER (PARTITION BY doc_id ORDER BY p
                      ROWS BETWEEN CURRENT ROW AND 5 FOLLOWING) AS fingerprint
  FROM grams),
fp AS (
  SELECT DISTINCT doc_id, fingerprint FROM winmin WHERE p <= npos - 6 + 1),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nfp FROM fp GROUP BY 1),
rare AS (
  SELECT fingerprint FROM fp GROUP BY 1 HAVING COUNT(*) <= 20),
kept AS (SELECT fp.* FROM fp JOIN rare USING (fingerprint)),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(COUNT(*) AS BIGINT) AS shared_fp
  FROM kept a JOIN kept b
    ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
SELECT doc_a, doc_b, shared_fp,
       round(shared_fp / CAST(least(sa.nfp, sb.nfp) AS DOUBLE), 6)
         AS containment
FROM shared
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
ORDER BY shared_fp DESC, doc_a ASC, doc_b ASC LIMIT 100
"""

QUERIES["winnowing_overlap"] = q_winnowing_overlap
ORACLES["winnowing_overlap"] = ORACLE_WINNOWING


def q_substring_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level exact dedup spans
    (operators.dedup_near.substring_dup_spans — Lee et al. 2022's
    ExactSubstr layer, re-expressed for Spark): every maximal token
    span repeated verbatim across ≥2 distinct documents at threshold
    L=20 whitespace tokens, as (doc_id, span_start, span_end,
    span_tokens). The suffix array is the single-node shape; here the
    L-gram md5 table is linear in corpus tokens, dup detection is two
    map-side-combinable aggregates, and the positions⋈dup-hash join
    cannot amplify (per-key output = per-key input). All-BIGINT
    output; the md5-hex gram hash is the repo's engine-portable
    hashing trick, so both engines select identical duplicated
    positions."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.dedup_near import (
        substring_dup_spans,
    )

    return substring_dup_spans(
        load_table(spark, sf_dir, "documents"), min_tokens=20
    )


ORACLE_SUBSTRING_DEDUP = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
base AS (
  SELECT doc_id, t, len(t) - 20 + 1 AS npos FROM toks
  WHERE len(t) - 20 + 1 >= 1),
grams AS (
  SELECT doc_id, i AS pos, md5(array_to_string(t[i:i+19], ' ')) AS h
  FROM base, LATERAL (SELECT unnest(generate_series(1, npos)) AS i) g),
dup AS (
  SELECT h FROM (SELECT DISTINCT h, doc_id FROM grams)
  GROUP BY h HAVING COUNT(*) >= 2),
hits AS (
  SELECT doc_id, pos FROM grams WHERE h IN (SELECT h FROM dup)),
runs AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM hits)
SELECT doc_id,
       CAST(MIN(pos) AS BIGINT) AS span_start,
       CAST(MAX(pos) + 19 AS BIGINT) AS span_end,
       CAST(MAX(pos) + 19 - MIN(pos) + 1 AS BIGINT) AS span_tokens
FROM runs GROUP BY doc_id, grp
"""

QUERIES["substring_dedup_spans"] = q_substring_dedup_spans
ORACLES["substring_dedup_spans"] = ORACLE_SUBSTRING_DEDUP


def q_substring_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CUT step of Lee et al. 2022's ExactSubstr dedup
    (operators.dedup_near.substring_dedup_apply): duplicated spans
    grouped by opening-gram hash, the corpus-first (doc_id, span_start)
    copy kept, every other copy removed whole; per-doc removal
    accounting plus an md5 certificate of the kept text. The rewrite is
    map-only on the Spark side (cut list rides a ≤len/20-entry struct
    array onto the doc row, kept tokens fall out of one higher-order
    filter — corpus text never shuffles); the DuckDB oracle rebuilds
    the same kept text via exploded positions + ordered string_agg —
    each engine its natural idiom, identical md5."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.dedup_near import (
        substring_dedup_apply,
    )

    return substring_dedup_apply(
        load_table(spark, sf_dir, "documents"), min_tokens=20
    )


ORACLE_SUBSTRING_APPLY = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
base AS (
  SELECT doc_id, t, len(t) - 20 + 1 AS npos FROM toks),
grams AS (
  SELECT doc_id, i AS pos, md5(array_to_string(t[i:i+19], ' ')) AS h
  FROM base, LATERAL (SELECT unnest(generate_series(1, npos)) AS i) g
  WHERE npos >= 1),
dup AS (
  SELECT h FROM (SELECT DISTINCT h, doc_id FROM grams)
  GROUP BY h HAVING COUNT(*) >= 2),
hits AS (
  SELECT doc_id, pos, h FROM grams WHERE h IN (SELECT h FROM dup)),
runs AS (
  SELECT doc_id, pos, h,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM hits),
spans AS (
  SELECT doc_id,
         CAST(MIN(pos) AS BIGINT) AS span_start,
         CAST(MAX(pos) + 19 AS BIGINT) AS span_end,
         (min({'p': pos, 'h': h})).h AS h0
  FROM runs GROUP BY doc_id, grp),
keep1 AS (
  SELECT h0, min({'d': doc_id, 's': span_start}) AS k
  FROM spans GROUP BY h0),
decided AS (
  SELECT s.doc_id, s.span_start, s.span_end,
         NOT (s.doc_id = (k).d AND s.span_start = (k).s) AS removed
  FROM spans s JOIN keep1 USING (h0)),
cutagg AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_spans_removed,
         CAST(SUM(span_end - span_start + 1) AS BIGINT) AS n_tokens_removed
  FROM decided WHERE removed GROUP BY doc_id),
cutpos AS (
  SELECT doc_id, unnest(generate_series(span_start, span_end)) AS i
  FROM decided WHERE removed),
tokpos AS (
  SELECT doc_id, i, t[i] AS tok
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t))) AS i) g),
keptagg AS (
  SELECT tp.doc_id, md5(string_agg(tp.tok, ' ' ORDER BY tp.i)) AS kept_md5
  FROM tokpos tp
  WHERE NOT EXISTS (SELECT 1 FROM cutpos c
                    WHERE c.doc_id = tp.doc_id AND c.i = tp.i)
  GROUP BY tp.doc_id)
SELECT t.doc_id,
       CAST(len(t.t) AS BIGINT) AS n_tokens,
       CAST(COALESCE(ca.n_spans_removed, 0) AS BIGINT) AS n_spans_removed,
       CAST(COALESCE(ca.n_tokens_removed, 0) AS BIGINT) AS n_tokens_removed,
       CAST(len(t.t) - COALESCE(ca.n_tokens_removed, 0) AS BIGINT)
         AS n_tokens_kept,
       k.kept_md5
FROM toks t
LEFT JOIN cutagg ca USING (doc_id)
LEFT JOIN keptagg k USING (doc_id)
"""

QUERIES["substring_dedup_apply"] = q_substring_dedup_apply
ORACLES["substring_dedup_apply"] = ORACLE_SUBSTRING_APPLY


def q_substring_dedup_apply_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Token-exact ExactSubstr cut
    (operators.dedup_near.substring_dedup_apply_exact — Lee et al.
    2022's keep-one-copy semantics): spans and span representatives as
    in substring_dedup_apply, but inside REMOVED spans any position
    covered by a gram-representative occurrence (corpus-min (doc, pos)
    of a duplicated 20-gram's md5) is rescued, so every duplicated
    gram keeps ≥1 contiguous verbatim copy and removals are a provable
    subset of the run-granular policy's. Map-only rewrite on the Spark
    side (removed spans + merged protected intervals ride struct
    arrays onto the doc row); the DuckDB oracle rebuilds the same kept
    text via exploded positions with an EXISTS rescue clause —
    identical md5 certificates."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.dedup_near import (
        substring_dedup_apply_exact,
    )

    return substring_dedup_apply_exact(
        load_table(spark, sf_dir, "documents"), min_tokens=20
    )


ORACLE_SUBSTRING_APPLY_EXACT = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
base AS (
  SELECT doc_id, t, len(t) - 20 + 1 AS npos FROM toks),
grams AS (
  SELECT doc_id, i AS pos, md5(array_to_string(t[i:i+19], ' ')) AS h
  FROM base, LATERAL (SELECT unnest(generate_series(1, npos)) AS i) g
  WHERE npos >= 1),
dup AS (
  SELECT h FROM (SELECT DISTINCT h, doc_id FROM grams)
  GROUP BY h HAVING COUNT(*) >= 2),
hits AS (
  SELECT doc_id, pos, h FROM grams WHERE h IN (SELECT h FROM dup)),
runs AS (
  SELECT doc_id, pos, h,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM hits),
spans AS (
  SELECT doc_id,
         CAST(MIN(pos) AS BIGINT) AS span_start,
         CAST(MAX(pos) + 19 AS BIGINT) AS span_end,
         (min({'p': pos, 'h': h})).h AS h0
  FROM runs GROUP BY doc_id, grp),
keep1 AS (
  SELECT h0, min({'d': doc_id, 's': span_start}) AS k
  FROM spans GROUP BY h0),
decided AS (
  SELECT s.doc_id, s.span_start, s.span_end,
         NOT (s.doc_id = (k).d AND s.span_start = (k).s) AS removed
  FROM spans s JOIN keep1 USING (h0)),
cutagg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans_removed
  FROM decided WHERE removed GROUP BY doc_id),
reps AS (
  SELECT min({'d': doc_id, 'p': pos}) AS r FROM hits GROUP BY h),
prot AS (
  SELECT (r).d AS doc_id, (r).p AS ps, (r).p + 19 AS pe FROM reps),
cutpos AS (
  SELECT doc_id, unnest(generate_series(span_start, span_end)) AS i
  FROM decided WHERE removed),
exactcut AS (
  SELECT c.doc_id, c.i,
         EXISTS (SELECT 1 FROM prot p
                 WHERE p.doc_id = c.doc_id AND c.i BETWEEN p.ps AND p.pe)
           AS rescued
  FROM cutpos c),
exagg AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN rescued THEN 0 ELSE 1 END) AS BIGINT)
           AS n_tokens_removed,
         CAST(SUM(CASE WHEN rescued THEN 1 ELSE 0 END) AS BIGINT)
           AS n_tokens_rescued
  FROM exactcut GROUP BY doc_id),
tokpos AS (
  SELECT doc_id, i, t[i] AS tok
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t))) AS i) g),
keptagg AS (
  SELECT tp.doc_id, md5(string_agg(tp.tok, ' ' ORDER BY tp.i)) AS kept_md5
  FROM tokpos tp
  WHERE NOT EXISTS (SELECT 1 FROM exactcut c
                    WHERE c.doc_id = tp.doc_id AND c.i = tp.i
                      AND NOT c.rescued)
  GROUP BY tp.doc_id)
SELECT t.doc_id,
       CAST(len(t.t) AS BIGINT) AS n_tokens,
       CAST(COALESCE(ca.n_spans_removed, 0) AS BIGINT) AS n_spans_removed,
       CAST(COALESCE(ea.n_tokens_removed, 0) AS BIGINT) AS n_tokens_removed,
       CAST(COALESCE(ea.n_tokens_rescued, 0) AS BIGINT) AS n_tokens_rescued,
       CAST(len(t.t) - COALESCE(ea.n_tokens_removed, 0) AS BIGINT)
         AS n_tokens_kept,
       k.kept_md5
FROM toks t
LEFT JOIN cutagg ca USING (doc_id)
LEFT JOIN exagg ea USING (doc_id)
LEFT JOIN keptagg k USING (doc_id)
"""

QUERIES["substring_dedup_apply_exact"] = q_substring_dedup_apply_exact
ORACLES["substring_dedup_apply_exact"] = ORACLE_SUBSTRING_APPLY_EXACT


def q_contamination_span_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-granular decontamination measurement
    (operators.decontaminate.contamination_spans — the GPT-3
    appendix-C longest-collision metric): the held-out benchmark is
    the deterministic doc_id % 7 == 0 slice; for every corpus doc
    colliding with it on a verbatim ≥8-token span, the longest such
    span (diagonal-run scan over positional 8-gram md5 matches), the
    benchmark doc achieving it (total-order argmax: span desc, bench
    doc asc), and the count of colliding benchmark docs. The
    span-length complement of `decontamination_flags`' shared-gram
    count — one verbatim quote outweighs many scattered grams."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.decontaminate import (
        contamination_spans,
    )

    d = load_table(spark, sf_dir, "documents")
    return contamination_spans(
        d.filter(F.col("doc_id") % 7 != 0),
        d.filter(F.col("doc_id") % 7 == 0),
        min_tokens=8,
    )


ORACLE_CONTAMINATION_SPANS = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
c AS (SELECT doc_id AS cd, t FROM toks WHERE doc_id % 7 != 0),
b AS (SELECT doc_id AS bd, t FROM toks WHERE doc_id % 7 = 0),
cg AS (
  SELECT cd, i AS cp, md5(array_to_string(t[i:i+7], ' ')) AS h
  FROM c, LATERAL (SELECT unnest(generate_series(1, len(t) - 7)) AS i) g
  WHERE len(t) >= 8),
bg AS (
  SELECT bd, i AS bp, md5(array_to_string(t[i:i+7], ' ')) AS h
  FROM b, LATERAL (SELECT unnest(generate_series(1, len(t) - 7)) AS i) g
  WHERE len(t) >= 8),
bkeep AS (SELECT h FROM bg GROUP BY h HAVING COUNT(*) <= 20),
bg2 AS (SELECT * FROM bg WHERE h IN (SELECT h FROM bkeep)),
pairs AS (
  SELECT cd, bd, cp, cp - bp AS diag FROM cg JOIN bg2 USING (h)),
runs AS (
  SELECT cd, bd, diag, cp,
         cp - row_number() OVER (PARTITION BY cd, bd, diag ORDER BY cp)
           AS grp
  FROM pairs),
spans AS (
  SELECT cd, bd, MAX(cp) - MIN(cp) + 8 AS span
  FROM runs GROUP BY cd, bd, diag, grp),
pair_best AS (
  SELECT cd, bd, CAST(MAX(span) AS BIGINT) AS best_span
  FROM spans GROUP BY cd, bd)
SELECT cd AS doc_id,
       CAST(MAX(best_span) AS BIGINT) AS longest_span_tokens,
       CAST((min({'s': -best_span, 'd': bd})).d AS BIGINT)
         AS best_bench_doc,
       CAST(COUNT(*) AS BIGINT) AS n_bench_docs
FROM pair_best GROUP BY cd
"""

QUERIES["contamination_span_report"] = q_contamination_span_report
ORACLES["contamination_span_report"] = ORACLE_CONTAMINATION_SPANS


def q_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order baskets: directional
    A→B rules with support ≥ 3 co-purchases, scored by confidence
    (co/n_A) and lift (N·co / (n_A·n_B)) — the classic recommender /
    cross-sell miner. Pair generation is bounded by the BASKET (≤7
    lineitems per order ⇒ ≤42 directed pairs), never the catalog; one
    pair aggregate + two UNHINTED degree joins (|parts|-proportional —
    planner's call, r11 audit) + a 1-row basket-count broadcast.
    Exact BIGINT counts end-to-end; the two scores are
    single divisions, 6dp. Top-20 rules by (lift, confidence, A, B)
    total order via TakeOrderedAndProject."""
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = l.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("ante"))
    b = l.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("cons"))
    co = (
        a.join(b, "o")
        .filter(F.col("ante") != F.col("cons"))
        .groupBy("ante", "cons")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .where(F.col("support") >= 3)
    )
    deg = l.groupBy(F.col("l_partkey").alias("p")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    n_baskets = l.select(F.countDistinct("l_orderkey").cast("long").alias("_nb"))
    scored = (
        co.join(
            deg.withColumnRenamed("p", "ante").withColumnRenamed("n", "_na"),
            "ante",
        )
        .join(
            deg.withColumnRenamed("p", "cons").withColumnRenamed("n", "_nc"),
            "cons",
        )
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "ante",
            "cons",
            "support",
            F.round(F.col("support") / F.col("_na").cast("double"), 6).alias(
                "confidence"
            ),
            F.round(
                (F.col("support").cast("double") * F.col("_nb"))
                / (F.col("_na").cast("double") * F.col("_nc")),
                6,
            ).alias("lift"),
        )
    )
    return scored.orderBy(
        F.col("lift").desc(),
        F.col("confidence").desc(),
        F.col("ante").asc(),
        F.col("cons").asc(),
    ).limit(20)


ORACLE_ASSOCIATION_RULES = """
WITH l AS (SELECT l_orderkey AS o, l_partkey AS p FROM lineitem),
nb AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n_baskets FROM l),
co AS (
  SELECT a.p AS ante, b.p AS cons, CAST(COUNT(*) AS BIGINT) AS support
  FROM l a JOIN l b ON a.o = b.o AND a.p != b.p
  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
deg AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS n FROM l GROUP BY 1)
SELECT ante, cons, support,
       round(support / CAST(da.n AS DOUBLE), 6) AS confidence,
       round((CAST(support AS DOUBLE) * n_baskets)
             / (CAST(da.n AS DOUBLE) * dc.n), 6) AS lift
FROM co JOIN deg da ON co.ante = da.p
JOIN deg dc ON co.cons = dc.p
CROSS JOIN nb
ORDER BY lift DESC, confidence DESC, ante ASC, cons ASC LIMIT 20
"""

QUERIES["association_rules"] = q_association_rules
ORACLES["association_rules"] = ORACLE_ASSOCIATION_RULES


def q_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend estimate per event type: the MEDIAN of
    all pairwise slopes of the hourly-count series — one wild hour
    moves OLS arbitrarily, moves the slope median not at all (the
    robust sibling of hourly_value_regression). Slopes are held exact:
    (Δcount·10⁶) div Δhours with both engines truncating toward zero
    (Spark `div` == DuckDB `//`, including negatives — pinned here),
    so the median is a pure-integer percentile_disc/quantile_disc
    (verified element-identical semantics), never a float. Pair count
    is O(hours²) per type — bounded by the TIME RANGE of the series,
    not by data volume: at 100 TB the hourly table is still
    |types × hours|."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type",
        (F.unix_micros(F.col("ts").cast("timestamp")) / 3_600_000_000)
        .cast("long")
        .alias("h"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    h1 = hourly.select(
        "event_type", F.col("h").alias("h1"), F.col("c").alias("c1")
    ).alias("p1")
    h2 = hourly.select(
        F.col("event_type").alias("et2"),
        F.col("h").alias("h2"),
        F.col("c").alias("c2"),
    ).alias("p2")
    slopes = h1.join(
        h2,
        (F.col("event_type") == F.col("et2")) & (F.col("h1") < F.col("h2")),
    ).select(
        "event_type",
        F.expr("((c2 - c1) * 1000000) div (h2 - h1)").alias("_sq"),
    )
    slopes.createOrReplaceTempView("_ts_slopes")
    return spark.sql("""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY _sq) AS BIGINT)
         AS slope_per_hour_ppm
FROM _ts_slopes GROUP BY event_type
""")


ORACLE_THEIL_SEN = """
WITH hourly AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS h,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2),
slopes AS (
  SELECT a.event_type, ((b.c - a.c) * 1000000) // (b.h - a.h) AS sq
  FROM hourly a JOIN hourly b
    ON a.event_type = b.event_type AND a.h < b.h)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(quantile_disc(sq, 0.5) AS BIGINT) AS slope_per_hour_ppm
FROM slopes GROUP BY event_type
"""

QUERIES["theil_sen_trend"] = q_theil_sen_trend
ORACLES["theil_sen_trend"] = ORACLE_THEIL_SEN


def q_incremental_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN-view maintenance — the delta algebra
    Δ(O ⋈ C) = ΔO⋈C ∪ O⋈ΔC ∪ ΔO⋈ΔC applied to a revenue-per-segment
    join view (the join generalization of incremental_rollup_cdc's
    aggregate-only maintenance). Spark side: the base view's state is
    the big O_base⋈C_base rollup computed ONCE; the refresh applies
    the three delta terms, each a join where at least one side is a
    small delta — UNHINTED (r11 audit): this test fixture's delta is a
    fixed FRACTION of the table, so a broadcast hint would grow with
    SF; in production deltas are batch-bounded and the planner
    auto-broadcasts them per refresh, falling back safely on the
    occasional backfill-sized delta. At 100 TB the refresh never
    re-touches base⋈base either way. The final view must equal a full recompute over the
    full tables, which is exactly what the oracle runs — the IVM
    correctness check, not a restatement of the plan. Exact cents."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("_c"),
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    ob = o.where(F.col("o_orderkey") % 7 != 0)
    do = o.where(F.col("o_orderkey") % 7 == 0)
    cb = c.where(F.col("c_custkey") % 11 != 0)
    dc = c.where(F.col("c_custkey") % 11 == 0)

    def rollup(orders, custs):
        side = custs
        return (
            orders.join(side, orders["o_custkey"] == side["c_custkey"])
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("_c").cast("long").alias("s"),
            )
        )

    base = rollup(ob, cb)  # the materialized view state (one big join)
    terms = [
        rollup(do, cb),  # ΔO ⋈ C_base  (delta orders — small left side)
        rollup(ob, dc),  # O_base ⋈ ΔC
        rollup(do, dc),  # ΔO ⋈ ΔC
    ]
    merged = base
    for t in terms:
        merged = merged.unionAll(t)
    return (
        merged.groupBy("c_mktsegment")
        .agg(
            F.sum("n").cast("long").alias("n_orders"),
            F.sum("s").cast("long").alias("_cents"),
        )
        .select(
            "c_mktsegment",
            "n_orders",
            (F.col("_cents") / 100.0).alias("total_revenue"),
        )
    )


ORACLE_IJM = """
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0
         AS total_revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""

QUERIES["incremental_join_maintenance"] = q_incremental_join_maintenance
ORACLES["incremental_join_maintenance"] = ORACLE_IJM


def q_touch_attribution_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch vs last-touch attribution: for every purchase, the
    earliest and latest click of the same user inside the 30-minute
    lookback window — the marketing-credit split the one-row-per-match
    joins can't express. Candidates come from a 30-minute TIME-BUCKET
    join (purchase bucket b joins click buckets {b−1, b}, so a click
    is never compared against the whole purchase table); first/last
    are deterministic struct-min/max argmins with the click id as the
    total-order tiebreak (Spark struct ordering == DuckDB ROW
    ordering, lexicographic — pinned by this oracle)."""
    e = load_table(spark, sf_dir, "events")
    base = e.select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("_tus"),
    )
    bucket_us = 1_800_000_000
    p = base.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("_pu"),
        F.col("_tus").alias("_pt"),
        F.explode(
            F.array(
                F.expr(f"_tus div {bucket_us} - 1"),
                F.expr(f"_tus div {bucket_us}"),
            )
        ).alias("_b"),
    )
    k = base.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("_cid"),
        F.col("user_id").alias("_cu"),
        F.col("_tus").alias("_ct"),
        F.expr(f"_tus div {bucket_us}").alias("_b"),
    )
    cand = p.join(k, ["_b"]).where(
        (F.col("_pu") == F.col("_cu"))
        & (F.col("_ct") <= F.col("_pt"))
        & (F.col("_ct") > F.col("_pt") - bucket_us)
    )
    return (
        cand.groupBy("purchase_id")
        .agg(
            F.countDistinct("_cid").cast("long").alias("n_touches"),
            F.min(F.struct(F.col("_ct"), F.col("_cid"))).alias("_f"),
            F.max(F.struct(F.col("_ct"), F.col("_cid"))).alias("_l"),
        )
        .select(
            "purchase_id",
            "n_touches",
            F.col("_f._cid").alias("first_click_id"),
            F.col("_l._cid").alias("last_click_id"),
        )
    )


ORACLE_TOUCH_ATTRIBUTION = """
WITH base AS (
  SELECT event_id, user_id, event_type, epoch_us(ts) AS tus FROM events),
p AS (SELECT event_id AS purchase_id, user_id, tus FROM base
      WHERE event_type = 'purchase'),
k AS (SELECT event_id AS cid, user_id, tus FROM base
      WHERE event_type = 'click'),
cand AS (
  SELECT p.purchase_id, k.cid, k.tus AS ct
  FROM p JOIN k ON p.user_id = k.user_id
   AND k.tus <= p.tus AND k.tus > p.tus - 1800000000)
SELECT purchase_id,
       CAST(COUNT(DISTINCT cid) AS BIGINT) AS n_touches,
       (min({'t': ct, 'i': cid})).i AS first_click_id,
       (max({'t': ct, 'i': cid})).i AS last_click_id
FROM cand GROUP BY purchase_id
"""

QUERIES["touch_attribution_split"] = q_touch_attribution_split
ORACLES["touch_attribution_split"] = ORACLE_TOUCH_ATTRIBUTION


def q_kmv_sketch_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values / theta) distinct sketches, ENGINE-EXACT:
    the estimator the repo's HLL notes warn is NOT oracle-able when the
    library owns the hash becomes exactly reproducible when the sketch
    is built from first principles — retained set = the k smallest
    md5-derived 60-bit hashes of distinct users (a deterministic SET,
    order-independent by construction), estimate = (k−1)·2⁶⁰ / h_k,
    sketches ≤ k rows and MERGEABLE (union = k smallest of the merged
    retained sets — how 1000 executors estimate a global distinct
    without moving users). Per-type retention runs through
    grouped_rank (never a 5-partition fact window); hex→int via
    Spark conv == DuckDB '0x'-cast, 15 hex chars (60 bits, exact in
    BIGINT on both engines — parity pinned in tests). Output compares
    click/purchase estimates and their inclusion–exclusion overlap
    against exact truth; sketches shorter than k are exact by rule."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.windows import (
        grouped_rank,
    )

    K = 64
    SPACE = float(1 << 60)
    e = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    )
    du = e.select("event_type", "user_id").distinct()
    hashed = du.select(
        "event_type",
        "user_id",
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("kmv:"), F.col("user_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("h"),
    )
    retained = grouped_rank(hashed, ["event_type"], ["h"], "_r").where(
        F.col("_r") <= K
    )

    def est(n_col, hk_col):
        # sketch shorter than k => exact; else (k-1)*2^60 / h_k
        return F.when(F.col(n_col) < K, F.col(n_col).cast("double")).otherwise(
            F.lit(float(K - 1)) * F.lit(SPACE) / F.col(hk_col)
        )

    per_type = retained.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_ret"),
        F.max("h").cast("double").alias("hk"),
    )
    a = per_type.where(F.col("event_type") == "click").select(
        F.col("n_ret").alias("_na"), F.col("hk").alias("_hka")
    )
    b = per_type.where(F.col("event_type") == "purchase").select(
        F.col("n_ret").alias("_nb"), F.col("hk").alias("_hkb")
    )
    # union sketch: k smallest of the merged retained hash SETS
    u = (
        retained.select("h")
        .distinct()
        .orderBy(F.col("h").asc())
        .limit(K)
        .agg(
            F.count(F.lit(1)).cast("long").alias("_nu"),
            F.max("h").cast("double").alias("_hku"),
        )
    )
    exact = (
        du.groupBy("user_id")
        .agg(
            F.max((F.col("event_type") == "click").cast("int")).alias("_c"),
            F.max((F.col("event_type") == "purchase").cast("int")).alias("_p"),
        )
        .agg(
            F.sum("_c").cast("long").alias("exact_click"),
            F.sum("_p").cast("long").alias("exact_purchase"),
            F.sum(F.col("_c") * F.col("_p")).cast("long").alias("exact_overlap"),
        )
    )
    est_a, est_b = est("_na", "_hka"), est("_nb", "_hkb")
    est_u = est("_nu", "_hku")
    return (
        exact.crossJoin(F.broadcast(a))
        .crossJoin(F.broadcast(b))
        .crossJoin(F.broadcast(u))
        .select(
            F.lit(K).cast("long").alias("k"),
            "exact_click",
            "exact_purchase",
            "exact_overlap",
            F.round(est_a, 6).alias("est_click"),
            F.round(est_b, 6).alias("est_purchase"),
            F.round(est_a + est_b - est_u, 6).alias("est_overlap"),
        )
    )


ORACLE_KMV_OVERLAP = """
WITH du AS (
  SELECT DISTINCT event_type, user_id FROM events
  WHERE event_type IN ('click', 'purchase')),
hashed AS (
  SELECT event_type, user_id,
         ('0x' || substr(md5('kmv:' || user_id), 1, 15))::BIGINT AS h
  FROM du),
ranked AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h ASC) AS r
  FROM hashed),
retained AS (SELECT event_type, h FROM ranked WHERE r <= 64),
per_type AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_ret,
         CAST(MAX(h) AS DOUBLE) AS hk
  FROM retained GROUP BY 1),
uni AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nu, CAST(MAX(h) AS DOUBLE) AS hku
  FROM (SELECT DISTINCT h FROM retained ORDER BY h ASC LIMIT 64)),
exact AS (
  SELECT CAST(count_if(c > 0) AS BIGINT) AS exact_click,
         CAST(count_if(p > 0) AS BIGINT) AS exact_purchase,
         CAST(count_if(c > 0 AND p > 0) AS BIGINT) AS exact_overlap
  FROM (SELECT user_id,
               MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
        FROM du GROUP BY user_id)),
ests AS (
  SELECT
    (SELECT CASE WHEN n_ret < 64 THEN CAST(n_ret AS DOUBLE)
                 ELSE 63.0 * 1152921504606846976.0 / hk END
     FROM per_type WHERE event_type = 'click') AS ea,
    (SELECT CASE WHEN n_ret < 64 THEN CAST(n_ret AS DOUBLE)
                 ELSE 63.0 * 1152921504606846976.0 / hk END
     FROM per_type WHERE event_type = 'purchase') AS eb,
    (SELECT CASE WHEN nu < 64 THEN CAST(nu AS DOUBLE)
                 ELSE 63.0 * 1152921504606846976.0 / hku END
     FROM uni) AS eu)
SELECT CAST(64 AS BIGINT) AS k,
       exact_click, exact_purchase, exact_overlap,
       round(ea, 6) AS est_click,
       round(eb, 6) AS est_purchase,
       round(ea + eb - eu, 6) AS est_overlap
FROM exact CROSS JOIN ests
"""

QUERIES["kmv_sketch_overlap"] = q_kmv_sketch_overlap
ORACLES["kmv_sketch_overlap"] = ORACLE_KMV_OVERLAP


def q_grouped_value_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-type user quartiles by exact cents spend — NTILE(4) OVER
    (PARTITION BY event_type ...) semantics WITHOUT the partitioned
    window: event_type has ~5 distinct values, so the window form is a
    handful of fact-sized single-task sorts at 100× (the round-8
    perf-weak class). operators.windows.grouped_ntile_exact instead
    range-sorts the composite (type, spend, user) key via grouped_rank
    and broadcasts |groups|-row totals back. Per (type, quartile):
    user count + exact revenue share. The oracle IS the window form —
    rank/bucket assignments must match it exactly."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.windows import (
        grouped_ntile_exact,
    )

    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("event_type", "user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("_cents")
    )
    binned = grouped_ntile_exact(
        per_user, ["event_type"], ["_cents", "user_id"], 4, bucket_col="quartile"
    )
    grp = binned.groupBy("event_type", "quartile").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("_cents").cast("long").alias("_qc"),
    )
    tot = binned.groupBy(F.col("event_type").alias("_et")).agg(
        F.sum("_cents").cast("long").alias("_tc")
    )
    return grp.join(
        F.broadcast(tot), grp["event_type"] == tot["_et"]
    ).select(
        "event_type",
        "quartile",
        "n_users",
        (F.col("_qc") / 100.0).alias("quartile_value"),
        F.round(F.col("_qc") / F.col("_tc").cast("double"), 6).alias(
            "value_share"
        ),
    )


ORACLE_GROUPED_QUARTILES = """
WITH per_user AS (
  SELECT event_type, user_id,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2),
binned AS (
  SELECT event_type, cents,
         CAST(ntile(4) OVER (PARTITION BY event_type
              ORDER BY cents ASC, user_id ASC) AS BIGINT) AS quartile
  FROM per_user),
grp AS (
  SELECT event_type, quartile, CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(cents) AS BIGINT) AS qc
  FROM binned GROUP BY 1, 2),
tot AS (SELECT event_type, CAST(SUM(cents) AS BIGINT) AS tc
        FROM per_user GROUP BY 1)
SELECT g.event_type, quartile, n_users,
       qc / 100.0 AS quartile_value,
       round(qc / CAST(tc AS DOUBLE), 6) AS value_share
FROM grp g JOIN tot t ON g.event_type = t.event_type
"""

QUERIES["grouped_value_quartiles"] = q_grouped_value_quartiles
ORACLES["grouped_value_quartiles"] = ORACLE_GROUPED_QUARTILES


def q_grouped_exact_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT median of the raw event values per event type — computed
    scale-safely. Spark's exact ``percentile()`` aggregate buffers
    every value of a group in one aggregation buffer (OOM at 100 TB
    group sizes), and the window-rank form is a low-cardinality
    partitioned sort (the round-8 perf-weak class). Here:
    grouped_rank over (type, cents, event_id) + a |groups|-row count
    broadcast, keep ranks ⌊(n+1)/2⌋ and ⌊(n+2)/2⌋, average — exact
    SQL median semantics with every task bounded by
    |data|/|partitions|. Ties are immaterial: ranks select by
    POSITION in the (cents, id) total order, and the median is a
    function of the sorted multiset. Oracle: quantile_cont(0.5), the
    same avg-of-middles rule."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.windows import (
        grouped_rank,
    )

    e = load_table(spark, sf_dir, "events")
    vals = e.select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("_cents"),
    )
    ranked = grouped_rank(vals, ["event_type"], ["_cents", "event_id"], "_r")
    counts = ranked.groupBy(F.col("event_type").alias("_et")).agg(
        F.count(F.lit(1)).cast("long").alias("_n")
    )
    mid = ranked.join(
        F.broadcast(counts), ranked["event_type"] == counts["_et"]
    ).where(
        (F.col("_r") == F.expr("(_n + 1) div 2"))
        | (F.col("_r") == F.expr("(_n + 2) div 2"))
    )
    return (
        mid.groupBy("event_type")
        .agg(
            F.max("_n").cast("long").alias("n_events"),
            F.round(F.avg(F.col("_cents")) / 100.0, 6).alias("median_value"),
        )
    )


ORACLE_GROUPED_MEDIAN = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       round(quantile_cont(CAST(round(value * 100) AS BIGINT), 0.5) / 100.0, 6)
         AS median_value
FROM events GROUP BY event_type
"""

QUERIES["grouped_exact_median"] = q_grouped_exact_median
ORACLES["grouped_exact_median"] = ORACLE_GROUPED_MEDIAN


def q_stream_restart_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream INNER interval join across a checkpoint RESTART
    (streaming.joins.restart_attribution_join) — the join-buffer twin
    of stream_restart_hourly: even-event_id events arrive first,
    matches emit eagerly, and the checkpoint persists BOTH sides' join
    state plus watermark W1; odd-event_id events then land, the query
    restarts, phase-2 rows at or below W1 are late-dropped on BOTH
    sides (the input filter is the GLOBAL watermark — strictly kept
    iff ts > W1, pinned empirically in tests/test_round9.py), and
    survivors match against the restored phase-1 buffers. The oracle's
    emission rule collapses to: every interval pair whose phase-2
    members all have ts > W1 — phase-1 state below W1 still matches
    (eviction points left_ts+horizon / right_ts make an evicted
    partner's matches inadmissible anyway, so eviction is subsumed).
    Aggregated per user into match counts + attributed value."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.joins import (
        restart_attribution_join,
    )

    e = load_table(spark, sf_dir, "events")
    out, _stats = restart_attribution_join(
        spark,
        phase1=e.filter(F.col("event_id") % 2 == 0),
        phase2=e.filter(F.col("event_id") % 2 != 0),
    )
    return (
        out.groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_matches"),
            _scaled_sum(F.col("right_value"), 10000, "attributed_value"),
        )
        .withColumnRenamed("k", "user_id")
    )


ORACLE_STREAM_RESTART_ATTRIBUTION = """
WITH l AS (
  SELECT user_id, event_id AS lid, ts AS lts, epoch_us(ts) AS ltus
  FROM events WHERE event_type = 'click'),
r AS (
  SELECT user_id, event_id AS rid, ts AS rts, epoch_us(ts) AS rtus,
         value AS rv
  FROM events WHERE event_type = 'purchase'),
w1 AS (
  SELECT least(
    (SELECT (epoch_us(max(ts)) // 1000) * 1000 FROM events
      WHERE event_type = 'click' AND event_id % 2 = 0),
    (SELECT (epoch_us(max(ts)) // 1000) * 1000 FROM events
      WHERE event_type = 'purchase' AND event_id % 2 = 0)) - 7200000000 AS v),
emitted AS (
  SELECT l.user_id, r.rv
  FROM l JOIN r
    ON l.user_id = r.user_id
   AND r.rts >= l.lts
   AND r.rts <= l.lts + INTERVAL 30 MINUTE
  CROSS JOIN w1
  WHERE (l.lid % 2 = 0 OR l.ltus > w1.v)
    AND (r.rid % 2 = 0 OR r.rtus > w1.v))
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_matches,
       CAST(SUM(CAST(round(rv * 10000) AS BIGINT)) AS BIGINT) / 10000.0
         AS attributed_value
FROM emitted GROUP BY user_id
"""

QUERIES["stream_restart_attribution"] = q_stream_restart_attribution
ORACLES["stream_restart_attribution"] = ORACLE_STREAM_RESTART_ATTRIBUTION


def q_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP higher-order-function surface (the map siblings of
    array_functions' lambda toolkit): per event type an hour→count MAP
    is built with map_from_entries over the SORTED entry list (sorted
    for deterministic construction; the map is built from the
    pre-aggregated |types × hours| table, never raw events), then
    transform_values, map_filter, map_zip_with, map_keys/map_values +
    aggregate reduce it back to scalars. The oracle computes the same
    facts relationally — content equality proves the map round-trip.
    All integers; one bounded collect_list per type."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type",
        (F.unix_micros(F.col("ts").cast("timestamp")) / 3_600_000_000)
        .cast("long")
        .alias("h"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    mapped = hourly.groupBy("event_type").agg(
        # bounded buffer: input is the PRE-AGGREGATED hourly table, so
        # one group holds ≤ |distinct hours in the window| entries —
        # time-domain-bounded, not event-volume-dependent
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct(F.col("h"), F.col("c"))))
        ).alias("m")
    )
    doubled = F.transform_values(F.col("m"), lambda _k, v: v * 2)
    busy = F.map_filter(F.col("m"), lambda _k, v: v >= 10)
    # map_zip_with over (m, busy): value kept only where both present
    both = F.map_zip_with(
        F.col("m"), busy, lambda _k, v1, v2: F.when(v2.isNotNull(), v1)
    )
    tot = lambda m: F.aggregate(  # noqa: E731
        F.map_values(m), F.lit(0).cast("long"),
        lambda acc, x: acc + F.coalesce(x, F.lit(0).cast("long")),
    )
    return mapped.select(
        "event_type",
        F.size(F.map_keys(F.col("m"))).cast("long").alias("n_hours"),
        F.size(busy).cast("long").alias("n_busy_hours"),
        tot(F.col("m")).alias("total_events"),
        tot(doubled).alias("doubled_total"),
        tot(both).alias("busy_events"),
        F.aggregate(
            F.map_keys(F.col("m")),
            F.lit(None).cast("long"),
            lambda acc, k: F.when(acc.isNull() | (k < acc), k).otherwise(acc),
        ).alias("first_hour"),
    )


ORACLE_MAP_FUNCTIONS = """
WITH hourly AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS h,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_hours,
       CAST(count_if(c >= 10) AS BIGINT) AS n_busy_hours,
       CAST(SUM(c) AS BIGINT) AS total_events,
       CAST(SUM(c * 2) AS BIGINT) AS doubled_total,
       CAST(SUM(CASE WHEN c >= 10 THEN c ELSE 0 END) AS BIGINT)
         AS busy_events,
       CAST(MIN(h) AS BIGINT) AS first_hour
FROM hourly GROUP BY event_type
"""

QUERIES["map_functions"] = q_map_functions
ORACLES["map_functions"] = ORACLE_MAP_FUNCTIONS


_RECURSIVE_CTE_SQL = """
WITH RECURSIVE tree(doc_id, depth) AS (
  SELECT doc_id, CAST(0 AS BIGINT) AS depth FROM documents WHERE doc_id = 0
  UNION ALL
  SELECT c.doc_id, t.depth + 1
  FROM documents c JOIN tree t
    ON c.doc_id >= t.doc_id * 4 + CASE WHEN t.doc_id = 0 THEN 1 ELSE 0 END
   AND c.doc_id <= t.doc_id * 4 + 3
)
SELECT depth,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS sum_ids
FROM tree GROUP BY depth
"""


def q_recursive_cte_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native WITH RECURSIVE (Spark 4's recursive CTE, SPARK-24497):
    depth labeling of the implicit 4-ary doc hierarchy (parent =
    doc_id div 4, encoded join-side as a multiplication range so the
    IDENTICAL SQL text runs on BOTH engines — no div/`//` dialect
    split). Each recursion step is one equi-range join; depth is
    log₄(N), so the iteration count is ~12 even at 100 TB doc counts.
    The repo's iterative-DataFrame recursions (recursive_doc_tree,
    recursive_ancestor_rollup) hand-manage the loop + localCheckpoint
    lineage cuts; this is the declarative engine-native counterpart
    the planner unrolls itself."""
    d = load_table(spark, sf_dir, "documents")
    d.select("doc_id").createOrReplaceTempView("documents")
    out = spark.sql(_RECURSIVE_CTE_SQL)
    spark.catalog.dropTempView("documents")
    return out


QUERIES["recursive_cte_depth"] = q_recursive_cte_depth
ORACLES["recursive_cte_depth"] = _RECURSIVE_CTE_SQL


def q_audio_signal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio content analysis over REAL container bytes
    (operators.multimodal.wav_audio_features): per doc a square-wave
    PCM16 WAV is synthesized (half-period/amplitude/length arithmetic
    in doc_id), the bytes cross the Arrow boundary, the RIFF chunks
    and PCM frames are parsed for real, and zero-crossing count / RMS
    amplitude / DC numerator are computed from the SAMPLES with numpy
    — the audio sibling of image_ahash_neardup. All-integer features
    (square-wave RMS is the amplitude; DC is Σ samples exactly); the
    oracle predicts each by closed-form arithmetic: h = 1+id%8,
    n = 400+id%100, A = 100·(1+id%50), zc = (n−1)//h, and the DC
    remainder term from the partial final half-period. Map-only
    end-to-end."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.multimodal import (
        wav_audio_features,
    )

    d = parallelize(load_table(spark, sf_dir, "documents").select("doc_id"))
    return wav_audio_features(d)


ORACLE_AUDIO_FEATURES = """
WITH p AS (
  SELECT doc_id,
         1 + doc_id % 8 AS h,
         100 * (1 + doc_id % 50) AS a,
         400 + doc_id % 100 AS n
  FROM documents)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_samples,
       CAST((n - 1) // h AS BIGINT) AS zero_crossings,
       CAST(a AS BIGINT) AS rms_amp,
       CAST(a * (least(n % (2 * h), h)
                 - greatest(n % (2 * h) - h, 0)) AS BIGINT) AS dc_numerator
FROM p
"""

QUERIES["audio_signal_features"] = q_audio_signal_features
ORACLES["audio_signal_features"] = ORACLE_AUDIO_FEATURES


def q_forecast_conformal_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction band for the seasonal-naive hourly
    forecaster (the distribution-free uncertainty wrapper every
    forecast ships with): calibration = even hour indices, evaluation
    = odd; the per-type band is the p90 of |actual − y(h−24)| on the
    calibration pairs, computed with grouped_percentile_exact over
    EXACT integer cents residuals (never the group-buffering
    percentile() aggregate); evaluation coverage is the fraction of
    eval pairs falling inside the band — conformal theory says ~0.9.
    Exact integers until the two output ratios; hour-index equi-joins
    only, no windows. Composes the round-9 primitive with the
    seasonal_naive_mase forecaster."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.windows import (
        grouped_percentile_exact,
    )

    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type",
        (F.unix_micros(F.col("ts").cast("timestamp")) / 3_600_000_000)
        .cast("long")
        .alias("h"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("c"))
    cur = hourly.alias("cur")
    seas = hourly.select(
        F.col("event_type").alias("s_type"),
        F.col("h").alias("s_h"),
        F.col("c").alias("s_c"),
    ).alias("seas")
    resid = cur.join(
        seas,
        (F.col("cur.event_type") == F.col("seas.s_type"))
        & (F.col("cur.h") == F.col("seas.s_h") + 24),
    ).select(
        "cur.event_type",
        "cur.h",
        F.abs(F.col("cur.c") - F.col("seas.s_c")).alias("_resid"),
    )
    calib = resid.where(F.col("h") % 2 == 0)
    eval_ = resid.where(F.col("h") % 2 != 0)
    band = grouped_percentile_exact(
        calib, ["event_type"], "_resid", "h", {"_band": 0.9}
    )
    cov = (
        eval_.join(F.broadcast(band), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_eval"),
            F.count_if(F.col("_resid") <= F.col("_band"))
            .cast("long")
            .alias("n_covered"),
        )
    )
    n_cal = calib.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_calib")
    )
    return (
        n_cal.join(F.broadcast(band), "event_type")
        .join(cov, "event_type")
        .select(
            "event_type",
            "n_calib",
            "n_eval",
            F.round(F.col("_band") / 100.0, 6).alias("band_width"),
            F.round(
                F.col("n_covered") / F.col("n_eval").cast("double"), 6
            ).alias("coverage"),
        )
    )


ORACLE_CONFORMAL_BAND = """
WITH hourly AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS h,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
  FROM events GROUP BY 1, 2),
resid AS (
  SELECT cur.event_type, cur.h, abs(cur.c - seas.c) AS r
  FROM hourly cur JOIN hourly seas
    ON cur.event_type = seas.event_type AND cur.h = seas.h + 24),
band AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_calib,
         quantile_cont(r, 0.9) AS b
  FROM resid WHERE h % 2 = 0 GROUP BY 1),
ev AS (
  SELECT resid.event_type, CAST(COUNT(*) AS BIGINT) AS n_eval,
         CAST(count_if(r <= b) AS BIGINT) AS n_covered
  FROM resid JOIN band USING (event_type)
  WHERE h % 2 != 0 GROUP BY 1)
SELECT event_type, n_calib, n_eval,
       round(b / 100.0, 6) AS band_width,
       round(n_covered / CAST(n_eval AS DOUBLE), 6) AS coverage
FROM band JOIN ev USING (event_type)
"""

QUERIES["forecast_conformal_band"] = q_forecast_conformal_band
ORACLES["forecast_conformal_band"] = ORACLE_CONFORMAL_BAND


def q_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of (nonnegative-clamped) customer balances per
    nation — the concentration metric behind every "top-x% hold y%"
    report, computed EXACTLY from the rank-sum identity
    G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx) over ascending-sorted cents.
    Ranks come from grouped_rank (nationkey is a 25-value key — the
    window form is the low-cardinality partitioned sort the r9
    detector flags); Σ i·x and the numerator are formed in
    DECIMAL(38,0) / HUGEINT (the r9 exact-moments discipline), ONE
    division to double at the end. Ties are immaterial: within equal
    x, Σ i·x over a tie block is rank-permutation-invariant."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.windows import (
        grouped_rank,
    )

    c = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_custkey",
        F.round(F.greatest(F.col("c_acctbal"), F.lit(0.0)) * 100)
        .cast("long")
        .alias("_cents"),
    )
    ranked = grouped_rank(c, ["c_nationkey"], ["_cents", "c_custkey"], "_i")
    d = lambda col: F.col(col).cast("decimal(19,0)")  # noqa: E731
    mom = ranked.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("_cents").cast("long").alias("_sx"),
        F.sum(d("_i") * d("_cents")).alias("_six"),
    )
    num = (
        F.lit(2).cast("decimal(19,0)") * F.col("_six")
        - (d("n_customers") + 1) * d("_sx")
    )
    den = d("n_customers") * d("_sx")
    return mom.select(
        "c_nationkey",
        "n_customers",
        (F.col("_sx") / 100.0).alias("total_balance"),
        F.round(num.cast("double") / den.cast("double"), 6).alias("gini"),
    )


ORACLE_GINI = """
WITH c AS (
  SELECT c_nationkey, c_custkey,
         CAST(round(greatest(c_acctbal, 0.0) * 100) AS BIGINT) AS cents
  FROM customer),
ranked AS (
  SELECT c_nationkey, cents,
         CAST(row_number() OVER (PARTITION BY c_nationkey
              ORDER BY cents ASC, c_custkey ASC) AS BIGINT) AS i
  FROM c),
mom AS (
  SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_customers,
         CAST(SUM(cents) AS BIGINT) AS sx,
         SUM(CAST(i AS HUGEINT) * cents) AS six
  FROM ranked GROUP BY 1)
SELECT c_nationkey, n_customers,
       sx / 100.0 AS total_balance,
       round(CAST(2 * six - (CAST(n_customers AS HUGEINT) + 1) * sx AS DOUBLE)
             / CAST(CAST(n_customers AS HUGEINT) * sx AS DOUBLE), 6) AS gini
FROM mom
"""

QUERIES["gini_concentration"] = q_gini_concentration
ORACLES["gini_concentration"] = ORACLE_GINI


def q_stream_restart_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows across a checkpoint RESTART
    (streaming.windowed.restart_session_windows) — the third stateful
    family restarted (aggregates: stream_restart_hourly; joins:
    stream_restart_attribution). Even-event_id events sessionize
    first: sessions with end ≤ W1 emit AND EVICT; open sessions
    persist in the checkpoint. Odd-id events then land: a row is
    admitted iff ts + gap > W1 (strict, the SESSION end is what the
    late filter tests — boundary-pinned in tests/test_round9.py),
    admitted rows merge with restored OPEN sessions (sessions
    genuinely spanning the restart) but can never re-merge with an
    emitted one — the stream emits TWO sessions where batch
    sessionization finds one, and the oracle models exactly that:
    phase-1 islands cut at W1, then interval-merge of open sessions
    with admitted phase-2 points, final cut end ≤ W2."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.windowed import (
        restart_session_windows,
    )

    e = load_table(spark, sf_dir, "events")
    out, _stats = restart_session_windows(
        spark,
        phase1=e.filter(F.col("event_id") % 2 == 0),
        phase2=e.filter(F.col("event_id") % 2 != 0),
        gap="30 minutes",
        lateness="1 hour",
    )
    return out.select(
        "user_id",
        epoch_us("session_start").alias("session_start_us"),
        epoch_us("session_end").alias("session_end_us"),
        "n_events",
    )


# Two-phase session-emission replay. Gap 30 min (1.8e9 us), lateness
# 1 h (3.6e9 us); W1/W2 ms-truncated (session-oracle convention).
# Islands twice: phase-1 points; then open phase-1 SESSIONS as
# intervals ∪ admitted phase-2 points, merged by the running-max-end
# rule (merge iff start < chain end).
ORACLE_STREAM_RESTART_SESSIONS = """
WITH p1 AS (
  SELECT user_id, epoch_us(ts) AS tus FROM events WHERE event_id % 2 = 0),
p2 AS (
  SELECT user_id, epoch_us(ts) AS tus FROM events WHERE event_id % 2 = 1),
w1 AS (SELECT (MAX(tus) // 1000) * 1000 - 3600000000 AS v FROM p1),
w2 AS (
  SELECT (epoch_us(MAX(ts)) // 1000) * 1000 - 3600000000 AS v FROM events),
s1 AS (
  SELECT user_id, tus,
         CASE WHEN tus - lag(tus) OVER
              (PARTITION BY user_id ORDER BY tus ASC) >= 1800000000
              THEN 1 ELSE 0 END AS brk
  FROM p1),
g1 AS (
  SELECT user_id, tus,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY tus ASC
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM s1),
sess1 AS (
  SELECT user_id, sid, MIN(tus) AS start_us,
         MAX(tus) + 1800000000 AS end_us,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM g1 GROUP BY 1, 2),
emitted1 AS (
  SELECT user_id, start_us, end_us, n FROM sess1, w1 WHERE end_us <= w1.v),
elems AS (
  SELECT user_id, start_us, end_us, n FROM sess1, w1 WHERE end_us > w1.v
  UNION ALL
  SELECT user_id, tus AS start_us, tus + 1800000000 AS end_us,
         CAST(1 AS BIGINT) AS n
  FROM p2, w1 WHERE tus + 1800000000 > w1.v),
m AS (
  SELECT user_id, start_us, end_us, n,
         CASE WHEN start_us >= MAX(end_us) OVER
              (PARTITION BY user_id ORDER BY start_us ASC, end_us ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS brk
  FROM elems),
g2 AS (
  SELECT user_id, start_us, end_us, n,
         SUM(brk) OVER (PARTITION BY user_id
                        ORDER BY start_us ASC, end_us ASC
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM m),
sess2 AS (
  SELECT user_id, sid, MIN(start_us) AS start_us, MAX(end_us) AS end_us,
         CAST(SUM(n) AS BIGINT) AS n
  FROM g2 GROUP BY 1, 2),
emitted2 AS (
  SELECT user_id, start_us, end_us, n FROM sess2, w2 WHERE end_us <= w2.v)
SELECT user_id, start_us AS session_start_us, end_us AS session_end_us,
       n AS n_events
FROM (SELECT * FROM emitted1 UNION ALL SELECT * FROM emitted2)
"""

QUERIES["stream_restart_sessions"] = q_stream_restart_sessions
ORACLES["stream_restart_sessions"] = ORACLE_STREAM_RESTART_SESSIONS


def q_stream_restart_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup state across a checkpoint RESTART — the fourth
    stateful family restarted (streaming.windowed.restart_stream_dedup):
    phase 1 processes the even-event_id rows through
    dropDuplicatesWithinWatermark(event_id); phase 2 REDELIVERS the
    whole table (every even row again — the crash-redelivery scenario
    — plus the odd rows). Pinned semantics: phase-2 admission is
    strictly ts > W1; a key's state lives until its FIRST occurrence's
    ts + delay falls at or below the watermark (duplicates do NOT
    extend expiry, and with event_id keys first-ts is deterministic —
    multi-timestamp keys would make the stored expiry
    partition-order-dependent, the documented reason this query keys
    on event_id); an admitted redelivery always satisfies
    ts + delay > W1, so effectively-once SURVIVES the restart by
    construction. Emission set: all evens once + odds with ts > W1,
    exactly what the oracle counts per type."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.windowed import (
        restart_stream_dedup,
    )

    e = load_table(spark, sf_dir, "events")
    out, _stats = restart_stream_dedup(
        spark,
        phase1=e.filter(F.col("event_id") % 2 == 0),
        phase2=e,
        key_cols=["event_id", "event_type"],
        delay="1 hour",
    )
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_emitted"),
        F.countDistinct("event_id").cast("long").alias("n_distinct"),
    )


ORACLE_STREAM_RESTART_DEDUP = """
WITH w1 AS (
  SELECT (epoch_us(MAX(ts)) // 1000) * 1000 - 3600000000 AS v
  FROM events WHERE event_id % 2 = 0),
emitted AS (
  SELECT event_id, event_type FROM events WHERE event_id % 2 = 0
  UNION ALL
  SELECT event_id, event_type FROM events, w1
  WHERE event_id % 2 = 1 AND epoch_us(ts) > w1.v)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_emitted,
       CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct
FROM emitted GROUP BY event_type
"""

QUERIES["stream_restart_dedup"] = q_stream_restart_dedup
ORACLES["stream_restart_dedup"] = ORACLE_STREAM_RESTART_DEDUP


# --------------------------------- round 10: CDC merge end-to-end replay

def q_stream_cdc_merge_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's CDC daemon loop driver-oracled END-TO-END
    (streaming.cdc_merge.cdc_merge_replay): a three-phase deterministic
    micro-batch replay exercising, in ONE stream, every T1–T3 path —
    insert (with within-batch duplicate collapse and FK-orphan DLQ),
    update-to-existing (LWW collapse incl. two updates to one key in
    one batch), update-to-missing (upsert), cross-batch update override
    through the restored target state, delete (no-op by design,
    reference README.md:15), and unknown-op poison events → DLQ
    (vs the reference's os._exit(1),
    src/process_insert_update_weather_data.py:166-187).

    Event construction is a pure function of the events table
    (event_id < 400, so identical at every SF — the replay cost is
    constant while the semantics stay cross-batch real):
      - i % 4 == 0  → phase-1 insert of key w{i}, temp = i; ids with
        i % 20 == 0 are emitted twice (identical docs — the any-winner
        within-batch dedup stays deterministic)
      - i % 4 == 1  → phase-2 update of key w{i-1}, temp = i+100; ids
        with i % 8 == 1 emit a SECOND later update temp = i+200 (LWW)
      - i % 4 == 2  → phase-2 update of MISSING key w{i} (upsert),
        temp = i+500
      - i % 4 == 3  → phase-2 delete of key w{i-3} (no-op)
      - i % 40 == 3 → phase-2 unknown op 'op_{i}' (poison → DLQ)
      - i % 8 == 5  → phase-3 update of key w{i-1}, temp = i+1000
        (overrides the phase-2 state RESTORED from the target table)
    place_id = 'p' || (user_id % 8); the places dim holds p0..p5, so
    user_id % 8 ∈ {6,7} rows are FK orphans on every path. All temps
    are integer-valued doubles (exact through parquet/JSON roundtrips).

    Output: the final fact state plus both dead-letter sinks as
    (kind, id, place_id, temp_c) rows."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.schemas import (
        LOCATION,
        PLACES_DIM,
        WEATHER_RAW,
    )
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.cdc_merge import (
        cdc_merge_replay,
    )

    e = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_id") < 400)
        .select("event_id", "user_id", F.col("ts").cast("timestamp").alias("ts"))
    )
    eid = F.col("event_id")
    place = F.concat(F.lit("p"), (F.col("user_id") % 8).cast("string"))
    wkey = F.concat(F.lit("w"), eid.cast("string"))
    wprev = F.concat(F.lit("w"), (eid - 1).cast("string"))

    dnull = F.lit(None).cast("double")
    inull = F.lit(None).cast("int")

    def cur(temp):
        return F.struct(
            F.lit(1700000000).cast("long").alias("last_updated_epoch"),
            F.lit("2024-01-01 00:00").alias("last_updated"),
            temp.cast("double").alias("temp_c"),
            dnull.alias("temp_f"),
            F.lit(1).cast("int").alias("is_day"),
            F.struct(
                F.lit("Sunny").alias("text"),
                F.lit("i").alias("icon"),
                F.lit(1000).cast("int").alias("code"),
            ).alias("condition"),
            dnull.alias("wind_mph"), dnull.alias("wind_kph"),
            inull.alias("wind_degree"),
            F.lit(None).cast("string").alias("wind_dir"),
            dnull.alias("pressure_mb"), dnull.alias("pressure_in"),
            dnull.alias("precip_mm"), dnull.alias("precip_in"),
            inull.alias("humidity"), inull.alias("cloud"),
            dnull.alias("feelslike_c"), dnull.alias("feelslike_f"),
            dnull.alias("vis_km"), dnull.alias("vis_miles"),
            dnull.alias("uv"), dnull.alias("gust_mph"),
            dnull.alias("gust_kph"),
        )

    def doc(key, temp):
        return F.struct(
            key.alias("_id"),
            place.alias("place_id"),
            F.lit(None).cast(LOCATION).alias("location"),
            cur(temp).alias("current"),
        )

    def env(op_col, doc_col, key_col, ts_col):
        return [
            op_col.alias("operation_type"),
            F.lit("lake").alias("ns_db"),
            F.lit("weather").alias("ns_coll"),
            doc_col.alias("full_document"),
            key_col.alias("document_key"),
            ts_col.alias("ts"),
        ]

    no_doc = F.lit(None).cast(WEATHER_RAW)
    no_key = F.lit(None).cast("string")
    h1 = F.col("ts") + F.expr("INTERVAL 1 HOUR")
    h2 = F.col("ts") + F.expr("INTERVAL 2 HOUR")
    h3 = F.col("ts") + F.expr("INTERVAL 3 HOUR")

    ins = e.where(eid % 4 == 0).select(
        *env(F.lit("insert"), doc(wkey, eid.cast("double")), no_key, F.col("ts"))
    )
    dups = e.where(eid % 20 == 0).select(
        *env(F.lit("insert"), doc(wkey, eid.cast("double")), no_key, F.col("ts"))
    )
    phase1 = ins.unionByName(dups)

    upd_a = e.where(eid % 4 == 1).select(
        *env(F.lit("update"), doc(wprev, (eid + 100).cast("double")), wprev, h1)
    )
    upd_b = e.where(eid % 8 == 1).select(
        *env(F.lit("update"), doc(wprev, (eid + 200).cast("double")), wprev, h2)
    )
    ups = e.where(eid % 4 == 2).select(
        *env(F.lit("update"), doc(wkey, (eid + 500).cast("double")), wkey, h1)
    )
    dels = e.where(eid % 4 == 3).select(
        *env(
            F.lit("delete"),
            no_doc,
            F.concat(F.lit("w"), (eid - 3).cast("string")),
            F.col("ts"),
        )
    )
    unk = e.where(eid % 40 == 3).select(
        *env(
            F.concat(F.lit("op_"), eid.cast("string")),
            no_doc,
            no_key,
            F.col("ts"),
        )
    )
    phase2 = upd_a.unionByName(upd_b).unionByName(ups).unionByName(dels).unionByName(unk)

    phase3 = e.where(eid % 8 == 5).select(
        *env(F.lit("update"), doc(wprev, (eid + 1000).cast("double")), wprev, h3)
    )

    places = spark.createDataFrame(
        [
            (f"p{i}", None, None, "VN", "21.0N", "105.8E", f"Place {i}", None, None)
            for i in range(6)
        ],
        PLACES_DIM,
    )

    fact, dlq_fk, dlq_unknown = cdc_merge_replay(
        spark, [phase1, phase2, phase3], places
    )
    fact_out = fact.select(
        F.lit("fact").alias("kind"), "id", "place_id", F.col("temp_c")
    )
    fk_out = dlq_fk.select(
        F.lit("dlq_fk").alias("kind"),
        F.col("_id").alias("id"),
        "place_id",
        F.col("current.temp_c").alias("temp_c"),
    )
    unk_out = dlq_unknown.select(
        F.lit("dlq_unknown").alias("kind"),
        F.col("operation_type").alias("id"),
        F.lit(None).cast("string").alias("place_id"),
        F.lit(None).cast("double").alias("temp_c"),
    )
    return fact_out.unionByName(fk_out).unionByName(unk_out)


# Relational replay of the full event mix. Phase isolation makes the
# cross-batch state (the target table) a chain of merges: fact1 =
# FK-surviving phase-1 inserts (duplicates collapse to one row BEFORE
# the FK check, so orphan keys dead-letter once); fact2 = fact1
# full-outer-merged with the LWW-collapsed phase-2 updates (the
# i%8==1 keys' later +200 post-image wins; update-to-missing keys
# upsert); fact3 = fact2 merged with the phase-3 overrides. The FK DLQ
# sees phase-1 inserts post-dedup but update events PRE-collapse (the
# reference logs every rejected event), and unknown ops land once each.
ORACLE_STREAM_CDC_MERGE = """
WITH base AS MATERIALIZED (
  SELECT event_id AS i,
         'p' || (user_id % 8) AS place,
         (user_id % 8) <= 5 AS ok
  FROM events WHERE event_id < 400
),
ins AS MATERIALIZED (
  SELECT 'w' || i AS id, place, CAST(i AS DOUBLE) AS temp, ok
  FROM base WHERE i % 4 = 0
),
fact1 AS MATERIALIZED (SELECT id, place, temp FROM ins WHERE ok),
upd_events AS MATERIALIZED (
  SELECT 'w' || (i - 1) AS id, place, CAST(i + 100 AS DOUBLE) AS temp,
         ok, 1 AS seq
  FROM base WHERE i % 4 = 1
  UNION ALL
  SELECT 'w' || (i - 1), place, CAST(i + 200 AS DOUBLE), ok, 2
  FROM base WHERE i % 8 = 1
  UNION ALL
  SELECT 'w' || i, place, CAST(i + 500 AS DOUBLE), ok, 1
  FROM base WHERE i % 4 = 2
),
u2 AS MATERIALIZED (
  SELECT id, MIN(place) AS place, MAX_BY(temp, seq) AS temp
  FROM upd_events WHERE ok GROUP BY id
),
fact2 AS MATERIALIZED (
  SELECT COALESCE(u.id, f.id) AS id,
         COALESCE(u.place, f.place) AS place,
         COALESCE(u.temp, f.temp) AS temp
  FROM fact1 f FULL JOIN u2 u ON f.id = u.id
),
u3 AS MATERIALIZED (
  SELECT 'w' || (i - 1) AS id, place, CAST(i + 1000 AS DOUBLE) AS temp
  FROM base WHERE i % 8 = 5 AND ok
),
fact3 AS MATERIALIZED (
  SELECT COALESCE(u.id, f.id) AS id,
         COALESCE(u.place, f.place) AS place,
         COALESCE(u.temp, f.temp) AS temp
  FROM fact2 f FULL JOIN u3 u ON f.id = u.id
),
dlq AS (
  SELECT id, place, temp FROM ins WHERE NOT ok
  UNION ALL
  SELECT id, place, temp FROM upd_events WHERE NOT ok
  UNION ALL
  SELECT 'w' || (i - 1), place, CAST(i + 1000 AS DOUBLE)
  FROM base WHERE i % 8 = 5 AND NOT ok
),
unk AS (SELECT 'op_' || i AS id FROM base WHERE i % 40 = 3)
SELECT 'fact' AS kind, id, place AS place_id, temp AS temp_c FROM fact3
UNION ALL
SELECT 'dlq_fk', id, place, temp FROM dlq
UNION ALL
SELECT 'dlq_unknown', id, CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)
FROM unk
"""

QUERIES["stream_cdc_merge_replay"] = q_stream_cdc_merge_replay
ORACLES["stream_cdc_merge_replay"] = ORACLE_STREAM_CDC_MERGE


def q_stream_cdc_merge_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC merge across a checkpoint RESTART
    (streaming.cdc_merge.cdc_merge_restart) — the fifth and final
    restart-family member (aggregates, joins, sessions, dedup: r9;
    foreachBatch merge sink: here). Run 1 consumes the phase-1 insert
    file and terminates; phase 2 lands and a NEW query on the SAME
    checkpoint consumes ONLY it. Restored source offsets are what this
    pins: the target alone could not tell a re-processed phase 1 apart
    (the merge is idempotent, reference T3), but the FK dead-letter
    sink is append-only, so re-admission would double every phase-1
    reject — the oracle counts DLQ rows exactly. Phase 2 also carries
    REDELIVERED copies of phase-1 inserts (at-least-once across the
    restart): keys that landed are suppressed by the PK anti-join;
    keys that were FK-rejected never landed, so their redelivery is
    rejected AGAIN (a second DLQ row — the observable difference
    between 'suppressed by state' and 'never admitted').

    Event construction (event_id < 200, every SF):
      - i % 2 == 0  → phase-1 insert of key w{i}, temp = i
      - i % 10 == 0 → phase-2 REDELIVERY of that exact insert
      - i % 2 == 1  → phase-2 update of key w{i-1}, temp = i+100
        (an upsert where the phase-1 insert was FK-rejected)
    place_id = 'p' || (user_id % 8); p6/p7 are FK orphans.

    Output: (kind, id, place_id, temp_c) over the final fact state and
    the FK dead-letter sink."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.schemas import (
        LOCATION,
        PLACES_DIM,
    )
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.cdc_merge import (
        cdc_merge_restart,
    )

    e = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_id") < 200)
        .select("event_id", "user_id", F.col("ts").cast("timestamp").alias("ts"))
    )
    eid = F.col("event_id")
    place = F.concat(F.lit("p"), (F.col("user_id") % 8).cast("string"))
    wkey = F.concat(F.lit("w"), eid.cast("string"))
    wprev = F.concat(F.lit("w"), (eid - 1).cast("string"))
    dnull = F.lit(None).cast("double")
    inull = F.lit(None).cast("int")

    def cur(temp):
        return F.struct(
            F.lit(1700000000).cast("long").alias("last_updated_epoch"),
            F.lit("2024-01-01 00:00").alias("last_updated"),
            temp.cast("double").alias("temp_c"),
            dnull.alias("temp_f"),
            F.lit(1).cast("int").alias("is_day"),
            F.struct(
                F.lit("Sunny").alias("text"),
                F.lit("i").alias("icon"),
                F.lit(1000).cast("int").alias("code"),
            ).alias("condition"),
            dnull.alias("wind_mph"), dnull.alias("wind_kph"),
            inull.alias("wind_degree"),
            F.lit(None).cast("string").alias("wind_dir"),
            dnull.alias("pressure_mb"), dnull.alias("pressure_in"),
            dnull.alias("precip_mm"), dnull.alias("precip_in"),
            inull.alias("humidity"), inull.alias("cloud"),
            dnull.alias("feelslike_c"), dnull.alias("feelslike_f"),
            dnull.alias("vis_km"), dnull.alias("vis_miles"),
            dnull.alias("uv"), dnull.alias("gust_mph"),
            dnull.alias("gust_kph"),
        )

    def ev(op, key, temp, key_doc, ts_col):
        return [
            F.lit(op).alias("operation_type"),
            F.lit("lake").alias("ns_db"),
            F.lit("weather").alias("ns_coll"),
            F.struct(
                key.alias("_id"),
                place.alias("place_id"),
                F.lit(None).cast(LOCATION).alias("location"),
                cur(temp).alias("current"),
            ).alias("full_document"),
            key_doc.alias("document_key"),
            ts_col.alias("ts"),
        ]

    no_key = F.lit(None).cast("string")
    ins_cols = ev("insert", wkey, eid.cast("double"), no_key, F.col("ts"))
    phase1 = e.where(eid % 2 == 0).select(*ins_cols)
    redeliv = e.where(eid % 10 == 0).select(*ins_cols)
    upd = e.where(eid % 2 == 1).select(
        *ev(
            "update",
            wprev,
            (eid + 100).cast("double"),
            wprev,
            F.col("ts") + F.expr("INTERVAL 1 HOUR"),
        )
    )
    phase2 = redeliv.unionByName(upd)

    places = spark.createDataFrame(
        [
            (f"p{i}", None, None, "VN", "21.0N", "105.8E", f"Place {i}", None, None)
            for i in range(6)
        ],
        PLACES_DIM,
    )
    fact, dlq_fk, dlq_unknown = cdc_merge_restart(spark, phase1, phase2, places)
    if not dlq_unknown.isEmpty():
        raise RuntimeError("cdc_merge_restart: unexpected unknown-op DLQ rows")
    fact_out = fact.select(
        F.lit("fact").alias("kind"), "id", "place_id", F.col("temp_c")
    )
    fk_out = dlq_fk.select(
        F.lit("dlq_fk").alias("kind"),
        F.col("_id").alias("id"),
        "place_id",
        F.col("current.temp_c").alias("temp_c"),
    )
    return fact_out.unionByName(fk_out)


# Relational restart replay: the fact side is insert-then-override
# (every even key w{i} gets an update from event i+1 in run 2 — an
# upsert where the insert was FK-rejected); the DLQ side is the
# exactly-once admission proof — phase-1 orphan inserts reject ONCE,
# their phase-2 redeliveries (i % 10 == 0) reject a SECOND time, and a
# re-processed phase 1 (broken offset restore) would double everything.
ORACLE_STREAM_CDC_RESTART = """
WITH base AS MATERIALIZED (
  SELECT event_id AS i,
         'p' || (user_id % 8) AS place,
         (user_id % 8) <= 5 AS ok
  FROM events WHERE event_id < 200
),
ins AS MATERIALIZED (
  SELECT 'w' || i AS id, place, CAST(i AS DOUBLE) AS temp, ok, i
  FROM base WHERE i % 2 = 0
),
fact1 AS (SELECT id, place, temp FROM ins WHERE ok),
upd AS MATERIALIZED (
  SELECT 'w' || (i - 1) AS id, place, CAST(i + 100 AS DOUBLE) AS temp, ok
  FROM base WHERE i % 2 = 1
),
fact2 AS (
  SELECT COALESCE(u.id, f.id) AS id,
         COALESCE(u.place, f.place) AS place,
         COALESCE(u.temp, f.temp) AS temp
  FROM fact1 f FULL JOIN (SELECT id, place, temp FROM upd WHERE ok) u
    ON f.id = u.id
),
dlq AS (
  SELECT id, place, temp FROM ins WHERE NOT ok
  UNION ALL
  SELECT id, place, temp FROM ins WHERE NOT ok AND i % 10 = 0
  UNION ALL
  SELECT id, place, temp FROM upd WHERE NOT ok
)
SELECT 'fact' AS kind, id, place AS place_id, temp AS temp_c FROM fact2
UNION ALL
SELECT 'dlq_fk', id, place, temp FROM dlq
"""

QUERIES["stream_cdc_merge_restart"] = q_stream_cdc_merge_restart
ORACLES["stream_cdc_merge_restart"] = ORACLE_STREAM_CDC_RESTART


def q_stream_rocksdb_halfhourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling aggregation under the ROCKSDB state store
    provider (streaming.windowed.windowed_counts_once_rocksdb) — the
    large-state scale path: the default HDFS-backed provider keeps all
    streaming state in executor heap (an OOM at 100 TB-stream keyspace
    sizes), RocksDB bounds heap by block cache and spills to native
    memory + local disk. The run ASSERTS RocksDB engaged (state
    operator's rocksdb* custom metrics present — a silently ignored
    conf fails loudly) and the oracle pins provider-independence: the
    half-hourly rollup must equal the plain batch SQL bit-for-bit,
    because the provider is physical layout, not semantics. Exact
    scaled-integer sums per the registry convention."""
    import os as _os

    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.windowed import (
        windowed_counts_once_rocksdb,
    )

    out = windowed_counts_once_rocksdb(
        spark,
        _os.path.join(sf_dir, "events.parquet"),
        duration="30 minutes",
        group_cols=["event_type"],
        aggs=[
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("v_cents"),
        ],
    )
    return out.select(
        epoch_us("window_start").alias("window_start_us"),
        "event_type",
        "n_events",
        "v_cents",
    )


ORACLE_STREAM_ROCKSDB = """
SELECT (epoch_us(ts) // 1800000000) * 1800000000 AS window_start_us,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v_cents
FROM events GROUP BY 1, 2
"""

QUERIES["stream_rocksdb_halfhourly"] = q_stream_rocksdb_halfhourly
ORACLES["stream_rocksdb_halfhourly"] = ORACLE_STREAM_ROCKSDB


def q_python_datasource_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom Python DataSource's STREAMING leg driver-oracled
    (sources.pyds.WeatherApiStreamReader, Spark 4 SimpleDataSourceStream
    Reader): the synthetic hourly-poll source replays one hour per
    micro-batch (offset = next unpolled hour, checkpointed by Spark),
    aggregated per place in complete mode. 6 micro-batches × 30
    places; the final aggregate must equal the batch oracle over the
    full synthetic payload — stream-polled == batch-fetched, the
    reference's hourly EventBridge poll (README.md:76-78) as a
    first-class source. sf_dir is unused (the source IS the data)."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.sources.pyds import (
        register_weather_api,
    )

    register_weather_api(spark)
    stream = (
        spark.readStream.format("weather_api")
        .option("places", 30)
        .option("hours", 6)
        .load()
    )
    agg = stream.groupBy("place_key").agg(
        F.count(F.lit(1)).cast("long").alias("n_obs"),
        F.sum((F.col("temp_c") * 10).cast("long")).alias("temp_decidegrees"),
        F.sum("humidity").cast("long").alias("humidity_total"),
    )
    sink = "pyds_stream_agg"
    # default micro-batch trigger + processAllAvailable: each offset
    # advance (one synthetic hour) is its own micro-batch — availableNow
    # would prefetch every hour into ONE batch, collapsing the
    # per-batch replay this query exists to pin.
    # State-partition sizing (r14, the session_windows_once /
    # _update_merge_run precedent): the keyspace is 30 places, so the
    # session's 32-partition default opens/commits 32 state stores per
    # micro-batch (6 batches = 192 commits) for ~1 key each —
    # per-partition store open/commit dominates at this keyspace.
    # 8 partitions carry the same 30 keys; restored after the bounded
    # run. Values unchanged (hash partitioning only moves keys).
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "8"}):
        q = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .start()
        )
        try:
            q.processAllAvailable()
            progress = list(q.recentProgress)
        finally:
            q.stop()
    data_batches = sum(1 for p in progress if p["numInputRows"] > 0)
    if data_batches != 6:
        raise RuntimeError(
            f"python_datasource_stream: expected 6 hourly micro-batches, "
            f"saw {data_batches}"
        )
    return spark.table(sink).localCheckpoint(eager=True)


def _oracle_python_datasource_stream() -> str:
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.sources.pyds import (
        weather_api_oracle_sql,
    )

    return f"""
WITH src AS ({weather_api_oracle_sql(places=30, hours=6)})
SELECT place_key,
       CAST(COUNT(*) AS BIGINT) AS n_obs,
       CAST(SUM(CAST(temp_c * 10 AS BIGINT)) AS BIGINT) AS temp_decidegrees,
       CAST(SUM(humidity) AS BIGINT) AS humidity_total
FROM src GROUP BY place_key
"""


QUERIES["python_datasource_stream"] = q_python_datasource_stream
ORACLES["python_datasource_stream"] = _oracle_python_datasource_stream()


def q_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-eval calibration: the reliability diagram behind Expected
    Calibration Error, over a deterministic synthetic scorer (md5-hash
    score in [0,1000) — the engine-portable stand-in for a model's
    click-probability) against the real click labels. Ten equal-width
    confidence bins; per bin the count, positives, mean confidence and
    empirical accuracy in exact integer micro-units, and the
    |accuracy − confidence| calibration gap — the quantity a
    training-data pipeline monitors when filtering by classifier
    score. One hash aggregate on a 10-value DERIVED key over map-side
    partials (six small integer sums — no buffering aggregate, no
    window); integer `div` on both engines per the repo discipline."""
    e = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    h = F.md5(F.concat(F.lit("cal:"), F.col("event_id").cast("string")))
    s = (F.conv(F.substring(h, 1, 6), 16, 10).cast("long") % 1000).alias("s")
    y = (F.col("event_type") == "click").cast("long").alias("y")
    binned = e.select(s, y).select(
        F.expr("s div 100").alias("bin"), "s", "y"
    )
    agg = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("clicks"),
        F.sum("s").cast("long").alias("_sum_s"),
    )
    return agg.select(
        "bin",
        "n",
        "clicks",
        F.expr("(_sum_s * 1000) div n").alias("conf_micro"),
        F.expr("(clicks * 1000000) div n").alias("acc_micro"),
        F.expr(
            "abs((clicks * 1000000) div n - (_sum_s * 1000) div n)"
        ).alias("gap_micro"),
    )


ORACLE_CALIBRATION_ECE = """
WITH s AS (
  SELECT ('0x' || substr(md5('cal:' || CAST(event_id AS VARCHAR)), 1, 6))::BIGINT
           % 1000 AS s,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS y
  FROM events
)
SELECT s // 100 AS bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(y) AS BIGINT) AS clicks,
       CAST(SUM(s) * 1000 // COUNT(*) AS BIGINT) AS conf_micro,
       CAST(SUM(y) * 1000000 // COUNT(*) AS BIGINT) AS acc_micro,
       CAST(abs(SUM(y) * 1000000 // COUNT(*) - SUM(s) * 1000 // COUNT(*)) AS BIGINT)
         AS gap_micro
FROM s GROUP BY 1
"""

QUERIES["calibration_ece"] = q_calibration_ece
ORACLES["calibration_ece"] = ORACLE_CALIBRATION_ECE


def q_dynamic_gap_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a PER-EVENT DYNAMIC gap
    (``F.session_window(ts, CASE ...)``): click events hold a session
    open 40 minutes, everything else 15 — the engagement-weighted
    sessionization a real product analytics pipeline wants, and an API
    surface the fixed-gap queries (`sessionize`,
    `session_window_stats`) don't touch. Semantically each event
    contributes the interval [ts, ts+gap(event)) and a user's sessions
    are the connected components of the interval union, so the oracle
    is a running-MAX sweep (NOT the fixed-gap lag-islands form — with
    variable gaps an older event can out-reach the immediately
    previous one). Merge boundary follows the pinned fixed-gap rule:
    an event exactly at the running max end MERGES (break only when
    start > max end). Plans as one key shuffle + in-partition session
    merge, identical shape to the fixed-gap query."""
    e = load_table(spark, sf_dir, "events")
    gap = F.when(F.col("event_type") == "click", F.lit("40 minutes")).otherwise(
        F.lit("15 minutes")
    )
    agg = e.groupBy("user_id", F.session_window("ts", gap)).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).cast("long").alias("n_clicks"),
    )
    return agg.select(
        "user_id",
        epoch_us(F.col("session_window.start")).alias("session_start_us"),
        epoch_us(F.col("session_window.end")).alias("session_end_us"),
        "n_events",
        "n_clicks",
    )


ORACLE_DYNAMIC_GAP_SESSIONS = """
WITH iv AS (
  SELECT user_id, event_id,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_click,
         epoch_us(ts) AS s,
         epoch_us(ts) + CASE WHEN event_type = 'click'
                             THEN 2400000000 ELSE 900000000 END AS e
  FROM events
),
o AS (
  SELECT *, MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
            AS pmax
  FROM iv
),
f AS (
  SELECT *, CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END AS brk
  FROM o
),
i AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY s, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM f
)
SELECT user_id,
       MIN(s) AS session_start_us,
       MAX(e) AS session_end_us,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(is_click) AS BIGINT) AS n_clicks
FROM i GROUP BY user_id, sid
"""

QUERIES["dynamic_gap_sessions"] = q_dynamic_gap_sessions
ORACLES["dynamic_gap_sessions"] = ORACLE_DYNAMIC_GAP_SESSIONS


def q_stream_rocksdb_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint RESTART on the ROCKSDB state store: the
    two-run/one-checkpoint append replay (streaming.windowed.
    restart_append_counts — 30-min windows, 20-min lateness, phase
    split user_id % 3) executed under the RocksDB provider, so what
    survives the stop/start is a RocksDB snapshot+changelog restore,
    not the default provider's in-heap delta files — the recovery
    path a large-state production deployment actually exercises. The
    run asserts RocksDB engaged in BOTH runs (state-operator rocksdb*
    custom metrics; a silently ignored conf fails loudly) and the
    oracle replays the same two-phase emission rule as
    `stream_restart_hourly` — restart semantics must be
    provider-independent."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.windowed import (
        ROCKSDB_PROVIDER,
        restart_append_counts,
    )

    with scoped_conf(
        spark, {"spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER}
    ):
        e = load_table(spark, sf_dir, "events")
        out, stats = restart_append_counts(
            spark,
            phase1=e.filter(F.col("user_id") % 3 == 0),
            phase2=e.filter(F.col("user_id") % 3 != 0),
            duration="30 minutes",
            lateness="20 minutes",
            group_cols=["event_type"],
            aggs=[F.count(F.lit(1)).cast("long").alias("n_events")],
        )
    for tag in ("phase1", "phase2"):
        if not stats[tag]["rocksdb"]:
            raise RuntimeError(
                f"stream_rocksdb_restart: {tag} ran without RocksDB custom "
                "metrics — the provider conf did not engage"
            )
    return out.select(
        epoch_us("window_start").alias("window_start_us"),
        "event_type",
        "n_events",
    )


ORACLE_STREAM_ROCKSDB_RESTART = """
WITH w1 AS (
  SELECT (epoch_us(max(ts)) // 1000) * 1000 - 1200000000 AS v
  FROM events WHERE user_id % 3 = 0),
w2 AS (
  SELECT (epoch_us(max(ts)) // 1000) * 1000 - 1200000000 AS v FROM events),
kept AS (
  SELECT e.event_type,
         (epoch_us(ts) // 1800000000) * 1800000000 AS ws
  FROM events e, w1
  WHERE user_id % 3 = 0
     OR (epoch_us(ts) // 1800000000) * 1800000000 + 1800000000 > w1.v
)
SELECT ws AS window_start_us, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM kept, w2
GROUP BY 1, 2, w2.v
HAVING ws + 1800000000 <= w2.v
"""

QUERIES["stream_rocksdb_restart"] = q_stream_rocksdb_restart
ORACLES["stream_rocksdb_restart"] = ORACLE_STREAM_ROCKSDB_RESTART


# ------------------------------------------------- model-eval metrics family
#
# Classifier/clustering evaluation a training-data pipeline runs over its
# filter models (quality classifiers, dedup clusterings). All exact-integer
# per the module discipline: counts and pair sums are BIGINT/DECIMAL-exact
# on both engines, and each float appears only as ONE final division on
# identical integer inputs (r9 float-determinism taxonomy class 1).


def q_auc_rank_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC via the Mann-Whitney rank statistic, computed the
    100 TB way: the fact table collapses to a ≤500-row score HISTOGRAM
    first (one map-side-partial hash aggregate on a bounded derived
    key), then concordant/tied pair counts come from a prefix sum over
    the histogram — the only window in the plan runs over ≤500 rows AT
    ANY SCALE (bounded by the score domain, not the data), so the
    global-window detector stays silent by design. Ties use the
    standard average-rank convention: 2U = Σ_s pos_s·(2·cum_neg_lt(s)
    + neg_s), exact in BIGINT; AUC is ONE double division of exact
    integers, 6dp. Score is the engine-portable md5 scorer from
    `calibration_ece` (salt 'auc:'), labels are real click events."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    h = F.md5(F.concat(F.lit("auc:"), F.col("event_id").cast("string")))
    s = (F.conv(F.substring(h, 1, 6), 16, 10).cast("long") % 500).alias("s")
    y = (F.col("event_type") == "click").cast("long").alias("y")
    hist = e.select(s, y).groupBy("s").agg(
        F.sum("y").cast("long").alias("pos"),
        F.sum(F.lit(1) - F.col("y")).cast("long").alias("neg"),
    )
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.withColumn(
        "cumneg", F.coalesce(F.sum("neg").over(w), F.lit(0)).cast("long")
    )
    agg = cum.agg(
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum("neg").cast("long").alias("n_neg"),
        F.sum(F.col("pos") * (2 * F.col("cumneg") + F.col("neg")))
        .cast("long")
        .alias("u_times2"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        "u_times2",
        F.round(
            F.col("u_times2").cast("double")
            / (2 * F.col("n_pos") * F.col("n_neg")).cast("double"),
            6,
        ).alias("auc"),
    )


ORACLE_AUC_RANK_EVAL = """
WITH s AS (
  SELECT ('0x' || substr(md5('auc:' || CAST(event_id AS VARCHAR)), 1, 6))::BIGINT
           % 500 AS s,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS y
  FROM events),
hist AS (
  SELECT s, CAST(SUM(y) AS BIGINT) AS pos, CAST(SUM(1 - y) AS BIGINT) AS neg
  FROM s GROUP BY s),
cum AS (
  SELECT *, CAST(COALESCE(SUM(neg) OVER (ORDER BY s
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
            AS cumneg
  FROM hist),
agg AS (
  SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
         CAST(SUM(neg) AS BIGINT) AS n_neg,
         CAST(SUM(pos * (2 * cumneg + neg)) AS BIGINT) AS u_times2
  FROM cum)
SELECT n_pos, n_neg, u_times2,
       round(CAST(u_times2 AS DOUBLE)
             / CAST(2 * n_pos * n_neg AS DOUBLE), 6) AS auc
FROM agg
"""

QUERIES["auc_rank_eval"] = q_auc_rank_eval
ORACLES["auc_rank_eval"] = ORACLE_AUC_RANK_EVAL


def q_pr_curve_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall/F1 at ten score thresholds (the PR curve a
    quality-filter pipeline sweeps to pick its operating point), from
    the SAME ≤500-row score histogram as `auc_rank_eval` — the fact
    table is scanned once into a bounded histogram, then the 10
    thresholds evaluate as a tiny broadcast cross join (500×10 rows)
    + second hash aggregate; no window at all. Metrics are integer
    micro-units via `div` (CASE-guarded identically on both engines
    against empty predictions, though t=0 always predicts all)."""
    e = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    h = F.md5(F.concat(F.lit("auc:"), F.col("event_id").cast("string")))
    s = (F.conv(F.substring(h, 1, 6), 16, 10).cast("long") % 500).alias("s")
    y = (F.col("event_type") == "click").cast("long").alias("y")
    hist = e.select(s, y).groupBy("s").agg(
        F.sum("y").cast("long").alias("pos"),
        F.sum(F.lit(1) - F.col("y")).cast("long").alias("neg"),
    )
    th = spark.range(10).select(F.col("id").cast("long").alias("t"))
    pred_pos = F.col("s") >= F.col("t") * 50
    pr = (
        hist.crossJoin(F.broadcast(th))
        .groupBy("t")
        .agg(
            F.sum(F.when(pred_pos, F.col("pos")).otherwise(0))
            .cast("long")
            .alias("tp"),
            F.sum(F.when(pred_pos, F.col("neg")).otherwise(0))
            .cast("long")
            .alias("fp"),
            F.sum(F.when(~pred_pos, F.col("pos")).otherwise(0))
            .cast("long")
            .alias("fn"),
            F.sum(F.when(~pred_pos, F.col("neg")).otherwise(0))
            .cast("long")
            .alias("tn"),
        )
    )
    return pr.select(
        "t",
        "tp",
        "fp",
        "fn",
        "tn",
        F.expr(
            "CASE WHEN tp + fp = 0 THEN NULL"
            " ELSE (tp * 1000000) div (tp + fp) END"
        ).alias("precision_micro"),
        F.expr(
            "CASE WHEN tp + fn = 0 THEN NULL"
            " ELSE (tp * 1000000) div (tp + fn) END"
        ).alias("recall_micro"),
        F.expr(
            "CASE WHEN 2 * tp + fp + fn = 0 THEN NULL"
            " ELSE (2 * tp * 1000000) div (2 * tp + fp + fn) END"
        ).alias("f1_micro"),
    )


ORACLE_PR_CURVE_DECILES = """
WITH s AS (
  SELECT ('0x' || substr(md5('auc:' || CAST(event_id AS VARCHAR)), 1, 6))::BIGINT
           % 500 AS s,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS y
  FROM events),
hist AS (
  SELECT s, CAST(SUM(y) AS BIGINT) AS pos, CAST(SUM(1 - y) AS BIGINT) AS neg
  FROM s GROUP BY s),
th AS (SELECT unnest(generate_series(0, 9)) AS t),
pr AS (
  SELECT t,
         CAST(SUM(CASE WHEN s >= t * 50 THEN pos ELSE 0 END) AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN s >= t * 50 THEN neg ELSE 0 END) AS BIGINT) AS fp,
         CAST(SUM(CASE WHEN s < t * 50 THEN pos ELSE 0 END) AS BIGINT) AS fn,
         CAST(SUM(CASE WHEN s < t * 50 THEN neg ELSE 0 END) AS BIGINT) AS tn
  FROM hist CROSS JOIN th GROUP BY t)
SELECT t, tp, fp, fn, tn,
       CASE WHEN tp + fp = 0 THEN NULL
            ELSE tp * 1000000 // (tp + fp) END AS precision_micro,
       CASE WHEN tp + fn = 0 THEN NULL
            ELSE tp * 1000000 // (tp + fn) END AS recall_micro,
       CASE WHEN 2 * tp + fp + fn = 0 THEN NULL
            ELSE 2 * tp * 1000000 // (2 * tp + fp + fn) END AS f1_micro
FROM pr
"""

QUERIES["pr_curve_deciles"] = q_pr_curve_deciles
ORACLES["pr_curve_deciles"] = ORACLE_PR_CURVE_DECILES


def q_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa inter-annotator agreement between two
    deterministic md5 raters over the events fact (rater A: 3-way
    label; rater B: agrees except on a 1-in-4 md5 coin, where it
    shifts one class) — the chance-corrected agreement a labeling
    pipeline reports when auditing annotator or model-vs-model label
    quality. ONE map-side-partial pass produces n, the agreement
    count, and all six per-class marginals as conditional aggregates
    (no shuffle beyond the single-row agg); the chance term
    pe_num = Σ_k aₖ·bₖ and the kappa numerator agree·n − pe_num are
    BIGINT-exact (≤ n² ≈ 1e18 at 1e9 rows), and kappa is ONE double
    division of exact integers, 6dp."""
    e = load_table(spark, sf_dir, "events").select("event_id")
    ha = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ra:"), F.col("event_id").cast("string"))),
                1,
                6,
            ),
            16,
            10,
        ).cast("long")
        % 3
    )
    flip = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("rb:"), F.col("event_id").cast("string"))),
                1,
                6,
            ),
            16,
            10,
        ).cast("long")
        % 4
    ) == 0
    rated = e.select(
        ha.alias("ra"),
        F.when(flip, (ha + 1) % 3).otherwise(ha).alias("rb"),
    )
    marg = [
        F.sum((F.col(c) == k).cast("long")).cast("long").alias(f"{c}{k}")
        for c in ("ra", "rb")
        for k in range(3)
    ]
    agg = rated.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("ra") == F.col("rb")).cast("long"))
        .cast("long")
        .alias("n_agree"),
        *marg,
    )
    pe_num = sum(F.col(f"ra{k}") * F.col(f"rb{k}") for k in range(3))
    return agg.select(
        "n",
        "n_agree",
        pe_num.cast("long").alias("pe_num"),
        F.expr("(n_agree * 1000000) div n").alias("po_micro"),
        F.round(
            (F.col("n_agree") * F.col("n") - pe_num).cast("double")
            / (F.col("n") * F.col("n") - pe_num).cast("double"),
            6,
        ).alias("kappa"),
    )


ORACLE_COHENS_KAPPA = """
WITH r AS (
  SELECT ('0x' || substr(md5('ra:' || CAST(event_id AS VARCHAR)), 1, 6))::BIGINT
           % 3 AS ra,
         ('0x' || substr(md5('rb:' || CAST(event_id AS VARCHAR)), 1, 6))::BIGINT
           % 4 AS coin
  FROM events),
lab AS (
  SELECT ra, CASE WHEN coin = 0 THEN (ra + 1) % 3 ELSE ra END AS rb FROM r),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN ra = rb THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
         CAST(SUM(CASE WHEN ra = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ra0,
         CAST(SUM(CASE WHEN ra = 1 THEN 1 ELSE 0 END) AS BIGINT) AS ra1,
         CAST(SUM(CASE WHEN ra = 2 THEN 1 ELSE 0 END) AS BIGINT) AS ra2,
         CAST(SUM(CASE WHEN rb = 0 THEN 1 ELSE 0 END) AS BIGINT) AS rb0,
         CAST(SUM(CASE WHEN rb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS rb1,
         CAST(SUM(CASE WHEN rb = 2 THEN 1 ELSE 0 END) AS BIGINT) AS rb2
  FROM lab)
SELECT n, n_agree,
       CAST(ra0 * rb0 + ra1 * rb1 + ra2 * rb2 AS BIGINT) AS pe_num,
       n_agree * 1000000 // n AS po_micro,
       round(CAST(n_agree * n - (ra0 * rb0 + ra1 * rb1 + ra2 * rb2) AS DOUBLE)
             / CAST(n * n - (ra0 * rb0 + ra1 * rb1 + ra2 * rb2) AS DOUBLE),
             6) AS kappa
FROM agg
"""

QUERIES["cohens_kappa"] = q_cohens_kappa
ORACLES["cohens_kappa"] = ORACLE_COHENS_KAPPA


def q_clustering_ari(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjusted Rand Index between two dedup-granularity clusterings
    of the documents corpus (first-2-token vs first-3-token prefix
    fingerprints — the coarse/fine chunking agreement question a
    dedup pipeline asks when choosing blocking granularity). Pair
    counts come from the contingency table: three hash aggregates
    (cells, row sums, column sums), every C(n,2) formed with exact
    integer `div 2`; the ARI rational is assembled EXACTLY in
    DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) — num = 2·(sij·cn2 −
    sa·sb), den = (sa+sb)·cn2 − 2·sa·sb, products ≤ ~2.5e35 at 1e9
    docs — and ONE division to double at the end, 6dp (the
    subsample_ci exact-moments idiom; no cancellation-prone double
    subtraction). CASE-guarded den=0 identically on both engines."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    lab = d.select(
        F.md5(F.concat_ws(" ", F.slice(toks, 1, 2))).alias("la"),
        F.md5(F.concat_ws(" ", F.slice(toks, 1, 3))).alias("lb"),
    )
    cells = lab.groupBy("la", "lb").agg(F.count(F.lit(1)).cast("long").alias("nij"))
    pairs = F.expr("(nij * (nij - 1)) div 2")
    sij_df = cells.agg(
        F.sum(pairs).cast("long").alias("sij"),
        F.sum("nij").cast("long").alias("n"),
    )
    sa_df = (
        cells.groupBy("la")
        .agg(F.sum("nij").cast("long").alias("nij"))
        .agg(F.sum(pairs).cast("long").alias("sa"))
    )
    sb_df = (
        cells.groupBy("lb")
        .agg(F.sum("nij").cast("long").alias("nij"))
        .agg(F.sum(pairs).cast("long").alias("sb"))
    )
    one = sij_df.crossJoin(F.broadcast(sa_df)).crossJoin(F.broadcast(sb_df))
    dec = "decimal(19,0)"
    sij_d = F.col("sij").cast(dec)
    sa_d = F.col("sa").cast(dec)
    sb_d = F.col("sb").cast(dec)
    cn2 = F.expr("(n * (n - 1)) div 2").cast("long")
    one = one.withColumn("cn2", cn2)
    cn2_d = F.col("cn2").cast(dec)
    num = (sij_d * cn2_d - sa_d * sb_d) * F.lit(2).cast(dec)
    den = (sa_d + sb_d) * cn2_d - F.lit(2).cast(dec) * sa_d * sb_d
    return one.select(
        "n",
        "sij",
        "sa",
        "sb",
        "cn2",
        F.when(den == F.lit(0).cast(dec), F.lit(None).cast("double"))
        .otherwise(F.round(num.cast("double") / den.cast("double"), 6))
        .alias("ari"),
    )


ORACLE_CLUSTERING_ARI = """
WITH lab AS (
  SELECT md5(array_to_string(list_slice(string_split(text, ' '), 1, 2), ' '))
           AS la,
         md5(array_to_string(list_slice(string_split(text, ' '), 1, 3), ' '))
           AS lb
  FROM documents),
cells AS (
  SELECT la, lb, CAST(COUNT(*) AS BIGINT) AS nij FROM lab GROUP BY la, lb),
sij_t AS (
  SELECT CAST(SUM(nij * (nij - 1) // 2) AS BIGINT) AS sij,
         CAST(SUM(nij) AS BIGINT) AS n
  FROM cells),
sa_t AS (
  SELECT CAST(SUM(ai * (ai - 1) // 2) AS BIGINT) AS sa
  FROM (SELECT CAST(SUM(nij) AS BIGINT) AS ai FROM cells GROUP BY la)),
sb_t AS (
  SELECT CAST(SUM(bj * (bj - 1) // 2) AS BIGINT) AS sb
  FROM (SELECT CAST(SUM(nij) AS BIGINT) AS bj FROM cells GROUP BY lb)),
one AS (
  SELECT n, sij, sa, sb, CAST(n * (n - 1) // 2 AS BIGINT) AS cn2
  FROM sij_t, sa_t, sb_t)
SELECT n, sij, sa, sb, cn2,
       CASE WHEN (CAST(sa AS HUGEINT) + sb) * cn2
                 - 2 * CAST(sa AS HUGEINT) * sb = 0 THEN NULL
            ELSE round(
              CAST(2 * (CAST(sij AS HUGEINT) * cn2
                        - CAST(sa AS HUGEINT) * sb) AS DOUBLE)
              / CAST((CAST(sa AS HUGEINT) + sb) * cn2
                     - 2 * CAST(sa AS HUGEINT) * sb AS DOUBLE),
              6) END AS ari
FROM one
"""

QUERIES["clustering_ari"] = q_clustering_ari
ORACLES["clustering_ari"] = ORACLE_CLUSTERING_ARI


def q_zone_map_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-lake scan-pruning audit: how many of 64 files a min/max
    zone map lets a time-range predicate SKIP, under a time-clustered
    layout vs a hash layout — the quantified answer to "why cluster
    the fact table by event time before writing it". ONE fact scan
    builds a 64×64 (hash-file × time-file) cell grid of per-cell
    count/min/max; each layout's per-file zone maps are then tiny
    re-aggregations of the ≤4096 cells, so the comparison costs one
    pass at any scale. The probe predicate is a 5%-of-span window
    derived from the corpus min/max in exact integer microseconds;
    files_read counts zone-map overlaps, rows_scanned sums their
    rows, rows_matching is the true predicate count (identical for
    both layouts — pruning changes I/O, not answers)."""
    e = load_table(spark, sf_dir, "events").select("event_id", "ts")
    base = e.select(
        epoch_us(F.col("ts")).alias("us"),
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("zm:"), F.col("event_id").cast("string"))),
                    1,
                    6,
                ),
                16,
                10,
            ).cast("long")
            % 64
        ).alias("fh"),
    )
    span = base.agg(
        F.min("us").alias("mn"), F.max("us").alias("mx")
    )
    g = base.crossJoin(F.broadcast(span)).select(
        "us",
        "fh",
        F.expr("((us - mn) * 64) div (mx - mn + 1)").alias("ft"),
        F.expr("mn + ((mx - mn) * 40) div 100").alias("lo"),
        F.expr("mn + ((mx - mn) * 45) div 100").alias("hi"),
    )
    cells = g.groupBy("fh", "ft", "lo", "hi").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("us").alias("cmn"),
        F.max("us").alias("cmx"),
        F.sum(
            ((F.col("us") >= F.col("lo")) & (F.col("us") <= F.col("hi"))).cast(
                "long"
            )
        )
        .cast("long")
        .alias("match"),
    )
    # both layout branches re-aggregate the cell grid: pin the ≤4096-row
    # table so the fact is scanned ONCE, not once per branch
    cells = cells.localCheckpoint(eager=True)

    def layout(col: str, tag: str) -> DataFrame:
        files = cells.groupBy(col, "lo", "hi").agg(
            F.sum("n").cast("long").alias("rows"),
            F.min("cmn").alias("fmn"),
            F.max("cmx").alias("fmx"),
            F.sum("match").cast("long").alias("fmatch"),
        )
        read = (F.col("fmx") >= F.col("lo")) & (F.col("fmn") <= F.col("hi"))
        return files.agg(
            F.lit(tag).alias("layout"),
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum(read.cast("long")).cast("long").alias("files_read"),
            F.sum(F.when(read, F.col("rows")).otherwise(0))
            .cast("long")
            .alias("rows_scanned"),
            F.sum("fmatch").cast("long").alias("rows_matching"),
        )

    return layout("fh", "hash").unionByName(layout("ft", "time"))


ORACLE_ZONE_MAP_SKIPPING = """
WITH base AS (
  SELECT epoch_us(ts) AS us,
         ('0x' || substr(md5('zm:' || CAST(event_id AS VARCHAR)), 1, 6))::BIGINT
           % 64 AS fh
  FROM events),
span AS (SELECT MIN(us) AS mn, MAX(us) AS mx FROM base),
g AS (
  SELECT us, fh,
         ((us - mn) * 64) // (mx - mn + 1) AS ft,
         mn + ((mx - mn) * 40) // 100 AS lo,
         mn + ((mx - mn) * 45) // 100 AS hi
  FROM base, span),
cells AS (
  SELECT fh, ft, lo, hi,
         CAST(COUNT(*) AS BIGINT) AS n,
         MIN(us) AS cmn, MAX(us) AS cmx,
         CAST(SUM(CASE WHEN us >= lo AND us <= hi THEN 1 ELSE 0 END) AS BIGINT)
           AS match
  FROM g GROUP BY fh, ft, lo, hi),
fh_files AS (
  SELECT fh, lo, hi, CAST(SUM(n) AS BIGINT) AS rows,
         MIN(cmn) AS fmn, MAX(cmx) AS fmx,
         CAST(SUM(match) AS BIGINT) AS fmatch
  FROM cells GROUP BY fh, lo, hi),
ft_files AS (
  SELECT ft, lo, hi, CAST(SUM(n) AS BIGINT) AS rows,
         MIN(cmn) AS fmn, MAX(cmx) AS fmx,
         CAST(SUM(match) AS BIGINT) AS fmatch
  FROM cells GROUP BY ft, lo, hi)
SELECT 'hash' AS layout,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(CASE WHEN fmx >= lo AND fmn <= hi THEN 1 ELSE 0 END) AS BIGINT)
         AS files_read,
       CAST(SUM(CASE WHEN fmx >= lo AND fmn <= hi THEN rows ELSE 0 END)
            AS BIGINT) AS rows_scanned,
       CAST(SUM(fmatch) AS BIGINT) AS rows_matching
FROM fh_files
UNION ALL
SELECT 'time' AS layout,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(CASE WHEN fmx >= lo AND fmn <= hi THEN 1 ELSE 0 END) AS BIGINT)
         AS files_read,
       CAST(SUM(CASE WHEN fmx >= lo AND fmn <= hi THEN rows ELSE 0 END)
            AS BIGINT) AS rows_scanned,
       CAST(SUM(fmatch) AS BIGINT) AS rows_matching
FROM ft_files
"""

QUERIES["zone_map_skipping"] = q_zone_map_skipping
ORACLES["zone_map_skipping"] = ORACLE_ZONE_MAP_SKIPPING


def q_happens_before_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern support over user journeys: for every
    ordered event-type pair (a, b), how many users saw their FIRST a
    strictly before their FIRST b (onboarding-order mining — the
    bounded-state form of sequence mining that scales: the fact table
    collapses to one row per (user, type) first-occurrence, ≤5 rows
    per user, so the per-user pair join is ≤20 rows/user and the
    support aggregate is |types|² ≤ 25 rows total). Confidence is
    support over users-having-both, integer micro via `div`,
    CASE-guarded identically on both engines. Exact-ts ties count as
    support for neither direction (strict <, deterministic because
    MIN is exact on epoch-micros)."""
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    ut = e.groupBy("user_id", "event_type").agg(
        F.min(epoch_us(F.col("ts"))).alias("first_us")
    )
    a = ut.select(
        F.col("user_id"),
        F.col("event_type").alias("a"),
        F.col("first_us").alias("fa"),
    )
    b = ut.select(
        F.col("user_id"),
        F.col("event_type").alias("b"),
        F.col("first_us").alias("fb"),
    )
    pairs = a.join(b, "user_id").filter(F.col("a") != F.col("b"))
    sup = pairs.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("long").alias("n_users_both"),
        F.sum((F.col("fa") < F.col("fb")).cast("long"))
        .cast("long")
        .alias("n_a_before_b"),
    )
    return sup.select(
        "a",
        "b",
        "n_users_both",
        "n_a_before_b",
        F.expr(
            "CASE WHEN n_users_both = 0 THEN NULL"
            " ELSE (n_a_before_b * 1000000) div n_users_both END"
        ).alias("conf_micro"),
    )


ORACLE_HAPPENS_BEFORE_PAIRS = """
WITH ut AS (
  SELECT user_id, event_type, MIN(epoch_us(ts)) AS first_us
  FROM events GROUP BY user_id, event_type)
SELECT a.event_type AS a, b.event_type AS b,
       CAST(COUNT(*) AS BIGINT) AS n_users_both,
       CAST(SUM(CASE WHEN a.first_us < b.first_us THEN 1 ELSE 0 END) AS BIGINT)
         AS n_a_before_b,
       CASE WHEN COUNT(*) = 0 THEN NULL
            ELSE CAST(SUM(CASE WHEN a.first_us < b.first_us THEN 1 ELSE 0 END)
                      AS BIGINT) * 1000000 // COUNT(*) END AS conf_micro
FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type <> b.event_type
GROUP BY a.event_type, b.event_type
"""

QUERIES["happens_before_pairs"] = q_happens_before_pairs
ORACLES["happens_before_pairs"] = ORACLE_HAPPENS_BEFORE_PAIRS


def q_dhondt_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D'Hondt divisor-method apportionment of 100 training-mixture
    shards across document languages by corpus size — the
    highest-averages counterpart to the registry's Hamilton
    largest-remainder allocator (`token_budget_apportionment`);
    divisor methods are house-monotone, which matters when the shard
    budget grows over pipeline runs. The fact table collapses to one
    row per language first, so the divisor table (langs × 100
    quotients) is a few hundred rows: quotients are EXACT scaled
    integers ((votes·1e6) div d — no float ratios anywhere; the 1e6
    scale is provably order-exact for d ≤ 100 because two distinct
    quotients a/d₁ ≠ b/d₂ differ by ≥ 1/(d₁·d₂) ≥ 1e-4, so their
    ×1e6-scaled floors differ by ≥ 100 — and it keeps votes·1e6
    BIGINT-safe to ~9.2e12 docs per language, where the previous 1e12
    scale overflowed int64 past ~9.2e6 docs with silent wraparound on
    Spark vs a raise on DuckDB), the top-100 selection is a
    total-ordered TakeOrderedAndProject (quotient desc, lang, d), and
    seats per language is a count over the winners."""
    d = load_table(spark, sf_dir, "documents").select("lang")
    votes = d.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("votes"))
    quot = votes.select(
        "lang",
        "votes",
        F.explode(F.sequence(F.lit(1), F.lit(100))).alias("d"),
    ).withColumn("q", F.expr("(votes * 1000000) div d"))
    winners = quot.orderBy(
        F.col("q").desc(), F.col("lang").asc(), F.col("d").asc()
    ).limit(100)
    seats = winners.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("seats")
    )
    return (
        votes.join(seats, "lang", "left")
        .select(
            "lang",
            "votes",
            F.coalesce(F.col("seats"), F.lit(0)).cast("long").alias("seats"),
        )
    )


ORACLE_DHONDT_APPORTIONMENT = """
WITH votes AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS votes FROM documents GROUP BY lang),
quot AS (
  SELECT lang, votes, d, (votes * 1000000) // d AS q
  FROM votes, (SELECT unnest(generate_series(1, 100)) AS d)),
winners AS (
  SELECT lang FROM quot ORDER BY q DESC, lang ASC, d ASC LIMIT 100),
seats AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS seats FROM winners GROUP BY lang)
SELECT v.lang, v.votes,
       CAST(COALESCE(s.seats, 0) AS BIGINT) AS seats
FROM votes v LEFT JOIN seats s ON v.lang = s.lang
"""

QUERIES["dhondt_apportionment"] = q_dhondt_apportionment
ORACLES["dhondt_apportionment"] = ORACLE_DHONDT_APPORTIONMENT


def q_pps_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-Poisson PPS sample (probability proportional to
    size) of 200 documents weighted by length — the size-biased
    sampling a corpus-inspection pipeline wants so that big documents
    are proportionally represented. Each doc gets the deterministic
    engine-portable priority (u48·1e6) div n_chars where u48 is a
    48-bit md5 integer (the md5-hex coin from operators.sampling,
    kept fully in BIGINT — u48·1e6 ≤ 2.8e20? no: 2^48·1e6 ≈ 2.8e20
    exceeds int64, so the scale is 1e4: 2^48·1e4 ≈ 2.8e18 < 2^63);
    the 200 smallest priorities win via total-ordered
    TakeOrderedAndProject (priority, doc_id). Output compares each
    language's weight share in the sample vs the corpus, exact
    integer micro shares."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    u48 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("pps:"), F.col("doc_id").cast("string"))), 1, 12
        ),
        16,
        10,
    ).cast("long")
    keyed = docs.withColumn("_u48", u48).withColumn(
        "prio", F.expr("(_u48 * 10000) div n_chars")
    )
    sample = keyed.orderBy(F.col("prio").asc(), F.col("doc_id").asc()).limit(200)
    samp_lang = sample.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_sampled"),
        F.sum("n_chars").cast("long").alias("sampled_wt"),
    )
    corpus = docs.groupBy("lang").agg(
        F.sum("n_chars").cast("long").alias("corpus_wt")
    )
    tot_s = sample.agg(F.sum("n_chars").cast("long").alias("ts_wt"))
    tot_c = docs.agg(F.sum("n_chars").cast("long").alias("tc_wt"))
    return (
        corpus.join(samp_lang, "lang", "left")
        .crossJoin(F.broadcast(tot_s))
        .crossJoin(F.broadcast(tot_c))
        .select(
            "lang",
            F.coalesce(F.col("n_sampled"), F.lit(0)).cast("long").alias(
                "n_sampled"
            ),
            F.coalesce(F.col("sampled_wt"), F.lit(0)).cast("long").alias(
                "sampled_wt"
            ),
            "corpus_wt",
            F.expr("(corpus_wt * 1000000) div tc_wt").alias("corpus_share_micro"),
            F.expr(
                "(coalesce(sampled_wt, 0) * 1000000) div ts_wt"
            ).alias("sample_share_micro"),
        )
    )


ORACLE_PPS_SAMPLE = """
WITH keyed AS (
  SELECT doc_id, lang, n_chars,
         (('0x' || substr(md5('pps:' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
          * 10000) // n_chars AS prio
  FROM documents),
sample AS (
  SELECT * FROM keyed ORDER BY prio ASC, doc_id ASC LIMIT 200),
samp_lang AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_sampled,
         CAST(SUM(n_chars) AS BIGINT) AS sampled_wt
  FROM sample GROUP BY lang),
corpus AS (
  SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS corpus_wt
  FROM documents GROUP BY lang),
tot AS (
  SELECT (SELECT CAST(SUM(n_chars) AS BIGINT) FROM sample) AS ts_wt,
         (SELECT CAST(SUM(n_chars) AS BIGINT) FROM documents) AS tc_wt)
SELECT c.lang,
       CAST(COALESCE(s.n_sampled, 0) AS BIGINT) AS n_sampled,
       CAST(COALESCE(s.sampled_wt, 0) AS BIGINT) AS sampled_wt,
       c.corpus_wt,
       (c.corpus_wt * 1000000) // t.tc_wt AS corpus_share_micro,
       (COALESCE(s.sampled_wt, 0) * 1000000) // t.ts_wt AS sample_share_micro
FROM corpus c LEFT JOIN samp_lang s ON c.lang = s.lang, tot t
"""

QUERIES["pps_sample"] = q_pps_sample
ORACLES["pps_sample"] = ORACLE_PPS_SAMPLE


def q_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-returnflag LOWER WEIGHTED MEDIAN of extended price
    weighted by quantity — the quantity-weighted "typical price" a
    pricing audit wants, where the plain median over-counts small
    lines. Runs through `operators.windows.grouped_weighted_median`:
    3-value group key over the fact table is exactly the
    low-cardinality case where `percentile()`-style buffering or a
    plain partitioned window dies at 100×, so the composite range
    sort + per-(partition, group) weight cells carry the prefix sums
    (see the operator docstring for the one extra exchange and why
    its parallelism is ≥ |partitions|). Weights and values are exact
    scaled integers; the 2·cumw ≥ totw crossing value is
    order-independent within equal-value runs."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.windows import (
        grouped_weighted_median,
    )

    l = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("price_cents"),
        F.round(F.col("l_quantity") * 100).cast("long").alias("w"),
        "l_orderkey",
        "l_linenumber",
    )
    out = grouped_weighted_median(
        l,
        group_cols=["l_returnflag"],
        value_col="price_cents",
        weight_col="w",
        tiebreak_cols=["l_orderkey", "l_linenumber"],
        median_col="weighted_median_cents",
    )
    return out.select(
        "l_returnflag",
        F.col("weighted_median_cents").cast("long").alias("weighted_median_cents"),
        "total_weight",
    )


ORACLE_WEIGHTED_MEDIAN_PRICE = """
WITH base AS (
  SELECT l_returnflag,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
         CAST(round(l_quantity * 100) AS BIGINT) AS w,
         l_orderkey, l_linenumber
  FROM lineitem),
cum AS (
  SELECT l_returnflag, price_cents,
         SUM(w) OVER (PARTITION BY l_returnflag
                      ORDER BY price_cents, l_orderkey, l_linenumber
                      ROWS UNBOUNDED PRECEDING) AS cumw,
         SUM(w) OVER (PARTITION BY l_returnflag) AS totw
  FROM base)
SELECT l_returnflag,
       CAST(MIN(CASE WHEN 2 * cumw >= totw THEN price_cents END) AS BIGINT)
         AS weighted_median_cents,
       CAST(MIN(totw) AS BIGINT) AS total_weight
FROM cum GROUP BY l_returnflag
"""

QUERIES["weighted_median_price"] = q_weighted_median_price
ORACLES["weighted_median_price"] = ORACLE_WEIGHTED_MEDIAN_PRICE


def q_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-match pairs over the part-name DOMAIN with
    noun-token blocking — the typo-reconciliation primitive, and the
    built-in-function parity pin (Spark `levenshtein` == DuckDB
    `levenshtein`, exact integer distances). Scale shape: the fact
    table collapses to DISTINCT names first (the name domain is
    bounded — TPC-H p_name draws from a fixed word list — so the
    distinct is a domain-bounded hash aggregate), then candidates are
    generated ONLY within a shared-second-token block (never
    domain²), ordered pairs a < b, distance ≤ 3."""
    p = load_table(spark, sf_dir, "part").select("p_name")
    names = p.distinct().select(
        F.col("p_name"),
        F.split(F.col("p_name"), " ").getItem(1).alias("blk"),
    )
    a = names.select(F.col("p_name").alias("name_a"), "blk")
    b = names.select(F.col("p_name").alias("name_b"), "blk")
    pairs = (
        a.join(b, "blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("dist", F.levenshtein(F.col("name_a"), F.col("name_b")))
        .filter(F.col("dist") <= 3)
    )
    return pairs.select(
        "blk", "name_a", "name_b", F.col("dist").cast("long").alias("dist")
    )


ORACLE_LEVENSHTEIN_PAIRS = """
WITH names AS (
  SELECT DISTINCT p_name, string_split(p_name, ' ')[2] AS blk FROM part)
SELECT a.blk, a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
FROM names a JOIN names b ON a.blk = b.blk AND a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= 3
"""

QUERIES["levenshtein_pairs"] = q_levenshtein_pairs
ORACLES["levenshtein_pairs"] = ORACLE_LEVENSHTEIN_PAIRS


def q_functional_dependency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency mining over candidate column pairs — the
    constraint-discovery pass a data-quality pipeline runs before
    declaring schema contracts. For each candidate LHS→RHS: the
    number of LHS groups, how many of them violate (≥2 RHS variants),
    the worst variant count, and the G3 repair cost (minimum rows to
    delete so the FD holds = Σ over groups of rows − modal-RHS rows).
    Each FD is two hash aggregates (groupBy(lhs, rhs) then
    groupBy(lhs)) — map-side partials, no buffering aggregates, no
    windows; candidates union into one report."""
    fds = [
        ("part", "p_brand", "p_type"),
        ("part", "p_type", "p_size"),
        ("part", "p_name", "p_brand"),
        ("customer", "c_nationkey", "c_mktsegment"),
        ("orders", "o_custkey", "o_orderpriority"),
    ]
    outs = []
    for tbl, lhs, rhs in fds:
        t = load_table(spark, sf_dir, tbl).select(
            F.col(lhs).cast("string").alias("lhs"),
            F.col(rhs).cast("string").alias("rhs"),
        )
        g = t.groupBy("lhs", "rhs").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        per_lhs = g.groupBy("lhs").agg(
            F.sum("cnt").cast("long").alias("tot"),
            F.max("cnt").cast("long").alias("mx"),
            F.count(F.lit(1)).cast("long").alias("n_rhs"),
        )
        outs.append(
            per_lhs.agg(
                F.lit(f"{tbl}.{lhs}->{rhs}").alias("fd"),
                F.count(F.lit(1)).cast("long").alias("lhs_groups"),
                F.sum((F.col("n_rhs") > 1).cast("long"))
                .cast("long")
                .alias("violating_groups"),
                F.max("n_rhs").cast("long").alias("max_rhs_variants"),
                F.sum(F.col("tot") - F.col("mx")).cast("long").alias("g3_rows"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def _fd_oracle_block(tbl: str, lhs: str, rhs: str) -> str:
    return f"""
SELECT '{tbl}.{lhs}->{rhs}' AS fd,
       CAST(COUNT(*) AS BIGINT) AS lhs_groups,
       CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS violating_groups,
       CAST(MAX(n_rhs) AS BIGINT) AS max_rhs_variants,
       CAST(SUM(tot - mx) AS BIGINT) AS g3_rows
FROM (
  SELECT lhs, CAST(SUM(cnt) AS BIGINT) AS tot, CAST(MAX(cnt) AS BIGINT) AS mx,
         CAST(COUNT(*) AS BIGINT) AS n_rhs
  FROM (SELECT CAST({lhs} AS VARCHAR) AS lhs, CAST({rhs} AS VARCHAR) AS rhs,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM {tbl} GROUP BY 1, 2)
  GROUP BY lhs)
"""


ORACLE_FUNCTIONAL_DEPENDENCY_AUDIT = " UNION ALL ".join(
    _fd_oracle_block(t, l, r)
    for t, l, r in [
        ("part", "p_brand", "p_type"),
        ("part", "p_type", "p_size"),
        ("part", "p_name", "p_brand"),
        ("customer", "c_nationkey", "c_mktsegment"),
        ("orders", "o_custkey", "o_orderpriority"),
    ]
)

QUERIES["functional_dependency_audit"] = q_functional_dependency_audit
ORACLES["functional_dependency_audit"] = ORACLE_FUNCTIONAL_DEPENDENCY_AUDIT


def q_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword scoring (Rose et al.): tokens between stopword
    delimiters form candidate phrases; a word's score is
    degree/frequency where degree sums the lengths of every phrase it
    appears in — the cheap unsupervised keyword extractor that
    complements the corpus's TF-IDF/PMI/χ² rankers with
    phrase-cooccurrence structure. Plan: posexplode tokens, per-doc
    running stopword count assigns phrase ids (window partitioned by
    the HIGH-cardinality doc_id — never low-par), phrase lengths join
    back on (doc, phrase), then one word-keyed aggregate; score is
    exact integer micro via `div`, top-20 total-ordered (score desc,
    word) through TakeOrderedAndProject. Stopword list is the shared
    `operators.text.STOPWORDS`."""
    from pyspark.sql import Window

    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.text import (
        STOPWORDS,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = d.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok"),
    )
    is_stop = F.col("tok").isin(*STOPWORDS)
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ph = toks.withColumn("phrase_id", F.sum(is_stop.cast("int")).over(w))
    words = ph.filter(~is_stop).select("doc_id", "phrase_id", "tok")
    plens = words.groupBy("doc_id", "phrase_id").agg(
        F.count(F.lit(1)).cast("long").alias("plen")
    )
    stats = (
        words.join(plens, ["doc_id", "phrase_id"])
        .groupBy("tok")
        .agg(
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum("plen").cast("long").alias("degree"),
        )
    )
    scored = stats.withColumn(
        "score_micro", F.expr("(degree * 1000000) div freq")
    )
    return scored.orderBy(
        F.col("score_micro").desc(), F.col("tok").asc()
    ).limit(20)


def _oracle_rake(stop_sql: str) -> str:
    return f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
pos AS (
  SELECT doc_id, i AS pos, t[i] AS tok
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t))) AS i) g),
ph AS (
  SELECT doc_id, tok,
         CASE WHEN tok IN ({stop_sql}) THEN 1 ELSE 0 END AS is_stop,
         SUM(CASE WHEN tok IN ({stop_sql}) THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING)
           AS phrase_id
  FROM pos),
words AS (SELECT doc_id, phrase_id, tok FROM ph WHERE is_stop = 0),
plens AS (
  SELECT doc_id, phrase_id, CAST(COUNT(*) AS BIGINT) AS plen
  FROM words GROUP BY doc_id, phrase_id),
stats AS (
  SELECT w.tok, CAST(COUNT(*) AS BIGINT) AS freq,
         CAST(SUM(p.plen) AS BIGINT) AS degree
  FROM words w JOIN plens p USING (doc_id, phrase_id)
  GROUP BY w.tok)
SELECT tok, freq, degree, degree * 1000000 // freq AS score_micro
FROM stats ORDER BY score_micro DESC, tok ASC LIMIT 20
"""


from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.text import (  # noqa: E402
    STOPWORDS as _RAKE_STOPWORDS,
)

ORACLE_RAKE_KEYPHRASES = _oracle_rake(
    ", ".join(f"'{s}'" for s in _RAKE_STOPWORDS)
)

QUERIES["rake_keyphrases"] = q_rake_keyphrases
ORACLES["rake_keyphrases"] = ORACLE_RAKE_KEYPHRASES


def q_limit_offset_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pagination page 3 (rows 41–60) of orders by total price — pins
    Spark SQL's LIMIT ... OFFSET support and its physical form: the
    sort stays a top-(limit+offset) TakeOrderedAndProject, never a
    global sort (the executor-side cost of page N is O(N·page), which
    is why a 100 TB service should switch to keyset predicates for
    deep pages — this query documents the shallow-page case the
    optimizer DOES handle well). Total-ordered tiebreak on the unique
    key; projected values pass through unchanged, so the double sort
    key is hash-safe."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("_page_orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice, o_orderpriority
        FROM _page_orders
        ORDER BY o_totalprice DESC, o_orderkey ASC
        LIMIT 20 OFFSET 40
        """
    )


ORACLE_LIMIT_OFFSET_PAGE = """
SELECT o_orderkey, o_totalprice, o_orderpriority
FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 20 OFFSET 40
"""

QUERIES["limit_offset_page"] = q_limit_offset_page
ORACLES["limit_offset_page"] = ORACLE_LIMIT_OFFSET_PAGE


def q_jsd_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between the token distributions of
    two corpus halves (sources src0-9 vs src10-19) — the
    train-vs-new-crawl drift check a data pipeline runs before mixing
    a new source in. One token-keyed hash aggregate with conditional
    half counts (dense — no missing-token asymmetry), totals
    broadcast back; each token's JSD term ½·p·ln(2p/(p+q)) +
    ½·q·ln(2q/(p+q)) is computed as an IDENTICAL scalar expression
    tree on exact integer inputs on both engines (r9 float taxonomy
    class 1: composed expression arithmetic is bit-equal), rounded to
    integer micro-nats PER TOKEN (the `source_lang_entropy`
    precedent), then order-free BIGINT-summed. 0·ln(0) handled by
    identical CASE guards."""
    d = load_table(spark, sf_dir, "documents").select("source", "text")
    half_a = F.expr("CAST(substring(source, 4) AS INT) < 10")
    toks = d.select(
        half_a.alias("ha"), F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    per_tok = toks.groupBy("tok").agg(
        F.sum(F.col("ha").cast("long")).cast("long").alias("na"),
        F.sum((~F.col("ha")).cast("long")).cast("long").alias("nb"),
    )
    tot = per_tok.agg(
        F.sum("na").cast("long").alias("ta"), F.sum("nb").cast("long").alias("tb")
    )
    term = F.expr(
        """
        CAST(round((
          CASE WHEN na = 0 THEN 0.0
               ELSE 0.5 * (na / ta) * ln(2 * (na / ta) / (na / ta + nb / tb))
          END
          +
          CASE WHEN nb = 0 THEN 0.0
               ELSE 0.5 * (nb / tb) * ln(2 * (nb / tb) / (na / ta + nb / tb))
          END) * 1000000) AS BIGINT)
        """
    )
    return (
        per_tok.crossJoin(F.broadcast(tot))
        .select(term.alias("term_micro"), "ta", "tb")
        .groupBy("ta", "tb")
        .agg(
            F.count(F.lit(1)).cast("long").alias("vocab_size"),
            F.sum("term_micro").cast("long").alias("jsd_micronats"),
        )
        .select(
            F.col("ta").alias("tokens_a"),
            F.col("tb").alias("tokens_b"),
            "vocab_size",
            "jsd_micronats",
        )
    )


ORACLE_JSD_SOURCE_DIVERGENCE = """
WITH toks AS (
  SELECT CAST(substr(source, 4) AS INT) < 10 AS ha,
         unnest(string_split(text, ' ')) AS tok
  FROM documents),
per_tok AS (
  SELECT tok,
         CAST(SUM(CASE WHEN ha THEN 1 ELSE 0 END) AS BIGINT) AS na,
         CAST(SUM(CASE WHEN ha THEN 0 ELSE 1 END) AS BIGINT) AS nb
  FROM toks GROUP BY tok),
tot AS (
  SELECT CAST(SUM(na) AS BIGINT) AS ta, CAST(SUM(nb) AS BIGINT) AS tb
  FROM per_tok),
terms AS (
  SELECT ta, tb,
         CAST(round((
           CASE WHEN na = 0 THEN 0.0
                ELSE 0.5 * (na / ta) * ln(2 * (na / ta) / (na / ta + nb / tb))
           END
           +
           CASE WHEN nb = 0 THEN 0.0
                ELSE 0.5 * (nb / tb) * ln(2 * (nb / tb) / (na / ta + nb / tb))
           END) * 1000000) AS BIGINT) AS term_micro
  FROM per_tok, tot)
SELECT ta AS tokens_a, tb AS tokens_b,
       CAST(COUNT(*) AS BIGINT) AS vocab_size,
       CAST(SUM(term_micro) AS BIGINT) AS jsd_micronats
FROM terms GROUP BY ta, tb
"""

QUERIES["jsd_source_divergence"] = q_jsd_source_divergence
ORACLES["jsd_source_divergence"] = ORACLE_JSD_SOURCE_DIVERGENCE


def q_rle_compression_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-planning audit: estimated run-length-encoding runs and
    dictionary sizes per lineitem column under the natural
    (l_orderkey, l_linenumber) clustering — what a lake optimizer
    consults before choosing column encodings; runs reset per order,
    modeling page-level RLE in row groups. One window pass (lag over
    the HIGH-cardinality l_orderkey partition — never low-par)
    computes run starts for four columns at once; distinct counts
    ride one multi-distinct aggregate; ratios are integer micro via
    `div`. A run-heavy column (returnflag: few runs per order) vs a
    run-free one (quantity) quantifies the encoding choice."""
    from pyspark.sql import Window

    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_returnflag").alias("c_flag"),
        F.col("l_linestatus").alias("c_status"),
        F.round(F.col("l_quantity") * 100).cast("long").alias("c_qty"),
        epoch_us(F.col("l_shipdate")).alias("c_ship"),
    )
    # (l_orderkey, l_linenumber) is NOT unique in this generator —
    # tiebreak on the compared columns themselves, so rows tied on the
    # full sort key are value-identical and the run structure is
    # order-independent on both engines
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "c_flag", "c_status", "c_qty", "c_ship"
    )
    runs = l.select(
        "c_flag",
        "c_status",
        "c_qty",
        "c_ship",
        *[
            (F.lag(F.col(c)).over(w).isNull() | (F.col(c) != F.lag(F.col(c)).over(w)))
            .cast("long")
            .alias(f"st_{c}")
            for c in ("c_flag", "c_status", "c_qty", "c_ship")
        ],
    ).agg(*[F.sum(f"st_{c}").cast("long").alias(f"runs_{c}") for c in ("c_flag", "c_status", "c_qty", "c_ship")])
    dist = l.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        *[
            F.countDistinct(c).cast("long").alias(f"dist_{c}")
            for c in ("c_flag", "c_status", "c_qty", "c_ship")
        ],
    )
    wide = runs.crossJoin(F.broadcast(dist))
    stacked = wide.select(
        "n_rows",
        F.expr(
            "stack(4,"
            " 'l_returnflag', runs_c_flag, dist_c_flag,"
            " 'l_linestatus', runs_c_status, dist_c_status,"
            " 'l_quantity', runs_c_qty, dist_c_qty,"
            " 'l_shipdate', runs_c_ship, dist_c_ship"
            ") AS (col_name, n_runs, n_distinct)"
        ),
    )
    return stacked.select(
        "col_name",
        "n_rows",
        "n_runs",
        "n_distinct",
        F.expr("(n_runs * 1000000) div n_rows").alias("rle_ratio_micro"),
        F.expr("(n_distinct * 1000000) div n_rows").alias("dict_ratio_micro"),
    )


ORACLE_RLE_COMPRESSION_ESTIMATE = """
WITH base AS (
  SELECT l_orderkey, l_linenumber,
         l_returnflag AS c_flag, l_linestatus AS c_status,
         CAST(round(l_quantity * 100) AS BIGINT) AS c_qty,
         epoch_us(l_shipdate) AS c_ship
  FROM lineitem),
st AS (
  SELECT
    CASE WHEN lag(c_flag) OVER w IS NULL
           OR c_flag <> lag(c_flag) OVER w THEN 1 ELSE 0 END AS st_flag,
    CASE WHEN lag(c_status) OVER w IS NULL
           OR c_status <> lag(c_status) OVER w THEN 1 ELSE 0 END AS st_status,
    CASE WHEN lag(c_qty) OVER w IS NULL
           OR c_qty <> lag(c_qty) OVER w THEN 1 ELSE 0 END AS st_qty,
    CASE WHEN lag(c_ship) OVER w IS NULL
           OR c_ship <> lag(c_ship) OVER w THEN 1 ELSE 0 END AS st_ship
  FROM base
  WINDOW w AS (PARTITION BY l_orderkey
               ORDER BY l_linenumber, c_flag, c_status, c_qty, c_ship)),
runs AS (
  SELECT CAST(SUM(st_flag) AS BIGINT) AS runs_flag,
         CAST(SUM(st_status) AS BIGINT) AS runs_status,
         CAST(SUM(st_qty) AS BIGINT) AS runs_qty,
         CAST(SUM(st_ship) AS BIGINT) AS runs_ship
  FROM st),
dist AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(DISTINCT c_flag) AS BIGINT) AS dist_flag,
         CAST(COUNT(DISTINCT c_status) AS BIGINT) AS dist_status,
         CAST(COUNT(DISTINCT c_qty) AS BIGINT) AS dist_qty,
         CAST(COUNT(DISTINCT c_ship) AS BIGINT) AS dist_ship
  FROM base),
stacked AS (
  SELECT 'l_returnflag' AS col_name, n_rows, runs_flag AS n_runs,
         dist_flag AS n_distinct FROM runs, dist
  UNION ALL
  SELECT 'l_linestatus', n_rows, runs_status, dist_status FROM runs, dist
  UNION ALL
  SELECT 'l_quantity', n_rows, runs_qty, dist_qty FROM runs, dist
  UNION ALL
  SELECT 'l_shipdate', n_rows, runs_ship, dist_ship FROM runs, dist)
SELECT col_name, n_rows, n_runs, n_distinct,
       (n_runs * 1000000) // n_rows AS rle_ratio_micro,
       (n_distinct * 1000000) // n_rows AS dict_ratio_micro
FROM stacked
"""

QUERIES["rle_compression_estimate"] = q_rle_compression_estimate
ORACLES["rle_compression_estimate"] = ORACLE_RLE_COMPRESSION_ESTIMATE


def q_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking storage dedup: chunk boundaries fall
    AFTER tokens whose md5 lands in a fixed 1-in-8 bucket (the
    gear-hash principle — boundaries are a function of CONTENT, so an
    inserted token shifts only its own chunk, unlike the fixed-size
    chunker in `chunk_level_dedup` where every downstream chunk
    changes). Per-doc running boundary count assigns chunk ids
    (doc_id-partitioned window, high-card); chunk text reassembles
    via sort_array(collect_list(struct(pos, tok))) — bounded by
    construction: a chunk never exceeds its document, and documents
    are generator-bounded (~n_chars ≤ a few hundred tokens), the same
    boundedness class as per-order lines. Output is the dedup
    accounting a chunk store reports: total vs distinct chunks,
    logical vs stored bytes, savings in integer micro."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = d.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok"),
    )
    boundary = (
        F.conv(F.substring(F.md5(F.col("tok")), 1, 4), 16, 10).cast("long") % 8
    ) == 0
    from pyspark.sql import Window

    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunked = toks.withColumn(
        "chunk_id",
        F.coalesce(F.sum(boundary.cast("long")).over(w), F.lit(0)).cast("long"),
    )
    chunks = chunked.groupBy("doc_id", "chunk_id").agg(
        F.concat_ws(
            " ",
            F.expr("transform(sort_array(collect_list(struct(pos, tok))), x -> x.tok)"),
        ).alias("chunk_text")
    )
    hashed = chunks.select(
        F.md5(F.col("chunk_text")).alias("h"),
        F.length(F.col("chunk_text")).cast("long").alias("bytes"),
    )
    stored = hashed.groupBy("h").agg(F.min("bytes").alias("sbytes"))
    tot = hashed.agg(
        F.count(F.lit(1)).cast("long").alias("total_chunks"),
        F.sum("bytes").cast("long").alias("logical_bytes"),
    )
    st = stored.agg(
        F.count(F.lit(1)).cast("long").alias("distinct_chunks"),
        F.sum("sbytes").cast("long").alias("stored_bytes"),
    )
    return tot.crossJoin(F.broadcast(st)).select(
        "total_chunks",
        "distinct_chunks",
        "logical_bytes",
        "stored_bytes",
        F.expr(
            "((logical_bytes - stored_bytes) * 1000000) div logical_bytes"
        ).alias("savings_micro"),
    )


ORACLE_CDC_CHUNK_DEDUP = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
pos AS (
  SELECT doc_id, i AS pos, t[i] AS tok
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t))) AS i) g),
marked AS (
  SELECT doc_id, pos, tok,
         CASE WHEN ('0x' || substr(md5(tok), 1, 4))::BIGINT % 8 = 0
              THEN 1 ELSE 0 END AS b
  FROM pos),
chunked AS (
  SELECT doc_id, pos, tok,
         CAST(COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS chunk_id
  FROM marked),
chunks AS (
  SELECT doc_id, chunk_id,
         string_agg(tok, ' ' ORDER BY pos) AS chunk_text
  FROM chunked GROUP BY doc_id, chunk_id),
hashed AS (
  SELECT md5(chunk_text) AS h, CAST(length(chunk_text) AS BIGINT) AS bytes
  FROM chunks),
stored AS (SELECT h, MIN(bytes) AS sbytes FROM hashed GROUP BY h),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS total_chunks,
         CAST(SUM(bytes) AS BIGINT) AS logical_bytes
  FROM hashed),
st AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS distinct_chunks,
         CAST(SUM(sbytes) AS BIGINT) AS stored_bytes
  FROM stored)
SELECT total_chunks, distinct_chunks, logical_bytes, stored_bytes,
       ((logical_bytes - stored_bytes) * 1000000) // logical_bytes
         AS savings_micro
FROM tot, st
"""

QUERIES["cdc_chunk_dedup"] = q_cdc_chunk_dedup
ORACLES["cdc_chunk_dedup"] = ORACLE_CDC_CHUNK_DEDUP


def q_stream_two_level_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained streaming aggregation (streaming.windowed.
    two_level_windowed_counts_once): 15-min windows roll up to hourly
    totals in one query — two stateful operators, append mode. The
    oracle replays the bounded-run emission rule: hours with end ≤ W
    (max event time ms-truncated − 10 min lateness), n_quarters =
    distinct non-empty 15-min buckets per (hour, type)."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.windowed import (
        two_level_windowed_counts_once,
    )

    out = two_level_windowed_counts_once(
        spark,
        f"{sf_dir}/events.parquet",
        lateness="10 minutes",
        group_cols=["event_type"],
    )
    return out.select(
        epoch_us(F.col("window_start")).alias("window_start_us"),
        "event_type",
        "n_events",
        "n_quarters",
    )


ORACLE_STREAM_TWO_LEVEL_HOURLY = """
WITH w AS (
  SELECT (epoch_us(max(ts)) // 1000) * 1000 - 600000000 AS v FROM events),
q AS (
  SELECT event_type,
         (epoch_us(ts) // 900000000) * 900000000 AS qs,
         (epoch_us(ts) // 3600000000) * 3600000000 AS hs
  FROM events),
qagg AS (
  SELECT event_type, hs, qs, CAST(COUNT(*) AS BIGINT) AS qn
  FROM q GROUP BY event_type, hs, qs)
SELECT hs AS window_start_us, event_type,
       CAST(SUM(qn) AS BIGINT) AS n_events,
       CAST(COUNT(*) AS BIGINT) AS n_quarters
FROM qagg, w
GROUP BY hs, event_type, w.v
HAVING hs + 3600000000 <= w.v
"""

QUERIES["stream_two_level_hourly"] = q_stream_two_level_hourly
ORACLES["stream_two_level_hourly"] = ORACLE_STREAM_TWO_LEVEL_HOURLY


def q_pinball_loss_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-forecast evaluation: pinball (tau-quantile) loss of
    the per-type discrete p90 predictor over event values — the
    scoring rule that certifies a p90 SLA forecast. The predictor is
    the ceil(0.9·n)-th order statistic per type (percentile_disc
    convention), computed scale-safely via `grouped_rank` (composite
    range sort; no per-group buffering, no low-par window) and
    broadcast back as a 5-row bounds table; the loss is EXACT integer
    tenths-of-cents: tau=0.9 ⇒ per-row loss·10 = 9·(y−q) if y ≥ q
    else 1·(q−y), summed as BIGINT, one `div` to micro-cents at the
    end."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.windows import (
        grouped_rank,
    )

    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    ranked = grouped_rank(e, ["event_type"], ["v", "event_id"], rank_col="r")
    counts = e.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("n"))
    q90 = (
        ranked.join(F.broadcast(counts), "event_type")
        .filter(F.col("r") == F.expr("(9 * n + 9) div 10"))
        .select("event_type", F.col("v").alias("q90"), "n")
    )
    loss = (
        e.join(F.broadcast(q90), "event_type")
        .select(
            "event_type",
            "n",
            "q90",
            F.when(
                F.col("v") >= F.col("q90"), 9 * (F.col("v") - F.col("q90"))
            )
            .otherwise(F.col("q90") - F.col("v"))
            .alias("l10"),
        )
        .groupBy("event_type", "n", "q90")
        .agg(F.sum("l10").cast("long").alias("pinball10_sum"))
    )
    return loss.select(
        "event_type",
        "n",
        F.col("q90").alias("q90_cents"),
        "pinball10_sum",
        F.expr("(pinball10_sum * 100000) div n").alias("avg_pinball_micro"),
    )


ORACLE_PINBALL_LOSS_EVAL = """
WITH base AS (
  SELECT event_type, event_id, CAST(round(value * 100) AS BIGINT) AS v
  FROM events),
q AS (
  SELECT event_type, CAST(quantile_disc(v, 0.9) AS BIGINT) AS q90,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM base GROUP BY event_type)
SELECT b.event_type, q.n, q.q90 AS q90_cents,
       CAST(SUM(CASE WHEN b.v >= q.q90 THEN 9 * (b.v - q.q90)
                     ELSE q.q90 - b.v END) AS BIGINT) AS pinball10_sum,
       CAST(SUM(CASE WHEN b.v >= q.q90 THEN 9 * (b.v - q.q90)
                     ELSE q.q90 - b.v END) AS BIGINT) * 100000 // q.n
         AS avg_pinball_micro
FROM base b JOIN q ON b.event_type = q.event_type
GROUP BY b.event_type, q.n, q.q90
"""

QUERIES["pinball_loss_eval"] = q_pinball_loss_eval
ORACLES["pinball_loss_eval"] = ORACLE_PINBALL_LOSS_EVAL


def q_brier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score of the md5 click scorer (same deterministic scorer
    as `calibration_ece`/`auc_rank_eval`, completing the
    proper-scoring-rule triad): mean squared error between predicted
    probability (micro units) and the binary click label. One
    map-side-partial pass; the squared-error sum is EXACT in
    DECIMAL(38,0)/HUGEINT (per-row (p_micro − y·1e6)² ≤ 1e12; the sum
    exceeds int64 at ~1e7 rows — the subsample_ci exact-moments
    idiom), and the score is ONE double division on identical exact
    inputs, 6dp."""
    e = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    h = F.md5(F.concat(F.lit("auc:"), F.col("event_id").cast("string")))
    s = (F.conv(F.substring(h, 1, 6), 16, 10).cast("long") % 500).alias("s")
    y = (F.col("event_type") == "click").cast("long").alias("y")
    base = e.select(s, y).select(
        (F.col("s") * 2000).alias("p_micro"), "y"
    )
    d = (F.col("p_micro") - F.col("y") * 1000000).cast("decimal(19,0)")
    agg = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
        F.sum(d * d).alias("_se"),
    )
    return agg.select(
        "n",
        "n_pos",
        F.round(
            F.col("_se").cast("double")
            / (F.col("n").cast("double") * F.lit(1000000000000.0)),
            6,
        ).alias("brier"),
    )


ORACLE_BRIER_SCORE = """
WITH base AS (
  SELECT (('0x' || substr(md5('auc:' || CAST(event_id AS VARCHAR)), 1, 6))::BIGINT
            % 500) * 2000 AS p_micro,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS y
  FROM events),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS n_pos,
         SUM(CAST(p_micro - y * 1000000 AS HUGEINT)
             * CAST(p_micro - y * 1000000 AS HUGEINT)) AS se
  FROM base)
SELECT n, n_pos,
       round(CAST(se AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000000000.0), 6)
         AS brier
FROM agg
"""

QUERIES["brier_score"] = q_brier_score
ORACLES["brier_score"] = ORACLE_BRIER_SCORE


def q_reciprocal_best_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-nearest record linkage: a deterministic leet-corrupted
    copy of the part-name domain (translate 'aeo'→'430' — the same
    corruption on both engines) links back to the clean domain; a
    pair survives only if each side is the OTHER's argmin-Levenshtein
    match (reciprocal best match — the ER refinement that kills the
    asymmetric false links a one-directional argmax keeps). Both
    sides collapse to their DISTINCT name domains first
    (domain-bounded, like `levenshtein_pairs`), so the all-pairs
    scoring is |domain|² on tiny inputs at any SF; argmins are exact
    integer (dist, name) struct-mins — total-ordered, no similarity
    floats anywhere."""
    p = load_table(spark, sf_dir, "part").select("p_name")
    clean = p.distinct().select(F.col("p_name").alias("clean"))
    dirty = clean.select(
        F.translate(F.col("clean"), "aeo", "430").alias("dirty")
    ).distinct()
    scored = dirty.crossJoin(clean).select(
        "dirty",
        "clean",
        F.levenshtein(F.col("dirty"), F.col("clean")).cast("long").alias("dist"),
    )
    best_d = scored.groupBy("dirty").agg(
        F.min(F.struct("dist", "clean")).alias("bd")
    ).select("dirty", F.col("bd.clean").alias("clean"), F.col("bd.dist").alias("dist"))
    best_c = scored.groupBy("clean").agg(
        F.min(F.struct("dist", "dirty")).alias("bc")
    ).select("clean", F.col("bc.dirty").alias("dirty"))
    return best_d.join(best_c, ["dirty", "clean"]).select(
        "dirty", "clean", "dist"
    )


ORACLE_RECIPROCAL_BEST_MATCH = """
WITH clean AS (SELECT DISTINCT p_name AS clean FROM part),
dirty AS (SELECT DISTINCT translate(clean, 'aeo', '430') AS dirty FROM clean),
scored AS (
  SELECT d.dirty, c.clean,
         CAST(levenshtein(d.dirty, c.clean) AS BIGINT) AS dist
  FROM dirty d CROSS JOIN clean c),
best_d AS (
  SELECT dirty, clean, dist
  FROM scored
  QUALIFY row_number() OVER (PARTITION BY dirty ORDER BY dist, clean) = 1),
best_c AS (
  SELECT clean, dirty
  FROM scored
  QUALIFY row_number() OVER (PARTITION BY clean ORDER BY dist, dirty) = 1)
SELECT d.dirty, d.clean, d.dist
FROM best_d d JOIN best_c c ON d.dirty = c.dirty AND d.clean = c.clean
"""

QUERIES["reciprocal_best_match"] = q_reciprocal_best_match
ORACLES["reciprocal_best_match"] = ORACLE_RECIPROCAL_BEST_MATCH


def q_golden_record_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIELD-LEVEL survivorship merge (the golden-record builder): per
    user the latest NON-ERROR value and the latest event type come
    from DIFFERENT rows when the newest event is an error — the
    per-field coalesce that row-level LWW (`cdc_last_write_wins`)
    cannot express. One hash aggregate of conditional struct-maxes
    (total-ordered by (ts, event_id) — unique, so deterministic), no
    windows, no buffering; Spark struct max == DuckDB QUALIFY
    row_number parity (the `touch_attribution_split` ordering pin)."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("v"),
        epoch_us(F.col("ts")).alias("us"),
    )
    nonerr = F.col("event_type") != "error"
    g = e.groupBy("user_id").agg(
        F.max(F.when(nonerr, F.struct("us", "event_id", "v"))).alias("mv"),
        F.max(F.struct("us", "event_id", "event_type")).alias("mt"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(nonerr.cast("long")).cast("long").alias("n_nonerror"),
    )
    return g.select(
        "user_id",
        F.col("mv.v").alias("latest_value_cents"),
        F.col("mv.us").alias("value_ts_us"),
        F.col("mt.event_type").alias("latest_type"),
        "n_events",
        "n_nonerror",
    )


ORACLE_GOLDEN_RECORD_SURVIVORSHIP = """
WITH base AS (
  SELECT user_id, event_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS v,
         epoch_us(ts) AS us
  FROM events),
lv AS (
  SELECT user_id, v, us
  FROM base WHERE event_type <> 'error'
  QUALIFY row_number() OVER (PARTITION BY user_id
                             ORDER BY us DESC, event_id DESC) = 1),
lt AS (
  SELECT user_id, event_type
  FROM base
  QUALIFY row_number() OVER (PARTITION BY user_id
                             ORDER BY us DESC, event_id DESC) = 1),
cnt AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CASE WHEN event_type <> 'error' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_nonerror
  FROM base GROUP BY user_id)
SELECT c.user_id,
       lv.v AS latest_value_cents,
       lv.us AS value_ts_us,
       lt.event_type AS latest_type,
       c.n_events, c.n_nonerror
FROM cnt c
LEFT JOIN lv ON c.user_id = lv.user_id
JOIN lt ON c.user_id = lt.user_id
"""

QUERIES["golden_record_survivorship"] = q_golden_record_survivorship
ORACLES["golden_record_survivorship"] = ORACLE_GOLDEN_RECORD_SURVIVORSHIP


def q_kaplan_meier_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimate for time-to-first-error per user
    (right-censored at corpus end — the churn/TTF analysis a
    reliability pipeline runs). The fact table collapses to ONE row
    per user (first event, first error — conditional min aggregates),
    durations land on an HOUR grid bounded by the calendar span
    (≤ ~720 rows at any SF — the bounded-domain window class, like
    `auc_rank_eval`'s histogram): at-risk counts are a suffix sum and
    survival is reported as the INTEGER cumulative log
    Σ round(ln(1 − d/n)·1e6) — per-term rounding then order-free
    integer summation (the entropy precedent), NO float product chain
    and no exp, so there is nothing accumulation-order-dependent to
    flake. hazard_micro = d·1e6 div n exact."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", epoch_us(F.col("ts")).alias("us")
    )
    span = e.agg(F.max("us").alias("mx"))
    per_user = e.groupBy("user_id").agg(
        F.min("us").alias("first_us"),
        F.min(F.when(F.col("event_type") == "error", F.col("us"))).alias(
            "err_us"
        ),
    )
    hours = 3600000000
    u = per_user.crossJoin(F.broadcast(span)).select(
        "user_id",
        F.when(F.col("err_us").isNotNull(), 1).otherwise(0).alias("death"),
        F.expr(
            f"(coalesce(err_us, mx) - first_us) div {hours}"
        ).alias("t_hour"),
    )
    grid = u.groupBy("t_hour").agg(
        F.sum("death").cast("long").alias("d"),
        F.sum(1 - F.col("death")).cast("long").alias("c"),
    )
    w_suffix = (
        Window.orderBy(F.col("t_hour").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    risk = grid.withColumn(
        "n_risk", F.sum(F.col("d") + F.col("c")).over(w_suffix).cast("long")
    )
    # d = n_risk absorbs survival at exactly 0 (ln would be -inf; DuckDB
    # raises on ln(0)) — from that row on, log-survival is NULL and the
    # surv_zero flag is set, identically on both engines
    term = F.expr(
        "CASE WHEN d = 0 OR d = n_risk THEN CAST(0 AS BIGINT)"
        " ELSE CAST(round(ln(1 - d / n_risk) * 1000000) AS BIGINT) END"
    )
    w_cum = Window.orderBy("t_hour").rowsBetween(Window.unboundedPreceding, 0)
    out = (
        risk.withColumn("term_micro", term)
        .withColumn("_zero", (F.col("d") == F.col("n_risk")).cast("long"))
        .withColumn("_cumzero", F.sum("_zero").over(w_cum).cast("long"))
        .withColumn(
            "log_surv_micro",
            F.when(
                F.col("_cumzero") == 0, F.sum("term_micro").over(w_cum)
            ).cast("long"),
        )
    )
    return out.select(
        "t_hour",
        "n_risk",
        "d",
        "c",
        F.expr("(d * 1000000) div n_risk").alias("hazard_micro"),
        "log_surv_micro",
        (F.col("_cumzero") > 0).alias("surv_zero"),
    )


ORACLE_KAPLAN_MEIER_CHURN = """
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
span AS (SELECT MAX(us) AS mx FROM e),
per_user AS (
  SELECT user_id, MIN(us) AS first_us,
         MIN(CASE WHEN event_type = 'error' THEN us END) AS err_us
  FROM e GROUP BY user_id),
u AS (
  SELECT user_id,
         CASE WHEN err_us IS NOT NULL THEN 1 ELSE 0 END AS death,
         (COALESCE(err_us, mx) - first_us) // 3600000000 AS t_hour
  FROM per_user, span),
grid AS (
  SELECT t_hour, CAST(SUM(death) AS BIGINT) AS d,
         CAST(SUM(1 - death) AS BIGINT) AS c
  FROM u GROUP BY t_hour),
risk AS (
  SELECT *, CAST(SUM(d + c) OVER (ORDER BY t_hour DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS n_risk
  FROM grid),
terms AS (
  SELECT *, CASE WHEN d = 0 OR d = n_risk THEN CAST(0 AS BIGINT)
                 ELSE CAST(round(ln(1 - d / n_risk) * 1000000) AS BIGINT)
            END AS term_micro,
         CASE WHEN d = n_risk THEN 1 ELSE 0 END AS zerof
  FROM risk),
cum AS (
  SELECT *, CAST(SUM(zerof) OVER (ORDER BY t_hour
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS cumzero,
         CAST(SUM(term_micro) OVER (ORDER BY t_hour
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS cumterm
  FROM terms)
SELECT t_hour, n_risk, d, c,
       (d * 1000000) // n_risk AS hazard_micro,
       CASE WHEN cumzero = 0 THEN cumterm END AS log_surv_micro,
       cumzero > 0 AS surv_zero
FROM cum
"""

QUERIES["kaplan_meier_churn"] = q_kaplan_meier_churn
ORACLES["kaplan_meier_churn"] = ORACLE_KAPLAN_MEIER_CHURN


def q_bitemporal_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITEMPORAL as-of lookup: purchase events are value versions
    with VALID time = event time and TRANSACTION time = event time +
    a deterministic md5 processing delay (0-59 min — late-arriving
    corrections). For each user: the value as of valid time V (day 20)
    *as known at* T = V + 10 min, versus as known NOW (corpus end) —
    rows that differ are versions valid before V but not yet ingested
    at T, the divergence only a bitemporal store can expose (SCD2
    tracks one time axis). One hash aggregate of two conditional
    struct-maxes (total-ordered by (valid_us, event_id)); no windows,
    no buffering."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    v = e.select(
        "user_id",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        epoch_us(F.col("ts")).alias("valid_us"),
    ).withColumn(
        "tx_us",
        F.col("valid_us")
        + (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("tx:"), F.col("event_id").cast("string"))),
                    1,
                    6,
                ),
                16,
                10,
            ).cast("long")
            % 60
        )
        * 60000000,
    )
    bounds = v.agg(
        F.min("valid_us").alias("mn"), F.max("tx_us").alias("mx")
    ).select(
        (F.col("mn") + F.lit(20 * 86400000000)).alias("v_time"),
        (F.col("mn") + F.lit(20 * 86400000000) + F.lit(600000000)).alias("t_time"),
        "mx",
    )
    j = v.crossJoin(F.broadcast(bounds))
    at_t = F.when(
        (F.col("valid_us") <= F.col("v_time")) & (F.col("tx_us") <= F.col("t_time")),
        F.struct("valid_us", "event_id", "cents"),
    )
    now = F.when(
        (F.col("valid_us") <= F.col("v_time")) & (F.col("tx_us") <= F.col("mx")),
        F.struct("valid_us", "event_id", "cents"),
    )
    g = j.groupBy("user_id").agg(
        F.max(at_t).alias("kt"), F.max(now).alias("kn")
    )
    return (
        g.filter(F.col("kn").isNotNull())
        .select(
            "user_id",
            F.col("kt.cents").alias("value_known_at_t"),
            F.col("kn.cents").alias("value_known_now"),
            (
                F.col("kt.cents").isNull()
                | (F.col("kt.cents") != F.col("kn.cents"))
            ).alias("revised"),
        )
    )


ORACLE_BITEMPORAL_ASOF = """
WITH v AS (
  SELECT user_id, event_id,
         CAST(round(value * 100) AS BIGINT) AS cents,
         epoch_us(ts) AS valid_us,
         epoch_us(ts)
           + (('0x' || substr(md5('tx:' || CAST(event_id AS VARCHAR)), 1, 6))::BIGINT
              % 60) * 60000000 AS tx_us
  FROM events WHERE event_type = 'purchase'),
bounds AS (
  SELECT MIN(valid_us) + 20 * 86400000000 AS v_time,
         MIN(valid_us) + 20 * 86400000000 + 600000000 AS t_time,
         MAX(tx_us) AS mx
  FROM v),
kt AS (
  SELECT user_id, cents
  FROM v, bounds
  WHERE valid_us <= v_time AND tx_us <= t_time
  QUALIFY row_number() OVER (PARTITION BY user_id
                             ORDER BY valid_us DESC, event_id DESC) = 1),
kn AS (
  SELECT user_id, cents
  FROM v, bounds
  WHERE valid_us <= v_time AND tx_us <= mx
  QUALIFY row_number() OVER (PARTITION BY user_id
                             ORDER BY valid_us DESC, event_id DESC) = 1)
SELECT kn.user_id,
       kt.cents AS value_known_at_t,
       kn.cents AS value_known_now,
       (kt.cents IS NULL OR kt.cents <> kn.cents) AS revised
FROM kn LEFT JOIN kt ON kn.user_id = kt.user_id
"""

QUERIES["bitemporal_asof"] = q_bitemporal_asof
ORACLES["bitemporal_asof"] = ORACLE_BITEMPORAL_ASOF


def q_weighted_price_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted price band (p25/p50/p75) per linestatus via
    `operators.windows.grouped_weighted_quantiles` — all three
    weighted order statistics ride ONE cumulative-weight frame and
    one final aggregate (the multi-point generalization of
    `weighted_median_price`; quantiles passed as exact integer
    rationals so the den·cumw ≥ num·totw boundary never touches
    float). 2-value group key over the fact table — the low-
    cardinality case the two-phase machinery exists for."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.windows import (
        grouped_weighted_quantiles,
    )

    l = load_table(spark, sf_dir, "lineitem").select(
        "l_linestatus",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("price_cents"),
        F.round(F.col("l_quantity") * 100).cast("long").alias("w"),
        "l_orderkey",
        "l_linenumber",
    )
    out = grouped_weighted_quantiles(
        l,
        group_cols=["l_linestatus"],
        value_col="price_cents",
        weight_col="w",
        tiebreak_cols=["l_orderkey", "l_linenumber"],
        quantiles=[(1, 4), (1, 2), (3, 4)],
        prefix="wq",
    )
    return out.select(
        "l_linestatus",
        F.col("wq_1_4").cast("long").alias("p25_cents"),
        F.col("wq_1_2").cast("long").alias("p50_cents"),
        F.col("wq_3_4").cast("long").alias("p75_cents"),
        "total_weight",
    )


ORACLE_WEIGHTED_PRICE_BAND = """
WITH base AS (
  SELECT l_linestatus,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
         CAST(round(l_quantity * 100) AS BIGINT) AS w,
         l_orderkey, l_linenumber
  FROM lineitem),
cum AS (
  SELECT l_linestatus, price_cents,
         SUM(w) OVER (PARTITION BY l_linestatus
                      ORDER BY price_cents, l_orderkey, l_linenumber
                      ROWS UNBOUNDED PRECEDING) AS cumw,
         SUM(w) OVER (PARTITION BY l_linestatus) AS totw
  FROM base)
SELECT l_linestatus,
       CAST(MIN(CASE WHEN 4 * cumw >= totw THEN price_cents END) AS BIGINT)
         AS p25_cents,
       CAST(MIN(CASE WHEN 2 * cumw >= totw THEN price_cents END) AS BIGINT)
         AS p50_cents,
       CAST(MIN(CASE WHEN 4 * cumw >= 3 * totw THEN price_cents END) AS BIGINT)
         AS p75_cents,
       CAST(MIN(totw) AS BIGINT) AS total_weight
FROM cum GROUP BY l_linestatus
"""

QUERIES["weighted_price_band"] = q_weighted_price_band
ORACLES["weighted_price_band"] = ORACLE_WEIGHTED_PRICE_BAND


def _dp_mean_noise_cents(seed: str = "dpmean:v1", cap_cents: int = 20000) -> int:
    """Frozen Laplace draw for the clipped-mean release: u from the
    seed's md5 (48-bit hex → (0,1)), inverse-CDF Laplace with scale
    b = cap/ε (ε=1), in cents. Deterministic-by-seed — the oracle-able
    stand-in for fresh per-release randomness, same convention as
    `_dp_noise_table` (the production mechanism redraws; the Spark
    plumbing is identical)."""
    import hashlib
    import math

    u48 = int(hashlib.md5(seed.encode()).hexdigest()[:12], 16)
    u = (u48 + 0.5) / float(1 << 48)
    b = float(cap_cents)
    x = u - 0.5
    noise = -b * math.copysign(1.0, x) * math.log(1.0 - 2.0 * abs(x))
    return int(round(noise))


def q_dp_clipped_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential-privacy-style CLIPPED MEAN of purchase value: the
    two sensitivity bounds a DP release needs are both enforced
    distributively — per-user contribution bounding (first K=8
    purchase events by (ts, event_id), a row_number window over the
    HIGH-cardinality user key) and value clamping to [0, 200] dollars
    — then one aggregate and a frozen Laplace offset (scale = cap/ε,
    ε=1, deterministic-by-seed literal inlined in BOTH engines; the
    `dp_noisy_histogram` convention). The contribution cap is the
    100 TB-relevant mechanics: without it one hyperactive user's
    10⁶ events dominate sensitivity and the release is vacuous."""
    from pyspark.sql import Window

    cap = 20000
    noise = _dp_mean_noise_cents(cap_cents=cap)
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    v = e.select(
        "user_id",
        "event_id",
        epoch_us(F.col("ts")).alias("us"),
        F.least(
            F.greatest(F.round(F.col("value") * 100).cast("long"), F.lit(0)),
            F.lit(cap),
        ).alias("clipped_cents"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    capped = v.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 8)
    agg = capped.agg(
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.count(F.lit(1)).cast("long").alias("n_contrib"),
        F.sum("clipped_cents").cast("long").alias("clipped_sum"),
    )
    return agg.select(
        "n_users",
        "n_contrib",
        "clipped_sum",
        F.lit(noise).cast("long").alias("noise_cents"),
        F.expr(
            f"((clipped_sum + {noise}) * 1000000) div n_contrib"
        ).alias("noisy_mean_micro"),
    )


def _oracle_dp_clipped_mean() -> str:
    noise = _dp_mean_noise_cents(cap_cents=20000)
    return f"""
WITH v AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         least(greatest(CAST(round(value * 100) AS BIGINT), 0), 20000)
           AS clipped_cents
  FROM events WHERE event_type = 'purchase'),
capped AS (
  SELECT * FROM v
  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY us, event_id) <= 8),
agg AS (
  SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
         CAST(COUNT(*) AS BIGINT) AS n_contrib,
         CAST(SUM(clipped_cents) AS BIGINT) AS clipped_sum
  FROM capped)
SELECT n_users, n_contrib, clipped_sum,
       CAST({noise} AS BIGINT) AS noise_cents,
       ((clipped_sum + {noise}) * 1000000) // n_contrib AS noisy_mean_micro
FROM agg
"""


QUERIES["dp_clipped_mean"] = q_dp_clipped_mean
ORACLES["dp_clipped_mean"] = _oracle_dp_clipped_mean()


def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the part co-purchase graph — the
    Newman coefficient (Pearson correlation of endpoint degrees over
    edges) that tells a GNN/recsys feature pipeline whether hubs link
    to hubs. Edges are the bounded per-order pair fanout
    (`copurchase_triangles` construction), DISTINCT-ed; degrees come
    from one edge aggregate and join back UNHINTED (the |vertices|-row
    degree table scales with SF — planner's call, r11 audit); the
    correlation runs
    on the EXACT integer moment sums over the symmetrized edge list
    (each undirected edge contributes (da,db) and (db,da), so
    Σx = Σy and the formula collapses symmetrically) in
    DECIMAL(38,0)/HUGEINT — M·Σxy − (Σx)² and M·Σx² − (Σx)² formed
    exactly, ONE division + sqrt to double at the end (the
    subsample_ci idiom; built-in corr is banned)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    x, y = li.alias("x"), li.alias("y")
    edges = (
        x.join(
            y,
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_partkey") < F.col("y.l_partkey")),
        )
        .select(F.col("x.l_partkey").alias("a"), F.col("y.l_partkey").alias("b"))
        .distinct()
    )
    deg = (
        edges.select(F.col("a").alias("v"))
        .unionAll(edges.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    sym = edges.select("a", "b").unionAll(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    j = (
        sym.join(deg.withColumnRenamed("v", "a").withColumnRenamed("d", "da"), "a")
        .join(deg.withColumnRenamed("v", "b").withColumnRenamed("d", "db"), "b")
    )
    dec = "decimal(19,0)"
    agg = j.agg(
        F.count(F.lit(1)).cast("long").alias("m2"),
        F.sum("da").cast("long").alias("sx"),
        F.sum(F.col("da").cast(dec) * F.col("db").cast(dec)).alias("sxy"),
        F.sum(F.col("da").cast(dec) * F.col("da").cast(dec)).alias("sxx"),
    )
    num = (
        F.col("m2").cast(dec) * F.col("sxy")
        - F.col("sx").cast(dec) * F.col("sx").cast(dec)
    )
    den = (
        F.col("m2").cast(dec) * F.col("sxx")
        - F.col("sx").cast(dec) * F.col("sx").cast(dec)
    )
    return agg.select(
        F.expr("m2 div 2").alias("n_edges"),
        F.round(
            num.cast("double") / den.cast("double"), 6
        ).alias("assortativity"),
    )


ORACLE_DEGREE_ASSORTATIVITY = """
WITH edges AS (
  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
  FROM lineitem x JOIN lineitem y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
deg AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT a AS v FROM edges UNION ALL SELECT b FROM edges)
  GROUP BY v),
sym AS (
  SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
j AS (
  SELECT da.d AS da, db.d AS db
  FROM sym JOIN deg da ON sym.a = da.v JOIN deg db ON sym.b = db.v),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m2,
         CAST(SUM(da) AS BIGINT) AS sx,
         SUM(CAST(da AS HUGEINT) * db) AS sxy,
         SUM(CAST(da AS HUGEINT) * da) AS sxx
  FROM j)
SELECT m2 // 2 AS n_edges,
       round(CAST(m2 * sxy - CAST(sx AS HUGEINT) * sx AS DOUBLE)
             / CAST(m2 * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE), 6)
         AS assortativity
FROM agg
"""

QUERIES["degree_assortativity"] = q_degree_assortativity
ORACLES["degree_assortativity"] = ORACLE_DEGREE_ASSORTATIVITY


def q_ips_policy_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Off-policy evaluation by inverse-propensity scoring: estimate
    the value of a DETERMINISTIC target policy (md5 of the user picks
    an event type) from logged interactions, weighting each matching
    logged row by 1/p_behavior — the counterfactual "what would this
    policy have earned" a recommendation/RLHF pipeline answers
    offline. Behavior propensities are the empirical type frequencies
    (5-row broadcast); matching rows aggregate PER TYPE first so the
    exact arithmetic is five integer terms Σ_t reward_t·n div n_t
    (never a per-row float weight), assembled in DECIMAL(38,0)/
    HUGEINT (reward_t·n overflows int64 at ~1e7 rows) with ONE
    division to the final micro estimate. The self-normalized (SNIPS)
    variant divides by the matched weight mass instead of n — both
    reported."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("r"),
    )
    types = ["click", "error", "purchase", "signup", "view"]
    pol_idx = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("pol:"), F.col("user_id").cast("string"))),
                1,
                6,
            ),
            16,
            10,
        ).cast("long")
        % 5
    )
    policy = F.array(*[F.lit(t) for t in types])[pol_idx]
    counts = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_t")
    )
    tot = e.agg(F.count(F.lit(1)).cast("long").alias("n"))
    matched = (
        e.withColumn("pol", policy)
        .filter(F.col("event_type") == F.col("pol"))
        .groupBy("event_type")
        .agg(
            F.sum("r").cast("long").alias("r_t"),
            F.count(F.lit(1)).cast("long").alias("m_t"),
        )
        .join(F.broadcast(counts), "event_type")
        .crossJoin(F.broadcast(tot))
    )
    # exact integer per-type term: (r_t * n) div n_t — DECIMAL `div`
    # floors like BIGINT div / DuckDB //, never rounds
    agg = matched.select(
        "event_type",
        F.expr(
            "CAST((CAST(r_t AS DECIMAL(38,0)) * n) div n_t AS DECIMAL(38,0))"
        ).alias("w_reward"),
        F.expr(
            "CAST((CAST(m_t AS DECIMAL(38,0)) * n) div n_t AS DECIMAL(38,0))"
        ).alias("w_mass"),
        "n",
    ).groupBy("n").agg(
        F.sum("w_reward").alias("sw_reward"),
        F.sum("w_mass").alias("sw_mass"),
        F.count(F.lit(1)).cast("long").alias("n_types_matched"),
    )
    return agg.select(
        "n",
        "n_types_matched",
        F.expr("CAST(sw_reward div n AS BIGINT)").alias("ips_value_cents"),
        F.expr(
            "CASE WHEN sw_mass = 0 THEN NULL"
            " ELSE CAST((sw_reward * 1000000) div sw_mass AS BIGINT) END"
        ).alias("snips_value_micro"),
    )


ORACLE_IPS_POLICY_EVAL = """
WITH e AS (
  SELECT user_id, event_type, CAST(round(value * 100) AS BIGINT) AS r
  FROM events),
pol AS (
  SELECT *, (['click', 'error', 'purchase', 'signup', 'view'])[
           CAST(('0x' || substr(md5('pol:' || CAST(user_id AS VARCHAR)), 1, 6))::BIGINT
                % 5 AS INT) + 1] AS p
  FROM e),
counts AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_t FROM e GROUP BY event_type),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM e),
matched AS (
  SELECT p.event_type, CAST(SUM(r) AS BIGINT) AS r_t,
         CAST(COUNT(*) AS BIGINT) AS m_t
  FROM pol p WHERE p.event_type = p.p GROUP BY p.event_type),
terms AS (
  SELECT m.event_type,
         (CAST(m.r_t AS HUGEINT) * t.n) // c.n_t AS w_reward,
         (CAST(m.m_t AS HUGEINT) * t.n) // c.n_t AS w_mass,
         t.n
  FROM matched m JOIN counts c ON m.event_type = c.event_type, tot t),
agg AS (
  SELECT n, SUM(w_reward) AS sw_reward, SUM(w_mass) AS sw_mass,
         CAST(COUNT(*) AS BIGINT) AS n_types_matched
  FROM terms GROUP BY n)
SELECT n, n_types_matched,
       CAST(sw_reward // n AS BIGINT) AS ips_value_cents,
       CASE WHEN sw_mass = 0 THEN NULL
            ELSE CAST((sw_reward * 1000000) // sw_mass AS BIGINT)
       END AS snips_value_micro
FROM agg
"""

QUERIES["ips_policy_eval"] = q_ips_policy_eval
ORACLES["ips_policy_eval"] = ORACLE_IPS_POLICY_EVAL


def q_top_user_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clickstream path mining: the 20 most-traveled 3-step event-type
    paths (consecutive triples in each user's total-ordered journey)
    with their user reach — the Sankey-diagram input that generalizes
    the adjacent-pair `event_transition_matrix` to path granularity.
    Two leads over ONE per-user window (user_id is high-cardinality —
    never low-par), ordered by (ts, event_id) total order; one
    path-keyed hash aggregate; top-20 total-ordered through
    TakeOrderedAndProject (count desc, path asc)."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", epoch_us(F.col("ts")).alias("us"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    tri = (
        e.withColumn("t2", F.lead("event_type", 1).over(w))
        .withColumn("t3", F.lead("event_type", 2).over(w))
        .filter(F.col("t3").isNotNull())
        .select(
            F.concat_ws(
                ">", F.col("event_type"), F.col("t2"), F.col("t3")
            ).alias("path"),
            "user_id",
        )
    )
    agg = tri.groupBy("path").agg(
        F.count(F.lit(1)).cast("long").alias("n_travels"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )
    return agg.orderBy(F.col("n_travels").desc(), F.col("path").asc()).limit(20)


ORACLE_TOP_USER_PATHS = """
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS us, event_id FROM events),
tri AS (
  SELECT user_id,
         event_type || '>'
           || lead(event_type, 1) OVER w || '>'
           || lead(event_type, 2) OVER w AS path,
         lead(event_type, 2) OVER w AS t3
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_travels,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM tri WHERE t3 IS NOT NULL
GROUP BY path
ORDER BY n_travels DESC, path ASC LIMIT 20
"""

QUERIES["top_user_paths"] = q_top_user_paths
ORACLES["top_user_paths"] = ORACLE_TOP_USER_PATHS


def q_stream_two_level_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint restart of the CHAINED two-level rollup
    (streaming.windowed.restart_two_level_counts — sixth
    restart-family member; both the quarter and the hour state stores
    restore). Phase split user_id % 3; the run asserts TWO state
    operators per run and a nonzero phase-2 late-drop (quarters ≤ W1),
    and the oracle composes the pinned admission rule (kept = phase1 ∪
    phase2 with quarter end > W1) with the chained emission rule
    (hours with end ≤ W2, n_quarters over kept rows)."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.windowed import (
        restart_two_level_counts,
    )

    e = load_table(spark, sf_dir, "events")
    out, stats = restart_two_level_counts(
        spark,
        phase1=e.filter(F.col("user_id") % 3 == 0),
        phase2=e.filter(F.col("user_id") % 3 != 0),
        lateness="20 minutes",
        group_cols=["event_type"],
    )
    for tag in ("phase1", "phase2"):
        if stats[tag]["n_state_ops"] != 2:
            raise RuntimeError(
                f"stream_two_level_restart: {tag} ran with "
                f"{stats[tag]['n_state_ops']} state operators, expected 2"
            )
    if stats["phase2"]["rows_dropped"] == 0:
        raise RuntimeError(
            "stream_two_level_restart: phase 2 dropped no late rows — the "
            "restored watermark did not engage"
        )
    return out.select(
        epoch_us(F.col("window_start")).alias("window_start_us"),
        "event_type",
        "n_events",
        "n_quarters",
    )


ORACLE_STREAM_TWO_LEVEL_RESTART = """
WITH w1 AS (
  SELECT (epoch_us(max(ts)) // 1000) * 1000 - 1200000000 AS v
  FROM events WHERE user_id % 3 = 0),
w2 AS (
  SELECT (epoch_us(max(ts)) // 1000) * 1000 - 1200000000 AS v FROM events),
kept AS (
  SELECT e.event_type,
         (epoch_us(ts) // 900000000) * 900000000 AS qs,
         (epoch_us(ts) // 3600000000) * 3600000000 AS hs
  FROM events e, w1
  WHERE user_id % 3 = 0
     OR (epoch_us(ts) // 900000000) * 900000000 + 900000000 > w1.v
)
SELECT hs AS window_start_us, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT qs) AS BIGINT) AS n_quarters
FROM kept, w2
GROUP BY hs, event_type, w2.v
HAVING hs + 3600000000 <= w2.v
"""

QUERIES["stream_two_level_restart"] = q_stream_two_level_restart
ORACLES["stream_two_level_restart"] = ORACLE_STREAM_TWO_LEVEL_RESTART


def q_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone) calibration of the reliability bins —
    PAVA's pool-adjacent-violators fit computed DECLARATIVELY via the
    minimax identity ŷᵢ = max_{k≤i} min_{j≥i} avg(clicks_k..j /
    n_k..j): the sequential algorithm becomes three joins over the
    BOUNDED 10-bin table (≤55 intervals × 10 positions — constant at
    any SF, because the fact table collapsed to the score-domain bins
    first, the `calibration_ece` scale shape). Interval averages are
    exact integer micro (`div`), and min/max of integers are
    order-free, so the fit is bit-deterministic on both engines; the
    floor variant stays monotone because fitted(i) is a max over a
    growing prefix family. Output: raw vs fitted accuracy per bin —
    where they differ, PAVA pooled a violation."""
    e = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    h = F.md5(F.concat(F.lit("auc:"), F.col("event_id").cast("string")))
    s = (F.conv(F.substring(h, 1, 6), 16, 10).cast("long") % 500).alias("s")
    y = (F.col("event_type") == "click").cast("long").alias("y")
    bins = e.select(s, y).select(
        F.expr("s div 50").alias("bin"), "y"
    ).groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("clicks"),
    )
    k = bins.select(
        F.col("bin").alias("k"), F.col("n").alias("nk"), F.col("clicks").alias("ck")
    )
    j = bins.select(F.col("bin").alias("j"))
    members = bins.select(
        F.col("bin").alias("m"), F.col("n").alias("nm"), F.col("clicks").alias("cm")
    )
    intervals = (
        k.crossJoin(j)
        .filter(F.col("k") <= F.col("j"))
        .join(
            F.broadcast(members),
            (F.col("m") >= F.col("k")) & (F.col("m") <= F.col("j")),
        )
        .groupBy("k", "j")
        .agg(
            F.sum("cm").cast("long").alias("ci"),
            F.sum("nm").cast("long").alias("ni"),
        )
        .select("k", "j", F.expr("(ci * 1000000) div ni").alias("a"))
    )
    pos = bins.select(F.col("bin").alias("i"))
    inner = (
        pos.crossJoin(F.broadcast(intervals))
        .filter((F.col("k") <= F.col("i")) & (F.col("j") >= F.col("i")))
        .groupBy("i", "k")
        .agg(F.min("a").alias("minj"))
        .groupBy("i")
        .agg(F.max("minj").cast("long").alias("iso_micro"))
    )
    return (
        bins.join(F.broadcast(inner), bins.bin == inner.i)
        .select(
            "bin",
            "n",
            "clicks",
            F.expr("(clicks * 1000000) div n").alias("acc_micro"),
            "iso_micro",
        )
    )


ORACLE_ISOTONIC_CALIBRATION = """
WITH s AS (
  SELECT ('0x' || substr(md5('auc:' || CAST(event_id AS VARCHAR)), 1, 6))::BIGINT
           % 500 AS s,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS y
  FROM events),
bins AS (
  SELECT s // 50 AS bin, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS clicks
  FROM s GROUP BY 1),
intervals AS (
  SELECT k.bin AS k, j.bin AS j,
         CAST(SUM(m.clicks) AS BIGINT) * 1000000
           // CAST(SUM(m.n) AS BIGINT) AS a
  FROM bins k
  JOIN bins j ON k.bin <= j.bin
  JOIN bins m ON m.bin >= k.bin AND m.bin <= j.bin
  GROUP BY k.bin, j.bin),
inner_min AS (
  SELECT i.bin AS i, iv.k, MIN(iv.a) AS minj
  FROM bins i JOIN intervals iv ON iv.k <= i.bin AND iv.j >= i.bin
  GROUP BY i.bin, iv.k),
fit AS (
  SELECT i, CAST(MAX(minj) AS BIGINT) AS iso_micro FROM inner_min GROUP BY i)
SELECT b.bin, b.n, b.clicks,
       (b.clicks * 1000000) // b.n AS acc_micro,
       f.iso_micro
FROM bins b JOIN fit f ON b.bin = f.i
"""

QUERIES["isotonic_calibration"] = q_isotonic_calibration
ORACLES["isotonic_calibration"] = ORACLE_ISOTONIC_CALIBRATION


def q_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley-value channel attribution: each converting user's
    pre-purchase touch set over the four non-purchase channels defines
    the coalition game v(S) = #converted users with touch set ⊆ S,
    and each channel's credit is the exact Shapley sum
    φᵢ = Σ_S |S|!·(3−|S|)!·(v(S∪i) − v(S)) in units of 1/4! — the
    order-independent credit rule that first/last-touch heuristics
    approximate. Scale shape: the fact collapses to ONE 4-bit mask per
    user (conditional-max aggregate), masks aggregate to ≤16 coalition
    rows, and the combinatorics run on a 16×16 bounded subset-sum
    join — constant beyond the first aggregate at any SF. All
    factorial weights and counts are integers; φ is exact in
    24th-units with a micro share at the end."""
    channels = ["click", "error", "signup", "view"]
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    per_user = e.groupBy("user_id").agg(
        *[
            F.max((F.col("event_type") == c).cast("int")).alias(f"b{i}")
            for i, c in enumerate(channels)
        ],
        F.max((F.col("event_type") == "purchase").cast("int")).alias("conv"),
    )
    mask = sum(F.col(f"b{i}") * (1 << i) for i in range(4))
    masks = (
        per_user.filter(F.col("conv") == 1)
        .select(mask.alias("m"))
        .groupBy("m")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    # v(S) for all 16 coalitions: subset-sum over the ≤16 mask rows
    coal = spark.range(16).select(F.col("id").cast("int").alias("s"))
    v = (
        coal.crossJoin(F.broadcast(masks))
        .filter(F.expr("(m & ~s) = 0"))
        .groupBy("s")
        .agg(F.sum("cnt").cast("long").alias("v"))
    )
    v_full = coal.join(v, "s", "left").select(
        "s", F.coalesce(F.col("v"), F.lit(0)).cast("long").alias("v")
    )
    import math as _math

    rows = []
    for i, c in enumerate(channels):
        for s in range(16):
            if s & (1 << i):
                continue
            ssz = bin(s).count("1")
            w = _math.factorial(ssz) * _math.factorial(3 - ssz)
            rows.append((c, s, s | (1 << i), w))
    wdf = F.broadcast(
        spark.createDataFrame(rows, ["channel", "s_without", "s_with", "w"])
    )
    a = v_full.select(F.col("s").alias("s_with"), F.col("v").alias("v_with"))
    b = v_full.select(F.col("s").alias("s_without"), F.col("v").alias("v_without"))
    phi = (
        wdf.join(a, "s_with")
        .join(b, "s_without")
        .groupBy("channel")
        .agg(
            F.sum(F.col("w") * (F.col("v_with") - F.col("v_without")))
            .cast("long")
            .alias("phi_24ths")
        )
    )
    tot = phi.agg(F.sum("phi_24ths").cast("long").alias("tot"))
    return phi.crossJoin(F.broadcast(tot)).select(
        "channel",
        "phi_24ths",
        F.expr(
            "CASE WHEN tot = 0 THEN NULL"
            " ELSE (phi_24ths * 1000000) div tot END"
        ).alias("share_micro"),
    )


ORACLE_SHAPLEY_ATTRIBUTION = """
WITH per_user AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS b0,
         MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS b1,
         MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS b2,
         MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS b3,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id),
masks AS (
  SELECT b0 + b1 * 2 + b2 * 4 + b3 * 8 AS m,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM per_user WHERE conv = 1 GROUP BY 1),
coal AS (SELECT unnest(generate_series(0, 15)) AS s),
v_full AS (
  SELECT s, CAST(COALESCE(SUM(CASE WHEN (m & ~s) = 0 THEN cnt END), 0)
                 AS BIGINT) AS v
  FROM coal LEFT JOIN masks ON TRUE GROUP BY s),
chan AS (
  SELECT * FROM (VALUES ('click', 0), ('error', 1), ('signup', 2),
                        ('view', 3)) AS t(channel, i)),
weights AS (
  SELECT c.channel, c.i, s.s AS s_without, s.s | (1 << c.i) AS s_with,
         CASE bit_count(CAST(s.s AS BIT))
              WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2 WHEN 3 THEN 6
         END AS w
  FROM chan c JOIN coal s ON (s.s & (1 << c.i)) = 0),
phi AS (
  SELECT w.channel,
         CAST(SUM(w.w * (va.v - vb.v)) AS BIGINT) AS phi_24ths
  FROM weights w
  JOIN v_full va ON va.s = w.s_with
  JOIN v_full vb ON vb.s = w.s_without
  GROUP BY w.channel),
tot AS (SELECT CAST(SUM(phi_24ths) AS BIGINT) AS tot FROM phi)
SELECT channel, phi_24ths,
       CASE WHEN tot = 0 THEN NULL
            ELSE (phi_24ths * 1000000) // tot END AS share_micro
FROM phi, tot
"""

QUERIES["shapley_attribution"] = q_shapley_attribution
ORACLES["shapley_attribution"] = ORACLE_SHAPLEY_ATTRIBUTION


def q_doubly_robust_ope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doubly-robust off-policy evaluation — the direct-method
    baseline q̂(t) = per-type mean reward plus the IPS correction on
    matched rows, unbiased if EITHER model is right (completes the
    OPE family beside `ips_policy_eval`'s IPS/SNIPS). Same
    deterministic md5 policy; everything reduces to per-type integer
    terms: DM = Σ_p c_p·q̂micro(p), correction = Σ_t (r_t·1e6 −
    m_t·q̂micro(t))·n div n_t (can be negative — Spark `div` ==
    DuckDB `//` on negatives is already pinned), assembled in
    DECIMAL(38,0)/HUGEINT with ONE `div n` at the end."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("r"),
    )
    types = ["click", "error", "purchase", "signup", "view"]
    pol_idx = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("pol:"), F.col("user_id").cast("string"))),
                1,
                6,
            ),
            16,
            10,
        ).cast("long")
        % 5
    )
    policy = F.array(*[F.lit(t) for t in types])[pol_idx]
    base = e.withColumn("pol", policy)
    qhat = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_t"),
        F.sum("r").cast("long").alias("r_sum"),
    ).select(
        "event_type",
        "n_t",
        F.expr("(r_sum * 1000000) div n_t").alias("qmicro"),
    )
    tot = e.agg(F.count(F.lit(1)).cast("long").alias("n"))
    dm = (
        base.groupBy("pol")
        .agg(F.count(F.lit(1)).cast("long").alias("c_p"))
        .join(
            F.broadcast(qhat.select(F.col("event_type").alias("pol"), "qmicro")),
            "pol",
        )
        .agg(
            F.sum(F.col("c_p").cast("decimal(19,0)") * F.col("qmicro").cast("decimal(19,0)"))
            .alias("dm_num")
        )
    )
    corr = (
        base.filter(F.col("event_type") == F.col("pol"))
        .groupBy("event_type")
        .agg(
            F.sum("r").cast("long").alias("r_t"),
            F.count(F.lit(1)).cast("long").alias("m_t"),
        )
        .join(F.broadcast(qhat), "event_type")
        .crossJoin(F.broadcast(tot))
        .select(
            F.expr(
                "(CAST(r_t AS DECIMAL(38,0)) * 1000000"
                " - CAST(m_t AS DECIMAL(38,0)) * qmicro) * n div n_t"
            ).alias("corr_t"),
        )
        # GROUP-BY-less aggregate: always exactly one row (corr_num
        # NULL when no logged event matches the policy), mirroring the
        # oracle's grouping-free corr CTE — a groupBy("n") here yields
        # ZERO rows in that degenerate case and the engines diverge
        # (n comes from tot in the final select instead)
        .agg(F.sum("corr_t").alias("corr_num"))
    )
    return (
        dm.crossJoin(corr)
        .crossJoin(F.broadcast(tot))
        .select(
            "n",
            F.expr("CAST(dm_num div n AS BIGINT)").alias("dm_value_micro"),
            F.expr("CAST(corr_num div n AS BIGINT)").alias("correction_micro"),
            F.expr(
                "CAST((dm_num + corr_num) div n AS BIGINT)"
            ).alias("dr_value_micro"),
        )
    )


ORACLE_DOUBLY_ROBUST_OPE = """
WITH e AS (
  SELECT user_id, event_type, CAST(round(value * 100) AS BIGINT) AS r
  FROM events),
base AS (
  SELECT *, (['click', 'error', 'purchase', 'signup', 'view'])[
           CAST(('0x' || substr(md5('pol:' || CAST(user_id AS VARCHAR)), 1, 6))::BIGINT
                % 5 AS INT) + 1] AS pol
  FROM e),
qhat AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_t,
         (CAST(SUM(r) AS BIGINT) * 1000000) // CAST(COUNT(*) AS BIGINT)
           AS qmicro
  FROM e GROUP BY event_type),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM e),
dm AS (
  SELECT SUM(CAST(c.c_p AS HUGEINT) * q.qmicro) AS dm_num
  FROM (SELECT pol, CAST(COUNT(*) AS BIGINT) AS c_p FROM base GROUP BY pol) c
  JOIN qhat q ON c.pol = q.event_type),
corr AS (
  SELECT SUM((CAST(m.r_t AS HUGEINT) * 1000000
              - CAST(m.m_t AS HUGEINT) * q.qmicro) * t.n // q.n_t)
           AS corr_num
  FROM (SELECT event_type, CAST(SUM(r) AS BIGINT) AS r_t,
               CAST(COUNT(*) AS BIGINT) AS m_t
        FROM base WHERE event_type = pol GROUP BY event_type) m
  JOIN qhat q ON m.event_type = q.event_type, tot t)
SELECT t.n,
       CAST(d.dm_num // t.n AS BIGINT) AS dm_value_micro,
       CAST(c.corr_num // t.n AS BIGINT) AS correction_micro,
       CAST((d.dm_num + c.corr_num) // t.n AS BIGINT) AS dr_value_micro
FROM dm d, corr c, tot t
"""

QUERIES["doubly_robust_ope"] = q_doubly_robust_ope
ORACLES["doubly_robust_ope"] = ORACLE_DOUBLY_ROBUST_OPE


def q_local_clustering_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 locally-densest parts of the co-purchase graph by local
    clustering coefficient cᵥ = 2·Tᵥ/(degᵥ·(degᵥ−1)) in integer micro
    (`operators.graph.per_vertex_triangles` — the apex-carrying
    degree-ordered wedge join, skew-bounded O(√E) out-degree), deg ≥ 3
    to exclude trivially-perfect leaves; total-ordered
    TakeOrderedAndProject (coeff desc, node)."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.graph import (
        per_vertex_triangles,
    )

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    x, y = li.alias("x"), li.alias("y")
    edges = x.join(
        y,
        (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
        & (F.col("x.l_partkey") < F.col("y.l_partkey")),
    ).select(F.col("x.l_partkey").alias("a"), F.col("y.l_partkey").alias("b"))
    pv = per_vertex_triangles(edges, "a", "b")
    scored = pv.filter(F.col("degree") >= 3).withColumn(
        "coeff_micro",
        F.expr("(2 * n_triangles * 1000000) div (degree * (degree - 1))"),
    )
    return scored.orderBy(
        F.col("coeff_micro").desc(), F.col("node").asc()
    ).limit(20)


ORACLE_LOCAL_CLUSTERING_TOPK = """
WITH canon AS (
  SELECT DISTINCT least(x.l_partkey, y.l_partkey) AS a,
                  greatest(x.l_partkey, y.l_partkey) AS b
  FROM lineitem x JOIN lineitem y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
tri AS (
  SELECT e1.a AS p, e1.b AS q, e2.b AS r
  FROM canon e1
  JOIN canon e2 ON e1.b = e2.a
  JOIN canon e3 ON e3.a = e1.a AND e3.b = e2.b),
corners AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM (SELECT p AS node FROM tri
        UNION ALL SELECT q FROM tri
        UNION ALL SELECT r FROM tri)
  GROUP BY node),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
  FROM (SELECT a AS node FROM canon UNION ALL SELECT b FROM canon)
  GROUP BY node)
SELECT d.node, d.degree,
       CAST(COALESCE(c.n_triangles, 0) AS BIGINT) AS n_triangles,
       (2 * CAST(COALESCE(c.n_triangles, 0) AS BIGINT) * 1000000)
         // (d.degree * (d.degree - 1)) AS coeff_micro
FROM deg d LEFT JOIN corners c ON d.node = c.node
WHERE d.degree >= 3
ORDER BY coeff_micro DESC, d.node ASC LIMIT 20
"""

QUERIES["local_clustering_topk"] = q_local_clustering_topk
ORACLES["local_clustering_topk"] = ORACLE_LOCAL_CLUSTERING_TOPK


def q_grouped_kfold_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-aware k-fold assignment audit: folds are assigned per
    USER (md5 coin), so no user's rows straddle train/validation — the
    group-leakage guarantee row-level splits silently violate. The
    audit certifies it structurally: per fold the row share, user
    share, class (click) balance in integer micro, and
    users_spanning_folds — computed as a real check (distinct folds
    per user, counted > 1), which the construction forces to 0; the
    column exists so a refactor that breaks the invariant fails the
    driver hash, not just a code review. One pass + one per-user
    aggregate."""
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    fold = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("fold:"), F.col("user_id").cast("string"))),
                1,
                6,
            ),
            16,
            10,
        ).cast("long")
        % 5
    )
    rows = e.withColumn("fold", fold)
    tot = rows.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.countDistinct("user_id").cast("long").alias("nu"),
    )
    span = (
        rows.groupBy("user_id")
        .agg(F.countDistinct("fold").cast("long").alias("nf"))
        .agg(
            F.sum((F.col("nf") > 1).cast("long"))
            .cast("long")
            .alias("users_spanning_folds")
        )
    )
    per_fold = rows.groupBy("fold").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.sum((F.col("event_type") == "click").cast("long"))
        .cast("long")
        .alias("n_clicks"),
    )
    return (
        per_fold.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(span))
        .select(
            "fold",
            "n_rows",
            "n_users",
            F.expr("(n_rows * 1000000) div n").alias("row_share_micro"),
            F.expr("(n_users * 1000000) div nu").alias("user_share_micro"),
            F.expr("(n_clicks * 1000000) div n_rows").alias("click_rate_micro"),
            "users_spanning_folds",
        )
    )


ORACLE_GROUPED_KFOLD_AUDIT = """
WITH rows_f AS (
  SELECT user_id, event_type,
         ('0x' || substr(md5('fold:' || CAST(user_id AS VARCHAR)), 1, 6))::BIGINT
           % 5 AS fold
  FROM events),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS nu
  FROM rows_f),
span AS (
  SELECT CAST(SUM(CASE WHEN nf > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS users_spanning_folds
  FROM (SELECT user_id, CAST(COUNT(DISTINCT fold) AS BIGINT) AS nf
        FROM rows_f GROUP BY user_id)),
per_fold AS (
  SELECT fold, CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_clicks
  FROM rows_f GROUP BY fold)
SELECT fold, n_rows, n_users,
       (n_rows * 1000000) // n AS row_share_micro,
       (n_users * 1000000) // nu AS user_share_micro,
       (n_clicks * 1000000) // n_rows AS click_rate_micro,
       users_spanning_folds
FROM per_fold, tot, span
"""

QUERIES["grouped_kfold_audit"] = q_grouped_kfold_audit
ORACLES["grouped_kfold_audit"] = ORACLE_GROUPED_KFOLD_AUDIT


def q_dispersion_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overdispersion check on per-user event counts (index of
    dispersion var/mean — Poisson ⇒ 1, clumpy arrivals ⇒ >1): the
    monitoring statistic that tells an ingestion pipeline whether user
    activity is bursty enough to need skew handling. Per-type: fact →
    per-(user, type) counts → EXACT integer moments (Σx, Σx² in
    DECIMAL(38,0)/HUGEINT, the r9 idiom), variance numerator
    U·Σx² − (Σx)² formed exactly, ONE division chain to double, 6dp.
    Users missing a type count as zero via the identity Σ over
    present rows + (U − present)·0 — no dense fill needed."""
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    nu = e.agg(F.countDistinct("user_id").cast("long").alias("u"))
    per = e.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    dec = "decimal(19,0)"
    agg = (
        per.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("present"),
            F.sum("c").cast("long").alias("sx"),
            F.sum(F.col("c").cast(dec) * F.col("c").cast(dec)).alias("sxx"),
        )
        .crossJoin(F.broadcast(nu))
    )
    num = F.col("u").cast(dec) * F.col("sxx") - F.col("sx").cast(
        dec
    ) * F.col("sx").cast(dec)
    mean = F.col("sx").cast("double") / F.col("u").cast("double")
    var = num.cast("double") / (
        F.col("u").cast("double") * F.col("u").cast("double")
    )
    return agg.select(
        "event_type",
        F.col("u").alias("n_users"),
        "sx",
        F.round(mean, 6).alias("mean_per_user"),
        F.round(var / mean, 6).alias("dispersion_index"),
    )


ORACLE_DISPERSION_INDEX = """
WITH e AS (SELECT user_id, event_type FROM events),
nu AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS u FROM e),
per AS (
  SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS c
  FROM e GROUP BY event_type, user_id),
agg AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS present,
         CAST(SUM(c) AS BIGINT) AS sx,
         SUM(CAST(c AS HUGEINT) * c) AS sxx
  FROM per GROUP BY event_type)
SELECT a.event_type, n.u AS n_users, a.sx,
       round(CAST(a.sx AS DOUBLE) / CAST(n.u AS DOUBLE), 6) AS mean_per_user,
       round((CAST(n.u * a.sxx - CAST(a.sx AS HUGEINT) * a.sx AS DOUBLE)
              / (CAST(n.u AS DOUBLE) * CAST(n.u AS DOUBLE)))
             / (CAST(a.sx AS DOUBLE) / CAST(n.u AS DOUBLE)), 6)
         AS dispersion_index
FROM agg a, nu n
"""

QUERIES["dispersion_index"] = q_dispersion_index
ORACLES["dispersion_index"] = ORACLE_DISPERSION_INDEX


def q_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test per event type — the nonparametric
    significance complement to `theil_sen_trend`'s slope: S = Σ
    sign(c_j − c_i) over all hour pairs i<j of the hourly count
    series. The series is CALENDAR-bounded (≤720 hours at any SF —
    the bounded-domain class), so the pair join is ≤260k rows per
    type: S, the tie-corrected variance numerator 18·Var = n(n−1)
    (2n+5) − Σ_t t(t−1)(2t+5), and the continuity-corrected z are all
    exact integers until ONE division + sqrt, 6dp. |z| > 1.96 flags a
    significant monotone trend."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type", epoch_us(F.col("ts")).alias("us")
    )
    hourly = e.groupBy(
        "event_type", F.expr("us div 3600000000").alias("h")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    a = hourly.select(
        "event_type", F.col("h").alias("hi"), F.col("c").alias("ci")
    )
    b = hourly.select(
        "event_type", F.col("h").alias("hj"), F.col("c").alias("cj")
    )
    pairs = a.join(b, "event_type").filter(F.col("hi") < F.col("hj"))
    s_df = pairs.groupBy("event_type").agg(
        F.sum(F.signum(F.col("cj") - F.col("ci")).cast("long"))
        .cast("long")
        .alias("s"),
    )
    n_df = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    ties = (
        hourly.groupBy("event_type", "c")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            )
            .cast("long")
            .alias("tie_term")
        )
    )
    out = (
        s_df.join(n_df, "event_type")
        .join(ties, "event_type")
        .withColumn(
            "var18",
            (
                F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                - F.col("tie_term")
            ).cast("long"),
        )
    )
    z = F.when(F.col("s") > 0, (F.col("s") - 1).cast("double")).otherwise(
        F.when(F.col("s") < 0, (F.col("s") + 1).cast("double")).otherwise(
            F.lit(0.0)
        )
    ) / F.sqrt(F.col("var18").cast("double") / 18.0)
    return out.select(
        "event_type",
        "n",
        "s",
        "var18",
        F.round(z, 6).alias("z"),
    )


ORACLE_MANN_KENDALL_TREND = """
WITH hourly AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS h,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2),
s_t AS (
  SELECT a.event_type,
         CAST(SUM(CASE WHEN b.c > a.c THEN 1 WHEN b.c < a.c THEN -1
                       ELSE 0 END) AS BIGINT) AS s
  FROM hourly a JOIN hourly b
    ON a.event_type = b.event_type AND a.h < b.h
  GROUP BY a.event_type),
n_t AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM hourly GROUP BY event_type),
ties AS (
  SELECT event_type,
         CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
  FROM (SELECT event_type, c, CAST(COUNT(*) AS BIGINT) AS t
        FROM hourly GROUP BY event_type, c)
  GROUP BY event_type),
o AS (
  SELECT s_t.event_type, n_t.n, s_t.s,
         CAST(n_t.n * (n_t.n - 1) * (2 * n_t.n + 5) - ties.tie_term
              AS BIGINT) AS var18
  FROM s_t JOIN n_t ON s_t.event_type = n_t.event_type
  JOIN ties ON s_t.event_type = ties.event_type)
SELECT event_type, n, s, var18,
       round((CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE)
                   WHEN s < 0 THEN CAST(s + 1 AS DOUBLE)
                   ELSE 0.0 END)
             / sqrt(CAST(var18 AS DOUBLE) / 18.0), 6) AS z
FROM o
"""

QUERIES["mann_kendall_trend"] = q_mann_kendall_trend
ORACLES["mann_kendall_trend"] = ORACLE_MANN_KENDALL_TREND


def q_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for experimentation: using each
    user's FIRST-half activity (covariate x) to denoise their
    second-half purchase revenue (metric y), the adjustment
    θ = cov(x,y)/var(x) shrinks metric variance by corr² — the
    standard pre-experiment-data trick an A/B platform applies before
    the t-test. Time split at the corpus midpoint; one per-user
    aggregate, then ALL moments (Σx, Σy, Σxy, Σx², Σy²) exact in
    DECIMAL(38,0)/HUGEINT, the covariance/variance numerators
    n·Σxy − Σx·Σy formed exactly, θ and the variance-reduction share
    each ONE division of exact integers, 6dp."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        epoch_us(F.col("ts")).alias("us"),
    )
    mid = e.agg(F.expr("(min(us) + max(us)) div 2").alias("mid"))
    per_user = (
        e.crossJoin(F.broadcast(mid))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("us") < F.col("mid"), 1).otherwise(0))
            .cast("long")
            .alias("x"),
            F.sum(
                F.when(
                    (F.col("us") >= F.col("mid"))
                    & (F.col("event_type") == "purchase"),
                    F.col("cents"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("y"),
        )
    )
    dec = "decimal(19,0)"
    xd, yd = F.col("x").cast(dec), F.col("y").cast(dec)
    m = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(xd * yd).alias("sxy"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(yd * yd).alias("syy"),
    )
    nd = F.col("n").cast(dec)
    cov_num = nd * F.col("sxy") - F.col("sx").cast(dec) * F.col("sy").cast(dec)
    varx_num = nd * F.col("sxx") - F.col("sx").cast(dec) * F.col("sx").cast(dec)
    vary_num = nd * F.col("syy") - F.col("sy").cast(dec) * F.col("sy").cast(dec)
    theta = cov_num.cast("double") / varx_num.cast("double")
    rho2 = (cov_num.cast("double") * cov_num.cast("double")) / (
        varx_num.cast("double") * vary_num.cast("double")
    )
    return m.select(
        "n",
        "sx",
        "sy",
        F.round(theta, 6).alias("theta"),
        F.round(rho2, 6).alias("variance_reduction"),
    )


ORACLE_CUPED_ADJUSTMENT = """
WITH e AS (
  SELECT user_id, event_type, CAST(round(value * 100) AS BIGINT) AS cents,
         epoch_us(ts) AS us
  FROM events),
mid AS (SELECT (MIN(us) + MAX(us)) // 2 AS mid FROM e),
per_user AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN us < mid THEN 1 ELSE 0 END) AS BIGINT) AS x,
         CAST(SUM(CASE WHEN us >= mid AND event_type = 'purchase'
                       THEN cents ELSE 0 END) AS BIGINT) AS y
  FROM e, mid GROUP BY user_id),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         SUM(CAST(x AS HUGEINT) * y) AS sxy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx,
         SUM(CAST(y AS HUGEINT) * y) AS syy
  FROM per_user)
SELECT n, sx, sy,
       round(CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
             / CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE), 6)
         AS theta,
       round((CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
              * CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE))
             / (CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                * CAST(n * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE)), 6)
         AS variance_reduction
FROM m
"""

QUERIES["cuped_adjustment"] = q_cuped_adjustment
ORACLES["cuped_adjustment"] = ORACLE_CUPED_ADJUSTMENT


def q_emd_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D earth-mover's distance (Wasserstein-1) between the first
    and second half of the purchase-value distribution — the drift
    metric that, unlike KS (max gap, `value_drift_ks`) and PSI
    (binned log-ratio, `value_drift_psi`), weights HOW FAR mass
    moved. Values land on a 100-bucket grid (bounded domain, the
    `auc_rank_eval` shape); on a shared grid EMD = Σ_b |CDF_a − CDF_b|
    · bucket_width, computed here EXACTLY in integers: cumulative
    scaled counts na·|B| vs nb·|A| cross-multiplied (no per-bucket
    rational division), one tiny prefix-sum window over ≤100 rows, a
    single final `div` to micro units of the value range."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select(
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        epoch_us(F.col("ts")).alias("us"),
    )
    bounds = e.agg(
        F.expr("(min(us) + max(us)) div 2").alias("mid"),
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
    )
    g = e.crossJoin(F.broadcast(bounds)).select(
        F.expr("((cents - lo) * 100) div (hi - lo + 1)").alias("b"),
        (F.col("us") < F.col("mid")).alias("first_half"),
    )
    hist = g.groupBy("b").agg(
        F.sum(F.col("first_half").cast("long")).cast("long").alias("ca"),
        F.sum((~F.col("first_half")).cast("long")).cast("long").alias("cb"),
    )
    tot = hist.agg(
        F.sum("ca").cast("long").alias("na"), F.sum("cb").cast("long").alias("nb")
    )
    w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        hist.crossJoin(F.broadcast(tot))
        .withColumn("cuma", F.sum("ca").over(w).cast("long"))
        .withColumn("cumb", F.sum("cb").over(w).cast("long"))
    )
    # |CDF_a - CDF_b| = |cuma*nb - cumb*na| / (na*nb): keep the exact
    # integer numerator per bucket, divide ONCE after summing
    diff = F.abs(
        F.col("cuma").cast("decimal(19,0)") * F.col("nb").cast("decimal(19,0)")
        - F.col("cumb").cast("decimal(19,0)") * F.col("na").cast("decimal(19,0)")
    )
    agg = cum.groupBy("na", "nb").agg(F.sum(diff).alias("num"))
    return agg.select(
        "na",
        "nb",
        F.expr(
            "CAST((num * 1000000) div (CAST(na AS DECIMAL(38,0)) * nb * 100)"
            " AS BIGINT)"
        ).alias("emd_micro_of_range"),
    )


ORACLE_EMD_VALUE_DRIFT = """
WITH e AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS cents, epoch_us(ts) AS us
  FROM events),
bounds AS (
  SELECT (MIN(us) + MAX(us)) // 2 AS mid,
         MIN(cents) AS lo, MAX(cents) AS hi
  FROM e),
g AS (
  SELECT ((cents - lo) * 100) // (hi - lo + 1) AS b,
         us < mid AS first_half
  FROM e, bounds),
hist AS (
  SELECT b,
         CAST(SUM(CASE WHEN first_half THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(SUM(CASE WHEN first_half THEN 0 ELSE 1 END) AS BIGINT) AS cb
  FROM g GROUP BY b),
tot AS (
  SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb
  FROM hist),
cum AS (
  SELECT b, na, nb,
         CAST(SUM(ca) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cuma,
         CAST(SUM(cb) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cumb
  FROM hist, tot),
agg AS (
  SELECT na, nb,
         SUM(abs(CAST(cuma AS HUGEINT) * nb - CAST(cumb AS HUGEINT) * na))
           AS num
  FROM cum GROUP BY na, nb)
SELECT na, nb,
       CAST((num * 1000000) // (CAST(na AS HUGEINT) * nb * 100) AS BIGINT)
         AS emd_micro_of_range
FROM agg
"""

QUERIES["emd_value_drift"] = q_emd_value_drift
ORACLES["emd_value_drift"] = ORACLE_EMD_VALUE_DRIFT


def q_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonal index per event type: each (type, hour)
    cell's share of the type's traffic against the uniform 1/24
    baseline, as an integer-micro seasonal index (1e6 = flat) — the
    profile a capacity planner and a seasonal-adjustment step both
    read. One 5×24-cell hash aggregate with map-side partials; peak
    flag via exact integer comparison against the type max (struct
    argmax over the 24 bounded cells, no window over facts)."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("(unix_micros(CAST(ts AS TIMESTAMP)) div 3600000000) % 24").alias(
            "hod"
        ),
    )
    cells = e.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = cells.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("n_type"),
        F.max(F.struct(F.col("n"), F.col("hod"))).alias("pk"),
    )
    return (
        cells.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            "hod",
            "n",
            F.expr("(n * 24 * 1000000) div n_type").alias("seasonal_index_micro"),
            (
                (F.col("hod") == F.col("pk.hod")) & (F.col("n") == F.col("pk.n"))
            ).alias("is_peak_hour"),
        )
    )


ORACLE_SEASONAL_PROFILE = """
WITH e AS (
  SELECT event_type, (epoch_us(ts) // 3600000000) % 24 AS hod FROM events),
cells AS (
  SELECT event_type, hod, CAST(COUNT(*) AS BIGINT) AS n
  FROM e GROUP BY event_type, hod),
tot AS (
  SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_type,
         MAX(n * 100 + hod) AS pk
  FROM cells GROUP BY event_type)
SELECT c.event_type, c.hod, c.n,
       (c.n * 24 * 1000000) // t.n_type AS seasonal_index_micro,
       (c.n * 100 + c.hod) = t.pk AS is_peak_hour
FROM cells c JOIN tot t ON c.event_type = t.event_type
"""

QUERIES["seasonal_profile"] = q_seasonal_profile
ORACLES["seasonal_profile"] = ORACLE_SEASONAL_PROFILE


# --------------------- round 11: fasttext-style quality classifier


def q_quality_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-linear-classifier quality filtering (CCNet §4.2 /
    fasttext, Joulin et al. 2017) — the inference page the registry's
    `lm_quality_filter` (unigram log-prob) doesn't cover: hashed
    bag-of-words features × a FROZEN integer weight vector →
    mean-pooled micro-logit score → sigmoid-threshold keep/drop →
    per-source keep-rate report. Weights come from one Python builder
    (`operators/text.py:quality_weights`) inlined literally into both
    engines (the hyperplanes/pq_codebooks convention). The scoring
    pass is a per-row higher-order-function expression — ZERO shuffles,
    a map-only corpus sweep at 100 TB; the only shuffle is the
    |sources|-group report aggregate (map-side partials). Keep decision
    is an exact integer compare (score ≥ 0 ⟺ σ ≥ ½); the per-source
    score sum runs in DECIMAL(38,0)/HUGEINT so billions of ±1e9
    micro-logits can't overflow, with ONE `div` back to BIGINT."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.text import (
        quality_classifier_scores,
        quality_weights,
    )

    w, bias = quality_weights(64)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    scored = quality_classifier_scores(docs, w, bias)
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("keep").cast("long").alias("n_keep"),
            F.sum(F.col("score_micro").cast("decimal(38,0)")).alias("_ssum"),
        )
        .select(
            "source",
            "n_docs",
            "n_keep",
            F.expr("(n_keep * 1000000) div n_docs").alias("keep_rate_micro"),
            F.expr("CAST(_ssum div n_docs AS BIGINT)").alias(
                "avg_score_micro"
            ),
        )
    )


def _oracle_quality_classifier() -> str:
    """DuckDB twin: identical md5 feature buckets, the SAME inlined
    integer weights/bias, identical truncating integer division
    (DuckDB `//` == Spark `div`, both toward zero — pinned), HUGEINT
    score sum mirroring the Spark DECIMAL(38,0) accumulator."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.text import (
        quality_weights,
    )

    w, bias = quality_weights(64)
    w_list = ", ".join(str(x) for x in w)
    return f"""
WITH scored AS (
  SELECT source,
         CAST(list_sum(list_transform(string_split(text, ' '),
           t -> ([{w_list}])[
             CAST(('0x' || substr(md5('qcls:' || t), 1, 4))::BIGINT % 64
                  AS INT) + 1])) AS BIGINT) AS sum_w,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents),
s2 AS (
  SELECT source, (sum_w * 1000) // n_tok + {int(bias) * 1000} AS score_micro
  FROM scored)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN score_micro >= 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_keep,
       (CAST(SUM(CASE WHEN score_micro >= 0 THEN 1 ELSE 0 END) AS BIGINT)
        * 1000000) // CAST(COUNT(*) AS BIGINT) AS keep_rate_micro,
       CAST(SUM(CAST(score_micro AS HUGEINT)) // COUNT(*) AS BIGINT)
         AS avg_score_micro
FROM s2 GROUP BY source
"""


QUERIES["quality_classifier_scores"] = q_quality_classifier_scores
ORACLES["quality_classifier_scores"] = _oracle_quality_classifier()


def q_dsir_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al.
    2023, NeurIPS): select raw-corpus documents whose hashed-n-gram
    feature distribution matches a TARGET corpus (here: the English
    docs as the target domain), the canonical target-matching selector
    that complements the registry's quality filters (lm_quality_filter
    scores fluency, quality_classifier_scores a trained keep/drop —
    DSIR reweights toward a DISTRIBUTION). Pipeline, all engine-exact:

    1. hashed unigram buckets (64, md5 'dsir:' — feature_hash
       convention);
    2. per-bucket importance log-ratio ln(p̂_target/p̂_raw) with
       Laplace smoothing, computed as an IDENTICAL scalar tree on
       both engines and rounded to micro-nats (the
       jsd_source_divergence convention) — so per-doc log-weights are
       order-free BIGINT sums;
    3. Gumbel top-k resampling (k=200) — the without-replacement
       sampler DSIR prescribes — with deterministic md5-uniform
       Gumbel noise (same micro-rounded tree both engines), total
       order (key desc, doc_id);
    4. per-lang report: selection rate + mean selected log-weight.
       On THIS synthetic corpus the per-lang token distributions
       nearly coincide (|log-weight| ≲ 0.25 nats), so a calibrated
       DSIR correctly selects near-uniformly — the capability
       evidence is the avg_logw_micro ordering (en strictly highest,
       pinned in tests/test_round11.py); on a real web corpus the
       same pipeline concentrates on the target domain.

    Scale shape: two wordcount aggregates (64-row outputs), scoring =
    explode ⋈ broadcast(64-row ratio — domain-bounded hint) + per-doc
    sum, selection = TakeOrderedAndProject; no fact-sized state
    anywhere. At 100 TB this is the DSIR paper's map-reduce shape."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    tb = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split("text", " ")).alias("t"),
    ).select(
        "doc_id",
        "lang",
        (
            F.conv(
                F.substring(F.md5(F.concat(F.lit("dsir:"), F.col("t"))), 1, 4),
                16,
                10,
            ).cast("long")
            % 64
        ).alias("b"),
    )
    raw = tb.groupBy("b").agg(F.count(F.lit(1)).cast("long").alias("cr"))
    tgt = (
        tb.where(F.col("lang") == "en")
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("long").alias("ct"))
    )
    tots = tb.agg(
        F.count(F.lit(1)).cast("long").alias("nr"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("long")
        .alias("nt"),
    )
    ratio = (
        raw.join(tgt, "b", "left")
        .select("b", "cr", F.coalesce(F.col("ct"), F.lit(0)).cast("long").alias("ct"))
        .crossJoin(F.broadcast(tots))
        .select(
            "b",
            F.expr(
                "CAST(round(ln(((ct + 1) / (cr + 1))"
                " * ((CAST(nr AS DOUBLE) + 64.0) / (CAST(nt AS DOUBLE) + 64.0)))"
                " * 1000000) AS BIGINT)"
            ).alias("r_micro"),
        )
    )
    scored = (
        tb.join(F.broadcast(ratio), "b")  # 64-row ratio: domain-bounded
        .groupBy("doc_id")
        .agg(F.sum("r_micro").cast("long").alias("logw_micro"))
    )
    keyed = scored.select(
        "doc_id",
        "logw_micro",
        F.expr(
            "logw_micro + CAST(round(-ln(-ln("
            "CAST(CAST(CONV(SUBSTRING(MD5(CONCAT('dsirg:',"
            " CAST(doc_id AS STRING))), 1, 12), 16, 10) AS BIGINT) + 1"
            " AS DOUBLE) / CAST(281474976710657 AS DOUBLE)"
            ")) * 1000000) AS BIGINT)"
        ).alias("gkey"),
    )
    sel = keyed.orderBy(
        F.col("gkey").desc(), F.col("doc_id").asc()
    ).limit(200)  # TakeOrderedAndProject
    return (
        docs.select("doc_id", "lang")
        .join(sel.select("doc_id", "logw_micro"), "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count("logw_micro").cast("long").alias("n_selected"),
            F.sum("logw_micro").cast("decimal(38,0)").alias("_sw"),
        )
        .select(
            "lang",
            "n_docs",
            "n_selected",
            F.expr("(n_selected * 1000000) div n_docs").alias(
                "select_rate_micro"
            ),
            F.expr(
                "CASE WHEN n_selected = 0 THEN NULL"
                " ELSE CAST(_sw div n_selected AS BIGINT) END"
            ).alias("avg_logw_micro"),
        )
    )


ORACLE_DSIR = """
WITH tb AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5('dsir:' || t), 1, 4))::BIGINT % 64 AS b
  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t
        FROM documents)),
raw AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cr FROM tb GROUP BY 1),
tgt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS ct FROM tb
        WHERE lang = 'en' GROUP BY 1),
tots AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nr,
         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS nt
  FROM tb),
ratio AS (
  SELECT raw.b,
         CAST(round(ln(((COALESCE(ct, 0) + 1) / (cr + 1))
              * ((CAST(nr AS DOUBLE) + 64.0) / (CAST(nt AS DOUBLE) + 64.0)))
              * 1000000) AS BIGINT) AS r_micro
  FROM raw LEFT JOIN tgt ON raw.b = tgt.b, tots),
scored AS (
  SELECT doc_id, CAST(SUM(r_micro) AS BIGINT) AS logw_micro
  FROM tb JOIN ratio USING (b) GROUP BY doc_id),
keyed AS (
  SELECT doc_id, logw_micro,
         logw_micro + CAST(round(-ln(-ln(
           CAST(('0x' || substr(md5('dsirg:' || CAST(doc_id AS VARCHAR)),
                 1, 12))::BIGINT + 1 AS DOUBLE)
           / CAST(281474976710657 AS DOUBLE)
         )) * 1000000) AS BIGINT) AS gkey
  FROM scored),
sel AS (
  SELECT doc_id, logw_micro FROM keyed
  ORDER BY gkey DESC, doc_id ASC LIMIT 200)
SELECT d.lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(s.doc_id) AS BIGINT) AS n_selected,
       (CAST(COUNT(s.doc_id) AS BIGINT) * 1000000)
         // CAST(COUNT(*) AS BIGINT) AS select_rate_micro,
       CASE WHEN COUNT(s.doc_id) = 0 THEN NULL
            ELSE CAST(SUM(s.logw_micro) // COUNT(s.doc_id) AS BIGINT) END
         AS avg_logw_micro
FROM documents d LEFT JOIN sel s ON d.doc_id = s.doc_id
GROUP BY d.lang
"""

QUERIES["dsir_importance_resample"] = q_dsir_importance_resample
ORACLES["dsir_importance_resample"] = ORACLE_DSIR


def q_kn_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney trigram-LM perplexity filter
    (operators.collocations.kn_perplexity_filter — the KenLM-class
    CCNet §4.1 curation page): an absolute-discount (D=0.75) backoff
    trigram LM trained on the corpus itself, per-document surprisal in
    integer micro-nats (the jsd_source_divergence convention; the
    −ln P expression is ONE shared SQL fragment executed by both
    engines on exact integer count tables), keep decided against the
    distribution-relative corpus-mean operating point (exact
    SUM div COUNT — ~50% keep at every SF; an absolute threshold
    cannot hold a keep rate because typical surprisal rises with
    corpus size). Scoring is per trigram TYPE, then one
    amplification-free (doc,trigram)→type join — map-shaped after two
    rounds of count aggregates; corpus text never shuffles past the
    explode."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.collocations import (
        kn_perplexity_filter,
    )

    return kn_perplexity_filter(load_table(spark, sf_dir, "documents"))


def _kn_oracle() -> str:
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.collocations import (
        KN_SURPRISAL_MICRO_SQL,
    )

    return f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
occ AS MATERIALIZED (
  SELECT doc_id, t[i] AS w1, t[i+1] AS w2, t[i+2] AS w3
  FROM toks, LATERAL (
    SELECT unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i) g),
tri AS MATERIALIZED (
  SELECT w1, w2, w3, CAST(COUNT(*) AS BIGINT) AS c3
  FROM occ GROUP BY 1, 2, 3),
big AS MATERIALIZED (
  SELECT w1, w2, CAST(SUM(c3) AS BIGINT) AS c2,
         CAST(COUNT(*) AS BIGINT) AS n_follow
  FROM tri GROUP BY 1, 2),
lvl2 AS MATERIALIZED (
  SELECT w2, w3, CAST(COUNT(*) AS BIGINT) AS cont23
  FROM tri GROUP BY 1, 2),
w2stats AS MATERIALIZED (
  SELECT w2, CAST(SUM(cont23) AS BIGINT) AS tot2,
         CAST(COUNT(*) AS BIGINT) AS types2
  FROM lvl2 GROUP BY 1),
uni AS MATERIALIZED (
  SELECT w3, CAST(COUNT(*) AS BIGINT) AS cont_u FROM lvl2 GROUP BY 1),
bt AS (SELECT CAST(COUNT(*) AS BIGINT) AS btot FROM lvl2),
scored AS MATERIALIZED (
  SELECT w1, w2, w3,
         {KN_SURPRISAL_MICRO_SQL} AS micro
  FROM tri JOIN big USING (w1, w2) JOIN lvl2 USING (w2, w3)
       JOIN w2stats USING (w2) JOIN uni USING (w3), bt),
per_doc AS (
  SELECT doc_id, w1, w2, w3, CAST(COUNT(*) AS BIGINT) AS k
  FROM occ GROUP BY 1, 2, 3, 4),
ds AS MATERIALIZED (
  SELECT doc_id,
         CAST(SUM(k) AS BIGINT) AS n_trigrams,
         CAST(SUM(k * micro) AS BIGINT) AS surprisal_micronats,
         CAST(SUM(k * micro) AS BIGINT) // CAST(SUM(k) AS BIGINT)
           AS mean_micronats
  FROM per_doc JOIN scored USING (w1, w2, w3) GROUP BY 1),
thr AS (
  SELECT CAST(SUM(mean_micronats) AS BIGINT) // CAST(COUNT(*) AS BIGINT)
    AS t FROM ds)
SELECT doc_id, n_trigrams, surprisal_micronats, mean_micronats,
       mean_micronats <= t AS keep
FROM ds, thr
"""


QUERIES["kn_perplexity_filter"] = q_kn_perplexity_filter
ORACLES["kn_perplexity_filter"] = _kn_oracle()


def q_semdedup_centroid_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup centroid pruning (operators.similarity.
    semdedup_centroid_prune — Abbas et al. 2023): each embedding
    assigned to its nearest frozen-codebook cell (exact int64
    distances, the stream_ivf_ingest codebook), scored by integer
    micro-cosine to that centroid, and pruned one-representative-per
    (cell, 0.002-wide cosine shell) — the pairs-free cheapest semantic
    dedup tier (semantic_dedup_keep is the pairwise one). Map-only
    scoring, one domain-bounded (cell × bucket ≤ 8000 rows) hash
    aggregate broadcast back. Calibrated operating point: 75% keep at
    sf0.01, 42% at sf0.1 — keep rate falls as corpus density grows,
    the direction semantic dedup is for."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.similarity import (
        pq_codebooks,
        semdedup_centroid_prune,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = pq_codebooks(1, 8, 64)[0]
    return semdedup_centroid_prune(emb, cents, dim=64, eps_micro=2000)


def _semdedup_sql_prefix(k: int, dim: int, eps: int) -> str:
    """Shared CTE prefix of the two SemDeDup oracles: scaled ints →
    per-cell distances/dots → first-min cell → micro-cosine → shell
    bucket → min-id reps. ``bucketed`` carries e and se through for
    the verified variant's rep-cosine."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.similarity import (
        pq_codebooks,
    )

    cents = pq_codebooks(1, k, dim)[0]
    dists = ", ".join(
        "("
        + " + ".join(
            f"(e[{i + 1}] - ({cents[j][i]})) * (e[{i + 1}] - ({cents[j][i]}))"
            for i in range(dim)
        )
        + f") AS d{j}"
        for j in range(k)
    )
    dots = ", ".join(
        "("
        + " + ".join(f"e[{i + 1}] * ({cents[j][i]})" for i in range(dim))
        + f") AS t{j}"
        for j in range(k)
    )
    se = " + ".join(f"e[{i + 1}] * e[{i + 1}]" for i in range(dim))
    whens = " ".join(
        f"WHEN {' AND '.join(f'd{j} <= d{jj}' for jj in range(j + 1, k))} THEN {j}"
        for j in range(k - 1)
    )
    tsel = " ".join(f"WHEN {j} THEN t{j}" for j in range(k))
    scsel = " ".join(
        f"WHEN {j} THEN {sum(c * c for c in cents[j])}" for j in range(k)
    )
    return f"""
WITH ints AS (
  SELECT vec_id, list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS e
  FROM embeddings),
feats AS (
  SELECT vec_id, e, {dists}, {dots}, ({se}) AS se FROM ints),
assigned AS (
  SELECT vec_id, e, CAST(CASE {whens} ELSE {k - 1} END AS BIGINT) AS cell,
         {", ".join(f"t{j}" for j in range(k))}, se
  FROM feats),
scored AS (
  SELECT vec_id, e, se, cell,
         CAST(floor((CASE cell {tsel} END)
             / sqrt(CAST(se AS DOUBLE)
                    * CAST((CASE cell {scsel} END) AS DOUBLE))
             * 1000000.0) AS BIGINT) AS cos_micro
  FROM assigned),
bucketed AS (
  SELECT vec_id, e, se, cell, cos_micro,
         (cos_micro + 1000000) // {eps} AS bucket
  FROM scored),
reps AS (
  SELECT cell, bucket, MIN(vec_id) AS rep FROM bucketed GROUP BY 1, 2)"""


def _oracle_semdedup(k: int = 8, dim: int = 64, eps: int = 2000) -> str:
    return (
        _semdedup_sql_prefix(k, dim, eps)
        + """
SELECT b.vec_id, b.cell, b.cos_micro, b.bucket, b.vec_id = r.rep AS keep
FROM bucketed b JOIN reps r USING (cell, bucket)
"""
    )


QUERIES["semdedup_centroid_prune"] = q_semdedup_centroid_prune
ORACLES["semdedup_centroid_prune"] = _oracle_semdedup()


def q_semdedup_verified_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paper-faithful SemDeDup (operators.similarity.
    semdedup_verified_prune — Abbas et al. 2023 §2): the centroid-shell
    screen of semdedup_centroid_prune plus the pairwise VERIFICATION
    the paper actually requires — a non-representative is dropped only
    if its exact integer cosine TO THE REPRESENTATIVE clears the
    threshold. Work stays linear (one comparison per item, never
    all-pairs); the rep-vector table is domain-bounded (≤8000 rows ×
    dim longs ≈ 4 MB broadcast). Threshold placed at the measured
    candidate-median rep-cosine (r11 rule: the fixture corpus has no
    true near-dups, so a paper-style 0.95 would leave the drop branch
    untestable)."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.similarity import (
        pq_codebooks,
        semdedup_verified_prune,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = pq_codebooks(1, 8, 64)[0]
    return semdedup_verified_prune(emb, cents, dim=64, eps_micro=2000)


def _oracle_semdedup_verified(
    k: int = 8, dim: int = 64, eps: int = 2000, verify: int = 25000
) -> str:
    rdot = " + ".join(f"b.e[{i + 1}] * v.re[{i + 1}]" for i in range(dim))
    return (
        _semdedup_sql_prefix(k, dim, eps)
        + f""",
repv AS (
  SELECT b.cell, b.bucket, r.rep, b.e AS re, b.se AS rse
  FROM bucketed b JOIN reps r
    ON b.cell = r.cell AND b.bucket = r.bucket AND b.vec_id = r.rep),
checked AS (
  SELECT b.vec_id, b.cell, b.cos_micro, b.bucket, v.rep,
         CAST(floor(({rdot})
             / sqrt(CAST(b.se AS DOUBLE) * CAST(v.rse AS DOUBLE))
             * 1000000.0) AS BIGINT) AS cos_rep_micro
  FROM bucketed b JOIN repv v ON b.cell = v.cell AND b.bucket = v.bucket)
SELECT vec_id, cell, cos_micro, bucket, cos_rep_micro,
       (vec_id = rep OR cos_rep_micro < {verify}) AS keep
FROM checked
"""
    )


QUERIES["semdedup_verified_prune"] = q_semdedup_verified_prune
ORACLES["semdedup_verified_prune"] = _oracle_semdedup_verified()


def q_ssl_prototypes_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSL-prototypes pruning (operators.similarity.
    ssl_prototypes_prune — Sorscher et al. 2022; D4 stage 2): drop the
    most-PROTOTYPICAL quarter of every frozen-codebook cell — the
    easy examples nearest their centroid direction — keeping the hard
    ones; the complement of semdedup_centroid_prune (which drops
    redundant near-dups). Map-only integer micro-cosine scoring, one
    composite-key range sort for the per-cell ranks (grouped_rank —
    k cells is exactly the low-cardinality partition key the r8 audit
    bans from Window.partitionBy), a k-row count broadcast back.
    Operating point is a per-cell FRACTION of the rank distribution
    (drop_ppm = 250000), not an absolute score — ~75% keep at every SF
    by construction (the distribution-relative rule)."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.similarity import (
        pq_codebooks,
        ssl_prototypes_prune,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = pq_codebooks(1, 8, 64)[0]
    return ssl_prototypes_prune(emb, cents, dim=64, drop_ppm=250000)


def _oracle_ssl_prototypes(
    k: int = 8, dim: int = 64, drop_ppm: int = 250000
) -> str:
    return (
        _semdedup_sql_prefix(k, dim, 2000)
        + f""",
ranked AS (
  SELECT vec_id, cell, cos_micro,
         ROW_NUMBER() OVER (
           PARTITION BY cell ORDER BY cos_micro DESC, vec_id
         ) AS proto_rank,
         COUNT(*) OVER (PARTITION BY cell) AS n
  FROM scored)
SELECT vec_id, cell, cos_micro, proto_rank,
       proto_rank > (n * {drop_ppm}) // 1000000 AS keep
FROM ranked
"""
    )


QUERIES["ssl_prototypes_prune"] = q_ssl_prototypes_prune
ORACLES["ssl_prototypes_prune"] = _oracle_ssl_prototypes()


def q_d4_pipeline_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed D4 pipeline (operators.similarity.d4_prune — Tirumala
    et al. 2023): SemDeDup centroid pruning first (one representative
    per thin centroid-cosine shell), then SSL-prototypes pruning over
    the SURVIVORS (drop the most-prototypical quarter of each cell).
    Both stages read ONE checkpointed map-only scored table — stage 2
    re-ranks survivors from the (cell, cos_micro) columns semdedup
    already computed, never touching the embeddings again. Every
    corpus row is returned with stage attribution: sem_keep,
    proto_rank (NULL for semdedup-dropped rows), and the final
    keep = sem_keep AND stage-2 keep."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.similarity import (
        d4_prune,
        pq_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = pq_codebooks(1, 8, 64)[0]
    return d4_prune(emb, cents, dim=64, eps_micro=2000, drop_ppm=250000)


def _oracle_d4(
    k: int = 8, dim: int = 64, eps: int = 2000, drop_ppm: int = 250000
) -> str:
    return (
        _semdedup_sql_prefix(k, dim, eps)
        + f""",
flagged AS (
  SELECT b.vec_id, b.cell, b.cos_micro, b.bucket,
         b.vec_id = r.rep AS sem_keep
  FROM bucketed b JOIN reps r USING (cell, bucket)),
ranked AS (
  SELECT vec_id,
         ROW_NUMBER() OVER (
           PARTITION BY cell ORDER BY cos_micro DESC, vec_id
         ) AS proto_rank,
         COUNT(*) OVER (PARTITION BY cell) AS n
  FROM flagged WHERE sem_keep)
SELECT f.vec_id, f.cell, f.cos_micro, f.bucket, f.sem_keep,
       r.proto_rank,
       f.sem_keep AND COALESCE(
         r.proto_rank > (r.n * {drop_ppm}) // 1000000, FALSE
       ) AS keep
FROM flagged f LEFT JOIN ranked r USING (vec_id)
"""
    )


QUERIES["d4_pipeline_prune"] = q_d4_pipeline_prune
ORACLES["d4_pipeline_prune"] = _oracle_d4()


def q_unimax_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax budget-capped mixture (operators.sampling.
    unimax_allocation — Chung et al. 2023): split a training-token
    budget across sources as UNIFORMLY as possible subject to an
    epoch cap — the waterfilling complement of the proportional
    apportion_budget (Hamilton) and sqrt-temperature mixture_weights.
    Closed-form over the ascending-capacity order in pure BIGINT (the
    capped set is provably a prefix, so the per-row flag is
    self-consistent); residual spread as R div u with largest-remainder
    +1s. Budget is DISTRIBUTION-RELATIVE — 96% of total capacity,
    computed on the group table itself (both branches exercised at
    every SF: capped 9 / uncapped 11 at sf0.01, 2/18 at sf0.1). Scale
    shape: one map-side-combinable aggregation collapses the corpus to
    |sources| rows; every window runs over that tiny table."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.sampling import (
        unimax_allocation,
    )

    docs = load_table(spark, sf_dir, "documents")
    return unimax_allocation(
        docs,
        ["source"],
        F.size(F.split(F.col("text"), " ")),
        epoch_cap=1,
        budget_pct_of_capacity=96,
    )


ORACLE_UNIMAX = """
WITH g AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1),
cap AS (
  SELECT source, n_docs, n_tokens,
         CAST(n_tokens * 1 AS BIGINT) AS capacity
  FROM g),
ord AS (
  SELECT c.*,
         (SUM(capacity) OVER () * 96) // 100 AS b,
         ROW_NUMBER() OVER (ORDER BY capacity, source) AS j,
         COUNT(*) OVER () AS m,
         COALESCE(SUM(capacity) OVER (
           ORDER BY capacity, source
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
  FROM cap c),
flagged AS (
  SELECT *, capacity * (m - j + 1) <= b - prefix AS capped FROM ord),
ranked AS (
  SELECT f.*,
         SUM(CASE WHEN NOT capped THEN 1 ELSE 0 END) OVER () AS u,
         b - COALESCE(
           SUM(CASE WHEN capped THEN capacity END) OVER (), 0) AS resid,
         ROW_NUMBER() OVER (PARTITION BY capped ORDER BY source) AS urank
  FROM flagged f),
alloc AS (
  SELECT source, n_docs, n_tokens, capacity, capped,
         CAST(CASE WHEN capped THEN capacity
              ELSE resid // u
                   + (CASE WHEN urank <= resid % u THEN 1 ELSE 0 END)
              END AS BIGINT) AS alloc_tokens
  FROM ranked)
SELECT source, n_docs, n_tokens, capacity, capped, alloc_tokens,
       CAST((CAST(alloc_tokens AS HUGEINT) * 1000000) // n_tokens
            AS BIGINT) AS epochs_micro
FROM alloc
"""

QUERIES["unimax_mixture"] = q_unimax_mixture
ORACLES["unimax_mixture"] = ORACLE_UNIMAX
