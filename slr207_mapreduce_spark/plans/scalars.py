"""Scalar function and UDF queries (``scalar_*``, ``udf_*``, ``udtf_*``):
SURVEY.md §2.1 "String/date/math/array/map/JSON scalar functions" and
"UDF / UDAF / UDTF" rows — per-record map, the reference's O5-O7
generalized (WorkerSender.java:129-148,216-230); the table-valued functions
are the declarative generator form of O5's one-to-many flatMap.

The ``scalar_*`` expressions are built-in ``pyspark.sql.functions``
(JVM-side, inside whole-stage codegen) — no Python UDFs in any hot path.
Each query pairs Spark expressions with the DuckDB spelling that yields
bit-identical results (engine-portable subset only: no libm-divergent fns
like exp/ln in checked outputs). Float formatting is excluded by design:
Java's String.format rounds HALF_UP where C printf rounds half-even (%f in
scalar_format_printf), and float JSON text is not portable (scalar_to_json).
DuckDB array_to_string on an EMPTY list returns NULL where Spark array_join
returns '' — the oracles COALESCE to ''. Where DuckDB lacks a function
(map lambdas), the oracle computes the expected outputs directly from the
same inputs: an independent-construction check.

The UDF queries cover the Python extension points, each in its
scale-appropriate form:

- row-at-a-time ``udf``        — the SLOW path; kept ONLY to host logic that
                                 can't vectorize (here: the reference's
                                 encode(), also shown as pure SQL for speed)
- vectorized ``pandas_udf``    — Arrow-batched scalar compute
- grouped-agg ``pandas_udf``   — Arrow-batched custom aggregation
- ``applyInPandas``            — grouped-map (per-group frame → frame)
- ``mapInArrow``               — zero-copy Arrow batches, pyarrow.compute
- Python UDTF                  — arbitrary row → rows expansion
- (``mapInPandas`` lives in operators/multimodal.py)

Every variant here is deterministic, so each is oracle-checked — the UDFs
compute values DuckDB can reproduce in SQL.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import udtf
from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

from slr207_mapreduce_spark.functions.portable import dec
from slr207_mapreduce_spark.parity.wordcount import py_encode
from slr207_mapreduce_spark.plans.base import register
from slr207_mapreduce_spark.sources.sinks import zorder_expr
from slr207_mapreduce_spark.sources.tables import load_table


@register(
    "scalar_string_funcs",
    oracle="""
    SELECT
      c_custkey,
      upper(c_name) AS name_upper,
      lower(c_mktsegment) AS seg_lower,
      length(c_name) AS name_len,
      substring(c_name, 1, 8) AS name_prefix,
      concat(c_name, '#', c_mktsegment) AS name_seg,
      replace(c_name, 'Customer', 'Cust') AS name_short,
      CAST(strpos(c_name, '#') AS INTEGER) AS hash_pos,
      trim('  ' || c_mktsegment || ' ') AS seg_trim,
      lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS key_padded,
      CASE WHEN c_name LIKE '%1%' THEN 1 ELSE 0 END AS has_one
    FROM customer
    """,
    doc="upper/lower/length/substring/concat/replace/instr/trim/lpad/LIKE.",
    tags=("scalar", "string"),
)
def scalar_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.lower("c_mktsegment").alias("seg_lower"),
        F.length("c_name").cast("long").alias("name_len"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.concat(F.col("c_name"), F.lit("#"), F.col("c_mktsegment")).alias("name_seg"),
        F.replace(F.col("c_name"), F.lit("Customer"), F.lit("Cust")).alias("name_short"),
        F.instr(F.col("c_name"), "#").cast("int").alias("hash_pos"),
        F.trim(F.concat(F.lit("  "), F.col("c_mktsegment"), F.lit(" "))).alias("seg_trim"),
        F.lpad(F.col("c_custkey").cast("string"), 8, "0").alias("key_padded"),
        F.when(F.col("c_name").like("%1%"), 1).otherwise(0).cast("int").alias("has_one"),
    )


@register(
    "scalar_regexp_split",
    oracle="""
    SELECT
      p_partkey,
      regexp_extract(p_type, '^([A-Z]+)', 1) AS type_head,
      regexp_replace(p_type, '[AEIOU]', '_', 'g') AS devoweled,
      CAST(regexp_matches(p_name, 'part_1[0-9]') AS BOOLEAN) AS name_matches,
      string_split(p_type, ' ')[1] AS type_first_token,
      CAST(len(string_split(p_name, '_')) AS INTEGER) AS name_parts
    FROM part
    """,
    doc="regexp_extract / regexp_replace / rlike / split+index — the "
    "tokenizer family (reference O5) as general scalar ops.",
    tags=("scalar", "string", "regex"),
)
def scalar_regexp_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, "part", sf_dir)
    return p.select(
        "p_partkey",
        F.regexp_extract("p_type", "^([A-Z]+)", 1).alias("type_head"),
        F.regexp_replace("p_type", "[AEIOU]", "_").alias("devoweled"),
        F.col("p_name").rlike("part_1[0-9]").alias("name_matches"),
        F.split("p_type", " ").getItem(0).alias("type_first_token"),
        F.size(F.split("p_name", "_")).cast("int").alias("name_parts"),
    )


@register(
    "scalar_date_funcs",
    oracle="""
    SELECT
      o_orderkey,
      CAST(year(o_orderdate) AS INTEGER) AS order_year,
      CAST(month(o_orderdate) AS INTEGER) AS order_month,
      CAST(day(o_orderdate) AS INTEGER) AS order_day,
      CAST(quarter(o_orderdate) AS INTEGER) AS order_quarter,
      date_trunc('month', o_orderdate) AS month_start,
      o_orderdate + INTERVAL 90 DAY AS due_date,
      CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS BIGINT) AS days_since_epoch_start,
      CAST(dayofweek(o_orderdate) AS INTEGER) AS order_dow,
      strftime(o_orderdate, '%Y-%m-%d') AS order_date_str
    FROM orders
    WHERE o_orderkey < 100
    """,
    doc="year/month/day/quarter/date_trunc/interval-add/datediff/dayofweek/"
    "format — timestamp[ms] semantics pinned to UTC.",
    tags=("scalar", "date"),
)
def scalar_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir).where(F.col("o_orderkey") < 100)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("int").alias("order_year"),
        F.month("o_orderdate").cast("int").alias("order_month"),
        F.dayofmonth("o_orderdate").cast("int").alias("order_day"),
        F.quarter("o_orderdate").cast("int").alias("order_quarter"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")).alias("due_date"),
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lit("1995-01-01").cast("date"),
        ).cast("long").alias("days_since_epoch_start"),
        # DuckDB dayofweek: Sunday=0; Spark dayofweek: Sunday=1 → align to DuckDB.
        (F.dayofweek("o_orderdate") - F.lit(1)).cast("int").alias("order_dow"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date_str"),
    )


@register(
    "scalar_math_funcs",
    oracle="""
    SELECT
      l_orderkey, l_linenumber,
      abs(l_extendedprice - 50000.0) AS price_dev,
      CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
      CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
      sqrt(l_quantity) AS qty_sqrt,
      CAST(l_orderkey % 7 AS BIGINT) AS key_mod,
      greatest(l_discount, l_tax) AS max_rate,
      least(l_discount, l_tax) AS min_rate,
      CAST(sign(l_extendedprice - 50000.0) AS DOUBLE) AS dev_sign
    FROM lineitem
    WHERE l_orderkey < 50
    """,
    doc="abs/floor/ceil/sqrt/mod/greatest/least/sign (IEEE-exact subset — "
    "sqrt is correctly-rounded per IEEE-754 so engines agree bitwise).",
    tags=("scalar", "math"),
)
def scalar_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, "lineitem", sf_dir).where(F.col("l_orderkey") < 50)
    return l.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_extendedprice") - 50000.0).alias("price_dev"),
        F.floor("l_extendedprice").cast("long").alias("price_floor"),
        F.ceil("l_extendedprice").cast("long").alias("price_ceil"),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        (F.col("l_orderkey") % 7).cast("long").alias("key_mod"),
        F.greatest("l_discount", "l_tax").alias("max_rate"),
        F.least("l_discount", "l_tax").alias("min_rate"),
        F.signum(F.col("l_extendedprice") - 50000.0).cast("double").alias("dev_sign"),
    )


@register(
    "scalar_conditional_null",
    oracle="""
    SELECT
      c_custkey,
      CASE WHEN c_acctbal < 0 THEN 'debt'
           WHEN c_acctbal < 5000 THEN 'low'
           ELSE 'high' END AS bal_band,
      coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg_or_other,
      CAST(c_acctbal IS NULL AS BOOLEAN) AS bal_is_null,
      ifnull(NULL, c_custkey) AS key_or_default
    FROM customer
    """,
    doc="CASE WHEN / coalesce / nullif / IS NULL / ifnull — NULL algebra.",
    tags=("scalar", "conditional"),
)
def scalar_conditional_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    return c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
        .alias("bal_band"),
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("OTHER")).alias(
            "seg_or_other"
        ),
        F.isnull("c_acctbal").alias("bal_is_null"),
        F.ifnull(F.lit(None).cast("long"), F.col("c_custkey")).alias("key_or_default"),
    )


@register(
    "scalar_json_funcs",
    oracle="""
    SELECT
      event_id,
      json_extract_string(props, '$.k') AS k_str,
      CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_int,
      CAST(json_extract_string(props, '$.missing') IS NULL AS BOOLEAN) AS missing_is_null
    FROM events
    WHERE event_id < 200
    """,
    doc="JSON extraction from the events.props column (get_json_object — "
    "reference O5 generalized to semi-structured records).",
    tags=("scalar", "json", "events"),
)
def scalar_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir).where(F.col("event_id") < 200)
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        F.get_json_object("props", "$.k").cast("long").alias("k_int"),
        F.isnull(F.get_json_object("props", "$.missing")).alias("missing_is_null"),
    )


@register(
    "scalar_higher_order_funcs",
    oracle="""
    SELECT vec_id,
           CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER) AS n_positive,
           array_to_string(list_transform(embedding, x -> CAST(CASE WHEN x > 0 THEN 1 ELSE 0 END AS BIGINT)), ',') AS sign_mask,
           CAST(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(embedding, x -> CAST(x AS DOUBLE))),
                (acc, x) -> acc + x) AS DOUBLE) AS comp_sum,
           CAST(list_zip(embedding[1:2], embedding[3:4])[1][1] AS DOUBLE) AS zip_head
    FROM embeddings WHERE vec_id < 50
    """,
    doc="Higher-order array functions — filter / transform / aggregate "
    "(sequential fold, engine-stable) / zip_with — lambda expressions "
    "evaluated JVM-side inside codegen, the array-processing workhorses "
    "for nested (multimodal) columns.",
    tags=("scalar", "array", "higher_order"),
)
def scalar_higher_order_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "embeddings", sf_dir).where(F.col("vec_id") < 50)
    emb = F.col("embedding")
    return e.select(
        "vec_id",
        F.size(F.filter(emb, lambda x: x > 0)).cast("int").alias("n_positive"),
        F.array_join(
            F.transform(emb, lambda x: F.when(x > 0, 1).otherwise(0).cast("long")),
            ",",
        ).alias("sign_mask"),
        F.aggregate(
            F.transform(emb, lambda x: x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).cast("double").alias("comp_sum"),
        F.zip_with(
            F.slice(emb, 1, 2), F.slice(emb, 3, 2), lambda a, b: a
        ).getItem(0).cast("double").alias("zip_head"),
    )


@register(
    "scalar_map_type",
    oracle="""
    SELECT event_id,
           array_to_string(map_keys(MAP {'type': event_type, 'uid': CAST(user_id AS VARCHAR)}), ',') AS mkeys,
           array_to_string(map_values(MAP {'type': event_type, 'uid': CAST(user_id AS VARCHAR)}), ',') AS mvals,
           (MAP {'type': event_type, 'uid': CAST(user_id AS VARCHAR)}['type'])[1] AS type_via_map
    FROM events WHERE event_id < 100
    """,
    doc="Map-type construction and access (create_map/map_keys/map_values/"
    "element_at) — maps compared via their key/value arrays since insertion "
    "order is part of both engines' map layout here.",
    tags=("scalar", "map"),
)
def scalar_map_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir).where(F.col("event_id") < 100)
    m = F.create_map(
        F.lit("type"), F.col("event_type"), F.lit("uid"), F.col("user_id").cast("string")
    )
    return e.select(
        "event_id",
        F.array_join(F.map_keys(m), ",").alias("mkeys"),
        F.array_join(F.map_values(m), ",").alias("mvals"),
        F.element_at(m, "type").alias("type_via_map"),
    )


@register(
    "scalar_array_map_funcs",
    oracle="""
    SELECT
      vec_id,
      CAST(len(embedding) AS INTEGER) AS dim,
      CAST(embedding[1] AS DOUBLE) AS first_component,
      CAST(list_max(embedding) AS DOUBLE) AS max_component,
      CAST(list_contains([CAST(label AS BIGINT), 0], 0) AS BOOLEAN) AS label_or_zero_has_zero,
      array_to_string(list_sort([CAST(label AS BIGINT), CAST(vec_id % 3 AS BIGINT)]), ',') AS sorted_pair
    FROM embeddings
    WHERE vec_id < 100
    """,
    doc="Array ops over the embedding column: size/element_at/array_max/"
    "array_contains/sort_array — nested-type handling (multimodal columns "
    "are arrays/structs end-to-end).",
    tags=("scalar", "array"),
)
def scalar_array_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "embeddings", sf_dir).where(F.col("vec_id") < 100)
    return e.select(
        "vec_id",
        F.size("embedding").cast("int").alias("dim"),
        F.element_at("embedding", 1).cast("double").alias("first_component"),
        F.array_max("embedding").cast("double").alias("max_component"),
        F.array_contains(
            F.array(F.col("label").cast("long"), F.lit(0).cast("long")), F.lit(0)
        ).alias("label_or_zero_has_zero"),
        F.array_join(
            F.sort_array(
                F.array(
                    F.col("label").cast("long"), (F.col("vec_id") % 3).cast("long")
                )
            ),
            ",",
        ).alias("sorted_pair"),
    )


@register(
    "scalar_variant_type",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_long,
           json_extract_string(props, '$.k') AS k_str,
           CAST(json_extract_string(props, '$.nope') IS NULL AS BOOLEAN) AS missing_is_null
    FROM events WHERE event_id < 150
    """,
    doc="VARIANT semi-structured type (new in Spark 4): parse_json into a "
    "binary variant column, then typed try_variant_get extraction — the "
    "open-schema ingestion path that beats string-JSON re-parsing per "
    "access (the variant is decoded once, fields are read positionally). "
    "Oracle reads the same fields via DuckDB's JSON functions; outputs are "
    "typed identically on both sides.",
    tags=("scalar", "json", "variant", "events"),
)
def scalar_variant_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir).where(F.col("event_id") < 150)
    v = F.parse_json("props")
    return e.select(
        "event_id",
        F.try_variant_get(v, "$.k", "long").alias("k_long"),
        F.try_variant_get(v, "$.k", "string").alias("k_str"),
        F.isnull(F.try_variant_get(v, "$.nope", "string")).alias("missing_is_null"),
    )


# Synthetic URL built from document columns (testdata has no URL column);
# both sides construct the identical string before parsing.
_URL_SQL = (
    "'https://' || source || '.example.com/docs/' || CAST(doc_id AS VARCHAR)"
    " || '?lang=' || lang || '&v=2#sec'"
)


def _url_col() -> F.Column:
    return F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?lang="),
        F.col("lang"),
        F.lit("&v=2#sec"),
    )


@register(
    "scalar_url_parse",
    oracle=f"""
    SELECT doc_id,
           regexp_extract({_URL_SQL}, '^([a-z]+)://', 1) AS proto,
           regexp_extract({_URL_SQL}, '^[a-z]+://([^/]+)', 1) AS host,
           regexp_extract({_URL_SQL}, '^[a-z]+://[^/]+(/[^?#]*)', 1) AS path,
           regexp_extract({_URL_SQL}, '[?&]lang=([^&#]*)', 1) AS lang_param,
           regexp_extract({_URL_SQL}, '#(.*)$', 1) AS fragment
    FROM documents WHERE doc_id < 100
    """,
    doc="URL decomposition (protocol/host/path/query-param/fragment) via "
    "parse_url — the canonical first step of web-corpus pipelines (domain "
    "extraction feeds per-domain caps and dedup keys). Oracle rebuilds "
    "each component with regexp_extract.",
    tags=("scalar", "string", "url"),
)
def scalar_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir).where(F.col("doc_id") < 100)
    u = _url_col()
    return d.select(
        "doc_id",
        F.lower(F.parse_url(u, F.lit("PROTOCOL"))).alias("proto"),
        F.parse_url(u, F.lit("HOST")).alias("host"),
        F.parse_url(u, F.lit("PATH")).alias("path"),
        F.parse_url(u, F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
        F.parse_url(u, F.lit("REF")).alias("fragment"),
    )


@register(
    "scalar_str_to_map",
    oracle="""
    SELECT doc_id,
           regexp_extract('lang:' || lang || ',src:' || source ||
                          ',len:' || CAST(n_chars AS VARCHAR),
                          'lang:([^,]*)', 1) AS m_lang,
           regexp_extract('lang:' || lang || ',src:' || source ||
                          ',len:' || CAST(n_chars AS VARCHAR),
                          'src:([^,]*)', 1) AS m_src,
           CAST(regexp_extract('lang:' || lang || ',src:' || source ||
                          ',len:' || CAST(n_chars AS VARCHAR),
                          'len:([^,]*)', 1) AS BIGINT) AS m_len
    FROM documents WHERE doc_id < 100
    """,
    doc="str_to_map: parse 'k:v,k:v' metadata strings (sidecar headers, "
    "HTTP-style attributes) into a MAP and extract typed values — the "
    "lightweight alternative to JSON for flat key-value payloads.",
    tags=("scalar", "map", "string"),
)
def scalar_str_to_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir).where(F.col("doc_id") < 100)
    kv = F.concat(
        F.lit("lang:"),
        F.col("lang"),
        F.lit(",src:"),
        F.col("source"),
        F.lit(",len:"),
        F.col("n_chars").cast("string"),
    )
    m = F.str_to_map(kv, F.lit(","), F.lit(":"))
    return d.select(
        "doc_id",
        F.element_at(m, "lang").alias("m_lang"),
        F.element_at(m, "src").alias("m_src"),
        F.element_at(m, "len").cast("long").alias("m_len"),
    )


@register(
    "udtf_stack_measures",
    oracle="""
    SELECT o_orderkey, 'total_price' AS measure, o_totalprice AS val
    FROM orders WHERE o_orderkey < 100
    UNION ALL
    SELECT o_orderkey, 'cust_key' AS measure, CAST(o_custkey AS DOUBLE) AS val
    FROM orders WHERE o_orderkey < 100
    """,
    doc="stack(n, ...) generator — the SQL-native wide-to-long TVF "
    "(n output rows per input row from column literals); complements the "
    "unpivot operator with an expression-level form. Oracle: UNION ALL.",
    tags=("udtf", "generator"),
)
def udtf_stack_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir).where(F.col("o_orderkey") < 100)
    o.createOrReplaceTempView("_stack_orders")
    return spark.sql(
        """
        SELECT o_orderkey, measure, val FROM _stack_orders
        LATERAL VIEW stack(2,
          'total_price', o_totalprice,
          'cust_key', CAST(o_custkey AS DOUBLE)) AS measure, val
        """
    )


@register(
    "udtf_inline_structs",
    oracle="""
    SELECT doc_id, 'head' AS part, left(text, 12) AS snippet
    FROM documents WHERE doc_id < 50
    UNION ALL
    SELECT doc_id, 'tail' AS part, right(text, 12) AS snippet
    FROM documents WHERE doc_id < 50
    """,
    doc="inline(array<struct>) generator: explode an array of structs into "
    "columns in one step — the idiomatic way to emit multiple typed "
    "records per row (here head/tail snippets per document).",
    tags=("udtf", "generator"),
)
def udtf_inline_structs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir).where(F.col("doc_id") < 50)
    t = F.col("text")
    return d.select(
        "doc_id",
        F.inline(
            F.array(
                F.struct(
                    F.lit("head").alias("part"),
                    F.substring(t, 1, 12).alias("snippet"),
                ),
                F.struct(
                    F.lit("tail").alias("part"),
                    t.substr(F.length(t) - 11, F.lit(12)).alias("snippet"),
                ),
            )
        ),
    )


@register(
    "scalar_datetime_extra",
    oracle="""
    SELECT o_orderkey, o_orderdate,
           CAST(last_day(o_orderdate) AS TIMESTAMP) AS month_end,
           CAST(date_trunc('week', o_orderdate) AS TIMESTAMP) AS week_start,
           CAST(o_orderdate + INTERVAL 3 MONTH AS TIMESTAMP) AS plus_3m,
           CAST(date_diff('day', DATE '2024-01-01', o_orderdate) AS INTEGER) AS days_since_2024,
           CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
           CAST(dayofweek(o_orderdate) AS INTEGER) AS dow_sunday0
    FROM orders WHERE o_orderkey < 200
    """,
    doc="Datetime arithmetic surface: last_day / week truncation / "
    "add_months / day difference / quarter / day-of-week. Engine traps "
    "normalized explicitly: Spark dayofweek is 1-based Sunday vs DuckDB "
    "0-based, and datediff counts boundary crossings on DATEs in both "
    "(no timestamp truncation divergence possible).",
    tags=("scalar", "datetime"),
)
def scalar_datetime_extra(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir).where(F.col("o_orderkey") < 200)
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        "o_orderdate",
        F.last_day(d).cast("timestamp").alias("month_end"),
        F.date_trunc("week", d).alias("week_start"),
        F.add_months(d, 3).cast("timestamp").alias("plus_3m"),
        F.datediff(d, F.lit("2024-01-01").cast("date"))
        .cast("int")
        .alias("days_since_2024"),
        F.quarter(d).cast("int").alias("qtr"),
        (F.dayofweek(d) - 1).cast("int").alias("dow_sunday0"),
    )


@register(
    "scalar_format_printf",
    oracle="""
    SELECT s_suppkey,
           printf('SUP-%06d', s_suppkey) AS padded_id,
           printf('%s/%d', s_name, s_nationkey) AS name_nation,
           printf('%x', s_suppkey) AS hex_key,
           lpad(CAST(s_nationkey AS VARCHAR), 4, '0') AS lpad_nation,
           rpad(CAST(s_suppkey AS VARCHAR), 8, '.') AS rpad_key,
           repeat('*', s_nationkey % 5) AS stars
    FROM supplier
    """,
    doc="printf-style formatting (format_string ≙ DuckDB printf: %d/%s/%x "
    "and zero-padding agree between Java's Formatter and C printf; %f does "
    "NOT — HALF_UP vs half-even — and is excluded by design), plus "
    "lpad/rpad/repeat. Pure projection: runs at scan speed inside "
    "whole-stage codegen, zero shuffle.",
    tags=("scalar",),
)
def scalar_format_printf(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, "supplier", sf_dir)
    return s.select(
        "s_suppkey",
        F.format_string("SUP-%06d", "s_suppkey").alias("padded_id"),
        F.format_string("%s/%d", "s_name", "s_nationkey").alias("name_nation"),
        F.format_string("%x", "s_suppkey").alias("hex_key"),
        F.lpad(F.col("s_nationkey").cast("string"), 4, "0").alias("lpad_nation"),
        F.rpad(F.col("s_suppkey").cast("string"), 8, ".").alias("rpad_key"),
        F.repeat(F.lit("*"), (F.col("s_nationkey") % 5).cast("int")).alias("stars"),
    )


@register(
    "scalar_sequence_arrays",
    # DuckDB range(1, n+1) == Spark sequence(1, n) (inclusive upper bound).
    oracle="""
    SELECT l_orderkey, l_linenumber,
           array_to_string(range(1, l_linenumber + 1), ',') AS seq_str,
           CAST(list_sum(range(1, l_linenumber + 1)) AS BIGINT) AS seq_sum,
           array_to_string(list_reverse(range(1, l_linenumber + 1)), ',') AS rev_str,
           COALESCE(array_to_string(list_slice(range(1, l_linenumber + 1), 2, 3), ','),
                    '') AS mid_str,
           CAST(len(range(1, l_linenumber + 1)) AS INTEGER) AS seq_len
    FROM lineitem
    WHERE l_orderkey % 100 = 0
    """,
    doc="Array generation and manipulation: sequence / reverse / slice / "
    "fold-sum / size, integer-exact, serialized to scalars for the hash "
    "gate. All JVM-side catalyst array expressions — no Python, no "
    "shuffle; generalizes the reference's per-record map (O5) to nested "
    "values.",
    tags=("scalar", "array"),
)
def scalar_sequence_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir).where(F.col("l_orderkey") % 100 == 0)
    seq = F.sequence(F.lit(1), F.col("l_linenumber"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.array_join(seq, ",").alias("seq_str"),
        F.aggregate(seq, F.lit(0).cast("long"), lambda acc, x: acc + x).alias("seq_sum"),
        F.array_join(F.reverse(seq), ",").alias("rev_str"),
        F.array_join(F.slice(seq, 2, 2), ",").alias("mid_str"),
        F.size(seq).alias("seq_len"),
    )


@register(
    "scalar_array_set_ops",
    # Spark's array_intersect/union/except dedup but keep encounter order —
    # sort before serializing so the contract is order-free on both sides.
    # DuckDB lacks list_union/list_except, so the oracle derives them from
    # filter/contains/concat/distinct — independent construction.
    oracle="""
    WITH arrs AS (
      SELECT l_orderkey, l_linenumber,
             range(1, l_linenumber + 1) AS a,
             range(greatest(l_linenumber - 1, 1), l_linenumber + 3) AS b
      FROM lineitem WHERE l_orderkey % 150 = 0
    )
    SELECT l_orderkey, l_linenumber,
           array_to_string(list_sort(list_distinct(list_filter(a, x -> list_contains(b, x)))), ',') AS inter_str,
           array_to_string(list_sort(list_distinct(list_concat(a, b))), ',') AS union_str,
           COALESCE(array_to_string(list_sort(list_distinct(list_filter(a, x -> NOT list_contains(b, x)))), ','), '') AS except_str,
           len(list_filter(a, x -> list_contains(b, x))) > 0 AS overlaps
    FROM arrs
    """,
    doc="Array set algebra: array_intersect / array_union / array_except / "
    "arrays_overlap on two derived integer sequences — deduping set "
    "semantics, sorted before serialization so the check is order-free. "
    "JVM-side codegen'd expressions at scan speed; the set-valued column "
    "toolkit for multimodal/tag columns.",
    tags=("scalar", "array"),
)
def scalar_array_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir).where(F.col("l_orderkey") % 150 == 0)
    a = F.sequence(F.lit(1), F.col("l_linenumber"))
    b = F.sequence(
        F.greatest(F.col("l_linenumber") - 1, F.lit(1)), F.col("l_linenumber") + 2
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.array_join(F.array_sort(F.array_intersect(a, b)), ",").alias("inter_str"),
        F.array_join(F.array_sort(F.array_union(a, b)), ",").alias("union_str"),
        F.array_join(F.array_sort(F.array_except(a, b)), ",").alias("except_str"),
        F.arrays_overlap(a, b).alias("overlaps"),
    )


@register(
    "scalar_hash_funcs",
    oracle="""
    SELECT c_custkey,
           md5(c_name) AS name_md5,
           sha256(c_name) AS name_sha256,
           md5(CAST(c_custkey AS VARCHAR)) AS key_md5
    FROM customer
    """,
    doc="Cryptographic digest functions over the customer dimension: md5 "
    "and sha2-256 — the content-address / cache-key primitives every "
    "dedup and fingerprinting pipeline leans on (exact dedup and the "
    "hash splitters here already use md5 internally; this query pins the "
    "digests themselves against an independent implementation). Spark's "
    "crc32/xxhash64/sha1 have no DuckDB counterpart and are pinned to "
    "reference vectors in tests/test_portable_properties.py instead.",
    tags=("scalar", "hash"),
)
def scalar_hash_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    return c.select(
        "c_custkey",
        F.md5("c_name").alias("name_md5"),
        F.sha2(F.col("c_name"), 256).alias("name_sha256"),
        F.md5(F.col("c_custkey").cast("string")).alias("key_md5"),
    )


@register(
    "scalar_xml_extract",
    oracle="""
    SELECT o_orderkey,
           o_orderkey AS xk,
           o_orderpriority AS xp,
           CAST(o_totalprice AS VARCHAR) AS xt
    FROM orders
    WHERE o_orderkey % 10 = 0
    """,
    doc="XML parsing (xpath_* family): rows are serialized to XML "
    "in-query, then field values are recovered with xpath_long / "
    "xpath_string — the oracle is the round-trip identity, so Spark's "
    "XML path evaluation is checked against ground truth rather than "
    "another XML engine (DuckDB has none). The xpath functions are "
    "codegen'd JVM expressions — the scan stays whole-stage, no UDF.",
    tags=("scalar", "xml"),
)
def scalar_xml_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir).where(F.col("o_orderkey") % 10 == 0)
    xml = F.concat(
        F.lit("<o><k>"),
        F.col("o_orderkey").cast("string"),
        F.lit("</k><p>"),
        F.col("o_orderpriority"),
        F.lit("</p><t>"),
        F.col("o_totalprice").cast("string"),
        F.lit("</t></o>"),
    )
    return o.select(
        "o_orderkey",
        F.xpath_long(xml, F.lit("o/k")).alias("xk"),
        F.xpath_string(xml, F.lit("o/p")).alias("xp"),
        F.xpath_string(xml, F.lit("o/t")).alias("xt"),
    )


@register(
    "scalar_geo_haversine",
    oracle="""
    WITH pts AS (
      SELECT c_custkey,
             (c_custkey % 17000) / 100.0 - 85.0 AS lat,
             ((c_custkey * 7) % 36000) / 100.0 - 180.0 AS lon
      FROM customer
    )
    SELECT c_custkey, lat, lon,
           CAST(FLOOR(
             2.0 * 6371.0 * ASIN(SQRT(
               POWER(SIN(RADIANS(lat - 48.8566) / 2), 2)
               + COS(RADIANS(lat)) * COS(RADIANS(48.8566))
                 * POWER(SIN(RADIANS(lon - 2.3522) / 2), 2)
             )) / 500.0) AS BIGINT) AS dist_band_500km
    FROM pts
    """,
    doc="Geospatial scalar math: haversine great-circle distance from a "
    "deterministic synthetic (lat, lon) per customer to a fixed anchor, "
    "bucketed into 500 km bands. All trig stays in codegen'd JVM "
    "expressions; banding makes the cross-engine comparison robust to "
    "sub-ulp libm differences (band width 5e2 km vs ~1e-10 km drift). "
    "The geo-bucketing primitive behind region sharding / distance-bounded "
    "candidate generation in entity-resolution joins.",
    tags=("scalar", "geo"),
)
def scalar_geo_haversine(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    lat = (F.col("c_custkey") % 17000) / 100.0 - 85.0
    lon = ((F.col("c_custkey") * 7) % 36000) / 100.0 - 180.0
    pts = c.select("c_custkey", lat.alias("lat"), lon.alias("lon"))
    a = (
        F.pow(F.sin(F.radians(F.col("lat") - 48.8566) / 2), 2)
        + F.cos(F.radians("lat"))
        * F.cos(F.radians(F.lit(48.8566)))
        * F.pow(F.sin(F.radians(F.col("lon") - 2.3522) / 2), 2)
    )
    dist = 2.0 * 6371.0 * F.asin(F.sqrt(a))
    return pts.select(
        "c_custkey",
        "lat",
        "lon",
        F.floor(dist / 500.0).cast("long").alias("dist_band_500km"),
    )


@register(
    "scalar_bitwise_ops",
    oracle="""
    SELECT o_orderkey,
           o_orderkey & 255 AS low_byte,
           o_orderkey | 4096 AS with_flag,
           xor(o_orderkey, 21845) AS xored,
           o_orderkey << 3 AS shl3,
           o_orderkey >> 2 AS shr2,
           ~o_orderkey AS inverted,
           CAST(bit_count(o_orderkey) AS INTEGER) AS popcount
    FROM orders WHERE o_orderkey < 200
    """,
    doc="Scalar bitwise expressions (&, |, ^, shifts, ~, popcount) — pure "
    "codegen'd row expressions, zero shuffle.",
    tags=("scalar", "bitwise"),
)
def scalar_bitwise_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir).where(F.col("o_orderkey") < 200)
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        k.bitwiseAND(255).alias("low_byte"),
        k.bitwiseOR(4096).alias("with_flag"),
        k.bitwiseXOR(21845).alias("xored"),
        F.shiftleft(k, 3).alias("shl3"),
        F.shiftright(k, 2).alias("shr2"),
        F.bitwise_not(k).alias("inverted"),
        F.bit_count(k).cast("int").alias("popcount"),
    )


@register(
    "scalar_try_functions",
    oracle="""
    SELECT o_orderkey,
           o_totalprice / (o_orderkey % 3) AS try_div,
           TRY_CAST(o_orderpriority AS BIGINT) AS bad_cast,
           TRY_CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS priority_digit,
           TRY_CAST(o_orderdate AS VARCHAR) AS date_str
    FROM orders WHERE o_orderkey < 300
    """,
    doc="Error-safe TRY_ variants (NULL instead of runtime failure): "
    "try_divide on a 0 denominator, try_cast on non-numeric text — the "
    "fault-tolerance surface a 100 TB ingest needs (one malformed row "
    "must not kill a 1000-executor stage). DuckDB's /0 yields NULL "
    "natively; TRY_CAST matches try_cast.",
    tags=("scalar", "try"),
)
def scalar_try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir).where(F.col("o_orderkey") < 300)
    return o.select(
        "o_orderkey",
        F.try_divide(F.col("o_totalprice"), F.col("o_orderkey") % 3).alias(
            "try_div"
        ),
        F.expr("try_cast(o_orderpriority AS BIGINT)").alias("bad_cast"),
        F.expr(
            "try_cast(substring(o_orderpriority, 1, 1) AS BIGINT)"
        ).alias("priority_digit"),
        F.expr("try_cast(o_orderdate AS STRING)").alias("date_str"),
    )


# --- row-at-a-time UDF hosting the reference's encode() --------------------

_encode_udf = F.udf(py_encode, StringType(), useArrow=False)

_ENCODE_SQL = (
    "array_to_string(list_transform(string_split(lower(word), ''), "
    "c -> CASE WHEN ascii(c) BETWEEN 96 AND 122 "
    "THEN lpad(CAST(ascii(c) - 96 AS VARCHAR), 2, '0') ELSE '' END), '')"
)


@register(
    "udf_encode_tokens",
    oracle=f"""
    WITH toks AS (
      SELECT DISTINCT unnest(string_split(text, ' ')) AS word FROM documents
    )
    SELECT word, {_ENCODE_SQL} AS encoded
    FROM toks WHERE length(word) > 0
    """,
    doc="The reference's encode() (WorkerSender.java:129-148) hosted as a "
    "row-at-a-time Python UDF over the distinct corpus vocabulary — the "
    "slow-path surface, deliberately on a small (distinct-token) input; "
    "parity/wordcount.py holds the codegen-friendly column-expression form "
    "used in hot paths.",
    tags=("udf", "parity"),
)
def udf_encode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    toks = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.length("word") > 0)
        .distinct()
    )
    return toks.select("word", _encode_udf("word").alias("encoded"))


# --- vectorized scalar pandas_udf ------------------------------------------


@F.pandas_udf(DoubleType())
def _net_price(price: pd.Series, discount: pd.Series, tax: pd.Series) -> pd.Series:
    # pure f64 elementwise arithmetic → bit-identical to the SQL expression
    return price * (1.0 - discount) * (1.0 + tax)


@register(
    "udf_pandas_scalar_net_price",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS net_price
    FROM lineitem WHERE l_orderkey < 200
    """,
    doc="Vectorized scalar pandas_udf (Arrow-batched f64 arithmetic, "
    "~10-100× over row-at-a-time): net price per lineitem. Elementwise IEEE "
    "ops → oracle-exact.",
    tags=("udf", "pandas_udf"),
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, "lineitem", sf_dir).where(F.col("l_orderkey") < 200)
    return l.select(
        "l_orderkey",
        "l_linenumber",
        _net_price("l_extendedprice", "l_discount", "l_tax").alias("net_price"),
    )


# --- grouped-agg pandas_udf -------------------------------------------------


@F.pandas_udf(DoubleType())
def _value_range(v: pd.Series) -> float:
    # max - min: order-independent → deterministic across partitionings
    return float(v.max() - v.min())


@register(
    "udf_pandas_grouped_agg_range",
    oracle="""
    SELECT user_id, max(value) - min(value) AS value_range
    FROM events GROUP BY user_id
    """,
    doc="Grouped-aggregate pandas_udf: per-user value range (max-min — "
    "order-independent, hence oracle-exact; a sum here would not be).",
    tags=("udf", "pandas_udf"),
)
def udf_pandas_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    return e.groupBy("user_id").agg(_value_range("value").alias("value_range"))


# --- applyInPandas (grouped map) --------------------------------------------


def _gap_to_group_max(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf[["user_id", "event_id", "value"]].copy()
    out["gap_to_max"] = pdf["value"].max() - pdf["value"]
    return out


@register(
    "udf_apply_in_pandas_gap",
    oracle="""
    SELECT user_id, event_id, value,
           max(value) OVER (PARTITION BY user_id) - value AS gap_to_max
    FROM events
    """,
    doc="applyInPandas grouped-map: per-user frame in, frame out (gap to "
    "the user's max value). The custom-operator escape hatch when window "
    "functions can't express the per-group logic; here it CAN be a window, "
    "which is exactly what the oracle uses.",
    tags=("udf", "pandas_udf"),
)
def udf_apply_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir).select("user_id", "event_id", "value")
    return e.groupBy("user_id").applyInPandas(
        _gap_to_group_max,
        schema="user_id long, event_id long, value double, gap_to_max double",
    )


@udtf(returnType="word: string, pos: bigint")
class PositionedWords:
    """Tokenize with positions — a UDTF (one input row → N output rows)."""

    def eval(self, text: str):  # noqa: D102
        if text is None:
            return
        for i, w in enumerate(text.split(" ")):
            if w:
                yield (w, i)


@register(
    "udtf_positioned_words",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split(text, ' ')) AS word,
             unnest(range(0, len(string_split(text, ' ')))) AS pos
      FROM documents
    )
    SELECT doc_id, word, CAST(pos AS BIGINT) AS pos
    FROM toks WHERE length(word) > 0
    """,
    doc="Python UDTF (lateral table function): positional tokenization of "
    "documents — the reference's flatMap tokenizer (WorkerSender.java:216) "
    "as a user-defined table function. Slow path by design; the codegen "
    "form lives in parity/wordcount.py.",
    tags=("udf", "udtf"),
)
def udtf_positioned_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    d.createOrReplaceTempView("documents")
    spark.udtf.register("positioned_words", PositionedWords)
    return spark.sql(
        """
        SELECT d.doc_id, f.word, f.pos
        FROM documents d, LATERAL positioned_words(d.text) f
        """
    )


# --------------------------------------------------------------------------
# Generator completeness: explode_outer (null row for empty arrays)
# --------------------------------------------------------------------------


@register(
    "scalar_explode_outer",
    oracle="""
    SELECT doc_id,
           unnest(CASE WHEN len(arr) = 0 THEN [CAST(NULL AS VARCHAR)]
                  ELSE arr END) AS long_tok
    FROM (
      SELECT doc_id,
             list_filter(string_split(text, ' '), t -> length(t) >= 8) AS arr
      FROM documents
    )
    """,
    doc="explode_outer: documents keep a row (NULL token) even when the "
    "generator input is empty — the outer-generator semantics a plain "
    "explode silently drops (here ~most docs have no 8+-char token, so "
    "inner explode would lose them). DuckDB oracle models the outer "
    "behavior as a [NULL] fallback list.",
    tags=("scalar", "generator"),
)
def scalar_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    return d.selectExpr(
        "doc_id", "filter(split(text, ' '), t -> length(t) >= 8) AS arr"
    ).select("doc_id", F.explode_outer("arr").alias("long_tok"))


_ZKEY = zorder_expr("(l_partkey % 1024)", "(l_suppkey % 1024)", bits=10)


@register(
    "scalar_zorder_key",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
           {_ZKEY} AS zkey,
           CAST(({_ZKEY} >> 14) AS BIGINT) AS ztile
    FROM lineitem
    """,
    doc="Z-order (Morton) clustering key over (l_partkey, l_suppkey): "
    "interleaving the low 10 bits of each key gives a 20-bit curve "
    "position whose prefix (`ztile`, top 6 bits) is the coarse tile — "
    "`repartitionByRange(ztile, zkey)` + sorted parquet writes produce "
    "files whose min/max stats are tight in BOTH dimensions, so a "
    "predicate on either column prunes row groups at scan time. The "
    "interleave is one shared `>>`/`<<`/`&` expression text parsed "
    "identically by Spark SQL and DuckDB — a pure projection, zero "
    "shuffle.",
    tags=("scalar", "layout", "zorder"),
)
def scalar_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(_ZKEY).alias("zkey"),
        F.expr(f"CAST(({_ZKEY} >> 14) AS BIGINT)").alias("ztile"),
    )


# --- binary encodings (base64 / hex) -------------------------------------


@register(
    "scalar_binary_encodings",
    oracle="""
    SELECT doc_id,
           to_base64(CAST(substring(text, 1, 12) AS BLOB)) AS b64,
           hex(CAST(substring(text, 1, 12) AS BLOB)) AS hx,
           CAST(unhex(hex(CAST(substring(text, 1, 12) AS BLOB))) AS VARCHAR)
             AS roundtrip
    FROM documents
    """,
    doc="Binary transport encodings: base64 and hex of a text-derived "
    "payload plus the unhex round-trip — the blob-key/serialization "
    "surface (content digests travel as hex, payloads as base64 in JSON "
    "envelopes). Spark base64/hex/unhex against DuckDB's to_base64/hex/"
    "unhex — independent codec implementations agreeing byte-for-byte. "
    "Pure projection, zero shuffle.",
    tags=("scalar", "binary"),
)
def scalar_binary_encodings(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    payload = F.encode(F.substring("text", 1, 12), "UTF-8")
    return d.select(
        "doc_id",
        F.base64(payload).alias("b64"),
        F.hex(payload).alias("hx"),
        F.decode(F.unhex(F.hex(payload)), "UTF-8").alias("roundtrip"),
    )


@register(
    "udf_map_in_arrow",
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           CAST((length(text) - length(replace(text, 'the', ''))) / 3 AS BIGINT) AS the_count
    FROM documents
    """,
    doc="mapInArrow: per-batch pyarrow.compute kernels (utf8_length, "
    "binary length, count_substring) with ZERO pandas/python-object "
    "conversion — the fastest Python escape hatch Spark has. Batches stay "
    "Arrow end-to-end; executor memory per task is one record batch. The "
    "oracle recomputes the same quantities in pure SQL.",
    tags=("udf", "arrow"),
)
def udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow as pa

    d = load_table(spark, "documents", sf_dir).select("doc_id", "text")

    def feats(batches):
        import pyarrow.compute as pc

        for batch in batches:
            text = batch.column("text")
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    pc.cast(pc.utf8_length(text), pa.int64()),
                    pc.cast(pc.binary_length(text), pa.int64()),
                    pc.cast(pc.count_substring(text, "the"), pa.int64()),
                ],
                names=["doc_id", "n_chars", "n_bytes", "the_count"],
            )

    return d.mapInArrow(
        feats, "doc_id long, n_chars long, n_bytes long, the_count long"
    )


@register(
    "scalar_map_higher_order",
    # DuckDB has no map lambdas — the oracle constructs the expected
    # outputs directly from the same scalar inputs (independent
    # construction, not same-function echo).
    oracle="""
    SELECT event_id,
           CAST(value * 2 AS DOUBLE) AS doubled_value,
           CASE WHEN value > 50.0 THEN 'value:' || CAST(CAST(value AS DECIMAL(12,2)) AS VARCHAR)
                ELSE '' END AS kept_str,
           CAST(CAST(value AS DECIMAL(12,2)) + CAST(user_id AS DECIMAL(12,2)) AS DOUBLE) AS zipped_sum
    FROM events WHERE event_id < 200
    """,
    doc="Map-type lambda functions: transform_values (per-entry rescale), "
    "map_filter (entry predicate), map_zip_with (two-map combine) — "
    "evaluated JVM-side like the array HOFs. Outputs are extracted back to "
    "scalars; DuckDB lacks map lambdas, so the oracle derives the expected "
    "values independently from the raw columns (decimal-exact where "
    "doubles are combined).",
    tags=("scalar", "map", "higher_order"),
)
def scalar_map_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir).where(F.col("event_id") < 200)
    m = F.create_map(F.lit("v"), F.col("value"))
    doubled = F.transform_values(m, lambda k, v: v * 2)
    kept = F.map_filter(m, lambda k, v: v > 50.0)
    dec_map = F.create_map(F.lit("v"), dec("value"))
    uid_map = F.create_map(F.lit("v"), F.col("user_id").cast("decimal(12,2)"))
    zipped = F.map_zip_with(dec_map, uid_map, lambda k, a, b: a + b)
    kept_str = F.concat_ws(
        "",
        F.transform(
            F.map_values(kept),
            lambda v: F.concat(F.lit("value:"), dec(v).cast("string")),
        ),
    )
    return e.select(
        "event_id",
        F.element_at(doubled, "v").cast("double").alias("doubled_value"),
        kept_str.alias("kept_str"),
        F.element_at(zipped, "v").cast("double").alias("zipped_sum"),
    )


_LCA_SQL = """
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1.0 - l_discount) AS gross,
           gross * (1.0 + l_tax) AS charged,
           charged - gross AS tax_amount
    FROM lineitem
    WHERE l_orderkey % 50 = 0
"""


@register(
    "scalar_lateral_column_alias",
    oracle=_LCA_SQL,
    doc="Lateral column aliases: later select-list items reference earlier "
    "aliases in the SAME projection (gross -> charged -> tax_amount) — "
    "analyzer sugar that inlines to one projection node, so the plan is "
    "identical to writing the expressions out; row-local double math "
    "(no aggregation) is IEEE-deterministic. Identical query text runs on "
    "both engines.",
    tags=("scalar", "sql"),
)
def scalar_lateral_column_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    li.createOrReplaceTempView("lineitem")
    return spark.sql(_LCA_SQL)


@register(
    "scalar_to_json",
    oracle="""
    SELECT o_orderkey,
           to_json(struct_pack(k := o_orderkey, status := o_orderstatus,
                               pri := o_orderpriority)) AS obj_json,
           to_json([o_orderkey, o_custkey]) AS arr_json,
           CAST(json_extract(('{"a":' || CAST(o_custkey AS VARCHAR) || '}'), '$.a')
                AS BIGINT) AS roundtrip_a
    FROM orders WHERE o_orderkey % 200 = 0
    """,
    doc="JSON generation + parse round-trip: to_json over a struct and an "
    "array (compact `{\"k\":v}` form — byte-identical across engines for "
    "integer/string payloads; floats excluded by design), and from_json "
    "pulling a typed field back out. Pure projection at scan speed; the "
    "serialization shape used by every JSON-lines sink.",
    tags=("scalar", "json"),
)
def scalar_to_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir).where(F.col("o_orderkey") % 200 == 0)
    payload = F.concat(F.lit('{"a":'), F.col("o_custkey").cast("string"), F.lit("}"))
    schema = StructType([StructField("a", LongType())])
    return o.select(
        "o_orderkey",
        F.to_json(
            F.struct(
                F.col("o_orderkey").alias("k"),
                F.col("o_orderstatus").alias("status"),
                F.col("o_orderpriority").alias("pri"),
            )
        ).alias("obj_json"),
        F.to_json(F.array(F.col("o_orderkey"), F.col("o_custkey"))).alias("arr_json"),
        F.from_json(payload, schema).getField("a").alias("roundtrip_a"),
    )

