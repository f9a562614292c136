"""Complex-type surface: arrays (incl. higher-order lambdas), struct/map,
JSON — SURVEY.md §2 fn_array / fn_map_struct / fn_json. All built-in
Catalyst expressions (no UDFs): at 100 TB the lambda forms (transform/
filter/aggregate/zip_with) run inside codegen, which is why the similarity
ops in operators/simsearch.py are built on them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from c2_duckdb_runner_spark.operators.inference_ext import CENTS_SQL, cents
from c2_duckdb_runner_spark.registry import register
from c2_duckdb_runner_spark.tables import load


@register(
    "fn_array_basic",
    oracle=(
        "SELECT vec_id, len(embedding) AS dim, embedding[1] AS first_elem, "
        "list_contains([1, 2, 3], CAST(label AS BIGINT)) AS small_label, "
        "list_sort([CAST(label AS BIGINT), CAST(vec_id % 5 AS BIGINT), 3])"
        " AS sorted_trio "
        "FROM embeddings"
    ),
)
def fn_array_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """size / index / contains / sort over ArrayType (embedding: list<float>)."""
    e = load(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.element_at("embedding", 1).alias("first_elem"),
        F.array_contains(
            F.array(F.lit(1).cast("long"), F.lit(2), F.lit(3)),
            F.col("label").cast("long"),
        ).alias("small_label"),
        F.sort_array(
            F.array(
                F.col("label").cast("long"),
                (F.col("vec_id") % 5).cast("long"),
                F.lit(3).cast("long"),
            )
        ).alias("sorted_trio"),
    )


@register(
    "fn_array_explode",
    oracle=(
        "SELECT token, COUNT(*) AS n FROM ("
        " SELECT unnest(string_split(text, ' ')) AS token FROM documents) t "
        "GROUP BY token"
    ),
)
def fn_array_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode = UNNEST — the word-count shape (scan → generate → agg);
    partial aggregation keeps the shuffle tiny even when tokens blow up
    the row count 100×."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )


@register(
    "fn_array_transform",
    oracle=(
        "SELECT l_orderkey, l_linenumber, "
        "list_transform(range(1, 4), x -> x * l_linenumber) AS multiples, "
        "list_filter(range(1, 7), x -> x % l_linenumber = 0) AS divisible, "
        "CAST(list_sum(list_transform(range(1, 4), x -> x * l_linenumber)) "
        "AS BIGINT) AS mult_sum "
        "FROM lineitem WHERE l_orderkey <= 100"
    ),
)
def fn_array_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order lambdas: transform / filter / aggregate (int math — exact).

    DuckDB's range(1,4) is end-exclusive [1,2,3] = Spark sequence(1,3);
    list_sum's BIGINT result is matched by casting the fold result.

    Hostile hardening (r11): the lambda multiplies and mods by the data
    column, so 0 / ±2^31 values hit ANSI REMAINDER_BY_ZERO and int
    overflow where DuckDB yields NULL / BIGINT — pinned to one semantics
    with try_mod (÷0 → NULL → filtered out, both engines) and 64-bit
    lambda math (DuckDB range elements are BIGINT already)."""
    li = load(spark, sf_dir, "lineitem").filter("l_orderkey <= 100")
    seq3 = F.sequence(F.lit(1), F.lit(3))
    ln = F.col("l_linenumber").cast("long")
    multiples = F.transform(seq3, lambda x: x.cast("long") * ln)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        multiples.alias("multiples"),
        F.filter(
            F.sequence(F.lit(1), F.lit(6)),
            lambda x: F.try_mod(x.cast("long"), ln) == 0,
        ).alias("divisible"),
        F.aggregate(
            multiples, F.lit(0).cast("long"), lambda acc, x: acc + x
        )
        .cast("bigint")
        .alias("mult_sum"),
    )


@register(
    "fn_array_zip",
    oracle=(
        "SELECT l_orderkey, l_linenumber, "
        "list_transform(list_zip([CAST(l_linenumber AS BIGINT), 2, 3], "
        " [10, 20, CAST(l_orderkey % 10 AS BIGINT)]), p -> p[1] + p[2]) AS zsum "
        "FROM lineitem WHERE l_orderkey <= 100"
    ),
)
def fn_array_zip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zip_with — element-wise combination of two arrays (the dot-product
    primitive; float version lives in simsearch)."""
    li = load(spark, sf_dir, "lineitem").filter("l_orderkey <= 100")
    a = F.array(
        F.col("l_linenumber").cast("long"), F.lit(2).cast("long"), F.lit(3).cast("long")
    )
    b = F.array(
        F.lit(10).cast("long"), F.lit(20).cast("long"),
        (F.col("l_orderkey") % 10).cast("long"),
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.zip_with(a, b, lambda x, y: x + y).alias("zsum"),
    )


@register(
    "fn_struct",
    oracle=(
        "SELECT c_custkey, {'name': c_name, 'bal': c_acctbal} AS info, "
        "{'name': c_name, 'bal': c_acctbal}.name AS info_name "
        "FROM customer"
    ),
)
def fn_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """struct construction + field access (DuckDB struct literal syntax on
    the oracle side)."""
    c = load(spark, sf_dir, "customer")
    info = F.struct(F.col("c_name").alias("name"), F.col("c_acctbal").alias("bal"))
    return c.select(
        "c_custkey", info.alias("info"), info.getField("name").alias("info_name")
    )


@register(
    "fn_map",
    oracle=(
        "SELECT c_custkey, map_keys(MAP {'segment': c_mktsegment}) AS mkeys, "
        "map_extract(MAP {'segment': c_mktsegment}, 'segment')[1] AS seg_value "
        "FROM customer"
    ),
)
def fn_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType: construction, key listing, lookup. (DuckDB map[...] lookup
    yields the element directly in 1.0's SQL dialect.)"""
    c = load(spark, sf_dir, "customer")
    m = F.create_map(F.lit("segment"), F.col("c_mktsegment"))
    return c.select(
        "c_custkey",
        F.map_keys(m).alias("mkeys"),
        F.element_at(m, "segment").alias("seg_value"),
    )


@register(
    "fn_json",
    oracle=(
        "SELECT event_id, CAST(props->>'$.k' AS INTEGER) AS k, "
        "json_extract_string(props, '$.missing') AS missing "
        "FROM events"
    ),
)
def fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction on the events.props JSON-text column
    (get_json_object ≙ DuckDB ->> / json_extract_string); missing paths are
    NULL in both engines."""
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
        F.get_json_object("props", "$.missing").alias("missing"),
    )


@register(
    "fn_from_json",
    oracle=(
        "SELECT event_id, CAST(props->>'$.k' AS INTEGER) AS parsed_k "
        "FROM events WHERE CAST(props->>'$.k' AS INTEGER) > 50"
    ),
)
def fn_from_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-full JSON parse (from_json to a typed struct) + predicate on
    the parsed field."""
    ev = load(spark, sf_dir, "events")
    parsed = F.from_json("props", "k INT")
    return (
        ev.select("event_id", parsed.getField("k").alias("parsed_k"))
        .filter(F.col("parsed_k") > 50)
    )


@register(
    "fn_to_json",
    oracle=(
        "SELECT event_id, to_json({'id': event_id, 'type': event_type}) AS j "
        "FROM events WHERE event_id < 100"
    ),
)
def fn_to_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct → JSON text serialization (compact, no whitespace in both).

    ignoreNullFields=false pins include-null emission: Spark's default
    DROPS null struct fields ('{"id":11}') where DuckDB emits
    '"type":null' — invisible until the hostile fixture NULLed
    event_type (r11)."""
    ev = load(spark, sf_dir, "events").filter("event_id < 100")
    return ev.select(
        "event_id",
        F.to_json(
            F.struct(F.col("event_id").alias("id"), F.col("event_type").alias("type")),
            {"ignoreNullFields": "false"},
        ).alias("j"),
    )


@register(
    "fn_array_setops",
    oracle="""
WITH g AS (
  SELECT l_orderkey,
         list_sort(list_distinct(COALESCE(list(l_linenumber)
           FILTER (WHERE l_quantity > 25), []))) AS bulk_lines,
         list_sort(list_distinct(COALESCE(list(l_linenumber)
           FILTER (WHERE l_discount > 0.05), []))) AS disc_lines
  FROM lineitem GROUP BY l_orderkey
)
SELECT l_orderkey,
       CAST(len(list_intersect(bulk_lines, disc_lines)) AS INTEGER) AS n_both,
       COALESCE(array_to_string(list_sort(list_intersect(bulk_lines, disc_lines)),
         ','), '') AS both_lines,
       COALESCE(array_to_string(list_sort(list_filter(bulk_lines,
           x -> NOT list_contains(disc_lines, x))), ','), '') AS bulk_only
FROM g
""",
)
def fn_array_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set algebra per group: distinct sorted line numbers matching
    two predicates, then intersection and difference — all inside the
    aggregate's projection (one shuffle on l_orderkey; the set ops are
    per-row array lambdas). Inputs are made distinct+sorted first so both
    engines' set functions agree element-for-element, and outputs are
    re-sorted + joined to strings to pin representation."""
    li = load(spark, sf_dir, "lineitem")
    g = li.groupBy("l_orderkey").agg(
        F.sort_array(
            F.array_distinct(
                F.collect_list(F.when(F.col("l_quantity") > 25, F.col("l_linenumber")))
            )
        ).alias("bulk_lines"),
        F.sort_array(
            F.array_distinct(
                F.collect_list(F.when(F.col("l_discount") > 0.05, F.col("l_linenumber")))
            )
        ).alias("disc_lines"),
    )
    both = F.sort_array(F.array_intersect("bulk_lines", "disc_lines"))
    only = F.sort_array(F.array_except("bulk_lines", "disc_lines"))
    return g.select(
        "l_orderkey",
        F.size(both).alias("n_both"),
        F.array_join(both, ",").alias("both_lines"),
        F.array_join(only, ",").alias("bulk_only"),
    )


@register(
    "fn_xml_parse",
    oracle=f"""
SELECT o_orderkey,
       o_orderkey AS xa_key,
       o_orderstatus AS xs_status,
       {CENTS_SQL.format('o_totalprice')} AS xi_cents
FROM orders
""",
)
def fn_xml_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native XML (Spark 4): a deterministic XML document is synthesized per
    order, then decomposed two ways — from_xml into a typed struct, and
    xpath_* scalar probes — proving both parsers re-derive the inputs (the
    same oracle-by-construction pattern as fn_url_parse; DuckDB has no XML
    type, so the oracle states the expected components directly). All
    JVM-side; no UDF."""
    o = load(spark, sf_dir, "orders")
    xml = F.concat(
        F.lit("<o><k>"),
        F.col("o_orderkey").cast("string"),
        F.lit("</k><s>"),
        F.col("o_orderstatus"),
        F.lit("</s><c>"),
        cents("o_totalprice").cast("string"),
        F.lit("</c></o>"),
    )
    d = o.select("o_orderkey", xml.alias("x"))
    parsed = d.select(
        "o_orderkey",
        F.from_xml("x", "k BIGINT, s STRING, c BIGINT").alias("v"),
        F.expr("xpath_long(x, '/o/c')").alias("xp_cents"),
    )
    return parsed.select(
        "o_orderkey",
        F.col("v.k").alias("xa_key"),
        F.col("v.s").alias("xs_status"),
        F.col("xp_cents").alias("xi_cents"),
    )


@register(
    "fn_str_to_map",
    # r11 hostile pins: the round-trip property only holds for
    # delimiter-free values, so [,:] sanitize on both sides; a NULL field
    # NULLs the whole settings string (concat propagation), so both
    # outputs guard on both inputs
    oracle="""
SELECT event_id,
       CASE WHEN user_id IS NOT NULL AND event_type IS NOT NULL
            THEN 'u' || CAST(user_id AS VARCHAR) END AS uid,
       CASE WHEN user_id IS NOT NULL AND event_type IS NOT NULL
            THEN regexp_replace(event_type, '[,:]', '_', 'g') END AS etype
FROM events
""",
)
def fn_str_to_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """str_to_map over a synthesized k:v settings string (the log-line /
    properties-bag decoder): build 'uid:<u>,etype:<t>' per event, parse to
    MAP<STRING,STRING>, probe keys back out. Oracle-by-construction; map
    equality itself is never hashed (map key order is engine-dependent) —
    probed VALUES are."""
    ev = load(spark, sf_dir, "events")
    s = F.concat(
        F.lit("uid:u"),
        F.col("user_id").cast("string"),
        F.lit(",etype:"),
        F.regexp_replace("event_type", "[,:]", "_"),
    )
    m = F.expr("str_to_map(s, ',', ':')")
    return ev.select("event_id", s.alias("s")).select(
        "event_id",
        m.getItem("uid").alias("uid"),
        m.getItem("etype").alias("etype"),
    )


@register(
    "fn_array_of_structs",
    oracle="""
WITH d AS (
  SELECT l_orderkey,
         list_transform(
           list_filter(
             list_zip(
               list(l_linenumber
                    ORDER BY l_linenumber, l_partkey, l_quantity),
               list(l_quantity
                    ORDER BY l_linenumber, l_partkey, l_quantity)),
             p -> p[2] > 25),
           p -> p[1]) AS big_lines
  FROM lineitem GROUP BY l_orderkey
)
SELECT l_orderkey, len(big_lines) AS n_big,
       coalesce(array_to_string(big_lines, ','), '') AS big_csv
FROM d
""",
)
def fn_array_of_structs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-of-structs with higher-order functions — lineitems nest under
    their order as (linenumber, quantity) pairs (sorted by
    (linenumber, partkey, quantity) — the fixture duplicates
    (orderkey, linenumber, partkey), so quantity joins the sort key to
    mirror Spark's struct-field comparison order exactly), then filter/transform lambdas run over the
    nested rows WITHOUT exploding: the entire pipeline is one aggregate
    plus per-row JVM lambda evaluation, no second shuffle. This is the
    denormalized-document shape (order header + lines) every event lake
    stores; DuckDB's list_zip/list_filter/list_transform spell the same
    algebra."""
    li = load(spark, sf_dir, "lineitem")
    pairs = li.groupBy("l_orderkey").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    "l_linenumber", "l_partkey", F.col("l_quantity").alias("q")
                )
            )
        ).alias("lines")
    )
    big = F.transform(
        F.filter("lines", lambda p: p["q"] > 25),
        lambda p: p["l_linenumber"],
    )
    return pairs.select(
        "l_orderkey",
        F.size(big).alias("n_big"),
        F.coalesce(F.array_join(big.cast("array<string>"), ","), F.lit("")).alias(
            "big_csv"
        ),
    )


@register(
    "fn_from_csv",
    oracle="""
SELECT e.event_id,
       CASE WHEN ok THEN e.user_id END AS uid,
       CASE WHEN ok THEN
         NULLIF(regexp_replace(e.event_type, '[,"]', '_', 'g'), '') END
         AS etype,
       CASE WHEN ok THEN round(e.value, 3) END AS val
FROM (SELECT *, user_id IS NOT NULL AND event_type IS NOT NULL
                AND value IS NOT NULL AS ok FROM events) e
""",
)
def fn_from_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_csv — parse an embedded CSV line (the queue-message / log-line
    payload decoder, complement of fn_from_json): a deterministic line is
    synthesized per event, parsed back through the CSV reader with a typed
    schema, and the probed fields must re-derive the inputs. value rides
    as round(...,3) text so the double round-trips exactly."""
    ev = load(spark, sf_dir, "events")
    # r11 hostile pins: CSV-breaking chars sanitized; concat_ws SKIPS
    # NULL fields (silent field shift), so a NULL in any field NULLs the
    # whole line instead — mirrored in the oracle
    line = F.when(
        F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("value").isNotNull(),
        F.concat_ws(
            ",",
            F.col("user_id").cast("string"),
            F.regexp_replace("event_type", '[,"]', "_"),
            F.round("value", 3).cast("string"),
        ),
    )
    parsed = ev.select("event_id", line.alias("line")).select(
        "event_id",
        F.from_csv(
            "line", F.lit("uid BIGINT, etype STRING, val DOUBLE")
        ).alias("v"),
    )
    return parsed.select(
        "event_id",
        F.col("v.uid").alias("uid"),
        F.col("v.etype").alias("etype"),
        F.col("v.val").alias("val"),
    )


@register(
    "fn_map_higher_order",
    oracle="""
SELECT doc_id,
       CAST(n_chars * 2 AS BIGINT) AS chars2,
       CAST(CASE WHEN n_chars > 500 THEN n_chars ELSE NULL END AS BIGINT)
         AS big_or_null,
       2 AS n_keys
FROM documents
""",
)
def fn_map_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map higher-order functions — transform_values doubles every value,
    map_filter keeps only large entries, map probes pull scalars back out
    (maps never surface whole in the result: key order is engine-defined,
    probed values are total). The per-document feature-bag (metric name →
    value) is the natural schema for heterogeneous quality signals; these
    lambdas maintain it without exploding to rows."""
    d = load(spark, sf_dir, "documents")
    m = F.create_map(
        F.lit("len"), F.col("n_chars"), F.lit("half"), F.col("n_chars") / 2
    )
    doubled = F.transform_values(m, lambda k, v: v * 2)
    big = F.map_filter(m, lambda k, v: v > 500)
    return d.select(
        "doc_id",
        doubled.getItem("len").cast("bigint").alias("chars2"),
        big.getItem("len").cast("bigint").alias("big_or_null"),
        F.size(doubled).alias("n_keys"),
    )
