"""Scalar-function packs (SURVEY.md §2.B "Scalar functions").

Reference motivation: key assembly (A9), newline normalization (A13),
content hashing + base64 (A2/A4), HL7 timestamp parsing (yyyyMMddHHmmss),
OBX numeric analysis, everything-is-string casting (§1.5), repeatable
groups as arrays (§1.3), staged-JSON access.

Everything stays JVM-side (built-in functions, whole-stage codegen) —
no Python UDFs in any of these paths.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hcls_data_lake_spark.queries.common import t
from hcls_data_lake_spark.registry import register
from hcls_data_lake_spark.session import conf_scope


@register(
    "q_fn_string",
    """
    SELECT doc_id,
           CONCAT('staging', '/protocol=', lang, '/', CAST(doc_id AS VARCHAR),
                  '.json') AS object_key,
           UPPER(lang) AS lang_uc,
           LOWER(source) AS source_lc,
           substring(text, 1, 20) AS head20,
           CAST(length(text) AS BIGINT) AS text_len,
           trim(CONCAT('  ', source, '  ')) AS trimmed,
           lpad(CAST(doc_id AS VARCHAR), 8, '0') AS padded_id,
           replace(source, 'src', 'institution_') AS source_renamed,
           CAST(strpos(text, 'query') AS BIGINT) AS query_pos
    FROM documents
    """,
)
def q_fn_string(spark, sf_dir):
    """String pack: concat/upper/lower/substring/length/trim/lpad/
    replace/instr — the zone object-key assembly of core_stack.yml:151."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.concat(
            F.lit("staging"),
            F.lit("/protocol="),
            F.col("lang"),
            F.lit("/"),
            F.col("doc_id").cast("string"),
            F.lit(".json"),
        ).alias("object_key"),
        F.upper("lang").alias("lang_uc"),
        F.lower("source").alias("source_lc"),
        F.substring("text", 1, 20).alias("head20"),
        F.length("text").cast("bigint").alias("text_len"),
        F.trim(F.concat(F.lit("  "), F.col("source"), F.lit("  "))).alias("trimmed"),
        F.lpad(F.col("doc_id").cast("string"), 8, "0").alias("padded_id"),
        F.replace(F.col("source"), F.lit("src"), F.lit("institution_")).alias(
            "source_renamed"
        ),
        F.instr(F.col("text"), "query").cast("bigint").alias("query_pos"),
    )


@register(
    "q_fn_regex",
    """
    SELECT doc_id,
           regexp_replace(text, '[0-9]+', '#', 'g') AS digits_masked,
           regexp_extract(source, 'src([0-9]+)', 1) AS source_num,
           regexp_matches(text, '^[a-z]') AS starts_lower
    FROM documents
    WHERE doc_id < 200
    """,
)
def q_fn_regex(spark, sf_dir):
    """Regex pack: the prepare-stage normalization (A13,
    prepare_er7_lambda.py:9-13) generalized: global replace, group
    extract, match test. DuckDB needs the 'g' flag to match Spark's
    replace-all."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return d.select(
        "doc_id",
        F.regexp_replace("text", "[0-9]+", "#").alias("digits_masked"),
        F.regexp_extract("source", "src([0-9]+)", 1).alias("source_num"),
        F.col("text").rlike("^[a-z]").alias("starts_lower"),
    )


@register(
    "q_fn_hash",
    """
    SELECT doc_id,
           sha256(text) AS msg_hash,
           substring(sha256(text), 1, 12) AS short_hash,
           md5(source) AS source_md5,
           to_base64(ENCODE(substring(text, 1, 12))) AS b64,
           DECODE(from_base64(to_base64(ENCODE(substring(text, 1, 12)))))
               AS roundtrip
    FROM documents
    WHERE doc_id < 300
    """,
)
def q_fn_hash(spark, sf_dir):
    """Hash/encoding pack: SHA-256 content hashing (A4,
    front_door_lambda.py:26), the old reference's 12-char short hash
    (old_reference/ingest_er7_lambda.py:30), base64 transport (A2)."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    head = F.substring("text", 1, 12)
    b64 = F.base64(head.cast("binary"))
    return d.select(
        "doc_id",
        F.sha2(F.col("text"), 256).alias("msg_hash"),
        F.substring(F.sha2(F.col("text"), 256), 1, 12).alias("short_hash"),
        F.md5(F.col("source").cast("binary")).alias("source_md5"),
        b64.alias("b64"),
        F.unbase64(b64).cast("string").alias("roundtrip"),
    )


@register(
    "q_fn_date",
    """
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y%m%d%H%M%S') AS hl7_ts,
           CAST(year(o_orderdate) AS BIGINT) AS yr,
           CAST(month(o_orderdate) AS BIGINT) AS mo,
           CAST(day(o_orderdate) AS BIGINT) AS dom,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
           CAST(date_diff('day', o_orderdate,
                          TIMESTAMP '1998-12-31 00:00:00') AS BIGINT)
               AS days_to_eoy,
           strftime(o_orderdate + INTERVAL 90 DAY, '%Y-%m-%d %H:%M:%S')
               AS plus_90d,
           CAST(floor(epoch(o_orderdate)) AS BIGINT) AS unix_sec
    FROM orders
    WHERE o_orderkey < 3000
    """,
)
def q_fn_date(spark, sf_dir):
    """Date/time pack: HL7 TS format (yyyyMMddHHmmss — the wire format
    in messages/lab01.txt:1), truncation, diffs, interval arithmetic,
    epoch. Outputs are strings/bigints so parity is tz-independent."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 3000)
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.date_format(d, "yyyyMMddHHmmss").alias("hl7_ts"),
        F.year(d).cast("bigint").alias("yr"),
        F.month(d).cast("bigint").alias("mo"),
        F.dayofmonth(d).cast("bigint").alias("dom"),
        F.date_format(F.date_trunc("month", d), "yyyy-MM-dd").alias("month_start"),
        F.datediff(
            F.lit("1998-12-31 00:00:00").cast("timestamp_ntz"), d
        ).cast("bigint").alias("days_to_eoy"),
        F.date_format(d + F.expr("INTERVAL 90 DAY"), "yyyy-MM-dd HH:mm:ss").alias(
            "plus_90d"
        ),
        # pure NTZ arithmetic — tz-independent, unlike unix_timestamp()
        F.expr(
            "timestampdiff(SECOND,"
            " cast('1970-01-01 00:00:00' as timestamp_ntz), o_orderdate)"
        ).cast("bigint").alias("unix_sec"),
    )


@register(
    "q_fn_math",
    """
    SELECT l_orderkey, l_linenumber,
           ROUND(l_extendedprice, 1) AS price_r1,
           ROUND(abs(l_discount - 0.05), 4) AS abs_disc_delta,
           CAST(ceil(l_quantity) AS BIGINT) AS qty_ceil,
           CAST(floor(l_quantity) AS BIGINT) AS qty_floor,
           ROUND(power(l_quantity, 2), 2) AS qty_sq,
           ROUND(ln(l_extendedprice), 6) AS log_price,
           CAST(l_orderkey % 7 AS BIGINT) AS key_mod7
    FROM lineitem
    WHERE l_orderkey < 2000
    """,
)
def q_fn_math(spark, sf_dir):
    """Math pack (OBX numeric analysis): round/abs/ceil/floor/pow/ln/mod."""
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 2000)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 1).alias("price_r1"),
        F.round(F.abs(F.col("l_discount") - 0.05), 4).alias("abs_disc_delta"),
        F.ceil("l_quantity").cast("bigint").alias("qty_ceil"),
        F.floor("l_quantity").cast("bigint").alias("qty_floor"),
        F.round(F.pow("l_quantity", F.lit(2)), 2).alias("qty_sq"),
        F.round(F.log("l_extendedprice"), 6).alias("log_price"),
        (F.col("l_orderkey") % 7).cast("bigint").alias("key_mod7"),
    )


@register(
    "q_fn_cast",
    """
    SELECT doc_id,
           CAST(n_chars AS VARCHAR) AS n_chars_str,
           CAST(CAST(n_chars AS VARCHAR) AS BIGINT) AS n_chars_back,
           CAST(n_chars AS DOUBLE) AS n_chars_dbl,
           TRY_CAST(lang AS BIGINT) AS lang_as_int,
           TRY_CAST(regexp_extract(source, '([0-9]+)', 1) AS BIGINT) AS source_num,
           CAST(doc_id % 2 = 0 AS BOOLEAN) AS is_even
    FROM documents
    """,
)
def q_fn_cast(spark, sf_dir):
    """Cast pack (§1.5: everything-is-string at rest, typed on
    projection): string↔numeric round-trips, try_cast null-on-fail."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.col("n_chars").cast("string").alias("n_chars_str"),
        F.col("n_chars").cast("string").cast("bigint").alias("n_chars_back"),
        F.col("n_chars").cast("double").alias("n_chars_dbl"),
        F.col("lang").try_cast("bigint").alias("lang_as_int"),
        F.regexp_extract("source", "([0-9]+)", 1).try_cast("bigint").alias("source_num"),
        ((F.col("doc_id") % 2) == 0).alias("is_even"),
    )


@register(
    "q_fn_array",
    """
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS words
      FROM documents WHERE doc_id < 100
    )
    SELECT doc_id,
           CAST(len(words) AS INTEGER) AS n_words,
           list_contains(words, 'query') AS has_query,
           COALESCE(array_to_string(list_sort(list_distinct(words)), '|'), '')
               AS vocab,
           COALESCE(array_to_string(words[1:5], '|'), '') AS first5,
           COALESCE(array_to_string(list_sort(list_transform(words, w -> upper(w))),
                                    '|'), '') AS upper_sorted,
           -- array_to_string == string_agg: NULL on an empty list, unlike
           -- Spark array_join which yields '' — coalesce to match
           COALESCE(array_to_string(list_sort(list_filter(words, w -> length(w) > 6)),
                                    '|'), '') AS long_words
    FROM tok
    """,
)
def q_fn_array(spark, sf_dir):
    """Array pack (repeatable HL7 groups → arrays, §1.3): split, size,
    contains, distinct+sort, slice, and the transform/filter HOFs.

    Collection-valued outputs are serialized to '|'-joined strings so
    any order-insensitive comparator can sort/hash the result rows."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    words = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.size(words).alias("n_words"),
        F.array_contains(words, "query").alias("has_query"),
        F.array_join(F.sort_array(F.array_distinct(words)), "|").alias("vocab"),
        F.array_join(F.slice(words, 1, 5), "|").alias("first5"),
        F.array_join(
            F.sort_array(F.transform(words, lambda w: F.upper(w))), "|"
        ).alias("upper_sorted"),
        F.array_join(
            F.sort_array(F.filter(words, lambda w: F.length(w) > 6)), "|"
        ).alias("long_words"),
    )


@register(
    "q_fn_map",
    """
    SELECT event_id,
           element_at(map {'event': event_type, 'source': CAST(user_id AS VARCHAR)},
                      'event')[1] AS event_attr,
           CAST(cardinality(map {'event': event_type,
                                 'source': CAST(user_id AS VARCHAR)}) AS INTEGER)
               AS n_attrs,
           COALESCE(array_to_string(list_sort(map_keys(map {'event': event_type,
                                   'source': CAST(user_id AS VARCHAR)})), '|'), '')
               AS attr_keys
    FROM events
    WHERE event_id < 500
    """,
)
def q_fn_map(spark, sf_dir):
    """Map pack (the generic segment→field map model, §1.5): the SNS
    envelope as a map column — create_map, element_at, keys, size.

    The key list is serialized to a '|'-joined string so any
    order-insensitive comparator can sort/hash the result rows."""
    e = t(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    m = F.create_map(
        F.lit("event"), F.col("event_type"),
        F.lit("source"), F.col("user_id").cast("string"),
    )
    return e.select(
        "event_id",
        F.element_at(m, "event").alias("event_attr"),
        F.size(m).alias("n_attrs"),
        F.array_join(F.sort_array(F.map_keys(m)), "|").alias("attr_keys"),
    )


@register(
    "q_fn_json",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value,
           json_extract_string(props, '$.k') AS k_str,
           CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod10
    FROM events
    WHERE event_id < 800
    """,
)
def q_fn_json(spark, sf_dir):
    """JSON pack (staged zone is JSON, trigger_lambda.py:30): path
    extraction from the `props` JSON column via get_json_object /
    from_json."""
    e = t(spark, sf_dir, "events").filter(F.col("event_id") < 800)
    parsed = F.from_json(F.col("props"), "k BIGINT")
    return e.select(
        "event_id",
        parsed.getField("k").alias("k_value"),
        F.get_json_object(F.col("props"), "$.k").alias("k_str"),
        (parsed.getField("k") % 10).alias("k_mod10"),
    )


@register(
    "q_fn_cond",
    """
    SELECT event_id,
           COALESCE(NULLIF(event_type, 'error'), 'dead_letter') AS routed_type,
           GREATEST(value, 50.0) AS value_floor50,
           LEAST(value, 150.0) AS value_cap150,
           IFNULL(NULLIF(event_type, event_type), 'same') AS nvl_demo
    FROM events
    """,
)
def q_fn_cond(spark, sf_dir):
    """Conditional pack (envelope defaults): coalesce/nullif/
    greatest/least/nvl — the error-routing defaults of A8/A15."""
    e = t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.coalesce(F.nullif(F.col("event_type"), F.lit("error")), F.lit("dead_letter")).alias(
            "routed_type"
        ),
        F.greatest(F.col("value"), F.lit(50.0)).alias("value_floor50"),
        F.least(F.col("value"), F.lit(150.0)).alias("value_cap150"),
        F.nvl(F.nullif(F.col("event_type"), F.col("event_type")), F.lit("same")).alias(
            "nvl_demo"
        ),
    )


@register(
    "q_fn_bitwise",
    """
    SELECT event_id,
           user_id & 255 AS band_and,
           user_id | 4096 AS band_or,
           xor(user_id, event_id) AS h_xor,
           user_id << 2 AS shl,
           user_id >> 3 AS shr,
           CAST(bit_count(user_id) AS INTEGER) AS popcount
    FROM events
    WHERE event_id < 2000
    """,
)
def q_fn_bitwise(spark, sf_dir):
    """Bitwise function pack (and/or/xor/shifts/popcount) — the
    primitives under SimHash fingerprint comparison (operators/dedup.py
    hamming64) and LSH band packing."""
    e = t(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    return e.select(
        "event_id",
        F.expr("user_id & 255").alias("band_and"),
        F.expr("user_id | 4096").alias("band_or"),
        F.expr("user_id ^ event_id").alias("h_xor"),
        F.expr("shiftleft(user_id, 2)").alias("shl"),
        F.expr("shiftright(user_id, 3)").alias("shr"),
        F.bit_count("user_id").alias("popcount"),
    )


@register(
    "q_fn_variant",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_typed,
           json_extract_string(props, '$.k') AS k_string,
           'BIGINT' AS k_type
    FROM events
    WHERE event_id < 600
    """,
)
def q_fn_variant(spark, sf_dir):
    """VARIANT (Spark 4 semi-structured type, the §1.3 dynamic-JSON
    document model without a fixed schema): parse_json -> binary
    variant, typed extraction via try_variant_get, runtime type via
    schema_of_variant. Unlike from_json, the variant encodes the
    OBSERVED types per row — the right shape for the reference's
    schema-free parsed documents where fields vary by message type.
    Variant columns never reach the output (engine-specific binary);
    only extracted scalars do, which DuckDB mirrors with JSON paths."""
    e = t(spark, sf_dir, "events").filter(F.col("event_id") < 600)
    v = F.parse_json(F.col("props"))
    return e.select(
        "event_id",
        F.try_variant_get(v, "$.k", "bigint").alias("k_typed"),
        F.try_variant_get(v, "$.k", "string").alias("k_string"),
        F.schema_of_variant(F.try_variant_get(v, "$.k", "variant")).alias(
            "k_type"
        ),
    )


@register(
    "q_fn_xml",
    """
    SELECT c_custkey, c_name AS name_rt, c_nationkey AS nation_rt,
           c_mktsegment AS segment_rt
    FROM customer
    """,
)
def q_fn_xml(spark, sf_dir):
    """XML round-trip (Spark 4 native to_xml/from_xml — the clinical
    world's other wire format, CDA/FHIR-XML): serialize each customer
    row to an XML document, parse it back with an explicit schema, and
    output the parsed fields. The oracle is the identity projection —
    value-hash equality proves serialize->parse is lossless including
    XML escaping. Both directions are JVM expressions inside codegen
    (no UDF); at 100 TB this is the scan-speed path for XML staging."""
    c = t(spark, sf_dir, "customer")
    xml = F.to_xml(
        F.struct("c_name", "c_nationkey", "c_mktsegment"),
        {"rowTag": "cust"},
    )
    parsed = F.from_xml(
        xml, "STRUCT<c_name: STRING, c_nationkey: INT, c_mktsegment: STRING>"
    )
    return c.select(
        "c_custkey",
        parsed.getField("c_name").alias("name_rt"),
        parsed.getField("c_nationkey").alias("nation_rt"),
        parsed.getField("c_mktsegment").alias("segment_rt"),
    )


@register(
    "q_fn_try",
    """
    SELECT l_orderkey, l_linenumber,
           floor(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                 / NULLIF(CAST(l_quantity - 1 AS BIGINT), 0)) / 100.0
               AS price_per_extra,
           TRY_CAST(l_returnflag AS INTEGER) AS flag_as_int,
           CASE WHEN l_orderkey % 2 = 1 THEN NULL
                ELSE 9223372036854775807 END AS guarded_add
    FROM lineitem
    WHERE l_orderkey < 1500
    """,
)
def q_fn_try(spark, sf_dir):
    """Error-safe function family (try_divide / try_cast / try_add):
    under ANSI mode (Spark 4 default) arithmetic faults THROW — one bad
    row kills a 100 TB job at stage 40. The try_* forms yield NULL
    instead, which is the only sane posture for ingest over
    unvalidated data (§1.5 everything-is-string casting). Oracle
    mirrors with NULLIF-guarded division, TRY_CAST, and an explicit
    CASE for the overflow case (DuckDB has no try_add)."""
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 1500)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        # floor over integer cents, not round(x/y, 2): the quotient can
        # land on a half-cent boundary where the engines' round() differ
        (
            F.floor(
                F.try_divide(
                    F.round(F.col("l_extendedprice") * 100, 0).cast("long"),
                    (F.col("l_quantity") - 1).cast("long"),
                )
            )
            / 100.0
        ).alias("price_per_extra"),
        F.try_to_number(F.col("l_returnflag"), F.lit("9")).cast("int").alias(
            "flag_as_int"
        ),
        F.try_add(
            F.lit(9223372036854775807), F.col("l_orderkey") % 2
        ).alias("guarded_add"),
    )


@register(
    "q_fn_collation",
    """
    WITH mixed AS (
      SELECT CASE WHEN event_id % 2 = 0 THEN upper(event_type)
                  ELSE event_type END AS et
      FROM events
    )
    SELECT CAST(SUM(CASE WHEN lower(et) = 'click' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_click,
           CAST(SUM(CASE WHEN lower(et) = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_purchase,
           CAST(SUM(CASE WHEN et = 'click' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_click_sensitive
    FROM mixed
    """,
)
def q_fn_collation(spark, sf_dir):
    """Collation-aware comparison (Spark 4 collations): equality under
    UTF8_LCASE matches case-insensitively WITHOUT rewriting both sides
    through lower() — the collation is declared on the column once and
    every comparison/join/group against it inherits the semantics
    (ER7 field values are case-insensitive identifiers in practice).
    The case-sensitive counter pins that the default binary collation
    still misses the upper-cased half. Oracle mirrors with explicit
    lower()."""
    e = t(spark, sf_dir, "events")
    mixed = F.when(
        F.col("event_id") % 2 == 0, F.upper("event_type")
    ).otherwise(F.col("event_type"))
    ci = F.collate(mixed, "UTF8_LCASE")
    return e.agg(
        F.sum(F.when(ci == F.lit("click"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_click"),
        F.sum(F.when(ci == F.lit("purchase"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_purchase"),
        F.sum(F.when(mixed == F.lit("click"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_click_sensitive"),
    )


@register(
    "q_fn_json_build",
    """
    SELECT event_id,
           '{"event":"' || event_type || '","uid":' || CAST(user_id AS VARCHAR)
               || '}' AS envelope_json,
           json_extract_string(props, '$.k') AS k1,
           json_extract_string(props, '$.missing') AS k2
    FROM events
    WHERE event_id < 700
    """,
)
def q_fn_json_build(spark, sf_dir):
    """JSON construction + multi-path extraction (to_json, json_tuple):
    the staging writer's side of the JSON story — q_fn_json reads
    staged JSON, this builds the envelope document the zone writer
    persists (trigger_lambda.py:30 stages serialized JSON). to_json on
    a struct emits compact canonical JSON in struct-field order, which
    the oracle reproduces by string assembly (values here need no
    escaping); json_tuple pulls several paths in one pass instead of N
    get_json_object calls."""
    e = t(spark, sf_dir, "events").filter(F.col("event_id") < 700)
    env = F.to_json(
        F.struct(
            F.col("event_type").alias("event"),
            F.col("user_id").alias("uid"),
        )
    )
    return e.select(
        "event_id",
        env.alias("envelope_json"),
        F.json_tuple(F.col("props"), "k", "missing"),
    ).toDF("event_id", "envelope_json", "k1", "k2")


@register(
    "q_fn_hof",
    """
    WITH tok AS (
      SELECT doc_id,
             list_transform(string_split(text, ' '), w -> length(w)) AS lens
      FROM documents WHERE doc_id < 400
    )
    SELECT doc_id,
           len(list_filter(lens, x -> x > 6)) > 0 AS any_long,
           len(list_filter(lens, x -> NOT (x < 15))) = 0 AS all_short,
           CAST(list_sum(lens) AS BIGINT) AS total_chars,
           CAST(list_sum(list_transform(lens, x -> x * x)) AS BIGINT)
               AS sum_sq
    FROM tok
    """,
)
def q_fn_hof(spark, sf_dir):
    """Higher-order-function pack beyond transform/filter (q_fn_array):
    exists / forall short-circuit per element without exploding, and
    aggregate() folds an array to a scalar inside codegen — the
    per-document reductions (any long token? total chars?) that would
    otherwise cost an explode + groupBy shuffle run entirely map-side.
    The fold is the same shape the dot products in
    operators/similarity.py use."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    lens = F.transform(F.split("text", " "), lambda w: F.length(w))
    base = d.select("doc_id", lens.alias("lens"))
    return base.select(
        "doc_id",
        F.exists("lens", lambda x: x > 6).alias("any_long"),
        F.forall("lens", lambda x: x < 15).alias("all_short"),
        F.aggregate(
            "lens", F.lit(0).cast("bigint"), lambda acc, x: acc + x
        ).alias("total_chars"),
        F.aggregate(
            "lens", F.lit(0).cast("bigint"), lambda acc, x: acc + x * x
        ).alias("sum_sq"),
    )


@register(
    "q_fn_generators",
    """
    WITH pw AS (
      SELECT p_partkey, string_split(p_name, ' ') AS w, p_size
      FROM part WHERE p_partkey < 300
    ), words AS (
      SELECT p_partkey,
             unnest([{'k': i - 1, 'v': w[i]}
                     for i in range(1, len(w) + 1)]) AS u
      FROM pw
    ), seqs AS (
      SELECT p_partkey,
             unnest([{'k': i, 'v': CAST(i * i AS VARCHAR)}
                     for i in range(1, p_size % 3 + 2)]) AS u
      FROM pw
    )
    SELECT p_partkey, 'word' AS gen, CAST(u.k AS INT) AS k, u.v AS v
    FROM words
    UNION ALL
    SELECT p_partkey, 'seq' AS gen, CAST(u.k AS INT) AS k, u.v AS v
    FROM seqs
    """,
)
def q_fn_generators(spark, sf_dir):
    """Generator (table-valued) functions pack: one row in, N rows
    out, entirely inside codegen. Two generators over the same bounded
    part slice, tagged and unioned: (1) posexplode — explode WITH
    ORDINALITY — of the name's word list, emitting the 0-based
    position the way DuckDB's UNNEST .. WITH ORDINALITY does
    1-based (the oracle builds {k, v} structs so both engines agree
    on k = pos); (2) explode(sequence(1, p_size % 3 + 1)) — a
    computed-length integer range per row (the calendar-densify /
    retry-schedule generator; the +1 floor matters because Spark's
    sequence(1, 0) counts DOWN [1,0] rather than returning empty —
    pinned here by construction). Generators run in GenerateExec
    fused with the scan — no shuffle, no UDF; output is bounded by
    sum of list lengths, and at 100 TB a generator's fan-out factor
    (not the row count) is the thing to budget: both of these are
    O(words per name) and O(3)."""
    p = (
        t(spark, sf_dir, "part")
        .filter(F.col("p_partkey") < 300)
        .select("p_partkey", F.split("p_name", " ").alias("w"), "p_size")
    )
    words = p.select(
        "p_partkey", F.posexplode("w").alias("k", "v")
    ).select(
        "p_partkey",
        F.lit("word").alias("gen"),
        F.col("k").cast("int").alias("k"),
        "v",
    )
    seqs = p.select(
        "p_partkey",
        F.explode(
            F.sequence(F.lit(1), F.expr("cast(p_size % 3 + 1 as int)"))
        ).alias("i"),
    ).select(
        "p_partkey",
        F.lit("seq").alias("gen"),
        F.col("i").cast("int").alias("k"),
        F.expr("cast(i * i as string)").alias("v"),
    )
    return words.unionByName(seqs)


@register(
    "q_fn_sql_udf",
    """
    WITH w AS (
      SELECT p_partkey,
             unnest(string_split(p_name, ' ')) AS word,
             CAST(round(p_retailprice * 100) AS BIGINT) AS price_c
      FROM part WHERE p_partkey < 400
    )
    SELECT p_partkey, word,
           CAST(strlen(word) AS INT) AS word_len,
           price_c,
           CAST(price_c // 100 AS BIGINT) AS dollars
    FROM w WHERE strlen(word) >= 5
    """,
)
def q_fn_sql_udf(spark, sf_dir):
    """SQL-language UDFs (CREATE FUNCTION ... RETURN <expr>, Spark 4):
    a scalar function (to_cents) and a TABLE function (long_words,
    RETURNS TABLE with a lateral correlated body) defined in pure SQL
    — the right UDF tier for logic that is just an expression:
    Catalyst INLINES the body into the calling plan, so unlike any
    Python UDF these stay in whole-stage codegen with zero
    serialization boundary, prune/push down like hand-written
    expressions, and need no runtime on the executors. The oracle is
    the inlined equivalent, which is exactly the point — a SQL UDF
    IS its inlining, so cross-engine equality checks that Spark's
    function resolution + lateral correlation add nothing. Governance
    note: temporary functions here; at deployment these live in the
    metastore as shared, versioned vocabulary."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION to_cents(x DOUBLE)"
        " RETURNS BIGINT RETURN cast(round(x * 100) as bigint)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION long_words(s STRING)"
        " RETURNS TABLE(word STRING, word_len INT) RETURN"
        " SELECT w, cast(length(w) as int) FROM (SELECT"
        " explode(split(s, ' ')) AS w) WHERE length(w) >= 5"
    )
    t(spark, sf_dir, "part").filter(
        F.col("p_partkey") < 400
    ).createOrReplaceTempView("sqludf_part")
    return spark.sql(
        """
        SELECT p.p_partkey, lw.word, lw.word_len,
               to_cents(p.p_retailprice) AS price_c,
               cast(to_cents(p.p_retailprice) div 100 as bigint)
                 AS dollars
        FROM sqludf_part p, LATERAL long_words(p.p_name) lw
        """
    )


@register(
    "q_fn_pipe_syntax",
    """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS rev_c,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
)
def q_fn_pipe_syntax(spark, sf_dir):
    """SQL PIPE syntax (|> operators, Spark 4 / the GoogleSQL pipe
    dialect): the same logical plan written as a linear dataflow —
    FROM |> WHERE |> AGGREGATE ... GROUP BY — instead of the
    inside-out SELECT nesting. Registered because it is a real
    dialect surface users will write against this engine, and the
    verification point is that the pipe form PARSES TO THE
    IDENTICAL PLAN: the oracle is the classic-SQL spelling, so the
    cross-engine hash pins that |> stages add no semantic drift
    (same filter pushdown, same partial aggregation — Catalyst
    rewrites the pipe AST before optimization ever runs)."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("pipe_orders")
    return spark.sql(
        """
        FROM pipe_orders
        |> WHERE o_orderstatus = 'F'
        |> AGGREGATE cast(count(*) as bigint) AS n_orders,
                     cast(sum(cast(round(o_totalprice * 100) as bigint))
                          as bigint) AS rev_c,
                     cast(count(DISTINCT o_custkey) as bigint)
                       AS n_customers
           GROUP BY o_orderpriority
        |> SELECT o_orderpriority, n_orders, rev_c, n_customers
        """
    )


@register(
    "q_fn_soundex",
    """
    WITH words AS (
      SELECT DISTINCT unnest(string_split(text, ' ')) AS w
      FROM documents
    ), lw AS (
      SELECT w FROM words WHERE regexp_matches(w, '^[a-z]+$')
    ), chars AS (
      SELECT w, g.i AS pos,
             CASE substr(w, g.i, 1)
               WHEN 'b' THEN 1 WHEN 'f' THEN 1 WHEN 'p' THEN 1
               WHEN 'v' THEN 1
               WHEN 'c' THEN 2 WHEN 'g' THEN 2 WHEN 'j' THEN 2
               WHEN 'k' THEN 2 WHEN 'q' THEN 2 WHEN 's' THEN 2
               WHEN 'x' THEN 2 WHEN 'z' THEN 2
               WHEN 'd' THEN 3 WHEN 't' THEN 3
               WHEN 'l' THEN 4
               WHEN 'm' THEN 5 WHEN 'n' THEN 5
               WHEN 'r' THEN 6
               WHEN 'h' THEN -1 WHEN 'w' THEN -1
               ELSE 0 END AS code
      FROM lw,
           LATERAL (SELECT unnest(generate_series(1, length(w)))
                    AS i) g
    ), eff AS (
      SELECT w, pos, code,
             last_value(CASE WHEN code = -1 THEN NULL ELSE code END
                        IGNORE NULLS) OVER (
               PARTITION BY w ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_eff
      FROM chars
    ), digits AS (
      SELECT w,
             string_agg(CAST(code AS VARCHAR), '' ORDER BY pos)
               FILTER (WHERE pos > 1 AND code >= 1
                       AND code IS DISTINCT FROM prev_eff) AS d
      FROM eff GROUP BY w
    )
    SELECT w AS word,
           upper(substr(w, 1, 1))
             || substr(COALESCE(d, '') || '000', 1, 3) AS sdx
    FROM digits
    """,
)
def q_fn_soundex(spark, sf_dir):
    """SOUNDEX — the phonetic blocking key fuzzy record linkage has
    used since the 1930 census, with AMERICAN-soundex semantics
    pinned cross-engine: Spark's builtin `soundex()` vs a from-
    first-principles SQL implementation in the oracle (letter→code
    table; vowels RESET code adjacency; H/W are TRANSPARENT —
    adjacency persists across them, so 'bhb' collapses to B000
    while 'bab' keeps both Bs as B100; a consonant repeating the
    FIRST letter's code is suppressed, so 'sck' is S000; pad/trim
    to letter + 3 digits). The oracle's prev-effective-code is an
    IGNORE NULLS running last_value with H/W as the NULLs — the
    windowed form of the scanning loop every textbook writes.
    Restricted to ^[a-z]+$ tokens so both engines see only the
    letter alphabet the rules above define.

    100 TB: soundex is a map-side expression — the linkage use is
    as a BLOCKING key (q_dedup_linkage_fs's equi-join key), where
    its phonetic collisions are the candidate generator for names
    that exact keys miss."""
    d = t(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.expr("w rlike '^[a-z]+$'"))
        .distinct()
    )
    return words.select(
        F.col("w").alias("word"), F.soundex("w").alias("sdx")
    )


@register(
    "q_fn_sql_scripting",
    """
    WITH cand AS (
      SELECT k, CAST(640000 * (1::BIGINT << k) AS BIGINT) AS thr_c
      FROM range(0, 30) t(k)
    ), cnts AS (
      SELECT k, thr_c,
             (SELECT count(*) FROM orders
              WHERE CAST(round(o_totalprice * 100) AS BIGINT) > thr_c) AS n
      FROM cand
    )
    SELECT CAST(thr_c AS BIGINT) AS thr_cents, CAST(n AS BIGINT) AS n_above
    FROM cnts WHERE n < 100 ORDER BY k LIMIT 1
    """,
)
def q_fn_sql_scripting(spark, sf_dir):
    """SQL scripting (Spark 4 BEGIN/DECLARE/WHILE control flow):
    binary-exponential threshold search — keep doubling a price
    cutoff until fewer than 100 orders exceed it. The procedural
    loop runs on the DRIVER; every probe inside it is an ordinary
    distributed count with the predicate pushed to the scan, so the
    whole script costs O(log(max_price)) cluster passes and no
    collect beyond each 1-row count. That split (script = control
    flow, statements = Catalyst plans) is exactly how scripting
    scales: the loop never touches row data. The oracle replays the
    same search declaratively — a candidate grid of the doubled
    thresholds with a correlated count, picking the first below the
    target — so the procedural and declarative spellings must agree
    bit-for-bit. Threshold arithmetic stays in exact BIGINT cents
    (integer-discipline: no float compare drift cross-engine)."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("script_orders")
    # BEGIN...END parses only under this conf, needed only in spark.sql
    with conf_scope(spark, {"spark.sql.scripting.enabled": "true"}):
        return spark.sql(
            """
            BEGIN
              DECLARE thr_c BIGINT DEFAULT 640000;
              DECLARE n BIGINT DEFAULT 0;
              SET n = (SELECT count(*) FROM script_orders
                       WHERE CAST(round(o_totalprice * 100) AS BIGINT) > thr_c);
              WHILE n >= 100 DO
                SET thr_c = thr_c * 2;
                SET n = (SELECT count(*) FROM script_orders
                         WHERE CAST(round(o_totalprice * 100) AS BIGINT)
                               > thr_c);
              END WHILE;
              SELECT thr_c AS thr_cents, n AS n_above;
            END
            """
        )


@register(
    "q_fn_execute_immediate",
    """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS rev_c
    FROM orders
    WHERE o_orderstatus = 'F'
      AND o_totalprice > 10000.0
      AND CAST(round(o_totalprice * 100) AS BIGINT) > 1000000
    GROUP BY o_orderpriority
    """,
)
def q_fn_execute_immediate(spark, sf_dir):
    """EXECUTE IMMEDIATE — parameterized dynamic SQL, the
    injection-safe way to run statements assembled at runtime (a BI
    layer binding user filters, a job templating engine): the
    statement text carries named parameter markers (:st, :thr — one
    marker STYLE per statement; Spark rejects mixing named and
    positional) and the values bind server-side as literals in the
    ANALYZED plan, never by string splicing. The exact cents
    predicate is on a DERIVED expression (never reaches
    PushedFilters), so the statement carries the house discipline: a
    conservative raw-column bound (o_totalprice > 10000.0, implied
    by cents > 1000000) that DOES push to the parquet scan, with the
    exact integer predicate evaluated behind it. Oracle = the same
    query with the parameters inlined; matching hashes pin that
    binding is semantically identical to literal SQL."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("ei_orders")
    return spark.sql(
        "EXECUTE IMMEDIATE "
        "'SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders, "
        " CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) "
        "   AS rev_c "
        " FROM ei_orders "
        " WHERE o_orderstatus = :st "
        "   AND o_totalprice > 10000.0 "
        "   AND CAST(round(o_totalprice * 100) AS BIGINT) > :thr "
        " GROUP BY o_orderpriority' "
        "USING 'F' AS st, 1000000 AS thr"
    )

@register(
    "q_fn_time",
    """
    SELECT event_id,
           strftime(CAST(ts AS TIMESTAMP), '%H:%M:%S') AS t_str,
           CAST(hour(ts) AS BIGINT) * 60 + CAST(minute(ts) AS BIGINT)
             AS minute_of_day,
           CAST(hour(ts) AS BIGINT) AS h
    FROM events WHERE event_id < 3000
    """,
)
def q_fn_time(spark, sf_dir):
    """The TIME type (Spark 4.1, behind spark.sql.timeType.enabled —
    set/restored around the plan build): wall-clock time-of-day as a
    first-class type instead of the string/seconds-since-midnight
    workarounds. Builds TIME values with ``make_time`` from event
    timestamps (integer seconds so both engines render identically),
    extracts fields FROM the time value (hour()/minute() over TIME,
    not over the source timestamp — the type's read surface is what's
    under test), and emits the canonical string form. The conf is set
    WITHOUT restore, deliberately: the flag is checked not only at
    analysis but again on the EXECUTION path (collectToPython re-checks
    it — a lazily-collected plan built under the flag crashes with
    UNSUPPORTED_TIME_TYPE if the flag flipped back before the caller's
    action; reproduced under plan-cache pressure in the full suite, r9).
    Since queries() callables return unexecuted plans, the flag must
    stay on for the plan's lifetime. It is purely PERMISSIVE — enabling
    a type admits new plans but cannot change the semantics of any plan
    that doesn't use TIME — like nanosAsLong, which the session
    posture sets for the same reason (read after any scope closes)."""
    from hcls_data_lake_spark.queries.common import events

    spark.conf.set("spark.sql.timeType.enabled", "true")
    e = events(spark, sf_dir).filter(F.col("event_id") < 3000)
    tt = e.select(
        "event_id",
        F.expr(
            "make_time(hour(ts), minute(ts), cast(second(ts) as bigint))"
        ).alias("tt"),
    )
    return tt.select(
        "event_id",
        F.col("tt").cast("string").alias("t_str"),
        (
            F.expr("cast(hour(tt) as bigint)") * 60
            + F.expr("cast(minute(tt) as bigint)")
        ).alias("minute_of_day"),
        F.expr("cast(hour(tt) as bigint)").alias("h"),
    )
