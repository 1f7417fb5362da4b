"""Deterministic sampling / dataset-split queries (training-data ops).

A 100 TB training pipeline needs *content-stable* sampling: the same
row must land in the same split on every run, on any cluster, at any
partitioning — so splits are keyed on a cryptographic hash of a stable
id, never on RNG or row position. This generalizes the reference's
content-hash discipline (SHA-256 dedup key, front_door_lambda.py:26)
from dedup to split assignment.

Scale shape: both ops are pure map-side expressions plus (for the
stratified variant) one window shuffle on the stratum key — no RNG
state, no sort of the full corpus, reproducible under AQE re-planning.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hcls_data_lake_spark.queries.common import t
from hcls_data_lake_spark.registry import register
from hcls_data_lake_spark.session import TOKEN_BUDGET

# md5-bucket boundaries: first 2 hex chars = 256 buckets; 'cc' = 204
# (≈80%), 'e6' = 230 (≈90%). Hex-string comparison is identical in
# Spark and DuckDB (both emit lowercase hex), so the split is
# engine-independent and oracle-checkable.
_SPLIT_SQL = """
    SELECT doc_id,
           substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
                     THEN 'train'
                WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
                     THEN 'valid'
                ELSE 'test' END AS split
    FROM documents
"""


@register("q_sample_hash_split", _SPLIT_SQL)
def q_sample_hash_split(spark, sf_dir):
    """Deterministic train/valid/test split by md5(doc_id) bucket
    (~80/10/10). Content-stable: no RNG, no row-position dependence —
    the property a training pipeline needs so resharding or incremental
    ingest never moves a document across splits (no eval leakage)."""
    d = t(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 2)
    return d.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < "cc", "train")
        .when(bucket < "e6", "valid")
        .otherwise("test")
        .alias("split"),
    )


_STRAT_SQL = """
    SELECT doc_id, lang, rn FROM (
      SELECT doc_id, lang,
             CAST(row_number() OVER (
                 PARTITION BY lang
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rn
      FROM documents
    ) WHERE rn <= 40
"""


@register("q_sample_stratified", _STRAT_SQL)
def q_sample_stratified(spark, sf_dir):
    """Stratified deterministic sample: up to 40 docs per language,
    chosen by md5(doc_id) rank within the stratum — a reproducible
    per-group quota sample (one window shuffle on the stratum key;
    per-partition top-k at scale, never a global sort)."""
    d = t(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string").cast("binary"))
    w = Window.partitionBy("lang").orderBy(h, F.col("doc_id"))
    return (
        d.select("doc_id", "lang", F.row_number().over(w).cast("bigint").alias("rn"))
        .filter(F.col("rn") <= 40)
    )


def _leakage_safe_sql():
    # late import avoids a module-load cycle (llm imports nothing from
    # sampling, but keep registration order-independent)
    from hcls_data_lake_spark.queries.llm import _CLUSTER_SQL

    return f"""
    SELECT d.doc_id,
           CASE WHEN substr(md5(CAST(COALESCE(c.cluster_id, d.doc_id)
                                     AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
                WHEN substr(md5(CAST(COALESCE(c.cluster_id, d.doc_id)
                                     AS VARCHAR)), 1, 2) < 'e6' THEN 'valid'
                ELSE 'test' END AS split
    FROM documents d
    LEFT JOIN ({_CLUSTER_SQL}) c ON d.doc_id = c.doc_id
    WHERE d.doc_id < 500
    """


@register("q_sample_leakage_safe_split", _leakage_safe_sql())
def q_sample_leakage_safe_split(spark, sf_dir):
    """Leakage-safe train/valid/test split: the md5 bucket hashes the
    near-dup CLUSTER's canonical id (q_dedup_clusters), not the doc id,
    so transitive near-duplicates can never straddle a split boundary
    — hashing doc ids independently leaks eval content into training
    whenever a near-copy exists. Docs outside any cluster hash their
    own id (their cluster of one). Cost over the plain hash split: the
    near-dup pair graph + one left join — the split assignment itself
    stays a map-side expression."""
    from hcls_data_lake_spark.operators.dedup import connected_components
    from hcls_data_lake_spark.queries.llm import _near_pairs

    labels = connected_components(_near_pairs(spark, sf_dir)).withColumnRenamed(
        "node", "doc_id"
    )
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500).select("doc_id")
    canonical = F.coalesce("label", "doc_id")
    bucket = F.substring(F.md5(canonical.cast("string").cast("binary")), 1, 2)
    return d.join(labels, "doc_id", "left").select(
        "doc_id",
        F.when(bucket < "cc", "train")
        .when(bucket < "e6", "valid")
        .otherwise("test")
        .alias("split"),
    )


_MIX_SQL = """
    WITH n AS (
      SELECT CAST(min(cnt) AS BIGINT) AS n_min FROM (
        SELECT count(*) AS cnt FROM documents GROUP BY source)
    ), r AS (
      SELECT doc_id, source,
             CAST(row_number() OVER (
                 PARTITION BY source
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rn
      FROM documents
    )
    SELECT doc_id, source, rn FROM r, n WHERE rn <= n_min
"""


@register("q_sample_mix", _MIX_SQL)
def q_sample_mix(spark, sf_dir):
    """Domain mixing / rebalancing: downsample every source to the
    smallest source's document count, choosing survivors by md5 rank
    within the source — the deterministic quota form of training-data
    domain reweighting (no RNG, no float thresholds; the same corpus
    always yields the same mix). The quota is one tiny scalar
    aggregate broadcast to the rank filter; the only real shuffle is
    the per-source window, and per-source top-N is rank-pushdown
    (WindowGroupLimit) territory at scale."""
    d = t(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("cnt"))
    n_min = counts.agg(F.min("cnt").alias("n_min"))
    h = F.md5(F.col("doc_id").cast("string").cast("binary"))
    w = Window.partitionBy("source").orderBy(h, F.col("doc_id"))
    ranked = d.select(
        "doc_id", "source", F.row_number().over(w).cast("bigint").alias("rn")
    )
    return ranked.join(F.broadcast(n_min)).filter(
        F.col("rn") <= F.col("n_min")
    ).select("doc_id", "source", "rn")


@register(
    "q_sample_weighted",
    """
    WITH keyed AS (
      SELECT doc_id, n_chars,
             pow((CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))
                       AS BIGINT) + 1) / 16777217.0,
                 1.0 / n_chars) AS k
      FROM documents
    )
    SELECT doc_id, n_chars FROM keyed
    ORDER BY k DESC, doc_id LIMIT 100
    """,
)
def q_sample_weighted(spark, sf_dir):
    """Weighted sampling without replacement (Efraimidis-Spirakis):
    key = u^(1/w) with w = n_chars, take the top-k keys — longer
    documents are proportionally more likely to survive, the standard
    quality/length-weighted corpus subsampling move. The uniform u is
    DERIVED, not drawn: md5(doc_id) hex mapped into (0,1), so the
    sample is a pure function of the corpus (reproducible across runs,
    engines, and partitionings — no RNG seed to desync). One scan, no
    shuffle for the key (computed in the scan stage), and the top-k is
    sort+limit, which Spark executes as TakeOrderedAndProject:
    per-partition heaps of k, then a k-row merge on the driver — the
    at-scale shape (never a global sort) for any k that fits memory."""
    d = t(spark, sf_dir, "documents")
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 6),
            16,
            10,
        ).cast("double")
        + 1
    ) / F.lit(16777217.0)
    key = F.pow(u, F.lit(1.0) / F.col("n_chars"))
    return (
        d.select("doc_id", "n_chars", key.alias("k"))
        .orderBy(F.col("k").desc(), "doc_id")
        .limit(100)
        .select("doc_id", "n_chars")
    )


@register(
    "q_sink_shuffled_shards",
    """
    SELECT CAST(CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))
                     AS BIGINT) % 8 AS BIGINT) AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    GROUP BY shard
    """,
)
def q_sink_shuffled_shards(spark, sf_dir):
    """Deterministic corpus shuffle-to-shards — the training-export
    sink: pretraining wants documents in pseudo-random order across N
    shards, and wants the SAME shards on every run (resumable jobs,
    reproducible ablations). Shard assignment is md5(doc_id) mod N —
    content-stable, no RNG, statistically balanced at any corpus size
    (hash uniformity), and a pure map-side expression: the only data
    movement is the partitionBy(shard) write itself. A global
    row_number permutation would be exactly balanced but needs a
    total order (single-partition window) — the hash form is the one
    that survives 100 TB. The census reads the WRITTEN shards back, so
    the oracle on the raw table proves the export is lossless and the
    assignment engine-identical."""
    from hcls_data_lake_spark.queries.common import scratch_for

    path = scratch_for(sf_dir, "shuffled_shards")
    d = t(spark, sf_dir, "documents")
    hexv = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 6),
        16,
        10,
    ).cast("bigint")
    d.withColumn("shard", F.pmod(hexv, F.lit(8)).cast("bigint")).write.mode(
        "overwrite"
    ).partitionBy("shard").parquet(path)
    back = spark.read.parquet(path)
    return back.groupBy(F.col("shard").cast("bigint").alias("shard")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
    )


@register(
    "q_sample_token_budget",
    f"""
    WITH toks AS (
      SELECT doc_id, source, n_chars,
             len(string_split(text, ' ')) AS n_tok
      FROM documents
    ), cum AS (
      SELECT source, n_tok,
             SUM(n_tok) OVER (PARTITION BY source
                              ORDER BY n_chars DESC, doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum_tok
      FROM toks
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs_kept,
           CAST(SUM(n_tok) AS BIGINT) AS sum_tokens
    FROM cum WHERE cum_tok <= {TOKEN_BUDGET}
    GROUP BY source
    """,
)
def q_sample_token_budget(spark, sf_dir):
    """Token-budget selection: per source, admit documents in quality
    order (n_chars desc, doc_id tie-break) until the source's token
    budget is exhausted — the greedy form of domain mixing under a
    fixed token budget (how a pretraining mix is actually specified:
    tokens per domain, not document counts). One window shuffle on the
    source key (cumulative sum), then a per-source aggregate; the
    budget comparison is exact integer arithmetic. A document larger
    than the remaining budget is skipped along with everything after
    it (contiguous prefix semantics, which is what makes the selection
    deterministic and engine-identical).

    Scale shape (r13): n_tok = size(split(text,' ')) ≥ 1 for non-null
    text (a null text raises), so cum_tok ≥ rank along the admission
    order — no row past rank B (the budget, session.TOKEN_BUDGET =
    3000) can ever satisfy cum_tok ≤ B. A row_number ≤ B pre-filter is
    therefore result-free, and Spark pushes it below the exchange as
    WindowGroupLimit(Partial) (the session posture sets windowGroupLimitThreshold from the same
    constant, so the push survives a budget change): each map task
    ships at most B rows per source instead of the whole fact, and the
    cumsum window's input is budget-bounded (≤B rows/source), not
    fact-sized — the low-cardinality-window hazard the r12 close-out
    flagged. Prefix sums over the pruned set are identical for every
    surviving row (every earlier row in the order has a smaller rank
    and is kept too)."""
    d = t(spark, sf_dir, "documents")
    # the rank prune below is exact only while every n_tok >= 1: a null
    # text fails the query instead of silently mis-pruning
    n_tok = F.when(
        F.col("text").isNull(),
        F.raise_error(
            F.lit("q_sample_token_budget: null documents.text breaks the"
                  " rk <= TOKEN_BUDGET prune (needs n_tok >= 1)")
        ),
    ).otherwise(F.size(F.split("text", " ")))
    toks = d.select(
        "doc_id",
        "source",
        "n_chars",
        n_tok.cast("bigint").alias("n_tok"),
    )
    wo = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), "doc_id"
    )
    ranked = toks.withColumn("rk", F.row_number().over(wo)).filter(
        F.col("rk") <= TOKEN_BUDGET
    )
    cum = ranked.withColumn(
        "cum_tok",
        F.sum("n_tok").over(
            wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        cum.filter(F.col("cum_tok") <= TOKEN_BUDGET)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum("n_tok").cast("bigint").alias("sum_tokens"),
        )
    )


@register(
    "q_sample_reservoir",
    """
    WITH ranked AS (
      SELECT event_type, event_id,
             ROW_NUMBER() OVER (
               PARTITION BY event_type
               ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rk
      FROM events
    )
    SELECT event_type, event_id, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= 5
    """,
)
def q_sample_reservoir(spark, sf_dir):
    """Deterministic reservoir sample: k=5 events per event type,
    uniform without replacement. The classic reservoir algorithm's
    guarantee (any k-subset equally likely) is achieved by ranking on
    a pseudo-random KEY-DERIVED hash (md5 of the event id) and keeping
    the k smallest per group — the distributed equivalent of
    reservoir-sampling a stream, with two properties the sequential
    algorithm lacks: the sample is REPRODUCIBLE (same data -> same
    sample, any engine, any partitioning — the DuckDB oracle matches
    byte-for-byte) and MERGEABLE (the k smallest of shard-wise k
    smallest = the global k smallest, so shards sample independently
    and a tiny merge finishes the job — the 100 TB shape; Spark's
    WindowGroupLimit pushes the rank<=k filter into partial top-k
    per partition exactly that way). md5 ranks are collision-free on
    distinct ids; event_id is the formal total-order tiebreak."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string").cast("binary")), "event_id"
    )
    return (
        e.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 5)
        .select("event_type", "event_id", "rk")
    )


# Walk-forward split constants shared verbatim with the oracle: test
# starts at Jan 22; a 1-day purge embargo before it is EXCLUDED from
# train so trailing-window features computed at train time can't peek
# across the boundary. All comparisons in raw integer nanoseconds.
_TSPLIT_CUTOFF_NS = 1_705_881_600_000_000_000  # 2024-01-22T00:00:00Z
_TSPLIT_EMBARGO_NS = 86_400_000_000_000  # 1 day


@register(
    "q_sample_time_split",
    f"""
    WITH tagged AS (
      SELECT user_id, epoch_ns(ts) AS ts_ns,
             CASE
               WHEN epoch_ns(ts) >= {_TSPLIT_CUTOFF_NS} THEN 'test'
               WHEN epoch_ns(ts) <
                    {_TSPLIT_CUTOFF_NS} - {_TSPLIT_EMBARGO_NS}
                 THEN 'train'
               ELSE 'purged'
             END AS split
      FROM events
    )
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(MIN(ts_ns) AS BIGINT) AS min_ns,
           CAST(MAX(ts_ns) AS BIGINT) AS max_ns
    FROM tagged GROUP BY split
    """,
)
def q_sample_time_split(spark, sf_dir):
    """Walk-forward (temporal) train/test split with a purge embargo:
    events at-or-after the cutoff are test, events more than one
    embargo before it are train, and the embargo band in between is
    PURGED — the leakage control temporal ML needs that a random
    split cannot give (trailing-window features computed on train's
    tail would otherwise overlap test's look-back; López de Prado's
    purged walk-forward). Emits the split census (events, users, exact
    ns time bounds) that certifies the gap: max(train) <
    cutoff − embargo ≤ min(test) is directly checkable from the
    output. Assignment is a stateless comparison on raw integer
    nanoseconds — a pure scan-level projection at any corpus size; the
    census is one partial-agg shuffle. Complements the GROUP-keyed
    leakage-safe split (q_sample_leakage_safe_split): that one
    prevents entity bleed, this one prevents time bleed."""
    e = t(spark, sf_dir, "events")
    tagged = e.select(
        "user_id",
        "ts_ns",
        F.when(F.col("ts_ns") >= _TSPLIT_CUTOFF_NS, "test")
        .when(
            F.col("ts_ns") < _TSPLIT_CUTOFF_NS - _TSPLIT_EMBARGO_NS, "train"
        )
        .otherwise("purged")
        .alias("split"),
    )
    return tagged.groupBy("split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.min("ts_ns").cast("bigint").alias("min_ns"),
        F.max("ts_ns").cast("bigint").alias("max_ns"),
    )


@register(
    "q_sample_class_balance",
    """
    WITH ranked AS (
      SELECT event_type, user_id,
             CAST(round(value * 100) AS BIGINT) AS v_c,
             row_number() OVER (
               PARTITION BY event_type
               ORDER BY md5('balance:v1:' || CAST(event_id AS VARCHAR)),
                        event_id) AS rn
      FROM events
    ), m AS (
      SELECT CAST(min(cnt) AS BIGINT) AS nmin
      FROM (SELECT count(*) AS cnt FROM events GROUP BY event_type)
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS kept_n,
           CAST(sum(v_c) AS BIGINT) AS sum_value_c,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM ranked, m
    WHERE rn <= nmin
    GROUP BY event_type
    """,
)
def q_sample_class_balance(spark, sf_dir):
    """Class-balanced downsampling (the label-skew fix for training
    data): every event_type is cut to the MINORITY class's count, and
    WHICH rows survive is content-keyed — rows rank by
    md5('balance:v1:' || event_id) within their class (event_id
    tiebreak), so the kept set is identical on every run, any
    partitioning, either engine; rotate the version tag to redraw.
    Output is the per-class audit (kept_n equal across classes by
    construction, plus value mass and user diversity of the kept
    sample) rather than the row-sized sample itself. Plan: one
    groupBy for class counts, min over that 5-row relation broadcast
    back on the class key, one window sort per class for the exact
    cutoff. Scale honesty: the exact-count window sorts each class
    partition; at 100 TB the cheap variant is a hash THRESHOLD
    (keep md5 < nmin/class_n scaled), one map-side pass with
    ±binomial error on kept_n — this exact variant is for when the
    count must be exact, and its sort is per-class, AQE-splittable."""
    e = t(spark, sf_dir, "events")
    cnt = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    w_all = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    lim = cnt.select(
        "event_type", F.min("cnt").over(w_all).alias("nmin")
    )
    w_cls = Window.partitionBy("event_type").orderBy(
        F.expr("md5(cast(concat('balance:v1:', cast(event_id as string))"
               " as binary))"),
        "event_id",
    )
    ranked = e.select(
        "event_type",
        "user_id",
        F.expr("cast(round(value * 100) as bigint)").alias("v_c"),
        F.row_number().over(w_cls).alias("rn"),
    )
    return (
        ranked.join(F.broadcast(lim), "event_type")
        .filter(F.col("rn") <= F.col("nmin"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("kept_n"),
            F.sum("v_c").cast("bigint").alias("sum_value_c"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
    )


@register(
    "q_sample_quota_mix",
    """
    WITH spec AS (
      SELECT * FROM (VALUES ('en', 40), ('zh', 20), ('es', 15),
                            ('de', 15), ('fr', 10)) s(lang, w)
    ), quota AS (
      SELECT lang,
             300 * w // 100 AS base,
             300 * w % 100 AS rem,
             row_number() OVER (ORDER BY 300 * w % 100 DESC, lang)
               AS rem_rank,
             300 - SUM(300 * w // 100) OVER () AS leftover
      FROM spec
    ), q AS (
      SELECT lang,
             CAST(base + CASE WHEN rem_rank <= leftover
                              THEN 1 ELSE 0 END AS BIGINT) AS quota
      FROM quota
    ), ranked AS (
      SELECT doc_id, lang,
             CAST(row_number() OVER (
               PARTITION BY lang
               ORDER BY md5('mix:v1:' || CAST(doc_id AS VARCHAR)),
                        doc_id) AS BIGINT) AS rn
      FROM documents
    )
    SELECT r.doc_id, r.lang, r.rn, q.quota
    FROM ranked r JOIN q ON q.lang = r.lang
    WHERE r.rn <= q.quota
    """,
)
def q_sample_quota_mix(spark, sf_dir):
    """Data-mixture sampling against a TARGET SPEC (the 'what should
    the training mix look like' op — en 40%, zh 20%, es/de 15%,
    fr 10% of a 300-doc budget): per-language integer quotas come
    from LARGEST-REMAINDER (Hamilton) apportionment — base = floor of
    the proportional share, then the leftover seats go to the largest
    fractional remainders (remainder desc, lang asc pins ties) — so
    the quotas sum to the budget EXACTLY, with no float rounding
    drift between engines and no over/under-allocation to reconcile.
    Survivors within each language are md5-ranked (content-keyed,
    version-tagged — the q_sample_mix discipline), so the drawn mix
    is bit-reproducible. Plan: the apportionment is windows over the
    5-row spec; the corpus pays one per-language window sort, and
    per-language top-quota is WindowGroupLimit territory at scale.
    The budget is sized so no language's quota exceeds supply;
    binding caps would make Hamilton iterative (re-apportion the
    shortfall) — that variant is a driver-side loop over the
    SPEC-sized relation, never over data."""
    spec = spark.createDataFrame(
        [("en", 40), ("zh", 20), ("es", 15), ("de", 15), ("fr", 10)],
        "lang string, w int",
    )
    w_all = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_rem = Window.orderBy(F.expr("300 * w % 100").desc(), F.col("lang"))
    quota = spec.select(
        "lang",
        F.expr("300 * w div 100").alias("base"),
        F.row_number().over(w_rem).alias("rem_rank"),
        (F.lit(300) - F.sum(F.expr("300 * w div 100")).over(w_all)).alias(
            "leftover"
        ),
    ).select(
        "lang",
        F.expr(
            "cast(base + case when rem_rank <= leftover then 1 else 0 end"
            " as bigint)"
        ).alias("quota"),
    )
    d = t(spark, sf_dir, "documents")
    w_lang = Window.partitionBy("lang").orderBy(
        F.expr("md5(cast(concat('mix:v1:', cast(doc_id as string))"
               " as binary))"),
        "doc_id",
    )
    ranked = d.select(
        "doc_id",
        "lang",
        F.row_number().over(w_lang).cast("bigint").alias("rn"),
    )
    return ranked.join(F.broadcast(quota), "lang").filter(
        F.col("rn") <= F.col("quota")
    ).select("doc_id", "lang", "rn", "quota")


def _kcenter_oracle(k: int = 5) -> str:
    """Unrolled greedy k-center (Gonzalez) oracle: round r picks the
    point FARTHEST from the first r-1 centers (exact integer squared
    Euclidean on the quantized vectors, tie-break min vec_id); each
    round's running min-distance folds in only the NEW center."""
    d2 = (
        "CAST(list_sum(list_transform(range(1, len({a}) + 1),"
        " i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))) AS BIGINT)"
    )
    parts = [
        "q AS MATERIALIZED (SELECT vec_id, list_transform(embedding,"
        " x -> CAST(round(x * 100) AS BIGINT)) AS v FROM embeddings)",
        "c1 AS (SELECT vec_id, v FROM q ORDER BY vec_id LIMIT 1)",
        "d1 AS MATERIALIZED (SELECT q.vec_id, q.v, "
        + d2.format(a="q.v", b="c1.v")
        + " AS dmin FROM q, c1 WHERE q.vec_id <> c1.vec_id)",
    ]
    for r in range(2, k + 1):
        parts.append(
            f"c{r} AS (SELECT vec_id, v, dmin FROM d{r - 1}"
            f" ORDER BY dmin DESC, vec_id LIMIT 1)"
        )
        parts.append(
            f"d{r} AS MATERIALIZED (SELECT d.vec_id, d.v,"
            f" LEAST(d.dmin, " + d2.format(a="d.v", b=f"c{r}.v")
            + f") AS dmin FROM d{r - 1} d, c{r}"
            f" WHERE d.vec_id <> c{r}.vec_id)"
        )
    sel = [
        "SELECT 1 AS sel_round, vec_id,"
        " CAST(-1 AS BIGINT) AS maxmin_d2 FROM c1"
    ]
    for r in range(2, k + 1):
        sel.append(
            f"SELECT {r}, vec_id, CAST(dmin AS BIGINT) FROM c{r}"
        )
    sel.append(
        f"SELECT 0, CAST(-1 AS BIGINT),"
        f" CAST(max(dmin) AS BIGINT) FROM d{k}"
    )
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(sel)


@register("q_sample_kcenter", _kcenter_oracle())
def q_sample_kcenter(spark, sf_dir):
    """CORESET / DIVERSITY SAMPLING by greedy k-center (Gonzalez
    1985, the 2-approximation): pick the min-id seed, then 4 times
    the point FARTHEST (exact integer squared Euclidean, tie-break
    min vec_id) from the centers chosen so far — the selection a
    training-data curator uses to cover embedding space with a
    bounded exemplar budget instead of sampling the dense blob
    uniformly. Emits the 5 selection rounds with each pick's
    farthest-distance gain, plus a round-0 summary row carrying the
    final COVERAGE RADIUS² (max over points of min-distance to the
    chosen set — the k-center objective itself, so the oracle hash
    pins not just which points were picked but the quality bound
    they achieve).

    100 TB plan: per round ONE map-side distance-update against the
    newly chosen center (a k×dim driver-side scalar, the ANN
    codebook discipline) folded with LEAST into the running min,
    and ONE TakeOrdered(1) argmax — no shuffle of the corpus, no
    pairwise materialization; k rounds cost k corpus passes, the
    textbook distributed Gonzalez."""
    e = t(spark, sf_dir, "embeddings")
    cur = e.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> cast(round(x * 100) as bigint))"
        ).alias("v"),
    )
    seed = cur.orderBy("vec_id").first()
    picks = [(1, int(seed.vec_id), -1)]

    def d2_to(center_vec):
        lit = "array(" + ", ".join(f"{int(x)}L" for x in center_vec) + ")"
        return F.expr(
            f"aggregate(zip_with(v, {lit}, (x, y) ->"
            " (x - y) * (x - y)), 0L, (acc, x) -> acc + x)"
        )

    # No per-round checkpoint: the lineage is k stacked map-only
    # distance folds over the (narrow) corpus relation — re-planning
    # it is cheaper than materializing 5 intermediates; the argmax
    # TakeOrdered jobs dominate (measured 2.4 s -> 1.7 s solo).
    cur = cur.filter(F.col("vec_id") != seed.vec_id).withColumn(
        "dmin", d2_to(seed.v)
    )
    for r in range(2, 6):
        top = cur.orderBy(F.col("dmin").desc(), "vec_id").first()
        picks.append((r, int(top.vec_id), int(top.dmin)))
        cur = cur.filter(F.col("vec_id") != top.vec_id).withColumn(
            "dmin", F.least(F.col("dmin"), d2_to(top.v))
        )
    cov = cur.agg(F.max("dmin").alias("m")).first().m
    picks.append((0, -1, int(cov)))
    return spark.createDataFrame(
        picks, "sel_round int, vec_id bigint, maxmin_d2 bigint"
    )


@register(
    "q_sample_bootstrap",
    """
    WITH purchases AS (
      SELECT event_id,
             CAST(round(value * 100) AS BIGINT) AS v_c
      FROM events WHERE event_type = 'purchase'
    ), weighted AS (
      SELECT rep, v_c,
             CASE
               WHEN u < 6171992 THEN 0 WHEN u < 12343985 THEN 1
               WHEN u < 15429982 THEN 2 WHEN u < 16458647 THEN 3
               WHEN u < 16715813 THEN 4 WHEN u < 16767247 THEN 5
               ELSE 6 END AS w
      FROM (
        SELECT p.v_c, r.rep,
               CAST(CONCAT('0x', substr(md5(
                 CAST(p.event_id * 16 + r.rep AS VARCHAR)), 1, 6))
                 AS BIGINT) AS u
        FROM purchases p,
             LATERAL (SELECT unnest(generate_series(0, 15)) AS rep) r
      )
    )
    SELECT CAST(rep AS INT) AS rep,
           CAST(SUM(w) AS BIGINT) AS n_eff,
           CAST(SUM(w * v_c) AS BIGINT) AS sum_c
    FROM weighted GROUP BY rep
    """,
)
def q_sample_bootstrap(spark, sf_dir):
    """POISSON BOOTSTRAP — 16 resampling replicas of the purchase
    population WITHOUT materializing a single resampled copy: each
    (row, replica) pair draws a Poisson(1) multiplicity (the
    large-n limit of multinomial bootstrap weights — Chamandy et
    al., 'Estimating Uncertainty for Massive Data Streams', the
    standard trick for bootstrap-at-scale) from a DERIVED uniform
    (md5 of event_id·16+rep mapped into [0, 2²⁴), inverted through
    integer-literal Poisson CDF thresholds — no RNG state, so every
    engine, run, and partitioning draws the same weights). Emits
    per replica the weighted count and weighted cents sum — exact
    BIGINTs from which the caller derives the bootstrap CI of the
    mean; the percentile spread across 16 replicas is the
    uncertainty estimate a 100 TB aggregate cannot get any other
    way (16 full copies are off the table).

    Plan: one scan, 16× map-side fan-out (bounded, no shuffle until
    the 16-group aggregate), partial aggregation collapses each
    partition to ≤16 rows before the exchange."""
    p = t(spark, sf_dir, "events").filter(
        "event_type = 'purchase'"
    ).select(
        "event_id",
        F.expr("cast(round(value * 100) as bigint)").alias("v_c"),
    )
    u = F.conv(
        F.substring(
            F.md5(
                F.expr("cast(event_id * 16 + rep as string)").cast(
                    "binary"
                )
            ),
            1,
            6,
        ),
        16,
        10,
    ).cast("bigint")
    w = (
        F.when(u < 6171992, 0)
        .when(u < 12343985, 1)
        .when(u < 15429982, 2)
        .when(u < 16458647, 3)
        .when(u < 16715813, 4)
        .when(u < 16767247, 5)
        .otherwise(6)
    )
    return (
        p.select(
            "event_id",
            "v_c",
            F.explode(F.expr("sequence(0, 15)")).alias("rep"),
        )
        .withColumn("w", w)
        .groupBy(F.col("rep").cast("int").alias("rep"))
        .agg(
            F.sum("w").cast("bigint").alias("n_eff"),
            F.expr("cast(sum(w * v_c) as bigint)").alias("sum_c"),
        )
    )


@register(
    "q_sample_importance_weights",
    """
    WITH counts AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source
    ), tot AS (
      SELECT CAST(SUM(n_docs) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS k
      FROM counts
    ), weighted AS (
      SELECT c.source, c.n_docs,
             CAST(t.n * 1000000 // (t.k * c.n_docs) AS BIGINT)
               AS weight_ppm
      FROM counts c CROSS JOIN tot t
    )
    SELECT source, n_docs, weight_ppm FROM weighted
    UNION ALL
    SELECT '__ess__',
           CAST((SELECT n FROM tot) AS BIGINT),
           CAST((SELECT CAST(SUM(n_docs * weight_ppm) AS HUGEINT)
                        * SUM(n_docs * weight_ppm) * 1000000
                      // (CAST((SELECT n FROM tot) AS HUGEINT)
                          * SUM(n_docs * weight_ppm * weight_ppm))
                 FROM weighted) AS BIGINT)
    FROM (SELECT 1)
    """,
)
def q_sample_importance_weights(spark, sf_dir):
    """IMPORTANCE REWEIGHTING to a target domain mix — the
    alternative to resampling (q_sample_mix throws documents away;
    weighting keeps them all and scales the loss): per source, the
    exact ppm weight N·10⁶ div (k·n_s) that makes every source
    contribute equally in expectation, plus the EFFECTIVE SAMPLE
    SIZE (Kish: (Σw)²/Σw², emitted as ppm of N via exact
    HUGEINT/DECIMAL cross-multiplication) — THE number that says
    what the reweighting costs: ESS/N = 1 means weights were
    uniform (free), a small ratio means a few upweighted documents
    dominate the gradient and resampling would have been honest.
    The summary row makes the weight/resample trade a measured
    decision, not a default.

    100 TB: one count aggregate (source-sized), weights and ESS
    derive from the count table alone — the per-document weight
    column is a broadcast-join stamp at training-export time, no
    second corpus pass."""
    from pyspark.sql.types import DecimalType

    counts = (
        t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .localCheckpoint()  # source-sized; read by weights + ESS
    )
    tot = counts.agg(
        F.sum("n_docs").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    ).first()
    n, k = int(tot.n), int(tot.k)
    weighted = counts.select(
        "source",
        "n_docs",
        F.expr(f"cast({n}L * 1000000 div ({k}L * n_docs) as bigint)")
        .alias("weight_ppm"),
    )
    dec = DecimalType(38, 0)
    ess = weighted.agg(
        (
            F.sum(
                (F.col("n_docs") * F.col("weight_ppm")).cast(dec)
            )
            * F.sum(
                (F.col("n_docs") * F.col("weight_ppm")).cast(dec)
            )
            * F.lit(1000000).cast(dec)
        ).alias("num"),
        (
            F.lit(n).cast(dec)
            * F.sum(
                (
                    F.col("n_docs")
                    * F.col("weight_ppm")
                    * F.col("weight_ppm")
                ).cast(dec)
            )
        ).alias("den"),
    ).selectExpr(
        "'__ess__' as source",
        f"cast({n} as bigint) as n_docs",
        "cast(num div den as bigint) as weight_ppm",
    )
    return weighted.unionByName(ess)


@register(
    "q_sample_neyman",
    """
    WITH e AS (
      SELECT event_id, event_type,
             CAST(round(coalesce(value, 0) * 100) AS BIGINT) AS v
      FROM events
    ), st AS (
      SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
             CAST(SUM(v) AS HUGEINT) AS sv,
             CAST(SUM(v * v) AS HUGEINT) AS svv
      FROM e GROUP BY event_type
    ), wt AS (
      SELECT event_type,
             CAST(floor(sqrt(CAST(n * svv - sv * sv AS DOUBLE)))
                  AS BIGINT) AS w
      FROM st
    ), alloc AS (
      SELECT event_type, w,
             (100 * w) // SUM(w) OVER () AS base,
             (100 * w) % SUM(w) OVER () AS rem
      FROM wt
    ), a2 AS (
      SELECT *, 100 - SUM(base) OVER () AS leftover,
             row_number() OVER (ORDER BY rem DESC, event_type) AS rk
      FROM alloc
    ), final AS (
      SELECT event_type,
             CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                  AS BIGINT) AS n_h
      FROM a2
    ), ranked AS (
      SELECT event_id, event_type,
             row_number() OVER (PARTITION BY event_type
                ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS r
      FROM e
    )
    SELECT r.event_id, r.event_type, f.n_h
    FROM ranked r JOIN final f USING (event_type)
    WHERE r.r <= f.n_h
    """,
)
def q_sample_neyman(spark, sf_dir):
    """NEYMAN-ALLOCATED stratified sample (Neyman 1934: stratum h gets
    n·N_h·σ_h / Σ N_k·σ_k of the budget — variance-heavy strata are
    sampled harder, the minimum-variance allocation for estimating the
    population mean), 100 events over event_type strata, EXACT in both
    engines: the Neyman weight N_h·σ_h equals √(N_h·Σv² − (Σv)²)
    identically (σ = √(N·Σv²−(Σv)²)/N), so one integer-floor'd sqrt of
    an exactly-computed integer is the whole float surface — both
    engines convert the same integer to the same IEEE double and take
    the same correctly-rounded sqrt. Seat assignment is
    largest-remainder (Hamilton) apportionment in pure integer
    arithmetic ((100·w) div/mod Σw, remainders ranked with event_type
    tie-break), and the WITHIN-stratum pick is the engine's standard
    content-keyed rank (md5 of the id — reshuffle-stable, no RNG).
    Scale shape: one stats aggregate (map-side partials), a 5-row
    driver-free allocation window, one window shuffle on the stratum
    key for the pick — the same cost as plain stratified sampling.
    Overflow: N·Σv² runs in decimal(38,0)/HUGEINT (≈2e19 at sf0.1
    exceeds int64), pinned by the cross-engine hash."""
    from hcls_data_lake_spark.queries.common import events

    e = events(spark, sf_dir).select(
        "event_id",
        "event_type",
        F.expr("cast(round(coalesce(value, 0) * 100) as bigint)").alias("v"),
    )
    st = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("sv"),
        F.sum(F.expr("v * v")).alias("svv"),
    )
    wt = st.select(
        "event_type",
        F.expr(
            "cast(floor(sqrt(cast("
            " cast(n as decimal(38,0)) * cast(svv as decimal(38,0))"
            " - cast(sv as decimal(38,0)) * cast(sv as decimal(38,0))"
            " as double))) as bigint)"
        ).alias("w"),
    )
    w_all = Window.partitionBy()
    alloc = wt.select(
        "event_type",
        "w",
        F.expr("100 * w").alias("numer"),
        F.sum("w").over(w_all).alias("w_tot"),
    ).select(
        "event_type",
        F.expr("numer div w_tot").alias("base"),
        F.expr("numer % w_tot").alias("rem"),
    )
    a2 = alloc.select(
        "event_type",
        "base",
        (F.lit(100) - F.sum("base").over(w_all)).alias("leftover"),
        F.row_number()
        .over(Window.orderBy(F.col("rem").desc(), "event_type"))
        .alias("rk"),
    )
    final = a2.select(
        "event_type",
        F.expr(
            "cast(base + if(rk <= leftover, 1, 0) as bigint)"
        ).alias("n_h"),
    )
    ranked = e.withColumn(
        "r",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(
                F.md5(F.col("event_id").cast("string")), "event_id"
            )
        ),
    )
    return (
        ranked.join(F.broadcast(final), "event_type")
        .filter(F.col("r") <= F.col("n_h"))
        .select("event_id", "event_type", "n_h")
    )
