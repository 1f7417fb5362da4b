"""Property-based tests (hypothesis) for parser and operator invariants,
plus the approx_count_distinct error bound (SURVEY.md §7 step 4)."""

from __future__ import annotations

import json
import string

from hypothesis import given, settings
from hypothesis import strategies as st

from hcls_data_lake_spark.hl7.er7 import parse_er7

# printable payload text without the ER7 structural separators
_plain = st.text(
    alphabet=string.ascii_letters + string.digits + " .,-",
    min_size=0,
    max_size=20,
)


@given(st.text(max_size=200))
@settings(max_examples=200, deadline=None)
def test_parse_never_raises(payload):
    """The parser TOTAL-functions any input: valid doc or None (the A15
    error-routing contract — exceptions would kill the executor task)."""
    out = parse_er7(payload)
    assert out is None or isinstance(json.loads(out), dict)


@given(st.lists(_plain, min_size=1, max_size=8))
@settings(max_examples=100, deadline=None)
def test_parse_roundtrips_plain_fields(fields):
    """Plain (separator-free) PID fields come back verbatim, at the
    right 1-based positions. A field the vendored grammar declares
    repeatable (PID-3, PID-13, ...) serializes as a one-element LIST
    even for a singleton occurrence — the grammar-driven shape rule
    (parse_er7_lambda.py:57-65 applies the repetitions table to every
    non-leaf child, fields included) — and a field whose vendored
    datatype is a KNOWN COMPOSITE wraps a single component into the
    one-key dict hl7apy serializes (r7, VERDICT r6 ask #4)."""
    from hcls_data_lake_spark.hl7.grammar import PRIMITIVE_TYPES, grammar_for

    field_datatype = grammar_for(None).field_datatype
    field_repeats = grammar_for(None).field_repeats

    msg = "MSH|^~\\&|A|B|C|D|20240101||ADT^A01|1|P|2.5\rPID|" + "|".join(fields)
    doc = json.loads(parse_er7(msg))
    pid = doc["PID"]
    for i, val in enumerate(fields):
        key = f"PID_{i + 1}"
        dt = field_datatype("PID", i + 1)
        if dt is not None and dt not in PRIMITIVE_TYPES:
            comp = lambda v: {f"{dt}_1": v}  # noqa: B023,E731
        else:
            comp = lambda v: v  # noqa: E731
        wrap = (
            (lambda v: [comp(v)])
            if field_repeats("PID", i + 1)
            else (lambda v: comp(v))
        )
        if val == "":
            assert key not in pid  # empty fields are omitted
        elif val == '""':
            assert pid[key] == wrap("")  # the explicit-empty quirk
        else:
            assert pid[key] == wrap(val)


@given(st.lists(_plain.filter(lambda s: s != ""), min_size=2, max_size=5))
@settings(max_examples=100, deadline=None)
def test_repetition_shape(reps):
    """`~`-joined repetitions always come back as a list of the parts."""
    msg = "MSH|^~\\&|A|B|C|D|20240101||ADT^A01|1|P|2.5\rPID|" + "~".join(reps)
    doc = json.loads(parse_er7(msg))
    assert doc["PID"]["PID_1"] == reps


@given(st.text(max_size=100))
@settings(max_examples=100, deadline=None)
def test_parse_deterministic(payload):
    assert parse_er7(payload) == parse_er7(payload)


def test_approx_count_distinct_error_bound(spark, sf_dir):
    """HLL++ at rsd=0.02 must land within 5% of the exact distinct count
    (the declared-accuracy contract for q_agg_approx_distinct)."""
    from pyspark.sql import functions as F

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    row = o.agg(
        F.approx_count_distinct("o_custkey", 0.02).alias("approx"),
        F.countDistinct("o_custkey").alias("exact"),
    ).first()
    rel_err = abs(row.approx - row.exact) / row.exact
    assert rel_err <= 0.05, f"approx={row.approx} exact={row.exact}"


def test_approx_quantile_error_bound(spark, sf_dir):
    """percentile_approx at accuracy=1000 must land within 1/1000 rank
    error of the exact quantile (the declared-accuracy contract for
    q_agg_approx_quantile): the approx value must fall between the
    exact values at rank p +/- n/accuracy in each group."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    rows = (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile_approx("l_extendedprice", 0.5, 1000).alias("approx_p50"),
            F.expr(
                "percentile(l_extendedprice, array(0.497, 0.503))"
            ).alias("exact_band"),
        )
        .collect()
    )
    assert rows
    for r in rows:
        lo, hi = r.exact_band
        assert lo <= r.approx_p50 <= hi, (
            f"{r.l_returnflag}: approx={r.approx_p50} outside [{lo}, {hi}]"
        )


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),  # skew-prone key
            st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
        ),
        min_size=1,
        max_size=60,
    ),
    st.integers(min_value=1, max_value=9),
)
@settings(max_examples=12, deadline=None)
def test_salted_aggregate_equals_plain_groupby(spark, rows, n_salts):
    """Salting is a pure physical rewrite: for ANY data and ANY salt
    count, the two-stage result must equal the plain GROUP BY."""
    from pyspark.sql import functions as F

    from hcls_data_lake_spark.operators.skew import salted_aggregate

    df = spark.createDataFrame(
        [(i, k, v) for i, (k, v) in enumerate(rows)], "id long, k int, v double"
    )
    salted = {
        r.k: r
        for r in salted_aggregate(
            df, ["k"],
            {"n": ("count", None), "s": ("sum", "v"),
             "lo": ("min", "v"), "hi": ("max", "v")},
            salt_source="id", n_salts=n_salts,
        ).collect()
    }
    plain = {
        r.k: r
        for r in df.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"),
             F.min("v").alias("lo"), F.max("v").alias("hi"))
        .collect()
    }
    assert set(salted) == set(plain)
    for k in plain:
        assert salted[k].n == plain[k].n
        assert abs(salted[k].s - plain[k].s) <= 1e-6 * max(1.0, abs(plain[k].s))
        assert salted[k].lo == plain[k].lo and salted[k].hi == plain[k].hi


_pathological_text = st.text(
    alphabet=st.characters(
        codec="utf-8", exclude_characters="\x00"
    ),
    min_size=0,
    max_size=80,
)


@given(st.lists(_pathological_text, min_size=1, max_size=10))
@settings(max_examples=6, deadline=None)
def test_text_queries_total_on_pathological_corpora(spark, tmp_path_factory, texts):
    """The registered text/dedup queries TOTAL-function any unicode
    corpus — emoji, control chars, space runs, empty strings — with
    invariants intact. (This battery exists because sequence()
    descending on short docs crashed minhash; see
    test_minhash_and_simhash_tolerate_short_docs.)"""
    from hcls_data_lake_spark import registry

    d = str(tmp_path_factory.mktemp("pathological"))
    rows = [(i, t, "xx", "fuzz", len(t)) for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    qs = registry.queries()
    for name in ["q_text_quality", "q_text_tokens", "q_text_token_count",
                 "q_text_langid", "q_text_fingerprint", "q_dedup_exact",
                 "q_dedup_near", "q_dedup_minhash_lsh", "q_dedup_simhash",
                 "q_text_repetition", "q_decontaminate"]:
        out = qs[name](spark, d).collect()  # must not raise
        if name == "q_text_quality":
            for r in out:
                assert r.distinct_ratio is None or 0.0 <= r.distinct_ratio <= 1.0
        if name == "q_dedup_exact":
            assert len(out) <= len(texts)
        if name in ("q_dedup_near", "q_dedup_minhash_lsh"):
            for r in out:
                assert r.doc_a < r.doc_b
        if name == "q_text_repetition":
            assert len(out) == len(texts)
            for r in out:
                assert r.top_bigram_frac is None or 0.0 <= r.top_bigram_frac <= 1.0
                assert 0.0 <= r.dup_word_frac <= 1.0
        if name == "q_decontaminate":
            for r in out:
                assert r.n_contaminated + r.n_kept == r.n_docs


@given(
    st.lists(st.integers(min_value=-5000, max_value=5000),
             min_size=1, max_size=30),
    st.lists(st.tuples(st.integers(min_value=-5000, max_value=5000),
                       st.integers(min_value=0, max_value=400)),
             min_size=1, max_size=15),
    st.sampled_from([1, 7, 100, 1000]),
)
@settings(max_examples=10, deadline=None)
def test_bin_range_join_equals_naive_theta_join(spark, points, intervals, bin_width):
    """bin_range_join must equal the naive BETWEEN theta join for any
    sign mix, any bin width, duplicate points, and empty-overlap
    intervals — binning is a pure execution strategy, never semantics."""
    from pyspark.sql import functions as F

    from hcls_data_lake_spark.operators.range_join import bin_range_join

    p = spark.createDataFrame(
        [(i, v) for i, v in enumerate(points)], "pid long, ep long"
    )
    iv = spark.createDataFrame(
        [(i, lo, lo + w) for i, (lo, w) in enumerate(intervals)],
        "iid long, lo long, hi long",
    )
    binned = {
        (r.pid, r.iid)
        for r in bin_range_join(p, iv, "ep", "lo", "hi", bin_width).collect()
    }
    naive = {
        (r.pid, r.iid)
        for r in p.join(
            iv, (F.col("ep") >= F.col("lo")) & (F.col("ep") <= F.col("hi"))
        ).collect()
    }
    assert binned == naive


@given(
    st.lists(st.integers(min_value=0, max_value=6), min_size=1, max_size=50),
    st.lists(st.integers(min_value=0, max_value=9), min_size=1, max_size=8,
             unique=True),
    st.integers(min_value=1, max_value=9),
    st.sampled_from(["inner", "left"]),
)
@settings(max_examples=10, deadline=None)
def test_salted_join_equals_plain_join(spark, fact_keys, dim_keys, n_salts, how):
    """salted_join must equal the plain equi-join for inner AND left —
    including fact keys with no dim match (left-null rows must appear
    exactly once, not once per salt) and dim keys with no facts."""
    from pyspark.sql import functions as F

    from hcls_data_lake_spark.operators.skew import salted_join

    facts = spark.createDataFrame(
        [(i, k) for i, k in enumerate(fact_keys)], "row_id long, k long"
    )
    dims = spark.createDataFrame(
        [(k, f"d{k}") for k in dim_keys], "k long, label string"
    )
    salted = sorted(
        (r.row_id, r.k, r.label)
        for r in salted_join(
            facts, dims, ["k"], salt_source="row_id", n_salts=n_salts, how=how
        ).collect()
    )
    plain = sorted(
        (r.row_id, r.k, r.label) for r in facts.join(dims, ["k"], how).collect()
    )
    assert salted == plain


def test_hll_sketch_merge_matches_direct_and_bounds_error(spark, sf_dir):
    """DataSketches HLL: merging per-group sketches must estimate the
    SAME value as a sketch built directly over the union (mergeability
    is the contract), and both must land within 5% of the exact global
    distinct count."""
    from pyspark.sql import functions as F

    from hcls_data_lake_spark.queries.common import events

    e = events(spark, sf_dir)  # raw read rejects TIMESTAMP(NANOS)
    per_type = e.groupBy("event_type").agg(F.hll_sketch_agg("user_id").alias("sk"))
    merged = per_type.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    ).first()["est"]
    direct = e.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est")
    ).first()["est"]
    exact = e.select("user_id").distinct().count()
    assert merged == direct, "sketch merge diverged from direct build"
    assert abs(merged - exact) / exact <= 0.05, f"{merged} vs exact {exact}"


@given(
    st.lists(
        st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=6),
        min_size=1,
        max_size=500,
    )
)
@settings(max_examples=60, deadline=None)
def test_chunking_reconstructs_document(words):
    """Chunk-coverage invariant (pure-Python mirror of q_text_chunk's
    window arithmetic, windows of 128 / stride 96): dropping each
    subsequent chunk's 32-word overlap and concatenating reconstructs
    the document exactly — no word lost, duplicated, or reordered, for
    ANY document length including the stride-boundary edge cases."""
    stride, width = 96, 128
    n_chunks = (len(words) - 1) // stride + 1
    chunks = [words[i * stride : i * stride + width] for i in range(n_chunks)]
    rebuilt = list(chunks[0])
    for c in chunks[1:]:
        rebuilt.extend(c[width - stride :])
    assert rebuilt == words


_cword = st.sampled_from(["a", "b", "c", "d", "e"])


@given(st.lists(st.lists(_cword, min_size=0, max_size=12), min_size=2, max_size=6))
@settings(max_examples=8, deadline=None)
def test_containment_matches_bruteforce(spark, word_lists):
    """containment_pairs must equal the brute-force directional
    definition |S(src)∩S(ref)| * 10000 // |S(src)| for ANY corpus —
    tiny alphabet forces shingle collisions, short docs exercise the
    size(w) guard."""
    from pyspark.sql import functions as F

    from hcls_data_lake_spark.operators.dedup import (
        containment_pairs,
        shingles_from_words,
    )

    texts = [" ".join(ws) for ws in word_lists]
    sets = {
        i: {" ".join(ws[j : j + 3]) for j in range(len(ws) - 2)}
        for i, ws in enumerate(word_lists)
    }
    expect = {}
    for a, sa in sets.items():
        for b, sb in sets.items():
            if a == b or not sa:
                continue
            bps = len(sa & sb) * 10000 // len(sa)
            if len(sa & sb) > 0 and bps >= 5000:
                expect[(a, b)] = bps

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    wdf = df.select("doc_id", F.split("text", " ").alias("w"))
    sh = shingles_from_words("w", 3)
    docs = wdf.filter(F.size("w") >= 3).select(
        "doc_id", sh.alias("shingles"), F.size(sh).alias("n_shingles")
    )
    got = {
        (r.doc_src, r.doc_ref): r.containment_bps
        for r in containment_pairs(docs, min_bps=5000).collect()
    }
    assert got == expect


_items = st.lists(
    st.text(alphabet=string.ascii_lowercase + "0123456789", min_size=1,
            max_size=8),
    min_size=1,
    max_size=120,
)


@given(_items)
@settings(max_examples=6, deadline=None)
def test_countmin_upper_bound_holds_for_any_stream(spark, items):
    """CMS one-sided error property on arbitrary streams: for EVERY
    item, estimate ≥ true count — a single violation means the probe's
    bucket formula diverged from the build's. Hypothesis hunts the
    stream shapes (duplicates, near-collisions, singletons) a fixture
    never exercises."""
    from pyspark.sql import functions as F

    from hcls_data_lake_spark.operators.sketches import (
        countmin_cells,
        countmin_estimate,
    )

    df = spark.createDataFrame([(x,) for x in items], "item string")
    cells = countmin_cells(df, "item", depth=4)
    est = {
        r.item: r.est
        for r in countmin_estimate(cells, df, "item", depth=4).collect()
    }
    truth = (
        df.groupBy("item").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    for r in truth:
        assert est[r.item] >= r.n, (r.item, est[r.item], r.n)


@given(_items, st.integers(min_value=0, max_value=100))
@settings(max_examples=6, deadline=None)
def test_hll_register_merge_associativity(spark, items, split_pct):
    """HLL merge property on arbitrary streams and ANY split point:
    max-merging the register tables of two arbitrary shards equals the
    registers of the union — the distributivity q_sketch_hll_merge
    deploys, checked here beyond the fixture's orderkey-parity split."""
    from pyspark.sql import functions as F

    from hcls_data_lake_spark.queries.llm import _hll_regs

    cut = len(items) * split_pct // 100

    def regs(sub):
        if not sub:
            return {}
        df = spark.createDataFrame([(x,) for x in sub], "item string").select(
            F.lit("g").alias("grp"),
            F.md5(F.col("item").cast("binary")).alias("h"),
        )
        return {(r.grp, r.bucket): r.reg for r in _hll_regs(df).collect()}

    whole = regs(items)
    a, b = regs(items[:cut]), regs(items[cut:])
    merged = dict(a)
    for k, v in b.items():
        merged[k] = max(merged.get(k, 0), v)
    assert merged == whole


@given(
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(min_value=-5, max_value=5)),
            st.integers(min_value=0, max_value=3),
        ),
        min_size=1,
        max_size=60,
    ),
    st.integers(min_value=1, max_value=9),
)
@settings(max_examples=12, deadline=None)
def test_with_global_order_equals_naive_window(spark, rows, nparts):
    """r7 property: the two-pass range-partitioned rank/cumsum
    (operators/ordered.with_global_order) is value-identical to the
    naive single-partition window under NULL sort keys, heavy ties
    (broken by a unique id), descending order, and any partition
    count — the exact conditions where a range-boundary or offset bug
    would mis-rank rows."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from hcls_data_lake_spark.operators.ordered import with_global_order

    df = spark.createDataFrame(
        [(i, k, v) for i, (k, v) in enumerate(rows)],
        "id int, k int, v int",
    )
    order = [F.col("k").desc_nulls_last(), F.col("id").asc()]
    got = {
        r.id: (r.rnk, r.cs)
        for r in with_global_order(
            df,
            order,
            rank_col="rnk",
            cumsums={"cs": F.col("v")},
            num_partitions=nparts,
        ).collect()
    }
    w = Window.orderBy(*order)
    want = {
        r.id: (r.rnk, r.cs)
        for r in df.select(
            "id",
            F.row_number().over(w).cast("bigint").alias("rnk"),
            F.sum("v")
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .alias("cs"),
        ).collect()
    }
    assert got == want


@given(
    ts=st.lists(
        st.integers(min_value=0, max_value=20_000),
        min_size=0,
        max_size=60,
    ),
    n_splits=st.integers(min_value=1, max_value=4),
    data=st.data(),
)
@settings(max_examples=200, deadline=None)
def test_session_runs_fold_equals_naive(ts, n_splits, data):
    """_session_runs (streaming/stateful.py) folded over ANY micro-batch
    partitioning of a key's event stream must produce exactly the
    sessions a naive one-shot gap-split produces — closed sessions in
    order, the open trailing session carried. This pins the
    cross-batch merge path (carried session extended vs closed) that
    the single-file fixture stream never exercises. Gap scaled down
    (10 units) so tiny random streams hit both branches."""
    import numpy as np
    import pandas as pd

    from hcls_data_lake_spark.streaming import stateful as sf

    gap = 10
    ts_sorted = sorted(ts)

    # naive one-shot sessionization
    naive = []
    for t in ts_sorted:
        if naive and t - naive[-1][1] <= gap:
            s, e, n = naive[-1]
            naive[-1] = (s, t, n + 1)
        else:
            naive.append((t, t, 1))

    # fold over a random ordered partition into micro-batches; WITHIN a
    # batch order is arbitrary (the operator sorts), ACROSS batches
    # event time advances like a watermarked stream
    cuts = sorted(
        data.draw(
            st.lists(
                st.integers(min_value=0, max_value=len(ts_sorted)),
                min_size=n_splits - 1,
                max_size=n_splits - 1,
            )
        )
    )
    pieces = []
    prev_i = 0
    for c in [*cuts, len(ts_sorted)]:
        pieces.append(ts_sorted[prev_i:c])
        prev_i = c

    orig_gap = sf.SESSION_GAP_US
    sf.SESSION_GAP_US = gap
    try:
        closed_all = []
        trail = None
        for piece in pieces:
            shuffled = data.draw(st.permutations(piece))
            # the fold reads the JVM-computed `us` BIGINT column, never
            # a timestamp (r11 tz fix: Arrow localizes TIMESTAMP)
            batches = [
                pd.DataFrame({"us": np.array(shuffled, dtype=np.int64)})
            ]
            # empty-batch call is unreachable in TWS (handleInputRows
            # only fires for keys WITH rows) but must keep the trail
            # open if it ever happens — exercise both shapes
            closed, trail = sf._session_runs(
                batches if shuffled else [], trail
            )
            closed_all.extend(closed)
    finally:
        sf.SESSION_GAP_US = orig_gap

    got = closed_all + ([trail] if trail is not None else [])
    assert got == naive
