"""Scale-safe global ordered windows (total rank / global cumsum).

A bare ``Window.orderBy(...)`` with no ``partitionBy`` forces Spark to
move EVERY row into one partition (``Exchange SinglePartition`` under
the WindowExec) — fine on a calendar-bounded relation, fatal on a
corpus at 100 TB. This module is the two-pass distributed alternative
(TeraSort's shape, VERDICT r6 ask #2):

1. ``repartitionByRange`` on the sort keys — the corpus' ONE shuffle;
   every partition holds a contiguous key range, so partition order ×
   within-partition order IS the total order.
2. ``sortWithinPartitions`` + ``monotonically_increasing_id()`` — the
   id packs ``(partition_id << 33) | local_row_index``, so the global
   rank's within-partition component is a pure map-side expression:
   no WindowExec, no second shuffle for ranking.
3. Per-partition counts/sums aggregate to a relation bounded by the
   PARTITION COUNT (cluster config, not data size); an exclusive
   prefix over those ≤n rows yields each partition's starting offset.
4. The offsets broadcast-join back on partition id; global rank =
   offset + local index + 1, global cumsum = offset + within-partition
   running sum (the one remaining WindowExec is partitioned by the
   range-bucket id, so its partitions are exactly the range partitions
   — bounded and balanced, never a single reducer).

The relation is pinned with one lazy ``localCheckpoint`` so the
offsets aggregate and the final projection read the same materialized
rows. The pin is LOAD-BEARING, not belt-and-braces: without it the
two branches each recompute the range exchange and can draw DIFFERENT
partition boundaries (measured: a rank checksum diverged), which
silently mis-ranks rows near boundary keys. Lazy (not eager) because
both consumers sit in one final plan — the first action materializes
the checkpoint in-flight, saving the separate eager job (~0.03 s/call
at fixture scale). The materialization itself is the same cost any
distributed sort already pays.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

# monotonically_increasing_id packs the partition id in the upper bits:
# id = (partition_id << 33) | row_index_within_partition.
_MID_SHIFT = 33
_MID_MASK = (1 << _MID_SHIFT) - 1


def with_global_order(
    df: DataFrame,
    order: list[Column],
    *,
    rank_col: str | None = None,
    cumsums: dict[str, Column] | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Append a global 1-based rank and/or inclusive cumulative sums
    taken over the TOTAL order defined by ``order`` (which must be a
    total order — add a unique tie-break key), without ever collapsing
    the relation to one partition.

    ``order``: sort expressions (e.g. ``F.col("x").desc_nulls_last()``)
    used for BOTH the range partitioning and the within-partition sort.
    ``cumsums``: ``{out_col: value_expr}`` inclusive prefix sums.
    Helper columns are dropped; input columns pass through unchanged.
    """
    cumsums = cumsums or {}
    spark = df.sparkSession
    n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    ranged = (
        df.repartitionByRange(n, *order)
        .sortWithinPartitions(*order)
        .withColumn("_gmid", F.monotonically_increasing_id())
        .withColumn(
            "_gpid", F.shiftrightunsigned(F.col("_gmid"), _MID_SHIFT)
        )
        .localCheckpoint(eager=False)
    )

    aggs = [F.count(F.lit(1)).alias("_gcnt")]
    aggs += [F.sum(v).alias(f"_gsum_{c}") for c, v in cumsums.items()]
    per = ranged.groupBy("_gpid").agg(*aggs)
    # Exclusive prefix over the per-partition totals: ≤ num_partitions
    # rows — bounded by cluster config, the one place a global ordered
    # window is always safe.
    wo = (
        Window.orderBy("_gpid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = per.select(
        "_gpid",
        F.coalesce(F.sum("_gcnt").over(wo), F.lit(0)).alias("_goff_cnt"),
        *[
            F.coalesce(F.sum(f"_gsum_{c}").over(wo), F.lit(0)).alias(
                f"_goff_{c}"
            )
            for c in cumsums
        ],
    )

    out = ranged.join(F.broadcast(offs), "_gpid")
    if rank_col is not None:
        out = out.withColumn(
            rank_col,
            (
                F.col("_goff_cnt")
                + F.col("_gmid").bitwiseAND(F.lit(_MID_MASK))
                + F.lit(1)
            ).cast("bigint"),
        )
    if cumsums:
        # Within-partition running sum: partitions here are the range
        # buckets (balanced, ~|rows|/n each), ordered by the packed id
        # which already encodes the sort.
        wl = (
            Window.partitionBy("_gpid")
            .orderBy("_gmid")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        for c, v in cumsums.items():
            out = out.withColumn(c, F.col(f"_goff_{c}") + F.sum(v).over(wl))
    drop = ["_gmid", "_gpid", "_goff_cnt"] + [f"_goff_{c}" for c in cumsums]
    return out.drop(*drop)


def grouped_cumsum(
    df: DataFrame,
    grp: str,
    order: list[Column],
    cumsums: dict[str, str],
    totals: dict[str, str] | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Per-GROUP inclusive running sums over ``order``, with the group
    key's cardinality removed from the parallelism equation.

    ``Window.partitionBy(k)`` over a FACT relation where ``k`` has 3-6
    distinct values funnels the whole corpus through 3-6 reducers, each
    sorting its share alone — invisible to the SinglePartition plan
    lint but the same unbounded-task hazard at 100 TB. This is the
    ONE-shuffle alternative (the r12 close-out's recorded design; the
    two-shuffle ``with_global_order`` decomposition measured a 1.6x
    fixture regression and was reverted):

    1. ``repartitionByRange`` on ``(grp, *order)`` — the corpus' ONE
       shuffle, into partition-count-many balanced buckets (cluster
       config, not key cardinality). Partition order x within-partition
       order extends the per-group order: every group's rows appear in
       order across consecutive partitions.
    2. ``sortWithinPartitions`` + a narrow ``mapInArrow`` computes each
       partition's per-group INCLUSIVE local cumsum map-side
       (vectorized numpy over contiguous group runs — no second
       exchange, unlike a ``partitionBy(_gpid)`` window which would
       re-shuffle the corpus on the bucket id).
    3. Per-(partition, group) totals aggregate to a relation bounded by
       ``n_partitions x |groups|``; an exclusive prefix over those rows
       (a tiny window) yields each partition's per-group carry-in
       offset, broadcast-joined back: global cumsum = offset + local.

    The relation is pinned with one lazy ``localCheckpoint`` so the
    offsets aggregate and the mapInArrow pass read the SAME materialized
    partitions (same boundaries, same spark_partition_id) — the same
    load-bearing pin as ``with_global_order``.

    ``order`` together with ``grp`` need not be a total order: any two
    extensions of a partial order differ only by permuting tie runs,
    and an inclusive cumsum's value at the END of a tie run (plus any
    aggregate that only consumes run-invariant rows) is permutation-
    invariant. Callers that depend on intra-tie values must pass a
    tie-break key in ``order``.

    ``cumsums``/``totals``: ``{out_col: in_col}`` — ``in_col`` must be
    a NON-NULL bigint or double column already present on ``df``
    (project narrow before calling; the whole input crosses the Python
    boundary). ``totals`` attaches the per-group grand total.
    """
    import pyarrow as pa

    from pyspark.sql import types as T

    totals = dict(totals or {})
    spark = df.sparkSession
    n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    in_cols = list(dict.fromkeys(list(cumsums.values()) + list(totals.values())))
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    for c in in_cols:
        if not isinstance(dtypes[c], (T.LongType, T.DoubleType)):
            raise TypeError(f"grouped_cumsum input {c} must be bigint/double")

    ranged = (
        df.repartitionByRange(n, F.col(grp), *order)
        .sortWithinPartitions(F.col(grp), *order)
        .localCheckpoint(eager=False)
    )

    # Branch A: per-(partition, group) sums -> exclusive prefix offsets.
    per = ranged.groupBy(
        F.spark_partition_id().alias("_cgpid"), F.col(grp).alias("_cggrp")
    ).agg(*[F.sum(c).alias(f"_cgsum_{c}") for c in in_cols])
    wo = (
        Window.partitionBy("_cggrp")
        .orderBy("_cgpid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wt = Window.partitionBy("_cggrp")
    sel = [F.col("_cgpid"), F.col("_cggrp")]
    for out, c in cumsums.items():
        sel.append(
            F.coalesce(
                F.sum(f"_cgsum_{c}").over(wo), F.lit(0).cast(dtypes[c])
            ).alias(f"_cgoff_{out}")
        )
    for out, c in totals.items():
        sel.append(F.sum(f"_cgsum_{c}").over(wt).alias(out))
    offs = per.select(*sel)

    # Branch B: map-side per-group local cumsum over the sorted buckets.
    base = ranged.select(F.spark_partition_id().alias("_cgpid"), "*")
    cols = base.columns
    gidx = cols.index(grp)
    specs = []  # (loc_name, col_idx, numpy dtype string)
    out_fields = list(base.schema.fields)
    for out, c in cumsums.items():
        np_dt = "int64" if isinstance(dtypes[c], T.LongType) else "float64"
        specs.append((f"_cgloc_{out}", cols.index(c), np_dt))
        out_fields.append(T.StructField(f"_cgloc_{out}", dtypes[c], False))
    out_schema = T.StructType(out_fields)

    def _local_cumsum(batches):
        import numpy as np
        import pyarrow.compute as pc

        carry_set = False
        carry_key = None
        carry = {name: 0 for name, _, _ in specs}
        for b in batches:
            nrows = b.num_rows
            if nrows == 0:
                continue
            codes = (
                pc.fill_null(pc.dictionary_encode(b.column(gidx)).indices, -1)
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            change = np.flatnonzero(codes[1:] != codes[:-1]) + 1
            starts = np.concatenate(([0], change))
            lens = np.diff(np.concatenate((starts, [nrows])))
            first_key = b.column(gidx)[0].as_py()
            cont = carry_set and first_key == carry_key
            new_arrays = []
            for name, idx, np_dt in specs:
                x = b.column(idx).to_numpy(zero_copy_only=False)
                tot = np.cumsum(x, dtype=np_dt)
                run_base = np.empty(len(starts), dtype=np_dt)
                run_base[0] = 0
                if len(starts) > 1:
                    run_base[1:] = tot[starts[1:] - 1]
                loc = tot - np.repeat(run_base, lens)
                if cont:
                    loc[: lens[0]] += carry[name]
                carry[name] = loc[-1]
                new_arrays.append(pa.array(loc))
            carry_key = b.column(gidx)[nrows - 1].as_py()
            carry_set = True
            yield pa.RecordBatch.from_arrays(
                list(b.columns) + new_arrays,
                names=cols + [name for name, _, _ in specs],
            )

    mapped = base.mapInArrow(_local_cumsum, out_schema)
    cond = (mapped["_cgpid"] == offs["_cgpid"]) & mapped[grp].eqNullSafe(
        offs["_cggrp"]
    )
    out = mapped.join(F.broadcast(offs), cond, "inner").drop(
        offs["_cgpid"]
    ).drop("_cggrp")
    for o in cumsums:
        out = out.withColumn(o, F.col(f"_cgloc_{o}") + F.col(f"_cgoff_{o}"))
    drop = ["_cgpid"]
    drop += [f"_cgloc_{o}" for o in cumsums]
    drop += [f"_cgoff_{o}" for o in cumsums]
    return out.drop(*drop)


def grouped_running_max(
    df: DataFrame,
    grp: str,
    order: list[Column],
    value: str,
    out: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Per-group MAX of the inclusive running sum of ``value`` over
    ``order`` — q_ts_concurrency's sweep-line peak — via the same
    one-shuffle decomposition as ``grouped_cumsum``, but with the
    reduction pushed INSIDE the map pass: max distributes over the
    per-partition decomposition (global running sum in partition p =
    carry-in offset + local running sum, and offset is constant within
    (p, grp)), so each partition emits ONE row per group — max(local
    cumsum) and the partition's total — and the corpus never crosses
    the Python boundary back. Output: one row per group, ``out`` =
    max over the group's global running sum.

    Requires at least one row per group (true by construction when the
    groups come from the data) and a NON-NULL bigint/double ``value``.
    ``grp`` must hold no NaN: the carry state is keyed by the Python
    group value, and NaN never equals itself, so a NaN group would lose
    its carry between runs and come out as several rows (the one
    caller, q_ts_concurrency, groups by the string ``event_type``).
    """
    import pyarrow as pa

    from pyspark.sql import types as T

    spark = df.sparkSession
    n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    if not isinstance(dtypes[value], (T.LongType, T.DoubleType)):
        raise TypeError(f"grouped_running_max input {value} must be bigint/double")
    np_dt = "int64" if isinstance(dtypes[value], T.LongType) else "float64"

    # No localCheckpoint here: unlike grouped_cumsum, the offsets are
    # derived from the SAME map pass's output (each partition emits its
    # total alongside its max), so `ranged` has exactly one consumer
    # and there is no cross-branch boundary-consistency hazard to pin.
    ranged = df.repartitionByRange(n, F.col(grp), *order).sortWithinPartitions(
        F.col(grp), *order
    )

    base = ranged.select(F.spark_partition_id().alias("_cgpid"), "*")
    cols = base.columns
    gidx = cols.index(grp)
    vidx = cols.index(value)
    out_schema = T.StructType(
        [
            T.StructField("_cgpid", T.IntegerType(), False),
            T.StructField(grp, dtypes[grp], True),
            T.StructField("_cgmax", dtypes[value], False),
            T.StructField("_cgtot", dtypes[value], False),
        ]
    )

    def _local_max(batches):
        import numpy as np
        import pyarrow.compute as pc

        # per-group state for THIS partition: running sum at the end of
        # the last batch, max of the running sum, in first-seen order
        state: dict = {}
        pid = None
        for b in batches:
            nrows = b.num_rows
            if nrows == 0:
                continue
            pid = b.column(0)[0].as_py()
            codes = (
                pc.fill_null(pc.dictionary_encode(b.column(gidx)).indices, -1)
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            change = np.flatnonzero(codes[1:] != codes[:-1]) + 1
            starts = np.concatenate(([0], change))
            ends = np.concatenate((change, [nrows]))
            x = b.column(vidx).to_numpy(zero_copy_only=False)
            tot = np.cumsum(x, dtype=np_dt)
            gcol = b.column(gidx)
            for s, e in zip(starts, ends):
                key = gcol[int(s)].as_py()
                run_base = tot[s - 1] if s > 0 else 0
                carry, mx = state.get(key, (0, None))
                loc_end = carry + (tot[e - 1] - run_base)
                loc_max = carry + (tot[s:e].max() - run_base)
                mx = loc_max if mx is None else max(mx, loc_max)
                state[key] = (loc_end, mx)
        if state:
            from pyspark.sql.pandas.types import to_arrow_type

            keys = list(state)
            val_t = to_arrow_type(dtypes[value])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([pid] * len(keys), type=pa.int32()),
                    pa.array(keys, type=to_arrow_type(dtypes[grp])),
                    pa.array([state[k][1] for k in keys], type=val_t),
                    pa.array([state[k][0] for k in keys], type=val_t),
                ],
                names=["_cgpid", grp, "_cgmax", "_cgtot"],
            )

    part_max = base.mapInArrow(_local_max, out_schema)

    # Offsets from the partition totals the SAME pass computed: each
    # partition's carry-in = sum of earlier partitions' totals. The
    # relation is n_partitions x |groups| rows — window over it is tiny.
    wo = (
        Window.partitionBy(grp)
        .orderBy("_cgpid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        part_max.select(
            grp,
            (
                F.coalesce(F.sum("_cgtot").over(wo), F.lit(0).cast(dtypes[value]))
                + F.col("_cgmax")
            ).alias("_cggmax"),
        )
        .groupBy(grp)
        .agg(F.max("_cggmax").alias(out))
    )
