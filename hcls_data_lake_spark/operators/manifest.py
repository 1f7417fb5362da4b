"""Versioned-manifest table format: snapshot reads + time travel.

Reference grounding: the lake bucket is *versioned* (S3
`VersioningConfiguration: Enabled`, core_stack.yml:27-28) and every
message version is additionally recorded in the DynamoDB catalog
(core_stack.yml:155-172) — the reference already separates "what bytes
exist" (immutable, append-only objects) from "what the table IS right
now" (the catalog's view). This module makes that split explicit for
the Parquet lake, the way Delta/Iceberg do:

- **Data files are immutable.** Every commit writes NEW parquet files
  under its own ``<root>/data/<dir>/`` (``commit`` uses
  ``commit-<token>``, the streaming sink one dir per task); nothing
  is ever rewritten in place.
- **A version is a manifest**, ``<root>/_manifests/v<N>.json``: the
  explicit list of data files that make up the table at version N,
  plus the schema and commit mode. Readers plan from the manifest —
  never from directory listing — so a half-finished write is invisible
  (its files exist but no manifest references them) and object-store
  LIST inconsistency never corrupts a read.
- **Publish is atomic + conflict-checked**: the manifest is staged to
  a temp name and published with ``os.link`` (fails with EEXIST if a
  concurrent committer won version N — optimistic concurrency; the
  loser retries against the new latest). This is the same
  single-atomic-pointer-swap protocol as Delta's ``_delta_log/N.json``
  commit.

Scale posture: at 100 TB the manifest is the entire planning input —
O(#files) metadata, no 100 TB directory walk; time travel to version
N costs the same as reading HEAD; `vacuum` is the only operation that
deletes bytes, and it deletes exactly the files no retained manifest
references. On a real deployment the `os.link` publish maps to a
conditional PUT (S3 If-None-Match) or a catalog conditional write —
the DynamoDB catalog's ``attribute_not_exists`` idiom.
"""

from __future__ import annotations

import json
import os
import shutil

_MANIFESTS = "_manifests"
_DATA = "data"
_EXPIRED = "expired"


def _manifest_dir(root: str) -> str:
    return os.path.join(root, _MANIFESTS)


def _listed_versions(mdir: str) -> list[int]:
    if not os.path.isdir(mdir):
        return []
    out = []
    for f in os.listdir(mdir):
        if f.startswith("v") and f.endswith(".json"):
            out.append(int(f[1:-5]))
    return sorted(out)


def versions(root: str) -> list[int]:
    """All committed versions, ascending. Empty if the table has never
    been committed."""
    return _listed_versions(_manifest_dir(root))


def _load(root: str, version: int, subdir: str = "") -> dict:
    path = os.path.join(_manifest_dir(root), subdir, f"v{version}.json")
    with open(path) as fh:
        return json.load(fh)


def _newest(root: str) -> tuple[int, dict, bool]:
    """The newest publish as ``(version, manifest, live)``: the newest
    live manifest, else the newest vacuum-expired one (``live`` False:
    its data files may be gone), else ``(0, {}, False)`` for a table
    never committed. Versions are never reused, so the newest one
    carries every committed txn value forward."""
    live = versions(root)
    if live:
        return live[-1], _load(root, live[-1]), True
    expired = _listed_versions(os.path.join(_manifest_dir(root), _EXPIRED))
    if expired:
        return expired[-1], _load(root, expired[-1], _EXPIRED), False
    return 0, {}, False


def _file_stats(path: str) -> dict:
    """Per-file min/max column stats from the parquet footer, for
    JSON-native column types (int/float/str). Read here driver-side
    from the footer only (O(KB) per file); in a cluster deployment the
    writing executors report these with the commit (Iceberg writer
    metrics) so the driver never touches data files at all."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    mins: dict = {}
    maxs: dict = {}
    for rg in range(md.num_row_groups):
        row_group = md.row_group(rg)
        for ci in range(row_group.num_columns):
            col = row_group.column(ci)
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            lo, hi = st.min, st.max
            if not isinstance(lo, (int, float, str)) or isinstance(
                lo, bool
            ):
                continue
            name = col.path_in_schema
            mins[name] = lo if name not in mins else min(mins[name], lo)
            maxs[name] = hi if name not in maxs else max(maxs[name], hi)
    return {c: [mins[c], maxs[c]] for c in mins}


def _check_args(mode: str, meta: dict | None, txn_key: str | None) -> None:
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    if txn_key is not None and (meta is None or txn_key not in meta):
        raise ValueError(f"txn_key {txn_key!r} not present in meta")


def publish(
    root: str,
    files: list[str],
    schema,
    mode: str = "append",
    meta: dict | None = None,
    txn_key: str | None = None,
) -> int:
    """Publish already-written data `files` (table-relative paths under
    ``data/<dir>/``) as the next table version; returns the version.

    `mode="append"` makes the new version = previous files + `files`;
    `mode="overwrite"` makes it exactly `files`. `schema` is the
    Spark ``StructType`` readers plan with.

    ``txn_key`` names a key in ``meta`` that makes the publish
    IDEMPOTENT (Delta's txn appId/version fence): on EVERY attempt of
    the publish loop — not just once up front — the committed set is
    re-checked, so a zombie driver and its restarted replacement
    racing the same batch cannot both land it: whichever loses the
    version race retries, re-checks, finds the key committed, and
    returns 0 (the no-op sentinel; real versions start at 1). The
    caller owns `files` and deletes them on 0.

    Every manifest carries the committed txn values forward under
    ``"txns"`` (``{key: [values]}``: the previous manifest's plus this
    publish's ``meta[txn_key]``, in append and overwrite mode alike),
    so the fence reads one manifest, not the table's whole history."""
    import uuid

    _check_args(mode, meta, txn_key)
    os.makedirs(_manifest_dir(root), exist_ok=True)
    new_stats = {f: _file_stats(os.path.join(root, f)) for f in files}
    while True:
        latest, prev_m, live = _newest(root)
        version = latest + 1
        txns = prev_m.get("txns", {})
        if txn_key is not None:
            committed = txns.setdefault(txn_key, [])
            if meta[txn_key] in committed:
                return 0  # already durably committed (replay / lost fence race)
            committed.append(meta[txn_key])
        all_files, stats = files, new_stats
        if mode == "append" and live:
            all_files = prev_m["files"] + files
            stats = {**prev_m.get("stats", {}), **new_stats}
        manifest = {
            "version": version,
            "mode": mode,
            "files": all_files,
            "stats": stats,
            "meta": meta or {},
            "txns": txns,
            "schema": schema.jsonValue(),
        }
        # per-attempt temp name: racing publishers never share one
        tmp = os.path.join(
            _manifest_dir(root), f".v{version}-{uuid.uuid4().hex[:8]}.tmp"
        )
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        final = os.path.join(_manifest_dir(root), f"v{version}.json")
        try:
            os.link(tmp, final)  # atomic publish; EEXIST = lost the race
            return version
        except FileExistsError:
            pass  # our files stay valid; retry against the new latest
        finally:
            os.unlink(tmp)


def commit(
    df,
    root: str,
    mode: str = "append",
    meta: dict | None = None,
    txn_key: str | None = None,
) -> int:
    """Write `df` once into a fresh ``data/commit-<token>/`` and
    `publish` it as the next version; returns the version, or 0 when
    ``txn_key`` finds the batch already committed (see `publish`). The
    data write is a plain distributed parquet write (executors write in
    parallel); only the metadata publish is single-file. A replay is
    caught before the write, so it writes nothing."""
    import uuid

    _check_args(mode, meta, txn_key)
    if txn_key is not None and meta[txn_key] in committed_meta(root, txn_key):
        return 0
    commit_name = f"commit-{uuid.uuid4().hex[:8]}"
    data_dir = os.path.join(root, _DATA, commit_name)
    df.write.mode("errorifexists").parquet(data_dir)
    files = sorted(
        os.path.join(_DATA, commit_name, f)
        for f in os.listdir(data_dir)
        if f.endswith(".parquet")
    )
    version = publish(root, files, df.schema, mode, meta, txn_key)
    if version == 0:
        shutil.rmtree(data_dir)  # a concurrent replay won the fence
    return version


def read_version(
    spark,
    root: str,
    version: int | None = None,
    prune: dict | None = None,
):
    """Snapshot read: the table exactly as of `version` (default:
    latest). Planning input is the manifest's explicit file list —
    concurrent commits after the manifest is read cannot change what
    this scan sees (snapshot isolation).

    `prune`: optional ``{col: (lo, hi)}`` ranges (either bound may be
    None). Files whose footer [min, max] for `col` cannot intersect
    [lo, hi] are dropped from the plan BEFORE Spark sees them — the
    manifest-level tier of the same stats-skipping parquet row groups
    do, and the tier that matters at 100 TB (skip whole files, no
    footer fetch per query). Pruning is advisory: callers still apply
    the real filter; a file with no stats for `col` is always kept."""
    from pyspark.sql.types import StructType

    vs = versions(root)
    if not vs:
        raise FileNotFoundError(f"no committed version under {root}")
    version = vs[-1] if version is None else version
    if version not in vs:
        raise FileNotFoundError(f"version {version} not in {vs}")
    m = _load(root, version)
    schema = StructType.fromJson(m["schema"])
    files = m["files"]
    if prune:
        stats = m.get("stats", {})
        files = [
            f for f in files if _may_match(stats.get(f, {}), prune)
        ]
    if not files:
        return spark.createDataFrame([], schema)
    paths = [os.path.join(root, f) for f in files]
    return spark.read.schema(schema).parquet(*paths)


def read_commit_delta(spark, root: str, version: int):
    """The rows ADDED by commit ``version`` alone — the manifest diff
    against ``version - 1`` (append commits only ever add files, so
    the file-list difference IS the commit's delta). This is the
    per-commit CDC read a versioned bucket serves ("what did PUT #n
    write"), planned from O(#files) metadata with no data-side
    filtering (r7, q_pipeline_versions)."""
    from pyspark.sql.types import StructType

    vs = versions(root)
    if version not in vs:
        raise FileNotFoundError(f"version {version} not in {vs}")
    m = _load(root, version)
    prev = set(_load(root, version - 1)["files"]) if version - 1 in vs else set()
    schema = StructType.fromJson(m["schema"])
    files = [f for f in m["files"] if f not in prev]
    if not files:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(
        *[os.path.join(root, f) for f in files]
    )


def _may_match(file_stats: dict, prune: dict) -> bool:
    for col, (lo, hi) in prune.items():
        if col not in file_stats:
            continue  # no stats — must keep the file
        fmin, fmax = file_stats[col]
        if lo is not None and fmax < lo:
            return False
        if hi is not None and fmin > hi:
            return False
    return True


def committed_meta(root: str, key: str) -> set:
    """Every ``meta[key]`` value published with ``txn_key=key`` — e.g.
    the set of streaming batch ids already durably committed (the
    exactly-once replay check). It is read from the newest manifest
    alone, which carries the set forward (see `publish`); when vacuum
    kept no live manifest that is the newest EXPIRED one, because the
    fact that a batch committed must survive retention, or a
    checkpoint restored past a vacuum would replay old batches as new
    (duplicates)."""
    return set(_newest(root)[1].get("txns", {}).get(key, ()))


def vacuum(root: str, keep_last: int = 1, min_age_s: float = 600.0) -> list[str]:
    """Expire manifests older than the newest `keep_last` and delete
    every data file no retained manifest references. Returns the
    deleted file paths (table-relative). The only byte-deleting
    operation in the format — everything else is append-only.

    Two safety properties:
    - Expired manifests are MOVED to ``_manifests/expired/``, never
      destroyed: their versions stop being readable (the bytes are
      gone) but their commit metadata survives retention: with
      ``keep_last=0`` the newest expired manifest is the one whose
      carried batch ids the exactly-once replay check reads.
    - ``min_age_s`` is the in-flight-commit guard (Delta's retention
      window): a concurrent committer's files exist on disk BEFORE its
      manifest publishes, and are indistinguishable from garbage until
      then. Files younger than the window are never deleted; pass 0
      only when no concurrent writer can exist (tests, single-writer
      maintenance)."""
    import time

    vs = versions(root)
    keep = set(vs[-keep_last:]) if keep_last > 0 else set()
    referenced: set[str] = set()
    for v in keep:
        referenced.update(_load(root, v)["files"])
    deleted = []
    edir = os.path.join(_manifest_dir(root), _EXPIRED)
    for v in vs:
        if v not in keep:
            os.makedirs(edir, exist_ok=True)
            os.replace(
                os.path.join(_manifest_dir(root), f"v{v}.json"),
                os.path.join(edir, f"v{v}.json"),
            )
    cutoff = time.time() - min_age_s
    data_root = os.path.join(root, _DATA)
    if os.path.isdir(data_root):
        for commit_dir in sorted(os.listdir(data_root)):
            cdir = os.path.join(data_root, commit_dir)
            for f in sorted(os.listdir(cdir)):
                rel = os.path.join(_DATA, commit_dir, f)
                full = os.path.join(cdir, f)
                if (
                    f.endswith(".parquet")
                    and rel not in referenced
                    and os.path.getmtime(full) <= cutoff
                ):
                    os.unlink(full)
                    deleted.append(rel)
            if not os.listdir(cdir):
                os.rmdir(cdir)
    return deleted


def diff_versions(spark, root: str, v_old: int, v_new: int):
    """Snapshot diff: (added_df, removed_df) between two committed
    versions, reading ONLY the files whose manifest membership changed.

    Committed files are immutable (a commit writes new files and a new
    manifest; nothing rewrites in place), so rows in files present in
    BOTH manifests are bit-identical in both snapshots and never need
    to be read — a small append to a huge table diffs in time
    proportional to the append, not the table. File-diff semantics on
    rewrites match file-level CDC everywhere (e.g. change feeds
    without row tracking): a compaction that rewrites rows into new
    files reports them as removed+added even when content is equal —
    exact for append/delete commits, conservative for rewrites."""
    from pyspark.sql.types import StructType

    m_old, m_new = _load(root, v_old), _load(root, v_new)
    schema = StructType.fromJson(m_new["schema"])
    old_files, new_files = set(m_old["files"]), set(m_new["files"])

    def _read(files):
        if not files:
            return spark.createDataFrame([], schema)
        return spark.read.schema(schema).parquet(
            *[os.path.join(root, f) for f in sorted(files)]
        )

    return _read(new_files - old_files), _read(old_files - new_files)
