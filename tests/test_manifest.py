"""Versioned-manifest table format: commit/read/time-travel/vacuum.

Semantics pinned here: append vs overwrite composition, snapshot
isolation (an old version's read set never changes), atomic
conflict-checked publish (os.link loses cleanly), and vacuum deleting
exactly the unreferenced files.
"""

import os

import pytest

from hcls_data_lake_spark.operators import manifest


def _df(spark, lo, hi):
    return spark.range(lo, hi).withColumnRenamed("id", "k")


def _collect(spark, root, version=None):
    return sorted(
        r.k for r in manifest.read_version(spark, root, version).collect()
    )


def test_append_and_overwrite_compose(spark, tmp_path):
    root = str(tmp_path / "tbl")
    assert manifest.commit(_df(spark, 0, 5), root) == 1
    assert manifest.commit(_df(spark, 5, 8), root, "append") == 2
    assert manifest.commit(_df(spark, 100, 103), root, "overwrite") == 3
    assert _collect(spark, root, 1) == [0, 1, 2, 3, 4]
    assert _collect(spark, root, 2) == list(range(8))
    assert _collect(spark, root, 3) == [100, 101, 102]
    assert _collect(spark, root) == [100, 101, 102]  # HEAD = latest
    assert manifest.versions(root) == [1, 2, 3]


def test_snapshot_isolation_under_later_commits(spark, tmp_path):
    root = str(tmp_path / "tbl")
    manifest.commit(_df(spark, 0, 3), root)
    v1_files = manifest._load(root, 1)["files"]
    for i in range(4):
        manifest.commit(_df(spark, 10 * i, 10 * i + 2), root, "append")
    # v1's planned file set is byte-identical after 4 more commits
    assert manifest._load(root, 1)["files"] == v1_files
    assert _collect(spark, root, 1) == [0, 1, 2]


def test_publish_conflict_retries_to_next_version(spark, tmp_path):
    root = str(tmp_path / "tbl")
    manifest.commit(_df(spark, 0, 3), root)
    # Simulate a concurrent committer winning version 2: pre-create its
    # manifest; our commit must detect EEXIST and land as version 3
    # WITHOUT clobbering the winner.
    winner = os.path.join(root, "_manifests", "v2.json")
    import json

    m1 = manifest._load(root, 1)
    with open(winner, "w") as fh:
        json.dump({**m1, "version": 2}, fh)
    v = manifest.commit(_df(spark, 3, 6), root, "append")
    assert v == 3
    assert manifest._load(root, 2)["version"] == 2  # winner intact
    assert _collect(spark, root, 3) == [0, 1, 2, 3, 4, 5]


def _fenced_publish(root, bid, mode="append"):
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import LongType, StructField, StructType

    rel = os.path.join("data", f"part-{bid}-{mode}", "part.parquet")
    os.makedirs(os.path.join(root, os.path.dirname(rel)), exist_ok=True)
    pq.write_table(
        pa.table({"k": pa.array([bid], pa.int64())}), os.path.join(root, rel)
    )
    schema = StructType([StructField("k", LongType())])
    return manifest.publish(
        root, [rel], schema, mode, meta={"batch_id": bid}, txn_key="batch_id"
    )


def test_txn_fence_reads_one_manifest(tmp_path, monkeypatch):
    """Each manifest carries the committed txn values forward, so the
    replay fence reads the newest manifest only — not one per version —
    and still holds after vacuum expires the manifests that first
    recorded them (Spark-free: publish over hand-written parquet)."""
    root = str(tmp_path / "tbl")
    for bid in range(50):
        mode = "overwrite" if bid % 10 == 9 else "append"
        assert _fenced_publish(root, bid, mode) == bid + 1
    loads = []
    real_load = manifest._load
    monkeypatch.setattr(
        manifest, "_load", lambda *a: loads.append(a) or real_load(*a)
    )
    assert _fenced_publish(root, 50) == 51
    assert len(loads) <= 2
    monkeypatch.setattr(manifest, "_load", real_load)

    def replays_all():
        return all(_fenced_publish(root, bid) == 0 for bid in range(51))

    assert manifest.committed_meta(root, "batch_id") == set(range(51))
    assert replays_all()
    manifest.vacuum(root, keep_last=1, min_age_s=0)
    assert manifest.versions(root) == [51]
    assert replays_all()
    # with no live manifest left, the newest expired one still fences,
    # and the next publish does not reuse an expired version number
    manifest.vacuum(root, keep_last=0, min_age_s=0)
    assert manifest.versions(root) == []
    assert replays_all()
    assert _fenced_publish(root, 51) == 52
    assert manifest.committed_meta(root, "batch_id") == set(range(52))


def test_vacuum_deletes_only_unreferenced_files(spark, tmp_path):
    root = str(tmp_path / "tbl")
    manifest.commit(_df(spark, 0, 3), root)
    manifest.commit(_df(spark, 3, 6), root, "append")
    manifest.commit(_df(spark, 6, 9), root, "overwrite")
    v3_files = set(manifest._load(root, 3)["files"])
    # min_age_s default protects in-flight commits: fresh files survive
    assert manifest.vacuum(root, keep_last=1) == []
    assert manifest.versions(root) == [3]  # manifests expire regardless
    deleted = manifest.vacuum(root, keep_last=1, min_age_s=0)
    # v3 (overwrite) references only its own commit files: v1-v2 data goes
    assert deleted and not (set(deleted) & v3_files)
    assert manifest.versions(root) == [3]
    assert _collect(spark, root) == [6, 7, 8]
    for rel in v3_files:
        assert os.path.exists(os.path.join(root, rel))
    # expired manifests keep their commit metadata readable (the
    # exactly-once replay check must survive retention)
    assert os.path.isdir(os.path.join(root, "_manifests", "expired"))


def test_empty_commit_reads_back_empty_with_schema(spark, tmp_path):
    root = str(tmp_path / "tbl")
    manifest.commit(_df(spark, 0, 5).filter("k < 0"), root)
    got = manifest.read_version(spark, root)
    assert got.count() == 0
    assert [f.name for f in got.schema.fields] == ["k"]


def test_read_missing_version_raises(spark, tmp_path):
    root = str(tmp_path / "tbl")
    with pytest.raises(FileNotFoundError):
        manifest.read_version(spark, root)
    manifest.commit(_df(spark, 0, 2), root)
    with pytest.raises(FileNotFoundError):
        manifest.read_version(spark, root, 99)


def test_stats_pruning_skips_files_but_not_rows(spark, tmp_path):
    """Three disjoint-range commits; a range prune must cut the file
    list (plan-level skip) while never cutting qualifying rows."""
    root = str(tmp_path / "tbl")
    for lo in (0, 100, 200):
        manifest.commit(
            _df(spark, lo, lo + 10).coalesce(1), root, "append"
        )
    m = manifest._load(root, 3)
    assert len(m["files"]) == 3 and all(
        "k" in m["stats"][f] for f in m["files"]
    )
    pruned = manifest.read_version(spark, root, prune={"k": (100, 109)})
    assert len(pruned.inputFiles()) == 1  # 2 of 3 files never planned
    assert sorted(r.k for r in pruned.filter("k >= 100 AND k <= 109").collect()) == list(
        range(100, 110)
    )
    # open-ended bound
    ge = manifest.read_version(spark, root, prune={"k": (150, None)})
    assert len(ge.inputFiles()) == 1
    # a column with no stats keeps everything
    allf = manifest.read_version(spark, root, prune={"nope": (0, 1)})
    assert len(allf.inputFiles()) == 3


def _stream_events_to_sink(spark, sf_dir, root, ckpt):
    from hcls_data_lake_spark.sources.manifest_sink import (
        register_manifest_sink,
    )
    from hcls_data_lake_spark.streaming.runner import read_events_stream

    register_manifest_sink(spark)
    q = (
        read_events_stream(spark, sf_dir)
        .select("event_id", "event_type", "value")
        .writeStream.format("manifestsink")
        .option("path", root)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "manifest-sink stream did not finish"


def _data_files(root):
    out = set()
    for d, _, files in os.walk(os.path.join(root, "data")):
        out.update(os.path.join(d, f) for f in files)
    return out


def test_manifest_sink_is_exactly_once_under_replay(spark, sf_dir, tmp_path):
    """Stream the events table through the manifestsink format, then
    replay every committed batch id through a FRESH writer (what a
    restarted driver re-running its last batches does): each replay's
    write lands parts on disk, but its commit must publish nothing and
    delete those parts — version count, row count and the data files
    stay exactly as the first delivery left them."""
    import pyarrow as pa

    from hcls_data_lake_spark.queries.common import events
    from hcls_data_lake_spark.sources.manifest_sink import (
        ManifestStreamWriter,
    )

    root = str(tmp_path / "lake")
    _stream_events_to_sink(spark, sf_dir, root, str(tmp_path / "ckpt"))
    vs = manifest.versions(root)
    assert vs, "no batch committed"
    n_expected = events(spark, sf_dir).count()
    head = manifest.read_version(spark, root)
    assert head.count() == n_expected
    files_before = _data_files(root)

    replay = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "event_type": pa.array(["a", "b"]),
            "value": pa.array([1.0, 2.0]),
        }
    )
    for bid in sorted(manifest.committed_meta(root, "batch_id")):
        zombie = ManifestStreamWriter(root, head.schema, False)
        msg = zombie.write(iter(replay.to_batches()))
        assert os.path.exists(os.path.join(root, msg.path))
        zombie.commit([msg], bid)
        assert not os.path.exists(os.path.join(root, msg.path))
    assert manifest.versions(root) == vs
    assert manifest.read_version(spark, root).count() == n_expected
    assert _data_files(root) == files_before

    # and commit() itself fences when called directly with txn_key,
    # before it writes anything
    bid0 = sorted(manifest.committed_meta(root, "batch_id"))[0]
    assert (
        manifest.commit(
            spark.range(3).toDF("event_id"),
            root,
            meta={"batch_id": bid0},
            txn_key="batch_id",
        )
        == 0
    )
    assert manifest.versions(root) == vs
    assert _data_files(root) == files_before


def test_vacuum_on_sink_written_table(spark, sf_dir, tmp_path):
    """vacuum walks the sink's per-task data/<dir>/ layout: on a
    sink-written table it deletes only the parts no retained manifest
    references (a crashed batch's orphan), and the table still reads
    whole afterwards."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hcls_data_lake_spark.queries.common import events

    root = str(tmp_path / "lake")
    _stream_events_to_sink(spark, sf_dir, root, str(tmp_path / "ckpt"))
    orphan = os.path.join("data", "part-orphan", "part.parquet")
    os.makedirs(os.path.join(root, "data", "part-orphan"))
    pq.write_table(
        pa.table({"event_id": pa.array([99], pa.int64())}),
        os.path.join(root, orphan),
    )
    referenced = set(manifest._load(root, manifest.versions(root)[-1])["files"])
    assert manifest.vacuum(root, keep_last=1, min_age_s=0) == [orphan]
    assert not os.path.exists(os.path.join(root, "data", "part-orphan"))
    assert all(os.path.exists(os.path.join(root, f)) for f in referenced)
    assert (
        manifest.read_version(spark, root).count()
        == events(spark, sf_dir).count()
    )


def test_read_commit_delta_returns_only_that_commits_rows(spark, tmp_path):
    """r7 (q_pipeline_versions support): read_commit_delta(v) must
    return exactly the rows commit v ADDED — the manifest file-list
    diff against v-1 — for append commits; for v=1 the delta IS the
    snapshot; and after an OVERWRITE commit the delta is the full
    replacement set (the diff vs the replaced file list)."""
    from hcls_data_lake_spark.operators import manifest

    root = str(tmp_path / "tbl")
    manifest.commit(spark.range(0, 10).toDF("id"), root, "append")
    manifest.commit(spark.range(10, 15).toDF("id"), root, "append")
    d1 = {r.id for r in manifest.read_commit_delta(spark, root, 1).collect()}
    d2 = {r.id for r in manifest.read_commit_delta(spark, root, 2).collect()}
    assert d1 == set(range(0, 10))
    assert d2 == set(range(10, 15))
    # snapshot v2 = union of the two deltas (append-only invariant)
    assert manifest.read_version(spark, root, 2).count() == 15
    manifest.commit(spark.range(100, 103).toDF("id"), root, "overwrite")
    d3 = {r.id for r in manifest.read_commit_delta(spark, root, 3).collect()}
    assert d3 == {100, 101, 102}
    import pytest

    with pytest.raises(FileNotFoundError):
        manifest.read_commit_delta(spark, root, 9)


def test_versions_numeric_order(tmp_path):
    """versions() must order manifests by NUMERIC version — a
    lexicographic listing puts v10 before v2, which would make
    read_version's HEAD and append composition pick the wrong manifest
    from the 10th commit on."""
    mdir = tmp_path / "tbl" / "_manifests"
    mdir.mkdir(parents=True)
    for v in range(1, 13):
        (mdir / f"v{v}.json").write_text("{}")
    (mdir / ".v13-0a1b2c3d.tmp").write_text("{}")  # staged, unpublished
    assert manifest.versions(str(tmp_path / "tbl")) == list(range(1, 13))
