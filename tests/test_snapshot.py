"""The snapshot log's commit path (``io._commit``) and per-commit file
diff (``io._commit_diffs``):

* a log store that fails is not a conflict: merge and delete publish
  once and surface the store's error, whatever ``max_retries`` says;
* a commit that loses its publish race to a commit carrying its own
  ``commit_id`` returns the winner's version (append and merge), and an
  append that loses to a different commit publishes at the next
  version without rewriting its data;
* an empty read (every file pruned, an empty version range) has the
  schema of the unpruned read;
* a delete on a table with non-nullable nested types commits the
  head's schema, and a merge or append of the table's own rows (read
  back all-nullable inside) commits it widened to admit nulls;
* a per-commit diff on a v2 manifest never opens the group blobs both
  sides share;
* the commit-id lookup skips a version vacuumed under it, and a table
  deleted and recreated in the same process does not answer a replayed
  commit id with a version of the old table.
"""

import os

import pytest
from pyspark.sql import functions as F

from bigdata_foundation_spark import io as bio


def _kv(spark, rows):
    return spark.createDataFrame(rows, "k bigint, v double")


def _base_table(spark, tmp_path):
    tdir = str(tmp_path / "tbl")
    bio.write_snapshot(_kv(spark, [(i, 0.0) for i in range(10)]), tdir, mode="overwrite")
    return tdir


def _commit_dirs(tdir):
    return sorted(os.listdir(os.path.join(tdir, "data")))


class _RivalStore(bio.PosixSnapshotLogStore):
    """The first publish runs ``rival`` — a commit through this same
    store — before publishing, so that publish finds its version
    taken."""

    def __init__(self, rival):
        self.rival = rival
        self.publishes = 0

    def publish(self, mdir, version, manifest):
        self.publishes += 1
        rival, self.rival = self.rival, None
        if rival is not None:
            rival()
        return super().publish(mdir, version, manifest)


class _FailingStore(bio.PosixSnapshotLogStore):
    def __init__(self):
        self.publishes = 0

    def publish(self, mdir, version, manifest):
        self.publishes += 1
        raise RuntimeError("store unavailable")


# ---------------------- a failing store is not a conflict ----------------


@pytest.mark.parametrize("kind", ["merge", "delete"])
def test_failing_store_is_not_retried(spark, tmp_path, monkeypatch, kind):
    tdir = _base_table(spark, tmp_path)
    before = _commit_dirs(tdir)
    store = _FailingStore()
    monkeypatch.setattr(bio, "_LOG_STORE", store)
    with pytest.raises(RuntimeError, match="store unavailable"):
        if kind == "merge":
            bio.snapshot_merge(spark, tdir, _kv(spark, [(3, 9.0)]), ["k"], max_retries=2)
        else:
            bio.snapshot_delete(spark, tdir, F.col("k") == 3, max_retries=2)
    assert store.publishes == 1
    assert len(_commit_dirs(tdir)) == len(before) + 1


def test_conflict_error_is_a_runtime_error(spark, tmp_path, monkeypatch):
    tdir = _base_table(spark, tmp_path)
    rival = lambda: bio.write_snapshot(_kv(spark, [(100, 7.0)]), tdir, mode="append")  # noqa: E731
    monkeypatch.setattr(bio, "_LOG_STORE", _RivalStore(rival))
    with pytest.raises(bio.SnapshotConflictError, match="concurrent commit"):
        bio.snapshot_delete(spark, tdir, F.col("k") == 3)
    assert issubclass(bio.SnapshotConflictError, RuntimeError)


# ---------------------- lost publish races -------------------------------


def test_append_loses_race_to_its_own_commit_id(spark, tmp_path, monkeypatch):
    tdir = _base_table(spark, tmp_path)
    batch = _kv(spark, [(100, 1.0), (101, 2.0)])
    rival = lambda: bio.write_snapshot(batch, tdir, mode="append", commit_id="c")  # noqa: E731
    monkeypatch.setattr(bio, "_LOG_STORE", _RivalStore(rival))
    v = bio.write_snapshot(batch, tdir, mode="append", commit_id="c")
    assert v == 2 and bio.snapshot_versions(tdir) == [1, 2]
    got = sorted(r["k"] for r in bio.read_at_version(spark, tdir).collect())
    assert got == list(range(10)) + [100, 101]


def test_merge_loses_race_to_its_own_commit_id(spark, tmp_path, monkeypatch):
    tdir = _base_table(spark, tmp_path)
    rival = lambda: bio.snapshot_merge(  # noqa: E731
        spark, tdir, _kv(spark, [(3, 9.0), (50, 5.0)]), ["k"], commit_id="m"
    )
    monkeypatch.setattr(bio, "_LOG_STORE", _RivalStore(rival))
    v = bio.snapshot_merge(spark, tdir, _kv(spark, [(3, 9.0), (50, 5.0)]), ["k"], commit_id="m")
    assert v == 2 and bio.snapshot_versions(tdir) == [1, 2]
    got = sorted((r["k"], r["v"]) for r in bio.read_at_version(spark, tdir).collect())
    want = sorted([(i, 0.0) for i in range(10) if i != 3] + [(3, 9.0), (50, 5.0)])
    assert got == want


def test_append_loses_race_to_another_commit(spark, tmp_path, monkeypatch):
    tdir = _base_table(spark, tmp_path)
    rival = lambda: bio.write_snapshot(_kv(spark, [(200, 2.0)]), tdir, mode="append")  # noqa: E731
    store = _RivalStore(rival)
    monkeypatch.setattr(bio, "_LOG_STORE", store)
    v = bio.write_snapshot(_kv(spark, [(100, 1.0)]).coalesce(1), tdir, mode="append")
    assert v == 3 and store.publishes == 3  # rival, lost, won
    got = sorted(r["k"] for r in bio.read_at_version(spark, tdir).collect())
    assert got == list(range(10)) + [100, 200]
    # the retry re-published, it did not rewrite: one data dir per commit
    assert len(_commit_dirs(tdir)) == 3
    v2_files, v3_files = (
        set(bio._manifest_file_sets(tdir, bio._read_manifest(tdir, v))[0]) for v in (2, 3)
    )
    assert len({f.split("/")[0] for f in v3_files - v2_files}) == 1


# ---------------------- empty reads keep the read schema -----------------


def test_empty_reads_have_the_read_schema(spark, tmp_path):
    tdir = str(tmp_path / "tbl")
    v = bio.write_snapshot(spark.range(10), tdir, mode="overwrite")
    want = bio.read_at_version(spark, tdir).schema
    pruned = bio.read_at_version(spark, tdir, prune=[("id", 100, None)])
    assert pruned.schema == want and pruned.count() == 0
    delta = bio.read_version_delta(spark, tdir, v, v)
    assert delta.schema == want and delta.count() == 0
    changes = bio.read_version_changes(spark, tdir, v, v)
    assert changes.schema.fields[:-2] == want.fields and changes.count() == 0
    assert changes.columns[-2:] == ["_change_type", "_commit_version"]


# ---------------------- rewrite commits keep the head's schema ----------


def test_delete_keeps_non_nullable_nested_head_schema(spark, tmp_path):
    tdir = str(tmp_path / "tbl")
    df = spark.range(10).select("id", F.array("id").alias("a"))
    v1 = bio.write_snapshot(df, tdir, mode="overwrite")
    v2 = bio.snapshot_delete(spark, tdir, F.col("id") == 3)
    assert v2 == v1 + 1
    assert bio._read_manifest(tdir, v2)["schema"] == bio._read_manifest(tdir, v1)["schema"]
    assert sorted(r["id"] for r in bio.read_at_version(spark, tdir).collect()) == [
        i for i in range(10) if i != 3
    ]


def _field_type(tdir, version, name):
    fields = bio._read_manifest(tdir, version)["schema"]["fields"]
    return next(f["type"] for f in fields if f["name"] == name)


def test_merge_and_append_of_read_back_rows_widen_nested_nullability(spark, tmp_path):
    tdir = str(tmp_path / "tbl")
    df = spark.range(10).select(F.col("id").alias("k"), F.array("id").alias("a"))
    v1 = bio.write_snapshot(df, tdir, mode="overwrite")
    assert _field_type(tdir, v1, "a")["containsNull"] is False
    back = bio.read_at_version(spark, tdir, v1).filter("k = 3")
    v2 = bio.snapshot_merge(spark, tdir, back, ["k"])
    v3 = bio.write_snapshot(bio.read_at_version(spark, tdir, v1).filter("k = 4"), tdir)
    assert (v2, v3) == (v1 + 1, v1 + 2)
    for v in (v2, v3):
        assert _field_type(tdir, v, "a") == {**_field_type(tdir, v1, "a"), "containsNull": True}
    rows = sorted((r["k"], list(r["a"])) for r in bio.read_at_version(spark, tdir).collect())
    assert rows == sorted([(i, [i]) for i in range(10)] + [(4, [4])])


# ---------------------- per-commit diffs on v2 manifests -----------------


def test_commit_diffs_skip_shared_groups(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(bio, "_SNAPSHOT_SHARD_THRESHOLD", 2)
    monkeypatch.setattr(bio, "_SNAPSHOT_GROUP_TARGET", 2)
    tdir = str(tmp_path / "tbl")
    v1 = bio.write_snapshot(spark.range(0, 80).repartition(8), tdir, mode="overwrite")
    v2 = bio.write_snapshot(spark.range(80, 90).coalesce(1), tdir, mode="append")
    v3 = bio.write_snapshot(spark.range(90, 95).coalesce(1), tdir, mode="append")
    assert len(bio._read_manifest(tdir, v1)["groups"]) == 4

    opened = []
    real = bio._read_file_group

    def counting(mdir, ref):
        opened.append(ref["path"])
        return real(mdir, ref)

    monkeypatch.setattr(bio, "_read_file_group", counting)
    delta = bio.read_version_delta(spark, tdir, v1, v3)
    # v1's four full groups ride along unchanged and are never opened:
    # only the appends' groups are (v2's partial one, on both sides of
    # the second diff, and v3's re-chunked one)
    assert len(opened) == 3
    monkeypatch.setattr(bio, "_read_file_group", real)
    assert sorted(r["id"] for r in delta.collect()) == list(range(80, 95))
    diffs = list(bio._commit_diffs(tdir, bio.snapshot_versions(tdir), v1, v3))
    assert [(v, m, len(d)) for v, m, _, d in diffs] == [(v2, "append", 0), (v3, "append", 0)]
    full = [set(bio._manifest_file_sets(tdir, bio._read_manifest(tdir, v))[0]) for v in (v1, v2, v3)]
    assert [set(a) for _, _, a, _ in diffs] == [full[1] - full[0], full[2] - full[1]]


def test_find_commit_id_skips_a_vacuumed_version(spark, tmp_path, monkeypatch):
    """A manifest removed between the listing and its read (a vacuum
    running beside the lookup) is skipped, not raised."""
    tdir = _base_table(spark, tmp_path)
    bio.write_snapshot(_kv(spark, [(100, 1.0)]), tdir, mode="append")
    bio.write_snapshot(_kv(spark, [(101, 1.0)]), tdir, mode="append", commit_id="c3")
    versions = bio.snapshot_versions(tdir)
    _, mdir = bio._snapshot_paths(tdir)
    bio.get_snapshot_log_store().delete(mdir, 2)
    monkeypatch.setattr(bio, "_COMMIT_ID_INDEX", {})
    assert bio._find_commit_id(tdir, versions, "c3") == 3


def test_commit_id_replayed_into_a_recreated_table_appends(spark, tmp_path):
    import shutil

    tdir = _base_table(spark, tmp_path)
    bio.write_snapshot(_kv(spark, [(100, 1.0)]), tdir, commit_id="batch-7")
    bio.write_snapshot(_kv(spark, [(101, 1.0)]), tdir, commit_id="batch-8")
    assert bio.write_snapshot(_kv(spark, [(100, 1.0)]), tdir, commit_id="batch-7") == 2
    shutil.rmtree(tdir)
    _base_table(spark, tmp_path)
    bio.write_snapshot(_kv(spark, [(200, 1.0)]), tdir)
    bio.write_snapshot(_kv(spark, [(201, 1.0)]), tdir)
    replay = _kv(spark, [(i, 2.0) for i in range(300, 305)])
    assert bio.write_snapshot(replay, tdir, commit_id="batch-7") == 4
    assert bio.read_at_version(spark, tdir).count() == 17
    assert bio.write_snapshot(replay, tdir, commit_id="batch-7") == 4
