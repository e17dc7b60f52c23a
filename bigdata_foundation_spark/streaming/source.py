"""Snapshot tables as a STRUCTURED STREAMING SOURCE (r14, extended r15).

The r13 snapshot layer made the versioned table the engine's sink
surface (append / merge / CDC-apply); this module closes the loop —
the table is also a streaming SOURCE, the Delta-style "table tail":
a query reads every row committed so far and then keeps emitting the
rows each new append commit lands, exactly once across restarts
(the manifest version IS the offset, checkpointed by Spark).

Built on Spark 4's Python DataSource API (SPARK-44076) — the
idiomatic way to hand Spark a custom streaming source without JVM
code. Offsets are manifest versions; batch planning is pure METADATA
(the driver diffs two manifests' file lists — no listing, no data
read, v2 group refs resolved driver-side); each new file becomes one
``InputPartition`` whose executor-side read yields Arrow record
batches (``pyarrow.parquet`` → zero row-at-a-time Python).

Semantics:

- the stream emits APPENDED ROWS. A merge/delete/overwrite commit
  inside a batch range makes "new files" stop meaning "appended rows"
  (same contract as ``io.read_version_delta``): the stream FAILS by
  default, naming the version; ``ignoreChanges=true`` instead skips
  rewrite commits' files (their rewritten rows are NOT re-emitted —
  Delta's ignoreChanges, minus the double-emit);
- ``readChangeFeed=true`` (r15 — r14 verdict task 3) switches the
  stream to ROW-LEVEL CHANGE rows instead: each commit emits the same
  typed rows the batch :func:`io.read_version_changes` derives —
  appends as ``insert``; merge/delete commits as key-classified
  ``insert`` / ``update_postimage`` / ``delete`` (``keyCols`` option,
  comma-separated; keyless → delete+insert pairs), with unchanged
  rewritten rows suppressed; ``includePreimages=true`` additionally
  emits each update's ``update_preimage`` row (Delta CDF's four-type
  surface). Output schema = table schema +
  ``_change_type`` + ``_commit_version``. Overwrite commits still
  raise (restart from the post-overwrite version), or are skipped
  whole under ``ignoreChanges=true``. The per-commit diff runs in ONE
  task holding that commit's rewritten files in memory (file-granular
  copy-on-write keeps this the few files a merge touched, not the
  table); set EXCEPT semantics match the batch API (exact-duplicate
  rows collapse — see read_version_changes' multiplicity contract),
  and diffing hashes row values, so rewrite commits on tables with
  array/map columns need the batch API instead;
- additive schema evolution along the lineage is fine: files are
  projected to the STREAM's schema (fixed at start, from the
  ``startingVersion``'s manifest — later-added columns are absent
  from it; pass a fresh stream to pick up the widened schema), with
  missing columns null-filled by name;
- options: ``path`` (table dir, required), ``startingVersion``
  (default 1 — emit the whole table from its first commit; pass a
  later version to tail only new commits — valid even when earlier
  versions were vacuumed: a fresh stream whose predecessor manifest
  is gone BASELINES on its first visible version's full file set,
  r14 advice), ``maxFilesPerTrigger`` (r15 — r14 verdict task 2:
  cap each micro-batch's offset advance to roughly this many new
  files; a version is atomic so the cap rounds UP to version
  granularity, always advancing at least one version — a backlog
  catch-up becomes several bounded batches with incremental
  checkpoints instead of one giant batch), ``maxBytesPerTrigger``
  (same, but budgeted on the new files' on-disk bytes — one stat per
  pending file during the cap walk; when both caps are set the
  FIRST one to bind stops the batch, Delta's semantics).

Rate-limit honesty (measured against pyspark 4.1 — the Python
DataSource API's ``latestOffset()`` takes no start offset, and
``setLatestSeenOffset`` is not forwarded to Python):

- the cap is computed from the reader's last KNOWN offset
  (``startingVersion - 1`` until a batch is planned/committed, then
  monotone from there). On a RESTART whose checkpoint is ahead of
  startingVersion, the first trigger's capped offset can land behind
  the checkpoint: that batch plans empty, and every planned start is
  floored monotonically, so no file behind a checkpoint is ever
  re-planned — the cost is one empty micro-batch after such a
  restart, never duplicates or loss (pinned in pytest);
- under ``Trigger.AvailableNow`` Spark falls back to SINGLE-batch
  execution for Python sources (no SupportsTriggerAvailableNow
  hook), calling ``latestOffset`` once: an availableNow invocation
  with a cap therefore processes ONE bounded batch and terminates
  (rerun to continue — each run checkpoints its progress). For a
  multi-batch capped catch-up in one query, use a processingTime
  trigger.

Register per-session with :func:`register_snapshot_source`, then::

    spark.readStream.format("snapshot_table").option("path", tdir).load()
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import IntegerType, StringType, StructType

SNAPSHOT_SOURCE_NAME = "snapshot_table"

_CDF_TYPE_COL = "_change_type"
_CDF_VERSION_COL = "_commit_version"


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class _CdfFilePartition(InputPartition):
    """A whole file emitted with a constant change type (appends and
    the baseline snapshot)."""

    def __init__(self, path: str, ctype: str, version: int):
        self.path = path
        self.ctype = ctype
        self.version = version


class _CdfDiffPartition(InputPartition):
    """One rewrite commit's file-granular diff: added vs dropped
    files, key-classified on the executor."""

    def __init__(
        self,
        added: list,
        dropped: list,
        key_cols: list,
        version: int,
        preimages: bool = False,
    ):
        self.added = added
        self.dropped = dropped
        self.key_cols = key_cols
        self.version = version
        self.preimages = preimages


def _capped_end(base: int, versions: list, n_files, cap: int) -> int:
    """Largest version the offset may advance to from ``base`` under a
    ~``cap``-new-files budget. Versions are atomic: at least one
    pending version is always taken (even when it alone exceeds the
    cap — progress over purity); after that, stop before the version
    that would push the running total past the cap. ``n_files`` maps
    version → that version's NEW-file count (mapping or callable,
    consulted in ascending order only)."""
    get = n_files.__getitem__ if hasattr(n_files, "__getitem__") else n_files
    end, taken = base, 0
    for v in versions:
        if v <= base:
            continue
        c = get(v)
        if end > base and taken + c > cap:
            break
        end, taken = v, taken + c
        if taken >= cap:
            break
    return end


class SnapshotStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options: dict):
        self._schema = schema
        self._table_dir = options["path"]
        self._start_version = int(options.get("startingversion", 1))
        self._ignore_changes = (
            str(options.get("ignorechanges", "false")).lower() == "true"
        )
        self._cdf = (
            str(options.get("readchangefeed", "false")).lower() == "true"
        )
        self._key_cols = [
            c.strip() for c in str(options.get("keycols", "")).split(",") if c.strip()
        ]
        self._preimages = (
            str(options.get("includepreimages", "false")).lower() == "true"
        )
        mft = options.get("maxfilespertrigger")
        self._max_files = int(mft) if mft is not None else None
        if self._max_files is not None and self._max_files < 1:
            raise ValueError("maxFilesPerTrigger must be >= 1")
        mbt = options.get("maxbytespertrigger")
        self._max_bytes = int(mbt) if mbt is not None else None
        if self._max_bytes is not None and self._max_bytes < 1:
            raise ValueError("maxBytesPerTrigger must be >= 1")
        # rate-limit bookkeeping (driver-side reader instance only):
        # the last offset this reader KNOWS was reached — set by
        # initialOffset (fresh streams), partitions (planned batches,
        # incl. the replayed one after a restart), commit
        self._base: int | None = None
        # monotonic floor of planned starts: a capped latestOffset
        # that regressed behind a checkpoint (restart race) must never
        # cause files behind the checkpoint to be re-planned
        self._floor = 0
        if self._cdf:
            self._data_fields = [
                f
                for f in schema.fields
                if f.name not in (_CDF_TYPE_COL, _CDF_VERSION_COL)
            ]
        else:
            self._data_fields = list(schema.fields)

    # -- offsets: the committed manifest version is the offset --------
    def initialOffset(self) -> dict:
        v = self._start_version - 1
        if self._base is None or v > self._base:
            self._base = v
        return {"version": v}

    def latestOffset(self) -> dict:
        from bigdata_foundation_spark import io as bio

        versions = bio.snapshot_versions(self._table_dir)
        head = versions[-1] if versions else self._start_version - 1
        head = max(head, self._floor)
        if self._max_files is None and self._max_bytes is None:
            return {"version": head}
        # latestOffset is called BEFORE initialOffset on a fresh
        # stream (measured, pyspark 4.1), so an unset base defaults to
        # the configured start; partitions' floor guard makes the
        # restart-with-checkpoint case safe (module docstring)
        base = self._base if self._base is not None else self._start_version - 1
        base = max(base, self._floor)
        if head <= base:
            return {"version": head}
        # lazy per-version NEW-file costs: walk pending versions in
        # order, diffing manifest file sets (pure metadata — plus one
        # stat per new file when the BYTE cap is set; both bounded by
        # the cap walk, not the whole backlog). Normalize both caps
        # onto one budget: cost = max(files/file_cap, bytes/byte_cap)
        # scaled to a common unit, so whichever cap binds first stops
        # the walk.
        import os

        ddir, _ = bio._snapshot_paths(self._table_dir)
        diffs = bio._commit_diffs(self._table_dir, versions, base, head)
        UNIT = 1_000_000  # integer budget resolution per cap

        def cost(v: int) -> int:
            _, _, new, _ = next(diffs)
            frac = 0.0
            if self._max_files is not None:
                frac = max(frac, len(new) / self._max_files)
            if self._max_bytes is not None:
                nbytes = 0
                for f in new:
                    try:
                        nbytes += os.path.getsize(os.path.join(ddir, f))
                    except OSError:
                        pass  # vacuumed/missing: planners will surface it
                frac = max(frac, nbytes / self._max_bytes)
            return max(1, round(frac * UNIT)) if new else 0

        return {"version": _capped_end(base, versions, cost, UNIT)}

    def partitions(self, start: dict, end: dict):
        lo, hi = int(start["version"]), int(end["version"])
        # advance the rate-limit base to this batch's PLANNED END:
        # micro-batches are sequential, so the next latestOffset call
        # happens only after this batch runs (commit() is NOT
        # forwarded to Python stream readers — measured, pyspark 4.1;
        # max() keeps a regressed hi from lowering the base)
        self._base = max(self._base if self._base is not None else lo, lo, hi)
        floor = self._floor
        self._floor = max(floor, lo)
        lo = max(lo, floor)
        if hi <= lo:
            return []
        from bigdata_foundation_spark import io as bio

        versions = bio.snapshot_versions(self._table_dir)
        if lo > 0 and lo not in versions and lo != self._start_version - 1:
            # a CHECKPOINTED offset whose manifest is gone (vacuumed)
            # is lost progress — the file diff would silently re-emit
            # the whole table. (A FRESH stream's initial offset is
            # exempt: its predecessor being vacuumed just means the
            # first visible version baselines the stream, r14 advice.)
            raise ValueError(
                f"snapshot_table stream: offset version {lo} of "
                f"{self._table_dir} no longer exists (vacuumed?); "
                "cannot compute the append delta — restart the stream "
                "with a fresh checkpoint"
            )
        import os

        ddir, _ = bio._snapshot_paths(self._table_dir)
        parts: list = []
        baseline = lo not in versions  # fresh start: no base manifest
        for v, mode, added, dropped in bio._commit_diffs(
            self._table_dir, versions, lo, hi
        ):
            if baseline:
                # the first version a fresh stream sees IS the initial
                # snapshot — emit its full file set whatever its mode
                # (a table's v1 is an overwrite by construction)
                baseline = False
                self._plan_insert_files(parts, ddir, added, v)
            elif mode == "append":
                self._plan_insert_files(parts, ddir, added, v)
            elif self._cdf and mode in ("merge", "delete"):
                parts.append(
                    _CdfDiffPartition(
                        [os.path.join(ddir, f) for f in added],
                        [os.path.join(ddir, f) for f in dropped],
                        self._key_cols,
                        v,
                        preimages=self._preimages,
                    )
                )
            elif self._ignore_changes:
                pass  # skip the rewrite commit's files entirely
            elif self._cdf:
                raise ValueError(
                    f"snapshot_table stream: version {v} of "
                    f"{self._table_dir} is a {mode!r} commit — the whole "
                    "file set changes, so the row-level diff is unbounded. "
                    f"Restart the change feed from version {v}, or set "
                    "ignoreChanges=true to skip overwrite commits."
                )
            else:
                raise ValueError(
                    f"snapshot_table stream: version {v} of "
                    f"{self._table_dir} is a {mode!r} commit — "
                    "the file delta is not an append set. Restart from a "
                    "later startingVersion, or set ignoreChanges=true to "
                    "skip rewrite commits (their rows are not re-emitted)."
                )
        return parts

    def _plan_insert_files(self, parts, ddir, added, version):
        import os

        for f in added:
            p = os.path.join(ddir, f)
            parts.append(
                _CdfFilePartition(p, "insert", version)
                if self._cdf
                else _FilePartition(p)
            )

    # -- executor-side reads ------------------------------------------
    def _project_batch(self, batch, pa):
        """One Arrow record batch → projected to the stream's DATA
        columns (null-fill columns the file predates, drop columns
        added after the stream started) — zero row-at-a-time Python."""
        from pyspark.sql.pandas.types import to_arrow_type

        n = batch.num_rows
        names = set(batch.schema.names)
        cols = []
        for f in self._data_fields:
            if f.name in names:
                cols.append(batch.column(f.name))
            else:
                cols.append(pa.nulls(n, type=to_arrow_type(f.dataType)))
        return pa.table(
            dict(zip([f.name for f in self._data_fields], cols))
        )

    def _iter_file_batches(self, path: str):
        """Stream a parquet file as projected Arrow batches — per-task
        memory is ONE batch (~64k rows), never the whole file (r14
        verdict fine print: pq.read_table bounded task memory by the
        largest data file)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(path)
        want = [
            f.name
            for f in self._data_fields
            if f.name in set(pf.schema_arrow.names)
        ]
        for batch in pf.iter_batches(batch_size=1 << 16, columns=want):
            yield self._project_batch(batch, pa)

    def _project_file(self, path: str):
        """Whole-file projected table — ONLY for the CDF diff, whose
        memory is bounded by one commit's rewritten files (documented
        in the module docstring)."""
        import pyarrow as pa

        tables = list(self._iter_file_batches(path))
        if not tables:
            from pyspark.sql.pandas.types import to_arrow_type

            return pa.table(
                {
                    f.name: pa.array([], type=to_arrow_type(f.dataType))
                    for f in self._data_fields
                }
            )
        return pa.concat_tables(tables)

    def read(self, partition):
        import pyarrow as pa

        if isinstance(partition, _FilePartition):
            for tbl in self._iter_file_batches(partition.path):
                for batch in tbl.to_batches():
                    yield batch
            return
        if isinstance(partition, _CdfFilePartition):
            for tbl in self._iter_file_batches(partition.path):
                n = tbl.num_rows
                out = tbl.append_column(
                    _CDF_TYPE_COL, pa.array([partition.ctype] * n, type=pa.string())
                ).append_column(
                    _CDF_VERSION_COL,
                    pa.array([partition.version] * n, type=pa.int32()),
                )
                for batch in out.to_batches():
                    yield batch
            return
        yield from self._read_cdf_diff(partition)

    def _read_cdf_diff(self, partition: _CdfDiffPartition):
        """Key-classified diff of one rewrite commit — the executor
        twin of io.read_version_changes' per-commit logic: row-level
        EXCEPT DISTINCT first (unchanged rewritten rows emit nothing),
        then key classification. Null-safe: rows are compared as
        Python tuples where None == None; NaN values (distinct-object
        floats) are out of contract, as are unhashable column types."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_type

        names = [f.name for f in self._data_fields]

        def _rows(paths):
            # Row tuples via COLUMNAR to_pylist + zip — same tuples
            # (None == None, exact values) as the per-row
            # Table.to_pylist() dicts, without materializing one dict
            # per row (guide §4.2: the diff task's cost is per commit,
            # so this scales with rewritten bytes at any table size;
            # measured ~5× on a 150k-row rewrite).
            out = []
            for p in paths:
                tbl = self._project_file(p)
                if tbl.num_rows:
                    if names:
                        out.extend(zip(*(tbl.column(c).to_pylist() for c in names)))
                    else:
                        # zip of no iterables is empty, but num_rows
                        # empty tuples is the correct diff input when
                        # every schema field is CDF metadata (r15
                        # advice; theoretical today)
                        out.extend([()] * tbl.num_rows)
            return out

        pre_rows = _rows(partition.dropped)
        post_rows = _rows(partition.added)
        try:
            pre_set, post_set = set(pre_rows), set(post_rows)
        except TypeError as exc:
            raise ValueError(
                "snapshot_table readChangeFeed: the diff hashes row "
                "values, so tables with array/map columns cannot stream "
                "rewrite commits — use the batch io.read_version_changes "
                f"(DataFrame EXCEPT handles nested types): {exc}"
            ) from None
        changed_post = post_set - pre_set
        changed_pre = pre_set - post_set
        typed: list = []
        if partition.key_cols:
            ki = [names.index(k) for k in partition.key_cols]

            def key(t):
                return tuple(t[i] for i in ki)

            pre_keys = {key(t) for t in pre_set}
            post_keys = {key(t) for t in post_set}
            for t in changed_post:
                typed.append(
                    (t, "update_postimage" if key(t) in pre_keys else "insert")
                )
            typed.extend(
                (t, "delete") for t in changed_pre if key(t) not in post_keys
            )
            if partition.preimages:
                typed.extend(
                    (t, "update_preimage")
                    for t in changed_pre
                    if key(t) in post_keys
                )
        else:
            # keyless fallback: an update appears as its delete+insert
            # pair; unchanged rewritten rows still emit nothing
            typed.extend((t, "insert") for t in changed_post)
            typed.extend((t, "delete") for t in changed_pre)
        if not typed:
            return
        typed.sort(key=lambda x: (x[1], str(x[0])))  # deterministic task output
        arrays = {
            f.name: pa.array(
                [t[i] for t, _ in typed], type=to_arrow_type(f.dataType)
            )
            for i, f in enumerate(self._data_fields)
        }
        arrays[_CDF_TYPE_COL] = pa.array([c for _, c in typed], type=pa.string())
        arrays[_CDF_VERSION_COL] = pa.array(
            [partition.version] * len(typed), type=pa.int32()
        )
        for batch in pa.table(arrays).to_batches(max_chunksize=1 << 16):
            yield batch

    def commit(self, end: dict) -> None:
        v = int(end["version"])
        if self._base is None or v > self._base:
            self._base = v


class SnapshotDataSource(DataSource):
    """``spark.readStream.format("snapshot_table")`` — see module doc."""

    @classmethod
    def name(cls) -> str:
        return SNAPSHOT_SOURCE_NAME

    def schema(self) -> StructType:
        from bigdata_foundation_spark import io as bio

        table_dir = self.options["path"]
        start = int(self.options.get("startingversion", 1))
        versions = bio.snapshot_versions(table_dir)
        if not versions:
            raise FileNotFoundError(f"no snapshot versions in {table_dir}")
        anchor = max(v for v in versions if v <= start) if start >= versions[0] else versions[0]
        schema = StructType.fromJson(bio._read_manifest(table_dir, anchor)["schema"])
        if str(self.options.get("readchangefeed", "false")).lower() == "true":
            schema = schema.add(_CDF_TYPE_COL, StringType()).add(
                _CDF_VERSION_COL, IntegerType()
            )
        return schema

    def streamReader(self, schema: StructType) -> SnapshotStreamReader:
        return SnapshotStreamReader(schema, dict(self.options))


def register_snapshot_source(spark) -> None:
    """Register the snapshot streaming source with this session (idempotent)."""
    spark.dataSource.register(SnapshotDataSource)
