"""warehouse_mixed: relational registry reads, curation-operator reads
and head reads of a snapshot table, interleaved with commits to that
table — all through the same io/Catalyst path, so a read-side gain
that costs writes shows here. The run ends with the change feed over
every commit it made. Bypasses the graph layers.

Checks (outside the timed region): each registry read is compared
with its DuckDB ``oracle`` SQL under ``tools/check_oracles.py``'s
normalisation; head reads and the change feed are compared with a
DuckDB replay of the same commit batches; exact dedup must remove
exactly the planted copies, MinHash pairs (traced run) must recover
the planted near duplicates at or above ``RECALL_FLOOR``, clusters
(traced run) must equal a union-find over their input pairs, and the
text and packing outputs are checked against the corpus.
"""

from __future__ import annotations

import glob
import itertools
import math
import os
import pstats
import random

import duckdb
import pandas as pd
from pyspark.sql import functions as F

import whgen
from bigdata_foundation_spark import io
from bigdata_foundation_spark.operators import dedup, packing, release_operator_caches, text
from bigdata_foundation_spark.queries import registry
from harness import Run, median, traced_common

SF, N_DOCS = 0.01, 600  # orders 15k rows, lineitem ≈ 60k; 600 documents
# One timed ingest follows every INGEST_EVERY-th stream operation:
# spread over the stream, the ingests sample the host's speed over the
# whole run rather than over a few seconds of it.
INGEST_EVERY = 3
RECALL_FLOOR = 0.9
PACK_BUDGET = 512
READS = (
    "q1_pricing_summary",
    "q3_segment_topk",
    "q5_region_revenue",
    "window_top_orders_per_customer",
    "events_hourly",
    "asof_join_attribution",
)
CURATION = {  # kind -> operator module
    "exact_dedup": "dedup",
    "minhash_lsh_pairs": "dedup",
    "duplicate_clusters": "dedup",
    "gopher_filter": "text",
    "bm25_scores": "text",
    "dsir_logratio_scores": "text",
    "pack_sequences": "packing",
}
COMMITS = ("append", "merge", "delete")
# Kinds that run once, unprimed, after the stream, in the traced run
# only, so that a run fits its time budget: the near-duplicate stage —
# MinHash pairs (8-12 s unprimed) and their clusters (iterative
# connected components, 4-6 s), which also vary more than any other
# kind — and one read and one text operator whose layers the stream
# already measures.
TRACED_ONLY = ("q5_region_revenue", "gopher_filter", "minhash_lsh_pairs", "duplicate_clusters")
KINDS = tuple(k for k in READS + ("head_read",) + COMMITS + tuple(CURATION) if k not in TRACED_ONLY)
KEY = "o_orderkey"


# Same value normalisation as tools/check_oracles.py, plus timestamps
# (snapshot rows carry o_orderdate).
def _norm_val(v):
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, list):
        return str([_norm_val(x) for x in v])
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else str(round(v, 6))
    if hasattr(v, "isoformat"):
        return v.isoformat(sep=" ")
    return str(v)


def normalize(rows, cols):
    return sorted(tuple(_norm_val(row[c]) for c in cols) for row in rows)


def _union_find(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


class Warehouse:
    """One generated warehouse: parquet tables, a documents corpus, a
    snapshot table built from ``orders``, and a DuckDB copy of that
    table that replays every commit, so reads and the change feed can
    be checked."""

    def __init__(self, seed: int, sf: float, n_docs: int, root: str):
        self.sf_dir = os.path.join(root, "tables")
        self.tbls = whgen.tables(seed, sf)
        self.table_bytes = whgen.write_tables(self.tbls, self.sf_dir)
        docs, self.exact, self.near = whgen.corpus(seed, n_docs)
        self.docs_path = os.path.join(self.sf_dir, "documents.parquet")
        docs.to_parquet(self.docs_path, index=False)
        self.n_docs = len(docs)
        self.orders = self.tbls["orders"]
        self.cols = list(self.orders.columns)
        self.batches = whgen.OrderBatches(seed, self.orders)
        self.tdir = os.path.join(root, "snap", "orders")  # the commit stream's table
        self.idir = os.path.join(root, "snap", "ingest")  # the timed ingests' table

        self.con = duckdb.connect()
        for name in self.tbls:
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{self.sf_dir}/{name}.parquet')")
        self.expected = {}
        for name in READS:
            ddf = self.con.execute(registry()[name].oracle).df()
            cols = sorted(ddf.columns)
            self.expected[name] = (cols, normalize(ddf.to_dict("records"), cols))

        self.words = {i: t.lower().split() for i, t in zip(docs["doc_id"], docs["text"])}
        self.terms = sorted(set(random.Random(seed).sample(self.words[0], 3)) | {"the"})
        self.pairs_in = sorted(set(self.near) | {(o, c) for c, o in self.exact.items()})
        self.feed_want: list[tuple] = []
        self.base_v = self.head_v = None
        self.n_commit = 0
        self.stats = {"files": [], "written": 0, "user": 0, "rdds": [], "held": []}

    def attach(self, spark) -> None:
        self.D = io.read_parquet(spark, self.docs_path)
        self.target = self.D.filter(F.col("source") == "src0")
        self.pairs_df = spark.createDataFrame(pd.DataFrame(self.pairs_in, columns=["id_a", "id_b"]))
        self.schema = spark.read.parquet(f"{self.sf_dir}/orders.parquet").schema

    # -- DuckDB replay of the snapshot table -------------------------------
    def replay_ingest(self, v: int) -> None:
        self.con.execute("CREATE OR REPLACE TABLE snap AS SELECT * FROM orders")
        self.base_v = self.head_v = v
        self.feed_want.clear()

    def replay(self, kind: str, payload, v: int) -> str | None:
        """Apply the batch to the DuckDB copy and record the change rows
        the feed must show for version ``v``."""
        if v == self.head_v:
            return None if kind == "delete" else f"{kind} committed no new version"
        self.head_v = v
        if kind == "delete":
            where = f"{KEY} >= {payload[0]} AND {KEY} < {payload[1]}"
            gone = self.con.execute(f"SELECT * FROM snap WHERE {where}").df()
            self.con.execute(f"DELETE FROM snap WHERE {where}")
            self._changes(gone.to_dict("records"), "delete", v)
            return None if len(gone) else "delete committed a version but matched no rows"
        self.con.register("batch", payload)
        old = {}
        if kind == "merge":
            old_df = self.con.execute(f"SELECT s.* FROM snap s JOIN batch b USING ({KEY})").df()
            old = {row[KEY]: row for row in old_df.to_dict("records")}
            self.con.execute(f"DELETE FROM snap WHERE {KEY} IN (SELECT {KEY} FROM batch)")
        self.con.execute("INSERT INTO snap SELECT * FROM batch")
        self.con.unregister("batch")
        for row in payload.to_dict("records"):
            prev = old.get(row[KEY])
            if prev is None:
                self._changes([row], "insert", v)
            elif normalize([prev], self.cols) != normalize([row], self.cols):
                self._changes([row], "update_postimage", v)
        return None

    def _changes(self, rows, change: str, v: int) -> None:
        self.feed_want.extend(t + (change, str(v)) for t in normalize(rows, self.cols))

    # -- output checks ------------------------------------------------------
    def check_curation(self, name: str, rows) -> str | None:
        ids = set(self.words)
        if name == "exact_dedup":
            removed = ids - {x[0] for x in rows}
            return None if removed == set(self.exact) else f"removed {len(removed)}, planted {len(self.exact)}"
        if name == "minhash_lsh_pairs":
            found = {(min(a, b), max(a, b)) for a, b, _j in rows}
            recall = sum((min(a, b), max(a, b)) in found for a, b in self.near) / len(self.near)
            self.stats.update(pairs_found=len(found), planted_recall=recall)
            return None if recall >= RECALL_FLOOR else f"recall {recall:.3f} < {RECALL_FLOOR}"
        if name == "duplicate_clusters":
            return None if dict(rows) == _union_find(self.pairs_in) else "clusters differ from union-find"
        if name == "gopher_filter":
            want = {
                i for i, ws in self.words.items() if len(ws) >= 50 and len(set(ws) & set(whgen.STOPWORDS)) >= 2
            }
            kept = {x[0] for x in rows}
            return None if kept == want else f"kept {len(kept)}, expected {len(want)}"
        if name == "bm25_scores":
            want = {i for i, ws in self.words.items() if set(ws) & set(self.terms)}
            ok = {x[0] for x in rows} == want and len(rows) == len(want)
            return None if ok and all(math.isfinite(x[-1]) and x[-1] > 0 for x in rows) else "rows differ from term matches"
        n_tok = {i: len(ws) for i, ws in self.words.items()}
        if name == "dsir_logratio_scores":
            ok = {x[0]: x[1] for x in rows} == n_tok and len(rows) == len(n_tok)
            return None if ok and all(math.isfinite(x[2]) for x in rows) else "rows differ from the corpus"
        packs: dict[int, list[int]] = {}
        for doc, n, pack in rows:
            if n != n_tok.get(doc):
                return f"doc {doc} has {n} tokens, expected {n_tok.get(doc)}"
            packs.setdefault(pack, []).append(n)
        if sorted(x[0] for x in rows) != sorted(ids):
            return "not every document was assigned exactly once"
        bad = [p for p, ns in packs.items() if len(ns) > 1 and sum(ns) > PACK_BUDGET]
        return f"{len(bad)} packs over budget" if bad else None


def run(r: Run) -> dict:
    wh = Warehouse(r.seed, SF, N_DOCS, r.work)
    r.context["input"] = {
        "sf": SF,
        "rows": {k: len(v) for k, v in wh.tbls.items()},
        "table_bytes": wh.table_bytes,
        "documents": wh.n_docs,
        "documents_bytes": os.path.getsize(wh.docs_path),
        "planted_exact": len(wh.exact),
        "planted_near": len(wh.near),
    }
    r.mark("inputs")

    r.setup()
    spark, tr = r.spark, r.tracer
    reg = registry()
    wh.attach(spark)

    def collect(df):
        with tr.span("spark.collect"):
            rows = df.collect()
        tr.catalyst(df)
        return rows

    versions: dict[str, int] = {}  # table dir -> its latest version

    def ingest(tdir: str):
        """orders parquet -> a fresh version of the snapshot table at
        ``tdir`` (overwrite)."""

        def fn():
            with tr.span("io.write_snapshot"):
                return io.write_snapshot(io.read_parquet(spark, f"{wh.sf_dir}/orders.parquet"), tdir, mode="overwrite")

        def check(v):
            if v <= versions.get(tdir, -1):
                return f"overwrite committed version {v} after {versions[tdir]}"
            versions[tdir] = v
            n = io.read_at_version(spark, tdir).count()
            if n != len(wh.orders):
                return f"head has {n} rows, orders {len(wh.orders)}"
            if tdir == wh.tdir:
                wh.replay_ingest(v)
            return None

        return r.op("ingest", fn, check, record=False)[1]

    def op_fns(kind: str):
        """(timed call, output check) for one operation of ``kind``."""
        if kind in READS:

            def fn():
                with tr.span(f"queries.{kind}"):
                    df = reg[kind].fn(spark, wh.sf_dir)
                return df.columns, [x.asDict() for x in collect(df)]

            def check(res):
                want_cols, want = wh.expected[kind]
                if sorted(res[0]) != want_cols:
                    return f"columns {sorted(res[0])} != oracle {want_cols}"
                return None if normalize(res[1], want_cols) == want else "values differ from the DuckDB oracle"

            return fn, check

        if kind == "head_read":

            def fn():
                with tr.span("io.read_at_version"):
                    df = io.read_at_version(spark, wh.tdir)
                return [x.asDict() for x in collect(df)]

            def check(rows):
                want = normalize(wh.con.execute("SELECT * FROM snap").df().to_dict("records"), wh.cols)
                return None if normalize(rows, wh.cols) == want else "head differs from the DuckDB replay"

            return fn, check

        if kind in COMMITS:
            batch = {}

            def fn():
                batch["payload"] = wh.batches.next(kind)
                wh.n_commit += 1
                return commit(kind, batch["payload"])

            return fn, (lambda v: wh.replay(kind, batch["payload"], v))

        def fn():
            with tr.span(f"operators.{CURATION[kind]}.{kind}"):
                if kind == "exact_dedup":
                    df = dedup.exact_dedup(wh.D).select("doc_id")
                elif kind == "minhash_lsh_pairs":
                    df = dedup.minhash_lsh_pairs(wh.D)
                elif kind == "duplicate_clusters":
                    df = dedup.duplicate_clusters(wh.pairs_df)
                elif kind == "gopher_filter":
                    df = text.gopher_filter(wh.D).select("doc_id")
                elif kind == "bm25_scores":
                    df = text.bm25_scores(wh.D, wh.terms)
                elif kind == "dsir_logratio_scores":
                    df = text.dsir_logratio_scores(wh.D, wh.target)
                else:
                    df = packing.pack_sequences(wh.D, budget=PACK_BUDGET)
            return [tuple(x) for x in collect(df)]

        return fn, (lambda rows: wh.check_curation(kind, rows))

    def commit(kind: str, payload):
        ddir = os.path.join(wh.tdir, "data")
        before = set(os.listdir(ddir)) if tr.enabled else set()
        if kind == "delete":
            lo, hi = payload
            with tr.span("io.snapshot_delete"):
                v = io.snapshot_delete(spark, wh.tdir, (F.col(KEY) >= lo) & (F.col(KEY) < hi), prune=[(KEY, lo, hi - 1)])
        else:
            with tr.span("spark.create_dataframe"):
                batch = spark.createDataFrame(payload, schema=wh.schema)
            with tr.span(f"io.{'write_snapshot' if kind == 'append' else 'snapshot_merge'}"):
                if kind == "append":
                    v = io.write_snapshot(batch, wh.tdir, mode="append")
                else:
                    v = io.snapshot_merge(spark, wh.tdir, batch, [KEY])
        if tr.enabled:
            new = set(os.listdir(ddir)) - before
            wh.stats["files"].append(len(new))
            if kind != "delete":
                wh.stats["written"] += sum(os.path.getsize(os.path.join(ddir, f)) for f in new)
                wh.stats["user"] += int(payload.memory_usage(deep=True).sum())
        return v

    def release():
        if tr.enabled:
            jsc = spark.sparkContext._jsc.sc()
            wh.stats["rdds"].append(jsc.getPersistentRDDs().size())
            wh.stats["held"].append(sum(i.memSize() + i.diskSize() for i in jsc.getRDDStorageInfo()))
        with tr.span("operators._cache.release_operator_caches"):
            release_operator_caches()

    def run_kind(kind: str, record: bool = True):
        r.op(kind, *op_fns(kind), record=record)
        if kind in CURATION:
            release()

    ingest_s: list[float] = []

    def ingest_step(record: bool):
        dt = ingest(wh.idir)
        if dt is not None and record:
            ingest_s.append(dt)

    def steps(record: bool = True):
        """Every kind in a fixed order, an ingest after every
        ``INGEST_EVERY``-th, over and over."""
        i = 0
        while True:
            for kind in KINDS:
                yield kind, lambda kind=kind: run_kind(kind, record)
                i += 1
                if i % INGEST_EVERY == 0:
                    yield "ingest", lambda: ingest_step(record)

    # Cold, untimed: builds the commit stream's base version, and warms
    # the parquet and snapshot-write paths.
    ingest(wh.tdir)
    if wh.base_v is None:
        raise RuntimeError("no ingest succeeded; nothing to read or commit")
    r.mark("ingest")
    # One untimed pass of the stream primes every kind: its first
    # execution in the session (codegen, JIT, Python-worker start) varies
    # from run to run far more than the per-query fixed overhead every
    # later call pays (plan build, parquet footers, job scheduling),
    # which is what the stream measures. The ingests keep speeding up
    # over the same pass (0.4 s to 0.27 s).
    for _kind, fn in itertools.islice(steps(record=False), len(KINDS) + len(KINDS) // INGEST_EVERY):
        fn()
    r.mark("prime")
    lat = r.stream(KINDS, steps())

    def feed():
        with tr.span("io.read_version_changes"):
            df = io.read_version_changes(spark, wh.tdir, wh.base_v, key_cols=[KEY])
        return [x.asDict() for x in collect(df)]

    def check_feed(rows):
        got = normalize(rows, wh.cols + ["_change_type", "_commit_version"])
        want = sorted(wh.feed_want)
        return None if got == want else f"{len(got)} change rows, replay has {len(want)}"

    _rows, feed_s = r.op("change_feed", feed, check_feed, record=False)
    r.context["change_feed_s"] = feed_s
    r.context["commits"] = wh.n_commit
    if tr.enabled:
        for kind in TRACED_ONLY:
            run_kind(kind, record=False)
    metrics = r.end_to_end(ingest_s, lat)
    return traced(r, wh, metrics) if tr.enabled else metrics


def traced(r: Run, wh: Warehouse, e2e: dict) -> dict:
    """Per-layer metrics of the stream and the change feed, plus one
    profiled pack_sequences run."""
    tr = r.tracer
    out = traced_common(r, e2e)
    spans = [s for s in tr.spans if s["start"] >= r.marks["prime"]]

    def ms(name, parent_kinds=None):
        return [
            (s["end"] - s["start"]) * 1e3
            for s in spans
            if s["name"] == name and (parent_kinds is None or (s["op"] or "").split("#")[0] in parent_kinds)
        ]

    reads = [n for n in READS if n in KINDS]
    out["queries.build_ms"] = (median([d for n in reads for d in ms(f"queries.{n}")]), "ms")
    out["queries.exec_ms"] = (median(ms("spark.collect", reads)), "ms")
    for fn_name in ("write_snapshot", "snapshot_merge", "snapshot_delete", "read_at_version"):
        out[f"io.{fn_name}_ms"] = (median(ms(f"io.{fn_name}", KINDS)), "ms")
    out["io.files_rewritten_per_commit"] = (median(wh.stats["files"]), "count")
    out["io.bytes_written_per_user_byte"] = (wh.stats["written"] / max(wh.stats["user"], 1), "ratio")
    out["io.head_files"] = (io.snapshot_history(wh.tdir)[-1]["n_files"], "count")
    out["io.change_feed_build_ms"] = (median(ms("io.read_version_changes")), "ms")
    out["io.change_feed_exec_ms"] = (median(ms("spark.collect", ("change_feed",))), "ms")
    for kind, module in CURATION.items():  # the whole operation: call and collect
        out[f"operators.{module}.{kind}_ms"] = (median(ms(f"op.{kind}")), "ms")
    out["operators.dedup.pairs_found"] = (wh.stats.get("pairs_found", 0), "count")
    out["operators.dedup.planted_recall"] = (wh.stats.get("planted_recall", 0.0), "ratio")
    out["operators._cache.persistent_rdds_after_op"] = (median(wh.stats["rdds"]), "count")
    out["operators._cache.bytes_held_after_op"] = (median(wh.stats["held"]), "B")
    out["operators._cache.release_ms"] = (median(ms("operators._cache.release_operator_caches")), "ms")
    out["operators.packing.python_udf_ms"] = (python_udf_ms(r.spark, wh.D, r.work), "ms")
    return out


def python_udf_ms(spark, D, work: str) -> float:
    """Python-worker time of one pack_sequences run, from Spark's UDF
    profiler (a run of its own: the profiler perturbs timing)."""
    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    try:
        packing.pack_sequences(D, budget=PACK_BUDGET).collect()
        out = os.path.join(work, "udf-profile")
        spark.profile.dump(out, type="perf")
        return sum(pstats.Stats(f).total_tt for f in glob.glob(os.path.join(out, "*.pstats"))) * 1e3
    finally:
        spark.conf.unset("spark.sql.pyspark.udf.profiler")
        spark.profile.clear()
