"""Property-based tests (hypothesis) for operator semantics.

Pins the R6–R9 array-operator contracts (FIXTURES.md §3.4) and the
exactness of the prefix-filter similarity join against brute force on
arbitrary inputs — not just the fixtures we thought of.
"""

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from bigdata_foundation_spark.operators import relational as R
from bigdata_foundation_spark.operators.dedup import (
    jaccard,
    ngram_jaccard_pairs,
    normalize_text,
    word_ngrams,
)

_settings = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(xs=st.lists(st.floats(min_value=-1e6, max_value=1e6, allow_nan=False), max_size=12))
@_settings
def test_array_reduce_sum_matches_python(spark, xs):
    df = spark.createDataFrame([(xs,)], "arr array<double>")
    got = df.select(R.array_reduce_sum("arr").alias("s")).first()["s"]
    assert math.isclose(got, sum(xs), rel_tol=1e-9, abs_tol=1e-9)


@given(
    xs=st.lists(st.integers(min_value=-100, max_value=100), max_size=10),
    start=st.integers(min_value=0, max_value=10),
    length=st.integers(min_value=0, max_value=10),
)
@_settings
def test_array_slice_is_cypher_halfopen(spark, xs, start, length):
    """R7: Cypher [a..b] is 0-based half-open → slice(a, b-a)."""
    df = spark.createDataFrame([(xs,)], "arr array<int>")
    got = df.select(R.array_slice("arr", start, length).alias("s")).first()["s"]
    assert got == xs[start : start + length]


@given(
    texts=st.lists(
        st.text(alphabet="ab c", min_size=0, max_size=30),
        min_size=2,
        max_size=6,
    )
)
@_settings
def test_prefix_filter_join_is_exact(spark, texts):
    """The PPJoin-style candidate generation must lose nothing: its
    output equals brute-force all-pairs Jaccard on word 2-grams.
    Zero-token (empty/whitespace) docs are outside the operator's
    contract — they carry no n-grams and are excluded by design (r5
    guard) — so the brute side applies the same filter."""
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    t = 0.4
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, n=2, threshold=t).collect()
    }
    has_tokens = (
        F.size(F.filter(F.split(normalize_text("text"), " "), lambda x: x != "")) > 0
    )
    g = df.filter(has_tokens).select("doc_id", word_ngrams("text", 2).alias("g"))
    a = g.withColumnsRenamed({"doc_id": "ia", "g": "ga"})
    b = g.withColumnsRenamed({"doc_id": "ib", "g": "gb"})
    brute = {
        (r["ia"], r["ib"]): r["j"]
        for r in a.crossJoin(b)
        .filter(F.col("ia") < F.col("ib"))
        .withColumn("j", F.round(jaccard(F.col("ga"), F.col("gb")), 6))
        .filter(F.col("j") >= t)
        .collect()
    }
    assert got == brute


@given(
    group_vals=st.lists(
        st.tuples(st.integers(0, 3), st.integers(-50, 50)), min_size=1, max_size=20
    )
)
@_settings
def test_ordered_collect_deterministic(spark, group_vals):
    """R6: collect order must be explicit and deterministic regardless
    of input partitioning."""
    rows = [(g, i, v) for i, (g, v) in enumerate(group_vals)]
    df = spark.createDataFrame(rows, "grp int, ord int, val int")
    one = R.ordered_collect(df.repartition(1), ["grp"], "ord", "val").collect()
    many = R.ordered_collect(df.repartition(7), ["grp"], "ord", "val").collect()
    assert {r["grp"]: r["val_list"] for r in one} == {r["grp"]: r["val_list"] for r in many}


@given(
    left=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50)), min_size=1, max_size=15
    ),
    right=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50)), max_size=15, unique_by=lambda t: (t[0], t[1])
    ),
    strict=st.booleans(),
)
@_settings
def test_asof_join_matches_bruteforce(spark, left, right, strict):
    """asof_join == per-row brute-force: for each left row, the right
    row with the greatest ts <= (or <) left ts within the key."""
    ldf = spark.createDataFrame([(k, float(t)) for k, t in left], "k int, t double")
    rdf = spark.createDataFrame(
        [(k, float(t), f"v{k}_{t}") for k, t in right], "k int, t double, v string"
    )
    out = R.asof_join(ldf, rdf, on=["k"], left_ts="t", right_ts="t",
                      payload={"v": "v"}, strict=strict)
    got = {}
    for r in out.collect():
        got.setdefault((r["k"], r["t"]), []).append(r["v"])
    for k, t in left:
        t = float(t)
        cands = [(rt, v) for rk, rt, v in ((x[0], float(x[1]), f"v{x[0]}_{x[1]}") for x in right)
                 if rk == k and (rt < t if strict else rt <= t)]
        want = max(cands)[1] if cands else None
        assert want in got[(k, t)], (k, t, want, got)


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["alpha", "beta", "gamma", "", "delta d"]), min_size=0, max_size=6),
        min_size=1,
        max_size=8,
    ),
    min_count=st.integers(min_value=2, max_value=3),
)
@_settings
def test_line_dedup_matches_reference_model(spark, docs, min_count):
    """line_dedup == an independent pure-Python model of its contract
    on arbitrary small corpora: repeated (non-blank) lines survive only
    at their canonical (min doc_id, pos) occurrence; unique and blank
    lines survive everywhere; row count is preserved."""
    from bigdata_foundation_spark.operators.text import line_dedup

    rows = [(i, "\n".join(lines)) for i, lines in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["text"] for r in line_dedup(df, min_count=min_count).collect()}

    # reference model
    occurrences: dict[str, int] = {}
    first: dict[str, tuple[int, int]] = {}
    for i, lines in enumerate(rows):
        for pos, ln in enumerate(lines[1].split("\n")):
            occurrences[ln] = occurrences.get(ln, 0) + 1
            first.setdefault(ln, (i, pos))
    want = {}
    for i, text in rows:
        kept = [
            ln
            for pos, ln in enumerate(text.split("\n"))
            if ln == "" or occurrences[ln] < min_count or first[ln] == (i, pos)
        ]
        want[i] = "\n".join(kept)
    assert got == want


@given(
    toks=st.lists(st.integers(min_value=0, max_value=700), min_size=1, max_size=40),
    budget=st.sampled_from([64, 512]),
)
@_settings
def test_pack_sequences_invariants(spark, toks, budget):
    """Every document is packed exactly once, and no pack exceeds the
    budget unless it holds a single over-budget document."""
    from bigdata_foundation_spark.operators.packing import pack_sequences

    rows = [(i, " ".join("w" for _ in range(n)) if n else "") for i, n in enumerate(toks)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = pack_sequences(df, budget=budget).collect()
    assert sorted(r["doc_id"] for r in got) == list(range(len(toks)))
    packs: dict[int, list[int]] = {}
    for r in got:
        packs.setdefault(r["pack_id"], []).append(r["n_tokens"])
    for members in packs.values():
        assert sum(members) <= budget or len(members) == 1


@given(
    a=st.text(alphabet="abc d", max_size=60),
    b=st.text(alphabet="abc d", max_size=60),
    shared=st.text(alphabet="xyzw", min_size=10, max_size=30),
)
@_settings
def test_winnow_guarantee_property(a, b, shared):
    """The winnowing theorem (Schleimer 2003 §3), on the pure-Python
    replay: two documents sharing any substring of length >= w + k - 1
    share at least one fingerprint. Pure Python — the replay equals
    the engine by test_winnow_engine_matches_replay, so the property
    transfers. The planted passage's alphabet is disjoint from the
    fillers' and whitespace-free, so it survives normalization intact
    and any shared fingerprint provably has to come from somewhere."""
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from gen_pipeline_goldens import winnow

    k, w = 5, 4
    assert len(shared) >= w + k - 1
    fa = set(winnow(a + shared + a, k, w))
    fb = set(winnow(b + shared + b, k, w))
    assert fa & fb


# --- round-6 analytics kernels: pure-Python fuzz (no Spark) -----------------

_graph_edges = st.lists(
    st.tuples(st.integers(0, 14), st.integers(0, 14)),
    min_size=1,
    max_size=60,
)


def _proj_of(edges):
    from bigdata_foundation_spark.graph.kernel import Projection

    return Projection([(f"n{a:02d}", f"n{b:02d}", 1.0) for a, b in edges])


@given(edges=_graph_edges)
@settings(max_examples=60, deadline=None)
def test_wcc_kernel_matches_union_find(edges):
    """wcc_kernel (min-hook + pointer jumping) vs a naive union-find
    with explicit min-string labelling, on arbitrary small digraphs
    (self-loops, parallel edges, multiple components)."""
    from bigdata_foundation_spark.graph.kernel import wcc_kernel

    proj = _proj_of(edges)
    got = dict(wcc_kernel(proj))

    parent = {}

    def find(x):
        while parent.get(x, x) != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(f"n{a:02d}"), find(f"n{b:02d}")
        if ra != rb:
            parent[ra] = rb
    comps = {}
    for i in proj.ids:
        comps.setdefault(find(i), []).append(i)
    expect = {}
    for members in comps.values():
        m = min(members)
        for x in members:
            expect[x] = m
    assert got == expect


@given(edges=_graph_edges)
@settings(max_examples=60, deadline=None)
def test_scc_kernel_matches_naive_reachability(edges):
    """scc_kernel (iterative Tarjan) vs the definition: u,v share an
    SCC iff u reaches v AND v reaches u (brute transitive closure)."""
    from bigdata_foundation_spark.graph.kernel import scc_kernel

    proj = _proj_of(edges)
    got = dict(scc_kernel(proj))

    nodes = list(proj.ids)
    reach = {v: {v} for v in nodes}
    adj = {}
    for a, b in edges:
        adj.setdefault(f"n{a:02d}", set()).add(f"n{b:02d}")
    changed = True
    while changed:
        changed = False
        for v in nodes:
            new = set()
            for w in reach[v]:
                new |= adj.get(w, set())
            if not new <= reach[v]:
                reach[v] |= new
                changed = True
    expect = {}
    for v in nodes:
        members = [w for w in nodes if w in reach[v] and v in reach[w]]
        expect[v] = min(members)
    assert got == expect


@given(edges=_graph_edges)
@settings(max_examples=60, deadline=None)
def test_kcore_kernel_matches_naive_peeling(edges):
    """kcore_kernel (Batagelj–Zaveršnik buckets) vs definition-level
    peeling: repeatedly delete all nodes of degree < k; core(v) =
    largest k whose k-core contains v."""
    from bigdata_foundation_spark.graph.kernel import kcore_kernel

    proj = _proj_of(edges)
    got = dict(kcore_kernel(proj))

    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    nodes = sorted({x for e in und for x in e} | {a for a, b in edges} | {b for a, b in edges})
    expect = {}
    for v in nodes:
        k = 0
        while True:
            kk = k + 1
            alive = set(nodes)
            while True:
                deg = {u: 0 for u in alive}
                for a, b in und:
                    if a in alive and b in alive:
                        deg[a] += 1
                        deg[b] += 1
                drop = [u for u in alive if deg.get(u, 0) < kk]
                if not drop:
                    break
                alive -= set(drop)
            if v in alive:
                k = kk
            else:
                break
        expect[f"n{v:02d}"] = k
    assert got == expect


@given(edges=_graph_edges)
@settings(max_examples=40, deadline=None)
def test_pagerank_kernel_mass_and_replay(edges):
    """PageRank's kernel (ppr_kernel over every node): total mass == 1
    (uniform dangling redistribution), every rank >= (1-d)/n, and the
    values match a definition-level python power iteration to float
    tolerance."""
    from bigdata_foundation_spark.graph.kernel import ppr_kernel

    proj = _proj_of(edges)
    got = dict(ppr_kernel(proj, None, 0.85, 8))
    n = len(proj.ids)
    assert abs(sum(got.values()) - 1.0) < 1e-9
    assert all(v >= (1 - 0.85) / n - 1e-12 for v in got.values())

    outdeg = {}
    for a, _b in edges:
        outdeg[f"n{a:02d}"] = outdeg.get(f"n{a:02d}", 0) + 1
    r = {v: 1.0 / n for v in proj.ids}
    for _ in range(8):
        dangling = sum(rv for v, rv in r.items() if v not in outdeg)
        base = 0.15 / n + 0.85 * dangling / n
        contrib = {}
        for a, b in edges:
            sa, sb = f"n{a:02d}", f"n{b:02d}"
            contrib[sb] = contrib.get(sb, 0.0) + r[sa] / outdeg[sa]
        r = {v: base + 0.85 * contrib.get(v, 0.0) for v in proj.ids}
    for v in proj.ids:
        assert abs(got[v] - r[v]) < 1e-9, v


@given(edges=_graph_edges, iters=st.integers(1, 4))
@settings(max_examples=40, deadline=None)
def test_lpa_kernel_matches_naive_rounds(edges, iters):
    """lpa_kernel vs a definition-level synchronous vote loop
    (undirected both-ways votes, parallel edges each count, ties to
    the smallest STRING label, no-vote nodes keep theirs)."""
    from bigdata_foundation_spark.graph.kernel import lpa_kernel

    proj = _proj_of(edges)
    got = dict(lpa_kernel(proj, iters))

    und = []
    for a, b in edges:
        und.append((f"n{a:02d}", f"n{b:02d}"))
        und.append((f"n{b:02d}", f"n{a:02d}"))
    labels = {v: v for v in proj.ids}
    for _ in range(iters):
        votes = {}
        for a, b in und:
            votes.setdefault(a, {}).setdefault(labels[b], 0)
            votes[a][labels[b]] += 1
        new = {}
        for v in proj.ids:
            if v in votes:
                best = sorted(votes[v].items(), key=lambda t: (-t[1], t[0]))[0][0]
                new[v] = best
            else:
                new[v] = labels[v]
        labels = new
    assert got == labels


@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcd"), min_size=0, max_size=14),
        min_size=1,
        max_size=6,
    ),
    L=st.integers(min_value=2, max_value=5),
)
@_settings
def test_exact_substring_spans_matches_python_replay(spark, docs, L):
    """ExactSubstr against an independent pure-Python replay on
    arbitrary tiny-alphabet corpora (alphabet of 4 forces heavy gram
    collisions — the merge/split logic gets exercised hard, including
    self-repeats and cross-doc duplication)."""
    from collections import Counter

    from bigdata_foundation_spark.operators.dedup import exact_substring_spans

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    # Independent replay: count L-grams, find duplicated starts, merge
    # runs whose starts are <= L apart.
    grams = Counter()
    starts: dict[int, list[int]] = {}
    for i, toks in enumerate(docs):
        starts[i] = []
        for p in range(len(toks) - L + 1):
            grams[tuple(toks[p : p + L])] += 1
    for i, toks in enumerate(docs):
        for p in range(len(toks) - L + 1):
            if grams[tuple(toks[p : p + L])] > 1:
                starts[i].append(p)
    expect = []
    for i, ps in starts.items():
        run: list[int] = []
        for p in ps:
            if run and p - run[-1] <= L:
                run.append(p)
            else:
                if run:
                    expect.append((i, run[0], run[-1] + L, run[-1] + L - run[0]))
                run = [p]
        if run:
            expect.append((i, run[0], run[-1] + L, run[-1] + L - run[0]))

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r["doc_id"], r["span_start"], r["span_end"], r["span_len"])
        for r in exact_substring_spans(df, min_tokens=L).collect()
    )
    assert got == sorted(expect)


@given(
    edges=_graph_edges,
    parallel=st.sets(
        st.tuples(st.integers(0, 14), st.integers(0, 14)), max_size=4
    ),
)
@settings(max_examples=60, deadline=None)
def test_biconnectivity_kernel_matches_bruteforce(edges, parallel):
    """biconnectivity_kernel (iterative Tarjan low-link) vs the
    definitions, on arbitrary small multigraphs: an edge is a bridge
    iff deleting it disconnects its endpoints (and it is not a
    parallel physical pair); a node is an articulation point iff
    deleting it disconnects two of its neighbors."""
    from collections import deque

    from bigdata_foundation_spark.graph.kernel import biconnectivity_kernel

    proj = _proj_of(edges)
    ppairs = {
        (f"n{min(a,b):02d}", f"n{max(a,b):02d}") for a, b in parallel if a != b
    }
    got_b, got_a = biconnectivity_kernel(proj, ppairs)

    adj = {}
    for a, b in edges:
        if a == b:
            continue
        u, v = f"n{a:02d}", f"n{b:02d}"
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)

    def reaches(start, goal, banned_edge=None, banned_node=None):
        seen, dq = {start}, deque([start])
        while dq:
            x = dq.popleft()
            if x == goal:
                return True
            for y in adj.get(x, ()):
                if y in seen or y == banned_node:
                    continue
                if banned_edge and {x, y} == banned_edge:
                    continue
                seen.add(y)
                dq.append(y)
        return False

    want_b = sorted(
        (u, v)
        for u in adj
        for v in adj[u]
        if u < v and (u, v) not in ppairs and not reaches(u, v, banned_edge={u, v})
    )
    want_a = sorted(
        u
        for u in adj
        if len(adj[u]) >= 2
        and any(
            not reaches(sorted(adj[u])[0], x, banned_node=u)
            for x in sorted(adj[u])[1:]
        )
    )
    assert got_b == want_b
    assert got_a == want_a


@given(
    data=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),   # key
            # None included: a key whose open version has a NULL tracked
            # attribute must still be recognized as an EXISTING key
            # (new-key detection is version-based, not attr-based)
            st.sampled_from(["a", "b", "c", None]),  # attr
        ),
        min_size=1,
        max_size=14,
    ),
    cuts=st.lists(st.integers(min_value=1, max_value=13), max_size=2, unique=True),
)
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_scd2_apply_batch_folds_equal_batch(spark, data, cuts):
    """ANY ordered batch split of a changelog, folded through
    scd2_apply_batch, equals the one-shot batch scd2_history — the
    incremental-stitch contract on arbitrary (key, attr) sequences and
    arbitrary 1–3-way splits (extend / close / new-key / untouched
    paths all get generated)."""
    rows = [
        (i, f"2024-01-01 {i // 3600:02d}:{(i % 3600) // 60:02d}:{i % 60:02d}", k, a)
        for i, (k, a) in enumerate(data)
    ]
    schema = "event_id long, ts string, user_id long, event_type string"

    def mk(rws):
        return spark.createDataFrame(rws, schema).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )

    bounds = sorted({c for c in cuts if c < len(rows)})
    pieces, prev = [], 0
    for c in bounds + [len(rows)]:
        if c > prev:
            pieces.append(rows[prev:c])
            prev = c

    acc = None
    for piece in pieces:
        acc = R.scd2_apply_batch(
            acc, mk(piece), "user_id", "event_type", "ts", "event_id"
        )
        # materialize like the sink's parquet round-trip does
        acc = spark.createDataFrame(acc.collect(), acc.schema)

    want = R.scd2_history(mk(rows), "user_id", "event_type", "ts", "event_id")
    as_rows = lambda df: sorted(
        (r["user_id"], r["version"],
         "<NULL>" if r["event_type"] is None else r["event_type"],
         str(r["valid_from"]), str(r["valid_to"]), r["n_events"], r["is_current"])
        for r in df.collect()
    )
    assert as_rows(acc) == as_rows(want)


# ---------------------------------------------------------------------------
# numpy xxhash64 ports vs the INDEPENDENT pure-Python port (r10)
# ---------------------------------------------------------------------------

@given(
    data=st.lists(st.binary(min_size=0, max_size=80), min_size=1, max_size=40),
    seed=st.integers(min_value=0, max_value=2**63 - 1),
)
@settings(max_examples=60, deadline=None)
def test_nphash_matches_independent_port(data, seed):
    """The engine's vectorized xxhash64 ports (_nphash — used by the
    Arrow MinHash/SimHash kernels) and the golden generator's
    pure-Python port (tools/spark_hashes — used to mint the oracles)
    are INDEPENDENT implementations of the same published spec; this
    property pins them bit-equal on arbitrary byte strings, arbitrary
    64-bit values under arbitrary seeds, and the multi-arg fold —
    collapsing the remaining gap between kernel and oracle to the
    spec itself."""
    import os
    import sys

    import numpy as np

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    import spark_hashes as SH

    from bigdata_foundation_spark.operators import _nphash as NH

    # variable-length byte strings (grouped-by-length vector path)
    got = NH.hash_byte_strings(data).view(np.int64)
    want = [SH.xxh64_bytes(b, 42) for b in data]
    assert got.tolist() == want

    # 64-bit values under a non-default seed (scalar and vector seeds)
    vals = np.array(
        [SH.xxh64_bytes(b, 7) & ((1 << 64) - 1) for b in data], dtype=np.uint64
    )
    got_l = NH.xxh64_long(vals, seed).view(np.int64)
    want_l = [SH.xxh64_long(int(v), seed) for v in vals]
    assert got_l.tolist() == want_l

    # the seed-chained multi-arg fold (band keys)
    got_c = NH.xxh64_chain_longs([vals, vals[::-1].copy()]).view(np.int64)
    want_c = [
        SH.spark_xxhash64(int(np.int64(a)), int(np.int64(b)))
        for a, b in zip(vals, vals[::-1])
    ]
    assert got_c.tolist() == want_c

    # hashInt under vector seeds (the per-seed MinHash family step)
    got_i = NH.xxh64_int(seed % 97, vals).view(np.int64)
    want_i = [SH.xxh64_int(seed % 97, int(v)) for v in vals]
    assert got_i.tolist() == want_i
