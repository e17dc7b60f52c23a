"""Registry for operator-internal ``.cache()`` calls.

A few operators cache an intermediate that several branches of the
plan they return read. The registry holds STRONG references to those
frames, so they stay cached after the operator returns, while the
caller runs the returned plan. Whoever runs operators in a long-lived
session must call

    from bigdata_foundation_spark.operators import release_operator_caches
    release_operator_caches()

after collecting or writing their results; it unpersists every
registered frame and empties the registry. Nothing else releases them,
and it leaves the caller's own caches alone (unlike
``spark.catalog.clearCache()``).

A site stays only if it measured faster cached than uncached at the
benchmark's scale or at one larger point (interleaved pairs in one
session, caches released after every call; medians in seconds,
cached vs uncached, pairs where cached was faster):

    site                              small            large
    text.bigram_logprob_score base    1.34/1.16 3/7    11.93/13.64 7/7 (20k docs)
    text.dsir_logratio_scores base    0.85/1.02 5/7    2.63/4.43 7/7 (20k docs)
    text.dsir_logratio_scores feat    0.85/0.98 4/7    2.63/4.41 7/7 (20k docs)
    dedup.minhash_lsh_pairs tbl       0.92/1.66 7/7    2.01/3.78 7/7 (sf0.1)
    dedup.minhash_index_query ntbl    2.01/2.77 7/7    3.22/4.41 7/7 (sf0.1)
    dedup.minhash_index_query pruned  2.01/2.11 4/7    3.22/3.38 7/7 (sf0.1)
    dedup.ngram_jaccard_pairs g       1.04/1.36 7/7    3.86/4.66 7/7 (sf0.1)
    dedup.ngram_jaccard_pairs pref    1.04/1.43 7/7    3.86/4.59 7/7 (sf0.1)
    dedup.hash64_neardup_pairs base   0.64/1.13 7/7    1.52/1.64 6/7 (sf0.1)
    similarity.ivf_query q            0.89/1.06 6/7    2.47/2.77 7/7 (sf0.1)
    similarity.ivf_pq_query q         0.79/1.05 7/7    0.92/1.12 7/7 (sf0.1)
    graph.etl.node_similarity nbrs    1.21/1.54 6/7    5.90/6.64 7/7 (500² grid)
    graph.etl.node_similarity deg     1.21/1.32 4/7    5.90/7.04 7/7 (500² grid)

Small is the 600-document benchmark corpus, sf0.01, or the 160² road
grid. The two IVF query caches also keep the probed-cell collect and
the returned join reading the same rows when the incoming ``queries``
plan is nondeterministic, so they stay whatever the timing shows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_CACHED: list[DataFrame] = []


def tracked_cache(df: DataFrame) -> DataFrame:
    """``df.cache()`` + register for :func:`release_operator_caches`."""
    df.cache()
    _CACHED.append(df)
    return df


def release_operator_caches() -> int:
    """Unpersist every registered operator cache and empty the
    registry; returns the number released. Safe to call at any time —
    a plan that still reads a released cache simply recomputes it."""
    n = 0
    while _CACHED:
        try:
            _CACHED.pop().unpersist()
            n += 1
        except Exception:  # noqa: BLE001 — session may be gone
            pass
    return n
