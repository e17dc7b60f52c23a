"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design: every fuzzy variant is **candidate generation by
bucketing (LSH band / SimHash chunk / blocking key) → exact verify on
candidates only**. The cross-join never happens: at 100 TB the only
shuffles are (a) explode→groupBy on bucket keys and (b) the candidate
self-join, both keyed. Oversized buckets (degenerate text) are dropped
with a documented cap — the standard skew guard for LSH jockeys.

Everything is built-in expressions (xxhash64, array ops, bit ops) —
JVM-side, no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bigdata_foundation_spark._local import local_df

from bigdata_foundation_spark.operators._cache import tracked_cache


def spread(df: DataFrame, *key_cols: str) -> DataFrame:
    """Widen a narrow scan before a CPU-heavy per-row stage.

    A small parquet file arrives as 1–2 input splits, which would pin
    shingling/hashing to one core. Repartition up to the session's
    parallelism ONLY in that case — at production scale the scan
    already has thousands of splits and this is a no-op (no shuffle
    added). Hash-partitioning by ``key_cols`` keeps later groupBys on
    the same key shuffle-free under AQE."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target, *key_cols) if key_cols else df.repartition(target)
    return df


def normalize_text(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_replace(F.lower(c), r"\s+", " ")


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on normalized text: keep the lowest id per group.

    One hash-aggregate shuffle on the 64-bit fingerprint (not the full
    text — at scale you shuffle 8-byte keys, not documents), then a
    semi-join back to recover rows."""
    keyed = df.withColumn("_fp", F.xxhash64(normalize_text(text_col)))
    keepers = keyed.groupBy("_fp").agg(F.min(id_col).alias(id_col))
    return (
        keyed.join(keepers, ["_fp", id_col], "left_semi")
        .drop("_fp")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def char_shingles(text: Column | str, k: int = 5) -> Column:
    """Distinct character k-shingles of the normalized text.

    The normalized string is bound ONCE per row as a lambda variable
    (outer transform over a 1-element array) — referencing the
    normalization expression directly inside the per-shingle lambda
    would re-run the regex for every shingle (~400× per document; this
    exact pitfall cost 15s of a 30s pipeline before the rewrite).

    A split-to-char-array + array_join(slice) formulation was measured
    steady-state EQUAL to substring (UTF8String has an ASCII fast
    path; early "6.5×" reading was JIT warm-up bias) — keep the
    simpler substring form."""

    def inner(t: Column) -> Column:
        n = F.greatest(F.length(t) - F.lit(k - 1), F.lit(1))
        return F.array_distinct(
            F.transform(F.sequence(F.lit(1), n), lambda i: F.substring(t, i, k))
        )

    return F.transform(F.array(normalize_text(text)), inner)[0]


def word_ngrams(text: Column | str, n: int = 3, distinct: bool = True) -> Column:
    """Word n-grams (joined by single spaces), distinct by default.
    Token array bound once per row (see char_shingles note)."""

    def inner(toks: Column) -> Column:
        cnt = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
        grams = F.transform(
            F.sequence(F.lit(1), cnt),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
        return F.array_distinct(grams) if distinct else grams

    toks0 = F.filter(F.split(normalize_text(text), " "), lambda t: t != "")
    return F.transform(F.array(toks0), inner)[0]


def minhash_signature(shingle_col: Column, num_hashes: int = 64) -> Column:
    """MinHash signature as an array column: per hash function i, min
    over shingles of xxhash64(shingle, i). Estimates Jaccard via
    agreement rate (Broder 1997). Fine for ad-hoc use; the LSH
    pipeline uses ``minhash_signature_table`` (explode + one hash
    aggregate), which codegens and scales."""
    return F.array(
        *[
            F.array_min(F.transform(shingle_col, lambda s, i=i: F.xxhash64(s, F.lit(i))))
            for i in range(num_hashes)
        ]
    )


def minhash_signature_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_k: int = 5,
) -> DataFrame:
    """MinHash signatures as ``num_hashes`` narrow columns, computed by
    the Arrow numpy kernel (r10) — shingling, hashing and the per-seed
    minima fuse into ONE mapInPandas pass with NO explode and NO
    aggregate shuffle. Returns (id, _h0.._hN), bit-identical to the
    retained expression form (:func:`_minhash_signature_table_jvm`,
    the pytest cross-oracle)."""
    tbl = _minhash_doc_table(df, text_col, id_col, num_hashes, 0, shingle_k)
    return tbl.select(
        id_col, *[F.col("_sig")[i].alias(f"_h{i}") for i in range(num_hashes)]
    )


def _minhash_signature_table_jvm(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_k: int = 5,
) -> DataFrame:
    """The retained JVM expression form (explode → single hash
    aggregate, map-side-combined mins, whole-stage codegen) — r10's
    cross-oracle for the Arrow kernel, and the shape to fall back to
    if Python workers are unavailable. Returns (id, _h0.._hN)."""
    base = shingle_hash_table(df, text_col, id_col, shingle_k)
    fam = _minhash_family(num_hashes)
    return base.groupBy(id_col).agg(
        *[F.min(fam[i]).alias(f"_h{i}") for i in range(num_hashes)]
    )


def _minhash_doc_table(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    bands: int,
    shingle_k: int,
    with_shingles: bool = False,
) -> DataFrame:
    """The r10 fused MinHash kernel: ONE Arrow ``mapInPandas`` pass
    over (id, text) emitting per document

      ``_sig``   — the ``num_hashes``-long signature,
      ``_bands`` — the ``bands`` band bucket keys (position = band id,
                   bit-identical to :func:`_banded_keys`'s fold),
      ``_sh``    — (optional) the sorted distinct shingle-hash set the
                   exact-Jaccard verifier compares.

    vs the r5–r9 expression pipeline (shingle explode → xxhash64 →
    64-min hash aggregate): no explode, no aggregate Exchange — the
    shuffle that carried (id, shingle-hash) pairs is gone entirely,
    and the per-shingle 64-seed hash family runs as vectorized numpy
    (bit-exact ports in ``_nphash``) instead of 64 codegen'd
    expressions per exploded row. Partitioning is preserved; documents
    never leave their scan task. A None text emits NO row (the
    explode-of-null contract). Integer domain throughout — the golden
    replay (tools/gen_pipeline_goldens.py) was already arithmetic-
    identical, and regeneration after this migration was verified
    byte-identical (ORACLES_r10.md)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    from bigdata_foundation_spark.operators import _nphash as NH

    id_dt = df.schema[id_col].dataType
    fields = [
        T.StructField(id_col, id_dt),
        T.StructField("_sig", T.ArrayType(T.LongType())),
    ]
    if bands > 0:
        # bands=0 callers (the signature-only table) skip the band-key
        # fold entirely (r10 self-review: a discarded 64-step chain per
        # doc is not free)
        fields.append(T.StructField("_bands", T.ArrayType(T.LongType())))
    if with_shingles:
        fields.append(T.StructField("_sh", T.ArrayType(T.LongType())))
    schema = T.StructType(fields)

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            texts = pdf[text_col].tolist()
            keep, h_flat, offsets = NH.doc_shingle_hashes(texts, shingle_k)
            if not keep:
                continue
            sig = NH.minhash_from_shingles(h_flat, offsets, num_hashes)
            out = {
                id_col: pdf[id_col].to_numpy()[keep],
                "_sig": [r.tolist() for r in sig],
            }
            if bands > 0:
                bkeys = NH.band_keys(sig, bands)
                out["_bands"] = [r.tolist() for r in bkeys]
            if with_shingles:
                signed = h_flat.view(np.int64)
                ends = np.append(offsets[1:], len(h_flat))
                out["_sh"] = [
                    np.unique(signed[s:e]).tolist() for s, e in zip(offsets, ends)
                ]
            yield pd.DataFrame(out)

    return spread(df.select(id_col, text_col), id_col).mapInPandas(gen, schema)


def shingle_hash_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
) -> DataFrame:
    """(id, _h): 64-bit hash per distinct character shingle.

    Hash each shingle string ONCE here; the signature aggregate then
    derives the per-seed hash family from the 64-bit value (int
    mul-adds are far cheaper than per-seed string hashes), and
    the exact-Jaccard verifier compares these hashes instead of
    re-shingling the text (exact up to 64-bit collisions).

    NULL text yields NO rows — made explicit in r10: without the
    filter, ``greatest(length(NULL) - 4, 1)`` folds to 1 and the doc
    got one NULL shingle whose xxhash64 degenerates to the bare seed
    (42), i.e. every null-text doc silently fingerprinted identical.
    The Arrow kernel (``_nphash.doc_shingle_hashes``) and this form
    now share the drop-nulls contract (cross-oracle-pinned)."""
    return spread(df, id_col).filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.explode(char_shingles(text_col, shingle_k)).alias("_s"),
    ).select(id_col, F.xxhash64("_s").alias("_h"))


def _minhash_family(num_hashes: int) -> list[Column]:
    """Per-seed hash family over the shingle's 64-bit hash ``_h``:
    h_i = xxhash64(_h, i). Integer re-hashes are cheap (<2ns each,
    fully codegen'd) and each seed is an independent permutation-like
    map — a double-hashing shortcut (h1 + i·h2) was tried and REVERTED:
    its per-seed argmins correlate (the min shingle is driven by h2
    alone for large i), which wrecks both the banding recall and the
    agreement estimator."""
    return [F.xxhash64("_h", F.lit(i)) for i in range(num_hashes)]


def minhash_jaccard_est(sig_a: Column, sig_b: Column, num_hashes: int = 64) -> Column:
    agree = F.size(F.filter(F.zip_with(sig_a, sig_b, lambda a, b: a == b), lambda x: x))
    return agree / F.lit(float(num_hashes))


def jaccard(set_a: Column, set_b: Column) -> Column:
    """Exact Jaccard of two distinct-element arrays."""
    inter = F.size(F.array_intersect(set_a, set_b))
    union = F.size(F.array_union(set_a, set_b))
    return inter / F.greatest(union, F.lit(1))


def _bucket_pairs(
    buckets: DataFrame,
    id_col: str,
    bucket_cols: list[str],
    max_bucket: int,
) -> DataFrame:
    """Distinct candidate id pairs (a < b) co-located in any bucket.

    Buckets larger than ``max_bucket`` are dropped (quadratic guard —
    degenerate keys otherwise explode the pair generation; this is
    LSH's skew-salting analog and a documented recall trade).

    Shape: ONE shuffle on the bucket key. A windowed count over the
    (band, key) partitioning computes every bucket's size without a
    second exchange (the window buffers rows in a spilling external
    sorter, so a degenerate multi-million-row bucket is disk-bounded,
    not memory-bounded), the size filter then drops oversized buckets
    BEFORE any per-bucket state accumulates, and the following
    collect_set aggregate reuses the window's hash partitioning (no
    new exchange — its state is bounded at ``max_bucket`` ids per
    group by the filter). Ids are unique within a bucket for every
    caller, so set size IS bucket size. Pairs then come from JVM-side
    explosion over the sorted id array (a < b falls out of the sort)
    → one distinct shuffle on 16-byte pairs. The earlier two-pass
    form (count aggregate → broadcast anti-join → collect_set
    aggregate) produced the same rows with two extra exchanges and a
    second pass over the postings."""
    w = Window.partitionBy(*bucket_cols)
    grouped = (
        buckets.withColumn("_bsize", F.count("*").over(w))
        .filter((F.col("_bsize") >= 2) & (F.col("_bsize") <= max_bucket))
        .groupBy(*bucket_cols)
        .agg(F.sort_array(F.collect_set(id_col)).alias("_ids"))
    )
    return (
        grouped.select(
            F.explode(
                F.flatten(
                    F.transform(
                        "_ids",
                        lambda x, i: F.transform(
                            F.slice("_ids", i + F.lit(2), F.size("_ids")),
                            lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def _bucket_pairs_est(
    buckets: DataFrame,
    id_col: str,
    bucket_cols: list[str],
    max_bucket: int,
    num_hashes: int,
    est_floor: float,
) -> DataFrame:
    """Candidate pairs with the signature-agreement prune FUSED into
    pair generation (r11 — the r10 verdict's minhash task): ``buckets``
    carries ``_sig`` beside the id, the per-bucket explode emits each
    pair WITH its agreement count, and the estimate filter runs
    scan-side on the exploded rows — so the ``distinct`` exchange and
    everything downstream (the exact-Jaccard verify joins) only ever
    see est-survivors, instead of distinct-ing ~300× over-generated
    raw candidates and joining signatures back post-hoc (the r5–r10
    shape: two extra joins, a candidate cache, and a semi-join).

    The trade, named: the one bucket-key exchange now carries
    ``bands × num_hashes`` longs per doc instead of bare keys (~16×
    the shuffle bytes at the default 64/16). What it buys: the
    raw-candidate ``distinct`` (the pair multiset is bands-fold
    over-generated AND ~300×/true-pair on clustered corpora) and two
    signature joins over that multiset disappear. ``max_bucket`` still
    bounds per-bucket state BEFORE the aggregate accumulates, so the
    window's spilling sort is the only place degenerate keys park
    their (now wider) rows. Estimate arithmetic is bit-identical to
    :func:`minhash_jaccard_est` (double division, same comparison),
    so the surviving pair set — and the golden — is unchanged."""
    w = Window.partitionBy(*bucket_cols)
    grouped = (
        buckets.withColumn("_bsize", F.count("*").over(w))
        .filter((F.col("_bsize") >= 2) & (F.col("_bsize") <= max_bucket))
        .groupBy(*bucket_cols)
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col(id_col).alias("i"), F.col("_sig").alias("s")))
            ).alias("_rows")
        )
    )
    agree = lambda x, y: F.size(  # noqa: E731
        F.filter(F.zip_with(x["s"], y["s"], lambda a, b: a == b), lambda v: v)
    )
    pairs = grouped.select(
        F.explode(
            F.flatten(
                F.transform(
                    "_rows",
                    lambda x, i: F.transform(
                        F.slice("_rows", i + F.lit(2), F.size("_rows")),
                        lambda y: F.struct(
                            x["i"].alias("id_a"),
                            y["i"].alias("id_b"),
                            agree(x, y).alias("_agree"),
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.id_a", "p.id_b", "p._agree")
    return (
        pairs.filter(
            (F.col("id_a") != F.col("id_b"))
            # collect_list (unlike the old _bucket_pairs' collect_set)
            # would pair a duplicate id with itself at agree ==
            # num_hashes; callers guarantee id-uniqueness per bucket,
            # but the invariant is one scan-side comparison to keep
            # (r11 review finding)
            & (F.col("_agree") / F.lit(float(num_hashes)) >= F.lit(est_floor))
        )
        .select("id_a", "id_b")
        .distinct()
    )


def bucket_drop_stats(
    buckets: DataFrame,
    bucket_cols: list[str],
    max_bucket: int,
) -> DataFrame:
    """One-row metric frame for the `_bucket_pairs` skew guard:
    (n_buckets, n_dropped, rows_dropped). Run it on the same bucket
    pieces a candidate-generation pass uses to SEE what the
    ``max_bucket`` cap silently removed — at near-dup thresholds drops
    should be rare degenerate keys; if rows_dropped is a material
    fraction of the corpus the banding is too coarse for the data
    (round-3 advice: surface the drop, don't just guard it)."""
    sizes = buckets.groupBy(*bucket_cols).agg(F.count("*").alias("_bsize"))
    return sizes.agg(
        F.count("*").alias("n_buckets"),
        F.coalesce(
            F.sum((F.col("_bsize") > max_bucket).cast("long")), F.lit(0)
        ).alias("n_dropped"),
        F.coalesce(
            F.sum(F.when(F.col("_bsize") > max_bucket, F.col("_bsize")).otherwise(0)),
            F.lit(0),
        ).alias("rows_dropped"),
    )


def _banded_keys(
    sig: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """(id, band, key): one 64-bit bucket key per band, hashing the
    band's signature slice with the multi-arg (seed-chained) xxhash64
    — shared by the batch pipeline and the persisted index so their
    keys are bit-identical."""
    rows_per_band = num_hashes // bands
    return sig.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.xxhash64(
                            *[
                                F.col("_sig")[j]
                                for j in range(i * rows_per_band, (i + 1) * rows_per_band)
                            ]
                        ).alias("key"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("b"),
    ).select(id_col, F.col("b.band").alias("band"), F.col("b.key").alias("key"))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    threshold: float = 0.7,
    max_bucket: int = 1000,
    block_cols: list[str] | None = None,
) -> DataFrame:
    """Near-duplicate pairs by MinHash banding, verified with exact
    Jaccard on the shingle sets.

    ``block_cols`` adds equality blocking (e.g. language): bucket keys
    gain the block columns, so candidates — and therefore pairs —
    never cross blocks, and a block mismatch also shrinks the
    degenerate-bucket groups the cap guards. The block values ride a
    narrow (id, blocks) join onto the banded keys (16 rows/doc), never
    the shingle explosion.

    Returns (id_a, id_b, jaccard) with jaccard >= threshold, id_a <
    id_b. Pipeline (r11): ONE fused Arrow kernel pass over the corpus
    (:func:`_minhash_doc_table` — signature + band keys + shingle-hash
    set per doc, no explode, no aggregate shuffle; cached, one narrow
    row per doc) → explode the 16 band keys WITH the signature →
    bucket-join candidates with the agreement estimate computed AT
    pair-generation time (:func:`_bucket_pairs_est` — the r10
    verdict's fusion: the distinct and everything downstream see only
    est-survivors; the r10 shape distinct-ed the raw multiset and
    joined signatures back post-hoc) → exact-Jaccard verify on the
    kernel's shingle-hash sets.

    Banding with r=4 over-generates mid-Jaccard candidates (~300× the
    true pairs on a clustered corpus), so candidates are pruned by the
    MinHash agreement estimate BEFORE the exact verify: the prune
    threshold sits 0.15 below ``threshold``, where the estimator's
    false-negative probability (Binomial(64, J) tail) is far below the
    banding miss rate itself — the output contract (exact Jaccard on
    survivors, up to 64-bit hash collisions) is unchanged.

    Join strategies are left to AQE: at gate scale the survivor/
    shingle joins broadcast from runtime stats; at corpus scale the
    same plan degrades to keyed shuffles, which is the correct 100 TB
    shape. The cached kernel row carries the shingle-hash SET (≈ the
    text's size in longs) — those bytes ride only the two verify
    joins, never the band exchange; the band exchange instead carries
    the 64-long signature per (doc, band), the measured-cheaper side
    of the trade (see _bucket_pairs_est)."""
    tbl = tracked_cache(
        _minhash_doc_table(
            df, text_col, id_col, num_hashes, bands, shingle_k, with_shingles=True
        )
    )
    banded = tbl.select(id_col, "_sig", F.posexplode("_bands").alias("band", "key"))

    blocks = list(block_cols or [])
    if blocks:
        banded = banded.join(df.select(id_col, *blocks), id_col)

    cand = _bucket_pairs_est(
        banded,
        id_col,
        ["band", "key", *blocks],
        max_bucket,
        num_hashes,
        max(threshold - 0.15, 0.0),
    )

    # Exact verify from the kernel's sorted hash sets: set
    # intersection/union on long arrays — no second pass over the
    # text, no collect_set aggregate (the kernel already emitted the
    # per-doc set). The r10 cand-id semi-join prune of sh is gone for
    # good: at sf1 two thirds of all docs appear in some survivor, so
    # the prune saved nothing (measured r11: 1.6s semi vs 1.3s full).
    sh = tbl.select(id_col, "_sh")
    return (
        cand.join(sh.withColumnsRenamed({id_col: "id_a", "_sh": "_sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({id_col: "id_b", "_sh": "_sh_b"}), "id_b")
        .withColumn("jaccard", F.round(jaccard(F.col("_sh_a"), F.col("_sh_b")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_index_build(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
) -> None:
    """Persist the corpus's MinHash-LSH index for INCREMENTAL dedup —
    the production-ingest shape: the reference corpus is shingled,
    signed and banded ONCE, and each new batch dedups against it by
    probing the stored buckets instead of re-processing the corpus
    (``minhash_index_query``). Mirrors ``ivf_build``/``ivf_query``.

    Layout under ``path``: ``bands/`` (id, band, key — the bucket
    postings, APPEND-ONLY), ``signatures/`` (id, _sig — for the
    agreement prune, append-only), ``shingles/`` (id, _h — for the
    exact-Jaccard verify, append-only), ``bucket_sizes/`` (band, key,
    _bsize — the degenerate-bucket guard's sizes, REWRITTEN by
    :func:`minhash_index_append` as an O(#buckets) merge that never
    touches document text), ``meta/`` (the parameters; queries and
    appends must band identically to probe correctly)."""
    spark = df.sparkSession
    tbl = _minhash_doc_table(
        df, text_col, id_col, num_hashes, bands, shingle_k, with_shingles=True
    ).cache()
    try:
        # One kernel pass feeds all three tables (r10): the postings
        # are the kernel's per-doc hash set exploded back to rows —
        # same layout the query path's verify join reads.
        tbl.select(id_col, F.explode("_sh").alias("_h")).write.mode(
            "overwrite"
        ).parquet(path + "/shingles")
        tbl.select(id_col, "_sig").write.mode("overwrite").parquet(path + "/signatures")
        # Bucket sizes are precomputed at build (and merged at
        # append) into their own small table, so a query's
        # degenerate-bucket guard never aggregates over the whole
        # postings scan per batch.
        banded = tbl.select(id_col, F.posexplode("_bands").alias("band", "key"))
        banded.write.mode("overwrite").parquet(path + "/bands")
        banded.groupBy("band", "key").agg(
            F.count("*").alias("_bsize")
        ).write.mode("overwrite").parquet(path + "/bucket_sizes")
    finally:
        tbl.unpersist()
    local_df(
        spark,
        [(num_hashes, bands, shingle_k, id_col)],
        "num_hashes int, bands int, shingle_k int, id_col string",
    ).coalesce(1).write.mode("overwrite").parquet(path + "/meta")


def minhash_index_append(
    spark,
    path: str,
    df: DataFrame,
    text_col: str = "text",
) -> None:
    """Fold a NEW batch into a ``minhash_index_build`` index WITHOUT
    re-processing the stored corpus — the missing half of production
    ingest (batch N dedups against the corpus via
    :func:`minhash_index_query`, then *joins* it here; before this
    existed, that meant a full index rebuild per batch, re-shingling
    everything the index exists to avoid).

    Only the new batch is shingled/signed/banded (params from the
    index metadata, so its bucket keys are bit-identical to build
    time); its rows are APPENDED to ``shingles/``, ``signatures/``
    and ``bands/``, and ``bucket_sizes/`` is refreshed by merging the
    stored sizes with the batch's per-bucket counts — an O(#buckets)
    read+write of 20-byte rows, never a pass over stored text or
    shingles. CONTRACT: batch ids must be disjoint from ids already
    in the index (same uniqueness contract as the one-shot pipeline).

    After append, ``minhash_index_build(a, p)`` +
    ``minhash_index_append(p, b)`` is row-identical to
    ``minhash_index_build(a UNION b, p)`` (pinned by
    ``test_minhash_index_append``)."""
    meta = spark.read.parquet(path + "/meta").head()
    num_hashes, bands, shingle_k = int(meta[0]), int(meta[1]), int(meta[2])
    id_col = str(meta[3])

    tbl = _minhash_doc_table(
        df, text_col, id_col, num_hashes, bands, shingle_k, with_shingles=True
    ).cache()
    try:
        tbl.select(id_col, F.explode("_sh").alias("_h")).write.mode(
            "append"
        ).parquet(path + "/shingles")
        tbl.select(id_col, "_sig").write.mode("append").parquet(path + "/signatures")
        banded = tbl.select(id_col, F.posexplode("_bands").alias("band", "key"))
        banded.write.mode("append").parquet(path + "/bands")
        # Incremental size merge: old sizes ∪ batch counts → sum.
        # localCheckpoint materializes the merge BEFORE the
        # overwrite so the write never reads the directory it is
        # replacing.
        batch_sizes = banded.groupBy("band", "key").agg(
            F.count("*").alias("_bsize")
        )
        merged = (
            spark.read.parquet(path + "/bucket_sizes")
            .unionByName(batch_sizes)
            .groupBy("band", "key")
            .agg(F.sum("_bsize").alias("_bsize"))
            .localCheckpoint()
        )
        merged.write.mode("overwrite").parquet(path + "/bucket_sizes")
    finally:
        tbl.unpersist()


def minhash_index_compact(spark, path: str, target_file_mb: int = 512) -> dict[str, int]:
    """Compact a ``minhash_index_build`` index after many appends.

    Every ``minhash_index_append`` adds one file set per batch to the
    append-only tables, so a long-lived ingest index fragments into
    thousands of small files — the classic listing-storm failure mode
    at 100 TB (same rationale as ``io.compact``, which this reuses per
    table). Queries before and after compaction are row-identical (the
    tables are unordered relations; only the file layout changes).
    Returns {table: new_file_count}."""
    from bigdata_foundation_spark.io import compact

    return {
        sub: compact(spark, f"{path}/{sub}", target_file_mb=target_file_mb)
        for sub in ("shingles", "signatures", "bands", "bucket_sizes")
    }


def minhash_index_query(
    spark,
    path: str,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-duplicates of a NEW batch against a ``minhash_index_build``
    index: (query_id, index_id, jaccard) with exact Jaccard >=
    ``threshold``. Only the new batch is shingled/signed; the stored
    corpus contributes via keyed joins on its persisted tables —
    banding params come from the index metadata so bucket keys are
    bit-identical to build time.

    Scale shape: bucket probe = one join on (band, key); the
    degenerate-key guard drops buckets whose COMBINED index+query
    size exceeds ``max_bucket`` — exactly the batch pipeline's
    union-count cap, computed from the precomputed ``bucket_sizes/``
    table plus a counts aggregate over the (small) query batch, never
    an aggregation pass over the stored postings. The few oversized
    keys are removed from both sides with broadcast anti-joins.
    Agreement prune and verify read only the candidate ids' rows
    (semi-join pushdown into the index scan). This returns exactly
    the cross-batch subset of ``minhash_lsh_pairs`` on the union —
    including when caps trigger (pinned by
    ``test_minhash_index_cross_batch``)."""
    meta = spark.read.parquet(path + "/meta").head()
    num_hashes, bands, shingle_k = int(meta[0]), int(meta[1]), int(meta[2])
    idx_id = str(meta[3])

    ntbl = tracked_cache(
        _minhash_doc_table(
            df, text_col, id_col, num_hashes, bands, shingle_k, with_shingles=True
        )
    )
    nsig = ntbl.select(id_col, "_sig")
    nbanded = ntbl.select(id_col, F.posexplode("_bands").alias("band", "key"))

    # Union-size cap: total bucket size = stored size (precomputed at
    # build/append) + this batch's count. Oversized keys are few by
    # construction — both anti-joins broadcast.
    qsizes = nbanded.groupBy("band", "key").agg(F.count("*").alias("_qsize"))
    oversized = (
        spark.read.parquet(path + "/bucket_sizes")
        .join(qsizes, ["band", "key"], "full_outer")
        .filter(
            F.coalesce(F.col("_bsize"), F.lit(0)) + F.coalesce(F.col("_qsize"), F.lit(0))
            > max_bucket
        )
        .select("band", "key")
    )
    kept = spark.read.parquet(path + "/bands").join(
        oversized, ["band", "key"], "left_anti"
    )
    cand = (
        nbanded.join(oversized, ["band", "key"], "left_anti")
        .withColumnRenamed(id_col, "query_id")
        .join(kept.withColumnRenamed(idx_id, "index_id"), ["band", "key"])
        .select("query_id", "index_id")
        .distinct()
    )

    ssig = spark.read.parquet(path + "/signatures")
    est = minhash_jaccard_est(F.col("_sig_q"), F.col("_sig_i"), num_hashes)
    pruned = tracked_cache(
        cand.join(nsig.withColumnsRenamed({id_col: "query_id", "_sig": "_sig_q"}), "query_id")
        .join(ssig.withColumnsRenamed({idx_id: "index_id", "_sig": "_sig_i"}), "index_id")
        .filter(est >= F.lit(max(threshold - 0.15, 0.0)))
        .select("query_id", "index_id")
    )

    q_ids = pruned.select(F.col("query_id").alias(id_col)).distinct()
    i_ids = pruned.select(F.col("index_id").alias(idx_id)).distinct()
    qsh = ntbl.select(id_col, "_sh").join(q_ids, id_col, "left_semi")
    ish = (
        spark.read.parquet(path + "/shingles")
        .join(i_ids, idx_id, "left_semi")
        .groupBy(idx_id)
        .agg(F.sort_array(F.collect_set("_h")).alias("_sh"))
    )
    return (
        pruned.join(qsh.withColumnsRenamed({id_col: "query_id", "_sh": "_sh_q"}), "query_id")
        .join(ish.withColumnsRenamed({idx_id: "index_id", "_sh": "_sh_i"}), "index_id")
        .withColumn("jaccard", F.round(jaccard(F.col("_sh_q"), F.col("_sh_i")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("query_id", "index_id", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    block_cols: list[str] | None = None,
) -> DataFrame:
    """EXACT word-n-gram Jaccard similarity join (every pair with
    J >= threshold), via prefix filtering — the PPJoin family
    (Xiao et al. 2008), all lossless:

    1. order each doc's gram set rarest-first (global doc-frequency);
    2. a pair with J >= t must share a gram within each other's first
       ``(1-t)·|g| + 1`` grams (prefix-filter theorem), so candidates
       come from a bucket join on prefix grams only — rare-first
       ordering keeps those buckets small;
    3. lossless size bound (J <= min/max of set sizes) prunes cheap;
    4. exact Jaccard verify on survivors.

    The full cross join never happens; every stage is a keyed
    shuffle/join. ``block_cols`` adds equality constraints (e.g.
    language).

    Zero-token documents (null / empty / whitespace-only text) are
    EXCLUDED: they carry no n-grams, and without this guard they all
    share the degenerate empty gram and pair with each other at
    jaccard 1.0 — exact dedup is the operator for contentless rows."""
    blocks = list(block_cols or [])
    has_tokens = (
        F.size(F.filter(F.split(normalize_text(text_col), " "), lambda t: t != "")) > 0
    )
    g = spread(df, id_col).filter(has_tokens).select(
        F.col(id_col), *blocks, word_ngrams(text_col, n).alias("_g")
    ).withColumn("_sz", F.size("_g"))
    g = tracked_cache(g)

    grams = g.select(F.col(id_col), F.explode("_g").alias("_gram"))
    dfreq = grams.groupBy("_gram").agg(F.count("*").alias("_df"))
    ordered = (
        grams.join(dfreq, "_gram")
        .groupBy(id_col)
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("_df", "_gram"))), lambda s: s["_gram"]
            ).alias("_sorted")
        )
    )
    prefix_len = (F.lit(1.0 - threshold) * F.col("_sz")).cast("int") + F.lit(1)
    # cached: both sides of the candidate self-join read it, and its
    # lineage holds the doc-frequency join + sort
    pref = (
        ordered.join(g.select(F.col(id_col), *blocks, "_sz"), id_col)
        .select(
            F.col(id_col),
            *blocks,
            F.explode(F.slice("_sorted", F.lit(1), prefix_len)).alias("_gram"),
        )
    )
    pref = tracked_cache(pref)
    a = pref.withColumnRenamed(id_col, "id_a")
    b = pref.withColumnRenamed(id_col, "id_b")
    cand = (
        a.join(b, ["_gram", *blocks])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )

    ga = g.select(F.col(id_col).alias("id_a"), F.col("_g").alias("_g_a"), F.col("_sz").alias("_sz_a"))
    gb = g.select(F.col(id_col).alias("id_b"), F.col("_g").alias("_g_b"), F.col("_sz").alias("_sz_b"))
    size_ok = F.least("_sz_a", "_sz_b") >= F.lit(threshold) * F.greatest("_sz_a", "_sz_b")
    return (
        cand.join(ga, "id_a")
        .join(gb, "id_b")
        .filter(size_ok)
        .withColumn("jaccard", F.round(jaccard(F.col("_g_a"), F.col("_g_b")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 60,
) -> DataFrame:
    """SimHash (Charikar 2002) via the Arrow numpy kernel (r10):
    tokenize, hash and bit-vote per document in ONE ``mapInPandas``
    pass — no token explode, no 60-column vote aggregate, no shuffle
    at all (the r5–r9 expression form shuffled ``bits`` ints per doc;
    this shuffles nothing — fingerprints are computed where the text
    is scanned). Zero-token documents (null / empty / whitespace-only)
    get NO fingerprint, exactly the token-explode contract.

    Bit-identical to the retained expression form
    (:func:`_simhash_table_jvm`, the pytest cross-oracle).

    ``bits`` defaults to 60 so the packed value stays clear of the
    sign bit. Returns (id_col, simhash)."""
    import pandas as pd

    from pyspark.sql import types as T

    from bigdata_foundation_spark.operators import _nphash as NH

    schema = T.StructType(
        [
            T.StructField(id_col, df.schema[id_col].dataType),
            T.StructField("simhash", T.LongType()),
        ]
    )

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            keep, h_flat, offsets, counts = NH.doc_token_hashes(pdf[text_col].tolist())
            if not keep:
                continue
            packed = NH.simhash_from_tokens(h_flat, offsets, counts, bits)
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy()[keep], "simhash": packed}
            )

    return spread(df.select(id_col, text_col), id_col).mapInPandas(gen, schema)


def _simhash_table_jvm(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 60,
) -> DataFrame:
    """The retained JVM expression form — explode tokens → per-bit ±1
    votes summed in ONE hash aggregate (60 narrow sum columns, fully
    codegen'd, map-side partial) → bit-pack the sign vector. r10's
    cross-oracle for the Arrow kernel. (An equivalent single-Column
    formulation with nested array lambdas was ~10× slower — Catalyst
    can't codegen deep lambda chains.) Returns (id_col, simhash)."""
    toks = spread(df, id_col).select(
        F.col(id_col),
        F.explode(F.filter(F.split(normalize_text(text_col), " "), lambda t: t != "")).alias("_tok"),
    ).withColumn("_h", F.xxhash64("_tok"))
    # ±1 votes computed branch-free: the vote sum for bit i equals
    # 2·(count of ones) − (token count), so sign(votes_i) > 0 iff
    # 2·ones_i > n — bit-identical fingerprints, steady-state equal
    # cost to the when/otherwise form (kept for the simpler codegen).
    votes = toks.groupBy(id_col).agg(
        F.count("*").alias("_n"),
        *[
            F.sum(F.shiftright("_h", i).bitwiseAND(F.lit(1))).alias(f"_o{i}")
            for i in range(bits)
        ],
    )
    packed = F.lit(0).cast("long")
    for i in range(bits):
        packed = packed + F.when(
            2 * F.col(f"_o{i}") > F.col("_n"), F.lit(1 << i).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return votes.select(F.col(id_col), packed.alias("simhash"))


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def hash64_neardup_pairs(
    table: DataFrame,
    id_col: str = "media_id",
    hash_col: str = "dhash",
    max_hamming: int = 3,
    chunks: int = 4,
    max_bucket: int = 1000,
    bits: int = 64,
) -> DataFrame:
    """Near-dup pairs on ANY precomputed <=64-bit fingerprint column —
    the pigeonhole machinery shared by image dHash (64 bits) and
    :func:`simhash_pairs` (60 bits — r11 review: the SimHash chain
    now DELEGATES here instead of carrying a verbatim copy). Split
    the fingerprint into ``chunks`` pieces: a pair within Hamming
    distance < chunks agrees on at least one piece, so bucket-join
    per piece (bucket-capped, like every LSH path here) then verify
    exactly with bit_count(xor). The FULL recall guarantee holds iff
    max_hamming < chunks; larger thresholds are accepted with
    BEST-EFFORT recall (candidates still need one agreeing piece —
    the legacy simhash_pairs semantics, useful when a caller loosens
    the verify threshold without re-bucketing).

    ``base`` is cached: one narrow row per id, read by both sides of
    the bucket self-join and the verify join — without it the
    fingerprinting (the pipeline's expensive stage) runs three
    times."""
    base = tracked_cache(table.select(id_col, F.col(hash_col).alias("_h64")))
    width = bits // chunks
    mask = (1 << width) - 1
    pieces = base.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftrightunsigned("_h64", i * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for i in range(chunks)
                ]
            )
        ).alias("p"),
    ).select(id_col, F.col("p.chunk").alias("chunk"), F.col("p.key").alias("key"))

    cand = _bucket_pairs(pieces, id_col, ["chunk", "key"], max_bucket)
    h = base.select(F.col(id_col), F.col("_h64"))
    return (
        cand.join(h.withColumnsRenamed({id_col: "id_a", "_h64": "_a"}), "id_a")
        .join(h.withColumnsRenamed({id_col: "id_b", "_h64": "_b"}), "id_b")
        .withColumn("hamming", hamming64(F.col("_a"), F.col("_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    chunks: int = 4,
    max_bucket: int = 1000,
    bits: int = 60,
) -> DataFrame:
    """Near-dup pairs with Hamming distance <= max_hamming on SimHash.

    Candidate generation and exact verify delegate to
    :func:`hash64_neardup_pairs` (the shared pigeonhole machinery —
    r11 review: previously a verbatim copy lived here and every fix
    had to land twice)."""
    return hash64_neardup_pairs(
        simhash_table(df, text_col, id_col, bits),
        id_col=id_col,
        hash_col="simhash",
        max_hamming=max_hamming,
        chunks=chunks,
        max_bucket=max_bucket,
        bits=bits,
    )


# ---------------------------------------------------------------------------
# Duplicate clustering (connected components over near-dup pairs)
# ---------------------------------------------------------------------------


def duplicate_clusters(
    pairs: DataFrame,
    left: str = "id_a",
    right: str = "id_b",
    max_iters: int = 50,
) -> DataFrame:
    """Group near-duplicate PAIRS into duplicate CLUSTERS: connected
    components over the undirected pair graph, labelling every member
    with the minimum id in its component.

    This is the step that turns any pairwise dedup (MinHash/SimHash/
    n-gram/embedding) into an actionable keep-one-per-cluster policy:
    transitivity (A~B, B~C) must merge A,B,C even when A~C was never
    emitted as a pair.

    Algorithm: distributed min-label STAR MERGING (the FastSV /
    Shiloach–Vishkin hooking discipline, Rastogi et al. 2013 family).
    Each superstep: (a) relax — every node takes the min label over
    itself + neighbours; (b) HOOK — every label group (star) aggregates
    its members' relaxed minima and the WHOLE star adopts that minimum
    (this is the root-hooking step: adjacent stars merge wholesale,
    not node-by-node); (c) shortcut — label ← label(label) until the
    forest is stars again (chains built by one round of hooking are a
    couple of levels deep, so 1–3 cheap label-table self-joins).
    Star-level merging halves the surviving label count in every
    neighbourhood per round → O(log(diameter)) supersteps; every
    shuffle is keyed on node id or label, no driver-side graph state.
    ``localCheckpoint`` truncates the iterated-join lineage (same
    discipline as graph/bsp.py).

    Per-NODE relabeling without the hook step (the r5 implementation)
    is NOT O(log d): labels crawl a few hops per round — measured 79
    supersteps to converge on the 70k-edge CSV7 road network, past the
    old max_iters=50, which SILENTLY returned a split component.
    Exhausting ``max_iters`` now raises instead of returning wrong
    labels (a fixpoint is provably correct — any boundary edge between
    differently-labelled nodes would still change — so raising is the
    only honest non-converged behavior).

    Returns (node, cluster_id); nodes never seen in a pair are absent
    (singletons are trivially their own cluster).
    """
    e = pairs.select(F.col(left).alias("a"), F.col(right).alias("b"))
    edges = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct().cache()
    labels = edges.select("a").distinct().withColumn("cluster_id", F.col("a")).localCheckpoint()

    converged = False
    for _ in range(max_iters):
        # (a) relax: min over own + neighbours' labels.
        prop = edges.join(labels, "a").select(F.col("b").alias("a"), "cluster_id")
        relaxed = (
            labels.unionByName(prop)
            .groupBy("a")
            .agg(F.min("cluster_id").alias("cluster_id"))
        )
        # (b) hook: each label group adopts the min relaxed label any
        # of its members found — the star-merge. rmin <= root by
        # construction (every member's relaxed label <= its old label
        # <= ... <= root), so assignment alone is the min-fold; and
        # rmin values are themselves node ids, keeping the label-table
        # self-join in (c) total.
        root_min = (
            labels.join(relaxed.withColumnRenamed("cluster_id", "_r"), "a")
            .groupBy(F.col("cluster_id").alias("_root"))
            .agg(F.min("_r").alias("_rmin"))
        )
        merged = (
            labels.join(root_min, labels.cluster_id == F.col("_root"))
            .select("a", F.col("_rmin").alias("cluster_id"))
            .localCheckpoint()
        )
        # (c) shortcut: label <- min(label, label(label)) until the
        # forest is stars again.
        while True:
            lab2 = merged.select(F.col("a").alias("_l"), F.col("cluster_id").alias("_ll"))
            jumped = (
                merged.join(lab2, merged.cluster_id == lab2._l)
                .select("a", F.least("cluster_id", "_ll").alias("cluster_id"))
                .localCheckpoint()
            )
            inner_changed = (
                jumped.alias("n")
                .join(merged.alias("o"), "a")
                .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
                .limit(1)
                .count()
            )
            merged = jumped
            if inner_changed == 0:
                break
        changed = (
            merged.alias("n")
            .join(labels.alias("o"), "a")
            .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .limit(1)
            .count()
        )
        labels = merged
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        raise RuntimeError(
            f"duplicate_clusters: labels still changing after {max_iters} "
            "supersteps — raise max_iters (silently returning a partial "
            "labelling would split clusters)"
        )
    return labels.select(F.col("a").alias("node"), "cluster_id")


def cluster_keep_best(
    clusters: DataFrame,
    attrs: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """Keep-BEST canonicalization of duplicate clusters: production
    pipelines keep the highest-quality (or longest) member of each
    duplicate cluster, not the smallest id. Given ``duplicate_clusters``
    output and a per-id score, marks the max-score member (ties → min
    id) canonical.

    One broadcastable join + one per-cluster window — a single keyed
    shuffle on cluster_id at any scale. Returns (id_col, cluster_id,
    score_col, is_canonical).

    Members absent from ``attrs`` are KEPT with a null score and rank
    after every scored member (a left join — an inner join would
    silently drop them, possibly leaving a cluster with no canonical
    row; round-3 advice). CONTRACT: ``attrs`` must have at most one
    row per id — duplicate attr rows would duplicate members."""
    scored = clusters.join(
        attrs.select(F.col(id_col).alias("node"), F.col(score_col)), "node", "left"
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc_nulls_last(score_col), F.asc("node")
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .select(
            F.col("node").alias(id_col),
            "cluster_id",
            F.col(score_col),
            (F.col("_rk") == 1).alias("is_canonical"),
        )
    )


def exact_substring_spans(
    documents: DataFrame,
    min_tokens: int = 15,
    text_col: str = "text",
    id_col: str = "doc_id",
    fingerprint: bool = True,
) -> DataFrame:
    """Exact substring duplication detection (ExactSubstr, Lee et al.
    2021 "Deduplicating Training Data Makes Language Models Better"):
    find every maximal token span of length >= ``min_tokens`` that
    occurs more than once ANYWHERE in the corpus (across documents or
    repeated within one), reported as merged per-document intervals.

    Lee et al. build a corpus-wide suffix array; the distributed
    reduction used here (and by every Spark-scale reproduction) is
    L-gram fingerprinting, which finds the identical span set for
    spans >= L without any global structure: a token position is
    duplicated iff the L-gram starting there occurs >= 2 times, and a
    maximal duplicate span is exactly a maximal run of duplicated
    L-gram starts (merged when starts are <= L apart, i.e. windows
    overlap or abut).

    Scale shape: tokens never leave their document row — the L-gram
    table is built per-row with JVM higher-order functions
    (transform/slice/array_join/xxhash64, whole-stage codegen), then
    posexploded to (id, pos, gram). Duplication is ONE keyed shuffle
    (window count over the 8-byte fingerprint); island-merge is one
    keyed shuffle on the document id. With ``fingerprint=True``
    (default) the shuffle key is xxhash64(gram) — 8 bytes instead of
    ~100+ — at the cost of treating a 64-bit collision as a duplicate
    (odds ~n^2/2^65; the standard production trade, same as MinHash).
    ``fingerprint=False`` shuffles the gram text itself: exact, for
    oracle-grade runs.

    Returns (id_col, span_start, span_end, span_len): token-index
    half-open intervals [span_start, span_end) of duplicated text,
    non-overlapping, sorted within each document. Documents with no
    duplicated span are absent. Reference scope: curation north-star
    (SURVEY.md §2.4) — no reference-file counterpart."""
    if min_tokens < 2:
        raise ValueError("min_tokens must be >= 2")
    L = int(min_tokens)
    toks = documents.select(
        F.col(id_col),
        F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "").alias("_toks"),
    ).filter(F.size("_toks") >= L)
    gram = lambda i: F.array_join(F.slice(F.col("_toks"), i + F.lit(1), F.lit(L)), " ")
    gram_expr = (lambda i: F.xxhash64(gram(i))) if fingerprint else gram
    grams = toks.select(
        F.col(id_col),
        F.posexplode(
            F.transform(F.sequence(F.lit(0), F.size("_toks") - F.lit(L)), gram_expr)
        ).alias("pos", "_g"),
    )
    # Duplicated-gram detection, SKEW-SAFE (r6 verdict item 3). The
    # r6 shape was one window count over partitionBy(_g) — a single
    # shuffle, but a corpus-wide boilerplate gram (a site header
    # repeated 10^8 times) lands EVERY occurrence in one window
    # partition whose external sorter buffers them all in a single
    # task. Two-phase instead, semantics identical (same full SQL
    # oracle, gate hash unchanged):
    #   1. count per gram via groupBy — partial aggregation combines
    #      map-side, so the shuffle carries at most one row per
    #      (input partition, distinct gram): the hot gram's reduce
    #      input is n_partitions rows, not n_occurrences;
    #   2. keep positions whose gram count >= 2 via a LEFT SEMI join
    #      against the duplicated keys — Catalyst broadcasts the key
    #      set when it is small, and past broadcast the semi join is
    #      exactly the operator AQE's skew-join machinery can SPLIT
    #      (replicate the build side over the hot key's sub-splits) —
    #      the unbounded window permits neither.
    # Plan pinned by test_plans.py::test_exact_substring_no_gram_window.
    dup_keys = (
        grams.groupBy("_g")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") > 1)
        .select("_g")
    )
    dup_hits = grams.join(dup_keys, "_g", "left_semi").select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    islands = (
        dup_hits.withColumn(
            "_new",
            F.when(F.col("pos") - F.lag("pos").over(w) <= L, F.lit(0)).otherwise(F.lit(1)),
        )
        .withColumn("_isl", F.sum("_new").over(w))
    )
    return (
        islands.groupBy(id_col, "_isl")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            (F.max("pos") + L).cast("bigint").alias("span_end"),
            (F.max("pos") + L - F.min("pos")).cast("bigint").alias("span_len"),
        )
        .drop("_isl")
    )


def remove_duplicate_spans(
    documents: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cut ``exact_substring_spans`` intervals out of the documents —
    the conservative drop-ALL-occurrences variant (Lee et al. 2021
    remove all but one occurrence; without a global occurrence order
    the distributed-safe policy is to drop every duplicated region,
    which several production curation stacks use for boilerplate).

    Spans are collected per document (a handful of rows each — the
    merged intervals), joined back on the id (keyed; AQE broadcasts
    when small), and the cut happens inside ONE
    row via JVM higher-order functions: keep token i iff no span
    covers it. No Python, no second pass over text. Returns
    (id_col, clean_text, n_tokens_removed); documents without spans
    pass through unchanged (left join)."""
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")
    keep = F.filter(
        F.sequence(F.lit(0), F.size("_t") - F.lit(1)),
        lambda i: ~F.exists(
            F.col("_spans"),
            lambda s: (i >= s["span_start"]) & (i < s["span_end"]),
        ),
    )
    return (
        documents.join(per_doc, id_col, "left")
        .withColumn("_spans", F.coalesce("_spans", F.array()))
        .withColumn("_t", toks)
        .withColumn("_keep", keep)
        .select(
            F.col(id_col),
            F.array_join(
                F.transform(F.col("_keep"), lambda i: F.get(F.col("_t"), i)), " "
            ).alias("clean_text"),
            (F.size("_t") - F.size("_keep")).cast("bigint").alias("n_tokens_removed"),
        )
    )


# --- Bloom-filter membership (cross-batch exact-dedup probe) ---------------

def _bloom_pow2() -> Column:
    """Literal 64-long array [2^0 .. 2^63] (2^63 as the signed-long min
    — Java long arithmetic; bitwiseAND against it tests the sign bit).
    One compact array Literal, not 64 expressions."""
    return F.lit([(1 << b) - (1 << 64) if b == 63 else (1 << b) for b in range(64)])


def _bloom_positions(col: Column, n_bits: int, n_hashes: int) -> list[Column]:
    """The k Bloom positions of a string value: pmod(xxhash64(value,
    i), n_bits) for i = 1..k — the per-hash INT salt i makes the k
    functions independent through xxhash64's multi-argument fold, and
    every position is replayable with the ported hash
    (tools/spark_hashes.spark_xxhash64(value, ('int', i)))."""
    return [
        F.pmod(F.xxhash64(col, F.lit(i)), F.lit(n_bits)).cast("long")
        for i in range(1, n_hashes + 1)
    ]


def bloom_build(
    df: DataFrame,
    col: str = "text",
    n_bits: int = 1 << 20,
    n_hashes: int = 5,
) -> list[int]:
    """Build a Bloom filter (Bloom 1970) over a string column as a
    dense ``n_bits/64``-long signed word array — the compact
    membership summary that lets a NEW batch be probed against
    billions of already-ingested fingerprints WITHOUT shuffling or
    even reading the stored corpus: the standard cross-batch
    exact-dedup front door (probe first; only maybe-seen rows pay the
    exact verify join). No false negatives ever; false-positive rate
    ≈ (1 − e^(−k·n/m))^k is the classic dial (defaults: 1 Mi bits /
    k=5 ≈ 1% FPR at ~130k items, 16 KiB per million bits).

    Scale shape: k codegen hash expressions → ONE explode → ONE
    (word_idx) bit_or aggregate (map-side partial — the shuffle
    carries at most n_bits/64 partially-OR'd words per task, never
    rows) → a bounded ≤ n_bits/64-row collect. The driver holds the
    dense bitmap; :func:`bloom_probe` ships it back as one array
    Literal (the PQ-codebook broadcast pattern). Size the bitmap for
    the driver/plan, not the data: up to ~2^27 bits (16 MiB) is
    comfortable; past that, use the partitioned MinHash/fingerprint
    index lifecycle instead (``minhash_index_*``) — the Bloom is the
    LOW-memory tier, not the only tier. NULL values are skipped
    (a NULL fingerprint is not a member).

    Deterministic and engine-replayable: positions are
    pmod(xxhash64(value, i), n_bits), so an independent pure-Python
    replay reconstructs the identical bitmap — false positives and
    all (the pinned-golden oracle for ``bloom_dedup_probe`` does
    exactly that)."""
    if n_bits % 64 != 0 or n_bits <= 0:
        raise ValueError("n_bits must be a positive multiple of 64")
    pos = F.explode(F.array(*_bloom_positions(F.col(col), n_bits, n_hashes)))
    words = (
        df.filter(F.col(col).isNotNull())
        .select(pos.alias("p"))
        .select(
            F.shiftright(F.col("p"), 6).alias("w"),
            F.element_at(_bloom_pow2(), F.pmod(F.col("p"), F.lit(64)).cast("int") + 1).alias("b"),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("word"))
        .collect()
    )
    dense = [0] * (n_bits // 64)
    for r in words:
        dense[int(r["w"])] = int(r["word"])
    return dense


def bloom_probe(
    df: DataFrame,
    words: list[int],
    col: str = "text",
    n_hashes: int = 5,
    out_col: str = "maybe_seen",
) -> DataFrame:
    """Probe a string column against a :func:`bloom_build` bitmap:
    adds BOOLEAN ``out_col`` — true iff ALL k bits are set (member or
    false positive; never a false negative). The bitmap travels as ONE
    array Literal inside the plan, the probe is k element_at +
    bitwiseAND expressions ANDed in whole-stage codegen — zero
    shuffle, zero Python, composable with scan pushdown: at 100 TB
    the probe costs exactly one pass over the new batch. NULL values
    probe to NULL."""
    n_bits = len(words) * 64
    wlit = F.lit([int(w) for w in words])
    pow2 = _bloom_pow2()
    hit = None
    for p in _bloom_positions(F.col(col), n_bits, n_hashes):
        bit = (
            F.element_at(wlit, F.shiftright(p, 6).cast("int") + 1).bitwiseAND(
                F.element_at(pow2, F.pmod(p, F.lit(64)).cast("int") + 1)
            )
            != 0
        )
        hit = bit if hit is None else hit & bit
    return df.withColumn(
        out_col, F.when(F.col(col).isNotNull(), hit)
    )
