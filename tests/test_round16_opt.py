"""Round-16 optimization pins.

Every test here pins BEHAVIOR an r16 optimization restructures, so the
optimized form must reproduce byte-identical results:

- the single-pass tagged-union CDF diff (io.read_version_changes)
  against the r14/r15 subtract+semi/anti piece algebra, including the
  mixed duplicate-key update+delete case the r15 deferred-item list
  required pinning FIRST;
- local_df input validation (r15 ADVICE items).
"""

import pytest
from pyspark.sql import functions as F


# ------------------- CDF: mixed dup-key update+delete -----------------


def test_change_feed_mixed_dupkey_update_delete(spark, tmp_path):
    """Duplicate-KEY rows (legal: snapshot_delete never requires key
    uniqueness) where a rewrite both replaces one copy's value and
    drops the other: key-classification must consult the FULL pre/post
    key sets, not just the changed rows.

    pre  file: (1,'a'), (1,'b'), (2,'x'), (3,'z')
    post file: (1,'c'), (2,'x')           # k=1 collapsed+updated, k=3 gone

    Expected (keyed): (1,'c') has key in pre -> update_postimage;
    (1,'a') and (1,'b') have key in post -> NOT deletes (suppressed
    without preimages; update_preimage with them); (3,'z') key absent
    from post -> delete; (2,'x') unchanged -> nothing.
    """
    from bigdata_foundation_spark import io as bio

    tdir = str(tmp_path / "dupmix")
    base = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "x"), (3, "z")], "k int, s string"
    ).coalesce(1)
    v1 = bio.write_snapshot(base, tdir, mode="overwrite")
    # hand-build the rewrite as a delete commit whose replacement frame
    # is arbitrary (snapshot_merge would refuse dup keys): rewrite the
    # single data file via the commit primitive directly
    man = bio._read_manifest(tdir, v1)
    files = bio._manifest_file_sets(tdir, man)[0]
    post = spark.createDataFrame([(1, "c"), (2, "x")], "k int, s string").coalesce(1)
    v2 = bio._commit(post, tdir, "delete", None, v1, man, drop=set(files))

    feed = bio.read_version_changes(spark, tdir, v1, v2, key_cols=["k"])
    got = sorted(
        (r["_commit_version"], r["_change_type"], r["k"], r["s"])
        for r in feed.collect()
    )
    assert got == [
        (v2, "delete", 3, "z"),
        (v2, "update_postimage", 1, "c"),
    ]

    # with preimages: BOTH dup-key pre rows surface as update_preimage
    feed_pre = bio.read_version_changes(
        spark, tdir, v1, v2, key_cols=["k"], include_preimages=True
    )
    got_pre = sorted(
        (r["_change_type"], r["k"], r["s"]) for r in feed_pre.collect()
    )
    assert got_pre == [
        ("delete", 3, "z"),
        ("update_postimage", 1, "c"),
        ("update_preimage", 1, "a"),
        ("update_preimage", 1, "b"),
    ]

    # keyless: set-EXCEPT pairs (update = delete+insert), unchanged row silent
    feed_kl = bio.read_version_changes(spark, tdir, v1, v2)
    got_kl = sorted((r["_change_type"], r["k"], r["s"]) for r in feed_kl.collect())
    assert got_kl == [
        ("delete", 1, "a"),
        ("delete", 1, "b"),
        ("delete", 3, "z"),
        ("insert", 1, "c"),
    ]


def test_change_feed_null_key_and_values(spark, tmp_path):
    """NULL keys never match (SQL join equality — the r14 classifier
    used plain key joins): a NULL-key change is a delete+insert pair,
    never an update. Row-level diff stays null-SAFE (a row differing
    only in a non-key NULL column is a change)."""
    from bigdata_foundation_spark import io as bio

    tdir = str(tmp_path / "nullfeed")
    base = spark.createDataFrame(
        [(None, "a"), (1, None), (2, "x")], "k int, s string"
    ).coalesce(1)
    v1 = bio.write_snapshot(base, tdir, mode="overwrite")
    man = bio._read_manifest(tdir, v1)
    files = bio._manifest_file_sets(tdir, man)[0]
    post = spark.createDataFrame(
        [(None, "A"), (1, "y"), (2, "x")], "k int, s string"
    ).coalesce(1)
    v2 = bio._commit(post, tdir, "merge", None, v1, man, drop=set(files))
    feed = bio.read_version_changes(spark, tdir, v1, v2, key_cols=["k"])
    got = sorted(
        ((r["k"] if r["k"] is not None else -99), r["_change_type"], r["s"])
        for r in feed.collect()
    )
    assert got == [
        (-99, "delete", "a"),
        (-99, "insert", "A"),
        (1, "update_postimage", "y"),
    ]


# ------------------- bm25 dl restructure (r16) ------------------------


def test_bm25_doc_length_from_scan_side_count(spark):
    """r16 derives dl from size(tokens) instead of grouping exploded
    tokens by id: zero-token and NULL-text docs stay ABSENT, docs
    split across rows sum their lengths, and N/avgdl match the old
    exploded-count definition."""
    from bigdata_foundation_spark.operators.text import bm25_scores

    docs = spark.createDataFrame(
        [
            (1, "spark window spark"),
            (2, "   "),           # zero tokens -> absent
            (3, None),            # NULL text -> absent
            (4, "hash stream"),
            (4, "spark"),         # same id split across rows: dl = 3
        ],
        "doc_id int, text string",
    )
    out = {
        r["doc_id"]: (r["n_matched_terms"], r["bm25"])
        for r in bm25_scores(docs, ["spark", "hash"]).collect()
    }
    assert set(out) == {1, 4}
    # doc 1: dl=3, tf(spark)=2; doc 4: dl=3, tf(spark)=1 + tf(hash)=1.
    # N=2 scoring docs (2 and 3 absent), avgdl=3 -> norm lengths equal,
    # so doc 4 (two matched terms) must outrank doc 1 on term count.
    assert out[1][0] == 1 and out[4][0] == 2
    import math

    # closed form: N=2, avgdl=3, k1=1.2, b=0.75 (defaults)
    def idf(df_):
        return math.log(1.0 + (2 - df_ + 0.5) / (df_ + 0.5))

    def norm(tf_, dl_):
        return tf_ * 2.2 / (tf_ + 1.2 * (1 - 0.75 + 0.75 * dl_ / 3.0))

    assert abs(out[1][1] - idf(2) * norm(2, 3)) < 1e-12
    assert abs(out[4][1] - (idf(2) * norm(1, 3) + idf(1) * norm(1, 3))) < 1e-12


def test_bm25_null_text_under_legacy_size_of_null(spark):
    """With ANSI off and legacy sizeOfNull, size(NULL) is -1; a NULL
    text row of a doc id must still add 0 to that doc's length, so
    the scores equal the default-config ones."""
    from bigdata_foundation_spark.operators.text import bm25_scores

    docs = spark.createDataFrame(
        [
            (1, "spark window spark"),
            (1, None),            # same id, NULL row: adds 0 to dl
            (2, "hash stream spark"),
            (3, None),
            (4, "stream window"),
        ],
        "doc_id int, text string",
    )

    def scores():
        return {
            r["doc_id"]: (r["n_matched_terms"], r["bm25"])
            for r in bm25_scores(docs, ["spark", "hash"]).collect()
        }

    want = scores()
    assert set(want) == {1, 2}
    keys = ("spark.sql.ansi.enabled", "spark.sql.legacy.sizeOfNull")
    old = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k in keys:
            spark.conf.set(k, "false" if k.endswith("ansi.enabled") else "true")
        got = scores()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert got == want


def test_pmi_totals_fold_equals_corpus_count(spark):
    """r16 folds N_uni/N_bi from the count tables (exact long sums);
    the PMI values must equal the closed-form corpus-count math."""
    import math

    from bigdata_foundation_spark.operators.text import pmi_collocations

    docs = spark.createDataFrame(
        [("new york new york",), ("new york city",), ("old city",)],
        "text string",
    )
    rows = pmi_collocations(docs, "text", k=10, min_count=2).collect()
    got = {(r["w1"], r["w2"]): (r["n_pair"], r["pmi"]) for r in rows}
    # corpus: 10 unigrams (new:3 york:3 city:2 old:1 ... wait:
    # "new york new york" -> new,york,new,york; "new york city";
    # "old city" => N_uni=9: new:3 york:3 city:2 old:1
    # bigrams: (new,york)x3 (york,new)x1 (york,city)x1 (old,city)x1 => N_bi=6
    assert got[("new", "york")][0] == 3
    expected = math.log((3 * 9.0 * 9.0) / (6.0 * 3 * 3))
    assert abs(got[("new", "york")][1] - round(expected, 6)) < 1e-9


# ------------------- local_df shape validation (r15 ADVICE) -----------


def test_local_df_rejects_wide_rows(spark):
    """Rows wider than the schema must raise like classic
    createDataFrame, not silently truncate (r15 ADVICE item 1)."""
    from bigdata_foundation_spark._local import local_df

    with pytest.raises(Exception):
        local_df(spark, [("x", 1, 99)], "a string, b long").collect()
    with pytest.raises(Exception):
        local_df(spark, [("x",)], "a string, b long").collect()


def test_round16_operator_caches_register_and_release(spark):
    """Operator caches are held by the registry until
    release_operator_caches() unpersists them: after the operators
    run, the release alone (no clearCache) brings the session's
    persistent-RDD count back to its value from before they ran, and
    a re-run recomputes identical values."""
    from bigdata_foundation_spark.graph.etl import node_similarity
    from bigdata_foundation_spark.operators import release_operator_caches
    from bigdata_foundation_spark.operators import text as TXm

    docs = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a b a b c"), (3, "x y z w q"), (4, "b c x")],
        "doc_id int, text string",
    )
    target = docs.filter(F.col("doc_id") >= 3)
    roads = spark.createDataFrame(
        [("a", "b", 1.0), ("a", "c", 1.0), ("d", "b", 1.0), ("d", "c", 1.0)],
        "src string, dst string, cost double",
    )

    def rows(df):
        return sorted(
            tuple(round(v, 9) if isinstance(v, float) else v for v in r) for r in df.collect()
        )

    def run_all():
        return [
            rows(df)
            for df in (
                TXm.bm25_scores(docs, ["a", "x"]),
                TXm.dsir_logratio_scores(docs, target),
                TXm.bigram_logprob_score(docs),
                node_similarity(roads, k=10),
            )
        ]

    jsc = spark.sparkContext._jsc.sc()
    release_operator_caches()  # caches earlier tests left registered
    before = jsc.getPersistentRDDs().size()
    first = run_all()
    assert first[3] and first[3][0][:2] == ("a", "d") and first[3][0][3] == 1.0
    release_operator_caches()
    assert jsc.getPersistentRDDs().size() == before
    assert run_all() == first
    release_operator_caches()
    assert jsc.getPersistentRDDs().size() == before


def test_local_df_routes_dict_rows_to_classic_path(spark):
    """Dict rows would transpose keys under zip(*rows); they must take
    the classic createDataFrame path (which maps by name)."""
    from bigdata_foundation_spark._local import local_df

    out = local_df(
        spark, [{"a": "x", "b": 1}, {"a": "y", "b": 2}], "a string, b long"
    ).collect()
    assert [(r["a"], r["b"]) for r in out] == [("x", 1), ("y", 2)]
