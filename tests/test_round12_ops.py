"""Round-12 operator tests: boilerplate-removing HTML main-content
extraction, versioned corpus snapshots."""

from pyspark.sql import functions as F

from bigdata_foundation_spark.operators import web as W


# ---------------------- html_main_content -----------------------------

_PAGE = """<html><head><title>T</title><style>p{}</style>
<script>var x = 1 < 2 && 3 > 0;</script></head><body>
<div class="nav"><a href="/">Home</a> <a href="/news">News</a>
  <a href="/about">About</a> <a href="/contact">Contact us</a></div>
<div id="cookie">We use cookies on this site. <a href="#">Accept</a>
  <a href="#">Decline</a></div>
<h1>Big Headline</h1>
<p>This is the first real paragraph of the article with plenty of
words to clear the threshold easily.</p>
<p>The second paragraph also carries genuine content and even has one
<a href="/x">inline link</a> inside a sea of words, which is fine.</p>
<ul><li><a href="/r1">Related story one</a></li>
<li><a href="/r2">Related story two</a></li></ul>
<div class="footer">Copyright Example Corp. <a href="/privacy">Privacy
policy</a> <a href="/terms">Terms of use</a> <a href="/c">Contact</a></div>
</body></html>"""


def _extract(spark, page, **kw):
    df = spark.createDataFrame([(page,)], ["html"])
    return df.select(W.html_main_content("html", **kw).alias("t")).first()["t"]


def test_main_content_boilerplate_recall(spark):
    """The planted nav bar, cookie banner, headline, related-links
    list, and footer must ALL drop; both genuine paragraphs must
    survive — including the one carrying an inline link."""
    out = _extract(spark, _PAGE)
    lines = out.split("\n")
    assert len(lines) == 2
    assert lines[0].startswith("This is the first real paragraph")
    assert "inline link inside a sea of words" in lines[1]
    for boiler in ("Home", "cookies", "Headline", "Related story",
                   "Copyright", "Privacy"):
        assert boiler not in out, boiler


def test_main_content_thresholds(spark):
    # min_words boundary: a 7-word block drops at the default 8,
    # survives at min_words=7
    page = "<p>seven words are not quite enough here</p>"
    assert _extract(spark, page) == ""
    assert (
        _extract(spark, page, min_words=7)
        == "seven words are not quite enough here"
    )
    # link-density boundary: a long but almost-all-anchor block drops
    # even past the word threshold
    linky = (
        "<p><a href='/a'>one two three four five six seven eight nine"
        " ten eleven twelve</a> tail</p>"
    )
    assert _extract(spark, linky) == ""
    # ...and survives when the density ceiling is lifted
    assert "tail" in _extract(spark, linky, max_link_density=1.0)


def test_main_content_edge_pages(spark):
    # empty / tag-only / script-only pages extract to the empty string
    for page in ("", "<div></div>", "<script>var a = 1;</script>"):
        assert _extract(spark, page) == ""
    # entities decode inside kept blocks ('&amp;' last)
    page = (
        "<p>salt &amp; pepper &lt;tag&gt; &quot;quoted&quot; words"
        " keep this block over the minimum</p>"
    )
    out = _extract(spark, page)
    assert 'salt & pepper <tag> "quoted"' in out


def test_main_content_multi_block_order(spark):
    """Kept blocks reassemble in document order."""
    paras = [
        f"<p>paragraph number {i} with enough words to clear the"
        " minimum word threshold comfortably</p>"
        for i in range(5)
    ]
    out = _extract(spark, "".join(paras))
    nums = [int(line.split()[2]) for line in out.split("\n")]
    assert nums == [0, 1, 2, 3, 4]


# ---------------------- versioned snapshots ---------------------------

def test_snapshot_lifecycle(spark, tmp_path):
    from bigdata_foundation_spark.io import (
        read_at_version,
        snapshot_vacuum,
        snapshot_versions,
        write_snapshot,
    )

    tdir = str(tmp_path / "tbl")
    df = spark.range(10).withColumnRenamed("id", "k")
    assert snapshot_versions(tdir) == []

    v1 = write_snapshot(df.filter("k < 5"), tdir, mode="overwrite")
    v2 = write_snapshot(df.filter("k >= 5"), tdir, mode="append")
    assert (v1, v2) == (1, 2)
    assert sorted(r["k"] for r in read_at_version(spark, tdir, 1).collect()) == list(range(5))
    assert sorted(r["k"] for r in read_at_version(spark, tdir, 2).collect()) == list(range(10))
    # head read = latest version
    assert read_at_version(spark, tdir).count() == 10

    # overwrite starts the file set fresh; older versions still read
    v3 = write_snapshot(df.filter("k = 7"), tdir, mode="overwrite")
    assert v3 == 3
    assert [r["k"] for r in read_at_version(spark, tdir).collect()] == [7]
    assert read_at_version(spark, tdir, 2).count() == 10

    # idempotent re-commit: same commit_id is a no-op at the head
    v4 = write_snapshot(df.filter("k = 1"), tdir, mode="append", commit_id="job-42")
    v4b = write_snapshot(df.filter("k = 1"), tdir, mode="append", commit_id="job-42")
    assert v4 == v4b == 4
    assert read_at_version(spark, tdir).count() == 2  # 7 and 1, once

    # vacuum keeps the head, sweeps old files AND old manifests
    # (min_age_sec=0: no concurrent writers in a test)
    deleted = snapshot_vacuum(tdir, keep_last=1, min_age_sec=0)
    assert deleted > 0
    assert snapshot_versions(tdir) == [4]
    assert read_at_version(spark, tdir).count() == 2
    import pytest as _pytest

    with _pytest.raises(ValueError):
        read_at_version(spark, tdir, 2)


def test_snapshot_errors(spark, tmp_path):
    import pytest as _pytest

    from bigdata_foundation_spark.io import (
        read_at_version,
        snapshot_vacuum,
        write_snapshot,
    )

    tdir = str(tmp_path / "none")
    with _pytest.raises(FileNotFoundError):
        read_at_version(spark, tdir)
    df = spark.range(3)
    with _pytest.raises(ValueError):
        write_snapshot(df, tdir, mode="replace")
    write_snapshot(df, tdir)
    with _pytest.raises(ValueError):
        snapshot_vacuum(tdir, keep_last=0)


# ------------------ file-spilled projection tier ----------------------

def test_apsp_file_tier_matches_broadcast(spark, tmp_path):
    """strategy='file' (mmap file-spilled CSR, r12) must reproduce the
    broadcast tier's APSP top-k bit-for-bit — same kernels, different
    projection transport."""
    import random

    from bigdata_foundation_spark.graph import paths as P

    random.seed(11)
    rows = [
        (f"n{random.randrange(300)}", f"n{random.randrange(300)}",
         float(random.randrange(1, 9)))
        for _ in range(2000)
    ]
    roads = spark.createDataFrame(rows, ["src", "dst", "cost"])
    a = [tuple(r) for r in P.apsp_topk(spark, roads, k=10, strategy="broadcast").collect()]
    b = [tuple(r) for r in P.apsp_topk(
        spark, roads, k=10, strategy="file", spill_dir=str(tmp_path / "spill")
    ).collect()]
    assert a == b and len(a) == 10


def test_spilled_projection_roundtrip(tmp_path):
    """spill → mmap load preserves the CSR arrays, the id mapping, and
    the per-source distance kernel results; the loaded projection has
    NO eager string→int index (the per-process dict the file tier
    avoids)."""
    import numpy as np

    from bigdata_foundation_spark.graph import kernel as K

    proj = K.Projection(
        [("a", "b", 1.0), ("b", "c", 2.0), ("a", "c", 5.0), ("c", "d", 1.0)]
    )
    path = K.spill_projection(proj, str(tmp_path / "p"))
    K._SPILL_CACHE.clear()
    loaded = K.load_spilled_projection(path)
    assert loaded.index is None
    assert list(loaded.indptr) == list(proj.indptr)
    assert list(loaded.adj_v) == list(proj.adj_v)
    assert [str(x) for x in loaded.ids] == list(proj.ids)
    d0 = K._delta_dist_numpy(proj, 0)
    d1 = K._delta_dist_numpy(loaded, 0)
    assert np.array_equal(d0, d1, equal_nan=True)
    # indices= path (no index dict needed)
    got = K.per_source_longest(loaded, ["a"], 2, indices=[0])
    want = K.per_source_longest(proj, ["a"], 2)
    assert got == want
    # cache: second load is the same object
    assert K.load_spilled_projection(path) is loaded


# ---------------------------- WARC ------------------------------------

def test_warc_read_parse_roundtrip(spark, tmp_path):
    """A real multi-record .warc file on disk: read_warc splits it
    into records distributively (lineSep scan), parse_warc recovers
    the typed fields — incl. the archive-final record's trailing
    separator CRLFs, non-HTTP payloads, and absent headers."""
    from bigdata_foundation_spark.io import parse_warc, read_warc

    body1 = "<html><body><p>hello page one</p></body></html>"
    http1 = ("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n"
             f"X-Other: y\r\n\r\n{body1}")
    rec1 = ("WARC/1.0\r\nWARC-Type: response\r\n"
            "WARC-Target-URI: https://a.com/x\r\n"
            "WARC-Date: 2026-01-01T00:00:00Z\r\n"
            f"Content-Length: {len(http1)}\r\n\r\n{http1}")
    http2 = "HTTP/1.1 404 Not Found\r\nContent-Type: text/plain\r\n\r\nnope"
    rec2 = ("WARC/1.0\r\nWARC-Type: response\r\n"
            "WARC-Target-URI: https://b.co.uk/y\r\n"
            f"Content-Length: {len(http2)}\r\n\r\n{http2}")
    rec3 = "WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 3\r\n\r\nabc"
    path = str(tmp_path / "t.warc")
    with open(path, "w", newline="") as f:
        f.write("\r\n\r\n".join([rec1, rec2, rec3]) + "\r\n\r\n")
    rows = {r["target_uri"]: r.asDict()
            for r in parse_warc(read_warc(spark, path)).collect()}
    assert len(rows) == 3
    a = rows["https://a.com/x"]
    assert (a["warc_type"], a["http_status"], a["content_type"], a["body"]) == (
        "response", 200, "text/html", body1)
    assert a["warc_date"] == "2026-01-01T00:00:00Z"
    assert a["content_length"] == len(http1)
    b = rows["https://b.co.uk/y"]
    assert (b["http_status"], b["content_type"], b["body"]) == (404, "text/plain", "nope")
    w = rows[""]
    assert (w["warc_type"], w["http_status"], w["content_type"], w["body"]) == (
        "warcinfo", None, None, "abc")


def test_warc_to_main_content_composes(spark, tmp_path):
    """The C4 front door end-to-end: WARC -> parse -> html filter ->
    main-content extraction."""
    from bigdata_foundation_spark.io import parse_warc, read_warc

    body = ("<html><body><div><a href='/'>Home</a> <a href='/n'>News</a>"
            " <a href='/c'>More</a> <a href='/d'>Links</a></div>"
            "<p>the actual article body has plenty of words to keep"
            " for the corpus downstream</p></body></html>")
    http = f"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n{body}"
    rec = ("WARC/1.0\r\nWARC-Type: response\r\n"
           "WARC-Target-URI: https://a.com/art\r\n"
           f"Content-Length: {len(http)}\r\n\r\n{http}")
    path = str(tmp_path / "c.warc")
    with open(path, "w", newline="") as f:
        f.write(rec + "\r\n\r\n")
    parsed = parse_warc(read_warc(spark, path))
    html_pages = parsed.filter("content_type = 'text/html' AND http_status = 200")
    out = html_pages.select(W.html_main_content(F.col("body")).alias("t")).first()["t"]
    assert out.startswith("the actual article body")
    assert "Home" not in out


# --------------------------- robots.txt -------------------------------

def test_robots_rules_semantics(spark):
    """Sections bind Disallow lines to the most recent User-agent;
    only '*' sections emit rules; empty Disallow allows; comments and
    whitespace strip; rules are distinct."""
    txt = ("# top comment\n"
           "User-agent: google\nDisallow: /g\n\n"
           "User-agent: *\n"
           "Disallow: /private   # trailing comment\n"
           "Disallow: /tmp/\n"
           "Disallow:\n"
           "Disallow: /private\n\n"
           "User-agent: bing\nDisallow: /b\n")
    robots = spark.createDataFrame([("a.com", txt)], ["domain", "robots_txt"])
    rules = sorted(
        (r["domain"], r["prefix"]) for r in W.robots_rules(robots).collect()
    )
    assert rules == [("a.com", "/private"), ("a.com", "/tmp/")]


def test_robots_filter_semantics(spark):
    robots = spark.createDataFrame(
        [("a.com", "User-agent: *\nDisallow: /private\nDisallow: /tmp/"),
         ("b.co.uk", "User-agent: *\nDisallow: /")],
        ["domain", "robots_txt"],
    )
    rules = W.robots_rules(robots)
    urls = spark.createDataFrame(
        [("https://a.com/private/x",), ("https://a.com/privateer",),
         ("https://WWW.A.com/tmp/f",), ("https://a.com/ok",),
         ("https://b.co.uk/anything",), ("https://c.org/free",), (None,)],
        "url string",
    )
    kept = sorted(str(r["url"]) for r in W.robots_filter(urls, rules).collect())
    # literal-prefix contract: '/privateer' matches prefix '/private'
    # (documented simplification); www/case-folded hosts match; NULL
    # urls are KEPT; unlisted domains pass
    assert kept == ["None", "https://a.com/ok", "https://c.org/free"]


# --------------------------- html_meta --------------------------------

def test_html_meta_extraction(spark):
    page = ('<html LANG="PT-br"><head><title> A &amp; B  site </title>'
            '<style>t{}</style>'
            '<meta content="from content-first" name="description">'
            '<link rel="canonical" href="https://x.org/canon">'
            '</head><body><p>b</p></body></html>')
    df = spark.createDataFrame([(page,)], ["html"])
    r = W.html_meta(df).drop("html").first().asDict()
    assert r == {
        "title": "A & B site",
        "meta_description": "from content-first",
        "canonical_url": "https://x.org/canon",
        "lang": "pt-br",
    }
    # absent fields degrade to '' (never NULL, never mis-extract)
    bare = spark.createDataFrame([("<html><body>x</body></html>",)], ["html"])
    r2 = W.html_meta(bare).drop("html").first().asDict()
    assert r2 == {"title": "", "meta_description": "", "canonical_url": "", "lang": ""}
    # keep= restricts the added columns
    assert W.html_meta(df, keep=["title"]).columns == ["html", "title"]


# --------------------- streaming snapshot sink ------------------------

def test_streaming_snapshot_sink_incremental_and_retry(spark, tmp_path):
    """With a PERSISTENT checkpoint: each micro-batch commits one
    append version; rerunning over an unchanged source adds nothing;
    new source files append incrementally with fresh batch ids; a
    foreachBatch RETRY of an already-committed batch (same commit_id)
    is a no-op. Every batch boundary stays readable."""
    from bigdata_foundation_spark.io import (
        read_at_version,
        snapshot_versions,
        write_snapshot,
    )
    from bigdata_foundation_spark.streaming.sinks import foreach_batch_snapshot

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    spark.range(20).selectExpr("id AS k", "id * 2 AS v").write.parquet(src)

    def _stream():
        return (
            spark.readStream.schema("k bigint, v bigint")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )

    tdir = str(tmp_path / "tbl")
    versions = foreach_batch_snapshot(_stream(), tdir, checkpoint_dir=ckpt,
                                      batch_shuffle_partitions=4)
    assert versions == snapshot_versions(tdir)
    assert read_at_version(spark, tdir).count() == 20
    # rerun, same checkpoint, unchanged source: nothing new to commit
    v2 = foreach_batch_snapshot(_stream(), tdir, checkpoint_dir=ckpt,
                                batch_shuffle_partitions=4)
    assert v2 == [] and snapshot_versions(tdir) == versions
    # foreachBatch retry simulation: re-commit the last batch id
    head = snapshot_versions(tdir)[-1]
    retry = write_snapshot(
        spark.range(5).selectExpr("id AS k", "id AS v"), tdir,
        mode="append", commit_id=f"stream-batch-{len(versions) - 1}",
    )
    assert retry == versions[-1] and snapshot_versions(tdir)[-1] == head
    assert read_at_version(spark, tdir).count() == 20
    # source grows: incremental run appends ONLY the new rows
    spark.range(20, 30).selectExpr("id AS k", "id * 2 AS v").write.mode(
        "append"
    ).parquet(src)
    v3 = foreach_batch_snapshot(_stream(), tdir, checkpoint_dir=ckpt,
                                batch_shuffle_partitions=4)
    assert len(v3) >= 1
    assert read_at_version(spark, tdir).count() == 30
    # intermediate batch boundaries are time-travelable
    if len(versions) > 1:
        assert read_at_version(spark, tdir, versions[0]).count() < 20


def test_snapshot_compact(spark, tmp_path):
    """Compaction commits a NEW version whose rows equal the head's;
    older versions keep reading their original files; vacuum then
    reclaims the pre-compaction small files."""
    from bigdata_foundation_spark.io import (
        read_at_version,
        snapshot_compact,
        snapshot_vacuum,
        snapshot_versions,
        write_snapshot,
    )

    tdir = str(tmp_path / "tbl")
    for lo in range(0, 20, 5):  # four tiny append commits
        write_snapshot(
            spark.range(lo, lo + 5).withColumnRenamed("id", "k"), tdir
        )
    assert snapshot_versions(tdir) == [1, 2, 3, 4]
    v5 = snapshot_compact(spark, tdir)
    assert v5 == 5
    assert sorted(r["k"] for r in read_at_version(spark, tdir).collect()) == list(range(20))
    assert read_at_version(spark, tdir, 2).count() == 10  # history intact
    deleted = snapshot_vacuum(tdir, keep_last=1, min_age_sec=0)
    assert deleted >= 4
    assert sorted(r["k"] for r in read_at_version(spark, tdir).collect()) == list(range(20))


def test_sssp_file_tier_matches_broadcast(spark, tmp_path):
    """sssp strategy='file' (mmap file-spilled CSR) reproduces the
    broadcast tier's distances exactly — including through the LAZY
    returned DataFrame (the spill must outlive the builder scope)."""
    import random

    from bigdata_foundation_spark.graph import paths as P

    random.seed(5)
    rows = [
        (f"n{random.randrange(250)}", f"n{random.randrange(250)}",
         float(random.randrange(1, 8)))
        for _ in range(1500)
    ]
    roads = spark.createDataFrame(rows, ["src", "dst", "cost"])
    a = sorted(tuple(r) for r in P.sssp(spark, roads, "n3", strategy="broadcast").collect())
    df_b = P.sssp(spark, roads, "n3", strategy="file",
                  spill_dir=str(tmp_path / "s"))
    import gc

    gc.collect()  # the lazy frame must still read the spill
    b = sorted(tuple(r) for r in df_b.collect())
    assert a == b and len(a) > 0


def test_snapshot_data_skipping(spark, tmp_path):
    """Manifest-level file skipping: commits write footer min/max
    stats into the manifest; read_at_version(prune=...) drops files
    whose range misses the predicate BEFORE Spark opens them —
    results equal the unpruned read + filter, with fewer input
    files."""
    from bigdata_foundation_spark.io import (
        _read_manifest,
        read_at_version,
        write_snapshot,
    )

    tdir = str(tmp_path / "tbl")
    # three commits with disjoint key ranges (one file each)
    for lo in (0, 100, 200):
        df = spark.range(lo, lo + 50).selectExpr("id AS k", "id * 2 AS v").coalesce(1)
        write_snapshot(df, tdir)
    man = _read_manifest(tdir, 3)
    assert len(man["files"]) == 3
    # every file carries harvested k-stats
    assert all("k" in man["stats"][f] for f in man["files"])

    pruned = read_at_version(spark, tdir, prune=[("k", 120, 140)])
    # exactly one file survives pruning
    assert pruned.rdd.getNumPartitions() >= 1
    in_files = pruned.inputFiles()
    assert len(in_files) == 1
    got = sorted(r["k"] for r in pruned.filter("k BETWEEN 120 AND 140").collect())
    want = sorted(
        r["k"]
        for r in read_at_version(spark, tdir).filter("k BETWEEN 120 AND 140").collect()
    )
    assert got == want == list(range(120, 141))
    # open-ended range; files without stats for the column are kept
    assert read_at_version(spark, tdir, prune=[("k", 200, None)]).count() == 50
    assert read_at_version(spark, tdir, prune=[("nosuchcol", 0, 1)]).count() == 150
    # fully-pruned read returns an EMPTY frame with the schema intact
    empty = read_at_version(spark, tdir, prune=[("k", 900, 999)])
    assert empty.count() == 0 and set(empty.columns) == {"k", "v"}


def test_snapshot_version_delta_and_schema_enforcement(spark, tmp_path):
    from bigdata_foundation_spark.io import (
        read_version_delta,
        write_snapshot,
    )
    import pytest as _pytest

    tdir = str(tmp_path / "tbl")
    write_snapshot(spark.range(5).withColumnRenamed("id", "k"), tdir)
    write_snapshot(spark.range(5, 9).withColumnRenamed("id", "k"), tdir)
    write_snapshot(spark.range(9, 12).withColumnRenamed("id", "k"), tdir)
    # delta v1 -> v3 = everything appended after v1
    got = sorted(r["k"] for r in read_version_delta(spark, tdir, 1).collect())
    assert got == list(range(5, 12))
    assert sorted(
        r["k"] for r in read_version_delta(spark, tdir, 2, 3).collect()
    ) == [9, 10, 11]
    # empty delta keeps the schema
    same = read_version_delta(spark, tdir, 3, 3)
    assert same.count() == 0 and same.columns == ["k"]
    # append with a RETYPED column fails fast (r14: ADDING a nullable
    # column is legal additive evolution; drops/retypes still refuse)
    with _pytest.raises(ValueError, match="type"):
        write_snapshot(
            spark.range(3).selectExpr("CAST(id AS STRING) AS k"), tdir
        )
    with _pytest.raises(ValueError, match="missing"):
        write_snapshot(
            spark.range(3).selectExpr("id AS other"), tdir
        )
    # schema change goes through overwrite, after which the delta
    # across the boundary refuses rather than mislabeling rows
    write_snapshot(
        spark.range(3).selectExpr("id AS k", "id AS extra"), tdir, mode="overwrite"
    )
    with _pytest.raises(ValueError, match="overwrite"):
        read_version_delta(spark, tdir, 2)
