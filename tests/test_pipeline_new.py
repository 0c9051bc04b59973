"""Round-6 pipeline operators: gopher filters, splits, packing,
centroids, and the Arrow IPC source."""

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from duckdb_spatial_spark.operators.pipeline import (
    embedding_centroids,
    gopher_repetition,
    hash_split,
    pack_sequences,
)


def test_gopher_repetition_exact(spark):
    # 4 lines, one duplicated: dup_line_frac = 1 - 3/4; char frac over
    # line chars; "a b" bigram repeats 3x in the words stream
    text = "a b\nc d\na b\ne f g"
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = gopher_repetition(df).collect()[0]
    assert r["n_lines"] == 4
    assert r["dup_line_frac"] == pytest.approx(1 - 3 / 4, abs=1e-9)
    tot_lc = 3 + 3 + 3 + 5
    assert r["dup_line_char_frac"] == pytest.approx(1 - (3 + 3 + 5) / tot_lc, abs=1e-6)
    # words = a b c d a b e f g -> norm length 17; top bigram "a b" count 2,
    # len 3 -> 6/17;  but "b c"/"d a" etc count 1 (mass 3) -> max is 6/17
    assert r["top_2gram_char_frac"] == pytest.approx(round(6 / 17, 6), abs=1e-9)
    assert r["gopher_pass"] is not None


def test_gopher_repetition_empty_and_clean(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, None), (3, "all unique words here today friend")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in gopher_repetition(df).collect()}
    assert rows[1]["n_lines"] == 0 and rows[1]["dup_line_frac"] == 0.0
    assert rows[2]["gopher_pass"] is False or rows[2]["n_lines"] == 0
    assert rows[3]["dup_line_frac"] == 0.0
    assert rows[3]["gopher_pass"]


def test_hash_split_deterministic_and_balanced(spark):
    df = spark.range(20000).withColumnRenamed("id", "k")
    a = hash_split(df, "k", weights=(0.8, 0.1, 0.1)).groupBy("split").count()
    counts = {r["split"]: r["count"] for r in a.collect()}
    assert abs(counts["train"] / 20000 - 0.8) < 0.02
    assert abs(counts["val"] / 20000 - 0.1) < 0.01
    assert abs(counts["test"] / 20000 - 0.1) < 0.01
    # stable under repartition (pure function of the id)
    b = hash_split(df.repartition(13), "k", weights=(0.8, 0.1, 0.1))
    joined = a  # noqa: F841 - determinism check below
    diff = (
        hash_split(df, "k", weights=(0.8, 0.1, 0.1))
        .join(b.withColumnRenamed("split", "split2"), "k")
        .filter("split <> split2")
        .count()
    )
    assert diff == 0


def test_pack_sequences_greedy(spark):
    # one group; sizes 60, 50, 30, 120, 10 with budget 100:
    # bin0: 60 (acc 60) -> +50 exceeds -> bin1: 50+30 (80) -> +120 exceeds
    # -> bin2: 120 (oversized alone) -> +10 exceeds -> bin3: 10
    rows = [(0, 60), (1, 50), (2, 30), (3, 120), (4, 10)]
    df = spark.createDataFrame(rows, "doc_id long, sz long")
    out = {
        r["doc_id"]: r["pack_bin"]
        for r in pack_sequences(df, "doc_id", "sz", budget=100, num_groups=1).collect()
    }
    assert out == {0: 0, 1: 1, 2: 1, 3: 2, 4: 3}


def test_pack_sequences_groups_partition_by_id(spark):
    df = spark.range(100).select(F.col("id").alias("doc_id"), F.lit(10).alias("sz"))
    out = pack_sequences(df, "doc_id", "sz", budget=1000, num_groups=4)
    assert out.count() == 100
    grp = out.select((F.col("doc_id") % 4 == F.col("pack_group")).alias("ok"))
    assert grp.filter("NOT ok").count() == 0


def test_embedding_centroids_exact(spark):
    df = spark.createDataFrame(
        [
            (1, [1.0, 2.0], "a"),
            (2, [3.0, 4.0], "a"),
            (3, [10.0, 20.0], "b"),
        ],
        "vec_id long, embedding array<float>, label string",
    )
    out = {(r["label"], r["pos"]): (r["centroid"], r["n"]) for r in
           embedding_centroids(df, "label", "embedding").collect()}
    assert out[("a", 0)] == (2.0, 2)
    assert out[("a", 1)] == (3.0, 2)
    assert out[("b", 0)] == (10.0, 1)


def test_arrow_ipc_roundtrip(spark):
    from duckdb_spatial_spark.sources import st_read, write_arrow_ipc

    df = spark.range(1000).selectExpr(
        "id", "ST_AsWKB(ST_Point(CAST(id AS DOUBLE), CAST(id * 2 AS DOUBLE))) AS geom",
        "CAST(id AS DOUBLE) / 7 AS v", "concat('r', id) AS name",
    )
    path = tempfile.mktemp(suffix=".arrow")
    try:
        write_arrow_ipc(df, path, batch_rows=100)
        back = st_read(spark, path)
        assert back.count() == 1000
        assert set(back.columns) == {"id", "geom", "v", "name"}
        # geometry survives byte-exact; batch-parallel read covers all rows
        chk = back.selectExpr("id", "ST_X(ST_GeomFromWKB(geom)) AS x").filter(
            "x <> CAST(id AS DOUBLE)"
        )
        assert chk.count() == 0
        # column pruning path
        # uniform ST_Read contract: columns= restricts ATTRIBUTES, the
        # geometry column is always kept (GDAL semantics)
        pruned = st_read(spark, path, columns=["id", "v"])
        assert pruned.columns == ["id", "v", "geom"]
        import pyarrow as pa

        with pa.OSFile(path, "rb") as f:
            r = pa.ipc.open_file(f)
            # upstream partition chunks may split batches further; the
            # point is the file is multi-batch (=> parallel read)
            assert r.num_record_batches >= 10
            assert b"geo" in (r.schema.metadata or {})
    finally:
        if os.path.exists(path):
            os.unlink(path)


def test_arrow_ipc_max_rows_guard(spark):
    from duckdb_spatial_spark.sources import write_arrow_ipc

    df = spark.range(100)
    with pytest.raises(ValueError, match="max_rows"):
        write_arrow_ipc(df, tempfile.mktemp(suffix=".arrow"), max_rows=50)


def test_pii_scrub(spark):
    from duckdb_spatial_spark.operators.pipeline import pii_scrub

    df = spark.createDataFrame(
        [
            (1, "mail me at jane.doe+spam@sub.example.co.uk thanks"),
            (2, "server 192.168.001.5 and phone +44 (0)20 7946-0958 ok"),
            (3, "nothing sensitive here"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in pii_scrub(df).collect()}
    assert out[1]["clean_text"] == "mail me at <EMAIL> thanks"
    assert out[1]["n_redactions"] == 1
    assert out[2]["clean_text"] == "server <IP> and phone <PHONE> ok"
    assert out[2]["n_redactions"] == 2
    assert out[3]["clean_text"] == "nothing sensitive here"
    assert out[3]["n_redactions"] == 0


def test_dedup_lines_global_first_occurrence(spark):
    from duckdb_spatial_spark.operators.pipeline import dedup_lines

    df = spark.createDataFrame(
        [
            (1, "keep me\ncookie banner\nunique one"),
            (2, "cookie banner\nother text\n\ncookie banner"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup_lines(df).collect()}
    # doc 1 holds the first occurrence of "cookie banner" -> untouched
    assert out[1]["clean_text"] == "keep me\ncookie banner\nunique one"
    assert out[1]["n_removed"] == 0
    # doc 2 loses both copies; the blank line survives (structure)
    assert out[2]["clean_text"] == "other text\n"
    assert out[2]["n_kept"] == 2 and out[2]["n_removed"] == 2


def test_sample_stratified_deterministic(spark):
    from duckdb_spatial_spark.operators.pipeline import sample_stratified

    df = spark.range(1000).selectExpr("id", "CAST(id % 3 AS STRING) AS s")
    a = sorted(r.id for r in sample_stratified(df, "s", "id", k=10, salt=1).collect())
    b = sorted(
        r.id for r in sample_stratified(df.repartition(17), "s", "id", k=10, salt=1).collect()
    )
    assert a == b and len(a) == 30
    c = sorted(r.id for r in sample_stratified(df, "s", "id", k=10, salt=2).collect())
    assert a != c  # salt changes the sample


def test_bm25_topk_ranks_relevant_docs(spark):
    from duckdb_spatial_spark.operators.textops import bm25_topk

    df = spark.createDataFrame(
        [
            (1, "spark spark spark is great"),
            (2, "spark is a word here once"),
            (3, "nothing relevant at all in this one"),
            (4, "totally different content entirely"),
        ],
        "doc_id long, text string",
    )
    rows = bm25_topk(df, "spark", k=3).collect()
    ids = [r.doc_id for r in rows]
    assert ids[0] == 1 and 2 in ids and 3 not in ids and 4 not in ids
    assert rows[0].rank == 1 and rows[0].score > rows[1].score > 0


def test_arrow_ipc_stream_format(spark, tmp_path):
    """.arrows (IPC STREAM format, no footer) reads via the streaming
    reader fallback."""
    import pyarrow as pa

    from duckdb_spatial_spark.sources import st_read

    t = pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"]})
    p = str(tmp_path / "s.arrows")
    with pa.OSFile(p, "wb") as f:
        with pa.ipc.new_stream(f, t.schema) as w:
            w.write_table(t)
    df = st_read(spark, p)
    assert df.count() == 3 and df.columns == ["a", "b"]
    assert sorted(r.a for r in df.collect()) == [1, 2, 3]


def test_pipeline_end_to_end_composition(spark):
    """The full pretraining-prep chain composes: quality filter -> PII
    scrub -> corpus line dedup -> deterministic split -> packing."""
    from duckdb_spatial_spark.operators.pipeline import (
        dedup_lines,
        gopher_repetition,
        hash_split,
        pack_sequences,
        pii_scrub,
    )

    docs = spark.createDataFrame(
        [
            (i, f"doc {i} body text line\nshared boilerplate footer\n"
                f"contact admin{i}@site.org for info " + ("word " * (i % 7)))
            for i in range(40)
        ],
        "doc_id long, text string",
    )
    keep = gopher_repetition(docs).filter("gopher_pass").select("doc_id")
    n_keep = keep.count()
    assert 2 < n_keep < 40  # the repetition filter drops the word-spam docs
    clean = pii_scrub(docs.join(keep, "doc_id"), "text")
    deduped = dedup_lines(clean.select("doc_id", F.col("clean_text").alias("text")))
    # the shared footer survives only in its first-occurrence doc
    assert deduped.filter("n_removed > 0").count() == n_keep - 1
    assert deduped.filter(F.col("clean_text").contains("@site.org")).count() == 0
    split = hash_split(deduped.withColumn("n_chars", F.length("clean_text")), "doc_id")
    assert set(r.split for r in split.select("split").distinct().collect()) <= {
        "train", "val", "test"
    }
    packed = pack_sequences(split, "doc_id", "n_chars", budget=200, num_groups=2)
    assert packed.count() == split.count()


def test_text_normalize_unicode(spark):
    from duckdb_spatial_spark.operators.textops import text_normalize

    df = spark.createDataFrame(
        [
            (1, "café  and   more"),      # combining accent + runs
            (2, "a\x07b\x00c"),                  # control chars stripped
            (3, " tabs\t\tand  spaces "),
            (4, None),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["norm_text"] for r in text_normalize(df).collect()}
    assert out[1] == "café and more" and "́" not in out[1]
    assert out[2] == "abc"
    assert out[3] == "tabs and spaces"
    assert out[4] is None


def test_pii_scrub_ssn_kind(spark):
    from duckdb_spatial_spark.operators.pipeline import pii_scrub

    df = spark.createDataFrame(
        [(1, "ssn 078-05-1120 and id 1234-56-789 stay-part")],
        "doc_id long, text string",
    )
    r = pii_scrub(df, kinds=("ssn",)).collect()[0]
    assert r["clean_text"] == "ssn <SSN> and id 1234-56-789 stay-part"
    assert r["n_redactions"] == 1


def test_ngram_counts(spark):
    from duckdb_spatial_spark.operators.textops import ngram_counts

    df = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a b x"), (3, None)],
        "doc_id long, text string",
    )
    out = {r["gram"]: (r["count"], r["doc_freq"]) for r in
           ngram_counts(df, n=2, min_count=2).collect()}
    # "a b" occurs twice in doc1 + once in doc2 = 3 total, 2 docs
    assert out == {"a b": (3, 2)}
    uni = {r["gram"]: r["count"] for r in ngram_counts(df, n=1, min_count=3).collect()}
    assert uni == {"a": 3, "b": 3}


def test_url_canonicalize(spark):
    from duckdb_spatial_spark.operators.textops import url_canonicalize

    rows = [
        (1, " HTTP://WWW.Example.COM:80/a/b/?utm_source=x&b=2&a=1#frag "),
        (2, "https://Example.com:443"),
        (3, "https://example.com/"),
        (4, "ftp://x/y"),
        (5, "http://example.com/path?"),
        (6, "http://example.com/?utm_campaign=z"),
        (7, None),
    ]
    df = spark.createDataFrame(rows, "id long, url string")
    got = {r.id: r.canonical_url for r in url_canonicalize(df, "url").collect()}
    assert got[1] == "http://example.com/a/b?a=1&b=2"
    assert got[2] == "https://example.com"
    assert got[3] == "https://example.com"
    assert got[4] == "ftp://x/y"
    assert got[5] == "http://example.com/path"
    assert got[6] == "http://example.com"
    assert got[7] is None


def test_bpe_encode_and_count(spark):
    from duckdb_spatial_spark.operators.textops import bpe_encode, bpe_token_count

    # classic worked example: merges learned from {low, lower, newest, widest}
    merges = [
        ("e", "s"), ("es", "t</w>"), ("l", "o"), ("lo", "w</w>"),
        ("lo", "w"), ("n", "e"), ("ne", "w"), ("new", "est</w>"),
        ("w", "i"), ("wi", "d"), ("wid", "est</w>"), ("low", "e"),
        ("lowe", "r</w>"),
    ]
    df = spark.createDataFrame(
        [(1, "low lower newest widest"), (2, "lowest"), (3, None)],
        "id long, text string",
    )
    got = {r.id: r.bpe_tokens for r in bpe_encode(df, merges).collect()}
    assert got[1] == ["low</w>", "lower</w>", "newest</w>", "widest</w>"]
    # 'lowest': low + est</w> via (e,s)+(es,t</w>) then no (low, est</w>) merge
    assert got[2] == ["low", "est</w>"]
    assert got[3] is None
    counts = {r.id: r.n_bpe_tokens for r in bpe_token_count(df, merges).collect()}
    assert counts[1] == 4 and counts[2] == 2
    # merge priority: earlier rank wins over a later, longer merge
    m2 = [("a", "b"), ("b", "c</w>"), ("ab", "c</w>")]
    one = bpe_encode(
        spark.createDataFrame([(1, "abc")], "id long, text string"), m2
    ).collect()[0].bpe_tokens
    # (a,b) rank 0 fires first -> ab, c</w>; then (ab, c</w>) rank 2 -> abc</w>
    assert one == ["abc</w>"]


def test_chunk_documents_windows(spark):
    from duckdb_spatial_spark.operators.pipeline import chunk_documents

    # 7 tokens, max=4, stride=2 -> starts 0,2,4,6:
    # [t0..t3], [t2..t5], [t4..t6], [t6]
    text = "t0 t1 t2 t3 t4 t5 t6"
    df = spark.createDataFrame([(1, text), (2, ""), (3, None)], ["doc_id", "text"])
    rows = sorted(
        chunk_documents(df, max_tokens=4, stride=2).collect(),
        key=lambda r: (r["doc_id"], r["chunk_id"]),
    )
    assert [r["doc_id"] for r in rows] == [1, 1, 1, 1]
    assert [r["chunk_text"] for r in rows] == [
        "t0 t1 t2 t3",
        "t2 t3 t4 t5",
        "t4 t5 t6",
        "t6",
    ]
    assert [r["chunk_tokens"] for r in rows] == [4, 4, 3, 1]


def test_chunk_documents_no_overlap_and_validation(spark):
    import pytest as _pytest

    from duckdb_spatial_spark.operators.pipeline import chunk_documents

    df = spark.createDataFrame([(1, "a b c d e")], ["doc_id", "text"])
    rows = sorted(
        chunk_documents(df, max_tokens=2, stride=2).collect(),
        key=lambda r: r["chunk_id"],
    )
    assert [r["chunk_text"] for r in rows] == ["a b", "c d", "e"]
    with _pytest.raises(ValueError):
        chunk_documents(df, max_tokens=2, stride=3)
    with _pytest.raises(ValueError):
        chunk_documents(df, max_tokens=0, stride=0)


def test_wordlist_filter_counts_and_keep(spark):
    from duckdb_spatial_spark.operators.textops import wordlist_filter

    df = spark.createDataFrame(
        [(1, "Bad dog bad cat"), (2, "all clean here"), (3, "")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in wordlist_filter(df, ["BAD"], max_ratio=0.25).collect()}
    assert out[1]["block_count"] == 2 and out[1]["keep_doc"] is False
    assert out[2]["block_count"] == 0 and out[2]["keep_doc"] is True
    assert out[3]["block_count"] == 0 and out[3]["block_ratio"] == 0.0


def test_html_extract_text(spark):
    from duckdb_spatial_spark.operators.pipeline import html_extract_text

    rows = [
        (0, "<html><head><title>T &amp; U</title><style>p{}</style></head>"
            "<body><h1>H</h1><p>a b</p><script>x=1</script><div>c &lt;3</div>"
            "<!-- drop --><span>in</span> tail</body></html>"),
        (1, "plain words only"),
        (2, None),
        (3, "<div><div>x</div>y</div>"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, html string")
    got = {r.doc_id: r for r in html_extract_text(df).collect()}
    assert got[0].title == "T & U"
    assert got[0].text == "H\n\na b\n\nc <3\nin tail"
    assert got[0].text_chars == len(got[0].text)
    assert got[1].title == "" and got[1].text == "plain words only"
    assert got[2].text is None and got[2].text_chars is None
    assert got[3].text == "x\ny"
    assert "html" not in got[0].asDict()


def test_robots_allowed(spark):
    """RFC 9309 evaluation: group selection, longest-match precedence,
    allow-wins-ties, '*' wildcards, '$' anchors, missing robots rows."""
    from duckdb_spatial_spark.operators.pipeline import (
        _robots_match_len,
        robots_allowed,
    )

    # matcher unit cases (incl. the anchored-tail pitfall)
    assert _robots_match_len("/p", "/page") == 2
    assert _robots_match_len("/*.php$", "/index.php") == 7
    assert _robots_match_len("/*.php$", "/index.php?x=1") == -1
    assert _robots_match_len("*ab$", "/abab") == 4
    assert _robots_match_len("/fish*", "/fishing") == 6
    assert _robots_match_len("/fish", "/Fish") == -1

    robots_txt = (
        "# comment\n"
        "User-agent: *\n"
        "Disallow: /private/\n"
        "Disallow: /*.pdf$\n"
        "Allow: /private/ok\n"
        "\n"
        "User-agent: specialbot\n"
        "Disallow: /\n"
    )
    robots = spark.createDataFrame(
        [("a.com", robots_txt), ("b.com", "User-agent: *\nDisallow:\n")],
        "domain string, robots_txt string",
    )
    urls = spark.createDataFrame(
        [
            (0, "a.com", "http://a.com/public/x"),
            (1, "a.com", "http://a.com/private/secret"),
            (2, "a.com", "http://a.com/private/ok/page"),   # allow beats shorter disallow
            (3, "a.com", "http://a.com/doc.pdf"),
            (4, "a.com", "http://a.com/doc.pdf?download=1"),  # $ anchor: allowed
            (5, "b.com", "http://b.com/anything"),           # empty Disallow = allow
            (6, "c.com", "http://c.com/whatever"),           # no robots row
        ],
        "id long, domain string, url string",
    )
    got = {r.id: r.allowed for r in robots_allowed(urls, robots).collect()}
    assert got == {0: True, 1: False, 2: True, 3: False, 4: True, 5: True, 6: True}

    # group selection: specialbot picks its own group (Disallow /)
    got2 = {r.id: r.allowed for r in robots_allowed(urls, robots, agent="specialbot").collect()}
    assert got2[0] is False and got2[5] is True and got2[6] is True

    # plan: robots side broadcast, no cartesian
    plan = robots_allowed(urls, robots)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "CartesianProduct" not in plan


def test_text_entropy(spark):
    import math
    from collections import Counter

    from duckdb_spatial_spark.operators.textops import text_entropy

    docs = [
        (0, "aaaa"),                      # zero entropy
        (1, "ab ab ab"),
        (2, ""),                          # zeros
        (3, None),                        # NULL behaves like empty
        (4, "the quick brown fox jumps"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r for r in text_entropy(df).collect()}

    def h(cnt):
        n = sum(cnt.values())
        if n == 0:
            return 0.0
        s = -sum((c / n) * math.log(c / n) for c in cnt.values())
        return math.floor(s * 1e6 + 0.5) / 1e6

    for did, t in docs:
        s = t or ""
        r = got[did]
        assert r.n_chars_e == len(s) and r.n_tokens_e == len(s.split())
        assert r.char_entropy == h(Counter(s))
        assert r.token_entropy == h(Counter(s.split()))
    assert got[0].char_entropy == 0.0 and got[2].char_entropy == 0.0
    assert got[4].token_entropy == math.floor(math.log(5) * 1e6 + 0.5) / 1e6


def test_winnowing_short_doc_signed_fingerprint(spark):
    """A doc with <= window k-grams emits exactly one fingerprint, and a
    uint64 window min >= 2^63 must wrap into the signed int64 column
    instead of overflowing the pandas Series (regression: int(h.min()))."""
    from duckdb_spatial_spark.operators.textops import winnowing_fingerprints

    # one 9-char token each -> exactly ONE k-gram, so the fingerprint is
    # the raw (uniform) uint64 hash: ~half must wrap negative (window
    # minima would bias low and mask the overflow)
    rows = [(int(i), f"tok{i:06d}") for i in range(64)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = winnowing_fingerprints(df, "doc_id", "text", k=9, window=20).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r.id, []).append(r.fingerprint)
    assert len(by_id) == 64 and all(len(fps) == 1 for fps in by_id.values())
    assert any(fp < 0 for fps in by_id.values() for fp in fps)
