"""Operator-level tests not covered by the DuckDB gate: reservoir
determinism across partitionings, total-order sort property, salted
repartition, CDX junk filter, regex extraction counts, URL length cap and
the total canonical projection."""

import pytest
from pyspark.sql import functions as F

from webarchive_discovery_spark.operators.cdx import cdx_junk_filter, total_order_sort
from webarchive_discovery_spark.operators.frontier import (
    canonicalize_frontier,
    salted_repartition,
)
from webarchive_discovery_spark.operators.sampling import deterministic_reservoir


def test_reservoir_partitioning_independent(spark):
    df = spark.range(10_000).selectExpr("id % 7 as k", "cast(id as string) as v")
    a = deterministic_reservoir(df.repartition(2), ["k"], "v", n=50)
    b = deterministic_reservoir(df.repartition(13), ["k"], "v", n=50)
    ra = sorted((r["k"], r["v"]) for r in a.collect())
    rb = sorted((r["k"], r["v"]) for r in b.collect())
    assert ra == rb
    counts = a.groupBy("k").count().collect()
    assert all(r["count"] == 50 for r in counts)


def test_total_order_sort_property(spark):
    df = spark.range(5000).selectExpr("concat('k', lpad(cast(id * 37 % 5000 as string), 6, '0')) as key")
    out = total_order_sort(df, "key", num_partitions=7)
    # partition i's max key < partition i+1's min key (total order across shards)
    parts = (
        out.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(F.min("key").alias("lo"), F.max("key").alias("hi"))
        .orderBy("pid")
        .collect()
    )
    for a, b in zip(parts, parts[1:]):
        assert a["hi"] <= b["lo"]


def test_salted_repartition_spreads_hot_key(spark):
    df = spark.range(10_000).selectExpr("'hot' as host", "id")
    out = salted_repartition(df, "host", salt_buckets=8, num_partitions=8)
    sizes = [r["count"] for r in out.groupBy(F.spark_partition_id()).count().collect()]
    # one hot host must NOT land in a single partition
    assert len(sizes) >= 4
    assert max(sizes) < 10_000


def test_salted_repartition_salt_skips_payload_bytes(spark):
    from webarchive_discovery_spark.operators.frontier import _salt_columns

    df = spark.createDataFrame(
        [("h", i, bytes(1024))
         for i in range(64)],
        "host string, url_hash long, bytes binary",
    )
    cols = _salt_columns(df, "host")
    assert "bytes" not in cols
    assert cols == ["host", "url_hash"]
    # the salt is deterministic: two runs give identical partition assignment
    out1 = salted_repartition(df, "host", salt_buckets=8, num_partitions=8)
    a = sorted((r["url_hash"], r["pid"]) for r in
               out1.select("url_hash", F.spark_partition_id().alias("pid")).collect())
    out2 = salted_repartition(df, "host", salt_buckets=8, num_partitions=8)
    b = sorted((r["url_hash"], r["pid"]) for r in
               out2.select("url_hash", F.spark_partition_id().alias("pid")).collect())
    assert a == b
    # still spreads the hot key
    assert len({p for _, p in a}) >= 4
    # a frame with no id column falls back to non-payload columns only
    df2 = spark.createDataFrame([("h", bytes(8))], "host string, payload binary")
    assert _salt_columns(df2, "host") == ["host"]


def test_cdx_junk_filter(spark):
    df = spark.createDataFrame(
        [
            ("application/http 200", "response"),
            ("text/html", "response"),
            ("text/html", "request"),
            ("text/html", "metadata"),
            ("image/png", "resource"),
        ],
        "mime string, record_type string",
    )
    kept = cdx_junk_filter(df, "mime", "record_type").collect()
    assert {(r["mime"], r["record_type"]) for r in kept} == {
        ("text/html", "response"),
        ("image/png", "resource"),
    }


def test_regex_extraction_counts(spark):
    # WARCRegexMapper semantics: explode regex matches → frequency count
    df = spark.createDataFrame(
        [("a B12 3XY c B99 9ZZ",), ("no match",), ("B12 3XY again",)], "text string"
    )
    found = df.select(
        F.explode(F.regexp_extract_all(F.col("text"), F.lit(r"(B\d{2} \d[A-Z]{2})"), 1)).alias("m")
    )
    counts = {r["m"]: r["count"] for r in found.groupBy("m").count().collect()}
    assert counts == {"B12 3XY": 2, "B99 9ZZ": 1}


def test_url_length_cap(spark):
    long_url = "http://example.org/" + "a" * 3000
    df = spark.createDataFrame([(long_url,)], "url string")
    out = canonicalize_frontier(df).collect()[0]
    assert len(out["url"]) == 2000  # reference cap, WARCIndexer.java:330-331
    assert out["url_norm"].startswith("http://example.org/aaa")


def test_canonicalize_frontier_is_total(spark):
    """``host``/``url_path`` never fail the job: a canonical URL that
    java.net.URI rejects keeps its real host and path, a malformed authority
    gets NULLs, and wherever ``parse_url`` accepts the URL both columns
    equal it (``url_path`` with its NULL → "/" default)."""
    rejected = {
        "http://host000.example.org/img/search?q=a|b": ("host000.example.org", "/img/search"),
        "http://h.example.org/a{x}b": ("h.example.org", "/a{x}b"),
        'http://h.example.org/a"b': ("h.example.org", '/a"b'),
        "http://h.example.org/a\tb": ("h.example.org", "/a\tb"),
        "http://h.example.org:8080/a\x01b": ("h.example.org", "/a\x01b"),
        "http://[::1/": (None, None),
        "http://ho|st/x": (None, None),
    }
    accepted = [
        "http://h.example.org/p/1?q=a+b", "http://h.example.org", "http://[::1]:80/x",
        "http://a_b.example.org/x", "mailto:x@example.org", "foo/bar",
        "https://www.example.org/x/", "ftp://h.example.org:21/%7Ex#f",
    ]
    df = spark.createDataFrame([(u,) for u in [*rejected, *accepted]], "url string")
    rows = canonicalize_frontier(df).select(
        "url", "url_norm", "host", "url_path",
        F.try_parse_url("url_norm", F.lit("HOST")).alias("uri_host"),
        F.try_parse_url("url_norm", F.lit("PATH")).alias("uri_path"),
    ).collect()
    for r in rows:
        if r["url"] in rejected:
            assert r["uri_host"] is None and r["uri_path"] is None, r["url_norm"]
            assert (r["host"], r["url_path"]) == rejected[r["url"]], r["url_norm"]
        else:
            assert r["host"] == r["uri_host"], r["url_norm"]
            assert r["url_path"] == (r["uri_path"] if r["uri_path"] is not None else "/")


def test_cdx11_golden_lines(spark):
    """Exact CDX-11 lines from DereferencingArchiveToCDXRecordReaderTest.java:90-93
    (the 3rd and 9th records of the blackbook ARC)."""
    from webarchive_discovery_spark.operators.cdx import cdx11_line

    rows = [
        ("archive.org/robots.txt", "20080430204825", "http://www.archive.org/robots.txt",
         "text/plain", 200, "SUCGMUVXDKVB5CS2NL4R4JABNX7K466U", None, None, 523, 776,
         "IAH-20080430204825-00000-blackbook-truncated.arc.gz"),
        ("archive.org/services/collection-rss.php", "20080430204830",
         "http://www.archive.org/services/collection-rss.php", "text/xml", 200,
         "JXXJNHJX4GEM44C4NOM3RJWKMKVBIGHF", None, None, 6965, 11441,
         "IAH-20080430204825-00000-blackbook-truncated.arc.gz"),
    ]
    schema = ("urlkey string, timestamp string, url string, mime string, status_code int, "
              "digest string, redirect string, meta string, compressed_length long, "
              "record_offset long, source_file string")
    out = cdx11_line(spark.createDataFrame(rows, schema)).collect()
    assert out[0].cdx_line == (
        "archive.org/robots.txt 20080430204825 http://www.archive.org/robots.txt "
        "text/plain 200 SUCGMUVXDKVB5CS2NL4R4JABNX7K466U - - 523 776 "
        "IAH-20080430204825-00000-blackbook-truncated.arc.gz")
    assert out[1].cdx_line == (
        "archive.org/services/collection-rss.php 20080430204830 "
        "http://www.archive.org/services/collection-rss.php text/xml 200 "
        "JXXJNHJX4GEM44C4NOM3RJWKMKVBIGHF - - 6965 11441 "
        "IAH-20080430204825-00000-blackbook-truncated.arc.gz")


def test_sentiment_bucket_mapping(spark):
    """SentimentJTextAnalyser.java:63-86 arithmetic: comparative, signed-log
    squash, floor bucket.  The log/40 squash keeps web text near Neutral —
    faithful to the reference mapping."""
    import math

    from webarchive_discovery_spark.operators.textstats import (
        SENTIMENT_LEXICON,
        SENTIMENTS,
        sentiment_bucket,
    )

    rows = [
        (0, "good good good"),
        (1, "awful awful"),
        (2, "nothing scored here"),
    ]
    df = spark.createDataFrame(rows, "id int, txt string")
    got = {r.id: (r.sentiment, r.sentiment_score) for r in
           sentiment_bucket(df, "txt").collect()}

    def expected(txt):
        # same non-overlapping padded-occurrence semantics as the operator
        padded = f" {txt.lower()} "
        total = sum(padded.count(f" {w} ") * v for w, v in SENTIMENT_LEXICON.items())
        comp = total / len(txt.split())
        sl = math.copysign(math.log(1 + abs(comp)) / 40.0, comp) if comp else 0.0
        return SENTIMENTS[max(0, min(6, int(7 * (0.5 + sl))))], comp

    for i, txt in rows:
        bucket, comp = expected(txt)
        assert got[i][0] == bucket
        assert abs(got[i][1] - comp) < 1e-6
    assert SENTIMENT_LEXICON["good"] == 2  # lexicon sanity


def test_postcode_extract_goldens(spark):
    """PostcodeAnalyser.java:46 regex + district split."""
    from webarchive_discovery_spark.operators.textstats import postcode_extract

    df = spark.createDataFrame(
        [(1, "Visit us at SW1A 1AA or EC1R 0NE; bad ones: sw1a 1aa, SW1A1AA, Z99 9CC")],
        "id int, txt string",
    )
    r = postcode_extract(df, "txt").first()
    assert r.postcode == ["EC1R 0NE", "SW1A 1AA"]  # lowercase/nospace/9CC rejected
    assert r.postcode_district == ["EC1R", "SW1A"]


def test_lang_id_many_languages(spark):
    from webarchive_discovery_spark.operators.textstats import LANG_MARKERS, lang_id

    assert len(LANG_MARKERS) >= 50  # fastText-class breadth, heuristic depth
    rows = [
        (0, "the cat and the dog of a house"),
        (1, "der Hund und die Katze und das Haus"),
        (2, "yang dan di untuk dan yang"),
        (3, "и не на что не и что"),
        (4, "zzz qqq xxx"),
        # no-boundary scripts: markers counted as raw substrings
        (5, "这是一个的测试了在这里的"),
        (6, "これはのテストですにはを"),
        (7, "มีที่และไม่ของที่นี่"),
        (8, "감사합니다 있는 것 입니다 하는"),
        # space-delimited additions
        (9, "في من على هذا من في"),
        (10, "यह है के में की है"),
        (11, "και το της που και το"),
        (12, "và của là không của và"),
        (13, "і не що це що і"),
    ]
    df = spark.createDataFrame(rows, "id int, txt string")
    got = {r.id: r.lang_pred for r in lang_id(df, "txt").collect()}
    assert got == {0: "en", 1: "de", 2: "id", 3: "ru", 4: "und",
                   5: "zh", 6: "ja", 7: "th", 8: "ko", 9: "ar",
                   10: "hi", 11: "el", 12: "vi", 13: "uk"}


def test_explicit_boundary_partition_goldens(spark):
    """AlphaPartitioner.getPartition floor-binary-search semantics."""
    from webarchive_discovery_spark.operators.cdx import (
        explicit_boundary_partition,
        explicit_boundary_sort,
    )

    bounds = ["com,", "net,", "org,"]
    rows = [("aaa,",), ("com,",), ("com,zzz",), ("net,abc",), ("org,",), ("zzz,",)]
    df = spark.createDataFrame(rows, "urlkey string")
    got = {r.urlkey: r.partition_id for r in
           explicit_boundary_partition(df, "urlkey", bounds).collect()}
    assert got == {"aaa,": 0, "com,": 0, "com,zzz": 0,
                   "net,abc": 1, "org,": 2, "zzz,": 2}

    # global-order property across explicit partitions
    from pyspark.sql import functions as F
    out = explicit_boundary_sort(df, "urlkey", bounds).withColumn(
        "pp", F.spark_partition_id()
    ).collect()
    seq = [(r.pp, r.partition_id, r.urlkey) for r in out]
    assert sorted(seq) == sorted(seq, key=lambda t: (t[0], t[2]))


def test_revisit_shortcircuit(spark):
    """WARCIndexer.java:432-437: revisits drop content_length and copy the
    served type into content_type."""
    from webarchive_discovery_spark.operators.reduplication import revisit_shortcircuit

    rows = [
        ("response", 100, "text/html; via-tika", "text/html"),
        ("revisit", 0, None, "text/plain"),
    ]
    df = spark.createDataFrame(
        rows, "record_type string, content_length int, content_type string, content_type_served string"
    )
    got = {r.record_type: r for r in revisit_shortcircuit(df).collect()}
    assert got["response"].content_length == 100
    assert got["response"].content_type == "text/html; via-tika"
    assert got["revisit"].content_length is None
    assert got["revisit"].content_type == "text/plain"


def test_minhash_bucket_cap(spark):
    """A degenerate bucket (many identical docs) is bounded to cap² pairs."""
    from webarchive_discovery_spark.operators.dedup import minhash_lsh_candidates

    df = spark.createDataFrame(
        [(i, "identical text body for every row here") for i in range(20)],
        "doc_id int, text string",
    )
    capped = minhash_lsh_candidates(df, "text", "doc_id", max_bucket_size=5)
    # 5 docs per bucket → C(5,2)=10 pairs (identical docs share all bands)
    assert capped.count() == 10
    full = minhash_lsh_candidates(df, "text", "doc_id", max_bucket_size=None)
    assert full.count() == 190  # C(20,2)


def test_ctph_fuzzy_hash_properties(spark):
    """CTPH invariants: identical text → identical signature (whitespace/case
    insensitive); small edits keep high signature similarity; unrelated text
    scores low.  Kernel: functions/ctph.py (Kornblum 2006 scheme)."""
    from webarchive_discovery_spark.functions.ctph import ctph, ctph_similarity

    base = " ".join(f"word{i % 97} token{i % 31}" for i in range(400))
    bs, sig, sig2 = ctph(base)
    assert bs >= 3 and 1 <= len(sig) <= 64 and len(sig2) <= 64
    assert ctph("  " + base.upper() + " ")[1] == sig  # canonicalization
    edited = base.replace("word5 ", "wordX ", 3)
    assert ctph_similarity(sig, ctph(edited, block_size=bs)[1]) > 0.5
    other = " ".join(f"zzz{i * 7 % 53}" for i in range(400))
    assert ctph_similarity(sig, ctph(other, block_size=bs)[1]) < 0.3


def test_ssdeep_hash_operator(spark):
    from webarchive_discovery_spark.operators.dedup import ssdeep_hash

    df = spark.createDataFrame(
        [(1, "alpha beta " * 50), (2, "alpha beta " * 50), (3, None)],
        "doc_id int, text string",
    )
    rows = {r.doc_id: r for r in ssdeep_hash(df, "text", "doc_id").collect()}
    assert rows[1].ssdeep_sig == rows[2].ssdeep_sig
    assert rows[1].blocksize >= 3
    assert rows[3].ssdeep_sig is None


def test_arcname_rules_first_match_wins(spark):
    """ARCNameAnalyser.java:123-133: ordered rules, first matching pattern
    wins for every field (later rules never fill what the winner left
    unset); $N templates behave like Java replaceAll."""
    from webarchive_discovery_spark.operators.arcname import apply_arcname_rules

    rules = [
        (r"([0-9]+)-([0-9]+)-([0-9]{4})([0-9]{2})([0-9]{2})([0-9]{2})([0-9]{2})([0-9]{2})-([0-9]+)-(sb-prod-har)-([0-9]{1,3})\.(arc)",
         {"arc_type": "sb", "arc_harvesttime": "$3-$4-$5T$6:$7:$8.000Z"}),
        (r".*\.(warc|arc)", {"arc_type": "generic"}),
    ]
    df = spark.createDataFrame(
        [("25666-33-20080331234154-00000-sb-prod-har-1.arc",),
         ("whatever.warc",),
         ("nomatch.txt",)],
        "source_file string",
    )
    rows = {r.source_file: r for r in apply_arcname_rules(df, rules).collect()}
    sb = rows["25666-33-20080331234154-00000-sb-prod-har-1.arc"]
    assert sb.arc_type == "sb"
    assert sb.arc_harvesttime == "2008-03-31T23:41:54.000Z"
    generic = rows["whatever.warc"]
    assert generic.arc_type == "generic"
    assert generic.arc_harvesttime is None  # first-match-wins: rule 2 sets nothing else
    none = rows["nomatch.txt"]
    assert none.arc_type is None and none.arc_harvesttime is None

    # plan is pure codegen: no Python nodes
    plan = apply_arcname_rules(df, rules)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_warc_regex_matches_semantics(spark):
    """WARCRegexMapper.java:78-93: digits-only-date/url key ('0/unknown'
    when header empty), every match of the pattern over the payload head."""
    from webarchive_discovery_spark.operators.aggregates import warc_regex_matches

    df = spark.createDataFrame(
        [("2024-03-05T06:07:08Z", "http://a.org/", "see AB12 and AB34 and AB12"),
         (None, None, "AB99 here"),
         ("2024-01-01T00:00:00Z", "http://b.org/", "no matches")],
        "warc_date string, target_uri string, payload string",
    )
    rows = [(r.record_key, r.match)
            for r in warc_regex_matches(df, "AB[0-9]+").collect()]
    assert rows.count(("20240305060708/http://a.org/", "AB12")) == 2
    assert ("20240305060708/http://a.org/", "AB34") in rows
    assert ("0/unknown", "AB99") in rows
    assert len(rows) == 4  # third record contributes nothing


def test_connected_components_semantics(spark):
    """Min-label propagation: multi-hop chains converge to the component
    min; singletons keep their own id; deterministic at any parallelism."""
    from webarchive_discovery_spark.operators.dedup import connected_components

    verts = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    # chain 0-1-2-3 (diameter 3), pair 5-6, singletons 4 and 7
    pairs = spark.createDataFrame(
        [(1, 0), (2, 1), (3, 2), (6, 5)], "id_a long, id_b long")
    got = {r.id: r.component
           for r in connected_components(verts, pairs, id_col="doc_id").collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 5, 6: 5, 7: 7}



def test_loop_operators_leave_shuffle_partitions_alone(spark, monkeypatch):
    """The connected-components and IVF k-means loops size their rounds'
    exchanges in the plan: neither writes the session-wide
    ``spark.sql.shuffle.partitions`` (a concurrent query on the session
    would inherit the loop's width)."""
    from pyspark.sql.conf import RuntimeConfig

    from webarchive_discovery_spark.operators.dedup import connected_components
    from webarchive_discovery_spark.operators.similarity import ivf_train

    keys = []
    orig = RuntimeConfig.set

    def record(self, key, value):
        keys.append(key)
        return orig(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", record)
    verts = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    pairs = spark.createDataFrame([(1, 0), (2, 1), (6, 5)], "id_a long, id_b long")
    got = {r.id: r.component
           for r in connected_components(verts, pairs, id_col="doc_id").collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 5, 6: 5, 7: 7}
    emb = spark.createDataFrame(
        [([float(i % 3 == d) for d in range(4)],) for i in range(30)],
        "embedding array<double>")
    assert ivf_train(emb, dim=4, n_lists=3, iters=2).shape == (3, 4)
    assert keys, "expected the loops' static_plans conf writes"
    assert "spark.sql.shuffle.partitions" not in keys, keys

def test_minhash_xxhash64_variant_same_candidates(spark):
    """The xxhash64 production hash family must yield the same candidate
    semantics as the oracle-parity md5 family on clear duplicates (identical
    docs collide in every band under ANY min-wise hash)."""
    from webarchive_discovery_spark.operators import dedup

    words = {
        0: "alpha beta gamma delta epsilon zeta eta theta",
        1: "one two three four five six seven eight nine",
        2: "red orange yellow blue indigo violet green cyan",
    }
    rows = [(i, words[i % 3]) for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, txt string")
    md5_pairs = {
        (r.id_a, r.id_b, r.n_bands_matched)
        for r in dedup.minhash_lsh_candidates(df, "txt", "doc_id").collect()
    }
    xx_pairs = {
        (r.id_a, r.id_b, r.n_bands_matched)
        for r in dedup.minhash_lsh_candidates(
            df, "txt", "doc_id", hash_fn="xxhash64"
        ).collect()
    }
    # identical docs → all 4 bands match in both families
    expect = {
        (a, b, 4) for a in range(12) for b in range(12) if a < b and a % 3 == b % 3
    }
    assert md5_pairs == expect
    assert xx_pairs == expect


def test_postcode_locations_gazetteer_join(spark):
    """District → 'lat,lng' location join (PostcodeGeomapper semantics:
    unmapped districts contribute nothing; no-postcode rows yield empty)."""
    from webarchive_discovery_spark.operators import textstats

    docs = spark.createDataFrame(
        [(1, "Write to AB10 1AA or LS23 6AB today"), (2, "no postcodes here")],
        "doc_id long, txt string",
    )
    gaz = spark.createDataFrame(
        [("AB10", "57.131086,-2.122482"), ("ZZ99", "0,0")],
        "outcode string, location string",
    )
    got = {
        r.doc_id: r.locations
        for r in textstats.postcode_locations(
            textstats.postcode_extract(docs, "txt"), gaz, id_cols=["doc_id"]
        ).collect()
    }
    assert got[1] == ["57.131086,-2.122482"]  # LS23 unmapped -> dropped
    assert got[2] == []
    import pytest

    with pytest.raises(ValueError, match="id_cols"):
        textstats.postcode_locations(textstats.postcode_extract(docs, "txt"), gaz)


def test_parse_robots_txt(spark):
    """Robots payloads → politeness rules: UA-section tracking (grouped UA
    lines, other agents ignored), comment stripping, empty-Disallow
    allow-all, fractional Crawl-delay seconds → ms."""
    from webarchive_discovery_spark.operators.frontier import parse_robots_txt

    txt_a = (
        "# banner comment\n"
        "User-agent: otherbot\n"
        "Disallow: /private\n"
        "\n"
        "User-agent: googlebot\n"
        "User-agent: *\n"          # grouped UA lines share the section
        "Disallow: /p/  # trailing comment\n"
        "Allow: /p/open\n"
        "Crawl-delay: 0.3\n"
    )
    txt_b = "User-agent: *\nDisallow:\n"  # empty Disallow = allow all
    df = spark.createDataFrame(
        [("a.org", txt_a, "robots.txt"), ("b.org", txt_b, "robots.txt"),
         ("c.org", "<html>404 page</html>", "normal")],
        "host string, payload string, url_type string",
    )
    rows = {(r.host, r.rule_type, r.path_prefix, r.crawl_delay_ms)
            for r in parse_robots_txt(df).collect()}
    assert rows == {
        ("a.org", "deny", "/p/", 300),
        ("a.org", "allow", "/p/open", 300),
    }


def test_global_sequence_broadcast_offset_fallback(spark, monkeypatch):
    """Past ``_OFFSET_LITERAL_MAX`` staged partitions the offset map becomes
    a broadcast join instead of a literal ``create_map`` — sequences stay a
    contiguous 1..N permutation in the requested total order, and the plan
    size stays bounded as the partition count grows (the literal map would
    scale it linearly)."""
    from webarchive_discovery_spark.operators import frontier as fop

    monkeypatch.setattr(fop, "_OFFSET_LITERAL_MAX", 4)
    df = spark.range(20_000).select(
        F.concat(F.lit("k"), F.format_string("%06d", (F.col("id") * 7919) % 20_000)).alias("k")
    )
    plans = {}
    for parts in (32, 256):
        out = fop.global_sequence(df, [F.col("k").asc()], seq_col="seq",
                                  num_partitions=parts)
        plans[parts] = out._jdf.queryExecution().executedPlan().toString()
        rows = out.select("k", "seq").collect()
        seqs = [r["seq"] for r in sorted(rows, key=lambda r: r["k"])]
        assert seqs == list(range(1, 20_001)), f"non-contiguous at {parts} parts"
    assert "BroadcastHashJoin" in plans[256]
    # 8x the partitions must not inflate the plan linearly (literal map would)
    assert len(plans[256]) < 2 * len(plans[32]), (len(plans[32]), len(plans[256]))


def test_parse_robots_txt_ua_specificity(spark):
    """RFC 9309 §2.2.1 group selection: a specific agent obeys its own
    section when one exists anywhere in the host's file (the '*' group is
    then ignored entirely), else falls back to the '*' group; and the FIRST
    parseable Crawl-delay in file order wins — not the smallest value."""
    from webarchive_discovery_spark.operators.frontier import parse_robots_txt

    txt_a = (  # has a mybot section -> the '*' group must be ignored
        "User-agent: *\nDisallow: /all\nCrawl-delay: 1\n\n"
        "User-agent: mybot\nDisallow: /mine\n"
        "Crawl-delay: oops\n"   # unparseable -> skipped
        "Crawl-delay: 0.5\n"    # first parseable -> wins
        "Crawl-delay: 0.1\n"    # smaller but later -> must NOT win
    )
    txt_b = "User-agent: *\nDisallow: /fallback\nCrawl-delay: 2\n"
    df = spark.createDataFrame(
        [("a.org", txt_a, "robots.txt"), ("b.org", txt_b, "robots.txt")],
        "host string, payload string, url_type string",
    )
    rows = {(r.host, r.rule_type, r.path_prefix, r.crawl_delay_ms)
            for r in parse_robots_txt(df, user_agent="mybot").collect()}
    assert rows == {
        ("a.org", "deny", "/mine", 500),
        ("b.org", "deny", "/fallback", 2000),
    }


def test_recrawl_schedule_aimd(spark):
    """Adaptive revisit intervals: first fetch counts as changed; interval
    doubles per consecutive unchanged fetch, capped; due at last+interval."""
    from webarchive_discovery_spark.operators.frontier import recrawl_schedule

    rows = [
        # u1: changes every fetch -> streak 0, interval 1, due at epoch 4
        (1, 0, "a"), (1, 1, "b"), (1, 2, "c"),
        # u2: static since epoch 0 -> streak 2, interval 4, due at 0+... last=2 -> 2+4=6 > 4 => not due
        (2, 0, "x"), (2, 1, "x"), (2, 2, "x"),
        # u3: changed at 1, unchanged at 2 -> streak 1, interval 2, last=2 -> due at 4
        (3, 0, "p"), (3, 1, "q"), (3, 2, "q"),
        # u4: single old fetch -> streak 0, interval 1, due
        (4, 0, "z"),
    ]
    df = spark.createDataFrame(rows, "url_hash long, epoch int, digest string")
    got = {r.key: r for r in recrawl_schedule(df, current_epoch=4).collect()}
    assert (got[1].streak, got[1].interval, got[1].due) == (0, 1, True)
    assert (got[1].n_fetches, got[1].n_changes) == (3, 3)
    assert (got[2].streak, got[2].interval, got[2].due) == (2, 4, False)
    assert (got[3].streak, got[3].interval, got[3].due) == (1, 2, True)
    assert (got[4].streak, got[4].interval, got[4].due) == (0, 1, True)
    # cap: 6 unchanged fetches would give 2^6=64 -> capped at max_interval
    long_static = [(9, e, "s") for e in range(8)]
    df2 = spark.createDataFrame(long_static, "url_hash long, epoch int, digest string")
    r = recrawl_schedule(df2, current_epoch=100, max_interval=16).collect()[0]
    assert (r.streak, r.interval, r.due) == (7, 16, True)


def test_simhash_pairs_pigeonhole_exact(spark):
    """Band-index candidates must find EXACTLY the brute-force Hamming
    pairs when max_hamming < bands (pigeonhole soundness)."""
    import itertools

    import pytest

    from webarchive_discovery_spark.operators.dedup import simhash_near_dup_pairs

    hashes = [0b0000_0000_0000_0000, 0b0000_0000_0000_0101,  # d=2
              0b1111_0000_0000_0000,                          # d=4 from 0
              0b0000_0000_0000_0111]                          # d=3 from 0, d=1 from idx1
    df = spark.createDataFrame(
        [(i, h) for i, h in enumerate(hashes)], "doc_id long, simhash long"
    )
    got = {(r.id_a, r.id_b, r.hamming)
           for r in simhash_near_dup_pairs(df, max_hamming=3).collect()}
    expect = set()
    for (i, a), (j, b) in itertools.combinations(enumerate(hashes), 2):
        d = bin(a ^ b).count("1")
        if d <= 3:
            expect.add((i, j, d))
    assert got == expect and len(got) > 0
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_near_dup_pairs(df, max_hamming=4, bands=4)


def test_simhash_pairs_auto_band_minimum(spark):
    """bands=None picks the least divisor of bits > max_hamming, and the
    single-band (max_hamming=0) fast path returns exactly the hash-equal
    pairs with no explode/aggregate in the plan."""
    from webarchive_discovery_spark.operators.dedup import simhash_near_dup_pairs

    hashes = [7, 7, 7, 9, 9, 21]
    df = spark.createDataFrame(
        [(i, h) for i, h in enumerate(hashes)], "doc_id long, simhash long"
    )
    got = {(r.id_a, r.id_b, r.hamming)
           for r in simhash_near_dup_pairs(df, max_hamming=0).collect()}
    assert got == {(0, 1, 0), (0, 2, 0), (1, 2, 0), (3, 4, 0)}
    plan = simhash_near_dup_pairs(df, max_hamming=0)._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan and "HashAggregate" not in plan
    # auto selection stays sound at other hamming radii (least divisor of
    # 16 > mh: 1→2 bands, 2→4, 3→4): output must equal brute force
    import itertools

    for mh in (1, 2, 3):
        expect = {(i, j, bin(a ^ b).count("1"))
                  for (i, a), (j, b) in itertools.combinations(enumerate(hashes), 2)
                  if bin(a ^ b).count("1") <= mh}
        got_mh = {(r.id_a, r.id_b, r.hamming)
                  for r in simhash_near_dup_pairs(df, max_hamming=mh).collect()}
        assert got_mh == expect


def test_simhash_components_contraction_equivalence(spark):
    """``simhash_components`` (distinct-hash contraction) must label every
    row exactly as the uncontracted pairs→connected_components pipeline —
    including shared-hash groups with no near neighbor, chains that connect
    ACROSS hash groups, and singletons."""
    from webarchive_discovery_spark.operators.dedup import (
        connected_components, simhash_components, simhash_near_dup_pairs)

    # groups: {0,1,2} share hash 7; {3,4} share 9 (hamming(7,9)=3 → chains
    # with the first group); 5 is hamming-1 from 9; 6 is a far singleton
    hashes = [7, 7, 7, 9, 9, 13, 0x5A00]
    df = spark.createDataFrame(
        [(i + 10, h) for i, h in enumerate(hashes)], "doc_id long, simhash long"
    )
    direct_pairs = simhash_near_dup_pairs(df, max_hamming=3)
    direct = {(r.id, r.component) for r in connected_components(
        df.select("doc_id"), direct_pairs.select("id_a", "id_b"),
        id_col="doc_id").collect()}
    contracted = {(r.id, r.component)
                  for r in simhash_components(df, max_hamming=3).collect()}
    assert contracted == direct
    # sanity on the data's structure: one big chained component + singleton
    comp_of = dict(contracted)
    assert comp_of[16] == 16 and len({c for _, c in contracted}) == 2



def test_simhash_components_keeps_null_hash_rows(spark):
    """A row with a NULL hash has no near neighbour: it comes out as a
    singleton (component = its own id), as the uncontracted pairs →
    connected_components pipeline labels it, and the output keeps one row
    per input row."""
    from webarchive_discovery_spark.operators.dedup import (
        connected_components, simhash_components, simhash_near_dup_pairs)

    hashes = [7, 7, None, 9, None, 0x5A00]
    df = spark.createDataFrame(
        [(i + 10, h) for i, h in enumerate(hashes)], "doc_id long, simhash long"
    )
    direct_pairs = simhash_near_dup_pairs(df, max_hamming=3)
    direct = {(r.id, r.component) for r in connected_components(
        df.select("doc_id"), direct_pairs.select("id_a", "id_b"),
        id_col="doc_id").collect()}
    rows = simhash_components(df, max_hamming=3).collect()
    assert len(rows) == len(hashes)
    assert {(r.id, r.component) for r in rows} == direct
    assert {(12, 12), (14, 14)} <= direct

def test_gopher_quality_filter_rules(spark):
    """Per-rule audit flags + conjunction; bullet/ellipsis line rules."""
    from webarchive_discovery_spark.operators.textstats import gopher_quality_filter

    good = ("the quick brown fox jumps over to rest near of water and then " +
            "plain steady filler words flow gently onward here now " * 6)
    bullets = "\n".join(f"- item {i}" for i in range(20))
    ellipsis = "\n".join(f"the line of text number {i} trails off..." for i in range(20))
    df = spark.createDataFrame(
        [(0, good), (1, bullets), (2, ellipsis)], "id int, txt string"
    )
    got = {r.id: r for r in gopher_quality_filter(df, "txt", min_words=10).collect()}
    assert got[0].gopher_pass
    assert not got[1].gq_bullet_lines and not got[1].gopher_pass
    assert not got[2].gq_ellipsis_lines and not got[2].gopher_pass


def test_repetition_stats(spark):
    from webarchive_discovery_spark.operators.textstats import repetition_stats

    rows = [
        (0, "unique one\nunique two\nunique three"),
        (1, "same line\nsame line\nsame line\nother"),   # 2 dup lines of 4
        (2, "spam spam spam ham"),                        # top word 3x4=12 of 15 chars
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "id int, txt string")
    got = {r.id: r for r in repetition_stats(df, "txt", "id").collect()}
    assert got[0].dup_line_fraction == 0.0
    assert abs(got[1].dup_line_fraction - 2 / 4) < 1e-9
    # dup chars: 2 extra copies of "same line" (9 chars) over 9*3+5=32
    assert abs(got[1].dup_line_char_fraction - 18 / 32) < 1e-9
    assert abs(got[2].top_word_char_fraction - 12 / 15) < 1e-6
    assert got[3].dup_line_fraction == 0.0 and got[3].top_word_char_fraction == 0.0


def test_c4_line_filter(spark):
    from webarchive_discovery_spark.operators.textstats import c4_line_filter

    doc = "\n".join([
        "This line is a keeper sentence.",
        "short one.",                           # < 3 words
        "No terminal punctuation here",         # no ./!/?
        "Enable javascript to continue please.",  # boilerplate
        "function f() { return 1; }",           # braces
        "Lorem ipsum dolor sit amet.",          # lorem
        'He said "stop right there!"',          # quote after !
    ])
    df = spark.createDataFrame([(1, doc)], "id int, txt string")
    r = c4_line_filter(df, "txt").collect()[0]
    assert r.clean_text == (
        'This line is a keeper sentence.\nHe said "stop right there!"'
    )
    assert (r.c4_lines_kept, r.c4_lines_total) == (2, 7)


def test_training_corpus_pipeline(spark):
    """The composed corpus builder: every drop attributed to its first
    failing stage; exact and near dups keep the smallest id."""
    from webarchive_discovery_spark.plans.training import build_training_corpus

    good = ("the quick brown fox jumps over to rest near of water and then. " +
            "Plain steady filler words flow gently onward here and now again. " * 6)
    rows = [
        (0, good),
        (1, good),                                  # exact dup of 0
        (2, good + " An extra trailing sentence of the day."),  # near dup of 0
        (3, "the short doc of it."),                # en, fails gopher min_words
        (4, ("el texto que de los libros y una casa en la calle grande es que hay. " * 8)),  # es
        (5, "spam " * 80 + "the be to of and that have with end."),  # word spam
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = build_training_corpus(df, languages=("en",))
    corpus_rows = out["corpus"].collect()
    corpus = {r.id for r in corpus_rows}
    assert all(r.pii_email_count == 0 for r in corpus_rows)  # scrub ran
    audit = {r.id: r.drop_reason for r in out["audit"].collect()}
    assert 0 in corpus
    assert audit[1] == "exact_dup"
    assert audit[2] == "near_dup"
    assert audit[3] == "gopher_quality"
    assert audit[4] == "language"
    assert audit[5] == "word_spam"
    assert corpus | set(audit) == set(range(6)) and corpus.isdisjoint(audit)


def test_training_corpus_pipeline_simhash_strategy(spark):
    """near_dup="simhash" (the oracled variant): a token-PERMUTED document
    has an identical SimHash (order-invariant token bag → Hamming 0) and is
    dropped as near_dup even though its byte string survives exact dedup."""
    import pytest as _pytest
    from webarchive_discovery_spark.plans.training import build_training_corpus

    words = ("the quick brown fox jumps over to rest near of water and then "
             "plain steady filler words flow gently onward here and again "
             "more calm prose keeps the counter healthy for gating rules "
             "other quiet phrases pad this sample corpus toward the gate "
             "minimum word threshold easily while staying ordinary text "
             "final words settle the tally").split()
    good = " ".join(words) + " now."
    perm = " ".join(words[10:] + words[:10]) + " now."
    rows = [(0, good), (1, good), (2, perm),
            (3, "the short doc of it.")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = build_training_corpus(df, languages=("en",), near_dup="simhash")
    corpus = {r.id for r in out["corpus"].collect()}
    audit = {r.id: r.drop_reason for r in out["audit"].collect()}
    assert corpus == {0}
    assert audit[1] == "exact_dup"
    assert audit[2] == "near_dup"
    assert audit[3] == "gopher_quality"
    with _pytest.raises(ValueError, match="unknown near_dup"):
        build_training_corpus(df, near_dup="nope")


def test_redact_pii(spark):
    from webarchive_discovery_spark.operators.textstats import redact_pii

    doc = ("Mail alice.smith+x@example.co.uk or call +44 20 7946 0958; "
           "server at 192.168.1.10 responded.")
    df = spark.createDataFrame([(1, doc)], "id int, txt string")
    r = redact_pii(df, "txt").collect()[0]
    assert r.pii_email_count == 1 and r.pii_ip_count == 1 and r.pii_phone_count == 1
    assert "[EMAIL]" in r.redacted_text and "[IP]" in r.redacted_text
    assert "[PHONE]" in r.redacted_text
    assert "alice" not in r.redacted_text and "192.168" not in r.redacted_text


def test_bpe_tokenizer_properties(spark):
    """Real BPE (functions/bpe.py): training is deterministic, encoding
    round-trips (concatenated symbols == word + </w>), counts are linear
    over whitespace words, OOV words split into multiple learned subwords,
    and the Spark with_bpe path matches local reference counts."""
    from webarchive_discovery_spark.functions.bpe import (
        BPETokenizer, default_tokenizer, train_bpe, _CORPUS, NUM_MERGES,
    )
    from webarchive_discovery_spark.operators import textstats

    tok = default_tokenizer()
    assert train_bpe(_CORPUS, NUM_MERGES) == train_bpe(_CORPUS, NUM_MERGES)
    for w in ("archive", "recrawlability", "zzxqv"):
        syms = tok.encode_word(w)
        assert "".join(syms) == w + "</w>", w
    assert tok.count_word("recrawlability") > 1  # genuine subword split
    a, b = "the archive", "preserves pages"
    assert tok.count_tokens(a + " " + b) == tok.count_tokens(a) + tok.count_tokens(b)

    df = spark.createDataFrame(
        [(1, "the archive preserves recrawlability"), (2, None)],
        "doc_id long, txt string",
    )
    rows = {r["doc_id"]: r for r in
            textstats.token_stats(df, "txt", "doc_id", with_bpe=True).collect()}
    assert rows[1]["bpe_tokens"] == tok.count_tokens("the archive preserves recrawlability")
    assert rows[2]["bpe_tokens"] is None


def test_robots_match_rfc9309_wildcards(spark):
    """RFC 9309 §2.2.3 patterns in robots rules: '*' matches any char run,
    a trailing '$' anchors the end, regex metas in paths stay literal, and
    most-specific (longest pattern) still wins; plain rules keep the fast
    literal-prefix path."""
    from webarchive_discovery_spark.operators.frontier import robots_match

    rules = spark.createDataFrame(
        [
            ("w.org", "deny", "/*.pdf$", 100),       # any .pdf, end-anchored
            ("w.org", "deny", "/private*/x", 100),    # wildcard mid-path
            ("w.org", "allow", "/private-open/x", 100),  # longer, literal
            ("w.org", "deny", "/a+b/", 100),          # '+' must stay literal
        ],
        "host string, rule_type string, path_prefix string, crawl_delay_ms int",
    )
    frontier = spark.createDataFrame(
        [
            ("w.org", "/docs/report.pdf"),       # denied by /*.pdf$
            ("w.org", "/docs/report.pdfx"),      # NOT end-anchored match -> allowed
            ("w.org", "/private123/x/y"),        # denied by wildcard
            ("w.org", "/private-open/x/y"),      # allow wins (longer pattern)
            ("w.org", "/a+b/c"),                 # denied literally
            ("w.org", "/aab/c"),                 # '+' not regex -> allowed
            ("w.org", "/other"),                 # no rule -> allowed
        ],
        "host string, url_path string",
    )
    got = {r["url_path"]: r["robots_allowed"]
           for r in robots_match(frontier, rules).collect()}
    assert got == {
        "/docs/report.pdf": False,
        "/docs/report.pdfx": True,
        "/private123/x/y": False,
        "/private-open/x/y": True,
        "/a+b/c": False,
        "/aab/c": True,
        "/other": True,
    }


@pytest.mark.parametrize("budget", ["int", "column"])
def test_schedule_fetches_policy(spark, budget):
    """The shared fetch scheduler (crawl loop, frontier_fetch_order gate,
    profiling script): fetch_seq is 1..n over the fetched rows, a denied
    row never takes a politeness slot, fetched ⇔ allowed ∧ slot ≤ budget,
    a per-row Column budget works, and the output does not depend on the
    number of range partitions."""
    from webarchive_discovery_spark.operators.frontier import schedule_fetches

    df = spark.createDataFrame(
        [(f"k{i:03d}", f"h{i % 3}", (i * 7 % 10) / 5.0, i % 4 != 0, 100 * (i % 3 + 1))
         for i in range(60)],
        "url_key string, host string, priority double, robots_allowed boolean,"
        " crawl_delay_ms int",
    )
    if budget == "int":
        b, limit = 5, {"h0": 5, "h1": 5, "h2": 5}
    else:  # a crawl-delay-derived budget: 1000 ms / delay
        b = F.floor(F.lit(1000) / F.col("crawl_delay_ms"))
        limit = {"h0": 10, "h1": 5, "h2": 3}
    runs = [sorted(schedule_fetches(df, b, num_partitions=n).collect(),
                   key=lambda r: r["url_key"]) for n in (1, 4)]
    assert runs[0] == runs[1]
    out = runs[0]

    fetched = sorted((r for r in out if r["status"] == "fetched"),
                     key=lambda r: r["fetch_seq"])
    assert [r["fetch_seq"] for r in fetched] == list(range(1, len(fetched) + 1))
    assert all(r["fetch_seq"] is None for r in out if r["status"] != "fetched")
    # fetch order: band desc, slot asc, url_key asc
    keys = [(-r["priority_band"], r["host_slot"], r["url_key"]) for r in fetched]
    assert keys == sorted(keys)

    for host in limit:
        allowed_before = 0
        for r in sorted((r for r in out if r["host"] == host),
                        key=lambda r: (-r["priority"], r["url_key"])):
            allowed_before += r["robots_allowed"]
            assert r["host_slot"] == allowed_before  # denied rows add nothing
            assert (r["status"] == "fetched") == (
                r["robots_allowed"] and r["host_slot"] <= limit[host])
            assert (r["status"] == "robots_denied") == (not r["robots_allowed"])
    assert {r["status"] for r in out} == {"fetched", "delayed", "robots_denied"}


def test_pagerank_properties(spark):
    """PageRank invariants: ranks sum to ~1 (dangling mass redistributed),
    a sink-heavy vertex outranks leaves, and results are deterministic
    across partitioning (after rounding)."""
    from webarchive_discovery_spark.operators.graph import pagerank

    # star into 0 plus a dangling vertex 9 (no out-edges)
    edges = [(i, 0) for i in range(1, 9)] + [(0, 9)]
    df = spark.createDataFrame(edges, "src int, dst int")
    pr = {r["vertex"]: r["rank"] for r in pagerank(df, iterations=8).collect()}
    assert abs(sum(pr.values()) - 1.0) < 1e-9
    assert pr[0] > pr[1] and pr[9] > pr[1]
    pr2 = {r["vertex"]: round(r["rank"], 9) for r in
           pagerank(df.repartition(7), iterations=8).collect()}
    assert {k: round(v, 9) for k, v in pr.items()} == pr2


def test_substring_dedup_spans_and_cut(spark):
    """First occurrence survives; later copies are flagged as maximal spans;
    the stats roll-up cuts exactly those spans from the text."""
    from webarchive_discovery_spark.operators.dedup import (
        duplicated_substring_spans, substring_dedup_stats)

    A = "ABCDEFGHIJ" * 4  # one 40-char block
    docs = spark.createDataFrame(
        [(0, "u" * 25 + A + "xyz"),       # holds the FIRST occurrence
         (1, "v" * 25 + A + "q" + A),     # two later copies, 1 char apart
         (2, "w" * 30)],                  # shorter than L — never flagged
        "doc_id long, text string",
    )
    spans = {(r.doc_id, r.span_start, r.span_end)
             for r in duplicated_substring_spans(
                 docs, "text", min_length=40, by_hash=False).collect()}
    # the gap between pos 25 and 66 is 41 > L, so the copies do NOT merge
    assert spans == {(1, 25, 65), (1, 66, 106)}
    # hashed path (the production shuffle key) agrees
    spans_h = {(r.doc_id, r.span_start, r.span_end)
               for r in duplicated_substring_spans(
                   docs, "text", min_length=40, by_hash=True).collect()}
    assert spans_h == spans
    st = {r.doc_id: r for r in substring_dedup_stats(
        docs, "text", min_length=40, by_hash=False).collect()}
    assert st[0].n_dup_spans == 0 and st[0].deduped_text == "u" * 25 + A + "xyz"
    assert st[1].n_dup_spans == 2 and st[1].dup_chars == 80
    assert st[1].deduped_text == "v" * 25 + "q"
    assert st[2].deduped_text == "w" * 30
    # adjacent copies (gap ≤ L) merge into ONE maximal span
    docs2 = spark.createDataFrame(
        [(0, A), (1, A + A)], "doc_id long, text string")
    spans2 = {(r.doc_id, r.span_start, r.span_end)
              for r in duplicated_substring_spans(
                  docs2, "text", min_length=40, by_hash=False).collect()}
    # doc1: windows 0..40 all duplicated (every 40-gram of A+A repeats in
    # doc0 or within doc1) except window 0 which is the... (doc0 pos 0 is
    # first) — doc1 pos 0 is a later copy, so the whole of A+A is one span
    assert spans2 == {(1, 0, 80)}


def test_dsir_importance_resampling(spark):
    """English-like docs outscore noise docs under an English target; the
    Gumbel top-k selection is deterministic across parallelism levels."""
    from pyspark.sql import functions as F

    from webarchive_discovery_spark.operators import dsir

    en = "the quick brown fox jumps over the lazy dog and runs away fast"
    noise = "zxq wvu tsr qpo nml kji hgf edc ba zz yy xx ww vv uu tt ss"
    rows = [(i, en + f" extra{i % 3}", "en") for i in range(10)] + [
        (100 + i, noise + f" tail{i % 3}", "xx") for i in range(10)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    feats = dsir.hashed_ngram_buckets(docs, "text", "doc_id", 256, keep_cols=["lang"])
    model = dsir.dsir_bucket_model(feats, F.col("lang") == "en", 256)
    w = dsir.dsir_log_weights(docs, "text", "doc_id", model, 256)
    got = {r.doc_id: r.log_weight for r in w.collect()}
    assert min(got[i] for i in range(10)) > max(got[100 + i] for i in range(10))
    sel = {r.doc_id for r in dsir.dsir_select(w, 8, seed=7).collect()}
    assert len(sel) == 8
    # weights dominate the Gumbel noise here: only target docs selected
    assert sel <= set(range(10))
    sel2 = {r.doc_id for r in
            dsir.dsir_select(w.repartition(8), 8, seed=7).collect()}
    assert sel2 == sel


def test_quality_classifier_training(spark):
    """In-cluster logistic regression separates target from noise docs, is
    deterministic across parallelism levels (scores rounded to 6dp), and the
    trained weights live on the driver only as a <=buckets float vector."""
    from pyspark.sql import functions as F

    from webarchive_discovery_spark.operators import dsir

    en = "the quick brown fox jumps over the lazy dog and runs away fast"
    noise = "zxq wvu tsr qpo nml kji hgf edc ba zz yy xx ww vv uu tt ss"
    rows = [(i, en + f" extra{i % 3}", "en") for i in range(10)] + [
        (100 + i, noise + f" tail{i % 3}", "xx") for i in range(10)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    x = dsir.doc_bucket_counts(docs, "text", "doc_id", F.col("lang") == "en", 256)
    w = dsir.train_quality_classifier(x, 256, iters=5, lr=0.5)
    assert len(w) == 256
    probs = {r.doc_id: r.prob
             for r in dsir.quality_scores(docs, "text", "doc_id", w, 256).collect()}
    assert min(probs[i] for i in range(10)) > max(probs[100 + i] for i in range(10))
    assert min(probs[i] for i in range(10)) > 0.5
    assert max(probs[100 + i] for i in range(10)) < 0.5
    # determinism across parallelism: retrain over a repartitioned design matrix
    w2 = dsir.train_quality_classifier(
        x.repartition(8), 256, iters=5, lr=0.5)
    assert [round(a, 9) for a in w] == [round(b, 9) for b in w2]


def test_perplexity_filter(spark):
    """LM trained on fluent English scores held-out fluent text lower-ppl
    than shuffled noise; unseen contexts stay finite; tertile bucketing is
    deterministic across parallelism."""
    from pyspark.sql import functions as F

    from webarchive_discovery_spark.operators import perplexity

    base = "the cat sat on the mat and the dog sat on the rug"
    rows = [(i, base + f" near the door {i % 3}", "en") for i in range(12)]
    rows += [(100 + i, "rug the mat dog on sat qq zz the cat unseenword", "en")
             for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    uni, bi = perplexity.train_bigram_lm(
        docs.filter(F.col("doc_id") < 12), "text", "doc_id", buckets=256)
    scored = perplexity.doc_perplexity(docs, "text", "doc_id", uni, bi, buckets=256)
    got = {r.doc_id: r.ppl for r in scored.collect()}
    assert all(0 < v < float("inf") for v in got.values())
    assert max(got[i] for i in range(12)) < min(got[100 + i] for i in range(6))
    # two-token doc has one bigram; one-token doc is absent
    tiny = spark.createDataFrame(
        [(1, "hello world"), (2, "hello")], "doc_id long, text string")
    t = perplexity.doc_perplexity(tiny, "text", "doc_id", uni, bi, buckets=256)
    assert {r.doc_id: r.n_bigrams for r in t.collect()} == {1: 1}
    # bucketing: 18 docs -> 6 per tertile, identical at any parallelism
    b1 = perplexity.perplexity_buckets(scored, "doc_id", "ppl")
    c = {r.ppl_bucket: r.cnt
         for r in b1.groupBy("ppl_bucket").agg(F.count("*").alias("cnt")).collect()}
    assert c == {"head": 6, "middle": 6, "tail": 6}
    b2 = perplexity.perplexity_buckets(scored.repartition(7), "doc_id", "ppl")
    assert ({(r.doc_id, r.ppl_bucket) for r in b1.collect()}
            == {(r.doc_id, r.ppl_bucket) for r in b2.collect()})
    # noise docs all land in the tail
    tails = {r.doc_id for r in b1.collect() if r.ppl_bucket == "tail"}
    assert tails == {100 + i for i in range(6)}


def test_sequence_packing(spark):
    """Distributed cumsum layout equals the single-window definition; the
    manifest tiles every sequence exactly; zero-token docs take no space;
    results are identical at any partitioning."""
    from pyspark.sql import functions as F

    from webarchive_discovery_spark.operators import packing

    rows = [(i, [7, 0, 120, 64, 1, 300, 64][i % 7]) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    packed = packing.packed_sequences(df, "n_tokens", ["doc_id"], 64,
                                      num_partitions=5)
    got = {r.doc_id: r for r in packed.collect()}
    # oracle: plain python cumsum
    start = 0
    for i, n in rows:
        r = got[i]
        assert r.pack_start == start
        assert r.seq_first == start // 64
        assert r.seq_last == ((start + n - 1) // 64 if n > 0 else start // 64)
        start += n
    # zero-token doc occupies no interval but still has a (degenerate) home
    z = next(r for r in got.values() if r.n_tokens == 0)
    assert z.n_seqs == 1
    # manifest: per-sequence slice lengths tile each full sequence exactly
    man = packing.sequence_manifest(packed, "n_tokens", "doc_id", 64)
    per_seq = {r.seq_id: r.tot for r in
               man.groupBy("seq_id").agg(F.sum("slice_len").alias("tot")).collect()}
    total = sum(n for _, n in rows)
    for sid, tot in per_seq.items():
        assert tot == (64 if sid < total // 64 else total % 64)
    assert man.filter(F.col("slice_len") <= 0).count() == 0
    # partition-count invariance
    p2 = packing.packed_sequences(df.repartition(13), "n_tokens", ["doc_id"],
                                  64, num_partitions=2)
    assert {(r.doc_id, r.pack_start) for r in p2.collect()} == {
        (r.doc_id, r.pack_start) for r in packed.collect()}


def test_temperature_sample(spark):
    """alpha<1 upweights the tail: the rare group's sample rate exceeds its
    proportional share; rates clamp at 1; selection is seed-deterministic
    and parallelism-independent."""
    from pyspark.sql import functions as F

    from webarchive_discovery_spark.operators import sampling as S

    rows = [(i, "big") for i in range(900)] + [(1000 + i, "rare") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, g string")
    out = S.temperature_sample(df, "g", "doc_id", alpha=0.3, budget=300)
    rates = {r.g: r.sample_rate for r in out.select("g", "sample_rate").distinct().collect()}
    # proportional share for rare = 300*10/910 = 3.3 docs; temperature gives more
    assert rates["rare"] == 1.0  # clamped: budget share exceeds group size
    assert 0 < rates["big"] < 300 / 900 * 1.5
    kept = out.filter(F.col("sample_keep"))
    assert kept.filter(F.col("g") == "rare").count() == 10
    n_big = kept.filter(F.col("g") == "big").count()
    assert 0 < n_big < 900
    k1 = {r.doc_id for r in kept.collect()}
    k2 = {r.doc_id for r in
          S.temperature_sample(df.repartition(17), "g", "doc_id", alpha=0.3,
                               budget=300).filter(F.col("sample_keep")).collect()}
    assert k1 == k2


def test_scaled_partitions_tracks_input_size(spark):
    """The global_sequence range exchange is sized by the DATA, not
    defaultParallelism: tiny epochs collapse to a handful of partitions
    (scheduling overhead is contention-sensitive), big inputs fan out at
    ~250k rows/partition, and the function is monotone so partition counts
    never shrink as the frontier grows."""
    from webarchive_discovery_spark.operators.frontier import (
        global_sequence, scaled_partitions)

    # unit surface: small inputs -> parallelism-capped min-rows tier,
    # large inputs -> target-rows tier
    assert scaled_partitions(0, 32) == 1
    assert scaled_partitions(3_000, 32) == 1
    assert scaled_partitions(100_000, 32) == 4          # ceil(100k/32768)
    assert scaled_partitions(100_000, 2) == 2           # capped by cluster
    assert scaled_partitions(10_000_000, 32) == 40      # ceil(1e7/250k)
    assert scaled_partitions(10_000_000_000, 32) == 40_000
    prev = 0
    for n in (0, 1, 10_000, 50_000, 120_000, 1_000_000, 10_000_000):
        cur = scaled_partitions(n, 32)
        assert cur >= prev, (n, cur, prev)
        prev = cur

    # end-to-end: the staged partition count (visible via seq partition ids)
    # scales with input rows instead of sitting at defaultParallelism
    def staged_parts(n):
        df = spark.range(n).select(
            F.format_string("k%09d", (F.col("id") * 7919) % n).alias("k"))
        out = global_sequence(df, [F.col("k").asc()], seq_col="seq")
        return out.rdd.getNumPartitions()

    small, large = staged_parts(5_000), staged_parts(200_000)
    assert small <= 2, small
    assert large > small, (small, large)


def test_global_sequence_results_need_no_release(spark):
    """A ``global_sequence`` result stays valid whatever else the process
    does: materializing one result and calling ``release_staging()`` must
    not invalidate another, not-yet-materialized result."""
    from webarchive_discovery_spark.operators.frontier import (
        global_sequence, release_staging)

    def keyed(n):
        return spark.range(n).select(
            F.format_string("k%06d", (F.col("id") * 7919) % n).alias("k"))

    first = global_sequence(keyed(3_000), [F.col("k").asc()], seq_col="seq")
    second = global_sequence(keyed(5_000), [F.col("k").asc()], seq_col="seq")
    assert len(first.collect()) == 3_000
    release_staging()
    rows = second.collect()
    assert sorted(r["seq"] for r in rows) == list(range(1, 5_001))
    assert [r["k"] for r in sorted(rows, key=lambda r: r["seq"])] == sorted(
        r["k"] for r in rows)
    assert release_staging() == 0  # a documented no-op


def test_url_seen_split_is_exact(spark):
    """``url_seen_split`` yields the exact anti-join and semi-join sets
    with no prefilter, with a Bloom probe (high FPR, so false positives
    must be verified away), with a cuckoo probe and with a probe that
    calls every row a maybe."""
    from webarchive_discovery_spark.operators.bloom import (
        BloomParams, bloom_negative_filter, build_bloom)
    from webarchive_discovery_spark.operators.cuckoo import (
        CuckooParams, build_cuckoo_shards, cuckoo_negative_filter_sharded)
    from webarchive_discovery_spark.operators.frontier import url_seen_split

    df = spark.range(3_000).select("id", F.xxhash64("id").alias("url_hash"))
    # every third id of the frontier, plus hashes the frontier never holds
    seen_ids = [i for i in range(3_000) if i % 3 == 0] + list(range(10_000, 10_200))
    seen = spark.createDataFrame([(i,) for i in seen_ids], "id long").select(
        F.xxhash64("id").alias("url_hash"))
    want_dup = {i for i in range(3_000) if i % 3 == 0}
    want_new = set(range(3_000)) - want_dup

    bloom = build_bloom(seen, "url_hash", BloomParams(1_000, fpr=0.2, num_shards=4))
    cparams = CuckooParams(2_000, fpr=1e-3, num_shards=4)
    cshards = build_cuckoo_shards(seen, "url_hash", cparams)
    prefilters = {
        "exact": None,
        "bloom": lambda d: bloom_negative_filter(d, "url_hash", bloom),
        "cuckoo": lambda d: cuckoo_negative_filter_sharded(d, "url_hash", cshards, cparams),
        "all_positive": lambda d: d.withColumn("maybe_seen", F.lit(True)),
    }
    for name, prefilter in prefilters.items():
        new, dup = url_seen_split(df, seen, prefilter)
        assert set(new.columns) == set(dup.columns) == set(df.columns), name
        assert {r["id"] for r in new.collect()} == want_new, name
        assert {r["id"] for r in dup.collect()} == want_dup, name
