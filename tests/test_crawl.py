"""End-to-end multi-epoch crawl tests: status accounting, the per-row fetch
invariant (decoded-pixel PSNR ≥ 40 dB lossy / exact lossless + caption
equality vs the independently re-derived source), determinism across
partitioning, and bit-exact checkpoint resume."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from webarchive_discovery_spark.functions.imaging import decode_image, psnr
from webarchive_discovery_spark.plans.crawl import CrawlConfig, run_crawl
from webarchive_discovery_spark.sources.frontier_data import (
    expected_pixels,
    gen_frontier_records,
    gen_link_graph,
    gen_robots_rules,
    gen_seeds,
)

N_RECORDS = 400


@pytest.fixture(scope="module")
def world(spark):
    records = gen_frontier_records(spark, N_RECORDS).persist()
    records.count()
    seeds = gen_seeds(spark, N_RECORDS, 20).select("url", "hops")
    links = gen_link_graph(spark, N_RECORDS).select("src_url", "dst_url")
    robots = gen_robots_rules(spark)
    return records, seeds, links, robots


def _run(spark, world, ckdir=None, resume=False, epochs=3):
    records, seeds, links, robots = world
    cfg = CrawlConfig(
        epochs=epochs, host_budget=50, checkpoint_dir=ckdir, num_partitions=4,
    )
    return run_crawl(spark, records, seeds, links, robots, cfg, resume=resume)


def test_crawl_epochs_and_statuses(spark, world, monkeypatch):
    import webarchive_discovery_spark.plans.crawl as crawl_mod

    # every epoch's Bloom is sized from the membership set it is built from
    built, build_bloom = [], crawl_mod.build_bloom

    def capture(seen, hash_col, params):
        bloom = build_bloom(seen, hash_col, params)
        built.append((params.n_capacity, seen.count(), bloom.bits.nbytes))
        return bloom

    monkeypatch.setattr(crawl_mod, "build_bloom", capture)
    result = _run(spark, world)
    assert len(built) == 2  # epoch 0 has nothing seen and builds no filter
    for n_capacity, n_seen, nbytes in built:
        assert n_capacity == n_seen
        assert nbytes < 1024, f"{nbytes} B matrix for {n_seen} members"
    log = result["crawl_log"].persist()
    statuses = {r["status"] for r in log.select("status").distinct().collect()}
    assert "fetched" in statuses
    assert "robots_denied" in statuses
    assert "dup_seen" in statuses  # later epochs re-discover fetched URLs
    assert log.filter("status = 'fetch_error'").count() == 0

    # fetch_seq is a contiguous 1..N permutation within each epoch
    for epoch in [0, 1, 2]:
        seqs = sorted(
            r["fetch_seq"]
            for r in log.filter(
                (F.col("epoch") == epoch) & (F.col("status") == "fetched")
            ).select("fetch_seq").collect()
        )
        assert seqs == list(range(1, len(seqs) + 1))

    # seen-set equals the set of fetched url_hashes (exact, Bloom is only a
    # prefilter) and nothing is fetched twice
    fetched = log.filter("status = 'fetched'")
    assert fetched.groupBy("url_norm").count().filter("count > 1").count() == 0
    seen_hashes = {r["url_hash"] for r in result["seen"].select("url_hash").collect()}
    fetched_hashes = {r["url_hash"] for r in fetched.select("url_hash").collect()}
    assert seen_hashes == fetched_hashes

    # metrics/lineage rows exist per epoch
    assert len(result["metrics"]) == 3
    assert all(m["statuses"].get("fetched", 0) > 0 for m in result["metrics"])


def test_fetch_invariant_pixels_and_captions(spark, world):
    """Per-row invariant: decoded pixels ≈ independently re-derived source
    pixels (exact for lossless, PSNR ≥ 40 dB for lossy) + caption equality.
    A seed that java.net.URI rejects gets a status like any other URL."""
    records, seeds, links, robots = world
    # a seed java.net.URI rejects ('|' in the query) is crawled, not fatal:
    # it keeps its host, whose robots rules deny /img/
    bad_url = "http://host000.example.org/img/search?q=a|b"
    bad = spark.createDataFrame([(bad_url, 0)], "url string, hops int")
    result = _run(spark, (records, seeds.unionByName(bad), links, robots), epochs=1)
    bad_rows = result["crawl_log"].filter(F.col("url_norm") == bad_url).collect()
    assert [(r["host"], r["status"]) for r in bad_rows] == [
        ("host000.example.org", "robots_denied")]
    fetched = result["crawl_log"].filter("status = 'fetched'")
    joined = fetched.select("image_id", "caption").join(
        records.select("image_id", "bytes", "fmt", F.col("caption").alias("rec_caption")),
        "image_id",
    )
    rows = joined.collect()
    assert rows
    for r in rows:
        k = int(r["image_id"].split("-")[1])
        src, fmt = expected_pixels(k)
        dec = decode_image(bytes(r["bytes"]), r["fmt"])
        if fmt == "jpeg":
            assert psnr(src, dec) >= 40.0
        else:
            assert np.array_equal(src, dec)
        assert r["caption"] == r["rec_caption"]


def test_determinism_across_partitioning(spark, world):
    records, seeds, links, robots = world
    outs = []
    for parts in (2, 7):
        cfg = CrawlConfig(epochs=2, host_budget=50, num_partitions=parts)
        res = run_crawl(spark, records.repartition(parts), seeds, links, robots, cfg)
        outs.append(
            sorted(
                (r["epoch"], r["url_key"], r["status"], r["fetch_seq"], r["host_slot"])
                for r in res["crawl_log"].collect()
            )
        )
    assert outs[0] == outs[1]


def test_checkpoint_resume_bit_exact(spark, world, tmp_path):
    full = _run(spark, world, ckdir=str(tmp_path / "full"), epochs=3)
    full_rows = sorted(
        (r["epoch"], r["url_key"], r["status"], r["fetch_seq"])
        for r in full["crawl_log"].collect()
    )

    # run only 2 epochs into a second store, then resume for the 3rd
    partial_dir = str(tmp_path / "partial")
    _run(spark, world, ckdir=partial_dir, epochs=2)
    resumed = _run(spark, world, ckdir=partial_dir, epochs=3, resume=True)
    # resumed run returns epochs 2..2 only; splice with the checkpointed 0-1
    from webarchive_discovery_spark.plans.checkpoint import CheckpointStore

    store = CheckpointStore(partial_dir)
    all_rows = []
    for epoch in (0, 1, 2):
        df = store.read(spark, epoch, "crawl_log")
        all_rows += [
            (r["epoch"], r["url_key"], r["status"], r["fetch_seq"]) for r in df.collect()
        ]
    assert sorted(all_rows) == full_rows


def test_checkpoint_resume_from_compacted_snapshot_bit_exact(spark, world, tmp_path):
    """Iceberg table-maintenance analog: ``compact`` (MERGE the seen-set
    deltas into one base, committed as a new snapshot id) + ``expire_deltas``
    (drop the covered delta dirs) must leave resume bit-exact — the resumed
    epoch equals the uncompacted full run's, and time travel to the
    pre-compaction snapshot id still reads the deltas."""
    from webarchive_discovery_spark.plans.checkpoint import CheckpointStore

    full = _run(spark, world, ckdir=str(tmp_path / "full"), epochs=3)
    full_rows = sorted(
        (r["epoch"], r["url_key"], r["status"], r["fetch_seq"])
        for r in full["crawl_log"].collect()
    )

    partial_dir = str(tmp_path / "partial")
    _run(spark, world, ckdir=partial_dir, epochs=2)
    store = CheckpointStore(partial_dir)
    before = sorted(
        tuple(r) for r in store.read_merged(spark, 1, "seen_delta").collect()
    )
    sid = store.compact(spark, 1, "seen_delta", dedup_cols=["url_hash"])
    snap = store.snapshot(sid)
    assert snap["type"] == "compaction" and snap["table"] == "seen_delta"
    # time travel: one snapshot earlier ignores the base, reads raw deltas
    tt = sorted(
        tuple(r)
        for r in store.read_merged(
            spark, 1, "seen_delta", snapshot_id=sid - 1
        ).collect()
    )
    assert tt == before
    removed = store.expire_deltas("seen_delta")
    assert removed, "expiry must physically drop the covered delta dirs"
    after = sorted(
        tuple(r) for r in store.read_merged(spark, 1, "seen_delta").collect()
    )
    assert after == before  # base ≡ union of the expired deltas
    resumed = _run(spark, world, ckdir=partial_dir, epochs=3, resume=True)
    rows = sorted(
        (r["epoch"], r["url_key"], r["status"], r["fetch_seq"])
        for r in resumed["crawl_log"].collect()
    )
    assert rows == [t for t in full_rows if t[0] == 2]


def test_sharded_bloom_tier_at_design_capacity(spark, world, monkeypatch):
    """When the data-sized matrix exceeds the broadcast limit, the crawl
    loop must select the fully-distributed sharded build/probe: the limit
    is monkeypatched to 0 (the 1e10 design point's ~36 GB matrix is what
    crosses the real 4 GiB limit, see test_bloom's sizing test), the
    broadcast tier (``build_bloom``, which collects the whole bit matrix to
    the driver) is monkeypatched to fail, and the crawl output must equal
    the exact-only (no-prefilter) run bit-for-bit, proving the Bloom stays
    a pure prefilter on this tier too."""
    import webarchive_discovery_spark.plans.crawl as crawl_mod

    def boom(*a, **k):  # the full-matrix tier must never run
        raise AssertionError("broadcast-tier build_bloom called on the sharded tier")

    monkeypatch.setattr(crawl_mod, "build_bloom", boom)
    monkeypatch.setattr(crawl_mod, "_BLOOM_BROADCAST_MAX_BYTES", 0)
    records, seeds, links, robots = world
    cfg = CrawlConfig(epochs=2, host_budget=50, num_partitions=4)
    res = run_crawl(spark, records, seeds, links, robots, cfg)
    sharded_rows = sorted(
        (r["epoch"], r["url_key"], r["status"], r["fetch_seq"])
        for r in res["crawl_log"].collect()
    )
    cfg_exact = CrawlConfig(epochs=2, host_budget=50, num_partitions=4, seen_filter=None)
    res_exact = run_crawl(spark, records, seeds, links, robots, cfg_exact)
    exact_rows = sorted(
        (r["epoch"], r["url_key"], r["status"], r["fetch_seq"])
        for r in res_exact["crawl_log"].collect()
    )
    assert sharded_rows == exact_rows


def test_recrawl_expiry_refetches(spark, world):
    """recrawl_epochs: a URL whose seen-set entry expires is refetched when
    rediscovered (membership is derived from the fetch history; exact side
    authoritative), and within the window it is still dup_seen."""
    records, seeds, links, robots = world
    cfg = CrawlConfig(
        epochs=5, host_budget=50, num_partitions=4, recrawl_epochs=2,
    )
    log = run_crawl(spark, records, seeds, links, robots, cfg)["crawl_log"]
    per_url = (
        log.filter("status = 'fetched'")
        .groupBy("url_norm")
        .agg(F.count(F.lit(1)).alias("n"), F.collect_list("epoch").alias("eps"))
        .persist()
    )
    refetched = per_url.filter("n > 1").collect()
    assert refetched, "some URL must be refetched after its entry expires"
    for r in refetched:
        eps = sorted(r["eps"])
        for a, b in zip(eps, eps[1:]):
            assert b - a >= cfg.recrawl_epochs, (
                f"{r['url_norm']} refetched inside the recrawl window: {eps}"
            )


def test_crawl_delay_throttles_budget(spark, world):
    """epoch_duration_ms: the robots crawl-delay becomes a per-host budget —
    no host fetches more than floor(duration / its crawl_delay_ms) per epoch."""
    records, seeds, links, robots = world
    cfg = CrawlConfig(
        epochs=2, host_budget=1000, num_partitions=4, epoch_duration_ms=3000,
    )
    log = run_crawl(spark, records, seeds, links, robots, cfg)["crawl_log"]
    fetched_per_host = (
        log.filter("status = 'fetched'")
        .groupBy("epoch", "host", "crawl_delay_ms")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert fetched_per_host
    assert {r["crawl_delay_ms"] for r in fetched_per_host} != {250}, \
        "world must exercise multiple delays"
    for r in fetched_per_host:
        cap = 3000 // max(r["crawl_delay_ms"], 1)
        assert r["n"] <= cap, (r["host"], r["n"], cap)
    # some slow host must actually have been throttled below the raw budget
    assert any(r["n"] == 3000 // r["crawl_delay_ms"] for r in fetched_per_host) or \
        log.filter("status = 'delayed'").count() > 0


def test_seen_checkpoint_is_merge_on_read(spark, world, tmp_path):
    """The seen-set checkpoint is a per-epoch DELTA (merge-on-read), never a
    full rewrite: every epoch dir holds only rows first seen that epoch, and
    the merged read equals the returned seen-set exactly."""
    from webarchive_discovery_spark.plans.checkpoint import CheckpointStore

    ck = str(tmp_path / "ck")
    result = _run(spark, world, ckdir=ck, epochs=3)
    store = CheckpointStore(ck)
    total = 0
    for epoch in range(3):
        delta = store.read(spark, epoch, "seen_delta")
        eps = {r["first_epoch"] for r in delta.select("first_epoch").distinct().collect()}
        assert eps <= {epoch}, f"epoch {epoch} delta contains foreign rows: {eps}"
        total += delta.count()
    merged = store.read_merged(spark, 2, "seen_delta")
    assert merged.count() == total
    assert ({r["url_hash"] for r in merged.select("url_hash").collect()}
            == {r["url_hash"] for r in result["seen"].select("url_hash").collect()})


def test_adaptive_recrawl_backoff(spark, world):
    """adaptive_recrawl: static content (the synthetic world never changes)
    must back off exponentially — refetch gaps follow interval = 2^streak,
    so consecutive gaps at least double; history survives membership
    removal (a refetch compares against the PREVIOUS digest, so the
    interval keeps growing instead of resetting)."""
    records, seeds, links, robots = world
    cfg = CrawlConfig(
        epochs=5, host_budget=50, num_partitions=4, adaptive_recrawl=True,
    )
    log = run_crawl(spark, records, seeds, links, robots, cfg)["crawl_log"]
    per_url = (
        log.filter("status = 'fetched'")
        .groupBy("url_norm")
        .agg(F.collect_list("epoch").alias("eps"))
        .collect()
    )
    refetched = [sorted(r["eps"]) for r in per_url if len(r["eps"]) > 1]
    assert refetched, "due URLs must be refetched when rediscovered"
    for eps in refetched:
        gaps = [b - a for a, b in zip(eps, eps[1:])]
        # unchanged content: i-th gap >= 2^(i-1) (late rediscovery only widens)
        for i, g in enumerate(gaps):
            assert g >= min(16, 2 ** i), f"{eps}: gap {g} too small at {i}"


def test_pagerank_priority_integration(spark, world):
    """use_pagerank feeds host PageRank into the priority affinity term:
    the crawl stays deterministic across partitioning (ranks rounded before
    use) and well-linked hosts fetch earlier than under hops+inlinks
    alone whenever budgets force a choice."""
    records, seeds, links, robots = world
    outs = []
    for parts in (3, 8):
        cfg = CrawlConfig(epochs=2, host_budget=50, num_partitions=parts,
                          use_pagerank=True)
        res = run_crawl(spark, records.repartition(parts), seeds, links,
                        robots, cfg)
        outs.append(sorted(
            (r["epoch"], r["url_key"], r["status"], r["fetch_seq"])
            for r in res["crawl_log"].collect()
        ))
    assert outs[0] == outs[1]
    # the affinity term must actually move priorities vs the no-pagerank run
    cfg0 = CrawlConfig(epochs=2, host_budget=50, num_partitions=4)
    base = run_crawl(spark, records, seeds, links, robots, cfg0)
    pr_p = {r["url_key"]: r["priority"] for r in outs and
            run_crawl(spark, records, seeds, links, robots,
                      CrawlConfig(epochs=1, host_budget=50, num_partitions=4,
                                  use_pagerank=True)
                      )["crawl_log"].filter("priority is not null").collect()}
    base_p = {r["url_key"]: r["priority"] for r in
              base["crawl_log"].filter("epoch = 0 and priority is not null").collect()}
    moved = [k for k in pr_p if k in base_p and abs(pr_p[k] - base_p[k]) > 1e-9]
    assert moved, "pagerank affinity changed no priorities"


def test_crawl_feeds_multimodal_corpus(spark, world):
    """Axis tie-in: the crawl's fetched image+caption captures flow straight
    into the multimodal-corpus gates (caption length / min dim / aspect +
    exact-phash dedup) with deterministic, parallelism-independent output —
    crawl tier and corpus tier compose without re-fetching anything."""
    from pyspark.sql import functions as F

    from webarchive_discovery_spark.operators.imagetext import (
        filter_image_text_pairs,
    )

    records, seeds, links, robots = world
    result = _run(spark, world, epochs=2)
    fetched = result["crawl_log"].filter("status = 'fetched'")
    # join capture metadata (dims + phash) back from the record store
    caps = fetched.join(
        records.select("image_id", "w", "h", "phash"), "image_id"
    ).select(
        F.col("url_norm").alias("page_url"),
        F.col("url_norm").alias("img_url"),
        F.col("caption").alias("alt_text"),
        F.lit(None).cast("string").alias("title_text"),
        F.col("w").cast("long").alias("image_width"),
        F.col("h").cast("long").alias("image_height"),
        "phash",
    )
    gated = filter_image_text_pairs(caps, min_caption_chars=5, min_dim=16)
    n = caps.count()
    assert n > 0
    kept = gated.filter("pair_keep")
    assert 0 < kept.count() <= n
    # phash dedup via the composition's exemplar rule: distinct phashes among
    # survivors == exemplar count (deterministic across repartitioning)
    from pyspark.sql import Window

    w = Window.partitionBy("phash").orderBy("page_url", "img_url")
    ex1 = {r.img_url for r in kept.withColumn("rn", F.row_number().over(w))
           .filter("rn = 1").collect()}
    ex2 = {r.img_url for r in kept.repartition(9)
           .withColumn("rn", F.row_number().over(w)).filter("rn = 1").collect()}
    assert ex1 == ex2
    assert len(ex1) == kept.select("phash").distinct().count()


def test_sitemap_discovery_integration(spark, world):
    """sitemap_captures closes the sitemap loop: parsed entries join the
    epoch-0 frontier (hops=1) and their protocol score boosts priority via
    the broadcast affinity dim — deterministically at any partitioning."""
    from webarchive_discovery_spark.sources.frontier_data import raw_url_for

    records, seeds, links, robots = world
    ks = [3, 7, 11]  # not in the seed list (seeds are every 20th record)
    entries = "".join(
        f"<url><loc>{raw_url_for(k)}</loc>"
        f"<changefreq>daily</changefreq><priority>0.9</priority></url>"
        for k in ks
    )
    caps = spark.createDataFrame(
        [("smhost.example.org",
          f'<?xml version="1.0"?><urlset>{entries}</urlset>',
          "sitemap.xml")],
        "host string, payload string, url_type string",
    )

    def run(weight, parts):
        cfg = CrawlConfig(
            epochs=1, host_budget=50, num_partitions=parts,
            sitemap_weight=weight, sitemap_as_of="2024-02-05",
        )
        return run_crawl(spark, records, seeds, links, robots, cfg,
                         sitemap_captures=caps)

    out = run(0.5, 4)["crawl_log"]
    rows = {r["url_norm"]: r for r in out.collect()}
    want_norms = set()
    for k in ks:
        got = [n for n in rows if f"/img/{k}.html" in n]
        assert got, f"sitemap URL for record {k} missing from epoch 0"
        want_norms.add(got[0])
        assert rows[got[0]]["hops"] == 1  # discovered, not a seed

    # the affinity term moves priorities for exactly the sitemap'd URLs
    zero = {r["url_norm"]: r["priority"]
            for r in run(0.0, 4)["crawl_log"].collect()}
    for n in want_norms:
        if rows[n]["priority"] is not None and zero.get(n) is not None:
            assert rows[n]["priority"] - zero[n] > 0.3  # 0.5 × score(≈0.84)

    # determinism across partitioning with the sitemap channel active
    again = sorted(
        (r["url_key"], r["status"], r["fetch_seq"])
        for r in run(0.5, 8)["crawl_log"].collect()
    )
    assert again == sorted(
        (r["url_key"], r["status"], r["fetch_seq"]) for r in rows.values()
    )


def test_fetch_error_retry_backoff(spark, world):
    """max_retries: failed URLs re-enter the next frontier with a penalized
    priority, then join the seen-set as 'unfetchable' when exhausted."""
    records, seeds, links, robots = world
    # a seed with no backing record: the record join misses → fetch_error
    bad = spark.createDataFrame(
        [("http://host001.example.org/img/999999.html", 0)], "url string, hops int"
    )
    cfg = CrawlConfig(
        epochs=3, host_budget=50, num_partitions=4, max_retries=1,
    )
    res = run_crawl(spark, records, seeds.unionByName(bad), links, robots, cfg)
    log = res["crawl_log"].filter(F.col("url_norm").contains("999999"))
    rows = {r["epoch"]: r for r in log.collect()}
    assert rows[0]["status"] == "fetch_error" and rows[0]["retries"] == 0
    assert rows[1]["status"] == "fetch_error" and rows[1]["retries"] == 1
    assert 2 not in rows  # exhausted after max_retries — never re-queued
    # the retry fetched LATER within its epoch than the first attempt would
    # suggest: penalty lowered its priority
    assert rows[1]["priority"] < rows[0]["priority"]
    # exhausted URL is in the seen-set with the sentinel digest
    seen = res["seen"].filter(F.col("url_norm").contains("999999")).collect()
    assert len(seen) == 1 and seen[0]["digest"] == "unfetchable"
    # default config unchanged: the bad seed fails once and never retries
    res0 = run_crawl(spark, records, seeds.unionByName(bad), links, robots,
                     CrawlConfig(epochs=2, host_budget=50, num_partitions=4))
    log0 = res0["crawl_log"].filter(F.col("url_norm").contains("999999"))
    assert [r["epoch"] for r in log0.collect()] == [0]


def test_domain_politeness_shares_budget(spark, world):
    """politeness_key='domain': hosts under one registered domain share one
    budget.  Every synthetic host is *.example.org, so epoch-0 fetches
    collapse to ≤ host_budget total, vs per-host budgets otherwise."""
    records, seeds, links, robots = world
    base = dict(epochs=1, host_budget=10, num_partitions=4)
    per_host = run_crawl(spark, records, seeds, links, robots,
                         CrawlConfig(**base))
    per_domain = run_crawl(spark, records, seeds, links, robots,
                           CrawlConfig(**base, politeness_key="domain"))
    n_host = per_host["crawl_log"].filter(F.col("status") == "fetched").count()
    n_domain = per_domain["crawl_log"].filter(F.col("status") == "fetched").count()
    assert n_domain <= 10  # one example.org budget for the whole world
    assert n_host > n_domain  # per-host budgets admit more


def test_cuckoo_seen_filter_tier(spark, world):
    """seen_filter='cuckoo': the deletion-capable prefilter drives the crawl
    loop and produces BIT-IDENTICAL results to the Bloom tier (both are
    prefilters over the same exact seen-set)."""
    records, seeds, links, robots = world
    base = dict(epochs=3, host_budget=50, num_partitions=4)
    bloom = run_crawl(spark, records, seeds, links, robots, CrawlConfig(**base))
    cuckoo = run_crawl(spark, records, seeds, links, robots,
                       CrawlConfig(**base, seen_filter="cuckoo"))
    key = lambda res: sorted(
        (r["epoch"], r["url_key"], r["status"], r["fetch_seq"])
        for r in res["crawl_log"].collect()
    )
    assert key(bloom) == key(cuckoo)
    # later epochs actually exercised the filter: dup_seen rows exist
    assert cuckoo["crawl_log"].filter(F.col("status") == "dup_seen").count() > 0


def test_seen_filter_rejects_unknown_family(spark, world):
    """A misspelt ``seen_filter`` raises instead of silently running the
    Bloom tier."""
    records, seeds, links, robots = world
    cfg = CrawlConfig(epochs=1, host_budget=50, num_partitions=4, seen_filter="Cuckoo")
    with pytest.raises(ValueError, match="seen_filter"):
        run_crawl(spark, records, seeds, links, robots, cfg)


def test_retry_counter_survives_link_rediscovery(spark, world):
    """A dead URL that is ALSO rediscovered via links each epoch (retries=0
    from the link source) must keep its highest attempt count — the frontier
    dedup takes max(retries), so the retry penalty compounds and
    max_retries exhaustion fires.  With min(retries) the counter reset every
    epoch and persistently-linked dead URLs retried forever."""
    records, seeds, links, robots = world
    bad_url = "http://host001.example.org/img/999999.html"
    bad = spark.createDataFrame([(bad_url, 0)], "url string, hops int")
    # every fetched page links to the dead URL -> organic rediscovery with
    # retries=0 in every epoch
    rediscover = links.select("src_url").distinct().withColumn(
        "dst_url", F.lit(bad_url)
    )
    cfg = CrawlConfig(
        epochs=4, host_budget=50, num_partitions=4, max_retries=2,
    )
    res = run_crawl(spark, records, seeds.unionByName(bad),
                    links.unionByName(rediscover), robots, cfg)
    log = res["crawl_log"].filter(F.col("url_norm").contains("999999"))
    rows = {r["epoch"]: r for r in log.collect()}
    # attempt counter climbs monotonically despite the retries=0 rediscovery
    assert rows[0]["status"] == "fetch_error" and rows[0]["retries"] == 0
    assert rows[1]["status"] == "fetch_error" and rows[1]["retries"] == 1
    assert rows[2]["status"] == "fetch_error" and rows[2]["retries"] == 2
    # exhausted after max_retries: epoch 3 must NOT attempt it again even
    # though links still point at it (unfetchable sentinel in the seen-set)
    assert 3 not in rows or rows[3]["status"] == "dup_seen"
    seen = res["seen"].filter(F.col("url_norm").contains("999999")).collect()
    assert len(seen) == 1 and seen[0]["digest"] == "unfetchable"


def test_torn_snapshot_invisible_and_resume_clean(spark, world, tmp_path):
    """Epoch snapshots publish via stage-dir + one atomic rename: a writer
    killed mid-snapshot leaves either a dot-prefixed temp dir or a
    manifest-less epoch dir — both invisible to latest()/read_merged — and
    a rewrite of the same epoch replaces the torn leftovers, so resume
    proceeds exactly as if the crash never happened."""
    import json
    import os

    from webarchive_discovery_spark.plans.checkpoint import CheckpointStore

    ckdir = str(tmp_path / "ck")
    _run(spark, world, ckdir=ckdir, epochs=2)
    store = CheckpointStore(ckdir)
    assert store.latest()["epoch"] == 1

    # simulate a writer killed mid-snapshot for epoch 2, both failure shapes:
    # (a) staged temp dir that never reached its rename
    torn_tmp = os.path.join(ckdir, ".epoch=00002.killed.tmp")
    os.makedirs(os.path.join(torn_tmp, "crawl_log"))
    open(os.path.join(torn_tmp, "crawl_log", "part-00000.parquet"), "wb").write(b"torn")
    # (b) a pre-atomic-protocol in-place dir with table data but no manifest
    torn_dir = os.path.join(ckdir, "epoch=00002")
    os.makedirs(os.path.join(torn_dir, "crawl_log"))
    open(os.path.join(torn_dir, "crawl_log", "part-00000.parquet"), "wb").write(b"torn")

    # resume sees only the committed epochs
    assert store.latest()["epoch"] == 1
    assert store.manifest(2) is None
    merged = store.read_merged(spark, 10, "seen_delta")
    assert merged.count() == store.read_merged(spark, 1, "seen_delta").count()

    # the resumed run rewrites epoch 2 over the torn leftovers and commits it
    resumed = _run(spark, world, ckdir=ckdir, epochs=3, resume=True)
    assert store.latest()["epoch"] == 2
    assert store.manifest(2) is not None
    committed = store.read(spark, 2, "crawl_log")
    assert committed.count() == resumed["crawl_log"].filter(F.col("epoch") == 2).count()
    # no temp litter under the root after the commit sweep
    leftover = [d for d in os.listdir(ckdir) if d.endswith(".tmp")]
    assert leftover == [".epoch=00002.killed.tmp"] or leftover == []
