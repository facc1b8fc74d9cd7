"""Multi-epoch crawl driver: frontier → fetch → seen-set → next frontier,
with per-epoch checkpointing and bit-exact resume.

This is the engine's re-expression of the reference's crawl state machinery:
persist-log fetch history (``PersistLogMapper.java:99-143``), URL-seen dedup
(``MDXReduplicatingReducer.java:72-152``), per-host politeness accounting
(``HostsReportMapper.java:52-77``), and CDX total-order fetch scheduling
(``ArchiveCDXGenerator.java:208-215``) — as one declarative DataFrame plan
per epoch plus driver-side epoch control flow (batch-incremental; checkpoint
= snapshot directory, the parquet stand-in for an Iceberg snapshot since the
sandbox has no Iceberg jars — the writer is isolated in ``checkpoint.py`` so
swapping to ``writeTo(...).createOrReplace()`` is local).

Determinism: every ordering/selection is a pure function of data columns —
resuming from any epoch checkpoint reproduces downstream epochs bit-exactly
at any parallelism.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.imaging import average_hash, decode_image, image_dims
from ..functions.normalisation import sha1_base32_digest
from ..operators import cuckoo as cop
from ..operators import frontier as fop
from ..operators.bloom import (
    BloomParams,
    bloom_negative_filter,
    bloom_negative_filter_sharded,
    build_bloom,
    build_bloom_shards,
    sized_params,
)
from .checkpoint import CheckpointStore

__all__ = ["CrawlConfig", "run_crawl"]


@dataclass
class CrawlConfig:
    epochs: int = 3
    host_budget: int = 100
    checkpoint_dir: str | None = None
    # URL-seen prefilter family, sized each epoch from the membership set
    # (bloom.sized_params): "bloom" (broadcast tier, or the sharded tier
    # once the matrix exceeds _BLOOM_BROADCAST_MAX_BYTES), "cuckoo"
    # (operators.cuckoo — deletion-capable partial-key tables, ~24 bits/URL
    # at FPR 1e-6 vs the Bloom's 28.8, two-bucket probes) or None (the exact
    # anti-/semi-join alone).  Negative ⇒ definitely new; positives confirm
    # against the exact seen-set.
    seen_filter: str | None = "bloom"
    num_partitions: int | None = None
    # entries expire after this many epochs (None = never): expired URLs are
    # dropped from the seen-set and refetched — recrawl semantics
    recrawl_epochs: int | None = None
    # adaptive recrawl (ignored when recrawl_epochs is set): membership is
    # derived from the full fetch HISTORY via digest-change AIMD scheduling
    # (operators.frontier.recrawl_schedule) — a URL leaves the seen-set
    # exactly when its revisit interval has elapsed, so fast-changing pages
    # refetch every min interval and static pages back off exponentially
    adaptive_recrawl: bool = False
    # simulated epoch wall-clock: per-host budget becomes
    # min(host_budget, floor(epoch_duration_ms / crawl_delay_ms)) — the
    # robots crawl-delay actually throttles hosts (None = host_budget only)
    epoch_duration_ms: int | None = None
    # link-structure priority: run PageRank over the host graph once before
    # the epochs and feed the normalized rank into priority_score's affinity
    # term (the north rule's third priority input), weighted by
    # _PAGERANK_WEIGHT.  Ranks are rounded to 6 decimals so float
    # summation order can't perturb the deterministic fetch order.
    use_pagerank: bool = False
    # sitemap discovery channel (operators.sitemap): parsed URL entries from
    # sitemap captures seed the epoch-0 frontier (hops=1 — one fetch away),
    # and their protocol-derived score (publisher priority + changefreq +
    # lastmod freshness) feeds priority_score's affinity term, weighted by
    # ``sitemap_weight``.  ``sitemap_as_of`` anchors the freshness decay
    # (pass the crawl date for deterministic replays).
    sitemap_weight: float = 0.5
    sitemap_as_of: str | None = None
    # fetch-error retry backoff: failed URLs re-enter the next epoch's
    # frontier with ``retries + 1`` (priority penalized by
    # _RETRY_PENALTY × retries) until ``max_retries`` is exhausted, at
    # which point the URL joins the seen-set with an ``unfetchable`` digest
    # sentinel so rediscovered links stop producing candidates (recrawl
    # expiry re-admits it once the window passes — transient outages heal).
    # 0 = off (failed URLs retry only on organic link rediscovery).
    max_retries: int = 0
    # politeness scope: "host" (default — per-hostname budgets/slots) or
    # "domain" (per REGISTERED domain via the PSL private suffix, so
    # a.example.org and b.example.org share one budget — how real crawlers
    # avoid hammering wildcard-subdomain sites).  "domain" adds one Arrow
    # pass per epoch (the PSL matcher).
    politeness_key: str = "host"


# Above this bit-matrix size the Bloom tier switches from the broadcast
# matrix (the shard build collected on the driver) to the cogroup probe of
# the shards in place, which never holds more than one shard in any process
# (the 1e10 design point).
_BLOOM_BROADCAST_MAX_BYTES = 4 << 30

# Host PageRank: iterations, and the affinity of the top-ranked host.
_PAGERANK_ITERATIONS = 5
_PAGERANK_WEIGHT = 0.5
# Priority penalty per failed fetch attempt (CrawlConfig.max_retries).
_RETRY_PENALTY = 0.3


_FETCH_RESULT_FIELDS = [
    StructField("digest", StringType()),
    StructField("decoded_w", IntegerType()),
    StructField("decoded_h", IntegerType()),
    StructField("header_w", IntegerType()),
    StructField("header_h", IntegerType()),
    StructField("phash_check", LongType()),
    StructField("caption_len", IntegerType()),
    StructField("fetch_ok", BooleanType()),
]


def _fetch_simulate(records: DataFrame, passthrough: list[str] = ("image_id",)) -> DataFrame:
    """Decode stored image bytes and validate the record — the analog of the
    reference's payload analysis chain (``WARCPayloadAnalysers.java:82-123``
    + ``ImageAnalyser.java:92-143``): header dims without decode, full pixel
    decode, perceptual-hash recheck, SHA-1(base32) payload digest.

    Arrow-batched ``mapInPandas``: the only Python stage that touches bytes.
    ``passthrough`` columns are carried through the kernel verbatim so the
    caller never needs a second join against its own upstream (the upstream
    join would execute twice); rows with NULL ``bytes`` (no record for the
    URL) come out ``fetch_ok=false`` with NULL analysis fields.
    """
    passthrough = list(passthrough)
    analysis = ["bytes", "fmt", "caption", "phash", "w", "h"]
    cols = passthrough + [c for c in analysis if c not in passthrough]
    out_schema = StructType(
        [records.schema[c] for c in passthrough] + _FETCH_RESULT_FIELDS
    )

    def run(batches):
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                rec = {c: getattr(row, c) for c in passthrough}
                rec.update(
                    digest=None, decoded_w=None, decoded_h=None, header_w=None,
                    header_h=None, phash_check=None,
                    caption_len=len(row.caption) if row.caption is not None else None,
                    fetch_ok=False,
                )
                if row.bytes is None:
                    out.append(rec)
                    continue
                data = bytes(row.bytes)
                rec["digest"] = sha1_base32_digest(data)
                try:
                    dims = image_dims(data)
                    if dims:
                        rec["header_w"], rec["header_h"] = int(dims[0]), int(dims[1])
                    rgb = decode_image(data, row.fmt)
                    rec["decoded_h"], rec["decoded_w"] = int(rgb.shape[0]), int(rgb.shape[1])
                    rec["phash_check"] = average_hash(rgb)
                    rec["fetch_ok"] = (
                        rec["decoded_w"] == row.w
                        and rec["decoded_h"] == row.h
                        and rec["header_w"] == row.w
                        and rec["header_h"] == row.h
                        and row.caption is not None
                    )
                except Exception:
                    pass
                out.append(rec)
            yield pd.DataFrame(out, columns=[f.name for f in out_schema.fields])

    return records.select(*cols).mapInPandas(run, out_schema)


# The crawl log's columns, in order.  A branch that lacks one of the typed
# columns (a dup row has no priority, only a fetched row has a digest) fills
# it with a NULL of that type.
_LOG_COLUMNS = (
    "url_norm", "url_key", "host", "hops", "retries", "inlinks",
    "priority", "priority_band", "host_slot", "crawl_delay_ms",
    "fetch_seq", "url_hash", "image_id", "digest", "caption", "status",
)
_LOG_NULL_TYPES = {
    "priority": "double", "priority_band": "int", "host_slot": "long",
    "crawl_delay_ms": "int", "fetch_seq": "long", "image_id": "string",
    "digest": "string", "caption": "string",
}
# Every status a crawl-log row can carry.
_STATUSES = ("fetched", "fetch_error", "dup_seen", "robots_denied", "delayed")


def _log_select(df: DataFrame, status: Column | None = None) -> DataFrame:
    """Project ``df`` onto the crawl-log columns; ``status``, when given,
    replaces ``df``'s own status column when given."""
    return df.select(*[
        status.alias(c) if c == "status" and status is not None
        else F.col(c) if c in df.columns
        else F.lit(None).cast(_LOG_NULL_TYPES[c]).alias(c)
        for c in _LOG_COLUMNS
    ])


def _epoch_plan(
    spark: SparkSession,
    raw_frontier: DataFrame,  # (url, hops)
    seen: DataFrame,  # (url_hash)
    robots_rules: DataFrame,
    records: DataFrame,
    cfg: CrawlConfig,
    bloom_probe,  # Callable[[DataFrame], DataFrame] adding ``maybe_seen``, or None
    host_rank: DataFrame | None = None,  # (host, host_affinity) broadcast dim
    sitemap_rank: DataFrame | None = None,  # (url_hash, sitemap_affinity) broadcast dim
) -> DataFrame:
    """One epoch's crawl log: one row per candidate URL with status ∈
    :data:`_STATUSES`."""
    if "retries" not in raw_frontier.columns:
        raw_frontier = raw_frontier.withColumn("retries", F.lit(0))
    fr = fop.canonicalize_frontier(raw_frontier, "url")
    # Dedup keyed by url_hash — the SAME 64-bit identity the seen-set uses
    # (north rule: xxhash64 keys ARE url identity for membership), so the
    # seen anti-/semi-joins below reuse this exchange instead of reshuffling:
    # one url_hash shuffle serves dedup + seen instead of url_norm + url_hash.
    dd = fr.groupBy("url_hash").agg(
        F.min("url_norm").alias("url_norm"),
        F.min("url_key").alias("url_key"),
        F.min("host").alias("host"),
        F.min("url_path").alias("url_path"),
        F.min("hops").alias("hops"),
        # MAX, not min: a fetch-error URL that is also organically
        # rediscovered each epoch (retries=0 from links) must keep its
        # highest attempt count, or the retry penalty resets every epoch
        # and max_retries exhaustion never fires for persistently-linked
        # dead URLs — the common case.
        F.max("retries").alias("retries"),
        F.count(F.lit(1)).alias("inlinks"),
    )

    # URL-seen: the Bloom/cuckoo prefilter (negative ⇒ definitely new, skips
    # the join probe) + exact verify of its positives, or the exact
    # anti-/semi-join alone when there is no prefilter
    new, dup = fop.url_seen_split(dd, seen, bloom_probe)

    rm = fop.robots_match(new, robots_rules)
    affinity = F.lit(0.0)
    if host_rank is not None:
        rm = rm.join(F.broadcast(host_rank), "host", "left")
        affinity = affinity + F.coalesce(F.col("host_affinity"), F.lit(0.0))
    if sitemap_rank is not None:
        rm = rm.join(F.broadcast(sitemap_rank), "url_hash", "left")
        affinity = affinity + F.coalesce(F.col("sitemap_affinity"), F.lit(0.0))
    if cfg.max_retries > 0:
        affinity = affinity - F.col("retries") * F.lit(_RETRY_PENALTY)
    pri = rm.withColumn(
        "priority", fop.priority_score(F.col("hops"), F.col("inlinks"), affinity)
    )
    pri = pri.drop("host_affinity", "sitemap_affinity")
    slot_key = "host"
    if cfg.politeness_key == "domain":
        from ..functions.udfs import private_suffix_udf

        pri = pri.withColumn(
            "_pol_key", F.coalesce(private_suffix_udf(F.col("host")), F.col("host"))
        )
        slot_key = "_pol_key"
    elif cfg.politeness_key != "host":
        raise ValueError(f"politeness_key must be host|domain, got {cfg.politeness_key!r}")
    # per-host budget: fixed cap, tightened by the robots crawl-delay when a
    # simulated epoch duration is set (a host serving one URL per 400 ms
    # yields fewer fetches per epoch than a 100 ms host)
    budget = cfg.host_budget
    if cfg.epoch_duration_ms is not None:
        budget = F.least(
            F.lit(budget),
            F.floor(F.lit(cfg.epoch_duration_ms)
                    / F.greatest(F.col("crawl_delay_ms"), F.lit(1))),
        )
    ordered = fop.schedule_fetches(pri, budget, slot_key, cfg.num_partitions)

    # fetch simulation: URL → record join (image id parsed from the path),
    # decode + validate via the Arrow batch kernel
    to_fetch = ordered.filter(F.col("status") == "fetched").withColumn(
        "image_id",
        F.format_string("img-%09d", F.regexp_extract("url_path", r"/img/(\d+)\.html", 1).cast("long")),
    )
    joined = to_fetch.join(records, "image_id", "left")
    # one pass: the kernel carries the crawl-log columns through, so the
    # upstream join executes exactly once (no self re-join on image_id)
    fetched = _fetch_simulate(
        joined, passthrough=[c for c in _LOG_COLUMNS if c not in ("digest", "status")]
    )
    fetch_log = _log_select(
        fetched,
        F.when(F.col("fetch_ok") == True, F.lit("fetched"))  # noqa: E712
        .otherwise(F.lit("fetch_error")),
    )
    other_log = _log_select(ordered.filter(F.col("status") != "fetched"))
    dup_log = _log_select(dup, F.lit("dup_seen"))
    return fetch_log.unionByName(other_log).unionByName(dup_log)


def _membership(history: DataFrame, epoch: int, cfg: CrawlConfig) -> DataFrame:
    """Derive the URL-seen MEMBERSHIP set for epoch ``epoch+1`` from the
    append-only fetch history (one row per fetch).  Three policies: fixed
    window (recrawl_epochs), adaptive AIMD (due URLs leave membership but
    their history is preserved — the next fetch's digest still compares
    against the previous one), or never-expire."""
    if cfg.recrawl_epochs is not None:
        return history.filter(F.col("first_epoch") > epoch - cfg.recrawl_epochs)
    if cfg.adaptive_recrawl:
        sched = fop.recrawl_schedule(
            history.select("url_hash", F.col("first_epoch").alias("epoch"), "digest"),
            current_epoch=epoch + 1,
        )
        due = sched.filter(F.col("due")).select(F.col("key").alias("url_hash"))
        return history.join(due, "url_hash", "left_anti")
    return history


def run_crawl(
    spark: SparkSession,
    records: DataFrame,
    seeds: DataFrame,  # (url, hops)
    link_graph: DataFrame,  # (src_url, dst_url)
    robots_rules: DataFrame,
    cfg: CrawlConfig,
    resume: bool = False,
    sitemap_captures: DataFrame | None = None,  # (host, payload, url_type)
) -> dict:
    """Run ``cfg.epochs`` crawl epochs; returns {"crawl_log": DataFrame,
    "seen": DataFrame, "metrics": list}.  With ``cfg.checkpoint_dir`` set,
    each epoch snapshots (crawl_log, seen, frontier) + a manifest; with
    ``resume=True`` the loop continues from the last complete snapshot.

    ``sitemap_captures`` closes the sitemap discovery loop: entries parsed
    from the captures seed the epoch-0 frontier and their protocol score
    boosts priority (see ``CrawlConfig.sitemap_weight``).  Resume stays
    bit-exact — the augmented frontier is already inside the epoch-0
    snapshot, and the affinity dim is rebuilt deterministically."""
    if cfg.seen_filter not in ("bloom", "cuckoo", None):
        raise ValueError(f"seen_filter must be bloom|cuckoo|None, got {cfg.seen_filter!r}")
    store = CheckpointStore(cfg.checkpoint_dir) if cfg.checkpoint_dir else None

    # canonicalize the link graph once (one UDF pass over edges)
    edges = fop.canonicalize_frontier(
        link_graph.select(F.col("src_url").alias("url"), "dst_url"), "url"
    ).select(F.col("url_norm").alias("src_norm"), "dst_url")

    # optional link-structure priority: PageRank over the HOST graph, once,
    # normalized to [0, weight] and broadcast into every epoch's priority
    host_rank = None
    if cfg.use_pagerank:
        from ..operators.graph import pagerank

        hedges = (
            link_graph.select(
                F.try_parse_url(F.col("src_url"), F.lit("HOST")).alias("src"),
                F.try_parse_url(F.col("dst_url"), F.lit("HOST")).alias("dst"),
            )
            .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
            .distinct()
        )
        pr = pagerank(hedges, iterations=_PAGERANK_ITERATIONS)
        mx = pr.agg(F.max("rank")).collect()[0][0] or 1.0
        host_rank = pr.select(
            F.col("vertex").alias("host"),
            F.round(F.col("rank") / mx * _PAGERANK_WEIGHT, 6).alias("host_affinity"),
        ).localCheckpoint()

    # sitemap discovery: parse once, score once; a tiny (url_hash →
    # affinity) dim broadcast into every epoch's priority, plus epoch-0
    # frontier seeding below
    sitemap_rank = None
    sitemap_urls = None
    if sitemap_captures is not None:
        from ..operators import sitemap as smop

        scored = smop.sitemap_frontier(
            smop.parse_sitemaps(sitemap_captures), as_of_date=cfg.sitemap_as_of
        )
        canon = fop.canonicalize_frontier(
            scored.select("url", "crawl_priority"), "url"
        )
        sitemap_rank = (
            canon.groupBy("url_hash")
            .agg(
                F.round(
                    F.max("crawl_priority") * cfg.sitemap_weight, 6
                ).alias("sitemap_affinity")
            )
            .localCheckpoint()
        )
        sitemap_urls = scored.select("url").distinct()

    seen_schema = "url_hash long, url_norm string, first_epoch int, digest string"
    start_epoch = 0
    if store and resume:
        state = store.latest()
        if state is not None:
            start_epoch = state["epoch"] + 1
            # merge-on-read: the seen-set is the union of per-epoch delta
            # snapshots; the recrawl window prunes whole delta dirs (every
            # delta row shares that epoch's first_epoch), so expiry costs
            # nothing at write time
            history = store.read_merged(spark, state["epoch"], "seen_delta",
                                        window=cfg.recrawl_epochs)
            seen = _membership(history, state["epoch"], cfg)
            frontier_df = store.read(spark, state["epoch"], "frontier")
        else:
            history = seen = spark.createDataFrame([], seen_schema)
            frontier_df = seeds
    else:
        history = seen = spark.createDataFrame([], seen_schema)
        frontier_df = seeds

    if sitemap_urls is not None and start_epoch == 0:
        hops_type = dict(zip(seeds.columns, [f.dataType for f in seeds.schema]))["hops"]
        discovered = sitemap_urls.select(
            "url", F.lit(1).cast(hops_type).alias("hops")
        )
        frontier_df = frontier_df.unionByName(discovered)

    parallelism = spark.sparkContext.defaultParallelism
    logs = []
    metrics = []
    for epoch in range(start_epoch, cfg.epochs):
        # the membership set's size sizes this epoch's filter.  Counting the
        # merged parquet deltas (or the in-memory checkpoint) reads no
        # column; a recrawl window reads first_epoch, and the adaptive
        # schedule's anti-join runs once more for it.
        bloom_probe = None
        n_seen = seen.count() if cfg.seen_filter else 0
        if cfg.seen_filter and not n_seen:
            # nothing seen yet: every candidate is definitely new — the
            # constant folds the split to no join and no Python stage
            def bloom_probe(df):
                return df.withColumn("maybe_seen", F.lit(False))
        elif cfg.seen_filter == "cuckoo":
            # cuckoo tier: same prefilter contract (negative ⇒ definitely
            # new), deletion-capable and ~17% smaller at FPR 1e-6.  Rebuilt
            # per epoch from the membership set like the Bloom, so recrawl
            # expiry needs no in-place deletion here; remove_hashes serves
            # long-lived filters maintained across epochs.
            cparams = sized_params(cop.CuckooParams, n_seen, parallelism)
            cshards = cop.build_cuckoo_shards(seen, "url_hash", cparams).localCheckpoint()

            def bloom_probe(df, _shards=cshards, _p=cparams):
                return cop.cuckoo_negative_filter_sharded(df, "url_hash", _shards, _p)
        elif cfg.seen_filter:
            params = sized_params(BloomParams, n_seen, parallelism)
            if params.shard_bytes * params.num_shards > _BLOOM_BROADCAST_MAX_BYTES:
                shards = build_bloom_shards(seen, "url_hash", params).localCheckpoint()

                def bloom_probe(df, _shards=shards, _p=params):
                    return bloom_negative_filter_sharded(df, "url_hash", _shards, _p)
            else:
                bloom = build_bloom(seen, "url_hash", params)

                def bloom_probe(df, _b=bloom):
                    return bloom_negative_filter(df, "url_hash", _b)

        crawl_log = _epoch_plan(
            spark, frontier_df, seen, robots_rules, records, cfg, bloom_probe,
            host_rank=host_rank, sitemap_rank=sitemap_rank,
        )
        # truncate lineage every epoch: without this the logical plan embeds
        # every prior epoch's full pipeline and grows super-linearly (driver
        # OOMs on plan trees long before data is a problem).  The per-epoch
        # status counts (the reference's Hadoop counters,
        # WARCIndexerMapper.java:63-65 / Instrument.java) ride this
        # checkpoint's job as observe() metrics — no job of their own.
        obs = Observation()
        crawl_log = (
            crawl_log.withColumn("epoch", F.lit(epoch))
            .observe(obs, *[F.count_if(F.col("status") == s).alias(s) for s in _STATUSES])
            .localCheckpoint()
        )
        metrics.append({
            "epoch": epoch,
            "statuses": {s: n for s, n in obs.get.items() if n},
            "partitions": crawl_log.rdd.getNumPartitions(),
        })

        # seen-set delta: everything fetched this epoch (+ retry-exhausted
        # URLs with an ``unfetchable`` sentinel so rediscovered links stop
        # producing candidates until recrawl expiry re-admits them)
        delta = crawl_log.filter(F.col("status") == "fetched").select(
            "url_hash", "url_norm", F.lit(epoch).alias("first_epoch"), "digest"
        )
        if cfg.max_retries > 0:
            exhausted = crawl_log.filter(
                (F.col("status") == "fetch_error")
                & (F.col("retries") + 1 > cfg.max_retries)
            ).select(
                "url_hash", "url_norm", F.lit(epoch).alias("first_epoch"),
                F.lit("unfetchable").alias("digest"),
            )
            delta = delta.unionByName(exhausted)

        # next frontier: outlinks of fetched pages (+1 hop) ∪ delayed carry-over
        fetched_urls = crawl_log.filter(F.col("status") == "fetched").select(
            F.col("url_norm").alias("src_norm"), "hops"
        )
        expanded = (
            fetched_urls.join(edges, "src_norm")
            .select(F.col("dst_url").alias("url"),
                    (F.col("hops") + 1).alias("hops"),
                    F.lit(0).alias("retries"))
        )
        delayed = crawl_log.filter(F.col("status") == "delayed").select(
            F.col("url_norm").alias("url"), "hops", "retries"
        )
        frontier_df = expanded.unionByName(delayed)
        if cfg.max_retries > 0:
            failed = crawl_log.filter(F.col("status") == "fetch_error")
            retry = failed.filter(F.col("retries") + 1 <= cfg.max_retries).select(
                F.col("url_norm").alias("url"), "hops",
                (F.col("retries") + 1).alias("retries"),
            )
            frontier_df = frontier_df.unionByName(retry)

        if store:
            # commit only this epoch's seen DELTA (O(delta), never an
            # O(total) rewrite — the Iceberg merge-on-read seen-set shape);
            # readers union committed deltas via read_merged
            store.write(epoch, {
                "crawl_log": crawl_log,
                "seen_delta": delta,
                "frontier": frontier_df,
            }, extra={"metrics": metrics[-1]})
            # re-read from the snapshot so lineage stays short across epochs
            history = store.read_merged(spark, epoch, "seen_delta",
                                        window=cfg.recrawl_epochs)
            frontier_df = store.read(spark, epoch, "frontier")
            crawl_log = store.read(spark, epoch, "crawl_log")
        else:
            # no snapshot to re-read: truncate lineage in memory instead
            history = history.unionByName(delta).localCheckpoint()
            frontier_df = frontier_df.localCheckpoint()
        # recrawl expiry / adaptive scheduling: history is append-only;
        # MEMBERSHIP (what dedups next epoch) is derived from it (exact side
        # is authoritative — the prefilter is rebuilt from the membership set
        # at the top of each epoch, so the two tiers can never disagree)
        seen = _membership(history, epoch, cfg)
        logs.append(crawl_log)

    full_log = logs[0]
    for extra_log in logs[1:]:
        full_log = full_log.unionByName(extra_log)
    return {"crawl_log": full_log, "seen": seen, "metrics": metrics}
