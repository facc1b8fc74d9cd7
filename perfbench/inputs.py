"""Seeded input generators for the three workloads.

Every generator is a pure function of its seed: the same seed gives the
same rows.  The program under test receives only the DataFrames (or, for
the gate mix, the parquet tables) built here.

- ``frontier_bulk``: a raw URL frontier of messiness variants over a
  Zipf-skewed host population, per-host robots rules, and a record store in
  which every image id has a record.  Record bytes come from a small pool of
  images encoded once, so generation stays cheap while the fetch kernel
  still decodes real PNG/JPEG/BMP payloads.
- ``crawl_epochs``: the synthetic world of ``sources.frontier_data``.
- ``gate_mix``: ``events``/``documents``/``embeddings`` tables fitted to
  the engine's seed-42 test tables at sf0.01, written as parquet.  The
  figures they were fitted to are measured by ``table_stats.py`` and
  recorded in ``evidence/gate_tables_measured.json``.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

# frontier_bulk shape (see BENCHMARK.json and README.md for the reasons)
BULK_CANONICAL = 20_000  # distinct canonical URLs = image ids
BULK_VARIANTS = 4  # raw messiness variants per canonical URL
BULK_HOSTS = 1_500
BULK_ZIPF = 1.1
BULK_POOL = 48  # pre-encoded images the record store draws from
BULK_IMAGE_PX = 8
BULK_HOST_BUDGET = 1

# crawl_epochs shape
WORLD_RECORDS = 2_000
WORLD_SEED_SHARE = 100  # one seed URL per 100 records (1%)
WORLD_FANOUT = 3
WORLD_HOST_BUDGET = 100

# gate_mix shape: the measured sf0.01 test tables (see
# evidence/gate_tables_measured.json) have 10k events by 150 users over 30
# days, five event types in equal shares, exponential values of mean 50,
# props {"k": 0..99}; 500 documents of 10-99 words from a 30-word
# vocabulary, 5% of them an earlier document plus " dup", 44% "en" and
# about 14% each of four other languages, 20 sources; 500 unit-norm
# 64-dimensional embeddings with 10 labels
GATE_TABLE_SEED = 42
GATE_EVENTS = 10_000
GATE_USERS = 150
GATE_DOCUMENTS = 500
GATE_EMBEDDINGS = 500
GATE_DIM = 64
GATE_NEAR_DUP_SHARE = 0.05

# each variant canonicalizes to the same URL as the plain http form
_VARIANTS = (
    "http://{h}{p}",
    "https://{h}{p}",
    "http://www.{h}{p}",
    "https://WWW.{h}{p}/",
    "HTTP://{H}{p}",
    "http://{h}{p}?",
)


def bulk_host(i: int) -> str:
    return f"h{i:04d}.example.net"


def bulk_frontier(seed: int) -> pd.DataFrame:
    """Raw frontier rows ``(url, hops)``.  Canonical URL ``k`` is
    ``http://<host>/img/<k>.html``; it appears ``BULK_VARIANTS`` times, each
    in a seeded messy form, and the rows are shuffled."""
    rng = np.random.default_rng([seed, 1])
    weights = 1.0 / np.arange(1, BULK_HOSTS + 1) ** BULK_ZIPF
    host_of = rng.choice(BULK_HOSTS, BULK_CANONICAL, p=weights / weights.sum())
    ks = np.repeat(np.arange(BULK_CANONICAL), BULK_VARIANTS)
    forms = rng.integers(0, len(_VARIANTS), ks.size)
    hops = rng.integers(0, 4, ks.size)
    urls = []
    for k, form in zip(ks.tolist(), forms.tolist()):
        h = bulk_host(int(host_of[k]))
        urls.append(_VARIANTS[form].format(h=h, H=h.upper(), p=f"/img/{k}.html"))
    order = rng.permutation(ks.size)
    return pd.DataFrame({"url": np.asarray(urls, dtype=object)[order],
                         "hops": hops[order].astype("int32")})


def bulk_robots_rows(seed: int) -> list[tuple]:
    """Per-host robots rules: every 7th host denies ``/img/``, every 3rd
    denies the narrow ``/img/1`` prefix, the rest allow all; crawl delays
    are seeded."""
    rng = np.random.default_rng([seed, 2])
    delays = rng.choice([100, 250, 500, 1000], BULK_HOSTS)
    rows = []
    for i in range(BULK_HOSTS):
        host, delay = bulk_host(i), int(delays[i])
        if i % 7 == 0:
            rows.append((host, "deny", "/img/", delay))
        elif i % 3 == 0:
            rows.append((host, "deny", "/img/1", delay))
            rows.append((host, "allow", "/", delay))
        else:
            rows.append((host, "allow", "/", delay))
    return rows


def image_pool(seed: int) -> pd.DataFrame:
    """``BULK_POOL`` images of ``BULK_IMAGE_PX`` square pixels, encoded once:
    an equal share of PNG, JPEG and BMP, so the decode cost per fetch does
    not depend on the seed.  Lossless images are seeded noise; JPEGs are
    seeded smooth gradients (the content class the codec round-trips)."""
    from webarchive_discovery_spark.functions.imaging import average_hash, encode_image

    rng = np.random.default_rng([seed, 4])
    px = BULK_IMAGE_PX
    yy, xx = np.mgrid[0:px, 0:px]
    rows = []
    for i in range(BULK_POOL):
        fmt = ("png", "jpeg", "bmp")[i % 3]
        if fmt == "jpeg":
            planes = [rng.uniform(60, 195) + rng.uniform(-3, 3) * xx + rng.uniform(-3, 3) * yy
                      for _ in range(3)]
            rgb = np.clip(np.stack(planes, axis=2), 0, 255).astype(np.uint8)
        else:
            rgb = rng.integers(0, 256, (px, px, 3), dtype=np.uint8)
        rows.append({
            "pool_idx": i, "bytes": encode_image(rgb, fmt), "w": px, "h": px, "fmt": fmt,
            "caption": f"pool image {i} {fmt}", "phash": int(average_hash(rgb)),
        })
    return pd.DataFrame(rows)


def frontier_bulk(spark, seed: int) -> dict:
    """DataFrames for one ``frontier_bulk`` run, each pinned once."""
    from pyspark.sql import functions as F

    from webarchive_discovery_spark.session import values_df

    raw = bulk_frontier(seed)
    frontier = spark.createDataFrame(raw, "url string, hops int").localCheckpoint()
    pool = spark.createDataFrame(
        image_pool(seed),
        "pool_idx long, bytes binary, w int, h int, fmt string, caption string, phash long",
    )
    records = (
        spark.range(0, BULK_CANONICAL, 1, spark.sparkContext.defaultParallelism)
        .select(
            F.format_string("img-%09d", F.col("id")).alias("image_id"),
            F.pmod(F.xxhash64(F.col("id"), F.lit(seed)), F.lit(BULK_POOL)).alias("pool_idx"),
        )
        .join(F.broadcast(pool), "pool_idx")
        .select("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
        .localCheckpoint()
    )
    robots = values_df(
        spark, bulk_robots_rows(seed),
        "host string, rule_type string, path_prefix string, crawl_delay_ms int",
    )
    links = spark.createDataFrame([], "src_url string, dst_url string")
    return {"records": records, "seeds": frontier, "link_graph": links,
            "robots_rules": robots, "rows": len(raw)}


def crawl_world(spark, seed: int) -> dict:
    """The ``sources.frontier_data`` world for ``crawl_epochs``: records,
    1% seeds, fanout-3 link graph and the 64-host robots rules.  The
    generator UDFs run once here, not inside the timed epochs."""
    from webarchive_discovery_spark.sources import frontier_data as fd

    n = WORLD_RECORDS
    records = fd.gen_frontier_records(spark, n, seed=seed).localCheckpoint()
    seeds = fd.gen_seeds(spark, n, n // WORLD_SEED_SHARE).select("url", "hops").localCheckpoint()
    links = fd.gen_link_graph(spark, n, WORLD_FANOUT).select("src_url", "dst_url").localCheckpoint()
    return {"records": records, "seeds": seeds, "link_graph": links,
            "robots_rules": fd.gen_robots_rules(spark), "rows": n}


_DOC_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def gate_tables(out_dir: str, seed: int = GATE_TABLE_SEED) -> dict:
    """Write ``events``, ``documents`` and ``embeddings`` parquet tables to
    ``out_dir``; returns their row counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)

    n = GATE_EVENTS
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    ts = start + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    events = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, GATE_USERS, n, dtype=np.int64)),
        "event_type": pa.array([_EVENT_TYPES[i] for i in rng.integers(0, 5, n)]),
        "value": pa.array(np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })

    near_dups = set(rng.choice(np.arange(1, GATE_DOCUMENTS),
                               round(GATE_NEAR_DUP_SHARE * GATE_DOCUMENTS), replace=False).tolist())
    texts = []
    for i in range(GATE_DOCUMENTS):
        if i in near_dups:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(_DOC_WORDS), int(rng.integers(10, 100)))
            texts.append(" ".join(_DOC_WORDS[w] for w in words))
    documents = pa.table({
        "doc_id": pa.array(np.arange(GATE_DOCUMENTS, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([_LANGS[i] for i in rng.choice(5, GATE_DOCUMENTS, p=_LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(GATE_DOCUMENTS)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    vecs = rng.standard_normal((GATE_EMBEDDINGS, GATE_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(GATE_EMBEDDINGS, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, GATE_EMBEDDINGS, dtype=np.int32)),
    })

    tables = {"events": events, "documents": documents, "embeddings": embeddings}
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
