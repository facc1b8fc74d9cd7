"""Statistics of the gate tables (``events``, ``documents``,
``embeddings``) that the per-gate costs depend on: row counts, value
domains, text lengths, duplicate shares and the category mixes.

``inputs.gate_tables`` is fitted to these figures as measured on the
engine's seed-42 test tables; ``evidence/gate_tables_measured.json``
records them, and ``tests/test_perfbench.py`` checks that the generated
tables still match.  To measure again:

    python3 perfbench/table_stats.py sf0.01=<dir> sf0.1=<dir> generated=<dir> \
        --out perfbench/evidence/gate_tables_measured.json

Each ``<dir>`` holds ``events.parquet``, ``documents.parquet`` and
``embeddings.parquet``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import numpy as np
import pandas as pd


def _shares(series) -> dict:
    return {k: round(float(v), 4) for k, v in series.value_counts(normalize=True).sort_index().items()}


def _quantiles(values) -> dict:
    q = np.quantile(np.asarray(values, dtype=float), [0.0, 0.25, 0.5, 0.75, 1.0])
    return dict(zip(("min", "p25", "p50", "p75", "max"), (round(float(x), 4) for x in q)))


def measure(table_dir: str) -> dict:
    """The statistics of one directory of gate tables."""
    ev = pd.read_parquet(os.path.join(table_dir, "events.parquet"))
    doc = pd.read_parquet(os.path.join(table_dir, "documents.parquet"))
    emb = pd.read_parquet(os.path.join(table_dir, "embeddings.parquet"))

    texts = doc["text"]
    words = texts.str.split()
    vocab = {w for ws in words for w in ws}
    stems = set(texts)
    suffixed = texts[texts.str.endswith(" dup")]
    vecs = np.stack(emb["embedding"].to_numpy())
    return {
        "events": {
            "rows": len(ev),
            "users": int(ev["user_id"].nunique()),
            "ts_days": round((ev["ts"].max() - ev["ts"].min()).total_seconds() / 86_400, 2),
            "ts_sorted": bool(ev["ts"].is_monotonic_increasing),
            "event_type": _shares(ev["event_type"]),
            "value": _quantiles(ev["value"]),
            "props_distinct": int(ev["props"].nunique()),
        },
        "documents": {
            "rows": len(doc),
            "text_chars": _quantiles(texts.str.len()),
            "words_per_doc": _quantiles(words.str.len()),
            "vocab": len(vocab),
            "exact_dup_share": round(float(texts.duplicated().mean()), 4),
            "near_dup_share": round(len(suffixed) / len(doc), 4),
            "near_dup_stem_found": round(float(np.mean([t[:-4] in stems for t in suffixed])), 4)
            if len(suffixed) else 0.0,
            "lang": _shares(doc["lang"]),
            "sources": int(doc["source"].nunique()),
            "n_chars_is_len": bool((doc["n_chars"] == texts.str.len()).all()),
        },
        "embeddings": {
            "rows": len(emb),
            "dim": int(vecs.shape[1]),
            "norm": round(float(np.linalg.norm(vecs, axis=1).mean()), 4),
            "component_std": round(float(vecs.std()), 4),
            "labels": int(emb["label"].nunique()),
        },
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("tables", nargs="+", help="NAME=DIR")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    report = {}
    for item in args.tables:
        name, _, path = item.partition("=")
        report[name] = measure(path)
    with open(args.out, "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
