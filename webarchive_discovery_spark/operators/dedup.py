"""Document deduplication operators for training-data pipelines.

Generalizes the reference's dedup-by-digest grouping
(``MDXReduplicatingReducer.java:72-152``) and fuzzy-hash fields
(``FuzzyHashAnalyser.java:62-81``) into the four standard dedup families:
exact hash, MinHash+LSH, SimHash, and n-gram Jaccard verification.

Design notes for 100 TB:

- All hashing is expressed with built-in JVM functions (``md5``, ``xxhash64``,
  ``transform``/``slice`` array expressions) — whole-stage codegen end to
  end, no Python in the hot path.
- MinHash candidate generation shuffles on (band_id, band_hash) — band
  buckets are tiny relative to the corpus, so the pairwise join explodes only
  within buckets, never globally.
- ``md5`` (not ``xxhash64``) is used where an external SQL oracle must
  reproduce the exact values; swap to ``xxhash64`` for ~2× hash speed when
  oracle parity is not needed (the shuffle dominates either way).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import column_memo

__all__ = [
    "exact_dedup",
    "tokenize",
    "shingles",
    "exploded_shingles",
    "minhash_signature",
    "minhash_lsh_candidates",
    "ngram_jaccard_pairs",
    "simhash16",
    "simhash_near_dup_pairs",
    "connected_components",
    "duplicated_substring_spans",
    "substring_dedup_stats",
]


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup: group by content digest, keep the smallest id as the
    canonical exemplar (hash-groupBy; one shuffle on the digest)."""
    return (
        df.withColumn("digest", F.md5(F.col(text_col)))
        .groupBy("digest")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def tokenize(text_col: str) -> Column:
    """Whitespace tokenization as a JVM-side expression."""
    return F.split(F.trim(F.col(text_col)), r"\s+")


def shingles(tokens: Column, n: int = 3) -> Column:
    """Word n-gram shingles: ``transform(sequence(1, len-n+1), i →
    concat_ws(' ', slice(tokens, i, n)))`` — pure array expressions.

    NOTE: higher-order functions run interpreted (outside whole-stage
    codegen); when the downstream op explodes the array anyway, use
    :func:`exploded_shingles` — measured 10× faster at identical output."""
    count = F.greatest(F.size(tokens) - (n - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(1), count),
        lambda i: F.concat_ws(" ", F.slice(tokens, i, n)),
    )


def exploded_shingles(
    df: DataFrame, text_col: str, id_col: str, n: int = 3
) -> DataFrame:
    """``(doc, s)`` rows of word n-gram shingles, built explode-FIRST so the
    per-shingle expression is plain codegen (``get``/``concat_ws``) instead
    of an interpreted lambda: explode the index sequence, then assemble each
    shingle from the carried token array.  Bit-identical to
    ``explode(shingles(...))`` (``concat_ws`` skips the out-of-bounds nulls
    ``get`` yields on short documents) and ~10× faster — HOFs evaluate
    outside whole-stage codegen and re-interpret the lambda per element."""
    toks = tokenize(text_col)
    count = F.greatest(F.size(F.col("_t")) - (n - 1), F.lit(1))
    return (
        df.select(F.col(id_col).alias("doc"), toks.alias("_t"))
        .select("doc", "_t", F.explode(F.sequence(F.lit(1), count)).alias("_i"))
        .select(
            "doc",
            F.concat_ws(
                " ", *[F.get(F.col("_t"), F.col("_i") + k - 1) for k in range(n)]
            ).alias("s"),
        )
    )


def minhash_signature(sh: Column, num_hashes: int = 8) -> list[Column]:
    """MinHash over md5-salted shingles: ``min(md5(j || ':' || shingle))``
    per hash index j (string-min is a valid min-wise hash here)."""
    return [
        F.array_min(F.transform(sh, lambda s: F.md5(F.concat(F.lit(f"{j}:"), s)))).alias(
            f"mh{j}"
        )
        for j in range(num_hashes)
    ]


@column_memo(maxsize=32)
def _minhash_band_exprs(num_hashes: int, bands: int, hash_fn: str):
    """Memoized signature-aggregate and band-explode Columns for
    :func:`minhash_lsh_candidates` — ~300 py4j round trips per build
    otherwise (see the expression-memo note in operators/textstats.py)."""
    rows_per_band = num_hashes // bands
    if hash_fn == "md5":
        mh = lambda j: F.md5(F.concat(F.lit(f"{j}:"), F.col("s")))  # noqa: E731
    else:
        mh = lambda j: F.xxhash64(F.lit(j), F.col("s"))  # noqa: E731
    sig_cols = tuple(
        F.min(mh(j)).alias(f"mh{j}") for j in range(num_hashes)
    )
    band_cols = []
    for b in range(bands):
        members = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_hash = (
            F.md5(F.concat_ws("|", *members)).alias("band_hash")
            if hash_fn == "md5"
            else F.xxhash64(*members).cast("string").alias("band_hash")
        )
        band_cols.append(F.struct(F.lit(b).alias("band_id"), band_hash))
    return sig_cols, F.explode(F.array(*band_cols)).alias("band")


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket_size: int = 1000,
    hash_fn: str = "md5",
) -> DataFrame:
    """Near-dup candidate pairs via banded MinHash-LSH.

    signature → split into ``bands`` bands of ``num_hashes/bands`` rows →
    hash each band → self-join on (band_id, band_hash) with ``id_a < id_b``.
    Returns (id_a, id_b, n_bands_matched).

    ``max_bucket_size`` caps degenerate buckets (1M identical docs would
    otherwise cost O(n²) pairs in ONE task): only the first ``cap`` docs per
    (band_id, band_hash) — ordered by id, deterministic — enter the
    self-join, bounding any bucket to cap² pairs.  Docs beyond the cap in a
    degenerate bucket lose candidacy *within that band only*; with multiple
    bands near-dups still surface through their other bands.  Set ``None``
    to disable (exact candidate semantics).

    ``hash_fn``: ``"md5"`` (default — string hashes an external SQL oracle
    reproduces exactly) or ``"xxhash64"`` — 64-bit long hashes, cheaper to
    compute and 4× narrower on the (band_id, band_hash) shuffle, for
    production runs where oracle parity is not needed.  Candidate *semantics*
    are identical (pytest-asserted); only the hash family differs."""
    if hash_fn not in ("md5", "xxhash64"):
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    # explode shingles once (codegen explode-first path), then one
    # hash-aggregate computes all minhashes — avoids materializing (and
    # recomputing) the shingle array per hash index
    exploded = exploded_shingles(df, text_col, id_col, shingle_n)
    sig_cols, band_explode = _minhash_band_exprs(num_hashes, bands, hash_fn)
    sig = exploded.groupBy("doc").agg(*sig_cols)
    banded = sig.select("doc", band_explode).select(
        "doc", F.col("band.band_id").alias("band_id"), F.col("band.band_hash").alias("band_hash")
    )
    # Explicit fixed-width repartition on the bucket key BEFORE the cap
    # window and the self-join: the join explodes within buckets, and AQE
    # would otherwise coalesce the (byte-wise tiny) exchange to one
    # partition, serializing the whole candidate explosion onto one task
    # (guide §2.5).  The window's required distribution and both join
    # aliases all reuse this one user exchange.
    banded = banded.repartition(
        df.sparkSession.sparkContext.defaultParallelism, "band_id", "band_hash"
    )
    if max_bucket_size is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("band_id", "band_hash").orderBy("doc")
        banded = (
            banded.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= max_bucket_size)
            .drop("_rk")
        )
    left = banded.alias("a")
    right = banded.alias("b")
    pairs = (
        left.join(
            right,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .groupBy(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_bands_matched"))
    )
    return pairs


def ngram_jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
) -> DataFrame:
    """Verify candidate pairs with exact n-gram Jaccard similarity
    (|A∩B| / |A∪B| over distinct shingle sets).

    Shingle sets are built from the codegen explode-first path +
    ``collect_set`` (measured ~6× faster than the interpreted
    ``array_distinct(transform(...))`` even with the extra shuffle);
    set-element order is nondeterministic but every downstream op
    (intersect/union/size) is order-insensitive, so results stay
    parallelism-independent."""
    sh = (
        exploded_shingles(df, text_col, id_col, shingle_n)
        .groupBy("doc")
        .agg(F.collect_set("s").alias("sh"))
    )
    a = sh.alias("sa")
    b = sh.alias("sb")
    return (
        candidates.join(a, candidates["id_a"] == F.col("sa.doc"))
        .join(b, candidates["id_b"] == F.col("sb.doc"))
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect(F.col("sa.sh"), F.col("sb.sh"))).cast("double")
                / F.size(F.array_union(F.col("sa.sh"), F.col("sb.sh")))
            ).alias("jaccard"),
        )
    )


def ngram_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Benchmark decontamination: per TRAIN document, how much of it appears
    verbatim (word ``n``-grams) in the EVAL set — the standard pre-training
    hygiene step (drop or flag training documents that leak evaluation
    benchmarks; the 8-to-13-gram overlap rule of the GPT-3/PaLM data cards).

    Returns ``(id, n_grams, n_contaminated, contamination_fraction)`` —
    gram INSTANCES counted on the train side (a doc repeating a leaked gram
    counts each occurrence), eval grams deduplicated.

    100 TB shape: eval benchmarks are tiny next to a web-scale train corpus,
    so the distinct eval-gram set is BROADCAST — the train side is one
    explode + one broadcast hash join + one hash agg keyed on the doc id,
    never a train-side shuffle on gram values.  Set ``broadcast_eval=False``
    only if the eval side genuinely outgrows executor memory (then it's a
    sort-merge join on the gram)."""
    tg = exploded_shingles(train, text_col, id_col, n)
    eg = (
        exploded_shingles(eval_df, text_col, id_col, n)
        .select("s").distinct().withColumn("_hit", F.lit(1))
    )
    if broadcast_eval:
        eg = F.broadcast(eg)
    return (
        tg.join(eg, "s", "left")
        .groupBy(F.col("doc").alias(id_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.coalesce(F.sum("_hit"), F.lit(0)).cast("long").alias("n_contaminated"),
        )
        .withColumn(
            "contamination_fraction",
            F.round(F.col("n_contaminated") / F.col("n_grams"), 4),
        )
    )


def simhash16(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """16-bit SimHash per document from the first 4 hex chars of
    ``md5(token)``: per bit position the vote is ``+1`` when the bit is set
    else ``-1``; the fingerprint bit is 1 when the summed vote is positive.

    Realized as explode + ONE hash aggregate (count + 16 bit-sums) — fully
    whole-stage-codegen, one shuffle, no higher-order array functions (which
    disable codegen and would recompute tokenization per bit).  Bit ``b``
    reads bit ``15-b`` of ``conv(substr(md5(tok),1,4), 16, 10)``, the exact
    value an external SQL oracle reproduces with md5 + strpos arithmetic.
    Vote positivity: ``sum(±1) > 0  ⇔  2·(set-bit count) > token count``.
    """
    tok_expr, v_expr, n_expr, bit_sums, total = _simhash16_exprs(text_col)
    toks = df.select(F.col(id_col), tok_expr)
    withv = toks.select(id_col, v_expr)
    g = withv.groupBy(id_col).agg(n_expr, *bit_sums)
    return g.select(F.col(id_col), total)


@column_memo(maxsize=64)
def _simhash16_exprs(text_col: str):
    # expression-tree memo (r6): ~400 py4j round trips per build otherwise —
    # see the note in operators/textstats.py; unresolved Columns bind by name
    tok_expr = F.explode(tokenize(text_col)).alias("tok")
    v_expr = F.conv(F.substring(F.md5("tok"), 1, 4), 16, 10).cast("long").alias("v")
    bit_sums = tuple(
        F.sum(F.shiftright(F.col("v"), 15 - b).bitwiseAND(F.lit(1))).alias(f"s{b}")
        for b in range(16)
    )
    n_expr = F.count(F.lit(1)).alias("n")
    total = F.lit(0)
    for b in range(16):
        total = total + F.when(
            F.col(f"s{b}") * 2 > F.col("n"), F.lit(2 ** (15 - b))
        ).otherwise(F.lit(0))
    return tok_expr, v_expr, n_expr, bit_sums, total.cast("long").alias("simhash")


def ssdeep_hash(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """ssdeep-style CTPH fuzzy hash per document → (id, blocksize, ssdeep_sig,
    ssdeep_sig2); field naming follows ``ssdeep_hash_bs_<blocksize>``
    (``FuzzyHashAnalyser.java:62-88``).  One Arrow pass (the byte-walk kernel
    is per-row Python, like the reference's native ssdeep)."""
    from ..functions.ctph import ctph

    struct_type = "blocksize int, ssdeep_sig string, ssdeep_sig2 string"

    @F.pandas_udf(struct_type)
    def kernel(texts: pd.Series) -> pd.DataFrame:
        rows = []
        for t in texts:
            if t is None:
                rows.append({"blocksize": None, "ssdeep_sig": None, "ssdeep_sig2": None})
                continue
            bs, sig, sig2 = ctph(t)
            rows.append({"blocksize": bs, "ssdeep_sig": sig, "ssdeep_sig2": sig2})
        return pd.DataFrame(rows)

    return df.select(
        F.col(id_col), kernel(F.col(text_col)).alias("_h")
    ).select(
        id_col,
        F.col("_h.blocksize").alias("blocksize"),
        F.col("_h.ssdeep_sig").alias("ssdeep_sig"),
        F.col("_h.ssdeep_sig2").alias("ssdeep_sig2"),
    )


def connected_components(
    vertices: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Cluster near-dup pairs into components: ``(id, component)`` where
    ``component`` = smallest vertex id reachable through the pair graph
    (singletons map to themselves).  The canonical-exemplar step of a
    dedup pipeline — keep ``id == component``, drop the rest.

    Min-label propagation: each round every vertex takes the min of its own
    and its neighbors' labels; converges in O(graph diameter) rounds (near-
    dup graphs are shallow — clusters are dense blobs, not long chains).

    Round shape (r6 optimization — guide §2.4 / §1.2-1: this is a
    scheduling-bound loop, so the job COUNT is the cost model):

    - ONE job per round: the round's labels ``localCheckpoint`` (plan
      truncation — checkpointing keeps every round's plan flat, so
      driver-side analysis cost stays constant across rounds) carries an
      ``observe()`` metric counting label improvements, so convergence
      detection rides the materialization job instead of being a separate
      limit-1 scan (2 jobs/round → 1).  A cache()-based variant that also
      preserved partitioning was tried and rejected: nested
      InMemoryRelation lineage made per-round planning cost GROW with the
      round number (measured 3× slower end-to-end despite fewer
      exchanges).
    - the round is join-free: two aggregates on ``id`` (labels meet the
      out-neighbour lists, then every vertex's offered labels fold with
      its own), so a one-partition loop needs no exchange at all and a
      wider one shuffles only the offers.
    - the convergence metric is computed BELOW the final projection, so the
      checkpointed rows stay ``(id, component)`` — the ``_own`` comparison
      column never materializes.
    - the edge list skips a ``distinct`` (a full exchange+aggregate):
      every producer in this repo emits each unordered pair once, and min()
      label folds are duplicate-TOLERANT anyway — a repeated edge changes
      nothing.
    - AQE is switched OFF around the loop (restored after): each round is a
      tiny fixed-shape plan, and under AQE every exchange materializes as
      its own stage-job (~5 jobs/round measured vs 1 statically; the
      adaptive re-planning buys nothing here).  Skew safety does not regress:
      vertex degree is bounded by construction — every candidate producer
      caps band buckets (``max_bucket_size``/block decomposition), so no
      hot key can concentrate a round's aggregate.  The loop's exchanges are
      explicit ``repartition(loop_parts, key)`` calls sized from the edge
      count; the session's ``spark.sql.shuffle.partitions`` is left alone.

    Deterministic at any parallelism: labels are pure min() folds of data
    values."""
    from pyspark.sql import Observation

    from ..session import static_plans

    spark = vertices.sparkSession
    n_parts = spark.sparkContext.defaultParallelism
    with static_plans(spark):
        # BOTH edge directions from ONE pass over the pair producer: the old
        # two-select union executed the (often expensive — banded self-join)
        # pair lineage twice; explode(array(fwd, rev)) reads it once and
        # emits the same rows (r6, guide §2.4 — the union's second subtree
        # was an un-reused duplicate of the first)
        eobs = Observation()
        adj = (
            pairs.select(
                F.explode(
                    F.array(
                        F.struct(
                            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
                        ),
                        F.struct(
                            F.col(dst_col).alias("src"), F.col(src_col).alias("dst")
                        ),
                    )
                ).alias("_e")
            )
            .select(F.col("_e.src").alias("src"), F.col("_e.dst").alias("dst"))
            # the edge count rides the checkpoint job (observe) and sizes the
            # LOOP's exchanges below — no separate count job
            .observe(eobs, F.count(F.lit(1)).alias("n"))
            .repartition(n_parts, "src")
            # pinned as out-neighbour lists: every round meets them with the
            # labels, and grouping them once here keeps the per-round work
            # to two aggregates on id
            .groupBy(F.col("src").alias("id"))
            .agg(F.collect_list("dst").alias("_nbrs"))
            .localCheckpoint()
        )
        # Scale-adaptive loop width (r6): size the loop from the MEASURED
        # edge count (ceil(n/32k) capped at the session width — the same
        # scaled_partitions policy as global_sequence) instead of a
        # cluster-sized constant that schedules dozens of near-empty tasks
        # per round for the frequent small-graph case (post-exact-dedup
        # near-dup graphs).  The width lives in the plan, not in session
        # conf: every exchange of the loop is an explicit
        # repartition(loop_parts, key), and each round's labels checkpoint
        # keeps the hash(id) layout for the next round.  One partition is a
        # narrow coalesce(1) instead: it satisfies every grouping, so a round
        # then runs as one stage with no exchange at all.
        from ..operators.frontier import scaled_partitions

        loop_parts = min(n_parts, scaled_partitions(eobs.get["n"], n_parts))

        def at_loop_width(df: DataFrame, key: str) -> DataFrame:
            if loop_parts == 1:
                return df.coalesce(1)
            return df.repartition(loop_parts, key)

        # no exchange when loop_parts == n_parts: adj is hash(id)-partitioned
        adj = at_loop_width(adj, "id")
        nbrs_type = adj.schema["_nbrs"].dataType
        no_comp = F.lit(None).cast(vertices.schema[id_col].dataType)
        # the initial labels are NOT checkpointed: they are only read by
        # round 1 (whose checkpoint replaces them), and their lineage is a
        # projection of the caller's (usually already-pinned) vertex set —
        # one job saved per call
        labels = at_loop_width(vertices.select(
            F.col(id_col).alias("id"), F.col(id_col).alias("component")
        ), "id")
        for _ in range(max_iter):
            # Join-free round, two aggregates on id: (1) meet each vertex's
            # label with its out-neighbour list — labels and adj share the
            # hash(id) layout, so the union needs no exchange — (2) every
            # vertex offers its label to its neighbours and keeps its own
            # (``_own``); the min over offers is the new label.  Ids that
            # only appear in edges carry no own label and are dropped.
            met = (
                at_loop_width(
                    labels.withColumn("_nbrs", F.lit(None).cast(nbrs_type))
                    .unionByName(adj.withColumn("component", no_comp)),
                    "id",
                )
                .groupBy("id")
                .agg(F.min("component").alias("component"), F.max("_nbrs").alias("_nbrs"))
            )
            nbrs_or_none = F.coalesce("_nbrs", F.array().cast(nbrs_type))
            offers = met.select(
                F.explode(F.concat(F.array("id"), nbrs_or_none)).alias("_to"),
                "id", "component",
            ).select(
                F.col("_to").alias("id"), "component",
                F.when(F.col("_to") == F.col("id"), F.col("component")).alias("_own"),
            )
            obs = Observation()
            labels = (
                at_loop_width(offers, "id")
                .groupBy("id")
                .agg(F.min("component").alias("component"), F.max("_own").alias("_own"))
                .filter(F.col("_own").isNotNull())
                # a strictly-smaller neighbour label ⇒ this round changed
                # something
                .observe(obs, F.count(
                    F.when(F.col("component") < F.col("_own"), True)
                ).alias("n_improved"))
                .select("id", "component")
                .localCheckpoint()
            )
            if obs.get["n_improved"] == 0:
                break
    return labels


def simhash_near_dup_pairs(
    simhashes: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    hash_col: str = "simhash",
    bits: int = 16,
    bands: int | None = None,
) -> DataFrame:
    """Near-dup pairs from SimHash fingerprints via the pigeonhole
    multi-index: split the ``bits``-bit hash into ``bands`` equal bands —
    any pair within Hamming distance ``< bands`` must agree EXACTLY on at
    least one band (pigeonhole), so candidates are generated by ``bands``
    band-equality self-joins (one explode + one shuffle on (band_id,
    band_value)) and verified with an exact popcount.  Exact (no recall
    loss) whenever ``max_hamming < bands``; a larger ``max_hamming`` needs
    more bands — asserted.  Returns ``(id_a, id_b, hamming)`` with
    ``id_a < id_b``, each pair once.

    At scale this is the standard SimHash dedup shape (the permuted-table
    variant trades storage for fewer false candidates; band buckets on
    64-bit hashes stay small for non-degenerate corpora).

    ``bands=None`` auto-selects the SMALLEST sound band count — the least
    divisor of ``bits`` exceeding ``max_hamming``.  Fewer bands mean wider
    band values, exponentially sparser buckets, and a smaller exploded
    candidate side, so the minimum is always the cheapest exact choice; in
    particular ``max_hamming=0`` collapses to ONE band (the whole hash) —
    buckets then hold only true hash-duplicates and the candidate join is
    linear in the duplicate count rather than O(n²/2^band_bits)."""
    if bands is None:
        bands = next(b for b in range(max_hamming + 1, bits + 1) if bits % b == 0)
    if max_hamming >= bands:
        raise ValueError(
            f"pigeonhole soundness needs max_hamming < bands "
            f"(got {max_hamming} >= {bands})"
        )
    if bits % bands != 0:
        raise ValueError("bits must divide evenly into bands")
    band_bits = bits // bands
    mask = (1 << band_bits) - 1
    h = F.col(hash_col)
    if bands == 1:
        # one band = the whole hash: candidates ARE exact hash-equal pairs,
        # so no explode and no per-pair dedup aggregation is needed
        slim = simhashes.select(F.col(id_col).alias("doc"), h.alias("h"))
        a, b_ = slim.alias("a"), slim.alias("b")
        return a.join(
            b_, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc") < F.col("b.doc"))
        ).select(
            F.col("a.doc").alias("id_a"),
            F.col("b.doc").alias("id_b"),
            F.bit_count(F.col("a.h").bitwiseXOR(F.col("b.h"))).alias("hamming"),
        )
    banded = simhashes.select(
        F.col(id_col).alias("doc"),
        h.alias("h"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band_id"),
                    F.shiftright(h, b * band_bits).bitwiseAND(F.lit(mask)).alias("band_value"),
                )
                for b in range(bands)
            ])
        ).alias("band"),
    ).select("doc", "h", F.col("band.band_id").alias("band_id"),
             F.col("band.band_value").alias("band_value"))
    # Explicit fixed-width repartition on the join key: the band self-join
    # EXPLODES (output ≫ input), and AQE sizes post-shuffle partitions by
    # INPUT bytes — on a small band table it coalesces the exchange to one
    # partition and the entire candidate explosion runs in ONE task (guide
    # §2.5: synthetic keys / exploding joins).  A user repartition is never
    # coalesced, and both aliases of the self-join reuse this single
    # exchange (ReusedExchange), so the explosion spreads across the fleet.
    banded = banded.repartition(
        simhashes.sparkSession.sparkContext.defaultParallelism,
        "band_id", "band_value",
    )
    a, b_ = banded.alias("a"), banded.alias("b")
    hamming = F.bit_count(F.col("a.h").bitwiseXOR(F.col("b.h")))
    # A pair colliding in several bands must appear once.  Emit it from its
    # FIRST matching band only: both full hashes ride the join, so "no
    # earlier band agrees" is a pure codegen bit-test on the xor — this
    # replaces the old per-pair dedup aggregation (a shuffle of every
    # band-duplicate candidate row) with a post-join filter (r6, guide
    # §2.4).  Band b' agrees exactly when the xor's bits
    # [b'·band_bits, (b'+1)·band_bits) are all zero.
    xor = F.col("a.h").bitwiseXOR(F.col("b.h"))
    first_band = F.lit(True)
    for bb in range(1, bands):
        any_earlier_agrees = None
        for eb in range(bb):
            seg = F.shiftright(xor, eb * band_bits).bitwiseAND(F.lit(mask)) == 0
            any_earlier_agrees = seg if any_earlier_agrees is None else (any_earlier_agrees | seg)
        first_band = F.when(
            F.col("a.band_id") == bb, ~any_earlier_agrees
        ).otherwise(first_band)
    return (
        a.join(
            b_,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_value") == F.col("b.band_value"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .filter((hamming <= max_hamming) & first_band)
        .select(
            F.col("a.doc").alias("id_a"),
            F.col("b.doc").alias("id_b"),
            hamming.alias("hamming"),
        )
    )


def simhash_components(
    hashes: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "simhash",
    max_hamming: int = 3,
    bits: int = 16,
    bands: int | None = None,
    max_iter: int = 25,
) -> DataFrame:
    """``simhash_near_dup_pairs`` + ``connected_components`` with the pair
    index and the label loop CONTRACTED to one representative per DISTINCT
    hash value (guide §8: decide on a lightweight proxy, attach the decision
    back).  Rows sharing a hash are Hamming-0 duplicates — always one
    component — so the banded self-join and every propagation round run on
    ``|distinct hashes|`` rows instead of ``|rows|``; with duplicate-heavy
    corpora (the normal case for perceptual hashes) that removes the
    quadratic blowup of equal-hash pairs from the candidate join entirely.

    Bit-identical to the uncontracted pipeline: the representative carries
    ``min(id)`` per hash, so propagated min-labels equal the min over the
    member union, and members inherit exactly the label the full graph
    would give them (asserted by test_dedup's contraction-equivalence
    case).  A NULL hash has no near neighbour (its band values never
    join), so each NULL-hash row is its own singleton, as the uncontracted
    pipeline labels it.  Returns ``(id, component)`` for every input row."""
    reps = (
        hashes.filter(F.col(hash_col).isNotNull())
        .groupBy(hash_col).agg(F.min(id_col).alias("_rep"))
    )
    rep_pairs = simhash_near_dup_pairs(
        reps, max_hamming=max_hamming, id_col="_rep", hash_col=hash_col,
        bits=bits, bands=bands,
    )
    comps = connected_components(
        reps.select("_rep"), rep_pairs.select("id_a", "id_b"),
        id_col="_rep", max_iter=max_iter,
    )
    rep_comp = reps.join(comps, reps["_rep"] == comps["id"]).select(
        hash_col, "component"
    )
    singletons = hashes.filter(F.col(hash_col).isNull()).select(
        F.col(id_col).alias("id"), F.col(id_col).alias("component")
    )
    return hashes.join(rep_comp, hash_col).select(
        F.col(id_col).alias("id"), "component"
    ).unionByName(singletons)


def duplicated_substring_spans(
    df: DataFrame,
    text_col: str,
    id_col: str = "doc_id",
    min_length: int = 40,
    stride: int = 1,
    by_hash: bool = True,
) -> DataFrame:
    """Exact substring-level dedup: every maximal character span (length ≥
    ``min_length``) whose content also occurs EARLIER in the corpus —
    span-level dedup in the style of "Deduplicating Training Data Makes
    Language Models Better" (Lee et al., 2022), re-expressed for Spark.
    (The reference dedups whole payloads by digest,
    ``MDXReduplicatingReducer.java:72-152``; this is the within-document
    generalization a training-data pipeline needs.)

    Identity: a position is duplicated iff it is covered by a ``min_length``-
    gram occurrence that is not the globally FIRST occurrence of that gram
    (first = smallest ``(doc_id, pos)``) — so cutting all returned spans
    always leaves the earliest copy of every duplicated ``min_length``-gram
    intact somewhere in the corpus.  The union of non-first duplicated
    L-gram windows equals the union of non-first duplicated substrings of
    length ≥ L, so no suffix array is needed: stride-1 L-gram fingerprints
    are the distributable equivalent.

    Plan (2 shuffles, both key-parallel):
      1. explode stride-``stride`` L-gram fingerprints (codegen
         ``transform``+``substring``; ``xxhash64`` when ``by_hash`` so the
         shuffle carries 8-byte keys, not 40-char strings — collision odds
         at 2⁻⁶⁴ per pair are noted, set ``by_hash=False`` for exactness);
      2. one window keyed by gram marks non-first occurrences
         (``row_number > 1``);
      3. one window keyed by doc merges overlapping/adjacent duplicate
         windows into maximal spans (gaps-and-islands).

    Rows out: ``(id, span_start, span_end)`` — 0-based, end-exclusive.
    ``stride > 1`` trades exactness for an explode ``stride``× smaller
    (spans become approximate: starts can round up by ``stride-1``)."""
    L = min_length
    gram = F.substring(F.col("_t"), F.col("pos") + 1, L)
    grams = (
        df.filter(F.length(text_col) >= L)
        .select(
            F.col(id_col).alias("id"),
            F.col(text_col).alias("_t"),
            F.explode(
                F.sequence(F.lit(0), F.length(text_col) - L, F.lit(stride))
            ).alias("pos"),
        )
        .select(
            "id",
            "pos",
            (F.xxhash64(gram.cast("binary")) if by_hash else gram).alias("gh"),
        )
    )
    occ = F.row_number().over(
        Window.partitionBy("gh").orderBy("id", "pos")
    )
    dups = grams.withColumn("_occ", occ).filter(F.col("_occ") > 1)
    prev = F.lag("pos", 1, -(10**9)).over(Window.partitionBy("id").orderBy("pos"))
    island = F.sum(
        F.when(F.col("pos") - prev > L, 1).otherwise(0)
    ).over(
        Window.partitionBy("id").orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        dups.withColumn("_island", island)
        .groupBy("id", "_island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + L).alias("span_end"),
        )
        .select(F.col("id").alias(id_col), "span_start", "span_end")
    )


def substring_dedup_stats(
    df: DataFrame,
    text_col: str,
    id_col: str = "doc_id",
    min_length: int = 40,
    by_hash: bool = True,
) -> DataFrame:
    """Per-document roll-up of :func:`duplicated_substring_spans` plus the
    deduplicated text: ``(id, n_chars, n_dup_spans, dup_chars, dup_ratio,
    deduped_text)`` — ``deduped_text`` is the document with every duplicated
    span cut (the corpus-wide first occurrence of each duplicated gram
    survives, in its original document).  The cut is a pure codegen fold
    over the doc's sorted span array (``aggregate`` + ``substring``) after a
    broadcast-free left join back to the documents — no Python."""
    spans = duplicated_substring_spans(
        df, text_col, id_col=id_col, min_length=min_length, by_hash=by_hash
    )
    per_doc = spans.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum(F.col("span_end") - F.col("span_start")).alias("dup_chars"),
        F.sort_array(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("_spans"),
    )
    txt = F.col(text_col)
    # fold the sorted spans into (kept-text-so-far, cursor); spans are
    # disjoint and sorted, so each step appends txt[cursor, start) and
    # advances the cursor past the span
    cut = F.aggregate(
        F.col("_spans"),
        F.struct(F.lit("").alias("acc"), F.lit(0).alias("cur")),
        lambda st, sp: F.struct(
            F.concat(
                st["acc"],
                F.substring(txt, st["cur"] + 1, sp["span_start"] - st["cur"]),
            ).alias("acc"),
            sp["span_end"].alias("cur"),
        ),
        lambda st: F.concat(
            st["acc"], F.substring(txt, st["cur"] + 1, F.length(txt) - st["cur"])
        ),
    )
    return (
        df.select(id_col, text_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.length(txt).alias("n_chars"),
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            F.coalesce("dup_chars", F.lit(0)).alias("dup_chars"),
            F.round(
                F.coalesce("dup_chars", F.lit(0)) / F.length(txt), 6
            ).alias("dup_ratio"),
            F.when(F.col("_spans").isNull(), txt).otherwise(cut).alias("deduped_text"),
        )
    )
