"""Crawl-frontier operators: canonicalization projection, the URL-seen split,
robots prefix matching, priority scoring, and the fetch scheduler — the one
politeness-slot → status → priority-band → global-order policy that the crawl
loop (``plans/crawl.py``), the ``frontier_fetch_order`` gate and the frontier
profiling script all call.

This is the north-star pipeline (BASELINE.json ``north_rule``): the Spark
re-expression of the reference's crawl semantics —

- URL canonicalization / SURT keys: ``Normalisation.java:136-275``,
  ``WARCIndexer.java:593-639``
- URL-seen / dedup: ``MDXReduplicatingReducer.java:72-152``,
  ``PersistLogMapper.java:117-143`` — :func:`url_seen_split`
- robots / exclusion prefix sets: ``WARCIndexer.java:888-908``,
  ``Annotator.java:217-225``, robots accounting ``HostsReportMapper.java:49-66``
- priority inputs (inlink counts): ``OutlinkExtractorMapper.java:57-87``
- per-host politeness accounting: ``HostsReportMapper.java:52-77``
- total-order fetch scheduling: ``ArchiveCDXGenerator.java:208-215`` —
  :func:`global_sequence`, the range-offset kernel (range partition, pinned
  ranged layout, per-partition offsets) that ``packing.packed_sequences``
  also runs
- skew handling: salted keys replacing random reducer keys
  (``WARCIndexerMapper.java:222-230``)

Determinism rule: every ordering is defined purely by data columns (never by
partition iteration order), so the same input yields the same fetch sequence
at any parallelism — the property the two-cluster-size scaling criterion
checks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.udfs import canonical_struct_udf

__all__ = [
    "canonicalize_frontier",
    "url_seen_split",
    "robots_match",
    "priority_score",
    "politeness_status",
    "schedule_fetches",
    "global_sequence",
    "salted_repartition",
    "parse_robots_txt",
    "recrawl_schedule",
    "release_staging",
]

# Past this many range partitions, the offset step of global_sequence and
# packing.packed_sequences (_with_range_offsets) switches its offset map from a
# literal create_map expression to a broadcast join (plan-size bound).
_OFFSET_LITERAL_MAX = 1024

# Target rows per range-sort partition for global_sequence.  Frontier rows
# are narrow (url_key/host/status/priority ~ 150 B), so 250k rows ≈ 40 MB —
# comfortably in-memory per task.  Deriving the partition count from the
# INPUT SIZE instead of defaultParallelism keeps small epochs from paying
# 32 partitions × ~3k rows of pure scheduling overhead (maximally
# contention-sensitive on a shared host) while a 10^10-row frontier still
# fans out to ~40k partitions (the broadcast offset-join path).
_SEQ_TARGET_ROWS_PER_PARTITION = 250_000
# Below the big-data target, still spread the range sort over a few cores
# (one task per _SEQ_MIN_ROWS rows) up to defaultParallelism — a 100k-row
# epoch gets ~4 parallel sorters instead of 1 slow one or 32 trivial ones.
_SEQ_MIN_ROWS_PER_PARTITION = 32_768


def scaled_partitions(n_rows: int, parallelism: int = 32,
                      target_rows: int = _SEQ_TARGET_ROWS_PER_PARTITION,
                      min_rows: int = _SEQ_MIN_ROWS_PER_PARTITION) -> int:
    """Partition count proportional to input rows: at scale, ceil(n /
    target_rows); for inputs smaller than one full fleet of target-size
    partitions, enough ~min_rows partitions to use the cluster (capped at
    ``parallelism``) — monotone non-decreasing in ``n_rows``."""
    big = -(-n_rows // target_rows) if n_rows else 1
    small = min(parallelism, -(-n_rows // min_rows)) if n_rows else 1
    return max(1, big, small)


def release_staging() -> int:
    """No-op, kept for callers written against the parquet staging store
    that :func:`global_sequence` once used: a ``global_sequence`` result
    now needs no cleanup by its caller.  Returns 0."""
    return 0


# scheme://[userinfo@]host[:port] (group 1: reg-name or [IP-literal]) then
# the path (group 2); group 1 is "" when the authority is malformed.
_AUTHORITY_RE = (
    r"^(?:[A-Za-z][A-Za-z0-9+.-]*://(?:[^@/?#]*@)?"
    r"(\[[0-9A-Fa-f:.]+\]|[A-Za-z0-9._~%!$&'()*+,;=-]+)(?::[0-9]*)?(?=[/?#]|$)([^?#]*))?"
)


def canonicalize_frontier(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Project the canonical columns every downstream operator keys on:
    ``url_norm`` (canonical URL), ``url_key`` (SURT sort key), ``host``,
    ``url_path``, ``url_hash`` (xxhash64 of url_norm — the 64-bit seen key).

    URLs are capped at 2000 chars first, matching the reference
    (``WARCIndexer.java:330-331``, ``SolrRecordFactory.java:121-125``).

    ``host``/``url_path`` are ``parse_url``'s where ``java.net.URI``
    parses ``url_norm``; where it rejects it (the canonical form keeps
    ``|``, ``{``, ``"`` and control characters, as the reference does) they
    come from :data:`_AUTHORITY_RE`, and are NULL when no host parses."""
    df = df.withColumn(url_col, F.substring(F.col(url_col), 1, 2000))
    out = df.withColumn("_c", canonical_struct_udf(F.col(url_col)))
    out = out.withColumn("url_norm", F.col("_c.url_norm")).withColumn(
        "url_key", F.col("_c.url_key")
    ).drop("_c")
    norm, path = F.col("url_norm"), F.col("url_path")
    # PATH is NULL for an opaque URI or a rejected one; a column of its own,
    # so each row parses it once
    out = out.withColumn("url_path", F.try_parse_url(norm, F.lit("PATH")))
    loose_host = F.nullif(F.regexp_extract(norm, _AUTHORITY_RE, 1), F.lit(""))
    out = out.withColumn(
        "host", F.when(path.isNotNull(), F.try_parse_url(norm, F.lit("HOST"))).otherwise(loose_host)
    ).withColumn(
        "url_path",
        F.when(path.isNotNull(), path)
        .when(loose_host.isNotNull(), F.regexp_extract(norm, _AUTHORITY_RE, 2))
        .when(F.try_parse_url(norm, F.lit("PROTOCOL")).isNotNull(), F.lit("/")),
    )
    return out.withColumn("url_hash", F.xxhash64(F.col("url_norm")))


def url_seen_split(
    df: DataFrame, seen: DataFrame, prefilter=None, key: str = "url_hash"
) -> tuple[DataFrame, DataFrame]:
    """``(new, dup)``: the rows of ``df`` whose ``key`` is not / is in
    ``seen``.  A ``prefilter`` (a Bloom or cuckoo probe adding
    ``maybe_seen``) only cuts the rows that meet ``seen``: its negatives are
    new and only its positives are verified exactly, so the FPR never
    changes the result."""
    seen = seen.select(key)
    if prefilter is None:
        return df.join(seen, key, "left_anti"), df.join(seen, key, "left_semi")
    probed = prefilter(df)
    maybe = probed.filter(F.col("maybe_seen"))
    fresh = probed.filter(~F.col("maybe_seen"))
    new = fresh.unionByName(maybe.join(seen, key, "left_anti"))
    return new.drop("maybe_seen"), maybe.join(seen, key, "left_semi").drop("maybe_seen")


def robots_match(
    frontier: DataFrame,
    robots_rules: DataFrame,
    host_col: str = "host",
    path_col: str = "url_path",
) -> DataFrame:
    """Longest-prefix-match robots evaluation.

    ``robots_rules(host, rule_type, path_prefix, crawl_delay_ms)`` is a small
    per-host table.  The rules are pre-aggregated into a per-host array
    sorted longest-pattern-first, broadcast, and equi-joined on host — the
    most specific matching rule is then the FIRST array element that
    matches, found with a JVM-side ``filter`` lambda.  No window, no row
    explosion, one broadcast hash join (at 100 TB the frontier side never
    shuffles for robots).  Ties at equal pattern length resolve to ``allow``
    (matching Google's documented robots.txt tie rule).  No matching rule ⇒
    allowed with default delay.  Adds ``robots_allowed`` / ``crawl_delay_ms``.

    Patterns follow RFC 9309 §2.2.3: plain rules match as path PREFIXES
    (the fast literal path); rules containing ``*`` (any char run) or a
    trailing ``$`` (end anchor) are matched as anchored regexes.  The regex
    text is derived ONCE per rule on the tiny rules side (pre-broadcast) and
    carried in the rule struct — the hot frontier side evaluates only
    ``startswith`` for literal rules and ``regexp_like`` for the (rare)
    wildcard rules; no per-row pattern construction.
    """
    # regex-escape every meta (incl. $), * → .*, then restore a TRAILING $
    # as a real end anchor (inner $ stays literal, per spec).  Computed once
    # per rule row on the small dimension side.
    prefix = F.col("path_prefix")
    is_anchor = prefix.endswith("$")
    has_wild = prefix.contains("*") | is_anchor
    esc = F.regexp_replace(prefix, r"([.^$+?(){}\[\]\\|])", r"\\$1")
    wild = F.replace(esc, F.lit("*"), F.lit(".*"))
    body = F.when(is_anchor, F.left(wild, F.length(wild) - 2)).otherwise(wild)
    rx = F.concat(F.lit("^"), body, F.when(is_anchor, F.lit("$")).otherwise(F.lit("")))
    rules_agg = robots_rules.groupBy(F.col("host").alias("_r_host")).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.length("path_prefix").alias("plen"),
                    (F.col("rule_type") == "allow").alias("is_allow"),
                    F.col("path_prefix").alias("prefix"),
                    F.col("rule_type").alias("rtype"),
                    F.col("crawl_delay_ms").alias("delay"),
                    has_wild.alias("wild"),
                    F.when(has_wild, rx).alias("rx"),
                )
            ),
            asc=False,
        ).alias("_rules")
    )
    joined = frontier.join(
        F.broadcast(rules_agg), F.col(host_col) == F.col("_r_host"), "left"
    )
    path = F.col(path_col)

    def _rule_matches(r):
        return F.when(r["wild"], F.regexp_like(path, r["rx"])).otherwise(
            path.startswith(r["prefix"])
        )

    best = F.get(F.filter(F.col("_rules"), _rule_matches), 0)
    return (
        joined.withColumn(
            "robots_allowed",
            F.when(best.isNull(), F.lit(True)).otherwise(best["rtype"] != "deny"),
        )
        .withColumn("crawl_delay_ms", F.coalesce(best["delay"], F.lit(250)))
        .drop("_r_host", "_rules")
    )


def priority_score(
    hops: Column,
    inlink_count: Column,
    content_affinity: Column | None = None,
) -> Column:
    """Crawl priority in [0, ~2]: shallow pages and well-linked pages first.

    score = 1/(1+hops) + log10(1+inlinks)/4 + affinity.  Matches the
    north-rule inputs (hops, inlink count, content-type affinity from the
    MIME normalization ladder in ``WARCPayloadAnalysers.java:187-222``).
    """
    base = F.lit(1.0) / (F.lit(1.0) + hops.cast("double"))
    links = F.log10(F.lit(1.0) + inlink_count.cast("double")) / F.lit(4.0)
    aff = content_affinity if content_affinity is not None else F.lit(0.0)
    return base + links + aff


def politeness_status(df: DataFrame, budget: int | Column = 100,
                      slot_key: str = "host") -> DataFrame:
    """The lazy pre-sequence step of :func:`schedule_fetches`: per-slot-key
    politeness slot, fetch status and priority band, with no action run.

    ``df`` needs ``priority``, ``url_key``, ``robots_allowed`` (from
    :func:`robots_match`) and the ``slot_key`` column (``host``, or a
    registered-domain key for domain-scoped politeness).  Adds:

    - ``host_slot``: running count of robots-ALLOWED rows within the slot
      key, ordered (priority desc, url_key) — a denied row never takes a
      slot (``HostsReportMapper.java:52-77`` counts robots-denied URLs
      apart from the fetch budget);
    - ``status``: ``robots_denied`` / ``delayed`` (slot past ``budget``,
      carried to the next epoch) / ``fetched``.  ``budget`` is an int or a
      per-row Column (e.g. the crawl's crawl-delay-tightened budget);
    - ``priority_band``: ``least(3, floor(priority * 2))``.

    One window keyed by the slot key: when the input is already hash-
    partitioned on it (the fused dedup exchange), no shuffle is added."""
    w = (
        Window.partitionBy(slot_key)
        .orderBy(F.col("priority").desc(), F.col("url_key"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    if not isinstance(budget, Column):
        budget = F.lit(budget)
    return (
        df.withColumn(
            "host_slot", F.sum(F.when(F.col("robots_allowed"), 1).otherwise(0)).over(w)
        )
        .withColumn(
            "status",
            F.when(~F.col("robots_allowed"), F.lit("robots_denied"))
            .when(F.col("host_slot") > budget, F.lit("delayed"))
            .otherwise(F.lit("fetched")),
        )
        .withColumn("priority_band", F.least(F.lit(3), F.floor(F.col("priority") * 2).cast("int")))
    )


def schedule_fetches(df: DataFrame, budget: int | Column = 100, slot_key: str = "host",
                     num_partitions: int | None = None) -> DataFrame:
    """The fetch scheduler: :func:`politeness_status`, then one contiguous
    :func:`global_sequence` over (fetched first, priority band desc, slot
    asc, url_key asc) — banded so politeness interleaves hosts inside a band
    instead of draining one host fully (the reference's total-order fetch
    sequence, ``ArchiveCDXGenerator.java:208-215``).

    Every row keeps its status; ``fetch_seq`` is 1..n over the fetched rows
    and NULL elsewhere.  Single pass: no branch of the pipeline is unioned
    or re-joined, so the upstream executes once."""
    flagged = politeness_status(df, budget, slot_key).withColumn(
        "_is_fetched", (F.col("status") == "fetched").cast("int")
    )
    return global_sequence(
        flagged,
        [
            F.col("_is_fetched").desc(),
            F.col("priority_band").desc(),
            F.col("host_slot").asc(),
            F.col("url_key").asc(),
        ],
        seq_col="_seq",
        num_partitions=num_partitions,
    ).withColumn(
        "fetch_seq", F.when(F.col("status") == "fetched", F.col("_seq")).cast("long")
    ).drop("_seq", "_is_fetched")


def global_sequence(
    df: DataFrame,
    order_cols: list,
    seq_col: str = "fetch_seq",
    num_partitions: int | None = None,
) -> DataFrame:
    """Contiguous global sequence number in a total order WITHOUT a
    single-partition sort — the scalable equivalent of
    ``row_number() OVER (ORDER BY …)`` (the reference gets the same effect
    from ``TotalOrderPartitioner``, ``ArchiveCDXGenerator.java:208-215``).

    Plan (:func:`_range_checkpoint` + :func:`_with_range_offsets`, shared
    with ``packing.packed_sequences``): range-repartition on the order
    columns, sort within partitions, stamp ``monotonically_increasing_id``
    — whose documented encoding is ``(partition_id << 33) |
    consecutive-counter``, i.e. the local rank falls out of the sorted
    shuffle for free (no window, no re-sort) — and pin that ranged layout
    with ``localCheckpoint``; one small per-partition count aggregate over
    the pin then gives the cumulative partition offsets.  The result reads
    only block-manager storage, so it needs no cleanup by its caller.

    ``order_cols`` must be a unique key (all engine call sites use
    ``url_key``) or tie placement across range boundaries would be
    partition-dependent."""
    ranged = _range_checkpoint(df, order_cols, num_partitions)
    local_rank = F.col("_mid").bitwiseAND(F.lit((1 << 33) - 1))
    return _with_range_offsets(
        ranged, ranged, F.lit(1), local_rank + 1, seq_col
    ).drop("_mid")


def _range_checkpoint(df: DataFrame, order_cols: list,
                      num_partitions: int | None = None) -> DataFrame:
    """``df`` range-partitioned and sorted on ``order_cols``, stamped with
    ``_mid`` (``monotonically_increasing_id``: range partition id in bits
    33+, in-partition rank below) and pinned with ``localCheckpoint`` — so
    the offsets aggregate and the final plan see the SAME execution-time-
    sampled range boundaries.

    The input is pinned first: ``repartitionByRange`` runs a separate
    boundary-sampling job over its child, so an unpinned input would
    execute the whole upstream twice (the frontier epoch's Python-UDF
    canonicalize + dedup + politeness window).  The pin's job also counts
    the rows (``observe``), which size the range exchange to the data via
    :func:`scaled_partitions` unless ``num_partitions`` is given."""
    from pyspark.sql import Observation

    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint()
    parts = num_partitions or scaled_partitions(
        obs.get["n"], df.sparkSession.sparkContext.defaultParallelism
    )
    return (
        df.repartitionByRange(parts, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("_mid", F.monotonically_increasing_id())
        .localCheckpoint()
    )


def _with_range_offsets(df: DataFrame, ranged: DataFrame, weight: Column,
                        local: Column, out_col: str) -> DataFrame:
    """Add ``out_col`` = (sum of ``weight`` over every EARLIER range
    partition of ``ranged``) + ``local`` to ``df``, which carries the same
    ``_mid`` stamp (:func:`_range_checkpoint`).  The per-partition sums
    come from one small aggregate over the pin; their cumulative offsets
    are folded into a literal map, or past :data:`_OFFSET_LITERAL_MAX`
    partitions joined as a broadcast ``(pid, offset)`` table — a literal
    map would bloat the plan tree with the partition count, the join keeps
    plan size O(1)."""
    pid = F.shiftright("_mid", 33)
    totals = ranged.groupBy(pid.alias("_pid")).agg(F.sum(weight).alias("_w")).collect()
    offsets, acc = {}, 0
    for p, w in sorted((int(r["_pid"]), int(r["_w"] or 0)) for r in totals):
        offsets[p] = acc
        acc += w
    if len(offsets) <= _OFFSET_LITERAL_MAX:
        mapping = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
        return df.withColumn(out_col, mapping[pid] + local)
    odf = df.sparkSession.createDataFrame(
        list(offsets.items()), "_pid bigint, _off bigint"
    )
    return (
        df.withColumn("_pid", pid)
        .join(F.broadcast(odf), "_pid")
        .withColumn(out_col, F.col("_off") + local)
        .drop("_pid", "_off")
    )


_SALT_ID_CANDIDATES = ("url_hash", "url_key", "record_id", "event_id",
                       "doc_id", "emb_id", "image_id", "url")


def _salt_columns(df: DataFrame, key_col: str) -> list[str]:
    """Cheap, deterministic per-row salt inputs: the key plus one narrow
    unique-ish id column.  Never binary/payload columns — hashing a 1 MB
    ``bytes`` column per row just to pick a salt bucket is wasted CPU."""
    for cand in _SALT_ID_CANDIDATES:
        if cand in df.columns and cand != key_col:
            return [key_col, cand]
    cheap = [f.name for f in df.schema.fields
             if f.dataType.typeName() not in ("binary", "array", "map", "struct")]
    return cheap or [key_col]


def salted_repartition(df: DataFrame, key_col: str, salt_buckets: int = 16,
                       num_partitions: int | None = None) -> DataFrame:
    """Skew-breaking repartition: partition by (key, xxhash64(key, id) %
    buckets) so one hot host spreads over ``salt_buckets`` partitions.
    Replaces the reference's random reducer keys
    (``WARCIndexerMapper.java:222-230``) with a *deterministic* salt (hash of
    narrow key/id columns, not ``rand()`` and not full-row payload bytes),
    preserving reproducibility at zero per-row payload-hash cost."""
    salt = (F.pmod(F.xxhash64(*_salt_columns(df, key_col)),
                   F.lit(salt_buckets))).alias("_salt")
    out = df.withColumn("_salt", salt)
    if num_partitions:
        return out.repartition(num_partitions, F.col(key_col), F.col("_salt")).drop("_salt")
    return out.repartition(F.col(key_col), F.col("_salt")).drop("_salt")


def parse_robots_txt(
    captures: DataFrame,
    host_col: str = "host",
    payload_col: str = "payload",
    url_type_col: str = "url_type",
    user_agent: str = "*",
    default_delay_ms: int = 250,
) -> DataFrame:
    """Parse ``robots.txt`` captures into the politeness rules table
    ``(host, rule_type, path_prefix, crawl_delay_ms)`` consumed by
    :func:`robots_match` — closing the crawl loop: fetched robots payloads
    feed the next epoch's allow/deny evaluation.  (The reference spots
    robots.txt captures by path, ``WARCIndexer.java:603-606``, and its
    Heritrix deployment consumes them crawler-side; the -9998 robots-denied
    accounting is ``HostsReportMapper.java:49-51``.)

    Pure codegen + one window: lines are exploded with their position, each
    line's governing ``User-agent`` section is the last section header at or
    before it (a running ``last(...) ignore nulls`` window per host), and
    only sections for ``user_agent`` (plus per-host ``Crawl-delay``) survive.
    Groups listing several user-agents directly above a rule block are
    honored (consecutive UA lines extend one section).  Empty Disallow
    (allow-all) yields no deny row, per the robots.txt RFC.  Deterministic:
    output depends only on (host, line order)."""
    robots = captures.filter(F.col(url_type_col) == "robots.txt").select(
        F.col(host_col).alias("host"), F.col(payload_col).alias("_txt")
    )
    lines = robots.select(
        "host",
        F.posexplode(F.split(F.col("_txt"), "\r?\n")).alias("pos", "line"),
    ).select(
        "host",
        "pos",
        # strip comments + whitespace
        F.trim(F.regexp_replace(F.col("line"), "#.*$", "")).alias("line"),
    )
    key = F.lower(F.regexp_extract(F.col("line"), r"^([A-Za-z-]+)\s*:", 1))
    val = F.trim(F.regexp_extract(F.col("line"), r"^[A-Za-z-]+\s*:\s*(.*)$", 1))
    parsed = lines.select(
        "host", "pos", key.alias("key"), val.alias("val")
    ).filter(F.col("key") != "")
    w = (
        Window.partitionBy("host")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # section id: consecutive User-agent lines share one section (a UA line
    # directly after another UA line does not start a new section)
    prev_ua = F.lag("key", 1, "").over(Window.partitionBy("host").orderBy("pos"))
    section_start = ((F.col("key") == "user-agent") & (prev_ua != "user-agent")).cast("int")
    parsed = parsed.withColumn("section", F.sum(section_start).over(w))
    # does this section name our agent?  Per the robots.txt RFC (RFC 9309
    # §2.2.1) a crawler obeys the MOST SPECIFIC matching group: sections
    # naming ``user_agent`` exactly if any exist anywhere in the host's file,
    # else the ``*`` group
    sections = parsed.filter(F.col("key") == "user-agent").groupBy(
        "host", "section"
    ).agg(
        F.max((F.lower(F.col("val")) == user_agent.lower()).cast("int")).alias("_specific"),
        F.max((F.col("val") == "*").cast("int")).alias("_wild"),
    )
    host_specific = sections.groupBy("host").agg(
        F.max("_specific").alias("_host_has_specific")
    )
    agents = sections.join(host_specific, "host").withColumn(
        "_ours",
        F.when(F.col("_specific") == 1, 1)
        .when((F.col("_wild") == 1) & (F.col("_host_has_specific") == 0), 1)
        .otherwise(0),
    )
    rules = (
        parsed.filter(F.col("key").isin("allow", "disallow", "crawl-delay"))
        .join(agents.select("host", "section", "_ours"), ["host", "section"], "left")
        .filter(F.col("_ours") == 1)
    )
    parsed_delay = (
        F.regexp_extract(F.col("val"), r"^(\d+(\.\d+)?)", 1).try_cast("double") * 1000
    ).try_cast("int")
    delay = (
        rules.filter((F.col("key") == "crawl-delay") & parsed_delay.isNotNull())
        .groupBy("host")
        .agg(
            # seconds → ms; the FIRST parseable value in file order wins
            # (min_by pos — not the smallest value)
            F.min_by(parsed_delay, F.col("pos")).alias("_delay")
        )
    )
    out = (
        rules.filter(F.col("key").isin("allow", "disallow") & (F.col("val") != ""))
        .select(
            "host",
            F.when(F.col("key") == "allow", "allow").otherwise("deny").alias("rule_type"),
            F.col("val").alias("path_prefix"),
        )
        .distinct()
        .join(delay, "host", "left")
        .select(
            "host", "rule_type", "path_prefix",
            F.coalesce(F.col("_delay"), F.lit(default_delay_ms)).alias("crawl_delay_ms"),
        )
    )
    return out


def recrawl_schedule(
    fetch_log: DataFrame,
    current_epoch: int,
    key_col: str = "url_hash",
    epoch_col: str = "epoch",
    digest_col: str = "digest",
    min_interval: int = 1,
    max_interval: int = 16,
) -> DataFrame:
    """Adaptive revisit scheduling from fetch history — the reason the
    reference builds its persist-log at all (``PersistLogMapper.java:99-143``
    keys SURT → fetch-history {digest, etag, last-modified, fetch time} for
    Heritrix's recrawl decisions).

    Content-change-driven backoff (the classic uniform-AIMD revisit policy):
    per URL, a fetch "changed" when its payload digest differs from the
    previous fetch (the first fetch counts as changed); the revisit interval
    doubles per consecutive unchanged fetch, ``interval = min(max_interval,
    2^streak)`` epochs, where ``streak`` = fetches since the last change.
    Fast-changing pages stay at ``min_interval``; static pages back off
    exponentially to the cap.  Returns one row per URL:
    ``(key, last_epoch, n_fetches, n_changes, streak, interval, due)`` with
    ``due`` = should be refetched at ``current_epoch``.

    Plan: one lag window + one hash aggregate, both keyed on the URL — at
    crawl scale this is a single shuffle over the seen-set, and the
    ``due`` filter prunes the recrawl frontier before it ever joins the
    discovery frontier."""
    w = Window.partitionBy(key_col).orderBy(epoch_col)
    flagged = fetch_log.withColumn(
        "_changed",
        F.coalesce(
            F.lag(digest_col).over(w) != F.col(digest_col), F.lit(True)
        ).cast("int"),
    ).withColumn("_rn", F.row_number().over(w))
    # streak = fetches after the last change = n_fetches - rank(last change);
    # ONE window + ONE hash aggregate, both keyed on the URL
    agg = flagged.groupBy(F.col(key_col).alias("key")).agg(
        F.max(epoch_col).alias("last_epoch"),
        F.count(F.lit(1)).alias("n_fetches"),
        F.sum("_changed").alias("n_changes"),
        F.max(F.when(F.col("_changed") == 1, F.col("_rn"))).alias("_last_change_rn"),
    )
    streak = (F.col("n_fetches") - F.col("_last_change_rn")).cast("int")
    interval = F.least(
        F.lit(max_interval),
        F.greatest(F.lit(min_interval), F.pow(F.lit(2.0), streak).cast("int")),
    )
    return agg.select(
        "key",
        F.col("last_epoch").cast("int").alias("last_epoch"),
        F.col("n_fetches").cast("int").alias("n_fetches"),
        F.col("n_changes").cast("int").alias("n_changes"),
        streak.alias("streak"),
        interval.alias("interval"),
        ((F.col("last_epoch") + interval) <= F.lit(current_epoch)).alias("due"),
    )
