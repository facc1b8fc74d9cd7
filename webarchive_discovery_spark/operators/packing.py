"""Token-budget sequence packing for LLM training batches.

The GPT-style "concatenate and chunk" recipe: documents are laid out in a
deterministic total order, token counts accumulate into one long virtual
stream, and the stream is cut every ``max_len`` tokens into fixed-size
training sequences.  Each document therefore owns a token interval
``[start, start + n_tokens)`` and spans sequences
``floor(start/L) .. floor((start+n-1)/L)`` — everything a batch builder
needs (which sequences a doc feeds, where boundaries fall, how many docs a
sequence crosses) falls out of a single global running sum.

(No reference analog — the reference indexes documents; packing is part of
the beyond-reference LLM-pipeline surface.)

100 TB design: a global running sum is the classic "don't use a
single-partition window" trap.  The input here is the *token-count table*
(id, n_tokens, order key — tens of bytes/row), not the corpus, so the
plan is ``frontier.global_sequence``'s range-offset kernel: range-partition
and sort on the order key and pin that layout, one window cumsum WITHIN each
partition (the window's pid hash-exchange keeps partitions whole — the
narrow table shuffles once more, never the corpus), then bridge partitions
with per-partition token totals — one P-row aggregate folded into a literal
map, or a broadcast join past :data:`frontier._OFFSET_LITERAL_MAX`
partitions.  No single-partition stage anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .frontier import _range_checkpoint, _with_range_offsets

__all__ = ["packed_sequences", "sequence_manifest"]


def packed_sequences(
    df: DataFrame,
    token_col: str,
    order_cols: list,
    max_len: int,
    num_partitions: int | None = None,
) -> DataFrame:
    """Append the packing layout to ``df``: ``pack_start`` (global token
    offset of the document), ``seq_first``/``seq_last`` (ids of the
    fixed-``max_len`` training sequences it lands in), and ``n_seqs``.
    ``order_cols`` must be a unique key — ties crossing a range boundary
    would otherwise make placement partition-dependent."""
    # The range layout and the cross-partition offsets are global_sequence's
    # (frontier._range_checkpoint / _with_range_offsets): the pinned ranged
    # copy of the narrow token-count table is ~tens of bytes/row, small even
    # when the corpus is 100 TB.  Inside a range partition the running sum
    # is one window keyed on the partition id, in ``_mid`` (= sorted) order.
    ranged = _range_checkpoint(df, order_cols, num_partitions).withColumn(
        "_pid", F.shiftright("_mid", 33)
    )
    w = Window.partitionBy("_pid").orderBy("_mid")
    local = ranged.withColumn(
        "_local_before",
        F.coalesce(
            F.sum(token_col).over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ),
    )
    out = _with_range_offsets(
        local, ranged, F.col(token_col), F.col("_local_before"), "pack_start"
    )
    n = F.col(token_col)
    return (
        out.withColumn("seq_first", F.floor(F.col("pack_start") / max_len))
        .withColumn(
            "seq_last",
            F.when(n > 0, F.floor((F.col("pack_start") + n - 1) / max_len))
            .otherwise(F.col("seq_first")),
        )
        .withColumn("n_seqs", F.col("seq_last") - F.col("seq_first") + 1)
        .drop("_pid", "_mid", "_local_before")
    )


def sequence_manifest(
    packed: DataFrame, token_col: str, id_col: str, max_len: int
) -> DataFrame:
    """Explode the per-document layout into the per-(sequence, document)
    manifest a batch builder consumes: for every training sequence a doc
    touches, the slice of the doc that lands there —
    ``(seq_id, id_col, doc_offset, seq_offset, slice_len)``.  Pure codegen
    explode over ``seq_first..seq_last``; output rows = Σ n_seqs (≈ docs +
    corpus_tokens/max_len)."""
    seq = F.col("_seq_id")
    seq_start = seq * max_len
    doc_start, n = F.col("pack_start"), F.col(token_col)
    slice_from = F.greatest(seq_start, doc_start)
    slice_to = F.least(seq_start + max_len, doc_start + n)
    return (
        packed.withColumn(
            "_seq_id", F.explode(F.sequence("seq_first", "seq_last"))
        )
        .select(
            seq.alias("seq_id"),
            F.col(id_col),
            (slice_from - doc_start).alias("doc_offset"),
            (slice_from - seq_start).alias("seq_offset"),
            (slice_to - slice_from).alias("slice_len"),
        )
        .filter(F.col("slice_len") > 0)
    )
