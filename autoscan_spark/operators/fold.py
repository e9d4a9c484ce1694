"""Per-conversation ordered document fold.

Reference contract: ``_join_markdown_pages`` (autoscan/autoscan.py:353-383) —
empty-page filtering and the adjacency-dependent separator must happen inside
ONE ordered fold (the separator depends on post-filter neighbors).

Physical design: the fold is pure Catalyst — no Python worker. One map-side
projection cleans each page (``replace`` the ``---PAGE BREAK---`` marker,
then ``rtrim`` the ``str.isspace()`` set) and keeps a page only if it is
non-empty, as a ``struct(k, text)`` run; ``collect_list`` skips the dropped
(NULL) runs while ``count(*)`` still counts every turn. After
``groupBy(conv_id)``, ``array_sort`` orders the runs and one ``transform`` +
``array_join`` applies the separator rule (``_join``), the same shape as
``conversations.render_chat_template``. The trim set is spelled out because
Spark's one-argument ``rtrim`` strips only ASCII spaces, while the
reference's ``str.rstrip()`` strips all 29 ``str.isspace()`` code points.

Scale note (100 TB): a conversation's turns must fit in one aggregation
buffer for the flat fold. For pathologically long conversations
``two_phase=True`` applies the same ``_join`` twice: chunks of
``chunk_size`` turns fold in parallel keyed by (conv_id, chunk_id) —
spreading a skewed conversation over many tasks — into ``(k, text, first,
last)`` summaries (NULL when no page survives, so the chunk vanishes), then a
second, tiny shuffle joins the chunks per conversation, taking each
separator from the previous chunk's last and the next chunk's first
surviving page — exactly the adjacency the flat fold sees. Equivalence with
``kernels.pagejoin.join_pages`` is differential-tested in
tests/test_pagejoin.py and distribution-tested in tests/test_checkpoint_skew.py.

``n_turns`` counts the successfully extracted turns entering the fold
(reference: pages processed = len(aggregated_markdown),
autoscan/autoscan.py:165,174), i.e. BEFORE empty-page filtering.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from autoscan_spark.kernels.pagejoin import PAGE_BREAK

DOC_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("markdown", StringType()),
        StructField("n_turns", IntegerType()),
        StructField("in_chars", LongType()),
        StructField("out_chars", LongType()),
    ]
)

# {c for c in all code points if c.isspace()}: what the reference's
# str.rstrip() removes (pinned by tests/test_pagejoin.py)
_PY_WHITESPACE = (
    "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680\u2000\u2001\u2002\u2003"
    "\u2004\u2005\u2006\u2007\u2008\u2009\u200a\u2028\u2029\u202f\u205f\u3000"
)


def _join(runs: Column, first: str, last: str) -> Column:
    """Join sorted ``(k, text, ...)`` runs; the separator before run i is
    ``"\\n"`` iff run i-1's ``last`` page ends with ``|`` and run i's
    ``first`` page starts with ``|``, else ``"\\n\\n"``."""

    def piece(r: Column, i: Column) -> Column:
        table = runs[i - 1][last].endswith("|") & r[first].startswith("|")
        sep = F.when(table, F.lit("\n")).otherwise(F.lit("\n\n"))
        return F.when(i == 0, r["text"]).otherwise(F.concat(sep, r["text"]))

    return F.array_join(F.transform(runs, piece), "")


def _fold(rows: DataFrame, keys: list, n_turns: Column) -> DataFrame:
    """``groupBy(keys)``: the sorted non-NULL ``run`` structs and the counts."""
    return rows.groupBy(*keys).agg(
        F.array_sort(F.collect_list("run")).alias("runs"),
        n_turns.cast("int").alias("n_turns"),
        F.sum("in_chars").cast("long").alias("in_chars"),
        F.sum("out_chars").cast("long").alias("out_chars"),
    )


def resolve_fold_strategy(
    transcripts: DataFrame,
    two_phase,
    chunk_size: int = 1024,
    sample_fraction: float = 0.001,
    threshold_turns: int | None = None,
    conv_col: str = "conv_id",
    seed: int = 42,
) -> bool:
    """Resolve ``two_phase`` = False | True | "auto" to a concrete bool.

    ``"auto"`` estimates the hottest conversation's turn count from a sampled
    aggregate and picks the two-phase fold when the estimate exceeds
    ``threshold_turns`` (default ``16 * chunk_size`` — the point where one
    conversation would span enough chunks that spreading it over tasks beats
    the flat fold's single aggregation buffer).

    Cost model: ONE extra action, but on a column-pruned ``conv_col``-only
    scan of the PRE-KERNEL transcripts — call this with the raw input, never
    with the extraction output (sampling post-kernel rows would run the
    extraction kernel over everything just to count turns). Row-level
    sampling of a conversation with T turns yields ~T·f rows, so
    ``count/f`` is an unbiased estimate of T; the threshold is orders of
    magnitude above the noise floor for any T that matters.
    """
    if two_phase != "auto":
        return bool(two_phase)
    threshold = threshold_turns if threshold_turns is not None else 16 * chunk_size
    top = (
        transcripts.select(conv_col)
        .sample(fraction=sample_fraction, seed=seed)
        .groupBy(conv_col)
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    if top is None:
        return False
    return (top / sample_fraction) > threshold


def fold_documents(
    extracted: DataFrame,
    two_phase: bool = False,
    chunk_size: int = 1024,
) -> DataFrame:
    """Fold extracted turns into one markdown row per conversation.

    Input must contain conv_id, turn_idx, extracted_text, in_chars, out_chars
    (failed rows should already be dropped / have failed the job).
    """
    page = F.rtrim(
        F.replace("extracted_text", F.lit(PAGE_BREAK), F.lit("")),
        F.lit(_PY_WHITESPACE),
    )
    # page is its own projection so Catalyst evaluates it once, not per use
    rows = extracted.withColumn("page", page).select(
        "conv_id",
        "turn_idx",
        F.when(
            F.col("page") != "",
            F.struct(F.col("turn_idx").alias("k"), F.col("page").alias("text")),
        ).alias("run"),
        "in_chars",
        "out_chars",
    )
    n_turns, first, last = F.count("*"), "text", "text"
    if two_phase:
        chunk_id = ((F.col("turn_idx") - 1) / chunk_size).cast("long")
        chunks = _fold(rows.withColumn("chunk_id", chunk_id), ["conv_id", "chunk_id"], n_turns)
        run = F.struct(
            F.col("chunk_id").alias("k"),
            _join(F.col("runs"), "text", "text").alias("text"),
            F.col("runs")[0]["text"].alias("first"),
            F.element_at("runs", -1)["text"].alias("last"),
        )
        rows = chunks.select(
            "conv_id",
            F.when(F.size("runs") > 0, run).alias("run"),
            "n_turns",
            "in_chars",
            "out_chars",
        )
        n_turns, first, last = F.sum("n_turns"), "first", "last"
    return _fold(rows, ["conv_id"], n_turns).select(
        "conv_id",
        _join(F.col("runs"), first, last).alias("markdown"),
        "n_turns",
        "in_chars",
        "out_chars",
    )
