"""Distributed byte-pair-encoding (BPE) vocabulary training.

BPE (Sennrich et al. 2016, "Neural Machine Translation of Rare Words
with Subword Units") learns a subword vocabulary by repeatedly merging
the most frequent adjacent symbol pair. The textbook implementation is
a single-machine loop over the token stream; the distributed form here
trains on the WORD-FREQUENCY TABLE instead of the corpus:

1. ONE corpus-sized shuffle reduces the corpus to (word, wfreq). At
   100 TB of text the distinct-word table is ~10^7-10^8 rows — four or
   more orders of magnitude smaller than the token stream — and every
   subsequent merge iteration runs on that table only.
2. Each merge iteration is: an adjacent-pair count (array transform +
   explode + partially-aggregated groupBy — vocabulary-sized shuffle),
   a 1-row argmax collect (bounded: a single (lhs, rhs, freq) row per
   iteration), and a map-only fold that applies the merge to each
   symbol array INSIDE whole-stage codegen via ``F.aggregate`` — no
   Python executes in the training loop.

Merge application is the canonical greedy left-to-right,
non-overlapping replacement. The fold keeps a one-symbol lookbehind
``(out, pending)``: when ``(pending, current) == (lhs, rhs)`` the
merged token is emitted and ``pending`` cleared (so a merged token is
never re-used as the left element for the same rule — "a a a" under
rule (a,a) becomes [aa, a], not [aa, aa]); otherwise ``pending`` is
flushed and ``current`` becomes the new lookbehind.

Ties on pair frequency break deterministically by (freq DESC, lhs ASC,
rhs ASC) so training is reproducible across partitionings and engines.

Reference anchor: the reference repo has no subword tooling (its text
surface is regex repair + lower, yelp_etl/common/transform.py:17-41);
this module is part of the LLM-training-data extension surface next to
functions/text.py (vocabulary, chunking, packing).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from yelp_etl_spark.functions.checkpoint import truncate_lineage


def word_frequencies(df: DataFrame, text_col: str) -> DataFrame:
    """Reduce a corpus to its (word, wfreq) table — the one
    corpus-sized shuffle in BPE training. Single-space tokenization +
    lowercase, matching functions/text.py's vocabulary convention (a
    literal-space split also sidesteps the Java-regex vs RE2 '\\s'
    divergence on \\x0B, which would silently desync the DuckDB
    oracles; empty tokens from space runs are filtered). Deliberately
    NOT widened with readers.fan_out: the (word, wfreq) output's
    partitioning is inherited by every downstream merge iteration via
    the loop's checkpoint, so extra input partitions become extra
    scheduled tasks in EVERY iteration, while the scan itself is
    vocabulary-bounded after one map-side partial agg."""
    return (
        df.select(F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("wfreq"))
    )


def with_symbols(words: DataFrame, word_col: str = "word") -> DataFrame:
    """Attach the initial symbol array: one single-character symbol per
    character. ``split(word, '')`` yields the character array JVM-side."""
    return words.withColumn("syms", F.split(F.col(word_col), ""))


def pair_counts(words: DataFrame) -> DataFrame:
    """Adjacent-pair frequencies over the symbol arrays, weighted by
    word frequency. Counts every adjacent occurrence (overlapping runs
    included: [a,a,a] contributes (a,a) twice) — the canonical
    ``get_stats`` of Sennrich et al. The explode + groupBy shape gives
    Catalyst a partial aggregate, so the shuffle carries per-partition
    (lhs, rhs, partial_freq) rows, not the raw pair stream."""
    return (
        words.filter(F.size("syms") >= 2)
        .select(
            "wfreq",
            F.explode(
                F.expr(
                    "transform(sequence(2, size(syms)), "
                    "i -> struct(syms[i-2] AS lhs, syms[i-1] AS rhs))"
                )
            ).alias("p"),
        )
        .groupBy(F.col("p.lhs").alias("lhs"), F.col("p.rhs").alias("rhs"))
        .agg(F.sum("wfreq").cast("long").alias("pair_freq"))
    )


def merge_pair_expr(syms: Column, lhs: str, rhs: str) -> Column:
    """Greedy left-to-right non-overlapping application of one merge
    rule to a symbol array, as a pure ``F.aggregate`` fold (stays in
    whole-stage codegen; no UDF). See module docstring for semantics."""
    merged = F.lit(lhs + rhs)
    null_s = F.lit(None).cast("string")
    init = F.struct(
        F.array().cast("array<string>").alias("out"),
        null_s.alias("pending"),
    )

    def step(acc: Column, x: Column) -> Column:
        hit = acc["pending"].eqNullSafe(F.lit(lhs)) & (x == F.lit(rhs))
        flushed = F.when(acc["pending"].isNull(), acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["pending"]))
        )
        return F.when(
            hit,
            F.struct(
                F.concat(acc["out"], F.array(merged)).alias("out"),
                null_s.alias("pending"),
            ),
        ).otherwise(F.struct(flushed.alias("out"), x.alias("pending")))

    def finish(acc: Column) -> Column:
        return F.when(acc["pending"].isNull(), acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["pending"]))
        )

    return F.aggregate(syms, init, step, finish)


def learn_bpe(
    docs: DataFrame,
    text_col: str,
    num_merges: int,
    min_pair_freq: int = 2,
    checkpoint_every: int = 16,
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Train ``num_merges`` BPE merges; returns (merges, final words).

    ``merges`` is a bounded driver-side list of
    (rank, lhs, rhs, pair_freq) — one 1-row collect per iteration, the
    only driver traffic in the loop. ``words`` is the (word, wfreq,
    syms) DataFrame after all merges, for downstream encoding.

    Every ``checkpoint_every`` merges the words plan is cut with
    ``checkpoint.truncate_lineage`` (reliable when a checkpoint dir is
    configured) so the stacked fold expressions don't grow the plan
    unboundedly on long trainings (the standard iterative-plan hygiene
    also used by functions/graph.py's loops). Training stops
    early when the best pair drops below ``min_pair_freq`` or no pairs
    remain.
    """
    # Materialize the word table once: this is the single corpus-sized
    # pass. Without it every iteration's lineage re-runs the corpus
    # scan + word shuffle; with it iterations touch only the
    # vocabulary-sized checkpointed table.
    words = truncate_lineage(with_symbols(word_frequencies(docs, text_col)))
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, num_merges + 1):
        best = (
            pair_counts(words)
            .orderBy(F.desc("pair_freq"), "lhs", "rhs")
            .limit(1)
            .collect()
        )
        if not best or best[0]["pair_freq"] < min_pair_freq:
            break
        lhs, rhs, freq = best[0]["lhs"], best[0]["rhs"], int(best[0]["pair_freq"])
        merges.append((rank, lhs, rhs, freq))
        words = words.withColumn("syms", merge_pair_expr(F.col("syms"), lhs, rhs))
        if rank % checkpoint_every == 0:
            words = truncate_lineage(words)
    return merges, words


def apply_merges(words: DataFrame, merges: list[tuple[int, str, str, int]]) -> DataFrame:
    """Encode a (…, syms) table with an already-learned merge list, in
    rank order — k map-only fold passes, no shuffle."""
    for _, lhs, rhs, _ in sorted(merges):
        words = words.withColumn("syms", merge_pair_expr(F.col("syms"), lhs, rhs))
    return words


def merges_df(
    spark: SparkSession, merges: list[tuple[int, str, str, int]]
) -> DataFrame:
    """Materialize the bounded merge list as a DataFrame for sinks /
    parity checks."""
    return spark.createDataFrame(
        [(int(r), l, h, int(f)) for r, l, h, f in merges],
        "rank long, lhs string, rhs string, pair_freq long",
    )


def subword_frequencies(words: DataFrame) -> DataFrame:
    """Token frequencies of the encoded corpus: explode the symbol
    arrays weighted by word frequency — the learned-vocabulary view."""
    return (
        words.select("wfreq", F.explode("syms").alias("token"))
        .groupBy("token")
        .agg(F.sum("wfreq").cast("long").alias("tok_freq"))
    )
