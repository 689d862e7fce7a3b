"""Distributed byte-pair-encoding merge learning over a word-count table.

Tokenizer training is the canonical pre-training data job the reference
never needed (its NER models ship pre-tokenized) but a 100-TB text engine
must offer. The classic algorithm (Sennrich et al. 2016, ACL — public) is
inherently iterative: k times, count adjacent symbol pairs corpus-wide,
merge the most frequent pair everywhere. The Spark formulation here keeps
every heavy step distributed and JVM-side:

  * the corpus collapses to a **word-count table first** (vocabulary-sized,
    partial map-side combine) — all later passes run over distinct words
    weighted by count, never over the corpus;
  * each iteration's pair count is one explode + partial-aggregated
    groupBy; only the **single argmax row** is collected per iteration;
  * the merge itself is a **zero-UDF codegen expression**: the word's
    symbol sequence is a space-delimited string and each learned merge is
    one ``regexp_replace`` with space lookarounds, so after k merges the
    segmentation of any text is a single k-deep JVM projection —
    broadcast-free, shuffle-free, applied at scan speed.

Greedy left-to-right semantics: Java's regex engine replaces
non-overlapping matches scanning left to right, which is exactly the
reference algorithm's ``while i < len(symbols)`` merge loop (" a a a "
under merge (a,a) → " aa a " in both).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _java_repl(s: str) -> str:
    """Escape a literal replacement string for Java's Matcher semantics."""
    return s.replace("\\", "\\\\").replace("$", "\\$")


def _merge_expr(col: Column, left: str, right: str) -> Column:
    """Apply one merge to a space-delimited, space-padded symbol string."""
    pat = f"(?<= ){re.escape(left)} {re.escape(right)}(?= )"
    return F.regexp_replace(col, pat, _java_repl(left + right))


def chars_spaced(word: Column) -> Column:
    """``'low' → ' l o w '``: the initial symbol string (one char per
    symbol, space-delimited, padded so lookaround merges align to whole
    symbols)."""
    return F.concat(
        F.lit(" "), F.regexp_replace(word, "(?<=.)(?=.)", " "), F.lit(" ")
    )


def segment_expr(word: Column, merges: list[tuple[str, str]]) -> Column:
    """``array<string>`` of BPE subwords for ``word`` under ``merges`` —
    a pure codegen expression chain (k regexp_replace + one split)."""
    s = chars_spaced(word)
    for left, right in merges:
        s = _merge_expr(s, left, right)
    return F.split(F.trim(s), " ")


def learn_bpe(
    words: DataFrame,
    n_merges: int,
    word_col: str = "word",
    count_col: str = "n",
) -> list[tuple[int, str, str, int]]:
    """Learn ``n_merges`` BPE merges from a (word, count) table.

    Returns ``[(merge_rank, lhs, rhs, pair_count), ...]``. Ties on the
    pair count break on (lhs, rhs) ascending, so the result is
    deterministic regardless of partitioning. Stops early when no pair
    remains. Per iteration, only the 1-row argmax crosses to the driver;
    the pair count re-derives from the base table through the
    accumulated merge expression (k-deep codegen, no cached lineage).
    """
    merges: list[tuple[str, str]] = []
    out: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        s = chars_spaced(F.col(word_col))
        for left, right in merges:
            s = _merge_expr(s, left, right)
        syms = F.split(F.trim(s), " ")
        pairs = (
            words.select(
                F.col(count_col).alias("_n"), syms.alias("_s")
            )
            .filter(F.size("_s") >= 2)
            .select(
                "_n",
                F.explode(
                    F.expr(
                        "transform(sequence(0, size(_s) - 2),"
                        " i -> struct(_s[i] AS lhs, _s[i + 1] AS rhs))"
                    )
                ).alias("_p"),
            )
            .groupBy("_p.lhs", "_p.rhs")
            .agg(F.sum("_n").alias("_cnt"))
        )
        best = pairs.orderBy(F.desc("_cnt"), "lhs", "rhs").limit(1).collect()
        if not best:
            break
        row = best[0]
        merges.append((row["lhs"], row["rhs"]))
        out.append((rank, row["lhs"], row["rhs"], int(row["_cnt"])))
    return out


def reference_bpe(
    word_counts: dict[str, int], n_merges: int
) -> list[tuple[int, str, str, int]]:
    """Single-machine reference implementation (test/oracle twin of
    :func:`learn_bpe`); same tie-break, same greedy merge semantics."""
    vocab: dict[tuple[str, ...], int] = {}
    for w, c in word_counts.items():
        if w:
            key = tuple(w)
            vocab[key] = vocab.get(key, 0) + c
    out: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + c
        if not counts:
            break
        top = max(counts.values())
        left, right = min(p for p, c in counts.items() if c == top)
        out.append((rank, left, right, top))
        nxt: dict[tuple[str, ...], int] = {}
        for syms, c in vocab.items():
            merged: list[str] = []
            i = 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == left
                    and syms[i + 1] == right
                ):
                    merged.append(left + right)
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            key = tuple(merged)
            nxt[key] = nxt.get(key, 0) + c
        vocab = nxt
    return out


def reference_segment(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Reference greedy segmentation matching :func:`segment_expr`."""
    syms = list(word)
    for left, right in merges:
        merged: list[str] = []
        i = 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                merged.append(left + right)
                i += 2
            else:
                merged.append(syms[i])
                i += 1
        syms = merged
    return syms
