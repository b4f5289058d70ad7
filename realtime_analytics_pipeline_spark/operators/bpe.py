"""Distributed BPE tokenizer training (Sennrich et al. 2016).

Classic byte-pair-encoding training: derive the word-frequency dict
from the corpus (one full-scale aggregation — the only pass that
touches raw text), then iteratively (a) count adjacent symbol pairs
weighted by word frequency, (b) pick the most frequent pair
(deterministic tiebreak), (c) replace its non-overlapping left-to-right
occurrences in every word. Steps (a) and (c) are DataFrame operations —
the pair count is a weighted aggregation, the merge is a pure Column
fold over each word's symbol array (no UDF); only the single winning
pair row is collected per iteration, which is legitimate iterative
control flow (same driver role as k-means centroids or PageRank
convergence checks in this repo).

At 100 TB the word-frequency dict after the first aggregation is
vocabulary-sized, not corpus-sized — exactly how production BPE
training scales: one heavy distributed pass, then cheap iterations on
the dict. Encoding with a learned merge table is
``encode_tokens_kernel``, which applies the same greedy merges per
distinct word.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _merge_expr(arr_col: str, left: str, right: str, merged: str):
    """Replace non-overlapping left-to-right (left, right) pairs by
    ``merged`` in an array<string> column — a single aggregate fold.

    The accumulator carries the output array plus the one held-back
    previous symbol ('' = none): when (prev, current) is the target
    pair the merged token is emitted and the hold clears, so a merged
    token never re-pairs within the same pass (BPE's non-overlapping
    rule).
    """

    def q(s: str) -> str:
        return "'" + s.replace("'", "\\'") + "'"

    return F.expr(
        f"""
        aggregate(
            {arr_col},
            struct(cast(array() as array<string>) AS out, '' AS prev),
            (acc, t) -> CASE
                WHEN acc.prev = {q(left)} AND t = {q(right)}
                    THEN struct(array_append(acc.out, {q(merged)}) AS out,
                                '' AS prev)
                WHEN acc.prev = ''
                    THEN struct(acc.out AS out, t AS prev)
                ELSE struct(array_append(acc.out, acc.prev) AS out,
                            t AS prev)
                END,
            acc -> CASE WHEN acc.prev = '' THEN acc.out
                        ELSE array_append(acc.out, acc.prev) END)
        """
    )


def word_freq_dict(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The one corpus-scale pass: (word, freq) with char-split symbols."""
    return (
        docs.select(F.explode(F.split(text_col, " ")).alias("word"))
        .where(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn("syms", F.split("word", ""))
    )


def train_bpe(docs: DataFrame, n_merges: int = 8) -> list[dict]:
    """Learn ``n_merges`` BPE merges; returns the ordered merge table
    [{rank, left, right, merged, pair_freq}]. Deterministic: ties on
    weighted pair frequency break on (left, right) lexicographically.
    """
    dict_df = word_freq_dict(docs).select("word", "freq", "syms")
    dict_df = dict_df.localCheckpoint()  # cut lineage across iterations
    merges: list[dict] = []
    for rank in range(n_merges):
        # guard single-symbol words: sequence(0, -1) would generate a
        # DESCENDING sequence in Spark (default step -1), not empty
        pairs = dict_df.select(
            "freq",
            F.explode(
                F.expr(
                    "CASE WHEN size(syms) >= 2 THEN"
                    " transform(sequence(0, size(syms) - 2),"
                    " i -> struct(syms[i] AS l, syms[i + 1] AS r))"
                    " ELSE cast(array() as"
                    " array<struct<l: string, r: string>>) END"
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("pf"))
            .orderBy(F.col("pf").desc(), "l", "r")
            .limit(1)
            .collect()
        )
        if not top or top[0].pf < 2:
            break
        left, right, pf = top[0].l, top[0].r, int(top[0].pf)
        merged = left + right
        merges.append(
            {
                "rank": rank,
                "left": left,
                "right": right,
                "merged": merged,
                "pair_freq": pf,
            }
        )
        dict_df = dict_df.select(
            "word",
            "freq",
            _merge_expr("syms", left, right, merged).alias("syms"),
        ).localCheckpoint()
    return merges


def encode_tokens_kernel(
    words: DataFrame, merges: list[tuple[str, str]]
) -> DataFrame:
    """Arrow-batched kernel twin of the Catalyst-fold BPE encoder
    (registry_docs.q_text_bpe_encode_tokens) — the 100 TB path. The
    nested-fold form is the SPEC (pure Catalyst, engine-portable) but
    pays interpreted higher-order-function constants per symbol; this
    mapInPandas kernel runs the identical greedy left-to-right merge
    passes in a tight Python loop over the DISTINCT word vocabulary
    (~30x on the sf1 slice: 145 s → ~5 s). Input: (word, cnt) rows;
    output: one (word, cnt, token) row per emitted subword — the
    caller's downstream agg is unchanged, so token-for-token parity
    with the fold form is both pytest-pinned and oracle-hashed.
    Map-only: no shuffle is introduced; vocabulary rows stay on their
    partitions."""
    import pandas as pd

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("word", StringType()),
            StructField("cnt", LongType()),
            StructField("token", StringType()),
        ]
    )
    frozen = [(a, b, a + b) for a, b in merges]

    def encode(word: str) -> list[str]:
        syms = list(word)
        for a, b, ab in frozen:
            if len(syms) < 2:
                break
            out = [syms[0]]
            for x in syms[1:]:
                if out[-1] == a and x == b:
                    out[-1] = ab
                else:
                    out.append(x)
            syms = out
        return syms

    def encode_batch(batches):
        for pdf in batches:
            ws, cs, ts = [], [], []
            for w, c in zip(pdf["word"], pdf["cnt"]):
                for t in encode(str(w)):
                    ws.append(w)
                    cs.append(int(c))
                    ts.append(t)
            yield pd.DataFrame({"word": ws, "cnt": cs, "token": ts})

    return words.mapInPandas(encode_batch, schema=out_schema)
