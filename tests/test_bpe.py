"""Distributed BPE training: equality with a reference implementation."""

from __future__ import annotations

from realtime_analytics_pipeline_spark.operators.bpe import (
    train_bpe,
    word_freq_dict,
)
from realtime_analytics_pipeline_spark.sources.batch import load_table
from tests.conftest import SF_SMOKE


def _ref_bpe(wf: dict, k: int) -> list[dict]:
    dict_ = {w: list(w) for w in wf}
    out = []
    for rank in range(k):
        pc: dict = {}
        for w, syms in dict_.items():
            f = wf[w]
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] = pc.get((a, b), 0) + f
        if not pc:
            break
        (l, r), pf = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if pf < 2:
            break
        out.append(
            {"rank": rank, "left": l, "right": r, "merged": l + r,
             "pair_freq": pf}
        )
        for w, syms in dict_.items():
            ns, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    ns.append(l + r)
                    i += 2
                else:
                    ns.append(syms[i])
                    i += 1
            dict_[w] = ns
    return out


def test_bpe_training_matches_reference(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    merges = train_bpe(docs, 8)
    wf = {r.word: r.freq for r in word_freq_dict(docs).collect()}
    assert merges == _ref_bpe(wf, 8)
    assert len(merges) == 8
    # learned merges chain (later merges may consume earlier outputs)
    vocab_out = {m["merged"] for m in merges}
    assert any(
        m["left"] in vocab_out or m["right"] in vocab_out for m in merges
    )


# ---------------------------------------------------------------------------
# Round-10: the Catalyst-fold BPE ENCODER (text_bpe_encode_tokens) vs a
# pure-Python greedy reference — same merge table, same greedy
# left-to-right single pass per merge in priority order.


def _py_bpe_encode(word: str, merges) -> list[str]:
    syms = list(word)
    for a, b, ab in merges:
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


def test_bpe_encode_fold_matches_python_reference(spark):
    import collections
    import re

    from realtime_analytics_pipeline_spark.registry import QUERIES
    from realtime_analytics_pipeline_spark.registry_docs import _BPE_MERGES

    merges = [(a, b, a + b) for a, b in _BPE_MERGES]
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    ref_tokens = collections.Counter()
    ref_words = collections.defaultdict(set)
    for r in docs.select("text").collect():
        for w in r.text.lower().split(" "):
            if not re.fullmatch(r"[a-z]+", w):
                continue
            for t in _py_bpe_encode(w, merges):
                ref_tokens[t] += 1
                ref_words[t].add(w)
    got = {
        r.token: (r.total_occurrences, r.n_distinct_words)
        for r in QUERIES["text_bpe_encode_tokens"](spark, SF_SMOKE).collect()
    }
    want = {t: (n, len(ref_words[t])) for t, n in ref_tokens.items()}
    assert got == want


def test_bpe_encode_greedy_overlap_rule(spark):
    # 'ththe': pass ('t','h') greedily gives [th, th, e]; the merged
    # 'th' must NOT re-merge with a following bare 'h' in the same
    # pass; then ('th','e') gives [th, the]
    from realtime_analytics_pipeline_spark.registry_docs import _BPE_MERGES

    merges = [(a, b, a + b) for a, b in _BPE_MERGES]
    assert _py_bpe_encode("ththe", merges) == ["th", "the"]
    assert _py_bpe_encode("thhe", merges) == ["th", "h", "e"]


def test_bpe_kernel_twin_matches_fold_form(spark):
    """The Arrow-kernel encoder must emit token-for-token identical
    aggregates to the Catalyst-fold spec form — same merge table, same
    greedy pass semantics (this pin is what licenses sharing the SQL
    oracle)."""
    from realtime_analytics_pipeline_spark.registry import QUERIES

    fold = {
        tuple(r)
        for r in QUERIES["text_bpe_encode_tokens"](spark, SF_SMOKE).collect()
    }
    kern = {
        tuple(r)
        for r in QUERIES["text_bpe_encode_tokens_kernel"](
            spark, SF_SMOKE
        ).collect()
    }
    assert fold == kern and len(fold) > 0
