"""Distributed BPE trainer (operators/bpe.py) vs a pure-Python reference.

The distributed loop must reproduce the classic single-machine algorithm
merge-for-merge: same pair counts, same argmax under the (count desc,
pair lexicographic) tie-break, same greedy left-to-right merge
application. Any divergence (fold semantics, tie order, overlap
handling) shows up as a differing merge sequence.
"""

from __future__ import annotations

import collections
import re

from etl_tj_project_spark.operators import bpe
from tests.conftest import SF_SMOKE
from etl_tj_project_spark.sources.testdata import load_table


def ref_train(texts: list[str], n_merges: int) -> list[tuple[str, str, int]]:
    vocab: collections.Counter[str] = collections.Counter()
    for t in texts:
        vocab.update(re.findall(r"[a-z]+", t.lower()))
    seqs: dict[str, list[str]] = {w: list(w) for w in vocab}
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        pc: collections.Counter[tuple[str, str]] = collections.Counter()
        for w, syms in seqs.items():
            f = vocab[w]
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += f
        if not pc:
            break
        (a, b), total = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        if total < 2:
            break
        merges.append((a, b, total))
        for w, syms in seqs.items():
            out: list[str] = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            seqs[w] = out
    return merges


def test_fold_merge_is_greedy_nonoverlapping(spark):
    df = spark.createDataFrame([("aaa",), ("abab",), ("ba",)], "word string")
    sym = bpe.with_symbols(df.withColumn("freq", bpe.F.lit(1)))
    merged = {
        r["word"]: r["symbols"]
        for r in bpe.merge_pair(sym, "a", "a").collect()
    }
    assert merged["aaa"] == ["aa", "a"]  # greedy left-to-right, no chain
    assert merged["abab"] == ["a", "b", "a", "b"]
    merged2 = {
        r["word"]: r["symbols"]
        for r in bpe.merge_pair(sym, "a", "b").collect()
    }
    assert merged2["abab"] == ["ab", "ab"]
    assert merged2["ba"] == ["b", "a"]


def test_trainer_matches_reference_on_corpus(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    texts = [r["text"] for r in docs.select("text").collect()]
    expected = ref_train(texts, 12)
    got = bpe.train_bpe(docs, n_merges=12)
    assert got == expected
    assert len(got) == 12  # the corpus is rich enough to fill every step


def test_encoder_applies_merges_in_order():
    merges = [("l", "o", 9), ("lo", "w", 5)]
    assert bpe.encode_with_merges("lower", merges) == ["low", "e", "r"]
    assert bpe.encode_with_merges("hello", merges) == ["h", "e", "l", "lo"]


def test_distributed_encode_matches_reference_encoder(spark):
    """encode_corpus_vocab (the distributed apply: N folds composed into
    one expression tree over the vocabulary) must equal the driver-side
    reference encoder word-for-word — under LEARNED merges, so chained
    multi-char merges are exercised end-to-end."""
    docs = load_table(spark, SF_SMOKE, "documents")
    merges = bpe.train_bpe(docs, n_merges=8)
    assert any(len(a) > 1 or len(b) > 1 for a, b, _ in merges), (
        "corpus should learn at least one chained merge for this test "
        "to exercise multi-char fold symbols"
    )
    enc = {
        r["word"]: r["symbols"]
        for r in bpe.encode_corpus_vocab(docs, merges).collect()
    }
    assert enc, "vocabulary should be non-empty"
    for word, symbols in enc.items():
        assert symbols == bpe.encode_with_merges(word, merges), word
    # Round-trip invariant: concatenated tokens reconstruct every word.
    assert all("".join(s) == w for w, s in enc.items())


def test_bpe_encode_corpus_entry_fixed_table(spark):
    """The registry entry's fixed-table encode: token totals conserve
    the corpus letter mass (every letter lands in exactly one token),
    and the fixed merges actually fire (merged tokens present)."""
    from etl_tj_project_spark.harness_curation import (
        BPE_FIXED_MERGES,
        bpe_encode_corpus,
    )

    out = bpe_encode_corpus(spark, SF_SMOKE).collect()
    assert 0 < len(out) <= 50
    tokens = {r["token"] for r in out}
    assert any(len(t) > 1 for t in tokens), "no merge fired"
    merged_forms = {a + b for a, b in BPE_FIXED_MERGES}
    assert tokens & merged_forms, "no fixed-table token surfaced"
    # Deterministic ordering contract: (total desc, token asc).
    pairs = [(r["total"], r["token"]) for r in out]
    assert pairs == sorted(pairs, key=lambda p: (-p[0], p[1]))
