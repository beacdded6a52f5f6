"""BPE merge training: oracle matches + merge-application semantics."""

from __future__ import annotations

import pytest

from tests.oracle import assert_oracle_match
from vers_spark.operators import bpe


@pytest.mark.parametrize("name", sorted(bpe.ORACLE_SQL))
def test_bpe_oracle(spark, sf_dir, name):
    assert_oracle_match(spark, sf_dir, name, bpe.QUERIES[name], bpe.ORACLE_SQL[name])


def _two_pass(seq: str, a: str, b: str) -> str:
    pat, rep = f" {a} {b} ", f" {a}{b} "
    for _ in range(2):
        seq = seq.replace(pat, rep)
    return seq


def _greedy(syms: list[str], a: str, b: str) -> list[str]:
    """Textbook BPE merge: left-to-right, skip past each merged token."""
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def test_two_pass_replace_equals_greedy_for_distinct_pairs():
    """For a != b the two-pass literal replace IS the textbook greedy merge
    (occurrences can share only the boundary space; pass 2 catches exactly
    the shared-boundary misses). Exhaustive over all 4-symbol strings on a
    3-symbol alphabet x all distinct ordered pairs."""
    import itertools

    alpha = ["a", "b", "c"]
    for syms in itertools.product(alpha, repeat=4):
        for a, b in itertools.permutations(alpha, 2):
            got = _two_pass(" " + " ".join(syms) + " ", a, b).split()
            assert got == _greedy(list(syms), a, b), (syms, a, b)


def test_merges_deterministic_and_monotone(spark, sf_dir):
    merges, _ = bpe.train_merges(spark, sf_dir)
    counts = [c for _, _, _, c in merges]
    # pair counts are non-increasing in the argmax sequence only if no merge
    # creates a more frequent pair than the current max — not guaranteed in
    # general; what IS guaranteed: positivity and deterministic replay
    assert all(c > 0 for c in counts)
    replay, _ = bpe.train_merges(spark, sf_dir)
    assert replay == merges


def test_incremental_counts_equal_full_recount(spark, sf_dir):
    """The scale path's delta-maintained pair counts must reproduce the
    textbook full-recount training EXACTLY: same merge sequence (pair,
    order, counts) and same final segmented vocab. Words not containing
    the merged pair have identical seqs before/after, so their pair
    multisets cancel in the delta — this gate pins that algebra against
    both replace-semantics tie-cases and join/coalesce bookkeeping."""
    from vers_spark.operators.bpe import train_merges_on
    from vers_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    m_inc, v_inc = train_merges_on(docs, k=8, mode="incremental")
    m_full, v_full = train_merges_on(docs, k=8, mode="recount")
    assert m_inc == m_full
    inc = {r["token"]: r["seq"] for r in v_inc.collect()}
    full = {r["token"]: r["seq"] for r in v_full.collect()}
    assert inc == full


@pytest.mark.parametrize("recount_max", [bpe._RECOUNT_MAX_VOCAB, 0])
def test_vocab_tokenized_once_per_training(spark, sf_dir, monkeypatch, recount_max):
    """Auto mode sizes the vocab and then trains on it: one
    ``_vocab_from_docs`` pass per training, whichever mode the probe picks
    (recount for this corpus; incremental with the bound forced to 0), and
    the merges equal an explicit-mode run."""
    from vers_spark.operators import _qcache
    from vers_spark.sources.tables import load_table

    monkeypatch.setattr(_qcache, "_CACHE", {})
    monkeypatch.setattr(bpe, "_RECOUNT_MAX_VOCAB", recount_max)
    calls = []
    real = bpe._vocab_from_docs
    monkeypatch.setattr(bpe, "_vocab_from_docs", lambda docs: calls.append(1) or real(docs))
    merges, _ = bpe.train_merges(spark, sf_dir, k=3)
    assert len(calls) == 1
    mode = "recount" if recount_max else "incremental"
    assert merges == bpe.train_merges_on(load_table(spark, sf_dir, "documents"), 3, mode=mode)[0]
