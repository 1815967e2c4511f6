"""Self-test of the benchmark (no Spark needed):

    python3 -m pytest perfbench -q

A seed reproduces identical generated inputs, and every correctness check
rejects a deliberately corrupted output."""

from __future__ import annotations

import json

import pytest

from perfbench import checks, gen_corpus
from perfbench.gen_chain import FAIL_ONCE, chain_params, chain_transports, expected_lake_rows

SAMPLE_REQUESTS = {
    "closest_block": {"day": "2024-01-01", "chain": "ethereum"},
    "closest_block_hour": {"chain": "ethereum", "hour": "2024-01-01-05:00"},
    "oracle_prices": {"reserve": "0xabc", "block_height": 123},
    "protocol_data": {"reserve": "0x" + "e" * 36 + "0002"},
    "token_transfers": {"token": "0xatok_1", "start_block": 5, "collector": "0xc"},
    "balance_of": {"token": "0xatok_1", "block_height": 5},
}


def _call(transport, req: dict):
    """One request with the program's retry-once behaviour."""
    try:
        return transport(req)
    except ConnectionError:
        return transport(req)


def _payloads(seed: int) -> str:
    params = chain_params(seed)
    transports = chain_transports(params)
    tokens = _call(transports["subgraph_tokens"], {"market": next(iter(params["markets"]))})
    out = {k: _call(transports[k], dict(req)) for k, req in SAMPLE_REQUESTS.items()}
    return json.dumps({"params": params, "tokens": tokens, "out": out}, sort_keys=True)


def test_chain_inputs_reproduce_per_seed():
    assert _payloads(3) == _payloads(3)
    assert _payloads(3) != _payloads(4)


def test_injected_failures_fail_once_and_only_where_listed():
    transports = chain_transports(chain_params(7))
    for name, req in SAMPLE_REQUESTS.items():
        req = dict(req)
        if name in FAIL_ONCE:
            with pytest.raises(ConnectionError):
                transports[name](req)
        # the retry of the same request (or the first call of a transport
        # that never fails) succeeds
        transports[name](req)
        assert "_perfbench_failed" not in req


def test_corpus_inputs_reproduce_per_seed():
    def inputs(seed):
        p = gen_corpus.corpus_params(seed)
        return p, gen_corpus.landing_rows(p), gen_corpus.corrections(p)

    assert inputs(3) == inputs(3)
    assert inputs(3) != inputs(4)


def test_corpus_duplicates_and_corrections_are_consistent():
    p = gen_corpus.corpus_params(5)
    rows, injected = gen_corpus.landing_rows(p)
    text = {r[0]: r[2] for r in rows}
    assert len(rows) == gen_corpus.DOCS_PER_DAY + len(injected)
    for dup, orig in injected.items():
        assert dup > orig
        if orig in p["exact_of"]:
            assert text[dup] == text[orig]
        else:
            assert text[dup].startswith(text[orig]) and text[dup] != text[orig]
    docs = gen_corpus.docs_after_merge(p)
    assert len(docs) == gen_corpus.DOCS_PER_DAY - gen_corpus.N_DELETE + gen_corpus.N_INSERT
    assert not docs.keys() & injected.keys()
    assert all(docs[i] != text[i] for i in p["update"])
    assert not docs.keys() & set(p["delete"])


def test_docs_check_rejects_corrupted_documents():
    want = gen_corpus.docs_after_merge(gen_corpus.corpus_params(5))
    assert checks.check_docs(dict(want), want) == []
    some = next(iter(want))
    assert checks.check_docs({k: v for k, v in want.items() if k != some}, want)
    assert checks.check_docs({**want, some: want[some] + " x"}, want)
    assert checks.check_docs({**want, -1: "extra"}, want)


def test_maintenance_check_rejects_a_bad_pass():
    good = {"corpus_docs": (4, 2), "corpus_mh": (1600, 1520), "corpus_bpe_merges": (0, 16)}
    assert checks.check_maintenance(good, 16) == []
    assert checks.check_maintenance({**good, "corpus_docs": (2, 4)}, 16)
    assert checks.check_maintenance({**good, "corpus_mh": (1600, 0)}, 16)
    assert checks.check_maintenance({**good, "corpus_bpe_merges": (0, 15)}, 16)
    assert checks.check_maintenance({"corpus_docs": (4, 2)}, 16)


def test_count_check_rejects_a_missing_row():
    want = expected_lake_rows(chain_params(0))
    assert checks.check_counts(dict(want), want, "lake") == []
    bad = {**want, "market_tokens_by_day": want["market_tokens_by_day"] - 1}
    assert checks.check_counts(bad, want, "lake")
    assert checks.check_counts({}, want, "lake")


def test_digest_detects_a_changed_value_and_ignores_order():
    rows = [("t", 1, 2.5, "x"), ("t", 2, 3.25, "y")]
    d = checks.digest_rows(rows)
    assert d == checks.digest_rows(list(reversed(rows)))
    assert d != checks.digest_rows([("t", 1, 2.5, "x"), ("t", 2, 3.26, "y")])
    assert checks.check_equal(d, d, "digest") == []
    assert checks.check_equal(checks.digest_rows(rows[:1]), d, "digest")


@pytest.mark.parametrize("corrupt", ["dup_kept", "original_lost"])
def test_dedup_check_rejects_corrupted_clean_table(corrupt):
    injected = {101: 1, 102: 2}
    clean = {1, 2, 3}
    assert checks.check_dedup(clean, injected) == []
    bad = clean | {101} if corrupt == "dup_kept" else clean - {2}
    assert checks.check_dedup(bad, injected)
