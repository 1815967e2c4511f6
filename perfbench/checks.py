"""Correctness checks. Each takes plain Python values (row counts, collected
rows, digests) and returns a list of error strings, empty when the output
is right; the workloads collect the values, ``test_perfbench.py`` feeds
them corrupted ones."""

from __future__ import annotations

import hashlib
import math

#: default seed; value digests are pinned for it only (row counts are
#: seed-independent because the generators fix every size)
DEFAULT_SEED = 0


def hourly_rows(n_reserves: int, n_ticks: int) -> dict[str, int]:
    """Row counts after the cadence's hourly ticks (one market) and its
    liquidity tick; every hourly model has one row per reserve and tick."""
    per_tick = n_reserves * n_ticks
    return {
        "block_numbers_by_hour": n_ticks,
        "protocol_data_by_hour": per_tick,
        "chains_markets": 1,
        "aave_atokens": n_reserves,
        "market_state_by_day": n_reserves,
        "market_config_by_day": n_reserves,
        "market_config_by_hour": per_tick,
        "market_state_by_hour": per_tick,
        "reserve_factor_income_by_hour": per_tick,
        "liquidity_depth_raw": 5,
    }


#: rounded-value digest of the cadence's set-up state for ``DEFAULT_SEED``
STATE_DIGEST = "42dcbf16c82d02af"


def _fmt(v) -> str:
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    return repr(v)


def digest_rows(rows) -> str:
    """Order-independent digest of rows, floats rounded to 9 significant
    digits so the last-bit noise of a different summation order is
    ignored."""
    lines = sorted("|".join(_fmt(v) for v in row) for row in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def check_counts(observed: dict, expected: dict, label: str) -> list[str]:
    errs = []
    for name, want in expected.items():
        got = observed.get(name)
        if got != want:
            errs.append(f"{label}: {name} has {got} rows, expected {want}")
    return errs


def check_equal(got, want, label: str) -> list[str]:
    return [] if got == want else [f"{label}: got {got!r}, expected {want!r}"]


def check_dedup(clean_ids, injected: dict[int, int]) -> list[str]:
    """Injected duplicates (id -> id of their original) are absent from the
    clean table; every original is present."""
    ids = set(clean_ids)
    errs = [f"duplicate {d} survived dedup" for d in injected if d in ids]
    errs += [
        f"original {o} of duplicate {d} missing"
        for d, o in injected.items()
        if o not in ids
    ]
    return errs


def check_docs(got: dict[int, str], want: dict[int, str]) -> list[str]:
    """The stored documents (``{doc_id: text}``) after the corrections
    merge: exactly the expected ids, each with the expected text."""
    errs = [f"corpus_docs: doc {i} missing" for i in sorted(want.keys() - got.keys())]
    errs += [f"corpus_docs: unexpected doc {i}" for i in sorted(got.keys() - want.keys())]
    errs += [
        f"corpus_docs: doc {i} has text {got[i]!r:.80}, expected {want[i]!r:.80}"
        for i in sorted(want.keys() & got.keys())
        if got[i] != want[i]
    ]
    return errs[:20]


def check_maintenance(out: dict, bpe_merges: int) -> list[str]:
    """``corpus_maintenance``'s ``{table: (before, after)}``: compaction
    never adds files, the rebuilt indexes are not empty, and the BPE merge
    table has ``bpe_merges`` rows."""
    errs = []
    for name, (before, after) in out.items():
        if name == "corpus_bpe_merges":
            if after != bpe_merges:
                errs.append(f"maintenance: {name} has {after} rows, expected {bpe_merges}")
        elif name in ("corpus_mh", "corpus_spans"):
            if not after:
                errs.append(f"maintenance: rebuilt {name} is empty")
        elif not 0 < after <= before:
            errs.append(f"maintenance: {name} went from {before} to {after} files")
    if "corpus_bpe_merges" not in out:
        errs.append("maintenance: no BPE merge table stored")
    return errs
