"""Seeded inputs for the ``corpus_day`` workload: one day's landing feed of
synthetic English documents that carries exact and near duplicates of
other documents of the same day, and a batch of corrections (updates,
deletes, inserts) that is merged into the stored documents after the day
has run.

Each document's distinctive words are md5-derived from ``(seed, doc_id,
slot)``, so no two generated documents share content unless a duplicate
was injected on purpose. The frame between the per-document words is at
most seven words long, shorter than the pipeline's 8-token span window,
so span dedup never cuts a unique document.
"""

from __future__ import annotations

import hashlib
import random
from datetime import date, timedelta

#: the day's cost is per Spark job, not per document (on a 4-core machine
#: 100 documents take 24 s, 200 take 28 s), so the day is kept small for
#: the run budget
DOCS_PER_DAY = 100
N_EXACT = 10
N_NEAR = 10
#: the correction batch merged into ``corpus_docs``
N_UPDATE = 10
N_DELETE = 5
N_INSERT = 5

#: a stopword-rich frame, like English prose; each ``{}`` takes one
#: per-document word
_FRAME = (
    "in the {} report the {} of the {} is shown and the {} was not"
    " the {} for the {} but it is a {} that we can see in the {} and"
    " then the {} of all the {} was found to be more than the {}"
)
_SLOTS = _FRAME.count("{}")


def _word(seed: int, doc_id: int, slot: int) -> str:
    h = hashlib.md5(f"{seed}:{doc_id}:{slot}".encode()).hexdigest()
    # letters only: the text normalizer keeps words, not digits
    return "".join(chr(ord("a") + int(c, 16) % 26) for c in h[:8])


def document(seed: int, doc_id: int) -> str:
    return _FRAME.format(*(_word(seed, doc_id, s) for s in range(_SLOTS)))


def corpus_params(seed: int) -> dict:
    rng = random.Random(seed)
    day = date(2024, 1, 1) + timedelta(days=rng.randrange(0, 300))
    base = rng.randrange(1, 1000) * 100_000
    ids = list(range(base, base + DOCS_PER_DAY))
    picked = rng.sample(ids, N_EXACT + N_NEAR + N_UPDATE + N_DELETE)
    cut = N_EXACT + N_NEAR
    return {
        "seed": seed,
        "day": day.isoformat(),
        "base": base,
        "exact_of": picked[:N_EXACT],
        "near_of": picked[N_EXACT:cut],
        "update": picked[cut:cut + N_UPDATE],
        "delete": picked[cut + N_UPDATE:],
    }


def _dup_ids(params: dict) -> range:
    start = params["base"] + DOCS_PER_DAY
    return range(start, start + N_EXACT + N_NEAR)


def landing_rows(params: dict) -> tuple[list[tuple], dict[int, int]]:
    """Rows ``(doc_id, lang, text, day)`` of the day, and the injected
    duplicates as ``{duplicate doc_id: original doc_id}``. Duplicates take
    higher ids than their originals, so the pipeline's keep-lowest rule
    must drop the duplicate."""
    seed, base = params["seed"], params["base"]
    day = date.fromisoformat(params["day"])
    rows = [(i, "en", document(seed, i), day) for i in range(base, base + DOCS_PER_DAY)]
    injected: dict[int, int] = {}
    dup_ids = iter(_dup_ids(params))
    for orig in params["exact_of"]:
        dup = next(dup_ids)
        rows.append((dup, "en", document(seed, orig), day))
        injected[dup] = orig
    for orig in params["near_of"]:
        dup = next(dup_ids)
        # one appended word: a single new 3-shingle, Jaccard well above
        # the near-duplicate threshold
        text = document(seed, orig) + " " + _word(seed, dup, 99)
        rows.append((dup, "en", text, day))
        injected[dup] = orig
    return rows, injected


LANDING_SCHEMA = "doc_id long, lang string, text string, day date"


def _corrected(seed: int, doc_id: int) -> str:
    return document(seed, doc_id) + " corrected " + _word(seed, doc_id, 77)


def corrections(params: dict) -> list[tuple]:
    """Change rows ``(day, doc_id, lang, text, op)`` for ``corpus_docs``:
    ``U`` rewrites a document's text, ``D`` deletes it, ``I`` adds a new
    one."""
    seed = params["seed"]
    day = date.fromisoformat(params["day"])
    rows = [(day, i, "en", _corrected(seed, i), "U") for i in params["update"]]
    rows += [(day, i, "en", None, "D") for i in params["delete"]]
    first_new = _dup_ids(params).stop
    rows += [(day, i, "en", document(seed, i), "I")
             for i in range(first_new, first_new + N_INSERT)]
    return rows


CORRECTIONS_SCHEMA = "day date, doc_id long, lang string, text string, op string"


def docs_after_merge(params: dict) -> dict[int, str]:
    """``{doc_id: text}`` that ``corpus_docs`` must hold once the day has
    run and the corrections are merged: the day's documents without the
    injected duplicates, with the corrections applied."""
    seed, base = params["seed"], params["base"]
    docs = {i: document(seed, i) for i in range(base, base + DOCS_PER_DAY)}
    for _day, i, _lang, text, op in corrections(params):
        if op == "D":
            docs.pop(i)
        else:
            docs[i] = text
    return docs
