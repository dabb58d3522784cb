"""Seeded documents corpus and CDC epochs for the ``maintain`` workload.

The shape follows the repository's ``documents``/``embeddings`` test
tables (doc_id, whitespace-token text, source, n_chars, a float vector),
generated here so that a run reads nothing outside its checkout. Exact
copies and near-copies are planted so the dedup artifacts have groups to
maintain; vectors are drawn around a few centres so IVF cells differ in
size.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

_VOCAB = np.array(
    (
        "batch part spark line column order small sort fast value scan hash slow group "
        "agg filter query big key window row table stream merge data vector join shuffle "
        "plan cache index delta epoch commit offset replay tail fold lookup probe bucket "
        "shard token corpus cell centroid drift retract apply"
    ).split()
)
DIM = 16
N_SOURCES = 8


@dataclass(frozen=True)
class CorpusConfig:
    n_docs: int
    n_cycles: int
    n_updates: int
    n_inserts: int
    n_deletes: int


def _text(rng: np.random.Generator) -> str:
    n = int(rng.integers(8, 40))
    # Zipf-ish word choice: a few words appear in most documents
    idx = np.minimum(rng.zipf(1.3, n) - 1, len(_VOCAB) - 1)
    return " ".join(_VOCAB[idx])


def _vec(rng: np.random.Generator, centres: np.ndarray) -> list[float]:
    c = centres[int(rng.integers(len(centres)))]
    return (c + rng.normal(0.0, 0.35, DIM)).astype(np.float32).tolist()


def _row(doc_id: int, text: str, rng: np.random.Generator, centres: np.ndarray) -> dict:
    return {
        "doc_id": int(doc_id),
        "text": text,
        "source": f"src{int(rng.integers(N_SOURCES))}",
        "n_chars": len(text),
        "embedding": _vec(rng, centres),
    }


def _edit(text: str, rng: np.random.Generator) -> str:
    words = text.split()
    i = int(rng.integers(len(words)))
    words[i] = str(_VOCAB[int(rng.integers(len(_VOCAB)))])
    if rng.random() < 0.5:
        words.append(str(_VOCAB[int(rng.integers(len(_VOCAB)))]))
    return " ".join(words)


def generate(seed: int, cfg: CorpusConfig) -> tuple[pd.DataFrame, list[tuple[pd.DataFrame, list[int]]]]:
    """The initial corpus and ``n_cycles`` epochs of (upserts, deleted ids).

    Each epoch updates, inserts and deletes disjoint doc ids; some inserts
    copy a live document's text (exact duplicates) and some updates copy
    another live document's text, so dedup groups grow, shrink and lose
    their keeper."""
    rng = np.random.default_rng(seed)
    centres = rng.normal(0.0, 1.0, (8, DIM))
    rows: dict[int, dict] = {}
    for d in range(cfg.n_docs):
        r = rng.random()
        if d > 10 and r < 0.08:
            text = rows[int(rng.integers(d))]["text"]
        elif d > 10 and r < 0.16:
            text = _edit(rows[int(rng.integers(d))]["text"], rng)
        else:
            text = _text(rng)
        rows[d] = _row(d, text, rng, centres)
    base = pd.DataFrame(list(rows.values()))

    epochs = []
    next_id = cfg.n_docs
    for _ in range(cfg.n_cycles):
        live = np.array(sorted(rows))
        pick = rng.choice(live, cfg.n_updates + cfg.n_deletes, replace=False)
        upd, dels = pick[: cfg.n_updates], pick[cfg.n_updates :]
        ups = []
        for d in upd:
            if rng.random() < 0.2:
                text = rows[int(rng.choice(live))]["text"]
            else:
                text = _edit(rows[int(d)]["text"], rng)
            ups.append(_row(int(d), text, rng, centres))
        for _ in range(cfg.n_inserts):
            text = rows[int(rng.choice(live))]["text"] if rng.random() < 0.3 else _text(rng)
            ups.append(_row(next_id, text, rng, centres))
            next_id += 1
        for r in ups:
            rows[r["doc_id"]] = r
        for d in dels:
            rows.pop(int(d), None)
        epochs.append((pd.DataFrame(ups), [int(d) for d in dels]))
    return base, epochs
