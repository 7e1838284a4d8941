"""Seeded input generators.

One ``--seed`` drives every input of every workload. Each purpose draws
from its own stream, ``rng(seed, purpose, index)``, so the inputs of
round ``r`` are the same for a given seed however many rounds a run
reaches, and two purposes never shift each other's draws.

The generators write plain NumPy arrays and Arrow tables; the program
under test only ever sees the files and query parameters made here.
"""

from __future__ import annotations

import zlib

import numpy as np
import pyarrow as pa

DOMAIN = 4096  # coordinate domain of the points view: [0, 4095]^2

# word pool of the documents fixture plus a Zipf-weighted tail, so BM25
# probes see both common and selective terms
FIXTURE_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
VOCAB = FIXTURE_WORDS + [f"t{i:03d}" for i in range(970)]
_VOCAB_P = 1.0 / np.arange(1, len(VOCAB) + 1) ** 0.9
_VOCAB_P /= _VOCAB_P.sum()
LANGS = ("en", "zh", "fr", "es", "de")
_LANG_P = np.array([0.4, 0.15, 0.15, 0.15, 0.15])
EVENT_TYPES = ("view", "click", "cart", "buy", "error")
HOT_USERS = 24  # distinct user_ids the event skew concentrates on


def rng(seed: int, purpose: str, index: int = 0) -> np.random.Generator:
    """The stream of ``purpose`` for round ``index`` (warm-up rounds are
    negative)."""
    return np.random.default_rng(
        [seed & 0xFFFFFFFF, zlib.crc32(purpose.encode()), index + (1 << 20)]
    )


# ---------------------------------------------------------------- points


def points(g: np.random.Generator, n: int, first_id: int = 0):
    """``n`` points shaped like the fixture's points view: most spread
    uniformly over the domain, a quarter in 16 dense clusters so some
    cells hold several entities and the bucket index splits deep."""
    n_cl = n // 4
    u = g.integers(0, DOMAIN, size=(n - n_cl, 2))
    centres = g.integers(256, DOMAIN - 256, size=(16, 2))
    c = centres[g.integers(0, 16, n_cl)] + g.normal(0, 48, size=(n_cl, 2))
    xy = np.vstack([u, np.clip(np.rint(c), 0, DOMAIN - 1).astype(np.int64)])
    xy = xy[g.permutation(n)]
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return ids, xy[:, 0].astype(np.int32), xy[:, 1].astype(np.int32)


def points_table(ids, x, y) -> pa.Table:
    return pa.table({"id": ids, "x": x, "y": y})


def rect(g: np.random.Generator, side: int):
    """An axis-aligned ``side`` x ``side`` square, inclusive bounds."""
    x0, y0 = (int(v) for v in g.integers(0, DOMAIN - side + 1, 2))
    return (x0, x0 + side - 1), (y0, y0 + side - 1)


def hit_cell(g: np.random.Generator, x, y):
    i = int(g.integers(0, len(x)))
    return int(x[i]), int(y[i])


def miss_cell(g: np.random.Generator, occupied: np.ndarray):
    """A cell no point occupies (``occupied`` is a DOMAIN x DOMAIN bool
    grid)."""
    while True:
        cx, cy = (int(v) for v in g.integers(0, DOMAIN, 2))
        if not occupied[cx, cy]:
            return cx, cy


def knn_centre(g: np.random.Generator):
    return tuple(int(v) for v in g.integers(0, DOMAIN, 2))


# ---------------------------------------------------------------- events


def events(g: np.random.Generator, first_id: int, n: int):
    """``n`` events whose ``user_id`` is Zipf-skewed over ``HOT_USERS``
    ids, so the projected points (x = user_id % 4096) pile onto a few
    columns and the same buckets split again and again. Returns the
    Arrow table to stage and the (id, x, y) the ingest path derives."""
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    hot = (g.zipf(1.4, n) - 1) % HOT_USERS
    users = ((hot * 173 + 29) % DOMAIN).astype(np.int64)
    tbl = pa.table(
        {
            "event_id": ids,
            "ts": (1_704_067_200_000_000_000 + ids * 1_000_000).astype(np.int64),
            "user_id": users,
            "event_type": [EVENT_TYPES[i] for i in g.integers(0, 5, n)],
            "value": np.round(g.uniform(0, 200, n), 2),
            "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n)],
        }
    )
    x = (users % DOMAIN).astype(np.int32)
    y = ((ids * 997 + users) % DOMAIN).astype(np.int32)
    return tbl, (ids, x, y)


# ------------------------------------------------------------- documents


def _words(g: np.random.Generator, n: int) -> list[str]:
    return [VOCAB[i] for i in g.choice(len(VOCAB), size=n, p=_VOCAB_P)]


def _doc(doc_id: int, words: list[str], lang: str) -> dict:
    text = " ".join(words)
    return {
        "doc_id": doc_id,
        "text": text,
        "lang": lang,
        "source": f"src{doc_id % 20}",
        "n_chars": len(text),
    }


def _lang(g: np.random.Generator) -> str:
    return LANGS[int(g.choice(len(LANGS), p=_LANG_P))]


def documents(g: np.random.Generator, first_id: int, n: int) -> list[dict]:
    """Fresh documents of 19-90 words, like the documents fixture."""
    return [
        _doc(first_id + i, _words(g, int(g.integers(19, 91))), _lang(g))
        for i in range(n)
    ]


# a chain copy edits ONE word of its predecessor. With 3-word shingles a
# doc of m words has m-2 shingles and one edit changes 3 of them, so for
# m in [36, 44] consecutive copies have Jaccard >= 0.8 while copies two
# edits apart fall below it: the pair graph is a path, not a clique.
CHAIN_WORDS = (36, 44)
_EDIT_STRIDE = 3  # edited positions never share a shingle


def near_dup_chain(g: np.random.Generator, first_id: int, length: int) -> list[dict]:
    """A root document and ``length - 1`` successive one-word edits, ids
    ascending along the chain (a long path in the pair graph)."""
    words = _words(g, int(g.integers(CHAIN_WORDS[0], CHAIN_WORDS[1] + 1)))
    lang = _lang(g)
    slots = g.permutation(np.arange(1, len(words) - 1, _EDIT_STRIDE))
    docs = [_doc(first_id, list(words), lang)]
    for step in range(1, length):
        pos = int(slots[(step - 1) % len(slots)])
        words[pos] = _fresh_word(g, words[pos])
        docs.append(_doc(first_id + step, list(words), lang))
    return docs


def near_dup_star(g: np.random.Generator, first_id: int, copies: int) -> list[dict]:
    """A root and ``copies`` one-word edits of it at distinct positions
    (a shallow cluster: every copy pairs with the root only)."""
    words = _words(g, int(g.integers(CHAIN_WORDS[0], CHAIN_WORDS[1] + 1)))
    lang = _lang(g)
    slots = g.permutation(np.arange(1, len(words) - 1, _EDIT_STRIDE))
    docs = [_doc(first_id, words, lang)]
    for c in range(copies):
        w = list(words)
        pos = int(slots[c % len(slots)])
        w[pos] = _fresh_word(g, w[pos])
        docs.append(_doc(first_id + 1 + c, w, lang))
    return docs


def _fresh_word(g: np.random.Generator, old: str) -> str:
    while True:
        w = VOCAB[int(g.integers(0, len(VOCAB)))]
        if w != old:
            return w


def corpus_batch(g: np.random.Generator, first_id: int, n: int) -> list[dict]:
    """``n`` documents: about half fresh, the rest near-duplicate chains
    (length 8) and stars (root plus 3 copies), ids contiguous from
    ``first_id``."""
    docs: list[dict] = []
    n_dup = min(max(n // 2, 8), n)
    while len(docs) + 8 <= n_dup:
        docs += near_dup_chain(g, first_id + len(docs), 8)
        if len(docs) + 4 <= n_dup:
            docs += near_dup_star(g, first_id + len(docs), 3)
    docs += documents(g, first_id + len(docs), n - len(docs))
    return docs


def docs_table(docs: list[dict]) -> pa.Table:
    return pa.table(
        {
            "doc_id": pa.array([d["doc_id"] for d in docs], pa.int64()),
            "text": [d["text"] for d in docs],
            "lang": [d["lang"] for d in docs],
            "source": [d["source"] for d in docs],
            "n_chars": pa.array([d["n_chars"] for d in docs], pa.int64()),
        }
    )


def search_terms(g: np.random.Generator) -> tuple[str, ...]:
    """Two or three distinct terms: one common fixture word plus one or
    two selective tail words."""
    common = FIXTURE_WORDS[int(g.integers(0, len(FIXTURE_WORDS)))]
    tail = g.choice(np.arange(len(FIXTURE_WORDS), 200), size=int(g.integers(1, 3)),
                    replace=False)
    return (common, *(VOCAB[int(i)] for i in tail))
