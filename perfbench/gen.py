"""Seeded input generators.

Vectors, attributes and query filters are pure functions of (seed, row
id, column), computed with a splitmix64 hash, so a row is the same however
the ids are split into batches or partitions. A document may copy an
earlier one, so the documents table is prefix-stable instead: its first m
rows do not depend on its size. A different seed gives different inputs of
the same size and shape, so the cost of a run does not depend on the seed.
"""

from __future__ import annotations

import os

import numpy as np

DIM = 64

_GOLD = np.uint64(0x9E3779B97F4A7C15)


def splitmix64(z: np.ndarray) -> np.ndarray:
    z = np.asarray(z, dtype=np.uint64) + _GOLD
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def hashes(seed: int, stream: int, ids, width: int = 1) -> np.ndarray:
    """uint64 hash per (id, column) cell; ``stream`` separates uses."""
    key = splitmix64(np.array([seed * 1_000_003 + stream], dtype=np.uint64))[0]
    ids = np.asarray(ids, dtype=np.uint64)
    cells = ids[:, None] * np.uint64(width) + np.arange(width, dtype=np.uint64)
    return splitmix64(cells ^ key)


def unit(seed: int, stream: int, ids, width: int = 1) -> np.ndarray:
    """Floats in [0, 1), shape (len(ids), width)."""
    return (hashes(seed, stream, ids, width) >> np.uint64(11)).astype(np.float64) / 2.0**53


# ---------------------------------------------------------------- vectors


class VectorSet:
    """A clustered corpus: vec(id) = center(id mod n_clusters) + a uniform
    offset in [-0.5, 0.5)^DIM, with two attribute columns: ``a_corr`` (a
    function of the cluster, so correlated with the vectors) and
    ``a_disp`` (a hash of the id, so dispersed over every cluster)."""

    def __init__(self, seed: int, n_clusters: int):
        self.seed = seed
        self.n_clusters = n_clusters
        self.centers = (unit(seed, 1, np.arange(n_clusters), DIM) * 4.0 - 2.0).astype(np.float32)

    def vectors(self, ids) -> np.ndarray:
        ids = np.asarray(ids, dtype=np.int64)
        off = (unit(self.seed, 2, ids, DIM) - 0.5).astype(np.float32)
        return self.centers[ids % self.n_clusters] + off

    def a_corr(self, ids) -> np.ndarray:
        return (np.asarray(ids, dtype=np.int64) % self.n_clusters % 10).astype(np.int32)

    def a_disp(self, ids) -> np.ndarray:
        return (hashes(self.seed, 3, ids)[:, 0] % np.uint64(100)).astype(np.int32)

    def table(self, ids):
        import pyarrow as pa

        ids = np.asarray(ids, dtype=np.int64)
        vecs = self.vectors(ids)
        return pa.table({
            "vec_id": ids,
            "embedding": pa.FixedSizeListArray.from_arrays(vecs.ravel(), DIM).cast(pa.list_(pa.float32())),
            "a_corr": self.a_corr(ids),
            "a_disp": self.a_disp(ids),
        })


def pick(seed: int, stream: int, population, n: int) -> np.ndarray:
    """A seeded sample of n distinct members of ``population``."""
    population = np.asarray(population)
    order = np.argsort(hashes(seed, stream, np.arange(len(population)))[:, 0], kind="stable")
    return population[np.sort(order[:n])]


# ---------------------------------------------------------------- fixtures

# Word list of the declared text queries: the BM25 keyword set, the
# filler vocabulary of the reference fixtures, and the stopwords the
# language-ID operator votes with.
_TECH = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data vector "
    "customer join"
).split()
_STOP = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "von"),
    "en": ("the", "a", "of", "and", "is", "not", "with", "to", "in", "for"),
    "es": ("el", "la", "de", "y", "es", "no", "con", "un", "una", "en"),
    "fr": ("le", "la", "de", "et", "est", "pas", "avec", "un", "une", "dans"),
    "zh": ("的", "是", "不", "和", "在", "了", "有", "我", "他", "这"),
}
_LANGS = ("en",) * 8 + ("de", "es", "fr", "zh") * 3  # 40% en, 15% each other
_PUNCT = ("", "", "", "", ",", ".", "!", "-")


def documents(seed: int, n: int) -> dict:
    """The ``documents`` fixture: doc_id, text, lang, source, n_chars.

    About 2% of documents repeat an earlier text exactly, and among the
    first 200 a share repeat an earlier one with a single word changed,
    so the dedup and near-dup queries find real work."""
    ids = np.arange(n)
    h = hashes(seed, 10, ids, 4)
    texts: list[str] = []
    langs = [_LANGS[int(x) % len(_LANGS)] for x in h[:, 0]]
    for i in range(n):
        kind = int(h[i, 1] % np.uint64(100))
        if i >= 10 and kind < 2:
            texts.append(texts[i - 1 - int(h[i, 2] % np.uint64(min(i, 50)))])
            continue
        if 0 < i < 200 and kind < 30:
            words = texts[i - 1 - int(h[i, 2] % np.uint64(min(i, 20)))].split(" ")
            j = int(h[i, 3] % np.uint64(len(words)))
            words[j] = _TECH[int(h[i, 3] >> np.uint64(32)) % len(_TECH)]
            texts.append(" ".join(words))
            continue
        n_words = 8 + int(h[i, 2] % np.uint64(90))
        w = hashes(seed, 11 + i % 7, [i], n_words)[0]
        stop = _STOP[langs[i]]
        toks = []
        for x in w:
            x = int(x)
            word = stop[(x >> 8) % len(stop)] if x % 100 < 18 else _TECH[(x >> 8) % len(_TECH)]
            toks.append(word + _PUNCT[(x >> 40) % len(_PUNCT)] if x % 100 < 6 else word)
        texts.append(" ".join(toks))
    return {
        "doc_id": ids.astype(np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def embeddings(seed: int, n: int) -> dict:
    """The ``embeddings`` fixture: vec_id, embedding (DIM floats), label."""
    ids = np.arange(n, dtype=np.int64)
    vecs = (unit(seed, 20, ids, DIM) * 2.0 - 1.0).astype(np.float32)
    return {"vec_id": ids, "embedding": vecs, "label": (ids % 10).astype(np.int32)}


def write_fixtures(seed: int, out_dir: str, n_docs: int, n_emb: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    d = documents(seed, n_docs)
    pq.write_table(pa.table({
        "doc_id": d["doc_id"], "text": d["text"], "lang": d["lang"],
        "source": d["source"], "n_chars": d["n_chars"],
    }), os.path.join(out_dir, "documents.parquet"))
    e = embeddings(seed, n_emb)
    pq.write_table(pa.table({
        "vec_id": e["vec_id"],
        "embedding": pa.FixedSizeListArray.from_arrays(e["embedding"].ravel(), DIM).cast(pa.list_(pa.float32())),
        "label": e["label"],
    }), os.path.join(out_dir, "embeddings.parquet"))
