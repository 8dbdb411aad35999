"""Seeded inputs owned by the benchmark: the page corpus and the query streams.

The engine ships its own fixture generator (``sources.webtext``); the
benchmark does not call it, so a change to the program cannot change the
workload. The corpus keeps the input schema ``(url, warc_ts, html, text,
lang)`` and the fixture shape: Zipf(s=1.07) term draws over a 50k-term
vocabulary, lognormal document lengths (median 200 tokens, sigma 0.6,
clamped to [5, 2000]) and one of the 33 Lucene English stopwords at every
12th position.

Every draw comes from ``numpy.random.default_rng([seed, stream, i])``, so the
same seed gives the same bytes on any machine.
"""

from __future__ import annotations

import functools
import os
from dataclasses import dataclass

import numpy as np

VOCAB_SIZE = 50_000
ZIPF_S = 1.07
STOPWORD_EVERY = 12
STOPWORDS = (
    "a an and are as at be but by for if in into is it no not of on or such "
    "that the their then there these they this to was will with"
).split()

_WARC_EPOCH_US = 1_704_067_200_000_000   # 2024-01-01T00:00:00Z

# stream ids keep the document and query generators independent
_DOCS, _BATCH, _NRT_QUERIES, _WARM_BATCH = 1, 3, 4, 5

@functools.cache
def _zipf_cdf() -> np.ndarray:
    w = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64) ** (-ZIPF_S)
    return np.cumsum(w) / w.sum()


def term(rank: int) -> str:
    return f"t{int(rank):06d}"


def zipf_ranks(rng: np.random.Generator, n: int) -> np.ndarray:
    return np.minimum(np.searchsorted(_zipf_cdf(), rng.random(n)),
                      VOCAB_SIZE - 1)


def page_text(seed: int, i: int) -> str:
    rng = np.random.default_rng([seed, _DOCS, i])
    n = int(np.clip(rng.lognormal(np.log(200.0), 0.6), 5, 2000))
    words = [term(r) for r in zipf_ranks(rng, n)]
    for j in range(0, n, STOPWORD_EVERY):
        words[j] = STOPWORDS[(i + j) % len(STOPWORDS)]
    return " ".join(words)


def page_url(i: int) -> str:
    return f"https://site{i % 1000:04d}.example/p/{i:08d}"


def write_pages(path: str, seed: int, start: int, count: int) -> None:
    """Materialise pages ``start .. start+count-1`` as one parquet file.

    Written to a temporary name and renamed, so a reader never sees a
    partial file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids = range(start, start + count)
    texts = [page_text(seed, i) for i in ids]
    table = pa.table({
        "url": pa.array([page_url(i) for i in ids], pa.string()),
        "warc_ts": pa.array([_WARC_EPOCH_US + i * 1_000_000 for i in ids],
                            pa.int64()).cast(pa.timestamp("us", tz="UTC")),
        "html": pa.array([b"<html><body>" + t.encode("utf-8") + b"</body></html>"
                          for t in texts], pa.binary()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en" if i % 20 != 19 else ("de", "fr", "es", "zh")[(i // 20) % 4]
                          for i in ids], pa.string()),
    })
    tmp = f"{path}.tmp{os.getpid()}"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def pages_file(cache_dir: str, seed: int, start: int, count: int) -> str:
    """Path of the parquet file holding the given page range, written
    once per (seed, range) and reused by later runs."""
    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(cache_dir, f"pages-s{seed}-{start}-{count}.parquet")
    if not os.path.exists(path):
        write_pages(path, seed, start, count)
    return path


def read_docs(path: str, docid_base: int) -> list[tuple[int, str]]:
    """(docid, text) pairs with the index's docid contract: within one
    build, docids follow url order, starting at ``docid_base``."""
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["url", "text"]).to_pydict()
    order = sorted(range(len(t["url"])), key=t["url"].__getitem__)
    return [(docid_base + k, t["text"][j]) for k, j in enumerate(order)]


def text_bytes(docs: list[tuple[int, str]]) -> int:
    return sum(len(t.encode("utf-8")) for _, t in docs)


# --- query streams -----------------------------------------------------------

@dataclass(frozen=True)
class Q:
    shape: str
    text: str


def _pick(rng, lo: int, hi: int) -> str:
    return term(int(rng.integers(lo, hi)))


def _phrase(rng, docs: list[tuple[int, str]]) -> str:
    """An exact two-word phrase that occurs in some document (the pair
    of adjacent non-stopword tokens at a random position)."""
    while True:
        words = docs[int(rng.integers(len(docs)))][1].split()
        j = int(rng.integers(len(words) - 1))
        a, b = words[j], words[j + 1]
        if a not in STOPWORDS and b not in STOPWORDS and a != b:
            return f'"{a} {b}"'


_BATCH_SHAPES = ("term", "term", "and2", "and3", "or2", "or3", "not", "phrase")


def zipf_batch(seed: int, batch_no: int, size: int,
               docs: list[tuple[int, str]], warm: bool = False) -> dict[str, Q]:
    """One serve_batch batch: every query's terms are fresh Zipf draws
    over the whole vocabulary; phrases are adjacent pairs of the corpus,
    so their terms follow the corpus' Zipf law too. Warm-up batches come
    from a stream of their own."""
    rng = np.random.default_rng([seed, _WARM_BATCH if warm else _BATCH, batch_no])
    out = {}
    for n in range(size):
        # every batch has the same mix of shapes, so seeds differ only in
        # their terms
        shape = _BATCH_SHAPES[n % len(_BATCH_SHAPES)]
        t = [term(r) for r in zipf_ranks(rng, 3)]
        if len(set(t)) < 3:
            t = [term(r) for r in rng.choice(VOCAB_SIZE, 3, replace=False)]
        text = {
            "term": t[0],
            "and2": f"{t[0]} AND {t[1]}",
            "and3": f"{t[0]} AND {t[1]} AND {t[2]}",
            "or2": f"{t[0]} OR {t[1]}",
            "or3": f"{t[0]} OR {t[1]} OR {t[2]}",
            "not": f"{t[0]} NOT {t[1]}",
        }.get(shape) or _phrase(rng, docs)
        out[f"b{batch_no}q{n:03d}"] = Q(shape, text)
    return out


def nrt_queries(seed: int, new_docs: list[tuple[int, str]], n: int) -> list[Q]:
    """ingest_nrt's handful per cycle: a phrase taken from the batch just
    appended, whose answer proves the batch is visible, then the shapes
    OR2, AND2 and NOT in turn."""
    rng = np.random.default_rng([seed, _NRT_QUERIES, new_docs[0][0]])
    out = [Q("phrase_new", _phrase(rng, new_docs))]
    for i in range(n - 1):
        shape = ("or2", "and2", "not")[i % 3]
        if shape == "or2":
            text = f"{_pick(rng, 0, 20)} OR {_pick(rng, 200, 1000)}"
        elif shape == "and2":
            text = f"{_pick(rng, 0, 20)} AND {_pick(rng, 20, 200)}"
        else:
            text = f"{_pick(rng, 0, 20)} NOT {_pick(rng, 20, 200)}"
        out.append(Q(shape, text))
    return out
