"""Seeded input generators, written with pyarrow (never Spark), so the
program under test only ever sees finished files.

Two generators:

- ``CdcGenerator``: CDC change events shaped like the ``events``
  fixture table that ``streaming.sources.stream_events`` replays
  (``event_id`` is the envelope's ``event_seq``, ``user_id`` its key,
  ``event_type`` its action: ``signup`` insert, ``error`` delete,
  anything else update). Every event carries a unique, monotone
  ``event_id``, as a WAL LSN or binlog position would, so two events
  of one key never tie on ``(ts, event_seq)``: tied-stamp LWW
  nondeterminism is not exercised by this benchmark.
- ``write_corpus``: a documents + embeddings corpus (``vec_id`` ≡
  ``doc_id``) with planted exact, near and semantic duplicates,
  boilerplate spans and benchmark-contaminated documents, in the
  layout the ``functions.*`` operators load (``<dir>/documents.parquet``
  and ``<dir>/embeddings.parquet``).

Files are written under a dot-prefixed temporary name and renamed, so
a streaming file source never lists a half-written file. The same seed
gives byte-identical files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)

#: logical clock origin of every generated stream (2024-01-01 UTC, µs)
_EPOCH_US = 1_704_067_200_000_000
_UPDATE_TYPES = np.array(["click", "view", "purchase"])


def write_atomic(table: pa.Table, directory: str, name: str) -> str:
    """Write ``table`` to ``directory/name`` via a dot-prefixed temp
    file and a rename; returns the final path."""
    tmp = os.path.join(directory, f".{name}.tmp")
    final = os.path.join(directory, name)
    pq.write_table(table, tmp, compression="snappy")
    os.rename(tmp, final)
    return final


def _sample_keys(rng: np.random.Generator, cdf: np.ndarray, n: int) -> np.ndarray:
    """``n`` keys drawn by inverse CDF."""
    return np.minimum(np.searchsorted(cdf, rng.random(n), side="right"), len(cdf) - 1)


@dataclass(frozen=True)
class CdcShape:
    """Traffic dimensions of one CDC workload."""

    n_keys: int  # table size (distinct keys bootstrapped)
    events_per_file: int  # micro-batch size under maxFilesPerTrigger=1
    zipf_s: float  # key skew exponent
    delete_share: float
    insert_share: float  # re-inserts (signup) of existing or deleted keys
    redelivery_share: float  # events re-sent verbatim from the previous file
    out_of_order_share: float  # events stamped up to ``max_lag_s`` in the past
    max_lag_s: float = 120.0
    file_interval_s: float = 3.0  # logical-clock span of one file


class CdcGenerator:
    """Deterministic CDC event stream: ``bootstrap()`` then any number
    of ``next_file()`` calls. Keeps the previous file for redelivery."""

    def __init__(self, seed: int, shape: CdcShape):
        self.shape = shape
        self.rng = np.random.default_rng(seed)
        self.next_seq = 0
        self.clock_us = _EPOCH_US
        self._prev: pa.Table | None = None
        # hot keys scattered over the key space (hence over buckets)
        ranks = self.rng.permutation(shape.n_keys)
        weights = 1.0 / np.power(np.arange(1, shape.n_keys + 1), shape.zipf_s)
        self._cdf = np.cumsum(weights[np.argsort(ranks)])
        self._cdf /= self._cdf[-1]

    def _keys(self, n: int) -> np.ndarray:
        return _sample_keys(self.rng, self._cdf, n)

    def key_sampler(self, seed: int, n: int):
        """A callable giving ``n`` keys per call from the stream's own
        skew, on a separate seeded stream (reader traffic)."""
        rng = np.random.default_rng(seed)
        return lambda: _sample_keys(rng, self._cdf, n).tolist()

    def _table(self, keys, ts_us, types, values) -> pa.Table:
        n = len(keys)
        seq = np.arange(self.next_seq, self.next_seq + n, dtype=np.int64)
        self.next_seq += n
        props = [f'{{"k": {int(k)}, "v": {int(s)}}}' for k, s in zip(keys, seq)]
        return pa.table(
            {
                "event_id": seq,
                "ts": pa.array(ts_us, pa.int64()).cast(pa.timestamp("us")),
                "user_id": np.asarray(keys, dtype=np.int64),
                "event_type": pa.array(types, pa.string()),
                "value": np.round(values, 2),
                "props": pa.array(props, pa.string()),
            },
            schema=EVENTS_SCHEMA,
        )

    def bootstrap(self) -> pa.Table:
        """One insert per key: the table's initial image."""
        n = self.shape.n_keys
        ts = self.clock_us + np.arange(n, dtype=np.int64)
        self.clock_us += n
        return self._table(np.arange(n), ts, np.full(n, "signup"), self.rng.random(n) * 100)

    def next_file(self) -> pa.Table:
        """One micro-batch file's events, stamped on the logical clock
        one ``file_interval_s`` after the previous file."""
        s = self.shape
        n_redeliver = int(round(s.events_per_file * s.redelivery_share)) if self._prev else 0
        n = s.events_per_file - n_redeliver
        keys = self._keys(n)
        span_us = int(s.file_interval_s * 1e6)
        ts = self.clock_us + np.sort(self.rng.integers(0, span_us, n))
        self.clock_us += span_us
        late = self.rng.random(n) < s.out_of_order_share
        ts = np.where(late, ts - self.rng.integers(1, int(s.max_lag_s * 1e6), n), ts)
        u = self.rng.random(n)
        types = np.where(
            u < s.delete_share,
            "error",
            np.where(
                u < s.delete_share + s.insert_share,
                "signup",
                _UPDATE_TYPES[self.rng.integers(0, 3, n)],
            ),
        )
        fresh = self._table(keys, ts, types, self.rng.random(n) * 100)
        if n_redeliver:
            pick = np.sort(self.rng.choice(self._prev.num_rows, n_redeliver, replace=False))
            fresh = pa.concat_tables([fresh, self._prev.take(pick)])
        self._prev = fresh
        return fresh


# ------------------------------------------------------------- corpus


@dataclass(frozen=True)
class CorpusShape:
    n_docs: int
    vocab: int = 3000
    n_sources: int = 0  # 0 → n_docs // 12
    exact_dup_share: float = 0.04
    near_dup_share: float = 0.05
    semantic_dup_share: float = 0.04
    boilerplate_share: float = 0.10
    contaminated_share: float = 0.02


_LANGS = np.array(["en", "de", "fr", "es", "zh"])
_SYLLABLES = [a + b for a in "bcdfghklmnprstvz" for b in "aeiou"]


def _vocabulary(rng: np.random.Generator, n: int) -> np.ndarray:
    words: set[str] = set()
    while len(words) < n:
        k = int(rng.integers(1, 4))
        words.add("".join(_SYLLABLES[i] for i in rng.integers(0, len(_SYLLABLES), k)))
    return np.array(sorted(words))


def corpus_tables(seed: int, shape: CorpusShape) -> tuple[pa.Table, pa.Table]:
    """(documents, embeddings) for one seed. Planted structure:

    - boilerplate: shared 12-token spans inserted into
      ``boilerplate_share`` of the docs, a third of them mostly
      boilerplate (the span-trim stage drops those);
    - exact duplicates: verbatim copies, half of them re-cased or
      padded with whitespace (the exact-dedup key is lower(trim(text)));
    - near duplicates: copies with two tokens replaced (minhash pairs);
    - semantic duplicates: embeddings copied with small noise
      (cosine far above the SemDeDup threshold);
    - contamination: docs sharing a 6-token run with a benchmark doc
      (``doc_id % 25 == 0``);
    - sources: Zipf-sized domains, so the domain cap binds on the
      large ones only.
    """
    rng = np.random.default_rng(seed)
    n = shape.n_docs
    vocab = _vocabulary(rng, shape.vocab)
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 0.9
    zipf /= zipf.sum()
    boiler = [list(rng.choice(vocab, 12)) for _ in range(8)]

    docs: list[list[str]] = []
    for i in range(n):
        n_tok = int(rng.integers(20, 90))
        toks = list(rng.choice(vocab, n_tok, p=zipf))
        # 'the' density drives the quality classifier's stopword term
        n_the = int(rng.integers(0, max(2, n_tok // 8)))
        for pos in rng.integers(0, n_tok, n_the):
            toks[pos] = "the"
        docs.append(toks)

    def pick(share: float) -> np.ndarray:
        return rng.choice(n, int(n * share), replace=False)

    for j, i in enumerate(pick(shape.boilerplate_share)):
        span = boiler[j % len(boiler)]
        if j % 3 == 0:
            docs[i] = span + docs[i][:4] + span
        else:
            pos = int(rng.integers(0, len(docs[i])))
            docs[i] = docs[i][:pos] + span + docs[i][pos:]
    texts = [" ".join(t) for t in docs]

    pairs = rng.choice(n, (int(n * shape.exact_dup_share), 2), replace=True)
    for j, (src, dst) in enumerate(pairs):
        if src != dst:
            texts[dst] = texts[src] if j % 2 else "  " + texts[src].upper() + " "
            docs[dst] = texts[dst].split(" ")
    for src, dst in rng.choice(n, (int(n * shape.near_dup_share), 2), replace=True):
        if src != dst:
            toks = list(docs[src])
            for pos in rng.integers(0, len(toks), 2):
                toks[pos] = str(rng.choice(vocab))
            docs[dst] = toks
            texts[dst] = " ".join(toks)
    bench_ids = np.arange(0, n, 25)
    for dst in pick(shape.contaminated_share):
        src = int(rng.choice(bench_ids))
        if dst % 25 and len(docs[src]) >= 6:
            pos = int(rng.integers(0, len(docs[src]) - 5))
            toks = docs[dst][:10] + docs[src][pos : pos + 6] + docs[dst][10:]
            docs[dst] = toks
            texts[dst] = " ".join(toks)

    n_sources = shape.n_sources or max(1, n // 12)
    sw = 1.0 / np.arange(1, n_sources + 1) ** 1.1
    sources = rng.choice(n_sources, n, p=sw / sw.sum())
    documents = pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(_LANGS[rng.integers(0, len(_LANGS), n)], pa.string()),
            "source": pa.array([f"src{s}" for s in sources], pa.string()),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )

    emb = (rng.standard_normal((n, 64)) * 0.125).astype(np.float32)
    for src, dst in rng.choice(n, (int(n * shape.semantic_dup_share), 2), replace=True):
        if src != dst:
            emb[dst] = emb[src] + (rng.standard_normal(64) * 0.02).astype(np.float32)
    embeddings = pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(emb.ravel()), 64).cast(
                pa.list_(pa.float32())
            ),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )
    return documents, embeddings


def write_corpus(directory: str, documents: pa.Table, embeddings: pa.Table) -> None:
    os.makedirs(directory, exist_ok=True)
    write_atomic(documents, directory, "documents.parquet")
    write_atomic(embeddings, directory, "embeddings.parquet")
