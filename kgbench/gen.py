"""Seeded corpus generator for the KG-build benchmark.

Writes ``documents.parquet`` with the engine's input schema
``(doc_id, text, lang, source, n_chars)``. The engine only ever sees
the written files; everything here is a function of ``(spec, seed)``
so the same seed gives byte-identical files.

Knobs (``CorpusSpec``):

- ``vocab_size`` / ``zipf_s``: word types and the Zipf exponent of
  their frequencies (types are compounds of ``_STEMS``). A vocabulary far above the kernel's 50k-entry
  token-pool cap makes many tokens first-sight; a few dozen types
  keep every token in cache.
- ``punct_rate``: chance that a token ends a sentence (``.``, ``!``,
  ``?``) — the kernel splits sentences there.
- ``len_median`` / ``len_sigma``: log-normal document length in
  tokens (long-tailed for ``len_sigma`` around 1). The lengths are the
  distribution's quantiles at (k + 0.5) / n_docs, in seeded order, so
  every table of one spec holds the same multiset of planned lengths
  and, without near-duplicates, the same number of tokens: two inputs
  of one workload are the same amount of work.
- ``dup_share``: share of documents that are near-duplicates of an
  earlier document (a copy with ``DUP_EDIT_RATE`` of its tokens
  redrawn). A near-duplicate has its source's length.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from statistics import NormalDist

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# word stems; a word type of rank r is the bijective base-len(_STEMS)
# numeral of r+1 spelled in stems, so the head of the Zipf ranking is
# single stems and the tail long compounds. The mapping is fixed: the
# seed only drives sampling, so runs of different seeds see the same
# language.
_STEMS = (
    "data table query spark stream window join scan sort hash group "
    "filter merge batch line order value key row column part vector fast "
    "slow big small agg customer graph node edge model layer index cache "
    "page crawl text token span entity relation event link cluster shard "
    "block file disk memory network server client request result score "
    "label train test build load store write read record field schema "
    "type user session worker task stage job plan cost time rate count "
    "size limit search rank match source web site host path query view "
    "form list map set tree heap queue lock log metric trace alert"
).split()
_LANGS = ["en", "de", "fr", "es", "zh"]
_LANG_P = [0.55, 0.15, 0.12, 0.1, 0.08]
_PUNCT = np.array([".", "!", "?"], dtype=object)
_PUNCT_P = [0.8, 0.1, 0.1]
LEN_MIN = 4
DUP_EDIT_RATE = 0.03
N_SOURCES = 8


@dataclass(frozen=True)
class CorpusSpec:
    n_docs: int
    vocab_size: int
    zipf_s: float
    punct_rate: float
    len_median: int
    len_sigma: float
    dup_share: float = 0.0


class Vocabulary:
    """Zipf-ranked word types (see ``_STEMS``)."""

    STEMS = sorted(set(_STEMS))

    def __init__(self, size: int, zipf_s: float):
        w = np.arange(1, size + 1, dtype=np.float64) ** -zipf_s
        self.cdf = np.cumsum(w / w.sum())
        self.cdf[-1] = 1.0

    def sample(self, rng: np.random.Generator, n: int) -> np.ndarray:
        return np.searchsorted(self.cdf, rng.random(n), side="right")

    def word(self, rank: int) -> str:
        k = len(self.STEMS)
        n = int(rank) + 1
        out = []
        while n > 0:
            n, d = divmod(n - 1, k)
            out.append(self.STEMS[d])
        return "".join(reversed(out))

    def words(self, ranks: np.ndarray) -> np.ndarray:
        uniq, inv = np.unique(ranks, return_inverse=True)
        table = np.array([self.word(r) for r in uniq], dtype=object)
        return table[inv]


def _doc_tokens(spec: CorpusSpec, vocab: Vocabulary,
                rng: np.random.Generator, n_tokens: int) -> list[str]:
    toks = vocab.words(vocab.sample(rng, n_tokens))
    ends = rng.random(n_tokens) < spec.punct_rate
    if ends.any():
        toks[ends] = toks[ends] + rng.choice(_PUNCT, int(ends.sum()),
                                             p=_PUNCT_P)
    return list(toks)


def planned_lengths(spec: CorpusSpec) -> np.ndarray:
    """The log-normal length quantiles every table of ``spec`` uses."""
    z = NormalDist()
    q = [z.inv_cdf((k + 0.5) / spec.n_docs) for k in range(spec.n_docs)]
    lens = np.rint(spec.len_median * np.exp(spec.len_sigma * np.array(q)))
    return np.maximum(lens, LEN_MIN).astype(int)


def generate(spec: CorpusSpec, seed: int, doc_id_start: int = 0,
             dup_sources: list[str] | None = None) -> pa.Table:
    """Build the documents table. Near-duplicates copy an earlier
    document of this table, or one of ``dup_sources`` when given
    (e.g. an earlier crawl batch), with ``DUP_EDIT_RATE`` of its
    tokens redrawn."""
    rng = np.random.default_rng([seed, doc_id_start, spec.n_docs])
    vocab = Vocabulary(spec.vocab_size, spec.zipf_s)
    lens = rng.permutation(planned_lengths(spec))
    # exactly round(dup_share * n_docs) near-duplicates; without
    # dup_sources the first document has nothing earlier to copy
    first = 0 if dup_sources is not None else 1
    n_dup = min(round(spec.dup_share * spec.n_docs), spec.n_docs - first)
    is_dup = np.zeros(spec.n_docs, dtype=bool)
    is_dup[rng.choice(np.arange(first, spec.n_docs), n_dup,
                      replace=False)] = True
    texts: list[str] = []
    for i in range(spec.n_docs):
        if is_dup[i]:
            src = (dup_sources[rng.integers(len(dup_sources))]
                   if dup_sources is not None
                   else texts[rng.integers(i)])
            toks = src.split(" ")
            edits = np.flatnonzero(rng.random(len(toks))
                                   < DUP_EDIT_RATE)
            fresh = _doc_tokens(spec, vocab, rng, len(edits))
            for j, t in zip(edits, fresh):
                toks[j] = t
        else:
            toks = _doc_tokens(spec, vocab, rng, int(lens[i]))
        texts.append(" ".join(toks))
    ids = np.arange(doc_id_start, doc_id_start + spec.n_docs,
                    dtype=np.int64)
    langs = rng.choice(len(_LANGS), spec.n_docs, p=_LANG_P)
    sources = rng.integers(N_SOURCES, size=spec.n_docs)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([_LANGS[i] for i in langs], pa.string()),
        "source": pa.array([f"src{s}" for s in sources], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }).replace_schema_metadata({"dup_count": str(int(is_dup.sum()))})


def write_documents(table: pa.Table, sf_dir: str) -> str:
    """Write ``<sf_dir>/documents.parquet`` (the layout
    ``sources.pages.synth_pages`` reads)."""
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "documents.parquet")
    pq.write_table(table, path, compression="snappy")
    return path


def describe(tables: list[pa.Table]) -> dict:
    """Input descriptors recorded with every run."""
    n_docs = n_tok = max_tok = n_dup = 0
    distinct: set[str] = set()
    for t in tables:
        for text in t.column("text").to_pylist():
            toks = text.split()
            n_tok += len(toks)
            max_tok = max(max_tok, len(toks))
            distinct.update(toks)
        n_docs += t.num_rows
        n_dup += int((t.schema.metadata or {}).get(b"dup_count", 0))
    return {"docs": n_docs, "tokens": n_tok,
            "distinct_tokens": len(distinct),
            "mean_tokens_per_doc": round(n_tok / n_docs, 2) if n_docs else 0,
            "max_tokens_per_doc": max_tok,
            "dup_share": round(n_dup / n_docs, 4) if n_docs else 0}
