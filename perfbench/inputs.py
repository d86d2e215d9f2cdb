"""Seeded input generators for the benchmark workloads.

Every corpus, read stream and write stream is a pure function of the
workload seed (numpy PCG64), so two runs with one seed measure the
same inputs; ``digest`` fingerprints them so runs can show it. The
generator lives here, not in the library, so a change to the library
cannot change what the benchmark feeds it.

Corpus shape: source-code-like documents over three vocabulary bands,
the way real code mixes them:

* HOT: 32 keyword-like terms, each in about 90 % of documents;
* MID: 3000 identifiers (``parser17``) drawn Zipf-style, the band
  interactive queries use;
* DEEP: 40000 rare identifiers (``parser12345``).
"""

from __future__ import annotations

import hashlib
import json
from typing import Dict, List, Sequence, Tuple

import numpy as np

HOT = [
    "def", "import", "return", "if", "else", "for", "while", "class",
    "self", "int", "str", "none", "true", "false", "print", "len",
    "try", "except", "with", "as", "lambda", "yield", "pass", "break",
    "continue", "global", "assert", "raise", "from", "in", "is", "not",
]
_STEMS = [
    "parser", "buffer", "index", "shard", "merge", "token", "score",
    "query", "batch", "cache", "stream", "vector", "matrix", "handler",
    "worker", "config", "writer", "reader", "engine", "client",
]
MID = [f"{s}{k}" for k in range(150) for s in _STEMS]
DEEP = [f"{s}{1000 + k}" for k in range(2000) for s in _STEMS]

_P_HOT, _P_MID = 0.6, 0.3  # the rest is DEEP
_MID_W = 1.0 / (np.arange(len(MID)) + 10.0)  # Zipf-like over MID ranks
_MID_W /= _MID_W.sum()

# A token no generated document contains: planted spans and unique
# write-probe tokens are built from it, so they can never collide
# with corpus text.
_MARK = "zq"


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per named stream of one seed."""
    key = int.from_bytes(
        hashlib.sha256(f"{seed}:{stream}".encode()).digest()[:8], "big"
    )
    return np.random.Generator(np.random.PCG64(key))


def digest(*parts) -> str:
    """Short fingerprint of generated inputs (JSON-serialisable)."""
    h = hashlib.sha256()
    for p in parts:
        h.update(json.dumps(p, sort_keys=True).encode())
    return h.hexdigest()[:16]


_VOCAB = np.array(HOT + MID + DEEP, dtype=object)


def _token_ids(rng: np.random.Generator, n: int) -> np.ndarray:
    """n token ids into _VOCAB: a band per token, then a term within
    the band (uniform for HOT and DEEP, Zipf-like for MID)."""
    band = rng.random(n)
    hot = rng.integers(0, len(HOT), n)
    mid = len(HOT) + rng.choice(len(MID), n, p=_MID_W)
    deep = len(HOT) + len(MID) + rng.integers(0, len(DEEP), n)
    return np.where(band < _P_HOT, hot,
                    np.where(band < _P_HOT + _P_MID, mid, deep))


def _as_text(tokens: Sequence[str], line: int = 6) -> str:
    return "\n".join(
        "    " + " ".join(tokens[i:i + line])
        for i in range(0, len(tokens), line)
    )


def make_docs(rng: np.random.Generator, n_docs: int, min_tokens: int = 80,
              max_tokens: int = 180) -> List[str]:
    """n_docs source-like documents, 6 tokens to a line."""
    lengths = rng.integers(min_tokens, max_tokens, n_docs)
    toks = _VOCAB[_token_ids(rng, int(lengths.sum()))].tolist()
    ends = np.cumsum(lengths).tolist()
    return [_as_text(toks[e - n:e]) for e, n in zip(ends, lengths.tolist())]


def make_corpus(seed: int, n_docs: int) -> List[Tuple[str, str]]:
    """-> [(doc_uid, text)] of n_docs source-like documents."""
    texts = make_docs(rng_for(seed, "corpus"), n_docs)
    return [(f"d{seed}-{i:07d}", t) for i, t in enumerate(texts)]


def corpus_digest(rows: Sequence[Tuple]) -> str:
    h = hashlib.sha256()
    for r in rows:
        h.update("\x1f".join(map(str, r)).encode())
        h.update(b"\x1e")
    return h.hexdigest()[:16]


# ------------------------------------------------------------------ #
# interactive read stream                                            #
# ------------------------------------------------------------------ #

# Per block of 3 reads, in a seeded order: 1 repeat of an earlier
# fresh query (driver caches warm), 1 fresh query over MID terms never
# queried before in the run (one bucket-pruned postings fetch), 1 hot
# query whose postings sum past the facade's driver-cache cap
# (distributed path). Runs consume whole blocks, so every run reads
# the same mix. The equal split is an assumption, not taken from a
# measured query log.
READ_BLOCK = ("repeat", "fresh", "hot")
HOT_QUERY_TERMS = 30


class ReadStream:
    """Closed-loop read plan: ``blocks`` is a fixed, seeded list of
    blocks of (kind, text), long enough for any timed window; a run
    consumes a prefix. ``warmup`` is issued untimed first so repeats
    have a pool and first-call costs are paid before timing."""

    def __init__(self, seed: int, n_blocks: int = 50):
        rng = self._rng = rng_for(seed, "reads")
        self._unused = np.ones(len(MID), dtype=bool)
        self.warmup: List[Tuple[str, str]] = [
            ("fresh", self._fresh()) for _ in range(2)
        ] + [("hot", self._hot())]
        pool = [t for k, t in self.warmup if k == "fresh"]
        self.blocks: List[List[Tuple[str, str]]] = []
        for _ in range(n_blocks):
            kinds = list(READ_BLOCK)
            rng.shuffle(kinds)
            block = []
            for kind in kinds:
                if kind == "fresh":
                    text = self._fresh()
                    pool.append(text)
                elif kind == "hot":
                    text = self._hot()
                else:
                    text = pool[int(rng.integers(0, len(pool)))]
                block.append((kind, text))
            self.blocks.append(block)

    def _fresh(self) -> str:
        k = int(self._rng.integers(2, 4))
        w = np.where(self._unused, _MID_W, 0.0)
        picks = self._rng.choice(len(MID), k, replace=False, p=w / w.sum())
        self._unused[picks] = False
        return " ".join(MID[i] for i in picks)

    def _hot(self) -> str:
        terms = self._rng.choice(len(HOT), HOT_QUERY_TERMS, replace=False)
        return " ".join(
            [HOT[int(i)] for i in terms]
            + [MID[int(self._rng.choice(len(MID), p=_MID_W))]]
        )

    def digest(self) -> str:
        return digest(self.warmup, self.blocks)


def make_eval_queries(seed: int, n: int) -> List[str]:
    """Offline evaluation batch: four HOT terms and two MID terms per
    query, so the batch's postings exceed the facade's driver-cache
    cap and the distributed engines answer it."""
    rng = rng_for(seed, "eval")
    return [
        " ".join(
            [HOT[int(i)] for i in rng.choice(len(HOT), 4, replace=False)]
            + [MID[int(i)] for i in rng.choice(len(MID), 2, p=_MID_W)]
        )
        for _ in range(n)
    ]


# ------------------------------------------------------------------ #
# write stream                                                       #
# ------------------------------------------------------------------ #

WRITE_DOCS = 4


class WriteStream:
    """Seeded write plan over a base corpus: an ``upsert`` batch
    (WRITE_DOCS new uids plus WRITE_DOCS existing uids with new text,
    one DML generation), then a ``delete`` batch (WRITE_DOCS other
    existing uids). Every added or upserted document carries a token
    unique to it; no uid is written twice, so the expected state is
    simple to check."""

    def __init__(self, seed: int, base_uids: Sequence[str]):
        rng = rng_for(seed, "writes")
        victims = [base_uids[i] for i in
                   rng.permutation(len(base_uids))[:2 * WRITE_DOCS]]
        uids = [f"n{seed}-{j}" for j in range(WRITE_DOCS)] + victims[
            :WRITE_DOCS]
        tokens = [f"{_MARK}{seed}w{j}" for j in range(len(uids))]
        texts = [t + f"\n    {tok}" for t, tok in
                 zip(make_docs(rng, len(uids), 40, 80), tokens)]
        self.ops: List[Dict] = [
            {"kind": "upsert", "uids": uids, "texts": texts,
             "tokens": tokens},
            {"kind": "delete", "uids": victims[WRITE_DOCS:], "texts": [],
             "tokens": []},
        ]

    def digest(self) -> str:
        return digest(self.ops)


# ------------------------------------------------------------------ #
# prep corpus                                                        #
# ------------------------------------------------------------------ #

SPAN_TOKENS = 50  # remove_repeated_spans window the workload uses


def boilerplate(seed: int) -> str:
    """A 64-token line no generated document contains otherwise."""
    rng = rng_for(seed, "boilerplate")
    return " ".join(
        f"{_MARK}{_STEMS[int(i)]}{int(j)}"
        for i, j in zip(rng.integers(0, len(_STEMS), 64),
                        rng.integers(0, 100000, 64))
    )


def _near_dup(text: str, rng: np.random.Generator) -> str:
    """Same whitespace-token multiset, different text: lines reversed,
    a seeded subset upper-cased, indentation changed. SimHash over
    lower-cased whitespace tokens must give both the same signature."""
    lines = [ln.strip() for ln in text.split("\n")][::-1]
    out = []
    for ln in lines:
        if rng.random() < 0.3:
            ln = ln.upper()
        out.append("  " + ln.replace(" ", "  "))
    return "\n".join(out)


def make_prep_corpus(seed: int, n_docs: int):
    """-> (rows [(doc_id, text)], planted_span_ids, planted_pairs,
    boilerplate). A quarter of the documents carry the boilerplate
    line; the last n_docs // 20 documents are near-duplicates of
    earlier ones (pairs as (lower id, higher id)). A near-duplicate
    of a boilerplate document shares the fence tokens too, so span
    removal cuts the same tokens from both."""
    rng = rng_for(seed, "prep")
    boiler = boilerplate(seed)
    n_dups = n_docs // 20
    n_orig = n_docs - n_dups
    rows: List[Tuple[int, str]] = []
    span_ids: List[int] = []
    for i, text in enumerate(make_docs(rng, n_orig, 40, 100)):
        if rng.random() < 0.25:
            # fenced by tokens unique to the document, so the repeated
            # span ends exactly at the boilerplate in every copy
            lines = text.split("\n")
            at = int(rng.integers(0, len(lines) + 1))
            line = f"    {_MARK}{i}a {boiler} {_MARK}{i}b"
            text = "\n".join(lines[:at] + [line] + lines[at:])
            span_ids.append(i)
        rows.append((i, text))
    sources = rng.choice(n_orig, n_dups, replace=False)
    pairs: List[Tuple[int, int]] = []
    planted = set(span_ids)
    for j, src in enumerate(sorted(int(s) for s in sources)):
        i = n_orig + j
        rows.append((i, _near_dup(rows[src][1], rng)))
        if src in planted:
            span_ids.append(i)
        pairs.append((src, i))
    return rows, span_ids, pairs, boiler
