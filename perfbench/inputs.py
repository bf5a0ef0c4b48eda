"""Seeded input generation for the three workloads.

Everything a run feeds the program is built here from ``--seed``: the
agent store's sources, notes and query stream, the ingest batches, and
the curation ``documents``/``embeddings`` tables. Each generator records a
sha256 of its canonical JSON form, so two runs with one seed can be shown
to have received byte-identical inputs.

Text is ASCII pseudo-words drawn uniformly from a seeded vocabulary, so
that unrelated documents have independent SimHash signatures; the few
planted words (``table``, ``join``, ``merge``) keep the registry's BM25
compositions non-empty.
"""

from __future__ import annotations

import hashlib
import json
import random

import numpy as np

from oracle import hamming_within, simhash32

SOURCE_TYPES = ["gist", "github", "file", "text"]
LANGS = ["en", "de", "fr", "es", "zh"]
PLANTED = ["table", "join", "merge", "stream", "window", "vector"]
DIM = 64

# Workload shares; README.md and BENCHMARK.json state the same numbers.
AGENT_SOURCES = 8000
INGEST_BASE = 1000
INGEST_BATCH = 1000
INGEST_RESENT_SHARE = 0.15
INGEST_QUERIES = 16
CURATION_DOCS = 1200
CURATION_EXACT_SHARE = 0.10
CURATION_NEAR_SHARE = 0.15
CURATION_LOWQ_SHARE = 0.05


def digest(obj) -> str:
    """sha256 of the canonical JSON form of a generated input."""
    blob = json.dumps(obj, sort_keys=True, separators=(",", ":"), default=_jsonable)
    return hashlib.sha256(blob.encode()).hexdigest()


def _jsonable(x):
    if isinstance(x, np.ndarray):
        return x.tolist()
    raise TypeError(type(x))


class Words:
    """A seeded vocabulary of pronounceable ASCII pseudo-words."""

    def __init__(self, rng: random.Random, size: int = 5000):
        cons, vows = "bcdfghjklmnprstvwz", "aeiou"
        seen: set[str] = set(PLANTED)
        words = list(PLANTED)
        while len(words) < size:
            w = "".join(
                rng.choice(cons) + rng.choice(vows) for _ in range(rng.randint(2, 4))
            )
            if w not in seen:
                seen.add(w)
                words.append(w)
        self.rng = rng
        self.words = words

    def text(self, lo: int, hi: int) -> str:
        n = self.rng.randint(lo, hi)
        return " ".join(self.rng.choice(self.words) for _ in range(n))

    def query(self) -> str:
        return " ".join(self.rng.sample(self.words[:400], self.rng.randint(2, 4)))


# -- agent_session -----------------------------------------------------------

# One block of the closed-loop request schedule. Every block has the same
# mix, so any prefix of the run is close to it: 4 gistdex_search (one a
# cursor page-2 follow-up), 3 gistdex_query_simple, 1 gistdex_list,
# 1 gistdex_read_cached, 1 gistdex_index.
AGENT_BLOCK = ["search", "simple", "index", "page2", "simple",
               "list", "search", "simple", "read_cached", "search"]
# query_simple variants over four blocks (12 requests): half hybrid, a
# quarter filtered by source type.
SIMPLE_VARIANTS = [(True, False), (False, True), (False, False),
                   (True, False), (False, False), (True, True),
                   (False, False), (True, False), (False, True),
                   (True, False), (False, False), (False, False)]


def agent_inputs(seed: int, n_requests: int = 400) -> dict:
    rng = random.Random(f"agent-{seed}")
    words = Words(rng)
    sources = [
        (f"s{i:05d}", words.text(30, 220), SOURCE_TYPES[rng.randrange(4)], f"source {i}")
        for i in range(AGENT_SOURCES)
    ]
    pool = list(dict.fromkeys(words.query() for _ in range(4 * n_requests)))
    issued: list[str] = []
    requests = []
    n_simple = 0
    for i in range(n_requests):
        kind = AGENT_BLOCK[i % len(AGENT_BLOCK)]
        req: dict = {"kind": kind}
        if kind in ("search", "simple"):
            # Alternate fresh and repeated queries; a repeat picks an
            # earlier query Zipf-skewed towards the first ones issued.
            if issued and len(issued) % 2 == 1:
                w = [1.0 / (r + 1) ** 1.1 for r in range(len(issued))]
                q = rng.choices(issued, weights=w)[0]
                req["repeat"] = True
            else:
                q = pool.pop(0)
                req["repeat"] = q in issued
            issued.append(q)
            req["query"] = q
            if kind == "simple":
                hybrid, filtered = SIMPLE_VARIANTS[n_simple % len(SIMPLE_VARIANTS)]
                n_simple += 1
                req["hybrid"] = hybrid
                req["type"] = SOURCE_TYPES[rng.randrange(4)] if filtered else None
        elif kind == "index":
            # At most 16 words of at most 8 letters, so under the 200
            # characters a result card shows untruncated.
            req["title"] = f"note-{seed}-{i}"
            req["content"] = f"note {i} " + words.text(6, 16)
        requests.append(req)
    return {"sources": sources, "requests": requests}


# -- ingest_batch_search -----------------------------------------------------


class IngestInputs:
    """A 1,000-document base, 16 queries, and batches made on demand: each
    re-sends 15% already-sent sources and adds new ones. ``digest`` covers
    everything generated so far."""

    def __init__(self, seed: int):
        self.rng = random.Random(f"ingest-{seed}")
        self.words = Words(self.rng)
        self.n = 0
        self.base = self._fresh(INGEST_BASE)
        self.queries = [self.words.query() for _ in range(INGEST_QUERIES)]
        self.sent = list(self.base)  # every distinct source sent so far
        self.batch_docs = 0  # documents in batches, re-sent ones included
        self.resent = 0
        self._hash = hashlib.sha256(digest([self.base, self.queries]).encode())

    def _fresh(self, k: int) -> list[tuple]:
        out = []
        for _ in range(k):
            out.append((f"d{self.n:06d}", self.words.text(30, 220),
                        SOURCE_TYPES[self.rng.randrange(4)], f"doc {self.n}"))
            self.n += 1
        return out

    def next_batch(self, size: int = INGEST_BATCH) -> list[tuple]:
        n_resent = int(round(size * INGEST_RESENT_SHARE))
        new = self._fresh(size - n_resent)
        batch = self.rng.sample(self.sent, n_resent) + new
        self.rng.shuffle(batch)
        self.sent.extend(new)
        self.batch_docs += size
        self.resent += n_resent
        self._hash.update(digest(batch).encode())
        return batch

    def digest(self) -> str:
        return self._hash.hexdigest()


# -- curation_registry -------------------------------------------------------


def curation_inputs(seed: int) -> dict:
    """documents + embeddings in the testdata schema, with planted exact
    duplicates, near duplicates and low-quality repetitive documents.

    Families (a base and its copies) never link to one another under the
    program's SimHash near-dup rule: a base or near-dup that would is
    redrawn, so every planted exact group has exactly one survivor."""
    rng = random.Random(f"curation-{seed}")
    nrng = np.random.default_rng(rng.getrandbits(32))
    words = Words(rng)
    n = CURATION_DOCS
    n_exact = int(n * CURATION_EXACT_SHARE)  # extra copies, 2 per group
    n_near = int(n * CURATION_NEAR_SHARE)  # one near-dup per base
    n_lowq = int(n * CURATION_LOWQ_SHARE)
    n_base = n - n_exact - n_near - n_lowq
    groups = n_exact // 2

    def unit(v):
        return (v / np.linalg.norm(v)).astype(np.float32)

    def near(text: str) -> str:
        toks = text.split()
        for j in rng.sample(range(len(toks)), max(1, len(toks) // 25)):
            toks[j] = rng.choice(words.words)
        return " ".join(toks)

    def lowq() -> str:
        few = rng.sample(words.words[len(PLANTED):], 3)
        return " ".join(rng.choice(few) for _ in range(rng.randint(40, 90)))

    # family id per doc: base/near/exact copies share their base's family
    docs = []  # (text, family, kind, embedding)
    for f in range(n_base):
        docs.append([words.text(40, 90), f, "base", unit(nrng.standard_normal(DIM))])
    for g in range(groups):
        for _ in range(2):
            docs.append([docs[g][0], g, "exact", docs[g][3]])
    for j in range(n_near):
        b = groups + j
        emb = unit(docs[b][3] + 0.15 * nrng.standard_normal(DIM).astype(np.float32))
        docs.append([near(docs[b][0]), b, "near", emb])
    for j in range(n_lowq):
        docs.append([lowq(), n_base + j, "lowq", unit(nrng.standard_normal(DIM))])

    # Redraw any base or near-dup that links across families. Exact copies
    # keep their base's text, so a redrawn base takes its copies along.
    for _ in range(50):
        sig = np.array([simhash32(d[0]) for d in docs], dtype=np.uint64)
        fam = np.array([d[1] for d in docs])
        bad = set()
        for a, b in hamming_within(sig, 3):
            if fam[a] != fam[b]:
                bad.add(int(b) if docs[b][2] in ("base", "near", "lowq") else int(a))
        if not bad:
            break
        for i in bad:
            text, f, kind, _ = docs[i]
            if kind == "base":
                docs[i][0] = words.text(40, 90)
                for d in docs:
                    if d[1] == f and d[2] == "exact":
                        d[0] = docs[i][0]
            elif kind == "near":
                docs[i][0] = near(docs[f][0])
            elif kind == "lowq":
                docs[i][0] = lowq()
            else:  # an exact copy: redraw its whole family
                base = next(j for j, d in enumerate(docs) if d[1] == f and d[2] == "base")
                docs[base][0] = words.text(40, 90)
                for d in docs:
                    if d[1] == f and d[2] == "exact":
                        d[0] = docs[base][0]
    else:
        raise RuntimeError("could not separate planted families")

    order = list(range(len(docs)))
    rng.shuffle(order)
    documents, embeddings, exact_groups = [], [], {}
    for doc_id, i in enumerate(order):
        text, f, kind, emb = docs[i]
        documents.append((doc_id, text, rng.choice(LANGS), f"src{rng.randrange(5)}", len(text)))
        embeddings.append((doc_id, emb, rng.randrange(5)))
        if kind in ("base", "exact") and f < groups:
            exact_groups.setdefault(f, []).append(doc_id)
    return {
        "documents": documents,
        "embeddings": embeddings,
        "exact_groups": sorted(sorted(g) for g in exact_groups.values()),
        "lowq_ids": sorted(d for d, i in enumerate(order) if docs[i][2] == "lowq"),
    }


def write_curation_tables(inp: dict, sf_dir: str) -> None:
    """One parquet file per table, in the testdata schema."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(sf_dir, exist_ok=True)
    d = list(zip(*inp["documents"]))
    pq.write_table(
        pa.table({
            "doc_id": pa.array(d[0], pa.int64()), "text": pa.array(d[1], pa.string()),
            "lang": pa.array(d[2], pa.string()), "source": pa.array(d[3], pa.string()),
            "n_chars": pa.array(d[4], pa.int64()),
        }),
        os.path.join(sf_dir, "documents.parquet"),
    )
    e = list(zip(*inp["embeddings"]))
    pq.write_table(
        pa.table({
            "vec_id": pa.array(e[0], pa.int64()),
            "embedding": pa.array([list(map(float, v)) for v in e[1]], pa.list_(pa.float32())),
            "label": pa.array(e[2], pa.int32()),
        }),
        os.path.join(sf_dir, "embeddings.parquet"),
    )
