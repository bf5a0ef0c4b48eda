"""Independent reference computations the benchmark checks results against.

Written from the program's documented formulas, not by calling it:
- the deterministic embedder (sha256 bytes cycled into [-1, 1), L2
  normalised);
- cosine scores accumulated in index order in float64 and rounded to
  6 dp, the order Spark's ``aggregate`` fold uses;
- 32-bit SimHash over whitespace tokens (md5 prefix per token, one
  majority vote per bit), Hamming-distance pairs and min-id components.
"""

from __future__ import annotations

import functools
import hashlib
import re

import numpy as np

TIE = 2e-6  # two 6-dp scores this close may legitimately swap places


def embed(text: str, dim: int = 64) -> np.ndarray:
    h = hashlib.sha256(text.encode("utf-8")).digest()
    raw = np.array(
        [int.from_bytes(bytes(h[(4 * i + j) % len(h)] for j in range(4)), "big") / 2**31 - 1.0
         for i in range(dim)]
    )
    n = float(np.linalg.norm(raw))
    return raw / n if n else np.zeros(dim)


def cosine(emb: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Rounded cosine of every row of ``emb`` against ``q``."""
    e = emb.astype(np.float64)
    dot = np.zeros(len(e))
    ee = np.zeros(len(e))
    qq = 0.0
    for d in range(e.shape[1]):
        dot += e[:, d] * q[d]
        ee += e[:, d] * e[:, d]
        qq += q[d] * q[d]
    den = np.sqrt(ee) * np.sqrt(qq)
    with np.errstate(invalid="ignore", divide="ignore"):
        s = np.where(den == 0, 0.0, dot / den)
    return np.round(s, 6)


def top(ids: list[str], scores: np.ndarray, n: int) -> list[tuple[str, float]]:
    """The first ``n`` of (id, score) ordered by score desc, id asc."""
    if len(scores) <= n:
        cand = range(len(scores))
    else:
        cand = np.nonzero(scores >= np.partition(scores, -n)[-n])[0]
    return sorted(((ids[i], float(scores[i])) for i in cand), key=lambda t: (-t[1], t[0]))[:n]


def check_ranks(got: list[tuple[str, float]], expect: list[tuple[str, float]],
                score_of: dict, ordered: bool) -> str | None:
    """None when ``got`` is the oracle's ranking ``expect`` up to ties.

    ``ordered``: positions must match (a swap is allowed only between
    scores within TIE). Otherwise only the set must match (results that
    were re-scored after the cosine top-k was cut)."""
    if len(got) != len(expect):
        return f"{len(got)} results, oracle has {len(expect)}"
    for gid, _ in got:
        if gid not in score_of:
            return f"id {gid} is not in the store"
    if ordered:
        for (gid, gs), (eid, es) in zip(got, expect):
            if abs(score_of[gid] - es) > TIE or abs(gs - score_of[gid]) > TIE:
                return f"got {gid} ({gs}), oracle {eid} ({es})"
        return None
    floor = min(s for _, s in expect) - TIE
    if any(score_of[gid] < floor for gid, _ in got) or len({g for g, _ in got}) != len(got):
        return f"set {sorted(g for g, _ in got)} != oracle {sorted(e for e, _ in expect)}"
    return None


_WS = re.compile(r"[ \t\n\x0b\f\r]+")


@functools.lru_cache(maxsize=1 << 16)
def _token_hash(w: str) -> int:
    return int(hashlib.md5(w.encode()).hexdigest()[:8], 16)


_BITS = np.arange(32, dtype=np.int64)


def simhash32(text: str) -> int:
    hs = np.array([_token_hash(w) for w in _WS.split(text.lower()) if w], dtype=np.int64)
    votes = 2 * ((hs[:, None] >> _BITS) & 1).sum(axis=0) - len(hs)
    return int(sum(1 << j for j in range(32) if votes[j] > 0))


_POP16 = np.array([bin(i).count("1") for i in range(1 << 16)], dtype=np.uint8)


def hamming_within(sig: np.ndarray, d: int) -> list[tuple[int, int]]:
    """All index pairs (a < b) whose 32-bit signatures differ in <= d bits."""
    s = sig.astype(np.uint64)
    out = []
    for a in range(len(s) - 1):
        x = s[a] ^ s[a + 1:]
        pc = _POP16[(x & 0xFFFF).astype(np.int64)] + _POP16[((x >> 16) & 0xFFFF).astype(np.int64)]
        out.extend((a, a + 1 + int(b)) for b in np.nonzero(pc <= d)[0])
    return out


def dedup_survivors(doc_ids: list[int], texts: list[str]) -> set[int]:
    """Docs outside any near-dup pair plus the min id of each component."""
    sig = np.array([simhash32(t) for t in texts], dtype=np.uint64)
    parent = list(range(len(doc_ids)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in hamming_within(sig, 3):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb, key=lambda r: doc_ids[r])] = min(ra, rb, key=lambda r: doc_ids[r])
    return {doc_ids[i] for i in range(len(doc_ids)) if find(i) == i}
