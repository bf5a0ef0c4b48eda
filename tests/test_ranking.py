"""Unit tests for the retrieval-quality family: BM25, RRF fusion, MMR
diversification, exact-substring span dedup. Values are checked against
independent Python recomputations of the same published formulas
(Robertson/Sparck Jones BM25; Cormack et al. 2009 RRF; Carbonell &
Goldstein 1998 MMR; Lee et al. 2022 span dedup)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from gistdex_spark.operators import search as S
from gistdex_spark.operators.dedup import exact_substring_spans

K1, B = 1.2, 0.75


def _bm25_py(corpus: dict[int, str], terms: list[str]) -> dict[int, float]:
    """Independent reference BM25 (whitespace tokens suffice here)."""
    toks = {i: t.lower().split() for i, t in corpus.items()}
    n = float(len(corpus))
    avgdl = sum(len(v) for v in toks.values()) / n
    out = {}
    for i, tk in toks.items():
        dl = float(len(tk))
        score = 0.0
        for t in terms:
            tf = float(tk.count(t))
            df = float(sum(1 for v in toks.values() if t in v))
            idf = round(math.log(1.0 + (n - df + 0.5) / (df + 0.5)), 6)
            score += idf * (tf * (K1 + 1.0)) / (
                tf + K1 * (1.0 - B + B * dl / avgdl)
            )
        if round(score, 6) > 0:
            out[i] = round(score, 6)
    return out


def test_bm25_matches_reference_formula(spark):
    corpus = {
        1: "spark table join merge table",
        2: "join the window stream",
        3: "no relevant words here at all",
        4: "table table table table table scan scan",
    }
    df = spark.createDataFrame(
        list(corpus.items()), schema="doc_id BIGINT, text STRING"
    )
    got = {
        r["doc_id"]: r["score"]
        for r in S.bm25(df, ["table", "join", "merge"], k1=K1, b=B).collect()
    }
    assert got == _bm25_py(corpus, ["table", "join", "merge"])
    assert 3 not in got, "zero-score docs must be filtered"


def test_bm25_idf_downweights_common_terms(spark):
    # 'common' is in every doc, 'rare' in one: equal tf must score rare higher
    rows = [(i, "common filler") for i in range(1, 10)] + [
        (10, "common rare")
    ]
    df = spark.createDataFrame(rows, schema="doc_id BIGINT, text STRING")
    scores = {
        r["doc_id"]: r["score"] for r in S.bm25(df, ["common", "rare"]).collect()
    }
    only_common = scores[1]
    both = scores[10]
    assert both > 2 * only_common


def test_rrf_fuse_hand_values(spark):
    a = spark.createDataFrame(
        [(1, 0.9), (2, 0.8), (3, 0.7)], schema="doc_id BIGINT, score DOUBLE"
    )
    b = spark.createDataFrame(
        [(2, 5.0), (4, 4.0)], schema="doc_id BIGINT, score DOUBLE"
    )
    got = {r["doc_id"]: r["rrf_score"] for r in S.rrf_fuse(a, b).collect()}
    assert got == {
        1: round(1 / 61, 6),
        2: round(1 / 62 + 1 / 61, 6),
        3: round(1 / 63, 6),
        4: round(1 / 62, 6),
    }
    # doc 2 (present in both lists) must outrank every single-list doc
    assert max(got, key=lambda d: (got[d], -d)) == 2


def test_rrf_rank_ties_break_by_id(spark):
    a = spark.createDataFrame(
        [(7, 0.5), (3, 0.5)], schema="doc_id BIGINT, score DOUBLE"
    )
    b = spark.createDataFrame([], schema="doc_id BIGINT, score DOUBLE")
    got = {r["doc_id"]: r["rrf_score"] for r in S.rrf_fuse(a, b).collect()}
    assert got[3] == round(1 / 61, 6)  # id asc wins the score tie
    assert got[7] == round(1 / 62, 6)


def _unit(*xs):
    n = math.sqrt(sum(x * x for x in xs))
    return [x / n for x in xs]


def test_mmr_skips_redundant_second_hit(spark):
    # docs 1 and 2 nearly identical; greedy MMR must pick 1 then the
    # orthogonal 3, not the near-duplicate 2 — pure relevance would say 2.
    rows = [
        (1, 0.95, _unit(1.0, 0.01, 0.0)),
        (2, 0.94, _unit(1.0, 0.02, 0.0)),
        (3, 0.60, _unit(0.0, 1.0, 0.0)),
        (4, 0.50, _unit(0.0, 0.0, 1.0)),
    ]
    cand = spark.createDataFrame(
        rows, schema="vec_id BIGINT, score DOUBLE, embedding ARRAY<DOUBLE>"
    )
    sel = S.mmr_select(cand, k=3, lam=0.7, id_col="vec_id").collect()
    picked = [r["vec_id"] for r in sorted(sel, key=lambda r: r["sel_rank"])]
    assert picked[0] == 1
    assert picked[1] in (3, 4) and picked[1] != 2
    assert len(picked) == 3
    # rank-1 objective is floor-scaled lam*rel
    r1 = next(r for r in sel if r["sel_rank"] == 1)
    assert r1["mmr"] == math.floor(0.7 * 0.95 * 1_000_000) / 1_000_000


def test_mmr_caps_at_candidate_count(spark):
    cand = spark.createDataFrame(
        [(1, 0.9, _unit(1.0, 0.0)), (2, 0.8, _unit(0.0, 1.0))],
        schema="vec_id BIGINT, score DOUBLE, embedding ARRAY<DOUBLE>",
    )
    sel = S.mmr_select(cand, k=5, id_col="vec_id").collect()
    assert sorted(r["vec_id"] for r in sel) == [1, 2]


def test_mmr_reads_candidates_once(spark):
    """One job collects the candidate rows (with their norms), one scores
    the pairs frame built from them: the upstream retrieval DAG is never
    re-run for the pair matrix, and no broadcast job is needed."""
    cand = spark.createDataFrame(
        [(i, 1.0 - i / 10, _unit(1.0, float(i), 2.0)) for i in range(6)],
        schema="vec_id BIGINT, score DOUBLE, embedding ARRAY<DOUBLE>",
    )
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.nextJobId()
    S.mmr_select(cand, k=3, id_col="vec_id")
    assert dag.nextJobId() - before == 2


def test_exact_substring_spans_counts(spark):
    shared = "X" * 20 + "SHARED-TEMPLATE-Y" + "Z" * 20  # > 32 chars common
    rows = [
        (1, "aaa " + shared + " tail one"),
        (2, "bbbbb " + shared + " other tail"),
        (3, "entirely unique content with no duplicated windows " + "q" * 40),
        (4, "short"),  # below span_len: contributes nothing
    ]
    df = spark.createDataFrame(rows, schema="doc_id BIGINT, text STRING")
    got = {r["doc_id"]: r for r in exact_substring_spans(df, 32, 2).collect()}
    assert set(got) == {1, 2}, "only docs sharing a 32-char span flagged"
    for i in (1, 2):
        n = len(rows[i - 1][1]) - 31
        assert got[i]["n_spans"] == n
        assert 0 < got[i]["n_dup_spans"] < n
        assert (
            got[i]["dup_frac"]
            == math.floor(got[i]["n_dup_spans"] / n * 1_000_000) / 1_000_000
        )
    # the two docs share the same windows of the common fragment
    assert got[1]["n_dup_spans"] == got[2]["n_dup_spans"]


def test_exact_substring_min_docs_threshold(spark):
    t = "the same forty-character span appears here!! pad pad pad"
    df = spark.createDataFrame(
        [(1, t), (2, t), (3, t)], schema="doc_id BIGINT, text STRING"
    )
    assert exact_substring_spans(df, 32, min_docs=4).count() == 0
    assert exact_substring_spans(df, 32, min_docs=3).count() == 3


def test_exact_substring_removal_keeper_and_excision(spark):
    from gistdex_spark.operators.dedup import exact_substring_removal

    shared = "HELLO-THIS-IS-A-DUPLICATED-SPAN-OF-TEXT"  # 39 chars > 16
    rows = [
        ("a", "XXXXXXXX" + shared + "YYYY"),  # min id: keeper, untouched
        ("b", "prefix__" + shared + "__suffix"),  # loses the covered run
        ("c", "totally unique little document"),
        ("d", "tiny"),  # below span_len
    ]
    df = spark.createDataFrame(rows, schema="doc_id STRING, text STRING")
    got = {
        r["doc_id"]: r
        for r in exact_substring_removal(df, span_len=16, min_docs=2).collect()
    }
    assert set(got) == {"a", "b", "c", "d"}, "full corpus out"
    assert got["a"]["clean_text"] == rows[0][1], "keeper keeps its copy"
    # every char of `shared` in b is covered by some dup 16-window;
    # overlapping windows merge into one excised run
    assert got["b"]["clean_text"] == "prefix____suffix"
    assert got["c"]["clean_text"] == rows[2][1]
    assert got["d"]["clean_text"] == "tiny"
    for k, r in got.items():
        assert r["clean_len"] == len(r["clean_text"])
        assert r["orig_len"] == len(dict(rows)[k])


def test_exact_substring_removal_merges_overlaps_mid_doc(spark):
    from gistdex_spark.operators.dedup import exact_substring_removal

    # two separate duplicated fragments in one victim doc -> two excised
    # runs, the unique middle survives
    f1, f2 = "AAAA-FIRST-DUP-FRAGMENT-AAAA", "BBBB-SECOND-DUP-FRAG-BBBB"
    df = spark.createDataFrame(
        [
            ("k1", "pad0pad0" + f1 + "pad1pad1"),
            ("k2", "pad2pad2" + f2 + "pad3pad3"),
            ("v", "s:" + f1 + "=keep-me=" + f2 + ":e"),
        ],
        schema="doc_id STRING, text STRING",
    )
    got = {
        r["doc_id"]: r["clean_text"]
        for r in exact_substring_removal(df, span_len=16, min_docs=2).collect()
    }
    assert got["v"] == "s:=keep-me=:e"
    assert got["k1"].startswith("pad0") and f1 in got["k1"]
    assert got["k2"].startswith("pad2") and f2 in got["k2"]


def _removal_dup_keepers(docs: dict, span_len: int, min_docs: int) -> dict:
    from collections import defaultdict

    occ = defaultdict(set)
    for d, t in docs.items():
        for i in range(len(t) - span_len + 1):
            occ[t[i:i + span_len]].add(d)
    return {s: min(ds) for s, ds in occ.items() if len(ds) >= min_docs}


def _removal_mask_reference(docs: dict, span_len: int, min_docs: int) -> dict:
    """Ground truth by definition: mark every character covered by a
    duplicated-span occurrence in a non-keeper doc, keep the rest."""
    dup = _removal_dup_keepers(docs, span_len, min_docs)
    out = {}
    for d, t in docs.items():
        mask = [False] * len(t)
        for i in range(len(t) - span_len + 1):
            s = t[i:i + span_len]
            if s in dup and dup[s] != d:
                for j in range(i, i + span_len):
                    mask[j] = True
        out[d] = "".join(ch for ch, m in zip(t, mask) if not m)
    return out


def _removal_fold(docs: dict, span_len: int, min_docs: int) -> dict:
    """Pure-python transcription of the EXACT cursor fold
    exact_substring_removal encodes in Catalyst (sorted cut offsets,
    cursor = running max of interval ends)."""
    dup = _removal_dup_keepers(docs, span_len, min_docs)
    out = {}
    for d, t in docs.items():
        cuts = sorted(
            i
            for i in range(len(t) - span_len + 1)
            if t[i:i + span_len] in dup and dup[t[i:i + span_len]] != d
        )
        cur, acc = 0, ""
        for p in cuts:
            if p > cur:
                acc += t[cur:p]
            cur = max(cur, p + span_len)
        out[d] = acc + t[cur:]
    return out


def test_removal_fold_matches_mask_reference_property():
    """The cursor fold (what the engines run) equals the by-definition
    character mask over a large random space — tiny alphabets force
    heavy span collisions, overlaps, and multi-keeper interactions."""
    import random

    rng = random.Random(7)
    for trial in range(5000):
        n = rng.randint(1, 6)
        span_len = rng.randint(2, 6)
        min_docs = rng.randint(2, 3)
        alpha = "ab" if rng.random() < 0.5 else "abc"
        docs = {
            f"d{i}": "".join(
                rng.choice(alpha) for _ in range(rng.randint(0, 30))
            )
            for i in range(n)
        }
        got = _removal_fold(docs, span_len, min_docs)
        want = _removal_mask_reference(docs, span_len, min_docs)
        assert got == want, (docs, span_len, min_docs, got, want)


def test_exact_substring_removal_matches_reference_on_random_corpus(spark):
    """The Spark encoding of the fold on one adversarial random corpus
    (binary alphabet -> dense span collisions) vs the mask reference."""
    import random

    from gistdex_spark.operators.dedup import exact_substring_removal

    rng = random.Random(11)
    docs = {
        f"d{i}": "".join(rng.choice("ab") for _ in range(rng.randint(0, 40)))
        for i in range(8)
    }
    df = spark.createDataFrame(
        list(docs.items()), schema="doc_id STRING, text STRING"
    )
    got = {
        r["doc_id"]: r["clean_text"]
        for r in exact_substring_removal(df, span_len=4, min_docs=2).collect()
    }
    assert got == _removal_mask_reference(docs, 4, 2)


def test_bm25_stats_reduce_to_broadcast_row(spark):
    df = spark.createDataFrame(
        [(1, "table join"), (2, "merge")], schema="doc_id BIGINT, text STRING"
    )
    plan = (
        S.bm25(df, ["table"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def test_bm25_sparse_equals_pivoted(spark):
    """The long-form (term-set-as-data) BM25 must produce the exact same
    scores as the pivoted-columns form on the same corpus and terms."""
    corpus = {
        1: "spark table join merge table",
        2: "join the window stream",
        3: "no relevant words here at all",
        4: "table table table table table scan scan",
    }
    df = spark.createDataFrame(
        list(corpus.items()), schema="doc_id BIGINT, text STRING"
    )
    terms = ["table", "join", "merge"]
    piv = {r["doc_id"]: r["score"] for r in S.bm25(df, terms).collect()}
    tdf = spark.createDataFrame([(t,) for t in terms], schema="term string")
    sparse = {r["doc_id"]: r["score"] for r in S.bm25_sparse(df, tdf).collect()}
    assert sparse == piv


def test_prf_expansion_is_deterministic_top_terms(spark):
    df = spark.createDataFrame(
        [
            (1, "alpha beta beta gamma"),
            (2, "alpha beta delta"),
            (3, "unrelated filler words"),
        ],
        schema="doc_id BIGINT, text STRING",
    )
    seed = spark.createDataFrame([(1,), (2,)], schema="doc_id BIGINT")
    got = [
        r["term"]
        for r in S.prf_expand_terms(df, seed, ["alpha"], n_expand=2).collect()
    ]
    # beta (3 hits) then delta/gamma tie broken alphabetically
    assert got == ["beta", "delta"]


def test_variable_substring_spans_maximal_extent(spark):
    """One shared 80-char region -> ONE row with its true extent, not a
    stack of fixed windows (maximality is structural in the diagonal
    runs: an extendable run would contain one more seed)."""
    import random

    from gistdex_spark.operators.dedup import variable_substring_spans

    rng = random.Random(7)
    shared = "".join(rng.choice("0123456789") for _ in range(80))
    pre_a = "".join(rng.choice("abcdefghij") for _ in range(30))
    suf_a = "".join(rng.choice("abcdefghij") for _ in range(25))
    pre_b = "".join(rng.choice("KLMNOPQRST") for _ in range(45))
    suf_b = "".join(rng.choice("KLMNOPQRST") for _ in range(10))
    df = spark.createDataFrame(
        [("a", pre_a + shared + suf_a), ("b", pre_b + shared + suf_b)],
        schema="doc_id STRING, text STRING",
    )
    rows = variable_substring_spans(
        df, gram_len=16, min_len=64, max_occ=50
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.d1, r.d2) == ("a", "b")
    assert (r.pos1, r.pos2, r.span_len) == (30, 45, 80)


def test_variable_substring_spans_below_min_len_ignored(spark):
    from gistdex_spark.operators.dedup import variable_substring_spans

    # shared region is 40 chars: seeds match, but the run folds to a
    # 40-char span < min_len=64 -> zero rows
    shared = "0123456789" * 4
    df = spark.createDataFrame(
        [("a", "x" * 20 + shared), ("b", shared + "Y" * 20)],
        schema="doc_id STRING, text STRING",
    )
    assert (
        variable_substring_spans(df, 16, 64, 50).count() == 0
    )


def test_variable_removal_keeps_long_dup_intact(spark):
    """THE contrast with the fixed-width form (r8 verdict item 4): a long
    duplicate S shared by docs b and c, plus a 40-char fragment of S that
    also lives in low-id doc a. Fixed-width removal elects keepers per
    32-char window, so the windows inside the fragment belong to doc a
    and BOTH copies of S get holes punched — the corpus no longer holds S
    verbatim anywhere. Variable-length removal treats the maximal span as
    a unit: S is cut from c, kept whole in b, and the 40-char fragment
    pair (< min_len=64) is ignored."""
    import random

    from gistdex_spark.operators.dedup import (
        exact_substring_removal,
        variable_substring_removal,
    )

    rng = random.Random(13)
    S = "".join(rng.choice("0123456789") for _ in range(200))
    frag = S[60:100]  # 40 chars: >= fixed span_len 32, < variable min 64
    doc_a = "".join(rng.choice("abcdefghij") for _ in range(40)) + frag
    doc_b = (
        "".join(rng.choice("klmnopqrst") for _ in range(35))
        + S
        + "".join(rng.choice("klmnopqrst") for _ in range(20))
    )
    doc_c = (
        "".join(rng.choice("KLMNOPQRST") for _ in range(25))
        + S
        + "".join(rng.choice("KLMNOPQRST") for _ in range(30))
    )
    df = spark.createDataFrame(
        [("a", doc_a), ("b", doc_b), ("c", doc_c)],
        schema="doc_id STRING, text STRING",
    )
    fixed = {
        r.doc_id: r.clean_text
        for r in exact_substring_removal(df, span_len=32, min_docs=2).collect()
    }
    # fixed form: no document retains S verbatim (the keep-one guarantee
    # broke: per-window keeper election gave the fragment windows to a)
    assert all(S not in t for t in fixed.values())
    varr = {
        r.doc_id: r.clean_text
        for r in variable_substring_removal(
            df, gram_len=16, min_len=64, max_occ=50
        ).collect()
    }
    assert S in varr["b"], "min-id copy of the maximal span must survive"
    assert S not in varr["c"], "higher-id copy must be excised"
    assert varr["a"] == doc_a, "fragment pair below min_len is untouched"


def _varspan_reference(
    docs: dict, gram_len: int, min_len: int, max_occ: int
) -> set:
    """Brute-force ground truth BY DEFINITION for the diagonal-run
    composition: enumerate every (d1 < d2, p1, p2) whose gram-chain is
    maximal, from the raw strings — no hashing, no islands trick. A
    position participates only through grams that survive the
    occurrence cap, mirroring the operator's documented cap
    semantics."""
    from collections import defaultdict

    occ = defaultdict(list)
    for d, t in docs.items():
        for i in range(len(t) - gram_len + 1):
            occ[t[i:i + gram_len]].append((d, i))
    kept = {
        g
        for g, os in occ.items()
        if len(os) <= max_occ and len({d for d, _ in os}) >= 2
    }

    def g_at(t, i):
        s = t[i:i + gram_len]
        return s if len(s) == gram_len and s in kept else None

    out = set()
    ds = sorted(docs)
    for a in range(len(ds)):
        for b in range(a + 1, len(ds)):
            d1, d2 = ds[a], ds[b]
            t1, t2 = docs[d1], docs[d2]
            matched = {
                (i, j)
                for i in range(len(t1) - gram_len + 1)
                for j in range(len(t2) - gram_len + 1)
                if g_at(t1, i) is not None and g_at(t1, i) == g_at(t2, j)
            }
            for (i, j) in matched:
                if (i - 1, j - 1) in matched:
                    continue  # not a run start
                ln = 0
                while (i + ln, j + ln) in matched:
                    ln += 1
                span = ln - 1 + gram_len
                if span >= min_len:
                    out.add((d1, d2, i, j, span))
    return out


def test_variable_substring_spans_matches_reference_on_random_corpus(spark):
    """The relational seed-and-extend vs the by-definition enumeration
    on an adversarial random corpus: tiny alphabet (dense gram
    collisions), planted shared fragments of assorted lengths, plus a
    gram popular enough to trip the occurrence cap."""
    import random

    from gistdex_spark.operators.dedup import variable_substring_spans

    rng = random.Random(17)
    frags = [
        "".join(rng.choice("ab") for _ in range(n)) for n in (8, 12, 20, 33)
    ]
    docs = {}
    for i in range(10):
        parts = []
        for _ in range(rng.randint(1, 4)):
            parts.append("".join(rng.choice("ab") for _ in range(rng.randint(0, 18))))
            parts.append(rng.choice(frags))
        docs[f"d{i}"] = "".join(parts)
    want = _varspan_reference(docs, gram_len=4, min_len=8, max_occ=6)
    df = spark.createDataFrame(
        list(docs.items()), schema="doc_id STRING, text STRING"
    )
    got = {
        (r.d1, r.d2, r.pos1, r.pos2, r.span_len)
        for r in variable_substring_spans(
            df, gram_len=4, min_len=8, max_occ=6
        ).collect()
    }
    assert got == want


def test_variable_substring_spans_within_tandem_and_copy(spark):
    """Within-doc self-repeats: a copy-pasted section shows as ONE
    maximal span with period = the gap between the copies; a tandem
    repeat (period < span length) is handled naturally by the diagonal
    islands — overlapping occurrences chain on the period diagonal."""
    import random

    from gistdex_spark.operators.dedup import variable_substring_spans_within

    rng = random.Random(23)
    sect = "".join(rng.choice("0123456789") for _ in range(80))
    gap = "".join(rng.choice("abcdefghij") for _ in range(40))
    copy_doc = gap[:10] + sect + gap + sect + gap[:15]
    unit = "".join(rng.choice("KLMNOPQRST") for _ in range(24))
    tandem_doc = unit * 5  # period 24, total 120
    plain_doc = "".join(rng.choice("uvwxyz") for _ in range(150))
    df = spark.createDataFrame(
        [("a", copy_doc), ("b", tandem_doc), ("c", plain_doc)],
        schema="doc_id STRING, text STRING",
    )
    rows = variable_substring_spans_within(
        df, gram_len=16, min_len=48, max_occ=50
    ).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append((r.pos1, r.pos2, r.span_len))
    # copy-paste: the repeated substring is sect (80) and maximality
    # extends into the identical gap prefix after each copy — the
    # maximal repeat is sect+gap[:15] (95 chars) at period |sect+gap|=120
    assert by_doc["a"] == [(10, 130, 95)]
    # tandem: one diagonal per multiple of the period shorter than the
    # doc; the period-24 run is the longest (96 = 120 - 24)
    spans_b = sorted(by_doc["b"])
    assert (0, 24, 96) in spans_b
    assert all(p2 - p1 in (24, 48, 72) for p1, p2, _ in spans_b)
    assert "c" not in by_doc


def _varspan_within_reference(
    docs: dict, gram_len: int, min_len: int, max_occ: int
) -> set:
    """By-definition enumeration of maximal within-doc repeats (same cap
    semantics as _varspan_reference, same-doc pairs p1 < p2)."""
    from collections import defaultdict

    occ = defaultdict(list)
    for d, t in docs.items():
        for i in range(len(t) - gram_len + 1):
            occ[t[i:i + gram_len]].append((d, i))
    kept = {g for g, os in occ.items() if 2 <= len(os) <= max_occ}

    def g_at(t, i):
        s = t[i:i + gram_len]
        return s if len(s) == gram_len and s in kept else None

    out = set()
    for d, t in docs.items():
        n = len(t) - gram_len + 1
        matched = {
            (i, j)
            for i in range(n)
            for j in range(i + 1, n)
            if g_at(t, i) is not None and g_at(t, i) == g_at(t, j)
        }
        for (i, j) in matched:
            if (i - 1, j - 1) in matched:
                continue
            ln = 0
            while (i + ln, j + ln) in matched:
                ln += 1
            span = ln - 1 + gram_len
            if span >= min_len:
                out.add((d, i, j, span))
    return out


def test_variable_substring_within_matches_reference_on_random_corpus(spark):
    """Within-doc diagonal runs vs the by-definition enumeration on the
    same adversarial corpus family as the cross-doc property test —
    repeated planted fragments land multiple times inside one doc."""
    import random

    from gistdex_spark.operators.dedup import variable_substring_spans_within

    rng = random.Random(29)
    # fragment alphabet (digits) is disjoint from filler (letters), so
    # fragment grams repeat exactly where fragments repeat — and the
    # cap is sized above the total fragment occurrences (the in-round
    # seed-length lesson: an undersized cap silently empties the result,
    # which the `assert want` guard below would catch)
    frags = [
        "".join(rng.choice("0123456789") for _ in range(n))
        for n in (8, 12, 20)
    ]
    docs = {}
    for i in range(8):
        f = rng.choice(frags)
        parts = []
        for _ in range(rng.randint(2, 3)):  # same fragment 2-3x per doc
            parts.append(
                "".join(rng.choice("ab") for _ in range(rng.randint(0, 14)))
            )
            parts.append(f)
        docs[f"d{i}"] = "".join(parts)
    want = _varspan_within_reference(docs, gram_len=4, min_len=8, max_occ=60)
    df = spark.createDataFrame(
        list(docs.items()), schema="doc_id STRING, text STRING"
    )
    got = {
        (r.doc_id, r.pos1, r.pos2, r.span_len)
        for r in variable_substring_spans_within(
            df, gram_len=4, min_len=8, max_occ=60
        ).collect()
    }
    assert want, "corpus must actually contain within-doc repeats"
    assert got == want
