"""Block-cartesian exact-pair kernel + banded n-gram Jaccard: the numpy
outer-product form must equal the Catalyst cosine-fold recipe exactly
(every block count, zero-vector and duplicate edges), the sign-blocked
form must equal the exact form restricted to same-block pairs, and every
banded-Jaccard pair must carry the true exact Jaccard value."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from gistdex_spark.functions.vectors import (
    cosine,
    l2_norm,
    sql_cosine,
    with_cosine,
)
from gistdex_spark.operators.dedup import (
    embedding_neardup_pairs,
    ngram_jaccard_banded,
    ngram_jaccard_pairs,
)
from gistdex_spark.operators.similarity import sign_bucket, sign_bucket_py

ROUND = 6


@pytest.fixture(scope="module")
def emb(spark):
    rng = random.Random(7)
    vecs = {i: [rng.uniform(-1, 1) for _ in range(8)] for i in range(40)}
    vecs[38] = list(vecs[3])          # exact duplicate -> sim 1.0
    vecs[39] = [0.0] * 8              # zero vector -> guard path
    for i in range(0, 40, 9):         # planted near-dups
        vecs[i] = [x * rng.uniform(0.95, 1.05) for x in vecs[(i + 11) % 40]]
    return spark.createDataFrame(
        [(i, v) for i, v in vecs.items()],
        schema="vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )


def _fold_pairs(emb, threshold):
    """The pre-round-11 expression recipe: pair join + Catalyst cosine
    fold — the parity-proven reference the kernel must reproduce."""
    l = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("emb_a"))
    r = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("emb_b"))
    return {
        (x["id_a"], x["id_b"], x["sim"])
        for x in l.join(r, F.col("id_a") < F.col("id_b"))
        .withColumn("sim", F.round(cosine("emb_a", "emb_b"), ROUND))
        .filter(F.col("sim") >= threshold)
        .collect()
    }


def test_block_cartesian_matches_fold_form_exactly(emb):
    want = _fold_pairs(emb, 0.2)
    for n_blocks in (1, 3, 7, 64):
        got = {
            (x["id_a"], x["id_b"], x["sim"])
            for x in embedding_neardup_pairs(
                emb, threshold=0.2, n_blocks=n_blocks
            ).collect()
        }
        assert got == want, f"n_blocks={n_blocks}"
    # the exact duplicate survives with sim 1.0; zero vector pairs never
    assert any(a == 3 and b == 38 and s == 1.0 for a, b, s in want)
    assert not any(39 in (a, b) for a, b, _ in want)


def test_blocked_form_is_exact_restricted_to_blocks(emb):
    nbits = 3
    got = {
        (x["id_a"], x["id_b"], x["sim"])
        for x in embedding_neardup_pairs(
            emb, threshold=0.2, block=sign_bucket("embedding", nbits)
        ).collect()
    }
    buckets = {
        r["vec_id"]: sign_bucket_py([float(v) for v in r["embedding"]], nbits)
        for r in emb.collect()
    }
    want = {
        (a, b, s)
        for a, b, s in _fold_pairs(emb, 0.2)
        if buckets[a] == buckets[b]
    }
    assert got == want and got  # non-vacuous on this corpus


def test_ngram_banded_pairs_carry_true_jaccard(spark):
    base = (
        "the quick brown fox jumps over the lazy dog again and again "
        "while the cat watches from the warm windowsill nearby"
    )
    docs = [
        (0, base, "s0"),
        (1, base + " tonight", "s1"),              # near-dup of 0, other source
        (2, "completely unrelated text about spark shuffles and parquet "
            "row groups and column pruning at scale", "s0"),
        # near-dup of 0 (one appended word, j ~ 0.95 — the >=0.89
        # near-dup mass banding is tuned for; a j~0.7 "fox"->"wolf"
        # rewrite sits in the 1-(1-j^4)^4 coin-flip zone and may
        # legitimately be missed by BOTH engines)
        (3, base + " quietly", "s0"),
        (4, "", "s1"),                              # empty-doc edge
    ]
    df = spark.createDataFrame(docs, schema="doc_id BIGINT, text STRING, source STRING")
    got = {
        (r["doc_id_a"], r["doc_id_b"]): r["jaccard"]
        for r in ngram_jaccard_banded(df, n=3, threshold=0.1).collect()
    }
    # banding must surface the planted near-dups (cross-source allowed)
    assert (0, 1) in got and (0, 3) in got
    # every reported value equals the brute-force exact Jaccard
    exact = {
        (r["doc_id_a"], r["doc_id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            df.withColumn("one", F.lit(1)), n=3, threshold=0.0, block_col="one"
        ).collect()
    }
    for pair, j in got.items():
        assert exact[pair] == j, pair
    # and banded results are a subset of the exact >=threshold pairs
    assert set(got) <= {p for p, j in exact.items() if j >= 0.1}


def test_exact_pair_join_is_equality_keyed(emb):
    """The block-pair meeting must be EQUALITY joins on blk (a literal
    B(B+1)/2 pair frame), never the blk_a <= blk_b theta join: theta
    compiles to BroadcastNestedLoopJoin, whose build side is the packed
    corpus — few rows, every embedding — a driver broadcast that falls
    over at scale. Equality keys let AQE choose broadcast only while
    the packs actually fit, shuffle joins otherwise."""
    df = embedding_neardup_pairs(emb, threshold=0.2, n_blocks=4)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize("elem", ["FLOAT", "DOUBLE"])
def test_scorer_bit_identical_to_duckdb_sql_cosine(spark, elem):
    """Both scorer forms (literal query with the row norm projected once,
    and a pair join with each side's norm precomputed) return exactly
    the double ``sql_cosine`` computes in DuckDB, unrounded. Edges: a
    zero vector scores 0.0, a NULL embedding scores NULL, and FLOAT32
    inputs widen to double the same way in both engines."""
    import duckdb

    rng = random.Random(5)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(6)]
    rows += [(6, [0.0] * 8), (7, None)]
    q = [rng.uniform(-1, 1) for _ in range(8)]
    df = spark.createDataFrame(rows, schema=f"id BIGINT, v ARRAY<{elem}>")
    con = duckdb.connect()
    # the Spark-side values, so FLOAT32 rounding is identical in DuckDB;
    # the query rides as a column: DuckDB folds a constant list's sum in
    # another order, so a literal there is off by an ulp
    con.execute(f"CREATE TABLE t (id BIGINT, v {elem}[], q DOUBLE[])")
    con.executemany(
        "INSERT INTO t VALUES (?, ?, ?)", [(*r, q) for r in df.collect()]
    )

    def duck(sql):
        return dict(con.execute(f"SELECT id, {sql} FROM t").fetchall())

    want = duck(sql_cosine("v", "q"))
    assert want[6] == 0.0 and want[7] is None
    hoisted = df.withColumn("n", l2_norm("v")).select("id", cosine("v", q, na="n"))
    assert dict(hoisted.collect()) == want
    rounded = with_cosine(df, "v", q).select("id", "score")
    assert dict(rounded.collect()) == duck(f"round({sql_cosine('v', 'q')}, {ROUND})")
    # a zero query vector scores every row 0.0, NULL embedding included
    zero = df.select("id", cosine("v", [0.0] * 8))
    assert dict(zero.collect()) == duck(sql_cosine("v", "list_transform(q, x -> 0.0)"))

    side = df.withColumn("n", l2_norm("v"))
    a = side.select(F.col("id").alias("i"), F.col("v").alias("va"), F.col("n").alias("na"))
    b = side.toDF("j", "vb", "nb")
    pairs = {
        (r.i, r.j): r.s
        for r in a.crossJoin(b)
        .select("i", "j", cosine("va", "vb", na="na", nb="nb").alias("s"))
        .collect()
    }
    want_pairs = {
        (i, j): s
        for i, j, s in con.execute(
            f"SELECT a.id, b.id, {sql_cosine('a.v', 'b.v')} FROM t a, t b"
        ).fetchall()
    }
    assert pairs == want_pairs
    assert pairs[(6, 1)] == 0.0 and pairs[(7, 1)] is None
    con.close()


def test_ngram_containment_detects_subset(spark):
    """An excerpt wholly contained in a longer doc scores containment
    1.0 in the excerpt direction while Jaccard stays below any useful
    threshold — the asymmetric case the operator exists for."""
    from gistdex_spark.operators.dedup import ngram_containment_pairs

    long_words = " ".join(f"w{i}" for i in range(40))
    excerpt = " ".join(f"w{i}" for i in range(10, 16))
    rows = [
        (1, long_words, "s"),
        (2, excerpt, "s"),
        (3, "entirely different tokens here now", "s"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    got = {
        (r.doc_id_a, r.doc_id_b): (r.containment_a, r.containment_b)
        for r in ngram_containment_pairs(df, n=3, threshold=0.5).collect()
    }
    assert set(got) == {(1, 2)}
    ca, cb = got[(1, 2)]
    # All 4 trigrams of the excerpt appear in the long doc: containment
    # is 1.0 toward the excerpt (doc 2, the b side) and 4/38 toward the
    # long doc.
    assert cb == 1.0
    assert abs(ca - 4 / 38) < 1e-6


def test_ngram_containment_requires_positive_threshold(spark):
    import pytest as _pytest

    from gistdex_spark.operators.dedup import ngram_containment_pairs

    df = spark.createDataFrame([(1, "a b c", "s")], ["doc_id", "text", "source"])
    with _pytest.raises(ValueError):
        ngram_containment_pairs(df, threshold=0.0)


# --------------------------------------------------------------------------
# knn_graph: the block-local top-k cut must be invisible — every block
# count yields exactly the naive window-form graph, including rounded-sim
# ties (resolved nbr-asc), duplicate vectors, and the zero-vector guard.
# --------------------------------------------------------------------------


def _window_knn(emb, k):
    """Naive reference: full directed pair join + Catalyst cosine fold +
    one global window — the oracle's QUALIFY shape."""
    from pyspark.sql import Window

    l = emb.select(F.col("vec_id").alias("src_id"), F.col("embedding").alias("emb_a"))
    r = emb.select(F.col("vec_id").alias("nbr_id"), F.col("embedding").alias("emb_b"))
    w = Window.partitionBy("src_id").orderBy(F.desc("sim"), F.asc("nbr_id"))
    return {
        (x["src_id"], x["nbr_id"], x["sim"], x["rk"])
        for x in l.join(r, F.col("src_id") != F.col("nbr_id"))
        .withColumn("sim", F.round(cosine("emb_a", "emb_b"), ROUND))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .collect()
    }


def test_knn_graph_matches_window_form_every_block_count(emb):
    from gistdex_spark.operators.dedup import knn_graph

    want = _window_knn(emb, 5)
    for n_blocks in (1, 3, 7, 64):
        got = {
            (x["src_id"], x["nbr_id"], x["sim"], x["rk"])
            for x in knn_graph(emb, k=5, n_blocks=n_blocks).collect()
        }
        assert got == want, f"n_blocks={n_blocks}"


def test_knn_graph_duplicate_and_zero_vector_edges(emb):
    from gistdex_spark.operators.dedup import knn_graph

    rows = knn_graph(emb, k=5, n_blocks=7).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r["src_id"], []).append(r)
    # Every source has exactly k neighbors (corpus is larger than k+1).
    assert all(len(v) == 5 for v in by_src.values())
    assert len(by_src) == 40
    # Exact duplicate pair (3, 38): each is the other's rank-1 at 1.0.
    top3 = min(by_src[3], key=lambda r: r["rk"])
    top38 = min(by_src[38], key=lambda r: r["rk"])
    assert (top3["nbr_id"], top3["sim"], top3["rk"]) == (38, 1.0, 1)
    assert (top38["nbr_id"], top38["sim"], top38["rk"]) == (3, 1.0, 1)
    # Zero vector: every sim is the 0.0 guard value, so the neighbor set
    # is the 5 smallest ids (pure nbr-asc tie-break).
    zero = sorted(by_src[39], key=lambda r: r["rk"])
    assert [r["nbr_id"] for r in zero] == [0, 1, 2, 3, 4]
    assert all(r["sim"] == 0.0 for r in zero)


def test_knn_graph_k_exceeding_corpus(spark):
    from gistdex_spark.operators.dedup import knn_graph

    df = spark.createDataFrame(
        [(i, [float(i + 1), 1.0]) for i in range(4)],
        schema="vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    rows = knn_graph(df, k=10, n_blocks=3).collect()
    # k > n-1: every directed pair survives, ranks are dense 1..3.
    assert len(rows) == 12
    per_src = {}
    for r in rows:
        per_src.setdefault(r["src_id"], []).append(r["rk"])
    assert all(sorted(v) == [1, 2, 3] for v in per_src.values())


def test_mutual_knn_filter_strips_asymmetric_edges(spark):
    """Mutual-kNN keeps (a, b) only when each is in the other's top-k:
    with k=1 and two clusters, the outlier whose nearest neighbor does
    not reciprocate gets no edge and joins no component."""
    from pyspark.sql import functions as F

    from gistdex_spark.operators.dedup import connected_components, knn_graph

    vecs = {
        1: [1.0, 0.0], 2: [0.99, 0.01],          # tight pair
        10: [0.0, 1.0], 11: [0.01, 0.99],        # tight pair
        12: [0.2, 0.8],                           # points at 11; 11 points at 10
    }
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()],
        schema="vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    g = knn_graph(df, k=1, n_blocks=3).select("src_id", "nbr_id")
    rev = g.select(
        F.col("nbr_id").alias("src_id"), F.col("src_id").alias("nbr_id")
    )
    mutual = (
        g.join(rev, ["src_id", "nbr_id"])
        .filter(F.col("src_id") < F.col("nbr_id"))
        .select(
            F.col("src_id").alias("doc_id_a"), F.col("nbr_id").alias("doc_id_b")
        )
    )
    pairs = {(r.doc_id_a, r.doc_id_b) for r in mutual.collect()}
    assert pairs == {(1, 2), (10, 11)}
    comp = {
        r.node: r.component
        for r in connected_components(mutual).collect()
    }
    assert comp == {1: 1, 2: 1, 10: 10, 11: 10}  # 12 joins nothing


def test_knn_graph_blocked_equals_restricted_window_form(emb):
    """The blocked graph must equal the naive window form computed over
    same-bucket pairs only — the block kernel is a candidate
    restriction, never a score change."""
    from pyspark.sql import Window

    from gistdex_spark.operators.dedup import knn_graph
    from gistdex_spark.operators.similarity import sign_bucket

    l = emb.select(
        F.col("vec_id").alias("src_id"),
        F.col("embedding").alias("emb_a"),
        sign_bucket("embedding", 3).alias("ba"),
    )
    r = emb.select(
        F.col("vec_id").alias("nbr_id"),
        F.col("embedding").alias("emb_b"),
        sign_bucket("embedding", 3).alias("bb"),
    )
    w = Window.partitionBy("src_id").orderBy(F.desc("sim"), F.asc("nbr_id"))
    want = {
        (x["src_id"], x["nbr_id"], x["sim"], x["rk"])
        for x in l.join(
            r, (F.col("src_id") != F.col("nbr_id")) & (F.col("ba") == F.col("bb"))
        )
        .withColumn("sim", F.round(cosine("emb_a", "emb_b"), ROUND))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .collect()
    }
    got = {
        (x["src_id"], x["nbr_id"], x["sim"], x["rk"])
        for x in knn_graph(emb, k=3, block=sign_bucket("embedding", 3)).collect()
    }
    assert got == want


def test_knn_graph_multitable_guard_and_union_semantics(spark):
    import pytest as _pytest

    from gistdex_spark.operators.dedup import knn_graph, knn_graph_multitable

    df = spark.createDataFrame(
        [(i, [float((i * 7) % 5 - 2), float(i % 3 - 1)]) for i in range(12)],
        schema="vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    # The dim guard is IN the plan (raise_error on every row — it also
    # catches ragged arrays past row 0, which an eager first() sample
    # could not), so it surfaces on action, not at call time.
    with _pytest.raises(Exception, match="need 60 dims"):
        knn_graph_multitable(df, nbits=6, n_tables=10).collect()
    # With every dimension covered by one 2-bit table, the union over
    # 1 table must equal the plain blocked graph.
    from gistdex_spark.operators.similarity import sign_bucket

    mt = {
        (r.src_id, r.nbr_id, r.sim, r.rk)
        for r in knn_graph_multitable(df, k=3, nbits=2, n_tables=1).collect()
    }
    single = {
        (r.src_id, r.nbr_id, r.sim, r.rk)
        for r in knn_graph(df, k=3, block=sign_bucket("embedding", 2)).collect()
    }
    assert mt == single


def test_pair_block_guard_rejects_driver_blowup(spark, emb):
    """The unordered block-pair frame is driver-built: block counts past
    the ceiling must fail loudly, pointing at the bounded scale paths,
    instead of materializing a multi-billion-row literal."""
    import pytest as _pytest

    from gistdex_spark.operators.dedup import (
        embedding_neardup_pairs,
        knn_graph,
    )

    with _pytest.raises(ValueError, match="scale paths"):
        knn_graph(emb, k=2, n_blocks=5000)
    with _pytest.raises(ValueError, match="scale paths"):
        embedding_neardup_pairs(emb, threshold=0.5, n_blocks=5000)


def test_hot_bucket_sub_split_bounds_tasks_and_preserves_values(spark):
    """The bucket-size cap: a skewed corpus (one sign bucket holding
    >50% of rows) must be sub-split into kernel tasks each bounded at
    ~2*block_rows member rows, and the blocked graph's VALUES must be
    identical to the un-split (huge block_rows) form — the candidate
    set is all within-bucket pairs either way; only task boundaries
    move."""
    from pyspark.sql import functions as F

    from gistdex_spark.operators.dedup import _bucket_pair_packs, knn_graph

    rng = random.Random(11)
    rows = []
    for i in range(300):
        if i < 200:  # 2/3 of rows share the sign pattern of dims 0..2
            v = [abs(rng.gauss(0, 1)) + 0.05 for _ in range(3)]
            v += [rng.gauss(0, 1) for _ in range(5)]
        else:
            v = [rng.gauss(0, 1) for _ in range(8)]
        rows.append((i, v))
    df = spark.createDataFrame(
        rows, schema="vec_id BIGINT, embedding ARRAY<DOUBLE>"
    )

    split = {
        tuple(r)
        for r in knn_graph(
            df, k=3, block=sign_bucket("embedding", 3), block_rows=40
        ).collect()
    }
    unsplit = {
        tuple(r)
        for r in knn_graph(
            df, k=3, block=sign_bucket("embedding", 3), block_rows=10**9
        ).collect()
    }
    assert split == unsplit
    assert len(split) > 0

    # Per-task bound: no pack row (one kernel task) may hold more than
    # ~2*block_rows members even though the hot bucket has 200.
    blocked = df.select(
        F.col("vec_id").alias("id"),
        "embedding",
        sign_bucket("embedding", 3).alias("blk"),
    )
    packs = _bucket_pair_packs(blocked, block_rows=40)
    worst = packs.select(
        (F.size("m_a") + F.size("m_b")).alias("n")
    ).agg(F.max("n")).first()[0]
    hot = blocked.groupBy("blk").count().agg(F.max("count")).first()[0]
    assert hot >= 150  # the skew is real
    # hash sub-split is uneven; 2x average + slack, far under the hot size
    assert worst <= 4 * 40
    # and the un-split form would have packed the hot bucket whole:
    whole = _bucket_pair_packs(blocked, block_rows=10**9)
    worst_whole = whole.select(
        (F.size("m_a") + F.size("m_b")).alias("n")
    ).agg(F.max("n")).first()[0]
    assert worst_whole >= 2 * hot - 2


def test_blocked_graph_plan_is_broadcast_capped(spark, emb):
    """The capped blocked path must attach n_sub via a BROADCAST of the
    tiny sizes agg (never a payload shuffle join) and keep the pair
    meeting equality-keyed — no nested-loop/cartesian anywhere."""
    from gistdex_spark.operators.dedup import knn_graph

    df = knn_graph(emb, k=3, block=sign_bucket("embedding", 3))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan  # the sizes (n_sub) attach


def test_blocked_graph_null_bucket_participates(spark):
    """A custom block column may evaluate to NULL; the null-key bucket
    must still form (null-SAFE n_sub attach) — an equality join would
    silently drop those rows from the graph."""
    from gistdex_spark.operators.dedup import knn_graph

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0], "a"),
            (2, [0.9, 0.1], "a"),
            (3, [0.0, 1.0], None),
            (4, [0.1, 0.9], None),
        ],
        "vec_id bigint, embedding array<double>, grp string",
    )
    edges = sorted(
        (r.src_id, r.nbr_id)
        for r in knn_graph(df, k=2, block=F.col("grp")).collect()
    )
    assert edges == [(1, 2), (2, 1), (3, 4), (4, 3)]


def test_knn_graph_high_dim_gemm_margin(spark):
    """The GEMM pre-rank's reordering bound grows with dimension
    (≤ d·eps relative); real embedding corpora run d = 512-4096, not the
    fixtures' 8-16. At d = 512 with clustered near-dup structure and
    rounded-sim ties, the kernel must still equal the naive window form
    exactly — the margin argument at two orders of magnitude more
    accumulation."""
    import random as _r

    from gistdex_spark.operators.dedup import knn_graph

    rng = _r.Random(13)
    base = [[rng.gauss(0, 1) for _ in range(512)] for _ in range(8)]
    rows = []
    for i in range(96):
        b = base[i % 8]
        # near-dups of 8 anchors (tight clusters -> high-sim ties) plus
        # an exact duplicate pair and a zero vector
        v = [x * (1 + rng.uniform(-0.01, 0.01)) for x in b]
        rows.append((i, v))
    rows.append((96, list(rows[3][1])))
    rows.append((97, [0.0] * 512))
    df = spark.createDataFrame(
        rows, schema="vec_id BIGINT, embedding ARRAY<DOUBLE>"
    )
    want = _window_knn(df, 4)
    got = {
        (x["src_id"], x["nbr_id"], x["sim"], x["rk"])
        for x in knn_graph(df, k=4, n_blocks=5).collect()
    }
    assert got == want


def test_bucket_pair_packs_cover_each_pair_exactly_once(spark):
    """Structural exactness of the capped pack: across every task row,
    each unordered within-bucket pair of ids must be coverable exactly
    once — diagonal tasks cover their m_a×m_a pairs, off-diagonal tasks
    their m_a×m_b cross pairs — for EVERY split granularity (block_rows
    from forcing ~10 sub-blocks down to none)."""
    import itertools
    import random as _r

    from gistdex_spark.operators.dedup import _bucket_pair_packs

    rng = _r.Random(3)
    rows = [(i, [float(rng.randint(0, 3))], i % 3) for i in range(57)]
    df = spark.createDataFrame(rows, "id bigint, embedding array<double>, blk int")
    by_bucket = {}
    for i, _, b in rows:
        by_bucket.setdefault(b, []).append(i)
    want = {
        frozenset(p)
        for ids in by_bucket.values()
        for p in itertools.combinations(ids, 2)
    }
    for block_rows in (2, 5, 19, 10**9):
        got = []
        for r in _bucket_pair_packs(df, block_rows).collect():
            a = [m["id"] for m in r["m_a"]]
            b = [m["id"] for m in r["m_b"]]
            if r["blk_a"] == r["blk_b"]:
                got.extend(frozenset(p) for p in itertools.combinations(a, 2))
            else:
                got.extend(
                    frozenset((x, y)) for x in a for y in b
                )
        assert sorted(map(sorted, got)) == sorted(map(sorted, want)), (
            f"block_rows={block_rows}"
        )
