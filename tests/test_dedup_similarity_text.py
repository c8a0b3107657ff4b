"""Dedup family, similarity search, and text functions vs small oracles."""

from __future__ import annotations

import itertools
import random
import re
import warnings

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pysemantic_spark.functions import text as tx
from pysemantic_spark.operators import dedup, similarity
from pysemantic_spark.operators.cache import tracked_intermediates

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),      # near-dup of 0
    (2, "completely different content about spark engines"),
    (3, "the quick brown fox jumps over the lazy dog"),      # exact dup of 0
    (4, "spark engines process completely different content"),
    (5, ""),                                                  # degenerate
    (6, "tiny"),
]


def _jaccard(a: str, b: str, n: int = 2) -> float:
    def sh(t):
        toks = t.split()
        return set(" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1))
    A, B = sh(a), sh(b)
    return len(A & B) / len(A | B) if A | B else 0.0


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(pd.DataFrame(DOCS, columns=["doc_id", "text"]))


def test_exact_duplicates(spark, docs_df):
    got = dedup.exact_duplicates(docs_df, ["text"]).collect()
    assert len(got) == 1 and got[0]["dup_count"] == 2


def test_fingerprint_duplicates_whitespace_insensitive(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["A  b\tc", "a b c"]})
    )
    got = dedup.text_fingerprint_duplicates(df, "doc_id", "text").collect()
    assert len(got) == 1 and got[0]["ids"] == [1, 2]


def test_ngram_jaccard_matches_python_oracle(spark, docs_df):
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(
            docs_df, "doc_id", "text", n=2, threshold=0.3
        ).collect()
    }
    exp = {}
    for (i, a), (j, b) in itertools.combinations(DOCS, 2):
        jc = _jaccard(a, b, 2)
        if jc >= 0.3:
            exp[(i, j)] = round(jc, 6)
    assert got == exp


def test_minhash_lsh_finds_near_dups(spark, docs_df):
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(
            docs_df, "doc_id", "text", n=2, num_hashes=64, bands=32, threshold=0.3
        ).collect()
    }
    assert (0, 3) in got  # exact dup always collides
    assert (0, 1) in got  # near dup (j≈0.78)
    assert all(_jaccard(DOCS[a][1], DOCS[b][1], 2) >= 0.3 for a, b in got)


def test_simhash_exact_dup_zero_hamming(spark, docs_df):
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_near_dup_pairs(
            docs_df, "doc_id", "text", max_hamming=10
        ).collect()
    }
    assert got.get((0, 3)) == 0
    assert (0, 2) not in got  # dissimilar docs far apart


def test_keep_first_deterministic(spark):
    pdf = pd.DataFrame(
        {"k": [1, 1, 2], "ord": [5, 3, 9], "v": ["late", "early", "solo"]}
    )
    df = spark.createDataFrame(pdf)
    got = dedup.exact_dedup_keep_first(df, ["k"], ["ord"]).orderBy("k").collect()
    assert [r["v"] for r in got] == ["early", "solo"]


# --- similarity -------------------------------------------------------------

@pytest.fixture(scope="module")
def emb_df(spark):
    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((50, 8)).astype(float)
    vecs[7] = vecs[0] * 2.0           # same direction as 0 → cosine 1
    vecs[9] = -vecs[0]                # opposite
    pdf = pd.DataFrame(
        {"vec_id": range(50), "embedding": [list(map(float, v)) for v in vecs]}
    )
    return spark.createDataFrame(pdf), vecs


def test_cosine_topk_exact(spark, emb_df):
    df, vecs = emb_df
    queries = df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = similarity.cosine_topk(df, queries, k=3).collect()
    # oracle: numpy cosine
    q = vecs[0]
    cos = vecs @ q / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q))
    order = sorted(range(50), key=lambda i: (-round(cos[i], 6), i))[:3]
    assert [r["vec_id"] for r in got] == order
    assert got[0]["cos_sim"] == 1.0 and {r["vec_id"] for r in got} >= {0, 7}


def test_lsh_topk_subset_of_bucket(spark, emb_df):
    df, vecs = emb_df
    queries = df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = similarity.lsh_bucketed_topk(df, queries, dim=8, k=5, n_planes=4).collect()
    assert 0 in {r["vec_id"] for r in got}  # identical vector same bucket
    assert all(r["cos_sim"] <= 1.000001 for r in got)


def test_lsh_topk_multiprobe_recall_dominates_single(spark, emb_df):
    """Multi-probe candidates are a superset of the exact-bucket ones, so
    for every query each rank's cos_sim is >= the single-probe result; and
    against the exact brute-force top-k the multi-probe recall must be at
    least the single-probe recall."""
    df, _ = emb_df
    queries = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def sims(n_probe_bits):
        rows = similarity.lsh_bucketed_topk(
            df, queries, dim=8, k=5, n_planes=4, n_probe_bits=n_probe_bits
        ).collect()
        out = {}
        for r in rows:
            out.setdefault(r["query_id"], []).append(r["cos_sim"])
        return {q: sorted(v, reverse=True) for q, v in out.items()}

    single, multi = sims(0), sims(1)
    for q, m in multi.items():
        s_ = single.get(q, [])
        assert len(m) >= len(s_)
        for rank, sim in enumerate(s_):
            assert m[rank] >= sim - 1e-9, (q, rank)


def test_embedding_near_dup_pairs(spark, emb_df):
    df, _ = emb_df
    got = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in similarity.embedding_near_dup_pairs(
            df, dim=8, threshold=0.999, n_planes=4
        ).collect()
    }
    assert got.get((0, 7)) == 1.0
    assert (0, 9) not in got


def test_embedding_near_dup_multi_table_recall(spark):
    """Multi-table LSH must recover the recall a single sign-LSH table
    loses at moderate thresholds: at cos 0.5 one 6-plane table collides
    with p = (2/3)^6 ≈ 0.088, while 24 tables give 1-(1-p)^24 ≈ 0.89.
    Built per-pair: 120 planted pairs at ~55-60 deg (cos ~0.52-0.57)."""
    import numpy as np

    rng = np.random.default_rng(3)
    rows = []
    n_pairs, dim = 120, 16
    for i in range(n_pairs):
        a = rng.standard_normal(dim)
        a /= np.linalg.norm(a)
        # rotate by an angle giving cos in (0.52, 0.57): still >= 0.5
        o = rng.standard_normal(dim)
        o -= o.dot(a) * a
        o /= np.linalg.norm(o)
        theta = np.arccos(rng.uniform(0.52, 0.57))
        b = np.cos(theta) * a + np.sin(theta) * o
        rows.append((2 * i, [float(x) for x in 10 * a]))
        rows.append((2 * i + 1, [float(x) for x in 10 * b]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def recall(n_tables):
        got = similarity.embedding_near_dup_pairs(
            df, dim=dim, threshold=0.5, n_planes=6, n_tables=n_tables
        ).collect()
        planted = {(r["id_a"], r["id_b"]) for r in got
                   if r["id_b"] == r["id_a"] + 1 and r["id_a"] % 2 == 0}
        return len(planted) / n_pairs

    r1, r24 = recall(1), recall(24)
    assert r1 < 0.35          # single table demonstrably lossy here
    assert r24 > 0.75         # multi-table recovers (E ~ 0.89)
    assert r24 > r1 + 0.3


# --- text functions ----------------------------------------------------------

def test_text_functions(spark):
    pdf = pd.DataFrame(
        {
            "t": [
                "the cat and the dog",
                "",
                "  spaced   out  ",
                "¡¡¡???",
            ]
        }
    )
    df = spark.createDataFrame(pdf)
    got = df.select(
        tx.token_count("t").alias("n"),
        tx.distinct_token_count("t").alias("d"),
        F.round(tx.punct_ratio("t"), 4).alias("p"),
        tx.lang_id("t").alias("lang"),
        tx.fingerprint("t").alias("fp"),
    ).collect()
    assert [r["n"] for r in got] == [5, 0, 2, 1]
    assert [r["d"] for r in got] == [4, 0, 2, 1]
    assert got[0]["lang"] == "en"
    assert got[1]["lang"] == "und"
    assert got[3]["p"] == 1.0
    import hashlib

    assert got[0]["fp"] == hashlib.md5(b"the cat and the dog").hexdigest()
    assert got[2]["fp"] == hashlib.md5(b"spaced out").hexdigest()


def test_quality_score_ordering(spark):
    pdf = pd.DataFrame(
        {
            "t": [
                "the quick brown fox is a fine and healthy animal of the forest",
                "!!!! ???? @@@@ ####",
            ]
        }
    )
    df = spark.createDataFrame(pdf)
    got = [r[0] for r in df.select(tx.quality_score("t")).collect()]
    assert got[0] > got[1]
    assert 0.0 <= got[1] <= got[0] <= 1.0


def test_ivf_topk_finds_identical_vector(spark, emb_df):
    df, vecs = emb_df
    queries = df.filter(F.col("vec_id").isin(0, 5)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = similarity.ivf_topk(df, queries, dim=8, k=3, n_centroids=4).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["vec_id"], r["cos_sim"]))
    # each query's own vector is in its cluster → rank 1 with cos 1.0
    assert by_q[0][0] == (0, 1.0)
    assert by_q[5][0] == (5, 1.0)
    # vec 7 = 2*vec0 has identical direction → same cluster region, found
    assert any(v == 7 for v, _ in by_q[0])


def test_cosine_pairs_exact_matches_numpy(spark, emb_df):
    """Blocked-GEMM all-pairs equals the O(n^2) numpy oracle exactly —
    same pair set, same cosines (to 6dp), across block-boundary splits."""
    df, vecs = emb_df
    vn = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    g = vn @ vn.T
    for thr in (0.5, 0.9):
        exact = {
            (i, j): round(float(g[i, j]), 6)
            for i in range(len(vecs))
            for j in range(i + 1, len(vecs))
            if g[i, j] >= thr
        }
        for n_blocks in (1, 7):
            got = {
                (r["id_a"], r["id_b"]): r["cos_sim"]
                for r in similarity.cosine_pairs_exact(
                    df, threshold=thr, n_blocks=n_blocks
                ).collect()
            }
            assert got.keys() == exact.keys(), (thr, n_blocks)
            for k_, v in got.items():
                assert v == pytest.approx(exact[k_], abs=2e-6)


def test_near_dup_multiprobe_recall_dominates(spark):
    """1-bit multi-probe candidates per table are a strict superset of the
    exact-bucket candidates, so recall at equal tables can only rise."""
    rng = np.random.default_rng(11)
    rows = []
    n_pairs, dim = 80, 16
    for i in range(n_pairs):
        a = rng.standard_normal(dim); a /= np.linalg.norm(a)
        o = rng.standard_normal(dim); o -= o.dot(a) * a; o /= np.linalg.norm(o)
        theta = np.arccos(rng.uniform(0.52, 0.57))
        b = np.cos(theta) * a + np.sin(theta) * o
        rows.append((2 * i, [float(x) for x in a]))
        rows.append((2 * i + 1, [float(x) for x in b]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def recall(n_probe_bits, n_tables):
        got = similarity.embedding_near_dup_pairs(
            df, dim=dim, threshold=0.5, n_planes=8,
            n_tables=n_tables, n_probe_bits=n_probe_bits,
        ).collect()
        planted = {(r["id_a"], r["id_b"]) for r in got
                   if r["id_b"] == r["id_a"] + 1 and r["id_a"] % 2 == 0}
        return len(planted) / n_pairs

    r0, r1 = recall(0, 6), recall(1, 6)
    assert r1 >= r0
    assert r1 > 0.5  # p = q^8 + 8 q^7 (1-q) ~ 0.25/table at cos .52 -> E[r1@6] ~ .82


def test_lsh_topk_multi_table_recall_dominates_single(spark, emb_df):
    """n_tables=L candidates ⊇ table-0 candidates (table 0 uses the same
    seed), so per-rank cos_sim can only improve."""
    df, _ = emb_df
    queries = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def sims(n_tables):
        rows = similarity.lsh_bucketed_topk(
            df, queries, dim=8, k=5, n_planes=4, n_probe_bits=1,
            n_tables=n_tables,
        ).collect()
        out = {}
        for r in rows:
            out.setdefault(r["query_id"], []).append(r["cos_sim"])
        return {q: sorted(v, reverse=True) for q, v in out.items()}

    single, multi = sims(1), sims(8)
    for q, m in multi.items():
        s_ = single.get(q, [])
        assert len(m) >= len(s_)
        for rank, sim in enumerate(s_):
            assert m[rank] >= sim - 1e-9, (q, rank)


def test_ivf_nprobe_recall_dominates(spark, emb_df):
    """n_probe=3 candidate clusters ⊇ n_probe=1's nearest cluster, so each
    rank's cos_sim can only improve; self-vector is always found."""
    df, _ = emb_df
    queries = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def sims(n_probe):
        rows = similarity.ivf_topk(
            df, queries, dim=8, k=5, n_centroids=4, n_probe=n_probe
        ).collect()
        out = {}
        for r in rows:
            out.setdefault(r["query_id"], []).append(r["cos_sim"])
        return {q: sorted(v, reverse=True) for q, v in out.items()}

    p1, p3 = sims(1), sims(3)
    for q, m in p3.items():
        s_ = p1.get(q, [])
        assert len(m) >= len(s_)
        for rank, sim in enumerate(s_):
            assert m[rank] >= sim - 1e-9, (q, rank)
        assert m[0] == pytest.approx(1.0)  # self always in own cluster


# --- NULL and ragged embedding rows ----------------------------------------

def _with_rows(spark, vecs, extra):
    """(with, without): the 8-d fixture vectors with ``extra`` (id, vector)
    rows placed FIRST, so any id/vector misalignment shifts real rows."""
    base = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    schema = "vec_id long, embedding array<double>"
    return (
        spark.createDataFrame(extra + base, schema),
        spark.createDataFrame(base, schema),
    )


def test_cosine_pairs_exact_null_row_never_pairs(spark):
    """A NULL vector is dropped before packing: collect_list skips the
    vector but would keep its id, shifting later ids onto the wrong
    vectors. Six 4-d vectors, NULL at id 1: the one true pair is (4, 5)."""
    vecs = [[1, 0, 0, 0], None, [0, 1, 0, 0], [0, 0, 1, 0], [0, 0, 0, 1],
            [0, 0, 0, 2]]
    schema = "vec_id long, embedding array<double>"
    rows = [(i, None if v is None else [float(x) for x in v])
            for i, v in enumerate(vecs)]
    with_null = spark.createDataFrame(rows, schema).coalesce(1)
    without = spark.createDataFrame([r for r in rows if r[1] is not None], schema)
    for n_blocks in (1, 3):
        def pairs(df):
            return {tuple(r) for r in similarity.cosine_pairs_exact(
                df, threshold=0.9, n_blocks=n_blocks).collect()}
        assert pairs(with_null) == pairs(without) == {(4, 5, 1.0)}


def test_embedding_near_dup_pairs_null_row_never_pairs(spark, emb_df):
    _, vecs = emb_df
    with_null, without = _with_rows(spark, vecs, [(100, None), (101, None)])

    def pairs(df):
        return sorted(map(tuple, similarity.embedding_near_dup_pairs(
            df, dim=8, threshold=0.6, n_planes=4, n_tables=4, n_probe_bits=1
        ).collect()))

    got = pairs(with_null)
    assert got == pairs(without)
    assert (0, 7, 1.0) in got


def test_topk_null_rows_never_candidates(spark, emb_df):
    """NULL corpus rows are never candidates and NULL queries score
    nothing, in the exact and both approximate top-k paths."""
    _, vecs = emb_df
    with_null, without = _with_rows(spark, vecs, [(100, None)])

    def queries(df):
        return df.filter(F.col("vec_id").isin(0, 5, 100)).select(
            F.col("vec_id").alias("query_id"), "embedding")

    for op, kw in (
        (similarity.cosine_topk, {}),
        (similarity.lsh_bucketed_topk, dict(dim=8, n_planes=4, n_tables=2)),
        (similarity.ivf_topk, dict(dim=8, n_centroids=4, n_probe=2)),
    ):
        def topk(df):
            return sorted(map(tuple, op(df, queries(df), k=5, **kw).collect()))

        got = topk(with_null)
        assert got == topk(without), op.__name__
        assert {q for q, _, _ in got} == {0, 5}, op.__name__


def test_ragged_row_raises_named_error(spark, emb_df):
    """An embedding whose length is not the operator's dimension raises
    EmbeddingDimensionError naming both lengths, from every operator that
    stacks vectors (raised in a Python worker, Spark carries the name and
    message in its exception)."""
    _, vecs = emb_df
    df, _ = _with_rows(spark, vecs, [(100, [1.0] * 7)])
    queries = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")

    def raises_named(run, msg):
        with pytest.raises(Exception) as ei:
            run().collect()
        # driver-side (IVF training) the error itself; worker-side Spark's
        # exception, whose text carries the worker traceback
        assert re.search(f"EmbeddingDimensionError: {msg}",
                         f"{ei.type.__name__}: {ei.value}")

    named = "embedding row has length 7, expected 8"
    raises_named(lambda: similarity.embedding_near_dup_pairs(
        df, dim=8, threshold=0.9), named)
    raises_named(lambda: similarity.lsh_bucketed_topk(
        df, queries, dim=8, k=3), named)
    raises_named(lambda: similarity.ivf_topk(
        df, queries, dim=8, k=3, n_centroids=4), named)
    # cosine_topk has no dim: each candidate is checked against its query
    raises_named(lambda: similarity.cosine_topk(df, queries, k=3), named)
    # cosine_pairs_exact has no dim: a block's first row sets it
    raises_named(lambda: similarity.cosine_pairs_exact(
        df, threshold=0.9, n_blocks=2),
        "embedding row has length (7, expected 8|8, expected 7)")


def _ivf_probe_rows(spark, X, cents, n_probe):
    df = spark.createDataFrame(
        [(i, [float(v) for v in x]) for i, x in enumerate(X)],
        "vec_id long, embedding array<double>",
    )
    got = df.select(
        "vec_id",
        similarity._ivf_probe(F.col("embedding"), cents, n_probe).alias("probe"),
        similarity._ivf_probe(F.col("embedding"), cents, 1)[0].alias("own"),
    ).orderBy("vec_id").collect()
    return np.array([r["probe"] for r in got]), np.array([r["own"] for r in got])


@pytest.mark.parametrize("n_probe", [1, 3])
def test_ivf_probe_kernel_matches_numpy(spark, n_probe):
    """The one IVF kernel returns the n_probe nearest centroids by squared
    L2, nearest first, exactly as a numpy brute force over ||x - c||² with
    a stable argsort (lowest id wins a tie); and every corpus vector used
    as a query probes its own corpus-side (element 0) cluster first."""
    rng = np.random.default_rng(5)

    def brute(X, C):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)
        return np.argsort(d, axis=1, kind="stable")[:, :n_probe]

    # random centroids and vectors: no ties
    cents = rng.standard_normal((7, 8))
    X = rng.standard_normal((300, 8))
    probe, own = _ivf_probe_rows(spark, X, cents, n_probe)
    np.testing.assert_array_equal(probe, brute(X, cents))
    np.testing.assert_array_equal(probe[:, 0], own)
    # planted EXACT ties (small integers: every distance is exact in
    # float64): centroid 3 duplicates 0, and the vectors sit equidistant
    # to two or more centroids
    cents = np.array(
        [[1, 0, 0, 0], [0, 1, 0, 0], [0, 0, 2, 0], [1, 0, 0, 0], [-1, 0, 0, 0]],
        dtype=float,
    )
    X = np.array(
        [[1, 0, 0, 0], [1, 1, 0, 0], [0, 0, 0, 0], [0, 1, 1, 0], [0, 0, 0, 3]],
        dtype=float,
    )
    probe, own = _ivf_probe_rows(spark, X, cents, n_probe)
    np.testing.assert_array_equal(probe, brute(X, cents))
    np.testing.assert_array_equal(probe[:, 0], own)
    assert list(own) == [0, 0, 0, 1, 0]


# --- SimHash -----------------------------------------------------------------

def test_simhash_banding_exhaustive_at_radius(spark):
    """The pigeonhole candidate join is exhaustive: the pair set must EQUAL
    the brute-force hamming-<=r pair set of the fingerprints (round-2
    VERDICT #7)."""
    pdf = pd.DataFrame(
        {
            "doc_id": range(40),
            "text": [
                f"alpha beta gamma delta {i % 5} epsilon zeta eta theta"
                for i in range(40)
            ],
        }
    )
    df = spark.createDataFrame(pdf)
    r = 8
    fps = {
        row["_id"]: row["simhash"]
        for row in dedup.simhash_fingerprints(
            df, "doc_id", "text", n_bands=r + 1
        ).collect()
    }
    mask = (1 << 64) - 1  # fingerprints are signed 64-bit longs
    exact = {
        (a, b)
        for a in fps
        for b in fps
        if a < b and bin((fps[a] ^ fps[b]) & mask).count("1") <= r
    }
    got = {
        (row["id_a"], row["id_b"])
        for row in dedup.simhash_near_dup_pairs(
            df, "doc_id", "text", max_hamming=r
        ).collect()
    }
    assert got == exact and len(exact) > 0


def test_simhash_portable_hash_matches_duckdb(spark):
    """The portable 60-bit md5 token hash must be byte-identical in DuckDB
    (the cross-engine verification contract of portable_hash=True)."""
    import duckdb

    texts = ["hello world", "wörld ünïcode", "a b c d e"]
    pdf = pd.DataFrame({"doc_id": range(3), "text": texts})
    spark_fps = {
        r["_id"]: r["simhash"]
        for r in dedup.simhash_fingerprints(
            spark.createDataFrame(pdf), "doc_id", "text", portable_hash=True
        ).collect()
    }
    votes = ", ".join(
        f"sum(case when (hv >> {i}) & 1 = 1 then 1 else -1 end) as v{i}"
        for i in range(60)
    )
    fp = " + ".join(
        f"(case when v{i} > 0 then (1::BIGINT << {i}) else 0 end)"
        for i in range(60)
    )
    con = duckdb.connect()
    con.register("docs", pdf)
    duck_fps = dict(
        con.execute(
            f"""WITH tok AS (SELECT doc_id,
                    unnest(string_split_regex(trim(text), '\\s+')) AS t
                FROM docs WHERE trim(text) <> ''),
            h AS (SELECT doc_id, ('0x' || substr(md5(t),1,15))::BIGINT hv FROM tok),
            v AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id)
            SELECT doc_id, {fp} FROM v"""
        ).fetchall()
    )
    assert spark_fps == duck_fps


def _hamming(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")  # signed 64-bit longs


def test_multiword_simhash_equals_brute_force(spark, rand_docs):
    """Property: the candidate join over a 2-word (128-bit) fingerprint
    returns EXACTLY the hamming<=r pair set of the fingerprints."""
    docs = rand_docs()
    df = spark.createDataFrame(pd.DataFrame(docs, columns=["doc_id", "text"]))
    r = 8
    with tracked_intermediates():
        got = {
            (x["id_a"], x["id_b"], x["hamming"])
            for x in dedup.simhash_near_dup_pairs(
                df, "doc_id", "text", max_hamming=r, n_words=2
            ).collect()
        }
        fps = (
            dedup.simhash_fingerprints(df, "doc_id", "text", n_bands=9, n_words=2)
            .select("_id", "simhash", "simhash1")
            .collect()
        )
    exp = set()
    for i, a in enumerate(fps):
        for b in fps[i + 1:]:
            h = _hamming(a["simhash"], b["simhash"]) + _hamming(
                a["simhash1"], b["simhash1"]
            )
            if h <= r:
                lo, hi = sorted((a["_id"], b["_id"]))
                exp.add((lo, hi, h))
    assert got == exp
    assert exp, "fixture produced no near-dup pairs — test is vacuous"


def test_simhash_band_width_warning(spark, rand_docs):
    docs = rand_docs(n_docs=5)
    df = spark.createDataFrame(pd.DataFrame(docs, columns=["doc_id", "text"]))
    with pytest.warns(UserWarning, match="narrowest band"):
        dedup.simhash_fingerprints(df, "doc_id", "text", n_bands=9, n_words=1)
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # 2 words x 9 bands -> >=12-bit bands
        dedup.simhash_fingerprints(df, "doc_id", "text", n_bands=9, n_words=2)
    # pairs at (64 bits, 1 word, r=5): the 2 expansion chunks would be 32
    # bits (past the expansion cap), so 6 bands of 10-11 bits it is
    with pytest.warns(UserWarning, match="narrowest band is 10 bits"):
        dedup.simhash_near_dup_pairs(df, "doc_id", "text", max_hamming=5)
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # r=8 takes the expansion: no bands
        dedup.simhash_near_dup_pairs(df, "doc_id", "text", max_hamming=8)


def test_single_word_simhash_layout_unchanged(spark, rand_docs):
    """n_words=1 must keep the round-3 schema (simhash + band0..3) so the
    portable DuckDB oracle stays byte-identical."""
    docs = rand_docs(n_docs=5)
    df = spark.createDataFrame(pd.DataFrame(docs, columns=["doc_id", "text"]))
    cols = dedup.simhash_fingerprints(
        df, "doc_id", "text", n_bands=4, portable_hash=True
    ).columns
    assert cols == ["_id", "simhash", "band0", "band1", "band2", "band3"]


def test_arrow_simhash_words_match_jvm(spark, edge_df):
    """The portable words of the Arrow kernel (what the operators use) are
    byte-identical to the md5 branch of the JVM bit-vote aggregate."""
    tokf = edge_df.select(
        F.col("doc_id").alias("_id"), dedup.tokens("text").alias("_tok")
    )
    for n_words in (1, 2):
        jvm = dedup._simhash_words_jvm(tokf, True, n_words)
        py = dedup._simhash_words(tokf, True, n_words)
        assert jvm.exceptAll(py).count() == 0
        assert py.exceptAll(jvm).count() == 0


@pytest.mark.parametrize("portable", [True, False])
def test_simhash_expansion_equals_banding(spark, portable):
    """The candidate join at k=2 over 3 chunks (the pigeonhole query
    expansion the operator picks at r=8 on one 60-bit md5 or 64-bit
    xxhash64 word) and at k=0 over r+1 = 9 chunks (exhaustive banding) are
    both exact, so both must equal the brute-force hamming-<=r pair set of
    the fingerprints, hamming values included. The 64-bit words come from
    the JVM aggregate."""
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for i in range(250):
        toks = [rng.choice(vocab) for _ in range(rng.randint(8, 40))]
        rows.append((i, " ".join(toks)))
    # planted near-dups: light mutations of earlier docs
    for i in range(250, 300):
        base = list(rows[rng.randrange(0, 250)][1].split())
        base[rng.randrange(0, len(base))] = rng.choice(vocab)
        rows.append((i, " ".join(base)))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    tokf = dedup._materialize(
        df.select(F.col("doc_id").alias("_id"), dedup.tokens("text").alias("_tok"))
    )
    r, bits = 8, 60 if portable else 64
    three = dedup._simhash_chunks(bits, 1, 3)
    assert dedup._simhash_scheme(bits, 1, r) == (2, three)
    fps = dedup._materialize(dedup._simhash_words(tokf, portable, 1))

    def join(k, chunks):
        return {tuple(x) for x in dedup._simhash_join(fps, k, chunks, r).collect()}

    via_expansion = join(2, three)
    via_banding = join(0, dedup._simhash_chunks(bits, 1, r + 1))
    words = sorted((x["_id"], x["simhash"]) for x in fps.collect())
    brute = {
        (a, b, _hamming(wa, wb))
        for (a, wa), (b, wb) in itertools.combinations(words, 2)
        if _hamming(wa, wb) <= r
    }
    dedup.release_intermediates()
    assert via_expansion == via_banding == brute
    assert brute, "fixture produced no near-dup pairs - vacuous test"


def test_simhash_scheme_choice():
    """(k, chunk widths) the candidate join takes per (word bits, n_words,
    r): k=0 is exhaustive banding with r+1 chunks, kept when every chunk is
    >=12 bits or when the bounded expansion cannot be used."""
    cases = {
        (60, 1, 8): (2, [20, 20, 20]),  # the bench and oracle config
        (60, 2, 9): (0, [12] * 10),  # simhash_wide_documents
        (64, 1, 3): (0, [16] * 4),
        (64, 1, 5): (0, [11, 11, 11, 11, 10, 10]),  # 32-bit chunks: too wide
        (64, 1, 10): (2, [16] * 4),
        (64, 2, 15): (2, [22, 21, 21, 22, 21, 21]),
    }
    for (bits, n_words, r), (k, widths) in cases.items():
        got_k, chunks = dedup._simhash_scheme(bits, n_words, r)
        assert (got_k, [w for _, _, w in chunks]) == (k, widths), (bits, n_words, r)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_simhash_join_broadcast_follows_byte_threshold(spark, rand_docs):
    """The exact side broadcasts while rows x row bytes fit the session's
    adaptive broadcast threshold, for both k=0 (r=3) and k=2 (r=8); with
    the thresholds tiny the plan holds no BroadcastHashJoin and the pairs
    are unchanged. (The static threshold is disabled too, so that only the
    operator's own decision could broadcast.)"""
    df = spark.createDataFrame(
        pd.DataFrame(rand_docs(n_docs=40), columns=["doc_id", "text"])
    )
    keys = ("spark.sql.adaptive.autoBroadcastJoinThreshold",
            "spark.sql.autoBroadcastJoinThreshold")
    saved = {key: spark.conf.get(key) for key in keys}
    for r in (3, 8):
        def run():
            out = dedup.simhash_near_dup_pairs(
                df, "doc_id", "text", max_hamming=r, collapse_identical=False
            )
            rows = {tuple(x) for x in out.collect()}
            return rows, _plan(out)

        with tracked_intermediates():
            rows, plan = run()
        assert "BroadcastHashJoin" in plan, plan
        try:
            spark.conf.set(keys[0], "100b")
            spark.conf.set(keys[1], "-1")
            with tracked_intermediates():
                tiny_rows, tiny_plan = run()
        finally:
            for key, value in saved.items():
                if value is None:
                    spark.conf.unset(key)
                else:
                    spark.conf.set(key, value)
        assert "BroadcastHashJoin" not in tiny_plan, tiny_plan
        assert tiny_rows == rows and rows

