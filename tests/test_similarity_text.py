"""Similarity search and text-analysis operators (north-star ops)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from quill_agent_dashboard_pbi_etl_spark.functions import text as T
from quill_agent_dashboard_pbi_etl_spark.operators import similarity


def _emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk_orders_by_cosine(spark):
    vecs = _emb(
        spark,
        [
            (0, [1.0, 0.0]),
            (1, [1.0, 0.1]),   # closest to 0
            (2, [0.5, 0.5]),
            (3, [0.0, 1.0]),   # orthogonal
        ],
    )
    out = similarity.brute_force_topk(vecs, vecs.filter(F.col("vec_id") == 0), k=3)
    rows = out.collect()
    assert [r.neighbor_id for r in rows] == [1, 2, 3]
    assert rows[0].rank == 1
    assert abs(rows[1].cosine_sim - round(1 / math.sqrt(2), 6)) < 1e-9


def test_brute_force_topk_ties_break_by_neighbor_id_and_skip_self(spark):
    """Equal similarities rank by neighbor id ascending, a query never
    returns itself, and the per-partition trim before the rank window keeps
    the global order when tied rows sit in different partitions."""
    vecs = _emb(
        spark,
        [
            (0, [1.0, 0.0]),
            (5, [2.0, 0.0]),   # same direction as 0 and 3: sim 1.0
            (3, [3.0, 0.0]),
            (7, [1.0, 1.0]),
            (9, [0.0, 1.0]),
        ],
    ).repartition(3)
    queries = vecs.filter(F.col("vec_id").isin(0, 3))
    got = sorted(
        (r.query_id, r.rank, r.neighbor_id, r.cosine_sim)
        for r in similarity.brute_force_topk(vecs, queries, k=3).collect()
    )
    diag = round(1 / math.sqrt(2), 6)
    assert got == [
        (0, 1, 3, 1.0),
        (0, 2, 5, 1.0),
        (0, 3, 7, diag),
        (3, 1, 0, 1.0),
        (3, 2, 5, 1.0),
        (3, 3, 7, diag),
    ]


def test_ivf_assignment_and_topk(spark):
    corpus = _emb(
        spark,
        [(i, [1.0, 0.0]) for i in range(10, 13)] + [(i, [0.0, 1.0]) for i in range(20, 23)],
    )
    centroids = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    assigned = similarity._nearest_cells(similarity._vectors(corpus), centroids, 1)
    cells = {r.vec_id: r.centroid_id for r in assigned.collect()}
    assert all(cells[i] == 0 for i in (10, 11, 12))
    assert all(cells[i] == 1 for i in (20, 21, 22))
    # nprobe=1: query in cell 0 only sees cell-0 neighbors
    q = _emb(spark, [(10, [1.0, 0.0])])
    out = similarity.ivf_topk(corpus, q, centroids, k=5)
    assert {r.neighbor_id for r in out.collect()} == {11, 12}


def test_near_dup_by_cosine_finds_duplicates(spark):
    vecs = _emb(
        spark,
        [(1, [1.0, 2.0, 3.0]), (2, [1.0, 2.0, 3.0]), (3, [-3.0, 1.0, -2.0])],
    )
    pairs = {(r.vec_a, r.vec_b): r.cosine_sim for r in similarity.near_dup_by_cosine(vecs, threshold=0.99).collect()}
    assert pairs.get((1, 2)) == 1.0


def test_token_counts(spark):
    df = spark.createDataFrame([("Hello,  world! extraordinary",), ("",)], "text string")
    out = df.select(
        T.token_count(F.col("text")).alias("n"),
        T.bpe_ish_token_count(F.col("text")).alias("b"),
    ).collect()
    assert out[0].n == 3
    # hell+o+, + worl+d+! + extr+aord+inar+y = 10 pieces
    assert out[0].b == 10
    assert out[1].n == 0


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog in a house"),
            (2, "der hund und die katze ist ein tier"),
            (3, "xyzzy plugh qwerty"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.lang for r in df.select("doc_id", T.lang_id(F.col("text")).alias("lang")).collect()}
    assert out == {1: "en", 2: "de", 3: "und"}


def test_quality_score_bounds(spark):
    df = spark.createDataFrame(
        [("the quick brown fox jumps over the lazy dog " * 10,), ("!!!",)],
        "text string",
    )
    out = df.select(T.quality_score(F.col("text")).alias("q")).collect()
    assert out[0].q == 1.0
    assert out[1].q < 0.5


def test_fingerprint_token_order_invariant(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma alpha beta alpha")], "doc_id long, text string"
    )
    fps = [r.fp for r in df.select(T.fingerprint(F.col("text")).alias("fp")).collect()]
    assert fps[0] == fps[1]


def test_trained_ivf_beats_or_matches_fixed_centroids(spark):
    """k-means-trained IVF with nprobe=2 must achieve reasonable recall@5
    against the exact brute-force ranking (learned cells group the labeled
    clusters, so most true neighbors share the query's probed cells)."""
    from pyspark.sql import functions as F

    from quill_agent_dashboard_pbi_etl_spark.operators import similarity
    from quill_agent_dashboard_pbi_etl_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)

    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(emb, queries, k=5).collect()
    }
    model = similarity.train_ivf_centroid_rows(emb, n_cells=8, iters=3)
    trained = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivf_topk(emb, queries, model, n_probe=2, k=5).collect()
    }
    recall = len(exact & trained) / len(exact)
    assert recall >= 0.5, f"recall@5 {recall:.2f}"
    # and every query still returns k (or cell-limited) deterministic rows
    assert len({q for q, _ in trained}) == 10


def test_ngram_jaccard_doc_freq_cap(spark):
    """The stop-shingle cap must only shrink the candidate set: capped pairs
    are a subset of exact pairs, and pairs not touching capped shingles keep
    identical jaccard values."""
    from quill_agent_dashboard_pbi_etl_spark.operators import dedup
    from quill_agent_dashboard_pbi_etl_spark.sources.readers import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    capped = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5, max_doc_freq=50).collect()
    }
    assert set(capped) <= set(exact)
    for k, v in capped.items():
        assert v <= exact[k] + 1e-9  # lower bound, never inflated


def test_ngram_jaccard_prefix_filter_identical(spark):
    """The PPJoin prefix-filtered plan (df-ascending prefixes + size-ratio
    filter + array_intersect verification) must return EXACTLY the pairs and
    jaccard values of the inverted-index default — prefix filtering is a
    lossless candidate-pruning, never an approximation."""
    from quill_agent_dashboard_pbi_etl_spark.operators import dedup
    from quill_agent_dashboard_pbi_etl_spark.sources.readers import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    for threshold in (0.3, 0.5, 0.8):
        exact = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in dedup.ngram_jaccard_pairs(docs, threshold=threshold).collect()
        }
        ppjoin = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in dedup.ngram_jaccard_pairs(
                docs, threshold=threshold, prefix_filter=True
            ).collect()
        }
        assert ppjoin == exact, f"t={threshold}: {len(ppjoin)} vs {len(exact)}"


def test_all_pairs_cosine_exact_ground_truth(spark):
    vecs = _emb(
        spark,
        [
            (1, [1.0, 0.0]),
            (2, [1.0, 0.1]),     # cos(1,2) ≈ 0.995
            (3, [0.0, 1.0]),     # orthogonal to 1
            (4, [-1.0, 0.0]),    # opposite to 1
        ],
    )
    pairs = {
        (r.vec_a, r.vec_b): r.cosine_sim
        for r in similarity.blocked_near_dup_numpy(vecs, 0.9).collect()
    }
    assert set(pairs) == {(1, 2)}
    assert pairs[(1, 2)] > 0.99


def test_lsh_near_dup_recall_against_exact(spark):
    """Multi-table Rademacher LSH must recover ≥90% of the exact pairs on a
    clustered corpus (the embedding_lsh_recall driver contract)."""
    import random

    rng = random.Random(7)
    rows = []
    # 20 clusters × 10 members: unit-ish base vector + small noise → high
    # intra-cluster cosine, low cross-cluster cosine.
    for c in range(20):
        base = [rng.gauss(0, 1) for _ in range(32)]
        for m in range(10):
            noise = [b + rng.gauss(0, 0.15) for b in base]
            rows.append((c * 10 + m, [float(x) for x in noise]))
    vecs = _emb(spark, rows)
    exact = set(
        (r.vec_a, r.vec_b)
        for r in similarity.blocked_near_dup_numpy(vecs, 0.8).collect()
    )
    approx = set(
        (r.vec_a, r.vec_b)
        for r in similarity.near_dup_by_cosine(vecs, threshold=0.8).collect()
    )
    assert exact, "fixture must produce exact pairs"
    assert not approx - exact, "LSH must be a subset (exact verify stage)"
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.9, f"recall {recall:.3f} < 0.9 over {len(exact)} pairs"


def test_recall_harness_queries_report_in_contract(spark):
    from quill_agent_dashboard_pbi_etl_spark.plans import extensions  # noqa: F401
    from quill_agent_dashboard_pbi_etl_spark.plans.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    ivf = QUERIES["ann_ivf_recall"](spark, sf).collect()
    assert len(ivf) == 10 and all(r.recall_ok for r in ivf)
    lsh = QUERIES["embedding_lsh_recall"](spark, sf).collect()
    assert len(lsh) == 1 and lsh[0].recall_ok and lsh[0].n_exact_pairs > 0


def test_block_pairs_kernel_chunked_equals_dense():
    """The shared pair-verification kernel sweeps the similarity matrix in
    ≤64 MB chunks (the 100 TB memory-cliff guard: a 12.5k-row bucket must
    not materialize an n² float64 buffer per task). Pin that chunking is
    invisible: single-chunk (n ≤ 4096) and multi-chunk (n > 4096) inputs
    produce pairs bit-identical to a dense upper-triangular reference, with
    the vec_a < vec_b invariant intact. Pure numpy — no SparkSession."""
    import numpy as np
    import pandas as pd

    from quill_agent_dashboard_pbi_etl_spark.operators.similarity import (
        _block_pairs_fn,
    )

    rng = np.random.default_rng(11)
    for n in (2, 300, 5000):  # 5000 → chunk = 64MB/(8·5000) ≈ 1677 → 3 chunks
        ids = rng.permutation(n * 3)[:n].astype(np.int64)
        mat = rng.normal(size=(n, 16))
        for i in range(0, n - 1, 7):  # plant near-dups
            mat[i + 1] = mat[i] + rng.normal(scale=0.01, size=16)
        pdf = pd.DataFrame({"vec_id": ids, "embedding": list(mat)})

        order = np.argsort(ids)
        sids, smat = ids[order], mat[order]
        norms = np.linalg.norm(smat, axis=1)
        sims = np.round((smat @ smat.T) / np.outer(norms, norms), 6)
        iu = np.triu_indices(n, k=1)
        keep = sims[iu] >= 0.9
        ref = sorted(zip(sids[iu[0][keep]], sids[iu[1][keep]], sims[iu][keep]))

        got_df = _block_pairs_fn(0.9)(pdf)
        got = sorted(zip(got_df.vec_a, got_df.vec_b, got_df.cosine_sim))
        assert got == ref
        assert all(a < b for a, b, _ in got)
    # degenerate single-row group emits the empty frame with the contract cols
    empty = _block_pairs_fn(0.9)(
        pd.DataFrame({"vec_id": [1], "embedding": [np.ones(4)]})
    )
    assert list(empty.columns) == ["vec_a", "vec_b", "cosine_sim"] and empty.empty


def test_auto_bucket_bits_sizing():
    """Pin the LSH bucket-sizing rule bucket_bits = ceil(log2(n/target)):
    the floor reproduces the historical small-corpus default (driver/bench
    scales unchanged), the sf10 ladder rung lands on the measured t50_b8
    mitigation cell, and the value is clamped + monotone in n."""
    from quill_agent_dashboard_pbi_etl_spark.operators.similarity import (
        auto_bucket_bits,
    )

    assert auto_bucket_bits(0) == 2
    assert auto_bucket_bits(500) == 2          # driver sf0.01 corpus
    assert auto_bucket_bits(2_000) == 2        # bench sf0.1 corpus
    assert auto_bucket_bits(200_000) == 8      # sf10 ladder rung → t50_b8
    assert auto_bucket_bits(200_000_000) == 18
    assert auto_bucket_bits(10**12) == 24      # clamped at max_bits
    vals = [auto_bucket_bits(n) for n in (10, 10**3, 10**4, 10**5, 10**6, 10**9)]
    assert vals == sorted(vals), "auto_bucket_bits must be monotone in n"
    # manual override knobs still respected
    assert auto_bucket_bits(200_000, target_bucket_rows=50_000, min_bits=1) == 2
    assert auto_bucket_bits(10, min_bits=4) == 4


def test_near_dup_auto_bits_matches_explicit(spark):
    """bucket_bits=None (auto) must produce the identical pair set as the
    explicit historical default at small-corpus scale, proving the auto
    path is wired through the same kernel."""
    from quill_agent_dashboard_pbi_etl_spark.operators import similarity
    from quill_agent_dashboard_pbi_etl_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    auto = similarity.near_dup_by_cosine(emb, threshold=0.35)
    explicit = similarity.near_dup_by_cosine(emb, threshold=0.35, bucket_bits=2)
    a = sorted(map(tuple, auto.collect()))
    b = sorted(map(tuple, explicit.collect()))
    assert a == b and len(a) > 0


def test_auto_lsh_shape_sizing():
    """Pin the joint (bits, tables) auto-shape (round-7 advice): floor
    identity, recall-at-threshold ≥ floor config's recall, verify volume
    tables/2^bits ≤ the floor's 8/4, bits backed off instead of recall
    undershot when tables would exceed the cap."""
    from quill_agent_dashboard_pbi_etl_spark.operators.similarity import (
        auto_lsh_shape,
        sign_agreement_prob,
    )

    # floor bits → exactly the historical shape, any threshold
    for t in (0.0, 0.35, 0.5, 0.8, 0.95, 1.0):
        assert auto_lsh_shape(2, t) == (2, 8)
    # recall + volume invariants across the grid
    for t in (0.35, 0.5, 0.8, 0.95):
        p = sign_agreement_prob(t)
        floor_recall = 1 - (1 - p**2) ** 8
        for bits_in in (3, 5, 8, 10, 16, 24):
            b, n = auto_lsh_shape(bits_in, t)
            assert 2 <= b <= bits_in and 8 <= n <= 64
            assert 1 - (1 - p**b) ** n >= floor_recall - 1e-9
            assert n / 2**b <= 8 / 4 + 1e-9
    # low threshold: bits cap well below the input (tables would explode)
    assert auto_lsh_shape(10, 0.35) == (5, 42)
    # high threshold: bits keep their candidate-cut power
    b, n = auto_lsh_shape(10, 0.95)
    assert b == 10 and n <= 64


def test_near_dup_full_auto_matches_floor_at_small_scale(spark):
    """n_tables=None + bucket_bits=None (the new full-auto default) must be
    byte-identical to the historical (2 bits, 8 tables) at driver scale —
    the auto shape only diverges once auto bits exceed the floor."""
    from quill_agent_dashboard_pbi_etl_spark.operators import similarity
    from quill_agent_dashboard_pbi_etl_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    full_auto = similarity.near_dup_by_cosine(emb, threshold=0.35)
    pinned = similarity.near_dup_by_cosine(
        emb, threshold=0.35, bucket_bits=2, n_tables=8
    )
    a = sorted(map(tuple, full_auto.collect()))
    b = sorted(map(tuple, pinned.collect()))
    assert a == b and len(a) > 0


def test_nearest_cells_sql_form_matches_column_api_reference(spark):
    """_nearest_cells composes its argmax projection as ONE SQL string (r14:
    the Column-by-Column form cost a py4j round trip per centroid element).
    The SQL spellings must parse to the SAME Catalyst expressions — assert
    bit-identical output against a Column-API reference built the old way,
    over awkward doubles (shortest-repr round-trip: 1/3, 1e-300, -0.0), a
    vector of tiny but nonzero norm, an exact sim tie (centroid_id ASC
    break), and n_probe slicing. (A zero-norm vector is not a reachable
    input: under ANSI mode, the Spark 4 default this engine runs with, the
    0/0 cosine raises DIVIDE_BY_ZERO on both sides.)"""
    from pyspark.sql import functions as F

    from quill_agent_dashboard_pbi_etl_spark.operators.similarity import (
        _nearest_cells,
        cosine,
    )

    cent_rows = [
        (7, [1.0 / 3.0, 1e-300, -0.0, 2.5]),
        (3, [1.0 / 3.0, 1e-300, -0.0, 2.5]),  # duplicate vector: sim ties, id 3 wins
        (9, [-1.0, 0.25, 3.0, -7.5]),
    ]
    vecs = spark.createDataFrame(
        [
            (1, [0.1, 0.2, -0.3, 0.7]),
            (2, [-2.0, 0.5, 1.5, -3.0]),
            (5, [1e-30, -1e-30, 1e-30, -1e-30]),  # tiny but nonzero norm
        ],
        "vec_id long, embedding array<float>",
    ).select(
        "vec_id", F.transform("embedding", lambda v: v.cast("double")).alias("vec")
    )

    def reference(n_probe):  # the pre-r14 Column-by-Column construction
        cells = F.array(
            *[
                F.struct(
                    F.round(
                        cosine(F.col("vec"), F.array(*[F.lit(x) for x in cv])), 6
                    ).alias("sim"),
                    F.lit(int(cid)).cast("long").alias("centroid_id"),
                )
                for cid, cv in cent_rows
            ]
        )
        ranked = F.slice(
            F.array_sort(
                cells,
                lambda l, r: F.when(l["sim"] > r["sim"], F.lit(-1))
                .when(l["sim"] < r["sim"], F.lit(1))
                .when(l["centroid_id"] < r["centroid_id"], F.lit(-1))
                .when(l["centroid_id"] > r["centroid_id"], F.lit(1))
                .otherwise(F.lit(0)),
            ),
            1,
            min(n_probe, len(cent_rows)),
        )
        return vecs.select(
            "vec_id", F.explode(ranked).alias("__cell"), "vec"
        ).select("vec_id", F.col("__cell.centroid_id").alias("centroid_id"), "vec")

    for n_probe in (1, 2, 3):
        got = sorted(
            (r.vec_id, r.centroid_id, tuple(r.vec))
            for r in _nearest_cells(vecs, cent_rows, n_probe).collect()
        )
        want = sorted(
            (r.vec_id, r.centroid_id, tuple(r.vec))
            for r in reference(n_probe).collect()
        )
        assert got == want and len(got) == 3 * n_probe
    # tie-break sanity: the duplicated centroid vector must resolve to id 3
    top1 = {
        r.vec_id: r.centroid_id
        for r in _nearest_cells(vecs, cent_rows, 1).collect()
    }
    assert 9 in top1.values() or 3 in top1.values()
    assert 7 not in top1.values()  # id 3 always beats the tied id 7
    # degenerate empty model: zero rows, stable schema
    empty = _nearest_cells(vecs, [], 1)
    assert empty.count() == 0 and empty.columns == ["vec_id", "centroid_id", "vec"]


def test_nearest_cells_above_literal_bound_raises(spark):
    """The IVF model is embedded in the plan as literals, so its size is a
    documented limit: a model over MAX_LITERAL_CENTROID_ELEMS elements
    raises ValueError when the plan is built, through ivf_topk as well."""
    import pytest

    from quill_agent_dashboard_pbi_etl_spark.operators.similarity import (
        MAX_LITERAL_CENTROID_ELEMS,
        _nearest_cells,
        _vectors,
    )

    dim = MAX_LITERAL_CENTROID_ELEMS // 2 + 1
    model = [(0, [1.0] * dim), (1, [-1.0] * dim)]
    vecs = _emb(spark, [(1, [1.0] * dim)])
    with pytest.raises(ValueError, match="MAX_LITERAL_CENTROID_ELEMS"):
        _nearest_cells(_vectors(vecs), model, 1)
    with pytest.raises(ValueError, match="MAX_LITERAL_CENTROID_ELEMS"):
        similarity.ivf_topk(vecs, vecs, model, k=1)
