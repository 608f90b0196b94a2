"""Similarity-search tests: exact brute force + LSH recall."""

from __future__ import annotations

from pyspark.sql import functions as F

from energydatalake_spark.io.readers import read_table
from energydatalake_spark.similarity.search import cosine_topk, lsh_topk

from tests.conftest import SF_SMOKE


def test_cosine_topk_known(spark):
    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.9, 0.1]),
            (3, [0.0, 1.0]),
            (4, [-1.0, 0.0]),
        ],
        "vec_id bigint, embedding array<float>",
    )
    q = spark.createDataFrame(
        [(1, [1.0, 0.0])], "query_id bigint, embedding array<float>"
    )
    out = sorted(cosine_topk(corpus, q, k=3).collect(), key=lambda r: r.rank)
    assert [r.vec_id for r in out] == [2, 3, 4]  # self excluded, by cosine desc
    assert out[0].cosine > 0.99
    assert out[-1].cosine == -1.0


def test_lsh_recall_vs_exact(spark):
    emb = read_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = cosine_topk(emb, queries, k=10).collect()
    approx = lsh_topk(emb, queries, k=10, n_planes=4, dim=64).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.vec_id)
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.vec_id)
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    # sign-LSH with Hamming-1 multiprobe on random gaussian data: expect
    # moderate recall; this guards "bucketing actually works", not SOTA.
    assert sum(recalls) / len(recalls) >= 0.3
    # approx results must be a subset of true cosine ordering semantics:
    # every returned cosine must match the exact computation for that pair
    exact_cos = {(r.query_id, r.vec_id): r.cosine for r in exact}
    for r in approx:
        if (r.query_id, r.vec_id) in exact_cos:
            assert abs(r.cosine - exact_cos[(r.query_id, r.vec_id)]) < 1e-9


def test_ivf_recall_vs_exact(spark):
    from energydatalake_spark.similarity.search import ivf_topk

    emb = read_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = cosine_topk(emb, queries, k=10).collect()
    approx = ivf_topk(emb, queries, k=10, n_cells=8, n_probe=4).collect()
    exact_sets, approx_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.vec_id)
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.vec_id)
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    # probing half the cells: expect decent but not perfect recall
    assert sum(recalls) / len(recalls) >= 0.3
    # every approx hit's cosine must equal the exact pair cosine
    exact_cos = {(r.query_id, r.vec_id): r.cosine for r in exact}
    for r in approx:
        if (r.query_id, r.vec_id) in exact_cos:
            assert abs(r.cosine - exact_cos[(r.query_id, r.vec_id)]) < 1e-9


def test_ivf_partition_invariance(spark):
    from energydatalake_spark.similarity.search import ivf_topk

    emb = read_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    one = {(r.query_id, r.vec_id, r.rank) for r in ivf_topk(emb.coalesce(1), queries, k=5).collect()}
    many = {(r.query_id, r.vec_id, r.rank) for r in ivf_topk(emb.repartition(7), queries, k=5).collect()}
    assert one == many and len(one) > 0


def test_kmeans_centroids_deterministic_and_improves_recall(spark):
    """The trained codebook must be (a) deterministic across runs and
    partitionings — the property the cross-engine oracle rests on —
    and (b) a real quantizer: every cell non-degenerate, model tiny."""
    from energydatalake_spark.similarity.search import ivf_topk, kmeans_centroids

    emb = read_table(spark, SF_SMOKE, "embeddings")
    a = kmeans_centroids(emb, n_cells=8, n_iter=2)
    b = kmeans_centroids(emb.repartition(7), n_cells=8, n_iter=2)
    assert a == b  # bit-identical trajectory regardless of partitioning
    assert 1 <= len(a) <= 8 and all(len(vec) == 64 for _, vec in a)

    cent_df = spark.createDataFrame(
        [(cid, vec) for cid, vec in a], "vec_id int, embedding array<double>"
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    trained = ivf_topk(
        emb, queries, k=10, n_cells=8, n_probe=4, centroids=cent_df
    ).collect()
    # recall vs exact: trained codebook must stay a usable quantizer
    exact_sets, trained_sets = {}, {}
    for r in cosine_topk(emb, queries, k=10).collect():
        exact_sets.setdefault(r.query_id, set()).add(r.vec_id)
    for r in trained:
        trained_sets.setdefault(r.query_id, set()).add(r.vec_id)
    recalls = [
        len(exact_sets[q] & trained_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    assert sum(recalls) / len(recalls) >= 0.3


def test_kmeans_sample_training(spark):
    """Sampled Lloyd training: same determinism contract as the full
    path, on a strict subset selected by engine-portable arithmetic —
    training cost becomes corpus-size-independent at scale."""
    import pytest

    from energydatalake_spark.similarity.search import (
        kmeans_centroids,
        train_sample_predicate,
    )

    emb = read_table(spark, SF_SMOKE, "embeddings")
    n_sampled = emb.filter(
        train_sample_predicate(F.col("vec_id"), 4)
    ).count()
    n_total = emb.count()
    # ~1/4 of the corpus, not a degenerate residue-class pick
    assert 0 < n_sampled < n_total
    assert abs(n_sampled / n_total - 0.25) < 0.15

    a = kmeans_centroids(emb, n_cells=8, n_iter=2, train_sample_mod=4)
    b = kmeans_centroids(
        emb.repartition(5), n_cells=8, n_iter=2, train_sample_mod=4
    )
    assert a == b  # bit-identical trajectory regardless of partitioning
    assert 1 <= len(a) <= 8 and all(len(vec) == 64 for _, vec in a)

    # the sample is actually applied: a different training set walks a
    # different trajectory
    full = kmeans_centroids(emb, n_cells=8, n_iter=2)
    assert a != full

    # too-aggressive sampling fails loudly, not with a silent bad model
    with pytest.raises(ValueError, match="lower train_sample_mod"):
        kmeans_centroids(emb, n_cells=300, n_iter=1, train_sample_mod=4)


def test_quantize_embeddings_grid_and_fidelity(spark):
    """int8 grid invariants: every dequantized component is an integer
    multiple of its vector's step amax/127 within fp tolerance, |q| ≤
    127 levels, zero vectors pass through, and cosine to the original
    stays near 1 (the 4×-memory claim is only licensed by fidelity)."""
    import math

    from pyspark.sql import functions as F

    from energydatalake_spark.similarity.search import quantize_embeddings

    rows = [
        (1, [0.5, -1.0, 0.25, 0.0]),
        (2, [1e-3, 2e-3, -3e-3, 4e-3]),
        (3, [0.0, 0.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = {r.vec_id: list(r.embedding) for r in quantize_embeddings(df).collect()}
    assert out[3] == [0.0, 0.0, 0.0, 0.0]
    import numpy as np

    for vid, orig in ((1, rows[0][1]), (2, rows[1][1])):
        # the column is float32 — reference math must quantize the
        # SAME values Spark saw, not the python doubles
        orig = [float(np.float32(x)) for x in orig]
        amax = max(abs(x) for x in orig)
        step = amax / 127.0
        got = out[vid]
        for x in got:
            q = x / step
            assert abs(q - round(q)) < 1e-9 and abs(q) <= 127.0 + 1e-9
        d = sum(a * b for a, b in zip(orig, got))
        na = math.sqrt(sum(a * a for a in orig))
        nb = math.sqrt(sum(b * b for b in got))
        assert d / (na * nb) > 0.999


def test_embedding_semantic_dedup_cell_local(spark):
    """SemDeDup cell-local semantics (r9): within-cell components
    collapse to their min id; a true near-dup pair SPLIT ACROSS CELLS
    is missed by design (both kept) — the paper's approximation;
    zero-norm vectors are their own singleton clusters."""
    from energydatalake_spark.similarity.neardup import embedding_semantic_dedup

    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
        "vec_id int, embedding array<double>",
    )
    rows = [
        (10, [1.0, 0.0, 0.0, 0.0]),     # cell 0
        (11, [0.999, 0.04, 0.0, 0.0]),  # cell 0, near-dup of 10
        (12, [0.7, 0.0, 0.7, 0.0]),     # cell 0; cos ≈ .7 to 10/11 — no dup ≥ .95
        (20, [0.0, 1.0, 0.0, 0.0]),     # cell 1
        (21, [0.72, 0.69, 0.0, 0.0]),   # cell 0 ...
        (22, [0.69, 0.72, 0.0, 0.0]),   # ... cell 1: cos(21,22) ≈ .9996 but split
        (30, [0.0, 0.0, 0.0, 0.0]),     # zero-norm singleton
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = {
        r.vec_id: (r.cluster_id, r.keep)
        for r in embedding_semantic_dedup(
            df, threshold=0.95, n_cells=2, centroids=cents
        ).collect()
    }
    assert len(out) == len(rows)
    assert out[10] == (10, True)
    assert out[11] == (10, False)          # collapsed within cell 0
    assert out[12] == (12, True)
    assert out[20] == (20, True)
    assert out[21] == (21, True) and out[22] == (22, True)  # cross-cell miss
    assert out[30] == (30, True)           # zero-norm singleton


def test_embedding_semantic_dedup_cell_size_guard(spark):
    """A cell larger than max_cell_rows must fail loudly (within-cell
    scoring is O(|cell|²)) with guidance to raise n_cells, never
    silently go quadratic."""
    import pytest

    from energydatalake_spark.similarity.neardup import embedding_semantic_dedup

    cents = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id int, embedding array<double>"
    )
    df = spark.createDataFrame(
        [(i, [1.0, float(i) / 10.0]) for i in range(5)],
        "vec_id bigint, embedding array<float>",
    )
    out = embedding_semantic_dedup(
        df, threshold=0.99, n_cells=1, centroids=cents, max_cell_rows=2
    )
    with pytest.raises(Exception, match="increase n_cells"):
        out.collect()


def test_embedding_semantic_dedup_nan_norm_survives(spark):
    """A vector with a NaN component has a NaN norm; Spark's NaN
    ordering (NaN > 0 is true) routes it through the cells branch,
    where NaN cosines match nothing — so it must surface as its own
    singleton cluster, never silently vanish. DuckDB's total order
    agrees (NaN > 0 true), keeping the SQL twin on the same branch."""
    from energydatalake_spark.similarity.neardup import embedding_semantic_dedup

    cents = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id int, embedding array<double>"
    )
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [float("nan"), 1.0]), (3, [0.0, 0.0])],
        "vec_id bigint, embedding array<double>",
    )
    out = {
        r.vec_id: (r.cluster_id, r.keep)
        for r in embedding_semantic_dedup(
            df, threshold=0.5, n_cells=1, centroids=cents
        ).collect()
    }
    assert out == {1: (1, True), 2: (2, True), 3: (3, True)}


def test_nd_lsh_planes_sizing():
    """q_dedup_embedding_lsh sizes n_planes with the corpus: the static
    DuckDB mirror is exact because EVERY oracle-checked scale (<= 4096
    vectors; 200 at sf0.01, 2000 at sf0.1) resolves to ND_LSH_PLANES,
    and above the bound p tracks log2(n)-2 so expected candidates per
    vector (~tables*(1+p)*n/2^p) stay flat instead of growing linearly
    with n (at 200k vectors the unsized p=8 emits ~5e9 collision rows —
    the r11 x100 probe's disk-full)."""
    from energydatalake_spark.plans.llm_ops import (
        ND_LSH_ORACLE_MAX_N,
        ND_LSH_PLANES,
        _nd_lsh_planes,
    )

    # Oracle scales: pinned to the static-mirror constant.
    for n in (1, 200, 2000, ND_LSH_ORACLE_MAX_N):
        assert _nd_lsh_planes(n) == ND_LSH_PLANES
    # Scale tier: log-sized, monotone, and never below the constant.
    assert _nd_lsh_planes(20_000) == 13
    assert _nd_lsh_planes(200_000) == 16
    assert _nd_lsh_planes(ND_LSH_ORACLE_MAX_N + 1) >= ND_LSH_PLANES
    # Candidate load factor n/2^p stays bounded as n grows 10x.
    for n in (10**5, 10**6, 10**7):
        p = _nd_lsh_planes(n)
        assert n / 2**p <= 8.0


def test_sem_cells_sizing():
    """q_semantic_dedup sizes its codebook with the corpus (VERDICT
    r11 #1): every oracle-checked scale (500 embeddings at sf0.01,
    2000 at sf0.1, ≤ SEM_ORACLE_MAX_N) resolves to the static
    IVF_CELLS — so the recursive k-means-trajectory SQL mirror stays
    value-hash-exact — and above the bound n_cells tracks
    ⌈n/SEM_TARGET_CELL_ROWS⌉ so mean cell occupancy (and with it the
    within-cell O(|cell|²) scoring per vector) stays flat instead of
    growing linearly with n."""
    import math

    from energydatalake_spark.plans.llm_ops import (
        IVF_CELLS,
        SEM_ORACLE_MAX_N,
        SEM_TARGET_CELL_ROWS,
        _sem_cells,
    )

    for n in (1, 500, 2000, SEM_ORACLE_MAX_N):
        assert _sem_cells(n) == IVF_CELLS
    assert _sem_cells(SEM_ORACLE_MAX_N + 1) == math.ceil(
        (SEM_ORACLE_MAX_N + 1) / SEM_TARGET_CELL_ROWS
    )
    assert _sem_cells(20_000) == 79
    assert _sem_cells(200_000) == 782
    # Mean cell occupancy bounded as n grows 10x and 100x.
    for n in (10**5, 10**6, 10**7):
        assert n / _sem_cells(n) <= SEM_TARGET_CELL_ROWS + 1


def test_kmeans_centroids_np_deterministic_and_bounded(spark):
    """Bounded-sample NumPy Lloyd (the big-codebook trainer): (a)
    deterministic across partitionings, (b) model shape preserved
    (≤ n_cells live cells, full dim, ascending cell ids), (c) the
    driver-side collect is GATED — an over-budget sample refuses
    loudly instead of silently materializing the corpus, and a
    too-small sample refuses like the distributed trainer."""
    import pytest

    from energydatalake_spark.similarity.search import kmeans_centroids_np

    emb = read_table(spark, SF_SMOKE, "embeddings")
    a = kmeans_centroids_np(emb, n_cells=8, n_iter=2)
    b = kmeans_centroids_np(emb.repartition(7), n_cells=8, n_iter=2)
    assert a == b
    assert 1 <= len(a) <= 8 and all(len(vec) == 64 for _, vec in a)
    assert [cid for cid, _ in a] == sorted(cid for cid, _ in a)

    with pytest.raises(ValueError, match="train_max_rows"):
        kmeans_centroids_np(emb, n_cells=8, n_iter=1, train_max_rows=10)
    with pytest.raises(ValueError, match="lower train_sample_mod"):
        kmeans_centroids_np(emb, n_cells=500, n_iter=1, train_sample_mod=4)


def test_embedding_semantic_dedup_blas_assignment_matches_fold(spark):
    """The big-codebook BLAS assignment tier must produce the same
    verdict as the Catalyst fold tier on well-separated data (ties
    aside, the two argmaxes agree): 100 vectors, 70 centroids — above
    the default fold_max_cells=64 — forced through each path via the
    knob."""
    import numpy as np

    from energydatalake_spark.similarity.neardup import embedding_semantic_dedup

    rng = np.random.default_rng(7)
    cents_v = rng.normal(size=(70, 16))
    cents_v /= np.linalg.norm(cents_v, axis=1, keepdims=True)
    cents = spark.createDataFrame(
        [(i, [float(x) for x in cents_v[i]]) for i in range(70)],
        "vec_id int, embedding array<double>",
    )
    rows = []
    for i in range(100):
        c = cents_v[i % 70]
        v = c + 0.05 * rng.normal(size=16)  # tight around its centroid
        rows.append((i, [float(x) for x in v]))
    rows.append((100, [0.0] * 16))  # zero-norm singleton path
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    kw = dict(threshold=0.9, n_cells=70, centroids=cents)
    blas = {
        (r.vec_id, r.cluster_id, r.keep)
        for r in embedding_semantic_dedup(df, fold_max_cells=64, **kw).collect()
    }
    fold = {
        (r.vec_id, r.cluster_id, r.keep)
        for r in embedding_semantic_dedup(df, fold_max_cells=1000, **kw).collect()
    }
    assert blas == fold
    assert len(blas) == len(rows)
    # the planted same-centroid groups actually collapse somewhere
    assert any(not keep for _, _, keep in blas)


def test_embedding_semantic_dedup_blas_64bit_cell_ids(spark):
    """Cell ids are corpus ids and the id space is 64-bit: two ids
    that collide mod 2^32 (5 and 2^32+5) must stay distinct cells in
    the BLAS assignment tier (an int32 cast in the mapInPandas schema
    would wrap the big id onto the small one and merge their dedup
    components — ADVICE r12)."""
    import numpy as np

    from energydatalake_spark.similarity.neardup import embedding_semantic_dedup

    big = 2**32 + 5
    rng = np.random.default_rng(11)
    # 3 well-separated directions; centroid ids 5 / big / 7 — the
    # first two wrap to the same int32 value.
    dirs = rng.normal(size=(3, 8))
    dirs /= np.linalg.norm(dirs, axis=1, keepdims=True)
    cents = spark.createDataFrame(
        [(5, [float(x) for x in dirs[0]]),
         (big, [float(x) for x in dirs[1]]),
         (7, [float(x) for x in dirs[2]])],
        "vec_id long, embedding array<double>",
    )
    rows = []
    for i in range(12):
        d = dirs[i % 3]
        v = d + 0.03 * rng.normal(size=8)
        rows.append((1000 + i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    kw = dict(threshold=0.9, n_cells=3, centroids=cents)
    blas = {
        (r.vec_id, r.cluster_id, r.keep)
        for r in embedding_semantic_dedup(df, fold_max_cells=2, **kw).collect()
    }
    fold = {
        (r.vec_id, r.cluster_id, r.keep)
        for r in embedding_semantic_dedup(df, fold_max_cells=1000, **kw).collect()
    }
    assert blas == fold
    assert len(blas) == len(rows)
    # dirs[0]'s and dirs[1]'s members must NOT share a cluster: with
    # an int32 wrap they'd land in one cell and near-dup scoring could
    # never merge them anyway (different directions), but the cluster
    # minima would still be computed over a merged 8-member cell —
    # assert the per-direction cluster structure is intact instead.
    by_dir = {0: set(), 1: set(), 2: set()}
    for vid, cid, _ in blas:
        by_dir[(vid - 1000) % 3].add(cid)
    # each direction collapses to exactly one within-cell cluster
    assert all(len(c) == 1 for c in by_dir.values())
    assert len(by_dir[0] | by_dir[1] | by_dir[2]) == 3


def test_embedding_semantic_dedup_external_codebook_parity(spark, tmp_path):
    """VERDICT r12 #4: the ≥10⁷-cell tier hands an EXTERNALLY trained
    codebook straight into ``embedding_semantic_dedup``'s ``centroids``
    parameter (kmeans_centroids_np docstring). Pin the handoff: the
    same centroid geometry fed as (a) the self-trained in-process
    frame and (b) an external parquet round-trip with a foreign 64-bit
    id space and shuffled row order produces identical verdicts, on
    BOTH assignment tiers. Cell ids never surface in the output —
    only the partition of vectors into cells matters — so a foreign
    id space must be invisible."""
    import numpy as np

    from energydatalake_spark.similarity.neardup import embedding_semantic_dedup
    from energydatalake_spark.similarity.search import kmeans_centroids_np

    rng = np.random.default_rng(23)
    dirs = rng.normal(size=(20, 12))
    dirs /= np.linalg.norm(dirs, axis=1, keepdims=True)
    rows = []
    for i in range(400):
        v = dirs[i % 20] + 0.04 * rng.normal(size=12)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    cents = kmeans_centroids_np(emb, n_cells=20, n_iter=2)
    self_df = spark.createDataFrame(
        [(cid, vec) for cid, vec in cents],
        "vec_id long, embedding array<double>",
    )
    # "External" codebook: same vectors, foreign 64-bit ids, shuffled
    # row order, round-tripped through parquet (the shape an outside
    # training system would deliver).
    ext_rows = [
        (10_000_000_000 + 7 * j, vec)
        for j, (_, vec) in enumerate(cents)
    ]
    rng.shuffle(ext_rows)
    ext_p = str(tmp_path / "ext_codebook")
    spark.createDataFrame(
        ext_rows, "vec_id long, embedding array<double>"
    ).write.parquet(ext_p)
    ext_df = spark.read.parquet(ext_p)

    for fmc in (64, 8):  # Catalyst fold tier, then BLAS mapInPandas tier
        out_self = {
            (r.vec_id, r.cluster_id, r.keep)
            for r in embedding_semantic_dedup(
                emb, threshold=0.9, n_cells=20, centroids=self_df,
                fold_max_cells=fmc,
            ).collect()
        }
        out_ext = {
            (r.vec_id, r.cluster_id, r.keep)
            for r in embedding_semantic_dedup(
                emb, threshold=0.9, n_cells=20, centroids=ext_df,
                fold_max_cells=fmc,
            ).collect()
        }
        assert out_self == out_ext, f"tier fold_max_cells={fmc} diverged"
        assert len(out_self) == 400
        assert any(not keep for _, _, keep in out_self)


def test_embedding_near_dup_lsh_broadcast_parity(spark):
    """r13: the broadcast rerank tier (map-side collision + rerank
    joins for broadcast-sized corpora) must be plan-only — identical
    pairs/cosines to the default co-shuffle path."""
    import numpy as np

    from energydatalake_spark.similarity.neardup import embedding_near_dup_lsh

    rng = np.random.default_rng(31)
    rows = []
    for i in range(300):
        v = rng.normal(size=16)
        rows.append((i, [float(x) for x in v]))
        if i % 10 == 0:  # planted near-dup twin
            rows.append((1000 + i, [float(x + 0.01) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(threshold=0.9, n_planes=8, dim=16)
    shuf = {
        (r.id_a, r.id_b, round(r.cosine, 9))
        for r in embedding_near_dup_lsh(df, **kw).collect()
    }
    bcast = {
        (r.id_a, r.id_b, round(r.cosine, 9))
        for r in embedding_near_dup_lsh(
            df, broadcast_vectors=True, **kw
        ).collect()
    }
    assert shuf == bcast
    assert len(bcast) >= 25  # the planted twins are found


def test_coarse_router_partitions_codebook():
    """_coarse_router's member lists must PARTITION the codebook rows
    (every row in exactly one coarse cell) and stay ascending — the
    ascending order is what preserves the first-max tie-break in the
    second-level argmax."""
    import numpy as np

    from energydatalake_spark.similarity.neardup import _coarse_router

    rng = np.random.default_rng(11)
    cbn = rng.normal(size=(200, 16))
    cbn /= np.linalg.norm(cbn, axis=1, keepdims=True)
    coarse_n, members = _coarse_router(cbn, n_coarse=15)
    assert coarse_n.shape == (15, 16)
    seen = np.concatenate([m for m in members if m.size])
    assert sorted(seen.tolist()) == list(range(200))
    for m in members:
        assert (np.diff(m) > 0).all() if m.size > 1 else True
    # deterministic
    coarse2, members2 = _coarse_router(cbn, n_coarse=15)
    assert np.array_equal(coarse_n, coarse2)
    assert all(np.array_equal(a, b) for a, b in zip(members, members2))


def test_semantic_dedup_two_level_exact_when_probing_all(spark):
    """r14 two-level assignment: probing EVERY coarse cell degenerates
    to the brute argmax — output must be identical to the single-level
    BLAS tier on the same codebook (including tie-break)."""
    import numpy as np

    from energydatalake_spark.similarity.neardup import embedding_semantic_dedup

    rng = np.random.default_rng(23)
    cents_v = rng.normal(size=(80, 16))
    cents_v /= np.linalg.norm(cents_v, axis=1, keepdims=True)
    cents = spark.createDataFrame(
        [(i, [float(x) for x in cents_v[i]]) for i in range(80)],
        "vec_id int, embedding array<double>",
    )
    rows = []
    for i in range(240):
        c = cents_v[i % 80]
        v = c + 0.3 * rng.normal(size=16)  # loose → boundary vectors exist
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    kw = dict(threshold=0.9, n_cells=80, centroids=cents, fold_max_cells=8)
    brute = {
        (r.vec_id, r.cluster_id, r.keep)
        for r in embedding_semantic_dedup(
            df, two_level_min_cells=10**9, **kw
        ).collect()
    }
    two_level_all = {
        (r.vec_id, r.cluster_id, r.keep)
        for r in embedding_semantic_dedup(
            df, two_level_min_cells=8, coarse_probes=10**9, **kw
        ).collect()
    }
    assert brute == two_level_all


def test_semantic_dedup_two_level_default_collapses_dups(spark):
    """Default coarse_probes: planted exact-duplicate twins must still
    collapse (identical vectors route identically at every level), and
    every input row must come back exactly once."""
    import numpy as np

    from energydatalake_spark.similarity.neardup import embedding_semantic_dedup

    rng = np.random.default_rng(29)
    cents_v = rng.normal(size=(100, 16))
    cents_v /= np.linalg.norm(cents_v, axis=1, keepdims=True)
    cents = spark.createDataFrame(
        [(i, [float(x) for x in cents_v[i]]) for i in range(100)],
        "vec_id int, embedding array<double>",
    )
    rows = []
    twins = []
    for i in range(300):
        v = cents_v[i % 100] + 0.2 * rng.normal(size=16)
        rows.append((i, [float(x) for x in v]))
        if i % 7 == 0:
            rows.append((10_000 + i, [float(x) for x in v]))  # exact twin
            twins.append((i, 10_000 + i))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = {
        r.vec_id: (r.cluster_id, r.keep)
        for r in embedding_semantic_dedup(
            df,
            threshold=0.99,
            n_cells=100,
            centroids=cents,
            fold_max_cells=8,
            two_level_min_cells=16,
        ).collect()
    }
    assert len(out) == len(rows)
    for a, b in twins:
        assert out[a][0] == out[b][0], f"twins {a},{b} split cells"
        assert out[b] == (a, False) and out[a] == (a, True)


def test_embedding_near_dup_lsh_compact_rerank_parity(spark):
    """r14: the int8 compact pre-rerank + exact recheck must be
    plan-only — identical pairs/cosines to the default co-shuffle
    rerank (the margin is an analytic superset bound, the float64
    recheck decides)."""
    import numpy as np

    from energydatalake_spark.similarity.neardup import embedding_near_dup_lsh

    rng = np.random.default_rng(31)
    rows = []
    for i in range(300):
        v = rng.normal(size=16)
        rows.append((i, [float(x) for x in v]))
        if i % 10 == 0:
            rows.append((1000 + i, [float(x + 0.01) for x in v]))
    rows.append((5000, [0.0] * 16))  # zero-norm guard path
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(threshold=0.9, n_planes=8, dim=16)
    plain = {
        (r.id_a, r.id_b, round(r.cosine, 9))
        for r in embedding_near_dup_lsh(df, **kw).collect()
    }
    compact = {
        (r.id_a, r.id_b, round(r.cosine, 9))
        for r in embedding_near_dup_lsh(df, compact_rerank=True, **kw).collect()
    }
    assert plain == compact
    assert len(compact) >= 25  # the planted twins are found


def test_int8_quantized_dot_margin_bound():
    """Property behind compact_rerank's superset guarantee (r15
    per-vector form): for unit vectors a, b with quantizations
    q = round(s·u) and ACTUAL error norms qe = |q/s − u|₂, the integer
    dot never undershoots s²·(cos − qe_a − qe_b − qe_a·qe_b). Also
    pins that the per-vector margin is strictly tighter than the old
    global worst-case δ = √dim/(2s) on typical vectors."""
    import numpy as np

    rng = np.random.default_rng(17)
    dim = 64
    s = 127.0
    delta_global = np.sqrt(dim) / (2.0 * s)
    slack = []
    for _ in range(300):
        a = rng.normal(size=dim)
        b = a + rng.exponential(0.3) * rng.normal(size=dim)  # mixed-sim pairs
        a /= np.linalg.norm(a)
        b /= np.linalg.norm(b)
        c = float(a @ b)
        qa = np.round(s * a)
        qb = np.round(s * b)
        qe_a = float(np.linalg.norm(qa / s - a))
        qe_b = float(np.linalg.norm(qb / s - b))
        floor = s * s * (c - qe_a - qe_b - qe_a * qe_b)
        assert float(qa @ qb) >= floor - 1e-9, (c, float(qa @ qb), floor)
        # actual error norms sit well inside the global worst case
        assert qe_a <= delta_global and qe_b <= delta_global
        slack.append(delta_global - max(qe_a, qe_b))
    # tighter in aggregate, not just valid: typical |e|₂ ≈ √(dim/12)/s
    # is ~0.577 of the worst case — the margin band roughly halves
    assert np.mean(slack) > 0.3 * delta_global


def test_compact_rerank_ragged_batch_raises(spark):
    """ADVICE r14: a partition mixing vector lengths must hit the loud
    dim-mismatch ValueError, not an opaque IndexError from a 1-D
    object array."""
    import numpy as np
    import pytest as _pt

    from energydatalake_spark.similarity.neardup import embedding_near_dup_lsh

    rng = np.random.default_rng(47)
    rows = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(40)]
    rows.append((99, [float(x) for x in rng.normal(size=12)]))  # ragged
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).coalesce(1)
    with _pt.raises(Exception, match="the quantization margin needs"):
        embedding_near_dup_lsh(
            df, threshold=0.5, n_planes=4, dim=16, compact_rerank=True
        ).collect()


def test_embedding_near_dup_lsh_compact_nan_parity(spark):
    """Self-review r14: a vector with a NaN element gives the exact
    rerank a NaN cosine, which Spark compares ABOVE every number — the
    default path emits those pairs. The compact tier must not drop
    them (int8-cast NaN is platform garbage): poisoned qn routes them
    past the quantized filter to the exact recheck."""
    import numpy as np

    from energydatalake_spark.similarity.neardup import embedding_near_dup_lsh

    rng = np.random.default_rng(41)
    rows = []
    for i in range(60):
        v = rng.normal(size=16)
        rows.append((i, [float(x) for x in v]))
        rows.append((2000 + i, [float(x + 0.005) for x in v]))  # twins
    base_v = [float(x) for x in rng.normal(size=16)]
    nan_v = list(base_v)
    nan_v[3] = float("nan")
    rows.append((9000, nan_v))
    rows.append((9001, base_v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(threshold=0.9, n_planes=4, dim=16)  # few planes → collisions
    plain = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_lsh(df, **kw).collect()
    }
    compact = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_lsh(df, compact_rerank=True, **kw).collect()
    }
    assert plain == compact
    # the NaN row actually collided and was emitted by BOTH paths
    # (otherwise this test proves nothing about the poison path)
    assert any(9000 in p for p in plain)


def test_compact_rerank_dim_mismatch_raises(spark):
    """Self-review r14: an undersized dim would understate the margin
    and silently drop true pairs only in the compact tier — it must
    raise instead."""
    import numpy as np
    import pytest as _pt

    from energydatalake_spark.similarity.neardup import embedding_near_dup_lsh

    rng = np.random.default_rng(43)
    rows = [(i, [float(x) for x in rng.normal(size=32)]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with _pt.raises(Exception, match="32 elements but dim=16"):
        embedding_near_dup_lsh(
            df, threshold=0.5, n_planes=4, dim=16, compact_rerank=True
        ).collect()


def test_embedding_semantic_dedup_labels_parity(spark):
    """r15 (VERDICT r14 #6): caller-assigned labels skip the router —
    feeding back the assignment the in-process path would compute must
    give identical (cluster_id, keep) output, including zero-norm
    singletons whose labels are ignored."""
    import numpy as np

    from energydatalake_spark.similarity.neardup import embedding_semantic_dedup

    rng = np.random.default_rng(53)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(120)]
    for i in range(0, 120, 7):  # planted twins
        rows.append((1000 + i, [float(x + 0.01) for x in rows[i][1]]))
    rows.append((9000, [0.0] * 8))  # zero-norm singleton
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(threshold=0.9, n_cells=4)
    base = {
        (r.vec_id, r.cluster_id, r.keep)
        for r in embedding_semantic_dedup(df, **kw).collect()
    }
    # reproduce the default assignment (codebook = first n_cells rows
    # by id) in NumPy and hand it back as a labels frame
    cb_rows = sorted(rows, key=lambda r: r[0])[:4]
    cb = np.asarray([v for _, v in cb_rows], dtype=np.float64)
    cbn = cb / np.linalg.norm(cb, axis=1)[:, None]
    lab_rows = []
    for i, v in rows:
        nv = np.linalg.norm(v)
        if nv == 0.0:
            lab_rows.append((i, 77777))  # ignored: zero-norm stays singleton
            continue
        cell = int(np.argmax((np.asarray(v) / nv) @ cbn.T))
        lab_rows.append((i, cb_rows[cell][0]))
    labels = spark.createDataFrame(lab_rows, "vec_id long, cell_id long")
    ext = {
        (r.vec_id, r.cluster_id, r.keep)
        for r in embedding_semantic_dedup(df, labels=labels, **kw).collect()
    }
    assert base == ext
    assert (9000, 9000, True) in ext


def test_embedding_semantic_dedup_labels_missing_raises(spark):
    """An unlabelled non-zero-norm vector must fail loudly, never drop."""
    import numpy as np
    import pytest as _pt

    from energydatalake_spark.similarity.neardup import embedding_semantic_dedup

    rng = np.random.default_rng(59)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    labels = spark.createDataFrame(
        [(i, 0) for i in range(19)], "vec_id long, cell_id long"  # 19 missing
    )
    with _pt.raises(Exception, match="no\\s+row in the caller-supplied labels"):
        embedding_semantic_dedup(df, threshold=0.9, labels=labels).collect()


def test_embedding_semantic_dedup_labels_and_centroids_raises(spark):
    """centroids and labels are mutually exclusive escape hatches."""
    import pytest as _pt

    from energydatalake_spark.similarity.neardup import embedding_semantic_dedup

    df = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with _pt.raises(ValueError, match="not both"):
        embedding_semantic_dedup(df, centroids=df, labels=df)


def test_release_quantized_cache(spark):
    """ADVICE r14: compact-rerank invocations register their persisted
    quantized frame; the release hook unpersists them all."""
    import numpy as np

    from energydatalake_spark.similarity import neardup

    neardup.release_quantized_cache()  # drain any prior test's entries
    rng = np.random.default_rng(61)
    rows = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    neardup.embedding_near_dup_lsh(
        df, threshold=0.9, n_planes=4, dim=16, compact_rerank=True
    ).collect()
    assert len(neardup._QUANTIZED_CACHE) == 1
    assert neardup.release_quantized_cache() == 1
    assert neardup._QUANTIZED_CACHE == []


def test_compact_rerank_evicts_prior_cache(spark):
    """r15 self-review: a persisted SQL frame is pinned by the JVM
    CacheManager until unpersist — Python GC never frees it — so each
    compact-rerank invocation must evict the previous invocation's
    frame or a long-lived session leaks storage monotonically. The
    unified release_caches() helper drains both engine caches."""
    import numpy as np

    import energydatalake_spark as pkg
    from energydatalake_spark.similarity import neardup

    # drain BOTH engine caches: an earlier suite test can leave
    # shingle entries, and release_caches() counts shingle+quantized
    pkg.release_caches()
    rng = np.random.default_rng(67)
    rows = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(threshold=0.9, n_planes=4, dim=16, compact_rerank=True)
    first = neardup.embedding_near_dup_lsh(df, **kw)
    pre_evict = {(r.id_a, r.id_b) for r in first.collect()}
    pinned = neardup._QUANTIZED_CACHE[0]
    # a DIFFERENT input frame: identical inputs canonicalize to the
    # same plan, and the CacheManager would report the second persist
    # through the first handle
    rows2 = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(30)]
    df2 = spark.createDataFrame(rows2, "vec_id long, embedding array<double>")
    neardup.embedding_near_dup_lsh(df2, **kw).collect()
    # steady state: exactly one live frame, and it is NOT the first
    assert len(neardup._QUANTIZED_CACHE) == 1
    assert neardup._QUANTIZED_CACHE[0] is not pinned
    assert pinned.storageLevel.useMemory is False  # evicted
    # the evicted frame's consumer recomputes from lineage to the
    # SAME pairs (ADVICE r15: >= 0 was vacuous — pin value parity,
    # not just does-not-throw)
    assert {(r.id_a, r.id_b) for r in first.collect()} == pre_evict
    assert pkg.release_caches() == 1
    assert neardup._QUANTIZED_CACHE == []


def test_semantic_dedup_labels_duplicates(spark):
    """r15 self-review: duplicate ids in the caller's labels frame
    must not fan the join out. Exact duplicates collapse silently
    (idempotent re-concat); CONFLICTING cells raise in-plan."""
    import numpy as np
    import pytest as _pt

    from energydatalake_spark.similarity.neardup import embedding_semantic_dedup

    rng = np.random.default_rng(71)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(24)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(threshold=0.9, n_cells=3)
    base_lab = [
        (r.vec_id, r.cluster_id)
        for r in embedding_semantic_dedup(df, **kw).collect()
    ]
    # the in-process assignment IS a valid labels frame; duplicate it
    cells = {
        vid: cid
        for vid, cid in spark.createDataFrame(
            base_lab, "vec_id long, cell long"
        ).collect()
    }
    # exact-duplicate labels: every row twice -> output identical to base
    lab2 = spark.createDataFrame(
        [(i, c) for i, c in cells.items()] * 2, "vec_id long, cell_id long"
    )
    # cluster_id from labels path differs (cells keyed by caller ids),
    # so compare per-id keep sets via cluster SIZES instead
    def _profile(out_rows):
        from collections import Counter

        return (
            sorted(Counter(r.cluster_id for r in out_rows).values()),
            sorted(r.vec_id for r in out_rows if r.keep),
        )

    base_out = embedding_semantic_dedup(df, **kw).collect()
    dup_out = embedding_semantic_dedup(df, labels=lab2, **kw).collect()
    assert len(dup_out) == len(base_out) == 24  # no fan-out duplicates
    assert _profile(dup_out)[0] == _profile(base_out)[0]
    # conflicting labels: one id assigned two different cells -> loud
    bad = spark.createDataFrame(
        [(i, c) for i, c in cells.items()] + [(0, 999_999)],
        "vec_id long, cell_id long",
    )
    with _pt.raises(Exception, match="conflicting cells to id 0"):
        embedding_semantic_dedup(df, labels=bad, **kw).collect()
