"""ANN quality: the LSH-bucketed top-k must achieve reasonable recall against
the exact brute-force top-k (its differential oracle).  Power iteration: the
distributed quantized loop equals a pure-Python walk of the same arithmetic
and converges on a dominant direction."""

from __future__ import annotations


def test_ann_recall_vs_exact(spark, sf_dir):
    from hadoopmapreduce_spark.operators.similarity import (
        TOP_K,
        ann_lsh_topk,
        knn_cosine_topk,
    )

    exact = knn_cosine_topk(spark, sf_dir).collect()
    approx = ann_lsh_topk(spark, sf_dir).collect()
    exact_sets: dict[int, set[int]] = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx_sets: dict[int, set[int]] = {}
    for r in approx:
        approx_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / TOP_K for q in exact_sets
    ]
    mean_recall = sum(recalls) / len(recalls)
    # 16 tables x 4 bits measures 0.90 on the 500-vector fixture (0.98 at
    # sf0.01); 0.8 is a real quality gate, not just a wiring check
    assert mean_recall >= 0.8, f"mean ANN recall {mean_recall:.2f} too low: {recalls}"


def test_ann_results_are_true_cosines(spark, sf_dir):
    """Every ANN hit must carry the same cosine the exact scorer computes
    (re-rank is exact; only candidate generation is approximate)."""
    from hadoopmapreduce_spark.operators.similarity import ann_lsh_topk, knn_cosine_topk

    exact = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in knn_cosine_topk(spark, sf_dir).collect()
    }
    for r in ann_lsh_topk(spark, sf_dir).collect():
        key = (r["query_id"], r["neighbor_id"])
        if key in exact:
            assert abs(exact[key] - r["cosine"]) < 1e-12


def test_ivf_recall_vs_exact(spark, sf_dir):
    from hadoopmapreduce_spark.operators.similarity import (
        TOP_K,
        ann_ivf_topk,
        knn_cosine_topk,
    )

    exact_sets: dict[int, set[int]] = {}
    for r in knn_cosine_topk(spark, sf_dir).collect():
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    ivf_sets: dict[int, set[int]] = {}
    for r in ann_ivf_topk(spark, sf_dir).collect():
        ivf_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    recalls = [
        len(exact_sets[q] & ivf_sets.get(q, set())) / TOP_K for q in exact_sets
    ]
    mean_recall = sum(recalls) / len(recalls)
    # 16 clusters, 4 probed → a quarter of the corpus scanned; near-random
    # vectors bound what clustering can do, but wiring regressions (empty
    # lists, bad assignment) drop this to ~0
    assert mean_recall >= 0.25, f"mean IVF recall {mean_recall:.2f}: {recalls}"


def test_pq_recall_vs_exact(spark, sf_dir):
    """PQ(8 subspaces × 40 derandomized codewords) + cosine-normalized ADC
    + shortlist-100 measures mean recall@5 of 0.84 at sf0.001 and 0.86 at
    sf0.01 vs the exact scorer; 0.7 is a real quality gate (the ip-scored
    10-codeword first draft sat at 0.54 and would fail it)."""
    from hadoopmapreduce_spark.operators.similarity import (
        TOP_K,
        ann_pq_topk,
        knn_cosine_topk,
    )

    exact = knn_cosine_topk(spark, sf_dir).collect()
    approx = ann_pq_topk(spark, sf_dir).collect()
    exact_sets: dict[int, set[int]] = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx_sets: dict[int, set[int]] = {}
    for r in approx:
        approx_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / TOP_K
        for q in exact_sets
    ]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.7, f"mean PQ recall {mean_recall:.2f}: {recalls}"


def test_pq_results_are_true_cosines(spark, sf_dir):
    """Every PQ hit carries the exact cosine (re-rank is exact; only the
    ADC shortlist is approximate) — same contract as ann_lsh_topk."""
    from hadoopmapreduce_spark.operators.similarity import (
        ann_pq_topk,
        knn_cosine_topk,
    )

    exact = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in knn_cosine_topk(spark, sf_dir).collect()
    }
    for r in ann_pq_topk(spark, sf_dir).collect():
        key = (r["query_id"], r["neighbor_id"])
        if key in exact:  # shared hits must match to the last bit
            assert r["cosine"] == exact[key], key


def _pi_python_referee(V, iters):
    """Pure-Python twin of power_iteration_loop's quantized recursion,
    including the r10 derived grid (pi_grid_shift over N and max|v|)."""
    from hadoopmapreduce_spark.operators.similarity import pi_grid_shift

    dim = len(V[0])
    vmax = max(abs(a) for row in V for a in row)
    grid = float(1 << pi_grid_shift(len(V), vmax, dim))
    x = [1.0] + [0.0] * (dim - 1)
    y = {}
    for _ in range(iters):
        y = {j: 0 for j in range(1, dim + 1)}
        for row in V:
            d = 0.0
            for a, b in zip(row, x):  # sequential fold, fixture order
                d += a * b
            for j in range(1, dim + 1):
                q = row[j - 1] * d * grid
                # round-half-away-from-zero on the EXACT double value,
                # like Spark's BigDecimal HALF_UP round() — the
                # floor(q+0.5) idiom diverges past 2^52 where +0.5 is
                # inexact (caught by the r10 adversarial-magnitude test)
                from decimal import ROUND_HALF_UP, Decimal

                y[j] += int(
                    Decimal(q).quantize(Decimal(1), rounding=ROUND_HALF_UP)
                )
        m = max(abs(v) for v in y.values())
        sh = max(m.bit_length() - 1, 0)
        x = [float(y[j]) / float(2**sh) for j in range(1, dim + 1)]
    return x, y


def test_power_iteration_matches_python_referee(spark):
    """The distributed quantized recursion must equal a pure-Python
    walk of the same arithmetic, bit for bit, on a hand-made corpus —
    partitioning cannot matter because rows only ever mix through the
    exact int64 grid sums."""
    from pyspark.sql import functions as F

    from hadoopmapreduce_spark.operators.similarity import (
        power_iteration_loop,
    )

    V = [
        [0.25, -0.5, 0.125, 1.0],
        [0.75, 0.25, -0.25, 0.0625],
        [-0.3, 0.9, 0.7, -0.2],
        [0.01, 0.02, -0.4, 0.6],
        [1.1, -0.05, 0.33, 0.47],
    ]
    e = spark.createDataFrame(
        [(r,) for r in V], "v array<double>"
    ).repartition(3)
    got_x, got_y = power_iteration_loop(e, 4, 5)
    exp_x, exp_y = _pi_python_referee(V, 5)
    assert got_y == exp_y
    assert got_x == exp_x  # exact: every coordinate a dyadic rational


def test_power_iteration_converges_on_dominant_direction(spark):
    """On a corpus WITH a dominant direction (the fixture's spectrum is
    near-flat, gap ~1.07, deliberately not used here), six iterations
    must align with numpy's top eigenvector of the Gram matrix."""
    import numpy as np

    from hadoopmapreduce_spark.operators.similarity import (
        power_iteration_loop,
    )

    rng_free = []  # deterministic synthetic: u + small structured noise
    dim = 8
    u = np.array([1.0, 0.5, -0.25, 0.125, 0.75, -0.5, 0.3, 0.9])
    for i in range(40):
        noise = np.array(
            [(((i * 7 + j * 13) % 11) - 5) / 50.0 for j in range(dim)]
        )
        rng_free.append((u * (1 + (i % 3) * 0.1) + noise).tolist())
    e = spark.createDataFrame([(r,) for r in rng_free], "v array<double>")
    x, _ = power_iteration_loop(e, dim, 6)
    V = np.array(rng_free)
    w, vec = np.linalg.eigh(V.T @ V)
    top = vec[:, -1]
    xa = np.array(x)
    cos = abs(float(np.dot(xa, top))) / (
        float(np.linalg.norm(xa)) * float(np.linalg.norm(top))
    )
    assert w[-1] / w[-2] > 5, "synthetic spectrum must be dominant"
    assert cos > 0.999, cos


def test_power_iteration_adversarial_magnitude(spark):
    """Vectors with |v| ~ 1e6 force the derived grid BELOW 2^30; the
    distributed loop must still run without ANSI overflow and match the
    pure-Python referee bit-for-bit on the coarser grid."""
    from hadoopmapreduce_spark.operators.similarity import (
        pi_grid_shift,
        power_iteration_loop,
    )

    V = [
        [1.0e6 * (((i * 7 + j * 13) % 11) - 5) / 5.0 for j in range(4)]
        for i in range(20)
    ]
    vmax = max(abs(a) for row in V for a in row)
    q = pi_grid_shift(len(V), vmax, 4)
    assert q < 30, q  # the adversarial case must actually exercise it
    e = spark.createDataFrame([(r,) for r in V], "v array<double>").repartition(3)
    got_x, got_y = power_iteration_loop(e, 4, 4)
    exp_x, exp_y = _pi_python_referee(V, 4)
    assert got_y == exp_y
    assert got_x == exp_x
    assert max(abs(v) for v in got_y.values()) < 2 ** 62
