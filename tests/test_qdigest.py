"""Q-digest (operators/qdigest.py): construction invariants,
order-independence, merge determinism, rank-error bound, and the
degenerate shapes."""

from __future__ import annotations

import math
import random

import pytest

from specialsid_spark.operators.qdigest import (
    build_qdigest,
    node_range,
    qdigest_quantile,
    qdigest_size,
)


def _hist(vals):
    h = {}
    for v in vals:
        h[v] = h.get(v, 0) + 1
    return h


def test_counts_preserved_and_compressed():
    rng = random.Random(5)
    vals = [rng.randrange(1 << 16) for _ in range(50_000)]
    d = build_qdigest(_hist(vals), 16, 64)
    assert sum(d.values()) == len(vals)
    # the whole point: far fewer nodes than distinct values
    assert qdigest_size(d) < 3 * 64


def test_order_independence():
    rng = random.Random(7)
    vals = [rng.randrange(1 << 12) for _ in range(5000)]
    a = build_qdigest(_hist(vals), 12, 32)
    rng.shuffle(vals)
    b = build_qdigest(_hist(vals), 12, 32)
    assert a == b  # histogram in, digest out — arrival order irrelevant


def test_rank_error_bound():
    rng = random.Random(11)
    for dist in (
        [rng.randrange(1 << 20) for _ in range(80_000)],  # uniform
        [int(abs(rng.gauss(5000, 800))) for _ in range(80_000)],  # clustered
        [min((1 << 20) - 1, int(rng.expovariate(1e-4))) for _ in range(80_000)],
    ):
        h = _hist(dist)
        n = len(dist)
        L, k = 20, 64
        d = build_qdigest(h, L, k)
        thr = max(1, n // k)
        sv = sorted(dist)
        for p in (0.1, 0.5, 0.9, 0.99):
            r = int(math.floor(p * (n - 1))) + 1
            est = qdigest_quantile(d, L, r)
            rank_le = sum(1 for v in dist if v <= est)
            assert abs(rank_le - r) <= L * thr, (p, rank_le, r)
            assert est >= sv[max(0, r - 1 - L * thr)]


def test_node_ranges():
    # root covers everything; leaves cover one value
    assert node_range(1, 8) == (0, 255)
    assert node_range(2, 8) == (0, 127)
    assert node_range(3, 8) == (128, 255)
    assert node_range((1 << 8) + 42, 8) == (42, 42)


def test_small_inputs():
    # n < k -> thr = 1: merges only where pairs+parent fit in 1 count
    d = build_qdigest({5: 1}, 8, 64)
    assert sum(d.values()) == 1
    assert qdigest_quantile(d, 8, 1) >= 5
    # empty digest
    assert qdigest_quantile({}, 8, 1) == 0


def test_out_of_domain_raises():
    with pytest.raises(ValueError):
        build_qdigest({1 << 10: 1}, 10, 16)
    with pytest.raises(ValueError):
        build_qdigest({-1: 1}, 10, 16)


def test_skewed_heavy_value():
    # one value holding most of the mass must stay near its leaf
    h = {100: 90_000, 5000: 5_000, 60_000: 5_000}
    L = 16
    d = build_qdigest(h, L, 64)
    n = 100_000
    r50 = int(math.floor(0.5 * (n - 1))) + 1
    est = qdigest_quantile(d, L, r50)
    lo, hi = 100, 100 + (n // 64) * L  # heavy leaf unsplittable
    assert lo <= est <= 5000  # p50 points at (or just past) the heavy value


def test_sql_oracle_matches_python_kernel():
    """The generated 26-level SQL restatement and the Python kernel
    must produce the IDENTICAL digest-derived answers on synthetic
    data (DuckDB only — the Spark side reuses the Python kernel)."""
    import duckdb

    from specialsid_spark.queries.aggregates import _QD_K, _QD_L, _QDIGEST_ORACLE

    rng = random.Random(3)
    prices = [round(rng.uniform(1000, 500000), 2) for _ in range(4000)]
    con = duckdb.connect()
    con.execute("CREATE TABLE orders(o_totalprice DOUBLE)")
    con.executemany("INSERT INTO orders VALUES (?)", [(p,) for p in prices])
    got = con.execute(_QDIGEST_ORACLE).fetchall()

    hist = {}
    for p in prices:
        c = int(round(p * 100))
        hist[c] = hist.get(c, 0) + 1
    n = sum(hist.values())
    thr = max(1, n // _QD_K)
    d = build_qdigest(hist, _QD_L, _QD_K)
    sv = sorted(hist)
    for (p, gn, gthr, gnodes, gest, gexact, grank, gok), q in zip(
        got, (0.5, 0.9, 0.99)
    ):
        r = int(math.floor(q * (n - 1))) + 1
        est = qdigest_quantile(d, _QD_L, r)
        acc = 0
        exact = sv[-1]
        for v in sv:
            acc += hist[v]
            if acc >= r:
                exact = v
                break
        rank_le = sum(c for v, c in hist.items() if v <= est)
        assert (p, gn, gthr, gnodes) == (q, n, thr, qdigest_size(d))
        assert (gest, gexact, grank) == (est, exact, rank_le)
        assert gok == int(abs(rank_le - r) <= _QD_L * thr) == 1


def test_subtree_cut_equals_global_pass():
    """The distributed-build decomposition (VERDICT r9 #3): levels
    L..s+1 per level-s subtree, then s..1 over the union, must be
    BIT-IDENTICAL to the single global pass for any cut s."""
    from specialsid_spark.operators.qdigest import compress_levels, hist_to_leaves

    rng = random.Random(11)
    L, k = 14, 32
    hist = _hist([rng.randrange(1 << L) for _ in range(20_000)])
    n = sum(hist.values())
    thr = max(1, n // k)
    want = build_qdigest(hist, L, k)
    for s in (2, 5, 8, 11):
        shift = L - s
        union: dict[int, int] = {}
        by_subtree: dict[int, dict[int, int]] = {}
        for v, c in hist.items():
            by_subtree.setdefault(v >> shift, {})[v] = c
        for sub_hist in by_subtree.values():
            part = compress_levels(
                hist_to_leaves(sub_hist, L), thr, L, down_to=s
            )
            for node, c in part.items():
                union[node] = union.get(node, 0) + c
        got = compress_levels(union, thr, s)
        assert got == want, f"cut s={s} diverged from the global pass"


def test_merge_preserves_counts_and_2x_bound():
    """ADD-merge of shard digests built under the global threshold:
    total count preserved, and every estimate's rank error stays
    within S*L*thr (S=2)."""
    from specialsid_spark.operators.qdigest import merge_qdigests

    rng = random.Random(13)
    L, k = 14, 32
    vals = [rng.randrange(1 << L) for _ in range(30_000)]
    n = len(vals)
    thr = max(1, n // k)
    shard_hists = [_hist(vals[0::2]), _hist(vals[1::2])]
    from specialsid_spark.operators.qdigest import compress_levels, hist_to_leaves

    shards = [
        compress_levels(hist_to_leaves(h, L), thr, L) for h in shard_hists
    ]
    merged = merge_qdigests(shards, L, thr)
    assert sum(merged.values()) == n
    svals = sorted(vals)
    for p in (0.1, 0.5, 0.9, 0.99):
        r = int(math.floor(p * (n - 1))) + 1
        est = qdigest_quantile(merged, L, r)
        rank_le = sum(1 for v in svals if v <= est)
        assert abs(rank_le - r) <= 2 * L * thr, p


def _compress_levels_py(
    cnt: dict[int, int], thr: int, top_level: int, down_to: int = 0
) -> dict[int, int]:
    """Reference bottom-up sibling-merge pass — the spec in
    operators/qdigest.py's module docstring, verbatim, one pair at a
    time."""
    for lvl in range(top_level, down_to, -1):
        lo, hi = 1 << lvl, 1 << (lvl + 1)
        # only PRESENT sibling pairs (the domain can be 2^26 wide; the
        # node table never is)
        pairs = sorted({x & ~1 for x in cnt if lo <= x < hi})
        for left in pairs:
            cl = cnt.get(left, 0)
            cr = cnt.get(left + 1, 0)
            parent = left >> 1
            cp = cnt.get(parent, 0)
            if cl + cr + cp <= thr:
                cnt[parent] = cl + cr + cp
                cnt.pop(left, None)
                cnt.pop(left + 1, None)
    return cnt


def test_vectorized_pass_matches_reference_loop():
    """r14: compress_levels evaluates through the numpy level pass;
    it must be node-for-node identical to the reference Python loop on
    dense, sparse, skewed and pre-merged (internal-node) inputs, at
    every cut level."""
    from specialsid_spark.operators.qdigest import compress_levels, hist_to_leaves

    rng = random.Random(14)
    L = 12
    cases = [
        {v: rng.randrange(1, 5) for v in rng.sample(range(1 << L), 2000)},
        {v: 1 for v in range(100)},  # dense block
        {0: 50_000, (1 << L) - 1: 1},  # extreme skew
        {rng.randrange(1 << L): rng.randrange(1, 1000) for _ in range(300)},
    ]
    for hist in cases:
        n = sum(hist.values())
        for k in (4, 64):
            thr = max(1, n // k)
            for down_to in (0, 6):
                got = compress_levels(
                    hist_to_leaves(hist, L), thr, L, down_to=down_to
                )
                want = _compress_levels_py(
                    hist_to_leaves(hist, L), thr, L, down_to=down_to
                )
                assert got == want
    # internal-node inputs: a merged digest re-compressed (the
    # merge_qdigests path hands compress_levels non-leaf nodes)
    h1 = {v: 1 for v in range(0, 512, 2)}
    h2 = {v: 3 for v in range(1, 512, 3)}
    thr = max(1, (sum(h1.values()) + sum(h2.values())) // 16)
    d1 = compress_levels(hist_to_leaves(h1, L), thr, L)
    d2 = compress_levels(hist_to_leaves(h2, L), thr, L)
    merged = {}
    for d in (d1, d2):
        for node, c in d.items():
            merged[node] = merged.get(node, 0) + c
    assert compress_levels(dict(merged), thr, L) == _compress_levels_py(
        dict(merged), thr, L
    )
