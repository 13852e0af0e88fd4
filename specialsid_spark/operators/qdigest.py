"""Q-digest — the order-independent deterministic quantile sketch
(Shrivastava, Buragohain, Agrawal, Suri 2004, "Medians and Beyond"),
completing this engine's deterministic sketch family next to the
md5-built HLL / Count-Min / KMV (operators/sketches.py).

Why another quantile path: the engine GK sketch
(agg_approx_percentiles) is the production one-pass summary, but its
internals are engine-specific so only a bound can be checked.  The
q-digest is built from the VALUE HISTOGRAM of an integer domain, so it
is bit-identical under ANY partitioning or arrival order — a second
engine re-derives the exact same digest and every estimate
hash-matches, the HLL-manual discipline applied to quantiles.

Canonical construction (this module's spec, restated verbatim by the
SQL oracle):

* Domain ``[0, 2^L)``; heap node ids — root 1, node ``x`` at level
  ``l`` covers ``[(x - 2^l) << (L-l), ((x - 2^l + 1) << (L-l)) - 1]``;
  leaf for value ``v`` is ``2^L + v``.
* Counts start at the leaves (the histogram).  One deterministic
  bottom-up pass, levels ``L..1``: for every sibling pair with
  combined ``cnt(left) + cnt(right) + cnt(parent) <= thr``
  (``thr = max(1, n // k)``), the pair merges into the parent;
  otherwise all three stay.  No randomness, no order dependence.
* Quantile query for rank ``r``: nodes sorted by (range right end ASC,
  level DESC — smaller ranges first on ties); the estimate is the
  right end of the first node where the running count reaches ``r``.
* Guarantee: every value's counted position sits below ≤ L ancestors
  each holding ≤ thr, so the rank error is at most ``L * thr`` —
  self-check flags in the query pin it against exact ranks.

Scale shape: the histogram is one groupBy(value) — map-side combining,
order-independent; its size is bounded by the DOMAIN (2^L), never the
corpus, and the compression pass touches only histogram nodes.  At
100 TB with a dense domain the same 26 merge levels run as DataFrame
steps; at this fixture's domain the node table is collected (the
"collect k small things" contract, with k domain-bounded).
"""

from __future__ import annotations


def _compress_levels_arrays(nodes, counts, thr: int, top_level: int, down_to: int):
    """Vectorized core of :func:`compress_levels` over parallel int64
    numpy arrays (``nodes`` UNIQUE, ``counts`` positive).  Bit-identical
    to the module docstring's per-pair loop, which
    tests/test_qdigest.py::test_vectorized_pass_matches_reference_loop
    keeps as its referee: sibling pairs at one level have disjoint
    parents (each parent sits one level up and is read/written by
    exactly its own pair), so the per-pair merge decisions are
    order-free and evaluate as one boolean mask per level.  All
    arithmetic stays int64 (counts <= n).  r14 opt, guide §4.2: the
    pure-Python pass over a 150k-leaf histogram cost ~1.3 s per digest
    inside applyInPandas — the numpy pass is ~30 ms."""
    import numpy as np  # noqa: PLC0415

    for lvl in range(top_level, down_to, -1):
        at = (nodes >> lvl) == 1
        if not at.any():
            continue
        rest_n, rest_c = nodes[~at], counts[~at]
        order = np.argsort(nodes[at])
        ch_n, ch_c = nodes[at][order], counts[at][order]
        parents = ch_n >> 1
        uniq, idx = np.unique(parents, return_index=True)
        sums = np.add.reduceat(ch_c, idx)
        # existing counts of those parents (nodes one level up)
        pos = np.searchsorted(uniq, rest_n)
        pos_c = np.minimum(pos, len(uniq) - 1)
        match = (pos < len(uniq)) & (uniq[pos_c] == rest_n)
        pcnt = np.zeros(len(uniq), dtype=np.int64)
        pcnt[pos_c[match]] = rest_c[match]
        total = sums + pcnt
        merge = total <= thr
        keep_child = ~merge[np.searchsorted(uniq, parents)]
        drop_rest = np.zeros(rest_n.shape[0], dtype=bool)
        mi = np.flatnonzero(match)
        if mi.size:
            drop_rest[mi] = merge[pos_c[mi]]
        nodes = np.concatenate([rest_n[~drop_rest], ch_n[keep_child], uniq[merge]])
        counts = np.concatenate(
            [rest_c[~drop_rest], ch_c[keep_child], total[merge]]
        )
    return nodes, counts


def compress_levels(
    cnt: dict[int, int], thr: int, top_level: int, down_to: int = 0
) -> dict[int, int]:
    """One deterministic bottom-up sibling-merge pass over levels
    ``top_level .. down_to+1`` (mutates and returns ``cnt``).

    The pass is SUBTREE-LOCAL above any cut level ``s``: a step at
    level ``lvl > s`` reads and writes only nodes inside the level-``s``
    subtree containing them, so running levels ``L..s+1`` independently
    per subtree and then ``s..1`` over the union is IDENTICAL to the
    single global pass — the decomposition the distributed build
    (queries/aggregates.py agg_qdigest_quantiles) exploits.

    Evaluates through the vectorized level pass
    (:func:`_compress_levels_arrays` — value-identical to the
    reference loop, which tests keep pinned)."""
    if not cnt:
        return cnt
    import numpy as np  # noqa: PLC0415

    nodes = np.fromiter(cnt.keys(), np.int64, len(cnt))
    counts = np.fromiter(cnt.values(), np.int64, len(cnt))
    nodes, counts = _compress_levels_arrays(nodes, counts, thr, top_level, down_to)
    cnt.clear()
    cnt.update(zip(nodes.tolist(), counts.tolist()))
    return cnt


def hist_to_leaves(hist: dict[int, int], level_bits: int) -> dict[int, int]:
    """Lift a value histogram to leaf node ids ``2^L + v``."""
    top = 1 << level_bits
    cnt: dict[int, int] = {}
    for v, c in hist.items():
        if not 0 <= v < top:
            raise ValueError(f"qdigest: value {v} outside [0, 2^{level_bits})")
        cnt[top + v] = cnt.get(top + v, 0) + c
    return cnt


def build_qdigest(hist: dict[int, int], level_bits: int, k: int) -> dict[int, int]:
    """Compress a value histogram into a q-digest: {node_id: count}."""
    n = sum(hist.values())
    thr = max(1, n // k)
    return compress_levels(hist_to_leaves(hist, level_bits), thr, level_bits)


def merge_qdigests(
    digests: list[dict[int, int]], level_bits: int, thr: int
) -> dict[int, int]:
    """ADD-merge shard digests, then one compression pass with the
    shared threshold.  Deterministic: a pure function of the shard
    node multisets.  Error bound: each shard's internal nodes hold
    <= thr, so the summed input holds <= S*thr per internal node and
    the merged digest's rank error is <= S * L * thr for S shards
    (the self-check agg_qdigest_merge_parity pins S=2)."""
    cnt: dict[int, int] = {}
    for d in digests:
        for node, c in d.items():
            cnt[node] = cnt.get(node, 0) + c
    return compress_levels(cnt, thr, level_bits)


def _node_level(node: int) -> int:
    return node.bit_length() - 1


def node_range(node: int, level_bits: int) -> tuple[int, int]:
    """Inclusive [lo, hi] value range a node covers."""
    lvl = _node_level(node)
    width = 1 << (level_bits - lvl)
    lo = (node - (1 << lvl)) * width
    return lo, lo + width - 1


def qdigest_quantile(digest: dict[int, int], level_bits: int, rank: int) -> int:
    """Estimate the value at 1-indexed ``rank``: walk nodes by
    (right end ASC, level DESC) accumulating counts."""
    order = sorted(
        digest.items(),
        key=lambda kv: (node_range(kv[0], level_bits)[1], -_node_level(kv[0])),
    )
    cum = 0
    for node, c in order:
        cum += c
        if cum >= rank:
            return node_range(node, level_bits)[1]
    return node_range(order[-1][0], level_bits)[1] if order else 0


def qdigest_size(digest: dict[int, int]) -> int:
    return len(digest)
