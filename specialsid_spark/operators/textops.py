"""Text-analysis + dedup expression builders (SURVEY.md §2.11 X1/X4).

Everything here is a *native Column expression* builder — tokenize,
shingle, MinHash, SimHash, fingerprint — so the hot path stays inside
whole-stage codegen.  Python never touches a row: a 100 TB dedup pass
is a scan + explode + groupBy, all JVM-side.

Cross-engine portability (for the DuckDB oracle): hashes are md5 hex
strings (identical in both engines) and MinHash takes the *lexicographic
min* of seeded md5 strings — no integer conversion, no engine-specific
hash function.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

def tokens(text: Column | str) -> Column:
    """Whitespace tokenization (lowercased)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.lower(F.trim(c)), r"\s+")


def quality_gate(toks: Column) -> Column:
    """The corpus quality gate: 5 to 1000 tokens, and more than a tenth
    of them distinct (lexical diversity)."""
    n = F.size(toks)
    return n.between(5, 1000) & (F.size(F.array_distinct(toks)).cast("double") / n > 0.1)


# Stopword markers per language for the stopword-vote language rule;
# the dict order is the tie-break order (en > es > fr > de).
LANG_MARKERS = {
    "en": ("the", "and", "of"),
    "es": ("el", "la", "de"),
    "fr": ("le", "la", "et"),
    "de": ("der", "die", "und"),
}


def _isin(markers: tuple[str, ...]):
    # factory keeps the HOF lambda unary: PySpark infers HOF arity from
    # the Python signature, so a default arg would receive the INDEX
    return lambda x: x.isin(*markers)


def lang_guess(toks: Column) -> Column:
    """Stopword-vote language ID: the language whose markers occur most
    often among ``toks``, ties to the earlier one in LANG_MARKERS."""
    votes = [F.size(F.filter(toks, _isin(m))) for m in LANG_MARKERS.values()]
    langs = list(LANG_MARKERS)
    guess = None
    for i, lang in enumerate(langs[:-1]):
        wins = votes[i] >= votes[i + 1]
        for v in votes[i + 2 :]:
            wins = wins & (votes[i] >= v)
        guess = F.when(wins, lang) if guess is None else guess.when(wins, lang)
    return guess.otherwise(langs[-1])


def word_kgrams(toks: Column, k: int = 3) -> Column:
    """ORDERED word k-grams (duplicates kept) — position matters for
    rolling-hash winnowing.  Same named-projection rule as
    :func:`word_shingles`: pass a materialized column, not the raw
    ``tokens(...)`` expression.

    Documents shorter than k tokens yield an EMPTY gram array.  (The
    guard matters: ``sequence(1, n-k+1)`` with n < k produces a
    DESCENDING sequence [1, 0, ...] — Spark's sequence walks backwards
    when end < start — and element_at then throws out-of-bounds.
    Caught by the Python-reference cross-validation test.)"""
    n = F.size(toks)
    idx = F.sequence(F.lit(1), n - (k - 1))
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(k)]),
    )
    return F.when(n >= k, grams).otherwise(F.array().cast("array<string>"))


def word_shingles(toks: Column, k: int = 3) -> Column:
    """Distinct word k-gram shingles: transform over a 1-based index
    sequence (no UDF, no explode until the caller wants one).

    PERF: pass a *named column* (``F.col("toks")`` from a prior
    projection), never the raw ``tokens(...)`` expression.  ``toks`` is
    referenced k times inside the per-gram lambda; an inline expression
    is re-evaluated on every reference (measured 7x slower), while a
    multi-referenced projection survives CollapseProject and is
    computed once per row.  Sub-k-token documents yield an empty array
    (see :func:`word_kgrams` for why the guard is required)."""
    return F.array_distinct(word_kgrams(toks, k))


_MOD32 = 4_294_967_296  # 2^32


def minhash_bases(md5_hex: Column) -> tuple[Column, Column]:
    """Carter-Wegman bases: two 32-bit halves of an md5 hex digest.
    Component j is then ``min((u1 + j*u2) % 2^32)`` — 8 components cost
    one hash + integer math instead of 8 hashes (the 100 TB difference).
    Portable: DuckDB computes the same halves via ``('0x'||hex)::BIGINT``.

    PERF: pass a *named* ``md5(shingle)`` column from a prior projection
    — both halves reference it, and a multi-referenced projection
    survives CollapseProject, so each shingle hashes exactly once."""
    u1 = F.conv(F.substring(md5_hex, 1, 8), 16, 10).cast("long")
    u2 = F.conv(F.substring(md5_hex, 9, 8), 16, 10).cast("long")
    return u1, u2


def minhash_component(u1: Column, u2: Column, seed: int) -> Column:
    """The j-th CW hash value for one shingle (min-aggregated per doc)."""
    return (u1 + F.lit(seed) * u2) % F.lit(_MOD32)


def sql_minhash_component(seed: int) -> str:
    """DuckDB twin of :func:`minhash_component` over columns u1/u2."""
    return f"(u1 + {seed} * u2) % 4294967296"


SQL_MINHASH_BASES = (
    "('0x' || substring(md5(shingle), 1, 8))::BIGINT AS u1, "
    "('0x' || substring(md5(shingle), 9, 8))::BIGINT AS u2"
)


def band_key(*comps: Column) -> Column:
    """LSH band key from r adjacent MinHash components."""
    return F.md5(F.concat_ws("|", *[c.cast("string") for c in comps]))


def token_digest16(toks: Column) -> Column:
    """Per-token 16-bit digest: the first 4 hex digits of md5 as an int.

    ONE md5 per token; all 16 SimHash bit-votes then read this integer.
    The previous formulation hashed inside each bit's aggregate lambda
    — 16 md5 calls per token."""
    return F.transform(
        toks, lambda t: F.conv(F.substring(F.md5(t), 1, 4), 16, 10).cast("int")
    )


SQL_TOKEN_DIGEST16 = "list_transform({toks}, t -> ('0x' || substring(md5(t), 1, 4))::INT)"


SQL_TOKEN_MD5S = "list_transform({toks}, t -> md5(t))"


def _digest_bit_shift(b: int) -> int:
    # bit b historically lived in hex digit b//4 at position b%4; digit i
    # occupies bits 4*(3-i)..4*(3-i)+3 of the 16-bit digest value
    return 4 * (3 - b // 4) + b % 4


def simhash16_from_digests(digs: Column) -> Column:
    """16-bit SimHash over a per-token digest array (:func:`token_digest16`).

    For bit b: that bit of the token digest votes +1/-1; the signature
    bit is 1 iff the vote sum is >= 0.  PERF: pass ``digs`` as a named
    column from a prior projection — it is referenced 16 times, so an
    inline expression would be re-derived per bit.
    """
    def _vote_lambda(shift: int):
        # factory keeps the lambda strictly binary-arity: PySpark infers
        # higher-order-function arity from the Python signature
        def fn(acc: Column, v: Column) -> Column:
            return acc + (F.shiftright(v, shift).bitwiseAND(F.lit(1)) * 2 - 1)

        return fn

    votes = []
    for b in range(16):
        vote_sum = F.aggregate(digs, F.lit(0), _vote_lambda(_digest_bit_shift(b)))
        votes.append(F.when(vote_sum >= 0, F.lit(1 << b)).otherwise(F.lit(0)))
    sig = votes[0]
    for v in votes[1:]:
        sig = sig + v
    return sig


def sql_simhash16_digests(digs_expr: str) -> str:
    """DuckDB twin of :func:`simhash16_from_digests` over a digest list."""
    votes = []
    for b in range(16):
        bit = f"((v >> {_digest_bit_shift(b)}) & 1)"
        votes.append(
            f"CASE WHEN list_sum(list_transform({digs_expr}, v -> {bit} * 2 - 1)) >= 0 "
            f"THEN {1 << b} ELSE 0 END"
        )
    return "(" + " + ".join(votes) + ")"


def fingerprint(toks: Column) -> Column:
    """Document fingerprint: md5 over the sorted distinct token set —
    the canonical 'same bag of words' identity."""
    return F.md5(F.array_join(F.sort_array(F.array_distinct(toks)), " "))


def dot(a: Column, b: Column) -> Column:
    """Dot product as a sequential fold (deterministic summation order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def dot_np(a: Column, b: Column) -> Column:
    """`dot` twin evaluated as a numpy DIMENSION loop batched across
    rows via Arrow (r13 opt, guide §4.2): the SQL fold is
    CodegenFallback — interpreted per element per row — while this
    runs 64 vectorized ops per batch.  Bit-identical to `dot`: acc is
    built d-by-d with the same IEEE double multiply-then-add order per
    row (NOT a BLAS matmul, whose reassociated summation would drift
    ULPs vs the oracle's sequential fold).  Parity pinned in
    tests/test_ann_recall.py."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _seq_dot(xs, ys):
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        if len(xs) == 0:
            return pd.Series([], dtype="float64")
        x = np.stack(xs.to_numpy()).astype(np.float64, copy=False)
        y = np.stack(ys.to_numpy()).astype(np.float64, copy=False)
        acc = np.zeros(x.shape[0], dtype=np.float64)
        for d in range(x.shape[1]):
            acc = acc + x[:, d] * y[:, d]
        return pd.Series(acc)

    return _seq_dot(a, b)


def norm(a: Column) -> Column:
    """L2 norm — precompute once per vector side before a pair join so
    pair scoring costs one fold, not three."""
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity between two float vectors as a sequential fold
    (deterministic summation order; elements cast to double first)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    nb = F.sqrt(
        F.aggregate(
            F.transform(b, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    return dot / (na * nb)
