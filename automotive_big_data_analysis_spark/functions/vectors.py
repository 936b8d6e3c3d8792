"""Vector column expressions over ``array<float>`` embeddings.

Everything stays in JVM higher-order functions (``zip_with`` /
``aggregate``) — no Python in the scoring loop. Floats are cast to double
before arithmetic so results are bit-identical to the DuckDB oracle (which
does the same cast); fold order is left-to-right in both engines.

The LSH hyperplanes are deterministic literals generated from a seeded
NumPy RNG at import time and inlined into BOTH the Spark expressions and
the oracle SQL — the two engines run the exact same projection.

Every kernel an oracle replays has its DuckDB twin (``*_sql``) defined
right after it; the oracles call the twin instead of spelling the SQL.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from automotive_big_data_analysis_spark.functions import exact as ex

LSH_SEED = 7
N_PLANES = 8
DIM = 64

# Deterministic hyperplanes, rounded so the SQL literals are compact and
# bit-exact on both engines.
_rng = np.random.RandomState(LSH_SEED)
HYPERPLANES: list[list[float]] = [
    [round(float(x), 4) for x in row] for row in _rng.standard_normal((N_PLANES, DIM))
]


# Independent plane-sets for MULTI-TABLE LSH (OR-amplification: a
# candidate is probed if ANY table buckets it with the query, so the
# per-table miss rates multiply). Seeded separately from the
# single-table planes; literals inlined into both engines like
# HYPERPLANES.
LSH_TABLES = 4
_mt_rng = np.random.RandomState(LSH_SEED + 1)
MT_HYPERPLANES: list[list[list[float]]] = [
    [
        [round(float(x), 4) for x in row]
        for row in _mt_rng.standard_normal((N_PLANES, DIM))
    ]
    for _ in range(LSH_TABLES)
]


PROJ_SEED = 11
PROJ_DIM = 16  # JL target dimensionality for the reduction stage

# Random-projection matrix R (PROJ_DIM × DIM): N(0,1) entries pre-scaled
# by 1/sqrt(PROJ_DIM) = 0.25 (exactly dyadic, so the scale costs no
# precision) and rounded to 5 decimals so the literals inlined into both
# engines are identical. y = R·x approximately preserves norms/distances
# (Johnson–Lindenstrauss) — the reduction stage run before ANN indexing.
_prng = np.random.RandomState(PROJ_SEED)
PROJECTION: list[list[float]] = [
    [round(float(x) * 0.25, 5) for x in row]
    for row in _prng.standard_normal((PROJ_DIM, DIM))
]


def project(a: Column) -> list[Column]:
    """The PROJ_DIM projected components y_j = dot(a, R_j), each the
    seeded ascending fold (bit-equal to DuckDB's list_dot_product)."""
    return [
        dot(a, F.array(*[F.lit(v) for v in row])) for row in PROJECTION
    ]


def projection_sql(vec_expr: str) -> list[str]:
    """The identical projected components as DuckDB SQL."""
    return [
        f"list_dot_product({vec_expr}, ["
        + ", ".join(str(v) for v in row)
        + "])"
        for row in PROJECTION
    ]


def as_double(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def as_double_sql(col: str) -> str:
    """DuckDB twin of :func:`as_double`."""
    return f"list_transform({col}, x -> CAST(x AS DOUBLE))"


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ via zip_with + left fold. DuckDB: ``list_dot_product``."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def dot_unrolled(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ as an unrolled left-to-right addition chain of
    ``element_at`` products. Unlike ``aggregate``/``zip_with`` lambdas
    (interpreted per element), the unrolled tree is whole-stage-codegen'd —
    ~10× faster in pairwise-scoring loops. Summation order is ascending i,
    identical to the fold and to DuckDB's ``list_dot_product``, so results
    are bit-equal."""
    terms = [
        F.element_at(a, i) * F.element_at(b, i) for i in range(1, DIM + 1)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def sq_dist(a: Column, b: Column) -> Column:
    """Σ (aᵢ−bᵢ)² via one zip_with + left fold — the same ascending-index
    summation as DuckDB's ``list_dot_product`` of the difference list in
    :func:`sq_dist_sql`, so the doubles are bit-identical across engines."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def sq_dist_sql(a: str, b: str, dim: int = DIM) -> str:
    """DuckDB twin of :func:`sq_dist` over ``dim``-long double lists (a
    constant index range is folded once, not rebuilt per row)."""
    diff = f"list_transform(range(1, {dim} + 1), i -> {a}[i] - {b}[i])"
    return f"list_dot_product({diff}, {diff})"


def sq_dist_unrolled(a: str, b: str, dim: int = DIM) -> Column:
    """Σ (aᵢ−bᵢ)² as an unrolled ascending addition chain (cf.
    :func:`dot_unrolled`): whole-stage-codegen'd, ~10× faster than the
    interpreted fold in scoring loops, bit-identical summation order.

    Unlike :func:`_dot_chain_sql`, this chain deliberately omits the
    ``CAST(0 AS DOUBLE) +`` fold seed: every term is a non-negative
    square, so no partial sum can be ``-0.0`` and the seedless chain is
    bit-equal to the 0.0-seeded fold. That safety argument does NOT hold
    for signed terms — a seedless signed chain could produce ``-0.0``
    where the fold gives ``0.0`` — which is why the dot-product chain
    keeps its seed.

    Takes column NAMES and parses one SQL string: building the 256-node
    tree through py4j Column operators costs ~0.5 s of driver time PER
    CONSTRUCTION (one JVM round trip per operator); ``F.expr`` parses the
    same tree in one call (~3 ms). A left-associative ``+`` chain parses
    to the same ascending fold."""
    terms = " + ".join(
        f"((element_at({a}, {i}) - element_at({b}, {i}))"
        f" * (element_at({a}, {i}) - element_at({b}, {i})))"
        for i in range(1, dim + 1)
    )
    return F.expr(terms)


def _dot_chain_sql(a: str, b: str) -> str:
    """Unrolled ascending dot-product SQL. The leading ``CAST(0 AS
    DOUBLE) +`` replicates :func:`dot`'s fold seed exactly (a fold
    starting at 0.0 and a bare term chain differ only in the sign of an
    exact-zero partial, but hash-gated parity tolerates no exception)."""
    terms = " + ".join(
        f"(element_at({a}, {i}) * element_at({b}, {i}))"
        for i in range(1, DIM + 1)
    )
    return f"(CAST(0 AS DOUBLE) + {terms})"


def cosine_unrolled(a: str, b: str) -> Column:
    """Cosine similarity as one parsed, codegen'd unrolled expression —
    bit-identical to :func:`cosine` (same ascending folds, same seed),
    ~10× faster in |corpus|×|cells| scoring loops, ~3 ms to construct
    (vs ~1.5 s for the py4j operator tree)."""
    return F.expr(
        f"{_dot_chain_sql(a, b)}"
        f" / (sqrt({_dot_chain_sql(a, a)})"
        f" * sqrt({_dot_chain_sql(b, b)}))"
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def norm_sql(a: str) -> str:
    """DuckDB twin of :func:`norm` over a double-list expression."""
    return f"sqrt(list_dot_product({a}, {a}))"


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_sql(a: str, b: str) -> str:
    """DuckDB twin of :func:`cosine` over double-list expressions."""
    return f"list_dot_product({a}, {b}) / ({norm_sql(a)} * {norm_sql(b)})"


def mean_vector(df: DataFrame, keys: list[str], col: str) -> DataFrame:
    """(*keys, col): the element-wise mean of the ``col`` vectors in each
    ``keys`` group. Each dimension's sum accumulates in DECIMAL(25,10)
    (order-free, engine-exact) and divides by the count in double; the
    means repack into an array in dimension order."""
    return (
        df.select(*keys, F.posexplode(col).alias("dim", "x"))
        .groupBy(*keys, "dim")
        .agg((F.sum(ex.dec("x")).cast("double") / F.count("x")).alias("mu"))
        .groupBy(*keys)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "mu"))),
                lambda s: s.mu,
            ).alias(col)
        )
    )


def lsh_signature(a: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane signature over ``planes`` (``HYPERPLANES`` or
    one table of ``MT_HYPERPLANES``): one sign bit per plane, packed into
    an int (bit b set ⇔ dot(a, plane_b) >= 0). Same-bucket vectors are
    cosine-similar with high probability; used to prune ANN candidates."""
    sig = F.lit(0)
    for b, plane in enumerate(planes):
        plane_col = F.array(*[F.lit(v) for v in plane])
        sig = sig + F.when(dot(a, plane_col) >= 0, F.lit(2**b)).otherwise(F.lit(0))
    return sig


def lsh_signature_sql(vec_expr: str, planes: list[list[float]]) -> str:
    """The identical signature as DuckDB SQL over a double-list expression."""
    terms = []
    for b, plane in enumerate(planes):
        lit = "[" + ", ".join(str(v) for v in plane) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product({vec_expr}, {lit}) >= 0 "
            f"THEN {2**b} ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"
