"""Random-hyperplane LSH for embedding similarity (scale path).

Brute-force cosine top-k (plans/queries_similarity.py) is exact but
O(probes × corpus). The scale path buckets vectors by sign-random-
projection: T hash tables, each hashing a vector to a P-bit bucket
(bit p = sign of the dot product with a fixed random hyperplane).
Similar vectors collide with probability 1 − θ/π per bit, so searching
only same-bucket candidates trades recall for a corpus-size-independent
candidate set — the standard SRP-LSH construction (Charikar 2002).

Determinism contract: hyperplane entries are ±1 Rademacher signs
derived from md5 of "plane:dim", so the same buckets fall out of both
engines bit-for-bit. Every dot product is a LEFT-FOLD sum of
float→double-exact ±terms, in two interchangeable spellings: the
oracle's left-associated ``+``/``-`` SQL chain and the vectorized
``np.cumsum`` hot path (``buckets_array_udf``) — both associate
identically, so even near-zero dots sign-match.

Scale notes: bucketing is a narrow projection (no shuffle); the
candidate join shuffles on (table, bucket) — small ints, never the
vector payload twice (the probe side is broadcast-sized); tune T and P
for the recall/cost point (T tables multiply recall, P bits divide
candidate volume by ~2^P).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# INVARIANT: every row of the embeddings table carries exactly
# EMBED_DIM entries (the corpus generator emits fixed-width vectors;
# tests/test_r12_optimizations.py pins it at the test SFs). Plans index
# embedding arrays at fixed positions up to EMBED_DIM-1 — e.g. the
# x63/x145 upper-triangle product `qa[i]` under sequence(0, 63) — which
# under ANSI mode (Spark 4 default) throws INVALID_ARRAY_INDEX on a
# shorter array instead of yielding NULL. A ragged corpus must be
# length-gated at ingest before these plans run.
EMBED_DIM = 64
N_TABLES = 8
# bits per table → 2^6 buckets/table. Tuned against the synthetic
# corpus: at 4 bits a random pair collides in some table ~40% of the
# time (candidate volume ~O(n²)), at 6 bits ~12% with ~98% recall for
# true near-dups (per-bit collision 0.86 at cosine 0.9 → 1-(1-0.86^6)^8).
# Raising bits is the scale lever: bucket occupancy n/2^P drives the
# self-join cost, and the oracle derives from the same constant.
N_PLANES = 6


def _sign(plane: int, dim: int) -> float:
    h = int(hashlib.md5(f"{plane}:{dim}".encode()).hexdigest()[:15], 16)
    return 1.0 if h % 2 == 1 else -1.0


def plane_signs(plane: int) -> list[float]:
    """Deterministic ±1 hyperplane; identical in engine and oracle."""
    return [_sign(plane, i) for i in range(EMBED_DIM)]


# --- Spark side ------------------------------------------------------------


_SIGNS_MATRIX = None


def _signs_matrix():
    global _SIGNS_MATRIX
    if _SIGNS_MATRIX is None:
        _SIGNS_MATRIX = np.array(
            [plane_signs(k) for k in range(N_TABLES * N_PLANES)], dtype=np.float64
        )
    return _SIGNS_MATRIX


def buckets_array_udf() -> Column:
    """All T bucket ids via one Arrow-batched vectorized pass.

    Bit-parity with the SQL chains: float32→float64 elementwise
    products are exact, and ``np.cumsum`` accumulates strictly left to
    right — the same fold order as the oracle's left-associated
    ``+``/``-`` chain — so even near-zero dots sign-match. A per-plane
    loop keeps peak temp memory at one (batch × EMBED_DIM) array.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<int>")
    def _buckets(emb: pd.Series) -> pd.Series:
        S = _signs_matrix()
        V = np.stack(emb.to_numpy()).astype(np.float64)  # (B, D)
        n = len(V)
        buckets = np.zeros((n, N_TABLES), dtype=np.int64)
        for t in range(N_TABLES):
            for p in range(N_PLANES):
                dots = np.cumsum(V * S[t * N_PLANES + p], axis=1)[:, -1]
                buckets[:, t] += (dots > 0) << p
        return pd.Series(list(buckets.astype(np.int32)))

    return _buckets(F.col("embedding"))


# --- DuckDB oracle side ----------------------------------------------------


def _dot_signs_duck(vec_expr: str, signs: list[float]) -> str:
    """Same explicit left-associated chain, 1-based list indexing —
    flat arithmetic vectorizes across rows where a per-row
    list_transform/list_reduce closure pair does not."""
    terms = [
        ("+ " if s > 0 else "- ") + f"CAST({vec_expr}[{i + 1}] AS DOUBLE)"
        for i, s in enumerate(signs)
    ]
    return "(" + terms[0].lstrip("+ ") + " " + " ".join(terms[1:]) + ")"


def duck_bucket_sql(table_idx: int, vec_expr: str = "embedding") -> str:
    return " + ".join(
        f"(CASE WHEN {_dot_signs_duck(vec_expr, plane_signs(table_idx * N_PLANES + p))} > 0 "
        f"THEN {1 << p} ELSE 0 END)"
        for p in range(N_PLANES)
    )


def duck_buckets_list_sql(vec_expr: str = "embedding") -> str:
    return "[" + ", ".join(duck_bucket_sql(t, vec_expr) for t in range(N_TABLES)) + "]"
