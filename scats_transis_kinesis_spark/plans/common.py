"""Helpers shared by more than one query family.

A helper used by one family lives in that family's module; one used by
two or more lives here, once.  This module imports no family module, so
the family modules depend on it and never on each other:

- ``_idiv`` — exact integer floor division as a Spark ``Column``, the
  building block of the integer-micros contracts;
- ``_M`` — the micros scale (1e6) of those contracts;
- ``_H32`` / ``_H64`` — the DuckDB twins of the portable 32/64-bit
  token hashes, as SQL text;
- ``_STOPLIST_SQL`` — the English stopword list as a DuckDB list
  literal;
- the k-means oracle CTEs (``_kmeans_ctes`` and its ``KM_*`` knobs),
  the MinHash-LSH oracle and the heavy-hitter threshold.
"""

from __future__ import annotations

from pyspark.sql import Column

from ..functions.hashing import minhash_value_sql
from ..operators import dedup as D
from ..operators import text as X


# --- oracle SQL builders (mirror the Spark operators exactly) -------------

_H32 = "(('0x' || substr(md5({e}), 1, 8))::BIGINT)"
_H64 = "(('0x' || substr(md5({e}), 1, 15))::BIGINT)"


def _minhash_lsh_oracle() -> str:
    mins = ",\n               ".join(
        f"min({minhash_value_sql('h', a, b)}) AS m{i}"
        for i, (a, b) in enumerate(D.MINHASH_COEFFS)
    )
    band_rows = []
    for band in range(D.BANDS):
        cols = ", ".join(
            f"m{band * D.ROWS_PER_BAND + r}::VARCHAR" for r in range(D.ROWS_PER_BAND)
        )
        band_rows.append(
            f"SELECT doc_id, {band} AS band, "
            + _H64.format(e=f"concat_ws(',', {cols})")
            + " AS bucket FROM sig"
        )
    bands_sql = "\n            UNION ALL\n            ".join(band_rows)
    return f"""
        WITH sets AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       generate_series(1, len(w) - {D.SHINGLE_N - 1}),
                       i -> array_to_string(w[i:i+{D.SHINGLE_N - 1}], ' '))) AS toks
            FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
            WHERE len(w) >= {D.SHINGLE_N}
        ), tok AS (
            SELECT doc_id, unnest(toks) AS token FROM sets
        ), h AS (
            SELECT doc_id, {_H32.format(e='token')} AS h FROM tok
        ), sig AS (
            SELECT doc_id,
               {mins}
            FROM h GROUP BY doc_id
        ), banded AS (
            {bands_sql}
        ), cand AS (
            SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
            FROM banded l JOIN banded r
              ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
        )
        SELECT id_a, id_b, jaccard FROM (
            SELECT c.id_a, c.id_b,
                   round(len(list_intersect(a.toks, b.toks))::DOUBLE
                         / len(list_distinct(a.toks || b.toks)), 6) AS jaccard
            FROM cand c
            JOIN sets a ON a.doc_id = c.id_a
            JOIN sets b ON b.doc_id = c.id_b
        ) WHERE jaccard >= {D.JACCARD_THRESHOLD}
    """


_STOPLIST_SQL = ", ".join(f"'{w}'" for w in X.EN_STOPWORDS)


# Heavy-hitters support threshold (absolute count) and coarse-pass
# bucket width.  65536 buckets bound the first pass's aggregation state
# regardless of vocabulary size; a bucket's count upper-bounds every
# token in it, so pruning buckets below the threshold cannot drop a
# true heavy hitter (count-min guarantee with a single counter row).
HH_THRESHOLD = 200


# k-means contract parameters (operators/ml.py): cluster count,
# assignment rounds, embedding dimensionality.
KM_K, KM_ITERS, KM_DIM = 8, 3, 64


def _kmeans_ctes(
    k: int = KM_K,
    iters: int = KM_ITERS,
    dim: int = KM_DIM,
    final_update: bool = False,
    prefix: str = "",
    source: str = "embeddings",
) -> tuple[list[str], str]:
    """Exactly-unrolled Lloyd iterations as chained CTEs: assignment
    d{t}/a{t}/s{t}, centroid update c{t+1} — every FP intermediate
    rounded to 6 in lockstep with the Spark loop.  Returns the CTE
    list and the name of the final-assignment CTE (vec_id, v, cid,
    dist) so downstream oracles (semantic dedup) can extend the same
    chain.  Parameterized since round 10 so the trained-IVF quantizer
    oracle can unroll its own (k, iters); the defaults keep this
    query's oracle byte-identical.  ``final_update=True`` appends one
    more centroid-update CTE ``c{iters}`` computed FROM the final
    assignment (the trained-centroid export, unused by the assignment
    contract itself) and returns its name instead.

    ``prefix``/``source`` (round 10, stability audit): a non-empty
    prefix renames every CTE ``{prefix}e``/``{prefix}c0``/... so TWO
    independent Lloyd chains can coexist in one oracle, and ``source``
    is the FROM clause of the corpus CTE (e.g. ``embeddings WHERE
    vec_id % 2 = 0`` trains on a deterministic half).  With the
    defaults the emitted SQL is byte-identical to the pre-parameter
    form — pinned by sha256 in tests/test_round10b_anchors.py."""
    p = prefix
    dist = (
        f"round(list_reduce(list_transform(generate_series(1, {dim}),"
        " i -> (e.v[i] - c.c[i]) * (e.v[i] - c.c[i])),"
        " (x, y) -> x + y), 6)"
    )
    mean_list = ", ".join(f"round(avg(v[{i + 1}]), 6)" for i in range(dim))
    # The assignment CTE references alias ``e``; a prefixed chain keeps
    # that alias (``FROM {p}e e``) so the dist expression is shared.
    e_ref = f"{p}e e" if p else "e"
    ctes = [
        f"{p}e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM {source})",
        f"""{p}c0 AS (
            SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT AS cid,
                   v AS c
            FROM {p}e ORDER BY vec_id LIMIT {k}
        )""",
    ]
    for t in range(iters):
        ctes.append(
            f"""{p}d{t} AS (
                SELECT e.vec_id, e.v, c.cid, {dist} AS dist
                FROM {e_ref} CROSS JOIN {p}c{t} c
            )"""
        )
        ctes.append(
            f"""{p}a{t} AS (
                SELECT vec_id, v, cid, dist,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY dist, cid) AS rn
                FROM {p}d{t}
            )"""
        )
        ctes.append(
            f"{p}s{t} AS (SELECT vec_id, v, cid, dist FROM {p}a{t} WHERE rn = 1)"
        )
        if t + 1 < iters or final_update:
            ctes.append(
                f"""{p}c{t + 1} AS (
                    SELECT cid, [{mean_list}] AS c
                    FROM {p}s{t} GROUP BY cid
                )"""
            )
    return ctes, (f"{p}c{iters}" if final_update else f"{p}s{iters - 1}")


def _idiv(num: Column, den: Column) -> Column:
    """Exact floor division on non-negative longs, safe past 2^53:
    ``num - num % den`` is an exact multiple of ``den`` in int64, so
    the double division that follows is exact whenever the QUOTIENT
    fits in 53 bits (every use here bounds it by 1e6·|keys|)."""
    return ((num - num % den) / den).cast("long")


# Plain int (not F.lit): module import must not require an active
# SparkContext; Column arithmetic lifts it.
_M = 1_000_000
