"""DuckDB-SQL builders that mirror the Spark metric expressions
bit-for-bit (same elementwise casts, same left-to-right fold starting at
0.0). Used by ``__spark_entry__.oracle_sql`` so the driver's DuckDB
comparison hashes match exactly — no float tolerance needed.

Keep in lock-step with ``vector_search_go_spark.functions.metrics``.
"""

from __future__ import annotations

TOL = 1e-6


def sql_fold_sum(list_expr: str) -> str:
    """Left fold (+) with double accumulator, identical order to Spark's
    ``aggregate(arr, 0.0, (acc, v) -> acc + v)``."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE), {list_expr}), "
        f"(_acc, _v) -> _acc + _v)"
    )


def sql_dot(a: str, b: str) -> str:
    pairs = (
        f"list_transform(list_zip({a}, {b}), "
        f"_t -> CAST(_t[1] AS DOUBLE) * CAST(_t[2] AS DOUBLE))"
    )
    return sql_fold_sum(pairs)


def sql_l2_norm(a: str) -> str:
    sq = f"list_transform({a}, _x -> CAST(_x AS DOUBLE) * CAST(_x AS DOUBLE))"
    return f"sqrt({sql_fold_sum(sq)})"


def sql_l2_dist(a: str, b: str) -> str:
    diffsq = (
        f"list_transform(list_zip({a}, {b}), "
        f"_t -> (CAST(_t[1] AS DOUBLE) - CAST(_t[2] AS DOUBLE)) * "
        f"(CAST(_t[1] AS DOUBLE) - CAST(_t[2] AS DOUBLE)))"
    )
    return f"sqrt({sql_fold_sum(diffsq)})"


def sql_sq_l2(a: str, b: str) -> str:
    """Squared L2 (no sqrt) — mirrors functions.metrics.seq_dists('sq_l2')."""
    diffsq = (
        f"list_transform(list_zip({a}, {b}), "
        f"_t -> (CAST(_t[1] AS DOUBLE) - CAST(_t[2] AS DOUBLE)) * "
        f"(CAST(_t[1] AS DOUBLE) - CAST(_t[2] AS DOUBLE)))"
    )
    return sql_fold_sum(diffsq)


def sql_cosine_dist(a: str, b: str) -> str:
    na, nb = sql_l2_norm(a), sql_l2_norm(b)
    raw = f"(CAST(1 AS DOUBLE) - {sql_dot(a, b)} / ({na} * {nb}))"
    return (
        f"CASE WHEN {na} <= {TOL} OR {nb} <= {TOL} THEN CAST(1 AS DOUBLE) "
        f"WHEN {raw} < {TOL} THEN CAST(0 AS DOUBLE) "
        f"ELSE {raw} END"
    )


def sql_kmeans(
    corpus: str,
    k: int,
    iters: int,
    dim: int = 64,
    group: str | None = None,
    prefix: str = "k",
) -> tuple[str, str]:
    """Unrolled Lloyd iterations over ``{corpus}(id, vec)``, mirroring
    operators.kmeans.kmeans_fit(exact=True) bit-for-bit: first-k-by-id
    init, squared-L2 (d, cid) argmin assignment, id-ordered fold means,
    empty cells keep the previous centroid. With ``group``, one
    independent k-means per value of that corpus column (the PQ
    per-subspace shape), exactly like the operator's ``group`` arg.

    Returns (cte_block, final_cte_name); splice the block into a WITH
    list and select ``[group,] cid, cvec`` from the final name."""
    gsel = f"{group}, " if group else ""
    init_part = (
        f"PARTITION BY {group} " if group else ""
    )
    parts = [
        f"""{prefix}0 AS (
  SELECT {gsel}CAST(_rn - 1 AS INT) AS cid,
         list_transform(vec, _x -> CAST(_x AS DOUBLE)) AS cvec
  FROM (SELECT {gsel}vec,
               row_number() OVER ({init_part}ORDER BY id) AS _rn
        FROM {corpus}) WHERE _rn <= {k})"""
    ]
    join_prev = (
        f"JOIN {{prev}} p ON c.{group} = p.{group}" if group else "CROSS JOIN {prev} p"
    )
    assign_part = f"PARTITION BY {f'c.{group}, ' if group else ''}c.id"
    cgsel = f"c.{group}, " if group else ""
    pgsel = f"p.{group}, " if group else ""
    on_group = f"p.{group} = g.{group} AND " if group else ""
    for i in range(1, iters + 1):
        prev = f"{prefix}{i - 1}"
        dim_sum = sql_fold_sum("list_transform(g.vs, _w -> _w[_d + 1])")
        parts.append(
            f"""{prefix}a{i} AS (
  SELECT {gsel}id, vec, cid AS cell FROM (
    SELECT {cgsel}c.id, c.vec, p.cid,
           row_number() OVER ({assign_part}
                              ORDER BY {sql_sq_l2('c.vec', 'p.cvec')}, p.cid) AS _r
    FROM {corpus} c {join_prev.format(prev=prev)}) WHERE _r = 1),
{prefix}g{i} AS (
  SELECT {gsel}cell,
         list(list_transform(vec, _x -> CAST(_x AS DOUBLE)) ORDER BY id) AS vs,
         count(*) AS n
  FROM {prefix}a{i} GROUP BY {gsel}cell),
{prefix}{i} AS (
  SELECT {pgsel}p.cid,
         CASE WHEN g.cell IS NULL THEN p.cvec
              ELSE list_transform(range(0, {dim}), _d -> {dim_sum} / g.n)
         END AS cvec
  FROM {prev} p LEFT JOIN {prefix}g{i} g ON {on_group}p.cid = g.cell)"""
        )
    return ",\n".join(parts), f"{prefix}{iters}"
