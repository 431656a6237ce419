"""DuckDB SQL for the decision shapes the oracles share.

Each fingerprint plane keeps its own fixture CTE (the independent,
closed-form reference computation of its fingerprints); the decisions
layered on top of those fingerprints, and the vector-similarity shapes
(cosine, seeded-LCG hyperplanes, the top-5 tail), are stated here once,
the way queries/parsers.py builds every G-parser oracle from one
template. Each builder continues a ``WITH`` list that already defines
its input relation and returns the remaining CTEs (leading comma
included); the pair, admission and top-5 builders also return the final
``SELECT``, while ``components_sql`` stops at its ``comp`` relation.
``lcg_planes_sql`` needs no input, so it returns its CTEs without the
comma, and ``cosine_sql`` is an expression.
"""

from __future__ import annotations


def cosine_sql(a: str, b: str) -> str:
    """Cosine of the DOUBLE[] expressions ``a`` and ``b``: the same
    formula and accumulation as operators/similarity.py:cosine."""
    return (
        f"list_inner_product({a}, {b})"
        f" / sqrt(list_inner_product({a}, {a}) * list_inner_product({b}, {b}))"
    )


def lcg_planes_sql(
    banks: int, planes: int, dim: int, seed: int = 7, seed_step: int = 97
) -> str:
    """The hyperplanes of operators/similarity.py:_planes_hp_df,
    bit-exact: bank t (0 <= t < ``banks``) holds ``planes`` planes of
    ``dim`` components from the LCG of ``hyperplanes`` seeded ``seed +
    seed_step * t`` (HUGEINT for the 126-bit product, CAST AS DOUBLE for
    the same round-to-nearest). The caller's ``WITH`` must be
    ``RECURSIVE``. Ends with ``planes(t, p, plane)``."""
    return f"""lcg AS (
      SELECT t, 0 AS step, CAST({seed} + {seed_step} * t AS HUGEINT) AS state
      FROM generate_series(0, {banks - 1}) AS g(t)
      UNION ALL
      SELECT t, step + 1,
             (state * 6364136223846793005 + 1442695040888963407) % 9223372036854775808
      FROM lcg WHERE step < {planes * dim}
    ),
    plane_vals AS (
      SELECT t, (step-1) // {dim} AS p, (step-1) % {dim} AS d,
             CAST(state AS DOUBLE) / 9223372036854775808.0 * 2.0 - 1.0 AS v
      FROM lcg WHERE step >= 1
    ),
    planes AS (
      SELECT t, p, list(v ORDER BY d) AS plane FROM plane_vals GROUP BY t, p
    )"""


def top5_sql(score: str, order: str = "DESC") -> str:
    """The similarity searches' top-5 over the caller's ``scored(query_id,
    vec_id, score)``: each query's rows numbered by ``score`` (``order``)
    then vec_id. Output ``(query_id, vec_id, score, rank)``, rank as
    INTEGER, at rank <= 5."""
    return f""",
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY {score} {order}, vec_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, vec_id, {score}, CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= 5
    """


def components_sql(nodes: str, node_col: str) -> str:
    """The ``connected_components`` labels over the caller's ``pairs(i,
    j)`` edge relation: every ``node_col`` of relation ``nodes`` gets the
    minimum id it reaches over undirected edges (itself when it has
    none). The caller's ``WITH`` must be ``RECURSIVE``. Ends with
    ``comp(node_col, component)``, component as BIGINT."""
    return f""",
    edges AS (SELECT i AS src, j AS dst FROM pairs
              UNION SELECT j, i FROM pairs),
    reach(node, lab) AS (
      SELECT {node_col}, {node_col} FROM {nodes}
      UNION
      SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
    ),
    comp AS (SELECT node AS {node_col}, CAST(min(lab) AS BIGINT) AS component
             FROM reach GROUP BY node)
    """


def containment_pairs_sql(fps: str, id_col: str) -> str:
    """The ``winnow_containment_pairs(min_containment=0.5)`` result over
    the ``(id_col, fp)`` relation ``fps``: fingerprints held by more
    than 50 items are dropped as boilerplate, each lower-id pair counts
    its shared survivors, and containment = shared / the smaller side's
    UNPRUNED fingerprint count, rounded to 6 places, kept at >= 0.5.
    Output ``(i, j, n_shared, containment)``, ids as BIGINT."""
    return f""",
    cnt AS (SELECT {id_col}, count(*) AS n FROM {fps} GROUP BY {id_col}),
    pr AS (SELECT {id_col}, fp FROM {fps}
           WHERE fp IN (SELECT fp FROM {fps} GROUP BY fp
                        HAVING count(*) <= 50)),
    sh AS (SELECT a.{id_col} AS i, b.{id_col} AS j,
                  count(*) AS n_shared
           FROM pr a JOIN pr b ON a.fp = b.fp AND a.{id_col} < b.{id_col}
           GROUP BY 1, 2),
    scored AS (
      SELECT CAST(sh.i AS BIGINT) AS i, CAST(sh.j AS BIGINT) AS j,
             CAST(n_shared AS BIGINT) AS n_shared,
             round(n_shared / CAST(least(ci.n, cj.n) AS DOUBLE), 6)
               AS containment
      FROM sh JOIN cnt ci ON ci.{id_col} = sh.i
              JOIN cnt cj ON cj.{id_col} = sh.j
    )
    SELECT i, j, n_shared, containment FROM scored
    WHERE containment >= 0.5
    """


def admission_sql(fps: str, id_col: str, stored_ids: str, batch_ids: str) -> str:
    """The ``media_excerpt_rejects(tau=0.8)`` admission decision over
    the ``(id_col, plane, fp)`` relation ``fps`` (single-plane callers
    give every row one constant plane). ``stored_ids`` / ``batch_ids``
    are one-column queries (``VALUES`` lists or ``SELECT``s) naming the
    stored and batch waves. The rule: fingerprints held more than 50
    times across stored + batch are dropped as boilerplate; the
    denominator is the batch item's UNPRUNED fingerprint count; the
    evidence is the distinct surviving fps it shares, on its own plane,
    with a stored item or a LOWER-id batch item (leader-keeps); it is
    rejected at shared / denominator >= 0.8. Items without fingerprints
    are admitted. Output ``(id_col, admitted)``, ids as BIGINT."""
    return f""",
    sids({id_col}) AS ({stored_ids}),
    bids({id_col}) AS ({batch_ids}),
    pop AS (SELECT plane, fp FROM {fps}
            WHERE {id_col} IN (SELECT {id_col} FROM sids)
               OR {id_col} IN (SELECT {id_col} FROM bids)),
    rare AS (SELECT plane, fp FROM pop GROUP BY 1, 2
             HAVING count(*) <= 50),
    bf AS (SELECT {id_col}, plane, fp FROM {fps}
           WHERE {id_col} IN (SELECT {id_col} FROM bids)),
    nfp AS (SELECT {id_col}, count(*) AS n FROM bf GROUP BY 1),
    bfp AS (SELECT bf.* FROM bf JOIN rare USING (plane, fp)),
    sfp AS (SELECT a.{id_col}, a.plane, a.fp FROM {fps} a
            JOIN rare USING (plane, fp)
            WHERE a.{id_col} IN (SELECT {id_col} FROM sids)),
    sh AS (
      SELECT b.{id_col} AS j, b.fp
      FROM bfp b
      JOIN (SELECT * FROM sfp UNION ALL SELECT * FROM bfp) a
        ON a.plane = b.plane AND a.fp = b.fp
      WHERE a.{id_col} IN (SELECT {id_col} FROM sids)
         OR a.{id_col} < b.{id_col}
      GROUP BY 1, 2
    ),
    ns AS (SELECT j, count(*) AS n_shared FROM sh GROUP BY 1)
    SELECT CAST(b.{id_col} AS BIGINT) AS {id_col},
           coalesce(ns.n_shared / CAST(nfp.n AS DOUBLE) < 0.8, TRUE)
             AS admitted
    FROM bids b
    LEFT JOIN nfp ON nfp.{id_col} = b.{id_col}
    LEFT JOIN ns ON ns.j = b.{id_col}
    """
