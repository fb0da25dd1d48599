"""DuckDB oracle SQL for the graph queries (:mod:`sdg_engine.queries.graph`)."""

from __future__ import annotations

from ..harness import AX, AY, BX, BY
from ..queries._common import _BFS_NODE
from ..queries.graph import (
    _DIAM_MAX_HOPS,
    _HITS_ITERS,
    _LPA_ROUNDS,
    _PR_DAMP,
    _PR_ITERS,
    _PR_NODE_A,
    _PR_NODE_B,
    _PR_UNIT,
)
from ._common import fixture_paths

ORACLES: dict[str, str] = {}


def _pr_base_ctes() -> list[str]:
    """The (e, ew, deg, nodes, nn, p0) PageRank preamble over an `ab`
    pair CTE — shared by every unrolled-PageRank oracle."""
    return [
        "e AS (SELECT a AS src, b AS dst FROM ab UNION ALL SELECT b AS src, a AS dst FROM ab)",
        "ew AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w FROM e GROUP BY src, dst)",
        "deg AS (SELECT src, CAST(SUM(w) AS BIGINT) AS outdeg FROM ew GROUP BY src)",
        "nodes AS (SELECT src AS node FROM deg)",
        "nn AS (SELECT COUNT(*) AS n FROM nodes)",
        f"p0 AS (SELECT node, CAST(FLOOR({_PR_UNIT}.0 / CAST(n AS DOUBLE)) AS BIGINT)"
        " AS pr FROM nodes, nn)",
    ]


def _pr_round_ctes() -> list[str]:
    """One (contrib, rank) CTE pair per iteration — the identical
    integer recurrence as queries.graph.pagerank."""
    base = (
        f"CAST(FLOOR({_PR_UNIT // 100 * (100 - _PR_DAMP)}.0 / CAST(n AS DOUBLE)) AS BIGINT)"
    )
    ctes = []
    for i in range(1, _PR_ITERS + 1):
        ctes.append(
            f"c{i} AS (SELECT ew.dst AS dst, CAST(SUM(CAST(FLOOR(CAST(pr AS DOUBLE)"
            " / CAST(outdeg AS DOUBLE)) AS BIGINT) * w) AS BIGINT) AS s"
            f" FROM ew JOIN deg USING (src) JOIN p{i - 1} ON p{i - 1}.node = ew.src"
            " GROUP BY ew.dst)"
        )
        ctes.append(
            f"p{i} AS (SELECT node, {base}"
            f" + CAST(FLOOR({_PR_DAMP}.0 * CAST(COALESCE(s, 0) AS DOUBLE) / 100.0)"
            f" AS BIGINT) AS pr FROM nodes LEFT JOIN c{i} ON c{i}.dst = nodes.node, nn)"
        )
    return ctes


def _pagerank_roads_sql() -> str:
    """Unrolled-CTE PageRank over the quantized road graph."""
    ctes = [
        f"segs AS (SELECT {AX} AS ax, {AY} AS ay, {BX} AS bx, {BY} AS byy FROM supplier)",
        f"ab AS (SELECT {_PR_NODE_A} AS a, {_PR_NODE_B} AS b FROM segs)",
    ] + _pr_base_ctes() + _pr_round_ctes()
    return "WITH " + ",\n".join(ctes) + f"\nSELECT node, pr FROM p{_PR_ITERS}"


def _textrank_sql() -> str:
    """Unrolled-CTE PageRank over the word co-occurrence graph (same
    recurrence CTEs as the roads variant — only the `ab` base
    differs), top-15 ranking window over the vocab-sized result."""
    ctes = [
        "toks AS (SELECT string_split(text, ' ') AS ws FROM documents)",
        "ab AS (SELECT ws[i] AS a, ws[i + 1] AS b FROM toks,"
        " UNNEST(generate_series(1, len(ws) - 1)) AS u(i)"
        " WHERE ws[i] <> ws[i + 1])",
    ] + _pr_base_ctes() + _pr_round_ctes()
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT word, pr, rnk FROM (
  SELECT node AS word, pr,
         CAST(ROW_NUMBER() OVER (ORDER BY pr DESC, node) AS INT) AS rnk
  FROM p{_PR_ITERS}
) WHERE rnk <= 15""")


def _spw_sql(roads_pq: str, node: str) -> str:
    """Unrolled Bellman-Ford recurrence (PageRank precedent): the same
    weighted edges, 12 relaxation rounds as chained CTEs.  Each round
    references the previous CTE exactly ONCE — the keep-incumbent leg
    rides on zero-weight SELF-LOOPS in the edge set (the min-plus
    identity) instead of a second d{k} reference, because a
    twice-referenced chained CTE re-inlines the whole prefix per
    round: 2^rounds copies of the base plan (measured: the two-leg
    UNION form never finished; this form runs in milliseconds)."""
    from ..queries.graph import _SPW_ROUNDS

    w = (
        "CAST(FLOOR(SQRT(CAST((FLOOR(u / 1000) - FLOOR(v / 1000)) "
        "* (FLOOR(u / 1000) - FLOOR(v / 1000)) "
        "+ (u % 1000 - v % 1000) * (u % 1000 - v % 1000) AS DOUBLE)) "
        "* 1000) AS BIGINT)"
    )
    rounds = "".join(
        f""",
d{k + 1} AS (
  SELECT e.dst AS node, MIN(d{k}.d + e.w) AS d
  FROM d{k} JOIN e ON e.src = d{k}.node
  GROUP BY e.dst
)"""
        for k in range(_SPW_ROUNDS)
    )
    return f"""
WITH nds AS (SELECT list_transform(coords, c -> {node}) AS nds
             FROM read_parquet('{roads_pq}')),
ab AS (SELECT nds[i] AS a, nds[i + 1] AS b
       FROM nds, UNNEST(generate_series(1, len(nds) - 1)) AS u(i)),
und AS (SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v
        FROM ab WHERE a <> b),
wed AS (SELECT u, v, {w} AS w FROM und),
e0 AS (SELECT u AS src, v AS dst, w FROM wed
       UNION ALL SELECT v, u, w FROM wed),
nodes AS (SELECT DISTINCT src FROM e0),
e AS (SELECT src, dst, w FROM e0
      UNION ALL SELECT src, src, CAST(0 AS BIGINT) FROM nodes),
deg AS (SELECT src, COUNT(*) AS deg FROM e0 GROUP BY src),
d0 AS (SELECT src AS node, CAST(0 AS BIGINT) AS d
       FROM deg ORDER BY deg DESC, src ASC LIMIT 1){rounds}
SELECT CAST(FLOOR(d / 2000) AS BIGINT) AS band,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(SUM(node) AS BIGINT) AS sum_node,
       MIN(d) AS min_d, MAX(d) AS max_d
FROM d{_SPW_ROUNDS} GROUP BY band
"""


def _kcore_sql(roads_pq: str, node: str) -> str:
    """Same fixed peel rounds as the Spark side, each round ONE
    windowed filter referencing the previous CTE exactly once (the
    shortest-path single-reference lesson); the final CTE is read by
    a single aggregate pass."""
    from ..queries.graph import _KCORE_K, _KCORE_ROUNDS

    rounds = "".join(
        f""",
e{k + 1} AS (
  SELECT src, dst FROM (
    SELECT src, dst,
           COUNT(*) OVER (PARTITION BY src) AS ds,
           COUNT(*) OVER (PARTITION BY dst) AS dd
    FROM e{k}
  ) WHERE ds >= {_KCORE_K} AND dd >= {_KCORE_K}
)"""
        for k in range(_KCORE_ROUNDS)
    )
    return f"""
WITH nds AS (SELECT list_transform(coords, c -> {node}) AS nds
             FROM read_parquet('{roads_pq}')),
ab AS (SELECT nds[i] AS a, nds[i + 1] AS b
       FROM nds, UNNEST(generate_series(1, len(nds) - 1)) AS u(i)),
e0 AS (SELECT DISTINCT src, dst FROM (
         SELECT a AS src, b AS dst FROM ab
         UNION ALL SELECT b AS src, a AS dst FROM ab)
       WHERE src <> dst){rounds}
SELECT CAST(COUNT(DISTINCT src) AS BIGINT) AS n_core_nodes,
       CAST(COALESCE(SUM(DISTINCT src), 0) AS BIGINT) AS sum_node,
       CAST(FLOOR(COUNT(*) / 2) AS BIGINT) AS n_core_edges
FROM e{_KCORE_ROUNDS}
"""


def _hits_roads_sql() -> str:
    """Unrolled directed-HITS recurrence: a_i from h_{i-1}, h_i from
    a_i — every round CTE references only its predecessor (linear
    chain); nodes/ew are cheap bases re-inlined per round (the
    pagerank-oracle precedent)."""
    ctes = [
        f"segs AS (SELECT {AX} AS ax, {AY} AS ay, {BX} AS bx, {BY} AS byy"
        " FROM supplier)",
        f"ab AS (SELECT {_PR_NODE_A} AS a, {_PR_NODE_B} AS b FROM segs)",
        "ew AS (SELECT a AS src, b AS dst, CAST(COUNT(*) AS BIGINT) AS w"
        " FROM ab WHERE a <> b GROUP BY a, b)",
        "nodes AS (SELECT src AS node FROM ew UNION SELECT dst FROM ew)",
        "h0 AS (SELECT node, CAST(1 AS BIGINT) AS h FROM nodes)",
    ]
    for i in range(1, _HITS_ITERS + 1):
        ctes.append(
            f"a{i} AS (SELECT node, CAST(COALESCE(t.s, 0) AS BIGINT) AS a"
            " FROM nodes LEFT JOIN ("
            "SELECT dst, CAST(SUM(w * h) AS BIGINT) AS s"
            f" FROM ew JOIN h{i - 1} ON h{i - 1}.node = ew.src GROUP BY dst"
            ") t ON t.dst = nodes.node)"
        )
        ctes.append(
            f"h{i} AS (SELECT node, CAST(COALESCE(t.s, 0) AS BIGINT) AS h"
            " FROM nodes LEFT JOIN ("
            "SELECT src, CAST(SUM(w * a) AS BIGINT) AS s"
            f" FROM ew JOIN a{i} ON a{i}.node = ew.dst GROUP BY src"
            ") t ON t.src = nodes.node)"
        )
    k = _HITS_ITERS
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT role, node, score, rnk FROM (
  SELECT 'hub' AS role, node, h AS score,
         CAST(ROW_NUMBER() OVER (ORDER BY h DESC, node ASC) AS INT) AS rnk
  FROM h{k}
) WHERE rnk <= 10
UNION ALL
SELECT role, node, score, rnk FROM (
  SELECT 'authority' AS role, node, a AS score,
         CAST(ROW_NUMBER() OVER (ORDER BY a DESC, node ASC) AS INT) AS rnk
  FROM a{k}
) WHERE rnk <= 10""")


ORACLES["hits_roads"] = _hits_roads_sql()


def _betweenness_sql(roads_pq: str) -> str:
    """Integer-floor Brandes as a generated UNROLLED CTE chain: the
    sigma layers s0..s12 and delta layers d12..d1 each reference only
    the previous chain member once (the shortest_path_weighted lesson);
    the multi-referenced bases (edges, BFS hop labels, each sigma
    layer) are AS MATERIALIZED so DuckDB cannot re-inline them per
    round.  Identical recurrence and FLOOR-division text as the
    engine's layered DataFrame rounds."""
    from ..queries._common import _BFS_NODE
    from ..queries.graph import _BC_HOPS, _BC_SEEDS

    node = _BFS_NODE.format(x="c.x", y="c.y")
    parts = [f"""
WITH RECURSIVE
nds AS (SELECT list_transform(coords, c -> {node}) AS nds
        FROM read_parquet('{roads_pq}')),
ab AS (SELECT nds[i] AS a, nds[i + 1] AS b
       FROM nds, UNNEST(generate_series(1, len(nds) - 1)) AS u(i)),
e AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
        SELECT a AS src, b AS dst FROM ab
        UNION ALL SELECT b AS src, a AS dst FROM ab)
      WHERE src <> dst),
deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
seeds AS (SELECT src AS seed FROM deg
          ORDER BY deg DESC, src ASC LIMIT {_BC_SEEDS}),
walk(seed, node, hops) AS (
  SELECT seed, seed, 0 FROM seeds
  UNION
  SELECT w.seed, e.dst, w.hops + 1 FROM walk w JOIN e ON e.src = w.node
  WHERE w.hops < {_BC_HOPS}
),
lab AS MATERIALIZED (SELECT seed, node, MIN(hops) AS hops
                     FROM walk GROUP BY 1, 2),
s0 AS MATERIALIZED (SELECT seed, seed AS node, CAST(1 AS BIGINT) AS sigma
                    FROM seeds)"""]
    for d in range(1, _BC_HOPS + 1):
        parts.append(f""",
s{d} AS MATERIALIZED (
  SELECT w.seed, e.dst AS node, CAST(SUM(w.sigma) AS BIGINT) AS sigma
  FROM s{d - 1} w JOIN e ON e.src = w.node
  JOIN lab l ON l.seed = w.seed AND l.node = e.dst AND l.hops = {d}
  GROUP BY 1, 2)""")
    parts.append(f""",
d{_BC_HOPS} AS MATERIALIZED (
  SELECT seed, node, sigma, CAST(0 AS BIGINT) AS delta
  FROM s{_BC_HOPS})""")
    for d in range(_BC_HOPS - 1, 0, -1):
        parts.append(f""",
d{d} AS MATERIALIZED (
  SELECT v.seed, v.node, v.sigma,
         CAST(COALESCE(SUM((v.sigma * (1000000 + w.delta)) // w.sigma), 0)
              AS BIGINT) AS delta
  FROM s{d} v
  LEFT JOIN e ON e.src = v.node
  LEFT JOIN d{d + 1} w ON w.seed = v.seed AND w.node = e.dst
  GROUP BY 1, 2, 3)""")
    unions = "\nUNION ALL ".join(
        f"SELECT seed, node, delta FROM d{d}"
        for d in range(1, _BC_HOPS + 1)
    )
    parts.append(f""",
alld AS ({unions}),
bc AS (SELECT node, CAST(SUM(delta) AS BIGINT) AS bc_micros,
              CAST(COUNT(*) AS BIGINT) AS n_seeds
       FROM alld GROUP BY 1),
rk AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY bc_micros DESC, node)
                   AS INT) AS rk, node, bc_micros, n_seeds
       FROM bc)
SELECT rk, node, bc_micros, n_seeds FROM rk WHERE rk <= 10""")
    return "".join(parts)


ORACLES.update({
    "textrank_keywords": _textrank_sql(),
    "pagerank_roads": _pagerank_roads_sql(),
})


def fixture_oracles() -> dict[str, str]:
    """Oracles that embed the absolute sf0.01 fixture and goldens paths.
    Built on call: building them at import would generate the fixture
    on every import."""
    fdir, roads, img, gdir = fixture_paths()
    node = _BFS_NODE.format(x="c.x", y="c.y")
    bfs = f"""
WITH RECURSIVE
nds AS (SELECT list_transform(coords, c -> {node}) AS nds
        FROM read_parquet('{roads}')),
ab AS (SELECT nds[i] AS a, nds[i + 1] AS b
       FROM nds, UNNEST(generate_series(1, len(nds) - 1)) AS u(i)),
e AS (SELECT DISTINCT src, dst FROM (
        SELECT a AS src, b AS dst FROM ab
        UNION ALL SELECT b AS src, a AS dst FROM ab)
      WHERE src <> dst),
deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
seed AS (SELECT src AS node FROM deg ORDER BY deg DESC, src ASC LIMIT 1),
walk(node, hops) AS (
  SELECT node, 0 FROM seed
  UNION
  SELECT e.dst, w.hops + 1 FROM walk w JOIN e ON e.src = w.node
  WHERE w.hops < 16
),
lab AS (SELECT node, MIN(hops) AS hops FROM walk GROUP BY node)
SELECT CAST(hops AS INT) AS hops, COUNT(*) AS n_nodes,
       CAST(SUM(node) AS BIGINT) AS sum_node
FROM lab GROUP BY hops
"""
    # closeness_roads: the BFS recursive walk generalized to a labeled
    # (seed, node) pair walk over the SAME quantized graph.
    closeness = f"""
WITH RECURSIVE
nds AS (SELECT list_transform(coords, c -> {node}) AS nds
        FROM read_parquet('{roads}')),
ab AS (SELECT nds[i] AS a, nds[i + 1] AS b
       FROM nds, UNNEST(generate_series(1, len(nds) - 1)) AS u(i)),
e AS (SELECT DISTINCT src, dst FROM (
        SELECT a AS src, b AS dst FROM ab
        UNION ALL SELECT b AS src, a AS dst FROM ab)
      WHERE src <> dst),
deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
seeds AS (SELECT src AS seed FROM deg ORDER BY deg DESC, src ASC LIMIT 5),
walk(seed, node, hops) AS (
  SELECT seed, seed, 0 FROM seeds
  UNION
  SELECT w.seed, e.dst, w.hops + 1 FROM walk w JOIN e ON e.src = w.node
  WHERE w.hops < 16
),
lab AS (SELECT seed, node, MIN(hops) AS hops FROM walk GROUP BY seed, node)
SELECT seed, CAST(COUNT(*) - 1 AS BIGINT) AS n_reached,
       CAST(SUM(hops) AS BIGINT) AS sum_hops,
       CAST(FLOOR(1000000.0 * (COUNT(*) - 1) / SUM(hops)) AS BIGINT)
         AS closeness_micros
FROM lab GROUP BY seed
"""
    # triangle_count_roads: identical degree-ordered orientation over
    # the same quantized road graph (shared _BFS_NODE fragment).
    tri = f"""
WITH nds AS (SELECT list_transform(coords, c -> {node}) AS nds
             FROM read_parquet('{roads}')),
ab AS (SELECT nds[i] AS a, nds[i + 1] AS b
       FROM nds, UNNEST(generate_series(1, len(nds) - 1)) AS u(i)),
und AS (SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v
        FROM ab WHERE a <> b),
deg AS (SELECT nd, COUNT(*) AS deg FROM (
          SELECT u AS nd FROM und UNION ALL SELECT v AS nd FROM und)
        GROUP BY nd),
o AS (SELECT CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v)
                  THEN u ELSE v END AS s,
             CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v)
                  THEN v ELSE u END AS d
      FROM und JOIN deg du ON du.nd = und.u JOIN deg dv ON dv.nd = und.v),
tri AS (SELECT e1.s AS x, e1.d AS y, e2.d AS z
        FROM o e1 JOIN o e2 ON e2.s = e1.d
        JOIN o e3 ON e3.s = e1.s AND e3.d = e2.d)
SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles,
       CAST(COALESCE(SUM(x + y + z), 0) AS BIGINT) AS sum_nodes
FROM tri
"""
    # link_prediction_roads: identical und/deg/wedge construction with
    # the same deg<=32 hub bound and FLOOR(1e6/deg) BIGINT RA terms.
    lp = f"""
WITH nds AS (SELECT list_transform(coords, c -> {node}) AS nds
             FROM read_parquet('{roads}')),
ab AS (SELECT nds[i] AS a, nds[i + 1] AS b
       FROM nds, UNNEST(generate_series(1, len(nds) - 1)) AS u(i)),
und AS (SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v
        FROM ab WHERE a <> b),
deg AS (SELECT nd, COUNT(*) AS deg FROM (
          SELECT u AS nd FROM und UNION ALL SELECT v AS nd FROM und)
        GROUP BY nd),
nbr AS (SELECT u AS z, v AS nb FROM und
        UNION ALL SELECT v AS z, u AS nb FROM und),
nbrs AS (SELECT nbr.z, nbr.nb, deg.deg AS degz
         FROM nbr JOIN deg ON deg.nd = nbr.z WHERE deg.deg <= 32),
pairs AS (SELECT x.z, x.degz, x.nb AS a, y.nb AS b
          FROM nbrs x JOIN nbrs y ON y.z = x.z AND x.nb < y.nb),
cand AS (SELECT pairs.* FROM pairs
         WHERE NOT EXISTS (SELECT 1 FROM und
                           WHERE und.u = pairs.a AND und.v = pairs.b))
SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n_common,
       CAST(SUM(CAST(FLOOR(1000000 / degz) AS BIGINT)) AS BIGINT) AS ra_u
FROM cand GROUP BY 1, 2 HAVING COUNT(*) >= 2
"""
    rounds_sql = []
    for i in range(1, _LPA_ROUNDS + 1):
        rounds_sql.append(
            f"c{i} AS (SELECT d.dst AS v2, l.label, COUNT(*) AS cnt\n"
            f"  FROM dirs d JOIN l{i - 1} l ON l.v = d.src GROUP BY 1, 2),\n"
            f"l{i} AS (SELECT v2 AS v, label FROM c{i}\n"
            f"  QUALIFY ROW_NUMBER() OVER (PARTITION BY v2"
            f" ORDER BY cnt DESC, label) = 1)"
        )
    lpa = f"""
WITH nds AS (SELECT list_transform(coords, c -> {node}) AS nds
             FROM read_parquet('{roads}')),
ab AS (SELECT nds[i] AS a, nds[i + 1] AS b
       FROM nds, UNNEST(generate_series(1, len(nds) - 1)) AS u(i)),
und AS (SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v
        FROM ab WHERE a <> b),
dirs AS (SELECT u AS src, v AS dst FROM und
         UNION ALL SELECT v AS src, u AS dst FROM und),
l0 AS (SELECT DISTINCT src AS v, src AS label FROM dirs),
{",".join(rounds_sql)}
SELECT label, CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(SUM(v) AS BIGINT) AS checksum
FROM l{_LPA_ROUNDS} GROUP BY 1
"""
    diameter = f"""
WITH RECURSIVE
nds AS (SELECT list_transform(coords, c -> {node}) AS nds
        FROM read_parquet('{roads}')),
ab AS (SELECT nds[i] AS a, nds[i + 1] AS b
       FROM nds, UNNEST(generate_series(1, len(nds) - 1)) AS u(i)),
e AS (SELECT DISTINCT src, dst FROM (
        SELECT a AS src, b AS dst FROM ab
        UNION ALL SELECT b AS src, a AS dst FROM ab)
      WHERE src <> dst),
deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
hub AS (SELECT src AS node FROM deg ORDER BY deg DESC, src ASC LIMIT 1),
walk1(node, hops) AS (
  SELECT node, 0 FROM hub
  UNION
  SELECT e.dst, w.hops + 1 FROM walk1 w JOIN e ON e.src = w.node
  WHERE w.hops < {_DIAM_MAX_HOPS}
),
lab1 AS (SELECT node, MIN(hops) AS hops FROM walk1 GROUP BY node),
far1 AS (SELECT node, hops FROM lab1 ORDER BY hops DESC, node ASC
         LIMIT 1),
walk2(node, hops) AS (
  SELECT node, 0 FROM far1
  UNION
  SELECT e.dst, w.hops + 1 FROM walk2 w JOIN e ON e.src = w.node
  WHERE w.hops < {_DIAM_MAX_HOPS}
),
lab2 AS (SELECT node, MIN(hops) AS hops FROM walk2 GROUP BY node),
far2 AS (SELECT node, hops FROM lab2 ORDER BY hops DESC, node ASC
         LIMIT 1)
SELECT hub.node AS hub, CAST(far1.hops AS INT) AS ecc_hub,
       far1.node AS u, CAST(far2.hops AS INT) AS diameter_lb,
       far2.node AS v,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM lab2) AS n_reachable,
       (SELECT CAST(SUM(node) AS BIGINT) FROM lab2) AS chk
FROM hub, far1, far2
"""
    bipartite = f"""
WITH RECURSIVE
nds AS (SELECT list_transform(coords, c -> {node}) AS nds
        FROM read_parquet('{roads}')),
ab AS (SELECT nds[i] AS a, nds[i + 1] AS b
       FROM nds, UNNEST(generate_series(1, len(nds) - 1)) AS u(i)),
e AS (SELECT DISTINCT src, dst FROM (
        SELECT a AS src, b AS dst FROM ab
        UNION ALL SELECT b AS src, a AS dst FROM ab)
      WHERE src <> dst),
deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
hub AS (SELECT src AS node FROM deg ORDER BY deg DESC, src ASC LIMIT 1),
walk(node, hops) AS (
  SELECT node, 0 FROM hub
  UNION
  SELECT e.dst, w.hops + 1 FROM walk w JOIN e ON e.src = w.node
  WHERE w.hops < {_DIAM_MAX_HOPS}
),
lab AS (SELECT node, MIN(hops) % 2 AS par FROM walk GROUP BY node),
conf AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_edges_comp,
         CAST(SUM(CASE WHEN pa.par = pb.par THEN 1 ELSE 0 END)
              AS BIGINT) AS n_conflicts
  FROM e
  JOIN lab pa ON pa.node = e.src
  JOIN lab pb ON pb.node = e.dst
  WHERE e.src < e.dst
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM lab) AS n_visited,
       n_edges_comp, n_conflicts,
       CAST(CASE WHEN n_conflicts = 0 THEN 1 ELSE 0 END AS INT)
         AS is_bipartite
FROM conf
"""
    modularity = f"""
WITH nds AS (SELECT list_transform(coords, c -> {node}) AS nds
             FROM read_parquet('{roads}')),
ab AS (SELECT nds[i] AS a, nds[i + 1] AS b
       FROM nds, UNNEST(generate_series(1, len(nds) - 1)) AS u(i)),
und AS (SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v
        FROM ab WHERE a <> b),
dirs AS (SELECT u AS src, v AS dst FROM und
         UNION ALL SELECT v AS src, u AS dst FROM und),
l0 AS (SELECT DISTINCT src AS v, src AS label FROM dirs),
{",".join(rounds_sql)},
fin AS (SELECT v, label FROM l{_LPA_ROUNDS}),
m_cte AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM und),
deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
        FROM dirs GROUP BY src),
intra AS (
  SELECT fu.label, CAST(COUNT(*) AS BIGINT) AS m_in
  FROM und e
  JOIN fin fu ON fu.v = e.u
  JOIN fin fv ON fv.v = e.v
  WHERE fu.label = fv.label
  GROUP BY fu.label
),
per_c AS (
  SELECT f.label,
         CAST(COUNT(*) AS BIGINT) AS n_nodes,
         CAST(SUM(d.deg) AS BIGINT) AS deg_sum
  FROM fin f JOIN deg d ON d.src = f.v
  GROUP BY f.label
),
contribs AS (
  SELECT p.label, p.n_nodes,
         CAST(COALESCE(i.m_in, 0) AS BIGINT) AS m_in, p.deg_sum,
         CAST(4 * mc.m * COALESCE(i.m_in, 0)
              - p.deg_sum * p.deg_sum AS BIGINT) AS contrib,
         mc.m
  FROM per_c p
  LEFT JOIN intra i USING (label)
  CROSS JOIN m_cte mc
)
SELECT label, n_nodes, m_in, deg_sum, contrib,
       CAST(FLOOR(1000000.0 * CAST(SUM(contrib) OVER () AS DOUBLE)
            / (4.0 * CAST(m AS DOUBLE) * CAST(m AS DOUBLE)))
            AS BIGINT) AS q_ppm
FROM contribs
ORDER BY label
"""
    return {
            "link_prediction_roads": lp,
            "label_propagation_roads": lpa,
            "road_graph_bfs": bfs,
            "closeness_roads": closeness,
            "triangle_count_roads": tri,
            "kcore_roads": _kcore_sql(roads, node),
            "shortest_path_weighted": _spw_sql(roads, node),
        "betweenness_roads": _betweenness_sql(roads),
        # mst golden carries the Kruskal result; the node count is LIVE
        # over the roads parquet with the engine's quantization text
        "mst_roads": f"""
WITH verts AS (
  SELECT road_id, i,
         (CAST(FLOOR(coords[i].x * 10 + 0.5) AS BIGINT) + 100) * 1000
           + (CAST(FLOOR(coords[i].y * 10 + 0.5) AS BIGINT) + 100) AS nd
  FROM read_parquet('{roads}'),
       UNNEST(range(1, len(coords) + 1)) AS r(i)
),
eg AS (
  SELECT LEAST(a.nd, b.nd) AS u, GREATEST(a.nd, b.nd) AS v
  FROM verts a JOIN verts b ON a.road_id = b.road_id AND b.i = a.i + 1
  WHERE a.nd <> b.nd
),
eu AS (SELECT DISTINCT u, v FROM eg),
nodes AS (SELECT u AS nd FROM eu UNION SELECT v FROM eu)
SELECT CAST((SELECT COUNT(*) FROM nodes) AS BIGINT) AS n_nodes,
       g.n_components, g.n_mst_edges, g.total_w, g.chk
FROM read_parquet('{gdir}/mst_sf0.01.parquet') g
""",
        "roads_graph_diameter": diameter,
        "roads_bipartite_check": bipartite,
        "community_modularity": modularity,
    }
