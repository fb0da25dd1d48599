"""Dialect-shared SQL fragments for the spatial core (SURVEY.md §5.1).

The driver verifies every operator by running our Spark DataFrame
against a DuckDB oracle and hashing the values.  Floating-point parity
is guaranteed by construction: both engines evaluate the *same SQL
expression text*, restricted to operations that are IEEE-exact and
implemented identically (`+ - * / SQRT FLOOR LEAST GREATEST CASE`,
int64 `<< >> & | %`).  No transcendentals appear in oracle-checked
paths (SURVEY.md geom.py note).

Fragments are emitted as ``(column_name, sql_expr)`` step lists: the
Spark side applies them with ``DataFrame.withColumn(name,
F.expr(sql))`` (whole-stage codegen — the spatial hot path never
leaves the JVM), while the oracle side chains them into nested
``SELECT``s.  This mirrors SURVEY.md C1/C3/J4's operators:

* :func:`point_cell_steps` — C1 cell encoding (Z-order quadtree pack)
* :func:`kring` is expressed with ``sequence``/``range`` explosions in
  the query builders (C3)
* :func:`point_seg_dist_steps` — J4's exact point→segment distance
"""

from __future__ import annotations

import re

WORLD_MIN_SQL = "CAST(0 AS DOUBLE)"
WORLD_SIZE_SQL = "CAST(10 AS DOUBLE)"
METERS_SQL = "CAST(111320 AS DOUBLE)"
LEVEL_SHIFT = 54

def morton_spread_expr(src: str, nbits: int) -> str:
    """Morton bit-spread: bit i of ``src`` moves to bit 2i.

    Linear-size formulation — ``src`` appears once per bit, with no
    self-referencing steps.  The classic magic-mask spread doubles the
    expression on every step, which (after Catalyst's CollapseProject
    inlining) overflowed whole-stage codegen's 64 KB JVM method limit
    and silently fell back to interpreted projection; this form keeps
    the spatial hot path inside codegen.  Only ``nbits`` (= the cell
    level) terms are emitted.
    """
    terms = [f"((({src}) >> {i} & 1) << {2 * i})" for i in range(nbits)]
    return "(" + " | ".join(terms) + ")"


def grid_index_expr(coord: str, level: int) -> str:
    """Continuous coordinate -> clipped integer grid index at ``level``."""
    n = 1 << level
    return (
        f"CAST(LEAST(GREATEST(FLOOR((({coord}) - {WORLD_MIN_SQL}) / {WORLD_SIZE_SQL} "
        f"* CAST({n} AS DOUBLE)), CAST(0 AS DOUBLE)), CAST({n - 1} AS DOUBLE)) AS BIGINT)"
    )


def pack_cell_expr(ix: str, iy: str, level: int) -> str:
    """Pack integer grid indices into a cell id (single linear expr)."""
    return (
        f"((CAST({level} AS BIGINT) << {LEVEL_SHIFT}) | "
        f"{morton_spread_expr(ix, level)} | "
        f"({morton_spread_expr(iy, level)} << 1))"
    )


def point_cell_steps(px: str, py: str, level: int, out: str = "cell_id") -> list[tuple[str, str]]:
    """C1: (lon, lat) -> quadtree cell id at ``level`` (Z-order packed)."""
    return [
        (f"{out}_ix", grid_index_expr(px, level)),
        (f"{out}_iy", grid_index_expr(py, level)),
        (out, pack_cell_expr(f"{out}_ix", f"{out}_iy", level)),
    ]


def point_seg_dist_steps(
    px: str, py: str, ax: str, ay: str, bx: str, by: str, out: str = "dist_m"
) -> list[tuple[str, str]]:
    """J4: exact point->segment distance (meters, plate-carrée)."""
    p = out
    steps = [
        (f"{p}_dx", f"(({bx}) - ({ax}))"),
        (f"{p}_dy", f"(({by}) - ({ay}))"),
        (f"{p}_len2", f"(({p}_dx * {p}_dx) + ({p}_dy * {p}_dy))"),
        (
            f"{p}_t",
            f"(CASE WHEN {p}_len2 > CAST(0 AS DOUBLE) THEN "
            f"LEAST(CAST(1 AS DOUBLE), GREATEST(CAST(0 AS DOUBLE), "
            f"(((({px}) - ({ax})) * {p}_dx) + ((({py}) - ({ay})) * {p}_dy)) / {p}_len2)) "
            f"ELSE CAST(0 AS DOUBLE) END)",
        ),
        (f"{p}_ex", f"(({px}) - (({ax}) + {p}_t * {p}_dx))"),
        (f"{p}_ey", f"(({py}) - (({ay}) + {p}_t * {p}_dy))"),
        (out, f"(SQRT(({p}_ex * {p}_ex) + ({p}_ey * {p}_ey)) * {METERS_SQL})"),
    ]
    return steps


def hex_cell_steps(px: str, py: str, size: float, out: str = "hex_id") -> list[tuple[str, str]]:
    """Hexagonal cell id (the H3-analogue index): pointy-top axial hex
    binning with exact cube rounding, as shared dialect fragments.

    Axial transform (hex circumradius ``size`` degrees):
        q = (√3/3·x − 1/3·y) / size,  r = (2/3·y) / size
    then classic cube rounding (round each of q, −q−r, r; re-derive the
    coordinate with the largest rounding error).  Every op is
    IEEE-exact and shared-text (SQRT/FLOOR/ABS/CASE/± only), so Spark
    and DuckDB agree bit-for-bit including boundary ties.  FLOOR(v+0.5)
    is used instead of ROUND (engines disagree on half-rounding).
    Packed id: (q+8192)·16384 + (r+8192) — single positive int64.
    """
    s = repr(float(size))
    sq3 = "SQRT(CAST(3 AS DOUBLE))"
    third = "CAST(3 AS DOUBLE)"
    p = out
    return [
        (f"{p}_qf", f"((({sq3} / {third}) * ({px}) - ({py}) / {third}) / CAST({s} AS DOUBLE))"),
        (f"{p}_rf", f"(((CAST(2 AS DOUBLE) / {third}) * ({py})) / CAST({s} AS DOUBLE))"),
        (f"{p}_yf", f"(-({p}_qf) - ({p}_rf))"),
        (f"{p}_rq", f"FLOOR({p}_qf + CAST(0.5 AS DOUBLE))"),
        (f"{p}_ry", f"FLOOR({p}_yf + CAST(0.5 AS DOUBLE))"),
        (f"{p}_rz", f"FLOOR({p}_rf + CAST(0.5 AS DOUBLE))"),
        (f"{p}_dq", f"ABS({p}_rq - {p}_qf)"),
        (f"{p}_dy", f"ABS({p}_ry - {p}_yf)"),
        (f"{p}_dz", f"ABS({p}_rz - {p}_rf)"),
        (
            f"{p}_q",
            f"(CASE WHEN {p}_dq > {p}_dy AND {p}_dq > {p}_dz "
            f"THEN (-({p}_ry) - ({p}_rz)) ELSE {p}_rq END)",
        ),
        (
            f"{p}_r",
            f"(CASE WHEN NOT ({p}_dq > {p}_dy AND {p}_dq > {p}_dz) "
            f"AND NOT ({p}_dy > {p}_dz) THEN (-({p}_rq) - ({p}_ry)) "
            f"ELSE {p}_rz END)",
        ),
        (
            out,
            f"((CAST({p}_q AS BIGINT) + 8192) * 16384 + "
            f"(CAST({p}_r AS BIGINT) + 8192))",
        ),
    ]


GEOHASH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash_steps(px: str, py: str, precision: int = 6, out: str = "gh") -> list[tuple[str, str]]:
    """Standard base-32 geohash of a (lon, lat) point — the third cell
    index family beside the Z-order quadtree and the axial hex grid.

    The classic bisection encode is equivalent to fixed-point
    quantization + bit interleave: with ``5·precision`` total bits the
    longitude takes the even stream positions starting at the MSB, so
    ``g = Σ_k xi_k·2^(2k+1) | yi_k·2^(2k)`` for 15-bit xi/yi at
    precision 6, then each 5-bit chunk of ``g`` indexes the public
    geohash alphabet.  All fragments are shared-text integer ops
    (FLOOR / LEAST / GREATEST / ``>> & |``) so Spark and DuckDB agree
    exactly; the 5-bit chunks become their OWN step columns because a
    ``>>`` inside a function-call argument list fails to parse in
    Spark (CLAUDE.md gotcha 7).  Linear-size interleave — ``xi``/``yi``
    appear once per bit, never self-referencing (gotcha 2).
    """
    assert precision % 2 == 0, "odd precisions split bits unevenly"
    nbits = 5 * precision // 2  # per-axis bits (15 at precision 6)
    n = 1 << nbits
    p = out
    xi, yi = f"{p}_xi", f"{p}_yi"

    def _quant(coord: str, lo: int, span: int) -> str:
        return (
            f"CAST(LEAST(GREATEST(FLOOR((({coord}) + CAST({-lo} AS DOUBLE)) "
            f"/ CAST({span} AS DOUBLE) * CAST({n} AS DOUBLE)), "
            f"CAST(0 AS DOUBLE)), CAST({n - 1} AS DOUBLE)) AS BIGINT)"
        )

    inter = " | ".join(
        f"((({xi}) >> {k} & 1) << {2 * k + 1}) | ((({yi}) >> {k} & 1) << {2 * k})"
        for k in range(nbits)
    )
    steps = [
        (xi, _quant(px, -180, 360)),
        (yi, _quant(py, -90, 180)),
        (f"{p}_g", f"({inter})"),
    ]
    chunk_cols = []
    for j in range(precision):
        shift = 5 * (precision - 1 - j)
        steps.append((f"{p}_c{j}", f"((({p}_g) >> {shift}) & 31)"))
        chunk_cols.append(f"{p}_c{j}")
    chars = ", ".join(
        f"substring('{GEOHASH_ALPHABET}', CAST({c} + 1 AS INT), 1)" for c in chunk_cols
    )
    steps.append((out, f"concat({chars})"))
    return steps


def chain_select(base_sql: str, steps: list[tuple[str, str]], keep: list[str]) -> str:
    """Compose step list into nested SELECTs (oracle side).

    ``base_sql`` must be a relation (subquery or table name); each step
    becomes one SELECT layer so expression text stays linear in size.
    """
    cur = f"({base_sql})"
    for i, (name, expr) in enumerate(steps):
        cur = f"(SELECT *, {expr} AS {name} FROM {cur} t{i})"
    cols = ", ".join(keep)
    return f"SELECT {cols} FROM {cur} tz"


def inline_steps(steps: list[tuple[str, str]]) -> str:
    """Compose a step list into ONE expression (the last step's): each
    step's name is replaced by its expression in every later step,
    matched on word boundaries.  For a step list used where no columns
    can be added first, e.g. a JOIN condition.  The text grows with
    each reuse of a name, so keep it to short chains."""
    done: dict[str, str] = {}
    for name, expr in steps:
        for prev, sub in done.items():
            expr = re.sub(rf"\b{re.escape(prev)}\b", lambda _m, s=sub: s, expr)
        done[name] = expr
    return expr


def apply_steps(df, steps: list[tuple[str, str]]):
    """Apply a step list to a Spark DataFrame via F.expr (codegen path)."""
    from pyspark.sql import functions as F

    for name, expr in steps:
        df = df.withColumn(name, F.expr(expr))
    return df
