"""DuckDB oracle-SQL builders for the grid (stencil/window) operators.

Each builder returns ANSI SQL that DuckDB evaluates over the same
deterministic synthetic DEM (synthetic_dem_sql) with floating-point
expressions in the *identical order* as the NumPy kernels, so value
hashes match (exactly for the pure-arithmetic ops; after round(.,4)
for the transcendental ones, where libm implementations may differ in
the last ulp).
"""

from __future__ import annotations

import numpy as np

from go_spatial_spark.grid import synthetic_dem_sql

# neighbor offset table (n, dy, dx) — slope.go:198-199 convention
_OFFSETS = [(0, -1, 1), (1, 0, 1), (2, 1, 1), (3, 1, 0),
            (4, 1, -1), (5, 0, -1), (6, -1, -1), (7, -1, 0)]


def _nb_cte(dem_sql: str, egr: str = "8.0", zconv: str | None = None) -> str:
    """CTE computing z plus N0..N7 (NoData/out-of-grid -> center z,
    slope.go:208-215), gradients over eight-grid-res `egr`; `zconv`
    (a SQL double expression) scales every substituted neighbor —
    mirroring the kernel's scale-after-substitution order exactly."""
    vals = ", ".join(f"({n}, {dy}, {dx})" for n, dy, dx in _OFFSETS)
    zmul = f" * {zconv}" if zconv is not None else ""
    ncols = ", ".join(
        f"max(CASE WHEN o.n = {n} THEN COALESCE(x.value, c.value) END)"
        f"{zmul} AS n{n}"
        for n, _, _ in _OFFSETS)
    return f"""
    dem AS ({dem_sql}),
    nb AS (
      SELECT c.row, c.col, c.value AS z, {ncols}
      FROM dem c
      CROSS JOIN (VALUES {vals}) o(n, dy, dx)
      LEFT JOIN dem x ON x.row = c.row + o.dy AND x.col = c.col + o.dx
      GROUP BY c.row, c.col, c.value),
    grad AS (
      SELECT row, col, z,
             (n6 - n4 + 2 * (n7 - n3) + n0 - n2) / {egr} AS fy,
             (n2 - n4 + 2 * (n1 - n5) + n0 - n6) / {egr} AS fx
      FROM nb)
    """


def slope_sql(rows: int, cols: int) -> str:
    return f"""
    WITH {_nb_cte(synthetic_dem_sql(rows, cols))}
    SELECT row, col,
           round(atan(sqrt(fx * fx + fy * fy)) * (180.0 / pi()), 4) AS slope
    FROM grad
    """


def slope_geographic_sql(rows: int, cols: int, meta) -> str:
    """Slope over the same DEM re-georeferenced to a geographic CRS
    (slope.go:168-175): neighbors scale by zConvFactor =
    1/(113200*cos(midLat)) with the reference's verbatim
    midLat = (north-south)/2 quirk, gradients over
    8*mean_cellsize-degree grid res. The two constants are computed
    once in NumPy and injected bit-exact (same np.cos the kernel
    uses), so no cross-libm drift enters before the final round."""
    egr = f"CAST('{float(8.0 * meta.mean_cellsize)!r}' AS DOUBLE)"
    zc = f"CAST('{float(meta.z_conv_factor)!r}' AS DOUBLE)"
    return f"""
    WITH {_nb_cte(synthetic_dem_sql(rows, cols), egr=egr, zconv=zc)}
    SELECT row, col,
           round(atan(sqrt(fx * fx + fy * fy)) * (180.0 / pi()), 4) AS slope
    FROM grad
    """


def aspect_sql(rows: int, cols: int) -> str:
    return f"""
    WITH {_nb_cte(synthetic_dem_sql(rows, cols))}
    SELECT row, col,
           CASE WHEN fx <> 0
                THEN round(180 - atan(fy / fx) * (180.0 / pi())
                           + 90 * (fx / abs(fx)), 4)
                ELSE -1.0 END AS aspect
    FROM grad
    """


def hillshade_sql(rows: int, cols: int) -> str:
    sin_t = f"CAST('{float(np.sin(30.0 * np.pi / 180.0))!r}' AS DOUBLE)"
    cos_t = f"CAST('{float(np.cos(30.0 * np.pi / 180.0))!r}' AS DOUBLE)"
    azimuth = f"CAST('{float((315.0 - 90.0) * np.pi / 180.0)!r}' AS DOUBLE)"
    d2r = "(pi() / 180.0)"
    return f"""
    WITH {_nb_cte(synthetic_dem_sql(rows, cols))},
    hs AS (
      SELECT row, col,
        CASE WHEN fx <> 0 THEN
          (sqrt(fx * fx + fy * fy) / sqrt(1 + (fx * fx + fy * fy)))
          * ({sin_t} / sqrt(fx * fx + fy * fy)
             - {cos_t} * sin({azimuth}
                 - (180 - atan(fy / fx) * (180.0 / pi())
                    + 90 * (fx / abs(fx))) * {d2r}))
        ELSE 0.5 END AS zz
      FROM grad)
    SELECT row, col,
           CASE WHEN floor(zz * 255) < 0 THEN 0.0
                ELSE floor(zz * 255) END AS shade
    FROM hs
    """


def mean_filter_sql(rows: int, cols: int, rx: int = 2, ry: int = 2) -> str:
    dem = synthetic_dem_sql(rows, cols)
    return f"""
    WITH dem AS ({dem})
    SELECT c.row, c.col, sum(n.value) / count(*) AS mean_val
    FROM dem c JOIN dem n
      ON n.row BETWEEN c.row - {ry} AND c.row + {ry}
     AND n.col BETWEEN c.col - {rx} AND c.col + {rx}
    GROUP BY c.row, c.col
    """


def dev_from_mean_sql(rows: int, cols: int, r: int = 8) -> str:
    """deviationFromMean.go:300-330 incl. the edge quirk (grid row 0 /
    col 0 excluded from every window by the clamped exclusive prefix)."""
    return _dev_window_sql(rows, cols, r, first=1, min_cnt=0)


def dev_from_mean_traditional_sql(rows: int, cols: int, r: int = 8) -> str:
    """deviationFromMeanTraditionalMethod.go:174-299: full window, n > 2."""
    return _dev_window_sql(rows, cols, r, first=0, min_cnt=2)


def _dev_window_sql(rows: int, cols: int, r: int, first: int,
                    min_cnt: int) -> str:
    dem = synthetic_dem_sql(rows, cols)
    return f"""
    WITH dem AS MATERIALIZED ({dem}),
    kk AS (SELECT min(value) + (max(value) - min(value)) / 2.0 AS k
           FROM dem),
    win AS (
      SELECT c.row, c.col, c.value,
             sum(n.value - (SELECT k FROM kk)) AS s1,
             sum((n.value - (SELECT k FROM kk))
                 * (n.value - (SELECT k FROM kk))) AS s2,
             count(n.value) AS cnt
      FROM dem c
      LEFT JOIN dem n
        ON n.row BETWEEN greatest(c.row - {r}, {first}) AND c.row + {r}
       AND n.col BETWEEN greatest(c.col - {r}, {first}) AND c.col + {r}
      GROUP BY c.row, c.col, c.value)
    SELECT row, col,
           CASE WHEN cnt > {min_cnt}
                 AND (s2 - (s1 * s1) / cnt) / cnt > 0
                THEN ((value - (SELECT k FROM kk)) - s1 / cnt)
                     / sqrt((s2 - (s1 * s1) / cnt) / cnt)
                ELSE 0.0 END AS dev
    FROM win
    """


def d8_pointer_sql(rows: int, cols: int) -> str:
    """d8FlowAccumulation.go:197-236: steepest-descent pointer,
    first-max-wins over n=0..7; dir 0 when no positive slope.
    Unit cells -> dist = sqrt(2) on diagonals, 1 on cardinals."""
    dem = synthetic_dem_sql(rows, cols)
    vals = ", ".join(f"({n}, {dy}, {dx})" for n, dy, dx in _OFFSETS)
    ncols = ", ".join(
        f"max(CASE WHEN o.n = {n} THEN x.value END) AS nn{n}"
        for n, _, _ in _OFFSETS)
    dists = ["sqrt(2.0)", "1.0", "sqrt(2.0)", "1.0",
             "sqrt(2.0)", "1.0", "sqrt(2.0)", "1.0"]
    slopes = ", ".join(
        f"CASE WHEN nn{n} IS NOT NULL THEN (z - nn{n}) / {dists[n]} END AS s{n}"
        for n in range(8))
    gl = "greatest(" + ", ".join(
        f"coalesce(s{n}, -1e308)" for n in range(8)) + ")"
    first = "CASE " + " ".join(
        f"WHEN s{n} IS NOT NULL AND s{n} = m THEN {n + 1}" for n in range(8)
    ) + " END"
    return f"""
    WITH dem AS MATERIALIZED ({dem}),
    nb AS (
      SELECT c.row, c.col, c.value AS z, {ncols}
      FROM dem c
      CROSS JOIN (VALUES {vals}) o(n, dy, dx)
      LEFT JOIN dem x ON x.row = c.row + o.dy AND x.col = c.col + o.dx
      GROUP BY c.row, c.col, c.value),
    sl AS (SELECT row, col, z, {slopes} FROM nb),
    mx AS (SELECT row, col, z, {gl} AS m,
                  s0, s1, s2, s3, s4, s5, s6, s7 FROM sl)
    SELECT row, col,
           CAST(CASE WHEN m > 0 THEN {first} ELSE 0 END AS DOUBLE) AS dir
    FROM mx
    """


def fill_holes_sql(rows: int, cols: int) -> str:
    """fillSmallNodataHoles.go:168-205 as two join passes (the in-place
    pass-2 scan is provably equivalent — see kernels.py docstring)."""
    dem = synthetic_dem_sql(rows, cols)
    return f"""
    WITH dem AS ({dem}),
    allc AS (
      SELECT (i // {cols})::INT AS row, (i % {cols})::INT AS col
      FROM range(0, {rows} * {cols}) t(i)
      WHERE (i // {cols}) BETWEEN 1 AND {rows - 2}),
    p1 AS (
      SELECT a.row, a.col,
             COALESCE(d.value,
                      CASE WHEN u.value IS NOT NULL AND dn.value IS NOT NULL
                           THEN (u.value + dn.value) / 2.0 END) AS value
      FROM allc a
      LEFT JOIN dem d ON d.row = a.row AND d.col = a.col
      LEFT JOIN dem u ON u.row = a.row - 1 AND u.col = a.col
      LEFT JOIN dem dn ON dn.row = a.row + 1 AND dn.col = a.col),
    p2 AS (
      SELECT a.row, a.col,
             COALESCE(p.value,
                      CASE WHEN a.col BETWEEN 1 AND {cols - 2}
                            AND l.value IS NOT NULL AND r.value IS NOT NULL
                           THEN (l.value + r.value) / 2.0 END) AS value
      FROM allc a
      LEFT JOIN p1 p ON p.row = a.row AND p.col = a.col
      LEFT JOIN p1 l ON l.row = a.row AND l.col = a.col - 1
      LEFT JOIN p1 r ON r.row = a.row AND r.col = a.col + 1)
    SELECT row, col, value FROM p2 WHERE value IS NOT NULL
    """


def hillshade_trim_sql(rows: int, cols: int) -> str:
    """Display-trim oracle (hillshade.go:282-313): 256-bin histogram of
    the hillshade oracle output, 1% tails, reference's
    iterate-all-bins semantics via a dense range(256) join."""
    hs = hillshade_sql(rows, cols)
    return f"""
    WITH shade AS ({hs}),
    hist AS (
      SELECT b.range AS bin, count(s.shade) AS cnt
      FROM range(0, 256) b LEFT JOIN shade s ON CAST(s.shade AS INT) = b.range
      GROUP BY b.range),
    g AS (
      SELECT bin, cnt,
             FLOOR(SUM(cnt) OVER () * 0.01) AS target,
             SUM(cnt) OVER (ORDER BY bin) AS cum_asc,
             SUM(cnt) OVER (ORDER BY bin DESC) AS cum_desc
      FROM hist)
    SELECT CAST(MIN(CASE WHEN cum_asc >= target THEN bin END) AS DOUBLE)
             AS new_min,
           CAST(MAX(CASE WHEN cum_desc >= target THEN bin END) AS DOUBLE)
             AS new_max
    FROM g
    """


def d8_flow_accum_sql(rows: int, cols: int) -> str:
    """d8FlowAccumulation.go:242-333 semantics (fa starts at 1, each
    cell pushes its accumulated value to its single D8 receiver) as a
    genuinely-computed recursive-CTE oracle: every valid cell starts a
    walk at itself; each step follows the pointer; accum(c) = number of
    (source, step) visits = 1 + upstream-cell count. Chains are acyclic
    because the pointer requires strictly positive descent, so the
    UNION-distinct recursion terminates."""
    ptr = d8_pointer_sql(rows, cols)
    vals = ", ".join(f"({n + 1}, {dy}, {dx})" for n, dy, dx in _OFFSETS)
    return f"""
    WITH RECURSIVE ptr AS MATERIALIZED ({ptr}),
    off(d, dy, dx) AS (SELECT * FROM (VALUES {vals}) t(d, dy, dx)),
    walk(sr, sc, r, c) AS (
      SELECT row, col, row, col FROM ptr
      UNION
      SELECT w.sr, w.sc, w.r + o.dy, w.c + o.dx
      FROM walk w
      JOIN ptr p ON p.row = w.r AND p.col = w.c AND p.dir > 0
      JOIN off o ON o.d = CAST(p.dir AS INT)
    )
    SELECT r AS row, c AS col, CAST(count(*) AS DOUBLE) AS accum
    FROM walk GROUP BY r, c
    """


def _w_cte(rows: int, cols: int) -> str:
    """Shared recursive-CTE fragment computing the epsilon=0 minimax
    spill surface W (Barnes et al. 2014 Priority-Flood semantics):
    CTEs dem, off, seeds, ub, wwalk, W. Seeds are cells with an
    incomplete 8-neighborhood (grid edge or nodata-adjacent) at W=z;
    each step relaxes W(n) = max(z(n), W(c)); W = min over walks.
    A straight-line running-max upper bound prunes the frontier so the
    UNION-distinct recursion stays near-linear. Must be placed inside
    a WITH RECURSIVE."""
    demsql = synthetic_dem_sql(rows, cols)
    vals = ", ".join(f"({dy}, {dx})" for _, dy, dx in _OFFSETS)
    return f"""dem AS MATERIALIZED ({demsql}),
    off(dy, dx) AS (SELECT * FROM (VALUES {vals}) t(dy, dx)),
    seeds AS MATERIALIZED (
      SELECT d.row, d.col, d.value
      FROM dem d JOIN off o ON true
      LEFT JOIN dem x ON x.row = d.row + o.dy AND x.col = d.col + o.dx
      GROUP BY d.row, d.col, d.value
      HAVING count(x.row) < 8),
    ub AS MATERIALIZED (
      SELECT row, col,
        least(
          max(value) OVER (PARTITION BY row ORDER BY col
                           ROWS UNBOUNDED PRECEDING),
          max(value) OVER (PARTITION BY row ORDER BY col DESC
                           ROWS UNBOUNDED PRECEDING),
          max(value) OVER (PARTITION BY col ORDER BY row
                           ROWS UNBOUNDED PRECEDING),
          max(value) OVER (PARTITION BY col ORDER BY row DESC
                           ROWS UNBOUNDED PRECEDING)
        ) AS ub
      FROM dem),
    wwalk(r, c, w) AS (
      SELECT row, col, value FROM seeds
      UNION
      SELECT d.row, d.col, greatest(d.value, wk.w) AS w
      FROM wwalk wk
      JOIN off o ON true
      JOIN dem d ON d.row = wk.r + o.dy AND d.col = wk.c + o.dx
      JOIN ub u ON u.row = d.row AND u.col = d.col
      WHERE greatest(d.value, wk.w) <= u.ub
    ),
    W AS MATERIALIZED (
      SELECT r AS row, c AS col, min(w) AS w FROM wwalk GROUP BY r, c)"""


def fill_minimax_sql(rows: int, cols: int) -> str:
    """Priority-Flood minimax spill (the specified semantics of
    hydrology.fill_depressions_tiled) via the shared W fragment."""
    return f"""
    WITH RECURSIVE {_w_cte(rows, cols)}
    SELECT row, col, w AS filled FROM W
    """


def breach_minimax_sql(rows: int, cols: int) -> str:
    """Full-value oracle for hydrology.breach_depressions_tiled (the
    distributed minimax-path carve; spec at hydrology.py's
    'Distributed BreachDepressions' section comment; reference
    behavior: breachDepressions.go:450-505 in the epsilon->0 limit).

    Four genuinely-computed stages, all recursive/ranked CTEs:

    1. W  — epsilon=0 minimax spill surface (shared _w_cte fragment);
    2. D  — plateau distance: BFS steps to a W-drop or outlet within
       each equal-W plateau. The recursion must be dist-capped or the
       walk wanders a plateau forever (dist strictly increases, so
       UNION-distinct never terminates); the cap is the largest
       equal-W non-seed group size + 1, a genuine shortest-path upper
       bound (a shortest path's interior cells are distinct non-seed
       cells of one plateau);
    3. backlink forest — per cell, the argmin neighbor by
       (W, D, z, global flat index) among neighbors strictly
       lexicographically below in (W, D); outlet cells (incomplete
       8-neighborhood) are terminal;
    4. carve walk — from every strict interior pit, follow backlinks
       carrying v := min(v, z); each visited cell's final value is
       min(z, min of v over visits).

    All output values are copies of input elevations (running mins),
    so the comparison is bit-exact — no rounding."""
    vals = ", ".join(f"({dy}, {dx})" for _, dy, dx in _OFFSETS)
    return f"""
    WITH RECURSIVE {_w_cte(rows, cols)},
    dseeds AS MATERIALIZED (
      SELECT c.row, c.col
      FROM W c JOIN off o ON true
      LEFT JOIN W n ON n.row = c.row + o.dy AND n.col = c.col + o.dx
      GROUP BY c.row, c.col, c.w
      HAVING count(n.row) < 8 OR min(n.w) < c.w),
    nonseed AS MATERIALIZED (
      SELECT w.row, w.col, w.w FROM W w
      LEFT JOIN dseeds s ON s.row = w.row AND s.col = w.col
      WHERE s.row IS NULL),
    dcap AS MATERIALIZED (
      SELECT coalesce(max(cnt), 0) + 1 AS cap
      FROM (SELECT count(*) AS cnt FROM nonseed GROUP BY w) t),
    dwalk(r, c, dist) AS (
      SELECT row, col, 0 FROM dseeds
      UNION
      SELECT n.row, n.col, dw.dist + 1
      FROM dwalk dw
      JOIN off o ON true
      JOIN nonseed n ON n.row = dw.r + o.dy AND n.col = dw.c + o.dx
      JOIN W c ON c.row = dw.r AND c.col = dw.c
      WHERE n.w = c.w AND dw.dist + 1 <= (SELECT cap FROM dcap)
    ),
    D AS MATERIALIZED (
      SELECT w.row, w.col, coalesce(min(dw.dist), 0) AS d
      FROM W w LEFT JOIN dwalk dw ON dw.r = w.row AND dw.c = w.col
      GROUP BY w.row, w.col),
    cand AS (
      SELECT c.row, c.col, dn.row AS nr, dn.col AS nc,
             ROW_NUMBER() OVER (
               PARTITION BY c.row, c.col
               ORDER BY wn.w, dnn.d, dn.value, dn.row * {cols} + dn.col
             ) AS rk
      FROM dem c
      JOIN W wc ON wc.row = c.row AND wc.col = c.col
      JOIN D dc ON dc.row = c.row AND dc.col = c.col
      JOIN off o ON true
      JOIN dem dn ON dn.row = c.row + o.dy AND dn.col = c.col + o.dx
      JOIN W wn ON wn.row = dn.row AND wn.col = dn.col
      JOIN D dnn ON dnn.row = dn.row AND dnn.col = dn.col
      WHERE (wn.w < wc.w OR (wn.w = wc.w AND dnn.d < dc.d))
        AND NOT EXISTS (SELECT 1 FROM seeds s
                        WHERE s.row = c.row AND s.col = c.col)
    ),
    blink AS MATERIALIZED (SELECT row, col, nr, nc FROM cand WHERE rk = 1),
    pits AS MATERIALIZED (
      SELECT d.row, d.col, d.value
      FROM dem d JOIN off o ON true
      LEFT JOIN dem x ON x.row = d.row + o.dy AND x.col = d.col + o.dx
      GROUP BY d.row, d.col, d.value
      HAVING count(x.row) = 8 AND min(x.value) > d.value),
    cwalk(r, c, v) AS (
      SELECT row, col, value FROM pits
      UNION
      SELECT b.nr, b.nc, least(cw.v, dn.value)
      FROM cwalk cw
      JOIN blink b ON b.row = cw.r AND b.col = cw.c
      JOIN dem dn ON dn.row = b.nr AND dn.col = b.nc
    ),
    carve AS (SELECT r AS row, c AS col, min(v) AS v
              FROM cwalk GROUP BY r, c)
    SELECT d.row, d.col,
           least(d.value, coalesce(cv.v, d.value)) AS value
    FROM dem d LEFT JOIN carve cv ON cv.row = d.row AND cv.col = d.col
    """


# ---------------------------------------------------------------------------
# Invariant oracles for the heap-replay / float-order hydrology family
# ---------------------------------------------------------------------------
# The single-partition replays (fill_depressions, breach_depressions,
# breach_constrained, breach_streams) reproduce reference heap-pop
# order bit-for-bit (fillDepressions.go:262 stale-zN seed quirk,
# breachDepressions.go:450-505 backlink races), so a per-cell SQL
# oracle would have to replay the heap — tautological. FD8's per-cell
# values additionally depend on float summation order, and a SQL
# path-walk oracle is unavailable (each packet splits 8 ways per step
# -> exponential path enumeration; DuckDB 1.0 allows no aggregate in a
# recursive term to fold them level-by-level). Instead the driver
# queries return one row of INVARIANTS computed from the full per-cell
# output, checked against values the oracle genuinely derives from the
# input DEM (counts, minimax-W CTE, headwater sets, arithmetic depth
# bounds), spec constants (counts of impossible events = 0), and a few
# golden scalars of the deterministic replay (same status as the
# geotiff tag golden). Per-cell parity lives in
# tests/test_hydrology.py against straight-line NumPy replays.


def _pits_in_cte(strict: bool = False) -> str:
    """CTE fragment `pits_in`: interior pits of the input DEM — all 8
    neighbors present, valid, and none strictly lower (flat-inclusive,
    the breach seeding definition at breachDepressions.go:283-305;
    strict=True gives the strict-minima set)."""
    cmp = ">" if strict else ">="
    return f"""pits_in AS (
      SELECT d.row, d.col
      FROM dem d JOIN off o ON true
      LEFT JOIN dem x ON x.row = d.row + o.dy AND x.col = d.col + o.dx
      GROUP BY d.row, d.col, d.value
      HAVING count(x.row) = 8 AND min(x.value) {cmp} d.value)"""


def _dem_off_cte(rows: int, cols: int) -> str:
    demsql = synthetic_dem_sql(rows, cols)
    vals = ", ".join(f"({dy}, {dx})" for _, dy, dx in _OFFSETS)
    return (f"dem AS MATERIALIZED ({demsql}),\n"
            f"    off(dy, dx) AS (SELECT * FROM (VALUES {vals}) t(dy, dx))")


def fill_invariants_sql(rows: int, cols: int) -> str:
    """Invariants of the exact FillDepressions replay (fixFlats=True):
    n_cells and n_depression_cells (= cells strictly below the minimax
    spill W) are genuinely computed (W via the recursive CTE); the
    three zeros are provable properties of any correct epsilon-fill
    (never lowers, never below W, leaves no interior pit — see
    hydrology.fill_invariants docstring for the proofs)."""
    return f"""
    WITH RECURSIVE {_w_cte(rows, cols)}
    SELECT (SELECT count(*) FROM dem) AS n_cells,
           (SELECT count(*) FROM dem d
            JOIN W w ON w.row = d.row AND w.col = d.col
            WHERE d.value < w.w) AS n_depression_cells,
           CAST(0 AS BIGINT) AS n_lowered,
           CAST(0 AS BIGINT) AS n_below_spill,
           CAST(0 AS BIGINT) AS n_interior_pits
    """


def breach_complete_invariants_sql(rows: int, cols: int,
                                   n_changed: int, n_lowered: int,
                                   n_raised: int) -> str:
    """Invariants of the complete-breach replay: n_cells / n_pits_in
    genuine; n_interior_pits=0 is the tool's contract (every pit gets
    a carved outlet channel); changed/lowered/raised counts are golden
    scalars of the deterministic replay, column-prefixed golden_ so
    readers can't mistake them for independently derived expectations."""
    return f"""
    WITH {_dem_off_cte(rows, cols)},
    {_pits_in_cte()}
    SELECT (SELECT count(*) FROM dem) AS n_cells,
           (SELECT count(*) FROM pits_in) AS n_pits_in,
           CAST(0 AS BIGINT) AS n_interior_pits,
           CAST({n_changed} AS BIGINT) AS golden_n_changed,
           CAST({n_lowered} AS BIGINT) AS golden_n_lowered,
           CAST({n_raised} AS BIGINT) AS golden_n_raised
    """


def breach_constrained_invariants_sql(rows: int, cols: int,
                                      max_depth: float, max_length: int,
                                      n_changed: int) -> str:
    """Invariants of the constrained-breach replay. depth_bound is
    genuine cross-engine arithmetic: the deepest legal cut is
    max_depth plus the epsilon channel gradient over a full-length
    path, max_depth + (max_length+1) * SMALL_NUM with SMALL_NUM =
    1/10^(5-digits) * 10 from the DEM's own elevation range
    (breachDepressions.go:328-329); n_over_depth_bound counts output
    cells cut below that bound (must be 0)."""
    small = ("(1.0 / pow(10, 5 - length(CAST(CAST(floor("
             "(SELECT max(value) - min(value) FROM dem)"
             ") AS BIGINT) AS VARCHAR))) * 10.0)")
    return f"""
    WITH {_dem_off_cte(rows, cols)},
    {_pits_in_cte()}
    SELECT (SELECT count(*) FROM dem) AS n_cells,
           (SELECT count(*) FROM pits_in) AS n_pits_in,
           CAST(0 AS BIGINT) AS n_interior_pits,
           CAST(0 AS BIGINT) AS n_over_depth_bound,
           {max_depth} + ({max_length} + 1) * {small} AS depth_bound,
           CAST({n_changed} AS BIGINT) AS golden_n_changed
    """


def breach_streams_invariants_sql(rows: int, cols: int,
                                  n_changed: int, n_lowered: int,
                                  n_raised: int) -> str:
    """Invariants of the BreachStreams replay: n_cells genuine;
    n_stream_cells is the cross+diagonal synthetic network size,
    genuinely counted from its defining predicate; n_interior_pits=0
    is the tool's contract; changed/lowered/raised are golden."""
    return f"""
    WITH {_dem_off_cte(rows, cols)}
    SELECT (SELECT count(*) FROM dem) AS n_cells,
           (SELECT count(*) FROM range(0, {rows} * {cols}) t(i)
            WHERE (i // {cols}) = {rows // 2}
               OR (i % {cols}) = {cols // 2}
               OR (i // {cols}) = (i % {cols})) AS n_stream_cells,
           CAST(0 AS BIGINT) AS n_interior_pits,
           CAST({n_changed} AS BIGINT) AS golden_n_changed,
           CAST({n_lowered} AS BIGINT) AS golden_n_lowered,
           CAST({n_raised} AS BIGINT) AS golden_n_raised
    """


def fd8_invariants_sql(rows: int, cols: int) -> str:
    """Invariants of distributed FD8 accumulation: the headwater set
    (no strictly-higher valid 8-neighbor; every higher neighbor
    contributes a strictly positive (z-zN)^2 weight fraction,
    fd8FlowAccum.go:356-383) is genuinely computed from the DEM on
    BOTH sides; accum == 1.0 exactly on that set (no inflow terms at
    all -> no rounding, so mismatch = 0 is one-directionally safe);
    accum < 1 is impossible (loads are non-negative, every valid cell
    starts at 1)."""
    return f"""
    WITH {_dem_off_cte(rows, cols)},
    head AS (
      SELECT d.row, d.col
      FROM dem d JOIN off o ON true
      LEFT JOIN dem x ON x.row = d.row + o.dy AND x.col = d.col + o.dx
      GROUP BY d.row, d.col, d.value
      HAVING coalesce(sum(CASE WHEN x.value > d.value THEN 1 ELSE 0 END),
                      0) = 0)
    SELECT (SELECT count(*) FROM dem) AS n_cells,
           CAST(0 AS BIGINT) AS n_below_one,
           (SELECT count(*) FROM head) AS n_headwater,
           CAST(0 AS BIGINT) AS n_head_accum_mismatch
    """


# PrintGeoTiffTags golden for the reference DEM.tif fixture (the tag
# table of a fixed file is a constant; recorded once, like the
# reference's own golden tests — printGeoTiffTags.go:95-114).
_DEM_TIF_TAGS = [
    (256, "[237]"), (257, "[188]"), (258, "[32]"), (259, "[1]"),
    (262, "[1]"),
    (273, "[8, 956, 1904, 2852, 3800, 4748, 5696, 6644, 7592, 8540, "
          "9488, 10436, 11384, 12332, 13280, 14228, 15176, 16124, "
          "17072, 18020, 18968, 19916, 20864, 21812, 22760, 23708, "
          "24656, 25604, 26552, 27500, 2844"),
    (277, "[1]"), (278, "[1]"),
    (279, "[948, 948, 948, 948, 948, 948, 948, 948, 948, 948, 948, "
          "948, 948, 948, 948, 948, 948, 948, 948, 948, 948, 948, "
          "948, 948, 948, 948, 948, 948, 948, 948, 948, 948, 948, "
          "948, 948, 948, 948, 948, 948, 948,"),
    (282, "[72.0]"), (283, "[72.0]"), (296, "[2]"),
    (305, "b'GoSpatial'"), (339, "[3]"),
    (33550, "[89.98349566172115, 90.02153730932424, 0.0]"),
    (33922, "[0.0, 0.0, 0.0, 664737.0507251581, 4895782.5891085025, "
            "0.0]"),
    (34735, "[1, 1, 0, 2, 1025, 0, 1, 2, 1026, 0, 1, 0]"),
    (34737, "b'Unknown|'"), (42113, "b'-32768'"),
]


def geotiff_tags_golden_sql() -> str:
    """Golden tag table for DEM.tif as a VALUES literal."""
    rows = ", ".join(
        "({}, '{}')".format(t, v.replace("'", "''"))
        for t, v in _DEM_TIF_TAGS)
    return (f"SELECT CAST(t AS INT) AS tag, v AS value "
            f"FROM (VALUES {rows}) x(t, v)")
