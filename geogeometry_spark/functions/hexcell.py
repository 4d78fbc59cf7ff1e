"""Native Spark Column builders for the hexgrid cell index + DuckDB twin.

``hex_cell`` runs the whole encode (equal-area projection -> fractional
axial coords -> cube rounding -> longitude wrap -> BIGINT packing)
JVM-side as plain codegen'd Columns: one ``sin`` plus fixed-order
float64 arithmetic, ``floor(v + 0.5)`` rounding and integer bit math —
no higher-order functions, no Python workers.  Unlike the S2 encode
(functions/s2cell.py) there is no Hilbert fold, so the native path IS
the hot path; no Arrow-UDF twin is needed.

Operation order is the parity contract with kernels/hexgrid.py
(numpy) and :func:`hex_encode_oracle` (DuckDB SQL) — all three compute
the identical float64 expression sequence so cell assignments are
hash-identical cross-engine (contract.py header explains the repo-wide
recipe; the only shared risk is 1-ulp libm ``sin`` divergence exactly
on a cell boundary, the same accepted risk as tile/S2 encode).

The id algebra (res/q/r extractors, pack) is cheap native bit math.
``hex_parent`` composes decode-center with re-encode at res-1 (center
containment, kernels/hexgrid.py:parent) — also fully native.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..kernels.hexgrid import (
    MAX_RES,
    R_BIAS,
    RAD,
    SQRT3,
    Y_SCALE,
    ncols,
    q_scale,
    r_scale,
    x_scale,
    y_step,
)

_MASK28 = (1 << 28) - 1


def _dlit(v: float) -> str:
    """DOUBLE literal for DuckDB SQL.  A plain 17-digit decimal literal
    parses as DECIMAL(17,15), which does NOT roundtrip to the intended
    double (measured: r_scale(9) came back 1 ulp off and flipped cell
    assignments); appending an exponent forces DOUBLE parsing, which is
    correctly rounded."""
    r = repr(float(v))
    return r if ("e" in r or "E" in r) else r + "e0"


def _check_res(res: int) -> None:
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}], got {res}")


# --------------------------------------------------------------------------
# encode (native Columns)
# --------------------------------------------------------------------------

def _axial_cols(x: Column, y: Column, res: int) -> tuple[Column, Column]:
    """Fractional axial + cube rounding; mirrors hexgrid._axial_from_xy
    expression by expression."""
    n = ncols(res)
    qf = (x - y / F.lit(SQRT3)) * F.lit(q_scale(res))
    rf = y * F.lit(r_scale(res))
    sf = (-qf) - rf
    q1 = F.floor(qf + F.lit(0.5))
    r1 = F.floor(rf + F.lit(0.5))
    s1 = F.floor(sf + F.lit(0.5))
    dq = F.abs(q1 - qf)
    dr = F.abs(r1 - rf)
    ds = F.abs(s1 - sf)
    fix_q = (dq > dr) & (dq > ds)
    fix_r = (~fix_q) & (dr > ds)
    q = F.when(fix_q, (-r1) - s1).otherwise(q1)
    r = F.when(fix_r, (-q1) - s1).otherwise(r1)
    nl = F.lit(n).cast("long")
    q = ((q % nl) + nl) % nl
    return q, r


def hex_pack(res: int, q: Column, r: Column) -> Column:
    """(res, q, r) -> BIGINT id; disjoint fields so + == |."""
    return (
        F.lit(res << 56).cast("long")
        + (r + F.lit(R_BIAS)) * F.lit(1 << 28).cast("long")
        + q
    )


def hex_cell(lat: Column, lon: Column, res: int) -> Column:
    """Packed hexgrid cell id of (lat, lon) at ``res`` — fully native."""
    _check_res(res)
    y = F.sin(lat * F.lit(RAD)) * F.lit(Y_SCALE)
    q, r = _axial_cols(lon.cast("double"), y, res)
    return hex_pack(res, q, r)


# --------------------------------------------------------------------------
# id algebra (native bit math)
# --------------------------------------------------------------------------

def hex_res(cell: Column) -> Column:
    return F.shiftright(cell, 56).cast("int")


def hex_q(cell: Column) -> Column:
    return cell.bitwiseAND(F.lit(_MASK28).cast("long"))


def hex_r(cell: Column) -> Column:
    return F.shiftright(cell, 28).bitwiseAND(F.lit(_MASK28).cast("long")) - F.lit(
        R_BIAS
    ).cast("long")


def hex_center_xy(cell: Column, res: int) -> tuple[Column, Column]:
    """Projected center (x wrapped to [-180, 180), y); ``res`` must be
    the batch's resolution (static so ``s`` is a literal)."""
    _check_res(res)
    q = hex_q(cell)
    r = hex_r(cell)
    x = F.lit(x_scale(res)) * (q + r / F.lit(2.0))
    y = F.lit(y_step(res)) * r
    x = ((x + F.lit(180.0)) % F.lit(360.0)) - F.lit(180.0)
    return x, y


def hex_center_latlon(cell: Column, res: int) -> tuple[Column, Column]:
    """(lat, lon) of the cell center; top/bottom row centers clamp to
    the poles (kernels/hexgrid.py:center_latlon)."""
    x, y = hex_center_xy(cell, res)
    sin_lat = F.greatest(F.lit(-1.0), F.least(F.lit(1.0), y / F.lit(Y_SCALE)))
    return F.degrees(F.asin(sin_lat)), x


def hex_boundary_json(cell: Column, res: int) -> Column:
    """GeoJSON Polygon geometry string for each cell (6 hex vertices +
    closing repeat, [lon, lat] order, counter-clockwise) — fully
    native: the 6 vertex offsets are per-res constants (s * cos/sin of
    30 + 60k degrees, precomputed in Python), so each vertex is two
    adds + the asin latitude decode.  Feed the result to
    operators.geojson.feature_collection (the fromGeoHashes-style sink
    shape) or write NDJSON features directly."""
    import math

    from ..kernels.hexgrid import RAD as _RAD
    from ..kernels.hexgrid import size as _size

    _check_res(res)
    s = _size(res)
    cx, cy = hex_center_xy(cell, res)
    pts = []
    for k in list(range(6)) + [0]:
        ang = (30.0 + 60.0 * k) * _RAD
        dx, dy = s * math.cos(ang), s * math.sin(ang)
        x = ((cx + F.lit(dx) + F.lit(180.0 + 360.0)) % F.lit(360.0)) - F.lit(
            180.0
        )
        sin_lat = F.greatest(
            F.lit(-1.0), F.least(F.lit(1.0), (cy + F.lit(dy)) / F.lit(Y_SCALE))
        )
        lat = F.degrees(F.asin(sin_lat))
        pts.append(F.array(F.round(x, 9), F.round(lat, 9)))
    return F.to_json(
        F.struct(
            F.lit("Polygon").alias("type"),
            F.array(F.array(*pts)).alias("coordinates"),
        )
    )


def hex_parent(cell: Column, res: int) -> Column:
    """res-1 ancestor by center containment; ``res`` is the CHILD
    resolution (static).  Mirrors kernels/hexgrid.py:parent.

    Pass a cell computed in an EARLIER select (``df.select(hex_cell(...)
    .alias("cell")).select(hex_parent(F.col("cell"), res))``), not an
    inline ``hex_cell(...)`` expression: the cell is referenced about 20
    times here, and each reference copies the whole encode tree — one
    inline ``hex_parent(hex_cell(lat, lon, 12), 12)`` made a
    598,430-character executed plan against 12,437 for the two-select
    form."""
    _check_res(res)
    if res == 0:
        raise ValueError("res 0 cells have no parent")
    x, y = hex_center_xy(cell, res)
    q, r = _axial_cols(x, y, res - 1)
    return hex_pack(res - 1, q, r)


# --------------------------------------------------------------------------
# DuckDB SQL twins
# --------------------------------------------------------------------------

def _axial_sql_stages(
    x_expr: str, y_expr: str, res: int, prev: str, tag: str
) -> tuple[list[str], str, str]:
    """Chained-subquery stages computing wrapped q (as ``qw{tag}``) and
    r (as ``rx{tag}``) from projected coord exprs over ``prev``.
    Materialized intermediates so sin/qf evaluate once per row."""
    n = ncols(res)
    a = f"hx{tag} AS (SELECT *, {x_expr} AS x{tag}, {y_expr} AS y{tag} FROM {prev})"
    b = (
        f"hf{tag} AS (SELECT *, "
        f"((x{tag} - y{tag} / {_dlit(SQRT3)}) * {_dlit(q_scale(res))}) "
        f"AS qf{tag}, "
        f"(y{tag} * {_dlit(r_scale(res))}) AS rf{tag} "
        f"FROM hx{tag})"
    )
    c = (
        f"hs{tag} AS (SELECT *, ((-qf{tag}) - rf{tag}) AS sf{tag}, "
        f"CAST(floor(qf{tag} + 0.5) AS BIGINT) AS q1{tag}, "
        f"CAST(floor(rf{tag} + 0.5) AS BIGINT) AS r1{tag} FROM hf{tag})"
    )
    d = (
        f"hd{tag} AS (SELECT *, "
        f"CAST(floor(sf{tag} + 0.5) AS BIGINT) AS s1{tag}, "
        f"abs(q1{tag} - qf{tag}) AS dq{tag}, "
        f"abs(r1{tag} - rf{tag}) AS dr{tag}, "
        f"abs(CAST(floor(sf{tag} + 0.5) AS BIGINT) - sf{tag}) AS ds{tag} "
        f"FROM hs{tag})"
    )
    e = (
        f"hq{tag} AS (SELECT *, "
        f"CASE WHEN dq{tag} > dr{tag} AND dq{tag} > ds{tag} "
        f"THEN (-r1{tag}) - s1{tag} ELSE q1{tag} END AS qx{tag}, "
        f"CASE WHEN NOT (dq{tag} > dr{tag} AND dq{tag} > ds{tag}) "
        f"AND dr{tag} > ds{tag} "
        f"THEN (-q1{tag}) - s1{tag} ELSE r1{tag} END AS rx{tag} "
        f"FROM hd{tag})"
    )
    f_ = (
        f"hw{tag} AS (SELECT *, ((qx{tag} % {n}) + {n}) % {n} AS qw{tag} "
        f"FROM hq{tag})"
    )
    return [a, b, c, d, e, f_], f"hw{tag}", tag


def hex_pack_sql(res: int, q_expr: str, r_expr: str) -> str:
    return (
        f"(({res} * {1 << 56}) + (({r_expr} + {R_BIAS}) * {1 << 28}) "
        f"+ {q_expr})"
    )


def hex_encode_oracle(
    coord_subq: str,
    res: int,
    id_alias: str = "hex_id",
    extra_cols: str = "doc_id",
    where: str | None = None,
) -> str:
    """Full DuckDB query computing the same cell ids over ``coord_subq``
    (which must expose ``lat``/``lon`` plus ``extra_cols``)."""
    _check_res(res)
    stages, last, tag = _axial_sql_stages(
        "lon", f"(sin(lat * {_dlit(RAD)}) * {_dlit(Y_SCALE)})", res, "base", "0"
    )
    w = f" WHERE {where}" if where else ""
    return (
        f"WITH base AS (SELECT * FROM {coord_subq}), "
        + ", ".join(stages)
        + f" SELECT {extra_cols}, "
        + hex_pack_sql(res, f"qw{tag}", f"rx{tag}")
        + f" AS {id_alias} FROM {last}{w}"
    )


def hex_axial_with_stages(
    coord_subq: str, res: int
) -> tuple[str, str, str]:
    """WITH-clause prefix + final relation name + tag, for oracles that
    need q/r (k-ring enumeration, parent chains).  The caller appends
    its own SELECT over the returned relation."""
    stages, last, tag = _axial_sql_stages(
        "lon", f"(sin(lat * {_dlit(RAD)}) * {_dlit(Y_SCALE)})", res, "base", "0"
    )
    prefix = f"WITH base AS (SELECT * FROM {coord_subq}), " + ", ".join(stages)
    return prefix, last, tag


def hex_axial_stages_from(
    prev: str, res: int, tag: str
) -> tuple[list[str], str, str]:
    """Axial stages chained from an arbitrary prior relation (which
    must still expose ``lat``/``lon``) — for oracles that encode at
    several resolutions in one WITH chain (distinct ``tag`` per res)."""
    return _axial_sql_stages(
        "lon", f"(sin(lat * {_dlit(RAD)}) * {_dlit(Y_SCALE)})", res, prev, tag
    )


def hex_center_sql(cell_expr: str, res: int) -> tuple[str, str]:
    """(lat, lon) SQL exprs for a cell id expr — twin of
    :func:`hex_center_latlon` (same op order; callers round both
    engines' outputs because asin/degrees are libm)."""
    _check_res(res)
    q = f"({cell_expr} & {_MASK28})"
    r = f"((({cell_expr} >> 28) & {_MASK28}) - {R_BIAS})"
    x = (
        f"(((({_dlit(x_scale(res))} * ({q} + {r} / 2.0)) + 180.0) % 360.0) "
        f"- 180.0)"
    )
    y = f"({_dlit(y_step(res))} * {r})"
    lat = f"degrees(asin(greatest(-1.0, least(1.0, {y} / {_dlit(Y_SCALE)}))))"
    return lat, x


def hex_parent_oracle_stages(
    child_rel: str, child_res: int, tag: str
) -> tuple[list[str], str, str]:
    """Stages computing the parent id over ``child_rel`` which must
    expose ``qw{prev}``/``rx{prev}`` via qcol/rcol aliases ``cq``/``cr``.
    Emits wrapped center-x/y then re-encodes at child_res - 1."""
    x_expr = (
        f"((({_dlit(x_scale(child_res))} * (cq + cr / 2.0)) + 180.0) "
        f"% 360.0) - 180.0"
    )
    y_expr = f"({_dlit(y_step(child_res))} * cr)"
    return _axial_sql_stages(f"({x_expr})", y_expr, child_res - 1, child_rel, tag)
