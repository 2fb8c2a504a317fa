"""The cell-cover radius join: the one physical form of every proximity
operator the reference sends to a remote Overpass ``around`` query
(overpass.py:92-151) — J1 duplicates at 100 m, J2's place-node arm at
10 km, J4 streets at max(500/1000/3000 m).

Partition, build and probe live here so they are measured and tuned in
one place: the probe side explodes its disk cover (cell + ``cover_k``
ring at ``pick_res(radius_m)``), the build side keys on its own cell,
and the equi-join on (cell, extra keys[, salt]) refines with the
trig-free bbox prefilter before the haversine.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osm_addr_bot_spark.geo.haversine import haversine_m, radius_prefilter
from osm_addr_bot_spark.geo.hexgrid import cell_expr, cover_k, kring_expr, pick_res

_CELL, _BCELL = "_rj_cell", "_rj_bcell"
_COS, _BCOS = "_rj_cos", "_rj_bcos"
_SALT, _BSALT, _HOT = "_rj_salt", "_rj_bsalt", "_rj_hot"


def radius_join(
    probe: DataFrame,
    build: DataFrame,
    radius_m: float,
    how: str = "inner",
    keys: Sequence[str] = (),
    refine: Column | None = None,
    salt: tuple[int, int] | None = None,
    probe_key: Sequence[str] = (),
    cells: tuple[str, str] | None = None,
) -> DataFrame:
    """Join every probe point to the build points within ``radius_m``.

    The probe carries its point as ``lat``/``lon``, the build side as
    ``b_lat``/``b_lon``; no other column name may appear on both sides
    except the extra equi-join ``keys``, which must be equal (and
    non-null) on a match. ``refine`` is an extra predicate over both
    sides' columns, evaluated before the distance test, so callers put
    their cheap checks there.

    ``how``:
      * ``"inner"``: one row per matching (probe, build) pair — probe
        columns, then build columns without the keys. No distinct is
        needed: a pair meets only in the build row's own cell (and
        salt), and a cover holds no cell twice.
      * ``"semi"`` / ``"anti"``: the probe rows with at least one / no
        match. A LEFT SEMI join over the exploded probe, with the
        distance test inside the join condition, stops at a row's first
        match; one ``left_semi``/``left_anti`` on the caller's unique
        ``probe_key`` then maps back to full rows (key columns first).
        Only ``probe_key``, ``keys`` and the point cross the exchange,
        so ``refine`` may read no other probe column in these modes.

    ``salt=(buckets, threshold)`` turns on targeted skew salting: build
    cells holding more than ``threshold`` rows split into ``buckets``
    by a hash of the build row (so the build side may hold no map
    column), and probes of those cells replicate to every bucket; cold
    cells keep salt 0 and pay nothing. AQE's skew join stays on as the
    backstop for skew this static rule cannot see.

    ``cells`` names a probe and a build column that already hold each
    point's hex cell at ``pick_res(radius_m)`` (J1's parse-time
    ``hex9``); without it the cells are computed from the points. The
    cell expression is a large tree, and every copy of it in a plan
    costs driver analysis and codegen time.

    Domain: the hex cover is proved a superset of the disk (tests/
    test_geo.py) under the grid's equirectangular projection at
    ``HEX_LAT0_DEG`` = 52 with its 1.08 east-west margin, which holds
    for |lat| up to about 55 degrees — the reference's search bbox —
    and for pairs that do not cross the antimeridian. Outside it the
    join can miss pairs.
    """
    if how not in ("inner", "semi", "anti"):
        raise ValueError(f"how must be 'inner', 'semi' or 'anti', not {how!r}")
    semi = how != "inner"
    res = pick_res(radius_m)
    k = cover_k(radius_m, res)
    lat, lon, b_lat, b_lon = F.col("lat"), F.col("lon"), F.col("b_lat"), F.col("b_lon")

    # probe: the base cell is a real column before the ring explode, so
    # codegen does not repeat the cell trig once per ring member
    p_cell = F.col(cells[0]) if cells else cell_expr(lat, lon, res)
    b_cell = F.col(cells[1]) if cells else cell_expr(b_lat, b_lon, res)
    covered = probe.select(
        *([*probe_key, *keys, "lat", "lon"] if semi else probe.columns),
        p_cell.alias(_CELL),
        F.cos(F.radians(lat)).alias(_COS),
    ).withColumn(_CELL, F.explode(kring_expr(F.col(_CELL), k)))

    bkeys = {kk: f"_rj_bk{i}" for i, kk in enumerate(keys)}
    b_names = [bkeys.get(c, c) for c in build.columns]
    b = build.select(
        *[F.col(c).alias(n) for c, n in zip(build.columns, b_names)],
        b_cell.alias(_BCELL),
        F.cos(F.radians(b_lat)).alias(_BCOS),
    )

    cond = F.col(_CELL) == F.col(_BCELL)
    for kk, bk in bkeys.items():
        cond = cond & (F.col(kk) == F.col(bk))
    if salt is not None:
        buckets, threshold = salt
        # one cheap aggregate, bounded by the number of hot cells,
        # broadcast into both sides
        hot = (
            b.groupBy(F.col(_BCELL).alias(_CELL))
            .count()
            .filter(F.col("count") > threshold)
            .select(_CELL, F.lit(True).alias(_HOT))
        )
        covered = covered.join(F.broadcast(hot), _CELL, "left").withColumn(
            _SALT,
            F.explode(
                F.when(F.col(_HOT), F.sequence(F.lit(0), F.lit(buckets - 1)))
                .otherwise(F.array(F.lit(0)))
            ),
        )
        b = b.join(
            F.broadcast(hot.withColumnRenamed(_CELL, _BCELL)), _BCELL, "left"
        ).withColumn(
            _BSALT,
            F.when(F.col(_HOT), F.pmod(F.hash(*b_names), F.lit(buckets))).otherwise(F.lit(0)),
        )
        cond = cond & (F.col(_SALT) == F.col(_BSALT))
    if refine is not None:
        cond = cond & refine
    cond = (
        cond
        & radius_prefilter(lat, lon, b_lat, b_lon, float(radius_m), F.col(_COS), F.col(_BCOS))
        & (haversine_m(lat, lon, b_lat, b_lon) <= F.lit(float(radius_m)))
    )

    if not semi:
        return covered.join(b, cond).select(
            *probe.columns, *[c for c in build.columns if c not in bkeys]
        )
    matched = covered.join(b, cond, "left_semi").select(*probe_key)
    return probe.join(matched, list(probe_key), "left_semi" if how == "semi" else "left_anti")
