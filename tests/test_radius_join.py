"""Property test: geo.join.radius_join against a brute-force numpy
haversine cross join, in all three modes, inside the join's stated
domain (the reference's search bbox: |lat| <= 55, no antimeridian)."""

import math

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from osm_addr_bot_spark.config import SEARCH_BBOX
from osm_addr_bot_spark.geo.join import radius_join
from tests.helpers import EARTH_RADIUS_M, haversine_np

N_PROBE, N_BUILD = 150, 240
GROUPS = np.array(["a", "b", None], dtype=object)


def _destination(lat, lon, dist_m, bearing):
    """Great-circle destination point (numpy, degrees)."""
    p1, l1, d = np.radians(lat), np.radians(lon), dist_m / EARTH_RADIUS_M
    p2 = np.arcsin(np.sin(p1) * np.cos(d) + np.cos(p1) * np.sin(d) * np.cos(bearing))
    l2 = l1 + np.arctan2(
        np.sin(bearing) * np.sin(d) * np.cos(p1), np.cos(d) - np.sin(p1) * np.sin(p2)
    )
    return np.degrees(p2), np.degrees(l2)


def _points(rng, clat, clon, radius, n):
    """Points spread uniformly over a disk of 3x the radius."""
    return _destination(
        clat, clon, 3 * radius * np.sqrt(rng.uniform(0, 1, n)), rng.uniform(0, 2 * math.pi, n)
    )


@settings(max_examples=6, deadline=None)
@given(
    seed=st.integers(0, 2**32 - 1),
    radius=st.sampled_from([100.0, 3000.0, 10000.0]),
    with_key=st.booleans(),
    salted=st.booleans(),
)
def test_radius_join_matches_brute_force(spark, seed, radius, with_key, salted):
    rng = np.random.default_rng(seed)
    # three clusters across the bbox, each a disk of 3x the radius
    centers = np.column_stack([
        rng.uniform(SEARCH_BBOX["min_lat"] + 0.3, SEARCH_BBOX["max_lat"] - 0.3, 3),
        rng.uniform(SEARCH_BBOX["min_lon"] + 0.5, SEARCH_BBOX["max_lon"] - 0.5, 3),
    ]).repeat([N_BUILD // 3, N_BUILD // 3, N_BUILD - 2 * (N_BUILD // 3)], axis=0)
    b_lat, b_lon = _points(rng, centers[:, 0], centers[:, 1], radius, N_BUILD)
    # half the probes sit uniformly in the same disks; the other half
    # within 1e-7..1e-3 of the radius from a build point, either side
    half = N_PROBE // 2
    c = centers[rng.integers(0, N_BUILD, half)]
    p_lat, p_lon = _points(rng, c[:, 0], c[:, 1], radius, half)
    near = rng.choice(N_BUILD, N_PROBE - half, replace=False)
    rel = rng.choice([-1, 1], N_PROBE - half) * 10 ** rng.uniform(-7, -3, N_PROBE - half)
    n_lat, n_lon = _destination(
        b_lat[near], b_lon[near], radius * (1 + rel), rng.uniform(0, 2 * math.pi, N_PROBE - half)
    )
    p_lat, p_lon = np.concatenate([p_lat, n_lat]), np.concatenate([p_lon, n_lon])
    p_grp = GROUPS[rng.integers(0, 3, N_PROBE)]
    b_grp = GROUPS[rng.integers(0, 3, N_BUILD)]
    b_grp[near] = p_grp[half:]  # keep the near-threshold pairs key-equal

    d = haversine_np(p_lat[:, None], p_lon[:, None], b_lat[None, :], b_lon[None, :])
    match = d <= radius
    if with_key:
        match &= (p_grp[:, None] == b_grp[None, :]) & (p_grp[:, None] != None)  # noqa: E711
    semi = match.any(axis=1)
    want = sorted(
        [("inner", int(i), int(j)) for i, j in zip(*np.nonzero(match))]
        + [("semi", int(i), -1) for i in np.nonzero(semi)[0]]
        + [("anti", int(i), -1) for i in np.nonzero(~semi)[0]]
    )

    probe = spark.createDataFrame(
        [(i, float(a), float(o), g) for i, (a, o, g) in enumerate(zip(p_lat, p_lon, p_grp))],
        "pid long, lat double, lon double, grp string",
    )
    build = spark.createDataFrame(
        [(j, float(a), float(o), g) for j, (a, o, g) in enumerate(zip(b_lat, b_lon, b_grp))],
        "bid long, b_lat double, b_lon double, grp string",
    )
    if not with_key:
        probe, build = probe.drop("grp"), build.drop("grp")
    kw = {
        "keys": ["grp"] if with_key else [],
        # threshold 1 makes every cell holding two build rows hot
        "salt": (4, 1) if salted else None,
    }
    got = radius_join(probe, build, radius, **kw).select(F.lit("inner"), "pid", "bid")
    for how in ("semi", "anti"):
        got = got.union(
            radius_join(probe, build, radius, how=how, probe_key=["pid"], **kw).select(
                F.lit(how), "pid", F.lit(-1).cast("long")
            )
        )
    # sorted lists, not sets: the inner mode must emit no pair twice
    assert sorted(tuple(r) for r in got.collect()) == want
