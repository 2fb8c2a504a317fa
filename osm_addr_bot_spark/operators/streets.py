"""J4 — street-name proximity search.

Internalizes the reference's ``query_street_names``
(overpass.py:143-151 compile, 347-382 exec, tier driver 37-55):
an UNKNOWN_STREET_NAME issue is CLEARED when a named highway within the
current tier radius (500 -> 1000 -> 3000 m) carries its ``addr:street``
as ``name`` or ``alt_name`` — EXACT string match, no normalization
(quirk Q3, overpass.py:379). Issues cleared at a tier leave the
search; the rest escalate; whoever survives tier 3000 stays flagged.
Large elements never enter (reference @skip_large).

The tier escalation exists to keep *remote* queries cheap; its final
result equals "no matching street within the largest tier" (matched@500
⊆ matched@3000 by distance monotonicity). Here the (cell, name)
equi-join already prunes candidates to same-named streets, so the stage
is ONE ``geo.join.radius_join`` at max(tiers) in anti mode: street
polylines pre-explode to (vertex, name-variant) rows, issues explode
their disk cover, and a LEFT SEMI join with the distance test in its
condition stops at an issue's first in-range vertex.

Distance note: point-to-way distance is approximated by min distance
to the way's vertices (generator emits 100 m-spaced vertices; fixtures
keep >=5% margins, FIXTURES.md §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_addr_bot_spark.config import STREET_TIERS_M
from osm_addr_bot_spark.geo.join import radius_join
from osm_addr_bot_spark.operators.duplicates import skip_large_expr

_ISSUE_KEY = ["category", "check_id", "changeset_id", "uid"]


def street_vertex_index(streets: DataFrame) -> DataFrame:
    """(_name, b_lat, b_lon): one row per (vertex, name-variant)."""
    return (
        streets.select(
            F.explode(F.array(F.col("name"), F.col("alt_name"))).alias("_name"),
            F.col("points"),
        )
        .filter(F.col("_name").isNotNull())
        .select("_name", F.explode("points").alias("p"))
        .select("_name", F.col("p.lat").alias("b_lat"), F.col("p.lon").alias("b_lon"))
    )


def street_names_stage(
    issues: DataFrame,
    streets: DataFrame,
    tiers: tuple[int, ...] = STREET_TIERS_M,
) -> DataFrame:
    """J4: returns the issues still flagged after the search at
    max(tiers) — the reference's tier loop has the same result."""
    probe = issues.filter(skip_large_expr()).withColumn(
        "_name", F.element_at(F.col("tags"), F.lit("addr:street"))
    )
    return radius_join(
        probe,
        street_vertex_index(streets),
        float(max(tiers)),
        how="anti",
        keys=["_name"],
        probe_key=_ISSUE_KEY,
    ).drop("_name")
