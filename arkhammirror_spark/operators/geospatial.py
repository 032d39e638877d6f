"""Geospatial graph analysis — coordinate extraction, haversine
distances, bounds, bounds filtering.

Reference lineage: arkham-shard-graph/geospatial.py (`GeoGraphEngine`):
- ``extract_geo_nodes`` (:115-217): coordinate resolution cascade —
  explicit property lat/lng, then the label-anchored sentence pattern
  ``label[^(]*(lat, lng)`` (case-insensitive, :165-179), then the
  COORD_PATTERNS fallback over label+description+address (:181-194) —
  two decimal-degree regexes and one DMS regex (:106-113, :219-263),
  with [-90,90]/[-180,180] validation at every arm.
- ``calculate_distance`` (:265-290): haversine, R = 6371 km.
- ``calculate_edge_distances`` (:292-333): per-edge distance for edges
  whose BOTH endpoints resolved.
- ``calculate_bounds`` (:335-348) + ``GeoBounds.center``/``contains``.
- ``filter_by_bounds`` (:458-482): bounds filter + endpoint-pruned
  edges + total distance.

Spark-first split: distances, bounds, and the bounds filter are pure
Catalyst column math (radians/sin/cos/atan2 stay in whole-stage
codegen — the haversine never touches Python); the extraction cascade
runs as ONE Arrow-batched pass because its middle arm anchors a regex
on each row's OWN label (a per-row pattern no native regex function
expresses).
"""

from __future__ import annotations

import math
import re

from pyspark.sql import DataFrame, functions as F

from .lane import explode_lane

EARTH_RADIUS_KM = 6371.0

COORD_PATTERNS = [
    r"\(\s*(-?\d+\.\d+)\s*,\s*(-?\d+\.\d+)\s*\)",
    r"(-?\d+\.\d{2,})\s*,\s*(-?\d+\.\d{2,})",
    r"(\d+)°(\d+)'(\d+(?:\.\d+)?)[\"″]?\s*([NS])\s+"
    r"(\d+)°(\d+)'(\d+(?:\.\d+)?)[\"″]?\s*([EW])",
]


def parse_coordinates(text: str) -> tuple[float, float] | None:
    """_parse_coordinates (:219-263): two decimal forms then DMS."""
    if not text:
        return None
    for i in range(2):
        m = re.search(COORD_PATTERNS[i], text)
        if m:
            try:
                lat, lng = float(m.group(1)), float(m.group(2))
                if -90 <= lat <= 90 and -180 <= lng <= 180:
                    return (lat, lng)
            except ValueError:
                pass
    m = re.search(COORD_PATTERNS[2], text, re.IGNORECASE)
    if m:
        try:
            lat = int(m.group(1)) + int(m.group(2)) / 60 + float(
                m.group(3)
            ) / 3600
            if m.group(4).upper() == "S":
                lat = -lat
            lng = int(m.group(5)) + int(m.group(6)) / 60 + float(
                m.group(7)
            ) / 3600
            if m.group(8).upper() == "W":
                lng = -lng
            if -90 <= lat <= 90 and -180 <= lng <= 180:
                return (lat, lng)
        except (ValueError, IndexError):
            pass
    return None


def resolve_coordinates(
    label: str,
    lat,
    lng,
    sentence: str,
    description: str,
    address: str,
) -> tuple[float, float, str] | None:
    """The full per-node cascade (:136-202). Returns (lat, lng,
    location_type) or None."""
    if lat is not None and lng is not None:
        try:
            flat, flng = float(lat), float(lng)
        except (ValueError, TypeError):
            flat = flng = None
        if flat is not None and -90 <= flat <= 90 and -180 <= flng <= 180:
            return (flat, flng, "exact")
        if flat is not None:
            return None  # explicit but out of range → skipped (:201)
    label = label or ""
    if sentence and label:
        m = re.search(
            rf"{re.escape(label)}[^(]*\((-?\d+\.\d+)\s*,\s*(-?\d+\.\d+)\)",
            sentence,
            re.IGNORECASE,
        )
        if m:
            try:
                plat, plng = float(m.group(1)), float(m.group(2))
                if -90 <= plat <= 90 and -180 <= plng <= 180:
                    return (plat, plng, "parsed")
            except ValueError:
                pass
    text = label + " " + str(description or "") + " " + str(address or "")
    coords = parse_coordinates(text)
    if coords:
        return (coords[0], coords[1], "parsed")
    return None


def haversine_py(lat1, lng1, lat2, lng2) -> float:
    """calculate_distance (:282-290), driver-side."""
    lat1_r, lat2_r = math.radians(lat1), math.radians(lat2)
    dlat = math.radians(lat2 - lat1)
    dlng = math.radians(lng2 - lng1)
    a = (
        math.sin(dlat / 2) ** 2
        + math.cos(lat1_r) * math.cos(lat2_r) * math.sin(dlng / 2) ** 2
    )
    return EARTH_RADIUS_KM * 2 * math.atan2(math.sqrt(a), math.sqrt(1 - a))


def haversine_km(lat1, lng1, lat2, lng2):
    """The haversine as a pure Column expression — whole-stage codegen,
    no Python."""
    lat1_r, lat2_r = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1)
    dlng = F.radians(lng2 - lng1)
    a = (
        F.pow(F.sin(dlat / 2), 2)
        + F.cos(lat1_r) * F.cos(lat2_r) * F.pow(F.sin(dlng / 2), 2)
    )
    return F.lit(2 * EARTH_RADIUS_KM) * F.atan2(
        F.sqrt(a), F.sqrt(F.lit(1.0) - a)
    )


def extract_geo_nodes(nodes: DataFrame) -> DataFrame:
    """Corpus-wide extract_geo_nodes over (node_id, label): optional columns lat/lng/sentence/
    description/address are consumed when present. One Arrow pass (the
    label-anchored arm needs a per-row regex); rows without valid
    coordinates drop, exactly like the reference. Returns
    (node_id, label, latitude, longitude, location_type)."""
    opt = [c for c in ("lat", "lng", "sentence", "description", "address")
           if c in nodes.columns]
    id_ddl = nodes.schema["node_id"].dataType.simpleString()
    schema = (
        f"node_id {id_ddl}, label string, latitude double, "
        "longitude double, location_type string"
    )

    def _geo(label, *values) -> list[dict]:
        r = dict(zip(opt, values))
        res = resolve_coordinates(
            label or "",
            r.get("lat"), r.get("lng"),
            sentence=r.get("sentence") or "",
            description=r.get("description") or "",
            address=r.get("address") or "",
        )
        if res is None:
            return []
        return [{"label": label, "latitude": res[0], "longitude": res[1],
                 "location_type": res[2]}]

    return explode_lane(nodes.select("node_id", "label", *opt), _geo, schema)


def edge_distances(geo_nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """calculate_edge_distances (:292-333): (source, target) edges whose
    both endpoints resolved, distance as a native column."""
    a = geo_nodes.select(
        F.col("node_id").alias("_sid"),
        F.col("latitude").alias("lat1"),
        F.col("longitude").alias("lng1"),
    )
    b = geo_nodes.select(
        F.col("node_id").alias("_tid"),
        F.col("latitude").alias("lat2"),
        F.col("longitude").alias("lng2"),
    )
    return (
        edges.join(a, edges["source"] == F.col("_sid"))
        .join(b, edges["target"] == F.col("_tid"))
        .select(
            F.col("source").alias("source_id"),
            F.col("target").alias("target_id"),
            haversine_km(
                F.col("lat1"), F.col("lng1"), F.col("lat2"), F.col("lng2")
            ).alias("distance_km"),
        )
    )


def geo_bounds(geo_nodes: DataFrame) -> DataFrame:
    """calculate_bounds + center (:335-348, :64-69) as one agg."""
    return geo_nodes.agg(
        F.min("latitude").alias("min_lat"),
        F.max("latitude").alias("max_lat"),
        F.min("longitude").alias("min_lng"),
        F.max("longitude").alias("max_lng"),
    ).select(
        "min_lat", "max_lat", "min_lng", "max_lng",
        ((F.col("min_lat") + F.col("max_lat")) / 2).alias("center_lat"),
        ((F.col("min_lng") + F.col("max_lng")) / 2).alias("center_lng"),
    )


def filter_by_bounds(
    geo_nodes: DataFrame,
    geo_edges: DataFrame,
    min_lat: float,
    max_lat: float,
    min_lng: float,
    max_lng: float,
) -> dict[str, DataFrame]:
    """filter_by_bounds (:458-482): inclusive bounds (GeoBounds.contains,
    :71-78), endpoint-pruned edges, recomputed bounds + total
    distance."""
    fn = geo_nodes.where(
        (F.col("latitude") >= min_lat) & (F.col("latitude") <= max_lat)
        & (F.col("longitude") >= min_lng)
        & (F.col("longitude") <= max_lng)
    )
    ids = fn.select(F.col("node_id").alias("_nid")).distinct()
    fe = (
        geo_edges.join(
            ids, geo_edges["source_id"] == F.col("_nid"), "left_semi"
        ).join(ids, geo_edges["target_id"] == F.col("_nid"), "left_semi")
    )
    total = fe.agg(
        F.coalesce(F.sum("distance_km"), F.lit(0.0)).alias(
            "total_distance_km"
        )
    )
    return {
        "nodes": fn, "edges": fe, "bounds": geo_bounds(fn),
        "total": total,
    }
