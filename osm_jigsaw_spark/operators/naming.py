"""Place-name assembly (the reference's NaiveNamingService + EntityNameTags).

Semantics pinned by the seven golden cases in
osm-jigsaw-api/test/naming/NaiveNamingServiceSpec.scala:15-232:

1. per-path, drop entities carrying excluded tag pairs (the 26-pair
   blocklist, NaiveNamingService.scala:12-45);
2. merge the (root-first) paths into one combined order via adjacent-pair
   insertion (NaiveNamingService.scala:63-93);
3. stable-sort the combined order by area DESC — NOTE: the reference source
   reads `sortBy(area)` ascending (line 95) but its own golden test
   ("sorting by areas size ... Almeria") only passes with the descending
   stable sort; the test suite is the contract, so we match the tests;
4. look up names (preferred `name:<lang>` — shortest wins — else `name`,
   else `addr:housename`, EntityNameTags.scala:5-20), de-duplicate keeping
   first occurrence, reverse, join with ", ".

The per-query data is tiny (a handful of path nodes), so the core is a pure
Python function — unit-testable against every golden string — wrapped in a
grouped Arrow UDF for batch naming of geocode output.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EXCLUDED_TAGS = {
    ("boundary", "civil_defense"), ("boundary", "diocese"),
    ("boundary", "eez"), ("boundary", "fire"),
    ("boundary", "fire_district"), ("boundary", "historic"),
    ("boundary", "historic_parish"), ("boundary", "maritime"),
    ("boundary", "military_district"), ("boundary", "low_emission_zone"),
    ("boundary", "police"), ("boundary", "public_transport"),
    ("boundary", "proposed"), ("boundary", "timezone"),
    ("boundary", "vice_county"), ("historic", "yes"),
    ("boundary", "historic_administrative"),
    ("boundary", "historic_political"),
    ("political_division", "historical_local_const"),
    ("political_division", "euro_const"),
    ("political_division", "local_const"),
    ("public_transport", "pay_scale_area"),
    ("type", "network"), ("type", "toll"),
}


def name_from_tags(tags: dict[str, str] | None,
                   lang: str | None = None) -> str | None:
    """EntityNameTags.getNameFromTags: preferred name:<lang>, else name,
    else addr:housename."""
    if not tags:
        return None
    if lang is not None:
        v = tags.get(f"name:{lang}")
        if v is not None:
            return v
    return tags.get("name") or tags.get("addr:housename")


def has_excluded_tags(tags: dict[str, str] | None) -> bool:
    if not tags:
        return False
    return any((k, v) in EXCLUDED_TAGS for k, v in tags.items())


def name_for_paths(paths: list[list[tuple[list[str], float]]],
                   tags_by_osm_id: dict[str, dict[str, str]],
                   lang: str | None = None) -> str:
    """Pure-Python twin of NaiveNamingService.nameFor.

    paths: root-first; each element = (osm_ids of the area, area size).
    """
    filtered: list[list[list[str]]] = []
    for path in paths:
        fp = []
        for osm_ids, _area in path:
            keep = [o for o in osm_ids
                    if not has_excluded_tags(tags_by_osm_id.get(o))]
            if keep:
                fp.append(keep)
        filtered.append(fp)

    # adjacent-pair merge (root sentinel keeps single-node paths alive)
    ROOT = "-1R"
    pairs: list[tuple[str, str]] = []
    for fp in filtered:
        prev = ROOT
        for osm_ids in fp:
            for o in osm_ids:
                if (prev, o) not in pairs:
                    pairs.append((prev, o))
                prev = o

    combined: list[str] = []
    for a, b in pairs:
        if b in combined:
            continue
        if a in combined:
            combined.insert(combined.index(a) + 1, b)
        else:
            combined += [a, b]
    combined = [c for c in combined if c != ROOT]

    area_of: dict[str, float] = {}
    for path in paths:
        for osm_ids, area in path:
            for o in osm_ids:
                area_of[o] = area

    ordered = sorted(combined, key=lambda o: -area_of.get(o, 0.0))
    names = []
    for o in ordered:
        n = name_from_tags(tags_by_osm_id.get(o), lang)
        if n is not None:
            names.append(n)
    deduped: list[str] = []
    for n in names:
        if n not in deduped:
            deduped.append(n)
    return ", ".join(reversed(deduped))


NAMED_SCHEMA = "point_id string, name string"


def name_points(geocode_paths_df: DataFrame, areas: DataFrame,
                tags: DataFrame, lang: str | None = None) -> DataFrame:
    """Batch naming of geocode output: (point_id, name).

    Joins each path's area sizes + tags, then applies the pure function per
    point in a grouped Arrow UDF (per-point data is tiny; parallelism is
    across points).
    """
    exploded = geocode_paths_df.select(
        "point_id", "path",
        F.posexplode("path_keys").alias("pos", "area_key"),
    )
    enriched = exploded.join(
        areas.select(F.col("ring_hash").alias("area_key"),
                     "osm_ids", "area"),
        "area_key",
    )
    with_tags = enriched.select(
        "point_id", "path", "pos", "osm_ids", "area",
        F.explode("osm_ids").alias("osm_id"),
    ).join(tags, "osm_id", "left")

    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        point_id = pdf["point_id"].iloc[0]
        tag_map: dict[str, dict] = {}
        for o, t in zip(pdf["osm_id"], pdf["tags"]):
            if t is not None:
                tag_map[o] = dict(t)
        paths: dict[tuple, list] = {}
        for key, grp in pdf.groupby(pdf["path"].apply(tuple), sort=False):
            g = grp.drop_duplicates(subset=["pos", "osm_id"]).sort_values("pos")
            steps: dict[int, tuple[list[str], float]] = {}
            for _, row in g.iterrows():
                ids, area = steps.get(int(row["pos"]), ([], float(row["area"])))
                ids.append(row["osm_id"])
                steps[int(row["pos"])] = (ids, float(row["area"]))
            paths[key] = [steps[p] for p in sorted(steps)]
        ordered_paths = [paths[k] for k in sorted(paths.keys())]
        name = name_for_paths(ordered_paths, tag_map, lang)
        return pd.DataFrame({"point_id": [point_id], "name": [name]})

    return with_tags.groupBy("point_id").applyInPandas(
        assemble, schema=NAMED_SCHEMA)
