"""All seven golden cases from NaiveNamingServiceSpec.scala:15-232, plus
EntityNameTags selection (EntityNameTagsSpec.scala:7-53) and batch naming."""

from pyspark.sql import functions as F

from osm_jigsaw_spark.operators.geocode import geocode
from osm_jigsaw_spark.operators.naming import (
    name_for_paths,
    name_from_tags,
    name_points,
)
from osm_jigsaw_spark.sources.json_sink import _name_expr


def one(ids_areas, tags):
    return name_for_paths([[(list(i), a) for i, a in ids_areas]], tags)


def test_concatenation():
    got = one(
        [(["80500R"], 0.0), (["2316598R"], 0.0), (["8165171R"], 0.0)],
        {"80500R": {"name": "Australia"},
         "2316598R": {"name": "Western Australia"},
         "8165171R": {"name": "Ngaanyatjarra Indigenous Protected Area"}},
    )
    assert got == ("Ngaanyatjarra Indigenous Protected Area, "
                   "Western Australia, Australia")


def test_consecutive_duplicates_removed():
    got = one(
        [(["62269R"], 0.0), (["6041206R"], 0.0),
         (["1061146R"], 0.0), (["1061138R"], 0.0)],
        {"62269R": {"name": "Isle of Man"},
         "6041206R": {"name": "Isle of Man"},
         "1061146R": {"name": "Middle"},
         "1061138R": {"name": "Douglas"}},
    )
    assert got == "Douglas, Middle, Isle of Man"


def test_overlapping_paths_contain_both():
    tags = {"148838R": {"name": "United States of America"},
            "165475R": {"name": "California"},
            "396465R": {"name": "Mariposa County"},
            "1643367R": {"name": "Yosemite National Park"}}
    got = name_for_paths(
        [[(["148838R"], 0.0), (["165475R"], 0.0), (["396465R"], 0.0)],
         [(["148838R"], 0.0), (["165475R"], 0.0), (["1643367R"], 0.0)]],
        tags,
    )
    assert "Yosemite National Park" in got


def test_overlap_merge_preserves_nesting():
    tags = {"16689R": {"name": "United Kingdom"},
            "16137R": {"name": "England"},
            "151339R": {"name": "South West England"},
            "375535R": {"name": "Dorset"},
            "42134R": {"name": "Bournemouth"}}
    got = name_for_paths(
        [[(["16689R"], 0.0), (["16137R"], 0.0),
          (["375535R"], 0.0), (["42134R"], 0.0)],
         [(["16689R"], 0.0), (["151339R"], 0.0),
          (["375535R"], 0.0), (["42134R"], 0.0)]],
        tags,
    )
    assert got == ("Bournemouth, Dorset, England, South West England, "
                   "United Kingdom")


def test_excluded_tags_removed():
    got = one(
        [(["62273R"], 0.0), (["6741826R"], 0.0), (["5576531R"], 0.0)],
        {"62273R": {"name": "Ireland"},
         "6741826R": {"name": "Dublin City 1953", "historic": "yes"},
         "5576531R": {"name": "Dublin"}},
    )
    assert got == "Dublin, Ireland"


def test_area_sort_brings_outliers_into_line():
    tags = {"1311341R": {"name": "Spain"},
            "349044R": {"name": "Andalusia"},
            "348997R": {"name": "Almeria"},
            "77344161W": {"name": "Almeria"}}
    got = name_for_paths(
        [[(["1311341R"], 59.080443847178266),
          (["349044R"], 8.92241984358786),
          (["348997R"], 0.029915336745489712)],
         [(["1311341R"], 59.080443847178266),
          (["77344161W"], 0.18624327963594123)]],
        tags,
    )
    assert got == "Almeria, Andalusia, Spain"


def test_single_node_path():
    got = one([(["7160849R"], 46.741900103008575)],
              {"7160849R": {"name": "Black Sea"}})
    assert got == "Black Sea"


def test_name_from_tags_selection():
    # EntityNameTagsSpec: preferred lang, fallback name, addr:housename
    assert name_from_tags({"name": "X", "name:cy": "Y"}, "cy") == "Y"
    assert name_from_tags({"name": "X", "name:cy": "Y"}, None) == "X"
    assert name_from_tags({"addr:housename": "H"}, None) == "H"
    assert name_from_tags({}, None) is None


def test_json_sink_name_chain(spark):
    # parser-side nameFor (EntityRendering.scala:15-23) as json_sink ships
    # it: first of name:en, name, addr:housename
    df = spark.createDataFrame(
        [(1, {"name:en": "E", "name": "N"}), (2, {"name": "N"})],
        "id int, tags map<string,string>")
    got = dict(df.select("id", _name_expr(F.col("tags"), F.lit("id")))
               .collect())
    assert got == {1: "E", 2: "N"}


def test_batch_naming(pipeline, qpoints):
    paths = geocode(pipeline.areas, pipeline.graph_edges, qpoints)
    named = {r["point_id"]: r["name"]
             for r in name_points(paths, pipeline.areas, pipeline.tags).collect()}
    assert named["p_richmond"] == "Richmond upon Thames"
    assert named["p_holdenhurst"] == "Holdenhurst, Bournemouth"
    assert named["p_fits"] == "Fits, Small, Medium, Left, Overlapping, Large"
