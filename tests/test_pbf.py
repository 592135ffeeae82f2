"""PBF source round-trip: encode the complete_db fixture to PBF, read it
back distributed, compare against the XML parse. This pins the wire format
(varint/zigzag/delta/string-table) without external fixtures."""

import pytest
from pyspark.sql import functions as F

from imposm3_spark.sources.osm_xml import read_osm_xml
from imposm3_spark.sources.pbf import read_pbf, scan_blobs, write_pbf

FIXTURE = "/root/reference/test/complete_db.osm"


@pytest.fixture(scope="module")
def pbf_path(spark, tmp_path_factory):
    nodes, ways, rels = read_osm_xml(spark, FIXTURE)
    n_rows = [(r["id"], r["lon"], r["lat"], dict(r["tags"])) for r in nodes.collect()]
    w_rows = [(r["id"], list(r["refs"]), dict(r["tags"])) for r in ways.collect()]
    r_rows = [
        (r["id"], [(m["id"], m["type"], m["role"]) for m in r["members"]], dict(r["tags"]))
        for r in rels.collect()
    ]
    path = str(tmp_path_factory.mktemp("pbf") / "complete_db.pbf")
    write_pbf(path, n_rows, w_rows, r_rows, block_size=500)
    return path, (nodes, ways, rels)


def test_blob_index(pbf_path):
    path, _ = pbf_path
    blobs = scan_blobs(path)
    assert blobs[0][0] == "OSMHeader"
    assert all(b[0] == "OSMData" for b in blobs[1:])
    assert len(blobs) > 2  # multiple data blocks at block_size=500


def test_roundtrip(spark, pbf_path):
    path, (nodes, ways, rels) = pbf_path
    n2, w2, r2 = read_pbf(spark, path)

    assert n2.count() == nodes.count()
    assert w2.count() == ways.count()
    assert r2.count() == rels.count()

    # coords survive within the PBF 100-nanodegree granularity
    orig = {r["id"]: (r["lon"], r["lat"]) for r in nodes.collect()}
    for row in n2.collect():
        lon, lat = orig[row["id"]]
        assert abs(row["lon"] - lon) < 1e-7 + 1e-12
        assert abs(row["lat"] - lat) < 1e-7 + 1e-12

    # tags and refs are exact
    ow = {r["id"]: (list(r["refs"]), dict(r["tags"])) for r in ways.collect()}
    for row in w2.collect():
        refs, tags = ow[row["id"]]
        assert list(row["refs"]) == refs
        assert dict(row["tags"]) == tags

    orels = {
        r["id"]: ([(m["id"], m["type"], m["role"]) for m in r["members"]], dict(r["tags"]))
        for r in rels.collect()
    }
    for row in r2.collect():
        members, tags = orels[row["id"]]
        assert [(m["id"], m["type"], m["role"]) for m in row["members"]] == members
        assert dict(row["tags"]) == tags


def test_pipeline_from_pbf(spark, pbf_path):
    """The import pipeline produces identical results from PBF input."""
    from imposm3_spark.mapping.config import load_mapping
    from imposm3_spark.pipeline.engine import ImportPipeline

    path, _ = pbf_path
    mapping = load_mapping("/root/reference/test/complete_db_mapping.json")
    n2, w2, r2 = read_pbf(spark, path)
    pipe = ImportPipeline(mapping, srid=3857)
    roads = pipe.way_tables(w2, pipe.prepare_coords(n2))["roads"]
    rows = sorted(
        roads.filter(F.col("osm_id") == 18001).collect(), key=lambda r: r["type"]
    )
    assert [r["type"] for r in rows] == ["residential", "tram"]


def test_metadata_roundtrip(spark, tmp_path):
    """Element metadata (element.go:23-29): PBF DenseInfo/Info encode ->
    decode parity for nodes, ways and relations; XML attrs likewise."""
    from imposm3_spark.sources.osm_xml import read_osm_xml

    meta1 = (501, "alice", 3, 1321229471, 9000)
    meta2 = (502, "bob", 1, 1321229500, 9001)
    nodes = [
        (1, 10.0, 50.0, {"amenity": "cafe"}, meta1),
        (2, 10.1, 50.1, {}, meta2),
    ]
    ways = [(100, [1, 2], {"highway": "path"}, meta1)]
    rels = [(200, [(100, 1, "outer")], {"type": "multipolygon"}, meta2)]
    path = str(tmp_path / "meta.pbf")
    write_pbf(path, nodes, ways, rels)
    n2, w2, r2 = read_pbf(spark, path)

    got_n = {r["id"]: tuple(r["metadata"]) for r in n2.collect()}
    assert got_n == {1: meta1, 2: meta2}
    assert tuple(w2.collect()[0]["metadata"]) == meta1
    assert tuple(r2.collect()[0]["metadata"]) == meta2

    # XML attrs parse to the same struct (timestamp -> epoch seconds)
    xml = tmp_path / "meta.osm"
    xml.write_text(
        '<osm version="0.6">'
        '<node id="1" lon="10.0" lat="50.0" uid="501" user="alice" version="3" '
        'timestamp="2011-11-14T00:11:11Z" changeset="9000"/>'
        '<way id="100" uid="502" user="bob" version="1" '
        'timestamp="2011-11-14T00:11:40Z" changeset="9001">'
        '<nd ref="1"/></way>'
        "</osm>"
    )
    import calendar, time as _t

    ts1 = calendar.timegm(_t.strptime("2011-11-14T00:11:11Z", "%Y-%m-%dT%H:%M:%SZ"))
    nx, wx, _rx = read_osm_xml(spark, xml)
    assert tuple(nx.collect()[0]["metadata"]) == (501, "alice", 3, ts1, 9000)
    assert wx.collect()[0]["metadata"]["user_name"] == "bob"

    # fixtures without metadata stay NULL (optional column contract)
    plain = tmp_path / "plain.pbf"
    write_pbf(str(plain), [(7, 1.0, 2.0, {})], [], [])
    n3, _, _ = read_pbf(spark, str(plain))
    assert n3.collect()[0]["metadata"] is None


def test_mapping_pushdown_matches_expression_prefilter(spark, pbf_path):
    """read_pbf(mapping=...) must drop exactly the tags that
    tag_prefilter_expr drops — source pushdown and expression prefilter are
    two implementations of one semantic (mapping/filter.go)."""
    from imposm3_spark.mapping import load_mapping
    from imposm3_spark.mapping.matcher import tag_prefilter_expr

    path, _ = pbf_path
    m = load_mapping("/root/reference/test/complete_db_mapping.json")

    plain_n, plain_w, plain_r = read_pbf(spark, path)
    push_n, push_w, push_r = read_pbf(spark, path, mapping=m)

    for kind, plain, pushed in (
        ("node", plain_n, push_n),
        ("way", plain_w, push_w),
        ("relation", plain_r, push_r),
    ):
        expr_side = {
            r["id"]: dict(r["t"])
            for r in plain.select(
                "id", tag_prefilter_expr(m, kind, F.col("tags")).alias("t")
            ).collect()
        }
        push_side = {r["id"]: dict(r["tags"]) for r in pushed.collect()}
        assert push_side == expr_side, kind

    # pushdown keeps row counts (tagless rows remain as coords)
    assert push_n.count() == plain_n.count()
    assert push_w.count() == plain_w.count()


def test_read_pbf_union_prefilter(spark):
    """read_pbf(mapping=[m1, m2]) keeps a tag if ANY mapping keeps it —
    one parse can feed several pipelines (e.g. a geometry and a route
    pass) without re-reading the file."""
    from imposm3_spark.mapping.config import load_mapping
    from imposm3_spark.sources.pbf import read_pbf

    pbf = (
        "/root/reference/vendor/github.com/omniscale/go-osm/parser/pbf/"
        "monaco-20150428.osm.pbf"
    )
    geo = load_mapping("/root/reference/test/complete_db_mapping.json")
    route = load_mapping("/root/reference/test/route_relation_mapping.yml")

    _, _, rels_geo = read_pbf(spark, pbf, mapping=geo)
    _, _, rels_union = read_pbf(spark, pbf, mapping=[geo, route])

    from pyspark.sql import functions as F

    def with_key(df, key):
        return df.filter(F.col("tags").getItem(key).isNotNull()).count()

    # the route mapping needs the relation "route" tag; the geometry
    # mapping alone filters it out, the union keeps it
    assert with_key(rels_geo, "route") == 0
    assert with_key(rels_union, "route") > 0
    assert rels_union.count() >= rels_geo.count()
