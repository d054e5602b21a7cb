"""Shapefile codec + ingest (S4) — reference parity for the ogr2ogr
import of .shp sidecar sets (pipeline/processing/download.py:14-17,
pipeline/processing/inputs.py:46-62)."""

from __future__ import annotations

import os
import struct

import numpy as np
import pytest

from sids_data_pipeline_spark.functions.geo import (
    box_wkb,
    multipolygon_wkb,
    parse_wkb,
)
from sids_data_pipeline_spark.sources.shapefile import (
    canonicalize_wkb_winding,
    ingest_shapefile,
    prj_to_epsg,
    read_dbf,
    read_shapefile,
    read_shp_geometries,
    write_shapefile,
)
from sids_data_pipeline_spark.sources.vector import FIXTURE_BUILDERS


def _fixture_records():
    grid = list(FIXTURE_BUILDERS["zones_grid"]())
    over = list(FIXTURE_BUILDERS["zones_overlap"]())
    return grid + [(fid + 10, name, wkb) for fid, name, wkb in over]


@pytest.fixture()
def shp_path(tmp_path):
    path = str(tmp_path / "zones.shp")
    write_shapefile(_fixture_records(), path)
    return path


def test_writer_emits_full_sidecar_set(shp_path):
    root = shp_path[:-4]
    for ext in (".shp", ".shx", ".dbf", ".prj", ".cpg"):
        assert os.path.exists(root + ext), ext


def test_round_trip_canonical_wkb(shp_path):
    pdf = read_shapefile(shp_path)
    recs = _fixture_records()
    assert len(pdf) == len(recs)
    for (fid, name, wkb), row in zip(recs, pdf.itertuples(index=False)):
        assert row.name == name
        assert row.geometry == canonicalize_wkb_winding(wkb)


def test_holed_triangle_ring_grouping(shp_path):
    """The triangle-with-hole fixture must come back as ONE polygon with
    two rings (exterior CCW, hole CW), not two polygons."""
    pdf = read_shapefile(shp_path)
    holed = pdf[pdf["name"] == "triangle_holed"].iloc[0]
    polys = parse_wkb(holed["geometry"])
    assert len(polys) == 1
    assert len(polys[0]) == 2


def test_spec_winding_in_shp_bytes(shp_path):
    """Inside the .shp itself the winding must follow the ESRI spec:
    exterior clockwise (negative shoelace), holes counter-clockwise."""
    from sids_data_pipeline_spark.functions.geo import ring_signed_area

    with open(shp_path, "rb") as fh:
        data = fh.read()
    # record 8 (triangle_holed) — walk records to its payload
    off = 100
    rings_seen = []
    while off + 8 < len(data):
        _rec, clen = struct.unpack_from(">ii", data, off)
        off += 8
        nparts, npts = struct.unpack_from("<ii", data, off + 36)
        poff = off + 44
        parts = list(struct.unpack_from(f"<{nparts}i", data, poff)) + [npts]
        pts = np.frombuffer(
            data, "<f8", 2 * npts, poff + 4 * nparts
        ).reshape(npts, 2)
        rings_seen.append(
            [pts[parts[i] : parts[i + 1]] for i in range(nparts)]
        )
        off += 2 * clen
    holed = rings_seen[7]
    assert len(holed) == 2
    assert ring_signed_area(holed[0]) < 0  # exterior CW
    assert ring_signed_area(holed[1]) > 0  # hole CCW


def test_dbf_deleted_rows_skipped(shp_path):
    dbf = shp_path[:-4] + ".dbf"
    with open(dbf, "rb") as fh:
        data = bytearray(fh.read())
    hlen, rlen = struct.unpack_from("<HH", data, 8)
    data[hlen + 2 * rlen] = 0x2A  # mark record 3 (fid=2) deleted
    with open(dbf, "wb") as fh:
        fh.write(data)
    pdf = read_shapefile(shp_path)
    assert len(pdf) == len(_fixture_records()) - 1
    assert 2 not in set(pdf["fid"])


def test_dbf_value_types():
    """Hand-built dBASE record: C/N-int/N-dec/L/D decode + blanks→None."""
    fields = [
        (b"NAME\x00" + b"\x00" * 6, b"C", 8, 0),
        (b"POP\x00" + b"\x00" * 7, b"N", 6, 0),
        (b"AREA\x00" + b"\x00" * 6, b"N", 8, 2),
        (b"FLAG\x00" + b"\x00" * 6, b"L", 1, 0),
        (b"SEEN\x00" + b"\x00" * 6, b"D", 8, 0),
    ]
    rlen = 1 + sum(f[2] for f in fields)
    hlen = 32 + 32 * len(fields) + 1
    head = struct.pack("<B3BIHH20x", 0x03, 95, 7, 26, 2, hlen, rlen)
    desc = b"".join(
        name + t + b"\x00" * 4 + bytes([ln, dec]) + b"\x00" * 14
        for name, t, ln, dec in fields
    )
    rec1 = b" " + b"suva    " + b"  8850" + b"  203.40" + b"T" + b"20260815"
    rec2 = b" " + b"        " + b"      " + b"        " + b"?" + b"        "
    data = head + desc + b"\x0d" + rec1 + rec2 + b"\x1a"
    names, rows, deleted = read_dbf(data)
    assert names == ["NAME", "POP", "AREA", "FLAG", "SEEN"]
    assert rows[0] == ["suva", 8850, 203.4, True, "2026-08-15"]
    assert rows[1] == [None, None, None, None, None]
    assert deleted == [False, False]


def test_z_variant_strips_to_xy(tmp_path):
    """PolygonZ (type 15): the XY prefix parses, trailing Z array is
    dropped — ogr2ogr -dim XY parity."""
    path = str(tmp_path / "z.shp")
    write_shapefile([(0, "zbox", box_wkb(0, 0, 2, 2))], path)
    with open(path, "rb") as fh:
        data = bytearray(fh.read())
    # rewrite record 1's shape type 5 → 15 and append a Z block
    (clen,) = struct.unpack_from(">i", data, 104)
    struct.pack_into("<i", data, 108, 15)
    npts = struct.unpack_from("<i", data, 108 + 40)[0]
    zblock = struct.pack(f"<{2 + npts}d", 0.0, 0.0, *([0.0] * npts))
    newlen = clen + len(zblock) // 2
    struct.pack_into(">i", data, 104, newlen)
    struct.pack_into(">i", data, 24, (len(data) + len(zblock)) // 2)
    with open(path, "wb") as fh:
        fh.write(bytes(data) + zblock)
    geoms = read_shp_geometries(bytes(data) + zblock)
    assert geoms[0] == canonicalize_wkb_winding(box_wkb(0, 0, 2, 2))


def test_null_shape_yields_none(tmp_path):
    header = (
        struct.pack(">i5ii", 9994, 0, 0, 0, 0, 0, 50 + 6)
        + struct.pack("<ii", 1000, 0)
        + struct.pack("<8d", *([0.0] * 8))
    )
    rec = struct.pack(">ii", 1, 2) + struct.pack("<i", 0)
    assert read_shp_geometries(header + rec) == [None]


def test_bad_magic_rejected():
    with pytest.raises(ValueError, match="file code"):
        read_shp_geometries(b"\x00" * 100)


def test_prj_recognition():
    assert prj_to_epsg(
        'GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",SPHEROID['
        '"WGS_1984",6378137.0,298.257223563]],PRIMEM["Greenwich",0.0],'
        'UNIT["Degree",0.0174532925199433]]'
    ) == 4326
    assert prj_to_epsg(
        'PROJCS["X",GEOGCS["GCS_North_American_1983",DATUM["D_NAD83",'
        'SPHEROID["GRS_1980",6378137,298.257222101]],PRIMEM["Greenwich",0],'
        'UNIT["Degree",0.017453292519943295]],AUTHORITY["EPSG","26915"]]'
    ) == 26915
    assert prj_to_epsg('PROJCS["Local_Grid"]') is None


def test_ingest_rejects_foreign_prj(tmp_path, spark):
    path = str(tmp_path / "utm.shp")
    write_shapefile([(0, "a", box_wkb(0, 0, 1, 1))], path)
    with open(path[:-4] + ".prj", "w") as fh:
        fh.write('PROJCS["NAD_1983_UTM_Zone_15N",AUTHORITY["EPSG","26915"]]')
    with pytest.raises(ValueError, match="EPSG:26915"):
        ingest_shapefile(spark, path, vector_id="v")


def test_ingest_requires_prj_or_explicit_optin(tmp_path, spark):
    """A missing .prj must be LOUD ('the engine does not guess datums'),
    not a silent 4326 assumption; assume_wgs84=True is the explicit
    opt-in."""
    import os

    path = str(tmp_path / "noprj.shp")
    write_shapefile([(0, "a", box_wkb(0, 0, 1, 1))], path)
    os.remove(path[:-4] + ".prj")
    with pytest.raises(ValueError, match="no .prj sidecar"):
        ingest_shapefile(spark, path, vector_id="v")
    zones = ingest_shapefile(spark, path, vector_id="v", assume_wgs84=True)
    assert zones.count() == 1


def test_ingest_zones_schema_and_broadcastable(spark, tmp_path):
    path = str(tmp_path / "zones.shp")
    write_shapefile(_fixture_records(), path)
    zones = ingest_shapefile(spark, path, vector_id="shp")
    rows = zones.collect()
    assert [f.name for f in zones.schema.fields] == [
        "vector_id",
        "fid",
        "name",
        "geometry",
    ]
    assert [r.fid for r in rows] == list(range(len(_fixture_records())))
    assert all(r.vector_id == "shp" for r in rows)
    # fids are the OGR-style 0-based record index
    assert rows[7].name == "triangle_holed"


def test_explicit_missing_name_col_refuses(shp_path):
    """An EXPLICIT name_col absent from the .dbf must raise (silent
    name=NULL for every zone is data loss); the heuristic default
    (name_col=None) still yields NULL when no candidate column exists."""
    from sids_data_pipeline_spark.sources.shapefile import zone_records

    shp = open(shp_path, "rb").read()
    dbf = open(shp_path[:-4] + ".dbf", "rb").read()
    with pytest.raises(ValueError, match="name_col 'NAEM' not among"):
        zone_records(shp, dbf, None, "v", name_col="NAEM")
    # explicit name_col with no .dbf at all is equally loud
    with pytest.raises(ValueError, match="no .dbf"):
        zone_records(shp, None, None, "v", name_col="name")
    # the heuristic path still works on the same bytes
    rec = zone_records(shp, dbf, None, "v")
    assert rec["name"].notna().all()


def test_all_ccw_fallback_one_poly_per_ring():
    """Nonconformant writer: two disjoint CCW rings in one record must
    fall back to one-polygon-per-ring (OGR organizePolygons leniency)."""
    from sids_data_pipeline_spark.sources.shapefile import _rings_to_polygons

    r1 = np.array([[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]], dtype=float)
    r2 = r1 + 5.0
    polys = _rings_to_polygons([r1, r2])
    assert len(polys) == 2


def test_canonicalize_is_idempotent():
    tri = multipolygon_wkb(
        [
            [
                [(1, 1), (5, 1), (3, 5), (1, 1)],
                [(2.6, 1.8), (3.4, 1.8), (3.0, 2.6), (2.6, 1.8)],
            ]
        ]
    )
    once = canonicalize_wkb_winding(tri)
    assert canonicalize_wkb_winding(once) == once


def test_ingest_via_file_uri(spark, tmp_path):
    """file:// URIs resolve to the local file through the same storage
    helpers that fetch remote sidecar sets — the reference's
    blob-storage sidecar fetch shape."""
    path = str(tmp_path / "zones.shp")
    write_shapefile(_fixture_records(), path)
    zones = ingest_shapefile(spark, "file://" + path, vector_id="uri")
    assert zones.count() == len(_fixture_records())
