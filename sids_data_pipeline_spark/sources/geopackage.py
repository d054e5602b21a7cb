"""Real GeoPackage (vector) ingest — no GDAL required (S6/F7 —
SURVEY.md §2a).

A GeoPackage is a SQLite database (OGC 12-128r14, public spec):
``gpkg_contents`` lists feature tables, ``gpkg_geometry_columns`` names
each table's geometry column, and geometries are GeoPackageBinary blobs —
an 8-byte header (+optional envelope) followed by standard ISO WKB,
which functions/geo.py already parses. Python's stdlib ``sqlite3``
reads all of it, so the reference's ogr2ogr import
(``pipeline/processing/inputs.py:46-62``) becomes a driver-side read of
the (dimension-sized) vector layer + ``spark.createDataFrame`` — the
same "vectors are small, load once" decision the reference makes.

The F7 normalisation the reference requests via ogr2ogr flags maps to:
``-nlt PROMOTE_TO_MULTI`` → geo.promote_to_multi; ``-dim XY`` → the
parser rejects Z/M loudly (geo._geom_header); ``-makevalid`` → out of
scope without a geometry engine (documented); ``-t_srs EPSG:4326`` →
functions/crs.py for the built-in pair.

``write_geopackage`` produces a minimal valid GeoPackage (same spec) so
round-trips are testable here and exports interoperate with GIS tools.
"""

from __future__ import annotations

import sqlite3
import struct

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from sids_data_pipeline_spark.functions.geo import promote_to_multi
from sids_data_pipeline_spark.schemas import ZONES
from sids_data_pipeline_spark.sources.storage import local_path

_GP_MAGIC = b"GP"

# envelope contents code (header flags bits 1-3) → number of doubles
_ENVELOPE_DOUBLES = {0: 0, 1: 4, 2: 6, 3: 6, 4: 8}


def parse_gpb(blob: bytes) -> bytes:
    """GeoPackageBinary → the embedded standard WKB."""
    if blob[:2] != _GP_MAGIC:
        raise ValueError("not a GeoPackageBinary blob (bad magic)")
    flags = blob[3]
    if flags & 0b00100000:
        raise ValueError("extended GeoPackageBinary not supported")
    envelope_code = (flags >> 1) & 0b111
    if envelope_code not in _ENVELOPE_DOUBLES:
        raise ValueError(f"invalid envelope indicator {envelope_code}")
    offset = 8 + 8 * _ENVELOPE_DOUBLES[envelope_code]
    return bytes(blob[offset:])


def make_gpb(wkb: bytes, srs_id: int = 4326) -> bytes:
    """Standard WKB → GeoPackageBinary (no envelope, little-endian)."""
    header = _GP_MAGIC + bytes([0, 0b00000001]) + struct.pack("<i", srs_id)
    return header + wkb


def list_feature_tables(path: str) -> list[str]:
    con = sqlite3.connect(local_path(path))
    try:
        rows = con.execute(
            "SELECT table_name FROM gpkg_contents WHERE data_type = 'features'"
        ).fetchall()
        return [r[0] for r in rows]
    finally:
        con.close()


def ingest_geopackage(
    spark: SparkSession,
    path: str,
    vector_id: str,
    table: str | None = None,
    name_col: str | None = None,
    reproject: bool = False,
) -> DataFrame:
    """GeoPackage feature table → ZONES DataFrame (fid, name, WKB
    MultiPolygon). Vector layers are dimension-sized, so the read is
    driver-side (mirroring the reference's single ogr2ogr import) and the
    result distributes via the Arrow createDataFrame path.

    CRS contract: the layer's declared ``gpkg_geometry_columns.srs_id``
    is honoured — EPSG:4326 passes through; with ``reproject=True`` any
    registered grid (3857, UTM zones, the LCC/Albers/polar/national-TM
    registry) is transformed to 4326 via operators/vector_reproject
    (ogr2ogr ``-t_srs`` parity); anything else raises. Silently
    ingesting projected meters as degrees is the classic wrong-answer
    class this guard exists for."""
    con = sqlite3.connect(local_path(path))
    try:
        if table is None:
            tables = list_feature_tables(path)
            if len(tables) != 1:
                raise ValueError(
                    f"specify table=; gpkg_contents lists {tables}"
                )
            table = tables[0]
        geom_row = con.execute(
            "SELECT column_name, srs_id FROM gpkg_geometry_columns "
            "WHERE table_name = ?",
            (table,),
        ).fetchone()
        if geom_row is None:
            raise ValueError(
                f"table {table!r} is not registered in gpkg_geometry_columns "
                "(attribute-only tables carry no features to ingest)"
            )
        geom_col, srs_id = geom_row
        src_epsg = 4326
        if srs_id is not None and srs_id != 4326:
            from sids_data_pipeline_spark.functions.crs import (
                PROJECTION_REGISTRY,
                _is_utm,
            )

            registered = (
                srs_id in PROJECTION_REGISTRY or _is_utm(srs_id) or srs_id == 3857
            )
            if reproject and registered:
                src_epsg = int(srs_id)
            elif reproject:
                raise ValueError(
                    f"layer {table!r} declares srs_id={srs_id}, which has "
                    "no registered closed form — register a projection "
                    "(functions/crs.register_projection) or reproject "
                    "externally"
                )
            else:
                raise ValueError(
                    f"layer {table!r} declares srs_id={srs_id}, not "
                    "EPSG:4326 — pass reproject=True (registered grids) "
                    "or reproject externally; ingesting projected "
                    "coordinates as degrees would be silently wrong"
                )
        info = list(con.execute(f'PRAGMA table_info("{table}")'))
        cols = [r[1] for r in info]
        # the spec requires an INTEGER PRIMARY KEY, not the NAME 'fid' —
        # QGIS/Arc exports commonly use 'id'/'OBJECTID'
        pk_cols = [r[1] for r in info if r[5]]
        pk = pk_cols[0] if pk_cols else "fid"
        if name_col is None:
            candidates = [c for c in cols if c.lower() in ("name", "label", "title")]
            name_col = candidates[0] if candidates else None
        select_name = f'"{name_col}"' if name_col else "NULL"
        rows = con.execute(
            f'SELECT "{pk}", {select_name}, "{geom_col}" FROM "{table}" '
            f'ORDER BY "{pk}"'
        ).fetchall()
    finally:
        con.close()

    records = [
        # NULL geometry is legal in a feature table (OGC 12-128r14);
        # carry it through as a NULL WKB rather than crashing the ingest
        (
            vector_id,
            int(fid),
            name,
            promote_to_multi(parse_gpb(gpb)) if gpb is not None else None,
        )
        for fid, name, gpb in rows
    ]
    pdf = pd.DataFrame(records, columns=[f.name for f in ZONES.fields])
    zones = spark.createDataFrame(pdf, ZONES).coalesce(1)
    if src_epsg != 4326:
        from sids_data_pipeline_spark.operators.vector_reproject import (
            reproject_zones,
        )

        zones = reproject_zones(zones, src_epsg, 4326)
    return zones


def write_geopackage(
    zones_rows: list[tuple[int, str, bytes]],
    path: str,
    table: str = "zones",
    srs_id: int = 4326,
) -> None:
    """Write (fid, name, wkb) rows as a minimal valid GeoPackage.

    ``srs_id`` must be a system the writer can register in
    gpkg_spatial_ref_sys (4326 or 3857) — referencing an unregistered
    srs_id would violate the spec's foreign-key contract and strict
    readers reject the layer."""
    _SRS_ROWS = {
        4326: ("WGS 84", 4326, "EPSG", 4326, "GEOGCS[...]"),
        3857: ("Web Mercator", 3857, "EPSG", 3857, "PROJCS[...]"),
    }
    if srs_id not in _SRS_ROWS:
        raise ValueError(
            f"write_geopackage registers srs_id in {sorted(_SRS_ROWS)}; "
            f"got {srs_id}"
        )
    con = sqlite3.connect(path)
    try:
        con.execute("PRAGMA application_id = 0x47504B47")  # 'GPKG'
        con.execute("PRAGMA user_version = 10300")
        con.execute(
            """CREATE TABLE IF NOT EXISTS gpkg_spatial_ref_sys (
                 srs_name TEXT NOT NULL, srs_id INTEGER PRIMARY KEY,
                 organization TEXT NOT NULL, organization_coordsys_id INTEGER NOT NULL,
                 definition TEXT NOT NULL, description TEXT)"""
        )
        con.execute(
            "INSERT OR IGNORE INTO gpkg_spatial_ref_sys VALUES (?, ?, ?, ?, ?, NULL)",
            _SRS_ROWS[srs_id],
        )
        con.execute(
            """CREATE TABLE IF NOT EXISTS gpkg_contents (
                 table_name TEXT PRIMARY KEY, data_type TEXT NOT NULL,
                 identifier TEXT, description TEXT, last_change TEXT,
                 min_x REAL, min_y REAL, max_x REAL, max_y REAL, srs_id INTEGER)"""
        )
        con.execute(
            """CREATE TABLE IF NOT EXISTS gpkg_geometry_columns (
                 table_name TEXT PRIMARY KEY, column_name TEXT NOT NULL,
                 geometry_type_name TEXT NOT NULL, srs_id INTEGER NOT NULL,
                 z TINYINT NOT NULL, m TINYINT NOT NULL)"""
        )
        con.execute(
            f'CREATE TABLE "{table}" (fid INTEGER PRIMARY KEY, name TEXT, geom BLOB)'
        )
        con.execute(
            "INSERT INTO gpkg_contents (table_name, data_type, identifier, srs_id) "
            "VALUES (?, 'features', ?, ?)",
            (table, table, srs_id),
        )
        con.execute(
            "INSERT INTO gpkg_geometry_columns VALUES (?, 'geom', 'MULTIPOLYGON', ?, 0, 0)",
            (table, srs_id),
        )
        con.executemany(
            f'INSERT INTO "{table}" (fid, name, geom) VALUES (?, ?, ?)',
            [(fid, name, make_gpb(wkb, srs_id)) for fid, name, wkb in zones_rows],
        )
        con.commit()
    finally:
        con.close()
