"""Real ESRI Shapefile ingest — no GDAL/fiona/pyshp required (S4 —
SURVEY.md §2a, the last reference source format).

The reference fetches a shapefile's sidecar set ``.cpg .dbf .prj .shx``
next to the ``.shp`` (``pipeline/processing/download.py:14-17``) and
imports the layer with ogr2ogr using ``-nlt PROMOTE_TO_MULTI -dim XY
-t_srs EPSG:4326`` (``pipeline/processing/inputs.py:46-62``). This
module re-implements that read path from the public specs alone:

* ``.shp``   — ESRI Shapefile Technical Description (ESRI white paper,
  July 1998): 100-byte header, big-endian record headers, little-endian
  shape payloads. Polygon rings are grouped by the spec's winding rule
  (exterior rings clockwise, holes counter-clockwise).
* ``.dbf``   — dBASE III/IV fixed-layout attribute table (public
  layout): field descriptors + fixed-width records, ``*`` deletion
  flags honoured (OGR skips deleted rows; so do we).
* ``.prj``   — ESRI WKT; recognised WGS-84 text maps to EPSG:4326;
  with ``reproject=True`` a registered grid's EPSG transforms to 4326
  via operators/vector_reproject; anything else is refused loudly (the
  engine does not guess datums).
* ``.cpg``   — attribute-string codepage (defaults to the dBASE
  header's language-driver byte, else latin-1, like OGR).
* ``.shx``   — offset index; written for interoperability, not needed
  for our sequential read.

ogr2ogr-flag parity: ``-nlt PROMOTE_TO_MULTI`` → polygons always emit
MultiPolygon WKB (points/polylines promote to MultiPoint /
MultiLineString); ``-dim XY`` → Z/M shape variants (types 11-28) parse
their XY prefix and the trailing Z/M arrays are dropped; ``-t_srs
EPSG:4326`` → a ``.prj`` that is not recognisably WGS-84 geographic
raises instead of silently mislabelling coordinates.

Vectors are dimension-sized (admin boundaries), so — exactly like the
GeoPackage path and the reference's one-shot ogr2ogr import — the read
is driver-side and the result distributes via ``spark.createDataFrame``
(Arrow batch), after which it broadcasts into every spatial join.

Ring-winding canonicalisation: ingest emits OGC-canonical WKB
(exterior counter-clockwise, holes clockwise), the same normal form
ogr2ogr produces when exporting shapefiles to OGC formats, so
byte-level oracles are stable regardless of the .shp's vertex order.
"""

from __future__ import annotations

import math
import os
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from sids_data_pipeline_spark.functions.geo import (
    multipolygon_wkb,
    parse_wkb,
    ring_signed_area,
)
from sids_data_pipeline_spark.schemas import ZONES
from sids_data_pipeline_spark.sources.storage import exists, read_bytes

# shape-type constants (ESRI TD page 4); Z/M variants share the XY prefix
SHP_NULL = 0
SHP_POINT = 1
SHP_POLYLINE = 3
SHP_POLYGON = 5
SHP_MULTIPOINT = 8

_XY_BASE = {
    0: SHP_NULL,
    1: SHP_POINT,
    11: SHP_POINT,
    21: SHP_POINT,
    3: SHP_POLYLINE,
    13: SHP_POLYLINE,
    23: SHP_POLYLINE,
    5: SHP_POLYGON,
    15: SHP_POLYGON,
    25: SHP_POLYGON,
    8: SHP_MULTIPOINT,
    18: SHP_MULTIPOINT,
    28: SHP_MULTIPOINT,
}

_WGS84_PRJ = (
    'GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",'
    'SPHEROID["WGS_1984",6378137.0,298.257223563]],'
    'PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]]'
)


# --- point-in-ring (even-odd) for hole→exterior assignment -------------------


def _point_in_ring(ring: np.ndarray, x: float, y: float) -> bool:
    """Even-odd crossing test of (x, y) against a closed (n,2) ring."""
    xs, ys = ring[:-1, 0], ring[:-1, 1]
    xe, ye = ring[1:, 0], ring[1:, 1]
    straddle = (ys > y) != (ye > y)
    with np.errstate(divide="ignore", invalid="ignore"):
        x_at = xs + (y - ys) * (xe - xs) / (ye - ys)
    return bool(np.count_nonzero(straddle & (x < x_at)) % 2)


def _rings_to_polygons(rings: list[np.ndarray]) -> list[list[np.ndarray]]:
    """Group shapefile rings into polygons by the spec's winding rule:
    clockwise (negative shoelace area in y-up math coords) = exterior,
    counter-clockwise = hole, each hole attached to the exterior that
    contains its first vertex. Files whose rings are ALL counter-
    clockwise (nonconformant writers) fall back to one-polygon-per-ring,
    matching OGR's organizePolygons leniency."""
    exteriors = [r for r in rings if ring_signed_area(r) <= 0.0]
    holes = [r for r in rings if ring_signed_area(r) > 0.0]
    if not exteriors:
        return [[r] for r in rings]
    polys: list[list[np.ndarray]] = [[e] for e in exteriors]
    for hole in holes:
        hx, hy = float(hole[0, 0]), float(hole[0, 1])
        for poly in polys:
            if _point_in_ring(poly[0], hx, hy):
                poly.append(hole)
                break
        else:
            # a "hole" inside no exterior: promote to its own polygon
            polys.append([hole])
    return polys


def _canonical_multipolygon(polys: list[list[np.ndarray]]) -> bytes:
    """Emit OGC-canonical MultiPolygon WKB: exterior CCW, holes CW."""
    out = []
    for rings in polys:
        fixed = []
        for i, ring in enumerate(rings):
            area = ring_signed_area(ring)
            want_ccw = i == 0
            is_ccw = area > 0.0
            pts = ring[::-1] if is_ccw != want_ccw else ring
            fixed.append([(float(x), float(y)) for x, y in pts])
        out.append(fixed)
    return multipolygon_wkb(out)


def canonicalize_wkb_winding(wkb: bytes) -> bytes:
    """Rewrite Polygon/MultiPolygon WKB into the OGC-canonical winding
    (exterior CCW, holes CW) that ``ingest_shapefile`` emits — the
    driver-side twin used by oracle builders and tests."""
    return _canonical_multipolygon(parse_wkb(wkb))


# --- .shp geometry parsing ----------------------------------------------------


def _parse_shape(payload: memoryview) -> bytes | None:
    """One record's content → WKB (or None for a null shape). Every
    length is validated before its unpack: a record header may claim a
    content length the file no longer carries (truncated upload), and
    that must surface as ValueError, not a struct/numpy internal."""

    def _need(nbytes: int, what: str) -> None:
        if len(payload) < nbytes:
            raise ValueError(
                f"truncated shape record: {what} needs {nbytes} bytes, "
                f"payload has {len(payload)}"
            )

    (stype,) = struct.unpack_from("<i", payload, 0)
    base = _XY_BASE.get(stype)
    if base is None:
        raise ValueError(f"unsupported shape type {stype}")
    if base == SHP_NULL:
        return None
    if base == SHP_POINT:
        _need(20, "point")
        x, y = struct.unpack_from("<dd", payload, 4)
        return struct.pack("<BIdd", 1, 1, x, y)  # WKB Point
    if base == SHP_MULTIPOINT:
        _need(40, "multipoint header")
        (npts,) = struct.unpack_from("<i", payload, 36)
        if npts < 0:
            raise ValueError(f"negative point count {npts}")
        _need(40 + 16 * npts, f"{npts} points")
        pts = np.frombuffer(payload, "<f8", 2 * npts, 40).reshape(npts, 2)
        body = [struct.pack("<BII", 1, 4, npts)]  # WKB MultiPoint
        for x, y in pts:
            body.append(struct.pack("<BIdd", 1, 1, float(x), float(y)))
        return b"".join(body)
    # PolyLine / Polygon share the parts layout (ESRI TD pages 7-8, 10-11)
    _need(44, "poly header")
    nparts, npts = struct.unpack_from("<ii", payload, 36)
    if nparts < 0 or npts < 0:
        raise ValueError(f"negative counts: nparts={nparts} npts={npts}")
    off = 44
    _need(off + 4 * nparts + 16 * npts, f"{nparts} parts + {npts} points")
    parts = np.frombuffer(payload, "<i4", nparts, off)
    off += 4 * nparts
    pts = np.frombuffer(payload, "<f8", 2 * npts, off).reshape(npts, 2)
    bounds = list(parts) + [npts]
    rings = [
        np.asarray(pts[bounds[i] : bounds[i + 1]], dtype=np.float64)
        for i in range(nparts)
        if bounds[i + 1] - bounds[i] >= 2
    ]
    if base == SHP_POLYLINE:
        body = [struct.pack("<BII", 1, 5, len(rings))]  # WKB MultiLineString
        for line in rings:
            body.append(struct.pack("<BII", 1, 2, len(line)))
            body.append(np.ascontiguousarray(line, "<f8").tobytes())
        return b"".join(body)
    closed = []
    for ring in rings:
        if not np.array_equal(ring[0], ring[-1]):
            ring = np.vstack([ring, ring[:1]])
        if ring.shape[0] >= 4:
            closed.append(ring)
    if not closed:
        return None
    return _canonical_multipolygon(_rings_to_polygons(closed))


def read_shp_geometries(data: bytes) -> list[bytes | None]:
    """All record geometries of a .shp, in file order, as WKB."""
    if len(data) < 100:
        raise ValueError("truncated .shp: no header")
    (magic,) = struct.unpack_from(">i", data, 0)
    if magic != 9994:
        raise ValueError(f"not a shapefile (file code {magic}, want 9994)")
    (version,) = struct.unpack_from("<i", data, 28)
    if version != 1000:
        raise ValueError(f"unsupported shapefile version {version}")
    (flen_words,) = struct.unpack_from(">i", data, 24)
    end = min(len(data), 2 * flen_words)
    geoms: list[bytes | None] = []
    off = 100
    while off + 8 <= end:
        _recno, clen_words = struct.unpack_from(">ii", data, off)
        off += 8
        payload = memoryview(data)[off : off + 2 * clen_words]
        if len(payload) < 4:
            raise ValueError("truncated .shp record")
        geoms.append(_parse_shape(payload))
        off += 2 * clen_words
    return geoms


# --- .dbf attribute parsing ----------------------------------------------------

# dBASE language-driver byte → codec (the common subset; .cpg overrides)
_LDID_CODECS = {0x57: "cp1252", 0x03: "cp1252", 0x4D: "cp936", 0x00: "latin-1"}


def read_dbf(data: bytes, encoding: str | None = None):
    """dBASE table → (field names, rows, deleted mask). Values decode as
    str (C), int/float (N/F per decimal count), bool (L), ISO date str
    (D); blanks decode to None."""
    if len(data) < 32:
        raise ValueError("truncated .dbf: no header")
    nrec, hlen, rlen = struct.unpack_from("<IHH", data, 4)
    if hlen > len(data):
        raise ValueError(
            f"truncated .dbf: header claims {hlen} bytes, file has {len(data)}"
        )
    if encoding is None:
        encoding = _LDID_CODECS.get(data[29], "latin-1")
    fields = []  # (name, type, length)
    off = 32
    while off < hlen - 1 and data[off] != 0x0D:
        if off + 32 > len(data):
            raise ValueError("truncated .dbf: field descriptor runs past EOF")
        name = data[off : off + 11].split(b"\x00", 1)[0].decode(
            "ascii", errors="replace"
        )
        ftype = chr(data[off + 11])
        flen = data[off + 16]
        fdec = data[off + 17]
        fields.append((name, ftype, flen, fdec))
        off += 32
    if 1 + sum(f[2] for f in fields) != rlen:
        raise ValueError(
            f"corrupt .dbf: field lengths sum to {sum(f[2] for f in fields)} "
            f"but record length is {rlen - 1}"
        )
    rows, deleted = [], []
    off = hlen
    for _ in range(nrec):
        rec = data[off : off + rlen]
        if len(rec) < rlen:
            break
        deleted.append(rec[0:1] == b"*")
        vals, p = [], 1
        for _name, ftype, flen, fdec in fields:
            raw = rec[p : p + flen]
            p += flen
            text = raw.decode(encoding, errors="replace").strip()
            if ftype in ("N", "F"):
                if not text:
                    vals.append(None)
                elif ftype == "N" and fdec == 0 and "." not in text:
                    vals.append(int(text))
                else:
                    vals.append(float(text))
            elif ftype == "L":
                vals.append(
                    True if text in "TtYy" else False if text in "FfNn" else None
                )
            elif ftype == "D":
                vals.append(
                    f"{text[0:4]}-{text[4:6]}-{text[6:8]}" if len(text) == 8 else None
                )
            else:
                vals.append(text if text else None)
        rows.append(vals)
        off += rlen
    return [f[0] for f in fields], rows, deleted


# --- sidecars ------------------------------------------------------------------


def prj_to_epsg(wkt: str) -> int | None:
    """Recognise the .prj's CRS: WGS-84 geographic → 4326; a trailing
    ``AUTHORITY["EPSG","<code>"]`` is honoured; anything else → None."""
    tail = wkt.rstrip()
    # the LAST AUTHORITY clause names the whole CRS (inner ones name parts)
    idx = tail.rfind('AUTHORITY["EPSG"')
    if idx >= 0 and tail.find("]", idx) >= len(tail) - 3:
        code = tail[idx:].split('"')[3]
        if code.isdigit():
            return int(code)
    head = wkt.upper()
    if head.startswith("GEOGCS") and (
        "GCS_WGS_1984" in wkt or "WGS 84" in wkt or "WGS_1984" in wkt
    ):
        return 4326
    return None


def _sidecar(path: str, ext: str) -> str:
    root, _ = os.path.splitext(path)
    return root + ext


# --- public read API -----------------------------------------------------------


def _shp_parts(
    shp_bytes: bytes,
    dbf_bytes: bytes | None,
    cpg_text: str | None,
    encoding: str | None,
) -> tuple[list, list[str], list[list], list[bool]]:
    """Shared bytes-level core of :func:`read_shapefile` and
    :func:`zone_records`: geometry records merged with .dbf attributes
    (.cpg encoding fallback, record-count cross-check). Returns
    (geoms, field_names, rows, deleted)."""
    geoms = read_shp_geometries(shp_bytes)
    names: list[str] = []
    rows: list[list] = [[] for _ in geoms]
    deleted = [False] * len(geoms)
    if dbf_bytes is not None:
        if encoding is None and cpg_text is not None:
            encoding = cpg_text.strip() or None
        names, rows, deleted = read_dbf(dbf_bytes, encoding)
        if len(rows) != len(geoms):
            raise ValueError(
                f".dbf has {len(rows)} records but .shp has {len(geoms)}"
            )
    return geoms, names, rows, deleted


def read_shapefile(path: str, encoding: str | None = None) -> pd.DataFrame:
    """Driver-side read of a shapefile set → pandas DataFrame with
    ``fid`` (OGR-style 0-based record index), one column per .dbf field,
    and ``geometry`` (WKB bytes, canonical winding). dbf-deleted rows
    are skipped; a missing .dbf yields fid+geometry only."""
    dbf_path = _sidecar(path, ".dbf")
    cpg_path = _sidecar(path, ".cpg")
    geoms, names, rows, deleted = _shp_parts(
        read_bytes(path),
        read_bytes(dbf_path) if exists(dbf_path) else None,
        read_bytes(cpg_path).decode("ascii", errors="replace")
        if encoding is None and exists(cpg_path)
        else None,
        encoding,
    )
    out = []
    for fid, (geom, vals, dead) in enumerate(zip(geoms, rows, deleted)):
        if dead:
            continue
        out.append([fid, *vals, geom])
    return pd.DataFrame(out, columns=["fid", *names, "geometry"])


def zone_records(
    shp_bytes: bytes,
    dbf_bytes: bytes | None,
    cpg_text: str | None,
    vector_id: str,
    name_col: str | None = None,
    encoding: str | None = None,
) -> pd.DataFrame:
    """Pure-bytes shapefile set → ZONES-shaped pandas frame (vector_id,
    fid, name, WKB MultiPolygon). The executor-side core shared by the
    batch ingest and the streaming drop-folder twin: no filesystem
    access, so it runs wherever the bytes already are."""
    geoms, names, rows, deleted = _shp_parts(
        shp_bytes, dbf_bytes, cpg_text, encoding
    )
    if name_col is None:
        # heuristic pick — absent candidates legitimately yield name=NULL
        cands = [c for c in names if c.lower() in ("name", "label", "title")]
        name_col = cands[0] if cands else None
        name_idx = names.index(name_col) if name_col is not None else None
    elif name_col in names:
        name_idx = names.index(name_col)
    else:
        # an EXPLICIT name_col that the .dbf lacks is a caller error —
        # silently emitting name=NULL for every zone would be data loss
        raise ValueError(
            f"zone_records: name_col {name_col!r} not among .dbf columns "
            f"{names or '(no .dbf)'}"
        )
    records = []
    for fid, (geom, vals, dead) in enumerate(zip(geoms, rows, deleted)):
        if dead:
            continue
        if geom is not None and geom[1:5] != struct.pack("<I", 6):
            raise ValueError(
                "zones ingest requires Polygon shapes; found a non-polygon record"
            )
        name = (
            str(vals[name_idx])
            if name_idx is not None and vals[name_idx] is not None
            else None
        )
        records.append((vector_id, fid, name, geom))
    from sids_data_pipeline_spark.schemas import ZONES

    return pd.DataFrame(records, columns=[f.name for f in ZONES.fields])


def resolve_src_epsg(
    path: str, reproject: bool = False, assume_wgs84: bool = False
) -> int:
    """The .prj CRS gate shared by batch and streaming ingest: returns
    the source EPSG the caller must reproject FROM (4326 when none is
    needed), or raises — a missing .prj without ``assume_wgs84``, a
    non-4326 .prj without ``reproject``, and an unregistered projection
    all refuse loudly; the engine never guesses datums."""
    prj_path = _sidecar(path, ".prj")
    if not exists(prj_path) and not assume_wgs84:
        raise ValueError(
            f"{path}: no .prj sidecar — the engine does not guess datums; "
            "pass assume_wgs84=True to declare the coordinates WGS-84, or "
            "supply the .prj"
        )
    if exists(prj_path):
        wkt = read_bytes(prj_path).decode("ascii", errors="replace")
        epsg = prj_to_epsg(wkt)
        if epsg != 4326 and reproject and epsg is not None:
            from sids_data_pipeline_spark.functions.crs import (
                PROJECTION_REGISTRY,
                _is_utm,
            )

            if epsg in PROJECTION_REGISTRY or _is_utm(epsg) or epsg == 3857:
                return epsg
            raise ValueError(
                f".prj declares EPSG:{epsg}, which has no registered "
                "closed form — register a projection (functions/crs."
                "register_projection) or reproject externally"
            )
        if epsg != 4326:
            raise ValueError(
                f".prj declares {'EPSG:' + str(epsg) if epsg else 'an unrecognised CRS'}"
                f" — reproject to EPSG:4326 first (got: {wkt[:120]!r})"
            )
    return 4326


def ingest_shapefile(
    spark: SparkSession,
    path: str,
    vector_id: str,
    name_col: str | None = None,
    encoding: str | None = None,
    reproject: bool = False,
    assume_wgs84: bool = False,
) -> DataFrame:
    """Shapefile → ZONES DataFrame (vector_id, fid, name, WKB
    MultiPolygon), the ogr2ogr import re-expressed (reference
    pipeline/processing/inputs.py:46-62).

    CRS handling (the ``-t_srs EPSG:4326`` leg): with
    ``reproject=True``, a .prj that resolves to a REGISTERED projection
    (UTM zones, Web Mercator, and the LCC/Albers/polar/national-TM
    registry — e.g. OSGB 27700, NZTM 2193) is transformed to 4326 via
    operators/vector_reproject (every vertex through the same
    closed-form column math the raster path uses). Otherwise — or for a
    .prj the registry can't honor — a non-4326 .prj raises; the engine
    never silently mislabels coordinates. The same contract covers a
    MISSING .prj: the engine does not guess datums, so an absent sidecar
    raises unless the caller states the assumption explicitly with
    ``assume_wgs84=True``. Like the GeoPackage path the read is
    driver-side (vectors are dimension-sized) and distributes via the
    Arrow createDataFrame path, ready to broadcast into spatial joins;
    the streaming drop-folder twin shares :func:`zone_records` /
    :func:`resolve_src_epsg` but parses executor-side."""
    src_epsg = resolve_src_epsg(path, reproject=reproject, assume_wgs84=assume_wgs84)
    dbf_path = _sidecar(path, ".dbf")
    dbf_bytes = read_bytes(dbf_path) if exists(dbf_path) else None
    cpg_path = _sidecar(path, ".cpg")
    cpg_text = (
        read_bytes(cpg_path).decode("ascii", errors="replace")
        if exists(cpg_path)
        else None
    )
    out = zone_records(
        read_bytes(path), dbf_bytes, cpg_text, vector_id,
        name_col=name_col, encoding=encoding,
    )
    zones = spark.createDataFrame(out, ZONES).coalesce(1)
    if src_epsg != 4326:
        from sids_data_pipeline_spark.operators.vector_reproject import (
            reproject_zones,
        )

        zones = reproject_zones(zones, src_epsg, 4326)
    return zones


# --- writer (spec-compliant, for round-trips and GIS interop) ------------------


def _shp_winding(polys: list[list[np.ndarray]]) -> list[np.ndarray]:
    """Flatten polygons to shapefile ring order: exterior CW, holes CCW."""
    rings = []
    for poly in polys:
        for i, ring in enumerate(poly):
            area = ring_signed_area(ring)
            want_cw = i == 0
            is_cw = area <= 0.0
            rings.append(ring[::-1] if is_cw != want_cw else np.asarray(ring))
    return rings


def write_shapefile(
    records: list[tuple[int, str | None, bytes]],
    path: str,
    name_field: str = "name",
) -> None:
    """Write (fid, name, polygon WKB) records as a full shapefile set —
    .shp + .shx + .dbf + .prj (WGS-84) + .cpg (UTF-8). Ring winding is
    normalised to the spec (exterior CW, holes CCW) on the way out."""
    shp_records = []
    bbox = [math.inf, math.inf, -math.inf, -math.inf]
    for _fid, _name, wkb in records:
        rings = _shp_winding(parse_wkb(wkb))
        npts = sum(len(r) for r in rings)
        parts, acc = [], 0
        for r in rings:
            parts.append(acc)
            acc += len(r)
        pts = np.vstack(rings)
        bbox[0] = min(bbox[0], float(pts[:, 0].min()))
        bbox[1] = min(bbox[1], float(pts[:, 1].min()))
        bbox[2] = max(bbox[2], float(pts[:, 0].max()))
        bbox[3] = max(bbox[3], float(pts[:, 1].max()))
        content = b"".join(
            [
                struct.pack("<i", SHP_POLYGON),
                struct.pack(
                    "<4d",
                    float(pts[:, 0].min()),
                    float(pts[:, 1].min()),
                    float(pts[:, 0].max()),
                    float(pts[:, 1].max()),
                ),
                struct.pack("<ii", len(rings), npts),
                struct.pack(f"<{len(parts)}i", *parts),
                np.ascontiguousarray(pts, "<f8").tobytes(),
            ]
        )
        shp_records.append(content)
    if not shp_records:
        bbox = [0.0, 0.0, 0.0, 0.0]

    body_words = sum(4 + len(c) // 2 for c in shp_records)

    def _header(words: int) -> bytes:
        return (
            struct.pack(">i5i i", 9994, 0, 0, 0, 0, 0, words)
            + struct.pack("<ii", 1000, SHP_POLYGON)
            + struct.pack("<4d", *bbox)
            + struct.pack("<4d", 0.0, 0.0, 0.0, 0.0)
        )

    shx_entries = []
    with open(path, "wb") as fh:
        fh.write(_header(50 + body_words))
        off_words = 50
        for i, content in enumerate(shp_records):
            clen = len(content) // 2
            shx_entries.append(struct.pack(">ii", off_words, clen))
            fh.write(struct.pack(">ii", i + 1, clen) + content)
            off_words += 4 + clen
    with open(_sidecar(path, ".shx"), "wb") as fh:
        fh.write(_header(50 + 4 * len(shx_entries)) + b"".join(shx_entries))

    # .dbf: one C(80) name field; deterministic header date
    names = [(name or "") for _fid, name, _wkb in records]
    flen = 80
    hlen = 32 + 32 + 1
    rlen = 1 + flen
    with open(_sidecar(path, ".dbf"), "wb") as fh:
        fh.write(
            struct.pack(
                "<B3BIHH20x", 0x03, 95, 7, 26, len(names), hlen, rlen
            )
        )
        fh.write(
            name_field.encode("ascii")[:10].ljust(11, b"\x00")
            + b"C"
            + b"\x00" * 4
            + bytes([flen, 0])
            + b"\x00" * 14
        )
        fh.write(b"\x0d")
        for nm in names:
            fh.write(b" " + nm.encode("utf-8")[:flen].ljust(flen, b" "))
        fh.write(b"\x1a")
    with open(_sidecar(path, ".prj"), "w", encoding="ascii") as fh:
        fh.write(_WGS84_PRJ)
    with open(_sidecar(path, ".cpg"), "w", encoding="ascii") as fh:
        fh.write("UTF-8")
