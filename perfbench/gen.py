"""Seeded input generators for the lifecycle benchmark.

Everything here is plain numpy/pyarrow and imports nothing from the
engine: the program under test only ever sees the files written here.
The same seed always yields byte-identical inputs.

- Raster estate: float32 GeoTIFFs (tiled, deflate) written by a minimal
  independent TIFF encoder, plus vector layers of WKB multipolygons
  (rectangles, concave rings, holed rings, diagonal-edged polygons,
  overlaps and offshore polygons).
- Document corpus: Zipf-vocabulary documents with planted exact
  duplicates, planted near-duplicates (edited copies), planted PII and a
  few too-short documents.
"""

from __future__ import annotations

import os
import struct
import zlib
from dataclasses import dataclass

import numpy as np

# Dyadic pixel pitch and origins keep every pixel-centre coordinate exact
# in binary floating point, so the numpy oracle and the engine agree on
# containment bit for bit.
PIXEL_DEG = 1.0 / 64.0
ESTATE_LON0 = 160.0
ESTATE_LAT0 = -12.0  # north edge of the estate; rows run southward
TILE = 64


# --------------------------------------------------------------- GeoTIFF


def encode_tiff_f32(values: np.ndarray, origin_x: float, origin_y: float,
                    pixel_deg: float, tile: int = TILE) -> bytes:
    """Single-band float32 GeoTIFF, tiled, deflate-compressed, with the
    ModelPixelScale/ModelTiepoint georeference (upper-left origin)."""
    h, w = values.shape
    across, down = -(-w // tile), -(-h // tile)
    padded = np.zeros((down * tile, across * tile), dtype="<f4")
    padded[:h, :w] = values
    chunks = [
        zlib.compress(padded[r * tile:(r + 1) * tile, c * tile:(c + 1) * tile].tobytes(), 6)
        for r in range(down) for c in range(across)
    ]
    n_tiles = len(chunks)
    # IFD entries: (tag, type, count, payload bytes); type 3=SHORT,
    # 4=LONG, 12=DOUBLE
    scale = struct.pack("<3d", pixel_deg, pixel_deg, 0.0)
    tiepoint = struct.pack("<6d", 0.0, 0.0, 0.0, origin_x, origin_y, 0.0)
    geokeys = struct.pack("<16H", 1, 1, 0, 3, 1024, 0, 1, 2, 1025, 0, 1, 1,
                          2048, 0, 1, 4326)
    entries = [
        (256, 4, 1, struct.pack("<I", w)),
        (257, 4, 1, struct.pack("<I", h)),
        (258, 3, 1, struct.pack("<H", 32)),
        (259, 3, 1, struct.pack("<H", 8)),
        (262, 3, 1, struct.pack("<H", 1)),
        (277, 3, 1, struct.pack("<H", 1)),
        (284, 3, 1, struct.pack("<H", 1)),
        (322, 4, 1, struct.pack("<I", tile)),
        (323, 4, 1, struct.pack("<I", tile)),
        (324, 4, n_tiles, None),  # offsets, filled below
        (325, 4, n_tiles, struct.pack(f"<{n_tiles}I", *map(len, chunks))),
        (339, 3, 1, struct.pack("<H", 3)),
        (33550, 12, 3, scale),
        (33922, 12, 6, tiepoint),
        (34735, 3, 16, geokeys),
    ]
    ifd_off = 8
    ifd_size = 2 + 12 * len(entries) + 4
    # out-of-line payloads (> 4 bytes) follow the IFD, then tile data
    extra_off = ifd_off + ifd_size
    offsets_len = 4 * n_tiles
    extra = bytearray()
    locs = {}
    for tag, _typ, _cnt, payload in entries:
        size = offsets_len if payload is None else len(payload)
        if size > 4:
            locs[tag] = extra_off + len(extra)
            extra += b"\0" * size if payload is None else payload
    data_off = extra_off + len(extra)
    tile_offs, pos = [], data_off
    for c in chunks:
        tile_offs.append(pos)
        pos += len(c)
    offsets_payload = struct.pack(f"<{n_tiles}I", *tile_offs)
    if 324 in locs:
        start = locs[324] - extra_off
        extra[start:start + offsets_len] = offsets_payload
    ifd = bytearray(struct.pack("<H", len(entries)))
    for tag, typ, cnt, payload in entries:
        payload = offsets_payload if payload is None else payload
        if tag in locs:
            ifd += struct.pack("<HHII", tag, typ, cnt, locs[tag])
        else:
            ifd += struct.pack("<HHI", tag, typ, cnt) + payload.ljust(4, b"\0")
    ifd += struct.pack("<I", 0)
    return b"II*\0" + struct.pack("<I", ifd_off) + bytes(ifd) + bytes(extra) + b"".join(chunks)


# ----------------------------------------------------------------- WKB


def multipolygon_wkb(polys: list[list[list[tuple[float, float]]]]) -> bytes:
    """Little-endian WKB MultiPolygon; each polygon is [exterior, *holes],
    each ring closed."""
    out = [struct.pack("<BII", 1, 6, len(polys))]
    for rings in polys:
        out.append(struct.pack("<BII", 1, 3, len(rings)))
        for ring in rings:
            out.append(struct.pack("<I", len(ring)))
            out.append(np.asarray(ring, dtype="<f8").tobytes())
    return b"".join(out)


# --------------------------------------------------------------- estate


@dataclass
class Raster:
    raster_id: str
    path: str
    values: np.ndarray  # float32 [h, w], row 0 = north
    origin_x: float
    origin_y: float


@dataclass
class Estate:
    drop_dir: str
    rasters: list[Raster]
    layers: dict[str, list[tuple[int, str, list]]]  # vector_id -> (fid, name, polys)

    @property
    def pixels(self) -> int:
        return sum(r.values.size for r in self.rasters)

    @property
    def polygons(self) -> int:
        return sum(len(v) for v in self.layers.values())

    def drop_bytes(self) -> int:
        return sum(os.path.getsize(r.path) for r in self.rasters)


def _raster_values(rng: np.random.Generator, n: int) -> np.ndarray:
    """A smooth field plus noise, like an elevation or night-lights band."""
    y, x = np.mgrid[0:n, 0:n] / n
    k = rng.uniform(2.0, 6.0, size=4)
    field_ = (np.sin(k[0] * x + k[1]) * np.cos(k[2] * y + k[3]) + 1.0) * 50.0
    return (field_ + rng.gamma(2.0, 3.0, size=(n, n))).astype("<f4")


def _ring(points) -> list[tuple[float, float]]:
    pts = [(float(a), float(b)) for a, b in points]
    return pts + [pts[0]]


def _q(v: float) -> float:
    """Snap to a quarter-pixel offset so axis-aligned edges never pass
    through a pixel centre (centres sit at half-pixel offsets)."""
    return (np.floor(v / PIXEL_DEG) + 0.25) * PIXEL_DEG


def _diag_safe(poly_rings, eps: float = 1e-7) -> bool:
    """True when no pixel centre lies within ``eps`` degrees of a sloped
    edge (an on-boundary centre would make containment ambiguous)."""
    for ring in poly_rings:
        for (x0, y0), (x1, y1) in zip(ring[:-1], ring[1:]):
            if x0 == x1 or y0 == y1:
                continue
            lo_x, hi_x = sorted((x0, x1))
            cx = (np.arange(np.floor(lo_x / PIXEL_DEG), np.ceil(hi_x / PIXEL_DEG)) + 0.5) * PIXEL_DEG
            # y of the edge at each centre column, distance to nearest centre row
            ye = y0 + (cx - x0) * (y1 - y0) / (x1 - x0)
            frac = ye / PIXEL_DEG - 0.5
            if np.any(np.abs(frac - np.round(frac)) * PIXEL_DEG < eps):
                return False
    return True


def _zone(rng: np.random.Generator, kind: str, x0: float, y0: float, size: float):
    """One polygon (list of rings) of ``kind`` anchored at (x0, y0)."""
    sx, sy = size * rng.uniform(0.5, 1.0), size * rng.uniform(0.5, 1.0)
    a, b, c, d = _q(x0), _q(y0), _q(x0 + sx), _q(y0 + sy)
    if c <= a + 2 * PIXEL_DEG:
        c = a + 3 * PIXEL_DEG
    if d <= b + 2 * PIXEL_DEG:
        d = b + 3 * PIXEL_DEG
    if kind == "rect":
        return [[_ring([(a, b), (c, b), (c, d), (a, d)])]]
    if kind == "concave":  # an L shape
        mx, my = _q((a + c) / 2), _q((b + d) / 2)
        return [[_ring([(a, b), (c, b), (c, my), (mx, my), (mx, d), (a, d)])]]
    if kind == "holed":
        w, h = c - a, d - b
        ha, hb = _q(a + w / 3), _q(b + h / 3)
        hc, hd = _q(a + 2 * w / 3), _q(b + 2 * h / 3)
        outer = _ring([(a, b), (c, b), (c, d), (a, d)])
        if hc - ha < 2 * PIXEL_DEG or hd - hb < 2 * PIXEL_DEG:
            return [[outer]]
        return [[outer, _ring([(ha, hb), (ha, hd), (hc, hd), (hc, hb)])]]
    # "diag": a triangle plus a detached second part (true multipolygon)
    for _ in range(20):
        tri = _ring([(a, b), (c, b + (d - b) * rng.uniform(0.1, 0.4)),
                     (a + (c - a) * rng.uniform(0.2, 0.8), d)])
        if _diag_safe([tri]):
            break
    else:
        tri = _ring([(a, b), (c, b), (c, d), (a, d)])
    off = _q(c + size * 0.1)
    part2 = _ring([(off, b), (_q(off + sx / 3), b), (_q(off + sx / 3), _q(b + sy / 3)), (off, _q(b + sy / 3))])
    return [[tri], [part2]]


def make_estate(root: str, seed: int, n_rasters: int, raster_px: int,
                n_layers: int, zones_per_layer: int) -> Estate:
    """Write ``n_rasters`` adjacent GeoTIFFs into ``root/drop`` and build
    ``n_layers`` vector layers over the estate."""
    rng = np.random.default_rng(seed)
    drop_dir = os.path.join(root, "drop")
    os.makedirs(drop_dir, exist_ok=True)
    span = raster_px * PIXEL_DEG
    cols = int(np.ceil(np.sqrt(n_rasters)))
    rasters: list[Raster] = []
    for i in range(n_rasters):
        ox = ESTATE_LON0 + (i % cols) * span
        oy = ESTATE_LAT0 - (i // cols) * span
        rid = f"r{seed % 1000:03d}x{i:02d}"
        vals = _raster_values(rng, raster_px)
        path = os.path.join(drop_dir, f"{rid}.tif")
        with open(path, "wb") as f:
            f.write(encode_tiff_f32(vals, ox, oy, PIXEL_DEG))
        rasters.append(Raster(rid, path, vals, ox, oy))
    rows = -(-n_rasters // cols)
    west, east = ESTATE_LON0, ESTATE_LON0 + cols * span
    north, south = ESTATE_LAT0, ESTATE_LAT0 - rows * span
    kinds = ("rect", "rect", "concave", "holed", "diag")
    layers = {}
    for li in range(n_layers):
        zones = []
        for fid in range(1, zones_per_layer + 1):
            kind = kinds[rng.integers(len(kinds))]
            size = span * rng.uniform(0.05, 0.25)
            if rng.random() < 0.05:  # offshore: outside every raster
                x0 = east + span * rng.uniform(0.5, 2.0)
                y0 = north + span * rng.uniform(0.5, 2.0)
                kind = "rect"
            else:
                x0 = rng.uniform(west, east - size * 0.5)
                y0 = rng.uniform(south, north - size * 0.5)
            zones.append((fid, f"{kind}_{fid}", _zone(rng, kind, x0, y0, size)))
        layers[f"v{li}"] = zones
    return Estate(drop_dir, rasters, layers)


def zone_rows(estate: Estate) -> list[tuple[str, int, str, bytes]]:
    """ZONES rows (vector_id, fid, name, wkb) for every layer."""
    return [
        (vid, fid, name, multipolygon_wkb(polys))
        for vid, zones in estate.layers.items()
        for fid, name, polys in zones
    ]


# --------------------------------------------------------------- corpus

_FIRST = ("ana", "ben", "carla", "dev", "eli", "fatima", "gus", "hana", "ivo", "june")
_HOSTS = ("example.org", "mail.test", "corp.example.com", "isl.gov.test")


@dataclass
class Corpus:
    ids: np.ndarray
    texts: list[str]
    langs: list[str]
    sources: list[str]
    planted_exact: int
    planted_near: int
    planted_pii: int

    @property
    def docs(self) -> int:
        return len(self.texts)

    def text_bytes(self) -> int:
        return sum(len(t.encode()) for t in self.texts)

    def table(self, lo: int = 0, hi: int | None = None):
        """The DOCUMENTS-shaped pyarrow table for docs[lo:hi]."""
        import pyarrow as pa

        sl = slice(lo, hi)
        texts = self.texts[sl]
        return pa.table({
            "doc_id": pa.array(self.ids[sl], pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(self.langs[sl], pa.string()),
            "source": pa.array(self.sources[sl], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        })


def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        k = int(rng.integers(2, 10))
        words.add("".join(rng.choice(letters, size=k)))
    return sorted(words)


def _pii(rng: np.random.Generator) -> str:
    kind = rng.integers(3)
    if kind == 0:
        return f"{_FIRST[rng.integers(len(_FIRST))]}.{rng.integers(100)}@{_HOSTS[rng.integers(len(_HOSTS))]}"
    if kind == 1:
        return ".".join(str(int(v)) for v in rng.integers(1, 255, size=4))
    return f"+1 {rng.integers(200, 999)}-{rng.integers(100, 999)}-{rng.integers(1000, 9999)}"


def make_corpus(seed: int, n_docs: int, vocab_size: int = 4000,
                zipf_s: float = 1.1, dup_frac: float = 0.05,
                near_frac: float = 0.08, pii_frac: float = 0.15,
                short_frac: float = 0.02) -> Corpus:
    """``n_docs`` documents; later docs copy (exact) or edit (near) an
    earlier one, so planted duplicates always point backwards."""
    rng = np.random.default_rng(seed)
    vocab = np.array(_vocab(rng, vocab_size))
    ranks = np.arange(1, vocab_size + 1, dtype="f8")
    p = ranks ** -zipf_s
    p /= p.sum()
    texts: list[str] = []
    n_exact = n_near = n_pii = 0
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < dup_frac:
            texts.append(texts[int(rng.integers(i))])
            n_exact += 1
            continue
        if i > 10 and r < dup_frac + near_frac:
            words = texts[int(rng.integers(i))].split(" ")
            for j in rng.choice(len(words), size=max(1, len(words) // 25), replace=False):
                words[j] = vocab[rng.integers(200, vocab_size)]
            texts.append(" ".join(words))
            n_near += 1
            continue
        if r > 1.0 - short_frac:
            texts.append(" ".join(rng.choice(vocab[:50], size=2)))
            continue
        words = list(rng.choice(vocab, size=int(rng.integers(40, 160)), p=p))
        if rng.random() < pii_frac:
            words.insert(int(rng.integers(len(words))), _pii(rng))
            n_pii += 1
        texts.append(" ".join(words))
    ids = np.arange(n_docs, dtype="i8") * 7 + 1  # sparse, ascending ids
    langs = [("en", "fr", "es")[k] for k in rng.integers(3, size=n_docs)]
    sources = [("web", "books", "news")[k] for k in rng.integers(3, size=n_docs)]
    return Corpus(ids, texts, langs, sources, n_exact, n_near, n_pii)


def write_corpus(corpus: Corpus, path: str) -> None:
    import pyarrow.parquet as pq

    pq.write_table(corpus.table(), path)


def write_corpus_files(corpus: Corpus, out_dir: str, docs_per_file: int) -> list[str]:
    """Split the corpus into consecutive parquet files (in id order)."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for k, lo in enumerate(range(0, corpus.docs, docs_per_file)):
        path = os.path.join(out_dir, f"part-{k:04d}.parquet")
        pq.write_table(corpus.table(lo, lo + docs_per_file), path)
        paths.append(path)
    return paths
