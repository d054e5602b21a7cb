"""Independent correctness checks for the benchmark's operations.

The estate oracle is plain numpy over the generated arrays; the corpus
oracle is the catalog's DuckDB SQL chain. Checks return a list of
human-readable problems; an empty list means the output is correct.
"""

from __future__ import annotations

import glob
import json
import math
import os

import numpy as np

from gen import PIXEL_DEG, Estate, Raster

REL_TOL = 1e-9


# --------------------------------------------------------------- estate


def _even_odd(ring: np.ndarray, px: np.ndarray, py: np.ndarray) -> np.ndarray:
    inside = np.zeros(px.shape, dtype=bool)
    x0, y0 = ring[:-1, 0], ring[:-1, 1]
    x1, y1 = ring[1:, 0], ring[1:, 1]
    for a, b, c, d in zip(x0, y0, x1, y1):
        crosses = (b > py) != (d > py)
        if not crosses.any():
            continue
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = a + (py - b) * (c - a) / (d - b)
        inside ^= crosses & (px < xint)
    return inside


def inside_mask(raster: Raster, polys) -> np.ndarray:
    """The raster's pixels whose centre lies inside the multipolygon
    (even-odd rule per part, union over parts)."""
    h, w = raster.values.shape
    mask = np.zeros((h, w), dtype=bool)
    for rings in polys:
        arr = [np.asarray(r, dtype="f8") for r in rings]
        xmin = min(r[:, 0].min() for r in arr)
        xmax = max(r[:, 0].max() for r in arr)
        ymin = min(r[:, 1].min() for r in arr)
        ymax = max(r[:, 1].max() for r in arr)
        c0 = max(int(math.floor((xmin - raster.origin_x) / PIXEL_DEG)) - 1, 0)
        c1 = min(int(math.ceil((xmax - raster.origin_x) / PIXEL_DEG)) + 1, w)
        r0 = max(int(math.floor((raster.origin_y - ymax) / PIXEL_DEG)) - 1, 0)
        r1 = min(int(math.ceil((raster.origin_y - ymin) / PIXEL_DEG)) + 1, h)
        if c0 >= c1 or r0 >= r1:
            continue
        yy, xx = np.mgrid[r0:r1, c0:c1]
        px = raster.origin_x + (xx + 0.5) * PIXEL_DEG
        py = raster.origin_y - (yy + 0.5) * PIXEL_DEG
        part = np.zeros(px.shape, dtype=bool)
        for ring in arr:
            part ^= _even_odd(ring, px, py)
        mask[r0:r1, c0:c1] |= part
    return mask


def bbox_candidates(raster: Raster, polys) -> int:
    """Pixels whose centre lies in the multipolygon's bounding box."""
    h, w = raster.values.shape
    pts = np.concatenate([np.asarray(ring, "f8") for rings in polys for ring in rings])
    lon = raster.origin_x + (np.arange(w) + 0.5) * PIXEL_DEG
    lat = raster.origin_y - (np.arange(h) + 0.5) * PIXEL_DEG
    xs = (lon >= pts[:, 0].min()) & (lon <= pts[:, 0].max())
    ys = (lat >= pts[:, 1].min()) & (lat <= pts[:, 1].max())
    return int(xs.sum()) * int(ys.sum())


def zonal_mean(raster: Raster, polys) -> float | None:
    """Mean of the pixels inside the multipolygon; None if there are none."""
    mask = inside_mask(raster, polys)
    count = int(mask.sum())
    if count == 0:
        return None
    return float(raster.values[mask].astype("f8").sum()) / count


def expected_means(estate: Estate, rasters: list[Raster]) -> dict:
    """{(vector_id, raster_id): {fid: mean-or-None}}."""
    return {
        (vid, r.raster_id): {fid: zonal_mean(r, polys) for fid, _n, polys in zones}
        for vid, zones in estate.layers.items()
        for r in rasters
    }


def read_pair_means(out_dir: str, pair_key: str) -> dict | None:
    """The {fid: mean} a pair's export.geojsonl holds, or None if absent."""
    files = glob.glob(os.path.join(out_dir, pair_key, "export.geojsonl", "*.txt"))
    if not files:
        return None
    means = {}
    for path in files:
        with open(path) as f:
            for line in f:
                if line.strip():
                    props = json.loads(line)["properties"]
                    means[int(props["fid"])] = props["mean"]
    return means


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-9)


def check_pairs(out_dir: str, expected: dict) -> list[str]:
    """Every expected pair has a GeoJSONL export with the oracle's means
    and a completed tileset marker."""
    problems = []
    for (vid, rid), want in sorted(expected.items()):
        key = f"{vid}_{rid}"
        got = read_pair_means(out_dir, key)
        if got is None:
            problems.append(f"{key}: no export.geojsonl")
            continue
        if set(got) != set(want):
            problems.append(f"{key}: fids differ ({len(got)} vs {len(want)})")
            continue
        bad = [fid for fid in want if not _close(got[fid], want[fid])]
        if bad:
            fid = bad[0]
            problems.append(
                f"{key}: {len(bad)} zonal means differ (fid {fid}: "
                f"{got[fid]!r} vs oracle {want[fid]!r})"
            )
        if not os.path.exists(os.path.join(out_dir, key, "tiles", "_tileset_metadata.json")):
            problems.append(f"{key}: no tileset marker")
    return problems


# --------------------------------------------------------------- corpus


def curation_oracle(docs_path: str) -> set[int]:
    """Curated doc ids per the catalog's DuckDB chain: the PII scrub's
    oracle, then the corpus_curation oracle over the scrubbed corpus."""
    import duckdb

    from sids_data_pipeline_spark.plans.catalog import all_queries

    queries = all_queries()
    con = duckdb.connect()
    try:
        con.execute(f"CREATE TABLE raw AS SELECT * FROM read_parquet('{docs_path}')")
        con.execute("CREATE VIEW documents AS SELECT * FROM raw")
        con.execute(f"CREATE TABLE scrubbed AS {queries['text_scrub_pii'].oracle}")
        con.execute("DROP VIEW documents")
        con.execute(
            "CREATE VIEW documents AS SELECT r.doc_id, s.text, r.lang, r.source, r.n_chars "
            "FROM raw r JOIN scrubbed s USING (doc_id)"
        )
        rows = con.execute(queries["corpus_curation"].oracle).fetchall()
    finally:
        con.close()
    return {int(r[0]) for r in rows}


def check_curation(out_dir: str, docs_path: str, shard_tokens: int,
                   expected: set[int]) -> list[str]:
    """Curated ids equal the oracle's, no doc sits in two splits, and no
    shard goes over ``shard_tokens`` words before its last document."""
    import pyarrow.dataset as ds

    data = os.path.join(out_dir, "data")
    if not os.path.isdir(data):
        return [f"{out_dir}: no data directory"]
    t = ds.dataset(data, format="parquet", partitioning="hive").to_table(
        columns=["doc_id", "text", "split", "shard_id"]
    )
    ids = t.column("doc_id").to_pylist()
    problems = []
    if len(ids) != len(set(ids)):
        problems.append(f"{len(ids) - len(set(ids))} docs appear in more than one split/shard")
    if set(ids) != expected:
        problems.append(
            f"curated ids differ from the oracle: {len(set(ids) - expected)} extra, "
            f"{len(expected - set(ids))} missing"
        )
    # pack_shards' contract: a shard may exceed the budget by at most one
    # document, i.e. the words before its last document stay under it
    shards: dict = {}
    for doc_id, text, split, shard in zip(ids, t.column("text").to_pylist(),
                                          t.column("split").to_pylist(),
                                          t.column("shard_id").to_pylist()):
        shards.setdefault((split, shard), []).append((doc_id, len(text.split())))
    over = {
        k: sum(n for _, n in docs) for k, docs in shards.items()
        if sum(n for _, n in docs) - max(docs)[1] >= shard_tokens
    }
    if over:
        k = sorted(over)[0]
        problems.append(
            f"{len(over)} shards exceed {shard_tokens} tokens by more than their "
            f"last document (e.g. {k}: {over[k]})"
        )
    return problems


def minhash_pairs_oracle(docs_table) -> set[tuple[int, int]]:
    """near_duplicates_minhash's pairs over a DOCUMENTS-shaped arrow table,
    per the catalog's DuckDB twin (``dedup_minhash_lsh``)."""
    import duckdb

    from sids_data_pipeline_spark.plans.catalog import all_queries

    con = duckdb.connect()
    try:
        con.register("documents", docs_table)
        rows = con.execute(all_queries()["dedup_minhash_lsh"].oracle).fetchall()
    finally:
        con.close()
    return {(int(r[0]), int(r[1])) for r in rows}


def check_stream_pairs(emitted: list[tuple[int, int]],
                       expected: set[tuple[int, int]]) -> list[str]:
    """A micro-batch emitted exactly the expected pairs, each once."""
    problems = []
    if len(emitted) != len(set(emitted)):
        problems.append(f"{len(emitted) - len(set(emitted))} pairs emitted more than once")
    got = set(emitted)
    if got != expected:
        problems.append(
            f"emitted pairs differ from near_duplicates_minhash: "
            f"{len(got - expected)} extra, {len(expected - got)} missing"
        )
    return problems
