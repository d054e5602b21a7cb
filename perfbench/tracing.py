"""Traced runs: spans around each layer call plus Spark counters.

A traced op drives the lifecycle stage by stage through the same public
functions (and module helpers) the job calls, with the job's default
arguments, and materializes each stage's output inside its span (a local
checkpoint where the job persists or hands a frame to the next stage).
Each span sets its own Spark job group, so:

- job, stage and task counts per span come from ``statusTracker()``;
- byte and CPU counters come from the Spark event log the traced run's
  session writes (shuffle, spill, executor CPU, GC, fetch wait, and
  Python-worker bytes from the SQL metrics), read after the session stops.

Streaming micro-batches run on the query's own thread, whose job group
is the query's run id; those jobs are attributed through it.

Counters that need extra Spark work (candidate pairs, bucket sizes, kept
tiles) run outside every span, in their own job group, after the op.
The library itself is not patched.
"""

from __future__ import annotations

import contextlib
import glob
import inspect
import json
import os
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass

from workloads import disk_usage

MIB = 1024.0 * 1024.0
OUTSIDE = "perfbench-outside-spans"

# span name -> metric stem for its wall time
BUSY = {
    "sources.list": "sources.list",
    "sources.decode": "sources.decode",
    "sources.encode": "sources.encode",
    "operators.zonal": "operators.zonal.busy",
    "operators.manifest": "operators.manifest.busy",
    "sinks.geojsonl": "sinks.geojsonl.busy",
    "sinks.tiles": "sinks.tiles.busy",
    "operators.text.scrub": "operators.text.scrub",
    "operators.text.tokens": "operators.text.tokens",
    "operators.dedup.exact": "operators.dedup.exact",
    "operators.dedup.lsh": "operators.dedup.lsh",
    "operators.sampling": "operators.sampling.busy",
    "sinks.shards": "sinks.shards.write",
}
JOBS = ("jobs.standardize", "jobs.pipeline", "jobs.curation")


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    op: int
    start: float
    end: float = 0.0

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.sid}"

    @property
    def wall(self) -> float:
        return self.end - self.start


def _materialize(df):
    """A stage's output, computed now and cut from its lineage, so later
    stages neither recompute it nor re-plan the whole chain per action."""
    return df.localCheckpoint(eager=True)


def _default(fn, name):
    return inspect.signature(fn).parameters[name].default


class Tracer:
    def __init__(self, spark, eventlog_dir: str, cores: int):
        self.spark = spark
        self.sc = spark.sparkContext
        self.eventlog_dir = eventlog_dir
        self.cores = cores
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.counts: dict[int, dict] = defaultdict(dict)
        self.groups: dict[str, int] = {}  # job group -> span id
        self.t0 = time.perf_counter()
        self.sc.setJobGroup(OUTSIDE, OUTSIDE)

    # ------------------------------------------------------------ spans

    @contextlib.contextmanager
    def span(self, name: str, op: int):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.sid if parent else None, op, time.perf_counter())
        self.spans.append(s)
        self.groups[s.group] = s.sid
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            top = self._stack[-1] if self._stack else None
            self.sc.setJobGroup(top.group if top else OUTSIDE, top.name if top else OUTSIDE)

    def count(self, op: int, name: str, value) -> None:
        self.counts[op][name] = value

    def spans_json(self) -> list[dict]:
        return [
            {"id": s.sid, "name": s.name, "parent": s.parent, "op": s.op,
             "start_s": round(s.start - self.t0, 6), "end_s": round(s.end - self.t0, 6)}
            for s in self.spans
        ]

    # ----------------------------------------------------------- estate

    def estate_op(self, wl, i: int, state: str):
        """Standardize + pipeline, stage by stage, into ``state``."""
        from pyspark.errors import AnalysisException
        from pyspark.sql import functions as F

        from sids_data_pipeline_spark import lifecycle
        from sids_data_pipeline_spark.jobs import pipeline as pl
        from sids_data_pipeline_spark.jobs.standardize import run_standardize_job
        from sids_data_pipeline_spark.operators import manifest
        from sids_data_pipeline_spark.operators.zonal import _zone_bboxes, zonal_stats
        from sids_data_pipeline_spark.sinks import tiles
        from sids_data_pipeline_spark.sinks.geojsonl import to_geojsonl
        from sids_data_pipeline_spark.sources.geotiff_datasource import register
        from sids_data_pipeline_spark.sources.raster import (
            clip_extent,
            select_band,
            standardize_pixels,
        )
        from sids_data_pipeline_spark.sources.storage import hadoop_glob

        spark = self.spark
        store = os.path.join(state, "store")
        std_ledger = os.path.join(state, "std_ledger")
        out_dir = os.path.join(state, "out")
        in_glob = os.path.join(wl.estate.drop_dir, "*.tif")
        band = _default(run_standardize_job, "band")
        t0 = time.perf_counter()
        with self.span("op", i):
            with self.span("jobs.standardize", i):
                register(spark)
                with self.span("sources.list", i):
                    try:
                        done = spark.read.parquet(std_ledger).select("raster_id")
                    except AnalysisException:
                        done = spark.createDataFrame([], "raster_id string")
                    done_ids = {r.raster_id for r in done.distinct().collect()}
                    files = hadoop_glob(spark, in_glob)
                    stems = {os.path.splitext(os.path.basename(f))[0]: f for f in files}
                    pending_files = [f for s, f in stems.items() if s not in done_ids]
                with self.span("sources.decode", i):
                    pending = (
                        spark.read.format("geotiff").option("band", str(band))
                        .option("files", ",".join(pending_files)).load(in_glob)
                    )
                    std = clip_extent(
                        select_band(pending, band),
                        lon=_default(run_standardize_job, "lon"),
                        lat=_default(run_standardize_job, "lat"),
                    )
                    std = _materialize(std)
                    processed = [r.raster_id for r in std.select("raster_id").distinct().collect()]
                with self.span("sources.encode", i):
                    std.repartition("raster_id").write.format("geotiff").option(
                        "compress", "zstd").option("tile", "128").mode("overwrite").save(store)
                    spark.createDataFrame([(r,) for r in processed], "raster_id string") \
                        .write.mode("append").parquet(std_ledger)
            with self.span("jobs.pipeline", i):
                vector_ids = sorted(wl.estate.layers)
                raster_ids = [r.raster_id for r in wl.estate.rasters]
                ledger_path = os.path.join(out_dir, "_ledger")
                with self.span("operators.manifest", i):
                    all_pairs = [(v, r, f"{v}_{r}") for v in vector_ids for r in raster_ids]
                    done_set = {
                        (r.v_id, r.r_id)
                        for r in manifest.read_ledger(spark, ledger_path).collect()
                    }
                    all_pending = [p for p in all_pairs if (p[0], p[1]) not in done_set]
                    complete = tiles.tileset_markers(out_dir) if all_pending else set()
                    rows = [p for p in all_pending if p[2] not in complete]
                    pending_df = spark.createDataFrame(rows, "v_id string, r_id string, pair_key string")
                pend_v = sorted({p[0] for p in rows})
                pend_r = sorted({p[1] for p in rows})
                outputs = [p[2] for p in rows]
                with self.span("operators.zonal", i):
                    pixels_df = spark.read.format("geotiff").load(os.path.join(store, "*.tif"))
                    zones = wl.zones_df.filter(F.col("vector_id").isin(pend_v))
                    pixels = standardize_pixels(pixels_df.filter(F.col("raster_id").isin(pend_r)))
                    stats = _default(pl.run_pipeline, "stats")
                    all_stats = zonal_stats(zones, pixels, stats=stats, how=_default(pl.run_pipeline, "how"))
                    gated = all_stats.withColumnsRenamed(
                        {"vector_id": "v_id", "raster_id": "r_id"}
                    ).join(pending_df.select("v_id", "r_id"), ["v_id", "r_id"], "left_semi")
                    swg = _zone_bboxes(gated.join(
                        zones.withColumnsRenamed({"vector_id": "v_id"}).select("v_id", "fid", "geometry"),
                        ["v_id", "fid"],
                    )).withColumn("pair_key", F.concat_ws("_", "v_id", "r_id"))
                    swg = _materialize(swg)
                with self.span("sinks.geojsonl", i):
                    stage = os.path.join(out_dir, "_geojsonl_stage")
                    to_geojsonl(swg, property_cols=("fid", *stats), keep_cols=("pair_key",)) \
                        .write.mode("overwrite").partitionBy("pair_key").text(stage)
                    renames = len([d for d in os.listdir(stage) if d.startswith("pair_key=")])
                    pl._fanout_partition_dirs(
                        spark, stage, outputs, lambda k: os.path.join(out_dir, k, "export.geojsonl"))
                max_zoom = _default(pl.run_pipeline, "max_zoom")
                with self.span("sinks.tiles", i):
                    feats = swg.select("pair_key", "fid", "geometry", *stats, "xmin", "ymin", "xmax", "ymax")
                    assigned = tiles.assign_tiles(feats, max_zoom=max_zoom)
                    tiled = tiles.drop_densest(
                        assigned, _default(pl.run_pipeline, "max_features_per_tile"),
                        extra_keys=("pair_key",))
                    encoded = tiles.encode_tiles(
                        tiled, ["fid", *stats, "geometry"], geometry_col="geometry",
                        max_zoom=max_zoom, extra_keys=("pair_key",))
                    bounds = {
                        r.pair_key: (r.w, r.s, r.e, r.n)
                        for r in swg.groupBy("pair_key").agg(
                            F.min("xmin").alias("w"), F.min("ymin").alias("s"),
                            F.max("xmax").alias("e"), F.max("ymax").alias("n")).collect()
                    }
                    stage = os.path.join(out_dir, "_tiles_stage")
                    encoded.write.mode("overwrite").partitionBy("pair_key", "z", "x").parquet(stage)
                    renames += len([d for d in os.listdir(stage) if d.startswith("pair_key=")])
                    pl._fanout_partition_dirs(
                        spark, stage, outputs, lambda k: os.path.join(out_dir, k, "tiles"))
                    fields = {"fid": "Number", **{s: "Number" for s in stats}}
                    for key in outputs:
                        meta = tiles.tileset_metadata(key, max_zoom=max_zoom, bounds=bounds.get(key), fields=fields)
                        tiles._write_marker(
                            spark, os.path.join(out_dir, key, "tiles", "_tileset_metadata.json"),
                            json.dumps(meta, separators=(",", ":")))
                with self.span("operators.manifest", i):
                    manifest.record_done(spark, ledger_path, pending_df)
        wall = time.perf_counter() - t0

        # counters, outside every span, before the job's caches are released
        pair_dirs = [os.path.join(out_dir, k) for k in outputs]
        gj = disk_usage(*[os.path.join(d, "export.geojsonl") for d in pair_dirs])
        tl = disk_usage(*[os.path.join(d, "tiles") for d in pair_dirs])
        n_assigned = assigned.count()
        n_kept = tiled.count()
        n_tiles = encoded.count()
        cand, inside = _zonal_candidates(
            wl.estate, [r for r in wl.estate.rasters if r.raster_id in pend_r], pend_v)
        self.count(i, "sources", {
            "paths_listed": len(files), "pending": len(pending_files),
            "rasters_decoded": len(processed),
            "in_bytes": sum(os.path.getsize(f) for f in pending_files),
            "store_bytes": sum(os.path.getsize(os.path.join(store, f"{r}.tif")) for r in processed),
        })
        self.count(i, "pipeline", {
            "pairs": len(all_pairs), "pending_pairs": len(rows), "renames": renames,
            "candidates": cand, "inside": inside, "assigned": n_assigned, "kept": n_kept,
            "tiles": n_tiles, "tiles_bytes": tl[0], "tiles_files": tl[1], "geojsonl_bytes": gj[0],
        })
        lifecycle.release_tracked()
        return {"outputs": outputs, "processed": sorted(processed), "pending": len(rows)}, wall

    # ----------------------------------------------------------- corpus

    def curation_op(self, wl, i: int):
        """run_curation_job, stage by stage, into a fresh directory."""
        from functools import reduce

        from pyspark.sql import functions as F

        from sids_data_pipeline_spark.jobs import curation as cu
        from sids_data_pipeline_spark.operators import dedup
        from sids_data_pipeline_spark.operators.sampling import hash_split, pack_shards
        from sids_data_pipeline_spark.operators.text import scrub_pii, token_stats
        from sids_data_pipeline_spark.sources.storage import fs_read_text, fs_write_text

        spark = self.spark
        docs = wl.docs
        out_dir = wl.out_dir(i)
        shard_tokens = wl.sizes["shard_tokens"]
        min_chars = _default(cu.run_curation_job, "min_chars")
        jaccard = _default(cu.run_curation_job, "jaccard_threshold")
        splits = {"train": 0.9, "val": 0.05, "test": 0.05}  # run_curation_job's default
        config_key = json.dumps({
            "min_chars": min_chars, "jaccard": jaccard, "splits": list(splits.items()),
            "shard_tokens": shard_tokens, "decontaminate": False,
        }, sort_keys=True)
        t0 = time.perf_counter()
        with self.span("op", i):
            with self.span("jobs.curation", i):
                n_input = docs.count()
                input_sig = f"{docs.semanticHash()}:{n_input}"
                ledger = os.path.join(out_dir, "_curation_ledger.json")
                fs_read_text(spark, ledger)
                with self.span("operators.text.scrub", i):
                    scrubbed = _materialize(scrub_pii(docs).join(docs.drop("text"), "doc_id"))
                with self.span("operators.dedup.exact", i):
                    quality = scrubbed.filter(F.length("text") >= min_chars)
                    survivors = _materialize(dedup.exact_dedup(quality, ["text"], "doc_id"))
                    n_survivors = survivors.count()
                with self.span("operators.dedup.lsh", i):
                    pairs = _materialize(dedup.near_duplicates_minhash(survivors, threshold=jaccard))
                    n_pairs = pairs.count()
                    drop = pairs.select(F.col("id2").alias("doc_id")).distinct()
                    kept = _materialize(survivors.join(drop, "doc_id", "left_anti"))
                with self.span("operators.sampling", i):
                    labeled = _materialize(hash_split(kept, splits))
                with self.span("operators.text.tokens", i):
                    with_tokens = _materialize(
                        labeled.join(token_stats(labeled).select("doc_id", "n_words"), "doc_id"))
                with self.span("operators.sampling", i):
                    per_split = [
                        pack_shards(with_tokens.filter(F.col("split") == label),
                                    max_tokens=shard_tokens, size_col="n_words", order_col="doc_id")
                        for label in splits
                    ]
                    sharded = _materialize(reduce(lambda a, b: a.unionByName(b), per_split))
                with self.span("sinks.shards", i):
                    data_dir = os.path.join(out_dir, "data")
                    sharded.write.mode("overwrite").partitionBy("split", "shard_id").parquet(data_dir)
                    written = spark.read.parquet(data_dir)
                    shard_stats = {
                        r.split: {"docs": r.docs, "shards": r.shards}
                        for r in written.groupBy("split").agg(
                            F.count("*").alias("docs"), F.countDistinct("shard_id").alias("shards")).collect()
                    }
                n_curated = sum(v["docs"] for v in shard_stats.values())
                manifest_out = {"n_input": n_input, "n_curated": n_curated, "splits": shard_stats, "out": data_dir}
                fs_write_text(spark, ledger, json.dumps(
                    {"config": config_key, "input_sig": input_sig, "manifest": manifest_out}))
        wall = time.perf_counter() - t0

        # counters, outside every span: LSH candidates and bucket sizes
        tok = dedup.shingles(survivors, 3, "text", "doc_id").withColumnRenamed("shingle", "token")
        sig = dedup.minhash_signature(tok).persist()
        n_cand = dedup.lsh_candidate_pairs(sig).count()
        banded = dedup.banded_signature(sig)
        max_bucket = banded.groupBy("band_idx", "band_val").count().agg(F.max("count")).first()[0]
        sig.unpersist()
        size, files = disk_usage(os.path.join(out_dir, "data"))
        self.count(i, "curation", {
            "docs": n_input, "survivors": n_survivors, "verified_pairs": n_pairs,
            "candidates": n_cand, "max_bucket": int(max_bucket or 0),
            "shard_files": files, "shard_bytes": size,
        })
        return manifest_out, wall

    def stream_op(self, wl, i: int, stream) -> None:
        """One real streaming_near_dedup micro-batch inside a span; its
        jobs carry the query's run id as their group."""
        import pyarrow.dataset as ds

        from sids_data_pipeline_spark.streaming.jobs import streaming_near_dedup

        with self.span("op", i):
            with self.span("streaming", i) as s:
                streaming_near_dedup(stream, wl.out, wl.ckpt)
        p = wl._wait_progress(i)
        self.groups[str(p.runId)] = s.sid
        bands = os.path.join(wl.out, "_bands")
        self.count(i, "stream", {
            "ledger_rows": ds.dataset(bands, format="parquet", partitioning="hive").count_rows(),
            "durations_ms": dict(p.durationMs),
        })

    # ----------------------------------------------------------- report

    def snapshot_jobs(self) -> None:
        """Job, stage and task counts per span from statusTracker();
        call while the SparkContext is alive."""
        tracker = self.sc.statusTracker()
        self.tracked = defaultdict(lambda: defaultdict(int))
        for group, sid in self.groups.items():
            jobs = tracker.getJobIdsForGroup(group)
            counts = self.tracked[sid]
            counts["jobs"] += len(jobs)
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for st in (info.stageIds if info else []):
                    si = tracker.getStageInfo(st)
                    if si is not None:
                        counts["tasks"] += si.numTasks

    def _event_counters(self) -> dict[int, dict]:
        """Per span id: executor CPU, GC, run time, shuffle, spill and
        Python-worker bytes, from the event log."""
        stage_group, out = {}, defaultdict(lambda: defaultdict(float))
        for path in sorted(glob.glob(os.path.join(self.eventlog_dir, "*"))):
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                        for st in ev.get("Stage IDs", []):
                            stage_group.setdefault(st, group)
                    elif kind == "SparkListenerTaskEnd":
                        sid = self.groups.get(stage_group.get(ev.get("Stage ID")))
                        if sid is None:
                            continue
                        c = out[sid]
                        ti, tm = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                        c["tasks"] += 1
                        c["retries"] += ti.get("Attempt", 0) > 0
                        c["run_ms"] += ti.get("Finish Time", 0) - ti.get("Launch Time", 0)
                        c["cpu_ns"] += tm.get("Executor CPU Time", 0)
                        c["gc_ms"] += tm.get("JVM GC Time", 0)
                        c["spill_b"] += tm.get("Disk Bytes Spilled", 0)
                        sr = tm.get("Shuffle Read Metrics", {})
                        c["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                        c["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
                        c["shuffle_write_b"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                        for acc in ti.get("Accumulables", []):
                            if acc.get("Name") in ("data sent to Python workers",
                                                   "data returned from Python workers"):
                                c["python_b"] += float(acc.get("Update", 0) or 0)
        return out

    def report(self, ops, figures: dict, progress: dict | None = None) -> dict:
        """Per-layer metrics: times as the median over traced ops, counts
        from the first traced op (they repeat across runs with one seed)."""
        ev = self._event_counters()
        children = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)

        def subtree(s):
            yield s
            for c in children[s.sid]:
                yield from subtree(c)

        def total(spans, key, src):
            return sum(src.get(s.sid, {}).get(key, 0) for s in spans)

        per_op = []
        traced = [op for op in ops if op.traced]
        for op in traced:
            roots = [s for s in self.spans if s.op == op.index and s.parent is None]
            if not roots:
                continue
            root = roots[0]
            spans = list(subtree(root))
            wall = op.wall_s
            m: dict = {}
            by_name = defaultdict(list)
            for s in spans:
                by_name[s.name].append(s)

            def busy(name):
                return sum(s.wall for s in by_name.get(name, []))

            def jobs(name):
                return sum(total(subtree(s), "jobs", self.tracked) for s in by_name.get(name, []))

            for name, stem in BUSY.items():
                m[f"{stem}_s"] = busy(name)
            for job in JOBS:
                js = by_name.get(job, [])
                m[f"{job}.self_s"] = sum(s.wall - sum(c.wall for c in children[s.sid]) for s in js)
                m[f"{job}.spark_jobs"] = jobs(job)
            m["operators.zonal.spark_jobs"] = jobs("operators.zonal")
            m["operators.manifest.spark_jobs"] = jobs("operators.manifest")
            m["operators.zonal.python_mb"] = sum(total(subtree(s), "python_b", ev) for s in by_name.get("operators.zonal", [])) / MIB
            m["sinks.tiles.python_mb"] = sum(total(subtree(s), "python_b", ev) for s in by_name.get("sinks.tiles", [])) / MIB

            c = self.counts.get(op.index, {})
            src = c.get("sources", {})
            m["sources.paths_listed"] = src.get("paths_listed", 0)
            m["sources.rasters_decoded"] = src.get("rasters_decoded", 0)
            m["sources.decode_per_pending"] = (src["rasters_decoded"] / src["pending"]) if src.get("pending") else 0.0
            m["sources.in_mb"] = src.get("in_bytes", 0) / MIB
            m["sources.store_mb"] = src.get("store_bytes", 0) / MIB
            pp = c.get("pipeline", {})
            m["operators.zonal.candidates"] = pp.get("candidates", 0)
            m["operators.zonal.hit_ratio"] = pp["inside"] / pp["candidates"] if pp.get("candidates") else 0.0
            m["operators.manifest.pending_ratio"] = pp["pending_pairs"] / pp["pairs"] if pp.get("pairs") else 0.0
            m["sinks.geojsonl.out_mb"] = pp.get("geojsonl_bytes", 0) / MIB
            m["sinks.tiles.tiles"] = pp.get("tiles", 0)
            m["sinks.tiles.kept_ratio"] = pp["kept"] / pp["assigned"] if pp.get("assigned") else 0.0
            m["sinks.tiles.files"] = pp.get("tiles_files", 0)
            m["sinks.tiles.out_mb"] = pp.get("tiles_bytes", 0) / MIB
            m["jobs.pipeline.renames"] = pp.get("renames", 0)
            cu = c.get("curation", {})
            m["operators.dedup.candidates"] = cu.get("candidates", 0)
            m["operators.dedup.hit_ratio"] = cu["verified_pairs"] / cu["candidates"] if cu.get("candidates") else 0.0
            m["operators.dedup.max_bucket"] = cu.get("max_bucket", 0)
            m["sinks.shards.files"] = cu.get("shard_files", 0)

            st = c.get("stream", {})
            d = st.get("durations_ms", {})
            m["streaming.trigger_s"] = d.get("triggerExecution", 0) / 1000.0
            m["streaming.add_batch_s"] = d.get("addBatch", 0) / 1000.0
            m["streaming.overhead_s"] = sum(
                d.get(k, 0) for k in ("latestOffset", "getBatch", "queryPlanning", "walCommit", "commitOffsets")
            ) / 1000.0
            m["streaming.spark_jobs"] = jobs("streaming")
            m["streaming.ledger_rows"] = st.get("ledger_rows", 0)

            m["spark.jobs"] = total(spans, "jobs", self.tracked)
            m["spark.tasks"] = total(spans, "tasks", self.tracked)
            m["spark.task_retries"] = total(spans, "retries", ev)
            m["spark.executor_cpu_s"] = total(spans, "cpu_ns", ev) / 1e9
            m["spark.gc_s"] = total(spans, "gc_ms", ev) / 1000.0
            m["spark.shuffle_write_mb"] = total(spans, "shuffle_write_b", ev) / MIB
            m["spark.shuffle_read_mb"] = total(spans, "shuffle_read_b", ev) / MIB
            m["spark.shuffle_fetch_wait_s"] = total(spans, "fetch_wait_ms", ev) / 1000.0
            m["spark.spill_mb"] = total(spans, "spill_b", ev) / MIB
            m["spark.slot_idle_frac"] = 1.0 - (total(spans, "run_ms", ev) / 1000.0) / (self.cores * wall)
            # share of op wall inside a layer span (not the op or job frame)
            frame = [s for s in spans if s.name == "op" or s.name in JOBS]
            frame_self = sum(s.wall - sum(ch.wall for ch in children[s.sid]) for s in frame)
            m["trace.span_coverage"] = 1.0 - frame_self / root.wall if root.wall else 0.0
            m["trace.op_wall_s"] = wall
            per_op.append(m)

        if not per_op:
            return {}
        first = per_op[0]
        out = {}
        for k in first:
            timed = k.endswith("_s") or k.endswith("_frac") or k == "trace.span_coverage"
            out[k] = statistics.median(m[k] for m in per_op) if timed else first[k]
        untraced = figures["op_p50_s"]
        out["trace.overhead"] = out["trace.op_wall_s"] / untraced if untraced else 0.0
        out["trace.traced_ops"] = len(per_op)
        if progress:
            adds = [progress[b].durationMs.get("addBatch", 0) for b in sorted(progress) if b > 0]
            if adds:
                q = max(1, len(adds) // 4)
                out["streaming.add_batch_growth"] = statistics.median(adds[-q:]) / max(statistics.median(adds[:q]), 1)
        out.setdefault("streaming.add_batch_growth", 0.0)
        # the share of op wall each layer's time is, for comparisons across boxes
        for k in list(out):
            if k.endswith("_s") and k not in ("spark.executor_cpu_s", "trace.op_wall_s"):
                out[k[:-2] + "_share"] = out[k] / out["trace.op_wall_s"] if out["trace.op_wall_s"] else 0.0
        return out


def _zonal_candidates(estate, rasters, vector_ids) -> tuple[int, int]:
    """(bbox candidates, in-polygon pixel-zone pairs) over the pending
    pairs, counted in numpy from the generated inputs."""
    from oracle import bbox_candidates, inside_mask

    zones = [polys for vid in vector_ids for _fid, _name, polys in estate.layers[vid]]
    cand = sum(bbox_candidates(r, polys) for r in rasters for polys in zones)
    inside = sum(int(inside_mask(r, polys).sum()) for r in rasters for polys in zones)
    return cand, inside
