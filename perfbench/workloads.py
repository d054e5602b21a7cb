"""The benchmark's workloads: each is a closed loop with one client.

A workload object has three phases, driven by ``run.py``:

- ``setup()``: generate inputs from the seed and bring the program to the
  state the first operation expects (part of ``setup_s``);
- ``op(i, tracer)``: one timed operation through the engine's public
  lifecycle entry points, returning an :class:`Op` record; work done
  around the timed region (landing an input file, measuring outputs) is
  not part of its wall time;
- ``check(op)``: compare the operation's outputs with an independent
  computation, outside any timed region.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
from dataclasses import dataclass, field

import gen
import oracle

# Workload sizes; TOY shrinks them for the smoke test (``--toy``).
SIZES = {
    "estate_full": {"rasters": 2, "raster_px": 128, "layers": 2, "zones": 80},
    "corpus_full": {"docs": 500, "shard_tokens": 10000},
    "corpus_stream": {"docs": 2400, "docs_per_file": 200},
}
TOY = {
    "estate_full": {"rasters": 2, "raster_px": 64, "layers": 2, "zones": 12},
    "corpus_full": {"docs": 300, "shard_tokens": 5000},
    "corpus_stream": {"docs": 240, "docs_per_file": 40},
}


@dataclass
class Op:
    index: int
    wall_s: float
    rows: int
    in_bytes: int
    out_bytes: int
    traced: bool = False
    problems: list = field(default_factory=list)
    info: dict = field(default_factory=dict)


def disk_usage(*roots: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``roots``, leaving out
    checksum (``.*``) and marker (``_*``) files."""
    size = files = 0
    for root in roots:
        for dirpath, _dirs, names in os.walk(root):
            for n in names:
                if not n.startswith((".", "_")):
                    size += os.path.getsize(os.path.join(dirpath, n))
                    files += 1
    return size, files


def _du(*roots: str) -> int:
    return disk_usage(*roots)[0]


class Workload:
    name = ""
    # what one input row is, for rows_per_s
    row_unit = ""

    def __init__(self, spark, work: str, seed: int, sizes: dict):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.sizes = sizes

    def input_sizes(self) -> dict:
        raise NotImplementedError

    def setup(self) -> None:
        raise NotImplementedError

    def op(self, i: int, tracer=None) -> Op:
        raise NotImplementedError

    def check(self, op: Op) -> list[str]:
        raise NotImplementedError

    def finish(self, ops: list[Op]) -> None:
        """Checks that need every op; they append to ``op.problems``."""

    def has_next(self) -> bool:
        """Whether another op has input (default: always)."""
        return True

    def corrupt(self, op: Op) -> None:
        """Damage the op's output the way a wrong result would (smoke test)."""
        raise NotImplementedError


# --------------------------------------------------------------- estate


class EstateFull(Workload):
    """A drop folder of GeoTIFFs is standardized and run through the full
    pipeline; an op is ``run_standardize_job`` plus ``run_pipeline`` into
    a fresh state directory, with the canonical store read back as
    ``pixels_df`` and the generated layers as ``zones_df``."""

    name = "estate_full"
    row_unit = "source pixels"

    def setup(self) -> None:
        s = self.sizes
        self.estate = gen.make_estate(
            os.path.join(self.work, "inputs"), self.seed, s["rasters"],
            s["raster_px"], s["layers"], s["zones"],
        )
        self.zones_df = self._zones_df()
        self.expected = None

    def _zones_df(self):
        import pandas as pd

        from sids_data_pipeline_spark.schemas import ZONES

        pdf = pd.DataFrame(gen.zone_rows(self.estate), columns=[f.name for f in ZONES.fields])
        return self.spark.createDataFrame(pdf, ZONES)

    def input_sizes(self) -> dict:
        e = self.estate
        return {
            "rasters": len(e.rasters), "raster_px": self.sizes["raster_px"],
            "pixels": e.pixels, "layers": len(e.layers), "polygons": e.polygons,
            "pairs": len(e.rasters) * len(e.layers), "tif_bytes": e.drop_bytes(),
        }

    def state_dir(self, i: int) -> str:
        return os.path.join(self.work, f"state-{i}")

    def op(self, i: int, tracer=None) -> Op:
        from sids_data_pipeline_spark.jobs.pipeline import run_pipeline
        from sids_data_pipeline_spark.jobs.standardize import run_standardize_job

        state = self.state_dir(i)
        if tracer is None:
            t0 = time.perf_counter()
            res = _lifecycle(self.spark, self.estate, self.zones_df, state,
                             run_standardize_job, run_pipeline)
            wall = time.perf_counter() - t0
        else:
            res, wall = tracer.estate_op(self, i, state)
        return Op(i, wall, self.estate.pixels, self.estate.drop_bytes(), _du(state),
                  tracer is not None, info=res)

    def check(self, op: Op) -> list[str]:
        """Zonal means of every pair match the numpy oracle, and both jobs
        processed exactly the estate's rasters and pairs."""
        if self.expected is None:
            self.expected = oracle.expected_means(self.estate, self.estate.rasters)
        state = self.state_dir(op.index)
        problems = oracle.check_pairs(os.path.join(state, "out"), self.expected)
        want_pairs = sorted(f"{v}_{r}" for v, r in self.expected)
        if sorted(op.info.get("outputs", [])) != want_pairs:
            problems.append(f"pipeline processed {op.info.get('outputs')} instead of {want_pairs}")
        want_rasters = sorted(r.raster_id for r in self.estate.rasters)
        if sorted(op.info.get("processed", [])) != want_rasters:
            problems.append(f"standardize processed {op.info.get('processed')}")
        shutil.rmtree(state)
        return problems

    def corrupt(self, op: Op) -> None:
        path = sorted(glob.glob(os.path.join(
            self.state_dir(op.index), "out", "*", "export.geojsonl", "*.txt")))[0]
        with open(path) as f:
            lines = f.readlines()
        feat = json.loads(lines[0])
        feat["properties"]["mean"] = (feat["properties"]["mean"] or 0.0) + 1.0
        lines[0] = json.dumps(feat) + "\n"
        with open(path, "w") as f:
            f.writelines(lines)


def _lifecycle(spark, estate, zones_df, state, run_standardize_job, run_pipeline) -> dict:
    """Standardize the drop folder into the canonical store, then run the
    pipeline over every (layer, raster) pair with the store as pixels
    (read back with a ``*.tif`` glob)."""
    store = os.path.join(state, "store")
    std = run_standardize_job(
        spark, os.path.join(estate.drop_dir, "*.tif"), store,
        os.path.join(state, "std_ledger"),
    )
    pixels = spark.read.format("geotiff").load(os.path.join(store, "*.tif"))
    out = run_pipeline(
        spark, sorted(estate.layers), [r.raster_id for r in estate.rasters],
        os.path.join(state, "out"), zones_df=zones_df, pixels_df=pixels,
    )
    return {**out, **std}


# --------------------------------------------------------------- corpus


class CorpusFull(Workload):
    """An op is the whole curation lifecycle into a fresh directory."""

    name = "corpus_full"
    row_unit = "documents"

    def setup(self) -> None:
        self.corpus = gen.make_corpus(self.seed, self.sizes["docs"])
        os.makedirs(os.path.join(self.work, "inputs"), exist_ok=True)
        self.docs_path = os.path.join(self.work, "inputs", "docs.parquet")
        gen.write_corpus(self.corpus, self.docs_path)
        self.docs = self.spark.read.parquet(self.docs_path)
        self.expected = None

    def input_sizes(self) -> dict:
        c = self.corpus
        return {
            "docs": c.docs, "text_bytes": c.text_bytes(),
            "parquet_bytes": os.path.getsize(self.docs_path),
            "planted_exact": c.planted_exact, "planted_near": c.planted_near,
            "planted_pii": c.planted_pii,
        }

    def out_dir(self, i: int) -> str:
        return os.path.join(self.work, f"curated-{i}")

    def op(self, i: int, tracer=None) -> Op:
        from sids_data_pipeline_spark.jobs.curation import run_curation_job

        out = self.out_dir(i)
        if tracer is None:
            t0 = time.perf_counter()
            res = run_curation_job(self.spark, self.docs, out,
                                   shard_tokens=self.sizes["shard_tokens"])
            wall = time.perf_counter() - t0
        else:
            res, wall = tracer.curation_op(self, i)
        return Op(i, wall, self.corpus.docs, os.path.getsize(self.docs_path),
                  _du(out), tracer is not None, info={"n_curated": res.get("n_curated")})

    def check(self, op: Op) -> list[str]:
        if self.expected is None:
            self.expected = oracle.curation_oracle(self.docs_path)
        out = self.out_dir(op.index)
        problems = oracle.check_curation(out, self.docs_path, self.sizes["shard_tokens"], self.expected)
        shutil.rmtree(out, ignore_errors=True)
        return problems

    def corrupt(self, op: Op) -> None:
        import pyarrow.parquet as pq

        path = sorted(glob.glob(os.path.join(self.out_dir(op.index), "data", "*", "*", "*.parquet")))[0]
        pq.write_table(pq.read_table(path).slice(1), path)  # lose one curated doc


class CorpusStream(Workload):
    """Documents arrive as parquet files in a drop folder; each op lands one
    file and ``streaming_near_dedup`` drains it as one micro-batch against
    the growing band ledger. Op wall time is the micro-batch's
    ``triggerExecution`` duration from a StreamingQueryListener.

    Runnable with ``--workload corpus_stream`` but not declared in
    BENCHMARK.json, which keeps a full benchmark pass short on a 4-core
    box: every run pays a JVM launch and a cold op."""

    name = "corpus_stream"
    row_unit = "documents"

    def setup(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        s = self.sizes
        self.corpus = gen.make_corpus(self.seed, s["docs"])
        self.files = gen.write_corpus_files(
            self.corpus, os.path.join(self.work, "inputs", "parts"), s["docs_per_file"]
        )
        self.drop = os.path.join(self.work, "drop")
        self.out = os.path.join(self.work, "stream_out")
        self.ckpt = os.path.join(self.work, "stream_ckpt")
        os.makedirs(self.drop)
        self.progress = {}
        progress = self.progress

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                if p.numInputRows:
                    progress[p.batchId] = p

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()
        self.spark.streams.addListener(self.listener)
        self.landed = 0

    def input_sizes(self) -> dict:
        c = self.corpus
        return {
            "docs": c.docs, "files": len(self.files),
            "docs_per_file": self.sizes["docs_per_file"], "text_bytes": c.text_bytes(),
            "planted_exact": c.planted_exact, "planted_near": c.planted_near,
            "planted_pii": c.planted_pii,
        }

    def has_next(self) -> bool:
        return self.landed < len(self.files)

    def _wait_progress(self, batch_id: int, timeout: float = 30.0):
        end = time.monotonic() + timeout
        while batch_id not in self.progress:
            if time.monotonic() > end:
                raise RuntimeError(f"no progress event for micro-batch {batch_id}")
            time.sleep(0.01)
        return self.progress[batch_id]

    def op(self, i: int, tracer=None) -> Op:
        from sids_data_pipeline_spark.schemas import DOCUMENTS
        from sids_data_pipeline_spark.streaming.jobs import streaming_near_dedup

        src = self.files[self.landed]
        shutil.copyfile(src, os.path.join(self.drop, os.path.basename(src)))
        self.landed += 1
        sinks = [os.path.join(self.out, d) for d in ("pairs", "_docs", "_bands")]
        before = _du(*sinks)
        stream = (
            self.spark.readStream.schema(DOCUMENTS)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.drop)
        )
        if tracer is None:
            streaming_near_dedup(stream, self.out, self.ckpt)
        else:
            tracer.stream_op(self, i, stream)
        p = self._wait_progress(i)
        wall = p.durationMs["triggerExecution"] / 1000.0
        return Op(i, wall, int(p.numInputRows), os.path.getsize(src),
                  _du(*sinks) - before, tracer is not None,
                  info={"durations_ms": dict(p.durationMs)})

    def check(self, op: Op) -> list[str]:
        return []  # pairs are checked across batches in finish()

    def corrupt(self, op: Op) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        d = os.path.join(self.out, "pairs", f"batch={op.index}")
        os.makedirs(d, exist_ok=True)
        pq.write_table(pa.table({"id1": pa.array([-1], pa.int64()), "id2": pa.array([-2], pa.int64())}),
                       os.path.join(d, "part-corrupt.parquet"))

    def finish(self, ops: list[Op]) -> None:
        """Per batch, the emitted pairs must be exactly those of
        ``near_duplicates_minhash`` over every doc landed so far whose
        later member arrived in that batch."""
        import pyarrow.parquet as pq

        self.spark.streams.removeListener(self.listener)
        n = len(ops)
        per_file = self.sizes["docs_per_file"]
        want = oracle.minhash_pairs_oracle(self.corpus.table(0, n * per_file))
        file_of = {int(d): k // per_file for k, d in enumerate(self.corpus.ids[: n * per_file])}
        for op in ops:
            path = os.path.join(self.out, "pairs", f"batch={op.index}")
            got = []
            if os.path.isdir(path) and any(f.endswith(".parquet") for f in os.listdir(path)):
                t = pq.read_table(path, columns=["id1", "id2"])
                got = list(zip(t.column("id1").to_pylist(), t.column("id2").to_pylist()))
            expected = {p for p in want if max(file_of[p[0]], file_of[p[1]]) == op.index}
            op.problems += oracle.check_stream_pairs(got, expected)


WORKLOADS = {w.name: w for w in (EstateFull, CorpusFull, CorpusStream)}
