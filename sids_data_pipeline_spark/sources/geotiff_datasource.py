"""GeoTIFF as a first-class Spark data source (Spark 4 Python
DataSource API): ``spark.read.format("geotiff").load(glob)``.

This is the idiomatic-Spark face of S5 (SURVEY.md §2a): instead of the
two-step binaryFile → mapInPandas composition (:func:`geotiff.ingest_
geotiff`, kept as the pipeline-internal path), the codec plugs into the
planner itself — the source reports its schema, plans one input
partition per raster file at the driver (a listing, no decode), and each
executor partition decodes only its own file via the pure-numpy codec
and streams Arrow batches back. Registration is per-session::

    from sids_data_pipeline_spark.sources.geotiff_datasource import register
    register(spark)
    px = spark.read.format("geotiff").option("band", "1").load("/data/*.tif")

Scale shape: partition planning is O(files) driver-side metadata; decode
is executor-side and embarrassingly parallel per file (the reference's
per-file multiprocessing Pool, utils.py:47-57, recast as source
partitions). Sub-file (tile-strip) partitions are the natural extension
for multi-GB rasters — the planner hook is already per-partition.

Matches reference ``batch/processing/raster.py:22-38`` (per-file GDAL
standardization) as a declarative scan.
"""

from __future__ import annotations

import os
from typing import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

from sids_data_pipeline_spark.schemas import PIXELS
from sids_data_pipeline_spark.sources.storage import (
    hadoop_glob,
    local_path,
    read_bytes,
)


class _FilePartition(InputPartition):
    def __init__(self, path: str, band: int | None):
        self.path = path
        self.band = band


class GeoTiffReader(DataSourceReader):
    def __init__(self, options: dict):
        self._path = options.get("path")
        # explicit pre-pruned file list (comma-joined) — lets callers
        # that already know the pending subset (e.g. the standardize
        # job's ledger prune) skip scheduling decode work for the rest
        self._files = options.get("files")
        if not self._path and not self._files:
            raise ValueError("geotiff source requires a load(path) glob")
        # band selection (1-based, gdal_translate -b convention): absent
        # → every band of each file; k → just that band, validated
        # against the file's actual band count at decode time
        self._band = int(options["band"]) if "band" in options else None
        if self._band is not None and self._band < 1:
            raise ValueError(f"band must be >= 1, got {self._band}")

    def partitions(self) -> Sequence[InputPartition]:
        if self._files:
            paths = sorted(p for p in self._files.split(",") if p)
        else:
            # planning runs in a planner worker without a JVM gateway:
            # local and file: globs list here; remote estates hand their
            # driver-side hadoop_glob listing over through "files"
            paths = hadoop_glob(None, self._path)
        if not paths:
            raise FileNotFoundError(f"geotiff: no files match {self._path!r}")
        return [_FilePartition(p, self._band) for p in paths]

    def read(self, partition: _FilePartition) -> Iterator[tuple]:
        import numpy as np
        import pyarrow as pa

        from sids_data_pipeline_spark.sources.geotiff import decode_geotiff_bands

        bands3, (ox, oy, sx, sy), nodata = decode_geotiff_bands(
            read_bytes(partition.path)
        )
        nb, h, w = bands3.shape
        band = partition.band
        if band is not None and not 1 <= band <= nb:
            raise ValueError(
                f"{partition.path}: band {band} out of range 1..{nb}"
            )
        yy, xx = np.mgrid[0:h, 0:w]
        xs = xx.ravel()
        ys = yy.ravel()
        stem = os.path.basename(partition.path).rsplit(".", 1)[0]
        for b in range(1, nb + 1) if band is None else (band,):
            vals = bands3[b - 1].ravel()
            if nodata is not None:
                vals = np.where(vals == nodata, np.nan, vals)
            yield pa.RecordBatch.from_pydict(
                {
                    "raster_id": np.repeat(stem, h * w),
                    "band": np.full(h * w, b, dtype="int32"),
                    "y": ys.astype("int32"),
                    "x": xs.astype("int32"),
                    "lon": ox + (xs + 0.5) * sx,
                    "lat": oy - (ys + 0.5) * sy,
                    "val": vals,
                }
            )


class GeoTiffDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "geotiff"

    def schema(self):
        return PIXELS

    def reader(self, schema) -> GeoTiffReader:
        return GeoTiffReader(self.options)

    def writer(self, schema, overwrite: bool):
        return GeoTiffWriter(self.options, overwrite)


def register(spark) -> None:
    """Idempotent per-session registration of the ``geotiff`` format."""
    spark.dataSource.register(GeoTiffDataSource)


class _WrittenFiles(WriterCommitMessage):
    def __init__(self, files: tuple):
        self.files = files


class GeoTiffWriter(DataSourceWriter):
    """Write path of the registered format:
    ``df.write.format("geotiff").mode(...).save(dir)`` emits one
    ``<raster_id>.tif`` per raster from long-format pixel rows.

    CONTRACT: one raster must not span partitions — callers
    ``repartition("raster_id")`` first (the format is one-file-per-
    raster, so a split raster cannot be encoded partition-locally; the
    writer raises if a target file already exists rather than silently
    clobbering a sibling partition's output). Options: ``nodata``,
    ``compress`` (zstd/deflate), ``tile``.
    """

    def __init__(self, options: dict, overwrite: bool):
        self._path = options.get("path")
        if not self._path:
            raise ValueError("geotiff writer requires a save(path) directory")
        # write() runs in executor Python workers with plain os/open: a
        # remote URI would land on executor-local disks and silently
        # vanish from the estate, so it is refused up front
        try:
            self._path = local_path(self._path)
        except ValueError as ex:
            raise ValueError(
                f"geotiff writer writes executor-local files: {ex} — use "
                "export_geotiff() + sources.storage.fs_write_bytes() instead"
            ) from ex
        self._nodata = float(options.get("nodata", -9999.0))
        self._compress = options.get("compress")
        self._tile = int(options["tile"]) if "tile" in options else None
        self._overwrite = overwrite

    def write(self, iterator) -> _WrittenFiles:
        import pandas as pd

        from sids_data_pipeline_spark.sources.geotiff import encode_pixel_group

        rows = list(iterator)
        if not rows:
            return _WrittenFiles(())
        pdf = pd.DataFrame([r.asDict() for r in rows])
        os.makedirs(self._path, exist_ok=True)
        written = []
        for rid, group in pdf.groupby("raster_id"):
            out = os.path.join(self._path, f"{rid}.tif")
            if os.path.exists(out) and not self._overwrite:
                raise FileExistsError(
                    f"geotiff writer: {out} exists (raster split across "
                    "partitions, or append to a populated dir) — "
                    "repartition('raster_id') and use mode('overwrite')"
                )
            data = encode_pixel_group(
                group,
                nodata=self._nodata,
                compress=self._compress,
                tile=self._tile,
            )
            with open(out, "wb") as f:
                f.write(data)
            written.append(out)
        return _WrittenFiles(tuple(written))

    def commit(self, messages):
        return None

    def abort(self, messages):
        return None
