"""The filesystem layer in ``sources/storage.py``: the resolver's table,
driver helpers over plain paths and ``file:`` URIs (the latter through
Hadoop's LocalFileSystem), executor-side probes, and the rule that no
other package module decides which filesystem a path lives on."""

from __future__ import annotations

import ast
import os

import numpy as np
import pytest

from sids_data_pipeline_spark.sources import storage
from sids_data_pipeline_spark.sources.geotiff import encode_geotiff

PACKAGE = os.path.join(os.path.dirname(__file__), "..", "sids_data_pipeline_spark")

HDFS = "hdfs://nn:8020"


@pytest.mark.parametrize(
    "path, default_fs, want",
    [
        ("/abs", "file:///", ("local", "/abs")),
        ("/abs", HDFS, ("remote", "hdfs://nn:8020/abs")),
        ("rel", "file:///", ("local", "rel")),
        ("rel", HDFS, ("remote", "rel")),
        ("file:/x", "file:///", ("file", "/x")),
        ("file:/x", HDFS, ("file", "/x")),
        ("file:///x", "file:///", ("file", "/x")),
        ("file:///x", HDFS, ("file", "/x")),
        ("s3a://b/k", "file:///", ("remote", "s3://b/k")),
        ("s3a://b/k", HDFS, ("remote", "s3://b/k")),
        ("weird://x", "file:///", ("remote", "weird://x")),
        ("weird://x", HDFS, ("remote", "weird://x")),
        ("/abs", "dbfs:/", ("remote", "dbfs:/abs")),
        ("oss://b/k", "file:///", ("remote", "oss://b/k")),
    ],
)
def test_resolve_table(path, default_fs, want):
    """Any scheme but ``file`` is remote; the backends decide whether
    they serve it (see the refusal tests below)."""
    assert storage.resolve(path, default_fs) == want


def test_resolve_without_default_fs_is_local():
    """Executors know no fs.defaultFS: scheme-less paths are local."""
    assert storage.resolve("rel") == ("local", "rel")
    assert storage.resolve("/abs") == ("local", "/abs")


@pytest.mark.parametrize("scheme", ["", "file://"])
def test_driver_helpers_round_trip(spark, tmp_path, monkeypatch, scheme):
    """Every driver helper through the plain path and ``file://``; the
    URI form must go through the Hadoop handle, the plain form never."""
    hadoop_calls = []
    real = storage._hadoop

    def spy(spark_, path):
        hadoop_calls.append(path)
        return real(spark_, path)

    monkeypatch.setattr(storage, "_hadoop", spy)
    def j(*parts):
        return "/".join([scheme + str(tmp_path), *parts])

    storage.fs_write_text(spark, j("d", "a.txt"), "héllo\nworld\n")
    assert storage.fs_read_text(spark, j("d", "a.txt")) == "héllo\nworld\n"
    storage.fs_write_bytes(spark, j("d", "b.bin"), b"\x00\xff\x01")
    assert storage.fs_read_bytes(spark, j("d", "b.bin")) == b"\x00\xff\x01"
    assert storage.fs_read_text(spark, j("d", "missing")) is None
    assert storage.fs_exists(spark, j("d", "a.txt"))
    assert not storage.fs_exists(spark, j("d", "missing"))

    storage.fs_mkdirs(spark, j("d", "sub", "deeper"))
    assert (tmp_path / "d" / "sub" / "deeper").is_dir()
    assert sorted(storage.fs_listdir(spark, j("d"))) == ["a.txt", "b.bin", "sub"]
    assert storage.fs_listdir(spark, j("nope")) == []

    storage.fs_rename(spark, j("d", "a.txt"), j("e", "a.txt"))
    assert not storage.fs_exists(spark, j("d", "a.txt"))
    assert (tmp_path / "e" / "a.txt").read_text() == "héllo\nworld\n"

    got = storage.hadoop_glob(spark, j("*", "*.*"))
    assert [storage.resolve(p)[1] for p in got] == [
        str(tmp_path / "d" / "b.bin"), str(tmp_path / "e" / "a.txt")
    ]

    assert storage.fs_delete(spark, j("d"))
    assert not (tmp_path / "d").exists()
    assert not storage.fs_delete(spark, j("d"))
    assert bool(hadoop_calls) == bool(scheme)


def test_hadoop_glob_expands_directories(spark, tmp_path):
    """A directory named without glob metacharacters lists its data
    files (``_*``/``.*`` names and subdirectories skipped, as Spark's
    file sources do); a directory a pattern matches is skipped."""
    for name in ("a.tif", "b.tif", "_SUCCESS", ".a.tif.crc"):
        (tmp_path / name).write_bytes(b"x")
    (tmp_path / "sub").mkdir()
    (tmp_path / "sub" / "a.tif").write_bytes(b"y")
    want = [str(tmp_path / "a.tif"), str(tmp_path / "b.tif")]
    def files(pattern):
        got = [storage.hadoop_glob(spark, pre + pattern) for pre in ("", "file://")]
        return [[storage.resolve(p)[1] for p in g] for g in got]

    assert files(str(tmp_path)) == [want, want]
    (tmp_path / "_SUCCESS").unlink()
    (tmp_path / ".a.tif.crc").unlink()
    assert files(str(tmp_path / "*")) == [want, want]


def test_glob_escape_keeps_metachars_literal(spark, tmp_path):
    odd = tmp_path / "a[1]"
    odd.mkdir()
    (odd / "x.txt").write_text("x")
    for prefix in (str(odd), "file://" + str(odd)):
        pattern = storage.glob_escape(spark, prefix) + "/*.txt"
        got = storage.hadoop_glob(spark, pattern)
        assert [storage.resolve(p)[1] for p in got] == [str(odd / "x.txt")]


def test_executor_helpers_local_and_file_uri(tmp_path):
    target = tmp_path / "x" / "y.bin"
    storage.write_bytes("file://" + str(target), b"abc")
    assert target.read_bytes() == b"abc"
    for p in (str(target), "file:" + str(target), "file://" + str(target)):
        assert storage.read_bytes(p) == b"abc"
        assert storage.exists(p)
    assert not storage.exists("file://" + str(tmp_path / "nope"))


def test_driver_helpers_refuse_by_scheme(spark):
    """Hadoop refuses a scheme no connector serves, naming it."""
    with pytest.raises(Exception, match='"weird"'):
        storage.fs_read_text(spark, "weird://bucket/key")


def test_driver_helpers_under_non_file_default_fs(tmp_path, monkeypatch):
    """Under a non-``file:`` ``fs.defaultFS`` (Databricks' ``dbfs:/``),
    scheme-less paths and ``file:`` URIs both go through Hadoop."""
    sc = object()
    monkeypatch.setattr(storage, "_context", lambda spark: sc)
    monkeypatch.setattr(storage, "_default_fs", lambda sc_: "dbfs:/")
    assert storage._driver_local(None, str(tmp_path)) is None
    assert storage._driver_local(None, "file://" + str(tmp_path)) is None


def test_executor_helpers_refuse_by_scheme():
    with pytest.raises(NotImplementedError, match="'weird'"):
        storage.read_bytes("weird://bucket/key")
    # a scheme Hadoop knows but pyarrow cannot open from executors
    with pytest.raises(NotImplementedError, match="'wasb'"):
        storage.read_bytes("wasb://c@acct.blob.core.windows.net/k")


class _RemoteSpy:
    """Stands in for a pyarrow remote filesystem, backed by a local
    directory; records every byte read."""

    def __init__(self, root):
        self.root = root
        self.opened = []

    def local(self, key):
        return os.path.join(self.root, key.split("/", 1)[1])

    def get_file_info(self, key):
        from pyarrow import fs as pafs

        kind = pafs.FileType.File if os.path.exists(self.local(key)) else pafs.FileType.NotFound
        return pafs.FileInfo(key, kind)

    def open_input_stream(self, key):
        self.opened.append(key)
        return open(self.local(key), "rb")


@pytest.fixture
def remote_spy(tmp_path, monkeypatch):
    spy = _RemoteSpy(str(tmp_path))
    monkeypatch.setattr(
        storage, "_arrow", lambda uri: (spy, uri.split("://", 1)[1])
    )
    return spy


def test_remote_exists_reads_no_bytes(tmp_path, remote_spy):
    (tmp_path / "k.dbf").write_bytes(b"payload")
    assert storage.exists("s3a://bucket/k.dbf")
    assert not storage.exists("s3a://bucket/missing.dbf")
    assert remote_spy.opened == []
    assert storage.read_bytes("s3a://bucket/k.dbf") == b"payload"
    assert remote_spy.opened == ["bucket/k.dbf"]


def test_remote_shapefile_fetches_each_file_once(tmp_path, remote_spy):
    """Sidecar probes are metadata calls, so each file of a remote
    shapefile set is downloaded exactly once."""
    from sids_data_pipeline_spark.functions.geo import multipolygon_wkb
    from sids_data_pipeline_spark.sources.shapefile import (
        read_shapefile,
        resolve_src_epsg,
        write_shapefile,
    )

    ring = [(0.0, 0.0), (0.0, 1.0), (1.0, 1.0), (1.0, 0.0), (0.0, 0.0)]
    write_shapefile([(0, "a", multipolygon_wkb([[ring]]))], str(tmp_path / "zones.shp"))
    assert list(read_shapefile("s3://bucket/zones.shp")["name"]) == ["a"]
    assert resolve_src_epsg("s3://bucket/zones.shp") == 4326
    assert sorted(remote_spy.opened) == [
        f"bucket/zones.{ext}" for ext in ("cpg", "dbf", "prj", "shp")
    ]


def _write_rasters(d):
    d.mkdir()
    for stem, base in (("r1", 0.0), ("r2", 100.0)):
        arr = (np.arange(64, dtype="float64") + base).reshape(8, 8)
        (d / f"{stem}.tif").write_bytes(
            encode_geotiff(arr, origin_x=0.0, origin_y=0.8, pixel_deg=0.1)
        )


def _pixels(df):
    return sorted((r.raster_id, r.band, r.x, r.y, r.val) for r in df.collect())


def test_geotiff_load_file_uri_and_directory(spark, tmp_path):
    """``file://`` globs and plain directories read the same pixels as
    the plain glob; a directory skips ``_*``/``.*`` names."""
    from sids_data_pipeline_spark.sources.geotiff_datasource import register

    register(spark)
    d = tmp_path / "in"
    _write_rasters(d)
    want = _pixels(spark.read.format("geotiff").load(str(d / "*.tif")))
    assert len(want) == 128
    for uri in ("file://" + str(d / "*.tif"), "file:" + str(d / "*.tif")):
        assert _pixels(spark.read.format("geotiff").load(uri)) == want
    (d / "_SUCCESS").write_bytes(b"")
    (d / ".r1.tif.crc").write_bytes(b"not a tiff")
    assert _pixels(spark.read.format("geotiff").load(str(d))) == want


def test_standardize_job_skips_subdirectories(spark, tmp_path):
    """A ``drop/*`` input glob reads only the drop folder's own rasters:
    a same-named raster in a subdirectory neither joins the scan nor
    replaces the top-level one."""
    from sids_data_pipeline_spark.jobs.standardize import run_standardize_job

    d = tmp_path / "in"
    _write_rasters(d)
    (d / "sub").mkdir()
    (d / "sub" / "r1.tif").write_bytes(
        encode_geotiff(np.full((8, 8), -5.0), origin_x=0.0, origin_y=0.8, pixel_deg=0.1)
    )
    res = run_standardize_job(
        spark, str(d / "*"), str(tmp_path / "out"), str(tmp_path / "ledger"),
        lon=(0.0, 0.45), lat=(0.0, 0.8),
    )
    assert res == {"processed": ["r1", "r2"], "skipped": []}
    got = _pixels(spark.read.format("geotiff").load(str(tmp_path / "out" / "*.tif")))
    assert len(got) == 2 * 8 * 5
    assert -5.0 not in {v for *_, v in got}


def test_standardize_job_file_uri_input(spark, tmp_path):
    from sids_data_pipeline_spark.jobs.standardize import run_standardize_job

    d = tmp_path / "in"
    _write_rasters(d)
    outs = {}
    for name, glob in (("plain", str(d / "*.tif")), ("uri", "file://" + str(d / "*.tif"))):
        out = tmp_path / f"out_{name}"
        res = run_standardize_job(
            spark, glob, str(out), str(tmp_path / f"ledger_{name}"),
            lon=(0.0, 0.45), lat=(0.0, 0.8),
        )
        assert res == {"processed": ["r1", "r2"], "skipped": []}
        outs[name] = _pixels(spark.read.format("geotiff").load(str(out / "*.tif")))
    assert outs["uri"] == outs["plain"]
    assert len(outs["plain"]) == 2 * 8 * 5


# --- only storage.py decides which filesystem a path lives on -----------------------


def _docstring_nodes(tree):
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
                yield body[0].value


def _filesystem_decisions(tree):
    """(kind, enclosing top-level function) for every scheme test,
    Hadoop handle and pyarrow filesystem use in a module's code."""
    docs = {id(n) for n in _docstring_nodes(tree)}
    hits = []
    for top in tree.body:
        owner = getattr(top, "name", "<module>")
        for node in ast.walk(top):
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                if id(node) in docs:
                    continue
                if "://" in node.value:
                    hits.append(("'://' literal", owner))
                elif node.value.startswith("file:"):
                    hits.append(("'file:' literal", owner))
            elif (
                isinstance(node, ast.Name)
                and node.id == "_SCHEME"
                and isinstance(node.ctx, ast.Load)
            ):
                hits.append(("scheme match", owner))
            elif isinstance(node, ast.Attribute) and node.attr == "getFileSystem":
                hits.append(("getFileSystem", owner))
            elif (
                isinstance(node, ast.Attribute)
                and node.attr == "Path"
                and isinstance(node.value, ast.Attribute)
                and node.value.attr == "fs"
                and isinstance(node.value.value, ast.Attribute)
                and node.value.value.attr == "hadoop"
            ):
                hits.append(("hadoop.fs.Path", owner))
            elif isinstance(node, ast.ImportFrom) and (
                (node.module or "").startswith("pyarrow.fs")
                or (node.module == "pyarrow" and any(a.name == "fs" for a in node.names))
            ):
                hits.append(("pyarrow.fs", owner))
            elif isinstance(node, ast.Import) and any(
                a.name.startswith("pyarrow.fs") for a in node.names
            ):
                hits.append(("pyarrow.fs", owner))
    return hits


def test_filesystem_decisions_live_only_in_storage():
    offenders = {}
    storage_hits = None
    for root, _dirs, names in os.walk(PACKAGE):
        for name in names:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path) as fh:
                hits = _filesystem_decisions(ast.parse(fh.read()))
            rel = os.path.relpath(path, PACKAGE)
            if rel == os.path.join("sources", "storage.py"):
                storage_hits = hits
            elif hits:
                offenders[rel] = hits
    assert offenders == {}, (
        "filesystem dispatch outside sources/storage.py — call its helpers"
    )
    owners = {}
    for kind, owner in storage_hits:
        owners.setdefault(kind, set()).add(owner)
    assert owners == {
        "scheme match": {"resolve"},
        "'file:' literal": {"resolve"},
        "hadoop.fs.Path": {"_hadoop"},
        "getFileSystem": {"_hadoop"},
        "pyarrow.fs": {"_arrow"},
    }
