"""Storage: the one module that maps a path to a filesystem, plus the
layouts the engine standardises for 100 TB scale.

Filesystem layer. :func:`resolve` is the single decision of which
filesystem serves a path; every other module calls the helpers below
and holds no scheme test of its own. Two families share it:

- driver helpers (``fs_*``, :func:`hadoop_glob`) — plain local paths
  use ``os``/``open`` (no JVM round trip); URIs, ``file:`` included, go
  through the Hadoop FileSystem API, so the driver sees exactly what
  Spark's own reads and writes see. A scheme-less path means what it
  means to Spark: local only when ``fs.defaultFS`` is ``file:``.
- executor helpers (:func:`read_bytes`, :func:`write_bytes`,
  :func:`exists`) — Python workers have no JVM gateway, so local paths
  and ``file:`` URIs are opened directly and remote URIs go through
  pyarrow's filesystems (Hadoop's s3a/s3n spell pyarrow's s3).

Layouts:

- :func:`write_bucketed` / :func:`bucketed_join_ready` — hash-bucketed
  tables: two tables bucketed by the same key into the same bucket count
  join WITHOUT an exchange (Catalyst sees the co-located distribution).
  At fact-fact scale this converts every recurring join on the bucket
  key from a full shuffle into a local zip — the single biggest shuffle
  saving available to a recurring pipeline. Buckets are the Spark
  analogue of the reference's fixed 128×128 raster chunking
  (``pipeline/processing/inputs.py:27``): a fixed physical unit chosen
  once so every later operation can rely on it.

- :func:`write_pixels_partitioned` — the canonical pixel store: Parquet
  partitioned by (raster_id, coarse grid cell), rows sorted by (lat,
  lon) within files. Spatial predicates prune whole directories
  (partition pruning) and then whole row groups (min/max stats on the
  sorted columns) — a bbox query touches only the files it overlaps.
"""

from __future__ import annotations

import glob as _glob
import os
import re
import shutil

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_BUCKETS = 32
PIXEL_PART_DEG = 10.0  # coarse partition-cell size (degrees)

# a scheme is followed by "/", so relative names holding ":" stay paths
_SCHEME = re.compile(r"([A-Za-z][A-Za-z0-9+.-]*):/")


def resolve(path: str, default_fs: str | None = None) -> tuple[str, str]:
    """Map ``path`` to ``(backend, normalized)``; pure, no I/O.

    - ``"local"``: a scheme-less path on local disk (``default_fs`` is
      None or a ``file:`` URI); ``normalized`` is the path unchanged.
    - ``"file"``: a ``file:/x`` / ``file:///x`` URI; ``normalized`` is
      the local path ``/x``.
    - ``"remote"``: any other scheme; ``normalized`` is the URI as
      pyarrow spells it (s3a/s3n → s3). A scheme-less path under a
      non-``file:`` ``default_fs`` is qualified against it when
      absolute; a relative one is left for Hadoop to resolve against
      its working directory.

    Whether a remote scheme is served is left to the backend: Hadoop's
    ``getFileSystem`` on the driver, :func:`_arrow` on executors — both
    refuse an unknown scheme by name."""
    m = _SCHEME.match(path)
    if m is None:
        fs_backend, root = resolve(default_fs) if default_fs else ("local", "")
        if fs_backend != "remote":
            return "local", path
        return "remote", (root.rstrip("/") + path if path.startswith("/") else path)
    scheme = m.group(1).lower()
    if scheme == "file":
        rest = path[len("file:"):]
        if rest.startswith("//"):
            host, _, tail = rest[2:].partition("/")
            if host not in ("", "localhost"):
                raise ValueError(f"file URI names a remote host: {path!r}")
            rest = "/" + tail
        return "file", rest
    if scheme in ("s3a", "s3n"):
        return "remote", "s3" + path[len(scheme):]
    return "remote", path


def local_path(path: str) -> str:
    """The local path behind a plain path or ``file:`` URI, for code
    that needs a real file (sqlite, the executor-side GeoTIFF writer);
    a remote URI raises ValueError."""
    backend, norm = resolve(path)
    if backend == "remote":
        raise ValueError(f"{path!r} is remote, not a local file")
    return norm


# --- driver helpers --------------------------------------------------------------


def _context(spark: SparkSession | None) -> SparkContext | None:
    """The JVM-backed context: ``spark``'s, else this process's active
    one; None in processes without a JVM gateway (executors, the
    data-source planner)."""
    return spark.sparkContext if spark is not None else SparkContext._active_spark_context


def _default_fs(sc: SparkContext | None) -> str | None:
    """``fs.defaultFS``, read from the JVM once per SparkContext and
    cached on it, so local paths cost no JVM round trip. Set it before
    the first storage call (``spark.hadoop.fs.defaultFS`` at session
    build); a later ``hadoopConfiguration().set`` is not seen here."""
    if sc is None:
        return None
    if not hasattr(sc, "_sdp_default_fs"):
        sc._sdp_default_fs = sc._jsc.hadoopConfiguration().get("fs.defaultFS")
    return sc._sdp_default_fs


def _driver_local(spark: SparkSession | None, path: str) -> str | None:
    """The local path when the driver serves ``path`` with os calls;
    None when it goes through Hadoop. Without a JVM, ``file:`` URIs are
    served locally too and remote paths raise."""
    sc = _context(spark)
    backend, norm = resolve(path, _default_fs(sc))
    if backend == "local" or (backend == "file" and sc is None):
        return norm
    if sc is None:
        raise RuntimeError(
            f"{path!r} is served through Hadoop, which needs the driver's JVM; "
            "this process has none — list or write it on the driver"
        )
    return None


def _hadoop(spark: SparkSession | None, path: str):
    """(Hadoop FileSystem, Path) for ``path`` — the one place a Hadoop
    handle is built."""
    sc = _context(spark)
    hpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(sc._jsc.hadoopConfiguration()), hpath


def fs_write_bytes(spark: SparkSession | None, path: str, content: bytes) -> None:
    """Write ``content`` to ``path`` (parent dirs created), replacing
    any existing file — a marker, ledger or encoded GeoTIFF lands
    wherever the job's data writes land."""
    local = _driver_local(spark, path)
    if local is not None:
        write_bytes(local, content)
        return
    fs, hpath = _hadoop(spark, path)
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(content))
    finally:
        out.close()


def fs_write_text(spark: SparkSession | None, path: str, content: str) -> None:
    """UTF-8 text through :func:`fs_write_bytes`."""
    fs_write_bytes(spark, path, content.encode("utf-8"))


def fs_read_bytes(spark: SparkSession | None, path: str) -> bytes | None:
    """A small file's bytes; None when it does not exist."""
    local = _driver_local(spark, path)
    if local is not None:
        try:
            return read_bytes(local)
        except FileNotFoundError:
            return None
    fs, hpath = _hadoop(spark, path)
    if not fs.exists(hpath):
        return None
    stream = fs.open(hpath)
    try:
        return bytes(stream.readAllBytes())
    finally:
        stream.close()


def fs_read_text(spark: SparkSession | None, path: str) -> str | None:
    """UTF-8 text through :func:`fs_read_bytes`; None when absent (the
    probe half of :func:`fs_write_text`)."""
    data = fs_read_bytes(spark, path)
    return None if data is None else data.decode("utf-8")


def fs_exists(spark: SparkSession | None, path: str) -> bool:
    """Whether a file or directory exists at ``path`` (metadata only)."""
    local = _driver_local(spark, path)
    if local is not None:
        return exists(local)
    fs, hpath = _hadoop(spark, path)
    return bool(fs.exists(hpath))


# metacharacters of Python's and Hadoop's glob syntaxes
_GLOB_MAGIC = re.compile(r"[*?\[{]")


def _is_data_file(name: str) -> bool:
    # Spark's file sources skip _* and .* names (_SUCCESS, .crc, markers)
    return not name.startswith(("_", "."))


def hadoop_glob(spark: SparkSession | None, pattern: str) -> list[str]:
    """Expand a glob ``pattern`` to the sorted FILE paths it matches;
    directories it matches are skipped. A ``pattern`` with no glob
    metacharacter that names a directory lists that directory's data
    files instead (``_*``/``.*`` names skipped, as Spark's file sources
    do). Remote patterns cost ONE Hadoop ``globStatus`` round trip (plus
    one listing for a directory); local ones use Python glob. The shared
    listing behind standardize input scans, the tileset-marker heal and
    geotiff source planning, so glob semantics cannot drift between call
    sites."""
    is_dir_name = _GLOB_MAGIC.search(pattern) is None
    local = _driver_local(spark, pattern)
    if local is not None:
        if is_dir_name and os.path.isdir(local):
            return sorted(
                os.path.join(local, n) for n in os.listdir(local)
                if _is_data_file(n) and os.path.isfile(os.path.join(local, n))
            )
        return sorted(p for p in _glob.glob(local) if os.path.isfile(p))
    fs, hpath = _hadoop(spark, pattern)
    if is_dir_name and fs.exists(hpath) and fs.getFileStatus(hpath).isDirectory():
        return sorted(
            str(c.getPath()) for c in fs.listStatus(hpath)
            if c.isFile() and _is_data_file(c.getPath().getName())
        )
    return sorted(str(st.getPath()) for st in fs.globStatus(hpath) or [] if st.isFile())


def glob_escape(spark: SparkSession | None, literal: str) -> str:
    """Escape glob metacharacters in ``literal`` for :func:`hadoop_glob`
    (Python's bracket form locally, Hadoop's backslash form otherwise)."""
    if _driver_local(spark, literal) is not None:
        return _glob.escape(literal)
    return re.sub(r"([\[\]{}?*\\])", r"\\\1", literal)


def fs_delete(spark: SparkSession | None, path: str) -> bool:
    """Recursively delete a file/directory; True when something was
    removed."""
    local = _driver_local(spark, path)
    if local is None:
        fs, hpath = _hadoop(spark, path)
        return bool(fs.exists(hpath) and fs.delete(hpath, True))
    if os.path.isdir(local):
        shutil.rmtree(local)
    elif os.path.exists(local):
        os.remove(local)
    else:
        return False
    return True


def fs_mkdirs(spark: SparkSession | None, path: str) -> None:
    """Create a directory and its parents."""
    local = _driver_local(spark, path)
    if local is not None:
        os.makedirs(local, exist_ok=True)
        return
    fs, hpath = _hadoop(spark, path)
    fs.mkdirs(hpath)


def fs_listdir(spark: SparkSession | None, path: str) -> list[str]:
    """Child entry NAMES of a directory (empty when it does not exist)."""
    local = _driver_local(spark, path)
    if local is not None:
        return os.listdir(local) if os.path.isdir(local) else []
    fs, hpath = _hadoop(spark, path)
    if not fs.exists(hpath):
        return []
    return [st.getPath().getName() for st in fs.listStatus(hpath)]


def fs_rename(spark: SparkSession | None, src: str, dst: str) -> None:
    """Metadata-only move of a file/directory (parent dirs created). The
    fan-out primitive for single-write jobs: one partitioned Spark
    write, then per-partition renames that cost no Spark jobs."""
    lsrc, ldst = _driver_local(spark, src), _driver_local(spark, dst)
    if lsrc is not None and ldst is not None:
        os.makedirs(os.path.dirname(ldst) or ".", exist_ok=True)
        os.rename(lsrc, ldst)
        return
    fs, hsrc = _hadoop(spark, src)
    _, hdst = _hadoop(spark, dst)
    fs.mkdirs(hdst.getParent())
    # Hadoop rename refuses an existing destination (unlike POSIX
    # os.rename, which atomically replaces) — clear it first. Remote
    # replace is therefore not atomic; callers needing crash safety
    # write dst-name.tmp then rename, so a torn state leaves the tmp
    # file, never a corrupt dst.
    if fs.exists(hdst):
        fs.delete(hdst, True)
    if not fs.rename(hsrc, hdst):
        raise IOError(f"rename failed: {src} -> {dst}")


# --- executor helpers ------------------------------------------------------------


def _arrow(uri: str):
    """(pyarrow FileSystem, path) for a remote URI — the one place
    pyarrow's filesystems are reached. A scheme pyarrow cannot open is
    refused by name."""
    from pyarrow import fs as pafs

    try:
        return pafs.FileSystem.from_uri(uri)
    except (ValueError, NotImplementedError, OSError) as ex:  # ArrowInvalid & co
        scheme = uri.split(":", 1)[0]
        raise NotImplementedError(
            f"scheme {scheme!r} is not reachable from executor Python "
            f"workers (no JVM gateway; pyarrow rejected {uri!r}: {ex}) — "
            "stage the data on local or s3 storage"
        ) from ex


def read_bytes(path: str) -> bytes:
    """Executor-side whole-file read of a local path or URI."""
    backend, norm = resolve(path)
    if backend != "remote":
        with open(norm, "rb") as fh:
            return fh.read()
    filesystem, key = _arrow(norm)
    with filesystem.open_input_stream(key) as fh:
        return fh.read()


def write_bytes(path: str, data: bytes) -> None:
    """Executor-side whole-file write (local parent dirs created)."""
    backend, norm = resolve(path)
    if backend != "remote":
        os.makedirs(os.path.dirname(norm) or ".", exist_ok=True)
        with open(norm, "wb") as fh:
            fh.write(data)
        return
    filesystem, key = _arrow(norm)
    with filesystem.open_output_stream(key) as fh:
        fh.write(data)


def exists(path: str) -> bool:
    """Executor-side existence probe: a stat locally, one metadata call
    (``get_file_info``) remotely — never a read of the file's bytes."""
    backend, norm = resolve(path)
    if backend != "remote":
        return os.path.exists(norm)
    filesystem, key = _arrow(norm)
    return filesystem.get_file_info(key).type.name != "NotFound"


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = DEFAULT_BUCKETS,
    sort_cols: list[str] | None = None,
    path: str | None = None,
) -> None:
    """Persist as a bucketed (+optionally sorted) managed table — THE
    single implementation; ``operators.layout.write_bucketed`` delegates
    here with join-tuned defaults.

    Joins/aggregations on ``bucket_cols`` against any table bucketed the
    same way run exchange-free; sorting within buckets additionally lets
    sort-merge joins skip their sort. ``path`` makes it an external
    table. The pre-drop guards against a stale table with a DIFFERENT
    bucket spec: overwrite alone keeps the old spec and would silently
    re-introduce exchanges.
    """
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    if path is not None:
        # Dropping an EXTERNAL table leaves its files behind, and
        # saveAsTable into a non-empty location is a CTAS Spark >= 3.2
        # rejects (allowNonEmptyLocationInCTAS=false) — so a re-run with
        # the same path would fail. Clear the old location first.
        fs_delete(spark, path)
    writer = (
        df.write.format("parquet").mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def bucketed_join_ready(spark: SparkSession, left: str, right: str) -> DataFrame:
    """Join two same-bucketed tables on their bucket key — planner emits
    no Exchange (asserted in tests/test_storage.py)."""
    return spark.table(left).join(spark.table(right), "l_orderkey")


def write_pixels_partitioned(
    pixels: DataFrame, path: str, part_deg: float = PIXEL_PART_DEG
) -> None:
    """Canonical pixel store layout (S5's destination): directory
    partitions on (raster_id, cell_x, cell_y), files internally sorted by
    (lat, lon) so parquet row-group min/max stats are tight."""
    out = (
        pixels.withColumn(
            "cell_x", F.floor(F.col("lon") / part_deg).cast("int")
        )
        .withColumn("cell_y", F.floor(F.col("lat") / part_deg).cast("int"))
        .repartition("raster_id", "cell_x", "cell_y")
        .sortWithinPartitions("lat", "lon")
    )
    out.write.mode("overwrite").partitionBy("raster_id", "cell_x", "cell_y").parquet(
        path
    )


def read_pixels(spark: SparkSession, path: str) -> DataFrame:
    """Read the partitioned pixel store; bbox filters prune partitions
    via cell_x/cell_y and row groups via the sorted lat/lon stats."""
    return spark.read.parquet(path)


def compact_files(
    spark: SparkSession,
    path: str,
    target_mb: int = 128,
    preserve_partitions: tuple[str, ...] = (),
) -> dict:
    """Small-files compaction: rewrite a parquet location so each output
    file approaches ``target_mb`` (the small-files problem is the #1
    silent killer of 100 TB scans — every file costs a task, a footer
    read, and a scheduler round trip).

    File count is computed from the ACTUAL on-disk bytes (driver-side
    listing, metadata only — no data read), not a row-count guess, so
    compressed/skewed files size correctly. With ``preserve_partitions``
    the rewrite keeps hive partitioning and coalesces within partitions
    via one ``repartition(n, keys)`` shuffle; without, a plain
    ``repartition(n)`` round-robin balances bytes evenly.

    Writes to ``path + '.compact'`` then atomically renames over the
    original (the original is moved aside and deleted on success), so a
    concurrent reader sees either the old or the new layout, never a
    partial mix. Returns {files_before, files_after, bytes}.
    """
    total = 0
    files_before = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files_before += 1
                total += os.path.getsize(os.path.join(root, n))
    n_files = max(1, -(-total // (target_mb * 1024 * 1024)))  # ceil
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + ".compact"
    if preserve_partitions:
        (
            df.repartition(int(n_files), *preserve_partitions)
            .write.mode("overwrite")
            .partitionBy(*preserve_partitions)
            .parquet(tmp)
        )
    else:
        df.repartition(int(n_files)).write.mode("overwrite").parquet(tmp)
    old = path.rstrip("/") + ".old"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    files_after = sum(
        1
        for root, _d, names in os.walk(path)
        for n in names
        if n.endswith(".parquet")
    )
    return {
        "files_before": files_before,
        "files_after": files_after,
        "bytes": total,
    }
