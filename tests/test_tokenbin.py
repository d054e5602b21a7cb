"""Token-binary training sink: byte-exact round-trip, within-shard doc
order, uint32 range guard, corrupt-file detection."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from sids_data_pipeline_spark.sinks.tokenbin import (
    read_token_shards,
    write_token_shards,
)


def _packed(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, shard_id long, tokens array<long>"
    )


def test_roundtrip_exact_and_ordered(spark, tmp_path):
    # doc order within shard 0 must be doc_id order, NOT insert order
    df = _packed(
        spark,
        [
            (2, 0, [30, 40]),
            (1, 0, [10, 20]),
            (3, 1, [99]),
            (4, 2, []),  # empty doc → 0-byte shard file
        ],
    )
    out = str(tmp_path / "shards")
    manifest = {r.shard_id: r for r in write_token_shards(df, out).collect()}
    assert manifest[0].n_docs == 2 and manifest[0].n_tokens == 4
    assert manifest[2].n_tokens == 0
    # bytes on disk: uint32 LE, doc_id-ordered concatenation
    raw = open(os.path.join(out, "shard-00000000.bin"), "rb").read()
    assert np.frombuffer(raw, dtype="<u4").tolist() == [10, 20, 30, 40]
    back = {
        r.shard_id: list(r.tokens)
        for r in read_token_shards(spark, out + "/*.bin").collect()
    }
    # shard 2 is the all-empty shard: its 0-byte file exists on disk but
    # Spark's binaryFile source skips zero-length files on readback
    assert back == {0: [10, 20, 30, 40], 1: [99]}
    assert os.path.getsize(os.path.join(out, "shard-00000002.bin")) == 0


def test_rejects_out_of_range_tokens(spark, tmp_path):
    df = _packed(spark, [(1, 0, [1, 1 << 32])])
    with pytest.raises(Exception, match="uint32"):
        write_token_shards(df, str(tmp_path / "bad"))


def test_rejects_corrupt_files(spark, tmp_path):
    d = tmp_path / "c"
    d.mkdir()
    (d / "shard-00000001.bin").write_bytes(b"\x01\x02\x03")  # not %4
    with pytest.raises(Exception, match="uint32|corrupt"):
        read_token_shards(spark, str(d) + "/*.bin").collect()
    (d / "shard-00000001.bin").write_bytes(b"\x05\x00\x00\x00")
    os.rename(d / "shard-00000001.bin", d / "notashard.bin")
    with pytest.raises(Exception, match="shard"):
        read_token_shards(spark, str(d) + "/*.bin").collect()


def test_write_rejects_unknown_remote_scheme(spark, tmp_path):
    """An unsupported remote scheme must fail LOUDLY executor-side (the
    executor pyarrow helper refuses it by name), never write to an
    executor-local path that silently vanishes from the URI estate."""
    df = _packed(spark, [(1, 0, [1, 2, 3])])
    with pytest.raises(Exception, match="scheme|writable"):
        write_token_shards(df, "weird://bucket/shards")
