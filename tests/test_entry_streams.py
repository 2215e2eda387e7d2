"""The driver layer's file-stream shim (``_file_stream_dir``): a
directory fixture of several part files is streamed as is, and a
single-file fixture gets a symlink shim whose stale link is re-pointed.
"""

from __future__ import annotations

import os
import tempfile

import pyarrow.parquet as pq

import __spark_entry__ as entry_mod


def test_events_stream_reads_every_part_of_a_directory_fixture(spark, sf_dir, tmp_path):
    table = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    fixture = tmp_path / "sf"
    parts = fixture / "events.parquet"
    parts.mkdir(parents=True)
    step = (table.num_rows + 2) // 3
    for i in range(3):
        pq.write_table(table.slice(i * step, step), str(parts / f"part-{i}.parquet"))

    assert entry_mod._file_stream_dir(str(fixture), "events") == str(parts)
    stream = entry_mod._events_stream(spark, str(fixture)).select("event_id")
    entry_mod._run_stream(entry_mod._memory_sink(stream, "append", "events_dir_fixture"))
    got = spark.table("events_dir_fixture")
    assert got.count() == table.num_rows
    assert got.distinct().count() == len(set(table.column("event_id").to_pylist()))


def test_single_file_shim_repoints_a_stale_link(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))  # shim lands here
    fixture = tmp_path / "sf"
    fixture.mkdir()
    src = fixture / "events.parquet"
    src.write_bytes(b"")
    shim = entry_mod._scratch_path("cherry_stream_", str(src))
    assert shim.startswith(str(tmp_path))
    os.makedirs(shim)
    link = os.path.join(shim, "events.parquet")
    os.symlink(str(tmp_path / "deleted.parquet"), link)  # dangling

    assert entry_mod._file_stream_dir(str(fixture), "events") == shim
    assert os.path.realpath(link) == os.path.realpath(src)
