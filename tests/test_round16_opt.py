"""Round-16 optimization pins.

1. Split staging (catalog._split_staged_path, r16 rewrite): the
   streamed iter_batches relayout must stay value-equal to the
   original scan (SPARK_GRAFT_SPLIT_STAGE=0 vs =1 — VERDICT r15
   item 3's hash-equality ask), actually split the row groups, record
   its staging seconds, honor the new upper byte cap, and discard a
   relayout that changes a timestamp column's parquet physical type
   (the ADVICE r15 INT96 hazard).
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from frinesis_spark import catalog


@pytest.fixture()
def big_single_group_dir(tmp_path):
    """A temp sf_dir whose documents table is ONE parquet file with
    ONE row group, big enough (> _SPLIT_MIN_BYTES) to stage."""
    n = 60_000
    tbl = pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(
                [f"alpha beta gamma delta {i} epsilon" for i in range(n)]
            ),
        }
    )
    path = tmp_path / "documents.parquet"
    pq.write_table(
        tbl, path, row_group_size=n, compression="none", use_dictionary=False
    )
    assert path.stat().st_size >= catalog._SPLIT_MIN_BYTES
    assert pq.ParquetFile(path).metadata.num_row_groups == 1
    return str(tmp_path)


def test_split_stage_value_equal_and_split(
    spark, big_single_group_dir, monkeypatch
):
    monkeypatch.setenv("SPARK_GRAFT_SPLIT_STAGE", "0")
    plain = sorted(
        (r.doc_id, r.text)
        for r in catalog.table(spark, big_single_group_dir, "documents")
        .collect()
    )
    monkeypatch.setenv("SPARK_GRAFT_SPLIT_STAGE", "1")
    staged_path = catalog._split_staged_path(big_single_group_dir, "documents")
    assert staged_path != os.path.join(
        big_single_group_dir, "documents.parquet"
    ), "a 1-row-group multi-MiB table must stage"
    staged_groups = sum(
        pq.ParquetFile(os.path.join(staged_path, f)).metadata.num_row_groups
        for f in os.listdir(staged_path)
    )
    assert staged_groups > 1
    # the streamed rewrite records its cost for the bench artifact
    assert catalog.SPLIT_STAGE_SECONDS.get("documents", 0) > 0
    staged = sorted(
        (r.doc_id, r.text)
        for r in catalog.table(spark, big_single_group_dir, "documents")
        .collect()
    )
    assert staged == plain


def test_split_stage_upper_cap_skips(big_single_group_dir, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SPLIT_STAGE", "1")
    monkeypatch.setattr(catalog, "_SPLIT_MAX_BYTES", 10)
    got = catalog._split_staged_path(big_single_group_dir, "documents")
    assert got == os.path.join(big_single_group_dir, "documents.parquet")


def test_split_stage_int96_guard(tmp_path, monkeypatch):
    """An INT96-timestamp table must NOT stage: pyarrow's v2.6 writer
    would turn INT96 into TIMESTAMP(NANOS), flipping the events read
    onto the legacy nanos branch (ADVICE r15)."""
    path = tmp_path / "events.parquet"
    _write_events(path, int96=True)
    sch = pq.ParquetFile(path).schema
    assert sch.column(sch.names.index("ts")).physical_type == "INT96"
    assert path.stat().st_size >= catalog._SPLIT_MIN_BYTES
    monkeypatch.setenv("SPARK_GRAFT_SPLIT_STAGE", "1")
    got = catalog._split_staged_path(str(tmp_path), "events")
    assert got == str(path), "INT96 relayout must be discarded"


def test_split_stage_int96_guard_checks_every_file(tmp_path, monkeypatch):
    """A two-file table whose SECOND file alone carries an INT96 ts
    must not stage either: the guard compares every original file with
    its relayout, not just the first."""
    table_dir = tmp_path / "events.parquet"
    table_dir.mkdir()
    _write_events(table_dir / "part-0.parquet", int96=False)
    _write_events(table_dir / "part-1.parquet", int96=True)
    monkeypatch.setenv("SPARK_GRAFT_SPLIT_STAGE", "1")
    got = catalog._split_staged_path(str(tmp_path), "events")
    assert got == str(table_dir), "INT96 relayout must be discarded"


def _write_events(path, int96: bool, n: int = 70_000) -> None:
    """One single-row-group events file with a µs ``ts`` (INT96 when
    asked), padded so the file alone reaches _SPLIT_MIN_BYTES."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    pad = b"x" * -(-catalog._SPLIT_MIN_BYTES // n)
    tbl = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(
                [base + dt.timedelta(seconds=i) for i in range(n)],
                pa.timestamp("us"),
            ),
            "pad": pa.array([pad] * n, pa.binary()),
        }
    )
    pq.write_table(
        tbl,
        path,
        row_group_size=n,
        compression="none",
        use_dictionary=False,
        use_deprecated_int96_timestamps=int96,
    )
