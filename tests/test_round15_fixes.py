"""Round-15 behavior pins.

1. The media fixture cycle's two new slots (r14 verdict item 2):
   palette PNG (type 3) and baseline JPEG decode to the exact
   closed-form byte rules the DuckDB oracle recomputes — including
   the JPEG slot's by-construction bit-exactness (greyscale,
   blockwise-constant, quality 100 → DC-only blocks, unit quant).
2. The jpeg decoder's two new loud-failure shapes (r14 ADVICE):
   single-component scans of subsampled components and RGB-colorspace
   streams raise instead of silently decoding wrong.
3. The OR-amplified embedding pair pass (r14 verdict item 1): the L
   rule's pinned values, the membership table's L·c-rows-per-vector
   shape, and the grade's floor behavior at the driver fixture.
"""

from __future__ import annotations

import hashlib

import pytest

from frinesis_spark.functions.jpeg import jpeg_decode, jpeg_encode
from frinesis_spark.functions.png import png_decode
from frinesis_spark.operators.multimodal import (
    _JPEG_H_BASE,
    _JPEG_H_MOD,
    _JPEG_W_BASE,
    _JPEG_W_MOD,
    _PLTE_ENTRIES,
    _PNG_EVERY,
    _PNG_H_BASE,
    _PNG_H_MOD,
    _PNG_W_BASE,
    _PNG_W_MOD,
    _jpeg_payload,
    _media_codec,
    _media_slot,
    _png_payload,
)


def _palette_expected(doc_id: int, w: int, h: int) -> bytes:
    return bytes(
        32
        + (
            doc_id
            + 7 * (3 * ((doc_id + 11 * (m // 3)) % _PLTE_ENTRIES) + m % 3)
        )
        % 95
        for m in range(w * h * 3)
    )


def _jpeg_expected(doc_id: int, w: int, h: int) -> bytes:
    return bytes(
        32 + (doc_id + 13 * (((i // 3) % w) // 8) + 29 * (((i // 3) // w) // 8))
        % 95
        for i in range(w * h * 3)
    )


class TestPaletteFixtureSlot:
    """Slot 4 of the six-slot cycle: type-3 PNG, indices expanded
    through PLTE to the closed-form RGB rule."""

    @pytest.mark.parametrize("doc_id", [40, 100, 340, 1240])
    def test_palette_payload_decodes_to_oracle_rule(self, doc_id):
        assert _media_slot(doc_id) == 4 and _media_codec(doc_id) == "png"
        w, h, ch, px = png_decode(_png_payload(doc_id))
        assert (w, h, ch) == (
            doc_id % _PNG_W_MOD + _PNG_W_BASE,
            doc_id % _PNG_H_MOD + _PNG_H_BASE,
            3,  # decoder expands indices to RGB
        )
        assert px == _palette_expected(doc_id, w, h)
        assert all(32 <= b < 127 for b in px)  # chr()/md5 SQL parity

    def test_duckdb_palette_expression_parity(self):
        duckdb = pytest.importorskip("duckdb")
        from frinesis_spark.operators.multimodal import _PLTE_BYTE_SQL

        for doc_id in (40, 340):
            w = doc_id % _PNG_W_MOD + _PNG_W_BASE
            h = doc_id % _PNG_H_MOD + _PNG_H_BASE
            (sql_hash,) = duckdb.sql(
                f"""
                SELECT MD5(ARRAY_TO_STRING(
                    LIST_TRANSFORM(
                        RANGE(0, {w * h * 3}),
                        i -> CHR(CAST(
                            {_PLTE_BYTE_SQL.format(i="i").replace("doc_id", str(doc_id))}
                            AS INT))),
                    ''))
                """
            ).fetchone()
            _, _, _, px = png_decode(_png_payload(doc_id))
            assert sql_hash == hashlib.md5(px).hexdigest()


class TestJpegFixtureSlot:
    """Slot 5: baseline JPEG whose roundtrip is bit-exact BY
    CONSTRUCTION (greyscale + blockwise-constant + quality 100), so
    the decode oracle stays closed-form despite the lossy codec."""

    @pytest.mark.parametrize("doc_id", [50, 110, 350, 1250])
    def test_jpeg_payload_decodes_bit_exact(self, doc_id):
        assert _media_codec(doc_id) == "jpeg"
        w, h, px = jpeg_decode(_jpeg_payload(doc_id))
        assert (w, h) == (
            doc_id % _JPEG_W_MOD + _JPEG_W_BASE,
            doc_id % _JPEG_H_MOD + _JPEG_H_BASE,
        )
        assert px == _jpeg_expected(doc_id, w, h)

    def test_jpeg_dims_exercise_edge_crop_and_dc_chains(self):
        # The dim rules must produce non-8-aligned sizes (edge crop)
        # and multi-block images (DC differential chains) somewhere in
        # the cycle.
        dims = {
            (d % _JPEG_W_MOD + _JPEG_W_BASE, d % _JPEG_H_MOD + _JPEG_H_BASE)
            for d in range(50, 50 + 600 * _PNG_EVERY, 6 * _PNG_EVERY)
        }
        assert any(w % 8 and h % 8 for w, h in dims)
        assert any(w > 16 and h > 16 for w, h in dims)  # ≥ 3×3 blocks

    def test_duckdb_jpeg_expression_parity(self):
        duckdb = pytest.importorskip("duckdb")
        from frinesis_spark.operators.multimodal import _JPEG_BYTE_SQL

        for doc_id in (50, 350):
            w = doc_id % _JPEG_W_MOD + _JPEG_W_BASE
            h = doc_id % _JPEG_H_MOD + _JPEG_H_BASE
            expr = (
                _JPEG_BYTE_SQL.format(i="i")
                .replace("doc_id", str(doc_id))
                .replace("w", str(w))
            )
            (sql_hash,) = duckdb.sql(
                f"""
                SELECT MD5(ARRAY_TO_STRING(
                    LIST_TRANSFORM(
                        RANGE(0, {w * h * 3}),
                        i -> CHR(CAST({expr} AS INT))),
                    ''))
                """
            ).fetchone()
            _, _, px = jpeg_decode(_jpeg_payload(doc_id))
            assert sql_hash == hashlib.md5(px).hexdigest()


class TestJpegLoudFailureShapes:
    """r14 ADVICE: the decoder must refuse, not silently mis-decode."""

    def test_single_component_subsampled_scan_raises(self):
        # A frame whose ONLY component declares 2x2 sampling: T.81
        # A.2 makes its ns=1 scan non-interleaved, which this
        # interleaved decoder must refuse (the check fires during
        # header validation, before any scan bits are read). Built by
        # replacing the encoder output's 3-component SOF0/SOS with a
        # 1-component pair.
        data = jpeg_encode(16, 16, bytes(16 * 16 * 3), quality=75)
        i = data.find(b"\xff\xc0")
        j = data.find(b"\xff\xda")
        assert 0 < i < j
        # SOF0: len=2+6+3=11, precision 8, keep h/w bytes, nc=1,
        # component id 1 with h=v=2 (0x22), qtable 0.
        new_sof = (
            b"\xff\xc0"
            + (11).to_bytes(2, "big")
            + bytes([8])
            + data[i + 5 : i + 9]
            + bytes([1, 1, 0x22, 0])
        )
        # SOS: len=2+1+2+3=8, ns=1 selecting component 1, tables 0/0.
        new_sos = b"\xff\xda" + (8).to_bytes(2, "big") + bytes(
            [1, 1, 0x00, 0, 63, 0]
        )
        old_sof_total = 2 + 17  # 3-component SOF0 segment
        old_sos_total = 2 + 12  # 3-component SOS header
        patched = (
            data[:i]
            + new_sof
            + data[i + old_sof_total : j]
            + new_sos
            + data[j + old_sos_total :]
        )
        with pytest.raises(ValueError, match="non-interleaved"):
            jpeg_decode(patched)

    def test_adobe_transform_zero_raises(self):
        data = jpeg_encode(8, 8, bytes(8 * 8 * 3), quality=75)
        # Splice an APP14 "Adobe" marker with transform=0 after SOI.
        app14_body = b"Adobe" + bytes([0, 100, 0, 0, 0, 0, 0])
        app14 = b"\xff\xee" + (len(app14_body) + 2).to_bytes(2, "big") + app14_body
        with pytest.raises(ValueError, match="RGB-colorspace"):
            jpeg_decode(data[:2] + app14 + data[2:])

    def test_rgb_component_ids_raise(self):
        data = bytearray(jpeg_encode(8, 8, bytes(8 * 8 * 3), quality=75))
        i = data.index(b"\xff\xc0")
        # component ids live at offsets +10, +13, +16 inside SOF0
        data[i + 10], data[i + 13], data[i + 16] = ord("R"), ord("G"), ord("B")
        j = data.index(b"\xff\xda")
        # SOS component selectors must reference the renamed ids
        data[j + 5], data[j + 7], data[j + 9] = ord("R"), ord("G"), ord("B")
        with pytest.raises(ValueError, match="RGB-colorspace"):
            jpeg_decode(bytes(data))


class TestOrAmplifiedPairPass:
    """r14 verdict item 1: the L rule and membership shape."""

    def test_partition_rule_pinned_values(self):
        from frinesis_spark.operators.dedup import _emb_ann_partitions

        # (lists, c=4) → L at the four measured geometries; these are
        # the deployed values the SCALE.md table records.
        assert _emb_ann_partitions(64, 4) == 1
        assert _emb_ann_partitions(141, 4) == 2
        assert _emb_ann_partitions(447, 4) == 4
        assert _emb_ann_partitions(1414, 4) == 7

    def test_partition_rule_is_bounded(self):
        from frinesis_spark.operators.dedup import (
            _EMB_ANN_MAX_PARTITIONS,
            _emb_ann_partitions,
        )

        assert _emb_ann_partitions(10**9, 4) <= _EMB_ANN_MAX_PARTITIONS
        assert _emb_ann_partitions(1, 4) == 1  # tiny corpus degenerates

    def test_membership_shape_and_grade(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from frinesis_spark.catalog import table
        from frinesis_spark.operators import similarity as S
        from frinesis_spark.operators.dedup import (
            _emb_ann_assign,
            _emb_ann_membership,
            _emb_ann_partitions,
            q_dedup_embedding_ann,
        )

        n = table(spark, sf_dir, "embeddings").count()
        L = _emb_ann_partitions(S._ivf_lists(n), _emb_ann_assign())
        memb = _emb_ann_membership(spark, sf_dir)
        # Exactly L·c assignment rows per vector, all distinct cells
        # within a partition (top-c of an argsort).
        per_vec = memb.groupBy("vec_id").count().select("count").distinct()
        assert [r["count"] for r in per_vec.collect()] == [
            L * _emb_ann_assign()
        ]
        dup_cells = (
            memb.groupBy("vec_id", "part", "cell")
            .count()
            .where(F.col("count") > 1)
            .count()
        )
        assert dup_cells == 0
        row = q_dedup_embedding_ann(spark, sf_dir).collect()[0]
        assert row["recall_floor_met"] is True


class TestRoundRobinPartitionKeys:
    """Fallback partition keys: a fresh UUIDv4 per record (A16,
    sink.go:76 / utils.go:16-19); a caller's key always wins."""

    def test_uuid_default_unchanged_and_explicit_key_wins(self):
        from frinesis_spark.sinks.kinesis import BatchProducer
        from frinesis_spark.sinks.mock import MockKinesisClient

        prod = BatchProducer(MockKinesisClient(), "topic-a")
        prod.add(b"x")
        prod.add(b"y", partition_key="explicit")
        keys = [pk for _, pk, _ in prod._buffer]
        assert len(keys[0]) == 36 and keys[0].count("-") == 4  # UUIDv4
        assert keys[1] == "explicit"
