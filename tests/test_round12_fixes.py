"""Round-12 items: the stdlib PNG codec behind multimodal decode/resize
(VERDICT r11 item 2) and this round's smaller fixes."""

from __future__ import annotations

import hashlib

import pytest

from frinesis_spark.functions.png import (
    paeth_predictor,
    png_decode,
    png_encode,
    png_probe_dims,
)
from frinesis_spark.operators.multimodal import (
    _PNG_EVERY,
    _PNG_H_BASE,
    _PNG_H_MOD,
    _PNG_W_BASE,
    _PNG_W_MOD,
    _png_payload,
)


class TestPaeth:
    def test_spec_tie_break_order(self):
        # Ties break a (left) > b (up) > c (up-left) — spec §9.4.
        assert paeth_predictor(0, 0, 0) == 0
        assert paeth_predictor(5, 5, 5) == 5  # all equal -> a
        # p = a+b-c; hand-computed cases
        # a=10,b=20,c=15 -> p=15: pa=5, pb=5, pc=0 -> c
        assert paeth_predictor(10, 20, 15) == 15
        # a=100,b=2,c=3 -> p=99: pa=1, pb=97, pc=96 -> a
        assert paeth_predictor(100, 2, 3) == 100
        # a=2,b=100,c=3 -> p=99: pa=97, pb=1, pc=96 -> b
        assert paeth_predictor(2, 100, 3) == 100

    def test_prefers_left_on_tie_with_up(self):
        # a and b equidistant from p: must pick a.
        # a=4,b=8,c=6 -> p=6, pa=2, pb=2, pc=0 -> c wins outright
        assert paeth_predictor(4, 8, 6) == 6
        # a=4,b=8,c=12 -> p=0, pa=4, pb=8, pc=12 -> a
        assert paeth_predictor(4, 8, 12) == 4


class TestPngRoundTrip:
    @pytest.mark.parametrize("seed", range(5))
    def test_every_filter_type_round_trips(self, seed):
        # filter_seed rotates (seed + y) % 5 per scanline, so height>=5
        # exercises every filter type in one image.
        import numpy as np

        rng = np.random.default_rng(seed)
        w, h = int(rng.integers(1, 40)), int(rng.integers(5, 30))
        rgb = bytes(rng.integers(0, 256, w * h * 3, dtype=np.uint8))
        data = png_encode(w, h, rgb, filter_seed=seed)
        assert data[:8] == b"\x89PNG\r\n\x1a\n"
        w2, h2, ch2, rgb2 = png_decode(data)
        assert (w2, h2, ch2) == (w, h, 3)
        assert rgb2 == rgb

    def test_one_pixel(self):
        data = png_encode(1, 1, b"\x01\x02\x03")
        assert png_decode(data) == (1, 1, 3, b"\x01\x02\x03")

    def test_probe_matches_decode(self):
        data = png_encode(7, 3, bytes(range(7 * 3 * 3)), filter_seed=2)
        assert png_probe_dims(data) == png_decode(data)[:2]

    def test_wrong_payload_size_rejected(self):
        with pytest.raises(ValueError, match="expected 2x2x3"):
            png_encode(2, 2, b"short")


class TestPngValidation:
    def test_bad_signature(self):
        with pytest.raises(ValueError, match="signature"):
            png_decode(b"JFIF" + bytes(100))
        with pytest.raises(ValueError, match="signature"):
            png_probe_dims(b"JFIF" + bytes(100))

    def test_crc_corruption_detected(self):
        data = bytearray(png_encode(4, 4, bytes(48)))
        data[20] ^= 0xFF  # flip a byte inside the IHDR body
        with pytest.raises(ValueError, match="CRC"):
            png_decode(bytes(data))
        with pytest.raises(ValueError, match="CRC"):
            png_probe_dims(bytes(data))

    def test_unsupported_shape_named(self):
        # Rebuild an IHDR claiming Adam7 interlace (the shape the
        # codec genuinely excludes — all five 8-bit color types are
        # supported as of r13): the decoder must name the unsupported
        # field, not mis-decode.
        import struct
        import zlib

        ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1)
        chunk = (
            struct.pack(">I", 13)
            + b"IHDR"
            + ihdr
            + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
        )
        data = b"\x89PNG\r\n\x1a\n" + chunk
        with pytest.raises(ValueError, match="interlace=1"):
            png_decode(data)

    def test_invalid_scanline_filter(self):
        import struct
        import zlib

        ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 2, 0, 0, 0)

        def chunk(tag, body):
            return (
                struct.pack(">I", len(body))
                + tag
                + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
            )

        raw = bytes([9, 1, 2, 3])  # filter 9 does not exist
        data = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b"")
        )
        with pytest.raises(ValueError, match="invalid filter 9"):
            png_decode(data)


class TestFixturePayloads:
    """The registered queries' PNG branch: payloads are real PNGs whose
    decode the DuckDB oracle recomputes from the generation rule."""

    # doc_ids land on direct-layout slots of the r15 six-slot cycle
    # (12340 was a direct slot under the r13 4-cycle but is the
    # palette slot under the 6-cycle — its decode rule moved to
    # test_round15_fixes; 12360 is slot 0 = RGB).
    @pytest.mark.parametrize("doc_id", [0, 10, 20, 130, 12360])
    def test_payload_decodes_to_oracle_rule(self, doc_id):
        assert doc_id % _PNG_EVERY == 0
        w, h, ch, rgb = png_decode(_png_payload(doc_id))
        from frinesis_spark.operators.multimodal import _png_ctype, _PNG_BPP

        assert ch == _PNG_BPP[_png_ctype(doc_id)]
        assert w == doc_id % _PNG_W_MOD + _PNG_W_BASE
        assert h == doc_id % _PNG_H_MOD + _PNG_H_BASE
        expect = bytes(
            32 + (doc_id + 7 * i) % 95 for i in range(w * h * ch)
        )
        assert rgb == expect
        # printable-ASCII invariant: the oracle builds this exact
        # string with chr(); a byte >= 128 would break the SQL parity
        assert all(32 <= b < 127 for b in rgb)  # noqa: keep rule-pinned
        assert hashlib.md5(rgb).hexdigest() == hashlib.md5(expect).hexdigest()

    def test_payloads_cover_all_filters(self):
        # filter_seed=doc_id and h>=3: across consecutive png doc_ids
        # the scanline filters cover all five types.
        seen = set()
        for doc_id in range(0, 100, _PNG_EVERY):
            h = doc_id % _PNG_H_MOD + _PNG_H_BASE
            seen |= {(doc_id + y) % 5 for y in range(h)}
        assert seen == {0, 1, 2, 3, 4}

    def test_duckdb_oracle_expression_parity(self):
        """The exact SQL fragment the oracle uses must reproduce the
        Python-side decoded-pixel hash (guards the chr()/encoding
        assumption independent of the driver run)."""
        duckdb = pytest.importorskip("duckdb")
        from frinesis_spark.operators.multimodal import _png_ctype, _PNG_BPP

        for doc_id in (0, 20, 130):
            w = doc_id % _PNG_W_MOD + _PNG_W_BASE
            h = doc_id % _PNG_H_MOD + _PNG_H_BASE
            bpp = _PNG_BPP[_png_ctype(doc_id)]
            (sql_hash,) = duckdb.sql(
                f"""
                SELECT MD5(ARRAY_TO_STRING(
                    LIST_TRANSFORM(
                        RANGE(0, {w * h * bpp}),
                        i -> CHR(CAST(32 + ({doc_id} + 7 * i) % 95 AS INT))),
                    ''))
                """
            ).fetchone()
            _, _, _, px = png_decode(_png_payload(doc_id))
            assert sql_hash == hashlib.md5(px).hexdigest()


def test_stream_partitions_env_parse_message(monkeypatch):
    """ADVICE r11: a non-numeric override must fail with the same
    actionable message shape as the out-of-range case."""
    from frinesis_spark.streaming.runner import stream_state_partitions

    monkeypatch.setenv("SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS", "8x")
    with pytest.raises(ValueError, match="must be an integer >= 1, got '8x'"):
        stream_state_partitions(32, 32)
    monkeypatch.setenv("SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS", "0")
    with pytest.raises(ValueError, match="must be >= 1, got '0'"):
        stream_state_partitions(32, 32)
    monkeypatch.setenv("SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS", "6")
    assert stream_state_partitions(32, 32) == 6


class TestAnnAudit:
    """dedup_embedding_ann_audit (r11 verdict item 4): the sampled
    production grading shape. Differential contract: the audit exact
    side must equal the full exact pair set filtered by the audit
    predicate — same pairs, same rounded cosines."""

    def test_audit_exact_equals_filtered_full(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from frinesis_spark.operators import dedup as D
        from frinesis_spark.operators.text import _md5_bucket

        from frinesis_spark.catalog import table

        mod = D._ann_audit_mod(table(spark, sf_dir, "embeddings").count())
        audit = D.audit_exact_cosine_pairs(spark, sf_dir)
        full = D.q_dedup_embedding_cosine(spark, sf_dir).where(
            (_md5_bucket(F.col("a_id"), mod) == 0)
            | (_md5_bucket(F.col("b_id"), mod) == 0)
        )
        a = {tuple(r) for r in audit.collect()}
        f = {tuple(r) for r in full.collect()}
        assert a == f
        # canonical ordering + no self pairs + distinct held
        assert all(x < y for x, y, _ in a)
        assert audit.count() == len(a)

    def test_registered_query_grades_true(self, spark, sf_dir):
        from frinesis_spark.operators.dedup import (
            q_dedup_embedding_ann_audit,
        )

        row = q_dedup_embedding_ann_audit(spark, sf_dir).collect()[0]
        # sf0.01 fixture: 1 sampled exact pair, hit (recall 1.0);
        # vacuous-empty also grades TRUE by the _pair_recall_check
        # contract — either way the boolean must be TRUE and non-NULL.
        assert row.recall_floor_met is True
        assert row.n_sampled_exact_pairs >= 0


class TestStreamDedupBounded:
    """stream_dedup_bounded (r11 verdict item 6): the bounded-state
    production dedup, verified — not described."""

    def _run_with_progress(self, spark, stage, bounded: bool, tmp_path):
        from frinesis_spark.streaming.runner import replay
        from frinesis_spark.streaming.windows import _WATERMARK

        ev = replay(spark, stage)
        if bounded:
            ded = ev.withWatermark(
                "ts", _WATERMARK
            ).dropDuplicatesWithinWatermark(["event_id"])
        else:
            ded = ev.dropDuplicates(["event_id"])
        name = f"dd_diff_{'b' if bounded else 'e'}"
        q = (
            ded.select("event_id")
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / name))
            .start()
        )
        try:
            q.processAllAvailable()
            state_rows = [
                p["stateOperators"][0]["numRowsTotal"]
                for p in q.recentProgress
                if p["stateOperators"] and p["numInputRows"]
            ]
            emitted = spark.sql(
                f"SELECT COUNT(*) c FROM {name}"
            ).first().c
        finally:
            q.stop()
        return state_rows, emitted

    def test_state_stays_flat_vs_exact(self, spark, sf_dir, tmp_path):
        from frinesis_spark.streaming.windows import (
            _REPLAY_MOD,
            dedup_replay_stage,
        )

        stage = dedup_replay_stage(spark, sf_dir)
        b_state, b_emit = self._run_with_progress(
            spark, stage, True, tmp_path
        )
        e_state, e_emit = self._run_with_progress(
            spark, stage, False, tmp_path
        )
        from frinesis_spark.catalog import table

        ev = table(spark, sf_dir, "events")
        n_ids = ev.select("event_id").distinct().count()
        n_beyond = (
            ev.where(ev.event_id % _REPLAY_MOD == 1)
            .select("event_id")
            .distinct()
            .count()
        )
        # Contract: exact emits each id once; bounded re-emits the
        # beyond-watermark replays.
        assert e_emit == n_ids
        assert b_emit == n_ids + n_beyond
        # Exact's state is cumulative distinct ids — it ends at n.
        assert e_state[-1] == n_ids
        assert e_state == sorted(e_state)  # monotone growth
        # Bounded state is O(ids per watermark horizon per batch):
        # every batch's state is at most one bucket's ids (plus the
        # eviction lag), never the cumulative total.
        assert max(b_state) < 0.35 * n_ids
        assert b_state[-1] < 0.35 * n_ids
