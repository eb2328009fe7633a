"""Round-13 items: widened PNG codec (color types 0/2/4/6 — VERDICT
r12 item 7), real pixel resample in multimodal_resize (item 3),
size-absolute ANN audit slice (item 5), family-conditional simhash
recall floors (item 6), and the r12 ADVICE fixes (truncation
ValueError, NULL-ts staging assert, pair-key audit dedupe)."""

from __future__ import annotations

import hashlib

import pytest

from frinesis_spark.functions.png import (
    png_decode,
    png_encode,
    png_probe_dims,
)
from frinesis_spark.operators.multimodal import (
    _PNG_BPP,
    _PNG_CTYPES,
    _PNG_EVERY,
    _png_ctype,
    _png_payload,
)


class TestPngColorTypes:
    """Verdict item 7: greyscale (0), grey+alpha (4) and RGBA (6)
    round-trip through the stdlib codec alongside RGB (2)."""

    @pytest.mark.parametrize("ctype", [0, 2, 4, 6])
    @pytest.mark.parametrize("seed", [0, 3])
    def test_round_trip_every_color_type(self, ctype, seed):
        import numpy as np

        bpp = _PNG_BPP[ctype]
        rng = np.random.default_rng(seed * 10 + ctype)
        w, h = int(rng.integers(1, 30)), int(rng.integers(5, 20))
        px = bytes(rng.integers(0, 256, w * h * bpp, dtype=np.uint8))
        data = png_encode(w, h, px, filter_seed=seed, color_type=ctype)
        assert png_decode(data) == (w, h, bpp, px)
        assert png_probe_dims(data) == (w, h)

    def test_encode_rejects_palette_and_bad_sizes(self):
        with pytest.raises(ValueError, match="color_type 3"):
            png_encode(2, 2, bytes(4), color_type=3)
        with pytest.raises(ValueError, match="expected 2x2x1"):
            png_encode(2, 2, bytes(5), color_type=0)

    def test_fixture_cycles_all_five_png_types(self):
        # r15 widened the media cycle to six slots (5 png color types
        # + baseline jpeg); png rows must still cover every stdlib
        # color type, palette included.
        from frinesis_spark.operators.multimodal import _media_codec

        seen = {
            _png_ctype(doc_id)
            for doc_id in range(0, 60 * _PNG_EVERY, _PNG_EVERY)
            if _media_codec(doc_id) == "png"
        }
        assert seen == set(_PNG_CTYPES) == {0, 2, 3, 4, 6}

    @pytest.mark.parametrize("doc_id", [0, 10, 20, 30])
    def test_fixture_payload_per_type(self, doc_id):
        # doc_id 0 -> RGB, 10 -> grey, 20 -> RGBA, 30 -> grey+alpha
        w, h, ch, px = png_decode(_png_payload(doc_id))
        assert ch == _PNG_BPP[_png_ctype(doc_id)]
        assert len(px) == w * h * ch
        assert px == bytes(
            32 + (doc_id + 7 * i) % 95 for i in range(w * h * ch)
        )


class TestPngTruncation:
    """r12 ADVICE: a truncated payload must raise ValueError (the
    documented malformed-media contract), never a bare struct.error."""

    def _payload(self):
        return png_encode(6, 6, bytes(range(6 * 6 * 3)), filter_seed=1)

    @pytest.mark.parametrize("cut", [9, 14, 33, 40, -5, -1])
    def test_decode_truncated_raises_valueerror(self, cut):
        data = self._payload()
        truncated = data[:cut] if cut > 0 else data[:cut]
        with pytest.raises(ValueError):
            png_decode(truncated)

    def test_truncation_message_names_truncation(self):
        data = self._payload()
        # cut inside the IDAT chunk body: header parses, body+CRC short
        with pytest.raises(ValueError, match="truncated PNG"):
            png_decode(data[:-6])
        # cut inside a chunk header
        with pytest.raises(ValueError, match="truncated PNG"):
            png_decode(data[:35])

    def test_probe_truncated_raises_valueerror(self):
        data = self._payload()
        with pytest.raises(ValueError, match="truncated PNG"):
            png_probe_dims(data[:20])


class TestResizeResample:
    """Verdict item 3: the png branch of multimodal_resize resamples
    REAL decoded pixels (floor nearest-neighbor) and hashes them."""

    def _expected_thumb_hash(self, doc_id: int) -> tuple[int, int, int, str]:
        import numpy as np

        w, h, ch, px = png_decode(_png_payload(doc_id))
        out_w = max(w * 128 // max(w, h), 1)
        out_h = max(h * 128 // max(w, h), 1)
        arr = np.frombuffer(px, np.uint8).reshape(h, w, ch)
        sy = (np.arange(out_h, dtype=np.int64) * h) // out_h
        sx = (np.arange(out_w, dtype=np.int64) * w) // out_w
        thumb = arr[sy][:, sx]
        return out_w, out_h, ch, hashlib.md5(thumb.tobytes()).hexdigest()

    @pytest.mark.parametrize("doc_id", [0, 10, 20, 30, 130])
    def test_oracle_sql_fragment_matches_numpy_resample(self, doc_id):
        """The DuckDB index-map expression must reproduce the numpy
        gather byte for byte — the same independent-recomputation
        contract decode got in r12."""
        duckdb = pytest.importorskip("duckdb")

        from frinesis_spark.operators.multimodal import (
            _PNG_H_BASE,
            _PNG_H_MOD,
            _PNG_W_BASE,
            _PNG_W_MOD,
        )

        w = doc_id % _PNG_W_MOD + _PNG_W_BASE
        h = doc_id % _PNG_H_MOD + _PNG_H_BASE
        bpp = _PNG_BPP[_png_ctype(doc_id)]
        out_w, out_h, ch, expect_hash = self._expected_thumb_hash(doc_id)
        assert ch == bpp
        (sql_hash,) = duckdb.sql(
            f"""
            SELECT MD5(ARRAY_TO_STRING(
                LIST_TRANSFORM(
                    RANGE(0, {out_w * out_h * bpp}),
                    i -> CHR(CAST(32 + ({doc_id} + 7 * (
                             {bpp} * (
                                 (((i // {out_w * bpp}) * {h}) // {out_h})
                                     * {w}
                                 + ((((i % {out_w * bpp}) // {bpp}) * {w})
                                    // {out_w})
                             ) + (i % {bpp})
                         )) % 95 AS INT))),
                '')) AS thumb_hash
            """
        ).fetchone()
        assert sql_hash == expect_hash

    def test_registered_resize_emits_real_hashes(self, spark, sf_dir):
        from frinesis_spark.operators.multimodal import q_multimodal_resize

        rows = (
            q_multimodal_resize(spark, sf_dir)
            .where(f"doc_id % {_PNG_EVERY} = 0")
            .orderBy("doc_id")
            .limit(4)
            .collect()
        )
        assert rows
        for r in rows:
            out_w, out_h, ch, expect = self._expected_thumb_hash(r.doc_id)
            assert (r.out_width, r.out_height) == (out_w, out_h)
            assert r.thumb_bytes == out_w * out_h * ch
            assert r.thumb_hash == expect

    def test_fake_rows_have_null_hash(self, spark, sf_dir):
        from frinesis_spark.operators.multimodal import q_multimodal_resize

        r = (
            q_multimodal_resize(spark, sf_dir)
            .where(f"doc_id % {_PNG_EVERY} <> 0")
            .limit(1)
            .collect()[0]
        )
        assert r.thumb_hash is None


class TestAnnAuditSizeAbsolute:
    """Verdict item 5: the audit slice holds ~_ANN_AUDIT_TARGET
    vectors regardless of corpus size — the O(n) grading shape."""

    def test_mod_arithmetic(self):
        from frinesis_spark.operators.dedup import (
            _ANN_AUDIT_MOD_FLOOR,
            _ANN_AUDIT_TARGET,
            _ann_audit_mod,
        )

        assert _ann_audit_mod(500) == _ANN_AUDIT_MOD_FLOOR  # sf0.01
        assert _ann_audit_mod(2_000) == 20  # sf0.1
        assert _ann_audit_mod(20_000) == 200  # sf1
        assert _ann_audit_mod(200_000) == 2_000  # sf10
        # audit-set size stays ~target once past the floor regime
        for n in (2_000, 20_000, 200_000, 2_000_000):
            assert n // _ann_audit_mod(n) == _ANN_AUDIT_TARGET

    def test_oracle_mod_expression_matches(self):
        """The GREATEST(...COUNT(*)...) SQL must equal
        _ann_audit_mod for the corpus sizes the sweep uses."""
        duckdb = pytest.importorskip("duckdb")

        from frinesis_spark.operators.dedup import (
            _ANN_AUDIT_MOD_FLOOR,
            _ANN_AUDIT_TARGET,
            _ann_audit_mod,
        )

        for n in (500, 2_000, 20_000, 200_000):
            (mod,) = duckdb.sql(
                f"SELECT GREATEST({_ANN_AUDIT_MOD_FLOOR}, "
                f"CAST({n} AS BIGINT) // {_ANN_AUDIT_TARGET})"
            ).fetchone()
            assert mod == _ann_audit_mod(n)

    def test_restricted_candidates_equal_filtered_full(self, spark, sf_dir):
        """The sf10 flag fix's correctness contract: pushing the audit
        predicate into candidate generation must yield EXACTLY the
        full candidate set filtered by the predicate — same pairs,
        same rounded cosines."""
        from pyspark.sql import functions as F

        from frinesis_spark.catalog import table
        from frinesis_spark.operators.dedup import (
            _ann_audit_mod,
            embedding_ann_pairs,
        )
        from frinesis_spark.operators.text import _md5_bucket

        mod = _ann_audit_mod(table(spark, sf_dir, "embeddings").count())
        restricted = {
            tuple(r)
            for r in embedding_ann_pairs(
                spark, sf_dir, audit_mod=mod
            ).collect()
        }
        full_filtered = {
            tuple(r)
            for r in embedding_ann_pairs(spark, sf_dir)
            .where(
                (_md5_bucket(F.col("a_id"), mod) == 0)
                | (_md5_bucket(F.col("b_id"), mod) == 0)
            )
            .collect()
        }
        assert restricted == full_filtered

    def test_audit_pairs_deduped_on_pair_key(self, spark, sf_dir):
        """r12 ADVICE: one row per (a_id, b_id) even if the two matmul
        orientations were to round differently at the last ulp."""
        from frinesis_spark.operators.dedup import audit_exact_cosine_pairs

        pairs = audit_exact_cosine_pairs(spark, sf_dir)
        assert pairs.count() == pairs.select("a_id", "b_id").distinct().count()


class TestSimhashFamilyFloors:
    """Verdict item 6: per-corpus-family recall floors — 80 closed
    vocab, 55 open Heaps-law — so a closed-family regression can no
    longer hide under the open-family floor."""

    def test_closed_family_detected(self, spark, sf_dir):
        from frinesis_spark.operators.dedup import (
            _SIMHASH_RECALL_FLOOR_CLOSED_PCT,
            _simhash_recall_floor_pct,
        )

        assert (
            _simhash_recall_floor_pct(spark, sf_dir)
            == _SIMHASH_RECALL_FLOOR_CLOSED_PCT
        )

    def test_open_family_detected(self, spark, tmp_path):
        from frinesis_spark.operators.dedup import (
            _SIMHASH_RECALL_FLOOR_OPEN_PCT,
            _simhash_recall_floor_pct,
        )
        from tools.gen_fixtures import generate

        out = str(tmp_path / "heaps")
        generate(0.001, out)
        assert (
            _simhash_recall_floor_pct(spark, out)
            == _SIMHASH_RECALL_FLOOR_OPEN_PCT
        )

    def test_planted_closed_family_regression_caught(self, spark, sf_dir):
        """Differential (the verdict's done-criterion): thin the
        simhash candidate set to ~62% recall on the closed fixture.
        The old cross-family floor (55) graded that TRUE; the
        family-conditional floor (80) must grade it FALSE."""
        from pyspark.sql import functions as F

        from frinesis_spark.operators.dedup import (
            _SIMHASH_RECALL_FLOOR_CLOSED_PCT,
            _SIMHASH_RECALL_FLOOR_OPEN_PCT,
            _pair_recall_check,
            q_dedup_ngram_jaccard,
            simhash_pairs,
        )

        exact = q_dedup_ngram_jaccard(spark, sf_dir)
        # deterministic thinning: drop one of five pmod buckets —
        # measured recall on the sf0.001 fixture: 17/28 = 0.607,
        # inside the (55, 80) window the differential needs
        thinned = simhash_pairs(spark, sf_dir).where(
            F.pmod(F.xxhash64("doc_a", "doc_b"), F.lit(5)) != 0
        )
        old_floor_row = _pair_recall_check(
            exact, thinned, _SIMHASH_RECALL_FLOOR_OPEN_PCT
        ).collect()[0]
        new_floor_row = _pair_recall_check(
            exact, thinned, _SIMHASH_RECALL_FLOOR_CLOSED_PCT
        ).collect()[0]
        assert old_floor_row.recall_floor_met is True  # the masked case
        assert new_floor_row.recall_floor_met is False  # now caught


class TestNullTsStaging:
    """r12 ADVICE: a NULL-ts event must fail the dedup-replay staging
    loudly instead of silently vanishing from the staged stream."""

    def test_null_ts_raises(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from frinesis_spark.streaming.windows import dedup_replay_stage

        out = tmp_path / "nullts"
        out.mkdir()
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([0, 1, 2], pa.int64()),
                    "ts": pa.array(
                        [1_700_000_000_000_000, None, 1_700_000_060_000_000],
                        pa.timestamp("us"),
                    ),
                }
            ),
            str(out / "events.parquet"),
        )
        with pytest.raises(ValueError, match="NULL-ts"):
            dedup_replay_stage(spark, str(out))


class TestPngPalette:
    """Color type 3 (the last 8-bit layout): PLTE round-trip, index
    expansion to RGB on decode, loud failures on the shapes that
    would silently lose data."""

    def _palette(self, n=5):
        return bytes((i * 11 + c * 3) % 256 for i in range(n) for c in range(3))

    def test_round_trip_expands_to_rgb(self):
        pal = self._palette(5)
        w, h = 4, 6
        idx = bytes((x + y) % 5 for y in range(h) for x in range(w))
        data = png_encode(w, h, idx, filter_seed=2, color_type=3, palette=pal)
        got = png_decode(data)
        expect = b"".join(pal[i * 3 : i * 3 + 3] for i in idx)
        assert got == (w, h, 3, expect)
        assert png_probe_dims(data) == (w, h)

    def test_encode_validation(self):
        with pytest.raises(ValueError, match="needs a palette"):
            png_encode(2, 2, bytes(4), color_type=3)
        with pytest.raises(ValueError, match="only valid with color_type 3"):
            png_encode(2, 2, bytes(12), color_type=2, palette=bytes(6))
        with pytest.raises(ValueError, match="out of range"):
            png_encode(
                2, 2, bytes([0, 1, 2, 9]), color_type=3,
                palette=self._palette(3),
            )

    def test_decode_missing_plte_and_trns_rejected(self):
        import struct
        import zlib

        def chunk(tag, body):
            return (
                struct.pack(">I", len(body))
                + tag
                + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
            )

        ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 3, 0, 0, 0)
        raw = zlib.compress(bytes([0, 0]))  # filter 0 + one index
        no_plte = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", raw)
            + chunk(b"IEND", b"")
        )
        with pytest.raises(ValueError, match="no PLTE"):
            png_decode(no_plte)
        with_trns = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"PLTE", bytes(3))
            + chunk(b"tRNS", bytes([128]))
            + chunk(b"IDAT", raw)
            + chunk(b"IEND", b"")
        )
        with pytest.raises(ValueError, match="tRNS"):
            png_decode(with_trns)
