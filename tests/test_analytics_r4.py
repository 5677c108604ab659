"""Property tests for analytics queries across several families — invariants
the oracle equality can't express: LSH lower-bound on agreement, BPE greedy-merge
semantics, novelty extremes, outlier ranking shape."""

from __future__ import annotations

import os
import tempfile

import pytest

from tests.conftest import SF_CORRECT


@pytest.fixture(scope="module")
def qs():
    from slr207_mapreduce_spark.plans.base import all_queries

    return all_queries()


def _write_docs(d: str, docs: list[str]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(docs)), pa.int64()),
                "text": pa.array(docs, pa.string()),
                "lang": pa.array(["en"] * len(docs), pa.string()),
                "source": pa.array(["src0"] * len(docs), pa.string()),
                "n_chars": pa.array([len(t) for t in docs], pa.int64()),
            }
        ),
        os.path.join(d, "documents.parquet"),
    )


def test_estimator_error_candidates_agree_on_a_band(spark, qs):
    """Every LSH candidate shares at least one full band (2 of 6 hashes),
    so est_jaccard >= 1/3 by construction; exact stays in [0, 1]."""
    rows = qs["dedup_minhash_estimator_error"].build(spark, SF_CORRECT).collect()
    assert rows
    for r in rows:
        assert r["est_jaccard"] >= 1 / 3 - 1e-12
        assert 0.0 <= r["exact_jaccard"] <= 1.0
        assert abs(r["abs_err"] - abs(r["est_jaccard"] - r["exact_jaccard"])) < 1e-12


def test_bpe_apply_greedy_merge_semantics(spark, qs):
    """Known words under the fixed merge list (t+h, th+e, t+a, a+l, s+c):
    'the'->1 unit, 'tale'->3 (ta l e; the consumed 'a' blocks a+l),
    'ththth'->3 (non-overlapping left-to-right), 'scale'->3 (sc al e)."""
    expected = {"the": 1, "tale": 3, "ththth": 3, "scale": 3, "x": 1}
    with tempfile.TemporaryDirectory() as d:
        _write_docs(d, [" ".join(expected)])
        row = qs["text_bpe_apply"].build(spark, d).collect()[0]
    assert row["n_words"] == len(expected)
    assert row["n_char_units"] == sum(len(w) for w in expected)
    assert row["n_bpe_units"] == sum(expected.values())


def test_trigram_novelty_extremes(spark, qs):
    """A doc duplicated verbatim scores 0 novelty; a doc sharing no trigram
    with anything scores exactly 1e9."""
    dup = "alpha beta gamma delta epsilon zeta"
    unique = "one two three four five six seven"
    with tempfile.TemporaryDirectory() as d:
        _write_docs(d, [dup, dup, unique])
        rows = {
            r["doc_id"]: r
            for r in qs["text_trigram_novelty"].build(spark, d).collect()
        }
    assert rows[0]["novelty_e9"] == 0 and rows[1]["novelty_e9"] == 0
    assert rows[2]["novelty_e9"] == 1_000_000_000
    assert rows[2]["n_novel"] == rows[2]["n_trigrams"] == 5


def test_bpe_train_counts_non_increasing(spark, qs):
    """BPE invariant: the best pair's count never increases round over
    round (merges only consume occurrences; pairs born of a merge are
    bounded by the merged pair's count)."""
    rows = sorted(
        qs["text_bpe_train_merges"].build(spark, SF_CORRECT).collect(),
        key=lambda r: r["merge_rank"],
    )
    assert [r["merge_rank"] for r in rows] == list(range(1, len(rows) + 1))
    counts = [r["pair_count"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    assert all(c >= 1 for c in counts)


def test_bpe_train_known_tiny_corpus(spark, qs):
    """'aa aa ab' has exactly two learnable merges: (a,a)x2 then (a,b)x1 —
    the trainer must stop early instead of fabricating a third."""
    with tempfile.TemporaryDirectory() as d:
        _write_docs(d, ["aa aa ab"])
        rows = sorted(
            qs["text_bpe_train_merges"].build(spark, d).collect(),
            key=lambda r: r["merge_rank"],
        )
    assert [(r["merge_left"], r["merge_right"], r["pair_count"]) for r in rows] == [
        ("a", "a", 2),
        ("a", "b", 1),
    ]


def test_quality_percentile_decile_gate(spark, qs):
    rows = qs["pipeline_quality_percentile_by_source"].build(spark, SF_CORRECT).collect()
    assert rows
    by_src: dict[str, list] = {}
    for r in rows:
        assert 0.0 <= r["pct"] <= 1.0
        assert r["keep"] == (r["pct"] >= 0.1)
        by_src.setdefault(r["source"], []).append(r)
    for src, rs in by_src.items():
        dropped = sum(1 for r in rs if not r["keep"])
        assert 0 < dropped <= max(1, int(0.1 * len(rs)) + 1)


def test_salted_agg_plans_two_exchanges(spark, qs):
    """The salt must actually reach the physical plan: one exchange on
    (event_type, __salt), one on event_type alone."""
    df = qs["agg_salted_skewed_groups"].build(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().toString()
    assert "__salt" in plan
    assert plan.count("hashpartitioning(event_type") >= 2


def test_hll_portable_estimate_quality(spark, qs):
    """Raw HLL error is ~1.04/sqrt(m) = 6.5% stdev at m=256; a 25% bound
    catches construction bugs (wrong rho, wrong bucket width) without
    flaking on the sketch's inherent variance."""
    row = qs["agg_hll_portable"].build(spark, SF_CORRECT).collect()[0]
    assert row["n_exact"] > 0
    rel_err = abs(row["hll_raw_est"] - row["n_exact"]) / row["n_exact"]
    assert rel_err <= 0.25, f"HLL rel error {rel_err:.3f} (est {row['hll_raw_est']} vs {row['n_exact']})"
    assert 0 <= row["zero_buckets"] <= 256


def test_hll_registers_merge_by_max(spark):
    """The defining sketch property: per-part registers merged with max()
    equal the registers built over the whole input."""
    from pyspark.sql import functions as F

    from slr207_mapreduce_spark.plans.aggregates import hll_registers
    from slr207_mapreduce_spark.sources.tables import load_table

    o = load_table(spark, "orders", SF_CORRECT)
    whole = {r["bucket"]: r["r"] for r in hll_registers(o, "o_custkey").collect()}
    parts = [
        hll_registers(o.where(F.col("o_orderkey") % 3 == i), "o_custkey")
        for i in range(3)
    ]
    merged_df = parts[0].unionAll(parts[1]).unionAll(parts[2]).groupBy(
        "bucket"
    ).agg(F.max("r").alias("r"))
    merged = {r["bucket"]: r["r"] for r in merged_df.collect()}
    assert merged == whole


def test_embedding_outliers_rank_shape(spark, qs):
    rows = qs["embedding_outlier_by_label"].build(spark, SF_CORRECT).collect()
    assert rows
    by_label: dict[int, list] = {}
    for r in rows:
        assert r["dist2_e12"] >= 0
        by_label.setdefault(r["label"], []).append(r)
    for label, rs in by_label.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        dists = [r["dist2_e12"] for r in rs]
        assert dists == sorted(dists, reverse=True)


def test_histogram_invariants(spark):
    """Equi-width: counts sum to N, bucket bounds respect the width grid.
    Equi-depth: bucket sizes differ by at most 1 and cover N, and bucket
    value ranges are non-overlapping and ordered."""
    from pyspark.sql import functions as F

    from slr207_mapreduce_spark.plans.base import all_queries
    from slr207_mapreduce_spark.sources.tables import load_table
    from tests.conftest import SF_CORRECT

    n = load_table(spark, "lineitem", SF_CORRECT).count()
    specs = all_queries()

    ew = specs["agg_histogram_equiwidth"].build(spark, SF_CORRECT).collect()
    assert sum(r["cnt"] for r in ew) == n
    assert all(r["lo_dollars"] == r["bucket"] * 10000 for r in ew)

    ed = sorted(
        specs["agg_histogram_equidepth"].build(spark, SF_CORRECT).collect(),
        key=lambda r: r["bucket"],
    )
    sizes = [r["cnt"] for r in ed]
    assert sum(sizes) == n
    assert max(sizes) - min(sizes) <= 1
    for a, b in zip(ed, ed[1:]):
        assert a["lo_cents"] <= a["hi_cents"] <= b["lo_cents"] <= b["hi_cents"]


def test_weighted_sample_biases_toward_heavy_weights(spark):
    """With 5:1 weights for non-English docs, the sample's non-English
    share must exceed the corpus share (and plan as TakeOrdered, not a
    global sort)."""
    from pyspark.sql import functions as F

    from slr207_mapreduce_spark.plans.base import all_queries
    from slr207_mapreduce_spark.sources.tables import load_table
    from tests.conftest import SF_CORRECT

    d = load_table(spark, "documents", SF_CORRECT)
    n = d.count()
    corpus_non_en = d.where(F.col("lang") != "en").count() / n

    df = all_queries()["pipeline_weighted_sample"].build(spark, SF_CORRECT)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "TakeOrderedAndProject" in plan, plan
    rows = df.collect()
    assert len(rows) == 100
    sample_non_en = sum(1 for r in rows if r["lang"] != "en") / 100
    assert sample_non_en > corpus_non_en, (sample_non_en, corpus_non_en)


def test_random_projection_preserves_similarity_structure(spark):
    """The JL projection must be USEFUL, not merely exact: over sampled
    vector pairs, projected cosine must correlate with original cosine.
    At 64->16 dims the measured Pearson is ~0.41 on this corpus (JL
    distortion scales ~sqrt(ln n / d)); the bar is set below that with
    margin — it guards against a degenerate sign matrix (the original
    LCG-style mix scored ~0.30), not against JL theory."""
    import math

    from pyspark.sql import functions as F

    from slr207_mapreduce_spark.plans.base import all_queries
    from slr207_mapreduce_spark.sources.tables import load_table
    from tests.conftest import SF_CORRECT

    orig = {
        r["vec_id"]: r["embedding"]
        for r in load_table(spark, "embeddings", SF_CORRECT)
        .orderBy("vec_id")
        .limit(60)
        .collect()
    }
    proj = {
        r["vec_id"]: [r[f"p{k}"] for k in range(16)]
        for r in all_queries()["embedding_random_projection"]
        .build(spark, SF_CORRECT)
        .where(F.col("vec_id") < 60)
        .collect()
    }

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        den = math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        return num / den if den else 0.0

    ids = sorted(orig)
    xs, ys = [], []
    for i in range(0, len(ids) - 1):
        for j in range(i + 1, min(i + 6, len(ids))):  # banded pair sample
            xs.append(cos(orig[ids[i]], orig[ids[j]]))
            ys.append(cos(proj[ids[i]], proj[ids[j]]))
    mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
    cov = sum((x - mx) * (y - my) for x, y in zip(xs, ys))
    vx = math.sqrt(sum((x - mx) ** 2 for x in xs))
    vy = math.sqrt(sum((y - my) ** 2 for y in ys))
    pearson = cov / (vx * vy)
    assert pearson > 0.35, pearson


def test_jl_rerank_recall_vs_bruteforce(spark):
    """The two-tier JL shortlist + exact rerank must recover most of the
    exact top-5 (shortlist=150 of N=500 at this SF; measured ~0.74 — this
    corpus's near-random embeddings are the JL worst case, so the bar sits
    below that with margin)."""
    from slr207_mapreduce_spark.plans.base import all_queries
    from tests.conftest import SF_CORRECT

    specs = all_queries()
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in specs["knn_bruteforce"].build(spark, SF_CORRECT).collect()
    }
    jl = {
        (r["query_id"], r["neighbor_id"])
        for r in specs["knn_jl_rerank"].build(spark, SF_CORRECT).collect()
    }
    recall = len(exact & jl) / len(exact)
    assert recall >= 0.6, recall


def test_wav_codec_roundtrip_and_validation():
    """Byte-level WAV codec: encode->decode is identity on samples+rate;
    malformed payloads fail loudly instead of mis-parsing."""
    import numpy as np
    import pytest

    from slr207_mapreduce_spark.operators.multimodal import (
        decode_wav_pcm16,
        encode_wav_pcm16,
    )

    s = np.array([0, 1, -1, 32767, -32768, 12345], dtype="<i2")
    payload = encode_wav_pcm16(s, 16000)
    rate, back = decode_wav_pcm16(payload)
    assert rate == 16000
    assert np.array_equal(back, s)
    assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
    assert len(payload) == 44 + 2 * len(s)

    with pytest.raises(ValueError):
        decode_wav_pcm16(b"JUNK" + payload[4:])
    with pytest.raises(ValueError):
        # stereo header must be rejected (decoder only does mono PCM16)
        import struct

        bad = bytearray(payload)
        bad[16:36] = struct.pack("<IHHIIHH", 16, 1, 2, 16000, 64000, 4, 16)
        decode_wav_pcm16(bytes(bad))


def test_ppm_codec_roundtrip_including_whitespace_pixels():
    """P6 round-trip is identity — including images whose FIRST pixel bytes
    are whitespace values (0x20/0x0a), the case a split()-based header
    parse silently corrupts."""
    import numpy as np
    import pytest

    from slr207_mapreduce_spark.operators.multimodal import (
        decode_ppm,
        encode_ppm,
        resize_nearest_fit,
    )

    img = np.zeros((3, 4, 3), dtype="uint8")
    img[0, 0] = (0x20, 0x0A, 0x0D)  # whitespace-valued leading pixels
    img[2, 3] = (255, 1, 128)
    assert np.array_equal(decode_ppm(encode_ppm(img)), img)

    with pytest.raises(ValueError):
        decode_ppm(b"P5\n4 3\n255\n" + b"\x00" * 36)
    with pytest.raises(ValueError):
        decode_ppm(encode_ppm(img)[:-5])  # truncated pixel data

    # integer nearest fit: 4x3 -> target 2 gives 2x1 (w*2//4, h*2//4)
    small = resize_nearest_fit(img, 2)
    assert small.shape == (1, 2, 3)
    assert np.array_equal(small[0, 0], img[0, 0])


def test_frame_stream_container_seeks_and_validates():
    """The frame-stream demux decodes only sampled frames, seeks others by
    length prefix, and rejects malformed containers."""
    import numpy as np
    import pytest

    from slr207_mapreduce_spark.operators.multimodal import (
        encode_frame_stream,
        iter_sampled_frames,
    )

    frames = [
        np.full((2, 3, 3), i * 10, dtype="uint8") for i in range(5)
    ]
    payload = encode_frame_stream(frames)
    got = list(iter_sampled_frames(payload, every_n=2))
    assert [i for i, _ in got] == [0, 2, 4]
    for i, img in got:
        assert np.array_equal(img, frames[i])
    with pytest.raises(ValueError):
        list(iter_sampled_frames(b"XXXX" + payload[4:], 2))
    with pytest.raises(ValueError):
        list(iter_sampled_frames(payload + b"\x00", 2))  # trailing bytes


def test_capped_sessionization_splits_on_cap_not_just_gap(spark):
    """A bot pinging every 29 minutes never trips the 30-min gap; the 2-hour
    cap must still split the stream into bounded sessions."""
    import datetime as dt

    from slr207_mapreduce_spark.plans.events import (
        _SESS_SCHEMA,
        _cap_sessions_fn,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base + dt.timedelta(minutes=29 * i), i) for i in range(12)
    ]  # 0..319 min, all gaps 29 min < 30
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_id"])
    got = sorted(
        (r["session_id"], r["n_events"])
        for r in df.groupBy("user_id")
        .applyInPandas(_cap_sessions_fn, schema=_SESS_SCHEMA)
        .collect()
    )
    # session 1: events at 0..116 min (event at 145 min exceeds the 120-min
    # cap from start 0) -> 5 events; then restarts every 5 events likewise
    assert len(got) >= 3  # the cap produced multiple sessions
    assert all(n <= 5 for _, n in got)
    assert sum(n for _, n in got) == 12


def test_png_codec_roundtrip_all_filter_types():
    """PNG round-trip is identity for images tall enough that every filter
    type 0-4 is used (encoder cycles y % 5); chunk CRCs and layout are
    validated, so corruption and truncation fail loudly."""
    import numpy as np
    import pytest

    from slr207_mapreduce_spark.operators.multimodal import (
        PNG_SIGNATURE,
        decode_png,
        encode_png,
    )

    rng = np.arange(7 * 5 * 3, dtype="int64")  # h=7 > 5 filter types
    img = ((rng * 37 + 11) % 256).astype("uint8").reshape(7, 5, 3)
    payload = encode_png(img)
    assert payload[:8] == PNG_SIGNATURE
    assert np.array_equal(decode_png(payload), img)

    # extremes: 1x1 and saturated values through Paeth/Average rows
    one = np.array([[[0, 255, 128]]], dtype="uint8")
    assert np.array_equal(decode_png(encode_png(one)), one)
    sat = np.full((6, 2, 3), 255, dtype="uint8")
    sat[3, 1] = (0, 0, 0)
    assert np.array_equal(decode_png(encode_png(sat)), sat)

    with pytest.raises(ValueError):
        decode_png(b"JUNK" + payload[4:])
    with pytest.raises(ValueError):
        bad = bytearray(payload)
        bad[40] ^= 0xFF  # flip a byte inside IDAT -> CRC mismatch
        decode_png(bytes(bad))
    # truncation raises the documented ValueError, not struct.error, at any
    # cut point — both mid-header and mid-data (r06 ADVICE)
    for cut in (10, 30, len(payload) - 3):
        with pytest.raises(ValueError):
            decode_png(payload[:cut])
    with pytest.raises(ValueError):
        # oversized declared length must be caught before slicing short
        big = bytearray(payload)
        big[8:12] = (0xFF, 0xFF, 0xFF, 0xFF)
        decode_png(bytes(big))


def _pack_lsb(codes, width=9):
    """Independent LSB-first bit packer (NOT the codec's _BitWriter) for
    building GIF LZW streams by hand in conformance tests."""
    acc = nbits = 0
    out = bytearray()
    for c in codes:
        acc |= c << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _wrap_gif(lzw: bytes, w: int, h: int, pal, extension: bytes = b"") -> bytes:
    """Hand-built GIF container (independent of encode_gif)."""
    import struct as _s

    out = bytearray(b"GIF89a")
    out += _s.pack("<HHBBB", w, h, 0xF7, 0, 0)
    out += bytes(pal.reshape(-1))
    out += extension
    out += b"\x2c" + _s.pack("<HHHH", 0, 0, w, h) + b"\x00" + bytes([8])
    for i in range(0, len(lzw), 255):
        out.append(len(lzw[i : i + 255]))
        out += lzw[i : i + 255]
    out += b"\x00\x3b"
    return bytes(out)


def test_gif_decoder_conformance_vectors():
    """decode_gif against byte streams built WITHOUT the encoder:

    (a) a degenerate-but-valid stream (CLEAR before every literal, so the
        dictionary never grows and every code is 9 bits) — any conformant
        decoder must accept it;
    (b) the classic hand-derived dictionary-growth stream for [1,1,1,1,1]
        → codes [CLEAR, 1, 258, 258, EOI], whose second 258 arrives one
        step AHEAD of the dictionary (the KwKwK corner case);
    (c) an extension block before the image descriptor must be skipped.
    """
    import numpy as np

    from slr207_mapreduce_spark.operators.multimodal import decode_gif, gif_palette

    pal = gif_palette()
    # (a) clear-per-symbol stream
    pixels = [0, 5, 255, 17, 17, 200, 3]
    codes = [256]
    for p in pixels:
        codes += [p, 256]
    codes[-1:] = [codes[-1], 257]  # keep trailing CLEAR, then EOI
    payload = _wrap_gif(_pack_lsb(codes), 7, 1, pal)
    got = decode_gif(payload)
    assert np.array_equal(got, pal[np.array(pixels)].reshape(1, 7, 3))

    # (b) KwKwK: [1]*5 compresses to CLEAR,1,258,258,EOI
    payload = _wrap_gif(_pack_lsb([256, 1, 258, 258, 257]), 5, 1, pal)
    got = decode_gif(payload)
    assert np.array_equal(got, pal[np.array([1] * 5)].reshape(1, 5, 3))

    # (c) graphic-control extension is skipped per spec
    ext = b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    payload = _wrap_gif(_pack_lsb([256, 1, 258, 258, 257]), 5, 1, pal, extension=ext)
    assert np.array_equal(decode_gif(payload), pal[np.array([1] * 5)].reshape(1, 5, 3))


def test_gif_decoder_rejects_malformed():
    """Malformed GIFs raise the documented ValueError (never struct.error
    or silent garbage): wrong signature, truncation at several depths,
    interlace flag, trailer before image, stream/pixel-count mismatch."""
    import struct as _s

    import numpy as np
    import pytest as _pt

    from slr207_mapreduce_spark.operators.multimodal import (
        decode_gif,
        encode_gif,
        gif_palette,
    )

    pal = gif_palette()
    good = encode_gif(np.arange(12, dtype="uint8").reshape(3, 4), pal)
    with _pt.raises(ValueError):
        decode_gif(b"NOTGIF" + good[6:])
    for cut in (4, 10, 13 + 100, len(good) - 3):
        with _pt.raises(ValueError):
            decode_gif(good[:cut])
    # interlace flag set in the image descriptor
    bad = bytearray(good)
    desc = good.index(b"\x2c", 13 + 768)
    bad[desc + 9] |= 0x40
    with _pt.raises(ValueError):
        decode_gif(bytes(bad))
    # trailer before any image
    with _pt.raises(ValueError):
        decode_gif(good[: 13 + 768] + b"\x3b")
    # LZW stream shorter than the declared pixel count
    short = _wrap_gif(_pack_lsb([256, 1, 257]), 4, 2, pal)
    with _pt.raises(ValueError):
        decode_gif(short)


def test_mulaw_codec_conformance_and_properties():
    """G.711 mu-law codec, pinned three independent ways: (a) HAND-PACKED
    conformance vectors computed from the spec arithmetic without the
    encoder (0 -> 0xFF and -32768 -> 0x00 are the textbook anchors: mu-law
    complements, so +0 is all-ones and the most-negative code is all-
    zeros); (b) exhaustive properties over ALL 65536 int16 inputs —
    companding idempotence (decoded values are fixed points) and the
    spec's error envelope (quantization error grows with the log segment:
    <= 19 below +-512, <= 644 at full scale where the 8158 clip engages);
    (c) container round-trip with loud rejection of a PCM16 header."""
    import numpy as np
    import pytest

    from slr207_mapreduce_spark.operators.multimodal import (
        decode_wav_mulaw,
        encode_wav_mulaw,
        encode_wav_pcm16,
        mulaw_compress,
        mulaw_expand,
    )

    # (a) conformance vectors: (sample, code, decoded) from spec arithmetic
    for s, code, decoded in (
        (0, 0xFF, 0),        # +0: sign 0, seg 0, mant 0, complemented
        (4, 0xFE, 8),        # 14-bit x=1 -> m=34 -> mant 1
        (-4, 0x7E, -8),      # sign bit only difference
        (32767, 0x80, 32124),   # clip branch: seg 7, mant 15
        (-32768, 0x00, -32124),  # most negative = all-zeros code
    ):
        got_code = int(mulaw_compress(np.array([s], dtype=np.int16))[0])
        assert got_code == code, (s, hex(got_code))
        got_dec = int(mulaw_expand(np.array([code], dtype=np.uint8))[0])
        assert got_dec == decoded, (code, got_dec)

    # (b) exhaustive: every int16 value
    s = np.arange(-32768, 32768, dtype=np.int16)
    y = mulaw_expand(mulaw_compress(s))
    assert np.array_equal(mulaw_expand(mulaw_compress(y)), y)  # idempotent
    err = np.abs(y.astype(np.int64) - s.astype(np.int64))
    assert err.max() <= 644
    assert err[np.abs(s.astype(np.int64)) < 512].max() <= 19

    # (c) container: tag-7 round-trip; PCM16 header rejected loudly
    sig = np.array([0, 4, -4, 1000, -1000, 32767, -32768], dtype=np.int16)
    payload = encode_wav_mulaw(sig, 8000)
    assert len(payload) == 44 + len(sig)  # 8 bits/sample: half of PCM16
    rate, back = decode_wav_mulaw(payload)
    assert rate == 8000
    assert np.array_equal(back, mulaw_expand(mulaw_compress(sig)))
    with pytest.raises(ValueError):
        decode_wav_mulaw(encode_wav_pcm16(sig, 8000))  # tag 1 != tag 7


def test_mjpeg_avi_container_roundtrip_and_validation():
    """MJPEG-in-AVI container: (a) frame-exact round-trip with every-Nth
    sampling (seek path) over frames whose JPEG chunks include ODD sizes —
    the even-padding rule is what desyncs naive writers; (b) idx1
    corruption, wrong stream handler, and frame-count lies all fail
    loudly; (c) the sampled index set is exactly range(0, n, every_n)."""
    import struct

    import numpy as np
    import pytest

    from slr207_mapreduce_spark.operators.jpeg import (
        decode_avi_mjpeg_frames,
        encode_avi_mjpeg,
        encode_jpeg_gray,
    )

    rng_vals = [0, 203, 90, 1, 255, 128, 64]  # value 0 @ 8x16 -> 317-byte
    frames = [np.full((8, 16), v, dtype="uint8") for v in rng_vals]  # odd JPEG
    # ensure the odd-size padding path is actually exercised
    assert any(len(encode_jpeg_gray(f)) % 2 for f in frames), (
        "fixture must include an odd-sized JPEG chunk"
    )
    payload = encode_avi_mjpeg(frames, fps=5)
    for every_n in (1, 2, 3):
        out = decode_avi_mjpeg_frames(payload, every_n=every_n)
        assert [i for i, _ in out] == list(range(0, len(frames), every_n))
        for i, img in out:
            assert np.array_equal(img, frames[i]), i

    with pytest.raises(ValueError):
        decode_avi_mjpeg_frames(b"RIFF" + payload[4:8] + b"WAVE" + payload[12:])
    # corrupt one idx1 size field -> index/movi cross-check must fire
    idx_pos = payload.rindex(b"idx1")
    bad = bytearray(payload)
    bad[idx_pos + 8 + 12 : idx_pos + 8 + 16] = struct.pack("<I", 1)
    with pytest.raises(ValueError, match="idx1 disagrees"):
        decode_avi_mjpeg_frames(bytes(bad))
    # wrong handler: flip strh fccHandler MJPG -> XVID
    hpos = payload.index(b"vids") + 4
    bad2 = bytearray(payload)
    bad2[hpos : hpos + 4] = b"XVID"
    with pytest.raises(ValueError, match="unsupported stream"):
        decode_avi_mjpeg_frames(bytes(bad2))
    # header lies about the frame count
    avih_pos = payload.index(b"avih") + 8
    bad3 = bytearray(payload)
    bad3[avih_pos + 16 : avih_pos + 20] = struct.pack("<I", len(frames) + 1)
    with pytest.raises(ValueError, match="frame count mismatch"):
        decode_avi_mjpeg_frames(bytes(bad3))
    # r08 ADVICE item 2: an idx1 with FEWER entries than movi frames must
    # raise the documented ValueError, not IndexError — drop the last
    # 16-byte entry and patch the idx1 chunk size + outer RIFF size
    bad4 = bytearray(payload[:-16])
    (idx_size,) = struct.unpack("<I", payload[idx_pos + 4 : idx_pos + 8])
    bad4[idx_pos + 4 : idx_pos + 8] = struct.pack("<I", idx_size - 16)
    (riff_size,) = struct.unpack("<I", payload[4:8])
    bad4[4:8] = struct.pack("<I", riff_size - 16)
    with pytest.raises(ValueError, match="idx1 has"):
        decode_avi_mjpeg_frames(bytes(bad4))


def test_codec_family_corruption_fuzz_error_contract():
    """Family-wide malformed-input contract (r10, mirrors the JPEG fuzz):
    every single-bit corruption and every truncation of a valid payload,
    for EVERY from-spec codec, either decodes or raises the documented
    ValueError — never struct.error / IndexError / zlib.error /
    OverflowError (the pre-hardening fuzz produced all four: short
    WAV/RIFF/RAWV headers, declared-vs-actual data-chunk mismatches,
    un-terminated PNG/GIF streams, corrupt deflate)."""
    import numpy as np

    from slr207_mapreduce_spark.operators import multimodal as M
    from slr207_mapreduce_spark.operators.jpeg import (
        decode_avi_mjpeg_frames,
        encode_avi_mjpeg,
    )

    rng = np.random.RandomState(5)
    rgbimg = rng.randint(0, 256, (16, 16, 3)).astype("uint8")
    samples = rng.randint(-30000, 30000, 400).astype(np.int16)
    rgb8 = rng.randint(0, 256, (8, 8, 3)).astype("uint8")
    fs = M.encode_frame_stream([rgb8 for _ in range(3)])
    cases = [
        (M.encode_png(rgbimg), M.decode_png),
        (
            M.encode_gif(
                rng.randint(0, 8, (16, 16)).astype("uint8"),
                rng.randint(0, 256, (256, 3)).astype("uint8"),
            ),
            M.decode_gif,
        ),
        (M.encode_wav_pcm16(samples, 8000), M.decode_wav_pcm16),
        (M.encode_wav_mulaw(samples, 8000), M.decode_wav_mulaw),
        (M.encode_ppm(rgbimg), M.decode_ppm),
        (fs, lambda p: list(M.iter_frame_index(p))),
        (fs, lambda p: list(M.iter_sampled_frames(p, 2))),
        (
            encode_avi_mjpeg(
                [rng.randint(0, 256, (8, 8)).astype("uint8") for _ in range(3)]
            ),
            lambda p: list(decode_avi_mjpeg_frames(p, 1)),
        ),
    ]
    for payload, dec in cases:
        for i in range(len(payload)):
            for bit in (0, 7):
                p = bytearray(payload)
                p[i] ^= 1 << bit
                try:
                    dec(bytes(p))
                except ValueError:
                    pass
        for k in range(len(payload)):
            with pytest.raises(ValueError):
                dec(payload[:k])


def test_rawv_cohort_byte_and_row_parity():
    """The r11b cohort-vectorized RAWV path must be indistinguishable from
    the scalar chain: container bytes identical to encode_frame_stream of
    the fixture frames, and the fused demux+decode rows identical to
    iter_sampled_frames over those bytes — including 64-bit doc ids."""
    import numpy as np
    import pandas as pd

    from slr207_mapreduce_spark.operators import multimodal as M

    def scalar_frames(d):
        frames = []
        for f in range(5 + d % 6):
            w, h = 4 + f % 3, 3
            p = np.arange(h * w, dtype="int64")
            img = np.stack(
                [
                    (d + f + 2 * p) % 256,
                    (d * 2 + f + 3 * p) % 256,
                    (d * 3 + f + 5 * p) % 256,
                ],
                axis=1,
            ).reshape(h, w, 3)
            frames.append(img.astype("uint8"))
        return frames

    ids = np.array(list(range(40)) + [10**12 + 7, 2**40, 123456789], dtype="int64")
    buf, off, ln = M._synth_rawv_cohort(ids)
    for i, d in enumerate(ids):
        assert (
            buf[off[i] : off[i] + ln[i]].tobytes()
            == M.encode_frame_stream(scalar_frames(int(d)))
        ), f"byte mismatch for doc {d}"
    got = M._frame_rows_from_cohort(ids, buf, off, ln, 2)
    exp_rows = []
    for d in ids:
        payload = M.encode_frame_stream(scalar_frames(int(d)))
        for idx, img in M.iter_sampled_frames(payload, 2):
            a = img.astype("int64")
            exp_rows.append(
                (
                    int(d),
                    idx,
                    img.shape[1],
                    int(a[:, :, 0].sum()),
                    int(a[:, :, 1].sum()),
                    int(a[:, :, 2].sum()),
                )
            )
    exp = pd.DataFrame(exp_rows, columns=list(got.columns)).astype(
        got.dtypes.to_dict()
    )
    assert got.reset_index(drop=True).equals(exp.reset_index(drop=True))


def test_rawv_cohort_error_parity_and_scalar_handoff():
    """Corrupt streams mixed into a cohort batch must raise EXACTLY the
    scalar decoder's documented ValueError (all truncations + magic/count
    corruption), and legitimate-but-nonstandard streams the strict parser
    can't vectorize (multi-digit PPM dims) must hand off to the scalar
    path with identical rows, never a wrong answer."""
    import numpy as np
    import pandas as pd
    import pytest

    from slr207_mapreduce_spark.operators import multimodal as M

    good = M.encode_frame_stream(
        [np.full((3, w, 3), 9, dtype="uint8") for w in (4, 5, 6)]
    )

    def run_pair(second: bytes):
        payloads = [good, second]
        ln = np.array([len(p) for p in payloads], dtype="int64")
        off = np.array([0, len(good)], dtype="int64")
        buf = np.frombuffer(b"".join(payloads), dtype="uint8")
        return M._frame_rows_from_cohort(np.array([1, 2]), buf, off, ln, 2)

    # every truncation point (including the zero-length payload, which
    # must route through the scalar error path, not crash the gather on
    # an empty cohort buffer) + representative corruptions
    corrupt = [good[:k] for k in range(len(good))]
    corrupt += [b"XXXX" + good[4:], good + b"\x00"]
    inflated = bytearray(good)
    inflated[4] += 1  # count says one more frame than the stream holds
    corrupt.append(bytes(inflated))
    for payload in corrupt:
        try:
            list(M.iter_sampled_frames(payload, 2))
        except ValueError as scalar_err:
            with pytest.raises(ValueError) as cohort_err:
                run_pair(payload)
            assert str(cohort_err.value) == str(scalar_err)
        else:
            run_pair(payload)  # scalar accepts it -> cohort must too

    # an ALL-empty batch must also surface the scalar error, not an
    # IndexError from gathering on a zero-length cohort buffer
    with pytest.raises(ValueError, match="not a RAWV frame stream"):
        M._frame_rows_from_cohort(
            np.array([1]),
            np.frombuffer(b"", dtype="uint8"),
            np.zeros(1, dtype="int64"),
            np.zeros(1, dtype="int64"),
            2,
        )

    # strict-parser handoff: 12-px-wide frame has a 12-byte P6 header
    wide = M.encode_frame_stream([np.arange(108, dtype="uint8").reshape(3, 12, 3)])
    got = run_pair(wide)
    exp_rows = []
    for did, payload in ((1, good), (2, wide)):
        for idx, img in M.iter_sampled_frames(payload, 2):
            a = img.astype("int64")
            exp_rows.append(
                (
                    did,
                    idx,
                    img.shape[1],
                    int(a[:, :, 0].sum()),
                    int(a[:, :, 1].sum()),
                    int(a[:, :, 2].sum()),
                )
            )
    exp = pd.DataFrame(exp_rows, columns=list(got.columns)).astype(
        got.dtypes.to_dict()
    )
    assert got.reset_index(drop=True).equals(exp.reset_index(drop=True))


def test_rawv_frame_index_cohort_matches_scalar_and_errors(spark):
    """video_frame_index's cohort walk must emit exactly the scalar
    walker's manifest rows (including payload-relative offsets and URIs)
    for regular streams, and a malformed stream mixed into the batch must
    surface the scalar walker's documented ValueError."""
    import numpy as np
    import pytest

    from slr207_mapreduce_spark.operators import multimodal as M

    frames = [np.full((2, w, 3), 5, dtype="uint8") for w in (3, 4, 5)]
    good = M.encode_frame_stream(frames)
    wide = M.encode_frame_stream([np.zeros((2, 12, 3), dtype="uint8")])

    def run(payloads):
        df = spark.createDataFrame(
            [(i + 1, bytearray(p)) for i, p in enumerate(payloads)],
            "doc_id long, payload binary",
        )
        return M.video_frame_index(df).collect()

    got = sorted(
        (r["doc_id"], r["frame_idx"], r["byte_offset"], r["frame_bytes"], r["frame_uri"])
        for r in run([good, wide])
    )
    exp = sorted(
        (did, idx, off, ln, f"rawv://{did}#{idx}@{off}")
        for did, payload in ((1, good), (2, wide))
        for idx, off, ln in M.iter_frame_index(payload)
    )
    assert got == exp

    with pytest.raises(Exception, match="truncated RAWV frame body"):
        run([good, good[:-2]])
