"""Round-12 regression tests: ADVICE fixes from round 11.

Covers the five code-level advisories: the distributed discovery walk
must skip hidden directories exactly as the pre-r11 driver glob did
(NFS .snapshot mirrors would double-ingest chunks), a largesize moof
must anchor default-base-is-moof at the 16-byte header start, a trun
without sample sizes must fall back to the movie-level trex
default_sample_size, a fragmented trak without tkhd must raise by name
(never silently yield zero frames), and perplexity_buckets must hand
back its persisted grain via track_cached.
"""
from __future__ import annotations

import struct

import numpy as np
import pytest


def _mjpeg_frames(n=3, w=16, h=8, seed=12):
    from aeon_mecha_spark.datapipe.jpegcodec import encode_jpeg

    rng = np.random.default_rng(seed)
    return [
        encode_jpeg(rng.integers(0, 255, (h, w, 3)).astype(np.uint8), quality=90)
        for _ in range(n)
    ]


def test_discovery_skips_hidden_mirror_dirs(spark, tmp_path):
    # ADVICE r11 (medium): glob('**') never matches hidden entries, so
    # the driver-glob era skipped .snapshot/.Trash mirrors; the
    # distributed os.listdir walk must too, or an NFS snapshot mirror
    # of the same chunks under a different rel-path double-ingests.
    from aeon_mecha_spark.sources import load as L
    from aeon_mecha_spark.sources.readers import REGISTRY

    rdr = REGISTRY["encoder"]
    root = tmp_path / "root"
    for epoch in range(3):
        dev = root / f"2024-01-0{epoch + 1}T00-00-00" / "Patch1"
        dev.mkdir(parents=True)
        for h in range(2):
            (dev / f"Patch1_Encoder_2024-01-0{epoch + 1}T{h:02d}-00-00.csv").write_text(
                "aeon_time,angle,intensity\n"
            )
    # .snapshot mirror: same chunk files, different root-relative path
    for epoch in range(3):
        dev = root / ".snapshot" / "daily.0" / f"2024-01-0{epoch + 1}T00-00-00" / "Patch1"
        dev.mkdir(parents=True)
        for h in range(2):
            (dev / f"Patch1_Encoder_2024-01-0{epoch + 1}T{h:02d}-00-00.csv").write_text(
                "aeon_time,angle,intensity\n"
            )
    driver = L.discover_chunk_files(str(root), rdr)
    dist = L.discover_chunk_files(str(root), rdr, spark=spark, distributed_threshold=0)
    assert dist == driver
    assert len(driver) == 6
    assert all("/.snapshot/" not in p for p, _ in driver)


def _promote_first_moof_to_largesize(buf: bytes) -> bytes:
    """Rewrite the first moof box to use a 64-bit largesize header
    (size field = 1, 8-byte largesize after the fourcc) and bump its
    trun data_offset by the 8 extra header bytes so the
    default-base-is-moof arithmetic still points at the same mdat
    payload. Produces a spec-legal file (ISO 14496-12 4.2)."""
    from aeon_mecha_spark.datapipe import mp4codec as M

    for btype, ps, pe, hs in M._boxes(buf, 0, len(buf)):
        if btype != b"moof":
            continue
        payload = bytearray(buf[ps:pe])
        # patch the trun data_offset (trun: fullbox hdr 4 + count 4,
        # then the signed offset) inside the copied payload
        for t, tps, tpe, _h in M._boxes(payload, 0, len(payload)):
            if t != b"traf":
                continue
            for bt, qs, _qe, _h2 in M._boxes(payload, tps, tpe):
                if bt == b"trun":
                    (off,) = struct.unpack_from(">i", payload, qs + 8)
                    struct.pack_into(">i", payload, qs + 8, off + 8)
        big = (
            struct.pack(">I", 1)
            + b"moof"
            + struct.pack(">Q", len(payload) + 16)
            + bytes(payload)
        )
        return buf[:hs] + big + buf[pe:]
    raise AssertionError("no moof in fixture")


def test_fmp4_largesize_moof_anchors_at_header_start():
    # ADVICE r11 (low): moof_start must be the header start even for a
    # 16-byte largesize header; ps - 8 would mis-anchor by 8 bytes and
    # silently extract wrong sample bytes.
    from aeon_mecha_spark.datapipe import mp4codec as M

    frames = _mjpeg_frames(4)
    flat = M.build_fmp4_mjpeg(frames, 16, 8, frames_per_fragment=2)
    assert M.split_mp4_frames(flat) == frames  # sanity: fixture intact
    big = _promote_first_moof_to_largesize(flat)
    assert big != flat
    assert M.split_mp4_frames(big) == frames


def test_fmp4_trex_default_sample_size():
    # ADVICE r11 (low): a trun without per-sample sizes must use the
    # moov>mvex>trex default_sample_size (the code previously named
    # trex in the error but never read it).
    from aeon_mecha_spark.datapipe import mp4codec as M

    frames = [bytes([i]) * 120 for i in range(5)]  # equal-length samples
    payload = M.build_fmp4_mjpeg(
        frames, 16, 8, frames_per_fragment=2, use_trex_default_size=True
    )
    assert M.split_mp4_frames(payload) == frames
    assert M.probe_mp4(payload)["n_samples"] == 5
    # and with NO trex default either, the raise-by-name contract holds
    no_trex = payload.replace(b"trex", b"trxX", 1)
    with pytest.raises(ValueError, match="trex"):
        M.split_mp4_frames(no_trex)


def test_fmp4_missing_tkhd_raises_by_name():
    # ADVICE r11 (low): a fragmented video trak without tkhd must raise
    # (was: _video_track_id -> None -> zero frames, silently).
    from aeon_mecha_spark.datapipe import mp4codec as M

    frames = _mjpeg_frames(2)
    payload = M.build_fmp4_mjpeg(frames, 16, 8)
    broken = payload.replace(b"tkhd", b"tkhX", 1)
    with pytest.raises(ValueError, match="tkhd"):
        M.probe_mp4(broken)
    with pytest.raises(ValueError, match="tkhd"):
        M.split_mp4_frames(broken)


def test_perplexity_buckets_returns_cache_handle(spark):
    # ADVICE r11 (low): the persisted grain must ride along on the
    # result via track_cached so callers can release executor storage.
    from aeon_mecha_spark.datapipe.textqc import perplexity_buckets
    from aeon_mecha_spark.util import release_cached

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma doc {i}") for i in range(20)],
        "doc_id int, text string",
    )
    out = perplexity_buckets(docs)
    handles = getattr(out, "_aeon_cached", [])
    assert handles, "perplexity_buckets must track its persisted grain"
    assert out.count() == 20
    release_cached(out)
    assert all(not h.is_cached for h in handles)


# ---------------------------------------------------------------- NAL indexer


def _h264_annexb_stream():
    """Spec-shaped (not decodable) H.264 Annex-B stream: SPS, PPS, a
    2-slice IDR frame, a 1-slice P frame, a 2-slice P frame. Slice
    RBSPs start with the real first_mb_in_slice exp-Golomb field:
    0x88 -> ue(0)=0 (first slice of picture), 0x50 -> ue(1)=1."""
    sps = b"\x67" + b"\x64\x00\x1f\xac"          # type 7
    pps = b"\x68" + b"\xeb\xe3\xcb"              # type 8
    idr0 = b"\x65" + b"\x88\xab\xcd"             # type 5, first_mb=0
    idr1 = b"\x65" + b"\x50\x12\x34"             # type 5, first_mb=1
    p0 = b"\x41" + b"\x88\x9a\xbc"               # type 1, first_mb=0
    p1a = b"\x41" + b"\x88\x11\x22"
    p1b = b"\x41" + b"\x50\x33\x44"
    sc4, sc3 = b"\x00\x00\x00\x01", b"\x00\x00\x01"
    return (
        sc4 + sps + sc4 + pps + sc4 + idr0 + sc3 + idr1
        + sc4 + p0 + sc4 + p1a + sc3 + p1b
    )


def test_annexb_h264_frame_index():
    from aeon_mecha_spark.datapipe import nalcodec as N

    buf = _h264_annexb_stream()
    nals = list(N.iter_annexb_nals(buf))
    assert len(nals) == 7
    assert [N.nal_unit_type(buf, ps, "h264") for _s, ps, _e in nals] == [
        7, 8, 5, 5, 1, 1, 1
    ]
    frames = N.annexb_frame_index(buf, "h264")
    assert [f["is_keyframe"] for f in frames] == [True, False, False]
    assert [f["n_nals"] for f in frames] == [4, 1, 2]
    # byte ranges tile the stream exactly
    assert frames[0]["offset"] == 0
    for a, b in zip(frames, frames[1:]):
        assert a["offset"] + a["size"] == b["offset"]
    assert frames[-1]["offset"] + frames[-1]["size"] == len(buf)


def test_annexb_hevc_frame_index():
    from aeon_mecha_spark.datapipe import nalcodec as N

    def nal(t, first_slice=None):
        hdr = bytes([t << 1, 0x01])
        if first_slice is None:
            return hdr + b"\x5a"
        return hdr + (b"\x80" if first_slice else b"\x00") + b"\x77"

    sc = b"\x00\x00\x00\x01"
    buf = (
        sc + nal(32) + sc + nal(33) + sc + nal(34)      # VPS SPS PPS
        + sc + nal(19, True)                             # IDR_W_RADL
        + sc + nal(1, True) + sc + nal(1, False)         # TRAIL_R, 2 slices
        + sc + nal(21, True)                             # CRA (also IRAP)
    )
    frames = N.annexb_frame_index(buf, "hevc")
    assert [f["is_keyframe"] for f in frames] == [True, False, True]
    assert [f["n_nals"] for f in frames] == [4, 2, 1]


def _avcc(nals):
    import struct as st

    return b"".join(st.pack(">I", len(n)) + n for n in nals)


def _avc1_mp4(sync=None):
    from aeon_mecha_spark.datapipe import mp4codec as M

    avcc = M._box(b"avcC", bytes([1, 0x42, 0, 0x1F, 0xFF, 0xE0]))
    samples = [
        _avcc([b"\x67\x64\x00\x1f", b"\x68\xeb", b"\x65\x88\xab"]),  # IDR AU
        _avcc([b"\x41\x88\x12"]),                                    # P AU
        _avcc([b"\x41\x88\x34", b"\x41\x50\x56"]),                   # P AU, 2 slices
        _avcc([b"\x65\x88\xcd"]),                                    # IDR AU
    ]
    return M.build_mp4_video(
        samples, 16, 8, b"avc1", config_box=avcc, sync_samples=sync
    ), samples


def test_mp4_h264_keyframe_index_nal_scan_and_stss():
    from aeon_mecha_spark.datapipe import mp4codec as M
    from aeon_mecha_spark.datapipe import nalcodec as N

    payload, samples = _avc1_mp4()              # no stss -> NAL scan
    idx = N.mp4_keyframe_index(payload)
    assert [f["is_keyframe"] for f in idx] == [True, False, False, True]
    # offsets really point at the sample bytes
    for f, s in zip(idx, samples):
        assert payload[f["offset"] : f["offset"] + f["size"]] == s

    with_stss, _ = _avc1_mp4(sync=[1, 4])       # stss agreeing with NALs
    idx2 = N.mp4_keyframe_index(with_stss)
    assert [f["is_keyframe"] for f in idx2] == [True, False, False, True]

    bad_stss, _ = _avc1_mp4(sync=[2])           # stss contradicting NALs
    with pytest.raises(ValueError, match="stss"):
        N.mp4_keyframe_index(bad_stss)

    # MJPEG MP4s refuse NAL indexing by name (all-intra path is
    # keyframe_index's job, which never calls the NAL scanner for them)
    mj = M.build_mp4_mjpeg(_mjpeg_frames(2), 16, 8)
    with pytest.raises(NotImplementedError, match="jpeg"):
        N.mp4_keyframe_index(mj)


def test_keyframe_index_dataframe_plumbing(spark):
    from aeon_mecha_spark.datapipe import mp4codec as M
    from aeon_mecha_spark.datapipe.multimodal import (
        keyframe_index,
        keyframe_sample_plan,
    )

    avc, _ = _avc1_mp4()
    annexb = _h264_annexb_stream()
    mjpeg = M.build_mp4_mjpeg(_mjpeg_frames(3), 16, 8)
    media = spark.createDataFrame(
        [(1, "video", bytearray(avc)), (2, "video", bytearray(annexb)),
         (3, "video", bytearray(mjpeg)), (4, "image", bytearray(b"x"))],
        "media_id long, modality string, payload binary",
    )
    rows = {
        (r.media_id, r.frame_idx): r
        for r in keyframe_index(media).collect()
    }
    assert len(rows) == 4 + 3 + 3            # image row filtered out
    assert rows[(1, 0)].is_keyframe and not rows[(1, 1)].is_keyframe
    assert rows[(2, 0)].is_keyframe and not rows[(2, 2)].is_keyframe
    assert all(rows[(3, i)].is_keyframe for i in range(3))  # MJPEG all-intra

    plan = keyframe_sample_plan(media, every_n=2).collect()
    by_media = {}
    for r in plan:
        by_media.setdefault(r.media_id, []).append(r.frame_idx)
    assert by_media[1] == [0]                # keyframes 0,3 -> every 2nd -> 0
    assert by_media[3] == [0, 2]             # all-intra: frames 0,2


# ------------------------------------------------------------------- DSIR


def test_dsir_matches_pure_python_mirror(spark):
    # VERDICT r11 item 3: the DSIR estimator (hashed-ngram bucket
    # models, micro-nat quantization, exact integer doc sums) must
    # match an independent pure-Python implementation bit-for-bit.
    import hashlib
    import math

    from pyspark.sql import functions as F

    from aeon_mecha_spark.datapipe import curation as C

    rows = [
        (1, "the cat sat on the mat", "en"),
        (2, "le chat est sur le tapis", "fr"),
        (3, "the dog sat", "en"),
        (4, "", "en"),
        (5, "un deux trois quatre", "fr"),
        (6, "the the the", "en"),
        (7, "single", "de"),
    ]
    B = 16

    def feats(text):
        t = text.strip().lower().split() if text.strip() else []
        return t + [f"{a} {b}" for a, b in zip(t, t[1:])]

    def bucket(f):
        return int(hashlib.md5(f.encode()).hexdigest()[:15], 16) % B

    tgt_c, raw_c = {}, {}
    for _id, text, lang in rows:
        for f in feats(text):
            b = bucket(f)
            raw_c[b] = raw_c.get(b, 0) + 1
            if lang == "en":
                tgt_c[b] = tgt_c.get(b, 0) + 1
    T, R = sum(tgt_c.values()), sum(raw_c.values())

    def lp(c, n):
        return math.floor(math.log((2 * c + 1) / float(2 * n + B)) * 1e6 + 0.5)

    lr = {b: lp(tgt_c.get(b, 0), T) - lp(raw_c[b], R) for b in raw_c}
    expected = {
        _id: (
            len(feats(text)),
            sum(lr[bucket(f)] for f in feats(text)),
        )
        for _id, text, lang in rows
    }

    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {
        r.doc_id: (r.n_feats, r.logratio_micro)
        for r in C.dsir_importance(docs, F.col("lang") == "en", n_buckets=B).collect()
    }
    assert got == expected
    # model table agrees per bucket too
    model = {
        r.bucket: (r.tgt_c, r.raw_c, r.lr_micro)
        for r in C.dsir_log_ratios(docs, F.col("lang") == "en", n_buckets=B).collect()
    }
    assert model == {b: (tgt_c.get(b, 0), raw_c[b], lr[b]) for b in raw_c}
    # selection: top-2 by weight, tie-broken by doc_id, deterministic
    sel = C.dsir_select(docs, F.col("lang") == "en", k=2, n_buckets=B).collect()
    ranked = sorted(expected.items(), key=lambda kv: (-kv[1][1], kv[0]))
    assert [r.doc_id for r in sel] == [d for d, _ in ranked[:2]]


# -------------------------------------------------------- quality classifier


def test_logreg_irls_matches_numpy_mirror(spark):
    # VERDICT r11 item 4: the distributed IRLS path must agree with an
    # independent numpy implementation of the same fixed-round Newton
    # iteration (sums are reassociated across partitions, so parity is
    # to solver tolerance, not bit-exact).
    from pyspark.sql import functions as F

    from aeon_mecha_spark.datapipe.classifier import (
        logreg_irls_train,
        logreg_score_ppm,
    )

    rng = np.random.default_rng(42)
    n = 400
    X = rng.normal(size=(n, 2))
    true_beta = np.array([0.5, 2.0, -1.5])
    p = 1.0 / (1.0 + np.exp(-(true_beta[0] + X @ true_beta[1:])))
    y = (rng.uniform(size=n) < p).astype(float)

    def numpy_irls(iters=6, ridge=1e-6):
        Xd = np.column_stack([np.ones(n), X])
        beta = np.zeros(3)
        for _ in range(iters):
            z = Xd @ beta
            pr = 1.0 / (1.0 + np.exp(-z))
            w = pr * (1.0 - pr)
            H = Xd.T @ (w[:, None] * Xd) + ridge * np.eye(3)
            g = Xd.T @ (y - pr) - ridge * beta
            beta = beta + np.linalg.solve(H, g)
        return beta

    expected = numpy_irls()
    df = spark.createDataFrame(
        [(float(a), float(b), float(lbl)) for (a, b), lbl in zip(X, y)],
        "x1 double, x2 double, label double",
    )
    got = np.array(logreg_irls_train(df, ["x1", "x2"], "label", iters=6))
    assert np.allclose(got, expected, rtol=0, atol=1e-8), (got, expected)
    # the fit recovers the generating direction (sanity, wide tolerance)
    assert np.sign(got[1]) == 1 and np.sign(got[2]) == -1

    # scoring twin: exact ppm parity with a python mirror
    import math

    scored = {
        (round(r.x1, 9), round(r.x2, 9)): r.prob_ppm
        for r in logreg_score_ppm(df, ["x1", "x2"], list(got)).collect()
    }
    for (a, b), _lbl in zip(X, y):
        z = got[0] + got[1] * float(a) + got[2] * float(b)
        want = math.floor((1.0 / (1.0 + math.exp(-z))) * 1e6 + 0.5)
        assert scored[(round(float(a), 9), round(float(b), 9))] == want


def test_logreg_score_rejects_wrong_arity(spark):
    from aeon_mecha_spark.datapipe.classifier import logreg_score_ppm

    df = spark.createDataFrame([(1.0,)], "x double")
    with pytest.raises(ValueError, match="coefficients"):
        logreg_score_ppm(df, ["x"], [0.1])


# ------------------------------------------------------ watermark drop gate


def test_watermark_late_drop_set_is_deterministic(spark, tmp_path):
    """VERDICT r11 item 5: pin the late-data DROP semantics, not just
    split-invariance of in-order replays.

    Spark's two watermarks (SPARK-40925): eviction uses the value
    computed from all PRIOR batches; late-record filtering uses the
    PREVIOUS batch's eviction value (one batch of lag). With a pinned
    3-slice mtime-ordered replay the dropped set is therefore exactly
    determined: the [05:00,06:00) window arrives in batch 2 when the
    late-filter watermark is 19:00 (from batch 0's max 20:00 − 1 h),
    so BOTH its rows drop; the same data in one batch drops nothing.
    The single-batch vs split difference must equal that window
    exactly.
    """
    import datetime as dt
    import os
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    B = dt.datetime(2024, 1, 1)

    def t(h, m=0):
        return B + dt.timedelta(hours=h, minutes=m)

    slices = [[t(18), t(20)], [t(21)], [t(5), t(5, 30), t(22)]]
    feed = str(tmp_path / "wmfeed")
    os.makedirs(feed)
    for i, rows in enumerate(slices):
        tbl = pa.table(
            {
                "time": pa.array(rows, pa.timestamp("us")),
                "device": ["cam"] * len(rows),
                "v": [1.0] * len(rows),
            }
        )
        p = os.path.join(feed, f"part{i:05d}.parquet")
        pq.write_table(tbl, p)
        os.utime(p, (1700000000 + i, 1700000000 + i))  # pin replay order

    def run(split):
        src = spark.readStream.schema("time timestamp, device string, v double")
        if split:
            src = src.option("maxFilesPerTrigger", 1)
        agg = (
            src.parquet(feed)
            .withWatermark("time", "1 hour")
            .groupBy(F.window("time", "1 hour").alias("w"))
            .agg(F.count("*").alias("n"))
        )
        name = "wm" + uuid.uuid4().hex[:8]
        q = (
            agg.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        dropped = sum(
            so.get("numRowsDroppedByWatermark", 0)
            for p in q.recentProgress
            for so in p["stateOperators"]
        )
        rows = {(r.w.start, r.n) for r in spark.table(name).collect()}
        return rows, dropped

    split_rows, split_dropped = run(split=True)
    single_rows, single_dropped = run(split=False)
    # split replay: [5,6) dropped by the late filter, [21,22)/[22,23)
    # still open at the final watermark (21:00) — never emitted
    assert split_rows == {(t(18), 1), (t(20), 1)}
    assert split_dropped == 1  # one post-shuffle window grain
    # single batch: nothing is late (late-filter watermark still 1970)
    assert single_rows == {(t(5), 2), (t(18), 1), (t(20), 1)}
    assert single_dropped == 0
    # the difference IS the designed drop set, exactly
    assert single_rows - split_rows == {(t(5), 2)}


@pytest.mark.parametrize("seed", range(20))
def test_fuzz_nal_indexer_annexb(seed):
    # Deep-fuzz tier for the NAL indexer (the mp4/avi codec convention):
    # random spec-shaped streams — random codec, start-code widths, AU
    # sizes, keyframe pattern, parameter-set prefixes, trailing zeros —
    # must index back to exactly the constructed frames.
    import random

    from aeon_mecha_spark.datapipe import nalcodec as N

    rng = random.Random(seed)
    codec = rng.choice(["h264", "hevc"])

    def sc():
        return b"\x00\x00\x01" if rng.random() < 0.4 else b"\x00\x00\x00\x01"

    def nal(t, first_slice=None):
        if codec == "h264":
            hdr = bytes([(rng.choice([1, 2, 3]) << 5) | t])
            if first_slice is None:
                body = bytes([rng.randrange(1, 256) for _ in range(rng.randrange(1, 6))])
            else:
                # first ue(v): 0x88.. -> first_mb=0; 0x50.. -> first_mb=1
                lead = 0x88 if first_slice else 0x50
                body = bytes([lead]) + bytes(
                    [rng.randrange(1, 256) for _ in range(rng.randrange(1, 5))]
                )
            return hdr + body
        hdr = bytes([t << 1, 0x01])
        if first_slice is None:
            body = bytes([rng.randrange(1, 256) for _ in range(rng.randrange(1, 6))])
        else:
            # rbsp_stop_one_bit: a real NAL never ends in 0x00, so the
            # 0x00 first-slice-flag byte always gets a nonzero tail
            body = bytes([0x80 if first_slice else 0x00]) + bytes(
                [rng.randrange(1, 256) for _ in range(rng.randrange(1, 5))]
            )
        return hdr + body

    vcl_types = (
        {"idr": 5, "p": 1} if codec == "h264" else {"idr": 19, "p": 1}
    )
    sps = 7 if codec == "h264" else 33
    pps = 8 if codec == "h264" else 34

    n_frames = rng.randrange(1, 9)
    expect_key = []
    buf = bytearray()
    buf += sc() + nal(sps) + sc() + nal(pps)  # stream header -> AU 0
    for i in range(n_frames):
        key = i == 0 or rng.random() < 0.3
        expect_key.append(key)
        t = vcl_types["idr"] if key else vcl_types["p"]
        if i > 0 and rng.random() < 0.3:
            buf += sc() + nal(sps)  # re-sent parameter set opens the AU
        buf += sc() + nal(t, first_slice=True)
        for _ in range(rng.randrange(0, 3)):  # continuation slices
            buf += sc() + nal(t, first_slice=False)
    if rng.random() < 0.3:
        buf += b"\x00" * rng.randrange(1, 4)  # trailing_zero_8bits

    frames = N.annexb_frame_index(bytes(buf), codec)
    assert [f["is_keyframe"] for f in frames] == expect_key, (codec, seed)
    # frame byte ranges tile the stream (trailing zeros belong to the
    # last frame's span end or beyond — size sums to at most len(buf))
    assert frames[0]["offset"] == 0
    for a, b in zip(frames, frames[1:]):
        assert a["offset"] + a["size"] == b["offset"]
    assert frames[-1]["offset"] + frames[-1]["size"] == len(buf)


# ---------------------------------------------------------- HTML extraction


def test_html_extract_blocks_and_reassembly(spark):
    from aeon_mecha_spark.datapipe import extraction as E

    html = (
        '<html><head><script>var x = 1;</script><style>p{}</style></head>'
        '<body><div class="nav"><a href="/">Home</a> <a href="/about">About</a>'
        '</div><p>This is the real article body with many words in it.</p>'
        '<p>tiny</p><p>A &amp; B rock &lt;3 forever today yes</p>'
        '<div>Visit <a href="/x">our sponsor</a> now: click <a>here</a> and '
        '<a>here</a> please</div><!-- comment --></body></html>'
    )
    docs = spark.createDataFrame(
        [(1, html), (2, "<p></p>")], "doc_id long, html string"
    )
    blocks = {
        (r.doc_id, r.block_idx): r
        for r in E.html_text_blocks(docs).collect()
    }
    kept = sorted(
        (k, v.block_text) for k, v in blocks.items() if v.is_kept
    )
    assert [t for _k, t in kept] == [
        "This is the real article body with many words in it.",
        "A & B rock <3 forever today yes",  # entities decoded, tags gone
    ]
    # the nav block dies by link density (9 of 10 chars inside anchors)
    nav = next(v for v in blocks.values() if v.block_text == "Home About")
    assert not nav.is_kept and nav.link_chars == 9 and nav.text_chars == 10
    # the sponsor block dies by link density, not length
    sp = next(v for v in blocks.values() if "sponsor" in v.block_text)
    assert not sp.is_kept and sp.text_chars >= 20

    out = {r.doc_id: r for r in E.html_extract(docs).collect()}
    assert out[1].text == (
        "This is the real article body with many words in it.\n"
        "A & B rock <3 forever today yes"
    )
    assert out[1].n_blocks_kept == 2 and out[1].n_blocks_total == 5
    assert out[2].text == "" and out[2].n_blocks_total == 0


def test_scalar_helper_parity(spark):
    # round-12 coverage sweep: the three cited-but-uncalled scalar
    # helpers get direct pins so the coverage tables stay honest.
    import datetime as dt

    from pyspark.sql import functions as F

    from aeon_mecha_spark.functions.text import char_shingles
    from aeon_mecha_spark.functions.time import interval_overlaps, round_us

    df = spark.createDataFrame([("abcdef",)], "s string")
    (row,) = df.select(char_shingles(F.col("s"), k=5).alias("sh")).collect()
    assert row.sh == ["abcde", "bcdef"]
    (short,) = df.select(char_shingles(F.col("s"), k=9).alias("sh")).collect()
    assert short.sh == []  # shorter than k: no shingles

    # word_shingles against a pure-Python mirror and against the
    # per-position slice form it replaced: empty and whitespace-only
    # text, n < k, n = k, k = 1, a leading tab (trim keeps it, so the
    # split yields a leading empty token) and NULL.
    import re

    from aeon_mecha_spark.functions.text import tokens, word_shingles

    def mirror(text, k):
        t = text.strip(" ")
        toks = [] if t == "" else re.split(r"[ \t\n\x0b\f\r]+", t)
        if len(toks) < k:
            return [" ".join(toks)]
        return [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]

    def sliced(text, k):
        toks = tokens(text)
        n = F.size(toks)
        idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(0)))
        return F.when(
            n >= k, F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))
        ).otherwise(F.array(F.concat_ws(" ", toks)))

    texts = ["", "   ", "a b", "a b c", "a  b c d e", "\tp q r", " x ", None]
    wdf = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, s string")
    for k in (1, 2, 3):
        rows = wdf.orderBy("i").select(
            "s",
            word_shingles(F.col("s"), k).alias("w"),
            sliced(F.col("s"), k).alias("ref"),
        ).collect()
        for r in rows:
            assert r.w == r.ref, (k, r.s)
            if r.s is not None:
                assert r.w == mirror(r.s, k), (k, r.s)

    iv = spark.createDataFrame(
        [(1, 5, 5, 9), (1, 5, 6, 9)], "a0 int, a1 int, b0 int, b1 int"
    )
    got = iv.select(
        interval_overlaps(F.col("a0"), F.col("a1"), F.col("b0"), F.col("b1")).alias("c"),
        interval_overlaps(
            F.col("a0"), F.col("a1"), F.col("b0"), F.col("b1"), closed=False
        ).alias("o"),
    ).collect()
    assert [(r.c, r.o) for r in got] == [(True, False), (False, False)]

    ts = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, 0, 0, 0, 123456),)], "t timestamp"
    )
    (r,) = ts.select(round_us(F.col("t")).alias("t")).collect()
    assert r.t.microsecond == 123456  # identity on native-us timestamps


def _py_html_extract(html, min_chars=20, max_link_ppm=300_000):
    """Pure-`re` mirror of datapipe/extraction.py (same rule order:
    container drop -> block split -> tag strip -> entity decode ->
    trim -> whitespace collapse -> integer link density)."""
    import re

    cleaned = re.sub(
        r"(?s)<(script|style)[^>]*>.*?</\1>|<!--.*?-->", " ", html
    )
    kept, total = [], 0
    for raw in re.split(r"</?(?:p|div|section|article|li|tr|h[1-6]|br)[^>]*>", cleaned):
        link_chars = sum(
            len(re.sub(r"<[^>]+>", "", inner))
            for inner in re.findall(r"(?s)<a[^>]*>(.*?)</a>", raw)
        )
        txt = re.sub(r"<[^>]+>", " ", raw)
        for ent, ch in [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                        ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&")]:
            txt = txt.replace(ent, ch)
        txt = re.sub(r"\s+", " ", txt.strip())
        if not txt:
            continue
        total += 1
        if len(txt) >= min_chars and link_chars * 1_000_000 <= len(txt) * max_link_ppm:
            kept.append(txt)
    return "\n".join(kept), len(kept), total


@pytest.mark.parametrize("seed", range(12))
def test_fuzz_html_extract_matches_python_mirror(spark, seed):
    # Differential fuzz: random block soup (nested anchors, scripts,
    # comments, entities, short/long blocks) must extract identically
    # in Spark and the pure-re mirror.
    import random

    from aeon_mecha_spark.datapipe import extraction as E

    rng = random.Random(seed)
    words = ["alpha", "bravo", "civic", "delta", "e&amp;e", "&lt;tag&gt;",
             "golf", "hotel"]

    def block():
        kind = rng.random()
        body = " ".join(rng.choice(words) for _ in range(rng.randrange(1, 15)))
        if kind < 0.25:  # link-heavy block
            links = " ".join(
                f'<a href="/{i}">{rng.choice(words)} {rng.choice(words)}</a>'
                for i in range(rng.randrange(1, 4))
            )
            return f"<div>{links} {body[: rng.randrange(0, 12)]}</div>"
        if kind < 0.4:
            return f"<script>var x = {rng.randrange(99)};</script>"
        if kind < 0.5:
            return f"<!-- {body[:10]} -->"
        tag = rng.choice(["p", "div", "li", "h2", "section"])
        return f"<{tag}>{body}</{tag}>"

    htmls = [
        "<html><body>" + "".join(block() for _ in range(rng.randrange(2, 10)))
        + "</body></html>"
        for _ in range(8)
    ]
    docs = spark.createDataFrame(
        list(enumerate(htmls)), "doc_id long, html string"
    )
    got = {r.doc_id: r for r in E.html_extract(docs).collect()}
    for i, h in enumerate(htmls):
        text, n_kept, n_total = _py_html_extract(h)
        r = got[i]
        assert (r.text, r.n_blocks_kept, r.n_blocks_total) == (
            text, n_kept, n_total
        ), (seed, i, h)
