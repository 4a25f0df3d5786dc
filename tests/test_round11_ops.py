"""Round-11 regression tests: ADVICE fixes from round 10.

Covers the four code-level advisories: zero-size AVI frame chunks
(dropped-frame placeholders) must be skipped, FLAC reserved
sample-size codes must raise by name, the ANOVA F quotient must
saturate (not wrap) on near-zero SSW, and the heaps/vocab-coverage
gates must agree with their DuckDB oracles on a zero-token corpus.
"""
from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Row


def _mjpeg_frames(n=3, w=16, h=8):
    from aeon_mecha_spark.datapipe.jpegcodec import encode_jpeg

    rng = np.random.default_rng(7)
    return [
        encode_jpeg(rng.integers(0, 255, (h, w, 3)).astype(np.uint8), quality=90)
        for _ in range(n)
    ]


def test_avi_zero_size_chunk_is_dropped_frame_placeholder():
    # Real MJPEG AVIs carry 0-byte 00dc chunks for dropped/duplicate
    # frames; they must be skipped, not abort extraction.
    from aeon_mecha_spark.datapipe import avicodec

    f0, f1 = _mjpeg_frames(n=2)
    avi = avicodec.build_avi_mjpeg([f0, b"", f1], 16, 8, fps=5)
    assert avicodec.split_avi_frames(avi) == [f0, f1]
    assert avicodec.split_avi_frames(avi, max_frames=1) == [f0]


def test_flac_reserved_sample_size_codes_raise_by_name():
    import aeon_mecha_spark.datapipe.flaccodec as fc

    s = np.zeros((16, 1), dtype=np.int64)
    payload = bytearray(fc.encode_flac_verbatim(s, 8000, bits=16))
    # frame header byte 3 = (ch_code << 4) | (ss_code << 1) | reserved;
    # patch ss_code to the spec-reserved 3 — must raise by name, not
    # fall back to STREAMINFO bps and die later as a CRC mismatch
    i = bytes(payload).find(b"\xff\xf8")
    assert i > 0
    ch = payload[i + 3] >> 4
    payload[i + 3] = (ch << 4) | (3 << 1)
    with pytest.raises(NotImplementedError, match="reserved"):
        fc.decode_flac(bytes(payload))
    payload[i + 3] = (ch << 4) | (7 << 1)
    with pytest.raises(NotImplementedError, match="reserved"):
        fc.decode_flac(bytes(payload))


def test_anova_f_saturates_instead_of_wrapping(spark):
    # Near-zero SSW with a huge SSB: the raw quotient exceeds 2^63 and
    # the decimal->bigint cast would wrap; it must clamp to 2^62-1.
    from aeon_mecha_spark.operators.analytics import anova_f

    df = spark.createDataFrame(
        [("k", "a", 0), ("k", "a", 1), ("k", "b", 10**8)],
        "k string, g string, v long",
    )
    out = anova_f(df, ["k"], "v", "g").collect()[0].asDict()
    # exact integer mirror of the operator's arithmetic
    bg_a = (1 * 1 * 10**6) // 2
    bg_b = 10**16 * 10**6
    ts, tq, tbg, n, k = 10**8 + 1, 10**16 + 1, bg_a + bg_b, 3, 2
    ssb = tbg - (ts * ts * 10**6) // n
    ssw = tq * 10**6 - tbg
    raw = (ssb * (n - k) * 10**6) // (ssw * (k - 1))
    assert raw > 2**62 - 1  # the fixture really is pathological
    assert out["f_ppm"] == 2**62 - 1


def test_heaps_and_vocab_coverage_zero_token_corpus_matches_oracle(spark):
    # ADVICE (low): Spark emits 0 rows for a zero-token corpus; the
    # committed oracles formerly emitted K rows of 0/NULL. Both sides
    # must now agree on the degenerate corpus.
    import duckdb

    import __spark_entry__ as entry
    from aeon_mecha_spark.datapipe.textqc import heaps_curve, vocab_coverage

    docs = spark.createDataFrame(
        [Row(doc_id=1, text=""), Row(doc_id=2, text="   ")]
    )
    assert heaps_curve(docs).count() == 0
    assert vocab_coverage(docs).count() == 0

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS "
        "SELECT * FROM (VALUES (1, ''), (2, '   ')) t(doc_id, text)"
    )
    sqls = entry.oracle_sql()
    for q in ("q263_heaps_curve", "q264_vocab_coverage"):
        assert len(con.execute(sqls[q]).fetchall()) == 0, q


def _toy_vectors(spark, n=40, dim=8, parts=1):
    # deterministic integer-derived embeddings, two obvious clusters
    rows = []
    for i in range(n):
        base = 1.0 if i % 2 == 0 else -1.0
        vec = [base * ((i * 7 + j * 3) % 5 + 1) / 5.0 for j in range(dim)]
        rows.append(Row(vec_id=i, embedding=vec))
    return spark.createDataFrame(rows).repartition(parts)


_TOY_CENTROIDS = [[1.0] * 4, [-1.0] * 4]
_TOY_BOOKS = [
    [[0.2, 0.4], [-0.2, -0.4], [0.8, 0.6], [-0.8, -0.6]],
    [[0.1, 0.3], [-0.1, -0.3], [0.7, 0.9], [-0.7, -0.9]],
    [[0.5, 0.5], [-0.5, -0.5], [1.0, 0.2], [-1.0, -0.2]],
    [[0.3, 0.7], [-0.3, -0.7], [0.9, 0.1], [-0.9, -0.1]],
]


def test_ivf_pq_search_composes_and_is_partition_invariant(spark):
    from aeon_mecha_spark.datapipe import similarity

    vecs = _toy_vectors(spark)
    out = similarity.ivf_pq_search(
        vecs, _TOY_CENTROIDS, _TOY_BOOKS, k=3, nprobe=2, shortlist=8
    )
    rows = sorted(
        (r.query_id, r.rank, r.neighbor_id, round(r.score, 9))
        for r in out.collect()
    )
    # every query gets exactly k ranked neighbors (nprobe=2 covers both cells)
    assert len(rows) == 40 * 3
    per_q = {}
    for qid, rank, nid, score in rows:
        per_q.setdefault(qid, []).append((rank, score))
    for qid, rs in per_q.items():
        assert [r for r, _ in rs] == [1, 2, 3]
        scores = [s for _, s in rs]
        assert scores == sorted(scores, reverse=True)
    # identical result from a different physical partitioning
    rows7 = sorted(
        (r.query_id, r.rank, r.neighbor_id, round(r.score, 9))
        for r in similarity.ivf_pq_search(
            _toy_vectors(spark, parts=7), _TOY_CENTROIDS, _TOY_BOOKS,
            k=3, nprobe=2, shortlist=8,
        ).collect()
    )
    assert rows == rows7


def test_ivf_pq_search_recall_vs_brute_force(spark):
    from aeon_mecha_spark.datapipe import similarity

    vecs = _toy_vectors(spark)
    approx = similarity.ivf_pq_search(
        vecs, _TOY_CENTROIDS, _TOY_BOOKS, k=3, nprobe=2, shortlist=20
    )
    exact = similarity.brute_force_knn(vecs, vecs, k=3)
    rec = similarity.knn_recall(approx, exact).agg(
        {"recall": "avg"}
    ).collect()[0][0]
    # nprobe=2 covers both cells and shortlist 20 of 39 possible
    # candidates: the composed path must recover most true neighbors
    assert rec >= 0.8, rec


def test_ivf_pq_search_validates_nprobe(spark):
    from aeon_mecha_spark.datapipe import similarity

    with pytest.raises(ValueError, match="nprobe"):
        similarity.ivf_pq_search(
            _toy_vectors(spark), _TOY_CENTROIDS, _TOY_BOOKS, nprobe=3
        )


def test_short_vector_raises_in_literal_array_folds(spark):
    # zip_with NULL-pads the shorter array, so without the size guard a
    # short vector scores a NULL distance instead of failing (Spark 4.1
    # runs ANSI mode, where the old element_at form failed fast)
    from aeon_mecha_spark.datapipe import similarity

    vecs = spark.createDataFrame(
        [(0, [1.0] * 8), (1, [1.0] * 6), (2, None)],
        "vec_id int, embedding array<double>",
    )
    with pytest.raises(Exception, match="fewer than 8 elements"):
        similarity.ivf_pq_search(vecs, _TOY_CENTROIDS, _TOY_BOOKS, k=1, nprobe=2).collect()
    with pytest.raises(Exception, match="fewer than 7 elements"):
        similarity.ivf_assign_bulk(vecs, [[0.5] * 7, [-0.5] * 7]).collect()
    # full-length and NULL vectors pass the guard untouched
    ok = {r.vec_id: r.cell for r in similarity.ivf_assign_bulk(vecs.filter("vec_id != 1"), [[-1.0] * 8, [1.0] * 8]).collect()}
    assert sorted(ok) == [0, 2] and ok[0] == 1


@pytest.mark.parametrize("fn", ["dot", "l2_distance", "cosine"])
def test_generic_vector_fold_raises_on_size_mismatch(spark, fn):
    # the generic zip_with fold (no dim, or dim past MAX_UNROLL_DIM)
    # NULL-pads the shorter vector: a size mismatch must raise instead
    from pyspark.sql import functions as F

    from aeon_mecha_spark.functions import vector

    f = getattr(vector, fn)
    pairs = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0], [4.0, 5.0, 6.0]), (1, [1.0, 2.0, 3.0], [1.0, 2.0]), (2, None, [1.0, 2.0])],
        "id int, a array<double>, b array<double>",
    )
    with pytest.raises(Exception, match=f"{fn if fn != 'cosine' else 'dot'}: vectors differ in size"):
        pairs.select(f(F.col("a"), F.col("b"))).collect()
    ok = pairs.filter("id != 1").orderBy("id").select(f(F.col("a"), F.col("b")).alias("r")).collect()
    expect = {"dot": 32.0, "l2_distance": 27.0**0.5, "cosine": 32.0 / (14.0**0.5 * 77.0**0.5)}[fn]
    assert ok[0].r == pytest.approx(expect) and ok[1].r is None
    wide = spark.createDataFrame([([1.0] * 40, [1.0] * 41)], "a array<double>, b array<double>")
    with pytest.raises(Exception, match="vectors differ in size"):
        wide.select(f(F.col("a"), F.col("b"), 40)).collect()


def test_ivf_assign_bulk_reads_leading_dimensions(spark):
    # a vector longer than the centroids is assigned on its leading
    # dimensions, as the unrolled ivf_assign does, not given a NULL cell
    from aeon_mecha_spark.datapipe import similarity

    centroids = [[0.0, 0.0, 0.0], [1.0, 1.0, 1.0]]
    vecs = spark.createDataFrame(
        [(0, [0.9, 0.9, 0.9, -100.0]), (1, [0.1, 0.0, 0.2, 50.0, 7.0]), (2, [1.0, 1.0, 0.9])],
        "vec_id int, embedding array<double>",
    )
    bulk = {r.vec_id: r.cell for r in similarity.ivf_assign_bulk(vecs, centroids).collect()}
    unrolled = {r.vec_id: r.cell for r in similarity.ivf_assign(vecs, centroids).collect()}
    assert bulk == unrolled == {0: 1, 1: 0, 2: 1}


def test_distributed_listing_matches_driver_listing(spark, tmp_path):
    # VERDICT r10 item 4: the Spark-job walk must return exactly the
    # driver glob's output — priority-root dedup, pruning, order.
    import datetime as dt

    from aeon_mecha_spark.sources import load as L
    from aeon_mecha_spark.sources.readers import REGISTRY

    rdr = REGISTRY["encoder"]
    roots = []
    for r in ("rootA", "rootB"):
        root = tmp_path / r
        for epoch in range(5):
            dev = root / f"2024-01-0{epoch + 1}T00-00-00" / "Patch1"
            dev.mkdir(parents=True)
            for h in range(3):
                (dev / f"Patch1_Encoder_2024-01-0{epoch + 1}T{h:02d}-00-00.csv").write_text(
                    "aeon_time,angle,intensity\n"
                )
        roots.append(str(root))
    # rootB mirrors rootA entirely -> rootA must win every chunk
    driver = L.discover_chunk_files(roots, rdr)
    dist = L.discover_chunk_files(roots, rdr, spark=spark, distributed_threshold=0)
    assert dist == driver
    assert len(dist) == 15 and all(p.startswith(roots[0]) for p, _ in dist)
    # window pruning agrees too
    s, e = dt.datetime(2024, 1, 2), dt.datetime(2024, 1, 4)
    assert (
        L.discover_chunk_files(roots, rdr, start=s, end=e, spark=spark,
                               distributed_threshold=0)
        == L.discover_chunk_files(roots, rdr, start=s, end=e)
    )


def _mjpeg_frames_16x8(n=5):
    from aeon_mecha_spark.datapipe.jpegcodec import encode_jpeg

    rng = np.random.default_rng(11)
    return [
        encode_jpeg(rng.integers(0, 255, (8, 16, 3)).astype(np.uint8), quality=90)
        for _ in range(n)
    ]


def test_fmp4_roundtrip_probe_and_split():
    # VERDICT r10 item 6: fragmented MP4 (streamed-camera layout)
    # demuxes via moof/traf/trun — byte-exact sample recovery
    from aeon_mecha_spark.datapipe import mp4codec

    frames = _mjpeg_frames_16x8(5)
    f = mp4codec.build_fmp4_mjpeg(frames, 16, 8, fps=4, frames_per_fragment=2)
    assert mp4codec.is_mp4(f)
    info = mp4codec.probe_mp4(f)
    assert info["codec"] == "jpeg"
    assert (info["width"], info["height"]) == (16, 8)
    assert info["n_samples"] == 5 and info["timescale"] == 4
    assert mp4codec.split_mp4_frames(f) == frames
    assert mp4codec.split_mp4_frames(f, max_frames=3) == frames[:3]


def test_fmp4_non_jpeg_still_raises_by_name():
    from aeon_mecha_spark.datapipe import mp4codec

    frames = _mjpeg_frames_16x8(2)
    f = bytearray(mp4codec.build_fmp4_mjpeg(frames, 16, 8))
    i = bytes(f).find(b"jpeg", bytes(f).find(b"stsd"))
    f[i : i + 4] = b"avc1"
    with pytest.raises(NotImplementedError, match="avc1"):
        mp4codec.split_mp4_frames(bytes(f))


def test_fmp4_decodes_through_multimodal(spark):
    from aeon_mecha_spark.datapipe import mp4codec, multimodal

    frames = _mjpeg_frames_16x8(3)
    f = mp4codec.build_fmp4_mjpeg(frames, 16, 8, frames_per_fragment=1)
    media = spark.createDataFrame(
        [
            Row(
                media_id=9,
                modality="video",
                width=16,
                height=8,
                duration_ms=750,
                payload=bytearray(f),
            )
        ],
        schema=multimodal.MEDIA_SCHEMA,
    )
    out = multimodal.decode_video_frames(media).orderBy("frame_idx").collect()
    assert [r["frame_idx"] for r in out] == [0, 1, 2]


def test_mixture_weights_exact_math_and_cap(spark):
    from aeon_mecha_spark.datapipe import curation

    docs = spark.createDataFrame(
        [
            # en: 6 tokens, fr: 3 tokens, tiny: 1 token, none: 0 tokens
            Row(doc_id=1, lang="en", text="a b c"),
            Row(doc_id=2, lang="en", text="d e f"),
            Row(doc_id=3, lang="fr", text="x y z"),
            Row(doc_id=4, lang="tiny", text="q"),
            Row(doc_id=5, lang="none", text="   "),
        ]
    )
    out = {
        r.domain: r.asDict()
        for r in curation.mixture_weights(
            docs, "lang",
            {"en": 300_000, "fr": 300_000, "tiny": 400_000},
        ).collect()
    }
    total = 10
    # exact integer mirrors
    assert out["en"]["tokens"] == 6
    assert out["en"]["actual_ppm"] == 6 * 10**6 // total
    assert out["en"]["weight_ppm"] == 300_000 * total // 6
    assert out["fr"]["weight_ppm"] == 300_000 * total // 3  # 1e6 = keep all
    # tiny domain: raw weight 4e6 below the 16x cap -> exact
    assert out["tiny"]["weight_ppm"] == 400_000 * total // 1
    assert out["tiny"]["expected_tokens"] == 1 * out["tiny"]["weight_ppm"] // 10**6
    # zero-token domain with no target: weight NULL (no silent renorm)
    assert out["none"]["weight_ppm"] is None
    # unlisted domain -> target 0 -> weight 0
    assert out["none"]["target_ppm"] == 0
    # cap engages when the raw quotient exceeds 16x: 1 tiny token in a
    # 101-token corpus at a 90% target -> raw 0.9*101/1 = 90.9x
    big = docs.unionByName(
        spark.createDataFrame([Row(doc_id=6, lang="en", text="t " * 91)])
    )
    capped = {
        r.domain: r.weight_ppm
        for r in curation.mixture_weights(
            big, "lang", {"tiny": 900_000}, cap_ppm=16_000_000
        ).collect()
    }
    assert capped["tiny"] == 16_000_000


def test_mixture_weights_compose_with_mixture_sample(spark):
    # weights < 1e6 feed mixture_sample directly as Bernoulli fractions
    from aeon_mecha_spark.datapipe import curation

    docs = spark.createDataFrame(
        [Row(doc_id=i, lang="en" if i % 4 else "fr", text="w " * 10)
         for i in range(200)]
    )
    w = {
        r.domain: r.weight_ppm
        for r in curation.mixture_weights(
            docs, "lang", {"en": 200_000, "fr": 800_000}
        ).collect()
    }
    assert w["en"] < 10**6 < w["fr"]
    kept = curation.mixture_sample(
        docs, "lang", {"en": w["en"] / 1e6}, default_fraction=1.0
    )
    n_en = kept.filter("lang = 'en'").count()
    assert 0 < n_en < docs.filter("lang = 'en'").count()


def test_c4_line_filter_rules(spark):
    from aeon_mecha_spark.datapipe import curation

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="Good line with words.\nshort.\n"
                               "no terminal punct here\nAnother good line stays!"),
            Row(doc_id=2, text="Contains lorem ipsum somewhere.\nFine line here too."),
            Row(doc_id=3, text="var x = { a: 1 };\nReal prose line here."),
            Row(doc_id=4, text="Uses javascript for menus here.\nThis line is kept properly."),
            Row(doc_id=5, text="no lines survive this one"),
        ]
    )
    out = {r.doc_id: r.asDict() for r in curation.c4_line_filter(docs).collect()}
    assert out[1]["text"] == "Good line with words.\nAnother good line stays!"
    assert out[1]["n_lines"] == 4 and out[1]["n_kept"] == 2 and out[1]["passes"]
    assert not out[2]["ok_markers"] and not out[2]["passes"]  # lorem ipsum
    assert not out[3]["ok_markers"]  # curly brace = code
    assert out[4]["n_kept"] == 1 and out[4]["passes"]  # javascript line dropped
    assert out[5]["n_kept"] == 0 and not out[5]["passes"]


def test_gopher_filter_integer_ratios(spark):
    from aeon_mecha_spark.datapipe import curation

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox and that dog have fun with cats " * 5),
            Row(doc_id=2, text="zz " * 60),                      # mean len 2 < 3
            Row(doc_id=3, text="### " * 30 + "the of and " * 10),  # symbol ratio
        ]
    )
    out = {r.doc_id: r.asDict() for r in curation.gopher_filter(docs, min_words=20).collect()}
    assert out[1]["passes"]
    assert not out[2]["ok_word_len"] and not out[2]["passes"]
    # 30 hashes over 90 words: 30e6 > 0.1ppm*90 -> symbol rule fires
    assert not out[3]["ok_symbols"] and not out[3]["passes"]


def test_perplexity_buckets_mass_thirds(spark):
    from aeon_mecha_spark.datapipe import textqc

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = textqc.perplexity_buckets(docs)
    rows = out.collect()
    assert {r.bucket for r in rows} == {"head", "middle", "tail"}
    # token-mass thirds: each bucket within one grain-row of a third
    mass = {}
    for r in rows:
        mass[r.bucket] = mass.get(r.bucket, 0) + r.n_tokens
    total = sum(mass.values())
    for b in ("head", "middle", "tail"):
        assert abs(mass[b] - total / 3) < total * 0.1, (b, mass, total)
    # ordering property: every head doc scores >= every tail doc
    hmin = min(r.logprob_per_token for r in rows if r.bucket == "head")
    tmax = max(r.logprob_per_token for r in rows if r.bucket == "tail")
    assert hmin >= tmax


def test_fmp4_offsetless_trun_continues_after_previous_run():
    # ISO 14496-12 8.8.8.1: a trun without data-offset continues right
    # after the previous run's bytes. Hand-assemble one fragment with
    # trun1 (offset, 2 samples) + trun2 (NO offset, 2 samples).
    import struct

    from aeon_mecha_spark.datapipe import mp4codec as M

    frames = _mjpeg_frames_16x8(4)
    built = M.build_fmp4_mjpeg(frames, 16, 8, frames_per_fragment=4)
    head = built[: built.index(b"moof") - 4]  # ftyp + moov (empty tables)

    mfhd = M._fullbox(b"mfhd", struct.pack(">I", 1))
    tfhd = M._fullbox(b"tfhd", struct.pack(">I", 1), flags=0x20000)
    trun1 = M._fullbox(
        b"trun",
        struct.pack(">I", 2) + struct.pack(">i", 0)
        + b"".join(struct.pack(">I", len(f)) for f in frames[:2]),
        flags=0x201,
    )
    trun2 = M._fullbox(
        b"trun",
        struct.pack(">I", 2)
        + b"".join(struct.pack(">I", len(f)) for f in frames[2:]),
        flags=0x200,  # sample sizes only — no data_offset
    )
    traf = M._box(b"traf", tfhd + trun1 + trun2)
    moof = bytearray(M._box(b"moof", mfhd + traf))
    t1 = moof.find(b"trun") - 4
    moof[t1 + 16 : t1 + 20] = struct.pack(">i", len(moof) + 8)
    payload = head + bytes(moof) + M._box(b"mdat", b"".join(frames))

    assert M.probe_mp4(payload)["n_samples"] == 4
    assert M.split_mp4_frames(payload) == frames
