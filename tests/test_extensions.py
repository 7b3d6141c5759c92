"""Unit tests for extension operators whose semantics the DuckDB oracle
can't check: lang-ID, MinHash/SimHash near-dup, LSH recall, multimodal."""

from __future__ import annotations

from pyspark.sql import functions as F

from airflow_project_flight_price_analysis_spark.functions.text import (
    lang_id_expr,
    quality_score_expr,
    token_count_expr,
)
from airflow_project_flight_price_analysis_spark.operators.dedup import (
    minhash_neardup_pairs,
    simhash_candidate_pairs,
    simhash_signatures,
)
from airflow_project_flight_price_analysis_spark.operators.multimodal import (
    _bmp_pixels_arr,
    _wav_samples_np,
    extract_features,
    frame_sample_plan,
    media_from_documents,
)
from airflow_project_flight_price_analysis_spark.operators.similarity import (
    cosine_topk,
    lsh_topk,
)


def test_lang_id_on_known_samples(spark):
    samples = [
        (1, "the cat sat on the mat and it was happy for a while", "en"),
        (2, "le chat est dans la maison et les enfants sont dans le jardin", "fr"),
        (3, "el perro y el gato de la casa que es muy grande en un pueblo", "es"),
        (4, "der hund und die katze sind von einem haus mit garten nicht weit", "de"),
        (5, "你好世界这是一个中文测试文档里面全是汉字", "zh"),
        (6, "zzz qqq xxx vvv", "und"),
    ]
    df = spark.createDataFrame(samples, "id long, text string, expected string")
    rows = df.select("expected", lang_id_expr("text").alias("pred")).collect()
    assert all(r.pred == r.expected for r in rows), [
        (r.expected, r.pred) for r in rows
    ]


def test_quality_score_orders_sensibly(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog and it was a very "
                "good day for everyone in the field to be happy"),
            (2, "$$$ !!! ### @@@ %%% ^^^ &&& *** ((( )))"),
            (3, "ok"),
        ],
        "id long, text string",
    )
    scores = {r.id: r.q for r in df.select("id", quality_score_expr("text").alias("q")).collect()}
    assert scores[1] > scores[3] > scores[2]


def test_token_count_empty_and_null(spark):
    df = spark.createDataFrame([("a b c",), ("",), ("   ",), (None,)], "t string")
    got = [r[0] for r in df.select(token_count_expr("t")).collect()]
    assert got[0] == 3 and got[1] == 0 and got[2] == 0
    assert got[3] in (0, -1, None)  # null text → size(null); engine maps later


def _docs_with_neardups(spark):
    base = ("spark engine shuffles data across the cluster while the optimizer "
            "prunes columns and pushes filters down to the parquet scan layer")
    near = base.replace("parquet", "orc")  # one token differs
    far = ("completely different content about cooking recipes with garlic "
           "onions tomatoes basil and a pinch of salt in the warm kitchen")
    return spark.createDataFrame(
        [(1, base, "en"), (2, near, "en"), (3, far, "en")],
        "doc_id long, text string, lang string",
    )


def test_minhash_finds_planted_neardup(spark):
    docs = _docs_with_neardups(spark)
    pairs = minhash_neardup_pairs(docs, "text", "doc_id", threshold=0.4).collect()
    assert {(r.a, r.b) for r in pairs} == {(1, 2)}


def test_simhash_finds_planted_neardup(spark):
    docs = _docs_with_neardups(spark)
    sigs = simhash_signatures(docs, "text", "doc_id")
    pairs = simhash_candidate_pairs(sigs, max_hamming=8).collect()
    assert (1, 2) in {(r.a, r.b) for r in pairs}
    assert (1, 3) not in {(r.a, r.b) for r in pairs}


def test_lsh_recall_against_brute_force(spark):
    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding"))
    )
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {(r.query_id, r.neighbor_id)
             for r in cosine_topk(emb, queries, k=5).collect()}
    approx = {(r.query_id, r.neighbor_id)
              for r in lsh_topk(emb, queries, k=5, num_bits=2).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.2, f"LSH recall collapsed: {recall}"


def test_multimodal_feature_extraction(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    media = media_from_documents(docs)
    feats = extract_features(media, dim=8)
    rows = feats.collect()
    assert len(rows) == docs.count()
    assert all(len(r.feature) == 8 for r in rows)
    assert all(0.0 <= v < 1.0 for r in rows for v in r.feature)
    # deterministic: same payload → same sha/feature on rerun
    again = extract_features(media, dim=8).collect()
    assert {r.media_id: r.sha for r in rows} == {r.media_id: r.sha for r in again}


def test_frame_sample_plan_explodes_video(spark):
    media = spark.createDataFrame(
        [(1, bytearray(b"v"), ("video", "mp4", None, None, 3500))],
        "media_id long, payload binary, meta struct<modality:string,format:string,width:int,height:int,duration_ms:int>",
    )
    frames = frame_sample_plan(media, every_ms=1000).collect()
    assert [r.frame_ms for r in frames] == [0, 1000, 2000, 3000]


def test_pii_redaction_semantics(spark):
    from airflow_project_flight_price_analysis_spark.functions.text import (
        pii_counts,
        pii_redact_expr,
    )

    samples = [
        (1, "reach me at jane.doe+spam@corp.example.org thanks"),
        (2, "call +1-555-0134 or +44-207-9460-018 now"),
        (3, "server at 192.168.0.1 and 10.0.255.3 responded"),
        (4, "mixed bob@x.io from 8.8.8.8 call +1-555-1234"),
        (5, "nothing sensitive here"),
    ]
    df = spark.createDataFrame(samples, "id long, text string")
    counts = pii_counts("text")
    rows = {
        r["id"]: r
        for r in df.select(
            "id", *[c.alias(n) for n, c in counts.items()],
            pii_redact_expr("text").alias("red"),
        ).collect()
    }
    assert (rows[1]["n_email"], rows[1]["n_phone"], rows[1]["n_ip"]) == (1, 0, 0)
    assert rows[2]["n_phone"] == 2
    assert rows[3]["n_ip"] == 2
    assert (rows[4]["n_email"], rows[4]["n_phone"], rows[4]["n_ip"]) == (1, 1, 1)
    assert rows[5]["red"] == "nothing sensitive here"
    assert rows[1]["red"] == "reach me at <EMAIL> thanks"
    assert rows[4]["red"] == "mixed <EMAIL> from <IP> call <PHONE>"


def test_repetition_signals_flags(spark):
    from airflow_project_flight_price_analysis_spark.plans.extensions import (
        x26_repetition_signals,
    )
    import os
    import tempfile

    # one heavily repetitive doc, one diverse doc, same lang
    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam spam spam spam spam", "en", "s", 49),
            (2, "alpha bravo charlie delta echo foxtrot golf hotel india juliet", "en", "s", 61),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    with tempfile.TemporaryDirectory() as d:
        docs.coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
        row = x26_repetition_signals(spark, d).collect()[0]
    # doc 1: 10 tokens, 1 distinct, top_freq 10 -> top-heavy + repetitive
    # doc 2: 10 tokens, all distinct -> neither
    assert row["n_docs"] == 2
    assert row["sum_tokens"] == 20
    assert row["sum_distinct_tokens"] == 11
    assert row["n_top_heavy"] == 1
    assert row["n_repetitive"] == 1


def test_boilerplate_ngrams_doc_frequency(spark):
    from airflow_project_flight_price_analysis_spark.plans.extensions import (
        x28_boilerplate_ngrams,
    )
    import os
    import tempfile

    # "click here now" appears in 3 docs (twice in doc 3 - counted once);
    # every other 3-gram is unique to its doc
    docs = spark.createDataFrame(
        [
            (1, "click here now for offers", "en", "s", 25),
            (2, "please click here now", "en", "s", 21),
            (3, "click here now click here now", "en", "s", 29),
            (4, "completely different text body", "en", "s", 30),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    with tempfile.TemporaryDirectory() as d:
        docs.coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
        rows = x28_boilerplate_ngrams(spark, d).collect()
    assert rows[0]["gram"] == "click here now"
    assert rows[0]["doc_freq"] == 3
    assert all(r["doc_freq"] == 1 for r in rows[1:])


def test_pack_sequences_sharded(spark):
    """Sharded packing: every doc assigned exactly once; within each
    (source, shard) packs are dense from 0 and every non-final pack is
    filled past seq_len (docs here are far smaller than seq_len)."""
    from airflow_project_flight_price_analysis_spark.functions.text import (
        token_count_expr,
    )
    from airflow_project_flight_price_analysis_spark.operators.packing import (
        pack_sequences,
    )
    from airflow_project_flight_price_analysis_spark.sources import load_table
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents").select(
        "doc_id", "source", token_count_expr("text").alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    n = docs.count()
    shard = F.pmod(F.col("doc_id"), F.lit(4))
    packed = pack_sequences(docs, "doc_id", "source", "n_tokens",
                            shard_col=shard, seq_len=512)
    assert packed.count() == n
    assert packed.select("doc_id").distinct().count() == n

    per_pack = (
        packed.groupBy("source", "shard", "pack_id")
        .agg(F.sum("n_tokens").alias("tok"), F.max("n_tokens").alias("max_doc"))
    )
    groups = per_pack.groupBy("source", "shard").agg(
        F.max("pack_id").alias("max_pack"),
        F.count("*").alias("n_packs"),
    ).collect()
    for g in groups:  # dense pack ids: 0..max_pack
        assert g["n_packs"] == g["max_pack"] + 1, g
    # fill bound: a non-final pack's docs span from its first start to
    # past the next boundary, so total >= seq_len - max_doc_size
    last = per_pack.groupBy("source", "shard").agg(F.max("pack_id").alias("lp"))
    unfilled = (
        per_pack.join(last, ["source", "shard"])
        .filter((F.col("pack_id") != F.col("lp"))
                & (F.col("tok") + F.col("max_doc") < 512))
        .count()
    )
    assert unfilled == 0
    # determinism
    p2 = pack_sequences(docs, "doc_id", "source", "n_tokens",
                        shard_col=shard, seq_len=512)
    assert packed.exceptAll(p2).count() == 0


def test_x09_certification_sample_is_capped(spark, tmp_path):
    """x09's brute-force certification must run on the capped deterministic
    sample, never the full corpus (r2 ADVICE): with a synthetic corpus 3×
    the 2000-doc cap, the pairwise side sees ≤ ~cap docs and the
    certification booleans still hold."""
    import __spark_entry__ as entrymod

    n = 6000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta gamma delta epsilon zeta doc "),
                 F.col("id").cast("string")).alias("text"),
        F.lit("en").alias("lang"),
        F.lit("synthetic").alias("source"),
    ).withColumn("n_chars", F.length("text").cast("long"))
    docs.coalesce(4).write.parquet(str(tmp_path / "documents.parquet"))

    df = entrymod.queries()["x09_simhash_pairs"](spark, str(tmp_path))
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the in-plan sample mod must appear upstream of the pairwise join
    assert "smod" in plan
    row = df.collect()[0]
    assert row.banding_complete and row.counts_equal and row.has_candidates


def test_x34_window_is_sharded(spark):
    """The registered sharded packing query must window per (source,
    shard) — not per source alone (the x31 scale risk it exists to fix)."""
    import __spark_entry__ as entrymod
    from tests.conftest import SF_SMALL

    df = entrymod.queries()["x34_sequence_packing_sharded"](spark, SF_SMALL)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    window_lines = [ln for ln in plan.splitlines() if "Window" in ln]
    assert window_lines, plan
    assert any("source" in ln and "shard" in ln for ln in window_lines), plan


# --- real stdlib WAV codec (operators/multimodal.py, r7) -------------------

def _wav_samples(payload):
    """(sample_rate, samples as an int tuple) of a WAV payload."""
    rate, arr = _wav_samples_np(payload)
    return rate, tuple(arr.tolist())


def _bmp_pixels(payload):
    """(width, height, row-major top-down RGB bytes) of a BMP payload."""
    w, h, arr = _bmp_pixels_arr(payload)
    return w, h, arr.tobytes()


def test_wav_roundtrip_decode(spark):
    """synth → decode recovers the generative law exactly: the decode
    parses REAL RIFF bytes (not the fake featurizer)."""
    import math

    from airflow_project_flight_price_analysis_spark.operators.multimodal import (
        decode_wav_features,
        synth_wav_media,
    )

    docs = spark.createDataFrame([(i,) for i in (0, 7, 123)], "doc_id long")
    rows = {r.media_id: r for r in
            decode_wav_features(synth_wav_media(docs)).collect()}
    for did in (0, 7, 123):
        n = 40 + did % 25
        samples = [((did * 31 + i * 7) % 65536) - 32768 for i in range(n)]
        r = rows[did]
        assert r.n_samples == n
        assert r.sample_rate == 8000
        assert r.peak == max(abs(s) for s in samples)
        assert r.ssq == sum(s * s for s in samples)
        assert r.rms == math.sqrt(r.ssq / n)


def test_wav_parser_walks_extra_chunks_and_rejects_garbage():
    """The chunk walker must tolerate a LIST chunk before data (real
    WAV files carry them) and raise on malformed containers."""
    import struct as st

    import pytest

    from airflow_project_flight_price_analysis_spark.operators.multimodal import (
        _parse_wav,
        _wav_bytes,
    )

    wav = _wav_bytes(5)
    # splice an extra chunk between WAVE and fmt
    extra = b"LIST" + st.pack("<I", 4) + b"INFO"
    spliced = wav[:12] + extra + wav[12:]
    spliced = spliced[:4] + st.pack("<I", len(spliced) - 8) + spliced[8:]
    assert _parse_wav(spliced) == _parse_wav(wav)
    with pytest.raises(ValueError, match="RIFF"):
        _parse_wav(b"not a wav at all")
    # stereo/8-bit must be rejected, not mis-decoded
    bad_fmt = st.pack("<HHIIHH", 1, 2, 8000, 32000, 4, 16)
    body = (b"WAVE" + b"fmt " + st.pack("<I", 16) + bad_fmt
            + b"data" + st.pack("<I", 4) + b"\0\0\0\0")
    with pytest.raises(ValueError, match="unsupported"):
        _parse_wav(b"RIFF" + st.pack("<I", len(body)) + body)

    def riff(fmt_body, data):
        body = (b"WAVE" + b"fmt " + st.pack("<I", len(fmt_body)) + fmt_body
                + b"data" + st.pack("<I", len(data)) + data
                + b"\0" * (len(data) & 1))
        return b"RIFF" + st.pack("<I", len(body)) + body

    pcm16 = st.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    # a fmt chunk too short for its 16 fixed bytes: ValueError, not
    # struct.error
    with pytest.raises(ValueError, match="fmt chunk"):
        _parse_wav(riff(pcm16[:12], b"\0\0"))
    # an odd-length PCM16 data chunk holds half a sample: rejected, not
    # silently truncated
    with pytest.raises(ValueError, match="odd-length"):
        _parse_wav(riff(pcm16, b"\0\0\0"))


def test_bmp_roundtrip_decode(spark):
    """synth → decode recovers exact per-channel sums through the real
    storage transforms (bottom-up rows, BGR order, row padding)."""
    from airflow_project_flight_price_analysis_spark.operators.multimodal import (
        _bmp_dims,
        decode_bmp_features,
        synth_bmp_media,
    )

    docs = spark.createDataFrame([(i,) for i in (0, 3, 11)], "doc_id long")
    rows = {r.media_id: r for r in
            decode_bmp_features(synth_bmp_media(docs)).collect()}
    for did in (0, 3, 11):
        w, h = _bmp_dims(did)
        exp = [sum((did * 7 + p * 3 + c) % 256 for p in range(w * h))
               for c in range(3)]
        r = rows[did]
        assert (r.width, r.height) == (w, h)
        assert [r.sum_r, r.sum_g, r.sum_b] == exp


def test_bmp_parser_handles_topdown_and_rejects_malformed():
    """Negative biHeight = top-down storage (valid per spec) must
    decode to the same logical sums; garbage and unsupported bpp must
    raise."""
    import struct as st

    import pytest

    from airflow_project_flight_price_analysis_spark.operators.multimodal import (
        _bmp_bytes,
        _parse_bmp,
    )

    wav = _bmp_bytes(3)
    w, h = st.unpack_from("<ii", wav, 18)
    # rebuild as top-down: negate height, reverse the row order
    row_stride = (w * 3 + 3) // 4 * 4
    off = st.unpack_from("<I", wav, 10)[0]
    rows = [wav[off + i * row_stride: off + (i + 1) * row_stride]
            for i in range(h)]
    td = bytearray(wav[:off] + b"".join(reversed(rows)))
    st.pack_into("<i", td, 22, -h)
    assert _parse_bmp(bytes(td)) == _parse_bmp(wav)
    with pytest.raises(ValueError, match="BMP"):
        _parse_bmp(b"PNG? nope")
    bad = bytearray(wav)
    st.pack_into("<H", bad, 28, 8)  # 8bpp unsupported
    with pytest.raises(ValueError, match="unsupported"):
        _parse_bmp(bytes(bad))


def test_bmp_nn_resize_kernel():
    """The real resize kernel: identity dims round-trip the pixels
    bit-exactly; up/down-scaling match a reference NN resample of the
    parsed grid; re-encoded output is a valid container the strict
    parser accepts; bad target dims raise."""
    from airflow_project_flight_price_analysis_spark.operators.multimodal import (
        _bmp_bytes,
        _parse_bmp,
        _resize_bmp_nn,
    )

    for did in (0, 3, 7, 11):
        payload = _bmp_bytes(did)
        w, h, rgb = _bmp_pixels(payload)
        # identity resize = byte-identical pixel grid
        assert _bmp_pixels(_resize_bmp_nn(payload, w, h))[2] == rgb
        for ow, oh in ((4, 3), (2 * w, 2 * h), (1, 1)):
            out = _resize_bmp_nn(payload, ow, oh)
            rw, rh, rrgb = _bmp_pixels(out)
            assert (rw, rh) == (ow, oh)
            ref = bytearray()
            for q in range(ow * oh):
                sy, sx = (q // ow) * h // oh, (q % ow) * w // ow
                ref += rgb[3 * (sy * w + sx): 3 * (sy * w + sx) + 3]
            assert rrgb == bytes(ref)
            _parse_bmp(out)  # strict parser accepts the re-encode


def test_bmp_nn_resize_operator(spark):
    """resize_bmp_nn over the media table: dims rewritten in metadata
    AND in the re-parsed payloads; invalid targets raise."""
    import pytest

    from airflow_project_flight_price_analysis_spark.operators.multimodal import (
        decode_bmp_features,
        resize_bmp_nn,
        synth_bmp_media,
    )

    docs = spark.createDataFrame([(i,) for i in (0, 5, 9)], "doc_id long")
    media = synth_bmp_media(docs)
    with pytest.raises(ValueError, match=">= 1"):
        resize_bmp_nn(media, 0, 4)
    out = resize_bmp_nn(media, 6, 5)
    feats = {r.media_id: r for r in decode_bmp_features(out).collect()}
    metas = {r.media_id: r.meta for r in out.collect()}
    assert set(feats) == {0, 5, 9}
    for mid in feats:
        assert (feats[mid].width, feats[mid].height) == (6, 5)
        assert (metas[mid].width, metas[mid].height) == (6, 5)


def test_video_frame_walk_and_sample():
    """Frame walker splits a concatenated-BMP payload exactly at the
    self-declared header sizes, rejects garbage/overrun; the sampling
    kernel's per-frame sums match the law for every every_n."""
    import pytest

    from airflow_project_flight_price_analysis_spark.operators.multimodal import (
        _bmp_dims,
        _parse_bmp,
        _video_bytes,
        _video_n_frames,
        _walk_bmp_frames,
    )

    for did in (0, 1, 2, 7):
        frames = _walk_bmp_frames(_video_bytes(did))
        assert len(frames) == _video_n_frames(did)
        w, h = _bmp_dims(did)
        for f, fb in enumerate(frames):
            fw, fh, sr, _, _ = _parse_bmp(fb)
            assert (fw, fh) == (w, h)
            assert sr == sum((did * 7 + f * 11 + q * 3) % 256
                             for q in range(w * h))
    with pytest.raises(ValueError, match="magic"):
        _walk_bmp_frames(_video_bytes(0) + b"JUNKJUNK")
    with pytest.raises(ValueError, match="overruns"):
        _walk_bmp_frames(_video_bytes(0)[:-4])


def test_frame_sample_decode_operator(spark):
    """every_n selection grid, per-frame stats, and validation."""
    import pytest

    from airflow_project_flight_price_analysis_spark.operators.multimodal import (
        _video_n_frames,
        frame_sample_decode,
        synth_video_media,
    )

    docs = spark.createDataFrame([(i,) for i in (0, 1, 2)], "doc_id long")
    media = synth_video_media(docs)
    with pytest.raises(ValueError, match=">= 1"):
        frame_sample_decode(media, every_n=0)
    rows = frame_sample_decode(media, every_n=2).collect()
    got = {(r.media_id, r.frame_idx) for r in rows}
    exp = {(d, f) for d in (0, 1, 2)
           for f in range(0, _video_n_frames(d), 2)}
    assert got == exp
    assert all(r.n_frames == _video_n_frames(r.media_id) for r in rows)


def test_media_operators_batch_contract(spark):
    """Batch contract of the media operators, through public functions
    only: an empty media table yields 0 rows with the declared schema,
    a NULL payload featurizes as the empty byte string, and the frame
    sampler emits one row per sampled frame (every_n=1 -> n_frames)."""
    import hashlib

    from airflow_project_flight_price_analysis_spark.operators.multimodal import (
        BMP_FEATURE_SCHEMA,
        MEDIA_SCHEMA,
        VIDEO_FRAME_SCHEMA,
        _video_n_frames,
        decode_bmp_features,
        frame_sample_decode,
        synth_video_media,
    )

    empty = spark.createDataFrame([], MEDIA_SCHEMA)
    for op, schema in ((decode_bmp_features, BMP_FEATURE_SCHEMA),
                       (frame_sample_decode, VIDEO_FRAME_SCHEMA)):
        out = op(empty)
        assert out.schema.simpleString() == schema.simpleString()
        assert out.collect() == []

    null_payload = spark.createDataFrame([(1, None, None)], MEDIA_SCHEMA)
    (row,) = extract_features(null_payload).collect()
    assert (row.media_id, row.n_bytes) == (1, 0)
    assert row.sha == hashlib.sha256(b"").hexdigest()

    ids = (0, 1, 2, 5)
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    rows = frame_sample_decode(synth_video_media(docs), every_n=1).collect()
    assert sorted((r.media_id, r.frame_idx, r.n_frames) for r in rows) == [
        (d, f, _video_n_frames(d)) for d in ids
        for f in range(_video_n_frames(d))
    ]


def test_wav_nn_resample_kernel():
    """Identity rate round-trips samples exactly; up/down-sampling
    match a reference NN time map; re-encoded output satisfies the
    strict parser; bad rates raise."""
    from airflow_project_flight_price_analysis_spark.operators.multimodal import (
        _parse_wav,
        _resample_wav_nn,
        _wav_bytes,
    )

    for did in (0, 7, 24):
        payload = _wav_bytes(did)
        rate, samples = _wav_samples(payload)
        assert _wav_samples(
            _resample_wav_nn(payload, rate)[0])[1] == samples
        for out_rate in (12000, 5000, 16000, 1):
            out, n_out_reported = _resample_wav_nn(payload, out_rate)
            orate, osamples = _wav_samples(out)
            assert orate == out_rate
            n_out = len(samples) * out_rate // rate
            assert n_out_reported == n_out
            assert list(osamples) == [
                samples[(j * rate) // out_rate] for j in range(n_out)
            ]
            _parse_wav(out)  # strict parser accepts the re-encode


def test_wav_nn_resample_operator(spark):
    """resample_wav_nn over the media table: re-parsed rate/duration
    consistent; invalid rates raise."""
    import pytest

    from airflow_project_flight_price_analysis_spark.operators.multimodal import (
        decode_wav_features,
        resample_wav_nn,
        synth_wav_media,
    )

    docs = spark.createDataFrame([(i,) for i in (0, 5, 24)], "doc_id long")
    media = synth_wav_media(docs)
    with pytest.raises(ValueError, match=">= 1"):
        resample_wav_nn(media, 0)
    out = resample_wav_nn(media, 12000)
    feats = {r.media_id: r for r in decode_wav_features(out).collect()}
    for mid in (0, 5, 24):
        n_in = 40 + mid % 25
        assert feats[mid].sample_rate == 12000
        assert feats[mid].n_samples == n_in * 12000 // 8000


def test_png_codec_roundtrip_and_strictness():
    """Real compressed round-trip: encode (all five filters) -> CRC-ok
    chunks -> zlib -> decode recovers the exact law sums; CRC damage,
    bad color type, truncation, and size drift all raise."""
    import struct as st
    import zlib

    import pytest

    from airflow_project_flight_price_analysis_spark.operators.multimodal import (
        _bmp_dims,
        _parse_png,
        _png_bytes,
    )

    for did in (0, 4, 13):
        w, h = _bmp_dims(did)
        pw, ph, sr, sg, sb = _parse_png(_png_bytes(did))
        assert (pw, ph) == (w, h)
        assert sr == sum((did * 13 + q * 5) % 256 for q in range(w * h))
        assert h >= 6  # every payload cycles through filters 0-4
    with pytest.raises(ValueError, match="not a PNG"):
        _parse_png(b"BM nope")
    bad = bytearray(_png_bytes(0))
    bad[-5] ^= 0xFF  # corrupt IEND CRC
    with pytest.raises(ValueError, match="CRC|IEND"):
        _parse_png(bytes(bad))
    with pytest.raises(ValueError, match="truncated|IHDR|IDAT|IEND"):
        _parse_png(_png_bytes(0)[:-8])
    # truncation INSIDE a chunk's 4-byte CRC field must raise the
    # documented ValueError, not struct.error (r11 ADVICE)
    with pytest.raises(ValueError, match="truncated chunk"):
        _parse_png(_png_bytes(0)[:-4])
    with pytest.raises(ValueError, match="trailing bytes"):
        _parse_png(_png_bytes(0) + b"\x00")
    # flip color type to grayscale in IHDR (and fix its CRC) -> rejected
    p = bytearray(_png_bytes(0))
    ihdr_body = bytearray(p[16:29]); ihdr_body[9] = 0
    crc = zlib.crc32(b"IHDR" + bytes(ihdr_body)) & 0xFFFFFFFF
    p[16:29] = ihdr_body; p[29:33] = st.pack(">I", crc)
    with pytest.raises(ValueError, match="unsupported"):
        _parse_png(bytes(p))
    # an IHDR body that is not 13 bytes (valid CRC) -> ValueError, not
    # struct.error
    png = _png_bytes(0)
    short = b"IHDR" + png[16:28]
    p = (png[:8] + st.pack(">I", 12) + short
         + st.pack(">I", zlib.crc32(short) & 0xFFFFFFFF) + png[33:])
    with pytest.raises(ValueError, match="IHDR"):
        _parse_png(p)


def test_png_decode_operator(spark):
    from airflow_project_flight_price_analysis_spark.operators.multimodal import (
        _bmp_dims,
        decode_png_features,
        synth_png_media,
    )

    docs = spark.createDataFrame([(i,) for i in (0, 6, 17)], "doc_id long")
    feats = {r.media_id: r for r in
             decode_png_features(synth_png_media(docs)).collect()}
    for did in (0, 6, 17):
        w, h = _bmp_dims(did)
        assert (feats[did].width, feats[did].height) == (w, h)
        assert feats[did].sum_g == sum(
            (did * 13 + q * 5 + 1) % 256 for q in range(w * h)
        )


def test_scale_out_probe_submits_no_job_under_aqe(spark):
    """r7 review: the partition-count probe must not execute the
    upstream plan (the df.rdd-under-AQE gotcha ran every shuffle stage
    and threw the result away). Building scale_out's decision for an
    aggregated input must submit ZERO Spark jobs."""
    from airflow_project_flight_price_analysis_spark.session import scale_out

    df = (spark.range(0, 10000).withColumnRenamed("id", "k")
          .groupBy((F.col("k") % 100).alias("g"))
          .agg(F.count("*").alias("n")))  # plan contains an exchange
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None) or [])
    out = scale_out(df, "g")  # decision + plan build only
    after = set(tracker.getJobIdsForGroup(None) or [])
    assert after == before, "scale_out probe submitted Spark jobs"
    assert out.count() == 100  # still computes correctly when asked


def test_codec_numpy_kernels_match_bytewise_reference():
    """r15 §4.2 vectorization pin: the numpy-vectorized codec kernels
    (BMP encode/decode/resize, WAV encode/parse/resample, PNG/video
    builders) must be BYTE-IDENTICAL to the original per-pixel /
    per-sample pure-Python forms — re-derived here from the container
    specs, not from the implementation under test."""
    import struct as st

    from airflow_project_flight_price_analysis_spark.operators.multimodal import (
        WAV_SAMPLE_RATE,
        _bmp_bytes,
        _bmp_dims,
        _parse_bmp,
        _parse_wav,
        _png_bytes,
        _resample_wav_nn,
        _resize_bmp_nn,
        _video_bytes,
        _wav_bytes,
    )

    def ref_bmp(w, h, rgb_at):
        row_stride = (w * 3 + 3) // 4 * 4
        px = bytearray()
        for y in range(h - 1, -1, -1):
            for x in range(w):
                r, g, b = rgb_at(y * w + x)
                px += bytes((b, g, r))
            px += b"\0" * (row_stride - w * 3)
        info = st.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(px),
                       2835, 2835, 0, 0)
        hdr = st.pack("<2sIHHI", b"BM", 54 + len(px), 0, 0, 54)
        return hdr + info + bytes(px)

    def ref_wav(rate, samples):
        samples = list(samples)
        frames = st.pack(f"<{len(samples)}h", *samples)
        fmt = st.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
        body = (b"WAVE" + b"fmt " + st.pack("<I", len(fmt)) + fmt
                + b"data" + st.pack("<I", len(frames)) + frames)
        return b"RIFF" + st.pack("<I", len(body)) + body

    for did in (0, 1, 7, 19, 58, 123):
        w, h = _bmp_dims(did)
        assert _bmp_bytes(did) == ref_bmp(
            w, h, lambda p: tuple((did * 7 + p * 3 + c) % 256
                                  for c in range(3)))
        n = 40 + did % 25
        ref_samples = [((did * 31 + i * 7) % 65536) - 32768
                       for i in range(n)]
        assert _wav_bytes(did) == ref_wav(WAV_SAMPLE_RATE, ref_samples)
        assert _wav_samples(_wav_bytes(did)) == (
            WAV_SAMPLE_RATE, tuple(ref_samples))
        # resample: reference NN time map over the reference samples
        for out_rate in (12000, 4000, 8000):
            n_out = n * out_rate // WAV_SAMPLE_RATE
            ref = ref_wav(out_rate, [ref_samples[(j * WAV_SAMPLE_RATE)
                                                 // out_rate]
                                     for j in range(n_out)])
            got, got_n = _resample_wav_nn(_wav_bytes(did), out_rate)
            assert (got, got_n) == (ref, n_out)
        # resize: reference floor-NN over the decoded grid
        payload = _bmp_bytes(did)
        _, _, rgb = _bmp_pixels(payload)
        for ow, oh in ((10, 8), (3, 5)):
            ref_px = bytearray()
            for q in range(ow * oh):
                sy, sx = (q // ow) * h // oh, (q % ow) * w // ow
                ref_px += rgb[3 * (sy * w + sx): 3 * (sy * w + sx) + 3]
            assert _resize_bmp_nn(payload, ow, oh) == ref_bmp(
                ow, oh, lambda p: tuple(ref_px[3 * p: 3 * p + 3]))
        # parse sums against the generative law
        sr = sum((did * 7 + p * 3 + 0) % 256 for p in range(w * h))
        sg = sum((did * 7 + p * 3 + 1) % 256 for p in range(w * h))
        sb = sum((did * 7 + p * 3 + 2) % 256 for p in range(w * h))
        assert _parse_bmp(payload) == (w, h, sr, sg, sb)
        nn, rate, _rms, peak, ssq = _parse_wav(_wav_bytes(did))
        assert (nn, rate) == (n, WAV_SAMPLE_RATE)
        assert ssq == sum(s * s for s in ref_samples)
        assert peak == max(abs(s) for s in ref_samples)
        # video: frames are reference BMPs of the per-frame law
        frames_ref = b"".join(
            ref_bmp(w, h, lambda p, f=f: tuple(
                (did * 7 + f * 11 + p * 3 + c) % 256 for c in range(3)))
            for f in range(2 + did % 3))
        assert _video_bytes(did) == frames_ref
        assert _png_bytes(did)[:8] == b"\x89PNG\r\n\x1a\n"
