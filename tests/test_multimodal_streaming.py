"""Multimodal plumbing (schemas, batch shapes, codec stub boundary) and
streaming sketch maintenance (stream == batch equivalence)."""

import numpy as np
import pytest

from tetrex_spark.operators.multimodal import (
    _decode_image,
    audio_features,
    image_features,
    image_resize,
    synth_media,
    video_frame_sample,
)


@pytest.fixture(scope="module")
def media(spark):
    return synth_media(spark, n=24).cache()


def test_media_schema_and_counts(media):
    assert media.count() == 24
    kinds = {r["kind"] for r in media.select("kind").distinct().collect()}
    assert kinds == {"image", "audio", "video"}


def test_image_features_deterministic_and_exact(media):
    out = {r["media_id"]: r for r in image_features(media).collect()}
    assert len(out) == 8  # every 3rd row is an image
    pdf = media.filter("kind = 'image'").toPandas()
    for _, r in pdf.iterrows():
        img = _decode_image(bytes(r["payload"]), r["meta"], "fake")
        got = out[r["media_id"]]
        assert got["width"] == img.shape[1] and got["height"] == img.shape[0]
        assert np.allclose(got["mean_rgb"], img.mean(axis=(0, 1)))
    # determinism across runs
    again = {r["media_id"]: r["mean_rgb"] for r in image_features(media).collect()}
    assert all(np.allclose(again[k], out[k]["mean_rgb"]) for k in again)


def test_image_resize_roundtrip(media):
    resized = image_resize(media, 8, 8)
    rows = resized.collect()
    assert len(rows) == 8
    for r in rows:
        assert r["meta"]["width"] == 8 and r["meta"]["height"] == 8
        assert len(bytes(r["payload"])) == 8 * 8 * 3
    # resize of resize is identity in shape
    again = image_resize(resized, 8, 8).collect()
    assert {bytes(r["payload"]) for r in again} == {bytes(r["payload"]) for r in rows}


def test_audio_features(media):
    out = audio_features(media).collect()
    assert len(out) == 8
    for r in out:
        assert 0 < r["rms"] < 1
        assert r["duration_sec"] > 0


def test_video_frame_sample_cardinality(media):
    frames = video_frame_sample(media, every_n=2).collect()
    pdf = media.filter("kind = 'video'").toPandas()
    want = sum((m["n_frames"] + 1) // 2 for m in pdf["meta"])
    assert len(frames) == want
    f0 = [f for f in frames if f["media_id"] == 2 and f["frame_idx"] == 0][0]
    assert len(bytes(f0["frame"])) == 8 * 8 * 3


def test_real_codec_raises_when_lib_absent(media):
    """codec='real' must NEVER silently fall back to the fake decoder —
    without the optional library it raises with an install hint."""
    import importlib.util

    if importlib.util.find_spec("PIL") is not None:
        pytest.skip("PIL present; absence path not testable")
    with pytest.raises(Exception, match="NotImplementedError|pillow"):
        image_features(media, codec="real").collect()


def test_real_codec_dispatches_to_pil(monkeypatch):
    """With PIL importable, codec='real' decodes via PIL.Image.open —
    exercised with a stub module (the container ships no pillow); the
    decode function is unit-tested directly because executor processes
    don't see a driver-side monkeypatch."""
    import sys
    import types

    import numpy as np

    from tetrex_spark.operators.multimodal import _decode_image

    class _StubImg:
        def convert(self, mode):
            assert mode == "RGB"
            return self

        def __array__(self, dtype=None):
            a = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
            return a if dtype is None else a.astype(dtype)

    stub = types.ModuleType("PIL.Image")
    stub.open = lambda fh: _StubImg()
    pil_pkg = types.ModuleType("PIL")
    pil_pkg.Image = stub
    monkeypatch.setitem(sys.modules, "PIL", pil_pkg)
    monkeypatch.setitem(sys.modules, "PIL.Image", stub)
    out = _decode_image(b"\x89PNG fake bytes", {"height": 99, "width": 99, "channels": 3}, "real")
    # shape comes from the decoded image, NOT the metadata (real path)
    assert out.shape == (2, 3, 3) and out.dtype == np.uint8
    assert out[1, 2, 2] == 17


def test_real_audio_video_raise_when_libs_absent():
    import importlib.util

    import pytest as _pytest

    from tetrex_spark.operators.multimodal import _decode_audio, _decode_video

    if importlib.util.find_spec("soundfile") is None:
        with _pytest.raises(NotImplementedError, match="soundfile"):
            _decode_audio(b"", {}, "real")
    if importlib.util.find_spec("av") is None:
        with _pytest.raises(NotImplementedError, match="av"):
            _decode_video(b"", {}, "real")


# -- streaming ----------------------------------------------------------------


def test_stream_equals_batch(spark, tmp_path):
    """Feeding the corpus in two file drops through the streaming path
    must produce byte-identical lattice sketches (bloom, hll, cms) and
    equal item counts to one batch build."""
    from tetrex_spark.operators.sketch_build import SketchSpec, build_sketches
    from tetrex_spark.sources.corpus import webtext_small, with_bin_id
    from tetrex_spark.streaming.sketch_stream import SketchStream

    corpus = with_bin_id(webtext_small(spark), 8)
    specs = [
        SketchSpec("bloom", "bloom", "token_shingle", k=2,
                   params={"m_bits": 1 << 14, "n_hashes": 3}),
        SketchSpec("hll", "hll", "token_shingle", k=2, params={"p": 11}),
        SketchSpec("cms", "cms", "token", k=1, params={"width": 2048, "depth": 5}),
    ]
    batch = {
        (r["bin_id"], r["name"]): (bytes(r["payload"]), r["n_items"])
        for r in build_sketches(corpus, specs).collect()
    }

    input_dir = str(tmp_path / "in")
    half1 = corpus.filter("pmod(xxhash64(url), 2) = 0").drop("bin_id")
    half2 = corpus.filter("pmod(xxhash64(url), 2) = 1").drop("bin_id")
    half1.write.mode("append").parquet(input_dir)

    ss = SketchStream(str(tmp_path / "state"), specs, n_bins=8)
    q = ss.start(spark, input_dir, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    v1 = ss.current_version()
    assert v1 >= 0

    half2.write.mode("append").parquet(input_dir)
    q = ss.start(spark, input_dir, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert ss.current_version() > v1

    streamed = {
        (r["bin_id"], r["name"]): (bytes(r["payload"]), r["n_items"])
        for r in ss.current_state(spark).collect()
    }
    assert streamed == batch


def test_analysis_ops_run_in_structured_streaming(spark, tmp_path):
    """The stateless pipeline gates (repetition/quality, PII scrub,
    text_stats) are streaming-safe projections: readStream -> op ->
    memory sink equals the batch result on the same files."""
    from tetrex_spark.functions.analysis import (
        pii_scrub,
        repetition_quality,
        text_stats,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i} says hello world. email x{i}@example.com") for i in range(20)],
        "doc_id long, text string",
    )
    d = str(tmp_path / "docs")
    docs.write.parquet(d)
    stream = spark.readStream.schema("doc_id long, text string").parquet(d)
    for name, op in (
        ("rq", repetition_quality),
        ("pii", pii_scrub),
        ("ts", text_stats),
    ):
        q = (
            op(stream).writeStream.format("memory")
            .queryName(f"sink_{name}").outputMode("append").start()
        )
        q.processAllAvailable()
        q.stop()
        got = spark.sql(f"select * from sink_{name}").collect()
        want = op(docs).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_connected_components_empty_and_self_pairs(spark):
    from tetrex_spark.operators.clusters import connected_components, dedup_keep_list

    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(empty).count() == 0
    docs = spark.createDataFrame([(i,) for i in range(3)], "doc_id long")
    out = {r.id: r.keep for r in dedup_keep_list(docs, empty).collect()}
    assert out == {0: 1, 1: 1, 2: 1}
    # self-loops only -> no clusters
    selfp = spark.createDataFrame([(1, 1), (2, 2)], "id_a long, id_b long")
    assert connected_components(selfp).count() == 0


def test_streaming_exact_dedup_bounded_state(spark, tmp_path):
    """Watermarked streaming exact dedup: duplicates within the watermark
    window are dropped across micro-batches; output equals the batch
    exact-dedup keep set on the same rows."""
    import datetime as dt

    from pyspark.sql import functions as F

    from tetrex_spark.streaming.dedup_stream import streaming_exact_dedup

    epoch = dt.datetime(2021, 1, 1)
    rows1 = [
        (0, "alpha beta gamma", epoch),
        (1, "delta epsilon zeta", epoch + dt.timedelta(minutes=1)),
        (2, "Alpha  beta gamma", epoch + dt.timedelta(minutes=2)),  # dup of 0
    ]
    rows2 = [
        (3, "delta epsilon zeta", epoch + dt.timedelta(minutes=3)),  # dup of 1
        (4, "eta theta iota", epoch + dt.timedelta(minutes=4)),
    ]
    schema = "doc_id long, text string, warc_ts timestamp"
    d = str(tmp_path / "in")
    spark.createDataFrame(rows1, schema).write.mode("append").parquet(d)

    stream = spark.readStream.schema(schema).parquet(d)
    out = streaming_exact_dedup(stream, watermark="1 hour")
    q = (
        out.writeStream.format("memory").queryName("dedup_sink")
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
        got1 = {r["doc_id"] for r in spark.sql("select * from dedup_sink").collect()}
        # docs 0 and 2 are normalized duplicates: exactly ONE survives
        # (which one is arbitrary within a micro-batch), plus doc 1
        assert len(got1) == 2 and 1 in got1 and len(got1 & {0, 2}) == 1
        spark.createDataFrame(rows2, schema).write.mode("append").parquet(d)
        q.processAllAvailable()
        got2 = {r["doc_id"] for r in spark.sql("select * from dedup_sink").collect()}
        # doc 3 duplicates doc 1 from the PREVIOUS micro-batch (dedup
        # state is carried across batches); doc 4 is new
        assert got2 == got1 | {4}
    finally:
        q.stop()

    # raises on a batch frame
    import pytest as _pt

    batch = spark.createDataFrame(rows1, schema)
    with _pt.raises(ValueError):
        streaming_exact_dedup(batch)


def test_streaming_simhash_pairs_across_batches(spark, tmp_path):
    """applyInPandasWithState near-dup gate: a fingerprint arriving in a
    LATER micro-batch pairs with its near-duplicate from an earlier one
    (bucket state carried); precision verified by brute force."""
    from tetrex_spark.streaming.simhash_stream import streaming_simhash_pairs

    base = 0x0123456789ABCDEF
    rows1 = [(0, base), (1, -7777777777), (2, 0x7EDCBA9876543210)]
    rows2 = [(10, base ^ 0b101), (11, base ^ (1 << 40)), (12, -1)]
    schema = "id long, simhash long"
    d = str(tmp_path / "fps")
    spark.createDataFrame(rows1, schema).write.mode("append").parquet(d)

    stream = spark.readStream.schema(schema).parquet(d)
    out = streaming_simhash_pairs(stream, max_hamming=3)
    q = (
        out.writeStream.format("memory").queryName("sh_pairs")
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
        got1 = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in spark.sql("select * from sh_pairs").collect()
        }
        assert got1 == set()  # batch 1 has no close pairs
        spark.createDataFrame(rows2, schema).write.mode("append").parquet(d)
        q.processAllAvailable()
        got2 = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in spark.sql("select * from sh_pairs").collect()
        }
    finally:
        q.stop()
    # expected: 10 (hamming 2 from 0), 11 (hamming 1 from 0), and
    # 10 vs 11 (hamming 3 from each other)
    want = {(0, 10, 2), (0, 11, 1), (10, 11, 3)}
    assert got2 == want
    # precision double-check by brute force over all fed fingerprints
    allfp = dict(rows1 + rows2)
    for a, b, h in got2:
        d_ab = bin((allfp[a] ^ allfp[b]) & ((1 << 64) - 1)).count("1")
        assert d_ab == h <= 3


class _FakeState:
    """Minimal stand-in for GroupState — drives _bucket_fn directly."""

    def __init__(self, value=None):
        self._v = value
        self.hasTimedOut = False

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def remove(self):
        self._v = None

    def setTimeoutDuration(self, ms):
        pass


def test_streaming_simhash_overflow_vs_overflow_same_batch():
    """Two overflow arrivals (bucket state already at max_per_key) in the
    SAME micro-batch chunk must still pair with each other — the round-3
    advice defect: each used to be checked only against stored state."""
    import pandas as pd

    from tetrex_spark.streaming.simhash_stream import _bucket_fn

    fn = _bucket_fn(max_hamming=3, max_per_key=2, ttl_ms=None)
    base = 0x0123456789ABCDEF
    # state pre-filled to the cap with two far-away fingerprints
    st = _FakeState(([100, 101], [-1, 0x7000000000000000]))
    batch = pd.DataFrame({"id": [200, 201], "simhash": [base, base ^ 0b11]})
    out = pd.concat(list(fn(("b", 0), iter([batch]), st)), ignore_index=True)
    got = {(r.id_a, r.id_b, r.hamming) for r in out.itertuples()}
    assert got == {(200, 201, 2)}
    # neither overflow arrival was stored (cap holds)
    ids, _ = st.get
    assert ids == [100, 101]


def test_streaming_simhash_state_update_vectorized_5k():
    """A >= 5k-row chunk through one bucket's state update stays fast
    (one XOR-popcount matrix, no per-row Python loop) and agrees with a
    brute-force pair computation."""
    import time

    import numpy as np
    import pandas as pd

    from tetrex_spark.streaming.simhash_stream import _bucket_fn

    rng = np.random.default_rng(7)
    n = 5000
    # cluster structure: 64 base fingerprints, each repeated with <=2 bit
    # flips, so real pairs exist without the pair list going quadratic
    bases = rng.integers(0, 2**63, size=64, dtype=np.int64)
    fps = bases[rng.integers(0, 64, size=n)]
    flips = rng.integers(0, 64, size=n)
    fps = fps ^ (np.int64(1) << (flips % 63))
    ids = np.arange(n, dtype=np.int64)
    batch = pd.DataFrame({"id": ids, "simhash": fps})
    # best-of-3 under a generous bound: the host shows ~5x run-to-run
    # noise from hypervisor neighbors; the old per-row Python loop took
    # >15s for this input even on a quiet machine
    dt = float("inf")
    for _ in range(3):
        fn = _bucket_fn(max_hamming=2, max_per_key=8192, ttl_ms=None)
        st = _FakeState()
        t0 = time.time()
        out = pd.concat(list(fn(("b", 0), iter([batch]), st)), ignore_index=True)
        dt = min(dt, time.time() - t0)
    assert dt < 3.0, f"state update took {dt:.2f}s for {n} rows"
    # spot-check against brute force on a sample of emitted pairs
    fp_of = dict(zip(ids.tolist(), fps.tolist()))
    sample = out.sample(n=min(200, len(out)), random_state=1)
    for r in sample.itertuples():
        d = bin((fp_of[r.id_a] ^ fp_of[r.id_b]) & ((1 << 64) - 1)).count("1")
        assert d == r.hamming <= 2
    # completeness: brute-force count of <=2-hamming pairs matches
    # (independent byte-LUT popcount, not the kernel's SWAR)
    lut = np.array([bin(i).count("1") for i in range(256)], dtype=np.int64)
    x = fps[:, None] ^ fps[None, :]
    pc = lut[x.view(np.uint8).reshape(n, n, 8)].sum(axis=2)
    ii, jj = np.triu_indices(n, k=1)
    want_n = int(((pc[ii, jj] <= 2) & (ids[ii] != ids[jj])).sum())
    assert len(out) == want_n


def test_streaming_simhash_noop_state_write_skipped():
    """A full bucket seeing only overflow arrivals must NOT rewrite its
    state: membership is unchanged, and the round-trip through Python
    lists is pure cost (round-4 advice item)."""
    import pandas as pd

    from tetrex_spark.streaming.simhash_stream import _bucket_fn

    class _CountingState(_FakeState):
        def __init__(self, value=None):
            super().__init__(value)
            self.n_updates = 0

        def update(self, v):
            self.n_updates += 1
            super().update(v)

    fn = _bucket_fn(max_hamming=3, max_per_key=2, ttl_ms=None)
    st = _CountingState(([100, 101], [-1, 0x7000000000000000]))
    batch = pd.DataFrame({"id": [200, 201], "simhash": [5, 6]})
    list(fn(("b", 0), iter([batch]), st))
    assert st.n_updates == 0 and st.get == ([100, 101], [-1, 0x7000000000000000])
    # and a batch that DOES add members still writes exactly once
    fn2 = _bucket_fn(max_hamming=3, max_per_key=8, ttl_ms=None)
    st2 = _CountingState(([100], [-1]))
    list(fn2(("b", 0), iter([batch]), st2))
    assert st2.n_updates == 1 and st2.get[0] == [100, 200, 201]


def test_streaming_simhash_inchunk_pairing_capped():
    """Per-chunk pairing compute is bounded: arrivals pair with stored
    state, with the FIRST max_per_key arrivals of their chunk, and with
    their own 1024-row strip — overflow-vs-overflow beyond that window
    is dropped (round-4 advice: a giant near-dup cluster routing a huge
    chunk into one bucket must not do O(n_chunk^2) popcount work)."""
    import numpy as np
    import pandas as pd

    from tetrex_spark.streaming.simhash_stream import _bucket_fn

    rng = np.random.default_rng(11)
    n = 1300  # two strips (TILE=1024)
    fps = rng.integers(1 << 8, 1 << 62, size=n, dtype=np.int64)
    # partner IN the seen window (id 2 <= max_per_key=4) for a
    # second-strip arrival, and one BEYOND it (id 500)
    fps[1100] = fps[2] ^ 0b101      # hamming 2 vs an in-window row
    fps[1200] = fps[500] ^ 0b11     # hamming 2 vs a beyond-window row
    batch = pd.DataFrame({"id": np.arange(n, dtype=np.int64), "simhash": fps})
    fn = _bucket_fn(max_hamming=3, max_per_key=4, ttl_ms=None)
    st = _FakeState()
    out = pd.concat(
        list(fn(("b", 0), iter([batch]), st)) or [pd.DataFrame(columns=["id_a", "id_b"])],
        ignore_index=True,
    )
    got = {(r.id_a, r.id_b) for r in out.itertuples()}
    assert (2, 1100) in got        # within the seen window: emitted
    assert (500, 1200) not in got  # beyond it, cross-strip: dropped
    # state stored only the first max_per_key arrivals
    assert st.get[0] == [0, 1, 2, 3]
