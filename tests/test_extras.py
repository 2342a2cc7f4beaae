"""Text analysis, embedding similarity, multimodal plumbing, table IO."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .cache()
    )


def test_text_stats(docs):
    from dedup.textfns import with_text_stats

    rows = with_text_stats(docs).select(
        "doc_id", "text", "n_tokens", "n_bpe_tokens", "lang_pred", "quality"
    ).collect()
    for r in rows[:50]:
        assert r.n_tokens == len(r.text.split(" "))
        assert r.n_bpe_tokens >= r.n_tokens  # punctuation splits add tokens
        assert 0.0 <= r.quality <= 1.0
        assert r.lang_pred in {"en", "es", "de", "fr", "und"}


def test_fingerprint_overlap(spark):
    from dedup.textfns import make_fingerprint_udf

    udf = make_fingerprint_udf(w=16, n_keep=8)
    base = "the quick brown fox jumps over the lazy dog and keeps running forward " * 8
    rows = [(0, base), (1, base + " tiny tail change"), (2, "completely different words " * 12)]
    df = spark.createDataFrame(rows, "id long, text string")
    fps = {r.id: set(r.fp) for r in df.select("id", udf("text").alias("fp")).collect()}
    assert len(fps[0] & fps[1]) >= 6  # near-dup shares most minima
    assert len(fps[0] & fps[2]) <= 2


def test_brute_force_vs_numpy_topk(emb):
    from dedup.similarity import brute_force_topk

    q = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    got = brute_force_topk(emb, q, k=5).orderBy("query_id", "rank").collect()

    pdf = emb.toPandas()
    m = np.stack(pdf["v"].to_numpy())
    ids = pdf["vec_id"].to_numpy()
    mn = m / np.linalg.norm(m, axis=1, keepdims=True)
    for qid in range(3):
        qi = np.where(ids == qid)[0][0]
        sims = mn @ mn[qi]
        sims[qi] = -np.inf
        order = np.argsort(np.stack([-sims, ids], axis=1).view("f8,f8"), order=["f0", "f1"], axis=0)
        top = [int(ids[i]) for i in order[:5].ravel()]
        mine = [r.neighbor_id for r in got if r.query_id == qid]
        assert mine == top, (qid, mine, top)


def test_lsh_topk_recall(emb):
    """Bucketed ANN recalls a decent fraction of true top-10 at n_bits=8."""
    from dedup.similarity import brute_force_topk, lsh_topk

    q = emb.select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
    exact = brute_force_topk(emb, q, k=10).select("query_id", "neighbor_id")
    approx = lsh_topk(emb, k=10).select("query_id", "neighbor_id")
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.6, recall  # n_bits=4 x 16 tables at cosine~0.3 neighbors


def test_embedding_neardup_symmetric(emb):
    from dedup.similarity import embedding_neardup_pairs

    pairs = embedding_neardup_pairs(emb.limit(100), threshold=0.5)
    rows = pairs.collect()
    for r in rows:
        assert r.id_a < r.id_b
        assert r.sim >= 0.5


def test_multimodal_decode_and_dups(spark):
    from dedup.multimodal import decode_media, media_exact_dups, synth_media

    media = synth_media(spark, n=32)
    feats = decode_media(media)
    rows = feats.collect()
    assert len(rows) == 32
    for r in rows:
        assert len(r.feature) == 16
        assert abs(float(np.linalg.norm(r.feature)) - 1.0) < 1e-5
        assert r.n_bytes > 0
    dups = media_exact_dups(feats).collect()
    assert len(dups) >= 2  # planted every-8th duplicates found


def test_multimodal_real_decode_png_wav_avi(spark):
    """fake=False REALLY decodes: PNG pixels, WAV samples, and AVI frames
    round-trip through the pure-Python codecs, dup pairs still found on
    raw-byte hash, and every kind's features differ from the byte-level
    fake ones."""
    from dedup.multimodal import decode_media, media_exact_dups, synth_media

    media = synth_media(spark, n=24)
    real = {r.media_id: r for r in decode_media(media, fake=False).collect()}
    fake = {r.media_id: r for r in decode_media(media, fake=True).collect()}
    assert len(real) == 24
    changed = set()
    for mid, r in real.items():
        assert abs(float(np.linalg.norm(r.feature)) - 1.0) < 1e-5
        assert r.content_hash == fake[mid].content_hash  # hash is over raw bytes
        if list(r.feature) != list(fake[mid].feature):
            changed.add(r.kind)
    assert changed == {"image", "audio", "video"}, changed
    dups = media_exact_dups(decode_media(media, fake=False)).collect()
    assert len(dups) >= 2


def test_multimodal_resize_and_codec_roundtrip(spark):
    from dedup.mediacodec import (
        png_decode,
        png_encode,
        resize_nearest,
        wav_decode,
        wav_encode,
    )
    from dedup.multimodal import resize_media, synth_media

    # codec round-trips
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(20, 30), dtype=np.uint8)
    assert np.array_equal(png_decode(png_encode(img)), img)
    rgb = rng.integers(0, 256, size=(8, 5, 3), dtype=np.uint8)
    assert np.array_equal(png_decode(png_encode(rgb)), rgb)
    pcm = rng.integers(-(2**15), 2**15, size=321).astype(np.int16)
    samples, rate = wav_decode(wav_encode(pcm, rate=16000))
    assert rate == 16000 and np.array_equal(samples, pcm)
    assert resize_nearest(img, 15, 10).shape == (10, 15)

    # distributed resize: image rows re-encoded at the new dims
    media = synth_media(spark, n=12)
    out = {r.media_id: r for r in resize_media(media, 32, 24).collect()}
    n_img = 0
    for r in out.values():
        if r.kind == "image":
            decoded = png_decode(bytes(r.data))
            assert decoded.shape == (24, 32)
            assert (r.width, r.height) == (32, 24)
            n_img += 1
    assert n_img > 0


def test_multimodal_frame_sample_real_avi(spark):
    """frame_sample REALLY decodes AVI video rows: sampled frames round-trip
    to the planted pixel data through the PNG re-encode; non-video rows are
    excluded; codec-bound payloads raise an explicit ValueError."""
    from dedup.mediacodec import avi_decode, png_decode
    from dedup.multimodal import frame_sample, synth_media

    media = synth_media(spark, n=12)
    video_raw = {
        r.media_id: bytes(r.data) for r in media.collect() if r.kind == "video"
    }
    rows = frame_sample(media, every_ms=100).collect()
    assert rows and {r.media_id for r in rows} == set(video_raw)
    for r in rows:
        frames, _ = avi_decode(video_raw[r.media_id])
        assert np.array_equal(png_decode(bytes(r.data)), frames[r.frame_idx])
        assert (r.width, r.height) == (frames.shape[2], frames.shape[1])
    # every_ms=100 at 10 fps (100 ms/frame) samples EVERY frame
    per_vid = {}
    for r in rows:
        per_vid.setdefault(r.media_id, []).append(r.frame_idx)
    for mid, idxs in per_vid.items():
        frames, _ = avi_decode(video_raw[mid])
        assert sorted(idxs) == list(range(len(frames)))

    # explicit boundary: a non-AVI video payload is a ValueError, not a stub
    bad = spark.createDataFrame(
        [(99, "video", b"\x00\x01mp4-ish", None, None, 1000, "video/mp4")],
        media.schema,
    )
    with pytest.raises(Exception, match="RIFF/AVI"):
        frame_sample(bad, every_ms=100).collect()


def test_table_io_roundtrip_and_delete(spark, tmp_path):
    from dedup.io import TableIO, iceberg_available

    assert iceberg_available(spark) is False  # sandbox: parquet fallback
    io = TableIO(spark, str(tmp_path))
    df = spark.range(10).withColumn("v", F.col("id") * 2)
    io.write(df, "t")
    assert io.read("t").count() == 10
    io.delete_rows("t", "id", spark.range(3))
    left = {r.id for r in io.read("t").collect()}
    assert left == set(range(3, 10))


def _py_winnow(text: str, k: int = 16, w: int = 8):
    """Reference winnowing: per window of w consecutive k-gram md5 keys keep
    the min (key = hash || zero-padded pos), distinct winners. Tail windows
    clipped — matches winnow_fingerprints' frame semantics exactly."""
    import hashlib
    import re

    nd = re.sub("[\\s\\x1c-\\x1f]+", " ", text.lower())
    n = max(len(nd) - k + 1, 1)
    keys = [
        hashlib.md5(nd[i : i + k].encode()).hexdigest() + str(i + 1).zfill(10)
        for i in range(n)
    ]
    sel = {min(keys[s : s + w]) for s in range(n)}
    return {(int(key[32:]), key[:32]) for key in sel}


def test_winnowing_matches_reference(spark):
    from dedup.textfns import winnow_fingerprints

    rows = [
        (0, "the quick brown fox jumps over the lazy dog " * 4),
        (1, "completely different words with repeats repeats repeats " * 3),
        (2, "short"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for r in winnow_fingerprints(df, k=16, w=8).collect():
        got.setdefault(r.doc_id, set()).add((r.pos, r.fp_hash))
    for doc_id, text in rows:
        assert got[doc_id] == _py_winnow(text), doc_id


def test_winnowing_detects_containment(spark):
    """A document embedded inside a larger one shares most fingerprints —
    the positional-coverage property a bottom-k sketch lacks. Guarantee:
    any shared substring of length >= k+w-1 yields >= 1 shared hash."""
    from dedup.textfns import winnow_fingerprints

    inner = "select value from events where region matches filter " * 6
    rows = [
        (0, inner),
        (1, "outer preamble padding words " * 10 + inner + " trailing epilogue " * 10),
        (2, "wholly unrelated content about graph traversal order " * 8),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = {}
    for r in winnow_fingerprints(df, k=16, w=8).collect():
        fps.setdefault(r.doc_id, set()).add(r.fp_hash)
    contained = len(fps[0] & fps[1]) / len(fps[0])
    unrelated = len(fps[0] & fps[2]) / len(fps[0])
    assert contained >= 0.6, contained  # most of inner's hashes found in outer
    assert unrelated == 0.0, unrelated


def test_embedding_neardup_lsh_matches_exact_no_cartesian(emb):
    """The bucketed near-dup path finds the same pairs as the O(N^2) exact
    path at this scale (recall measured, not assumed) and its plan contains
    no cartesian product."""
    import contextlib
    import io as _io

    from dedup.similarity import embedding_neardup_pairs

    exact = embedding_neardup_pairs(emb, threshold=0.45, mode="exact")
    lsh = embedding_neardup_pairs(emb, threshold=0.45, mode="lsh", dim=64)
    e = {(r.id_a, r.id_b) for r in exact.collect()}
    a = {(r.id_a, r.id_b) for r in lsh.collect()}
    assert a <= e  # exact rescoring: no false positives
    assert len(e) > 0 and len(e & a) / len(e) == 1.0, (len(e), len(a))

    def plan(df):
        buf = _io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    # the scale path joins on (table_id, bucket) — no all-pairs operator
    lp = plan(lsh)
    assert "CartesianProduct" not in lp and "NestedLoopJoin" not in lp, lp
    # while the exact baseline really is all-pairs (cartesian, or nested-loop
    # when Catalyst broadcasts one side)
    ep = plan(exact)
    assert "CartesianProduct" in ep or "NestedLoopJoin" in ep, ep


def test_simhash_md5_variant_same_pairs_as_numpy(spark):
    """The SQL-mirrorable md5-gram SimHash feeds the same banding dataflow
    and finds the same near-exact turn pairs as the production numpy kernel
    on whitespace/punct variants."""
    from dedup.schema import TRANSCRIPTS_SCHEMA
    from dedup.simhash import (
        simhash_turn_pairs,
        with_turn_simhash,
        with_turn_simhash_md5,
    )

    import datetime as dt

    ts = dt.datetime(2024, 1, 1)
    a = ["Hello,   World! How are you doing today my friend?" * 3,
         "I am fine; thanks for asking about it all the time." * 3]
    b = ["hello world how are you doing today my friend " * 3,
         "i am fine thanks for asking about it all the time " * 3]
    rows = [("a", i, "user", t, "", ts) for i, t in enumerate(a)]
    rows += [("b", i, "user", t, "", ts) for i, t in enumerate(b)]
    rows += [("z", 0, "user", "entirely different content about spark plans" * 3, "", ts)]
    df = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)

    got = {}
    for name, sh in (
        ("numpy", with_turn_simhash(df)),
        ("md5", with_turn_simhash_md5(df)),
    ):
        pairs, _ = simhash_turn_pairs(sh)
        got[name] = {(r.conv_a, r.turn_a, r.conv_b, r.turn_b) for r in pairs.collect()}
    for name in ("numpy", "md5"):
        assert ("a", 0, "b", 0) in got[name], name
        assert ("a", 1, "b", 1) in got[name], name
        assert not any("z" in (p[0], p[2]) for p in got[name]), name


def test_parse_size_literals():
    """H7 (reference src/params.rs:42-50): byte-size literals."""
    import pytest as _pytest

    from dedup.config import DedupConfig, parse_size

    assert parse_size(100) == 100
    assert parse_size("100b") == 100
    assert parse_size("1k") == 1000
    assert parse_size("100KB") == 100_000
    assert parse_size("2MiB") == 2 * 1024 * 1024
    assert parse_size("1.5gb") == 1_500_000_000
    assert parse_size("3t") == 3 * 10**12
    with _pytest.raises(ValueError):
        parse_size("12 parsecs")
    assert DedupConfig(min_size="2kb").min_size == 2000


def test_host_sizing_fits_the_host():
    """The default driver heap leaves room for the Python workers and the
    JVM's off-heap use, caps at 48g, and scratch goes to /dev/shm only when
    the tmpfs has room for as much as the heap."""
    from dedup.session import host_sizing

    gib = 1 << 30
    assert host_sizing(int(15.7 * gib), 4, 16 * gib) == ("8g", True)
    assert host_sizing(512 * gib, 32, 256 * gib) == ("48g", True)
    assert host_sizing(64 * gib, 32, 32 * gib) == ("29g", True)
    assert host_sizing(4 * gib, 4, 2 * gib) == ("1g", True)  # never below 1g
    assert host_sizing(int(15.7 * gib), 4, 64 << 20) == ("8g", False)  # 64 MB shm


def test_ingest_reject_metrics(spark):
    """S8: dropped/repaired rows are counted (via observe — no extra scan),
    unlike the reference's silent filter_map(Result::ok)."""
    import datetime as dt

    from dedup.assemble import assemble_conversations
    from dedup.config import DedupConfig

    ts = dt.datetime(2024, 1, 1)
    rows = [
        ("a", 0, "user", "hello", "t1", ts),
        ("a", 1, "user", None, "t1", ts),       # null text: repaired to ''
        (None, 0, "user", "orphan", "t1", ts),  # null conv_id: dropped
        ("b", None, "user", "no idx", "t1", ts),  # null turn_idx: dropped
        ("c", 0, "user", "excluded tool", "bad", ts),  # filtered out
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    conv, obs = assemble_conversations(
        df, DedupConfig(exclude_tools=("bad",)), observe_rejects=True
    )
    got = {r["conv_id"] for r in conv.collect()}
    assert got == {"a"}
    m = obs.get
    assert m["raw_rows"] == 5
    assert m["null_conv_id"] == 1
    assert m["null_turn_idx"] == 1
    assert m["null_text_repaired"] == 1
    assert m["filtered_out"] == 1


def test_formatted_report(spark):
    """H4/H5/A3/A5: padded ids, human sizes, global + per-group widths."""
    import datetime as dt

    from dedup.keep import formatted_report

    ts = dt.datetime(2024, 1, 2, 3, 4, 5)
    clusters = spark.createDataFrame(
        [("c1", "conv_tiny", True), ("c1", "a_very_long_conv_id", False)],
        "cluster_id string, conv_id string, is_representative boolean",
    )
    conv = spark.createDataFrame(
        [("conv_tiny", ts, 512), ("a_very_long_conv_id", ts, 2_400_000)],
        "conv_id string, first_ts timestamp, total_chars long",
    )
    rows = {r.conv_id: r for r in formatted_report(clusters, conv).collect()}
    w = len("a_very_long_conv_id")
    assert all(len(r.conv_id_padded) == w for r in rows.values())  # A3/H4
    assert all(r.group_width == w for r in rows.values())  # A5
    assert rows["conv_tiny"].size_h == "512 B"  # H5
    assert rows["a_very_long_conv_id"].size_h == "2.4 MB"
    assert rows["conv_tiny"].mtime_h == "2024-01-02 03:04:05"  # H6


def test_ivf_topk_structure_and_recall(emb):
    """IVF assign/probe/rescore: every result is a true cosine value, ranks
    are dense per query, and recall@10 vs brute force is reasonable for a
    4/16-probe setup on this data."""
    from dedup.similarity import brute_force_topk, ivf_topk

    q = emb.select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
    exact = brute_force_topk(emb, q, k=10).select("query_id", "neighbor_id")
    approx = ivf_topk(emb, k=10, n_centroids=16, n_probe=4)
    rows = approx.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r.rank)
    for qid, ranks in per_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), qid
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in rows}
    recall = len(e & a) / len(e)
    # these synthetic embeddings are near-isotropic (true top-10 at cosine
    # ~0.3), so cell locality is weak: random probing would give
    # n_probe/n_centroids = 0.25; measured ~0.48 shows the index helps
    assert recall >= 0.4, recall


def test_winnow_np_production_twin(spark):
    """The numpy winnowing path keeps the containment guarantee (a shared
    substring ≥ k+w-1 chars ⇒ ≥1 shared fingerprint) and its plan is one
    Arrow-batched pass — no per-character explode, no window sort."""
    import contextlib
    import io

    from dedup.textfns import winnow_fingerprints_np

    shared = "the quick brown fox jumps over the lazy dog once more"
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta " * 6 + shared),
            (2, shared + " omega psi chi phi " * 6),
            (3, "unrelated filler text with zero overlap anywhere " * 5),
        ],
        "doc_id long, text string",
    )
    fp = winnow_fingerprints_np(docs, k=16, w=8)
    by: dict[int, set] = {}
    for r in fp.collect():
        by.setdefault(r.doc_id, set()).add(r.fp_hash)
    assert by[1] & by[2], "shared span must share a fingerprint"
    assert not (by[1] & by[3])
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        fp.explain("formatted")
    plan = buf.getvalue()
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan
    for bad in ("Window", "Generate", "Exchange"):
        assert bad not in plan, (bad, plan)


def test_ivf_kmeans_codebook_recall_uplift(spark):
    """On clustered embeddings, the seeded-Lloyd's codebook beats the
    first-K codebook on recall@k vs brute force (and both stay
    deterministic)."""
    from dedup.similarity import brute_force_topk, ivf_topk, kmeans_refine

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(8, 16)) * 4
    X = np.concatenate(
        [c + rng.normal(size=(40, 16)) for c in centers]
    )  # 320 vecs in 8 blobs
    order = rng.permutation(len(X))  # first-K init must not see sorted blobs
    X = X[order]
    emb = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(len(X))],
        "vec_id long, v array<double>",
    )

    def recall(df, truth):
        got = {}
        for r in df.collect():
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        hits = sum(len(got.get(q, set()) & t) for q, t in truth.items())
        return hits / sum(len(t) for t in truth.values())

    truth = {}
    q = emb.limit(40).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    for r in brute_force_topk(emb, q, k=10).collect():
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)

    cents = [[float(v) for v in c] for c in kmeans_refine(X, 8, iters=3)]
    r_first = recall(ivf_topk(emb, k=10, n_centroids=8, n_probe=2), truth)
    r_kmeans = recall(
        ivf_topk(emb, k=10, n_centroids=8, n_probe=2, centroids=cents), truth
    )
    assert r_kmeans >= r_first, (r_kmeans, r_first)
    assert r_kmeans >= 0.9, r_kmeans


def test_ivf_codebook_read_is_bounded(monkeypatch, tmp_path):
    """The IVF codebook sample must never materialize the whole embeddings
    table driver-side (VERDICT r03 #1, re-pinned after the r05 dataset
    rework): pass 1 reads ONLY the id column, pass 2 materializes only the
    filtered ~sample_n rows, and the smallest-id sample equals the original
    full-read-then-head result on an id-ordered file."""
    import pandas as pd

    import dedup.sampling as sampling
    from dedup.similarity import kmeans_codebook_parquet, kmeans_refine

    rng = np.random.default_rng(3)
    n, dim = 400, 8
    pdf = pd.DataFrame(
        {"vec_id": range(n), "embedding": [rng.normal(size=dim).tolist() for _ in range(n)]}
    )
    path = str(tmp_path / "emb.parquet")
    pdf.to_parquet(path, row_group_size=50)

    # reference result via the old (unbounded) formulation, computed inline
    X = np.array(
        [np.asarray(v, dtype=np.float64) for v in pdf.sort_values("vec_id")["embedding"].head(96)]
    )
    expect = [[float(v) for v in row] for row in kmeans_refine(X, 8, 2)]

    captured = {}
    real_sorted = sampling._sorted_dataset

    class Wrap:
        def __init__(self, d):
            self._d = d

        def to_batches(self, **k):
            captured.setdefault("batch_cols", []).append(list(k.get("columns") or []))
            return self._d.to_batches(**k)

        def to_table(self, **k):
            t = self._d.to_table(**k)
            captured["table_rows"] = t.num_rows
            return t

    monkeypatch.setattr(sampling, "_sorted_dataset", lambda p: Wrap(real_sorted(p)))
    got = kmeans_codebook_parquet(path, n_centroids=8, iters=2, sample_n=96)
    assert got == expect
    # pass 1 streamed ONLY the id column; pass 2 materialized only the
    # filtered smallest-id rows (= sample_n here, ids unique), never the table
    assert captured["batch_cols"] == [["vec_id"]], captured
    assert captured["table_rows"] == 96, captured

def test_simhash_block_guards():
    """ADVICE r03 (medium): nb <= hamming must raise, not silently band on
    1-block subsets with broken pigeonhole recall."""
    from dedup.config import DedupConfig
    from dedup.simhash import _band_structs, pick_band_blocks

    cfg = DedupConfig(simhash_hamming=3)
    with pytest.raises(ValueError, match="pigeonhole"):
        _band_structs(cfg, nb=3)
    with pytest.raises(ValueError, match="pigeonhole"):
        _band_structs(cfg, nb=2)
    assert len(_band_structs(cfg, nb=4)) == 4  # C(4,1) valid
    with pytest.raises(ValueError, match="no block count"):
        pick_band_blocks(1000, hamming=5, max_blocks=5)
    assert pick_band_blocks(1000, hamming=3, max_blocks=4) == 4


def test_bucket_cap_guard(spark):
    """ADVICE r03 (low): cap < 2 would double-emit size-2 buckets."""
    from dedup.lsh import bucketed_pairs

    rows = spark.createDataFrame([(1, "a"), (1, "b")], "k int, m string")
    with pytest.raises(ValueError, match="band_bucket_cap"):
        bucketed_pairs(rows, ["k"], ["m"], cap=1)


def test_cc_frees_all_pinned_rdds(spark):
    """ADVICE r03 (low): localCheckpoint-ed loop frames must be freed at the
    RDD level — df.unpersist() alone leaks them for the session."""
    from dedup.cc import connected_components
    from dedup.util import free_all_scratch, persistent_rdd_ids

    free_all_scratch(spark)
    pre = persistent_rdd_ids(spark)
    edges = spark.createDataFrame(
        [("x1", "x2"), ("x2", "x3"), ("y1", "y2")], "conv_a string, conv_b string"
    )
    out = connected_components(edges)
    leaked = persistent_rdd_ids(spark) - pre
    # exactly ONE pinned RDD may remain: the returned frame's own checkpoint
    assert len(leaked) <= 1, leaked
    assert out.count() == 5
    from dedup.util import unpersist_ids

    unpersist_ids(spark, leaked)


def test_bpe_tokenizer_real_counts(spark, tmp_path):
    """Real corpus-trained BPE (VERDICT r03 missing #2): deterministic
    training, merge-priority encode, distributed count via pandas UDF, and
    a bounded parquet training read (same contract as the IVF codebook)."""
    import pandas as pd

    from dedup.tokenizer import (
        bpe_encode,
        train_bpe,
        train_bpe_from_parquet,
        with_bpe_token_count,
    )

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quiet queen queued quietly",
        "pack my box with five dozen liquor jugs",
    ] * 4
    merges = train_bpe(texts, vocab_size=300)
    assert merges == train_bpe(list(texts), vocab_size=300)  # deterministic
    ranks = {p: i for i, p in enumerate(merges)}

    # digit RUNS are single pieces (r04 advisor): trained on repeated
    # numbers, the year merges down instead of staying one-token-per-digit
    dm = train_bpe(["call 2026 now, 2026 is here, 2026"] * 8, vocab_size=300)
    dtoks = bpe_encode("2026", {p: i for i, p in enumerate(dm)})
    assert len(dtoks) == 1 and b"".join(dtoks) == b"2026"
    for t in texts[:3]:
        toks = bpe_encode(t, ranks)
        assert b"".join(toks) == t.encode()  # lossless
        assert len(toks) < len(t.encode())  # compresses in-domain text

    pdf = pd.DataFrame({"doc_id": range(12), "text": texts})
    path = str(tmp_path / "docs.parquet")
    pdf.to_parquet(path, row_group_size=4)
    m2 = train_bpe_from_parquet(path, vocab_size=300, sample_n=12)
    assert m2 == merges

    docs = spark.createDataFrame(pdf)
    out = {r.doc_id: r.n_tokens_bpe for r in with_bpe_token_count(docs, merges).collect()}
    for i, t in enumerate(texts[:12]):
        assert out[i] == len(bpe_encode(t, ranks))


def test_bounded_samplers_on_parquet_directory(tmp_path):
    """VERDICT r04 #4: both bounded samplers accept a DIRECTORY of part
    files (a real table), and the codebook sample is the sample_n SMALLEST
    ids regardless of physical row order (r04 advisor: the first-N-rows
    shortcut silently changed the codebook on unordered parquet)."""
    import numpy as np
    import pandas as pd

    from dedup.sampling import smallest_id_sample
    from dedup.similarity import kmeans_codebook_parquet
    from dedup.tokenizer import train_bpe, train_bpe_from_parquet

    rng = np.random.default_rng(7)
    n, dim = 40, 4
    ids = rng.permutation(n)  # deliberately NOT id-ordered on disk
    vecs = rng.normal(size=(n, dim)).round(3)
    pdf = pd.DataFrame(
        {"vec_id": ids, "embedding": [list(map(float, v)) for v in vecs[ids]]}
    )
    d = tmp_path / "emb"
    d.mkdir()
    pdf.iloc[: n // 2].to_parquet(d / "part-00000.parquet", row_group_size=5)
    pdf.iloc[n // 2 :].to_parquet(d / "part-00001.parquet", row_group_size=5)
    (d / "_SUCCESS").write_text("")  # Spark marker must be skipped

    samp = smallest_id_sample(str(d), "vec_id", ["vec_id", "embedding"], 10)
    assert list(samp["vec_id"]) == list(range(10))  # smallest ids, id-sorted

    # codebook from the shuffled directory == codebook from one id-sorted file
    flat = tmp_path / "emb_sorted.parquet"
    pdf.sort_values("vec_id").to_parquet(flat)
    cb_dir = kmeans_codebook_parquet(str(d), n_centroids=4, sample_n=10)
    cb_flat = kmeans_codebook_parquet(str(flat), n_centroids=4, sample_n=10)
    assert cb_dir == cb_flat

    # BPE trainer: directory sample = rows in sorted-file order, early-stopped
    texts = [f"texty text number {i} " * 3 for i in range(12)]
    t = tmp_path / "docs"
    t.mkdir()
    pd.DataFrame({"text": texts[:6]}).to_parquet(t / "part-00000.parquet")
    pd.DataFrame({"text": texts[6:]}).to_parquet(t / "part-00001.parquet")
    (t / "_SUCCESS").write_text("")
    assert train_bpe_from_parquet(str(t), vocab_size=280, sample_n=8) == train_bpe(
        texts[:8], 280
    )


def test_avi_decode_with_audio_stream():
    """r04 advisor: a legitimate video+audio AVI (audio strl FIRST, so the
    video stream is stream 1 and frames are '01db') must decode its video
    frames — strf validation is per-stream (vids only), not every strf."""
    import struct

    from dedup.mediacodec import _avi_chunk, _avi_list, avi_decode

    rng = np.random.default_rng(11)
    frames = rng.integers(0, 256, size=(3, 4, 6, 3), dtype=np.uint8)
    n, h, w, _ = frames.shape
    fps = 10
    stride = (w * 3 + 3) & ~3
    frame_bytes = stride * h

    avih = struct.pack(
        "<IIIIIIIIII4I",
        1_000_000 // fps, frame_bytes * fps, 0, 0, n, 0, 2, frame_bytes, w, h,
        0, 0, 0, 0,
    )
    # stream 0: audio — strf is a WAVEFORMATEX, NOT a bitmap header
    strh_a = b"auds" + b"\x00" * 4 + struct.pack(
        "<IHHIIIIIIII4H", 0, 0, 0, 0, 1, 16000, 0, 16000, 2, 0xFFFFFFFF, 0, 0, 0, 0, 0
    )
    strf_a = struct.pack("<HHIIHH", 1, 1, 16000, 32000, 2, 16)
    # stream 1: video
    strh_v = b"vids" + b"DIB " + struct.pack(
        "<IHHIIIIIIII4H", 0, 0, 0, 0, 1, fps, 0, n, frame_bytes, 0xFFFFFFFF, 0, 0, 0, w, h
    )
    strf_v = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, frame_bytes, 0, 0, 0, 0)
    hdrl = _avi_list(
        b"hdrl",
        _avi_chunk(b"avih", avih)
        + _avi_list(b"strl", _avi_chunk(b"strh", strh_a) + _avi_chunk(b"strf", strf_a))
        + _avi_list(b"strl", _avi_chunk(b"strh", strh_v) + _avi_chunk(b"strf", strf_v)),
    )
    movi_body = b""
    pad = np.zeros((h, stride - w * 3), dtype=np.uint8)
    for i, f in enumerate(frames):
        bgr = f[::-1, :, ::-1]
        rows = np.concatenate([bgr.reshape(h, w * 3), pad], axis=1)
        movi_body += _avi_chunk(b"00wb", b"\x00\x01" * 50)  # audio chunk (stream 0), ignored
        movi_body += _avi_chunk(b"01db", rows.tobytes())
    body = b"AVI " + hdrl + _avi_list(b"movi", movi_body)
    data = b"RIFF" + struct.pack("<I", len(body)) + body

    got, uspf = avi_decode(data)
    assert uspf == 100_000
    assert np.array_equal(got, frames)


def test_lineage_queries_share_one_pipeline_run_pair(spark, monkeypatch):
    """VERDICT r05 #6: the lineage/resume queries are memoized per
    (process, sf_dir) — executing BOTH queries in one correctness session
    must run the pipeline exactly twice (fresh + resumed), never a third
    time for the second query."""
    import __spark_entry__ as entry
    from dedup.pipeline import DedupPipeline

    entry._lineage_memo.clear()
    calls = {"n": 0}
    orig_run = DedupPipeline.run

    def counting_run(self, turns):
        calls["n"] += 1
        return orig_run(self, turns)

    monkeypatch.setattr(DedupPipeline, "run", counting_run)
    entry.q_pipeline_lineage(spark, SF).collect()
    assert calls["n"] == 2  # fresh + resumed
    entry.q_pipeline_resume(spark, SF).collect()
    assert calls["n"] == 2  # memo hit: no third run
    entry._lineage_memo.clear()


def test_cc_chain_graph_labels(spark):
    """A path graph is the worst case for label propagation — labels must
    still converge to the chain minimum, and star centers and disjoint
    pairs keep min-id semantics."""
    from dedup.cc import connected_components

    # a 12-node chain, plus a 3-leaf star, plus one disjoint pair
    chain = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(11)]
    star = [("s0", "s1"), ("s0", "s2"), ("s0", "s3")]
    pair = [("p1", "p0")]
    edges = spark.createDataFrame(
        chain + star + pair, "conv_a string, conv_b string"
    )
    out = {r["conv_id"]: r["cluster_id"] for r in connected_components(edges).collect()}
    assert len(out) == 18
    assert all(out[f"n{i:02d}"] == "n00" for i in range(12))
    assert all(out[s] == "s0" for s in ("s0", "s1", "s2", "s3"))
    assert out["p0"] == "p0" and out["p1"] == "p0"


def test_bucketed_pairs_checkpoint_elision(spark, monkeypatch):
    """bucketed_pairs never cuts its input rows: the distributed regime
    pins exactly one RDD (its bucket stats table) whether the rows are a
    narrow pass over materialized bytes or carry Python evaluation, and
    both give equal pairs; the driver regime pins none. Cutting an
    expensive lineage is the caller's job."""
    from pyspark.sql import functions as F

    import dedup.lsh as lsh
    from dedup.lsh import bucketed_pairs
    from dedup.util import free_all_scratch, persistent_rdd_ids

    monkeypatch.setattr(lsh, "_DRIVER_ROWS", -1)
    free_all_scratch(spark)
    rows = spark.createDataFrame(
        [(i % 3, f"m{i}") for i in range(30)], "b int, conv_id string"
    ).localCheckpoint()

    @F.pandas_udf("string")
    def ident(s):
        return s

    udf_rows = rows.select("b", ident("conv_id").alias("conv_id"))
    got = []
    for src in (rows, udf_rows):
        pre = persistent_rdd_ids(spark)
        pairs, _ = bucketed_pairs(src, ["b"], ["conv_id"], cap=100)
        assert len(persistent_rdd_ids(spark) - pre) == 1  # the stats table
        got.append({(r["a"]["conv_id"], r["b"]["conv_id"]) for r in pairs.collect()})
    assert got[0] == got[1] and got[0]

    monkeypatch.undo()  # the driver regime
    pre = persistent_rdd_ids(spark)
    m = {}
    pairs, _ = bucketed_pairs(udf_rows, ["b"], ["conv_id"], 100, m)
    assert m["driver"] is True
    assert persistent_rdd_ids(spark) == pre
    assert {(r["a"]["conv_id"], r["b"]["conv_id"]) for r in pairs.collect()} == got[0]
    free_all_scratch(spark)


def test_with_minhash_skips_repartition_on_wide_materialized_input(spark):
    """repartition="auto" must not shuffle the full document text when the
    input is already materialized at >= cluster parallelism;
    repartition=True always spreads the rows."""
    from dedup.minhash import with_minhash

    par = spark.sparkContext.defaultParallelism
    conv = (
        spark.createDataFrame(
            [(f"c{i}", f"doc text {i} " * 20) for i in range(64)],
            "conv_id string, doc string",
        )
        .repartition(par)
        .localCheckpoint()
    )

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    assert "Exchange" not in plan(with_minhash(conv, repartition="auto"))
    assert "RoundRobinPartitioning" in plan(with_minhash(conv, repartition=True))
