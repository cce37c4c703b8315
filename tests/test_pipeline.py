"""Pipeline-operator tests beyond the oracle harness.

The oracle harness (test_registry_oracle.py) already checks every pipeline
query's values against DuckDB; these tests cover what the oracle can't:
the gated multimodal decoder stubs and cross-implementation agreement of
the independent dedup strategies.
"""

from __future__ import annotations

import pytest

from sensql_presto_spark import multimodal
from sensql_presto_spark.queries import registry

SF_DIR = "/root/testdata/sf0.01"


def test_decode_image_non_png_stub_raises():
    # jpeg (and any non-PNG container) still needs Pillow; PNG is native.
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"\xff\xd8\xff\xe0" + b"\x00" * 16)


def test_decode_audio_stub_raises():
    with pytest.raises(NotImplementedError):
        multimodal.decode_audio(b"RIFF")


def test_minhash_agrees_with_inverted_index(spark):
    """Two independent near-dup implementations must find the same pairs."""
    lsh = registry.get("dedup_minhash_lsh").build(spark, SF_DIR)
    inv = registry.get("dedup_ngram_jaccard").build(spark, SF_DIR)
    lsh_pairs = {(r.id_a, r.id_b) for r in lsh.collect()}
    inv_pairs = {(r.id_a, r.id_b) for r in inv.collect()}
    assert lsh_pairs == inv_pairs
    assert len(lsh_pairs) > 0, "testdata plants near-duplicates; finding none is a bug"


def test_ivf_is_bounded_by_bruteforce(spark):
    """IVF scores can never beat brute force, and ranks must be ordered.

    The test embeddings are near-uniform (max pairwise cosine ~0.5, labels
    are not tight clusters), so nprobe=1 recall is legitimately low here —
    the IVF *mechanism* is value-checked against the DuckDB oracle in
    test_registry_oracle.py; this asserts the structural invariants.
    """
    ivf = registry.get("sim_ivf_topk").build(spark, SF_DIR).collect()
    brute = registry.get("sim_topk_bruteforce").build(spark, SF_DIR).collect()
    brute_best = {r.query_id: r.cos_sim for r in brute if r.rk == 1}
    assert len(ivf) > 0
    last = {}
    for r in ivf:
        assert r.cos_sim <= brute_best[r.query_id] + 1e-9
        if r.query_id in last:
            assert r.cos_sim <= last[r.query_id] + 1e-9, "ranks must be cos-descending"
        last[r.query_id] = r.cos_sim


def test_vec_kernels_on_literal_arrays(spark):
    """queries/vec.py's fragments equal hand-computed values; the bigint
    sums stay exact past 2**53, where a double sum would round."""
    from sensql_presto_spark.queries import vec

    a, b = "array(3L, -4L, 5L)", "array(-2L, 7L, 1L)"
    fa, fb = "array(0.5D, -1.25D, 2.0D)", "array(-3.0D, 0.5D, 4.0D)"
    big = "array(100000000L, -1L)"
    row = spark.sql(
        f"""SELECT {vec.dot(a, b, 'bigint')} AS dot, {vec.sq_dist(a, b, 'bigint')} AS sqd,
                   {vec.norm2(a, 'bigint')} AS nrm2, {vec.norm2(big, 'bigint')} AS big,
                   {vec.dot(fa, fb, 'double')} AS fdot, {vec.sq_dist(fa, fb, 'double')} AS fsqd,
                   {vec.norm2(fa, 'double')} AS fnrm2"""
    ).first()
    assert (row.dot, row.sqd, row.nrm2, row.big) == (-29, 162, 50, 10**16 + 1)
    assert (row.fdot, row.fsqd, row.fnrm2) == (5.875, 19.3125, 5.8125)
    assert all(isinstance(v, int) for v in (row.dot, row.sqd, row.nrm2, row.big))


def test_no_inline_vector_kernels_outside_vec():
    """Every plain dot / squared-distance / squared-norm spelling in the
    query modules is vec.py's; the four sites vec.py names keep theirs
    because their element body is not a plain product or difference."""
    import pathlib
    import re

    from sensql_presto_spark.queries import vec

    plain = re.compile(
        r"\((\w+), (\w+)\)\s*->\s*(?:\1 \* \2|\(\1 - \2\) \* \(\1 - \2\)|\1 \+ \2 \* \2)\)"
        r"|\btransform\([^()]*, (\w+) -> \3 \* \3\)"
    )
    named_exceptions = re.compile(
        r"-> cast\(x AS double\) \* y\)|-> a \+ cast\(x AS double\) \* x\)|\(x, d\) -> x \* \("
    )
    # the pattern recognizes each kernel as vec.py spells it
    for fragment in (vec.dot("a", "b", "bigint"), vec.sq_dist("a", "b", "double"),
                     vec.norm2("v", "bigint")):
        assert len(plain.findall(fragment)) == 1, fragment
    root = pathlib.Path(registry.__file__).parent
    found = {}
    for path in sorted(root.glob("*.py")):
        text = path.read_text()
        found[path.name] = (len(plain.findall(text)), len(named_exceptions.findall(text)))
    del found["vec.py"]
    assert found.pop("pipeline.py") == (0, 4)
    assert {name: n for name, n in found.items() if n != (0, 0)} == {}



def test_no_repeated_fixture_in_pipeline():
    """No run of 8 or more identical lines (stripped, blank lines skipped)
    occurs twice anywhere in the queries package, within one module or
    across two: a SQL fragment or builder scaffold that two texts share has
    one definition that each of them interpolates or calls, so a fix to it
    reaches every copy. The named exceptions are Python, not SQL."""
    import pathlib

    size = 8
    video = (
        "the fake-video roundtrip in the mapInPandas closures of "
        "mm_video_frames, mm_video_scene_cut and mm_video_keyframe_sample: "
        "a module-level helper would be pickled by reference, so every "
        "Python worker would import the whole query registry"
    )
    # (module, first line of the repeated run) -> why it keeps its copy
    named_exceptions = {
        ("pipeline", "n_frames = 1 + n % 5"): video,
        ("pipeline", 'for doc_id, text in zip(pdf["doc_id"], pdf["text"]):'): video,
    }
    first_seen, runs = {}, []
    for path in sorted(pathlib.Path(registry.__file__).parent.glob("*.py")):
        numbered = [(n, t.strip()) for n, t in enumerate(path.read_text().splitlines(), 1) if t.strip()]
        text = [t for _, t in numbered]
        repeated = [False] * len(text)
        for i in range(len(text) - size + 1):
            here = (path.stem, numbered[i][0])
            if first_seen.setdefault(tuple(text[i : i + size]), here) != here:
                repeated[i : i + size] = [True] * size
        i = 0
        while i < len(text):
            j = i
            while j < len(text) and repeated[j]:
                j += 1
            if j > i:
                runs.append((path.stem, numbered[i][0], j - i, text[i]))
            i = max(j, i + 1)
    assert [r for r in runs if r[::3] not in named_exceptions] == []
    assert {r[::3] for r in runs} == set(named_exceptions)


# -- WAV/PCM codec (multimodal.py, real decoder since round 3) ---------------


def test_wav_pcm16_roundtrip():
    from sensql_presto_spark.multimodal import decode_wav, encode_wav_pcm16

    samples = [0, 1, -1, 32767, -32768, 1234, -4321]
    payload = encode_wav_pcm16(samples, sample_rate=44100)
    assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
    rate, nch, out = decode_wav(payload)
    assert (rate, nch) == (44100, 1)
    assert out == samples


def test_wav_8bit_decode():
    """8-bit WAV stores unsigned bytes; decode shifts to signed."""
    import io
    import wave

    from sensql_presto_spark.multimodal import decode_wav

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(8000)
        w.writeframes(bytes([0, 128, 255]))
    rate, nch, out = decode_wav(buf.getvalue())
    assert (rate, nch) == (8000, 1)
    assert out == [-128, 0, 127]


def test_wav_malformed_raises():
    import wave

    import pytest

    from sensql_presto_spark.multimodal import decode_wav

    with pytest.raises(wave.Error):
        decode_wav(b"not a riff file at all, definitely")


def test_wav_unsupported_width_raises():
    import io
    import wave

    import pytest

    from sensql_presto_spark.multimodal import decode_wav

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(3)  # 24-bit PCM — not handled
        w.setframerate(8000)
        w.writeframes(bytes(6))
    with pytest.raises(NotImplementedError, match="24 bits"):
        decode_wav(buf.getvalue())


def test_decode_audio_wav_fast_path():
    from sensql_presto_spark.multimodal import decode_audio, encode_wav_pcm16

    payload = encode_wav_pcm16([5] * 250, sample_rate=16000)
    assert decode_audio(payload) == (250, 16000)


def test_wav_roundtrip_property():
    """Property: any int16 sample vector survives encode->decode exactly."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from sensql_presto_spark.multimodal import decode_wav, encode_wav_pcm16

    @given(
        st.lists(st.integers(-32768, 32767), min_size=0, max_size=400),
        st.sampled_from([8000, 16000, 44100]),
    )
    @settings(max_examples=200, deadline=None)
    def roundtrip(samples, rate):
        got_rate, nch, out = decode_wav(encode_wav_pcm16(samples, sample_rate=rate))
        assert (got_rate, nch, out) == (rate, 1, samples)

    roundtrip()


# -- PNG codec (multimodal.py, real decoder since round 3) --------------------


def test_png_roundtrip_all_modes_and_filters():
    from sensql_presto_spark.multimodal import decode_image, decode_png, encode_png

    spp = {"L": 1, "LA": 2, "RGB": 3, "RGBA": 4}
    for mode, s in spp.items():
        w, h = 13, 9
        px = bytes((i * 37 + 11) % 256 for i in range(w * h * s))
        for filt in (lambda y: 0, lambda y: y % 5, lambda y: 4):
            blob = encode_png(w, h, px, mode, filter_for_row=filt)
            assert decode_png(blob) == (w, h, mode, px)
        assert decode_image(blob) == (w, h, mode)


def test_png_crc_validation():
    from sensql_presto_spark.multimodal import decode_png, encode_png

    blob = bytearray(encode_png(4, 4, bytes(range(16)), "L"))
    blob[20] ^= 0xFF  # corrupt a byte inside IHDR
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(blob))


def test_png_bad_signature_and_unsupported():
    from sensql_presto_spark.multimodal import decode_png, encode_png

    with pytest.raises(ValueError, match="signature"):
        decode_png(b"GIF89a" + b"\x00" * 20)
    with pytest.raises(NotImplementedError):
        encode_png(2, 2, bytes(4), "CMYK")


def test_png_roundtrip_property():
    """Property: any 8-bit pixel buffer survives encode->decode exactly,
    under every scanline filter type (the unfilter paths are the codec)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from sensql_presto_spark.multimodal import decode_png, encode_png

    @given(
        st.integers(1, 12),
        st.integers(1, 12),
        st.sampled_from(["L", "RGB", "RGBA"]),
        st.integers(0, 4),
        st.randoms(use_true_random=False),
    )
    @settings(max_examples=120, deadline=None)
    def roundtrip(w, h, mode, ftype, rng):
        s = {"L": 1, "RGB": 3, "RGBA": 4}[mode]
        px = bytes(rng.randrange(256) for _ in range(w * h * s))
        blob = encode_png(w, h, px, mode, filter_for_row=lambda y: ftype)
        assert decode_png(blob) == (w, h, mode, px)

    roundtrip()


# -- clustering ops (round 3) -------------------------------------------------


def test_kmeans_partitions_corpus(spark):
    """Cluster sizes must partition the corpus exactly, and every seed
    vector must sit in its own cluster (it is distance 0 from itself at
    iteration 1, and Lloyd never moves a centroid away from its sole
    member faster than the member follows it here)."""
    rows = registry.get("cluster_kmeans").build(spark, SF_DIR).collect()
    import duckdb

    n_vec = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{SF_DIR}/embeddings.parquet')"
    ).fetchone()[0]
    assert sum(r.n_members for r in rows) == n_vec
    assert [r.cluster_id for r in rows] == sorted(r.cluster_id for r in rows)
    assert all(r.n_members >= 1 for r in rows)


def test_semantic_dedup_pairs_verified_by_exact_cosine(spark):
    """Every reported pair must exceed the cosine threshold under an
    independent exact computation, and pairs must be unique and ordered."""
    import math

    import duckdb

    pairs = registry.get("dedup_semantic").build(spark, SF_DIR).collect()
    assert len(pairs) > 0, "testdata embeddings contain near-duplicates"
    vecs = {
        vid: v
        for vid, v in duckdb.sql(
            f"SELECT vec_id, embedding FROM read_parquet('{SF_DIR}/embeddings.parquet')"
        ).fetchall()
    }
    seen = set()
    for r in pairs:
        assert r.kept_id < r.dropped_id
        key = (r.kept_id, r.dropped_id)
        assert key not in seen
        seen.add(key)
        a, b = vecs[r.kept_id], vecs[r.dropped_id]
        dot = sum(x * y for x, y in zip(a, b))
        cos = dot / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))
        # quantization to milliunits shifts cosine by < 2e-3 near the cut
        assert cos > 0.4 - 2e-3, (key, cos)


def test_avi_codec_roundtrip_and_error_contracts():
    """AVI codec: byte-exact roundtrip across geometries (incl. padded
    rows) and loud rejection of compressed streams."""
    import struct

    import pytest as _pytest

    from sensql_presto_spark.multimodal import decode_avi, encode_avi_rgb24

    frames = [bytes(range(36)), bytes(range(36, 72))]
    payload = encode_avi_rgb24(frames, 3, 4)
    assert payload[:4] == b"RIFF" and payload[8:12] == b"AVI "
    w, h, n, back = decode_avi(payload)
    assert (w, h, n) == (3, 4, 2) and back == frames

    # flip the strf biCompression field -> loud NotImplementedError
    strf_at = payload.index(b"strf")
    corrupted = bytearray(payload)
    struct.pack_into("<I", corrupted, strf_at + 8 + 16, 1)  # BI_RLE8
    with _pytest.raises(NotImplementedError, match="biCompression"):
        decode_avi(bytes(corrupted))

    with _pytest.raises(ValueError, match="RIFF"):
        decode_avi(b"nonsense")


def test_avi_codec_roundtrip_property():
    import random

    from sensql_presto_spark.multimodal import decode_avi, encode_avi_rgb24

    rng = random.Random(99)
    for _ in range(20):
        w = rng.randint(1, 6)
        h = rng.randint(1, 6)
        n = rng.randint(1, 5)
        frames = [
            bytes(rng.randrange(256) for _ in range(w * h * 3)) for _ in range(n)
        ]
        assert decode_avi(encode_avi_rgb24(frames, w, h))[3] == frames


def test_mmr_rerank_diversity_property(spark, oracle_dir):
    """MMR picks are distinct, pick 1 is the raw-relevance argmax, and the
    MMR set differs from plain top-3 for at least one probe (diversity
    actually engaged) or every probe's top-3 was already diverse."""
    from sensql_presto_spark.queries import registry

    mmr = registry.get("sim_mmr_rerank").build(spark, oracle_dir).toPandas()
    assert set(mmr["pick"]) == {1, 2, 3}
    for pid, grp in mmr.groupby("query_id"):
        assert grp["selected_id"].nunique() == 3
        # pick 1 must be the relevance argmax (rel_dot of pick1 >= others)
        p1 = grp.loc[grp["pick"] == 1, "rel_dot"].iloc[0]
        assert (grp["rel_dot"] <= p1).all()


def test_resize_nearest_contract():
    """Integer nearest-neighbor mapping + loud contracts on bad input."""
    import pytest

    from sensql_presto_spark.multimodal import resize_nearest

    pix = bytes(range(36))  # 6x6 ramp
    small = resize_nearest(6, 6, pix, 3, 3)
    assert list(small) == [pix[(2 * y) * 6 + 2 * x] for y in range(3) for x in range(3)]
    # identity resize
    assert resize_nearest(6, 6, pix, 6, 6) == pix
    # upsample duplicates neighbors deterministically
    up = resize_nearest(2, 1, bytes([10, 20]), 4, 1)
    assert list(up) == [10, 10, 20, 20]
    with pytest.raises(ValueError, match="bad target"):
        resize_nearest(6, 6, pix, 0, 3)
    with pytest.raises(ValueError, match="buffer"):
        resize_nearest(6, 6, pix[:-1], 3, 3)


def test_kcore_fixpoint_and_independent_peeling(spark):
    """graph_kcore's 5 unrolled rounds truly reach the peeling fixpoint
    (no node falls in the margin round 5), and the in-core membership
    equals an independent Python peel-to-fixpoint over the same edges."""
    import duckdb

    from sensql_presto_spark.queries.pipeline import _KCORE_GRAPH_SQL

    out = registry.get("graph_kcore").build(spark, SF_DIR).toPandas()
    assert (out["peeled_round"] != 5).all(), "margin round peeled a node"
    assert out["in_core"].sum() > 0 and (out["in_core"] == 0).sum() > 0

    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW orders AS SELECT * FROM '{SF_DIR}/orders.parquet'"
    )
    edges = con.sql(_KCORE_GRAPH_SQL).fetchall()
    con.close()
    adj: dict[int, set[int]] = {}
    for s, d in edges:
        adj.setdefault(int(s), set()).add(int(d))
    alive = set(adj)
    while True:
        dead = {u for u in alive if sum(v in alive for v in adj[u]) < 6}
        if not dead:
            break
        alive -= dead
    got_core = set(out.loc[out["in_core"] == 1, "node_id"].astype(int))
    assert got_core == alive
    # core_degree is the degree restricted to the core
    deg = {
        int(r.node_id): int(r.core_degree)
        for r in out.itertuples()
        if r.in_core == 1
    }
    for u in alive:
        assert deg[u] == sum(v in alive for v in adj[u])


def test_nn_descent_round_improves_blocked_knn(spark):
    """One NN-Descent round must (a) genuinely escape the initial
    blocking — some refined edges are NOT in the two-blocking init graph
    — and (b) never regress: each vector's rank-1 sim_key is >= the
    init graph's rank-1 key, because the candidate set is a superset of
    the vector's init edges."""
    from sensql_presto_spark import catalog
    from sensql_presto_spark.queries.pipeline import (
        _NND_CORPUS_SQL,
        _NND_EDGES_SQL,
    )

    corpus = catalog.sql(spark, SF_DIR, _NND_CORPUS_SQL).localCheckpoint(eager=True)
    corpus.createOrReplaceTempView("__nnd_test_corpus")
    init = spark.sql(
        """
        WITH scored AS (
            SELECT e.src, e.nbr,
                   aggregate(zip_with(va.v, vb.v, (x, y) -> x * y),
                             cast(0 AS bigint), (acc, x) -> acc + x) AS dot,
                   vb.nrm2
            FROM ({E}) e
            JOIN __nnd_test_corpus va ON e.src = va.vec_id
            JOIN __nnd_test_corpus vb ON e.nbr = vb.vec_id
        )
        SELECT src, nbr,
               CASE WHEN dot >= 0 THEN (dot * dot * 1000) DIV nrm2
                    ELSE -((dot * dot * 1000) DIV nrm2) END AS sim_key
        FROM scored
        """.format(E=_NND_EDGES_SQL.format(E="__nnd_test_corpus"))
    ).toPandas()
    refined = registry.get("sim_nn_descent_round").build(spark, SF_DIR).toPandas()

    init_edges = set(map(tuple, init[["src", "nbr"]].values))
    ref_edges = set(map(tuple, refined[["vec_id", "neighbor_id"]].values))
    escaped = ref_edges - init_edges
    assert len(escaped) > 0, "refinement found nothing outside the blocking"

    init_top1 = init.sort_values(["src", "sim_key", "nbr"], ascending=[True, False, True])
    init_top1 = init_top1.groupby("src").first().sim_key
    ref_top1 = refined[refined.rk == 1].set_index("vec_id").sim_key
    common = init_top1.index.intersection(ref_top1.index)
    assert (ref_top1[common] >= init_top1[common]).all()
    assert (ref_top1[common] > init_top1[common]).any()


SF01_DIR = "/root/testdata/sf0.1"


def test_knn_lsh_blocking_scales_with_corpus(spark):
    """The k-NN family's sign-LSH bit count must grow with the corpus so
    per-bucket occupancy stays pinned (~32 rows) instead of the fixed
    32-bucket blocking whose pair volume was Theta(n^2/32): (a) the
    integer bit-width formula satisfies the occupancy bound for any n,
    (b) the actual bucketed corpus uses 5 bits at the 500-vector fixture
    and >5 bits at sf0.1's 2000 vectors (both engines agree — the oracle
    harness covers value parity; this pins the adaptivity itself)."""
    from sensql_presto_spark import catalog
    from sensql_presto_spark.queries.pipeline import (
        _KNN_CORPUS_SQL,
        _NND_CORPUS_SQL,
    )

    # (a) occupancy bound: 2^b >= ceil(n/32), and b is minimal above the
    # clamp — so expected rows/bucket <= 32 at ANY corpus size.
    rows = spark.sql(
        """
        SELECT n,
               greatest(5, length(bin(greatest((n + 31) DIV 32 - 1, 1)))) AS b,
               cast(ceil(n / 32.0) AS bigint) AS m
        FROM VALUES (500L), (2000L), (100000L), (1000000000L), (100000000000L) AS t(n)
        """
    ).collect()
    for r in rows:
        assert 2**r.b >= r.m, f"occupancy bound violated at n={r.n}"
        if r.b > 5:
            assert 2 ** (r.b - 1) < r.m, f"b not minimal at n={r.n}"

    # (b) the blocking actually widens between fixture scales.
    small = catalog.sql(spark, SF_DIR, _KNN_CORPUS_SQL).toPandas()
    large = catalog.sql(spark, SF01_DIR, _KNN_CORPUS_SQL).toPandas()
    assert small.bucket.max() <= 31, "500-vector fixture must clamp to 5 bits"
    assert large.bucket.max() >= 32, "2000-vector corpus must use > 5 bits"
    assert large.bucket.max() <= 63
    # dual-blocking init shares the adaptive width (min clamp 4)
    nnd_small = catalog.sql(spark, SF_DIR, _NND_CORPUS_SQL).toPandas()
    nnd_large = catalog.sql(spark, SF01_DIR, _NND_CORPUS_SQL).toPandas()
    assert nnd_small.bucket_a.max() <= 15 and nnd_small.bucket_b.max() <= 15
    assert nnd_large.bucket_a.max() >= 16 or nnd_large.bucket_b.max() >= 16


def test_labelprop_fixpoint_margin_at_scale(spark):
    """graph_label_propagation's 3 unrolled rounds must already be the
    fixpoint on the sf0.1 fixture (6000-node block web): a 4th majority
    round changes no label, so a fixture scale-up can't silently
    under-iterate (the graph_kcore margin-guard pattern)."""
    from sensql_presto_spark import catalog
    from sensql_presto_spark.queries.pipeline import _LABELPROP_GRAPH_SQL

    sym = catalog.sql(spark, SF01_DIR, _LABELPROP_GRAPH_SQL).localCheckpoint(
        eager=True
    )
    sym.createOrReplaceTempView("__lp_margin_sym")
    l3 = registry.get("graph_label_propagation").build(spark, SF01_DIR)
    l3.select("node_id", "community").createOrReplaceTempView("__lp_margin_l3")
    l4 = spark.sql(
        """
        WITH c4 AS (SELECT e.dst AS id, l.community AS lbl, count(*) AS c
                    FROM __lp_margin_sym e
                    JOIN __lp_margin_l3 l ON l.node_id = e.src
                    GROUP BY e.dst, l.community),
        w4 AS (SELECT id, lbl FROM (
                   SELECT id, lbl,
                          row_number() OVER (PARTITION BY id ORDER BY c DESC, lbl) AS rn
                   FROM c4) t WHERE rn = 1)
        SELECT p.node_id, coalesce(w.lbl, p.community) AS community
        FROM __lp_margin_l3 p LEFT JOIN w4 w ON p.node_id = w.id
        """
    ).toPandas()
    prev = l3.select("node_id", "community").toPandas()
    merged = prev.merge(l4, on="node_id", suffixes=("_3", "_4"))
    changed = (merged.community_3 != merged.community_4).sum()
    assert changed == 0, f"margin round moved {changed} labels"


def test_khop_fixpoint_margin_at_scale(spark):
    """graph_khop_distances' 4 unrolled rounds must already cover the
    sf0.1 block web: a 5th relaxation round changes no distance and the
    seed set reaches every node, so a fixture scale-up (longer bridges)
    can't silently truncate the BFS."""
    from sensql_presto_spark import catalog
    from sensql_presto_spark.queries.pipeline import _LABELPROP_GRAPH_SQL

    sym = catalog.sql(spark, SF01_DIR, _LABELPROP_GRAPH_SQL).localCheckpoint(
        eager=True
    )
    sym.createOrReplaceTempView("__kh_margin_sym")
    d4 = registry.get("graph_khop_distances").build(spark, SF01_DIR)
    d4.createOrReplaceTempView("__kh_margin_d4")
    d5 = spark.sql(
        """
        SELECT v AS node_id, min(d) AS dist FROM (
            SELECT node_id AS v, dist AS d FROM __kh_margin_d4 WHERE reached = 1
            UNION ALL
            SELECT e.dst AS v, p.dist + 1 AS d
            FROM __kh_margin_sym e
            JOIN __kh_margin_d4 p ON e.src = p.node_id AND p.reached = 1
        ) u GROUP BY v
        """
    ).toPandas()
    prev = d4.toPandas()
    assert (prev.reached == 1).all(), "sf0.1 block web left nodes unreached"
    merged = prev.merge(d5, on="node_id", suffixes=("_4", "_5"))
    assert len(merged) == len(prev)
    changed = (merged.dist_4 != merged.dist_5).sum()
    assert changed == 0, f"5th relaxation round improved {changed} distances"


def test_pca_power_iteration_converges_on_anisotropic_spectrum(spark):
    """sim_pca_project's 5 exact-integer power iterations must agree with
    numpy's top eigenvector projection (>0.999 |corr|) whenever the
    spectrum has a real gap — embedding corpora are strongly anisotropic
    in practice; the near-gapless synthetic fixture exercises only the
    oracle-pinned mechanism."""
    import numpy as np

    from sensql_presto_spark.queries.pipeline import _PCA_SQL

    rng = np.random.RandomState(7)
    n, dim = 400, 64
    direction = rng.randn(dim)
    direction /= np.linalg.norm(direction)
    # dominant direction + isotropic noise -> clear eigengap
    coords = rng.randn(n, 1) * 3.0 @ direction[None, :] + rng.randn(n, dim) * 0.3
    rows = [(i, [float(x) for x in coords[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    df.createOrReplaceTempView("embeddings")
    got = spark.sql(_PCA_SQL).toPandas()

    X = np.round(coords * 1000)
    C = X.T @ X
    _, V = np.linalg.eigh(C)
    ref = X @ V[:, -1]
    corr = abs(np.corrcoef(ref, got.pc_milli.values.astype(float))[0, 1])
    assert corr > 0.999, f"power iteration diverged from numpy PC1: |corr|={corr}"


def test_two_stage_rerank_recall_and_score_parity(spark):
    """The coarse-to-fine funnel's reranked scores must equal brute force's
    for every neighbor both return (full-dim exact rerank), and prefix
    recall@5 vs full-dim top-5 must clear a floor on this fixture."""
    two = registry.get("sim_two_stage_prefix_rerank").build(spark, SF_DIR).collect()
    brute = registry.get("sim_topk_bruteforce").build(spark, SF_DIR).collect()
    two_scores = {(r.query_id, r.neighbor_id): r.cos_sim for r in two}
    brute_scores = {(r.query_id, r.neighbor_id): r.cos_sim for r in brute if r.query_id < 8}
    shared = set(two_scores) & set(brute_scores)
    assert shared, "funnel and brute force share no neighbors at all"
    for key in shared:
        assert two_scores[key] == brute_scores[key], f"rerank score drift at {key}"
    # recall@5: fraction of brute-force top-5 recovered by the funnel
    hits = len(shared)
    assert hits / len(brute_scores) >= 0.3, (
        "prefix recall collapsed: near-isotropic synthetic embeddings give "
        f"imperfect but non-trivial prefix agreement; got {hits}/{len(brute_scores)}"
    )


def test_winnowing_agrees_with_ngram_jaccard_on_sample(spark):
    """Winnowing containment pairs must equal the J>=0.9 ngram-Jaccard
    pairs restricted to the doc_id % 7 < 2 sample universe (fixture-pinned:
    planted near-dups share long substrings, so the MOSS positional
    guarantee forces shared fingerprints and >=60% containment)."""
    winn = registry.get("text_winnowing_dedup").build(spark, SF_DIR).collect()
    ngram = registry.get("dedup_ngram_jaccard").build(spark, SF_DIR).collect()
    winn_pairs = {(r.a_id, r.b_id) for r in winn}
    ngram_sampled = {
        (r.id_a, r.id_b)
        for r in ngram
        if r.id_a % 7 < 2 and r.id_b % 7 < 2
    }
    assert winn_pairs == ngram_sampled
    assert winn_pairs, "planted near-dups must surface in the sample"
    assert all(r.cont_bp >= 6000 for r in winn)


def test_misra_gries_guarantee_adversarial_stream():
    """Direct unit check of the MG summary: on a stream engineered to force
    evictions with capacity 4, every key with freq > N/5 must survive."""
    import pandas as pd

    from sensql_presto_spark.queries import pipeline as pl

    # 40x 'a b', 30x 'b c', plus 60 singleton bigrams -> N = 130 bigram
    # occurrences, threshold N/5 = 26: 'a b' (40) and 'b c' (30) must survive.
    words = (["a", "b"] * 40 + ["b", "c"] * 30 + [f"w{i}" for i in range(61)])
    # build one text per 2-word window so bigrams are exactly as planned
    texts = [" ".join(words[i : i + 2]) for i in range(0, len(words) - 1, 2)]
    cap = pl._HH_CAPACITY
    try:
        pl._HH_CAPACITY = 4
        out = list(pl._mg_batch_candidates(iter([pd.DataFrame({"text": texts})])))
    finally:
        pl._HH_CAPACITY = cap
    cands = set(out[0]["bigram"])
    assert len(cands) <= 4, "capacity bound violated"
    assert {"a b", "b c"} <= cands, f"heavy keys evicted: {cands}"


def test_heavy_hitters_candidates_partitioning_independent(spark):
    """The exact top-20 output must not change under adversarial
    repartitioning of the candidate pass (the two-pass guarantee)."""
    from sensql_presto_spark import catalog
    from sensql_presto_spark.queries import pipeline as pl

    base = registry.get("text_heavy_hitters").build(spark, SF_DIR).collect()
    docs = catalog.table(spark, SF_DIR, "documents").repartition(7, "source")
    cands = {
        r.bigram
        for r in docs.select("text").mapInPandas(pl._mg_batch_candidates, "bigram string").distinct().collect()
    }
    assert {r.bigram for r in base} <= cands, "candidates missed a true top-20 bigram"
    assert base[0].rank == 1 and len(base) == 20


def test_kmeans_parallel_init_beats_naive_seeding(spark):
    """The cost-proportional oversampling must produce a seed set with
    lower k-means potential (sum of min squared distances) than naive
    first-k seeding — the statistical claim of Bahmani et al. 2012."""
    import numpy as np
    import pyarrow.parquet as pq

    out = registry.get("cluster_kmeans_parallel_init").build(spark, SF_DIR).collect()
    assert len(out) == 5 and out[0].rank == 1
    tbl = pq.read_table(SF_DIR + "/embeddings.parquet")
    vecs = np.array([np.asarray(v, dtype=np.float64) for v in tbl["embedding"].to_pylist()])
    ids = np.asarray(tbl["vec_id"].to_pylist())

    def phi(center_ids):
        centers = vecs[np.isin(ids, center_ids)]
        d2 = ((vecs[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        return d2.min(axis=1).sum()

    kmpp = phi([r.centroid_id for r in out])
    naive = phi(ids[:5])
    assert kmpp < naive, f"k-means|| seeds ({kmpp:.1f}) no better than first-5 ({naive:.1f})"


def test_cdc_chunking_is_insertion_stable():
    """The content-defined boundary rule must localize edits: inserting one
    word near the start of a document perturbs only the chunk it lands in,
    while fixed-size chunking shifts every later boundary."""
    P = 1000000007

    def wh(w):
        a = 7
        for c in w:
            a = (a * 31 + ord(c)) % P
        return a

    def cdc_chunks(words):
        hs = [wh(w) for w in words]
        chunks, cur = [], []
        for i, h in enumerate(hs):
            cur.append(h)
            if i >= 3 and (hs[i - 3] * 29791 + hs[i - 2] * 961 + hs[i - 1] * 31 + h) % P % 8 == 0:
                chunks.append(tuple(cur))
                cur = []
        if cur:
            chunks.append(tuple(cur))
        return chunks

    def fixed_chunks(words, k=8):
        hs = [wh(w) for w in words]
        return [tuple(hs[i : i + k]) for i in range(0, len(hs), k)]

    import pyarrow.parquet as pq

    texts = pq.read_table(SF_DIR + "/documents.parquet", columns=["text"])["text"].to_pylist()
    base = max(texts, key=len).split(" ")
    edited = base[:3] + ["INSERTED"] + base[3:]

    cdc_a, cdc_b = set(cdc_chunks(base)), set(cdc_chunks(edited))
    fix_a, fix_b = set(fixed_chunks(base)), set(fixed_chunks(edited))
    cdc_keep = len(cdc_a & cdc_b) / len(cdc_a)
    fix_keep = len(fix_a & fix_b) / len(fix_a)
    assert cdc_keep >= 0.8, f"CDC kept only {cdc_keep:.0%} of chunks after a 1-word insert"
    assert cdc_keep > fix_keep, f"CDC ({cdc_keep:.0%}) must beat fixed-size ({fix_keep:.0%})"


def test_modularity_of_planted_blocks_is_high(spark):
    """Label propagation recovers the planted 15-node blocks, so total
    modularity must be strongly positive (a one-community partition scores
    exactly 0: q_num = S*S - S^2), and every per-community q_den must be
    the shared S^2."""
    rows = registry.get("graph_modularity").build(spark, SF_DIR).collect()
    assert len(rows) > 1
    dens = {r.q_den for r in rows}
    assert len(dens) == 1
    q_total = sum(r.q_num for r in rows) / rows[0].q_den
    assert q_total > 0.5, f"planted-block partition scored Q={q_total:.3f}"
    # sanity: degree mass must add up to S (sum of all community degrees = 2m)
    import math
    s2 = math.isqrt(rows[0].q_den)
    assert s2 * s2 == rows[0].q_den
    assert sum(r.total_deg for r in rows) == s2


def test_bpe_rounds_invariants(spark):
    """BPE invariants: merge frequencies are non-increasing across rounds
    (a new pair's count is bounded by the merges that created it), the
    corpus token count strictly decreases, and each round removes at most
    pair_count tokens (overlapping occurrences merge only once)."""
    rows = registry.get("text_bpe_train_rounds").build(spark, SF_DIR).collect()
    assert [r.round for r in rows] == [1, 2, 3]
    counts = [r.pair_count for r in rows]
    assert counts == sorted(counts, reverse=True), f"top-pair counts increased: {counts}"
    toks = [r.corpus_tokens_after for r in rows]
    assert toks[0] > toks[1] > toks[2], f"token count must strictly decrease: {toks}"
    for i in (1, 2):
        assert toks[i - 1] - toks[i] <= rows[i].pair_count
    assert all(" " in r.merged_pair for r in rows)


def test_bpe_round_survives_fully_merged_words(spark):
    """Once a round merges a 2-char word into a single token, the next
    round sees size(t)=1 rows; without the size guard Spark's
    sequence(0,-1) emits NULL pairs (which sort first under cnt DESC and
    would null the whole corpus via replace(s, NULL, ...)).  Build a
    corpus where round 1's winner completes every 2-char word, then run a
    second round and assert no NULL pair wins and untouched rows pass
    through intact."""
    from sensql_presto_spark.queries.pipeline import _BPE_ROUND_SQL, _BPE_SUMMARY_SQL

    # 'ab' x3 -> pair 'a b' wins round 1 and fully merges all three words;
    # 'xyz' stays multi-symbol so round 2 still has work.
    corp = spark.createDataFrame(
        [(1, "·a··b·"), (2, "·a··b·"), (3, "·a··b·"), (4, "·x··y··z·")],
        "doc_id long, s string",
    )
    corp.createOrReplaceTempView("__bpetest_r0")
    r1 = spark.sql(_BPE_ROUND_SQL.format(P="__bpetest_r0"))
    r1.createOrReplaceTempView("__bpetest_r1")
    rows1 = {r.doc_id: r.s for r in r1.collect()}
    assert rows1[1] == "·ab·" and rows1[4] == "·x··y··z·"
    summ = spark.sql(
        _BPE_SUMMARY_SQL.format(P="__bpetest_r1", N="__bpetest_r1", R=2)
    ).collect()
    assert len(summ) == 1
    assert summ[0].merged_pair in ("x y", "y z"), summ[0].merged_pair
    r2 = {r.doc_id: r.s for r in spark.sql(_BPE_ROUND_SQL.format(P="__bpetest_r1")).collect()}
    assert r2[1] == "·ab·", "fully-merged word must pass through round 2 unchanged"
    assert r2[4] in ("·xy··z·", "·x··yz·")


def test_vad_segments_match_python_replay_and_are_nondegenerate(spark):
    """Replay the energy gate + merge in Python from the raw text bytes,
    and pin that the fixture actually exercises the interesting cases:
    a mixed active/inactive split and documents with 2+ segments."""
    import pyarrow.parquet as pq

    from sensql_presto_spark.queries.pipeline import _VAD_THRESHOLD

    rows = {r.doc_id: r for r in registry.get("mm_audio_vad_segments").build(spark, SF_DIR).collect()}
    docs = pq.read_table(SF_DIR + "/documents.parquet", columns=["doc_id", "text"]).to_pylist()
    multi = 0
    tot_act = tot_win = 0
    for d in docs:
        if d["doc_id"] >= 100:
            continue
        t = d["text"]
        n_win = n_act = n_seg = longest = cur = 0
        first = -1
        for widx, off in enumerate(range(0, len(t), 100)):
            ch = t[off : off + 100]
            ms = sum((ord(c) - 96) ** 2 for c in ch) // len(ch)
            n_win += 1
            if ms >= _VAD_THRESHOLD:
                n_act += 1
                if first < 0:
                    first = widx
                cur += 1
                if cur == 1:
                    n_seg += 1
                longest = max(longest, cur)
            else:
                cur = 0
        r = rows[d["doc_id"]]
        assert (r.n_windows, r.n_active, r.n_segments, r.longest_seg, r.first_active) == (
            n_win, n_act, n_seg, longest, first,
        )
        multi += n_seg >= 2
        tot_act += n_act
        tot_win += n_win
    assert 0 < tot_act < tot_win, "gate must split the corpus, not saturate"
    assert multi >= 5, "merge logic needs docs with 2+ segments"


def test_hits_separates_hubs_from_authorities(spark):
    """On the skewed web (dst skews toward low ids), low-id nodes must be
    the authorities; scores stay in the scaled [0, 1e6] range and the
    top authority must score exactly the 1e6 ceiling (max-scaling)."""
    rows = registry.get("graph_hits").build(spark, SF_DIR).collect()
    assert rows and rows[0].ark == 1
    assert rows[0].authority_micro == 1000000
    assert all(0 <= r.authority_micro <= 1000000 for r in rows)
    assert all(0 <= r.hub_micro <= 1000000 for r in rows)
    top10 = [r.node_id for r in rows[:10]]
    assert sum(1 for n in top10 if n < 15) >= 8, f"authorities should be low-id hubs: {top10}"


def test_decay_score_matches_python_replay(spark):
    """Replay the power-of-2 half-life scoring in Python."""
    import math

    import pyarrow.parquet as pq

    rows = {r.user_id: r for r in registry.get("events_decay_score").build(spark, SF_DIR).collect()}
    tbl = pq.read_table(SF_DIR + "/events.parquet").to_pylist()
    mx = max(e["ts"] for e in tbl)
    agg = {}
    for e in tbl:
        if e["user_id"] >= 40:
            continue
        hl = min(int((mx - e["ts"]).total_seconds() * 1_000_000) // 604800000000, 40)
        v = int(math.floor(e["value"] * 10000 + 0.5))
        # trunc-toward-zero decay (sign-aware CASE in both engines)
        contrib = v // (1 << hl) if v >= 0 else -((-v) // (1 << hl))
        n, s, f = agg.get(e["user_id"], (0, 0, 99))
        agg[e["user_id"]] = (n + 1, s + contrib, min(f, hl))
    assert set(agg) == set(rows)
    for uid, (n, s, f) in agg.items():
        r = rows[uid]
        assert (r.n_events, r.score_e4, r.freshest_halflives) == (n, s, f)


def test_decay_score_negative_values_agree_with_oracle(spark, tmp_path):
    """r8 VERDICT What's-wrong #2: `v_e4 DIV 2^hl` (Spark truncates) vs
    `v_e4 // 2^hl` (DuckDB floors) diverged latently whenever value < 0.
    Pin the sign-aware fix with a micro-fixture whose values are negative
    and non-divisible (|v_e4| % 2^hl != 0, so trunc != floor), run BOTH
    engines on it, and check the engine result against a Python replay."""
    import datetime
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from sensql_presto_spark.testing import check_query_against_oracle

    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "documents", "embeddings"):
        shutil.copy(f"{SF_DIR}/{t}.parquet", tmp_path / f"{t}.parquet")
    anchor = datetime.datetime(2026, 3, 1)
    week_us = 604800000000
    rows_in = []
    # user 0: fresh negative (hl=0); user 1: aged negatives where
    # trunc/floor differ (e.g. -3.0001e4 / 2 -> trunc -15000, floor -15001);
    # user 2: mixed signs cancelling partially.
    cases = [
        (0, 0, -1.2345), (0, 0, -0.0001),
        (1, 1, -3.0001), (1, 2, -5.4321),
        (2, 0, 7.5), (2, 1, -7.4999), (2, 3, -0.0625),
    ]
    for i, (uid, weeks, val) in enumerate(cases):
        rows_in.append({
            "event_id": i,
            "ts": anchor - datetime.timedelta(microseconds=weeks * week_us),
            "user_id": uid, "event_type": "view", "value": val, "props": "{}",
        })
    # one anchor row so max(ts) == anchor exactly
    rows_in.append({"event_id": 99, "ts": anchor, "user_id": 3,
                    "event_type": "view", "value": 0.0, "props": "{}"})
    schema = pa.schema([
        ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()), ("event_type", pa.string()),
        ("value", pa.float64()), ("props", pa.string()),
    ])
    pq.write_table(pa.Table.from_pylist(rows_in, schema=schema),
                   tmp_path / "events.parquet")

    spec = registry.get("events_decay_score")
    df = spec.build(spark, str(tmp_path))
    check_query_against_oracle(df, spec.oracle, str(tmp_path))

    got = {r.user_id: r.score_e4 for r in df.collect()}

    def trunc_div(v: int, hl: int) -> int:
        return v // (1 << hl) if v >= 0 else -((-v) // (1 << hl))

    import math
    expect: dict[int, int] = {}
    for uid, weeks, val in cases + [(3, 0, 0.0)]:
        v = int(math.floor(val * 10000 + 0.5))
        expect[uid] = expect.get(uid, 0) + trunc_div(v, min(weeks, 40))
    assert got == expect
    # the fixture genuinely exercises the divergence: floor-division
    # semantics would have produced a DIFFERENT score for user 1
    floor_u1 = sum((int(math.floor(v * 10000 + 0.5))) // (1 << w)
                   for u, w, v in cases if u == 1)
    assert floor_u1 != expect[1]


def test_vocab_growth_is_monotone_and_heaps_concave(spark):
    """V(N) and N are strictly increasing across checkpoints, the
    type/token ratio is non-increasing (Heaps concavity on a fixed
    vocabulary generator), and the final vocab equals the corpus-wide
    distinct token count."""
    import pyarrow.parquet as pq

    rows = sorted(registry.get("text_vocab_growth").build(spark, SF_DIR).collect(), key=lambda r: r.step)
    assert [r.step for r in rows] == list(range(1, 11))
    for a, b in zip(rows, rows[1:]):
        assert b.tokens_cum > a.tokens_cum
        assert b.vocab_cum >= a.vocab_cum
        assert b.type_token_ppm <= a.type_token_ppm
    docs = pq.read_table(SF_DIR + "/documents.parquet", columns=["doc_id", "text"]).to_pylist()
    cutoff = rows[-1].max_doc_id
    vocab = set()
    ntok = 0
    for d in docs:
        if d["doc_id"] <= cutoff:
            ws = d["text"].split(" ")
            vocab.update(ws)
            ntok += len(ws)
    assert rows[-1].vocab_cum == len(vocab) and rows[-1].tokens_cum == ntok


def test_top_paths_match_python_replay(spark):
    """Recompute the 3-step path counts in plain Python over the raw
    events and compare the full top-10."""
    import pyarrow.parquet as pq
    from collections import Counter

    rows = registry.get("events_top_paths").build(spark, SF_DIR).collect()
    tbl = pq.read_table(SF_DIR + "/events.parquet").to_pylist()
    by_user = {}
    for e in tbl:
        by_user.setdefault(e["user_id"], []).append(e)
    cnt = Counter()
    for evs in by_user.values():
        evs.sort(key=lambda e: (e["ts"], e["event_id"]))
        for i in range(len(evs) - 2):
            cnt[" > ".join(evs[j]["event_type"] for j in (i, i + 1, i + 2))] += 1
    expect = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert [(r.path, r.n) for r in sorted(rows, key=lambda r: r.rk)] == expect


def test_rouge_matches_python_recompute(spark):
    """Recompute the distinct-n-gram ROUGE for the first 5 pairs."""
    import pyarrow.parquet as pq

    rows = {r.pair_id: r for r in registry.get("text_rouge_overlap").build(spark, SF_DIR).collect()}
    docs = {d["doc_id"]: d["text"] for d in pq.read_table(SF_DIR + "/documents.parquet").to_pylist()}
    for pid in range(5):
        ct, rt = docs[pid].split(" "), docs[pid + 100].split(" ")
        c1, r1 = set(ct), set(rt)
        c2 = {" ".join(ct[i : i + 2]) for i in range(len(ct) - 1)}
        r2 = {" ".join(rt[i : i + 2]) for i in range(len(rt) - 1)}
        r = rows[pid]
        assert (r.r1_overlap, r.r1_ref_size) == (len(c1 & r1), len(r1))
        assert r.rouge1_bp == len(c1 & r1) * 10000 // len(r1)
        assert (r.r2_overlap, r.r2_ref_size) == (len(c2 & r2), len(r2))


def test_knn_classify_matches_numpy_replay(spark):
    """Replay the integer-key k-NN vote in numpy and compare every
    per-label count.  NOTE the fixture's labels are deliberately NOT
    cosine-clustered (the r7 verdict's near-isotropic note) — even
    ground-truth cosine k-NN scores ~0 here; the operator's job is to
    MEASURE that honestly, so the test pins agreement, not accuracy."""
    import numpy as np
    import pyarrow.parquet as pq
    from collections import Counter

    rows = registry.get("sim_knn_classify").build(spark, SF_DIR).collect()
    assert sum(r.n_probes for r in rows) == 16
    for r in rows:
        assert r.accuracy_bp == r.n_correct * 10000 // r.n_probes

    tbl = pq.read_table(SF_DIR + "/embeddings.parquet").to_pylist()
    Q = {t["vec_id"]: np.floor(np.array(t["embedding"], dtype=np.float64) * 1000 + 0.5).astype(np.int64) for t in tbl}
    L = {t["vec_id"]: t["label"] for t in tbl}
    per_label = Counter()
    correct = Counter()
    for qid in range(16):
        keyed = []
        for nid, v in Q.items():
            if nid == qid:
                continue
            dot = int(Q[qid] @ v)
            nrm2 = int(v @ v)
            key = (dot * dot * 1000) // nrm2
            keyed.append((-(key if dot >= 0 else -key), nid))
        keyed.sort()
        top = [L[nid] for _, nid in keyed[:3]]
        pred = sorted(Counter(top).items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
        per_label[L[qid]] += 1
        correct[L[qid]] += pred == L[qid]
    for r in rows:
        assert (r.n_probes, r.n_correct) == (per_label[r.label], correct[r.label])


def test_weighted_percentile_matches_numpy_expansion(spark):
    """The weighted type-1 quantile must equal the unweighted type-1
    quantile of the weight-expanded multiset (the defining property)."""
    import math

    import pyarrow.parquet as pq

    rows = registry.get("agg_weighted_percentile").build(spark, SF_DIR).collect()
    got = {(r.measure, r.q_milli): (r.total_weight, r.quantile_value) for r in rows}

    li = pq.read_table(
        SF_DIR + "/lineitem.parquet", columns=["l_extendedprice", "l_quantity"]
    ).to_pylist()
    pairs = sorted(
        (int(math.floor(r["l_extendedprice"] * 100 + 0.5)), int(r["l_quantity"])) for r in li
    )
    W = sum(w for _, w in pairs)
    for qm in (500, 900, 990):
        thresh = qm * W  # pick min val with cum_w * 1000 >= qm * W
        cum = 0
        for v, w in pairs:
            cum += w
            if cum * 1000 >= thresh:
                expect = v
                break
        tw, qv = got[("lineitem.price_c_by_qty", qm)]
        assert tw == W and qv == expect, (qm, tw, qv, W, expect)


def test_reciprocal_pairs_are_mutual_and_strict_subset(spark):
    """Every reciprocal pair must appear in BOTH directions of the k-NN
    lists, and hubness must make the reciprocal set strictly smaller than
    the unordered candidate-pair set."""
    knn = {(r.vec_id, r.neighbor_id): r.rk for r in registry.get("sim_knn_join").build(spark, SF_DIR).collect()}
    rec = registry.get("sim_reciprocal_nn_pairs").build(spark, SF_DIR).collect()
    assert rec
    for r in rec:
        assert knn[(r.vec_a, r.vec_b)] == r.rk_ab
        assert knn[(r.vec_b, r.vec_a)] == r.rk_ba
    unordered = {(min(a, b), max(a, b)) for a, b in knn}
    assert len(rec) < len(unordered), "mutual filter must actually filter"


def test_trending_ranks_are_complete_per_window(spark):
    """Each emitted hour carries ranks 1..3 exactly once, counts are
    non-increasing with rank, and delta == prev_rk - rk where present."""
    rows = registry.get("events_trending_topk").build(spark, SF_DIR).collect()
    from collections import defaultdict

    byw = defaultdict(list)
    for r in rows:
        byw[r.win_start].append(r)
    assert len(byw) > 24
    for w, rs in byw.items():
        rs.sort(key=lambda r: r.rk)
        assert [r.rk for r in rs] == [1, 2, 3]
        assert rs[0].n >= rs[1].n >= rs[2].n
        for r in rs:
            if r.prev_rk is not None:
                assert r.delta == r.prev_rk - r.rk


def test_prf_expansion_terms_are_new_and_mined_from_top_docs(spark):
    """The two expansion terms per query must not be original query terms
    (the 6 highest-df corpus terms, paired 2-per-query), and each must
    actually occur in at least one of that query's round-1 top-3 docs."""
    import pyarrow.parquet as pq
    from collections import Counter

    rows = registry.get("sim_query_expansion_prf").build(spark, SF_DIR).collect()
    assert {r.query_id for r in rows} == {1, 2, 3}
    assert all(sum(1 for r in rows if r.query_id == q) == 5 for q in (1, 2, 3))

    docs = pq.read_table(SF_DIR + "/documents.parquet", columns=["doc_id", "text"]).to_pylist()
    df = Counter()
    for d in docs:
        df.update(set(d["text"].split(" ")))
    top6 = [t for t, _ in sorted(df.items(), key=lambda kv: (-kv[1], kv[0]))[:6]]
    qterms = {1: set(top6[0:2]), 2: set(top6[2:4]), 3: set(top6[4:6])}
    bm25 = {}
    for r in registry.get("text_bm25_topk").build(spark, SF_DIR).collect():
        if r.rk <= 3:
            bm25.setdefault(r.query_id, set()).add(r.doc_id)
    text_by_id = {d["doc_id"]: set(d["text"].split(" ")) for d in docs}
    for r in rows:
        for term in (r.exp_term1, r.exp_term2):
            assert term not in qterms[r.query_id]
            assert any(term in text_by_id[d] for d in bm25[r.query_id])


def test_personalized_pagerank_concentrates_on_seeds(spark):
    """PPR semantics: teleport mass returns to the seed set, so seeds
    must outrank the non-seed average, and the global top-1 must be a
    seed on this web (hubs only collect 0.85-damped flow)."""
    rows = registry.get("graph_personalized_pagerank").build(spark, SF_DIR).collect()
    seeds = [r for r in rows if r.node_id % 150 == 0]
    non = [r for r in rows if r.node_id % 150 != 0]
    assert seeds and non
    # every seed holds at least its own teleport mass (floor of the split)
    import math

    base = math.floor(150000 / len(seeds)) if len(seeds) else 0
    assert all(r.rank_micro >= base for r in seeds)
    # seeds dominate on average (hubs may individually outrank a seed —
    # they collect the 0.85-damped flow the seeds emit — but the teleport
    # anchors the seed set far above the non-seed mean)
    mean_seed = sum(r.rank_micro for r in seeds) / len(seeds)
    mean_non = sum(r.rank_micro for r in non) / len(non)
    assert mean_seed > 3 * mean_non


def test_silhouette_matches_numpy_recomputation(spark):
    """Recompute the simplified silhouette report with numpy int64 over
    the raw embeddings and compare every emitted integer."""
    import numpy as np
    import pyarrow.parquet as pq

    rows = registry.get("cluster_silhouette_eval").build(spark, SF_DIR).collect()
    tbl = pq.read_table(SF_DIR + "/embeddings.parquet").to_pylist()
    q = {t["vec_id"]: np.floor(np.array(t["embedding"], dtype=np.float64) * 1000 + 0.5).astype(np.int64) + 2000 for t in tbl}
    lab = {t["vec_id"]: t["label"] for t in tbl}
    cents = {}
    for lb in set(lab.values()):
        mem = np.stack([q[v] for v in q if lab[v] == lb])
        cents[lb] = (1000 * mem.sum(axis=0)) // len(mem)
    rep = {}
    for v in q:
        d2 = {lb: int(((q[v] * 1000 - c) ** 2).sum()) for lb, c in cents.items()}
        a = d2[lab[v]]
        b = min(val for lb, val in d2.items() if lb != lab[v])
        n, sm, ss, w = rep.get(lab[v], (0, 0, 0, 0))
        rep[lab[v]] = (n + 1, sm + (b - a), ss + max(a, b), w + (1 if b > a else 0))
    for r in rows:
        assert rep[r.label] == (r.n_points, r.sum_margin, r.sum_scale, r.n_well_assigned)


def test_multiprobe_recall_dominates_single_probe(spark):
    """nprobe=2's candidate set is a superset of nprobe=1's, and anything
    that displaces a ground-truth neighbor from a top-3 must itself be
    ground truth — so per-query recall@3 vs brute force can only improve.
    Pin that dominance (and that multiprobe actually finds >= as many
    ground-truth hits in total)."""
    gt = {}
    for r in registry.get("sim_topk_bruteforce").build(spark, SF_DIR).collect():
        if r.rk <= 3:
            gt.setdefault(r.query_id, set()).add(r.neighbor_id)
    single = {}
    for r in registry.get("sim_ivf_topk").build(spark, SF_DIR).collect():
        single.setdefault(r.query_id, set()).add(r.neighbor_id)
    multi = {}
    for r in registry.get("sim_ivf_multiprobe").build(spark, SF_DIR).collect():
        multi.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert set(multi) == set(single)
    for qid in single:
        h1 = len(single[qid] & gt.get(qid, set()))
        h2 = len(multi[qid] & gt.get(qid, set()))
        assert h2 >= h1, f"query {qid}: multiprobe hits {h2} < single-probe {h1}"
    assert sum(len(multi[q] & gt.get(q, set())) for q in multi) >= sum(
        len(single[q] & gt.get(q, set())) for q in single
    )


def test_cluster_assignment_fixpoint_margin_and_cliques(spark):
    """(1) Fixpoint margin at sf0.1: an independent Python union-find over
    the engine's own pair list must agree with the engine's labels — if
    _CLUSTER_ROUNDS were too few for this corpus the deepest chain would
    disagree.  (2) Clusters are internally consistent: every cluster_id is
    the min doc_id of its members, sizes add up, and kept marks exactly
    one doc per cluster."""
    from sensql_presto_spark.queries.pipeline import _CLUSTER_ROUNDS

    sf = "/root/testdata/sf0.1"
    rows = registry.get("dedup_cluster_assignment").build(spark, sf).collect()
    pairs = registry.get("dedup_ngram_jaccard").build(spark, sf).collect()

    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for p in pairs:
        ra, rb = find(p.id_a), find(p.id_b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    got = {r.doc_id: r.cluster_id for r in rows}
    for r in rows:
        assert got[r.doc_id] == find(r.doc_id) if r.doc_id in parent else r.cluster_id == r.doc_id
    # margin: min-label propagation needs exactly max-BFS-depth-from-the-
    # component-min rounds to converge; measure that depth on the engine's
    # own pair list and require >= 2 spare rounds (r8 ADVICE: the previous
    # `_CLUSTER_ROUNDS >= 4` was a constant tautology).
    from collections import defaultdict, deque

    adj: dict[int, set[int]] = defaultdict(set)
    for p in pairs:
        adj[p.id_a].add(p.id_b)
        adj[p.id_b].add(p.id_a)
    # union-find always parents max -> min, so each UF root IS its
    # component's min doc_id — the label the propagation spreads
    roots = {find(n) for n in adj}
    max_depth = 0
    for root in roots:
        dist = {root: 0}
        dq = deque([root])
        while dq:
            cur = dq.popleft()
            for nxt in adj[cur]:
                if nxt not in dist:
                    dist[nxt] = dist[cur] + 1
                    dq.append(nxt)
        max_depth = max(max_depth, max(dist.values()))
    assert max_depth >= 1, "fixture must contain at least one real component"
    assert _CLUSTER_ROUNDS >= max_depth + 2, (
        f"unrolled rounds ({_CLUSTER_ROUNDS}) leave <2 spare over the "
        f"measured propagation depth ({max_depth}) at sf0.1"
    )
    # internal consistency
    from collections import Counter

    sizes = Counter(r.cluster_id for r in rows)
    for r in rows:
        assert r.cluster_size == sizes[r.cluster_id]
        assert r.kept == (r.doc_id == r.cluster_id)
    assert all(cid == min(r.doc_id for r in rows if r.cluster_id == cid) for cid in list(sizes)[:50])


def test_hot_key_caps_bound_boilerplate_skew(spark, tmp_path):
    """r8 VERDICT What's-wrong #3: on a boilerplate-heavy corpus the
    segment/shingle join keys fatten into skew stragglers.  Build a corpus
    where 300 docs share IDENTICAL text (every blocking key frequency =
    300 >> cap 64) plus distinctive docs with injected near-dups, and pin:
    (1) the caps fire — no boilerplate pair reaches the output, so the
    candidate join never sees the 300x300 hot block; (2) recall holds —
    every injected distinctive near-dup pair is still found; (3) the
    DuckDB oracle agrees on the skewed corpus (caps are in both dialects)."""
    import random
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from sensql_presto_spark.testing import check_query_against_oracle

    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "embeddings"):
        shutil.copy(f"{SF_DIR}/{t}.parquet", tmp_path / f"{t}.parquet")

    rng = random.Random(4242)
    words = [f"w{i:03d}" for i in range(400)]
    docs = []
    boiler = " ".join(["common boiler plate text that every scraped page carries"] * 6)
    for i in range(300):
        docs.append({"doc_id": i, "text": boiler})
    # 10 distinctive docs, each with a near-dup twin:
    #  - edit-distance twin: one substituted character (ed == 1)
    #  - jaccard twin: same token stream with ONE word changed near the
    #    end (>= 0.9 shingle overlap on a 60-token doc)
    for j in range(10):
        base = " ".join(rng.choice(words) for _ in range(60))
        docs.append({"doc_id": 1000 + j, "text": base})
        docs.append({"doc_id": 2000 + j, "text": base[:10] + "Q" + base[11:]})
        toks = base.split(" ")
        toks[57] = "zzz"
        docs.append({"doc_id": 3000 + j, "text": " ".join(toks)})
    schema = pa.schema([
        ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64()),
    ])
    pq.write_table(
        pa.Table.from_pylist(
            [{**d, "lang": "en", "source": "fixture", "n_chars": len(d["text"])} for d in docs],
            schema=schema,
        ),
        tmp_path / "documents.parquet",
    )

    ed_spec = registry.get("dedup_edit_distance")
    ed = ed_spec.build(spark, str(tmp_path)).collect()
    ed_pairs = {(r.doc1, r.doc2) for r in ed}
    # recall: every (base, ed-twin) pair survives the cap
    for j in range(10):
        assert (1000 + j, 2000 + j) in ed_pairs, f"lost injected ed pair {j}"
    # bound: the 300-doc boilerplate block (ed = 0 pairwise, ~45k pairs
    # uncapped, plus its own %50 injected copies) is fully excluded
    assert all(d1 >= 1000 for d1, _ in ed_pairs), "boilerplate pair leaked"
    check_query_against_oracle(ed_spec.build(spark, str(tmp_path)),
                               ed_spec.oracle, str(tmp_path))

    jac_spec = registry.get("dedup_ngram_jaccard")
    jac = jac_spec.build(spark, str(tmp_path)).collect()
    jac_pairs = {(r.id_a, r.id_b) for r in jac}
    for j in range(10):
        assert (1000 + j, 3000 + j) in jac_pairs, f"lost injected jaccard pair {j}"
    assert all(a >= 1000 for a, _ in jac_pairs), "boilerplate pair leaked"
    check_query_against_oracle(jac_spec.build(spark, str(tmp_path)),
                               jac_spec.oracle, str(tmp_path))


def test_edit_distance_blocking_is_complete(spark):
    """PassJoin's completeness claim, checked independently: banded
    brute-force Levenshtein (Ukkonen band k=2 with the necessary
    |len diff| <= 2 pruning) over the full sf0.01 corpus must produce
    exactly the engine's pair set."""
    import pyarrow.parquet as pq

    out = registry.get("dedup_edit_distance").build(spark, SF_DIR).collect()
    got = {(r.doc1, r.doc2): r.edit_dist for r in out}

    docs = pq.read_table(SF_DIR + "/documents.parquet", columns=["doc_id", "text"]).to_pylist()
    corpus = [(d["doc_id"], d["text"]) for d in docs]
    corpus += [
        (d["doc_id"] + 10000000, d["text"][:2] + "Z" + d["text"][3:])
        for d in docs
        if d["doc_id"] % 50 == 0
    ]

    def banded_ed(a, b, k=2):
        # Ukkonen: only the |i-j| <= k diagonal band can stay <= k
        if abs(len(a) - len(b)) > k:
            return k + 1
        prev = {j: j for j in range(min(k, len(b)) + 1)}
        for i in range(1, len(a) + 1):
            cur = {}
            lo, hi = max(1, i - k), min(len(b), i + k)
            if i - k <= 0:
                cur[0] = i
            for j in range(lo, hi + 1):
                cur[j] = min(
                    prev.get(j, k + 1) + 1,
                    cur.get(j - 1, k + 1) + 1,
                    prev.get(j - 1, k + 1) + (a[i - 1] != b[j - 1]),
                )
            if min(cur.values()) > k:
                return k + 1
            prev = cur
        return prev.get(len(b), k + 1)

    expect = {}
    by_len = sorted(corpus, key=lambda t: len(t[1]))
    for ii in range(len(by_len)):
        ida, ta = by_len[ii]
        for jj in range(ii + 1, len(by_len)):
            idb, tb = by_len[jj]
            if len(tb) - len(ta) > 2:
                break
            d = banded_ed(ta, tb)
            if d <= 2:
                expect[(min(ida, idb), max(ida, idb))] = d
    assert got == expect
    assert len(got) >= 10  # the injected mutations must all surface


def test_pattern_match_agrees_with_python_replay(spark):
    """Independent check: replay the pattern automaton per user in plain
    Python over the raw events and compare the matched purchase set."""
    import pyarrow.parquet as pq

    out = registry.get("events_pattern_match").build(spark, SF_DIR).collect()
    got = {(r.user_id, r.purchase_id) for r in out}

    tbl = pq.read_table(SF_DIR + "/events.parquet").to_pylist()
    by_user = {}
    for e in tbl:
        by_user.setdefault(e["user_id"], []).append(e)
    expect = set()
    for uid, evs in by_user.items():
        evs.sort(key=lambda e: (e["ts"], e["event_id"] % 1000))
        for i, p in enumerate(evs):
            if p["event_type"] != "purchase":
                continue
            clicks = [j for j in range(i) if evs[j]["event_type"] == "click"]
            if not clicks:
                continue
            ci = clicks[-1]
            views = [j for j in range(ci) if evs[j]["event_type"] == "view"]
            if not views:
                continue
            vi = views[-1]
            if (p["ts"] - evs[vi]["ts"]).total_seconds() > 172800:
                continue
            if any(evs[j]["event_type"] == "error" for j in range(vi + 1, i)):
                continue
            expect.add((uid, p["event_id"]))
    assert got == expect
    assert got, "fixture must contain pattern matches"


def test_skew_report_gini_bounds_and_reconciliation(spark):
    """Gini must sit in [0, 10000) bp and shares must reconcile with the
    raw tables."""
    rows = {r.col: r for r in registry.get("scale_skew_report").build(spark, SF_DIR).collect()}
    assert set(rows) == {"orders.o_custkey", "events.user_id"}
    for r in rows.values():
        assert 0 <= r.gini_bp < 10000
        assert 0 < r.max_share_bp <= 10000
        assert r.n_keys <= r.n_rows
    import duckdb

    con = duckdb.connect()
    n = con.sql(f"SELECT count(*) FROM '{SF_DIR}/orders.parquet'").fetchone()[0]
    assert rows["orders.o_custkey"].n_rows == n
    con.close()


def test_centroid_drift_positivity_shift_and_parity_split(spark):
    """The +2000 shift must cancel in the drift (re-derive one label's L1
    drift from raw numpy means), and the parity split must cover every
    vector exactly once."""
    import numpy as np
    import pyarrow.parquet as pq

    rows = registry.get("sim_centroid_drift_monitor").build(spark, SF_DIR).collect()
    tbl = pq.read_table(SF_DIR + "/embeddings.parquet").to_pylist()
    assert sum(r.n_ref + r.n_cand for r in rows) == len(tbl)
    lab = rows[0].label
    ref = np.array([t["embedding"] for t in tbl if t["label"] == lab and t["vec_id"] % 2 == 0], dtype=np.float64)
    cand = np.array([t["embedding"] for t in tbl if t["label"] == lab and t["vec_id"] % 2 == 1], dtype=np.float64)

    def micro_means(m):
        q = np.round(m * 1000).astype(np.int64) + 2000
        return (1000 * q.sum(axis=0)) // q.shape[0]

    l1 = int(np.abs(micro_means(ref) - micro_means(cand)).sum())
    assert rows[0].l1_drift_micro == l1


def test_schema_evolution_never_rewrites_old_snapshot(spark):
    """Additive evolution must be free: after the merged read, snapshot v1
    on disk still carries only the original two columns (the merge is a
    planning-time footer reconciliation, not a data rewrite)."""
    out = registry.get("source_parquet_schema_evolution").build(spark, SF_DIR)
    rows = out.collect()
    assert len(rows) == 200
    assert all(r.c_acctbal is None for r in rows if r.c_custkey < 100)
    assert all(r.c_acctbal is not None for r in rows if r.c_custkey >= 100)
    from sensql_presto_spark.queries.sources_suite import SCHEMA_EVO_PATH

    v1 = spark.read.parquet(SCHEMA_EVO_PATH + "/v=1")
    assert set(v1.columns) == {"c_custkey", "c_name"}


def test_exact_quantiles_match_numpy_type1(spark):
    """The histogram-reduction quantiles must equal numpy's lower
    (type-1 / inverted_cdf) quantile on the raw column."""
    import math

    import pyarrow.parquet as pq

    rows = registry.get("agg_exact_quantiles").build(spark, SF_DIR).collect()
    got = {(r.measure, r.q_milli): r.quantile_value for r in rows}
    qty = sorted(pq.read_table(SF_DIR + "/lineitem.parquet", columns=["l_quantity"])["l_quantity"].to_pylist())
    n = len(qty)
    for qm in (500, 900, 990):
        expect = qty[math.ceil(qm * n / 1000) - 1]
        assert got[("lineitem.l_quantity", qm)] == expect


def test_hamming_estimates_angular_distance(spark):
    """Charikar's guarantee, empirically: across probe-neighbor pairs the
    Hamming distance must correlate positively with angular distance
    (1 - cosine), i.e. the top-Hamming neighbors have higher mean cosine
    than the corpus average for that probe."""
    import numpy as np
    import pyarrow.parquet as pq

    out = registry.get("sim_binary_hamming_topk").build(spark, SF_DIR).collect()
    tbl = pq.read_table(SF_DIR + "/embeddings.parquet")
    vecs = {i: np.asarray(v, dtype=np.float64) for i, v in zip(tbl["vec_id"].to_pylist(), tbl["embedding"].to_pylist())}

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    mean_all = {}
    better = 0
    probes = {r.query_id for r in out}
    for qid in probes:
        q = vecs[qid]
        allcos = [cos(q, v) for i, v in vecs.items() if i != qid]
        mean_all[qid] = sum(allcos) / len(allcos)
    for qid in probes:
        sel = [cos(vecs[qid], vecs[r.neighbor_id]) for r in out if r.query_id == qid]
        if sum(sel) / len(sel) > mean_all[qid]:
            better += 1
    assert better >= len(probes) - 1, (
        f"Hamming top-5 beat the corpus-mean cosine for only {better}/{len(probes)} probes"
    )


def test_rate_limit_audit_window_semantics(spark):
    """Independent replay: for one flagged user, re-derive the trailing
    24h counts in Python and match n_violations and peak_rate."""
    import pyarrow.parquet as pq

    rows = registry.get("events_rate_limit_audit").build(spark, SF_DIR).collect()
    assert rows, "fixture must contain rate violations"
    uid = rows[0].user_id
    evs = [e for e in pq.read_table(SF_DIR + "/events.parquet").to_pylist() if e["user_id"] == uid]
    secs = sorted(int(e["ts"].timestamp()) for e in evs)
    viol, peak = 0, 0
    for s in secs:
        # RANGE frame includes peers: count all events with sec in [s-86400, s]
        cnt = sum(1 for t in secs if s - 86400 <= t <= s)
        if cnt >= 8:
            viol += 1
            peak = max(peak, cnt)
    assert rows[0].n_violations == viol
    assert rows[0].peak_rate == peak


def test_feature_hashing_matches_python_replication(spark):
    """Independent replication: re-derive several documents' hashed
    vectors in plain Python (same word hash, bucket, sign-bit rules) and
    match (nnz, norm2, checksum) exactly; nnz can never exceed
    min(64, distinct tokens)."""
    import pyarrow.parquet as pq

    P = 1000000007
    rows = {r.doc_id: r for r in registry.get("text_feature_hashing").build(spark, SF_DIR).collect()}
    docs = pq.read_table(SF_DIR + "/documents.parquet").to_pylist()

    def wh(w):
        a = 7
        for c in w:
            a = (a * 31 + ord(c)) % P
        return a

    for d in docs[:25]:
        vec = {}
        for w in d["text"].split(" "):
            h = wh(w)
            f = h % 64
            vec[f] = vec.get(f, 0) + (1 if (h // 64) % 2 == 0 else -1)
        nnz = sum(1 for v in vec.values() if v != 0)
        norm2 = sum(v * v for v in vec.values())
        # Spark/DuckDB % keeps the dividend sign (C semantics), as does
        # math.fmod — Python's % floors, so emulate C-style remainder.
        raw = sum((f + 1) * v for f, v in vec.items())
        checksum = raw - int(raw / P) * P
        r = rows[d["doc_id"]]
        assert (r.nnz, r.norm2, r.checksum) == (nnz, norm2, checksum), d["doc_id"]
        assert r.nnz <= min(64, len(set(d["text"].split(" "))))


# --- round-9 operator wave: property tests beyond the oracle ----------------


def test_ohlc_bars_invariants_and_brute_force_open_close(spark):
    """OHLC internal consistency on every bar, plus an independent pandas
    recomputation of open/close for the busiest bar (the window-rank path
    and a plain sort must agree)."""
    import pandas as pd

    bars = registry.get("events_ohlc_bars").build(spark, SF_DIR).toPandas()
    assert len(bars) > 0
    assert (bars.low_e4 <= bars.open_e4).all()
    assert (bars.open_e4 <= bars.high_e4).all()
    assert (bars.low_e4 <= bars.close_e4).all()
    assert (bars.close_e4 <= bars.high_e4).all()
    assert (bars.n_ticks >= 1).all()
    busiest = bars.sort_values("n_ticks", ascending=False).iloc[0]
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    ev["v_e4"] = (ev.value * 10000 + 0.5).apply(lambda x: int(x // 1))
    sel = ev[
        (ev.event_type == busiest.event_type)
        & (ev.ts.dt.floor("D") == busiest.bar_day)
        & (ev.ts.dt.hour // 6 == busiest.bar_slot)
    ].sort_values(["ts", "event_id"])
    assert len(sel) == busiest.n_ticks
    assert sel.iloc[0].v_e4 == busiest.open_e4
    assert sel.iloc[-1].v_e4 == busiest.close_e4
    assert sel.v_e4.sum() == busiest.volume_e4


def test_lateness_audit_non_degenerate_and_ordered(spark):
    """The producer-batch arrival model must actually produce disorder
    (otherwise the audit audits nothing), lateness is never negative, and
    the watermark-drop counts are monotone in the delay."""
    rows = registry.get("events_lateness_audit").build(spark, SF_DIR).collect()
    assert len(rows) == 8  # one row per topic shard
    assert sum(r.n_out_of_order for r in rows) > 0
    for r in rows:
        assert r.max_lateness_us >= 0 and r.sum_lateness_us >= 0
        assert r.n_dropped_wm_60s <= r.n_dropped_wm_10s <= r.n_out_of_order
        assert r.n_out_of_order <= r.n_events


def test_ngram_novelty_conservation_and_decay(spark):
    """Every distinct gram in the corpus is novel exactly once (in its
    first-occurrence doc), so sum(n_novel) == corpus distinct-gram count;
    and the curve must actually decay from the first decile to the last
    (Heaps-law sanity on the planted fixture)."""
    cur = registry.get("text_ngram_novelty").build(spark, SF_DIR).collect()
    assert [r.ingest_decile for r in cur] == list(range(10))
    total_novel = sum(r.n_novel for r in cur)
    distinct_grams = spark.sql(
        f"""
        SELECT count(DISTINCT concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])) AS n
        FROM (SELECT split(text, ' ') AS toks
              FROM parquet.`{SF_DIR}/documents.parquet`
              WHERE size(split(text, ' ')) >= 3)
        LATERAL VIEW explode(sequence(0, size(toks) - 3)) t AS i
        """
    ).collect()[0].n
    assert total_novel == distinct_grams
    assert cur[0].novelty_bp > cur[-1].novelty_bp


def test_term_drift_brute_force_chi2(spark):
    """Recompute the top-ranked term's chi-square independently in Python
    from raw token counts; ranks are a 1..n permutation and chi2 >= 0."""
    rows = registry.get("text_term_drift").build(spark, SF_DIR).collect()
    assert sorted(r.drift_rank for r in rows) == list(range(1, len(rows) + 1))
    assert all(r.chi2 >= 0 for r in rows)
    top = next(r for r in rows if r.drift_rank == 1)
    import pandas as pd

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    half = (docs.doc_id.max() + 1) // 2
    a = b = ta = tb = 0
    for doc_id, text in zip(docs.doc_id, docs.text):
        toks = text.split(" ")
        n_hit = sum(1 for t in toks if t == top.term)
        if doc_id < half:
            a += n_hit
            ta += len(toks)
        else:
            b += n_hit
            tb += len(toks)
    assert (a, b) == (top.n_first_half, top.n_second_half)
    chi2 = (ta + tb) * (1.0 * a * (tb - b) - 1.0 * b * (ta - a)) ** 2 / (
        (1.0 * a + b) * (ta - a + tb - b) * ta * tb
    )
    assert round(chi2, 4) == top.chi2


def test_embedding_norm_audit_healthy_corpus(spark):
    """The fixture embeddings are unit-normalized 64-dim vectors; the
    audit must certify exactly that (the 'gate passes on healthy data'
    direction — the unhealthy direction is covered by construction since
    every column is a count of an explicit predicate)."""
    rows = registry.get("sim_embedding_norm_audit").build(spark, SF_DIR).collect()
    import pandas as pd

    emb = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
    assert sum(r.n_vecs for r in rows) == len(emb)
    for r in rows:
        assert r.dims_min == r.dims_max == 64
        assert r.n_zero_norm == 0 and r.n_nonfinite == 0
        assert r.min_norm_e4 == r.max_norm_e4 == 10000  # unit norms
        assert r.sum_norm_e4 == 10000 * r.n_vecs


def test_dedup_eval_pr_confusion_identities(spark):
    """The confusion counts must tie out against the two source detectors
    run independently, and the bp metrics against their integer
    definitions."""
    import math

    row = registry.get("dedup_eval_pr").build(spark, SF_DIR).collect()[0]
    sim = {
        (r.id_a, r.id_b)
        for r in registry.get("dedup_simhash").build(spark, SF_DIR).collect()
    }
    jac = {
        (r.id_a, r.id_b)
        for r in registry.get("dedup_ngram_jaccard").build(spark, SF_DIR).collect()
    }
    assert row.n_predicted == len(sim) and row.n_truth == len(jac)
    assert row.tp == len(sim & jac)
    assert row.fp == len(sim - jac) and row.fn == len(jac - sim)
    assert row.tp + row.fp > 0 and row.fp + row.fn > 0, "eval must discriminate"
    assert row.precision_bp == math.floor(row.tp * 10000.0 / (row.tp + row.fp))
    assert row.recall_bp == math.floor(row.tp * 10000.0 / (row.tp + row.fn))
    assert row.f1_bp == math.floor(
        2 * row.tp * 10000.0 / (2 * row.tp + row.fp + row.fn)
    )


def test_lang_confusion_ties_out_against_labels(spark):
    """Confusion-matrix marginals must reproduce the label histogram and
    the prediction histogram, and the accuracy bp its own definition.
    The fixture readout is the honest one: the heuristic collapses to
    en/und, so accuracy is far below the 1/|langs| a cynic would plant."""
    import math

    import pandas as pd

    cm = registry.get("text_lang_confusion").build(spark, SF_DIR).toPandas()
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    true_hist = docs.lang.value_counts().to_dict()
    assert cm.groupby("true_lang").n.sum().to_dict() == true_hist
    hit = int(cm[cm.true_lang == cm.pred_lang].n.sum())
    tot = int(cm.n.sum())
    assert tot == len(docs)
    assert cm.overall_accuracy_bp.nunique() == 1
    assert int(cm.overall_accuracy_bp.iloc[0]) == math.floor(hit * 10000.0 / tot)
    assert set(cm.pred_lang) <= {"en", "fr", "de", "es", "und"}


def test_salt_planner_balances_and_conserves(spark):
    """The fanout plan must (a) conserve rows, (b) never exceed the
    target per-task load except for indivisible single keys, and (c)
    actually improve on the unsalted max by a large factor on the
    power-law surrogate key."""
    rows = registry.get("scale_salt_planner").build(spark, SF_DIR).collect()
    total = sum(r.n_rows for r in rows)
    for r in rows:
        assert r.fanout >= 1
        assert r.salted_max_rows == -(-r.n_rows // r.fanout)  # ceil
        # fanout = ceil(n * 32 / N) guarantees n/fanout <= N/32 + a key
        # smaller than one target task keeps fanout 1
        assert r.salted_max_rows <= max(total // 32 + 1, r.n_rows)
    worst_salted = max(r.salted_max_rows for r in rows)
    unsalted = rows[0].unsalted_max_rows
    assert unsalted == max(r.n_rows for r in rows)
    assert worst_salted * 8 < unsalted, "planner must beat unsalted by >8x"


def test_dedup_impact_ties_out_against_dedup_exact(spark):
    """Total removed docs must equal dedup_exact's sum(n_copies - 1) —
    two independent exact-dedup computations (md5 window vs content-hash
    groupBy) must bill the same number of documents."""
    impact = registry.get("text_dedup_impact").build(spark, SF_DIR).collect()
    groups = registry.get("dedup_exact").build(spark, SF_DIR).collect()
    assert sum(r.n_removed for r in impact) == sum(g.n_copies - 1 for g in groups)
    for r in impact:
        assert 0 <= r.n_removed < r.n_docs
        assert 0 <= r.tokens_removed <= r.tokens_total
        assert (r.saved_bp == 0) == (r.tokens_removed == 0)


def test_equi_depth_histogram_depth_bound(spark):
    """Buckets must cover the full value range in order, conserve rows,
    and be near-equal depth: since whole distinct-value groups never
    split, any bucket's depth exceeds N/8 by at most the heaviest
    value's multiplicity."""
    import pandas as pd

    rows = registry.get("agg_histogram_equi_depth").build(spark, SF_DIR).collect()
    assert [r.bucket for r in rows] == list(range(8))
    orders = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    n = len(orders)
    assert sum(r.n_rows for r in rows) == n
    heaviest = int(
        (orders.o_totalprice * 100 + 0.5).astype("int64").value_counts().iloc[0]
    )
    for prev, cur in zip(rows, rows[1:]):
        assert prev.hi_cents < cur.lo_cents  # ordered, non-overlapping
    for r in rows:
        assert r.lo_cents <= r.hi_cents
        assert r.n_rows <= n // 8 + heaviest
        assert r.n_distinct <= r.n_rows


def test_attrition_funnel_monotone_and_non_degenerate(spark):
    """Stage counts must be monotone non-increasing, every gate must
    actually remove something on the fixture (a funnel whose stages are
    all 10000bp audits nothing), and the raw row must equal the planted
    corpus size."""
    import pandas as pd

    rows = registry.get("pipeline_attrition_funnel").build(spark, SF_DIR).collect()
    assert [r.stage for r in rows] == list(range(5))
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    planted = len(docs) + (docs.doc_id % 50 == 0).sum()
    assert rows[0].n_docs == planted
    for prev, cur in zip(rows, rows[1:]):
        assert cur.n_docs <= prev.n_docs
        assert cur.n_tokens <= prev.n_tokens
        assert cur.survival_bp == (cur.n_docs * 10000) // prev.n_docs
    assert all(r.survival_bp < 10000 for r in rows[1:]), (
        "every gate must be non-degenerate on the fixture"
    )


def test_funnel_lag_consistent_with_events_funnel(spark):
    """Total converting users per step-pair must tie out against an
    independent pandas recomputation of the strictly-ordered funnel, and
    every bucket's extremes must sit inside the bucket's lag range."""
    import math

    import pandas as pd

    rows = registry.get("events_funnel_lag").build(spark, SF_DIR).collect()
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    n_vc = n_cp = 0
    for _, g in ev.groupby("user_id"):
        views = g[g.event_type == "view"].ts
        if views.empty:
            continue
        t1 = views.min()
        clicks = g[(g.event_type == "click") & (g.ts > t1)].ts
        if clicks.empty:
            continue
        n_vc += 1
        t2 = clicks.min()
        purchases = g[(g.event_type == "purchase") & (g.ts > t2)].ts
        if not purchases.empty:
            n_cp += 1
    got_vc = sum(r.n_users for r in rows if r.step == "view_to_click")
    got_cp = sum(r.n_users for r in rows if r.step == "click_to_purchase")
    assert (got_vc, got_cp) == (n_vc, n_cp)
    for r in rows:
        assert 0 < r.min_lag_us <= r.max_lag_us
        for lag in (r.min_lag_us, r.max_lag_us):
            # integral definition (r9 ADVICE): floor(log2(1 + lag/60s))
            # = bit_length((lag + 60e6) div 60e6) - 1, exact in Z
            assert (
                (lag + 60_000_000) // 60_000_000
            ).bit_length() - 1 == r.log2_minutes_bucket


def test_spacesaving_bounds_on_skewed_stream():
    """The capacity<NDV approximation path of agg_approx_most_frequent's
    SpaceSaving summary: on a skewed stream with 26 distinct keys and
    capacity 4, every tracked estimate must satisfy
    est >= true >= est - err, and the dominant key must be tracked with
    an exact-enough estimate to rank first (Metwally et al. guarantees)."""
    from collections import Counter

    from sensql_presto_spark.queries.sketches_suite import spacesaving_update

    # deterministic skewed stream: 'hot' every other element, a rotating
    # cold tail otherwise
    stream = []
    for i in range(2000):
        stream.append("hot" if i % 2 == 0 else f"cold{i % 50}")
    true = Counter(stream)
    counts: dict = {}
    for v in stream:
        spacesaving_update(counts, v, 1, 4)
    assert len(counts) <= 4
    assert "hot" in counts, "a key with freq > N/capacity must be tracked"
    for k, (est, err) in counts.items():
        assert est >= true[k] >= est - err
    top = max(counts, key=lambda k: counts[k][0])
    assert top == "hot"


def test_spacesaving_batch_merge_matches_streaming():
    """Merging pre-counted batches (the Arrow value_counts path) must
    obey the same bounds as element-at-a-time updates, and with
    capacity >= NDV both are exactly the true counts."""
    from collections import Counter

    from sensql_presto_spark.queries.sketches_suite import spacesaving_update

    stream = [f"k{i % 7}" for i in range(500)] + ["k3"] * 100
    true = Counter(stream)
    exact: dict = {}
    for v, n in Counter(stream).items():
        spacesaving_update(exact, v, n, 16)  # capacity >= 7 distinct
    assert {k: v[0] for k, v in exact.items()} == dict(true)
    assert all(v[1] == 0 for v in exact.values())


def test_pair_staging_memo_keying_and_reuse(spark):
    """r10 staging memo: the verified pair list is built once per
    (session, sf_dir) and REUSED (same DataFrame object), while a
    different sf_dir gets its own entry — no cross-corpus contamination
    — and the memoized result equals a fresh un-memoized build."""
    from sensql_presto_spark.queries.pipeline import (
        _ngram_jaccard_pairs,
        _ngram_jaccard_plan,
        _shingle_sets,
    )

    small = "/root/testdata/sf0.001"
    a = _ngram_jaccard_pairs(spark, SF_DIR)
    b = _ngram_jaccard_pairs(spark, SF_DIR)
    assert a is b, "second call must hit the memo"
    c = _ngram_jaccard_pairs(spark, small)
    assert c is not a, "different sf_dir must not share a memo slot"
    assert _shingle_sets(spark, SF_DIR) is _shingle_sets(spark, SF_DIR)
    # memoized checkpoint equals a fresh build of the generation plan
    memo_rows = sorted(tuple(r) for r in a.collect())
    fresh_rows = sorted(tuple(r) for r in _ngram_jaccard_plan(spark, SF_DIR).collect())
    assert memo_rows == fresh_rows


def test_spacesaving_cross_partition_merge_under_eviction():
    """r9 ADVICE (medium): the distributed merge must preserve the
    SpaceSaving bound est >= true >= est - err even when individual
    partitions evict (partition NDV > capacity).  Builds 8 partition
    sketches at capacity 4 over a skewed stream with 60+ distinct keys,
    merges them via spacesaving_merge, and asserts the bound for every
    surviving key plus top-rank correctness for the dominant key —
    exactly the regime where the old plain sum-of-estimates broke."""
    from collections import Counter

    from sensql_presto_spark.queries.sketches_suite import (
        spacesaving_floor,
        spacesaving_merge,
        spacesaving_update,
    )

    cap = 4
    stream = []
    for i in range(4000):
        stream.append("hot" if i % 2 == 0 else f"cold{(i * 7) % 61}")
    true = Counter(stream)
    # split into 8 contiguous "partitions", each forced to evict
    sketches = []
    for p in range(8):
        counts: dict = {}
        for v in stream[p * 500 : (p + 1) * 500]:
            spacesaving_update(counts, v, 1, cap)
        assert len(counts) == cap  # every partition hit capacity
        assert spacesaving_floor(counts, cap) > 0
        sketches.append((counts, spacesaving_floor(counts, cap)))
    merged = spacesaving_merge(sketches, cap)
    assert len(merged) <= cap
    assert "hot" in merged, "freq > N/capacity key must survive the merge"
    for k, (est, err) in merged.items():
        assert est >= true[k], f"{k}: est {est} < true {true[k]}"
        assert true[k] >= est - err, f"{k}: true {true[k]} < est-err {est - err}"
    top = max(merged, key=lambda k: merged[k][0])
    assert top == "hot"
    # and with no eviction anywhere, merge degenerates to the exact sum
    small = [f"s{i % 5}" for i in range(200)]
    parts = []
    for p in range(4):
        c: dict = {}
        for v in small[p::4]:
            spacesaving_update(c, v, 1, 16)
        parts.append((c, spacesaving_floor(c, 16)))
    exact_merge = spacesaving_merge(parts, 16)
    assert {k: v[0] for k, v in exact_merge.items()} == dict(Counter(small))
    assert all(v[1] == 0 for v in exact_merge.values())


def test_stage_memo_is_keyed_per_session(spark):
    """The staging memo is keyed on the SparkSession OBJECT: forked
    sessions (spark.newSession(), one per server.py client) share an
    applicationId but each has its own temp-view catalog, and a staged
    DataFrame belongs to the session that built it. Same session + tag +
    sf_dir must hit the memo; a forked session must rebuild."""
    from sensql_presto_spark.queries import pipeline as pl

    calls: list = []

    def build():
        calls.append(1)
        return spark.range(1)

    a = pl._session_memo(spark, "t_memo_pin", "sfX", build)
    b = pl._session_memo(spark, "t_memo_pin", "sfX", build)
    assert a is b and len(calls) == 1

    forked = spark.newSession()
    try:
        def build_forked():
            calls.append(1)
            return forked.range(1)

        c = pl._session_memo(forked, "t_memo_pin", "sfX", build_forked)
        assert c is not a and len(calls) == 2
        # and the forked entry is itself memoized
        d = pl._session_memo(forked, "t_memo_pin", "sfX", build_forked)
        assert d is c and len(calls) == 2
    finally:
        pl._STAGE_MEMO.pop(forked, None)
    pl._STAGE_MEMO.get(spark, {}).pop(("t_memo_pin", "sfX"), None)


def test_sql_slots_name_dataframes_for_one_statement(spark):
    """Builders hand staged DataFrames to SQL through spark.sql's {name}
    slots: an identifier or literal that merely contains the slot name is
    left alone, and no temp view outlives the statement."""
    df = spark.range(3).toDF("x")
    before = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    out = spark.sql(
        "SELECT count(*) AS n, first('po_literal') AS s FROM {po} AS po_alias", po=df
    ).collect()[0]
    assert out.n == 3 and out.s == "po_literal"
    assert {t.name for t in spark.catalog.listTables() if t.isTemporary} == before
