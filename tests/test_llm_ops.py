"""Text analysis / dedup / similarity / multimodal tests."""

import contextlib

import pytest
from pyspark.sql import functions as F

from asakusafw_spark_spark.functions import (
    tokens,
    token_count,
    lang_id,
    quality_score,
    fingerprint,
    word_shingles,
    minhash_signature,
    dedup_exact,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash_dup_groups,
    cosine_similarity,
    brute_force_topk,
    cosine_near_dup,
    lsh_ann_topk,
)
from asakusafw_spark_spark.functions.multimodal import (
    MEDIA_SCHEMA,
    extract_features,
    fake_decoder,
    resize_images,
    sample_frames,
    fake_frame_sampler,
    FEATURE_DIM,
)


BROADCAST_CONF = "spark.sql.autoBroadcastJoinThreshold"


@contextlib.contextmanager
def _sql_conf(spark, key, value):
    """Set a session SQL conf for the block; restore it in ``finally``."""
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def _union_find_labels(edges):
    """Reference labeling: endpoint → minimum id of its component."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
        (3, "der hund und die katze ist nicht da"),
        (4, "completely different text about spark engines"),
        (5, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (6, ""),
        (7, None),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_token_count(docs):
    r = {x.doc_id: x.n for x in docs.select("doc_id", token_count("text").alias("n")).collect()}
    # NULL text tokenizes to [] (r13 contract): 0 tokens, same as empty
    assert r[1] == 9 and r[6] == 0 and r[7] == 0


def test_lang_id(docs):
    r = {x.doc_id: x.l for x in docs.select("doc_id", lang_id("text").alias("l")).collect()}
    assert r[1] == "en" and r[3] == "de" and r[6] == "unknown"


def test_quality_score_bounds(docs):
    rows = docs.filter("text is not null").select(quality_score("text").alias("q")).collect()
    assert all(0.0 <= x.q <= 1.0 for x in rows)


def test_fingerprint_normalizes(spark):
    df = spark.createDataFrame([("A  b\tC",), ("a b c",)], "t string")
    fps = [r.fp for r in df.select(fingerprint("t").alias("fp")).collect()]
    assert fps[0] == fps[1]


def test_word_shingles_short_doc(spark):
    df = spark.createDataFrame([("one two",), ("a b c d",)], "t string")
    out = df.select(word_shingles("t", 3).alias("sh")).collect()
    assert out[0].sh == ["one two"]  # < n tokens → whole text
    assert set(out[1].sh) == {"a b c", "b c d"}


def test_minhash_signature_properties(docs):
    sigs = (
        docs.filter("doc_id in (1,2,5)")
        .select("doc_id", minhash_signature(word_shingles("text", 3), k=8).alias("sig"))
        .collect()
    )
    by_id = {r.doc_id: r.sig for r in sigs}
    assert by_id[1] == by_id[5]  # identical text → identical signature
    assert len(by_id[1]) == 8
    shared = sum(a == b for a, b in zip(by_id[1], by_id[2]))
    assert shared >= 4  # near-dups share most minhashes


def test_dedup_exact(docs):
    out = dedup_exact(docs.filter("text is not null and text <> ''")).collect()
    groups = {r.fp: (r.keeper_id, r.dup_count) for r in out}
    assert (1, 2) in groups.values()  # docs 1+5 collapse, keeper=1
    assert len(out) == 4


def test_minhash_lsh_pairs_finds_near_dup(docs):
    pairs = minhash_lsh_pairs(
        docs.filter("text is not null and text <> ''"), threshold=0.4
    ).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 5) in got  # exact dup jaccard=1
    assert (1, 2) in got or (2, 5) in got  # near-dup
    jac = {(r.id_a, r.id_b): r.jaccard for r in pairs}
    assert jac[(1, 5)] == 1.0


def test_ngram_jaccard_exact(docs):
    pairs = ngram_jaccard_pairs(
        docs.filter("text is not null and text <> ''"), threshold=0.3
    ).collect()
    jac = {(r.id_a, r.id_b): r.jaccard for r in pairs}
    assert jac[(1, 5)] == 1.0
    # docs 1,2: 7 shingles each, 6 shared → 6/8 = 0.75
    assert abs(jac[(1, 2)] - 0.75) < 1e-9


def test_ngram_jaccard_hot_shingle_anti_prune(spark):
    """The r17 anti-join prune (drop shingles with df > cap) must keep
    exactly the old inner keep-join's rows: a shingle shared by MORE
    than max_doc_freq docs contributes to no intersection (its pairs
    vanish when it was the only overlap), while one at EXACTLY the cap
    still pairs (boundary: old kept df <= cap, new drops df > cap)."""
    docs = spark.createDataFrame(
        [
            # "xx yy" (< 3 tokens → whole text is the single shingle)
            # appears in 3 docs: df=3 > cap=2 → pruned, no pairs at all
            (1, "xx yy"),
            (2, "xx yy"),
            (3, "xx yy"),
            # "aa bb" in exactly cap=2 docs → kept, pair (4,5) jaccard 1
            (4, "aa bb"),
            (5, "aa bb"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            docs, threshold=0.3, max_doc_freq=2
        ).collect()
    }
    assert got == {(4, 5): 1.0}
    # without the cap the hot-shingle trio pairs too — proves the cap
    # (not the data) removed them
    uncapped = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(
            docs, threshold=0.3, max_doc_freq=None
        ).collect()
    }
    assert {(1, 2), (1, 3), (2, 3), (4, 5)} <= uncapped


def test_simhash_dup_groups(docs):
    groups = simhash_dup_groups(docs.filter("text is not null and text <> ''")).collect()
    assert any(r.keeper_id == 1 and r.dup_count == 2 for r in groups)


def test_simhash_is_long(docs):
    # 64-bit sketch: any long value (bit 63 → negative two's complement)
    out = docs.filter("doc_id = 1").select(simhash("text").alias("s")).first()
    assert isinstance(out.s, int) and -(2**63) <= out.s < 2**63
    out32 = docs.filter("doc_id = 1").select(simhash("text", 32).alias("s")).first()
    assert isinstance(out32.s, int) and 0 <= out32.s < 2**32


def test_simhash_halves_consistent(docs):
    # the low 32 bits of the 64-bit sketch ARE the 32-bit sketch
    row = docs.filter("doc_id = 1").select(
        simhash("text", 64).alias("s64"), simhash("text", 32).alias("s32")
    ).first()
    assert row.s64 & 0xFFFFFFFF == row.s32


@pytest.fixture(scope="module")
def vecs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_brute_force_topk(vecs):
    queries = vecs.filter(F.col("vec_id") < 3)
    out = brute_force_topk(vecs, queries, k=5).collect()
    per_q = {}
    for r in out:
        per_q.setdefault(r.query_id, []).append(r)
    assert set(per_q) == {0, 1, 2}
    for q, rows in per_q.items():
        assert len(rows) == 5
        sims = [r.sim for r in rows]
        assert sims == sorted(sims, reverse=True)
        assert all(r.neighbor_id != q for r in rows)


def test_cosine_self_similarity(vecs):
    one = vecs.limit(1)
    r = one.select(cosine_similarity(F.col("embedding"), F.col("embedding")).alias("s")).first()
    assert abs(r.s - 1.0) < 1e-6


def test_paired_cosine_bit_identical_to_inline(vecs):
    # the join-side norm hoist must reproduce cosine_similarity EXACTLY
    # (same fold over the same vector, same round(dot/(na*nb), 6)) —
    # compare every cross pair of a 30-vector slice under both forms
    from asakusafw_spark_spark.functions.similarity import _norm, _paired_cosine

    a = vecs.limit(30).select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        _norm(F.col("embedding")).alias("na"),
    )
    b = vecs.limit(30).select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        _norm(F.col("embedding")).alias("nb"),
    )
    both = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            _paired_cosine(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")).alias("hoisted"),
            cosine_similarity(F.col("va"), F.col("vb")).alias("inline"),
        )
        .collect()
    )
    assert len(both) == 30 * 29 // 2
    assert all(r.hoisted == r.inline for r in both)  # exact, not approx


def test_lsh_ann_subset_of_bruteforce_scores(vecs):
    queries = vecs.filter(F.col("vec_id") < 3)
    ann = lsh_ann_topk(vecs, queries, k=5, planes=2)
    bf = brute_force_topk(vecs, queries, k=1000)
    ann_rows = {(r.query_id, r.neighbor_id): r.sim for r in ann.collect()}
    bf_rows = {(r.query_id, r.neighbor_id): r.sim for r in bf.collect()}
    assert ann_rows  # non-empty with 2 planes (4 buckets over 500 vecs)
    for key, sim in ann_rows.items():
        assert bf_rows[key] == sim  # same scoring, just fewer candidates


def test_cosine_near_dup_exact_vs_lsh(spark):
    # construct known near-identical vectors
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),  # ~same direction as 1
        (3, [0.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = cosine_near_dup(df, threshold=0.99, exact=True).collect()
    assert {(r.id_a, r.id_b) for r in exact} == {(1, 2)}
    lsh = cosine_near_dup(df, threshold=0.99, planes=4).collect()
    assert {(r.id_a, r.id_b) for r in lsh} <= {(1, 2)}


def test_cosine_near_dup_bucket_cap(spark):
    """max_bucket contract (r16, sf10 probe finding): the sign-bucket
    self-join is quadratic per bucket with ≤2^planes-way parallelism,
    so an oversized bucket (hyperplanes carry no discriminative power)
    is DROPPED before the join, observably, instead of melting down."""
    # 60 near-identical vectors: one direction → one bucket of 60
    rows = [(i, [1.0, 0.001 * i, 0.0, 0.0]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    full = cosine_near_dup(df, threshold=0.9, planes=2, max_bucket=None)
    assert full.count() == 60 * 59 / 2
    capped = cosine_near_dup(df, threshold=0.9, planes=2, max_bucket=50)
    assert capped.count() == 0  # the mega-bucket is dropped, not joined
    import pytest

    with pytest.raises(ValueError):
        cosine_near_dup(df, max_bucket=1)


def test_multimodal_extract_features(spark):
    rows = [
        (1, "image", b"\x89PNGfake", "image/png", 4, 4, None),
        (2, "audio", b"RIFFfake", "audio/wav", None, None, 1200),
        (3, "image", None, "image/png", 2, 2, None),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = extract_features(df, decoder=fake_decoder)
    got = {r.media_id: r.features for r in out.collect()}
    assert len(got[1]) == FEATURE_DIM
    assert got[3] == [0.0] * FEATURE_DIM  # null payload path
    # deterministic: same payload → same features
    again = {r.media_id: r.features for r in extract_features(df, decoder=fake_decoder).collect()}
    assert got == again


def test_multimodal_stub_raises_without_codec(spark):
    df = spark.createDataFrame([], MEDIA_SCHEMA)
    with pytest.raises(NotImplementedError, match="codec"):
        extract_features(df)


def test_png_codec_roundtrip_and_filter_coverage():
    """The vendored pure-stdlib PNG codec: encode→decode is lossless,
    and the decoder unfilters Sub/Up/Average/Paeth streams (hand-built
    with known filter bytes), so it reads any conformant encoder's
    output, not just its own filter-0 stream."""
    import struct
    import zlib

    from asakusafw_spark_spark.functions.png_codec import (
        decode_png,
        encode_png,
        resize_nearest,
    )

    rows = [[(x * 16 % 256, y * 32 % 256, (x + y) % 256) for x in range(8)]
            for y in range(6)]
    w, h, back = decode_png(encode_png(rows))
    assert (w, h) == (8, 6) and back == rows

    # hand-build a 2x3 stream exercising every non-zero filter type
    px = [[(10, 20, 30), (40, 50, 60), (70, 80, 90)],
          [(15, 25, 35), (45, 55, 65), (75, 85, 95)]]
    def filt(ftype, line, prev):
        out = bytearray([ftype])
        for i in range(len(line)):
            a = line[i - 3] if i >= 3 else 0
            b = prev[i]
            c = prev[i - 3] if i >= 3 else 0
            if ftype == 1: pred = a
            elif ftype == 2: pred = b
            elif ftype == 3: pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            out.append((line[i] - pred) & 0xFF)
        return bytes(out)

    lines = [bytes(v for p in row for v in p) for row in px]
    for ftype in (1, 2, 3, 4):
        raw = filt(ftype, lines[0], bytes(9)) + filt(ftype, lines[1], lines[0])
        sig = b"\x89PNG\r\n\x1a\n"
        def chunk(tag, data):
            return (struct.pack(">I", len(data)) + tag + data
                    + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))
        png = (sig + chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 2, 8, 2, 0, 0, 0))
               + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
        assert decode_png(png) == (3, 2, px), f"filter {ftype}"

    assert resize_nearest(rows, 4, 3) == [
        [rows[(y * 6) // 3][(x * 8) // 4] for x in range(4)] for y in range(3)
    ]


def test_multimodal_real_codec_roundtrip(spark):
    """The same injection points carrying GENUINE decode work over real
    PNG bytes — Pillow when installed, else the vendored pure-stdlib
    codec (VERDICT r04 Next #7: no more environment-gated skip):
    resize_images re-encodes actual PNG streams and extract_features
    embeds from real pixel data, proving the mapInPandas plumbing
    beyond the deterministic fake."""
    import importlib.util

    if importlib.util.find_spec("PIL") is not None:
        import io

        from PIL import Image

        def png_bytes(w, h, color):
            buf = io.BytesIO()
            Image.new("RGB", (w, h), color).save(buf, format="PNG")
            return buf.getvalue()

        def size_of(payload):
            return Image.open(io.BytesIO(bytes(payload))).size

        def resizer(payload, w, h):
            img = Image.open(io.BytesIO(payload)).resize((w, h))
            buf = io.BytesIO()
            img.save(buf, format="PNG")
            return buf.getvalue()

        def decoder(payload, kind):
            img = Image.open(io.BytesIO(payload)).convert("L").resize((4, 4))
            return [p / 255.0 for p in img.getdata()]
    else:
        from asakusafw_spark_spark.functions.png_codec import (
            decode_png,
            encode_png,
            png_feature_decoder,
            png_resizer,
        )

        def png_bytes(w, h, color):
            return encode_png([[color] * w for _ in range(h)])

        def size_of(payload):
            w, h, _ = decode_png(bytes(payload))
            return (w, h)

        resizer, decoder = png_resizer, png_feature_decoder

    rows = [
        (1, "image", png_bytes(8, 6, (255, 0, 0)), "image/png", 8, 6, None),
        (2, "image", png_bytes(16, 16, (0, 255, 0)), "image/png", 16, 16, None),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)

    out = {r.media_id: r for r in resize_images(df, 4, 4, resizer=resizer).collect()}
    for mid in (1, 2):
        assert size_of(out[mid].payload) == (4, 4)
        assert (out[mid].width, out[mid].height) == (4, 4)

    feats = {r.media_id: r.features for r in extract_features(df, decoder=decoder).collect()}
    assert len(feats[1]) == 16
    assert feats[1] != feats[2]  # different images → different features


def test_multimodal_frame_sampling_multiplies_rows(spark):
    rows = [(1, "video", b"vid1", "video/mp4", None, None, 5000)]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = sample_frames(df, every_ms=1000, sampler=fake_frame_sampler).collect()
    assert len(out) == 3
    assert [r.frame_ts_ms for r in out] == [0, 1000, 2000]


def test_ivf_topk_scores_match_bruteforce(vecs):
    from asakusafw_spark_spark.functions import ivf_topk

    queries = vecs.filter(F.col("vec_id") < 3)
    ivf = ivf_topk(vecs, queries, k=5, n_centroids=4, nprobe=2)
    bf = brute_force_topk(vecs, queries, k=1000)
    ivf_rows = {(r.query_id, r.neighbor_id): r.sim for r in ivf.collect()}
    bf_rows = {(r.query_id, r.neighbor_id): r.sim for r in bf.collect()}
    assert ivf_rows  # probed lists are non-empty
    for key, sim in ivf_rows.items():
        assert bf_rows[key] == sim  # same scoring, candidates from probed lists
    per_q = {}
    for (q, _n), _ in ivf_rows.items():
        per_q[q] = per_q.get(q, 0) + 1
    assert all(n <= 5 for n in per_q.values())


def test_simhash_pairs_hamming_bound(spark):
    from pyspark.sql import Row

    from asakusafw_spark_spark.functions import simhash_pairs

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
            Row(doc_id=2, text="the quick brown fox jumps over the lazy dog"),  # identical → hamming 0
            Row(doc_id=3, text="the quick brown fox leaps over the lazy dog"),  # near
            Row(doc_id=4, text="completely unrelated text about spark engines"),
        ]
    )
    out = {(r.id_a, r.id_b): r.hamming for r in simhash_pairs(docs, max_hamming=3).collect()}
    assert out[(1, 2)] == 0
    for (a, b), h in out.items():
        assert h <= 3 and a < b


def test_dup_clusters_transitive_chain(spark):
    from pyspark.sql import Row

    from asakusafw_spark_spark.functions import dup_clusters

    # chain 1-2, 2-3 (transitive cluster of 3), pair 10-11, singleton 99
    pairs = spark.createDataFrame(
        [Row(id_a=1, id_b=2), Row(id_a=2, id_b=3), Row(id_a=10, id_b=11)]
    )
    nodes = spark.createDataFrame([Row(id=i) for i in [1, 2, 3, 10, 11, 99]])
    out = {
        r.id: (r.cluster_id, r.is_keeper, r.cluster_size)
        for r in dup_clusters(pairs, nodes=nodes).collect()
    }
    assert out[1] == (1, True, 3)
    assert out[2] == (1, False, 3)
    assert out[3] == (1, False, 3)
    assert out[10] == (10, True, 2)
    assert out[11] == (10, False, 2)
    assert out[99] == (99, True, 1)


def test_dup_clusters_without_nodes_and_round_bound(spark):
    import pytest
    from pyspark.sql import Row

    from asakusafw_spark_spark.functions import dup_clusters

    # chain 0-1-2-...-6: diameter 6, but large-star/small-star needs only
    # O(log n) rounds — well under the default bound.  Broadcast off keeps
    # the TINY edge set in the distributed loop (no driver finish).
    chain = spark.createDataFrame([Row(id_a=i, id_b=i + 1) for i in range(6)])
    with _sql_conf(spark, BROADCAST_CONF, "-1"):
        stats = {}
        out = dup_clusters(chain, stats=stats).collect()
        assert {r.cluster_id for r in out} == {0}
        assert len(out) == 7 and sum(r.is_keeper for r in out) == 1
        assert stats["rounds"] <= 6

        with pytest.raises(RuntimeError, match="still changing"):
            dup_clusters(chain, max_rounds=1)


def test_dup_clusters_path_graph_logarithmic_rounds(spark):
    """Large-star/small-star converges in O(log n) rounds regardless of
    component DIAMETER: a 10k-link path (the adversarial case that kills
    min-label propagation — VERDICT r02 Missing #2) must finish in
    ≤ 2·log2(n) rounds.  Broadcast off keeps the (TINY) path in the
    distributed loop."""
    import math

    from asakusafw_spark_spark.functions import dup_clusters

    n = 10_000
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    with _sql_conf(spark, BROADCAST_CONF, "-1"):
        stats = {}
        out = dup_clusters(pairs, stats=stats)
        rows = out.collect()
    assert len(rows) == n
    assert all(r.cluster_id == 0 and r.cluster_size == n for r in rows)
    assert sum(r.is_keeper for r in rows) == 1
    assert stats["rounds"] <= 2 * math.log2(n), stats


def test_repetition_signals_flags_looping_text(spark):
    from pyspark.sql import Row

    from asakusafw_spark_spark.functions import repetition_signals

    docs = spark.createDataFrame(
        [
            # "buy now " x 12 — one 2-gram dominates
            Row(doc_id=1, text=("buy now " * 12).strip()),
            Row(doc_id=2, text="the quick brown fox jumps over a lazy dog today"),
            Row(doc_id=3, text="single"),
            Row(doc_id=4, text=""),
        ]
    )
    out = {r.doc_id: r for r in repetition_signals(docs).collect()}
    assert out[1].repetitive and out[1].top_2gram_share > 0.4
    assert out[1].dup_3gram_ratio > 0.5
    assert not out[2].repetitive and out[2].dup_2gram_ratio == 0.0
    # < n tokens or empty text → zero signals, never null/crash
    for d in (3, 4):
        assert out[d].top_2gram_share == 0.0 and not out[d].repetitive


@pytest.mark.parametrize(
    "broadcast", ["20m", "-1"], ids=["driver_finish", "distributed"]
)
def test_dup_clusters_matches_union_find_property(spark, broadcast):
    """Property: for arbitrary edge lists, dup_clusters' labeling equals a
    driver-side union-find (min id per component) over the same edges —
    both when the TINY edge set finishes on the driver and when broadcast
    is off and the large-star/small-star loop runs to its fixpoint."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from asakusafw_spark_spark.functions import dup_clusters

    edge_lists = st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=40,
    )

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(edge_lists)
    def check(raw):
        edges = [(min(a, b), max(a, b)) for a, b in raw]
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        stats = {}
        got = {
            r.id: r.cluster_id
            for r in dup_clusters(pairs, max_rounds=40, stats=stats).collect()
        }
        assert got == _union_find_labels(edges)
        assert stats["driver_finish"] == (broadcast != "-1")

    with _sql_conf(spark, BROADCAST_CONF, broadcast):
        check()


def test_min_id_components_matches_union_find():
    """The driver finish's numpy kernel against a union-find reference:
    random multigraphs, plus a 5k-link path with shuffled ids (many
    hooking passes) and ids near the int64 limits."""
    import random

    import numpy as np

    from asakusafw_spark_spark.functions.dedup import _min_id_components

    rng = random.Random(7)
    cases = []
    for _ in range(50):
        n = rng.randint(2, 80)
        cases.append([(rng.randrange(n), rng.randrange(n)) for _ in range(rng.randint(1, 120))])
    ids = list(range(5000))
    rng.shuffle(ids)
    cases.append(list(zip(ids, ids[1:])))
    big = 2**63 - 1
    cases.append([(big, -big), (-big, 3), (big - 1, big - 2)])
    for edges in cases:
        src = np.array([a for a, _ in edges], dtype="int64")
        dst = np.array([b for _, b in edges], dtype="int64")
        got_ids, labels = _min_id_components(src, dst)
        assert dict(zip(got_ids.tolist(), labels.tolist())) == _union_find_labels(edges)


def test_dup_clusters_hands_off_to_driver_mid_loop(spark):
    """K60 (1770 edges, ~28 KB) is over a 2 KiB TINY bound, so one
    distributed round runs; it leaves the 59-edge star on the minimum,
    which is under the bound and finishes on the driver."""
    from itertools import combinations

    from asakusafw_spark_spark.functions import dup_clusters

    edges = list(combinations(range(100, 160), 2))
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    with _sql_conf(spark, BROADCAST_CONF, "2k"):
        stats = {}
        rows = dup_clusters(pairs, stats=stats).collect()
    assert stats == {"rounds": 1, "driver_finish": True}
    assert {r.id: r.cluster_id for r in rows} == _union_find_labels(edges)
    assert all(r.cluster_size == 60 for r in rows)
    assert [r.id for r in rows if r.is_keeper] == [100]


def test_estimated_scan_splits_reads_unit_suffixed_max_partition_bytes(spark, tmp_path):
    """``maxPartitionBytes`` with a unit suffix ("64m") is read as bytes:
    one small parquet file is one split, not thousands."""
    from asakusafw_spark_spark.functions.dedup import _estimated_scan_splits

    path = str(tmp_path / "small.parquet")
    spark.range(1000).coalesce(1).write.parquet(path)
    with _sql_conf(spark, "spark.sql.files.maxPartitionBytes", "64m"):
        assert _estimated_scan_splits(spark.read.parquet(path)) == 1


def test_dedup_corpus_keeps_one_per_cluster(spark):
    from asakusafw_spark_spark.functions import dedup_corpus

    # 3 near-identical docs (same text → trivially same shingles) + 2 unique
    rows = [
        (10, "the quick brown fox jumps over the lazy dog again and again", "en"),
        (11, "the quick brown fox jumps over the lazy dog again and again", "en"),
        (12, "the quick brown fox jumps over the lazy dog again and again", "en"),
        (20, "completely different text about database engines and joins", "en"),
        (30, "dritte ganz andere zeile ueber verteilte systeme im test", "de"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r.doc_id: r.cluster_size for r in dedup_corpus(docs, threshold=0.5).collect()}
    assert out == {10: 3, 20: 1, 30: 1}  # min-id keeper absorbed both twins


def test_quality_quantile_filter_exact_and_approx(spark):
    from asakusafw_spark_spark.functions import quality_quantile_filter

    rows = [
        (i, "word " * 3 if i < 2 else "many distinct tokens compose proper sentences here ok", "en")
        for i in range(10)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    exact = quality_quantile_filter(docs, drop_frac=0.2, by=("lang",))
    kept = {r.doc_id for r in exact.collect()}
    assert kept == set(range(2, 10))  # the two low-quality repetitive docs cut
    assert "quality" in exact.columns
    approx = quality_quantile_filter(docs, drop_frac=0.2, by=("lang",), approx=True)
    # approx keeps at least the exact survivors' quality band
    akept = {r.doc_id for r in approx.collect()}
    assert akept >= kept - {2}  # sketch boundary may include/exclude the cusp


def test_quality_quantile_filter_keeps_all_tied_group(spark):
    from asakusafw_spark_spark.functions import quality_quantile_filter

    # every score in the group ties (identical text), plus a singleton
    # group — cume_dist = 1.0 for all, so NOTHING is dropped (percent_rank
    # would have been 0.0 everywhere and dropped both groups entirely)
    rows = [(i, "same boilerplate text everywhere ok", "en") for i in range(5)]
    rows.append((99, "lone document in its own language group", "de"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    kept = {r.doc_id for r in quality_quantile_filter(docs, drop_frac=0.2, by=("lang",)).collect()}
    assert kept == set(range(5)) | {99}


def test_chunk_documents_sliding_windows(spark):
    from asakusafw_spark_spark.functions import chunk_documents

    df = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "x y"), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    out = sorted(
        map(tuple, chunk_documents(df, chunk_tokens=5, overlap=2).collect())
    )
    assert out == [
        (1, 0, "a b c d e", 5),
        (1, 1, "d e f g", 4),  # stride 3, short tail kept
        (2, 0, "x y", 2),      # doc shorter than chunk → one chunk
    ]
    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, chunk_tokens=4, overlap=4)


def test_chunk_documents_reconstruction_property(spark):
    """Property: dropping each chunk's leading `overlap` tokens (except
    chunk 0) and concatenating reconstructs the original token stream."""
    from hypothesis import given, settings, strategies as st

    from asakusafw_spark_spark.functions import chunk_documents

    @settings(max_examples=10, deadline=None)
    @given(
        n_tokens=st.integers(min_value=0, max_value=120),
        chunk=st.integers(min_value=2, max_value=30),
        overlap=st.integers(min_value=0, max_value=10),
    )
    def check(n_tokens, chunk, overlap):
        if overlap >= chunk:
            return
        toks = [f"t{i}" for i in range(n_tokens)]
        df = spark.createDataFrame([(1, " ".join(toks))], "doc_id long, text string")
        rows = sorted(
            chunk_documents(df, chunk_tokens=chunk, overlap=overlap).collect(),
            key=lambda r: r.chunk_id,
        )
        if n_tokens == 0:
            assert rows == []
            return
        rebuilt: list[str] = []
        for r in rows:
            ct = r.chunk_text.split(" ")
            rebuilt.extend(ct if not rebuilt else ct[overlap:])
            assert r.n_tokens == len(ct) <= chunk
        assert rebuilt == toks

    check()


def test_dedup_corpus_custom_pair_generator(spark):
    """pairs= injection: dedup_corpus applies decisions from ANY pair
    frame (here simhash instead of the default MinHash-LSH)."""
    from asakusafw_spark_spark.functions import dedup_corpus
    from asakusafw_spark_spark.functions.dedup import simhash_pairs

    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta theta"),  # dup of 1
        (3, "totally unrelated content with other words here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup_corpus(docs, pairs=simhash_pairs(docs, max_hamming=3))
    kept = {r.doc_id: r.cluster_size for r in out.collect()}
    assert kept == {1: 2, 3: 1}


def test_redact_default_rules(spark):
    from asakusafw_spark_spark.functions import redact

    df = spark.createDataFrame(
        [
            (1, "mail a.b-c_d@sub.example.org now"),
            (2, "call +4915123456789 tomorrow"),
            (3, "host 192.168.001.42 is up, 999.999.999.999 too"),
            (4, "clean text stays untouched"),
            (5, "multi x@y.io and z@w.ai plus +1234567 end"),
        ],
        "id long, text string",
    )
    got = {r.id: r.clean for r in df.select("id", redact("text").alias("clean")).collect()}
    assert got[1] == "mail <EMAIL> now"
    assert got[2] == "call <PHONE> tomorrow"
    # the simple ipv4 shape redacts dotted quads without range validation
    assert got[3] == "host <IP> is up, <IP> too"
    assert got[4] == "clean text stays untouched"
    assert got[5] == "multi <EMAIL> and <EMAIL> plus <PHONE> end"

    # custom rules: applied in sorted-name order
    custom = {"b_second": (r"AA", "B"), "a_first": (r"A+", "AA")}
    one = spark.createDataFrame([("AAAA",)], "t string")
    assert one.select(redact("t", custom).alias("c")).collect()[0].c == "B"


def test_vocab_top_k_counts_and_rank(spark):
    from asakusafw_spark_spark.functions import vocab_top_k

    df = spark.createDataFrame(
        [(1, "a a b c"), (2, "a b  b"), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    rows = vocab_top_k(df, k=2, id_col="doc_id").collect()
    assert [(r.token, r.tf, r.df, r.rank) for r in rows] == [
        ("a", 3, 2, 1),
        ("b", 3, 2, 2),  # tf tie with 'a' → token-ascending tiebreak
    ]


def test_tfidf_matches_manual_formula(spark):
    import math

    from asakusafw_spark_spark.functions import tfidf

    df = spark.createDataFrame(
        [(1, "x x y"), (2, "x z"), (3, "y z z")],
        "doc_id long, text string",
    )
    rows = {(r.doc_id, r.token): r for r in tfidf(df, min_df=1).collect()}
    n = 3
    # x: df=2; doc 1 has tf=2
    want = round(2 * (math.log((n + 1) / (2 + 1)) + 1), 6)
    r = rows[(1, "x")]
    assert (r.tf, r.doc_freq) == (2, 2) and abs(r.tfidf - want) < 1e-9
    # min_df prunes: with min_df=3 nothing survives (max df is 2)
    assert tfidf(df, min_df=3).count() == 0


def test_dedup_corpus_keep_by_quality(spark):
    from asakusafw_spark_spark.functions import dedup_corpus

    # docs 1,2,5 are near/exact dups; 2 is the longest variant
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog indeed"),
        (4, "completely different text about spark engines"),
        (5, "the quick brown fox jumps over the lazy dog"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "n_chars", F.length("text")
    )
    default = {r.doc_id for r in dedup_corpus(df, threshold=0.5).collect()}
    assert default == {1, 4}  # min-id keeper
    best = {r.doc_id: r.cluster_size for r in
            dedup_corpus(df, threshold=0.5, keep_by="n_chars").collect()}
    assert set(best) == {2, 4}  # longest variant wins the dup cluster
    assert best[2] == 3

    # all-null scores fall back to min id (null-safe argmax)
    nul = df.withColumn("n_chars", F.lit(None).cast("long"))
    fallback = {r.doc_id for r in
                dedup_corpus(nul, threshold=0.5, keep_by="n_chars").collect()}
    assert fallback == {1, 4}

    # keeper contract over NULL n_chars (combined-gate pin, r16):
    # (a) MIXED cluster — MAX ignores NULLs, so a NULL-scored member
    #     never wins even when it holds the minimum id;
    # (b) min-id tiebreak runs ONLY among the max-scored members.
    mixed = df.withColumn(
        "n_chars",
        F.when(F.col("doc_id") == 1, F.lit(None).cast("int")).otherwise(
            F.length("text")
        ),
    )
    got = {r.doc_id: r.cluster_size for r in
           dedup_corpus(mixed, threshold=0.5, keep_by="n_chars").collect()}
    assert set(got) == {2, 4} and got[2] == 3

    # (c) NULL-text docs shingle to [] (tokens(NULL) = [] contract) →
    #     never pair with anything → singleton keepers with size 1,
    #     even though their n_chars score is NULL (the oracle-twin bug
    #     the combined corpus exposed dropped exactly these).
    with_null_text = (
        df.select("doc_id", "text")
        .unionByName(
            spark.createDataFrame(
                [(9, None), (10, None)], "doc_id long, text string"
            )
        )
        .withColumn("n_chars", F.length("text"))
    )
    kept = {r.doc_id: r.cluster_size for r in
            dedup_corpus(with_null_text, threshold=0.5,
                         keep_by="n_chars").collect()}
    assert kept[9] == 1 and kept[10] == 1 and kept[2] == 3 and kept[4] == 1


def test_scrub_duplicate_spans_removes_shared_span(spark):
    from asakusafw_spark_spark.functions import scrub_duplicate_spans

    boiler = "all rights reserved click here to subscribe now today"  # 9 toks
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta gamma {boiler} delta"),
            (2, f"one two {boiler} three four"),
            (3, "totally unique text with no repeats at all whatsoever"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in scrub_duplicate_spans(docs, n=9, min_count=2).collect()
    }
    assert len(out) == 4
    # the shared 9-token boilerplate vanishes from both docs, the
    # surrounding unique tokens survive in order
    assert out[1]["clean"] == "alpha beta gamma delta"
    assert out[2]["clean"] == "one two three four"
    assert out[1]["n_removed"] == 9 and out[2]["n_removed"] == 9
    # untouched + empty docs pass through whole
    assert out[3]["n_removed"] == 0 and out[3]["clean"].startswith("totally")
    assert out[4]["clean"] == "" and out[4]["n_tokens"] == 0


def test_scrub_duplicate_spans_overlapping_cover(spark):
    from asakusafw_spark_spark.functions import scrub_duplicate_spans

    # the duplicated region is LONGER than n: overlapping spans must
    # merge into one contiguous cover, not leave mod-n residue tokens
    rep = "a b c d e f"  # 6 tokens, scrub with n=3
    docs = spark.createDataFrame(
        [(1, f"x {rep} y"), (2, f"p q {rep} r")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in scrub_duplicate_spans(docs, n=3).collect()}
    assert out[1]["clean"] == "x y"
    assert out[2]["clean"] == "p q r"
    assert out[1]["n_removed"] == 6


def test_scrub_within_doc_repeat_counts(spark):
    from asakusafw_spark_spark.functions import scrub_duplicate_spans

    # min_count counts occurrences ANYWHERE, including the same doc
    docs = spark.createDataFrame(
        [(1, "u v w SPAM SPAM SPAM one two SPAM SPAM SPAM three")],
        "doc_id long, text string",
    )
    out = scrub_duplicate_spans(docs, n=3, min_count=2).collect()[0]
    assert "SPAM" not in out["clean"]
    assert out["clean"] == "u v w one two three"


def test_quantize_embeddings_roundtrip_error_bounded(spark):
    import math

    from asakusafw_spark_spark.functions import quantize_embeddings

    rows = [
        (1, [0.5, -1.0, 0.25, 0.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),  # zero vector → zero codes, inv_scale 0
        (3, [127.0, -127.0, 1.0, -1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
    for vid, vec in rows:
        codes, inv = out[vid]["codes"], out[vid]["inv_scale"]
        assert len(codes) == len(vec)
        assert all(-127 <= c <= 127 for c in codes)
        # dequantized value within one quantization step of the original
        step = inv if inv > 0 else 0.0
        for c, x in zip(codes, vec):
            assert math.isclose(c * inv, x, abs_tol=step + 1e-12)
    assert out[2]["inv_scale"] == 0.0 and all(c == 0 for c in out[2]["codes"])


def test_quantized_topk_agrees_with_float_topk(spark, sf_dir):
    # ranking quality: int8-quantized top-5 must substantially overlap
    # exact float top-5 on the real embedding table
    from asakusafw_spark_spark.functions import brute_force_topk, quantized_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = brute_force_topk(emb, queries, k=5).collect()
    quant = quantized_topk(emb, queries, k=5).collect()
    ex = {}
    qt = {}
    for r in exact:
        ex.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in quant:
        qt.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert set(ex) == set(qt)
    recall = sum(len(ex[q] & qt[q]) for q in ex) / sum(len(ex[q]) for q in ex)
    assert recall >= 0.8, f"quantized top-5 recall too low: {recall}"


def test_dedup_against_corpus_drops_known_dups(spark):
    from asakusafw_spark_spark.functions import (
        build_dedup_index,
        dedup_against_corpus,
    )

    history = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog near the river bank"),
            (2, "spark engines shuffle partitioned data across executors with hash keys"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            # exact copy of doc 0 → drop
            (1, "the quick brown fox jumps over the lazy dog near the river bank"),
            # near copy of doc 2 (last word changed → high jaccard AND a
            # deterministic band collision under the fixed seed) → drop
            (3, "spark engines shuffle partitioned data across executors with hash buckets"),
            # unrelated → keep
            (5, "completely different content about cooking pasta with garlic butter"),
        ],
        "doc_id long, text string",
    )
    kept = dedup_against_corpus(batch, corpus=history, threshold=0.5)
    assert sorted(r["doc_id"] for r in kept.collect()) == [5]

    # a persisted/prebuilt index gives the identical decision
    idx = build_dedup_index(history)
    kept2 = dedup_against_corpus(batch, index=idx, threshold=0.5)
    assert sorted(r["doc_id"] for r in kept2.collect()) == [5]

    # batch-internal duplicates are NOT this op's business: two copies
    # in the batch both survive when neither matches history
    twin_batch = spark.createDataFrame(
        [(7, "novel text one two three four five six"),
         (9, "novel text one two three four five six")],
        "doc_id long, text string",
    )
    kept3 = dedup_against_corpus(twin_batch, corpus=history, threshold=0.5)
    assert kept3.count() == 2

    with pytest.raises(ValueError):
        dedup_against_corpus(batch)
    with pytest.raises(ValueError):
        dedup_against_corpus(batch, corpus=history, index=idx)

    # precomputed bucket counts (the static-index fast path) give the
    # IDENTICAL decision to the per-batch aggregation they replace
    from asakusafw_spark_spark.functions import band_bucket_counts

    counts = band_bucket_counts(idx)
    kept4 = dedup_against_corpus(
        batch, index=idx, threshold=0.5, bucket_counts=counts
    )
    assert sorted(r["doc_id"] for r in kept4.collect()) == [5]
    # and with a cap tight enough to drop every history bucket, nothing
    # can match → the whole batch survives (counts path honors the cap)
    kept5 = dedup_against_corpus(
        batch, index=idx, threshold=0.5, bucket_counts=counts, max_bucket=2
    )
    # every history bucket here has n=1 (<=2), so decisions unchanged
    assert sorted(r["doc_id"] for r in kept5.collect()) == [5]


def test_scrub_spans_noop_and_idempotence_properties(spark):
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from asakusafw_spark_spark.functions import scrub_duplicate_spans

    word = st.sampled_from(["aa", "bb", "cc", "dd", "ee"])
    doc = st.lists(word, min_size=0, max_size=12).map(" ".join)

    @settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
    @given(st.lists(doc, min_size=1, max_size=5))
    def prop(texts):
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        # min_count beyond any possible span count → pure normalization
        # pass: clean == single-spaced token join, nothing removed
        out = scrub_duplicate_spans(df, n=3, min_count=10**9).collect()
        for r in sorted(out, key=lambda r: r["doc_id"]):
            toks = texts[r["doc_id"]].split()
            assert r["clean"] == " ".join(toks)
            assert r["n_removed"] == 0 and r["n_tokens"] == len(toks)
        # idempotence at a real threshold: scrubbing a scrubbed corpus
        # removes nothing new ONLY if no fresh n-gram duplicates were
        # created; verify the weaker always-true invariant instead —
        # clean token count == n_tokens - n_removed
        out2 = scrub_duplicate_spans(df, n=3, min_count=2).collect()
        for r in out2:
            n_clean = len(r["clean"].split()) if r["clean"] else 0
            assert n_clean == r["n_tokens"] - r["n_removed"]

    prop()


def test_normalize_text_rules(spark):
    from asakusafw_spark_spark.functions import normalize_text

    rows = [
        (1, "“Smart” ‘quotes’ — and – dashes"),
        (2, "UPPER  Case\t\twith NBSP and\x07bel\x1fus"),
        (3, "ellipsis…here"),
        (4, "  already clean  "),
        (5, ""),
        (6, None),
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    out = {r["id"]: r["c"] for r in df.select("id", normalize_text("t").alias("c")).collect()}
    assert out[1] == "\"smart\" 'quotes' - and - dashes"  # both dash widths → '-'
    assert out[2] == "upper case with nbsp andbelus"
    assert out[3] == "ellipsis...here"
    assert out[4] == "already clean"
    assert out[5] == "" and out[6] is None
    # idempotent: normalizing normalized text is a no-op
    again = {r["id"]: r["c2"] for r in df.select(
        "id", normalize_text(normalize_text("t")).alias("c2")).collect()}
    assert again == out


def test_dedup_index_roundtrips_through_storage(spark, sf_dir, tmp_path):
    """The documented 100 TB flow: build the signature index ONCE,
    persist it, read it back in a later 'batch job', and get decisions
    identical to an inline index — proves the stored (id, shingles,
    sig) columns are self-sufficient."""
    from asakusafw_spark_spark.functions import (
        build_dedup_index,
        dedup_against_corpus,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    history = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)

    idx_path = str(tmp_path / "dedup_index")
    build_dedup_index(history).write.parquet(idx_path)
    stored = spark.read.parquet(idx_path)

    kept_stored = sorted(
        r["doc_id"]
        for r in dedup_against_corpus(batch, index=stored, threshold=0.5).collect()
    )
    kept_inline = sorted(
        r["doc_id"]
        for r in dedup_against_corpus(
            batch, index=build_dedup_index(history), threshold=0.5
        ).collect()
    )
    assert kept_stored == kept_inline
    assert 0 < len(kept_stored) <= batch.count()


def test_bm25_rank_semantics(spark):
    import math

    from asakusafw_spark_spark.functions import bm25_rank

    docs = spark.createDataFrame(
        [
            (1, "spark spark spark engine"),          # high tf for 'spark'
            (2, "spark engine with a table inside"),  # one of each
            (3, "nothing relevant here at all"),      # no match → omitted
            (4, "table table"),                       # short doc, high tf
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["score"] for r in bm25_rank(docs, ["spark", "table"]).collect()}
    assert set(out) == {1, 2, 4}
    assert all(s > 0 for s in out.values())
    # manual check for doc 4: tf=2, dl=2, N=4, df(table)=2, avgdl=17/4
    idf = math.log(1 + (4 - 2 + 0.5) / (2 + 0.5))
    denom = 2 + 1.2 * (0.25 + 0.75 * 2 / (17 / 4))
    assert abs(out[4] - round(idf * 2 * 2.2 / denom, 6)) < 1e-6
    # two-term doc beats the single-term tf-stuffed doc only if idf says
    # so; just pin ranking determinism: top_n returns ordered results
    ranked = bm25_rank(docs, ["spark", "table"], top_n=2).collect()
    assert len(ranked) == 2
    assert ranked[0]["score"] >= ranked[1]["score"]


def test_text_index_search_equals_scan_path_and_prunes(spark, sf_dir, tmp_path):
    """Index-path BM25 == scan-path BM25 on the same corpus, including
    through a persisted token-bucketed index (the interactive-QPS
    layout); the search plan reads postings only, never the corpus."""
    from asakusafw_spark_spark.functions import (
        bm25_rank,
        build_text_index,
        search_text_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    terms = ["table", "spark", "query"]

    postings, stats = build_text_index(docs)
    via_index = {
        r["doc_id"]: r["score"]
        for r in search_text_index(postings, stats, terms).collect()
    }
    via_scan = {r["doc_id"]: r["score"] for r in bm25_rank(docs, terms).collect()}
    assert via_index == via_scan and via_index

    # persisted roundtrip: write postings+stats, search from storage only
    p_path, s_path = str(tmp_path / "postings"), str(tmp_path / "stats")
    postings.write.parquet(p_path)
    stats.write.parquet(s_path)
    stored = {
        r["doc_id"]: r["score"]
        for r in search_text_index(
            spark.read.parquet(p_path), spark.read.parquet(s_path), terms
        ).collect()
    }
    assert stored == via_scan


def test_ivf_quantized_composition(spark, sf_dir):
    """quantized=True must keep the same probed-list candidates (routing
    uses float vectors) and agree closely with float IVF ranking."""
    from asakusafw_spark_spark.functions import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20)
    flt = ivf_topk(emb, queries, k=5, nprobe=4)
    qnt = ivf_topk(emb, queries, k=5, nprobe=4, quantized=True)
    f, q = {}, {}
    for r in flt.collect():
        f.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in qnt.collect():
        q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert set(f) == set(q)
    overlap = sum(len(f[x] & q[x]) for x in f) / sum(len(f[x]) for x in f)
    assert overlap >= 0.8, f"quantized IVF diverged too far: {overlap}"


def test_bigram_lm_score_ranks_gibberish_below_natural(spark):
    """A repeated natural sentence scores higher than a one-off token
    soup under the self-trained bigram LM; short docs get NULL score
    with n_bigrams=0; train_df lets held-out docs score under a fixed
    model (unseen bigrams get the smoothed floor, not an error)."""
    from asakusafw_spark_spark.functions import bigram_lm_score

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the cat sat on the mat"),
            (3, "the cat sat on the mat"),
            (4, "zq xv qq vv zz kj pq wx"),   # gibberish, bigrams unique
            (5, "one"),                        # < 2 tokens
            (6, None),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in bigram_lm_score(docs).collect()}
    assert out[5]["n_bigrams"] == 0 and out[5]["lm_score"] is None
    assert out[6]["n_bigrams"] == 0
    assert out[1]["n_bigrams"] == 5
    assert out[1]["lm_score"] > out[4]["lm_score"]

    # held-out scoring: model trained ONLY on the natural docs
    train = docs.filter(F.col("doc_id") <= 3)
    held = bigram_lm_score(docs.filter(F.col("doc_id") == 4), train_df=train)
    row = held.collect()[0]
    assert row["n_bigrams"] == 7 and row["lm_score"] < out[1]["lm_score"]


def test_bigram_lm_score_self_trained_matches_explicit_train(spark):
    """The r17 self-trained fast path (per-bigram log-prob precomputed
    model-side, ONE doc-stream join) must be row-identical to the
    explicit-train two-join path when the explicit train set IS the
    corpus — the exact equivalence the specialization relies on
    (self-trained ⇒ every real doc bigram matches the model ⇒ the
    smoothing coalesce branches are unreachable)."""
    from asakusafw_spark_spark.functions import bigram_lm_score

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the cat sat on the mat"),
            (3, "the dog sat on the rug"),
            (4, "zq xv qq vv zz kj pq wx"),
            (5, "one"),
            (6, None),
            (None, "the cat sat"),  # null id: groups into one scored row
        ],
        "doc_id long, text string",
    )
    fast = {
        r["doc_id"]: (r["n_bigrams"], r["lm_score"])
        for r in bigram_lm_score(docs).collect()
    }
    slow = {
        r["doc_id"]: (r["n_bigrams"], r["lm_score"])
        for r in bigram_lm_score(docs, train_df=docs).collect()
    }
    assert fast == slow
    assert fast[5] == (0, None) and fast[6] == (0, None)


def test_apng_real_codec_frame_sampling_roundtrip(spark):
    """VERDICT r07 #8: the video path on GENUINE container bytes — an
    APNG (W3C animation chunks) built by the pure-stdlib encoder is
    split by apng_frame_sampler inside sample_frames, and every sampled
    frame decodes pixel-exactly back to its source frame."""
    from asakusafw_spark_spark.functions import (
        apng_frame_sampler, encode_apng,
    )
    from asakusafw_spark_spark.functions.png_codec import decode_png

    colors = [(255, 0, 0), (0, 255, 0), (0, 0, 255)]
    mk = lambda c: [[c for _ in range(4)] for _ in range(3)]
    apng = encode_apng([(100, mk(c)) for c in colors])  # 3x100 ms
    media = [(7, "video", apng, "image/apng", 4, 3, 300)]
    df = spark.createDataFrame(media, MEDIA_SCHEMA)

    out = sample_frames(df, every_ms=50, sampler=apng_frame_sampler).collect()
    # instants 0,50,...,250 (< 300 ms total): frame i visible in
    # [100i, 100i+100)
    assert [r.frame_ts_ms for r in out] == [0, 50, 100, 150, 200, 250]
    for r in out:
        w, h, rows = decode_png(r.frame_payload)  # real standalone PNG
        assert (w, h) == (4, 3)
        expect = colors[min(r.frame_ts_ms // 100, 2)]
        assert all(px == expect for line in rows for px in line)
    assert all(r.media_id == 7 for r in out)

    # plain (non-animated) PNG payload: one frame at t=0
    from asakusafw_spark_spark.functions.png_codec import encode_png
    single = apng_frame_sampler(encode_png(mk((9, 9, 9))), 1000)
    assert len(single) == 1 and single[0][0] == 0
    w, h, rows = decode_png(single[0][1])
    assert rows[0][0] == (9, 9, 9)


def test_apng_codec_property_roundtrip():
    """Property (hypothesis): ANY frame stack (count, canvas, delays,
    pixel content) survives encode → parse → per-frame standalone-PNG
    reconstruction → decode pixel-exactly, with presentation
    timestamps equal to the cumulative delays."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from asakusafw_spark_spark.functions import (
        apng_frame_sampler, encode_apng,
    )
    from asakusafw_spark_spark.functions.png_codec import decode_png

    dims = st.tuples(
        st.integers(min_value=1, max_value=5),   # width
        st.integers(min_value=1, max_value=4),   # height
        st.integers(min_value=1, max_value=4),   # n frames
        st.integers(min_value=0, max_value=2**31 - 1),  # pixel seed
    )

    @settings(
        max_examples=25, deadline=None,
        suppress_health_check=list(HealthCheck),
    )
    @given(dims, st.sampled_from([30, 50, 100]))
    def prop(d, delay):
        w, h, n, seed = d
        import random

        rng = random.Random(seed)
        frames = [
            [
                [
                    (rng.randrange(256), rng.randrange(256), rng.randrange(256))
                    for _ in range(w)
                ]
                for _ in range(h)
            ]
            for _ in range(n)
        ]
        apng = encode_apng([(delay, f) for f in frames])
        # sample exactly at frame starts: every frame comes back intact
        samples = apng_frame_sampler(apng, delay)
        assert [ts for ts, _ in samples] == [i * delay for i in range(n)]
        for i, (_, png) in enumerate(samples):
            dw, dh, rows = decode_png(png)
            assert (dw, dh) == (w, h)
            assert rows == frames[i]

    prop()


def test_avi_real_container_frame_sampling_roundtrip(spark):
    """VERDICT r08 #8: a SECOND genuine container format through the
    same sample_frames plumbing — a RIFF/AVI (the MJPEG transport
    layout) built by the pure-stdlib encoder with Motion-PNG payloads
    is split by avi_frame_sampler, timestamps derive from the stream
    header's dwScale/dwRate clock, and every sampled frame decodes
    pixel-exactly with the vendored PNG codec."""
    from asakusafw_spark_spark.functions import avi_frame_sampler, encode_avi
    from asakusafw_spark_spark.functions.png_codec import decode_png, encode_png

    colors = [(255, 0, 0), (0, 255, 0), (0, 0, 255)]
    mk = lambda c: [[c for _ in range(4)] for _ in range(3)]
    # 3 frames at 10 fps = 100 ms/frame, 300 ms total — the same
    # timeline as the APNG test, so sampling semantics must agree
    avi = encode_avi([encode_png(mk(c)) for c in colors], fps=10,
                     width=4, height=3)
    media = [(11, "video", avi, "video/x-msvideo", 4, 3, 300)]
    df = spark.createDataFrame(media, MEDIA_SCHEMA)

    out = sample_frames(df, every_ms=50, sampler=avi_frame_sampler).collect()
    assert [r.frame_ts_ms for r in out] == [0, 50, 100, 150, 200, 250]
    for r in out:
        w, h, rows = decode_png(r.frame_payload)  # verbatim 00dc payload
        assert (w, h) == (4, 3)
        expect = colors[min(r.frame_ts_ms // 100, 2)]
        assert all(px == expect for line in rows for px in line)
    assert all(r.media_id == 11 for r in out)

    # container honesty: structural corruption refuses, it never
    # silently yields garbage frames
    import pytest

    with pytest.raises(ValueError, match="not a RIFF/AVI"):
        avi_frame_sampler(b"nope", 100)
    with pytest.raises(ValueError, match="overruns"):
        avi_frame_sampler(avi[: len(avi) // 2], 100)
    with pytest.raises(ValueError, match="strh"):
        avi_frame_sampler(b"RIFF\x04\x00\x00\x00AVI ", 100)


def test_avi_codec_property_roundtrip():
    """Property (hypothesis): ANY frame stack (count, payload bytes,
    fps) survives encode_avi → parse verbatim, with sampling at the
    frame period returning every frame at ts = i*1000*scale/rate; the
    payloads pass through the container untouched (MJPEG contract)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from asakusafw_spark_spark.functions import avi_frame_sampler, encode_avi

    @settings(
        max_examples=25, deadline=None,
        suppress_health_check=list(HealthCheck),
    )
    @given(
        st.lists(st.binary(min_size=0, max_size=64), min_size=1, max_size=6),
        st.sampled_from([1, 4, 10, 25, 30]),
        st.integers(min_value=0, max_value=2**31 - 1),
    )
    def prop(payloads, fps, seed):
        avi = encode_avi(payloads, fps=fps)
        frame_ms = 1000.0 / fps
        every = max(1, int(frame_ms))
        samples = avi_frame_sampler(avi, every)
        # odd-length payloads are pad-aligned in the container but must
        # come back byte-identical (size field, not padded extent)
        got = [f for _, f in samples]
        if frame_ms == int(frame_ms):
            # exact period: one sample per frame, verbatim payloads
            assert got == payloads
            assert [t for t, _ in samples] == [
                int(i * frame_ms) for i in range(len(payloads))
            ]
        else:
            # non-integral period (30 fps): still every frame covered
            assert set(map(bytes, got)) <= set(map(bytes, payloads))
            assert len(samples) >= len(payloads) - 1

    prop()


def test_ivf_rerank_two_stage(vecs):
    """rerank=m with quantized=True: same candidate coverage as the
    plain quantized probe, but winners re-scored with exact float
    cosine — sims must equal the float path's sims for the same pairs;
    rerank without quantized refuses (no-op cost honesty); rerank < 1
    refuses."""
    import pytest

    from asakusafw_spark_spark.functions import ivf_topk

    queries = vecs.limit(3)
    flt = ivf_topk(vecs, queries, k=5, n_centroids=4, nprobe=4)
    two = ivf_topk(
        vecs, queries, k=5, n_centroids=4, nprobe=4,
        quantized=True, rerank=3,
    )
    fsims = {(r.query_id, r.neighbor_id): r.sim for r in flt.collect()}
    tsims = {(r.query_id, r.neighbor_id): r.sim for r in two.collect()}
    # nprobe=4 of 4 lists = full coverage → identical pairs, and the
    # re-ranked sims are the exact float values (not int8 approximations)
    assert set(tsims) == set(fsims)
    for pair, s in tsims.items():
        assert abs(s - fsims[pair]) < 1e-9

    with pytest.raises(ValueError, match="quantized=True"):
        ivf_topk(vecs, queries, k=5, rerank=3)
    with pytest.raises(ValueError, match="rerank must be"):
        ivf_topk(vecs, queries, k=5, quantized=True, rerank=0)


def test_minhash_lsh_max_bucket_cap(spark):
    """Oversized-bucket cap (r09, caught by the sf1 sweep): N identical
    docs put all their band keys in one size-N mega-bucket — with
    max_bucket < N those keys are dropped (no pairs, join stays
    sub-quadratic); max_bucket=None restores the exact N*(N-1)/2; and a
    NORMAL-sized near-dup pair is unaffected by the cap."""
    import pytest

    from asakusafw_spark_spark.functions import minhash_lsh_pairs
    from asakusafw_spark_spark.functions.dedup import dedup_against_corpus

    clones = [(i, "alpha beta gamma delta epsilon zeta") for i in range(10)]
    pair = [
        (100, "one two three four five six seven"),
        (101, "one two three four five six eight"),
    ]
    df = spark.createDataFrame(clones + pair, ["doc_id", "text"])

    capped = minhash_lsh_pairs(df, threshold=0.5, max_bucket=5).collect()
    got = {(r.id_a, r.id_b) for r in capped}
    assert (100, 101) in got              # small bucket untouched
    assert all(a >= 100 for a, _ in got)  # mega-bucket pairs gone

    exact = minhash_lsh_pairs(df, threshold=0.5, max_bucket=None).collect()
    clone_pairs = {(r.id_a, r.id_b) for r in exact if r.id_a < 100}
    assert len(clone_pairs) == 45         # 10*9/2, all restored

    # incremental face: history = clones (even ids), batch = one clone
    hist = df.where("doc_id < 10 and doc_id % 2 = 0")
    batch = spark.createDataFrame(
        [(999, "alpha beta gamma delta epsilon zeta")], ["doc_id", "text"]
    )
    kept_capped = dedup_against_corpus(
        batch, corpus=hist, threshold=0.5, max_bucket=4
    ).count()
    kept_exact = dedup_against_corpus(
        batch, corpus=hist, threshold=0.5, max_bucket=None
    ).count()
    assert kept_capped == 1   # mega-bucket dropped -> no match -> kept
    assert kept_exact == 0    # exact mode still drops the clone

    with pytest.raises(ValueError, match="max_bucket"):
        minhash_lsh_pairs(df, max_bucket=1)


def test_dedup_against_corpus_batch_slicing_invariant(spark):
    """The survivor set of incremental dedup must not depend on how the
    batch is sliced into micro-batches — the contract
    stream_dedup_ingest's whole-batch oracle relies on.  The r09 sf1
    sweep caught the old history+batch bucket count violating exactly
    this (smaller slices -> smaller buckets -> fewer capped keys ->
    more matches); the cap now counts history only.  Constructed so the
    cap BINDS: 8 history clones > max_bucket=6."""
    from asakusafw_spark_spark.functions import build_dedup_index
    from asakusafw_spark_spark.functions.dedup import dedup_against_corpus

    hist_docs = [(i, "alpha beta gamma delta epsilon zeta") for i in range(8)]
    hist_docs += [(20 + i, f"solo{i} text one two three four five") for i in range(4)]
    batch_docs = [
        (101, "alpha beta gamma delta epsilon zeta"),   # clone of mega-group
        (102, "solo1 text one two three four five"),    # clone of a solo doc
        (103, "completely different words here now ok"),
        (104, "solo3 text one two three four five"),
        (105, "alpha beta gamma delta epsilon eta"),    # near-dup of mega-group
        (106, "nothing matches this document at all"),
    ]
    hist = spark.createDataFrame(hist_docs, ["doc_id", "text"])
    index = build_dedup_index(hist)
    batch = spark.createDataFrame(batch_docs, ["doc_id", "text"])

    whole = {
        r.doc_id
        for r in dedup_against_corpus(batch, index=index, max_bucket=6).collect()
    }
    # every partition of the batch into slices must reproduce `whole`
    slicings = [
        [[101, 102], [103, 104], [105, 106]],
        [[101], [102], [103], [104], [105], [106]],
        [[101, 103, 105], [102, 104, 106]],
    ]
    for slices in slicings:
        got = set()
        for ids in slices:
            part = batch.filter(F.col("doc_id").isin(ids))
            got |= {
                r.doc_id
                for r in dedup_against_corpus(
                    part, index=index, max_bucket=6
                ).collect()
            }
        assert got == whole, (slices, got, whole)
    # sanity: the construction is non-trivial (some dropped, some kept)
    assert whole and whole != {d for d, _ in batch_docs}


@pytest.mark.parametrize(
    "generator, verify_col",
    [("minhash_lsh_pairs", "jaccard"), ("edit_distance_pairs", "edit_distance")],
    ids=["minhash_lsh_pairs", "edit_distance_pairs"],
)
def test_minhash_cap_generous_equals_exact(spark, generator, verify_col):
    """A cap larger than every bucket must be output-identical to
    max_bucket=None — pins that the keep-filter's singleton-bucket prune
    (``__n__ >= 2``) is semantics-free: a bucket with one member can
    never produce a candidate pair.  Both generators share the candidate
    kernel, so each checks its capped path against its exact one."""
    from asakusafw_spark_spark.functions import dedup

    gen = getattr(dedup, generator)
    kwargs = {"threshold": 0.3} if generator == "minhash_lsh_pairs" else {}
    words = ["red", "blue", "green", "cat", "dog", "sun", "moon", "tree"]
    docs = [
        (i, " ".join(words[(i + j) % len(words)] for j in range(6)))
        for i in range(40)
    ]
    # a couple of genuine near-dup pairs
    docs += [(100, "river stone cloud light wind rain"),
             (101, "river stone cloud light wind snow")]
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    capped = {
        (r.id_a, r.id_b, r[verify_col])
        for r in gen(df, max_bucket=10_000, **kwargs).collect()
    }
    exact = {
        (r.id_a, r.id_b, r[verify_col])
        for r in gen(df, max_bucket=None, **kwargs).collect()
    }
    assert capped == exact and capped  # identical and non-trivial


def test_avi_multi_stream_handling():
    """Only the vids stream's NNdc/NNdb chunks become frames (a second
    stream's data must not interleave into the timeline), and a second
    'vids' header is corruption by the docstring contract (ADVICE r09)."""
    import struct

    from asakusafw_spark_spark.functions.avi_codec import _chunk, _list, _parse_avi

    def strh(fcc, rate=10):
        return struct.pack(
            "<4s4sIHHIIIIIIIIhhhh", fcc, b"MPNG",
            0, 0, 0, 0, 1, rate, 0, 2, 0, 0xFFFFFFFF, 0, 0, 0, 0, 0,
        )

    def strl(fcc, rate=10):
        return _list(
            b"strl", _chunk(b"strh", strh(fcc, rate)) + _chunk(b"strf", b"\x00" * 40)
        )

    avih = struct.pack("<IIIIIIIIIIIIII", 100_000, 0, 0, 0, 2, 0, 2, 0, 0, 0, 0, 0, 0, 0)
    movi = _list(
        b"movi",
        _chunk(b"00dc", b"VID0") + _chunk(b"01dc", b"AUD0")
        + _chunk(b"00dc", b"VID1") + _chunk(b"01dc", b"AUD1"),
    )

    hdrl = _list(b"hdrl", _chunk(b"avih", avih) + strl(b"vids") + strl(b"auds"))
    body = b"AVI " + hdrl + movi
    frames, frame_ms = _parse_avi(b"RIFF" + struct.pack("<I", len(body)) + body)
    assert frames == [b"VID0", b"VID1"]  # stream 01 chunks excluded
    assert abs(frame_ms - 100.0) < 1e-9

    hdrl2 = _list(b"hdrl", _chunk(b"avih", avih) + strl(b"vids") + strl(b"vids", 20))
    body2 = b"AVI " + hdrl2 + movi
    with pytest.raises(ValueError, match="multiple 'vids'"):
        _parse_avi(b"RIFF" + struct.pack("<I", len(body2)) + body2)

    # A malformed/truncated strh still OCCUPIES its stream number: with
    # a 4-byte strh for stream 00 and the vids header as stream 01, the
    # video chunks are the 01dc ones (ADVICE r10 — an unskipped short
    # strh used to desynchronize vids_stream from the NNdc prefixes,
    # keeping the audio and dropping the video).
    short_strl = _list(b"strl", _chunk(b"strh", b"auds") + _chunk(b"strf", b"\x00" * 4))
    hdrl3 = _list(b"hdrl", _chunk(b"avih", avih) + short_strl + strl(b"vids"))
    body3 = b"AVI " + hdrl3 + movi
    frames3, frame_ms3 = _parse_avi(b"RIFF" + struct.pack("<I", len(body3)) + body3)
    assert frames3 == [b"AUD0", b"AUD1"]  # stream 01 IS the video here
    assert abs(frame_ms3 - 100.0) < 1e-9


def test_canonicalize_url_rules(spark):
    from asakusafw_spark_spark.functions import canonicalize_url

    rows = [
        (1, "HTTP://Example.COM:80/a/b/?b=2&a=1&utm_source=x#frag"),
        (2, "http://example.com/a/b?a=1&b=2"),          # same canonical as 1
        (3, "https://Example.com:443/a"),
        (4, "https://example.com:8443/a"),               # non-default port kept
        (5, "http://example.com/?gclid=zzz&ref=abc"),    # all params tracking
    ]
    df = spark.createDataFrame(rows, "id long, url string")
    got = {r.id: r.c for r in df.select("id", canonicalize_url("url").alias("c")).collect()}
    assert got[1] == "http://example.com/a/b?a=1&b=2"
    assert got[2] == got[1]
    assert got[3] == "https://example.com/a"
    assert got[4] == "https://example.com:8443/a"
    assert got[5] == "http://example.com"


def test_dedup_urls_counts(spark):
    from asakusafw_spark_spark.functions import dedup_urls

    rows = [
        (1, "http://a.com/x?utm_source=1"),
        (2, "HTTP://A.com/x"),
        (3, "http://a.com/x/"),
        (4, "http://a.com/y"),
    ]
    df = spark.createDataFrame(rows, "id long, url string")
    out = {r.canonical_url: (r.n_rows, r.n_forms, r.keeper_id)
           for r in dedup_urls(df, id_col="id").collect()}
    assert out["http://a.com/x"] == (3, 3, 1)
    assert out["http://a.com/y"] == (1, 1, 4)


def test_edit_distance_pairs_exact_and_bound(spark):
    from asakusafw_spark_spark.functions import edit_distance_pairs

    rows = [
        (1, "the quick brown fox jumps over the lazy dog tonight"),
        (2, "the quick brown fox jumps over the lazy dog tonighX"),  # dist 1
        (3, "the quick brown fox jumps over the lazy dog tonight"),  # dist 0 to 1
        (4, "completely unrelated text about spark executors and shuffles"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.id_a, r.id_b): r.edit_distance
           for r in edit_distance_pairs(df, max_distance=5).collect()}
    assert got[(1, 3)] == 0
    assert got[(1, 2)] == 1 and got[(2, 3)] == 1
    assert all(a != 4 and b != 4 for a, b in got)

    with pytest.raises(ValueError, match="bands"):
        edit_distance_pairs(df, k=8, bands=3)
    with pytest.raises(ValueError, match="max_bucket"):
        edit_distance_pairs(df, max_bucket=1)


def _empty_cache_manager(spark):
    """The session's cache manager, emptied of earlier tests' entries."""
    from asakusafw_spark_spark.functions import release_cached_intermediates

    release_cached_intermediates()
    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty()
    return cm


def _persistent_rdds(spark):
    """ids in the driver's persistent-RDD map (earlier tests' local
    checkpoints stay there until GC, so compare sets, not sizes)."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_release_cached_intermediates(spark):
    from asakusafw_spark_spark.functions import (
        minhash_lsh_pairs,
        release_cached_intermediates,
    )

    cm = _empty_cache_manager(spark)
    rdds = _persistent_rdds(spark)
    docs = spark.createDataFrame(
        [(i, f"doc number {i} words {' '.join(str(j) for j in range(8))}")
         for i in range(6)],
        "doc_id long, text string",
    )
    minhash_lsh_pairs(docs).collect()
    live = _persistent_rdds(spark) - rdds
    assert live, "minhash_lsh_pairs should leave persisted intermediates"
    assert not cm.isEmpty()
    n = release_cached_intermediates()
    assert n == len(live)
    assert not live & _persistent_rdds(spark)
    assert cm.isEmpty()
    # idempotent once everything is released
    assert release_cached_intermediates() == 0


def test_cached_intermediates_scope_releases_only_its_tail(spark):
    """The per-call alternative to the global release (ADVICE r11):
    frames persisted BEFORE the scope survive it; frames persisted
    inside are released on exit."""
    from asakusafw_spark_spark.functions import (
        cached_intermediates_scope,
        minhash_lsh_pairs,
        release_cached_intermediates,
    )

    cm = _empty_cache_manager(spark)
    rdds = _persistent_rdds(spark)
    docs = spark.createDataFrame(
        [(i, f"doc number {i} words {' '.join(str(j) for j in range(8))}")
         for i in range(6)],
        "doc_id long, text string",
    )
    minhash_lsh_pairs(docs).collect()
    outer = _persistent_rdds(spark) - rdds
    assert outer
    # a different plan: an equal plan shares the outer cache entry, and
    # Spark's cache manager would drop it for both on the scope's exit
    inner = docs.withColumn("text", F.concat(docs.text, F.lit(" inner")))
    with cached_intermediates_scope() as scope:
        minhash_lsh_pairs(inner).collect()
        assert _persistent_rdds(spark) - rdds > outer
    assert scope.released > 0
    assert _persistent_rdds(spark) - rdds == outer  # outer caches untouched
    assert not cm.isEmpty()
    assert release_cached_intermediates() == len(outer)
    assert cm.isEmpty()


def test_dedup_against_corpus_bucket_counts_validation(spark):
    from asakusafw_spark_spark.functions import (
        band_bucket_counts,
        build_dedup_index,
        dedup_against_corpus,
    )

    history = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(1, "totally different words about cooking pasta tonight folks")],
        "doc_id long, text string",
    )
    idx = build_dedup_index(history)
    counts = band_bucket_counts(idx)

    # counts frame silently ignored when the cap is off -> error
    with pytest.raises(ValueError, match="max_bucket=None"):
        dedup_against_corpus(
            batch, index=idx, max_bucket=None, bucket_counts=counts
        )
    # wrong schema (not a band_bucket_counts frame) -> error
    with pytest.raises(ValueError, match="band_bucket_counts"):
        dedup_against_corpus(
            batch, index=idx, bucket_counts=idx.select("id", "sig")
        )
    # the real frame passes and gives the same survivors
    kept = dedup_against_corpus(batch, index=idx, bucket_counts=counts)
    assert [r.doc_id for r in kept.collect()] == [1]


def test_dedup_against_corpus_bad_args_persist_nothing(spark):
    """Argument errors must raise BEFORE the history and batch indexes
    are persisted: a raise after a persist leaves cache entries that
    no caller holds a frame to release."""
    from asakusafw_spark_spark.functions import dedup

    cm = _empty_cache_manager(spark)
    df = spark.createDataFrame(
        [(0, "alpha beta gamma delta"), (1, "alpha beta gamma epsilon")],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError, match="max_bucket must be >= 2"):
        dedup.dedup_against_corpus(df, corpus=df, max_bucket=1)
    assert cm.isEmpty()
    with pytest.raises(ValueError, match="bands must divide k"):
        dedup.dedup_against_corpus(df, corpus=df, bands=3)
    assert cm.isEmpty()
