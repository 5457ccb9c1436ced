"""Operator-level tests over the synthetic tables (sf0.001) and tiny
hand-built DataFrames where exactness matters.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from staticql_spark.operators import dedup, multimodal, similarity, text
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")


def test_exact_dedup_collapses_duplicates(spark):
    df = spark.createDataFrame(
        [(1, "Hello  world"), (2, "hello world"), (3, "different")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["group_size"] for r in dedup.exact_dedup(df).collect()}
    # normalization (case + whitespace) merges 1 and 2; min id kept
    assert out == {1: 2, 3: 1}


def test_shingles_short_doc_empty(spark):
    df = spark.createDataFrame([(1, "one two"), (2, "one two three four")], ["doc_id", "text"])
    sh = dedup.shingles(df, n=3).collect()
    ids = {r["doc_id"] for r in sh}
    assert ids == {2}  # doc 1 has < 3 tokens -> no shingles
    # doc 2 ('one two three four') has exactly 2 distinct trigram hashes,
    # both non-null 61-bit longs
    hashes = {r["shingle"] for r in sh}
    assert len(hashes) == 2
    assert all(isinstance(h, int) and 0 <= h < dedup.MINHASH_P for h in hashes)
    # order sensitivity: reversed word order must hash differently
    df_rev = spark.createDataFrame([(3, "four three two one")], ["doc_id", "text"])
    rev_hashes = {r["shingle"] for r in dedup.shingles(df_rev, n=3).collect()}
    assert rev_hashes.isdisjoint(hashes)


def test_minhash_identical_docs_identical_sigs(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "a b c d e f g"), (3, "z y x w v u t")],
        ["doc_id", "text"],
    )
    sh = dedup.shingles(df, n=3)
    sigs = {r["doc_id"]: r["sig"] for r in dedup.minhash_signatures(sh, num_hashes=8).collect()}
    assert sigs[1] == sigs[2] != sigs[3]


def test_minhash_lsh_finds_identical_pair(spark):
    rows = [(1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog today"),
            (3, "completely unrelated text about spark query engines")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = dedup.minhash_lsh_pairs(df, num_hashes=16, bands=4, threshold=0.9).collect()
    assert [(p["id_a"], p["id_b"], p["jaccard"]) for p in pairs] == [(1, 2, 1.0)]


def test_simhash_hamming_zero_for_identical(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta")],
        ["doc_id", "text"],
    )
    fps = {r["doc_id"]: r["simhash"] for r in dedup.simhash(df).collect()}
    assert fps[1] == fps[2]
    pairs = dedup.simhash_pairs(df, max_hamming=0).collect()
    assert len(pairs) == 1 and pairs[0]["hamming"] == 0


def test_cosine_topk_self_similarity(spark, emb):
    queries = emb.filter(F.col("vec_id") == 0)
    out = similarity.cosine_topk(queries, emb, k=3).collect()
    assert len(out) == 3
    assert all(r["query_id"] == 0 and r["neighbor_id"] != 0 for r in out)
    # ranks are 1..3 with non-increasing cosine
    assert [r["rank"] for r in out] == [1, 2, 3]
    cosines = [r["cosine"] for r in out]
    assert cosines == sorted(cosines, reverse=True)
    assert all(-1.0 <= c <= 1.0 for c in cosines)


def test_lsh_topk_subset_of_bruteforce_scores(spark, emb):
    queries = emb.filter(F.col("vec_id") == 0)
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in similarity.cosine_topk(queries, emb, k=500).collect()
    }
    approx = similarity.lsh_topk(queries, emb, k=3, dim=64, num_planes=4).collect()
    # approximate results must carry the same cosine the exact path computes
    for r in approx:
        assert exact[(r["query_id"], r["neighbor_id"])] == r["cosine"]


def test_ivf_topk_string_ids(spark, emb):
    # a string-keyed corpus must still get centroids: `id % stride` nulls
    # on strings (the old silent-empty-result hazard); the md5-bucket
    # sample path must yield a working IVF with the same score semantics
    s = emb.withColumn("vec_id", F.concat(F.lit("doc-"), F.col("vec_id")))
    queries = s.filter(F.col("vec_id").isin("doc-0", "doc-50"))
    out = similarity.ivf_topk(queries, s, k=3, centroid_stride=20, nprobe=3).collect()
    assert {r["query_id"] for r in out} == {"doc-0", "doc-50"}
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in similarity.cosine_topk(queries, s, k=500).collect()
    }
    for r in out:
        assert exact[(r["query_id"], r["neighbor_id"])] == r["cosine"]


def test_kmeans_fit_matches_numpy_lloyd(spark):
    # spherical k-means vs a NumPy Lloyd twin: same deterministic init
    # (id % stride), cosine argmax assign (rounded to 6, ties -> smallest
    # cid), per-dim mean update. Integer-valued vectors keep every double
    # sum exact, so the comparison is equality, not allclose.
    import numpy as np

    rng = np.random.default_rng(11)
    dim, n = 8, 120
    vecs = rng.integers(-4, 5, size=(n, dim)).astype(float)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    stride, iters = 30, 2
    got = {
        r["cid"]: r["centroid"]
        for r in similarity.kmeans_fit(
            df, centroid_stride=stride, iters=iters
        ).collect()
    }

    cents = {i: vecs[i].copy() for i in range(0, n, stride)}
    for _ in range(iters):
        members: dict[int, list[int]] = {c: [] for c in cents}
        for i in range(n):
            best = max(
                sorted(cents),
                key=lambda c: (
                    round(
                        float(vecs[i] @ cents[c])
                        / (np.linalg.norm(vecs[i]) * np.linalg.norm(cents[c])),
                        6,
                    ),
                    -c,
                ),
            )
            members[best].append(i)
        cents = {
            c: vecs[m].mean(axis=0) for c, m in members.items() if m
        }

    assert set(got) == set(cents)
    for c in cents:
        assert got[c] == pytest.approx(list(cents[c]), abs=1e-12)


def test_ivf_topk_trained_centroids(spark, emb):
    # trained centroids plug into ivf_topk; scores must match the exact
    # path for every returned pair (same cosine semantics)
    cents = similarity.kmeans_fit(emb, centroid_stride=50, iters=1)
    queries = emb.filter(F.col("vec_id") == 0)
    out = similarity.ivf_topk(queries, emb, k=3, nprobe=2, centroids=cents).collect()
    assert len(out) == 3
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in similarity.cosine_topk(queries, emb, k=500).collect()
    }
    for r in out:
        assert exact[(r["query_id"], r["neighbor_id"])] == r["cosine"]


def test_ivf_persisted_trained_centroids_roundtrip(spark, emb, tmp_path):
    # ivf_build + ivf_query with the SAME kmeans_fit centroids must equal
    # the in-memory trained ivf_topk (mismatched centroids would silently
    # disagree between assignment and probing — the docstring warning)
    from staticql_spark.operators.similarity import ivf_build, ivf_query, ivf_topk

    cents = similarity.kmeans_fit(emb, centroid_stride=50, iters=1)
    cents = cents.localCheckpoint(eager=True)  # pin one evaluation of the fit
    idx = str(tmp_path / "ivf_trained")
    ivf_build(emb, idx, centroids=cents)
    queries = emb.filter(F.col("vec_id").isin(0, 100))
    a = {(r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
         for r in ivf_query(spark, idx, queries, emb, k=3, nprobe=2,
                            centroids=cents).collect()}
    b = {(r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
         for r in ivf_topk(queries, emb, k=3, nprobe=2, centroids=cents).collect()}
    assert a == b and a


def test_embedding_neardup_identical_vectors(spark):
    vec = [0.5] * 16
    df = spark.createDataFrame([(1, vec, 0), (2, vec, 0), (3, [-0.5] * 16, 1)],
                               ["vec_id", "embedding", "label"])
    pairs = dedup.embedding_neardup_pairs(df, threshold=0.99).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(1, 2)]
    assert pairs[0]["cosine"] == 1.0


def test_token_count_edge_cases(spark):
    df = spark.createDataFrame([(1, ""), (2, "  "), (3, "a b  c"), (4, "x,y!")],
                               ["doc_id", "text"])
    out = {r["doc_id"]: (r["ws_tokens"], r["re_tokens"]) for r in text.token_count(df).collect()}
    assert out[1] == (0, 0)
    assert out[2] == (0, 0)
    assert out[3] == (3, 3)
    assert out[4] == (1, 4)  # x , y !


def test_quality_and_lang_on_real_docs(spark, docs):
    q = text.quality_score(docs)
    assert q.count() == docs.count()
    row = q.filter(F.col("doc_id") == 0).collect()[0]
    assert 0.0 <= row["quality"] <= 1.0
    langs = {r["lang_pred"] for r in text.lang_id(docs).collect()}
    assert langs <= {"en", "und", "de", "es", "fr", "ja", "ko", "zh", "ru", "ar"}


def test_lang_id_character_classes(spark):
    df = spark.createDataFrame(
        [
            (1, "これは日本語のテキストです"),
            (2, "这是一段中文文本内容"),
            (3, "Это русский текст для теста"),
            (4, "the cat sat on the mat with a hat"),
            (5, "zzz qqq vvv"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["lang_pred"] for r in text.lang_id(df).collect()}
    assert out == {1: "ja", 2: "zh", 3: "ru", 4: "en", 5: "und"}


def test_fingerprint_whitespace_invariant(spark):
    df = spark.createDataFrame(
        [(1, "Hello   world"), (2, "hello world"), (3, "hello worlds")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["fp_md5"] for r in text.fingerprint(df).collect()}
    assert out[1] == out[2] != out[3]


def test_multimodal_parse_headers_fixture(spark):
    # The committed fixture is byte-identical to synthetic_media_real(n=128)
    # (tests/fixtures/gen_media_fixture.py); parse_headers must recover the
    # container-header facts through the real codecs.
    import pathlib

    fixture = str(pathlib.Path(__file__).parent / "fixtures" / "media_real.parquet")
    fixture_rows = {
        r["media_id"]: bytes(r["payload"])
        for r in spark.read.parquet(fixture).collect()
    }
    synth_rows = {
        r["media_id"]: bytes(r["payload"])
        for r in multimodal.synthetic_media_real(spark, n=128).collect()
    }
    assert fixture_rows == synth_rows

    parsed = {
        r["media_id"]: r
        for r in multimodal.parse_headers(spark.read.parquet(fixture)).collect()
    }
    assert len(parsed) == 128
    for mid, r in parsed.items():
        if mid % 2 == 0:
            assert (r["width"], r["height"], r["maxval"]) == (8, 6, 255)
            assert r["sample_rate"] is None and r["n_samples"] is None
            assert r["n_bytes"] == 155
        else:
            assert (r["sample_rate"], r["n_samples"]) == (8000, 120)
            assert r["width"] is None
        import hashlib

        assert r["payload_md5"] == hashlib.md5(
            fixture_rows[mid].hex().upper().encode()
        ).hexdigest()


def test_multimodal_feature_shapes(spark):
    media = multimodal.synthetic_media(spark, n=32)
    feats = multimodal.extract_features(media).collect()
    assert len(feats) == 32
    for r in feats:
        assert len(r["feature"]) == 8
        assert abs(sum(r["feature"]) - 1.0) < 1e-6  # normalized fake features
        assert r["n_bytes"] > 0


def test_multimodal_real_decode_rejects_exotic_kinds(spark):
    # video (and any codec without a built-in pure-Python parser) remains
    # the injection point: real_decode refuses rather than faking
    with pytest.raises(NotImplementedError, match="no built-in codec"):
        multimodal.real_decode(b"\x00\x01", "video")
    # and raw non-container bytes for a known kind fail loudly, not silently
    with pytest.raises(ValueError, match="not a binary PGM/PPM"):
        multimodal.decode_image(b"garbage-not-a-ppm")


def test_image_codec_fixture_golden():
    # committed netpbm fixtures decode to exact pixel values
    import pathlib

    import numpy as np

    fixtures = pathlib.Path(__file__).parent / "fixtures" / "media"
    rgb = multimodal.decode_image((fixtures / "sample_rgb.ppm").read_bytes())
    assert rgb.shape == (2, 2, 3)
    assert rgb.tolist() == [
        [[255, 0, 0], [0, 255, 0]],
        [[0, 0, 255], [255, 255, 255]],
    ]
    # PGM with a '#' comment in the header
    gray = multimodal.decode_image((fixtures / "sample_gray.pgm").read_bytes())
    assert gray.shape == (2, 3)
    assert gray.tolist() == [[0, 64, 128], [192, 255, 32]]
    # round-trip through the encoder is lossless
    again = multimodal.decode_image(multimodal.encode_image(rgb.astype(np.uint8)))
    assert (again == rgb).all()


def test_audio_codec_fixture_golden():
    import pathlib

    import numpy as np

    fixtures = pathlib.Path(__file__).parent / "fixtures" / "media"
    samples, rate = multimodal.decode_audio(
        (fixtures / "sample_tone.wav").read_bytes()
    )
    assert rate == 8000 and samples.shape == (16,)
    expect = np.array(([0.5] * 4 + [-0.5] * 4) * 2)
    assert np.abs(samples - expect).max() < 1e-3  # 16-bit quantization
    # round-trip
    s2, r2 = multimodal.decode_audio(multimodal.encode_audio(samples, rate))
    assert r2 == rate and np.abs(s2 - samples).max() < 1e-3


def test_real_decode_distributed_matches_local(spark):
    # the mapInPandas path with real_decode produces exactly the features
    # a local decode of the same payloads produces — the distributed
    # plumbing adds nothing and loses nothing
    media = multimodal.synthetic_media_real(spark, n=12)
    dist = {
        r["media_id"]: r["feature"]
        for r in multimodal.extract_features(
            media, decode_fn=multimodal.real_decode
        ).collect()
    }
    local_rows = media.select("media_id", "kind", "payload").collect()
    for r in local_rows:
        expect = multimodal.real_decode(bytes(r["payload"]), r["kind"])
        got = dist[r["media_id"]]
        assert len(got) == 8
        assert max(abs(a - b) for a, b in zip(got, expect)) < 1e-6


def test_real_resize_roundtrip(spark):
    # nearest-neighbor resize on real PPM payloads: output decodes to the
    # requested geometry and corner pixels come from the source grid
    media = multimodal.synthetic_media_real(spark, n=6)
    out = multimodal.resize_images(media, width=4, height=3, resize_fn=multimodal.real_resize)
    for r in out.filter("kind = 'image'").collect():
        arr = multimodal.decode_image(bytes(r["payload"]))
        assert arr.shape == (3, 4, 3)
        assert r["meta"]["width"] == 4 and r["meta"]["height"] == 3


def test_frame_sampling_plan(spark):
    media = multimodal.synthetic_media(spark, n=9)
    frames = multimodal.sample_frames(media, every_ms=1000, max_frames=4).collect()
    # only video rows (1 in 3), duration 5000ms capped at 4 frames
    vids = {r["media_id"] for r in frames}
    assert all(m % 3 == 2 for m in vids)
    by_vid = [r for r in frames if r["media_id"] == min(vids)]
    assert [f["ts_ms"] for f in by_vid] == [0, 1000, 2000, 3000]


def test_resize_images_rewrites_payload_and_meta(spark):
    from staticql_spark.operators.multimodal import resize_images, synthetic_media

    media = synthetic_media(spark, n=12)
    out = resize_images(media, width=8, height=4)
    rows = {r["media_id"]: r for r in out.collect()}
    assert len(rows) == 12
    for r in rows.values():
        if r["kind"] == "image":
            assert len(r["payload"]) == 8 * 4
            assert r["meta"]["width"] == 8 and r["meta"]["height"] == 4
        else:  # non-image rows untouched
            assert r["meta"] is not None and len(r["payload"]) >= 64


def test_winnow_shared_substring_shares_fingerprint(spark):
    # winnowing guarantee: a shared substring of length >= k + w - 1
    # (8 + 4 - 1 = 11) always yields at least one shared fingerprint
    from staticql_spark.operators.text import winnow_fingerprints

    common = "the quick brown fox jumps over the lazy dog"
    df = spark.createDataFrame(
        [(1, f"xxx {common} yyy"), (2, f"zzzz {common} wwww"), (3, "unrelated words")],
        "doc_id long, text string",
    )
    rows = winnow_fingerprints(df, k=8, window=4).collect()
    fps = {i: {r["fp"] for r in rows if r["doc_id"] == i} for i in (1, 2, 3)}
    assert fps[1] & fps[2], "shared substring must share a fingerprint"
    assert not (fps[1] & fps[3] and fps[2] & fps[3])


def test_pii_scrub_counts_and_redacts(spark):
    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@corp.example.org now"),
            (2, "server 192.168.0.1 and 10.0.0.254 up"),
            (3, "call +1 555 0100 9876 or 030-1234-5678"),
            (4, "clean text with no pii at all"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in text.pii_scrub(df).collect()}
    assert (out[1]["n_emails"], out[1]["n_ips"], out[1]["n_phones"]) == (1, 0, 0)
    assert out[1]["redacted"] == "mail <EMAIL> now"
    assert (out[2]["n_emails"], out[2]["n_ips"], out[2]["n_phones"]) == (0, 2, 0)
    assert out[2]["redacted"] == "server <IP> and <IP> up"
    assert (out[3]["n_emails"], out[3]["n_ips"], out[3]["n_phones"]) == (0, 0, 2)
    assert out[3]["redacted"] == "call <PHONE> or <PHONE>"
    assert (out[4]["n_emails"], out[4]["n_ips"], out[4]["n_phones"]) == (0, 0, 0)
    assert out[4]["redacted"] == out[4]["redacted"] == "clean text with no pii at all"


def test_repetition_score_fracs(spark):
    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "w x y z"), (3, "")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in text.repetition_score(df).collect()}
    # doc 1: 4 tokens, 2 distinct -> dup 0.5; top 'a' 3/4
    assert out[1]["n_tokens"] == 4
    assert out[1]["dup_token_frac"] == 0.5
    assert out[1]["top_token_frac"] == 0.75
    # doc 2: all distinct
    assert out[2]["dup_token_frac"] == 0.0 and out[2]["top_token_frac"] == 0.25
    # doc 3: no tokens -> no row
    assert 3 not in out


def test_connected_components_and_keep(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (9, 3)], ["id_a", "id_b"]
    )
    comp = {
        r["member_id"]: r["component_id"]
        for r in dedup.connected_components(pairs).collect()
    }
    # chain 1-2-3-9 collapses to min id 1; pair 5-6 to 5
    assert comp == {1: 1, 2: 1, 3: 1, 9: 1, 5: 5, 6: 5}
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in (1, 2, 3, 4, 5, 6, 9)], ["doc_id", "text"]
    )
    kept = {r["doc_id"] for r in dedup.dedup_keep(docs, pairs).collect()}
    # representatives 1 and 5 kept, untouched doc 4 kept
    assert kept == {1, 4, 5}


def test_unigram_logprob_matches_closed_form(spark):
    # 10 'a', 5 'b', 1 'z' (total 16). vocab_k=2 keeps {a, b}; z is OOV
    # and gets the floor 1/16. Scores are exact closed forms.
    import math
    rows = [(1, "a a a a a a a a a a"), (2, "b b b b b"), (3, "z")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: (r["n_tokens"], r["nll"])
           for r in text.unigram_logprob(df, vocab_k=2).collect()}
    assert got[1] == (10, round(-math.log2(10 / 16), 4))
    assert got[2] == (5, round(-math.log2(5 / 16), 4))
    assert got[3] == (1, round(-math.log2(1 / 16), 4))  # OOV floor
    # gibberish (OOV) scores strictly higher than the common token
    assert got[3][1] > got[1][1]


def test_leakfree_split_keeps_clusters_whole(spark):
    # the defining invariant: no near-dup pair may straddle two splits
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.2)
    out = dedup.leakfree_split(docs, pairs)
    split_of = {r["doc_id"]: r["split"] for r in out.collect()}
    prs = pairs.select("id_a", "id_b").collect()
    assert prs, "fixture must contain near-dup pairs for this test to bite"
    for r in prs:
        assert split_of[r["id_a"]] == split_of[r["id_b"]]
    # every doc assigned exactly once; all three splits non-degenerate
    assert len(split_of) == docs.count()
    assert set(split_of.values()) == {"train", "val", "test"}


def test_leakfree_split_shuffle_fallback_identical(spark):
    # a dense pair graph over the broadcast gate must take the plain
    # shuffle-join path and produce byte-identical assignments
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.2)
    broadcasted = dedup.leakfree_split(docs, pairs)
    fallback = dedup.leakfree_split(docs, pairs, broadcast_max_rows=0)
    assert "BroadcastHashJoin" not in fallback._jdf.queryExecution().executedPlan().toString()
    rows = lambda df: sorted(
        (r["doc_id"], r["rep"], r["split"]) for r in df.collect()
    )
    assert rows(broadcasted) == rows(fallback)


def test_pack_sequences_is_exact_prefix_sum(spark):
    # the two-phase (bucketed) prefix sum must equal the single-pass
    # brute-force packing over the same (md5 bucket, id) order
    import hashlib

    rows = [(i, " ".join(["w"] * (i % 7))) for i in range(200)]  # 0..6 tokens
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["start_tok"], r["chunk_first"], r["chunk_last"])
           for r in text.pack_sequences(df, seq_len=10, buckets=16).collect()}

    def bkt(i):
        return int(hashlib.md5(f"pack1|{i}".encode()).hexdigest()[:15], 16) % 16

    start, want = 0, {}
    for i in sorted(range(200), key=lambda i: (bkt(i), i)):
        n = i % 7
        want[i] = (n, start, start // 10, (start + max(n, 1) - 1) // 10)
        start += n
    assert got == want
    # spans tile the token stream: total length equals the final offset
    assert sum(n for n, *_ in got.values()) == start


def test_rebalance_sample_hits_target_mixture(spark):
    # skewed corpus: en 600, ja 150, de 50. Target 60/20/20 -> de binds
    # (50/0.2 = 250 total): de kept whole, en thinned to ~150, ja to ~50.
    rows = (
        [(i, "en") for i in range(600)]
        + [(1000 + i, "ja") for i in range(150)]
        + [(2000 + i, "de") for i in range(50)]
    )
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = text.rebalance_sample(df, {"en": 0.6, "ja": 0.2, "de": 0.2})
    got = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(
        F.count("*").alias("n")).collect()}
    assert got["de"] == 50  # binding stratum survives whole
    # md5 draw is uniform-ish, not exact: allow +-20% per thinned stratum
    assert abs(got["en"] - 150) <= 30
    assert abs(got["ja"] - 50) <= 10
    # deterministic: the same call returns the same rows
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(r["doc_id"] for r in text.rebalance_sample(
        df, {"en": 0.6, "ja": 0.2, "de": 0.2}).collect())
    assert a == b


def test_incremental_lsh_equals_full_run_restriction(spark):
    # split a corpus 80/20 old/new: incremental pairs == full-run pairs
    # that touch at least one new doc, and old x old never appears
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    old = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    ob, osh = dedup.minhash_index(old)
    inc = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup.incremental_lsh_pairs(new, ob, osh, threshold=0.2).collect()
    }
    full = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.2).collect()
    }
    want = {p for p in full if p[0] % 5 == 0 or p[1] % 5 == 0}
    assert inc == want
    assert all(a % 5 == 0 or b % 5 == 0 for a, b, _ in inc)


def test_incremental_lsh_recrawl_no_self_pair(spark):
    # a doc present in BOTH the index and the new batch (re-crawl) must
    # not pair with itself
    rows = [(i, f"common shingle text block number {i % 2} repeated tokens here")
            for i in range(6)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    ob, osh = dedup.minhash_index(df)  # index includes ALL docs
    out = dedup.incremental_lsh_pairs(df.filter(F.col("doc_id") < 2), ob, osh,
                                      threshold=0.1).collect()
    assert all(r["id_a"] != r["id_b"] for r in out)


def test_incremental_lsh_recrawl_new_text_wins(spark):
    # a re-crawled doc whose text CHANGED between index and batch must be
    # verified against its NEW shingles, deterministically — not whichever
    # side an unordered dedup happened to keep
    old_rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta iota"),
    ]
    ob, osh = dedup.minhash_index(spark.createDataFrame(old_rows, ["doc_id", "text"]))
    # doc 1 re-crawled with completely different text -> its old near-dup
    # relation to doc 2 must disappear (new text shares nothing with doc 2)
    new_batch = spark.createDataFrame(
        [(1, "one two three four five six seven eight")], ["doc_id", "text"]
    )
    out = dedup.incremental_lsh_pairs(new_batch, ob, osh, threshold=0.1).collect()
    assert out == []


def test_lsh_bucket_cap_drops_pathological_cluster(spark):
    # 120 byte-identical docs (the boilerplate-page scenario): every copy
    # lands in ONE (band, key) bucket per band -> O(m^2) candidates unless
    # the bucket cap drops it. Two near-dup-but-distinct docs alongside
    # must still pair up.
    boiler = [(i, "all rights reserved contact us terms of service apply here")
              for i in range(120)]
    near = [(1000, "spark engines make distributed queries fast and simple"),
            (1001, "spark engines make distributed queries fast and simple")]
    df = spark.createDataFrame(boiler + near, ["doc_id", "text"])
    pairs = dedup.minhash_lsh_pairs(
        df, num_hashes=16, bands=4, threshold=0.9, max_bucket=50
    ).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(1000, 1001)]
    # with the cap above the cluster size the quadratic set comes back
    uncapped = dedup.minhash_lsh_pairs(
        df, num_hashes=16, bands=4, threshold=0.9, max_bucket=1000
    )
    assert uncapped.count() == 120 * 119 // 2 + 1


def test_simhash_bucket_cap_drops_pathological_cluster(spark):
    boiler = [(i, "all rights reserved contact us terms of service apply")
              for i in range(80)]
    near = [(1000, "spark engines make distributed queries fast and simple"),
            (1001, "spark engines make distributed queries fast and simple")]
    df = spark.createDataFrame(boiler + near, ["doc_id", "text"])
    pairs = dedup.simhash_pairs(df, max_hamming=0, max_bucket=40).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(1000, 1001)]


def test_embedding_block_cap_drops_pathological_cluster(spark):
    vec = [0.5] * 16
    other = [0.5] * 8 + [-0.5] * 8  # same sign block as vec (first 8 dims)
    boiler = [(i, vec, 0) for i in range(60)]
    near = [(1000, other, 1), (1001, other, 1)]
    df = spark.createDataFrame(boiler + near, ["vec_id", "embedding", "label"])
    # cap below the identical-cluster size: its block is dropped entirely —
    # including the near pair sharing the block, demonstrating the cap is a
    # backstop (finer blocks, not bigger caps, are the scale lever)
    pairs = dedup.embedding_neardup_pairs(df, threshold=0.99, max_bucket=40).collect()
    assert pairs == []
    pairs2 = dedup.embedding_neardup_pairs(df, threshold=0.99, max_bucket=100).collect()
    assert {(p["id_a"], p["id_b"]) for p in pairs2} >= {(1000, 1001)}


def test_decontaminate_flags_and_keep(spark):
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")], ["doc_id", "text"]
    )
    docs = spark.createDataFrame(
        [(1, "intro text then the quick brown fox jumps over the lazy dog end"),
         (2, "completely unrelated content about query engines and spark"),
         (3, "short")],
        ["doc_id", "text"],
    )
    hits = {r["doc_id"]: r["n_shared"] for r in
            text.decontaminate(docs, bench, n=5, min_shared=1).collect()}
    assert 1 in hits and hits[1] >= 1  # shares 5-grams with the benchmark
    assert 2 not in hits and 3 not in hits
    kept = {r["doc_id"] for r in
            text.decontaminate_keep(docs, bench, n=5, min_shared=1).collect()}
    assert kept == {2, 3}


def test_normalize_corpus_strips_and_hashes(spark):
    docs = spark.createDataFrame(
        [(1, "  Hello,   WORLD!! 42 "), (2, "hello world 42"), (3, "!!!")],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in text.normalize_corpus(docs).collect()}
    assert rows[1]["norm_text"] == "hello world 42"
    # punctuation-only differences collapse to the same dedup key
    assert rows[1]["norm_hash"] == rows[2]["norm_hash"]
    assert rows[1]["n_norm_tokens"] == 3
    assert rows[3]["norm_text"] == "" and rows[3]["n_norm_tokens"] == 0


def test_selfdedup_grams_owner_semantics(spark):
    base = "alpha beta gamma delta epsilon zeta"
    docs = spark.createDataFrame(
        [(1, base),                       # owns all its grams
         (2, base + " eta"),              # mostly owned by doc 1
         (3, "one two three four five")], # unrelated
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in
            text.selfdedup_grams(docs, n=5, threshold=0.5).collect()}
    assert rows[1]["n_dup"] == 0 and rows[1]["keep"]
    # doc 2's 3 grams: the 2 inside doc 1's text are owned by doc 1
    assert rows[2]["n_dup"] == 2 and not rows[2]["keep"]  # 2/3 > 0.5
    assert rows[3]["n_dup"] == 0 and rows[3]["keep"]


def test_corpus_report_shares_sum_to_one(spark):
    docs = spark.createDataFrame(
        [(1, "a b c", "en", "web"), (2, "d e", "en", "web"), (3, "f", "ja", "book")],
        ["doc_id", "text", "lang", "source"],
    )
    rows = text.corpus_report(docs).collect()
    got = {(r["lang"], r["source"]): (r["n_docs"], r["n_tokens"]) for r in rows}
    assert got == {("en", "web"): (2, 5), ("ja", "book"): (1, 1)}
    assert abs(sum(r["token_share"] for r in rows) - 1.0) < 1e-6


def test_bm25_ranks_matching_docs_first(spark):
    docs = spark.createDataFrame(
        [(1, "spark spark spark"), (2, "spark and hash"), (3, "nothing here"),
         (4, "hash table hash table")],
        ["doc_id", "text"],
    )
    rows = text.bm25_rank(docs, terms=["spark", "hash"], k=10).collect()
    ids = [r["doc_id"] for r in rows]
    assert 3 not in ids          # zero-score docs are dropped
    assert set(ids) == {1, 2, 4}
    assert all(rows[i]["bm25"] >= rows[i + 1]["bm25"] for i in range(len(rows) - 1))


def test_quantize_int8_codes(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, -2.0, 0.5]), (2, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    rows = {r["vec_id"]: r for r in similarity.quantize_int8(emb).collect()}
    # scale = 127/2 = 63.5 -> codes [64, -127, 32] (round half up)
    assert rows[1]["q_max"] == 127
    assert rows[1]["q_l1"] == 64 + 127 + 32
    assert rows[1]["q_nnz"] == 3
    assert rows[2]["scale_r"] is None  # zero vector: nothing to scale


def test_quantized_topk_recall_vs_exact(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    exact = similarity.cosine_topk(queries, emb, k=5)
    quant = similarity.quantized_topk(queries, emb, k=5)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    q = {(r["query_id"], r["neighbor_id"]) for r in quant.collect()}
    # int8 codes preserve cosine to ~1% — top-5 recall should be near-total
    assert len(e & q) / len(e) >= 0.8


def test_pagerank_star_graph_and_mass(spark):
    from staticql_spark.operators.graph import pagerank

    # undirected star: center <-> 4 leaves; symmetric leaves must tie and
    # the center must dominate; total mass stays 1 (no dangling here)
    e = [("c", f"l{i}") for i in range(4)] + [(f"l{i}", "c") for i in range(4)]
    ranks = {r["node"]: r["rank"]
             for r in pagerank(spark.createDataFrame(e, ["src", "dst"]), iters=10).collect()}
    assert abs(sum(ranks.values()) - 1.0) < 1e-4
    leaves = {v for k, v in ranks.items() if k != "c"}
    assert len(leaves) == 1  # symmetry
    assert ranks["c"] > max(leaves) * 2


def test_pagerank_dangling_mass_conserved(spark):
    from staticql_spark.operators.graph import pagerank

    # directed chain a->b->c: c is dangling; mass must still sum to 1
    e = [("a", "b"), ("b", "c")]
    ranks = {r["node"]: r["rank"]
             for r in pagerank(spark.createDataFrame(e, ["src", "dst"]), iters=8).collect()}
    assert abs(sum(ranks.values()) - 1.0) < 1e-4
    assert ranks["c"] > ranks["b"] > ranks["a"]


def test_weighted_sample_favors_heavy_rows(spark):
    # two strata: weight 1000 vs weight 1; the heavy half must dominate a
    # k=50 sample from 200 rows (md5 draw is fixed, so this is exact)
    rows = [(i, 1000 if i < 100 else 1) for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    got = text.weighted_sample(df, "w", k=50).collect()
    assert len(got) == 50
    heavy = sum(1 for r in got if r["doc_id"] < 100)
    assert heavy >= 45  # P[heavy] per slot ~ 1000/1001
    # deterministic across invocations
    again = [r["doc_id"] for r in text.weighted_sample(df, "w", k=50).collect()]
    assert [r["doc_id"] for r in got] == again


def test_token_entropy_known_values(spark):
    import math

    df = spark.createDataFrame(
        [(1, "a a a a"), (2, "a b"), (3, "a a b b c c d d"), (4, "  ")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: (r["n_tokens"], r["entropy"])
           for r in text.token_entropy(df).collect()}
    assert got[1] == (4, 0.0)
    assert got[2] == (2, 1.0)
    assert got[3] == (8, 2.0)
    assert 4 not in got  # blank doc has no distribution


def test_kmv_union_merge_equals_direct_sketch(spark):
    from staticql_spark.operators import sketch as sk

    # defining sketch property: bottom-k(bottom-k(A) ∪ bottom-k(B)) equals
    # bottom-k(A ∪ B) — merge never needs the raw data again
    a = spark.range(0, 5000).selectExpr("id * 3 as v")
    b = spark.range(0, 5000).selectExpr("id * 7 as v")
    merged = sk.kmv_union_distinct(a, b, "v", k=128).collect()[0]
    direct = sk.kmv_distinct(a.union(b), "v", k=128).collect()[0]
    assert merged["kth_hash"] == direct["kth_hash"]
    assert merged["est_ndv"] == direct["est_ndv"]
    assert merged["exact_ndv"] == direct["exact_ndv"]
    # estimator sanity: within 20% of truth at k=128
    assert abs(merged["est_ndv"] - merged["exact_ndv"]) / merged["exact_ndv"] < 0.2


def test_fuzzy_join_blocked_recall_and_caps(spark):
    from staticql_spark.operators.fuzzy import fuzzy_join

    left = spark.createDataFrame(
        [(1, "spark engine"), (2, "sparc engine"), (3, "zzzz")],
        ["lid", "name"],
    )
    right = spark.createDataFrame(
        [(10, "spark engine"), (11, "shark engine"), (12, "unrelated text")],
        ["rid", "rname"],
    )
    out = {(r["lid"], r["rid"]): r["distance"]
           for r in fuzzy_join(left, right, "name", "rname", "lid", "rid",
                               max_distance=2).collect()}
    assert out[(1, 10)] == 0
    assert out[(2, 10)] == 1   # sparc ~ spark
    assert out[(1, 11)] == 1   # spark ~ shark (one substitution)
    assert (3, 12) not in out  # no shared grams, far apart
    # short keys (< q) block on the whole key: exact short matches survive
    s_left = spark.createDataFrame([(1, "ab")], ["lid", "name"])
    s_right = spark.createDataFrame([(2, "ab"), (3, "xy")], ["rid", "rname"])
    s = {(r["lid"], r["rid"]) for r in fuzzy_join(
        s_left, s_right, "name", "rname", "lid", "rid", max_distance=0).collect()}
    assert s == {(1, 2)}
    # a stop-gram shared by everyone is capped away deterministically
    many = spark.createDataFrame([(i, f"commonprefix{i}") for i in range(30)],
                                 ["lid", "name"])
    capped = fuzzy_join(many, many.selectExpr("lid as rid", "name as rname"),
                        "name", "rname", "lid", "rid",
                        max_distance=2, max_bucket=10).count()
    full = fuzzy_join(many, many.selectExpr("lid as rid", "name as rname"),
                      "name", "rname", "lid", "rid",
                      max_distance=2, max_bucket=100000).count()
    assert capped < full  # shared-prefix buckets dropped under the cap


def test_table_profile_counts(spark):
    from staticql_spark.operators.profile import table_profile

    df = spark.createDataFrame(
        [(1, "a", None), (2, "b", 5.0), (2, None, 7.5)],
        ["k", "s", "v"],
    )
    got = {r["col_name"]: r for r in table_profile(df, ["k", "s", "v"]).collect()}
    assert all(r["n_rows"] == 3 for r in got.values())
    assert (got["k"]["n_nulls"], got["k"]["n_distinct"]) == (0, 2)
    assert (got["s"]["n_nulls"], got["s"]["n_distinct"]) == (1, 2)
    assert (got["v"]["n_nulls"], got["v"]["n_distinct"]) == (1, 2)
    # native-type min/max, stringified after (not lexicographic "10"<"9")
    assert (got["v"]["min_str"], got["v"]["max_str"]) == ("5.0", "7.5")
    # approx variant still produces a sane profile (no oracle contract)
    approx = {r["col_name"]: r["n_distinct"]
              for r in table_profile(df, ["k"], approx=True).collect()}
    assert approx["k"] >= 1


def test_zorder_key_interleave_exact(spark):
    from staticql_spark.operators.layout import range_bucket, zorder_key

    df = spark.createDataFrame([(0b101, 0b011)], ["x", "y"])
    z = df.select(
        zorder_key([F.col("x"), F.col("y")], bits=3).alias("z")
    ).collect()[0]["z"]
    # x bits land at even positions, y at odd: x=101, y=011
    # -> z = x0*1 + y0*2 + x1*4 + y1*8 + x2*16 + y2*32 = 1+2+0+8+16+0 = 27
    assert z == 27
    # range_bucket is exact integer floor division with clamping
    b = spark.range(1).select(
        range_bucket(F.lit(10), F.lit(0), F.lit(99), 10).alias("b1"),
        range_bucket(F.lit(-5), F.lit(0), F.lit(99), 10).alias("b2"),
        range_bucket(F.lit(250), F.lit(0), F.lit(99), 10).alias("b3"),
    ).collect()[0]
    assert (b["b1"], b["b2"], b["b3"]) == (1, 0, 9)


def test_zorder_locality_beats_single_sort(spark):
    # the layout claim itself: within equal-size file chunks, z-ordered
    # data has tighter per-chunk ranges on BOTH dimensions than data
    # sorted by x alone (which gives y no pruning power)
    from staticql_spark.operators.layout import zorder_key

    import itertools
    rows = [(x, y) for x, y in itertools.product(range(32), range(32))]
    df = spark.createDataFrame(rows, ["x", "y"])
    z = df.select("x", "y", zorder_key([F.col("x"), F.col("y")], bits=5).alias("z"))

    def chunk_spans(ordered, dim):
        chunks = [ordered[i:i + 64] for i in range(0, len(ordered), 64)]
        return sum(max(c[dim] for c in ch) - min(c[dim] for c in ch) for ch in chunks)

    by_z = [r.asDict() for r in z.orderBy("z").collect()]
    by_x = [r.asDict() for r in z.orderBy("x", "y").collect()]
    # x-sort: x-spans ~0 but y-spans are maximal; z-order balances both
    assert chunk_spans(by_z, "y") < chunk_spans(by_x, "y") / 2
    assert chunk_spans(by_z, "x") + chunk_spans(by_z, "y") < chunk_spans(by_x, "x") + chunk_spans(by_x, "y")


def test_histogram_exact_bins(spark):
    from staticql_spark.operators.profile import histogram

    df = spark.createDataFrame([(float(v),) for v in
                                [0, 1, 9.999, 10, 55, 99.9, 100, -5, 101]], ["v"])
    got = {r["bin"]: (r["bin_lo"], r["bin_hi"], r["n"])
           for r in histogram(df, "v", 0.0, 100.0, 10).collect()}
    assert got[0] == (0.0, 10.0, 3)     # 0, 1, 9.999
    assert got[1][2] == 1               # 10 lands in [10, 20)
    assert got[5][2] == 1               # 55
    assert got[9] == (90.0, 100.0, 2)   # 99.9, and x == hi folds into top
    assert sum(n for _, _, n in got.values()) == 7  # -5 and 101 dropped


def test_ivf_append_equals_full_rebuild(spark, emb, tmp_path):
    # build on half the corpus, append the other half with the SAME
    # centroids: queries must return exactly what a full-corpus build does
    from staticql_spark.operators.similarity import (
        ivf_append,
        ivf_build,
        ivf_query,
    )
    from staticql_spark.operators.similarity import centroid_sample

    cents = centroid_sample(emb, "embedding", "vec_id", 100).localCheckpoint(
        eager=True
    )
    old = emb.filter(F.col("vec_id") < 1000)
    new = emb.filter(F.col("vec_id") >= 1000)
    queries = emb.filter(F.col("vec_id") % 400 == 0)

    inc_path = str(tmp_path / "ivf_inc")
    ivf_build(old, inc_path, centroids=cents)
    ivf_append(new, inc_path, centroids=cents)
    full_path = str(tmp_path / "ivf_full")
    ivf_build(emb, full_path, centroids=cents)

    key = lambda df: sorted(
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
        for r in df.collect()
    )
    inc = key(ivf_query(spark, inc_path, queries, emb, k=5, centroids=cents))
    full = key(ivf_query(spark, full_path, queries, emb, k=5, centroids=cents))
    assert inc == full and len(inc) > 0


def test_skew_report_flags_hot_key(spark):
    from staticql_spark.operators.skew import skew_report

    rows = [(1, "hot")] * 90 + [(i, f"u{i}") for i in range(10)]
    df = spark.createDataFrame(rows, ["x", "k"])
    top = skew_report(df, "k", top=3).collect()
    assert top[0]["key_value"] == "hot"
    assert top[0]["pct_of_rows"] == 90.0
    assert top[0]["x_mean"] > 8  # 90 rows vs mean ~9.09


def test_scd2_merge_versions_and_time_travel(spark):
    from staticql_spark.operators.scd import scd2_as_of, scd2_merge, scd2_open

    snap1 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma")], ["doc_id", "text"]
    )
    hist = scd2_open(snap1, "doc_id", ["text"], ts=100)
    # t=200: doc 2 modified, doc 3 deleted, doc 4 added
    snap2 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta v2"), (4, "delta")], ["doc_id", "text"]
    )
    hist2 = scd2_merge(hist, snap2, "doc_id", ["text"], ts=200)

    rows = {(r["doc_id"], r["valid_from"]): (r["text"], r["valid_to"])
            for r in hist2.collect()}
    assert rows[(1, 100)] == ("alpha", None)        # unchanged, still open
    assert rows[(2, 100)] == ("beta", 200)          # closed
    assert rows[(2, 200)] == ("beta v2", None)      # reopened
    assert rows[(3, 100)] == ("gamma", 200)         # deleted -> closed
    assert rows[(4, 200)] == ("delta", None)        # added
    assert len(rows) == 5

    # time travel reproduces each snapshot exactly
    at150 = {(r["doc_id"], r["text"]) for r in scd2_as_of(hist2, 150).collect()}
    assert at150 == {(1, "alpha"), (2, "beta"), (3, "gamma")}
    at250 = {(r["doc_id"], r["text"]) for r in scd2_as_of(hist2, 250).collect()}
    assert at250 == {(1, "alpha"), (2, "beta v2"), (4, "delta")}

    # idempotence: merging the same snapshot again changes nothing
    hist3 = scd2_merge(hist2, snap2, "doc_id", ["text"], ts=300)
    assert hist3.count() == hist2.count()


def test_corr_matrix_known_values(spark):
    from staticql_spark.operators.profile import corr_matrix

    rows = [(float(i), 2.0 * i + 1.0, float(-i), float(i % 2)) for i in range(50)]
    df = spark.createDataFrame(rows, ["a", "b", "c", "d"])
    got = {(r["col_a"], r["col_b"]): r["corr"]
           for r in corr_matrix(df, ["a", "b", "c"]).collect()}
    assert got[("a", "b")] == 1.0    # perfectly linear
    assert got[("a", "c")] == -1.0   # perfectly anti-linear
    assert got[("b", "c")] == -1.0


def test_power_iteration_pc_matches_numpy(spark, emb):
    import numpy as np

    got = similarity.power_iteration_pc(emb, iters=2).collect()[0]["pc"]
    X = np.array([r["embedding"] for r in emb.collect()], dtype=float)
    v = np.full(X.shape[1], 1.0 / np.sqrt(X.shape[1]))
    for _ in range(2):
        # mirror the r7 decimal hardening: Gram sums fold 6dp-rounded
        # terms exactly (order-free); fsum == the DECIMAL(27,6) fold
        # within double precision
        import math

        d = X @ v
        s = np.array(
            [math.fsum(np.round(X[:, j] * d, 6)) for j in range(X.shape[1])]
        )
        v = s / np.linalg.norm(s)
    assert got == pytest.approx(list(np.round(v, 6)), abs=2e-6)
    # unit norm (within rounding)
    assert abs(sum(c * c for c in got) - 1.0) < 1e-4


def _greedy_bpe_reference(texts: list[str], merges: int):
    """Single-process reference Sennrich BPE: greedy left-to-right merge
    application per word, argmax pair with (count desc, pair asc) tiebreak."""
    import re
    from collections import Counter

    words = Counter(w for t in texts for w in re.findall(r"[a-z]+", t.lower()))
    vocab = {tuple(list(w) + ["#"]): c for w, c in words.items()}
    out = []
    for rnd in range(1, merges + 1):
        pairs = Counter()
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += c
        if not pairs:
            break
        (a, b), n = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        out.append((rnd, a, b, a + b, n))
        new = {}
        for syms, c in vocab.items():
            s, merged, i = list(syms), [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    merged.append(a + b)
                    i += 2
                else:
                    merged.append(s[i])
                    i += 1
            key = tuple(merged)
            new[key] = new.get(key, 0) + c
        vocab = new
    return out


def test_bpe_train_matches_greedy_reference(spark):
    # includes an odd run of a self-pair ("aaaaa") — the case where a
    # delimiter-shared string encoding would diverge from greedy merging
    texts = [
        "low lower lowest",
        "new newer newest wider wide",
        "low low new wide",
        "aaaaa aaa banana bananas",
    ]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    got = [
        (r["merge_round"], r["sym_a"], r["sym_b"], r["merged"], r["n_pairs"])
        for r in text.bpe_train(df, merges=5).collect()
    ]
    assert got == _greedy_bpe_reference(texts, 5)


def test_bpe_train_empty_corpus_empty_merges(spark):
    df = spark.createDataFrame([("",), ("123 456",)], ["text"])
    assert text.bpe_train(df, merges=2).count() == 0


def test_logreg_fit_matches_numpy_gd(spark, docs):
    import numpy as np

    from staticql_spark.operators import classify

    feats = classify.english_surface_features(docs)
    cols = ["x_stop", "x_dia", "x_cjk", "x_bias"]
    got = {
        r["feature"]: r["weight"]
        for r in classify.logreg_fit(feats, cols, iters=2, lr=4.0).collect()
    }
    pdf = feats.toPandas()
    X = pdf[cols].to_numpy(dtype=float)
    y = pdf["y"].to_numpy(dtype=float)
    w = np.zeros(len(cols))
    for _ in range(2):
        m = X @ w
        p = 0.5 + 0.5 * (m / (1.0 + np.abs(m)))
        g = np.round(((p - y)[:, None] * X).mean(axis=0), 9)
        w = w - 4.0 * g
    want = dict(zip(cols, np.round(w, 6)))
    for c in cols:
        assert got[c] == pytest.approx(want[c], abs=2e-6), c


def test_logreg_score_separates_en(spark, docs):
    from staticql_spark.operators import classify

    feats = classify.english_surface_features(docs)
    cols = ["x_stop", "x_dia", "x_cjk", "x_bias"]
    weights = classify.logreg_fit(feats, cols, iters=2, lr=4.0)
    scored = classify.logreg_score(feats, weights, cols).groupBy("y").agg(
        F.avg("p").alias("mean_p")
    )
    by_label = {r["y"]: r["mean_p"] for r in scored.collect()}
    assert by_label[1.0] > by_label[0.0]


def test_decontaminate_bloom_identical_to_exact(spark, docs):
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    exact = {
        (r["doc_id"], r["n_shared"])
        for r in text.decontaminate(corpus, bench, n=5).collect()
    }
    bloom = {
        (r["doc_id"], r["n_shared"])
        for r in text.decontaminate_bloom(corpus, bench, n=5).collect()
    }
    assert bloom == exact and exact  # non-trivial on this fixture


def test_decontaminate_bloom_fp_stress_still_exact(spark, docs):
    # 64-bit bloom with 1 probe -> massive false-positive rate; the exact
    # verify join must still strip every fp
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    exact = {
        (r["doc_id"], r["n_shared"])
        for r in text.decontaminate(corpus, bench, n=5).collect()
    }
    bloom = {
        (r["doc_id"], r["n_shared"])
        for r in text.decontaminate_bloom(
            corpus, bench, n=5, m_bits=64, num_hashes=1
        ).collect()
    }
    assert bloom == exact


def test_semantic_dedup_identical_vectors_pair(spark, emb):
    # identical vectors share an argmax cell by construction, so the
    # within-cell join must always surface them at cosine 1.0
    clone = emb.filter(F.col("vec_id") == 7).withColumn(
        "vec_id", F.col("vec_id") + 100000
    )
    pairs = dedup.semantic_dedup_pairs(
        emb.unionAll(clone), threshold=0.99, centroid_stride=100, iters=1
    ).collect()
    assert any(
        (r["id_a"], r["id_b"], r["cosine"]) == (7, 100007, 1.0) for r in pairs
    )


def test_semantic_dedup_max_cell_cap_drops_runaway_cell(spark, emb):
    # with a 1-member cap no cell survives -> no pairs (the backstop path)
    assert (
        dedup.semantic_dedup_pairs(emb, threshold=-1.0, max_cell=1).count() == 0
    )


def test_bpe_encode_stats_invariants(spark):
    texts = ["low lower lowest", "new newer newest wider wide", "low low new"]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    r0 = text.bpe_encode_stats(df, merges=0).collect()[0]
    r4 = text.bpe_encode_stats(df, merges=4).collect()[0]
    # zero merges: tokens == base symbols, compression exactly 1
    assert r0["n_tokens"] == r0["n_base_symbols"] and r0["compression"] == 1.0
    # every merge strictly reduces token count while words/base stay fixed
    assert r4["n_words"] == r0["n_words"]
    assert r4["n_base_symbols"] == r0["n_base_symbols"]
    # (== base - sum(n_pairs) only when no argmax pair self-overlaps, so
    # assert the direction plus the exact compression formula instead)
    assert r4["n_tokens"] < r0["n_tokens"]
    assert r4["compression"] == round(r4["n_base_symbols"] / r4["n_tokens"], 6)


def test_incremental_semantic_equals_full_run_restriction(spark, emb):
    # incremental pairs == full old-trained run restricted to new-touching
    # pairs (the cap-commutes contract mirrored from incremental LSH)
    new = emb.filter(F.col("vec_id") % 5 == 3)
    old = emb.filter(F.col("vec_id") % 5 != 3)
    cents = similarity.kmeans_fit(old, centroid_stride=100, iters=2)
    incr = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in dedup.incremental_semantic_pairs(
            new, old, threshold=0.3, centroids=cents
        ).collect()
    }
    full = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in dedup.semantic_dedup_pairs(
            emb, threshold=0.3, centroids=cents
        ).collect()
        if (r["id_a"] % 5 == 3) != (r["id_b"] % 5 == 3)
        or (r["id_a"] % 5 == 3 and r["id_b"] % 5 == 3)
    }
    assert incr == full and incr


def test_gopher_rules_edge_metrics(spark):
    rows = [
        (1, "plain text with the a of and to in is on for words"),
        (2, "bullet doc\n- item one\n- item two"),
        (3, "trailing ellipsis doc…"),
        (4, "symbols ### doc …"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in text.gopher_rules(df).collect()}
    assert out[2]["bullet_frac"] == round(2 / 3, 4)
    assert out[3]["ellipsis_frac"] == 1.0 and out[3]["symbol_ratio"] == round(1 / 3, 4)
    assert out[4]["symbol_ratio"] == 1.0  # '###' counts 3 symbols over 4 words + '…'
    assert not out[3]["keep"]  # fails word-count and ellipsis rules


def test_duplicated_spans_exact_extents(spark):
    # Docs 1 and 2 share one 40-char region at different offsets; doc 3 is
    # unique. Expect exactly one maximal span per sharing doc at the right
    # 1-based inclusive extent, nothing for doc 3.
    shared = "0123456789abcdefghijABCDEFGHIJklmnopqrst"  # 40 chars
    assert len(shared) == 40
    df = spark.createDataFrame(
        [
            (1, "XX" + shared + "YYYYYYYY"),
            (2, "zzzzzzzzzz" + shared),
            (3, "completely unrelated text with no repeats at all here"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["span_len"])
        for r in dedup.duplicated_spans(df, k=20).collect()
    }
    # doc 1: shared region occupies chars 3..42; doc 2: chars 11..50
    assert out == {1: (3, 42, 40), 2: (11, 50, 40)}


def test_duplicated_spans_merges_adjacent_windows(spark):
    # Two copies of one long region -> the k-gram windows tile the whole
    # region and must merge into ONE island, not len-k+1 rows.
    region = "the quick brown fox jumps over the lazy dog repeatedly" * 2
    df = spark.createDataFrame(
        [(1, "A" * 7 + region), (2, region + "B" * 13)], ["doc_id", "text"]
    )
    rows = dedup.duplicated_spans(df, k=20).collect()
    assert len(rows) == 2  # one maximal span per doc
    assert all(r["span_len"] == len(region) for r in rows)


def test_duplicated_spans_anchor_subset_and_gap_merge(spark):
    # Content-defined anchoring: every anchored span must lie inside some
    # exact (anchor_mod=1) span — anchoring may miss or shrink spans but
    # can never invent duplicated text.
    texts = [
        (i, f"prefix{i} " + "shared boilerplate sentence number %d ok " % (i % 3) * 6)
        for i in range(12)
    ]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    exact = dedup.duplicated_spans(df, k=20).collect()
    anchored = dedup.duplicated_spans(df, k=20, anchor_mod=4, merge_gap=8).collect()
    exact_by_doc = {}
    for r in exact:
        exact_by_doc.setdefault(r["doc_id"], []).append((r["span_start"], r["span_end"]))
    for r in anchored:
        spans = exact_by_doc.get(r["doc_id"], [])
        assert any(s <= r["span_start"] and r["span_end"] <= e for s, e in spans), (
            r,
            spans,
        )


def test_excise_spans_cuts_exact_regions(spark):
    shared = "0123456789abcdefghijABCDEFGHIJklmnopqrst"  # 40 chars
    df = spark.createDataFrame(
        [
            (1, "XX" + shared + "YYYYYYYY"),
            (2, "zzzzzzzzzz" + shared),
            (3, "completely unrelated text with no repeats at all here"),
        ],
        ["doc_id", "text"],
    )
    spans = dedup.duplicated_spans(df, k=20)
    out = {r["doc_id"]: r for r in dedup.excise_spans(df, spans).collect()}
    assert out[1]["cleaned"] == "XX" + "YYYYYYYY"
    assert out[2]["cleaned"] == "zzzzzzzzzz"
    assert out[3]["cleaned"].startswith("completely unrelated")
    assert out[3]["n_spans"] == 0 and out[3]["dup_chars"] == 0
    # conservation: cleaned_len + dup_chars == original length, every doc
    for doc_id, r in out.items():
        orig = df.filter(F.col("doc_id") == doc_id).collect()[0]["text"]
        assert r["cleaned_len"] + r["dup_chars"] == len(orig)


def test_excise_spans_whole_doc_duplicated(spark):
    text = "an entirely shared document body with enough characters"
    df = spark.createDataFrame([(1, text), (2, text)], ["doc_id", "text"])
    spans = dedup.duplicated_spans(df, k=20)
    out = {r["doc_id"]: r for r in dedup.excise_spans(df, spans).collect()}
    assert out[1]["cleaned"] == "" and out[2]["cleaned"] == ""
    assert out[1]["dup_chars"] == len(text)


def test_cap_per_stratum_caps_and_ranks(spark, docs):
    out = text.cap_per_stratum(docs, cap=3, strata_col="source")
    rows = out.select("source", "strat_rank").collect()
    per = {}
    for r in rows:
        per.setdefault(r["source"], []).append(r["strat_rank"])
    assert per, "no strata"
    for src, ranks in per.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= 3
    # deterministic: second run identical keep-set
    again = {
        (r["doc_id"], r["strat_rank"])
        for r in text.cap_per_stratum(docs, cap=3, strata_col="source")
        .select("doc_id", "strat_rank")
        .collect()
    }
    first = {(r["doc_id"], r["strat_rank"]) for r in out.select("doc_id", "strat_rank").collect()}
    assert first == again


def test_dsir_weights_favor_target_like_docs(spark):
    # target distribution = 'alpha beta' docs; corpus has those plus
    # 'gamma delta' docs — the target-like docs must score higher
    rows = [(i, "alpha beta alpha beta alpha beta") for i in range(10)] + [
        (i + 10, "gamma delta gamma delta gamma delta") for i in range(10)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    target = df.filter(F.col("doc_id") < 10)
    w = {r["doc_id"]: r["dsir_w"] for r in text.dsir_weights(df, target, buckets=64).collect()}
    assert len(w) == 20
    assert min(w[i] for i in range(10)) > max(w[i + 10] for i in range(10))
    # zero-token docs drop
    df2 = df.union(spark.createDataFrame([(99, "   ")], ["doc_id", "text"]))
    w2 = text.dsir_weights(df2, target, buckets=64)
    assert w2.filter(F.col("doc_id") == 99).count() == 0


def test_knn_classify_separable_clusters(spark):
    from staticql_spark.operators.classify import knn_classify

    # two well-separated clusters in 4d; held-out points must classify
    # to their own cluster with unanimous votes
    corpus = [(i, [10.0 + (i % 3), 10.0, 0.1 * i, 1.0], 0) for i in range(1, 7)] + [
        (i + 10, [-10.0 - (i % 3), -10.0, -0.1 * i, 1.0], 1) for i in range(1, 7)
    ]
    queries = [(100, [9.5, 10.5, 0.2, 1.0], 0), (101, [-9.5, -10.5, -0.2, 1.0], 1)]
    c = spark.createDataFrame(corpus, "vec_id long, embedding array<double>, label int")
    q = spark.createDataFrame(queries, "vec_id long, embedding array<double>, label int")
    out = {r["query_id"]: r for r in knn_classify(q, c, k=3).collect()}
    assert out[100]["pred_label"] == 0 and out[100]["correct"]
    assert out[101]["pred_label"] == 1 and out[101]["correct"]
    assert out[100]["votes"] == 3 and out[101]["votes"] == 3


def test_knn_classify_vote_tiebreak_label_asc(spark):
    from staticql_spark.operators.classify import knn_classify

    # k=2 with one neighbor of each label at identical distance -> 1-1
    # tie -> deterministic label ASC wins
    c = spark.createDataFrame(
        [(1, [1.0, 0.0], 5), (2, [0.0, 1.0], 3)],
        "vec_id long, embedding array<double>, label int",
    )
    q = spark.createDataFrame(
        [(100, [1.0, 1.0], 3)], "vec_id long, embedding array<double>, label int"
    )
    r = knn_classify(q, c, k=2).collect()[0]
    assert r["pred_label"] == 3 and r["votes"] == 1 and r["correct"]


def test_mixture_epochs_cap_and_budget(spark):
    # stratum 'big' has ~100x the tokens of 'small': with an even split,
    # small hits the 4-epoch cap, big gets < 1 epoch
    rows = [(i, "w " * 200, "big") for i in range(50)] + [
        (100 + i, "w w w w", "small") for i in range(5)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {r["source"]: r for r in text.mixture_epochs(df, budget_tokens=10_000).collect()}
    assert out["small"]["epochs"] == 4.0
    assert out["big"]["epochs"] < 1.0
    assert out["big"]["target_tokens"] == 5000.0
    assert out["small"]["effective_tokens"] == 4.0 * out["small"]["n_tokens"]


def test_mixture_epochs_zero_token_stratum_is_zero(spark):
    # a stratum whose docs are all whitespace has n_tokens = 0: the naive
    # target/0 is NULL, least() skips NULLs, and the stratum would claim
    # the 4-epoch CAP while contributing nothing — the guard emits 0.0
    rows = [(1, "w w w w", "real"), (2, "   ", "empty"), (3, " ", "empty")]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {r["source"]: r for r in text.mixture_epochs(df, budget_tokens=100).collect()}
    assert out["empty"]["n_tokens"] == 0
    assert out["empty"]["epochs"] == 0.0
    assert out["empty"]["effective_tokens"] == 0.0
    assert out["real"]["epochs"] > 0.0


def test_dsir_target_equals_corpus_zero_weights(spark, docs):
    # identity invariant: when the target IS the corpus, every per-bucket
    # log-ratio is ln(x) - ln(x) = exact 0.0, so all doc weights are 0
    out = text.dsir_weights(docs, docs, buckets=256).collect()
    assert out and all(r["dsir_w"] == 0.0 for r in out)


def test_dsir_empty_target_uniform_prior(spark):
    # an empty target degrades to the uniform add-1 prior: every token
    # contributes ln(1/B) - ln((rc+1)/(R+B)) — finite, never NULL
    df = spark.createDataFrame([(1, "x y z"), (2, "x x x")], ["doc_id", "text"])
    out = text.dsir_weights(df, df.filter(F.col("doc_id") < 0), buckets=64).collect()
    assert len(out) == 2
    assert all(r["dsir_w"] is not None for r in out)


def test_knn_classify_ivf_candidates_match_exact(spark, emb):
    # the sublinear path: IVF candidates injected into the same vote tail
    # agree with exact cosine_topk on the sf0.001 embeddings (nprobe high
    # enough that IVF recalls the true neighbors)
    from staticql_spark.operators.classify import knn_classify

    q = emb.filter(F.col("vec_id") % 25 == 0)
    c = emb.filter(F.col("vec_id") % 25 != 0)
    exact = {
        (r["query_id"], r["pred_label"], r["votes"])
        for r in knn_classify(q, c, k=5).collect()
    }
    nbrs = similarity.ivf_topk(q, c, k=5, centroid_stride=40, nprobe=8)
    via_ivf = {
        (r["query_id"], r["pred_label"], r["votes"])
        for r in knn_classify(q, c, k=5, neighbors=nbrs).collect()
    }
    assert {x[0] for x in via_ivf} == {x[0] for x in exact}
    # votes may differ only where IVF's candidate set differs; demand
    # >= 90% identical (query, pred, votes) triples on this data
    assert len(via_ivf & exact) >= int(0.9 * len(exact))


# ---------------------------------------------------------------------------
# r6 operators: contrastive mining, index balance, class separation,
# length budget, vocab coverage
# ---------------------------------------------------------------------------


def test_hard_negatives_roles_ranks_and_hardness(spark):
    # two tight clusters on orthogonal axes + one near-boundary point:
    # positives must share the query's label, negatives must not, and the
    # top negative must be the geometrically closest other-label vector
    rows = [
        (1, [1.0, 0.0], 0),
        (2, [0.99, 0.1], 0),
        (3, [0.98, 0.2], 0),
        (4, [0.0, 1.0], 1),
        (5, [0.1, 0.99], 1),
        (6, [0.7, 0.7], 1),  # the hard negative for label-0 queries
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = similarity.hard_negatives(
        df.filter(F.col("vec_id") == 1), df, n_pos=2, n_neg=2
    ).collect()
    pos = sorted(r["neighbor_id"] for r in out if r["role"] == "pos")
    neg = [r for r in out if r["role"] == "neg"]
    assert pos == [2, 3]
    assert all(r["rank"] <= 2 for r in out)
    assert min(neg, key=lambda r: r["rank"])["neighbor_id"] == 6


def test_ivf_cell_balance_accounting(spark, emb):
    out = similarity.ivf_cell_balance(emb, centroid_stride=20).collect()
    assert sum(r["n_vectors"] for r in out) == emb.count()
    assert abs(sum(r["share"] for r in out) - 1.0) < 1e-4
    mean_x = sum(r["x_mean"] for r in out) / len(out)
    assert abs(mean_x - 1.0) < 1e-4


def test_class_separation_separable_clusters(spark):
    # two orthogonal clusters: cohesion ~1, nearest_other ~0, margin ~1
    rows = [(i, [1.0, float(i % 3) * 0.01], 0) for i in range(6)] + [
        (10 + i, [float(i % 3) * 0.01, 1.0], 1) for i in range(6)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = {r["label"]: r for r in similarity.class_separation(df, dim=2).collect()}
    assert out[0]["n"] == 6 and out[1]["n"] == 6
    for lbl in (0, 1):
        assert out[lbl]["cohesion"] > 0.99
        assert out[lbl]["nearest_other"] < 0.05
        assert out[lbl]["margin"] > 0.9


def _rows_set(df):
    return sorted(map(str, df.collect()))


@pytest.mark.parametrize("nparts", [1, 64])
def test_avg_centroid_partition_invariance(spark, emb, nparts):
    # r6's one driver failure (embedding_class_sep): a float F.avg centroid's
    # summation order varies with partition count, and a downstream 6dp round
    # flipped at local[32] vs DuckDB.  The decimal_mean_array fix makes every
    # avg-centroid operator summation-order-free; this asserts each one emits
    # IDENTICAL rows at repartition(1) vs repartition(nparts) — an invariance
    # no float-avg formulation satisfies in general.
    from staticql_spark.operators import pq as pqm

    base = emb.repartition(8)  # the reference output, any fixed layout
    shuf = emb.repartition(nparts)

    for fn in (
        lambda d: similarity.class_separation(d, dim=64),
        lambda d: similarity.kmeans_fit(d, centroid_stride=100, iters=2),
        lambda d: pqm.pq_train(d, m=4, dim=64, stride=100, iters=2),
    ):
        assert _rows_set(fn(base)) == _rows_set(fn(shuf))


def test_length_budget_known_values(spark):
    rows = [
        (1, " ".join(["w"] * 10)),   # bin 0, pad 64-10=54
        (2, " ".join(["w"] * 70)),   # bin 64, pad 128-70=58, trunc 6
        (3, ""),                     # bin 0, nt=0, pad 64 (one empty padded seq)
        (4, " ".join(["w"] * 64)),   # bin 64, pad 0, trunc 0
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["bin_lo"]: r for r in text.length_budget(df, seq_len=64, bin_width=16).collect()}
    assert out[0]["n_docs"] == 2 and out[0]["n_tokens"] == 10
    assert out[0]["pad_waste"] == 54 + 64 and out[0]["trunc_loss"] == 0
    assert out[64]["n_docs"] == 2 and out[64]["n_tokens"] == 134
    assert out[64]["pad_waste"] == 58 + 0 and out[64]["trunc_loss"] == 6


def test_vocab_coverage_exact_and_monotone(spark):
    # counts: a=4, b=2, c=1, d=1 (ties break term-asc: c before d)
    df = spark.createDataFrame(
        [(1, "a a b c"), (2, "a a b d")], ["doc_id", "text"]
    )
    out = {r["vocab_size"]: r for r in text.vocab_coverage(df, vocab_sizes=[1, 2, 3]).collect()}
    assert out[1]["covered_tokens"] == 4 and out[1]["total_tokens"] == 8
    assert out[2]["covered_tokens"] == 6
    assert out[3]["covered_tokens"] == 7  # c wins the tie at rank 3
    assert out[1]["coverage"] == 0.5 and out[3]["coverage"] == 0.875
    # a vocab size beyond the whole vocabulary covers everything
    big = {
        r["vocab_size"]: r
        for r in text.vocab_coverage(df, vocab_sizes=[1000]).collect()
    }
    assert big[1000]["covered_tokens"] == 8 and big[1000]["coverage"] == 1.0


def test_containment_pairs_quote_wrapping(spark):
    # doc 2 wraps doc 1 verbatim: containment(1 in 2) = 1.0 even though
    # Jaccard is low; the reverse direction is partial
    base = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, base),
        (2, "intro words here " + base + " plus a long trailing tail of extra tokens"),
        (3, "completely different content nothing shared at all here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        (r["contained_id"], r["container_id"]): r
        for r in dedup.containment_pairs(df, threshold=0.2).collect()
    }
    assert out[(1, 2)]["containment"] == 1.0
    # reverse direction is partial: |A ∩ B| / |A| = 4/15
    assert (2, 1) in out and 0.2 < out[(2, 1)]["containment"] < 0.5
    assert all(3 not in k for k in out)


def test_term_pmi_associated_vs_independent(spark):
    # 'x' and 'y' ALWAYS co-occur (pmi = ln(N * n_xy / (n_x n_y)) > 0);
    # 'x' and 'z' co-occur at chance level in half the docs
    rows = [(i, "x y" if i % 2 == 0 else "x z") for i in range(20)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        (r["term_a"], r["term_b"]): r["pmi"]
        for r in text.term_pmi(df, min_pair_df=1, top=10).collect()
    }
    import math
    # n_xy=10, n_x=20, n_y=10, N=20 -> pmi = ln(10*20/200) = 0
    assert abs(out[("x", "y")] - 0.0) < 1e-6
    # y,z never co-occur -> absent
    assert ("y", "z") not in out


def test_bigram_logprob_known_values(spark):
    import math
    df = spark.createDataFrame([(1, "a b"), (2, "a b"), (3, "")], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in text.bigram_logprob(df).collect()}
    # V=2; bigram (a,b): n12=2, n1=2 -> P=(2+1)/(2+2)=0.75
    want = round(-math.log(0.75), 4)
    assert out[1]["n_bigrams"] == 1 and out[1]["bigram_nll"] == want
    assert out[3]["n_bigrams"] == 0 and out[3]["bigram_nll"] == 0.0


def test_kmv_grouped_small_groups_exact(spark):
    # groups under k are exact (sketch_k == ndv == estimate); a group
    # above k estimates within the standard ~1/sqrt(k) error
    from staticql_spark.operators.sketch import kmv_grouped

    rows = [(f"u{i}", "small") for i in range(10)] + [
        (f"v{i}", "big") for i in range(2000)
    ]
    df = spark.createDataFrame(rows, ["uid", "grp"])
    out = {r["grp"]: r for r in kmv_grouped(df, "grp", "uid", k=64).collect()}
    assert out["small"]["sketch_k"] == 10
    assert out["small"]["est_ndv"] == 10.0 and out["small"]["exact_ndv"] == 10
    assert out["big"]["sketch_k"] == 64
    assert abs(out["big"]["est_ndv"] - 2000) / 2000 < 0.5


# ---------------------------------------------------------------------
# late-r6 operators: chunk dedup, shuffle shards, product quantization
# ---------------------------------------------------------------------


def test_chunk_dedup_drops_shared_chunk_keeps_order(spark):
    # docs 1 and 2 share their first 4-token chunk (boilerplate); the
    # tails are unique.  width=4, min_docs=2: the shared chunk drops from
    # both, unique chunks survive in original order.
    df = spark.createDataFrame(
        [
            (1, "nav bar home link alpha beta gamma delta"),
            (2, "nav bar home link epsilon zeta eta theta"),
            (3, "completely unrelated words only here now ok"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in dedup.chunk_dedup(df, width=4, min_docs=2).collect()}
    assert out[1]["n_chunks"] == 2 and out[1]["n_dropped"] == 1
    assert out[1]["clean_text"] == "alpha beta gamma delta"
    assert out[2]["clean_text"] == "epsilon zeta eta theta"
    assert out[3]["n_dropped"] == 0
    assert out[3]["clean_text"] == df.filter("doc_id = 3").first()["text"]


def test_chunk_dedup_within_doc_repeat_not_dropped(spark):
    # the same chunk twice in ONE doc is df=1 distinct doc -> kept (the
    # count is distinct-doc frequency, C4 semantics, not total occurrences)
    df = spark.createDataFrame([(1, "x y x y"), (2, "p q r s")], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in dedup.chunk_dedup(df, width=2, min_docs=2).collect()}
    assert out[1]["n_dropped"] == 0 and out[1]["clean_text"] == "x y x y"


def test_shuffle_shards_is_permutation_and_deterministic(spark, docs):
    out = text.shuffle_shards(docs, n_shards=4, pos_buckets=8).collect()
    n = docs.count()
    assert len(out) == n
    # per-shard positions are exactly 1..|shard|
    by_shard: dict[int, list[int]] = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    for shard, ps in by_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1)), shard
    # deterministic: a second run yields the identical layout
    again = {r["doc_id"]: (r["shard"], r["pos"])
             for r in text.shuffle_shards(docs, n_shards=4, pos_buckets=8).collect()}
    assert all(again[r["doc_id"]] == (r["shard"], r["pos"]) for r in out)
    # two-phase rank == the naive single-window rank (key order)
    from pyspark.sql import Window
    key = F.conv(F.substring(F.md5(F.concat(F.lit("shuf1|"),
        F.col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long")
    naive = docs.select(
        "doc_id",
        F.pmod(key, F.lit(4)).cast("int").alias("shard"),
        F.row_number().over(
            Window.partitionBy(F.pmod(key, F.lit(4))).orderBy(key, "doc_id")
        ).alias("pos"),
    ).collect()
    naive_map = {r["doc_id"]: (r["shard"], r["pos"]) for r in naive}
    assert all(naive_map[r["doc_id"]] == (r["shard"], r["pos"]) for r in out)


def test_shuffle_shards_seed_changes_layout(spark, docs):
    a = {r["doc_id"]: (r["shard"], r["pos"])
         for r in text.shuffle_shards(docs, n_shards=4, seed="s1").collect()}
    b = {r["doc_id"]: (r["shard"], r["pos"])
         for r in text.shuffle_shards(docs, n_shards=4, seed="s2").collect()}
    assert any(a[k] != b[k] for k in a)


def test_pq_encode_picks_nearest_codeword(spark):
    # two tight clusters in 4-d, m=2 subspaces: after training, every
    # vector's code per subspace must be the codeword minimizing L2 —
    # verified against a brute-force argmin in Python
    from staticql_spark.operators import pq as pqm
    rows = [
        (0, [0.0, 0.1, 5.0, 5.1]),
        (1, [0.1, 0.0, 5.1, 5.0]),
        (100, [9.0, 9.1, -3.0, -3.1]),
        (101, [9.1, 9.0, -3.1, -3.0]),
    ]
    df = spark.createDataFrame([(i, [float(x) for x in v]) for i, v in rows],
                               ["vec_id", "embedding"])
    cbs = pqm.pq_train(df, m=2, dim=4, stride=100, iters=2)
    codes = pqm.pq_encode(df, cbs, m=2, dim=4)
    cb = [(r["subspace"], r["code"], list(r["centroid"])) for r in cbs.collect()]
    vecs = dict(rows)
    for r in codes.collect():
        v = vecs[r["vid"]]
        sv = v[r["subspace"] * 2:(r["subspace"] + 1) * 2]
        cands = [(round(sum((a - b) ** 2 for a, b in zip(sv, c)), 6), code)
                 for s, code, c in cb if s == r["subspace"]]
        assert min(cands)[1] == r["code"], (r, cands)


def test_pq_adc_finds_cluster_mate(spark):
    # ADC top-1 for each query must be its cluster mate, not the far
    # cluster — the recall property PQ is supposed to preserve
    from staticql_spark.operators import pq as pqm
    rows = [
        (0, [0.0, 0.1, 5.0, 5.1]),
        (1, [0.1, 0.0, 5.1, 5.0]),
        (100, [9.0, 9.1, -3.0, -3.1]),
        (101, [9.1, 9.0, -3.1, -3.0]),
    ]
    df = spark.createDataFrame([(i, [float(x) for x in v]) for i, v in rows],
                               ["vec_id", "embedding"])
    cbs = pqm.pq_train(df, m=2, dim=4, stride=100, iters=2)
    codes = pqm.pq_encode(df, cbs, m=2, dim=4)
    top = pqm.pq_adc_topk(df, codes, cbs, k=1, m=2, dim=4)
    mate = {0: 1, 1: 0, 100: 101, 101: 100}
    for r in top.collect():
        assert r["neighbor_id"] == mate[r["query_id"]], r


def test_ivfpq_topk_finds_cluster_mate(spark):
    # coarse cells + ADC: with stride such that one rep per cluster is a
    # coarse centroid, each query's top-1 must still be its cluster mate
    from staticql_spark.operators import pq as pqm
    rows = [
        (0, [0.0, 0.1, 5.0, 5.1]),
        (1, [0.1, 0.0, 5.1, 5.0]),
        (100, [9.0, 9.1, -3.0, -3.1]),
        (101, [9.1, 9.0, -3.1, -3.0]),
    ]
    df = spark.createDataFrame([(i, [float(x) for x in v]) for i, v in rows],
                               ["vec_id", "embedding"])
    cbs = pqm.pq_train(df, m=2, dim=4, stride=100, iters=2)
    codes = pqm.pq_encode(df, cbs, m=2, dim=4)
    top = pqm.ivfpq_topk(df, df, codes, cbs, k=1, m=2, dim=4,
                         coarse_stride=100, nprobe=1)
    mate = {0: 1, 1: 0, 100: 101, 101: 100}
    got = {r["query_id"]: r["neighbor_id"] for r in top.collect()}
    # nprobe=1: each query probes its own cluster's cell only; the mate
    # is in that cell, the far pair is not
    assert got == mate, got


def test_cell_prototypicality_ranks_and_prune_set(spark, emb):
    # per cell: ranks are 1..n, the prune set is exactly the floor(n/4)
    # most-prototypical members, and every dropped row is at least as
    # close to the centroid as every kept row
    out = similarity.cell_prototypicality(emb, drop_frac=0.25).collect()
    by_cell: dict = {}
    for r in out:
        by_cell.setdefault(r["cell"], []).append(r)
    assert by_cell
    for cell, rows in by_cell.items():
        n = len(rows)
        assert sorted(r["proto_rank"] for r in rows) == list(range(1, n + 1))
        assert all(r["cell_n"] == n for r in rows)
        dropped = [r for r in rows if r["proto_drop"]]
        kept = [r for r in rows if not r["proto_drop"]]
        assert len(dropped) == n // 4
        if dropped and kept:
            assert min(d["proto_cos"] for d in dropped) >= max(
                k["proto_cos"] for k in kept
            ) - 1e-9


def test_training_order_expansion_and_positions(spark, docs):
    # budget => epochs ~uniform per source; every (doc, rep) instance gets
    # an independent shard/pos; per-shard positions are exactly 1..n
    out = text.training_order(docs, budget_tokens=8_000, n_shards=4).collect()
    assert out
    by_shard: dict[int, list[int]] = {}
    reps_per_doc: dict[int, int] = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
        reps_per_doc[r["doc_id"]] = max(reps_per_doc.get(r["doc_id"], 0), r["rep"])
    for shard, ps in by_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1)), shard
    # reps are contiguous from 1 per doc
    for r in out:
        assert 1 <= r["rep"] <= reps_per_doc[r["doc_id"]]
    # at least one doc repeats, and its instances are independently placed
    multi = [d for d, n in reps_per_doc.items() if n >= 2]
    if multi:
        placements = {}
        for r in out:
            placements.setdefault(r["doc_id"], set()).add((r["shard"], r["pos"]))
        d = multi[0]
        assert len(placements[d]) == sum(1 for r in out if r["doc_id"] == d)
    # deterministic
    again = {(r["doc_id"], r["rep"]): (r["shard"], r["pos"])
             for r in text.training_order(docs, budget_tokens=8_000, n_shards=4).collect()}
    assert all(again[(r["doc_id"], r["rep"])] == (r["shard"], r["pos"]) for r in out)


def test_temperature_weights_flattens_mixture(spark):
    # skewed 2-strata corpus: alpha<1 must up-sample the small stratum
    # (boost>1) and down-sample the big one (boost<1); q sums to 1;
    # alpha=1 is the identity
    rows = [(i, "w " * 100, "big") for i in range(20)] + [
        (100 + i, "w " * 10, "small") for i in range(2)
    ]
    df = spark.createDataFrame(
        [(i, t.strip(), s) for i, t, s in rows], ["doc_id", "text", "source"]
    )
    out = {r["source"]: r for r in text.temperature_weights(df, alpha=0.7).collect()}
    assert abs(sum(r["q_share"] for r in out.values()) - 1.0) < 1e-4
    assert out["small"]["boost"] > 1.0 > out["big"]["boost"]
    assert out["small"]["q_share"] > out["small"]["p_share"]
    ident = {r["source"]: r for r in text.temperature_weights(df, alpha=1.0).collect()}
    for s in ident:
        assert abs(ident[s]["q_share"] - ident[s]["p_share"]) < 1e-6


def test_kanon_release_suppresses_small_cells(spark):
    from staticql_spark.operators.privacy import kanon_release

    rows = (
        [("a", f"u{i}") for i in range(6)]          # cell a: 6 subjects
        + [("b", f"v{i}") for i in range(2)]        # cell b: 2 -> suppressed
        + [("c", "w0"), ("c", "w0"), ("c", "w1")]   # cell c: 2 -> suppressed
    )
    df = spark.createDataFrame(rows, ["dim", "subject"])
    out = kanon_release(df, dims=["dim"], k=3, subject_col="subject").collect()
    rel = {r["dim"]: r for r in out}
    assert set(rel) == {"a", "__other__"}
    assert rel["a"]["n_subjects"] == 6 and not rel["a"]["suppressed"]
    other = rel["__other__"]
    assert other["suppressed"] and other["n_rows"] == 5 and other["n_subjects"] == 4
    # released totals preserved
    assert sum(r["n_rows"] for r in out) == len(rows)
    # no suppression -> no residual row
    out2 = kanon_release(df, dims=["dim"], k=1, subject_col="subject").collect()
    assert all(not r["suppressed"] for r in out2) and len(out2) == 3


def test_embedding_drift_psi_zero_when_identical(spark, emb):
    # same population on both sides: every psi term ~0 and shares equal
    out = similarity.embedding_drift(emb, emb).collect()
    assert out
    for r in out:
        assert abs(r["psi_term"]) < 1e-6
        assert abs(r["p_old"] - r["p_new"]) < 1e-6
    # shifted population (half the corpus dropped from 'new'): total PSI
    # strictly positive and shares sum ~1 on both sides
    new = emb.filter("vec_id % 2 = 0")
    out2 = similarity.embedding_drift(emb, new).collect()
    assert sum(r["psi_term"] for r in out2) >= 0.0
    assert abs(sum(r["p_old"] for r in out2) - 1.0) < 1e-3
    assert abs(sum(r["p_new"] for r in out2) - 1.0) < 1e-3


def test_label_noise_report_flags_planted_flip(spark):
    # two tight clusters, one deliberately mislabeled point: its
    # neighborhood outvotes the bad label, so exactly that label shows
    # noise while the clean cluster reads 0
    from staticql_spark.operators.classify import label_noise_report
    rows = (
        [(i, [1.0 + 0.01 * i, 0.0], "a") for i in range(5)]
        + [(10 + i, [0.0, 1.0 + 0.01 * i], "b") for i in range(4)]
        + [(99, [0.0, 1.05], "a")]  # sits in cluster b, labeled a
    )
    df = spark.createDataFrame(
        [(i, [float(x) for x in v], l) for i, v, l in rows],
        ["vec_id", "embedding", "label"],
    )
    out = {r["label"]: r for r in label_noise_report(df, k=3).collect()}
    assert out["a"]["n_flagged"] == 1 and out["a"]["n"] == 6
    assert out["b"]["n_flagged"] == 0


def test_image_ahash_expr_matches_numpy_twin(spark):
    # the JVM-expression aHash (oracle-parity path) and the numpy bit
    # rule over decode_image (production path) must agree bit-for-bit
    media = multimodal.synthetic_media_real(spark, n=16)
    got = {
        r["media_id"]: (r["ahash"], r["canonical"], r["n_dups"])
        for r in multimodal.image_ahash_small(media).collect()
    }
    rows = media.filter("kind = 'image'").collect()
    assert set(got) == {r["media_id"] for r in rows}
    for r in rows:
        arr = multimodal.decode_image(bytes(r["payload"]))
        assert got[r["media_id"]][0] == multimodal.ahash_np(arr), r["media_id"]


def test_exact_quantiles_matches_sql_percentile_rank_def(spark):
    # two-phase bucketed quantiles == brute-force rank definition
    # (value at ceil(q*n), 1-based ascending) on a known small frame
    from staticql_spark.operators.profile import exact_quantiles
    vals = [float(v) for v in [5, 1, 9, 3, 7, 2, 8, 4, 6, 10]]
    df = spark.createDataFrame([(v,) for v in vals], ["x"])
    out = {r["q"]: r for r in exact_quantiles(df, "x", [0.1, 0.5, 1.0], num_buckets=4).collect()}
    srt = sorted(vals)
    import math
    for q in (0.1, 0.5, 1.0):
        want = srt[max(math.ceil(q * len(vals)), 1) - 1]
        assert out[q]["value"] == want, (q, out[q])
        assert out[q]["n"] == len(vals)
    # degenerate all-equal column: every quantile is that value
    dfc = spark.createDataFrame([(3.0,)] * 7, ["x"])
    outc = exact_quantiles(dfc, "x", [0.5]).collect()
    assert outc[0]["value"] == 3.0


def test_audio_energy_hash_expr_matches_numpy_twin(spark):
    import numpy as np
    media = multimodal.synthetic_media_real(spark, n=16)
    got = {
        r["media_id"]: (r["total_energy"], r["ehash"])
        for r in multimodal.audio_energy_hash_small(media).collect()
    }
    rows = media.filter("kind = 'audio'").collect()
    assert set(got) == {r["media_id"] for r in rows}
    for r in rows:
        pcm = np.frombuffer(bytes(r["payload"])[44:], dtype="<i2")
        assert got[r["media_id"]] == multimodal.energy_hash_np(pcm), r["media_id"]


def test_fd_discovery_key_determines_all(spark):
    from staticql_spark.operators.profile import fd_discovery
    df = spark.createDataFrame(
        [(1, "a", "x"), (2, "a", "y"), (3, "b", "y")], ["k", "g", "v"]
    )
    out = {(r["determinant"], r["dependent"]): r for r in
           fd_discovery(df, ["k", "g", "v"]).collect()}
    assert out[("k", "g")]["holds"] and out[("k", "v")]["holds"]
    assert not out[("g", "v")]["holds"] and out[("g", "v")]["violations"] == 1
    assert not out[("v", "g")]["holds"]


def test_ri_report_counts_orphans(spark):
    from staticql_spark.operators.profile import ri_report
    child = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 99), (4, None)], ["id", "fk"]
    )
    parent = spark.createDataFrame([(10,), (20,)], ["pk"])
    out = ri_report([("c->p", child, "fk", "", parent, "pk")]).collect()
    r = out[0]
    # NULL fk excluded (SQL RI semantics); one orphan (99)
    assert r["n_child"] == 3 and r["n_orphans"] == 1
    assert abs(r["orphan_rate"] - round(1 / 3, 6)) < 1e-9


def test_incremental_chunk_dedup_vs_index(spark):
    # a batch chunk drops when old-corpus frequency + batch frequency
    # reaches min_docs: seen-once-in-old boilerplate is cut immediately,
    # batch-internal repeats are caught, fresh chunks survive
    old = spark.createDataFrame(
        [(1, "nav bar home link old tail one here")], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [
            (10, "nav bar home link fresh alpha beta gamma"),
            (11, "batch dup chunk here fresh delta eps zeta"),
            (12, "batch dup chunk here fresh eta theta iota"),
        ],
        ["doc_id", "text"],
    )
    idx = dedup.chunk_index(old, width=4)
    out = {r["doc_id"]: r for r in
           dedup.incremental_chunk_dedup(new, idx, width=4, min_docs=2).collect()}
    assert out[10]["clean_text"] == "fresh alpha beta gamma"      # old hit cut
    assert out[11]["clean_text"] == "fresh delta eps zeta"        # batch dup cut
    assert out[12]["clean_text"] == "fresh eta theta iota"
    assert all(out[i]["n_dropped"] == 1 for i in (10, 11, 12))


def test_kmv_join_estimate_exact_regime_and_accuracy(spark):
    from staticql_spark.operators.sketch import kmv_join_estimate
    # overlap 500..999 between two 1000-key ranges; k > ndv so every
    # sketch is exact and the inclusion-exclusion intersection is exact
    a = spark.range(0, 1000).select(F.col("id").alias("ka"))
    b = spark.range(500, 1500).select(F.col("id").alias("kb"))
    r = kmv_join_estimate(a, "ka", b, "kb", k=4096).collect()[0]
    assert r["exact_a"] == 1000 and r["exact_b"] == 1000
    assert r["exact_intersection"] == 500
    assert r["est_a"] == 1000.0 and r["est_union"] == 1500.0
    assert r["est_intersection"] == 500.0
    # sketch regime (k << ndv): estimate within 25% of truth
    r2 = kmv_join_estimate(a, "ka", b, "kb", k=256).collect()[0]
    assert abs(r2["est_intersection"] - 500) / 500 < 0.25, r2


def test_vocab_drift_identical_and_shifted(spark, docs):
    out = text.vocab_drift(docs, docs, buckets=64).collect()
    assert out and all(abs(r["psi_term"]) < 1e-6 for r in out)
    shifted = docs.limit(10)
    out2 = text.vocab_drift(docs, shifted, buckets=64).collect()
    assert sum(r["psi_term"] for r in out2) >= 0.0


def test_bot_score_flags_metronome_user(spark):
    import __spark_entry__ as e
    import datetime
    base = datetime.datetime(2024, 1, 1)
    rows = []
    # user 1: 30 events exactly 60s apart (bot); user 2: irregular gaps
    for i in range(30):
        rows.append((i, base + datetime.timedelta(seconds=60 * i), 1, "view", 1.0, "{}"))
    gaps = [7, 200, 3, 900, 45, 12, 600, 5, 300, 90, 1500, 30, 8, 250,
            70, 33, 410, 15, 120, 55, 700, 22, 180, 64, 95, 11, 350, 42, 9]
    t = base
    rows.append((100, t, 2, "view", 1.0, "{}"))
    for j, gsec in enumerate(gaps):
        t = t + datetime.timedelta(seconds=gsec)
        rows.append((101 + j, t, 2, "view", 1.0, "{}"))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, event_type string, value double, props string"
    )
    import tempfile, os
    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    out = {r["user_id"]: r for r in e.q_events_bot_score(spark, d).collect()}
    assert out[1]["bot_flag"] and out[1]["gap_cv"] < 1e-6
    assert not out[2]["bot_flag"] and out[2]["gap_cv"] > 0.5


def test_triangle_counts_known_graph(spark):
    # K4 on {1,2,3,4} plus pendant 5: each K4 node sits in C(3,2)=3
    # triangles, the pendant in none; duplicated/reversed edges collapse
    from staticql_spark.operators.graph import triangle_counts
    edges = [(a, b) for a in range(1, 5) for b in range(1, 5) if a != b]
    edges += [(4, 5), (5, 4), (1, 2)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    out = {r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}


def test_personalized_pagerank_mass_and_locality(spark):
    from staticql_spark.operators.graph import personalized_pagerank
    # two components: seeds in component A only -> component B rank = 0;
    # total rank mass stays ~1 (bidirected graph, no dangling)
    edges = [(1, 2), (2, 1), (2, 3), (3, 2), (10, 11), (11, 10)]
    e = spark.createDataFrame(edges, ["src", "dst"])
    seeds = spark.createDataFrame([(1,)], ["node"])
    out = {r["node"]: r for r in personalized_pagerank(e, seeds, iters=2).collect()}
    assert out[1]["is_seed"] and not out[2]["is_seed"]
    assert out[10]["rank"] == 0.0 and out[11]["rank"] == 0.0
    assert abs(sum(r["rank"] for r in out.values()) - 1.0) < 1e-4
    # seed neighborhood outranks the far node
    assert out[1]["rank"] > out[3]["rank"] > 0.0


def test_ccnet_buckets_exact_terciles(spark):
    # 9 docs, one lang: exactly 3 head / 3 middle / 3 tail, ordered by
    # ascending nll; rank is a permutation 1..n
    rows = [(i, ("common " * 5 + "rare" + str(i) + " " * 1) * (i + 1)) for i in range(9)]
    df = spark.createDataFrame(
        [(i, t.strip(), "en") for i, t in rows], ["doc_id", "text", "lang"]
    )
    out = sorted(text.ccnet_buckets(df).collect(), key=lambda r: r["lang_rank"])
    assert [r["lang_rank"] for r in out] == list(range(1, 10))
    assert [r["bucket"] for r in out] == ["head"] * 3 + ["middle"] * 3 + ["tail"] * 3
    nlls = [r["nll"] for r in out]
    assert nlls == sorted(nlls)
    assert all(r["lang_n"] == 9 for r in out)


def test_grouped_exact_quantiles_matches_reference(spark):
    from staticql_spark.operators.profile import grouped_exact_quantiles
    import math
    data = {"a": [5.0, 1.0, 9.0, 3.0, 7.0], "b": [10.0, 20.0, 30.0]}
    rows = [(g, v) for g, vs in data.items() for v in vs]
    df = spark.createDataFrame(rows, ["grp", "x"])
    out = {(r["grp"], r["q"]): r for r in
           grouped_exact_quantiles(df, "x", "grp", [0.5, 1.0], num_buckets=4).collect()}
    for g, vs in data.items():
        srt = sorted(vs)
        for q in (0.5, 1.0):
            want = srt[max(math.ceil(q * len(vs)), 1) - 1]
            assert out[(g, q)]["value"] == want, (g, q)
            assert out[(g, q)]["n"] == len(vs)


def test_robust_outlier_summary_flags_planted_spike(spark):
    from staticql_spark.operators.profile import robust_outlier_summary
    vals = [float(v) for v in range(100)] + [10_000.0]
    df = spark.createDataFrame([(v,) for v in vals], ["value"])
    r = robust_outlier_summary(df, "value").collect()[0]
    assert r["n"] == 101 and r["median"] == 50.0
    assert r["n_outliers"] == 1 and r["max_robust_z"] > 100
    # constant column: MAD 0 -> zero outliers by convention
    dfc = spark.createDataFrame([(1.0,)] * 10, ["value"])
    rc = robust_outlier_summary(dfc, "value").collect()[0]
    assert rc["mad"] == 0.0 and rc["n_outliers"] == 0 and rc["max_robust_z"] == 0.0


def test_kmeans_inertia_matches_numpy(spark):
    # per-cell inertia vs a NumPy twin at the exact rounding contract:
    # assign = 6dp-rounded cosine argmax (ties -> smallest cid), d2 from
    # three 6dp-rounded dots re-rounded, per-cell sum exact in Decimal
    import decimal

    import numpy as np

    rng = np.random.default_rng(23)
    dim, n, stride = 6, 90, 30
    vecs = rng.integers(-4, 5, size=(n, dim)).astype(float)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents_df = similarity.kmeans_fit(df, centroid_stride=stride, iters=1)
    got = {
        r["cell"]: (r["n_vectors"], r["inertia"], r["mean_d2"])
        for r in similarity.kmeans_inertia(df, cents_df).collect()
    }

    cents = {r["cid"]: np.array(r["centroid"]) for r in cents_df.collect()}
    members: dict[int, list[int]] = {c: [] for c in cents}
    for i in range(n):
        best = max(
            sorted(cents),
            key=lambda c: (
                round(
                    float(vecs[i] @ cents[c])
                    / (np.linalg.norm(vecs[i]) * np.linalg.norm(cents[c])),
                    6,
                ),
                -c,
            ),
        )
        members[best].append(i)
    q6 = decimal.Decimal("0.000001")
    for c, m in members.items():
        if not m:
            assert c not in got
            continue
        s = sum(
            decimal.Decimal(
                round(
                    round(float(vecs[i] @ vecs[i]), 6)
                    - 2 * round(float(vecs[i] @ cents[c]), 6)
                    + round(float(cents[c] @ cents[c]), 6),
                    6,
                )
            ).quantize(q6)
            for i in m
        )
        assert got[c][0] == len(m)
        assert got[c][1] == pytest.approx(round(float(s), 4), abs=1e-9)
        assert got[c][2] == pytest.approx(round(float(s) / len(m), 6), abs=1e-9)


def test_shard_checksums_order_invariant_and_sensitive(spark):
    from staticql_spark.operators.shards import shard_checksums

    rows = [(i, f"text {i}", "en", "web", 6 + i % 3) for i in range(200)]
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    df = spark.createDataFrame(rows, cols)
    base = {
        r["shard_id"]: (r["n_rows"], r["xor_checksum"])
        for r in shard_checksums(df, cols[1:]).collect()
    }
    assert sum(n for n, _ in base.values()) == 200
    # row/partition order must not matter (XOR is commutative)
    shuffled = df.orderBy(F.col("text").desc()).repartition(7)
    again = {
        r["shard_id"]: (r["n_rows"], r["xor_checksum"])
        for r in shard_checksums(shuffled, cols[1:]).collect()
    }
    assert again == base
    # one edited row flips exactly its own shard's checksum, counts intact
    edited = df.withColumn(
        "text", F.when(F.col("doc_id") == 7, F.lit("TAMPERED")).otherwise(F.col("text"))
    )
    diff = {
        r["shard_id"]: (r["n_rows"], r["xor_checksum"])
        for r in shard_checksums(edited, cols[1:]).collect()
    }
    changed = [s for s in base if diff[s] != base[s]]
    assert len(changed) == 1
    assert diff[changed[0]][0] == base[changed[0]][0]  # count unchanged


def test_row_digest_null_and_separator_collision_free(spark):
    # ADVICE r6: the old concat_ws recipe digested ('a', NULL, 'b') and
    # ('a', 'b', NULL) identically (concat_ws skips NULLs) and could not
    # distinguish a 0x1f-embedded value from the same content split
    # across two columns. Per-column md5 + NULL sentinel kills both.
    from staticql_spark.operators.shards import row_digest

    rows = [
        ("a", None, "b"),
        ("a", "b", None),
        (None, "a", "b"),
        ("a\x1fb", None, None),
        ("a", "b", "c"),
        ("a\x1fb", "c", None),
        ("a", "b\x1fc", None),
    ]
    df = spark.createDataFrame(rows, ["x", "y", "z"])
    digests = [r[0] for r in df.select(row_digest(["x", "y", "z"])).collect()]
    assert len(set(digests)) == len(rows)


def test_ngram_coverage_counts(spark):
    bench = spark.createDataFrame([(0, "a b c")], ["doc_id", "text"])
    corpus = spark.createDataFrame(
        [(1, "a b x"), (2, "y z w")], ["doc_id", "text"]
    )
    r = text.ngram_coverage(corpus, bench, n=2).collect()[0]
    # bench bigrams {ab, bc}; corpus contains only ab
    assert r["n_bench_grams"] == 2
    assert r["n_covered"] == 1
    assert r["coverage"] == 0.5


def test_checksum_delta_localizes_edit_and_delete(spark):
    from staticql_spark.operators.shards import checksum_delta, shard_checksums

    rows = [(i, f"text {i}", "en", "web", 6) for i in range(100)]
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    v1 = spark.createDataFrame(rows, cols)
    v2 = v1.filter(F.col("doc_id") != 13).withColumn(
        "text", F.when(F.col("doc_id") == 7, F.lit("edited")).otherwise(F.col("text"))
    )
    out = {r["shard_id"]: r for r in checksum_delta(v1, v2, cols[1:]).collect()}
    # identical versions -> nothing changed
    same = checksum_delta(v1, v1, cols[1:]).filter(F.col("changed")).count()
    assert same == 0
    # the shards holding docs 7 and 13 (and ONLY those) flag changed
    shard_of = {
        r["doc_id"]: r["shard_id"]
        for r in v1.select(
            "doc_id",
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit("shard1|"), F.col("doc_id").cast("string"))),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long")
                % 16
            ).alias("shard_id"),
        ).collect()
    }
    expect_changed = {shard_of[7], shard_of[13]}
    assert {s for s, r in out.items() if r["changed"]} == expect_changed
    # the deleted doc's shard lost exactly one row
    assert out[shard_of[13]]["n_old"] - out[shard_of[13]]["n_new"] == 1


def test_dedup_funnel_is_monotone(spark):
    # funnel counts must be non-increasing stage over stage on real data
    import __spark_entry__ as entry

    out = sorted(
        entry.queries()["doc_dedup_funnel"](spark, SF_SMOKE).collect(),
        key=lambda r: r["stage_idx"],
    )
    counts = [r["n_docs"] for r in out]
    assert [r["stage"] for r in out] == [
        "raw", "exact_dedup", "eval_holdout", "decontaminated", "quality"
    ]
    assert all(a >= b for a, b in zip(counts, counts[1:]))
    assert out[0]["retained_pct"] == 1.0


def test_label_propagation_splits_bridged_cliques(spark):
    # two 4-cliques joined by a single bridge: connected components sees
    # ONE component, but 2-round LPA keeps a community per clique — the
    # density-vs-connectivity distinction the operator exists for
    from itertools import combinations

    from staticql_spark.operators.graph import label_propagation

    a = ["a1", "a2", "a3", "a4"]
    b = ["b1", "b2", "b3", "b4"]
    und = list(combinations(a, 2)) + list(combinations(b, 2)) + [("a1", "b1")]
    edges = spark.createDataFrame(
        und + [(y, x) for x, y in und], ["src", "dst"]
    )
    got = {r["node"]: r["community"] for r in label_propagation(edges, iters=2).collect()}
    assert {got[n] for n in a} == {"a1"}
    assert {got[n] for n in b} == {"b1"}


def test_interval_concurrency_sweep(spark):
    from staticql_spark.operators.asof import interval_concurrency

    rows = [
        ("2024-01-01", "2024-01-03"),
        ("2024-01-02", "2024-01-02"),
        ("2024-01-05", "2024-01-05"),
        ("2024-01-02", None),  # half-open: dropped entirely
    ]
    df = spark.createDataFrame(rows, ["s", "e"]).select(
        F.to_date("s").alias("s"), F.to_date("e").alias("e")
    )
    out = {str(r["d"]): (r["net"], r["open_count"]) for r in
           interval_concurrency(df, "s", "e").collect()}
    assert out["2024-01-01"] == (1, 1)
    assert out["2024-01-02"] == (1, 2)   # second interval opens
    assert out["2024-01-03"] == (-1, 1)  # day-long interval closed after 01-02
    assert out["2024-01-04"] == (-1, 0)  # first interval ends 01-03 inclusive
    assert out["2024-01-05"] == (1, 1)
    assert out["2024-01-06"] == (-1, 0)
    assert len(out) == 6  # the NULL-end interval left no +1 behind


def test_minhash_1bit_exact_on_identical_docs(spark):
    # identical docs: every min-hash agrees -> A=1 -> est exactly 1.0,
    # jaccard exactly 1.0, err 0; estimate always within [0, 1]
    base = "one two three four five six seven eight nine ten"
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, "totally different words here about other topics x y z")],
        ["doc_id", "text"],
    )
    rows = dedup.minhash_1bit_estimate(df, threshold=0.1).collect()
    pair = {(r["id_a"], r["id_b"]): r for r in rows}
    assert (1, 2) in pair
    r = pair[(1, 2)]
    assert r["jaccard"] == 1.0 and r["est_1bit"] == 1.0 and r["abs_err"] == 0.0
    for r in rows:
        assert 0.0 <= r["est_1bit"] <= 1.0


def test_reciprocal_topk_pairs_mutuality(spark, emb):
    out = similarity.reciprocal_topk_pairs(emb, k=5).collect()
    assert out, "fixture corpus must yield at least one mutual pair"
    topk = {
        (r["query_id"], r["neighbor_id"]): r["rank"]
        for r in similarity.cosine_topk(emb, emb, k=5).collect()
    }
    for r in out:
        assert r["id_a"] < r["id_b"]
        assert topk[(r["id_a"], r["id_b"])] == r["rank_ab"]
        assert topk[(r["id_b"], r["id_a"])] == r["rank_ba"]
    # completeness: every mutual top-5 relation appears exactly once
    want = {
        (a, b) for (a, b) in topk if a < b and (b, a) in topk
    }
    assert {(r["id_a"], r["id_b"]) for r in out} == want


def test_reciprocal_topk_pairs_injected_neighbors(spark, emb):
    # the neighbors= path (an ANN list) goes through the same one-pass
    # pair aggregate: cosine and rank_ab from the a < b row, rank_ba from
    # the other direction, only pairs listed both ways
    nbrs = similarity.ivf_topk(emb, emb, k=5, centroid_stride=20, nprobe=2)
    listed = {
        (r["query_id"], r["neighbor_id"]): (r["cosine"], r["rank"])
        for r in nbrs.collect()
    }
    want = {
        (a, b, cos, rank, listed[(b, a)][1])
        for (a, b), (cos, rank) in listed.items()
        if a < b and (b, a) in listed
    }
    assert want, "the IVF lists must hold at least one mutual pair"
    got = similarity.reciprocal_topk_pairs(emb, k=5, neighbors=nbrs).collect()
    assert {tuple(r) for r in got} == want
    assert len(got) == len(want)


def test_gopher_gate_report_consistent_with_rules(spark, docs):
    got = {r["source"]: r for r in
           text.gopher_gate_report(docs, strata_col="source").collect()}
    flags = text.gopher_rules(docs).join(
        docs.select("doc_id", "source"), "doc_id"
    ).groupBy("source").agg(
        F.count("*").alias("n"), F.avg(F.col("keep").cast("int")).alias("kr")
    ).collect()
    for r in flags:
        g = got[r["source"]]
        assert g["n_docs"] == r["n"]
        assert g["keep_rate"] == pytest.approx(round(r["kr"], 6), abs=1e-9)
        # fail fractions are probabilities
        for c in ("fail_words", "fail_word_len", "fail_symbol", "fail_bullet",
                  "fail_ellipsis", "fail_alpha", "fail_stops"):
            assert 0.0 <= g[c] <= 1.0


def test_label_propagation_incr_self_vote_and_passthrough(spark):
    # prior: two separate 4-cliques (communities a1 / b1). A new batch
    # connects fresh node c1 to a2+a3: c1 must adopt community a1; a2/a3
    # (one new edge each vs a self-vote) must NOT flip to c1 (tie -> min
    # label a1 wins); every untouched node passes through unchanged.
    from itertools import combinations

    from staticql_spark.operators.graph import (
        label_propagation,
        label_propagation_incr,
    )

    a = ["a1", "a2", "a3", "a4"]
    b = ["b1", "b2", "b3", "b4"]
    und = list(combinations(a, 2)) + list(combinations(b, 2))
    old_edges = spark.createDataFrame(und + [(y, x) for x, y in und], ["src", "dst"])
    old = label_propagation(old_edges, iters=2)
    before = {r["node"]: r["community"] for r in old.collect()}

    new_und = [("c1", "a2"), ("c1", "a3")]
    new_edges = spark.createDataFrame(
        new_und + [(y, x) for x, y in new_und], ["src", "dst"]
    )
    got = {r["node"]: r["community"] for r in
           label_propagation_incr(old, new_edges, iters=1).collect()}
    assert got["c1"] == "a1"
    assert got["a2"] == before["a2"] == "a1"
    assert got["a3"] == before["a3"] == "a1"
    for n in b + ["a1", "a4"]:
        assert got[n] == before[n]
    assert len(got) == 9

    # r6 ADVICE regression: the 1-1 tie must resolve to the PRIOR label
    # even when the new neighbor's community sorts FIRST ('A0' < 'b1'):
    # under the old min-label tie-break b2 would flip to A0.
    low_und = [("A0", "b2")]
    low_edges = spark.createDataFrame(
        low_und + [(y, x) for x, y in low_und], ["src", "dst"]
    )
    got2 = {r["node"]: r["community"] for r in
            label_propagation_incr(old, low_edges, iters=1).collect()}
    assert got2["b2"] == before["b2"] == "b1"   # prior survives the tie
    assert got2["A0"] == "b1"                   # new node adopts the clique


def test_contaminated_spans_excises_planted_quote(spark):
    # a corpus doc quoting a 40-char run of a benchmark doc must lose
    # exactly that region; an untouched doc passes through whole
    quote = "the quick brown fox jumps over the lazy dog today"
    bench = spark.createDataFrame([(100, f"benchmark question: {quote} end")],
                                  ["doc_id", "text"])
    corpus = spark.createDataFrame(
        [
            (1, f"some page text before {quote} and after it continues"),
            (2, "completely unrelated content with no overlap whatsoever"),
        ],
        ["doc_id", "text"],
    )
    spans = dedup.contaminated_spans(corpus, bench, k=20)
    out = {r["doc_id"]: r for r in dedup.excise_spans(corpus, spans).collect()}
    assert out[1]["n_spans"] == 1
    assert quote not in out[1]["cleaned"]
    assert out[1]["cleaned"].startswith("some page text befor")
    assert out[2]["n_spans"] == 0
    assert out[2]["cleaned"] == "completely unrelated content with no overlap whatsoever"


def test_interval_concurrency_matches_bruteforce_random(spark):
    # seeded random intervals vs a per-day brute force count
    import datetime as dt
    import random

    rng = random.Random(7)
    base = dt.date(2024, 3, 1)
    rows = []
    for _ in range(60):
        s = base + dt.timedelta(days=rng.randrange(0, 25))
        e = s + dt.timedelta(days=rng.randrange(0, 6))
        rows.append((s, e))
    from staticql_spark.operators.asof import interval_concurrency

    df = spark.createDataFrame(rows, ["s", "e"])
    got = {r["d"]: r["open_count"] for r in interval_concurrency(df, "s", "e").collect()}
    for day_off in range(0, 35):
        d = base + dt.timedelta(days=day_off)
        want = sum(1 for s, e in rows if s <= d <= e)
        # emitted rows carry the exact count; between-rows days inherit
        # the most recent emitted count (constant by construction)
        have = [got[x] for x in sorted(got) if x <= d]
        assert (have[-1] if have else 0) == want, d


def test_checksum_delta_append_only_touches_one_shard(spark):
    from staticql_spark.operators.shards import checksum_delta, shard_checksums

    rows = [(i, f"t{i}", "en", "web", 2) for i in range(50)]
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    v1 = spark.createDataFrame(rows, cols)
    v2 = spark.createDataFrame(rows + [(999, "brand new", "en", "web", 9)], cols)
    out = checksum_delta(v1, v2, cols[1:]).collect()
    changed = [r for r in out if r["changed"]]
    assert len(changed) == 1
    assert changed[0]["n_new"] - changed[0]["n_old"] == 1
    # XOR self-inverse: removing the row again restores every checksum
    back = checksum_delta(v2, v2.filter(F.col("doc_id") != 999), cols[1:])
    restored = {r["shard_id"]: r for r in back.collect()}
    base = {r["shard_id"]: r["xor_checksum"] for r in
            shard_checksums(v1, cols[1:]).collect()}
    for s, ck in base.items():
        assert restored[s]["checksum_new"] == ck


# ---------------------------------------------------------------------
# HyperLogLog (sketch.hll_*)
# ---------------------------------------------------------------------


def test_hll_merge_equals_union_sketch(spark):
    """The defining sketch property, EXACTLY: per-register MAX merge of
    two independent sketches equals the sketch of the unioned input."""
    from staticql_spark.operators import sketch

    a = spark.range(0, 3000).select(F.concat(F.lit("u"), F.col("id")).alias("v"))
    b = spark.range(2000, 6000).select(F.concat(F.lit("u"), F.col("id")).alias("v"))
    merged = sketch.hll_merge(
        sketch.hll_registers(a, "v"), sketch.hll_registers(b, "v")
    )
    direct = sketch.hll_registers(a.union(b), "v")
    m = {r["j"]: r["m_j"] for r in merged.collect()}
    d = {r["j"]: r["m_j"] for r in direct.collect()}
    assert m == d


def test_hll_estimate_within_error_bound(spark):
    """m=512 registers -> ~1.04/sqrt(512) = 4.6% std error; 4 sigma on a
    deterministic hash is a stable regression bound, not a flaky one."""
    from staticql_spark.operators import sketch

    df = spark.range(0, 20000).select(F.concat(F.lit("k"), F.col("id")).alias("v"))
    row = sketch.hll_distinct(df, "v").collect()[0]
    assert row["exact_ndv"] == 20000
    assert abs(row["est_ndv"] - 20000) / 20000 < 0.20
    # the register frame is the 4KB artifact: never more than m rows
    assert sketch.hll_registers(df, "v").count() <= sketch._HLL_M


def test_hll_register_rank_exact_bits(spark):
    """rho must be computed on EXACT integers — a double division by m
    would corrupt hashes above 2^53. Pin one hand-computed register."""
    from staticql_spark.operators import sketch

    df = spark.createDataFrame([("x",)], ["v"])
    h = df.select(sketch.kmv_hash(F.col("v"), "hll1").alias("h")).collect()[0]["h"]
    regs = sketch.hll_registers(df, "v").collect()
    assert len(regs) == 1
    j, m_j = regs[0]["j"], regs[0]["m_j"]
    assert j == h & (sketch._HLL_M - 1)
    w = h >> sketch._HLL_P
    expect = (sketch._HLL_WBITS + 1) if w == 0 else (
        sketch._HLL_WBITS + 1 - w.bit_length()
    )
    assert m_j == expect


# ---------------------------------------------------------------------
# privacy.ldiversity_report
# ---------------------------------------------------------------------


def test_ldiversity_flags_homogeneous_cell(spark):
    from staticql_spark.operators.privacy import ldiversity_report

    rows = [
        # cell A: 3 rows, all same sensitive value -> l_div 1, not ok
        ("A", 1, "flu"), ("A", 2, "flu"), ("A", 3, "flu"),
        # cell B: 3 rows, 3 distinct values (one null ignored) -> ok at l=2
        ("B", 4, "flu"), ("B", 5, "cold"), ("B", 6, None),
    ]
    df = spark.createDataFrame(rows, ["cell", "uid", "diag"])
    out = {
        r["cell"]: (r["n_rows"], r["n_subjects"], r["l_div"], r["ok"])
        for r in ldiversity_report(
            df, ["cell"], "diag", l=2, subject_col="uid"
        ).collect()
    }
    assert out["A"] == (3, 3, 1, False)
    assert out["B"] == (3, 3, 2, True)

    # one subject contributing several rows must not inflate n_subjects;
    # without a subject key there is NO subject count (r6 ADVICE: the old
    # fallback reported row count as a subject count)
    multi = spark.createDataFrame(
        [("A", 1, "flu"), ("A", 1, "cold"), ("A", 2, "flu")],
        ["cell", "uid", "diag"],
    )
    with_key = ldiversity_report(multi, ["cell"], "diag", subject_col="uid")
    r = with_key.collect()[0]
    assert (r["n_rows"], r["n_subjects"]) == (3, 2)
    no_key = ldiversity_report(multi, ["cell"], "diag").collect()[0]
    assert no_key["n_rows"] == 3 and no_key["n_subjects"] is None


# ---------------------------------------------------------------------
# text.vocab_growth / text.source_ablation
# ---------------------------------------------------------------------


def test_vocab_growth_monotone_and_totals(spark, docs):
    out = text.vocab_growth(docs).orderBy("checkpoint").collect()
    assert [r["checkpoint"] for r in out] == list(range(1, 11))
    toks = [r["cum_tokens"] for r in out]
    voc = [r["cum_vocab"] for r in out]
    assert toks == sorted(toks) and voc == sorted(voc)
    # final checkpoint covers the whole corpus (cutoff == max id)
    totals = docs.select(
        F.sum(F.size(text.tokens(F.col("text")))).alias("t"),
    ).collect()[0]
    vocab_total = (
        docs.select(F.explode(text.tokens(F.col("text"))).alias("t"))
        .agg(F.countDistinct("t"))
        .collect()[0][0]
    )
    assert toks[-1] == totals["t"]
    assert voc[-1] == vocab_total


def test_source_ablation_leave_one_out_math(spark):
    # hand corpus: source 'good' all high quality, 'bad' all junk
    rows = (
        [(i, "the quick brown fox jumps over the lazy dog again", "good")
         for i in range(6)]
        + [(10 + i, "zzzz", "bad") for i in range(2)]
    )
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {r["source"]: r for r in text.source_ablation(df).collect()}
    assert set(out) == {"good", "bad"}
    # removing 'bad' must RAISE the keep rate; removing 'good' must zero it
    assert out["bad"]["keep_rate_excl"] > out["bad"]["keep_rate_full"]
    assert out["bad"]["keep_delta"] < 0
    assert out["good"]["keep_rate_excl"] == 0.0
    # shares sum to 1
    assert abs(sum(r["token_share"] for r in out.values()) - 1.0) < 1e-6


# ---------------------------------------------------------------------
# behavior.retention_matrix / event_transitions / funnel_report (r7)
# ---------------------------------------------------------------------


def test_retention_matrix_cohorts_and_rates(spark):
    from staticql_spark.operators.behavior import retention_matrix

    rows = [
        (1, "2024-01-01 01:00:00"), (1, "2024-01-02 01:00:00"),
        (1, "2024-01-03 01:00:00"), (1, "2024-01-03 09:00:00"),  # dup day
        (2, "2024-01-01 02:00:00"), (2, "2024-01-03 02:00:00"),
        (3, "2024-01-02 03:00:00"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "s"]).select(
        "user_id", F.col("s").cast("timestamp").alias("ts")
    )
    got = {
        (str(r["cohort_day"]), r["age"]): (r["n_active"], r["cohort_size"], r["retention"])
        for r in retention_matrix(df).collect()
    }
    assert got[("2024-01-01", 0)] == (2, 2, 1.0)
    assert got[("2024-01-01", 1)] == (1, 2, 0.5)
    assert got[("2024-01-01", 2)] == (2, 2, 1.0)
    assert got[("2024-01-02", 0)] == (1, 1, 1.0)
    assert len(got) == 4



def test_funnel_report_ordered_steps(spark):
    from staticql_spark.operators.behavior import funnel_report

    rows = [
        (1, 1, "s1"), (1, 2, "s2"), (1, 3, "s3"),   # full funnel
        (2, 1, "s1"), (2, 2, "s3"),                 # skips s2 -> stops at 1
        (3, 1, "s2"),                               # never does s1
        (4, 5, "s1"), (4, 3, "s2"),                 # s2 BEFORE s1 -> stops at 1
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_id", "event_type"]).select(
        "user_id", "event_id", "event_type",
        F.timestamp_seconds(F.col("event_id") * 60).alias("ts"),
    )
    out = {r["step_idx"]: r for r in
           funnel_report(df, ["s1", "s2", "s3"]).collect()}
    assert (out[1]["n_users"], out[2]["n_users"], out[3]["n_users"]) == (3, 1, 1)
    assert out[1]["conv_from_prev"] is None
    assert out[2]["conv_from_prev"] == round(1 / 3, 6)
    assert out[3]["conv_from_prev"] == 1.0
    assert out[3]["conv_from_first"] == round(1 / 3, 6)
    assert [out[i]["step"] for i in (1, 2, 3)] == ["s1", "s2", "s3"]


# ---------------------------------------------------------------------
# profile.numeric_psi (r7)
# ---------------------------------------------------------------------


def test_numeric_psi_zero_on_identical_and_positive_on_drift(spark):
    from staticql_spark.operators.profile import numeric_psi

    old = spark.range(1, 101).select(F.col("id").cast("double").alias("x"))
    same = numeric_psi(old, old, "x").collect()
    assert len(same) == 10          # 9 distinct decile edges -> 10 buckets
    assert all(r["psi_term"] == 0.0 for r in same)
    assert sum(r["n_old"] for r in same) == 100

    new = spark.range(1, 51).select(F.col("id").cast("double").alias("x"))
    drift = numeric_psi(old, new, "x").collect()
    top = [r for r in drift if r["bucket"] >= 6]
    assert all(r["n_new"] == 0 for r in top)   # upper half emptied
    assert sum(r["psi_term"] for r in drift) > 0.25


# ---------------------------------------------------------------------
# dedup.cross_neardup_pairs (r7)
# ---------------------------------------------------------------------


def test_cross_neardup_flags_only_matching_corpus_vectors(spark):
    from staticql_spark.operators.dedup import cross_neardup_pairs

    e1 = [1.0, 2.0, 3.0, 4.0, 1.0, 2.0, 3.0, 4.0]
    e2 = [-1.0, -2.0, -3.0, -4.0, -1.0, -2.0, -3.0, -4.0]
    near_e1 = [1.0, 2.0, 3.0, 4.0, 1.0, 2.0, 3.0, 4.2]
    corpus = spark.createDataFrame(
        [(10, e1), (11, near_e1), (12, e2)], ["vec_id", "embedding"]
    )
    bench = spark.createDataFrame([(90, e1)], ["vec_id", "embedding"])
    got = {(r["id_a"], r["id_b"]): r["cosine"] for r in
           cross_neardup_pairs(corpus, bench, threshold=0.95).collect()}
    assert set(got) == {(10, 90), (11, 90)}
    assert got[(10, 90)] == 1.0
    assert got[(11, 90)] > 0.99


def test_debias_top_pc_removes_dominant_component(spark):
    from staticql_spark.operators.similarity import debias_top_pc

    # 3 clusters along dim0 (the dominant direction) + small dim1 noise:
    # removing the top PC must shrink every centered norm, and the dim0
    # spread (the proj column) must carry nearly all of it
    rows = [(i, [float(10 * (i % 3) - 10), float(0.1 * (i % 5))] + [0.0] * 6)
            for i in range(30)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = debias_top_pc(df, iters=2, dim=8).collect()
    assert len(out) == 30
    for r in out:
        assert r["norm_after"] <= r["norm_before"] + 1e-9
    # the dominant direction is ~dim0: after removal almost nothing left
    assert max(r["norm_after"] for r in out) < 0.3
    assert max(abs(r["proj"]) for r in out) > 5.0


def test_grouped_psi_shared_edges_and_per_stratum_smoothing(spark):
    from staticql_spark.operators.profile import grouped_psi, numeric_psi

    old = spark.range(1, 101).select(
        F.col("id").cast("double").alias("x"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("g"),
    )
    # stratum a drifts (upper half removed), stratum b unchanged
    new = old.filter((F.col("g") == "b") | (F.col("x") <= 50))
    out = grouped_psi(old, new, "x", "g").collect()
    psi = {}
    for r in out:
        psi[r["stratum"]] = psi.get(r["stratum"], 0.0) + r["psi_term"]
    assert psi["a"] > 0.25          # the drifted segment fires
    assert abs(psi["b"]) < 0.01     # the stable one stays near zero
    # global edges: both strata share the same bucket grid
    assert len({r["bucket"] for r in out}) == 10
    assert len(out) == 20


def test_session_paths_gap_split_and_truncation(spark):
    from staticql_spark.operators.behavior import session_paths

    base = "2024-01-01 00:00:00"
    rows = [
        # user 1: one session a>b>c, then a 2h gap, new session b>a
        (1, 1, "a", 0), (1, 2, "b", 5), (1, 3, "c", 10),
        (1, 4, "b", 150), (1, 5, "a", 155),
        # user 2: same first path a>b>c
        (2, 6, "a", 0), (2, 7, "b", 3), (2, 8, "c", 7),
        # user 3: 7 events -> path truncates at 5
        (3, 9, "a", 0), (3, 10, "a", 1), (3, 11, "a", 2), (3, 12, "a", 3),
        (3, 13, "a", 4), (3, 14, "a", 5), (3, 15, "a", 6),
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_id", "event_type", "mins"]).select(
        "user_id", "event_id", "event_type",
        (F.lit(base).cast("timestamp") + F.make_interval(mins=F.col("mins"))).alias("ts"),
    )
    got = {r["path"]: r["n_sessions"] for r in
           session_paths(df, gap_minutes=30, max_len=5).collect()}
    assert got["a>b>c"] == 2
    assert got["b>a"] == 1
    assert got["a>a>a>a>a"] == 1       # truncated at max_len
    assert sum(got.values()) == 4


def test_calibration_report_bins_and_gap(spark):
    from staticql_spark.operators.classify import calibration_report

    rows = (
        # bin 2 (p in [0.2, 0.3)): 4 rows, 1 positive -> frac 0.25
        [(0.21, 0), (0.22, 0), (0.28, 1), (0.25, 0)]
        # bin 9 catches p == 1.0 via the least() clamp: 2 rows, both pos
        + [(1.0, 1), (0.95, 1)]
    )
    df = spark.createDataFrame(rows, ["p", "y"])
    got = {r["bin"]: r for r in calibration_report(df).collect()}
    assert set(got) == {2, 9}
    assert got[2]["n"] == 4 and got[2]["frac_pos"] == 0.25
    assert got[2]["mean_p"] == 0.24
    assert got[2]["gap"] == round(0.25 - 0.24, 6)
    assert got[9]["n"] == 2 and got[9]["frac_pos"] == 1.0


def test_pq_quant_error_zero_on_codebook_members(spark):
    from staticql_spark.operators import pq as pqm

    # corpus = exactly the stride-init vectors themselves, 1 Lloyd round:
    # every subvector IS its own codeword, so quantization error is 0
    rows = [(i * 100, [float(i), float(-i)] * 4) for i in range(4)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cbs = pqm.pq_train(df, m=4, dim=8, stride=100, iters=1)
    out = pqm.pq_quant_error(df, cbs, m=4, dim=8).collect()
    assert len(out) == 4
    for r in out:
        assert r["n"] == 4 and r["mse"] == 0.0 and r["max_d2"] == 0.0

    # perturb one vector away from every codeword: its subspace errors
    # turn positive, max >= mse
    rows2 = rows + [(7, [100.0, -100.0] * 4)]
    df2 = spark.createDataFrame(rows2, ["vec_id", "embedding"])
    out2 = pqm.pq_quant_error(df2, cbs, m=4, dim=8).collect()
    for r in out2:
        assert r["n"] == 5 and r["mse"] > 0.0 and r["max_d2"] >= r["mse"]


def test_contamination_by_source_rates(spark):
    import __spark_entry__ as entrymod

    # drive the registered composition at smoke scale and check algebra:
    # rates in [0,1], clean sources report zeros, totals consistent
    out = entrymod.q_doc_contamination_by_source(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(out) > 0
    for r in out:
        assert 0.0 <= r["contaminated_rate"] <= 1.0
        assert r["n_contaminated"] <= r["n_docs"]
        if r["n_contaminated"] == 0:
            assert r["dup_chars"] == 0 and r["dup_char_share"] == 0.0
        else:
            assert r["dup_chars"] > 0


def test_funnel_windowed_enforces_gap(spark):
    from staticql_spark.operators.behavior import funnel_report

    rows = [
        (1, 1, "s1", 0), (1, 2, "s2", 10),    # inside 30-min gap
        (2, 3, "s1", 0), (2, 4, "s2", 100),   # outside -> stops at step 1
        (3, 5, "s1", 0), (3, 6, "s2", 30),    # exactly at the bound: inclusive
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_id", "event_type", "mins"]).select(
        "user_id", "event_id", "event_type",
        (F.lit("2024-01-01").cast("timestamp") + F.make_interval(mins=F.col("mins"))).alias("ts"),
    )
    out = {r["step_idx"]: r["n_users"] for r in
           funnel_report(df, ["s1", "s2"], max_gap_minutes=30).collect()}
    assert out == {1: 3, 2: 2}
    # without the window all three convert
    full = {r["step_idx"]: r["n_users"] for r in
            funnel_report(df, ["s1", "s2"]).collect()}
    assert full == {1: 3, 2: 3}


def test_calibration_report_input_hygiene(spark):
    """r8 ADVICE regression: NULL predictions/labels and negative
    predictions are dropped before bucketing — previously they produced
    a null bin row, negative bins, and a frac_pos whose numerator
    skipped null labels while n counted them."""
    from staticql_spark.operators.classify import calibration_report

    rows = [
        (0.25, 1), (0.25, 0),          # the only in-contract rows
        (None, 1),                     # null p: was a null-bin row
        (0.25, None),                  # null y: was n=3, frac deflated
        (-0.5, 1),                     # p < 0: was bin -5
    ]
    df = spark.createDataFrame(rows, "p double, y int")
    got = {r["bin"]: r for r in calibration_report(df).collect()}
    assert set(got) == {2}
    assert got[2]["n"] == 2 and got[2]["frac_pos"] == 0.5


def test_pq_append_equals_full_rebuild(spark, emb, tmp_path):
    # r8: persisted PQ index. Build on the old corpus, append the new
    # batch (codebooks loaded FROM the index — the frozen-code-space
    # contract is structural): codes and keys must equal a full-corpus
    # rebuild under the same codebooks, and the loaded index must serve
    # ADC identically to the inline train+encode pipeline.
    from staticql_spark.operators import pq as pqm

    old = emb.filter(F.col("vec_id") % 5 != 3)
    new = emb.filter(F.col("vec_id") % 5 == 3)

    inc_path = str(tmp_path / "pq_inc")
    pqm.pq_build(old, inc_path, m=4, dim=64, stride=100, iters=2)
    pqm.pq_append(new, inc_path)
    idx = pqm.pq_load(spark, inc_path)

    full_path = str(tmp_path / "pq_full")
    pqm.pq_build(emb, full_path, codebooks=idx.codebooks)
    fidx = pqm.pq_load(spark, full_path)

    codes = lambda df: sorted(
        (r["vid"], r["subspace"], r["code"]) for r in df.collect()
    )
    inc_codes = codes(idx.codes)
    assert inc_codes == codes(fidx.codes) and len(inc_codes) > 0
    keys = lambda df: sorted((r["vid"], r["code_key"]) for r in df.collect())
    assert keys(idx.keys) == keys(fidx.keys)

    # loaded index == inline pipeline, hash-for-hash, on the ADC surface
    queries = emb.filter(F.col("vec_id") % 200 == 0)
    inline_codes = pqm.pq_encode(emb, idx.codebooks, m=4, dim=64)
    key5 = lambda df: sorted(
        (r["query_id"], r["neighbor_id"], r["adc"], r["rank"])
        for r in df.collect()
    )
    served = key5(pqm.pq_adc_topk(queries, idx.codes, idx.codebooks, k=5))
    inline = key5(pqm.pq_adc_topk(queries, inline_codes, idx.codebooks, k=5))
    assert served == inline and len(served) > 0


def test_pq_append_into_cell_partitioned_index(spark, emb, tmp_path):
    # r8: appending a batch into a coarse-partitioned index assigns the
    # batch against the PERSISTED coarse centroids and lands in the
    # matching cell directories; probing the appended index equals a
    # full-corpus rebuild under the same codebooks + coarse
    from staticql_spark.operators import pq as pqm
    from staticql_spark.operators.similarity import centroid_sample

    coarse = centroid_sample(emb, "embedding", "vec_id", 100).localCheckpoint(
        eager=True
    )
    old = emb.filter(F.col("vec_id") % 5 != 3)
    new = emb.filter(F.col("vec_id") % 5 == 3)

    inc = str(tmp_path / "inc")
    pqm.pq_build(old, inc, m=4, dim=64, stride=100, iters=1,
                 coarse_centroids=coarse)
    pqm.pq_append(new, inc)

    full = str(tmp_path / "full")
    pqm.pq_build(emb, full, codebooks=pqm.pq_load(spark, inc).codebooks,
                 coarse_centroids=coarse)

    queries = emb.filter(F.col("vec_id") % 200 == 0)
    key = lambda d: sorted(
        (r["query_id"], r["neighbor_id"], r["adc"], r["rank"])
        for r in d.collect()
    )
    got = key(pqm.ivfpq_query(spark, inc, queries, k=5, nprobe=3))
    want = key(pqm.ivfpq_query(spark, full, queries, k=5, nprobe=3))
    assert got == want and len(got) > 0


def test_shared_artifact_cache_contract(spark):
    # r8: shared artifacts are memoized PER PROCESS into tempdirs — same
    # key reuses the build, distinct keys get distinct dirs, and nothing
    # lands at a fixed path a later run (with changed code) could
    # accidentally reuse.
    import tempfile

    import __spark_entry__ as entry
    from tests.conftest import SF_SMOKE

    p_old = entry._pq_index_path(spark, SF_SMOKE, "old")
    assert p_old.startswith(tempfile.gettempdir())
    assert entry._pq_index_path(spark, SF_SMOKE, "old") == p_old  # memoized
    p_all = entry._pq_index_path(spark, SF_SMOKE, "all")
    assert p_all != p_old  # subsets never share an index dir

    spans = entry._contaminated_spans_cached(spark, SF_SMOKE)
    path1 = entry._ARTIFACT_CACHE[("spans", SF_SMOKE)]
    assert path1.startswith(tempfile.gettempdir())
    entry._contaminated_spans_cached(spark, SF_SMOKE)
    assert entry._ARTIFACT_CACHE[("spans", SF_SMOKE)] == path1  # one build
    assert spans.count() >= 0  # readable frame
    # r9 lifecycle (r8 verdict #7): every artifact dir lives under ONE
    # per-process root that is atexit-removed (no /tmp accumulation)
    assert p_old.startswith(entry._ARTIFACT_ROOT + "/")
    assert path1.startswith(entry._ARTIFACT_ROOT + "/")


def test_artifact_dirs_distinct_across_processes(tmp_path):
    # r9 (r8 verdict #7): with STATICQL_SPARK_ARTIFACT_ROOT pointing two
    # processes at the SAME fleet storage, each still mkdtemps its own
    # per-process root underneath — they can never share an artifact
    # path.  No SparkSession needed: _artifact_dir is pure filesystem.
    import json
    import os
    import subprocess
    import sys

    prog = (
        "import json, __spark_entry__ as e;"
        "print(json.dumps([e._artifact_dir('x_'), e._ARTIFACT_ROOT]))"
    )
    env = dict(os.environ, STATICQL_SPARK_ARTIFACT_ROOT=str(tmp_path))
    outs = [
        json.loads(
            subprocess.run(
                [sys.executable, "-c", prog], env=env, cwd="/root/repo",
                capture_output=True, text=True, timeout=120, check=True,
            ).stdout
        )
        for _ in range(2)
    ]
    (dir_a, root_a), (dir_b, root_b) = outs
    assert root_a != root_b and dir_a != dir_b
    for d, r in outs:
        assert d.startswith(str(tmp_path) + "/") and r.startswith(str(tmp_path) + "/")
        # env-rooted artifacts are RETAINED (fleet storage owns retention)
        assert os.path.isdir(d)


@pytest.mark.slow  # soak-grade: excluded from the default gate (pytest.ini)
def test_lsh_append_equals_full_rebuild(spark, docs, tmp_path):
    # r8: persisted LSH index. Per-doc signatures depend only on the doc
    # itself, so build(old)+append(new) must be ROW-identical to a
    # full-corpus build; incremental pairs over the loaded index must
    # equal the inline minhash_index path.
    inc = str(tmp_path / "lsh_inc")
    old = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    dedup.lsh_build(old, inc, n=3, num_hashes=16, bands=4)
    dedup.lsh_append(new, inc)
    idx = dedup.lsh_load(spark, inc)
    assert (idx.n, idx.num_hashes, idx.n_bands) == (3, 16, 4)

    full = str(tmp_path / "lsh_full")
    dedup.lsh_build(docs, full, n=3, num_hashes=16, bands=4)
    fidx = dedup.lsh_load(spark, full)
    bkey = lambda df: sorted(
        (r["doc_id"], r["band"], r["key"]) for r in df.collect()
    )
    got = bkey(idx.bands)
    assert got == bkey(fidx.bands) and len(got) > 0
    assert idx.shingles.count() == fidx.shingles.count()

    # incremental pairs from the LOADED old index == from inline indexing
    old_b, old_sh = dedup.minhash_index(old, n=3, num_hashes=16, bands=4)
    oidx = dedup.lsh_load(spark, inc)  # contains old+new; rebuild old-only
    oldpath = str(tmp_path / "lsh_old")
    dedup.lsh_build(old, oldpath, n=3, num_hashes=16, bands=4)
    loaded = dedup.lsh_load(spark, oldpath)
    pkey = lambda df: sorted(
        (r["id_a"], r["id_b"], r["jaccard"]) for r in df.collect()
    )
    via_loaded = pkey(dedup.incremental_lsh_pairs(
        new, loaded.bands, loaded.shingles,
        n=3, num_hashes=16, bands=4, threshold=0.2,
    ))
    inline = pkey(dedup.incremental_lsh_pairs(
        new, old_b, old_sh, n=3, num_hashes=16, bands=4, threshold=0.2,
    ))
    assert via_loaded == inline and len(via_loaded) > 0


def test_mrl_recall_full_dim_is_perfect(spark):
    # truncation at the FULL dimension is the identity -> recall 1.0;
    # lower dims are <= 1 and the exact-pair denominator is shared
    from staticql_spark.operators.similarity import mrl_recall

    rows = [
        (i, [float((i * 7 + j * 3) % 11) / 11.0 for j in range(4)])
        for i in range(8)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["dim"]: r for r in mrl_recall(
        emb, dims=(2, 4), k=2, query_stride=2
    ).collect()}
    assert set(out) == {2, 4}
    full = out[4]
    assert full["n_hits"] == full["n_exact_pairs"]
    assert full["recall_at_k"] == 1.0
    assert 0.0 <= out[2]["recall_at_k"] <= 1.0
    # 4 queries (vec_id % 2 == 0) x k=2
    assert full["n_exact_pairs"] == 8


def test_ab_cuped_matches_bruteforce(spark):
    # hand-checkable frame: 4 users, ts span [0us, 100us] -> mid = 50us;
    # user_id % 2 assigns variants; non-purchase rows count 0
    from decimal import Decimal

    from staticql_spark.operators.behavior import ab_cuped

    rows = [
        # (event_id, user_id, ts_us, type, value)
        (1, 0, 0,   "purchase", 10.0),
        (2, 0, 60,  "purchase", 12.0),
        (3, 1, 10,  "purchase", 20.0),
        (4, 1, 70,  "purchase", 30.0),
        (5, 2, 20,  "purchase", 5.0),
        (6, 2, 80,  "purchase", 6.0),
        (7, 3, 30,  "click",    99.0),   # ignored: not the value event
        (8, 3, 100, "purchase", 40.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts long, event_type string, value double"
    )
    got = ab_cuped(ev).collect()[0].asDict()

    # brute force in python (decimal folds are exact at these magnitudes)
    pre = {0: 10.0, 1: 20.0, 2: 5.0, 3: 0.0}
    post = {0: 12.0, 1: 30.0, 2: 6.0, 3: 40.0}
    users = sorted(pre)
    n = len(users)
    mx = sum(pre.values()) / n
    my = sum(post.values()) / n
    cov = sum(pre[u] * post[u] for u in users) / n - mx * my
    var_pre = sum(pre[u] ** 2 for u in users) / n - mx * mx
    var_post = sum(post[u] ** 2 for u in users) / n - my * my
    theta = cov / var_pre
    a = [u for u in users if u % 2 == 0]
    b = [u for u in users if u % 2 == 1]
    mpost_a = sum(post[u] for u in a) / len(a)
    mpost_b = sum(post[u] for u in b) / len(b)
    mpre_a = sum(pre[u] for u in a) / len(a)
    mpre_b = sum(pre[u] for u in b) / len(b)
    exp_diff_cuped = round(
        (mpost_b - theta * (mpre_b - mx)) - (mpost_a - theta * (mpre_a - mx)), 6
    )
    assert got["n_a"] == 2 and got["n_b"] == 2
    assert got["mean_post_a"] == round(mpost_a, 6)
    assert got["mean_post_b"] == round(mpost_b, 6)
    assert got["theta"] == round(theta, 6)
    assert got["diff_raw"] == round(mpost_b - mpost_a, 6)
    assert got["diff_cuped"] == exp_diff_cuped
    assert got["var_reduction"] == round(cov * cov / (var_pre * var_post), 6)


def test_ab_cuped_zero_pre_variance_falls_back(spark):
    # identical pre spend for every user -> var(pre)=0 -> theta=0, CUPED
    # degrades to the raw diff instead of dividing by zero
    from staticql_spark.operators.behavior import ab_cuped

    rows = []
    eid = 0
    for u in range(4):
        eid += 1
        rows.append((eid, u, 0, "purchase", 7.0))
        eid += 1
        rows.append((eid, u, 100, "purchase", float(u)))
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts long, event_type string, value double"
    )
    got = ab_cuped(ev).collect()[0].asDict()
    assert got["theta"] == 0.0
    assert got["diff_cuped"] == got["diff_raw"]
    assert got["var_reduction"] == 0.0


def test_tcloseness_hand_computed_emd(spark):
    # Li et al. 2007 ordered-EMD, hand-checked: global values {0,1,2}
    # with counts (2,1,3) -> q = (1/3, 1/6, 1/2).
    # cell A = [0,0,1,2]: cum diffs .166667, .25, 0 -> EMD .416667/2
    # cell B = [2,2]:     cum diffs -.3333, -.5, 0  -> EMD .833333/2
    from staticql_spark.operators.privacy import tcloseness_report

    rows = [("A", 0), ("A", 0), ("A", 1), ("A", 2), ("B", 2), ("B", 2)]
    df = spark.createDataFrame(rows, "cell string, s int")
    got = {
        r["cell"]: r
        for r in tcloseness_report(df, ["cell"], "s", t=0.3).collect()
    }
    assert got["A"]["n_rows"] == 4 and got["B"]["n_rows"] == 2
    assert got["A"]["emd"] == 0.208333 and got["A"]["ok"]
    assert got["B"]["emd"] == 0.416667 and not got["B"]["ok"]


def test_tcloseness_degenerate_and_nulls(spark):
    # a single global value makes every cell trivially close (EMD 0, not
    # 0/0); NULL sensitive values carry no mass in either distribution
    from staticql_spark.operators.privacy import tcloseness_report

    df = spark.createDataFrame(
        [("A", 7), ("A", 7), ("B", 7), ("B", None)], "cell string, s int"
    )
    got = {r["cell"]: r for r in tcloseness_report(df, ["cell"], "s").collect()}
    assert got["A"]["emd"] == 0.0 and got["A"]["ok"]
    assert got["B"]["n_rows"] == 1 and got["B"]["emd"] == 0.0


def test_incremental_lsh_reduce_old_paths_identical(spark):
    # r10: the probe reductions are gated on index size (reduce_old);
    # both paths must emit IDENTICAL pairs — the sf0.1 bisect that
    # justified the gate (SCALE.md) as a permanent lock
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    old = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    ob, osh = dedup.minhash_index(old)
    got = {}
    for flag in (True, False):
        got[flag] = {
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in dedup.incremental_lsh_pairs(
                new, ob, osh, threshold=0.2, reduce_old=flag
            ).collect()
        }
    assert got[True] == got[False] and got[True]


def test_persist_registry_bounded_reused_and_released(spark, docs):
    # r11 persist lifecycle (r10 verdict #3 / ADVICE): dedup's scoped
    # persists are (a) reused for the same logical plan instead of
    # thrashing the cache across bench reps, (b) LRU-bounded so a
    # long-lived session's storage footprint cannot grow without bound,
    # (c) eagerly releasable.
    dedup.release_persists()
    a = dedup._persist_scoped(dedup.doc_shingles(docs))
    b = dedup._persist_scoped(dedup.doc_shingles(docs))
    assert a is b, "same plan must reuse the registered persist"
    assert len(dedup._LIVE_PERSISTS) == 1

    # distinct plans fill the registry; the oldest gets evicted and
    # actually unpersisted once the bound is crossed
    frames = [
        dedup._persist_scoped(dedup.doc_shingles(docs.filter(F.col("doc_id") > i)))
        for i in range(dedup._MAX_LIVE_PERSISTS + 2)
    ]
    assert len(dedup._LIVE_PERSISTS) == dedup._MAX_LIVE_PERSISTS
    assert not a.storageLevel.useMemory and not a.storageLevel.useDisk
    # the newest frames are still registered/persisted
    assert frames[-1].storageLevel.useMemory or frames[-1].storageLevel.useDisk

    released = dedup.release_persists()
    assert released == dedup._MAX_LIVE_PERSISTS
    assert len(dedup._LIVE_PERSISTS) == 0
    last = frames[-1].storageLevel
    assert not last.useMemory and not last.useDisk


def test_lsh_load_rejects_pre_r11_string_key_index(spark, docs, tmp_path):
    # a pre-r11 index stored 32-char md5 band keys; probing it with the
    # r11 long keys would silently produce zero candidates, so lsh_load
    # must refuse it loudly
    p = str(tmp_path / "lsh_v1")
    dedup.lsh_build(docs.filter(F.col("doc_id") < 12), p)
    old = spark.read.parquet(f"{p}/bands").select(
        "doc_id", "band", F.col("key").cast("string").alias("key")
    )
    old.write.mode("overwrite").parquet(f"{p}/bands_v1")
    import shutil

    shutil.rmtree(f"{p}/bands")
    shutil.move(f"{p}/bands_v1", f"{p}/bands")
    with pytest.raises(ValueError, match="band-key"):
        dedup.lsh_load(spark, p)


def test_lsh_append_rejects_pre_r11_index_before_writing(spark, docs, tmp_path):
    # r11 ADVICE: lsh_append must refuse a pre-r11 string-key index
    # BEFORE writing anything — otherwise bigint-key files land in the
    # same bands dir and reads fail later with a schema-merge error
    # instead of the intended loud ValueError.
    import os
    import shutil

    p = str(tmp_path / "lsh_v1a")
    dedup.lsh_build(docs.filter(F.col("doc_id") < 12), p)
    old = spark.read.parquet(f"{p}/bands").select(
        "doc_id", "band", F.col("key").cast("string").alias("key")
    )
    old.write.mode("overwrite").parquet(f"{p}/bands_v1")
    shutil.rmtree(f"{p}/bands")
    shutil.move(f"{p}/bands_v1", f"{p}/bands")
    before = sorted(os.listdir(f"{p}/bands"))
    with pytest.raises(ValueError, match="band-key"):
        dedup.lsh_append(docs.filter(F.col("doc_id") >= 12), p)
    # nothing was appended: the directory is byte-identical and still
    # reads cleanly under the old schema
    assert sorted(os.listdir(f"{p}/bands")) == before
    assert dict(spark.read.parquet(f"{p}/bands").dtypes)["key"] == "string"


def test_persist_registry_hash_collision_returns_callers_frame(spark, docs):
    # r11 ADVICE: semanticHash is 32-bit; on a collision between two
    # live plans the registry must NOT substitute the colliding frame.
    # Force every hash to one value and check the second (semantically
    # different) frame comes back with ITS data.
    from unittest.mock import patch

    dedup.release_persists()
    d1 = docs.filter(F.col("doc_id") < 5).select("doc_id")
    d2 = docs.filter(F.col("doc_id") >= 20).select("doc_id")
    with patch.object(type(d1), "semanticHash", lambda self: 42):
        a = dedup._persist_scoped(d1)
        ids_a = {r["doc_id"] for r in a.collect()}
        b = dedup._persist_scoped(d2)
        ids_b = {r["doc_id"] for r in b.collect()}
    try:
        assert ids_a == {r["doc_id"] for r in d1.collect()}
        assert ids_b == {r["doc_id"] for r in d2.collect()}
        assert ids_a.isdisjoint(ids_b) and ids_a and ids_b
        # the colliding first entry was evicted (unpersisted), the
        # caller's frame took the slot
        assert not a.storageLevel.useMemory and not a.storageLevel.useDisk
        assert b.storageLevel.useMemory or b.storageLevel.useDisk
    finally:
        dedup.release_persists()


def test_persist_registry_alias_only_projections_coexist(spark, docs):
    # r13: plan canonicalization normalizes output aliases away, so two
    # projections of ONE upstream plan that differ only in column names
    # (rank_a vs rank_b over the same ranking — the a==b metric-operator
    # case) are semanticHash-equal AND sameSemantics-true.  The registry
    # must key on the output names too, or the second pin comes back as
    # the FIRST frame with the wrong column names (AMBIGUOUS_REFERENCE
    # downstream).
    dedup.release_persists()
    try:
        base = docs.select("doc_id")
        a = dedup._persist_scoped(base.select(F.col("doc_id").alias("id_a")))
        b = dedup._persist_scoped(base.select(F.col("doc_id").alias("id_b")))
        assert a.columns == ["id_a"]
        assert b.columns == ["id_b"]
        # both frames stay live — pinning b must not evict or rename a
        assert a.storageLevel.useMemory or a.storageLevel.useDisk
        assert b.storageLevel.useMemory or b.storageLevel.useDisk
        joined = a.join(b, a["id_a"] == b["id_b"]).select("id_a", "id_b")
        assert joined.count() == docs.count()
    finally:
        dedup.release_persists()


def test_lsh_pair_paths_construct_lazily(spark, monkeypatch):
    # r13 barrier removal: building the full-build / index-derived pair
    # frames must trigger NO driver action (the retired width gate ran a
    # dsh.count + a bucket-size agg on every construct).  Any count /
    # first / collect during construction fails loudly here.
    from pyspark.sql import DataFrame

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon tok{i}") for i in range(30)],
        "doc_id long, text string",
    )
    bands, shingles = dedup.minhash_index(docs)

    def boom(self, *a, **k):
        raise AssertionError("driver action during lazy construct")

    for name in ("count", "first", "collect", "head", "take"):
        monkeypatch.setattr(DataFrame, name, boom)
    dedup.minhash_lsh_pairs(docs, threshold=0.2)
    dedup.lsh_pairs_from_index(bands, shingles, threshold=0.2)


def test_rbo_overlap_matches_brute_force(spark):
    # per-depth brute force of Webber's truncated RBO vs the operator's
    # re-indexed one-join form, including a zero-overlap query
    from decimal import ROUND_HALF_UP, Decimal

    a_rows = [
        (1, 10, 1), (1, 11, 2), (1, 12, 3),
        (2, 20, 1), (2, 21, 2), (2, 22, 3),
        (3, 30, 1), (3, 31, 2), (3, 32, 3),
    ]
    b_rows = [
        (1, 10, 1), (1, 12, 2), (1, 13, 3),   # same set-ish, different order
        (2, 22, 1), (2, 21, 2), (2, 20, 3),   # reversed
        (3, 90, 1), (3, 91, 2), (3, 92, 3),   # disjoint -> 0.0
    ]
    schema = "query_id: long, neighbor_id: long, rank: long"
    a = spark.createDataFrame(a_rows, schema)
    b = spark.createDataFrame(b_rows, schema)
    p, k = 0.9, 3
    got = {
        r["query_id"]: r["rbo"]
        for r in similarity.rbo_overlap(a, b, p=p, k=k).collect()
    }

    def r9d(x):
        return Decimal(repr(x)).quantize(Decimal("1e-9"), ROUND_HALF_UP)

    from staticql_spark.operators.similarity import rbo_weights

    w = rbo_weights(p, k)
    expect = {}
    for q in (1, 2, 3):
        ra = {i: r for qq, i, r in a_rows if qq == q}
        rb = {i: r for qq, i, r in b_rows if qq == q}
        acc = Decimal(0)
        for item in set(ra) & set(rb):
            m = max(ra[item], rb[item])
            acc += r9d(w[m - 1])
        v = (1.0 - p) * float(acc)
        expect[q] = float(
            Decimal(repr(v)).quantize(Decimal("1e-6"), ROUND_HALF_UP)
        )
        # independent per-depth check of the re-indexing identity
        brute = sum(
            p ** (d - 1)
            * len(
                {i for i, r in ra.items() if r <= d}
                & {i for i, r in rb.items() if r <= d}
            )
            / d
            for d in range(1, k + 1)
        )
        assert abs((1.0 - p) * brute - v) < 1e-9
    assert got == expect
    assert got[3] == 0.0
    assert got[2] < got[1] < 1.0  # full reversal costs more than a tail swap


def test_auc_score_matches_pairwise_brute_force(spark):
    # Mann-Whitney AUC with tie half-credit vs the O(P*N) definition;
    # scores chosen to cross the 1000-microunit bucket boundary so the
    # two-phase prefix sum's base-offset path is exercised
    from staticql_spark.operators import classify

    rows = [
        (1, 0.9), (1, 0.004), (1, 0.0021), (1, 0.5),
        (0, 0.1), (0, 0.004), (0, 0.0019), (0, 0.5), (0, 0.0021),
    ]
    df = spark.createDataFrame(rows, "label: int, score: double")
    row = classify.auc_score(df).collect()[0]
    pos = [s for l, s in rows if l == 1]
    neg = [s for l, s in rows if l == 0]
    u = sum(
        1.0 if p > n else (0.5 if p == n else 0.0) for p in pos for n in neg
    )
    assert row["n_pos"] == len(pos) and row["n_neg"] == len(neg)
    assert abs(row["auc"] - u / (len(pos) * len(neg))) < 1e-9

    # degenerate single-class input -> NULL auc, not a crash or 0/0
    one_class = spark.createDataFrame(
        [(1, 0.3), (1, 0.7)], "label: int, score: double"
    )
    assert classify.auc_score(one_class).collect()[0]["auc"] is None

    # perfect separation -> 1.0; anti-separation -> 0.0
    sep = spark.createDataFrame(
        [(1, 0.9), (1, 0.8), (0, 0.2), (0, 0.1)], "label: int, score: double"
    )
    assert classify.auc_score(sep).collect()[0]["auc"] == 1.0
    anti = spark.createDataFrame(
        [(0, 0.9), (1, 0.1)], "label: int, score: double"
    )
    assert classify.auc_score(anti).collect()[0]["auc"] == 0.0


def test_lsh_pairs_from_index_equals_inline(spark, docs, tmp_path):
    # pairs derived from a persisted index (no re-shingle/re-sign) must be
    # row-identical to the inline full build at the index's frozen recipe
    p = str(tmp_path / "lsh_full_idx")
    dedup.lsh_build(docs, p, n=3, num_hashes=16, bands=4)
    idx = dedup.lsh_load(spark, p)
    from_idx = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.lsh_pairs_from_index(
            idx.bands, idx.shingles, threshold=0.2
        ).collect()
    }
    inline = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.minhash_lsh_pairs(
            docs, n=3, num_hashes=16, bands=4, threshold=0.2
        ).collect()
    }
    assert from_idx == inline and from_idx


def test_lsh_index_old_filter_equals_subset_build(spark, docs, tmp_path):
    # per-doc signatures depend only on the doc's own text, so filtering
    # a full index equals building from the filtered corpus — the r11
    # _lsh_index_old derivation's contract
    full_p = str(tmp_path / "lsh_full")
    dedup.lsh_build(docs, full_p, n=3, num_hashes=16, bands=4)
    full = dedup.lsh_load(spark, full_p)
    sub_p = str(tmp_path / "lsh_sub")
    dedup.lsh_build(
        docs.filter(F.col("doc_id") % 5 != 0), sub_p, n=3, num_hashes=16, bands=4
    )
    sub = dedup.lsh_load(spark, sub_p)
    fb = {
        tuple(r) for r in full.bands.filter(F.col("doc_id") % 5 != 0).collect()
    }
    sb = {tuple(r) for r in sub.bands.collect()}
    assert fb == sb and fb
    fs = {
        (r["doc_id"], tuple(sorted(r["sh"])))
        for r in full.shingles.filter(F.col("doc_id") % 5 != 0).collect()
    }
    ss = {(r["doc_id"], tuple(sorted(r["sh"]))) for r in sub.shingles.collect()}
    assert fs == ss


def test_mrr_first_hit_matches_hand_computation(spark):
    # candidate ranking A vs reference set B, including a zero-overlap
    # query (0 sentinel) and a reference-only query
    from staticql_spark.operators.similarity import mrr_first_hit

    a = spark.createDataFrame(
        [
            (1, 10, 1), (1, 11, 2), (1, 12, 3),   # first hit at rank 2
            (2, 20, 1), (2, 21, 2),               # hit at rank 1
            (3, 30, 1), (3, 31, 2),               # zero overlap
        ],
        "query_id long, neighbor_id long, rank long",
    )
    b = spark.createDataFrame(
        [(1, 11), (1, 12), (2, 20), (3, 99), (4, 40)],
        "query_id long, neighbor_id long",
    )
    got = {
        r["query_id"]: (r["first_hit_rank"], r["rr"])
        for r in mrr_first_hit(a, b).collect()
    }
    assert got == {1: (2, 0.5), 2: (1, 1.0), 3: (0, 0.0), 4: (0, 0.0)}


def test_mann_kendall_matches_brute_force(spark):
    # exact S / tie-corrected variance / continuity-corrected z against
    # a driver-side brute force, covering an increasing series, a flat
    # (all-tied) series, and a decreasing one with internal ties
    import math

    from staticql_spark.operators.behavior import mann_kendall

    series = {
        "up": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0],
        "flat": [5.0] * 6,
        "down": [9.0, 7.0, 7.0, 5.0, 3.0, 3.0, 1.0, 0.0],
    }
    rows = [
        (g, t, v) for g, vs in series.items() for t, v in enumerate(vs)
    ]
    df = spark.createDataFrame(rows, "grp string, t long, v double")
    got = {
        r["grp"]: (r["n_periods"], r["s_stat"], r["var_s"], r["z"], r["trend"])
        for r in mann_kendall(df).collect()
    }
    for g, vs in series.items():
        n = len(vs)
        s = sum(
            (0 if vs[j] == vs[i] else (1 if vs[j] > vs[i] else -1))
            for i in range(n) for j in range(i + 1, n)
        )
        from collections import Counter

        tie = sum(t * (t - 1) * (2 * t + 5) for t in Counter(vs).values())
        var = (n * (n - 1) * (2 * n + 5) - tie) / 18.0
        if s > 0 and var > 0:
            z = (s - 1) / math.sqrt(var)
        elif s < 0 and var > 0:
            z = (s + 1) / math.sqrt(var)
        else:
            z = 0.0
        z = round(z, 6)
        trend = (
            "increasing" if z > 1.96
            else "decreasing" if z < -1.96
            else "no_trend"
        )
        assert got[g] == (n, s, round(var, 6), z, trend), g
    assert got["up"][4] == "increasing"
    assert got["down"][4] == "decreasing"
    assert got["flat"][4] == "no_trend"


def test_zipf_fit_matches_numpy_least_squares(spark):
    # the two-phase ranked top-n regression must equal a driver-side
    # numpy polyfit over the same (ln rank, ln freq) points, including
    # the tie ordering (count desc, token asc)
    import numpy as np

    words = (
        ["the"] * 50 + ["of"] * 25 + ["and"] * 25 + ["to"] * 12
        + ["alpha"] * 6 + ["beta"] * 6 + ["gamma"] * 3 + ["delta"] * 1
    )
    docs = [(i, " ".join(words[i::4]), "en") for i in range(4)]
    df = spark.createDataFrame(docs, "doc_id long, text string, lang string")
    got = text.zipf_fit(df, top_n=5).collect()
    assert len(got) == 1
    r = got[0]
    # brute force: global counts, rank by (count desc, token asc), top 5
    from collections import Counter

    cnt = Counter(words)
    ranked = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    x = np.log(np.arange(1, len(ranked) + 1, dtype=float))
    y = np.log(np.array([c for _, c in ranked], dtype=float))
    slope, intercept = np.polyfit(x, y, 1)
    r2 = np.corrcoef(x, y)[0, 1] ** 2
    assert r["n_ranks"] == 5
    assert abs(r["slope"] - slope) < 1e-5
    assert abs(r["intercept"] - intercept) < 1e-5
    assert abs(r["r2"] - r2) < 1e-5


def test_zipf_fit_degenerate_single_rank(spark):
    # one distinct token -> varx 0: slope/r2 fall back to 0.0 and the
    # intercept is ln(freq) (the single point), no NaN/division error
    df = spark.createDataFrame(
        [(0, "x x x x", "en")], "doc_id long, text string, lang string"
    )
    r = text.zipf_fit(df).collect()[0]
    import math

    assert (r["n_ranks"], r["slope"], r["r2"]) == (1, 0.0, 0.0)
    assert abs(r["intercept"] - round(math.log(4.0), 6)) < 1e-9


def test_ndcg_overlap_matches_brute_force(spark):
    # graded relevance from reference rank, log2 position discount,
    # against a driver-side per-query brute force (perfect order, partial
    # overlap in scrambled order, zero overlap)
    import math

    from staticql_spark.operators.similarity import ndcg_overlap

    a_rows = [
        (1, 10, 1), (1, 11, 2), (1, 12, 3),   # = reference order
        (2, 22, 1), (2, 99, 2), (2, 20, 3),   # partial, scrambled
        (3, 77, 1), (3, 78, 2), (3, 79, 3),   # disjoint
    ]
    b_rows = [
        (1, 10, 1), (1, 11, 2), (1, 12, 3),
        (2, 20, 1), (2, 21, 2), (2, 22, 3),
        (3, 30, 1), (3, 31, 2), (3, 32, 3),
    ]
    schema = "query_id long, neighbor_id long, rank long"
    a, b = spark.createDataFrame(a_rows, schema), spark.createDataFrame(b_rows, schema)
    k = 3
    got = {r["query_id"]: r["ndcg"] for r in ndcg_overlap(a, b, k=k).collect()}

    bmap = {(q, i): r for q, i, r in b_rows}
    idcg = sum((k + 1 - d) / math.log2(1 + d) for d in range(1, k + 1))
    for qid in (1, 2, 3):
        dcg = sum(
            round((k + 1 - bmap[(q, i)]) / math.log2(1 + ra), 9)
            for q, i, ra in a_rows
            if q == qid and (q, i) in bmap
        )
        assert abs(got[qid] - round(dcg / idcg, 6)) < 1e-9, qid
    assert got[1] == 1.0 and got[3] == 0.0 and 0.0 < got[2] < 1.0


def test_cusum_counts_matches_recursion(spark):
    # the prefix-sum-minus-prefix-min identity must equal the textbook
    # recursion S_t = max(0, S_{t-1} + (v_t - mean)), and the alarm must
    # fire exactly past k_sigma on a series with an injected level shift
    from staticql_spark.operators.behavior import cusum_counts

    series = {
        "shift": [10, 11, 9, 10, 10, 11, 30, 31, 29, 30],
        "steady": [5, 6, 5, 4, 6, 5, 5, 6],
    }
    rows = [(g, t, v) for g, vs in series.items() for t, v in enumerate(vs)]
    df = spark.createDataFrame(rows, "grp string, t long, v long")
    got = {
        (r["grp"], r["t"]): (r["cusum"], r["alarm"])
        for r in cusum_counts(df, k_sigma=4.0).collect()
    }
    import math

    for g, vs in series.items():
        n = len(vs)
        mean = sum(vs) / n
        sigma = math.sqrt(sum(v * v for v in vs) / n - mean * mean)
        s = 0.0
        for t, v in enumerate(vs):
            s = max(0.0, s + (v - mean))
            cus, alarm = got[(g, t)]
            assert abs(cus - round(s, 6)) < 1e-6, (g, t, cus, s)
            assert alarm == (round(s, 6) > round(4.0 * sigma, 6)), (g, t)
    assert any(a for (g, _), (_, a) in got.items() if g == "shift")
    assert not any(a for (g, _), (_, a) in got.items() if g == "steady")


@pytest.mark.slow  # soak-grade: excluded from the default gate (pytest.ini)
def test_iteration_artifacts_equal_inline_derivations(spark):
    # r12 construct-trim rewires: the parquet-hopped bt_ratings /
    # bt_ties / pagerank artifacts must be VALUE-IDENTICAL to the
    # inline iteration chains their oracles replay (longs + 6dp
    # doubles — the parquet hop must be exact, not approximately so)
    import __spark_entry__ as e
    from staticql_spark.operators import preference
    from staticql_spark.operators.graph import pagerank
    from tests.conftest import SF_SMOKE

    art = {tuple(r) for r in e._bt_ratings_cached(spark, SF_SMOKE).collect()}
    inline = {
        tuple(r)
        for r in preference.bt_ratings(
            e._pref_comparisons(e._t(spark, SF_SMOKE, "events")),
            iters=5, alpha=0.5,
        ).collect()
    }
    assert art == inline and art

    art_t = {tuple(r) for r in e._bt_ties_cached(spark, SF_SMOKE).collect()}
    inline_t = {
        tuple(r)
        for r in preference.bt_ties(
            e._pref_comparisons_ties(e._t(spark, SF_SMOKE, "events")),
            iters=5, alpha=0.5,
        ).collect()
    }
    assert art_t == inline_t and art_t

    from staticql_spark.streaming import load_events

    ev = load_events(spark, f"{SF_SMOKE}/events.parquet")
    base = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.concat(F.lit("u:"), F.col("user_id").cast("string")).alias("src"),
            F.concat(F.lit("k:"), F.get_json_object("props", "$.k")).alias("dst"),
        )
        .distinct()
    )
    edges = base.union(
        base.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    art_p = {tuple(r) for r in e._pagerank_cached(spark, SF_SMOKE).collect()}
    inline_p = {tuple(r) for r in pagerank(edges, iters=2).collect()}
    assert art_p == inline_p and art_p


def test_minhash_lsh_pairs_dup_dense_end_to_end(spark):
    # r13: the dup-dense corpus that once exercised the (retired)
    # adaptive width must still produce the exact pair set through the
    # chunked pair expansion at default verify width.
    # 2 clusters x 200 near-replica docs: every doc shares the cluster
    # shingle set (one token mutated), so each (band, key) bucket holds
    # the whole cluster — the bucket arrays (size ~200, chunk=128) take
    # both the diagonal and the off-diagonal slice-pair branches.
    rows = []
    for c in range(2):
        base = [f"tok{c}_{i}" for i in range(30)]
        for d in range(200):
            toks = list(base)
            toks[d % 30] = f"mut{c}_{d}"
            rows.append((c * 1000 + d, " ".join(toks)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = dedup.minhash_lsh_pairs(docs, threshold=0.5)
    n = got.count()
    # clusters are dense near-dup cliques: a large pair mass survives
    # the 0.5 Jaccard verify, and no cross-cluster pair can (disjoint
    # token namespaces)
    assert n > 10_000, n
    bad = got.filter(
        (F.col("id_a") < 1000) != (F.col("id_b") < 1000)
    ).count()
    assert bad == 0


def test_benford_digits_matches_hand_computation(spark):
    # digit extraction via integer cents (0.09 -> digit 9, 10.00 ->
    # digit 1), per-digit chi2 terms vs a driver-side brute force
    import math
    from collections import Counter

    from staticql_spark.operators.profile import benford_digits

    vals = [1.23, 12.3, 123.0, 0.09, 10.00, 99.9, 0.002, None, -5.0,
            2.5, 2.49, 31.4, 315.0]
    df = spark.createDataFrame(
        [("a", v) for v in vals], "grp string, value double"
    )
    got = {
        r["digit"]: (r["n_obs"], r["obs_share"], r["expected_share"], r["chi2_term"])
        for r in benford_digits(df).collect()
    }

    def first_digit(v):
        n = math.floor(v * 100)
        if n <= 0:
            return None
        while n >= 10:
            n //= 10
        return n

    digs = [first_digit(v) for v in vals if v is not None]
    digs = [d for d in digs if d is not None]
    cnt, n_tot = Counter(digs), len(digs)
    assert set(got) == set(cnt)
    for d, c in cnt.items():
        e = math.log10(1 + 1 / d)
        chi = (c - e * n_tot) ** 2 / (e * n_tot)
        assert got[d][0] == c
        assert abs(got[d][1] - round(c / n_tot, 6)) < 1e-9
        assert abs(got[d][2] - round(e, 6)) < 1e-9
        assert abs(got[d][3] - round(chi, 6)) < 1e-6
    # 0.002 -> cents 0 (excluded), -5.0 excluded, None excluded
    assert sum(c for c, *_ in got.values()) == len(vals) - 3


def test_simpson_diversity_matches_brute_force(spark):
    from collections import Counter

    from staticql_spark.operators.text import simpson_diversity

    docs = [
        (0, "the the the cat", "en"),
        (1, "the cat sat", "en"),
        (2, "x", "xx"),           # single token -> D = 0 by convention
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string, lang string")
    got = {
        r["grp"]: (r["n_tokens"], r["vocab"], r["simpson_d"], r["diversity"])
        for r in simpson_diversity(df).collect()
    }
    cnt = Counter("the the the cat the cat sat".split())
    n = sum(cnt.values())
    d = sum(c * (c - 1) for c in cnt.values()) / (n * (n - 1))
    assert got["en"] == (n, len(cnt), round(d, 6), round(1 - d, 6))
    assert got["xx"] == (1, 1, 0.0, 1.0)


def test_cusum_counts_series_starting_above_mean(spark):
    # r12 ADVICE (high): the prefix-min must include the P_0 = 0
    # baseline.  [6,5,5,4] has mean 5 and the textbook recursion gives
    # S = [1,1,1,0]; the unclamped min over P_1..P_t alone yields
    # all-zero (P_1 = +1 is also the running min), silently delaying
    # alarms for any series that starts above its group mean.
    from staticql_spark.operators.behavior import cusum_counts

    vs = [6, 5, 5, 4]
    df = spark.createDataFrame(
        [("above", t, v) for t, v in enumerate(vs)], "grp string, t long, v long"
    )
    got = {r["t"]: r["cusum"] for r in cusum_counts(df).collect()}
    assert got == {0: 1.0, 1: 1.0, 2: 1.0, 3: 0.0}

    # and an alarm-bearing variant: a shift UPWARD from t=0 (the whole
    # pre-fix operator would have reported cusum=0 until the running
    # prefix dipped below its start)
    vs2 = [30, 31, 29, 30, 10, 11, 9, 10, 10, 11]
    df2 = spark.createDataFrame(
        [("early", t, v) for t, v in enumerate(vs2)], "grp string, t long, v long"
    )
    import math

    rows = {r["t"]: (r["cusum"], r["alarm"]) for r in cusum_counts(df2, k_sigma=2.0).collect()}
    mean = sum(vs2) / len(vs2)
    sigma = math.sqrt(sum(v * v for v in vs2) / len(vs2) - mean * mean)
    s = 0.0
    for t, v in enumerate(vs2):
        s = max(0.0, s + (v - mean))
        cus, alarm = rows[t]
        assert abs(cus - round(s, 6)) < 1e-6, (t, cus, s)
        assert alarm == (round(s, 6) > round(2.0 * sigma, 6)), t
    # mean = 18.1, 2 sigma ~ 19.5: the accumulation crosses at t=1
    # (S_1 = 24.8) — the pre-fix operator stayed at 0 through the
    # entire high segment
    assert rows[1][1] and rows[3][1]
    assert rows[0] == (11.9, False)


def test_mann_kendall_single_period_group_emits_row(spark):
    # r12 ADVICE (low): an n=1 group produces no ordered pair, but the
    # operator promises a row per group — it must emit
    # (n=1, S=0, var_s=0, z=0, no_trend) instead of vanishing from the
    # inner join
    from staticql_spark.operators.behavior import mann_kendall

    rows = [("solo", 0, 5.0)] + [("up", t, float(t)) for t in range(8)]
    df = spark.createDataFrame(rows, "grp string, t long, v double")
    got = {
        r["grp"]: (r["n_periods"], r["s_stat"], r["var_s"], r["z"], r["trend"])
        for r in mann_kendall(df).collect()
    }
    assert set(got) == {"solo", "up"}
    assert got["solo"] == (1, 0, 0.0, 0.0, "no_trend")
    assert got["up"][4] == "increasing"


def test_ndcg_overlap_clamps_inputs_to_k(spark):
    # r12 ADVICE (low): rank <= k must be enforced on BOTH inputs — a
    # reference list longer than k would otherwise produce NEGATIVE
    # relevances (k+1-rank_b < 0) and candidate ranks beyond k would
    # still contribute discounted gain
    import math

    from staticql_spark.operators.similarity import ndcg_overlap

    k = 3
    schema = "query_id long, neighbor_id long, rank long"
    # candidate: top-3 hits 10,11,12 plus junk at ranks 4,5
    a = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3), (1, 13, 4), (1, 14, 5),
         (2, 40, 7), (2, 41, 8)],  # all ranks beyond k
        schema,
    )
    # reference: 5 rows (longer than k); item 13 sits at reference rank 4
    # and item 14 at 5 — with the clamp neither contributes
    b = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3), (1, 13, 4), (1, 14, 5),
         (2, 40, 1), (2, 41, 2)],
        schema,
    )
    got = {r["query_id"]: r["ndcg"] for r in ndcg_overlap(a, b, k=k).collect()}
    # query 1: exactly the perfect top-3 alignment -> 1.0 (junk clamped)
    assert got[1] == 1.0
    # query 2: candidate ranks all exceed k -> zero gain, but the row
    # still appears (qs built from the unfiltered inputs)
    assert got[2] == 0.0

    # cross-check the clamped-gain arithmetic on a mixed case
    a2 = spark.createDataFrame([(9, 50, 1), (9, 51, 4)], schema)
    b2 = spark.createDataFrame([(9, 50, 2), (9, 51, 1)], schema)
    got2 = ndcg_overlap(a2, b2, k=k).collect()[0]["ndcg"]
    idcg = sum((k + 1 - d) / math.log2(1 + d) for d in range(1, k + 1))
    want = round(round((k + 1 - 2) / math.log2(1 + 1), 9) / idcg, 6)
    assert abs(got2 - want) < 1e-9  # (9,51) clamped out of the candidate side


def test_benford_digits_scale_parameter(spark):
    # r13: scale parameterizes the fixed point.  Sub-cent magnitudes
    # (rates, fractional-ms latencies) truncate to zero at the default
    # cents scale and are silently dropped; scale=10**6 keeps them.
    # Benford expectations are scale-invariant so only survival changes.
    from staticql_spark.operators.profile import benford_digits

    import pytest as _pytest

    vals = [0.000123, 0.0045, 0.67, 8.9, 0.0001]
    df = spark.createDataFrame([("a", v) for v in vals], "grp string, value double")
    # default cents scale: only 0.67 and 8.9 survive floor(v*100) > 0
    got_default = {r["digit"]: r["n_obs"] for r in benford_digits(df).collect()}
    assert got_default == {6: 1, 8: 1}
    # micro scale: every value becomes a positive integer; first digits
    # 1 (123), 4 (4500), 6, 8, 1 (100)
    got_micro = {
        r["digit"]: r["n_obs"]
        for r in benford_digits(df, scale=10**6).collect()
    }
    assert got_micro == {1: 2, 4: 1, 6: 1, 8: 1}
    with _pytest.raises(ValueError):
        benford_digits(df, scale=0)


def test_zipf_fit_hapax_flood_unchanged_values(spark):
    # r12 ADVICE (low): a group with fewer than top_n repeated tokens
    # keeps its count=1 class alive, and that class holds the entire
    # hapax vocabulary.  The r13 literal row_number bound trims it via
    # WindowGroupLimit; values must be IDENTICAL to the brute-force
    # (count desc, token asc) top-n regression over the same corpus.
    import numpy as np
    from collections import Counter

    # 3 repeated tokens + 500 hapaxes, top_n = 10 -> the c=1 class is
    # live (base = 3 < 10) and holds 500 rows pre-trim
    words = ["aa"] * 9 + ["bb"] * 5 + ["cc"] * 3 + [f"hx{i:04d}" for i in range(500)]
    docs = [(i, " ".join(words[i::5]), "en") for i in range(5)]
    df = spark.createDataFrame(docs, "doc_id long, text string, lang string")
    r = text.zipf_fit(df, top_n=10).collect()[0]
    cnt = Counter(words)
    ranked = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    x = np.log(np.arange(1, len(ranked) + 1, dtype=float))
    y = np.log(np.array([c for _, c in ranked], dtype=float))
    slope, intercept = np.polyfit(x, y, 1)
    assert r["n_ranks"] == 10
    assert abs(r["slope"] - slope) < 1e-5
    assert abs(r["intercept"] - intercept) < 1e-5


def test_gini_concentration_matches_brute_force(spark):
    # closed-form tie-class rank sums must equal the textbook
    # ascending-sorted sum(i * x_i) formula, including heavy ties
    from collections import Counter

    words = (
        ["the"] * 50 + ["of"] * 25 + ["and"] * 25 + ["to"] * 12
        + ["a"] * 6 + ["b"] * 6 + ["c"] * 3 + ["d"] * 1 + ["e"] * 1 + ["f"] * 1
    )
    docs = [(i, " ".join(words[i::4]), "en") for i in range(4)] + [
        (9, "solo", "xx")  # single hapax: gini 0 (one type)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string, lang string")
    got = {
        r["grp"]: (r["vocab"], r["n_tokens"], r["gini"])
        for r in text.gini_concentration(df).collect()
    }
    cnt = Counter(words)
    xs = sorted(cnt.values())
    n, s = len(xs), sum(xs)
    rank_mass = sum((i + 1) * x for i, x in enumerate(xs))
    gini = 2.0 * rank_mass / (n * s) - (n + 1.0) / n
    assert got["en"] == (n, s, round(gini, 6))
    assert got["xx"] == (1, 1, 0.0)


def test_kendall_tau_overlap_hand_cases(spark):
    from staticql_spark.operators.similarity import kendall_tau_overlap

    schema = "query_id long, neighbor_id long, rank long"
    a = spark.createDataFrame(
        [
            (1, 10, 1), (1, 11, 2), (1, 12, 3),   # same order as ref
            (2, 20, 1), (2, 21, 2), (2, 22, 3),   # fully reversed vs ref
            (3, 30, 1), (3, 31, 2), (3, 32, 3),   # one swap
            (4, 40, 1),                            # overlap 1 -> tau 0
            (5, 50, 1),                            # no overlap
        ],
        schema,
    )
    b = spark.createDataFrame(
        [
            (1, 10, 1), (1, 11, 2), (1, 12, 3),
            (2, 22, 1), (2, 21, 2), (2, 20, 3),
            (3, 30, 1), (3, 32, 2), (3, 31, 3),
            (4, 40, 5), (4, 41, 1),
            (6, 60, 1),
        ],
        schema,
    )
    got = {
        r["query_id"]: (r["n_overlap"], r["concordant"], r["discordant"], r["tau"])
        for r in kendall_tau_overlap(a, b).collect()
    }
    assert got[1] == (3, 3, 0, 1.0)
    assert got[2] == (3, 0, 3, -1.0)
    assert got[3] == (3, 2, 1, round(1 / 3, 6))
    assert got[4] == (1, 0, 0, 0.0)   # single overlap: no pairs
    assert got[5] == (0, 0, 0, 0.0)   # candidate-only query still emits
    assert got[6] == (0, 0, 0, 0.0)   # reference-only query still emits


def test_theil_sen_matches_brute_force(spark):
    # lower-median of pairwise slopes; n=1 group emits (0 pairs, 0.0)
    from staticql_spark.operators.behavior import theil_sen

    series = {
        "lin": [(0, 1.0), (1, 3.0), (2, 5.0), (3, 7.0)],        # slope 2
        "out": [(0, 0.0), (1, 1.0), (2, 2.0), (3, 300.0)],      # robust to outlier
        "solo": [(5, 9.0)],
    }
    rows = [(g, t, v) for g, pts in series.items() for t, v in pts]
    df = spark.createDataFrame(rows, "grp string, t long, v double")
    got = {
        r["grp"]: (r["n_periods"], r["n_pairs"], r["slope"])
        for r in theil_sen(df).collect()
    }
    for g, pts in series.items():
        slopes = sorted(
            round((v2 - v1) / (t2 - t1), 9)
            for i, (t1, v1) in enumerate(pts)
            for (t2, v2) in pts[i + 1:]
        )
        m = len(slopes)
        med = slopes[(m + 1) // 2 - 1] if m else 0.0
        assert got[g] == (len(pts), m, round(med, 6)), g
    assert got["lin"][2] == 2.0
    assert abs(got["out"][2] - 1.0) < 1e-9  # outlier pair slopes sit in the tail


def test_rater_confusion_vs_consensus(spark):
    from staticql_spark.operators import preference

    rows = [
        # item 1: consensus 'x' (2 vs 1)
        (1, 0, "x"), (1, 1, "x"), (1, 2, "y"),
        # item 2: tie 'x'/'y' -> smallest cat 'x' wins
        (2, 0, "y"), (2, 1, "x"),
        # item 3: singleton
        (3, 2, "z"),
    ]
    df = spark.createDataFrame(rows, "item long, rater long, cat string")
    got = {
        (r["rater"], r["consensus_cat"], r["label_cat"]): r["n"]
        for r in preference.rater_confusion(df).collect()
    }
    assert got == {
        (0, "x", "x"): 1,   # item 1: rater 0 agreed with the modal x
        (0, "x", "y"): 1,   # item 2: tie broke to x, rater 0 had said y
        (1, "x", "x"): 2,   # items 1 and 2
        (2, "x", "y"): 1,   # item 1: rater 2 dissented
        (2, "z", "z"): 1,   # singleton item is its own consensus
    }


def test_r13_operators_degenerate_inputs(spark):
    # empty and single-row inputs must return empty/trivial frames with
    # the contract schema — not crash (division guards, left joins)
    from staticql_spark.operators import preference
    from staticql_spark.operators.behavior import theil_sen
    from staticql_spark.operators.similarity import kendall_tau_overlap

    empty_docs = spark.createDataFrame([], "doc_id long, text string, lang string")
    assert text.gini_concentration(empty_docs).count() == 0

    empty_series = spark.createDataFrame([], "grp string, t long, v double")
    assert theil_sen(empty_series).count() == 0

    schema = "query_id long, neighbor_id long, rank long"
    empty_rank = spark.createDataFrame([], schema)
    assert kendall_tau_overlap(empty_rank, empty_rank).count() == 0
    # one-sided empty: candidate-only queries still emit zero rows
    a = spark.createDataFrame([(1, 10, 1)], schema)
    got = kendall_tau_overlap(a, empty_rank).collect()
    assert [(r["query_id"], r["n_overlap"], r["tau"]) for r in got] == [(1, 0, 0.0)]

    empty_labels = spark.createDataFrame([], "item long, rater long, cat string")
    assert preference.rater_confusion(empty_labels).count() == 0

    empty_scores = spark.createDataFrame([], "item long, rater long, score double")
    empty_ref = spark.createDataFrame([], "item long, ref_score double")
    assert preference.rater_severity(empty_scores, empty_ref).count() == 0
    # scores without any matching reference: inner join drops all
    s1 = spark.createDataFrame([(1, 0, 5.0)], "item long, rater long, score double")
    assert preference.rater_severity(s1, empty_ref).count() == 0


def test_expand_pairs_chunked_equals_pairs_within(spark):
    # the bounded-row-size expansion must emit EXACTLY the _pairs_within
    # set for any bucket size — below, at, and across chunk boundaries —
    # and for struct-typed elements (the incremental tagged form)
    import pyspark.sql.functions as SF

    sizes = [1, 2, 3, 5, 7, 8, 9, 15, 16, 17, 33]
    rows = [(bi, sorted(range(bi * 1000, bi * 1000 + n))) for bi, n in enumerate(sizes)]
    df = spark.createDataFrame(rows, "bucket long, ids array<long>")
    want = {
        (r["bucket"], r["p"]["id_a"], r["p"]["id_b"])
        for r in df.select(
            "bucket", SF.explode(dedup._pairs_within("ids")).alias("p")
        ).collect()
    }
    got_rows = dedup.expand_pairs_chunked(df, chunk=8).collect()
    got = {(r["bucket"], r["p"]["id_a"], r["p"]["id_b"]) for r in got_rows}
    assert got == want
    assert len(got_rows) == len(got), "chunked expansion must not duplicate pairs"
    # pair count sanity: sum C(n,2)
    assert len(got) == sum(n * (n - 1) // 2 for n in sizes)

    # struct elements (id, is_new) — array_sort'd like the incremental path
    srows = [
        (0, [(1, False), (2, True), (3, False), (4, True), (5, True)]),
    ]
    sdf = spark.createDataFrame(
        srows, "bucket long, ids array<struct<doc_id:long, is_new:boolean>>"
    )
    want_s = {
        (r["p"]["id_a"]["doc_id"], r["p"]["id_b"]["doc_id"])
        for r in sdf.select(SF.explode(dedup._pairs_within("ids")).alias("p")).collect()
    }
    got_s = {
        (r["p"]["id_a"]["doc_id"], r["p"]["id_b"]["doc_id"])
        for r in dedup.expand_pairs_chunked(sdf, chunk=2).collect()
    }
    assert got_s == want_s and len(got_s) == 10


def test_expand_pairs_chunked_property(spark):
    # randomized sizes x chunk widths: exact set equality with
    # _pairs_within and the row-size bound (no in-row array exceeds
    # chunk^2 elements)
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    import pyspark.sql.functions as SF

    @given(
        sizes=st.lists(st.integers(1, 40), min_size=1, max_size=4),
        chunk=st.integers(2, 10),
    )
    @settings(
        max_examples=8, deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def inner(sizes, chunk):
        rows = [
            (bi, sorted(range(bi * 100, bi * 100 + n)))
            for bi, n in enumerate(sizes)
        ]
        df = spark.createDataFrame(rows, "bucket long, ids array<long>")
        want = {
            (r["bucket"], r["p"]["id_a"], r["p"]["id_b"])
            for r in df.select(
                "bucket", SF.explode(dedup._pairs_within("ids")).alias("p")
            ).collect()
        }
        got = {
            (r["bucket"], r["p"]["id_a"], r["p"]["id_b"])
            for r in dedup.expand_pairs_chunked(df, chunk=chunk).collect()
        }
        assert got == want

    inner()


def test_decimal_mean_array_and_staged_int8_codes_bit_identical(spark):
    # Two alternate physical forms that must equal their reference form:
    # (a) decimal_mean_array by NAME (one-parse F.expr) vs by Column
    #     (portable form) inside the same groupBy;
    # (b) the staged int8 code path (_with_int8_codes) vs the composed
    #     _int8_codes expression;
    # plus short/null-element/null-array rows for both.
    import hashlib

    def vec(seed, d):
        return [
            (int(hashlib.md5(f"{seed}|{i}".encode()).hexdigest()[:8], 16)
             / float(0xFFFFFFFF) * 2.0 - 1.0)
            for i in range(d)
        ]

    rows = [(i, i % 3, vec(i, 16)) for i in range(12)]
    rows += [
        (12, 0, [None] + vec("n", 15)),
        (13, 1, None),
        (14, 2, vec("short", 7)),
    ]
    df = spark.createDataFrame(rows, "rid long, g int, va array<double>")

    # decimal_mean_array contracts fixed-width input (both its forms index
    # [0..d-1] unconditionally — ANSI throws on the short row); null
    # elements and null arrays stay in
    dm = df.filter(F.col("rid") != 14)
    named = dm.groupBy("g").agg(similarity.decimal_mean_array("va", 16).alias("m"))
    coly = dm.groupBy("g").agg(
        similarity.decimal_mean_array(F.col("va"), 16).alias("m2")
    )
    bad = named.join(coly, "g").where(
        ~F.col("m").eqNullSafe(F.col("m2"))
    ).count()
    assert bad == 0, "decimal_mean_array name/Column forms diverged"

    staged = similarity._with_int8_codes(df, "va", F.col("rid"), "c")
    composed = df.select("rid", similarity._int8_codes(F.col("va")).alias("c2"))
    bad = staged.join(composed, "rid").where(
        ~F.col("c").eqNullSafe(F.col("c2"))
    ).count()
    assert bad == 0, "staged int8 codes diverged from the composed form"
