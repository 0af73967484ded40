"""M7 operator tests: dedup quality, ANN recall, asof semantics, multimodal
plumbing."""

from __future__ import annotations

import datetime

from pyspark.sql import Row
from pyspark.sql import functions as F

from sqlserver2pgsql_spark import queries_llm as QL
from sqlserver2pgsql_spark.operators import dedup as D
from sqlserver2pgsql_spark.operators import similarity as S
from sqlserver2pgsql_spark.operators.asof import asof_join
from sqlserver2pgsql_spark.operators.multimodal import extract_features, synth_media
from tests.conftest import SF_DIR


def test_minhash_lsh_finds_exact_jaccard_pairs(spark):
    """MinHash+LSH(16×4) must recover the exact Jaccard≥0.6 pair set on the
    near-dup corpus (high-jaccard pairs are caught by banding w.h.p.; the
    verify step removes false positives exactly)."""
    exact = {
        (r.id1, r.id2)
        for r in QL.q18_ngram_jaccard_pairs(spark, SF_DIR).collect()
    }
    lsh = {(r.id1, r.id2) for r in QL.q19_minhash_lsh_pairs(spark, SF_DIR).collect()}
    assert lsh <= exact  # verification guarantees no false positives
    # banding threshold ≈0.5 < 0.6 → expect full recall on this corpus
    assert lsh == exact


def test_ann_lsh_recall(spark):
    exact = {
        (r.query_id, r.vec_id)
        for r in QL.q21_ann_bruteforce_topk(spark, SF_DIR).collect()
    }
    approx = {(r.query_id, r.vec_id) for r in QL.q22_ann_lsh_topk(spark, SF_DIR).collect()}
    assert exact, "brute-force top-k must be non-empty"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.2, f"LSH recall collapsed: {recall}"


def test_simhash_identical_docs_zero_distance(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text="alpha beta gamma delta"), Row(doc_id=2, text="alpha beta gamma delta"),
         Row(doc_id=3, text="totally different words here entirely")]
    )
    sigs = {r.doc_id: r.simhash for r in D.simhash(df, "doc_id", "text").collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]
    pairs = D.simhash_neardup_pairs(D.simhash(df, "doc_id", "text"), max_distance=3).collect()
    assert [(p.id1, p.id2, p.hamming) for p in pairs] == [(1, 2, 0)]


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [Row(id=5, t="x"), Row(id=2, t="x"), Row(id=9, t="y")]
    )
    kept = sorted(r.id for r in D.exact_dedup(df, ["t"], "id").collect())
    assert kept == [2, 9]


def test_cosine_fold_matches_numpy(spark):
    import numpy as np

    a = [0.5, -1.25, 3.0, 2.0]
    b = [1.0, 0.5, -2.0, 0.25]
    df = spark.createDataFrame([(a, b)], "a array<double>, b array<double>")
    got = df.select(S.cosine(F.col("a"), F.col("b")).alias("c")).collect()[0].c
    exp = float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))
    assert abs(got - exp) < 1e-12


def test_asof_join_strict_vs_nonstrict(spark):
    ts = lambda s: datetime.datetime.fromisoformat(s)
    left = spark.createDataFrame(
        [Row(k=1, lts=ts("2020-01-01 10:00:00")), Row(k=1, lts=ts("2020-01-01 12:00:00")),
         Row(k=2, lts=ts("2020-01-01 09:00:00"))]
    )
    right = spark.createDataFrame(
        [Row(k=1, rts=ts("2020-01-01 10:00:00"), v=10.0),
         Row(k=1, rts=ts("2020-01-01 11:00:00"), v=11.0)]
    )
    strict = {
        (r.k, r.lts): r.v_asof
        for r in asof_join(left, right, "k", "lts", "rts", ["v"], strict=True).collect()
    }
    assert strict[(1, ts("2020-01-01 10:00:00"))] is None  # equal ts excluded
    assert strict[(1, ts("2020-01-01 12:00:00"))] == 11.0
    assert strict[(2, ts("2020-01-01 09:00:00"))] is None  # no right rows for key

    nonstrict = {
        (r.k, r.lts): r.v_asof
        for r in asof_join(left, right, "k", "lts", "rts", ["v"], strict=False).collect()
    }
    assert nonstrict[(1, ts("2020-01-01 10:00:00"))] == 10.0  # equal ts included


def test_multimodal_feature_plumbing(spark):
    import numpy as np

    from sqlserver2pgsql_spark.operators.multimodal import synth_pixels

    media = synth_media(spark, n=32)
    feats = extract_features(media)
    rows = feats.collect()
    assert len(rows) == 32
    assert {r.modality for r in rows} == {"image", "audio", "video"}
    byid = {r.media_id: r for r in rows}
    # image rows ride REAL 8x6 24-bit BMPs: 54 B header + 24 B/row x 6
    assert byid[0].n_bytes == 198
    assert byid[0].feat_dim == 144  # decoded 6*8*3 pixels, real path
    assert byid[0].feat_mean == float(np.mean(synth_pixels(0)))
    # audio rows ride REAL 256-sample PCM16 WAVs: 44 B header + 512 B data
    from sqlserver2pgsql_spark.operators.multimodal import synth_samples

    assert byid[1].n_bytes == 556 and byid[1].feat_dim == 256
    assert byid[1].feat_mean == float(synth_samples(1).astype(np.int64).sum()) / 256
    assert byid[0].payload_hash is not None
    # determinism: same payload pattern (media_id % 7) → same hash
    assert byid[0].payload_hash != byid[1].payload_hash
    assert byid[0].payload_hash == byid[21].payload_hash  # 21%7==0, image
    assert byid[1].payload_hash == byid[22].payload_hash  # 22%7==1, audio


def test_bmp_codec_roundtrip_and_resize():
    import numpy as np

    from sqlserver2pgsql_spark.operators.multimodal import (
        decode_bmp,
        encode_bmp,
        synth_pixels,
    )

    # round-trip including a width whose rows need 4-byte padding (w=5)
    arr = synth_pixels(3)[:, :5, :]
    assert np.array_equal(decode_bmp(encode_bmp(arr)), arr)
    # 2x nearest-neighbor upsample preserves the sampled grid exactly
    arr8 = synth_pixels(4)
    up = decode_bmp(encode_bmp(arr8[np.arange(12) * 6 // 12][:, np.arange(16) * 8 // 16]))
    assert up.shape == (12, 16, 3)
    assert np.array_equal(up[::2, ::2], arr8)


def test_wav_codec_roundtrip():
    import numpy as np

    from sqlserver2pgsql_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
        synth_samples,
    )

    s = synth_samples(5)
    assert np.array_equal(decode_wav(encode_wav(s)), s)
    # decoder walks the chunk list: a 'fact' chunk before 'data' is legal
    canonical = encode_wav(s)
    with_fact = (
        canonical[:36]
        + b"fact" + (4).to_bytes(4, "little") + (256).to_bytes(4, "little")
        + canonical[36:]
    )
    patched = bytearray(with_fact)
    patched[4:8] = (len(with_fact) - 8).to_bytes(4, "little")
    assert np.array_equal(decode_wav(bytes(patched)), s)


def test_fingerprint_rolling_stable(spark):
    from sqlserver2pgsql_spark.operators.text import fingerprint_rolling

    df = spark.createDataFrame(
        [Row(id=1, text="a b c d e f g"), Row(id=2, text="a  b   c d e f g"),
         Row(id=3, text="x y z w v u t")]
    )
    fps = {r.id: r.fp for r in df.select("id", fingerprint_rolling(F.col("text")).alias("fp")).collect()}
    assert fps[1] == fps[2]  # whitespace-insensitive
    assert fps[1] != fps[3]


def test_multimodal_resize_and_frames(spark):
    from sqlserver2pgsql_spark.operators.multimodal import (
        resize_images,
        sample_frames,
        synth_media,
    )

    media = synth_media(spark, n=30)
    resized = resize_images(media, 64, 64).collect()
    assert resized and all(r.width == 64 and r.height == 64 for r in resized)
    assert len({len(r.payload) for r in resized}) == 1  # size-normalized
    # the resized payloads are themselves valid BMPs (real decode→resample→
    # re-encode path): decode one and check dimensions + nearest-neighbor
    # content against the source pattern
    import numpy as np

    from sqlserver2pgsql_spark.operators.multimodal import decode_bmp, synth_pixels

    out = decode_bmp(next(r.payload for r in resized if r.media_id == 0))
    assert out.shape == (64, 64, 3)
    src = synth_pixels(0)
    ys, xs = (np.arange(64) * 6) // 64, (np.arange(64) * 8) // 64
    assert np.array_equal(out, src[ys][:, xs])

    frames = sample_frames(media, every_ms=500, max_frames=4)
    rows = frames.collect()
    assert rows
    per_media = {}
    for r in rows:
        per_media.setdefault(r.media_id, []).append((r.frame_idx, r.frame_ms))
    for mid, fs in per_media.items():
        assert sorted(fs) == [(i, i * 500) for i in range(len(fs))]  # 1→N shape
    # video frames are REAL standalone BMPs (stream split on header sizes):
    # frame f of media m decodes to the synth pattern of (m + f)
    fr = next(r for r in rows if r.media_id == 2 and r.frame_idx == 1)
    assert np.array_equal(decode_bmp(fr.frame_payload), synth_pixels(3))


def test_ivf_topk_recall(spark):
    from pyspark.sql import functions as F

    from sqlserver2pgsql_spark.operators import similarity as SS
    from sqlserver2pgsql_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    exact = {(r.query_id, r.vec_id) for r in SS.ann_bruteforce_topk(emb, q, k=5).collect()}
    ivf = {
        (r.query_id, r.vec_id)
        for r in SS.ann_ivf_topk(emb, q, k=5, partition_col="label", nprobe=4).collect()
    }
    recall = len(exact & ivf) / len(exact)
    assert recall >= 0.3, f"IVF recall collapsed: {recall}"


def test_embedding_neardup_lsh_bucketed(spark):
    from sqlserver2pgsql_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    exact = {
        (r.id1, r.id2): r.cos_sim
        for r in S.embedding_neardup_pairs(emb, threshold=0.35).collect()
    }
    lsh = {
        (r.id1, r.id2): r.cos_sim
        for r in S.embedding_neardup_pairs_lsh(emb, threshold=0.35).collect()
    }
    assert exact, "exact near-dup set must be non-empty"
    # precision 1.0: every bucketed pair is exact-verified in-bucket
    for k, v in lsh.items():
        assert k in exact and v == exact[k]
    recall = len(lsh) / len(exact)
    assert recall >= 0.5, f"bucketed recall collapsed: {recall}"


def test_embedding_neardup_guard_raises(spark):
    import pytest as _pytest

    from sqlserver2pgsql_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    with _pytest.raises(ValueError, match="embedding_neardup_pairs_lsh"):
        S.embedding_neardup_pairs(emb, threshold=0.35, max_broadcast_rows=10)


def test_ivf_max_cell_sample_enforced(spark):
    """A cell over the bound builds its centroid from the lowest-id sample
    only — deterministic, and distinct from the unbounded centroid."""
    from pyspark.sql import functions as F

    from sqlserver2pgsql_spark.operators import similarity as SS
    from sqlserver2pgsql_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    full = SS.ivf_centroids(emb, partition_col="label")
    capped = SS.ivf_centroids(emb, partition_col="label", max_cell_sample=5)
    manual = SS.ivf_centroids(
        # the sample the cap should select: 5 lowest vec_ids per label
        emb.withColumn(
            "__r",
            F.row_number().over(
                __import__("pyspark.sql", fromlist=["Window"]).Window.partitionBy(
                    "label"
                ).orderBy("vec_id")
            ),
        )
        .filter(F.col("__r") <= 5)
        .drop("__r"),
        partition_col="label",
    )
    capped_rows = {r.cell: r.centroid for r in capped.collect()}
    manual_rows = {r.cell: r.centroid for r in manual.collect()}
    full_rows = {r.cell: r.centroid for r in full.collect()}
    assert capped_rows == manual_rows
    assert capped_rows != full_rows  # the cap binds on this corpus


def test_curation_operators(spark):
    from pyspark.sql import Row, functions as F

    from sqlserver2pgsql_spark.operators.curation import (
        redact_text,
        repetition_metrics,
        stratified_cap,
    )

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="mail me at bob@x.co or https://a.b/c id 1234567 ok"),
            Row(doc_id=2, text="clean text no pii"),
            Row(doc_id=3, text="a a a a"),
            Row(doc_id=4, text="w"),
        ]
    )
    red = {r.doc_id: r for r in redact_text(docs).collect()}
    assert red[1].n_emails == 1 and red[1].n_urls == 1 and red[1].n_digit_runs == 1
    assert red[1].redacted == "mail me at <EMAIL> or <URL> id <NUM> ok"
    assert red[2].redacted == "clean text no pii"

    rep = {r.doc_id: r for r in repetition_metrics(docs).collect()}
    assert rep[3].rep_tokens == 4
    assert rep[3].rep_dup_token_ratio == 0.75  # one distinct token of 4
    assert rep[3].rep_dup_bigram_ratio == 1.0 - 1.0 / 3.0  # 'a a' ×3
    assert rep[4].rep_dup_bigram_ratio == 0.0  # single-token doc guarded

    capped = stratified_cap(
        spark.createDataFrame(
            [Row(g="s1", i=n) for n in range(20)] + [Row(g="s2", i=99)]
        ),
        "g",
        "i",
        cap=3,
    ).collect()
    per_g: dict = {}
    for r in capped:
        per_g.setdefault(r.g, []).append(r.i)
    assert sorted(per_g["s1"]) == [0, 1, 2]  # lowest order_col wins
    assert per_g["s2"] == [99]


def test_connected_components_transitive(spark):
    """A~B, B~C, C~D chains collapse to one cluster labeled by the min id;
    disjoint pairs stay separate."""
    from pyspark.sql import Row

    from sqlserver2pgsql_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [Row(id1=5, id2=2), Row(id1=2, id2=9), Row(id1=9, id2=7),  # chain {2,5,7,9}
         Row(id1=30, id2=31)]                                      # island {30,31}
    )
    got = {r.node: r.cluster_id for r in connected_components(edges).collect()}
    assert got == {2: 2, 5: 2, 7: 2, 9: 2, 30: 30, 31: 30}


def test_connected_components_star_matches_minlabel(spark, loop_rounds):
    """Alternating large-star/small-star (Kiveris SOCC'14) produces the same
    (node, min-id) labeling as min-label propagation, and on a long path its
    round count beats the diameter bound that min-label pays."""
    from pyspark.sql import Row

    from sqlserver2pgsql_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    # a 12-node path (diameter 11) + an island pair: worst case for
    # propagation, the case the star algorithm exists for
    path = [Row(id1=i, id2=i + 1) for i in range(1, 12)]
    edges = spark.createDataFrame(path + [Row(id1=50, id2=51)])
    want = {r.node: r.cluster_id for r in connected_components(edges).collect()}
    got = {r.node: r.cluster_id for r in connected_components_star(edges).collect()}
    rounds = loop_rounds[-1]
    assert got == want
    assert got[11] == 1 and got[51] == 50
    # diameter-11 path needs ~11 propagation rounds; star needs O(log^2)
    assert rounds <= 6


def test_tfidf_top_terms(spark):
    from sqlserver2pgsql_spark.operators.text import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="apple apple banana"),
            Row(doc_id=2, text="banana cherry"),
            Row(doc_id=3, text="cherry cherry cherry"),
        ]
    )
    top = tfidf_top_terms(docs, "doc_id", "text", k=1).collect()
    best = {r.doc_id: (r.term, r.tf, r.doc_freq, r.score) for r in top}
    # doc 1: apple tf=2 df=1 → 2*3/1=6 beats banana 1*3/2=1.5
    assert best[1] == ("apple", 2, 1, 6.0)
    # doc 2: tie on tf — cherry and banana both tf=1 df=2 score 1.5;
    # term asc tie-break → 'banana'
    assert best[2][0] == "banana"
    assert best[3] == ("cherry", 3, 2, 4.5)


def test_stratified_sample_deterministic_and_partition_invariant(spark):
    from sqlserver2pgsql_spark.operators.curation import stratified_sample

    df = spark.createDataFrame([Row(s="a", k=i) for i in range(200)])
    pct = F.lit(50)
    kept1 = sorted(r.k for r in stratified_sample(df, "s", "k", pct).collect())
    kept2 = sorted(
        r.k for r in stratified_sample(df.repartition(7), "s", "k", pct).collect()
    )
    assert kept1 == kept2, "sample must not depend on partition layout"
    # ~50% with md5-uniform buckets; generous tolerance on n=200
    assert 60 <= len(kept1) <= 140


def test_pack_sequences_chunked_running_sum(spark):
    from sqlserver2pgsql_spark.operators.curation import pack_sequences

    df = spark.createDataFrame(
        [Row(g="s", i=n, w=300) for n in range(1, 5)]  # starts 0,300,600,900
    )
    got = {r.i: (r.cum_weight, r.pack_id) for r in pack_sequences(
        df, "g", "i", "w", budget=512).collect()}
    assert got == {1: (300, 0), 2: (600, 0), 3: (900, 1), 4: (1200, 1)}


def test_decontamination_hits(spark):
    from sqlserver2pgsql_spark.operators.curation import decontamination_hits

    train = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps"),
            Row(doc_id=2, text="totally unrelated words entirely here"),
        ]
    )
    bench = spark.createDataFrame([Row(doc_id=100, text="quick brown fox runs")])
    got = {r.doc_id: r for r in decontamination_hits(
        train, bench, "doc_id", "text", n=3).collect()}
    # only 'quick brown fox' is shared; doc 1 has 3 shingles
    assert set(got) == {1}
    assert got[1].n_hits == 1 and got[1].n_shingles == 3
    assert got[1].contamination_ratio == 1.0 / 3.0


def test_token_budget_mix_respects_allocation(spark):
    from sqlserver2pgsql_spark.operators.curation import token_budget_mix

    df = spark.createDataFrame(
        [Row(src="a", doc_id=i, tok=40) for i in range(10)]
        + [Row(src="b", doc_id=i, tok=40) for i in range(10)]
    )
    parts = F.when(F.col("src") == "a", F.lit(3)).otherwise(F.lit(1))
    # alloc: a = 3*400/4 = 300 → 7 docs of 40 (280); b = 100 → 2 docs
    got = token_budget_mix(
        df, "src", [F.col("doc_id").asc()], "tok", parts,
        total_parts=4, budget=400,
    ).collect()
    per_src: dict = {}
    for r in got:
        per_src.setdefault(r.src, []).append(r.doc_id)
        assert r.cum_tokens <= r.alloc
    assert sorted(per_src["a"]) == list(range(7))
    assert sorted(per_src["b"]) == [0, 1]


def test_weighted_systematic_sample_weight_bias_and_determinism(spark):
    """Rows heavier than the W/k boundary spacing are ALWAYS selected; the
    draw never exceeds k per group and is deterministic."""
    from sqlserver2pgsql_spark.operators.curation import weighted_systematic_sample

    # aperiodic heavy rows (weight 50 > spacing 394/10 = 39.4) so every
    # heavy row spans at least one boundary
    rows = [Row(g="a", i=i, w=(50 if i % 17 == 0 else 1)) for i in range(100)]
    df = spark.createDataFrame(rows)
    got = weighted_systematic_sample(df, "g", "i", "w", k=10).collect()
    heavy_ids = {i for i in range(100) if i % 17 == 0}
    assert heavy_ids <= {r.i for r in got}  # oversized rows always kept
    assert len(heavy_ids) <= len(got) <= 10
    # determinism: same input → same selection
    again = weighted_systematic_sample(df, "g", "i", "w", k=10).collect()
    assert {r.i for r in got} == {r.i for r in again}


def test_hll_sliding_distinct_tracks_exact(spark):
    """The merged sliding estimate stays within classic-HLL error of the
    exact trailing-window distinct count (p=10 → ~3.2% typical; assert a
    generous 15% on this small fixture)."""
    import datetime

    from sqlserver2pgsql_spark.operators.sketches import hll_sliding_distinct

    base = datetime.date(2024, 1, 1)
    rows = [
        Row(day=base + datetime.timedelta(days=d), uid=(d * 37 + i) % 400)
        for d in range(10)
        for i in range(120)
    ]
    df = spark.createDataFrame(rows)
    est = {
        r.wday: r.approx_distinct
        for r in hll_sliding_distinct(
            df, F.col("day"), "uid", p=10, window_days=3
        ).collect()
    }
    # exact trailing-3-day distincts
    per_day: dict = {}
    for r in rows:
        per_day.setdefault(r.day, set()).add(r.uid)
    for day, _ in per_day.items():
        exact = len(
            set().union(
                *[
                    per_day.get(day - datetime.timedelta(days=o), set())
                    for o in range(3)
                ]
            )
        )
        assert abs(est[day] - exact) / exact < 0.15, (day, est[day], exact)


def test_prefix_filter_position_bound_exact(spark):
    """prefix_filter_jaccard_pairs (with the PPJoin position filter, r6)
    must emit the IDENTICAL scored pair set as the full posting self-join
    on a fixture built to stress the bound: near-threshold pairs (J just
    above/below t), length-skewed pairs near the t*|a| <= |b| edge, and
    docs whose only shared prefix shingle sits LATE in one prefix (the
    tuple the position filter prunes — the pair must still arrive via its
    rarest common shingle)."""
    vocab = ["aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh", "ii", "jj"]
    rows = []
    # systematic: doc i = tokens[i % 7 .. i % 7 + 3 + i % 5] (wraps), so the
    # corpus has heavy shingle sharing at mixed lengths
    for i in range(40):
        start, ln = i % 7, 3 + (i % 5)
        toks = [vocab[(start + k) % len(vocab)] for k in range(ln)]
        rows.append((i, " ".join(toks)))
    # hand-built near-threshold pairs (3-gram shingles on tokens):
    # identical docs (J=1), one-token-suffix delta (J just under/over 0.6)
    rows += [
        (100, "aa bb cc dd ee ff"),
        (101, "aa bb cc dd ee ff"),          # J=1 with 100
        (102, "aa bb cc dd ee gg"),          # shares 3 of 4 shingles
        (103, "aa bb cc dd"),                # length-edge vs 100
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    full = {
        tuple(r)
        for r in D.ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.6)
        .select("id1", "id2", "n_inter", "n1", "n2")
        .collect()
    }
    pf = {
        tuple(r)
        for r in D.prefix_filter_jaccard_pairs(
            df, "doc_id", "text", n=3, threshold=0.6
        )
        .select("id1", "id2", "n_inter", "n1", "n2")
        .collect()
    }
    assert pf == full
    assert full  # the fixture must actually produce pairs
