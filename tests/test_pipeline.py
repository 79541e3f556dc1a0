"""Pipeline operators: dedup, similarity, text, events, multimodal."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


_LONG = ("the quick brown fox jumps over the lazy dog while the sun "
         "sets slowly behind the tall green hills and the river flows "
         "quietly through the valley toward the distant sea")


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame([
        (1, _LONG),
        (2, _LONG),                                   # exact dup
        (3, _LONG.replace("river", "stream")),        # near dup
        (4, "completely different content about spark engines"),
        (5, "another unrelated sentence mentioning databases"),
    ], ["doc_id", "text"])


def test_exact_dedup(docs):
    from redisgraph_spark.pipeline.dedup import exact_dedup
    got = {r["doc_id"]: r["n_dups"] for r in exact_dedup(docs).collect()}
    assert got[1] == 2          # doc 2 collapsed into doc 1
    assert 2 not in got
    assert got[3] == 1


def test_jaccard_near_dup(docs):
    from redisgraph_spark.pipeline.dedup import jaccard_pairs
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in jaccard_pairs(docs, threshold=0.6).collect()}
    assert pairs[(1, 2)] == 1.0            # identical
    assert 0.8 < pairs[(1, 3)] < 1.0       # near dup
    assert (1, 4) not in pairs


def test_minhash_lsh_finds_near_dups(docs):
    from redisgraph_spark.pipeline.dedup import minhash_lsh_pairs
    got = {(r["doc_a"], r["doc_b"]) for r in
           minhash_lsh_pairs(docs, threshold=0.5).collect()}
    assert (1, 2) in got and (1, 3) in got
    assert (1, 4) not in got


def test_simhash_near_dups(docs):
    from redisgraph_spark.pipeline.dedup import simhash_pairs
    got = {(r["doc_a"], r["doc_b"]): r["hamming"]
           for r in simhash_pairs(docs, max_hamming=16).collect()}
    assert got[(1, 2)] == 0
    assert (1, 3) in got


def test_cosine_topk_exact(spark):
    from redisgraph_spark.pipeline.similarity import cosine_topk
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3)
    got = cosine_topk(emb, queries, k=5).collect()
    assert len(got) == 15
    for r in got:
        assert r["neighbor_id"] != r["query_id"]
        assert -1.0 <= r["cosine"] <= 1.0


@pytest.mark.slow
def test_cosine_topk_lsh_recall_on_clusters(spark):
    """LSH must find true neighbors when neighbor structure exists
    (clustered vectors — random data has no meaningful neighbors)."""
    import random
    from redisgraph_spark.pipeline.similarity import (cosine_topk,
                                                      cosine_topk_lsh)
    rng = random.Random(7)
    rows = []
    vid = 0
    for c in range(10):
        center = [rng.gauss(0, 1) for _ in range(64)]
        for _ in range(5):
            rows.append((vid, [x + rng.gauss(0, 0.05) for x in center]))
            vid += 1
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = emb.filter(F.col("vec_id") % 5 == 0)
    exact = {(r["query_id"], r["neighbor_id"])
             for r in cosine_topk(emb, queries, k=4).collect()}
    approx = {(r["query_id"], r["neighbor_id"])
              for r in cosine_topk_lsh(emb, queries, k=4,
                                       ntables=8).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8


def test_text_analysis(spark):
    from redisgraph_spark.pipeline.text import analyze
    docs = spark.createDataFrame(
        [(1, "the cat and the dog"), (2, "le chat et le chien et la")],
        ["doc_id", "text"])
    got = {r["doc_id"]: r for r in analyze(docs).collect()}
    assert got[1]["n_tokens"] == 5
    assert abs(got[1]["stopword_ratio"] - 0.6) < 1e-9  # the, and, the
    assert got[2]["lang_guess"] == "fr"
    assert len(got[1]["fingerprint"]) == 32


def test_events_sessionize(spark):
    from redisgraph_spark.pipeline.events import session_stats
    rows = [
        (1, "2024-01-01 10:00:00", 1.0),
        (1, "2024-01-01 10:10:00", 2.0),   # same session
        (1, "2024-01-01 11:00:00", 3.0),   # new session (50 min gap)
        (2, "2024-01-01 09:00:00", 4.0),
    ]
    events = spark.createDataFrame(rows, ["user_id", "ts", "value"]) \
        .withColumn("ts", F.to_timestamp("ts"))
    got = {(r["user_id"], r["session_seq"]): r["n_events"]
           for r in session_stats(events, gap_minutes=30).collect()}
    assert got == {(1, 1): 2, (1, 2): 1, (2, 1): 1}


def test_multimodal_plumbing(spark):
    from redisgraph_spark.pipeline.multimodal import (extract_features,
                                                      synthetic_media)
    media = synthetic_media(spark, n=30)
    feats = extract_features(media)
    got = {r["media_id"]: r for r in feats.collect()}
    assert len(got) == 30
    # media 0 = real PPM image: true dimensions + 6-dim color stats
    img = got[0]
    assert img["kind"] == "image"
    assert img["width"] == 16 and img["height"] == 12
    assert len(img["feature"]) == 6
    # media 1 = real PCM WAV: true duration + 4 quarter-RMS features
    aud = got[1]
    assert aud["kind"] == "audio" and aud["duration_ms"] == 60
    assert len(aud["feature"]) == 4 and all(f > 0 for f in aud["feature"])
    # media 2 = stub video (mp4 needs codec libs)
    assert got[2]["kind"] == "video" and got[2]["n_bytes"] > 0


def test_multimodal_decoders_roundtrip():
    """PPM/WAV decoders parse the exact payloads the generators emit."""
    from redisgraph_spark.pipeline.multimodal import (decode_ppm,
                                                      decode_wav,
                                                      make_ppm, make_wav)
    d = decode_ppm(make_ppm(20, 10, seed=3))
    assert d["width"] == 20 and d["height"] == 10
    assert len(d["feature"]) == 6 and all(0 <= f <= 1 for f in d["feature"])
    a = decode_wav(make_wav(250, seed=5))
    assert a["duration_ms"] == 250
    import pytest as _pt
    with _pt.raises(ValueError):
        decode_ppm(b"JFIF...")
    with _pt.raises(ValueError):
        decode_wav(b"not riff")


def test_multimodal_resize(spark):
    from redisgraph_spark.pipeline.multimodal import (decode_ppm,
                                                      resize_images,
                                                      synthetic_media)
    media = synthetic_media(spark, n=6)
    out = resize_images(media, 8, 8).collect()
    for r in out:
        if r["kind"] == "image":
            d = decode_ppm(bytes(r["data"]))
            assert d["width"] == 8 and d["height"] == 8
            assert r["meta"]["resized"] == "8x8"
        else:
            assert "resized" not in (r["meta"] or {})


def test_pagerank_converges(spark):
    from redisgraph_spark.algorithms.pagerank import pagerank
    # star graph: all point to node 0 → node 0 dominates
    nodes = spark.createDataFrame([(i,) for i in range(5)], ["_id"])
    edges = spark.createDataFrame(
        [(i, 0) for i in range(1, 5)], ["_src", "_dst"])
    pr = {r["_id"]: r["score"]
          for r in pagerank(nodes, edges, iterations=10).collect()}
    assert pr[0] > pr[1]
    assert abs(sum(pr.values()) - 1.0) < 0.2


def test_pagerank_node_induced_subgraph(spark):
    """Edges leaving the node set must not inflate out-degrees or mask
    dangling status (reference runs on the label-restricted submatrix):
    with every edge pointing outside, all nodes are dangling and rank
    stays uniform, summing to 1."""
    from redisgraph_spark.algorithms.pagerank import pagerank
    nodes = spark.createDataFrame([(i,) for i in range(4)], ["_id"])
    edges = spark.createDataFrame(
        [(i, 100 + i) for i in range(4)], ["_src", "_dst"])  # all external
    pr = {r["_id"]: r["score"]
          for r in pagerank(nodes, edges, iterations=5).collect()}
    assert set(pr) == {0, 1, 2, 3}
    assert abs(sum(pr.values()) - 1.0) < 1e-6
    assert max(pr.values()) - min(pr.values()) < 1e-9   # uniform


def test_pagerank_nation_region_constants(spark):
    """Pins the exact 20-iteration doubles on the 25→5 bipartite shape
    that q_pagerank's contract oracle asserts to 6 decimals: sources
    all share one score, sinks another, both given by the recurrence
      n' = (1-d)/N + d·dmass/N
      r' = (1-d)/N + d·(5·n + dmass/N),  dmass = 5·r,  N = 30, d = .85
    (every summed contribution is an identical double, so the result
    is FP-order independent)."""
    from redisgraph_spark.algorithms.pagerank import pagerank
    nodes = spark.createDataFrame([(i,) for i in range(30)], ["_id"])
    # 25 sources (ids 5..29) → 5 sinks (ids 0..4), 5 sources each
    edges = spark.createDataFrame(
        [(i, i % 5) for i in range(5, 30)], ["_src", "_dst"])
    pr = {r["_id"]: r["score"]
          for r in pagerank(nodes, edges, iterations=20).collect()}
    for i in range(5, 30):
        assert pr[i] == 0.019526168371116082, pr[i]
    for i in range(5):
        assert pr[i] == 0.1023691581444196, pr[i]


def test_cosine_topk_ivf_recall_on_clusters(spark):
    import random
    from redisgraph_spark.pipeline.similarity import (cosine_topk,
                                                      cosine_topk_ivf)
    rng = random.Random(11)
    rows, vid = [], 0
    for c in range(10):
        center = [rng.gauss(0, 1) for _ in range(64)]
        for _ in range(5):
            rows.append((vid, [x + rng.gauss(0, 0.05) for x in center]))
            vid += 1
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = emb.filter(F.col("vec_id") % 5 == 0)
    exact = {(r["query_id"], r["neighbor_id"])
             for r in cosine_topk(emb, queries, k=4).collect()}
    approx = {(r["query_id"], r["neighbor_id"])
              for r in cosine_topk_ivf(emb, queries, k=4, nlist=8,
                                       nprobe=2).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8


def test_jaccard_stop_shingle_default(docs):
    """The hot-shingle drop defaults ON (skew lever) but is a no-op on
    corpora below the 10k cutoff — results equal the exact baseline."""
    from redisgraph_spark.pipeline.dedup import jaccard_pairs
    exact = sorted(tuple(r) for r in jaccard_pairs(
        docs, threshold=0.5, max_shingle_freq=None).collect())
    default = sorted(tuple(r) for r in jaccard_pairs(
        docs, threshold=0.5).collect())
    assert default == exact


def test_embedding_dups_routes_to_lsh(spark):
    """Above max_bruteforce_rows the pair generator routes to the
    LSH-bucketed path (no cross join) with a warning; near-identical
    vectors are still found."""
    import warnings

    import numpy as np
    from redisgraph_spark.pipeline.dedup import embedding_dup_pairs
    rng = np.random.default_rng(7)
    base = rng.normal(size=(30, 64))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        # id+1000 = near-duplicate of id
        rows.append((i + 1000, [float(x) for x in v + 0.001]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got = embedding_dup_pairs(emb, threshold=0.999,
                                  max_bruteforce_rows=10).collect()
    assert any("LSH" in str(w.message) for w in caught)
    found = {(r["doc_a"], r["doc_b"]) for r in got}
    hits = sum((i, i + 1000) in found for i in range(30))
    assert hits >= 25  # multi-table LSH recall on near-identical pairs


def test_dedup_clusters_canonicalization(spark):
    """Pairs union into min-id clusters; unpaired docs are singleton
    canonical."""
    from redisgraph_spark.pipeline.dedup import dedup_clusters
    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in [1, 2, 3, 5, 7, 9]], ["doc_id", "text"])
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 7)], ["doc_a", "doc_b"])
    got = {r["doc_id"]: (r["cluster"], r["is_canonical"])
           for r in dedup_clusters(docs, pairs).collect()}
    assert got == {1: (1, True), 2: (1, False), 3: (1, False),
                   5: (5, True), 7: (5, False), 9: (9, True)}


def test_winnowing_guarantee(spark):
    """Winnowing guarantee: any shared substring of length >= k+w-1
    yields at least one shared fingerprint; disjoint docs share none."""
    from redisgraph_spark.pipeline.text import (winnow_fingerprints,
                                                winnow_pairs)
    shared = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(
        [(1, "AAA " + shared + " BBB"),
         (2, "CCCC " + shared + " DDDD"),
         (3, "zw mq xv kj yp qn rt ul os ei")],
        ["doc_id", "text"])
    fps = winnow_fingerprints(docs, k=8, w=4)
    by_doc = {i: {r["fp"] for r in rows} for i, rows in
              ((i, fps.filter(fps.doc_id == i).collect())
               for i in (1, 2, 3))}
    assert by_doc[1] & by_doc[2]          # shared substring detected
    assert not (by_doc[1] & by_doc[3])    # disjoint content
    got = winnow_pairs(docs, min_shared=1, k=8, w=4).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in got] == [(1, 2)]


def test_winnowing_np_guarantee_and_edges(spark):
    """The vectorized path honors the same winnowing guarantee and
    handles the edge shapes the batch concatenation must not break:
    empty text, sub-k text, exactly-k text, and doc boundaries (a
    k-gram spanning two adjacent docs in the concatenated batch must
    NOT produce a fingerprint)."""
    from redisgraph_spark.pipeline.text import (winnow_fingerprints_np,
                                                winnow_pairs)
    shared = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(
        [(1, "AAA " + shared + " BBB"),
         (2, "CCCC " + shared + " DDDD"),
         (3, "zw mq xv kj yp qn rt ul os ei"),
         (4, ""), (5, "abc"), (6, "exactly8")],
        ["doc_id", "text"])
    fps = winnow_fingerprints_np(docs, k=8, w=4)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[1] & by_doc[2]
    assert not (by_doc[1] & by_doc[3])
    # empty / short docs produce exactly one whole-doc fingerprint
    assert len(by_doc[4]) == 1 and len(by_doc[5]) == 1 \
        and len(by_doc[6]) == 1
    got = winnow_pairs(docs, min_shared=1, k=8, w=4,
                       hash_fn="np").collect()
    assert [(r["doc_a"], r["doc_b"]) for r in got] == [(1, 2)]
    # boundary isolation: two docs whose CONCATENATION contains a
    # shared 11-gram split across the boundary must not pair up
    half = spark.createDataFrame(
        [(10, "xxxx abcde"), (11, "fghij yyyy"),
         (12, "qq abcdefghij rr")], ["doc_id", "text"])
    pairs = winnow_pairs(half.coalesce(1), min_shared=1, k=8, w=4,
                         hash_fn="np").collect()
    assert (10, 11) not in [(r["doc_a"], r["doc_b"]) for r in pairs]


def test_bpe_token_count(spark):
    from pyspark.sql import functions as F

    from redisgraph_spark.pipeline.text import bpe_token_count
    df = spark.createDataFrame(
        [(1, "I'll say it's 42 things, okay?")], ["doc_id", "text"])
    n = df.select(bpe_token_count(F.col("text")).alias("n")).collect()[0]["n"]
    # I|'ll| say| it|'s| 42| things|,| okay|?  = 10
    assert n == 10


def test_multimodal_frame_sampling(spark):
    """Raw-RGB videos frame-sample for real (stride by timestamp);
    sampled frames are valid PPM payloads feedable to decode_ppm;
    codec formats produce the plumbing row."""
    from redisgraph_spark.pipeline.multimodal import (decode_ppm,
                                                      sample_frames,
                                                      synthetic_media)
    media = synthetic_media(spark, n=12)
    frames = sample_frames(media, every_ms=200).collect()
    raw = [r for r in frames if r["frame"] is not None]
    stub = [r for r in frames if r["frame"] is None]
    assert raw and stub
    for r in raw[:3]:
        d = decode_ppm(bytes(r["frame"]))
        assert d["width"] == r["width"] and d["height"] == r["height"]
    # media_id 2: 4+2%5=6 frames @10fps, stride 200ms -> frames 0,2,4
    idx2 = sorted(r["frame_idx"] for r in raw if r["media_id"] == 2)
    assert idx2 == [0, 2, 4]


def test_cosine_topk_np_matches_exact(spark):
    """The BLAS-vectorized brute force returns the same neighbor sets
    (and ranks, modulo fp tie noise) as the HOF-based exact baseline."""
    from redisgraph_spark.pipeline.similarity import (cosine_topk,
                                                      cosine_topk_np)
    from pyspark.sql import functions as F
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 5)
    a = {(r["query_id"], r["rank"]): r["neighbor_id"]
         for r in cosine_topk(emb, qs, k=5).collect()}
    b = {(r["query_id"], r["rank"]): r["neighbor_id"]
         for r in cosine_topk_np(emb, qs, k=5).collect()}
    assert a == b


@pytest.mark.slow
def test_wcc_star_contraction_equivalence(spark):
    """Large-star/small-star WCC (diameter-independent rounds) agrees
    with min-label propagation on random graphs and on a long chain
    (the adversarial case for propagation)."""
    import random

    from redisgraph_spark.algorithms.components import (
        weakly_connected_components, weakly_connected_components_star)
    random.seed(3)
    cases = []
    n = 60
    cases.append((n, [(random.randrange(n), random.randrange(n))
                      for _ in range(70)]))
    cases.append((65, [(i, i + 1) for i in range(64)]))  # 64-hop chain
    for n, es in cases:
        nodes = spark.createDataFrame([(i,) for i in range(n)], ["_id"])
        edges = spark.createDataFrame(
            [(i, a, b) for i, (a, b) in enumerate(es)],
            ["_id", "_src", "_dst"])
        a = sorted(tuple(r) for r in weakly_connected_components(
            nodes.select("_id"), edges.select("_src", "_dst")).collect())
        b = sorted(tuple(r) for r in weakly_connected_components_star(
            nodes.select("_id"), edges.select("_src", "_dst")).collect())
        assert a == b


@pytest.mark.slow
def test_jaccard_verify_matches_exact(docs):
    """jaccard_verify over all-pairs candidates equals the exact pair
    generator, and duplicate candidate rows do not inflate the
    intersection count."""
    from redisgraph_spark.pipeline.dedup import jaccard_verify
    all_pairs = docs.alias("a").crossJoin(docs.alias("b")).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b")).filter("doc_a < doc_b")
    exact = sorted((r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
                   for r in jaccard_verify(
                       docs, all_pairs, threshold=0.5).collect())
    assert exact and all(0.5 <= j <= 1.0 for _, _, j in exact)
    assert (1, 2, 1.0) in exact            # exact dup
    # duplicated candidate rows → identical verified output
    doubled = all_pairs.unionAll(all_pairs)
    dup = sorted((r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
                 for r in jaccard_verify(
                     docs, doubled, threshold=0.5).collect())
    assert dup == exact


def test_jaccard_verify_on_lsh_candidates(docs):
    """The standard candidate-generation + verify pipeline: verified
    MinHash-LSH candidates equal the exact pair set when LSH recall at
    the threshold is 1.0 (true for this corpus)."""
    from redisgraph_spark.pipeline.dedup import (jaccard_verify,
                                                 minhash_lsh_pairs)
    all_pairs = docs.alias("a").crossJoin(docs.alias("b")).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b")).filter("doc_a < doc_b")
    exact = sorted((r["doc_a"], r["doc_b"])
                   for r in jaccard_verify(
                       docs, all_pairs, threshold=0.5).collect())
    cands = minhash_lsh_pairs(docs, threshold=0.5)
    verified = sorted((r["doc_a"], r["doc_b"])
                      for r in jaccard_verify(
                          docs, cands, threshold=0.5).collect())
    assert verified == exact


def test_cosine_topk_lsh_multiprobe_recall(spark):
    """Multi-probe LSH (probe_hamming > 0) executes the query-side
    bucket fan-out and recall is >= the single-probe configuration at
    the same table count."""
    import random
    from redisgraph_spark.pipeline.similarity import (cosine_topk,
                                                      cosine_topk_lsh)
    rng = random.Random(13)
    rows, vid = [], 0
    for c in range(10):
        center = [rng.gauss(0, 1) for _ in range(64)]
        for _ in range(5):
            rows.append((vid, [x + rng.gauss(0, 0.05) for x in center]))
            vid += 1
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = emb.filter(F.col("vec_id") % 5 == 0)
    exact = {(r["query_id"], r["neighbor_id"])
             for r in cosine_topk(emb, queries, k=4).collect()}

    def recall(probe_hamming):
        approx = {(r["query_id"], r["neighbor_id"])
                  for r in cosine_topk_lsh(
                      emb, queries, k=4, ntables=2,
                      probe_hamming=probe_hamming).collect()}
        return len(exact & approx) / len(exact)

    r0, r1 = recall(0), recall(1)
    assert r1 >= r0
    assert r1 >= 0.5


def test_dedup_clusters_star_solver_equivalence(spark):
    """Forcing the diameter-independent star solver (star_threshold=0)
    gives the same clusters as min-label propagation — including on a
    64-hop duplicate CHAIN, the adversarial shape the auto-switch
    exists for."""
    from redisgraph_spark.pipeline.dedup import dedup_clusters
    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(70)], ["doc_id", "text"])
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(64)] + [(67, 68)],
        ["doc_a", "doc_b"])
    plain = sorted(tuple(r) for r in dedup_clusters(
        docs, pairs, star_threshold=None).collect())
    star = sorted(tuple(r) for r in dedup_clusters(
        docs, pairs, star_threshold=0).collect())
    assert star == plain
    got = dict((r[0], r[1]) for r in star)
    assert all(got[i] == 0 for i in range(65))   # one 64-hop chain
    assert got[67] == 67 and got[68] == 67
    assert got[69] == 69                         # singleton


@pytest.mark.parametrize("hops,warns", [(6, False), (7, True)])
def test_wcc_chain_of_max_iter_hops_converges_quietly(spark, hops, warns):
    """A chain whose diameter equals ``max_iter`` converges on the last
    propagating round: one component and no warning. One hop more
    still warns that the components may be split."""
    import warnings

    from redisgraph_spark.algorithms.components import \
        weakly_connected_components
    nodes = spark.createDataFrame([(i,) for i in range(hops + 1)], ["_id"])
    edges = spark.createDataFrame([(i, i + 1) for i in range(hops)],
                                  ["_src", "_dst"])
    with warnings.catch_warnings(record=True) as seen:
        warnings.simplefilter("always")
        comp = dict(tuple(r) for r in weakly_connected_components(
            nodes, edges, max_iter=6).collect())
    assert any(issubclass(w.category, RuntimeWarning)
               for w in seen) == warns
    if not warns:
        assert set(comp.values()) == {0} and len(comp) == hops + 1


def test_multimodal_corrupt_payloads_degrade_to_stub(spark):
    """Null/corrupt media payloads must not abort the job: decode
    errors fall back to the deterministic stub row; frame sampling
    emits the plumbing row for undecodable videos."""
    from redisgraph_spark.pipeline.multimodal import (MEDIA_SCHEMA,
                                                      extract_features,
                                                      sample_frames)
    rows = [(1, "audio", "audio/wav", None, {}),
            (2, "image", "image/x-portable-pixmap", b"P6 garbage", {}),
            (3, "video", "video/x-raw-rgb", None, {})]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = extract_features(media).collect()
    assert len(feats) == 3                      # nothing dropped/crashed
    frames = sample_frames(media).collect()
    assert len(frames) == 1 and frames[0]["frame"] is None


def test_decontaminate(spark):
    """Training docs sharing a distinct word n-gram with the benchmark
    set are flagged with the distinct-collision count; clean docs are
    not."""
    from redisgraph_spark.pipeline.dedup import decontaminate
    bench = spark.createDataFrame(
        [(0, "alpha beta gamma delta")], ["doc_id", "text"])
    docs = spark.createDataFrame([
        (1, "x alpha beta gamma delta y"),          # 1 colliding 4-gram
        (2, "alpha beta gamma delta alpha beta gamma delta"),  # distinct!
        (3, "completely unrelated text right here"),
    ], ["doc_id", "text"])
    got = {r["doc_id"]: r["n_collisions"]
           for r in decontaminate(docs, bench, n=4).collect()}
    assert got == {1: 1, 2: 1}   # repeats of one gram count once


def test_paragraph_dedup(spark):
    """Each distinct paragraph survives only in the lowest-id doc;
    order is preserved; fully-owned-elsewhere docs drop out."""
    from redisgraph_spark.pipeline.dedup import paragraph_dedup
    docs = spark.createDataFrame([
        (1, "A\nB\nC"),
        (2, "B\nD"),
        (3, "C\nE\nB"),
        (4, "A\nB"),          # nothing left
    ], ["doc_id", "text"])
    got = {r["doc_id"]: r["text"]
           for r in paragraph_dedup(docs).collect()}
    assert got == {1: "A\nB\nC", 2: "D", 3: "E"}


def test_paragraph_dedup_hot_key_skew(spark):
    """Boilerplate hot paragraphs (10% duplication) must neither skew
    the shuffle nor break ownership: nothing may shuffle or join on the
    raw paragraph string — the ownership join keys on the 128-bit
    fingerprint + doc id, which spreads a hot paragraph's rows across
    documents."""
    from redisgraph_spark.pipeline.dedup import paragraph_dedup
    rows = []
    for i in range(1, 501):
        paras = [f"unique-{i}-{j}" for j in range(3)]
        if i % 10 != 1:          # 90% of docs carry the boilerplate
            paras.insert(0, "COMMON LICENSE HEADER")
        rows.append((i, "\n".join(paras)))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = paragraph_dedup(docs)
    got = {r["doc_id"]: r["text"] for r in out.collect()}
    assert len(got) == 500                      # every doc keeps uniques
    # the hot paragraph survives only in the lowest id that has it (2)
    owners = [d for d, t in got.items()
              if "COMMON LICENSE HEADER" in t.split("\n")]
    assert owners == [2]
    assert got[2].split("\n")[0] == "COMMON LICENSE HEADER"  # order kept
    # plan: every exchange partitions on fingerprints/ids, never the
    # raw paragraph string
    plan = out._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "_para#" not in line.split("hashpartitioning", 1)[1] \
                .split(")", 1)[0] + ")", line


def test_gopher_quality_hand_computed(spark):
    from redisgraph_spark.pipeline.text import gopher_quality
    docs = spark.createDataFrame([
        (1, "aa bb aa\nline one\nline one\n##"),
        (2, "x"),
    ], ["doc_id", "text"])
    got = {r["doc_id"]: r.asDict() for r in gopher_quality(docs).collect()}
    d1 = got[1]
    assert d1["n_words"] == 8
    assert d1["mean_word_len"] == 22 / 8
    assert d1["symbol_word_ratio"] == 2 / 8          # two '#'
    assert d1["frac_alpha_words"] == 7 / 8           # '##' has no alpha
    assert d1["n_lines"] == 4
    assert d1["frac_dup_lines"] == 1 / 4             # one excess 'line one'
    assert abs(d1["frac_dup_line_chars"] - 16 / 26) < 1e-12
    assert abs(d1["top_2gram_char_frac"] - 2 * 8 / 29) < 1e-12
    d2 = got[2]
    assert (d2["n_words"], d2["n_lines"]) == (1, 1)
    assert d2["frac_dup_lines"] == 0.0
    assert d2["top_2gram_char_frac"] == 0.0          # no 2-grams


def test_c4_quality_filter_rules(spark):
    """Every C4 rule on a crafted page set: terminal punctuation,
    words-per-line, javascript lines, lorem-ipsum pages, brace pages,
    min surviving lines, order preservation."""
    from redisgraph_spark.pipeline.text import c4_quality_filter
    good = "this line has plenty of words and ends properly."
    docs = spark.createDataFrame([
        (1, f"{good}\nno terminal punctuation here at all\n"
            f"short line.\nuses javascript everywhere in this line.\n"
            f"{good}\nAnother good line stays right here too!"),
        (2, f"{good}\nlorem ipsum dolor sit amet here."),      # page drop
        (3, f"{good}\nfunction() {{ return 1; }}"),            # page drop
        (4, good),                                             # < 3 lines
    ], ["doc_id", "text"])
    got = {r["doc_id"]: r["text"]
           for r in c4_quality_filter(docs).collect()}
    assert set(got) == {1}
    assert got[1].split("\n") == [
        good, good, "Another good line stays right here too!"]
    # relaxed mode for non-prose corpora: punct rule off, 1-line floor
    relaxed = {r["doc_id"] for r in c4_quality_filter(
        docs, min_words_per_line=1, min_lines=1,
        require_terminal_punct=False).collect()}
    assert relaxed == {1, 4}


def test_pq_recall_monotone_and_exact_at_full_shortlist(spark):
    """PQ ANN: recall grows with shortlist size, and a corpus-sized
    shortlist makes the rerank exhaustive — exactly the brute-force
    answer (the shortlist is the ONLY approximation; ADC ordering
    never touches the final ranking)."""
    import random

    from pyspark.sql import functions as F
    from redisgraph_spark.pipeline.similarity import (cosine_topk,
                                                      cosine_topk_pq,
                                                      pq_build)
    rng = random.Random(3)
    rows = [(i, [rng.gauss(0, 1) for _ in range(32)]) for i in range(120)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = emb.filter(F.col("vec_id") < 5)
    exact = set(map(tuple, cosine_topk(emb, q, k=3)
                    .select("query_id", "neighbor_id").collect()))
    pre = pq_build(emb, m=8, ksub=8, iters=2)
    recalls = []
    for sl in (8, 40, 120):
        got = set(map(tuple, cosine_topk_pq(
            emb, q, k=3, m=8, ksub=8, shortlist=sl, prebuilt=pre)
            .select("query_id", "neighbor_id").collect()))
        recalls.append(len(got & exact) / len(exact))
    assert recalls == sorted(recalls), recalls   # monotone in shortlist
    assert recalls[-1] == 1.0                    # full shortlist = exact


def test_per_key_quota_and_histogram(spark):
    from pyspark.sql import functions as F
    from redisgraph_spark.pipeline.sampling import (key_histogram,
                                                    per_key_quota)
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 30), (3, "a", 20), (4, "b", 5)],
        ["doc_id", "source", "n_chars"])
    got = {r["doc_id"] for r in per_key_quota(
        df, "source", 2,
        [F.col("n_chars").desc(), F.col("doc_id").asc()]).collect()}
    assert got == {2, 3, 4}          # a keeps its 2 longest, b keeps all
    hist = {r["source"]: (r["n_rows"], r["share"])
            for r in key_histogram(df, "source").collect()}
    assert hist == {"a": (3, 0.75), "b": (1, 0.25)}


def test_knn_classify_majority_and_tiebreak(spark):
    """3 votes beat 2; on a 2-2-1 split with k=5 the smaller label
    wins the tie only when counts tie — construct both cases."""
    from pyspark.sql import functions as F
    from redisgraph_spark.pipeline.similarity import knn_classify
    # corpus on a line: the k nearest to q are ids 1..k in order.
    # interleaved labels: top-5 = [7,9,7,9,7] (3-2), top-4 = 2-2 tie
    rows = [
        (0, [1.0, 0.00], 0),     # the query
        (1, [1.0, 0.01], 7), (2, [1.0, 0.02], 9), (3, [1.0, 0.03], 7),
        (4, [1.0, 0.04], 9), (5, [1.0, 0.05], 7),
        (6, [0.0, 1.00], 1),     # far away — excluded from top-5
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    q = emb.filter(F.col("vec_id") == 0)
    got = knn_classify(emb, q, k=5).collect()[0]
    assert (got["pred_label"], got["votes"]) == (7, 3)
    # tie case: top-4 = 2×7, 2×9 → smaller label wins
    got2 = knn_classify(emb, q, k=4).collect()[0]
    assert (got2["pred_label"], got2["votes"]) == (7, 2)


def test_wcc_star_via_procedure(social):
    got = social.query(
        "CALL algo.wcc('star') YIELD node, component "
        "RETURN count(*) AS n, count(DISTINCT component) AS c").collect()[0]
    plain = social.query(
        "CALL algo.wcc() YIELD node, component "
        "RETURN count(*) AS n, count(DISTINCT component) AS c").collect()[0]
    assert (got["n"], got["c"]) == (plain["n"], plain["c"])


def test_pii_scan_counts_and_redaction(spark):
    from redisgraph_spark.pipeline.pii import pii_scan
    docs = spark.createDataFrame([
        (1, "mail a.b+c@ex-ample.co.uk or call 555-010-1234 now"),
        (2, "server at 10.0.3.1 and 192.168.0.12, no contacts"),
        (3, "plain text with nothing to hide"),
    ], ["doc_id", "text"])
    got = {r["doc_id"]: r for r in pii_scan(docs).collect()}
    assert (got[1]["n_email"], got[1]["n_phone"], got[1]["n_ipv4"]) \
        == (1, 1, 0)
    assert (got[2]["n_email"], got[2]["n_phone"], got[2]["n_ipv4"]) \
        == (0, 0, 2)
    assert got[1]["redacted"] == "mail <EMAIL> or call <PHONE> now"
    assert got[2]["redacted"] == "server at <IP> and <IP>, no contacts"
    assert got[3]["redacted"] == "plain text with nothing to hide"


def test_unigram_logprob_hand_computed(spark):
    import math
    from redisgraph_spark.pipeline.text import unigram_logprob
    # corpus: 4 tokens total; "a" appears 2x, "b" 1x, "c" 1x
    docs = spark.createDataFrame(
        [(1, "a a"), (2, "b c")], ["doc_id", "text"])
    got = {r["doc_id"]: r for r in unigram_logprob(docs).collect()}
    assert got[1]["n_tokens"] == 2
    assert abs(got[1]["mean_logprob"] - math.log(0.5)) < 1e-12
    assert abs(got[2]["mean_logprob"] - math.log(0.25)) < 1e-12


def test_duplicated_spans_flags_copied_text(spark):
    from redisgraph_spark.pipeline.text import duplicated_spans
    shared = "x" * 80                      # verbatim-copied span
    docs = spark.createDataFrame([
        (1, shared + " unique tail one of document number one here"),
        (2, shared + " a different continuation in document two !!"),
        (3, "totally unrelated text that shares no grams with others"),
    ], ["doc_id", "text"])
    got = {r["doc_id"]: r for r in
           duplicated_spans(docs, k=30, stride=10).collect()}
    # grams fully inside the shared 80-char prefix are duplicated
    assert got[1]["n_dup_grams"] >= 5 and got[2]["n_dup_grams"] >= 5
    assert got[3]["n_dup_grams"] == 0
    # short doc: single whole-text gram, not an error
    short = spark.createDataFrame([(9, "tiny")], ["doc_id", "text"])
    g9 = duplicated_spans(short, k=30, stride=10).collect()[0]
    assert (g9["n_grams"], g9["n_dup_grams"]) == (1, 0)


def test_hash_sample_deterministic_and_stratified(spark):
    from redisgraph_spark.pipeline.sampling import hash_sample
    rows = [(i, "en" if i % 2 == 0 else "fr") for i in range(2000)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    kept = hash_sample(df, "doc_id", {"en": 0.5, "fr": 0.1}, "lang",
                       seed="s0")
    ids1 = {r["doc_id"] for r in kept.collect()}
    ids2 = {r["doc_id"] for r in kept.collect()}
    assert ids1 == ids2                       # reproducible
    en = sum(1 for i in ids1 if i % 2 == 0)
    fr = len(ids1) - en
    assert 400 < en < 600                     # ~50% of 1000
    assert 50 < fr < 160                      # ~10% of 1000
    # appending rows never flips an existing keep decision
    df2 = spark.createDataFrame(
        rows + [(9999, "en")], ["doc_id", "lang"])
    ids3 = {r["doc_id"] for r in hash_sample(
        df2, "doc_id", {"en": 0.5, "fr": 0.1}, "lang",
        seed="s0").collect()}
    assert ids3 - {9999} == ids1


def test_pack_sequences_chunk_arithmetic(spark):
    from redisgraph_spark.pipeline.sampling import pack_sequences
    docs = spark.createDataFrame([
        (1, "a", 40), (2, "a", 40), (3, "a", 50),   # stream a
        (4, "b", 100),                              # stream b
    ], ["doc_id", "source", "n_tokens"])
    got = {r["doc_id"]: (r["chunk"], r["chunk_offset"])
           for r in pack_sequences(docs, 64, "n_tokens",
                                   "source").collect()}
    assert got[1] == (0, 0)       # starts the stream
    assert got[2] == (0, 40)      # 40 tokens precede
    assert got[3] == (1, 16)      # 80 precede: chunk 1, offset 16
    assert got[4] == (0, 0)       # independent shard


def test_semdedup_drops_higher_id_near_duplicates(spark):
    from redisgraph_spark.pipeline.dedup import semdedup
    rows = [
        (1, [1.0, 0.0, 0.0]), (2, [0.999, 0.01, 0.0]),  # near-dup pair
        (3, [0.0, 1.0, 0.0]), (4, [0.0, 0.995, 0.02]),  # near-dup pair
        (5, [0.0, 0.0, 1.0]),                           # singleton
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {r["vec_id"]: r for r in
           semdedup(emb, threshold=0.9, nlist=3, iters=2).collect()}
    assert len(got) == 5
    # lower id of each near-dup pair kept, higher dropped
    assert got[1]["kept"] and not got[2]["kept"]
    assert got[3]["kept"] and not got[4]["kept"]
    assert got[5]["kept"]
    # dup pairs co-clustered
    assert got[1]["list_id"] == got[2]["list_id"]
    assert got[3]["list_id"] == got[4]["list_id"]


def test_chunk_text_windows_and_tail(spark):
    from redisgraph_spark.pipeline.text import chunk_text
    docs = spark.createDataFrame(
        [(1, "abcdefghij" * 3), (2, "short")], ["doc_id", "text"])
    got = chunk_text(docs, size=10, overlap=4).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], []).append(r)
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
    # len 30, step 6, starts 1,7,13,19,25 (<= 30-4=26)
    assert [r["start"] for r in c1] == [1, 7, 13, 19, 25]
    assert c1[0]["chunk"] == "abcdefghij"
    assert c1[-1]["chunk"] == "efghij"          # tail carries the rest
    # consecutive chunks share the 4-char overlap
    assert c1[0]["chunk"][-4:] == c1[1]["chunk"][:4]
    assert [r["chunk"] for r in by_doc[2]] == ["short"]
    import pytest as _pytest
    with _pytest.raises(ValueError):
        chunk_text(docs, size=4, overlap=4)


def test_dsir_logratio_prefers_target_like_docs(spark):
    from redisgraph_spark.pipeline.text import dsir_logratio
    # target distribution: "alpha beta"; doc 1 matches it, doc 2 is
    # all out-of-target tokens -> strictly lower log-ratio
    docs = spark.createDataFrame([
        (1, "alpha beta alpha"),
        (2, "zulu yankee xray"),
    ], ["doc_id", "text"])
    target = spark.createDataFrame(
        [(9, "alpha beta alpha beta")], ["doc_id", "text"])
    got = {r["doc_id"]: r for r in dsir_logratio(docs, target).collect()}
    assert got[1]["n_tokens"] == 3 and got[2]["n_tokens"] == 3
    assert got[1]["logratio"] > got[2]["logratio"]


def test_temperature_sample_flattens_mixture(spark):
    from redisgraph_spark.pipeline.sampling import temperature_sample
    rows = [(i, "en" if i % 10 else "fr") for i in range(4000)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])  # 90% en
    kept = temperature_sample(df, "doc_id", "lang", alpha=0.5,
                              base_rate=0.5).collect()
    en = sum(1 for r in kept if r["lang"] == "en")
    fr = len(kept) - en
    # alpha=0.5 halves the head/tail ratio: en/fr 9:1 -> 3:1
    assert 2.0 < en / fr < 4.5
    # the dominant stratum gets the smaller per-row rate
    cuts = {r["lang"]: r["cut"] for r in kept}
    assert cuts["en"] < cuts["fr"] == 32768   # base_rate on the max-w
    # deterministic
    again = temperature_sample(df, "doc_id", "lang", alpha=0.5,
                               base_rate=0.5).collect()
    assert {r["doc_id"] for r in again} == {r["doc_id"] for r in kept}


def test_keep_best_keeps_highest_quality(spark):
    from redisgraph_spark.pipeline.dedup import keep_best
    docs = spark.createDataFrame([
        (1, 10), (2, 99), (3, 50),    # cluster {1,2,3}: 2 is best
        (4, 7),                       # singleton
    ], ["doc_id", "quality"])
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], ["doc_a", "doc_b"])
    got = {r["doc_id"]: r for r in
           keep_best(docs, pairs, "quality").collect()}
    assert not got[1]["is_kept"] and got[2]["is_kept"] \
        and not got[3]["is_kept"]
    assert got[4]["is_kept"]
    assert got[1]["cluster"] == got[2]["cluster"] == got[3]["cluster"]


def test_write_shards_global_range_order(spark, tmp_path):
    from redisgraph_spark.sources.shards import write_shards
    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 7).alias("payload"))
    n = write_shards(df, str(tmp_path / "shards"), 300, "doc_id")
    assert n == 4
    back = spark.read.parquet(str(tmp_path / "shards"))
    assert back.count() == 1000
    # shard boundaries respect the global order: per-file min/max
    # ranges never overlap
    import pyspark.sql.functions as _F
    ranges = back.groupBy(_F.input_file_name().alias("f")) \
        .agg(_F.min("doc_id").alias("lo"), _F.max("doc_id").alias("hi")) \
        .orderBy("lo").collect()
    assert len(ranges) == 4
    for prev, cur in zip(ranges, ranges[1:]):
        assert prev["hi"] < cur["lo"]


def test_minhash_incremental_matches_full_restriction(spark):
    from redisgraph_spark.pipeline.dedup import (
        minhash_lsh_incremental, minhash_lsh_pairs, minhash_signatures)
    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(i, base + (" extra" if i % 3 == 0 else "")) for i in range(12)],
        ["doc_id", "text"])
    new = docs.filter("doc_id >= 8")
    corpus = docs.filter("doc_id < 8")
    corpus_sig = minhash_signatures(corpus)
    inc = {(r["doc_a"], r["doc_b"]): r["est_jaccard"]
           for r in minhash_lsh_incremental(new, corpus_sig,
                                            threshold=0.5).collect()}
    full = {(r["doc_a"], r["doc_b"]): r["est_jaccard"]
            for r in minhash_lsh_pairs(docs, threshold=0.5).collect()}
    want = {k: v for k, v in full.items() if k[0] >= 8 or k[1] >= 8}
    assert inc == want and len(inc) > 0
    # corpus-internal pairs are never re-reported
    assert all(a >= 8 or b >= 8 for a, b in inc)


def test_label_propagation_star_rounds(spark):
    from redisgraph_spark.algorithms.components import label_propagation
    # two stars: hub 100 with leaves 1,2,3; hub 200 with leaves 7,8
    edges = spark.createDataFrame(
        [(1, 100), (2, 100), (3, 100), (7, 200), (8, 200)],
        ["_src", "_dst"])
    ids = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 7, 8, 100, 200, 999)], ["_id"])
    got = {r["node"]: r["label"]
           for r in label_propagation(ids, edges, iters=3).collect()}
    # synchronous rounds on a star: after odd round counts, leaves hold
    # the hub id and the hub holds the min leaf id (bipartite swap)
    assert got[1] == got[2] == got[3] == 100 and got[100] == 1
    assert got[7] == got[8] == 200 and got[200] == 7
    assert got[999] == 999     # isolated node keeps its own label


def test_label_propagation_procedure(social):
    rows = social.query(
        "CALL algo.labelPropagation(2) YIELD node, label "
        "RETURN count(*) AS n, count(DISTINCT label) AS k").collect()[0]
    assert rows["n"] > 0 and 0 < rows["k"] <= rows["n"]
    # bad arg type is rejected loudly
    import pytest as _pytest
    with _pytest.raises(Exception):
        social.query("CALL algo.labelPropagation(1.5) YIELD node, label "
                     "RETURN count(*) AS n").collect()


def test_chunk_text_reconstruction_property(spark):
    """Property: the non-overlapped prefixes of all chunks plus the
    final chunk reassemble the exact document, for arbitrary text and
    any legal (size, overlap)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from redisgraph_spark.pipeline.text import chunk_text

    @given(st.text(alphabet="abcXYZ 1.\n", min_size=0, max_size=400),
           st.integers(5, 60), st.integers(0, 4))
    @settings(max_examples=12, deadline=None)
    def check(text, size, overlap):
        docs = spark.createDataFrame([(1, text)], ["doc_id", "text"])
        rows = sorted(chunk_text(docs, size=size, overlap=overlap)
                      .collect(), key=lambda r: r["chunk_idx"])
        step = size - overlap
        assert [r["start"] for r in rows] == \
            [1 + i * step for i in range(len(rows))]
        rebuilt = "".join(r["chunk"][:step] for r in rows[:-1])
        rebuilt += rows[-1]["chunk"]
        assert rebuilt == text or (text == "" and rebuilt == "")

    check()


def test_pack_sequences_cumsum_property(spark):
    """Property: chunk * window + offset equals the exact count of
    tokens preceding the doc within its shard, for random shardings."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from redisgraph_spark.pipeline.sampling import pack_sequences

    @given(st.lists(st.tuples(st.sampled_from("ab"),
                              st.integers(0, 300)),
                    min_size=1, max_size=30),
           st.integers(8, 128))
    @settings(max_examples=10, deadline=None)
    def check(rows, window):
        data = [(i, s, n) for i, (s, n) in enumerate(rows)]
        df = spark.createDataFrame(data, ["doc_id", "source", "n_tokens"])
        got = {r["doc_id"]: r for r in
               pack_sequences(df, window, "n_tokens", "source").collect()}
        run: dict[str, int] = {}
        for i, s, n in data:
            prev = run.get(s, 0)
            assert got[i]["chunk"] * window + got[i]["chunk_offset"] == prev
            run[s] = prev + n

    check()


def test_dedupe_lines_first_occurrence_order(spark):
    from redisgraph_spark.pipeline.text import dedupe_lines
    docs = spark.createDataFrame([
        (1, "menu\nintro text\nmenu\nbody text\nmenu\nfooter"),
        (2, "only\none\nof\neach"),
    ], ["doc_id", "text"])
    got = {r["doc_id"]: r for r in dedupe_lines(docs).collect()}
    assert got[1]["text"] == "menu\nintro text\nbody text\nfooter"
    assert (got[1]["n_lines"], got[1]["n_dropped"]) == (6, 2)
    assert got[2]["text"] == "only\none\nof\neach"
    assert got[2]["n_dropped"] == 0


def test_vocab_stats_modal_token_and_ttr(spark):
    from redisgraph_spark.pipeline.text import vocab_stats
    docs = spark.createDataFrame([
        (1, "a", "x b b c"), (2, "a", "b d"),   # group a: b modal (3)
        (3, "z", "q q r r"),                    # group z: q vs r tie -> q
    ], ["doc_id", "source", "text"])
    got = {r["source"]: r for r in vocab_stats(docs).collect()}
    assert got["a"]["top_token"] == "b"
    assert (got["a"]["n_tokens"], got["a"]["n_types"]) == (6, 4)
    assert abs(got["a"]["ttr"] - round(4 / 6, 6)) < 1e-9
    assert got["z"]["top_token"] == "q"         # count tie, min token


def test_bigram_logprob_hand_computed(spark):
    import math
    from redisgraph_spark.pipeline.text import bigram_logprob
    # corpus bigrams: (a,b) x2 from doc1, (b,a) x1 from doc1,
    # (a,c) x1 from doc2; contexts: a->3, b->1; vocab {a,b,c} = 3
    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a c"), (3, "solo")],
        ["doc_id", "text"])
    got = {r["doc_id"]: r for r in bigram_logprob(docs).collect()}
    assert 3 not in got                     # <2 tokens: no bigrams
    assert got[1]["n_bigrams"] == 3
    lp1 = (2 * math.log((2 + 1) / (3 + 3))       # a->b twice
           + math.log((1 + 1) / (1 + 3))) / 3    # b->a once
    assert abs(got[1]["mean_lp"] - round(lp1, 6)) < 1e-9
    lp2 = math.log((1 + 1) / (3 + 3))            # a->c
    assert abs(got[2]["mean_lp"] - round(lp2, 6)) < 1e-9


def test_value_anomalies_flags_outliers(spark):
    from redisgraph_spark.pipeline.events import value_anomalies
    rows = [(i, 1, 10.0) for i in range(20)] + [(99, 1, 1000.0)] \
        + [(200, 2, 5.0)]                   # single-event user: never
    ev = spark.createDataFrame(rows, ["event_id", "user_id", "value"])
    got = value_anomalies(ev, z=3.0).collect()
    assert [r["event_id"] for r in got] == [99]
    assert got[0]["zscore"] > 3.0


def test_new_op_edge_cases(spark):
    import pytest as _pytest
    from redisgraph_spark.pipeline.text import (chunk_text,
                                                dsir_logratio)
    docs = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    for size, overlap in ((0, 0), (5, -1), (3, 3)):
        with _pytest.raises(ValueError):
            chunk_text(docs, size=size, overlap=overlap)
    # empty target corpus: scores degrade to the uniform-smoothed
    # log-ratio (finite), never NULL
    empty = docs.filter("doc_id < 0")
    got = dsir_logratio(docs, empty).collect()
    assert len(got) == 1 and got[0]["logratio"] is not None


def test_quality_bins_equal_depth_and_deterministic(spark):
    from redisgraph_spark.pipeline.sampling import quality_bins
    rows = [(i, "s", float(i % 7)) for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "q"])
    got = quality_bins(df, "q", n_bins=4, group_col="source").collect()
    by_bin = {}
    for r in got:
        by_bin.setdefault(r["bin"], []).append(r)
    assert sorted(by_bin) == [1, 2, 3, 4]
    assert all(len(v) == 10 for v in by_bin.values())   # equal depth
    # ordering respected: every score in bin k <= every score in k+1
    for k in (1, 2, 3):
        assert max(r["score"] for r in by_bin[k]) <= \
            min(r["score"] for r in by_bin[k + 1])
    # deterministic under reshuffle
    import pyspark.sql.functions as _F
    again = quality_bins(df.orderBy(_F.rand(5)).repartition(7), "q",
                         n_bins=4, group_col="source").collect()
    assert {(r["doc_id"], r["bin"]) for r in again} == \
        {(r["doc_id"], r["bin"]) for r in got}


def test_bm25_hand_computed(spark):
    """BM25 on a 3-doc corpus, scores checked against the closed form:
    idf = ln(1 + (N - df + 0.5)/(df + 0.5)); the rarer term dominates
    and longer docs are penalized through the length normalization."""
    import math
    from redisgraph_spark.pipeline.text import bm25_scores
    docs = spark.createDataFrame(
        [(1, "data data systems"), (2, "data model"),
         (3, "cooking recipes and more words here")],
        ["doc_id", "text"])
    got = {r["doc_id"]: r["score"]
           for r in bm25_scores(docs, ["data", "model"]).collect()}
    assert set(got) == {1, 2}
    n, avgdl = 3, (3 + 2 + 6) / 3
    idf_data = math.log(1 + (n - 2 + 0.5) / (2 + 0.5))
    idf_model = math.log(1 + (n - 1 + 0.5) / (1 + 0.5))

    def s(tf, dl, idf):
        return idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
    assert got[1] == round(s(2, 3, idf_data) * 1e6) / 1e6
    assert got[2] == round((s(1, 2, idf_data) + s(1, 2, idf_model))
                           * 1e6) / 1e6
    # doc 2 matches both terms incl. the rare one → outranks doc 1
    assert got[2] > got[1]


def test_char_entropy_closed_forms(spark):
    """Uniform 4-symbol text → exactly 2 bits; single-char text → 0
    bits with modal fraction 1; empty text → zeroed row, not a crash."""
    from redisgraph_spark.pipeline.text import char_entropy
    docs = spark.createDataFrame(
        [(1, "abcd"), (2, "aaaa"), (3, "")], ["doc_id", "text"])
    got = {r["doc_id"]: r for r in char_entropy(docs).collect()}
    assert got[1]["entropy"] == 2.0 and got[1]["n_distinct"] == 4
    assert got[1]["top_char_frac"] == 0.25
    assert got[2]["entropy"] == 0.0 and got[2]["top_char_frac"] == 1.0
    assert got[3]["n_chars"] == 0 and got[3]["entropy"] == 0.0


def test_train_split_deterministic_and_stable(spark):
    """Same (seed, id) → same split on re-run and after appending new
    rows (the no-reshuffle property); fractions route ~90/5/5; bad
    fractions raise."""
    import pytest as _pytest
    from redisgraph_spark.pipeline.sampling import train_split
    base = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"]: r["split"]
         for r in train_split(base, "doc_id").collect()}
    b = {r["doc_id"]: r["split"]
         for r in train_split(base, "doc_id").collect()}
    assert a == b
    bigger = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    c = {r["doc_id"]: r["split"]
         for r in train_split(bigger, "doc_id").collect()}
    assert all(c[k] == v for k, v in a.items())
    from collections import Counter
    counts = Counter(a.values())
    assert counts["train"] > 850 and counts["val"] < 100 \
        and counts["test"] < 100
    assert counts["train"] + counts["val"] + counts["test"] == 1000
    with _pytest.raises(ValueError):
        train_split(base, "doc_id", {"a": 0.7, "b": 0.5})
    with _pytest.raises(ValueError):
        train_split(base, "doc_id", {"a": -0.1, "b": 0.5})


def test_embedding_outliers_flags_planted_outlier(spark):
    """Two tight clusters plus one planted far-away vector per class:
    only the planted vectors flag; a single-member class yields a null
    z-score and must NOT flag (0/0 → NaN would out-rank every double
    in Spark comparisons)."""
    from redisgraph_spark.pipeline.similarity import embedding_outliers
    rows = []
    for i in range(8):
        rows.append((i, [1.0 + 0.01 * i, 0.0], 0))
        rows.append((100 + i, [0.0, 5.0 + 0.01 * i], 1))
    rows.append((50, [30.0, 0.0], 0))       # planted outlier, class 0
    rows.append((150, [0.0, -40.0], 1))     # planted outlier, class 1
    rows.append((999, [7.0, 7.0], 2))       # singleton class
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int")
    got = {r["vec_id"]: r for r in embedding_outliers(emb).collect()}
    assert got[50]["outlier"] and got[150]["outlier"]
    flagged = {k for k, r in got.items() if r["outlier"]}
    assert flagged == {50, 150}
    assert got[999]["zscore"] is None and not got[999]["outlier"]
    assert got[999]["dist"] == 0.0


def test_zipf_fit_exact_powerlaw(spark):
    """A corpus engineered so term frequencies follow f = 64/rank
    exactly gives slope −1 and intercept ln(64); n_terms counts the
    distinct fitted terms."""
    import math
    from redisgraph_spark.pipeline.text import zipf_fit
    words = []
    for rank, freq in [(1, 64), (2, 32), (4, 16), (8, 8)]:
        words += [f"w{rank:02d}"] * freq
    docs = spark.createDataFrame(
        [(1, " ".join(words), "s")], ["doc_id", "text", "source"])
    r = zipf_fit(docs, top_n=10).collect()[0]
    # ranks of the 4 distinct terms are 1,2,3,4 by frequency — but the
    # engineered frequencies follow f = 64 / 2^(rank-1), i.e. a pure
    # exponential in rank, NOT a power law; fit it directly instead
    xs = [math.log(i) for i in (1, 2, 3, 4)]
    ys = [math.log(f) for f in (64, 32, 16, 8)]
    n = 4
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert r["n_terms"] == 4
    assert abs(r["slope"] - slope) < 1e-5
    assert r["slope"] < 0


def test_pmi_bigrams_collocation(spark):
    """'new york' always co-occurring scores maximal PMI; a pair below
    min_count is absent; PMI value matches the closed form
    ln(c12·T / (c1·c2))."""
    import math
    from redisgraph_spark.pipeline.text import pmi_bigrams
    text = " ".join(["new york"] * 6 + ["the cat", "the dog", "the cat",
                                        "the dog", "the cat", "the dog"])
    docs = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    got = {(r["w1"], r["w2"]): (r["c12"], r["pmi"])
           for r in pmi_bigrams(docs, min_count=3, top_k=10).collect()}
    assert ("new", "york") in got
    c12, pmi = got[("new", "york")]
    assert c12 == 6
    # marginals count positions within the bigram table
    # T = total bigrams = 23 (12 words + 11 + ... single running text)
    total = sum(v[0] for v in
                {(r0, r1): got.get((r0, r1), (0, 0))
                 for (r0, r1) in got}.values())  # only surviving pairs
    # compute expected from the actual bigram stream instead:
    toks = text.split()
    bigs = list(zip(toks, toks[1:]))
    T = len(bigs)
    c_new = sum(1 for a, _ in bigs if a == "new")
    c_york = sum(1 for _, b in bigs if b == "york")
    exp = round(math.log(6 * T / (c_new * c_york)) * 1e6) / 1e6
    assert pmi == exp
    assert ("cat", "new") not in got or got[("cat", "new")][0] >= 3


def test_containment_asymmetric(spark):
    """A short doc fully quoted inside a long doc: containment
    short→long is 1.0 while long→short is far below threshold, and
    the pair's Jaccard (what symmetric dedup sees) is low — the case
    this operator exists for."""
    from redisgraph_spark.pipeline.dedup import (containment_pairs,
                                                 exact_jaccard_pairs)
    quote = "the quick brown fox jumps over the lazy dog today"
    filler = " ".join(f"filler{i} token{i} pad{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, quote), (2, filler + " " + quote + " " + filler)],
        ["doc_id", "text"])
    got = {(r["doc_a"], r["doc_b"]): r["containment"]
           for r in containment_pairs(docs, threshold=0.5).collect()}
    assert got.get((1, 2)) == 1.0          # quote fully contained
    assert (2, 1) not in got               # container not contained
    jac = exact_jaccard_pairs(docs, threshold=0.3).collect()
    assert jac == []                       # Jaccard misses the quote


def test_centroid_agg_dimension_scalable(spark):
    # round-7 advice #5: Lloyd re-estimation must plan O(1) in vector
    # dimension (posexplode-keyed agg, not one agg column per dim).
    # dim=1024 + nlist=256 must ANALYZE in bounded time — the per-dim
    # column shape took minutes of plan/codegen at this size.
    import time
    from redisgraph_spark.pipeline.similarity import ivf_build
    from redisgraph_spark.pipeline.dedup import semdedup
    rows = [(i, [float((i * 31 + d) % 7) for d in range(1024)])
            for i in range(12)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    t0 = time.time()
    cents, assign = ivf_build(emb, nlist=256, iters=1)
    got = {r["list_id"]: r["center"] for r in cents.collect()}
    assert all(len(v) == 1024 for v in got.values())
    sd = semdedup(emb, nlist=4, iters=1, id_col="vec_id",
                  vec_col="embedding")
    assert sd.count() == 12
    assert time.time() - t0 < 120
