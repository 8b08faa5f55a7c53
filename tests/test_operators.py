"""Training-data operator tests: semantic sanity beyond the oracle parity
suite (which checks cross-engine equality, not meaning)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from embulk_filter_copy_spark.operators import dedup as D
from embulk_filter_copy_spark.operators import multimodal as M
from embulk_filter_copy_spark.operators import similarity as S
from embulk_filter_copy_spark.operators import text as TX


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "alpha beta gamma delta epsilon zeta", "en", "s0"),
        (1, "alpha beta gamma delta epsilon zeta", "en", "s0"),      # exact dup of 0
        (2, "alpha beta gamma delta epsilon eta", "en", "s0"),       # near dup of 0
        (3, "one two three four five six seven eight", "en", "s1"),  # unrelated
        (4, "uno dos tres cuatro cinco seis", "es", "s1"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")


def test_exact_dedup_groups(docs):
    g = D.exact_dedup_groups(docs).collect()
    dup = [r for r in g if r["n_docs"] > 1]
    assert len(dup) == 1 and dup[0]["n_docs"] == 2 and dup[0]["keep_doc_id"] == 0


def test_minhash_identical_docs_identical_sigs(docs):
    sig = {r["doc_id"]: tuple(r[f"mh{i}"] for i in range(8))
           for r in D.minhash_signatures(docs, k=8).collect()}
    assert sig[0] == sig[1]          # identical token sets
    assert sig[0] != sig[3]          # disjoint token sets
    shared_0_2 = sum(a == b for a, b in zip(sig[0], sig[2]))
    assert shared_0_2 >= 2           # 5/7 jaccard → most minhashes agree


def test_minhash_lsh_finds_exact_and_near_dups(docs):
    sig = D.minhash_signatures(docs, k=8)
    pairs = {(r["a"], r["b"]) for r in D.minhash_candidate_pairs(sig, 4, 2).collect()}
    assert (0, 1) in pairs
    assert (0, 3) not in pairs and (3, 4) not in pairs


def test_minhash_bucket_cap_drops_oversized_buckets(docs):
    sig = D.minhash_signatures(docs, k=8)
    # cap=1: every bucket with ≥2 docs is dropped → no pairs at all
    assert D.minhash_candidate_pairs(sig, 4, 2, max_bucket_size=1).count() == 0
    # generous cap: identical to the uncapped result
    capped = {(r["a"], r["b"])
              for r in D.minhash_candidate_pairs(sig, 4, 2, max_bucket_size=100).collect()}
    uncapped = {(r["a"], r["b"]) for r in D.minhash_candidate_pairs(sig, 4, 2).collect()}
    assert capped == uncapped and (0, 1) in capped


def test_jaccard_pairs_values(docs):
    pairs = {(r["a"], r["b"]): r["jaccard"]
             for r in D.ngram_jaccard_pairs(docs, threshold=0.5, n=1).collect()}
    assert pairs[(0, 1)] == 1.0
    assert abs(pairs[(0, 2)] - 5 / 7) < 1e-6  # operator rounds to 6dp
    assert (0, 3) not in pairs


def test_trigram_jaccard_stricter_than_unigram(docs):
    uni = D.ngram_jaccard_pairs(docs, threshold=0.5, n=1).count()
    tri = D.ngram_jaccard_pairs(docs, threshold=0.5, n=3).count()
    assert tri <= uni
    tri_pairs = {(r["a"], r["b"]) for r in D.ngram_jaccard_pairs(docs, threshold=0.99, n=3).collect()}
    assert (0, 1) in tri_pairs  # exact dup survives any shingle size


def test_simhash_hamming_orders_similarity(docs):
    sh = {r["doc_id"]: r["simhash"] for r in D.simhash16(docs).collect()}
    assert sh[0] == sh[1]
    ham = lambda x, y: bin(x ^ y).count("1")
    assert ham(sh[0], sh[2]) <= ham(sh[0], sh[3]) + 8  # near-dup not far worse
    pairs = {(r["a"], r["b"]) for r in D.simhash_pairs(docs, max_hamming=0).collect()}
    assert (0, 1) in pairs


def test_ann_bruteforce_self_similarity(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]), (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]), (3, [-1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = S.ann_bruteforce_topk(emb, emb.filter("vec_id = 0"), k=3).collect()
    order = [r["neighbor_id"] for r in sorted(got, key=lambda r: r["rank"])]
    assert order == [1, 2, 3]  # cosine ordering: closest first, antipode last


def test_ann_lsh_bucket_candidates_subset(spark):
    import random

    rnd = random.Random(7)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(16)]) for i in range(64)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = emb.filter("vec_id < 3")
    brute = S.ann_bruteforce_topk(emb, queries, k=3)
    lsh = S.ann_lsh_topk(emb, queries, n_planes=2, k=3)
    # LSH top-1 neighbors must be real neighbors (subset of brute-force top-10)
    brute10 = {(r["query_id"], r["neighbor_id"])
               for r in S.ann_bruteforce_topk(emb, queries, k=10).collect()}
    lsh1 = {(r["query_id"], r["neighbor_id"]) for r in lsh.collect() if r["rank"] == 1}
    assert lsh1 and lsh1 <= brute10


def test_ann_ivf_cells_and_recall(spark):
    import random

    rnd = random.Random(7)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(16)]) for i in range(64)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = emb.filter("vec_id < 3")
    ivf = S.ann_ivf_topk(emb, queries, n_cells=2, k=3).collect()
    # every result comes from the query's own cell, and a query's centroid
    # (vec_id 0/1 is its own centroid) must land in its own cell
    cells = {r["query_id"]: r["cell"] for r in ivf}
    assert cells[0] == 0 and cells[1] == 1
    # IVF top-1 must be a genuine near neighbor (brute-force top-10 subset)
    brute10 = {(r["query_id"], r["neighbor_id"])
               for r in S.ann_bruteforce_topk(emb, queries, k=10).collect()}
    ivf1 = {(r["query_id"], r["neighbor_id"]) for r in ivf if r["rank"] == 1}
    assert ivf1 and ivf1 <= brute10


def test_text_quality_and_tokens(docs):
    q = {r["doc_id"]: r for r in TX.quality_score(docs).collect()}
    assert q[0]["n_tokens"] == 6 and q[0]["n_distinct_tokens"] == 6
    assert q[0]["ttr"] == 1.0
    assert 0 <= q[0]["quality"] <= 1
    assert q[0]["n_subtokens"] == sum(-(-len(w) // 4) for w in
                                      "alpha beta gamma delta epsilon zeta".split())


def test_lang_id_markers(spark):
    rows = [
        (0, "the cat sat on the mat", "en"),
        (1, "el gato y la casa de madrid", "es"),
        (2, "zzz qqq www", "und"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, expected string")
    got = {r["doc_id"]: r["pred_lang"] for r in TX.lang_id(df).collect()}
    assert got == {0: "en", 1: "es", 2: "und"}


def test_fingerprint_equal_for_clones(docs):
    fp = {r["doc_id"]: r["fingerprint"] for r in TX.fingerprint(docs).collect()}
    assert fp[0] == fp[1] and fp[0] != fp[3]


def test_multimodal_metadata_and_stub_features(spark):
    df = spark.createDataFrame([(1, "hello"), (2, None)], "doc_id long, text string")
    assets = M.to_media_assets(df, "doc_id", "text", "text")
    meta = {r["asset_id"]: r for r in M.extract_metadata(assets).collect()}
    assert meta[1]["byte_len"] == 5 and meta[1]["magic"] == "68656c6c"
    import hashlib

    assert meta[1]["sha256"] == hashlib.sha256(b"hello").hexdigest()
    assert meta[2]["byte_len"] == 0 and meta[2]["sha256"] is None

    feats = {r["asset_id"]: r for r in M.decode_and_featurize(assets, n_features=4).collect()}
    assert len(feats[1]["feature"]) == 4
    assert all(0 <= x <= 1 for x in feats[1]["feature"])
    assert feats[1]["decoder"] == "stub-sha256"


def test_simhash_banding_is_lossless(spark):
    """bands > max_hamming ⇒ the banded equi-join finds EXACTLY the
    all-pairs hamming result (pigeonhole), verified against brute force on
    a corpus big enough to have non-trivial collisions."""
    import random

    rnd = random.Random(11)
    vocab = [f"w{i}" for i in range(40)]
    rows = [(i, " ".join(rnd.sample(vocab, 12))) for i in range(120)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    banded = {(r["a"], r["b"], r["hamming"])
              for r in D.simhash_pairs(df, max_hamming=2, bands=4).collect()}
    sh = {r["doc_id"]: r["simhash"] for r in D.simhash16(df).collect()}
    brute = {
        (a, b, bin(sh[a] ^ sh[b]).count("1"))
        for a in sh for b in sh
        if a < b and bin(sh[a] ^ sh[b]).count("1") <= 2
    }
    assert banded == brute


def test_simhash_band_bucket_cap(docs):
    # cap=1 drops every shared bucket → no pairs even for exact dups
    assert D.simhash_pairs(docs, max_hamming=0, max_bucket_size=1).count() == 0


def test_embedding_near_dup_cell_blocked(spark):
    rows = [
        # first two ids become the centroids → make them orthogonal
        (10, [1.0, 0.0]), (11, [0.0, 1.0]),
        (12, [0.99, 0.01]), (13, [0.01, 0.99]),  # near dups of the centroids
        (14, [-1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {(r["a"], r["b"]): r["cell"]
             for r in D.embedding_near_dup_pairs(emb, threshold=0.9, n_cells=2).collect()}
    # ids are NOT 0-based — the explicit centroid re-index must still work
    assert (10, 12) in pairs and (11, 13) in pairs
    # cross-cell pairs are (by design) never candidates
    assert set(pairs) == {(10, 12), (11, 13)}


def test_ivf_noncontiguous_ids(spark):
    """Centroid selection must be positional — non-0-based ids used to
    silently produce empty results (round-1 advice finding)."""
    rows = [(100, [1.0, 0.0]), (200, [0.0, 1.0]), (300, [0.9, 0.1]), (400, [0.1, 0.9])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = S.ann_ivf_topk(emb, emb.filter("vec_id = 100"), n_cells=2, k=2).collect()
    assert got and {r["neighbor_id"] for r in got} == {300}
    # 300/400 share an LSH bucket (both positive on both planes)
    lsh = S.ann_lsh_topk(emb, emb.filter("vec_id = 300"), n_planes=2, k=2).collect()
    assert lsh and {r["neighbor_id"] for r in lsh} == {400}


def test_jaccard_max_doc_freq_bounds_fanout(spark):
    """The stop-shingle cut: a token present in every doc (boilerplate)
    would alone make every doc pair a candidate; capping document frequency
    removes it from the inverted index and collapses the candidate set."""
    rows = [(i, "common unique%d extra%d" % (i, i)) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = D.ngram_jaccard_pairs(df, threshold=0.01, n=1)
    capped = D.ngram_jaccard_pairs(df, threshold=0.01, n=1, max_doc_freq=10)
    # 'common' links all 30 docs → C(30,2) candidate pairs uncapped
    assert uncapped.count() == 30 * 29 // 2
    # with the hot shingle cut, no shared shingles remain at all
    assert capped.count() == 0


def test_connected_components_clusters(spark):
    """Chain 1-2-3, pair 5-6, isolates 4/7: min-label propagation must walk
    the chain (transitivity the pair list alone doesn't give you)."""
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "a long, b long")
    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")
    got = {r["doc_id"]: r["comp"] for r in D.connected_components(pairs, nodes).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5, 7: 7}


def test_connected_components_no_edges(spark):
    nodes = spark.createDataFrame([(3,), (9,)], "doc_id long")
    empty = spark.createDataFrame([], "a long, b long")
    got = {r["doc_id"]: r["comp"] for r in D.connected_components(empty, nodes).collect()}
    assert got == {3: 3, 9: 9}


def test_assign_cells_corpus_smaller_than_n_cells(spark):
    """A corpus with fewer vectors than n_cells must still produce pairs —
    the old filter-per-centroid crossJoin silently zeroed the frame."""
    # exact duplicates: both are centroids of their own, but the max-cosine
    # tie breaks to the lowest cell id, so they land together
    rows = [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {(r["a"], r["b"]) for r in
             D.embedding_near_dup_pairs(emb, threshold=0.9, n_cells=4).collect()}
    assert (0, 1) in pairs


def test_connected_components_raises_when_unconverged(spark):
    """A chain longer than max_iters hops must raise, not return partial
    labels the oracle would disagree with."""
    chain = [(i, i + 1) for i in range(1, 30)]
    pairs = spark.createDataFrame(chain, "a long, b long")
    nodes = spark.createDataFrame([(i,) for i in range(1, 31)], "doc_id long")
    with pytest.raises(RuntimeError, match="did not converge"):
        D.connected_components(pairs, nodes, max_iters=3)
    got = {r["doc_id"]: r["comp"]
           for r in D.connected_components(pairs, nodes, max_iters=40).collect()}
    assert set(got.values()) == {1}


def test_connected_components_string_node_ids(spark):
    """String doc ids must propagate correctly: the old numeric-sum
    convergence check cast them to NULL and declared convergence after one
    round, silently returning partial labels on multi-hop chains."""
    pairs = spark.createDataFrame(
        [("d1", "d2"), ("d2", "d3"), ("d3", "d4"), ("x1", "x2")],
        "a string, b string",
    )
    nodes = spark.createDataFrame(
        [(f"d{i}",) for i in range(1, 5)] + [("x1",), ("x2",), ("z9",)],
        "doc_id string",
    )
    got = {r["doc_id"]: r["comp"] for r in D.connected_components(pairs, nodes).collect()}
    assert got == {
        "d1": "d1", "d2": "d1", "d3": "d1", "d4": "d1",
        "x1": "x1", "x2": "x1", "z9": "z9",
    }


def test_ivf_nprobe_recovers_cross_cell_neighbor(spark):
    """nprobe is the IVF recall lever: a neighbor in the query's
    second-best cell is invisible at nprobe=1 and found at nprobe=2."""
    rows = [
        (0, [1.0, 0.0]),   # centroid/cell 0
        (1, [0.0, 1.0]),   # centroid/cell 1
        (2, [0.6, 0.8]),   # lands in cell 1
        (3, [0.9, 0.1]),   # lands in cell 0
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter("vec_id = 3")
    n1 = {r["neighbor_id"] for r in S.ann_ivf_topk(emb, q, n_cells=2, k=4, nprobe=1).collect()}
    n2 = {r["neighbor_id"] for r in S.ann_ivf_topk(emb, q, n_cells=2, k=4, nprobe=2).collect()}
    assert 2 not in n1 and 0 in n1
    assert 2 in n2 and n1 < n2


@pytest.fixture(scope="module")
def synth_emb(spark):
    """Deterministic 120-vector corpus, 4-dim, mildly clustered around two
    directions so cell assignment is meaningful."""
    rows = []
    for i in range(120):
        base = [1.0, 0.1, 0.0, 0.0] if i % 2 == 0 else [0.0, 0.1, 1.0, 0.2]
        rows.append((i, [round(b + ((i * 7 + j * 3) % 11) / 37.0, 4)
                         for j, b in enumerate(base)]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_assign_cells_join_path_equals_literal(synth_emb):
    """The broadcast-join argmax must assign the EXACT same cell as the
    literal-inline path — same 6dp rounding, same lowest-cell tie-break."""
    cents = S.ivf_centroids(synth_emb, 8)
    base = synth_emb.select(F.col("vec_id").alias("_id"), F.col("embedding").alias("_v"))
    lit = {r["_id"]: r["cell"] for r in
           S.assign_cells(base, cents, 8, "_v", method="literal").collect()}
    jn = {r["_id"]: r["cell"] for r in
          S.assign_cells(base, cents, 8, "_v", id_col="_id", method="join").collect()}
    assert lit == jn and len(lit) == 120


def test_assign_cells_topk_join_path_equals_literal(synth_emb):
    cents = S.ivf_centroids(synth_emb, 8)
    base = synth_emb.select(F.col("vec_id").alias("_id"), F.col("embedding").alias("_v"))
    lit = {(r["_id"], r["cell"]) for r in
           S.assign_cells_topk(base, cents, 8, "_v", 3, method="literal").collect()}
    jn = {(r["_id"], r["cell"]) for r in
          S.assign_cells_topk(base, cents, 8, "_v", 3, id_col="_id", method="join").collect()}
    assert lit == jn and len(lit) == 3 * 120


def test_ann_ivf_topk_join_method_equals_literal(synth_emb):
    q = synth_emb.filter("vec_id < 3")
    lit = sorted(map(tuple, S.ann_ivf_topk(synth_emb, q, n_cells=4, k=5,
                                           method="literal").collect()))
    jn = sorted(map(tuple, S.ann_ivf_topk(synth_emb, q, n_cells=4, k=5,
                                          method="join").collect()))
    assert lit == jn and len(lit) == 15


def test_assign_cells_auto_switches_and_requires_id(synth_emb):
    base = synth_emb.select(F.col("vec_id").alias("_id"), F.col("embedding").alias("_v"))
    cents = S.ivf_centroids(synth_emb, S.INLINE_CELLS_MAX + 1)
    with pytest.raises(ValueError, match="id_col"):
        S.assign_cells(base, cents, S.INLINE_CELLS_MAX + 1, "_v")  # auto→join, no id
    out = S.assign_cells(base, cents, S.INLINE_CELLS_MAX + 1, "_v", id_col="_id")
    assert out.count() == 120


def test_assign_cells_join_null_and_mismatched_vectors(spark, synth_emb):
    """NULL vectors and dimension-mismatched vectors (zip_with pads with
    NULL elements → NULL cosine) must get cell -1 on the join path too: a
    struct with neg=NULL sorts FIRST under min(), so without the null-score
    filter such rows silently won cell 0 — a literal/join divergence that
    flipped results when method='auto' crossed INLINE_CELLS_MAX."""
    bad = spark.createDataFrame(
        [(1000, None), (1001, [1.0, 0.0])],  # NULL vec; 2-dim vs 4-dim centroids
        "vec_id long, embedding array<float>",
    )
    mixed = synth_emb.unionByName(bad)
    cents = S.ivf_centroids(synth_emb, 8)
    base = mixed.select(F.col("vec_id").alias("_id"), F.col("embedding").alias("_v"))
    lit = {r["_id"]: r["cell"] for r in
           S.assign_cells(base, cents, 8, "_v", method="literal").collect()}
    jn = {r["_id"]: r["cell"] for r in
          S.assign_cells(base, cents, 8, "_v", id_col="_id", method="join").collect()}
    assert lit == jn
    assert jn[1000] == -1 and jn[1001] == -1


def test_assign_cells_join_empty_centroids(spark, synth_emb):
    empty = spark.createDataFrame([], "cent_id int, cent_v array<float>")
    base = synth_emb.select(F.col("vec_id").alias("_id"), F.col("embedding").alias("_v"))
    out = S.assign_cells(base, empty, 0, "_v", id_col="_id", method="join")
    assert {r["cell"] for r in out.collect()} == {-1}


def test_kmeans_zero_iters_is_seed_and_refinement_separates_blobs(spark):
    """n_iters=0 returns the positional seed; with iterations, two clean
    blobs end with one centroid per blob and a blob-pure assignment."""
    # directions matter (cosine k-means): seeds vec0/vec1 start as two
    # slightly-different blob-A directions; Lloyd must pull one to blob B
    rows = [(i, [1.0, 0.02 * (i % 5)]) for i in range(10)] + \
           [(10 + i, [0.02 * (i % 5), 1.0]) for i in range(10)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    seed = {r["cent_id"]: list(r["cent_v"]) for r in S.kmeans_centroids(emb, 2, n_iters=0).collect()}
    ivf = {r["cent_id"]: [float(x) for x in r["cent_v"]] for r in S.ivf_centroids(emb, 2).collect()}
    assert set(seed) == set(ivf) == {0, 1}
    for c in seed:
        assert seed[c] == pytest.approx(ivf[c], abs=1e-6)
    cents = S.kmeans_centroids(emb, 2, n_iters=3)
    got = S.assign_cells(
        emb.select(F.col("vec_id").alias("_id"), F.col("embedding").alias("_v")),
        cents, 2, "_v", id_col="_id", method="join",
    ).collect()
    by_cell = {}
    for r in got:
        by_cell.setdefault(r["cell"], set()).add(r["_id"] < 10)
    assert len(by_cell) == 2
    for members in by_cell.values():
        assert len(members) == 1  # each cell is blob-pure


def test_ann_ivf_kmeans_topk_shape_and_selfconsistency(synth_emb):
    q = synth_emb.filter("vec_id < 3")
    out = S.ann_ivf_kmeans_topk(synth_emb, q, n_cells=4, k=5, nprobe=2, n_iters=2)
    rows = out.collect()
    assert len(rows) == 15
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rs in by_q.items():
        assert [r["rank"] for r in sorted(rs, key=lambda r: r["rank"])] == [1, 2, 3, 4, 5]
        assert all(r["neighbor_id"] != qid for r in rs)


def test_simhash64_low_bits_match_16bit_and_high_bits_live(docs):
    """bits=16 output must be byte-identical to the original operator (its
    DuckDB oracle is frozen), the 64-bit signature's low 16 bits must equal
    it (same 'sim:' hash bits), and high bits (32-63, the 'sim2:' salt)
    must actually carry signal — the old hardcoded-16 path left them zero,
    collapsing bands into degenerate all-docs buckets."""
    s16 = {r["doc_id"]: r["simhash"] for r in D.simhash16(docs).collect()}
    s64 = {r["doc_id"]: r["simhash"] for r in D.simhash_sig(docs, bits=64).collect()}
    assert set(s16) == set(s64)
    for d, h in s64.items():
        assert (h & 0xFFFF) == s16[d]
    assert any((h >> 32) & 0xFFFFFFFF for h in s64.values())


def test_simhash64_bands_not_degenerate(docs):
    """bits=64, bands=4: every band index must have >1 distinct band value
    across a non-trivial corpus (the old footgun made bands 1-3 identically
    zero → three all-docs buckets → a quadratic join)."""
    sh = D.simhash_sig(docs, bits=64)
    vals = sh.select(
        *[F.expr(f"(simhash >> {i * 16}) & 65535").alias(f"b{i}") for i in range(4)]
    ).collect()
    for i in range(1, 4):
        assert len({r[f"b{i}"] for r in vals}) > 1


def test_simhash_pairs_rejects_bad_bits(docs):
    with pytest.raises(ValueError, match="bits"):
        D.simhash_pairs(docs, max_hamming=2, bands=4, bits=48)
    with pytest.raises(ValueError, match="lossless"):
        D.simhash_pairs(docs, max_hamming=4, bands=4)


def test_star_components_match_label_prop(spark):
    """Both algorithms on the same mixed graph: chain + pair + isolates."""
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "a long, b long")
    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")
    lp = {r["doc_id"]: r["comp"] for r in D.connected_components(pairs, nodes).collect()}
    st = {r["doc_id"]: r["comp"] for r in D.connected_components_star(pairs, nodes).collect()}
    assert lp == st == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5, 7: 7}


def test_star_components_converge_on_long_chain(spark):
    """A 300-hop chain: label propagation needs 300 rounds (raises at its
    default 20); star contraction is O(log n) and must finish well inside
    30 rounds — the scale shape VERDICT r2 flagged."""
    chain = [(i, i + 1) for i in range(1, 300)]
    pairs = spark.createDataFrame(chain, "a long, b long")
    nodes = spark.createDataFrame([(i,) for i in range(1, 301)], "doc_id long")
    with pytest.raises(RuntimeError, match="did not converge"):
        D.connected_components(pairs, nodes)  # default max_iters=20
    got = {r["doc_id"]: r["comp"]
           for r in D.connected_components_star(pairs, nodes).collect()}
    assert set(got.values()) == {1} and len(got) == 300


def test_star_components_ignore_unknown_pair_endpoints(spark):
    """Pairs may reference docs filtered out of `nodes`; label propagation
    never flows through such phantom endpoints, so star contraction must
    not bridge components through them either (contract: both variants
    return identical clusters for identical inputs)."""
    pairs = spark.createDataFrame([(2, 1), (2, 3)], "a long, b long")
    nodes = spark.createDataFrame([(1,), (3,)], "doc_id long")
    lp = {r["doc_id"]: r["comp"] for r in D.connected_components(pairs, nodes).collect()}
    st = {r["doc_id"]: r["comp"]
          for r in D.connected_components_star(pairs, nodes).collect()}
    assert lp == st == {1: 1, 3: 3}


def test_star_components_string_ids_and_no_edges(spark):
    pairs = spark.createDataFrame([("d1", "d2"), ("d2", "d3")], "a string, b string")
    nodes = spark.createDataFrame([("d1",), ("d2",), ("d3",), ("z",)], "doc_id string")
    got = {r["doc_id"]: r["comp"]
           for r in D.connected_components_star(pairs, nodes).collect()}
    assert got == {"d1": "d1", "d2": "d1", "d3": "d1", "z": "z"}
    empty = spark.createDataFrame([], "a long, b long")
    n2 = spark.createDataFrame([(3,), (9,)], "doc_id long")
    got2 = {r["doc_id"]: r["comp"]
            for r in D.connected_components_star(empty, n2).collect()}
    assert got2 == {3: 3, 9: 9}


# ------------------------------------------------------- sampling / packing
def test_sample_by_hash_deterministic_and_nested(spark):
    from embulk_filter_copy_spark.operators import sampling as SA

    df = spark.createDataFrame([(i, f"t{i}") for i in range(400)],
                               "doc_id long, text string")
    s25 = {r["doc_id"] for r in SA.sample_by_hash(df, "doc_id", 0.25).collect()}
    s50 = {r["doc_id"] for r in SA.sample_by_hash(df, "doc_id", 0.50).collect()}
    again = {r["doc_id"] for r in SA.sample_by_hash(df, "doc_id", 0.25).collect()}
    assert s25 == again                      # deterministic replay
    assert s25 <= s50                        # thresholds nest (same hash)
    assert 0.15 < len(s25) / 400 < 0.35      # roughly the asked fraction
    other = {r["doc_id"] for r in
             SA.sample_by_hash(df, "doc_id", 0.25, salt="other:").collect()}
    assert other != s25                      # independent split per salt
    assert SA.sample_by_hash(df, "doc_id", 0.0).count() == 0
    assert SA.sample_by_hash(df, "doc_id", 1.0).count() == 400
    with pytest.raises(ValueError, match="fraction"):
        SA.sample_by_hash(df, "doc_id", 1.5)


def test_stratified_sample_per_group_counts(spark):
    from embulk_filter_copy_spark.operators import sampling as SA

    rows = [(i, f"g{i % 3}" if i < 30 else "tiny") for i in range(32)]
    df = spark.createDataFrame(rows, "doc_id long, grp string")
    got = SA.stratified_sample(df, "grp", 4, "doc_id").collect()
    by_grp = {}
    for r in got:
        by_grp.setdefault(r["grp"], set()).add(r["doc_id"])
    assert all(len(v) == 4 for g, v in by_grp.items() if g != "tiny")
    assert len(by_grp["tiny"]) == 2          # group smaller than n keeps all
    again = SA.stratified_sample(df, "grp", 4, "doc_id").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))


def test_pack_sequences_matches_reference_blocking(spark):
    from embulk_filter_copy_spark.operators import sampling as SA

    rows = [
        ("g1", 0, 100), ("g1", 1, 120), ("g1", 2, 90), ("g1", 3, 60),
        ("g2", 4, 300), ("g2", 5, 10),
    ]
    df = spark.createDataFrame(rows, "source string, doc_id long, n long")
    got = {r["doc_id"]: r["pack_id"] for r in
           SA.pack_sequences(df, 256, tokens_col="n").collect()}
    # reference: pack = floor(exclusive cumsum / 256) per group by doc_id
    # g1 cumsums: 0,100,220,310 -> packs 0,0,0,1 ; g2: 0,300 -> 0,1
    assert got == {0: 0, 1: 0, 2: 0, 3: 1, 4: 0, 5: 1}
    with pytest.raises(ValueError, match="budget"):
        SA.pack_sequences(df, 0, tokens_col="n")


# ----------------------------------------------------------- pii / repetition
def test_scrub_pii_replaces_and_counts(spark):
    df = spark.createDataFrame(
        [
            (0, "mail me at bob.smith+x@corp.example.org today"),
            (1, "server 192.168.0.1 and backup 10.0.0.2"),
            (2, "call 555-123-4567 now"),
            (3, "nothing sensitive here"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in TX.scrub_pii(df).collect()}
    assert got[0]["clean_text"] == "mail me at <EMAIL> today"
    assert got[0]["n_email"] == 1 and got[0]["n_ipv4"] == 0
    assert got[1]["clean_text"] == "server <IP> and backup <IP>"
    assert got[1]["n_ipv4"] == 2
    assert got[2]["clean_text"] == "call <PHONE> now" and got[2]["n_phone"] == 1
    assert got[3]["clean_text"] == "nothing sensitive here"
    assert got[3]["n_email"] == got[3]["n_ipv4"] == got[3]["n_phone"] == 0


def test_repetition_stats_hand_computed(spark):
    df = spark.createDataFrame(
        [(0, "a a a b"), (1, "x y x y"), (2, "solo")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in TX.repetition_stats(df).collect()}
    assert abs(got[0]["top_token_frac"] - 3 / 4) < 1e-12
    assert abs(got[0]["top_bigram_frac"] - 2 / 3) < 1e-12   # 'a a' twice of 3
    assert abs(got[1]["top_token_frac"] - 2 / 4) < 1e-12
    assert abs(got[1]["top_bigram_frac"] - 2 / 3) < 1e-12   # 'x y' twice of 3
    assert got[2]["top_token_frac"] == 1.0
    assert got[2]["top_bigram_frac"] is None                # no bigrams


def test_unigram_logprob_ranks_in_distribution_text_higher(spark):
    from embulk_filter_copy_spark.operators import text as TX2

    df = spark.createDataFrame(
        [
            (0, "alpha beta alpha beta alpha beta"),   # common tokens
            (1, "alpha beta gamma alpha beta gamma"),
            (2, "zzqx wvvk pqrst zzyy mnopq hjkl"),    # all-rare garble
            (3, ""),                                   # empty: no evidence
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in TX2.unigram_logprob(df).collect()}
    assert set(out) == {0, 1, 2, 3}
    assert out[0]["mean_logprob"] > out[2]["mean_logprob"]
    assert out[1]["mean_logprob"] > out[2]["mean_logprob"]
    assert out[3]["n_tokens"] == 0 and out[3]["mean_logprob"] is None
    # frozen-vocab scoring: score doc 2 under a vocab that has seen it a lot
    from pyspark.sql import functions as F2

    vocab = spark.createDataFrame(
        [("zzqx", 100), ("wvvk", 100), ("pqrst", 100), ("zzyy", 100),
         ("mnopq", 100), ("hjkl", 100), ("alpha", 1)],
        "tok string, cnt long",
    )
    frozen = {r["doc_id"]: r for r in TX2.unigram_logprob(df, vocab=vocab).collect()}
    assert frozen[2]["mean_logprob"] > frozen[0]["mean_logprob"]


def test_unigram_logprob_unknown_tokens_get_smoothed_mass(spark):
    from embulk_filter_copy_spark.operators import text as TX2

    df = spark.createDataFrame([(0, "known unknown")], "doc_id long, text string")
    vocab = spark.createDataFrame([("known", 99)], "tok string, cnt long")
    row = TX2.unigram_logprob(df, vocab=vocab).collect()[0]
    import math
    # p(known) = 100/100, p(unknown) = 1/100 -> mean = (0 + ln(0.01)) / 2
    assert row["n_tokens"] == 2
    assert abs(row["mean_logprob"] - (math.log(100 / 100) + math.log(1 / 100)) / 2) < 1e-9


def test_kmeans_fixture_matches_fresh_fit(spark):
    """The frozen centroid fixture (the oracle's quantizer for
    `ann_ivf_kmeans_topk` / `dedup_embedding_kmeans`) must equal a fresh
    deterministic fit on the sf0.001 embeddings — guards fixture staleness
    if the fit or the testdata ever changes."""
    from embulk_filter_copy_spark.queries.pipeline import _kmeans_fixture_path

    fix = {
        r["cent_id"]: [float(x) for x in r["cent_v"]]
        for r in spark.read.parquet(_kmeans_fixture_path()).collect()
    }
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    fit = {
        int(r["cent_id"]): [float(x) for x in r["cent_v"]]
        for r in S.kmeans_centroids(emb, n_cells=4, n_iters=2).collect()
    }
    assert fix == fit


def test_near_dup_kmeans_cells_recall_vs_positional(spark):
    """k-means cells must not lose near-dup pairs relative to the
    positional seed on blob-structured data: with cells fitted to the
    blobs, every within-blob near-dup pair lands in one cell."""
    import random

    rnd = random.Random(7)
    rows = []
    for i in range(60):
        blob = i % 3
        base = [1.0 if d // 8 == blob else 0.0 for d in range(24)]
        rows.append((i, [x + rnd.uniform(-0.05, 0.05) for x in base]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = S.kmeans_centroids(emb, n_cells=3, n_iters=3)
    km = D.embedding_near_dup_pairs(
        emb, threshold=0.9, n_cells=3, method="join", centroids=cents
    )
    pos = D.embedding_near_dup_pairs(emb, threshold=0.9, n_cells=3)
    km_pairs = {(r["a"], r["b"]) for r in km.collect()}
    pos_pairs = {(r["a"], r["b"]) for r in pos.collect()}
    # all within-blob pairs are near-dups; k-means cells align with blobs so
    # recall is total, and at least matches the positional seed's
    n_blob_pairs = 3 * (20 * 19 // 2)
    assert len(km_pairs) == n_blob_pairs
    assert km_pairs >= pos_pairs


# ------------------------------------------------- round-4 selection ops
def test_leakage_safe_split_routes_components_together(spark):
    from embulk_filter_copy_spark.operators import sampling as SA

    df = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
    # components: {0,1,2}, {10,11}, singletons elsewhere
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11)], "a long, b long"
    )
    for algo in ("label", "star"):
        out = SA.split_leakage_safe(
            df, pairs, {"train": 0.8, "val": 0.1, "test": 0.1},
            algorithm=algo,
        )
        rows = out.collect()
        assert len(rows) == 40
        by_id = {r["doc_id"]: r for r in rows}
        # every component member shares comp AND split
        assert len({(by_id[i]["comp"], by_id[i]["split"]) for i in (0, 1, 2)}) == 1
        assert len({(by_id[i]["comp"], by_id[i]["split"]) for i in (10, 11)}) == 1
        assert {r["split"] for r in rows} <= {"train", "val", "test"}
    # both algorithms produce the identical assignment
    a = SA.split_leakage_safe(df, pairs, {"train": 0.5, "test": 0.5}).collect()
    b = SA.split_leakage_safe(
        df, pairs, {"train": 0.5, "test": 0.5}, algorithm="star"
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_leakage_safe_split_validates_ratios(spark):
    from embulk_filter_copy_spark.operators import sampling as SA

    df = spark.createDataFrame([(1,)], "doc_id long")
    pairs = spark.createDataFrame([], "a long, b long")
    with pytest.raises(ValueError, match="sum to 1"):
        SA.split_leakage_safe(df, pairs, {"train": 0.5, "val": 0.1})
    with pytest.raises(ValueError, match="non-empty"):
        SA.split_leakage_safe(df, pairs, {})
    with pytest.raises(ValueError, match="in \\[0, 1\\]"):
        SA.split_leakage_safe(df, pairs, {"train": 1.5, "val": -0.5})


def test_cap_tokens_per_group_budget_bound(spark):
    from embulk_filter_copy_spark.operators import sampling as SA

    rows = [(g * 100 + i, f"g{g}", "tok " * 9 + "tok") for g in range(3)
            for i in range(20)]  # 10 tokens per doc, 200 per group
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    kept = SA.cap_tokens_per_group(
        df, budget=55, group_col="source", key_col="doc_id"
    )
    pdf = kept.toPandas()
    per_group = pdf.groupby("source")["n_tok"].sum()
    # exclusive-cumsum cap: kept tokens < budget + one doc's overflow
    assert (per_group <= 55 + 10 - 1).all() and (per_group >= 55).all()
    # deterministic: rerun keeps the identical doc set
    again = SA.cap_tokens_per_group(
        df, budget=55, group_col="source", key_col="doc_id"
    ).toPandas()
    assert sorted(pdf["doc_id"]) == sorted(again["doc_id"])
    # a group smaller than the budget survives whole
    small = SA.cap_tokens_per_group(
        df, budget=10_000, group_col="source", key_col="doc_id"
    )
    assert small.count() == 60
    with pytest.raises(ValueError, match="positive"):
        SA.cap_tokens_per_group(df, budget=0)


def test_ann_recall_report_full_probe_is_exact(spark):
    """nprobe = n_cells probes every inverted list -> the IVF candidate set
    contains the brute-force candidate set -> recall@k == 1.0 everywhere."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3)
    rep = S.ann_recall_report(
        emb, queries, n_cells=4, k=5, nprobe=4, method="join"
    ).collect()
    assert len(rep) == 3
    assert all(r["recall"] == 1.0 and r["n_truth"] == 5 for r in rep)
    # single-probe recall is a valid fraction and the report covers all
    # queries even when a probe misses everything
    rep1 = S.ann_recall_report(emb, queries, n_cells=4, k=5, nprobe=1).collect()
    assert len(rep1) == 3
    assert all(0.0 <= r["recall"] <= 1.0 for r in rep1)


def test_quality_rules_named_verdicts(spark):
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (2, "spam spam spam spam spam spam spam spam spam spam"),
            (3, "ok"),  # too short
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in TX.quality_rules(
        df, min_tokens=5, max_tokens=100, min_mean_word_len=2.0,
        max_mean_word_len=10.0, max_top_token_frac=0.5, min_ttr=0.3,
    ).collect()}
    assert out[1]["keep"] and all(
        out[1][c] for c in ("rule_len", "rule_word_len",
                            "rule_repetition", "rule_diversity"))
    # the degenerate doc fails EXACTLY the repetition + diversity rules
    assert not out[2]["keep"]
    assert out[2]["rule_len"] and out[2]["rule_word_len"]
    assert not out[2]["rule_repetition"] and not out[2]["rule_diversity"]
    assert not out[3]["keep"] and not out[3]["rule_len"]


def test_quality_rules_gopher_structural_set(spark):
    """Round-5 extension: the structural Gopher heuristics (stopwords,
    symbol ratio, bullet lines, ellipsis lines, alpha words, short words)
    each split a structured corpus both ways at paper thresholds, and a
    doc failing exactly one rule reports exactly that rule."""
    good = ("the quick brown fox jumps over a lazy dog and keeps running "
            "through the field while birds watch from tall trees nearby")
    docs = [
        (1, good),
        # no stop words at all
        (2, "quick brown foxes jump over lazy dogs chasing rabbits "
            "through fields while birds watch from tall trees nearby"),
        # symbol spam: hash marks attached to words (tokens stay alphabetic)
        (3, good.replace("fox", "fox#").replace("dog", "dog#")
              .replace("birds", "birds#").replace("field", "field#")
              .replace("trees", "trees#")),
        # bullet-list body: every line starts with a bullet
        (4, "\n".join("- the point number %d of a list" % i
                      for i in range(10))),
        # 4 of 10 lines trail off with an ellipsis (>0.3 but few symbols)
        (5, "\n".join(
            "the story continues with lots of long interesting words"
            + ("..." if i < 4 else ".") for i in range(10))),
        # mostly numeric tokens (long ones, so short-word density stays low)
        (6, "the 11111 22222 33333 44444 55555 66666 77777 88888 99999 "
            "10101 12121 13131 14141 15151 16161 17171 18181 19191 a of"),
        # stub/fragment density: mostly <=2-char tokens
        (7, "the a an it is to of in on at by we he a an it is to of a"),
    ]
    out = {r["doc_id"]: r for r in TX.quality_rules(
        spark.createDataFrame(docs, "doc_id long, text string"),
        min_tokens=5, max_tokens=500,
        min_mean_word_len=1.0, max_mean_word_len=12.0,
        max_top_token_frac=0.9, min_ttr=0.05,
        min_stop_hits=2, max_symbol_word_ratio=0.1,
        max_bullet_line_frac=0.9, max_ellipsis_line_frac=0.3,
        min_alpha_word_frac=0.8, max_short_word_frac=0.5,
    ).collect()}
    assert out[1]["keep"]
    structural = ("rule_stopwords", "rule_symbol", "rule_bullet",
                  "rule_ellipsis", "rule_alpha", "rule_short_words")
    for rule, bad_doc in zip(structural, (2, 3, 4, 5, 6, 7)):
        assert not out[bad_doc][rule], (rule, bad_doc, out[bad_doc])
        assert not out[bad_doc]["keep"]
        # every structural rule passes on the clean doc
        assert out[1][rule], rule
    # each failing doc fails ONLY its targeted structural rule
    for rule, bad_doc in zip(structural, (2, 3, 4, 5, 6, 7)):
        others = [r for r in structural if r != rule]
        assert all(out[bad_doc][r] for r in others), (rule, bad_doc, out[bad_doc])
