"""Tests for the training-data pipeline operators (text analysis, dedup,
similarity, sketches) against local pure-Python oracles."""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from smatchpp_spark.functions.scores import macro_scores, micro_scores, pairwise_scores
from smatchpp_spark.pipeline import dedup, similarity, text

DOCS = [
    (0, "The cat and the dog sat in the sun. It was warm and the day was long."),
    (1, "Der Hund und die Katze sind nicht mit der Maus zu sehen, das ist gut."),
    (2, "Le chat est une bête et la maison est pour les chats, pas pour que."),
    (3, "short"),
    (4, ""),
    (5, "12345 67890 11 22 33 44 5.5: numbers, numbers; numbers!"),
    (6, "The cat and the dog sat in the sun. It was warm and the day was long."),  # dup of 0
    (7, "The cat and the dog sat in the sun. It was warm and the day was short."),  # near-dup of 0
    (8, "completely different content about spark and distributed processing at scale"),
]


def oracle_hash64(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_token_stats(docs):
    rows = {r["doc_id"]: r for r in text.token_stats(docs).collect()}
    for doc_id, t in DOCS:
        toks = t.split()
        assert rows[doc_id]["n_chars"] == len(t)
        assert rows[doc_id]["n_tokens"] == len(toks)
        if toks:
            assert rows[doc_id]["avg_token_len"] == pytest.approx(
                sum(len(x) for x in toks) / len(toks)
            )


def test_quality_features(docs):
    rows = {r["doc_id"]: r for r in text.quality_features(docs).collect()}
    t = DOCS[5][1]
    digits = sum(c.isdigit() for c in t)
    assert rows[5]["digit_ratio"] == pytest.approx(digits / len(t), abs=1e-6)
    assert rows[5]["quality"] < rows[0]["quality"]  # numbery doc scores worse
    assert rows[4]["n_tokens"] == 0  # empty doc doesn't crash


def test_langid(docs):
    rows = {r["doc_id"]: r["lang_pred"] for r in text.langid(docs).collect()}
    assert rows[0] == "en"
    assert rows[1] == "de"
    assert rows[2] == "fr"
    assert rows[4] == "unknown"


def test_fingerprints_match_oracle(docs):
    rows = {r["doc_id"]: r for r in text.fingerprints(docs, portable=True).collect()}
    mod = 2147483647
    for doc_id, t in DOCS:
        assert rows[doc_id]["content_hash"] == oracle_hash64(t)
        acc = 0
        for tok in t.split():
            acc = (acc * 31 + oracle_hash64(tok) % mod) % mod
        assert rows[doc_id]["rolling_hash"] == acc
    # exact duplicates share all fingerprints
    assert rows[0]["content_hash"] == rows[6]["content_hash"]
    assert rows[0]["rolling_hash"] == rows[6]["rolling_hash"]


def test_exact_dedup(docs):
    groups = {
        r["keep_id"]: r["n_copies"]
        for r in dedup.exact_dedup_groups(docs).collect()
    }
    assert groups[0] == 2  # doc 6 collapsed into doc 0
    kept = dedup.exact_dedup(docs)
    assert kept.count() == len(DOCS) - 1
    assert kept.filter(F.col("doc_id") == 6).count() == 0
    # duplicate rows with the SAME id also collapse
    doubled = docs.unionAll(docs)
    assert dedup.exact_dedup(doubled).count() == len(DOCS) - 1


def test_exact_dedup_hot_hash_plan_shape(spark):
    """A planted 10^6-ish duplicate group must NOT funnel through a
    single-partition window task: the keep-one path is a map-side
    combinable min_by aggregation (plan has an Aggregate and no Window),
    and the min-id row survives."""
    n = 100_000
    hot = spark.range(n).select(
        (F.col("id") + 10).alias("doc_id"), F.lit("same boilerplate text").alias("text")
    )
    uniq = spark.createDataFrame(
        [(0, "first unique"), (1, "second unique")], "doc_id long, text string"
    )
    kept = dedup.exact_dedup(uniq.unionByName(hot))
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "Aggregate" in plan
    rows = sorted(kept.collect())
    assert [r["doc_id"] for r in rows] == [0, 1, 10]


def test_minhash_oracle_and_neardups(docs):
    k = 8
    sigs = {r["doc_id"]: list(r["sig"]) for r in
            dedup.minhash_signatures(docs, num_hashes=k, portable=True).collect()}

    def oracle_shingles(t: str) -> set[str]:
        toks = [w.lower() for w in t.split()]
        if len(toks) < 3:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    for doc_id, t in DOCS:
        sh = oracle_shingles(t)
        expect = [min(oracle_hash64(f"{s}#{i}") for s in sh) for i in range(k)]
        assert sigs[doc_id] == expect, doc_id

    pairs = dedup.neardup_pairs_minhash(docs, num_hashes=8, band_size=2, portable=True)
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    assert (0, 6) in got  # exact dup always collides on every band
    jac = dedup.neardup_pairs_jaccard(
        docs, threshold=0.5, num_hashes=8, band_size=2, portable=True
    )
    jrows = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in jac.collect()}
    assert jrows.get((0, 6)) == 1.0


def test_jaccard_values(spark, docs):
    pairs = spark.createDataFrame([(0, 7)], "doc_a long, doc_b long")
    row = dedup.jaccard_pairs(docs, pairs).collect()[0]
    a = {" ".join(DOCS[0][1].lower().split()[i : i + 3]) for i in range(len(DOCS[0][1].split()) - 2)}
    b = {" ".join(DOCS[7][1].lower().split()[i : i + 3]) for i in range(len(DOCS[7][1].split()) - 2)}
    assert row["jaccard"] == pytest.approx(len(a & b) / len(a | b))


def test_simhash_oracle(docs):
    bits = 16
    rows = {r["doc_id"]: r["simhash"] for r in
            dedup.simhash(docs, bits=bits, portable=True).collect()}
    for doc_id, t in DOCS:
        code = 0
        for i in range(bits):
            vote = sum(
                1 if (oracle_hash64(w) >> i) % 2 == 1 else -1 for w in t.split()
            )
            if vote > 0:
                code |= 1 << i
        assert rows[doc_id] == code, doc_id
    # near-dups are close in hamming space, unrelated docs are not
    d07 = bin(rows[0] ^ rows[7]).count("1")
    d08 = bin(rows[0] ^ rows[8]).count("1")
    assert d07 < d08


def test_cosine_topk_vs_numpy(spark):
    rng = np.random.RandomState(7)
    vecs = rng.randn(40, 8).astype(np.float32)
    emb = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    queries = emb.filter(F.col("vec_id") < 3)
    got = similarity.cosine_topk(emb, queries, k=4).collect()
    v64 = vecs.astype(np.float64)
    sims = v64 @ v64.T / (
        np.linalg.norm(v64, axis=1)[:, None] * np.linalg.norm(v64, axis=1)[None, :]
    )
    for q in range(3):
        order = [j for j in np.argsort(-sims[q]) if j != q][:4]
        mine = [r["neighbor_id"] for r in got if r["query_id"] == q]
        assert mine == order
        top_sim = [r["cosine_sim"] for r in got if r["query_id"] == q]
        assert top_sim == pytest.approx([sims[q][j] for j in order], abs=1e-6)


def test_cosine_topk_guards_oversized_query_side(spark):
    """The exact path is |queries| x |corpus|: a corpus-sized query side
    must raise instead of silently planning an all-pairs cross join."""
    emb = spark.range(30).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"),
    )
    with pytest.raises(ValueError, match="max_queries"):
        similarity.cosine_topk(emb, emb, k=2, max_queries=10)
    # explicit opt-up works when the caller knows both sides are small
    out = similarity.cosine_topk(emb, emb, k=2, max_queries=100)
    assert out.count() == 60


def test_bucketed_topk_subset_of_bucket(spark):
    rng = np.random.RandomState(3)
    vecs = rng.randn(60, 8).astype(np.float32)
    emb = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    queries = emb.filter(F.col("vec_id") < 5)
    got = similarity.bucketed_topk(emb, queries, k=3, bits=2)
    # every reported neighbor must share the query's bucket
    def bucket(v):
        return sum((1 << i) for i in range(2) if v[i] >= 0)
    buckets = {i: bucket(v) for i, v in enumerate(vecs)}
    for r in got.collect():
        assert buckets[r["query_id"]] == buckets[r["neighbor_id"]]


def test_micro_macro_scores(spark):
    # reference README example IV semantics: stats (2,2,4,6) -> F1 40, P 50, R 33.33
    stats = spark.createDataFrame(
        [(2.0, 2.0, 4.0, 6.0)], "matchsum_x double, matchsum_y double, xlen double, ylen double"
    )
    row = micro_scores(stats).collect()[0]
    assert (row["f1"], row["p"], row["r"]) == (40.0, 50.0, 33.33)
    # sumzerothenone: all-zero 4-vector scores 1.0 (100.0 after scaling)
    zero = spark.createDataFrame(
        [(0.0, 0.0, 0.0, 0.0)], "matchsum_x double, matchsum_y double, xlen double, ylen double"
    )
    zrow = micro_scores(zero).collect()[0]
    assert (zrow["f1"], zrow["p"], zrow["r"]) == (100.0, 100.0, 100.0)
    # micro vs macro on two pairs
    two = spark.createDataFrame(
        [(2.0, 2.0, 4.0, 6.0), (3.0, 3.0, 3.0, 3.0)],
        "matchsum_x double, matchsum_y double, xlen double, ylen double",
    )
    m = micro_scores(two).collect()[0]
    assert m["p"] == pytest.approx(round(100 * 5 / 7, 2))
    assert m["r"] == pytest.approx(round(100 * 5 / 9, 2))
    ma = macro_scores(two).collect()[0]
    assert ma["p"] == pytest.approx(round(100 * (0.5 + 1.0) / 2, 2))
    pw = pairwise_scores(two.withColumn("pair_id", F.monotonically_increasing_id()))
    assert pw.count() == 2


def test_scores_match_reference_eval_statistics(spark):
    """Differential: our column formulas vs the reference's numpy functions."""
    try:
        import sys

        sys.path.insert(0, "/root/reference")
        from smatchpp import eval_statistics  # noqa
    except ImportError:
        pytest.skip("reference eval_statistics needs scipy (unavailable)")
    cases = [
        (2.0, 2.0, 4.0, 6.0),
        (0.0, 0.0, 0.0, 0.0),
        (3.0, 3.0, 3.0, 3.0),
        (0.0, 0.0, 2.0, 3.0),
        (1.0, 2.0, 5.0, 4.0),
    ]
    stats = spark.createDataFrame(
        cases, "matchsum_x double, matchsum_y double, xlen double, ylen double"
    )
    pw = pairwise_scores(stats.withColumn("pair_id", F.lit(0))).collect()
    got = {(r["f1"], r["p"], r["r"]) for r in pw}
    expect = {
        tuple(round(x * 100, 2) for x in eval_statistics.get_fpr(list(c)))
        for c in cases
    }
    assert got == expect


def test_hyperplane_ann_recall_and_uniformity(spark):
    """Hashed pseudo-random hyperplanes on anisotropic embeddings:
    recall@5 vs exact is measured (VERDICT r1 ANN-quality item), the
    bucket histogram must be far more uniform than axis-aligned signs
    (which collapse under a shared dominant direction and prune nothing),
    and multi-probe must lift recall over no-probe."""
    import numpy as np

    from smatchpp_spark.pipeline import similarity as S

    rng = np.random.RandomState(11)
    n, d = 400, 32
    A = rng.standard_normal((d, d)) * 0.3
    A += np.outer(np.ones(d), rng.standard_normal(d))  # dominant direction
    X = rng.standard_normal((n, d)) @ A
    emb = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    queries = emb.filter("vec_id % 10 = 0")

    truth: dict = {}
    for r in S.cosine_topk(emb, queries, k=5).collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    def recall(df):
        got: dict = {}
        for r in df.collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return sum(len(got.get(q, set()) & t) for q, t in truth.items()) / sum(
            len(t) for t in truth.values()
        )

    planes = S.random_planes(d, bits=4, seed=7)
    hp2 = S.bucketed_topk(emb, queries, k=5, planes=planes, probes=2)
    hp0 = S.bucketed_topk(emb, queries, k=5, planes=planes, probes=0)
    r2, r0 = recall(hp2), recall(hp0)
    assert r2 >= 0.6, r2          # measured 0.795 on this seed
    assert r2 > r0                # multi-probe lifts recall

    # probes > bits engages two-bit pair flips: recall keeps rising (or
    # saturates) and never drops vs singles-only
    hp_pair = S.bucketed_topk(emb, queries, k=5, planes=planes, probes=7)
    rp = recall(hp_pair)
    assert rp >= r2, (rp, r2)

    # uniformity: axis signs collapse (dominant direction), hashed planes
    # spread the mass — compare max bucket share at equal bits
    from pyspark.sql import functions as F

    axis_hist = [
        r["n_vectors"]
        for r in emb.select(S.sign_bucket("embedding", 4).alias("b"))
        .groupBy("b").agg(F.count(F.lit(1)).alias("n_vectors")).collect()
    ]
    hp_hist = [
        r["n_vectors"]
        for r in emb.select(
            S.margins_to_bucket(S.plane_margins("embedding", planes), 4).alias("b")
        ).groupBy("b").agg(F.count(F.lit(1)).alias("n_vectors")).collect()
    ]
    assert max(hp_hist) / n < 0.3          # no degenerate bucket
    assert max(hp_hist) < max(axis_hist)   # strictly better than axis here


def test_probe_buckets_pair_flip_sequence(spark):
    """Unit check of the multi-probe perturbation order: base bucket,
    single flips by ascending |margin|, then pair flips by ascending
    combined |margin| — computed by hand for a fixed margin vector."""
    from pyspark.sql import functions as F

    from smatchpp_spark.pipeline import similarity as S

    df = spark.createDataFrame(
        [([0.5, -0.1, 0.3, -0.7],)], "margins array<double>"
    )
    out = df.select(
        S.probe_buckets(F.col("margins"), bits=4, probes=6).alias("b")
    ).first()["b"]
    # base: signs (+,-,+,-) -> bits 0,2 set = 5
    # singles by |m|: flip bit1 (0.1) -> 7, bit2 (0.3) -> 1,
    #                 bit0 (0.5) -> 4, bit3 (0.7) -> 13
    # pairs by |m| sum: (bit1,bit2)=0.4 -> 3, (bit1,bit0)=0.6 -> 6
    assert out == [5, 7, 1, 4, 13, 3, 6], out
    # no duplicates, all within [0, 2^bits)
    assert len(set(out)) == len(out)
    assert all(0 <= b < 16 for b in out)


def test_bpe_token_count_matches_re():
    import re

    assert re.findall(
        text.BPE_TOKEN_PATTERN, "It's 99 red-balloons, isn't it?"
    ) == ["It", "'s", "99", "red", "-", "balloons", ",", "isn", "'t", "it", "?"]


def test_bpe_token_count_spark(spark):
    import re

    docs_rows = [(i, t) for i, t in DOCS]
    df = spark.createDataFrame(docs_rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["ws_tokens"], r["bpe_tokens"])
           for r in text.bpe_token_count(df).collect()}
    for i, t in DOCS:
        assert got[i][0] == len(t.split())
        assert got[i][1] == len(re.findall(text.BPE_TOKEN_PATTERN, t)), i


def test_embedding_neardup_finds_planted_pair(spark):
    rng = np.random.RandomState(21)
    base = rng.randn(60, 16)
    base[7] = base[3] + rng.randn(16) * 0.01  # planted near-duplicate
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(base)],
        "vec_id long, embedding array<double>",
    )
    got = dedup.neardup_pairs_embedding(emb, threshold=0.95, bits=4, probes=2)
    pairs = {(r["id_a"], r["id_b"]): r["cosine_sim"] for r in got.collect()}
    assert (3, 7) in pairs and pairs[(3, 7)] > 0.99
    # soundness: every reported pair really meets the threshold
    v = base / np.linalg.norm(base, axis=1, keepdims=True)
    for (a, b), sim in pairs.items():
        assert v[a] @ v[b] >= 0.95 - 1e-6


def test_ivf_topk_exact_at_full_probe_and_recall(spark):
    """IVF-flat ANN: (a) probing every cell reproduces the exact
    brute-force top-k bit-for-bit (same tie rules); (b) cell assignment
    is a partition of the corpus; (c) nprobe=2 of 8 cells keeps a sane
    recall@5 on isotropic vectors while scoring only a fraction of the
    corpus."""
    rng = np.random.RandomState(11)
    vecs = rng.randn(200, 16).astype(np.float32)
    emb = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    queries = emb.filter(F.col("vec_id") % 20 == 0)
    cents = similarity.unit_centroids(emb, n_cells=8)
    assert len(cents) == 8
    for c in cents:
        assert np.isclose(np.linalg.norm(c), 1.0)

    exact = similarity.cosine_topk(emb, queries, k=5).collect()
    full = similarity.ivf_topk(emb, queries, cents, k=5, nprobe=8).collect()
    key = lambda r: (r["query_id"], r["neighbor_id"], r["cosine_sim"])
    assert sorted(map(key, exact)) == sorted(map(key, full))

    # partition property: every corpus row lands in exactly one cell
    cells = emb.select(
        "vec_id", similarity.cell_assign("embedding", cents)
    ).collect()
    assert len(cells) == 200
    assert all(0 <= r["cell"] < 8 for r in cells)

    approx = similarity.ivf_topk(emb, queries, cents, k=5, nprobe=2).collect()
    truth = {}
    for r in exact:
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(
        1 for r in approx if r["neighbor_id"] in truth.get(r["query_id"], set())
    )
    recall = hits / sum(len(v) for v in truth.values())
    assert recall >= 0.3, recall  # 2/8 cells probed; exact path is the fallback


def test_ivf_probe_cells_ordering(spark):
    """probe_cells must rank cells by similarity desc with ties to the
    lower cell id — consistent with cell_assign's argmax (the query's
    own cell is always probed first)."""
    rng = np.random.RandomState(5)
    vecs = rng.randn(40, 8).astype(np.float32)
    emb = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    cents = similarity.unit_centroids(emb, n_cells=4)
    rows = emb.select(
        "vec_id",
        similarity.cell_assign("embedding", cents),
        similarity.probe_cells("embedding", cents, 4).alias("probes"),
    ).collect()
    c64 = np.array(cents)
    for r in rows:
        assert r["probes"][0] == r["cell"]
        assert sorted(r["probes"]) == [0, 1, 2, 3]
        sims = c64 @ np.array(vecs[r["vec_id"]], dtype=np.float64)
        order = sorted(range(4), key=lambda i: (-sims[i], i))
        assert list(r["probes"]) == order


def test_ivf_empty_codebook_raises(spark):
    with pytest.raises(ValueError):
        similarity.cell_assign("embedding", [])
    with pytest.raises(ValueError):
        similarity.probe_cells("embedding", [], 2)


def test_ivf_kmeans_codebook_beats_seed_codebook_on_clustered_data(spark):
    """Spherical k-means codebook (kmeans_centroids) vs the lowest-id
    seed codebook (unit_centroids) on CLUSTERED vectors: at equal
    nprobe, the trained codebook's recall@5 must be strictly higher —
    the whole point of training is that cells align with the data's
    cluster structure.  Also: unit centroids, determinism of the
    sample/init, and exact parity at nprobe = n_cells."""
    rng = np.random.RandomState(23)
    n_clusters, per, dim = 8, 40, 16
    centers = rng.randn(n_clusters, dim) * 4.0
    vecs = np.vstack([
        centers[c] + rng.randn(per, dim) * 0.3 for c in range(n_clusters)
    ]).astype(np.float32)
    emb = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    queries = emb.filter(F.col("vec_id") % 16 == 0)

    km = similarity.kmeans_centroids(emb, n_cells=8, n_iter=5, seed=7)
    seedbook = similarity.unit_centroids(emb, n_cells=8)
    assert len(km) == 8
    for c in km:
        assert np.isclose(np.linalg.norm(c), 1.0)

    exact = similarity.cosine_topk(emb, queries, k=5).collect()
    truth = {}
    for r in exact:
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    total = sum(len(v) for v in truth.values())

    def recall(cents, nprobe):
        got = similarity.ivf_topk(emb, queries, cents, k=5, nprobe=nprobe)
        hits = sum(
            1
            for r in got.collect()
            if r["neighbor_id"] in truth.get(r["query_id"], set())
        )
        return hits / total

    r_km, r_seed = recall(km, 1), recall(seedbook, 1)
    assert r_km > r_seed, (r_km, r_seed)
    assert r_km >= 0.8, r_km  # cells should align with true clusters

    # full-probe with the trained codebook still reproduces exact top-k
    full = similarity.ivf_topk(emb, queries, km, k=5, nprobe=8).collect()
    key = lambda r: (r["query_id"], r["neighbor_id"], r["cosine_sim"])
    assert sorted(map(key, full)) == sorted(map(key, exact))

    # sample + init determinism: same seed → same init rows → (FP-order
    # effects aside) the same codebook cells; assert assignments agree
    km2 = similarity.kmeans_centroids(emb, n_cells=8, n_iter=5, seed=7)
    a1 = emb.select("vec_id", similarity.cell_assign("embedding", km)).collect()
    a2 = emb.select("vec_id", similarity.cell_assign("embedding", km2)).collect()
    assert sorted(map(tuple, a1)) == sorted(map(tuple, a2))


def test_ivf_kmeans_sample_fraction_and_empty(spark):
    """sample_fraction trains on the deterministic hash-sample only;
    an empty corpus raises the codebook error."""
    rng = np.random.RandomState(3)
    vecs = rng.randn(120, 8).astype(np.float32)
    emb = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    km = similarity.kmeans_centroids(
        emb, n_cells=4, n_iter=3, sample_fraction=0.5, seed=11
    )
    assert len(km) == 4
    cells = emb.select(similarity.cell_assign("embedding", km)).collect()
    assert {r["cell"] for r in cells} <= {0, 1, 2, 3}

    empty = emb.filter(F.col("vec_id") < 0)
    with pytest.raises(ValueError, match="empty codebook"):
        similarity.kmeans_centroids(empty, n_cells=4)


def test_substring_dedup_planted_spans(spark):
    """A 12-token passage planted inside two otherwise-different docs is
    recovered with exact token offsets; unrelated docs emit nothing and
    sub-min_span overlaps are dropped."""
    from smatchpp_spark.pipeline.dedup import substring_dedup_spans

    shared = ("alpha bravo charlie delta echo foxtrot golf hotel india "
              "juliet kilo lima")
    docs = spark.createDataFrame(
        [
            (1, "unique one text here " + shared + " trailing tail words"),
            (2, "other start " + shared + " different ending"),
            (3, "completely unrelated text with nothing shared at all here"),
            # shares only a 6-token window with doc 1's tail: below min_span
            (4, "also mentions trailing tail words briefly nothing more"),
        ],
        "doc_id long, text string",
    )
    out = substring_dedup_spans(
        docs, ngram=5, min_span=10, portable=True
    ).collect()
    got = {(r.doc_id, r.span_start, r.n_tokens) for r in out}
    assert got == {(1, 4, 12), (2, 2, 12)}, got


def test_substring_dedup_matches_python_replay(spark):
    """Exact differential vs a pure-python inverted-index replay on a
    randomized corpus with repeated sentences."""
    import random as _random

    from smatchpp_spark.pipeline.dedup import substring_dedup_spans

    rng = _random.Random(31)
    vocab = [f"w{i}" for i in range(60)]
    sentences = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(6, 14)))
        for _ in range(10)
    ]
    rows = []
    for d in range(30):
        parts = []
        for _ in range(rng.randint(2, 5)):
            if rng.random() < 0.5:
                parts.append(rng.choice(sentences))
            else:
                parts.append(
                    " ".join(rng.choice(vocab) for _ in range(rng.randint(4, 10)))
                )
        rows.append((d, " ".join(parts)))
    k, min_span, min_count = 4, 6, 2

    # python replay
    grams = {}
    toks_by_doc = {}
    for d, text in rows:
        toks = text.lower().split()
        toks_by_doc[d] = toks
        for i in range(len(toks) - k + 1):
            grams.setdefault(" ".join(toks[i:i + k]), set()).add(d)
    dup = {g for g, ds in grams.items() if len(ds) >= min_count}
    want = set()
    for d, _ in rows:
        toks = toks_by_doc[d]
        pos = [
            i
            for i in range(len(toks) - k + 1)
            if " ".join(toks[i:i + k]) in dup
        ]
        run_start = None
        prev = None
        for p in pos + [None]:
            if run_start is not None and (p is None or p != prev + 1):
                n = prev - run_start + k
                if n >= min_span:
                    want.add((d, run_start, n))
                run_start = None
            if p is not None and run_start is None:
                run_start = p
            prev = p

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = substring_dedup_spans(
        docs, ngram=k, min_span=min_span, min_count=min_count
    ).collect()
    got = {(r.doc_id, r.span_start, r.n_tokens) for r in out}
    assert got == want


def test_decontaminate_planted_overlap(spark):
    """A training doc embedding an eval passage is flagged with the
    exact hit count; clean docs are absent; min_hits filters."""
    from smatchpp_spark.pipeline.dedup import decontaminate

    eval_passage = "the quick brown fox jumps over the lazy dog tonight"
    evals = spark.createDataFrame(
        [(100, eval_passage)], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [
            (1, "intro words here " + eval_passage + " closing remark"),
            (2, "totally unrelated content about spark shuffles and joins"),
            # shares only a 5-token window -> 0 grams at ngram=6
            (3, "over the lazy dog tonight but nothing else matches here"),
        ],
        "doc_id long, text string",
    )
    out = decontaminate(docs, evals, ngram=6, portable=True).collect()
    got = {r.doc_id: (r.n_hits, r.n_tokens if hasattr(r, "n_tokens") else r.n_grams) for r in out}
    # doc 1: eval passage has 10 tokens -> 5 grams of 6; all 5 appear
    # contiguously inside doc 1; doc 1 has 15 tokens -> 10 grams
    assert got == {1: (5, 10)}, got

    # python replay on the hit count
    def grams(text, k=6):
        t = text.lower().split()
        return [" ".join(t[i:i + k]) for i in range(len(t) - k + 1)]

    ev = set(grams(eval_passage))
    want_hits = sum(1 for g in grams("intro words here " + eval_passage + " closing remark") if g in ev)
    assert want_hits == 5

    # min_hits raises the bar
    assert decontaminate(docs, evals, ngram=6, min_hits=6, portable=True).count() == 0


def test_embedding_dedup_clusters_planted(spark):
    """SemDeDup composition: planted semantic-duplicate groups come out
    as clusters with the lowest vector id canonical; vectors with no
    near-duplicate are absent; transitive chains merge into one
    cluster even when the endpoints' pairwise cosine is below the
    threshold (CC semantics, matching duplicate_clusters)."""
    rng = np.random.RandomState(33)
    base = rng.randn(40, 16)
    # planted group A: 10, 14, 22 are jitters of the same direction
    base[14] = base[10] + rng.randn(16) * 0.01
    base[22] = base[10] + rng.randn(16) * 0.01
    # planted pair B
    base[31] = base[5] + rng.randn(16) * 0.01
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(base)],
        "vec_id long, embedding array<double>",
    )
    got = dedup.embedding_dedup_clusters(
        emb, threshold=0.95, bits=4, probes=2
    )
    rows = {r["vec_id"]: (r["cluster_id"], r["is_canonical"])
            for r in got.collect()}
    assert rows[10] == (10, True)
    assert rows[14] == (10, False)
    assert rows[22] == (10, False)
    assert rows[5] == (5, True)
    assert rows[31] == (5, False)
    # soundness: every clustered vector has >= 1 true near-duplicate in
    # its cluster (cosine >= threshold) — CC may chain below-threshold
    # endpoints, but each member joined via at least one real edge
    v = base / np.linalg.norm(base, axis=1, keepdims=True)
    from collections import defaultdict

    members = defaultdict(list)
    for vid, (cid, _) in rows.items():
        members[cid].append(vid)
    for cid, vids in members.items():
        for a in vids:
            assert any(
                v[a] @ v[b] >= 0.95 - 1e-6 for b in vids if b != a
            ), (cid, a)


def _rep_replay(t: str) -> dict:
    """Pure-python replay of repetition_features for one doc."""
    from collections import Counter

    lines = [ln.strip(" ") for ln in t.split("\n")]
    lines = [ln for ln in lines if ln]
    lc = Counter(lines)
    n_lines = len(lines)
    dup_lines = sum(c for c in lc.values() if c > 1)
    line_chars = sum(len(ln) for ln in lines)
    dup_line_chars = sum(len(ln) * c for ln, c in lc.items() if c > 1)
    # engine tokenization: trim strips SPACES only, split('\s+') keeps
    # boundary empties — a trailing newline yields one '' token (the
    # DuckDB oracle shares the quirk, so cross-engine parity holds)
    import re

    tt = t.strip(" ")
    toks = [] if not tt else [w.lower() for w in re.split(r"\s+", tt)]

    def gc(n):
        return Counter(
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        )

    g2, g3 = gc(2), gc(3)
    g2_tot, g3_tot = sum(g2.values()), sum(g3.values())

    def frac(num, den):
        return round(num / den, 6) if den else 0.0

    return {
        "n_lines": n_lines,
        "dup_line_frac": frac(dup_lines, n_lines),
        "dup_line_char_frac": frac(dup_line_chars, line_chars),
        "top_2gram_frac": frac(max(g2.values()) if g2 else 0, g2_tot),
        "dup_3gram_frac": frac(
            sum(c for c in g3.values() if c > 1), g3_tot
        ),
    }


def test_repetition_features_vs_replay(spark):
    rep_docs = [
        (0, "alpha beta gamma\nalpha beta gamma\ndelta\n\n  \n"),
        (1, "spam spam spam spam spam"),
        (2, "one two three four five six seven"),
        (3, ""),
        (4, "   \n \n"),
        (5, "x"),
        (6, "a b a b a b c\nA B a b"),
        (7, "Line one here\nline two here\nLine one here\nLine one here"),
    ]
    df = spark.createDataFrame(rep_docs, "doc_id long, text string")
    rows = {r["doc_id"]: r.asDict() for r in text.repetition_features(df).collect()}
    assert set(rows) == {d for d, _ in rep_docs}
    for doc_id, t in rep_docs:
        exp = _rep_replay(t)
        got = rows[doc_id]
        for k, v in exp.items():
            assert got[k] == pytest.approx(v, abs=1e-9), (doc_id, k, got, exp)
    # planted signal sanity: the all-spam doc is maximally repetitive
    assert rows[1]["top_2gram_frac"] == 1.0
    assert rows[1]["dup_3gram_frac"] == 1.0
    assert rows[0]["dup_line_frac"] == pytest.approx(2 / 3, abs=1e-6)
    assert rows[3]["n_lines"] == 0 and rows[3]["dup_line_frac"] == 0.0


def test_line_dedup_removes_corpus_boilerplate(spark):
    docs = [
        (0, "COMMON HEADER\nunique alpha\ncommon footer"),
        (1, "common header\nunique beta\nCOMMON FOOTER"),
        (2, "Common Header\nunique gamma\n\ncommon footer"),
        (3, ""),
        (4, "unique delta only"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.line_dedup(df, min_count=3).collect()}
    # header and footer each occur 3x case-insensitively -> boilerplate
    assert out[0]["text_clean"] == "unique alpha"
    assert out[1]["text_clean"] == "unique beta"
    assert out[2]["text_clean"] == "unique gamma\n"  # empty line survives
    assert out[2]["n_lines"] == 4 and out[2]["n_dropped"] == 2
    # empty doc: one empty line, nothing dropped
    assert out[3]["n_lines"] == 1 and out[3]["n_dropped"] == 0
    assert out[3]["text_clean"] == ""
    assert out[4]["text_clean"] == "unique delta only"
    # below-threshold repeats stay
    out2 = {
        r["doc_id"]: r for r in text.line_dedup(df, min_count=4).collect()
    }
    assert out2[0]["text_clean"] == docs[0][1]


def test_vocabulary_topk_and_coverage(spark):
    vdocs = [
        (0, "apple banana apple cherry"),
        (1, "apple banana banana"),
        (2, "apple Cherry"),
    ]
    df = spark.createDataFrame(vdocs, "doc_id long, text string")
    rows = text.vocabulary(df, k=3).collect()
    # apple:4 banana:3 cherry:2 (case-folded); total tokens 9
    assert [(r["rank"], r["word"], r["cnt"]) for r in rows] == [
        (1, "apple", 4), (2, "banana", 3), (3, "cherry", 2),
    ]
    assert rows[0]["cum_share"] == pytest.approx(round(4 / 9, 6), abs=0)
    assert rows[2]["cum_share"] == pytest.approx(1.0, abs=0)
    # deterministic tie-break: equal counts order alphabetically
    df2 = spark.createDataFrame(
        [(0, "zz aa zz aa")], "doc_id long, text string"
    )
    r2 = text.vocabulary(df2, k=2).collect()
    assert [r["word"] for r in r2] == ["aa", "zz"]


def test_gopher_filter_rules(spark):
    from smatchpp_spark.pipeline import text as T

    long_good = "the cat sat with the dog and that was to be of note " * 6
    rows = [
        (0, long_good),                                   # passes everything
        (1, "short doc only"),                            # fails word count
        (2, "### " * 60 + "the be to of and have with that"),  # symbol-heavy
        (3, "\n".join("- bullet line the be to of and" for _ in range(10))
            + " " + "filler " * 50),                      # bullet lines
        (4, ("99 11 22 33 44 55 66 77 " * 8)
            + "the be to of and that have with"),         # numbery: alpha frac low
        (5, ""),                                          # empty
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in T.gopher_filter(docs, min_words=20).collect()}

    assert got[0]["keep"] is True
    assert got[1]["fail_word_count"] and not got[1]["keep"]
    assert got[2]["fail_symbol_ratio"] and not got[2]["keep"]
    assert got[3]["fail_bullet_ellipsis"] and not got[3]["keep"]
    assert got[4]["fail_alpha_words"] and not got[4]["keep"]
    assert got[5]["fail_word_count"] and not got[5]["keep"]
    # python replay of the word-level rules on the passing doc
    toks = long_good.split()
    assert got[0]["n_tokens"] == len(toks)
    assert not got[0]["fail_mean_word_len"]
    mean = sum(len(w) for w in toks) / len(toks)
    assert 3.0 <= mean <= 10.0


def _py_simhash(t: str, bits: int) -> int:
    code = 0
    for i in range(bits):
        vote = sum(
            1 if (oracle_hash64(w) >> i) % 2 == 1 else -1 for w in t.split()
        )
        if vote > 0:
            code |= 1 << i
    return code


def test_simhash_neardup_pairs_vs_python(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [(0, base), (1, base), (2, base.replace("dog", "cat")),
            (3, "an entirely different document about spark shuffle plans and joins"),
            (4, base.replace("quick", "slow").replace("today", "tomorrow")),
            (5, "yet another unrelated text body mentioning parquet files and arrow")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bits, n_blocks, max_h = 16, 4, 3
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup.neardup_pairs_simhash(
            docs, bits=bits, n_blocks=n_blocks, max_hamming=max_h,
            portable=True,
        ).collect()
    }
    codes = {i: _py_simhash(t, bits) for i, t in rows}
    # brute-force expectation: block-match recall is EXACT at radius
    # n_blocks-1, so every pair within max_h must be found
    want = {}
    for a in codes:
        for b in codes:
            if a < b:
                h = bin(codes[a] ^ codes[b]).count("1")
                if h <= max_h:
                    want[(a, b)] = h
    assert got == want
    assert (0, 1) in got and got[(0, 1)] == 0  # exact dup pair found


def test_simhash_dedup_clusters_keep_lowest(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [(10, base), (11, base), (12, base.replace("dog", "cat")),
            (13, "an entirely different document about spark shuffle plans and joins")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["cluster_id"], r["is_canonical"])
        for r in dedup.simhash_dedup_clusters(
            docs, bits=16, n_blocks=4, max_hamming=3, portable=True
        ).collect()
    }
    # python replay: cluster = CC over hamming<=3 pairs
    codes = {i: _py_simhash(t, 16) for i, t in rows}
    import itertools
    parent = {i: i for i in codes}
    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x
    for a, b in itertools.combinations(sorted(codes), 2):
        if bin(codes[a] ^ codes[b]).count("1") <= 3:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    want = {}
    for i in codes:
        root = find(i)
        members = [j for j in codes if find(j) == root]
        if len(members) > 1:
            want[i] = (min(members), i == min(members))
    assert out == want
    assert 13 not in out  # singleton absent


def test_simhash_neardup_radius_guard(spark):
    docs = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="recall radius"):
        dedup.neardup_pairs_simhash(docs, n_blocks=4, max_hamming=4)


def test_c4_filter_rules(spark):
    good = ("The quick brown fox jumps over the lazy dog today.\n"
            "Every sentence here has plenty of words and ends well!\n"
            "A third complete sentence keeps this page above the bar?\n"
            "short line.\n"
            "no terminal punctuation on this long enough line here\n"
            "Please enable javascript to view this page properly.\n")
    rows = [
        (0, good),
        (1, "Lorem ipsum dolor sit amet and more valid sentences follow here.\n"
            "Another full sentence with enough words to be kept today.\n"
            "And a third one to clear the minimum sentence count bar."),
        (2, good + "function f() { return 1; }\n"),
        (3, "Only one good sentence lives on this page right now."),
        (4, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in text.c4_filter(docs).collect()}

    assert got[0]["keep"] is True
    # short line, no-punct line, javascript line all dropped
    assert got[0]["n_lines"] == 6 and got[0]["n_kept_lines"] == 3
    assert got[0]["clean_text"].count("\n") == 2
    assert "javascript" not in got[0]["clean_text"]
    assert got[1]["fail_lorem_ipsum"] and not got[1]["keep"]
    assert got[2]["fail_curly_brace"] and not got[2]["keep"]
    assert got[2]["clean_text"] == ""
    assert got[3]["fail_min_sentences"] and not got[3]["keep"]
    assert got[4]["n_lines"] == 0 and not got[4]["keep"]

    # python replay of the line-retention rule on doc 0
    kept = []
    for l in (l.strip(" ") for l in good.split("\n")):
        if not l:
            continue
        words = [w for w in l.split(" ") if w]
        low = l.lower()
        if (l.endswith((".", "!", "?", '"')) and len(words) >= 5
                and "javascript" not in low and "privacy policy" not in low
                and "terms of use" not in low and "cookie" not in low):
            kept.append(l)
    assert got[0]["clean_text"] == "\n".join(kept)


def test_count_min_sketch_vs_python(spark):
    from smatchpp_spark.pipeline.sketches import cms_estimate, count_min_sketch

    depth, width = 4, 64
    rng = __import__("random").Random(17)
    stream = [f"k{rng.randrange(30)}" for _ in range(400)]
    items = spark.createDataFrame([(s,) for s in stream], "key string")
    sk = count_min_sketch(items, "key", depth, width, portable=True)

    # python replay of the exact grid
    import collections

    grid = collections.Counter()
    for s in stream:
        for d in range(depth):
            grid[(d, oracle_hash64(f"{s}#cms{d}") % width)] += 1
    got_grid = {(r["row"], r["col"]): r["cnt"] for r in sk.collect()}
    assert got_grid == dict(grid)

    # estimates: never undercount; min-over-rows replay matches
    truth = collections.Counter(stream)
    keys = spark.createDataFrame(
        [(k,) for k in sorted(truth) + ["absent1", "absent2"]], "key string"
    )
    est = {
        r["key"]: r["est"]
        for r in cms_estimate(sk, keys, "key", depth, width, portable=True).collect()
    }
    for k in truth:
        want = min(
            grid[(d, oracle_hash64(f"{k}#cms{d}") % width)] for d in range(depth)
        )
        assert est[k] == want
        assert est[k] >= truth[k]
    for k in ("absent1", "absent2"):
        assert est[k] >= 0  # may collide, never negative

    # total count preserved per row
    n = len(stream)
    rowsums = collections.Counter()
    for (d, _), c in grid.items():
        rowsums[d] += c
    assert all(v == n for v in rowsums.values())


def test_count_min_sketch_merge_and_weights(spark):
    from smatchpp_spark.pipeline.sketches import cms_estimate, count_min_sketch

    depth, width = 3, 32
    a = spark.createDataFrame([("x", 5), ("y", 2)], "key string, c int")
    b = spark.createDataFrame([("x", 1), ("z", 7)], "key string, c int")
    ska = count_min_sketch(a, "key", depth, width, count_col="c", portable=True)
    skb = count_min_sketch(b, "key", depth, width, count_col="c", portable=True)
    merged = (
        ska.unionByName(skb)
        .groupBy("row", "col")
        .agg(F.sum("cnt").alias("cnt"))
    )
    whole = count_min_sketch(
        a.unionByName(b), "key", depth, width, count_col="c", portable=True
    )
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, whole.collect()))
    keys = spark.createDataFrame([("x",), ("y",), ("z",)], "key string")
    est = {
        r["key"]: r["est"]
        for r in cms_estimate(merged, keys, "key", depth, width, portable=True).collect()
    }
    assert est["x"] >= 6 and est["y"] >= 2 and est["z"] >= 7

    import pytest as _pt

    with _pt.raises(ValueError, match="positive"):
        count_min_sketch(a, "key", depth=0)


def test_bloom_filter_membership(spark):
    from smatchpp_spark.pipeline.sketches import bloom_build, bloom_contains

    inserted = [f"key{i}" for i in range(200)]
    items = spark.createDataFrame([(k,) for k in inserted], "key string")
    bf = bloom_build(items, "key", n_bits=1 << 14, n_hashes=4, portable=True)

    # python replay of the set-bits table
    want_bits = set()
    for k in inserted:
        for i in range(4):
            want_bits.add(oracle_hash64(f"{k}#bf{i}") % (1 << 14))
    assert {r["bit"] for r in bf.collect()} == want_bits

    probes = spark.createDataFrame(
        [(k,) for k in inserted[:50] + [f"absent{i}" for i in range(300)]],
        "key string",
    )
    got = {
        r["key"]: r["maybe_present"]
        for r in bloom_contains(
            bf, probes, "key", n_bits=1 << 14, n_hashes=4, portable=True
        ).collect()
    }
    # NO false negatives
    assert all(got[k] for k in inserted[:50])
    # false positives within a loose bound: k=4, n=200, m=16384 ->
    # fpr ~ (1-exp(-800/16384))^4 ~ 5e-6; allow a handful anyway
    fp = sum(got[f"absent{i}"] for i in range(300))
    assert fp <= 3

    import pytest as _pt
    with _pt.raises(ValueError, match="positive"):
        bloom_build(items, "key", n_bits=0)


def test_bloom_merge_law(spark):
    from smatchpp_spark.pipeline.sketches import bloom_build

    a = spark.createDataFrame([("x",), ("y",)], "key string")
    b = spark.createDataFrame([("y",), ("z",)], "key string")
    merged = (
        bloom_build(a, "key", 1 << 10, 3, portable=True)
        .unionByName(bloom_build(b, "key", 1 << 10, 3, portable=True))
        .distinct()
    )
    whole = bloom_build(a.unionByName(b), "key", 1 << 10, 3, portable=True)
    assert sorted(r["bit"] for r in merged.collect()) == sorted(
        r["bit"] for r in whole.collect()
    )


def test_hll_distinct_accuracy_and_replay(spark):
    from smatchpp_spark.pipeline.sketches import hll_distinct

    n = 5000
    # 3 duplicate copies of each key: distinct is what must be counted
    items = spark.createDataFrame(
        [(f"u{i % n}",) for i in range(3 * n)], "key string"
    )
    row = hll_distinct(items, "key", p=6, portable=True).collect()[0]
    assert row["m"] == 64
    # 1.04/sqrt(64) = 13% standard error; allow 3 sigma
    assert abs(row["estimate"] - n) / n < 0.4

    # exact register replay (portable hash, p=6, 60-bit)
    import math as _m

    regs = {}
    for i in range(n):
        h = oracle_hash64(f"u{i}")
        j = h % 64
        w = h >> 6
        rho = (60 - 6 + 1) if w == 0 else (60 - 6) - int(_m.floor(_m.log2(w)))
        regs[j] = max(regs.get(j, 0), rho)
    zeros = 64 - len(regs)
    z = sum(2.0 ** -v for v in regs.values()) + zeros
    from smatchpp_spark.operators.hyperball import _alpha

    raw = _alpha(64) * 64 * 64 / z
    est = 64 * _m.log(64 / zeros) if (raw <= 2.5 * 64 and zeros > 0) else raw
    assert row["raw_estimate"] == pytest.approx(round(raw, 6), abs=1e-6)
    assert row["estimate"] == pytest.approx(round(est, 6), abs=1e-6)

    # small range: linear counting branch
    small = spark.createDataFrame([(f"s{i}",) for i in range(10)], "key string")
    r2 = hll_distinct(small, "key", p=6, portable=True).collect()[0]
    assert abs(r2["estimate"] - 10) < 4


# ---- corpus-level source similarity ----


def test_source_similarity_vs_python(spark):
    """union-MinHash agreement rate vs the python replay; identical
    groups hit 1.0, disjoint-vocabulary groups hit ~0."""
    from smatchpp_spark.pipeline.dedup import source_similarity

    rows = [
        ("s1", "the quick brown fox jumps over the lazy dog tonight"),
        ("s1", "pack my box with five dozen liquor jugs right now"),
        ("s2", "the quick brown fox jumps over the lazy dog tonight"),  # == s1 doc
        ("s2", "pack my box with five dozen liquor jugs right now"),
        ("s3", "completely different words about distributed shuffle joins"),
    ]
    docs = spark.createDataFrame(rows, "source string, text string")
    H = 16
    got = {
        (r["src_a"], r["src_b"]): r["est_jaccard"]
        for r in source_similarity(
            docs, num_hashes=H, portable=True
        ).collect()
    }
    # python replay
    def sh(text):
        toks = [w.lower() for w in text.strip().split()]
        if len(toks) < 3:
            return {" ".join(toks)}
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}

    groups = {}
    for s, t in rows:
        groups.setdefault(s, set()).update(sh(t))
    sig = {
        g: [
            min(oracle_hash64(f"{x}#{i}") for x in xs)
            for i in range(H)
        ]
        for g, xs in groups.items()
    }
    for (ga, gb), est in got.items():
        want = sum(x == y for x, y in zip(sig[ga], sig[gb])) / H
        assert est == pytest.approx(want, abs=1e-12), (ga, gb)
    assert got[("s1", "s2")] == 1.0  # identical shingle sets
    assert got[("s1", "s3")] <= 0.25  # disjoint vocabulary

    with pytest.raises(ValueError, match="num_hashes"):
        source_similarity(docs, num_hashes=0)

