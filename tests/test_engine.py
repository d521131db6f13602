"""End-to-end engine facade tests: corpus → parse → standardize → align →
aggregate.  ``test_score_corpus_matches_reference`` cross-checks against
the reference driven the same way and skips where it is not importable;
every other test runs on the engine alone."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from smatchpp_spark.corpus import generate_penman
from smatchpp_spark.engine import EngineConfig, SmatchppSpark
from smatchpp_spark.operators.align import AlignConfig


def _corpus_pairs(n: int):
    pairs = []
    for i in range(n):
        rng = random.Random(f"engine:{i}")
        pairs.append(
            (
                generate_penman(rng, max_nodes=5, max_depth=3),
                generate_penman(rng, max_nodes=5, max_depth=3),
            )
        )
    return pairs


def ref_micro_macro(pairs):
    from smatchpp import align as ref_align
    from smatchpp import data_helpers, preprocess, score, solvers
    from smatchpp.formalism.generic import tools as generic_tools

    reader = data_helpers.PenmanReader()
    std = generic_tools.GenericStandardizer()
    prep = preprocess.BasicGraphPairPreparer()
    aligner = ref_align.GraphAligner(
        score.IDTripleMatcher(), solvers.HillClimber(rand_inits=8)
    )
    scorer = score.TripleScorer()
    stats = []
    for s1, s2 in pairs:
        g1 = std.standardize(reader.string2graph(s1))
        g2 = std.standardize(reader.string2graph(s2))
        random.seed(0)
        t1, t2, v1, v2 = prep.prepare_get_vars(list(g1), list(g2))
        am, vi, _ = aligner.align(t1, t2, v1, v2)
        stats.append(list(scorer.score(list(t1), list(t2), am, vi)))
    sums = [sum(col) for col in zip(*stats)]
    micro_p = sums[0] / sums[2]
    micro_r = sums[1] / sums[3]
    micro_f1 = 2 * micro_p * micro_r / (micro_p + micro_r)
    return (
        round(100 * micro_f1, 2),
        round(100 * micro_p, 2),
        round(100 * micro_r, 2),
        stats,
    )


def test_score_corpus_matches_reference(spark):
    pytest.importorskip("smatchpp.data_helpers", reason="reference not importable")
    pairs = _corpus_pairs(12)
    ca = spark.createDataFrame(
        [(i, a) for i, (a, _) in enumerate(pairs)], "pair_id long, content string"
    )
    cb = spark.createDataFrame(
        [(i, b) for i, (_, b) in enumerate(pairs)], "pair_id long, content string"
    )
    engine = SmatchppSpark(
        EngineConfig(
            standardizer="generic",
            align=AlignConfig(solver="exhaustive", exhaustive_max_v=6),
        )
    )
    results = engine.score_corpus(ca, cb)
    micro = results["micro"].collect()[0]
    ref_f1, ref_p, ref_r, ref_stats = ref_micro_macro(pairs)
    assert (micro["f1"], micro["p"], micro["r"]) == (ref_f1, ref_p, ref_r)

    got_pairs = {
        int(r["pair_id"]): [r["matchsum_x"], r["matchsum_y"], r["xlen"], r["ylen"]]
        for r in results["pairs"].collect()
    }
    for i, expect in enumerate(ref_stats):
        assert got_pairs[i] == expect, i


def test_identical_corpora_score_100(spark):
    pairs = _corpus_pairs(6)
    ca = spark.createDataFrame(
        [(i, a) for i, (a, _) in enumerate(pairs)], "pair_id long, content string"
    )
    engine = SmatchppSpark(
        EngineConfig(standardizer="generic", align=AlignConfig(solver="exhaustive"))
    )
    results = engine.score_corpus(ca, ca)
    micro = results["micro"].collect()[0]
    assert (micro["f1"], micro["p"], micro["r"]) == (100.0, 100.0, 100.0)


def test_duplicate_content_across_pairs_does_not_collapse(spark):
    g = "(m / man :arg0 (c / cat))"
    other = "(d / dog)"
    ca = spark.createDataFrame(
        [(0, g), (1, g)], "pair_id long, content string"
    )
    cb = spark.createDataFrame(
        [(0, g), (1, other)], "pair_id long, content string"
    )
    engine = SmatchppSpark(EngineConfig(standardizer="none"))
    stats = engine.score_corpus(ca, cb)["pairs"].collect()
    assert len(stats) == 2
    by_pair = {int(r["pair_id"]): r for r in stats}
    assert by_pair[0]["matchsum_x"] == by_pair[0]["xlen"]  # perfect match
    assert by_pair[1]["matchsum_x"] < by_pair[1]["xlen"]


def test_tsv_input_scores_like_penman(spark):
    """The tsv reader runs the same fused parse + standardize stage: the
    same graphs written as TSV blocks give the same per-pair stats (on
    graphs whose labels hold no whitespace, which TSV cannot carry)."""
    from smatchpp_spark.functions.graphkit import parse_penman, triples_to_tsv

    def tsv_safe(g):
        return not any(ch.isspace() for t in parse_penman(g) for x in t for ch in x)

    pairs = [p for p in _corpus_pairs(12) if tsv_safe(p[0]) and tsv_safe(p[1])]
    assert len(pairs) >= 4

    def corpora(fmt):
        as_fmt = (lambda g: g) if fmt == "penman" else (
            lambda g: triples_to_tsv(parse_penman(g)))
        return [
            spark.createDataFrame(
                [(i, as_fmt(p[side])) for i, p in enumerate(pairs)],
                "pair_id long, content string",
            )
            for side in (0, 1)
        ]

    def stats(fmt):
        engine = SmatchppSpark(EngineConfig(standardizer="amr", input_format=fmt))
        return sorted(tuple(r) for r in engine.score_corpus(*corpora(fmt))["pairs"].collect())

    assert stats("tsv") == stats("penman")


def test_bootstrap_ci_bounds(spark):
    pairs = _corpus_pairs(8)
    ca = spark.createDataFrame(
        [(i, a) for i, (a, _) in enumerate(pairs)], "pair_id long, content string"
    )
    cb = spark.createDataFrame(
        [(i, b) for i, (_, b) in enumerate(pairs)], "pair_id long, content string"
    )
    engine = SmatchppSpark(
        EngineConfig(standardizer="generic", bootstrap=True, n_resamples=50)
    )
    results = engine.score_corpus(ca, cb)
    ci = results["micro_ci"].collect()[0]
    micro = results["micro"].collect()[0]
    assert 0.0 <= ci["lo"] <= ci["hi"] <= 100.0
    assert ci["lo"] <= micro["f1"] + 1e-9
    assert micro["f1"] <= ci["hi"] + 1e-9


def test_bootstrap_deterministic_across_partitionings(spark):
    from pyspark.sql import functions as F

    from smatchpp_spark.functions.scores import bootstrap_micro

    rows = [
        (i, float(i % 4), float(i % 4), float(i % 6 + 1), float(i % 7 + 1))
        for i in range(40)
    ]
    schema = (
        "pair_id long, matchsum_x double, matchsum_y double, "
        "xlen double, ylen double"
    )
    stats = spark.createDataFrame(rows, schema)
    variants = [
        stats.repartition(1),
        stats.repartition(13, "ylen"),
        stats.orderBy(F.desc("pair_id")).repartition(5),
    ]
    for portable in (False, True):
        cis = [
            bootstrap_micro(v, n_resamples=50, portable=portable).collect()[0]
            for v in variants
        ]
        assert cis[0]["lo"] == cis[1]["lo"] == cis[2]["lo"]
        assert cis[0]["hi"] == cis[1]["hi"] == cis[2]["hi"]
        assert 0.0 <= cis[0]["lo"] <= cis[0]["hi"] <= 100.0


def test_engine_resolves_its_components(spark):
    """The standardizer and the reader are engine options: unknown names
    raise at construction, ``none`` passes the parse through, and every
    known reader (``goodmami`` included) is an ``input_format``."""
    from smatchpp_spark.sources.penman import parse_edges

    with pytest.raises(ValueError, match="standardizer"):
        SmatchppSpark(EngineConfig(standardizer="ucca"))
    with pytest.raises(ValueError, match="input_format"):
        SmatchppSpark(EngineConfig(input_format="xml"))
    for fmt in ("penman", "tsv", "goodmami"):
        SmatchppSpark(EngineConfig(input_format=fmt))

    corpus = spark.createDataFrame(
        [("0", "(a / ant :mod (b / big))")], "gid string, content string"
    )
    parsed = parse_edges(corpus, id_col="gid")
    rows = lambda df: sorted(df.select("graph_id", "pos", "src", "rel", "dst").collect())  # noqa: E731
    none = SmatchppSpark(EngineConfig(standardizer="none"))
    assert rows(none._keyed_edges(corpus, "gid", "content")) == rows(parsed)
    amr = SmatchppSpark(EngineConfig(standardizer="amr"))
    assert amr._keyed_edges(corpus, "gid", "content").count() > 0


def test_score_dimensions_bootstrap_ci(spark):
    from smatchpp_spark.corpus import generate_penman

    graphs = []
    for i in range(8):
        import random as _random

        rng = _random.Random(f"dimci:{i}")
        graphs.append(generate_penman(rng, max_nodes=6, max_depth=3))
    ca = spark.createDataFrame(
        [(i, g) for i, g in enumerate(graphs)], "pair_id long, content string"
    )
    engine = SmatchppSpark(
        EngineConfig(
            standardizer="amr", bootstrap=True, n_resamples=30
        )
    )
    out = engine.score_dimensions(ca, ca, dimension="all-onealign")
    ci = {r["score_dim"]: (r["lo"], r["hi"]) for r in out["micro_ci"].collect()}
    assert "main" in ci
    # self-scored corpus: every resample of perfect pairs is perfect
    for dim, (lo, hi) in ci.items():
        assert lo == hi == 100.0, (dim, lo, hi)


def test_bca_interval_matches_independent_numpy():
    """Differential of the scipy-free BCa arithmetic against a
    straightforward independent implementation (statistics.NormalDist for
    Phi / Phi^-1, acceleration from the raw jackknife list rather than
    moment sums) on random fixtures — validates the moment identities,
    the adjusted-level formula, and the quantile interpolation."""
    import random as _random
    from statistics import NormalDist

    import numpy as np

    from smatchpp_spark.functions.scores import bca_interval

    nd = NormalDist()

    def reference_bca(theta_hat, reps, jack, ci=0.95):
        reps = np.asarray(reps, dtype=float)
        jack = np.asarray(jack, dtype=float)
        B = len(reps)
        below = int((reps < theta_hat).sum())
        if below in (0, B):
            return None
        z0 = nd.inv_cdf(below / B)
        diffs = jack.mean() - jack
        denom = (diffs**2).sum() ** 1.5
        if denom <= 0.0:
            return None
        a = (diffs**3).sum() / (6.0 * denom)
        alpha = (1.0 - ci) / 2.0
        out = []
        for lvl in (alpha, 1.0 - alpha):
            z = nd.inv_cdf(lvl)
            d = 1.0 - a * (z0 + z)
            if d <= 0.0:
                return None
            out.append(nd.cdf(z0 + (z0 + z) / d))
        lo, hi = (float(np.quantile(reps, q)) for q in out)
        return lo, hi

    checked = 0
    for trial in range(60):
        rng = _random.Random(f"bca:{trial}")
        B = rng.choice([50, 101, 200])
        n = rng.randint(3, 40)
        reps = [rng.betavariate(2, 5) for _ in range(B)]
        jack = [rng.betavariate(2, 5) for _ in range(n)]
        theta_hat = rng.betavariate(2, 5)
        mine = bca_interval(
            theta_hat, reps, n,
            float(sum(jack)),
            float(sum(t * t for t in jack)),
            float(sum(t**3 for t in jack)),
        )
        ref = reference_bca(theta_hat, reps, jack)
        if ref is None:
            assert mine is None, trial
            continue
        checked += 1
        assert mine is not None, trial
        assert abs(mine[0] - ref[0]) < 1e-9, (trial, mine, ref)
        assert abs(mine[1] - ref[1]) < 1e-9, (trial, mine, ref)
    assert checked >= 40

    # degenerate: all replicates above theta_hat
    assert bca_interval(0.0, [0.5] * 50, 5, 2.0, 0.9, 0.41) is None
    # zero jackknife variance
    assert bca_interval(0.5, [0.4, 0.6] * 25, 5, 2.5, 1.25, 0.625) is None


def test_norm_ppf_constants():
    from smatchpp_spark.functions.scores import _norm_cdf, _norm_ppf

    assert abs(_norm_ppf(0.975) - 1.959963984540054) < 1e-9
    assert abs(_norm_ppf(0.5)) < 1e-12
    assert abs(_norm_ppf(0.025) + 1.959963984540054) < 1e-9
    assert abs(_norm_cdf(1.959963984540054) - 0.975) < 1e-12


def test_bootstrap_bca_end_to_end(spark):
    """method='bca' through Spark: deterministic across partitionings,
    sane bounds, distinct from the percentile interval on skewed data,
    and the reference's [0, 100] fallback on a zero-variance corpus
    (eval_statistics.py:194-197)."""
    from pyspark.sql import functions as F

    from smatchpp_spark.functions.scores import bootstrap_micro

    rows = [
        (i, float(min(i % 9, 4)), float(min(i % 9, 4)), 8.0, 8.0)
        for i in range(60)
    ]
    schema = (
        "pair_id long, matchsum_x double, matchsum_y double, "
        "xlen double, ylen double"
    )
    stats = spark.createDataFrame(rows, schema)
    variants = [stats.repartition(1), stats.repartition(7, "matchsum_x")]
    cis = [
        bootstrap_micro(v, n_resamples=80, method="bca").collect()[0]
        for v in variants
    ]
    assert (cis[0]["lo"], cis[0]["hi"]) == (cis[1]["lo"], cis[1]["hi"])
    assert 0.0 <= cis[0]["lo"] <= cis[0]["hi"] <= 100.0
    pct = bootstrap_micro(stats, n_resamples=80, method="percentile").collect()[0]
    assert (cis[0]["lo"], cis[0]["hi"]) != (pct["lo"], pct["hi"])

    degenerate = spark.createDataFrame(
        [(i, 4.0, 4.0, 8.0, 8.0) for i in range(10)], schema
    )
    row = bootstrap_micro(degenerate, n_resamples=50, method="bca").collect()[0]
    assert (row["lo"], row["hi"]) == (0.0, 100.0)


def _py_portable_hash(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _py_fpr(a, b, c, d):
    if a + b + c + d == 0:
        return 1.0, 1.0, 1.0
    p = 0.0 if c < 1e-8 else a / c
    r = 0.0 if d < 1e-8 else b / d
    f1 = 0.0 if (p + r) < 1e-8 else 2 * p * r / (p + r)
    if a + b + c + d == 0:
        f1 = 1.0
    return f1, p, r


def _py_replicates(rows, n_resamples, seed, macro=True):
    """Pure-python replay of the portable draw + dense pair index:
    bucket = md5-hash('b#'+pair_id) % 1024, per-bucket rank by pair_id,
    offsets by bucket order; draw i = md5-hash('draw#rep#j#seed') % n."""
    n = len(rows)
    buckets: dict[int, list] = {}
    for row in rows:
        bk = _py_portable_hash("b#" + str(row[0])) % 1024
        buckets.setdefault(bk, []).append(row)
    indexed = {}
    off = 0
    for bk in sorted(buckets):
        for rnk, row in enumerate(sorted(buckets[bk], key=lambda r: str(r[0]))):
            indexed[off + rnk] = row
        off += len(buckets[bk])
    reps = []
    for rep in range(n_resamples):
        draw = [
            indexed[_py_portable_hash(f"draw#{rep}#{j}#{seed}") % n]
            for j in range(n)
        ]
        if macro:
            fprs = [_py_fpr(*r[1:]) for r in draw]
            reps.append(tuple(sum(x[k] for x in fprs) / n for k in range(3)))
        else:
            sums = [sum(r[1 + k] for r in draw) for k in range(4)]
            reps.append(_py_fpr(*sums))
    return reps


def test_bootstrap_scores_micro_f1_matches_bootstrap_micro(spark):
    """The f1 row of bootstrap_scores('micro') must equal bootstrap_micro
    exactly — shared draw, shared aggregation."""
    from smatchpp_spark.functions.scores import bootstrap_micro, bootstrap_scores

    rows = [
        (f"p{i}", float(i % 5), float(i % 5), float(i % 6 + 1), float(i % 7 + 1))
        for i in range(35)
    ]
    stats = spark.createDataFrame(
        rows,
        "pair_id string, matchsum_x double, matchsum_y double, xlen double, ylen double",
    )
    for portable in (False, True):
        base = bootstrap_micro(stats, n_resamples=60, portable=portable).first()
        vec = {
            r["stat"]: (r["lo"], r["hi"])
            for r in bootstrap_scores(
                stats, "micro", n_resamples=60, portable=portable
            ).collect()
        }
        assert set(vec) == {"f1", "p", "r"}
        assert vec["f1"] == (base["lo"], base["hi"])


def test_bootstrap_scores_macro_differential_vs_python_replay(spark):
    """Full independent differential: the portable draw, dense pair index,
    per-replicate macro means, percentile AND BCa intervals are all
    recomputed in pure python (hashlib md5 + statistics.NormalDist) and
    must match the Spark results."""
    from statistics import NormalDist

    import numpy as np

    from smatchpp_spark.functions.scores import bootstrap_scores

    rows = [
        (f"g{i:03d}", float(min(i % 8, 5)), float(min(i % 8, 5)),
         float(i % 5 + 3), float(i % 6 + 3))
        for i in range(30)
    ]
    stats = spark.createDataFrame(
        rows,
        "pair_id string, matchsum_x double, matchsum_y double, xlen double, ylen double",
    )
    B, seed = 80, 42
    reps = _py_replicates(rows, B, seed, macro=True)

    # percentile expectation (x100 round 2, then interpolated quantile r6)
    got_pct = {
        r["stat"]: (r["lo"], r["hi"])
        for r in bootstrap_scores(
            stats, "macro", n_resamples=B, seed=seed, portable=True,
            method="percentile",
        ).collect()
    }
    for k, name in enumerate(("f1", "p", "r")):
        vals = np.array([round(rv[k] * 100.0, 2) for rv in reps])
        lo = round(float(np.quantile(vals, 0.025)), 6)
        hi = round(float(np.quantile(vals, 0.975)), 6)
        assert got_pct[name] == (lo, hi), (name, got_pct[name], (lo, hi))

    # BCa expectation, fully independent (raw scale, then x100 round 2)
    got_bca = {
        r["stat"]: (r["lo"], r["hi"])
        for r in bootstrap_scores(
            stats, "macro", n_resamples=B, seed=seed, portable=True,
            method="bca",
        ).collect()
    }
    nd = NormalDist()
    n = len(rows)
    fprs = [_py_fpr(*r[1:]) for r in rows]
    for k, name in enumerate(("f1", "p", "r")):
        theta = sum(x[k] for x in fprs) / n
        jack = np.array(
            [(sum(x[k] for x in fprs) - fprs[i][k]) / (n - 1) for i in range(n)]
        )
        rv = np.array([x[k] for x in reps])
        below = int((rv < theta).sum())
        if below in (0, len(rv)) or ((jack.mean() - jack) ** 2).sum() == 0:
            assert got_bca[name] == (0.0, 100.0)
            continue
        z0 = nd.inv_cdf(below / len(rv))
        diffs = jack.mean() - jack
        a = (diffs**3).sum() / (6.0 * ((diffs**2).sum()) ** 1.5)
        lohi = []
        for lvl in (0.025, 0.975):
            z = nd.inv_cdf(lvl)
            adj = nd.cdf(z0 + (z0 + z) / (1.0 - a * (z0 + z)))
            lohi.append(round(float(np.quantile(rv, adj)) * 100.0, 2))
        assert got_bca[name] == tuple(lohi), (name, got_bca[name], lohi)


def test_bootstrap_auto_resample_switch(spark, monkeypatch):
    """``resample="auto"``: multinomial (reference-exact) below the
    pair-count crossover, Poisson above — and the switch point itself
    preserves CI widths to ~0.1 points, so a caller crossing the
    threshold sees no meaningful CI jump."""
    import random as _random

    from smatchpp_spark.functions import scores as sc

    rng = _random.Random(7)
    rows = []
    for i in range(4000):
        x = rng.randint(1, 8)
        rows.append(
            (i, float(x), float(x), float(x + rng.randint(0, 4)),
             float(x + rng.randint(0, 3)))
        )
    stats = spark.createDataFrame(
        rows,
        "pair_id int, matchsum_x double, matchsum_y double, "
        "xlen double, ylen double",
    ).localCheckpoint(eager=True)

    # below the threshold auto IS the multinomial draw, bit-for-bit
    auto = sorted(map(tuple, sc.bootstrap_scores(stats, resample="auto").collect()))
    multi = sorted(
        map(tuple, sc.bootstrap_scores(stats, resample="multinomial").collect())
    )
    assert auto == multi

    # above the (patched) threshold auto IS the Poisson mode, bit-for-bit
    monkeypatch.setattr(sc, "POISSON_AUTO_PAIRS", 100)
    auto_hi = sorted(
        map(tuple, sc.bootstrap_scores(stats, resample="auto").collect())
    )
    pois = sorted(
        map(tuple, sc.bootstrap_scores(stats, resample="poisson").collect())
    )
    assert auto_hi == pois

    # the two modes' CI WIDTHS agree to ~0.1 points at this n for every
    # statistic (the crossover is invisible to CI consumers)
    wm = {r[0]: r[2] - r[1] for r in multi}
    wp = {r[0]: r[2] - r[1] for r in pois}
    for k in wm:
        assert abs(wm[k] - wp[k]) < 0.15, (k, wm[k], wp[k])

    # bootstrap_micro honors the same switch
    lo_m, hi_m = sc.bootstrap_micro(stats, resample="multinomial").collect()[0]
    lo_p, hi_p = sc.bootstrap_micro(stats, resample="poisson").collect()[0]
    lo_a, hi_a = sc.bootstrap_micro(stats, resample="auto").collect()[0]
    assert (lo_a, hi_a) == (lo_p, hi_p)  # patched threshold → poisson
    assert abs((hi_m - lo_m) - (hi_p - lo_p)) < 0.15


def test_bootstrap_poisson_resample_close_and_deterministic(spark):
    """Poisson resampling (the at-scale mode, no B×n shuffle): CIs land
    within ~1.5 points of the multinomial draw on every statistic ×
    method, runs are bit-deterministic, per-(pair, rep) weights follow
    the deterministic inverse-CDF table, and an unknown mode raises."""
    import random as _random

    import pytest as _pytest

    from smatchpp_spark.functions.scores import (
        _poisson1_cdf,
        bootstrap_scores,
        poisson_weights,
    )

    rng = _random.Random(11)
    rows = []
    for i in range(800):
        x = rng.randint(1, 8)
        rows.append(
            (i, float(x), float(x), float(x + rng.randint(0, 4)),
             float(x + rng.randint(0, 3)))
        )
    stats = spark.createDataFrame(
        rows,
        "pair_id int, matchsum_x double, matchsum_y double, "
        "xlen double, ylen double",
    )
    for st in ("micro", "macro"):
        for meth in ("percentile", "bca"):
            a = {
                r.stat: (r.lo, r.hi)
                for r in bootstrap_scores(
                    stats, score_type=st, method=meth, n_resamples=100
                ).collect()
            }
            b = {
                r.stat: (r.lo, r.hi)
                for r in bootstrap_scores(
                    stats, score_type=st, method=meth, n_resamples=100,
                    resample="poisson",
                ).collect()
            }
            for k in a:
                assert abs(a[k][0] - b[k][0]) < 1.5, (st, meth, k, a[k], b[k])
                assert abs(a[k][1] - b[k][1]) < 1.5, (st, meth, k, a[k], b[k])

    x1 = bootstrap_scores(stats, score_type="macro", resample="poisson").collect()
    x2 = bootstrap_scores(stats, score_type="macro", resample="poisson").collect()
    assert sorted(map(tuple, x1)) == sorted(map(tuple, x2))

    # weight distribution sanity: mean weight ~ 1, all weights in the
    # inverse-CDF table's range, and ~e^-1 of them are zero
    w = poisson_weights(stats.limit(200), n_resamples=50).select("w").collect()
    vals = [r.w for r in w]
    assert 0.9 < sum(vals) / len(vals) < 1.1
    assert set(vals) <= set(float(k) for k in range(len(_poisson1_cdf()) + 1))
    zero_frac = sum(1 for v in vals if v == 0.0) / len(vals)
    assert 0.30 < zero_frac < 0.44  # e^-1 ± noise

    with _pytest.raises(ValueError, match="resample"):
        bootstrap_scores(stats, resample="bogus")
