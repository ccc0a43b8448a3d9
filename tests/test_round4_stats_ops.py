"""CUSUM change points, Fellegi-Sunter linkage, PQ-ADC top-k,
Zipf/Heaps law fits — closed-form / reference-replay checks for the
edge cases the driver oracles don't exercise (recursion equivalence,
hand-computed weights, exact power laws)."""

import math

import pytest

from pyspark.sql import functions as F

from ferenda_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app="tests-round4-stats", master="local[4]")
    s.sparkContext.setLogLevel("ERROR")
    yield s


# --------------------------------------------------------------- CUSUM

def test_cusum_closed_form_matches_recursion(spark):
    """The prefix-sum/prefix-extremum closed form must equal Page's
    row-at-a-time recursion, and a planted level shift must alarm."""
    from ferenda_spark.operators.events import cusum_alarms
    # 20 quiet days at ~10 events, then 10 days at 30 (upward shift)
    counts = [10, 11, 9, 10, 12, 10, 9, 11, 10, 10,
              11, 9, 10, 10, 12, 9, 10, 11, 10, 10,
              30, 31, 29, 30, 30, 31, 30, 29, 30, 30]
    rows = []
    for d, n in enumerate(counts):
        day = "2024-01-%02d" % (d + 1) if d < 31 else None
        for i in range(n):
            rows.append(("click", "2024-01-%02d 0%d:00:00"
                         % (d + 1, i % 10)))
    ev = spark.createDataFrame(rows, "event_type string, ts_s string") \
        .select("event_type", F.col("ts_s").cast("timestamp").alias("ts"))
    out = {r.day: r for r in cusum_alarms(ev).collect()}
    assert len(out) == 30

    # reference recursion (Page 1954), same mu/sigma/k/h
    c = len(counts)
    s1, s2 = sum(counts), sum(n * n for n in counts)
    mu = s1 / c
    sigma = math.sqrt(max(0.0, (c * s2 - s1 * s1) / (c * c)))
    k, h = 0.5 * sigma, 4.0 * sigma
    sp = sn = 0.0
    for d, n in enumerate(counts):
        sp = max(0.0, sp + (n - mu - k))
        sn = max(0.0, sn - (n - mu + k))
        day = "2024-01-%02d" % (d + 1)
        r = out[day]
        assert r.cusum_pos == pytest.approx(sp, abs=1e-5)
        assert r.cusum_neg == pytest.approx(sn, abs=1e-5)
        assert r.alarm_up == (round(sp, 10) > round(h, 10) and sp > h) \
            or r.alarm_up == (sp > h)
    # the shift must be detected within a few days
    assert any(out["2024-01-%02d" % d].alarm_up for d in range(21, 31))
    # no false alarm in the quiet half
    assert not any(out["2024-01-%02d" % d].alarm_up for d in range(1, 21))
    # non-negative statistics everywhere (no -0.0 leakage)
    assert all(r.cusum_pos >= 0 and r.cusum_neg >= 0
               for r in out.values())


def test_cusum_detects_downward_shift(spark):
    from ferenda_spark.operators.events import cusum_alarms
    counts = [30] * 20 + [5] * 10
    rows = [("view", "2024-03-%02d 03:00:00" % (d + 1))
            for d, n in enumerate(counts) for _ in range(n)]
    ev = spark.createDataFrame(rows, "event_type string, ts_s string") \
        .select("event_type", F.col("ts_s").cast("timestamp").alias("ts"))
    out = sorted(cusum_alarms(ev).collect(), key=lambda r: r.day)
    assert any(r.alarm_down for r in out[20:])
    assert not any(r.alarm_down for r in out[:20])


# ------------------------------------------------------ Fellegi-Sunter

def test_fs_linkage_weights_match_hand_computation(spark):
    from ferenda_spark.operators.linking import fs_linkage
    left = spark.createDataFrame(
        [("L1", "b", "alice", "1980"), ("L2", "b", "bob", "1990")],
        "left_id string, block_key string, name string, yob string")
    right = spark.createDataFrame(
        [("R1", "b", "alice", "1980"),   # full agree with L1
         ("R2", "b", "alice", "1975"),   # name agree only
         ("R3", "b", "carol", "1990")],  # yob agree with L2 only
        "right_id string, block_key string, name string, yob string")
    m = {"name": 0.9, "yob": 0.8}
    out = {(r.left_id, r.right_id): r
           for r in fs_linkage(left, right, ["name", "yob"], m,
                               upper=1.5, lower=0.0).collect()}
    assert len(out) == 6  # full block join 2x3
    # u_name: right has alice(2), carol(1) over N=3 -> (4+1)/9
    u_name = 5.0 / 9.0
    # u_yob: 1980,1975,1990 each once -> 3/9
    u_yob = 3.0 / 9.0
    w_name_a = round(math.log2(0.9 / u_name), 6)
    w_name_d = round(math.log2(0.1 / (1 - u_name)), 6)
    w_yob_a = round(math.log2(0.8 / u_yob), 6)
    w_yob_d = round(math.log2(0.2 / (1 - u_yob)), 6)
    r11 = out[("L1", "R1")]
    assert r11.agree_name and r11.agree_yob
    assert r11.weight == pytest.approx(
        round(w_name_a + w_yob_a, 6), abs=1e-6)
    assert r11.decision == "link"
    r12 = out[("L1", "R2")]
    assert r12.agree_name and not r12.agree_yob
    assert r12.weight == pytest.approx(
        round(w_name_a + w_yob_d, 6), abs=1e-6)
    r23 = out[("L2", "R3")]
    assert not r23.agree_name and r23.agree_yob
    assert r23.weight == pytest.approx(
        round(w_name_d + w_yob_a, 6), abs=1e-6)
    r13 = out[("L1", "R3")]
    assert r13.decision == "non_link"


def test_fs_linkage_blocking_prunes_pairs(spark):
    from ferenda_spark.operators.linking import fs_linkage
    left = spark.createDataFrame(
        [("L1", "a", "x"), ("L2", "b", "y")],
        "left_id string, block_key string, name string")
    right = spark.createDataFrame(
        [("R1", "a", "x"), ("R2", "c", "x")],
        "right_id string, block_key string, name string")
    out = fs_linkage(left, right, ["name"], {"name": 0.9}).collect()
    assert [(r.left_id, r.right_id) for r in out] == [("L1", "R1")]


# -------------------------------------------------------------- PQ-ADC

def test_pq_topk_matches_numpy_replay(spark):
    """ADC ranking must equal a NumPy replay of the same codebooks,
    encoding, and per-term-rounded distance tables."""
    import numpy as np
    from ferenda_spark.operators.similarity import (
        pq_sample_codebooks, pq_codes, pq_topk)
    rng = np.random.RandomState(7)
    n, dim, m, k = 100, 8, 2, 3
    vecs = rng.randn(n, dim).round(3)
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<double>")
    cbs = pq_sample_codebooks(emb, m=m, k=k, dim=dim)
    d0 = dim // m
    # codeword j of subspace s is vector id j*37+5 sliced
    for s in range(m):
        for j in range(k):
            assert cbs[s][j] == pytest.approx(
                list(vecs[j * 37 + 5][s * d0:(s + 1) * d0]))
    # replay encoding
    codes = {r.vec_id: list(r.codes) for r in pq_codes(emb, cbs).collect()}

    def enc(v):
        out = []
        for s in range(m):
            sub = v[s * d0:(s + 1) * d0]
            ds = [round(float(((sub - np.array(cbs[s][j])) ** 2).sum()), 6)
                  for j in range(k)]
            out.append(int(np.lexsort((range(k), ds))[0]))
        return out

    for i in range(n):
        assert codes[i] == enc(vecs[i]), i

    qids = [3, 50]
    got = pq_topk(emb, qids, k_nn=4, m=m, k=k, dim=dim,
                  codebooks=cbs).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(r)
    for qid in qids:
        qv = vecs[qid]
        dt = [[round(float(((qv[s * d0:(s + 1) * d0]
                             - np.array(cbs[s][j])) ** 2).sum()), 6)
               for j in range(k)] for s in range(m)]
        scored = sorted(
            (round(sum(dt[s][codes[i][s]] for s in range(m)), 6), i)
            for i in range(n) if i != qid)
        want = scored[:4]
        rows = sorted(by_q[qid], key=lambda r: r.rank)
        assert [(r.adc_dist, r.vec_id) for r in rows] == \
            [(pytest.approx(d, abs=1e-6), i) for d, i in want]


# ----------------------------------------------------- Zipf and Heaps

def test_zipf_fit_exact_power_law_gives_slope_minus_one(spark):
    """Counts c(r) = 720/r for r=1..6 lie exactly on ln c = ln 720
    - 1*ln r, so the OLS must return slope -1, r2 1."""
    from ferenda_spark.operators.textstats import zipf_fit
    words = ["aa", "bb", "cc", "dd", "ee", "ff"]
    text = " ".join(w for r, w in enumerate(words, 1)
                    for _ in range(720 // r))
    docs = spark.createDataFrame([(1, "en", text)],
                                 "doc_id long, lang string, text string")
    out = zipf_fit(docs, top_n=10, min_count=2).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_fit == 6
    assert r.slope_micro == pytest.approx(-1e6, abs=1)
    assert r.intercept_micro == pytest.approx(math.log(720.0) * 1e6, abs=1)
    assert r.r2_micro == pytest.approx(1e6, abs=1)
    assert r.top_token == "aa"


def test_zipf_rank_ties_break_lexicographically(spark):
    from ferenda_spark.operators.textstats import zipf_fit
    docs = spark.createDataFrame(
        [(1, "en", "zz zz aa aa mm mm mm")],
        "doc_id long, lang string, text string")
    r = zipf_fit(docs, top_n=10, min_count=2).collect()[0]
    assert r.top_token == "mm"  # count 3 beats the tied 2s


def test_heaps_fit_matches_python_replay(spark):
    from ferenda_spark.operators.textstats import heaps_fit
    docs = [
        ("s", 1, "a b c a"),
        ("s", 2, "a d e"),
        ("s", 3, "f f g a b"),
        ("s", 4, "h"),
    ]
    df = spark.createDataFrame(
        docs, "source string, doc_id long, text string")
    out = heaps_fit(df).collect()
    assert len(out) == 1
    # replay: cumulative tokens / cumulative vocabulary per doc
    seen, cum_t, pts = set(), 0, []
    for _, _, text in docs:
        ts = text.split()
        cum_t += len(ts)
        seen |= set(ts)
        pts.append((math.log(cum_t), math.log(len(seen))))
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxy = sum(x * y for x, y in pts)
    sxx = sum(x * x for x, _ in pts)
    syy = sum(y * y for _, y in pts)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    r2 = ((n * sxy - sx * sy) ** 2
          / ((n * sxx - sx * sx) * (n * syy - sy * sy)))
    r = out[0]
    assert r.n_docs == 4
    assert r.n_fit == 4
    assert r.slope_micro == pytest.approx(slope * 1e6, abs=1)
    assert r.intercept_micro == pytest.approx(intercept * 1e6, abs=1)
    assert r.r2_micro == pytest.approx(r2 * 1e6, abs=1)


# ------------------------------------------------- KS / MWU / ACF / Sen

def test_ks_two_sample_matches_python_ecdf(spark):
    from ferenda_spark.operators.quality import ks_two_sample
    a = [1, 2, 2, 3, 5, 8, 9]
    b = [2, 3, 3, 4, 4, 6, 10, 11]
    rows = [("a", v) for v in a] + [("b", v) for v in b]
    df = spark.createDataFrame(rows, "g string, v long")
    r = ks_two_sample(df, "g", "v", "a", "b").collect()[0]
    xs = sorted(set(a) | set(b))
    d = max(abs(sum(1 for v in a if v <= x) / len(a)
                - sum(1 for v in b if v <= x) / len(b)) for x in xs)
    assert r.n_a == len(a) and r.n_b == len(b)
    assert r.ks_stat == pytest.approx(d, abs=1e-6)
    ne = len(a) * len(b) / (len(a) + len(b))
    lam = (math.sqrt(ne) + 0.12 + 0.11 / math.sqrt(ne)) * d
    p = 2 * sum((-1) ** (k - 1) * math.exp(-2 * k * k * lam * lam)
                for k in range(1, 21))
    assert r.p_value == pytest.approx(max(0.0, min(1.0, p)), abs=1e-6)


def test_ks_identical_samples_is_zero(spark):
    from ferenda_spark.operators.quality import ks_two_sample
    rows = [("a", v) for v in [1, 2, 3]] + [("b", v) for v in [1, 2, 3]]
    df = spark.createDataFrame(rows, "g string, v long")
    r = ks_two_sample(df, "g", "v", "a", "b").collect()[0]
    assert r.ks_stat == 0.0
    assert r.p_value == 1.0


def test_mann_whitney_midranks_and_z(spark):
    from ferenda_spark.operators.quality import mann_whitney
    a = [1.0, 2.0, 2.0, 4.0]
    b = [2.0, 3.0, 5.0, 6.0, 7.0]
    rows = [("a", v) for v in a] + [("b", v) for v in b]
    df = spark.createDataFrame(rows, "g string, v double")
    r = mann_whitney(df, "g", "v", "a", "b").collect()[0]
    # pooled midranks: 1->1, 2,2,2->3, 3->5, 4->6, 5->7, 6->8, 7->9
    r_a = 1 + 3 + 3 + 6
    assert r.r_a == pytest.approx(r_a)
    u_a = r_a - 4 * 5 / 2
    assert r.u_a == pytest.approx(u_a)
    n = 9.0
    tie = 3 ** 3 - 3
    var = 4 * 5 / 12.0 * ((n + 1) - tie / (n * (n - 1)))
    z = (u_a - 4 * 5 / 2.0) / math.sqrt(var)
    assert r.z == pytest.approx(z, abs=1e-6)


def test_acf_daily_matches_numpy(spark):
    import numpy as np
    from ferenda_spark.operators.events import acf_daily
    counts = [5, 8, 5, 9, 4, 8, 6, 9, 5, 7, 5, 10, 4, 9]
    rows = [("t", "2024-01-%02d 02:00:00" % (d + 1))
            for d, n in enumerate(counts) for _ in range(n)]
    ev = spark.createDataFrame(rows, "event_type string, ts_s string") \
        .select("event_type", F.col("ts_s").cast("timestamp").alias("ts"))
    out = {r.lag: r for r in acf_daily(ev, max_lag=3).collect()}
    x = np.array(counts, dtype=float)
    for k in range(1, 4):
        r_np = np.corrcoef(x[:-k], x[k:])[0, 1]
        assert out[k].n_pairs == len(counts) - k
        assert out[k].r == pytest.approx(r_np, abs=1e-6)
    # alternating series: strong negative lag-1, positive lag-2
    assert out[1].r < -0.5 and out[2].r > 0.5


def test_acf_calendar_gaps_drop_pairs(spark):
    from ferenda_spark.operators.events import acf_daily
    # days 1,2,4,5 — lag-1 pairs only (1,2) and (4,5)
    rows = [("t", "2024-01-%02d 02:00:00" % d) for d in (1, 2, 4, 5)
            for _ in range(3)]
    ev = spark.createDataFrame(rows, "event_type string, ts_s string") \
        .select("event_type", F.col("ts_s").cast("timestamp").alias("ts"))
    out = {r.lag: r for r in acf_daily(ev, max_lag=2).collect()}
    assert out[1].n_pairs == 2  # (1,2) and (4,5)
    assert out[2].n_pairs == 1  # only (2,4); days 3,6,7 absent
    # constant series -> zero variance -> NULL r, not a crash
    assert out[1].r is None and out[2].r is None


def test_theil_sen_exact_linear_trend(spark):
    from ferenda_spark.operators.events import theil_sen_trend
    # counts 3,5,7,...: slope exactly 2/day, immune to one outlier day
    counts = [3 + 2 * d for d in range(10)]
    counts[4] = 50  # outlier
    rows = [("t", "2024-01-%02d 02:00:00" % (d + 1))
            for d, n in enumerate(counts) for _ in range(n)]
    ev = spark.createDataFrame(rows, "event_type string, ts_s string") \
        .select("event_type", F.col("ts_s").cast("timestamp").alias("ts"))
    r = theil_sen_trend(ev).collect()[0]
    assert r.n_days == 10
    assert r.n_pairs == 45
    assert r.sen_slope_micro == 2000000


def test_theil_sen_matches_python_replay(spark):
    from ferenda_spark.operators.events import theil_sen_trend
    counts = [7, 3, 9, 4, 12, 5, 6]
    rows = [("t", "2024-02-%02d 02:00:00" % (d + 1))
            for d, n in enumerate(counts) for _ in range(n)]
    ev = spark.createDataFrame(rows, "event_type string, ts_s string") \
        .select("event_type", F.col("ts_s").cast("timestamp").alias("ts"))
    r = theil_sen_trend(ev).collect()[0]
    slopes = sorted((counts[j] - counts[i]) / (j - i)
                    for i in range(7) for j in range(i + 1, 7))

    def med(vals):
        c = len(vals)
        mid = sorted(vals)[(c - 1) // 2:(c + 2) // 2]
        return sum(mid) / len(mid)

    import math
    assert r.sen_slope_micro == math.floor(med(slopes) * 1000000)
    days = [19754 + d for d in range(7)]  # 2024-02-01 epoch day
    want_icpt = med([float(c) for c in counts]) \
        - med(slopes) * med([float(d) for d in days])
    assert r.intercept_micro == math.floor(want_icpt * 1000000)


# ----------------------------------------------- modularity / TextRank

def test_modularity_two_cliques_bridge(spark):
    """Two triangles joined by a bridge, communities = the triangles:
    m=7, each community has e_c=3, D_c=7 -> Q = 2*(3/7 - (7/14)^2)
    = 2*(3/7 - 1/4) = 5/14."""
    from ferenda_spark.operators.graphs import modularity
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6), (4, 6)],
        "doc_a long, doc_b long")
    comms = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "a"), (4, "b"), (5, "b"), (6, "b")],
        "node long, label string")
    out = {r.community: r for r in modularity(edges, comms).collect()}
    for c in ("a", "b"):
        assert out[c].n_nodes == 3
        assert out[c].e_intra == 3
        assert out[c].deg_sum == 7
        assert out[c].q_contrib == pytest.approx(3 / 7 - 0.25, abs=1e-6)
    assert sum(r.q_contrib for r in out.values()) == pytest.approx(
        5 / 14, abs=1e-5)


def test_modularity_single_community_is_zero(spark):
    """All nodes in one community: Q = m/m - (2m/2m)^2 = 0."""
    from ferenda_spark.operators.graphs import modularity
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "doc_a long, doc_b long")
    comms = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "x")], "node long, label string")
    r = modularity(edges, comms).collect()[0]
    assert r.q_contrib == pytest.approx(0.0, abs=1e-9)


def test_textrank_matches_python_replay(spark):
    from ferenda_spark.operators.textstats import textrank_keywords
    docs = [(1, "en", "spark graph rank graph spark rank word"),
            (2, "en", "rank word spark word")]
    df = spark.createDataFrame(docs, "doc_id long, lang string, text string")
    got = {r.token: r for r in
           textrank_keywords(df, window=2, iters=3, top_k=10).collect()}

    # python replay: window-2 co-occurrence counts
    from collections import Counter, defaultdict
    w = Counter()
    for _, _, text in docs:
        ts = text.split()
        for i in range(len(ts)):
            for k in (1, 2):
                if i + k < len(ts) and ts[i] != ts[i + k]:
                    e = tuple(sorted((ts[i], ts[i + k])))
                    w[e] += 1
    nbrs = defaultdict(dict)
    for (u, v), c in w.items():
        nbrs[u][v] = c
        nbrs[v][u] = c
    ow = {n: sum(d.values()) for n, d in nbrs.items()}
    s = {n: 1.0 for n in nbrs}
    for _ in range(3):
        inc = {n: round(sum(nbrs[j][n] / ow[j] * s[j]
                            for j in nbrs[n]), 9) for n in nbrs}
        s = {n: round(0.15000000000000002 + 0.85 * inc[n], 9)
             for n in nbrs}
    for n, v in s.items():
        assert got[n].score == pytest.approx(round(v, 6), abs=1e-6), n
    # ranks follow (score desc, token)
    order = sorted(s, key=lambda n: (-s[n], n))
    for i, n in enumerate(order, 1):
        assert got[n].rank == i


def test_textrank_hub_outranks_isolated_frequent_token(spark):
    """A token wired into the graph core must outrank one that only
    ever repeats next to a single partner."""
    from ferenda_spark.operators.textstats import textrank_keywords
    text = ("hub alpha hub beta hub gamma hub delta "
            + "loner pair " * 6)
    df = spark.createDataFrame([(1, "en", text)],
                               "doc_id long, lang string, text string")
    got = {r.token: r.score for r in
           textrank_keywords(df, top_k=20).collect()}
    assert got["hub"] > got["loner"]


# ------------------------------------------------------ WL / chi-square

def test_wl_colors_separate_structural_roles(spark):
    """Triangle (0,1,2) + pendant chain 2-3-4-5 + isolated edge 6-7:
    after 3 rounds, symmetric nodes share colors and distinct roles
    differ."""
    from ferenda_spark.operators.graphs import wl_colors
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (4, 5), (6, 7)],
        "doc_a long, doc_b long")
    c = {r.node: r.wl_color for r in wl_colors(edges, rounds=3).collect()}
    assert len(c) == 8
    # 0 and 1 are interchangeable triangle corners; 6 and 7 likewise
    assert c[0] == c[1]
    assert c[6] == c[7]
    # 2 (triangle corner wired to the chain) differs from 0/1
    assert c[2] != c[0]
    # chain positions all distinct from each other and the triangle
    assert len({c[2], c[3], c[4], c[5]}) == 4
    # isolated-edge endpoints differ from the pendant leaf (5) even
    # though both have degree 1 (WL refines past raw degree)
    assert c[6] != c[5]


def test_wl_colors_isomorphic_components_match(spark):
    from ferenda_spark.operators.graphs import wl_colors
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (10, 11), (11, 12), (10, 12)],
        "doc_a long, doc_b long")
    c = {r.node: r.wl_color for r in wl_colors(edges, rounds=3).collect()}
    assert len(set(c.values())) == 1  # two triangles: all same role


def test_chi2_independence_matches_textbook(spark):
    """2x2 table [[10, 20], [20, 10]]: chi2 = N*(ad-bc)^2 /
    (R1*R2*C1*C2) = 60*(100-400)^2/(30*30*30*30) = 20/3."""
    from ferenda_spark.operators.quality import chi2_independence
    rows = ([("x", "p")] * 10 + [("x", "q")] * 20
            + [("y", "p")] * 20 + [("y", "q")] * 10)
    df = spark.createDataFrame(rows, "a string, b string")
    r = chi2_independence(df, "a", "b").collect()[0]
    assert r.n == 60 and r.n_rows == 2 and r.n_cols == 2 and r.dof == 1
    assert r.chi2 == pytest.approx(60 * 300 ** 2 / 30 ** 4, abs=1e-6)
    assert r.cramers_v == pytest.approx(
        math.sqrt(60 * 300 ** 2 / 30 ** 4 / 60), abs=1e-6)


def test_chi2_independent_columns_near_zero(spark):
    """Perfectly proportional table -> chi2 exactly 0."""
    from ferenda_spark.operators.quality import chi2_independence
    rows = ([("x", "p")] * 6 + [("x", "q")] * 12
            + [("y", "p")] * 3 + [("y", "q")] * 6)
    df = spark.createDataFrame(rows, "a string, b string")
    r = chi2_independence(df, "a", "b").collect()[0]
    assert r.chi2 == pytest.approx(0.0, abs=1e-6)
    assert r.cramers_v == pytest.approx(0.0, abs=1e-6)


# ---------------------------------------------------------- betweenness

def test_betweenness_matches_networkx(spark):
    import networkx as nx
    from ferenda_spark.operators.graphs import betweenness
    es = [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (4, 5), (6, 7)]
    edges = spark.createDataFrame(es, "doc_a long, doc_b long")
    got = {r.node: r.betweenness for r in betweenness(edges).collect()}
    want = nx.betweenness_centrality(nx.Graph(es), normalized=False)
    assert set(got) == set(want)
    for n, v in want.items():
        assert got[n] == pytest.approx(v, abs=1e-6), n


def test_betweenness_star_and_multipath(spark):
    import networkx as nx
    from ferenda_spark.operators.graphs import betweenness
    # star (hub 0) + a 4-cycle (two equal shortest paths split sigma)
    es = [(0, 1), (0, 2), (0, 3), (10, 11), (11, 12), (12, 13), (13, 10)]
    edges = spark.createDataFrame(es, "doc_a long, doc_b long")
    got = {r.node: r.betweenness for r in betweenness(edges).collect()}
    want = nx.betweenness_centrality(nx.Graph(es), normalized=False)
    for n, v in want.items():
        assert got[n] == pytest.approx(v, abs=1e-6), n
    assert got[0] == pytest.approx(3.0)   # hub of K1,3: C(3,2) pairs
    assert got[10] == pytest.approx(0.5)  # cycle: half a pair each


def test_betweenness_sampled_sources_subset_sum(spark):
    from ferenda_spark.operators.graphs import betweenness
    # path 0-1-2-3: with only source 0, delta_0(1)=2, delta_0(2)=1
    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 3)],
                                  "doc_a long, doc_b long")
    got = {r.node: r.betweenness
           for r in betweenness(edges, sources=[0]).collect()}
    assert got[1] == pytest.approx(1.0)  # 2/2
    assert got[2] == pytest.approx(0.5)  # 1/2
    assert got[0] == 0.0 and got[3] == 0.0


def test_betweenness_path_closed_form(spark):
    from ferenda_spark.operators.graphs import betweenness
    # path 0-1-...-8: node i lies on the shortest path of each of the
    # i * (8 - i) pairs with one end on either side of it
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "doc_a long, doc_b long")
    got = {r.node: r.betweenness for r in betweenness(edges).collect()}
    assert got == {i: float(i * (8 - i)) for i in range(9)}


# --------------------------------------------------------------- MaxSim

def test_maxsim_matches_python_replay(spark):
    import hashlib
    from ferenda_spark.operators.similarity import maxsim_topk
    docs = [(1, "alpha beta gamma"), (2, "alpha delta"),
            (3, "epsilon zeta eta theta")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    qts = ["alpha", "zeta"]
    got = {r.doc_id: r for r in
           maxsim_topk(df, qts, dim=8, top_k=10).collect()}

    def vec(tok):
        return [((int(hashlib.md5(("%s:%d" % (tok, k)).encode())
                      .hexdigest()[:8], 16) % 2001) - 1000) / 1000.0
                for k in range(8)]

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return round(dot / (na * nb), 9)

    for doc_id, text in docs:
        want = round(sum(max(cos(vec(t), vec(q)) for t in text.split())
                         for q in qts), 6)
        assert got[doc_id].maxsim == pytest.approx(want, abs=1e-6)


def test_maxsim_rank_order_and_topk(spark):
    from ferenda_spark.operators.similarity import maxsim_topk
    df = spark.createDataFrame(
        [(i, "tok%d filler" % i) for i in range(30)],
        "doc_id long, text string")
    out = maxsim_topk(df, ["tok5"], dim=8, top_k=5).collect()
    assert len(out) == 5
    assert out[0].rank == 1
    ranked = sorted(out, key=lambda r: r.rank)
    assert ranked[0].doc_id == 5  # contains the query token verbatim
    assert all(ranked[i].maxsim >= ranked[i + 1].maxsim
               for i in range(4))


# ------------------------------------------------------- k-truss / JSD

def test_ktruss_matches_networkx(spark):
    import networkx as nx
    from ferenda_spark.operators.graphs import ktruss
    es = [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (4, 5), (6, 7),
          # a K4 whose edges each close two triangles
          (10, 11), (10, 12), (10, 13), (11, 12), (11, 13), (12, 13)]
    edges = spark.createDataFrame(es, "doc_a long, doc_b long")
    for k in (3, 4):
        got = {(r.node_a, r.node_b)
               for r in ktruss(edges, k=k).collect()}
        want = {tuple(sorted(e))
                for e in nx.k_truss(nx.Graph(es), k).edges()}
        assert got == want, k
    # supports in the K4 are 2 (every edge closes two triangles)
    sup = {(r.node_a, r.node_b): r.support
           for r in ktruss(edges, k=4).collect()}
    assert all(v == 2 for v in sup.values()) and len(sup) == 6


def test_ktruss_cascade_peels_fully(spark):
    """Removing the weakest edge of a triangle chain cascades: two
    triangles sharing one vertex, plus a tail — 4-truss is empty."""
    from ferenda_spark.operators.graphs import ktruss
    es = [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (2, 4)]
    edges = spark.createDataFrame(es, "doc_a long, doc_b long")
    assert ktruss(edges, k=4).count() == 0
    got = {(r.node_a, r.node_b) for r in ktruss(edges, k=3).collect()}
    assert got == {(0, 1), (0, 2), (1, 2), (2, 3), (2, 4), (3, 4)}


def test_js_divergence_bounds_and_replay(spark):
    from ferenda_spark.operators.textstats import js_divergence
    docs = [("a", "x x y z"), ("b", "x y y w w")]
    df = spark.createDataFrame(docs, "source string, text string")
    r = js_divergence(df, "source", "a", "b").collect()[0]
    # python replay
    from collections import Counter
    ca = Counter("x x y z".split())
    cb = Counter("x y y w w".split())
    na, nb = sum(ca.values()), sum(cb.values())
    jsd = 0.0
    for t in set(ca) | set(cb):
        p, q = ca[t] / na, cb[t] / nb
        m = (p + q) / 2
        if p > 0:
            jsd += p / 2 * math.log2(p / m)
        if q > 0:
            jsd += q / 2 * math.log2(q / m)
    assert r.n_a == 4 and r.n_b == 5
    assert r.vocab_a == 3 and r.vocab_b == 3 and r.vocab_shared == 2
    assert r.jsd == pytest.approx(jsd, abs=1e-6)
    assert 0.0 <= r.jsd <= 1.0


def test_js_divergence_identical_and_disjoint(spark):
    from ferenda_spark.operators.textstats import js_divergence
    same = spark.createDataFrame(
        [("a", "x y z"), ("b", "x y z")], "source string, text string")
    assert js_divergence(same, "source", "a", "b") \
        .collect()[0].jsd == pytest.approx(0.0, abs=1e-9)
    disj = spark.createDataFrame(
        [("a", "x y"), ("b", "w v")], "source string, text string")
    assert js_divergence(disj, "source", "a", "b") \
        .collect()[0].jsd == pytest.approx(1.0, abs=1e-9)


# ------------------------------------------------- Yule's K / Benford

def test_yules_k_matches_hand_computation(spark):
    from ferenda_spark.operators.textstats import yules_k
    # counts: a:3, b:2, c:1 -> S1=6, S2=9+4+1=14, K=1e4*(14-6)/36
    df = spark.createDataFrame([(1, "en", "a a a b b c")],
                               "doc_id long, lang string, text string")
    r = yules_k(df).collect()[0]
    assert r.n_tokens == 6 and r.n_types == 3 and r.hapax == 1
    assert r.yules_k == pytest.approx(1e4 * 8 / 36, abs=1e-6)


def test_yules_k_all_hapax_is_zero(spark):
    from ferenda_spark.operators.textstats import yules_k
    df = spark.createDataFrame([(1, "en", "a b c d")],
                               "doc_id long, lang string, text string")
    r = yules_k(df).collect()[0]
    assert r.yules_k == pytest.approx(0.0)  # S2 == S1 for all-hapax
    assert r.hapax == 4


def test_benford_digit_extraction_and_gaps(spark):
    from ferenda_spark.operators.quality import benford_digits
    vals = [1.0, 12.0, 150.0, 0.02, 0.9, 3.5, 99.0, 9000.0, -5.0, 0.0]
    df = spark.createDataFrame([(v,) for v in vals], "value double")
    out = {r.digit: r for r in benford_digits(df, "value").collect()}
    assert len(out) == 9
    # positives only: digits 1,1,1,2,9,3,9,9 -> 1:3, 2:1, 3:1, 9:3
    assert out[1].n == 3 and out[2].n == 1 and out[3].n == 1
    assert out[9].n == 3
    assert out[4].n == 0 and out[4].frac == 0.0  # absent digit kept
    assert out[1].benford_p == pytest.approx(math.log10(2), abs=1e-6)
    assert out[1].frac == pytest.approx(3 / 8, abs=1e-6)
    assert out[1].diff == pytest.approx(abs(3 / 8 - math.log10(2)),
                                        abs=1e-6)


# ----------------------------------------------------- Poisson bootstrap

def test_bootstrap_mean_matches_python_replay(spark):
    import hashlib
    from ferenda_spark.operators.quality import (bootstrap_mean,
                                                 _POISSON1_CUM)
    vals = [(i, round(10.0 + (i * 7 % 13) + 0.25, 2))
            for i in range(1, 61)]
    df = spark.createDataFrame(vals, "event_id long, value double")
    r = bootstrap_mean(df, "event_id", "value", n_boot=50).collect()[0]

    def pois(rid, b):
        h = int(hashlib.md5(("%s:%d" % (rid, b)).encode())
                .hexdigest()[:8], 16) % 1000000
        for k, t in enumerate(_POISSON1_CUM):
            if h < t:
                return k
        return 7

    cents = {str(i): int(round(v * 100)) for i, v in vals}
    means = []
    for b in range(1, 51):
        nw = sum(pois(rid, b) for rid in cents)
        sw = sum(pois(rid, b) * c for rid, c in cents.items())
        means.append(sw / (nw * 100))
    means.sort()
    assert r.n == 60
    assert r.mean == pytest.approx(
        sum(cents.values()) / (60 * 100), abs=1e-6)
    # lo rank ceil(0.025*50)=2, hi rank ceil(0.975*50)=49
    assert r.ci_lo == pytest.approx(round(means[1], 6), abs=1e-6)
    assert r.ci_hi == pytest.approx(round(means[48], 6), abs=1e-6)
    assert r.ci_lo <= r.mean <= r.ci_hi


def test_bootstrap_poisson_weights_have_unit_mean(spark):
    """Sanity on the inverse-CDF table: empirical mean weight over
    many draws is ~1 (the Poisson bootstrap's defining property)."""
    import hashlib
    from ferenda_spark.operators.quality import _POISSON1_CUM

    def pois(h):
        for k, t in enumerate(_POISSON1_CUM):
            if h < t:
                return k
        return 7

    draws = [pois(int(hashlib.md5(str(i).encode()).hexdigest()[:8],
                      16) % 1000000) for i in range(20000)]
    assert abs(sum(draws) / len(draws) - 1.0) < 0.02
