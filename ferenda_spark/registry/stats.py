"""Statistics, sketch and quality queries (``stats_*`` and the
TPC-H-style relational queries)."""

from pyspark.sql import functions as F

from ferenda_spark.operators.dedup import TOKEN_SPLIT, tokens
from ferenda_spark.operators.events import (acf_daily, cusum_alarms,
                                            kaplan_meier, theil_sen_trend,
                                            time_to_event)
from ferenda_spark.operators.quality import (benford_digits, bh_fdr,
                                             bootstrap_mean, calibration_bins,
                                             chi2_independence, cohens_kappa,
                                             eb_domain_quality,
                                             gini_concentration, kendall_tau,
                                             ks_two_sample, mad_outliers,
                                             mann_whitney, profile_table,
                                             psi_drift, spearman_rho,
                                             srm_check, tost_equivalence,
                                             two_proportion_ztest,
                                             wilson_domain_ranking)
from ferenda_spark.operators.sketches import (ams_f2, cms_counts,
                                              histogram_quantiles,
                                              hll_registers, kmv_compare,
                                              log_histogram)
from ferenda_spark.registry import query
from ferenda_spark.registry.common import _read


def _ranked_metrics(spark, sf_dir):
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    return d.select(F.col("source"),
                    F.col("n_chars").cast("long").alias("x"),
                    (F.col("n_chars") * 3 + did % 97).cast("long")
                    .alias("y"),
                    did.alias("id"))


def _ab_subjects(spark, sf_dir):
    ev = _read(spark, sf_dir, "events")
    return (ev.groupBy("user_id")
            .agg(F.max(F.col("event_type") == "purchase")
                 .alias("converted"))
            .select(F.when(F.col("user_id") % 2 == 0, "A")
                    .otherwise("B").alias("cohort"), "converted",
                    "user_id"))


@query("tpch_pricing_summary", oracle="""
    SELECT l_returnflag, l_linestatus,
           SUM(l_quantity) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
             AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(18,2))))
             AS DOUBLE) AS sum_disc_price,
           COUNT(*) AS count_order
    FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus""")
def _q_pricing_summary(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    return (li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum("l_quantity").alias("sum_qty"),
                 F.sum(dec("l_extendedprice")).cast("double")
                 .alias("sum_base_price"),
                 F.sum(dec("l_extendedprice")
                       * (F.lit(1) - dec("l_discount"))).cast("double")
                 .alias("sum_disc_price"),
                 F.count("*").alias("count_order")))


@query("top_revenue_orders", oracle="""
    SELECT o_orderkey, o_orderdate,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(18,2))))
             AS DOUBLE) AS revenue
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_orderstatus = 'O'
    GROUP BY o_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderkey LIMIT 10""")
def _q_top_revenue_orders(spark, sf_dir):
    o = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    return (o.where(F.col("o_orderstatus") == "O")
            .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderkey", "o_orderdate")
            .agg(F.sum(dec("l_extendedprice")
                       * (F.lit(1) - dec("l_discount"))).cast("double")
                 .alias("revenue"))
            .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
            .limit(10))


@query("customers_without_orders", oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)""")
def _q_customers_without_orders(spark, sf_dir):
    c = _read(spark, sf_dir, "customer")
    o = _read(spark, sf_dir, "orders")
    return (c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
            .select("c_custkey", "c_name"))


# CMS registers: portable md5 row hashes, depth 4 x width 256
@query("stats_cms_tokens", oracle=r"""
    WITH toks AS (
      SELECT string_split_regex(lower(trim(text)),
             '[ \t\n\r\f\x0B]+') AS t
      FROM documents),
    items AS (SELECT unnest(t) AS token FROM toks),
    rows_ AS (
      SELECT d AS sketch_row,
             CAST(('0x' || substr(md5('cms' || d || ':'
                  || token), 1, 8)) AS BIGINT) % 256 AS col
      FROM items,
           (SELECT unnest(generate_series(0, 3)) AS d))
    SELECT CAST(sketch_row AS INT) AS sketch_row, col,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM rows_ GROUP BY sketch_row, col
    ORDER BY sketch_row, col""")
def _q_cms_tokens(spark, sf_dir):
    """Count-Min Sketch register table over the corpus token stream
    (depth 4 x width 256, portable md5 hashes): the mergeable
    heavy-hitter summary — at most 1024 rows out regardless of corpus
    size."""
    items = (_read(spark, sf_dir, "documents")
             .select(F.explode(tokens(F.col("text"))).alias("token")))
    return (cms_counts(items, "token", depth=4, width=256)
            .orderBy("sketch_row", "col"))


@query("stats_hll_registers", oracle=r"""
    WITH toks AS (
      SELECT source, string_split_regex(lower(trim(text)),
             '[ \t\n\r\f\x0B]+') AS t
      FROM documents),
    items AS (SELECT source, unnest(t) AS token FROM toks),
    h AS (
      SELECT source,
             CAST(('0x' || substr(md5('hll:' || token), 1, 8))
                  AS BIGINT) AS hv
      FROM items),
    rr AS (
      SELECT source, hv % 64 AS register,
             (hv - hv % 64) // 64 AS rest
      FROM h)
    SELECT source, register,
           CAST(MAX(CASE WHEN rest = 0 THEN 25
                    ELSE bit_count(xor(rest, rest - 1)) END)
             AS INT) AS max_rank
    FROM rr GROUP BY source, register
    ORDER BY source, register""")
def _q_hll_registers(spark, sf_dir):
    """HyperLogLog register table (m=64) for distinct-token
    cardinality per source — integers only; the harmonic-mean
    estimate stays consumer-side (pytest)."""
    items = (_read(spark, sf_dir, "documents")
             .select("source",
                     F.explode(tokens(F.col("text"))).alias("token")))
    return (hll_registers(items, "source", "token", m=64)
            .orderBy("source", "register"))


# KMV: distinct md5-prefix hashes, per-source bottom-32, then
# bottom-32 of the union with per-side membership flags
@query("stats_kmv_jaccard", oracle=r"""
    WITH toks AS (
      SELECT source,
             unnest(string_split_regex(lower(trim(text)),
               '[ \t\n\r\f\x0B]+')) AS token
      FROM documents WHERE source IN ('src0', 'src1')),
    h AS (
      SELECT DISTINCT source,
             CAST(('0x' || substr(md5('kmv:' || token), 1, 8))
                  AS BIGINT) AS hv
      FROM toks WHERE length(token) > 0),
    sk AS (
      SELECT source, hv,
             row_number() OVER (PARTITION BY source
                                ORDER BY hv) AS rnk
      FROM h QUALIFY rnk <= 32),
    m AS (
      SELECT hv,
             MAX(CASE WHEN source = 'src0' THEN 1 ELSE 0
                 END) AS in_a,
             MAX(CASE WHEN source = 'src1' THEN 1 ELSE 0
                 END) AS in_b
      FROM sk GROUP BY hv
      QUALIFY row_number() OVER (ORDER BY hv) <= 32)
    SELECT CAST(COUNT(*) AS INT) AS k_used,
           MAX(hv) AS kth_min,
           CAST(SUM(in_a * in_b) AS BIGINT) AS n_both,
           CAST(SUM(in_a * (1 - in_b)) AS BIGINT) AS n_only_a,
           CAST(SUM((1 - in_a) * in_b) AS BIGINT) AS n_only_b,
           1000 * CAST(SUM(in_a * in_b) AS BIGINT)
             // COUNT(*) AS est_jaccard_permille
    FROM m""")
def _q_kmv_jaccard(spark, sf_dir):
    """KMV (bottom-k) distinct-set comparison of src0 vs src1 token
    vocabularies — the sketch-side set algebra (union/intersection/
    Jaccard from k integers per side) that HLL cannot do; all-integer
    output, estimate pinned to integer div."""
    items = (_read(spark, sf_dir, "documents")
             .where(F.col("source").isin("src0", "src1"))
             .select("source",
                     F.explode(tokens(F.col("text"))).alias("token"))
             .where(F.length("token") > 0))
    return kmv_compare(items, "source", "token", "src0", "src1", k=32)


# HLL registers: h%64 register, rank = 1 + tz(h div 64) via
# bit_count(xor(x, x-1)); all-zero rest pinned to 25
# Log-linear histogram quantiles: bit-length via bin(),
# top-4-bit buckets, rank = ceil(q * N) with q pinned DOUBLE
# (a DECIMAL literal would make 0.99*500 exact where IEEE
# gives 495.000...06 -> different ceil)
@query("stats_hist_quantiles", oracle=r"""
    WITH vals AS (
      SELECT CAST(n_chars AS BIGINT) AS v FROM documents
      WHERE n_chars >= 0),
    bb AS (SELECT v, CASE WHEN v <= 0 THEN 0
                          ELSE length(bin(v)) END AS bl
           FROM vals),
    sb AS (SELECT bl, greatest(bl - 4, 0) AS s, v FROM bb),
    h AS (SELECT bl, (v >> s) << s AS lo,
                 ((v >> s) << s) + (1 << s) - 1 AS hi,
                 COUNT(*) AS n
          FROM sb GROUP BY 1, 2, 3),
    cum AS (SELECT lo, SUM(n) OVER (ORDER BY lo) AS c FROM h),
    tot AS (SELECT SUM(n) AS N FROM h),
    qs AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE)
             AS q),
    tgt AS (SELECT q, CAST(ceil(q * N) AS BIGINT)
              AS target_rank FROM qs, tot)
    SELECT q, target_rank, MIN(lo) AS est
    FROM tgt JOIN cum ON cum.c >= tgt.target_rank
    GROUP BY 1, 2 ORDER BY q""")
def _q_hist_quantiles(spark, sf_dir):
    """Length quantiles (p50/p90/p99 of n_chars) from a log-linear
    HdrHistogram-style sketch: integer-only buckets (top-4-bits
    log-linear), mergeable by groupBy-sum, the quantile step runs on
    the FIXED-SIZE bucket table — what replaces an exact global sort
    for percentiles over 10^12 rows.  No float log2 anywhere, so both
    engines bucket identically."""
    hist = log_histogram(_read(spark, sf_dir, "documents"),
                         "n_chars", sub_bits=4)
    return histogram_quantiles(hist, [0.5, 0.9, 0.99]).orderBy("q")


# per-column profile, values rendered as strings on both sides
@query("stats_profile_documents", oracle="""
    WITH prof AS (
      SELECT 'doc_id' AS col, CAST(doc_id AS VARCHAR) AS v
      FROM documents
      UNION ALL SELECT 'text', text FROM documents
      UNION ALL SELECT 'lang', lang FROM documents
      UNION ALL SELECT 'source', source FROM documents
      UNION ALL SELECT 'n_chars', CAST(n_chars AS VARCHAR)
        FROM documents)
    SELECT col AS "column",
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct,
           MIN(v) AS min_val, MAX(v) AS max_val
    FROM prof GROUP BY col ORDER BY col""")
def _q_profile(spark, sf_dir):
    """Warehouse-style column profile of the documents table: one
    pass, one groupBy; exact NDV at test scale (the operator
    documents the approx_count_distinct swap for 10^12 rows)."""
    return (profile_table(_read(spark, sf_dir, "documents"))
            .orderBy("column"))


# scores are k/256 so every partial sum is exact and
# order-independent; ratios are single IEEE divisions
@query("stats_calibration_bins", oracle="""
    WITH s AS (SELECT
           ((doc_id * 37 + 11) % 256) / 256.0 AS score,
           CASE WHEN (doc_id * 7 + 3) % 10 < 5
                THEN 1 ELSE 0 END AS label
           FROM documents),
    b AS (SELECT least(CAST(floor(score * 10) AS BIGINT), 9)
                 AS bin, score, label FROM s)
    SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(label) AS BIGINT) AS n_pos,
           SUM(score) / COUNT(*) AS mean_score,
           CAST(SUM(label) AS DOUBLE) / COUNT(*) AS frac_pos,
           abs(CAST(SUM(label) AS DOUBLE) / COUNT(*)
               - SUM(score) / COUNT(*)) AS gap
    FROM b GROUP BY bin ORDER BY bin""")
def _q_calibration_bins(spark, sf_dir):
    """Reliability-diagram bins for a classifier whose scores are
    exact binary fractions ((doc_id*37+11)%256 / 256 — so every sum
    and the bin floor are engine-exact) and labels (doc_id*7+3)%10<5;
    the oracle replays the one-groupBy program."""
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    scored = d.select(
        (((did * 37 + 11) % 256) / F.lit(256.0)).alias("score"),
        ((did * 7 + 3) % 10 < 5).cast("int").alias("label"))
    return calibration_bins(scored, n_bins=10).orderBy("bin")


# cell counts -> long marginal products -> ONE division each
# for po and pe, kappa NULL at the pe = 1 degenerate point
@query("stats_cohens_kappa", oracle="""
    WITH p AS (SELECT
           'l' || ((doc_id * 3 + 1) % 4) AS a,
           CASE WHEN doc_id % 5 < 3
                THEN 'l' || ((doc_id * 3 + 1) % 4)
                ELSE 'l' || ((doc_id * 7) % 4) END AS b
           FROM documents),
    cell AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c
             FROM p GROUP BY a, b),
    na AS (SELECT a, CAST(SUM(c) AS BIGINT) AS na
           FROM cell GROUP BY a),
    nb AS (SELECT b, CAST(SUM(c) AS BIGINT) AS nb
           FROM cell GROUP BY b),
    pes AS (SELECT CAST(SUM(na * nb) AS BIGINT) AS s_pe
            FROM na JOIN nb ON na.a = nb.b),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN a = b THEN c ELSE 0 END)
                AS BIGINT) AS n_agree
           FROM cell)
    SELECT n, n_agree,
           CAST(n_agree AS DOUBLE) / n AS po,
           CAST(s_pe AS DOUBLE) / (n * n) AS pe,
           CASE WHEN CAST(s_pe AS DOUBLE) / (n * n) < 1.0
                THEN (CAST(n_agree AS DOUBLE) / n
                      - CAST(s_pe AS DOUBLE) / (n * n))
                     / (1.0 - CAST(s_pe AS DOUBLE) / (n * n))
           END AS kappa
    FROM tot, pes""")
def _q_cohens_kappa(spark, sf_dir):
    """Cohen's kappa between annotator a = l((doc_id*3+1)%4) and b =
    a when doc_id%5<3 else l((doc_id*7)%4) (incidental agreements in
    the disagreeing 2/5 keep po above the planted 0.6); the oracle
    replays the cell-count / long-marginal-product / single-division
    program."""
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    a = F.format_string("l%d", (did * 3 + 1) % 4)
    b = F.when(did % 5 < 3, a).otherwise(
        F.format_string("l%d", (did * 7) % 4))
    return cohens_kappa(d.select(a.alias("label_a"), b.alias("label_b")))


# rank formula with LONG sums, two IEEE divisions, one
# subtract — same operation order as the operator
@query("stats_gini_domains", oracle="""
    WITH k AS (SELECT
           CASE WHEN doc_id % 10 < 5 THEN 'big.example.org'
                ELSE 'd' || (doc_id % 50) || '.example.org'
           END AS k
           FROM documents),
    cnt AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS x
            FROM k GROUP BY k),
    rk AS (SELECT x, CAST(ROW_NUMBER() OVER (ORDER BY x, k)
                  AS BIGINT) AS i FROM cnt),
    agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
                   CAST(SUM(x) AS BIGINT) AS total,
                   CAST(SUM(i * x) AS BIGINT) AS s1 FROM rk)
    SELECT n_keys, total,
           (2.0 * s1) / (n_keys * total)
           - (n_keys + 1) / CAST(n_keys AS DOUBLE) AS gini
    FROM agg""")
def _q_gini_domains(spark, sf_dir):
    """Gini concentration of documents per domain with a planted hot
    domain owning half the corpus (doc_id%10<5) next to 25 small
    d-domains; the oracle replays the rank formula with long sums and
    the same two IEEE divisions."""
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    key = F.when(did % 10 < 5, F.lit("big.example.org")).otherwise(
        F.format_string("d%d.example.org", did % 50))
    return gini_concentration(d.select(key.alias("domain")), "domain")


# raw per-domain sums, ONE global-mean division, one shrink
# division — same operation order as the operator
@query("stats_domain_quality_eb", oracle="""
    WITH s AS (SELECT
           CASE WHEN doc_id % 10 < 3 THEN 'hot.example.org'
                ELSE 'd' || (doc_id % 17) || '.example.org'
           END AS domain,
           CAST((doc_id * 53 + 7) % 256 AS DOUBLE) / 256.0
             AS score
           FROM documents),
    per AS (SELECT domain, SUM(score) AS s_d,
                   CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM s GROUP BY domain),
    g AS (SELECT SUM(score) AS g_s,
                 CAST(COUNT(*) AS BIGINT) AS g_n FROM s)
    SELECT domain, n_docs,
           s_d / n_docs AS mean_score,
           (s_d + 20.0 * (g_s / g_n)) / (n_docs + 20.0)
             AS shrunk_score
    FROM per, g ORDER BY domain""")
def _q_domain_quality_eb(spark, sf_dir):
    """Empirical-Bayes shrunk per-domain quality: scores are exact
    binary fractions ((doc_id*53+7)%256/256, so every sum is exact and
    order-free), a hot domain owns 30% of docs; the oracle replays the
    global-mean division and the (sum + alpha*m)/(n + alpha) shrink."""
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    domain = F.when(did % 10 < 3, F.lit("hot.example.org")).otherwise(
        F.format_string("d%d.example.org", did % 17))
    scored = d.select(
        domain.alias("domain"),
        (((did * 53 + 7) % 256) / F.lit(256.0)).alias("score"))
    return eb_domain_quality(scored, alpha=20.0).orderBy("domain")


# bin shares from two one-division ratios; contrib NULL where
# either side has no support
@query("stats_psi_drift", oracle="""
    WITH e AS (SELECT least(CAST(floor(
           (CAST((doc_id * 37 + 11) % 256 AS DOUBLE) / 256.0)
           * 10) AS BIGINT), 9) AS bin FROM documents),
    a AS (SELECT least(CAST(floor(
           (0.5 + CAST((doc_id * 91 + 5) % 128 AS DOUBLE)
            / 256.0) * 10) AS BIGINT), 9) AS bin
          FROM documents),
    eb AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_expected
           FROM e GROUP BY bin),
    ab AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_actual
           FROM a GROUP BY bin),
    te AS (SELECT CAST(COUNT(*) AS BIGINT) AS t_e FROM e),
    ta AS (SELECT CAST(COUNT(*) AS BIGINT) AS t_a FROM a),
    j AS (SELECT COALESCE(eb.bin, ab.bin) AS bin,
          COALESCE(n_expected, 0) AS n_expected,
          COALESCE(n_actual, 0) AS n_actual
          FROM eb FULL OUTER JOIN ab ON eb.bin = ab.bin),
    s AS (SELECT bin, n_expected, n_actual,
          CAST(n_expected AS DOUBLE) / t_e AS p_expected,
          CAST(n_actual AS DOUBLE) / t_a AS p_actual
          FROM j, te, ta)
    SELECT bin, n_expected, n_actual, p_expected, p_actual,
           CASE WHEN n_expected > 0 AND n_actual > 0
                THEN (p_actual - p_expected)
                     * ln(p_actual / p_expected)
           END AS contrib
    FROM s ORDER BY bin""")
def _q_psi_drift(spark, sf_dir):
    """PSI drift between a full-range reference score distribution
    ((doc_id*37+11)%256/256) and a top-half-only current one
    (0.5 + (doc_id*91+5)%128/256 -- bins 0-4 empty on the actual side,
    exercising the NULL-contrib path); the oracle replays the bin
    shares and (q-p)*ln(q/p)."""
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    expected = d.select(
        (((did * 37 + 11) % 256) / F.lit(256.0)).alias("score"))
    actual = d.select(
        (F.lit(0.5) + ((did * 91 + 5) % 128) / F.lit(256.0))
        .alias("score"))
    return psi_drift(expected, actual, n_bins=10).orderBy("bin")


# CUSUM: prefix-sum / prefix-extremum closed form of Page's
# recursion, mu/sigma from exact integer sums
@query("stats_cusum", oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    st AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS c,
             SUM(n) AS s1, SUM(n * n) AS s2
      FROM daily GROUP BY 1),
    st2 AS (
      SELECT event_type,
             CAST(s1 AS DOUBLE) / c AS mu,
             sqrt(greatest(0.0,
               CAST(c * s2 - s1 * s1 AS DOUBLE)
               / CAST(c * c AS DOUBLE))) AS sigma
      FROM st),
    d AS (
      SELECT daily.event_type, day, n, mu, sigma,
             sigma * 4.0 AS h,
             n - mu - sigma * 0.5 AS dev_p,
             n - mu + sigma * 0.5 AS dev_n
      FROM daily JOIN st2 USING (event_type)),
    staged AS (
      SELECT event_type, day, n, h,
             SUM(dev_p) OVER (PARTITION BY event_type
               ORDER BY day ROWS UNBOUNDED PRECEDING) AS p_pos,
             SUM(dev_n) OVER (PARTITION BY event_type
               ORDER BY day ROWS UNBOUNDED PRECEDING) AS p_neg
      FROM d),
    fin AS (
      SELECT event_type, day, n, h,
             p_pos - least(0.0, MIN(p_pos) OVER (
               PARTITION BY event_type ORDER BY day
               ROWS UNBOUNDED PRECEDING)) AS s_pos,
             greatest(0.0, MAX(p_neg) OVER (
               PARTITION BY event_type ORDER BY day
               ROWS UNBOUNDED PRECEDING)) - p_neg AS s_neg
      FROM staged)
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n,
           round(s_pos, 6) AS cusum_pos,
           round(s_neg, 6) AS cusum_neg,
           s_pos > h AS alarm_up,
           s_neg > h AS alarm_down
    FROM fin ORDER BY event_type, day""")
def _q_stats_cusum(spark, sf_dir):
    """Page's CUSUM over the REAL events table's per-type daily
    counts (prefix-sum/prefix-extremum closed form, mu/sigma from
    exact integer sums); the oracle replays the two cumulative
    windows and the h threshold."""
    ev = _read(spark, sf_dir, "events").select("event_type", "ts")
    return cusum_alarms(ev).orderBy("event_type", "day")


# KS: merged ECDF over distinct-value counts; D kept as an
# integer cross-product until one final division; 20-term
# Kolmogorov series for the p-value
@query("stats_ks_lengths", oracle="""
    WITH tagged AS (
      SELECT n_chars AS v,
             CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0
                      END) AS BIGINT) AS c_a,
             CAST(SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0
                      END) AS BIGINT) AS c_b
      FROM documents WHERE source IN ('src0', 'src1')
      GROUP BY 1),
    cdf AS (
      SELECT SUM(c_a) OVER (ORDER BY v
               ROWS UNBOUNDED PRECEDING) AS cum_a,
             SUM(c_b) OVER (ORDER BY v
               ROWS UNBOUNDED PRECEDING) AS cum_b
      FROM tagged),
    tot AS (SELECT CAST(SUM(c_a) AS BIGINT) AS n_a,
                   CAST(SUM(c_b) AS BIGINT) AS n_b
            FROM tagged),
    dmax AS (
      SELECT MAX(ABS(cum_a * n_b - cum_b * n_a)) AS d_num,
             MAX(n_a) AS n_a, MAX(n_b) AS n_b
      FROM cdf CROSS JOIN tot),
    lamt AS (
      SELECT n_a, n_b,
             CAST(d_num AS DOUBLE)
             / (CAST(n_a AS DOUBLE) * n_b) AS d,
             (sqrt(CAST(n_a AS DOUBLE) * n_b / (n_a + n_b))
              + 0.12
              + 0.11 / sqrt(CAST(n_a AS DOUBLE) * n_b
                            / (n_a + n_b)))
             * (CAST(d_num AS DOUBLE)
                / (CAST(n_a AS DOUBLE) * n_b)) AS lam
      FROM dmax),
    ps AS (
      SELECT n_a, n_b, d, lam,
             SUM((CASE WHEN k % 2 = 1 THEN 1.0 ELSE -1.0 END)
                 * exp(-2.0 * k * k * lam * lam)) AS s
      FROM lamt CROSS JOIN (SELECT CAST(range AS BIGINT) AS k
                            FROM range(1, 21))
      GROUP BY 1, 2, 3, 4)
    SELECT n_a, n_b, round(d, 6) AS ks_stat,
           round(lam, 6) AS ks_lambda,
           CASE WHEN lam < 0.2 THEN 1.0
                ELSE round(greatest(0.0,
                                    least(1.0, 2.0 * s)), 6)
           END AS p_value
    FROM ps""")
def _q_stats_ks_lengths(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov over the REAL documents: does
    src0's length distribution differ from src1's?  The oracle
    replays the merged-ECDF windows (D kept in integer cross-products
    until the final division) and the 20-term Kolmogorov p series."""
    d = _read(spark, sf_dir, "documents").select("source", "n_chars")
    return ks_two_sample(d, "source", "n_chars", "src0", "src1")


# MWU: midrank blocks over distinct-value counts; 2*R_a stays
# an exact BIGINT (c_a * (2*cum_before + t + 1))
@query("stats_mann_whitney", oracle="""
    WITH tagged AS (
      SELECT value AS v,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1
                      ELSE 0 END) AS BIGINT) AS c_a,
             CAST(SUM(CASE WHEN event_type = 'view' THEN 1
                      ELSE 0 END) AS BIGINT) AS c_b
      FROM events WHERE event_type IN ('click', 'view')
      GROUP BY 1),
    blocks AS (
      SELECT c_a, c_b, c_a + c_b AS t,
             COALESCE(SUM(c_a + c_b) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS cum_before
      FROM tagged),
    agg AS (
      SELECT CAST(SUM(c_a) AS BIGINT) AS n_a,
             CAST(SUM(c_b) AS BIGINT) AS n_b,
             SUM(c_a * (2 * cum_before + t + 1)) AS r2_a,
             SUM(t * t * t - t) AS tie_sum
      FROM blocks)
    SELECT n_a, n_b,
           round(CAST(r2_a AS DOUBLE) / 2.0
                 - CAST(n_a AS DOUBLE) * (n_a + 1.0) / 2.0, 6)
             AS u_a,
           round(CAST(r2_a AS DOUBLE) / 2.0, 6) AS r_a,
           CASE WHEN CAST(n_a AS DOUBLE) * n_b / 12.0
                     * ((n_a + n_b + 1.0)
                        - CAST(tie_sum AS DOUBLE)
                          / ((n_a + n_b)
                             * (n_a + n_b - 1.0))) > 0
           THEN round((CAST(r2_a AS DOUBLE) / 2.0
                  - CAST(n_a AS DOUBLE) * (n_a + 1.0) / 2.0
                  - CAST(n_a AS DOUBLE) * n_b / 2.0)
                 / sqrt(CAST(n_a AS DOUBLE) * n_b / 12.0
                        * ((n_a + n_b + 1.0)
                           - CAST(tie_sum AS DOUBLE)
                             / ((n_a + n_b)
                                * (n_a + n_b - 1.0)))), 6)
           END AS z
    FROM agg""")
def _q_stats_mann_whitney(spark, sf_dir):
    """Mann-Whitney U (midrank ties, tie-corrected z) between the
    value distributions of click vs view events; the oracle replays
    the distinct-value midrank blocks — 2*R_a stays an exact long in
    both engines."""
    ev = _read(spark, sf_dir, "events").select("event_type", "value")
    return mann_whitney(ev, "event_type", "value", "click", "view")


# ACF: calendar-day self-joins of the per-type daily series;
# Pearson over exact integer moment sums
@query("stats_acf_daily", oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    ks AS (SELECT CAST(range AS INTEGER) AS lag
           FROM range(1, 8)),
    pairs AS (
      SELECT a.event_type, ks.lag, a.n AS x, b.n AS y
      FROM daily a CROSS JOIN ks
      JOIN daily b ON b.event_type = a.event_type
                  AND b.day = a.day + ks.lag),
    agg AS (
      SELECT event_type, lag,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
             SUM(x * x) AS sxx, SUM(y * y) AS syy
      FROM pairs GROUP BY 1, 2)
    SELECT event_type, lag, n_pairs,
           CASE WHEN sqrt(CAST(n_pairs * sxx - sx * sx
                               AS DOUBLE)
                          * CAST(n_pairs * syy - sy * sy
                                 AS DOUBLE)) > 0
                THEN round(CAST(n_pairs * sxy - sx * sy
                                AS DOUBLE)
                  / sqrt(CAST(n_pairs * sxx - sx * sx
                              AS DOUBLE)
                         * CAST(n_pairs * syy - sy * sy
                                AS DOUBLE)), 6)
           END AS r
    FROM agg ORDER BY event_type, lag""")
def _q_stats_acf_daily(spark, sf_dir):
    """Lag-1..7 autocorrelation of the per-type daily event counts
    (calendar-day pairing, exact integer moment sums); the oracle
    replays the day+k self-joins and the closed-form correlation."""
    ev = _read(spark, sf_dir, "events").select("event_type", "ts")
    return acf_daily(ev, max_lag=7).orderBy("event_type", "lag")


# Theil-Sen: O(days^2) pair join on the daily aggregate,
# slopes rounded BEFORE the rank-picked exact median
@query("stats_theil_sen", oracle="""
    WITH daily AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '1970-01-01'
                  AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, CAST(ts AS DATE)),
    pairs AS (
      SELECT a.event_type,
             CAST(b.n - a.n AS DOUBLE) / (b.d - a.d) AS slope
      FROM daily a JOIN daily b
        ON b.event_type = a.event_type AND b.d > a.d),
    ms AS (
      SELECT event_type, AVG(slope) AS sen_slope,
             CAST(MAX(_c) AS BIGINT) AS n_pairs
      FROM (SELECT event_type, slope,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                     ORDER BY slope) AS _r,
                   COUNT(*) OVER (PARTITION BY event_type)
                     AS _c
            FROM pairs) t
      WHERE _r = CAST(floor((_c + 1) / 2.0) AS BIGINT)
         OR _r = CAST(ceil((_c + 1) / 2.0) AS BIGINT)
      GROUP BY 1),
    md AS (
      SELECT event_type, AVG(dv) AS med_d,
             CAST(MAX(_c) AS BIGINT) AS n_days
      FROM (SELECT event_type, CAST(d AS DOUBLE) AS dv,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                     ORDER BY CAST(d AS DOUBLE)) AS _r,
                   COUNT(*) OVER (PARTITION BY event_type)
                     AS _c
            FROM daily) t
      WHERE _r = CAST(floor((_c + 1) / 2.0) AS BIGINT)
         OR _r = CAST(ceil((_c + 1) / 2.0) AS BIGINT)
      GROUP BY 1),
    mn AS (
      SELECT event_type, AVG(nv) AS med_n
      FROM (SELECT event_type, CAST(n AS DOUBLE) AS nv,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                     ORDER BY CAST(n AS DOUBLE)) AS _r,
                   COUNT(*) OVER (PARTITION BY event_type)
                     AS _c
            FROM daily) t
      WHERE _r = CAST(floor((_c + 1) / 2.0) AS BIGINT)
         OR _r = CAST(ceil((_c + 1) / 2.0) AS BIGINT)
      GROUP BY 1)
    SELECT ms.event_type, md.n_days, ms.n_pairs,
           CAST(floor(ms.sen_slope * 1000000) AS BIGINT)
             AS sen_slope_micro,
           CAST(floor((mn.med_n - ms.sen_slope * md.med_d)
                      * 1000000) AS BIGINT)
             AS intercept_micro
    FROM ms JOIN md USING (event_type)
            JOIN mn USING (event_type)
    ORDER BY ms.event_type""")
def _q_stats_theil_sen(spark, sf_dir):
    """Theil-Sen robust trend of the per-type daily counts (median
    pairwise slope, Conover intercept, exact rank-picked medians);
    the oracle replays the pair join and the two-middle-order-
    statistic median."""
    ev = _read(spark, sf_dir, "events").select("event_type", "ts")
    return theil_sen_trend(ev).orderBy("event_type")


# chi2 from observed cells only: N * (sum O^2/(R*C) - 1),
# integer marginals, t rounded at 12 before the -1
@query("stats_chi2_lang_source", oracle="""
    WITH cells AS (
      SELECT lang AS a, source AS b,
             CAST(COUNT(*) AS BIGINT) AS o
      FROM documents GROUP BY 1, 2),
    ra AS (SELECT a, CAST(SUM(o) AS BIGINT) AS ra
           FROM cells GROUP BY 1),
    cb AS (SELECT b, CAST(SUM(o) AS BIGINT) AS cb
           FROM cells GROUP BY 1),
    j AS (SELECT o, CAST(o AS DOUBLE) * o
                    / (CAST(ra AS DOUBLE) * cb) AS term
          FROM cells JOIN ra USING (a) JOIN cb USING (b)),
    agg AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
                   CAST(COUNT(*) AS BIGINT) AS n_cells,
                   SUM(term) AS t
            FROM j),
    dims AS (SELECT CAST(COUNT(DISTINCT a) AS BIGINT) AS nr,
                    CAST(COUNT(DISTINCT b) AS BIGINT) AS nc
             FROM cells)
    SELECT n, nr AS n_rows, nc AS n_cols,
           (nr - 1) * (nc - 1) AS dof,
           round(CAST(n AS DOUBLE)
                 * (round(t, 12) - 1.0), 6) AS chi2,
           round(sqrt(greatest(0.0,
                 CAST(n AS DOUBLE) * (round(t, 12) - 1.0)
                 / (CAST(n AS DOUBLE)
                    * least(nr - 1, nc - 1)))), 6)
             AS cramers_v
    FROM agg CROSS JOIN dims""")
def _q_stats_chi2_lang_source(spark, sf_dir):
    """Chi-square independence of lang x source over the REAL
    documents (closed form from observed cells only, integer
    marginals) with Cramér's V; the oracle replays the contingency
    cells and the N*(sum O^2/(R*C) - 1) identity."""
    d = _read(spark, sf_dir, "documents").select("lang", "source")
    return chi2_independence(d, "lang", "source")


# Benford: arithmetic first-digit extraction, 9-group agg,
# absent digits kept via the digit dimension
@query("stats_benford", oracle="""
    WITH got AS (
      SELECT CAST(floor(value / pow(10.0, floor(log10(value))))
                  AS INTEGER) AS digit,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events WHERE value > 0 GROUP BY 1),
    digits AS (SELECT CAST(range AS INTEGER) AS digit
               FROM range(1, 10)),
    tot AS (SELECT SUM(n) AS tot FROM got),
    fil AS (SELECT digits.digit,
                   CAST(COALESCE(got.n, 0) AS BIGINT) AS n
            FROM digits LEFT JOIN got USING (digit))
    SELECT digit, n,
           round(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE), 6)
             AS frac,
           round(log10(1.0 + 1.0 / digit), 6) AS benford_p,
           round(abs(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE)
                     - log10(1.0 + 1.0 / digit)), 6) AS diff
    FROM fil CROSS JOIN tot ORDER BY digit""")
def _q_stats_benford(spark, sf_dir):
    """First-significant-digit distribution of positive event values
    vs Benford's law (arithmetic digit extraction, nine-group
    aggregate, absent digits kept at n=0); the oracle replays the
    floor(v/10^floor(log10 v)) projection and the log10(1+1/d)
    expectation."""
    ev = _read(spark, sf_dir, "events").select("value")
    return benford_digits(ev, "value").orderBy("digit")


# Poisson bootstrap: md5-seeded inverse-CDF Poisson(1)
# weights, exact cents sums, rank-picked 2.5/97.5 percentiles
@query("stats_bootstrap_mean", oracle="""
    WITH base AS (
      SELECT CAST(event_id AS VARCHAR) AS rid,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'),
    obs AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(cents) AS s FROM base),
    reps AS (SELECT CAST(range AS INTEGER) AS b
             FROM range(1, 101)),
    weighted AS (
      SELECT b,
             CASE
               WHEN h < 367879 THEN 0 WHEN h < 735758 THEN 1
               WHEN h < 919698 THEN 2 WHEN h < 981011 THEN 3
               WHEN h < 996340 THEN 4 WHEN h < 999406 THEN 5
               WHEN h < 999917 THEN 6 ELSE 7 END AS w,
             cents
      FROM (SELECT b, cents,
                   CAST(('0x' || substr(md5(rid || ':' || b),
                                        1, 8)) AS BIGINT)
                   % 1000000 AS h
            FROM base CROSS JOIN reps)),
    boot AS (
      SELECT b, CAST(SUM(w) AS BIGINT) AS nw,
             SUM(w * cents) AS sw
      FROM weighted GROUP BY b),
    means AS (
      SELECT b, CAST(sw AS DOUBLE)
                / (CAST(nw AS DOUBLE) * 100) AS m
      FROM boot),
    ranked AS (
      SELECT m, ROW_NUMBER() OVER (ORDER BY m, b) AS r
      FROM means),
    ci AS (
      SELECT MIN(CASE WHEN r = 3 THEN m END) AS ci_lo,
             MIN(CASE WHEN r = 98 THEN m END) AS ci_hi
      FROM ranked WHERE r IN (3, 98))
    SELECT n,
           round(CAST(s AS DOUBLE)
                 / (CAST(n AS DOUBLE) * 100), 6) AS mean,
           round(ci_lo, 6) AS ci_lo,
           round(ci_hi, 6) AS ci_hi,
           CAST(100 AS BIGINT) AS n_boot
    FROM obs CROSS JOIN ci""")
def _q_stats_bootstrap_mean(spark, sf_dir):
    """Poisson-bootstrap 95% CI for the mean purchase value (100
    deterministic md5-seeded Poisson(1) replicates, exact
    integer-cents sums, rank-picked percentile CI); the oracle
    replays the inverse-CDF weights and the order statistics."""
    ev = (_read(spark, sf_dir, "events")
          .where(F.col("event_type") == "purchase")
          .select("event_id", "value"))
    return bootstrap_mean(ev, "event_id", "value", n_boot=100)


# Kaplan-Meier over time-to-first-purchase: truncated-epoch
# hours (floor(epoch) mirrors Spark unix_timestamp), 72 h
# administrative censoring, suffix-window at-risk, exp-sum-log
# product limit with the d=n neutral-factor guard
@query("stats_kaplan_meier", oracle="""
    WITH f AS (
      SELECT user_id,
             CAST(floor(epoch(min(ts))) AS BIGINT) AS f0
      FROM events GROUP BY user_id),
    p AS (
      SELECT user_id,
             CAST(floor(epoch(min(ts))) AS BIGINT) AS p0
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id),
    subj AS (
      SELECT CASE WHEN th IS NULL OR th > 72
                  THEN CAST(72 AS BIGINT) ELSE th END AS t,
             (th IS NULL OR th > 72) AS censored
      FROM (SELECT CAST(floor((p0 - f0) / 3600.0) AS BIGINT)
                     AS th
            FROM f LEFT JOIN p USING (user_id))),
    per_t AS (
      SELECT t, CAST(COUNT(*) AS BIGINT) AS n_ending,
             CAST(SUM(CASE WHEN NOT censored THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_deaths
      FROM subj GROUP BY t),
    ar AS (
      SELECT t, n_ending, n_deaths,
             CAST(SUM(n_ending) OVER (ORDER BY t
                  ROWS BETWEEN CURRENT ROW
                  AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_risk
      FROM per_t),
    d AS (SELECT * FROM ar WHERE n_deaths > 0),
    s AS (
      SELECT t, n_risk, n_deaths,
             MAX(CASE WHEN n_deaths = n_risk THEN 1 ELSE 0 END)
               OVER w AS zero,
             SUM(ln(CASE WHEN n_deaths = n_risk THEN 1.0
                    ELSE 1.0 - CAST(n_deaths AS DOUBLE) / n_risk
                    END)) OVER w AS ls
      FROM d
      WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED
                   PRECEDING AND CURRENT ROW))
    SELECT t, n_risk, n_deaths,
           round(CASE WHEN zero = 1 THEN 0.0 ELSE exp(ls) END, 6)
             AS survival
    FROM s ORDER BY t""")
def _q_stats_kaplan_meier(spark, sf_dir):
    """Kaplan-Meier survival of time-to-first-purchase (hours from a
    user's first event, right-censored at the 72 h fixed-follow-up
    cutoff): product-limit estimator via exp-sum-log over suffix-
    cumulative at-risk counts; the oracle replays the truncated-epoch
    durations and the same product identity."""
    subj = time_to_event(_read(spark, sf_dir, "events"),
                         target_type="purchase", followup_hours=72)
    return kaplan_meier(subj).orderBy("t")


@query("stats_bh_fdr", oracle="""
    WITH n_ AS (SELECT DISTINCT doc_id % 50 AS n
                FROM documents),
    t AS (SELECT 'e' || n AS test_id,
                 CAST(CASE WHEN n % 5 = 0 THEN n * 97 + 1
                      ELSE n * 19801 + 10000 END AS BIGINT)
                   AS p_micro
          FROM n_),
    ranked AS (
      SELECT test_id, p_micro,
             CAST(row_number() OVER (
               ORDER BY p_micro, test_id) AS BIGINT) AS rank,
             CAST(COUNT(*) OVER () AS BIGINT) AS m
      FROM t),
    dec AS (
      SELECT *,
             CASE WHEN p_micro * m <= rank * 50000
                  THEN 1 ELSE 0 END AS pass_
      FROM ranked)
    SELECT test_id, p_micro, rank,
           CAST(rank * 50000 // m AS BIGINT)
             AS bh_threshold_micro,
           CAST(MAX(pass_) OVER (
             ORDER BY rank ROWS BETWEEN CURRENT ROW AND
             UNBOUNDED FOLLOWING) AS BIGINT) AS rejected
    FROM dec ORDER BY rank""")
def _q_stats_bh_fdr(spark, sf_dir):
    """Benjamini-Hochberg step-up over 50 planted per-entity
    hypotheses in two regimes (a small-p cluster that all reject, a
    linear tail that all survive) — exact integer cross-multiplied
    comparisons, the oracle replays rank/threshold/running-max."""
    d = _read(spark, sf_dir, "documents")
    n = (F.col("doc_id") % 50).cast("long")
    tests = (d.select(
        F.concat(F.lit("e"), n.cast("string")).alias("test_id"),
        F.when(n % 5 == 0, n * 97 + 1)
        .otherwise(n * 19801 + 10000).cast("long").alias("p_micro"))
        .distinct())
    return bh_fdr(tests, alpha_micro=50000).orderBy("rank")


@query("stats_mad_outliers", oracle="""
    WITH v AS (SELECT source AS grp,
                      CAST(n_chars AS BIGINT) AS value
               FROM documents),
    m AS (
      SELECT grp, value AS median FROM (
        SELECT grp, value,
               row_number() OVER (PARTITION BY grp
                                  ORDER BY value) AS rn,
               COUNT(*) OVER (PARTITION BY grp) AS n
        FROM v) WHERE rn = (n + 1) // 2),
    dev AS (
      SELECT v.grp, v.value, m.median,
             CAST(abs(v.value - m.median) AS BIGINT)
               AS abs_dev
      FROM v JOIN m USING (grp)),
    md AS (
      SELECT grp, abs_dev AS mad FROM (
        SELECT grp, abs_dev,
               row_number() OVER (PARTITION BY grp
                                  ORDER BY abs_dev) AS rn,
               COUNT(*) OVER (PARTITION BY grp) AS n
        FROM dev) WHERE rn = (n + 1) // 2)
    SELECT dev.grp AS "group", dev.value, dev.median,
           CAST(md.mad AS BIGINT) AS mad, dev.abs_dev,
           CAST(CASE WHEN dev.abs_dev * 1000 > md.mad * 3000
                THEN 1 ELSE 0 END AS BIGINT) AS is_outlier
    FROM dev JOIN md USING (grp)
    ORDER BY "group", value""")
def _q_stats_mad_outliers(spark, sf_dir):
    """Median/MAD robust outliers of n_chars per source (exact
    lower-median order statistics, cross-multiplied comparison)."""
    d = _read(spark, sf_dir, "documents")
    return (mad_outliers(d.select(F.col("source").alias("group"),
                                  F.col("n_chars").alias("value")))
            .orderBy("group", "value"))


# AMS F2: identical md5 sign chain, exact long accumulators
@query("stats_ams_f2", oracle=r"""
    WITH toks AS (
      SELECT string_split_regex(lower(trim(text)),
             '[ \t\n\r\f\x0B]+') AS t
      FROM documents),
    items AS (SELECT unnest(t) AS token FROM toks),
    counts AS (SELECT token AS k,
                      CAST(COUNT(*) AS BIGINT) AS cnt
               FROM items GROUP BY token),
    x AS (SELECT est,
                 CAST(SUM((1 - 2 * (CAST(('0x' || substr(
                      md5('ams' || est || ':' || k), 1, 8))
                      AS BIGINT) % 2)) * cnt) AS BIGINT) AS x
          FROM counts,
               (SELECT unnest(generate_series(0, 15)) AS est)
          GROUP BY est),
    g AS (SELECT CAST(est // 4 AS BIGINT) AS group_id,
                 CAST(SUM(x * x) AS BIGINT) AS sum_sq
          FROM x GROUP BY 1),
    e AS (SELECT CAST(SUM(cnt * cnt) AS BIGINT) AS exact_f2
          FROM counts)
    SELECT group_id, sum_sq,
           CAST(sum_sq // 4 AS BIGINT) AS estimate_f2,
           exact_f2,
           CAST(abs(sum_sq // 4 - exact_f2) * 1000
                // exact_f2 AS BIGINT) AS err_permille
    FROM g, e ORDER BY group_id""")
def _q_stats_ams_f2(spark, sf_dir):
    """AMS tug-of-war F2 sketch over the real document tokens (16
    estimators, 4 groups of 4), each group row reporting its own
    error against the exact F2 computed from the same count table."""
    d = _read(spark, sf_dir, "documents")
    toks = d.select(F.explode(
        F.split(F.lower(F.trim("text")), TOKEN_SPLIT)).alias("token"))
    return ams_f2(toks).orderBy("group_id")


@query("stats_spearman", oracle="""
    WITH v AS (
      SELECT source AS grp, CAST(n_chars AS BIGINT) AS x,
             CAST(n_chars * 3 + (doc_id % 97) AS BIGINT) AS y,
             doc_id AS id
      FROM documents),
    r AS (SELECT grp,
                 row_number() OVER (PARTITION BY grp
                                    ORDER BY x, id) AS rx,
                 row_number() OVER (PARTITION BY grp
                                    ORDER BY y, id) AS ry
          FROM v),
    a AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM((rx - ry) * (rx - ry)) AS BIGINT)
                   AS sum_d_sq
          FROM r GROUP BY grp)
    SELECT grp AS "group", n, sum_d_sq,
           CASE WHEN n >= 2 THEN
             CAST(1000000 - (6000000 * sum_d_sq)
                  // (n * (n * n - 1)) AS BIGINT) END
             AS rho_micro
    FROM a ORDER BY "group" """)
def _q_stats_spearman(spark, sf_dir):
    """Per-source Spearman rho between n_chars and a planted noisy
    monotone transform of it (id-tiebroken ranks, exact tie-free
    closed form, micro-scaled integer)."""
    return (spearman_rho(_ranked_metrics(spark, sf_dir), "source",
                         "x", "y", "id")
            .orderBy("group"))


@query("stats_kendall", oracle="""
    WITH v AS (
      SELECT source AS grp, CAST(n_chars AS BIGINT) AS x,
             CAST(n_chars * 3 + (doc_id % 97) AS BIGINT) AS y,
             doc_id AS id
      FROM documents),
    r AS (SELECT grp, id,
                 row_number() OVER (PARTITION BY grp
                                    ORDER BY x, id) AS rx,
                 row_number() OVER (PARTITION BY grp
                                    ORDER BY y, id) AS ry
          FROM v),
    p AS (SELECT a.grp,
                 CASE WHEN (a.rx < b.rx AND a.ry < b.ry)
                        OR (a.rx > b.rx AND a.ry > b.ry)
                      THEN 1 ELSE 0 END AS conc
          FROM r a JOIN r b
            ON a.grp = b.grp AND a.id < b.id),
    agg AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_pairs,
                   CAST(SUM(conc) AS BIGINT) AS n_concordant
            FROM p GROUP BY grp),
    nn AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n
           FROM r GROUP BY grp)
    SELECT agg.grp AS "group", nn.n, n_concordant,
           CAST(n_pairs - n_concordant AS BIGINT)
             AS n_discordant,
           CASE WHEN n_pairs > 0 THEN
             CAST(sign(2 * n_concordant - n_pairs)
                  * (abs(2 * n_concordant - n_pairs)
                     * 1000000 // n_pairs) AS BIGINT) END
             AS tau_micro
    FROM agg JOIN nn USING (grp) ORDER BY "group" """)
def _q_stats_kendall(spark, sf_dir):
    """Per-source Kendall tau-a on the same id-tiebroken rankings
    (group-keyed pair self-join, exact concordant/discordant
    counters, micro-scaled integer)."""
    return (kendall_tau(_ranked_metrics(spark, sf_dir), "source",
                        "x", "y", "id")
            .orderBy("group"))


@query("stats_ab_ztest", oracle="""
    WITH subj AS (
      SELECT user_id,
             CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END
               AS cohort,
             MAX(CASE WHEN event_type = 'purchase' THEN 1
                 ELSE 0 END) AS conv
      FROM events GROUP BY user_id),
    g AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(conv) AS BIGINT) AS x
          FROM subj GROUP BY cohort),
    a AS (SELECT cohort AS cohort_a, n AS n_a, x AS x_a
          FROM g ORDER BY cohort LIMIT 1),
    b AS (SELECT cohort AS cohort_b, n AS n_b, x AS x_b
          FROM g ORDER BY cohort DESC LIMIT 1),
    r AS (SELECT cohort_a, cohort_b, n_a, n_b, x_a, x_b,
                 (CAST(x_a AS DOUBLE) + CAST(x_b AS DOUBLE))
                 / (CAST(n_a AS DOUBLE)
                    + CAST(n_b AS DOUBLE)) AS p
          FROM a CROSS JOIN b)
    SELECT cohort_a, cohort_b, n_a, n_b, x_a, x_b,
           CASE WHEN (p * (1.0 - p))
                     * (1.0 / CAST(n_a AS DOUBLE)
                        + 1.0 / CAST(n_b AS DOUBLE)) > 0
           THEN round((CAST(x_a AS DOUBLE)
                       / CAST(n_a AS DOUBLE)
                       - CAST(x_b AS DOUBLE)
                         / CAST(n_b AS DOUBLE))
                      / sqrt((p * (1.0 - p))
                             * (1.0 / CAST(n_a AS DOUBLE)
                                + 1.0 / CAST(n_b AS DOUBLE))),
                      6) END AS z
    FROM r""")
def _q_stats_ab_ztest(spark, sf_dir):
    """Two-proportion z-test on per-user purchase conversion between
    the even/odd user cohorts — exact integer counts, one pinned
    IEEE z expression."""
    ev = _read(spark, sf_dir, "events")
    subj = (ev.groupBy("user_id")
            .agg(F.max(F.col("event_type") == "purchase")
                 .alias("converted"))
            .select(F.when(F.col("user_id") % 2 == 0, "A")
                    .otherwise("B").alias("cohort"), "converted"))
    return two_proportion_ztest(subj)


@query("stats_tost", oracle="""
    WITH subj AS (
      SELECT user_id,
             CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END
               AS cohort,
             MAX(CASE WHEN event_type = 'purchase' THEN 1
                 ELSE 0 END) AS conv
      FROM events GROUP BY user_id),
    g AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(conv) AS BIGINT) AS x
          FROM subj GROUP BY cohort),
    a AS (SELECT cohort AS cohort_a, n AS n_a, x AS x_a
          FROM g ORDER BY cohort LIMIT 1),
    b AS (SELECT cohort AS cohort_b, n AS n_b, x AS x_b
          FROM g ORDER BY cohort DESC LIMIT 1),
    r AS (SELECT cohort_a, cohort_b, n_a, n_b, x_a, x_b,
                 CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                   AS pa,
                 CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE)
                   AS pb
          FROM a CROSS JOIN b),
    v AS (SELECT *,
                 pa * (1.0 - pa) / CAST(n_a AS DOUBLE)
                 + pb * (1.0 - pb) / CAST(n_b AS DOUBLE)
                   AS var
          FROM r)
    SELECT cohort_a, cohort_b, n_a, n_b, x_a, x_b,
           CASE WHEN var > 0 THEN
             round(((pa - pb) + 0.1) / sqrt(var), 6) END
             AS z_lower,
           CASE WHEN var > 0 THEN
             round(((pa - pb) - 0.1) / sqrt(var), 6) END
             AS z_upper,
           CASE WHEN var > 0 THEN
             round(((pa - pb) + 0.1) / sqrt(var), 6)
               > 1.644854
             AND round(((pa - pb) - 0.1) / sqrt(var), 6)
               < -1.644854 END AS equivalent
    FROM v""")
def _q_stats_tost(spark, sf_dir):
    """TOST equivalence of per-user conversion between the even/odd
    cohorts at a 10% margin — the non-inferiority dual of
    stats_ab_ztest."""
    return tost_equivalence(_ab_subjects(spark, sf_dir)
                            .select("cohort", "converted"))


@query("stats_srm", oracle="""
    WITH subj AS (
      SELECT user_id,
             CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END
               AS cohort
      FROM events GROUP BY user_id),
    g AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n
          FROM subj GROUP BY cohort),
    a AS (SELECT cohort AS cohort_a, n AS n_a FROM g
          ORDER BY cohort LIMIT 1),
    b AS (SELECT cohort AS cohort_b, n AS n_b FROM g
          ORDER BY cohort DESC LIMIT 1),
    r AS (SELECT cohort_a, cohort_b, n_a, n_b,
                 CAST(n_a + n_b AS DOUBLE) * 0.5 AS ea,
                 CAST(n_a + n_b AS DOUBLE)
                   - CAST(n_a + n_b AS DOUBLE) * 0.5 AS eb
          FROM a CROSS JOIN b)
    SELECT cohort_a, cohort_b, n_a, n_b,
           CAST(500 AS BIGINT) AS expected_a_permille,
           round((CAST(n_a AS DOUBLE) - ea)
                 * (CAST(n_a AS DOUBLE) - ea) / ea
                 + (CAST(n_b AS DOUBLE) - eb)
                 * (CAST(n_b AS DOUBLE) - eb) / eb, 6)
             AS chi2,
           round((CAST(n_a AS DOUBLE) - ea)
                 * (CAST(n_a AS DOUBLE) - ea) / ea
                 + (CAST(n_b AS DOUBLE) - eb)
                 * (CAST(n_b AS DOUBLE) - eb) / eb, 6)
             > 10.828 AS srm
    FROM r""")
def _q_stats_srm(spark, sf_dir):
    """Sample-ratio mismatch guardrail on the even/odd user split
    against the configured 50/50."""
    return srm_check(_ab_subjects(spark, sf_dir).select("cohort"))


# Wilson lower bound, identical pinned expression order
@query("stats_wilson_domains", oracle="""
    WITH g AS (
      SELECT source AS "group",
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN n_chars > 300 THEN 1 ELSE 0
                  END) AS BIGINT) AS n_pass
      FROM documents GROUP BY source)
    SELECT "group", n, n_pass,
           CAST(floor((CAST(n_pass AS DOUBLE) / n
                       + (1.96 * 1.96) / (2.0 * n)
                       - 1.96 * sqrt(((CAST(n_pass AS DOUBLE) / n)
                                      * (1.0 - CAST(n_pass
                                         AS DOUBLE) / n)
                                      + (1.96 * 1.96) / (4.0 * n))
                                     / n))
                      / (1.0 + (1.96 * 1.96) / n) * 1000000) AS BIGINT)
             AS wilson_lb_micro
    FROM g ORDER BY "group" """)
def _q_stats_wilson_domains(spark, sf_dir):
    """Wilson lower-bound domain quality ranking (quality.wilson_
    domain_ranking): pass = n_chars above the corpus-planted
    threshold, grouped per source — the small-sample-penalizing
    ranking that decides domain keep/drop after per-page gates."""
    docs = (_read(spark, sf_dir, "documents")
            .select("source",
                    (F.col("n_chars") > 300).alias("passed")))
    return (wilson_domain_ranking(docs)
            .orderBy("group"))
