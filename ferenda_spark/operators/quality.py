"""Data-quality / status operators.

* ``resource_validation`` — the reference's sub-resource checks
  (render_xhtml_validate, documentrepository.py:1609-1625; SURVEY.md
  T3): no duplicate ``@about`` per document, at most ``max_resources``
  URI-addressable sub-resources per document.  Spark restatement: one
  aggregation over the triples table, grouped by document context —
  a single shuffle on the context key, no Python.

* ``repo_status`` — get_status / frontpage counts
  (documentrepository.py:3549-3626, rfc.py:699-719; SURVEY.md A7):
  per-repo-kind document/error/part counts over the parsed stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .. import vocab


def resource_validation(triples: DataFrame,
                        max_resources: int = 1000) -> DataFrame:
    """Per document context: number of distinct sub-resources, number
    of duplicated ``@about`` subjects (same subject typed more than
    once — render_xhtml_validate's first check), and whether the doc
    exceeds ``max_resources`` (decorators.py:299-303)."""
    typed = triples.where(F.col("pred") == vocab.RDF_TYPE)
    per_subj = (typed.groupBy("context", "subj")
                .agg(F.count("*").alias("n_typed")))
    return (per_subj.groupBy("context")
            .agg(F.count("*").alias("n_resources"),
                 F.sum(F.when(F.col("n_typed") > 1, 1).otherwise(0))
                 .alias("n_duplicate_abouts"))
            .withColumn("over_limit",
                        F.col("n_resources") > F.lit(max_resources)))


def repo_status(parsed: DataFrame) -> DataFrame:
    """Per document kind (the repo analogue): doc / error / part /
    link counts — the frontpage + get_status counters."""
    return (parsed.groupBy("kind")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0))
                 .alias("n_errors"),
                 F.sum(F.size("sections")).alias("n_parts"),
                 F.sum(F.size("links")).alias("n_links")))


def profile_table(df: DataFrame, columns: list = None) -> DataFrame:
    """One-pass data profiling — per-column row count, null count,
    exact distinct count, lexicographic min/max (values rendered as
    strings so one schema fits every column type): the statistics
    table warehouse catalogs (Iceberg `ANALYZE`, Delta column stats)
    maintain for CBO join ordering, partition pruning, and data-
    quality monitoring, restated as a DataFrame program.

    Shape: one explode of the row into (column, value) pairs — a
    map-side UDTF-shaped stack — then a single groupBy(column).
    min/max/counts partial-aggregate map-side, but EXACT NDV makes
    the shuffle carry the per-partition-distinct (column, value)
    pairs — corpus-sized in the worst case, which is precisely why
    production profiling at 10^12 rows swaps ``countDistinct`` for
    ``approx_count_distinct`` (HLL: constant-size partials, same
    plan otherwise) or feeds :func:`ferenda_spark.operators.
    sketches.hll_registers` per column.  Exact NDV is kept here
    because the driver oracle demands determinism."""
    cols = columns or df.columns
    pairs = df.select(F.explode(F.array(*[
        F.struct(F.lit(c).alias("column"),
                 F.col(c).cast("string").alias("value"))
        for c in cols])).alias("kv")).select("kv.column", "kv.value")
    return (pairs.groupBy("column")
            .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                 F.sum(F.col("value").isNull().cast("long"))
                 .cast("long").alias("n_nulls"),
                 F.countDistinct("value").cast("long")
                 .alias("n_distinct"),
                 F.min("value").alias("min_val"),
                 F.max("value").alias("max_val")))


def calibration_bins(scored: DataFrame, n_bins: int = 10,
                     score_col: str = "score",
                     label_col: str = "label") -> DataFrame:
    """Reliability diagram + expected-calibration-error terms for a
    [0,1]-scored binary classifier — the acceptance gate for the
    quality/spam/language classifiers that decide what a web corpus
    keeps (a filter whose 0.9 means 60% precision silently skews the
    corpus; ECE is the standard audit, Guo et al., ICML 2017).

    ``scored``: one row per example with ``score`` ∈ [0,1] and
    integral ``label`` ∈ {0,1}.  Returns one row per non-empty
    equal-width bin:

    (bin, n, n_pos, mean_score, frac_pos, gap) where ``gap`` =
    |frac_pos − mean_score| is the bin's calibration error; ECE =
    Σ n/N · gap is one further trivial aggregate for the caller.

    Scale shape: ONE groupBy on the bin id (≤ n_bins groups, map-side
    partials do all the work).  Exactness: mean_score divides a SUM
    of doubles — associativity-safe only if callers feed scores that
    are exact binary fractions (k/2^m, e.g. model logits quantized
    to 1/256); frac_pos and gap are exact IEEE divisions of longs.
    """
    b = F.least(F.floor(F.col(score_col) * n_bins).cast("long"),
                F.lit(int(n_bins) - 1))
    per = (scored
           .groupBy(b.alias("bin"))
           .agg(F.count(F.lit(1)).cast("long").alias("n"),
                F.sum(F.col(label_col).cast("long")).cast("long")
                .alias("n_pos"),
                F.sum(F.col(score_col)).alias("sum_score")))
    mean_score = F.col("sum_score") / F.col("n")
    frac_pos = F.col("n_pos").cast("double") / F.col("n")
    return per.select(
        "bin", "n", "n_pos",
        mean_score.alias("mean_score"),
        frac_pos.alias("frac_pos"),
        F.abs(frac_pos - mean_score).alias("gap"))


def cohens_kappa(pairs: DataFrame, a_col: str = "label_a",
                 b_col: str = "label_b") -> DataFrame:
    """Cohen's kappa between two annotators over the same examples —
    the inter-annotator-agreement gate for the human (or LLM-judge)
    label sets that train the quality/spam classifiers; raw percent
    agreement overstates reliability whenever the label marginals are
    skewed, which web-corpus labels always are.

    Returns ONE row: (n, n_agree, po, pe, kappa) with

    * ``po``  = n_agree / n (observed agreement),
    * ``pe``  = sum_k na_k * nb_k / n**2 (chance agreement) — the
      numerator is an exact LONG sum of per-label marginal products,
      so only ONE IEEE division happens and a SQL replay is
      bit-exact (never sum per-label doubles: that reintroduces
      order dependence),
    * ``kappa`` = (po - pe) / (1 - pe), NULL at the pe = 1
      degenerate point (both annotators constant).

    Scale shape: one groupBy on the label pair (|labels|**2 groups),
    then dimension-sized arithmetic — map-side partials do all the
    work, example rows never shuffle more than their two labels.
    """
    cell = (pairs.groupBy(F.col(a_col).alias("a"),
                          F.col(b_col).alias("b"))
            .agg(F.count(F.lit(1)).cast("long").alias("c")))
    cell = cell.localCheckpoint(eager=True)
    na = cell.groupBy("a").agg(F.sum("c").cast("long").alias("na"))
    nb = cell.groupBy("b").agg(F.sum("c").cast("long").alias("nb"))
    prod = (na.join(nb, na["a"] == nb["b"])
            .agg(F.sum(F.col("na") * F.col("nb")).cast("long")
                 .alias("s_pe")))
    tot = cell.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.when(F.col("a") == F.col("b"), F.col("c"))
              .otherwise(0)).cast("long").alias("n_agree"))
    j = tot.crossJoin(prod)  # two 1-row frames
    po = F.col("n_agree").cast("double") / F.col("n")
    pe = F.col("s_pe").cast("double") / (F.col("n") * F.col("n"))
    return j.select(
        "n", "n_agree", po.alias("po"), pe.alias("pe"),
        F.when(pe < 1.0, (po - pe) / (F.lit(1.0) - pe))
        .alias("kappa"))


def gini_concentration(rows: DataFrame, key_col: str) -> DataFrame:
    """Gini coefficient of the per-key row counts — the corpus-
    concentration audit (how much of the crawl one domain owns; a
    mix at gini 0 is uniform across keys, near 1 is one-domain
    dominated).  Uses the rank formula over ascending counts

        G = 2 * sum_i i * x_i / (n * sum_i x_i)  -  (n + 1) / n

    with every sum a LONG (rank * count products stay < 2**63 for
    any real corpus), so exactly two IEEE divisions and one subtract
    happen — a SQL replay matches bit-for-bit.

    Scale shape: one groupBy(key) (map-side partials over the raw
    rows), then ONE window over the key *dimension* (|keys| rows —
    domains, not documents) ordered by (count, key); the final
    aggregate is a single row.
    """
    from pyspark.sql import Window
    cnt = (rows.groupBy(F.col(key_col).alias("k"))
           .agg(F.count(F.lit(1)).cast("long").alias("x")))
    w = Window.orderBy("x", "k")
    ranked = cnt.select("x", F.row_number().over(w)
                        .cast("long").alias("i"))
    agg = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("x").cast("long").alias("total"),
        F.sum(F.col("i") * F.col("x")).cast("long").alias("s1"))
    n = F.col("n_keys").cast("double")
    return agg.select(
        "n_keys", "total",
        ((F.lit(2.0) * F.col("s1"))
         / (F.col("n_keys") * F.col("total"))
         - (F.col("n_keys") + 1) / n).alias("gini"))


_RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


def property_coverage(triples: DataFrame, subj_col: str = "subj",
                      pred_col: str = "pred", obj_col: str = "obj",
                      type_pred: str = _RDF_TYPE) -> DataFrame:
    """Schema-completeness audit of a KG: for every (class, predicate)
    pair, the fraction of the class's entities that carry at least one
    value of the predicate -- the LOD-stats-style profile that tells a
    KG consumer which properties are dependable (coverage ~1) and
    which are sparse decoration, and tells fact fusion where missing
    values are *expected* vs anomalous.

    Program: distinct (entity, class) from the rdf:type triples;
    distinct (entity, predicate) from the rest; join on entity, ONE
    groupBy on (class, predicate); class sizes join back (a class
    dimension, broadcast).  ``coverage = n_with / n_entities``, one
    IEEE division.  Entities with several classes count toward each --
    the standard multi-typing semantics.
    """
    s, p, o = F.col(subj_col), F.col(pred_col), F.col(obj_col)
    types = (triples.where(p == type_pred)
             .select(s.alias("e"), o.alias("cls")).distinct())
    nent = types.groupBy("cls").agg(
        F.count(F.lit(1)).cast("long").alias("n_entities"))
    sp = (triples.where(p != type_pred)
          .select(s.alias("e"), p.alias("pred")).distinct())
    cov = (sp.join(types, "e")
           .groupBy("cls", "pred")
           .agg(F.count(F.lit(1)).cast("long").alias("n_with")))
    return (cov.join(F.broadcast(nent), "cls")
            .select("cls", "pred", "n_with", "n_entities",
                    (F.col("n_with").cast("double")
                     / F.col("n_entities")).alias("coverage")))


def eb_domain_quality(scored: DataFrame, domain_col: str = "domain",
                      score_col: str = "score",
                      alpha: float = 20.0) -> DataFrame:
    """Per-domain quality with empirical-Bayes shrinkage: the raw
    per-domain mean is unusable for crawl prioritization because a
    2-document domain with two lucky scores outranks a consistent
    10^6-document one; shrinking toward the corpus mean with prior
    strength ``alpha`` (pseudo-observations at the global mean) is
    the standard fix:

        shrunk = (sum_d + alpha * global_mean) / (n_d + alpha)

    Exactness discipline: sums stay raw (never average-of-averages),
    ``global_mean`` is ONE division of two corpus aggregates, and the
    shrunk score is one more division -- a SQL replay with the same
    operation order is bit-exact when scores are binary fractions.

    Scale shape: one groupBy(domain) with map-side partials, plus a
    1-row global aggregate cross-joined in (broadcast); output is the
    domain dimension.
    """
    d, sc = F.col(domain_col), F.col(score_col)
    per = (scored.groupBy(d.alias("domain"))
           .agg(F.sum(sc).alias("s_d"),
                F.count(F.lit(1)).cast("long").alias("n_docs")))
    g = scored.agg(F.sum(sc).alias("g_s"),
                   F.count(F.lit(1)).cast("long").alias("g_n"))
    a = F.lit(float(alpha))
    gm = F.col("g_s") / F.col("g_n")
    return (per.crossJoin(F.broadcast(g))  # 1-row global aggregate
            .select("domain", "n_docs",
                    (F.col("s_d") / F.col("n_docs")).alias("mean_score"),
                    ((F.col("s_d") + a * gm)
                     / (F.col("n_docs") + a)).alias("shrunk_score")))


def psi_drift(expected: DataFrame, actual: DataFrame,
              score_col: str = "score", n_bins: int = 10) -> DataFrame:
    """Population-stability-index drift monitor between a reference
    score distribution and the current crawl's: per decile bin,
    ``contrib = (q - p) * ln(q / p)`` where p/q are the expected /
    actual bin shares -- the standard model-monitoring statistic
    (PSI < 0.1 stable, > 0.25 drifted).

    Scores are assumed in [0, 1); bins are ``least(floor(score *
    n_bins), n_bins - 1)``.  Bins empty on EITHER side are returned
    with a NULL contrib instead of an epsilon fudge -- the caller
    sees exactly which bins lack support.  Shares are ONE division
    each; the per-bin output avoids an order-dependent float total
    (sum the contribs in the consumer if a scalar is wanted).

    Scale shape: two map-side-partial groupBys on a 10-row bin
    dimension, one tiny outer join.  Returns
    (bin, n_expected, n_actual, p_expected, p_actual, contrib).
    """
    def bins(df, name):
        sc = F.col(score_col)
        b = F.least(F.floor(sc * n_bins).cast("long"),
                    F.lit(int(n_bins) - 1))
        return (df.select(b.alias("bin"))
                .groupBy("bin")
                .agg(F.count(F.lit(1)).cast("long").alias(name)))
    e = bins(expected, "n_expected")
    a = bins(actual, "n_actual")
    te = expected.agg(F.count(F.lit(1)).cast("long").alias("t_e"))
    ta = actual.agg(F.count(F.lit(1)).cast("long").alias("t_a"))
    j = (e.join(a, "bin", "full_outer")
         .select("bin",
                 F.coalesce("n_expected", F.lit(0)).cast("long")
                 .alias("n_expected"),
                 F.coalesce("n_actual", F.lit(0)).cast("long")
                 .alias("n_actual"))
         .crossJoin(F.broadcast(te)).crossJoin(F.broadcast(ta)))
    p = F.col("n_expected").cast("double") / F.col("t_e")
    q = F.col("n_actual").cast("double") / F.col("t_a")
    return j.select(
        "bin", "n_expected", "n_actual",
        p.alias("p_expected"), q.alias("p_actual"),
        F.when((F.col("n_expected") > 0) & (F.col("n_actual") > 0),
               (q - p) * F.log(q / p)).alias("contrib"))


def predicate_functionality(triples: DataFrame, subj_col: str = "subj",
                            pred_col: str = "pred",
                            obj_col: str = "obj") -> DataFrame:
    """PARIS-style predicate (inverse) functionality: per predicate,
    ``functionality = #distinct subjects / #distinct (s, o) pairs``
    (1.0 = each subject has one value -- a key-like property;
    near 0 = set-valued) and the mirror for objects.  These two
    numbers drive probabilistic ontology alignment and tell fact
    fusion which predicates admit single truths.

    One groupBy on predicate with three COUNT(DISTINCT) aggregates
    (Spark expands-and-reshuffles internally; the grouping dimension
    is the predicate vocabulary, so every stage is map-side-heavy).
    Two IEEE divisions.  Returns
    (pred, n_pairs, n_subj, n_obj, functionality, inverse_functionality).
    """
    s, p, o = F.col(subj_col), F.col(pred_col), F.col(obj_col)
    agg = (triples.groupBy(p.alias("pred"))
           .agg(F.countDistinct(s, o).cast("long").alias("n_pairs"),
                F.countDistinct(s).cast("long").alias("n_subj"),
                F.countDistinct(o).cast("long").alias("n_obj")))
    return agg.select(
        "pred", "n_pairs", "n_subj", "n_obj",
        (F.col("n_subj").cast("double") / F.col("n_pairs"))
        .alias("functionality"),
        (F.col("n_obj").cast("double") / F.col("n_pairs"))
        .alias("inverse_functionality"))


def infer_types(triples: DataFrame, subj_col: str = "subj",
                pred_col: str = "pred", obj_col: str = "obj",
                type_pred: str = _RDF_TYPE) -> DataFrame:
    """Type inference for untyped KG entities from predicate-usage
    statistics (the SDType idea reduced to a pinned integer spec):
    typed entities vote -- for each predicate the class distribution
    of its typed subjects gives a weight ``w(pred, cls) =
    n(pred, cls) * 1_000_000 div n(pred)`` (fixed-point long, so the
    vote sums below are exact and order-free) -- and every untyped
    entity scores each class by the sum of its predicates' weights.
    The argmax class wins (score DESC, class ASC tie-break).

    Scale shape: statistics are vocabulary-sized; the scoring join
    keys untyped entities by predicate (broadcast weight table), one
    groupBy per (entity, class), one window over entity partitions.
    Returns (entity, inferred_cls, score_micro, n_preds).
    """
    from pyspark.sql import Window
    s, p = F.col(subj_col), F.col(pred_col)
    types = (triples.where(p == type_pred)
             .select(s.alias("e"), F.col(obj_col).alias("cls"))
             .distinct())
    sp = (triples.where(p != type_pred)
          .select(s.alias("e"), p.alias("pred")).distinct())
    pc = (sp.join(types, "e")
          .groupBy("pred", "cls")
          .agg(F.count(F.lit(1)).cast("long").alias("n_pc")))
    pt = pc.groupBy("pred").agg(F.sum("n_pc").cast("long").alias("n_p"))
    wts = (pc.join(pt, "pred")
           .select("pred", "cls",
                   F.expr("n_pc * 1000000 div n_p").alias("w")))
    untyped = sp.join(types.select("e").distinct(), "e", "left_anti")
    scores = (untyped.join(F.broadcast(wts), "pred")
              .groupBy("e", "cls")
              .agg(F.sum("w").cast("long").alias("score_micro"),
                   F.count(F.lit(1)).cast("long").alias("n_preds")))
    w_rank = Window.partitionBy("e").orderBy(
        F.col("score_micro").desc(), "cls")
    return (scores.withColumn("r", F.row_number().over(w_rank))
            .where(F.col("r") == 1)
            .select(F.col("e").alias("entity"),
                    F.col("cls").alias("inferred_cls"),
                    "score_micro", "n_preds"))


def ks_two_sample(values: DataFrame, group_col: str, value_col: str,
                  group_a: str, group_b: str,
                  round_to: int = 6) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test between the ``value_col``
    distributions of two groups: D = sup_x |F_a(x) - F_b(x)| over the
    merged empirical CDFs, with the asymptotic two-sided p-value from
    the Kolmogorov distribution, P = 2 * sum_k (-1)^{k-1}
    exp(-2 k^2 lambda^2) truncated at 20 terms (Stephens' small-sample
    lambda correction, as in scipy's asymp mode).  The standard
    distribution-drift gate next to :func:`psi_drift` — PSI needs
    binning, KS does not.

    Scale shape: ONE groupBy collapses the corpus to per-distinct-
    value counts (the merged ECDF only changes at observed values);
    the running CDFs are a single unpartitioned window over that
    DISTINCT-VALUE aggregate — dimension-sized (bounded by the value
    domain, e.g. document lengths), never corpus-sized.  The p-value
    is a closed-form column expression; nothing iterates.

    Returns ONE row (n_a, n_b, ks_stat, ks_lambda, p_value)."""
    from pyspark.sql import Window
    g = F.col(group_col)
    tagged = (values.where(g.isin([group_a, group_b]))
              .select(F.when(g == group_a, 1).otherwise(0).alias("in_a"),
                      F.col(value_col).alias("v"))
              .groupBy("v")
              .agg(F.sum("in_a").cast("long").alias("c_a"),
                   F.sum(F.lit(1) - F.col("in_a")).cast("long")
                   .alias("c_b")))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cdf = tagged.select(
        F.sum("c_a").over(w).alias("cum_a"),
        F.sum("c_b").over(w).alias("cum_b"))
    # two-pass: totals first (exact longs), then D from integer
    # cross-products so no double division happens inside the max
    totals = tagged.agg(F.sum("c_a").alias("n_a"),
                        F.sum("c_b").alias("n_b"))
    d_int = (cdf.crossJoin(F.broadcast(totals))
             .agg(F.max(F.abs(F.col("cum_a") * F.col("n_b")
                              - F.col("cum_b") * F.col("n_a")))
                  .alias("d_num"),
                  F.max("n_a").alias("n_a"), F.max("n_b").alias("n_b")))
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    d = F.col("d_num").cast("double") / (na * nb)
    ne = na * nb / (na + nb)
    lam = (F.sqrt(ne) + F.lit(0.12) + F.lit(0.11) / F.sqrt(ne)) * d
    p = F.lit(0.0)
    for k in range(1, 21):
        term = F.exp(F.lit(-2.0 * k * k) * lam * lam)
        p = p + (term if k % 2 == 1 else -term)
    # the alternating series needs ~1/lam terms; below lam = 0.2 the
    # true survival is 1 to >10 digits (and the 20-term cut is exact
    # above it: term 20 = exp(-32) at lam = 0.2), so pin p = 1 there
    p = F.when(lam < F.lit(0.2), F.lit(1.0)).otherwise(
        F.greatest(F.lit(0.0), F.least(F.lit(1.0), F.lit(2.0) * p)))
    return d_int.select(
        "n_a", "n_b",
        F.round(d, round_to).alias("ks_stat"),
        F.round(lam, round_to).alias("ks_lambda"),
        F.round(p, round_to).alias("p_value"))


def mann_whitney(values: DataFrame, group_col: str, value_col: str,
                 group_a: str, group_b: str,
                 round_to: int = 6) -> DataFrame:
    """Two-sample Mann-Whitney U (Wilcoxon rank-sum) with midrank tie
    handling and the tie-corrected normal approximation:
    U_a = R_a - n_a(n_a+1)/2 where R_a is the sum of midranks of
    group a in the pooled ranking; z = (U_a - n_a n_b / 2) / sigma
    with sigma^2 = (n_a n_b / 12) * (N + 1 - sum(t^3 - t)/(N(N-1))).
    The non-parametric complement of the KS gate: KS sees shape
    drift, MWU sees location shift.

    Scale shape: identical to :func:`ks_two_sample` — one groupBy to
    per-distinct-value counts, midranks from a running count over the
    distinct-value aggregate (midrank of a tie block = cum_before +
    (t+1)/2), then one global aggregate.  R_a stays in EXACT integer
    arithmetic (2*R_a = sum over blocks of c_a * (2*cum_before + t +
    1)) so both engines fold identical longs; only z is a double.

    Returns ONE row (n_a, n_b, u_a, r_a, z)."""
    from pyspark.sql import Window
    g = F.col(group_col)
    tagged = (values.where(g.isin([group_a, group_b]))
              .select(F.when(g == group_a, 1).otherwise(0).alias("in_a"),
                      F.col(value_col).alias("v"))
              .groupBy("v")
              .agg(F.sum("in_a").cast("long").alias("c_a"),
                   F.sum(F.lit(1) - F.col("in_a")).cast("long")
                   .alias("c_b")))
    w = (Window.orderBy("v")
         .rowsBetween(Window.unboundedPreceding, -1))
    t = F.col("c_a") + F.col("c_b")
    blocks = tagged.select(
        "c_a", "c_b", t.alias("t"),
        F.coalesce(F.sum(F.col("c_a") + F.col("c_b")).over(w),
                   F.lit(0)).alias("cum_before"))
    agg = blocks.agg(
        F.sum("c_a").alias("n_a"), F.sum("c_b").alias("n_b"),
        F.sum(F.col("c_a")
              * (F.lit(2) * F.col("cum_before") + F.col("t") + F.lit(1)))
        .alias("r2_a"),                       # = 2 * R_a, exact long
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .alias("tie_sum"))
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    n = na + nb
    r_a = F.col("r2_a").cast("double") / F.lit(2.0)
    u_a = r_a - na * (na + F.lit(1.0)) / F.lit(2.0)
    var = (na * nb / F.lit(12.0)
           * ((n + F.lit(1.0))
              - F.col("tie_sum").cast("double") / (n * (n - F.lit(1.0)))))
    # NULL z when every pooled value ties (var = 0)
    z = F.when(var > 0, (u_a - na * nb / F.lit(2.0)) / F.sqrt(var))
    return agg.select(
        "n_a", "n_b",
        F.round(u_a, round_to).alias("u_a"),
        F.round(r_a, round_to).alias("r_a"),
        F.round(z, round_to).alias("z"))


def chi2_independence(rows: DataFrame, col_a: str, col_b: str,
                      round_to: int = 6) -> DataFrame:
    """Pearson chi-square test of independence between two
    categorical columns, with Cramér's V effect size.  Uses the
    closed form chi2 = N * (sum_cells O_ij^2 / (R_i * C_j) - 1),
    which needs only the OBSERVED cells (absent cells contribute
    exactly their expected count, which the -1 term absorbs) and
    keeps everything integer until one final double expression.
    The corpus-balance gate: is language independent of source, or
    does one crawl feed one language?

    Scale shape: one groupBy for the contingency cells, two
    dimension-sized marginal aggregates joined back to the cells
    (broadcast — marginals are #categories rows), one scalar
    aggregate.  No pivot, no driver-side matrix.

    Returns ONE row (n, n_rows, n_cols, dof, chi2, cramers_v)."""
    cells = (rows.groupBy(F.col(col_a).alias("a"),
                          F.col(col_b).alias("b"))
             .agg(F.count(F.lit(1)).cast("long").alias("o")))
    ra = cells.groupBy("a").agg(F.sum("o").alias("ra"))
    cb = cells.groupBy("b").agg(F.sum("o").alias("cb"))
    j = (cells.join(F.broadcast(ra), "a").join(F.broadcast(cb), "b")
         .select("o", "ra", "cb",
                 (F.col("o").cast("double") * F.col("o")
                  / (F.col("ra").cast("double") * F.col("cb")))
                 .alias("term")))
    agg = j.agg(F.sum("o").cast("long").alias("n"),
                F.count(F.lit(1)).cast("long").alias("n_cells"),
                F.sum("term").alias("t"))
    nr = cells.select("a").distinct().count()
    nc = cells.select("b").distinct().count()
    dof = (nr - 1) * (nc - 1)
    nd = F.col("n").cast("double")
    chi2 = nd * (F.round(F.col("t"), 12) - F.lit(1.0))
    mind = float(min(nr - 1, nc - 1)) or 1.0
    v = F.sqrt(F.greatest(F.lit(0.0), chi2 / (nd * F.lit(mind))))
    return agg.select(
        "n", F.lit(nr).cast("long").alias("n_rows"),
        F.lit(nc).cast("long").alias("n_cols"),
        F.lit(int(dof)).cast("long").alias("dof"),
        F.round(chi2, round_to).alias("chi2"),
        F.round(v, round_to).alias("cramers_v"))


def benford_digits(rows: DataFrame, value_col: str,
                   round_to: int = 6) -> DataFrame:
    """First-significant-digit distribution against Benford's law
    (P(d) = log10(1 + 1/d)) over the positive values of
    ``value_col`` — the classic forged-data screen: organically
    grown magnitudes (view counts, purchase values, inlink counts)
    follow Benford; fabricated or bot-generated ones usually don't.

    The digit is extracted arithmetically — floor(v / 10^floor(
    log10 v)) — no string formatting, so the whole extraction stays
    in whole-stage codegen.

    Scale shape: one map-side digit projection into one groupBy with
    AT MOST NINE groups; the final frame joins the 1-row total by
    broadcast.  Returns (digit, n, frac, benford_p, diff) for the
    nine digits (absent digits still appear with n = 0 via the
    digit dimension)."""
    spark = rows.sparkSession
    v = F.col(value_col).cast("double")
    d = F.floor(v / F.pow(F.lit(10.0), F.floor(F.log10(v))))
    got = (rows.where(v > 0)
           .select(d.cast("int").alias("digit"))
           .groupBy("digit")
           .agg(F.count(F.lit(1)).cast("long").alias("n")))
    digits = spark.createDataFrame(
        [(i,) for i in range(1, 10)], "digit int")
    tot = got.agg(F.sum("n").alias("tot"))
    frac = F.col("n").cast("double") / F.col("tot").cast("double")
    bp = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    return (digits.join(got, "digit", "left")
            .select("digit",
                    F.coalesce("n", F.lit(0)).cast("long").alias("n"))
            .crossJoin(F.broadcast(tot))
            .select("digit", "n",
                    F.round(frac, round_to).alias("frac"),
                    F.round(bp, round_to).alias("benford_p"),
                    F.round(F.abs(frac - bp), round_to).alias("diff")))


# cumulative Poisson(1) CDF thresholds scaled to 10^6 (floor of
# 10^6 * P(W <= k)): inverse-CDF sampling from a uniform hash bucket.
# P(0)=.367879  P(<=1)=.735759  P(<=2)=.919699  P(<=3)=.981012
# P(<=4)=.996340  P(<=5)=.999406  P(<=6)=.999917; tail capped at 7.
_POISSON1_CUM = [367879, 735758, 919698, 981011, 996340, 999406,
                 999917]


def bootstrap_mean(rows: DataFrame, id_col: str, value_col: str,
                   n_boot: int = 100, alpha: float = 0.025,
                   scale: int = 100, round_to: int = 6) -> DataFrame:
    """Percentile bootstrap confidence interval for the mean via the
    POISSON BOOTSTRAP (each replicate weights every row
    independently with W ~ Poisson(1) instead of drawing n-out-of-n,
    which needs global coordination — the standard reformulation for
    distributed data, e.g. Chamandy et al., "Estimating uncertainty
    for massive data streams", Google 2012).  Weights are
    deterministic: the md5 of "id:replicate" selects a uniform
    10^-6 bucket fed through the Poisson(1) inverse CDF, so both
    engines and every rerun draw the same resamples.

    ``scale`` declares the value column's exact decimal resolution
    (100 = cents): values become exact longs, every replicate sum is
    exact integer arithmetic, and each bootstrap mean is ONE IEEE
    division — no order-dependent double sums anywhere.

    Scale shape: rows x n_boot is the only big frame (a crossJoin
    with a broadcast replicate dimension — map-side, no shuffle),
    collapsed immediately by one groupBy(replicate) into n_boot
    rows; the CI is a rank-picked order statistic over those n_boot
    rows.  At 10^12 rows one runs the replicates over a sample or
    shards the id space; the plan shape is unchanged.

    Returns ONE row (n, mean, ci_lo, ci_hi, n_boot) with lo/hi the
    ceil(alpha*B)-th / ceil((1-alpha)*B)-th smallest replicate
    means."""
    import math as _m
    from pyspark.sql import Window
    spark = rows.sparkSession
    base = rows.select(
        F.col(id_col).cast("string").alias("rid"),
        F.round(F.col(value_col).cast("double") * scale)
        .cast("long").alias("cents"))
    obs = base.agg(F.count(F.lit(1)).cast("long").alias("n"),
                   F.sum("cents").alias("s"))
    reps = spark.range(1, n_boot + 1).select(
        F.col("id").cast("int").alias("b"))
    h = (F.conv(F.substring(
        F.md5(F.concat_ws(":", F.col("rid"),
                          F.col("b").cast("string"))), 1, 8),
        16, 10).cast("long") % 1000000)
    w = F.lit(7)
    for k in range(len(_POISSON1_CUM) - 1, -1, -1):
        w = F.when(h < F.lit(_POISSON1_CUM[k]), F.lit(k)).otherwise(w)
    boot = (base.crossJoin(F.broadcast(reps))
            .select("b", w.alias("w"), "cents")
            .groupBy("b")
            .agg(F.sum("w").cast("long").alias("nw"),
                 F.sum(F.col("w") * F.col("cents")).alias("sw")))
    means = boot.select(
        "b", (F.col("sw").cast("double")
              / (F.col("nw").cast("double") * scale)).alias("m"))
    lo_rank = int(_m.ceil(alpha * n_boot))
    hi_rank = int(_m.ceil((1.0 - alpha) * n_boot))
    ranked = means.withColumn(
        "r", F.row_number().over(Window.orderBy("m", "b")))
    ci = (ranked.where(F.col("r").isin([lo_rank, hi_rank]))
          .agg(F.min(F.when(F.col("r") == lo_rank, F.col("m")))
               .alias("ci_lo"),
               F.min(F.when(F.col("r") == hi_rank, F.col("m")))
               .alias("ci_hi"),
               F.count(F.lit(1)).alias("_k")))
    return (obs.crossJoin(ci)
            .select("n",
                    F.round(F.col("s").cast("double")
                            / (F.col("n").cast("double") * scale),
                            round_to).alias("mean"),
                    F.round("ci_lo", round_to).alias("ci_lo"),
                    F.round("ci_hi", round_to).alias("ci_hi"),
                    F.lit(int(n_boot)).cast("long").alias("n_boot")))


def bh_fdr(tests: DataFrame, alpha_micro: int = 50000,
           id_col: str = "test_id",
           p_col: str = "p_micro") -> DataFrame:
    """Benjamini-Hochberg false-discovery-rate control over a family
    of hypothesis tests (p-values in integer micro-units, 0..1e6):
    the multiple-comparisons gate for the per-domain / per-source
    screening the stats_* family produces — run one test per domain
    at 10^5 domains and alpha=0.05 and you get 5000 false alarms;
    BH caps the EXPECTED false-discovery fraction at alpha instead.

    Procedure (Benjamini & Hochberg 1995): sort p ascending, find
    the largest k with p_(k) <= k/m * alpha, reject hypotheses
    1..k.  The comparison is kept in exact integer cross-multiplied
    form (``p_micro * m <= rank * alpha_micro``) so no division ever
    rounds, and the step-up "reject everything at or below the
    largest passing rank" is a running max over the ordered window —
    one global window pass.  m = the number of HYPOTHESES (domains,
    sources — dimension-sized, not data-sized), so the single-
    partition window is metadata-cheap even when the underlying
    corpus is 100 TB; the heavy part (computing each test's
    statistic) already happened upstream in parallel.

    Returns (test_id, p_micro, rank, bh_threshold_micro, rejected)
    with bh_threshold_micro = rank * alpha_micro div m and rejected
    the step-up decision (0/1 long).
    """
    from pyspark.sql import Window
    m = tests.count()
    w = Window.orderBy(F.col(p_col), F.col(id_col))
    passing = (F.col(p_col) * m <= F.col("rank") * alpha_micro)
    wall = (Window.orderBy(F.col(p_col), F.col(id_col))
            .rowsBetween(Window.currentRow, Window.unboundedFollowing))
    return (tests
            .select(F.col(id_col).alias("test_id"),
                    F.col(p_col).cast("long").alias("p_micro"))
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .withColumn("bh_threshold_micro",
                        F.expr("rank * %d div %d"
                               % (int(alpha_micro), max(m, 1)))
                        .cast("long"))
            .withColumn(
                "rejected",
                F.max(passing.cast("long")).over(wall).cast("long")))


def mad_outliers(rows: DataFrame, group_col: str = "group",
                 value_col: str = "value",
                 k_permille: int = 3000) -> DataFrame:
    """Robust outlier detection via median / MAD (median absolute
    deviation) — the screen that survives the contamination that
    breaks mean/stddev z-scores (one spam burst inflates sigma and
    hides itself; the breakdown point of MAD is 50%).  Flags rows
    with ``|x - median| * 1000 > k_permille * MAD``.

    Exactness discipline: medians are the LOWER MEDIAN (element at
    ceil(n/2) in sort order) — an order statistic, hence an exact
    integer from the data domain, not an interpolated float; both
    median passes are window ranks inside the group (no
    percentile_approx, which is sketch-based and engine-specific).
    The comparison cross-multiplies so no division rounds.

    Two window passes + two joins, all keyed on the group — one
    shuffle family.  Degenerate groups (MAD = 0) flag every value
    different from the median, the standard convention.

    Returns (group, value, median, mad, abs_dev, is_outlier).
    """
    from pyspark.sql import Window

    def lower_median(df, col, out):
        w = Window.partitionBy("group").orderBy(col)
        n = Window.partitionBy("group")
        return (df.withColumn("_rn", F.row_number().over(w))
                .withColumn("_n", F.count(F.lit(1)).over(n))
                .where(F.col("_rn") == F.expr("(_n + 1) div 2"))
                .select("group", F.col(col).alias(out)))
    v = rows.select(F.col(group_col).alias("group"),
                    F.col(value_col).cast("long").alias("value"))
    med = lower_median(v, "value", "median")
    dev = (v.join(med, "group")
           .withColumn("abs_dev",
                       F.abs(F.col("value") - F.col("median"))
                       .cast("long")))
    mad = lower_median(dev.select("group",
                                  F.col("abs_dev").alias("value")),
                       "value", "mad")
    return (dev.join(mad, "group")
            .select("group", "value", "median",
                    F.col("mad").cast("long").alias("mad"),
                    "abs_dev",
                    (F.col("abs_dev") * 1000
                     > F.col("mad") * int(k_permille))
                    .cast("long").alias("is_outlier")))


def spearman_rho(values: DataFrame, group_col: str, x_col: str,
                 y_col: str, id_col: str) -> DataFrame:
    """Per-group Spearman rank correlation between two per-item
    metrics — the monotone-drift check between, e.g., a quality
    score and document length, run per source/domain.  Ranks are
    row_number over (metric, id): the id tiebreak makes every rank
    distinct and deterministic, so the tie-free closed form
    rho = 1 - 6*sum(d^2) / (n(n^2-1)) is EXACT rational arithmetic
    (declared deviation from midrank tie handling — ties break by id
    on both metrics, the same convention both engines replay).

    Scale shape: two per-group sort windows (the unavoidable cost of
    ranking, same as any per-group ordering) + one group aggregate;
    everything is keyed on the group, nothing global.  rho is
    emitted micro-scaled: 1_000_000 - (6_000_000 * sum_d2) div
    (n(n^2-1)) — the divided term is non-negative, so integer div
    agrees between Spark (truncate) and DuckDB (floor).  Groups with
    n < 2 report NULL.

    Returns (group, n, sum_d_sq, rho_micro)."""
    from pyspark.sql import Window
    g, i = F.col(group_col), F.col(id_col)
    rx = F.row_number().over(
        Window.partitionBy(g).orderBy(F.col(x_col).asc(), i.asc()))
    ry = F.row_number().over(
        Window.partitionBy(g).orderBy(F.col(y_col).asc(), i.asc()))
    ranked = values.select(
        g.alias("group"),
        (rx.cast("long") - ry.cast("long")).alias("d"))
    agg = (ranked.groupBy("group")
           .agg(F.count(F.lit(1)).cast("long").alias("n"),
                F.sum(F.col("d") * F.col("d")).cast("long")
                .alias("sum_d_sq")))
    # DECIMAL(38) intermediates: 6e6 * sum_d_sq overflows int64 once
    # a group passes ~16.6k rows (sum_d_sq reaches (n^3-n)/3), and
    # Spark would wrap silently where DuckDB's HUGEINT keeps going —
    # the engines would diverge exactly when groups get big.  Decimal
    # `div` is exact integer division, verified equal to DuckDB's
    # HUGEINT `//` (n=30k spot check), good to n ~ 10^9 rows/group.
    rho = F.when(
        F.col("n") >= 2,
        F.lit(1000000)
        - F.expr("(cast(6000000 as decimal(38,0)) * sum_d_sq) div "
                 "(cast(n as decimal(38,0)) * "
                 "(cast(n as decimal(38,0)) * n - 1))"))
    return agg.select("group", "n", "sum_d_sq",
                      rho.cast("long").alias("rho_micro"))


def kendall_tau(values: DataFrame, group_col: str, x_col: str,
                y_col: str, id_col: str) -> DataFrame:
    """Per-group Kendall tau-a between two per-item metrics, on the
    same id-tiebroken rankings as :func:`spearman_rho` (ties break
    by id, so no pair is ever tied and tau-a == tau-b — declared).
    tau = (C - D) / (n(n-1)/2) over concordant/discordant pairs.

    Scale shape: one self-join keyed on the GROUP (co-partitioned;
    per-group work is the quadratic pair count — exact Kendall is
    O(n^2) pairwise by definition, so groups are expected
    source/domain-sized; a corpus-sized group would switch to the
    O(n log n) inversion-count formulation or sample).  Counters are
    exact longs; tau is emitted micro-scaled as
    sign(C-D) * (|C-D| * 1_000_000 div n_pairs) so the integer
    division always sees a non-negative dividend (Spark div
    truncates, DuckDB // floors — they only agree above zero).

    Returns (group, n, n_concordant, n_discordant, tau_micro)."""
    from pyspark.sql import Window
    g, i = F.col(group_col), F.col(id_col)
    rx = F.row_number().over(
        Window.partitionBy(g).orderBy(F.col(x_col).asc(), i.asc()))
    ry = F.row_number().over(
        Window.partitionBy(g).orderBy(F.col(y_col).asc(), i.asc()))
    ranked = values.select(g.alias("group"), i.alias("id"),
                           rx.alias("rx"), ry.alias("ry"))
    a = ranked.select("group", F.col("id").alias("ia"),
                      F.col("rx").alias("xa"), F.col("ry").alias("ya"))
    b = ranked.select("group", F.col("id").alias("ib"),
                      F.col("rx").alias("xb"), F.col("ry").alias("yb"))
    pairs = (a.join(b, "group")
             .where(F.col("ia") < F.col("ib"))
             .select("group",
                     (((F.col("xa") < F.col("xb"))
                       & (F.col("ya") < F.col("yb")))
                      | ((F.col("xa") > F.col("xb"))
                         & (F.col("ya") > F.col("yb"))))
                     .cast("long").alias("conc")))
    agg = (pairs.groupBy("group")
           .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"),
                F.sum("conc").cast("long").alias("n_concordant")))
    nd = (F.col("n_pairs") - F.col("n_concordant")).cast("long") \
        .alias("n_discordant")
    # n from pair count: n_pairs = n(n-1)/2 -> recover via the join
    # would need a second aggregate; carry it from the ranked table
    ncount = (ranked.groupBy("group")
              .agg(F.count(F.lit(1)).cast("long").alias("n")))
    out = agg.join(ncount, "group")
    diff = F.col("n_concordant") - (F.col("n_pairs")
                                    - F.col("n_concordant"))
    tau = F.when(
        F.col("n_pairs") > 0,
        F.signum(diff).cast("long")
        * F.expr("abs(n_concordant - (n_pairs - n_concordant))"
                 " * 1000000 div n_pairs"))
    return out.select("group", "n", "n_concordant", nd,
                      tau.cast("long").alias("tau_micro"))


def _exactly_two_cohorts(row, g):
    """Runtime guard shared by the A/B statistics: the min/max-cohort
    convention silently IGNORED middle cohorts when >2 were present,
    and compared a lone cohort against itself when only 1 was — both
    now raise inside the job via assert_true (kept lazy: the check is
    a filter over the 1-row result, so no extra driver action)."""
    nc = g.agg(F.count(F.lit(1)).cast("long").alias("_n_cohorts"))
    return (row.crossJoin(F.broadcast(nc))
            .where(F.coalesce(
                F.assert_true(
                    F.col("_n_cohorts") == 2,
                    F.concat(F.lit("expected exactly 2 cohorts, got "),
                             F.col("_n_cohorts").cast("string"))),
                F.lit(True)))
            .drop("_n_cohorts"))


def two_proportion_ztest(subjects: DataFrame,
                         cohort_col: str = "cohort",
                         flag_col: str = "converted",
                         round_to: int = 6) -> DataFrame:
    """Pooled two-proportion z-test — the A/B-test significance
    check next to :func:`mann_whitney` (that one compares
    distributions, this one conversion RATES):
    z = (p_a - p_b) / sqrt(p(1-p)(1/n_a + 1/n_b)) with the pooled
    p = (x_a + x_b)/(n_a + n_b).  Cohort A is the lexicographic
    minimum (deterministic).  Counts stay exact longs; only z is a
    double, computed in one pinned expression order and rounded
    (the mann_whitney convention).

    Shape: one cohort groupBy (map-side combined) then two 1-row
    frames cross-joined — nothing data-sized after the aggregate.
    Returns ONE row (cohort_a, cohort_b, n_a, n_b, x_a, x_b, z);
    z is NULL when the pooled variance is 0."""
    g = (subjects.groupBy(F.col(cohort_col).alias("c"))
         .agg(F.count(F.lit(1)).cast("long").alias("n"),
              F.sum(F.col(flag_col).cast("long")).cast("long")
              .alias("x")))
    a = (g.orderBy(F.col("c").asc()).limit(1)
         .select(F.col("c").alias("cohort_a"),
                 F.col("n").alias("n_a"), F.col("x").alias("x_a")))
    b = (g.orderBy(F.col("c").desc()).limit(1)
         .select(F.col("c").alias("cohort_b"),
                 F.col("n").alias("n_b"), F.col("x").alias("x_b")))
    row = _exactly_two_cohorts(a.crossJoin(b), g)
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    xa, xb = F.col("x_a").cast("double"), F.col("x_b").cast("double")
    p = (xa + xb) / (na + nb)
    var = p * (F.lit(1.0) - p) * (F.lit(1.0) / na + F.lit(1.0) / nb)
    z = F.when(var > 0,
               F.round((xa / na - xb / nb) / F.sqrt(var), round_to))
    return row.select("cohort_a", "cohort_b", "n_a", "n_b",
                      "x_a", "x_b", z.alias("z"))


def tost_equivalence(subjects: DataFrame, margin: float = 0.1,
                     cohort_col: str = "cohort",
                     flag_col: str = "converted",
                     round_to: int = 6) -> DataFrame:
    """Two one-sided tests (TOST) for conversion-rate EQUIVALENCE —
    the non-inferiority check a "this change should be neutral"
    rollout needs, where :func:`two_proportion_ztest`'s null is
    backwards: here H0 is |p_a - p_b| >= margin and BOTH one-sided
    z's must clear 1.645 to declare equivalence (Schuirmann 1987).

    z_lower tests p_a - p_b > -margin, z_upper tests
    p_a - p_b < +margin, both against the unpooled SE
    sqrt(pa(1-pa)/na + pb(1-pb)/nb) (the standard TOST form —
    pooling is wrong under a nonzero null).  Counts exact longs, the
    two z's pinned IEEE expressions rounded like the z-test.

    Returns ONE row (cohort_a, cohort_b, n_a, n_b, x_a, x_b,
    z_lower, z_upper, equivalent); NULL z's (zero variance) give
    equivalent = NULL."""
    g = (subjects.groupBy(F.col(cohort_col).alias("c"))
         .agg(F.count(F.lit(1)).cast("long").alias("n"),
              F.sum(F.col(flag_col).cast("long")).cast("long")
              .alias("x")))
    a = (g.orderBy(F.col("c").asc()).limit(1)
         .select(F.col("c").alias("cohort_a"),
                 F.col("n").alias("n_a"), F.col("x").alias("x_a")))
    b = (g.orderBy(F.col("c").desc()).limit(1)
         .select(F.col("c").alias("cohort_b"),
                 F.col("n").alias("n_b"), F.col("x").alias("x_b")))
    row = _exactly_two_cohorts(a.crossJoin(b), g)
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    pa = F.col("x_a").cast("double") / na
    pb = F.col("x_b").cast("double") / nb
    var = (pa * (F.lit(1.0) - pa) / na
           + pb * (F.lit(1.0) - pb) / nb)
    se = F.sqrt(var)
    diff = pa - pb
    zl = F.when(var > 0,
                F.round((diff + F.lit(float(margin))) / se, round_to))
    zu = F.when(var > 0,
                F.round((diff - F.lit(float(margin))) / se, round_to))
    return row.select(
        "cohort_a", "cohort_b", "n_a", "n_b", "x_a", "x_b",
        zl.alias("z_lower"), zu.alias("z_upper"),
        ((zl > 1.644854) & (zu < -1.644854)).alias("equivalent"))


def srm_check(assignments: DataFrame, expected_a_permille: int = 500,
              cohort_col: str = "cohort",
              round_to: int = 6) -> DataFrame:
    """Sample-ratio mismatch guardrail — the first sanity check on
    any A/B assignment (Fabijan et al. 2019: a biased split
    invalidates every downstream metric): chi-square goodness of fit
    of the observed cohort counts against the configured split,
    flagged at the 0.001 level (chi2_1 > 10.828) as the industry
    convention.

    One cohort groupBy + 1-row arithmetic; counts exact longs, chi2
    one pinned IEEE expression.  Returns ONE row (cohort_a,
    cohort_b, n_a, n_b, expected_a_permille, chi2, srm)."""
    g = (assignments.groupBy(F.col(cohort_col).alias("c"))
         .agg(F.count(F.lit(1)).cast("long").alias("n")))
    a = (g.orderBy(F.col("c").asc()).limit(1)
         .select(F.col("c").alias("cohort_a"),
                 F.col("n").alias("n_a")))
    b = (g.orderBy(F.col("c").desc()).limit(1)
         .select(F.col("c").alias("cohort_b"),
                 F.col("n").alias("n_b")))
    row = _exactly_two_cohorts(a.crossJoin(b), g)
    tot = (F.col("n_a") + F.col("n_b")).cast("double")
    ea = tot * F.lit(expected_a_permille / 1000.0)
    eb = tot - ea
    chi2 = ((F.col("n_a").cast("double") - ea) * (
        F.col("n_a").cast("double") - ea) / ea
        + (F.col("n_b").cast("double") - eb)
        * (F.col("n_b").cast("double") - eb) / eb)
    return row.select(
        "cohort_a", "cohort_b", "n_a", "n_b",
        F.lit(expected_a_permille).cast("long")
        .alias("expected_a_permille"),
        F.round(chi2, round_to).alias("chi2"),
        (F.round(chi2, round_to) > 10.828).alias("srm"))


def wilson_domain_ranking(documents: DataFrame,
                          flag_col: str = "passed",
                          group_col: str = "source",
                          z_milli: int = 1960) -> DataFrame:
    """Per-group pass-rate ranking by the Wilson score lower bound
    (Wilson 1927; the "how not to sort by average rating" fix): a
    domain with 3/3 pages passing must NOT outrank one with 95/100 —
    the lower confidence bound penalizes small samples exactly as
    much as the binomial uncertainty warrants.  This is the
    domain-level keep/drop ranking a quality pipeline runs after the
    per-page gates, where per-domain sample sizes vary by orders of
    magnitude.

        lb = (p + z²/2n − z·sqrt((p(1−p) + z²/4n)/n)) / (1 + z²/n)

    Counts stay exact longs; the bound is ONE pinned IEEE expression
    (z = z_milli/1000, default 1.96 — the 95% bound) evaluated
    identically by any engine, floor-scaled to micro once at the end
    (floor of a bit-identical double is engine-exact; round(x, 6) at
    a tie is not: Spark HALF_UPs where DuckDB goes to even).

    Scale shape: one group aggregate (map-side combined), then
    dimension-sized arithmetic.  Returns (group, n, n_pass,
    wilson_lb_micro) ordered nowhere — callers sort by the bound."""
    g = (documents.groupBy(F.col(group_col).alias("group"))
         .agg(F.count(F.lit(1)).cast("long").alias("n"),
              F.sum(F.col(flag_col).cast("long")).cast("long")
              .alias("n_pass")))
    z = F.lit(z_milli / 1000.0)
    n = F.col("n").cast("double")
    p = F.col("n_pass").cast("double") / n
    z2 = z * z
    lb = ((p + z2 / (F.lit(2.0) * n)
           - z * F.sqrt((p * (F.lit(1.0) - p) + z2 / (F.lit(4.0) * n))
                        / n))
          / (F.lit(1.0) + z2 / n))
    return g.select("group", "n", "n_pass",
                    F.floor(lb * 1000000).cast("long")
                    .alias("wilson_lb_micro"))
