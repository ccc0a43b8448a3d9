"""Event-log queries: windows, sessions, attribution and
experiments (``events_*`` and the plain event-table queries)."""

from pyspark.sql import Window, functions as F

from ferenda_spark.operators.events import (attribution, bot_signals,
                                            cohort_revenue, daily_anomalies,
                                            decayed_counts, event_sequences,
                                            funnel, markov_attribution,
                                            path_prefixes, retention_cohorts,
                                            sliding_distinct, sprt,
                                            transition_matrix)
from ferenda_spark.operators.linking import identity_stitch
from ferenda_spark.operators.temporal import asof_join, range_join
from ferenda_spark.registry import query
from ferenda_spark.registry.common import _read
from ferenda_spark.streaming import sessionize, windowed_event_counts


def _markov_sql(channels=("click", "signup", "view"),
                iterations: int = 12) -> str:
    """Full SQL replay of events.markov_attribution: journey
    transition counts, permille matrix as a pivoted single row, the
    12-step integer value iteration unrolled per knockout variant,
    remainder-to-last share split."""
    chans = sorted(channels)
    dsts = chans + ["CONV", "NULL"]
    srcs = ["START"] + chans
    pcols = ", ".join(
        "COALESCE(MAX(CASE WHEN src = '%s' AND dst = '%s' "
        "THEN n * 1000 // t END), 0) AS p_%s_%s"
        % (s, d, s.lower(), d.lower())
        for s in srcs for d in dsts)
    head = """
        ca AS (SELECT event_id, ts, user_id, event_type,
               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                   END) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id ROWS BETWEEN CURRENT ROW
                 AND UNBOUNDED FOLLOWING) AS conv
               FROM events),
        tch AS (SELECT user_id, conv, event_type AS channel, ts,
                       event_id
                FROM ca WHERE event_type IN (%s)),
        sq AS (SELECT channel, conv,
               row_number() OVER (PARTITION BY user_id, conv
                 ORDER BY ts, event_id) AS rn,
               lead(channel) OVER (PARTITION BY user_id, conv
                 ORDER BY ts, event_id) AS nxt
               FROM tch),
        trans AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
                  FROM (SELECT channel AS src,
                               COALESCE(nxt, CASE WHEN conv > 0
                                 THEN 'CONV' ELSE 'NULL' END) AS dst
                        FROM sq
                        UNION ALL
                        SELECT 'START', channel FROM sq WHERE rn = 1)
                  GROUP BY src, dst),
        tot AS (SELECT src, CAST(SUM(n) AS BIGINT) AS t FROM trans
                GROUP BY src),
        pm AS MATERIALIZED (SELECT %s FROM trans JOIN tot
                            USING (src))
    """ % (", ".join("'%s'" % c for c in chans), pcols)
    variants = [("b", None)] + [("k%s" % c, c) for c in chans]
    ctes = [head]
    for tag, knocked in variants:
        ctes.append("%s0 AS (SELECT %s FROM pm)" % (
            tag, ", ".join("CAST(0 AS BIGINT) AS v_%s" % s.lower()
                           for s in srcs)))
        for it in range(1, iterations + 1):
            exprs = []
            for s in srcs:
                if s == knocked:
                    exprs.append("CAST(0 AS BIGINT) AS v_%s"
                                 % s.lower())
                    continue
                terms = ["pm.p_%s_%s * v_%s"
                         % (s.lower(), c.lower(), c.lower())
                         for c in chans if c != knocked]
                terms.append("pm.p_%s_conv * 1000000" % s.lower())
                exprs.append("CAST((%s) // 1000 AS BIGINT) AS v_%s"
                             % (" + ".join(terms), s.lower()))
            ctes.append("%s%d AS MATERIALIZED (SELECT %s"
                        " FROM %s%d, pm)"
                        % (tag, it, ", ".join(exprs), tag, it - 1))
    eff = {c: "(b%d.v_start - k%s%d.v_start)"
           % (iterations, c, iterations) for c in chans}
    tot_eff = " + ".join(eff[c] for c in chans)
    share, prior = {}, []
    for i, c in enumerate(chans):
        if i < len(chans) - 1:
            share[c] = ("CASE WHEN (%s) <= 0 THEN 0 ELSE "
                        "%s * 1000 // (%s) END"
                        % (tot_eff, eff[c], tot_eff))
            prior.append(share[c])
        else:
            share[c] = ("CASE WHEN (%s) <= 0 THEN 0 ELSE "
                        "1000 - (%s) END"
                        % (tot_eff, ") - (".join(prior)))
    froms = ", ".join(["b%d" % iterations]
                      + ["k%s%d" % (c, iterations) for c in chans])
    selects = " UNION ALL ".join(
        "SELECT '%s' AS channel, "
        "CAST(b%d.v_start AS BIGINT) AS base_conv_micro, "
        "CAST(k%s%d.v_start AS BIGINT) AS removed_conv_micro, "
        "CAST(%s AS BIGINT) AS removal_effect_micro, "
        "CAST(%s AS BIGINT) AS attribution_permille FROM %s"
        % (c, iterations, c, iterations, eff[c], share[c], froms)
        for c in chans)
    return ("WITH " + ", ".join(ctes) + " SELECT * FROM (" + selects
            + ") ORDER BY channel")


@query("latest_event_per_user", oracle="""
    SELECT user_id, event_id, event_type, value FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id DESC)
        AS rn FROM events) WHERE rn = 1""")
def _q_latest_event_per_user(spark, sf_dir):
    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(),
                                              F.col("event_id").desc())
    return (ev.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("user_id", "event_id", "event_type", "value"))


@query("event_type_user_stats", oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users,
           COUNT(*) AS n_events
    FROM events GROUP BY event_type""")
def _q_event_type_user_stats(spark, sf_dir):
    ev = _read(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
            .agg(F.countDistinct("user_id").alias("n_users"),
                 F.count("*").alias("n_events")))


@query("events_month_histogram", oracle="""
    SELECT strftime(ts, '%Y-%m') AS month, COUNT(*) AS n
    FROM events GROUP BY 1""")
def _q_events_month_histogram(spark, sf_dir):
    ev = _read(spark, sf_dir, "events")
    return (ev.select(F.date_format("ts", "yyyy-MM").alias("month"))
            .groupBy("month").agg(F.count("*").alias("n")))


@query("events_windowed_counts", oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR
             AS window_end,
           event_type, COUNT(*) AS n_events
    FROM events GROUP BY 1, 2, 3""")
def _q_events_windowed_counts(spark, sf_dir):
    """Watermarked tumbling-window aggregation (streaming.py) run in
    batch mode — the SAME definition serves the stream; the watermark
    is a no-op on a batch frame."""
    return windowed_event_counts(_read(spark, sf_dir, "events"))


# as-of: LATERAL top-1 is the declarative twin of the
# tag-union window implementation
@query("events_asof_attribution", oracle="""
    SELECT p.event_id, p.user_id,
           c.click_event_id AS asof_click_event_id,
           c.click_ts AS asof_click_ts
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase') p
    LEFT JOIN LATERAL (
      SELECT event_id AS click_event_id, ts AS click_ts
      FROM events e
      WHERE e.event_type = 'click'
        AND e.user_id = p.user_id AND e.ts <= p.ts
      ORDER BY e.ts DESC, e.event_id DESC LIMIT 1) c ON TRUE
    ORDER BY p.event_id""")
def _q_events_asof_attribution(spark, sf_dir):
    """Last-touch attribution as an AS-OF JOIN: every purchase picks
    the same user's most recent click at-or-before it.  Implemented
    as tag-union + one keyed window (operators/temporal.asof_join) —
    never an inequality join, which Spark compiles to a nested loop.
    Oracle: DuckDB LATERAL top-1, the declarative statement of the
    same semantics."""
    ev = _read(spark, sf_dir, "events")
    purchases = (ev.where(F.col("event_type") == "purchase")
                 .select("event_id", "user_id", "ts"))
    clicks = (ev.where(F.col("event_type") == "click")
              .select(F.col("event_id").alias("click_event_id"),
                      "user_id", F.col("ts").alias("click_ts")))
    return (asof_join(purchases, clicks, on=["user_id"],
                      point_ts="ts", dim_ts="click_ts",
                      payload=["click_event_id", "click_ts"],
                      tiebreak="click_event_id")
            .select("event_id", "user_id",
                    "asof_click_event_id", "asof_click_ts")
            .orderBy("event_id"))


@query("events_range_join", oracle="""
    SELECT p.event_id AS purchase_id,
           s.event_id AS signup_id, p.user_id
    FROM events p JOIN events s
      ON s.user_id = p.user_id
    WHERE p.event_type = 'purchase'
      AND s.event_type = 'signup'
      AND p.ts >= s.ts
      AND p.ts < s.ts + INTERVAL 24 HOUR
    ORDER BY 1, 2""")
def _q_events_range_join(spark, sf_dir):
    """Point-in-interval RANGE JOIN: purchases inside the 24 h window
    after any signup by the same user.  Implemented bucketized
    (operators/temporal.range_join): intervals explode to 6 h
    buckets, points map to one bucket, equi-join + exact containment
    filter — bounded fan-out instead of Spark's nested-loop plan for
    raw inequality predicates."""
    ev = _read(spark, sf_dir, "events")
    purchases = (ev.where(F.col("event_type") == "purchase")
                 .select(F.col("event_id").alias("purchase_id"),
                         "user_id", "ts"))
    signups = (ev.where(F.col("event_type") == "signup")
               .select(F.col("event_id").alias("signup_id"), "user_id",
                       F.col("ts").alias("win_start"),
                       (F.col("ts") + F.expr("INTERVAL 24 HOURS"))
                       .alias("win_end")))
    return (range_join(purchases, signups, ["user_id"],
                       "ts", "win_start", "win_end",
                       granularity_s=21600)
            .select("purchase_id", "signup_id", "user_id")
            .orderBy("purchase_id", "signup_id"))


@query("events_sessions", oracle="""
    WITH l AS (
      SELECT user_id, event_id, ts,
             CASE WHEN ts - lag(ts) OVER
                  (PARTITION BY user_id ORDER BY ts, event_id)
                  > INTERVAL 1800 SECOND THEN 1 ELSE 0 END
               AS new_s
      FROM events),
    s AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS session_seq
      FROM l)
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events
    FROM s GROUP BY 1, 2""")
def _q_events_sessions(spark, sf_dir):
    """Batch twin of the stateful-streaming sessionizer
    (streaming.sessionize): gap-based user sessions via window
    lag/cumsum, deterministic (ts, event_id) ordering."""
    return sessionize(_read(spark, sf_dir, "events"), gap_minutes=30)


@query("news_frontpage", oracle="""
    SELECT event_type, rank, event_id, ts FROM (
      SELECT event_type, event_id, ts,
             ROW_NUMBER() OVER (PARTITION BY event_type
               ORDER BY ts DESC, event_id DESC) AS rank
      FROM events)
    WHERE rank <= 5""")
def _q_news_frontpage(spark, sf_dir):
    """W3: latest-5 entries per feed (frontpage_content /
    news_entries islice semantics)."""
    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc())
    return (ev.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 5)
            .select("event_type", "rank", "event_id", "ts"))


# strict-sequence funnel: step k's earliest event must be
# strictly after the step-(k-1) arrival
@query("events_funnel", oracle="""
    WITH s1 AS (
      SELECT user_id AS u, MIN(ts) AS t FROM events
      WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (
      SELECT e.user_id AS u, MIN(e.ts) AS t
      FROM events e JOIN s1 ON e.user_id = s1.u
                           AND e.ts > s1.t
      WHERE e.event_type = 'click' GROUP BY e.user_id),
    s3 AS (
      SELECT e.user_id AS u, MIN(e.ts) AS t
      FROM events e JOIN s2 ON e.user_id = s2.u
                           AND e.ts > s2.t
      WHERE e.event_type = 'purchase' GROUP BY e.user_id)
    SELECT 1 AS step, 'view' AS step_name,
           (SELECT COUNT(*) FROM s1) AS n_users
    UNION ALL SELECT 2, 'click', (SELECT COUNT(*) FROM s2)
    UNION ALL SELECT 3, 'purchase', (SELECT COUNT(*) FROM s3)
    ORDER BY step""")
def _q_events_funnel(spark, sf_dir):
    """Strict-sequence conversion funnel view -> click -> purchase:
    step k counts users whose earliest step-k event is strictly after
    their earliest step-(k-1) arrival; k user-keyed groupBys +
    equi-joins, no window over the raw stream."""
    return funnel(_read(spark, sf_dir, "events"),
                  ["view", "click", "purchase"])


@query("events_retention", oracle="""
    WITH f AS (
      SELECT user_id AS u, MIN(CAST(ts AS DATE)) AS cohort_day
      FROM events GROUP BY user_id),
    a AS (
      SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d
      FROM events)
    SELECT CAST(cohort_day AS VARCHAR) AS cohort_day,
           date_diff('day', cohort_day, d) AS day_offset,
           COUNT(*) AS n_users
    FROM a JOIN f USING (u)
    GROUP BY 1, 2 ORDER BY 1, 2""")
def _q_events_retention(spark, sf_dir):
    """Day-grain cohort retention triangle (cohort = first active
    day); all hash aggregations keyed on user then (cohort, offset)."""
    return (retention_cohorts(_read(spark, sf_dir, "events"))
            .orderBy("cohort_day", "day_offset"))


# z from exact integer sums: mean = sn/d, var = sn2/d - mean^2
@query("events_anomalies", oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_events
      FROM events GROUP BY 1),
    st AS (
      SELECT COUNT(*) AS d,
             SUM(n_events) AS sn,
             SUM(n_events * n_events) AS sn2
      FROM daily)
    SELECT CAST(day AS VARCHAR) AS day, n_events,
           round((n_events - sn * 1.0 / d)
                 / sqrt(sn2 * 1.0 / d
                        - (sn * 1.0 / d) * (sn * 1.0 / d)),
                 6) AS z,
           abs(round((n_events - sn * 1.0 / d)
                 / sqrt(sn2 * 1.0 / d
                        - (sn * 1.0 / d) * (sn * 1.0 / d)),
                 6)) > 2.0 AS is_anomaly
    FROM daily CROSS JOIN st ORDER BY day""")
def _q_events_anomalies(spark, sf_dir):
    """Daily event-volume z-scores from exact integer sums (count,
    sum, sum-of-squares broadcast as one row); |z| > 2 flags."""
    return (daily_anomalies(_read(spark, sf_dir, "events"))
            .orderBy("day"))


# LEAD over the (ts, event_id) total order per user, then
# row-normalized pair counts
@query("events_transition_matrix", oracle="""
    WITH pr AS (SELECT event_type AS from_type,
           LEAD(event_type) OVER (PARTITION BY user_id
                ORDER BY ts, event_id) AS to_type
           FROM events),
    c AS (SELECT from_type, to_type,
          CAST(COUNT(*) AS BIGINT) AS n
          FROM pr WHERE to_type IS NOT NULL
          GROUP BY from_type, to_type),
    t AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from
          FROM c GROUP BY from_type)
    SELECT c.from_type, c.to_type, c.n, t.n_from,
           CAST(c.n AS DOUBLE) / t.n_from AS p
    FROM c JOIN t USING (from_type)
    ORDER BY c.from_type, c.to_type""")
def _q_transition_matrix(spark, sf_dir):
    """First-order event-type transition matrix over the REAL events
    table ((ts, event_id) total order per user); the oracle replays
    the LEAD window + row-normalization."""
    ev = _read(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id")
    return transition_matrix(ev).orderBy("from_type", "to_type")


# microsecond lag gaps, DECIMAL(38,0) moments, cv2 replay
@query("events_bot_signals", oracle="""
    WITH g AS (SELECT user_id,
           epoch_us(ts) - LAG(epoch_us(ts)) OVER (
             PARTITION BY user_id
             ORDER BY epoch_us(ts), event_id) AS g
           FROM events),
    b AS (SELECT user_id, g FROM g WHERE g IS NOT NULL),
    a AS (SELECT user_id,
          CAST(COUNT(*) AS BIGINT) AS n_gaps,
          SUM(CAST(g AS DECIMAL(38,0))) AS s1,
          SUM(CAST(g AS DECIMAL(38,0))
              * CAST(g AS DECIMAL(38,0))) AS s2,
          CAST(COUNT(DISTINCT g) AS BIGINT) AS n_distinct_gaps
          FROM b GROUP BY user_id)
    SELECT user_id, n_gaps,
           CAST(s1 AS DOUBLE) / n_gaps AS mean_gap_us,
           CASE WHEN s1 > 0
                THEN CAST(n_gaps * s2 - s1 * s1 AS DOUBLE)
                     / CAST(s1 * s1 AS DOUBLE)
           END AS cv2,
           n_distinct_gaps
    FROM a WHERE n_gaps >= 4 ORDER BY user_id""")
def _q_bot_signals(spark, sf_dir):
    """Inter-event timing regularity over the REAL events table
    (microsecond gaps, decimal(38,0) sums for the gap-squared
    moment); the oracle replays the lag window and the cv2
    arithmetic."""
    ev = _read(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id")
    return bot_signals(ev, min_events=5).orderBy("user_id")


# contiguous trigram mining: the same lead window + aggregates
@query("events_sequence_mining", oracle="""
    WITH g AS (
      SELECT user_id,
             event_type AS step_1,
             lead(event_type, 1) OVER w AS step_2,
             lead(event_type, 2) OVER w AS step_3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT step_1, step_2, step_3,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM g WHERE step_3 IS NOT NULL
    GROUP BY 1, 2, 3
    HAVING COUNT(*) >= 2
    ORDER BY step_1, step_2, step_3""")
def _q_events_sequence_mining(spark, sf_dir):
    """Frequent contiguous 3-step event-type sequences (contiguous
    PrefixSpan): per-user lead() trigrams, one corpus-wide count with
    distinct-user support; the oracle replays the lead window and the
    two aggregates."""
    return (event_sequences(_read(spark, sf_dir, "events"))
            .orderBy("step_1", "step_2", "step_3"))


@query("events_sliding_distinct", oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d
      FROM events),
    days AS (SELECT DISTINCT d FROM ud)
    SELECT strftime(days.d, '%Y-%m-%d') AS day,
           CAST(COUNT(DISTINCT CASE WHEN ud.d = days.d
                      THEN ud.u END) AS BIGINT) AS n_active_1d,
           CAST(COUNT(DISTINCT ud.u) AS BIGINT) AS n_active_7d
    FROM days JOIN ud
      ON ud.d BETWEEN days.d - 6 AND days.d
    GROUP BY days.d ORDER BY day""")
def _q_sliding_distinct(spark, sf_dir):
    """Trailing-7-day distinct active users per observed day (the
    DAU/WAU series) via dedup-then-bounded-explode; oracle is the
    declarative range join over the same deduped (user, day) set."""
    return (sliding_distinct(_read(spark, sf_dir, "events"),
                             window_days=7)
            .orderBy("day"))


@query("events_decayed_counts", oracle="""
    WITH d AS (SELECT user_id, CAST(ts AS DATE) AS d
               FROM events),
    r AS (SELECT MAX(d) AS ref FROM d),
    w AS (SELECT user_id, d,
                 1000000 // (1::BIGINT << LEAST(
                   date_diff('day', d, ref) // 7, 62)) AS w
          FROM d, r)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(w) AS BIGINT) AS decayed_micro,
           strftime(MAX(d), '%Y-%m-%d') AS last_day
    FROM w GROUP BY user_id ORDER BY user_id""")
def _q_events_decayed_counts(spark, sf_dir):
    """Per-user half-life-decayed activity (integer halving kernel,
    7-day half-life, reference = stream max date) — recency priors
    without floating pow."""
    return (decayed_counts(_read(spark, sf_dir, "events"),
                           half_life_days=7)
            .orderBy("user_id"))


@query("events_attribution", oracle="""
    WITH ca AS (
      SELECT event_id, ts, user_id, event_type,
             SUM(CASE WHEN event_type = 'purchase'
                 THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id
                     ORDER BY ts, event_id
                     ROWS BETWEEN CURRENT ROW
                     AND UNBOUNDED FOLLOWING) AS conv
      FROM events),
    t AS (SELECT user_id AS usr, conv,
                 event_type AS channel, ts, event_id
          FROM ca
          WHERE event_type IN ('click', 'view', 'signup')
            AND conv > 0),
    m AS (SELECT channel, usr, conv,
                 row_number() OVER (PARTITION BY usr, conv
                   ORDER BY ts, event_id) = 1 AS is_first,
                 row_number() OVER (PARTITION BY usr, conv
                   ORDER BY ts DESC, event_id DESC) = 1
                   AS is_last,
                 COUNT(*) OVER (PARTITION BY usr, conv)
                   AS n_j
          FROM t)
    SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(COUNT(DISTINCT (usr, conv)) AS BIGINT)
             AS n_conversions_touched,
           CAST(SUM(CASE WHEN is_first THEN 1000 ELSE 0 END)
             AS BIGINT) AS first_permille,
           CAST(SUM(CASE WHEN is_last THEN 1000 ELSE 0 END)
             AS BIGINT) AS last_permille,
           CAST(SUM(1000 // n_j
                + CASE WHEN is_last
                  THEN 1000 - (1000 // n_j) * n_j
                  ELSE 0 END) AS BIGINT) AS linear_permille
    FROM m GROUP BY channel ORDER BY channel""")
def _q_events_attribution(spark, sf_dir):
    """Multi-touch attribution over the real event streams: every
    click/view/signup touch assigned to the user's next purchase;
    first/last/linear credit in exact integer permille (linear
    remainder pinned to the closer)."""
    return (attribution(_read(spark, sf_dir, "events"),
                        channels=["click", "view", "signup"])
            .orderBy("channel"))


@query("events_paths", oracle="""
    WITH r AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS rn
      FROM events),
    h AS (SELECT user_id, rn, event_type FROM r
          WHERE rn <= 3),
    p AS (SELECT h.user_id, d.depth,
                 string_agg(h.event_type, '>'
                            ORDER BY h.rn) AS path
          FROM h, (SELECT unnest(generate_series(1, 3))
                   AS depth) d
          WHERE h.rn <= d.depth
          GROUP BY h.user_id, d.depth
          HAVING COUNT(*) = d.depth)
    SELECT CAST(depth AS INT) AS depth, path,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM p GROUP BY depth, path ORDER BY depth, path""")
def _q_events_paths(spark, sf_dir):
    """Sankey path-prefix rollup: the first 3 events per user,
    aggregated as prefixes at depths 1-3."""
    return (path_prefixes(_read(spark, sf_dir, "events"), max_depth=3)
            .orderBy("depth", "path"))


@query("events_markov_attribution", oracle=_markov_sql())
def _q_events_markov(spark, sf_dir):
    """Markov removal-effect attribution: distributed journey/
    transition counting, driver-side 12-step integer value iteration
    over the dimension-sized matrix, one knockout per channel; the
    oracle replays the identical integer recursion unrolled."""
    return (markov_attribution(_read(spark, sf_dir, "events"),
                               ["click", "signup", "view"])
            .orderBy("channel"))


# components are per-user by construction; canonical =
# (length, value)-min, CC's deterministic pick
@query("events_identity_stitch", oracle="""
    WITH ids AS (
      SELECT DISTINCT user_id, 'dev' || user_id AS id
      FROM events
      UNION
      SELECT DISTINCT user_id, 'dtv' || user_id
      FROM events WHERE event_id % 5 = 0
      UNION
      SELECT DISTINCT user_id,
             'ck' || (user_id * 3 + event_id % 3)
      FROM events),
    c AS (SELECT user_id, id,
                 row_number() OVER (PARTITION BY user_id
                   ORDER BY length(id), id) AS rn
          FROM ids)
    SELECT i.id AS identifier, m.id AS canonical_id
    FROM ids i JOIN c m
      ON i.user_id = m.user_id AND m.rn = 1
    ORDER BY identifier""")
def _q_events_identity_stitch(spark, sf_dir):
    """Cross-device identity stitching over planted behavioral ids
    (device 'dev<u>', second device 'dtv<u>' on every 5th event,
    cookies 'ck<3u+r>'): star edges + the shared hash-min CC kernel;
    canonical = (length, value)-min of the component."""
    ev = _read(spark, sf_dir, "events")
    uid, eid = F.col("user_id"), F.col("event_id")
    dev = F.concat(F.lit("dev"), uid.cast("string"))
    dtv = F.concat(F.lit("dtv"), uid.cast("string"))
    ck = F.concat(F.lit("ck"), (uid * 3 + eid % 3).cast("string"))
    obs = (ev.select(dev.alias("a"), ck.alias("b"))
           .unionByName(ev.where(eid % 5 == 0)
                        .select(dtv.alias("a"), ck.alias("b"))))
    return identity_stitch(obs, ["a", "b"]).orderBy("identifier")


@query("events_cohort_revenue", oracle="""
    WITH ev AS (
      SELECT event_id, user_id, event_type, value,
             ts + INTERVAL (user_id % 6 + event_id % 4)
               MONTH AS ts
      FROM events),
    first_e AS (
      SELECT user_id,
             strftime(MIN(ts), '%Y-%m') AS cohort_month,
             date_trunc('month', MIN(ts)) AS m0
      FROM ev GROUP BY user_id),
    rev AS (SELECT user_id, ts,
                   CAST(round(value * 100) AS BIGINT)
                     AS cents
            FROM ev WHERE event_type = 'purchase'),
    j AS (SELECT r.user_id, f.cohort_month, r.cents,
                 CAST(datediff('month', f.m0,
                      date_trunc('month', r.ts)) AS BIGINT)
                   AS age_months
          FROM rev r JOIN first_e f USING (user_id)),
    tri AS (SELECT cohort_month, age_months,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT)
                     AS n_active_users,
                   CAST(SUM(cents) AS BIGINT)
                     AS revenue_cents
            FROM j GROUP BY cohort_month, age_months)
    SELECT cohort_month, age_months, n_active_users,
           revenue_cents,
           CAST(SUM(revenue_cents) OVER (
             PARTITION BY cohort_month ORDER BY age_months
             ROWS BETWEEN UNBOUNDED PRECEDING
             AND CURRENT ROW) AS BIGINT)
             AS cum_revenue_cents
    FROM tri ORDER BY cohort_month, age_months""")
def _q_events_cohort_revenue(spark, sf_dir):
    """Cohort LTV triangle over the event stream, month-spread per
    (user, event) so small scales still produce a real triangle:
    signup month by first event, purchase revenue in exact integer
    cents, cumulative by cohort age."""
    ev = _read(spark, sf_dir, "events")
    spread = ev.withColumn(
        "ts", F.expr("add_months(ts, CAST(user_id % 6"
                     " + event_id % 4 AS INT))"))
    return (cohort_revenue(spread)
            .orderBy("cohort_month", "age_months"))


# constants computed with the same math.floor(math.log(...))
# the operator uses, inlined as literals
@query("events_sprt", oracle=(lambda c1, c0, up, lo: """
    WITH obs AS (
      SELECT event_type AS grp, ts, event_id,
             CASE WHEN value > 10.0 THEN 1 ELSE 0 END AS s
      FROM events),
    walked AS (
      SELECT grp,
             CAST(row_number() OVER (PARTITION BY grp
               ORDER BY ts, event_id) AS BIGINT) AS n,
             CAST(SUM(s) OVER (PARTITION BY grp
               ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS BIGINT) AS k
      FROM obs),
    sc AS (
      SELECT grp, n, k,
             k * (%d) + (n - k) * (%d) AS llr_micro,
             CASE WHEN k * (%d) + (n - k) * (%d) >= %d
                  THEN 'accept_h1'
                  WHEN k * (%d) + (n - k) * (%d) <= %d
                  THEN 'accept_h0' END AS decision
      FROM walked),
    fc AS (SELECT grp, n, k, llr_micro, decision
           FROM (SELECT *, row_number() OVER (
                   PARTITION BY grp ORDER BY n) AS rn
                 FROM sc WHERE decision IS NOT NULL)
           WHERE rn = 1),
    un AS (SELECT grp, n, k, llr_micro,
                  'continue' AS decision
           FROM (SELECT *, row_number() OVER (
                   PARTITION BY grp ORDER BY n DESC) AS rn
                 FROM sc) s2
           WHERE rn = 1
             AND grp NOT IN (SELECT grp FROM fc))
    SELECT * FROM fc UNION ALL SELECT * FROM un
    ORDER BY grp"""
    % (c1, c0, c1, c0, up, c1, c0, lo))(
    __import__("math").floor(
        __import__("math").log(0.6 / 0.4) * 1e6),
    __import__("math").floor(
        __import__("math").log(0.4 / 0.6) * 1e6),
    __import__("math").floor(
        __import__("math").log(0.95 / 0.05) * 1e6),
    __import__("math").floor(
        __import__("math").log(0.05 / 0.95) * 1e6)))
def _q_events_sprt(spark, sf_dir):
    """Wald SPRT per event-type experiment: success = value > 10,
    H1: p=0.6 vs H0: p=0.4, 5% error barriers; integer-micro LLR
    walk, first-crossing decision."""
    ev = _read(spark, sf_dir, "events")
    obs = ev.select(F.col("event_type").alias("grp"), "ts",
                    "event_id",
                    (F.col("value") > 10.0).alias("success"))
    return sprt(obs, p0=0.4, p1=0.6).orderBy("grp")
