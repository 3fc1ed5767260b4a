"""Event-sequence analytics over the events table (task brief; the
reference has no event surface):

- q_funnel_steps — ordered-funnel analysis (view -> click -> purchase):
  the sequence-pattern operator Flink/Trino expose as MATCH_RECOGNIZE
  and Spark SQL lacks — re-expressed as a cascade of conditional
  time-anchored minima, so it runs as plain keyed aggregations instead
  of an NFA. Each user's step-k timestamp is the EARLIEST event of type
  k strictly after their step-(k-1) timestamp; reached = number of
  completed steps. This is the strict-ordering funnel (Amplitude-style
  "in this order"), not mere set membership — a user who purchases
  before ever clicking does NOT count as reaching step 3.

- q_retention_cohorts — signup-cohort day-k retention (k = 1, 7, 14):
  users grouped by first-seen day; retained-at-k = issued any event on
  the day exactly k days later (the classic "Dk retention" grid every
  product/crawl dashboard carries; for a crawl feed, read "host first
  seen" / "host active").

Scale shape: both are user-keyed (resp. user-day-keyed) aggregations
with map-side combine, and every join is keyed on user_id whose
cardinality is orders below the event count. The funnel pays one
event-type-FILTERED scan per step (four scans of events total, each
pruned to one type at the source — see docs/PLANS.md; at 10^12 events
a type-partitioned layout turns each into a partition-pruned read);
the retention grid scans raw events exactly once for its user-day
rollup and joins only day-level distinct activity thereafter.

Bit-parity: timestamps compare exactly (no float time math); rates are
ratios of exact bigints through one identically-written IEEE
expression, round(6).
"""

from __future__ import annotations

from unmixing_spark import dialect as D
from unmixing_spark.queries import sql_template

FUNNEL_STEPS = ("view", "click", "purchase")
RETENTION_DAYS = (1, 7, 14)


def _funnel_steps(d: str) -> str:
    """Strict-order funnel via conditional-minimum cascade: t1 = min ts
    of step 1; t2 = min ts of step 2 with ts > t1; t3 likewise after t2.
    Three user-keyed aggregations over the SAME pre-grouped per-user
    event set; NULL propagates the not-reached state through the
    cascade (ts > NULL is NULL, min of none is NULL) identically in
    both engines."""
    s1, s2, s3 = FUNNEL_STEPS
    return f"""
    WITH t1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = '{s1}' GROUP BY user_id
    ),
    t2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN t1 ON t1.user_id = e.user_id
      WHERE e.event_type = '{s2}' AND e.ts > t1.t1
      GROUP BY e.user_id
    ),
    t3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN t2 ON t2.user_id = e.user_id
      WHERE e.event_type = '{s3}' AND e.ts > t2.t2
      GROUP BY e.user_id
    ),
    users AS (SELECT DISTINCT user_id FROM events)
    SELECT u.user_id,
           cast(CASE WHEN t3.t3 IS NOT NULL THEN 3
                     WHEN t2.t2 IS NOT NULL THEN 2
                     WHEN t1.t1 IS NOT NULL THEN 1
                     ELSE 0 END as int) AS reached,
           t1.t1 AS ts_{s1}, t2.t2 AS ts_{s2}, t3.t3 AS ts_{s3}
    FROM users u
    LEFT JOIN t1 ON t1.user_id = u.user_id
    LEFT JOIN t2 ON t2.user_id = u.user_id
    LEFT JOIN t3 ON t3.user_id = u.user_id
    """


sql_template("q_funnel_steps", _funnel_steps,
             "strict-order funnel (view -> click -> purchase) as a "
             "conditional-minimum cascade — the MATCH_RECOGNIZE shape "
             "Spark lacks, re-expressed as keyed aggregations",
             tables=("events",))


def _retention_cohorts(d: str) -> str:
    """Day-k cohort retention: cohort = each user's first-seen day;
    retained at k = any activity on cohort day + k. The user-day
    activity rollup is computed ONCE and joined per k — the join key is
    (user, exact day), so each k adds one hash join over the
    user-day-cardinality relation, never a rescan of raw events."""
    if d == D.SPARK:
        day_k = {k: f"date_add(c.cohort_day, {k})" for k in RETENTION_DAYS}
    else:
        day_k = {k: f"c.cohort_day + INTERVAL {k} DAY" for k in RETENTION_DAYS}
    ret_cols = []
    joins = []
    for k in RETENTION_DAYS:
        joins.append(f"""LEFT JOIN activity a{k}
      ON a{k}.user_id = c.user_id AND a{k}.day = {day_k[k]}""")
        ret_cols.append(
            f"cast(sum(CASE WHEN a{k}.user_id IS NOT NULL THEN 1 ELSE 0 END)"
            f" as bigint) AS retained_d{k}")
        ret_cols.append(
            f"round(cast(sum(CASE WHEN a{k}.user_id IS NOT NULL THEN 1 "
            f"ELSE 0 END) as double) / cast(count(*) as double), 6)"
            f" AS rate_d{k}")
    cols = ",\n           ".join(ret_cols)
    jsql = "\n    ".join(joins)
    return f"""
    WITH activity AS (
      SELECT DISTINCT user_id, cast(date_trunc('day', ts) as date) AS day
      FROM events
    ),
    cohorts AS (
      SELECT user_id, min(day) AS cohort_day FROM activity GROUP BY user_id
    )
    SELECT c.cohort_day,
           cast(count(*) as bigint) AS cohort_size,
           {cols}
    FROM cohorts c
    {jsql}
    GROUP BY c.cohort_day
    """


sql_template("q_retention_cohorts", _retention_cohorts,
             "signup-cohort day-k retention grid (k = 1, 7, 14) over one "
             "user-day activity rollup — exact counts + rounded rates",
             tables=("events",))


# ONE source for the 30-minute inactivity gap (scale_q defines it for
# q_session_windows, Spark's session_window operator run in batch
# mode). Boundary conventions are deliberately those of
# q_sessionize_events (core.py): a gap of EXACTLY 1800 s stays
# in-session here and there (`> 1800` starts a new session), while the
# session_window path (scale_q._session_windows_oracle, `>= 1800`) closes at
# exactly 1800 — a declared divergence pinned to the shared constant so
# the three sites cannot silently drift further apart.
from unmixing_spark.queries.scale_q import SESSION_GAP_S  # noqa: E402


def _event_transitions(d: str) -> str:
    """Next-event Markov transition matrix within sessions — the
    user-flow ("sankey") report product and crawl dashboards draw:
    for every ordered pair (from_type, to_type) of CONSECUTIVE events
    inside one session, the count and the row-normalized transition
    probability P(to | from). Session boundaries use the same 30-minute
    inactivity gap as q_sessionize_events (a cross-session pair is not
    a user flow); ordering ties break on event_id, so the lag is
    deterministic.

    Scale shape: one user-keyed window exchange computes prev-type,
    prev-gap, and the pair stream in a single pass (the two lag
    functions share one Window operator — identical specs); the
    transition aggregation map-side combines to |types|^2 cells, and
    the row normalization is a window over THAT tiny relation rather
    than a re-joined aggregate (a rowsum CTE re-joined onto cnt made
    Catalyst inline and re-execute the whole window pass twice —
    caught on the executed plan and rewritten). At 10^12 events this
    is the q_sessionize_events plan plus one constant-size aggregate."""
    ep = D.ts_to_epoch("ts", d)
    win = "OVER (PARTITION BY user_id ORDER BY ts, event_id)"
    return f"""
    WITH pairs AS (
      SELECT prev_type AS from_type, event_type AS to_type
      FROM (
        SELECT user_id, event_type,
               lag(event_type) {win} AS prev_type,
               {ep} - lag({ep}) {win} AS gap_s
        FROM events
      ) seq
      WHERE prev_type IS NOT NULL AND gap_s <= {SESSION_GAP_S}
    ),
    cnt AS (
      SELECT from_type, to_type, cast(count(*) as bigint) AS n
      FROM pairs GROUP BY from_type, to_type
    )
    SELECT from_type, to_type, n,
           round(cast(n as double)
                 / cast(sum(n) OVER (PARTITION BY from_type) as double), 6)
             AS p
    FROM cnt
    """


sql_template("q_event_transitions", _event_transitions,
             "within-session next-event Markov transition matrix "
             "(counts + row-normalized P(to|from)) sharing the "
             "sessionization gap rule — the user-flow report",
             tables=("events",))
