"""Security-detection operators: port-scan fanout, brute-force-then-
success correlation, and log-source volume drift.

The reference is a security event-pipeline framework (runreveal kawa —
SURVEY.md §1) whose users run exactly this class of detection
downstream of the pipe; none exist there as operators (no reference
counterpart — §2B extension surface, the same stance as the existing
q_sec_* family in queries/analytics.py: cidr_match, beacon_detect,
first_seen, impossible_travel, anomaly_zscore/mad).

Determinism: every value is an exact integer (counts, distinct counts,
integer cross-multiplied ratio tests), a truncated timestamp, or a
selection of an input value; synthetic entities (ports, the scanner
cohort) derive from the cross-engine 56-bit md5 hash
(functions/text.py:75) because the fixture has no port column — a
production deployment swaps ONE projection for the real field, the
detection logic is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from cheetah_spark.catalog import load_table
from cheetah_spark.functions import text as X
from cheetah_spark.registry import register

# ---------------------------------------------------------------------------
# Port-scan detection (distinct-fanout per source per window)
# ---------------------------------------------------------------------------

# Synthetic dst ports: a hash-selected ~20% "scanner" cohort sprays a
# 4096-port space (every probe hits a fresh port); normal clients talk
# to a handful of services (4-port footprint). The detection flags a
# (user, week) whose distinct-port fanout is both large in absolute
# terms AND a high fraction of its events — the standard scan signature
# (lots of connections, almost all to NEW ports).
_PS_COHORT_SEED = "scan:"
_PS_PORT_SEED = "port:"
_PS_SCANNER_MOD = 5  # user-hash % 5 == 0 → scanner cohort
_PS_SPRAY = 4096  # scanner port space
_PS_NORM = 4  # normal-client service footprint
_PS_MIN_FANOUT = 6  # absolute distinct-port floor
# fanout-ratio test nd/n >= 3/4, cross-multiplied so no float exists
_PS_RATIO_NUM, _PS_RATIO_DEN = 3, 4

_PORT_SCAN_ORACLE = f"""
    WITH e AS (
        SELECT user_id,
               CAST(date_trunc('week', ts) AS TIMESTAMP) AS week,
               CASE WHEN {X.oracle_hash56(f"'{_PS_COHORT_SEED}' || CAST(user_id AS VARCHAR)")}
                         % {_PS_SCANNER_MOD} = 0
                    THEN {X.oracle_hash56(f"'{_PS_PORT_SEED}' || CAST(event_id AS VARCHAR)")}
                         % {_PS_SPRAY}
                    ELSE {X.oracle_hash56(f"'{_PS_PORT_SEED}' || CAST(event_id AS VARCHAR)")}
                         % {_PS_NORM}
               END AS port
        FROM events
    ),
    g AS (
        SELECT user_id, week,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(DISTINCT port) AS BIGINT) AS n_ports
        FROM e GROUP BY user_id, week
    ),
    f AS (
        SELECT *,
               (n_ports >= {_PS_MIN_FANOUT}
                AND n_ports * {_PS_RATIO_DEN} >= n_events * {_PS_RATIO_NUM}) AS flagged
        FROM g
    )
    SELECT week,
           CAST(COUNT(*) AS BIGINT) AS n_user_weeks,
           CAST(SUM(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT) AS n_scanners,
           MIN(CASE WHEN flagged THEN user_id END) AS min_scanner_user,
           CAST(MAX(n_ports) AS BIGINT) AS max_fanout
    FROM f GROUP BY week
"""


def _port_scan_events(df: DataFrame) -> DataFrame:
    """The shared (user, week, port) projection — ONE definition for
    the batch query and the streaming twin, so the conformance gate
    compares the same derivation."""
    porth = X.hash56(F.concat(F.lit(_PS_PORT_SEED), F.col("event_id").cast("string")))
    scanner = (
        X.hash56(F.concat(F.lit(_PS_COHORT_SEED), F.col("user_id").cast("string")))
        % _PS_SCANNER_MOD
        == 0
    )
    return df.select(
        "user_id",
        F.date_trunc("week", "ts").alias("week"),
        F.when(scanner, porth % _PS_SPRAY).otherwise(porth % _PS_NORM).alias("port"),
    )


def port_scan_report(df: DataFrame) -> DataFrame:
    """q_sec_port_scan's batch composition as a pure df→df — the
    single definition the registered query AND the declarative
    `port_scan` transform (config.py) bind."""
    g = (
        _port_scan_events(df)
        .groupBy("user_id", "week")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.countDistinct("port").cast("bigint").alias("n_ports"),
        )
    )
    return _port_scan_rollup(g)


def port_scan_counts_stage(df: DataFrame) -> DataFrame:
    """The streaming-safe stage: COUNT per (user, week, port) — the
    state carries the distinct keys themselves (two-level exact-
    distinct decomposition), order-insensitive under any admission
    slicing; :func:`resolve_port_scan` folds the drained counts."""
    return (
        _port_scan_events(df)
        .groupBy("user_id", "week", "port")
        .agg(F.count("*").alias("n"))
    )


def resolve_port_scan(out: DataFrame) -> DataFrame:
    """Fold drained (user, week, port) counts to the weekly report.

    Spool-safe: a complete-mode drain holds one final row per key, but
    an update-mode sink (the other mode the config surface allows)
    ACCUMULATES one cumulative row per key per trigger — and the
    cumulative count is monotone, so MAX per key recovers the final
    state under either sink mode before the fold."""
    final = out.groupBy("user_id", "week", "port").agg(F.max("n").alias("n"))
    g = final.groupBy("user_id", "week").agg(
        F.sum("n").cast("bigint").alias("n_events"),
        F.count("*").cast("bigint").alias("n_ports"),
    )
    return _port_scan_rollup(g)


def _port_scan_rollup(g: DataFrame) -> DataFrame:
    """Flag + weekly rollup over per-(user, week) (n_events, n_ports)."""
    f = g.withColumn(
        "flagged",
        (F.col("n_ports") >= _PS_MIN_FANOUT)
        & (F.col("n_ports") * _PS_RATIO_DEN >= F.col("n_events") * _PS_RATIO_NUM),
    )
    return f.groupBy("week").agg(
        F.count("*").cast("bigint").alias("n_user_weeks"),
        F.sum(F.when(F.col("flagged"), 1).otherwise(0)).cast("bigint").alias("n_scanners"),
        F.min(F.when(F.col("flagged"), F.col("user_id"))).alias("min_scanner_user"),
        F.max("n_ports").cast("bigint").alias("max_fanout"),
    )


@register(
    "q_sec_port_scan",
    oracle=_PORT_SCAN_ORACLE,
    tags=("security", "portscan", "fanout"),
)
def q_sec_port_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Port-scan detection — distinct-destination fanout per source per
    tumbling week: flag a (user, week) whose distinct-port count clears
    an absolute floor AND covers >= 3/4 of its events (scan traffic
    hits fresh ports; service traffic repeats a small footprint), then
    roll up to per-week scanner counts.

    Scale shape: ONE exact-distinct aggregate keyed by (user, week) —
    Catalyst plans the single count(distinct) as the two-LEVEL key
    decomposition ((user, week, port) partial count before the first
    shuffle, then the (user, week) merge; no Expand needed for one
    distinct column) — then a tiny per-week rollup. Keys are bounded
    by sources x weeks and per-key state by the port space, so the
    same plan holds at 100 TB; a skewed super-source salts the first
    phase exactly like q_skew_salted_agg (functions/skew.py)."""
    return port_scan_report(load_table(spark, sf_dir, "events"))


@register(
    "s_sec_port_scan",
    oracle=_PORT_SCAN_ORACLE,
    tags=("security", "portscan", "streaming"),
)
def s_sec_port_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming port-scan detection — the at-ingest twin of
    q_sec_port_scan: a complete-mode COUNT per (user, week, port) runs
    across the replayed micro-batches (exact distinct is not a
    streaming aggregate, so the state carries the DISTINCT KEYS
    themselves — one counter per live (user, week, port), the standard
    two-level exact-distinct decomposition), and the drained state
    rolls up batch-side to fanout flags hash-matched against the batch
    oracle verbatim.

    Arrival order cannot matter: COUNT per composite key is
    order-insensitive, so any admission slicing yields the same drained
    state. State is bounded by live (user, week, port) keys — normals
    hold <= 4 rows per user-week, scanners <= the port space — and a
    production deployment ages closed weeks out with a watermark the
    same way s_sec_first_seen's docstring prescribes for pairs."""
    from cheetah_spark.queries.streams import scoped_state_partitions
    from cheetah_spark.sources import ParquetSource
    from cheetah_spark.streaming import events_stream_dir, run_stream_to_completion

    src_dir = events_stream_dir(spark, sf_dir)
    stream = ParquetSource(src_dir, streaming=True, max_files_per_trigger=2).read(spark)
    with scoped_state_partitions(spark):
        out = run_stream_to_completion(
            stream, port_scan_counts_stage, output_mode="complete"
        )
    return resolve_port_scan(out)


# ---------------------------------------------------------------------------
# Brute-force-then-success correlation (run-length + next-event join)
# ---------------------------------------------------------------------------

_BF_MIN_RUN = 3  # consecutive failures that constitute a burst
_BF_FAIL = "error"  # the failure event class
_BF_SUCCESS = "purchase"  # post-burst success = takeover candidate


_BF_ORACLE = f"""
        WITH o AS (
            SELECT user_id, event_type, ts,
                   row_number() OVER w1 AS rn,
                   CASE WHEN lead(event_type) OVER w1 = '{_BF_SUCCESS}'
                        THEN 1 ELSE 0 END AS next_success,
                   row_number() OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts, event_id) AS rnt
            FROM events
            WINDOW w1 AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        runs AS (
            SELECT user_id,
                   CAST(COUNT(*) AS BIGINT) AS run_len,
                   MIN(ts) AS start_ts,
                   arg_max(next_success, rn) AS compromised
            FROM o WHERE event_type = '{_BF_FAIL}'
            GROUP BY user_id, rn - rnt
            HAVING COUNT(*) >= {_BF_MIN_RUN}
        )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_bursts,
               CAST(SUM(compromised) AS BIGINT) AS n_compromised,
               CAST(MAX(run_len) AS BIGINT) AS max_run_len,
               date_trunc('second', MIN(start_ts)) AS first_burst_ts
        FROM runs GROUP BY user_id
    """


@register(
    "q_sec_brute_force",
    oracle=_BF_ORACLE,
    tags=("security", "bruteforce", "correlation"),
)
def q_sec_brute_force(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force-then-success correlation — the classic SIEM rule: a
    run of >= 3 CONSECUTIVE failure events for one user (gaps-and-
    islands over the per-user event order) is a credential-stuffing
    burst; a burst whose immediately-next event is a success marks an
    account-takeover candidate. Output is per-user burst counts,
    compromised-burst counts, and the first burst's timestamp.

    Scale shape: NO self-join — the naive formulation looks up each
    burst's next event by (user_id, end_rn + 1), which re-scans and
    re-windows the event table on the probe side; instead the
    next-event verdict rides ALONG the run as lead(event_type) in the
    SAME (user_id)-partitioned window pass as row_number (one Window
    exec, two frames), and the run aggregate lifts the LAST row's
    verdict with max_by over the unique in-run order rn. One scan, one
    sort shuffle (hashpartitioning(user_id) satisfies the
    (user_id, event_type) clustering too — sort-only between the two
    Window execs), two map-side-combinable aggregates. History length
    never leaves its user's partition, the q_scd2_history shape."""
    return brute_force_report(load_table(spark, sf_dir, "events"))


def brute_force_report(
    df: DataFrame,
    min_run: int = _BF_MIN_RUN,
    fail: str = _BF_FAIL,
    success: str = _BF_SUCCESS,
) -> DataFrame:
    """q_sec_brute_force's batch composition as a pure df→df — the
    single definition the registered query AND the declarative
    `brute_force` transform (config.py) bind, so a config-declared
    detection is hash-gated by the same oracle."""
    w_all = W.partitionBy("user_id").orderBy("ts", "event_id")
    w_type = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    o = (
        df.select("user_id", "event_type", "ts", "event_id")
        .withColumn("rn", F.row_number().over(w_all))
        .withColumn(
            "next_success",
            F.when(F.lead("event_type").over(w_all) == success, 1).otherwise(0),
        )
        .withColumn("grp", F.col("rn") - F.row_number().over(w_type))
    )
    runs = (
        o.where(F.col("event_type") == fail)
        .groupBy("user_id", "grp")
        .agg(
            F.count("*").cast("bigint").alias("run_len"),
            F.min("ts").alias("start_ts"),
            F.max_by("next_success", "rn").alias("compromised"),
        )
        .where(F.col("run_len") >= min_run)
    )
    return runs.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_bursts"),
        F.sum("compromised").cast("bigint").alias("n_compromised"),
        F.max("run_len").cast("bigint").alias("max_run_len"),
        F.date_trunc("second", F.min("start_ts")).alias("first_burst_ts"),
    )


@register(
    "s_sec_brute_force",
    oracle=_BF_ORACLE,
    tags=("security", "bruteforce", "streaming", "stateful"),
)
def s_sec_brute_force(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming brute-force-then-success detection — keyed RUN-LENGTH
    state (applyInPandasWithState): each live user's state entry
    carries (current failure-run length + start, burst/compromise
    totals, max run, first burst) and every micro-batch folds its rows
    through the same sequential rule as the batch operator. A run that
    has reached the threshold but is still OPEN (no next event seen
    yet) is counted provisionally with a not-compromised verdict —
    exactly the batch lead()-is-NULL semantics if the stream ends
    there — and the verdict upgrades when the closing event arrives,
    so every per-user total is MONOTONE across emissions and the
    column-wise max/min rollup over the update-mode spool equals the
    final state under any admission slicing. In-batch rows sort by
    (ts, event_id); cross-batch order is the replay's ts-ordered
    admission — the same sequential-per-key contract as
    s_sec_impossible_travel. State is O(1) per live user; a production
    deployment ages idle users out with an event-time timeout exactly
    like s_llm_url_dedup_ttl's state discipline.

    Hash-gated against q_sec_brute_force's oracle VERBATIM."""
    return _brute_force_stream(spark, sf_dir)


def brute_force_state_stage(
    df: DataFrame,
    min_run: int = _BF_MIN_RUN,
    fail: str = _BF_FAIL,
    success: str = _BF_SUCCESS,
) -> DataFrame:
    """The keyed run-length state stage as a pure df→df (streaming
    frame in, update-mode monotone per-user report emissions out) —
    the single definition s_sec_brute_force AND the declarative
    `brute_force` transform bind; :func:`resolve_brute_force` folds
    the spool to the final per-user report."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    _BF_OUT_COLS = ["user_id", "n_bursts", "n_compromised", "max_run_len", "first_burst_s"]

    def update(key, pdfs, state):
        if state.exists:
            cur_run, cur_start_s, n_bursts, n_comp, max_run, first_s = state.get
        else:
            cur_run, cur_start_s, n_bursts, n_comp, max_run, first_s = 0, 0, 0, 0, 0, -1
        # this body runs once per user per micro-batch (1500 keys/
        # trigger at sf0.1): pandas frame ops cost ~1 ms/key here, so
        # everything below stays in numpy — the pandas sort_values path
        # alone measured 0.7 ms/key (~1 s/trigger) vs 0.07 ms for the
        # same (ts, event_id) lexsort on extracted arrays (guide §4.2)
        chunks = list(pdfs)
        rows = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        # order on the full timestamp, like the oracle's (ts, event_id);
        # seconds only for the reported run starts
        ts_ns = rows["ts"].to_numpy().astype("datetime64[ns]").astype(np.int64)
        order = np.lexsort((rows["event_id"].to_numpy(), ts_ns))
        # vectorized fold: a non-failure row CLOSES the run of
        # consecutive failures immediately before it; the batch tail
        # leaves an open run that carries into the next batch. Same
        # sequential semantics as a per-row loop, numpy throughput.
        # A carry-in run already past the threshold was provisionally
        # COUNTED by the batch that grew it there — whatever happens to
        # it this batch (closes, or stays open and grows) must not
        # count it again.
        carried_counted = cur_run >= min_run
        ets = rows["event_type"].to_numpy()[order]
        ts_s = ts_ns[order] // 10**9
        n = len(ets)
        closers = np.flatnonzero(ets != fail)
        if closers.size:
            run_lens = np.diff(np.concatenate(([-1], closers))) - 1
            starts = ts_s[closers - run_lens]  # in-batch run starts
            run_lens[0] += cur_run
            if cur_run > 0:  # carry-in run continues through slot 0
                starts[0] = cur_start_s
            bursts = run_lens >= min_run
            n_comp += int(np.count_nonzero(bursts & (ets[closers] == success)))
            tail = n - 1 - closers[-1]
            cur_run, cur_start_s = int(tail), int(ts_s[n - tail]) if tail else 0
        else:  # all failures: the open run just grows
            run_lens = np.empty(0, dtype=np.int64)
            starts = run_lens
            bursts = run_lens >= min_run
            if n:
                if cur_run == 0:
                    cur_start_s = int(ts_s[0])
                cur_run += n
        # provisional accounting for the still-open trailing run
        open_burst = cur_run >= min_run
        n_bursts += (
            int(np.count_nonzero(bursts)) + int(open_burst) - int(carried_counted)
        )
        all_lens = np.concatenate((run_lens[bursts], [cur_run] if open_burst else []))
        if all_lens.size:
            max_run = max(max_run, int(all_lens.max()))
        all_starts = np.concatenate(
            (starts[bursts], [cur_start_s] if open_burst else [])
        )
        if all_starts.size:
            lo = int(all_starts.min())
            first_s = lo if first_s < 0 else min(first_s, lo)
        state.update((cur_run, cur_start_s, n_bursts, n_comp, max_run, first_s))
        # all-int64 1-row emission: building from one ndarray is ~2x
        # cheaper than the dict-of-lists constructor at this call rate
        yield pd.DataFrame(
            np.array(
                [[int(key[0]), n_bursts, n_comp, max_run, first_s]], dtype=np.int64
            ),
            columns=_BF_OUT_COLS,
            copy=False,
        )

    # ship only the columns the fold reads across the Python boundary
    # (guide §4.1) — `value`/`props` never enter the state machine
    return df.select("user_id", "event_type", "ts", "event_id").groupBy(
        "user_id"
    ).applyInPandasWithState(
        update,
        outputStructType=(
            "user_id long, n_bursts long, n_compromised long, "
            "max_run_len long, first_burst_s long"
        ),
        stateStructType=(
            "cur_run long, cur_start_s long, n_bursts long, "
            "n_comp long, max_run long, first_s long"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def resolve_brute_force(out: DataFrame) -> DataFrame:
    """Fold the update-mode spool to the final per-user report: every
    total is monotone (counts up, first-burst down), so the
    column-wise extremum over the emissions IS the final state."""
    return (
        out.groupBy("user_id")
        .agg(
            F.max("n_bursts").alias("n_bursts"),
            F.max("n_compromised").alias("n_compromised"),
            F.max("max_run_len").alias("max_run_len"),
            F.min(F.when(F.col("first_burst_s") >= 0, F.col("first_burst_s"))).alias(
                "first_s"
            ),
        )
        .where(F.col("n_bursts") > 0)
        .select(
            "user_id",
            "n_bursts",
            "n_compromised",
            "max_run_len",
            F.col("first_s").cast("timestamp").alias("first_burst_ts"),
        )
    )


def _brute_force_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """s_sec_brute_force's body with the admission knob exposed — the
    slicing-invariance test drives it at 1 and 8 files/trigger."""
    from cheetah_spark.queries.streams import scoped_state_partitions
    from cheetah_spark.sources import ParquetSource
    from cheetah_spark.streaming import events_stream_dir, run_stream_to_completion

    src_dir = events_stream_dir(spark, sf_dir)
    stream = ParquetSource(
        src_dir, streaming=True, max_files_per_trigger=max_files_per_trigger
    ).read(spark)
    with scoped_state_partitions(spark):
        out = run_stream_to_completion(
            stream, brute_force_state_stage, output_mode="update"
        )
    return resolve_brute_force(out)


# ---------------------------------------------------------------------------
# Log-source volume drift (outage / drop detection per source series)
# ---------------------------------------------------------------------------

_LD_TRAIL_DAYS = 7  # trailing window the daily volume is judged against
# worst-day selection key: (shortfall DESC, day ASC) folded into ONE
# exact bigint so max_by/arg_max agree cross-engine (DuckDB's arg_min
# has no struct-ordering overload). shortfall * 2^21 dominates; the
# subtracted epoch-day (< 2^21 until year ~7700) breaks ties toward
# the EARLIER day. |shortfall| <= 7 * daily volume, so the product
# stays far inside int64 until ~4e12 events/source/day.
_LD_KEY_SHIFT = 1 << 21


_LD_ORACLE = f"""
        WITH d AS (
            SELECT event_type,
                   CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM events GROUP BY 1, 2
        ),
        per AS (SELECT event_type, MIN(day) AS lo FROM d GROUP BY 1),
        spine AS (
            SELECT event_type,
                   unnest(generate_series(lo, (SELECT MAX(day) FROM d),
                                          INTERVAL 1 DAY)) AS day
            FROM per
        ),
        f AS (
            SELECT s.event_type, s.day,
                   CAST(COALESCE(d.cnt, 0) AS BIGINT) AS cnt
            FROM spine s LEFT JOIN d USING (event_type, day)
        ),
        t AS (
            SELECT event_type, day, cnt,
                   CAST(SUM(cnt) OVER w AS BIGINT) AS trail,
                   COUNT(cnt) OVER w AS n_prev
            FROM f
            WINDOW w AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN {_LD_TRAIL_DAYS} PRECEDING AND 1 PRECEDING)
        ),
        fd AS (
            SELECT event_type, day, cnt,
                   trail - {_LD_TRAIL_DAYS} * cnt AS shortfall
            FROM t WHERE n_prev = {_LD_TRAIL_DAYS}
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(MIN(cnt) AS BIGINT) AS min_daily,
               CAST(MAX(cnt) AS BIGINT) AS max_daily,
               arg_max(day, shortfall * {_LD_KEY_SHIFT}
                            - date_diff('day', DATE '1970-01-01', day)) AS worst_day,
               CAST(MAX(shortfall) AS BIGINT) AS worst_shortfall
        FROM fd GROUP BY event_type
    """


@register(
    "q_sec_log_drift",
    oracle=_LD_ORACLE,
    tags=("security", "drift", "timeseries"),
)
def q_sec_log_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-source volume drift — "which source went quiet": per
    (event_type, day) volume judged against its own trailing 7-day
    total; the shortfall trail − 7·cnt (positive = below the trailing
    mean, scaled by 7 so it stays an exact integer) is maximized per
    source to name each source's worst drop day. A silent log-source
    outage — the detection gap every SIEM monitors for — surfaces as a
    large positive worst_shortfall: the daily series is zero-filled on
    a per-source day spine, so a day with NO rows (the severest case —
    it would otherwise simply be absent from the series) scores
    shortfall = trail, the maximum.

    Scale shape: the daily pre-aggregate is map-side combinable (the
    shuffle carries sources x days rows, not events — at 100 TB the
    scan dominates and everything downstream is constant-size), the
    trailing window sorts that tiny series once, and the per-source
    report is ONE aggregate: the worst day rides max_by over the
    (shortfall DESC, day ASC) order folded into a single exact-integer
    key — no rank branch, no self-join of the EVENT table. The daily
    counts frame is persisted (it is bounded by sources × days), the
    zero-fill spine joins against that cache, and events are read
    exactly ONCE (the naive agg-join-rank formulation scans twice)."""
    return log_drift_report(load_table(spark, sf_dir, "events"))


def log_drift_report(df: DataFrame) -> DataFrame:
    """q_sec_log_drift's composition as a pure df→df — the single
    definition the registered query AND the declarative `log_drift`
    transform (config.py) bind. Batch-only: the trailing window reads
    a COMPLETE per-source daily series."""
    return resolve_log_drift(log_drift_counts_stage(df))


def log_drift_counts_stage(df: DataFrame) -> DataFrame:
    """The streaming-safe stage: COUNT per (event_type, day) — one
    state counter per live series point, order-insensitive under any
    admission slicing; :func:`resolve_log_drift` judges the drained
    series. The s_sec_port_scan decomposition: the stateful part is
    the combinable aggregate, the windowed judgment runs post-drain."""
    return df.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").cast("bigint").alias("cnt"))


def resolve_log_drift(d: DataFrame) -> DataFrame:
    """Trailing-window judgment + per-source report over the (tiny)
    per-(event_type, day) count series.

    Spool-safe like resolve_port_scan: cumulative counts are monotone,
    so MAX per (event_type, day) recovers the final state whether the
    sink held complete-mode finals or accumulated update-mode rows.

    Days a source emitted NOTHING produce no count row, and a fully
    dark source is exactly the outage the detector exists to catch —
    so the series is zero-FILLED on a per-source day spine (from each
    source's first observed day to the global last observed day)
    before the window judgment; a total outage then scores
    shortfall = trail, the maximum possible. The counts frame is
    bounded (sources × days), so it is eagerly localCheckpointed and
    the spine's three references read the materialized RDD — events
    are still scanned exactly once.  localCheckpoint, not persist():
    a persist here leaks a CacheManager entry for the session lifetime
    (a daemon running this query N times accumulates N cached frames
    competing with execution memory — guide §5), and CacheManager
    plan-matching against leaked entries made downstream plans
    nondeterministic across invocations (caught by the r13 full-suite
    run: a leaked entry from an earlier config-bound invocation
    rewrote this query's plan)."""
    d = (
        d.groupBy("event_type", "day")
        .agg(F.max("cnt").cast("bigint").alias("cnt"))
        .localCheckpoint()
    )
    # renamed spine keys: the spine derives FROM d, so a same-name
    # USING join would be a self-join with conflicting attribute ids
    # (Spark cannot disambiguate MemorySink-view lineage)
    per = d.groupBy(F.col("event_type").alias("__et")).agg(F.min("day").alias("lo"))
    hi = d.agg(F.max("day").alias("hi"))
    spine = per.crossJoin(F.broadcast(hi)).select(
        "__et",
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 day"))).alias("__day"),
    )
    filled = spine.join(
        d,
        (spine["__et"] == d["event_type"]) & (spine["__day"] == d["day"]),
        "left",
    ).select(
        F.col("__et").alias("event_type"),
        F.col("__day").alias("day"),
        F.coalesce("cnt", F.lit(0)).cast("bigint").alias("cnt"),
    )
    w = W.partitionBy("event_type").orderBy("day").rowsBetween(-_LD_TRAIL_DAYS, -1)
    t = filled.withColumn("trail", F.sum("cnt").over(w).cast("bigint")).withColumn(
        "n_prev", F.count("cnt").over(w)
    )
    fd = t.where(F.col("n_prev") == _LD_TRAIL_DAYS).withColumn(
        "shortfall", F.col("trail") - _LD_TRAIL_DAYS * F.col("cnt")
    )
    key = F.col("shortfall") * _LD_KEY_SHIFT - F.datediff(
        F.col("day"), F.lit("1970-01-01").cast("date")
    )
    return fd.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.min("cnt").cast("bigint").alias("min_daily"),
        F.max("cnt").cast("bigint").alias("max_daily"),
        F.max_by("day", key).alias("worst_day"),
        F.max("shortfall").cast("bigint").alias("worst_shortfall"),
    )


@register(
    "s_sec_log_drift",
    oracle=_LD_ORACLE,
    tags=("security", "drift", "streaming"),
)
def s_sec_log_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming log-drift monitoring — the s_sec_port_scan
    decomposition applied to the drift series: the stateful part is a
    complete-mode COUNT per (event_type, day) (one counter per live
    series point; COUNT is order-insensitive, so any admission slicing
    drains identically), and the trailing-window judgment — which
    needs the COMPLETE per-source series and is therefore not a
    streaming operator — runs batch-side over the drained counts,
    hash-matched against the batch oracle verbatim. State is bounded
    by sources × live days; production ages closed days out with a
    watermark once the trailing window has passed them."""
    from cheetah_spark.queries.streams import scoped_state_partitions
    from cheetah_spark.sources import ParquetSource
    from cheetah_spark.streaming import events_stream_dir, run_stream_to_completion

    src_dir = events_stream_dir(spark, sf_dir)
    stream = ParquetSource(src_dir, streaming=True, max_files_per_trigger=2).read(spark)
    with scoped_state_partitions(spark):
        out = run_stream_to_completion(
            stream, log_drift_counts_stage, output_mode="complete"
        )
    return resolve_log_drift(out)
