"""Security-detection family semantics: admission-slicing invariance
for the stateful brute-force stream, and a synthetic differential
check of the burst rule on adversarial shapes the fixture may not
contain (open trailing run, exact-threshold run, back-to-back bursts).
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from cheetah_spark.queries.security import _BF_ORACLE, _brute_force_stream
from cheetah_spark.registry import REGISTRY, _ensure_loaded

_ensure_loaded()


def _canon(df) -> list[tuple]:
    pdf = df.toPandas() if hasattr(df, "toPandas") else df
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    return sorted(map(tuple, pdf.astype(str).values.tolist()))


@pytest.mark.parametrize("mfpt", [1, 8])
def test_brute_force_stream_slicing_invariant(spark, sf_dir, mfpt):
    """The keyed run-length state must drain to the batch answer under
    any admission slicing — 1 file/trigger (every boundary lands
    between batches) and 8 (one mega-batch) bracket the registered 4."""
    batch = _canon(REGISTRY["q_sec_brute_force"].fn(spark, sf_dir))
    stream = _canon(_brute_force_stream(spark, sf_dir, max_files_per_trigger=mfpt))
    assert stream == batch


def test_brute_force_stream_carry_across_batches(spark, tmp_path):
    """A threshold-passing run that SPANS micro-batches must be counted
    exactly once: provisionally when it crosses the threshold, not
    re-counted when later batches grow it or close it. Runs stretched
    across the full replay span so 1-file triggers cut every run."""
    rows = []
    base = pd.Timestamp("2024-01-01")
    for h in range(8):  # user 1: failures in every time slice, open at end
        rows.append(
            {"event_id": len(rows) + 1, "ts": base + pd.Timedelta(hours=h),
             "user_id": 1, "event_type": "error", "value": 0.0, "props": "{}"}
        )
    for h in range(8):  # user 2: spanning run closed by a success
        rows.append(
            {"event_id": len(rows) + 1, "ts": base + pd.Timedelta(hours=h, minutes=30),
             "user_id": 2, "event_type": "error" if h < 7 else "purchase",
             "value": 0.0, "props": "{}"}
        )
    pd.DataFrame(rows).to_parquet(tmp_path / "events.parquet", index=False)

    batch = _canon(REGISTRY["q_sec_brute_force"].fn(spark, str(tmp_path)))
    streamed = _brute_force_stream(spark, str(tmp_path), max_files_per_trigger=1)
    rows = streamed.collect()
    assert _canon(pd.DataFrame([r.asDict() for r in rows])) == batch
    got = {
        r["user_id"]: (r["n_bursts"], r["n_compromised"], r["max_run_len"])
        for r in rows
    }
    assert got == {1: (1, 0, 8), 2: (1, 1, 7)}


def test_brute_force_rule_on_adversarial_shapes(spark, tmp_path):
    """Differential mini-oracle on hand-built histories: an OPEN
    trailing run counts as a burst with a not-compromised verdict
    (batch lead() is NULL), an exact-threshold run closed by a success
    is compromised, a sub-threshold run is not a burst, and two bursts
    in one history both count with one compromise."""
    rows = []

    def add(user, seq, t0=0):
        for i, et in enumerate(seq):
            rows.append(
                {
                    "event_id": len(rows) + 1,
                    "ts": pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=t0 + i),
                    "user_id": user,
                    "event_type": et,
                    "value": 0.0,
                    "props": "{}",
                }
            )

    f, s, v = "error", "purchase", "view"
    add(1, [f, f, f])  # open trailing run: burst, NOT compromised
    add(2, [f, f, f, s])  # threshold run closed by success: compromised
    add(3, [f, f, v])  # sub-threshold: no burst
    add(4, [f, f, f, f, v, f, f, f, s])  # two bursts, one compromise
    pdf = pd.DataFrame(rows)
    pdf.to_parquet(tmp_path / "events.parquet", index=False)

    rows = REGISTRY["q_sec_brute_force"].fn(spark, str(tmp_path)).collect()
    got = {
        r["user_id"]: (r["n_bursts"], r["n_compromised"], r["max_run_len"])
        for r in rows
    }
    assert got == {1: (1, 0, 3), 2: (1, 1, 3), 4: (2, 1, 4)}

    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'"
    )
    oracle = _canon(con.sql(_BF_ORACLE).df())
    assert _canon(pd.DataFrame([r.asDict() for r in rows])) == oracle


def test_brute_force_stream_orders_by_full_ts_not_seconds(spark, tmp_path):
    """Rows of one user within one second whose sub-second order
    disagrees with event_id order: the oracle orders by (ts, event_id),
    so three failures at .1/.2/.3 s followed by a success at .9 s with
    the LOWEST event_id is a compromised burst. Ordering by ts
    truncated to seconds would put the success first and leave an
    open, uncompromised run."""
    t0 = pd.Timestamp("2024-01-01 00:00:05")
    rows = [
        {"event_id": i + 1, "ts": t0 + pd.Timedelta(milliseconds=ms),
         "user_id": 1, "event_type": et, "value": 0.0, "props": "{}"}
        for i, (ms, et) in enumerate(
            [(900, "purchase"), (100, "error"), (200, "error"), (300, "error")]
        )
    ]
    pd.DataFrame(rows).to_parquet(tmp_path / "events.parquet", index=False)

    # one trigger admits every replay file, so all four rows meet in one
    # call of the keyed fold (across triggers the replay orders them)
    streamed = _brute_force_stream(spark, str(tmp_path), max_files_per_trigger=8).collect()
    got = {
        r["user_id"]: (r["n_bursts"], r["n_compromised"], r["max_run_len"])
        for r in streamed
    }
    assert got == {1: (1, 1, 3)}
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'")
    oracle = _canon(con.sql(_BF_ORACLE).df())
    assert _canon(pd.DataFrame([r.asDict() for r in streamed])) == oracle


@pytest.mark.parametrize("name,batch_name", [
    ("s_sec_port_scan", "q_sec_port_scan"),
    ("s_sec_log_drift", "q_sec_log_drift"),
])
def test_counts_state_twins_match_batch(spark, sf_dir, name, batch_name):
    """The complete-mode counts-state twins must drain to the batch
    answer (COUNT per composite key is order-insensitive, so the
    registered admission slicing is as good as any)."""
    got = _canon(REGISTRY[name].fn(spark, sf_dir))
    expect = _canon(REGISTRY[batch_name].fn(spark, sf_dir))
    assert got == expect and expect


def test_log_drift_detects_total_outage_via_zero_fill(spark, tmp_path):
    """A source that goes completely DARK has no daily row at all — the
    zero-fill spine is what makes the severest outage visible: the
    first dark day scores shortfall = the full trailing total. Also
    differentially checked against the oracle on the same fixture."""
    import duckdb as _duck

    from cheetah_spark.queries.security import _LD_ORACLE

    rows = []
    base = pd.Timestamp("2024-03-01")
    per_day = 24
    for day in range(21):
        for h in range(per_day):  # steady: emits every day
            rows.append(
                {"event_id": len(rows) + 1,
                 "ts": base + pd.Timedelta(days=day, hours=h % 24),
                 "user_id": 1, "event_type": "steady", "value": 0.0, "props": "{}"}
            )
        if day < 15:  # darkens: silent from day 15 onward
            for h in range(per_day):
                rows.append(
                    {"event_id": len(rows) + 1,
                     "ts": base + pd.Timedelta(days=day, hours=h % 24),
                     "user_id": 2, "event_type": "darkens", "value": 0.0,
                     "props": "{}"}
                )
    pd.DataFrame(rows).to_parquet(tmp_path / "events.parquet", index=False)

    out = {
        r.event_type: r
        for r in REGISTRY["q_sec_log_drift"].fn(spark, str(tmp_path)).collect()
    }
    dark = out["darkens"]
    assert dark.min_daily == 0  # the zero-filled outage days exist
    assert dark.worst_day == (base + pd.Timedelta(days=15)).to_pydatetime()
    assert dark.worst_shortfall == 7 * per_day  # full trailing total
    assert out["steady"].worst_shortfall <= 0  # flat series never drops

    con = _duck.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'")
    assert _canon(con.sql(_LD_ORACLE).df()) == _canon(
        REGISTRY["q_sec_log_drift"].fn(spark, str(tmp_path))
    )


class _NewState:
    """The slice of GroupState the keyed folds use, for a new key."""

    exists = False

    def update(self, value):
        self.value = value


def test_impossible_travel_fold_normalizes_ts_unit():
    """The s_sec_impossible_travel fold reads ts as nanoseconds whatever
    unit the Arrow-to-pandas conversion delivers: a datetime64[us]
    series folds to the same emission and state as datetime64[ns]."""
    from cheetah_spark.queries.streams import _impossible_travel_update

    ts = pd.Series([
        pd.Timestamp("2024-01-01 00:00:00"),
        pd.Timestamp("2024-01-01 00:10:00"),
        pd.Timestamp("2024-01-01 05:00:00.5"),
    ])

    def fold(unit):
        rows = pd.DataFrame(
            {"user_id": [7] * 3, "event_id": [1, 2, 3], "ts": ts.astype(f"datetime64[{unit}]")}
        )
        state = _NewState()
        out = next(_impossible_travel_update()((7,), iter([rows]), state))
        return out.values.tolist(), state.value

    assert fold("us")[1][2] == int(ts.iloc[-1].timestamp())  # last ts, seconds
    assert fold("us") == fold("ns")
