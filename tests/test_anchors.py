"""The derived-fixture store and the anchors on it: build-once
semantics, cross-process parquet reuse, bit-exact doubles, invalidation
by source, build-function code, helpers and params, atomic publishing,
and the call-time FIXTURE_ROOT."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from cheetah_spark import anchors


def _fixture_dir(tmp_path, spark, sf_dir):
    """A private sf_dir whose files the test may touch (the real
    testdata is read-only)."""
    d = tmp_path / "sf_anchor"
    d.mkdir()
    shutil.copy(f"{sf_dir}/nation.parquet", d / "nation.parquet")
    return str(d)


def test_anchor_builds_once_and_survives_process_restart(tmp_path, spark, sf_dir):
    sfd = _fixture_dir(tmp_path, spark, sf_dir)
    calls = {"n": 0}

    def build(spark_, sf_):
        calls["n"] += 1
        n = spark_.read.parquet(f"{sf_}/nation.parquet")
        return n.groupBy("n_regionkey").agg(
            F.count("*").alias("n"),
            (F.sum("n_nationkey") / 7.0).alias("frac"),  # non-trivial double
        )

    a1 = anchors.anchor_df(spark, sfd, "t_anchor", ("nation",), build).collect()
    a2 = anchors.anchor_df(spark, sfd, "t_anchor", ("nation",), build).collect()
    assert calls["n"] == 1  # memoized within the process
    assert sorted(map(str, a1)) == sorted(map(str, a2))

    # simulate a fresh process: drop the memo, keep the parquet
    anchors._memo.clear()
    a3 = anchors.anchor_df(spark, sfd, "t_anchor", ("nation",), build).collect()
    assert calls["n"] == 1, "persisted anchor must be read, not rebuilt"
    # bit-exact doubles through the parquet round trip
    assert {r.n_regionkey: r.frac.hex() for r in a1} == {
        r.n_regionkey: r.frac.hex() for r in a3
    }


def test_anchor_invalidated_when_source_changes(tmp_path, spark, sf_dir):
    sfd = _fixture_dir(tmp_path, spark, sf_dir)
    calls = {"n": 0}

    def build(spark_, sf_):
        calls["n"] += 1
        return spark_.read.parquet(f"{sf_}/nation.parquet").agg(
            F.count("*").alias("n")
        )

    anchors.anchor_df(spark, sfd, "t_stale", ("nation",), build)
    anchors._memo.clear()
    os.utime(f"{sfd}/nation.parquet")  # regenerated fixture → new mtime
    anchors.anchor_df(spark, sfd, "t_stale", ("nation",), build)
    assert calls["n"] == 2, "mtime change must invalidate the persisted anchor"


def test_anchor_invalidated_when_builder_params_change(tmp_path, spark, sf_dir):
    """Round-5 advice: the staleness key must encode the BUILDER's
    definition, so a code revision cannot be served a stale anchor
    computed by the old builder."""
    sfd = _fixture_dir(tmp_path, spark, sf_dir)
    calls = {"n": 0}

    def build(spark_, sf_):
        calls["n"] += 1
        return spark_.read.parquet(f"{sf_}/nation.parquet").agg(F.count("*").alias("n"))

    anchors.anchor_df(spark, sfd, "t_params", ("nation",), build, params="v1")
    anchors._memo.clear()
    anchors.anchor_df(spark, sfd, "t_params", ("nation",), build, params="v1")
    assert calls["n"] == 1, "same params: persisted anchor served"
    anchors._memo.clear()
    anchors.anchor_df(spark, sfd, "t_params", ("nation",), build, params="v2")
    assert calls["n"] == 2, "params change must invalidate the persisted anchor"


def test_anchor_invalidated_when_builder_code_changes(tmp_path, spark, sf_dir):
    """Round-6 verdict item #1: the key must encode the builder's CODE
    identity, not just hand-bumped params — editing the builder (here:
    a different aggregate) with identical params must miss the cache,
    so a stale anchor can never fake a green correctness row."""
    sfd = _fixture_dir(tmp_path, spark, sf_dir)
    calls = {"n": 0}

    def build(spark_, sf_):
        calls["n"] += 1
        return spark_.read.parquet(f"{sf_}/nation.parquet").agg(
            F.count("*").alias("n")
        )

    anchors.anchor_df(spark, sfd, "t_code", ("nation",), build, params="v1")
    assert calls["n"] == 1

    def build(spark_, sf_):  # noqa: F811 — the "edited" revision
        calls["n"] += 1
        return spark_.read.parquet(f"{sf_}/nation.parquet").agg(
            F.sum("n_nationkey").alias("n")
        )

    got = anchors.anchor_df(
        spark, sfd, "t_code", ("nation",), build, params="v1"
    ).collect()
    assert calls["n"] == 2, "builder source change must invalidate the anchor"
    assert got[0].n != 25, "values must come from the NEW builder, not the cache"

    # and the new revision persists under its own identity
    anchors._memo.clear()
    anchors.anchor_df(spark, sfd, "t_code", ("nation",), build, params="v1")
    assert calls["n"] == 2, "re-load after memo clear must hit the new parquet"


def test_anchor_invalidated_when_declared_helper_changes(tmp_path, spark, sf_dir):
    """r8 verdict item #9 (promoting the r7 advice nit): a builder's
    DECLARED helpers are part of the identity key — editing a helper's
    source with an unchanged builder body and params must miss the
    cache, so helper edits can't serve stale persisted anchors."""
    sfd = _fixture_dir(tmp_path, spark, sf_dir)
    calls = {"n": 0}

    def helper(c):
        return F.count(c)

    def build(spark_, sf_):
        calls["n"] += 1
        return spark_.read.parquet(f"{sf_}/nation.parquet").agg(
            helper(F.col("n_nationkey")).alias("n")
        )

    anchors.anchor_df(spark, sfd, "t_helper", ("nation",), build, params="v1", helpers=(helper,))
    assert calls["n"] == 1
    # same helper object → cache hit across memo clear
    anchors._memo.clear()
    anchors.anchor_df(spark, sfd, "t_helper", ("nation",), build, params="v1", helpers=(helper,))
    assert calls["n"] == 1

    def helper(c):  # noqa: F811 — the "edited" helper revision
        return F.sum(c)

    anchors._memo.clear()
    got = anchors.anchor_df(
        spark, sfd, "t_helper", ("nation",), build, params="v1", helpers=(helper,)
    ).collect()
    assert calls["n"] == 2, "declared helper source change must invalidate the anchor"
    assert got[0].n != 25, "values must come from the NEW helper, not the cache"


def test_media_fixture_invalidated_when_documents_change(tmp_path, spark, sf_dir):
    """media_fixture_dir is a derived-fixture store directory: a
    regenerated documents fixture must rebuild the synthesized media
    parquet, not serve payloads from the old corpus."""
    from cheetah_spark.derived import MARKER
    from cheetah_spark.multimodal import media_fixture_dir

    d = tmp_path / "sf_media"
    d.mkdir()
    shutil.copy(f"{sf_dir}/documents.parquet", d / "documents.parquet")
    sfd = str(d)
    out = media_fixture_dir(spark, sfd, "real")
    key1 = open(f"{out}/{MARKER}").read()
    assert media_fixture_dir(spark, sfd, "real") == out
    assert open(f"{out}/{MARKER}").read() == key1, "fresh fixture reused"
    os.utime(f"{sfd}/documents.parquet")  # regenerated corpus
    media_fixture_dir(spark, sfd, "real")
    key2 = open(f"{out}/{MARKER}").read()
    assert key2 != key1, "source mtime change must rebuild the media fixture"


def _private_events(tmp_path, sf_dir, name):
    """A private sf dir holding a copy of the events fixture, and a
    function that rewrites it with the even event_ids only (a
    regenerated source whose rows differ)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    d = tmp_path / name
    d.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", d / "events.parquet")

    def rewrite() -> set:
        t = pq.read_table(f"{sf_dir}/events.parquet")
        t = t.filter(pc.equal(pc.bit_wise_and(t["event_id"], 1), 0))
        pq.write_table(t, d / "events.parquet")
        return set(t["event_id"].to_pylist())

    return str(d), rewrite


def test_replay_feed_rebuilt_when_source_rewritten(tmp_path, monkeypatch, spark, sf_dir):
    """A replay feed must follow its source table: the streaming query
    reads the feed while its oracle re-reads the table, so a stale feed
    diverges silently. Rewriting events.parquet with a different row
    subset, in the same process, must rebuild the feed."""
    import cheetah_spark.streaming as S

    monkeypatch.setattr(S, "FIXTURE_ROOT", str(tmp_path / "fx"))
    sfd, rewrite = _private_events(tmp_path, sf_dir, "sf_replay_stale")
    first = S.events_stream_dir(spark, sfd)
    n_all = spark.read.parquet(first).count()
    want = rewrite()
    assert len(want) < n_all
    got = {r.event_id for r in spark.read.parquet(S.events_stream_dir(spark, sfd)).collect()}
    assert got == want, "the replay feed must hold the rewritten rows"


def test_transport_capture_rebuilt_when_source_rewritten(tmp_path, monkeypatch, spark, sf_dir):
    """The same rule for a transport capture (NATS): a rewritten events
    table must not be answered from the old capture."""
    import json

    import cheetah_spark.streaming as S
    from cheetah_spark.queries.nats import nats_capture_dir

    monkeypatch.setattr(S, "FIXTURE_ROOT", str(tmp_path / "fx"))
    sfd, rewrite = _private_events(tmp_path, sf_dir, "sf_capture_stale")
    n_all = spark.read.json(nats_capture_dir(spark, sfd)).count()
    want = rewrite()
    assert len(want) < n_all
    cap = spark.read.json(nats_capture_dir(spark, sfd))
    got = {int(json.loads(r.payload)["event_id"]) for r in cap.collect()}
    assert got == want, "the capture must hold the rewritten rows"


def test_anchor_persists_under_the_current_fixture_root(tmp_path, monkeypatch, spark, sf_dir):
    """FIXTURE_ROOT is read at call time: an override after import (a
    benchmark's private work dir, a test's tmp_path) must reach the
    anchors, not only the modules that happen to be imported later."""
    import cheetah_spark.streaming as S

    sfd = _fixture_dir(tmp_path, spark, sf_dir)
    root = tmp_path / "fx"
    monkeypatch.setattr(S, "FIXTURE_ROOT", str(root))

    def build(spark_, sf_):
        return spark_.read.parquet(f"{sf_}/nation.parquet").agg(F.count("*").alias("n"))

    assert anchors.anchor_df(spark, sfd, "t_root", ("nation",), build).collect()[0].n == 25
    assert (root / "sf_anchor" / "anchors" / "t_root").is_dir()


def test_store_publishes_whole_fixtures_only(tmp_path, monkeypatch):
    """A failed build publishes nothing and leaves the last good
    fixture in place; a source rewrite in the same process is caught on
    the next call (the memo does not hide it)."""
    import cheetah_spark.streaming as S
    from cheetah_spark.derived import MARKER, derived_dir

    monkeypatch.setattr(S, "FIXTURE_ROOT", str(tmp_path / "fx"))
    src = tmp_path / "src.txt"
    src.write_text("a")
    calls = {"n": 0}

    def build(out):
        calls["n"] += 1
        with open(f"{out}/v.txt", "w") as f:
            f.write(src.read_text())

    p = derived_dir("t/x", [str(src)], build)
    assert derived_dir("t/x", [str(src)], build) == p and calls["n"] == 1
    assert os.path.exists(f"{p}/{MARKER}")

    def broken(out):
        with open(f"{out}/v.txt", "w") as f:
            f.write("partial")
        raise RuntimeError("build failed")

    src.write_text("bb")
    with pytest.raises(RuntimeError):
        derived_dir("t/x", [str(src)], broken)
    assert open(f"{p}/v.txt").read() == "a", "a failed build must not replace the fixture"
    assert sorted(os.listdir(tmp_path / "fx" / "t")) == ["x"], "no temporary dir left"
    assert open(f"{derived_dir('t/x', [str(src)], build)}/v.txt").read() == "bb"
    assert calls["n"] == 2
