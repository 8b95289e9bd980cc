"""Versioned sink protocol (operators/versioned.py): commit atomicity,
reader snapshot isolation across overlapping swaps, crash-debris recovery,
GC horizon, and merge/fold semantics."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from youtube_api_data_etl_automation_spark.operators.versioned import (
    ConcurrentWriteError,
    commit_version,
    current_version,
    incremental_state_versioned,
    list_versions,
    merge_upsert_versioned,
    read_current,
    version_path,
)


def _df(spark, pairs):
    return spark.createDataFrame(pairs, "k string, v long")


def _fold(delta, base, keys, sum_cols, batch_id):
    """An exactly-once count + decimal-sum fold through
    incremental_state_versioned (state schema: keys, cnt, sum_<c>)."""

    def sums(src):
        return [F.sum(src(c)).cast("decimal(28,6)").alias(f"sum_{c}")
                for c in sum_cols]

    def fold(old_state, batch):
        part = batch.groupBy(*keys).agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            *sums(lambda c: F.col(c).cast("decimal(28,6)")),
        )
        if old_state is None:
            return part
        return old_state.unionByName(part).groupBy(*keys).agg(
            F.sum("cnt").cast("long").alias("cnt"),
            *sums(lambda c: F.col(f"sum_{c}")),
        )

    return incremental_state_versioned(delta, base, batch_id, fold)


def test_commit_and_read_roundtrip(spark, tmp_path):
    base = str(tmp_path / "sink")
    v1 = commit_version(_df(spark, [("a", 1), ("b", 2)]), base)
    assert v1 == 1 and current_version(spark, base) == 1
    got = {(r.k, r.v) for r in read_current(spark, base).collect()}
    assert got == {("a", 1), ("b", 2)}


def test_drift_between_versions(spark, tmp_path):
    """Refresh-over-refresh drift straight off the sink: v2 plants a null
    spike and a value collapse in k; the report carries the version pair
    and flags exactly the planted metrics. One committed version (or a
    non-retained explicit pair) raises instead of reading as 'no
    drift'."""
    from youtube_api_data_etl_automation_spark.operators.versioned import (
        drift_between_versions,
    )

    base = str(tmp_path / "sink")
    commit_version(
        _df(spark, [(f"k{i}", i) for i in range(20)]), base
    )
    with pytest.raises(ValueError, match="two committed versions"):
        drift_between_versions(spark, base)
    commit_version(
        _df(spark, [("k0" if i % 2 else None, 1) for i in range(20)]), base
    )
    rows = {
        (r["column_name"], r["metric"]): r
        for r in drift_between_versions(spark, base).collect()
    }
    assert all(
        (r["prev_version"], r["cur_version"]) == (1, 2) for r in rows.values()
    )
    assert rows[("k", "null_rate")]["flagged"] is True  # 0 -> 0.5
    assert rows[("k", "n_distinct")]["flagged"] is True  # 20 -> 1
    assert rows[("v", "avg_value")]["flagged"] is True  # 9.5 -> 1.0
    with pytest.raises(ValueError, match="not committed"):
        drift_between_versions(spark, base, versions=(7, 2))


def test_psi_between_versions(spark, tmp_path):
    """Distribution-shape drift off the sink: same mean, exploded spread
    between v1 and v2 — moments stay quiet, PSI flags."""
    from youtube_api_data_etl_automation_spark.operators.versioned import (
        drift_between_versions,
        psi_between_versions,
    )

    def vdf(vals):
        return spark.createDataFrame(
            [(f"k{i}", float(v)) for i, v in enumerate(vals)],
            "k string, v double",
        )

    base = str(tmp_path / "sink")
    commit_version(vdf([5.0] * 40 + [4.0] * 30 + [6.0] * 30), base)
    commit_version(vdf([5.0] * 20 + [1.0] * 40 + [9.0] * 40), base)
    psi = psi_between_versions(spark, base, "v", 0.0, 10.0, 10).collect()[0]
    assert (psi["prev_version"], psi["cur_version"]) == (1, 2)
    assert psi["column_name"] == "v"
    assert psi["flagged"] is True and psi["psi"] > 0.25
    moments = {
        (r["column_name"], r["metric"]): r
        for r in drift_between_versions(spark, base, ["v"]).collect()
    }
    assert moments[("v", "avg_value")]["flagged"] is False  # mean unmoved
    with pytest.raises(ValueError, match="not committed"):
        psi_between_versions(spark, base, "v", 0.0, 10.0, 10, versions=(9, 2))


def test_schema_diff_between_versions(spark, tmp_path):
    """Planted add + drop + retype between two commits: the diff reports
    each exactly once with the right breaking verdict (drop/retype break
    readers, add does not), and identical schemas diff to empty —
    footer-only metadata, stamped with the version pair."""
    from youtube_api_data_etl_automation_spark.operators.versioned import (
        schema_diff_between_versions,
    )

    base = str(tmp_path / "sink")
    commit_version(
        spark.createDataFrame(
            [("a", 1, 1.0)], "k string, v long, w double"
        ),
        base,
        keep_versions=3,
    )
    commit_version(
        spark.createDataFrame(
            [("a", "1", True)], "k string, v string, extra boolean"
        ),
        base,
        keep_versions=3,
    )
    rows = {
        r["column_name"]: r
        for r in schema_diff_between_versions(spark, base).collect()
    }
    assert all(
        (r["prev_version"], r["cur_version"]) == (1, 2) for r in rows.values()
    )
    assert set(rows) == {"v", "w", "extra"}
    v = rows["v"]
    assert (v["change"], v["prev_type"], v["cur_type"], v["breaking"]) == (
        "retyped", "bigint", "string", True,
    )
    w = rows["w"]
    assert (w["change"], w["prev_type"], w["cur_type"], w["breaking"]) == (
        "dropped", "double", None, True,
    )
    extra = rows["extra"]
    assert (
        extra["change"], extra["prev_type"], extra["cur_type"],
        extra["breaking"],
    ) == ("added", None, "boolean", False)
    # identical refresh: empty diff
    commit_version(
        spark.createDataFrame(
            [("b", "2", False)], "k string, v string, extra boolean"
        ),
        base,
        keep_versions=3,
    )
    assert schema_diff_between_versions(spark, base).count() == 0
    with pytest.raises(ValueError, match="not committed"):
        schema_diff_between_versions(spark, base, versions=(9, 2))


def test_schema_diff_sees_nested_and_decimal_changes(spark):
    """Types compare by simpleString, so a change INSIDE a struct field
    or a decimal precision bump counts as a retype — the changes a naive
    name-only diff would miss."""
    from youtube_api_data_etl_automation_spark.operators.versioned import (
        schema_diff,
    )

    prev = spark.createDataFrame(
        [], "k string, meta struct<a:int,b:string>, amt decimal(10,2)"
    )
    cur = spark.createDataFrame(
        [], "k string, meta struct<a:bigint,b:string>, amt decimal(12,2)"
    )
    rows = {r["column_name"]: r for r in schema_diff(spark, cur, prev).collect()}
    assert set(rows) == {"meta", "amt"}
    assert rows["meta"]["change"] == "retyped" and rows["meta"]["breaking"]
    assert rows["meta"]["prev_type"] == "struct<a:int,b:string>"
    assert rows["meta"]["cur_type"] == "struct<a:bigint,b:string>"
    assert rows["amt"]["prev_type"] == "decimal(10,2)"


def test_merge_upsert_versioned_semantics(spark, tmp_path):
    """MERGE semantics over the versioned store: update wins on matched
    keys, unmatched kept, inserts land."""
    base = str(tmp_path / "sink")
    merge_upsert_versioned(_df(spark, [("a", 1), ("b", 2), ("c", 3)]), base, "k")
    merge_upsert_versioned(_df(spark, [("b", 20), ("d", 40)]), base, "k")
    got = {(r.k, r.v) for r in read_current(spark, base).collect()}
    assert got == {("a", 1), ("b", 20), ("c", 3), ("d", 40)}
    assert current_version(spark, base) == 2
    # Re-merging the same updates commits a version with the same rows.
    merge_upsert_versioned(_df(spark, [("b", 20), ("d", 40)]), base, "k")
    assert {(r.k, r.v) for r in read_current(spark, base).collect()} == got


def test_merge_upsert_null_key_replaces_not_accumulates(spark, tmp_path):
    """The key match is NULL-safe: a NULL-key update replaces the stored
    NULL-key row instead of adding one more per merge."""
    base = str(tmp_path / "null_dim")
    merge_upsert_versioned(
        spark.createDataFrame([("a", 1), (None, 10)], "key string, v int"),
        base,
        "key",
    )
    for v in (20, 30):
        merge_upsert_versioned(
            spark.createDataFrame([(None, v)], "key string, v int"), base, "key"
        )
    got = {(r.key, r.v) for r in read_current(spark, base).collect()}
    assert got == {("a", 1), (None, 30)}  # replaced, not accumulated


def test_reader_overlapping_swap_sees_complete_old_version(spark, tmp_path):
    """THE race the in-place swap can't win: resolve a read, then commit a
    replacement, then materialize the old read — it must still see the
    complete pre-swap state (default retention keeps N-1 alive), while a
    fresh resolve sees the new state. No interleaving observes a partial
    directory."""
    base = str(tmp_path / "sink")
    commit_version(_df(spark, [("a", 1), ("b", 2), ("c", 3)]), base)

    old_reader = read_current(spark, base)  # resolved: v1, not yet executed
    merge_upsert_versioned(_df(spark, [("b", 99), ("z", 100)]), base, "k")

    # the in-flight reader still scans v1's immutable files, completely
    old = {(r.k, r.v) for r in old_reader.collect()}
    assert old == {("a", 1), ("b", 2), ("c", 3)}
    new = {(r.k, r.v) for r in read_current(spark, base).collect()}
    assert new == {("a", 1), ("b", 99), ("c", 3), ("z", 100)}


def test_every_observed_state_is_a_committed_state(spark, tmp_path):
    """Interleaved reads across a chain of commits only ever observe one
    of the committed row-sets — never a mix or a partial listing."""
    base = str(tmp_path / "sink")
    states = []
    rows = []
    for i in range(4):
        rows = rows + [(f"k{i}", i)]
        commit_version(_df(spark, rows), base, keep_versions=2)
        states.append(frozenset(rows))
        observed = frozenset(
            (r.k, r.v) for r in read_current(spark, base).collect()
        )
        assert observed in states


def _backdate(path: str, hours: float = 12.0) -> None:
    """Age a planted debris dir past the staging-GC horizon: the r6 CAS
    hardening only reclaims MARKER-LESS slots older than the horizon (a
    fresh one may be a live writer's rename->marker window)."""
    import time

    t = time.time() - hours * 3600
    os.utime(path, (t, t))


def test_uncommitted_debris_is_invisible_and_reclaimed(spark, tmp_path):
    """A crashed writer's marker-less dir: readers skip it, the next
    commit reclaims the same version number."""
    base = str(tmp_path / "sink")
    commit_version(_df(spark, [("a", 1)]), base)
    # simulate a writer that died after writing data, before the marker
    debris = version_path(base, 2)
    _df(spark, [("PARTIAL", 999)]).write.parquet(debris)
    os.remove(os.path.join(debris, "_COMMITTED")) if os.path.exists(
        os.path.join(debris, "_COMMITTED")
    ) else None
    # Spark's own _SUCCESS may exist — only OUR marker commits a version.
    assert current_version(spark, base) == 1
    got = {(r.k, r.v) for r in read_current(spark, base).collect()}
    assert got == {("a", 1)}

    # FRESH marker-less debris could be a live writer mid-publish: the
    # next committer must refuse the slot rather than destroy it.
    with pytest.raises(ConcurrentWriteError):
        commit_version(_df(spark, [("a", 1), ("b", 2)]), base)
    assert current_version(spark, base) == 1

    # Aged past the horizon it is provably crashed debris — reclaimed.
    _backdate(debris)
    v = commit_version(_df(spark, [("a", 1), ("b", 2)]), base)
    assert v == 2  # debris slot reclaimed
    got = {(r.k, r.v) for r in read_current(spark, base).collect()}
    assert got == {("a", 1), ("b", 2)}


def test_gc_keeps_retention_horizon(spark, tmp_path):
    base = str(tmp_path / "sink")
    for i in range(1, 5):
        commit_version(_df(spark, [("n", i)]), base, keep_versions=2)
    vs = list_versions(spark, base)
    assert [v for v, ok in vs if ok] == [3, 4]  # only the horizon survives
    assert read_current(spark, base).collect()[0].v == 4


def test_read_fresh_sink_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        read_current(spark, str(tmp_path / "nope"))


def test_incremental_agg_versioned_matches_full_recompute(spark, tmp_path):
    """Two folded batches must equal the one-shot aggregate of their union,
    bit-identical (decimal-exact sums) — and state + applied markers land
    under ONE commit."""
    from decimal import Decimal

    from youtube_api_data_etl_automation_spark.operators.versioned import (
        read_agg_state,
    )

    base = str(tmp_path / "agg")
    b1 = spark.createDataFrame(
        [("a", 1.5), ("a", 2.25), ("b", 3.0)], "k string, x double"
    )
    b2 = spark.createDataFrame([("a", 0.25), ("c", 7.0)], "k string, x double")
    _fold(b1, base, ["k"], ["x"], batch_id="b1")
    _fold(b2, base, ["k"], ["x"], batch_id="b2")

    got = {r.k: (r.cnt, r.sum_x) for r in read_agg_state(spark, base).collect()}
    full = (
        b1.unionByName(b2)
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum(F.col("x").cast("decimal(28,6)"))
            .cast("decimal(28,6)")
            .alias("sum_x"),
        )
    )
    want = {r.k: (r.cnt, r.sum_x) for r in full.collect()}
    assert got == want
    assert got["a"] == (3, Decimal("4.000000"))


def test_incremental_agg_versioned_refold_is_noop(spark, tmp_path):
    from youtube_api_data_etl_automation_spark.operators.versioned import (
        current_version,
        read_agg_state,
    )

    base = str(tmp_path / "agg")
    b1 = spark.createDataFrame([("a", 1.0)], "k string, x double")
    _fold(b1, base, ["k"], ["x"], batch_id="b1")
    v_after_first = current_version(spark, base)
    # retry of the SAME batch: no fold, no new version
    _fold(b1, base, ["k"], ["x"], batch_id="b1")
    assert current_version(spark, base) == v_after_first
    [row] = read_agg_state(spark, base).collect()
    assert (row.k, row.cnt) == ("a", 1)


def test_incremental_agg_versioned_crash_pre_marker_refolds_once(spark, tmp_path):
    """Simulated crash AFTER the state write but BEFORE the commit marker:
    the debris version is invisible, and the retry folds the batch exactly
    once — the double-count window of the two-write in-place protocol
    (incremental.py:152-159) cannot occur."""
    import os

    from youtube_api_data_etl_automation_spark.operators.versioned import (
        current_version,
        read_agg_state,
        version_path,
    )

    base = str(tmp_path / "agg")
    b1 = spark.createDataFrame([("a", 1.0)], "k string, x double")
    _fold(b1, base, ["k"], ["x"], batch_id="b1")

    # fake a crashed b2 fold: state+applied written, marker never created
    b2 = spark.createDataFrame([("a", 5.0)], "k string, x double")
    debris = version_path(base, 2)
    b2.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum(F.col("x").cast("decimal(28,6)")).cast("decimal(28,6)").alias("sum_x"),
    ).write.parquet(debris + "/state")
    spark.createDataFrame([("b2",)], "batch_id string").write.parquet(
        debris + "/applied"
    )
    assert not os.path.exists(os.path.join(debris, "_COMMITTED"))
    assert current_version(spark, base) == 1  # debris invisible

    # the retry (after the debris ages past the horizon) reclaims slot 2
    # and folds b2 exactly once
    _backdate(debris)
    _fold(b2, base, ["k"], ["x"], batch_id="b2")
    [row] = read_agg_state(spark, base).collect()
    assert row.cnt == 2 and float(row.sum_x) == 6.0


def test_append_versioned_accumulates_and_is_idempotent(spark, tmp_path):
    from youtube_api_data_etl_automation_spark.operators.versioned import (
        append_versioned,
        current_version,
        read_appended,
    )

    base = str(tmp_path / "sink")
    n1 = append_versioned(_df(spark, [("a", 1), ("b", 2)]), base, key="k")
    n2 = append_versioned(_df(spark, [("b", 99), ("c", 3)]), base, key="k")
    assert (n1, n2) == (2, 1)  # 'b' already landed → filtered at write
    got = {(r.k, r.v) for r in read_appended(spark, base).collect()}
    assert got == {("a", 1), ("b", 2), ("c", 3)}

    # full replay of an already-landed delta: nothing appended, NO new
    # version, and no new (empty) batch dir left behind
    v_before = current_version(spark, base)
    dirs_before = sorted(os.listdir(os.path.join(base, "batches")))
    assert append_versioned(_df(spark, [("a", 1)]), base, key="k") == 0
    assert current_version(spark, base) == v_before
    assert sorted(os.listdir(os.path.join(base, "batches"))) == dirs_before


def test_append_versioned_reader_snapshot_survives_append(spark, tmp_path):
    from youtube_api_data_etl_automation_spark.operators.versioned import (
        append_versioned,
        read_appended,
    )

    base = str(tmp_path / "sink")
    append_versioned(_df(spark, [("a", 1)]), base, key="k")
    old_reader = read_appended(spark, base)  # resolved manifest v1
    append_versioned(_df(spark, [("b", 2)]), base, key="k")
    assert {(r.k, r.v) for r in old_reader.collect()} == {("a", 1)}
    assert {(r.k, r.v) for r in read_appended(spark, base).collect()} == {
        ("a", 1),
        ("b", 2),
    }


def test_append_versioned_crashed_batch_is_invisible(spark, tmp_path):
    """A batch dir written by a crashed append (no manifest commit) is
    invisible to readers and reclaimed by the retry."""
    from youtube_api_data_etl_automation_spark.operators.versioned import (
        append_versioned,
        read_appended,
    )

    base = str(tmp_path / "sink")
    append_versioned(_df(spark, [("a", 1)]), base, key="k")
    # fake crash: batch b=2 written, version dir v=2 never committed
    _df(spark, [("ORPHAN", 9)]).write.parquet(f"{base}/batches/b=000000002")
    assert {(r.k, r.v) for r in read_appended(spark, base).collect()} == {
        ("a", 1)
    }
    append_versioned(_df(spark, [("b", 2)]), base, key="k")
    got = {(r.k, r.v) for r in read_appended(spark, base).collect()}
    assert got == {("a", 1), ("b", 2)}  # orphan reclaimed, not resurrected


def test_append_versioned_gc_keeps_current_manifest_batches(spark, tmp_path):
    """GC drops old manifests but every batch the CURRENT manifest lists
    stays readable — the full accumulated history survives."""
    from youtube_api_data_etl_automation_spark.operators.versioned import (
        append_versioned,
        list_versions,
        read_appended,
    )

    base = str(tmp_path / "sink")
    for i in range(5):
        append_versioned(_df(spark, [(f"k{i}", i)]), base, key="k",
                         keep_versions=2)
    assert [v for v, ok in list_versions(spark, base) if ok] == [4, 5]
    got = {(r.k, r.v) for r in read_appended(spark, base).collect()}
    assert got == {(f"k{i}", i) for i in range(5)}


def _race_once(monkeypatch, V, competing):
    """Patch _publish_version so the NEXT publish is beaten to its slot by
    ``competing()`` (which itself publishes via the real path), then falls
    through to the real publish — the loser must raise ConcurrentWriteError."""
    real = V._publish_version
    state = {"raced": False}

    def racy(sp, bp, new_v, staging):
        if not state["raced"]:
            state["raced"] = True
            competing()
        return real(sp, bp, new_v, staging)

    monkeypatch.setattr(V, "_publish_version", racy)


def _staging_children(base):
    sdir = os.path.join(base, "_staging")
    return os.listdir(sdir) if os.path.isdir(sdir) else []


def test_racing_commits_exactly_one_wins(spark, tmp_path, monkeypatch):
    """CAS guard (r6): two writers racing the same version slot — the one
    whose rename lands second gets a clean ConcurrentWriteError, its
    staging debris is deleted, the winner's commit is untouched, and a
    retry on the fresh snapshot succeeds."""
    import youtube_api_data_etl_automation_spark.operators.versioned as V

    base = str(tmp_path / "sink")
    commit_version(_df(spark, [("a", 1)]), base)

    _race_once(
        monkeypatch, V,
        lambda: commit_version(_df(spark, [("winner", 2)]), base),
    )
    with pytest.raises(V.ConcurrentWriteError):
        commit_version(_df(spark, [("loser", 2)]), base)

    # winner's v=2 is current and intact; loser left no staging debris
    assert current_version(spark, base) == 2
    got = {(r.k, r.v) for r in read_current(spark, base).collect()}
    assert got == {("winner", 2)}
    assert _staging_children(base) == []

    # the loser retries on the fresh snapshot and lands as v=3
    monkeypatch.undo()
    assert commit_version(_df(spark, [("loser", 2)]), base) == 3


def test_racing_merge_loses_instead_of_dropping_rows(
    spark, tmp_path, monkeypatch
):
    """Lost-update regression: a merge that lands while another merge is
    between its read and its commit must make the second one lose — it
    read v1, so it may only publish v2 — never publish a v3 computed
    from v1 that silently drops the racer's row. A retry on the fresh
    snapshot then lands both merges' rows."""
    import youtube_api_data_etl_automation_spark.operators.versioned as V

    base = str(tmp_path / "merge_race")
    merge_upsert_versioned(_df(spark, [("a", 1)]), base, "k")

    real_select_new = V.select_new
    raced = {"done": False}

    def racy_select_new(*args, **kwargs):
        if not raced["done"]:
            raced["done"] = True
            merge_upsert_versioned(_df(spark, [("z", 9)]), base, "k")
        return real_select_new(*args, **kwargs)

    monkeypatch.setattr(V, "select_new", racy_select_new)
    with pytest.raises(V.ConcurrentWriteError):
        merge_upsert_versioned(_df(spark, [("b", 2)]), base, "k")
    assert raced["done"]
    assert current_version(spark, base) == 2
    assert {(r.k, r.v) for r in read_current(spark, base).collect()} == {
        ("a", 1), ("z", 9),
    }
    assert _staging_children(base) == []

    monkeypatch.undo()
    assert merge_upsert_versioned(_df(spark, [("b", 2)]), base, "k") == 3
    assert {(r.k, r.v) for r in read_current(spark, base).collect()} == {
        ("a", 1), ("b", 2), ("z", 9),
    }


def test_racing_appends_loser_cleans_batch_debris(spark, tmp_path, monkeypatch):
    """Append-family race: the losing append's manifest never commits, so
    its batch dir is unlisted debris — it must be deleted with the staging,
    and a key-based retry lands the delta exactly once."""
    import youtube_api_data_etl_automation_spark.operators.versioned as V
    from youtube_api_data_etl_automation_spark.operators.versioned import (
        append_versioned,
        read_appended,
    )

    base = str(tmp_path / "ap")
    append_versioned(_df(spark, [("a", 1)]), base, key="k")

    _race_once(
        monkeypatch, V,
        lambda: append_versioned(_df(spark, [("z", 99)]), base, key="k"),
    )
    with pytest.raises(V.ConcurrentWriteError):
        append_versioned(_df(spark, [("b", 2)]), base, key="k")

    got = {(r.k, r.v) for r in read_appended(spark, base).collect()}
    assert got == {("a", 1), ("z", 99)}
    # exactly the two committed batch dirs remain — the loser's was reclaimed
    assert len(os.listdir(os.path.join(base, "batches"))) == 2
    assert _staging_children(base) == []

    monkeypatch.undo()
    assert append_versioned(_df(spark, [("b", 2)]), base, key="k") == 1
    got = {(r.k, r.v) for r in read_appended(spark, base).collect()}
    assert got == {("a", 1), ("z", 99), ("b", 2)}


def test_racing_incremental_agg_loser_refolds_exactly_once(
    spark, tmp_path, monkeypatch
):
    """Exactly-once fold under a race: the losing fold's state+marker never
    commit, so its batch is still unapplied; the retry folds it once and
    the final state equals the from-scratch aggregate of all batches."""
    import youtube_api_data_etl_automation_spark.operators.versioned as V

    base = str(tmp_path / "agg")

    def batch(rows):
        return spark.createDataFrame(rows, "g string, x long")

    _fold(
        batch([("a", 1)]), base, keys=["g"], sum_cols=["x"], batch_id="b1"
    )
    _race_once(
        monkeypatch, V,
        lambda: _fold(
            batch([("a", 10)]), base, keys=["g"], sum_cols=["x"], batch_id="b2"
        ),
    )
    with pytest.raises(V.ConcurrentWriteError):
        _fold(
            batch([("a", 100)]), base, keys=["g"], sum_cols=["x"], batch_id="b3"
        )
    monkeypatch.undo()
    state = _fold(
        batch([("a", 100)]), base, keys=["g"], sum_cols=["x"], batch_id="b3"
    )
    rows = {(r.g, r.cnt, int(r.sum_x)) for r in state.collect()}
    assert rows == {("a", 3, 111)}
    assert _staging_children(base) == []


def test_model_based_random_op_sequences(spark, tmp_path):
    """Model check: a seeded random sequence of overwrite/merge ops must
    keep the committed snapshot equal to a driver-side dict model after
    EVERY op — and an append-family sink likewise against a set model.
    Catches protocol drift no single-scenario test would."""
    import random

    from youtube_api_data_etl_automation_spark.operators.versioned import (
        append_versioned,
        commit_version,
        merge_upsert_versioned,
        read_appended,
        read_current,
    )

    for seed in (7, 23):
        rng = random.Random(seed)
        base = str(tmp_path / f"ov_{seed}")
        model: dict[str, int] = {}
        for step in range(6):
            rows = [
                (f"k{rng.randrange(6)}", rng.randrange(100)) for _ in range(3)
            ]
            if rng.random() < 0.4:
                commit_version(_df(spark, rows), base)
                model = dict(rows)  # later dup key wins? no: dict(rows)
                # match merge semantics for in-batch dups: LAST wins in
                # dict(); overwrite writes all rows — so force unique keys
            else:
                merge_upsert_versioned(_df(spark, rows), base, "k")
                for k, v in rows:
                    model[k] = v  # arbitrary-row rule: make keys unique
            # keep the model honest: regenerate with unique keys only
            # (semantics for dup keys inside one batch are arbitrary-row)
            got = {r.k: r.v for r in read_current(spark, base).collect()}
            assert set(got) == set(model), (seed, step)

        # r6: inject a CONCURRENT-WRITER op mid-sequence — a competing
        # overwrite beats the next op to its slot; the model follows the
        # WINNER, the loser raises, and the store keeps obeying the model
        # on subsequent ops.
        import youtube_api_data_etl_automation_spark.operators.versioned as V

        winner_rows = [(f"k{i}", 1000 + i) for i in range(3)]
        real_publish = V._publish_version
        raced = {"done": False}

        def racy(sp, bp, new_v, staging):
            if not raced["done"]:
                raced["done"] = True
                commit_version(_df(spark, winner_rows), base)
            return real_publish(sp, bp, new_v, staging)

        V._publish_version = racy
        try:
            with pytest.raises(V.ConcurrentWriteError):
                merge_upsert_versioned(_df(spark, [("kx", -1)]), base, "k")
        finally:
            V._publish_version = real_publish
        model = dict(winner_rows)
        got = {r.k: r.v for r in read_current(spark, base).collect()}
        assert got == model, seed
        for step in range(2):
            rows = [(f"k{rng.randrange(6)}", rng.randrange(100))]
            merge_upsert_versioned(_df(spark, rows), base, "k")
            model[rows[0][0]] = rows[0][1]
            got = {r.k: r.v for r in read_current(spark, base).collect()}
            assert got == model, (seed, "post-race", step)

        # append-family sink: set-of-keys model with exactly-once keys
        abase = str(tmp_path / f"ap_{seed}")
        amodel: dict[str, int] = {}
        for step in range(6):
            rows = [
                (f"k{rng.randrange(8)}", rng.randrange(100)) for _ in range(3)
            ]
            append_versioned(_df(spark, rows), abase, key="k")
            for k, v in rows:
                amodel.setdefault(k, v)  # first landing wins, replays no-op
            got = {r.k for r in read_appended(spark, abase).collect()}
            assert got == set(amodel), (seed, step)
