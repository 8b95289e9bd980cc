"""Reader-safe versioned parquet sinks: committed-version directories.

The reference's Postgres sink gives overwrite-style operations transactional
visibility for free (fetch_youtube_data.py:194,:198 — a reader sees the
table before or after the transaction, never mid-replace). A parquet
directory rewritten in place does not: a crash between the delete and the
write can lose the state, and a reader racing the swap can observe a
partial listing. At 100 TB with always-on readers that window is real, so
every merge, append, state fold and IVF index write in the package goes
through this module (the daily ETL's own append and dimension overwrite
stay plain parquet: operators/incremental.py).

It closes that window with the minimal table-format idea — an append-only
sequence of immutable version directories plus a commit marker:

    <base>/v=000000001/  part-*.parquet  _COMMITTED
    <base>/v=000000002/  part-*.parquet  _COMMITTED
    <base>/v=000000003/  part-*.parquet              <- crashed, unreadable

- A WRITER never mutates a committed version. A version holds either the
  full state (root files) or named parts (``state``/``applied`` of a fold,
  ``_centroids`` of an IVF index) plus, for manifest sinks, a
  ``manifest.json`` listing immutable ``batches/`` dirs that live outside
  the version dirs.
- A READER lists the version dirs ONCE, picks the highest committed one,
  and reads only immutable files from it. Old-or-new, never in-between.
- Old versions are garbage-collected after ``keep_versions`` newer commits
  land; the default keeps the previous version alive so in-flight readers
  that resolved it finish safely (size the retention to reader runtime,
  exactly like table-format VACUUM horizons).

**The snapshot rule.** Every writer resolves the committed version it
reads its inputs from (its snapshot; None for a fresh sink) and commits
exactly slot ``snapshot + 1`` through :func:`_commit`, the one commit
path: stage into a private ``_staging/tx-*`` dir, publish with an atomic
no-clobber directory RENAME into the slot plus a create-exclusive
``_COMMITTED`` marker, then GC. Any commit that landed since the read owns
that slot, so the writer loses with :class:`ConcurrentWriteError` — its
staging and its batch dir are deleted and the store keeps the winner's
commit intact; a writer never overwrites an update it did not read.
Crashed-writer debris (a marker-less ``v=N`` older than the staging
horizon, an abandoned staging dir) is reclaimed by the next committer.
Single-writer-at-a-time per sink is still the design point, like the
reference's one daily ETL; for sustained concurrent writers use a real
table format (this layout is deliberately the same shape, so migration is
mechanical). The writer reads the old version lazily while writing the
new one — nothing overwrites what is being read.
"""

from __future__ import annotations

import functools
import json
import os
import re
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .incremental import select_new

_COMMITTED = "_COMMITTED"
_VERSION_RE = re.compile(r"^v=(\d{9})$")
_STAGING_SUB = "_staging"
_MANIFEST = "manifest.json"
_STATE_SUB = "state"
_APPLIED_SUB = "applied"
# Abandoned-staging / crashed-debris reclaim horizon. MUST exceed the
# longest plausible single write into a staging dir: a Spark parquet job
# leaves the tx-* dir's mtime at job start (task files land under
# _temporary/), so a horizon shorter than the write would let a
# concurrent committer's GC delete a LIVE writer's staging mid-job.
# Override via SPARK_GRAFT_STAGING_GC_MS for long-running 100 TB writes.
_STAGING_MAX_AGE_MS = int(
    os.environ.get("SPARK_GRAFT_STAGING_GC_MS", 6 * 3_600_000)
)


class ConcurrentWriteError(RuntimeError):
    """Another writer committed (or is committing) the version slot this
    writer targeted. The losing writer's staging has been cleaned up; the
    store holds the winner's commit intact. Re-read the current version
    and retry the operation on the fresh snapshot if it still applies."""


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, hpath, hpath.getFileSystem(spark._jsc.hadoopConfiguration())


def _staging_path(base_path: str) -> str:
    return f"{base_path.rstrip('/')}/{_STAGING_SUB}/tx-{uuid.uuid4().hex[:16]}"


def _try_rename_cas(spark: SparkSession, jvm, spath, vpath) -> bool:
    """Atomic no-clobber rename. FileSystem.rename(src, dst) on an existing
    dst DIRECTORY silently moves src INTO it (mv semantics) — useless as a
    CAS — so this goes through FileContext.rename with the default
    Options.Rename.NONE, which throws when dst exists. Returns False on
    failure (slot taken or concurrent create); never nests."""
    from py4j.protocol import Py4JJavaError

    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
        spark._jsc.hadoopConfiguration()
    )
    # rename(Path, Path, Options.Rename...) is varargs — py4j needs the
    # (empty ⇒ Rename.NONE semantics) options array spelled out.
    no_opts = spark.sparkContext._gateway.new_array(
        jvm.org.apache.hadoop.fs.Options.Rename, 0
    )
    try:
        fc.rename(spath, vpath, no_opts)
        return True
    except Py4JJavaError as e:
        # ONLY a destination-exists failure is "CAS lost". Anything else
        # (permission denied, safe mode, network IO) must surface — the
        # r6-review hazard was swallowing it, deleting the fully-written
        # staging, and telling the caller to retry forever.
        msg = str(e.java_exception) if e.java_exception is not None else str(e)
        if "AlreadyExists" in msg or "already exists" in msg:
            return False
        raise


def _publish_version(spark: SparkSession, base_path: str, new_v: int,
                     staging: str) -> None:
    """CAS publish: atomically RENAME the writer-private ``staging`` dir
    into the ``v=new_v`` slot, then create the ``_COMMITTED`` marker
    create-exclusively. Raises :class:`ConcurrentWriteError` (after
    deleting the staging debris) if the slot was won by another writer —
    the rename is the compare-and-swap: it fails when the destination
    exists. A marker-less dir already in the slot is reclaimed ONLY when
    it is older than the staging-GC horizon: a marker always follows its
    rename within milliseconds, so an hour-old marker-less slot is
    provably crashed-writer debris, while a FRESH marker-less slot may be
    a live writer inside its rename→marker window — deleting that (the
    r6-review TOCTOU) could destroy a concurrent writer's just-renamed or
    even just-committed data while both writers report success. Two LIVE
    writers can therefore never interleave or destroy each other's data:
    each writes only its own staging, exactly one rename wins the slot,
    and the loser only ever deletes its own staging."""
    jvm, _, fs = _fs(spark, base_path)
    vdir = version_path(base_path, new_v)
    vpath = jvm.org.apache.hadoop.fs.Path(vdir)
    spath = jvm.org.apache.hadoop.fs.Path(staging)
    marker = jvm.org.apache.hadoop.fs.Path(vdir + "/" + _COMMITTED)

    def lose(why: str):
        fs.delete(spath, True)
        return ConcurrentWriteError(
            f"version {new_v} under {base_path}: {why}; this writer's "
            "staging was cleaned up — re-read the snapshot and retry"
        )

    if not _try_rename_cas(spark, jvm, spath, vpath):
        if fs.exists(marker):
            raise lose("slot already committed by another writer")
        if fs.exists(vpath):
            now = jvm.java.lang.System.currentTimeMillis()
            age = now - fs.getFileStatus(vpath).getModificationTime()
            if age <= _STAGING_MAX_AGE_MS:
                # Fresh marker-less slot: a live writer's rename→marker
                # window (or its about-to-land marker). Never reclaim.
                raise lose("slot held by an in-flight writer")
            # Aged marker-less slot: crashed-writer debris. Reclaim and
            # retry the CAS exactly once.
            fs.delete(vpath, True)
            if not _try_rename_cas(spark, jvm, spath, vpath):
                raise lose("slot re-taken while reclaiming crashed debris")
        else:
            raise lose("rename failed")
    try:
        # Create-exclusive (overwrite=False): even a pathological double
        # publish cannot double-commit the slot.
        fs.create(marker, False).close()
    except Exception:
        if fs.exists(marker):
            raise lose("marker already created by another writer") from None
        raise


def _gc_versions(spark: SparkSession, base_path: str, new_v: int,
                 keep_versions: int) -> None:
    """Retention GC + abandoned-staging reclaim, run after every commit."""
    jvm, _, fs = _fs(spark, base_path)
    for v, ok in list_versions(spark, base_path):
        if ok and v <= new_v - keep_versions:
            p = jvm.org.apache.hadoop.fs.Path(version_path(base_path, v))
            fs.delete(p, True)
    sdir = jvm.org.apache.hadoop.fs.Path(
        f"{base_path.rstrip('/')}/{_STAGING_SUB}"
    )
    if fs.exists(sdir):
        now = jvm.java.lang.System.currentTimeMillis()
        for st in fs.listStatus(sdir):
            if now - st.getModificationTime() > _STAGING_MAX_AGE_MS:
                fs.delete(st.getPath(), True)


def _commit(spark: SparkSession, base_path: str, snapshot: int | None,
            parts: dict[str, DataFrame], *, keep_versions: int,
            batch_dir: str | None = None, listed: list[str] = ()) -> int:
    """THE commit path of every versioned sink: publish slot
    ``snapshot + 1``, where ``snapshot`` is the committed version the
    caller read its inputs from (None for a fresh sink). Each of
    ``parts`` is staged under its name (``""`` = the version root); with
    ``batch_dir`` — the caller's already-written batch — the version
    also commits a manifest listing ``listed`` plus that dir. A commit
    that landed since the caller's read owns the slot, so the caller
    loses with :class:`ConcurrentWriteError` (staging and ``batch_dir``
    deleted) instead of overwriting an update it never read. Older
    versions past ``keep_versions`` and aged staging are GC'd after the
    commit. Returns the committed version."""
    new_v = (snapshot or 0) + 1
    staging = _staging_path(base_path)
    for name, df in parts.items():
        df.write.mode("overwrite").parquet(f"{staging}/{name}".rstrip("/"))
    jvm, _, fs = _fs(spark, base_path)
    if batch_dir is not None:
        out = fs.create(
            jvm.org.apache.hadoop.fs.Path(f"{staging}/{_MANIFEST}"), True
        )
        try:
            out.write(json.dumps({"batches": [*listed, batch_dir]})
                      .encode("utf-8"))
        finally:
            out.close()
    try:
        _publish_version(spark, base_path, new_v, staging)
    except ConcurrentWriteError:
        # the manifest never committed, so the batch is unlisted debris
        if batch_dir is not None:
            fs.delete(jvm.org.apache.hadoop.fs.Path(batch_dir), True)
        raise
    _gc_versions(spark, base_path, new_v, keep_versions)
    return new_v


def version_path(base_path: str, version: int) -> str:
    return f"{base_path.rstrip('/')}/v={version:09d}"


def list_versions(spark: SparkSession, base_path: str) -> list[tuple[int, bool]]:
    """All version dirs under ``base_path`` as (version, committed)."""
    jvm, hpath, fs = _fs(spark, base_path)
    if not fs.exists(hpath):
        return []
    out = []
    for st in fs.listStatus(hpath):
        if not st.isDirectory():
            continue
        m = _VERSION_RE.match(st.getPath().getName())
        if not m:
            continue
        v = int(m.group(1))
        marker = jvm.org.apache.hadoop.fs.Path(
            version_path(base_path, v) + "/" + _COMMITTED
        )
        out.append((v, bool(fs.exists(marker))))
    return sorted(out)


def current_version(spark: SparkSession, base_path: str) -> int | None:
    """Highest COMMITTED version, or None for a fresh sink. Uncommitted
    (crashed-writer) dirs are invisible here by construction."""
    committed = [v for v, ok in list_versions(spark, base_path) if ok]
    return max(committed) if committed else None


def _committed(spark: SparkSession, base_path: str) -> int:
    """:func:`current_version` for readers: raises on a sink with no
    commits."""
    v = current_version(spark, base_path)
    if v is None:
        raise FileNotFoundError(f"no committed version under {base_path}")
    return v


def read_current(spark: SparkSession, base_path: str) -> DataFrame:
    """Snapshot-consistent read: resolve the committed version once, then
    scan only its immutable files. Raises on a sink with no commits."""
    v = _committed(spark, base_path)
    return spark.read.parquet(version_path(base_path, v))


def read_state_part(spark: SparkSession, base_path: str,
                    part: str) -> DataFrame:
    """One named part of the current committed version: ``state`` (see
    :func:`read_agg_state`), or the ``hist``/``topk`` parts
    :func:`incremental_profile_versioned` keeps under ``hist_specs`` /
    ``topk_specs``. Feed ``hist`` to ``profile.hist_from_state`` →
    ``profile.histogram_drift`` for PSI with zero rescans, and ``topk``
    (per-BATCH rows: merged bounds are not re-mergeable) to
    ``profile.merge_topk_states`` → ``profile.topk_from_state``."""
    v = _committed(spark, base_path)
    path = f"{version_path(base_path, v)}/{part}"
    _, hpath, fs = _fs(spark, path)
    if not fs.exists(hpath):
        raise FileNotFoundError(
            f"version v={v} has no {part} state; pass {part}_specs= to "
            "incremental_profile_versioned to start tracking it"
        )
    return spark.read.parquet(path)


def read_agg_state(spark: SparkSession, base_path: str) -> DataFrame:
    """Current committed fold state (see incremental_state_versioned and
    incremental_profile_versioned). A profile state feeds
    ``profile.stats_from_state`` for the column_stats relation, or
    ``profile.profile_drift`` via that derivation — neither touches the
    profiled data."""
    return read_state_part(spark, base_path, _STATE_SUB)


def read_manifest(spark: SparkSession, base_path: str,
                  version: int) -> list[str]:
    """The batch dirs committed ``version`` of a manifest sink lists."""
    jvm, _, fs = _fs(spark, base_path)
    mpath = jvm.org.apache.hadoop.fs.Path(
        f"{version_path(base_path, version)}/{_MANIFEST}"
    )
    stream = fs.open(mpath)
    try:
        # py4j passes byte[] by value, so a Python-side read loop can't
        # fill a buffer — let commons-io (on every Hadoop classpath) drain
        # the stream JVM-side and hand back the bytes.
        data = bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()
    return json.loads(data.decode("utf-8"))["batches"]


def read_appended(spark: SparkSession, base_path: str,
                  version: int | None = None) -> DataFrame:
    """Snapshot read of a versioned-APPEND sink: resolve the committed
    manifest once (``version``, default the current one), scan exactly
    the batch directories it lists. A batch mid-write (or from a crashed
    append) is listed by no manifest and is invisible — the append-side
    twin of read_current's guarantee."""
    if version is None:
        version = _committed(spark, base_path)
    return spark.read.parquet(*read_manifest(spark, base_path, version))


def resolve_version_pair(
    spark: SparkSession, base_path: str, versions: tuple[int, int] | None
) -> tuple[int, int]:
    """(prev, cur) committed versions to diff: the latest two by default,
    or an explicit pair (both must still be retained). Raises rather than
    returning an empty comparison — 'no data' must not read as 'no
    drift'."""
    committed = [v for v, ok in list_versions(spark, base_path) if ok]
    if versions is None:
        if len(committed) < 2:
            raise ValueError(
                f"need two committed versions under {base_path}, "
                f"have {committed}"
            )
        return committed[-2], committed[-1]
    v_prev, v_cur = versions
    missing = [v for v in (v_prev, v_cur) if v not in committed]
    if missing:
        raise ValueError(
            f"version(s) {missing} not committed/retained under "
            f"{base_path}; committed: {committed}"
        )
    return v_prev, v_cur


def drift_between_versions(
    spark: SparkSession,
    base_path: str,
    cols: list[str] | None = None,
    *,
    versions: tuple[int, int] | None = None,
    **drift_kwargs,
) -> DataFrame:
    """Profile-drift report between two COMMITTED versions of an
    overwrite-family sink — by default the current version against its
    predecessor, i.e. "did this refresh change the shape of the data?"
    asked right after a commit, while ``keep_versions`` (default 2) still
    retains the predecessor. The composition a production refresh runs:
    ``operators/profile.py::column_stats`` of each immutable version dir,
    diffed by ``profile_drift`` (null-rate jump / cardinality collapse /
    mean shift; thresholds forwarded via ``drift_kwargs``). Each profile
    is one scan of its version; the diff itself is a k-row join. Output
    carries ``prev_version``/``cur_version`` for the audit trail.

    ``versions=(v_prev, v_cur)`` compares two explicit committed versions
    (both must still be retained). Raises ValueError when the sink has
    fewer than two committed versions — a first commit has nothing to
    drift against, and silently returning empty would read as "no
    drift"."""
    from .profile import column_stats, profile_drift

    v_prev, v_cur = resolve_version_pair(spark, base_path, versions)
    prev = spark.read.parquet(version_path(base_path, v_prev))
    cur = spark.read.parquet(version_path(base_path, v_cur))
    report = profile_drift(
        column_stats(cur, cols), column_stats(prev, cols), **drift_kwargs
    )
    return report.select(
        F.lit(v_prev).alias("prev_version"),
        F.lit(v_cur).alias("cur_version"),
        "*",
    )


def schema_diff(spark: SparkSession, cur, prev) -> DataFrame:
    """Explicit schema evolution between two relations/schemas: one row
    per changed column — ``(column_name, change, prev_type, cur_type,
    breaking)`` with ``change`` ∈ {``added``, ``dropped``, ``retyped``} —
    the diff :func:`~..profile.profile_drift` deliberately punts (it
    drops columns present on only one side rather than reading their
    absence as drift; operators/profile.py:440). Without this, a
    dropped column silently vanishes from the drift report — the exact
    failure a monitor exists to catch.

    ``breaking``: ``dropped`` and ``retyped`` break existing readers
    (their selects/casts stop resolving); ``added`` does not (column
    pruning ignores it). Types compare by Spark ``simpleString`` so
    nested/decimal changes count.

    Pure metadata: both sides are StructTypes (pass DataFrames or
    schemas), the comparison is O(columns) driver-side, and the result
    is a k-row local relation — no data is scanned."""
    cur_s = cur.schema if isinstance(cur, DataFrame) else cur
    prev_s = prev.schema if isinstance(prev, DataFrame) else prev
    cur_t = {f.name: f.dataType.simpleString() for f in cur_s.fields}
    prev_t = {f.name: f.dataType.simpleString() for f in prev_s.fields}
    rows = []
    for name, pt in prev_t.items():
        ct = cur_t.get(name)
        if ct is None:
            rows.append((name, "dropped", pt, None, True))
        elif ct != pt:
            rows.append((name, "retyped", pt, ct, True))
    for name, ct in cur_t.items():
        if name not in prev_t:
            rows.append((name, "added", None, ct, False))
    return spark.createDataFrame(
        rows,
        "column_name string, change string, prev_type string, "
        "cur_type string, breaking boolean",
    )


def schema_diff_between_versions(
    spark: SparkSession,
    base_path: str,
    *,
    versions: tuple[int, int] | None = None,
) -> DataFrame:
    """:func:`schema_diff` between two COMMITTED versions of a sink
    (default: predecessor vs current) — parquet footers only, no data
    scan. Output carries ``prev_version``/``cur_version``; an empty
    result means the schemas are identical. The companion
    :func:`drift_between_versions` runs the VALUE drift over the shared
    columns; this reports the columns it had to exclude."""
    v_prev, v_cur = resolve_version_pair(spark, base_path, versions)
    prev = spark.read.parquet(version_path(base_path, v_prev))
    cur = spark.read.parquet(version_path(base_path, v_cur))
    return schema_diff(spark, cur, prev).select(
        F.lit(v_prev).alias("prev_version"),
        F.lit(v_cur).alias("cur_version"),
        "*",
    )


def psi_between_versions(
    spark: SparkSession,
    base_path: str,
    col: str,
    lo: float,
    hi: float,
    bins: int,
    *,
    versions: tuple[int, int] | None = None,
    psi_threshold: float = 0.2,
) -> DataFrame:
    """Population Stability Index of one numeric column between two
    committed sink versions (default: predecessor vs current) — the
    distribution-shape companion to :func:`drift_between_versions`'s
    moment checks. Both versions are histogrammed on the SAME (lo, hi,
    bins) grid (one single-column scan each) and diffed by
    ``operators/profile.py::histogram_drift``; output is its one-row PSI
    relation stamped with ``prev_version``/``cur_version``."""
    from .profile import histogram_drift, numeric_histogram

    v_prev, v_cur = resolve_version_pair(spark, base_path, versions)
    prev = spark.read.parquet(version_path(base_path, v_prev))
    cur = spark.read.parquet(version_path(base_path, v_cur))
    report = histogram_drift(
        numeric_histogram(cur, col, lo, hi, bins),
        numeric_histogram(prev, col, lo, hi, bins),
        psi_threshold=psi_threshold,
    )
    return report.select(
        F.lit(v_prev).alias("prev_version"),
        F.lit(v_cur).alias("cur_version"),
        F.lit(col).alias("column_name"),
        "*",
    )


def commit_version(df: DataFrame, base_path: str, keep_versions: int = 2) -> int:
    """Write ``df`` as the next version (a reader-safe full replace, the
    dimension-overwrite shape, reference :198) and commit it. Returns the
    new version number. ``keep_versions`` committed versions are retained
    (current included); older ones are deleted AFTER the new commit, so a
    reader that resolved version N-1 before this commit still reads it in
    full with the default retention. Raises :class:`ConcurrentWriteError`
    (and cleans its own debris) if a racing writer wins the slot."""
    spark = df.sparkSession
    return _commit(spark, base_path, current_version(spark, base_path),
                   {"": df}, keep_versions=keep_versions)


def merge_upsert_versioned(updates: DataFrame, base_path: str, key: str,
                           keep_versions: int = 2,
                           broadcast_updates: bool = True) -> int:
    """Reader-safe MERGE upsert (`WHEN MATCHED UPDATE / WHEN NOT MATCHED
    INSERT`): matched keys take the incoming row, unmatched sink rows are
    kept, new keys are inserted, and duplicate update keys collapse to one
    arbitrary row (the reference's dedup policy, SURVEY.md §2.6 item 8).
    The result is published as the version after the one the merge read —
    a concurrent reader observes the pre- or post-merge state, never a
    partial directory, and a merge that lands in between makes this one
    raise :class:`ConcurrentWriteError` rather than drop its rows. No
    localCheckpoint: the old version stays immutable while the new one is
    written, so the merge plan may read it lazily.

    The key match is select_new's NULL-safe anti-join: a NULL-key update
    replaces the stored NULL-key row instead of adding one more per merge.

    ``broadcast_updates`` (default True — the reference's small daily
    delta) broadcasts the update KEY SET into the anti-join. Set False for
    large upsert deltas where a broadcast would OOM the executors: the
    anti-join then takes the shuffle-hash/sort-merge path on the key —
    passed through as select_new's ``broadcast_existing``."""
    spark = updates.sparkSession
    merged = updates = updates.dropDuplicates([key])
    snapshot = current_version(spark, base_path)
    if snapshot is not None:
        existing = spark.read.parquet(version_path(base_path, snapshot))
        kept = select_new(existing, updates, key,
                          broadcast_existing=broadcast_updates)
        merged = kept.unionByName(updates)
    return _commit(spark, base_path, snapshot, {"": merged},
                   keep_versions=keep_versions)


# ---------------------------------------------------------------------------
# Manifest sinks: immutable batch dirs listed by a committed manifest
# ---------------------------------------------------------------------------


def commit_manifest(batch: DataFrame, base_path: str, snapshot: int | None,
                    *, listed: list[str] = (),
                    parts: dict[str, DataFrame] | None = None,
                    partition_by: str | None = None,
                    keep_versions: int = 2) -> tuple[int | None, int]:
    """Land ``batch`` in a writer-private ``batches/b=N-uuid`` dir
    (partitioned by ``partition_by`` if given) and commit the version
    after ``snapshot`` whose manifest lists ``listed`` plus that dir, with
    ``parts`` staged beside it — the table-format snapshot + added-files
    commit at O(batch) write cost. The row count is an observation on the
    batch write itself; a batch with no rows commits nothing and its dir
    is deleted. Returns ``(version, rows)``: the committed version, or
    ``snapshot`` when nothing was committed."""
    spark = batch.sparkSession
    # writer-private: racing writers never interleave files in one dir;
    # the manifest records full paths, so readers never parse the name
    bdir = (f"{base_path.rstrip('/')}/batches/"
            f"b={(snapshot or 0) + 1:09d}-{uuid.uuid4().hex[:8]}")
    obs = Observation()
    writer = batch.observe(obs, F.count(F.lit(1)).alias("n")).write
    if partition_by is not None:
        writer = writer.partitionBy(partition_by)
    writer.mode("overwrite").parquet(bdir)
    n = obs.get["n"]
    if n == 0:
        jvm, _, fs = _fs(spark, base_path)
        fs.delete(jvm.org.apache.hadoop.fs.Path(bdir), True)
        return snapshot, 0
    v = _commit(spark, base_path, snapshot, parts or {},
                keep_versions=keep_versions, batch_dir=bdir, listed=listed)
    return v, n


def append_versioned(delta: DataFrame, base_path: str, snapshot: int | None,
                     key: str | None = None,
                     keep_versions: int = 2) -> tuple[int | None, int]:
    """Reader-safe idempotent APPEND. The overwrite-shaped versioned ops
    rewrite the full state per commit; an incremental sink can't afford
    that, and a plain ``mode("append")`` exposes racing readers to a
    half-written batch's files. This does neither: the delta lands in an
    immutable batch directory, and a new version commits a MANIFEST =
    previous manifest + the new batch (:func:`commit_manifest`).

    ``snapshot`` is the committed version the caller read its inputs from
    (None for a fresh sink; :func:`current_version`). With ``key``,
    re-applies append_delta's idempotence protocol against that snapshot
    (anti-join at write time), so retries and replayed batches land
    exactly once. Returns ``(version, rows)`` as :func:`commit_manifest`
    does (0 rows ⇒ no new version committed, no batch dir left). Raises
    :class:`ConcurrentWriteError` (cleaning its own batch + staging
    debris) if a racing append wins the slot — the loser's delta is NOT
    lost semantically: retry on the fresh snapshot and the key-based
    anti-join lands it exactly once. Read through :func:`read_appended`.
    GC removes expired version (manifest) dirs only; batch dirs stay while
    any retained manifest lists them — and since manifests only ever
    grow, every batch a live manifest lists is listed by the current one
    too. A losing/crashed writer's orphan batch dir is unlisted by every
    manifest, hence invisible forever (:func:`gc_batches` reclaims it)."""
    spark = delta.sparkSession
    listed = ([] if snapshot is None
              else read_manifest(spark, base_path, snapshot))
    if key is not None and listed:
        delta = select_new(delta, spark.read.parquet(*listed), key)
    return commit_manifest(delta, base_path, snapshot, listed=listed,
                           keep_versions=keep_versions)


def gc_batches(spark: SparkSession, base_path: str, *,
               max_age_ms: int | None = None) -> list[str]:
    """Reclaim batch dirs no RETAINED committed manifest lists (orphans
    from version GC after a rewrite such as an IVF rebalance, or from
    crashed writers). Age-guarded like staging GC: a dir younger than the
    horizon may belong to a live writer mid-commit and is never touched
    (pass ``max_age_ms=0`` only in tests). Returns deleted paths."""
    horizon = _STAGING_MAX_AGE_MS if max_age_ms is None else max_age_ms
    jvm, _, fs = _fs(spark, base_path)
    # Manifests store the caller's verbatim path strings (possibly
    # relative, possibly scheme-qualified: hdfs://, s3a://); listStatus
    # returns fully-qualified Paths. Compare fully-qualified URIs on
    # BOTH sides — a raw-string mismatch here would GC live data dirs.
    # URI.normalize() resolves the '..' segments a relative base path
    # leaves behind (Hadoop Path keeps them lexically); rebuilding from
    # (scheme, authority, path) collapses the file:/x vs file:///x
    # authority-presence split so equal locations compare equal.
    def _qualify(path_str: str) -> str:
        u = fs.makeQualified(
            jvm.org.apache.hadoop.fs.Path(path_str)
        ).toUri().normalize()
        auth = u.getAuthority() or ""
        return f"{u.getScheme()}://{auth}{u.getPath()}"

    referenced: set[str] = set()
    for v, committed in list_versions(spark, base_path):
        if committed:
            referenced.update(
                _qualify(d) for d in read_manifest(spark, base_path, v)
            )
    broot = jvm.org.apache.hadoop.fs.Path(f"{base_path.rstrip('/')}/batches")
    if not fs.exists(broot):
        return []
    deleted = []
    now = jvm.java.lang.System.currentTimeMillis()
    for st in fs.listStatus(broot):
        full = _qualify(st.getPath().toString())
        if full in referenced or now - st.getModificationTime() <= horizon:
            continue
        fs.delete(st.getPath(), True)
        deleted.append(full)
    return deleted


# ---------------------------------------------------------------------------
# Exactly-once state folds: state + applied-batch ids in ONE commit
# ---------------------------------------------------------------------------

_HIST_SUB = "hist"
_TOPK_SUB = "topk"


def _fold_once(delta: DataFrame, base_path: str, batch_id: str, fold,
               keep_versions: int) -> DataFrame:
    """The exactly-once fold: one applied-batch check against the
    snapshot, then ONE commit of ``fold(old_parts, delta)`` (a dict of
    parts that includes ``state``) plus the grown applied-batch-id set.
    ``old_parts`` maps each part name of the snapshot (``state``,
    ``applied``, ...) to its lazy read; empty for a fresh sink. Returns
    the committed state (the snapshot's for a replayed batch)."""
    spark = delta.sparkSession
    snapshot = current_version(spark, base_path)
    old: dict[str, DataFrame] = {}
    if snapshot is not None:
        vdir = version_path(base_path, snapshot)
        _, hpath, fs = _fs(spark, vdir)
        old = {
            st.getPath().getName(): spark.read.parquet(st.getPath().toString())
            for st in fs.listStatus(hpath) if st.isDirectory()
        }
    applied = spark.createDataFrame([(batch_id,)], "batch_id string")
    if _APPLIED_SUB in old:
        seen = old[_APPLIED_SUB].filter(F.col("batch_id") == batch_id)
        if seen.limit(1).count():
            return old[_STATE_SUB]
        applied = old[_APPLIED_SUB].unionByName(applied)
    parts = {**fold(old, delta), _APPLIED_SUB: applied}
    v = _commit(spark, base_path, snapshot, parts, keep_versions=keep_versions)
    return spark.read.parquet(f"{version_path(base_path, v)}/{_STATE_SUB}")


def incremental_state_versioned(
    delta: DataFrame,
    base_path: str,
    batch_id: str,
    fold_fn,
    keep_versions: int = 2,
) -> DataFrame:
    """Generic exactly-once state fold (r9): the new state AND the full
    applied-batch-id set are written into the same ``v=N`` directory and
    committed by the single atomic ``_COMMITTED`` create, so state and
    markers can never disagree: a crash anywhere pre-marker leaves the
    old version current and the retry folds exactly once. Writing the
    marker separately, before or after the state, would either drop or
    double-count the batch on a crash between the two writes. A replayed
    batch id folds nothing and returns the current state. The FOLD
    ITSELF is supplied by the caller: ``fold_fn(old_state_or_None,
    delta) -> new_state DataFrame``. This is what the behavioral state folds
    (operators/funnel.py::fold_funnel_state / fold_retention_state) and
    any future algebraic state ride instead of re-implementing the
    commit dance. ``fold_fn`` must be deterministic and full-state (its
    return REPLACES the state); read back via :func:`read_agg_state`."""
    return _fold_once(
        delta, base_path, batch_id,
        lambda old, d: {_STATE_SUB: fold_fn(old.get(_STATE_SUB), d)},
        keep_versions,
    )


def incremental_profile_versioned(
    delta: DataFrame,
    base_path: str,
    cols: list[str] | None = None,
    *,
    batch_id: str,
    keep_versions: int = 2,
    track_distinct: bool = True,
    lgk: int = 12,
    hist_specs: list[tuple[str, float, float, int]] | None = None,
    topk_specs: list[tuple[str, int]] | None = None,
) -> DataFrame:
    """Maintain a whole-table profile at O(delta) cost: profile ONLY the
    incoming batch (``profile.profile_state`` — one aggregate over one
    column-pruned scan of the delta) and fold it into the committed state
    (``profile.merge_profile_states`` — a cols-row merge, never data).
    ``profile.stats_from_state`` of the result is what a full-table
    ``column_stats`` rescan would report (bit-identical except the
    HLL-estimated ``n_distinct``), so the nightly 100 TB profile job
    becomes a per-batch delta profile plus a k-row fold.

    Exactly-once by the same machinery as
    :func:`incremental_state_versioned`: the folded state AND the
    applied-batch-id set commit under ONE atomic ``_COMMITTED`` marker, so a
    crash anywhere pre-marker leaves the old state current and the retry
    folds the batch exactly once. Re-folding an applied ``batch_id`` returns
    the current state unchanged. The profile parameters (``cols``,
    ``track_distinct``, ``lgk``) must be held constant across batches —
    states fold by (column_name, dtype), so a changed column set merges
    per-column histories, and a changed ``lgk`` raises in the sketch union.
    Returns the committed state.

    ``hist_specs`` additionally maintains the SHAPE half of the baseline:
    per-spec bucket counts (``profile.histogram_state`` — one more scan
    of the delta, all specs in one pass) folded by exact integer sums
    as the ``hist`` part of the same commit, read back via
    :func:`read_state_part` → ``profile.hist_from_state`` →
    ``profile.histogram_drift`` for PSI with zero rescans. Grids are part
    of the fold key, so a changed spec starts separate rows (and
    histogram_drift raises at compare time) rather than silently mixing.
    Once tracking starts, pass the same ``hist_specs`` on every fold — a
    fold WITHOUT them would drop the shape state from the new version
    (the commit is all-or-nothing per version), so that fold raises.

    ``topk_specs`` (``[(col, k_track), ...]``) likewise maintains the
    value-skew half as the ``topk`` part: per-BATCH exact top-k_track rows
    (``profile.topk_state`` — one more grouped scan of the delta per
    spec'd column) accumulate under the same commit; they are stored
    per batch (not merged) because merged bounds don't re-merge. The
    same drop-protection raise applies."""
    from .profile import (
        histogram_state,
        merge_histogram_states,
        merge_profile_states,
        profile_state,
        topk_state,
    )

    def fold(old: dict[str, DataFrame], delta: DataFrame) -> dict:
        for sub, specs, what in ((_HIST_SUB, hist_specs, "histogram"),
                                 (_TOPK_SUB, topk_specs, "heavy-hitters")):
            if sub in old and specs is None:
                raise ValueError(
                    f"{base_path} tracks {what} state; folding without "
                    f"{sub}_specs would silently drop it — pass the same "
                    f"{sub}_specs, or rebuild the state dir"
                )
        parts = {_STATE_SUB: profile_state(
            delta, cols, track_distinct=track_distinct, lgk=lgk)}
        if hist_specs is not None:
            parts[_HIST_SUB] = histogram_state(delta, hist_specs)
        if topk_specs is not None:
            parts[_TOPK_SUB] = functools.reduce(DataFrame.unionByName, [
                topk_state(delta, c, k_track=kt)
                .withColumn("batch_id", F.lit(batch_id))
                for c, kt in topk_specs
            ])
        merge = {
            _STATE_SUB: merge_profile_states,
            _HIST_SUB: merge_histogram_states,
            _TOPK_SUB: DataFrame.unionByName,
        }
        return {name: merge[name](old[name], df) if name in old else df
                for name, df in parts.items()}

    return _fold_once(delta, base_path, batch_id, fold, keep_versions)


def drift_vs_profile_state(
    delta: DataFrame,
    base_path: str,
    cols: list[str] | None = None,
    *,
    null_rate_jump: float = 0.05,
    distinct_drop: float = 0.0,
    mean_shift: float = 0.25,
    track_distinct: bool = True,
    lgk: int = 12,
) -> DataFrame:
    """Ingest-time drift gate at O(delta) cost: profile the INCOMING batch
    (one aggregate over the delta) and compare it against the committed
    cumulative profile state — ``profile.profile_drift`` over two k-row
    relations, zero scans of historical data. This is the "is today's
    feed shaped like everything we've ever ingested?" check, run BEFORE
    folding the batch (fold with :func:`incremental_profile_versioned`
    after the verdict — or not at all, if the caller gates on flags; the
    CLI ``profile --state-dir --gate-drift`` wires exactly that).

    Metric scope in this delta-vs-CUMULATIVE shape: null_rate and
    avg_value are size-invariant (rates and means), so they compare
    cleanly across any batch size. Cardinality is NOT — a day's batch
    always has fewer distincts than the whole history, so the collapse
    metric would fire on every small delta; it therefore defaults OFF
    here (``distinct_drop=0.0`` — a ratio is never below 0). Opt in only
    when batches are comparable in size to the folded history. The same
    logic says: drift-check stationary columns (rates, amounts,
    categories), not monotone ids, whose mean grows with time by
    construction. Both sides' ``n_distinct`` are HLL estimates (the
    committed side via the merged sketches) when the metric is enabled.
    Raises FileNotFoundError when no state is committed yet (a first
    batch has nothing to drift against).
    """
    from .profile import (
        merge_profile_states,
        profile_drift,
        profile_state,
        stats_from_state,
    )

    committed = stats_from_state(
        read_agg_state(delta.sparkSession, base_path)
    )
    batch = stats_from_state(
        # single-state "merge" so the estimate comes from the same
        # (unioned-sketch) estimator class on both sides
        merge_profile_states(
            profile_state(delta, cols, track_distinct=track_distinct, lgk=lgk)
        )
    )
    return profile_drift(
        batch,
        committed,
        null_rate_jump=null_rate_jump,
        distinct_drop=distinct_drop,
        mean_shift=mean_shift,
    )


def psi_vs_hist_state(
    delta: DataFrame,
    base_path: str,
    col: str,
    *,
    psi_threshold: float = 0.2,
    epsilon: float = 1e-6,
) -> DataFrame:
    """PSI between an incoming batch and the committed SHAPE baseline:
    histogram the delta on the grid the committed state already tracks
    (the grid is read off the k-row state — O(1) control-plane, so a
    caller can't accidentally compare across grids) and run
    ``profile.histogram_drift`` against ``hist_from_state``. One
    single-column-pruned scan of the delta; the baseline side is the
    committed ≤bins-row relation — zero historical rescans, the shape
    twin of :func:`drift_vs_profile_state`'s moment gate."""
    from .profile import hist_from_state, histogram_drift, numeric_histogram

    state = read_state_part(delta.sparkSession, base_path, _HIST_SUB)
    grid = (
        state.filter(F.col("column_name") == col)
        .select("grid_lo", "grid_hi", "grid_bins")
        .limit(1)
        .collect()
    )
    if not grid:
        tracked = [
            r["column_name"]
            for r in state.select("column_name").distinct().collect()
        ]
        raise KeyError(
            f"no histogram state for column {col!r}; tracked: {sorted(tracked)}"
        )
    lo, hi, bins = grid[0]["grid_lo"], grid[0]["grid_hi"], grid[0]["grid_bins"]
    cur = numeric_histogram(delta, col, lo, hi, bins)
    return histogram_drift(
        cur,
        hist_from_state(state, col),
        psi_threshold=psi_threshold,
        epsilon=epsilon,
    )
