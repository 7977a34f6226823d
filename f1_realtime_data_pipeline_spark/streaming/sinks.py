"""Streaming sinks (SURVEY.md §2.1 S5/S10, §2.8 T5).

The reference appends every micro-batch to Postgres with no key
(spark_ingestion.py:116-125) — at-least-once, so a checkpoint loss or
producer replay double-counts championship points (§3.4). The upgrade
here: a keyed, idempotent ``foreachBatch`` sink — new rows are
anti-joined against the already-written key set before appending, so
replays and overlapping batches are no-ops.

Scale posture: on a real deployment this is Delta ``MERGE INTO`` keyed
on (session_key, driver_number) — transactional, concurrent-writer
safe, and the anti-join is a metadata-pruned merge instead of a full
key scan. Delta isn't on this container's classpath, so the contract
is implemented here in grades: :func:`idempotent_parquet_sink` (plain
partitioned parquet, single streaming writer — exactly Structured
Streaming's execution model); :func:`transactional_parquet_sink`
(r5), the same semantics on the atomic-manifest format
(:mod:`~f1_realtime_data_pipeline_spark.sources.manifest`) so
concurrent READERS get snapshot isolation, the anti-join prunes by
commit metadata instead of directory listing, and commits can carry
per-directory min/max stats for data-skipping reads;
:func:`transactional_merge` (r5), batch MERGE INTO as bucket-granular
copy-on-write; and :func:`transactional_agg_sink` (r5), the streaming
materialized view — exactly-once AGGREGATION via an applied-epoch
ledger inside the atomic commit (a key anti-join cannot protect an
aggregate: replays double-count instead of colliding). A JDBC mirror
(S5) stays available via ``jdbc_append_writer`` for reference parity.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Sequence
from uuid import uuid4

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from f1_realtime_data_pipeline_spark.sources import manifest

#: key-hash partition count for the idempotent sink. Each micro-batch
#: anti-joins only against the sink partitions its own keys hash into,
#: so the dedup read is pruned to ≤ |batch-distinct-buckets| partitions
#: instead of the whole sink — at 100 TB that's the difference between
#: a bounded read and a full key scan per epoch. More buckets = finer
#: pruning but more small files; tune to sink size / epoch cadence.
SINK_BUCKETS = 16
_BUCKET_COL = "__kb"


#: documented upper bound on a table's bucket count (VERDICT r15 #4).
#: Commit metadata — the manifest's per-bucket entries and the
#: touched-bucket sets the writers materialize on the driver — is
#: ∝ min(buckets-touched, n_buckets) by construction; bounding
#: n_buckets bounds BOTH at ≤ 64Ki int rows (sub-MB on the driver, the
#: standard lakehouse manifest scale: a 100 TB table at 64Ki buckets
#: is ~1.6 GB/bucket, comfortably one task's worth). A deployment
#: needing more grain should shard across tables (date partitions),
#: not inflate per-commit metadata.
MAX_COMMIT_BUCKETS = 65536


def _check_bucket_count(n_buckets: int) -> int:
    if not 1 <= int(n_buckets) <= MAX_COMMIT_BUCKETS:
        raise ValueError(
            f"n_buckets={n_buckets} outside 1..{MAX_COMMIT_BUCKETS}: commit "
            "metadata (manifest entries, touched-bucket sets) is "
            "O(n_buckets) on the driver — shard across tables instead of "
            "raising the per-table bucket count"
        )
    return int(n_buckets)


def _touched_buckets(df: DataFrame) -> set[int]:
    """The batch's distinct bucket ids — the ONLY per-commit relation
    the writers materialize on the driver. Bounded by construction
    (bucket ids live in [0, n_buckets) and every adopted layout passes
    :func:`_check_bucket_count`); the limit-probe makes the bound a
    hard guarantee rather than an invariant a future layout change
    could silently break."""
    rows = (
        df.select(_BUCKET_COL)
        .distinct()
        .limit(MAX_COMMIT_BUCKETS + 1)
        .collect()
    )
    if len(rows) > MAX_COMMIT_BUCKETS:  # pragma: no cover — structural
        raise AssertionError(
            f"touched-bucket set exceeds MAX_COMMIT_BUCKETS="
            f"{MAX_COMMIT_BUCKETS}; bucket layout violates the recorded "
            "n_buckets bound"
        )
    return {r[0] for r in rows}


def _key_bucket(keys: Sequence[str], n_buckets: int) -> F.Column:
    return F.pmod(F.xxhash64(*keys), F.lit(n_buckets)).cast("int")


def _dedup_clustered(
    pre: DataFrame, keys: Sequence[str], order: Sequence
) -> DataFrame:
    """First-wins dedup FUSED with the bucket-clustering exchange (r17
    optimization round, guide §2.4 "two operations keyed the same way
    can share one exchange"). ``pre`` must already carry ``_BUCKET_COL``
    — a deterministic function of ``keys``, so hash-partitioning on the
    bucket column alone already co-locates every row of a key. The
    dedup window partitions by ``(_BUCKET_COL, *keys)``: that clustered
    distribution is satisfied by the repartition's
    ``hashpartitioning(_BUCKET_COL)`` (partition expressions ⊆ window
    clustering keys), so the epoch pipeline pays ONE exchange for
    dedup + clustered write where the r16 shape paid two (a dedup
    window exchange on the keys, then ``_clustered_for_write``'s
    repartition on the bucket column) — the planner adds only a
    partition-local sort. Survivor identity is unchanged: the bucket
    column is constant within a key group, so the (bucket, keys)
    groups ARE the keys groups and ``row_number`` sees the same rows
    in the same ``order`` (pytest-pinned equivalence in
    tests/test_streaming.py). ``order`` may carry leading precedence
    columns (the MERGE path's ``__src DESC``) ahead of the caller's
    order columns."""
    w = Window.partitionBy(_BUCKET_COL, *keys).orderBy(*order)
    return (
        pre.repartition(F.col(_BUCKET_COL))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _clustered_for_write(df: DataFrame) -> DataFrame:
    """Cluster an epoch batch by its bucket column before the
    ``partitionBy(_BUCKET_COL)`` write (r16 optimization round, guide
    §6 output-file sizing): unclustered, every upstream task holding
    rows of a bucket opens its own file under that bucket's directory
    — a 32-task dedup shuffle × 16 buckets sprayed hundreds of tiny
    files per epoch, and the per-file open/commit cost dominated the
    epoch wall (the data is KBs). Hash-repartitioning on the bucket
    column puts each bucket in exactly one task, so an epoch writes
    exactly one file per touched bucket — the same clustered-write
    discipline compact_snapshot already uses, and at production bucket
    counts (up to MAX_COMMIT_BUCKETS) the shuffle spreads across the
    cluster while keeping file count == bucket count."""
    return df.repartition(F.col(_BUCKET_COL))


def _resolved_bucketing(
    doc: dict,
    keys: Sequence[str],
    n_buckets: int,
    spark=None,
    sink_path: str | None = None,
) -> tuple[int, dict]:
    """(effective n_buckets, meta patch) for a manifest-table write
    (ADVICE r5): the table's bucketing config — key columns and bucket
    count — is recorded in the manifest at first commit and is
    AUTHORITATIVE thereafter. A later writer calling with a different
    ``n_buckets`` would recompute buckets that don't line up with the
    committed layout, so touched-bucket pruning would miss existing
    same-key rows — duplicate keys after MERGE, undeleted rows after
    DELETE (a compliance failure for erase_results). Different KEY
    columns are a semantic conflict and raise; a different bucket
    count is silently overridden by the recorded one (callers pass a
    default, the table knows its own layout)."""
    rec = doc.get("bucketing")
    if rec is None:
        entries = doc.get("entries") or []
        if entries and spark is not None and sink_path is not None:
            # table committed BEFORE bucketing was recorded (r7
            # review): silently trusting the caller's default would
            # reintroduce the retuned-restart duplicate bug for
            # pre-upgrade tables — probe a committed bucket dir and
            # verify the caller's layout reproduces its bucket id
            # before adopting (and recording) it.
            _validate_bucket_layout(
                spark, sink_path, entries[0], keys, int(n_buckets)
            )
        nb = _check_bucket_count(n_buckets)
        return nb, {"bucketing": {"keys": list(keys), "n_buckets": nb}}
    if list(rec["keys"]) != list(keys):
        raise ValueError(
            f"bucketing key mismatch: table committed with {rec['keys']}, "
            f"caller supplied {list(keys)}"
        )
    return int(rec["n_buckets"]), {"bucketing": rec}


def _validate_bucket_layout(
    spark, sink_path: str, entry: dict, keys: Sequence[str], nb: int
) -> None:
    """Probe one committed bucket dir: a sample of its rows must hash
    to the dir's own bucket id under (keys, nb) — catches a restart
    with a retuned bucket count against a table whose layout predates
    the recorded-bucketing upgrade. One tiny read, run only on the
    record-missing path (afterwards the layout is recorded)."""
    sample = (
        spark.read.parquet(f"{sink_path}/{entry['path']}")
        .limit(16)
        .withColumn("__expect", _key_bucket(keys, nb))
    )
    bad = sample.filter(F.col("__expect") != F.lit(int(entry["bucket"]))).count()
    if bad:
        raise ValueError(
            f"bucket-layout mismatch at {sink_path}: rows of committed "
            f"bucket {entry['bucket']} hash elsewhere under n_buckets={nb} "
            "— the table predates the recorded-bucketing upgrade and was "
            "written with a different count; pass the original n_buckets"
        )


def _bucket_entries(spark, sink_path: str, rel: str) -> list[dict]:
    """Entry enumeration for a just-written data dir — delegates to
    :func:`manifest.bucket_entries`, the single definition shared
    with compaction (r6 review: compaction had re-inlined it)."""
    return manifest.bucket_entries(spark, sink_path, rel, _BUCKET_COL)


def _resolve_order(df: DataFrame, keys: Sequence[str], order_cols) -> list:
    """The keyed writers' shared first-wins order: explicit
    ``order_cols`` or every non-key column sorted by name (keys as the
    degenerate fallback)."""
    if order_cols is not None:
        return [F.col(c).asc() for c in order_cols]
    non_key = sorted(c for c in df.columns if c not in keys)
    return [F.col(c).asc() for c in (non_key or keys)]


def _anti_join_on_keys(
    batch: DataFrame, existing: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """NULL-SAFE left-anti join on the sink keys (r7 review): the
    plain ``join(keys, "left_anti")`` uses null-unsafe equality, so a
    row with a NULL key column NEVER matches its already-written twin
    — every replay or later batch re-appends it, double-counting
    downstream (the exact §3.4 failure the keyed sinks exist to
    prevent). ``eqNullSafe`` treats NULL keys as one key: the first
    NULL-keyed row lands once, replays of it are dropped like any
    other key. (Whether NULL-keyed rows should be admitted at all is
    the caller's quarantine policy; the SINK's exactly-once contract
    must hold either way.)"""
    b = batch.alias("__b")
    e = existing.alias("__e")
    cond = None
    for k in keys:
        c = F.col(f"__b.{k}").eqNullSafe(F.col(f"__e.{k}"))
        cond = c if cond is None else (cond & c)
    return b.join(e, cond, "left_anti").select(
        *[F.col(f"__b.{c}") for c in batch.columns]
    )


def _resolved_plain_buckets(
    spark, sink_path: str, n_buckets: int, keys: Sequence[str] = ()
) -> int:
    """The plain (non-manifest) sink's bucket-layout record: a sidecar
    ``_sink_buckets.json`` written once at first epoch and
    AUTHORITATIVE thereafter — the non-transactional twin of
    :func:`_resolved_bucketing`. Single-writer contract (documented on
    the sink), so a lost race on the sidecar just means another epoch
    of the same query recorded the same value first."""
    meta_path = f"{sink_path}/_sink_buckets.json"
    fs, p = manifest.fs_for(spark, meta_path)
    if not fs.exists(p):
        # pre-sidecar sink with existing data (r7 review): validate
        # the caller's count against a committed bucket dir before
        # recording it — same probe as the manifest tables.
        _, root = manifest.fs_for(spark, sink_path)
        if fs.exists(root):
            for st in fs.listStatus(root):
                nm = st.getPath().getName()
                if nm.startswith(f"{_BUCKET_COL}="):
                    _validate_bucket_layout(
                        spark,
                        sink_path,
                        {"path": nm, "bucket": int(nm.split("=", 1)[1])},
                        keys,
                        int(n_buckets),
                    )
                    break
        manifest._create_exclusive(
            spark, meta_path,
            json.dumps({"n_buckets": _check_bucket_count(n_buckets)}),
        )
    return int(json.loads(manifest._read_text(spark, meta_path))["n_buckets"])


def idempotent_parquet_sink(
    sink_path: str,
    keys: Sequence[str],
    order_cols: Sequence[str] | None = None,
    n_buckets: int = SINK_BUCKETS,
) -> Callable[[DataFrame, int], None]:
    """Build a ``foreachBatch`` callback: exactly one row per key ever
    reaches ``sink_path``.

    Within a batch, first-wins under an explicit order — ``order_cols``
    if given, else ALL non-key columns sorted by name, so the within-key
    order is a genuine total order (ordering by the keys themselves
    would be constant inside a key partition and the survivor would be
    partitioning-dependent). Across batches/replays, existing keys are
    anti-joined away before the append.

    The sink is laid out partitioned by a stable hash bucket of the
    keys; the anti-join reads only the buckets present in the current
    batch (PartitionFilters prune the rest). Existing data is detected
    by attempting the read — not a driver-local ``os.path.exists``,
    which is wrong on HDFS/S3 — and an unreadable/empty sink dir (e.g.
    a partially failed first epoch left no parquet footers) degrades to
    plain first-epoch append instead of killing the query.

    Contract note: correct for a SINGLE streaming writer (Structured
    Streaming's model — one query, serial epochs). Concurrent writers
    need a transactional table format (Delta/Iceberg MERGE INTO); this
    parquet variant implements the same semantics without one on the
    classpath.
    """
    keys = list(keys)

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        order = _resolve_order(batch_df, keys, order_cols)
        # bucket layout is a PROPERTY OF THE SINK, not of this process:
        # the first epoch records n_buckets in a sidecar and every
        # later epoch uses the RECORDED value — restarting the query
        # with a retuned SINK_BUCKETS would otherwise hash replayed
        # keys into different partition dirs, the anti-join would miss
        # their existing rows, and duplicates would land (the same
        # failure the transactional sinks close via the manifest's
        # recorded bucketing; r6 review fix for the plain sink).
        nb = _resolved_plain_buckets(
            batch_df.sparkSession, sink_path, n_buckets, keys=keys
        )
        # bucket the RAW batch; the first-wins dedup happens inside
        # _dedup_clustered, fused with the clustering exchange (r17).
        # Anti-join BEFORE dedup is value-identical: both operate on
        # whole key groups (the anti-join drops every row of an
        # already-written key; dedup picks the same survivor from the
        # surviving groups) — pinned in tests/test_streaming.py.
        pre = batch_df.withColumn(_BUCKET_COL, _key_bucket(keys, nb))
        # persist: the batch feeds two actions (bucket-list collect +
        # the append) — without it the micro-batch SOURCE is scanned
        # twice per epoch
        pre.persist()
        try:
            batch = pre
            # first-epoch probe via the Hadoop FileSystem API. Probe
            # for a DATA partition dir, not bare dir existence (r7
            # review: the sidecar write above always creates the sink
            # dir, so an exists(root) check was dead and every first
            # epoch still took the AnalysisException path the comment
            # claimed to avoid).
            fs, root = manifest.fs_for(batch_df.sparkSession, sink_path)
            has_data = fs.exists(root) and any(
                st.getPath().getName().startswith(f"{_BUCKET_COL}=")
                for st in fs.listStatus(root)
            )
            if has_data:
                # prune the dedup read to the batch's own buckets (a
                # micro-batch touches ≤ n_buckets partition values).
                # Collected only on this branch — the first epoch of a
                # fresh sink has nothing to anti-join against, and the
                # distinct-bucket collect was a whole wasted Spark job
                # there (r16 optimization round). Collected OUTSIDE the
                # try (ADVICE r16 #1): the except must only guard the
                # sink read — an AnalysisException from the collect
                # itself must propagate, not silently skip the
                # idempotence anti-join and append duplicate keys.
                batch_buckets = sorted(_touched_buckets(pre))
                try:
                    existing = pruned_sink_keys(
                        batch_df.sparkSession, sink_path, keys, batch_buckets
                    )
                except AnalysisException:
                    # dir exists but holds no readable footers (a
                    # partially failed first epoch): plain append
                    existing = None
                if existing is not None:
                    batch = _anti_join_on_keys(batch, existing, keys)
            _dedup_clustered(batch, keys, order).write.mode(
                "append"
            ).partitionBy(_BUCKET_COL).parquet(sink_path)
        finally:
            pre.unpersist()

    return write


def pruned_sink_keys(
    spark, sink_path: str, keys: Sequence[str], buckets: Sequence[int]
) -> DataFrame:
    """The already-written key set restricted to the given hash
    buckets. The bucket filter is on the sink's partition column, so it
    prunes at the file-listing level (``PartitionFilters`` in the scan,
    asserted by a plan test) — the anti-join never reads the rest of
    the sink. Raises ``AnalysisException`` when the sink has no
    readable data yet (callers treat that as the first epoch)."""
    return (
        spark.read.parquet(sink_path)
        .filter(F.col(_BUCKET_COL).isin(list(buckets)))
        .select(*keys)
    )


def transactional_parquet_sink(
    sink_path: str,
    keys: Sequence[str],
    order_cols: Sequence[str] | None = None,
    n_buckets: int = SINK_BUCKETS,
    stats_cols: Sequence[str] | None = None,
    keep_history: int | None = None,
    compact_every: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """:func:`idempotent_parquet_sink` semantics on the atomic-manifest
    table format (:mod:`~f1_realtime_data_pipeline_spark.sources.
    manifest`) — the transactional upgrade SCALE.md promised for the
    lakehouse call site.

    Per epoch: dedup first-wins within the batch, anti-join against
    the keys of the CURRENT COMMITTED SNAPSHOT (pruned by the
    manifest's bucket metadata to the batch's own buckets — no file
    listing of the rest of the sink), write survivors to an immutable
    ``data/epoch-<id>/`` directory laid out by key bucket, then commit
    snapshot v+1 by exclusive manifest creation. Readers
    (:func:`read_sink_snapshot`) resolve a committed manifest and read
    only its files, so a reader concurrent with a commit sees either
    all of the epoch or none of it — never a half-written directory,
    which the plain-parquet sink cannot guarantee (its readers list
    the directory tree live).

    Replay story: every attempt writes an ATTEMPT-UNIQUE directory
    (``epoch-<id>-<nonce>``) — committed directories are immutable and
    never rewritten (a replay must not overwrite data an earlier
    attempt committed, even with "the same" epoch id: after a
    checkpoint loss epoch numbering restarts, so an id does not
    identify a batch). A replay after a successful commit anti-joins
    to zero rows and skips the commit, leaving only an empty orphan
    attempt dir; a crash between data write and commit leaves a full
    orphan and the replay commits its own attempt. Orphans are
    invisible to readers (no manifest references them) and
    :func:`~f1_realtime_data_pipeline_spark.sources.manifest.vacuum`
    reclaims them. Single serial writer (Structured Streaming's model): a
    lost commit race means another writer — raise instead of silently
    dropping an epoch (multi-writer deployments re-read and retry the
    conflict, the Delta protocol).

    Maintenance schedule (r11 — the knob the sink-epoch decade sweep
    motivates; tools/sink_epoch_sweep.py + SCALE.md): three per-commit
    costs grow with ACCUMULATED HISTORY by design — the manifest-dir
    listing (one file per retained commit), the entries list carried
    into every resolve/commit (one entry per epoch × touched bucket),
    and the idempotence anti-join (reads every live epoch directory
    of the batch's buckets). ``keep_history=K`` runs
    ``expire_history(keep_last=K)`` after each commit, bounding the
    listing; ``compact_every=M`` additionally runs
    ``compact_snapshot`` + ``expire_history`` + ``vacuum`` every M
    commits, bounding live entries and the anti-join's directory
    count to ≤ M + 1 per bucket — together they hold per-commit cost
    FLAT in epoch count. Both default to None (no maintenance:
    unbounded time travel, the archival posture). The cadence counts
    THIS writer's data commits (compaction itself commits a version,
    so a ``version % M`` cadence would drift); a restarted writer
    restarts the count — cadence, not correctness. Safe from the
    writer: single-writer model, and vacuum protects every retained
    snapshot's files.

    Reader-side caveat when maintenance is enabled (ADVICE r11): a
    time-traveling reader that resolves a version and scans it LATER
    races expire_history + vacuum — a version expired and vacuumed
    between its resolve and its scan can lose files mid-read. The
    snapshot-isolation guarantee the test suite pins therefore holds
    only for versions still inside the ``keep_history`` retention
    window: readers must finish within it (the same reader contract
    as Delta Lake's logRetentionDuration/VACUUM pairing). With
    maintenance off (the defaults) every version is immutable forever
    and the caveat is moot."""
    keys = list(keys)
    data_commits = [0]

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        order = _resolve_order(batch_df, keys, order_cols)
        # resolve the snapshot FIRST: the table's recorded bucketing
        # config (not the caller's default) decides the bucket layout
        snap_doc = manifest.resolve_snapshot_doc(spark, sink_path)
        version, entries, prev_schema = (
            snap_doc["version"],
            snap_doc["entries"],
            snap_doc.get("schema"),
        )
        nb, bucketing_meta = _resolved_bucketing(
            snap_doc, keys, n_buckets, spark=spark, sink_path=sink_path
        )
        # bucket the RAW batch; first-wins dedup is fused with the
        # clustering exchange in _dedup_clustered (r17 — anti-join
        # before dedup is value-identical, see idempotent sink note)
        pre = batch_df.withColumn(_BUCKET_COL, _key_bucket(keys, nb))
        pre.persist()
        try:
            # additive schema evolution (r5): the commit records the
            # union of every epoch's columns; a type conflict raises
            # BEFORE any data is written. The DATA schema excludes the
            # bucket column (directory-encoded, not in the files).
            batch_schema = json.loads(
                pre.drop(_BUCKET_COL).schema.json()
            )
            merged_schema = manifest.merge_schemas(prev_schema, batch_schema)
            batch = pre
            if entries:
                # the idempotence anti-join only exists against a
                # committed snapshot with live entries; collecting the
                # batch's distinct buckets on an entry-less table (the
                # first epoch of every sink, and every post-delete-all
                # epoch) was a whole wasted Spark job (r16 optimization
                # round). read_snapshot on an entry-less doc returns
                # None/empty, so skipping the branch is value-identical.
                batch_buckets = sorted(_touched_buckets(pre))
                existing = manifest.read_snapshot(
                    spark, sink_path, buckets=batch_buckets, doc=snap_doc
                )
                if existing is not None:
                    batch = _anti_join_on_keys(
                        batch, existing.select(*keys), keys
                    )
            epoch_rel = f"data/epoch-{epoch_id:012d}-{uuid4().hex[:8]}"
            _dedup_clustered(batch, keys, order).write.partitionBy(
                _BUCKET_COL
            ).parquet(f"{sink_path}/{epoch_rel}")
            # enumerate what the write actually produced: an all-dup
            # epoch yields no bucket dirs -> nothing to commit (replay)
            new_entries = _bucket_entries(spark, sink_path, epoch_rel)
            if not new_entries:
                return
            if stats_cols:
                # commit-time data-skipping stats (min/max per bucket
                # dir, read back from the just-written epoch — tiny,
                # exact, and partition-column aware via basePath).
                # The manifest doubles as the skipping index: a later
                # read_snapshot(where=...) prunes directories whose
                # range provably misses, before any file listing.
                ep = f"{sink_path}/{epoch_rel}"
                aggs = []
                for i, c in enumerate(stats_cols):
                    aggs += [
                        F.min(c).alias(f"__lo{i}"),
                        F.max(c).alias(f"__hi{i}"),
                    ]
                by_bucket = {
                    r[_BUCKET_COL]: {
                        c: [
                            manifest.jsonable_stat(r[f"__lo{i}"]),
                            manifest.jsonable_stat(r[f"__hi{i}"]),
                        ]
                        for i, c in enumerate(stats_cols)
                    }
                    for r in spark.read.option("basePath", ep)
                    .parquet(ep)
                    .groupBy(_BUCKET_COL)
                    .agg(*aggs)
                    .collect()
                }
                for e in new_entries:
                    if e["bucket"] in by_bucket:
                        e["stats"] = by_bucket[e["bucket"]]
            if not manifest.commit_snapshot(
                spark, sink_path, version + 1, entries + new_entries,
                schema=merged_schema,
                meta={**manifest.doc_extras(snap_doc), **bucketing_meta},
            ):
                raise RuntimeError(
                    f"lost commit race for {sink_path} v{version + 1}: "
                    "another writer is active on a single-writer sink"
                )
            # post-commit maintenance (see docstring): bounded history
            # first, then periodic compaction + reclaim. Runs only
            # after a SUCCESSFUL commit from the single writer.
            data_commits[0] += 1
            if compact_every and data_commits[0] % compact_every == 0:
                manifest.compact_snapshot(spark, sink_path)
                if keep_history:
                    manifest.expire_history(
                        spark, sink_path, keep_last=keep_history
                    )
                # vacuum protects every RETAINED snapshot's files, so
                # without keep_history it only reclaims crash orphans
                # (compaction still bounds the anti-join: readers and
                # the idempotence read resolve the LATEST manifest)
                manifest.vacuum(spark, sink_path)
            elif keep_history:
                manifest.expire_history(
                    spark, sink_path, keep_last=keep_history
                )
        finally:
            pre.unpersist()

    return write


def read_sink_snapshot(spark, sink_path: str) -> DataFrame:
    """Consistent read of a :func:`transactional_parquet_sink` table:
    the latest committed snapshot's files, resolved at call time —
    immutable under concurrent commits. Raises ``ValueError`` before
    the first commit (declare the table with
    :func:`declare_sink_table` to get a committed empty relation
    instead)."""
    df = manifest.read_snapshot(spark, sink_path)
    if df is None:
        raise ValueError(f"no committed snapshot at {sink_path}")
    return df


def declare_sink_table(spark, sink_path: str, schema) -> bool:
    """CREATE TABLE IF NOT EXISTS for a transactional sink: commit
    snapshot v1 with ZERO entries and the declared data schema (a
    ``StructType``). Every lakehouse separates table creation from
    ingestion for exactly this reason (r9 empty-input sweep): a
    never-fed sink — empty source, zero micro-batches fired, or every
    batch empty (the agg sink's empty-batch early-return commits
    nothing) — must serve as a committed EMPTY relation, not raise
    from :func:`read_sink_snapshot`. ``manifest.read_snapshot``
    already returns a zero-row frame for a committed entry-less
    snapshot with a schema; this provides the commit. First real
    batch then commits v2 through the unchanged epoch path. Returns
    False when a committed snapshot already exists — including losing
    the v1 create race to a concurrent declarer (exclusive manifest
    creation; the winner's schema stands, same-pipeline declarers
    derive the same schema)."""
    doc = manifest.resolve_snapshot_doc(spark, sink_path)
    if doc["version"] > 0:
        return False
    return manifest.commit_snapshot(
        spark, sink_path, 1, [], schema=json.loads(schema.json())
    )


def agg_sink_schema(spark, stream_schema, group_cols, sum_cols):
    """The data schema a :func:`transactional_agg_sink` commits for a
    stream of ``stream_schema``: derived by running the sink's own
    partial-aggregate expression over a zero-row frame, so the
    sum/count output types are exactly what Spark will produce
    (``sum(int)`` widens to bigint etc.) — never hand-written.

    Re-sum stability is ASSERTED here (ADVICE r9): the sink's merge
    step re-sums the partial columns every epoch, so a measure type is
    only admissible if ``sum(sum(T)) == sum(T)`` — true for the
    integral family (one widening to bigint, then a fixed point) and
    for float/double, FALSE for decimals, where every re-sum widens
    the precision again (``sum(decimal(p,s)) -> decimal(p+10,s)``).
    A decimal measure would not merely mismatch the declared schema
    on batch one — it would commit a DIFFERENT schema every epoch
    until hitting precision 38, breaking the sink's re-mergeable-class
    invariant outright, so it is rejected eagerly with the type-level
    reason rather than surfacing as a ``merge_schemas`` conflict."""
    empty = spark.createDataFrame([], stream_schema)
    partial = empty.groupBy(*list(group_cols)).agg(
        *[F.sum(c).alias(c) for c in sum_cols],
        F.count(F.lit(1)).alias("n_rows"),
    )
    _assert_resum_stable(partial, group_cols, sum_cols)
    return partial.schema


def _assert_resum_stable(partial: DataFrame, group_cols, sum_cols) -> None:
    """Raise unless re-summing ``partial``'s measure columns is a
    type-level fixed point (see :func:`agg_sink_schema`). Analysis
    only — no job runs.

    Decimals are rejected OUTRIGHT, not just via the fixed-point
    compare (ADVICE r10): ``sum(decimal(p,s))`` widens to
    ``decimal(min(p+10,38),s)``, so a near-cap measure like
    ``decimal(28,2)`` already saturates at precision 38 on the first
    sum and the re-sum is type-stable — but every merge epoch then
    carries silent overflow-to-null risk at the cap. Small decimals
    failed the fixed-point check, near-cap ones slipped through; the
    type-level rejection makes the family consistent."""
    from pyspark.sql.types import DecimalType

    decimal_cols = [
        f.name
        for f in partial.schema.fields
        if f.name in set(sum_cols) and isinstance(f.dataType, DecimalType)
    ]
    if decimal_cols:
        raise ValueError(
            "transactional_agg_sink measures must not be decimal "
            f"(overflow-to-null risk at precision cap 38 on re-merge): "
            f"{', '.join(decimal_cols)}. Cast to double or a scaled "
            "bigint before the sink."
        )
    resummed = partial.groupBy(*list(group_cols)).agg(
        *[F.sum(c).alias(c) for c in sum_cols],
        F.sum("n_rows").alias("n_rows"),
    )
    before = {f.name: f.dataType for f in partial.schema.fields}
    after = {f.name: f.dataType for f in resummed.schema.fields}
    drift = [
        (c, before[c].simpleString(), after[c].simpleString())
        for c in list(sum_cols) + ["n_rows"]
        if before[c] != after[c]
    ]
    if drift:
        detail = ", ".join(f"{c}: sum={b} resum={a}" for c, b, a in drift)
        raise ValueError(
            "transactional_agg_sink measures must be re-sum-stable "
            "(sum(sum(T)) == sum(T)); these widen again on every merge "
            f"epoch: {detail}. Cast decimal measures to double or a "
            "scaled bigint before the sink."
        )


def _align_to_schema(
    df: DataFrame, schema_fields: list[dict], carry: Sequence[str] = ()
) -> DataFrame:
    """Project ``df`` onto the merged-schema column list: missing
    columns become typed nulls, order follows the schema (so the two
    MERGE sides union positionally clean). ``carry`` appends existing
    NON-schema columns verbatim (e.g. an already-computed bucket
    column, r7 review — re-deriving it after alignment cost a second
    full hash pass)."""
    from pyspark.sql.types import StructType

    have = set(df.columns)
    cols = []
    for f in schema_fields:
        if f["name"] in have:
            cols.append(F.col(f["name"]))
        else:
            dt = StructType.fromJson(
                {"type": "struct", "fields": [f]}
            ).fields[0].dataType
            cols.append(F.lit(None).cast(dt).alias(f["name"]))
    cols.extend(F.col(c) for c in carry if c in have)
    return df.select(*cols)


def transactional_merge(
    updates: DataFrame,
    sink_path: str,
    keys: Sequence[str],
    order_cols: Sequence[str] | None = None,
    n_buckets: int = SINK_BUCKETS,
    max_commit_retries: int = 0,
) -> int:
    """MERGE INTO on the manifest table — the Delta call site SCALE.md
    maps :func:`~f1_realtime_data_pipeline_spark.sources.tables.
    upsert_last_wins` to, now real: same-key rows are REPLACED by the
    update (unmatched updates insert, unmatched base rows pass
    through), as one copy-on-write snapshot transition.

    Copy-on-write at BUCKET granularity, the manifest's pruning unit:
    only buckets the update keys hash into are read (manifest-metadata
    pruning, no listing of the rest) and rewritten; every other
    bucket's entries carry over to the v+1 manifest untouched — the
    same bounded write a lakehouse MERGE achieves with file-level
    statistics. Readers concurrent with the merge keep their resolved
    snapshot (immutable files + atomic manifest commit), time travel
    keeps the pre-merge image until vacuum. Updates may carry NEW
    columns (additive evolution, same rule as the sink commit); both
    sides are aligned to the merged schema before the union so the
    precedence window sees one shape. Within ``updates``, duplicate
    keys resolve first-wins under ``order_cols`` — the idempotent-sink
    convention. Returns the committed version.

    Concurrent writers (r6): each attempt is a full optimistic
    read-modify-commit — resolve the LATEST snapshot, rewrite against
    it, commit v+1 by exclusive creation. Losing the creation race
    means another committer published v+1 first; with
    ``max_commit_retries`` > 0 the loser RE-DERIVES from the winner's
    snapshot (not its own stale read) and tries again, so both
    updates survive in some serial order — no lost update, the Delta
    OCC protocol (conservative: any concurrent commit conflicts, even
    on disjoint buckets; the loser's abandoned data dir is an orphan
    for vacuum). The default 0 keeps the single-writer posture: a
    lost race raises."""
    spark = updates.sparkSession
    keys = list(keys)
    order = _resolve_order(updates, keys, order_cols)
    last_lost = 0
    for _attempt in range(max_commit_retries + 1):
        snap_doc = manifest.resolve_snapshot_doc(spark, sink_path)
        version, entries, prev_schema = (
            snap_doc["version"],
            snap_doc["entries"],
            snap_doc.get("schema"),
        )
        # the table's recorded bucketing wins over the caller's
        # default — a mismatched bucket count would mis-prune touched
        # buckets and leave duplicate keys behind (ADVICE r5)
        nb, bucketing_meta = _resolved_bucketing(
            snap_doc, keys, n_buckets, spark=spark, sink_path=sink_path
        )
        # RAW updates, bucketed: the within-updates first-wins dedup is
        # SUBSUMED by the precedence window below (r17 optimization
        # round) — ordering by (__src DESC, *order) picks, per key, the
        # first update row under ``order`` whenever any update exists,
        # which is exactly dedup_first_wins(updates)'s winner; base
        # rows are unique per key by the sink invariant. Dropping the
        # separate dedup removes one whole exchange of the update
        # relation (pytest-pinned equivalence in test_streaming.py).
        up = updates.withColumn(_BUCKET_COL, _key_bucket(keys, nb))
        if prev_schema is None and entries:
            # pre-schema-tracking table (r6 review fix): the base's
            # ACTUAL schema is the previous schema — without this,
            # merge_schemas(None, batch) adopts the update's shape and
            # _align_to_schema projects base-only columns away in the
            # rewritten buckets (silent data destruction). One footer
            # read; the merged schema is then committed, so the probe
            # happens at most once per legacy table.
            prev_schema = json.loads(
                spark.read.option("mergeSchema", "true")
                .parquet(*[f"{sink_path}/{e['path']}" for e in entries])
                .schema.json()
            )
        up.persist()
        try:
            batch_schema = json.loads(up.drop(_BUCKET_COL).schema.json())
            merged_schema = manifest.merge_schemas(prev_schema, batch_schema)
            touched = _touched_buckets(up)
            if not touched:  # empty update set: no snapshot transition
                return version
            keep = [e for e in entries if e["bucket"] not in touched]
            affected = [e for e in entries if e["bucket"] in touched]
            fields = merged_schema["fields"]
            # carry the ALREADY-COMPUTED bucket column through the
            # schema alignment instead of re-hashing every update row
            # (r7 review: _align_to_schema projected it away and a
            # second full _key_bucket pass ran per merge attempt)
            side_up = _align_to_schema(
                up, fields, carry=[_BUCKET_COL]
            ).withColumn("__src", F.lit(1))
            both = side_up
            if affected:
                # one relation over the touched buckets, pinned to the
                # base schema (the probed one on a pre-tracking table)
                base = manifest.read_snapshot(
                    spark,
                    sink_path,
                    buckets=sorted(touched),
                    doc={**snap_doc, "schema": prev_schema},
                    bucket_col=_BUCKET_COL,
                )
                both = both.unionByName(
                    _align_to_schema(base, fields, carry=[_BUCKET_COL])
                    .withColumn("__src", F.lit(0))
                )
            # updates beat base; within a side the explicit order
            # decides — one fused exchange dedups AND clusters (r17)
            merged = _dedup_clustered(
                both, keys, [F.col("__src").desc(), *order]
            ).drop("__src")
            merge_rel = f"data/merge-{version + 1:012d}-{uuid4().hex[:8]}"
            merged.write.partitionBy(_BUCKET_COL).parquet(
                f"{sink_path}/{merge_rel}"
            )
            new_entries = _bucket_entries(spark, sink_path, merge_rel)
            if manifest.commit_snapshot(
                spark,
                sink_path,
                version + 1,
                sorted(keep + new_entries, key=lambda e: e["path"]),
                schema=merged_schema,
                meta={**manifest.doc_extras(snap_doc), **bucketing_meta},
            ):
                return version + 1
            last_lost = version + 1
        finally:
            up.unpersist()
    raise RuntimeError(
        f"lost merge commit race for {sink_path} v{last_lost}"
        + (
            f" after {max_commit_retries + 1} attempts"
            if max_commit_retries
            else ""
        )
    )


def transactional_delete(
    delete_keys: DataFrame,
    sink_path: str,
    keys: Sequence[str],
    n_buckets: int = SINK_BUCKETS,
    max_commit_retries: int = 0,
    delete_keys_fn=None,
) -> tuple[int, bool]:
    """DELETE on the manifest table — the remaining CRUD verb, and
    the right-to-be-forgotten pass a compliant training-data corpus
    must support: every row whose key appears in ``delete_keys`` is
    removed as one atomic snapshot transition.

    Copy-on-write at bucket granularity like :func:`transactional_
    merge`: only buckets the delete keys hash into are read
    (manifest-pruned) and rewritten via LEFT ANTI join; every other
    bucket's entries carry over verbatim. A bucket whose rows are all
    deleted simply has no rewritten directory. IMPORTANT compliance
    caveat (same as Delta): the delete is logical-then-physical — old
    snapshots still reference the pre-delete files for time travel,
    and vacuum protects every retained snapshot, so data is physically
    gone only after ``expire_history(keep_last=1)`` +
    :func:`~f1_realtime_data_pipeline_spark.sources.manifest.vacuum`
    (run both as the erasure workflow; ``engine.erase_results``
    does). Returns ``(version, changed)`` — the current committed
    version plus whether THIS call committed a new snapshot (r7,
    ADVICE r6: a caller gating destructive follow-ups like
    expire_history+vacuum on a before/after version compare races a
    concurrent writer's commit; the flag reports this call's own
    outcome, race-free).

    Concurrency: same OCC loop as :func:`transactional_merge` (r6) —
    each attempt is a fresh read-modify-commit, so with
    ``max_commit_retries`` > 0 a loser re-derives from the winner's
    snapshot (the delete lands on whatever that commit wrote, no
    resurrection of deleted keys). Default 0 = single-writer raise.

    PREDICATE deletes (r7 review): a caller whose doomed-key set is
    derived FROM the table (erase_results: "every key of driver X")
    must not freeze it at call time — a concurrent writer's commit
    between the key-set read and the winning delete can add matching
    rows the frozen list misses, so an OCC retry would "succeed"
    while leaving them behind (an incomplete right-to-be-forgotten
    reported complete). Pass ``delete_keys_fn(spark, snap_doc) ->
    DataFrame`` instead of ``delete_keys``: each attempt re-derives
    the key set from ITS OWN snapshot, so the winning commit deletes
    everything that matched the predicate as of the snapshot it
    committed against."""
    spark = delete_keys.sparkSession
    keys = list(keys)
    last_lost = 0
    for _attempt in range(max_commit_retries + 1):
        snap_doc = manifest.resolve_snapshot_doc(spark, sink_path)
        version, entries = snap_doc["version"], snap_doc["entries"]
        schema = snap_doc.get("schema")
        # recorded bucketing wins: a mismatched bucket count would
        # prune the wrong buckets and leave undeleted rows — a
        # compliance failure for the erase_results path (ADVICE r5)
        nb, bucketing_meta = _resolved_bucketing(
            snap_doc, keys, n_buckets, spark=spark, sink_path=sink_path
        )
        dk_src = (
            delete_keys_fn(spark, snap_doc)
            if delete_keys_fn is not None
            else delete_keys
        )
        dk = (
            dk_src.select(*keys)
            .dropDuplicates(keys)
            .withColumn(_BUCKET_COL, _key_bucket(keys, nb))
        )
        dk.persist()
        try:
            touched = _touched_buckets(dk)
            affected = [e for e in entries if e["bucket"] in touched]
            if not affected:
                return version, False
            keep = [e for e in entries if e["bucket"] not in touched]
            base = manifest.read_snapshot(
                spark,
                sink_path,
                buckets=sorted(touched),
                doc=snap_doc,
                bucket_col=_BUCKET_COL,
            )
            # no forced broadcast: erase_results can legitimately pass
            # an arbitrarily large key set (every row of many drivers)
            # — let AQE pick broadcast only when the set is actually
            # small (r6 review fix)
            survivors = base.join(dk.select(*keys), keys, "left_anti")
            del_rel = f"data/delete-{version + 1:012d}-{uuid4().hex[:8]}"
            _clustered_for_write(survivors).write.partitionBy(
                _BUCKET_COL
            ).parquet(f"{sink_path}/{del_rel}")
            new_entries = _bucket_entries(spark, sink_path, del_rel)
            if manifest.commit_snapshot(
                spark,
                sink_path,
                version + 1,
                sorted(keep + new_entries, key=lambda e: e["path"]),
                schema=schema,
                meta={**manifest.doc_extras(snap_doc), **bucketing_meta},
            ):
                return version + 1, True
            last_lost = version + 1
        finally:
            dk.unpersist()
    raise RuntimeError(
        f"lost delete commit race for {sink_path} v{last_lost}"
        + (
            f" after {max_commit_retries + 1} attempts"
            if max_commit_retries
            else ""
        )
    )


#: replay window for the agg sink's applied-epoch ledger. Structured
#: Streaming replays at most the epochs since the last successful
#: checkpoint commit, so a bounded recent-ids list suffices; at this
#: cap the ledger costs ~2 KB per manifest.
AGG_APPLIED_CAP = 100


def transactional_agg_sink(
    sink_path: str,
    group_cols: Sequence[str],
    sum_cols: Sequence[str],
    n_buckets: int = SINK_BUCKETS,
    keep_history: int | None = None,
    vacuum_every: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """Streaming MATERIALIZED VIEW: maintain a keyed aggregate table
    (``sum(sum_cols)`` + an ``n_rows`` count per ``group_cols`` key)
    incrementally, one atomic snapshot transition per micro-batch —
    the continuous-aggregation shape (championship points as they
    stream in) with EXACTLY-ONCE totals.

    A row sink gets exactly-once from a key anti-join; an aggregate
    sink cannot (a replayed batch would double-COUNT, not collide), so
    this uses the other standard recipe: the epoch id is recorded IN
    the atomic commit (an ``applied`` ledger in the manifest), and a
    replayed epoch that already appears there is skipped before any
    write. Commit and ledger update are one exclusive file creation —
    there is no state where totals landed but the ledger missed it.
    Additive measures only (sum/count — the re-mergeable class): merge
    is ``SUM`` over (existing ∪ partial), associative at any replay
    or compaction order.

    Per epoch: map-side partial aggregate of the batch (the only
    full-batch pass), bucket by key hash, read ONLY the touched
    buckets of the current snapshot (manifest pruning), re-sum, rewrite
    those buckets copy-on-write, commit v+1 — same bounded I/O as the
    MERGE path. The ledger keeps the last ``AGG_APPLIED_CAP`` entries
    (Structured Streaming replays only back to the last checkpoint
    commit).

    Ledger identity (r6 review fix): the ledger key is
    ``epoch_id:content_hash`` — an epoch id ALONE does not identify a
    batch across checkpoint loss (ids restart at 0, and a bare-id
    ledger would silently SKIP the new lineage's real batches — the
    exact caveat the row-sink doc records). The content hash is an
    order-independent bit_xor over the partial-aggregate rows, so a
    checkpoint-replayed epoch (same id, same rows) is skipped while a
    post-loss epoch that merely reuses the id (different rows) is
    applied. Residual risk: a *different* batch with the same id AND
    bit-identical partial aggregate — indistinguishable in principle
    without a durable batch UUID, which Structured Streaming does not
    provide to foreachBatch.

    Maintenance (r11, the row sink's schedule adapted to the MV's
    shape): the MV SELF-COMPACTS — every commit rewrites its touched
    buckets into one merged directory — so per-bucket directory count
    never grows with history; its growth terms are only the manifest
    FILE count (one per epoch) and the superseded directories left
    for time travel. ``keep_history=K`` expires manifests past the
    newest K after each commit (the applied-epoch ledger lives in the
    LATEST manifest and is untouched); ``vacuum_every=M`` reclaims
    unreferenced superseded directories every M commits
    (writer-local count). Defaults None: unbounded time travel.

    Reader-side caveat when maintenance is enabled (ADVICE r11): a
    time-traveling reader racing expire_history + vacuum can lose a
    version's files between resolve and scan — snapshot isolation
    holds only for versions inside the ``keep_history`` retention
    window; readers must finish within it (the Delta
    logRetentionDuration/VACUUM reader contract). Maintenance off
    (the defaults) keeps every version immutable forever."""
    group_cols = list(group_cols)
    sum_cols = list(sum_cols)
    commits = [0]
    resum_checked = [False]

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        doc = manifest.resolve_snapshot_doc(spark, sink_path)
        version, entries = doc["version"], doc["entries"]
        applied = list(doc.get("applied", []))
        nb, bucketing_meta = _resolved_bucketing(
            doc, group_cols, n_buckets, spark=spark, sink_path=sink_path
        )
        partial = (
            batch_df.groupBy(*group_cols)
            .agg(
                *[F.sum(c).alias(c) for c in sum_cols],
                F.count(F.lit(1)).alias("n_rows"),
            )
            .withColumn(_BUCKET_COL, _key_bucket(group_cols, nb))
        )
        # schema-analysis-only guard (ADVICE r9/r10): reject non-re-sum-
        # stable measure types (decimals) with the type-level reason,
        # instead of committing v+1 and dying in merge_schemas' conflict
        # check on the NEXT epoch. Gated on THIS WRITER's first batch
        # (ADVICE r11), not on table version 0: a writer attached to a
        # pre-existing MV whose first commit predates this guard (older
        # build, external creator) never sees version 0, and
        # merge_schemas only catches schema DRIFT — an already-admitted
        # decimal schema would sail through with the overflow-to-null
        # risk intact. The check is analysis-only and runs once per
        # writer lifetime either way.
        if not resum_checked[0]:
            _assert_resum_stable(partial.drop(_BUCKET_COL), group_cols, sum_cols)
            resum_checked[0] = True
        partial.persist()
        try:
            all_cols = group_cols + sum_cols + ["n_rows"]
            # NULL-preserving row encoding (r7, ADVICE r6): concat_ws
            # silently DROPS null fields, so partial-aggregate rows
            # differing only in WHICH column is null serialized
            # identically — and multi-arg xxhash64 has the same flaw
            # (null args leave the hash accumulator untouched). JSON
            # with ignoreNullFields=false keeps every field, null or
            # not, with its name — unambiguous per row.
            row_hash = F.xxhash64(
                F.to_json(
                    F.struct(*[F.col(c) for c in all_cols]),
                    {"ignoreNullFields": "false"},
                )
            )
            # legacy encoding kept READ-side only (r7 review): a table
            # whose ledger was written by the pre-r7 concat_ws hash
            # must still recognize its replayed epochs after the
            # upgrade — otherwise the first restart-from-checkpoint
            # re-applies already-committed partials (double-counted
            # totals, the exact failure the ledger prevents). Both
            # hashes come out of ONE pass over the partial; only the
            # new key is ever WRITTEN.
            legacy_hash = F.xxhash64(
                F.concat_ws(
                    "\x1f", *[F.col(c).cast("string") for c in all_cols]
                )
            )
            content, legacy_content = (
                partial.select(row_hash.alias("__h"), legacy_hash.alias("__l"))
                .agg(
                    F.expr("bit_xor(__h)").alias("__x"),
                    F.expr("bit_xor(__l)").alias("__y"),
                )
                .collect()[0]
            )
            key = f"{epoch_id}:{content}"
            if key in applied or f"{epoch_id}:{legacy_content}" in applied:
                return
            touched = _touched_buckets(partial)
            if not touched:  # empty batch: nothing to commit
                return
            keep = [e for e in entries if e["bucket"] not in touched]
            affected = [e for e in entries if e["bucket"] in touched]
            both = partial
            if affected:
                both = both.unionByName(
                    manifest.read_snapshot(
                        spark,
                        sink_path,
                        buckets=sorted(touched),
                        doc=doc,
                        bucket_col=_BUCKET_COL,
                    )
                )
            # repartition on the bucket column FIRST: hashpartitioning
            # on _BUCKET_COL (a function of the group key) satisfies
            # the merge aggregate's clustered distribution on
            # (group_cols, _BUCKET_COL), so the re-sum runs in place on
            # the clustered partitions and the write needs no second
            # exchange — one shuffle where the r16 shape paid two
            # (groupBy exchange + _clustered_for_write). The input is
            # already near-unique per key (a partial aggregate unioned
            # with committed per-key rows), so no map-side partial
            # aggregation is lost (r17 optimization round).
            merged = (
                both.repartition(F.col(_BUCKET_COL))
                .groupBy(*group_cols, _BUCKET_COL)
                .agg(
                    *[F.sum(c).alias(c) for c in sum_cols],
                    F.sum("n_rows").alias("n_rows"),
                )
            )
            agg_rel = f"data/agg-{version + 1:012d}-{uuid4().hex[:8]}"
            merged.write.partitionBy(_BUCKET_COL).parquet(
                f"{sink_path}/{agg_rel}"
            )
            new_entries = _bucket_entries(spark, sink_path, agg_rel)
            schema = json.loads(merged.drop(_BUCKET_COL).schema.json())
            if not manifest.commit_snapshot(
                spark,
                sink_path,
                version + 1,
                sorted(keep + new_entries, key=lambda e: e["path"]),
                schema=manifest.merge_schemas(doc.get("schema"), schema),
                meta={
                    **manifest.doc_extras(doc),
                    **bucketing_meta,
                    "applied": (applied + [key])[-AGG_APPLIED_CAP:],
                },
            ):
                raise RuntimeError(
                    f"lost agg commit race for {sink_path} v{version + 1}"
                )
            # post-commit maintenance (see docstring): the MV
            # self-compacts, so only history expiry + periodic reclaim
            commits[0] += 1
            if keep_history:
                manifest.expire_history(spark, sink_path, keep_last=keep_history)
            if vacuum_every and commits[0] % vacuum_every == 0:
                manifest.vacuum(spark, sink_path)
        finally:
            partial.unpersist()

    return write


def jdbc_append_writer(
    url: str, table: str, properties: dict[str, str]
) -> Callable[[DataFrame, int], None]:
    """The reference's JDBC append sink shape (spark_ingestion.py:116-125)
    — at-least-once by construction; pair with :func:`idempotent_
    parquet_sink` semantics (MERGE on key) on databases that support it.
    Requires a JDBC driver jar on the classpath. Proven end-to-end
    against a real database (r8, VERDICT r7 #6): the embedded-Derby
    test streams the replay fixture through this writer twice
    (fresh-checkpoint replay → every row duplicated), repairs with
    ``dedup_results``, and serves standings via ``F1Engine.from_jdbc``
    off the database — `tests/test_streaming.py::
    test_jdbc_mirror_end_to_end_embedded_derby`.

    Postgres dialect delta (VERDICT r15 residual #2 — the reference
    targets Postgres; the e2e proof here runs embedded Derby, so the
    real driver is exercised but not the Postgres type mapping; all
    deltas below are Spark's own PostgresDialect behavior, untested
    in this broker-/network-less container and documented rather than
    silently assumed):

    - StringType → Derby maps to ``CLOB``; Postgres maps to ``TEXT``
      (spark_ingestion.py:29-33 declares the columns TEXT — matches).
    - TimestampType → both map to ``TIMESTAMP``; Postgres keeps
      microsecond precision, Derby nanosecond-capable — the engine's
      event times are already micros (Spark's native resolution), so
      no truncation either way.
    - BooleanType (``dnf``) → Postgres ``BOOLEAN``; Derby pre-10.7
      needed SMALLINT, modern Derby is fine.
    - Append-mode ``CREATE TABLE`` quoting: Spark quotes mixed-case
      identifiers on Postgres (lowercase-folding), so all-lowercase
      column names (this schema) behave identically.
    - Exactly-once upgrade on Postgres: ``INSERT .. ON CONFLICT DO
      NOTHING`` keyed on (session_key, driver_number) replaces the
      anti-join repair; Derby lacks it, hence the post-hoc
      ``dedup_results`` in the proof."""

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.jdbc(url=url, table=table, mode="append", properties=properties)

    return write
