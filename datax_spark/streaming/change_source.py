"""Structured Streaming source over a LakeTable's change feed.

``spark.readStream.format("lake_changes").option("path", root)`` turns
any LakeTable into a CDC stream — the Delta ``readChangeFeed`` /
Iceberg incremental-scan surface, on the same per-bucket snapshot diff
kernel as the batch :meth:`LakeTable.changes`. Reference analog:
otsstreamreader's tail of a table's tunnel
(``OtsStreamReaderSlaveProxy.java``), with the manifest version as the
stream position instead of a tunnel iterator.

Built on the PySpark Python DataSource API (public, Spark 4):

* **Offsets are snapshot versions.** ``initialOffset`` is the current
  version at stream start (only new commits stream), or the parent of
  ``startingVersion`` when given — ``startingVersion`` = the table's
  first version therefore replays the initial snapshot as inserts and
  then tails, exactly Delta's semantics. Restart resumes from the
  checkpointed version; ``startingVersion`` only applies to a fresh
  checkpoint.
* **One microbatch covers whole commits.** ``partitions(start, end)``
  walks the manifest PARENT CHAIN from ``end`` back to ``start`` (so
  version-number gaps from staged WAP snapshots are skipped correctly)
  and emits per-commit, per-bucket input partitions. Changes are
  per-commit, not collapsed across commits: a key updated in two
  commits of one batch yields two rows with distinct
  ``_commit_version``.
* **Bucket-pruned from the manifests alone.** Data files are
  immutable, so a bucket whose base and delta file lists are identical
  in parent and child cannot contain a changed key; only touched
  buckets become partitions. A small commit against a 10^10-row table
  streams O(commit), not O(table).
* **Zero shuffle.** Each partition runs :func:`unit_changes_arrow`,
  the one snapshot diff kernel ``LakeTable.changes`` also runs: it
  resolves the bucket's old and new LWW state with
  :func:`bucket_state_arrow` and diffs them with
  :func:`bucket_changes_arrow` — a local Arrow sort + run-compare,
  and the executor yields RecordBatches directly; no Spark exchange
  anywhere in the source.

Bounds, by design:

* ``rebucket`` commits (bucket-count evolution, including the replay
  engine's adaptive ``target_bucket_rows`` growth) stream as zero-row
  heartbeats: they are provably layout-only, so consumers ride through
  them without restart. Only an UNMARKED bucket-layout change between
  two data commits raises (bucket ids are not comparable across it).
* The output schema is fixed at stream start (Spark's contract for any
  source). Columns added by a later schema evolution appear after a
  stream restart, as in Delta; until then both sides conform to the
  start schema, so a change only visible in a new column is not
  emitted.
* A ``compact()`` commit rewrites file lists without changing content;
  its manifest carries ``operation="compact"``, so the source skips
  diffing it entirely (a heartbeat partition advances the offset) —
  without the marker a full compaction would cost a zero-row diff of
  the whole table. Delta CDF skips non-data commits the same way.
* Expired history (``expire_snapshots``) raises a clear error when the
  walk needs a retired manifest — pin a tag to the consumer's position
  to prevent it, or reseed via ``replicate.sync``'s repair path.
"""

from __future__ import annotations

import os

from pyspark.sql import types as T
from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition

from datax_spark.lake.table import (
    Manifest,
    load_manifest,
    manifest_changed_buckets,
    manifest_lineage,
    unit_changes_arrow,
    unit_files,
)

CHANGE_COLS = [("_change_type", T.StringType()), ("_commit_version", T.LongType())]


def _current_version(root: str) -> int:
    ptr = os.path.join(root, "_manifests", "_current")
    if not os.path.exists(ptr):
        raise FileNotFoundError(f"no LakeTable at {root} (missing {ptr})")
    with open(ptr) as fh:
        return int(fh.read().strip())


def _manifest_at(root: str, version: int) -> Manifest:
    try:
        return load_manifest(os.path.join(root, "_manifests"), version)
    except FileNotFoundError:
        raise FileNotFoundError(
            f"snapshot v{version} of {root} is gone (expired?); the change "
            "feed cannot resume from it — restart with a startingVersion "
            "that still exists, or reseed the consumer (replicate.sync repair)"
        ) from None


def _opt(options, key: str):
    # DataSource options arrive case-insensitively; be liberal
    return options.get(key.lower(), options.get(key))


def _resolve_version(root: str, v) -> int:
    """A version option is a number or a TAG name (the pin-a-tag-to-
    the-consumer's-position story: tagged snapshots survive
    expire_snapshots, so a feed started from a tag can never hit
    expired history)."""
    try:
        return int(v)
    except (TypeError, ValueError):
        pass
    import json as _json

    refs_path = os.path.join(root, "_manifests", "_refs.json")
    refs = {}
    if os.path.exists(refs_path):
        with open(refs_path) as fh:
            refs = _json.load(fh)
    if str(v) not in refs:
        raise ValueError(
            f"{v!r} is neither a version number nor a tag of {root} "
            f"(tags: {sorted(refs) or 'none'})"
        )
    return int(refs[str(v)])


class BucketChangeStep(InputPartition):
    """One (commit, bucket) unit of change-feed work: ``old`` and
    ``new`` are the bucket's (base files, delta files, resolve_order)
    in the parent and the commit. ``bucket`` is None for a heartbeat
    partition (commit touched no buckets — e.g. a metadata-only
    rollback to an identical state)."""

    def __init__(self, commit_version, bucket=None, old=None, new=None):
        self.commit_version = commit_version
        self.bucket = bucket
        self.old = old
        self.new = new


class LakeChangesStreamReader(DataSourceStreamReader):
    def __init__(self, options):
        from pyspark.sql.pandas.types import to_arrow_schema

        self._root = _opt(options, "path")
        if not self._root:
            raise ValueError("lake_changes requires .option('path', <table root>)")
        self._starting = _opt(options, "startingVersion")
        self._since = _opt(options, "sinceVersion")
        if self._starting is not None and self._since is not None:
            raise ValueError(
                "startingVersion (inclusive) and sinceVersion (exclusive) "
                "are mutually exclusive"
            )
        m = _manifest_at(self._root, _current_version(self._root))
        self._keys = list(m.key_cols)
        self._resolve = list(m.resolve_order)
        # the stream's FIXED table schema (see module doc on evolution)
        self._pa_schema = to_arrow_schema(m.schema)

    # ---------- offsets ----------
    def initialOffset(self) -> dict:
        if self._since is not None:
            # exclusive low-water mark: commits AFTER this version
            # stream (the replicate.stream_sync resume contract)
            sv = _resolve_version(self._root, self._since)
            if sv != -1:
                _manifest_at(self._root, sv)  # must still exist
            return {"version": sv}
        if self._starting is None:
            return {"version": _current_version(self._root)}
        sv = _resolve_version(self._root, self._starting)
        m = _manifest_at(self._root, sv)  # must exist and be loadable
        return {"version": m.parent if m.parent is not None else -1}

    def latestOffset(self) -> dict:
        return {"version": _current_version(self._root)}

    # ---------- planning (driver) ----------
    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        root = self._root
        start_v, end_v = int(start["version"]), int(end["version"])
        lineage = manifest_lineage(
            lambda v: _manifest_at(root, v), start_v, _manifest_at(root, end_v)
        )
        if lineage is None:
            raise ValueError(
                f"offset v{start_v} is not an ancestor of v{end_v} "
                f"on {root} — table history was rewritten under the stream"
            )

        parts: list[InputPartition] = []
        for p, c in lineage:
            if c.operation in ("compact", "rebucket"):
                # layout-only rewrite: every touched bucket's file list
                # differs (compaction) or the whole bucket layout does
                # (bucket-count evolution), but the visible state
                # provably does not — both commits are produced from
                # the table's own read. At scale they would otherwise
                # cost a zero-row diff of the whole table (Delta CDF
                # skips non-data commits the same way); the rebucket
                # heartbeat is what lets a consumer ride through the
                # engine's adaptive bucket growth without restart.
                parts.append(BucketChangeStep(c.version))
                continue
            if p is not None and p.num_buckets != c.num_buckets:
                raise ValueError(
                    f"change feed cannot diff the data commit v{c.version}: "
                    f"its bucket layout changed ({p.num_buckets}→"
                    f"{c.num_buckets}) without a rebucket marker — bucket "
                    f"ids are not comparable across it; restart the stream "
                    f"with startingVersion>={c.version}"
                )
            n = c.num_buckets
            side = lambda m, b: (  # noqa: E731
                (*unit_files(root, m, n, b), self._resolve) if m else ([], [], [])
            )
            changed = manifest_changed_buckets(p, c)
            parts += [BucketChangeStep(c.version, b, side(p, b), side(c, b)) for b in changed]
            if not changed:
                parts.append(BucketChangeStep(c.version))
        return parts or [BucketChangeStep(end_v)]

    # ---------- reading (executors) ----------
    def read(self, partition: BucketChangeStep):
        if partition.bucket is None:
            return
        res = unit_changes_arrow(
            partition.old, partition.new, self._keys, self._pa_schema, partition.commit_version
        )
        if res.num_rows:
            yield from res.to_batches()

    def commit(self, end: dict) -> None:
        pass


class LakeChangesDataSource(DataSource):
    """``format("lake_changes")`` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "lake_changes"

    def schema(self) -> T.StructType:
        root = _opt(self.options, "path")
        if not root:
            raise ValueError("lake_changes requires .option('path', <table root>)")
        m = _manifest_at(root, _current_version(root))
        return T.StructType(
            list(m.schema.fields)
            + [T.StructField(n, t, True) for n, t in CHANGE_COLS]
        )

    def streamReader(self, schema: T.StructType) -> LakeChangesStreamReader:
        return LakeChangesStreamReader(self.options)


def stream_changes(
    spark,
    root: str,
    starting_version: int | str | None = None,
    since_version: int | str | None = None,
):
    """Convenience: register the source and open the change feed of
    the table at ``root`` as a streaming DataFrame.
    ``starting_version`` streams that commit and everything after it
    (inclusive — the Delta ``startingVersion`` shape);
    ``since_version`` streams strictly after it (exclusive — the
    watermark-resume shape). Both accept a version number or a TAG
    name; the durable consumer pattern is a tag pinned at the
    consumer's position + ``since_version=tag`` — tags survive
    ``expire_snapshots``, and the exclusive resume needs only the
    pinned manifest and the head (an inclusive ``starting_version``
    anchor also needs the anchor's PARENT, which expiry may retire).
    At most one may be given; with neither, only commits made after
    stream start flow."""
    spark.dataSource.register(LakeChangesDataSource)
    r = spark.readStream.format("lake_changes").option("path", root)
    if starting_version is not None:
        r = r.option("startingVersion", str(starting_version))
    if since_version is not None:
        r = r.option("sinceVersion", str(since_version))
    return r.load()
