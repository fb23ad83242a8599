"""LakeTable — a from-scratch snapshot-versioned table format.

No Iceberg runtime ships in this environment, so the engine implements
the same contract directly (public Iceberg spec concepts: versioned
manifests, atomic pointer swap, snapshot summary, schema evolution,
partition/bucket pruning):

* Data layout: ``data/txn-<uuid>/b=<bucket>/*.parquet`` — rows are
  hash-bucketed by key (``pmod(murmur3(keys), num_buckets)`` — Spark's
  own shuffle hash, so a shuffle on the keys IS the bucket routing),
  the analog of an Iceberg bucket-partitioned table.
  Buckets bound the blast radius of copy-on-write merges: an epoch
  touching 12 of 256 buckets rewrites only those 12.
* Metadata: ``_manifests/v<NNNNNNNN>.json`` lists, per bucket, the
  parquet files of that snapshot plus schema, row counts, and a
  summary (committed epoch watermark). ``_manifests/_current`` is a
  one-line pointer file updated by atomic rename — the commit point.
* Commit protocol (two-phase, crash-safe): (1) write new data files
  under a fresh txn dir — invisible until referenced; (2) write
  manifest ``v{N}.json``; (3) atomically rename a tmp pointer over
  ``_current``. A crash before (3) leaves the table at the old
  snapshot with orphan files (cleaned by ``vacuum``); after (3) the
  new snapshot is live. Retention: ``expire_snapshots`` retires old
  manifests (Iceberg expire_snapshots), after which ``vacuum``
  reclaims the data files only they referenced. Exactly-once replay rides on the manifest's
  ``last_epoch`` watermark: re-applying an epoch <= watermark is a
  no-op. Reference analog: hdfswriter's tmp-dir + rename two-phase
  commit (``HdfsWriter.java:151-196,293-326``) and otsstreamreader's
  checkpoint status table (``RecordProcessor.java:186-239``) —
  unified here into one atomic metadata swap, as Iceberg does.
* Concurrency: single-writer driver loop (like the reference's
  JobContainer); commits still verify the parent pointer and raise on
  conflict (optimistic concurrency, Iceberg-style).

At 100 TB the same design holds: manifests stay small (file lists per
bucket; at very large file counts ``shard_buckets`` shards the
manifest into content-addressed per-bucket-range files — the Iceberg
manifest-list shape — so a commit writes O(touched buckets) of
metadata, not the whole file list), bucket pruning keeps merge I/O
proportional to the touched key space, and the atomic pointer swap is
a single rename on any HDFS-compatible store.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import threading
import uuid
from collections import defaultdict
from dataclasses import dataclass, field, replace as _dc_replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datax_spark.lake import io as lake_io


class CommitConflictError(RuntimeError):
    pass


@dataclass
class Manifest:
    version: int
    parent: int | None
    schema_json: str
    num_buckets: int
    key_cols: list[str]
    files: dict[str, list[str]]  # bucket id (str) -> relative parquet paths
    row_counts: dict[str, int]  # bucket id (str) -> rows
    summary: dict = field(default_factory=dict)
    # Merge-on-read deltas (the Iceberg v2 equality-delete analog):
    # bucket id (str) -> ORDERED relative paths of delta files appended
    # by MoR epochs. List position is the apply sequence — later files
    # win LWW against earlier files and against the base. Delta rows
    # carry a ``__op`` column ('U' upsert / 'D' tombstone); base files
    # have no ``__op`` (read as alive). Empty for pure-CoW tables, so
    # pre-MoR manifests load unchanged.
    delta_files: dict[str, list[str]] = field(default_factory=dict)
    delta_row_counts: dict[str, int] = field(default_factory=dict)
    # Optional EVENT-ORDER resolution for the MoR read (set at create
    # time): when non-empty, the merged read picks each key's winner by
    # max (resolve_order..., apply sequence) instead of apply sequence
    # alone. With it, out-of-order DELIVERY is harmless — a late batch
    # carrying older images (or older tombstones) can never regress a
    # key, which is strictly stronger than the CoW cross-batch guard:
    # retained tombstones even suppress a delete-then-earlier-update
    # arrival, the case order-guarded CoW documents as unsupportable.
    # The reordering window it tolerates is bounded by compaction
    # (folded tombstones are gone — the Kafka compacted-topic
    # retention trade-off).
    resolve_order: list[str] = field(default_factory=list)
    # File-level column statistics (the Iceberg manifest
    # lower_bounds/upper_bounds/null_value_counts analog): for each
    # column named in ``stats_cols``, every BASE data file carries
    # [min, max, null_count] harvested from its parquet footer at
    # commit time — no data read, O(new files) footer metadata per
    # commit, exactly the per-file stats Iceberg writers persist.
    # ``read(filters=...)`` skips files whose bounds cannot satisfy a
    # conjunct; absent stats (pre-stats files, unharvestable types)
    # simply disable skipping for that file — never correctness.
    stats_cols: list[str] = field(default_factory=list)
    file_stats: dict[str, dict[str, list]] = field(default_factory=dict)
    # What produced THIS snapshot (per-snapshot, never inherited —
    # unlike ``summary``, which merges over the parent's): "" for data
    # commits, "compact" for layout-only rewrites (visible state
    # provably unchanged), "rebucket" for bucket-count changes. The
    # Iceberg snapshot-operation field; change-feed consumers use it
    # to skip diffing commits that cannot contain a changed key.
    operation: str = ""
    # Sharded manifest storage (the Iceberg manifest-list analog): when
    # set, the per-bucket metadata (files / row_counts / delta_* /
    # file_stats) is NOT stored in the snapshot file — it lives in
    # content-addressed shard files (``_manifests/shard-<sha>.json``),
    # each covering ``shard_buckets`` consecutive bucket ids, and the
    # snapshot holds only shard REFERENCES. A commit touching k buckets
    # rewrites only the shards containing them; every untouched shard
    # is referenced by name from the parent (content addressing makes
    # the reuse free and crash-safe — shards are immutable once
    # written). At 10^4 buckets × 10^5+ files this is the difference
    # between rewriting tens of MB of metadata per commit and writing
    # O(touched buckets): the single-file form's write cost grows with
    # TABLE size, the sharded form's with COMMIT size — the same
    # O(batch) property the data path already has. None = single-file
    # manifests (the default; small tables don't need the indirection).
    shard_buckets: int | None = None
    # Per-file KEY BLOOM FILTERS (the Delta bloom-filter-index /
    # Iceberg puffin-blob analog): for each column named in
    # ``bloom_cols``, every BASE data file carries a small bloom
    # filter over its non-null values, serialized into the manifest
    # as {"m": bits, "k": hashes, "b64": bitset}. Equality and IN
    # conjuncts (``read(filters=...)``, and therefore every
    # ``lookup``) skip files whose bloom proves the value absent —
    # the pruning dimension min/max bounds cannot provide when a
    # bucket's files all span the key range (high-cardinality keys
    # after interleaved writes). False positives only cost a read;
    # a file is never skipped while containing the value. Absent
    # blooms (pre-bloom files, unsupported value types) disable
    # skipping for that file — never correctness.
    bloom_cols: list[str] = field(default_factory=list)
    file_blooms: dict[str, dict[str, dict]] = field(default_factory=dict)
    # Optional bucket-routing columns: a PREFIX-style SUBSET of
    # ``key_cols`` (the Iceberg partition-spec-narrower-than-identity
    # analog). Empty (the default, and every pre-bucket_cols manifest)
    # means bucket on the full key. Setting it routes buckets on the
    # subset only, so rows sharing those columns CO-LOCATE even when
    # the full identity key differs — the layout a HISTORY table wants:
    # key (repo, path, valid_from_lsn) identifies one version interval,
    # but bucketing on (repo, path) keeps a key's whole history in one
    # bucket, making "open rows of these keys" a bucket-pruned read
    # instead of a table scan. Correctness invariant preserved: bucket
    # is a deterministic function of the key (subset ⊆ key), so every
    # merge/change-feed/lookup co-location guarantee still holds.
    # The engine's exchange-aligned epoch needs full-key routing (its
    # dedup shuffle hashes the FULL key); a bucket_cols table merges
    # through merge_into's routed path instead.
    bucket_cols: list[str] = field(default_factory=list)

    @property
    def schema(self) -> T.StructType:
        return T.StructType.fromJson(json.loads(self.schema_json))

    @property
    def last_epoch(self) -> int:
        return int(self.summary.get("last_epoch", -1))

    def _scalar_dict(self) -> dict:
        return {
            "version": self.version,
            "parent": self.parent,
            "schema_json": self.schema_json,
            "num_buckets": self.num_buckets,
            "key_cols": self.key_cols,
            "summary": self.summary,
            "resolve_order": self.resolve_order,
            "stats_cols": self.stats_cols,
            "bloom_cols": self.bloom_cols,
            "operation": self.operation,
            "shard_buckets": self.shard_buckets,
            "hash_fn": BUCKET_HASH,
            "bucket_cols": self.bucket_cols,
        }

    def to_json(self) -> str:
        """Single-file (unsharded) serialization — also the legacy
        on-disk form every pre-shard manifest uses."""
        return json.dumps(
            {
                **self._scalar_dict(),
                "files": self.files,
                "row_counts": self.row_counts,
                "delta_files": self.delta_files,
                "delta_row_counts": self.delta_row_counts,
                "file_stats": self.file_stats,
                "file_blooms": self.file_blooms,
            },
            indent=1,
        )

    @classmethod
    def from_json(cls, s: str) -> "Manifest":
        return cls(**_checked_routing(json.loads(s), "<manifest json>"))

    # ---------- sharded form ----------
    def shard_index(self, bucket: int) -> int:
        return bucket // int(self.shard_buckets)

    def num_shards(self) -> int:
        return -(-self.num_buckets // int(self.shard_buckets))

    def shard_payload(self, si: int) -> dict:
        """The shard file body for shard index ``si``: the five
        per-bucket dicts restricted to its bucket range, keys sorted so
        the JSON is byte-deterministic (shard names are content
        hashes). ``file_stats`` entries ride with the bucket whose
        ``files`` list contains them."""
        lo, hi = si * self.shard_buckets, (si + 1) * self.shard_buckets
        buckets: dict[str, dict] = {}
        stats: dict[str, dict] = {}
        blooms: dict[str, dict] = {}
        for b in set(self.files) | set(self.delta_files):
            if not (lo <= int(b) < hi):
                continue
            e: dict = {}
            if self.files.get(b):
                e["files"] = self.files[b]
                e["rows"] = int(self.row_counts.get(b, 0))
                for p in self.files[b]:
                    if p in self.file_stats:
                        stats[p] = self.file_stats[p]
                    if p in self.file_blooms:
                        blooms[p] = self.file_blooms[p]
            if self.delta_files.get(b):
                e["delta_files"] = self.delta_files[b]
                e["delta_rows"] = int(self.delta_row_counts.get(b, 0))
            if e:
                buckets[b] = e
        out = {"buckets": buckets, "file_stats": stats}
        if blooms:
            out["file_blooms"] = blooms
        return out

    def merge_shard_payload(self, payload: dict) -> None:
        for b, e in payload.get("buckets", {}).items():
            if e.get("files"):
                self.files[b] = e["files"]
                self.row_counts[b] = int(e.get("rows", 0))
            if e.get("delta_files"):
                self.delta_files[b] = e["delta_files"]
                self.delta_row_counts[b] = int(e.get("delta_rows", 0))
        self.file_stats.update(payload.get("file_stats", {}))
        self.file_blooms.update(payload.get("file_blooms", {}))


# The one bucket hash: Spark's Murmur3Hash (seed 42), the function
# inside the shuffle's HashPartitioning. Every manifest records it, so a
# table bucketed any other way is refused at load instead of being read
# (or written) under the wrong routing.
BUCKET_HASH = "murmur3"


def _checked_routing(d: dict, root: str) -> dict:
    """``d`` (a manifest's JSON fields) without its ``hash_fn`` entry,
    raising ValueError unless that entry names :data:`BUCKET_HASH`."""
    h = d.pop("hash_fn", None)
    if h != BUCKET_HASH:
        raise ValueError(
            f"table at {root} buckets keys with hash_fn={h!r}, not "
            f"{BUCKET_HASH!r} (a manifest without hash_fn predates it); "
            f"its files are placed under a routing this version does not "
            f"compute, so it is neither read nor written"
        )
    return d


def load_manifest(manifest_dir: str, version: int) -> Manifest:
    """Load a snapshot manifest from disk, resolving shard references
    when the snapshot is sharded — the one loader every consumer
    (LakeTable, the lake_changes streaming source) goes through. The
    returned Manifest is fully materialized either way, so nothing
    downstream cares which on-disk form it came from."""
    with open(os.path.join(manifest_dir, f"v{version:08d}.json")) as fh:
        d = _checked_routing(json.load(fh), os.path.dirname(manifest_dir))
    shards = d.pop("shards", None)
    if shards is None:
        return Manifest(**d)
    m = Manifest(
        **d,
        files={},
        row_counts={},
        delta_files={},
        delta_row_counts={},
        file_stats={},
        file_blooms={},
    )
    # each distinct shard file once; bucket ids are globally unique
    # across payloads, so merge order is irrelevant
    for name in dict.fromkeys(shards.values()):
        with open(os.path.join(manifest_dir, name)) as fh:
            m.merge_shard_payload(json.load(fh))
    return m


def bucket_expr_for(
    m: "Manifest",
    num_buckets: int | None = None,
    key_cols: list[str] | None = None,
):
    """The ONE bucket-assignment expression every writer and reader
    uses: ``pmod(murmur3(key_cols...), num_buckets)``. ``F.hash`` is
    the exact expression inside Spark's shuffle HashPartitioning, so an
    uncoalesced shuffle keyed on them with ``num_buckets`` partitions
    puts bucket b in partition b (the engine's aligned epoch rests on
    this)."""
    nb = num_buckets or m.num_buckets
    keys = key_cols or m.bucket_cols or m.key_cols
    return F.pmod(F.hash(*[F.col(k) for k in keys]), F.lit(nb)).cast("int")


def conform_arrow(t, schema):
    """Project an Arrow table onto ``schema``: present columns cast,
    absent columns (files written before a schema evolution) null-
    filled — the parquet reader's missing-column semantics, applied
    executor-side."""
    import pyarrow as pa

    arrays = []
    for f in schema:
        if f.name in t.column_names:
            arrays.append(t.column(f.name).cast(f.type))
        else:
            arrays.append(pa.nulls(t.num_rows, type=f.type))
    return pa.Table.from_arrays(arrays, schema=schema)


def rows_to_arrow(rows: list[tuple], schema: T.StructType):
    """Positional Python rows -> a pyarrow table typed by
    ``to_arrow_schema(schema)``. Each value first goes through its
    Spark type's ``toInternal`` — the conversion
    ``createDataFrame(list)`` applies — so a naive timestamp keeps its
    local-time meaning and a date or decimal keeps its exact value.
    ``spark.createDataFrame`` plans such a table as a ``LocalRelation``:
    no RDD and no job."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    n = len(schema.fields)
    for r in rows:
        if len(r) != n:
            raise ValueError(f"row {r!r} has {len(r)} values, expected {n} ({schema.names})")
    pa_schema = to_arrow_schema(schema)
    arrays = [
        pa.array([f.dataType.toInternal(r[i]) for r in rows], type=pa_schema.field(i).type)
        for i, f in enumerate(schema.fields)
    ]
    return pa.Table.from_arrays(arrays, schema=pa_schema)


def composite_key_array(tbl, keys: list[str]):
    """Injective composite-key encoding over Arrow key columns, one
    kernel for every consumer (pandas elementwise concat is
    numpy-str_-backed and silently strips NUL bytes): each key part is
    LENGTH-PREFIXED ("3:abc;2:de"), so arbitrary key bytes cannot
    collide — a plain separator would make ("r\\x00", "a") and
    ("r", "\\x00a") encode identically. Keys must be non-null (they
    are the table's primary key; the replay dirty gate enforces it).
    The encoding is binary: a binary key part is taken as its bytes
    (it need not be UTF-8), a timestamp part as its microseconds since
    the epoch (a parquet read gives ``timestamp[us, UTC]``, another
    writer may give a different unit or zone: their string casts
    differ), every other part as its string cast.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    def as_bytes(a):
        t = a.type
        if pa.types.is_binary(t) or pa.types.is_large_binary(t):
            return pc.cast(a, pa.binary())
        if pa.types.is_timestamp(t):
            a = pc.cast(pc.cast(a, pa.timestamp("us", t.tz)), pa.int64())
        return pc.cast(pc.cast(a, pa.string()), pa.binary())

    colon, semi = pa.scalar(b":", pa.binary()), pa.scalar(b";", pa.binary())
    kc = None
    for k in keys:
        s = as_bytes(tbl.column(k))
        part = pc.binary_join_element_wise(as_bytes(pc.binary_length(s)), s, colon)
        kc = part if kc is None else pc.binary_join_element_wise(kc, part, semi)
    return kc


def bucket_state_arrow(
    base_files: list[str],
    delta_files: list[str],
    keys: list[str],
    resolve: list[str],
    pa_schema,
    prefilter: list[tuple] | None = None,
):
    """Arrow-side LWW state of ONE bucket: base files ⊕ ordered delta
    files, winner per key by max (resolve_order..., apply sequence),
    tombstoned keys dropped. Returns a ``pa.Table`` with exactly
    ``pa_schema``'s columns (alive winners only). Pure Arrow — runs
    inside executor tasks with no Spark session, so the MoR merged
    read (:meth:`LakeTable._read_merged_buckets`) and the snapshot
    diff (:func:`unit_changes_arrow`) share one resolution kernel.

    Base files share one consistent snapshot (a key appears in at most
    one of them), so they all take sequence 0 and (key, seq) stays
    unique; delta files win by list position. ``prefilter`` (key-column
    conjuncts only — the caller guarantees LWW safety) pushes into the
    parquet reads for row-group pruning."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    parts = []
    for seq, f in [(0, p) for p in base_files] + [
        (i + 1, p) for i, p in enumerate(delta_files)
    ]:
        t = pq.read_table(f, filters=prefilter)
        if not t.num_rows:
            continue
        op = (
            t.column("__op").cast(pa.string())
            if "__op" in t.column_names
            else pa.nulls(t.num_rows, type=pa.string())
        )
        ct = conform_arrow(t, pa_schema)
        ct = ct.append_column("__op", op).append_column(
            "__seq", pa.array([seq] * t.num_rows, type=pa.int64())
        )
        parts.append(ct)
    if not parts:
        return pa_schema.empty_table()
    tbl = pa.concat_tables(parts)
    tbl = tbl.append_column("__k", composite_key_array(tbl, keys))
    # winner per key: max (resolve_order..., seq) when the table opted
    # into event-order resolution (see Manifest.resolve_order), else
    # max apply sequence
    idx = pc.sort_indices(
        tbl,
        sort_keys=[
            ("__k", "ascending"),
            *[(c, "descending") for c in resolve],
            ("__seq", "descending"),
        ],
    )
    tbl = tbl.take(idx).combine_chunks()
    karr = tbl.column("__k").chunk(0) if tbl.column("__k").num_chunks else None
    if karr is None or not len(karr):
        return pa_schema.empty_table()
    # winner per key = first row of each sorted key run
    first = pa.concat_arrays(
        [
            pa.array([True]),
            pc.not_equal(karr.slice(1), karr.slice(0, len(karr) - 1)),
        ]
    )
    win = tbl.filter(first)
    alive = win.filter(
        pc.or_kleene(
            pc.is_null(win.column("__op")),
            pc.not_equal(win.column("__op"), "D"),
        )
    )
    return alive.select(pa_schema.names).combine_chunks()


def _fingerprint_array(a):
    """Injective, self-delimiting binary encoding of each value of an
    Arrow array: validity + length + body ("1:3:abc"; null is "0:0:").
    Strings and binaries contribute their raw bytes, lists and maps
    the concatenated encodings of their elements, structs those of
    their fields, any other type its string cast."""
    import pyarrow as pa
    import pyarrow.compute as pc

    t = a.type
    if pa.types.is_list(t) or pa.types.is_map(t):
        # offsets index the full (unsliced) child array
        elems = pa.ListArray.from_arrays(a.offsets, _fingerprint_array(a.values))
        body = pc.binary_join(elems, b"")
    elif pa.types.is_struct(t):
        body = pc.binary_join_element_wise(*map(_fingerprint_array, a.flatten()), b"")
    elif pa.types.is_string(t) or pa.types.is_binary(t):
        body = a.cast(pa.binary())
    else:
        body = a.cast(pa.string()).cast(pa.binary())
    valid = a.is_valid()
    body = pc.if_else(valid, body, b"")
    size = pc.binary_length(body).cast(pa.string()).cast(pa.binary())
    return pc.binary_join_element_wise(pc.if_else(valid, b"1", b"0"), size, body, b":")


def _payload_fingerprint(tbl, payload: list[str]):
    """Injective row fingerprint over the payload columns of an Arrow
    table, for change detection: the :func:`_fingerprint_array`
    encodings of the columns, joined. NULL vs the literal NUL string
    vs empty string stay distinct and arbitrary value bytes cannot
    collide across column boundaries. Same Arrow-kernel-only
    discipline as :func:`composite_key_array` (pandas elementwise
    concat strips NUL bytes)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if not payload:
        return pa.array([b""] * tbl.num_rows, type=pa.binary())
    parts = [_fingerprint_array(tbl.column(c).combine_chunks()) for c in payload]
    return pc.binary_join_element_wise(*parts, b";")


def bucket_changes_arrow(old, new, keys, pa_schema, commit_version: int, include_preimage=False):
    """Arrow-side change rows between two LWW states of ONE bucket
    (both produced by :func:`bucket_state_arrow`, so each key appears
    at most once per side): one output row per key whose state
    differs, with ``_change_type`` in {insert, update, delete} and
    ``_commit_version`` stamped. Inserts/updates carry the new image;
    deletes carry the old image; ``include_preimage`` emits an update
    as the old image (``update_preimage``) directly followed by the
    new one (``update_postimage``). This is the one snapshot diff
    kernel (see :func:`unit_changes_arrow`): both snapshots co-locate
    a key in the same bucket, so the diff is a local sort +
    run-compare, never a join.

    Shape: concat(old tagged side=0, new tagged side=1), sort by
    (composite key, side); a key-run of length 1 is an insert or
    delete by side, a run of length 2 is an update iff the payload
    fingerprints differ."""
    import pyarrow as pa
    import pyarrow.compute as pc

    payload = [n for n in pa_schema.names if n not in keys]
    out_schema = pa.schema(
        list(pa_schema)
        + [pa.field("_change_type", pa.string()), pa.field("_commit_version", pa.int64())]
    )
    if old.num_rows == 0 and new.num_rows == 0:
        return out_schema.empty_table()

    def tag(t, side):
        t = t.append_column("__fp", _payload_fingerprint(t, payload))
        return t.append_column(
            "__side", pa.array([side] * t.num_rows, type=pa.int8())
        )

    t = pa.concat_tables([tag(old, 0), tag(new, 1)])
    t = t.append_column("__k", composite_key_array(t, keys))
    idx = pc.sort_indices(
        t, sort_keys=[("__k", "ascending"), ("__side", "ascending")]
    )
    t = t.take(idx).combine_chunks()
    n = t.num_rows
    k = t.column("__k").chunk(0)
    fp = t.column("__fp").chunk(0)
    false1 = pa.array([False])
    if n == 1:
        same_prev = same_next = changed_prev = changed_next = false1
    else:
        # a key run has at most two rows (old, new), so a row's
        # neighbour within its run is its counterpart on the other side
        eq = pc.equal(k.slice(1), k.slice(0, n - 1))
        changed = pc.and_(eq, pc.not_equal(fp.slice(1), fp.slice(0, n - 1)))
        same_prev = pa.concat_arrays([false1, eq])
        same_next = pa.concat_arrays([eq, false1])
        changed_prev = pa.concat_arrays([false1, changed])
        changed_next = pa.concat_arrays([changed, false1])
    is_new = pc.equal(t.column("__side"), pa.scalar(1, pa.int8()))
    is_old = pc.invert(is_new)
    delete = pc.and_(is_old, pc.invert(same_next))
    insert = pc.and_(is_new, pc.invert(same_prev))
    update = pc.and_(is_new, changed_prev)
    keep = pc.or_(delete, pc.or_(insert, update))
    upd_label = pa.scalar("update")
    if include_preimage:
        pre = pc.and_(is_old, changed_next)
        keep = pc.or_(keep, pre)
        upd_label = pc.if_else(pre, "update_preimage", "update_postimage")
    label = pc.if_else(
        delete, pa.scalar("delete"), pc.if_else(insert, pa.scalar("insert"), upd_label)
    )
    res = t.append_column("_change_type", label).filter(keep)
    cols = [res.column(nm) for nm in pa_schema.names]
    cols.append(res.column("_change_type"))
    cols.append(pa.array([commit_version] * res.num_rows, type=pa.int64()))
    return pa.Table.from_arrays(cols, schema=out_schema)


def unit_files(root: str, m: "Manifest", g: int, unit: int) -> tuple[list[str], list[str]]:
    """Absolute (base, delta) file lists of the buckets ``b`` of
    snapshot ``m`` with ``b % g == unit``, in bucket order. For ``g``
    dividing ``m.num_buckets``, ``pmod(h, n) % g == pmod(h, g)``: a key
    lands in the same unit under every layout whose count ``g``
    divides. Different buckets never share a key, so concatenated
    delta lists keep every key's apply order."""
    base: list[str] = []
    deltas: list[str] = []
    for b in range(unit, m.num_buckets, g):
        base += [os.path.join(root, p) for p in m.files.get(str(b), [])]
        deltas += [os.path.join(root, p) for p in m.delta_files.get(str(b), [])]
    return base, deltas


def unit_changes_arrow(old, new, keys, pa_schema, commit_version: int, include_preimage=False):
    """The one snapshot diff step, run inside executor tasks by
    :meth:`LakeTable.changes`, the replica repair and the
    ``lake_changes`` stream: ``old`` and ``new`` are each (base files,
    delta files, resolve_order) of one unit (:func:`unit_files`),
    resolved with :func:`bucket_state_arrow` and diffed with
    :func:`bucket_changes_arrow`."""
    a = bucket_state_arrow(old[0], old[1], keys, old[2], pa_schema)
    b = bucket_state_arrow(new[0], new[1], keys, new[2], pa_schema)
    return bucket_changes_arrow(a, b, keys, pa_schema, commit_version, include_preimage)


def manifest_lineage(load, start_version: int, end: "Manifest"):
    """(parent, child) commit pairs from ``start_version`` (exclusive)
    to ``end``, oldest first, walking ``end``'s PARENT CHAIN with
    ``load(version)`` (so version gaps from staged WAP snapshots are
    skipped; its FileNotFoundError for expired history propagates).
    ``start_version`` -1 ends the walk at the first snapshot, paired
    with None. Returns None when ``start_version`` is not an ancestor."""
    pairs = []
    c = end
    while c.version != start_version:
        if c.parent is None:
            if start_version != -1:
                return None
            pairs.append((None, c))
            break
        p = load(c.parent)
        pairs.append((p, c))
        c = p
    return pairs[::-1]


def manifest_changed_buckets(parent: "Manifest | None", child: "Manifest") -> list[int]:
    """Bucket ids whose base or delta file lists differ between a
    parent and child snapshot — data files are immutable, so an
    identical list proves the bucket holds no changed key. Parent None
    (the first snapshot) makes every bucket of the child changed."""
    all_b = set(child.files) | set(child.delta_files)
    if parent is None:
        return sorted(int(b) for b in all_b)
    all_b |= set(parent.files) | set(parent.delta_files)
    return sorted(
        int(b)
        for b in all_b
        if parent.files.get(b) != child.files.get(b)
        or parent.delta_files.get(b) != child.delta_files.get(b)
    )


def harvest_file_stats(paths: list[str], stats_cols: list[str]) -> dict[str, dict[str, list]]:
    """Per-file [min, max, null_count] for ``stats_cols``, read from
    parquet FOOTERS only (row-group statistics folded per file) — the
    stats an Iceberg writer persists into its manifest, harvested at
    commit time with zero data pages read. A column whose footer lacks
    min/max (unsupported physical type, stats disabled) gets
    ``[None, None, nulls]``: pruning treats missing bounds as
    "could match", so absent stats can never cost correctness.

    Only JSON-stable types are kept (int/float/str/bool) — binary or
    nested mins would not round-trip through the manifest.
    """
    import pyarrow.parquet as pq

    out: dict[str, dict[str, list]] = {}
    for p in paths:
        md = pq.ParquetFile(p).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        per_col: dict[str, list] = {}
        for c in stats_cols:
            if c not in idx:
                continue  # pre-evolution file: column absent => all null
            mn = mx = None
            nulls = 0
            ok = True
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx[c]).statistics
                if st is None:
                    ok = False
                    break
                nulls += st.null_count or 0
                if not st.has_min_max:
                    # all-null row group carries no bounds; fine
                    continue
                lo, hi = st.min, st.max
                if not isinstance(lo, (int, float, str, bool)):
                    ok = False
                    break
                mn = lo if mn is None else min(mn, lo)
                mx = hi if mx is None else max(mx, hi)
            if ok:
                per_col[c] = [mn, mx, nulls]
        if per_col:
            out[p] = per_col
    return out


# ---------- per-file bloom filters (Delta bloom index analog) ----------
# k=7 hash probes with ~10 bits per value gives ~0.8% false positives;
# the bitset is capped so one (file, column) bloom can never bloat a
# manifest past ~512 KiB — past the cap the fpp degrades gracefully,
# which costs reads, never answers.
_BLOOM_K = 7
_BLOOM_BITS_PER_VALUE = 10
_BLOOM_MAX_BITS = 1 << 22


def _bloom_encode(v) -> bytes | None:
    """Canonical bytes for a bloomable value; None = type not covered
    (floats, bools, nested) — both build and probe sides return None
    for the same inputs, so an unprobeable value can never be skipped.
    The type prefix keeps int 5 and string '5' from colliding."""
    if v is None or isinstance(v, bool):
        return None
    if isinstance(v, int):
        return b"i:" + str(v).encode()
    if isinstance(v, str):
        return b"s:" + v.encode("utf-8")
    if isinstance(v, bytes):
        return b"b:" + v
    return None


def _bloom_positions(enc: bytes, m_bits: int) -> list[int]:
    # double hashing over the two halves of one blake2b digest —
    # deterministic across processes (no PYTHONHASHSEED dependence)
    d = hashlib.blake2b(enc, digest_size=16).digest()
    h1 = int.from_bytes(d[:8], "little")
    h2 = int.from_bytes(d[8:], "little") | 1
    return [(h1 + i * h2) % m_bits for i in range(_BLOOM_K)]


def _harvest_one_bloom(path: str, bloom_cols: list[str]) -> dict[str, dict] | None:
    """One file's blooms (executor-side unit of work)."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    present = [c for c in bloom_cols if c in pf.schema_arrow.names]
    if not present:
        return None
    tbl = pf.read(columns=present)
    per_col: dict[str, dict] = {}
    for c in present:
        # distinct values only: identical bits, fewer hash rounds (and
        # the m sizing tracks distincts, which is what fpp depends on)
        vals = {v for v in tbl.column(c).to_pylist() if v is not None}
        encs = []
        ok = True
        for v in vals:
            e = _bloom_encode(v)
            if e is None:
                ok = False
                break
            encs.append(e)
        if not ok:
            continue
        m_bits = min(
            max(64, -(-len(encs) * _BLOOM_BITS_PER_VALUE // 8) * 8),
            _BLOOM_MAX_BITS,
        )
        bits = bytearray(m_bits // 8)
        for e in encs:
            for pos in _bloom_positions(e, m_bits):
                bits[pos >> 3] |= 1 << (pos & 7)
        per_col[c] = {
            "m": m_bits,
            "k": _BLOOM_K,
            "b64": base64.b64encode(bytes(bits)).decode(),
        }
    return per_col or None


def harvest_file_blooms(
    paths: list[str],
    bloom_cols: list[str],
    spark: SparkSession | None = None,
) -> dict[str, dict[str, dict]]:
    """Build per-file bloom filters over ``bloom_cols`` for new data
    files at commit time. Unlike footer stats this reads the bloom
    columns' data pages (column-pruned — only those columns), so the
    cost is O(new rows) per commit on an opt-in feature; a column with
    any un-encodable value in a file simply gets no bloom there
    (conservative: that file is never skipped).

    With a ``spark`` session the harvest runs ONE TASK PER FILE on the
    executors (the value hashing is CPU-bound Python — serial on the
    driver it would gate commit latency at exactly the epoch sizes
    where blooms matter); only the finished bloom dicts (~KB each)
    return to the driver. Without a session (tests, tiny metadata
    jobs) it runs inline."""
    if spark is not None and len(paths) > 1:
        cols = list(bloom_cols)
        pairs = (
            spark.sparkContext.parallelize(paths, len(paths))
            .map(lambda p: (p, _harvest_one_bloom(p, cols)))
            .collect()
        )
        return {p: b for p, b in pairs if b}
    out: dict[str, dict[str, dict]] = {}
    for p in paths:
        b = _harvest_one_bloom(p, bloom_cols)
        if b:
            out[p] = b
    return out


def _bloom_may_match(bloom: dict, op: str, val) -> bool:
    """Probe one file's bloom for an equality/IN conjunct. True = the
    file may contain a matching value; only a definite all-probes-miss
    answers False. Non-equality ops never consult blooms."""
    if op in ("=", "=="):
        vals = [val]
    elif op == "in":
        vals = list(val)
    else:
        return True
    m_bits = int(bloom["m"])
    bits = base64.b64decode(bloom["b64"])
    for v in vals:
        enc = _bloom_encode(v)
        if enc is None:
            return True
        if all(
            bits[pos >> 3] & (1 << (pos & 7))
            for pos in _bloom_positions(enc, m_bits)
        ):
            return True
    return False


# file-skipping conjunct evaluation: True = file may contain matches,
# False = provably empty for this conjunct. ``bounds`` is the manifest
# triple [min, max, null_count]; min/max of None with null_count > 0
# means the file's column is entirely null.
def _bounds_may_match(bounds: list, op: str, val) -> bool:
    mn, mx, _nulls = bounds
    if op == "is_null":
        return _nulls is None or _nulls > 0
    if mn is None or mx is None:
        # no bounds: only all-null files reach here with a positive
        # null_count; any value predicate then fails, but is_not_null
        # style checks are handled above/below conservatively
        return op == "is_not_null" and (_nulls is None)
    if op == "is_not_null":
        return True
    try:
        if op in ("=", "=="):
            return mn <= val <= mx
        if op == "<":
            return mn < val
        if op == "<=":
            return mn <= val
        if op == ">":
            return mx > val
        if op == ">=":
            return mx >= val
        if op == "in":
            return any(mn <= v <= mx for v in val)
    except TypeError:
        return True  # incomparable value/bounds types: never prune
    return True  # unknown op: never prune


def _file_may_match(
    per_col: dict[str, list],
    filters: list[tuple],
    blooms: dict[str, dict] | None = None,
) -> bool:
    """AND of per-conjunct bounds + bloom checks for one file. A
    conjunct on a column with no harvested stats/bloom is
    conservatively satisfiable."""
    for col, op, *rest in filters:
        val = rest[0] if rest else None
        bounds = per_col.get(col)
        if bounds is not None and not _bounds_may_match(bounds, op, val):
            return False
        bloom = (blooms or {}).get(col)
        if bloom is not None and not _bloom_may_match(bloom, op, val):
            return False
    return True


def _arrow_filter(f: tuple, dtype: T.DataType) -> tuple:
    """A ``(col, op, value)`` conjunct as pyarrow's parquet filters take
    it: parquet holds a Spark timestamp as ``timestamp[us, UTC]``,
    which pyarrow will not compare with a naive datetime, so timestamp
    values become the aware UTC instant Spark gives them (a naive one
    is local time, as in ``createDataFrame``)."""
    import datetime as _dt

    if not isinstance(dtype, T.TimestampType):
        return f
    epoch = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)

    def conv(v):
        if not isinstance(v, _dt.datetime):
            return v
        return epoch + _dt.timedelta(microseconds=dtype.toInternal(v))

    col, op, val = f
    return (col, op, [conv(v) for v in val] if op == "in" else conv(val))


def _filters_to_column(filters: list[tuple]):
    """The same conjuncts as a Spark Column, applied to the scan so
    ``read(filters=...)`` is exactly ``read().filter(...)`` no matter
    what the stats allowed to be skipped."""
    cond = None
    for col, op, *rest in filters:
        c = F.col(col)
        v = rest[0] if rest else None
        if op in ("=", "=="):
            e = c == v
        elif op == "<":
            e = c < v
        elif op == "<=":
            e = c <= v
        elif op == ">":
            e = c > v
        elif op == ">=":
            e = c >= v
        elif op == "in":
            e = c.isin(list(v))
        elif op == "is_null":
            e = c.isNull()
        elif op == "is_not_null":
            e = c.isNotNull()
        else:
            raise ValueError(f"unsupported filter op: {op!r}")
        cond = e if cond is None else cond & e
    return cond


def zorder_values(tbl, cols: list[str], bounds: dict[str, tuple], bits: int = 16):
    """Z-value (Morton) of each row of an Arrow table, for
    multi-dimensional clustering — the Delta OPTIMIZE ZORDER BY /
    Iceberg z-order rewrite analog: each column is linearly binned into
    ``bits`` bits over its [min, max] ``bounds``, then the columns'
    bits are interleaved so sorting by the z-value clusters rows that
    are close in EVERY dimension. Nulls bin to 0 (cluster together at
    the origin), NaN to the top bin. Numeric columns only — a caller
    with strings should bin them first (e.g. xxhash). Returns an int64
    numpy array."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    k = len(cols)
    if bits * k > 63:
        raise ValueError(f"z-value needs bits*cols <= 63, got {bits}*{k}")
    top = float((1 << bits) - 1)
    z = np.zeros(tbl.num_rows, dtype=np.int64)
    for j, c in enumerate(cols):
        mn, mx = bounds[c]
        span = float(mx) - float(mn)
        if span <= 0:
            continue
        col = tbl.column(c)
        x = pc.cast(col, pa.float64()).to_numpy(zero_copy_only=False)
        scaled = np.nan_to_num((x - float(mn)) / span * top, nan=top)
        b = np.floor(np.clip(scaled, 0.0, top)).astype(np.int64)
        b[~pc.is_valid(col).to_numpy(zero_copy_only=False)] = 0
        for i in range(bits):
            z |= ((b >> i) & 1) << (i * k + j)
    return z


def spark_sort_indices(tbl, cols: list[str]):
    """Row order of Spark's ascending sort on ``cols``: nulls first,
    and NaN above every other number (Arrow on its own would place NaN
    with the nulls)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    keys = []
    for c in cols:
        if pa.types.is_floating(tbl.column(c).type):
            nan = f"__nan_{c}"
            tbl = tbl.append_column(nan, pc.is_nan(tbl.column(c)))
            keys.append((nan, "ascending"))
        keys.append((c, "ascending"))
    return pc.sort_indices(tbl, sort_keys=keys, null_placement="at_start")


def compact_bucket_arrow(
    base_files: list[str],
    delta_files: list[str],
    keys: list[str],
    resolve: list[str],
    pa_schema,
    sort_cols: list[str],
    zorder_bounds: dict[str, tuple] | None,
    target_file_rows: int | None,
    out_prefix: str,
) -> list[tuple[str, int]]:
    """Rewrite ONE bucket, inside its executor task: resolve its state
    with :func:`bucket_state_arrow` (base ⊕ deltas, or the base files
    of a multi-file copy-on-write bucket), sort it — by the z-value of
    ``sort_cols`` when ``zorder_bounds`` is given, else by ``sort_cols``
    in Spark's order — and write it as ``<out_prefix>-NNNNN.parquet``,
    a new file every ``target_file_rows`` rows (all rows in one file
    when None), each by :func:`write_parquet_atomic`. Returns
    ``[(file, rows)]``; empty when every key of the bucket is
    deleted."""
    tbl = bucket_state_arrow(base_files, delta_files, keys, resolve, pa_schema)
    if not tbl.num_rows:
        return []
    if zorder_bounds is not None:
        idx = zorder_values(tbl, sort_cols, zorder_bounds).argsort(kind="stable")
    else:
        idx = spark_sort_indices(tbl, sort_cols)
    tbl = tbl.take(idx)
    step = target_file_rows or tbl.num_rows
    out = []
    for i, start in enumerate(range(0, tbl.num_rows, step)):
        part = tbl.slice(start, step)
        out.append((write_parquet_atomic(part, f"{out_prefix}-{i:05d}.parquet"), part.num_rows))
    return out


def write_parquet_atomic(tbl, final: str) -> str:
    """Write an Arrow table to ``final`` by tmp + rename, from inside
    an executor task: the deterministic final name makes a retried
    task overwrite its own output (last rename wins). Returns
    ``final``."""
    import pyarrow.parquet as pq

    tmp = f"{final}.{uuid.uuid4().hex}.tmp"
    pq.write_table(tbl, tmp)
    os.rename(tmp, final)
    return final


# Per-table commit locks: _write_manifest's parent check + pointer
# rename must be one atomic compare-and-swap or two writers could both
# pass the check and the loser's rename would silently clobber the
# winner (lost update). Two layers make the CAS physical:
#   1. an in-process reentrant lock per table root (cheap, fair);
#   2. the storage backend's CROSS-PROCESS commit lock underneath it
#      (lake/io.py: flock / O_EXCL lockfile on LocalFS; a deployment
#      on an object store swaps in a conditional-put backend — exactly
#      the catalog CAS Iceberg requires).
# Two engine processes (a replay job ‖ a nightly compaction) therefore
# serialize at the pointer swap; the loser re-reads the head and
# rebases (PendingMerge.commit(rebase=True)) or raises
# CommitConflictError — never a silent lost update.
class _TableCommitLock:
    def __init__(self, root: str):
        self._rlock = threading.RLock()
        self._root = root
        self._depth = 0
        self._cm = None

    def __enter__(self):
        self._rlock.acquire()
        try:
            if self._depth == 0:
                self._cm = lake_io.get_backend().commit_lock(self._root)
                self._cm.__enter__()
            self._depth += 1
        except BaseException:
            self._rlock.release()
            raise
        return self

    def __exit__(self, exc_type, exc, tb):
        try:
            self._depth -= 1
            if self._depth == 0 and self._cm is not None:
                cm, self._cm = self._cm, None
                cm.__exit__(exc_type, exc, tb)
        finally:
            self._rlock.release()
        return False


_COMMIT_LOCKS_GUARD = threading.Lock()
_COMMIT_LOCKS: dict[str, _TableCommitLock] = {}


def _commit_lock(root: str) -> _TableCommitLock:
    key = os.path.realpath(root)
    with _COMMIT_LOCKS_GUARD:
        lk = _COMMIT_LOCKS.get(key)
        if lk is None:
            lk = _COMMIT_LOCKS[key] = _TableCommitLock(key)
        return lk


def _atomic_write(path: str, data: str) -> None:
    lake_io.get_backend().atomic_write(path, data)


class LakeTable:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        # Write-audit-publish: when set (Iceberg's spark.wap.id), every
        # commit through this handle STAGES its snapshot — the manifest
        # file is written but the branch pointer does not move — until
        # publish_wap() fast-forwards (or cherry-picks) it onto main.
        self.wap_id: str | None = None

    # ---------- lifecycle ----------
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        schema: T.StructType,
        key_cols: list[str],
        num_buckets: int = 64,
        resolve_order: list[str] | None = None,
        stats_cols: list[str] | None = None,
        bloom_cols: list[str] | None = None,
        shard_buckets: int | None = None,
        bucket_cols: list[str] | None = None,
    ) -> "LakeTable":
        """``resolve_order`` (e.g. ``["commit", "lsn"]``) opts the
        table into event-order MoR resolution: merged reads pick each
        key's winner by max (resolve_order..., apply sequence), making
        out-of-order delta delivery unable to regress a key. The
        columns must exist in ``schema`` and be non-null on every
        written row (they are the event's order tuple).

        ``stats_cols`` opts the table into file-level min/max/null
        statistics (the Iceberg manifest bounds analog): every commit
        harvests those columns' bounds from the new files' parquet
        footers, and ``read(filters=...)`` skips files the bounds
        prove empty. Pick the columns queries range over (event time,
        LSN, a monotone id) — not every payload column.

        ``bloom_cols`` opts the table into per-file BLOOM filters (the
        Delta bloom-filter-index analog): equality/IN conjuncts skip
        files whose bloom proves the value absent — the point-lookup
        pruning min/max can't give on high-cardinality keys whose
        range every file spans. Pick the columns point reads probe
        (primary keys); building them reads those columns once per
        commit, so it's a serving-table feature, not a default.

        ``shard_buckets`` opts the table into SHARDED manifest storage
        (see :class:`Manifest`): per-bucket metadata lives in
        content-addressed shard files of that many consecutive
        buckets each, and a commit rewrites only the shards it
        touches. The dial for very large layouts (10^3+ buckets);
        small tables should leave it None."""
        os.makedirs(os.path.join(root, "_manifests"), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        t = cls(spark, root)
        if t.current_version() is not None:
            raise FileExistsError(f"table already exists at {root}")
        names = {f.name for f in schema.fields}
        for c in resolve_order or ():
            if c not in names:
                raise ValueError(f"resolve_order column {c!r} not in schema")
        for c in stats_cols or ():
            if c not in names:
                raise ValueError(f"stats_cols column {c!r} not in schema")
        for c in bloom_cols or ():
            if c not in names:
                raise ValueError(f"bloom_cols column {c!r} not in schema")
        if shard_buckets is not None and shard_buckets < 1:
            raise ValueError(f"shard_buckets must be >= 1, got {shard_buckets}")
        if bucket_cols is not None:
            if not bucket_cols:
                raise ValueError("bucket_cols must be a non-empty subset of key_cols")
            bad = [c for c in bucket_cols if c not in key_cols]
            if bad:
                raise ValueError(
                    f"bucket_cols must be a subset of key_cols={list(key_cols)}; "
                    f"not keys: {bad}"
                )
            if list(bucket_cols) == list(key_cols):
                bucket_cols = None  # full-key routing is the default form
        m = Manifest(
            version=0,
            parent=None,
            schema_json=json.dumps(schema.jsonValue()),
            num_buckets=num_buckets,
            key_cols=list(key_cols),
            files={},
            row_counts={},
            summary={"last_epoch": -1},
            resolve_order=list(resolve_order or ()),
            stats_cols=list(stats_cols or ()),
            bloom_cols=list(bloom_cols or ()),
            shard_buckets=shard_buckets,
            bucket_cols=list(bucket_cols or ()),
        )
        t._write_manifest(m, expected_parent=None)
        return t

    @classmethod
    def load(cls, spark: SparkSession, root: str) -> "LakeTable":
        t = cls(spark, root)
        if t.current_version() is None:
            raise FileNotFoundError(f"no table at {root}")
        return t

    @classmethod
    def exists(cls, root: str) -> bool:
        return os.path.exists(os.path.join(root, "_manifests", "_current"))

    # ---------- metadata ----------
    def _manifest_dir(self) -> str:
        return os.path.join(self.root, "_manifests")

    def current_version(self) -> int | None:
        ptr = os.path.join(self._manifest_dir(), "_current")
        if not os.path.exists(ptr):
            return None
        with open(ptr) as fh:
            return int(fh.read().strip())

    def manifest(self, version: int | str | None = None) -> Manifest:
        """Load a snapshot manifest: the current one, an explicit
        version number, or a named ref (tag) — every read surface
        (``read``/``lookup``/``changes``/``files_df``) resolves through
        here, so tags — and staged WAP ids, for audit reads — work as
        AS-OF targets everywhere."""
        if isinstance(version, str):
            try:
                version = self.ref_version(version)
            except KeyError:
                version = self.wap_version(version)
        v = self.current_version() if version is None else version
        if v is None:
            raise FileNotFoundError("table has no committed snapshot")
        return load_manifest(self._manifest_dir(), v)

    @property
    def last_epoch(self) -> int:
        return self.manifest().last_epoch

    def _write_manifest(self, m: Manifest, expected_parent: int | None) -> int:
        """CAS commit. Returns the FINAL snapshot version — callers
        must use the return value, not ``m.version``: staged WAP
        snapshots occupy version numbers, so the number a caller
        computed as ``parent+1`` may be re-allocated under the lock.
        With ``self.wap_id`` set the snapshot is staged (manifest file
        written, pointer untouched) under that id."""
        # transient hint from commit()/commit_deltas(): buckets whose
        # metadata changed vs the parent — lets the sharded writer
        # reuse the parent's shard references for everything else
        # without serializing the whole table's metadata. None = no
        # hint (create/rebucket/rollback): serialize every shard.
        dirty = getattr(m, "_dirty_buckets", None)
        with _commit_lock(self.root):  # check + swap = one CAS
            cur = self.current_version()
            if cur != expected_parent:
                raise CommitConflictError(
                    f"commit conflict: current={cur}, expected parent={expected_parent}"
                )
            vs = self.versions()
            nxt = (max(vs) + 1) if vs else 0
            if nxt > m.version:
                m = _dc_replace(m, version=nxt)
            if m.shard_buckets:
                body = json.dumps(
                    {**m._scalar_dict(), "shards": self._write_shards(m, dirty)},
                    indent=1,
                )
            else:
                body = m.to_json()
            _atomic_write(
                os.path.join(self._manifest_dir(), f"v{m.version:08d}.json"), body
            )
            if self.wap_id is None:
                _atomic_write(os.path.join(self._manifest_dir(), "_current"), str(m.version))
            else:
                staged = self._wap_staged()
                if self.wap_id in staged:
                    raise ValueError(
                        f"wap id {self.wap_id!r} already has a staged snapshot "
                        f"v{staged[self.wap_id]} (publish or drop it first)"
                    )
                staged[self.wap_id] = m.version
                _atomic_write(self._wap_path(), json.dumps(staged, indent=1))
        return m.version

    def _snapshot_raw(self, version: int) -> dict:
        with open(os.path.join(self._manifest_dir(), f"v{version:08d}.json")) as fh:
            return json.load(fh)

    def _write_shards(self, m: Manifest, dirty: set[int] | None) -> dict[str, str]:
        """Write the shard files a sharded snapshot references and
        return its shard map (shard index -> filename). Shards are
        content-addressed (``shard-<sha16>.json`` of the
        sort_keys-canonical payload) and immutable: a shard whose
        content already exists is not rewritten, and a shard none of
        whose buckets are ``dirty`` reuses the PARENT's reference
        without even being serialized — so commit metadata cost is
        O(touched shards), not O(table). Crash-safe by construction:
        shard files land before the snapshot file, which lands before
        the pointer swap; a crash leaves unreferenced shard orphans
        that ``vacuum`` reclaims."""
        import hashlib

        parent_shards: dict[str, str] | None = None
        if dirty is not None and m.parent is not None:
            try:
                praw = self._snapshot_raw(m.parent)
                if praw.get("shard_buckets") == m.shard_buckets:
                    parent_shards = praw.get("shards")
            except FileNotFoundError:
                parent_shards = None
        dirty_shards = (
            {b // m.shard_buckets for b in dirty} if dirty is not None else None
        )
        shards: dict[str, str] = {}
        for si in range(m.num_shards()):
            if (
                parent_shards is not None
                and dirty_shards is not None
                and si not in dirty_shards
                and str(si) in parent_shards
            ):
                shards[str(si)] = parent_shards[str(si)]
                continue
            blob = json.dumps(m.shard_payload(si), sort_keys=True)
            name = f"shard-{hashlib.sha256(blob.encode()).hexdigest()[:16]}.json"
            path = os.path.join(self._manifest_dir(), name)
            if not os.path.exists(path):
                _atomic_write(path, blob)
            shards[str(si)] = name
        return shards

    # ---------- data ----------
    def bucket_expr(self, num_buckets: int | None = None, key_cols: list[str] | None = None):
        return bucket_expr_for(self.manifest(), num_buckets, key_cols)

    def read(
        self,
        buckets: list[int] | None = None,
        version: int | None = None,
        filters: list[tuple] | None = None,
    ) -> DataFrame:
        """Read the snapshot, optionally pruned to a bucket subset.

        The explicit manifest schema makes old files (written before a
        schema evolution) come back null-filled for new columns — the
        parquet reader's missing-column semantics.

        Buckets with pending merge-on-read deltas are merged at read
        time (base ⊕ ordered deltas, LWW per key, tombstones dropped)
        via :meth:`_read_merged_buckets`; delta-free buckets stay a
        plain parquet scan with full pushdown. A compacted or pure-CoW
        table therefore pays zero MoR read cost.

        ``filters`` is a list of conjuncts ``(col, op[, value])`` with
        op in {=, <, <=, >, >=, in, is_null, is_not_null}. Semantics
        are exactly ``read().filter(AND(conjuncts))`` — the manifest's
        per-file stats additionally let the scan SKIP base files whose
        [min, max, null_count] bounds prove the conjunction empty
        (Iceberg scan planning). MoR buckets are never file-pruned:
        their LWW resolution needs every image of a key, so they merge
        first and filter after — correctness over skipping. One safe
        exception: conjuncts on KEY columns push into the merge tasks'
        parquet reads (row-group pruning) — a key's columns are
        constant across all its images, so pre-filtering by key keeps
        every image of every surviving key and LWW is unaffected.
        """
        m = self.manifest(version)
        want = None if buckets is None else {str(b) for b in buckets}
        sel = [b for b in (set(m.files) | set(m.delta_files)) if want is None or b in want]
        delta_b = sorted(int(b) for b in sel if m.delta_files.get(b))
        base_only = [b for b in sel if not m.delta_files.get(b)]
        rel = [p for b in base_only for p in m.files.get(b, [])]
        key_safe = None
        if filters:
            rel = [
                p
                for p in rel
                if _file_may_match(
                    m.file_stats.get(p, {}), filters, m.file_blooms.get(p)
                )
            ]
            # key columns exist in every file (they predate any schema
            # evolution) and these ops map 1:1 onto pyarrow's filters
            key_safe = [
                _arrow_filter(f, m.schema[f[0]].dataType)
                for f in filters
                if f[0] in m.key_cols
                and f[1] in ("=", "==", "<", "<=", ">", ">=", "in")
            ] or None
        paths = [os.path.join(self.root, p) for p in rel]
        parts = []
        if paths:
            parts.append(self.spark.read.schema(m.schema).parquet(*paths))
        if delta_b:
            parts.append(self._read_merged_buckets(m, delta_b, prefilter=key_safe))
        if not parts:
            out = self.spark.createDataFrame([], m.schema)
        else:
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
        if filters:
            out = out.filter(_filters_to_column(filters))
        return out

    def plan_files(
        self,
        filters: list[tuple],
        buckets: list[int] | None = None,
        version: int | None = None,
    ) -> tuple[list[str], list[str]]:
        """Scan planning only: (kept, skipped) relative base-file paths
        for a filtered read — what Iceberg's planFiles reports. Lets
        tests and operators assert/observe skipping without reading
        data. MoR-bucket base files are always kept (see :meth:`read`).
        """
        m = self.manifest(version)
        want = None if buckets is None else {str(b) for b in buckets}
        kept: list[str] = []
        skipped: list[str] = []
        for b in set(m.files) | set(m.delta_files):
            if want is not None and b not in want:
                continue
            mor = bool(m.delta_files.get(b))
            for p in m.files.get(b, []):
                if not mor and not _file_may_match(
                    m.file_stats.get(p, {}), filters, m.file_blooms.get(p)
                ):
                    skipped.append(p)
                else:
                    kept.append(p)
        return sorted(kept), sorted(skipped)

    def _read_merged_buckets(
        self,
        m: Manifest,
        bucket_ids: list[int],
        prefilter: list[tuple] | None = None,
    ) -> DataFrame:
        """Merge-on-read scan of the buckets that carry delta files —
        the read half of the MoR contract (Iceberg v2 equality-delete
        apply, done storage-partitioned).

        Physical shape: :meth:`_map_units` over the bucket ids, each
        task resolving LWW locally with :func:`bucket_state_arrow`.
        Per key the winner is the row with the highest apply sequence
        (base = 0, deltas = manifest order); winners whose ``__op`` is
        the tombstone 'D' are dropped. Memory per task = one bucket's
        base+delta rows — the same ``num_buckets`` dial as the CoW
        blast radius, and reads never shuffle table data regardless of
        table size.

        ``prefilter`` (key-column conjuncts only — the caller
        guarantees LWW safety) is handed to the Arrow parquet reads,
        so a point lookup on a delta-carrying bucket decodes only the
        row groups whose stats can match instead of the whole bucket.
        """
        from pyspark.sql.pandas.types import to_arrow_schema

        keys = list(m.key_cols)
        resolve = list(m.resolve_order)
        pa_schema = to_arrow_schema(m.schema)
        file_plan = {b: unit_files(self.root, m, m.num_buckets, b) for b in bucket_ids}
        step = lambda b: bucket_state_arrow(  # noqa: E731
            *file_plan[b], keys, resolve, pa_schema, prefilter
        )
        return self._map_units(bucket_ids, step, m.schema)

    def _map_units(self, unit_ids: list[int], step, schema: T.StructType) -> DataFrame:
        """Run ``step(unit_id) -> pa.Table`` once per unit id inside
        executor tasks, exactly one unit per task: ``spark.range(0, n,
        1, n)`` gives task i the single row i, and the task runs
        ``step(unit_ids[i])`` from its closure. No exchange, no RDD —
        each task reads its unit's files itself (``mapInArrow``, zero
        pandas, so column types survive bit-exactly)."""
        if not unit_ids:
            return self.spark.createDataFrame([], schema)
        units = list(unit_ids)

        def run(batches):
            for batch in batches:
                for i in batch.column(0).to_pylist():
                    res = step(units[i])
                    if res.num_rows:
                        yield from res.to_batches()

        n = len(units)
        return self.spark.range(0, n, 1, n).mapInArrow(run, schema=schema)

    def lookup(self, key_values: list[tuple], version: int | None = None) -> DataFrame:
        """Keyed point read: the current rows for an explicit set of
        primary keys — the serving-path analog of otsreader's keyed
        GetRange (``OtsReaderSlaveProxy.java`` keyed scan), done with
        bucket pruning instead of an index: the requested keys hash to
        at most ``len(key_values)`` buckets, so the scan touches
        O(|touched buckets|) files regardless of table size, then a
        broadcast semi-join keeps exactly the requested keys.

        MoR-aware (goes through :meth:`read`, so pending deltas are
        merged and tombstoned keys correctly come back absent) and
        time-travel-aware (``version``). The key list becomes a typed
        Arrow table (:func:`rows_to_arrow`), which Spark plans as a
        ``LocalRelation``: the writer's own JVM bucket expression
        computes the bucket ids over it on the driver (never
        reimplemented in Python) and the semi-join broadcasts it, both
        without a Spark job. Building the lookup frame launches none.

        Beyond bucket pruning, the requested key VALUES are pushed as
        per-column ``IN`` literal predicates (a bounded point-lookup
        list): Catalyst pushes them to the parquet scan (row-group
        stats / dictionary pruning — surgical after a sorted
        compaction), and when the table keeps manifest stats on a key
        column they also skip whole files. The per-column conjunction
        is a superset of the requested tuples; the broadcast semi-join
        stays the exact arbiter.
        """
        m = self.manifest(version)
        # tuples are positional: field order must follow key_cols, not
        # the table schema
        by_name = {f.name: f for f in m.schema.fields}
        kschema = T.StructType([by_name[k] for k in m.key_cols])
        if not key_values:
            return self.spark.createDataFrame([], m.schema)
        kdf = self.spark.createDataFrame(rows_to_arrow(key_values, kschema), kschema)
        # a projection of a LocalRelation folds into it: collected on
        # the driver, no job; bounded by |key_values|
        bs = sorted({r[0] for r in kdf.select(bucket_expr_for(m)).collect()})
        kflt = [
            (k, "in", sorted({kv[i] for kv in key_values}))
            for i, k in enumerate(m.key_cols)
        ]
        return self.read(buckets=bs, version=version, filters=kflt).join(
            F.broadcast(kdf), on=list(m.key_cols), how="left_semi"
        )

    def changes(
        self,
        from_version: int,
        to_version: int | None = None,
        include_preimage: bool = False,
    ) -> DataFrame:
        """Change data feed between two snapshots (the Delta CDF /
        Iceberg changelog-scan surface for this table format): one row
        per key whose state differs, with ``_change_type`` in
        {insert, update, delete}. Inserts/updates carry the TO-side
        image; deletes carry the FROM-side image.

        ``include_preimage=True`` switches updates to the Delta CDF
        two-row form — ``update_preimage`` (FROM-side image) followed
        by ``update_postimage`` (TO-side) — which is what retraction
        consumers (incremental aggregate maintenance, downstream
        signed-delta sinks) need: every feed row then carries weight
        +1 (insert / update_postimage) or -1 (delete /
        update_preimage), and any sum/count decomposable aggregate of
        the table state is exactly the running signed sum of the feed.

        Physical shape: no join and no exchange of table data. Both
        snapshots share one key hash, so each task diffs one bucket
        with :func:`unit_changes_arrow` (the kernel the replica repair
        and the ``lake_changes`` stream run too), one bucket per task
        (:meth:`_map_units`).

        Bucket-pruned from the manifests alone: data files are
        immutable, so a bucket whose base and delta file lists are
        IDENTICAL in both snapshots cannot contain a changed key — the
        diff reads only buckets the manifests prove touched. A small
        epoch's change feed over a 10^10-row table therefore costs the
        touched buckets, not the table (the same O(changed data)
        property the merge has). Across a rebucket the diff reads every
        bucket in ``gcd(n_from, n_to)`` tasks, each holding the buckets
        that are congruent modulo the gcd on both sides: the engine's
        adaptive rebucket doubles, so that is the old bucket count, but
        a manual :meth:`rebucket` to a coprime count diffs the whole
        table in one task.
        """
        mf = self.manifest(from_version)
        m = self.manifest(to_version)
        buckets = self._changed_buckets_between(mf, m)
        diff = self._snapshot_diff(self.root, mf, m, buckets, include_preimage)
        return diff.drop("_commit_version")

    def _snapshot_diff(self, old_root, mo, mn, buckets=None, include_preimage=False) -> DataFrame:
        """The one snapshot diff: rows (``mn``'s schema + ``_change_type``
        + ``_commit_version``) that turn snapshot ``mo`` of the table at
        ``old_root`` into snapshot ``mn`` of this table, computed in
        ``g = gcd(n_old, n_new)`` units (:func:`unit_files`), one
        :func:`unit_changes_arrow` call each. ``buckets`` (equal layouts
        only) restricts the diff to those units."""
        import math

        from pyspark.sql.pandas.types import to_arrow_schema

        routing = [(list(x.key_cols), list(x.bucket_cols)) for x in (mo, mn)]
        if routing[0] != routing[1]:
            raise ValueError(
                "cannot diff snapshots that route keys differently: (key_cols, "
                f"bucket_cols) {routing[0]} vs {routing[1]}"
            )
        g = math.gcd(mo.num_buckets, mn.num_buckets)
        units = list(range(g)) if buckets is None else buckets
        side = lambda root, m, u: (*unit_files(root, m, g, u), m.resolve_order)  # noqa: E731
        plan = {u: (side(old_root, mo, u), side(self.root, mn, u)) for u in units}
        args = (mn.key_cols, to_arrow_schema(mn.schema), mn.version, include_preimage)
        schema = mn.schema.add("_change_type", "string").add("_commit_version", "long")
        return self._map_units(units, lambda u: unit_changes_arrow(*plan[u], *args), schema)

    def _changed_buckets_between(
        self, mf: "Manifest", m: "Manifest"
    ) -> list[int] | None:
        """Buckets that can contain a changed key between two
        snapshots, proven from manifests alone; None = cannot prove
        (rebucket in the window), meaning read everything.

        Walks the PARENT CHAIN from ``m`` back to ``mf`` so that
        layout-only commits (``operation`` "compact" or "rebucket") in
        the window contribute nothing — without this, a nightly
        compaction rewrites every file list and the next incremental
        sync of a 10^10-row table would re-read the world to find zero
        changes. Falls back to the direct file-list compare
        (conservative, still correct) when the walk needs an expired
        manifest or ``mf`` is not an ancestor of ``m``."""
        if mf.num_buckets != m.num_buckets:
            return None
        try:
            lineage = manifest_lineage(self.manifest, mf.version, m)
        except FileNotFoundError:
            lineage = None  # window history expired
        if lineage is None:
            return manifest_changed_buckets(mf, m)
        changed: set[int] = set()
        for p, c in lineage:
            if c.operation in ("compact", "rebucket"):
                continue
            if p.num_buckets != m.num_buckets or c.num_buckets != m.num_buckets:
                # a data commit (incl. a rollback across a rebucket)
                # under a different bucket layout than the endpoints:
                # its bucket ids are incomparable
                return None
            changed.update(manifest_changed_buckets(p, c))
        return sorted(changed)

    def files_df(self, version: int | None = None) -> DataFrame:
        """Files metadata table (the Iceberg ``files`` metadata-table
        surface): one row per live data file of the snapshot — bucket,
        kind ('base' or 'delta'), apply sequence (deltas only; the MoR
        resolution order), relative path, and the manifest's harvested
        stats as a ``col -> [min, max, null_count]`` JSON string when
        the table keeps stats. Metadata-only: built from the manifest,
        no data or footer reads — at any table size this is
        O(live files) driver memory, the same as the manifest itself.
        """
        m = self.manifest(version)
        rows = []
        for b in sorted(set(m.files) | set(m.delta_files), key=int):
            for p in m.files.get(b, []):
                st = m.file_stats.get(p)
                rows.append(
                    (int(b), "base", None, p, json.dumps(st) if st else None)
                )
            for i, p in enumerate(m.delta_files.get(b, [])):
                rows.append((int(b), "delta", i + 1, p, None))
        return self.spark.createDataFrame(
            rows,
            "bucket int, kind string, seq int, path string, stats_json string",
        )

    def new_txn_dir(self) -> str:
        d = os.path.join(self.root, "data", f"txn-{uuid.uuid4().hex[:12]}")
        os.makedirs(d, exist_ok=True)
        return d

    def _file_index(
        self, m: Manifest, files: dict[str, list[str]]
    ) -> tuple[dict[str, dict], dict[str, dict]]:
        """File stats and blooms of every data file of a new snapshot
        (``files``: bucket -> paths relative to the table root). A file
        that the parent snapshot ``m`` already lists keeps its entries
        unread (data files are immutable); the rest are harvested, the
        blooms in ONE executor-parallel pass (per-bucket calls would be
        one tiny job each)."""
        live = [p for fl in files.values() for p in fl]
        known = {p for fl in m.files.values() for p in fl}
        stats = {p: m.file_stats[p] for p in live if p in m.file_stats}
        blooms = {p: m.file_blooms[p] for p in live if p in m.file_blooms}
        todo = [os.path.join(self.root, p) for p in live if p not in known]
        if m.stats_cols:
            for f, st in harvest_file_stats(todo, m.stats_cols).items():
                stats[os.path.relpath(f, self.root)] = st
        if m.bloom_cols:
            for f, bl in harvest_file_blooms(todo, m.bloom_cols, self.spark).items():
                blooms[os.path.relpath(f, self.root)] = bl
        return stats, blooms

    def commit(
        self,
        replaced_buckets: list[int],
        new_files: dict[int, list[str]],
        new_row_counts: dict[int, int],
        schema: T.StructType | None = None,
        summary: dict | None = None,
        base_version: int | None = None,
        operation: str = "",
    ) -> int:
        """Commit a new snapshot: replaced buckets take the new file
        lists; untouched buckets carry over from the parent. Atomic.

        A replaced bucket's pending MoR delta files are cleared from
        the new snapshot — a rewrite produced its files from the
        MERGED read, so the deltas are baked in (this is exactly
        Iceberg's rewrite_data_files dropping applied delete files).

        ``base_version`` anchors optimistic concurrency: if another
        commit landed since the writer read that version, raise
        CommitConflictError instead of silently clobbering it.
        """
        if base_version is not None and self.current_version() != base_version:
            raise CommitConflictError(
                f"commit conflict: table moved from v{base_version} "
                f"to v{self.current_version()} since this merge started"
            )
        parent = self.manifest()
        files = dict(parent.files)
        counts = dict(parent.row_counts)
        dfiles = dict(parent.delta_files)
        dcounts = dict(parent.delta_row_counts)
        for b in replaced_buckets:
            files.pop(str(b), None)
            counts.pop(str(b), None)
            dfiles.pop(str(b), None)
            dcounts.pop(str(b), None)
        for b, fs in new_files.items():
            rel = [os.path.relpath(f, self.root) for f in fs]
            if rel:
                files[str(b)] = rel
                counts[str(b)] = int(new_row_counts.get(b, 0))
        stats, blooms = self._file_index(parent, files)
        m = _dc_replace(
            parent,
            version=parent.version + 1,
            parent=parent.version,
            schema_json=json.dumps((schema or parent.schema).jsonValue()),
            files=files,
            row_counts=counts,
            summary={**parent.summary, **(summary or {})},
            delta_files=dfiles,
            delta_row_counts=dcounts,
            file_stats=stats,
            file_blooms=blooms,
            operation=operation,
        )
        m._dirty_buckets = {int(b) for b in replaced_buckets} | {
            int(b) for b in new_files
        }
        return self._write_manifest(m, expected_parent=parent.version)

    def commit_deltas(
        self,
        new_delta_files: dict[int, list[str]],
        new_delta_rows: dict[int, int],
        schema: T.StructType | None = None,
        summary: dict | None = None,
        base_version: int | None = None,
    ) -> int:
        """Commit a merge-on-read epoch: APPEND each bucket's new delta
        files to its ordered delta list, leaving every base file
        untouched. The write cost of the snapshot is O(epoch batch) —
        independent of table size — which is the whole point of MoR;
        readers pay the merge until ``compact()`` folds the deltas
        down. Atomic pointer swap, same two-phase crash contract as
        :meth:`commit`."""
        if base_version is not None and self.current_version() != base_version:
            raise CommitConflictError(
                f"commit conflict: table moved from v{base_version} "
                f"to v{self.current_version()} since this merge started"
            )
        parent = self.manifest()
        dfiles = dict(parent.delta_files)
        dcounts = dict(parent.delta_row_counts)
        for b, fs in new_delta_files.items():
            rel = [os.path.relpath(f, self.root) for f in fs]
            if rel:
                dfiles[str(b)] = [*dfiles.get(str(b), []), *rel]
                dcounts[str(b)] = int(dcounts.get(str(b), 0)) + int(
                    new_delta_rows.get(b, 0)
                )
        m = _dc_replace(
            parent,
            version=parent.version + 1,
            parent=parent.version,
            schema_json=json.dumps((schema or parent.schema).jsonValue()),
            summary={**parent.summary, **(summary or {})},
            delta_files=dfiles,
            delta_row_counts=dcounts,
            operation="",
        )
        m._dirty_buckets = {int(b) for b in new_delta_files}
        return self._write_manifest(m, expected_parent=parent.version)

    def total_rows(self) -> int:
        return sum(self.manifest().row_counts.values())

    def _folded_delete_ord(self, m: "Manifest", buckets) -> list | None:
        """Max resolve-order among MoR tombstones a rewrite is about to
        fold away (``buckets=None`` → all), max'd with any previously
        recorded fold. Folding a tombstone ends its retention window:
        an event OLDER than the folded delete arriving later could
        silently resurrect the key, so the fold boundary persists in
        the summary (``max_folded_delete_ord``) for the feed-order
        guard (``ReplayEngine._check_feed_order``) to check against."""
        prev = m.summary.get("max_folded_delete_ord")
        prev = list(prev) if prev is not None else None
        if not m.resolve_order:
            return prev
        keys = m.delta_files if buckets is None else {
            str(b): m.delta_files.get(str(b), []) for b in buckets
        }
        dpaths = [os.path.join(self.root, p) for fs in keys.values() for p in fs]
        if not dpaths:
            return prev
        row = (
            self.spark.read.parquet(*dpaths)
            .filter(F.col("__op") == "D")
            .agg(F.max(F.struct(*[F.col(c) for c in m.resolve_order])))
            .first()[0]
        )
        folded = list(row) if row is not None else None
        if prev is not None and (folded is None or folded < prev):
            return prev
        return folded

    def compact(
        self,
        buckets: list[int] | None = None,
        target_file_rows: int | None = None,
        sort_cols: list[str] | None = None,
        zorder_cols: list[str] | None = None,
    ) -> int:
        """Maintenance: rewrite each (selected) bucket's files into a
        clean sorted layout, commit as a new snapshot. The visible data
        is unchanged — only the physical layout. Iceberg's
        rewrite_data_files, for two kinds of bucket: multi-file CoW
        buckets get a fresh layout, and merge-on-read buckets have
        their pending deltas FOLDED into a fresh base (the rewrite
        reads the merged state, and the commit clears the applied
        delta files), which resets MoR read amplification to zero.
        Returns the new snapshot version.

        Physical shape: one Spark job of one stage, one task per
        rewritten bucket (:meth:`_map_units`). Each task resolves and
        sorts its bucket in Arrow and writes its files itself
        (:func:`compact_bucket_arrow`); no table row passes through an
        exchange or Spark's writer. Memory per task is one bucket —
        the bound of a MoR read or an spj merge of a bucket with
        deltas.

        ``sort_cols`` + ``target_file_rows`` together are the Iceberg
        sort-order compaction: rows sort by ``sort_cols`` within each
        bucket (default: the key columns) and the writer rolls over a
        new file every ``target_file_rows`` rows, so a bucket's files
        carry DISJOINT sort-column ranges. With ``stats_cols`` on the
        sort column, a range-filtered read then skips all but ~one file
        per bucket — at 100 TB the difference between a bucket scan and
        a file read. Without ``target_file_rows`` each bucket comes
        back as a single file (the pre-existing behavior).

        ``zorder_cols`` (mutually exclusive with ``sort_cols``) sorts
        by the interleaved-bit z-value of 2+ numeric columns instead —
        the Delta OPTIMIZE ZORDER BY analog: files end up clustered in
        EVERY listed dimension at once, so range reads on any single
        one of them skip files (a lexicographic sort only serves its
        leading column). Column bounds for the binning come free from
        the manifest when ``stats_cols`` covers the z-order columns,
        else one min/max aggregation of the data being rewritten. The
        z-value only orders the rows; it is not written.
        """
        m = self.manifest()
        names = {f.name for f in m.schema.fields}
        if sort_cols and zorder_cols:
            raise ValueError("sort_cols and zorder_cols are mutually exclusive")
        if zorder_cols is not None and len(zorder_cols) < 2:
            raise ValueError("zorder_cols needs >= 2 columns (use sort_cols for 1)")
        for c in (*(sort_cols or ()), *(zorder_cols or ())):
            if c not in names:
                raise ValueError(f"sort/zorder column {c!r} not in schema")
        for c in zorder_cols or ():
            dt = m.schema[c].dataType
            if not isinstance(dt, T.NumericType):
                raise ValueError(
                    f"zorder_cols must be numeric; {c!r} is {dt.simpleString()} "
                    "(bin strings first, e.g. via F.hash)"
                )
        if target_file_rows is not None and target_file_rows < 1:
            raise ValueError("target_file_rows must be >= 1")
        cand = (
            buckets
            if buckets is not None
            else sorted({int(x) for x in m.files} | {int(x) for x in m.delta_files})
        )
        todo = [
            b
            for b in cand
            if len(m.files.get(str(b), [])) > 1
            or m.delta_files.get(str(b))
            or target_file_rows is not None
        ]
        if not todo:
            return m.version
        bounds = self._zorder_bounds(m, zorder_cols, todo) if zorder_cols else None
        frame = self.compact_frame(
            m, todo, self.new_txn_dir(), list(zorder_cols or sort_cols or m.key_cols),
            bounds, target_file_rows,
        )
        new_files: dict[int, list[str]] = {}
        new_counts: dict[int, int] = {}
        for r in frame.collect():  # bounded: one row per written file
            new_files.setdefault(r["bucket"], []).append(r["file"])
            new_counts[r["bucket"]] = new_counts.get(r["bucket"], 0) + r["rows"]
        summary: dict = {"compacted": len(todo)}
        folded = self._folded_delete_ord(m, todo)
        if folded is not None:
            summary["max_folded_delete_ord"] = folded
        return self.commit(
            replaced_buckets=todo,
            new_files=new_files,
            new_row_counts=new_counts,
            summary=summary,
            base_version=m.version,
            # layout-only: visible state provably unchanged — lets
            # change-feed consumers skip diffing this commit entirely
            operation="compact",
        )

    def compact_frame(
        self,
        m: Manifest,
        todo: list[int],
        txn: str,
        sort_cols: list[str],
        zorder_bounds: dict[str, tuple] | None = None,
        target_file_rows: int | None = None,
    ) -> DataFrame:
        """The plan :meth:`compact` collects: :meth:`_map_units` over
        ``todo``, task i rewriting bucket ``todo[i]`` of snapshot ``m``
        into ``txn`` with :func:`compact_bucket_arrow`, one
        ``(bucket, rows, file)`` row per written file."""
        from pyspark.sql.pandas.types import to_arrow_schema

        plan = {b: unit_files(self.root, m, m.num_buckets, b) for b in todo}
        args = (
            list(m.key_cols), list(m.resolve_order), to_arrow_schema(m.schema),
            sort_cols, zorder_bounds, target_file_rows,
        )

        def step(b):
            import pyarrow as pa

            out = compact_bucket_arrow(*plan[b], *args, os.path.join(txn, f"b{b:05d}"))
            return pa.table({
                "bucket": pa.array([b] * len(out), pa.int32()),
                "rows": pa.array([r for _, r in out], pa.int64()),
                "file": pa.array([f for f, _ in out], pa.string()),
            })

        return self._map_units(todo, step, T.StructType([
            T.StructField("bucket", T.IntegerType()),
            T.StructField("rows", T.LongType()),
            T.StructField("file", T.StringType()),
        ]))

    def _zorder_bounds(self, m: Manifest, cols: list[str], todo: list[int]) -> dict[str, tuple]:
        """Per-column [min, max] binning bounds for :meth:`compact`'s
        z-order mode: from the manifest's file stats when they cover
        every file being rewritten (zero extra work), else from one
        min/max aggregation of the buckets being rewritten."""
        bounds: dict[str, tuple] = {}
        todo_files = [p for b in todo for p in m.files.get(str(b), [])]
        mor = any(m.delta_files.get(str(b)) for b in todo)
        manifest_ok = (
            not mor
            and todo_files
            and all(c in m.stats_cols for c in cols)
            and all(
                c in m.file_stats.get(p, {})
                and m.file_stats[p][c][0] is not None
                for p in todo_files
                for c in cols
            )
        )
        if manifest_ok:
            for c in cols:
                bounds[c] = (
                    min(m.file_stats[p][c][0] for p in todo_files),
                    max(m.file_stats[p][c][1] for p in todo_files),
                )
        else:
            row = self.read(buckets=todo).agg(
                *[F.min(c).alias(f"mn_{i}") for i, c in enumerate(cols)],
                *[F.max(c).alias(f"mx_{i}") for i, c in enumerate(cols)],
            ).collect()[0]
            for i, c in enumerate(cols):
                mn, mx = row[f"mn_{i}"], row[f"mx_{i}"]
                if mn is None or mx is None:
                    mn = mx = 0
                bounds[c] = (mn, mx)
        return bounds

    def rebucket(self, new_num_buckets: int) -> int:
        """Bucket-count evolution (the Iceberg partition-spec-evolution
        analog for this format): rewrite the table under a new key-hash
        bucket count and commit it as one snapshot. The dial that keeps
        CoW blast radius and per-task merge memory bounded as a table
        grows — a stream that starts at 64 buckets and reaches 10^9
        keys rebuckets to O(10^3-10^4) without downtime: readers keep
        the old snapshot until the atomic pointer swap, and the epoch
        watermark carries over so replay/resume is unaffected.

        One full-table rewrite, the same cost as a full compaction
        (:meth:`rebucket_frame`). Returns the new snapshot version.
        """
        if new_num_buckets < 1:
            raise ValueError("new_num_buckets must be >= 1")
        m = self.manifest()
        if new_num_buckets == m.num_buckets:
            return m.version
        files: dict[str, list[str]] = {}
        counts: dict[str, int] = {}
        frame = self.rebucket_frame(m, new_num_buckets, self.new_txn_dir())
        for r in frame.collect():  # bounded: one row per non-empty new bucket
            files[str(r["bucket"])] = [os.path.relpath(r["file"], self.root)]
            counts[str(r["bucket"])] = int(r["rows"])
        stats, blooms = self._file_index(m, files)
        nm = _dc_replace(
            m,
            version=m.version + 1,
            parent=m.version,
            num_buckets=new_num_buckets,
            files=files,
            row_counts=counts,
            summary={
                **m.summary,
                "rebucketed_from": m.num_buckets,
                # a rebucket folds ALL pending deltas (read() above is
                # the merged view; no delta_files carry over) — record
                # the retention-window boundary like compact() does
                **(
                    {"max_folded_delete_ord": f}
                    if (f := self._folded_delete_ord(m, None)) is not None
                    else {}
                ),
            },
            delta_files={},
            delta_row_counts={},
            operation="rebucket",
            file_stats=stats,
            file_blooms=blooms,
        )
        return self._write_manifest(nm, expected_parent=m.version)

    def rebucket_frame(self, m: Manifest, new_num_buckets: int, txn: str) -> DataFrame:
        """The plan :meth:`rebucket` collects, as one job of the lake's
        per-bucket write kernel (``merge.aligned_bucket_apply``): the
        merged read of snapshot ``m`` -> one exchange
        ``repartitionById(new_num_buckets, __b)`` -> one task per
        non-empty new bucket, which sorts its rows by key in Arrow and
        writes them as ``txn/b<bucket>.parquet``
        (:func:`write_parquet_atomic`). One ``(bucket, rows, file)``
        row per written file."""
        from pyspark.sql.pandas.types import to_arrow_schema

        from datax_spark.lake.merge import aligned_bucket_apply

        keys = list(m.key_cols)
        pa_schema = to_arrow_schema(m.schema)

        def write_bucket(part):
            b = int(part.column("__b")[0].as_py())
            part = conform_arrow(part.take(spark_sort_indices(part, keys)), pa_schema)
            final = write_parquet_atomic(part, os.path.join(txn, f"b{b:05d}.parquet"))
            return [{"bucket": b, "rows": part.num_rows, "file": final}]

        routed = (
            self.read(version=m.version)
            .withColumn("__b", bucket_expr_for(m, num_buckets=new_num_buckets))
            .repartitionById(new_num_buckets, "__b")
        )
        return aligned_bucket_apply(
            routed, write_bucket, new_num_buckets,
            schema="bucket int, rows long, file string",
        )

    def versions(self) -> list[int]:
        """All snapshot versions that still have a manifest, ascending."""
        out = []
        for fn in os.listdir(self._manifest_dir()):
            if fn.startswith("v") and fn.endswith(".json"):
                out.append(int(fn[1:-5]))
        return sorted(out)

    # ---------- refs (named snapshots) ----------
    def _refs_path(self) -> str:
        return os.path.join(self._manifest_dir(), "_refs.json")

    def refs(self) -> dict[str, int]:
        """Named snapshot refs (the Iceberg tag surface): name ->
        version. Tagged snapshots are pinned — ``expire_snapshots``
        never retires them, so ``vacuum`` keeps their data files and
        reads through a tag stay valid across retention cycles."""
        if not os.path.exists(self._refs_path()):
            return {}
        with open(self._refs_path()) as fh:
            return {k: int(v) for k, v in json.load(fh).items()}

    def ref_version(self, name: str) -> int:
        refs = self.refs()
        if name not in refs:
            raise KeyError(f"no ref named {name!r} (have: {sorted(refs)})")
        return refs[name]

    def tag(self, name: str, version: int | None = None) -> int:
        """Pin a snapshot under a name (Iceberg ``create_tag``).
        Defaults to the current snapshot. Re-tagging an existing name
        moves it. Returns the tagged version."""
        with _commit_lock(self.root):
            v = self.current_version() if version is None else int(version)
            if v not in self.versions():
                raise ValueError(f"cannot tag {name!r}: no snapshot v{v}")
            refs = self.refs()
            refs[name] = v
            _atomic_write(self._refs_path(), json.dumps(refs, indent=1))
        return v

    def drop_tag(self, name: str) -> None:
        with _commit_lock(self.root):
            refs = self.refs()
            if name not in refs:
                raise KeyError(f"no ref named {name!r}")
            del refs[name]
            _atomic_write(self._refs_path(), json.dumps(refs, indent=1))

    # ---------- write-audit-publish (staged snapshots) ----------
    def _wap_path(self) -> str:
        return os.path.join(self._manifest_dir(), "_wap.json")

    def _wap_staged(self) -> dict[str, int]:
        if not os.path.exists(self._wap_path()):
            return {}
        with open(self._wap_path()) as fh:
            return {k: int(v) for k, v in json.load(fh).items()}

    def wap_version(self, wap_id: str) -> int:
        """Version of the snapshot staged under ``wap_id`` — the audit
        target: ``read(version=table.wap_version(id))`` (or just
        ``read(version=id)``) sees the candidate state while main keeps
        serving the published snapshot."""
        staged = self._wap_staged()
        if wap_id not in staged:
            raise KeyError(f"no staged snapshot for wap id {wap_id!r} (have: {sorted(staged)})")
        return staged[wap_id]

    def publish_wap(self, wap_id: str) -> int:
        """Publish a staged snapshot (Iceberg ``cherrypick_snapshot``
        on a WAP-staged commit). Fast path: if main has not moved since
        the snapshot was staged, the publish is a pointer fast-forward
        — zero data work. If main HAS moved and the staged snapshot is
        a pure MoR delta append (no base-file changes vs its parent),
        its new delta files are re-applied onto the current head — the
        append cherry-pick Iceberg allows; event-order ``resolve_order``
        tables keep LWW exact under the re-ordering, apply-seq tables
        inherit the head's ordering. Any other divergence raises
        CommitConflictError: re-run the write against the new head
        (CoW rewrites bake parent images into their files, so
        re-pointing them would silently drop the interleaved commit).
        Returns the published main version."""
        with _commit_lock(self.root):
            v = self.wap_version(wap_id)
            m = self.manifest(v)
            cur = self.current_version()
            staged = self._wap_staged()
            if cur == m.parent:
                _atomic_write(os.path.join(self._manifest_dir(), "_current"), str(v))
                del staged[wap_id]
                _atomic_write(self._wap_path(), json.dumps(staged, indent=1))
                return v
            parent = self.manifest(m.parent)
            delta_only = (
                m.files == parent.files
                and m.row_counts == parent.row_counts
                and m.num_buckets == parent.num_buckets
                and all(
                    m.delta_files.get(b, [])[: len(fs)] == fs
                    for b, fs in parent.delta_files.items()
                )
            )
            if not delta_only:
                raise CommitConflictError(
                    f"cannot publish wap {wap_id!r}: main moved v{m.parent}->v{cur} "
                    "and the staged snapshot rewrites base files (re-stage against "
                    "the new head)"
                )
            head = self.manifest()
            if m.schema_json != head.schema_json or m.num_buckets != head.num_buckets:
                raise CommitConflictError(
                    f"cannot publish wap {wap_id!r}: schema/bucket layout changed "
                    "under the staged delta append"
                )
            new_deltas = {
                int(b): [
                    os.path.join(self.root, p)
                    for p in fs[len(parent.delta_files.get(b, [])):]
                ]
                for b, fs in m.delta_files.items()
            }
            new_rows = {
                int(b): int(m.delta_row_counts.get(b, 0))
                - int(parent.delta_row_counts.get(b, 0))
                for b in m.delta_files
            }
            # commit through a clean handle: the caller's wap_id (if
            # any) must not re-stage the publish itself
            pub = LakeTable(self.spark, self.root)
            out = pub.commit_deltas(
                new_delta_files={b: fs for b, fs in new_deltas.items() if fs},
                new_delta_rows={b: n for b, n in new_rows.items() if n},
                summary={**m.summary, "cherry_picked_from": v},
                base_version=head.version,
            )
            del staged[wap_id]
            _atomic_write(self._wap_path(), json.dumps(staged, indent=1))
            # the staged manifest is superseded by the cherry-picked one
            os.remove(os.path.join(self._manifest_dir(), f"v{v:08d}.json"))
            return out

    def drop_wap(self, wap_id: str) -> None:
        """Abandon a staged snapshot: the audit failed. Its manifest is
        removed; data files it alone referenced become orphans that the
        next ``vacuum()`` reclaims."""
        with _commit_lock(self.root):
            staged = self._wap_staged()
            if wap_id not in staged:
                raise KeyError(f"no staged snapshot for wap id {wap_id!r}")
            v = staged.pop(wap_id)
            _atomic_write(self._wap_path(), json.dumps(staged, indent=1))
            os.remove(os.path.join(self._manifest_dir(), f"v{v:08d}.json"))

    def rollback(self, version: int | str) -> int:
        """Roll the table back to an earlier snapshot (Iceberg's
        ``rollback_to_snapshot``): commit a NEW snapshot whose entire
        content — file lists, row counts, pending MoR deltas, schema,
        bucket layout, file stats, and the summary's epoch watermark —
        is the target's. History is preserved (the rolled-past
        snapshots stay time-travelable until expired) and the commit
        goes through the same CAS pointer swap as any write, so a
        rollback races cleanly against concurrent committers.

        Because the ``last_epoch`` watermark reverts with the content,
        a ReplayEngine resumed on the rolled-back table re-consumes
        every epoch after the target and converges to the same final
        state — the CDC reset-and-replay story, with the exactly-once
        gate intact. Accepts a version number or a tag name."""
        t = self.manifest(version)
        cur = self.manifest()
        if t.version == cur.version:
            raise ValueError(f"table is already at snapshot v{t.version}")
        m = _dc_replace(
            t,
            version=cur.version + 1,
            parent=cur.version,
            summary={**t.summary, "rollback_of": t.version},
            operation="rollback",
        )
        return self._write_manifest(m, expected_parent=cur.version)

    def delete_where(
        self,
        filters: list[tuple] | None = None,
        condition=None,
        strategy: str = "spj",
    ) -> int:
        """Row-level predicate delete (the Iceberg/Delta ``DELETE FROM
        ... WHERE`` surface; retention sweeps, GDPR erasure). The
        matching rows' KEYS are collected distributed-side and applied
        as ordinary delete events through the engine's own MERGE, so
        the deletion is a first-class snapshot commit: it appears in
        the change feed as ``delete`` rows, incremental views retract,
        replicas converge, and time travel before the commit still
        sees the data (couple with ``expire_snapshots`` + ``vacuum``
        for physical erasure).

        ``filters`` takes the conjunct-tuple form of :meth:`read` —
        per-file [min,max,null_count] stats and key blooms SKIP files
        the predicate provably misses, so a retention sweep over a
        stats-indexed column scans the matching tail, not the table.
        ``condition`` accepts an arbitrary Column / SQL string instead
        (full scan of every bucket's data, no pruning — the predicate
        is opaque). Exactly one of the two.

        ``strategy``: ``"spj"`` (CoW rewrite of affected buckets,
        default; a bucket's pending MoR deltas are folded into its
        rewrite) or ``"mor"`` — O(matched keys) tombstone deltas, the
        right shape when a TTL sweep touches most buckets of a huge
        table and the rewrite should be deferred to compaction.

        Returns the number of rows deleted (0 = no commit made).
        """
        from datax_spark.lake.merge import check_strategy, merge_into

        check_strategy(strategy)
        if (filters is None) == (condition is None):
            raise ValueError("pass exactly one of filters= or condition=")
        m = self.manifest()
        if filters is not None:
            matched = self.read(filters=filters)
        else:
            cond = F.expr(condition) if isinstance(condition, str) else condition
            matched = self.read().filter(cond)
        # tombstones must carry the matched row's OWN resolve-order
        # column values: a MoR read resolves LWW winners by those
        # columns (NULLs sort last and would lose to the very base row
        # being deleted — a silent no-op delete); at equal order the
        # delta's higher sequence breaks the tie toward the tombstone
        carry = list(m.resolve_order or ())
        keys = matched.select(*m.key_cols, *carry).persist()
        try:
            n = keys.count()
            if n == 0:
                return 0
            null_payload = [
                F.lit(None).cast(f.dataType).alias(f.name)
                for f in m.schema.fields
                if f.name not in m.key_cols and f.name not in carry
            ]
            up = keys.select(
                *m.key_cols, *carry, *null_payload, F.lit("D").alias("__op")
            )
            pm = merge_into(
                self, up, op_col="__op", delete_op="D", strategy=strategy
            )
            pm.commit(
                summary={
                    "delete_where": str(
                        filters if filters is not None else condition
                    ),
                    "rows_deleted": n,
                }
            )
            return n
        finally:
            keys.unpersist()

    def update_where(
        self,
        assignments: dict[str, object],
        filters: list[tuple] | None = None,
        condition=None,
        strategy: str = "spj",
    ) -> int:
        """Row-level predicate update (the Iceberg/Delta ``UPDATE ...
        SET ... WHERE`` surface), the sibling of :meth:`delete_where`
        and the same shape: matching rows are re-emitted as upsert
        events through the engine's own MERGE, so the update is a
        first-class snapshot commit the change feed reports as
        ``update`` rows and downstream views/replicas absorb
        incrementally.

        ``assignments`` maps column name → new value: a Column, a SQL
        expression string, or a non-string literal. A plain string is
        ALWAYS parsed as a SQL expression (``{"lsn": "lsn + 1"}`` —
        expressions see the row's OLD values, SQL UPDATE semantics);
        to assign a string literal pass ``F.lit("archived")``. An
        expression string naming no known column fails analysis
        loudly rather than guessing.
        Key columns cannot be assigned — a key change is a delete +
        insert, which is a statement about identity the caller must
        make explicitly. Predicate forms and ``strategy`` as in
        :meth:`delete_where`. Returns rows updated (0 = no commit).
        """
        from pyspark.sql import Column

        from datax_spark.lake.merge import check_strategy, merge_into

        check_strategy(strategy)
        if (filters is None) == (condition is None):
            raise ValueError("pass exactly one of filters= or condition=")
        m = self.manifest()
        bad = set(assignments) & set(m.key_cols)
        if bad:
            raise ValueError(
                f"cannot assign key column(s) {sorted(bad)} — delete and "
                "re-insert to change a row's identity"
            )
        unknown = set(assignments) - {f.name for f in m.schema.fields}
        if unknown:
            raise ValueError(f"unknown column(s) {sorted(unknown)}")
        if filters is not None:
            matched = self.read(filters=filters)
        else:
            cond = F.expr(condition) if isinstance(condition, str) else condition
            matched = self.read().filter(cond)
        types = {f.name: f.dataType for f in m.schema.fields}

        def value_of(c: str):
            v = assignments[c]
            if isinstance(v, Column):
                raw = v
            elif isinstance(v, str):
                raw = F.expr(v)
            else:
                raw = F.lit(v)
            # SQL UPDATE semantics: an assignment value that cannot be
            # represented in the column's type FAILS the statement —
            # try_cast + assert, so a typo'd expression can never
            # silently NULL the column across every matched row
            # (plain .cast() does exactly that under non-ANSI Spark)
            casted = raw.try_cast(types[c])
            ok = raw.isNull() | casted.isNotNull()
            return F.when(ok, casted).otherwise(
                F.raise_error(
                    F.lit(
                        f"update_where: assignment for column '{c}' does "
                        f"not cast to {types[c].simpleString()}"
                    )
                )
            )

        up = matched.select(
            *[
                value_of(f.name).alias(f.name)
                if f.name in assignments
                else F.col(f.name)
                for f in m.schema.fields
            ],
            F.lit("U").alias("__op"),
        ).persist()
        try:
            n = up.count()
            if n == 0:
                return 0
            pm = merge_into(
                self, up, op_col="__op", delete_op="D", strategy=strategy
            )
            pm.commit(
                summary={
                    "update_where": str(
                        filters if filters is not None else condition
                    ),
                    "rows_updated": n,
                }
            )
            return n
        finally:
            up.unpersist()

    def expire_snapshots(self, keep_last: int = 1) -> list[int]:
        """Retire old snapshots (Iceberg's expire_snapshots): delete the
        manifest files of all but the newest ``keep_last`` versions (the
        current snapshot is always kept). Time travel and ``changes()``
        into the expired range stop working by design; data files that
        were referenced only by expired snapshots become orphans that
        the next ``vacuum()`` reclaims. Under CoW every epoch rewrites
        whole buckets, so without expiration storage grows linearly
        with epochs — this is the retention dial. Tagged snapshots
        (``tag``) are pinned and never expire. Returns the expired
        versions.
        """
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        vs = self.versions()
        cur = self.current_version()
        keep = (
            set(vs[-keep_last:])
            | {cur}
            | set(self.refs().values())
            | set(self._wap_staged().values())
        )
        expired = [v for v in vs if v not in keep]
        for v in expired:
            os.remove(os.path.join(self._manifest_dir(), f"v{v:08d}.json"))
        return expired

    def vacuum(self) -> list[str]:
        """Delete data files referenced by NO live snapshot manifest —
        orphans from crashed commits and files released by
        ``expire_snapshots``. Files referenced by any retained snapshot
        are kept, so time travel across the retained range survives a
        vacuum (Iceberg's remove_orphan_files contract). Manifest SHARD
        files referenced by no live snapshot (crashed commits, expired
        history, superseded WAP stages) are reclaimed the same way.
        Returns the removed paths."""
        live: set[str] = set()
        live_shards: set[str] = set()
        for v in self.versions():
            m = self.manifest(v)
            live |= {os.path.join(self.root, p) for fs in m.files.values() for p in fs}
            live |= {
                os.path.join(self.root, p)
                for fs in m.delta_files.values()
                for p in fs
            }
            live_shards |= set(self._snapshot_raw(v).get("shards", {}).values())
        removed = []
        data_dir = os.path.join(self.root, "data")
        for dirpath, _dirnames, filenames in os.walk(data_dir):
            for fn in filenames:
                p = os.path.join(dirpath, fn)
                if p not in live and fn.endswith(".parquet"):
                    os.remove(p)
                    removed.append(p)
        for fn in os.listdir(self._manifest_dir()):
            if (
                fn.startswith("shard-")
                and fn.endswith(".json")
                and fn not in live_shards
            ):
                p = os.path.join(self._manifest_dir(), fn)
                os.remove(p)
                removed.append(p)
        return removed
