"""The one independent last-writer-wins (LWW) oracle every large-run
tool verifies against, and a CLI that runs it over a kept replay root.

The oracle recomputes the expected final state from the RAW event log
with DuckDB and compares it with the finished table's exported state;
it never imports the engine's dedup, merge or replay code, so an
engine bug cannot hide in the check. The LWW winner per (repo, path)
is picked with primitives that spill and stay bounded at 10^8+ events
(an ``arg_max(struct)`` state does not spill: it grew past 89 GiB RSS
at 128M events, BENCH/SCALE.md):

  1. ``max(ord)`` per (repo, path)          -- simple scalar agg, spillable
  2. join events back on (repo, path, ord)  -- build side = #keys rows
  3. winners with op <> 'D'

``ord = commit || lpad(lsn, 20)`` is order-exact (commits are
fixed-width hex, lsn a global total order), and unique per key because
the fixture's lsn is unique per event, so the join keeps one winner per
key; :func:`build_winners` checks that instead of assuming it.

Helpers (each takes a live Spark session or DuckDB connection; the
caller owns the session lifecycle):

* :func:`hash_events` -- event log -> compact parquet, content -> sha2;
* :func:`export_state` -- a finished table's state, the same columns;
* :func:`build_winners` -- the per-key max-``ord`` ``winners`` table;
* :func:`compare` -- symmetric ``EXCEPT ALL`` counts vs the table.

CLI: ``python tools/verify_existing.py <root> [cpus]`` verifies a root
kept by ``DATAX_SCALE_VERIFY=skip`` (scale_check.py) or
``DATAX_STREAM_VERIFY=join`` (bench_stream_ingest.py): it exports
``<root>/events`` and ``<root>/table`` once (resuming from finished
exports, so the raw dirs may be reclaimed after), releases Spark, then
compares in DuckDB. Spill goes to ``<root>/duck_spill`` or
``DATAX_VERIFY_SPILL`` (a 256M-event verify spills >55 GB). Prints one
JSON line; exits 1 on any mismatch.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

VERIFIED = "sha256_set_equal_vs_duckdb_lww_join"

_STATE_COLS = (
    "repo", "path", "commit", "lsn", "lang", "lang_variant",
    "sha2(content, 256) AS content_sha256",
)


def _with_variant(df):
    # logs that never evolved (and their tables) have no lang_variant
    from pyspark.sql import functions as F

    if "lang_variant" in df.columns:
        return df
    return df.withColumn("lang_variant", F.lit(None).cast("string"))


def _parquet(path: str) -> str:
    return f"{path}/*.parquet" if os.path.isdir(path) else path


def hash_events(spark, events_root: str, out: str) -> None:
    """Write the event log under ``events_root`` to ``out`` as compact
    parquet: content replaced by its sha256, plus the LWW ``ord``.
    mergeSchema: early epoch files of an evolving log lack
    lang_variant, and a single-footer schema would null it everywhere."""
    ev = spark.read.option("mergeSchema", "true").parquet(events_root)
    _with_variant(ev).selectExpr(
        "repo", "path", "commit", "lsn", "op", "lang", "lang_variant",
        "sha2(content, 256) AS content_sha256",
        "concat(commit, lpad(cast(lsn as string), 20, '0')) AS ord",
    ).write.mode("overwrite").parquet(out)


def export_state(spark, table_root: str, out: str) -> None:
    """Write the table's current (merged-read) state to ``out`` with
    the columns :func:`compare` checks, content replaced by its sha256."""
    from datax_spark.lake.table import LakeTable

    df = LakeTable.load(spark, table_root).read()
    _with_variant(df).selectExpr(*_STATE_COLS).write.mode("overwrite").parquet(out)


def connect(root: str, threads: int = 8):
    """A DuckDB connection with the settings verified at 256M events:
    eight threads and no insertion order keep the scan's working set
    proportional to threads, not files; spill goes to
    ``DATAX_VERIFY_SPILL`` or ``<root>/duck_spill`` (an in-memory
    database does not spill without a temp directory)."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET memory_limit='24GB'")
    con.execute(f"SET threads={threads}")
    con.execute("SET preserve_insertion_order=false")
    spill = os.environ.get("DATAX_VERIFY_SPILL", os.path.join(root, "duck_spill"))
    os.makedirs(spill, exist_ok=True)
    con.execute(f"SET temp_directory='{spill}'")
    return con


def build_winners(con, hashed: str) -> int:
    """Create the temp table ``winners``: each (repo, path)'s max-``ord``
    row of the hashed events at ``hashed`` (a dir or a parquet file),
    deletes kept. Returns its row count; raises ValueError when some key
    has two rows at its max ``ord`` (a tie no LWW rule can resolve)."""
    src = f"read_parquet('{_parquet(hashed)}')"
    con.execute(f"""
        CREATE OR REPLACE TEMP TABLE winners AS
        WITH mx AS (
          SELECT repo, path, max(ord) AS mord FROM {src} GROUP BY repo, path
        )
        SELECT ev.* FROM {src} ev
        JOIN mx ON ev.repo = mx.repo AND ev.path = mx.path AND ev.ord = mx.mord
    """)
    n, keys = con.execute(
        "SELECT count(*), count(DISTINCT (repo, path)) FROM winners"
    ).fetchone()
    if n != keys:
        raise ValueError(
            f"{n - keys} extra winner rows over {keys} keys: some (repo, path) "
            "has two events at the same (commit, lsn)"
        )
    return int(n)


def compare(con, state: str) -> dict:
    """Symmetric EXCEPT ALL of the live ``winners`` against the exported
    state at ``state``: ``{rows, oracle_rows, missing, extra}``. NULL
    lang/lang_variant compare equal under set operations."""
    cols = (
        'repo, path, "commit", CAST(lsn AS BIGINT) AS lsn, lang,'
        " lang_variant, content_sha256"
    )
    want = f"SELECT {cols} FROM winners WHERE op <> 'D'"
    got = f"SELECT {cols} FROM read_parquet('{_parquet(state)}')"
    rows, oracle_rows, missing, extra = con.execute(f"""
        SELECT
          (SELECT count(*) FROM ({got})),
          (SELECT count(*) FROM ({want})),
          (SELECT count(*) FROM ({want} EXCEPT ALL {got})),
          (SELECT count(*) FROM ({got} EXCEPT ALL {want}))
    """).fetchone()
    return {
        "rows": int(rows),
        "oracle_rows": int(oracle_rows),
        "missing": int(missing),
        "extra": int(extra),
    }


def verdict(r: dict) -> dict:
    """A :func:`compare` result as the fields every tool reports."""
    ok = r["missing"] == 0 and r["extra"] == 0
    return {
        "final_rows": r["rows"],
        "oracle_rows": r["oracle_rows"],
        "missing_vs_oracle": r["missing"],
        "extra_vs_oracle": r["extra"],
        "verified": VERIFIED if ok else "FAILED",
    }


def main() -> None:
    root = sys.argv[1]
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 16

    t0 = time.monotonic()
    hashed = os.path.join(root, "events_hashed")
    state = os.path.join(root, "engine_state_hashed")

    def done(d: str) -> bool:
        return os.path.exists(os.path.join(d, "_SUCCESS"))

    # Both exports done on a previous (interrupted) run: the raw
    # events/ and table/ may have been reclaimed for disk, and the
    # DuckDB comparison needs only the two exports, so skip Spark.
    final_buckets = None
    if not (done(hashed) and done(state)):
        from datax_spark.lake.table import LakeTable
        from datax_spark.session import get_spark

        spark = get_spark("verify-existing", cores=cpus)
        table_root = os.path.join(root, "table")
        if not done(hashed):
            hash_events(spark, os.path.join(root, "events"), hashed)
        if not done(state):
            export_state(spark, table_root, state)
        final_buckets = int(LakeTable.load(spark, table_root).manifest().num_buckets)
        spark.stop()
    export_sec = time.monotonic() - t0

    con = connect(root)
    build_winners(con, hashed)
    out = verdict(compare(con, state))
    print(
        json.dumps(
            {
                "root": root,
                **out,
                "export_sec": round(export_sec, 2),
                "verify_sec": round(time.monotonic() - t0, 2),
                "final_buckets": final_buckets,
            }
        ),
        flush=True,
    )
    if out["verified"] != VERIFIED:
        sys.exit(1)


if __name__ == "__main__":
    main()
