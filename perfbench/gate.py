"""Correctness gate: an independent last-writer-wins fold of the generated
change log in DuckDB, and set-equality checks of what the engine serves
against it.

The fold never touches Spark or the engine: it reads the raw event
parquet, normalizes content exactly as the benchmark's content transform
does (trailing blanks stripped per line) and keeps, per ``(repo, path)``,
the event with the greatest ``(commit, lsn)`` below an lsn bound; keys
whose winner is a delete are absent.
"""

from __future__ import annotations

import math
import random

import duckdb
import pandas as pd

GATE_COLS = ["repo", "path", "commit", "lsn", "lang", "lang_variant", "content_sha256"]


class Fold:
    """The event log loaded once into an in-memory DuckDB table."""

    def __init__(self, globs: list[str], temp_dir: str, threads: int = 4):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads={int(threads)}")
        self.con.execute("SET memory_limit='2GB'")
        self.con.execute(f"SET temp_directory='{temp_dir}'")
        files = ", ".join(f"'{g}'" for g in globs)
        src = f"read_parquet([{files}], union_by_name = true, hive_partitioning = false)"
        cols = {r[0] for r in self.con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()}
        variant = "lang_variant" if "lang_variant" in cols else "CAST(NULL AS VARCHAR)"
        # the benchmark's normalize_trailing_ws: blanks before each
        # newline and at the end of the text are removed
        norm = "rtrim(regexp_replace(content, '[ \\t]+\\n', chr(10), 'g'), ' ' || chr(9))"
        self.con.execute(
            f"""
            CREATE TABLE ev AS
            SELECT repo, path, op, commit, lsn, lang, {variant} AS lang_variant,
                   sha256({norm}) AS content_sha256,
                   commit || lpad(CAST(lsn AS VARCHAR), 20, '0') AS ord
            FROM {src}
            """
        )

    def close(self) -> None:
        self.con.close()

    def state(self, hi_lsn: int, keys: list[tuple[str, str]] | None = None) -> pd.DataFrame:
        """Live rows after every event with ``lsn < hi_lsn`` (optionally
        only the given keys), as ``GATE_COLS``."""
        where = f"lsn < {int(hi_lsn)}"
        if keys is not None:
            match = " OR ".join(f"(repo = {_lit(r)} AND path = {_lit(p)})" for r, p in keys)
            where += f" AND ({match or 'false'})"
        # each event's ord is unique (lsn is), so joining back on the
        # greatest ord finds the winner; an arg_max of a struct does the
        # same 30x slower over ~10^5 keys
        return self.con.execute(
            f"""
            WITH last AS (SELECT repo, path, max(ord) AS ord FROM ev WHERE {where}
                          GROUP BY repo, path)
            SELECT {", ".join(GATE_COLS)}
            FROM ev JOIN last USING (repo, path, ord) WHERE op <> 'D'
            """
        ).df()

    def changed_keys(self, lo_lsn: int, hi_lsn: int) -> int:
        """Keys whose live state differs between the bounds: every key
        with an event in ``[lo, hi)`` that is alive on either side (each
        event carries a fresh commit, so a live winner always differs)."""
        lo, hi = int(lo_lsn), int(hi_lsn)
        return self.con.execute(
            f"""
            WITH touched AS (
                SELECT DISTINCT repo, path FROM ev WHERE lsn >= {lo} AND lsn < {hi}
            ), ends AS (
                SELECT e.repo, e.path,
                       arg_max(e.op, e.ord) FILTER (WHERE e.lsn < {lo}) AS op_before,
                       arg_max(e.op, e.ord) AS op_after
                FROM ev e JOIN touched t ON e.repo = t.repo AND e.path = t.path
                WHERE e.lsn < {hi}
                GROUP BY e.repo, e.path
            )
            SELECT count(*) FROM ends
            WHERE coalesce(op_before <> 'D', false) OR op_after <> 'D'
            """
        ).fetchone()[0]

    def lookup_plan(
        self, rng: random.Random, windows: list[tuple[int, int]], calls: int
    ) -> list[list[list[tuple[str, str]]]]:
        """For each ``[lo, hi)`` epoch window, ``calls`` key lists of four
        keys each: two of the hot repo, one of a tail repo and one whose
        last event in the window deletes it (a tail key when the window
        deleted nothing)."""
        keys = self.con.execute("SELECT DISTINCT repo, path FROM ev ORDER BY 1, 2").fetchall()
        hot = [k for k in keys if k[0] == "repo_000"]
        cold = [k for k in keys if k[0] >= "repo_003"] or keys
        hot = hot or keys
        plan = []
        for lo, hi in windows:
            deleted = self.con.execute(
                f"""
                SELECT repo, path FROM ev WHERE lsn >= {int(lo)} AND lsn < {int(hi)}
                GROUP BY repo, path HAVING arg_max(op, ord) = 'D' ORDER BY 1, 2
                """
            ).fetchall()
            plan.append(
                [
                    [*rng.sample(hot, 2), rng.choice(cold), rng.choice(deleted or cold)]
                    for _ in range(calls)
                ]
            )
        return plan


def _lit(v: str) -> str:
    return "'" + str(v).replace("'", "''") + "'"


def _cell(v):
    if hasattr(v, "item"):  # numpy scalar
        v = v.item()
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def _rows(df: pd.DataFrame) -> list[tuple]:
    return [tuple(_cell(v) for v in row) for row in df[GATE_COLS].itertuples(index=False)]


def compare(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Set-equality of two ``GATE_COLS`` frames; returns the problems
    found (empty when equal). Duplicate keys in ``got`` are a problem
    too: the table must hold one row per key."""
    g, w = _rows(got), _rows(want)
    problems = []
    if len(set(g)) != len(g):
        problems.append(f"{len(g) - len(set(g))} duplicate rows served")
    missing = set(w) - set(g)
    extra = set(g) - set(w)
    if missing:
        problems.append(f"{len(missing)} rows missing, e.g. {sorted(missing)[0]}")
    if extra:
        problems.append(f"{len(extra)} rows not in the fold, e.g. {sorted(extra)[0]}")
    return problems
