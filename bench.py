"""Benchmark harness: headline queries + full CDC replay throughput.

Runs at ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": <sf>, ...extras}

The flagship number is the replay pipeline: a deterministic synthetic
change-event log (sized to sf) is written untimed, then replayed —
dedup (salted LWW) -> bucketed CoW merge -> two-phase epoch commits ->
lineage metrics — and reported as events/s in the extras.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tools.cpu_control import cpu_control  # noqa: E402


def _sf_from_dir(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else 0.0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = _sf_from_dir(sf_dir)

    from datax_spark.session import get_spark

    # shuffle scratch on tmpfs when available: the benchmark machine's
    # /tmp sits on a virtual disk that collapses under many concurrent
    # shuffle writers (a real cluster has NVMe scratch per executor)
    extra = {}
    if os.path.isdir("/dev/shm"):
        extra["spark.local.dir"] = "/dev/shm/datax_spark_bench_scratch"
    spark = get_spark("datax-spark-bench", cores=cpus, extra_conf=extra)

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    # headline subset: one per operator family, heavy enough to measure
    headline = [
        "cdc_lww_latest_state",      # LWW dedup (hash agg) over events
        "tpch_q1",                   # wide agg scan
        "region_revenue",            # broadcast star join
        "window_topk_orders",        # window topk
        "event_asof_enrich",         # as-of join (union+window)
        "exact_dedup_docs",          # exact dedup
        # ngram_jaccard_pairs (all-pairs exact jaccard) is the O(n^2)
        # baseline kept for sf0.01 oracle checks only; at bench scale
        # the LSH pipeline below is the operator that matters.
        "minhash_lsh_pairs",         # minhash+LSH banding pipeline
        "simhash_docs",              # Arrow UDF simhash
        "embedding_cosine_topk",     # brute-force ANN baseline
        "embedding_lsh_topk",        # LSH ANN probe
        "text_quality",              # codegen'd text scoring
        "token_count_bpeish",        # Arrow UDF tokenizer
        "multimodal_features",       # mapInPandas binary plumbing
    ]

    # Noise-aware protocol (this host's vCPUs show CPU-steal bursts
    # that once distorted a recorded replay 6.6x): every measurement
    # keeps its PER-TRIAL wall times in the emitted JSON, a pure-CPU
    # codegen control brackets the replay trials, and steal_suspected
    # flags any window whose trial spread exceeds 1.5x — so a
    # noise-poisoned artifact is self-evidently noise, not regression.
    trials: dict[str, list[float]] = {}

    # best of 2: the first execution of each plan pays one-time JIT /
    # codegen / Arrow-worker startup that amortizes to nothing over a
    # sustained workload; the second run is the steady-state number.
    timings: dict[str, float] = {}
    for name in headline:
        fn = qs[name]
        trials[name] = []
        for _ in range(2):
            t0 = time.monotonic()
            df = fn(spark, sf_dir)
            # noop sink: full distributed compute, no driver collect
            df.write.format("noop").mode("overwrite").save()
            trials[name].append(round(time.monotonic() - t0, 3))
        timings[name] = min(trials[name])

    # ---- flagship: CDC replay throughput (full contractual pipeline:
    # dedup+stats one-shuffle, Arrow content transforms, CoW merge,
    # two-phase commits) ----
    from datax_spark.engine.replay import ReplayConfig, ReplayEngine
    from datax_spark.fixtures.changelog import ChangelogSpec, write_events
    from datax_spark.functions.content import (
        normalize_trailing_ws,
        sha256_hex,
        token_count_bpeish,
    )

    def content_transforms(df):
        if "content" not in df.columns:
            return df
        return (
            df.withColumn("content", normalize_trailing_ws("content"))
            .withColumn("content_sha256", sha256_hex("content"))
            .withColumn("n_tokens", token_count_bpeish("content"))
        )

    n_events = max(200_000, int(40_000_000 * sf))
    # 3 epochs so the measured run includes the schema-evolution epoch
    # (evolve_from_epoch=2 puts epoch 2 on the evolved schema) — the
    # benchmarked pipeline exercises its full contract
    spec = ChangelogSpec(
        n_events=n_events,
        n_repos=max(50, int(2_000 * sf)),
        paths_per_repo=400,
        events_per_epoch=max(50_000, -(-n_events // 3)),
        evolve_from_epoch=2,
        seed=42,
    )
    # Untimed warmup: a small replay through the same code paths (both
    # schema shapes) JIT-compiles the codegen stages and spins up the
    # Arrow UDF workers. The first epoch of a cold JVM measured ~7s of
    # one-time compilation at sf0.1 — sustained throughput is the
    # deployment-relevant number for a 10^10-event stream, where
    # warmup amortizes to nothing.
    warm_spec = ChangelogSpec(
        n_events=100_000, n_repos=50, paths_per_repo=100,
        events_per_epoch=50_000, evolve_from_epoch=1, seed=7,
    )
    root = tempfile.mkdtemp(prefix="datax_spark_bench_")
    try:
        write_events(spark, warm_spec, os.path.join(root, "warm_events"))
        ReplayEngine(
            spark,
            events_root=os.path.join(root, "warm_events"),
            table_root=os.path.join(root, "warm_table"),
            metrics_root=os.path.join(root, "warm_metrics"),
            config=ReplayConfig(num_buckets=64, transforms=(content_transforms,)),
        ).run()

        write_events(spark, spec, os.path.join(root, "events"))  # untimed
        # best of 3 fresh replays, BRACKETED by pure-CPU control runs:
        # this host's vCPUs show tens-of-second steal bursts (a recorded
        # r02 artifact once read 55.8s where the same commit measures
        # 8.4s). The min of three trials is the machine's sustained
        # number; the interleaved controls timestamp what the box could
        # give in the same window, so a slow artifact is attributable.
        replay_trials: list[float] = []
        controls: list[float] = [cpu_control(spark, 250_000_000 * cpus, cpus * 4)]
        rows_after = 0
        for trial in range(3):
            eng = ReplayEngine(
                spark,
                events_root=os.path.join(root, "events"),
                table_root=os.path.join(root, f"table_{trial}"),
                metrics_root=os.path.join(root, f"metrics_{trial}"),
                config=ReplayConfig(num_buckets=64, transforms=(content_transforms,)),
            )
            t0 = time.monotonic()
            results = eng.run()
            replay_trials.append(round(time.monotonic() - t0, 3))
            controls.append(cpu_control(spark, 250_000_000 * cpus, cpus * 4))
            rows_after = results[-1].rows_after if results else 0
        trials["cdc_replay"] = replay_trials
        replay_sec = min(replay_trials)
        timings["cdc_replay"] = round(replay_sec, 3)
    finally:
        shutil.rmtree(root, ignore_errors=True)

    def spread(xs: list[float]) -> float:
        return max(xs) / max(min(xs), 1e-9)

    steal_suspected = spread(replay_trials) > 1.5 or spread(controls) > 1.5
    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "total_headline_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "cpus": cpus,
                "replay_events": n_events,
                "replay_events_per_sec": round(n_events / replay_sec, 1),
                "replay_rows_after": rows_after,
                # --- noise forensics: per-trial wall times + the
                # pure-CPU control bracket. Judge a slow headline
                # against these, not the best-of alone. ---
                "trials": trials,
                "cpu_control_sec": controls,
                "steal_suspected": steal_suspected,
            }
        )
    )


if __name__ == "__main__":
    main()
