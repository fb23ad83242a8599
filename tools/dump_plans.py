"""Dump .explain('formatted') physical plans for the engine's core
operators into docs/PLANS.md, with the properties each plan must show
(pushed filters, pruned schemas, map-side partial aggregates,
whole-stage codegen spans, broadcast joins). Re-run after operator
changes; the assertions at the bottom fail if a plan regresses.

Usage: python tools/dump_plans.py
"""

from __future__ import annotations

import io
import os
import re
import sys
import tempfile
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from datax_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.01"

PYTHON_TIME_NOTE = """\
ROADMAP item 1 found the three content UDFs costing 2.5-5x more inside an
epoch than outside it. Two mechanisms explain it; both are measured on a
4-core host (CPython 3.11.7, Spark 4.1.2, pyarrow 16.1).

*Per Python task.* Spark puts pyspark.zip, the py4j zip and the
spark-core jar first on every worker's sys.path, and
`pyspark.worker.main` calls `importlib.invalidate_caches()` at the start
of every task (pyspark.zip `pyspark/worker_util.py:144`). Before CPython
3.13 that makes each of the worker's 16 `zipimporter`s re-read its whole
archive directory. Inside a worker, that one call took 0.18-0.26 s of CPU
per task with the stock `pyspark.daemon`. A cProfile of
`pyspark.worker.main` over 16 trivial `mapInArrow` tasks gave 256
`zipimport._read_directory` calls (16 per task), 12.6 s of 13.2 s
profiled worker time (95%, cProfile-inflated). A job of 64 trivial tasks
on local[4] took 4.2-5.6 s. With `datax_spark.pyworker` as the daemon,
which re-reads an archive only when its (mtime, size, inode) changed, the
same call takes ~0.1 ms. The profile shows 0 reads and 1.0 s worker
time, and the 64-task job takes 0.97-1.57 s. Every stage that runs
Python pays this per task: the transforms, the per-bucket merge kernel
and the read-side bucket kernels.

*Per row.* The transforms plan as one ArrowEvalPython whose outputs are
`normalize(content)` and UDFs over `normalize(content)`. The worker
evaluates a chained UDF separately for each output. A call-logging probe
counted 3.0 `normalize_trailing_ws` calls per Arrow batch with the three
pandas UDFs, and 2.0 now that `sha256_hex` is the JVM `sha2` below.
`normalize_trailing_ws` was also the costliest UDF, a lookahead regex in
Python `re`. It and `token_count_bpeish` are now `arrow_udf`s over RE2
kernels (`pc.replace_substring_regex`, `pc.count_substring_regex`),
with no pandas round trip.

*Before and after* (perfbench, 10 alternating parent/change pairs per
workload, each side from a fresh copy; medians). bulk_backfill:
replay 16,091 -> 31,665 events/s (+97%, 10/10 pairs), epoch commit p50
6.22 -> 3.16 s, lookup p50 1,025 -> 514 ms, changes read p50 0.96 ->
0.95 s, peak RSS 3,043 -> 2,844 MB. serve_mor: replay 2,362 -> 3,794
events/s (+61%), epoch commit p50 2.40 -> 1.22 s, lookup p50 1,460 ->
672 ms, changes read p50 1.94 -> 1.23 s, peak RSS 2,591 -> 2,572 MB.
Layer split of one traced bulk_backfill epoch (seed 702, CPU control
0.65/0.25 s before and 0.58/0.25 s after): transforms 2.04 -> 0.34 s,
per-bucket merge 1.32 -> 0.44 s, dedup 0.69 -> 0.57 s, scan 0.39 ->
0.37 s, epoch wall 4.85 -> 1.89 s.

The plan below is the composition perfbench and bench.py use: one
ArrowEvalPython with two Arrow UDFs, and sha2 in the JVM Project above
it. `token_count_bpeish(normalize_trailing_ws(text))` is still the
second evaluation of normalize; removing it, or running the transforms
inside the per-bucket merge kernel, is left open."""


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    with tempfile.TemporaryDirectory(prefix="dump_plans_") as tmp:
        dump(tmp)


def dump(tmp: str) -> None:
    """Build every section's plan (tables under ``tmp``), write
    docs/PLANS.md and exit 1 on a failed assertion."""
    spark = get_spark("dump-plans", cores=8)
    sections: list[tuple[str, str, str, list[str]]] = []

    # 1. LWW dedup: must be partial_max_by (map-side combine) -> exchange
    from datax_spark.operators.dedup import lww_dedup

    ev = spark.read.parquet(f"{SF}/events.parquet")
    dd = lww_dedup(ev, keys=["user_id"], order_cols=["ts", "event_id"])
    sections.append((
        "LWW dedup (operators.dedup.lww_dedup)",
        "partial_max_by BEFORE the exchange: each map task reduces to <= "
        "|keys in partition| rows, so shuffle volume is bounded by distinct "
        "keys x map tasks, never by event count. Spark 4.1 plans "
        "max_by(struct, struct) as SortAggregate (MaxBy is a "
        "DeclarativeAggregate with a struct buffer, which HashAggregateExec "
        "cannot hold in its mutable UnsafeRow map; ObjectHashAggregateExec "
        "only serves TypedImperativeAggregates). Measured alternatives at "
        "4M events / 120k keys, warm, local[8]: max_by SortAggregate 0.61s; "
        "max(struct) 0.45s but loses the payload/order separation; "
        "HashAggregate max(lsn) + left-semi join back 1.42s (second shuffle "
        "of the full event stream costs more than the per-partition sort); "
        "string-packed max + join 2.26s. The partial sort is bounded by "
        "partition size and feeds a merge-exchange, so it scales with "
        "events/partition, not total events — the asserted property is the "
        "map-side partial, not the aggregate flavor.",
        plan_of(dd),
        ["partial_max_by", "hashpartitioning"],
    ))

    # 2. Filter + projection pushdown into the parquet scan
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.filter(F.col("l_shipdate") <= "1998-09-02").select("l_orderkey", "l_quantity")
    sections.append((
        "Scan pushdown (filter + column pruning)",
        "PushedFilters carries the shipdate predicate into the parquet "
        "reader; ReadSchema lists only the 3 referenced columns of 11.",
        plan_of(q),
        ["PushedFilters:", "l_shipdate"],
    ))

    # 3. Broadcast star join
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    cust = spark.read.parquet(f"{SF}/customer.parquet")
    j = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey).groupBy(
        "c_mktsegment"
    ).agg(F.sum("o_totalprice").alias("rev"))
    sections.append((
        "Broadcast join (dimension enrich)",
        "BroadcastHashJoin — the fact side never shuffles for the join; "
        "only the final aggregate exchanges on the group key.",
        plan_of(j),
        ["BroadcastHashJoin"],
    ))

    # 4. MinHash LSH signature stage: partial_min aggregates
    from datax_spark.functions.dedup_text import minhash_lsh_candidates

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    cands = minhash_lsh_candidates(docs, "text", "doc_id")
    mh_plan = plan_of(cands)
    # the band self-join must read the PERSISTED signature frame on
    # BOTH sides (InMemoryTableScan x2 over one shared InMemoryRelation)
    # — the corpus is shingled+hashed exactly once; without the persist
    # the plan regresses to two complete scan→explode→min-agg subtrees
    import re as _re

    n_imts = len(_re.findall(r"InMemoryTableScan", mh_plan))
    sections.append((
        "MinHash LSH candidates (functions.dedup_text)",
        "The signature stage is partial_min over xxhash64 of the "
        "exploded shingle hashes — string-hashed once, map-side combined; "
        "band bucket join exchanges only on (band, bh). The signature "
        "frame is persisted (MEMORY_AND_DISK, one narrow row per doc) so "
        f"both sides of the self-join read the cache (InMemoryTableScan "
        f"counted: {n_imts}, asserted >= 2) and the corpus is scanned "
        "ONCE — previously the join recomputed the whole shingle+hash "
        "pipeline on each side.",
        mh_plan,
        ["partial_min", "explode(", "InMemoryTableScan"],
    ))
    if n_imts < 2:
        sections.append((
            "MINHASH cache-reuse REGRESSION",
            f"expected both self-join sides on InMemoryTableScan, found {n_imts}",
            mh_plan, ["__NEVER__"],
        ))

    # 5. Cosine top-k: TakeOrderedAndProject (per-partition top-k)
    from datax_spark.functions.similarity import cosine_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    tk = cosine_topk(emb, "embedding", "vec_id", [1.0] * 64, k=10)
    sections.append((
        "Cosine top-k (functions.similarity)",
        "TakeOrderedAndProject: each partition keeps its local top-10; "
        "the driver merges k x p rows — no global sort at any scale.",
        plan_of(tk),
        ["TakeOrderedAndProject"],
    ))

    # 6. Change data feed: one mapInArrow over the touched bucket ids;
    # no join and no Spark scan of table data
    from datax_spark.lake.merge import merge_into
    from datax_spark.lake.table import LakeTable

    troot = os.path.join(tmp, "cdf")
    ct = LakeTable.create(
        spark, troot,
        schema=spark.createDataFrame([], "k string, v long").schema,
        key_cols=["k"], num_buckets=4,
    )
    for batch in ([("a", 1, "U")], [("a", 2, "U")]):
        merge_into(ct, spark.createDataFrame(batch, "k string, v long, op string")).commit()
    cdf = ct.changes(1, 2)
    sections.append((
        "Change data feed (lake.table.LakeTable.changes)",
        "Snapshot diff = ONE MapInArrow over a Range with one row per "
        "partition, one per bucket the manifests prove touched: task i "
        "diffs bucket i of that list — no exchange at all — resolving the "
        "bucket's LWW state on both snapshots with Arrow and diffing them "
        "locally (bucket_changes_arrow). No join, no cartesian product and "
        "no Spark parquet scan of table data can appear at any size.",
        plan_of(cdf),
        ["MapInArrow", "Range", "!Exchange", "!Join", "!CartesianProduct",
         "!Scan parquet"],
    ))

    # 6b. Point lookup on a table with a merge-on-read bucket: the key
    # list is a LocalRelation (no RDD), bucket ids are computed over it
    # on the driver, and the semi-join broadcasts it without a shuffle
    merge_into(ct, spark.createDataFrame([(f"k{i}", i, "U") for i in range(16)],
                                         "k string, v long, op string")).commit()
    merge_into(
        ct, spark.createDataFrame([("b", 3, "U"), ("a", None, "D")],
                                  "k string, v long, op string"),
        strategy="mor",
    ).commit()
    lk = ct.lookup([("a",), ("b",), ("k3",), ("absent",)])
    sections.append((
        "Point lookup (lake.table.LakeTable.lookup)",
        "The requested keys travel as a typed Arrow LocalRelation: the "
        "JVM bucket expression computes their bucket ids on the driver and "
        "the left-semi join broadcasts them straight from the "
        "LocalTableScan, so building the lookup launches no Spark job and "
        "no RDD appears. Delta-free buckets are a pruned parquet scan with "
        "the keys pushed as IN filters; merge-on-read buckets are one "
        "MapInArrow task each over a Range. No shuffle Exchange.",
        plan_of(lk),
        ["LocalTableScan", "BroadcastHashJoin", "MapInArrow", "Scan parquet",
         r"!re:\(\d+\) Exchange\b", "!Scan ExistingRDD"],
    ))

    # 6c. MoR compaction: one task per bucket over a Range, each
    # resolving, sorting and writing its bucket in Arrow
    cm = ct.manifest()
    todo = sorted(int(b) for b in cm.delta_files)
    cp = plan_of(ct.compact_frame(cm, todo, os.path.join(tmp, "compact_txn"), ["k"]))
    sections.append((
        "MoR compaction (lake.table.LakeTable.compact)",
        "One job of one stage: a MapInArrow over a Range with one row per "
        "bucket to rewrite, task i folding bucket i of that list. Each task "
        "resolves base + deltas with bucket_state_arrow, sorts in Arrow "
        "(nulls first, as Spark's ascending sort) and writes its own file by "
        "tmp + rename (compact_bucket_arrow). No table row passes through an "
        "Exchange, a Spark Sort or Spark's parquet writer. Measured on a "
        "serve_mor-shaped table (8 MoR buckets, three 10k-event epochs of "
        "deltas, 4-core host, statusTracker, skipped stages counted): 2 "
        "jobs / 3 stages / 24 tasks and 0.41-0.48 s before (Exchange + "
        "sortWithinPartitions + partitioned write), 1 / 1 / 8 and "
        "0.17-0.19 s after.",
        cp,
        ["MapInArrow", "Range", "!Exchange", "!Sort"],
    ))

    # 6d. View refresh: the signed-delta aggregate over the change
    # feed, routed to view buckets, then one Arrow apply task per bucket
    from datax_spark.lake.matview import AggView, AggViewSpec, signed_delta
    from datax_spark.lake.table import bucket_expr_for

    view = AggView.create(
        spark, os.path.join(tmp, "view"), ct,
        AggViewSpec(group_cols=("k",), sum_cols=("v",)), num_buckets=4,
    )
    vm = view.table.manifest()
    feed = ct.changes(0, ct.current_version(), include_preimage=True)
    vdelta = signed_delta(view.spec.fill(feed), view.spec).withColumn(
        "__b", bucket_expr_for(vm)
    )
    vp = plan_of(view.apply_frame(vdelta, vm, os.path.join(tmp, "view_txn")))
    n_pass = vp.count("shufflepartitionidpassthrough(")
    sections.append((
        "View refresh (lake.matview.AggView.refresh)",
        "The change feed (MapInArrow over a Range) feeds the signed-delta "
        "hash aggregate; its output is routed to the view's buckets by ONE "
        f"repartitionById exchange (shufflepartitionidpassthrough, counted: "
        f"{n_pass}, asserted == 1), and one MapInArrow task per touched view "
        "bucket reads the bucket's current rows, applies the delta with "
        "checked adds (view_bucket_apply) and writes the bucket's new file. "
        "No join plan and no cached relation: a count/sum view refreshes in "
        "one job chain. Measured on the same table's count/sum view (4 "
        "buckets): 10 jobs / 21 stages / 146 tasks and 0.69-0.85 s before "
        "(probe collect, two persists, a join, a counts job, a merge), "
        "3 / 6 / 30 and 0.40-0.44 s after (AQE runs each shuffle stage as "
        "a job of its own).",
        vp,
        ["MapInArrow", "partial_sum", "shufflepartitionidpassthrough(",
         "!Join", "!InMemoryTableScan"],
    ))
    if n_pass != 1:
        sections.append((
            "VIEW REFRESH routing-exchange REGRESSION",
            f"expected exactly 1 shufflepartitionidpassthrough Exchange, found {n_pass}",
            vp, ["__NEVER__"],
        ))

    # 7. Storage-partitioned merge, as merge_into plans it for an
    # unrouted frame: exactly ONE Exchange (the epoch batch routed to
    # its buckets); the current table side never appears as a Spark
    # scan at all — each bucket task reads its own files
    from datax_spark.lake.merge import merge_frame

    sroot = os.path.join(tmp, "spj")
    st = LakeTable.create(
        spark, sroot,
        schema=spark.createDataFrame([], "k string, v long").schema,
        key_cols=["k"], num_buckets=4,
    )
    merge_into(st, spark.createDataFrame([("a", 1, "U")], "k string, v long, op string")).commit()
    upd2 = spark.createDataFrame([("a", 2, "U"), ("b", 3, "U")], "k string, v long, op string")
    spj, _ = merge_frame(st, st.manifest(), upd2)
    spj_plan = plan_of(spj)
    # formatted explain prints each node twice (tree + detail); count
    # the detail headers, one per physical Exchange
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", spj_plan))
    sections.append((
        "Storage-partitioned merge (lake.merge.merge_into)",
        "The CoW merge without the two table-sized exchanges: the only "
        f"Exchange in the plan (counted: {n_exchanges}, asserted == 1) is "
        "merge_into's repartitionById(num_buckets, __b) of the epoch "
        "batch — partition b holds exactly bucket b — feeding one "
        "MapInArrow task per bucket; the "
        "current snapshot is read executor-side by each bucket's task "
        "(Arrow scan of exactly its co-located files — the same guarantee "
        "Spark's storage-partitioned joins exploit on bucket tables), so "
        "no plan node scales with TABLE size, only with batch size. "
        "Measured vs the since-removed shuffle plan at 16M events / 128 "
        "buckets / local[32]: 323k ev/s vs 278k ev/s (1.16x), "
        "byte-identical final state (tools/scale_check.py ... spj).",
        spj_plan,
        ["MapInArrow", "!MapInPandas", "!FlatMapGroupsInPandas",
         "shufflepartitionidpassthrough("],
    ))
    if n_exchanges != 1:
        sections.append((
            "SPJ exchange-count REGRESSION",
            f"expected exactly 1 Exchange, found {n_exchanges}",
            spj_plan, ["__NEVER__"],
        ))

    # 7a. Rebucket: the merged read routed to the new bucket count by
    # ONE repartitionById exchange, then the same per-bucket Arrow
    # kernel writes each new bucket's file; no Spark sort or writer
    rb_plan = plan_of(st.rebucket_frame(st.manifest(), 7, os.path.join(tmp, "rebucket_txn")))
    n_rb_pass = rb_plan.count("shufflepartitionidpassthrough(")
    sections.append((
        "Rebucket (lake.table.LakeTable.rebucket)",
        "The table's read feeds ONE repartitionById(new_num_buckets, __b) "
        f"exchange (shufflepartitionidpassthrough, counted: {n_rb_pass}, "
        "asserted == 1) into the merge's bucket kernel "
        "(aligned_bucket_apply, MapInArrow): one task per non-empty new "
        "bucket sorts its rows by key in Arrow and writes b<bucket>.parquet "
        "by tmp + rename, returning its row count. No Spark Sort, no "
        "partitioned Spark write and no re-read of the written files.",
        rb_plan,
        ["MapInArrow", "shufflepartitionidpassthrough(", "!Sort", "!MapInPandas"],
    ))
    if n_rb_pass != 1:
        sections.append((
            "REBUCKET routing-exchange REGRESSION",
            f"expected exactly 1 shufflepartitionidpassthrough Exchange, found {n_rb_pass}",
            rb_plan, ["__NEVER__"],
        ))

    # 7b. EXCHANGE-ALIGNED fused epoch: dedup agg + merge in a plan
    # with exactly ONE Exchange total — the agg's shuffle, pinned to
    # num_buckets partitions, IS the bucket routing; the merge is
    # MapInArrow with no exchange of its own
    # (partition_id == pmod(murmur3(keys), nb) == bucket).
    from datax_spark.engine.replay import aligned_shuffle_confs
    from datax_spark.operators.dedup import STAT_COLS, lww_dedup_stats

    aroot = os.path.join(tmp, "aligned")
    at = LakeTable.create(
        spark, aroot,
        schema=spark.createDataFrame([], "k string, v long, c long").schema,
        key_cols=["k"], num_buckets=4,
    )
    raw = spark.createDataFrame(
        [("a", 1, 1, "U"), ("a", 2, 2, "U"), ("b", 3, 1, "U")],
        "k string, v long, c long, op string",
    )
    with aligned_shuffle_confs(spark, 4):
        add = lww_dedup_stats(
            raw, keys=["k"], order_cols=["c"], lsn_col="c", content_col=None
        )
        al, _ = merge_frame(
            at, at.manifest(), add, stat_cols=STAT_COLS, aligned=True
        )
        al_plan = plan_of(al)
    n_al_exchanges = len(re.findall(r"\(\d+\) Exchange", al_plan))
    sections.append((
        "Exchange-aligned fused epoch (merge_into aligned=True)",
        "The WHOLE epoch — LWW dedup with fused lineage stats AND the "
        f"per-bucket merge — in ONE exchange (counted: {n_al_exchanges}, "
        "asserted == 1): the dedup aggregation's own shuffle, pinned to "
        "num_buckets partitions with AQE coalescing off, lands every key "
        "in the partition that IS its murmur3 bucket, so the merge runs "
        "as MapInArrow straight over the agg output. The map-side "
        "partial (partial_max_by) is preserved below the exchange. Vs "
        "routing the deduped batch again (the plan above) this deletes a "
        "full exchange of the epoch batch; interleaved best-of A/B at 8M "
        "events / 128 buckets / local[32] with pure-CPU controls: aligned "
        "376-716k ev/s vs two-exchange 300-528k ev/s across two noise "
        "windows (BENCH/SCALE.md), sha256-frame-equal either way.",
        al_plan,
        ["MapInArrow", "!MapInPandas", "partial_max_by", "!FlatMapGroupsInPandas"],
    ))
    if n_al_exchanges != 1:
        sections.append((
            "ALIGNED exchange-count REGRESSION",
            f"expected exactly 1 Exchange, found {n_al_exchanges}",
            al_plan, ["__NEVER__"],
        ))

    # 8. Exact dedup: the shuffle key must be the 32-byte sha2, never
    # the raw document text
    from datax_spark.functions.dedup_text import exact_dedup

    docs2 = spark.read.parquet(f"{SF}/documents.parquet")
    ed = exact_dedup(docs2, "text", "doc_id")
    sections.append((
        "Exact dedup (functions.dedup_text.exact_dedup)",
        "The aggregation (and therefore the exchange) keys on "
        "sha2(text, 256) — 32 bytes/row through the shuffle regardless "
        "of document length; the raw text column is pruned before the "
        "exchange (ReadSchema keeps it only to feed the hash).",
        plan_of(ed),
        ["sha2(cast(text", "hashpartitioning(_groupingexpression"],
    ))

    # 9. Matview signed-delta aggregate: one hash agg over the change
    # feed with a map-side partial — the exchange carries groups, not
    # feed rows
    ev9 = spark.read.parquet(f"{SF}/events.parquet").withColumn(
        "_change_type",
        F.when(F.col("event_id") % 2 == 0, F.lit("insert")).otherwise(
            F.lit("delete")
        ),
    )
    sd = signed_delta(
        ev9,
        AggViewSpec(
            group_cols=("user_id",),
            sum_cols=("value",),
            min_cols=("ts",),
            max_cols=("ts",),
        ),
    )
    sections.append((
        "Matview signed-delta aggregate (lake.matview.signed_delta)",
        "Incremental view maintenance is ONE decomposable hash aggregate "
        "over the preimage change feed: partial_sum/partial_min/partial_max "
        "run map-side, so the exchange carries at most |groups touched per "
        "map task| rows — the refresh shuffles groups, never the feed. "
        "Only when a min/max group goes dirty (a retraction reaches its "
        "stored extreme) does the refresh recompute those groups, with a "
        "left-semi join on the dirty-group keys — AQE broadcasts the key "
        "set while it is small, shuffle semi-join when a churn-heavy "
        "window dirties millions of groups. A count/sum view never runs "
        "it.",
        plan_of(sd),
        ["partial_sum", "partial_min", "partial_max", "hashpartitioning"],
    ))

    # 10. As-of join: union+window — ONE exchange on the key, a sort,
    # a Window; never the BroadcastNestedLoopJoin a naive non-equi
    # range join plans into
    from datax_spark.operators.asof import asof_join

    ev10 = spark.read.parquet(f"{SF}/events.parquet")
    clicks = ev10.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", F.col("ts").cast("timestamp").cast("long").alias("t"),
    )
    purch = ev10.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").cast("timestamp").cast("long").alias("t"),
        F.col("value").alias("pv"),
    )
    aj = asof_join(clicks, purch, on=["user_id"], left_ts="t")
    aj_plan = plan_of(aj)
    n_aj_exchanges = len(re.findall(r"\(\d+\) Exchange", aj_plan))
    sections.append((
        "As-of join (operators.asof.asof_join)",
        "The union+window formulation: both sides scan, union, ONE "
        "exchange on the key columns, one in-partition sort, a Window "
        "running last(payload, ignorenulls) — linear in |left|+|right| "
        "per key and whole-stage-codegen'd around the window. The naive "
        "range-join expression (equi key + non-equi ts residual) plans "
        "as BroadcastNestedLoopJoin, quadratic per key group; it must "
        "never appear.",
        aj_plan,
        ["Window", "!BroadcastNestedLoop", "!CartesianProduct"],
    ))
    if n_aj_exchanges != 1:
        sections.append((
            "ASOF exchange-count REGRESSION",
            f"expected exactly 1 Exchange, found "
            f"{n_aj_exchanges}",
            aj_plan, ["__NEVER__"],
        ))

    # 13. Content transforms as the benchmark and bench.py compose them
    from datax_spark.functions.content import (
        normalize_trailing_ws,
        sha256_hex,
        token_count_bpeish,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    ct = (
        docs.withColumn("text", normalize_trailing_ws("text"))
        .withColumn("text_sha256", sha256_hex("text"))
        .withColumn("n_tokens", token_count_bpeish("text"))
    )
    sections.append((
        "Where an epoch's Python time goes (functions.content)",
        PYTHON_TIME_NOTE,
        plan_of(ct),
        ["ArrowEvalPython", "sha2(", "!BatchEvalPython"],
    ))

    out = ["# Physical plans of the core operators\n",
           "Generated by `python tools/dump_plans.py` — the quoted plan\n"
           "properties are asserted, so regressions fail the script.\n"]
    failures = []
    for title, why, plan, needles in sections:
        out.append(f"\n## {title}\n\n{why}\n\n```\n{plan}```\n")
        for n in needles:
            # "!" = must NOT appear; "re:" = a regex instead of a substring
            pat = n[1:] if n.startswith("!") else n
            found = re.search(pat[3:], plan) if pat.startswith("re:") else pat in plan
            if n.startswith("!") and found:
                failures.append(f"{title}: forbidden '{pat}' present")
            elif not n.startswith("!") and not found:
                failures.append(f"{title}: missing '{n}'")

    os.makedirs(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "docs"), exist_ok=True)
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "docs", "PLANS.md")
    with open(path, "w") as fh:
        fh.write("".join(out))
    print(f"wrote {path}")
    if failures:
        for f in failures:
            print("PLAN REGRESSION:", f)
        raise SystemExit(1)
    print("all plan assertions hold")


if __name__ == "__main__":
    main()
