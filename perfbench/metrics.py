"""Turns the raw observations of one benchmark run into its metrics.

The JVM driver (src/main/scala/graftbench/Main.scala) writes one JSON object
per run: set-up times, one record per engine call with its output checks,
heap samples, spans and, in a traced run, one record per Spark job. This
module holds the pure functions that aggregate them, so they can be tested
without Spark.
"""

import re
import statistics

# Engine modules that submit Spark jobs, keyed by the source file Spark names
# in a job's call site ("count at PageRank.scala:146").
MODULE_FILES = {
    "GraphOps.scala": "graph.GraphOps",
    "PageRank.scala": "graph.PageRank",
    "InOutPageRank.scala": "graph.InOutPageRank",
    "ArnoldiPageRank.scala": "graph.ArnoldiPageRank",
    "ConnectedComponents.scala": "graph.ConnectedComponents",
    "LabelPropagation.scala": "graph.LabelPropagation",
    "Triangles.scala": "graph.Triangles",
    "EdgeStore.scala": "ingest.EdgeStore",
    "TableIO.scala": "ingest.TableIO",
    "IncrementalRank.scala": "streaming.IncrementalRank",
    "Dedup.scala": "pipeline.Dedup",
    "Similarity.scala": "pipeline.Similarity",
    "TextAnalysis.scala": "pipeline.TextAnalysis",
    "Multimodal.scala": "pipeline.Multimodal",
}

# Modules reported per layer (six metrics each). ArnoldiPageRank is mapped
# but not reported: no timed call reaches it.
MODULES = [
    "graph.GraphOps", "graph.PageRank", "graph.InOutPageRank",
    "graph.ConnectedComponents",
    "graph.LabelPropagation", "graph.Triangles", "ingest.EdgeStore",
    "pipeline.Dedup", "pipeline.Similarity", "pipeline.Multimodal",
]
MODULE_FIELDS = ["jobs", "job_s", "task_cpu_s", "gc_s", "shuffle_mb", "spill_mb"]

# Timed ops with a span of their own; a query's jobs belong to its pass.
OPS = ["build", "pagerank", "cc", "batch", "query_block"]

# The calls of one graph_solve round, in order.
SOLVE_STEPS = ["build", "pagerank", "cc", "store", "batch"]

# The query block (Main.QueryBlock), by group.
QUERY_GROUPS = {
    "graph": ["a2_pagerank5", "a3_inout", "lp_labelprop3", "tc_triangles",
              "k2_stats", "c2_spmv"],
    "pipeline": ["t1_tokens", "t3_dedup_exact", "d1_minhash_neardup",
                 "d3_ngram_jaccard", "m2_knn_lsh", "m3_neardup_cosine",
                 "mm1_media_features"],
    "relational": ["r2_join_agg", "r5_sessionize"],
}
QUERIES = [q for g in QUERY_GROUPS.values() for q in g]

MIB = 1048576.0
_SITE = re.compile(r" at ([A-Za-z0-9_$]+\.scala):\d+")


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def percentile_report(samples, levels=(99.9, 99.0, 95.0, 90.0, 75.0)):
    """Median plus the highest percentile with at least ten samples beyond it.

    Returns {"p50", "n", "pct", "value"}; "pct" and "value" are None when no
    level in `levels` has ten samples above it.
    """
    xs = sorted(samples)
    n = len(xs)
    out = {"p50": median(xs), "n": n, "pct": None, "value": None}
    for p in levels:
        if n * (100.0 - p) / 100.0 >= 10:
            # nearest-rank percentile
            k = max(0, min(n - 1, int(-(-p * n // 100)) - 1))
            out["pct"], out["value"] = p, xs[k]
            break
    return out


def module_of(site):
    """Engine module named by a call site, or None for any other caller."""
    if not site:
        return None
    m = _SITE.search(site)
    return MODULE_FILES.get(m.group(1)) if m else None


def job_module(job):
    """A job's module: its own call site first, else its SQL execution's
    (jobs Spark submits from broadcast threads carry no user frame)."""
    return module_of(job.get("site")) or module_of(job.get("sql_site"))


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_gap_s(span, jobs):
    """Span wall minus the union of its jobs' intervals (clipped to the span):
    the time the driver spent outside any Spark job."""
    s, e = span["start_ms"], span["end_ms"]
    covered = union_length(
        (max(s, j["start_ms"]), min(e, j["end_ms"]))
        for j in jobs if j["end_ms"] >= 0)
    return max(0.0, span["wall_s"] - covered / 1000.0)


def op_failed(op, pins):
    """True when a call threw, failed a check, or (queries) its output does
    not match the pinned row count and digest."""
    if op.get("error") or not all(op.get("checks", {}).values()):
        return True
    if op["op"] == "query":
        pin = pins.get(op["name"])
        if pin is None or op.get("rows") != pin["rows"]:
            return True
        if "digest" in op and op["digest"] != pin["digest"]:
            return True
    return False


def failure_counts(ops, pins):
    """(attempted, failed) over every call the run made, warm-up included."""
    return len(ops), sum(1 for o in ops if op_failed(o, pins))


def timed(ops, kind):
    return [o for o in ops if o["op"] == kind and o["round"] >= 0]


def ok(ops, pins):
    return [o for o in ops if not op_failed(o, pins)]


def op_walls(result, pins):
    """Wall seconds of each timed unit of work: one graph_solve round (its
    five calls) or one pass over the query block. A unit with a failed call
    is left out."""
    ops, w = result["ops"], result["workload"]
    kinds = SOLVE_STEPS if w == "graph_solve" else ["query"]
    rounds = {}
    for o in ops:
        if o["round"] >= 0 and o["op"] in kinds:
            rounds.setdefault(o["round"], []).append(o)
    want = len(kinds) if w == "graph_solve" else len(QUERIES)
    return [sum(o["wall_s"] for o in rs) for _, rs in sorted(rounds.items())
            if len(rs) == want and not any(op_failed(o, pins) for o in rs)]


def pagerank_edges_per_s(ops, pins):
    """Edge-iterations per second of graph_solve's PageRank.run calls."""
    calls = ok(timed(ops, "pagerank"), pins)
    secs = sum(o["wall_s"] for o in calls)
    work = sum(o["edges"] * o["iterations"] for o in calls)
    return work / secs if secs > 0 else 0.0


def end_to_end(result, pins):
    walls = op_walls(result, pins)
    return {
        "setup_s": median(result["setup_s"]) + result["setup_once_s"],
        "op_p50_s": median(walls),
        "live_heap_mb": max(result["heap_mb"] or [0.0]),
    }


def phases(result, pins):
    """Median wall of each call of a graph_solve round, and query_mix's
    query block: the timings a reader asks for by name."""
    ops = result["ops"]
    out = {f"{k}_s": median(o["wall_s"] for o in ok(timed(ops, k), pins))
           for k in SOLVE_STEPS}
    out["query_block_s"] = (median(op_walls(result, pins))
                            if result["workload"] == "query_mix" else 0.0)
    return out


def per_layer(result, pins):
    ops, jobs, spans = result["ops"], result["jobs"], result["spans"]
    timed_ops = set(SOLVE_STEPS) | {"query"}
    out = {}

    mods = {m: dict.fromkeys(MODULE_FIELDS, 0.0) for m in MODULES}
    for j in jobs:
        m = job_module(j)
        if j.get("op") not in timed_ops or m not in mods:
            continue
        r = mods[m]
        r["jobs"] += 1
        r["job_s"] += max(0, j["end_ms"] - j["start_ms"]) / 1000.0
        r["task_cpu_s"] += j["cpu_s"]
        r["gc_s"] += j["gc_s"]
        r["shuffle_mb"] += j["shuffle_write_bytes"] / MIB
        r["spill_mb"] += j["spill_bytes"] / MIB
    for m in MODULES:
        for f in MODULE_FIELDS:
            out[f"{m}.{f}"] = mods[m][f]

    by_span = {}
    for j in jobs:
        by_span.setdefault(j.get("span"), []).append(j)
    for op in OPS:
        ss = [s for s in spans if s["op"] == op]
        out[f"{op}.driver_gap_s"] = median(
            driver_gap_s(s, by_span.get(s["id"], [])) for s in ss)
        out[f"{op}.jobs"] = median(len(by_span.get(s["id"], [])) for s in ss)

    for q in QUERIES:
        out[f"q.{q}_s"] = median(o["wall_s"] for o in ok(timed(ops, "query"), pins)
                                 if o["name"] == q)

    prs = ok(timed(ops, "pagerank"), pins)
    pr_work = sum(o["edges"] * o["iterations"] for o in prs)
    pr_shuffle = sum(j["shuffle_write_bytes"] for j in jobs
                     if j.get("op") == "pagerank"
                     and job_module(j) == "graph.PageRank")
    batches = ok(timed(ops, "batch"), pins)
    out["graph.PageRank.run.iterations"] = median(o["iterations"] for o in prs)
    out["graph.PageRank.run.edges_per_s"] = pagerank_edges_per_s(ops, pins)
    out["graph.PageRank.run.iter_s_p50"] = median(
        t for o in prs for t in o["iter_wall_s"])
    out["graph.PageRank.run.shuffle_bytes_per_edge_iter"] = (
        pr_shuffle / pr_work if pr_work else 0.0)
    out["graph.cached_mb"] = result["cached_mb"]
    out["ingest.EdgeStore.affected_bucket_frac"] = median(
        o["affected_buckets"] / o["total_buckets"] for o in batches)
    out["ingest.EdgeStore.store_mb"] = median(o["store_mb"] for o in batches)
    out["streaming.rerank_iterations"] = median(o["iterations"] for o in batches)
    counters = result.get("counters", {})
    for k in ("task_failures", "stage_resubmits", "accumulator_update_errors"):
        out[f"spark.{k}"] = counters.get(k, 0)
    attempted, failed = failure_counts(ops, pins)
    out["failed_frac"] = failed / attempted if attempted else 1.0
    ph = phases(result, pins)
    for k in SOLVE_STEPS:
        out[f"phase.{k}_s"] = ph[f"{k}_s"]
    out["traced.op_p50_s"] = median(op_walls(result, pins))
    return out


def trace_records(result):
    """Spans and job records as JSON-lines objects for the trace file."""
    for s in result["spans"]:
        yield {"type": "span", **s}
    for j in result["jobs"]:
        yield {"type": "job", "module": job_module(j), **j}
