"""Turn one run's measurements into the printed report, the final JSON
object and (traced runs) the per-layer table."""

from __future__ import annotations

import math
import statistics

import numpy as np

import probes
import workloads
from spans import duration_ms, layer_self_ms

E2E = {
    "setup_s": "s",
    "search_p50_ms": "ms",
    "miss_search_p50_ms": "ms",
    "dashboard_p50_ms": "ms",
    "build_docs_per_s": "1/s",
    "index_bytes_per_input_byte": "ratio",
    "peak_rss_mb": "MB",
}
# Per-layer metrics, measured by a traced run of every workload.
PER_LAYER = {
    "session.start_s": "s",
    "build.wall_s": "s",
    "build.spark_jobs": "count",
    "build.tasks": "count",
    "build.failed_tasks": "count",
    "build.postings_bytes_per_doc": "B/doc",
    "analyzer.tokens_per_s": "1/s",
    "codec.encode_postings_per_s": "1/s",
    "codec.decode_postings_per_s": "1/s",
    "codec.decode_mb_per_s": "MB/s",
    "queryparse.parse_us": "us",
    "engine.open_ms": "ms",
    "engine.explain_ms": "ms",
    "engine.search_self_ms": "ms",
    "engine.est_postings_per_query": "count",
    "engine.est_postings_per_hit": "count",
    "engine.serving_route_share": "ratio",
    "engine.repeat_term_share": "ratio",
    **{f"engine.{p}_ms": "ms" for p in workloads.PANELS
       if p not in workloads.FEATUREOPS},
    **{f"featureops.{p}_ms": "ms" for p in workloads.FEATUREOPS},
    "dist.search_ms": "ms",
    "dist.batch_ms": "ms",
    "dist.jobs_per_search": "count",
    "dist.tasks_per_search": "count",
    "dist.jobs_per_batch": "count",
    "dist.failed_tasks": "count",
    "trace.overhead_pct": "%",
}


# (metric name stem, request kind) of the loop's timings
TIMED = (("search", "hot"), ("miss_search", "miss"),
         ("dashboard", "dashboard"))


def median(xs) -> float:
    return statistics.median(xs) if xs else math.nan


def percentile_summary(xs: list[float]) -> dict:
    """Median plus the highest of p99/p95/p90/p75 with at least ten
    samples beyond it."""
    a = np.asarray(xs, dtype=np.float64)
    out = {"n": int(a.size), "p50": float(np.percentile(a, 50))}
    for q in (99, 95, 90, 75):
        if a.size * (100 - q) / 100 >= 10:
            out[f"p{q}"] = float(np.percentile(a, q))
            break
    return out


def timing_lines(name: str, xs: list) -> list[str]:
    """Median and the highest percentile with >= 10 samples beyond it."""
    if not xs:
        return [f"{name}_p50_ms = n/a (no samples)"]
    s = percentile_summary(xs)
    lines = [f"{name}_p50_ms = {s['p50']:.4f} ms (n={s['n']})"]
    lines += [f"{name}_{k}_ms = {v:.4f} ms (n={s['n']})"
              for k, v in s.items() if k not in ("n", "p50")]
    return lines


def end_to_end(run, ctx) -> dict:
    o = run.out
    inputs = ["base"] + [k for k in ctx["corpus"] if k.startswith("append")]
    return {
        "setup_s": o["setup_s"],
        "search_p50_ms": median(run.quiet("hot")),
        "miss_search_p50_ms": median(run.quiet("miss")),
        "dashboard_p50_ms": median(run.quiet("dashboard")),
        "build_docs_per_s": o["build_docs"] / o["build_s"],
        "index_bytes_per_input_byte": o["content_bytes"] / sum(
            ctx["text_bytes"][k] for k in inputs),
        "peak_rss_mb": o["peak_rss_mb"],
    }


def pool_sizes(run) -> dict:
    """Sigma-df of the hot pool and of the miss terms used, against the
    engine's decoded-postings LRU bound."""
    eng = run.out["engine"]
    df = lambda t: eng.explain(t)["estimated_postings"]  # noqa: E731
    miss = run.seen_terms - run.reqs.pool_terms
    return {
        "pool_terms": len(run.reqs.pool_terms),
        "pool_sum_df": sum(df(t) for t in run.reqs.pool_terms),
        "miss_terms": len(miss),
        "miss_sum_df": sum(df(t) for t in miss),
        "lru_max_entries": eng.post_cache_max_entries,
    }


def spans_named(spans, name: str) -> list[dict]:
    return [s for s in spans if s["name"] == name]


def per_layer(run, ctx) -> tuple[dict, dict]:
    """(per-layer metrics of every workload, ingest-only table metrics)."""
    spans = run.tracer.spans
    named = lambda name: spans_named(spans, name)  # noqa: E731
    ms = lambda name: [duration_ms(s) for s in named(name)]  # noqa: E731
    main_build = named("index.build:build")[-1]
    by_req: dict = {}
    for s in spans:
        if s["name"] in ("query.engine:explain",
                         "query.engine:search_collect"):
            by_req.setdefault(s["request"], {})[s["name"]] = duration_ms(s)
    search_self = [r["query.engine:search_collect"]
                   - r["query.engine:explain"] for r in by_req.values()
                   if len(r) == 2]
    est = [p["estimated_postings"] for p in run.explains]
    dist = named("query.engine:dist_search")
    batch = named("query.engine:dist_search_many")
    m = {
        "session.start_s": run.out["session_s"],
        "build.wall_s": duration_ms(main_build) / 1e3,
        "build.spark_jobs": main_build["spark_jobs"],
        "build.tasks": main_build["tasks"],
        "build.failed_tasks": main_build["failed_tasks"],
        "build.postings_bytes_per_doc": probes.postings_bytes(ctx["index"])
        / run.out["engine"].n_docs,
        **run.out["probes"],
        "queryparse.parse_us": median(ms("queryparse:parse_query")) * 1e3,
        "engine.open_ms": median(ms("query.engine:open")),
        "engine.explain_ms": median(ms("query.engine:explain")),
        "engine.search_self_ms": median(search_self),
        "engine.est_postings_per_query": sum(est) / len(est),
        "engine.est_postings_per_hit": sum(est) / max(1, sum(run.hits)),
        "engine.serving_route_share": sum(
            p["route"] == "serving-node" for p in run.explains) / len(est),
        "engine.repeat_term_share": run.term_uses[0] / run.term_uses[1],
        "dist.search_ms": median([duration_ms(s) for s in dist]),
        "dist.batch_ms": median([duration_ms(s) for s in batch]),
        "dist.jobs_per_search": median([s["spark_jobs"] for s in dist]),
        "dist.tasks_per_search": median([s["tasks"] for s in dist]),
        "dist.jobs_per_batch": median([s["spark_jobs"] for s in batch]),
        "dist.failed_tasks": sum(s["failed_tasks"] for s in dist + batch),
        "trace.overhead_pct": (median(run.lat_traced["hot"])
                               / median(run.lat["hot"]) - 1) * 100,
    }
    for p in workloads.PANELS:
        layer = "featureops" if p in workloads.FEATUREOPS else "engine"
        m[f"{layer}.{p}_ms"] = median(ms(f"query.{layer}:{p}"))

    t: dict = {}
    o = run.out
    if "appended" in o:
        appends = named("index.build:append")
        t["append.wall_s"] = median([duration_ms(s) / 1e3 for s in appends])
        t["append.spark_jobs"] = median([s["spark_jobs"] for s in appends])
        t["removals.remove_ms"] = median(ms("index.removals:remove_docs"))
        t["removals.tombstones"] = o["tombstones"]
        t["compact.wall_s"] = o["compact_s"]
        t["compact.bytes_rewritten_per_live_byte"] = (
            o["compact_bytes"] / o["content_bytes"])
        t["compact.units_before"] = o["units_before"]
        t["compact.units_after"] = o["units_after"]
    return m, t


def layer_table(run, metrics: dict, table: dict) -> str:
    spans = run.tracer.spans
    own = layer_self_ms(spans)
    total = sum(own.values())
    lines = ["layer self time (traced spans, ms):",
             f"{'layer':<20}{'self_ms':>12}{'share':>9}{'spans':>8}"]
    counts: dict = {}
    for s in spans:
        layer = s["name"].split(":", 1)[0]
        counts[layer] = counts.get(layer, 0) + 1
    for layer, v in sorted(own.items(), key=lambda kv: -kv[1]):
        lines.append(f"{layer:<20}{v:>12.1f}{v / total:>9.1%}"
                     f"{counts[layer]:>8}")
    lines += ["", "per-layer metrics:"]
    for name, unit in PER_LAYER.items():
        lines.append(f"{name:<40}{metrics[name]:>16.6g} {unit}")
    for name, v in table.items():
        lines.append(f"{name:<40}{v:>16.6g}")
    return "\n".join(lines) + "\n"


def build(args, run, ctx, health) -> dict:
    e2e = end_to_end(run, ctx)
    attempted, failed = run.attempted, run.failed
    lines = [f"perfbench {args.workload} seed={args.seed} "
             f"seconds={args.seconds:g} trace={args.trace}",
             "run health: " + ", ".join(f"{k}={v}" for k, v in
                                       health.items())]
    o = run.out
    if args.trace == 0:
        lines += [f"setup_s = {e2e['setup_s']:.4f} s"]
        steal = run.window_steal
        lines.append(f"quiet windows: {len(run.quiet_windows)} of "
                     f"{len(steal)}, CPU steal per window "
                     f"{min(steal):.1f}-{max(steal):.1f} %")
        for name, kind in TIMED:
            lines += timing_lines(name, run.quiet(kind))
        lines.append("all windows (not gated): " + ", ".join(
            f"{name}_p50_ms = {median(run.lat[kind]):.4f} ms "
            f"(n={len(run.lat[kind])})" for name, kind in TIMED))
        mix = " : ".join(f"{n} {k}" for k, n in workloads.MIX.items())
        lines.append(f"ops_per_s = {o['ops_per_s']:.6g} 1/s "
                     f"(blend of {mix} per block, not gated)")
        for kind in workloads.MIX:
            xs = run.lat[kind]
            lines.append(f"{kind}_per_s = "
                         f"{len(xs) / (sum(xs) / 1e3):.6g} 1/s (not gated)")
        if "miss_stream_dry_s" in o:
            lines.append(f"miss stream ran dry after "
                         f"{o['miss_stream_dry_s']:.1f} s of the loop")
        for name in ("build_docs_per_s",
                     "index_bytes_per_input_byte", "peak_rss_mb"):
            lines.append(f"{name} = {e2e[name]:.6g} {E2E[name]}")
        if "appended" in o:
            lines.append(f"append_docs_per_s = "
                         f"{o['appended'] / o['append_s']:.6g} 1/s")
            lines.append(f"refresh_ms = {median(o['refresh_ms']):.4f} ms "
                         f"(n={len(o['refresh_ms'])})")
        lines.append(f"error_ratio = {failed / attempted:.6g} "
                     f"({failed}/{attempted})")
        lines.append("sizes: " + ", ".join(
                f"{k}={v}" for k, v in pool_sizes(run).items()))
        metrics = e2e
        units = E2E
        table = ""
    else:
        metrics, extra = per_layer(run, ctx)
        units = PER_LAYER
        table = layer_table(run, metrics, extra)
        lines += table.rstrip("\n").split("\n")
    bad = [k for k, v in metrics.items() if not math.isfinite(v)]
    if bad:
        raise RuntimeError(f"metrics without samples: {bad}")
    final = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u}
                    for k, u in units.items()},
    }
    return {"lines": lines, "final": final, "table": table,
            "health": health, "e2e": e2e,
            "latencies": dict(run.lat),
            "latency_windows": dict(run.lat_window),
            "window_steal": run.window_steal}
