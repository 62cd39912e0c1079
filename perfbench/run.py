#!/usr/bin/env python3
"""miru_spark benchmark: `serve` and `ingest` workloads.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 8 --trace 0

Run from the repository root. Each run generates its corpus from `--seed`,
starts one local Spark session, sets up, measures, checks every answer it
can, and prints a report. The last line of standard output is one JSON
object: `correct`, `attempted`, `failed` and `metrics` -- the end-to-end
metrics with `--trace 0`, the per-layer metrics with `--trace 1`. Results,
spans and the per-layer table are also written under `.perfbench/results/`.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import resource
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
for p in (HERE, ROOT):
    if p not in sys.path:
        sys.path.insert(0, p)

BASE_DOCS = 8 * 2048  # eight index partitions
APPEND_DOCS = 2048  # one partition per append
WARM_DOCS = 4 * 2048
HEAP = "4g"


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def corpus_slices(workload: str, work: str) -> dict[str, tuple]:
    """name -> (start row, stop row, parquet dir)."""
    d = lambda name: os.path.join(work, "corpus", name)  # noqa: E731
    out = {"base": (0, BASE_DOCS, d("base"))}
    if workload != "ingest":
        return out
    from workloads import APPENDS

    for i in range(APPENDS):
        lo = BASE_DOCS + i * APPEND_DOCS
        out[f"append{i}"] = (lo, lo + APPEND_DOCS, d(f"append{i}"))
    lo = BASE_DOCS + APPENDS * APPEND_DOCS
    out["warm"] = (lo, lo + WARM_DOCS, d("warm"))
    return out


def make_corpus(seed: int, slices: dict) -> dict:
    """Generate the corpus in a child process, so its arrays never count
    toward this process's peak RSS."""
    cmd = [sys.executable, os.path.join(HERE, "corpus.py"), "--seed",
           str(seed)]
    for lo, hi, path in slices.values():
        cmd += ["--slice", f"{lo}:{hi}:{path}"]
    res = subprocess.run(cmd, capture_output=True, text=True, timeout=300,
                         check=True)
    return json.loads(res.stdout.strip().splitlines()[-1])


def start_session(nproc: int, work: str):
    from miru_spark.session import get_spark

    java = (f"-Xms{HEAP} -XX:+UseParallelGC -XX:ParallelGCThreads={nproc} "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    conf = {
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions": java,
        "spark.ui.showConsoleProgress": "false",
    }
    spark = get_spark(app_name="perfbench", master=f"local[{nproc}]",
                      extra_conf=conf)
    return spark, {
        "master": f"local[{nproc}]",
        "heap": f"-Xms{HEAP} -Xmx{HEAP}",
        "gc": f"ParallelGC, ParallelGCThreads={nproc}",
        "console_progress": False,
    }


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    try:
        proc.stdin.close()
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["serve", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    # The result stream is the original stdout; the JVM, the corpus child
    # and any library chatter write to stderr.
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)

    try:
        import miru_spark  # noqa: F401
    except ImportError as e:
        log(f"perfbench: miru_spark is not importable from {ROOT}: {e}")
        return 2

    import probes
    import report
    import workloads
    from spans import Tracer

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench", "work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    results = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(results, exist_ok=True)
    # every temporary file of this process, its children and the JVM
    # stays inside the work directory
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")

    spark = None
    try:
        slices = corpus_slices(args.workload, work)
        gen = make_corpus(args.seed, slices)
        ctx = {
            "corpus": {k: v[2] for k, v in slices.items()},
            "text_bytes": {k: gen["text_bytes"][v[2]]
                           for k, v in slices.items()},
            "index": os.path.join(work, "index"),
            "warm_index": os.path.join(work, "warm_index"),
        }
        tracer = Tracer(args.trace == 1)
        cpu0 = probes.cpu_times()
        t0 = time.perf_counter()
        with tracer.span("session:get_spark"):
            spark, conditions = start_session(nproc, work)
        session_s = time.perf_counter() - t0
        tracer.sc = spark.sparkContext
        run = workloads.Run(spark, tracer, args.seed, args.seconds, log)
        workloads.WORKLOADS[args.workload](run, ctx)
        run.out["setup_s"] = (run.out["setup_end"] - t0
                              + run.out.get("warmup_s", 0.0))
        run.out["session_s"] = session_s
        run.out["peak_rss_mb"] = (
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024)
        run.out["content_bytes"] = probes.content_bytes(ctx["index"])
        if args.trace:
            run.out["probes"] = {
                "analyzer.tokens_per_s":
                    probes.analyzer_tokens_per_s(args.seed, tracer),
                **probes.codec_rates(ctx["index"], tracer),
            }
        health = {
            **conditions, "nproc": nproc,
            "host_mem_bw_gbps": gen["host_mem_bw_gbps"],
            "cpu_steal_pct": probes.steal_pct(cpu0, probes.cpu_times()),
            "loop_cpu_share": run.out.get("loop_cpu_share"),
            "quiet_wait_s": run.out.get("quiet_wait_s"),
            "git_commit": probes.git_commit(ROOT),
            "source_digest": probes.source_digest(ROOT),
        }
        result = report.build(args, run, ctx, health)
        tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        if args.trace:
            tracer.write(os.path.join(results, f"{tag}.spans.jsonl"))
            with open(os.path.join(results, f"{tag}.layers.txt"), "w") as f:
                f.write(result["table"])
        with open(os.path.join(results, f"{tag}.json"), "w") as f:
            json.dump({k: v for k, v in result.items() if k != "table"},
                      f, indent=1, default=str)
    finally:
        # Java objects still held here would be released after the JVM
        # has gone, and py4j would log each failed release.
        run = tracer = None
        gc.collect()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    for line in result["lines"]:
        print(line, file=out)
    print(json.dumps(result["final"]), file=out)
    out.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
