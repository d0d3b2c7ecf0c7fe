#!/usr/bin/env python3
"""Benchmark of the χ² term–category engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The program is compiled from the
checkout's sources (perfbench/build.py), the workload's inputs are generated
from the seed, and each workload runs in a fresh JVM at local[nproc] with
spark.sql.shuffle.partitions = nproc, driven as a closed loop with one
client. Every output is checked after the timed loop. The last stdout line
is one JSON object: {"correct", "attempted", "failed", "metrics"}; with
--trace 0 the metrics are the end-to-end ones, with --trace 1 the per-layer
ones from a traced run. The full run record, with its header, is written to
.bench_build/runs/. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
import math
import os
import random
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import corpus  # noqa: E402
import fixture  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

CPUS = len(os.sched_getaffinity(0))
HEAP = "3g"
K = 75
SETUP_PROBES = 1          # extra set-up-only JVMs; setup_s is the median of all
JVM_TIMEOUT_S = 150

WORKLOADS = ("chi2_reviews", "registry")
REVIEWS = corpus.Spec(docs=30_000, malformed=25, unadmitted=25)
# The loop runs for --seconds and at least this many jobs. The first job in
# a JVM is cold and the second still warming (its wall varies most), so the
# warm median is taken over the jobs after the second: at least three. A
# traced run alternates plain and traced jobs.
MIN_JOBS = 5
# One query from each of the operator families the roadmap is reworking
# (dedup, sim, text, rel, events), run once each on the measured fixture, so
# the memoized dedup docsets are paid inside the pass. Two untimed warm-up
# queries over a second fixture come first: without them the first query
# paid 2-5 s of JIT warm-up and the pass varied by 25% between runs. A full
# 124-query pass takes about 90 s warm on a 4-core host, too long for one
# run; the replay-store queries (6-10 s each, cold) and the ANN queries,
# whose DuckDB oracles take 5-20 s each, do not fit either.
REGISTRY = [
    "dedup_ngram_jaccard", "sim_cosine_topk", "text_tfidf", "rel_market_share",
    "events_sessionize",
]
REGISTRY_WARMUP = ["rel_market_share", "events_sessionize"]
FAMILIES = ["dedup", "sim", "text", "rel", "events"]

# Peak heap, the tail latency, the disk a run leaves behind and the failed
# share are in the run record and the per-layer set: the heap peak spread by
# 10-24% between runs of the same code, there are too few samples per run for
# a tail percentile, and the last two read 0 at a healthy commit.
END_TO_END = {"setup_s": "s", "cold_s": "s", "op_p50_s": "s"}
LAYER_UNITS = {
    "sources.read_s": "s", "sources.rows": "count", "sources.dropped_rows": "count",
    "text.tokenize_s": "s", "text.token_rows": "count",
    "stats.contingency_s": "s", "stats.pairs": "count", "stats.chi2_s": "s",
    "stats.topk_s": "s", "stats.topk_rows": "count",
    "pipeline.format_s": "s", "pipeline.lines": "count",
    "phase.build_s": "s", "phase.plan_s": "s", "phase.exec_s": "s",
    "phase.memo_build_s": "s", "exec.sched_s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_s": "s", "exec.task_cpu_s": "s", "exec.gc_s": "s", "exec.busy_frac": "ratio",
    "exec.scan_bytes": "bytes", "exec.scan_rows": "count",
    "exec.shuffle_write_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.output_rows": "count",
    "exec.persisted_rdds_after": "count",
    **{f"registry.{f}_s": "s" for f in FAMILIES},
    "latency.op_tail_s": "s", "trace.overhead_s": "s",
    "run.peak_heap_bytes": "bytes", "run.disk_left_bytes": "bytes", "run.failed_frac": "ratio",
}


class HarnessError(RuntimeError):
    pass


def dir_bytes(p: Path) -> int:
    return sum(f.stat().st_size for f in p.rglob("*") if f.is_file()) if p.exists() else 0


def launch(cp: str, work: Path, mode: str, extra: list) -> float:
    """Run the harness in a fresh JVM with a wiped private java.io.tmpdir and
    Spark local dir; return its set-up time (process start to READY)."""
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local"):
        (work / d).mkdir(parents=True)
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", *build.JVM_MODULE_OPTS,
           f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", cp, "perfbench.Harness",
           "--mode", mode, "--work", str(work), "--cpus", str(CPUS), *extra]
    with open(work / "jvm.log", "w") as log:
        t0 = time.perf_counter()
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, cwd=work, text=True)
        watchdog = threading.Timer(JVM_TIMEOUT_S, p.kill)
        watchdog.start()
        setup = None
        try:
            for line in p.stdout:
                if line.strip() == "READY" and setup is None:
                    setup = time.perf_counter() - t0
            rc = p.wait()
        finally:
            watchdog.cancel()
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0 or setup is None:
        tail = (work / "jvm.log").read_text(errors="replace")[-3000:]
        raise HarnessError(f"harness {mode} exited {rc}:\n{tail}")
    return setup


# ---- inputs -------------------------------------------------------------

def prepare(workload: str, seed: int, inputs: Path) -> dict:
    inputs.mkdir(parents=True)
    if workload == "chi2_reviews":
        c = corpus.generate(seed, REVIEWS)
        path = inputs / "reviews.jsonl"
        size = corpus.write_jsonl(path, c.lines)
        records = corpus.write_truth(inputs / "truth.parquet", c.records)
        return {"args": ["--input", str(path), "--k", str(K)],
                "truth": [str(inputs / "truth.parquet")], "records": records,
                "describe": {"lines": len(c.lines), "bytes": size, "admitted_docs": c.admitted,
                             "malformed_lines": c.malformed, "vocab": REVIEWS.vocab,
                             "categories": REVIEWS.categories},
                "admitted": c.admitted}
    if workload == "registry":
        fx, warm = inputs / "fixture", inputs / "warmup_fixture"
        fixture.write(seed, fx)
        fixture.write(seed + 1_000_003, warm)
        order = list(REGISTRY)
        random.Random(seed).shuffle(order)
        return {"args": ["--fixture", str(fx), "--warmup-fixture", str(warm),
                         "--warmup-queries", ",".join(REGISTRY_WARMUP),
                         "--queries", ",".join(order)],
                "fixture": str(fx), "describe": {"queries": order, "scale": "sf0.001 rows"}}
    raise SystemExit(f"unknown workload {workload!r}; one of {', '.join(WORKLOADS)}")


# ---- checks -------------------------------------------------------------

def check(workload: str, rec: dict, inp: dict) -> None:
    """Mark every operation whose output is wrong as failed (in place)."""
    ops = rec["ops"]
    if workload == "chi2_reviews":
        expected = oracle.chi2_top(inp["truth"], K)
        for op in ops:
            if op["ok"]:
                err = oracle.check_lines(op["out"], expected)
                counts = op.get("counts")
                if not err and counts and counts["sources.rows"] != inp["records"]:
                    err = f"source kept {counts['sources.rows']} rows of {inp['records']} well-formed"
                if err:
                    op.update(ok=False, error=f"wrong output: {err}")
    elif workload == "registry":
        sql = rec["extra"]["oracle_sql"]
        done = [op for op in ops if op["ok"]]
        res = oracle.check_registry(inp["fixture"], {op["id"]: op["out"] for op in done},
                                    {op["id"]: sql[op["name"]] for op in done if op["name"] in sql})
        for op in done:
            if res[op["id"]]:
                op.update(ok=False, error=f"wrong output: {res[op['id']]}")


# ---- metrics ------------------------------------------------------------

def spans_by_op(rec: dict) -> list:
    """[{span name: [durations s]}], one per traced operation's span tree."""
    kids = {}
    for s in rec["spans"]:
        kids.setdefault(s["parent"], []).append(s)
    out = []
    for root in kids.get(-1, []):
        names, stack = {}, list(kids.get(root["id"], []))
        while stack:
            s = stack.pop()
            names.setdefault(s["name"], []).append((s["end_ns"] - s["start_ns"]) / 1e9)
            stack.extend(kids.get(s["id"], []))
        out.append(names)
    return out


def end_to_end(workload, rec, inp, setups, disk_left):
    """cold_s: the workload's unit of work right after set-up in a fresh JVM
    (the first χ² job; the whole registry pass). op_p50_s: the median
    operation (the χ² jobs after the second; the registry's queries). Failed
    operations count against `failed` and give no time sample."""
    ops = [o for o in rec["ops"] if o["kind"] in ("job", "query") and not o["traced"]]
    attempted = len(rec["ops"])
    failed = sum(1 for o in rec["ops"] if not o["ok"])
    walls = [o["wall_s"] for o in ops if o["ok"]]
    if workload == "chi2_reviews":
        cold = ops[0]["wall_s"] if ops and ops[0]["ok"] else float("nan")
        warm = [o["wall_s"] for o in ops[2:] if o["ok"]]
    else:
        cold = sum(walls) if walls and len(walls) == len(ops) else float("nan")
        warm = walls
    m = {"setup_s": metrics.median(setups), "cold_s": cold, "op_p50_s": metrics.median(warm)}
    named = {"setup_s": m["setup_s"], "setup_samples_s": setups,
             "peak_heap_bytes": rec["peak_heap_bytes"], "disk_left_bytes": disk_left,
             "failed_frac": failed / attempted, "attempted": attempted,
             "op_walls_s": [o["wall_s"] for o in ops]}
    t = metrics.tail(warm, 90)
    if workload == "chi2_reviews":
        named.update(wall_s=m["op_p50_s"], cold_wall_s=cold, samples=len(warm),
                     docs_per_s=inp["admitted"] / m["op_p50_s"] if warm else 0.0,
                     wall_tail=t)
    else:
        named.update(total_s=cold, query_p50_s=m["op_p50_s"], samples=len(warm),
                     query_tail=t)
    return m, named, attempted, failed


def per_layer(workload, rec, inp, disk_left):
    m = {k: 0.0 for k in LAYER_UNITS}
    ops = rec["ops"]
    plain = [o for o in ops if o["kind"] in ("job", "query") and not o["traced"] and o["ok"]]
    if workload == "chi2_reviews":
        plain = plain[1:] or plain  # executor counters of warm jobs
    traced = spans_by_op(rec)
    med = metrics.median

    def span_med(name):
        xs = [sum(names[name]) for names in traced if name in names]
        return med(xs) if xs else 0.0

    if workload == "chi2_reviews":
        chain = ["sources.read", "text.tokenize", "stats.contingency", "stats.chi2",
                 "stats.topk", "pipeline.format"]
        selfs = [metrics.prefix_self_times([names[c][0] for c in chain])
                 for names in traced if all(c in names for c in chain)]
        for i, c in enumerate(chain):
            m[c + "_s"] = med([s[i] for s in selfs]) if selfs else 0.0
        counts = [o["counts"] for o in ops if o["traced"] and o.get("counts")]
        for key in ("sources.rows", "text.token_rows", "stats.pairs", "stats.topk_rows",
                    "pipeline.lines"):
            m[key] = med([c[key] for c in counts]) if counts else 0.0
        if counts:
            m["sources.dropped_rows"] = inp["describe"]["lines"] - m["sources.rows"]
        traced_wall = span_med("pipeline.format")
        reference = [o["wall_s"] for o in plain]
    else:
        fam = {}
        for o in plain:
            fam[o["family"]] = fam.get(o["family"], 0.0) + o["wall_s"]
        for f in FAMILIES:
            m[f"registry.{f}_s"] = fam.get(f, 0.0)
        m["phase.memo_build_s"] = sum(o.get("memo_build_s", 0.0) for o in ops)
        traced_wall = med([o["wall_s"] for o in ops if o["traced"] and o["ok"]] or [0.0])
        reference = [o["wall_s"] for o in ops if o["kind"] == "reference" and o["ok"]]
    for p in ("build", "plan", "exec"):
        m[f"phase.{p}_s"] = span_med(f"phase.{p}")
    plain_walls = [o["wall_s"] for o in plain]
    if plain_walls:
        m["trace.overhead_s"] = traced_wall - med(reference)
        t = metrics.tail(plain_walls, 90)
        m["latency.op_tail_s"] = t[1] if t else med(plain_walls)

    ex = [(o, o["exec"]) for o in plain if "exec" in o]
    if ex:
        for key in ("jobs", "stages", "tasks", "task_s", "task_cpu_s", "gc_s", "scan_bytes",
                    "scan_rows", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                    "output_rows"):
            m[f"exec.{key}"] = med([e[key] for _, e in ex])
        m["exec.busy_frac"] = med([e["task_s"] / (o["wall_s"] * CPUS) for o, e in ex])
        m["exec.sched_s"] = med([o["wall_s"] - e["task_s"] / CPUS for o, e in ex])
    m["exec.persisted_rdds_after"] = max((o["persisted_rdds_after"] for o in ops), default=0)
    m["run.peak_heap_bytes"] = rec["peak_heap_bytes"]
    m["run.disk_left_bytes"] = disk_left
    m["run.failed_frac"] = sum(1 for o in ops if not o["ok"]) / len(ops)
    return m


def commit() -> str:
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def main() -> int:
    # A terminated run still unwinds, so launch() stops its JVM.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = Path.cwd()
    try:
        cp = build.build(root)
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    run_dir = root / build.BUILD_DIR / "runs" / f"{a.workload}-seed{a.seed}-trace{a.trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    t0 = time.perf_counter()
    inp = prepare(a.workload, a.seed, run_dir / "inputs")
    gen_s = time.perf_counter() - t0
    try:
        setups = []
        if not a.trace:
            for i in range(SETUP_PROBES):
                setups.append(launch(cp, run_dir / f"probe{i}", "setup", []))
        main_dir = run_dir / "main"
        result = run_dir / "record.json"
        setups.append(launch(cp, main_dir, a.workload, [
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--result", str(result),
            "--run-id", f"{a.workload}-{a.seed}-{a.trace}", "--min-ops", str(MIN_JOBS),
            *inp["args"]]))
        disk_left = dir_bytes(main_dir / "tmp") + dir_bytes(main_dir / "local")
        rec = json.loads(result.read_text())
    except HarnessError as e:
        print(str(e), file=sys.stderr)
        return 3
    t0 = time.perf_counter()
    check(a.workload, rec, inp)
    check_s = time.perf_counter() - t0
    e2e, named, attempted, failed = end_to_end(a.workload, rec, inp, setups, disk_left)
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "header": {**rec["header"], "commit": commit(), "source_stamp":
                   (root / build.BUILD_DIR / "classes.stamp").read_text(),
                   "heap": HEAP, "closed_loop_clients": 1,
                   "scoped_conf": {o["name"]: o["scoped_conf"] for o in rec["ops"]
                                   if "scoped_conf" in o}},
        "inputs": inp["describe"], "generate_s": gen_s, "check_s": check_s,
        "end_to_end": named,
        "failures": [{k: o.get(k) for k in ("name", "error", "free_disk_bytes")}
                     for o in rec["ops"] if not o["ok"]],
    }
    if a.trace:
        out = per_layer(a.workload, rec, inp, disk_left)
        units = LAYER_UNITS
        record["per_layer"] = out
        record["spans"] = rec["spans"]
        record["ops"] = rec["ops"]
    else:
        out, units = e2e, END_TO_END
    (run_dir.parent / f"{run_dir.name}.json").write_text(json.dumps(record, indent=1))
    shutil.rmtree(run_dir, ignore_errors=True)
    for k, v in named.items():
        print(f"{a.workload} {k} = {v}")
    for f in record["failures"]:
        print(f"FAILED {f['name']}: {f['error']}")
    def value(v):  # a metric with no sample (every operation failed) reads null
        return None if isinstance(v, float) and math.isnan(v) else v

    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": value(out[k]), "unit": units[k]} for k in units}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
