"""The repository benchmark: the DataONE service path (ingest -> sessions ->
gold -> API) and the dedup corpus, measured end to end and layer by layer.

    python3 perfbench/run.py --workload api_serve --seed 1 --seconds 14 --trace 0

Builds the engine from source (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), drives the engine's
public functions in one JVM (perfbench/scala/Harness.scala), checks the
outputs against DuckDB replays (perfbench/oracle.py), writes a per-run
record under .bench_runs/, and prints one JSON result as the last line.
With --trace 0 the result holds the end-to-end metrics; with --trace 1 the
per-layer metrics and the tracing overhead.

    python3 perfbench/run.py --all --seed 1 --seconds 14

runs every workload untraced and prints each end-to-end metric by name.
"""
import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ["api_serve", "corpus_dedup"]
RUN_LIMIT_S = 150          # JVM budget of one run, which must end within 180 s
SETUP_REPS = 3
HEAP = "2g"
# api_serve's JVM compiles with C1 alone. Request planning runs a large body
# of driver code that the C2 tier is still compiling, at about a thousand
# methods a second, a minute into a run, so a run's speed hung on how far
# the compiler had got. On a 4-core VM, runs of the same two seeds spread by
# 20% in requests/s with C2 and by 6% with C1 alone. A C2-steady window
# needs about 100 s of serving per run, more than the run budget allows.
# The dedup chain spends its time in generated code, which C1 runs about 40%
# slower and with a wider spread; it keeps the default tiers.
COMPILER_FLAGS = {"api_serve": ["-XX:TieredStopAtLevel=1"], "corpus_dedup": []}
# the unit operation of each workload, and what its items are
UNIT = {"api_serve": ("one request: interpret, execute, collect", "requests"),
        "corpus_dedup": ("one pass of the dedup chain", "corpus tokens")}


def cores():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(4, n))


def make_inputs(workload, seed, inp):
    """Generate the workload's inputs; returns (harness config, check data)."""
    rng = random.Random(f"{workload}:{seed}")
    if workload == "api_serve":
        ev = gen.service_events(rng, os.path.join(inp, "events"))
        streams, warmup = gen.request_streams(rng, ev["users"], gen.SERVICE_DAYS)
        cfg = {"events_dir": ev["events_dir"], "raw_lines": ev["raw_lines"],
               "robot_cidrs": gen.ROBOT_CIDRS, "requests": streams,
               "warmup_per_client": warmup}
        return cfg, ev
    c = gen.corpus(rng, os.path.join(inp, "corpus", "corpus.parquet"))
    return {"corpus": c["corpus"], "corpus_tokens": c["corpus_tokens"]}, c


def cpu_times():
    """Aggregate (busy, steal, total) jiffies from /proc/stat, or None."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return sum(f[:3]) + sum(f[5:7]), f[7] if len(f) > 7 else 0, sum(f)


def host_share(before, after):
    """Busy and steal shares of all CPU time between two readings: steal is
    time the hypervisor gave to other guests, a sign of a noisy host."""
    if not before or not after or after[2] == before[2]:
        return None
    total = after[2] - before[2]
    return {"busy": (after[0] - before[0]) / total, "steal": (after[1] - before[1]) / total}


def run_harness(cp, cfg, work, deadline):
    cfg_path = os.path.join(work, "config.json")
    out_path = os.path.join(work, "out.json")
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + build.JVM_FLAGS + COMPILER_FLAGS[cfg["workload"]] +
           [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-cp", cp,
            "perfbench.Harness", cfg_path, out_path])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError("harness exceeded the run time limit")
    if rc != 0 or not os.path.exists(out_path):
        tail = open(log, errors="replace").read()[-3000:]
        raise RuntimeError(f"harness exited {rc}:\n{tail}")
    with open(out_path) as fh:
        return json.load(fh), cmd


def check(workload, cfg, out, data):
    """All output checks; returns (names of checks run, failure messages)."""
    f = out["facts"]
    checks, fails = [], []

    def expect(name, got, want):
        checks.append(name)
        if got != want:
            fails.append(f"{name}: got {got}, want {want}")

    if workload == "api_serve":
        expect("bronze rows = distinct well-formed ids", f["bronze_rows"], data["distinct_events"])
        expect("bronze ids distinct", f["bronze_ids"], f["bronze_rows"])
        expect("quarantine = planted malformed lines", f["quarantined"], data["malformed"])
        expect("robot tags = planted robot events", f["robot_rows"], data["robot_events"])
        checks.append("SUSHI reports written")
        if f["reports"] < 1:
            fails.append("no SUSHI report written")
        con = oracle.events_db(data["table"])
        requests = {r["key"]: r for s in cfg["requests"] for r in s}
        # one check per distinct response, so failed never exceeds attempted
        checks += [f"API response = DuckDB replay: {requests[k]['kind']}"
                   for k in out["responses"]]
        fails += oracle.check_responses(con, out["responses"], requests)
        if out["response_repeats"]:
            checks.append("repeated requests give identical responses")
            if out["response_mismatch"]:
                fails.append(f"{out['response_mismatch']} of {out['response_repeats']} "
                             "repeated responses differed from the first")
    if workload == "corpus_dedup":
        checks += ["ExactSubstr coverage = md5-gram oracle", "trim removes covered tokens",
                   "planted copies share a component"]
        fails += oracle.check_coverage(data["corpus"], f["coverage_dir"])
        fails += oracle.check_trim(f["coverage_dir"], f["trim_dir"])
        fails += oracle.check_components(f["components_dir"], data["exact_pairs"])
    return checks, fails


def end_to_end(workload, out, data):
    ok = [o for o in out["ops"] if o["ok"]]
    if not ok:
        raise RuntimeError("no operation completed: " + "; ".join(out["failures"][:3]))
    lat = [o["lat_ms"] for o in ok]
    f = out["facts"]
    if workload == "api_serve":
        items_per_s = len(ok) / out["measure_s"]
    else:
        items_per_s = sum(o["items"] for o in ok) / (sum(o["lat_ms"] for o in ok) / 1e3)
    if workload == "corpus_dedup":
        stored = f["stored_bytes"] / data["corpus_tokens"]
    else:
        stored = f["stored_bytes"] / f["bronze_rows"]
    return {
        "setup_s": (out["session_start_s"] + statistics.median(out["setup_s"]) +
                    out["warmup_s"], "s"),
        "latency_p50_ms": (statistics.median(lat), "ms"),
        "latency_p95_ms": (stats.percentile(lat, 95), "ms"),
        "items_per_s": (items_per_s, "1/s"),
        "stored_bytes_per_item": (stored, "B"),
        "cached_mb": (f["cached_bytes"] / 2 ** 20, "MiB"),
    }


def named_metrics(workload, e2e, out, error_rate, raw_lines):
    """The same figures under their workload-specific names."""
    v = {k: val for k, (val, _) in e2e.items()}
    named = {"setup_s": (v["setup_s"], "s"), "cached_mb": (v["cached_mb"], "MiB"),
             "error_rate": (error_rate, "ratio")}
    if workload == "api_serve":
        named.update(latency_p50_ms=(v["latency_p50_ms"], "ms"),
                     latency_p95_ms=(v["latency_p95_ms"], "ms"),
                     requests_per_s=(v["items_per_s"], "req/s"),
                     events_per_s=(raw_lines / statistics.median(out["setup_s"]), "events/s"),
                     stored_bytes_per_event=(v["stored_bytes_per_item"], "B/event"))
    else:
        named.update(corpus_tokens_per_s=(v["items_per_s"], "tokens/s"))
    return named


def source_tree():
    tree = {"content_sha256": build.tree_hash()}
    try:
        res = subprocess.run(["git", "rev-parse", "HEAD^{tree}"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        if res.returncode == 0:
            tree["git_tree"] = res.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return tree


def run_one(workload, seed, seconds, trace, cp, deadline):
    tag = f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}"
    work = os.path.join(ROOT, ".bench_work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t_gen = time.time()
    cfg, data = make_inputs(workload, seed, os.path.join(work, "input"))
    gen_s = time.time() - t_gen
    cfg.update(workload=workload, seconds=seconds, trace=bool(trace),
               cores=cores(), work=work, setup_reps=SETUP_REPS)
    cpu0 = cpu_times()
    out, cmd = run_harness(cp, cfg, work, deadline)
    host = host_share(cpu0, cpu_times())
    checks, fails = check(workload, cfg, out, data)
    failed_ops = sum(1 for o in out["ops"] if not o["ok"])
    attempted = len(out["ops"]) + len(checks)
    failed = failed_ops + len(fails)
    error_rate = failed / attempted
    e2e = end_to_end(workload, out, data)
    metrics = e2e if not trace else stats.layer_metrics(dict(out, facts=dict(
        out["facts"], good_rows=cfg.get("raw_lines", 0) - out["facts"].get("quarantined", 0))))
    lat = [o["lat_ms"] for o in out["ops"] if o["ok"]]
    record = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": bool(trace),
        "unit_operation": UNIT[workload][0], "items": UNIT[workload][1],
        "nproc": os.cpu_count(), "cores_used": cfg["cores"], "clients": len(cfg.get("requests", [1])),
        "jvm_command": cmd[:-2], "jvm_args_seen": out["jvm_args"],
        "spark_version": out["spark_version"], "spark_conf": out["spark_conf"],
        "source_tree": source_tree(), "input_generation_s": gen_s,
        "host_cpu_during_run": host,
        "materialization_rule": "every timed call materializes its full result; "
                                "no timed count(); noop sink only for reads nothing writes",
        "samples": {"ops": len(lat), "beyond_p95": stats.beyond(len(lat), 95) if lat else 0,
                    "setup_reps": len(out["setup_s"])},
        "setup_reps_s": out["setup_s"], "session_start_s": out["session_start_s"],
        "warmup_s": out["warmup_s"],
        "plan_fingerprints": out["plan_fingerprints"],
        "checks": checks, "check_failures": fails, "op_failures": out["failures"],
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "named_metrics": {k: {"value": v, "unit": u}
                          for k, (v, u) in named_metrics(workload, e2e, out, error_rate,
                                                         cfg.get("raw_lines")).items()},
        "facts": out["facts"],
        "ops": out["ops"],
    }
    if trace:
        record["spans"] = out["spans"]
        record["span_work"] = out["span_work"]
    runs = os.path.join(ROOT, ".bench_runs")
    os.makedirs(runs, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    path = os.path.join(runs, f"{tag}-{stamp}.json")
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)
    return record, path


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--all", action="store_true", help="run every workload untraced")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=14)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not args.all and not args.workload:
        ap.error("--workload or --all is required")
    start = time.time()
    try:
        cp, compiled = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    todo = WORKLOADS if args.all else [args.workload]
    results = []
    for w in todo:
        # the run that compiles may take longer; its JVM budget starts now
        deadline = (time.time() if compiled or args.all else start) + RUN_LIMIT_S
        try:
            rec, path = run_one(w, args.seed, args.seconds, args.trace, cp, deadline)
        except Exception as e:  # noqa: BLE001 - reported, no result printed
            print(f"{w}: run failed: {e}", file=sys.stderr)
            return 3
        results.append(rec)
        print(f"# {w}: {rec['unit_operation']}; {rec['samples']['ops']} ops, "
              f"{len(rec['checks'])} checks, record {os.path.relpath(path, ROOT)}")
        for k, v in rec["named_metrics"].items():
            print(f"#   {k} = {v['value']:.6g} {v['unit']}")
        for msg in rec["check_failures"] + rec["op_failures"]:
            print(f"#   FAILED: {msg}")
    attempted = sum(r["attempted"] for r in results)
    failed = sum(r["failed"] for r in results)
    if args.all:
        metrics = {f"{r['workload']}.{k}": v for r in results for k, v in r["metrics"].items()}
    else:
        metrics = results[0]["metrics"]
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
