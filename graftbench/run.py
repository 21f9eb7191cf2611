#!/usr/bin/env python3
"""graft benchmark: runs one workload once and prints its metrics.

Usage, from the repository root:
    python3 graftbench/run.py --workload retail_small --seed 1 --seconds 8 --trace 0

Builds the engine from source (graftbench/build.py), generates the
workload's inputs from the seed (graftbench/gen.py), runs the harness
(graftbench/scala) in one JVM on local[nproc], checks every result
(graftbench/check.py) and prints one JSON line last on stdout. With
--trace 0 it reports the end-to-end metrics, with --trace 1 the
per-layer metrics of a traced run. Details of every run land in
.bench_build/results/. See graftbench/NOTES.md.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

# sf: table scale factor; rows: generated ingest rows; pass_s: nominal
# pass time. A run measures ceil(seconds / pass_s) passes, so every run
# of a workload takes the same number of samples.
WORKLOADS = {
    "headline": {"sf": 0.05, "pass_s": 6.0},
    "retail_small": {"sf": 0.01, "pass_s": 4.0},
    "etl_ingest": {"rows": 100_000, "pass_s": 4.0},
}
SETUPS = 3
WARMUPS = 2
# A fixed heap and young generation keep the resident set from following
# the collector's sizing decisions (see NOTES.md).
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:+UseG1GC"]
DEADLINE_S = 160
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quantile(xs, p):
    """Harrell-Davis estimate of the p-quantile: the mean of all order
    statistics, each weighted by the Beta(p(n+1), (1-p)(n+1)) mass of its
    slice of [0, 1]. With a few dozen latencies of a dozen operation types,
    a single order statistic jumps between types from run to run; this
    estimate moves smoothly (see NOTES.md)."""
    s = sorted(xs)
    n = len(s)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    steps = 200
    w = [0.0] * n
    for i in range(n * steps):
        t = (i + 0.5) / (n * steps)
        w[i // steps] += t ** (a - 1) * (1 - t) ** (b - 1)
    return sum(wi * x for wi, x in zip(w, s)) / sum(w)


def tail(xs):
    """(percentile, value): the highest percentile with at least 10 samples
    beyond it. Below 11 samples there is none; then the percentile the
    largest of n samples has on average, n / (n + 1)."""
    n = len(xs)
    p = (n - 10) / n if n > 10 else n / (n + 1)
    return 100.0 * p, quantile(xs, p)


def steal_share(r):
    """Share of the busy host CPU time the hypervisor stole during a
    record's interval (0 where /proc/stat was not readable)."""
    busy, steal = r.get("busy_j", 0), r.get("steal_j", 0)
    return steal / (busy + steal) if busy + steal > 0 else 0.0


def eff(r):
    """A record's wall time without the share the hypervisor stole from
    the busy virtual CPUs: what the host would have taken had its
    neighbours left it alone (see NOTES.md)."""
    return r["s"] * (1.0 - steal_share(r))


def cpu_times():
    """Host CPU jiffies (user, nice, system, idle, iowait, irq, softirq, steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def passes(args):
    """Measured passes of a run; a traced run makes twice as many, half
    of them traced (see Main.scala for the order)."""
    n = max(1, math.ceil(args.seconds / WORKLOADS[args.workload]["pass_s"]))
    return 2 * n if args.trace else n


def run_jvm(classes, work, data, args, deadline):
    jars = os.path.join(build.spark_jars(), "*")
    out = os.path.join(work, "run.jsonl")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = [build.java(), *JVM_OPTS]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", f"-Dspark.local.dir={tmp}", f"-Djava.io.tmpdir={tmp}",
            "-cp", os.pathsep.join([classes, jars]), "graftbench.Main",
            "--workload", args.workload, "--data", data, "--out", out,
            "--passes", str(passes(args)), "--seed", str(args.seed),
            "--trace", str(args.trace), "--setups", str(SETUPS), "--warmups", str(WARMUPS),
            "--cores", str(os.cpu_count())]
    with open(os.path.join(work, "jvm.out"), "w") as so, open(os.path.join(work, "jvm.err"), "w") as se:
        p = subprocess.Popen(cmd, cwd=work, stdout=so, stderr=se)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("graftbench: the run did not finish in time")
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.err")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"graftbench: the harness exited with code {rc}")
    with open(out) as f:
        return [json.loads(line) for line in f if line.strip()]


def check_results(args, data, recs, ingest_rows):
    """{(op, digest): (ok, reason)} for every distinct result."""
    results = [r for r in recs if r["t"] == "result"]
    verdict = {}
    if args.workload == "etl_ingest":
        patterns = next(r["patterns"] for r in recs if r["t"] == "patterns")
        validate, readback = check.ingest_expected(data, patterns)
        for r in results:
            if r["op"] == "validate":
                ok, why = check.same(r["columns"], r["rows"], *validate)
            elif r["op"] == "readback":
                ok, why = check.same(r["columns"], r["rows"], *readback)
                n = sum(row[r["columns"].index("n_rows")] for row in r["rows"])
                if n != ingest_rows:
                    ok, why = False, f"warehouse holds {n} rows, generated {ingest_rows}"
            else:
                ok, why = True, ""
            verdict[(r["op"], r["digest"])] = (ok, why)
        return verdict
    sql = {r["op"]: r["sql"] for r in recs if r["t"] == "oracle"}
    expected = check.oracle_results(data, sorted(set(sql.values())))
    for r in results:
        if r["op"] not in sql:
            verdict[(r["op"], r["digest"])] = (False, "no oracle")
            continue
        verdict[(r["op"], r["digest"])] = check.same(r["columns"], r["rows"], *expected[sql[r["op"]]])
    return verdict


def op_status(args, recs, verdict):
    """Marks every op record ok/failed; an ingest fails with its pass's readback."""
    ops = [r for r in recs if r["t"] == "op"]
    for r in ops:
        if r["error"]:
            r["ok"], r["why"] = False, r["error"]
        else:
            r["ok"], r["why"] = verdict.get((r["op"], r["digest"]), (False, "unchecked"))
    if args.workload == "etl_ingest":
        readback = {(r["phase"], r["pass"]): r["ok"] for r in ops if r["op"] == "readback"}
        for r in ops:
            if r["op"] == "ingest" and not readback.get((r["phase"], r["pass"]), False):
                r["ok"], r["why"] = False, r["why"] or "readback of this pass failed"
    return ops


def pass_walls(measured):
    """{pass: summed operation time without steal} of the measured passes."""
    walls = {}
    for r in measured:
        walls[r["pass"]] = walls.get(r["pass"], 0.0) + eff(r)
    return walls


def union_s(intervals):
    """Seconds covered by the union of (start_ms, end_ms) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1e3


def self_times(spans, jobs):
    """Self time per span name: duration minus what its children cover
    (child spans and the Spark jobs the span launched)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    for j in jobs:
        kids.setdefault(j["span"], []).append((j["start_ms"], j["end_ms"]))
    out = {}
    for s in spans:
        covered = union_s([(max(a, s["start_ms"]), min(b, s["end_ms"]))
                           for a, b in kids.get(s["id"], []) if b > s["start_ms"] and a < s["end_ms"]])
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end_ms"] - s["start_ms"]) / 1e3 - covered
    return out


def layer_metrics(recs, csv_bytes, ingest_rows):
    """Per-pass per-layer values, median over the traced passes."""
    passes = [r for r in recs if r["t"] == "pass"]
    traced = [p["pass"] for p in passes if p["traced"]]
    cores = next(r for r in recs if r["t"] == "env")["cores"]
    per_pass, selfs = [], {}
    for p in traced:
        spans = [r for r in recs if r["t"] == "span" and r["pass"] == p]
        jobs = [r for r in recs if r["t"] == "job" and r["pass"] == p]
        counts = [r for r in recs if r["t"] == "counts" and r["pass"] == p and r["op"] != "probe"]
        by_id = {s["id"]: s for s in spans}

        def span_s(name, probe=None):
            return sum((s["end_ms"] - s["start_ms"]) / 1e3 for s in spans
                       if s["name"] == name and (probe is None or (s["op"] == "probe") == probe))

        def csum(k):
            return sum(c[k] for c in counts)

        op_jobs = [j for j in jobs if j["op"] != "probe"]
        job_wall = union_s([(j["start_ms"], j["end_ms"]) for j in op_jobs])
        gap = 0.0
        for s in spans:
            if s["name"] != "op":
                continue
            inner = [(c["start_ms"], c["end_ms"]) for c in spans
                     if c["parent"] == s["id"] and c["name"] in ("operators.build", "sql.run")]
            inner += [(j["start_ms"], j["end_ms"]) for j in op_jobs if j["op"] == s["op"]]
            inner = [(max(a, s["start_ms"]), min(b, s["end_ms"])) for a, b in inner
                     if b > s["start_ms"] and a < s["end_ms"]]
            gap += (s["end_ms"] - s["start_ms"]) / 1e3 - union_s(inner)
        busy = csum("task_busy_s")
        wh = [r for r in recs if r["t"] == "warehouse" and r["pass"] == p]
        raw, aligned = span_s("sources.raw_read", True), span_s("sources.aligned", True)
        ingest = span_s("sources.ingest")
        m = {
            "tables.load_s": span_s("tables.load"),
            "tables.fanout_s": span_s("tables.fanout"),
            "operators.build_s": span_s("operators.build"),
            "operators.build_jobs": sum(1 for j in op_jobs
                                        if by_id.get(j["span"], {}).get("name") == "operators.build"),
            "sql.run_s": span_s("sql.run"),
            "catalyst.analysis_s": csum("analysis_s"),
            "catalyst.optimization_s": csum("optimization_s"),
            "catalyst.planning_s": csum("planning_s"),
            "exec.jobs": csum("jobs"),
            "exec.stages": csum("stages"),
            "exec.tasks": csum("tasks"),
            "exec.job_wall_s": job_wall,
            "exec.task_busy_s": busy,
            "exec.task_cpu_s": csum("task_cpu_s"),
            "exec.task_wait_s": csum("task_wait_s"),
            "exec.gc_s": csum("gc_s"),
            "exec.shuffle_write_mb": csum("shuffle_write_b") / 2**20,
            "exec.shuffle_read_mb": csum("shuffle_read_b") / 2**20,
            "exec.spill_mb": csum("spill_b") / 2**20,
            "exec.input_mb": csum("input_b") / 2**20,
            "exec.core_util": busy / (job_wall * cores) if job_wall > 0 else 0.0,
            "exec.failed_tasks": csum("failed_tasks"),
            "driver.gap_s": gap,
            "sources.raw_read_s": raw,
            "sources.align_s": aligned - raw if aligned else 0.0,
            "sources.write_s": ingest - aligned if ingest else 0.0,
            "sources.readback_s": span_s("sources.readback"),
            "sources.files_written": wh[0]["files"] if wh else 0,
            "sources.output_mb": wh[0]["bytes"] / 2**20 if wh else 0.0,
            "sources.rows_per_s": ingest_rows / ingest if ingest else 0.0,
            "sources.stored_bytes_per_input_byte": wh[0]["bytes"] / csv_bytes if wh and csv_bytes else 0.0,
            "validate.run_s": span_s("validate.run"),
        }
        per_pass.append(m)
        for k, v in self_times(spans, jobs).items():
            selfs.setdefault(k, []).append(v)
    layers = {k: median([m[k] for m in per_pass]) for k in per_pass[0]}
    walls = pass_walls([r for r in recs if r["t"] == "op" and r["phase"] == "measure"])
    traced_s = median([walls[p] for p in traced])
    plain_s = median([walls[p["pass"]] for p in passes if not p["traced"]])
    layers.update({"trace.traced_pass_s": traced_s, "trace.untraced_pass_s": plain_s,
                   "trace.overhead_s": traced_s - plain_s})
    return layers, {k: median(v) for k, v in selfs.items()}


def unit(name):
    if name.endswith("rows_per_s"):
        return "rows/s"
    if name.endswith("ops_per_s"):
        return "1/s"
    if name.endswith(("_per_input_byte", "core_util")):
        return "ratio"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    return "count"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    classes = build.build(root)
    deadline = time.time() + DEADLINE_S
    load_before, cpu_before = os.getloadavg(), cpu_times()

    work = os.path.join(root, build.OUT, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    cfg = WORKLOADS[args.workload]
    t0 = time.time()
    if args.workload == "etl_ingest":
        counts = gen.ingest_csvs(data, cfg["rows"], args.seed)
        ingest_rows, csv_bytes = sum(counts), dir_bytes(data)
    else:
        gen.tables(data, cfg["sf"])
        ingest_rows, csv_bytes = 0, 0
    gen_s = time.time() - t0
    try:
        recs = run_jvm(classes, work, data, args, deadline)
        verdict = check_results(args, data, recs, ingest_rows)
        cpu = [b - a for a, b in zip(cpu_before, cpu_times())]
        host = {"load_before": load_before, "load_after": os.getloadavg(),
                "cpu_steal_share": cpu[7] / max(1, sum(cpu)), "run_s": time.time() - t0}
        report(args, recs, verdict, gen_s, ingest_rows, csv_bytes, host,
               os.path.join(root, build.OUT, "results"), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(args, recs, verdict, gen_s, ingest_rows, csv_bytes, host, results, work):
    """Writes the run's result file and prints the contract line."""
    cfg = WORKLOADS[args.workload]
    ops = op_status(args, recs, verdict)

    env = next(r for r in recs if r["t"] == "env")
    setups = [r for r in recs if r["t"] == "setup"]
    warmups = [r for r in recs if r["t"] == "warmup"]
    measured = [r for r in ops if r["phase"] == "measure"]
    plain = {p["pass"] for p in recs if p["t"] == "pass" and not p["traced"]}
    walls = pass_walls(measured)
    plain_walls = [walls[p] for p in sorted(plain)]
    good = [eff(r) for r in measured if r["ok"] and r["pass"] in plain]
    attempted, failed = len(ops), sum(1 for r in ops if not r["ok"])
    pct, tail_s = tail(good) if good else (100.0, 0.0)
    rss = next(r["peak_mb"] for r in recs if r["t"] == "rss")
    e2e = {
        "setup_s": gen_s + env["jvm_start_s"] + median([eff(r) for r in setups])
        + sum(eff(r) for r in warmups),
        "pass_s": median(plain_walls),
        "op_p50_s": quantile(good, 0.5) if good else 0.0,
        "op_tail_s": tail_s,
        "ops_per_s": len(good) / sum(plain_walls) if plain_walls else 0.0,
        "peak_rss_mb": rss,
    }
    timed = [*setups, *warmups, *measured]
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "nproc": os.cpu_count(), "heap_mb": env["heap_mb"],
        "spark": env["spark"], **host,
        "timed_steal_share": steal_share({"busy_j": sum(r.get("busy_j", 0) for r in timed),
                                          "steal_j": sum(r.get("steal_j", 0) for r in timed)}),
        "inputs": cfg, "gen_s": gen_s, "jvm_start_s": env["jvm_start_s"],
        "setups_s": [r["s"] for r in setups], "warmups_s": [r["s"] for r in warmups],
        "passes_s": [walls[p] for p in sorted(walls)],
        "passes_wall_s": [r["s"] for r in recs if r["t"] == "pass"],
        "measured_s": next(r["s"] for r in recs if r["t"] == "measured"),
        "op_tail_percentile": pct, "op_samples": len(good),
        "attempted": attempted, "failed": failed, "failed_ratio": failed / attempted,
        "failures": [{"op": r["op"], "phase": r["phase"], "pass": r["pass"], "why": r["why"]}
                     for r in ops if not r["ok"]],
        "end_to_end": e2e,
        "measured_ops": [[r["pass"], r["op"], r["s"], steal_share(r), r["ok"]] for r in measured],
    }
    if args.workload == "etl_ingest":
        ingest = [eff(r) for r in measured if r["op"] == "ingest" and r["ok"]]
        wh = [r["bytes"] for r in recs if r["t"] == "warehouse"]
        detail.update({"ingest_rows": ingest_rows, "csv_bytes": csv_bytes,
                       "rows_per_s": ingest_rows / median(ingest) if ingest else 0.0,
                       "stored_bytes_per_input_byte": median(wh) / csv_bytes if wh else 0.0})
    metrics = e2e
    if args.trace:
        metrics, selfs = layer_metrics(recs, csv_bytes, ingest_rows)
        detail.update({"per_layer": metrics, "self_s_per_pass": selfs,
                       "trace_overhead_s": metrics["trace.overhead_s"]})
    os.makedirs(results, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(results, name + ".json"), "w") as f:
        json.dump(detail, f, indent=1)
    if args.trace:
        shutil.copy(os.path.join(work, "run.jsonl"), os.path.join(results, name + ".spans.jsonl"))

    print(f"workload={args.workload} seed={args.seed} nproc={os.cpu_count()} heap_mb={env['heap_mb']}"
          f" load={host['load_before'][0]:.2f}->{host['load_after'][0]:.2f}"
          f" steal={100 * host['cpu_steal_share']:.1f}% of the host,"
          f" {100 * detail['timed_steal_share']:.1f}% of its busy time while timed"
          + ("" if args.trace else f" op_tail_s=p{pct:.1f} of {len(good)} samples")
          + f" failed={failed}/{attempted}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
