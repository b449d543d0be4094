#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload iterative --seed 1 --seconds 20 --trace 0

Builds the program from source on first use (sbt; later runs reuse the
build until a source file changes), generates the workload's inputs from
the seed, runs the benchmark JVM (set-up and warm passes, then a closed
loop of passes for `--seconds`), checks the outputs, and prints a summary
followed by one JSON line: `correct`, `attempted`, `failed` and
`metrics` (the end-to-end metrics with `--trace 0`, the per-layer
metrics with `--trace 1`). The full record of the run, including
machine load, goes to `perfbench/.work/results/`.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
sys.path.insert(0, str(HERE))
import check  # noqa: E402
import gen  # noqa: E402

# Sizes keep one run (build excepted) near a minute on a 4-core box;
# README.md records why each workload exists and how it was sized.
WORKLOADS = {
    "relational": {"ops": gen.RELATIONAL, "sf": 0.01},
    "iterative": {"ops": gen.ITERATIVE, "sf": 0.01},
    "etl_batch": {"customers": 5_000, "dates": 3},
}
HEAP = "1g"
TIMEOUT_S = 170
MB = 1024 * 1024

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# metric name → unit (MiB = 2^20 bytes)
END_TO_END = {
    "setup_s": "s", "wall_s": "s", "op_p50_s": "s", "op_tail_s": "s",
    "rss_peak_mb": "MiB",
}
PER_LAYER = {
    "queries.build_s": "s", "queries.build_jobs": "count",
    "sched.driver_idle_s": "s", "catalyst.plan_s": "s",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "exec.action_s": "s", "exec.cpu_s": "s", "exec.slot_util": "ratio",
    "io.scan_mb": "MiB", "io.shuffle_mb": "MiB", "io.spill_mb": "MiB",
    "sources.scan_passes": "ratio", "sink.write_s": "s",
    "sink.written_mb": "MiB", "sink.files_written": "count",
    "cache.storage_peak_mb": "MiB", "trace.overhead_s": "s",
}
# Spans of the ETL task's own lifecycle steps. They exist on `etl_batch`
# only, so they are printed and recorded but not reported as metrics: a
# time that is 0 on every run of another workload is not a measurement.
TASK_STEPS = ["pipeline.transform_s", "pipeline.validate_s",
              "sink.migrate_s", "sink.overwrite_s"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def digest(files, base):
    """Content hash of `files`, named relative to `base`."""
    h = hashlib.sha256()
    for p in sorted(files):
        h.update(str(p.relative_to(base)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def sources_digest():
    """Content hash of everything the build compiles."""
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "project", HERE / "project"):
        files += [p for p in d.glob("*") if p.suffix in (".sbt", ".scala",
                                                          ".properties")]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += [p for p in d.rglob("*") if p.is_file()]
    return digest(files, ROOT)


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    out = WORK / "build"
    stamp, cp_file = out / "stamp", out / "classpath"
    sources = sources_digest()
    if (stamp.exists() and cp_file.exists() and stamp.read_text() == sources
            and all(Path(p).exists()
                    for p in cp_file.read_text().strip().split(":"))):
        return cp_file.read_text().strip()
    out.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS="-Dsbt.offline=true -Xmx2g")
    with open(out / "sbt.log", "w") as log:
        r = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
            text=True, timeout=840)
    lines = r.stdout.strip().splitlines()
    (out / "sbt.out").write_text(r.stdout)
    if r.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        fail(f"build failed, see {out / 'sbt.out'}", 3)
    cp_file.write_text(lines[-1])
    stamp.write_text(sources)
    return lines[-1]


class LoadSampler(threading.Thread):
    """Samples /proc/loadavg and the CPU steal share while the JVM runs."""

    def __init__(self):
        super().__init__(daemon=True)
        self.loads, self.stop = [], threading.Event()
        self.cpu0 = self._cpu()

    @staticmethod
    def _cpu():
        f = [int(x) for x in open("/proc/stat").readline().split()[1:]]
        return sum(f[:8]), f[7]  # total jiffies, steal

    @staticmethod
    def load1():
        return float(open("/proc/loadavg").read().split()[0])

    def run(self):
        while not self.stop.wait(1.0):
            self.loads.append(self.load1())

    def finish(self):
        self.stop.set()
        self.join()
        total, steal = self._cpu()
        dt, ds = total - self.cpu0[0], steal - self.cpu0[1]
        return {"load1_samples": self.loads,
                "load1_median": statistics.median(self.loads or [0.0]),
                "load1_max": max(self.loads or [0.0]),
                "steal_share": ds / dt if dt > 0 else 0.0}


def inputs(workload, seed, out):
    """Generate a workload's inputs into `out`; return the pass plan (the
    JVM runs its first passes untimed, to warm up) and, for `etl_batch`,
    the expected outputs."""
    cfg = WORKLOADS[workload]
    if workload == "etl_batch":
        expected = gen.etl(out, seed, cfg["customers"], cfg["dates"])
        # each pass runs every date, then re-runs its first date
        plan = gen.plan(seed, expected["dates"], 1000)
        return [p + p[:1] for p in plan], expected
    gen.catalog(out, seed, cfg["sf"])
    return gen.plan(seed, cfg["ops"], 1000), None


def seed_selftest(workload, seed, data, plan, tmp):
    """The same seed must give byte-identical inputs and the same order,
    and another seed must give neither. Returns a problem or ""."""
    same, _ = inputs(workload, seed, tmp / "same")
    other, _ = inputs(workload, seed + 1, tmp / "other")
    problem = ""
    def files(d):
        return digest(Path(d).iterdir(), d)
    if files(tmp / "same") != files(data) or same != plan:
        problem = f"seed {seed} did not reproduce its inputs and order"
    elif files(tmp / "other") == files(data) or other == plan:
        problem = f"seed {seed + 1} reproduced the inputs or order of {seed}"
    shutil.rmtree(tmp)
    return problem


def layer_figures(res, cores, source_bytes):
    """Per-layer metrics, self time per operation and the layer split,
    from the operations of the traced passes (all empty when untraced)."""
    layers = res["layers"]
    if not layers:
        return {}, {}, {}
    n = len(layers)

    def total(key):
        return sum(x[key] for x in layers)
    job_active = total("job_active_s")
    # each traced pass against the untraced pass after it: the pass
    # before is less warm, and its warm-up drift would mask the overhead
    passes = res["passes"]
    overheads = [a["wall_s"] - b["wall_s"] for a, b in zip(passes, passes[1:])
                 if a["traced"] and not b["traced"]]
    layer = {
        "queries.build_s": total("build_s") / n,
        "queries.build_jobs": total("build_jobs") / n,
        "sched.driver_idle_s": total("driver_idle_s") / n,
        "catalyst.plan_s": total("plan_s") / n,
        "sched.jobs": total("jobs") / n,
        "sched.stages": total("stages") / n,
        "sched.tasks": total("tasks") / n,
        "exec.action_s": job_active / n,
        "exec.cpu_s": total("cpu_s") / n,
        "exec.slot_util": (total("task_run_s") / (job_active * cores)
                           if job_active else 0.0),
        "io.scan_mb": total("scan_bytes") / n / MB,
        "io.shuffle_mb": total("shuffle_bytes") / n / MB,
        "io.spill_mb": total("spill_bytes") / n / MB,
        "sources.scan_passes": total("scan_bytes") / n / source_bytes,
        "sink.write_s": total("write_s") / n,
        "sink.written_mb": total("written_bytes") / n / MB,
        "sink.files_written": total("written_files") / n,
        "cache.storage_peak_mb": res["storage_peak_mb"],
        "trace.overhead_s": statistics.median(overheads),
    }
    for name in TASK_STEPS:
        layer[name] = total(name.split(".")[1]) / n
    self_s = {}
    for x in layers:
        for k, v in x["self_s"].items():
            self_s[k] = self_s.get(k, 0.0) + v / n
    wall = total("wall_s")
    split = {
        "build_pct": 100 * total("build_s") / wall,
        "catalyst_pct": 100 * total("plan_s") / wall,
        "driver_idle_pct": 100 * total("driver_idle_s") / wall,
        "jobs_per_op": total("jobs") / n,
        "exec_slot_util": layer["exec.slot_util"],
    }
    return layer, self_s, split


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        fail(f"no program sources beside {HERE.name}/ (need build.sbt and "
             "src/main)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    cfg = WORKLOADS[args.workload]
    classpath = build()

    # fresh inputs and scratch for every run
    run_dir = WORK / "run" / f"{args.workload}-{args.trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    data = run_dir / "data"
    t0 = time.monotonic()
    plan, expected = inputs(args.workload, args.seed, data)
    (run_dir / "plan.txt").write_text("\n".join(",".join(p) for p in plan))
    seed_problem = seed_selftest(args.workload, args.seed, data, plan,
                                 run_dir / "selftest")
    gen_s = time.monotonic() - t0
    source_bytes = sum(p.stat().st_size for p in data.iterdir())

    cores = len(os.sched_getaffinity(0))
    result, spans = run_dir / "result.json", run_dir / "spans.json"
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={run_dir / 'tmp'}"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--cores", str(cores),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--plan", str(run_dir / "plan.txt"), "--data", str(data),
            "--work", str(run_dir),
            "--out", str(result), "--spans", str(spans)])
    (run_dir / "tmp").mkdir(parents=True)
    load_before = LoadSampler.load1()
    sampler = LoadSampler()
    sampler.start()
    with open(run_dir / "jvm.log", "w") as log:
        # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep its
        # scratch inside the run directory either way
        env = dict(os.environ, SPARK_LOCAL_DIRS=str(run_dir / "spark-local"))
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=log,
                                env=env)
        try:
            proc.wait(timeout=TIMEOUT_S - (time.monotonic() - t0))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"benchmark JVM timed out, see {run_dir / 'jvm.log'}", 4)
    jvm_s = time.monotonic() - t0 - gen_s
    machine = sampler.finish()
    if proc.returncode != 0 or not result.exists():
        fail(f"benchmark JVM exited with {proc.returncode}, "
             f"see {run_dir / 'jvm.log'}", 4)
    res = json.loads(result.read_text())

    # --- checks (outside the timed region). A failed check fails every
    # timed run of the operation it covers.
    ops = [o for p in res["passes"] for o in p["ops"]]
    attempted = len(ops)
    errors = [o for o in ops if o["error"]]
    ok = [o for o in ops if not o["error"]]
    problems = {"seed": seed_problem} if seed_problem else {}
    if args.workload == "etl_batch":
        probs, committed, stored = check.etl(Path(f"{data}-out"), expected)
        if probs:
            problems["etl_batch"] = "; ".join(probs)
        failed = len(errors) + (len(ok) if probs else 0)
    else:
        got = check.catalog(data, run_dir / "check", sorted(cfg["ops"]),
                            cores)
        problems.update((n, p) for n, p in got.items() if p)
        failed = len(errors) + sum(1 for o in ok if o["name"] in problems)
        stored = committed = 0
    check_s = time.monotonic() - t0 - gen_s - jvm_s
    untraced = [p for p in res["passes"] if not p["traced"]]
    op_walls = [o["wall_s"] for p in untraced for o in p["ops"]]
    e2e = {
        "setup_s": res["setup_s"],
        "wall_s": statistics.median(p["wall_s"] for p in untraced),
        "op_p50_s": statistics.median(op_walls),
        # the slowest operation of a pass, median over passes: with at
        # most 16 operations a run, no percentile above the median has
        # ten samples beyond it
        "op_tail_s": statistics.median(max(o["wall_s"] for o in p["ops"])
                                       for p in untraced),
        "rss_peak_mb": res["rss_peak_mb"],
    }
    # committed fact rows per second of pass time, median over passes
    rows_per_s = (statistics.median(
        cfg["customers"] * sum(1 for o in p["ops"] if not o["error"])
        / p["wall_s"] for p in untraced)
        if args.workload == "etl_batch" else None)

    layer, self_s, split = layer_figures(res, cores, source_bytes)
    # scan bytes come from the scan nodes' "size of files read"; every
    # workload scans files, so zero means the source broke
    if args.trace and layer.get("io.scan_mb", 0) <= 0:
        problems["io.scan_mb"] = "scan-node bytes read as 0"
    # q353 writes its index files through graft.core.Par while its frame
    # is built; those jobs run on pooled threads and must still be
    # charged to the build
    par = [x for x in res["layers"] if x["name"] == "q353_tf_stream_upsert"]
    if par and not (0 < sum(x["par_jobs"] for x in par)
                    == sum(x["par_build_jobs"] for x in par)):
        problems["par_jobs"] = (
            f"q353_tf_stream_upsert: {sum(x['par_build_jobs'] for x in par)}"
            f" of {sum(x['par_jobs'] for x in par)} Par jobs charged to build")
    correct = not problems and failed == 0

    env = {"cores": cores, "heap_max_mb": res["heap_max_mb"],
           "load1_before": load_before, **machine,
           # our own JVM keeps up to `cores` threads busy; more load than
           # that, or any noticeable steal, means another tenant was busy
           "contaminated": (machine["steal_share"] > 0.02 or
                            machine["load1_max"] > 1.5 * cores + 1)}
    artifact = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "machine": env,
        "run_s": {"gen": gen_s, "jvm": jvm_s, "check": check_s},
        "attempted": attempted, "failed": failed,
        "fail_ratio": failed / attempted if attempted else 1.0,
        "problems": problems, "errors": [o["name"] for o in errors],
        "end_to_end": e2e, "op_samples": len(op_walls),
        "warm_passes": res["warm_passes"], "passes": res["passes"],
        "rows_per_s": rows_per_s, "committed_rows": committed,
        "stored_bytes_per_row": stored / committed if committed else None,
        "per_layer": layer, "self_s_per_op": self_s, "layer_split": split,
        "layers": res["layers"],
    }
    out = WORK / "results"
    out.mkdir(parents=True, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    (out / f"{name}.json").write_text(json.dumps(artifact, indent=1))
    if spans.exists():
        shutil.copy(spans, out / f"{name}-spans.json")

    print(f"workload {args.workload}  seed {args.seed}  cores {cores}  "
          f"heap {res['heap_max_mb']:.0f} MB  passes {len(res['passes'])}  "
          f"load1 {machine['load1_median']:.2f}  "
          f"steal {100 * machine['steal_share']:.1f}%"
          f"{'  CONTAMINATED' if env['contaminated'] else ''}")
    for k, v in e2e.items():
        extra = (f"  (slowest op per pass, n={len(untraced)})"
                 if k == "op_tail_s" else
                 "  (session start + warm passes, n=1)" if k == "setup_s" else
                 f"  (n={len(untraced)})" if k == "wall_s" else
                 f"  (n={len(op_walls)})" if k == "op_p50_s" else "")
        print(f"  {k:22s} {v:12.4f} {END_TO_END[k]}{extra}")
    print(f"  {'fail_ratio':22s} {artifact['fail_ratio']:12.4f}  "
          f"({failed}/{attempted})")
    if committed:
        print(f"  {'rows_per_s':22s} {rows_per_s:12.4f} 1/s  "
              f"(n={len(untraced)})")
        print(f"  {'stored_bytes_per_row':22s} "
              f"{artifact['stored_bytes_per_row']:12.4f} B")
    for k, v in layer.items():
        print(f"  {k:22s} {v:12.4f} {PER_LAYER.get(k, 's')}")
    if split:
        print("  split: " + "  ".join(f"{k} {v:.2f}" for k, v in split.items()))
        print("  self s/op: " + "  ".join(f"{k} {v:.3f}"
                                         for k, v in sorted(self_s.items())))
    for k, v in problems.items():
        print(f"  CHECK FAILED {k}: {v}")
    metrics = ({k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
               if not args.trace else
               {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()})
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
