"""The repo benchmark: three workloads over the graft engine.

    python3 perfbench/run.py --workload catalog-mix|tail-steady|tail-backlog|all \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The engine and the benchmark are built
from source first (perfbench/build.py), then one JVM runs the workload.
The last line of standard output is one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics, or with
`--trace 1` the per-layer ones. The named figures of each workload,
the validity data and the run's details go to standard error and to
`.bench_build/results/`; a traced run also writes its spans to
`.bench_build/trace/`. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ["catalog-mix", "tail-steady", "tail-backlog"]
RUN_LIMIT_S = 170.0
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def tables_dir(build_dir):
    """Catalog tables, generated once per version of the generator."""
    gen = os.path.join(BENCH_DIR, "gen_tables.py")
    with open(gen, "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:12]
    out = os.path.join(build_dir, "data", "tables-" + tag)
    if not os.path.isdir(out):
        shutil.rmtree(out + ".tmp", ignore_errors=True)
        subprocess.run([sys.executable, gen, out], check=True)
    return out


def run_jvm(cp, args, build_dir, deadline):
    run_dir = os.path.join(build_dir, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    results = os.path.join(build_dir, "results")
    os.makedirs(results, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # The old generation starts at 512 MB and grows only when a full
    # collection leaves it too full, so the peak RSS follows the run's
    # live data; the fixed (non-adaptive) sizes keep GC timing alike from
    # run to run. -Xmx sits well above any workload's need.
    cmd += ["-XX:-UsePerfData", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
            "-Xmn512m", "-Xms1g", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", run_dir, "--tables", tables_dir(build_dir),
            "--expected", os.path.join(BENCH_DIR, "catalog_expected.tsv"),
            "--trace-out", os.path.join(build_dir, "trace", stem + ".json")]
    if args.record:
        cmd += ["--record", os.path.abspath(args.record)]
    jvm_log = os.path.join(results, stem + ".log")
    with open(jvm_log, "wb") as err:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE,
                                stderr=err, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise RuntimeError(f"{args.workload}: run exceeded its time limit; see {jvm_log}")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    shutil.rmtree(run_dir, ignore_errors=True)
    lines = [l for l in out.decode("utf-8", "replace").splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{args.workload}: JVM exited {proc.returncode} "
                           f"without a result; see {jvm_log}")
    res = json.loads(lines[-1])
    with open(os.path.join(results, stem + ".json"), "w", encoding="utf-8") as f:
        json.dump(res, f, indent=1)
    return res


# Each workload's own figures, by name, beside the end-to-end metrics.
NAMED = [("catalog_pass_s", "s"), ("catalog_geomean_s", "s"), ("ack_p50_ms", "ms"),
         ("ack_p99_ms", "ms"), ("drain_lines_per_s", "lines/s"), ("fail_frac", "ratio"),
         ("peak_rss_mb", "MB")]
VALIDITY = ["ack_samples_lines", "micro_batches", "gen_late_ms_p99", "gen_late_ms_max",
            "gen_fell_behind", "loadavg_1m", "cpu_steal_frac", "backlog_lines_at_stop", "setup_reps_s",
            "heap_peak_used_mb", "check_problems", "problems"]


def report(res):
    info = res.get("info", {})
    log(f"[perfbench] {info.get('workload')} seed={info.get('seed')} "
        f"correct={res['correct']} attempted={res['attempted']} failed={res['failed']}")
    for k, v in res["metrics"].items():
        log(f"  {k:<40} {v['value']:.6g} {v['unit']}")
    for k, unit in NAMED:
        if k in info:
            log(f"  {k:<40} {info[k]:.6g} {unit}")
    log("  " + json.dumps({k: info[k] for k in VALIDITY if k in info}))


def one(args):
    root = os.getcwd()
    build_dir = os.path.join(root, ".bench_build")
    t0 = time.monotonic()
    cp = build.build(root, build_dir)
    # The run limit starts after the build: only the first run compiles.
    deadline = time.monotonic() + RUN_LIMIT_S
    log(f"[perfbench] build ready in {time.monotonic() - t0:.1f}s")
    res = run_jvm(cp, args, build_dir, deadline)
    report(res)
    return res


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", help="write the catalog check pass's results here")
    args = ap.parse_args()
    try:
        if args.workload != "all":
            res = one(args)
            print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
            return
        out = {}
        for w in WORKLOADS:
            out[w] = one(argparse.Namespace(**{**vars(args), "workload": w}))
        print(json.dumps({w: {k: r[k] for k in ("correct", "attempted", "failed", "metrics")}
                          for w, r in out.items()}))
    except (build.BuildError, RuntimeError, subprocess.CalledProcessError) as e:
        log(f"[perfbench] error: {e}")
        sys.exit(1)


if __name__ == "__main__":
    main()
