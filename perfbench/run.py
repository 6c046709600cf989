#!/usr/bin/env python3
"""The repository's benchmark: dashboard serving and lake churn, driven
from outside the engine.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. The first run builds the engine and the
harness (perfbench/harness, an sbt build that depends on the root build);
later runs reuse the build while the sources are unchanged. Each run gets
a fresh work directory under .bench_work/, deleted at the end.

The last stdout line is one JSON object:
    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}
with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). See perfbench/README.md for what each metric means.
"""
import argparse
import contextlib
import hashlib
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("dashboard", "lake_churn")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- stats

def tail_percentile(values, pct, min_beyond=10):
    """The `pct`-th percentile of `values` when at least `min_beyond`
    samples lie beyond it; otherwise the highest whole percentile that
    has that many beyond it (never below the median). Returns
    (percentile used, value); nearest-rank on the sorted samples."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return pct, float("nan")
    p = pct
    while p > 50 and n - _rank(n, p) < min_beyond:
        p -= 1
    return p, xs[_rank(n, p) - 1]


def _rank(n, p):
    """Nearest-rank index (1-based) of the p-th percentile of n samples."""
    r = -(-p * n // 100)  # ceil(p * n / 100)
    return max(1, min(n, r))


def median(values):
    return statistics.median(values) if values else float("nan")


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile engine + harness once per source state; returns the
    runtime classpath."""
    os.makedirs(BUILD_DIR, exist_ok=True)
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    stamp_file = os.path.join(BUILD_DIR, "stamp.txt")
    stamp = source_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log = os.path.join(BUILD_DIR, "build.log")
    with open(log, "w") as out:
        try:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export harness/Runtime/fullClasspath"],
                cwd=HARNESS, env=sbt_env(), stdout=subprocess.PIPE,
                stderr=out, text=True, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die(f"build timed out (log: {log})")
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    with open(log, "a") as out:
        out.write(r.stdout)
    if r.returncode != 0 or not lines or "[error]" in lines[-1]:
        die(f"build failed (log: {log})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


# ---------------------------------------------------------------- run

JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def peak_rss_mb(pid):
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def run_harness(cp, args, work, timeout):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log_path = os.path.join(work, "harness.log")
    # the heap is touched up front, so peak RSS does not depend on how far
    # the collector happened to spread its allocations in this run
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch",
           f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", *JVM_OPENS, "-cp", cp,
           "perfbench.Main", *args]
    rss = 0.0
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=log)
        t0 = time.time()
        try:
            while p.poll() is None:
                rss = max(rss, peak_rss_mb(p.pid))
                if time.time() - t0 > timeout:
                    p.kill()
                    p.wait()
                    die(f"harness timed out after {timeout}s (log tail below)\n"
                        + tail(log_path))
                time.sleep(0.1)
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if p.returncode != 0:
        die(f"harness exited {p.returncode}\n" + tail(log_path))
    return rss


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def oracle_check(work):
    """The dashboard traced run's operator pass: compare the result of
    every catalog query it ran with the DuckDB oracle SQL over the same
    generated inputs, using the repository's checker. Returns
    ({query: ok}, the checker's report)."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check_oracle
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        check_oracle.main(os.path.join(work, "sf"), os.path.join(work, "results"))
    verdict = {}
    for line in buf.getvalue().splitlines():
        parts = line.split()
        if len(parts) >= 2 and parts[0] in ("PASS", "FAIL"):
            verdict[parts[1].rstrip(":")] = parts[0] == "PASS"
    return verdict, buf.getvalue()


# ---------------------------------------------------------------- metrics

def end_to_end(rec, rss):
    """Samples are [kind, class, ms, ok]. Classes `read` and `commit` are
    the timed loop; `query` samples (the dashboard traced run's operator
    pass) count toward attempts and failures only. The highest percentile
    with at least ten samples beyond it is recorded as a fact, with its
    sample count, not gated: a run holds too few samples for a p90. So is
    the median over reads and commits together, which mixes the two."""
    samples = rec["samples"]
    timed = [s for s in samples if s[1] in ("read", "commit")]
    ms = [s[2] for s in timed]
    commit = [s[2] for s in timed if s[1] == "commit"]
    read = [s[2] for s in timed if s[1] == "read"]
    b = rec["bytes"]
    attempted = len(samples)
    failed = sum(1 for s in samples if not s[3])
    m = {
        "setup_s": median(rec["setup_s"]),
        "ops_per_s": len(timed) / rec["measured_s"],
        "ok_frac": (attempted - failed) / attempted if attempted else 0.0,
        "peak_rss_mb": rss,
        "commit_p50_ms": median(commit),
        "read_p50_ms": median(read),
        "write_amp": b["written"] / b["written_plain"],
        "space_amp": b["end"] / b["live_plain"],
    }
    facts = {"ops_commit": len(commit), "ops_read": len(read),
             "p50_all_ms": median(ms)}
    for name, xs in (("all", ms), ("commit", commit), ("read", read)):
        p, v = tail_percentile(xs, 99)
        facts[f"tail_{name}"] = {"percentile": p, "ms": v, "n": len(xs)}
    kinds = sorted({s[0] for s in timed})
    facts["per_kind_p50_ms"] = {k: median([s[2] for s in timed if s[0] == k])
                                for k in kinds}
    facts["per_kind_n"] = {k: sum(1 for s in timed if s[0] == k) for k in kinds}
    return m, facts


def benchmark_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def per_layer(rec):
    """Every declared per-layer metric, as the harness measured it. A
    layer this workload never enters reads 0 (no time, no calls spent
    there)."""
    layers = rec["layers"]
    out = {}
    for m in benchmark_spec()["per_layer"]:
        v = layers.get(m["name"], 0.0)
        out[m["name"]] = 0.0 if v is None or v != v else float(v)
    return out


# ---------------------------------------------------------------- main

def run(workload, seed, seconds, trace):
    cp = build()
    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        out = os.path.join(work, "record.json")
        rss = run_harness(cp, [workload, str(seed), str(seconds), str(trace),
                               work, out], work, RUN_TIMEOUT_S)
        with open(out) as f:
            rec = json.load(f)
        wrong = list(rec["wrong"])
        queries = rec["facts"].get("operators.queries", [])
        if queries:
            verdict, text = oracle_check(work)
            bad = [q for q in queries if not verdict.get(q, False)]
            if bad:
                wrong.append(f"oracle mismatch: {bad}")
                print(text, file=sys.stderr)
                # a wrong answer fails that query's execution
                rec["samples"] = [[k, c, ms, ok and k not in bad]
                                  for k, c, ms, ok in rec["samples"]]
            rec["facts"]["operators.oracle_pass"] = sum(
                verdict.get(q, False) for q in queries)
        metrics, facts = end_to_end(rec, rss)
        attempted = len(rec["samples"])
        failed = sum(1 for s in rec["samples"] if not s[3])
        if wrong:
            print("perfbench: failed checks:\n  " + "\n  ".join(wrong[:20]),
                  file=sys.stderr)
        correct = failed == 0 and not wrong
        facts.update(rec["facts"])
        print(json.dumps({"facts": facts, "setup_runs_s": rec["setup_s"]}))
        if trace:
            units = {m["name"]: m["unit"] for m in benchmark_spec()["per_layer"]}
            out_metrics = {k: {"value": v, "unit": units[k]}
                           for k, v in per_layer(rec).items()}
        else:
            out_metrics = {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                           for m in benchmark_spec()["end_to_end"]}
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": failed, "metrics": out_metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def selftest():
    """The benchmark's own tests: percentile rule, failure counting, and
    (in the harness) generator determinism and the output checks."""
    xs = list(range(1, 101))
    assert tail_percentile(xs, 90) == (90, 90), tail_percentile(xs, 90)
    # 50 samples: p90 would leave 5 beyond it; p80 is the highest with 10
    assert tail_percentile(list(range(1, 51)), 90) == (80, 40)
    assert tail_percentile(list(range(1, 8)), 90)[0] == 50
    p, v = tail_percentile(list(range(1, 51)), 90)
    assert sum(1 for x in range(1, 51) if x > v) >= 10
    rec = {"samples": [["a", "read", 5.0, True], ["b", "commit", 7.0, False],
                       ["a", "read", 6.0, True], ["q", "query", 9.0, True]],
           "setup_s": [1.0, 3.0, 2.0], "measured_s": 1.5,
           "bytes": {"written": 20, "written_plain": 10, "end": 30, "live_plain": 10}}
    m, facts = end_to_end(rec, 100.0)
    assert facts["p50_all_ms"] == 6.0
    assert abs(m["ok_frac"] - 3 / 4) < 1e-12 and m["setup_s"] == 2.0
    assert m["write_amp"] == 2.0 and m["space_amp"] == 3.0
    assert m["ops_per_s"] == 2.0 and m["commit_p50_ms"] == 7.0
    assert m["read_p50_ms"] == 5.5
    assert facts["tail_all"] == {"percentile": 50, "ms": 6.0, "n": 3}
    print("run.py selftest: ok")
    # the oracle checker must flag a wrong answer before it is trusted
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check_oracle
    assert check_oracle.selftest() == 0
    cp = build()
    work = os.path.join(ROOT, ".bench_work", f"selftest-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        run_harness(cp, ["selftest", work], work, RUN_TIMEOUT_S)
        with open(os.path.join(work, "harness.log")) as f:
            print("".join(l for l in f if l.startswith("selftest")), end="")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("selftest: all passed")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    for need in ("build.sbt", os.path.join("src", "main", "scala"),
                 os.path.join("tools", "check_oracle.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"{need} not found under {ROOT}: run from a full checkout")
    if a.selftest:
        selftest()
    elif a.workload is None:
        die("--workload is required")
    else:
        run(a.workload, a.seed, a.seconds, a.trace)


if __name__ == "__main__":
    main()
