#!/usr/bin/env python3
"""Pipeline benchmark: one closed-loop workload per run, end-to-end or traced.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The script
  1. builds the main project and the harness with sbt (perfbench/build.sbt),
     and skips the build while the classpath it cached is newer than every
     source and build file;
  2. runs perfbench.Harness in one JVM on local[nproc]: seeded input
     generation (perfbench/gen.py) and set-up, timed passes over the
     workload's steps, then a graft.Verify-style dump of the last pass's
     results, all under perfbench/target/run/;
  3. compares that dump with the DuckDB oracle (scripts/check.py);
  4. prints each metric on its own line, then one JSON result line.

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(see perfbench/README.md). Exit status is 0 only when every step ran and
matched its oracle.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "perfbench.classpath")

# Defined in perfbench.Harness (steps and input sizes).
WORKLOADS = ("hr_medallion", "cdc_stream_fold", "curation_scale")
RUN_LIMIT_S = 170  # the whole run, build excluded
# the JDK 17 module opens Spark needs outside spark-submit, as in build.sbt
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
            + os.path.expanduser("~/.sbt/repositories")
            + " -Dsbt.offline=true -Xmx2g")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the group and
    wait for it. Returns the exit code, or None on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


def newest_source_mtime():
    newest = 0.0
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files.extend(os.path.join(d, f) for f in fs)
    for f in files:
        newest = max(newest, os.path.getmtime(f))
    return newest


def build():
    """Compile with sbt unless the cached classpath is current; return it."""
    if (os.path.exists(CLASSPATH)
            and os.path.getmtime(CLASSPATH) > newest_source_mtime()):
        with open(CLASSPATH) as f:
            return f.read().strip()
    os.makedirs(TARGET, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", SBT_OPTS)
    out_path = os.path.join(TARGET, "build.log")
    t0 = time.time()
    with open(out_path, "w") as out:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       timeout=800, cwd=HERE, env=env, stdout=out,
                       stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(out_path) as f:
        lines = f.read().splitlines()
    if rc != 0 or not lines or ".jar" not in lines[-1]:
        fail(f"build failed (exit {rc}); see {out_path}")
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1].strip())
    log(f"built in {time.time() - t0:.1f} s")
    return lines[-1].strip()


def check_outputs(work, data, steps):
    """DuckDB oracle compare of the harness's dump. Returns (threw, wrong,
    unchecked): steps that threw, steps whose output differs from the
    oracle, and steps that have no oracle."""
    verify = os.path.join(work, "verify")
    threw = sorted(s for s in steps
                   if os.path.exists(os.path.join(verify, f"_FAILED_{s}"))
                   or not os.path.isdir(os.path.join(verify, s)))
    try:
        oracle = set(json.load(open(os.path.join(verify, "oracle_sql.json"))))
    except (OSError, ValueError):
        return sorted(steps), [], []
    checked = [s for s in steps if s in oracle and s not in threw]
    unchecked = sorted(s for s in steps if s not in oracle)
    if not checked:
        return threw, [], unchecked
    r = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "check.py"),
                        verify, data] + checked,
                       capture_output=True, text=True, timeout=120)
    with open(os.path.join(work, "check.log"), "w") as f:
        f.write(r.stdout + r.stderr)
    passed = {ln.split()[1].rstrip(":") for ln in r.stdout.splitlines()
              if ln.startswith("PASS ")}
    wrong = sorted(s for s in checked if s not in passed)
    return threw, wrong, unchecked


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()

    for need in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(ROOT, "scripts", "check.py")):
        if not os.path.exists(need):
            fail(f"missing {os.path.relpath(need, ROOT)}: run from a full source checkout")
    for tool in ("java", "sbt"):
        if shutil.which(tool) is None:
            fail(f"'{tool}' not found on PATH")
    cp = build()

    work = os.path.join(TARGET, "run", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    budget = RUN_LIMIT_S - (time.time() - t_start)
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData"]
           + [x for p in JAVA_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           # Spark's shuffle and block files stay out of java.io.tmpdir, where
           # commit.files counts what the program leaves behind
           + [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={work}/spark-local",
              "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Harness",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work,
              "--python", sys.executable, "--gen", os.path.join(HERE, "gen.py"),
              # leave room for the result dump and the oracle compare
              "--max-seconds", str(max(args.seconds, budget * 0.45))])
    with open(os.path.join(work, "harness.log"), "w") as out:
        rc = run_group(cmd, timeout=budget - 15, cwd=ROOT, stdout=out,
                       stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    raw_path = os.path.join(work, "raw.json")
    if rc is None or not os.path.exists(raw_path):
        fail(f"harness {'timed out' if rc is None else f'exited {rc}'} "
             f"without a record; see {work}/harness.log", 1)
    with open(raw_path) as f:
        raw = json.load(f)
    steps = raw["steps"]

    threw, wrong, unchecked = check_outputs(work, os.path.join(work, "data"), steps)
    runs = [s for p in raw["passes"] for s in p["steps"]]
    timed_failed = {s["name"] for s in runs if s["error"]}
    failed_steps = sorted(set(threw) | timed_failed)
    wrong = [s for s in wrong if s not in failed_steps]
    # every timed step run that threw, plus each step whose result could not
    # be dumped or disagrees with the oracle
    n_failed = (sum(1 for s in runs if s["error"]) + len(wrong)
                + len(set(threw) - timed_failed))
    # keep the record and the logs; drop the generated data and scratch files
    for d in ("data", "tmp", "spark-local", "verify"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)

    print(f"[perfbench] workload {args.workload} seed {args.seed}: "
          f"{len(raw['passes'])} passes x {len(steps)} steps, inputs "
          + " ".join(f"{t}={n}" for t, n in raw["rows"].items()))
    print(f"[perfbench] steps {len(runs)}  failed_steps {len(failed_steps)} "
          f"{failed_steps}  wrong_results {len(wrong)} {wrong}  "
          f"no_oracle {unchecked}")
    if args.trace:
        out = metrics.per_layer(raw)
        shown = out
    else:
        out, reported = metrics.end_to_end(raw)
        shown = {**out, **reported}
    for k, (v, unit) in shown.items():
        print(f"[perfbench] {k} = {v:.6g} {unit}")
    ok = not failed_steps and not wrong
    print(json.dumps({
        "correct": ok,
        "attempted": len(runs),
        "failed": n_failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()},
    }))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
