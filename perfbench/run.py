"""The repository's benchmark: one workload per run, in a fresh JVM.

    python3 perfbench/run.py --workload NAME --seed N --seconds N --trace 0|1
    python3 perfbench/run.py --smoke

Run from the repository root. The first run builds the program and the
harness from source with sbt (perfbench/build.sbt) into the checkout;
later runs reuse the build while the sources are unchanged.

Workloads (see perfbench/README.md):
  analytics_sweep  a fixed set of registered queries not ending in _probe
  index_lifecycle  a fixed set of registered queries ending in _probe
  live_consumer    reference DAG + per-series feature matrix, streamed
--full runs every query a sweep's suffix rule selects instead.

With --trace 0 the last stdout line carries the end-to-end metrics,
with --trace 1 the per-layer metrics; a traced run also writes its
spans and a per-layer table under .bench_build/run/<workload>/.
--smoke runs all three workloads on tiny inputs through every
correctness check and exits non-zero if any fails.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # write nothing into the checkout's sources
BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, BENCH)

WORKLOADS = ("analytics_sweep", "index_lifecycle", "live_consumer")
# Input scale factor of the batch sweeps (the fixed test data's sf
# convention: sf0.01 = 60k lineitem rows); warm-up runs at sf0.001.
SWEEP_SF = 0.01
WARM_SF = 0.001
LIVE = {"symbols": 16, "ticks": 30, "backlog": 36, "min-polls": 2}
SMOKE_LIVE = {"symbols": 4, "ticks": 3, "backlog": 36, "min-polls": 3}
GEN_REPS = 3
RUN_TIMEOUT_S = 170
# A fixed-size heap and young generation, so that peak RSS follows the
# data the program keeps rather than the collector's sizing decisions.
JVM_OPTS = [
    "-XX:+UseParallelGC", "-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:-UsePerfData",
    "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class BenchError(Exception):
    pass


def _sources():
    """Every file the build reads: the program's and the harness's."""
    pats = ["build.sbt", "project/*.properties", "project/*.sbt",
            "project/*.scala", "src/main/**/*",
            "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src/**/*"]
    files = set()
    for p in pats:
        files.update(f for f in glob.glob(os.path.join(ROOT, p), recursive=True)
                     if os.path.isfile(f))
    return sorted(files)


def build():
    """Compile with sbt unless the sources are unchanged; returns the
    runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise BenchError(f"no program sources under {ROOT} (build.sbt, src/main/scala)")
    h = hashlib.sha256()
    for f in _sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log("building program and harness with sbt")
    t0 = time.time()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
           "compile", "export Runtime/fullClasspath"]
    # the build resolves from the local dependency cache only; every JVM
    # the sbt script starts keeps its temporary files in the checkout
    java_opts = [os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData",
                 f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}"]
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"),
               JAVA_TOOL_OPTIONS=" ".join(java_opts).strip(), TMPDIR=tmp)
    try:
        p = subprocess.run(cmd, cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
                           capture_output=True, text=True, timeout=850)
    except (OSError, subprocess.TimeoutExpired) as ex:
        raise BenchError(f"sbt failed to run: {ex}")
    lines = [ln for ln in p.stdout.splitlines() if ".jar" in ln and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise BenchError(f"sbt build failed (exit {p.returncode})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"build done in {time.time() - t0:.1f} s")
    return cp


def generate(workload, seed, sf, reps):
    """Seeded input tables; returns (data dir, warm dir, median gen s)."""
    import gen
    data = os.path.join(BUILD, "data", f"{workload}-{seed}")
    warm = os.path.join(BUILD, "data", f"warm-{seed}")
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        gen.write(data, sf, seed)
        times.append(time.perf_counter() - t0)
    gen.write(warm, WARM_SF, seed)
    return data, warm, statistics.median(times)


def run_jvm(cp, workload, out, seed, seconds, trace, extra, deadline):
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spawn_ms = int(time.time() * 1000)
    args = ["--workload", workload, "--out", out, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0"]
    for k, v in extra.items():
        args += [f"--{k}", str(v)]
    cmd = ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}",
                                 f"-Dderby.system.home={tmp}",
                                 "-cp", cp, "perfbench.Main"] + args
    with open(os.path.join(out, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=out, env=dict(os.environ, TMPDIR=tmp),
                                stdin=subprocess.DEVNULL, stdout=logf,
                                stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError(f"{workload} JVM exceeded its time limit")
    res_file = os.path.join(out, "result.json")
    if rc != 0 or not os.path.isfile(res_file):
        with open(os.path.join(out, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise BenchError(f"{workload} JVM exited with {rc}")
    with open(res_file) as f:
        res = json.load(f)
    res["jvm_setup_s"] = (res["ready_ms"] - spawn_ms) / 1000.0
    return res


def run_workload(cp, workload, seed, seconds, trace, smoke=False, full=None):
    """One run. `full` (diagnostic) = (tables dir or None, check oracle):
    the whole suffix-rule query set instead of the default subset."""
    deadline = time.time() + (RUN_TIMEOUT_S if full is None else 3600)
    out = os.path.join(BUILD, "run", workload + ("-smoke" if smoke else ""))
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    gen_s, extra, data, check = 0.0, {}, None, True
    if workload == "live_consumer":
        extra = dict(SMOKE_LIVE if smoke else LIVE)
    else:
        sf = WARM_SF if smoke else SWEEP_SF
        data, warm, gen_s = generate(workload, seed, sf, 1 if smoke else GEN_REPS)
        extra = {"data": data, "warm": warm}
        if full is not None:
            data = full[0] or data
            check = full[1]
            extra.update({"data": data, "full": 1})
    res = run_jvm(cp, workload, out, seed, seconds, trace, extra, deadline)
    failures = list(res["failures"])
    attempted, failed = res["attempted"], res["failed"]
    if not check:
        failed += 1
        failures.append("oracle check skipped (--no-oracle): outputs unchecked")
    elif data is not None:
        import oracle
        ok_names = [o["name"] for o in res["ops"] if o["ok"]]
        for name, err in oracle.check(data, out, ok_names, os.path.join(out, "tmp")).items():
            if err:
                failed += 1
                failures.append(f"{name}: oracle mismatch: {err}")
    res["setup_s"] = gen_s + res["jvm_setup_s"]
    res["failures"] = failures
    res["attempted"], res["failed"] = attempted, failed
    for d in ("tmp", "results", "warm", "warehouse"):
        shutil.rmtree(os.path.join(out, d), ignore_errors=True)
    return res, out


def _unit(name):
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_bytes", "bytes")):
        if name.endswith(suffix):
            return unit
    return "count"


def layer_table(res, out):
    """Per-layer table of a traced run, with its tracing overhead."""
    rows = [f"{k:<34} {v:>16.3f} {_unit(k)}" for k, v in res["layers"].items()]
    last = os.path.join(BUILD, "last", f"{res['workload']}.json")
    if os.path.isfile(last):
        with open(last) as f:
            base = json.load(f)
        for k in ("wall_s", "op_p50_ms"):
            if base.get(k):
                rows.append(f"tracing overhead {k}: traced {res[k]:.3f} vs untraced "
                            f"{base[k]:.3f} (seed {base['seed']}): "
                            f"{100.0 * (res[k] / base[k] - 1):+.1f}%")
    else:
        rows.append("tracing overhead: no untraced run of this workload on record")
    if res["workload"] != "live_consumer":
        counted = [o for o in res["ops"] if o.get("count_ms") is not None]
        if counted:
            ex = sum(o["execute_ms"] for o in counted)
            ct = sum(o["count_ms"] for o in counted)
            rows.append(f"timed parquet write vs count(): {ex / 1000:.3f} s vs "
                        f"{ct / 1000:.3f} s over {len(counted)} queries "
                        "(per query in result.json)")
    text = "\n".join(rows)
    with open(os.path.join(out, "layers.txt"), "w") as f:
        f.write(text + "\n")
    return text


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--full", action="store_true",
                    help="diagnostic: every query the workload's suffix rule selects")
    ap.add_argument("--data", help="diagnostic, with --full: existing tables to read")
    ap.add_argument("--no-oracle", action="store_true",
                    help="diagnostic, with --full: skip the DuckDB check")
    a = ap.parse_args()
    if not a.smoke and not a.workload:
        ap.error("--workload is required")
    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    try:
        with open(spec_file) as f:
            spec = json.load(f)
        cp = build()
        if a.smoke:
            bad = 0
            for w in WORKLOADS:
                res, _ = run_workload(cp, w, a.seed, 0, False, smoke=True)
                bad += res["failed"]
                log(f"smoke {w}: {res['attempted']} attempted, {res['failed']} failed "
                    f"in {res['wall_s']:.1f} s")
                for msg in res["failures"]:
                    log(f"  FAIL {msg}")
            print(json.dumps({"smoke": "ok" if bad == 0 else "failed", "failed": bad}))
            return 0 if bad == 0 else 1
        full = (a.data and os.path.abspath(a.data), not a.no_oracle) if a.full else None
        res, out = run_workload(cp, a.workload, a.seed, a.seconds, a.trace == 1, full=full)
    except BenchError as ex:
        log(f"error: {ex}")
        return 2
    box = res["box"]
    log(f"box: steal {box['steal_pct']:.2f}% over the measured window, "
        f"load average {box['loadavg']}, {box['cpus']} cpus")
    log(f"{res['attempted']} operations attempted, {res['failed']} failed")
    for msg in res["failures"]:
        log(f"  FAIL {msg}")
    if a.trace:
        log("per-layer table (spans in " +
            os.path.relpath(os.path.join(out, "spans.jsonl"), ROOT) + "):\n" +
            layer_table(res, out))
        metrics = {m["name"]: {"value": float(res["layers"].get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(res[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    if not a.trace and not a.full:
        os.makedirs(os.path.join(BUILD, "last"), exist_ok=True)
        with open(os.path.join(BUILD, "last", f"{a.workload}.json"), "w") as f:
            json.dump({k: res[k] for k in ("seed", "wall_s", "op_p50_ms")}, f)
    with open(os.path.join(out, "summary.json"), "w") as f:
        json.dump({k: v for k, v in res.items() if k != "ops"}, f, indent=1)
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
