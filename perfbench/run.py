"""Benchmark entry point: builds the harness from source, generates the
workload's inputs from the seed, runs one JVM, checks its outputs and prints
one JSON result line.

    python3 perfbench/run.py --workload idr_dag --seed 1 --seconds 18 --trace 0

Run it from the repository root. Everything it builds, generates or writes
lands under .bench_build/ in that root. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import stats  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
CORES = 4
HEAP = "3g"
JVM_TIMEOUT_S = 170
OPS_DATA_SEED = 42  # ops_* data is fixed; --seed shuffles the query order
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def load(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Digest of every file the harness build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "harness", "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "harness", "build.sbt"),
             os.path.join(HERE, "harness", "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(filter(os.path.exists, files)):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the repository and the harness with sbt (offline) once per
    source state; returns the source digest and the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return stamp, cp.strip()
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.override.build.repos=true",
           "-Dsbt.offline=true", "-Dsbt.server.forcestart=false", "-J-Xmx2g",
           "compile", "export Runtime/fullClasspath"]
    log("building harness (sbt compile) ...")
    with open(os.path.join(BUILD, "logs", "build.log"), "w") as out:
        r = subprocess.run(cmd, cwd=os.path.join(HERE, "harness"), env=env, stdout=subprocess.PIPE,
                           stderr=out, text=True, timeout=840)
        out.write(r.stdout)
    lines = [ln for ln in r.stdout.splitlines() if "perfbench" in ln and ".jar" in ln]
    if r.returncode != 0 or not lines:
        sys.exit(f"perfbench: build failed (see {BUILD}/logs/build.log)")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp)
    return stamp, cp


def make_inputs(workload, cfg, seed):
    """Generate (or reuse) the seeded inputs of one workload. The cache key
    includes a digest of the generator, so an edited generator regenerates."""
    if workload == "idr_dag":
        args = ["gen_idr.py", "--patients", str(cfg["patients"]), "--seed", str(seed)]
        key = f"idr-p{cfg['patients']}-s{seed}"
    else:
        args = ["gen_ops.py", "--sf", str(cfg["sf"]), "--seed", str(OPS_DATA_SEED)]
        key = f"ops-sf{cfg['sf']}-s{OPS_DATA_SEED}"
    with open(os.path.join(HERE, args[0]), "rb") as f:
        out = os.path.join(BUILD, "inputs", f"{key}-{hashlib.sha256(f.read()).hexdigest()[:12]}")
    if not os.path.exists(os.path.join(out, "DONE")):
        shutil.rmtree(out, ignore_errors=True)
        r = subprocess.run([sys.executable, os.path.join(HERE, args[0])] + args[1:] + ["--out", out],
                           stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, text=True)
        if r.returncode != 0:
            sys.exit(f"perfbench: input generation failed: {r.stderr[-2000:]}")
        open(os.path.join(out, "DONE"), "w").close()
    return out


def record_path(stamp, workload, seed, trace):
    """Where the JVM writes its record; keyed by the source digest, so a
    record is only ever read back for the build that wrote it."""
    return os.path.join(BUILD, "traces", stamp[:12], f"{workload}-s{seed}-t{trace}.json")


def run_jvm(stamp, cp, workload, cfg, inputs, seed, seconds, trace):
    tag = f"{workload}-s{seed}-t{trace}"
    work = os.path.join(BUILD, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    out = record_path(stamp, workload, seed, trace)
    os.makedirs(os.path.dirname(out), exist_ok=True)
    if os.path.exists(out):
        os.remove(out)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", workload, "--inputs", inputs,
              "--work", work, "--seconds", str(seconds), "--trace", str(trace),
              "--seed", str(seed), "--out", out])
    if workload != "idr_dag":
        cmd += ["--queries", ",".join(cfg["queries"])]
    log_path = os.path.join(BUILD, "logs", f"{tag}.log")
    with open(log_path, "w") as lf:
        try:
            r = subprocess.run(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                               timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            sys.exit(f"perfbench: JVM exceeded {JVM_TIMEOUT_S}s (log {log_path})")
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(out):
        sys.exit(f"perfbench: JVM failed with code {r.returncode} (log {log_path})")
    with open(out) as f:
        return json.load(f)


def check_outputs(workload, cfg, inputs, seed, rec):
    """Wrong outputs: (pass, output) -> what was wrong with it."""
    wrong = {}
    observed = rec["observed"]
    if workload == "idr_dag":
        with open(os.path.join(inputs, "expected.json")) as f:
            facts = json.load(f)["tables"]
        pins = load("expected.json")["idr_dag"].get(f"p{cfg['patients']}", {}).get(str(seed), {})
        first = observed.get("0", {})
        for p, tables in observed.items():
            for t, got in tables.items():
                if not isinstance(got, dict):
                    wrong[p, t] = f"check failed: {got}"
                elif t == "hts_summary_counts" and got.get("values") != facts[t]:
                    wrong[p, t] = f"{got.get('values')}, inputs imply {facts[t]}"
                elif t in facts and t != "hts_summary_counts" and got["rows"] != facts[t]:
                    wrong[p, t] = f"{got['rows']} rows, inputs imply {facts[t]}"
                elif t in pins and got["hash"] != pins[t]:
                    wrong[p, t] = "content hash differs from the pinned one"
                elif got != first.get(t):
                    wrong[p, t] = "differs from the cold pass"
    else:
        pins = load("expected.json")["ops"].get(f"sf{cfg['sf']}", {})
        first = observed.get("0", {})
        for p, rows in observed.items():
            for q, n in rows.items():
                if n < 0:
                    continue  # a failed op is already counted as failed
                if q in pins and n != pins[q]:
                    wrong[p, q] = f"{n} rows, pinned {pins[q]}"
                elif n != first.get(q):
                    wrong[p, q] = f"{n} rows, cold pass gave {first.get(q)}"
    return wrong


def warm_wall(rec):
    return stats.median([w["seconds"] for w in rec["walls"] if w["pass"] > 0])


def end_to_end(rec, attempted, failed):
    walls = [w["seconds"] for w in rec["walls"] if w["pass"] > 0]
    # a warm pass in which every op failed leaves no latency sample; its wall
    # then stands in, as an upper bound of any one op's latency
    warm_ops = [o[2] for o in rec["ops"] if o[1] > 0 and o[3]] or walls
    return {
        "setup_s": (rec["setup_s"], "s"),
        "cold_wall_s": (rec["walls"][0]["seconds"], "s"),
        "warm_wall_s": (warm_wall(rec), "s"),
        "op_p50_s": (stats.percentile(warm_ops, 50), "s"),
        "op_p90_s": (stats.percentile(warm_ops, 90), "s"),
        "peak_heap_mb": (rec["peak_heap_mb"], "MB"),
        "wh_bytes_per_input_byte": (rec["wh_bytes"] / rec["input_bytes"], "ratio"),
        "ok_share": (1.0 - stats.failed_share(attempted, failed), "ratio"),
    }, len(warm_ops)


def per_layer(rec, untraced, families, attempted, failed):
    """Median over the warm passes of each layer counter, plus the cold
    pass's planning/codegen, family walls and the tracing overhead against
    the untraced record `untraced` of the same seed."""
    units = {m["name"]: m["unit"] for m in load("../BENCHMARK.json")["per_layer"]}
    warm = [lay["metrics"] for lay in rec["layers"] if not lay["cold"]]
    cold = next(lay["metrics"] for lay in rec["layers"] if lay["cold"])
    out = {}
    for n in units:
        vals = [m[n] for m in warm if n in m]
        out[n] = stats.median(vals) if vals else 0.0
    out["codegen.cold_compile_ms"] = cold.get("codegen.compile_ms", 0.0)
    out["plan.cold_ms"] = sum(cold.get(k, 0.0) for k in
                              ("plan.analysis_ms", "plan.optimizer_ms", "plan.physical_ms"))
    warm_ops = [o for o in rec["ops"] if o[1] > 0]
    n_warm = max(1, len({o[1] for o in warm_ops}))
    for fam in set(families.values()):
        out[f"family.{fam}.wall_s"] = sum(o[2] for o in warm_ops if families.get(o[0]) == fam) / n_warm
    out["trace.overhead_s"] = warm_wall(rec) - warm_wall(untraced)
    out["failed_share"] = stats.failed_share(attempted, failed)
    return {n: (out[n], u) for n, u in units.items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    workloads = load("workloads.json")
    if a.workload not in workloads:
        sys.exit(f"perfbench: unknown workload {a.workload}")
    cfg = workloads[a.workload]
    stamp, cp = build()
    inputs = make_inputs(a.workload, cfg, a.seed)
    untraced = None
    if a.trace:
        # the tracing overhead needs the untraced warm wall of this seed;
        # reuse the record of an earlier --trace 0 run, or make one first
        path = record_path(stamp, a.workload, a.seed, 0)
        if os.path.exists(path):
            with open(path) as f:
                untraced = json.load(f)
        else:
            untraced = run_jvm(stamp, cp, a.workload, cfg, inputs, a.seed, a.seconds, 0)
    rec = run_jvm(stamp, cp, a.workload, cfg, inputs, a.seed, a.seconds, a.trace)

    wrong = check_outputs(a.workload, cfg, inputs, a.seed, rec)
    for e in rec["errors"] + [f"pass {p} {name}: {why}" for (p, name), why in wrong.items()][:20]:
        log(f"FAILED {e}")
    attempted = len(rec["ops"])
    failed = min(attempted, sum(1 for o in rec["ops"] if not o[3]) + len(wrong))
    e2e, n_samples = end_to_end(rec, attempted, failed)
    log(f"{a.workload} seed={a.seed}: {len(rec['walls'])} passes, {n_samples} warm op samples, "
        f"{failed}/{attempted} failed, record {os.path.relpath(record_path(stamp, a.workload, a.seed, a.trace), ROOT)}")
    if a.trace:
        metrics = per_layer(rec, untraced, cfg.get("families", {}), attempted, failed)
    else:
        metrics = e2e
    print(json.dumps({
        "correct": not wrong and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
