#!/usr/bin/env python3
"""The benchmark of record for graft.

Run from the root of a checkout:

    python3 perfbench/run.py --workload sdf_warehouse --seed 1 --seconds 10 --trace 0

(`--workload all` runs every workload in turn, each in its own JVM.)

It builds the program and the benchmark from source (sbt, once per
checkout), makes the workload's inputs from the seed (cached per seed),
runs the workload in one JVM, checks every operation's result, and prints
as the last line of stdout one JSON object with `correct`, `attempted`,
`failed` and `metrics`. With --trace 0 the metrics are the end-to-end
metrics; with --trace 1 they are the per-layer metrics of a traced run
plus the tracing overhead. A human-readable report, with the sample count
beside every percentile, goes to stderr and to .bench_out/.

Everything it writes stays in the checkout: .bench_build/ (build stamp,
classpath, inputs, scratch) and .bench_out/ (raw results, spans, logs).
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen_sdf  # noqa: E402
import gen_tables  # noqa: E402

WORKLOADS = ("sdf_warehouse", "analytics_suite")
# The operation whose latency op_p50_ms / op_p80_ms report, per workload.
PRIMARY = {"sdf_warehouse": "lookup_pk_ms", "analytics_suite": "entry_ms"}
# A run must end within this many seconds; the JVM gets what is left.
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 850
JVM_HEAP = "3g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- statistics

def median(xs):
    return statistics.median(xs) if xs else None


def percentile(xs, q, min_beyond=10):
    """Nearest-rank q-quantile, or None unless at least `min_beyond`
    samples lie beyond it (the percentile rule)."""
    if not xs:
        return None
    s = sorted(xs)
    rank = max(1, math.ceil(q * len(s)))
    if len(s) - rank < min_beyond:
        return None
    return s[rank - 1]


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else None


# ------------------------------------------------------------------- metrics

def end_to_end(raw):
    """The end-to-end metrics every workload reports, from a raw result."""
    s, v = raw["samples"], raw["values"]
    prim = s.get(PRIMARY[raw["workload"]], [])
    return {
        "setup_s": median(s.get("setup_s", [])),
        "pass_s": median(s.get("pass_s", [])),
        "op_p50_ms": median(prim),
        "op_p80_ms": percentile(prim, 0.8),
        "heap_retained_mb": v.get("heap_retained_mb"),
    }


def workload_report(raw):
    """The workload's own user-facing numbers, named as in the README,
    each as (value, unit, sample count or None)."""
    s, v, w = raw["samples"], raw["values"], raw["workload"]
    rep = {"setup_s": (median(s.get("setup_s", [])), "s", len(s.get("setup_s", []))),
           "heap_retained_mb": (v.get("heap_retained_mb"), "MB", None),
           "ops_failed_frac": (raw["failed"] / max(1, raw["attempted"]), "frac", raw["attempted"])}

    def pct(name, key, q, unit="ms", scale=1.0):
        xs = s.get(key, [])
        val = median(xs) if q == 0.5 else percentile(xs, q)
        if val is not None:
            rep[name] = (val * scale, unit, len(xs))

    if w == "sdf_warehouse":
        pct("lookup_pk_p50_ms", "lookup_pk_ms", 0.5)
        pct("lookup_pk_p90_ms", "lookup_pk_ms", 0.9)
        ingest_ms = sum(s.get("ingest_first_ms", [])) + sum(s.get("ingest_incr_ms", []))
        if ingest_ms:
            rep["ingest_rows_per_s"] = (sum(s.get("ingest_rows", [])) / (ingest_ms / 1e3), "rows/s",
                                        len(s.get("ingest_rows", [])))
        pct("noop_ingest_ms", "noop_ingest_ms", 0.5)
        pct("compact_s", "compact_ms", 0.5, "s", 1e-3)
        pct("retract_s", "retract_ms", 0.5, "s", 1e-3)
        if v.get("sdf_bytes"):
            rep["bytes_stored_per_sdf_byte"] = (v.get("output_bytes", 0) / v["sdf_bytes"], "ratio", None)
        pct("lookup_inchikey_p50_ms", "lookup_inchikey_ms", 0.5)
        pct("sql_scan_p50_ms", "sql_scan_ms", 0.5)
        reads = [x for k in ("lookup_pk_ms", "lookup_inchikey_ms", "sql_scan_ms") for x in s.get(k, [])]
        if reads:
            rep["lookups_per_s"] = (len(reads) / (sum(reads) / 1e3), "1/s", len(reads))
    if w == "analytics_suite":
        # the measured pass is each entry's first run in the JVM
        first = [xs[0] for k, xs in s.items() if k.startswith("entry.") and xs]
        rep["suite_cold_s"] = (sum(first) / 1e3, "s", len(first))
        rep["suite_geomean_ms"] = (geomean(first), "ms", len(first))
        warm = [xs[0] for k, xs in s.items() if k.startswith("extra.entry.") and xs]
        if warm:
            rep["suite_s"] = (sum(warm) / 1e3, "s", len(warm))
    return rep


def load_spec(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def result_line(raw, spec, traced, untraced=None):
    """The final JSON object. A metric that cannot be computed is left
    out, which the caller treats as a failed run."""
    if traced:
        layers = dict(raw["values"].get("layers", {}))
        if untraced is not None:
            t, u = end_to_end(raw), end_to_end(untraced)
            for name in ("pass_s", "op_p50_ms"):
                if t[name] and u[name]:
                    layers[f"trace.overhead_{name}_frac"] = t[name] / u[name] - 1.0
        wanted = spec["per_layer"]
        vals = layers
    else:
        wanted = spec["end_to_end"]
        vals = end_to_end(raw)
    metrics = {m["name"]: {"value": vals[m["name"]], "unit": m["unit"]}
               for m in wanted if vals.get(m["name"]) is not None}
    return {"correct": raw["failed"] == 0 and len(metrics) == len(wanted),
            "attempted": int(raw["attempted"]), "failed": int(raw["failed"]),
            "metrics": metrics}


# --------------------------------------------------------------------- build

def source_stamp(root):
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = [os.path.join(root, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(root, "src", "main"), os.path.join(root, "project"),
                os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for d, dirs, fs in os.walk(top):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    for p in sorted(files):
        if os.path.isfile(p):
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build(root, build_dir):
    """Compiles the program and the benchmark; returns the classpath and
    the source stamp it was built from."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(root, need)):
            raise BenchError(f"{need} not found under {root}: run from the root of a graft checkout")
    stamp = source_stamp(root)
    cp_file = os.path.join(build_dir, "classpath.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            saved = json.load(f)
        if saved.get("stamp") == stamp:
            return saved["classpath"], stamp
    log("building (sbt) ...")
    t0 = time.time()
    with open(os.path.join(build_dir, "build.log"), "w") as out:
        proc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export perfbench/Runtime/fullClasspath"],
                           cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=out,
                           limit=BUILD_LIMIT_S)
    with open(os.path.join(build_dir, "build.log"), "ab") as out:
        out.write(proc.stdout)
    lines = [l.strip() for l in proc.stdout.decode().splitlines()]
    cps = [l for l in lines if l.startswith(os.sep) and ".jar" in l]
    if proc.returncode != 0 or not cps:
        raise BenchError(f"build failed (exit {proc.returncode}); see {build_dir}/build.log")
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cps[-1]}, f)
    log(f"built in {time.time() - t0:.1f} s")
    return cps[-1], stamp


def run_bounded(cmd, limit, **kw):
    """Runs `cmd` in its own process group; kills the group on timeout
    and always waits for it to end."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise BenchError(f"{cmd[0]} exceeded {limit} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    proc.stdout = out
    return proc


# -------------------------------------------------------------------- inputs

def cached(dir_, make):
    """Makes `dir_` once: generated into a temporary sibling, then renamed."""
    if os.path.isfile(os.path.join(dir_, ".done")):
        return dir_
    tmp = dir_ + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    make(tmp)
    open(os.path.join(tmp, ".done"), "w").close()
    shutil.rmtree(dir_, ignore_errors=True)
    os.rename(tmp, dir_)
    return dir_


def inputs(workload, seed, build_dir):
    data = os.path.join(build_dir, "data")
    if workload == "analytics_suite" or workload == "record_suite":
        return cached(os.path.join(data, f"tables-{gen_tables.SCALE}"), gen_tables.generate)
    return cached(os.path.join(data, f"sdf-seed{seed}"), lambda d: gen_sdf.generate(seed, d))


# ----------------------------------------------------------------------- run

def run_jvm(root, built, workload, seed, seconds, traced, deadline):
    """Runs the workload in one JVM; returns its raw result, tagged with
    the build stamp and the inputs it ran on."""
    classpath, stamp = built
    build_dir = os.path.join(root, ".bench_build")
    out_dir = os.path.join(root, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    data = inputs(workload, seed, build_dir)
    work = os.path.join(build_dir, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "stage"):
        os.makedirs(os.path.join(work, d))
    tag = f"{workload}-seed{seed}-{'traced' if traced else 'untraced'}"
    raw_path = os.path.join(out_dir, f"{tag}.json")
    if os.path.exists(raw_path):
        os.remove(raw_path)
    env = dict(os.environ, GRAFT_LOCAL_DIR=os.path.join(work, "spark-local"),
               GRAFT_STAGE_DIR=os.path.join(work, "stage"))
    cmd = (["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
           [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", classpath, "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if traced else "0", "--data", data,
            "--work", work, "--out", raw_path,
            "--expected", os.path.join(HERE, "suite_expected.json"),
            "--deadline", f"{deadline - 10:.0f}"])
    limit = deadline - time.time()
    if limit < 20:
        raise BenchError("no time left to run the workload")
    with open(os.path.join(out_dir, f"{tag}.log"), "w") as logf:
        proc = run_bounded(cmd, limit, cwd=work, env=env, stdout=logf, stderr=subprocess.STDOUT)
    shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or not os.path.isfile(raw_path):
        raise BenchError(f"{workload} JVM exited {proc.returncode}; see .bench_out/{tag}.log")
    with open(raw_path) as f:
        raw = json.load(f)
    raw["stamp"], raw["inputs"] = stamp, os.path.basename(data)
    with open(raw_path, "w") as f:
        json.dump(raw, f)
    return raw


def comparable_untraced(out_dir, workload, stamp, data):
    """This checkout's untraced result of the workload on the same build
    and the same inputs (the suite's tables do not depend on the seed,
    the SDF corpus does), newest first; None if there is none."""
    paths = sorted(glob.glob(os.path.join(out_dir, f"{workload}-seed*-untraced.json")),
                   key=os.path.getmtime, reverse=True)
    for p in paths:
        try:
            with open(p) as f:
                raw = json.load(f)
        except (OSError, ValueError):
            continue
        if raw.get("stamp") == stamp and raw.get("inputs") == os.path.basename(data):
            return raw
    return None


def print_report(raw, line):
    log(f"{raw['workload']} seed {raw['seed']}{' (traced)' if raw['traced'] else ''}: "
        f"attempted {raw['attempted']}, failed {raw['failed']}")
    for why in raw.get("failures", [])[:10]:
        log(f"  failure: {why}")
    for name, (val, unit, n) in workload_report(raw).items():
        if val is not None:
            log(f"  {name:<28} {val:>14.4f} {unit:<7}" + (f" (n={n})" if n is not None else ""))
    for name, m in line["metrics"].items():
        log(f"  metric {name:<40} {m['value']:>14.4f} {m['unit']}")


def main(argv=None):
    ap = argparse.ArgumentParser(description="graft benchmark of record")
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all", "record_suite"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if a.workload == "all":
        codes = [main(["--workload", w, "--seed", str(a.seed), "--seconds", str(a.seconds),
                       "--trace", str(a.trace)]) for w in WORKLOADS]
        return max(codes)
    deadline = time.time() + RUN_LIMIT_S
    root = os.getcwd()
    try:
        spec = load_spec(root)
        build_dir = os.path.join(root, ".bench_build")
        os.makedirs(build_dir, exist_ok=True)
        built = build(root, build_dir)
        # the first run in a checkout may spend its time on the build
        deadline = max(deadline, time.time() + RUN_LIMIT_S)
        if a.workload == "record_suite":
            run_jvm(root, built, a.workload, a.seed, a.seconds, False, deadline)
            return 0
        untraced = None
        if a.trace:
            # overhead = traced minus untraced, on the same build and inputs:
            # reuse such an untraced run of this checkout, or make one first
            data = inputs(a.workload, a.seed, build_dir)
            untraced = comparable_untraced(os.path.join(root, ".bench_out"), a.workload, built[1], data)
            if untraced is None:
                log("no untraced run of this build and inputs yet: making one")
                untraced = run_jvm(root, built, a.workload, a.seed, a.seconds, False, deadline)
        raw = run_jvm(root, built, a.workload, a.seed, a.seconds, bool(a.trace), deadline)
    except (BenchError, OSError, ValueError) as e:
        log(f"error: {e}")
        return 2
    line = result_line(raw, spec, bool(a.trace), untraced)
    with open(os.path.join(root, ".bench_out", f"{a.workload}-seed{a.seed}-report.json"), "w") as f:
        json.dump({"report": workload_report(raw), "result": line}, f, indent=1)
    print_report(raw, line)
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
