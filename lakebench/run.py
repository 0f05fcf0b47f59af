#!/usr/bin/env python3
"""lakebench: the engine's benchmark. Run from the repository root:

    python3 lakebench/run.py --workload catalog_sf01 --seed 1 --seconds 5 --trace 0

Builds the engine and the harness from source (once per source state),
generates the workload's inputs from the seed (cached per seed), runs the
harness in one JVM on local[4], checks the outputs, and prints every
metric with its unit. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; end-to-end metrics with
--trace 0, per-layer metrics with --trace 1. The full record is written to
lakebench/.work/records/. See lakebench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

# workload -> the input set it reads
WORKLOADS = {"catalog_sf01": "catalog", "curation_x10": "curation", "acon_upsert": "acon"}
HEAP = "3g"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850
# Spark on JDK 17 outside spark-submit needs these (Spark's own
# JavaModuleOptions); the engine's build passes the same list.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
E2E_UNITS = {"setup_s": "s", "wall_s": "s", "op_geomean_s": "s"}


def log(msg):
    print(f"lakebench: {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads: the engine's build and sources and the
    harness's."""
    harness = os.path.join(HERE, "harness")
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(harness, "src", "main"), os.path.join(harness, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(harness, "build.sbt")]
    for r in roots:
        for dirpath, dirnames, names in os.walk(r):
            dirnames[:] = sorted(d for d in dirnames if d not in ("target", "project"))
            files += [os.path.join(dirpath, n) for n in sorted(names)]
    return files


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def commit():
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def classes_digest(cp):
    """Digest of the compiled classes on the classpath (path, size and
    mtime of every file under its directories): another build of the
    engine, from the repository root, changes it."""
    h = hashlib.sha256()
    for entry in cp.split(os.pathsep):
        if not os.path.isdir(entry):
            continue
        for dirpath, dirnames, names in os.walk(entry):
            dirnames.sort()
            for n in sorted(names):
                st = os.stat(os.path.join(dirpath, n))
                h.update(f"{os.path.relpath(os.path.join(dirpath, n), entry)} "
                         f"{st.st_size} {st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(digest):
    """Compile engine and harness unless this source state is built and
    the compiled classes are the ones that build left; return the runtime
    classpath."""
    stamp = os.path.join(WORK, "build", "stamp")
    cp_file = os.path.join(WORK, "build", "classpath")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        cp = open(cp_file).read().strip()
        if open(stamp).read() == f"{digest} {classes_digest(cp)}":
            return cp
    log("building engine and harness")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=os.path.join(HERE, "harness"), env=sbt_env(), capture_output=True, text=True,
        timeout=BUILD_LIMIT_S)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        raise SystemExit("lakebench: build failed")
    cp = lines[-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(f"{digest} {classes_digest(cp)}")
    return cp


def inputs(seed, input_set):
    """The seed's input directory and a digest of the workload's inputs."""
    path = gen.generate(os.path.join(WORK, "inputs"), seed, [input_set])
    h = hashlib.sha256()
    for sub in (input_set, f"{input_set}_check"):
        h.update(gen.digest(os.path.join(path, sub)).encode())
    return path, h.hexdigest()


def run_harness(cp, workload, seed, seconds, trace, input_dir, deadline):
    work = os.path.join(WORK, "run", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result_file = os.path.join(work, "result.json")
    cmd = ["java", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", f"-Dderby.system.home={work}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "lakebench.Harness", workload, str(seed), str(seconds),
            "1" if trace else "0", input_dir, work, result_file]
    log_path = os.path.join(work, "harness.log")
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("lakebench: harness exceeded the run time limit")
    if rc != 0 or not os.path.exists(result_file):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"lakebench: harness exited with {rc}")
    with open(result_file) as f:
        return json.load(f), work


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    start = time.time()
    if not os.path.exists(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("lakebench: no engine sources next to the benchmark")
    if os.environ.get("SPARK_GRAFT_EXTRA_CONFS", "").strip():
        raise SystemExit("lakebench: refusing to run with SPARK_GRAFT_EXTRA_CONFS set; "
                         "it overrides the engine's confs")
    digest = source_digest()
    t_build = time.time()
    cp = build(digest)
    # a build may take long once; the run's own limit starts after it
    deadline = start + (time.time() - t_build) + RUN_LIMIT_S
    input_dir, inputs_digest = inputs(a.seed, WORKLOADS[a.workload])
    result, work = run_harness(cp, a.workload, a.seed, a.seconds, a.trace, input_dir, deadline)

    wrong_details = list(result["harness_wrong"])
    checked = result["harness_checked"]
    if a.workload != "acon_upsert":
        import check  # DuckDB and pandas load only where an oracle runs
        tables = os.path.join(input_dir, WORKLOADS[a.workload] + "_check")
        c, d = check.check_queries(tables, os.path.join(work, "out"),
                                   os.path.join(input_dir, "oracle", a.workload))
        checked += c
        wrong_details += d
    failures = result["failures"]
    attempted = result["attempted"]
    code_cache_full = result["jvm"]["code_cache_full"]
    e2e = metrics.end_to_end(result)
    record = {
        "identity": dict(result["identity"], workload=a.workload, seed=a.seed,
                         inputs_digest=inputs_digest, source_digest=digest, commit=commit(),
                         seconds=a.seconds, trace=bool(a.trace)),
        "end_to_end": {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()},
        "per_layer": result["per_layer"],
        "latency": metrics.latency_summary(result),
        "rows_per_s": metrics.rows_per_s(result),
        "failed_ratio": len(failures) / attempted,
        "wrong_results": len(wrong_details),
        "wrong_details": wrong_details,
        "failures": failures,
        "checked_outputs": checked,
        "valid": not code_cache_full,
        "unattributed_jobs": result["unattributed_jobs"],
        "unattributed_call_sites": result["unattributed_call_sites"],
        "iterations": result["iterations"],
        "session_s": result["session_s"],
        "extra": result["extra"],
        "jvm": result["jvm"],
        "ops": op_summary(result["spans"]),
        "samples": result["samples"],
        "spans": result["spans"],
    }
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    rec_path = os.path.join(WORK, "records", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1)

    for name, m in record["end_to_end"].items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    for name, v in sorted(record["per_layer"].items()):
        print(f"{name} = {v:.6g} {layer_unit(name)}")
    print(f"failed_ratio = {record['failed_ratio']:.6g} ratio")
    print(f"wrong_results = {record['wrong_results']} count")
    for d in wrong_details:
        print(f"  wrong: {d}")
    for f in failures:
        print(f"  failed: {f['op']}: {f['error'][:300]}")
    if code_cache_full:
        print("  invalid: a code-cache pool ended full")
    print(f"record: {os.path.relpath(rec_path, ROOT)}")
    if a.trace:
        out = {k: {"value": v, "unit": layer_unit(k)} for k, v in record["per_layer"].items()}
    else:
        out = record["end_to_end"]
    print(json.dumps({"correct": not wrong_details and not code_cache_full,
                      "attempted": attempted, "failed": len(failures), "metrics": out}))


def op_summary(spans):
    """Per operation of a traced run: its latest iteration's time, driver
    gap and Spark work, from the operation's root span."""
    ops = {}
    for s in spans:
        if s["parent"] == 0 and s["name"] != "warm-up":
            inc = s["inclusive"]
            ops[s["name"]] = {"seconds": s["seconds"], "driver_gap_s": s["driver_gap_s"],
                              **{k: inc[k] for k in ("jobs", "stages", "tasks", "task_s",
                                                     "shuffle_bytes")}}
    return ops


def layer_unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith((".share", "_ratio")) or name == "write_amp":
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
