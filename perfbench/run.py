#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Builds the library and the benchmark from
source (cached by a hash of the sources), generates the workload's
inputs from the seed, runs one JVM on local[4] with one closed-loop
client, checks every result against the workload's oracle and prints one
JSON line. --trace 0 prints the end-to-end metrics, --trace 1 the
per-layer metrics. Exits non-zero on any mismatch or failed operation.
Workloads, metrics and their links are described in perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, HERE)

import inputs   # noqa: E402
import oracles  # noqa: E402

CORES = 4
HEAP = "3g"
SETUP_REPS = 5
# Warm passes keep getting faster for a few passes (JIT). Every run makes
# the same number of them and pass_s leaves out the first. A traced run
# alternates traced and untraced warm passes.
MIN_WARM = {False: 2, True: 4}
RUN_LIMIT_S = 175

GATES = ["q167_bpe_train", "q174_bpe_encode", "q282_record_linkage"]
MEDIAN_QUERIES = ["global_k100", "global_k20000", "global_k100000",
                  "by4_k20000", "by100k_k100", "exact_500k"]
EXACT_K = 600_000
STMT_KINDS = ["insert", "merge", "delete", "point", "range", "full",
              "optimize", "vacuum"]
WRITE_KINDS = ["insert", "merge", "delete", "optimize"]
CORE_KS = [100, 20000, 100000]

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

END_TO_END = [("setup_s", "s"), ("cold_pass_s", "s"), ("pass_s", "s")]


def per_layer_names() -> list:
    """(name, unit) of every per-layer metric, in report order."""
    m = [("jvm.peak_heap_mb", "MiB"), ("session.build_s", "s"),
         ("queries.build_s", "s"),
         ("queries.build_jobs", "count")]
    m += [(f"queries.gate.{g}.s", "s") for g in GATES]
    m += [("catalyst.analysis_s", "s"), ("catalyst.optimizer_s", "s"),
          ("catalyst.planning_s", "s"), ("plans.rule_s", "s"),
          ("plans.rule_effective_ratio", "ratio")]
    m += [("exec.s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
          ("exec.tasks", "count"), ("exec.task_cpu_s", "s"),
          ("exec.task_gc_s", "s"), ("exec.shuffle_write_mb", "MiB"),
          ("exec.shuffle_read_mb", "MiB"), ("exec.spill_mb", "MiB"),
          ("exec.exchanges", "count")]
    m += [("functions.agg_time_s", "s"),
          ("functions.sort_fallback_tasks", "count")]
    m += [(f"functions.query.{q}.s", "s") for q in MEDIAN_QUERIES]
    for phase, unit in (("update_ns_per_row", "ns"), ("serialize_us", "us"),
                        ("partial_bytes", "bytes"),
                        ("merge_us_per_partial", "us"), ("finalize_us", "us")):
        m += [(f"core.{phase}.k{k}", unit) for k in CORE_KS]
    m += [("sources.input_mb", "MiB")]
    m += [(f"sources.write_amp.{k}", "ratio") for k in WRITE_KINDS]
    m += [("sources.live_files", "count"), ("sources.commit_log_bytes", "bytes"),
          ("sources.stored_bytes_per_user_byte", "ratio"),
          ("sources.files_read_per_point_read", "count")]
    m += [(f"sources.rows_read_per_row_returned.{k}", "ratio")
          for k in ("point", "range", "full")]
    m += [(f"sources.stmt.{k}.s", "s") for k in STMT_KINDS]
    m += [("sources.read_p50_s", "s"), ("sources.read_tail_s", "s"),
          ("sources.read_samples", "count"), ("sources.write_p50_s", "s"),
          ("sources.write_tail_s", "s"), ("sources.write_samples", "count")]
    m += [("trace.overhead_s", "s")]
    return m


class BuildError(Exception):
    pass


def _read(path: str) -> str:
    with open(path) as f:
        return f.read()


def _source_hash() -> str:
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
            os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build() -> str:
    """Compiles the library and the benchmark; returns the JVM classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise BuildError("library sources not found next to perfbench/")
    cache = os.path.join(WORK, "build")
    os.makedirs(cache, exist_ok=True)
    stamp, cp_file = os.path.join(cache, "stamp"), os.path.join(cache, "classpath")
    digest = _source_hash()
    if os.path.exists(stamp) and _read(stamp) == digest:
        return _read(cp_file)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", " ".join(
        ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}",
         "-Dsbt.offline=true", "-Xmx3g"] if os.path.exists(repos) else ["-Xmx3g"]))
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True, timeout=850)
    lines = [l for l in p.stdout.splitlines() if "perfbench" in l and ".jar" in l
             and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-2000:])
        raise BuildError(f"sbt exited with {p.returncode}")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1].strip()


def run_jvm(classpath: str, spec_path: str, wdir: str, timeout: float) -> None:
    tmp = os.path.join(wdir, "tmp")
    local = os.path.join(wdir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}",
            f"-Dgraft.index.store={os.path.join(wdir, 'index')}",
            f"-Dgraft.catalog.store={os.path.join(wdir, 'catalog')}",
            f"-Dspark.local.dir={local}",
            f"-Dspark.sql.warehouse.dir={os.path.join(wdir, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "perfbench.Main", spec_path]
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_") and k != "_JAVA_OPTIONS"}
    env["SPARK_LOCAL_DIRS"] = local
    log_path = os.path.join(wdir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=wdir, env=env, stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, 9)
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        raise RuntimeError(f"benchmark JVM failed: {code}")


def make_spec(workload: str, seed: int, seconds: float, trace: bool,
              wdir: str) -> dict:
    spec = inputs.GENERATORS[workload](seed, os.path.join(wdir, "inputs"))
    spec.update(workload=workload, seed=seed, seconds=seconds, trace=trace,
                cores=CORES, setup_reps=SETUP_REPS,
                min_warm_passes=MIN_WARM[trace],
                results_dir=os.path.join(wdir, "results"),
                out=os.path.join(wdir, "record.json"))
    if workload == "median_agg":
        spec.update(exact_k=EXACT_K, exact_slice_keys=inputs.EXACT_SLICE_KEYS)
    elif workload == "llm_pipeline":
        gates = list(GATES)
        random.Random(seed).shuffle(gates)
        spec["gates"] = gates
    else:
        spec["lake_dir"] = os.path.join(wdir, "lake")
    return spec


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs: list) -> float:
    """The highest percentile with at least ten samples beyond it. Below
    21 samples that percentile would not even reach the median, so the
    maximum stands in for it."""
    xs = sorted(xs)
    return xs[len(xs) - 11] if len(xs) > 20 else max(xs, default=0.0)


def end_to_end(record: dict) -> dict:
    warm = [p for p in record["passes"] if not p["cold"]]
    return {
        "setup_s": _median(record["setup_s"]),
        "cold_pass_s": record["passes"][0]["s"],
        "pass_s": _median([p["s"] for p in warm[1:]])}


def per_layer(record: dict, spec: dict) -> dict:
    """Per-layer metrics from the spans of the traced warm passes: sums
    over a pass, then the median over passes. 0 where the workload does
    not exercise the layer."""
    spans = record["spans"]
    warm = [p for p in record["passes"] if p["traced"] and not p["cold"]]
    names = {f"pass{p['pass']}" for p in warm}
    warm_ids = [s["id"] for s in spans if s["kind"] == "pass" and s["name"] in names]
    ops = [s for s in spans if s["kind"] == "op" and s["parent"] in warm_ids]
    phases = {}
    for s in spans:
        if s["kind"] in ("build", "plan", "exec"):
            phases[(s["parent"], s["kind"])] = s["end"] - s["start"]

    def per_pass(f) -> float:
        return _median([sum(f(o) for o in ops if o["parent"] == pid)
                        for pid in warm_ids])

    def both(o, k):
        return o.get(f"build_{k}", 0) + o.get(f"exec_{k}", 0)

    def dur(o):
        return o["end"] - o["start"]

    def by_name(name):
        return _median([dur(o) for o in ops if o["name"] == name])

    def by_kind(kind):
        return [o for o in ops if o["op_kind"] == kind]

    mib = 1048576.0
    m = {"jvm.peak_heap_mb": record["peak_heap_mb"],
         "session.build_s": _median(record["session_build_s"]),
         "queries.build_s": per_pass(lambda o: phases.get((o["id"], "build"), 0)),
         "queries.build_jobs": per_pass(lambda o: o.get("build_jobs", 0))}
    for g in GATES:
        m[f"queries.gate.{g}.s"] = by_name(g) if spec["workload"] == "llm_pipeline" else 0.0
    runs = per_pass(lambda o: o["rule_runs"])
    m.update({
        "catalyst.analysis_s": per_pass(lambda o: o["analysis_s"]),
        "catalyst.optimizer_s": per_pass(lambda o: o["optimizer_s"]),
        "catalyst.planning_s": per_pass(lambda o: o["planning_s"]),
        "plans.rule_s": per_pass(lambda o: o["rule_s"]),
        "plans.rule_effective_ratio":
            per_pass(lambda o: o["rule_effective_runs"]) / runs if runs else 0.0,
        "exec.s": per_pass(lambda o: phases.get((o["id"], "exec"), 0)),
        "exec.jobs": per_pass(lambda o: both(o, "jobs")),
        "exec.stages": per_pass(lambda o: both(o, "stages")),
        "exec.tasks": per_pass(lambda o: both(o, "tasks")),
        "exec.task_cpu_s": per_pass(lambda o: both(o, "task_cpu_s")),
        "exec.task_gc_s": per_pass(lambda o: both(o, "task_gc_s")),
        "exec.shuffle_write_mb": per_pass(lambda o: both(o, "shuffle_write_bytes")) / mib,
        "exec.shuffle_read_mb": per_pass(lambda o: both(o, "shuffle_read_bytes")) / mib,
        "exec.spill_mb": per_pass(lambda o: both(o, "spill_bytes")) / mib,
        "exec.exchanges": per_pass(lambda o: o["exchanges"]),
        "functions.agg_time_s": per_pass(lambda o: o["agg_time_s"]),
        "functions.sort_fallback_tasks": per_pass(lambda o: o["sort_fallback_tasks"])})
    for q in MEDIAN_QUERIES:
        m[f"functions.query.{q}.s"] = by_name(q) if spec["workload"] == "median_agg" else 0.0
    for phase in ("update_ns_per_row", "serialize_us", "partial_bytes",
                  "merge_us_per_partial", "finalize_us"):
        for k in CORE_KS:
            name = f"core.{phase}.k{k}"
            m[name] = record["core"].get(name, 0.0)
    m["sources.input_mb"] = per_pass(lambda o: o["scan_file_bytes"]) / mib

    lake = spec["workload"] == "lakehouse_rw"
    user_rows = {"optimize": inputs.LAKE_ROWS}
    for op in (o for r in spec.get("rounds", []) for o in r if "user_rows" in o):
        user_rows[op["kind"]] = user_rows.get(op["kind"], 0) + op["user_rows"]
    for k in WRITE_KINDS:
        written = per_pass(lambda o: o.get("bytes_written", 0) if o["op_kind"] == k else 0)
        m[f"sources.write_amp.{k}"] = (
            written / (user_rows[k] * inputs.ROW_BYTES) if lake else 0.0)
    lake_warm = [p for p in record["passes"] if not p["cold"] and "stored_bytes" in p]
    m["sources.live_files"] = _median([p["live_files"] for p in lake_warm])
    m["sources.commit_log_bytes"] = _median([p["commit_log_bytes"] for p in lake_warm])
    m["sources.stored_bytes_per_user_byte"] = (
        _median([p["stored_bytes"] for p in lake_warm])
        / (inputs.LAKE_ROWS * inputs.ROW_BYTES) if lake else 0.0)
    m["sources.files_read_per_point_read"] = _median(
        [o["scan_splits"] for o in by_kind("point")])
    for k in ("point", "range", "full"):
        rows = sum(o["rows"] for o in by_kind(k))
        m[f"sources.rows_read_per_row_returned.{k}"] = (
            sum(o["scan_rows"] for o in by_kind(k)) / rows if rows else 0.0)
    for k in STMT_KINDS:
        m[f"sources.stmt.{k}.s"] = _median([dur(o) for o in by_kind(k)])
    # latencies pool every warm pass, traced or not, for more samples
    every = [o for p in record["passes"] if not p["cold"] for o in p["ops"]]
    reads = [o["s"] for o in every if o["kind"] in ("point", "range", "full")]
    writes = [o["s"] for o in every if o["kind"] in ("insert", "merge", "delete")]
    m.update({"sources.read_p50_s": _median(reads), "sources.read_tail_s": tail(reads),
              "sources.read_samples": len(reads),
              "sources.write_p50_s": _median(writes),
              "sources.write_tail_s": tail(writes),
              "sources.write_samples": len(writes)})
    untraced = [p["s"] for p in record["passes"] if not p["cold"] and not p["traced"]]
    m["trace.overhead_s"] = _median([p["s"] for p in warm]) - _median(untraced)
    return m


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(inputs.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        classpath = build()
    except (BuildError, OSError, subprocess.SubprocessError) as e:
        sys.stderr.write(f"build failed: {e}\n")
        return 2
    # a build may take long once per checkout; the run itself stays
    # under RUN_LIMIT_S, with time left for the oracle
    started = time.time()
    wdir = os.path.join(WORK, args.workload)
    shutil.rmtree(wdir, ignore_errors=True)
    os.makedirs(wdir)
    spec = make_spec(args.workload, args.seed, args.seconds, bool(args.trace), wdir)
    spec_path = os.path.join(wdir, "spec.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    run_jvm(classpath, spec_path, wdir, RUN_LIMIT_S - 15 - (time.time() - started))
    with open(spec["out"]) as f:
        record = json.load(f)
    ops = [o for p in record["passes"] for o in p["ops"]]
    # each lakehouse pass also checks the table's final contents
    checks = ops + [{"ok": p["final_ok"], "name": f"final of pass {p['pass']}"}
                    for p in record["passes"] if "final_ok" in p]
    bad = [o for o in checks if not o["ok"]]
    oracle = oracles.ORACLES[args.workload](spec, spec["results_dir"])
    problems = oracle + [f"{o['name']}: {o.get('error', 'differs from pass 1')}"
                         for o in bad]
    for p in problems[:20]:
        sys.stderr.write(f"MISMATCH {p}\n")
    if len(problems) > 20:
        sys.stderr.write(f"... {len(problems)} mismatches in all\n")
    # oracle messages start with the operation's name, e.g. "by4_k20000[3]: ..."
    oracle_ops = {re.split(r"[\[:]", p, maxsplit=1)[0] for p in oracle}
    if args.trace:
        values, units = per_layer(record, spec), dict(per_layer_names())
    else:
        values, units = end_to_end(record), dict(END_TO_END)
    failed = min(len(checks), len(bad) + len(oracle_ops))
    print(json.dumps({
        "correct": not problems, "attempted": len(checks), "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units}}))
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())
