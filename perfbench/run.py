"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Generates ``mesh_split``'s projects from
the seed under ``.perfbench_work/`` (the Spark workloads read the reference
tables in ``perfbench/data/``), runs the workload in a fresh driver process
(``driver.py``) on ``local[<nproc>]``, and prints one line with the run's
environment record followed, as the last line, by the result:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics of ``BENCHMARK.json``; ``--trace 1`` reports its
per-layer metrics from a traced run. The full record (every operation,
verification check and, for traced runs, the spans) is kept in
``.perfbench_work/results/``. Exits non-zero without a result when the
program under test is missing or the run fails.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
TIME_LIMIT_S = 170.0
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)


def fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest(root: str) -> str:
    """SHA-256 over the program's Python sources, for checkouts without git."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "dbt_meshify_spark")
    for dirpath, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit(root: str) -> str | None:
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def child_env(work: str) -> dict:
    """Environment for the benchmark's own processes: the checkout on
    ``PYTHONPATH`` (so Spark's Python workers import the program from any
    working directory), all scratch space under ``work``, and local[nproc]."""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH", "")) if p)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "spark-warehouse"),
        "SPARK_GRAFT_SCRATCH": os.path.join(work, "scratch"),
        "TMPDIR": tmp,
        # no /tmp/hsperfdata_* from the launcher or driver JVMs
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp}' "
            "--conf spark.ui.retainedJobs=100000 --conf spark.ui.retainedStages=100000 "
            "pyspark-shell"
        ),
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYTHONHASHSEED": "0",
    })
    return env


def check_reference_data(data: str) -> None:
    """Refuse to run on tables that are not the reference test data."""
    with open(os.path.join(data, "SHA256SUMS")) as fh:
        for line in fh:
            digest, name = line.split()
            with open(os.path.join(data, name), "rb") as f:
                if hashlib.sha256(f.read()).hexdigest() != digest:
                    fail(f"{name} in {data} is not the reference table")


def prepare_inputs(workload: str, seed: int, work: str) -> dict:
    """The run's inputs: seeded projects for ``mesh_split``, the reference
    tables for the Spark workloads. Returns the driver spec's input fields."""
    from perfbench import workloads as W

    if workload == "mesh_split":
        from perfbench import meshgen

        projects = []
        for i in range(W.MESH_PROJECTS):
            src = os.path.join(work, f"mesh-src-{i}")
            project_seed = seed * W.MESH_PROJECTS + i
            graph = meshgen.generate(src, project_seed, n_models=W.MESH_MODELS)
            projects.append({"src": src, "graph": graph,
                             "selections": meshgen.plan_selections(graph, project_seed)})
        return {"extras": {"projects": projects}}
    data = os.path.join(ROOT, W.DATA_DIR)
    check_reference_data(data)
    return {"data_dir": data}


def host_reference_s() -> float:
    """Median time of a fixed pure-Python loop (about 50 ms): a record of
    how fast the host was, taken when a run starts and when it ends, to read
    spreads against."""
    samples = []
    for _ in range(5):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc += i * i
        samples.append(time.perf_counter() - t0)
    return sorted(samples)[2]


def java_version() -> str | None:
    """``java -version`` of the JVM on the path (for runs that start none)."""
    try:
        out = subprocess.run(["java", "-XX:-UsePerfData", "-version"],
                             capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return None
    first = (out.stderr or out.stdout).splitlines()[:1]
    return first[0] if first else None


def _kill_group(pgid: int) -> None:
    """Kill what is left of the driver's process group and wait for it."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.time() + 10
    while time.time() < deadline:
        alive = False
        for pid in os.listdir("/proc"):
            if pid.isdigit():
                try:
                    with open(f"/proc/{pid}/stat") as fh:
                        fields = fh.read().rsplit(")", 1)[1].split()
                except OSError:
                    continue
                if int(fields[2]) == pgid and fields[0] != "Z":
                    alive = True
                    break
        if not alive:
            return
        time.sleep(0.05)


def run_driver(spec: dict, env: dict, timeout: float) -> dict | None:
    spec_path = os.path.join(spec["work"], "spec.json")
    with open(spec_path, "w") as fh:
        json.dump(spec, fh)
    log = open(os.path.join(spec["work"], "driver.log"), "w")
    env = dict(env, PERFBENCH_SPAWN_T=repr(time.time()))
    proc = subprocess.Popen([sys.executable, os.path.join(HERE, "driver.py"), spec_path],
                            cwd=spec["work"], env=env, stdout=log, stderr=subprocess.STDOUT,
                            start_new_session=True)
    code = None
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        pass
    finally:
        _kill_group(proc.pid)
        proc.wait()
        log.close()
    if code != 0 or not os.path.exists(spec["out"]):
        with open(log.name) as fh:
            sys.stderr.write(fh.read()[-4000:])
        return None
    with open(spec["out"]) as fh:
        return json.load(fh)


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def main() -> int:
    t0 = time.time()
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    bench_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_path):
        fail(f"no BENCHMARK.json at {ROOT}")
    if not os.path.isdir(os.path.join(ROOT, "dbt_meshify_spark")):
        fail("the program under test (dbt_meshify_spark/) is not in this checkout")
    with open(bench_path) as fh:
        bench = json.load(fh)
    names = [w["name"] for w in bench["workloads"]]
    if args.workload not in names:
        fail(f"unknown workload {args.workload!r}; expected one of {names}")

    work = os.path.join(WORK_ROOT, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    results = os.path.join(WORK_ROOT, "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(results, exist_ok=True)
    load_start = os.getloadavg()
    host_ref = host_reference_s()
    try:
        spec = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                "trace": args.trace, "root": ROOT, "work": work,
                "out": os.path.join(work, "record.json")}
        spec.update(prepare_inputs(args.workload, args.seed, work))
        record = run_driver(spec, child_env(work), TIME_LIMIT_S - (time.time() - t0))
        if record is None:
            fail("the driver process failed", 3)
        if args.trace and os.path.exists(os.path.join(work, "spans.json")):
            shutil.copy(os.path.join(work, "spans.json"), os.path.join(
                results, f"{args.workload}-s{args.seed}-spans.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    from importlib.metadata import version

    from perfbench import workloads as W

    record["env"] = {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(),
        "host_reference_s": [host_ref, host_reference_s()],
        "git_commit": git_commit(ROOT),
        "source_sha256": source_digest(ROOT),
        "spark": version("pyspark"),
        "java": record["versions"].get("java") or java_version(),
        "python": platform.python_version(),
        "fixpoint_family": list(W.FIXPOINT_FAMILY),
        "fixpoint_timed": list(W.FIXPOINT_TIMED),
        "warehouse_queries": list(W.WAREHOUSE_QUERIES),
        "data_sf": W.DATA_SF,
        "mesh_models": W.MESH_MODELS,
        "mesh_projects": W.MESH_PROJECTS,
    }
    with open(os.path.join(results, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1)

    section = "per_layer" if args.trace else "end_to_end"
    values = record["layers"] if args.trace else record["e2e"]
    metrics = {}
    for m in bench[section]:
        if m["name"] not in values:
            fail(f"the run produced no value for {m['name']}", 4)
        metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
    record["phases_s"]["exit"] = time.time() - t0
    summary = {k: record[k] for k in ("tail", "setup_samples_s", "pass_walls_s", "phases_s")}
    print("perfbench:", json.dumps({"env": record["env"], **summary}))
    print(json.dumps({"correct": record["correct"], "attempted": record["attempted"],
                      "failed": record["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
