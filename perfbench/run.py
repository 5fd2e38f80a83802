#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload graph_iterative --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. It writes the workload's inputs from
the seed under ``.perfbench_out/`` and starts ``worker.py`` as a fresh
Spark driver process on ``local[<cores>]``, with the checkout root on
``PYTHONPATH`` so Spark's Python workers import the package from any
working directory. All scratch space (Spark local dirs, JVM and Python
temp dirs, model sidecars, streaming checkpoints) stays inside that
work directory, which is removed when the run ends.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. A traced run also writes
``.perfbench_out/trace/<workload>.json`` with the per-query breakdown.
``trace.overhead`` divides the traced warm pass by the median warm pass
of the untraced runs recorded in this checkout (an untraced run with
half the measured passes is made first when there is none).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".perfbench_out"
RUN_LIMIT_S = 170.0

sys.path.insert(0, str(HERE))

import datagen  # noqa: E402
from workloads import (  # noqa: E402
    CORPUS_FILES,
    CORPUS_VOCAB,
    CORPUS_WORDS_PER_FILE,
    MR_JOBS,
    SF,
    WORKLOADS,
)

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "input_mb_per_s": "MB/s",
}


def _prepare_inputs(workload: str, seed: int, work: Path) -> tuple[str, int, dict]:
    """Write the workload's inputs; returns (input path, input bytes
    read per pass, description)."""
    queries = WORKLOADS[workload]["queries"]
    if not queries:
        corpus = work / "corpus"
        size = datagen.write_corpus(str(corpus), seed, CORPUS_FILES, CORPUS_WORDS_PER_FILE, CORPUS_VOCAB)
        return str(corpus), size * len(MR_JOBS), {"corpus_bytes": size, "corpus_files": CORPUS_FILES}
    sf_dir = work / "sf"
    datagen.write_tables(str(sf_dir), seed, SF)
    size = sum((sf_dir / f"{t}.parquet").stat().st_size for tables in queries.values() for t in tables)
    return str(sf_dir), size, {"sf": SF}


def _session_pids(sid: int) -> list[int]:
    """Live (non-zombie) processes of session ``sid``."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z" and int(fields[3]) == sid:
            pids.append(int(entry))
    return pids


def _stop_session(sid: int) -> None:
    """Kill what is left of the worker's session — the Spark JVM and
    the Python worker daemon, which leaves the worker's process group —
    and wait until it is gone."""
    deadline = time.time() + 15
    while time.time() < deadline:
        pids = _session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)
    raise RuntimeError(f"processes {_session_pids(sid)} outlived the worker")


def _run_worker(workload: str, work: Path, inputs: str, seconds: float, trace: int, deadline: float) -> dict:
    work.mkdir(parents=True, exist_ok=True)
    tmp = work / "tmp"
    tmp.mkdir(exist_ok=True)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(p for p in (str(ROOT), env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_SF_DIR": inputs,
        "SPARK_GRAFT_MODEL_DIR": str(work / "models"),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(tmp),
        # Every JVM, spark-submit's launcher included: temp files in the
        # work dir, and no hsperfdata file in the system /tmp.
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem",
    })
    cmd = [sys.executable, str(HERE / "worker.py"), "--workload", workload,
           "--seconds", str(seconds), "--trace", str(trace), "--work", str(work),
           "--inputs", inputs, "--t0", repr(time.time())]
    proc = subprocess.Popen(cmd, env=env, cwd=work, start_new_session=True)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        _stop_session(proc.pid)
        proc.wait()
    if code != 0:
        raise RuntimeError(f"worker for {workload} ended with {'a timeout' if code is None else code}")
    return json.loads((work / "result.json").read_text())


def _end_to_end(res: dict, input_bytes: int) -> dict[str, float]:
    return {
        "setup_s": res["setup_s"],
        "wall_s": res["wall_s"],
        "input_mb_per_s": input_bytes / 1e6 / res["wall_s"],
    }


def _record(history: Path, seed: int, res: dict) -> None:
    history.parent.mkdir(parents=True, exist_ok=True)
    with history.open("a") as f:
        f.write(json.dumps({"seed": seed, "wall_s": res["wall_s"]}) + "\n")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start = time.time()
    deadline = start + RUN_LIMIT_S

    if not (ROOT / "tda596_lab02mapreduce_spark" / "__init__.py").is_file():
        print(f"perfbench: no tda596_lab02mapreduce_spark package under {ROOT}", file=sys.stderr)
        return 2

    work = OUT / f"work-{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    history = OUT / "runs" / f"{args.workload}.jsonl"
    try:
        inputs, input_bytes, about = _prepare_inputs(args.workload, args.seed, work)
        if args.trace and not history.is_file():
            # Half the measured passes: the reference only needs a
            # steady-state median, and both runs must fit the time limit.
            plain = _run_worker(args.workload, work / "untraced", inputs, args.seconds / 2, 0, deadline)
            _record(history, args.seed, plain)
        res = _run_worker(args.workload, work / "run", inputs, args.seconds, args.trace, deadline)
        if args.trace:
            import tracing

            metrics, queries = tracing.per_layer(str(work / "run" / "eventlog"), res)
            untraced = [json.loads(line)["wall_s"] for line in history.read_text().splitlines()]
            metrics["trace.overhead"] = res["wall_s"] / statistics.median(untraced)
            units = {name: unit for name, (unit, _) in tracing.PER_LAYER.items()}
            artifact = OUT / "trace" / f"{args.workload}.json"
            artifact.parent.mkdir(parents=True, exist_ok=True)
            artifact.write_text(json.dumps({
                "workload": args.workload, "seed": args.seed, "cores": res["cores"], **about,
                "distinct_keys": res["distinct_keys"], "metrics": metrics, "queries": queries,
            }, indent=1))
        else:
            _record(history, args.seed, res)
            metrics = _end_to_end(res, input_bytes)
            units = END_TO_END
    finally:
        shutil.rmtree(work, ignore_errors=True)

    about.update(workload=args.workload, seed=args.seed, cores=res["cores"],
                 warm_passes=len(res["warm_pass_s"]), distinct_keys=res["distinct_keys"])
    print("perfbench: " + " ".join(f"{k}={v}" for k, v in about.items()), flush=True)
    print(f"perfbench: first_pass_s={res['first_pass_s']:.3f}", flush=True)
    for key in ("warmup_pass_s", "warm_pass_s"):
        print(f"perfbench: {key}=" + ",".join(f"{t:.3f}" for t in res[key]), flush=True)
    for name, value in metrics.items():
        print(f"perfbench: {name} = {value:.6g} {units[name]}", flush=True)
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {name: {"value": value, "unit": units[name]} for name, value in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
