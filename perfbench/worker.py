"""One benchmark run inside one fresh Spark driver process.

Started by ``run.py`` with the checkout root on ``PYTHONPATH``. It
opens the session, runs a first pass, the workload's warm-up passes
and then the measured warm passes of one workload as a closed loop
(each job starts after the previous one ends), checks every output
outside the timed passes and writes ``result.json`` into its work
directory.

Every call into a layer is a span ``(pass, query, phase, start, end)``
and runs under the Spark job group ``workload:query:phase``. With
``--trace 1`` the session also writes Spark's JSON event log and a
``StreamingQueryListener`` records micro-batch progress; ``tracing``
turns those into the per-layer metrics after the session stops.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

from workloads import MR_JOBS, WORKLOADS


class Run:
    """Spans and outcome counts of one run."""

    def __init__(self, spark, workload: str, work: Path):
        self.spark = spark
        self.workload = workload
        self.work = work
        self.spans: list[dict] = []
        self.attempted = 0
        self.failed = 0

    @contextmanager
    def span(self, pass_no: int, name: str, phase: str):
        self.spark.sparkContext.setJobGroup(
            f"{self.workload}:{name}:p{pass_no}-{phase}", f"pass {pass_no}"
        )
        start = time.time()
        try:
            yield
        finally:
            self.spans.append({"pass": pass_no, "name": name, "phase": phase,
                               "start": start, "end": time.time()})

    def operation(self, pass_no: int, name: str, steps) -> None:
        """Run one operation's ``(phase, fn)`` steps; an exception
        counts the operation as failed and the pass goes on."""
        self.attempted += 1
        try:
            for phase, fn in steps:
                with self.span(pass_no, name, phase):
                    fn()
        except Exception:  # noqa: BLE001 - a failed query is a counted outcome
            traceback.print_exc()
            self.failed += 1

    def check(self, name: str, fn) -> None:
        """Verify one output; a mismatch or exception is a failure."""
        self.attempted += 1
        try:
            why = fn()
        except Exception:  # noqa: BLE001 - a failed check is a counted outcome
            traceback.print_exc()
            why = "check raised"
        if why:
            print(f"perfbench: {self.workload}/{name}: {why}", flush=True)
            self.failed += 1


class RegistryWorkload:
    """Queries from the registry, each built ``(spark, sf_dir)`` and
    executed into the noop sink."""

    distinct_keys = 0

    def __init__(self, run: Run, queries: list[str], sf_dir: str):
        from tda596_lab02mapreduce_spark import registry

        self.run, self.sf_dir = run, sf_dir
        self.queries = {q: registry.get(q) for q in queries}
        self.last: dict = {}

    def one_pass(self, pass_no: int) -> None:
        for name, q in self.queries.items():
            out = {}

            def build(q=q, out=out):
                out["df"] = q.spark_fn(self.run.spark, self.sf_dir)

            def execute(out=out):
                out["df"].write.format("noop").mode("overwrite").save()

            self.run.operation(pass_no, name, (("build", build), ("exec", execute)))
            if "df" in out:
                self.last[name] = out["df"]

    def verify(self) -> None:
        from tests.oracle import run_oracle, verdict

        for name, q in self.queries.items():
            def compare(name=name, q=q):
                if name not in self.last:
                    return "no result to check"
                df = self.last[name]
                with self.run.span(-1, name, "verify"):
                    rows = [tuple(r) for r in df.collect()]
                if not rows:
                    return "query returned 0 rows"
                d_cols, d_rows = run_oracle(self.sf_dir, q.oracle_text())
                return verdict(list(df.columns), rows, d_cols, d_rows)

            self.run.check(name, compare)

    def baseline(self) -> float:
        return 0.0


class TextJobWorkload:
    """The reference's text job: wc and indexer through both façade
    forms, ``key value`` part files written by ``save_text_kv``."""

    def __init__(self, run: Run, corpus_dir: str):
        from tda596_lab02mapreduce_spark import apps

        self.run, self.apps = run, apps
        self.files = sorted(glob.glob(os.path.join(corpus_dir, "pg-*.txt")))
        self.glob = os.path.join(corpus_dir, "pg-*.txt")
        self.out = run.work / "mr-out"
        self.expected: dict[str, list[str]] = {}

    def one_pass(self, pass_no: int) -> None:
        from tda596_lab02mapreduce_spark.mapreduce import (
            run_mapreduce,
            run_mapreduce_df,
            save_text_kv,
        )
        from tda596_lab02mapreduce_spark.sources.files import read_whole_files

        forms = {"df": run_mapreduce_df, "rdd": run_mapreduce}
        for form, app in MR_JOBS:
            def job(form=form, app=app):
                inputs = read_whole_files(self.run.spark, self.glob)
                kv = forms[form](self.run.spark, inputs,
                                 getattr(self.apps, f"{app}_map"),
                                 getattr(self.apps, f"{app}_reduce"))
                save_text_kv(kv, str(self.out / f"{form}_{app}"))

            self.run.operation(pass_no, f"{form}_{app}", (("job", job),))

    def baseline(self) -> float:
        """Sequential single-threaded run of the same app functions
        (``mrsequential.go``); its sorted lines are the oracle."""
        start = time.perf_counter()
        contents = [(Path(f).resolve().as_uri(), Path(f).read_text(encoding="utf-8"))
                    for f in self.files]
        for app in ("wc", "indexer"):
            mapf = getattr(self.apps, f"{app}_map")
            reducef = getattr(self.apps, f"{app}_reduce")
            groups: dict[str, list[str]] = defaultdict(list)
            for fn, text in contents:
                for k, v in mapf(fn, text):
                    groups[k].append(v)
            self.expected[app] = sorted(f"{k} {reducef(k, vs)}" for k, vs in groups.items())
        elapsed = time.perf_counter() - start
        self.distinct_keys = len(self.expected["wc"])
        return elapsed

    def verify(self) -> None:
        for form, app in MR_JOBS:
            def compare(form=form, app=app):
                lines: list[str] = []
                parts = sorted(glob.glob(str(self.out / f"{form}_{app}" / "part-*")))
                for p in parts:
                    lines.extend(Path(p).read_text(encoding="utf-8").splitlines())
                if not lines:
                    return "no output lines"
                if sorted(lines) != self.expected[app]:
                    return f"{len(lines)} lines differ from the sequential run"
                return None

            self.run.check(f"{form}_{app}", compare)


def _jvm_peak_rss_mb(spark) -> float:
    """High-water RSS of the driver JVM (``VmHWM``)."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from the driver JVM's status")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--t0", type=float, required=True)
    args = ap.parse_args()
    work = Path(args.work)

    from tda596_lab02mapreduce_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    if args.trace:
        (work / "eventlog").mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").resolve().as_uri(),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    spark.range(1 << 16).selectExpr("sum(id)").collect()
    setup_s = time.time() - args.t0

    listener = None
    if args.trace:
        from tracing import ProgressListener

        listener = ProgressListener()
        spark.streams.addListener(listener)

    run = Run(spark, args.workload, work)
    spec = WORKLOADS[args.workload]
    if spec["queries"]:
        wl = RegistryWorkload(run, list(spec["queries"]), args.inputs)
    else:
        wl = TextJobWorkload(run, args.inputs)

    def timed_pass(pass_no: int) -> float:
        start = time.perf_counter()
        wl.one_pass(pass_no)
        return time.perf_counter() - start

    first_pass_s = timed_pass(0)
    n_up = spec["warmup"]
    warmup = [timed_pass(i) for i in range(1, n_up + 1)]
    n_warm = max(1, round(args.seconds / spec["pass_s"]))
    warm = [timed_pass(i) for i in range(n_up + 1, n_up + n_warm + 1)]

    baseline_s = wl.baseline()
    wl.verify()
    peak_rss_mb = _jvm_peak_rss_mb(spark)
    if listener is not None:
        listener.wait_idle()
    spark.stop()

    result = {
        "attempted": run.attempted,
        "failed": run.failed,
        "setup_s": setup_s,
        "first_pass_s": first_pass_s,
        "warmup_pass_s": warmup,
        "warm_pass_s": warm,
        "wall_s": statistics.median(warm),
        "peak_rss_mb": peak_rss_mb,
        "baseline_s": baseline_s,
        "cores": int(os.environ["SPARK_GRAFT_CPUS"]),
        "distinct_keys": wl.distinct_keys,
        "spans": run.spans,
        "progress": listener.records if listener is not None else [],
    }
    (work / "result.json").write_text(json.dumps(result))


if __name__ == "__main__":
    main()
