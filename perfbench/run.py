"""gis_tools_spark benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload geotag_lake --seed 1 --seconds 4 --trace 0

Runs from the root of a source checkout, at local[nproc], from one
driver process that issues one Spark action at a time (a closed loop
with one client). Set-up (session start, input generation, warm-up
pass) is timed apart from the measured passes. Every public call's
full output is forced through an exact checksum and compared with a
reference for the seed (refs.json, else the warm-up pass); an
exception or a mismatch counts as a failed operation.

--trace 0 prints the end-to-end metrics. --trace 1 runs with Spark's
event log on and alternates passes that tag no Spark job with passes in
which every public call is a span that tags its jobs; it prints the
per-layer metrics named in BENCHMARK.json, among them the rows/s of the
tagged passes against the untagged ones.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DRIVER_MEMORY = "1g"
SETUP_RUN, WARMUP_RUN, UNTRACED_RUN = -3, -2, -1
SETUP_STAGES = ("session.get_spark", "fixtures.gen")
REFS = HERE / "refs.json"


def load_refs(workload: str, seed: int) -> dict[str, tuple]:
    """The committed checksums of `workload` on `seed` (see
    make_refs.py), or {} for a seed that has none: then every stage is
    compared with its warm-up checksum."""
    with open(REFS) as f:
        known = json.load(f).get(workload, {}).get(str(seed), {})
    return {k: tuple(v) for k, v in known.items()}


def tail_s(samples: list[float]) -> float:
    """Highest percentile with at least ten samples beyond it; the
    maximum below 22 samples, where that percentile would not be above
    the median."""
    xs = sorted(samples)
    return xs[-11] if len(xs) >= 22 else xs[-1]


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    kids = [int(c) for c in f.read().split()]
                out.extend(kids)
                todo.extend(kids)
        except (FileNotFoundError, ProcessLookupError):
            continue
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


class RssSampler(threading.Thread):
    """Peak summed RSS of this process and all its descendants (the JVM
    and its Python workers), sampled from /proc."""

    def __init__(self, period: float = 0.1):
        super().__init__(daemon=True)
        self.period, self.peak_kb = period, 0
        self._stop_ev = threading.Event()

    def run(self):
        me = os.getpid()
        while not self._stop_ev.is_set():
            total = sum(_rss_kb(p) for p in [me] + _descendants(me))
            self.peak_kb = max(self.peak_kb, total)
            self._stop_ev.wait(self.period)

    def stop(self) -> float:
        self._stop_ev.set()
        self.join()
        return self.peak_kb / 1024.0


class Runner:
    """Runs a workload's public calls, checks their checksums against
    the references and keeps per-stage latencies and output rows."""

    def __init__(self, spans, traced: bool, refs: dict[str, tuple]):
        from workloads import checksum
        self.spans, self.traced, self.checksum = spans, traced, checksum
        self.refs = dict(refs)
        self.learned: list[str] = []  # refs taken from the warm-up pass
        self.learning = True          # warm-up pass: record missing refs
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.observed: dict[str, list[float]] = {}
        self.latency: dict[str, list[float]] = {}
        self.out_rows: dict[str, list[int]] = {}

    def end_warmup(self):
        """Stop learning references and drop the warm-up's samples; its
        attempted and failed operations still count."""
        self.learning = False
        for d in (self.observed, self.latency, self.out_rows):
            d.clear()

    def observe(self, name, value):
        self.observed.setdefault(name, []).append(value)

    def op(self, stage, fn, ref=None, rows_in=None):
        """One public call plus the action that forces its full output."""
        ref = ref or stage
        self.attempted += 1
        out = None
        t0 = time.perf_counter()
        try:
            with self.spans.span(stage):
                with self.spans.span("call"):
                    out = fn()
                if hasattr(out, "schema"):
                    with self.spans.span("exec"):
                        got = self.checksum(out)
                    self.out_rows.setdefault(stage, []).append(got[0])
                    if rows_in:
                        self.observe(f"{stage}.fanout", got[0] / rows_in)
                    if ref not in self.refs and self.learning:
                        self.refs[ref] = got
                        self.learned.append(ref)
                    elif self.refs.get(ref) != got:
                        self.failed += 1
                        self.errors.append(f"{stage}: checksum {got} != "
                                           f"reference {self.refs.get(ref)}")
        except Exception as e:                     # noqa: BLE001
            self.failed += 1
            self.errors.append(f"{stage}: {type(e).__name__}: {e}"[:400])
        self.latency.setdefault(stage, []).append(time.perf_counter() - t0)
        return out


def _spark(work: Path, cpus: int, traced: bool):
    from gis_tools_spark import get_spark
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        (work / "eventlog").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="gis_tools_spark_perfbench", cpus=cpus, **conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _persistent_rdd_ids(sc) -> set[int]:
    return {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}


def _stop_spark(spark) -> None:
    """Stop the session, then wait for the JVM and every process it
    started (the Python worker daemon and workers) to exit."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    kids = _descendants(os.getpid())
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            with contextlib.suppress(OSError):
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 20
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and _rss_kb(pid):
            if time.monotonic() > deadline:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
                deadline = time.monotonic() + 5
            time.sleep(0.05)


def _pass(w, r, sc, own_rdds):
    """One timed pass; returns its wall time, its rows and the RDDs it
    left persisted."""
    t0 = time.perf_counter()
    rows = w.run_pass(r)
    dt = time.perf_counter() - t0
    return dt, rows, len(_persistent_rdd_ids(sc) - own_rdds)


def measure(workload: str, seed: int, seconds: float, traced: bool,
            work: Path) -> dict:
    import tempfile

    from layers import EventLog, Spans, find_event_log, layer_metrics
    from workloads import WORKLOADS

    for d in ("local", "warehouse", "tmp"):
        (work / d).mkdir(parents=True)
    os.environ["TMPDIR"] = tempfile.tempdir = str(work / "tmp")

    def dur(s):
        return (s["end"] - s["start"]) / 1000.0

    rss = RssSampler()
    rss.start()
    spans = Spans()
    spans.run = SETUP_RUN
    with spans.span("session.get_spark") as s_sess:
        spark = _spark(work, len(os.sched_getaffinity(0)), traced)
    sc = spark.sparkContext
    if traced:
        spans.sc = sc
    try:
        r = Runner(spans, traced, load_refs(workload, seed))
        w = WORKLOADS[workload](spark, seed, str(work))
        with spans.span("fixtures.gen") as s_gen:
            w.generate()
        spans.run = WARMUP_RUN
        with spans.span("warmup") as s_warm:
            w.run_pass(r)
        r.end_warmup()
        own_rdds = _persistent_rdd_ids(sc)
        setup_s = dur(s_sess) + dur(s_gen) + dur(s_warm)

        # a traced run alternates passes that tag no Spark job with
        # traced ones
        order = (False, True) if traced else (False,)
        times: dict[bool, list[float]] = {False: [], True: []}
        leaked = []
        t_end = time.perf_counter() + seconds
        while not times[traced] or time.perf_counter() < t_end:
            for tagged in order:
                spans.sc = sc if tagged else None
                spans.run = len(times[True]) if tagged else UNTRACED_RUN
                dt, rows, left = _pass(w, r, sc, own_rdds)
                times[tagged].append(dt)
                leaked.append(left)
        w.drop_inputs()
    finally:
        _stop_spark(spark)
    peak_rss_mb = rss.stop()

    pass_s = times[traced]
    rows_per_s = rows / statistics.median(pass_s)
    result = {
        "attempted": r.attempted, "failed": r.failed, "errors": r.errors,
        "phases": {"session_s": dur(s_sess), "gen_s": dur(s_gen),
                   "warmup_s": dur(s_warm),
                   "pass_s": pass_s, "rows_per_pass": rows,
                   "refs_from_warmup": r.learned,
                   "stage_p50_s": {k: round(statistics.median(v), 3)
                                   for k, v in r.latency.items()}},
        "e2e": {"setup_s": (setup_s, "s"),
                "rows_per_s": (rows_per_s, "rows/s")},
    }
    if traced:
        log = EventLog(find_event_log(str(work / "eventlog")))
        layers = layer_metrics(spans, log, SETUP_STAGES, {SETUP_RUN})
        layers.update(layer_metrics(spans, log, w.stages,
                                    set(range(len(pass_s)))))
        per_layer = {f"{stage}.{k}": v for stage, m in layers.items()
                     for k, v in m.items()}
        for stage, rows_list in r.out_rows.items():
            py_rows = layers.get(stage, {}).get("py_eval_rows")
            if py_rows:
                per_layer[f"{stage}.refine_hit_ratio"] = \
                    statistics.median(rows_list) / py_rows
        for name, vals in r.observed.items():
            per_layer[name] = statistics.median(vals)
        for stage, lat in r.latency.items():
            per_layer[f"{stage}.p50_s"] = statistics.median(lat)
            per_layer[f"{stage}.tail_s"] = tail_s(lat)
            per_layer[f"{stage}.samples"] = float(len(lat))
            per_layer[f"{stage}.out_rows_per_s"] = (
                statistics.median(r.out_rows.get(stage, [0]))
                / statistics.median(lat))
        per_layer["bench.leaked_rdds"] = float(max(leaked))
        per_layer["bench.peak_rss_mb"] = peak_rss_mb
        per_layer["trace.rows_per_s"] = rows_per_s
        per_layer["trace.overhead_frac"] = (
            1.0 - statistics.median(times[False]) / statistics.median(pass_s))
        result["per_layer"] = per_layer
        out = ROOT / ".perfbench_out"
        out.mkdir(exist_ok=True)
        spans.dump(str(out / f"spans-{workload}-{seed}.json"))
        with open(out / f"layers-{workload}-{seed}.json", "w") as f:
            json.dump(per_layer, f, indent=1, sort_keys=True)
    return result


def setup_env() -> None:
    """Import the package from this checkout, in the driver and in the
    Python workers, whatever the working directory."""
    sys.path[:0] = [str(HERE), str(ROOT)]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                       if p])
    os.environ["PYSPARK_PYTHON"] = os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # on SIGTERM, unwind through the `finally` blocks that stop Spark and
    # remove the run's files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (ROOT / "gis_tools_spark" / "__init__.py").is_file():
        print(f"gis_tools_spark not found under {ROOT}", file=sys.stderr)
        return 2
    setup_env()
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
    try:
        res = measure(args.workload, args.seed, args.seconds, bool(args.trace),
                      work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            (ROOT / ".perfbench_work").rmdir()

    attempted, failed = res["attempted"], res["failed"]
    if args.trace:
        got = res["per_layer"]
        spec = json.loads((ROOT / "BENCHMARK.json").read_text())
        metrics = {m["name"]: {"value": got.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in res["e2e"].items()}
    for e in res["errors"]:
        print("error:", e, file=sys.stderr)
    print(json.dumps(res["phases"]), file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
