"""kgspark benchmark: one seeded workload against kgspark's public API on
local[4], from a single driver process with one client thread.

    python3 perfbench/run.py --workload ingest_heavy --seed 1 --seconds 10 --trace 0

Prints two JSON lines. The first is the detail record: every
end-to-end metric of the workload with its unit and sample count, the
output checks, and the measured input properties (with --trace 1 also
every per-layer metric the workload exercises and the tracing
overhead). The last line is the summary `{"correct", "attempted",
"failed", "metrics"}`: the end-to-end metrics of BENCHMARK.json with
--trace 0, its per-layer metrics with --trace 1. See RATIONALE.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from kgspark import CHUNK_OVERLAP, CHUNK_SIZE, EMBED_DIM, session, textops  # noqa: E402

from perfbench import trace as tr  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

CORES = 4
S1_S4 = ("extract_text", "chunk", "embed", "extract")
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
BENCH_UNITS = {m["name"]: m["unit"] for m in BENCH["end_to_end"] + BENCH["per_layer"]}
# units of the metrics only the detail line carries, by name suffix
_SUFFIX_UNITS = (("_per_s", "pages/s"), ("_ms", "ms"), ("_s", "s"), ("_mb", "MB"),
                 ("_share", "ratio"), ("_precision", "ratio"), ("_recall", "ratio"))


def _unit(metric: str) -> str:
    if metric in BENCH_UNITS:
        return BENCH_UNITS[metric]
    return next((u for sfx, u in _SUFFIX_UNITS if metric.endswith(sfx)), "count")


def _tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while listing
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _status_kb(pid: int, key: str) -> int:
    """A `/proc/<pid>/status` field in kB; 0 once the process has ended."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class TreeMemory:
    """Peak resident memory of this process tree (driver Python, JVM,
    Python workers) during one op, read from /proc with no sampling
    thread: `start` resets every process's peak (VmHWM) to its current
    RSS, `peak_mb` sums the peaks since. For the driver only its growth
    during the op counts, on top of its RSS at the end of set-up, so the
    reference data the benchmark keeps on the driver for its output
    checks stays out. Pages that forked workers share with their parent
    count once per process."""

    def __init__(self):
        self.driver_base_kb = _status_kb(os.getpid(), "VmRSS")
        self.driver_start_kb = self.driver_base_kb

    def start(self) -> None:
        for pid in _tree_pids(os.getpid()):
            with contextlib.suppress(OSError):
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")  # reset the peak, leave page bits alone
        self.driver_start_kb = _status_kb(os.getpid(), "VmRSS")

    def peak_mb(self) -> float:
        me = os.getpid()
        others = sum(_status_kb(p, "VmHWM") for p in _tree_pids(me) if p != me)
        driver = self.driver_base_kb + _status_kb(me, "VmHWM") - self.driver_start_kb
        return (others + driver) / 1024.0


def tree_peak_rss_mb() -> float:
    """Sum of each process's peak resident set (VmHWM) over this process
    tree since it started."""
    return sum(_status_kb(p, "VmHWM") for p in _tree_pids(os.getpid())) / 1024.0


def stop_jvm() -> None:
    """Shut down the JVM pyspark launched and wait until it and the
    Python workers it started have ended."""
    from pyspark import SparkContext  # noqa: PLC0415

    gateway = SparkContext._gateway
    if gateway is None:
        return
    started = [p for p in _tree_pids(os.getpid()) if p != os.getpid()]
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while any(os.path.exists(f"/proc/{p}") for p in started):
        if time.monotonic() > deadline:
            raise TimeoutError(f"processes still running: {started}")
        time.sleep(0.1)


def spark_conf(work: Path) -> dict[str, str]:
    """Keep every file Spark, the JVM and the Python workers write under
    the run's work directory."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    return {
        "spark.local.dir": str(tmp),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
        "spark.driver.memory": "2g",
        # the traced run reads per-span stage metrics from the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def kernel_floor(tracer: tr.Tracer, pages: list[dict]) -> None:
    """S1-S4's kernels (html_to_text -> chunk_text -> embed_text ->
    extract_chunk) in this one process over the same pages: the
    single-process floor the Spark stages compare against."""
    with tracer.span("textops.kernels"):
        with tracer.span("textops.html_to_text"):
            texts = [textops.html_to_text(p["html"]) or p["text"] for p in pages]
        with tracer.span("textops.chunk_text"):
            chunks = [
                c["text"] for t in texts
                for c in textops.chunk_text(t, CHUNK_SIZE, CHUNK_OVERLAP)
            ]
        with tracer.span("textops.embed_text"):
            for c in chunks:
                textops.embed_text(c, EMBED_DIM)
        with tracer.span("textops.extract_chunk"):
            for c in chunks:
                textops.extract_chunk(c)


@contextlib.contextmanager
def tracing(tracer: tr.Tracer | None, span: str):
    """Wrap kgspark's public functions for the duration of one root span."""
    if tracer is None:
        yield
        return
    tr.install_kgspark(tracer)
    try:
        with tracer.span(span):
            yield
    finally:
        tracer.uninstall()
        tracer.release()


def run(workload: str, seed: int, seconds: float, traced: bool,
        sizes: dict | None = None) -> tuple[dict, dict]:
    """One benchmark run; `sizes` overrides the workload's input sizes.
    Returns (detail, summary)."""
    wl = WORKLOADS[workload](seed, **(sizes or {}))
    work = ROOT / ".bench_work" / f"{workload}-{seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    conf = spark_conf(work)
    tracer = tr.Tracer(f"{workload}:{seed}") if traced else None
    errors: list[str] = []
    failed = 0
    # op wall times and per-kind timings, keyed by whether the op was traced
    lat: dict[bool, list[float]] = {False: [], True: []}
    kinds: dict[str, list[float]] = defaultdict(list)
    ops: list[int] = []
    spark = None
    try:
        t0 = time.perf_counter()
        with tracing(tracer, "setup"):
            spark = session.get_spark(
                "kgbench", master=f"local[{CORES}]", shuffle_partitions=CORES,
                extra_conf=conf,
            )
            wl.setup(spark, str(work))
        setup_s = time.perf_counter() - t0
        setup_peak = tree_peak_rss_mb()
        mem = TreeMemory()
        wl.load_reference()
        peak = 0.0
        elapsed = 0.0
        # an untraced run times at least the workload's `min_ops`, so its
        # median does not depend on how many ops the host fits in
        # `seconds`; every run ends on a whole round of the op kinds
        min_ops = 1 if tracer else wl.min_ops
        while len(ops) < min_ops or elapsed < seconds or len(ops) % wl.round_ops:
            i = len(ops)
            staged = wl.prepare(i)
            # a traced run times each op untraced and traced, alternating
            # which goes first; the difference is the tracing overhead
            for mode in ([False] if tracer is None else [i % 2 == 1, i % 2 == 0]):
                mem.start()
                t = time.perf_counter()
                try:
                    with tracing(tracer if mode else None, "op"):
                        out = wl.op(i, staged)
                except Exception:  # an op that raises counts as failed
                    traceback.print_exc()
                    errors.append(f"op {i} raised")
                    failed += 1
                    continue
                finally:
                    dt = time.perf_counter() - t
                    elapsed += dt
                lat[mode].append(dt)
                if not mode:
                    peak = max(peak, mem.peak_mb())
                    for kind, v in out.get("timings", {}).items():
                        kinds[kind].append(v)
                wrong = wl.verify(i, out)
                errors += wrong
                failed += bool(wrong)
            wl.release(staged)
            ops.append(i)
        if tracer:
            kernel_floor(tracer, wl.kernel_pages(ops))
            tracer.collect_job_metrics(spark.sparkContext)
            tracer.dump(str(work.parent / f"spans-{workload}-{seed}.json"))
    finally:
        if spark is not None:
            spark.stop()
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(ops) * (2 if tracer else 1)
    untraced = lat[False]
    e2e = {
        "setup_s": setup_s,
        "docs_per_s": wl.docs_per_s(untraced),
        "op_p50_ms": statistics.median(untraced) * 1e3 if untraced else 0.0,
        "peak_rss_mb": peak,
        "failed_op_share": failed / attempted,
        **{f"{k}_p50_ms": statistics.median(v) * 1e3 for k, v in kinds.items()},
        **wl.quality(),
    }
    detail = {
        "workload": workload, "seed": seed, "traced": traced,
        "attempted": attempted, "failed": failed, "errors": errors[:20],
        "samples": {"op": len(untraced), **{k: len(v) for k, v in kinds.items()}},
        "op_walls_s": untraced,
        "end_to_end": _with_units(e2e),
        "setup_peak_rss_mb": setup_peak,
        "inputs": wl.props(),
    }
    metrics = e2e
    if tracer:
        layers = tracer.layer_metrics()
        commits = [k for k in layers if k.startswith("io.commit.") and k.endswith(".bytes_mb")]
        if commits:
            layers["io.commit.bytes_mb"] = sum(layers[k] for k in commits)
        py = sum(layers.get(f"stages.{s}.python_s", 0.0) for s in S1_S4)
        layers["stages.s1_s4.kernel_share"] = layers["textops.kernels.wall_s"] / py
        over = sum(lat[True]) - sum(lat[False])
        layers["trace.overhead_s"] = over
        layers["trace.overhead_share"] = over / sum(lat[False]) if lat[False] else 0.0
        detail["layers"] = _with_units(dict(sorted(layers.items())))
        metrics = layers
    names = [m["name"] for m in BENCH["per_layer" if traced else "end_to_end"]]
    summary = {
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": _with_units({n: metrics[n] for n in names}),
    }
    return detail, summary


def _with_units(metrics: dict[str, float]) -> dict:
    return {k: {"value": v, "unit": _unit(k)} for k, v in metrics.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        detail, summary = run(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        stop_jvm()
    print(json.dumps(detail))
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
