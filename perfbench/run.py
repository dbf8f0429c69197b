"""Benchmark entry point.

    python3 perfbench/run.py --workload cluster --seed 1 --seconds 10 --trace 0

Runs one workload in one process on local[4], from the root of a checkout
of the repository, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer metrics of a separate traced
run. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
from contextlib import contextmanager, nullcontext

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

# deployment config, the same on every commit measured
CPUS = "4"
DRIVER_MEM = "4g"
# a run that has not finished by then is failed and its JVM killed
DEADLINE_S = 170.0

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "items_per_s": "1/s",
    "pairwise_f1": "ratio",
}
PER_LAYER = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "extract.self_s": "s",
    "extract.jobs": "count",
    "match_names.self_s": "s",
    "match_names.jobs": "count",
    "match_names.stages": "count",
    "match_names.tasks": "count",
    "blocking.self_s": "s",
    "blocking.candidate_pairs": "count",
    "blocking.useful_ratio": "ratio",
    "tfidf.self_s": "s",
    "human.self_s": "s",
    "address.self_s": "s",
    "pre_screen.self_s": "s",
    "pre_screen.jobs": "count",
    "cc.self_s": "s",
    "cc.jobs": "count",
    "checkpoint.write_s": "s",
    "checkpoint.bytes": "bytes",
    "checkpoint.files": "count",
    "pairs.self_s": "s",
    "pairs.tasks": "count",
    "incremental.match_s": "s",
    "incremental.jobs": "count",
    "io.merge_s": "s",
    "io.jobs": "count",
    "jvm.cpu_s": "s",
    "pyworker.cpu_s": "s",
    "trace.op_s": "s",
    "mem.peak_rss_mb": "MB",
    "quality.resolve_surface_f1": "ratio",
    "quality.resolve_f1": "ratio",
    "quality.refresh_store_f1": "ratio",
}

_CLK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# /proc readings of the JVM and the Python workers it spawns
# ---------------------------------------------------------------------------

def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError, IndexError):
        return None


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _hwm_kb(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        return None
    return None


class ProcWatch(threading.Thread):
    """Samples the JVM and its descendants; fails the run fast when the JVM
    dies (OOM kill) or the run passes its deadline."""

    def __init__(self, jvm_pid: int, on_fatal):
        super().__init__(daemon=True)
        self.jvm = jvm_pid
        self.on_fatal = on_fatal
        self.hwm_kb: dict[int, int] = {}
        self.stopping = threading.Event()
        self.lock = threading.Lock()

    def sample(self) -> None:
        with self.lock:
            for pid in [self.jvm, *_descendants(self.jvm)]:
                kb = _hwm_kb(pid)
                if kb is not None:
                    self.hwm_kb[pid] = max(kb, self.hwm_kb.get(pid, 0))

    def jvm_alive(self) -> bool:
        st = _stat(self.jvm)
        return st is not None and st[0] != "Z"

    def run(self) -> None:
        t0 = time.monotonic()
        while not self.stopping.wait(0.25):
            if not self.jvm_alive():
                self.on_fatal("the JVM died (killed, or out of memory)")
                return
            if time.monotonic() - t0 > DEADLINE_S:
                self.on_fatal(f"run exceeded {DEADLINE_S:.0f} s")
                return
            self.sample()

    def cpu_s(self) -> tuple[float, float]:
        """(JVM, Python workers) user+system CPU seconds so far; a worker's
        reaped children count through its cutime/cstime."""
        st = _stat(self.jvm)
        jvm = (int(st[11]) + int(st[12])) / _CLK if st else 0.0
        py = 0.0
        for pid in _descendants(self.jvm):
            s = _stat(pid)
            if s is not None:
                py += sum(int(x) for x in s[11:15]) / _CLK
        return jvm, py

    def peak_rss_mb(self) -> float:
        self.sample()
        return sum(self.hwm_kb.values()) / 1024.0


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------

class Harness:
    """What a workload function sees: the session, its seed, and the
    recorders for timed operations, gates and metrics."""

    def __init__(self, spark, watch, seed, seconds, trace):
        self.spark = spark
        self.watch = watch
        self.seed = seed
        self.seconds = seconds
        self.work = WORK
        self.tracer = None
        if trace:
            from tracer import Tracer

            self.tracer = Tracer(spark)
            self.tracer.install()
        self.setup_s = 0.0
        self.items = 0
        self.quality = None
        self.ops: list[dict] = []
        self.gates: dict[str, list[str]] = {}
        self.detail: dict = {}
        # root spans of the traced-only phases (refresh, resolve), and
        # per-layer values measured directly rather than from spans
        self.extra_roots: list = []
        self.layer_values: dict = {}

    @contextmanager
    def op(self, name: str):
        jvm0, py0 = self.watch.cpu_s()
        t0 = time.perf_counter()
        root = self.tracer.root(name) if self.tracer is not None else nullcontext()
        with root as span:
            yield
            wall = time.perf_counter() - t0
        jvm1, py1 = self.watch.cpu_s()
        self.ops.append({"wall": wall, "jvm_cpu": jvm1 - jvm0,
                         "py_cpu": py1 - py0, "span": span})

    def gate(self, name: str, problems: list[str]) -> None:
        self.gates[name] = problems

    def mark(self, label: str) -> None:
        """Record when a phase of the run ended, in seconds since start."""
        self.detail.setdefault("timeline", {})[label] = round(time.perf_counter() - T0, 2)

    def end_to_end(self) -> dict:
        walls = [o["wall"] for o in self.ops]
        return {
            "setup_s": self.setup_s,
            "op_p50_s": statistics.median(walls),
            "items_per_s": self.items / sum(walls),
            "pairwise_f1": self.quality,
        }

    def per_layer(self) -> dict:
        """Per-layer figures of each timed operation; the median over the
        run's operations."""
        from tracer import layer_metrics

        def derived(m):
            m["incremental.match_s"] = m.get("incremental.wall_s", 0.0)
            m["io.merge_s"] = m.get("io.wall_s", 0.0)
            # a stage's self time: its span minus the layer spans of its fn
            m["checkpoint.write_s"] = m.get("checkpoint.self_s", 0.0)
            cand = m.get("blocking.rows", 0)
            m["blocking.candidate_pairs"] = cand
            m["blocking.useful_ratio"] = m.get("match_names.rows", 0) / cand if cand else 0.0
            return m

        per_op = []
        for o in self.ops:
            m = derived(layer_metrics(o["span"]))
            m["jvm.cpu_s"], m["pyworker.cpu_s"] = o["jvm_cpu"], o["py_cpu"]
            per_op.append(m)
        out = {k: statistics.median(m.get(k, 0) for m in per_op) for k in PER_LAYER}
        for root in self.extra_roots:
            # layers the timed operations never call come from the phases
            phase = derived(layer_metrics(root))
            for k in PER_LAYER:
                if not out[k] and k in phase:
                    out[k] = phase[k]
        out.update(self.layer_values)
        out["mem.peak_rss_mb"] = self.watch.peak_rss_mb()
        return out


def start_session(on_fatal):
    """Start the SparkSession (launching the JVM) and its watcher; returns
    (spark, watch, seconds the start took)."""
    t0 = time.perf_counter()
    from name_matching_spark.session import get_spark

    spark = get_spark()
    session_s = time.perf_counter() - t0
    watch = ProcWatch(spark.sparkContext._gateway.proc.pid, on_fatal)
    watch.start()
    return spark, watch, session_s


def configure_env() -> None:
    """Pin the deployment config and keep every file the run writes inside
    the checkout."""
    os.environ["SPARK_GRAFT_CPUS"] = CPUS
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    for k in ("SPARK_GRAFT_ARROW_BATCH", "SPARK_GRAFT_CHECKPOINT_DIR"):
        os.environ.pop(k, None)
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join([
        f"spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    ])
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    sys.path.insert(0, ROOT)


def stop_session(spark, watch) -> None:
    """Stop the session, then the JVM, and wait for the JVM and every
    Python worker it spawned to end."""
    watch.stopping.set()
    procs = [watch.jvm, *_descendants(watch.jvm)]
    proc = spark.sparkContext._gateway.proc
    try:
        spark.stop()
    finally:
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 15
    for pid in procs:
        while _stat(pid) is not None and time.monotonic() < deadline:
            time.sleep(0.05)
        if _stat(pid) is not None:
            os.kill(pid, signal.SIGKILL)


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "name_matching_spark", "__init__.py")):
        print(f"no name_matching_spark package under {ROOT}: run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    shutil.rmtree(WORK, ignore_errors=True)
    configure_env()
    out_lock = threading.Lock()
    state = {"attempted": 0, "jvm": None}

    def fatal(reason: str) -> None:
        # the main thread may be stuck in a py4j call: report and leave
        with out_lock:
            print(f"# fatal: {reason}", file=sys.stderr, flush=True)
            print(json.dumps({"correct": False, "attempted": state["attempted"] + 1,
                              "failed": 1, "metrics": {}}), flush=True)
        if state["jvm"] is not None:
            try:
                os.kill(state["jvm"], signal.SIGKILL)
            except ProcessLookupError:
                pass
        shutil.rmtree(WORK, ignore_errors=True)
        os._exit(3)

    spark, watch, session_s = start_session(fatal)
    state["jvm"] = watch.jvm
    h = Harness(spark, watch, args.seed, args.seconds, args.trace)
    h.setup_s = session_s
    h.mark("session")
    try:
        WORKLOADS[args.workload](h)
        metrics = h.per_layer() if args.trace else h.end_to_end()
    except Exception as e:  # any failure of the program is a failed run
        import traceback

        traceback.print_exc()
        state["attempted"] = len(h.ops) + len(h.gates)
        fatal(f"{type(e).__name__}: {e}")
    stop_session(spark, watch)
    shutil.rmtree(WORK, ignore_errors=True)
    h.mark("stopped")

    failed = [f"{k}: {p}" for k, ps in h.gates.items() for p in ps]
    units = PER_LAYER if args.trace else END_TO_END
    result = {
        "correct": not failed,
        "attempted": len(h.ops) + len(h.gates),
        "failed": sum(1 for ps in h.gates.values() if ps),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    detail = {**h.detail, "ops": len(h.ops), "op_s": [o["wall"] for o in h.ops],
              "gate_problems": failed}
    with out_lock:
        print("# detail " + json.dumps(detail), flush=True)
        print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
