"""One repetition of a workload in a fresh process (a fresh JVM).

Started by ``run.py`` as ``python3 perfbench/rep.py <spec.json>``. The
process sets up once (session start, input read) and then runs the
workload's operator calls in iterations: ``warmup`` untimed ones, so class
loading and JIT compilation are done, then timed ones until ``seconds``
have passed (at least one) or ``deadline`` nears. It writes ``rep.json``
(setup time, and per iteration its spans, op outcomes, counts, CPU and the
machine's CPU steal) and each timed iteration's outputs into ``out/it<i>``,
then exits. Nothing here checks results: the parent does, after this
process and its JVM have ended.

Spans are kept in memory and written at the end. In a traced repetition
the session writes an event log, and every public call of the timed
iterations also runs under the Spark job group ``{workload}:{layer}``.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import procfs  # noqa: E402
import workloads  # noqa: E402


class Rep:
    """Spans, op outcomes and counts of one repetition."""

    def __init__(self, spec: dict) -> None:
        self.spec = spec
        self.workload = spec["workload"]
        self.traced = spec["traced"]
        self.spark = None
        self.jvm: int | None = None
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.counts: dict = {}
        self.it = 0
        self.tagged = False
        self._stack: list[int] = []

    def begin(self, it: int, tagged: bool) -> None:
        """Start iteration ``it`` with fresh spans, ops, counts and dirs."""
        self.it, self.tagged = it, tagged
        self.spans, self.ops, self.counts = [], [], {}
        for sub in ("out", "scratch"):
            os.makedirs(os.path.join(self.spec["rep_dir"], sub, f"it{it}"))

    def input(self, name: str) -> str:
        return os.path.join(self.spec["input_dir"], name)

    def scratch(self, name: str) -> str:
        return os.path.join(self.spec["rep_dir"], "scratch", f"it{self.it}", name)

    def out(self, name: str) -> str:
        return os.path.join(self.spec["rep_dir"], "out", f"it{self.it}", name)

    def save(self, df, name: str) -> None:
        df.to_parquet(self.out(name), index=False)

    def _group(self, layer: str | None) -> None:
        if self.tagged and self.spark is not None:
            self.spark.sparkContext.setJobGroup(
                f"{self.workload}:{layer or 'bench'}", layer or "bench"
            )

    @contextlib.contextmanager
    def span(self, name: str, layer: str | None):
        rec = {
            "name": name,
            "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        if layer:
            self._group(layer)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if layer:
                self._group(None)

    @contextlib.contextmanager
    def op(self, name: str, layer: str, pyworker_cpu: bool = False):
        """A public operator call: a span, plus its outcome. An exception is
        recorded as a failed op and the workload goes on with the next call."""
        workers0 = self._worker_cpu() if pyworker_cpu else 0.0
        rec = {"name": name, "layer": layer, "error": None}
        self.ops.append(rec)
        try:
            with self.span(name, layer):
                yield
        except Exception:
            rec["error"] = traceback.format_exc(limit=4)
        if pyworker_cpu:
            rec["pyworker_cpu_s"] = self._worker_cpu() - workers0

    def _worker_cpu(self) -> float:
        return procfs.cpu_seconds(procfs.python_workers(self.jvm)) if self.jvm else 0.0

    def gc_s(self) -> float:
        """Seconds the JVM has spent in garbage collection since start."""
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        return sum(gc.getCollectionTime() for gc in mf.getGarbageCollectorMXBeans()) / 1e3

    def old_gen_peak_mb(self) -> float:
        """High-water mark of the JVM's tenured heap pool since start: the
        heap the program kept live, where the resident size of a heap that
        fills to its cap reads back the cap."""
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        return sum(
            pool.getPeakUsage().getUsed()
            for pool in mf.getMemoryPoolMXBeans()
            if pool.getName().endswith(("Old Gen", "Tenured Gen"))
        ) / 2**20


def _iterate(rep: Rep, spec: dict, st, result, outputs) -> list[dict]:
    """Warm-up iterations, then timed ones until ``seconds`` of timed
    iterations or ``max_timed`` of them have run, or the next would end past
    ``deadline``."""
    iters: list[dict] = []
    timed_s = longest = 0.0
    while True:
        it = len(iters)
        warm = it < spec["warmup"]
        rep.begin(it, tagged=rep.traced and not warm)
        steal0, total0 = procfs.cpu_steal()
        cpu0 = procfs.cpu_seconds(procfs.descendants(rep.jvm))
        gc0 = rep.gc_s()
        t0 = time.monotonic()
        with rep.span("result", None):
            out = result(rep, st, warm)
        wall = time.monotonic() - t0
        cpu_s = procfs.cpu_seconds(procfs.descendants(rep.jvm)) - cpu0
        gc_s = rep.gc_s() - gc0
        steal1, total1 = procfs.cpu_steal()
        rep._group(None)
        if not warm:
            outputs(rep, st, out)
            with open(rep.out("counts.json"), "w") as f:
                json.dump(rep.counts, f)
        shutil.rmtree(os.path.join(spec["rep_dir"], "scratch", f"it{it}"), ignore_errors=True)
        iters.append({
            "warmup": warm,
            "spans": rep.spans,
            "ops": rep.ops,
            "counts": rep.counts,
            "cpu_s": cpu_s,
            "gc_s": gc_s,
            "steal_share": (steal1 - steal0) / max(total1 - total0, 1),
        })
        longest = max(longest, wall)
        if not warm:
            timed_s += wall
            if timed_s >= spec["seconds"] or it + 1 - spec["warmup"] >= spec["max_timed"]:
                return iters
        if time.time() + 1.3 * longest > spec["deadline"]:
            return iters


def main() -> int:
    with open(sys.argv[1]) as f:
        spec = json.load(f)
    rep = Rep(spec)
    setup, result, outputs = workloads.BODIES[spec["workload"]]
    rec: dict = {"ok": False, "error": None, "iters": []}
    try:
        from duwamish_spark.session import get_spark

        with rep.span("setup", None):
            with rep.span("get_spark", "session"):
                rep.spark = get_spark(
                    f"perfbench-{spec['workload']}",
                    master=spec["master"],
                    shuffle_partitions=spec["shuffle_partitions"],
                    extra_conf=spec["conf"],
                )
            rep.jvm = procfs.find_child(os.getpid(), "java")
            if rep.jvm is None:
                raise RuntimeError("no java child process: cannot measure CPU and memory")
            st = setup(rep)
        rec["setup_s"] = time.time() - spec["t_spawn"]
        rec["setup_spans"] = rep.spans
        rec["iters"] = _iterate(rep, spec, st, result, outputs)
        rec["peak_rss_mb"] = procfs.peak_rss_mb(procfs.descendants(rep.jvm))
        rec["jvm_peak_rss_mb"] = procfs.peak_rss_mb([rep.jvm])
        rec["old_gen_peak_mb"] = rep.old_gen_peak_mb()
        rec["ok"] = True
    except Exception:
        rec["error"] = traceback.format_exc()
    finally:
        if rep.spark is not None:
            rep.spark.stop()
    with open(os.path.join(spec["rep_dir"], "rep.json"), "w") as f:
        json.dump(rec, f)
    return 0 if rec["ok"] else 1


if __name__ == "__main__":
    sys.exit(main())
