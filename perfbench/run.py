"""duwamish_spark benchmark: one workload, fresh-JVM repetitions, checked.

Usage (from the repository root)::

    python3 perfbench/run.py --workload zipf_shuffle_suite --seed 1 --seconds 20 --trace 0

Workloads (see ``workloads.py`` for sizes and why each was chosen):

- ``corpus_ingest``: corpus parquet through ``load_corpus``,
  ``extract_edges`` + ``write_edges``, ``sha256_manifest``,
  ``vertices_from`` + ``prepare_encoding`` and ``minhash_near_dups``.
- ``zipf_shuffle_suite``: Zipf(2.0) hub graph; PageRank for 10 supersteps
  on the shuffle path with ``salt="auto"`` and durable checkpoints, then
  connected components, 5 rounds of label propagation and triangles.

Each repetition is a fresh process and so a fresh JVM, as a
``spark-submit`` user pays; its set-up (session start, input read) is
``setup_s``. In that JVM the workload's operator calls then run in
iterations: one untimed warm-up, which pays class loading, code generation
and JIT compilation, and then timed iterations until ``--seconds`` of them
have run (at least one). Inputs and oracle answers are generated from
``--seed`` once and cached under ``perfbench/_cache``; the outputs of every
timed iteration are checked against the oracle after the repetition has
ended, outside the timed phases.

``--trace 0`` reports the end-to-end metrics: medians over the timed
iterations, and the set-up time and peak memory of the repetition.
``--trace 1`` runs a traced repetition (one warm-up and one timed iteration;
the session writes a Spark event log and each public call of the timed
iteration runs under a job group) and reports its per-layer metrics; an
untraced repetition of the same shape gives the tracing overhead.
Human-readable lines come first; the last line of standard output is one
JSON object.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, "_cache")
WORK = os.path.join(HERE, "_work")
# every repetition must have ended this long after start, so a run ends within 3 min
DEADLINE_S = 165.0
# share of the machine's CPU time the hypervisor took during a timed
# iteration above which its wall-clock figures are reported as unsteady
STEAL_UNSTEADY = 0.05
# untimed iterations in each fresh JVM before the timed ones
WARMUP_ITERS = 1

END_TO_END = {
    "setup_s": "s",
    "result_s": "s",
    "edges_per_s": "edges/s",
    "cpu_s": "s",
    "peak_rss_mb": "MiB",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "sources.load_s": "s",
    "graph.encode_s": "s",
    "parse.extract_s": "s",
    "parse.edges_out": "count",
    "parse.executor_ms": "ms",
    "parse.pyworker_cpu_s": "s",
    "parse.sha256_s": "s",
    "dedup.minhash_s": "s",
    "dedup.pairs": "count",
    "dedup.shuffle_bytes": "bytes",
    "pregel.supersteps": "count",
    "pregel.messages": "count",
    "pregel.superstep_ms_p50": "ms",
    "pregel.superstep_ms_p90": "ms",
    "pregel.jobs": "count",
    "pregel.driver_gap_ms": "ms",
    "pregel.msg_stage_executor_ms": "ms",
    "pregel.combine_stage_executor_ms": "ms",
    "pregel.shuffle_write_bytes": "bytes",
    "pregel.shuffle_read_bytes": "bytes",
    "pregel.spill_bytes": "bytes",
    "pregel.task_skew": "ratio",
    "pregel.durable_ckpt_ms": "ms",
    "pregel.salt": "count",
    "algorithms.pagerank.call_s": "s",
    "algorithms.components.call_s": "s",
    "algorithms.components.rounds": "count",
    "algorithms.labelprop.call_s": "s",
    "algorithms.triangles.call_s": "s",
    "trace.unaccounted_share": "ratio",
    "jvm.gc_s": "s",
    "jvm.peak_rss_mb": "MiB",
    "jvm.old_gen_peak_mb": "MiB",
    "host.steal_share": "ratio",
}


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def machine_fit() -> dict:
    """Session settings fitted to the machine it runs on: one task slot and one
    shuffle partition per usable core, and a 1 GiB driver heap (local-mode
    executors share it) unless a quarter of the memory is less. The
    workloads need far less; a heap they fill to its cap makes the peak
    resident memory repeatable, where a larger one grows by GC timing."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem = next(int(line.split()[1]) * 1024 for line in f if line.startswith("MemTotal:"))
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            limit = f.read().strip()
        if limit.isdigit():
            mem = min(mem, int(limit))
    except OSError:
        pass
    heap_mb = min(1024, mem // 4 // 2**20)
    return {"master": f"local[{cpus}]", "shuffle_partitions": cpus, "driver_memory": f"{heap_mb}m"}


def _stop_rep(rep_dir: str) -> None:
    """Terminate, then kill, every process still working in ``rep_dir`` (the
    repetition, its JVM, and the JVM's Python daemon and workers, which run
    in a process group of their own) and wait until each has ended."""
    import procfs

    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in procfs.in_dir(rep_dir):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        for _ in range(100):
            if not procfs.in_dir(rep_dir):
                return
            time.sleep(0.1)
    raise RuntimeError(f"processes working in {rep_dir} did not exit")


def run_rep(workload: str, rep_dir: str, fit: dict, input_dir: str, deadline: float,
            *, traced: bool = False, seconds: float = 0.0, max_timed: int = 1) -> dict:
    """One fresh-process repetition in ``rep_dir``, ended by the monotonic
    time ``deadline``; returns its ``rep.json``."""
    for sub in ("out", "scratch", "local", "tmp", "eventlog"):
        os.makedirs(os.path.join(rep_dir, sub))
    conf = {
        "spark.driver.memory": fit["driver_memory"],
        "spark.local.dir": os.path.join(rep_dir, "local"),
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(rep_dir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    env = dict(os.environ)
    env.update({
        # Python workers import duwamish_spark by name
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_DRIVER_MEM": fit["driver_memory"],
        "SPARK_GRAFT_CPUS": str(fit["shuffle_partitions"]),
        "SPARK_LOCAL_DIRS": os.path.join(rep_dir, "local"),
        "TMPDIR": os.path.join(rep_dir, "tmp"),
        # keep JVM temp files and perf counters inside the repetition dir
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(rep_dir, 'tmp')} -XX:-UsePerfData",
    })
    timeout = deadline - time.monotonic()
    spec = {
        "workload": workload,
        "traced": traced,
        "input_dir": input_dir,
        "rep_dir": rep_dir,
        "master": fit["master"],
        "shuffle_partitions": fit["shuffle_partitions"],
        "conf": conf,
        "warmup": WARMUP_ITERS,
        "seconds": seconds,
        "max_timed": max_timed,
        # wall-clock time by which the last iteration must have ended,
        # leaving room to write the outputs and stop the JVM
        "deadline": time.time() + timeout - 10.0,
    }
    spec_path = os.path.join(rep_dir, "spec.json")
    log_path = os.path.join(rep_dir, "log.txt")
    spec["t_spawn"] = time.time()
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "rep.py"), spec_path],
            cwd=rep_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            proc.wait(timeout=max(timeout, 1.0))
        except subprocess.TimeoutExpired:
            pass
        finally:
            _stop_rep(rep_dir)
            proc.wait()
    try:
        with open(os.path.join(rep_dir, "rep.json")) as f:
            rec = json.load(f)
    except (OSError, ValueError):
        rec = {"ok": False, "error": f"repetition died (exit {proc.returncode}), no rep.json"}
    if not rec.get("ok"):
        with open(log_path, errors="replace") as f:
            tail = f.read()[-3000:]
        print(f"perfbench: repetition failed:\n{rec.get('error')}\n{tail}", file=sys.stderr)
    return rec


def _spans(spans: list[dict]) -> dict[str, dict]:
    return {s["name"]: s for s in spans if s["end"] is not None}


def _wall(spans: dict, name: str) -> float:
    s = spans.get(name)
    return s["end"] - s["start"] if s else 0.0


def end_to_end(workload: str, it: dict, meta: dict) -> dict:
    """The per-iteration end-to-end figures of one timed iteration."""
    spans = _spans(it["spans"])
    result_s = _wall(spans, "result")
    m = {"result_s": result_s, "cpu_s": it["cpu_s"]}
    counts = it["counts"]
    if workload == "corpus_ingest":
        # parse throughput: edges extracted / wall of the extract+write call
        wall = max(_wall(spans, "extract_edges"), 1e-9)
        m["edges_per_s"] = counts.get("parse_edges_out", 0) / wall
        m["ingest_files_per_s"] = meta["files"] / result_s
    else:
        # north rule: E x supersteps / wall of the pagerank call
        wall = max(_wall(spans, "pagerank"), 1e-9)
        steps = counts.get("pregel", {}).get("supersteps", 0)
        m["edges_per_s"] = meta["edges"] * steps / wall
        m["supersteps_per_min"] = 60.0 * steps / wall
    return m


def per_layer(workload: str, rec: dict, it: dict, rep_dir: str) -> tuple[dict, list[str]]:
    """Per-layer metrics of the tagged iteration ``it`` of the traced
    repetition ``rec`` and its report lines (the layer table, the spans and
    one coverage line per call)."""
    import numpy as np

    import eventlog

    spans = {**_spans(rec["setup_spans"]), **_spans(it["spans"])}
    counts = it["counts"]
    logs = [f for f in os.listdir(os.path.join(rep_dir, "eventlog")) if not f.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log, found {logs}")
    log = eventlog.parse(os.path.join(rep_dir, "eventlog", logs[0]))

    def group(layer: str) -> str:
        return f"{workload}:{layer}"

    def covered(name: str) -> tuple[float, int]:
        s = spans[name]
        return eventlog.covered_ms(log, group(s["layer"]), s["start"] * 1e3, s["end"] * 1e3)

    m = dict.fromkeys(PER_LAYER, 0.0)
    m["session.start_s"] = _wall(spans, "get_spark")
    # the warm-up pass: what the first calls in a fresh JVM pay on top
    warm = [w for w in rec["iters"] if w["warmup"]]
    m["session.warmup_s"] = _wall(_spans(warm[0]["spans"]), "result") if warm else 0.0
    m["sources.load_s"] = _wall(spans, "load_corpus")
    m["graph.encode_s"] = _wall(spans, "encode")
    m["parse.extract_s"] = _wall(spans, "extract_edges")
    m["parse.edges_out"] = counts.get("parse_edges_out", 0)
    m["parse.executor_ms"] = eventlog.layer_row(log, group("parse"))["executor_ms"]
    m["parse.pyworker_cpu_s"] = sum(o.get("pyworker_cpu_s", 0.0) for o in it["ops"])
    m["parse.sha256_s"] = _wall(spans, "sha256_manifest")
    m["dedup.minhash_s"] = _wall(spans, "minhash_near_dups")
    m["dedup.pairs"] = counts.get("dedup_pairs", 0)
    m["dedup.shuffle_bytes"] = eventlog.layer_row(log, group("functions.dedup"))["shuffle_write_bytes"]
    loop = counts.get("pregel")
    if loop and "pagerank" in spans:
        row = eventlog.layer_row(log, group("algorithms.pagerank"))
        cov, _ = covered("pagerank")
        walls = loop["superstep_ms"]
        m.update({
            "pregel.supersteps": loop["supersteps"],
            "pregel.messages": loop["messages"],
            "pregel.superstep_ms_p50": float(np.percentile(walls, 50)),
            "pregel.superstep_ms_p90": float(np.percentile(walls, 90)),
            "pregel.jobs": row["jobs"],
            "pregel.driver_gap_ms": _wall(spans, "pagerank") * 1e3 - cov,
            "pregel.msg_stage_executor_ms": row["map_executor_ms"],
            "pregel.combine_stage_executor_ms": row["result_executor_ms"],
            "pregel.shuffle_write_bytes": row["shuffle_write_bytes"],
            "pregel.shuffle_read_bytes": row["shuffle_read_bytes"],
            "pregel.spill_bytes": row["spill_bytes"],
            "pregel.task_skew": row["task_skew"],
            "pregel.durable_ckpt_ms": eventlog.write_jobs_ms(log, group("algorithms.pagerank")),
            "pregel.salt": counts.get("salt", 0),
        })
    m["algorithms.pagerank.call_s"] = _wall(spans, "pagerank")
    m["algorithms.components.call_s"] = _wall(spans, "connected_components")
    m["algorithms.components.rounds"] = counts.get("cc_rounds", 0)
    m["algorithms.labelprop.call_s"] = _wall(spans, "label_propagation")
    m["algorithms.triangles.call_s"] = _wall(spans, "triangle_count")
    m["jvm.gc_s"] = it["gc_s"]
    m["jvm.peak_rss_mb"] = rec["jvm_peak_rss_mb"]
    m["jvm.old_gen_peak_mb"] = rec["old_gen_peak_mb"]
    m["host.steal_share"] = it["steal_share"]

    lines = [
        f"{'layer':<34}{'wall_s':>8}{'jobs':>6}{'stages':>7}{'exec_ms':>10}"
        f"{'shuf_w_B':>11}{'shuf_r_B':>11}{'spill_B':>9}{'skew':>6}"
    ]
    # the layer table and coverage cover the tagged iteration's calls
    calls = _spans(it["spans"])
    layers = sorted({s["layer"] for s in calls.values() if s["layer"]})
    for layer in layers:
        row = eventlog.layer_row(log, group(layer))
        wall = sum(s["end"] - s["start"] for s in calls.values() if s["layer"] == layer)
        lines.append(
            f"{group(layer):<34}{wall:>8.2f}{row['jobs']:>6}{row['stages']:>7}"
            f"{row['executor_ms']:>10.0f}{row['shuffle_write_bytes']:>11}"
            f"{row['shuffle_read_bytes']:>11}{row['spill_bytes']:>9}{row['task_skew']:>6.2f}"
        )
    t0 = it["spans"][0]["start"]
    for s in it["spans"]:
        parent = it["spans"][s["parent"]]["name"] if s["parent"] is not None else "-"
        lines.append(
            f"span {s['name']:<22} layer={s['layer'] or '-':<22} parent={parent:<8} "
            f"start=+{s['start'] - t0:.3f}s dur={s['end'] - s['start']:.3f}s"
        )
    wall_sum = gap_sum = 0.0
    for name, s in calls.items():
        if not s["layer"]:
            continue
        cov, n_jobs = covered(name)
        wall_ms = (s["end"] - s["start"]) * 1e3
        share = 1.0 - cov / wall_ms if wall_ms > 0 else 0.0
        lines.append(
            f"coverage {name:<22} wall={wall_ms / 1e3:7.2f}s jobs={n_jobs:<4} "
            f"in-jobs={cov / 1e3:7.2f}s unaccounted={share:6.1%}"
        )
        wall_sum += wall_ms
        gap_sum += wall_ms - cov
    m["trace.unaccounted_share"] = gap_sum / wall_sum if wall_sum else 0.0
    return m, lines


def check(args, workloads, fit: dict, rec: dict, rep_dir: str, meta: dict,
          input_dir: str) -> tuple[int, int]:
    """Verify the outputs of every timed iteration; print one line per
    iteration. Returns the op calls attempted and failed."""
    attempted = failed = 0
    for i, it in enumerate(rec["iters"]):
        spans = _spans(it["spans"])
        if it["warmup"]:
            print(f"iteration {i} warm-up steal={it['steal_share']:.1%} gc={it['gc_s']:.2f}s | "
                  + " ".join(f"{o['name']}={_wall(spans, o['name']):.2f}s" for o in it["ops"]))
            continue
        checks = workloads.verify(
            args.workload, args.seed, input_dir, meta, os.path.join(rep_dir, "out", f"it{i}")
        )
        errors = {o["name"]: o["error"] for o in it["ops"]}
        for name in workloads.OPS[args.workload]:
            attempted += 1
            if name not in errors:
                why = "op was not called"
            else:
                why = errors[name] or checks.get(name, "no output")
            if why:
                failed += 1
                print(f"FAILED iteration {i} {name}: {why}", file=sys.stderr)
        if args.workload == "zipf_shuffle_suite" and not it["counts"].get("salt"):
            print(f"warning: salt=\"auto\" chose no salt at {fit['shuffle_partitions']} "
                  "shuffle partitions; the salted combine did not run")
        e2e = end_to_end(args.workload, it, meta)
        extra = {k: it["counts"][k] for k in ("salt",) if k in it["counts"]}
        print(f"iteration {i} timed "
              f"steal={it['steal_share']:.1%} gc={it['gc_s']:.2f}s "
              + " ".join(f"{k}={v:.4g}" for k, v in {**e2e, **extra}.items())
              + " | " + " ".join(f"{o['name']}={_wall(spans, o['name']):.2f}s" for o in it["ops"]))
        # steal, the hypervisor running other guests on this machine's CPUs,
        # stretches every wall-clock figure; the main cause of spread on a
        # shared host
        if it["steal_share"] > STEAL_UNSTEADY:
            print(f"unsteady: steal {it['steal_share']:.1%} > {STEAL_UNSTEADY:.0%} during "
                  f"iteration {i}; its wall-clock figures are inflated")
    return attempted, failed


def checked_rep(args, workloads, fit, input_dir, meta, run_dir, t_start, name, **kw) -> tuple:
    """Run, check and remove one fresh-process repetition. Returns its
    ``rep.json``, ops attempted and failed, and the per-layer metrics when
    traced; or ``None`` for a repetition that died."""
    rep_dir = os.path.join(run_dir, name)
    try:
        rec = run_rep(args.workload, rep_dir, fit, input_dir, t_start + DEADLINE_S, **kw)
        if not rec.get("ok"):
            return None
        attempted, failed = check(args, workloads, fit, rec, rep_dir, meta, input_dir)
        layers = None
        if kw.get("traced"):
            timed = [it for it in rec["iters"] if not it["warmup"]]
            if timed:
                layers, lines = per_layer(args.workload, rec, timed[0], rep_dir)
                print("\n".join(lines))
        return rec, attempted, failed, layers
    finally:
        shutil.rmtree(rep_dir, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.monotonic()
    # a terminated run still stops its repetition's JVM (run_rep's finally)
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))

    if not os.path.isfile(os.path.join(ROOT, "duwamish_spark", "__init__.py")):
        return fail(f"no duwamish_spark package under {ROOT}; run from a checkout root")
    if not os.path.isfile(os.path.join(ROOT, "tests", "oracle.py")):
        return fail(f"no tests/oracle.py under {ROOT}; the oracle answers need it")
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        return fail(f"unknown workload {args.workload!r}; one of {workloads.WORKLOADS}")

    fit = machine_fit()
    input_dir, meta = workloads.prepare(args.workload, args.seed, CACHE)
    print(f"config master={fit['master']} shuffle_partitions={fit['shuffle_partitions']} "
          f"driver_memory={fit['driver_memory']} PYTHONPATH={ROOT}")
    print(f"input {args.workload} seed={args.seed} {json.dumps(meta)}")

    run_dir = os.path.join(WORK, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    attempted = failed = 0
    reps: list[tuple] = []  # checked_rep results, in plan order
    try:
        plan = [("main", {"traced": bool(args.trace), "seconds": args.seconds,
                          "max_timed": 1 if args.trace else 10**6})]
        if args.trace:
            # the same iteration untraced, for the tracing overhead
            plan.append(("untraced", {"seconds": 0.0}))
        for name, kw in plan:
            left = t_start + DEADLINE_S - time.monotonic()
            if reps and left < 1.2 * (time.monotonic() - t_start):
                print(f"no time left for the {name} repetition ({left:.0f}s)")
                break
            got = checked_rep(args, workloads, fit, input_dir, meta, run_dir, t_start, name, **kw)
            if got is None:
                return 1
            reps.append(got)
            attempted += got[1]
            failed += got[2]
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(WORK)
        except OSError:
            pass
    main_rec = reps[0][0]

    def timed(rec: dict) -> list[dict]:
        return [end_to_end(args.workload, it, meta) for it in rec["iters"] if not it["warmup"]]

    if not timed(main_rec):
        return fail("no timed iteration finished before the deadline")
    if args.trace:
        layers = reps[0][3]
        traced_result = timed(main_rec)[0]["result_s"]
        untraced = timed(reps[1][0]) if len(reps) > 1 else []
        if untraced:
            plain = untraced[0]["result_s"]
            print(f"tracing overhead: result_s traced {traced_result:.3f}s vs untraced "
                  f"{plain:.3f}s ({traced_result / plain - 1.0:+.1%})")
        else:
            print("tracing overhead: not measured (no untraced timed iteration)")
        metrics, units = layers, PER_LAYER
    else:
        runs = timed(main_rec)
        metrics = {k: statistics.median(u[k] for u in runs) for k in runs[0]}
        metrics["setup_s"] = main_rec["setup_s"]
        metrics["peak_rss_mb"] = main_rec["peak_rss_mb"]
        print(f"end-to-end {args.workload}: medians of {len(runs)} timed iterations; "
              "set-up and peak memory of the fresh JVM they ran in")
        for k, v in metrics.items():
            print(f"  {k:<20} {v:.6g}")
        units = END_TO_END
    print(f"  {'ops_failed_ratio':<20} {failed / attempted:.6g}  ({failed}/{attempted})")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
