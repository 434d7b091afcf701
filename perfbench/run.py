"""Benchmark entry point.  Run from the repository root:

    python3 perfbench/run.py --workload extract_bulk --seed 1 --seconds 14 --trace 0
    python3 perfbench/run.py --compare before.jsonl after.jsonl

Workloads (perfbench/workloads.py): ``extract_bulk`` and ``curate`` are
the benchmark's; ``extract_resumable`` (8 buckets) is for manual runs.

A run: start the session three times through the engine's
``get_spark`` (``setup_s`` is the median start through the first
Python-worker round trip) -> untimed warm-up passes, a fixed number per
workload, while a process pool writes the seeded input slices and
their references in use order -> timed passes, one at a time, each over
a fresh slice, until ``--seconds`` have passed -> check the committed
output of every pass that has a reference (untimed) -> stop every
process and wait for it.  ``docs_per_s`` is the median over the timed
passes.

``--trace 1`` runs the same untimed-then-timed phase, then restarts the
session with Spark's event log on, wraps the engine's public functions
in spans and repeats it; the per-layer metrics come from those passes,
from the event log, and from two probes (spec stages in-process, and a
few registry queries checked against their DuckDB twins).

The run prints a full record (host facts, input sizes, per-pass walls,
per-query walls, span totals, problems found) as one JSON line and then,
as the last line, ``{"correct", "attempted", "failed", "metrics"}``.
``--out FILE`` appends the full record to FILE for ``--compare``.
"""

from __future__ import annotations

import argparse
import gc
import json
import multiprocessing
import os
import platform
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

# session starts per run; setup_s is their median, so the first (cold
# JVM launch) start does not decide it alone
SETUPS = 3
REQUIRED = ["ukrainian_ocr_pipeline_spark/__init__.py", "jobs/extract.py",
            "jobs/curate.py"]


def _host_facts(seed: int) -> dict:
    model = ""
    try:
        with open("/proc/cpuinfo", encoding="utf-8") as fh:
            for line in fh:
                if line.startswith("model name"):
                    model = line.split(":", 1)[1].strip()
                    break
    except OSError:
        pass
    import pyspark
    return {"nproc": len(os.sched_getaffinity(0)), "cpu_model": model,
            "spark": pyspark.__version__, "python": platform.python_version(),
            "seed": seed}


def _ident(x):
    return x


class Session:
    """Starts and stops the engine's session through ``get_spark``."""

    def __init__(self, work: str, nproc: int):
        self.nproc = nproc
        self.extra = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        }
        self.spark = None

    def start(self, extra: dict | None = None) -> tuple[float, float]:
        """(session start s, first Python-worker round trip s)."""
        from ukrainian_ocr_pipeline_spark.sources import session
        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = session.get_spark(
            app="perfbench", master=f"local[{self.nproc}]",
            extra={**self.extra, **(extra or {})})
        t1 = time.perf_counter()
        sc = self.spark.sparkContext
        sc.parallelize(range(self.nproc), self.nproc).map(_ident).collect()
        return t1 - t0, time.perf_counter() - t1

    def shutdown(self) -> None:
        """Stop the session, the JVM and every process under it."""
        if self.spark is None:
            return
        from pyspark import SparkContext
        import proc
        gateway = SparkContext._gateway
        jvm = getattr(gateway, "proc", None)
        spawned = set(proc.tree(jvm.pid)) if jvm is not None else set()
        spark, self.spark = self.spark, None
        try:
            spark.stop()
        except Exception as e:
            # a call cut short (by a signal, say) can leave the gateway
            # unusable; the JVM is still stopped below
            print(f"perfbench: session stop failed: {e}"[:300], file=sys.stderr)
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:
                pass
            if jvm is not None:
                try:
                    jvm.stdin.close()
                    jvm.wait(timeout=30)
                except Exception:
                    jvm.kill()
                    jvm.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        # the JVM's Python workers end once it has gone
        proc.reap(sorted(spawned - {os.getpid()}))


def _stop_resource_tracker() -> None:
    """The spawn pool's helper process otherwise lives until this one exits."""
    from multiprocessing import resource_tracker
    stop = getattr(resource_tracker._resource_tracker, "_stop", None)
    if stop is not None:
        stop()


def run(args) -> int:
    root = os.getcwd()
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(root, p))]
    if missing:
        print(f"perfbench: run from the repository root; missing {missing}",
              file=sys.stderr)
        return 2
    from workloads import NPROC, WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    # driver heap sized to a 4-core, 15 GB host (the engine defaults to 24g)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path.insert(0, root)
    import proc
    proc.become_subreaper()
    sess = Session(work, NPROC)
    # a SIGTERM unwinds through the cleanup below like an exception
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        record = _run(args, root, work, sess, WORKLOADS[args.workload])
    finally:
        # a second SIGTERM must not cut the clean-up short
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        try:
            sess.shutdown()
        finally:
            _stop_resource_tracker()
            left = proc.reap()
            if left:
                print(f"perfbench: stopped leftover processes {left}", file=sys.stderr)
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass
    if args.out:
        with open(args.out, "a", encoding="utf-8") as fh:
            fh.write(json.dumps(record) + "\n")
    print(json.dumps(record))
    print(json.dumps({k: record[k] for k in
                      ("correct", "attempted", "failed", "metrics")}))
    return 0


def _run(args, root, work, sess, cls) -> dict:
    import proc
    from trace import Tracer, read_event_log
    from workloads import registry_probe, spec_probe

    seconds = float(args.seconds)
    problems: list[str] = []
    passes: list[dict] = []
    state = {"pass": "warm", "writes": []}
    tracer = Tracer()
    # traced runs time an untraced then a traced phase, each with a warm-up
    n_phases = 2 if args.trace else 1
    wl = cls(root, work, args.seed, seconds / 2 if args.trace else seconds,
             n_phases)

    def one_pass(k, timed: bool, traced: bool, sid: str = "") -> None:
        sid = sid or f"p{k}"
        state["pass"], state["writes"] = sid, []
        sc = sess.spark.sparkContext
        sc.setJobGroup(sid, sid)
        cpu0 = proc.cpu_s(proc.tree()) if traced else 0.0
        span0 = len(tracer.spans) if traced else 0
        t0, e0 = time.perf_counter(), time.time() * 1e3
        try:
            stats = wl.run_pass(k, sid)
        except Exception as e:  # a failed pass is reported, not dropped
            problems.append(f"{sid}: {type(e).__name__}: {e}"[:500])
            passes.append({"k": k, "sid": sid, "timed": timed, "traced": traced,
                           "failed": True, "docs": wl.sizes[k]})
            return
        wall = time.perf_counter() - t0
        rec = {"k": k, "sid": sid, "timed": timed, "traced": traced,
               "failed": False, "wall_s": wall, "stats": stats,
               "docs": wl.docs(stats), "ok": wl.ok(stats),
               "start_ms": e0, "end_ms": time.time() * 1e3}
        if traced:
            rec["cpu_s"] = proc.cpu_s(proc.tree()) - cpu0
            rec["writes"] = list(state["writes"])
            rec["spans"] = tracer.totals(span0)
        passes.append(rec)

    def warm_up(j: int, traced: bool) -> None:
        """Untimed passes: the workload's ``warm_passes`` in the first
        phase, one in a later one."""
        for k in wl.warm_keys[j]:
            wl.ready(k)
            one_pass(k, timed=False, traced=traced)

    def phase(j: int, traced: bool) -> None:
        """Timed passes until the phase's seconds pass (at least two; at
        most the slices generated for the phase)."""
        t_end = time.perf_counter() + wl.seconds
        for n, k in enumerate(wl.timed_keys[j]):
            if n >= 2 and time.perf_counter() >= t_end:
                break
            one_pass(k, timed=True, traced=traced)

    t_prep = time.perf_counter()
    setups = [sess.start() for _ in range(SETUPS)]
    t_warm = time.perf_counter()
    ctx = multiprocessing.get_context("spawn")
    pool = ctx.Pool(min(4, os.cpu_count() or 1))
    try:
        # the pool writes the slices in use order while the warm-up
        # passes run: those are untimed, so contention only delays them;
        # every slice is written before timing starts
        wl.prepare(pool)
        warm_up(0, traced=False)
        t_gen = time.perf_counter()
        wl.wait()
    finally:
        pool.close()
        pool.join()
    # the pool's semaphores go before the helper that tracks them
    del pool
    gc.collect()
    _stop_resource_tracker()
    t_setup = time.perf_counter()

    with proc.PeakRss() as rss:
        phase(0, traced=False)
    t_passes = time.perf_counter()
    peak_rss = rss.peak

    layer: dict[str, float] = {}
    query_walls: dict[str, float] = {}
    if args.trace:
        from ukrainian_ocr_pipeline_spark.sources import session as session_mod
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        tracer.wrap(session_mod, "get_spark", "session.get_spark")
        _wrap_catalog(tracer, state, wl.main_table)
        wl.wrap(tracer)
        sess.start({"spark.eventLog.enabled": "true",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.dir": "file://" + log_dir})
        warm_up(1, traced=True)
        phase(1, traced=True)
        layer_q, query_walls, bad = registry_probe(
            sess.spark, args.seed, work, tracer)
        problems += [f"registry probe: {q} differs from its DuckDB twin"
                     for q in bad]
        layer.update(layer_q)

    # checks run outside the timed region, on every pass that has a
    # reference (extract's warm-up slices have none)
    t_checks = time.perf_counter()
    matched = compared = 0
    for p in passes:
        if p["failed"]:
            compared += p["docs"]
            continue
        if wl.refs[p["k"]] is None:
            continue
        m, c, probs = wl.check_pass(sess.spark, p["k"], p["sid"], p["stats"])
        matched, compared = matched + m, compared + c
        problems += probs
    t_stop = time.perf_counter()
    sess.shutdown()
    t_end = time.perf_counter()
    if args.trace:
        tracer.uninstall()
        log = read_event_log(log_dir)
        layer.update(_layer_metrics(wl, passes, log, setups))
        layer.update(spec_probe(args.seed, 500))

    timed = [p for p in passes if p["timed"]]
    untraced = [p for p in timed if not p["traced"] and not p["failed"]]
    attempted = sum(p["docs"] for p in timed)
    failed = sum(p["docs"] - p.get("ok", 0) for p in timed)
    setup_s = statistics.median(a + b for a, b in setups)
    rate = statistics.median(p["docs"] / p["wall_s"] for p in untraced) if untraced else 0.0
    e2e = {
        "setup_s": (setup_s, "s"),
        "docs_per_s": (rate, "docs/s"),
        "match_share": (matched / compared if compared else 0.0, "share"),
        "ok_share": ((attempted - failed) / attempted if attempted else 0.0, "share"),
    }
    if args.trace:
        traced = [p for p in timed if p["traced"] and not p["failed"]]
        t_rate = statistics.median(p["docs"] / p["wall_s"] for p in traced) if traced else 0.0
        layer["trace.overhead_share"] = (rate / t_rate - 1.0) if t_rate else 0.0
        layer["proc.peak_rss_mb"] = peak_rss / 2 ** 20
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in sorted(layer.items())}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}

    return {
        "workload": wl.name, "trace": int(args.trace),
        "host": _host_facts(args.seed),
        "inputs": {"slice_docs": wl.slice_size, "slices_generated": len(wl.order)},
        "phases_s": {"setup": t_warm - t_prep, "warm": t_gen - t_warm,
                     "gen_wait": t_setup - t_gen,
                     "passes": t_passes - t_setup, "traced": t_checks - t_passes,
                     "checks": t_stop - t_checks, "shutdown": t_end - t_stop},
        "setups": [{"start_s": a, "worker_s": b} for a, b in setups],
        "passes": [{k: p.get(k) for k in ("sid", "timed", "traced", "failed",
                                          "wall_s", "docs", "ok", "cpu_s")}
                   for p in passes],
        "query_walls": query_walls,
        # per span name over the whole traced phase: calls, wall, self time
        "spans": tracer.totals(),
        "problems": problems,
        "correct": not problems and compared > 0 and matched == compared,
        "attempted": attempted, "failed": failed, "metrics": metrics,
    }


def _wrap_catalog(tracer, state, main_table: str) -> None:
    """Span every catalog commit and tag its Spark jobs with a job group
    (``<pass>:main`` for the workload's main table) so the event log can
    be split per pass and per commit."""
    import contextlib

    from pyspark import SparkContext

    from ukrainian_ocr_pipeline_spark.sources.catalog import SnapshotCatalog

    @contextlib.contextmanager
    def commit(cat, df, table, *a, **kw):
        sc = SparkContext._active_spark_context
        sid = state["pass"]
        sc.setJobGroup(f"{sid}:main" if table == main_table else sid, sid)
        t0 = time.time() * 1e3
        try:
            yield
        finally:
            state["writes"].append({"table": table, "start_ms": t0,
                                    "end_ms": time.time() * 1e3})
            sc.setJobGroup(sid, sid)

    for attr in ("write_snapshot", "write_snapshot_bucketed"):
        tracer.wrap(SnapshotCatalog, attr, f"catalog.{attr}", around=commit)


def _layer_metrics(wl, passes, log, setups) -> dict:
    from trace import engine_totals, scan_bytes

    traced = [p for p in passes if p["timed"] and p["traced"] and not p["failed"]]
    per: dict[str, list[float]] = {}

    def add(k, v):
        per.setdefault(k, []).append(float(v))

    for p in traced:
        sid = p["sid"]
        jobs = {j: d for j, d in log["jobs"].items()
                if d["group"] in (sid, f"{sid}:main")}
        main = {j for j, d in jobs.items() if d["group"] == f"{sid}:main"}
        writes = p["writes"]
        main_end = max((w["end_ms"] for w in writes if w["table"] == wl.main_table),
                       default=p["end_ms"])
        last_end = max((w["end_ms"] for w in writes), default=p["end_ms"])
        post = {j for j, d in jobs.items() if d["submit_ms"] >= last_end}
        eng = engine_totals(log, set(jobs))
        for k, v in eng.items():
            add(f"spark.{k}", v)
        add("catalog.input_read_amplification",
            scan_bytes(log, p["start_ms"], main_end) / max(wl.input_bytes(p["k"]), 1))
        add("spark.scan_bytes", scan_bytes(log, p["start_ms"], p["end_ms"]))
        add("catalog.commit_jobs", len(main))
        # self time: a commit's span minus the plan building inside it
        add("catalog.write_s", sum(v["self_s"] for k, v in p["spans"].items()
                                   if k.startswith("catalog.")))
        add("job.build_s", sum(v["self_s"] for k, v in p["spans"].items()
                               if k.startswith("build.")))
        add("job.post_commit_s", (p["end_ms"] - last_end) / 1e3)
        add("job.post_commit_spark_jobs", len(post))
        spec_s = float(p["stats"].get("total_processing_time") or 0.0)
        add("extract.engine_share",
            1.0 - spec_s / eng["executor_run_s"] if eng["executor_run_s"] else 0.0)
        add("proc.cpu_s", p["cpu_s"])
        for k, v in wl.layer_counts(p["stats"]).items():
            add(k, v)
    out = {k: statistics.median(v) for k, v in per.items()}
    for k in ("curate.kept", "curate.dropped_quality", "curate.dropped_exact_dup",
              "curate.dropped_near_dup"):
        out.setdefault(k, 0.0)
    out["session.start_s"] = setups[0][0]
    out["session.worker_warm_s"] = setups[0][1]
    return out


_UNITS = {"_us": "us", "_s": "s", "_mb": "MB", "_bytes": "bytes", "_share": "share",
          "_ratio": "ratio", "_per_doc": "1/doc", "_amplification": "ratio",
          "_skew": "ratio", "docs_per_core_s": "docs/s"}


def _unit(name: str) -> str:
    for suffix in sorted(_UNITS, key=len, reverse=True):
        if name.endswith(suffix):
            return _UNITS[suffix]
    return "count"


# --------------------------------------------------------------------------
# compare mode

def _records(path: str) -> list[dict]:
    out = []
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            line = line.strip()
            if line.startswith("{"):
                rec = json.loads(line)
                if "workload" in rec:
                    out.append(rec)
    return out


def _summary(values: list[float]) -> tuple[float, float]:
    med = statistics.median(values)
    if len(values) >= 2:
        q = statistics.quantiles(values, n=4)
        return med, q[2] - q[0]
    return med, 0.0


def compare(a_path: str, b_path: str) -> int:
    """Diff two sets of full records per workload, per metric and per
    query wall; a change counts only beyond the larger side's spread
    (inter-quartile range over its runs)."""
    sides = [_records(a_path), _records(b_path)]
    keys = sorted({(r["workload"], r["trace"]) for s in sides for r in s})
    for wl, tr in keys:
        runs = [[r for r in s if r["workload"] == wl and r["trace"] == tr] for s in sides]
        if not all(runs):
            print(f"{wl} trace={tr}: missing on one side")
            continue
        print(f"{wl} trace={tr}: {len(runs[0])} vs {len(runs[1])} runs")
        rows = []
        names = sorted(set(runs[0][0]["metrics"]) & set(runs[1][0]["metrics"]))
        for n in names:
            rows.append((n, [[r["metrics"][n]["value"] for r in side] for side in runs]))
        qnames = sorted(set(runs[0][0].get("query_walls", {}))
                        & set(runs[1][0].get("query_walls", {})))
        for q in qnames:
            rows.append((f"query:{q}", [[r["query_walls"][q] for r in side] for side in runs]))
        for n, (va, vb) in rows:
            (ma, sa), (mb, sb) = _summary(va), _summary(vb)
            delta = mb - ma
            verdict = "within spread" if abs(delta) <= max(sa, sb) else (
                "up" if delta > 0 else "down")
            rel = f"{delta / ma:+.1%}" if ma else "n/a"
            print(f"  {n:40s} {ma:14.6g} -> {mb:14.6g} {rel:>8s}  "
                  f"(spread {sa:.3g} / {sb:.3g}) {verdict}")
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=15)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--out", default=None, help="append the full record here")
    p.add_argument("--compare", nargs=2, metavar=("A", "B"), default=None)
    args = p.parse_args(argv)
    if args.compare:
        return compare(*args.compare)
    if not args.workload:
        p.error("--workload is required")
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
