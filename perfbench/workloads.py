"""The benchmark workloads and the layer probes.

A workload drives one of the repo's jobs through its ``main(argv)`` in
the benchmark's own driver process, one pass at a time (closed loop),
each pass over a fresh same-size slice of seeded input, and checks each
pass's committed output against a reference that does not run the job.
"""

from __future__ import annotations

import contextlib
import hashlib
import importlib.util
import io
import json
import math
import os
import time

import gen
from trace import Tracer

NPROC = len(os.sched_getaffinity(0))
MEGA_PERIOD = 1490      # fixture mega pages recur every 1490 page indices
INPUT_FILES = 16        # input splits per slice: 4x the cores


def _load_job(root: str, name: str):
    """Import ``jobs/<name>.py`` (not a package) as a module."""
    spec = importlib.util.spec_from_file_location(
        f"perfbench_job_{name}", os.path.join(root, "jobs", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _run_main(main, argv: list[str]) -> dict:
    """Call a job's ``main(argv)``; return its last stdout line as JSON."""
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        rc = main(argv)
    if rc != 0:
        raise RuntimeError(f"job exited {rc}: {argv}")
    return json.loads(out.getvalue().strip().splitlines()[-1])


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


# --------------------------------------------------------------------------
# input slices (generated in a process pool while the warm-up passes run)

def _page_slice(task):
    """Write one pages slice; return {url: sha256 of the oracle's text},
    or None when no reference is asked for.

    The reference is the repo's sequential oracle (``oracle.run_oracle``):
    one row at a time, no Spark, no Arrow, no bucketing."""
    seed, pos, stride, size, path, with_ref = task
    from ukrainian_ocr_pipeline_spark.oracle import run_oracle
    rows = gen.page_rows(seed, pos * stride, pos * stride + size)
    gen.write_pages(rows, path, INPUT_FILES)
    if not with_ref:
        return None
    ext = run_oracle(rows)["extracted"]
    return {u: hashlib.sha256(t.encode("utf-8")).hexdigest()
            for u, t in zip(ext["url"], ext["extracted_text"])}


def _doc_slice(task):
    seed, pos, _, size, path, _ = task  # the planted truth costs nothing
    table, expected = gen.documents(seed, size, id_base=pos * 10 ** 7)
    gen.write_documents(table, path, INPUT_FILES)
    return expected


# --------------------------------------------------------------------------
# the spec layer, probed in-process (no Spark)

def spec_probe(seed: int, n_pages: int) -> dict[str, float]:
    """Per-stage µs/doc over ``n_pages`` fixture pages, calling the spec
    stage functions in ``spec/pipeline.py``'s order with a fresh
    lexicon matcher."""
    from ukrainian_ocr_pipeline_spark import spec
    from ukrainian_ocr_pipeline_spark.spec import ner as ner_mod
    matcher = spec.LexiconMatcher(spec.default_lexicon())
    stages = ["decode", "segment", "classify", "render", "ner", "lexicon",
              "regions"]
    t = dict.fromkeys(stages, 0.0)
    detected = kept = n_spans = n_matches = 0
    clock = time.perf_counter
    rows = gen.page_rows(seed, 0, n_pages)
    for row in rows:
        c0 = clock()
        dec = spec.decode_page(row["html"])
        c1 = clock()
        blocks, _ = spec.segment_blocks(dec.text, dec.kind)
        c2 = clock()
        spec.classify_blocks(blocks)
        c3 = clock()
        text, offsets = spec.render_text(blocks)
        c4 = clock()
        spans = ner_mod.attach_block_ids(spec.tag_entities(text), offsets, text)
        c5 = clock()
        matches = matcher.find_in_text(text) if text else []
        c6 = clock()
        spec.dense_regions(spans, len(text))
        c7 = clock()
        for name, a, b in zip(stages, (c0, c1, c2, c3, c4, c5, c6),
                              (c1, c2, c3, c4, c5, c6, c7)):
            t[name] += b - a
        detected += len(blocks)
        kept += sum(1 for b in blocks if b.is_content)
        n_spans += len(spans)
        n_matches += len(matches)
    n = len(rows)
    out = {f"spec.{k}_us": v / n * 1e6 for k, v in t.items()}
    out["spec.docs_per_core_s"] = n / sum(t.values())
    out["spec.blocks_kept_ratio"] = kept / max(detected, 1)
    out["spec.spans_per_doc"] = n_spans / n
    out["spec.matches_per_doc"] = n_matches / n
    return out


# --------------------------------------------------------------------------
# the registry layer, probed over a seeded documents table

PROBE_QUERIES = [
    "doc_quality_filter", "dedup_exact", "dedup_near_dup_verified",
    "dedup_cluster_assign_star", "doc_language_id", "heavy_hitter_terms",
    "corpus_shard_manifest", "hybrid_search_rrf",
]


def registry_probe(spark, seed: int, work: str, tracer: Tracer) -> tuple[dict, dict, list]:
    """Build then noop-write each probe query; check each against its
    DuckDB twin.  Returns (metrics, per-query walls, mismatched names)."""
    import duckdb

    from ukrainian_ocr_pipeline_spark.oraclecompare import (
        normalize_frame, values_equal)
    from ukrainian_ocr_pipeline_spark.plans import registry

    sf = os.path.join(work, "probe_sf")
    os.makedirs(sf, exist_ok=True)
    table, _ = gen.documents(seed, 2000)
    import pyarrow.parquet as pq
    pq.write_table(table, os.path.join(sf, "documents.parquet"))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf}/documents.parquet')")
    build = execute = 0.0
    windows = 0
    walls, bad = {}, []
    spark.sparkContext.setJobGroup("probe", "registry probe")
    for name in PROBE_QUERIES:
        t0 = time.perf_counter()
        with tracer.span(f"registry.{name}"):
            df = registry.QUERIES[name](spark, sf)
        t1 = time.perf_counter()
        with tracer.span("sink.noop"):
            df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        build += t1 - t0
        execute += t2 - t1
        walls[name] = t2 - t0
        windows += _global_windows(df)
        got = normalize_frame(df.toPandas())
        want = normalize_frame(con.execute(registry.ORACLE_SQL[name]).df())
        if (list(got.columns) != list(want.columns) or len(got) != len(want)
                or not values_equal(got, want)):
            bad.append(name)
    con.close()
    return ({"queries.build_s": build, "queries.exec_s": execute,
             "queries.global_windows": float(windows)}, walls, bad)


def _global_windows(df) -> int:
    """Window operators without a partition spec in the physical plan:
    each moves its whole input into one partition."""
    nodes = json.loads(df._jdf.queryExecution().sparkPlan().toJSON())
    return sum(1 for n in nodes if n["class"].endswith(".WindowExec")
               and not n.get("partitionSpec"))


# --------------------------------------------------------------------------
# workloads

class Workload:
    name = ""
    main_table = ""          # the table whose commit does the main work
    slice_size = 0
    # the JVM keeps compiling through the first several passes, and how
    # fast a pass runs depends on how many ran before it: a run's first
    # phase makes ``warm_passes`` untimed passes before it starts
    # timing, a later phase (same JVM, new session) one.  A phase's
    # first pass is over a small ``cold_size`` slice, since what it pays
    # for (class loading, worker start-up) hardly depends on size; the
    # others are over fresh full-size slices, so they run the timed
    # passes' plans
    warm_passes = 3
    cold_size = 0            # 0: full size
    expected_pass_s = 4.0    # a timed pass; sizes how many slices a run generates
    slice_fn = None          # module-level (picklable) slice generator
    warm_refs = True         # make references for the warm-up slices too

    def __init__(self, root: str, work: str, seed: int, seconds: float,
                 n_phases: int):
        self.root, self.work, self.seed, self.seconds = root, work, seed, seconds
        self.wh = os.path.join(work, "wh")
        # enough timed slices for the window plus the pass that crosses its end
        n_timed = 2 + math.ceil(seconds / self.expected_pass_s)
        self.warm_keys = [[f"w{j}x{i}" for i in range(self.warm_passes if j == 0 else 1)]
                          for j in range(n_phases)]
        self.timed_keys = [list(range(j * n_timed, (j + 1) * n_timed))
                           for j in range(n_phases)]
        # generation order is use order; a slice's position in it fixes
        # its urls and doc ids, so every slice of a run is distinct
        self.order = [k for j in range(n_phases)
                      for k in self.warm_keys[j] + self.timed_keys[j]]
        self.paths = {k: os.path.join(work, "in", f"slice-{k}") for k in self.order}
        self.sizes = {k: self.slice_size for k in self.order}
        self.sizes.update({keys[0]: self.cold_size or self.slice_size
                           for keys in self.warm_keys})
        self.refs: dict = {}
        self._results = None

    def prepare(self, pool) -> None:
        """Start generating every slice and its reference, in use order,
        in the background; :meth:`ready` and :meth:`wait` collect them."""
        fn = type(self).slice_fn
        warm = {k for keys in self.warm_keys for k in keys}
        # slice pos holds items [pos * slice_size, pos * slice_size + size)
        tasks = [(self.seed, pos, self.slice_size, self.sizes[k], self.paths[k],
                  self.warm_refs or k not in warm)
                 for pos, k in enumerate(self.order)]
        self._results = pool.imap(fn, tasks, chunksize=1)
        self.job = _load_job(self.root, self.job_name)

    def ready(self, key) -> None:
        """Block until slice ``key`` has been written."""
        while key not in self.refs:
            self.refs[self.order[len(self.refs)]] = next(self._results)

    def wait(self) -> None:
        self.ready(self.order[-1])
        # the iterator holds the pool's queues (and their semaphores) alive
        self._results = None

    def run_pass(self, key, sid: str) -> dict: ...
    def check_pass(self, spark, key, sid: str, stats: dict) -> tuple[int, int, list]: ...
    def docs(self, stats: dict) -> int: ...
    def ok(self, stats: dict) -> int: ...

    def input_bytes(self, key) -> int:
        return _dir_bytes(self.paths[key])

    def layer_counts(self, stats: dict) -> dict[str, float]:
        return {}

    def wrap(self, tracer: Tracer) -> None: ...


class Extract(Workload):
    main_table = "enriched"
    job_name = "extract"
    buckets = 0
    warm_passes = 4          # a small cold pass would save no time here
    slice_fn = staticmethod(_page_slice)
    # warm-up passes are not checked: their slices skip the oracle,
    # which costs more than making the pages
    warm_refs = False

    def run_pass(self, k, sid):
        return _run_main(self.job.main, [
            "--pages", self.paths[k], "--warehouse", self.wh,
            "--snapshot-id", sid, "--buckets", str(self.buckets)])

    def check_pass(self, spark, k, sid, stats):
        from pyspark.sql import functions as F

        from ukrainian_ocr_pipeline_spark.sources.catalog import SnapshotCatalog
        ext = SnapshotCatalog(self.wh).read_snapshot(spark, "extracted", sid)
        got = {r[0]: r[1] for r in ext.select(
            "url", F.sha2("extracted_text", 256)).collect()}
        want = self.refs[k]
        match = sum(1 for u, h in want.items() if got.get(u) == h)
        problems = []
        if match != len(want):
            problems.append(f"{sid}: {len(want) - match} of {len(want)} urls "
                            "differ from the oracle text")
        if len(got) != len(want):
            problems.append(f"{sid}: {len(got)} urls committed, {len(want)} expected")
        if stats.get("pages_processed") != len(want):
            problems.append(f"{sid}: stats report {stats.get('pages_processed')} pages")
        return match, len(want), problems

    def docs(self, stats):
        return int(stats["pages_processed"])

    def ok(self, stats):
        return int(stats["pages_ok"])

    def wrap(self, tracer):
        from ukrainian_ocr_pipeline_spark.operators import extract as ex
        from ukrainian_ocr_pipeline_spark.sources import pages
        tracer.wrap(pages, "read_pages", "pages.read_pages")
        tracer.wrap(pages, "validate_pages", "pages.validate_pages")
        tracer.wrap(ex, "extract_pages", "build.extract_pages")
        tracer.wrap(ex, "pipeline_stats", "extract.pipeline_stats")


class ExtractBulk(Extract):
    """Single commit (``--buckets 0``): the Python spec stages and the UDF
    boundary dominate; the catalog's bucket loop is bypassed."""
    name = "extract_bulk"
    buckets = 0
    slice_size = 2 * MEGA_PERIOD
    expected_pass_s = 2.3


class ExtractResumable(Extract):
    """Resumable commit: one Spark job per bucket, each re-reading the
    whole input, so catalog changes show.  8 buckets, not the job's
    default 64, so that a pass fits a run; for manual runs only."""
    name = "extract_resumable"
    buckets = 8
    slice_size = MEGA_PERIOD
    expected_pass_s = 5.0


class Curate(Workload):
    """``jobs/curate.py`` with default gates over planted documents: the
    dedup and quality operators, the driver-side checkpoint loops, the
    commits and the stats collects; no spec work."""
    name = "curate"
    main_table = "curation_decisions"
    job_name = "curate"
    slice_size = 6000
    warm_passes = 2
    cold_size = 500
    expected_pass_s = 6.0
    slice_fn = staticmethod(_doc_slice)

    def run_pass(self, k, sid):
        return _run_main(self.job.main, [
            "--docs", self.paths[k], "--warehouse", self.wh,
            "--snapshot-id", sid])

    def check_pass(self, spark, k, sid, stats):
        from ukrainian_ocr_pipeline_spark.sources.catalog import SnapshotCatalog
        dec = SnapshotCatalog(self.wh).read_snapshot(
            spark, "curation_decisions", sid)
        rows = dec.select("doc_id", "status", "keeper_doc_id").collect()
        want = self.refs[k]
        got: dict[int, tuple] = {}
        dup_ids = 0
        for r in rows:
            if r[0] in got:
                dup_ids += 1
            got[r[0]] = (r[1], r[2])
        match = sum(1 for d, v in want.items() if got.get(d) == v)
        problems = []
        if match != len(want):
            problems.append(f"{sid}: {len(want) - match} of {len(want)} "
                            "decisions differ from the planted reference")
        if len(rows) != len(want) or dup_ids:
            problems.append(f"{sid}: {len(rows)} decision rows for "
                            f"{len(want)} docs ({dup_ids} repeated)")
        dropped = sum(v for key, v in stats.items() if key.startswith("dropped_"))
        if stats.get("docs_out", 0) + dropped != stats.get("docs_in"):
            problems.append(f"{sid}: docs_out + dropped != docs_in in stats")
        if stats.get("docs_in") != len(want):
            problems.append(f"{sid}: stats report {stats.get('docs_in')} docs in")
        return match, len(want), problems

    def docs(self, stats):
        return int(stats["docs_in"])

    def ok(self, stats):
        # docs given a decision
        return int(stats["docs_out"]) + sum(
            v for key, v in stats.items() if key.startswith("dropped_"))

    def layer_counts(self, stats):
        return {"curate.kept": float(stats["docs_out"]),
                "curate.dropped_quality": float(stats["dropped_quality"]),
                "curate.dropped_exact_dup": float(stats["dropped_exact_dup"]),
                "curate.dropped_near_dup": float(stats["dropped_near_dup"])}

    def wrap(self, tracer):
        from ukrainian_ocr_pipeline_spark.operators import dedup, textstats
        for name in ("quality_filter",):
            tracer.wrap(textstats, name, f"build.{name}")
        for name in ("verified_near_dups", "cluster_assign_star",
                     "cluster_assign", "content_digest",
                     "train_val_test_split"):
            tracer.wrap(dedup, name, f"build.{name}")


WORKLOADS = {w.name: w for w in (ExtractResumable, ExtractBulk, Curate)}
