"""The main-content extraction DataFrame chain — the engine's flagship.

Spark-first recast of the reference's 6-stage per-document flow
(ukrainian_ocr/core/pipeline.py:183-355).  Physical shape:

  * ONE shuffle-free map stage end-to-end: decode/segment/classify run in
    a single pandas UDF; render + metrics run JVM-side via higher-order
    functions (filter/transform/concat_ws/size) inside whole-stage
    codegen; NER / matching / regions are further per-row UDF columns.
    No groupBy, no join, no shuffle — the plan scales linearly with
    executors, which is what makes N->4N scaling efficiency >= 0.8
    achievable (the north rule's criterion).
  * The only optional shuffle is the explicit salted `repartition` for
    megapage-host skew (salt_buckets), placed BEFORE the heavy UDF so AQE
    and the scheduler see uniformly-sized tasks.
  * Catalyst cannot push filters through opaque Python UDFs, so all
    row-pruning (html is null etc.) is ordered before the UDF manually.

The render step deserves a note: the reference rebuilds full-document
text in Python (core/ner.py:429-447, core/pipeline.py:410-542).  Here it
is `concat_ws('\n', transform(filter(blocks, b -> b.is_content),
b -> b.text))` — pure Catalyst expressions over the block array, no
Python round-trip, and byte-identical to the oracle's
'\n'.join(kept texts in block_id order) because array order is document
order and survives any partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.udfs import (
    make_enrich_udf, make_packed_extract_arrow, make_packed_extract_udf,
    packed_arrow_schema, segment_pages_udf,
)
from ..spec import default_lexicon

_KEPT = "filter(seg.blocks, b -> b.is_content)"

#: metrics columns every extract mode must expose
_METRIC_COLS = ["success", "error", "kind", "charset", "fallback_level",
                "blocks_detected", "blocks_kept", "t_ms"]


def extract_pages(pages: DataFrame, lexicon: list[str] | None = None,
                  salt_buckets: int | None = None,
                  with_matches: bool = True,
                  with_regions: bool = True,
                  mode: str = "staged",
                  match_threshold: float = 0.8,
                  match_min_length: int = 3,
                  ner_backend=None) -> DataFrame:
    """pages(url, warc_ts, html, ...) -> enriched extraction DataFrame.

    Guaranteed columns (both modes): url, warc_ts, extracted_text,
    spans, matches, regions, success, error, kind, charset,
    fallback_level, blocks_detected, blocks_kept, t_ms.

    mode="staged" (default): TWO Python exchanges per task — segment
    (html -> blocks) and the fused enrich (text -> spans+matches+regions)
    — with the render step between them as pure Catalyst expressions over
    the block array.  Exposes the `seg` struct, so blocks_table works.

    mode="packed": ONE Python exchange calling spec.extract_page per row
    (the oracle's own function); the blocks array never crosses Arrow.
    Byte-identical output (asserted in golden tests), no per-block table.

    mode="arrow": the THROUGHPUT default (config.extraction.mode) — same
    single exchange as packed but via mapInArrow, building the nested
    output as flat Arrow child arrays and skipping the pandas conversion
    both ways.  Byte-identical (golden tests); ties packed when CPU-bound
    and wins ~2x when memory-bandwidth bound (bench_out/mode_ab_r3.json).

    Keeping Python stage count minimal is a deliberate scale decision —
    each extra chained pandas-UDF column is another worker process per
    task and another Arrow round-trip of the document payload.
    """
    if mode not in ("staged", "packed", "arrow"):
        raise ValueError(f"unknown extract mode {mode!r}; "
                         "expected staged | packed | arrow")
    df = pages
    if salt_buckets:
        # megapage-host skew: url-hash repartition spreads any single hot
        # host across all buckets (url is unique => near-uniform)
        df = df.repartition(salt_buckets, F.xxhash64("url"))

    lex = (lexicon if lexicon is not None else default_lexicon()) if with_matches else None

    if mode == "arrow":
        # mapInArrow twin of packed: identical values, nested output
        # columns built as flat Arrow child arrays (~3x faster
        # conversion).  Every input column EXCEPT the two heavyweight
        # payloads (html, text) passes through — same committed snapshot
        # schema as packed mode modulo those payloads (which jobs drop
        # before the write anyway); in mapInArrow the passthrough rides
        # the Arrow batch, so shipping multi-MB payload columns back out
        # of Python would erase the mode's conversion win.
        passthrough = [c for c in df.columns if c not in ("html", "text")]
        fn = make_packed_extract_arrow(lex, threshold=match_threshold,
                                       with_matches=with_matches,
                                       with_regions=with_regions,
                                       ner_backend=ner_backend,
                                       min_length=match_min_length,
                                       passthrough=tuple(passthrough))
        schema = packed_arrow_schema([df.schema[c] for c in passthrough])
        return df.select(*passthrough, "html").mapInArrow(fn, schema)

    if mode == "packed":
        packed = make_packed_extract_udf(lex, threshold=match_threshold,
                                         with_matches=with_matches,
                                         with_regions=with_regions,
                                         ner_backend=ner_backend,
                                         min_length=match_min_length)
        df = df.withColumn("p", packed(F.col("url"), F.col("html")))
        for c in ["extracted_text", "spans", "matches", "regions", *_METRIC_COLS]:
            df = df.withColumn(c, F.col(f"p.{c}"))
        return df.drop("p")

    enrich = make_enrich_udf(lex, threshold=match_threshold,
                             with_matches=with_matches,
                             with_regions=with_regions,
                             ner_backend=ner_backend,
                             min_length=match_min_length)
    df = (
        df
        .withColumn("seg", segment_pages_udf(F.col("html")))
        .withColumn("kept_offsets",
                    F.expr(f"transform({_KEPT}, b -> struct(b.block_id as block_id, b.n_chars as n_chars))"))
        .withColumn("extracted_text",
                    F.expr(f"concat_ws('\\n', transform({_KEPT}, b -> b.text))"))
        .withColumn("enrich", enrich(F.col("extracted_text"), F.col("kept_offsets")))
        .withColumn("spans", F.col("enrich.spans"))
        .withColumn("matches", F.col("enrich.matches"))
        .withColumn("regions", F.col("enrich.regions"))
    )
    # success/error fold BOTH stages (an enrich failure used to vanish
    # under seg.success=True with silently-empty spans), and t_ms sums
    # them so staged metrics count the NER+match stage like packed does.
    # Stage-granular caveat vs packed: an enrich-only failure here keeps
    # the successful segmentation's kind/charset/text, while packed
    # (one try around the whole page) reports kind='error' — staged
    # attributes errors per stage, packed per page.
    return (df
            .withColumn("success",
                        F.col("seg.success") & F.col("enrich.error").isNull())
            .withColumn("error",
                        F.coalesce(F.col("seg.error"), F.col("enrich.error")))
            .withColumn("kind", F.col("seg.kind"))
            .withColumn("charset", F.col("seg.charset"))
            .withColumn("fallback_level", F.col("seg.fallback_level"))
            .withColumn("blocks_detected", F.size("seg.blocks"))
            .withColumn("blocks_kept", F.size("kept_offsets"))
            .withColumn("t_ms", F.col("seg.t_ms") + F.col("enrich.t_ms"))
            .drop("enrich"))


#: the `extracted` output table (FIXTURES.md §3) as select expressions
#: over `enriched`; jobs/extract.py commits this same list as the
#: table's projection manifest, so the two definitions cannot drift
EXTRACTED_EXPRS = ["url", "warc_ts", "extracted_text", "spans"]

#: per-url stage metrics (analog of the result record,
#: core/pipeline.py:322-346) over `enriched`; committed as a projection
#: like EXTRACTED_EXPRS.  `1000D` is a double literal: under ANSI SQL a
#: bare `1000.0` is a decimal, and processing_time must stay a double.
METRICS_EXPRS = [
    "url", "success", "error", "kind", "charset", "fallback_level",
    "blocks_detected", "blocks_kept",
    "size(spans) AS entities",
    "size(matches) AS matches",
    "map('extract', t_ms) AS stage_times",
    "t_ms / 1000D AS processing_time",
]

#: run stats over the metrics columns (analog of pipeline stats,
#: core/pipeline.py:551-557 + batch summary core/batch_processor.py:234-274)
STATS_EXPRS = [
    "count(*) AS pages_processed",
    "sum(if(success, 1, 0)) AS pages_ok",
    "sum(if(NOT success, 1, 0)) AS pages_failed",
    "sum(blocks_detected) AS total_blocks",
    "sum(blocks_kept) AS total_blocks_kept",
    "sum(entities) AS total_entities",
    "sum(matches) AS total_matches",
    "sum(processing_time) AS total_processing_time",
    "avg(processing_time) AS avg_time_per_page",
]


def extracted_table(enriched: DataFrame) -> DataFrame:
    """The `extracted` output table (FIXTURES.md §3)."""
    return enriched.selectExpr(*EXTRACTED_EXPRS)


def blocks_table(enriched: DataFrame) -> DataFrame:
    """Exploded per-block table — the reference's line-dict list as rows."""
    return (enriched
            .select("url", F.posexplode_outer("seg.blocks").alias("pos", "b"))
            .select("url", "b.*")
            .drop("pos"))


def metrics_table(enriched: DataFrame) -> DataFrame:
    """Per-url stage metrics. All JVM-side expressions — no extra UDF."""
    return enriched.selectExpr(*METRICS_EXPRS)


def lineage_table(enriched: DataFrame, snapshot_id: int = 0) -> DataFrame:
    """Per-partition lineage (north rule): one row per output partition.

    spark_partition_id() is evaluated on the partitioning of the frame
    it is GIVEN.  Fed the in-flight extraction frame, rows describe the
    writer tasks; fed a re-read committed snapshot (jobs/extract.py's
    resume-safe path), they describe the READ split layout (parquet
    files grouped by maxPartitionBytes), which may merge or split the
    original writer tasks — per-partition row counts, url ranges, and
    summed t_ms stay exact either way.
    """
    return (enriched
            .select(F.spark_partition_id().alias("partition_id"),
                    "url", "success", "t_ms")
            .groupBy("partition_id")
            .agg(F.lit(snapshot_id).cast("long").alias("snapshot_id"),
                 F.count("*").alias("n_rows"),
                 F.sum(F.when(F.col("success"), 1).otherwise(0)).cast("long").alias("n_ok"),
                 F.sum(F.when(~F.col("success"), 1).otherwise(0)).cast("long").alias("n_err"),
                 F.min("url").alias("min_url"),
                 F.max("url").alias("max_url"),
                 F.sum("t_ms").cast("long").alias("wall_ms")))


def pipeline_stats(metrics: DataFrame) -> DataFrame:
    """Aggregate run stats over a metrics table, as one row."""
    return metrics.agg(*[F.expr(e) for e in STATS_EXPRS])


def observe_stats(enriched: DataFrame, observation) -> DataFrame:
    """The metrics columns plus t_ms, with the pipeline_stats aggregates
    attached as `observation`: the stats arrive with whatever action
    consumes the frame (the lineage write in jobs/extract.py) instead of
    costing a scan of their own."""
    return (enriched.selectExpr(*METRICS_EXPRS, "t_ms")
            .observe(observation, *[F.expr(e) for e in STATS_EXPRS]))
