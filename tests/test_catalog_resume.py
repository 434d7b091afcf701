"""Resume / checkpoint semantics (north rule): a writer killed after a
partial commit, then re-run, produces a final table identical to an
uninterrupted run — no duplicates, no gaps."""

import pandas as pd
import pytest

from ukrainian_ocr_pipeline_spark.sources.catalog import SnapshotCatalog


@pytest.fixture()
def pages(spark, t2_rows):
    from ukrainian_ocr_pipeline_spark.functions.schemas import PAGES_SCHEMA
    pdf = pd.DataFrame(t2_rows[:120])
    pdf["warc_ts"] = pd.to_datetime(pdf["warc_ts"], utc=True).dt.tz_localize(None)
    return spark.createDataFrame(pdf, schema=PAGES_SCHEMA)


def _transform(df):
    from ukrainian_ocr_pipeline_spark.operators.extract import extract_pages, extracted_table
    return extracted_table(extract_pages(df, with_matches=False, with_regions=False)) \
        .drop("spans")


def test_crash_resume_no_dupes(spark, pages, tmp_path):
    cat = SnapshotCatalog(str(tmp_path / "warehouse"))

    # uninterrupted reference run
    cat.write_snapshot_bucketed(pages, "ref", "s1", n_buckets=6, transform=_transform)
    ref = cat.read_snapshot(spark, "ref").orderBy("url").toPandas()

    # crashing run: dies after 2 buckets
    with pytest.raises(RuntimeError, match="simulated crash"):
        cat.write_snapshot_bucketed(pages, "out", "s1", n_buckets=6,
                                    transform=_transform, fail_after_bucket=1)
    assert not cat.is_committed("out", "s1")
    with pytest.raises(FileNotFoundError):
        cat.read_snapshot(spark, "out")  # uncommitted data is invisible

    # resume: completes remaining buckets only, then commits
    cat.write_snapshot_bucketed(pages, "out", "s1", n_buckets=6, transform=_transform)
    got = cat.read_snapshot(spark, "out").orderBy("url").toPandas()

    assert len(got) == len(ref) == 120
    assert got.url.is_unique
    assert (got.url.values == ref.url.values).all()
    assert (got.extracted_text.values == ref.extracted_text.values).all()


def test_idempotent_recommit(spark, pages, tmp_path):
    cat = SnapshotCatalog(str(tmp_path / "wh"))
    m1 = cat.write_snapshot(pages.select("url", "lang"), "t", "snap-a")
    m2 = cat.write_snapshot(pages.select("url", "lang"), "t", "snap-a")  # no-op
    assert m1["snapshot_id"] == m2["snapshot_id"]
    assert len(cat.snapshots("t")) == 1
    assert cat.read_snapshot(spark, "t").count() == 120


def test_snapshot_lineage_chain(spark, pages, tmp_path):
    cat = SnapshotCatalog(str(tmp_path / "wh"))
    cat.write_snapshot(pages.limit(10), "t", "s1")
    cat.write_snapshot(pages.limit(20), "t", "s2", parent="s1")
    snaps = cat.snapshots("t")
    assert [s["snapshot_id"] for s in snaps] == ["s1", "s2"]
    assert snaps[1]["parent"] == "s1"
    assert cat.read_snapshot(spark, "t", "s1").count() == 10
    assert cat.read_snapshot(spark, "t").count() == 20  # latest wins


def test_iceberg_seam_detection_and_fallback(spark):
    """The sandbox has no Iceberg jar: detection must say so, every
    Iceberg entry point must fail fast with the fallback pointer, and the
    SnapshotCatalog remains the engaged path (rest of this file)."""
    import pytest
    from ukrainian_ocr_pipeline_spark.sources import iceberg

    assert iceberg.iceberg_available(spark) is False
    with pytest.raises(RuntimeError, match="SnapshotCatalog"):
        iceberg.create_pages_table(spark)
    with pytest.raises(RuntimeError, match="SnapshotCatalog"):
        iceberg.append_snapshot(spark.range(1), "wh.db.t")


def test_concurrent_writers_same_snapshot_commit_once(spark, t2_rows, tmp_path):
    """Two writers racing on the SAME (table, snapshot_id) — e.g. a
    retried orchestrator task whose predecessor didn't die — must yield
    exactly one committed manifest and a consistent table.  Simulated by
    interleaving: writer A stages+commits; writer B (started before A's
    commit in the worst case) sees the committed manifest and no-ops."""
    import threading

    from ukrainian_ocr_pipeline_spark.sources.catalog import SnapshotCatalog
    from ukrainian_ocr_pipeline_spark.sources.pages import pages_from_fixtures

    cat = SnapshotCatalog(str(tmp_path / "wh"))
    pages = pages_from_fixtures(spark, 30).select("url", "lang")

    errs = []

    def writer():
        try:
            cat.write_snapshot(pages, "t", "race-1")
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=writer) for _ in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    # exactly one manifest for race-1; data readable and complete
    snaps = [s for s in cat.snapshots("t") if s["snapshot_id"] == "race-1"]
    assert len(snaps) == 1
    got = cat.read_snapshot(spark, "t", "race-1")
    assert got.count() == 30 and got.select("url").distinct().count() == 30


def test_vacuum_removes_dead_orphans_keeps_committed(spark, tmp_path):
    import json
    import os

    from ukrainian_ocr_pipeline_spark.sources.catalog import SnapshotCatalog
    from ukrainian_ocr_pipeline_spark.sources.pages import pages_from_fixtures

    cat = SnapshotCatalog(str(tmp_path / "wh"))
    pages = pages_from_fixtures(spark, 10).select("url", "lang")
    cat.write_snapshot(pages, "t", "v1")

    # forge a crashed attempt: orphan dir + dead-pid owner file
    root = cat._data_dir("t", "v1")
    from ukrainian_ocr_pipeline_spark.sources.catalog import _owner_marker
    orphan = os.path.join(root, "attempt-deadbeef")
    os.makedirs(orphan)
    with open(_owner_marker(orphan), "w") as fh:
        json.dump({"pid": 999999999}, fh)
    # and a live in-flight attempt (pid 1 is always alive)
    live = os.path.join(root, "attempt-live0001")
    os.makedirs(live)
    with open(_owner_marker(live), "w") as fh:
        json.dump({"pid": 1}, fh)

    removed = cat.vacuum("t")
    assert orphan in removed
    assert not os.path.exists(orphan)
    assert os.path.exists(live)  # live writer untouched
    # committed data still readable
    assert cat.read_snapshot(spark, "t", "v1").count() == 10


def test_bucketed_concurrent_writer_lease(spark, tmp_path):
    import json
    import os

    import pytest as _pytest

    from ukrainian_ocr_pipeline_spark.sources.catalog import (
        ConcurrentWriter, SnapshotCatalog)
    from ukrainian_ocr_pipeline_spark.sources.pages import pages_from_fixtures

    cat = SnapshotCatalog(str(tmp_path / "wh"))
    pages = pages_from_fixtures(spark, 12).select("url", "lang")

    # a LIVE foreign lease (pid 1) blocks a second bucketed writer loudly
    markers = cat._markers_dir("t", "b1")
    os.makedirs(markers)
    with open(os.path.join(markers, ".lease.json"), "w") as fh:
        json.dump({"pid": 1}, fh)
    with _pytest.raises(ConcurrentWriter):
        cat.write_snapshot_bucketed(pages, "t", "b1", n_buckets=2,
                                    transform=lambda df: df)

    # a DEAD holder's lease is broken automatically (crash-restart)
    with open(os.path.join(markers, ".lease.json"), "w") as fh:
        json.dump({"pid": 999999999}, fh)
    cat.write_snapshot_bucketed(pages, "t", "b1", n_buckets=2,
                                transform=lambda df: df)
    assert cat.is_committed("t", "b1")
    assert cat.read_snapshot(spark, "t", "b1").count() == 12


def test_read_pages_on_staging_root_follows_manifest(spark, pages, tmp_path):
    """Passing a catalog STAGING root (…/<table>/data-<id>) to
    read_pages must resolve through the committed manifest: a live
    concurrent attempt dir (and its attempt-*.writer.json sibling)
    inside the staging root must be invisible to readers."""
    import json
    import os

    from ukrainian_ocr_pipeline_spark.sources.pages import read_pages

    cat = SnapshotCatalog(str(tmp_path / "wh"))
    cat.write_snapshot(pages, "pages", "crawl-001")
    staging = str(tmp_path / "wh" / "pages" / "data-crawl-001")

    # plant a LIVE second attempt (owner pid = this process, so the
    # winner's GC must have left it) + its writer marker
    dupe = os.path.join(staging, "attempt-deadbeef")
    committed = cat.latest_snapshot("pages")["data_dir"]
    assert committed != dupe
    spark.read.parquet(committed).write.parquet(dupe)
    with open(dupe + ".writer.json", "w", encoding="utf-8") as fh:
        json.dump({"pid": os.getpid()}, fh)

    got = read_pages(spark, staging)
    assert got.count() == 120  # not 240: the stray attempt is ignored

    # non-catalog paths still read as plain recursive parquet dirs
    plain = str(tmp_path / "plain")
    spark.read.parquet(committed).write.parquet(plain)
    assert read_pages(spark, plain).count() == 120


def test_inflight_tmp_manifest_is_not_a_committed_snapshot(spark, tmp_path):
    """A writer killed between staging .tmp-*.json and the link() must
    not leave a ghost 'committed' snapshot: snapshots() must skip
    dot-prefixed staging files (mid-write they are partial JSON)."""
    import json
    import os

    from ukrainian_ocr_pipeline_spark.sources.catalog import SnapshotCatalog
    from ukrainian_ocr_pipeline_spark.sources.pages import pages_from_fixtures

    cat = SnapshotCatalog(str(tmp_path / "wh"))
    pages = pages_from_fixtures(spark, 5).select("url", "lang")
    cat.write_snapshot(pages, "t", "v1")
    snap_dir = cat._snap_dir("t")
    # forge a complete-but-uncommitted staging manifest AND a partial one
    with open(os.path.join(snap_dir, ".tmp-dead.json"), "w") as fh:
        json.dump({"snapshot_id": "ghost", "sequence": 9,
                   "data_dir": "/nowhere", "mode": "full"}, fh)
    with open(os.path.join(snap_dir, ".tmp-partial.json"), "w") as fh:
        fh.write('{"snapshot_id": "gho')  # mid-write partial JSON
    snaps = cat.snapshots("t")
    assert [s["snapshot_id"] for s in snaps] == ["v1"]
    assert not cat.is_committed("t", "ghost")


def test_bucketed_resume_rejects_changed_n_buckets(spark, tmp_path):
    """Markers are only valid under the modulus that wrote them: a
    restart with different n_buckets must fail loudly, not silently
    lose/duplicate rows."""
    import pytest

    from ukrainian_ocr_pipeline_spark.sources.catalog import SnapshotCatalog
    from ukrainian_ocr_pipeline_spark.sources.pages import pages_from_fixtures

    cat = SnapshotCatalog(str(tmp_path / "wh"))
    pages = pages_from_fixtures(spark, 20).select("url", "lang")
    ident = lambda df: df
    with pytest.raises(RuntimeError, match="simulated crash"):
        cat.write_snapshot_bucketed(pages, "t", "v1", n_buckets=4,
                                    transform=ident, fail_after_bucket=1)
    with pytest.raises(ValueError, match="parameter mismatch"):
        cat.write_snapshot_bucketed(pages, "t", "v1", n_buckets=8,
                                    transform=ident)
    # same params resume completes and commits
    m = cat.write_snapshot_bucketed(pages, "t", "v1", n_buckets=4,
                                    transform=ident)
    assert m["n_buckets"] == 4
    assert cat.read_snapshot(spark, "t", "v1").count() == 20


def test_dangling_owner_marker_does_not_break_committed_read(spark,
                                                             tmp_path):
    """A writer that died before its parquet dir appeared leaves only
    its (underscore-prefixed) owner file in the shared data root; a
    read of the committed bucketed snapshot must ignore it."""
    import json
    import os

    from ukrainian_ocr_pipeline_spark.sources.catalog import SnapshotCatalog
    from ukrainian_ocr_pipeline_spark.sources.pages import pages_from_fixtures

    cat = SnapshotCatalog(str(tmp_path / "wh"))
    pages = pages_from_fixtures(spark, 10).select("url", "lang")
    cat.write_snapshot_bucketed(pages, "t", "v1", n_buckets=2,
                                transform=lambda df: df)
    root = cat._data_dir("t", "v1")
    with open(os.path.join(root, "_attempt-dead.writer.json"), "w") as fh:
        json.dump({"pid": 999999999}, fh)
    assert cat.read_snapshot(spark, "t", "v1").count() == 10


@pytest.fixture()
def projected(spark, pages, tmp_path):
    """A committed `enriched` snapshot with `extracted` and `metrics`
    committed as projections over it, the way jobs/extract.py does."""
    from ukrainian_ocr_pipeline_spark.operators.extract import (
        EXTRACTED_EXPRS, METRICS_EXPRS, extract_pages,
    )
    cat = SnapshotCatalog(str(tmp_path / "wh"))
    enriched = extract_pages(pages.limit(30), mode="arrow").drop("html", "text")
    cat.write_snapshot(enriched, "enriched", "p1")
    cat.write_projection("extracted", "p1", "enriched", "p1", EXTRACTED_EXPRS)
    cat.write_projection("metrics", "p1", "enriched", "p1", METRICS_EXPRS)
    return cat


def test_projections_read_back_as_the_operator_tables(spark, projected):
    """Committed `extracted`/`metrics` projections equal
    extracted_table/metrics_table of the committed `enriched` in schema
    and in values; processing_time stays a double (an ANSI `1000.0`
    literal would make it a decimal)."""
    from pyspark.sql import types as T

    from ukrainian_ocr_pipeline_spark.operators.extract import (
        extracted_table, metrics_table,
    )
    cat = projected
    enriched = cat.read_snapshot(spark, "enriched", "p1")
    for table, op in (("extracted", extracted_table), ("metrics", metrics_table)):
        got = cat.read_snapshot(spark, table, "p1")
        want = op(enriched)
        assert got.schema == want.schema, table
        assert (sorted(got.collect(), key=lambda r: r.url)
                == sorted(want.collect(), key=lambda r: r.url)), table
        assert cat.manifest(table, "p1")["mode"] == "projection"
    m = cat.read_snapshot(spark, "metrics", "p1")
    assert m.schema["processing_time"].dataType == T.DoubleType()
    t_ms = {r.url: r.t_ms for r in enriched.select("url", "t_ms").collect()}
    for r in m.select("url", "processing_time", "stage_times").collect():
        assert r.processing_time == t_ms[r.url] / 1000.0
        assert r.stage_times == {"extract": t_ms[r.url]}
    assert m.count() == 30


def test_projection_refuses_uncommitted_source_and_recommit_is_noop(
        spark, projected):
    import os

    from ukrainian_ocr_pipeline_spark.operators.extract import EXTRACTED_EXPRS
    cat = projected
    with pytest.raises(FileNotFoundError, match="not committed"):
        cat.write_projection("extracted", "p2", "enriched", "p2", EXTRACTED_EXPRS)
    assert not cat.is_committed("extracted", "p2")
    with pytest.raises(ValueError, match="itself a projection"):
        cat.write_projection("x", "p1", "extracted", "p1", ["url"])

    before = cat.manifest("extracted", "p1")
    again = cat.write_projection("extracted", "p1", "enriched", "p1", ["url"])
    assert again == before and again["select"] == EXTRACTED_EXPRS
    assert len(os.listdir(cat._snap_dir("extracted"))) == 1


def test_vacuum_keeps_a_projected_source_dir(spark, projected):
    """vacuum('enriched') removes dead orphans but keeps the dir a
    projection reads, even with the source manifest gone (as a future
    snapshot expiry would leave it)."""
    import json
    import os

    from ukrainian_ocr_pipeline_spark.sources.catalog import _owner_marker
    cat = projected
    src_dir = cat.manifest("enriched", "p1")["data_dir"]
    assert cat.manifest("metrics", "p1")["data_dir"] == src_dir
    orphan = os.path.join(cat._data_dir("enriched", "p1"), "attempt-deadbeef")
    os.makedirs(orphan)
    with open(_owner_marker(orphan), "w") as fh:
        json.dump({"pid": 999999999}, fh)
    os.unlink(os.path.join(cat._snap_dir("enriched"), "p1.json"))

    assert cat.vacuum("enriched") == [orphan]
    assert os.path.isdir(src_dir)
    assert cat.read_snapshot(spark, "metrics", "p1").count() == 30
