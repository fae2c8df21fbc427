"""Resumable MERGE sink: idempotence + exact resume (north_rule)."""

import glob
import os
import shutil
import tempfile
from collections import Counter

import pytest
from pyspark.sql import functions as F

from rdf_to_text_spark import fixtures
from rdf_to_text_spark.pipeline import extract_pipeline
from rdf_to_text_spark.sinks.merge import BucketedParquetMerge, run_resumable

SF = "/root/testdata/sf0.001"
KEY = ("doc_id", "sent_idx", "subj", "pred", "obj")


@pytest.fixture()
def base_dir():
    d = tempfile.mkdtemp(prefix="kgsink_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_full_run_then_resume_is_idempotent(spark, base_dir):
    pages = fixtures.pages_from_documents(spark, SF)
    res = run_resumable(spark, pages, base_dir, n_chunks=4)
    assert sorted(r["chunk_id"] for r in res) == [0, 1, 2, 3]
    sink = BucketedParquetMerge(spark, base_dir)
    edges_before = {
        (r.subj, r.pred, r.obj) for r in sink.edges().select("subj", "pred", "obj").collect()
    }

    # simulate a crash that lost the last two chunk commits
    for p in glob.glob(f"{base_dir}/lineage/chunk=2") + glob.glob(f"{base_dir}/lineage/chunk=3"):
        shutil.rmtree(p)
    res2 = run_resumable(spark, pages, base_dir, n_chunks=4)
    assert sorted(r["chunk_id"] for r in res2) == [2, 3]

    edges_after = {
        (r.subj, r.pred, r.obj) for r in sink.edges().select("subj", "pred", "obj").collect()
    }
    assert edges_before == edges_after  # exact resume, no dupes

    # a fully-committed job is a no-op on re-run
    assert run_resumable(spark, pages, base_dir, n_chunks=4) == []


def test_lineage_metrics_rows(spark, base_dir):
    pages = fixtures.pages_from_documents(spark, SF)
    run_resumable(spark, pages, base_dir, n_chunks=2)
    sink = BucketedParquetMerge(spark, base_dir)
    rows = sink.lineage().collect()
    assert len(rows) == 2
    assert all(r.n_pages > 0 and r.n_triples > 0 and r.wall_sec > 0 for r in rows)
    # one job commits both chunks, so they share its wall
    assert len({r.wall_sec for r in rows}) == 1
    # n_dropped: planned pages that yielded no triple (non-en pages all
    # have doc_id % 20 == 0, so they sit in chunk 0)
    assert any(r.n_dropped > 0 for r in rows)
    edges = spark.read.parquet(f"{base_dir}/edges")
    for r in rows:
        part = edges.filter(F.col("chunk") == r.chunk_id)
        assert r.n_triples == part.count()
        assert r.n_pages - r.n_dropped == part.select("doc_id").distinct().count()
    # entity table derives from edges with stable ids
    ents = sink.entities()
    assert ents.count() == ents.select("entity_id").distinct().count()


def _edge_multiset(spark, base):
    return Counter(tuple(r) for r in spark.read.parquet(f"{base}/edges").select(*KEY).collect())


def test_run_leaves_session_conf_unchanged(spark, base_dir):
    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.unset(key)  # earlier runs in this session must not mask a set
    before = spark.conf.get(key)
    pages = fixtures.pages_from_documents(spark, SF)
    run_resumable(spark, pages, base_dir, n_chunks=2)
    assert spark.conf.get(key) == before


@pytest.mark.parametrize("n_chunks", [0, -2])
def test_rejects_bad_n_chunks(spark, base_dir, n_chunks):
    pages = fixtures.pages_from_documents(spark, SF)
    with pytest.raises(ValueError, match="n_chunks"):
        run_resumable(spark, pages, base_dir, n_chunks=n_chunks)


def test_rejects_extract_output_without_doc_id(spark, base_dir):
    pages = fixtures.pages_from_documents(spark, SF)
    with pytest.raises(ValueError, match="doc_id.*subj"):
        run_resumable(
            spark, pages, base_dir, n_chunks=2,
            extract=lambda df: extract_pipeline(df).drop("doc_id"),
        )
    assert not os.path.exists(f"{base_dir}/edges")


def test_chunks_without_triples_commit_lineage(spark, base_dir):
    """A call whose chunks yield no triple writes no edge file; its
    lineage still commits, every page counted as dropped. An empty
    lineage dir, as an aborted lineage write leaves it, means nothing is
    committed."""
    os.makedirs(f"{base_dir}/lineage")
    pages = fixtures.pages_from_documents(spark, SF).filter(F.col("lang") != "en")
    res = run_resumable(spark, pages, base_dir, n_chunks=2)
    assert [r["chunk_id"] for r in res] == [0]
    assert res[0]["n_triples"] == 0 and res[0]["n_dropped"] == res[0]["n_pages"] > 0
    assert run_resumable(spark, pages, base_dir, n_chunks=2) == []


def test_unreadable_lineage_raises(spark, base_dir):
    """Only a missing lineage dir means nothing is committed: a lineage
    file that cannot be read must fail the call, not re-run every chunk."""
    os.makedirs(f"{base_dir}/lineage/chunk=0")
    with open(f"{base_dir}/lineage/chunk=0/part-0.parquet", "wb") as f:
        f.write(b"not parquet")
    pages = fixtures.pages_from_documents(spark, SF)
    with pytest.raises(Exception, match="not a Parquet file"):
        run_resumable(spark, pages, base_dir, n_chunks=2)
    assert not os.path.exists(f"{base_dir}/edges")


def test_failed_job_leaves_nothing_and_rerun_matches_clean_run(spark, base_dir):
    """The commit unit is one call's pending chunks: an extract that
    raises on one chunk's rows leaves no edges, no lineage and no staging
    dir behind, and the rerun commits the same multiset as a clean run
    with exactly one lineage row per chunk."""
    pages = fixtures.pages_from_documents(spark, SF)

    def failing_extract(df):
        triples = extract_pipeline(df, use_html=True)

        def boom(batches):
            for pdf in batches:
                if (pdf["doc_id"] % 4 == 2).any():
                    raise RuntimeError("injected chunk 2 failure")
                yield pdf

        return triples.mapInPandas(boom, triples.schema)

    failed = f"{base_dir}/failed"
    with pytest.raises(Exception, match="injected chunk 2 failure"):
        run_resumable(spark, pages, failed, n_chunks=4, extract=failing_extract)
    assert not glob.glob(f"{failed}/lineage/**/*.parquet", recursive=True)
    assert not glob.glob(f"{failed}/**/.spark-staging*", recursive=True)
    assert not glob.glob(f"{failed}/edges/**/*.parquet", recursive=True)

    rerun = run_resumable(spark, pages, failed, n_chunks=4)
    assert [r["chunk_id"] for r in rerun] == [0, 1, 2, 3]
    clean = f"{base_dir}/clean"
    run_resumable(spark, pages, clean, n_chunks=4)
    assert _edge_multiset(spark, failed) == _edge_multiset(spark, clean)
    lineage = [r.chunk_id for r in BucketedParquetMerge(spark, failed).lineage().collect()]
    assert sorted(lineage) == [0, 1, 2, 3]
