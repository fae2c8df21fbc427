"""The three workloads: how each renders its input from a seed, and one
pass over the production KG-build path through the layers' public
functions (the same ones ``jobs/run_pipeline.py`` composes).

Every layer call goes through ``Tracer.call``; untraced it is a plain
call, traced it also materialises the result at the layer boundary.
"""

from __future__ import annotations

import os
import shutil
from collections import Counter
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

from checks import MIRROR_BASE, check_chunks, check_triples

_EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)
MIRROR_LINE = "mirrored archive copy"


@dataclass
class PassResult:
    chunks: list[dict]  # run_resumable's returned rows
    input_rows: int = 0  # rows fed to run_resumable (0 when not counted)
    lineage: list[int] = field(default_factory=list)


def _persist_count(df):
    df = df.persist()
    return df, df.count()


def _rows(n):
    return n, n


def _chunk_rows(results):
    return results, sum(r["n_triples"] for r in results)


def _iso(sec: int) -> str:
    return (_EPOCH + timedelta(seconds=sec)).strftime("%Y-%m-%dT%H:%M:%SZ")


def _spread(rows: list, n_files: int) -> list[list]:
    return [rows[i::n_files] for i in range(n_files)]


# ------------------------------------------------------------------ inputs
def render_warc(path: str, docs: range, n_files: int) -> dict:
    """The crawl fixture as ``.warc.gz`` files (one gzip member per
    record): every page once, every 5th url re-captured a day later,
    every 7th page again on a mirror host with one extra footer line."""
    from rdf_to_text_spark.fixtures_web import render_rich_page_py
    from rdf_to_text_spark.sources.warc import write_warc_py

    os.makedirs(path)
    recs = []
    for d in docs:
        p = render_rich_page_py(d)
        recs.append((p["url"], _iso(d), p["html"]))
        if d % 5 == 0:
            recs.append((p["url"], _iso(d + 86400), p["html"]))
        if d % 7 == 3:
            m = d + MIRROR_BASE
            cat = p["url"].split("/")[3]
            html = p["html"].replace(
                b"</body>", f"<footer>{MIRROR_LINE}</footer></body>".encode()
            )
            recs.append((f"https://mirror.example/{cat}/{m:010d}", _iso(d), html))
    n_bytes = 0
    for i, part in enumerate(_spread(recs, n_files)):
        data = write_warc_py(part, gzip_records=True)
        with open(f"{path}/part-{i:05d}.warc.gz", "wb") as fh:
            fh.write(data)
        n_bytes += len(data)
    return {"pages": len(docs), "captures": len(recs), "input_bytes": n_bytes}


def render_pages(path: str, docs: range, n_files: int) -> dict:
    """Plain pages in the BASELINE input schema
    ``(doc_id, url, warc_ts, html, text, lang)`` as parquet files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from rdf_to_text_spark.fixtures import render_page_py

    os.makedirs(path)
    schema = pa.schema(
        [
            ("doc_id", pa.int64()),
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    )
    base = datetime(2024, 1, 1)
    n_bytes = 0
    for i, part in enumerate(_spread(list(docs), n_files)):
        rows = [render_page_py(d) for d in part]
        table = pa.table(
            {
                "doc_id": [r["doc_id"] for r in rows],
                "url": [r["url"] for r in rows],
                "warc_ts": [base + timedelta(seconds=r["doc_id"]) for r in rows],
                "html": [r["html"] for r in rows],
                "text": [r["text"] for r in rows],
                "lang": [r["lang"] for r in rows],
            },
            schema=schema,
        )
        f = f"{path}/part-{i:05d}.parquet"
        pq.write_table(table, f)
        n_bytes += os.path.getsize(f)
    return {"pages": len(docs), "captures": len(docs), "input_bytes": n_bytes}


def gold(docs: range) -> Counter:
    from rdf_to_text_spark.fixtures import gold_triples_py

    return Counter(gold_triples_py(list(docs)))


def committed_triples(spark, sink: str) -> list[tuple]:
    rows = (
        spark.read.parquet(f"{sink}/edges")
        .select("doc_id", "sent_idx", "subj", "pred", "obj")
        .toPandas()
    )
    return [
        (int(a), int(b), c, d, e)
        for a, b, c, d, e in rows.itertuples(index=False, name=None)
    ]


# ------------------------------------------------------------- layer tails
def canonicalize(spark, edges, out: str) -> int:
    """Alias-ladder clustering + connected components over the written
    edges' surfaces, written beside the sink (run_pipeline --canonicalize)."""
    from pyspark.sql import functions as F

    from rdf_to_text_spark.operators.canonicalize import (
        alias_clusters,
        canonical_entity_table,
    )

    surfaces = edges.select(F.col("subj").alias("surface")).unionByName(
        edges.select(F.col("obj").alias("surface"))
    )
    canonical = canonical_entity_table(
        surfaces.select(F.regexp_replace("surface", "_", " ").alias("surface")),
        clusterer=alias_clusters,
    )
    canonical.write.mode("overwrite").parquet(f"{out}/entities_canonical")
    return spark.read.parquet(f"{out}/entities_canonical").count()


def link_prior(tr, spark, edges, out: str) -> int:
    """Co-occurrence prior from the written edges, then prior-ranked
    linking of object mentions (run_pipeline --link-prior)."""
    from pyspark.sql import functions as F

    from rdf_to_text_spark.operators.linking import capped_entity_pairs, link_with_prior
    from rdf_to_text_spark.templates import entity_like_names, first_token_candidates

    ents = spark.createDataFrame([(e,) for e in entity_like_names()], "entity string")
    inc = edges.select("doc_id", F.col("subj").alias("entity")).unionByName(
        edges.join(F.broadcast(ents), edges["obj"] == ents["entity"], "leftsemi").select(
            "doc_id", F.col("obj").alias("entity")
        )
    )
    prior = tr.call(
        "linking", "capped_entity_pairs", capped_entity_pairs, inc, cap=4,
        materialize=_persist_count,
    )
    cands = spark.createDataFrame(first_token_candidates(), "mention string, entity string")
    mentions = edges.filter(F.col("obj_surface").isNotNull()).select(
        "doc_id",
        "sent_idx",
        F.lower(F.element_at(F.split("obj_surface", " "), 1)).alias("mention"),
        F.col("subj").alias("anchor"),
    )

    def linked() -> int:
        link_with_prior(mentions, cands, prior).write.mode("overwrite").parquet(
            f"{out}/mentions_linked"
        )
        return spark.read.parquet(f"{out}/mentions_linked").count()

    return tr.call("linking", "link_with_prior", linked, materialize=_rows)


# ---------------------------------------------------------------- workloads
class Workload:
    name = ""
    why = ""
    n_pages = 0
    n_chunks = 8
    extract_layer = "extract"  # layer that owns run_resumable's Python time

    def render(self, path: str, docs: range, n_files: int) -> dict:
        raise NotImplementedError

    def prepare(self, spark, inp: str, work: str) -> None:
        """Set-up work after the input is written (none by default)."""

    def start_pass(self, work: str) -> None:
        """Untimed per-pass preparation of the output dir."""
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)

    def run_pass(self, spark, tr, inp: str, work: str) -> PassResult:
        raise NotImplementedError

    def check(self, spark, res: PassResult, work: str, want: Counter) -> None:
        check_triples(committed_triples(spark, f"{work}/sink"), want)


class CrawlKG(Workload):
    name = "crawl_kg"
    why = (
        "WARC crawl with re-captures and near-dup mirrors: the only workload "
        "where every layer, dedup and rich-HTML extraction included, does work"
    )
    n_pages = 600
    extract_layer = "webtext"

    def render(self, path, docs, n_files):
        return render_warc(path, docs, n_files)

    def run_pass(self, spark, tr, inp, work):
        from pyspark.sql import functions as F

        from rdf_to_text_spark.functions.htmltext import extract_rich_udf
        from rdf_to_text_spark.operators import dedup
        from rdf_to_text_spark.operators.webtext import (
            extract_triples_from_rich_html,
            latest_snapshot,
        )
        from rdf_to_text_spark.sinks.merge import BucketedParquetMerge, run_resumable
        from rdf_to_text_spark.sources.warc import read_warc

        cleanup: list = []
        try:
            caps = tr.call(
                "sources.warc", "read_warc", read_warc, spark, f"{inp}/*.warc.gz",
                materialize=_persist_count,
            )
            snap = tr.call(
                "webtext", "latest_snapshot", latest_snapshot, caps,
                materialize=_persist_count,
            )

            def lang_gate(df):
                # doc_id from the url, lang from the page's own <html lang>
                return (
                    df.drop("n_versions")
                    .withColumn("doc_id", F.regexp_extract("url", r"/(\d{8,})$", 1).cast("long"))
                    .withColumn(
                        "lang",
                        F.regexp_extract(F.decode("html", "utf-8"), '<html lang="([a-z]+)">', 1),
                    )
                    .filter(F.col("lang") == "en")
                    .select("doc_id", "url", "lang", "html")
                    .persist()
                )

            gated = tr.call("webtext", "lang_gate", lang_gate, snap, materialize=_persist_count)
            cleanup.append(gated)
            texts = tr.call(
                "htmltext", "extract_rich_udf",
                lambda: gated.select("doc_id", extract_rich_udf("html").alias("text")).persist(),
                materialize=_persist_count,
            )
            cleanup.append(texts)
            cands = tr.call(
                "dedup", "minhash_lsh_candidates_md5", dedup.minhash_lsh_candidates_md5,
                texts, cleanup=cleanup, pairs_only=True, materialize=_persist_count,
            )
            verified = tr.call(
                "dedup", "ngram_jaccard",
                lambda: dedup.ngram_jaccard(
                    texts, cands.select("doc_a", "doc_b"), n=3, cleanup=cleanup
                ).filter(F.col("jaccard") >= 0.75),
                materialize=_persist_count,
            )
            survivors = tr.call(
                "dedup", "drop_near_duplicates",
                lambda: gated.join(
                    verified.select(F.col("doc_b").alias("doc_id")).distinct(),
                    "doc_id",
                    "left_anti",
                ).persist(),
                materialize=_persist_count,
            )
            cleanup.append(survivors)
            for df in (caps, snap, cands, verified):
                cleanup.append(df)
            chunks = tr.call(
                "sinks.merge", "run_resumable", run_resumable, spark, survivors,
                f"{work}/sink", n_chunks=self.n_chunks,
                extract=extract_triples_from_rich_html, materialize=_chunk_rows,
            )
            edges = BucketedParquetMerge(spark, f"{work}/sink").edges()
            tr.call(
                "canonicalize", "canonical_entity_table", canonicalize, spark, edges, work,
                materialize=_rows,
            )
            link_prior(tr, spark, edges, work)
        finally:
            for h in cleanup:
                h.unpersist()
        return PassResult(chunks=chunks, input_rows=sum(r["n_pages"] for r in chunks))


class PagesExtract(Workload):
    name = "pages_extract"
    why = (
        "plain pages straight into the chunked sink: extraction and its "
        "Python/Arrow boundary do the work; WARC, snapshot, dedup, canonicalize idle"
    )
    n_pages = 8000

    def render(self, path, docs, n_files):
        return render_pages(path, docs, n_files)

    def run_pass(self, spark, tr, inp, work):
        from rdf_to_text_spark.sinks.merge import BucketedParquetMerge, run_resumable

        pages = spark.read.parquet(inp)
        chunks = tr.call(
            "sinks.merge", "run_resumable", run_resumable, spark, pages, f"{work}/sink",
            n_chunks=self.n_chunks, materialize=_chunk_rows,
        )
        sink = BucketedParquetMerge(spark, f"{work}/sink")
        tr.call("sinks.merge", "edges", lambda: sink.edges().count(), materialize=_rows)
        tr.call("sinks.merge", "entities", lambda: sink.entities().count(), materialize=_rows)
        return PassResult(chunks=chunks, input_rows=self.n_pages)


class ResumeChunks(Workload):
    name = "resume_chunks"
    why = (
        "resume a half-committed 32-chunk job: many small commits, the lineage "
        "anti-join and graph read-back, where per-chunk fixed cost dominates"
    )
    n_pages = 4000
    n_chunks = 32

    def render(self, path, docs, n_files):
        return render_pages(path, docs, n_files)

    def _crashed(self, work: str) -> str:
        return os.path.join(os.path.dirname(work), "crashed_sink")

    def prepare(self, spark, inp, work):
        """Commit the chunks with doc_id mod 32 < 16: the job that crashed
        half way, which every timed pass resumes from a fresh copy."""
        from pyspark.sql import functions as F

        from rdf_to_text_spark.sinks.merge import run_resumable

        half = spark.read.parquet(inp).filter(
            F.pmod("doc_id", F.lit(self.n_chunks)) < self.n_chunks // 2
        )
        run_resumable(spark, half, self._crashed(work), n_chunks=self.n_chunks)

    def start_pass(self, work):
        super().start_pass(work)
        shutil.copytree(self._crashed(work), f"{work}/sink")

    def run_pass(self, spark, tr, inp, work):
        from rdf_to_text_spark.sinks.merge import BucketedParquetMerge, run_resumable

        pages = spark.read.parquet(inp)
        chunks = tr.call(
            "sinks.merge", "run_resumable", run_resumable, spark, pages, f"{work}/sink",
            n_chunks=self.n_chunks, materialize=_chunk_rows,
        )
        sink = BucketedParquetMerge(spark, f"{work}/sink")
        tr.call("sinks.merge", "edges", lambda: sink.edges().count(), materialize=_rows)
        tr.call("sinks.merge", "entities", lambda: sink.entities().count(), materialize=_rows)
        lineage = tr.call(
            "sinks.merge", "lineage",
            lambda: [r.chunk_id for r in sink.lineage().select("chunk_id").collect()],
            materialize=lambda ids: (ids, len(ids)),
        )
        link_prior(tr, spark, sink.edges(), work)
        return PassResult(chunks=chunks, input_rows=self.n_pages, lineage=lineage)

    def check(self, spark, res, work, want):
        half = self.n_chunks // 2
        check_chunks(
            [r["chunk_id"] for r in res.chunks],
            list(range(half, self.n_chunks)),
            res.lineage,
            self.n_chunks,
        )
        super().check(spark, res, work, want)


WORKLOADS = {w.name: w for w in (CrawlKG(), PagesExtract(), ResumeChunks())}

