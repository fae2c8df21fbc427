"""Idempotent graph materialization + per-partition lineage (resumability).

north_rule: canonical (subj, pred, obj) triples are MERGEd into entity
and edge tables partitioned by subject hash bucket; per-partition
lineage + metrics rows make the job exactly resumable.

The Iceberg runtime jar is not available in this sandbox, so the sink
is abstracted behind one module with two equivalent implementations:

  * :class:`IcebergMerge` — emits the real ``MERGE INTO`` statement
    (used verbatim when a catalog is configured);
  * :class:`BucketedParquetMerge` — the documented fallback: Hive-style
    ``bucket`` partition columns + dynamic partition-overwrite, which
    gives the same idempotence guarantee (re-running a chunk rewrites
    exactly its own buckets, never duplicating rows) because the
    chunk → bucket mapping is deterministic.

Resumability protocol (reference analog: best-checkpoint save/restore,
`main_PG.py:210-218`; skip-counter lineage, `build_dataset.py:269-272`):
  1. the job splits work into chunks (``pmod(doc_id, n_chunks)``)
     and plans them in one grouped scan that also yields each chunk's
     ``n_pages``;
  2. one call commits ALL of its pending chunks in a single
     extract/write job: the triples of every pending chunk land in
     their own ``chunk=<id>/`` partitions through one dynamic partition
     overwrite, and only after that job commits are the lineage rows
     ``(chunk_id, n_pages, n_triples, n_dropped, wall_sec)`` written,
     again in one write. The commit unit is therefore one call's
     pending chunks: a failure before the edge job commits leaves none
     of them (and none of their lineage rows) behind, and a rerun
     re-executes exactly those chunks. ``wall_sec`` is the shared wall
     of that job, the same on every chunk it committed;
  3. on restart, the job anti-joins planned chunks against committed
     lineage → only unfinished chunks re-run; re-running a finished
     chunk is a no-op overwrite of identical data.
"""

from __future__ import annotations

import time

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

LINEAGE_SCHEMA = "chunk_id long, n_pages long, n_triples long, n_dropped long, wall_sec double"


def iceberg_merge_sql(target: str = "kg.edges", n_buckets: int = 256) -> str:
    """The MERGE used on a real Iceberg catalog (kept as the contract)."""
    return f"""
MERGE INTO {target} t
USING batch_triples s
ON t.subj = s.subj AND t.pred = s.pred AND t.obj = s.obj
WHEN MATCHED THEN UPDATE SET t.last_seen_ts = s.warc_ts
WHEN NOT MATCHED THEN INSERT *
-- target table: PARTITIONED BY (bucket({n_buckets}, subj))
"""


class BucketedParquetMerge:
    """Parquet fallback with MERGE-equivalent idempotence.

    Triples land under ``base/edges/chunk=<id>/bucket=<b>/`` (dynamic
    partition overwrite, set per write so the session's own overwrite
    mode is left alone); the canonical edge table is the union of chunk
    partitions deduped on (subj, pred, obj) at read time via a view.
    Because chunk contents are a deterministic function of the input
    chunk, re-writing a chunk is idempotent.
    """

    def __init__(self, spark: SparkSession, base: str, n_buckets: int = 16):
        self.spark = spark
        self.base = base
        self.n_buckets = n_buckets

    # ---------------------------------------------------------- lineage
    def committed_chunks(self) -> DataFrame:
        """Chunk ids with a lineage row. Only a missing lineage dir means
        "nothing committed"; any other read error raises, because
        swallowing it would silently re-run every chunk. The explicit
        schema makes a lineage dir left empty by an aborted write read
        as empty instead of failing schema inference."""
        try:
            return (
                self.spark.read.schema("chunk_id long")
                .parquet(f"{self.base}/lineage")
                .select("chunk_id")
                .distinct()
            )
        except AnalysisException as e:
            if e.getCondition() != "PATH_NOT_FOUND":
                raise
            return self.spark.createDataFrame([], "chunk_id long")

    def pending_chunks(self, chunks: DataFrame) -> DataFrame:
        """Anti-join planned chunks against committed lineage (resume)."""
        return chunks.join(self.committed_chunks(), "chunk_id", "left_anti")

    # ------------------------------------------------------------ write
    def write_chunks(
        self, triples: DataFrame, n_pages: dict[int, int], n_chunks: int
    ) -> list[dict]:
        """Commit the chunks in ``n_pages`` (chunk id → planned pages) in
        one job: every chunk's triples partition, then every chunk's
        lineage row.

        ``triples`` must hold exactly those chunks' rows; each row's
        chunk is recomputed as ``pmod(doc_id, n_chunks)``. After the
        edge job commits, one grouped read-back of the chunk partitions
        just written gives each chunk's ``n_triples`` and the distinct
        ``doc_id``s that yielded a triple; ``n_dropped`` is ``n_pages``
        minus the latter (non-English and zero-triple pages). Every
        chunk's ``wall_sec`` is the shared wall of the write and
        read-back. The lineage rows are written only after the edges
        commit, so a chunk with lineage always has its triples."""
        chunk_ids = sorted(n_pages)
        edges_path = f"{self.base}/edges"
        t0 = time.time()
        (
            triples.withColumn("chunk", F.pmod(F.col("doc_id"), F.lit(n_chunks)))
            .withColumn("bucket", F.pmod(F.xxhash64("subj"), F.lit(self.n_buckets)))
            .repartition("chunk", "bucket")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("chunk", "bucket")
            .parquet(edges_path)
        )
        # explicit schema: a job whose chunks yielded no triple at all
        # wrote no file to infer one from
        written = StructType([triples.schema["doc_id"], StructField("chunk", LongType())])
        counts = {
            r.chunk: (r.n_triples, r.n_docs)
            for r in self.spark.read.schema(written)
            .parquet(edges_path)
            .filter(F.col("chunk").isin(chunk_ids))
            .groupBy("chunk")
            .agg(
                F.count(F.lit(1)).alias("n_triples"),
                F.countDistinct("doc_id").alias("n_docs"),
            )
            .collect()
        }
        wall = time.time() - t0
        rows = []
        for cid in chunk_ids:
            n_triples, n_docs = counts.get(cid, (0, 0))
            rows.append(
                {
                    "chunk_id": cid,
                    "n_pages": n_pages[cid],
                    "n_triples": n_triples,
                    "n_dropped": n_pages[cid] - n_docs,
                    "wall_sec": wall,
                }
            )
        (
            self.spark.createDataFrame(rows, LINEAGE_SCHEMA)
            .withColumn("chunk", F.col("chunk_id"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("chunk")
            .parquet(f"{self.base}/lineage")
        )
        return rows

    # ------------------------------------------------------------- read
    def edges(self) -> DataFrame:
        """Canonical edge view: chunk partitions deduped on the key."""
        return (
            self.spark.read.parquet(f"{self.base}/edges")
            .dropDuplicates(["subj", "pred", "obj"])
        )

    def entities(self) -> DataFrame:
        """Entity table derived from edges (id = stable hash of name)."""
        e = self.edges()
        names = e.select(F.col("subj").alias("canonical")).unionByName(
            e.select(F.col("obj").alias("canonical"))
        ).distinct()
        return names.withColumn("entity_id", F.abs(F.xxhash64("canonical")))

    def lineage(self) -> DataFrame:
        return self.spark.read.parquet(f"{self.base}/lineage")


def run_resumable(
    spark: SparkSession,
    pages: DataFrame,
    base: str,
    n_chunks: int = 4,
    extract=None,
) -> list[dict]:
    """Chunked, resumable extraction job: doc_id-range chunks → extract →
    commit (triples + lineage). Already-committed chunks are skipped.

    One call runs one planning scan and then ONE extract/write job over
    all of its pending chunks; it returns their lineage rows, sorted by
    chunk id. The commit unit is one call's pending chunks: if the job
    fails before the edges commit, none of those chunks and none of
    their lineage rows are left behind, and a rerun re-executes exactly
    them. Lineage, the resume skip and the idempotent overwrite stay
    per chunk, and every chunk's ``wall_sec`` is the shared job wall. A
    caller that needs a smaller restart unit calls ``run_resumable``
    over a slice of its input.

    ``n_pages`` counts every page the chunk planned, before ``extract``
    filters any; pages that yield no triple count in ``n_dropped``.

    CONTRACT for a custom ``extract``: a pure plan transformation of the
    pending pages whose output carries the input's ``doc_id`` (the
    chunk is recomputed from it). An action inside ``extract`` re-runs
    its input and costs a pass, but no longer skews lineage counts.
    """
    from ..pipeline import extract_pipeline

    if n_chunks < 1:
        raise ValueError(f"n_chunks must be >= 1, got {n_chunks}")
    extract = extract or (lambda df: extract_pipeline(df, use_html=True))
    sink = BucketedParquetMerge(spark, base)
    chunked = pages.withColumn("chunk_id", F.pmod(F.col("doc_id"), F.lit(n_chunks)))
    planned = chunked.groupBy("chunk_id").agg(F.count(F.lit(1)).alias("n_pages"))
    n_pages = {r.chunk_id: r.n_pages for r in sink.pending_chunks(planned).collect()}
    if not n_pages:
        return []
    triples = extract(
        chunked.filter(F.col("chunk_id").isin(sorted(n_pages))).drop("chunk_id")
    )
    if "doc_id" not in triples.columns:
        raise ValueError(
            f"extract output has no doc_id column to chunk by; found {triples.columns}"
        )
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(f"resumable chunks {sorted(n_pages)} of {n_chunks}")
    try:
        return sink.write_chunks(triples, n_pages, n_chunks)
    finally:
        sc.setLocalProperty("spark.job.description", prev)
