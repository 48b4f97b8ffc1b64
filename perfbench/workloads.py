"""The benchmark workloads, driving the package's public functions.

Each workload generates its inputs from the seed (:meth:`prepare`,
which also builds the independent reference), then runs passes
(:meth:`run_pass`) whose outputs are checked outside the timed window
(:meth:`check`). The first pass of a run warms the JVM (JIT, codegen)
and the Python workers and is not measured.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

import fixtures
import reference
from probes import Tracer

QUERY_MIX = (
    "pricing_summary flagship_dup_groups revenue_by_nation museum_pipeline "
    "running_customer_spend text_stats cosine_topk events_tumbling_1h "
    "user_sessions quality_flags stream_tumbling_1h gridfs_roundtrip "
    "snapshot_diff"
).split()
NEAR_DUP = (
    "minhash_near_dups prefix_join_near_dups near_dup_components_exact "
    "duplicated_spans eval_contamination"
).split()


@dataclass
class Ctx:
    """Per-run state shared by a workload's phases."""

    spark: object
    seed: int
    work_dir: str
    tracer: Tracer

    def path(self, name: str) -> str:
        return os.path.join(self.work_dir, name)


@dataclass
class PassOutput:
    """What one pass produced: per-operation results to check, and
    per-layer counts read while it ran."""

    results: dict = field(default_factory=dict)
    errors: dict = field(default_factory=dict)  # op -> exception text
    counts: dict = field(default_factory=dict)


class RegistryWorkload:
    """Named registry queries, each built with ``Query.build`` and
    materialised with ``toPandas``; with ``permute`` the order is a
    seed-permutation of ``names``."""

    #: measured passes per run: with a fixed count every run reports a
    #: median from the same point of the JVM's warm-up curve
    min_passes = 3

    def __init__(self, names: list[str], scale: float, permute: bool):
        self.names, self.scale, self.permute = names, scale, permute

    def prepare(self, ctx: Ctx) -> None:
        from museum_image_etl_gridfs_spark.plans import all_queries

        self.queries = all_queries()
        self.order = list(self.names)
        if self.permute:
            random.Random(ctx.seed).shuffle(self.order)
        self.sf = fixtures.write_tables(ctx.path("sf"), ctx.seed, self.scale)
        con = reference.duck(self.sf)
        self.expected = {
            n: reference.value_hash(con.execute(self.queries[n].oracle).df())
            for n in self.names
            if self.queries[n].oracle is not None
        }
        con.close()
        self.near_dup_ref = (
            reference.NearDupReference(self.sf) if "minhash_near_dups" in self.names else None
        )
        self.pinned_rows: dict[str, int] = {}

    def run_pass(self, ctx: Ctx, traced: bool) -> PassOutput:
        from museum_image_etl_gridfs_spark import catalog
        from museum_image_etl_gridfs_spark.operators import components
        from museum_image_etl_gridfs_spark.operators.lifecycle import release_checkpoints

        out = PassOutput(counts={"operators.lifecycle.released": 0})
        tr = ctx.tracer
        for n in self.order:
            try:
                with tr.span(f"plans.build_s.{n}"):
                    df = self.queries[n].build(ctx.spark, self.sf)
                with tr.span(f"plans.exec_s.{n}"):
                    out.results[n] = df.toPandas()
            except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
                out.errors[n] = f"{type(e).__name__}: {str(e)[:300]}"
            finally:
                out.counts["operators.lifecycle.released"] += release_checkpoints(ctx.spark)
            if n == "near_dup_components_exact":
                out.counts["operators.components.rounds"] = getattr(
                    components.connected_components, "last_rounds", 0
                )
        if traced:
            for t in catalog.TABLES:
                with tr.span("catalog.load_s"):
                    catalog.load(ctx.spark, t, self.sf)
        return out

    def check(self, out: PassOutput) -> dict:
        for n, pdf in out.results.items():
            if n in self.expected:
                if reference.value_hash(pdf) != self.expected[n]:
                    out.errors[n] = "result differs from the DuckDB oracle"
            elif n == "minhash_near_dups":
                # no oracle: the row count is pinned on the first pass
                # and the pairs are held to the exact-Jaccard reference
                pinned = self.pinned_rows.setdefault(n, len(pdf))
                errs = self.near_dup_ref.check(pdf)
                if len(pdf) != pinned:
                    errs.append(f"{len(pdf)} rows, pinned {pinned}")
                if errs:
                    out.errors[n] = "; ".join(errs)
        return out.errors

    def ops(self) -> int:
        return len(self.order)


class MuseumEtl:
    """The paper's pipeline over a generated artwork corpus: parquet
    read -> NA cleaning -> keep-first dedup -> GridFS chunk write (raw
    bucket) -> chunk read + reassemble -> 224x224 transform -> GridFS
    chunk write (transformed bucket) -> split assignment -> metadata
    write. A traced pass persists and counts at every layer boundary,
    so each layer's span is its own work."""

    min_passes = 4  # passes are 3-5 s; see RegistryWorkload.min_passes

    def __init__(self, n_objects: int):
        self.n_objects = n_objects

    def prepare(self, ctx: Ctx) -> None:
        from museum_image_etl_gridfs_spark.operators.split import split_label_sql

        self.corpus = fixtures.write_museum(ctx.path("artworks.parquet"), ctx.seed, self.n_objects)
        self.ref = reference.MuseumReference(self.corpus, split_label_sql("artwork_id"))
        self.corpus.blobs.clear()  # the reference keeps digests only
        self.out = {k: ctx.path(k) for k in ("raw_chunks", "tx_chunks", "metadata")}

    def run_pass(self, ctx: Ctx, traced: bool) -> PassOutput:
        out = PassOutput()
        try:
            out.counts = self._pipeline(ctx, traced)
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            out.errors["museum_etl"] = f"{type(e).__name__}: {str(e)[:300]}"
        return out

    def check(self, out: PassOutput) -> dict:
        if out.errors:
            return out.errors
        errs, counts = self.ref.check(self.out["raw_chunks"], self.out["tx_chunks"], self.out["metadata"])
        out.counts.update({
            "operators.gridfs.chunks": counts["chunks"],
            "operators.gridfs.bytes": counts["bytes"],
            "operators.images.ok": counts["ok"],
            "operators.images.quarantined": counts["rows"] - counts["ok"],
        })
        if errs:
            out.errors["museum_etl"] = "; ".join(errs)
        return out.errors

    def ops(self) -> int:
        return 1

    def _pipeline(self, ctx: Ctx, traced: bool) -> dict:
        """Run the pipeline once; return the row counts a traced pass
        reads at its boundaries."""
        from pyspark import StorageLevel
        from pyspark.sql import functions as F

        from museum_image_etl_gridfs_spark.functions.cleaning import na_standardize_col
        from museum_image_etl_gridfs_spark.operators.dedup import dedup_keep_first
        from museum_image_etl_gridfs_spark.operators.gridfs import chunk_binary, reassemble
        from museum_image_etl_gridfs_spark.operators.images import transform_images
        from museum_image_etl_gridfs_spark.operators.split import assign_split

        spark, tr, out = ctx.spark, ctx.tracer, self.out
        held, counts = [], {}

        def boundary(df, count_as=None):
            """Traced passes materialise here (on disk: blob batches in
            the parquet reader need the heap); untraced passes stay lazy."""
            if not traced:
                return df
            df = df.persist(StorageLevel.DISK_ONLY)
            n = df.count()
            held.append(df)
            if count_as:
                counts[count_as] = n
            return df

        try:
            with tr.span("spark.parquet_read_s"):
                art = boundary(spark.read.parquet(self.corpus.path), "operators.dedup.rows_in")
            with tr.span("functions.cleaning_s"):
                cleaned = boundary(art.select(*[
                    na_standardize_col(c).alias(c) if c in fixtures.NA_COLS else F.col(c)
                    for c in art.columns
                ]))
            with tr.span("operators.dedup.keep_first_s"):
                deduped = boundary(
                    dedup_keep_first(cleaned, ["object_id"], ["ingested_at", "artwork_id"]),
                    "operators.dedup.rows_out",
                )
            with tr.span("operators.gridfs.chunk_write_s"):
                chunk_binary(deduped, "artwork_id", "image").write.mode("overwrite").parquet(
                    out["raw_chunks"]
                )
            with tr.span("operators.gridfs.reassemble_s"):
                blobs = boundary(reassemble(spark.read.parquet(out["raw_chunks"])).select(
                    F.col("files_id").alias("artwork_id"), F.col("data").alias("image")
                ))
            with tr.span("operators.images.transform_s"):
                tx = transform_images(blobs).select(
                    "artwork_id",
                    F.md5("image").alias("raw_md5"),
                    "image_transformed",
                    F.col("image_transformed_status").alias("status"),
                ).persist(StorageLevel.MEMORY_AND_DISK)
                held.append(tx)
                if traced:
                    tx.count()
            with tr.span("operators.gridfs.chunk_write_s"):
                chunk_binary(
                    tx.filter(F.col("status") == "ok"), "artwork_id", "image_transformed"
                ).write.mode("overwrite").parquet(out["tx_chunks"])
            with tr.span("operators.split.assign_s"):
                meta = boundary(assign_split(
                    deduped.drop("image").join(tx.select("artwork_id", "raw_md5", "status"), "artwork_id"),
                    "artwork_id",
                ))
            with tr.span("spark.parquet_write_s"):
                meta.write.mode("overwrite").parquet(out["metadata"])
        finally:
            for df in held:
                df.unpersist()
        return counts


WORKLOADS = {
    "museum_etl": lambda: MuseumEtl(n_objects=400),
    "query_mix": lambda: RegistryWorkload(QUERY_MIX, scale=0.01, permute=True),
    "near_dup": lambda: RegistryWorkload(NEAR_DUP, scale=0.01, permute=False),
}

