"""Per-layer harness for the traced run.

Each layer is a module of ``batch_geocode_spark``. Its ``*_s`` metrics
time one call into the module's public function on inputs materialized
beforehand with ``localCheckpoint`` (untimed), with the output written to
the noop sink so every column computes. Each call runs under the job
description ``<workload>/<layer>.<function>``; counts, ratios and engine
counters come from output row counts or from the Spark event log
(``eventlog.py``).

The geo layers run on the workload's own tables; the dedup, similarity,
text and curation layers run on a document corpus and the chain-dedup
stress corpus generated from the same seed; the snapshot layer writes,
fails, resumes and reads the geocoded wide table.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

import eventlog
import gen

PER_LAYER = {
    "session.start_s": "s", "session.views_s": "s", "session.py_worker_start_s": "s",
    "scan.images_s": "s", "scan.shuffle_bytes": "bytes",
    "geocode.candidates_s": "s", "geocode.vet_s": "s", "geocode.best_s": "s",
    "geocode.wide_s": "s", "geocode.vet_keep_ratio": "ratio", "geocode.match_ratio": "ratio",
    "cells.encode_s": "s", "cells.ring_s": "s",
    "tiles.density_s": "s",
    "pip.join_s": "s", "pip.kernel_rows": "rows", "pip.match_ratio": "ratio",
    "pip.py_time_s": "s",
    "knn.within_image_s": "s", "knn.spatial_s": "s", "knn.spatial_pairs": "rows",
    "knn.spatial_keep_ratio": "ratio", "knn.spatial_max_cell_share": "ratio",
    "cluster.sites_s": "s", "cluster.pairs_s": "s", "cluster.assign_s": "s",
    "cluster.jobs": "count",
    "dedup.minhash_s": "s", "dedup.lsh_candidates": "pairs", "dedup.verify_ratio": "ratio",
    "dedup.cc_s": "s", "dedup.cc_jobs": "count", "dedup.py_time_s": "s",
    "similarity.near_dup_s": "s", "similarity.decontam_s": "s",
    "text.quality_s": "s",
    "curation.pipeline_s": "s", "curation.jobs": "count",
    "snapshots.write_s": "s", "snapshots.resume_s": "s", "snapshots.read_s": "s",
    "snapshots.bytes_written": "bytes", "snapshots.files_written": "count",
    "snapshots.write_amp": "ratio",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.run_s": "s", "spark.cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.py_rows": "rows", "spark.py_bytes": "bytes",
    "spark.py_time_s": "s",
    "trace.cold_pass_s": "s", "trace.cold_pass_cpu_s": "s",
}

# layer calls use the parameters of the entry_queries that exercise them
TILE_RES, RING_RES, PIP_RES = 9, 7, 4
KNN_K, SPATIAL_K = 3, 5
N_BUCKETS, FAIL_AFTER_GROUPS = 32, 2


class Harness:
    """Runs timed layer calls under job-description spans."""

    def __init__(self, spark, workload: str):
        self.spark = spark
        self.workload = workload
        self.times: dict[str, float] = {}
        self.counts: dict[str, float] = {}
        self.problems: dict[str, str] = {}
        self.attempted = 0

    def span(self, name: str | None) -> None:
        self.spark.sparkContext.setJobDescription(
            f"{self.workload}/{name}" if name else None)

    def prep(self, df):
        """Materialize an input outside any timed span."""
        self.span("prep")
        out = df.localCheckpoint()
        self.span(None)
        return out

    def count(self, df) -> int:
        self.span("count")
        n = df.count()
        self.span(None)
        return n

    def timed(self, key: str, action) -> object:
        """Time ``action()`` under the span ``key``; a DataFrame result is
        written to the noop sink inside the timing."""
        self.span(key)
        self.attempted += 1
        t0 = time.perf_counter()
        out = action()
        if hasattr(out, "write"):
            out.write.format("noop").mode("overwrite").save()
        self.times[key] = time.perf_counter() - t0
        self.span(None)
        return out


def run_calls(spark, workload: str, seed: int, sf_dir: str, scratch: str) -> Harness:
    """Every layer call of the traced run; metrics are derived after the
    session stops and the event log is complete (``layer_metrics``)."""
    h = Harness(spark, workload)
    _geo_layers(h, sf_dir, scratch)
    _dedup_layers(h, seed)
    return h


def _geo_layers(h: Harness, sf_dir: str, scratch: str) -> None:
    from pyspark.sql import functions as F

    from batch_geocode_spark import entry_queries as EQ
    from batch_geocode_spark.functions.cells import cell_encode, cell_ring_cells
    from batch_geocode_spark.operators import cluster as C
    from batch_geocode_spark.operators import geocode as G
    from batch_geocode_spark.operators import knn as KNN
    from batch_geocode_spark.operators import pip as PIP
    from batch_geocode_spark.operators import tiles as T

    spark = h.spark
    h.timed("scan.images", lambda: EQ._images(spark, sf_dir))
    images = h.prep(EQ._images(spark, sf_dir))
    gaz = h.prep(EQ._gaz(spark, sf_dir))
    polys = h.prep(EQ._admin_polys(spark, sf_dir))

    h.timed("geocode.build_candidates", lambda: G.build_candidates(images, gaz))
    cands = h.prep(G.build_candidates(images, gaz))
    h.timed("geocode.vet_candidates", lambda: G.vet_candidates(cands))
    vetted = h.prep(G.vet_candidates(cands))
    h.timed("geocode.composite_best", lambda: G.composite_best(vetted))
    best = h.prep(G.composite_best(vetted))
    prefixes = G.wide_prefix_grid()
    h.timed("geocode.to_wide", lambda: G.to_wide(images, vetted, best, prefixes=prefixes))
    n_images, n_cands = h.count(images), h.count(cands)
    h.counts["geocode.vet_keep_ratio"] = h.count(vetted) / n_cands
    h.counts["geocode.match_ratio"] = h.count(best) / n_images

    h.timed("cells.cell_encode", lambda: best.select(
        cell_encode(F.col("best_lat"), F.col("best_long"), TILE_RES).alias("cell")))
    cells = h.prep(best.select(
        cell_encode(F.col("best_lat"), F.col("best_long"), RING_RES).alias("cell")))
    h.timed("cells.cell_ring_cells",
            lambda: cells.select(cell_ring_cells(F.col("cell"), RING_RES).alias("ring")))

    h.timed("tiles.cell_density", lambda: T.cell_density(best, res=TILE_RES))
    h.timed("pip.pip_join", lambda: PIP.pip_join(best, polys, res=PIP_RES))
    h.counts["pip.matches"] = h.count(PIP.pip_join(best, polys, res=PIP_RES))

    h.timed("knn.knn_within_image", lambda: KNN.knn_within_image(vetted, k=KNN_K))
    h.timed("knn.knn_spatial", lambda: KNN.knn_spatial(best, gaz, k=SPATIAL_K, res=RING_RES))
    # ring candidates per query cell, from the cell histograms; checked
    # against the rows knn_spatial emits when k exceeds every ring
    ring = _ring_per_cell(h, best, gaz)
    pairs = sum(n_q * n_ring for n_q, n_ring in ring)
    h.counts["knn.spatial_pairs"] = pairs
    h.counts["knn.spatial_out"] = sum(n_q * min(SPATIAL_K, n_ring) for n_q, n_ring in ring)
    h.counts["knn.spatial_max_cell_share"] = (
        max(n_q * n_ring for n_q, n_ring in ring) / max(pairs, 1))
    emitted = h.count(KNN.knn_spatial(best, gaz, k=2**31 - 1, res=RING_RES))
    if emitted != pairs:
        h.problems["knn.spatial_pairs"] = (
            f"cell histograms count {pairs} ring pairs, knn_spatial emits {emitted}")

    pts = best.select(F.col("image_id").alias("pt_id"), F.col("best_lat").alias("lat"),
                      F.col("best_long").alias("lng"))
    h.timed("cluster.weighted_sites", lambda: C.weighted_sites(pts))
    sites = h.prep(C.weighted_sites(pts))
    h.timed("cluster.eps_site_pairs",
            lambda: C.eps_site_pairs(sites, EQ.CLUSTER_EPS_KM, EQ.CLUSTER_RES))
    h.timed("cluster.cluster_sites", lambda: C.cluster_sites(
        sites, EQ.CLUSTER_EPS_KM, EQ.CLUSTER_MIN_PTS, EQ.CLUSTER_RES))

    _snapshot_layer(h, h.prep(G.to_wide(images, vetted, best, prefixes=prefixes)), scratch)


def _ring_per_cell(h: Harness, best, gaz) -> list[tuple[int, int]]:
    """Per query cell: (queries in the cell, gazetteer points in its
    cell ring), from two cell histograms. The ring join's candidate pairs
    are the sum of their products."""
    from pyspark.sql import functions as F

    from batch_geocode_spark.functions.cells import cell_encode, cell_ring_cells

    q = best.groupBy(cell_encode(F.col("best_lat"), F.col("best_long"), RING_RES)
                     .alias("cell")).agg(F.count(F.lit(1)).alias("n_q"))
    p = gaz.groupBy(cell_encode(F.col("lat"), F.col("lng"), RING_RES)
                    .alias("nbr")).agg(F.count(F.lit(1)).alias("n_p"))
    ring = q.select("cell", "n_q", F.explode(cell_ring_cells(F.col("cell"), RING_RES))
                    .alias("nbr")).filter(F.col("nbr") >= 0)
    per_cell = ring.join(p, "nbr").groupBy("cell", "n_q").agg(F.sum("n_p").alias("n_ring"))
    h.span("count")
    rows = per_cell.collect()
    h.span(None)
    return [(int(r["n_q"]), int(r["n_ring"])) for r in rows]


def _snapshot_layer(h: Harness, wide, scratch: str) -> None:
    from batch_geocode_spark.snapshots import SnapshotTable, write_snapshotted

    for name in ("snap-full", "snap-resumed"):  # left over by an interrupted run
        shutil.rmtree(f"{scratch}/{name}", ignore_errors=True)
    full = SnapshotTable(f"{scratch}/snap-full")
    resumed = SnapshotTable(f"{scratch}/snap-resumed")
    kw = {"key_col": "image_id", "n_buckets": N_BUCKETS}
    h.timed("snapshots.write_snapshotted", lambda: write_snapshotted(wide, full, **kw))
    h.span("snapshots.write_snapshotted_failing")
    try:
        write_snapshotted(wide, resumed, fail_after_groups=FAIL_AFTER_GROUPS, **kw)
        h.problems["snapshots"] = "fail_after_groups did not interrupt the write"
    except RuntimeError as e:
        if "injected failure" not in str(e):
            raise
    h.timed("snapshots.resume", lambda: write_snapshotted(wide, resumed, **kw))
    h.timed("snapshots.read", lambda: resumed.read(h.spark))
    h.counts["snapshots.files_written"] = len(
        glob.glob(f"{full.root}/data/**/*.parquet", recursive=True))
    h.counts["snapshots.final_bytes"] = sum(
        os.path.getsize(f)
        for f in glob.glob(f"{resumed.root}/data/**/*.parquet", recursive=True))
    if full.committed_buckets() != resumed.committed_buckets():
        h.problems["snapshots"] = "resumed rows per bucket differ from the uninterrupted write"
    h.span("check")
    cols = ["image_id", "best_lat", "best_long"]
    a, b = (t.read(h.spark).select(*cols).toPandas().sort_values("image_id")
            .reset_index(drop=True) for t in (full, resumed))
    h.span(None)
    if not a.equals(b):
        h.problems["snapshots"] = "resumed best coordinates differ from the uninterrupted write"
    shutil.rmtree(full.root, ignore_errors=True)
    shutil.rmtree(resumed.root, ignore_errors=True)


def _dedup_layers(h: Harness, seed: int) -> None:
    from pyspark.sql import functions as F

    from batch_geocode_spark.datagen import chain_docs_to_spark
    from batch_geocode_spark.operators import curation as CU
    from batch_geocode_spark.operators import dedup as D
    from batch_geocode_spark.operators import similarity as S
    from batch_geocode_spark.operators import text as TX

    spark = h.spark
    cores = spark.sparkContext.defaultParallelism
    docs_pdf, emb_pdf = gen.corpus(seed)
    docs = h.prep(spark.createDataFrame(docs_pdf).repartition(cores))
    emb = h.prep(spark.createDataFrame(emb_pdf, gen.EMB_DDL))

    h.timed("dedup.minhash_signatures", lambda: D.minhash_signatures(docs, base_hash="md5_60"))
    # threshold 0 keeps every LSH candidate through the exact verify; the
    # production threshold's survivors are those with jaccard >= 0.5
    cands = h.timed("dedup.minhash_lsh_pairs", lambda: D.minhash_lsh_pairs(
        docs, n=4, threshold=0.0, base_hash="md5_60"))
    h.counts["dedup.lsh_candidates"] = h.count(cands)
    h.counts["dedup.verify_ratio"] = (h.count(cands.filter(F.col("jaccard") >= 0.5))
                                      / max(h.counts["dedup.lsh_candidates"], 1))

    chain = h.prep(chain_docs_to_spark(
        spark, gen.CHAIN_N, n_independent=gen.CHAIN_INDEPENDENT,
        hot_header=gen.CHAIN_HEADER).repartition(cores))
    # 32 bands x 2 rows keep every link of the 3000-doc chain (bench.py)
    chain_pairs = h.prep(D.minhash_lsh_pairs(chain, n=4, threshold=0.75, bands=32))
    clusters = h.timed("dedup.dedup_clusters", lambda: D.dedup_clusters(chain_pairs))
    h.span("check")
    rows = clusters.select("n_docs", "keep_doc_id").collect()
    h.span(None)
    if not (len(rows) == 1 and rows[0]["n_docs"] == gen.CHAIN_N and rows[0]["keep_doc_id"] == 0):
        h.problems["chain_dedup"] = (
            f"expected one {gen.CHAIN_N}-doc cluster, got sizes "
            f"{sorted(r['n_docs'] for r in rows)[-3:]} of {len(rows)} clusters")

    h.timed("similarity.cosine_near_dup_pairs", lambda: S.cosine_near_dup_pairs(
        emb, threshold=0.45, approx_rows=len(emb_pdf)))
    eval_vecs = emb.filter(F.col("vec_id") % 7 == 0)
    corpus = emb.filter(F.col("vec_id") % 7 != 0)
    h.timed("similarity.semantic_decontamination",
            lambda: S.semantic_decontamination(corpus, eval_vecs, threshold=0.45))
    h.timed("text.quality_scores", lambda: TX.quality_scores(docs))
    h.timed("curation.curate_documents", lambda: CU.curate_documents(
        docs, embeddings=emb, base_hash="md5_60"))


def find_log(trace_root: str) -> str:
    """The newest application's event log under ``trace_root``."""
    logs = [p for p in glob.glob(f"{trace_root}/*") if not p.endswith(".inprogress")]
    return max(logs, key=os.path.getmtime)


def layer_metrics(h: Harness, trace_root: str, setup: dict,
                  spans_of_mix: list[str]) -> tuple[dict, dict]:
    """(per-layer metrics, per-span engine counters for the detail line)."""
    spans, total = eventlog.parse(find_log(trace_root))
    wl = h.workload

    def sp(name: str) -> eventlog.SpanStats:
        return spans.get(f"{wl}/{name}", eventlog.SpanStats())

    t, c = h.times, h.counts
    pip = sp("pip.pip_join")
    m = {
        "session.start_s": setup["start_s"],
        "session.views_s": setup["views_s"],
        "session.py_worker_start_s": setup["py_worker_start_s"],
        "scan.images_s": t["scan.images"],
        "scan.shuffle_bytes": sp("scan.images").shuffle_write_bytes,
        "geocode.candidates_s": t["geocode.build_candidates"],
        "geocode.vet_s": t["geocode.vet_candidates"],
        "geocode.best_s": t["geocode.composite_best"],
        "geocode.wide_s": t["geocode.to_wide"],
        "geocode.vet_keep_ratio": c["geocode.vet_keep_ratio"],
        "geocode.match_ratio": c["geocode.match_ratio"],
        "cells.encode_s": t["cells.cell_encode"],
        "cells.ring_s": t["cells.cell_ring_cells"],
        "tiles.density_s": t["tiles.cell_density"],
        "pip.join_s": t["pip.pip_join"],
        "pip.kernel_rows": pip.py_rows,
        "pip.match_ratio": c["pip.matches"] / max(pip.py_rows, 1),
        "pip.py_time_s": pip.py_time_s,
        "knn.within_image_s": t["knn.knn_within_image"],
        "knn.spatial_s": t["knn.knn_spatial"],
        "knn.spatial_pairs": c["knn.spatial_pairs"],
        "knn.spatial_keep_ratio": c["knn.spatial_out"] / max(c["knn.spatial_pairs"], 1),
        "knn.spatial_max_cell_share": c["knn.spatial_max_cell_share"],
        "cluster.sites_s": t["cluster.weighted_sites"],
        "cluster.pairs_s": t["cluster.eps_site_pairs"],
        "cluster.assign_s": t["cluster.cluster_sites"],
        "cluster.jobs": sp("cluster.cluster_sites").jobs,
        "dedup.minhash_s": t["dedup.minhash_signatures"],
        "dedup.lsh_candidates": c["dedup.lsh_candidates"],
        "dedup.verify_ratio": c["dedup.verify_ratio"],
        "dedup.cc_s": t["dedup.dedup_clusters"],
        "dedup.cc_jobs": sp("dedup.dedup_clusters").jobs,
        "dedup.py_time_s": (sp("dedup.minhash_signatures").py_time_s
                            + sp("dedup.minhash_lsh_pairs").py_time_s),
        "similarity.near_dup_s": t["similarity.cosine_near_dup_pairs"],
        "similarity.decontam_s": t["similarity.semantic_decontamination"],
        "text.quality_s": t["text.quality_scores"],
        "curation.pipeline_s": t["curation.curate_documents"],
        "curation.jobs": sp("curation.curate_documents").jobs,
        "snapshots.write_s": t["snapshots.write_snapshotted"],
        "snapshots.resume_s": t["snapshots.resume"],
        "snapshots.read_s": t["snapshots.read"],
        "snapshots.bytes_written": sp("snapshots.write_snapshotted").output_bytes,
        "snapshots.files_written": c["snapshots.files_written"],
        # bytes the failed write and its resume put on disk ÷ the final table
        "snapshots.write_amp": (sp("snapshots.write_snapshotted_failing").output_bytes
                                + sp("snapshots.resume").output_bytes)
        / max(c["snapshots.final_bytes"], 1),
    }
    # engine counters of the query mix's (cold) pass; the task share is
    # undefined where no stage ran two tasks, so it stays in the detail line
    mix = eventlog.merge([spans.get(q, eventlog.SpanStats()) for q in spans_of_mix])
    m.update({f"spark.{k}": v for k, v in eventlog.spark_counters(mix).items()
              if k != "max_task_share"})
    per_span = {name: eventlog.spark_counters(s) for name, s in sorted(spans.items())}
    per_span["<all>"] = eventlog.spark_counters(total)
    return m, per_span
