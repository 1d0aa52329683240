"""One measured round of each workload.

A round calls the engine's public functions on the staged pages, times the
wall from the first read of the pages to the materialised result, and
collects the outputs (as plain Python values) for checks.py.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import checks

LAYERS = ("records", "blocking", "features", "score", "cc")

# committed catalog stage -> layer
STAGE_LAYER = {
    "records": "records",
    "candidate_pairs": "blocking",
    "features": "features",
    "labeled_pairs": "labeled",
    "scored_pairs": "score",
    "match_edges": "score",
    "clusters": "cc",
}

@dataclass
class Round:
    wall_s: float
    ops: int  # engine calls made in the round
    records: list  # (record_id, url, surface, ctx_tokens)
    pairs: list  # (id_a, id_b)
    edges: list  # (id_a, id_b)
    clusters: list  # (record_id, cluster_id)
    rows: dict  # layer -> rows out
    extra: dict = field(default_factory=dict)


def _pairs(df) -> list[tuple[int, int]]:
    pdf = df.select("id_a", "id_b").toPandas()
    return list(zip(pdf["id_a"].tolist(), pdf["id_b"].tolist()))


def _records(df) -> list[tuple]:
    pdf = df.select("record_id", "url", "surface", "ctx_tokens").toPandas()
    return list(zip(pdf["record_id"].tolist(), pdf["url"].tolist(),
                    pdf["surface"].tolist(), map(list, pdf["ctx_tokens"])))


def _clusters(df) -> list[tuple[int, int]]:
    pdf = df.select("record_id", "cluster_id").toPandas()
    return list(zip(pdf["record_id"].tolist(), pdf["cluster_id"].tolist()))


def dense_round(spark, pages, tracer) -> Round:
    """The in-memory stage API: each stage's output is persisted and
    counted once, then feeds the next stage."""
    from nlp_entity_linking_spark.functions import similarity as S
    from nlp_entity_linking_spark.plans import pipeline as P

    cfg = P.PipelineConfig()
    held: list = []  # every frame persisted in this round, ours or the engine's

    def materialise(df):
        df = df.persist()
        held.append(df)
        return df, df.count()

    t0 = time.perf_counter()
    with tracer.layer("records"):
        records, n_rec = materialise(P.build_records(pages, cfg))
    with tracer.layer("blocking"):
        pairs, n_pairs = materialise(
            P.build_candidate_pairs(records, cfg, cache_registry=held)
        )
    with tracer.layer("features"):
        feats, n_feats = materialise(
            P.build_features(records, pairs, cfg, cache_registry=held)
        )
    with tracer.layer("score"):
        edges, n_edges = materialise(P.score_edges(feats, cfg))
    with tracer.layer("cc"):
        clusters, n_clusters = materialise(P.cluster(records, edges, cfg))
    wall = time.perf_counter() - t0

    extra = {}
    if tracer.enabled:
        extra["gate_kept"] = feats.filter(
            S.may_reach_threshold(cfg.model, cfg.score_threshold)
        ).count()
    out = Round(
        wall_s=wall,
        ops=5,
        records=_records(records),
        pairs=_pairs(pairs),
        edges=_pairs(edges),
        clusters=_clusters(clusters),
        rows={"records": n_rec, "blocking": n_pairs, "features": n_feats,
              "score": n_edges, "cc": n_clusters},
        extra=extra,
    )
    for df in held:
        df.unpersist()
    return out


@contextlib.contextmanager
def catalog_spans(tracer):
    """Wrap the committed stages, the catalog bookkeeping, calibration and
    the threshold sweep of `run_with_catalog` in spans (traced runs only).
    The CC entry point is wrapped only so that the sweep's helper threads
    run their jobs under the sweep's job group; the `on_iteration` hook of
    `cluster` is left alone (installing it would disable the small-graph
    path)."""
    from nlp_entity_linking_spark.operators import cc as CC
    from nlp_entity_linking_spark.plans import pipeline as P
    from nlp_entity_linking_spark.sources.catalog import Catalog

    def spanned(fn, layer_of):
        def wrapper(*args, **kwargs):
            with tracer.layer(layer_of(*args, **kwargs)):
                return fn(*args, **kwargs)
        return wrapper

    def adopting(fn):
        def wrapper(*args, **kwargs):
            tracer.adopt_group_in_thread()
            return fn(*args, **kwargs)
        return wrapper

    patches = [
        (Catalog, "stage", spanned(
            Catalog.stage, lambda self, spark, name, *a, **k: STAGE_LAYER[name])),
        (Catalog, "commit", spanned(Catalog.commit, lambda *a, **k: "catalog")),
        (Catalog, "_log_lineage", spanned(
            Catalog._log_lineage, lambda *a, **k: "catalog")),
        (P, "calibrate", spanned(P.calibrate, lambda *a, **k: "calibrate")),
        (P, "select_threshold", spanned(
            P.select_threshold, lambda *a, **k: "sweep")),
        (CC, "connected_components", adopting(CC.connected_components)),
    ]
    saved = [(obj, name, getattr(obj, name)) for obj, name, _ in patches]
    try:
        for obj, name, fn in patches:
            setattr(obj, name, fn)
        yield
    finally:
        for obj, name, fn in saved:
            setattr(obj, name, fn)


def _table(base: str, name: str):
    return pq.read_table(os.path.join(base, name))


def _disk_usage(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


def catalog_round(spark, pages, gold_df, out_root: str, run_id: str, tracer):
    """The `main.py` path: `run_with_catalog` with gold labels, then a
    resume over the committed catalog. Returns (Round, check failures)."""
    from nlp_entity_linking_spark.plans.run import run_with_catalog

    shutil.rmtree(out_root, ignore_errors=True)
    base = os.path.join(out_root, run_id)
    spans = catalog_spans(tracer) if tracer.enabled else contextlib.nullcontext()
    with spans:
        t0 = time.perf_counter()
        summary = run_with_catalog(spark, pages, out_root, run_id, gold=gold_df)
        wall = time.perf_counter() - t0
    files, size = _disk_usage(base)
    clusters = _clusters_table(base)
    with tracer.layer("resume"):
        again = run_with_catalog(
            spark, pages, out_root, run_id, resume=True, gold=gold_df
        )

    records = [
        (r["record_id"], r["url"], r["surface"], list(r["ctx_tokens"]))
        for r in _table(base, "records")
        .select(["record_id", "url", "surface", "ctx_tokens"]).to_pylist()
    ]
    pairs = _pair_table(base, "candidate_pairs")
    edges = _pair_table(base, "match_edges")
    n_rows = {
        name: pq.ParquetDataset(os.path.join(base, name)).read(columns=[]).num_rows
        for name in ("features", "scored_pairs")
    }
    problems = checks.catalog_problems(
        summary, again, records, pairs, edges, clusters, _clusters_table(base)
    )
    out = Round(
        wall_s=wall,
        ops=2,
        records=records,
        pairs=pairs,
        edges=edges,
        clusters=clusters,
        rows={"records": len(records), "blocking": len(pairs),
              "features": n_rows["features"], "score": len(edges),
              "cc": len(clusters)},
        extra={"files_written": files,
               "mib_written": size / 2**20, "gate_kept": n_rows["scored_pairs"]},
    )
    shutil.rmtree(out_root, ignore_errors=True)
    return out, problems


def _pair_table(base: str, name: str) -> list[tuple[int, int]]:
    t = _table(base, name).select(["id_a", "id_b"])
    return list(zip(t.column("id_a").to_pylist(), t.column("id_b").to_pylist()))


def _clusters_table(base: str) -> list[tuple[int, int]]:
    t = _table(base, "clusters").select(["record_id", "cluster_id"])
    return sorted(
        zip(t.column("record_id").to_pylist(), t.column("cluster_id").to_pylist())
    )
