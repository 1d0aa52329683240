"""Entity-resolution benchmark: one workload, one seed, one JSON result.

    python3 erbench/run.py --workload dense_skew --seed 1 --seconds 20 --trace 0

Run from the repository root (any checkout holding `nlp_entity_linking_spark`
next to this directory). The last stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics (setup_s, pages_per_s,
pairwise_f1, peak_rss_mib); --trace 1 runs the same rounds with spans,
job groups and the event log on, prints a layer table and reports the
per-layer metrics. See README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".erbench_work")

sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import session  # noqa: E402
from tracing import Tracer, event_log_metrics  # noqa: E402
from workloads import LAYERS, catalog_round, dense_round  # noqa: E402

LAYER_FIELDS = ("wall_s", "jobs", "stages", "tasks", "cpu_s",
                "shuffle_write_mib", "spill_mib", "peak_exec_mib", "rows_out")
UNITS = {"wall_s": "s", "cpu_s": "s", "jobs": "count", "stages": "count",
         "tasks": "count", "shuffle_write_mib": "MiB", "spill_mib": "MiB",
         "peak_exec_mib": "MiB", "rows_out": "rows"}
CATALOG_WALLS = ("catalog", "labeled", "calibrate", "sweep", "resume")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(gen.MAKEUPS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[erbench {time.perf_counter() - T0:6.1f}s] {msg}", file=sys.stderr,
          flush=True)


def written_inputs(workload: str, seed: int, corpus) -> str:
    """Parquet copy of the inputs, written once per (workload, seed)."""
    path = os.path.join(WORK, "inputs", f"{workload}-{seed}")
    if not os.path.isdir(path):
        gen.write_inputs(corpus, path)
    return path


def layer_metrics(rnd, quality, tracer, counts, evlog) -> dict[str, tuple]:
    """name -> (value, unit) for one traced round."""
    walls = tracer.self_walls()
    r = tracer.round
    out = {}
    for layer in LAYERS:
        group = f"{layer}#{r}"
        vals = {"wall_s": walls.get((layer, r), 0.0), "rows_out": rnd.rows[layer]}
        vals.update(counts.get(group, {"jobs": 0, "stages": 0, "tasks": 0}))
        vals.update(evlog.get(group, {"cpu_s": 0.0, "shuffle_write_mib": 0.0,
                                      "spill_mib": 0.0, "peak_exec_mib": 0.0}))
        for f in LAYER_FIELDS:
            out[f"{layer}.{f}"] = (vals[f], UNITS[f])
    n_pairs = rnd.rows["blocking"]
    kept = rnd.extra.get("gate_kept", 0)
    out["blocking.pair_completeness"] = (quality["pair_completeness"], "ratio")
    out["blocking.pair_quality"] = (quality["pair_quality"], "ratio")
    out["score.gate_kept_ratio"] = (kept / max(n_pairs, 1), "ratio")
    score_wall = walls.get(("score", r), 0.0)
    out["score.pairs_per_s"] = (n_pairs / score_wall if score_wall else 0.0, "pairs/s")
    for name in CATALOG_WALLS:
        out[f"{name}.wall_s"] = (walls.get((name, r), 0.0), "s")
    out["catalog.mib_written"] = (rnd.extra.get("mib_written", 0.0), "MiB")
    out["catalog.files_written"] = (rnd.extra.get("files_written", 0), "count")
    return out


def layer_table(workload, metrics, pass_wall) -> str:
    head = ["layer"] + list(LAYER_FIELDS)
    lines = [f"# {workload}: traced layer table (median over rounds)",
             " | ".join(head)]
    total = 0.0
    for layer in LAYERS + CATALOG_WALLS:
        row = [layer]
        for f in LAYER_FIELDS:
            v = metrics.get(f"{layer}.{f}")
            row.append("" if v is None else f"{v:.3f}".rstrip("0").rstrip("."))
        if layer != "resume":
            total += metrics.get(f"{layer}.wall_s", 0.0)
        lines.append(" | ".join(row))
    lines.append(f"# sum of layer walls {total:.2f} s; traced pass wall "
                 f"{pass_wall:.2f} s (resume excluded from both)")
    return "\n".join(lines)


def measure(args, corpus, inputs, conf, tag):
    """Set up, then run whole rounds until `--seconds` have passed; check
    every round. Stops Spark and its JVM before returning."""
    catalog = args.workload == "catalog_calibrated"
    ops = 2 if catalog else 5
    m = {"rounds": [], "failures": [], "attempted": 0, "failed": 0,
         "counts": {}}
    spark = None
    try:
        with session.RssSampler() as rss:
            spark, pages, gold_df, m["setup_s"] = session.set_up(
                conf, inputs, catalog)
            log(f"set-up {m['setup_s']:.2f} s")
            tracer = Tracer(bool(args.trace), spark.sparkContext)
            t_start = time.perf_counter()
            while not m["failures"]:
                tracer.round = len(m["rounds"])
                m["attempted"] += ops
                try:
                    if catalog:
                        rnd, problems = catalog_round(
                            spark, pages, gold_df,
                            os.path.join(WORK, "catalog", tag),
                            f"r{tracer.round}", tracer)
                    else:
                        rnd, problems = dense_round(spark, pages, tracer), []
                except Exception:
                    traceback.print_exc()
                    m["failed"] += ops
                    break
                log(f"round {tracer.round}: {rnd.wall_s:.2f} s, rows {rnd.rows}")
                with rss.paused():
                    quality = checks.quality(corpus, rnd.records, rnd.pairs,
                                             rnd.edges, rnd.clusters)
                m["failures"] += problems + quality["problems"]
                m["rounds"].append((rnd, quality))
                if time.perf_counter() - t_start >= args.seconds:
                    break
            if args.trace:
                m["counts"] = tracer.job_counts()
            m["app_id"] = spark.sparkContext.applicationId
            m["tracer"] = tracer
            spark.stop()
        m["peak_rss"] = rss.peak
    finally:
        session.shutdown_jvm()
    return m


def run(args) -> int:
    tmp = session.prepare_env(ROOT, WORK)
    sys.path.insert(0, ROOT)
    corpus = gen.make_corpus(args.workload, args.seed)
    inputs = written_inputs(args.workload, args.seed, corpus)
    tag = f"{args.workload}-{args.seed}-{os.getpid()}"
    evdir = os.path.join(WORK, "eventlog", tag) if args.trace else None
    try:
        m = measure(args, corpus, inputs, session.spark_conf(tmp, evdir), tag)
        if args.trace and m["rounds"]:
            evlog = event_log_metrics(os.path.join(evdir, m["app_id"]))
    finally:
        for d in (tmp, evdir, os.path.join(WORK, "catalog", tag)):
            if d:
                shutil.rmtree(d, ignore_errors=True)
    for f in m["failures"]:
        print(f"CHECK FAILED: {f}", file=sys.stderr)
    rounds = m["rounds"]
    if not rounds:
        return 1
    n_pages = len(corpus.pages)
    if args.trace:
        tracer = m["tracer"]
        per_round = []
        for i, (rnd, q) in enumerate(rounds):
            tracer.round = i
            per_round.append(layer_metrics(rnd, q, tracer, m["counts"], evlog))
        metrics = {
            name: {"value": statistics.median(r[name][0] for r in per_round),
                   "unit": unit}
            for name, (_, unit) in per_round[0].items()
        }
        print(layer_table(args.workload,
                          {k: v["value"] for k, v in metrics.items()},
                          statistics.median(r.wall_s for r, _ in rounds)))
        tracer.write(
            os.path.join(WORK, "spans", f"{tag}.json"),
            {"workload": args.workload, "seed": args.seed,
             "setup_s": m["setup_s"],
             "pages_per_s": [n_pages / r.wall_s for r, _ in rounds]},
        )
    else:
        metrics = {
            "setup_s": {"value": m["setup_s"], "unit": "s"},
            "pages_per_s": {
                "value": statistics.median(n_pages / r.wall_s for r, _ in rounds),
                "unit": "pages/s",
            },
            "pairwise_f1": {
                "value": statistics.median(q["pairwise_f1"] for _, q in rounds),
                "unit": "ratio",
            },
            "peak_rss_mib": {"value": m["peak_rss"] / 2**20, "unit": "MiB"},
        }
    print(json.dumps({"correct": not m["failures"], "attempted": m["attempted"],
                      "failed": m["failed"], "metrics": metrics}))
    return 0


def main(argv=None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    if not os.path.isdir(os.path.join(ROOT, "nlp_entity_linking_spark")):
        print(f"no engine package next to {HERE}: run from a full checkout",
              file=sys.stderr)
        return 2
    return run(args)


if __name__ == "__main__":
    raise SystemExit(main())
