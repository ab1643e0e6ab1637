"""The per-layer metric catalog and its computation from a traced run.

Layers are the package modules the benchmark calls into. Every traced
run reports the whole catalog; a layer a workload never calls reads 0.
"""

from __future__ import annotations

import tracing

KG_LAYERS = ["datasets", "integration", "typed_csv", "report", "graph", "splits",
             "kge", "metrics"]
LAYER_STATS = [("self_s", "s"), ("task_cpu_s", "s"), ("jobs", "count"),
               ("shuffle_mb", "MB"), ("gc_s", "s")]
FAMILIES = ["tpch", "graph", "splits", "dedup", "similarity", "events"]
WORKLOADS = ["kgrec_e2e", "registry_battery"]


def catalog() -> list[dict]:
    """Every per-layer metric: name, unit, better."""
    rows = [(f"{layer}.{stat}", unit) for layer in KG_LAYERS for stat, unit in LAYER_STATS]
    rows += [("integration.link_rate", "fraction"), ("graph.kcore_kept_frac", "fraction"),
             ("kge.train_s", "s"), ("kge.recommend_s", "s")]
    for fam in FAMILIES:
        rows += [(f"driver_queries.{fam}.{p}", "s") for p in ("construct_s", "plan_s", "execute_s")]
        rows.append((f"driver_queries.{fam}.eager_jobs", "count"))
    rows += [("driver_queries.task_cpu_s", "s"), ("driver_queries.shuffle_mb", "MB"),
             ("driver_queries.gc_s", "s")]
    rows += [(f"{w}.leaked_rdds", "count") for w in WORKLOADS]
    rows += [("trace.wall_s", "s"), ("trace.overhead_s", "s"), ("trace.uncovered_s", "s"),
             ("experiment.map_at_5", "score"), ("experiment.ndcg_at_5", "score")]
    higher = {"integration.link_rate", "graph.kcore_kept_frac",
              "experiment.map_at_5", "experiment.ndcg_at_5"}
    return [{"name": n, "unit": u, "better": "higher" if n in higher else "lower"}
            for n, u in rows]


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def per_layer(wl, tracer, log_root: str, app_id: str,
              leaked_rdds: int, traced: dict) -> tuple[dict, dict]:
    """(metrics for the result line, per-span detail for the sidecar)."""
    values = {m["name"]: 0.0 for m in catalog()}
    spans = tracer.spans
    jobs, stages = tracing.read_eventlog(log_root, app_id)
    table = tracing.span_tables(spans, jobs, stages)
    by_layer = tracing.layer_sums(spans, table)

    def spans_named(name: str) -> list[dict]:
        return [s for s in spans if s["name"] == name]

    for layer in KG_LAYERS:
        for stat, _ in LAYER_STATS:
            values[f"{layer}.{stat}"] = by_layer.get(layer, {}).get(stat, 0.0)
    for key, name in [("kge.train_s", "kge.train"), ("kge.recommend_s", "kge.recommend")]:
        values[key] = sum(_dur(s) for s in spans_named(name))
    for key, v in (traced.get("extra") or {}).items():
        values[key] = v

    for fam in FAMILIES:
        layer = f"driver_queries.{fam}"
        fam_spans = [s for s in spans if s["layer"] == layer]
        for phase in ("construct", "plan", "execute"):
            values[f"{layer}.{phase}_s"] = sum(_dur(s) for s in fam_spans if s["name"] == phase)
        values[f"{layer}.eager_jobs"] = sum(
            table[s["id"]]["jobs"] for s in fam_spans if s["name"] == "construct")
        for stat in ("task_cpu_s", "shuffle_mb", "gc_s"):
            values[f"driver_queries.{stat}"] += by_layer.get(layer, {}).get(stat, 0.0)

    values[f"{wl.name}.leaked_rdds"] = leaked_rdds
    root = spans[0]
    top = [s for s in spans if s["parent"] == root["id"]]
    values["trace.wall_s"] = _dur(root)
    values["trace.overhead_s"] = tracer.overhead_s
    values["trace.uncovered_s"] = _dur(root) - sum(_dur(s) for s in top)
    results = traced.get("results")
    if results:
        values["experiment.map_at_5"] = sum(r["MAP@5"] for r in results.values()) / len(results)
        values["experiment.ndcg_at_5"] = sum(r["nDCG@5"] for r in results.values()) / len(results)

    units = {m["name"]: m["unit"] for m in catalog()}
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
    detail = {
        "layers": by_layer,
        "spans": {
            s["id"]: {"name": s["name"], "layer": s["layer"], "duration_s": _dur(s),
                      **{k: v for k, v in table[s["id"]].items() if k != "stage_names"}}
            for s in spans
        },
        "unattributed": {k: v for k, v in table[None].items() if k != "stage_names"},
    }
    return metrics, detail
