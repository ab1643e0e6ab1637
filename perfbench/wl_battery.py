"""``registry_battery``: short DuckDB-oracled registry queries, one per
query family, each built through ``plans.QUERIES`` and delivered to the
driver as an Arrow-backed pandas frame, so construction, eager jobs and
planning are a large share."""

from __future__ import annotations

import importlib.util
import os

import gen

# family -> queries, in the battery's base order
# (g13, sp13 and dd10 run Spark jobs while their DataFrame is built)
FAMILIES = {
    "tpch": ["q1_pricing_summary"],
    "graph": ["g13_kcore_incremental"],
    "splits": ["sp13_rolling_origin"],
    "dedup": ["dd10_canonical_keep"],
    "similarity": ["ss1_ann_cosine_topk"],
    "events": ["ev2_sessionize"],
}
FAMILY_OF = {q: f for f, qs in FAMILIES.items() for q in qs}
SCALE = {"full": 0.01, "tiny": 0.001}
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def duck_conn(data_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def load_compare(root: str):
    """``compare`` from the repo's correctness script, so the benchmark
    judges outputs exactly as the oracle sweep does."""
    path = os.path.join(root, "scripts", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare


class Battery:
    name = "registry_battery"
    # a warm pass: the first of a run's passes is slower, as it pays the
    # JVM's first-use costs, so the median over three is a warm pass
    nominal_pass_s = 7.0

    def __init__(self, root: str):
        self.root = root

    def prepare(self, work: str, seed: int, size: str) -> dict:
        self.data = os.path.join(work, "inputs")
        rows = gen.make_tables(self.data, seed, SCALE[size])
        # a fixed order: the seed changes the inputs only, so the first
        # query, which pays most of the JVM's first-use cost, is always
        # the same one
        self.order = [q for qs in FAMILIES.values() for q in qs]
        return {"scale": SCALE[size], "rows": rows, "order": self.order}

    def warm(self, spark) -> None:
        # first parquet read and first Arrow collect, the battery's sink
        spark.read.parquet(f"{self.data}/lineitem.parquet").groupBy("l_returnflag").count().toPandas()

    def run_pass(self, spark, out: str, ops, tag: str) -> dict:
        from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.plans import QUERIES
        from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.plans.driver_queries import (
            clear_shared_memo,
        )

        clear_shared_memo()
        frames = {q: ops.run(f"{tag}{q}", lambda q=q: QUERIES[q](spark, self.data).toPandas())
                  for q in self.order}
        return {"tag": tag, "frames": frames}

    def traced_pass(self, spark, out: str, tr) -> dict:
        """Each query split into construct (Python/py4j plus any jobs run
        while the DataFrame is built), plan (analysis, optimization and
        physical planning) and execute (the Arrow collect)."""
        from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.plans import QUERIES
        from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.plans.driver_queries import (
            clear_shared_memo,
        )

        clear_shared_memo()
        frames = {}
        for q in self.order:
            layer = f"driver_queries.{FAMILY_OF[q]}"
            with tr.span(q, layer, query=q):
                with tr.span("construct", layer, query=q):
                    df = QUERIES[q](spark, self.data)
                with tr.span("plan", layer, query=q):
                    df._jdf.queryExecution().executedPlan()
                with tr.span("execute", layer, query=q):
                    frames[q] = df.toPandas()
        return {"tag": "traced.", "frames": frames}

    def check(self, spark, passes: list[dict], ops) -> dict:
        """Every delivered query result against its DuckDB oracle."""
        from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.plans import ORACLES

        compare = load_compare(self.root)
        con = duck_conn(self.data)
        oracle, rows = {}, {}
        for p in passes:
            for q, got in (p.get("frames") or {}).items():
                op = f"{p['tag']}{q}"
                if got is None or ops.failed_op(op):
                    continue
                try:
                    if q not in oracle:
                        oracle[q] = con.sql(ORACLES[q]).df()
                    problems = compare(q, got, oracle[q])
                except Exception as exc:  # a crashing check is a failed output check
                    problems = [f"check raised {exc!r}"]
                rows[op] = None if problems else len(got)
                if problems:
                    ops.fail(op, "; ".join(problems)[:500])
        con.close()
        return {"rows": rows}
