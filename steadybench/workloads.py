"""The two workloads. Each drives the engine only through its public entry
points, one op at a time from one client thread, and checks every op's
output.

A workload object has ``generate(spark)`` (the seeded inputs),
``setup(spark, frames)``, ``run_pass(spark, tracer)`` returning one record
per op, ``check(spark, ops)`` which marks each op ``ok`` or not, and
``layer_metrics(ops, tracer)`` for the traced run.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import nullcontext

import datagen
import stats


def _span(tracer, name, **attrs):
    return tracer.span(name, **attrs) if tracer else nullcontext()


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


# --------------------------------------------------------------------------
# migdar_dag: the nightly DAG of the seven reference pipelines
# --------------------------------------------------------------------------
class MigdarDag:
    """One op is one pipeline, one pass is one DAG run. Untraced, the pass
    is ``build_reference_graph().run(ctx)`` and each op's latency is the
    run report's per-pipeline seconds. Traced, the runner walks the same
    topological order itself, ``Pipeline.flow`` then ``dump_to_path``, so
    flow and sink time get their own spans."""

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work

    def generate(self, spark):
        rows, self.truth = datagen.pipeline_sources(self.seed)
        return {k: spark.createDataFrame(r, schema) for k, (r, schema) in rows.items()}

    def setup(self, spark, frames):
        from migdar_data_pipelines_spark.pipelines import PipelineContext

        self.data_dir = os.path.join(self.work, "stages")
        self.ctx = PipelineContext(
            spark=spark,
            data_dir=self.data_dir,
            sources=frames,
            params={"check_url": datagen.check_url, "link_check_parallelism": 4,
                    "base_url": "https://example.org"},
            now="2026-01-01T00:00:00Z",
        )

    def run_pass(self, spark, tracer) -> list[dict]:
        from migdar_data_pipelines_spark.pipelines import build_reference_graph

        graph = build_reference_graph()
        if tracer is None:
            report = graph.run(self.ctx)
            return [{"name": name, "seconds": report[name]["seconds"],
                     "resources": report[name]["resources"]}
                    for name in graph.topo_order()]
        return self._traced_pass(graph, tracer)

    def _traced_pass(self, graph, tracer) -> list[dict]:
        from migdar_data_pipelines_spark.operators.caching import release_scoped
        from migdar_data_pipelines_spark.sinks.package import dump_to_path

        ops = []
        for i, name in enumerate(graph.topo_order()):
            p = graph.pipelines[name]
            tracer.op = i
            with tracer.span("pipelines.run", pipeline=name) as sp:
                with tracer.span("pipelines.flow"):
                    resources = p.flow(self.ctx)
                with tracer.span("sinks.dump"):
                    manifest = dump_to_path(resources, self.ctx.stage_dir(name), name=name)
                release_scoped()
            ops.append({
                "name": name, "start": sp.start, "end": sp.end, "seconds": sp.seconds,
                "resources": {r: {"count_of_rows": d.get("count_of_rows")}
                              for r, d in manifest["resources"].items()},
            })
        tracer.op = None
        self.bytes_written = _dir_bytes(self.data_dir)
        return ops

    def check(self, spark, ops) -> None:
        """Row counts against the generator's ground truth, and the
        broken-link set against the deterministic checker's verdicts."""
        for op in ops:
            want = {r: n for (p, r), n in self.truth["rows"].items() if p == op["name"]}
            got = {r: d["count_of_rows"] for r, d in op["resources"].items()}
            op["ok"] = all(got.get(r) == n for r, n in want.items())
            if not op["ok"]:
                op["why"] = f"rows {got} != truth {want}"
            elif op["name"] == "broken_links":
                broken = sorted(r.url for r in self.ctx.stage("broken_links", "broken_links")
                                .select("url").collect())
                op["ok"] = broken == self.truth["broken"]
                if not op["ok"]:
                    op["why"] = f"{len(broken)} broken links, truth {len(self.truth['broken'])}"

    def layer_metrics(self, ops, tracer) -> dict:
        flow = sum(s.seconds for s in tracer.spans if s.name == "pipelines.flow")
        dump = sum(s.seconds for s in tracer.spans if s.name == "sinks.dump")
        return {
            "pipelines.flow_s": flow,
            "sinks.dump_s": dump,
            "sinks.bytes_written": self.bytes_written,
            "pipelines.jobs": sum(op.get("jobs", 0) for op in ops),
        }


# --------------------------------------------------------------------------
# curate_sweep: registry queries of the curation heavy tail
# --------------------------------------------------------------------------
# Query -> the layer family whose code does most of its work.
CURATE_QUERIES = {
    "simhash_documents": "llm.dedup",
    "ngram_jaccard_pairs": "llm.dedup",
    "embedding_topk_ivf": "llm.similarity",
    "embedding_topk_ivf_pq_incremental": "llm.similarity",
    "pagerank_documents": "operators.graph",
    "streaming_cdc_events": "streaming",
    "streaming_dedup_events": "streaming",
}
ORACLE_CAP_S = 20.0


class CurateSweep:
    """One op is one registry query, ``query_fns()[name](spark, sf_dir)``
    followed by a collect that evaluates every row; one pass runs each
    query once, in the fixed order of ``CURATE_QUERIES``. The order is not
    seeded: in a fresh process the first query to touch a shared code path
    pays its compilation, so a shuffled order moves that cost between ops
    and makes op latencies depend on the seed."""

    n_docs = 300
    n_vectors = 500
    n_events = 1000

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.sf_dir = os.path.join(work, "tables")

    def generate(self, spark):
        datagen.write_curate_tables(self.seed, self.sf_dir, self.n_docs,
                                    self.n_vectors, self.n_events)
        return None

    def setup(self, spark, _frames):
        import migdar_data_pipelines_spark.plans.llm_queries  # noqa: F401  registers
        from migdar_data_pipelines_spark.plans.queries import query_fns

        self.fns = query_fns()

    def run_pass(self, spark, tracer) -> list[dict]:
        ops = []
        for i, name in enumerate(CURATE_QUERIES):
            if tracer:
                tracer.op = i
            t0 = time.time()
            with _span(tracer, "plans.query", query=name):
                with _span(tracer, "plans.call"):
                    t_call = time.perf_counter()
                    df = self.fns[name](spark, self.sf_dir)
                    call_s = time.perf_counter() - t_call
                with _span(tracer, "plans.action"):
                    t_act = time.perf_counter()
                    rows = df.collect()
                    action_s = time.perf_counter() - t_act
            t1 = time.time()
            ops.append({"name": name, "start": t0, "end": t1, "seconds": t1 - t0,
                        "call_s": call_s, "action_s": action_s,
                        "fingerprint": stats.fingerprint(df.columns, rows)})
        if tracer:
            tracer.op = None
        return ops

    def check(self, spark, ops) -> None:
        """Each op's fingerprint against the DuckDB oracle's over the same
        parquet. An oracle that does not finish within ``ORACLE_CAP_S`` is
        replaced by a second engine run of the query, and the reason is
        recorded with the op."""
        import duckdb

        from migdar_data_pipelines_spark.plans.queries import oracle_sqls

        sqls = oracle_sqls()
        for op in ops:
            con = duckdb.connect()
            con.execute("SET threads=2")
            for t in ("documents", "embeddings", "events"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.sf_dir}/{t}.parquet')")
            timer = threading.Timer(ORACLE_CAP_S, con.interrupt)
            timer.start()
            try:
                rel = con.sql(sqls[op["name"]])
                want = stats.fingerprint(rel.columns, rel.fetchall())
                op["pinned_from"] = "duckdb oracle"
            except duckdb.InterruptException:
                df = self.fns[op["name"]](spark, self.sf_dir)
                want = stats.fingerprint(df.columns, df.collect())
                op["pinned_from"] = f"engine re-run: oracle over {ORACLE_CAP_S:.0f}s cap"
            finally:
                timer.cancel()
                con.close()
            op["ok"] = op["fingerprint"] == want
            if not op["ok"]:
                op["why"] = f"fingerprint {op['fingerprint']} != {want}"

    def layer_metrics(self, ops, tracer) -> dict:
        fam = {"llm.dedup": 0.0, "llm.similarity": 0.0, "operators.graph": 0.0}
        for op in ops:
            f = CURATE_QUERIES[op["name"]]
            if f in fam:
                fam[f] += op["seconds"]
        return {
            "plans.call_s": sum(op["call_s"] for op in ops),
            "plans.action_s": sum(op["action_s"] for op in ops),
            "plans.jobs": sum(op.get("jobs", 0) for op in ops),
            "plans.stages": sum(op.get("stages", 0) for op in ops),
            "plans.tasks": sum(op.get("tasks", 0) for op in ops),
            "llm.dedup_s": fam["llm.dedup"],
            "llm.similarity_s": fam["llm.similarity"],
            "operators.graph_s": fam["operators.graph"],
        }

    def streaming_ops(self, ops) -> list[dict]:
        return [op for op in ops if CURATE_QUERIES[op["name"]] == "streaming"]


WORKLOADS = {"migdar_dag": MigdarDag, "curate_sweep": CurateSweep}
