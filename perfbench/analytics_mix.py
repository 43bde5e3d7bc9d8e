"""analytics_mix: one interactive client running registry queries.

Set-up writes the seeded fixture tables (fixtures.py) and runs every query
of the mix once, collecting its rows and comparing them, as an
order-insensitive hash, with the query's DuckDB oracle over the same files
(``canon``/``table_hash`` of tools/compare.py). That pass also warms the
JIT. The timed window then runs rounds in a query order the seed permutes:
each query is built by its registry callable and executed through the noop
sink. Two classes are timed separately, so a relational gain is not
diluted by the similarity queries: ``sql`` (one pass per round) and
``search`` (three passes per round).
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys
import time

import fixtures
from stats import median

SF = 0.01
N_DOCS = 500
N_VECS = 500
CLASSES = {
    "sql": ["q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
            "join_flavors", "agg_core", "window_analytics", "topk_per_group",
            "cdc_compact_latest"],
    "search": ["sim_ann_lsh", "dedup_embedding_cosine"],
}
# passes of each class per round: the search pass is the shorter and the
# noisier of the two (its eager driver work dominates), so a round holds
# three of them and its median is taken over three samples
PASSES = {"sql": 1, "search": 3}


def duckdb_hashes(sf_dir: str, oracles: dict[str, str]) -> dict[str, list]:
    """[sorted columns, value hash, rows] of each oracle query on DuckDB.
    Runs in a child process (see ``main``), so DuckDB's memory does not
    count in the driver's peak RSS."""
    import duckdb

    from tools.compare import table_hash

    con = duckdb.connect()
    for f in os.listdir(sf_dir):
        con.execute(f"CREATE VIEW {f.removesuffix('.parquet')} AS "
                    f"SELECT * FROM '{os.path.join(sf_dir, f)}'")
    out = {}
    for name, sql in oracles.items():
        res = con.execute(sql)
        rows, cols = res.fetchall(), [d[0] for d in res.description]
        out[name] = [sorted(cols), table_hash(cols, rows), len(rows)]
    con.close()
    return out


def oracle_problems(spark, sf_dir: str, names: list[str], expected) -> list[str]:
    """Collect each query on Spark and compare columns, row count and value
    hash with its DuckDB oracle (every query of the mix has one)."""
    from basic_data_pipeline_spark import registry
    from tools.compare import table_hash

    qs = registry.queries()
    problems = []
    for name in names:
        df = qs[name](spark, sf_dir)
        rows, cols = [tuple(r) for r in df.collect()], df.columns
        got = [sorted(cols), table_hash(cols, rows), len(rows)]
        if got != expected[name]:
            problems.append(f"{name}: spark (columns, hash, rows) {got} != duckdb {expected[name]}")
    return problems


def run(run) -> dict[str, float]:
    from basic_data_pipeline_spark import registry

    import layers

    staged: dict = {"n": 0}

    def stage_inputs() -> None:
        staged["n"] += 1
        staged["dir"] = os.path.join(run.work, f"sf-{staged['n']}")
        fixtures.write(staged["dir"], run.seed, SF, N_DOCS, N_VECS)

    def warm_up() -> None:
        names = [n for v in CLASSES.values() for n in v]
        oracles = {n: q for n, q in registry.oracle_sql().items() if n in names}
        spec = os.path.join(run.work, "oracles.json")
        with open(spec, "w") as f:
            json.dump(oracles, f)
        # the child imports tools.compare from the checkout this one uses
        import tools.compare

        repo = os.path.dirname(os.path.dirname(os.path.abspath(tools.compare.__file__)))
        child = subprocess.Popen([sys.executable, os.path.abspath(__file__),
                                  staged["dir"], spec], cwd=repo,
                                 stdout=subprocess.PIPE, text=True)
        expected: dict = {}

        def duckdb_result() -> dict:
            if not expected:
                out, _ = child.communicate()
                if child.returncode:
                    raise RuntimeError(f"DuckDB oracle exited with {child.returncode}")
                expected.update(json.loads(out))
            return expected

        try:
            registry.queries()
            layers.instrument(run.tracer)
            for cls, names in CLASSES.items():
                run.op(f"{cls} oracle pass", lambda names=names: oracle_problems(
                    run.spark, staged["dir"], names, duckdb_result()))
        finally:
            if child.poll() is None:
                child.kill()
            child.wait()
            child.stdout.close()

    setup_s = run.set_up(stage_inputs, warm_up)
    qs = registry.queries()
    order = {cls: random.Random(run.seed).sample(names, len(names))
             for cls, names in CLASSES.items()}
    passes: dict[str, list[float]] = {cls: [] for cls in CLASSES}
    gc0 = run.jvm_gc_s()
    window_start = time.perf_counter()
    while not passes["sql"] or time.perf_counter() - window_start < run.seconds:
        for cls in [c for c in order for _ in range(PASSES[c])]:
            names = order[cls]
            t0 = time.perf_counter()
            for name in names:
                def body(name=name, cls=cls):
                    with run.tracer.span("queries.construct", query=name, cls=cls):
                        df = qs[name](run.spark, staged["dir"])
                    with run.tracer.span(f"exec.{cls}", query=name):
                        df.write.format("noop").mode("overwrite").save()
                    return []
                run.op(name, body)
            passes[cls].append(time.perf_counter() - t0)
            run.layer["caching.persisted_rdds"] = max(
                run.layer.get("caching.persisted_rdds", 0), run.persisted_rdds())
    if run.traced:
        _layer_metrics(run, passes, gc0)
    return {
        "setup_s": setup_s,
        "class_a_p50_s": median(passes["sql"]),
        "class_b_p50_s": median(passes["search"]),
    }


def _layer_metrics(run, passes, gc0) -> None:
    tr, L = run.tracer, run.layer
    n = len(passes["sql"])
    L["trace.class_a_p50_s"] = median(passes["sql"])
    built = tr.by_name("queries.construct")
    L["queries.construct_s"] = sum(s["end"] - s["start"] for s in built) / n
    L["queries.construct_jobs"] = sum(s["counters"]["jobs"] for s in built) / n
    for cls in CLASSES:
        ex = tr.by_name(f"exec.{cls}")
        wall = sum(s["end"] - s["start"] for s in ex)
        k = len(passes[cls])

        def c(key):
            return sum(s["counters"][key] for s in ex)

        L[f"exec.{cls}.wall_s"] = wall / k
        L[f"exec.{cls}.jobs"] = c("jobs") / k
        L[f"exec.{cls}.tasks"] = c("tasks") / k
        L[f"exec.{cls}.shuffle_bytes"] = c("shuffle_write_bytes") / k
        L[f"exec.{cls}.spill_bytes"] = c("spill_bytes") / k
        L[f"exec.{cls}.gc_s"] = c("gc_ms") / 1000 / k
        L[f"exec.{cls}.busy_ratio"] = c("run_ms") / 1000 / (wall * run.cores) if wall else 0.0
    window = [(s["start"], s["end"]) for s in built + tr.by_name("exec.")]

    def timed(name):
        return [s for s in tr.by_name(name)
                if any(a <= s["start"] and s["end"] <= b for a, b in window)]

    L["catalog.load_s"] = sum(s["end"] - s["start"] for s in timed("catalog.")) / n
    L["catalog.input_bytes"] = sum(s["counters"]["input_bytes"]
                                   for s in tr.by_name("exec.sql")) / n
    ids = {s["id"] for s in tr.spans if s["name"].startswith("similarity.")}
    top = [s for s in timed("similarity.") if s["parent"] not in ids]
    L["similarity.s"] = sum(s["end"] - s["start"] for s in top) / len(passes["search"])
    L["similarity.calls"] = len(top) / len(passes["search"])
    L["jvm.gc_s"] = run.jvm_gc_s() - gc0


if __name__ == "__main__":
    # python3 perfbench/analytics_mix.py SF_DIR ORACLES_JSON, from the
    # repository root: prints duckdb_hashes of the oracle queries as JSON
    sys.path.insert(0, os.getcwd())
    with open(sys.argv[2]) as f:
        print(json.dumps(duckdb_hashes(sys.argv[1], json.load(f))))
