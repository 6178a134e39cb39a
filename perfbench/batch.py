"""Closed-loop batch workloads: one client runs the workload's registered
queries one after another, each to completion.

Each query is one timed operation: the query-function call (``build``:
driver planning plus any eager sub-jobs) and the collection of its result
(``exec``).  The collected result is then checked, outside the timed
region, against the query's DuckDB oracle with ``tests/oracle_compare``'s
comparison, so every query is executed once per pass and checked once per
run.
"""

from __future__ import annotations

import time

from measure import quantile, tail_q

# TPC-H shapes Q1-Q22 as registered, less three whose checks fail on some
# seeds through a defect of the query/oracle pair, not of the benchmark.
# Each reports ROUND(SUM(double), 2) of products with four decimal
# places, so a group whose exact sum ends in a half cent rounds one cent
# apart in Spark and in its DuckDB oracle, depending on summation order:
# q9_product_type_profit on about a third of generated seeds (seed 1 at
# scale 0.02: 3496393.53 vs 3496393.52), q7_nation_volume (seed 54 at
# scale 0.005: revenue 402369.46 vs 402369.47) and q5_local_supplier_volume
# (a half-cent tie on one of 60 seeds at scale 0.005, exact DECIMAL sums
# in DuckDB).  They belong back here once the queries and their oracles
# carry money portably (integer cents or DECIMAL).
TPCH = [
    "pricing_summary", "q2_min_cost_supplier", "q3_shipping_priority",
    "q4_order_priority", "q6_forecast_revenue", "q8_market_share",
    "q10_returned_items", "q11_important_stock", "q12_ship_priority_buckets",
    "q13_customer_distribution", "q14_promo_effect", "top_revenue_supplier",
    "q16_supplier_part_buckets", "q17_small_quantity_revenue",
    "q18_large_volume_customers", "q19_disjunctive_revenue",
    "q20_promo_part_suppliers", "q21_sole_return_supplier",
    "q22_dormant_customers",
]
LLM_CURATION = [
    "dedup_exact", "dedup_minhash", "dedup_simhash", "dedup_jaccard_capped",
    "dedup_embedding_cosine", "similar_docs_topk", "ann_lsh_topk",
    "ann_ivf_topk", "exact_substring_spans",
]


class Collected:
    """Stands in for a Spark DataFrame whose rows were already collected, so
    the oracle comparison reuses the timed execution's result."""

    def __init__(self, pdf) -> None:
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


# Registered queries outside the timed set that share its code paths (a
# star join; shingle arrays and pair joins; vector arrays): running them
# first pays the process's one-time planner, codegen and collect costs
# before the timed pass.  cosine_topk warms the vector paths in about a
# sixth of ann_pq_adc_topk's time.
WARM_UP = ["q9_product_type_profit", "dedup_ngram_jaccard", "cosine_topk"]


def warm_up(spark, queries: dict, data_dir: str) -> None:
    for name in WARM_UP:
        queries[name](spark, data_dir).toPandas()
        spark.catalog.clearCache()


def run_pass(spark, queries: dict, names: list[str], data_dir: str, tracer) -> tuple[dict, dict]:
    """Run each query once; returns ({name: (build_s, exec_s)}, {name: pdf})."""
    times: dict[str, tuple[float, float]] = {}
    results = {}
    sc = spark.sparkContext
    for name in names:
        sc.setJobGroup(name, name)
        with tracer.span("query"):
            t0 = time.perf_counter()
            with tracer.span("plans.build"):
                df = queries[name](spark, data_dir)
            t1 = time.perf_counter()
            with tracer.span("plans.exec"):
                results[name] = df.toPandas()
            t2 = time.perf_counter()
        times[name] = (t1 - t0, t2 - t1)
        sc.setJobGroup("", "")
        spark.catalog.clearCache()
    return times, results


def check(con, oracles: dict, results: dict) -> dict[str, list[str]]:
    """Oracle comparison per query; {name: problems} for the failures."""
    import oracle_compare

    bad = {}
    for name, pdf in results.items():
        sql = oracles.get(name)
        if sql is None:
            problems = [] if len(pdf) else [f"{name}: returned 0 rows"]
        else:
            rel = con.sql(sql)
            huge = [c for c, t in zip(rel.columns, rel.types) if "HUGEINT" in str(t).upper()]
            problems = ([f"{name}: oracle columns typed HUGEINT: {huge}"] if huge
                        else oracle_compare.compare(Collected(pdf), rel.df()))
        if problems:
            bad[name] = problems
    return bad


def run_batch(spark, queries: dict, oracles: dict, names: list[str], data_dir: str,
              seconds: float, tracer, log) -> dict:
    """Closed loop: whole passes over ``names`` in order until ``seconds``
    have passed (at least one pass).  Checks the first pass's results.

    The order is fixed: in a one-pass run the first queries carry the
    process's remaining cold paths, and a seeded order moved single
    queries' times by up to 30% between runs."""
    import oracle_compare

    passes = []
    checked: dict[str, list[str]] | None = None
    start = time.perf_counter()
    while not passes or time.perf_counter() - start < seconds:
        times, results = run_pass(spark, queries, names, data_dir, tracer)
        passes.append(times)
        if checked is None:
            t_check = time.perf_counter()
            checked = check(oracle_compare.duckdb_con(data_dir), oracles, results)
            start += time.perf_counter() - t_check
            log(f"oracle check in {time.perf_counter() - t_check:.2f}s")
    pass_s = [sum(b + e for b, e in p.values()) for p in passes]
    per_query = {n: sorted(p[n][0] + p[n][1] for p in passes)[len(passes) // 2] for n in names}
    op = list(per_query.values())
    return {
        "passes": passes,
        "failures": checked,
        "pass_s": sorted(pass_s)[len(pass_s) // 2],
        "latency_p50_s": quantile(op, 0.5),
        "latency_tail_s": quantile(op, tail_q(len(op))),
    }
