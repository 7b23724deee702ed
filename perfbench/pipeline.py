"""The ``pipeline`` workload: a fixed chain of the declared LLM-data queries.

Inputs are small (the sf0.001 sizes of the ``documents`` and ``embeddings``
fixtures, generated from the seed), so each query's fixed cost dominates:
``load_table`` schema inference, DataFrame construction on the driver and
the number of Spark jobs an action launches. Each op builds one query from
``QUERIES`` and forces it with ``toPandas()``; a pass is the chain of nine
ops, and passes repeat in a closed loop with one client.

A pass is reported as a whole (``pass_s``), never as a percentile taken
across different queries: a p90 over nine different queries is just the
slowest query.
"""

from __future__ import annotations

import os
import time

from perfbench import gen
from perfbench.measure import PassMeter, median

CHAIN = (
    "q_dedup", "q_neardup_bands", "q_quality_score", "q_lang_id", "q_tfidf",
    "q_bm25", "q_dedup_clusters", "q_filter_funnel", "q_knn_exact",
)
N_DOCS = 1_000
N_EMB = 500


class _Collected:
    """A result already brought to the driver, in the shape
    ``testing.compare`` reads (it only calls ``toPandas()``)."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


def run(ctx) -> dict:
    from webscale_vector_search_spark.queries import ORACLE_SQL, QUERIES
    from webscale_vector_search_spark.sources.fixtures import load_table
    from webscale_vector_search_spark.testing import canonicalize, compare, duckdb_connection

    spark, tr, m = ctx.spark, ctx.tracer, {}
    sf_dir = os.path.join(ctx.work, "sf")
    gen.write_fixtures(ctx.seed, sf_dir, N_DOCS, N_EMB)

    def one_pass(tag: str):
        """Run the chain once; per query (df ms, action ms, pandas result)."""
        out = {}
        for q in CHAIN:
            oid = f"{tag}.{q}"
            if ctx.status:
                ctx.status.set_group(oid)
            t0 = time.perf_counter()
            with tr.span("op", oid):
                with tr.span(f"pipeline.{q}.df", oid):
                    df = QUERIES[q](spark, sf_dir)
                t1 = time.perf_counter()
                with tr.span(f"pipeline.{q}.action", oid):
                    pdf = df.toPandas()
            out[q] = ((t1 - t0) * 1e3, (time.perf_counter() - t1) * 1e3, pdf)
        return out

    # warm-up: the first pass pays code generation and python worker start
    first = one_pass("warm0")
    ctx.mark_setup_done()

    # ---------------------------------------------------------- timed window
    passes, walls = [], []
    with PassMeter() as pm:
        deadline = pm.t0 + ctx.seconds
        while time.perf_counter() < deadline:
            t = time.perf_counter()
            passes.append(one_pass(f"p{len(passes)}"))
            walls.append(time.perf_counter() - t)
    ctx.record_window(pm, walls)
    if ctx.status:
        ctx.status.set_group("pipeline-after")

    # ---------------------------------------------------------- checks
    # every query of the warm-up pass against its DuckDB twin, then every
    # timed result against the oracle-checked one
    con = duckdb_connection(sf_dir)
    expected = {}
    for q in CHAIN:
        ctx.attempted += 1
        res = compare(q, _Collected(first[q][2]), con, ORACLE_SQL[q])
        if not res.ok:
            ctx.fail(str(res))
        expected[q] = canonicalize(first[q][2])
    con.close()
    for p in passes:
        for q in CHAIN:
            ctx.attempted += 1
            if not canonicalize(p[q][2]).equals(expected[q]):
                ctx.fail(f"{q}: result differs from the oracle-checked one")
    if not ctx.status:
        return m

    # ---------------------------------------------------------- layers
    for q in CHAIN:
        m[f"pipeline.{q}.df_ms"] = median([p[q][0] for p in passes])
        m[f"pipeline.{q}.action_ms"] = median([p[q][1] for p in passes])
    # Spark costs of the timed ops, read after the window closed
    harvests = [ctx.status.harvest(f"p{i}.{q}") for i in range(len(passes)) for q in CHAIN]
    tot = {k: sum(h[k] for h in harvests) for k in harvests[0]}
    action_s = sum(p[q][1] for p in passes for q in CHAIN) / 1e3
    m.update(ctx.spark_per_op(tot, len(harvests), action_s))

    # fixtures layer: the schema-inferring table load every query starts with
    load_ms = []
    for _ in range(5):
        for name in ("documents", "embeddings"):
            t = time.perf_counter()
            with tr.span("fixtures.load_table", "fixtures"):
                load_table(spark, name, sf_dir)
            load_ms.append((time.perf_counter() - t) * 1e3)
    m["fixtures.load_table_ms"] = median(load_ms)
    return m
