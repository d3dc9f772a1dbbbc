"""The ``analytics`` workload: registry queries in four classes.

- light: planning- and scheduling-bound queries, 2-10 jobs each;
- heavy: queries bound by job count and session-memo builds;
- build: Structured Streaming builds that write stores through
  ``foreachBatch``;
- read: queries served from the stores the builds left behind.

A closed loop with one client: the harness issues a query, waits for its
write to finish, then issues the next. A query's latency is the registry
call plus a write of its result to Spark's ``noop`` sink. Light and read
queries are the workload's light operations, heavy and build queries its
heavy part.
"""

from __future__ import annotations

import gc
import random
import time

import duckdb

import refdata

# Per-query planning and scheduling bound: 2-10 jobs each.
LIGHT = (
    "pricing_summary",
    "revenue_by_nation",
    "asof_join_latest_view",
    "weekly_retention",
    "count_trigger_batches",
    "tumbling_window_events",
)
# Bound by job count and session-memo builds: pagerank_token_graph runs
# a loop of Spark jobs, cluster_size_histogram builds the dedup
# pair-graph memo that minhash_lsh_pairs then hits.
HEAVY = (
    "pagerank_token_graph",
    "cluster_size_histogram",
    "minhash_lsh_pairs",
    "embedding_filtered_topk",
)
# A Structured Streaming build: the first reader of the Kaplan-Meier
# store runs the micro-batch stream (maxFilesPerTrigger=1 over a split
# of the events) whose foreachBatch writes it ...
BUILD = ("stream_kaplan_meier",)
# ... and a read served from the store it left behind.
READ = ("stream_srm",)

# The queries read the sf0.01 reference fixtures in place: per-query
# fixed cost dominates here, as it does at sf0.1.
SF = refdata.SF


LIGHT_CLASSES = ("light", "read")
HEAVY_CLASSES = ("heavy", "build")


def mix(seed: int) -> list[tuple[str, str]]:
    """(query, class) in pass order: light and heavy queries in a seeded
    order, then the builds, then the reads that depend on them."""
    order = [(q, "light") for q in LIGHT] + [(q, "heavy") for q in HEAVY]
    random.Random(seed).shuffle(order)
    return order + [(q, "build") for q in BUILD] + [(q, "read") for q in READ]


def prepare(seed: int, out_dir: str) -> str:
    """The directory of the tables the queries read. The seed only
    orders the mix (see :func:`mix`); the tables are the fixtures."""
    return refdata.SF_DIR


def tidy(spark) -> None:
    """Drop per-query litter between queries, outside any timed region:
    frames a query persisted for itself, cached relations and
    memory-sink views."""
    from aws_lambda_redshift_loader_spark.session import release_persisted

    release_persisted()
    spark.catalog.clearCache()
    for tbl in spark.catalog.listTables():
        if tbl.name.startswith("stream_result_"):
            spark.catalog.dropTempView(tbl.name)


def collect_garbage(spark) -> None:
    """Release checkpointed RDDs held only by dead references, once per
    pass: both the Python and the JVM side must collect them."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _normalize(rows, cols) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(repr(r[i]) for i in order) for r in rows)


class Oracle:
    """DuckDB over the same parquet files."""

    def __init__(self, data_dir: str) -> None:
        self.con = duckdb.connect()
        for t in refdata.TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )

    def matches(self, sql: str, rows, cols) -> bool:
        res = self.con.execute(sql)
        want = _normalize(res.fetchall(), [d[0] for d in res.description])
        return _normalize([tuple(r) for r in rows], cols) == want

    def close(self) -> None:
        self.con.close()


def verify_pass(spark, data_dir: str, order, fns, oracle_sql, log) -> list[dict]:
    """Untimed pass: collect every query and compare it with its oracle."""
    oracle = Oracle(data_dir)
    out = []
    try:
        for name, cls in order:
            rec = {"query": name, "class": cls, "ok": False}
            t0 = time.perf_counter()
            try:
                df = fns[name](spark, data_dir)
                rows = df.collect()
                rec["ok"] = oracle.matches(oracle_sql[name], rows, df.columns)
                if not rec["ok"]:
                    rec["error"] = "result differs from oracle"
            except Exception as exc:  # a failed query is a failed operation
                rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
            rec["s"] = time.perf_counter() - t0
            if not rec["ok"]:
                log(f"verify {name}: {rec['error']}")
            out.append(rec)
            tidy(spark)
    finally:
        oracle.close()
    collect_garbage(spark)
    return out


def timed_pass(spark, data_dir: str, order, fns, tracer=None, memo_events=None) -> list[dict]:
    """One timed pass; returns a record per query. With a tracer, each
    query runs inside a span of layer ``op.<module>``."""
    out = []
    for name, cls in order:
        fn = fns[name]
        layer = "op." + fn.__module__.rsplit(".", 1)[-1]
        n_ev = len(memo_events) if memo_events is not None else 0
        rec = {"query": name, "class": cls, "layer": layer, "ok": True}
        t0 = time.perf_counter()
        try:
            if tracer is None:
                fn(spark, data_dir).write.format("noop").mode("overwrite").save()
            else:
                with tracer.span(name, layer):
                    fn(spark, data_dir).write.format("noop").mode("overwrite").save()
        except Exception as exc:
            rec["ok"] = False
            rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
        rec["s"] = time.perf_counter() - t0
        if memo_events is not None:
            rec["memo"] = list(memo_events[n_ev:])
        out.append(rec)
        tidy(spark)
    collect_garbage(spark)
    return out
