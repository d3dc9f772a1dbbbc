"""The ``ingest`` workload: file events through ``IngestPipeline``.

Set-up splits the sf0.01 reference ``lineitem`` and ``orders`` tables
(see refdata.py) into a seeded landing zone with three prefixes:

- ``lineitem_csv``: ``|``-delimited CSV, count trigger, a ``max_error``
  budget. A few files carry malformed rows under the budget; one file is
  over it, so its batch fails and is replayed without that file.
- ``lineitem_parquet``: PARQUET, age trigger, fanned out to two path
  sinks.
- ``orders_json``: JSON lines, bytes trigger, a path sink plus an
  embedded-Derby JDBC sink.

A pass feeds every file event in seeded order on a virtual clock
(duplicates re-delivered, a few names the filename filter rejects), then
sweeps, replays the failed batch, sweeps again, and reads every sink
table back once. The read-back doubles as the exactly-once check.
"""

from __future__ import annotations

import io
import json
import os
import random
import time
from dataclasses import dataclass, field
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.csv as pa_csv
import pyarrow.parquet as pq

import refdata

SF = refdata.SF  # lineitem 60k rows, orders 15k rows
FILES = 40  # per lineitem prefix
JSON_FILES = 8
CSV_BATCH = 14
PARQUET_TIMEOUT_S = 12
JSON_BATCH_FILES = 4  # the bytes trigger fires on this many files
MAX_ERROR = 10
BAD_UNDER = 5  # files with one malformed row each
BAD_OVER_ROWS = MAX_ERROR + 2
FILTERED = 4  # events the filename filter rejects
DUP_SHARE = 0.10
FINAL_SWEEP_S = 1e7  # virtual seconds past the last event

LI_DDL = (
    "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, "
    "l_quantity DECIMAL(12,2), l_extendedprice DECIMAL(15,2), l_discount DECIMAL(4,2), "
    "l_tax DECIMAL(4,2), l_returnflag STRING, l_linestatus STRING, l_shipdate DATE"
)
ORDERS_DDL = (
    "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DECIMAL(15,2), "
    "o_orderdate DATE, o_orderpriority STRING"
)
T0 = 1_700_000_000.0


@dataclass
class Landing:
    """What set-up wrote, and what a correct pass must land."""

    csv_prefix: str
    parquet_prefix: str
    json_prefix: str
    events: list[tuple[str, int, float]]  # (key, size, virtual ts) in delivery order
    over_budget_file: str
    bad_rows: int  # malformed rows in files that must load
    expect: dict[str, tuple[int, int]] = field(default_factory=dict)  # table -> (rows, cents)
    plan: dict[str, int] = field(default_factory=dict)  # prefix -> flushes before replay


def _cents(values) -> int:
    return int(np.round(np.asarray(values, dtype=np.float64) * 100).astype(np.int64).sum())


def prepare(seed: int, out_dir: str) -> Landing:
    rng = np.random.default_rng(seed)
    li = pq.read_table(os.path.join(refdata.SF_DIR, "lineitem.parquet"))
    orders = pq.read_table(os.path.join(refdata.SF_DIR, "orders.parquet"))
    csv_dir = os.path.join(out_dir, "lineitem_csv")
    pq_dir = os.path.join(out_dir, "lineitem_parquet")
    js_dir = os.path.join(out_dir, "orders_json")
    for d in (csv_dir, pq_dir, js_dir):
        os.makedirs(d, exist_ok=True)

    # The seed deals the rows out to equal-sized files, picks the files
    # with malformed rows and where those rows go, and the delivery order.
    chunks = np.array_split(rng.permutation(li.num_rows), 2 * FILES)
    bad = rng.choice(FILES, BAD_UNDER + 1, replace=False)
    over, under = int(bad[0]), {int(b) for b in bad[1:]}
    files: list[tuple[str, int]] = []
    csv_rows = csv_cents = pq_rows = pq_cents = 0
    over_file = ""
    dec = pa.decimal128(15, 2)
    for i, idx in enumerate(chunks):
        part = li.take(pa.array(idx))
        price = part.column("l_extendedprice").to_numpy()
        if i < FILES:
            path = os.path.join(csv_dir, f"part-{i:04d}.csv")
            lines = _csv_lines(part)
            n_bad = BAD_OVER_ROWS if i == over else (1 if i in under else 0)
            for _ in range(n_bad):
                lines.insert(int(rng.integers(0, len(lines) + 1)), "bad|row|" + "|".join(["x"] * 9))
            with open(path, "w") as fh:
                fh.write("\n".join(lines) + "\n")
            if i == over:
                over_file = path
            else:
                csv_rows += part.num_rows
                csv_cents += _cents(price)
        else:
            path = os.path.join(pq_dir, f"part-{i - FILES:04d}.parquet")
            cols = {n: part.column(n) for n in part.column_names}
            for n in ("l_quantity", "l_extendedprice"):
                cols[n] = pa.array([Decimal(f"{v:.2f}") for v in cols[n].to_pylist()], dec)
            pq.write_table(pa.table(cols), path)
            pq_rows += part.num_rows
            pq_cents += _cents(price)
        files.append((path, os.path.getsize(path)))

    o_chunks = np.array_split(rng.permutation(orders.num_rows), JSON_FILES)
    for i, idx in enumerate(o_chunks):
        part = orders.take(pa.array(idx)).to_pylist()
        path = os.path.join(js_dir, f"part-{i:04d}.json")
        with open(path, "w") as fh:
            for r in part:
                r["o_orderdate"] = r["o_orderdate"].date().isoformat()
                fh.write(json.dumps(r) + "\n")
        files.append((path, os.path.getsize(path)))
    o_rows = orders.num_rows
    o_cents = _cents(orders.column("o_totalprice").to_numpy())

    # Delivery order: every file once, ~10% re-delivered later, and a few
    # names the CSV prefix's filename filter rejects.
    order = list(files)
    random.Random(seed).shuffle(order)
    r = random.Random(seed + 1)
    for f in r.sample(files, int(DUP_SHARE * len(files))):
        order.insert(r.randint(order.index(f) + 1, len(order)), f)
    for k in range(FILTERED):
        order.insert(r.randint(0, len(order)), (os.path.join(csv_dir, f"part-{k:04d}.csv.tmp"), 10))
    # Each prefix keeps its own virtual clock, one second per new file, so
    # the age trigger fires after the same number of files whatever the
    # interleaving: the work in a pass does not depend on the seed.
    ticks: dict[str, int] = {}
    seen: set[str] = set()
    events = []
    for key, size in order:
        p = os.path.dirname(key)
        if key not in seen:
            seen.add(key)
            ticks[p] = ticks.get(p, 0) + 1
        events.append((key, size, T0 + ticks[p]))

    land = Landing(
        csv_prefix=csv_dir,
        parquet_prefix=pq_dir,
        json_prefix=js_dir,
        events=events,
        over_budget_file=over_file,
        bad_rows=len(under),
    )
    land.expect = {
        "li_csv": (csv_rows, csv_cents),
        "li_pq_a": (pq_rows, pq_cents),
        "li_pq_b": (pq_rows, pq_cents),
        "orders_path": (o_rows, o_cents),
        "ORDERS_JDBC": (o_rows, o_cents),
    }
    land.plan = plan_flushes(land)
    return land


def _csv_lines(part: pa.Table) -> list[str]:
    """``|``-delimited lines, unquoted, dates as YYYY-MM-DD."""
    cols = {n: part.column(n) for n in part.column_names}
    cols["l_shipdate"] = cols["l_shipdate"].cast(pa.date32())
    buf = io.BytesIO()
    pa_csv.write_csv(
        pa.table(cols),
        buf,
        pa_csv.WriteOptions(include_header=False, delimiter="|", quoting_style="none"),
    )
    return buf.getvalue().decode().splitlines()


def thresholds(land: Landing) -> dict[str, dict]:
    """Per-prefix trigger settings. Every prefix has an age trigger so
    the final sweep flushes whatever is still open."""
    # Bytes threshold half a file short of JSON_BATCH_FILES files, so the
    # few-percent spread of file sizes never moves the flush point.
    sizes = {k: s for k, s, _ in land.events if k.startswith(land.json_prefix)}
    json_bytes = sum(sizes.values()) / len(sizes)
    return {
        land.csv_prefix: {"batch_size": CSV_BATCH, "batch_timeout_secs": int(FINAL_SWEEP_S / 10)},
        land.parquet_prefix: {"batch_timeout_secs": PARQUET_TIMEOUT_S},
        land.json_prefix: {
            "batch_size_bytes": int((JSON_BATCH_FILES - 0.5) * json_bytes),
            "batch_timeout_secs": int(FINAL_SWEEP_S / 10),
        },
    }


def final_sweep_ts(land: Landing) -> float:
    return max(ts for _, _, ts in land.events) + FINAL_SWEEP_S


def plan_flushes(land: Landing) -> dict[str, int]:
    """Flushes per prefix before the replay, from the trigger rules
    alone: count, bytes and age thresholds checked on each accepted or
    filtered event of the prefix, duplicates dropped unswept, then one
    final sweep."""
    th = thresholds(land)
    state = {p: [0, 0, None] for p in th}  # entries, bytes, first ts
    flushes = {p: 0 for p in th}
    seen: set[str] = set()

    def sweep(p: str, now: float) -> None:
        n, size, first = state[p]
        t = th[p]
        if n and (
            (t.get("batch_size") and n >= t["batch_size"])
            or (t.get("batch_size_bytes") and size >= t["batch_size_bytes"])
            or (t.get("batch_timeout_secs") and now - first > t["batch_timeout_secs"])
        ):
            flushes[p] += 1
            state[p] = [0, 0, None]

    for key, size, now in land.events:
        p = os.path.dirname(key)
        if key.endswith(".tmp"):
            sweep(p, now)
            continue
        if key in seen:
            continue
        seen.add(key)
        st = state[p]
        st[0] += 1
        st[1] += size
        st[2] = now if st[2] is None else st[2]
        sweep(p, now)
    for p in th:
        sweep(p, final_sweep_ts(land))
    return flushes


def configs(land: Landing, pass_dir: str):
    from aws_lambda_redshift_loader_spark.sources.routing import ClusterSink, LoadConfig

    wh = os.path.join(pass_dir, "warehouse")
    derby = f"jdbc:derby:{os.path.join(pass_dir, 'derby')};create=true"
    th = thresholds(land)
    return [
        LoadConfig(
            s3_prefix=land.csv_prefix,
            data_format="CSV",
            csv_delimiter="|",
            schema=LI_DDL,
            max_error=MAX_ERROR,
            filename_filter_regex=r"\.csv$",
            sinks=[ClusterSink(target_table="li_csv", path=wh)],
            **th[land.csv_prefix],
        ),
        LoadConfig(
            s3_prefix=land.parquet_prefix,
            data_format="PARQUET",
            sinks=[
                ClusterSink(target_table="li_pq_a", path=wh),
                ClusterSink(target_table="li_pq_b", path=wh),
            ],
            **th[land.parquet_prefix],
        ),
        LoadConfig(
            s3_prefix=land.json_prefix,
            data_format="JSON",
            schema=ORDERS_DDL,
            sinks=[
                ClusterSink(target_table="orders_path", path=wh),
                ClusterSink(target_table="ORDERS_JDBC", jdbc_url=derby),
            ],
            **th[land.json_prefix],
        ),
    ], wh, derby


@dataclass
class PassResult:
    wall_s: float = 0.0
    load_s: float = 0.0  # time in calls that flushed a batch
    replay_s: float = 0.0
    readback_s: float = 0.0
    loads: list[float] = field(default_factory=list)  # per flushing call
    event_us: list[float] = field(default_factory=list)  # non-flushing events
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    census: dict[str, int] = field(default_factory=dict)
    batch_errors: int = 0
    cpu_s: float = 0.0
    landed: dict[str, tuple[int, int]] = field(default_factory=dict)
    memo: list[str] = field(default_factory=list)


def run_pass(spark, land: Landing, pass_dir: str, tracer=None) -> PassResult:
    """One closed-loop pass with a fresh pipeline, sink directories and
    Derby database."""
    from aws_lambda_redshift_loader_spark.streaming.batcher import (
        COMPLETE,
        ERROR,
        LOCKED,
        OPEN,
        REPROCESSED,
        REPROCESSING,
    )
    from aws_lambda_redshift_loader_spark.streaming.pipeline import FileEvent, IngestPipeline

    cfgs, wh, derby = configs(land, pass_dir)
    pipe = IngestPipeline(spark, cfgs, manifest_dir=os.path.join(pass_dir, "manifests"))
    res = PassResult()

    def call(name: str, fn, *args):
        t0 = time.perf_counter()
        if tracer is None:
            out = fn(*args)
        else:
            with tracer.span(name, "harness"):
                out = fn(*args)
        return out, time.perf_counter() - t0

    t_pass = time.perf_counter()
    for key, size, ts in land.events:
        out, dt = call("on_file_event", pipe.on_file_event, FileEvent(key=key, size=size, ts=ts))
        if out is None:
            res.event_us.append(dt * 1e6)
        else:
            res.loads.append(dt)
    outs, dt = call("sweep_all", pipe.sweep_all, final_sweep_ts(land))
    if outs:
        res.loads.append(dt)
    res.load_s = sum(res.loads)

    failures = pipe.notifications.failures()
    res.batch_errors = len(failures)
    t_replay = time.perf_counter()
    for n in failures:
        _, dt = call(
            "reprocess_batch", pipe.reprocess_batch, n.s3_prefix, n.batch_id, [land.over_budget_file]
        )
        res.loads.append(dt)
    outs, dt = call("sweep_all", pipe.sweep_all, time.time() + FINAL_SWEEP_S)
    if outs:
        res.loads.append(dt)
    res.replay_s = time.perf_counter() - t_replay

    t_read = time.perf_counter()
    if tracer is None:
        res.landed = readback(spark, wh, derby)
    else:
        with tracer.span("readback", "harness"):
            res.landed = readback(spark, wh, derby)
    res.readback_s = time.perf_counter() - t_read
    res.wall_s = time.perf_counter() - t_pass

    res.census = {}
    for status in (OPEN, LOCKED, COMPLETE, ERROR, REPROCESSING, REPROCESSED):
        n = sum(1 for b in pipe.query_batches(status) if b.entries)
        if n:
            res.census[status] = n
    res.attempted = len(pipe.outcomes)
    planned = {n.batch_id for n in failures[:1]}
    res.failed = sum(
        1
        for o in pipe.outcomes
        if o.batch.status not in (COMPLETE, REPROCESSED) and o.batch.batch_id not in planned
    )
    res.errors = check(land, pipe, failures, res)
    return res


def readback(spark, wh: str, derby: str) -> dict[str, tuple[int, int]]:
    """One aggregate over every sink table: rows and summed price."""
    from pyspark.sql import functions as F

    frames = []
    for table, price in (
        ("li_csv", "l_extendedprice"),
        ("li_pq_a", "l_extendedprice"),
        ("li_pq_b", "l_extendedprice"),
        ("orders_path", "o_totalprice"),
    ):
        frames.append(spark.read.parquet(os.path.join(wh, table)).select(F.lit(table).alias("t"), F.col(price).alias("p")))
    frames.append(
        spark.read.jdbc(derby, "ORDERS_JDBC").select(F.lit("ORDERS_JDBC").alias("t"), F.col("o_totalprice").alias("p"))
    )
    u = frames[0]
    for f in frames[1:]:
        u = u.unionByName(f)
    rows = u.groupBy("t").agg(F.count(F.lit(1)).alias("n"), F.sum("p").alias("s")).collect()
    return {r["t"]: (int(r["n"]), int(Decimal(r["s"]) * 100)) for r in rows}


def check(land: Landing, pipe, failures, res: PassResult) -> list[str]:
    """Exactly-once rows and sums per sink table, and the batch census
    against the trigger plan."""
    from aws_lambda_redshift_loader_spark.streaming.batcher import COMPLETE, REPROCESSED

    errs = []
    for table, want in land.expect.items():
        got = res.landed.get(table)
        if got != want:
            errs.append(f"{table}: landed {got}, expected {want}")
    if len(failures) != 1:
        errs.append(f"{len(failures)} failed batches, expected exactly 1")
    plan = sum(land.plan.values()) + 1  # the replay flushes one more batch
    want = {COMPLETE: plan - 1, REPROCESSED: 1}
    if res.census != want:
        errs.append(f"batch census {res.census}, planned {want}")
    for p, n in land.plan.items():
        got = sum(1 for b in pipe.batchers[p].history)
        if got != n + (1 if p == land.csv_prefix else 0):
            errs.append(f"{os.path.basename(p)}: {got} batches, planned {n}")
    return errs
