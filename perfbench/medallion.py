"""``medallion_incremental``: the paper's product, landing → bronze →
silver (SCD2) → gold, driven through ``MedallionPipeline.run``.

Inputs. From the seed, the generated ``customer``, ``orders`` and
``lineitem`` tables (``lineitem`` gets a synthesized single-column key
``l_key``) are split into an initial load and ``K`` incremental
batches. Each incremental batch holds

- inserts: the next slice of the keys held back from the initial load
  (~2 % of the table per batch),
- updates: ~2 % of the known keys with a tracked attribute changed,
- replays: ~1 % of the known keys re-sent unchanged (at-least-once
  delivery),

with no key twice in one batch. Every batch is landed as one CSV per
table under its own landing root during set-up.

Timed: each ``run`` on a fresh lake (the initial load) and each
incremental ``run`` after it. The gold stage refreshes two marts in the
``3_Silver_to_Gold`` shape (current silver rows → join → groupBy).

Checked, outside the timed windows, against DuckDB over the generated
batches: the silver SCD2 history of every table, the run log's per-run
counts, the gold marts, the watermarks, one current row per key and
contiguous, non-overlapping version intervals.

``landing_replay`` is one counted operation per round that fails on the
current program: batches landed with ``sources.ingest.land_batch``
accumulate in the table's landing dir, ``CsvIngestor.run`` re-reads all
of them on every run and re-appends earlier batches to bronze under the
new ingestion time, and ``SCD2Table.upsert`` keeps both rows of a key
that arrives twice in one batch as current versions.
"""

from __future__ import annotations

import csv
import datetime as dt
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa

import datagen
from harness import Checker, Tracer, rmtree, written_since_start

KEYS = {
    "customer": "c_custkey",
    "orders": "o_orderkey",
    "lineitem": "l_key",
}
INSERT = 0.02
UPDATE = 0.02
REPLAY = 0.01
T0 = dt.datetime(2026, 1, 1)
STATUS_NEXT = {"F": "O", "O": "P", "P": "F"}


def clock_of(run: int) -> dt.datetime:
    return T0 + dt.timedelta(hours=run)


def _mutate(table: str, rows: dict[str, list], i: int, rng: np.random.Generator) -> None:
    """Change a tracked attribute of row ``i`` in place."""
    if table == "customer":
        rows["c_acctbal"][i] = round(rows["c_acctbal"][i] + float(rng.integers(1, 500)), 2)
    elif table == "orders":
        rows["o_orderstatus"][i] = STATUS_NEXT[rows["o_orderstatus"][i]]
        rows["o_totalprice"][i] = round(rows["o_totalprice"][i] * 1.05, 2)
    else:
        rows["l_quantity"][i] = float(rows["l_quantity"][i] % 50 + 1)
        rows["l_linestatus"][i] = "O" if rows["l_linestatus"][i] == "F" else "F"


@dataclass
class Inputs:
    #: batches[run][table] -> column dict (run 0 is the initial load)
    batches: list[dict[str, dict[str, list]]]
    #: counts[run][table] -> (insert, update, no_change)
    counts: list[dict[str, tuple[int, int, int]]]
    columns: dict[str, list[str]] = field(default_factory=dict)

    def rows(self, run: int) -> int:
        return sum(len(c[KEYS[t]]) for t, c in self.batches[run].items())


def make_inputs(seed: int, sf: float, k: int) -> Inputs:
    tables = datagen.generate(seed, sf)
    rng = np.random.default_rng([seed, 1])
    batches: list[dict] = [{} for _ in range(k + 1)]
    counts: list[dict] = [{} for _ in range(k + 1)]
    columns: dict[str, list[str]] = {}
    for t, key in KEYS.items():
        tbl = tables[t]
        if t == "lineitem":
            tbl = tbl.add_column(0, key, pa.array(np.arange(tbl.num_rows), pa.int64()))
        cols = tbl.column_names
        columns[t] = cols
        cur = tbl.to_pydict()
        n = tbl.num_rows
        perm = rng.permutation(n)
        held = perm[: max(k, round(n * INSERT * k))]
        chunks = np.array_split(held, k)
        known = np.sort(perm[len(held):])

        def take(idx, cur=cur, cols=cols):
            return {c: [cur[c][i] for i in idx] for c in cols}

        batches[0][t] = take(known)
        counts[0][t] = (len(known), 0, 0)
        for run in range(1, k + 1):
            ins = np.sort(chunks[run - 1])
            pick = rng.permutation(known)
            n_upd = max(1, round(len(known) * UPDATE))
            n_rep = max(1, round(len(known) * REPLAY))
            upd, rep = np.sort(pick[:n_upd]), np.sort(pick[n_upd : n_upd + n_rep])
            for i in upd:
                _mutate(t, cur, int(i), rng)
            batches[run][t] = take(np.concatenate([ins, upd, rep]))
            counts[run][t] = (len(ins), len(upd), len(rep))
            known = np.sort(np.concatenate([known, ins]))
    return Inputs(batches, counts, columns)


def _fmt(v) -> str:
    return v.strftime("%Y-%m-%d %H:%M:%S") if isinstance(v, dt.datetime) else str(v)


def land(inputs: Inputs, root: Path) -> list[Path]:
    """One landing root per run, ``<root>/b<run>/<table>.csv``; returns
    the roots in run order."""
    roots = []
    for run, batch in enumerate(inputs.batches):
        d = root / f"b{run}"
        d.mkdir(parents=True, exist_ok=True)
        for t, cols in batch.items():
            names = inputs.columns[t]
            with open(d / f"{t}.csv", "w", newline="") as f:
                w = csv.writer(f)
                w.writerow(names)
                w.writerows(zip(*[[_fmt(v) for v in cols[c]] for c in names]))
        roots.append(d)
    return roots


# -- gold marts (3_Silver_to_Gold shape) ----------------------------------


def _current(spark, catalog, table):
    from azure_sales_etl_pipeline_spark.operators.scd2 import SCD2Table

    return SCD2Table(spark, catalog.path("silver", table), KEYS[table]).current()


def seller_revenue(spark, catalog):
    from pyspark.sql import functions as F

    li = _current(spark, catalog, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    o = _current(spark, catalog, "orders").select("o_orderkey", "o_orderstatus")
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    pct = 100 - F.round(F.col("l_discount") * 100).cast("bigint")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_suppkey", "o_orderstatus")
        .agg(
            F.sum(cents * pct).alias("net_revenue_e4"),
            F.countDistinct("o_orderkey").alias("n_orders"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def customer_orders(spark, catalog):
    from pyspark.sql import functions as F

    o = _current(spark, catalog, "orders").select("o_custkey", "o_totalprice")
    c = _current(spark, catalog, "customer").select("c_custkey", "c_mktsegment")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("total_cents"),
        )
    )


GOLD_MARTS = {"seller_revenue": seller_revenue, "customer_orders": customer_orders}

MART_SQL = {
    "seller_revenue": """
        SELECT l.l_suppkey, o.o_orderstatus,
               sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                   * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS net_revenue_e4,
               count(DISTINCT o.o_orderkey) AS n_orders, count(*) AS n_lines
        FROM cur_lineitem({k}) l
        JOIN cur_orders({k}) o ON l.l_orderkey = o.o_orderkey
        GROUP BY ALL""",
    "customer_orders": """
        SELECT c.c_custkey, c.c_mktsegment, count(*) AS n_orders,
               sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS total_cents
        FROM cur_orders({k}) o JOIN cur_customer({k}) c ON o.o_custkey = c.c_custkey
        GROUP BY ALL""",
}


# -- expected state (DuckDB over the generated batches) -----------------


def expected_db(inputs: Inputs):
    """DuckDB with, per table, ``versions_<t>`` (the expected SCD2
    history) and a ``cur_<t>(k)`` macro (current rows after run k)."""
    import duckdb

    con = duckdb.connect()
    for t, key in KEYS.items():
        cols = inputs.columns[t]
        parts = []
        for run, batch in enumerate(inputs.batches):
            n = len(batch[t][key])
            parts.append(
                pa.table(
                    {
                        **{c: batch[t][c] for c in cols},
                        "__run": [run] * n,
                        "__ts": [clock_of(run)] * n,
                    }
                )
            )
        arr = pa.concat_tables(parts)
        con.register(f"arr_{t}", arr)
        tracked = ", ".join(c for c in cols if c != key)
        con.execute(
            f"""CREATE TABLE changed_{t} AS
            SELECT * EXCLUDE (prev, cur) FROM (
              SELECT *, struct_pack({tracked}) AS cur,
                     lag(struct_pack({tracked})) OVER (PARTITION BY {key} ORDER BY __run) AS prev
              FROM arr_{t})
            WHERE prev IS NULL OR prev <> cur"""
        )
        con.execute(
            f"""CREATE VIEW versions_{t} AS
            SELECT {', '.join(cols)},
                   lead(__run) OVER w IS NULL AS is_current,
                   __ts AS effective_date,
                   lead(__ts) OVER w AS end_date
            FROM changed_{t} WINDOW w AS (PARTITION BY {key} ORDER BY __run)"""
        )
        con.execute(
            f"""CREATE MACRO cur_{t}(k) AS TABLE
            SELECT * EXCLUDE (__run, __ts) FROM changed_{t} WHERE __run <= k
            QUALIFY row_number() OVER (PARTITION BY {key} ORDER BY __run DESC) = 1"""
        )
    return con


# -- the workload ----------------------------------------------------------

#: landing_replay's batches (fixed, independent of the seed): key 1
#: changes A -> B in batch 2, batch 3 only inserts key 3.
REPLAY_BATCHES = ([(1, "A"), (2, "X")], [(1, "B")], [(3, "Z")])


class Medallion:
    def __init__(self, sess, work: Path, seed: int, sf: float, k: int):
        self.sess = sess
        self.work = work
        self.seed = seed
        self.sf = sf
        self.k = k
        self.inputs: Inputs | None = None
        self.roots: list[Path] = []
        self.rounds = 0

    def setup(self) -> None:
        """Generate the batches and land each under its own root."""
        self.inputs = make_inputs(self.seed, self.sf, self.k)
        landing = self.work / "landing"
        rmtree(landing)
        self.roots = land(self.inputs, landing)

    def pipeline(self, lake: Path, tables: dict[str, str], box: list, marts=None):
        from azure_sales_etl_pipeline_spark.pipeline import MedallionPipeline, TableConfig

        return MedallionPipeline(
            self.sess.spark,
            str(lake),
            [TableConfig(t, key) for t, key in tables.items()],
            clock=lambda: box[0],
            gold_marts=marts or {},
        )

    def landing_replay(self) -> bool:
        """Land three batches with the program's ``land_batch`` into one
        landing root, run the pipeline after each; True when silver then
        holds one current row per key."""
        from azure_sales_etl_pipeline_spark.sources.ingest import land_batch

        spark = self.sess.spark
        root = self.work / f"replay{self.rounds}"
        box = [clock_of(0)]
        pipe = self.pipeline(root / "lake", {"dim": "id"}, box)
        for run, rows in enumerate(REPLAY_BATCHES, start=1):
            box[0] = clock_of(run)
            df = spark.createDataFrame(list(rows), "id int, attr string")
            land_batch(df, str(root / "landing"), "dim", clock=lambda: box[0])
            pipe.run(str(root / "landing"))
        silver = pipe.catalog.path("silver", "dim")
        dup = read_current(spark, silver).groupBy("id").count().where("count > 1")
        return dup.isEmpty()

    def one_round(self, tracer: Tracer) -> dict:
        """The initial load and K incremental runs on a fresh lake."""
        self.rounds += 1
        lake = self.work / f"lake{self.rounds}"
        box = [clock_of(0)]
        pipe = self.pipeline(lake, KEYS, box, GOLD_MARTS)
        out = {"lake": lake, "pipe": pipe, "times": [], "written": [], "cost": [], "results": []}
        for run, root in enumerate(self.roots):
            box[0] = clock_of(run)
            before = _snapshot(lake)
            cost0 = tracer.cost
            tracer.enabled = tracer.installed
            t0 = time.perf_counter()
            results = pipe.run(str(root))
            t1 = time.perf_counter()
            tracer.enabled = False
            out["times"].append(t1 - t0)
            out["cost"].append(tracer.cost - cost0)
            out["written"].append(_written_bytes(before, _snapshot(lake)))
            out["results"].append(results)
        return out

    # -- checks --------------------------------------------------------------

    def check(self, out: dict, checker: Checker, con) -> None:
        from azure_sales_etl_pipeline_spark.operators.writer import read_table

        spark = self.sess.spark
        pipe = out["pipe"]
        k = self.k
        for run, results in enumerate(out["results"]):
            for r in results:
                if not r.ok:
                    checker.fail(f"run {run} stage {r.table}: {r.error}")
        for t, key in KEYS.items():
            cols = self.inputs.columns[t] + ["is_current", "effective_date", "end_date"]
            rows = read_table(spark, pipe.catalog.path("silver", t)).select(*cols).collect()
            checker.compare_duck(f"silver:{t}", rows, cols, con, f"SELECT * FROM versions_{t}")
            check_intervals(t, key, rows, cols, checker)
            wm = pipe.watermarks.get(t)
            if wm != clock_of(k):
                checker.fail(f"watermark {t}: {wm} != last run clock {clock_of(k)}")
        for name in GOLD_MARTS:
            df = read_table(spark, pipe.catalog.path("gold", name))
            checker.compare_duck(f"gold:{name}", df.collect(), df.columns, con, MART_SQL[name].format(k=k))
        log_cols = ["run_id", "stage", "ok", "n_insert", "n_update", "n_no_change"]
        log = pipe.run_log().select(*log_cols).collect()
        checker.compare("run_log", log, log_cols, self.expected_log(con), log_cols)

    def expected_log(self, con) -> list[tuple]:
        rows = []
        for run in range(self.k + 1):
            rid = run + 1
            rows.append((rid, "__ingest__", True, self.inputs.rows(run), None, None))
            for t in KEYS:
                rows.append((rid, t, True, *self.inputs.counts[run][t]))
            for name in GOLD_MARTS:
                n = con.execute(f"SELECT count(*) FROM ({MART_SQL[name].format(k=run)})").fetchone()[0]
                rows.append((rid, f"gold:{name}", True, n, None, None))
        return rows


def read_current(spark, path: str):
    from azure_sales_etl_pipeline_spark.operators.writer import read_table
    from pyspark.sql import functions as F

    return read_table(spark, path).where(F.col("is_current"))


def check_intervals(table: str, key: str, rows, cols, checker: Checker) -> None:
    """One current version per key, the last one; every closed version
    ends where the next begins."""
    ik, ic, ie, iend = (cols.index(c) for c in (key, "is_current", "effective_date", "end_date"))
    by_key: dict = {}
    for r in rows:
        by_key.setdefault(r[ik], []).append(r)
    for kv, versions in by_key.items():
        versions.sort(key=lambda r: r[ie])
        if sum(1 for r in versions if r[ic]) != 1 or not versions[-1][ic] or versions[-1][iend] is not None:
            checker.fail(f"{table} key {kv}: not exactly one open current version")
            return
        for a, b in zip(versions, versions[1:]):
            if a[iend] != b[ie] or not a[ie] < a[iend]:
                checker.fail(f"{table} key {kv}: versions overlap or leave a gap")
                return


def _snapshot(path: Path) -> dict:
    if not path.exists():
        return {}
    out = {}
    for f in path.rglob("*"):
        if f.is_file():
            st = f.stat()
            out[str(f)] = (st.st_ino, st.st_size, st.st_mtime_ns)
    return out


def _written_bytes(before: dict, after: dict) -> int:
    return sum(v[1] for p, v in after.items() if before.get(p) != v)


def install_trace(tracer: Tracer) -> None:
    """Spans around the layer entry points the pipeline calls."""
    from azure_sales_etl_pipeline_spark import pipeline
    from azure_sales_etl_pipeline_spark.operators import scd2, watermark, writer
    from azure_sales_etl_pipeline_spark.sources import ingest

    tracer.wrap(pipeline.MedallionPipeline, "run", "pipeline.run")
    tracer.wrap(pipeline.MedallionPipeline, "silver_to_gold", "pipeline.gold")
    tracer.wrap(ingest.CsvIngestor, "ingest", "sources.ingest")
    tracer.wrap(watermark.WatermarkStore, "get", "operators.watermark")
    tracer.wrap(watermark.WatermarkStore, "set", "operators.watermark")
    tracer.wrap(scd2.SCD2Table, "upsert", "operators.scd2")
    # the writer functions are also bound by name in their callers
    for mod in (writer, scd2, pipeline):
        tracer.wrap(mod, "overwrite_table", "operators.writer", written_since_start(1))
    for mod in (writer, ingest):
        tracer.wrap(mod, "append_evolve", "operators.writer", written_since_start(2))


#: layer metric -> (span name, self time?)
LAYERS = {
    "sources.ingest": ("sources.ingest", False),
    "operators.watermark": ("operators.watermark", False),
    "operators.scd2": ("operators.scd2", True),
    "operators.writer": ("operators.writer", False),
    "pipeline.gold": ("pipeline.gold", True),
}


def run_layers(tracer: Tracer, run_span: dict) -> dict[str, float]:
    """Per-layer figures of one traced ``run``."""
    out: dict[str, float] = {}
    desc = tracer.descendants(run_span)
    for metric, (span, self_only) in LAYERS.items():
        spans = [s for s in desc if s["name"] == span]
        t = tracer.self_time if self_only else tracer.dur
        j = tracer.self_jobs if self_only else tracer.jobs
        out[f"{metric}.s"] = sum(t(s) for s in spans)
        out[f"{metric}.jobs"] = sum(j(s) for s in spans)
    out["operators.writer.bytes"] = sum(
        s.get("bytes", 0) for s in desc if s["name"] == "operators.writer"
    )
    out["pipeline.self_s"] = tracer.self_time(run_span)
    out["spark.stages"] = run_span["stage1"] - run_span["stage0"]
    out["spark.tasks"] = run_span["tasks"]
    return out
